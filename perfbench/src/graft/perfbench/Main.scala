package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import graft.{GraftSession, Tables}
import graft.operators.Dedup
import Workloads._

/** JVM side of the benchmark: generate the seeded corpus, set up from an
  * empty warehouse (several times), run the workload, and write one
  * result file for `perfbench/run.py`.
  *
  * On a 4-core host shared with other machines' work, speed drops in
  * bursts (a fixed 4-thread integer loop measured 0.2 s normally and
  * 0.8 s inside a burst), and a fresh JVM runs a query about 1.8x slower
  * on its first pass than after three. So every run warms up first,
  * untimed, then repeats its operations as often as fits in `seconds`
  * and times each as the minimum of its repetitions, the graft.Bench
  * discipline: analytics re-runs each query once per cycle, ingest
  * replays the same stream from the same stored state.
  *
  * args: <workload> <seed> <seconds> <trace 0|1> <workDir> <cores>
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, cores: Int)

  /** Set-ups per run for a workload without stores. */
  val SetupRepsNoStores = 9
  /** Untimed analytics cycles after the output pass: query times fall
    * steeply over the first three passes of a fresh JVM, then by a few %
    * per pass for several more. */
  val WarmupCycles = 4
  /** Untimed ingest replays after the set-ups: replay times fell by
    * about 45% over the first three replays, and a few % more later. */
  val WarmupReplays = 2
  /** Timed cycles (analytics) or replays (ingest): as many as fit in
    * `seconds` on a 4-core host after warm-up, and at least
    * two. A fixed count keeps the minimum over them comparable between
    * runs whatever the host's speed; a traced run alternates untraced
    * and traced rounds. */
  def timedRounds(seconds: Double, nominalRoundSeconds: Double): Int =
    math.max(2, math.round(seconds / nominalRoundSeconds).toInt)
  val CycleSeconds = 3.2
  val ReplaySeconds = 5.5

  private def now: Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, never
    * below the median: (value, percentile, samples). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.size < 20) (median(s), 50.0, s.size)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size, s.size)
  }

  /** Highest heap occupancy right after a GC, from GC notifications. */
  object HeapPeak {
    import scala.jdk.CollectionConverters._
    @volatile var peak = 0L
    def install(): Unit = {
      val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
            if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
                .GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
              if (used > peak) peak = used
            }, null, null)
        case _ =>
      }
    }
  }

  final class Result {
    val metrics = mutable.LinkedHashMap[String, Double]()
    val layers = mutable.LinkedHashMap[String, Double]()
    val notes = mutable.LinkedHashMap[String, String]()
    val failedNames = mutable.ArrayBuffer[String]()
    val checks = mutable.ArrayBuffer[(String, String)]()
    /** Batch workloads: each query's best untraced time. */
    val best = mutable.LinkedHashMap[String, Double]()
    var attempted = 0L
    def fail(name: String, why: String): Unit = {
      System.err.println(s"[perfbench] $name FAILED: $why")
      failedNames += name
    }
  }

  private def why(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  def main(args: Array[String]): Unit = {
    val o = Opts(args(0), args(1).toLong, args(2).toDouble, args(3) == "1", args(4), args(5).toInt)
    val w = byName(o.workload)
    val corpus = new java.io.File(s"${o.work}/corpus").getAbsolutePath
    val res = new Result
    val jvmStart = now
    def mark(phase: String): Unit =
      System.err.println(f"[perfbench] phase $phase at ${secs(jvmStart)}%.1f s")
    HeapPeak.install()
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)

    // corpus: once per run, outside every timed region
    val gen = session(o, "gen", GraftSession.create(o.cores))
    val tg = now
    val genTimes = Corpus.generate(gen, w.sf, o.seed, corpus, o.cores, w.tables)
    res.notes("corpus_gen_s") = f"${secs(tg)}%.3f"
    res.notes("corpus_gen_tables_s") = Json.obj(genTimes.map { case (t, s) => t -> f"$s%.3f" })
    res.notes("layout") = Json.obj(Corpus.layout(gen, corpus, w.tables).map { case (t, f, g, b) =>
      t -> f"""{"files":$f,"row_groups":$g,"bytes":$b}""" })
    val stream = w match {
      case i: Ingest => Corpus.arrivingDocs(gen, i.sf, o.seed, 0, i.batchDocs * i.batches).collect()
      case _ => Array.empty[Row]
    }
    gen.stop()
    mark("generated")

    val setups = new SetupLog
    val (spark, tracer) = w match {
      case b: Batch => runBatch(o, b, corpus, res, setups)
      case i: Ingest => runIngest(o, i, corpus, res, setups, stream)
    }
    mark("timed pass done")

    res.metrics("setup_s") = median(setups.total.toSeq)
    if (o.trace) res.layers("share.setup") = res.metrics("setup_s") /
      (res.metrics("setup_s") + res.metrics("total_s"))
    res.layers("GraftSession.create_s") = median(setups.create.toSeq)
    Stores.map(_._1).foreach { st =>
      res.layers(s"store.$st.build_s") = setups.builds.get(st).map(b => median(b.toSeq)).getOrElse(0.0)
    }
    w.stores.foreach { st =>
      val h = now
      Stores.find(_._1 == st).get._2(spark, corpus)
      res.layers(s"store.$st.hit_s") = secs(h)
    }
    res.layers("store.build_count") = setups.engineBuilds.toDouble
    res.layers("store.bytes") = setups.storeBytes.toDouble
    res.layers("store.bytes_per_doc") =
      setups.storeBytes.toDouble / graft.DataGen.rowsFor("documents", w.sf)
    res.layers("store.files") = setups.storeFiles.toDouble
    res.layers("exec.peak_heap_mb") = HeapPeak.peak / 1048576.0

    var last = spark
    if (o.trace) {
      Kernels.run(spark, res)
      val tf = new java.io.File(s"${o.work}/spans.json")
      java.nio.file.Files.writeString(tf.toPath, tracer.toJson)
      w match {
        case b: Batch => last = coreScaling(spark, o, b, corpus, res)
        case _ =>
      }
    }
    mark("traced extras done")
    last.stop()
    writeResult(o, res)
  }

  // ------------------------------------------------------------ set-up
  final class SetupLog {
    val total, create = mutable.ArrayBuffer[Double]()
    val builds = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    /** Of the last set-up: store builds, and the files and bytes it wrote. */
    var engineBuilds, storeFiles, storeBytes = 0L
  }

  /** Point the next session at its own warehouse and local dir. */
  private def session(o: Opts, tag: String, create: => SparkSession): SparkSession = {
    val wh = new java.io.File(s"${o.work}/warehouse-$tag")
    System.setProperty("spark.sql.warehouse.dir", wh.toURI.toString)
    System.setProperty("spark.local.dir", new java.io.File(s"${o.work}/local-$tag").getAbsolutePath)
    create
  }

  /** One set-up from an empty warehouse: session plus store builds. */
  private def setUp(o: Opts, w: Workload, corpus: String, rep: Int, log: SetupLog): SparkSession = {
    val before = engineBuilds
    val t0 = now
    val spark = session(o, s"s$rep", GraftSession.create(o.cores, corpus))
    log.create += secs(t0)
    w.stores.foreach { st =>
      val b = now
      Stores.find(_._1 == st).get._2(spark, corpus)
      log.builds.getOrElseUpdate(st, mutable.ArrayBuffer()) += secs(b)
    }
    log.total += secs(t0)
    log.engineBuilds = engineBuilds - before
    val (files, bytes) = dirStats(new java.io.File(s"${o.work}/warehouse-s$rep"))
    log.storeFiles = files
    log.storeBytes = bytes
    spark.catalog.clearCache()
    spark
  }

  private def dirStats(dir: java.io.File): (Long, Long) =
    if (!dir.exists) (0L, 0L)
    else {
      val fs = java.nio.file.Files.walk(dir.toPath)
      try {
        val files = fs.filter(java.nio.file.Files.isRegularFile(_)).toArray
          .map(_.asInstanceOf[java.nio.file.Path])
          .filter { p => val n = p.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }
        (files.length.toLong, files.map(p => java.nio.file.Files.size(p)).sum)
      } finally fs.close()
    }

  // ------------------------------------------------------------ batch
  final case class OpTimes(wall: Double, construct: Double, plan: Double, exec: Double)

  /** Set-up (repeated), a warm-up pass that writes each output for the
    * oracle check and [[WarmupCycles]] more untimed cycles, then cycles
    * over the queries ([[timedRounds]]), each query cold (construct, plan,
    * QueryExecution.toRdd.count, clearCache, as graft.Bench). A traced
    * run alternates untraced and traced cycles.
    */
  private def runBatch(o: Opts, w: Batch, corpus: String, res: Result,
      setups: SetupLog): (SparkSession, Tracer) = {
    var spark: SparkSession = null
    for (rep <- 0 until SetupRepsNoStores) {
      if (spark != null) spark.stop()
      spark = setUp(o, w, corpus, rep, setups)
    }
    val tr = new Tracer
    tr.attach(spark.sparkContext)
    val outDir = new java.io.File(s"${o.work}/out").getAbsolutePath
    val oracle = graft.SparkEntry.oracleSql
    res.notes("oracle_sql") = Json.obj(w.queries.flatMap(q => oracle.get(q).map(q -> Json.str(_))))

    spark.range(1 << 20).selectExpr("sum(id)").collect()
    val live = w.queries.filter { name =>
      res.attempted += 1
      val t0 = now
      try {
        allQueries(name)(spark, corpus).write.mode("overwrite").parquet(s"$outDir/$name")
        res.checks += name -> s"$outDir/$name"
        System.err.println(f"[perfbench] warm-up $name ${secs(t0)}%.2f s")
        true
      } catch { case e: Throwable => res.fail(name, why(e)); false }
      finally spark.catalog.clearCache()
    }

    val planPhases = mutable.Map[String, (Double, Double, Double)]()
    val exchanges = mutable.Map[String, Int]()
    def runOp(name: String, traced: Boolean): Option[OpTimes] = {
      res.attempted += 1
      val t0 = now
      var c, p, x = 0.0
      def body(): Unit = {
        val a = now
        val df = tr.span(s"construct:$name", "construction")(allQueries(name)(spark, corpus))
        c = secs(a)
        val qe = df.queryExecution
        val b = now
        tr.span(s"plan:$name", "Catalyst")(qe.executedPlan)
        p = secs(b)
        val d = now
        tr.span(s"exec:$name", "execution")(qe.toRdd.count())
        x = secs(d)
        if (traced) {
          val ph = qe.tracker.phases
          def ms(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
          planPhases(name) = (ms("analysis"), ms("optimization"), ms("planning"))
          exchanges(name) = graft.Bench.exchangeCount(qe.executedPlan.toString)
        }
      }
      try {
        if (traced) tr.span(s"op:$name", "op")(body()) else body()
        Some(OpTimes(secs(t0), c, p, x))
      } catch { case e: Throwable => res.fail(name, why(e)); None }
      finally spark.catalog.clearCache()
    }

    for (_ <- 0 until WarmupCycles) live.foreach(runOp(_, traced = false))
    val plain = mutable.LinkedHashMap[String, mutable.ArrayBuffer[OpTimes]]()
    val traced = mutable.LinkedHashMap[String, mutable.ArrayBuffer[OpTimes]]()
    val listingsBefore = Tables.Probe.listCount.get
    val cycles = timedRounds(o.seconds, CycleSeconds)
    for (cycle <- 0 until cycles) {
      val on = o.trace && cycle % 2 == 1
      live.foreach { name =>
        tr.traced(on)(runOp(name, on)).foreach { t =>
          (if (on) traced else plain).getOrElseUpdate(name, mutable.ArrayBuffer()) += t
        }
      }
    }
    plain.foreach { case (q, v) => res.best(q) = v.map(_.wall).min }
    val best = res.best.values.toSeq
    res.metrics("total_s") = best.sum
    res.metrics("op_p50_s") = median(best)
    val (tv, tp, tn) = tail(best)
    res.metrics("op_tail_s") = tv
    res.notes("op_tail") = f"""{"percentile":$tp%.1f,"samples":$tn}"""
    res.metrics("items_per_s") = best.size / best.sum
    res.notes("query_s") = Json.obj(plain.map { case (q, v) =>
      q -> v.map(t => f"${t.wall}%.4f").mkString("[", ",", "]") })
    res.layers("exec.t1_over_tn") = 0.0
    if (o.trace) tr.traced(true) {
      layerMetrics(spark, tr, o, w, corpus, res, traced,
        (Tables.Probe.listCount.get - listingsBefore).toDouble / cycles, planPhases, exchanges)
    }
    (spark, tr)
  }

  private def layerMetrics(spark: SparkSession, tr: Tracer, o: Opts, w: Batch, corpus: String,
      res: Result, traced: mutable.LinkedHashMap[String, mutable.ArrayBuffer[OpTimes]],
      listingsPerCycle: Double, planPhases: mutable.Map[String, (Double, Double, Double)],
      exchanges: mutable.Map[String, Int]): Unit = {
    val L = res.layers
    val n = traced.values.map(_.size).maxOption.getOrElse(1).toDouble
    def spansOf(layer: String) = tr.spans.filter(_.layer == layer).toSeq
    val cons = spansOf("construction")
    val execs = spansOf("execution")
    val opS = spansOf("op").map(_.seconds).sum / n
    val tablesJobS = cons.map(_.tablesJobNs).sum / 1e9 / n
    L("construct_s") = cons.map(_.seconds).sum / n - tablesJobS
    L("construct_jobs") = (cons.map(_.jobs).sum - cons.map(_.tablesJobs).sum) / n
    L("construct_share") = if (opS > 0) cons.map(_.seconds).sum / n / opS else 0.0
    L("plan_s") = spansOf("Catalyst").map(_.seconds).sum / n
    L("plan.analysis_s") = planPhases.values.map(_._1).sum
    L("plan.optimization_s") = planPhases.values.map(_._2).sum
    L("plan.physical_s") = planPhases.values.map(_._3).sum
    val execS = execs.map(_.seconds).sum / n
    L("exec_s") = execS
    L("exec.jobs") = execs.map(_.jobs).sum / n
    L("exec.stages") = execs.map(_.stages).sum / n
    L("exec.tasks") = execs.map(_.tasks).sum / n
    val stages = execs.map(_.stages).sum
    L("exec.single_task_stage_ratio") =
      if (stages > 0) execs.map(_.singleTaskStages).sum.toDouble / stages else 0.0
    L("exec.cpu_s") = execs.map(_.cpuNs).sum / 1e9 / n
    L("exec.cpu_util") = if (execS > 0) L("exec.cpu_s") / (o.cores * execS) else 0.0
    L("exec.gc_s") = execs.map(_.gcMs).sum / 1e3 / n
    L("exec.scan_bytes") = execs.map(_.scanBytes).sum / n
    L("exec.scan_rows") = execs.map(_.scanRows).sum / n
    L("exec.shuffle_write_bytes") = execs.map(_.shuffleWriteBytes).sum / n
    L("exec.shuffle_read_records") = execs.map(_.shuffleReadRecords).sum / n
    L("exec.spill_bytes") = execs.map(_.spillBytes).sum / n
    L("exec.peak_exec_mem_mb") = (execs.map(_.peakExecMem) :+ 0L).max / 1048576.0
    L("exec.exchanges") = exchanges.values.sum.toDouble

    // Tables layer: every table of the workload loaded cold outside the
    // timed pass, and its corpus-tag listing with a fresh walk
    w.tables.foreach(t => tr.span(s"Tables.load:$t", "Tables")(Tables.t(spark, corpus, t)))
    Tracer.drain(spark.sparkContext)
    val loads = spansOf("Tables")
    L("Tables.load_s") = median(loads.map(_.seconds))
    L("Tables.load_jobs") = loads.map(_.jobs).sum.toDouble / loads.size
    L("Tables.load_in_construct_s") = tablesJobS
    L("Tables.corpusTag_s") = median(w.tables.map { t =>
      val t0 = now
      Tables.Probe.corpusTag(spark, s"$corpus/$t.parquet", fresh = true)
      secs(t0)
    })
    L("Tables.listings") = listingsPerCycle

    val shares = mutable.LinkedHashMap("Tables" -> tablesJobS,
      "construction" -> L("construct_s"), "Catalyst" -> L("plan_s"), "execution" -> execS)
    shares("unattributed") = math.max(0.0, opS - shares.values.sum)
    val tot = shares.values.sum
    shares.foreach { case (k, v) => L(s"share.$k") = if (tot > 0) v / tot else 0.0 }
    res.notes("dominant_layer") = Json.str(shares.maxBy(_._2)._1)
    L("trace.total_s") = traced.values.map(v => v.map(_.wall).min).sum
    L("trace.overhead_s") = L("trace.total_s") - res.metrics("total_s")
    res.notes("per_query") = Json.obj(traced.map { case (q, v) =>
      q -> f"""{"construct_s":${v.map(_.construct).min}%.4f,"plan_s":${v.map(_.plan).min}%.4f,"exec_s":${v.map(_.exec).min}%.4f}"""
    })
  }

  /** One cycle of the same queries at local[1]: t1/tN per query. */
  private def coreScaling(spark: SparkSession, o: Opts, w: Batch, corpus: String,
      res: Result): SparkSession = {
    spark.stop()
    val one = session(o, "c1", GraftSession.create(1, corpus))
    val ratios = w.queries.filter(res.best.contains).flatMap { q =>
      val t0 = now
      try {
        allQueries(q)(one, corpus).queryExecution.toRdd.count()
        Some(q -> (secs(t0), res.best(q)))
      } catch { case e: Throwable => res.fail(s"local1:$q", why(e)); None }
      finally one.catalog.clearCache()
    }
    res.notes("t1_over_tn") = Json.obj(ratios.map { case (q, (t1, tN)) => q -> f"${t1 / tN}%.3f" })
    res.layers("exec.t1_over_tn") = ratios.map(_._2._1).sum / ratios.map(_._2._2).sum
    one
  }

  // ----------------------------------------------------------- ingest
  /** One replay of the stream: per batch its probe and absorb seconds
    * (NaN when the batch failed) and the pairs it matched, and each
    * compaction's seconds by the batch it follows. */
  final case class Replay(probe: Array[Double], absorb: Array[Double], matches: Array[Long],
      compact: mutable.Map[Int, Double]) {
    def batch(b: Int): Double = probe(b) + absorb(b)
  }

  /** [[Ingest.setups]] set-ups from an empty warehouse, then the stream
    * replayed from a copy of the signature store as the last set-up built
    * it: [[WarmupReplays]] untimed replays, then [[timedRounds]] replays. A
    * batch's (or compaction's) time is its minimum over the timed
    * untraced replays; a traced run alternates untraced and traced ones.
    */
  private def runIngest(o: Opts, w: Ingest, corpus: String, res: Result, setups: SetupLog,
      stream: Array[Row]): (SparkSession, Tracer) = {
    import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING")
    var spark: SparkSession = null
    for (rep <- 0 until w.setups) {
      if (spark != null) spark.stop()
      spark = setUp(o, w, corpus, rep, setups)
    }
    val s = spark
    val tr = new Tracer
    tr.attach(s.sparkContext)
    val (sigT, _) = Dedup.SigStore.ensure(s, corpus)
    val store = java.nio.file.Paths.get(s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(sigT)).location)
    val snapshot = java.nio.file.Paths.get(s"${o.work}/sig-snapshot")
    copyTree(store, snapshot)
    def rowHash(): (Long, java.math.BigDecimal) = {
      val t = s.table(sigT)
      val r = t.select(count(lit(1)),
        sum(xxhash64(t.columns.map(col): _*).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    val rows0 = rowHash()._1

    def replay(on: Boolean): Replay = {
      // back to the store as built: drop its catalog entries, put the
      // built files back, re-register (the store's cold-session path)
      Dedup.SigStore.deregister(s, corpus)
      deleteTree(store)
      copyTree(snapshot, store)
      s.catalog.clearCache()
      Dedup.SigStore.ensure(s, corpus)
      s.catalog.refreshTable(sigT)
      val r = Replay(Array.fill(w.batches)(Double.NaN), Array.fill(w.batches)(Double.NaN),
        Array.fill(w.batches)(-1L), mutable.Map())
      var absorbed = 0L
      tr.traced(on) {
        for (b <- 0 until w.batches) {
          res.attempted += 1
          val batch = s.createDataFrame(java.util.Arrays.asList(
            stream.slice(b * w.batchDocs, (b + 1) * w.batchDocs): _*), schema)
          try {
            tr.span("ingest.batch", "op") {
              val t0 = now
              val m = tr.span("ingest.probe", "ingest.probe")(
                Dedup.neardupMatches(s, corpus, batch).count())
              val t1 = now
              absorbed += tr.span("store.absorb", "stores")(Dedup.SigStore.absorb(s, corpus, batch))
              r.probe(b) = (t1 - t0) / 1e9
              r.absorb(b) = secs(t1)
              r.matches(b) = m
            }
            s.catalog.clearCache()
            if ((b + 1) % w.compactEvery == 0) {
              val before = rowHash()
              val t0 = now
              tr.span("store.compact", "stores")(Dedup.SigStore.compactStore(s, corpus))
              r.compact(b) = secs(t0)
              val after = rowHash()
              if (after != before) res.fail(s"compact@$b", s"row hash $before -> $after")
            }
          } catch { case e: Throwable => res.fail(s"batch@$b", why(e)) }
        }
      }
      res.attempted += 1
      val appended = rowHash()._1 - rows0
      if (appended != absorbed) res.fail("absorb_rows", s"appended $appended != absorbed $absorbed")
      r
    }

    val warm = (0 until WarmupReplays).map(_ => replay(on = false))
    val plain, traced = mutable.ArrayBuffer[Replay]()
    for (round <- 0 until timedRounds(o.seconds, ReplaySeconds)) {
      val on = o.trace && round % 2 == 1
      (if (on) traced else plain) += replay(on)
    }
    res.notes("replays") =
      s"""{"warm_up":${warm.size},"timed":${plain.size},"traced":${traced.size}}"""
    // the same batch against the same store state must match the same pairs
    val all = warm ++ plain ++ traced
    for (b <- 0 until w.batches) {
      val m = all.map(_.matches(b)).filter(_ >= 0).distinct
      if (m.size > 1) res.fail(s"replay@$b", s"match counts differ across replays: $m")
    }
    def best(rs: Iterable[Replay])(f: Replay => Double): Double =
      rs.map(f).filterNot(_.isNaN).minOption.getOrElse(0.0)
    val compactAt = (0 until w.batches).filter(b => (b + 1) % w.compactEvery == 0)
    def batchTimes(rs: Iterable[Replay]) = (0 until w.batches).map(b => best(rs)(_.batch(b)))
    def compactTimes(rs: Iterable[Replay]) =
      compactAt.map(b => best(rs)(_.compact.getOrElse(b, Double.NaN)))
    val batchS = batchTimes(plain)
    val compact = compactTimes(plain)
    val pass = batchS.sum + compact.sum
    res.metrics("total_s") = pass
    res.metrics("op_p50_s") = median(batchS)
    val (tv, tp, tn) = tail(batchS)
    res.metrics("op_tail_s") = tv
    res.notes("op_tail") = f"""{"percentile":$tp%.1f,"samples":$tn}"""
    res.metrics("items_per_s") = w.batches * w.batchDocs / pass
    res.notes("batch_s") = batchS.map(t => f"$t%.4f").mkString("[", ",", "]")
    res.notes("replay_s") = (warm ++ plain).map { r =>
      f"[${r.probe.sum}%.3f,${r.absorb.sum}%.3f,${r.compact.values.sum}%.3f]" }.mkString("[", ",", "]")
    res.layers("ingest.probe_s") = median((0 until w.batches).map(b => best(plain)(_.probe(b))))
    res.layers("ingest.matches_per_doc") =
      warm.head.matches.map(math.max(0L, _)).sum.toDouble / (w.batches * w.batchDocs)
    res.layers("store.absorb_s") = median((0 until w.batches).map(b => best(plain)(_.absorb(b))))
    res.layers("store.compact_s") = median(compact)

    if (o.trace) tr.traced(true) {
      res.layers("trace.total_s") = batchTimes(traced).sum + compactTimes(traced).sum
      res.layers("trace.overhead_s") = res.layers("trace.total_s") - pass
      val probe = tr.spans.filter(_.layer == "ingest.probe").map(_.seconds).sum
      val stores = tr.spans.filter(_.layer == "stores").map(_.seconds).sum
      res.layers("share.ingest.probe") = probe / (probe + stores)
      res.layers("share.stores") = stores / (probe + stores)
      res.notes("dominant_layer") = Json.str(if (probe >= stores) "ingest.probe" else "stores")
      // the fixpoint layer: one clusterPairs loop query over this corpus
      val df = tr.span(s"construct:$LoopQuery", "construction")(allQueries(LoopQuery)(s, corpus))
      tr.span(s"exec:$LoopQuery", "execution")(df.queryExecution.toRdd.count())
      s.catalog.clearCache()
    }
    if (o.trace) {
      val loop = tr.spans.filter(_.name == s"construct:$LoopQuery")
      res.layers(s"fixpoint.jobs.$LoopQuery") = loop.map(_.jobs).sum.toDouble
      res.layers("fixpoint.construct_s") = loop.map(_.seconds).sum
    }
    (s, tr)
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val fs = java.nio.file.Files.walk(from) // parents before children
    try fs.forEach(p => java.nio.file.Files.copy(p, to.resolve(from.relativize(p))))
    finally fs.close()
  }

  private def deleteTree(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      val fs = java.nio.file.Files.walk(dir)
      try fs.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally fs.close()
    }

  // ----------------------------------------------------------- output
  private def writeResult(o: Opts, res: Result): Unit = {
    def m(kv: Iterable[(String, Double)]) = Json.obj(kv.map { case (k, v) => k -> Json.num(v) })
    val json = Json.obj(Seq(
      "workload" -> Json.str(o.workload),
      "attempted" -> res.attempted.toString,
      "failed_names" -> res.failedNames.map(Json.str).mkString("[", ",", "]"),
      "checks" -> Json.obj(res.checks.map { case (k, v) => k -> Json.str(v) }),
      "metrics" -> m(res.metrics),
      "layers" -> m(res.layers),
      "notes" -> Json.obj(res.notes)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${o.work}/result.json"), json + "\n")
  }
}
