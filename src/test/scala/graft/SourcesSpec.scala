package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions._

/** Source/sink round-trips and partitioned-layout pruning — the I/O
  * surface a user of the engine exercises beyond the parquet test
  * tables.
  */
class SourcesSpec extends AnyFunSuite {
  import TestSession._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$name").toString

  // one instant, three shipped encodings of events.ts: ns-int64 (legacy
  // nanosAsLong), µs TIMESTAMP_NTZ (current testdata), µs TIMESTAMP
  private val nanos = Seq(1700000000123456000L, 1700003600987654000L)
  private def tsGenerations: Seq[(DataFrame, String)] = {
    import spark.implicits._
    val asLong = nanos.toDF("ts")
    val asNtz = nanos.toDF("n")
      .select(expr("timestamp_micros(n DIV 1000)").cast("timestamp_ntz").as("ts"))
    val asLtz = nanos.toDF("n")
      .select(expr("timestamp_micros(n DIV 1000)").as("ts"))
    Seq((asLong, "long"), (asNtz, "ntz"), (asLtz, "ltz"))
  }

  test("events.ts canonicalizes to identical Long nanos from all three writer generations") {
    import spark.implicits._
    for ((df, label) <- tsGenerations) {
      val out = Tables.normalizeEventTs(df)
      assert(out.schema("ts").dataType ==
        org.apache.spark.sql.types.LongType, s"$label: dtype")
      // µs writers truncate the sub-µs tail; compare at µs resolution
      assert(out.select(expr("ts DIV 1000")).as[Long].collect().sorted
        .sameElements(nanos.map(_ / 1000).sorted), s"$label: values")
    }
    // the real loader end-to-end: current testdata reads as Long nanos
    // and epoch-second math resolves
    val real = Tables.events(spark, sf)
    assert(real.schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(real.select(expr("ts DIV 1000000000")).limit(5).count() == 5)
  }

  test("json sink/source round-trips the documents table") {
    val out = tmp("json")
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source")
    docs.write.mode("overwrite").json(out)
    val back = spark.read.json(out).select("doc_id", "text", "lang", "source")
    assert(back.count() == docs.count())
    assert(back.except(docs).isEmpty && docs.except(back).isEmpty)
  }

  test("csv sink/source round-trips a numeric projection with schema") {
    val out = tmp("csv")
    val ord = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    ord.write.mode("overwrite").option("header", "true").csv(out)
    val back = spark.read.option("header", "true")
      .schema(ord.schema).csv(out)
    assert(back.count() == ord.count())
    assert(back.except(ord).isEmpty && ord.except(back).isEmpty)
  }

  test("hive-partitioned write prunes partitions at the scan") {
    val out = tmp("part")
    Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    // one directory per event_type
    val dirs = new java.io.File(out).listFiles
      .filter(_.getName.startsWith("event_type=")).map(_.getName).sorted
    assert(dirs.length >= 3, s"expected hive layout, got ${dirs.mkString(",")}")
    val q = spark.read.parquet(out).filter(col("event_type") === "click")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"partition predicate must prune directories, not filter rows:\n$plan")
    val expected = Tables.events(spark, sf)
      .filter(col("event_type") === "click").count()
    assert(q.count() == expected)
  }

  test("orc sink/source round-trips with predicate pushdown") {
    val out = tmp("orc")
    val ord = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    ord.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    assert(back.except(ord).isEmpty && ord.except(back).isEmpty)
    // filters reach the ORC scan (search-argument pushdown)
    val q = back.filter(col("o_orderstatus") === "F").select("o_orderkey")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)"),
      s"ORC scan must carry pushed filters:\n$scan")
  }

  test("compaction rewrites a many-small-file table into the target file count, data intact") {
    import graft.operators.Maintenance
    val in = tmp("frag")
    val out = tmp("compacted")
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "value")
    ev.repartition(64).write.mode("overwrite").parquet(in)
    val smallFiles = new java.io.File(in).listFiles.count(_.getName.endsWith(".parquet"))
    assert(smallFiles >= 32, s"fragmented input expected, got $smallFiles files")
    Maintenance.compact(spark, in, out, targetBytes = 1L * 1024 * 1024)
    val outFiles = new java.io.File(out).listFiles.count(_.getName.endsWith(".parquet"))
    assert(outFiles < smallFiles / 4, s"compaction must cut file count: $smallFiles -> $outFiles")
    val back = spark.read.parquet(out)
    assert(back.count() == ev.count())
    assert(back.except(ev).isEmpty && ev.except(back).isEmpty)
  }

  test("compaction preserves hive-partition layout and its pruning") {
    import graft.operators.Maintenance
    val in = tmp("frag_part")
    val out = tmp("compacted_part")
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "value")
      // int: matches what partition-value inference yields on read-back
      .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
    ev.repartition(16).write.mode("overwrite").partitionBy("bucket").parquet(in)
    // no top-level *.parquet exists — data files sit under bucket=N/
    assert(!new java.io.File(in).listFiles.exists(_.getName.endsWith(".parquet")))
    def parquetCount(dir: java.io.File): Int = {
      val kids = Option(dir.listFiles).getOrElse(Array.empty)
      kids.count(_.getName.endsWith(".parquet")) + kids.filter(_.isDirectory).map(parquetCount).sum
    }
    val inFiles = parquetCount(new java.io.File(in))
    val nOut = Maintenance.compact(spark, in, out, targetBytes = 32L * 1024)
    assert(nOut > 1, s"recursive byte sum must yield >1 target file, got $nOut")
    // the key=value directory layout survives the rewrite...
    val outDirs = new java.io.File(out).listFiles
      .filter(_.getName.startsWith("bucket=")).map(_.getName).sorted
    assert(outDirs.length == 4, s"expected bucket=0..3 dirs, got ${outDirs.mkString(",")}")
    val outFiles = parquetCount(new java.io.File(out))
    assert(outFiles < inFiles, s"compaction must cut file count: $inFiles -> $outFiles")
    // ...and so does partition pruning at the scan
    val q = spark.read.parquet(out).filter(col("bucket") === 2)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"),
      s"compacted table must still prune on the partition key:\n$plan")
    assert(q.count() == ev.filter(col("bucket") === 2).count())
    val back = spark.read.parquet(out).select(ev.columns.map(col): _*)
    assert(back.count() == ev.count())
    assert(back.except(ev).isEmpty && ev.except(back).isEmpty)
    // an empty directory fails fast instead of silently writing one file
    val empty = tmp("empty_dir")
    new java.io.File(empty).mkdirs()
    intercept[IllegalArgumentException] {
      Maintenance.compact(spark, empty, tmp("never"), targetBytes = 1024)
    }
  }

  test("distributed listing matches the driver walk and compaction through it is unchanged") {
    import graft.operators.Maintenance
    import org.apache.hadoop.fs.Path
    val in = tmp("frag_many")
    val out = tmp("compacted_many")
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "value")
      .withColumn("bucket", pmod(col("user_id"), lit(8)).cast("int"))
    ev.repartition(4).write.mode("overwrite").partitionBy("bucket").parquet(in)
    val fs = new Path(in).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new Path(in).makeQualified(fs.getUri, fs.getWorkingDirectory)
    // white-box: the fan-out listing (threshold 2 << 8 dirs) returns the
    // exact (partition-chain, bytes) set the driver walk returns
    def canon(xs: Seq[(Seq[String], Long)]): Seq[(String, Long)] =
      xs.map { case (segs, len) => (segs.mkString("/"), len) }.sorted
    val driver = Maintenance.listDataFiles(spark, root, fs, parallelThreshold = Int.MaxValue)
    val dist = Maintenance.listDataFiles(spark, root, fs, parallelThreshold = 2)
    assert(driver.nonEmpty && canon(dist) == canon(driver),
      s"distributed listing diverged: ${dist.size} vs ${driver.size} entries")
    // and compaction driven through the distributed listing keeps the
    // partition-preserving contract
    val nOut = Maintenance.compact(spark, in, out, targetBytes = 32L * 1024,
      parallelListThreshold = 2)
    assert(nOut >= 8, "at least one planned file per partition")
    val outDirs = new java.io.File(out).listFiles
      .filter(_.getName.startsWith("bucket=")).map(_.getName).sorted
    assert(outDirs.length == 8, s"expected bucket=0..7 dirs, got ${outDirs.mkString(",")}")
    val plan = spark.read.parquet(out).filter(col("bucket") === 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"),
      s"compacted table must still prune on the partition key:\n$plan")
    val back = spark.read.parquet(out).select(ev.columns.map(col): _*)
    assert(back.count() == ev.count())
    assert(back.except(ev).isEmpty && ev.except(back).isEmpty)
  }

  test("compaction never loses rows when partition-value inference rewrites the dir value") {
    import graft.operators.Maintenance
    // string partition values like "01" scan back as integer 1 — a plan
    // joined on VALUES drops those partitions silently; the
    // file-provenance join must keep every row
    val in = tmp("frag_pad")
    val out = tmp("compacted_pad")
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "value")
      .withColumn("bucket", format_string("%02d", pmod(col("user_id"), lit(4))))
    ev.repartition(8).write.mode("overwrite").partitionBy("bucket").parquet(in)
    val dirs = new java.io.File(in).listFiles
      .filter(_.getName.startsWith("bucket=")).map(_.getName).sorted
    assert(dirs.contains("bucket=00"), s"expected zero-padded dirs, got ${dirs.mkString(",")}")
    Maintenance.compact(spark, in, out, targetBytes = 32L * 1024)
    // the raw zero-padded dir values survive the rewrite byte-for-byte
    // (inference would have normalized bucket=00 -> bucket=0)
    val outDirs = new java.io.File(out).listFiles
      .filter(_.getName.startsWith("bucket=")).map(_.getName).sorted
    assert(outDirs.toSeq == dirs.toSeq,
      s"partition dir values must be preserved: in=${dirs.mkString(",")} out=${outDirs.mkString(",")}")
    val inDf = spark.read.parquet(in)
    val outDf = spark.read.parquet(out)
    assert(outDf.count() == ev.count(),
      s"compaction lost rows: ${ev.count()} -> ${outDf.count()}")
    // content identical under the scan's own view of the partition col
    val a = inDf.select("event_id", "user_id", "value")
    val b = outDf.select("event_id", "user_id", "value")
    assert(b.except(a).isEmpty && a.except(b).isEmpty)
  }

  test("z-order write tiles BOTH dimensions (1-D clustering leaves one full-span)") {
    import graft.operators.Maintenance
    import spark.implicits._
    val out = tmp("zorder")
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "ts")
    Maintenance.zorderWrite(ev, "user_id", "ts", nFiles = 16, outPath = out)
    // per-file min/max spans on each dimension, as a fraction of the
    // global span — z-order should tile 16 files into roughly a 4x4
    // grid, so BOTH fractions sit well under 1; a 1-D layout drives
    // one to ~0 and leaves the other ~1
    def spanFrac(dim: String): Double = {
      val g = spark.read.parquet(out)
        .agg(min(col(dim)).cast("double"), max(col(dim)).cast("double"))
        .as[(Double, Double)].collect().head
      val per = spark.read.parquet(out)
        .groupBy(input_file_name())
        .agg((max(col(dim)).cast("double") - min(col(dim))).as("span"))
        .agg(avg(col("span"))).as[Double].collect().head
      per / (g._2 - g._1)
    }
    val (fu, ft) = (spanFrac("user_id"), spanFrac("ts"))
    assert(fu < 0.6 && ft < 0.6,
      f"z-order must bound per-file spans on both dims: user_id $fu%.2f ts $ft%.2f")
    // data intact
    val back = spark.read.parquet(out).select(ev.columns.map(col): _*)
    assert(back.count() == ev.count())
    assert(back.except(ev).isEmpty && ev.except(back).isEmpty)
  }

  test("clustered write yields disjoint per-file ranges on the cluster column") {
    import graft.operators.Maintenance
    import spark.implicits._
    val out = tmp("clustered")
    val ev = Tables.events(spark, sf).select("event_id", "ts")
    Maintenance.clusteredWrite(ev, "ts", nFiles = 8, outPath = out)
    val ranges = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min("ts").as("lo"), max("ts").as("hi"))
      .select("lo", "hi").as[(Long, Long)].collect().sortBy(_._1)
    assert(ranges.length >= 2, "expected multiple clustered files")
    assert(ranges.sliding(2).forall {
      case Array((_, hi1), (lo2, _)) => lo2 >= hi1
      case _ => true
    }, s"file ranges must be disjoint: ${ranges.mkString(",")}")
    assert(spark.read.parquet(out).count() == ev.count())
  }

  /** Spark job ids launched on this thread while `body` runs. */
  private def jobsDuring(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val group = "graft_jobs_" + java.util.UUID.randomUUID()
    sc.setJobGroup(group, "jobs while building DataFrames")
    try body finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).toSeq
  }

  /** The device's schema must be Spark's inferred one, read from a footer
    * (not the fallback) and with no job. */
  private def assertSparkSchema(path: String, label: String): Unit = {
    assert(GraftParquetBridge.footerSchema(spark, path).isDefined,
      s"$label: footer path not taken")
    var df: DataFrame = null
    val jobs = jobsDuring { df = Tables.parquet(spark, path) }
    assert(jobs.isEmpty, s"$label: reading ran jobs $jobs")
    assert(df.schema == spark.read.parquet(path).schema, s"$label: schema")
  }

  test("footer schemas equal Spark's inferred schemas for every corpus table") {
    val names = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    for (scale <- Seq("sf0.001", "sf0.01", "sf0.1"); n <- names)
      assertSparkSchema(s"/root/testdata/$scale/$n.parquet", s"$scale/$n")
  }

  test("events loads the same schema as Spark's inference over every ts writer generation") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val fixtures = tsGenerations.map { case (df, label) =>
      val d = tmp(s"ts_$label")
      df.write.mode("overwrite").parquet(s"$d/events.parquet")
      (d, label)
    }
    // the shipped ns generation: an INT64 TIMESTAMP(NANOS) column, which
    // only the session's nanosAsLong conf turns into a Long
    val nsDir = tmp("ts_nanos")
    val nsType = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$nsDir/events.parquet"))
      .withType(nsType).build()
    val g = new SimpleGroupFactory(nsType)
    try nanos.foreach(n => w.write(g.newGroup().append("ts", n))) finally w.close()
    for ((d, label) <- fixtures :+ ((nsDir, "ns"))) {
      assertSparkSchema(s"$d/events.parquet", label)
      val ev = Tables.events(spark, d)
      assert(ev.schema ==
        Tables.normalizeEventTs(spark.read.parquet(s"$d/events.parquet")).schema, label)
      assert(ev.schema("ts").dataType == org.apache.spark.sql.types.LongType, label)
      assert(ev.select(expr("ts DIV 1000")).collect().map(_.getLong(0)).sorted
        .sameElements(nanos.map(_ / 1000).sorted), s"$label: values")
    }
  }

  test("a Spark-written multi-file directory reads with Spark's schema, skipping hidden files") {
    val d = tmp("multi") + "/t"
    Tables.orders(spark, sf).select("o_orderkey", "o_orderdate", "o_totalprice")
      .repartition(3).write.parquet(d)
    val names = new java.io.File(d).listFiles.map(_.getName)
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")) &&
      names.count(_.endsWith(".parquet")) == 3, names.mkString(","))
    assertSparkSchema(d, "multi-file")
    assert(Tables.parquet(spark, d).count() == Tables.orders(spark, sf).count())
  }

  test("a table rewritten with an added column is seen by the next load (no memo)") {
    val d = tmp("rewrite")
    val base = Tables.region(spark, sf)
    base.write.parquet(s"$d/region.parquet")
    assert(Tables.t(spark, d, "region").columns.sameElements(base.columns))
    base.withColumn("r_extra", lit(1L))
      .write.mode("overwrite").parquet(s"$d/region.parquet")
    val again = Tables.t(spark, d, "region")
    assert(again.columns.sameElements(base.columns :+ "r_extra"))
    assert(again.schema == spark.read.parquet(s"$d/region.parquet").schema)
  }

  test("an empty directory fails with Spark's UNABLE_TO_INFER_SCHEMA") {
    val e = intercept[AnalysisException](Tables.parquet(spark, tmp("no_files")))
    assert(e.getCondition == "UNABLE_TO_INFER_SCHEMA", e.getMessage)
  }

  test("building the scan queries' DataFrames runs no Spark job") {
    val dir = "/root/testdata/sf0.01"
    val built = jobsDuring {
      Seq("q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
        "q_rollup", "q_session_stats").foreach(q => SparkEntry.queries(q)(spark, dir))
    }
    assert(built.isEmpty, s"jobs ran while the DataFrames were built: $built")
  }
}
