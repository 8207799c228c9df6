package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStream
import graft.streaming.EventStream.{Ev, SessionOut}

class StreamingSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("streaming tumbling agg equals batch tumbling agg") {
    val streamed = EventStream.qStreamTumbling(spark, sf)
      .select("bucket", "event_type", "n", "sum_value")
    val batch = graft.operators.TemporalOps.qTumblingWindow(spark, sf)
      .select("bucket", "event_type", "n", "sum_value")
    assert(streamed.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("tumbling transform accepts a rate source (Kafka-shaped: non-file, non-memory)") {
    // rate-micro-batch is a REAL streaming source with Kafka's shape
    // (unbounded, micro-batch offsets, no files, no test harness) and
    // a deterministic value sequence: batch b carries values
    // [b*rowsPerBatch, (b+1)*rowsPerBatch). Event fields derive from
    // `value` alone (never wall clock), so after K committed batches
    // the complete-mode sink must equal the batch transform over
    // range(K * rowsPerBatch) — exact equality against an unbounded
    // source, no tolerance.
    val qn = "graft_rate_tumbling"
    spark.streams.active.filter(q => Option(q.name).contains(qn)).foreach(_.stop())
    def shape(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select((col("value") * 30L * 1000000000L).as("ts"),
        concat(lit("t"), col("value") % 3).as("event_type"),
        ((col("value") % 100) / 10.0).as("value"))
    val src = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", 500).option("startTimestamp", 0).load()
      .drop("timestamp")
    val q = EventStream.tumblingTransform(shape(src))
      .writeStream.outputMode("complete").format("memory").queryName(qn).start()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (q.recentProgress.length < 3 && System.nanoTime() < deadline)
      Thread.sleep(50)
    q.stop(); q.awaitTermination()
    val got = spark.table(qn).select("bucket", "event_type", "n", "sum_value")
    val consumed = got.agg(sum("n")).head().getLong(0)
    assert(consumed >= 500, s"expected at least one committed rate batch, got $consumed rows")
    assert(consumed % 500 == 0, "complete-mode sink must reflect whole committed batches")
    val batch = EventStream.tumblingTransform(
        shape(spark.range(consumed).toDF("value")))
      .select("bucket", "event_type", "n", "sum_value")
    assert(got.except(batch).isEmpty && batch.except(got).isEmpty,
      "rate-source stream output diverged from the batch transform over the same rows")
  }

  test("tumbling transform is source-agnostic: memory-stream and batch inputs agree") {
    // The SAME tumblingTransform runs over (1) a MemoryStream — a
    // non-file source, standing in for Kafka/rate — and (2) a plain
    // batch DataFrame of identical rows; complete-mode stream output
    // must equal the batch aggregate. This pins the source-agnostic
    // transform boundary: sources are swappable, the operator is not
    // coupled to the parquet stand-in.
    implicit val sqlCtx = spark.sqlContext
    val rows = (1 to 300).map { i =>
      ((1700000000L + i * 37L) * 1000000000L, Seq("a", "b", "c")(i % 3), i / 10.0)
    }
    val input = MemoryStream[(Long, String, Double)]
    input.addData(rows: _*)
    val qn = "graft_src_agnostic"
    val q = EventStream.tumblingTransform(input.toDF().toDF("ts", "event_type", "value"))
      .writeStream.outputMode("complete").format("memory").queryName(qn).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(qn).as[(Long, String, Long, Double)].collect().toSet
    val batch = EventStream.tumblingTransform(
      rows.toDF("ts", "event_type", "value")).as[(Long, String, Long, Double)].collect().toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("stateful sessionization closes sessions on gaps and evicts idle state via event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = EventStream.sessionize(input.toDS(), gapSec = 1800)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_test").start()
    // user 1: two sessions (gap 2h, closed in-batch by the next event);
    // user 2: goes idle after t=2000 and NEVER sends again
    input.addData(Ev(1, 1000), Ev(1, 1500), Ev(2, 1000))
    query.processAllAvailable()
    input.addData(Ev(1, 10000), Ev(2, 2000))
    query.processAllAvailable()
    // watermark after batch 2 = 10000s - 10min = 9400s, past user 2's
    // timeout (2000 + 1800 = 3800): the EventTimeTimeout must close
    // user 2's session with no further input from them
    val out = spark.table("sess_test").as[SessionOut].collect().toSet
    query.stop()
    assert(out.contains(SessionOut(1, 1000, 2)), s"in-batch gap close missing: $out")
    assert(out.contains(SessionOut(2, 1000, 2)), s"timeout-driven close missing: $out")
  }

  test("stream-stream interval join matches the batch range join") {
    val streamed = EventStream.streamRangeJoin(spark, sf)
      .select("user_id", "view_id", "click_id", "gap_sec")
    val batch = graft.operators.TemporalOps.qRangeJoin(spark, sf)
      .select("user_id", "view_id", "click_id", "gap_sec")
    assert(streamed.count() > 0, "stream-stream join emitted nothing")
    // append-mode subset: no row the batch join lacks
    assert(streamed.except(batch).isEmpty,
      "stream-stream join produced rows the batch range join lacks")
  }

  test("stream-stream LEFT-OUTER interval join: matched rows subset the batch join, null rows are truly matchless") {
    val out = EventStream.streamRangeJoinOuter(spark, sf)
    val batch = graft.operators.TemporalOps.qRangeJoin(spark, sf)
      .select("user_id", "view_id", "click_id", "gap_sec")
    val matched = out.filter(col("click_id").isNotNull)
      .select("user_id", "view_id", "click_id", "gap_sec")
    assert(matched.count() > 0, "outer join emitted no matched rows")
    assert(matched.except(batch).isEmpty,
      "matched rows must subset the batch range join")
    // outer semantics: unmatched views emit exactly once with a null
    // click, and ONLY views the batch join truly has no match for —
    // a null row for a matched view would mean the join state was
    // evicted before its click arrived
    val nulls = out.filter(col("click_id").isNull).select("view_id")
    assert(nulls.count() > 0,
      "expected watermark-expired unmatched views to emit null rows")
    assert(nulls.distinct().count() == nulls.count(),
      "an unmatched view must emit exactly one null row")
    assert(nulls.join(batch.select("view_id"), Seq("view_id"), "left_semi")
      .isEmpty, "null rows must be views with NO batch match")
  }

  test("stream-stream FULL-OUTER interval join: matched rows subset the batch join, both null sides truly matchless, exactly-once emission") {
    val out = EventStream.streamRangeJoinFullOuter(spark, sf)
    val batch = graft.operators.TemporalOps.qRangeJoin(spark, sf)
      .select("user_id", "view_id", "click_id", "gap_sec")
    val matched = out.filter(col("click_id").isNotNull && col("view_id").isNotNull)
      .select("user_id", "view_id", "click_id", "gap_sec")
    assert(matched.count() > 0, "full-outer join emitted no matched rows")
    assert(matched.except(batch).isEmpty,
      "matched rows must subset the batch range join")
    // left-null side: unmatched VIEWS emit exactly once with null click
    val viewNulls = out.filter(col("click_id").isNull).select("view_id")
    assert(viewNulls.count() > 0,
      "expected watermark-expired unmatched views to emit null-click rows")
    assert(viewNulls.distinct().count() == viewNulls.count(),
      "an unmatched view must emit exactly one null row")
    assert(viewNulls.join(batch.select("view_id"), Seq("view_id"), "left_semi")
      .isEmpty, "null-click rows must be views with NO batch match")
    // right-null side: unmatched CLICKS emit exactly once with null view
    // — the corner F7b does not cover
    val clickNulls = out.filter(col("view_id").isNull).select("click_id")
    assert(clickNulls.count() > 0,
      "expected watermark-expired unmatched clicks to emit null-view rows")
    assert(clickNulls.distinct().count() == clickNulls.count(),
      "an unmatched click must emit exactly one null row")
    assert(clickNulls.join(batch.select("click_id"), Seq("click_id"), "left_semi")
      .isEmpty, "null-view rows must be clicks with NO batch match")
    // user_id is never null: coalesced from whichever side emitted
    assert(out.filter(col("user_id").isNull).isEmpty,
      "user_id must coalesce from the emitting side")
  }

  test("stateful streaming anomaly detector equals the oracle-checked batch operator") {
    import graft.streaming.EventStream.{AnomalyOut, Bucket}
    implicit val sqlCtx = spark.sqlContext
    val sf01 = "/root/testdata/sf0.01" // sf0.001 has too little variance to score
    // the metric stream: the batch operator's own hourly bucketing
    val buckets = Tables.events(spark, sf01)
      .select(col("event_type"),
        (expr("(ts DIV 1000000000) DIV 3600") * 3600).cast("long").as("hour"))
      .groupBy("event_type", "hour").agg(count(lit(1)).as("n"))
      .as[Bucket].collect().sortBy(b => (b.event_type, b.hour))
    val input = MemoryStream[Bucket]
    input.addData(buckets: _*)
    val qn = "graft_stream_anomaly"
    val q = graft.streaming.EventStream.streamAnomaly(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName(qn).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(qn).as[AnomalyOut].collect().toSet
    val batch = graft.operators.TrainingOps.qAnomaly(spark, sf01)
      .withColumnRenamed("minute", "hour") // (same column name either way)
      .as[AnomalyOut].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"stream-batch mismatch: onlyStream=${(streamed -- batch).take(3)} onlyBatch=${(batch -- streamed).take(3)}")
  }

  test("stream anomaly drops late cross-batch buckets instead of corrupting the baseline") {
    import graft.streaming.EventStream.{AnomalyOut, Bucket}
    implicit val sqlCtx = spark.sqlContext
    // deterministic constant-rate stream: any in-order bucket after
    // warmup scores z=0... except sd==0 suppresses; so use a gentle
    // alternating series with known mean instead
    val hours = (0 until 30).map(h => Bucket("t", h * 3600L, 100 + (h % 2)))
    val input = MemoryStream[Bucket]
    val qn = "graft_stream_anomaly_late"
    val q = graft.streaming.EventStream
      .streamAnomaly(input.toDS(), window = 8, minBase = 4)
      .writeStream.outputMode("append").format("memory").queryName(qn).start()
    input.addData(hours.take(20): _*)
    q.processAllAvailable()
    val afterInOrder = spark.table(qn).as[AnomalyOut].collect()
    // second micro-batch: one LATE bucket (hour 5, already superseded)
    // plus the next in-order buckets
    input.addData(Bucket("t", 5 * 3600L, 1000000L))
    input.addData(hours.drop(20): _*)
    q.processAllAvailable()
    q.stop()
    val all = spark.table(qn).as[AnomalyOut].collect()
    // the late bucket must emit no verdict...
    assert(!all.exists(a => a.hour == 5 * 3600L && a.n == 1000000L),
      "late bucket was scored")
    // ...and must not have entered the ring: every post-late verdict's
    // baseline mean stays in the alternating series' [100,101] range
    val later = all.filter(_.hour >= 20 * 3600L)
    assert(later.nonEmpty, "no verdicts after the late arrival")
    later.foreach { a =>
      assert(a.baseline_mean >= 100.0 && a.baseline_mean <= 101.0,
        s"baseline mean ${a.baseline_mean} corrupted by the late bucket at hour ${a.hour}")
    }
    assert(afterInOrder.nonEmpty)
  }

  test("stateful streaming Page-Hinkley equals the batch detector and drops late days") {
    import graft.streaming.EventStream.{DayRev, PhOut}
    implicit val sqlCtx = spark.sqlContext
    val days = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(expr("(ts DIV 1000000000) DIV 86400").cast("long").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("day").agg(sum(col("cents")).as("cents"))
      .as[DayRev].collect().sortBy(_.day)
    assert(days.length > 5)
    val input = MemoryStream[DayRev]
    val qn = "graft_stream_ph"
    val q = graft.streaming.EventStream.streamPageHinkley(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName(qn).start()
    // two in-order micro-batches, then a LATE replay of an old day
    input.addData(days.take(days.length / 2): _*)
    q.processAllAvailable()
    input.addData(days.drop(days.length / 2): _*)
    q.processAllAvailable()
    input.addData(DayRev(days.head.day, 999999999L))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(qn).as[PhOut].collect()
    assert(streamed.length == days.length, "late replay must emit nothing")
    val batch = graft.operators.TemporalOps.queries("q_page_hinkley")(spark, sf)
      .as[PhOut].collect().toSet
    assert(streamed.toSet == batch,
      s"stream-batch mismatch: onlyStream=${(streamed.toSet -- batch).take(3)} " +
        s"onlyBatch=${(batch -- streamed.toSet).take(3)}")
  }

  test("stateful streaming Bollinger equals the batch breach set and drops late days") {
    import graft.streaming.EventStream.{DayRev, BollOut}
    implicit val sqlCtx = spark.sqlContext
    val days = Tables.orders(spark, sf)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .as[DayRev].collect().sortBy(_.day)
    assert(days.length > 10)
    val input = MemoryStream[DayRev]
    val qn = "graft_stream_boll"
    val q = graft.streaming.EventStream.streamBollinger(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName(qn).start()
    input.addData(days.take(days.length / 2): _*)
    q.processAllAvailable()
    input.addData(days.drop(days.length / 2): _*)
    q.processAllAvailable()
    // a late replay of the first day must emit nothing
    input.addData(DayRev(days.head.day, 999999999L))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(qn).as[BollOut].collect().toSet
    val batch = graft.operators.TemporalOps.queries("q_bollinger")(spark, sf)
      .select(col("day"), col("rev_c"), col("mean7_micro"),
        col("var7_num"), col("breach"))
      .as[BollOut].collect().toSet
    assert(batch.nonEmpty, "corpus must contain at least one breach day")
    assert(streamed == batch,
      s"stream-batch mismatch: onlyStream=${(streamed -- batch).take(3)} " +
        s"onlyBatch=${(batch -- streamed).take(3)}")
  }

  test("stateful streaming SPRT equals the batch trace and drops late days") {
    import graft.streaming.EventStream.{DayTrials, SprtOut}
    implicit val sqlCtx = spark.sqlContext
    val days = Tables.events(spark, sf)
      .select(expr("(ts DIV 1000000000) DIV 86400").cast("long").as("day"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("hit"))
      .groupBy("day")
      .agg(count(lit(1)).as("trials"), sum(col("hit")).as("hits"))
      .as[DayTrials].collect().sortBy(_.day)
    assert(days.length > 5)
    val input = MemoryStream[DayTrials]
    val qn = "graft_stream_sprt"
    val q = graft.streaming.EventStream.streamSprt(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName(qn).start()
    input.addData(days.take(days.length / 2): _*)
    q.processAllAvailable()
    input.addData(days.drop(days.length / 2): _*)
    q.processAllAvailable()
    // a late replay of the first day must emit nothing
    input.addData(DayTrials(days.head.day, 1000L, 1000L))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(qn).as[SprtOut].collect()
    assert(streamed.length == days.length, "late replay must emit nothing")
    val batch = graft.operators.Validation.queries("q_sprt")(spark, sf)
      .drop("decided_by").as[SprtOut].collect().toSet
    assert(streamed.toSet == batch,
      s"stream-batch mismatch: onlyStream=${(streamed.toSet -- batch).take(3)} " +
        s"onlyBatch=${(batch -- streamed.toSet).take(3)}")
  }

  test("stateful streaming bandit equals the batch arm table after the last batch") {
    import graft.streaming.EventStream.{ArmConv, BanditOut}
    implicit val sqlCtx = spark.sqlContext
    // labeled conversions exactly as batch L42 derives them
    val np = Tables.events(spark, sf).groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("np"))
      .as[(Long, Long)].collect()
    val (users, totNp) = (np.length.toLong, np.map(_._2).sum)
    val convs = np.map { case (u, n) =>
      val arm = "arm_" + (java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(u.toString)
          .substring(0, 15), 16) % 4)
      ArmConv(arm, if (n * users > totNp) 1L else 0L)
    }.sortBy(_.arm)
    val input = MemoryStream[ArmConv]
    val qn = "graft_stream_bandit"
    val q = graft.streaming.EventStream.streamBanditUcb(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName(qn).start()
    input.addData(convs.take(convs.length / 2): _*)
    q.processAllAvailable()
    input.addData(convs.drop(convs.length / 2): _*)
    q.processAllAvailable()
    q.stop()
    val all = spark.table(qn).as[BanditOut].collect()
    val lastStep = all.map(_.step).max
    val streamed = all.filter(_.step == lastStep)
      .map(b => (b.arm, b.n_users, b.n_conversions, b.posterior_mean,
        b.ucb1, b.rank, b.play_next)).toSet
    val batch = graft.operators.Validation.queries("q_bandit_ucb")(spark, sf)
      .as[(String, Long, Long, Double, Double, Long, Boolean)].collect().toSet
    assert(streamed == batch,
      s"stream-batch mismatch: onlyStream=${(streamed -- batch).take(3)} " +
        s"onlyBatch=${(batch -- streamed).take(3)}")
    // the router re-ranked every micro-batch, not just at the end
    assert(lastStep == 2L && all.count(_.step == 1L) >= 1)
  }

  test("streaming near-dup ingest over micro-batches equals the batch store query") {
    implicit val sqlCtx = spark.sqlContext
    val sf01 = "/root/testdata/sf0.01" // sf0.001 yields no near-dup matches
    // the same arriving split the batch query checks, fed as TWO
    // micro-batches through a memory stream
    val arriving = Tables.documents(spark, sf01)
      .filter(col("source").isin(graft.operators.Dedup.EvalSources.map(x => x: Any): _*))
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val (b1, b2) = arriving.splitAt(arriving.length / 2)
    val input = MemoryStream[(Long, String)]
    input.addData(b1: _*)
    input.addData(b2: _*)
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_neardup").toString
    def cached() = org.apache.spark.sql.CacheProbe.entries(spark)
    val before = cached()
    val streamed = EventStream.streamNeardupIngestToFiles(
      input.toDF().toDF("doc_id", "text"), sf01, s"$tmp/out", s"$tmp/cp")
      .select("new_id", "old_id", "est_sim")
      .as[(Long, Long, Double)].collect().toSet
    // a micro-batch must leave nothing cached for the session's life
    assert(cached() == before, s"the stream left ${cached() - before} cached relations behind")
    val batch = graft.operators.Dedup.qIncrementalNeardup(spark, sf01)
      .as[(Long, Long, Double)].collect().toSet
    assert(batch.nonEmpty, "batch ingest found no matches at sf0.01")
    assert(streamed == batch,
      s"stream-batch mismatch: onlyStream=${(streamed -- batch).take(3)} onlyBatch=${(batch -- streamed).take(3)}")
  }

  test("streaming vector ingest over micro-batches reproduces persisted cells without refit") {
    implicit val sqlCtx = spark.sqlContext
    val (asg, _) = graft.operators.Similarity.IvfIndex.get(spark, sf, 16)
    val persisted = asg.select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val vecs = asg.select("vec_id", "v").as[(Long, Seq[Double])].collect().sortBy(_._1)
    val (b1, b2) = vecs.splitAt(vecs.length / 2)
    val input = MemoryStream[(Long, Seq[Double])]
    input.addData(b1: _*)
    input.addData(b2: _*)
    val fits = graft.operators.Similarity.IvfIndex.fitCount.get
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_vec").toString
    val out = EventStream.streamVectorIngestToFiles(
      input.toDF().toDF("vec_id", "v"), sf, s"$tmp/out", s"$tmp/cp")
      .select("vec_id", "cell").as[(Long, Int)].collect()
    assert(graft.operators.Similarity.IvfIndex.fitCount.get == fits,
      "the stream must ride the persisted index, never refit")
    assert(out.length == persisted.size, "every streamed vector lands in the sink once")
    assert(out.forall { case (id, c) => persisted(id) == c },
      "streamed assignment diverged from the index fit")
  }

  test("streaming decontamination gate over micro-batches equals the batch C22 verdicts") {
    implicit val sqlCtx = spark.sqlContext
    // the TRAINING split fed as TWO micro-batches: per-doc flags never
    // cross documents, so any batching must reproduce q_ngram_decontam
    val arriving = Tables.documents(spark, sf)
      .filter(!col("source").isin(graft.operators.Dedup.EvalSources.map(x => x: Any): _*))
      .select("doc_id", "source", "text")
      .as[(Long, String, String)].collect().sortBy(_._1)
    val (b1, b2) = arriving.splitAt(arriving.length / 2)
    val input = MemoryStream[(Long, String, String)]
    input.addData(b1: _*)
    input.addData(b2: _*)
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_decontam").toString
    val streamed = EventStream.streamDecontamToFiles(
      input.toDF().toDF("doc_id", "source", "text"), sf, s"$tmp/out", s"$tmp/cp")
      .as[(Long, String, Long, Long, Double)].collect().toSet
    val batch = graft.operators.Dedup.qNgramDecontam(spark, sf)
      .as[(Long, String, Long, Long, Double)].collect().toSet
    assert(batch.nonEmpty, "batch decontam found no contaminated docs at test SF")
    assert(streamed == batch,
      s"stream-batch mismatch: onlyStream=${(streamed -- batch).take(3)} " +
        s"onlyBatch=${(batch -- streamed).take(3)}")
  }

  test("crash between sink write and checkpoint commit: restart is exactly-once (decontam gate)") {
    implicit val sqlCtx = spark.sqlContext
    val arriving = Tables.documents(spark, sf)
      .filter(!col("source").isin(graft.operators.Dedup.EvalSources.map(x => x: Any): _*))
      .select("doc_id", "source", "text")
      .as[(Long, String, String)].collect().sortBy(_._1)
    val (b1, b2) = arriving.splitAt(arriving.length / 2)
    val input = MemoryStream[(Long, String, String)]
    input.addData(b1: _*)
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_deccrash").toString
    EventStream.crashAfterBatchWrite.set(0L)
    val thrown = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStream.streamDecontamToFiles(
        input.toDF().toDF("doc_id", "source", "text"), sf, s"$tmp/out", s"$tmp/cp")
    }
    assert(thrown.getMessage.contains("injected crash"),
      s"wrong failure: ${thrown.getMessage.take(200)}")
    // restart: batch 0 replays onto its own sink partition (idempotent
    // overwrite), batch 1 processes b2 — flag rows exactly once
    input.addData(b2: _*)
    val streamed = EventStream.streamDecontamToFiles(
      input.toDF().toDF("doc_id", "source", "text"), sf, s"$tmp/out", s"$tmp/cp")
      .as[(Long, String, Long, Long, Double)].collect()
    assert(streamed.length == streamed.distinct.length,
      "replayed batch duplicated flag rows")
    val batch = graft.operators.Dedup.qNgramDecontam(spark, sf)
      .as[(Long, String, Long, Long, Double)].collect().toSet
    assert(streamed.toSet == batch,
      s"crash-restart lost or fabricated flags: onlyStream=${(streamed.toSet -- batch).take(3)} " +
        s"onlyBatch=${(batch -- streamed.toSet).take(3)}")
  }

  test("streaming quality-drift monitor equals the batch KS verdict on one batch") {
    implicit val sqlCtx = spark.sqlContext
    val arriving = Tables.documents(spark, sf)
      .filter(col("source").isin(graft.operators.Dedup.EvalSources.map(x => x: Any): _*))
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    // one batch holding the whole eval split -> bit-identical to K9
    val one = MemoryStream[(Long, String)]
    one.addData(arriving: _*)
    val tmp1 = java.nio.file.Files.createTempDirectory("graft_stream_drift1").toString
    val streamed = EventStream.streamQualityDriftToFiles(
      one.toDF().toDF("doc_id", "text"), sf, s"$tmp1/out", s"$tmp1/cp")
      .select("n_train", "n_eval", "ks_d")
      .as[(Long, Long, Double)].collect()
    assert(streamed.length == 1, s"expected one verdict row, got ${streamed.length}")
    val batch = graft.operators.TrainingOps.qQualityDrift(spark, sf)
      .as[(Long, Long, Double)].collect().head
    assert(streamed.head == batch,
      s"stream verdict ${streamed.head} != batch verdict $batch")
    // a monitor started before its producer has written anything must
    // return zero verdicts, not throw path-not-found from the read-back
    val none = MemoryStream[(Long, String)]
    val tmp0 = java.nio.file.Files.createTempDirectory("graft_stream_drift0").toString
    val emptyOut = EventStream.streamQualityDriftToFiles(
      none.toDF().toDF("doc_id", "text"), sf, s"$tmp0/out", s"$tmp0/cp")
    assert(emptyOut.isEmpty, "empty source must yield an empty verdict frame")
    // a restart from the same checkpoint processes ONLY newly-arrived
    // data -> one verdict row per run, n_eval partitioned across them
    val two = MemoryStream[(Long, String)]
    val (b1, b2) = arriving.splitAt(arriving.length / 2)
    val tmp2 = java.nio.file.Files.createTempDirectory("graft_stream_drift2").toString
    two.addData(b1: _*)
    EventStream.streamQualityDriftToFiles(
      two.toDF().toDF("doc_id", "text"), sf, s"$tmp2/out", s"$tmp2/cp")
    two.addData(b2: _*)
    val verdicts = EventStream.streamQualityDriftToFiles(
      two.toDF().toDF("doc_id", "text"), sf, s"$tmp2/out", s"$tmp2/cp")
      .select("batch_id", "n_eval").as[(Long, Long)].collect().sortBy(_._1)
    assert(verdicts.length == 2, s"expected a verdict per run: ${verdicts.mkString(",")}")
    assert(verdicts.map(_._2).sum == arriving.length.toLong)
  }

  test("drift monitor: an empty micro-batch appends no verdict row") {
    val t = java.nio.file.Files.createTempDirectory("graft_stream_driftempty").toString
    // a 0-row source FILE still fires a micro-batch (the trigger sees
    // the file) — that batch carries no distribution to test and must
    // not append an n_eval=0 / null-ks_d row to the sink
    spark.range(0).selectExpr("id as doc_id", "cast(null as string) as text")
      .write.parquet(s"$t/src")
    val src = spark.readStream.schema("doc_id LONG, text STRING")
      .parquet(s"$t/src")
    val out = EventStream.streamQualityDriftToFiles(src, sf, s"$t/out", s"$t/cp")
    assert(out.isEmpty, s"empty batch must be skipped, got ${out.collect().toSeq}")
  }

  test("streaming validation gate routes exactly the corrupted rows to quarantine") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].collect()
    // corrupt every 7th row's n_chars and blank every 11th row's text
    val corrupted = docs.map { case (id, text, lang, src, n) =>
      if (id % 11 == 0) (id, "  ", lang, src, n)
      else if (id % 7 == 0) (id, text, lang, src, n + 1)
      else (id, text, lang, src, n)
    }
    val expectQuarantine = corrupted.collect {
      case (id, _, _, _, _) if id % 11 == 0 => id -> "empty_text"
      case (id, _, _, _, _) if id % 7 == 0 => id -> "n_chars_mismatch"
    }.toMap
    val input = MemoryStream[(Long, String, String, String, Long)]
    val (b1, b2) = corrupted.splitAt(corrupted.length / 2)
    input.addData(b1: _*)
    input.addData(b2: _*)
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_gate").toString
    val quarantined = EventStream.streamValidationGateToFiles(
      input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      s"$tmp/accept", s"$tmp/quarantine", s"$tmp/cp")
      .select("doc_id", "reason").as[(Long, String)].collect()
    assert(quarantined.length == expectQuarantine.size,
      s"expected ${expectQuarantine.size} quarantined, got ${quarantined.length}")
    quarantined.foreach { case (id, reason) =>
      assert(expectQuarantine.get(id).contains(reason), s"wrong routing: $id -> $reason")
    }
    // and the accepted sink holds exactly the complement, unmodified
    val accepted = spark.read.parquet(s"$tmp/accept")
      .select("doc_id").as[Long].collect().toSet
    assert(accepted == docs.map(_._1).toSet -- expectQuarantine.keySet)
  }

  test("crash between sink write and checkpoint commit: restart is exactly-once (validation gate)") {
    implicit val sqlCtx = spark.sqlContext
    // The at-least-once window of any foreachBatch file sink: the batch's
    // data is on disk but the checkpoint never committed it, so a restart
    // REPLAYS the batch. The injected crash fires after the write(s) of
    // batch 0; the per-batch `batch_id=<id>` overwrite must make the
    // replay idempotent — every input row lands in exactly one sink
    // exactly once, no duplicates from the replay, no losses.
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].collect()
    val corrupted = docs.map { case (id, text, lang, src, n) =>
      if (id % 11 == 0) (id, "  ", lang, src, n)
      else if (id % 7 == 0) (id, text, lang, src, n + 1)
      else (id, text, lang, src, n)
    }
    val expectQuarantine = corrupted.collect {
      case (id, _, _, _, _) if id % 11 == 0 => id -> "empty_text"
      case (id, _, _, _, _) if id % 7 == 0 => id -> "n_chars_mismatch"
    }.toMap
    val (b1, b2) = corrupted.splitAt(corrupted.length / 2)
    val input = MemoryStream[(Long, String, String, String, Long)]
    input.addData(b1: _*)
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_crash").toString
    EventStream.crashAfterBatchWrite.set(0L)
    val thrown = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStream.streamValidationGateToFiles(
        input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
        s"$tmp/accept", s"$tmp/quarantine", s"$tmp/cp")
    }
    assert(thrown.getMessage.contains("injected crash"),
      s"wrong failure: ${thrown.getMessage.take(200)}")
    assert(EventStream.crashAfterBatchWrite.get == -1L, "knob must self-clear")
    // batch 0's rows ARE on disk (that's the hazard being tested)
    assert(spark.read.parquet(s"$tmp/accept").count() > 0,
      "crash must land AFTER the write, else the test proves nothing")
    // restart from the same checkpoint with more data queued: batch 0
    // replays (uncommitted), then batch 1 processes b2
    input.addData(b2: _*)
    val quarantined = EventStream.streamValidationGateToFiles(
      input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      s"$tmp/accept", s"$tmp/quarantine", s"$tmp/cp")
      .select("doc_id", "reason").as[(Long, String)].collect()
    val accepted = spark.read.parquet(s"$tmp/accept")
      .select("doc_id").as[Long].collect()
    // exactly-once: no id appears twice anywhere, and the union is total
    assert(accepted.length == accepted.distinct.length,
      "replayed batch duplicated accepted rows")
    assert(quarantined.map(_._1).distinct.length == quarantined.length,
      "replayed batch duplicated quarantined rows")
    assert(quarantined.map(_._1).toSet == expectQuarantine.keySet &&
      accepted.toSet == docs.map(_._1).toSet -- expectQuarantine.keySet,
      "rows lost or misrouted across the crash-restart boundary")
    quarantined.foreach { case (id, reason) =>
      assert(expectQuarantine(id) == reason, s"wrong routing after replay: $id -> $reason")
    }
  }

  test("crash between sink write and checkpoint commit: restart is exactly-once (vector ingest)") {
    implicit val sqlCtx = spark.sqlContext
    val (asg, _) = graft.operators.Similarity.IvfIndex.get(spark, sf, 16)
    val persisted = asg.select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val vecs = asg.select("vec_id", "v").as[(Long, Seq[Double])].collect().sortBy(_._1)
    val (b1, b2) = vecs.splitAt(vecs.length / 2)
    val input = MemoryStream[(Long, Seq[Double])]
    input.addData(b1: _*)
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_veccrash").toString
    EventStream.crashAfterBatchWrite.set(0L)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStream.streamVectorIngestToFiles(
        input.toDF().toDF("vec_id", "v"), sf, s"$tmp/out", s"$tmp/cp")
    }
    input.addData(b2: _*)
    val out = EventStream.streamVectorIngestToFiles(
      input.toDF().toDF("vec_id", "v"), sf, s"$tmp/out", s"$tmp/cp")
      .select("vec_id", "cell").as[(Long, Int)].collect()
    // row-exact across the crash: each vector once, correct cell
    assert(out.length == persisted.size,
      s"expected ${persisted.size} rows exactly-once, got ${out.length}")
    assert(out.forall { case (id, c) => persisted(id) == c })
  }

  test("crash between sink write and checkpoint commit: restart is exactly-once (near-dup ingest)") {
    implicit val sqlCtx = spark.sqlContext
    val sf01 = "/root/testdata/sf0.01" // sf0.001 yields no near-dup matches
    val arriving = Tables.documents(spark, sf01)
      .filter(col("source").isin(graft.operators.Dedup.EvalSources.map(x => x: Any): _*))
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val (b1, b2) = arriving.splitAt(arriving.length / 2)
    val input = MemoryStream[(Long, String)]
    input.addData(b1: _*)
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_ndcrash").toString
    EventStream.crashAfterBatchWrite.set(0L)
    val thrown = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStream.streamNeardupIngestToFiles(
        input.toDF().toDF("doc_id", "text"), sf01, s"$tmp/out", s"$tmp/cp")
    }
    assert(thrown.getMessage.contains("injected crash"),
      s"wrong failure: ${thrown.getMessage.take(200)}")
    assert(EventStream.crashAfterBatchWrite.get == -1L, "knob must self-clear")
    // restart from the same checkpoint: batch 0 (uncommitted) REPLAYS
    // over its already-written sink partition, then batch 1 processes
    // b2 — the per-batch overwrite must absorb the replay
    input.addData(b2: _*)
    val streamed = EventStream.streamNeardupIngestToFiles(
      input.toDF().toDF("doc_id", "text"), sf01, s"$tmp/out", s"$tmp/cp")
      .select("new_id", "old_id", "est_sim")
      .as[(Long, Long, Double)].collect()
    assert(streamed.length == streamed.distinct.length,
      "replayed batch duplicated match rows")
    val batch = graft.operators.Dedup.qIncrementalNeardup(spark, sf01)
      .as[(Long, Long, Double)].collect().toSet
    assert(batch.nonEmpty, "batch ingest found no matches at sf0.01")
    assert(streamed.toSet == batch,
      s"crash-restart lost or fabricated matches: onlyStream=${(streamed.toSet -- batch).take(3)} onlyBatch=${(batch -- streamed.toSet).take(3)}")
  }

  test("crash between sink write and checkpoint commit: restart is exactly-once (quality drift)") {
    implicit val sqlCtx = spark.sqlContext
    val arriving = Tables.documents(spark, sf)
      .filter(col("source").isin(graft.operators.Dedup.EvalSources.map(x => x: Any): _*))
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val (b1, b2) = arriving.splitAt(arriving.length / 2)
    val input = MemoryStream[(Long, String)]
    input.addData(b1: _*)
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_driftcrash").toString
    EventStream.crashAfterBatchWrite.set(0L)
    val thrown = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStream.streamQualityDriftToFiles(
        input.toDF().toDF("doc_id", "text"), sf, s"$tmp/out", s"$tmp/cp")
    }
    assert(thrown.getMessage.contains("injected crash"),
      s"wrong failure: ${thrown.getMessage.take(200)}")
    // batch 0's verdict row IS on disk (the at-least-once hazard)
    assert(spark.read.parquet(s"$tmp/out").count() == 1,
      "crash must land AFTER the write, else the test proves nothing")
    // restart: batch 0 replays onto its own partition (idempotent
    // overwrite), batch 1 appends — exactly one verdict per batch,
    // the eval split partitioned across them with nothing double-counted
    input.addData(b2: _*)
    val verdicts = EventStream.streamQualityDriftToFiles(
      input.toDF().toDF("doc_id", "text"), sf, s"$tmp/out", s"$tmp/cp")
      .select("batch_id", "n_eval").as[(Long, Long)].collect().sortBy(_._1)
    assert(verdicts.length == 2,
      s"expected one verdict per batch after replay: ${verdicts.mkString(",")}")
    assert(verdicts.map(_._1).distinct.length == 2, "duplicate batch ids in sink")
    assert(verdicts.map(_._2).sum == arriving.length.toLong,
      "eval rows lost or double-counted across the crash-restart boundary")
  }

  test("streaming dedup-then-aggregate DAU equals the batch exact-distinct operator") {
    val streamed = graft.streaming.EventStream.streamActiveUsers(spark, sf)
      .select("day", "dau").as[(Long, Long)].collect().toMap
    val batch = graft.operators.TemporalOps.queries("q_active_users")(spark, sf)
      .select("day", "dau").as[(Long, Long)].collect().toMap
    assert(streamed.nonEmpty)
    // complete mode over the drained source: every day present, exact
    assert(streamed == batch,
      s"streaming DAU differs from batch: ${streamed.size} vs ${batch.size} days")
  }

  test("streaming session_window emits watermark-closed sessions as a subset of the batch twin") {
    val streamed = graft.streaming.EventStream.streamSessionWindow(spark, sf)
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
    val batch = graft.operators.TemporalOps.qSessionWindow(spark, sf)
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
    assert(streamed.count() > 0, "streaming session window emitted nothing")
    // append mode emits only watermark-closed sessions: a nonempty
    // subset of the batch result, never a session the batch twin lacks
    // (would mean the state store merged or split differently)
    assert(streamed.except(batch).isEmpty,
      "streamed sessions disagree with the oracle-checked batch operator")
  }

  test("append-mode file sink emits watermark-closed windows matching the batch result") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_files").toString
    val streamed = EventStream.streamTumblingToFiles(spark, sf,
      s"$tmp/out", s"$tmp/cp").select("bucket", "event_type", "n", "sum_value")
    val batch = graft.operators.TemporalOps.qTumblingWindow(spark, sf)
      .select("bucket", "event_type", "n", "sum_value")
    assert(streamed.count() > 0, "file sink emitted nothing")
    // append mode emits only closed windows: a nonempty prefix-subset
    // of the batch result, never rows the batch result lacks
    assert(streamed.except(batch).isEmpty,
      "file-sink rows disagree with the batch twin")
  }
  test("stateful streaming funnel equals the batch conversion set with the earliest in-window purchase") {
    import EventStream.FunnelHit
    import org.apache.spark.sql.functions._
    val qn = "funnel_stream_test"
    val q = EventStream.streamFunnel(spark, sf)
      .writeStream.outputMode("append").format("memory").queryName(qn).start()
    q.processAllAvailable(); q.stop()
    val hits = spark.table(qn).as[FunnelHit].collect()
    assert(hits.nonEmpty, "no conversions streamed")
    assert(hits.map(_.user_id).distinct.length == hits.length,
      "a user converted more than once")
    // batch truth: earliest signup, earliest purchase within the hour
    val ev = Tables.events(spark, sf).select(col("user_id"),
      expr("ts DIV 1000000000").cast("long").as("tsec"), col("event_type"))
      .as[(Long, Long, String)].collect()
    val truth = ev.groupBy(_._1).flatMap { case (u, rs) =>
      val signups = rs.filter(_._3 == "signup").map(_._2)
      if (signups.isEmpty) None
      else {
        val s = signups.min
        val conv = rs.filter(r =>
          r._3 == "purchase" && r._2 >= s && r._2 <= s + 3600).map(_._2)
        if (conv.isEmpty) None else Some(FunnelHit(u, s, conv.min))
      }
    }.toSet
    assert(hits.toSet == truth,
      s"streamed ${hits.length} hits != batch ${truth.size}")
    // headline consistency with the oracle-checked F3 count
    val f3 = graft.operators.TemporalOps.qFunnel(spark, sf).collect().head
    assert(hits.length.toLong == f3.getAs[Long]("n_converted"))
  }

  test("streaming funnel buffers a purchase that arrives before its signup and evicts idle state") {
    implicit val sqlCtx = spark.sqlContext
    import EventStream.{TypedEv, FunnelHit}
    def te(u: Long, t: Long, ty: String) =
      TypedEv(u, t, ty, new java.sql.Timestamp(t * 1000L))
    val input = MemoryStream[TypedEv]
    val qn = "funnel_buffer_test"
    val q = EventStream.funnelHits(input.toDS(), windowSec = 3600)
      .writeStream.outputMode("append").format("memory").queryName(qn).start()
    // batch 1: user 1's purchase arrives BEFORE its signup (same event
    // times would match); user 2 signs up and never purchases
    input.addData(te(1, 2000, "purchase"), te(2, 1000, "signup"))
    q.processAllAvailable()
    // batch 2: user 1's signup arrives late-but-in-order-of-event-time
    // relative to nothing — the buffered purchase must now match
    input.addData(te(1, 1500, "signup"))
    q.processAllAvailable()
    // batch 3: advance the watermark far past every horizon so user
    // 2's state (and user 1's done-state) is evicted via timeout
    input.addData(te(3, 100000, "signup"))
    q.processAllAvailable()
    // a purchase from user 2 AFTER eviction must not resurrect a hit
    // (its window [1000, 4600] is below the watermark; the event is
    // late beyond the delay and dropped by the watermark filter)
    input.addData(te(2, 3000, "purchase"))
    q.processAllAvailable()
    val out = spark.table(qn).as[FunnelHit].collect().toSet
    q.stop()
    assert(out == Set(FunnelHit(1, 1500, 2000)),
      s"pre-signup purchase buffering broke: $out")
  }
}
