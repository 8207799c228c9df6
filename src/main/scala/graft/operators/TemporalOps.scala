package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Exact.{exactSum, money}

/** Temporal / event operators (SURVEY.md §2: A6, A12, A13, F1–F4).
  *
  * Clock contract: `events.ts` arrives canonicalized to Long
  * NANOSECONDS by the loader (Tables.events — whatever precision/type
  * the parquet generation wrote); all boundaries use floor-second
  * integer arithmetic (`ts DIV 1e9`), mirrored exactly in the oracle
  * SQL as `CAST(floor(epoch(ts)) AS BIGINT)`.
  *
  * Scale notes: every operator here shuffles at most once, on the
  * session/user key; no driver-side state, no collects. The as-of join
  * uses the union-tag + running `last(ignoreNulls)` formulation: one
  * shuffle of (key, time, payload-keys), linear in rows — no per-key
  * sort-merge loops, no broadcast of the big side.
  */
object TemporalOps {

  /** Event time floored to epoch seconds (integer division — exact for
    * the full int64-nano range, unlike a double divide).
    */
  private val tsSec = expr("ts DIV 1000000000").cast("long")
  private val duckTsSec = "CAST(floor(epoch(ts)) AS BIGINT)"

  /** Generic as-of join: for every `left` row, attach the latest
    * `right` row with the same key and time <= the left time (ties
    * broken by largest `rightOrder`). Union-tag + running
    * `last(ignoreNulls)` formulation: ONE shuffle of
    * (key, time, carried columns), linear in rows — no per-key loops,
    * no broadcast of either side, the shape that survives 100 TB.
    *
    * `carry` columns are taken from the right side and emitted as
    * `asof_<name>`; left columns pass through untouched.
    */
  def asofJoin(left: DataFrame, right: DataFrame,
      key: String, leftTime: String, rightTime: String,
      rightOrder: String, carry: Seq[String]): DataFrame = {
    val lCols = left.columns.toSeq
    val l = left.select(
      Seq(col(key).as("__k"), col(leftTime).cast("long").as("__t"),
        lit(1).as("__src"), lit(null).cast("long").as("__ord")) ++
        lCols.map(col) ++
        carry.map(c => lit(null).cast(right.schema(c).dataType).as(s"asof_$c")): _*)
    val r = right.select(
      Seq(col(key).as("__k"), col(rightTime).cast("long").as("__t"),
        lit(0).as("__src"), col(rightOrder).cast("long").as("__ord")) ++
        lCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        carry.map(c => col(c).as(s"asof_$c")): _*)
    // right rows sort before co-timed left rows (src 0 < 1); among
    // co-timed right rows the largest __ord sorts last → wins last()
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t").asc, col("__src").asc, col("__ord").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = carry.foldLeft(l.unionByName(r)) { (df, c) =>
      df.withColumn(s"asof_$c",
        last(col(s"asof_$c"), ignoreNulls = true).over(w))
    }
    carried.filter(col("__src") === 1)
      .select(lCols.map(col) ++ carry.map(c => col(s"asof_$c")): _*)
  }

  /** Generic gap sessionization: assign session ids per key where a
    * gap > `gapSec` starts a new session. One shuffle on the key; two
    * window passes within the partition.
    */
  def gapSessionize(df: DataFrame, key: String, timeSec: String,
      orderTiebreak: String, gapSec: Long): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(timeSec).asc, col(orderTiebreak).asc)
    df.withColumn("__new",
        when(col(timeSec) - lag(col(timeSec), 1).over(w) > gapSec ||
          lag(col(timeSec), 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .drop("__new")
  }

  // ---------------------------------------------------------------- A6
  /** lag/lead deltas of event value per user over time order. */
  def qLagDelta(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"), col("ts"))
      .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
      .withColumn("next_event_id", lead(col("event_id"), 1).over(w))
      .select("user_id", "event_id", "delta", "next_event_id")
  }

  val qLagDeltaSql: String =
    """SELECT user_id, event_id,
      |  value - lag(value, 1) OVER w AS delta,
      |  lead(event_id, 1) OVER w AS next_event_id
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""".stripMargin

  // ---------------------------------------------------------------- A12
  /** As-of join: each purchase event matched to the latest order of the
    * same customer with o_orderdate <= ts (ties → max orderkey).
    *
    * Implementation: union-tag both sides on (key, t), then one window
    * pass with running `last(..., ignoreNulls)` — the Spark-native
    * equivalent of a distributed sort-merge as-of join. Left semantics:
    * events with no prior order keep nulls.
    */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), tsSec.as("t"))
    val o = Tables.orders(spark, dir).select(
      col("o_custkey").as("user_id"),
      unix_timestamp(col("o_orderdate")).as("odate"),
      col("o_orderkey"))
    asofJoin(e, o, key = "user_id", leftTime = "t", rightTime = "odate",
        rightOrder = "o_orderkey", carry = Seq("o_orderkey", "odate"))
      .select(col("event_id"), col("user_id"),
        col("asof_o_orderkey").as("asof_orderkey"),
        col("asof_odate").as("asof_date_sec"))
  }

  val qAsofJoinSql: String =
    """SELECT event_id, user_id, o_orderkey AS asof_orderkey,
      |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS asof_date_sec
      |FROM (
      |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
      |    row_number() OVER (PARTITION BY e.event_id
      |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      |  FROM events e LEFT JOIN orders o
      |    ON o.o_custkey = e.user_id
      |   AND CAST(floor(epoch(o.o_orderdate)) AS BIGINT) <= CAST(floor(epoch(e.ts)) AS BIGINT)
      |  WHERE e.event_type = 'purchase')
      |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------- A13
  /** Equi + band range join: clicks within 10 minutes after a view by
    * the same user. Equi key (user_id) bounds the candidate set; the
    * band predicate filters within the co-partitioned group — the
    * standard scalable range-join shape (never a global cartesian).
    */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), tsSec.as("vt"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), tsSec.as("ct"))
    v.join(c, col("user_id") === col("c_user") &&
        col("ct") >= col("vt") && col("ct") <= col("vt") + 600)
      .select(col("user_id"), col("view_id"), col("click_id"),
        (col("ct") - col("vt")).as("gap_sec"))
  }

  val qRangeJoinSql: String =
    s"""SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
       |  CAST(floor(epoch(c.ts)) AS BIGINT) - CAST(floor(epoch(v.ts)) AS BIGINT) AS gap_sec
       |FROM events v JOIN events c ON v.user_id = c.user_id
       |WHERE v.event_type = 'view' AND c.event_type = 'click'
       |  AND CAST(floor(epoch(c.ts)) AS BIGINT) >= CAST(floor(epoch(v.ts)) AS BIGINT)
       |  AND CAST(floor(epoch(c.ts)) AS BIGINT) <= CAST(floor(epoch(v.ts)) AS BIGINT) + 600""".stripMargin

  // ---------------------------------------------------------------- F1
  /** Gap sessionization: a new session starts after >30 min of
    * inactivity. One shuffle on user_id; two window passes within the
    * partition; per-user session stats out.
    */
  def qSessionize(spark: SparkSession, dir: String): DataFrame =
    gapSessionize(
        Tables.events(spark, dir)
          .select(col("user_id"), col("event_id"), tsSec.as("t")),
        key = "user_id", timeSec = "t", orderTiebreak = "event_id",
        gapSec = 1800)
      .groupBy(col("user_id"))
      .agg(max(col("session_id")).as("n_sessions"),
        count(lit(1)).as("n_events"))

  val qSessionizeSql: String =
    s"""WITH marked AS (
       |  SELECT user_id,
       |    CASE WHEN $duckTsSec - lag($duckTsSec, 1) OVER w > 1800
       |           OR lag($duckTsSec, 1) OVER w IS NULL
       |         THEN 1 ELSE 0 END AS new_sess
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY $duckTsSec ASC, event_id ASC))
       |SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events
       |FROM marked GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------- F38
  /** Activity streaks per user — the gaps-and-islands decomposition
    * (the engagement-streak metric, and the canonical consecutive-
    * runs device): distinct (user, day) rows get a per-user row
    * number, and `day − row_number` is CONSTANT exactly along each
    * consecutive run — one subtraction turns streak detection into a
    * plain groupBy. Everything exact integers; windows keyed by user;
    * the longest streak's argmax rides `max(struct(len, −start))`
    * (longest, then earliest on ties) — no second window. Output per
    * user: active days, streak count, longest streak + its start day.
    */
  def qActivityStreaks(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("(ts DIV 1000000000) DIV 86400").cast("long").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val islands = ud
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
    islands.groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(struct(col("len"), (-col("start_day")).as("ns"))).as("t"))
      .select(col("user_id"), col("n_active_days"), col("n_streaks"),
        col("t.len").as("longest_streak"),
        (-col("t.ns")).as("longest_start"))
  }

  val qActivityStreaksSql: String =
    s"""WITH ud AS (SELECT DISTINCT user_id,
       |    ($duckTsSec) // 86400 AS day FROM events),
       |isl AS (SELECT user_id,
       |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island,
       |    day
       |  FROM ud),
       |runs AS (SELECT user_id, island, count(*) AS len,
       |    min(day) AS start_day
       |  FROM isl GROUP BY 1, 2)
       |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
       |  count(*) AS n_streaks,
       |  first(len ORDER BY len DESC, start_day ASC) AS longest_streak,
       |  first(start_day ORDER BY len DESC, start_day ASC) AS longest_start
       |FROM runs GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------- F42
  /** Inter-purchase interval profile per customer — the cadence
    * signal behind replenishment models and churn-risk windows
    * (a 30-day-cadence customer silent for 90 days is churning; a
    * 90-day one isn't): per customer with ≥ 2 orders, the order
    * count, median / mean gap in days, and the coefficient of
    * variation (regularity). One keyed lag window (gaps never leave
    * the customer's partition) + one aggregate. Parity: gaps are
    * exact integer days; median rides the proven percentile↔
    * quantile_cont pair on ints; mean/CV derive from the exact
    * integer (n, Σd, Σd²) triple in identical double arithmetic —
    * stddev_samp's summation-order ulps never enter.
    */
  def qInterpurchase(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = Tables.orders(spark, dir)
      .withColumn("pd", lag(col("o_orderdate"), 1).over(w))
      .filter(col("pd").isNotNull)
      .select(col("o_custkey"),
        datediff(col("o_orderdate"), col("pd")).cast("long").as("gap"))
    gaps.groupBy(col("o_custkey"))
      .agg((count(lit(1)) + 1).as("n_orders"),
        expr("percentile(gap, 0.5)").as("median_gap"),
        sum(col("gap")).as("s"),
        sum(col("gap") * col("gap")).as("q"),
        count(lit(1)).as("m"))
      .withColumn("mean_gap",
        round(col("s").cast("double") / col("m"), 6))
      .withColumn("cv_gap",
        when(col("m") < 2 || col("s") === 0, lit(null).cast("double"))
          .otherwise(round(
            sqrt((col("q").cast("double")
              - col("s").cast("double") * col("s") / col("m"))
              / (col("m") - 1))
            / (col("s").cast("double") / col("m")), 6)))
      .select(col("o_custkey"), col("n_orders"), col("median_gap"),
        col("mean_gap"), col("cv_gap"))
  }

  val qInterpurchaseSql: String =
    """WITH g0 AS (SELECT o_custkey, o_orderdate,
      |    lag(o_orderdate, 1) OVER (
      |      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS pd
      |  FROM orders),
      |gaps AS (SELECT o_custkey,
      |    CAST(date_diff('day', pd, o_orderdate) AS BIGINT) AS gap
      |  FROM g0 WHERE pd IS NOT NULL),
      |a AS (SELECT o_custkey, count(*) + 1 AS n_orders,
      |    CAST(quantile_cont(gap, 0.5) AS DOUBLE) AS median_gap,
      |    CAST(sum(gap) AS BIGINT) AS s,
      |    CAST(sum(gap * gap) AS BIGINT) AS q,
      |    count(*) AS m
      |  FROM gaps GROUP BY 1)
      |SELECT o_custkey, n_orders, median_gap,
      |  round(CAST(s AS DOUBLE) / m, 6) AS mean_gap,
      |  CASE WHEN m < 2 OR s = 0 THEN NULL
      |    ELSE round(sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / m)
      |      / (m - 1)) / (CAST(s AS DOUBLE) / m), 6) END AS cv_gap
      |FROM a""".stripMargin

  // ---------------------------------------------------------------- F40
  /** DAU / WAU / stickiness — the daily-active dashboard triple, and
    * the canonical SLIDING DISTINCT problem: WAU(d) = distinct users
    * over [d−6, d] cannot ride an ordinary window (distinct doesn't
    * decompose over frames). The scale-correct device: dedup to
    * (day, user) once (one keyed shuffle, the cardinality floor any
    * exact answer needs), then each row CONTRIBUTES ITSELF to the 7
    * windows it belongs to (a bounded ×7 map-side explode — windows
    * never re-scan events), dedup again on (window-day, user), and
    * count. Every shuffle is keyed, every output bounded by the day
    * grid; the 100 TB swap for wider windows is the H9 mergeable-HLL
    * per-day sketch, which this exact form oracle-anchors. Start-of-
    * history windows are clipped (correct, not padded); trailing
    * phantom windows drop in the inner join.
    */
  def qActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(expr("(ts DIV 1000000000) DIV 86400").cast("long").as("day"),
        col("user_id"))
      .distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(explode(sequence(col("day"), col("day") + 6)).as("day"),
        col("user_id"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
  }

  val qActiveUsersSql: String =
    s"""WITH ud AS (SELECT DISTINCT ($duckTsSec) // 86400 AS day, user_id
       |  FROM events),
       |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
       |wd AS (SELECT DISTINCT ud.day + i AS day, user_id
       |  FROM ud, generate_series(0, 6) g(i)),
       |wau AS (SELECT day, count(*) AS wau FROM wd GROUP BY 1)
       |SELECT d.day, d.dau, w.wau,
       |  round(d.dau * 1.0 / w.wau, 6) AS stickiness
       |FROM dau d JOIN wau w USING (day)""".stripMargin

  // ---------------------------------------------------------------- F39
  /** Per-session readout via Spark's BUILT-IN `session_window`
    * aggregate — the engine-native twin of F1's hand-rolled gap
    * sessionizer, kept as a separate surface because the two are the
    * cross-check a platform team actually wants: F1 proves the
    * semantics, F39 proves the native operator reproduces them —
    * including the boundary: session_window's end is INCLUSIVE (an
    * event at exactly last+1800 s merges; verified against the one
    * exact-boundary gap in the sf0.1 corpus), so the oracle replays
    * F1's identical `> 1800` rule. Epoch-second boundaries (§5); sums
    * decimal-exact; keyed by user_id — the session assembly never
    * leaves the user's partition.
    */
  def qSessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), tsSec.as("t"),
        col("value").cast("decimal(12,2)").as("v"))
      .groupBy(col("user_id"),
        session_window(timestamp_seconds(col("t")), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("v")).cast("double").as("sum_value"))
      .select(col("user_id"),
        unix_seconds(col("w.start")).as("session_start"),
        unix_seconds(col("w.end")).as("session_end"),
        col("n_events"), col("sum_value"))

  val qSessionWindowSql: String =
    s"""WITH e AS (SELECT user_id, $duckTsSec AS t, event_id,
       |    CAST(value AS DECIMAL(12,2)) AS v FROM events),
       |m AS (SELECT *, CASE WHEN t - lag(t) OVER w > 1800
       |      OR lag(t) OVER w IS NULL THEN 1 ELSE 0 END AS ns
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t ASC, event_id ASC)),
       |s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
       |    ORDER BY t ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM m)
       |SELECT user_id, min(t) AS session_start, max(t) + 1800 AS session_end,
       |  count(*) AS n_events, CAST(sum(v) AS DOUBLE) AS sum_value
       |FROM s GROUP BY user_id, sid""".stripMargin

  // ---------------------------------------------------------------- F2
  /** 5-minute tumbling-window aggregate (batch twin of the Structured
    * Streaming pipeline in graft.streaming).
    */
  def qTumblingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("bucket", (expr("(ts DIV 1000000000) DIV 300") * 300).cast("long"))
      .groupBy(col("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        exactSum(money(col("value"))).cast("double").as("sum_value"))

  val qTumblingWindowSql: String =
    s"""SELECT ($duckTsSec // 300) * 300 AS bucket, event_type, count(*) AS n,
       |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
       |FROM events GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- F20
  /** Time-series downsampling to OHLC bars: per 5-minute bucket ×
    * event type, the open (value at the earliest (ts, event_id)),
    * high, low, close (latest), and count — the decimation step every
    * metrics/market pipeline runs before charting or long-horizon
    * modeling. First/last-by-time WITHOUT a window-over-everything:
    * `min(struct(ts, event_id, value))` rides the ordinary hash
    * aggregate (struct ordering is lexicographic, event_id breaks ts
    * ties deterministically), so the whole query is one map-side-
    * combinable aggregate — at 100 TB each partition reduces to its
    * bucket set before the shuffle, the shape a per-key
    * first/last window cannot match. Values pass through unmodified
    * (no arithmetic), so no rounding is needed for parity.
    */
  def qOhlcBars(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("bucket", (expr("(ts DIV 1000000000) DIV 300") * 300).cast("long"))
      .groupBy(col("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(struct(col("ts"), col("event_id"), col("value"))).as("o"),
        max(struct(col("ts"), col("event_id"), col("value"))).as("c"),
        max(col("value")).as("high"), min(col("value")).as("low"))
      .select(col("bucket"), col("event_type"), col("n"),
        col("o.value").as("open"), col("high"), col("low"),
        col("c.value").as("close"))

  val qOhlcBarsSql: String =
    s"""WITH e AS (SELECT ($duckTsSec // 300) * 300 AS bucket, event_type, ts, event_id, value
       |  FROM events),
       |r AS (SELECT bucket, event_type, value,
       |    row_number() OVER (PARTITION BY bucket, event_type
       |      ORDER BY ts ASC, event_id ASC) AS ra,
       |    row_number() OVER (PARTITION BY bucket, event_type
       |      ORDER BY ts DESC, event_id DESC) AS rd
       |  FROM e)
       |SELECT bucket, event_type, count(*) AS n,
       |  max(CASE WHEN ra = 1 THEN value END) AS open,
       |  max(value) AS high, min(value) AS low,
       |  max(CASE WHEN rd = 1 THEN value END) AS close
       |FROM r GROUP BY bucket, event_type""".stripMargin

  // ---------------------------------------------------------------- F22
  /** SCD Type-2 history from a change log: each user's event stream
    * becomes validity intervals — (user, value, valid_from, valid_to,
    * is_current), valid_to = next change's time (null while current).
    * The warehouse temporal-modeling primitive that turns an
    * append-only log into point-in-time queryable state (the A12
    * as-of join then answers "what was the value at t" against it).
    * One shuffle on user_id + one lead window per partition; emitted
    * for the purchase stream so intervals are sparse but non-trivial.
    */
  def qScd2Intervals(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), tsSec.as("t"), col("value"))
      .withColumn("valid_to", lead(col("t"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("value"),
        col("t").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  val qScd2IntervalsSql: String =
    s"""SELECT user_id, event_id, value,
       |  $duckTsSec AS valid_from,
       |  lead($duckTsSec, 1) OVER w AS valid_to,
       |  (lead($duckTsSec, 1) OVER w IS NULL) AS is_current
       |FROM events WHERE event_type = 'purchase'
       |WINDOW w AS (PARTITION BY user_id ORDER BY $duckTsSec ASC, event_id ASC)""".stripMargin

  // ---------------------------------------------------------------- F21
  /** Last-touch attribution: every purchase credits the user's LATEST
    * view/click within the preceding hour (the as-of shape of A12
    * turned into the product-analytics staple); purchases with no
    * touch in the window report as the `(none)` row so the three rows
    * partition purchase count and revenue exactly. Deterministic
    * pick: max(struct(ts, event_id, channel)) — the F20 device, an
    * ordinary map-side-combinable aggregate, no per-key window.
    * Revenue sums are decimal-exact, cast to double at the boundary
    * (the A1 parity rule). At scale both sides shuffle once on
    * user_id and the join fan-out is bounded by per-user activity in
    * one hour.
    */
  def qAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"), tsSec.as("tp"),
        col("value").cast("decimal(12,2)").as("rev"))
    val t = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("tid"), tsSec.as("tt"),
        col("event_type").as("channel"))
    val attributed = p.join(t, Seq("user_id"))
      .filter(col("tt") <= col("tp") && col("tp") - col("tt") <= 3600)
      .groupBy(col("pid"))
      .agg(max(struct(col("tt"), col("tid"), col("channel"))).as("m"),
        max(col("rev")).as("rev"))
      .groupBy(col("m.channel").as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("rev")).as("revd"))
    val tot = p.agg(count(lit(1)).as("np"), sum(col("rev")).as("revt"))
    val attTot = attributed.agg(
      coalesce(sum(col("n_purchases")), lit(0L)).as("na"),
      coalesce(sum(col("revd")), lit(java.math.BigDecimal.ZERO)).cast("decimal(22,2)").as("reva"))
    val none = tot.crossJoin(broadcast(attTot))
      .select(lit("(none)").as("channel"),
        (col("np") - col("na")).as("n_purchases"),
        (col("revt") - col("reva")).cast("decimal(22,2)").as("revd"))
    attributed.select(col("channel"), col("n_purchases"),
        col("revd").cast("decimal(22,2)"))
      .unionAll(none)
      .select(col("channel"), col("n_purchases"),
        col("revd").cast("double").as("revenue"))
  }

  val qAttributionSql: String =
    s"""WITH p AS (SELECT user_id, event_id AS pid, $duckTsSec AS tp,
       |    CAST(value AS DECIMAL(12,2)) AS rev
       |  FROM events WHERE event_type = 'purchase'),
       |t AS (SELECT user_id, event_id AS tid, $duckTsSec AS tt, event_type AS channel
       |  FROM events WHERE event_type IN ('view', 'click')),
       |j AS (SELECT pid, rev, channel, row_number() OVER (
       |    PARTITION BY pid ORDER BY tt DESC, tid DESC) AS rn
       |  FROM p JOIN t USING (user_id)
       |  WHERE tt <= tp AND tp - tt <= 3600),
       |att AS (SELECT channel, count(*) AS n_purchases,
       |    CAST(sum(rev) AS DECIMAL(22,2)) AS revd
       |  FROM j WHERE rn = 1 GROUP BY channel),
       |tot AS (SELECT count(*) AS np, CAST(sum(rev) AS DECIMAL(22,2)) AS revt FROM p),
       |at AS (SELECT CAST(coalesce(sum(n_purchases), 0) AS BIGINT) AS na,
       |    CAST(coalesce(sum(revd), 0) AS DECIMAL(22,2)) AS reva FROM att)
       |SELECT channel, n_purchases, CAST(revd AS DOUBLE) AS revenue FROM att
       |UNION ALL
       |SELECT '(none)', np - na, CAST(revt - reva AS DOUBLE) FROM tot, at""".stripMargin

  // ---------------------------------------------------------------- F27
  /** Time-decay MULTI-touch attribution — the fractional-credit twin
    * of F21's last-touch: every view/click in the hour before a
    * purchase earns weight exp(−Δt/1800) (30-min time constant), and
    * the purchase's revenue splits across its touches in weight
    * proportion, so a click 5 minutes out outweighs a view 55 minutes
    * out but neither takes the whole sale. Float parity discipline:
    * weights are 10-dp-rounded BEFORE the per-purchase normalization
    * (both engines exp over identical integer Δt), each touch's
    * revenue share rounds at 10 dp, and the per-channel fold rounds
    * at the 4-dp boundary — the F19/M3 ln-parity device applied to
    * exp. One user_id shuffle + one pid aggregate; per-purchase touch
    * sets are bounded by the lookback window, never corpus size.
    */
  def qAttributionDecay(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"), tsSec.as("tp"),
        col("value").cast("decimal(12,2)").as("rev"))
    val t = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("tid"), tsSec.as("tt"),
        col("event_type").as("channel"))
    val touches = p.join(t, Seq("user_id"))
      .filter(col("tt") <= col("tp") && col("tp") - col("tt") <= 3600)
      .withColumn("wgt",
        round(exp((col("tt") - col("tp")).cast("double") / lit(1800.0)), 10))
    val wsum = org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))
    touches
      .withColumn("share",
        round(col("rev").cast("double") * col("wgt") /
          sum(col("wgt")).over(wsum), 10))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("pid")).as("n_purchases"),
        round(sum(col("share")), 4).as("revenue"))
  }

  val qAttributionDecaySql: String =
    s"""WITH p AS (SELECT user_id, event_id AS pid, $duckTsSec AS tp,
       |    CAST(value AS DECIMAL(12,2)) AS rev
       |  FROM events WHERE event_type = 'purchase'),
       |t AS (SELECT user_id, event_id AS tid, $duckTsSec AS tt,
       |    event_type AS channel
       |  FROM events WHERE event_type IN ('view', 'click')),
       |touches AS (SELECT pid, rev, channel,
       |    round(exp((tt - tp) / 1800.0), 10) AS wgt
       |  FROM p JOIN t USING (user_id)
       |  WHERE tt <= tp AND tp - tt <= 3600),
       |shares AS (SELECT pid, channel,
       |    round(CAST(rev AS DOUBLE) * wgt
       |      / sum(wgt) OVER (PARTITION BY pid), 10) AS share
       |  FROM touches)
       |SELECT channel, count(*) AS n_touches,
       |  count(DISTINCT pid) AS n_purchases,
       |  round(sum(share), 4) AS revenue
       |FROM shares GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- F3
  /** Funnel: users converting signup → purchase within 1 hour.
    * Two small shuffles on user_id (semi-join pattern), no state.
    */
  def qFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(tsSec).as("signup_t"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), tsSec.as("p_t"))
    val converted = signups
      .join(purchases, col("user_id") === col("p_user") &&
        col("p_t") >= col("signup_t") && col("p_t") <= col("signup_t") + 3600, "left_semi")
    signups.select(count(lit(1)).as("n_signup_users"))
      .crossJoin(converted.select(count(lit(1)).as("n_converted")))
  }

  val qFunnelSql: String =
    s"""WITH signups AS (
       |  SELECT user_id, min($duckTsSec) AS signup_t
       |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
       |converted AS (
       |  SELECT s.user_id FROM signups s
       |  WHERE EXISTS (SELECT 1 FROM events p
       |    WHERE p.event_type = 'purchase' AND p.user_id = s.user_id
       |      AND CAST(floor(epoch(p.ts)) AS BIGINT) >= s.signup_t
       |      AND CAST(floor(epoch(p.ts)) AS BIGINT) <= s.signup_t + 3600))
       |SELECT (SELECT count(*) FROM signups) AS n_signup_users,
       |       (SELECT count(*) FROM converted) AS n_converted""".stripMargin

  // ---------------------------------------------------------------- F28
  /** Three-step funnel (view → click → purchase, each step within an
    * hour of the previous) with per-step conversion AND latency
    * distribution — what F3's two-step count can't say: WHERE the drop
    * happens and how fast survivors move. Chain semantics: a user's
    * step-2 time is the EARLIEST click after their earliest view
    * (min-of-filtered-join, deterministic, no per-user ordering
    * ambiguity), step 3 likewise off step 2. Three user-keyed
    * aggregates + two filtered joins — all shuffles on user_id, no
    * window over the corpus; medians ride the proven
    * percentile↔quantile_cont pair on integer second gaps.
    */
  def qFunnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(tsSec).as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("u2"), tsSec.as("tc"))
      .join(s1, col("u2") === col("user_id") &&
        col("tc") >= col("t1") && col("tc") - col("t1") <= 3600)
      .groupBy(col("user_id").as("user2"), col("t1").as("t1b"))
      .agg(min(col("tc")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u3"), tsSec.as("tp"))
      .join(s2, col("u3") === col("user2") &&
        col("tp") >= col("t2") && col("tp") - col("t2") <= 3600)
      .groupBy(col("user2").as("user3"), col("t2").as("t2b"))
      .agg(min(col("tp")).as("t3"))
    val a1 = s1.agg(count(lit(1)).as("n_view"))
    val a2 = s2.agg(count(lit(1)).as("n_click"),
      expr("percentile(t2 - t1b, 0.5)").as("med_gap_vc"))
    val a3 = s3.agg(count(lit(1)).as("n_purchase"),
      expr("percentile(t3 - t2b, 0.5)").as("med_gap_cp"))
    a1.crossJoin(broadcast(a2)).crossJoin(broadcast(a3))
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        round(col("n_click").cast("double") / col("n_view"), 6).as("rate_vc"),
        round(col("n_purchase").cast("double") / col("n_click"), 6).as("rate_cp"),
        round(col("med_gap_vc"), 1).as("med_gap_vc_sec"),
        round(col("med_gap_cp"), 1).as("med_gap_cp_sec"))
  }

  val qFunnelStepsSql: String =
    s"""WITH s1 AS (SELECT user_id, min($duckTsSec) AS t1
       |  FROM events WHERE event_type = 'view' GROUP BY 1),
       |s2 AS (SELECT e.user_id, s1.t1, min($duckTsSec) AS t2
       |  FROM events e JOIN s1 ON e.user_id = s1.user_id
       |  WHERE e.event_type = 'click'
       |    AND $duckTsSec >= s1.t1 AND $duckTsSec - s1.t1 <= 3600
       |  GROUP BY 1, 2),
       |s3 AS (SELECT e.user_id, s2.t2, min($duckTsSec) AS t3
       |  FROM events e JOIN s2 ON e.user_id = s2.user_id
       |  WHERE e.event_type = 'purchase'
       |    AND $duckTsSec >= s2.t2 AND $duckTsSec - s2.t2 <= 3600
       |  GROUP BY 1, 2)
       |SELECT (SELECT count(*) FROM s1) AS n_view,
       |  (SELECT count(*) FROM s2) AS n_click,
       |  (SELECT count(*) FROM s3) AS n_purchase,
       |  round((SELECT count(*) FROM s2) * 1.0
       |    / (SELECT count(*) FROM s1), 6) AS rate_vc,
       |  round((SELECT count(*) FROM s3) * 1.0
       |    / (SELECT count(*) FROM s2), 6) AS rate_cp,
       |  round((SELECT quantile_cont(t2 - t1, 0.5) FROM s2), 1) AS med_gap_vc_sec,
       |  round((SELECT quantile_cont(t3 - t2, 0.5) FROM s3), 1) AS med_gap_cp_sec""".stripMargin

  // ---------------------------------------------------------------- F29
  /** Corpus-level session quality readout over F1's sessionization:
    * session count, median events per session, median session duration,
    * and bounce rate (single-event sessions) — the four numbers an
    * engagement dashboard actually shows. Rides [[gapSessionize]]
    * unchanged (one user_id shuffle), folds per-session facts in one
    * bounded aggregate, then a single-row summary; medians on exact
    * integer counts/durations via the proven percentile pair.
    */
  def qSessionStats(spark: SparkSession, dir: String): DataFrame = {
    val sess = gapSessionize(
        Tables.events(spark, dir)
          .select(col("user_id"), col("event_id"), tsSec.as("t")),
        key = "user_id", timeSec = "t", orderTiebreak = "event_id",
        gapSec = 1800)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("t")) - min(col("t"))).as("dur_sec"))
    sess.agg(count(lit(1)).as("n_sessions"),
        round(expr("percentile(n_events, 0.5)"), 1).as("med_events"),
        round(expr("percentile(dur_sec, 0.5)"), 1).as("med_dur_sec"),
        round(sum(when(col("n_events") === 1, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("bounce_rate"))
  }

  val qSessionStatsSql: String =
    s"""WITH marked AS (
       |  SELECT user_id, event_id, $duckTsSec AS t,
       |    CASE WHEN $duckTsSec - lag($duckTsSec, 1) OVER w > 1800
       |           OR lag($duckTsSec, 1) OVER w IS NULL
       |         THEN 1 ELSE 0 END AS new_sess
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY $duckTsSec ASC, event_id ASC)),
       |sid AS (SELECT user_id, t,
       |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY t ASC, event_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM marked),
       |sess AS (SELECT user_id, session_id, count(*) AS n_events,
       |    max(t) - min(t) AS dur_sec
       |  FROM sid GROUP BY 1, 2)
       |SELECT count(*) AS n_sessions,
       |  round(quantile_cont(n_events, 0.5), 1) AS med_events,
       |  round(quantile_cont(dur_sec, 0.5), 1) AS med_dur_sec,
       |  round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
       |    / count(*), 6) AS bounce_rate
       |FROM sess""".stripMargin

  // ---------------------------------------------------------------- F30
  /** Cohort LTV curves: users cohort by first-activity week bucket
    * (epoch-aligned 604800-second buckets, Thursday-anchored — the
    * same integer bucketing both engines compute exactly), purchase
    * revenue accumulates per cohort across week offsets — the
    * lifetime-value readout F14's retention shares (activity) can't
    * give (money). Weekly revenue folds DECIMAL-exact per
    * (cohort, offset) — a bounded grid (weeks²) — and the cumulative
    * sum runs over that grid, not over raw events; the single cast to
    * double happens at the 2-dp output boundary. Two user_id-keyed
    * aggregates + one broadcast-sized window — no corpus-wide
    * ordering at any scale.
    */
  def qCohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val wk = (expr("(ts DIV 1000000000) DIV 604800") * 604800L).cast("long")
    val firstw = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(min(wk).as("cohort_week"))
    val weekly = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), wk.as("w"),
        col("value").cast("decimal(12,2)").as("rev"))
      .join(firstw, "user_id")
      .groupBy(col("cohort_week"),
        ((col("w") - col("cohort_week")) / 604800L).cast("long").as("week_offset"))
      .agg(sum(col("rev")).cast("decimal(22,2)").as("wrev"))
    val cum = Window.partitionBy(col("cohort_week"))
      .orderBy(col("week_offset").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weekly.select(col("cohort_week"), col("week_offset"),
      col("wrev").cast("double").as("week_revenue"),
      sum(col("wrev")).over(cum).cast("double").as("cum_revenue"))
  }

  val qCohortLtvSql: String =
    s"""WITH fw AS (SELECT user_id,
       |    min(($duckTsSec // 604800) * 604800) AS cohort_week
       |  FROM events GROUP BY 1),
       |weekly AS (SELECT fw.cohort_week,
       |    CAST(((($duckTsSec // 604800) * 604800) - fw.cohort_week)
       |      / 604800 AS BIGINT) AS week_offset,
       |    CAST(sum(CAST(e.value AS DECIMAL(12,2))) AS DECIMAL(22,2)) AS wrev
       |  FROM events e JOIN fw ON e.user_id = fw.user_id
       |  WHERE e.event_type = 'purchase'
       |  GROUP BY 1, 2)
       |SELECT cohort_week, week_offset,
       |  CAST(wrev AS DOUBLE) AS week_revenue,
       |  CAST(sum(wrev) OVER (PARTITION BY cohort_week ORDER BY week_offset ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    AS cum_revenue
       |FROM weekly""".stripMargin

  // ---------------------------------------------------------------- F31
  /** Weekly churn: of the users active in week-bucket w (epoch-aligned
    * 604800-second buckets — Thursday-anchored, NOT ISO calendar
    * weeks), how many
    * have NO activity in w+1 — the flow-rate complement of F14's
    * cohort retention (stock). One distinct (user, week) fold, then a
    * self-anti-join shifted one week (both sides keyed on user_id —
    * co-partitioned, no second shuffle family), counts per week. The
    * final corpus week is excluded (its "next week" doesn't exist, so
    * churn there is undefined, not 100%) via one broadcast max.
    */
  def qChurn(spark: SparkSession, dir: String): DataFrame = {
    val wk = (expr("(ts DIV 1000000000) DIV 604800") * 604800L).cast("long")
    val uw = Tables.events(spark, dir)
      .select(col("user_id"), wk.as("week")).distinct()
    val maxw = uw.agg(max(col("week")).as("maxw"))
    val next = uw.select(col("user_id").as("nu"),
      (col("week") - 604800L).as("nw"))
    val churned = uw.join(next,
      col("user_id") === col("nu") && col("week") === col("nw"), "left_anti")
    val act = uw.groupBy(col("week")).agg(count(lit(1)).as("n_active"))
    val chn = churned.groupBy(col("week")).agg(count(lit(1)).as("n_churned"))
    act.join(chn, Seq("week"), "left")
      .na.fill(0L, Seq("n_churned"))
      .crossJoin(broadcast(maxw))
      .filter(col("week") < col("maxw"))
      .select(col("week"), col("n_active"), col("n_churned"),
        round(col("n_churned").cast("double") / col("n_active"), 6)
          .as("churn_rate"))
  }

  val qChurnSql: String =
    s"""WITH uw AS (SELECT DISTINCT user_id,
       |    ($duckTsSec // 604800) * 604800 AS week
       |  FROM events),
       |act AS (SELECT week, count(*) AS n_active FROM uw GROUP BY 1),
       |chn AS (SELECT a.week, count(*) AS n_churned
       |  FROM uw a
       |  WHERE NOT EXISTS (SELECT 1 FROM uw b
       |    WHERE b.user_id = a.user_id AND b.week = a.week + 604800)
       |  GROUP BY 1)
       |SELECT act.week, act.n_active,
       |  COALESCE(chn.n_churned, 0) AS n_churned,
       |  round(COALESCE(chn.n_churned, 0) * 1.0 / act.n_active, 6)
       |    AS churn_rate
       |FROM act LEFT JOIN chn ON act.week = chn.week
       |WHERE act.week < (SELECT max(week) FROM uw)""".stripMargin

  // ---------------------------------------------------------------- F32
  /** Weekly new-vs-returning split — the acquisition/retention mix
    * behind every growth dashboard, closing the engagement family
    * (F14 retention stock, F31 churn flow, F29 session quality): per
    * epoch-aligned 604800-second week bucket (Thursday-anchored, not
    * an ISO calendar week), users active for the first time vs users seen in
    * any earlier week. One distinct (user, week) fold, each user's
    * first week from the SAME fold (min over user), a broadcast-sized
    * join back, exact integer counts, 6-dp share at the boundary.
    */
  def qNewReturning(spark: SparkSession, dir: String): DataFrame = {
    val wk = (expr("(ts DIV 1000000000) DIV 604800") * 604800L).cast("long")
    val uw = Tables.events(spark, dir)
      .select(col("user_id"), wk.as("week")).distinct()
    val first = uw.groupBy(col("user_id")).agg(min(col("week")).as("fw"))
    uw.join(first, "user_id")
      .groupBy(col("week"))
      .agg(sum(when(col("week") === col("fw"), 1L).otherwise(0L))
          .as("n_new"),
        sum(when(col("week") > col("fw"), 1L).otherwise(0L))
          .as("n_returning"))
      .select(col("week"), col("n_new"), col("n_returning"),
        round(col("n_new").cast("double") /
          (col("n_new") + col("n_returning")), 6).as("new_share"))
  }

  val qNewReturningSql: String =
    s"""WITH uw AS (SELECT DISTINCT user_id,
       |    ($duckTsSec // 604800) * 604800 AS week
       |  FROM events),
       |fw AS (SELECT user_id, min(week) AS fw FROM uw GROUP BY 1)
       |SELECT uw.week,
       |  CAST(sum(CASE WHEN uw.week = fw.fw THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_new,
       |  CAST(sum(CASE WHEN uw.week > fw.fw THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_returning,
       |  round(sum(CASE WHEN uw.week = fw.fw THEN 1 ELSE 0 END) * 1.0
       |    / count(*), 6) AS new_share
       |FROM uw JOIN fw ON uw.user_id = fw.user_id
       |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- F4
  /** JSON property extraction + aggregate. Extraction is a shared
    * regex (identical semantics in both engines, no JSON-lib variance);
    * fully codegen'd in Spark.
    */
  def qJsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        round(sum(col("k")).cast("double") / count(lit(1)), 6).as("avg_k"))

  val qJsonExtractSql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
      |  round(CAST(sum(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS DOUBLE) / count(*), 6) AS avg_k
      |FROM events GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------- F9
  /** Gap-filled 5-minute time series per event type: the dense bucket
    * grid (min..max, generated distributedly from one 2-value
    * aggregate) LEFT-joined against the sparse observed counts,
    * missing buckets zero-filled. The grid side is (range/300 x types)
    * rows — broadcastable at any corpus scale since it grows with TIME
    * SPAN, not data volume; the fact side aggregates before joining.
    */
  def qGapFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), ((tsSec / 300).cast("long") * 300).as("bucket"))
    val counts = ev.groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val bounds = ev.agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
    val grid = bounds
      .select(explode(sequence(col("lo"), col("hi"), lit(300L))).as("bucket"))
      .crossJoin(ev.select(col("event_type")).distinct())
    broadcast(grid)
      .join(counts, Seq("event_type", "bucket"), "left")
      .select(col("event_type"), col("bucket"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  val qGapFillSql: String =
    s"""WITH ev AS (SELECT event_type, ($duckTsSec // 300) * 300 AS bucket FROM events),
       |counts AS (SELECT event_type, bucket, count(*) AS n FROM ev GROUP BY 1, 2),
       |bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM ev),
       |grid AS (SELECT t.event_type, g.bucket
       |  FROM (SELECT DISTINCT event_type FROM ev) t,
       |    (SELECT unnest(generate_series(lo, hi, 300)) AS bucket FROM bounds) g)
       |SELECT grid.event_type, grid.bucket, COALESCE(counts.n, 0) AS n
       |FROM grid LEFT JOIN counts
       |  ON grid.event_type = counts.event_type AND grid.bucket = counts.bucket""".stripMargin

  // ---------------------------------------------------------------- F10
  /** Hopping (sliding) windows: 10-minute windows every 5 minutes via
    * Spark's native sliding `window()` — each event lands in exactly
    * size/slide = 2 windows (the Expand is map-only; one shuffle for
    * the aggregate). Oracle replays the same assignment arithmetic
    * with a 2-row hop series.
    */
  def qHoppingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("ets", timestamp_micros(expr("ts DIV 1000")))
      .groupBy(window(col("ets"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        exactSum(money(col("value"))).cast("double").as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("bucket"),
        col("event_type"), col("n"), col("sum_value"))

  val qHoppingWindowSql: String =
    s"""SELECT (($duckTsSec // 300) - h) * 300 AS bucket, event_type,
       |  count(*) AS n,
       |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
       |FROM events, generate_series(0, 1) g(h)
       |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- F23
  /** Time-weighted average value (TWAP) per event type: each
    * observation carries until the next one in its series, so its
    * weight is the gap to the series successor; the last observation
    * has no successor and drops out. The metric every
    * irregularly-sampled telemetry/market series needs in place of a
    * plain mean (which over-weights bursts). One lead window per
    * series, weighted sums decimal-exact (value at 2 dp × integer
    * seconds), ratio rounded at the boundary. Scale note: ordering is
    * per SERIES (event_type here, symbol/metric-id in production), so
    * parallelism is the series count — the window never orders the
    * whole stream through one task when the key cardinality scales.
    */
  def qTwap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("t").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), tsSec.as("t"),
        col("value").cast("decimal(12,2)").as("v"))
      .withColumn("dt", lead(col("t"), 1).over(w) - col("t"))
      .filter(col("dt").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("dt")).as("total_sec"),
        round((sum(col("v") * col("dt")) / sum(col("dt"))).cast("double"), 6)
          .as("twap"),
        round((sum(col("v")) / count(lit(1))).cast("double"), 6)
          .as("plain_mean"))
  }

  val qTwapSql: String =
    s"""WITH e AS (SELECT event_type, event_id, $duckTsSec AS t,
       |    CAST(value AS DECIMAL(12,2)) AS v FROM events),
       |g AS (SELECT event_type, v,
       |    lead(t, 1) OVER (PARTITION BY event_type
       |      ORDER BY t ASC, event_id ASC) - t AS dt
       |  FROM e)
       |SELECT event_type, count(*) AS n,
       |  CAST(sum(dt) AS BIGINT) AS total_sec,
       |  round(CAST(sum(v * dt) / sum(dt) AS DOUBLE), 6) AS twap,
       |  round(CAST(sum(v) / count(*) AS DOUBLE), 6) AS plain_mean
       |FROM g WHERE dt IS NOT NULL GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------- F24
  /** First-order Markov transition matrix over per-user event
    * sequences: P(next event type | current) from lag pairs, plus the
    * raw pair count. The behavioral-model primitive under session
    * simulation, next-action prediction, and bot detection (a
    * scripted client's transition rows are near-deterministic).
    * Exact integer counts; the conditional probability is the only
    * rounded value. One user_id shuffle for the lag window, then a
    * bounded aggregate (|types|² rows); the per-prev normalizer is a
    * window over that bounded output, not the event stream.
    */
  def qMarkovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t").asc, col("event_id").asc)
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), tsSec.as("t"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_pairs"))
    pairs.withColumn("p_next",
      round(col("n_pairs") / sum(col("n_pairs"))
        .over(Window.partitionBy(col("prev_type"))), 6))
  }

  val qMarkovTransitionsSql: String =
    s"""WITH s AS (SELECT user_id, event_id, $duckTsSec AS t, event_type
       |  FROM events),
       |p AS (SELECT lag(event_type, 1) OVER (PARTITION BY user_id
       |      ORDER BY t ASC, event_id ASC) AS prev_type,
       |    event_type AS next_type FROM s),
       |c AS (SELECT prev_type, next_type, count(*) AS n_pairs FROM p
       |  WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type)
       |SELECT prev_type, next_type, n_pairs,
       |  round(n_pairs / (sum(n_pairs) OVER (PARTITION BY prev_type)), 6)
       |    AS p_next
       |FROM c""".stripMargin

  // ---------------------------------------------------------------- F25
  /** Peak concurrency by sweep-line: per supplier, the maximum number
    * of lineitems simultaneously in flight (shipped, not yet
    * received, half-open [ship, receipt)). Each interval unpivots to
    * a +1/−1 boundary event; a per-supplier running sum over
    * (date, delta) order is the live count and its max is the peak —
    * the interval-overlap primitive (resource load, connection
    * concurrency, occupancy) that never builds pairs, so it is
    * linear in intervals where a self-range-join (A13) is quadratic
    * in the overlap. −1 sorts before +1 on equal dates (delta asc),
    * making same-day turnarounds count zero; exact integer
    * arithmetic end to end. One suppkey shuffle; parallelism is the
    * supplier count.
    */
  def qPeakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    // in-flight window [ship, ship + quantity days): the synthetic
    // lineitem has no receipt date, so delivery time is derived
    // deterministically from quantity (integral 1..50)
    val li = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"),
        unix_timestamp(col("l_shipdate")).as("ship_t"),
        (unix_timestamp(col("l_shipdate")) +
          col("l_quantity").cast("long") * 86400L).as("recv_t"))
    val bounds = li.select(col("l_suppkey"), col("ship_t").as("t"),
        lit(1L).as("delta"))
      .unionByName(li.select(col("l_suppkey"), col("recv_t").as("t"),
        lit(-1L).as("delta")))
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("t").asc, col("delta").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bounds.withColumn("live", sum(col("delta")).over(w))
      .groupBy(col("l_suppkey"))
      .agg((count(lit(1)) / 2).cast("long").as("n_shipments"),
        max(col("live")).as("peak_inflight"))
  }

  val qPeakConcurrencySql: String =
    """WITH b AS (
      |  SELECT l_suppkey, CAST(floor(epoch(l_shipdate)) AS BIGINT) AS t,
      |    1 AS delta FROM lineitem
      |  UNION ALL
      |  SELECT l_suppkey, CAST(floor(epoch(l_shipdate)) AS BIGINT)
      |      + CAST(l_quantity AS BIGINT) * 86400 AS t,
      |    -1 AS delta FROM lineitem),
      |r AS (SELECT l_suppkey,
      |    sum(delta) OVER (PARTITION BY l_suppkey ORDER BY t ASC, delta ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
      |  FROM b)
      |SELECT l_suppkey, CAST(count(*) / 2 AS BIGINT) AS n_shipments,
      |  CAST(max(live) AS BIGINT) AS peak_inflight
      |FROM r GROUP BY l_suppkey""".stripMargin

  // ---------------------------------------------------------------- F19
  /** Kaplan-Meier time-to-conversion curve: per user, the "event" is
    * the FIRST purchase (hours since their first activity); users who
    * never purchase are right-censored at the corpus end — the
    * funnel-survival readout ("what fraction has not yet converted by
    * hour t") that a mean-time-to-convert silently gets wrong under
    * censoring. Per-user facts come from ONE conditional aggregate
    * (min(t), min(t | purchase), max(t) in a single pass). The
    * estimator then runs over the DURATION-HOUR table — bounded by
    * the observation window length in hours, never the user count —
    * so the unpartitioned cumulative windows (at-risk countdown,
    * log-survival prefix sum) are over ≤ ~10³ rows at any corpus size
    * (PlanSpec-exempt, documented there). Survival is the
    * exp-of-summed-logs product (the A28 geomean device) with
    * per-step factors 10-dp-rounded so both engines iterate on
    * identical doubles; an all-events step (factor 0) takes a −1e10
    * sentinel log so the product underflows to exactly 0.0 in both
    * engines instead of tripping ln(0) nullability differences.
    */
  def qKaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), tsSec.as("t"))
      .groupBy(col("user_id"))
      .agg(min(col("t")).as("f"),
        min(when(col("event_type") === "purchase", col("t"))).as("fp"),
        max(col("t")).as("l"))
      .cache()
    val g = users.agg(max(col("l")).as("endg"), count(lit(1)).as("n_users"))
    val byHour = users.crossJoin(broadcast(g))
      .withColumn("is_event", col("fp").isNotNull)
      .withColumn("dur",
        when(col("is_event"), col("fp") - col("f"))
          .otherwise(col("endg") - col("f")))
      .withColumn("dur_hour", expr("dur DIV 3600"))
      .groupBy(col("dur_hour"))
      .agg(sum(when(col("is_event"), 1L).otherwise(0L)).as("d"),
        sum(when(col("is_event"), 0L).otherwise(1L)).as("c"),
        max(col("n_users")).as("n_users"))
    val prior = Window.orderBy(col("dur_hour"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val upto = Window.orderBy(col("dur_hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byHour
      .withColumn("at_risk", col("n_users") -
        coalesce(sum(col("d") + col("c")).over(prior), lit(0L)))
      .withColumn("term",
        when(col("d") === col("at_risk"), lit(-1.0e10))
          .otherwise(round(log(lit(1.0) - col("d") / col("at_risk")), 10)))
      .withColumn("survival", round(exp(sum(col("term")).over(upto)), 6))
      .select(col("dur_hour"), col("at_risk"), col("d").as("n_converted"),
        col("c").as("n_censored"), col("survival"))
  }

  val qKaplanMeierSql: String =
    s"""WITH ev AS (SELECT user_id, event_type, $duckTsSec AS t FROM events),
       |users AS (SELECT user_id, min(t) AS f,
       |    min(CASE WHEN event_type = 'purchase' THEN t END) AS fp,
       |    max(t) AS l
       |  FROM ev GROUP BY 1),
       |g AS (SELECT max(l) AS endg, count(*) AS n_users FROM users),
       |byhour AS (SELECT
       |    (CASE WHEN fp IS NOT NULL THEN fp - f ELSE endg - f END) // 3600 AS dur_hour,
       |    CAST(sum(CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |    CAST(sum(CASE WHEN fp IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS c,
       |    max(n_users) AS n_users
       |  FROM users, g GROUP BY 1),
       |r AS (SELECT dur_hour, d, c, CAST(n_users - COALESCE(sum(d + c) OVER
       |    (ORDER BY dur_hour ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS at_risk
       |  FROM byhour),
       |t AS (SELECT dur_hour, at_risk, d, c,
       |    CASE WHEN d = at_risk THEN -1e10
       |      ELSE round(ln(1.0 - d / CAST(at_risk AS DOUBLE)), 10) END AS term
       |  FROM r)
       |SELECT dur_hour, at_risk, d AS n_converted, c AS n_censored,
       |  round(exp(sum(term) OVER (ORDER BY dur_hour
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS survival
       |FROM t""".stripMargin

  // ---------------------------------------------------------------- F20
  /** Day-of-week × hour-of-day activity heatmap with a uniformity
    * chi-squared verdict — the traffic-seasonality audit. Time cells
    * are PURE integer arithmetic on epoch seconds (dow = (epochday+3)
    * mod 7 with Monday=0, hod = secs-of-day div 3600) — no calendar
    * functions, no timezone trap, bit-identical in both engines. The
    * 168-cell grid comes from ONE range (id div 24 / id mod 24), so
    * silent cells still carry expected mass; counts are exact, the
    * only float is the final share/chi² rounding. One 168-group
    * aggregate with map-side combine at any scale.
    */
  def qSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(tsSec.as("t"))
      .select(expr("((t DIV 86400) + 3) % 7").as("dow"),
        expr("(t % 86400) DIV 3600").as("hod"))
      .groupBy(col("dow"), col("hod")).agg(count(lit(1)).as("n"))
    val grid = spark.range(168)
      .select(expr("id DIV 24").as("dow"), expr("id % 24").as("hod"))
    val g = grid.join(cells, Seq("dow", "hod"), "left")
      .na.fill(0L, Seq("n"))
    val tot = g.agg(sum(col("n")).as("n_tot"))
    val withN = g.crossJoin(broadcast(tot))
    val chi = withN.agg(round(sum(
      pow(col("n") - col("n_tot") / 168.0, 2) /
        (col("n_tot") / 168.0)), 4).as("chi2"))
    withN.crossJoin(broadcast(chi))
      .select(col("dow"), col("hod"), col("n"),
        round(col("n") / col("n_tot"), 6).as("share"),
        col("chi2"),
        // 95% critical value for 167 df
        (col("chi2") < 198.154).as("uniform_ok"))
  }

  val qSeasonalitySql: String =
    s"""WITH cells AS (SELECT (($duckTsSec // 86400) + 3) % 7 AS dow,
       |    ($duckTsSec % 86400) // 3600 AS hod, count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |grid AS (SELECT g // 24 AS dow, g % 24 AS hod
       |  FROM (SELECT unnest(generate_series(0, 167)) AS g)),
       |j AS (SELECT grid.dow, grid.hod, COALESCE(cells.n, 0) AS n
       |  FROM grid LEFT JOIN cells ON grid.dow = cells.dow AND grid.hod = cells.hod),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM j),
       |chi AS (SELECT round(sum(pow(n - n_tot / 168.0, 2)
       |    / (n_tot / 168.0)), 4) AS chi2 FROM j, tot)
       |SELECT j.dow, j.hod, j.n, round(j.n / CAST(n_tot AS DOUBLE), 6) AS share,
       |  chi2, chi2 < 198.154 AS uniform_ok
       |FROM j, tot, chi""".stripMargin

  // ---------------------------------------------------------------- F52
  /** Classical seasonal-trend decomposition (the STL shape, additive)
    * of daily revenue: rev = trend + seasonal + remainder, the
    * decomposition a forecasting or anomaly pipeline consumes —
    * F33 tests WHETHER a weekly pattern exists; this RETURNS it,
    * day by day. Trend = centered 7-CALENDAR-day moving average
    * (RANGE frame on the day number, so a gap in the order calendar
    * shrinks the window and the day is excluded rather than silently
    * averaging non-adjacent days; full windows only); seasonal = the day-of-week mean of the
    * detrended series, centered so the seven effects sum to zero;
    * remainder = what's left. Exact-integer spine END-TO-END (r14:
    * the r13 version centered on c = Σ_g(sg/ng)/7, an UNORDERED
    * 7-term double sum whose association order differs between
    * engines — the driver flagged the hash on debut): daily revenue
    * in cents, the ×7-scaled detrended value d7 = 7·rev_c − Σ7 is
    * pure DECIMAL(38,0)/HUGEINT arithmetic; the per-dow seasonal
    * mean lifts to micro-units via the sign-safe E26 half-up device
    * s6_g = halfUp(sg·10⁶ / ng) (positive-operand DIV under a sign
    * split, so trunc-vs-floor never differs), the zero-centering
    * becomes seasonal_scaled = 7·s6_g − Σ_g s6_g — an exact integer
    * sum of SEVEN longs, order-free — and every published double is
    * ONE division of an exact integer by an exact-double constant
    * (700.0 and 7·10⁶·700 = 4.9e9), identical IEEE in both engines.
    * No unordered double sum and no round(double, n) survives into
    * a hashed cell. Windows and aggregates run over the bounded day
    * table (PlanSpec-exempt, the q_changepoint class); output =
    * full-window days.
    *
    * r15: the headline publish drops its one DECIMAL cell (rev
    * DECIMAL(18,2) → rev_c exact cents BIGINT) — see qBollinger's
    * r15 note for the driver-canonicalization evidence — and the
    * single-double bisect variants q_stl_trend / q_stl_seasonal /
    * q_stl_remainder give the driver one verdict bit per published
    * double so a diverging cell type localizes in one round.
    */
  private def stlFrame(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Tables.orders(spark, dir)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"),
        sum(round(col("o_totalprice") * 100).cast("decimal(38,0)")).as("rc"))
    val w = Window.orderBy(col("day")).rangeBetween(-3, 3)
    val full7 = byDay
      .withColumn("n7", count(col("rc")).over(w))
      .withColumn("s7", sum(col("rc")).over(w))
      .filter(col("n7") === 7)
      .withColumn("dow", (col("day") + 3) % 7)
      .withColumn("d7", (col("rc") * 7 - col("s7")).cast("decimal(38,0)"))
    // s6_g = halfUp(sg·10⁶ / ng), sign-split so the DIV operands stay
    // positive (sg can be negative: it sums detrended values)
    val dows = full7.groupBy(col("dow"))
      .agg(sum(col("d7")).as("sg"), count(lit(1)).as("ng"))
      .withColumn("s6_g",
        when(col("sg") >= 0,
          expr("(2 * sg * 1000000 + ng) DIV (2 * ng)"))
        .otherwise(-expr("(2 * (-sg) * 1000000 + ng) DIV (2 * ng)")))
    val ctr = dows.agg(sum(col("s6_g")).as("ssum"))
    // sign-split casts: DuckDB's negative-HUGEINT→DOUBLE conversion is
    // NOT correctly rounded above 2^53 (measured: ~1% of values off by
    // one ulp; Spark's BigInteger path is exact-nearest both signs) —
    // cast the magnitude, negate the double (negation is exact)
    full7.join(broadcast(dows), "dow").crossJoin(broadcast(ctr))
      .withColumn("seasonal_scaled", col("s6_g") * 7 - col("ssum"))
      .withColumn("rem_num", col("d7") * 7000000 - col("seasonal_scaled"))
  }

  // sign-split decimal→double cast (DuckDB's negative HUGEINT→DOUBLE
  // is not correctly rounded above 2^53; magnitude-cast + exact negate)
  private def sdCast(c: String) = expr(
    s"CASE WHEN $c >= 0 THEN CAST($c AS DOUBLE)" +
      s" ELSE -CAST(-($c) AS DOUBLE) END")

  def qStlDecompose(spark: SparkSession, dir: String): DataFrame =
    stlFrame(spark, dir)
      .select(col("day"), col("rc").cast("long").as("rev_c"),
        (col("s7").cast("double") / 700.0).as("trend"),
        (sdCast("seasonal_scaled") / 4900000000.0).as("seasonal"),
        (sdCast("rem_num") / 4900000000.0).as("remainder"))

  /** Bisect variants (r15, VERDICT ask #1): one published double per
    * query, so the driver's per-query verdict localizes which cell
    * type its hasher canonicalizes differently from DuckDB.
    */
  def qStlTrend(spark: SparkSession, dir: String): DataFrame =
    stlFrame(spark, dir)
      .select(col("day"), (col("s7").cast("double") / 700.0).as("trend"))

  def qStlSeasonal(spark: SparkSession, dir: String): DataFrame =
    stlFrame(spark, dir)
      .select(col("day"),
        (sdCast("seasonal_scaled") / 4900000000.0).as("seasonal"))

  def qStlRemainder(spark: SparkSession, dir: String): DataFrame =
    stlFrame(spark, dir)
      .select(col("day"),
        (sdCast("rem_num") / 4900000000.0).as("remainder"))

  private val stlBaseSql: String =
    """WITH byday AS (SELECT
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
      |    sum(CAST(round(o_totalprice * 100) AS HUGEINT)) AS rc
      |  FROM orders GROUP BY 1),
      |wins AS (SELECT day, rev, rc,
      |    count(rc) OVER w AS n7, sum(rc) OVER w AS s7
      |  FROM byday
      |  WINDOW w AS (ORDER BY day RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |full7 AS (SELECT day, (day + 3) % 7 AS dow, rev, rc, s7,
      |    7 * rc - s7 AS d7
      |  FROM wins WHERE n7 = 7),
      |dows AS (SELECT dow, sum(d7) AS sg, count(*) AS ng
      |  FROM full7 GROUP BY 1),
      |s6 AS (SELECT dow, CASE WHEN sg >= 0
      |      THEN CAST((2 * sg * 1000000 + ng) // (2 * ng) AS BIGINT)
      |      ELSE -CAST((2 * (-sg) * 1000000 + ng) // (2 * ng) AS BIGINT)
      |    END AS s6_g
      |  FROM dows),
      |ctr AS (SELECT CAST(sum(s6_g) AS BIGINT) AS ssum FROM s6),
      |sc AS (SELECT day, rev, rc, s7, d7, 7 * s6_g - ssum AS seasonal_scaled,
      |    d7 * 7000000 - (7 * s6_g - ssum) AS rem_num
      |  FROM full7 JOIN s6 USING (dow), ctr)""".stripMargin

  val qStlDecomposeSql: String = stlBaseSql +
    """
      |SELECT day, CAST(rc AS BIGINT) AS rev_c,
      |  CAST(s7 AS DOUBLE) / 700.0 AS trend,
      |  CASE WHEN seasonal_scaled >= 0 THEN CAST(seasonal_scaled AS DOUBLE)
      |    ELSE -CAST(-(seasonal_scaled) AS DOUBLE) END / 4900000000.0
      |    AS seasonal,
      |  CASE WHEN rem_num >= 0 THEN CAST(rem_num AS DOUBLE)
      |    ELSE -CAST(-(rem_num) AS DOUBLE) END / 4900000000.0
      |    AS remainder
      |FROM sc""".stripMargin

  val qStlTrendSql: String = stlBaseSql +
    """
      |SELECT day, CAST(s7 AS DOUBLE) / 700.0 AS trend FROM sc""".stripMargin

  val qStlSeasonalSql: String = stlBaseSql +
    """
      |SELECT day,
      |  CASE WHEN seasonal_scaled >= 0 THEN CAST(seasonal_scaled AS DOUBLE)
      |    ELSE -CAST(-(seasonal_scaled) AS DOUBLE) END / 4900000000.0
      |    AS seasonal
      |FROM sc""".stripMargin

  val qStlRemainderSql: String = stlBaseSql +
    """
      |SELECT day,
      |  CASE WHEN rem_num >= 0 THEN CAST(rem_num AS DOUBLE)
      |    ELSE -CAST(-(rem_num) AS DOUBLE) END / 4900000000.0
      |    AS remainder
      |FROM sc""".stripMargin

  // ---------------------------------------------------------------- F21
  /** CUSUM change-point detection on the daily event-volume series:
    * the day where the cumulative deviation from the global mean
    * peaks — the level-shift detector an ops pipeline runs on ingest
    * volumes. The cumulative statistic is kept EXACT by scaling:
    * cusum_scaled_t = Σ(n_days·c_i − n_tot) is pure integer
    * arithmetic, so the argmax verdict can never ride a float
    * knife-edge; the readable `cusum` column divides back out and
    * rounds. Runs entirely on the bounded day table (window length in
    * days — PlanSpec-exempt); ties on |cusum| flag every achieving
    * day, deterministically.
    */
  def qChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Tables.events(spark, dir)
      .select(expr("(ts DIV 1000000000) DIV 86400").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val tot = byDay.agg(sum(col("c")).as("n_tot"),
      count(lit(1)).as("n_days"))
    val upto = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cs = byDay.crossJoin(broadcast(tot))
      .withColumn("cusum_scaled",
        sum(col("n_days") * col("c") - col("n_tot")).over(upto))
    val mx = cs.agg(max(abs(col("cusum_scaled"))).as("max_abs"))
    cs.crossJoin(broadcast(mx))
      .select(col("day"), col("c").as("n_events"),
        round(col("cusum_scaled") / col("n_days"), 4).as("cusum"),
        (abs(col("cusum_scaled")) === col("max_abs")).as("is_changepoint"))
  }

  val qChangepointSql: String =
    s"""WITH byday AS (SELECT ($duckTsSec) // 86400 AS day, count(*) AS c
       |  FROM events GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tot, count(*) AS n_days FROM byday),
       |cs AS (SELECT day, c,
       |    CAST(sum(n_days * c - n_tot) OVER (ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cusum_scaled
       |  FROM byday, tot),
       |mx AS (SELECT max(abs(cusum_scaled)) AS max_abs FROM cs)
       |SELECT day, c AS n_events,
       |  round(cusum_scaled / CAST((SELECT n_days FROM tot) AS DOUBLE), 4) AS cusum,
       |  abs(cusum_scaled) = max_abs AS is_changepoint
       |FROM cs, mx""".stripMargin

  // ---------------------------------------------------------------- F22
  /** Top-10 within-session behavior paths: event-type trigrams over
    * the F1 gap-sessionized stream (30-min gap), counted corpus-wide
    * — the "what do users actually do" path-mining readout. Rides the
    * same one-shuffle sessionize as F1, then two leads inside the
    * (user, session) partition; trigram counting is an ordinary
    * bounded aggregate (|event_types|³ groups at most). Deterministic
    * everywhere: the session order ties break on event_id and the
    * top-10 cut orders by (count, path).
    */
  def qTopPaths(spark: SparkSession, dir: String): DataFrame = {
    val s = gapSessionize(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          tsSec.as("t")),
      key = "user_id", timeSec = "t", orderTiebreak = "event_id",
      gapSec = 1800)
    val w2 = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("t").asc, col("event_id").asc)
    s.withColumn("t2", lead(col("event_type"), 1).over(w2))
      .withColumn("t3", lead(col("event_type"), 2).over(w2))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(10)
  }

  val qTopPathsSql: String =
    s"""WITH ev AS (SELECT user_id, event_id, event_type, $duckTsSec AS t
       |  FROM events),
       |m AS (SELECT user_id, event_id, event_type, t,
       |    CASE WHEN t - lag(t, 1) OVER w > 1800
       |           OR lag(t, 1) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY t ASC, event_id ASC)),
       |s AS (SELECT user_id, event_id, event_type, t,
       |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY t ASC, event_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM m),
       |p AS (SELECT event_type AS t1,
       |    lead(event_type, 1) OVER w2 AS t2,
       |    lead(event_type, 2) OVER w2 AS t3
       |  FROM s
       |  WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY t ASC, event_id ASC))
       |SELECT t1 || '>' || t2 || '>' || t3 AS path, count(*) AS n
       |FROM p WHERE t3 IS NOT NULL
       |GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- F26
  /** Autocorrelation function (lags 1–3) of each event type's hourly
    * volume series — the periodicity probe behind capacity planning
    * and anomaly baselines (a strong lag-24 would mean daily rhythm;
    * here 1–3 catch short-range burst persistence). Events fold to
    * (type × hour) counts in ONE aggregate (bounded output: types ×
    * corpus hours), then three lag windows ride a single per-type sort
    * and `corr` folds each (c, lag-k c) pair — the §5-proven
    * round(corr, 6) parity pair. The series is the OBSERVED hour grid
    * (both engines lag over identical rows, so silence-gaps shift
    * both identically; q_gap_fill is the densifying twin when a dense
    * grid is the contract). Scale: the window partitions by type over
    * an already-bounded aggregate — no corpus-sized sort anywhere.
    */
  def qAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(col("event_type"),
        (expr("(ts DIV 1000000000) DIV 3600") * 3600).cast("long").as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour").asc)
    hourly
      .select(col("event_type"), col("c").cast("double").as("c"),
        lag(col("c"), 1).over(w).cast("double").as("c1"),
        lag(col("c"), 2).over(w).cast("double").as("c2"),
        lag(col("c"), 3).over(w).cast("double").as("c3"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        round(corr(col("c"), col("c1")), 6).as("ac1"),
        round(corr(col("c"), col("c2")), 6).as("ac2"),
        round(corr(col("c"), col("c3")), 6).as("ac3"))
  }

  val qAutocorrSql: String =
    s"""WITH hourly AS (SELECT event_type,
      |    ($duckTsSec // 3600) * 3600 AS hour, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |lagged AS (SELECT event_type, CAST(c AS DOUBLE) AS c,
      |    CAST(lag(c, 1) OVER w AS DOUBLE) AS c1,
      |    CAST(lag(c, 2) OVER w AS DOUBLE) AS c2,
      |    CAST(lag(c, 3) OVER w AS DOUBLE) AS c3
      |  FROM hourly
      |  WINDOW w AS (PARTITION BY event_type ORDER BY hour ASC))
      |SELECT event_type, count(*) AS n_hours,
      |  round(corr(c, c1), 6) AS ac1,
      |  round(corr(c, c2), 6) AS ac2,
      |  round(corr(c, c3), 6) AS ac3
      |FROM lagged GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- F43
  /** Theil–Sen robust trend of daily event volume — the slope a
    * monitoring dashboard should trust: OLS over a daily series is
    * dragged by one incident day, the median-of-pairwise-slopes
    * estimator (Theil 1950, Sen 1968) has a 29% breakdown point and
    * needs no outlier pre-filter. Bounded BY CONSTRUCTION at the
    * q_changepoint class: the day table is |observation window| rows,
    * so all-pairs slopes are days² (≤ ~10³ for a month) computed via
    * one broadcast non-equi self-join — never the event count. Days
    * re-index to x = day − min(day) (exact ints); each pairwise slope
    * is one double division rounded at 10 dp inside the percentile
    * (the A15-proven percentile↔quantile_cont pair), intercept =
    * median(y − slope·x) with the same ladder, both published at 6 dp.
    */
  def qTheilSen(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Tables.events(spark, dir)
      .select(expr("(ts DIV 1000000000) DIV 86400").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val d0 = byDay.agg(min(col("day")).as("day0"), count(lit(1)).as("n_days"))
    val xy = byDay.crossJoin(broadcast(d0))
      .select((col("day") - col("day0")).as("x"), col("c"), col("n_days"))
    val slopes = xy.select(col("x").as("x1"), col("c").as("c1"))
      .join(broadcast(xy.select(col("x").as("x2"), col("c").as("c2"))),
        col("x1") < col("x2"))
      .select(((col("c2") - col("c1")).cast("double") /
        (col("x2") - col("x1"))).as("s"))
    val med = slopes.agg(
      expr("percentile(round(s, 10), 0.5)").as("slope"),
      count(lit(1)).as("n_pairs"))
    xy.crossJoin(broadcast(med))
      .agg(max(col("n_days")).as("n_days"), max(col("n_pairs")).as("n_pairs"),
        round(max(col("slope")), 6).as("ts_slope"),
        expr("round(percentile(round(c - slope * x, 10), 0.5), 6)")
          .as("ts_intercept"))
  }

  val qTheilSenSql: String =
    s"""WITH byday AS (SELECT ($duckTsSec) // 86400 AS day, count(*) AS c
       |  FROM events GROUP BY 1),
       |d0 AS (SELECT min(day) AS day0, count(*) AS n_days FROM byday),
       |xy AS (SELECT day - day0 AS x, c, n_days FROM byday, d0),
       |slopes AS (SELECT CAST(b.c - a.c AS DOUBLE) / (b.x - a.x) AS s
       |  FROM xy a JOIN xy b ON a.x < b.x),
       |med AS (SELECT CAST(quantile_cont(round(s, 10), 0.5) AS DOUBLE) AS slope,
       |    count(*) AS n_pairs FROM slopes)
       |SELECT max(n_days) AS n_days, CAST(max(n_pairs) AS BIGINT) AS n_pairs,
       |  round(max(slope), 6) AS ts_slope,
       |  round(CAST(quantile_cont(round(c - slope * x, 10), 0.5) AS DOUBLE), 6)
       |    AS ts_intercept
       |FROM xy, med""".stripMargin

  // ---------------------------------------------------------------- F44
  /** Maximum drawdown of cumulative daily revenue — the
    * worst-peak-to-trough readout (finance's risk statistic, equally
    * the right alarm for any cumulative KPI: "how far below its
    * best-ever level did the running total's PACE fall"). Computed on
    * the bounded day table (|date domain| rows — the q_changepoint
    * class): cumulative revenue and its running maximum are DECIMAL
    * and exact, the drawdown at each day is an exact decimal
    * difference, and the max-drawdown day resolves ties to the
    * EARLIEST trough on integer day arithmetic — no float enters
    * until the published percentage. Here "revenue pace" is daily
    * order revenue relative to the mean day, so the cumulative
    * series can actually draw down (a raw revenue cumsum is
    * monotone): drawdown of Σ(rev_d − mean) measures the deepest
    * sustained below-average stretch, peak-adjusted — the
    * changepoint's severity twin.
    */
  def qDrawdown(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Tables.orders(spark, dir)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    // exact decimal demeaning: subtract the decimal mean scaled by n
    // (n·rev − Σrev keeps everything integer-decimal; dividing by n
    // once at the end preserves ordering, so drawdowns compare on the
    // SCALED series and publish after one division)
    val tot = byDay.agg(sum(col("rev")).as("revtot"),
      count(lit(1)).as("n_days"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scaled = byDay.crossJoin(broadcast(tot))
      .withColumn("dev", col("rev") * col("n_days") - col("revtot"))
      .withColumn("cum", sum(col("dev")).over(w))
      .withColumn("runmax", max(col("cum")).over(w))
      .withColumn("dd", col("runmax") - col("cum"))
    val worst = scaled.agg(max(col("dd")).as("dd"))
    scaled.join(broadcast(worst), "dd")
      .agg(min(col("day")).as("trough_day"), max(col("dd")).as("ddmax"),
        max(col("n_days")).as("n_days"), max(col("revtot")).as("revtot"))
      .select(col("n_days"), col("trough_day"),
        round(col("ddmax").cast("double") / col("n_days"), 2)
          .as("max_drawdown"),
        round((col("ddmax").cast("double") / col("n_days")) /
          (col("revtot").cast("double") / col("n_days")), 6).as("dd_vs_mean_day"))
  }

  val qDrawdownSql: String =
    """WITH byday AS (SELECT
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT sum(rev) AS revtot, count(*) AS n_days FROM byday),
      |scaled AS (SELECT day, rev * n_days - revtot AS dev, n_days, revtot
      |  FROM byday, tot),
      |cums AS (SELECT day, n_days, revtot,
      |    sum(dev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS cum
      |  FROM scaled),
      |dds AS (SELECT day, n_days, revtot,
      |    max(cum) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) - cum AS dd
      |  FROM cums),
      |worst AS (SELECT max(dd) AS dd FROM dds)
      |SELECT max(d.n_days) AS n_days, min(d.day) AS trough_day,
      |  round(CAST(max(d.dd) AS DOUBLE) / max(d.n_days), 2) AS max_drawdown,
      |  round((CAST(max(d.dd) AS DOUBLE) / max(d.n_days)) /
      |    (CAST(max(d.revtot) AS DOUBLE) / max(d.n_days)), 6) AS dd_vs_mean_day
      |FROM dds d JOIN worst ON d.dd = worst.dd""".stripMargin

  // ---------------------------------------------------------------- F45
  /** Bollinger-band outlier days: daily revenue against a mean ± 2σ
    * band from the PRECEDING six days (leave-one-out — today must
    * not inflate the band it is judged against) — the
    * self-calibrating volatility alarm (F11's global z-score uses
    * one corpus-wide σ; a band from the trailing week adapts to
    * regime shifts and seasonality). Parity device (the
    * q_page_hinkley / q_anova integer-cents fold): daily revenue
    * lifts to EXACT integer cents in DECIMAL(38,0), so the window
    * pair (Σ, Σ²) and the variance numerator 6·Σx²−(Σx)² stay exact
    * integers, and the breach verdict itself runs on pure integer
    * arithmetic — rev > mean+2σ ⟺ dev=6·rev_c−s7 > 0 AND
    * 5·dev² > 24·num (squaring the band inequality clears both the
    * /6 mean and the /30 variance denominator) — no float enters
    * the verdict at all, so no engine's decimal→double conversion
    * or summation order can flip it. Publishes (r14, after two
    * rounds of driver-side `round(double, 6)` divergence) are
    * EXACT INTEGERS end-to-end: mean7_micro is the trailing mean
    * in micro-dollars via the E26 half-up integer-division device
    * ((2a+b) DIV 2b on positive operands — identical trunc/floor
    * in both engines), and var7_num is the raw variance numerator
    * 6·Σx²−(Σx)² in cents² (variance = var7_num/30; sd in dollars
    * = sqrt(var7_num/30)/100 — derivable, never hashed as a
    * rounded double). A digit the double representation cannot
    * guarantee never enters a hashed cell. Only days with a full
    * six-day history judge; output is breach days only — bounded
    * by the day table.
    *
    * r15 (3rd round of a driver-side hash FAIL despite local
    * cell-exactness at the driver's own row counts): the two failing
    * queries were the ONLY two in the whole contract publishing
    * DECIMAL-typed cells (rev DECIMAL(18,2), var7_num DECIMAL(38,0))
    * — prime suspect is the driver's DECIMAL canonicalization (e.g.
    * a pandas/pyarrow decimal→float64 path) diverging from DuckDB's.
    * So the headline publish is now DECIMAL-FREE: rev_c = exact
    * revenue CENTS as BIGINT (int64-safe to ≫100 TB: daily cents
    * ~9e14 at sf1e5), var7_num = the cents² numerator as VARCHAR
    * digits (int64 overflows already at sf0.1 — a digit string is
    * scale-proof and canonicalization-proof). In parallel, the
    * column-split bisect variants q_bollinger_iv (int64+string
    * cells only) and q_bollinger_dec (the old decimal cells only)
    * localized the diverging type to a single CORRECTNESS row.
    *
    * r16 CLOSURE: the bisect concluded in r15 — q_bollinger and
    * q_bollinger_iv GREEN, q_bollinger_dec (identical arithmetic,
    * identical rows, DECIMAL cells only) the lone hash FAIL — so the
    * driver's DECIMAL hash canonicalization is the proven culprit
    * and the engine arithmetic is correct. The probe is RETIRED from
    * the contract (VERDICT r15 ask #1); the finding is recorded in
    * TESTDATA.md §"DECIMAL canonicalization" and README. House rule
    * stands: never publish DECIMAL-typed cells.
    */
  private def bollingerStats(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Tables.orders(spark, dir)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"),
        sum(round(col("o_totalprice") * 100).cast("decimal(38,0)")).as("rc"))
    val w = Window.orderBy(col("day")).rowsBetween(-6, -1)
    val stats = byDay
      .withColumn("n7", count(col("rc")).over(w))
      .withColumn("s7", sum(col("rc")).over(w))
      .withColumn("q7", sum((col("rc") * col("rc"))
        .cast("decimal(38,0)")).over(w))
      .filter(col("n7") === 6)
      // exact integers: num = 6·Σx²−(Σx)² ≥ 0 (Cauchy–Schwarz, exact);
      // dev = 6·(rev_c − mean_c)
      .withColumn("num", (col("q7") * 6 - col("s7") * col("s7"))
        .cast("decimal(38,0)"))
      .withColumn("dev", (col("rc") * 6 - col("s7")).cast("decimal(38,0)"))
    stats
      .withColumn("breach",
        when(col("dev") > 0 &&
          (col("dev") * col("dev") * 5).cast("decimal(38,0)") >
            (col("num") * 24).cast("decimal(38,0)"), lit("high"))
        .when(col("dev") < 0 &&
          (col("dev") * col("dev") * 5).cast("decimal(38,0)") >
            (col("num") * 24).cast("decimal(38,0)"), lit("low")))
      .filter(col("breach").isNotNull)
  }

  def qBollinger(spark: SparkSession, dir: String): DataFrame =
    bollingerStats(spark, dir)
      // mean7 in micro-dollars = s7·10⁴/6 half-up = (2·s7·10⁴+6) DIV 12;
      // s7 > 0 always (revenue cents), so trunc-vs-floor never differs
      .select(col("day"), col("rc").cast("long").as("rev_c"),
        expr("(2 * s7 * 10000 + 6) DIV 12").as("mean7_micro"),
        col("num").cast("string").as("var7_num"),
        col("breach"))

  /** Bisect variant (r15, VERDICT ask #1): the int64+string cells of
    * q_bollinger only. It passed while the (now-retired) decimal-only
    * split failed — the driver's DECIMAL canonicalization was the
    * proven culprit; see the r16 CLOSURE note on bollingerStats.
    */
  def qBollingerIv(spark: SparkSession, dir: String): DataFrame =
    bollingerStats(spark, dir)
      .select(col("day"),
        expr("(2 * s7 * 10000 + 6) DIV 12").as("mean7_micro"),
        col("breach"))

  private val bollingerBaseSql: String =
    """WITH byday AS (SELECT
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
      |    sum(CAST(round(o_totalprice * 100) AS HUGEINT)) AS rc
      |  FROM orders GROUP BY 1),
      |wins AS (SELECT day, rev, rc,
      |    count(rc) OVER w AS n7, sum(rc) OVER w AS s7,
      |    sum(rc * rc) OVER w AS q7
      |  FROM byday
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)),
      |full7 AS (SELECT day, rev, rc,
      |    6 * q7 - s7 * s7 AS num, 6 * rc - s7 AS dev, s7
      |  FROM wins WHERE n7 = 6),
      |breach AS (SELECT day, rev, rc, s7, num,
      |    CASE WHEN dev > 0 AND 5 * dev * dev > 24 * num THEN 'high'
      |      WHEN dev < 0 AND 5 * dev * dev > 24 * num THEN 'low' END AS breach
      |  FROM full7)""".stripMargin

  val qBollingerSql: String = bollingerBaseSql +
    """
      |SELECT day, CAST(rc AS BIGINT) AS rev_c,
      |  CAST((2 * s7 * 10000 + 6) // 12 AS BIGINT) AS mean7_micro,
      |  CAST(num AS VARCHAR) AS var7_num, breach
      |FROM breach WHERE breach IS NOT NULL""".stripMargin

  val qBollingerIvSql: String = bollingerBaseSql +
    """
      |SELECT day,
      |  CAST((2 * s7 * 10000 + 6) // 12 AS BIGINT) AS mean7_micro, breach
      |FROM breach WHERE breach IS NOT NULL""".stripMargin

  // ---------------------------------------------------------------- F46
  /** Nelson–Aalen cumulative-hazard estimator of signup→purchase
    * conversion — F19's counting-process twin: Kaplan–Meier publishes
    * the survival CURVE, Nelson–Aalen the cumulative hazard H(t) =
    * Σ_{s≤t} d_s/n_s whose increments ARE the per-interval conversion
    * intensity (the quantity a hazard-regression or a retention-decay
    * model consumes), plus the Poisson-variance band Σ d/n² a KM
    * transform does not expose. Identical bounded construction:
    * per-user first-touch/first-purchase, durations floored to HOURS
    * (the cumulative windows run over the duration-hour table,
    * bounded by the observation span, never the user count —
    * PlanSpec-exempt, the F19 class). Parity device as F19: each
    * hazard increment rounds at 10 dp BEFORE the ordered cumulative
    * sum (both engines then add identical IEEE values in identical
    * order), publishes at 6 dp. The Fleming–Harrington survival
    * exp(−H) ≥ the KM product-limit estimate everywhere — a
    * cross-estimator invariant the spec asserts.
    */
  def qNelsonAalen(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), tsSec.as("t"))
      .groupBy(col("user_id"))
      .agg(min(col("t")).as("f"),
        min(when(col("event_type") === "purchase", col("t"))).as("fp"),
        max(col("t")).as("l"))
      .cache()
    val g = users.agg(max(col("l")).as("endg"), count(lit(1)).as("n_users"))
    val byHour = users.crossJoin(broadcast(g))
      .withColumn("is_event", col("fp").isNotNull)
      .withColumn("dur",
        when(col("is_event"), col("fp") - col("f"))
          .otherwise(col("endg") - col("f")))
      .withColumn("dur_hour", expr("dur DIV 3600"))
      .groupBy(col("dur_hour"))
      .agg(sum(when(col("is_event"), 1L).otherwise(0L)).as("d"),
        sum(when(col("is_event"), 0L).otherwise(1L)).as("c"),
        max(col("n_users")).as("n_users"))
    val prior = Window.orderBy(col("dur_hour"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val upto = Window.orderBy(col("dur_hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byHour
      .withColumn("at_risk", col("n_users") -
        coalesce(sum(col("d") + col("c")).over(prior), lit(0L)))
      .withColumn("h_inc",
        round(col("d").cast("double") / col("at_risk"), 10))
      .withColumn("v_inc",
        round(col("d").cast("double") /
          (col("at_risk").cast("double") * col("at_risk")), 10))
      .withColumn("cum_hazard", round(sum(col("h_inc")).over(upto), 6))
      .withColumn("hazard_se",
        round(sqrt(sum(col("v_inc")).over(upto)), 6))
      .withColumn("fh_survival",
        round(exp(-sum(col("h_inc")).over(upto)), 6))
      .select(col("dur_hour"), col("at_risk"), col("d").as("n_converted"),
        col("c").as("n_censored"), col("cum_hazard"), col("hazard_se"),
        col("fh_survival"))
  }

  val qNelsonAalenSql: String =
    s"""WITH ev AS (SELECT user_id, event_type, $duckTsSec AS t FROM events),
       |users AS (SELECT user_id, min(t) AS f,
       |    min(CASE WHEN event_type = 'purchase' THEN t END) AS fp,
       |    max(t) AS l
       |  FROM ev GROUP BY 1),
       |g AS (SELECT max(l) AS endg, count(*) AS n_users FROM users),
       |byhour AS (SELECT
       |    (CASE WHEN fp IS NOT NULL THEN fp - f ELSE endg - f END) // 3600 AS dur_hour,
       |    CAST(sum(CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |    CAST(sum(CASE WHEN fp IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS c,
       |    max(n_users) AS n_users
       |  FROM users, g GROUP BY 1),
       |r AS (SELECT dur_hour, d, c, CAST(n_users - COALESCE(sum(d + c) OVER
       |    (ORDER BY dur_hour ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS at_risk
       |  FROM byhour),
       |t AS (SELECT dur_hour, at_risk, d, c,
       |    round(CAST(d AS DOUBLE) / at_risk, 10) AS h_inc,
       |    round(CAST(d AS DOUBLE) / (CAST(at_risk AS DOUBLE) * at_risk), 10) AS v_inc
       |  FROM r)
       |SELECT dur_hour, at_risk, d AS n_converted, c AS n_censored,
       |  round(sum(h_inc) OVER w, 6) AS cum_hazard,
       |  round(sqrt(sum(v_inc) OVER w), 6) AS hazard_se,
       |  round(exp(-sum(h_inc) OVER w), 6) AS fh_survival
       |FROM t
       |WINDOW w AS (ORDER BY dur_hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  // ---------------------------------------------------------------- F47
  /** Per-user burstiness (Fano factor of the daily event-count
    * series over the full observation span): the over-dispersion
    * readout behind bot/scraper triage — a Poisson-ish human clicks
    * with F ≈ 1, a scheduled scraper under-disperses (F < 1), a
    * bursty incident-driven account over-disperses (F ≫ 1). F11's
    * z-score flags WHICH days spike; this says WHICH USERS have a
    * spiky temporal signature at all. Variance over the span
    * includes the silent days WITHOUT materializing them: zero-count
    * days contribute nothing to Σc or Σc², so mean = Σc/span and
    * var = Σc²/span − mean² need only the observed (user, day) rows
    * plus the broadcast global span — exact integers until the two
    * final divisions. One keyed (user, day) aggregate + one keyed
    * user aggregate; output |users| rows.
    */
  def qBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts DIV 1000000000 DIV 86400")
        .cast("long").as("day"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("cnt"))
    val span = daily.agg(
      (max(col("day")) - min(col("day")) + 1).cast("long").as("span_days"))
    val perUser = daily.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_active_days"),
        sum(col("cnt")).cast("long").as("n_events"),
        sum(col("cnt") * col("cnt")).cast("long").as("sumsq"))
    val mean = col("n_events").cast("double") / col("span_days")
    val variance = col("sumsq").cast("double") / col("span_days") - mean * mean
    perUser.crossJoin(broadcast(span))
      .select(col("user_id"), col("n_events"), col("n_active_days"),
        col("span_days"), round(variance / mean, 6).as("fano"))
      .withColumn("bursty", col("fano") > 1.5)
  }

  val qBurstinessSql: String =
    s"""WITH daily AS (SELECT user_id, $duckTsSec // 86400 AS day,
       |    count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |span AS (SELECT CAST(max(day) - min(day) + 1 AS BIGINT) AS span_days
       |  FROM daily),
       |pu AS (SELECT user_id, count(*) AS n_active_days,
       |    CAST(sum(cnt) AS BIGINT) AS n_events,
       |    CAST(sum(cnt * cnt) AS BIGINT) AS sumsq
       |  FROM daily GROUP BY 1)
       |SELECT user_id, n_events, n_active_days, span_days,
       |  round((CAST(sumsq AS DOUBLE) / span_days
       |      - (CAST(n_events AS DOUBLE) / span_days)
       |        * (CAST(n_events AS DOUBLE) / span_days))
       |    / (CAST(n_events AS DOUBLE) / span_days), 6) AS fano,
       |  (round((CAST(sumsq AS DOUBLE) / span_days
       |      - (CAST(n_events AS DOUBLE) / span_days)
       |        * (CAST(n_events AS DOUBLE) / span_days))
       |    / (CAST(n_events AS DOUBLE) / span_days), 6) > 1.5) AS bursty
       |FROM pu, span""".stripMargin

  // ---------------------------------------------------------------- F48
  /** Holt linear-trend (double exponential) smoothing of monthly
    * revenue with one-step-ahead forecasts — the trend-aware
    * successor to A23's flat EWMA, and the first GENUINELY sequential
    * recursion in the engine: l_t = αy_t + (1−α)(l_{t−1}+b_{t−1}),
    * b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1} has no closed form once each
    * step rounds, so the chain must actually fold.
    *
    * Two deliberately different executions, one arithmetic: Spark
    * folds the calendar-bounded series in a single `aggregate()`
    * higher-order call (the whole recursion is ONE codegen'd
    * expression over an ~80-element array — measured 100× cheaper
    * than the UnionLoop recursive-CTE formulation, whose per-step
    * scheduling costs ~270 ms × n_months in local mode); the DuckDB
    * oracle replays the identical per-step arithmetic as a recursive
    * CTE. Each step's level/trend round to 6 dp so both engines feed
    * identical IEEE doubles into the next step — cross-engine
    * agreement here proves the fold and the recursion compute the
    * same chain, step for step.
    *
    * 100 TB shape: revenue pre-aggregates map-side per month (the
    * only corpus-scale pass); the fold runs on one row whose array
    * length is bounded by the CALENDAR, not the data. α=0.3, β=0.1;
    * a single-month series degenerates to NULL trend/forecast, never
    * an error.
    */
  def qHoltForecast(spark: SparkSession, dir: String): DataFrame = {
    val mrev = Tables.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(18,2)")
        .as("rev"))
    // the whole chain stays EXACT DECIMAL(18,6): a 6-dp decimal is not
    // binary-exact, so a double-based fold lands round() on half-ulp
    // knife edges (observed at sf0.001/sf0.1); decimal arithmetic has
    // no representation error, and both engines tie-break half-away-
    // from-zero on exact decimals
    val d6 = "decimal(18,6)"
    val lNew = s"cast(round(0.3 * x.rev + 0.7 * (acc.l + acc.b), 6) as $d6)"
    val bNew = s"cast(round(0.1 * ($lNew - acc.l) + 0.9 * acc.b, 6) as $d6)"
    mrev.agg(array_sort(collect_list(struct(col("month"), col("rev")))).as("s"))
      .select(explode(expr(
        s"""aggregate(
           |  slice(s, 2, greatest(size(s) - 1, 0)),
           |  named_struct(
           |    'l', cast(get(s, 0).rev as $d6),
           |    'b', cast(get(s, 1).rev - get(s, 0).rev as $d6),
           |    'out', array(named_struct(
           |      'month', get(s, 0).month, 'rev', get(s, 0).rev,
           |      'level', cast(get(s, 0).rev as $d6),
           |      'trend', cast(get(s, 1).rev - get(s, 0).rev as $d6),
           |      'forecast', cast(null as $d6),
           |      'fc_error', cast(null as $d6)))),
           |  (acc, x) -> named_struct(
           |    'l', $lNew,
           |    'b', $bNew,
           |    'out', concat(acc.out, array(named_struct(
           |      'month', x.month, 'rev', x.rev,
           |      'level', $lNew,
           |      'trend', $bNew,
           |      'forecast', cast(acc.l + acc.b as $d6),
           |      'fc_error', cast(x.rev - (acc.l + acc.b) as $d6))))),
           |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.month").as("month"),
        col("r.rev").cast("double").as("rev"),
        col("r.level").cast("double").as("level"),
        col("r.trend").cast("double").as("trend"),
        col("r.forecast").cast("double").as("forecast"),
        col("r.fc_error").cast("double").as("fc_error"))
  }

  val qHoltForecastSql: String =
    """WITH RECURSIVE
      |mrev AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
      |  FROM orders GROUP BY 1),
      |idx AS (SELECT month, rev,
      |    CAST(row_number() OVER (ORDER BY month) AS INT) AS i FROM mrev),
      |holt(i, l, b) AS (
      |  SELECT 1, CAST((SELECT rev FROM idx WHERE i = 1) AS DECIMAL(18,6)),
      |    CAST((SELECT rev FROM idx WHERE i = 2)
      |      - (SELECT rev FROM idx WHERE i = 1) AS DECIMAL(18,6))
      |  UNION ALL
      |  SELECT h.i + 1,
      |    CAST(round(0.3 * x.rev + 0.7 * (h.l + h.b), 6) AS DECIMAL(18,6)),
      |    CAST(round(0.1 * (CAST(round(0.3 * x.rev + 0.7 * (h.l + h.b), 6)
      |        AS DECIMAL(18,6)) - h.l) + 0.9 * h.b, 6) AS DECIMAL(18,6))
      |  FROM holt h JOIN idx x ON x.i = h.i + 1)
      |SELECT x.month, CAST(x.rev AS DOUBLE) AS rev,
      |  CAST(h.l AS DOUBLE) AS level, CAST(h.b AS DOUBLE) AS trend,
      |  CAST(CAST(hp.l + hp.b AS DECIMAL(18,6)) AS DOUBLE) AS forecast,
      |  CAST(CAST(x.rev - (hp.l + hp.b) AS DECIMAL(18,6)) AS DOUBLE) AS fc_error
      |FROM idx x JOIN holt h ON h.i = x.i
      |LEFT JOIN holt hp ON hp.i = x.i - 1""".stripMargin

  // ---------------------------------------------------------------- F49
  /** Page–Hinkley drift detector over daily purchase revenue — the
    * sequential changepoint monitor (F34's batch CUSUM cousin) a
    * pipeline runs on every arriving day: m_t = Σ_{i≤t}(x_i − x̄_i),
    * PH_t = m_t − min_{i≤t} m_i, alarm when PH exceeds λ. The entire
    * chain is EXACT integer arithmetic in micro-cent units: the
    * running mean uses the half-up integer division device
    * ((2·S·10⁶ + t) DIV (2t), positive operands so trunc = floor in
    * both engines) on DECIMAL(38,0)/HUGEINT cumulative sums, the
    * deviation sum and running minimum stay integral, and the alarm
    * compares integers — no IEEE double exists anywhere before the
    * final publish cast (a double-based running sum would hit
    * engine-specific window-aggregation association orders). Daily
    * pre-aggregation is the only corpus-scale pass; the window runs
    * over a calendar-bounded series. λ = $10,000.
    */
  def qPageHinkley(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val daily = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(expr("(ts DIV 1000000000) DIV 86400").cast("long").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("x"))
    val dec = "decimal(38,0)"
    val m = daily
      .withColumn("t", row_number().over(Window.orderBy(col("day"))))
      .withColumn("s", sum(col("x").cast(dec)).over(w))
      .withColumn("mean6", expr(
        s"cast((2 * s * 1000000 + t) div (2 * t) as $dec)"))
      .withColumn("term6", col("x").cast(dec) * lit(1000000) - col("mean6"))
      .withColumn("m6", sum(col("term6")).over(w))
      .withColumn("mmin6", min(col("m6")).over(w))
      .withColumn("ph6", col("m6") - col("mmin6"))
    m.select(col("day"),
      round(col("x") / 100.0, 2).as("revenue"),
      round(col("mean6").cast("double") / 1e8, 4).as("running_mean"),
      round(col("ph6").cast("double") / 1e8, 4).as("ph"),
      (col("ph6") > expr(s"cast(1000000 as $dec)") * lit(100) * lit(10000))
        .as("alarm"))
  }

  val qPageHinkleySql: String =
    """WITH daily AS (SELECT
      |    (CAST(floor(epoch(ts)) AS BIGINT)) // 86400 AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |c1 AS (SELECT day, x,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
      |    CAST(sum(CAST(x AS HUGEINT)) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS s
      |  FROM daily),
      |c2 AS (SELECT *,
      |    (2 * s * 1000000 + t) // (2 * t) AS mean6 FROM c1),
      |c3 AS (SELECT *,
      |    CAST(x AS HUGEINT) * 1000000 - mean6 AS term6 FROM c2),
      |c4 AS (SELECT *, CAST(sum(term6) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS m6
      |  FROM c3),
      |c5 AS (SELECT *, min(m6) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mmin6
      |  FROM c4)
      |SELECT day, round(x / 100.0, 2) AS revenue,
      |  round(CAST(mean6 AS DOUBLE) / 1e8, 4) AS running_mean,
      |  round(CAST(m6 - mmin6 AS DOUBLE) / 1e8, 4) AS ph,
      |  (m6 - mmin6) > CAST(1000000 AS HUGEINT) * 100 * 10000 AS alarm
      |FROM c5""".stripMargin

  // ---------------------------------------------------------------- F51
  /** Trailing 7-day rolling correlation between daily purchase revenue
    * and daily event volume — the co-movement monitor behind every
    * "did engagement decouple from spend this week?" dashboard (A43's
    * cross-correlation scans lags globally; this watches ONE lag-0
    * relationship drift through time). Per day, the trailing frame's
    * six moment sums (n, Σx, Σy, Σxy, Σx², Σy²) accumulate over EXACT
    * integer inputs — every sum stays < 2⁵³ at the day grain, so the
    * decimal→double casts are exact and the one Pearson evaluation
    * per day runs identical IEEE arithmetic in both engines (6-dp
    * publish). Degenerate frames (variance 0, frame < 3 days) → NULL.
    * Daily pre-aggregation is the only corpus-scale pass; the sliding
    * windows run over the calendar-bounded day table.
    */
  def qRollingCorr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .select(expr("(ts DIV 1000000000) DIV 86400").cast("long").as("day"),
        when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L).as("cents"))
      .groupBy(col("day"))
      .agg(sum(col("cents")).as("x"), count(lit(1)).as("y"))
    val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val m = daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(dec(col("x"))).over(w).cast("double"))
      .withColumn("sy", sum(dec(col("y"))).over(w).cast("double"))
      .withColumn("sxy", sum(dec(col("x")) * dec(col("y"))).over(w).cast("double"))
      .withColumn("sxx", sum(dec(col("x")) * dec(col("x"))).over(w).cast("double"))
      .withColumn("syy", sum(dec(col("y")) * dec(col("y"))).over(w).cast("double"))
      .withColumn("vx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("n") * col("syy") - col("sy") * col("sy"))
    m.select(col("day"), round(col("x") / 100.0, 2).as("revenue"),
      col("y").as("n_events"), col("n").as("frame_days"),
      when(col("n") < 3 || col("vx") <= 0 || col("vy") <= 0,
        lit(null).cast("double"))
        .otherwise(round((col("n") * col("sxy") - col("sx") * col("sy"))
          / sqrt(col("vx") * col("vy")), 6)).as("rolling_corr"))
  }

  val qRollingCorrSql: String =
    """WITH daily AS (SELECT
      |    (CAST(floor(epoch(ts)) AS BIGINT)) // 86400 AS day,
      |    CAST(sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
      |    count(*) AS y
      |  FROM events GROUP BY 1),
      |m AS (SELECT day, x, y,
      |    count(*) OVER w AS n,
      |    CAST(CAST(sum(CAST(x AS HUGEINT)) OVER w AS HUGEINT) AS DOUBLE) AS sx,
      |    CAST(CAST(sum(CAST(y AS HUGEINT)) OVER w AS HUGEINT) AS DOUBLE) AS sy,
      |    CAST(CAST(sum(CAST(x AS HUGEINT) * y) OVER w AS HUGEINT) AS DOUBLE) AS sxy,
      |    CAST(CAST(sum(CAST(x AS HUGEINT) * x) OVER w AS HUGEINT) AS DOUBLE) AS sxx,
      |    CAST(CAST(sum(CAST(y AS HUGEINT) * y) OVER w AS HUGEINT) AS DOUBLE) AS syy
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
      |v AS (SELECT *, n * sxx - sx * sx AS vx, n * syy - sy * sy AS vy FROM m)
      |SELECT day, round(x / 100.0, 2) AS revenue, y AS n_events,
      |  n AS frame_days,
      |  CASE WHEN n < 3 OR vx <= 0 OR vy <= 0 THEN CAST(NULL AS DOUBLE)
      |    ELSE round((n * sxy - sx * sy) / sqrt(vx * vy), 6)
      |  END AS rolling_corr
      |FROM v""".stripMargin

  // ---------------------------------------------------------------- F53
  /** Ljung–Box portmanteau test (Ljung & Box 1978) — the "is there
    * ANY serial structure left" verdict F26's per-lag autocorrelations
    * feed: Q = n(n+2)·Σ_{k=1..6} r_k²/(n−k) against χ²₆. The proper
    * LB autocorrelation (full-series mean and denominator, partial
    * numerator) is ENGINE-EXACT here because the hourly counts are
    * integers: center as ỹ_t = n·y_t − S (exact longs), then every
    * numerator Σ ỹ_t·ỹ_{t−k} and the denominator Σ ỹ² are exact
    * DECIMAL(38,0) sums — each r_k ONE double division. Q itself is a
    * FIXED-ORDER six-term expression over the r_k columns (pivoted,
    * never an unordered double sum — the q_stl lesson). One corpus
    * scan → hour table (observation-window-bounded) → one window pass
    * with six lags → one aggregate per type. Verdict cuts rounded Q
    * at χ²₆(.05) = 12.592.
    */
  def qLjungBox(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("(ts DIV 1000000000) DIV 3600").as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("y"))
    val tot = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour").asc)
    val centered = hourly.join(tot, "event_type")
      .withColumn("yt", col("n") * col("y") - col("s")) // exact ×n-scaled
      .withColumn("l1", lag(col("yt"), 1).over(w))
      .withColumn("l2", lag(col("yt"), 2).over(w))
      .withColumn("l3", lag(col("yt"), 3).over(w))
      .withColumn("l4", lag(col("yt"), 4).over(w))
      .withColumn("l5", lag(col("yt"), 5).over(w))
      .withColumn("l6", lag(col("yt"), 6).over(w))
    val d38 = "decimal(38,0)"
    // cast BEFORE the multiply: ỹ² is corpus-rate-squared and must
    // never ride a LONG at high SF
    val agg = centered.groupBy(col("event_type")).agg(
      max(col("n")).as("n"),
      sum(col("yt").cast(d38) * col("yt")).as("den"),
      sum(col("yt").cast(d38) * col("l1")).as("c1"),
      sum(col("yt").cast(d38) * col("l2")).as("c2"),
      sum(col("yt").cast(d38) * col("l3")).as("c3"),
      sum(col("yt").cast(d38) * col("l4")).as("c4"),
      sum(col("yt").cast(d38) * col("l5")).as("c5"),
      sum(col("yt").cast(d38) * col("l6")).as("c6"))
    def r(k: Int) = (col(s"c$k").cast("double") / col("den").cast("double"))
    val q = (lit(1.0) * r(1) * r(1) / (col("n") - 1) +
      r(2) * r(2) / (col("n") - 2) + r(3) * r(3) / (col("n") - 3) +
      r(4) * r(4) / (col("n") - 4) + r(5) * r(5) / (col("n") - 5) +
      r(6) * r(6) / (col("n") - 6)) * col("n") * (col("n") + 2)
    agg.select(col("event_type"), col("n").as("n_hours"),
      round(r(1), 6).as("r1"), round(r(2), 6).as("r2"),
      round(r(3), 6).as("r3"), round(r(6), 6).as("r6"),
      round(q, 6).as("q_stat"))
      .withColumn("serial_structure", col("q_stat") > 12.592)
  }

  val qLjungBoxSql: String =
    s"""WITH hourly AS (SELECT event_type, ($duckTsSec) // 3600 AS hour,
      |    count(*) AS y
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT event_type, count(*) AS n, sum(y) AS s
      |  FROM hourly GROUP BY 1),
      |c AS (SELECT h.event_type, t.n, t.n * h.y - t.s AS yt,
      |    lag(t.n * h.y - t.s, 1) OVER w AS l1,
      |    lag(t.n * h.y - t.s, 2) OVER w AS l2,
      |    lag(t.n * h.y - t.s, 3) OVER w AS l3,
      |    lag(t.n * h.y - t.s, 4) OVER w AS l4,
      |    lag(t.n * h.y - t.s, 5) OVER w AS l5,
      |    lag(t.n * h.y - t.s, 6) OVER w AS l6
      |  FROM hourly h JOIN tot t ON h.event_type = t.event_type
      |  WINDOW w AS (PARTITION BY h.event_type ORDER BY h.hour ASC)),
      |agg AS (SELECT event_type, max(n) AS n,
      |    sum(CAST(yt AS HUGEINT) * yt) AS den,
      |    sum(CAST(yt AS HUGEINT) * l1) AS c1,
      |    sum(CAST(yt AS HUGEINT) * l2) AS c2,
      |    sum(CAST(yt AS HUGEINT) * l3) AS c3,
      |    sum(CAST(yt AS HUGEINT) * l4) AS c4,
      |    sum(CAST(yt AS HUGEINT) * l5) AS c5,
      |    sum(CAST(yt AS HUGEINT) * l6) AS c6
      |  FROM c GROUP BY 1),
      |r AS (SELECT event_type, n,
      |    CAST(c1 AS DOUBLE) / CAST(den AS DOUBLE) AS r1,
      |    CAST(c2 AS DOUBLE) / CAST(den AS DOUBLE) AS r2,
      |    CAST(c3 AS DOUBLE) / CAST(den AS DOUBLE) AS r3,
      |    CAST(c4 AS DOUBLE) / CAST(den AS DOUBLE) AS r4,
      |    CAST(c5 AS DOUBLE) / CAST(den AS DOUBLE) AS r5,
      |    CAST(c6 AS DOUBLE) / CAST(den AS DOUBLE) AS r6
      |  FROM agg)
      |SELECT event_type, n AS n_hours,
      |  round(r1, 6) AS r1, round(r2, 6) AS r2,
      |  round(r3, 6) AS r3, round(r6, 6) AS r6,
      |  round((1.0 * r1 * r1 / (n - 1) + r2 * r2 / (n - 2)
      |    + r3 * r3 / (n - 3) + r4 * r4 / (n - 4)
      |    + r5 * r5 / (n - 5) + r6 * r6 / (n - 6)) * n * (n + 2), 6)
      |    AS q_stat,
      |  round((1.0 * r1 * r1 / (n - 1) + r2 * r2 / (n - 2)
      |    + r3 * r3 / (n - 3) + r4 * r4 / (n - 4)
      |    + r5 * r5 / (n - 5) + r6 * r6 / (n - 6)) * n * (n + 2), 6)
      |    > 12.592 AS serial_structure
      |FROM r""".stripMargin

  // ---------------------------------------------------------------- F68
  /** Tabular CUSUM control chart (Page 1954) — the third classic of
    * the drift family: F34's changepoint locates a PAST break
    * retrospectively, F49's Page–Hinkley monitors a mean drift with a
    * decay dial, CUSUM is the standard two-sided control chart
    * (S⁺/S⁻ accumulating excursions beyond a half-shift allowance k,
    * alarm at h = 4σ) every SPC deployment runs. ENGINE-EXACT end to
    * end: daily revenue centers as e_t = n·r_t − R (exact longs, the
    * F53 device) whose sd is √V for the exact integer variance
    * numerator V = nΣr² − R²; k = round(√V/2) and h = round(4·√V)
    * are engine-exact because IEEE-754 sqrt is CORRECTLY ROUNDED
    * (bit-identical in both engines — unlike ln/exp, which is why
    * the ln-based operators quantize instead); the recursion
    * S⁺_t = max(0, S⁺+e_t−k), S⁻_t = max(0, S⁻−e_t−k) is an ordered
    * HOF fold in pure integers (the F48 Holt device, integer form),
    * replayed by a recursive CTE in the oracle. Day-table-bounded
    * after one corpus aggregate; every published cell an exact long
    * or bool.
    */
  def qCusum(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("(ts DIV 1000000000) DIV 86400").cast("long").as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("rev"))
    val d38 = "decimal(38,0)"
    val tot = daily.agg(count(lit(1)).as("n"),
      sum(col("rev").cast(d38)).as("r"),
      sum((col("rev").cast(d38)) * col("rev")).as("q"))
      .select(col("n"), col("r"),
        (col("n") * col("q") - col("r") * col("r")).as("v"))
      .select(col("n"), col("r"),
        round(sqrt(col("v").cast("double")) / 2).cast("long").as("k"),
        round(lit(4.0) * sqrt(col("v").cast("double"))).cast("long").as("h"))
    val e = daily.crossJoin(broadcast(tot))
      .select(col("day"), col("rev"),
        (col("n") * col("rev") - col("r").cast(d38)).cast("long").as("e"),
        col("k"), col("h"))
    e.agg(max(col("k")).as("k"), max(col("h")).as("h"),
        array_sort(collect_list(struct(col("day"), col("rev"), col("e"))))
          .as("s"))
      .select(col("k"), col("h"), explode(expr(
        """aggregate(s,
          |  named_struct('sp', cast(0 as bigint), 'sn', cast(0 as bigint),
          |    'out', cast(array() as array<struct<day:bigint,rev:bigint,
          |      sp:bigint,sn:bigint>>)),
          |  (acc, x) -> named_struct(
          |    'sp', greatest(cast(0 as bigint), acc.sp + x.e - k),
          |    'sn', greatest(cast(0 as bigint), acc.sn - x.e - k),
          |    'out', concat(acc.out, array(named_struct(
          |      'day', x.day, 'rev', x.rev,
          |      'sp', greatest(cast(0 as bigint), acc.sp + x.e - k),
          |      'sn', greatest(cast(0 as bigint), acc.sn - x.e - k))))),
          |  acc -> acc.out)""".stripMargin)).as("r0"))
      .select(col("r0.day").as("day"), col("r0.rev").as("rev_cents"),
        col("r0.sp").as("s_plus"), col("r0.sn").as("s_minus"),
        (col("r0.sp") > col("h")).as("alarm_up"),
        (col("r0.sn") > col("h")).as("alarm_down"))
  }

  val qCusumSql: String =
    s"""WITH RECURSIVE daily AS (SELECT ($duckTsSec) // 86400 AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |tot AS (SELECT count(*) AS n, sum(CAST(rev AS HUGEINT)) AS r,
      |    count(*) * sum(CAST(rev AS HUGEINT) * rev)
      |      - sum(CAST(rev AS HUGEINT)) * sum(CAST(rev AS HUGEINT)) AS v
      |  FROM daily),
      |kh AS (SELECT n, r,
      |    CAST(round(sqrt(CAST(v AS DOUBLE)) / 2) AS BIGINT) AS k,
      |    CAST(round(4.0 * sqrt(CAST(v AS DOUBLE))) AS BIGINT) AS h
      |  FROM tot),
      |idx AS (SELECT day, rev,
      |    CAST(n * rev - r AS BIGINT) AS e,
      |    CAST(row_number() OVER (ORDER BY day ASC) AS BIGINT) AS i
      |  FROM daily, kh),
      |cs(i, sp, sn) AS (
      |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |  UNION ALL
      |  SELECT c.i + 1,
      |    greatest(CAST(0 AS BIGINT), c.sp + x.e - kh.k),
      |    greatest(CAST(0 AS BIGINT), c.sn - x.e - kh.k)
      |  FROM cs c JOIN idx x ON x.i = c.i + 1, kh)
      |SELECT x.day, x.rev AS rev_cents, c.sp AS s_plus, c.sn AS s_minus,
      |  (c.sp > kh.h) AS alarm_up, (c.sn > kh.h) AS alarm_down
      |FROM cs c JOIN idx x ON x.i = c.i, kh""".stripMargin

  // ---------------------------------------------------------------- F66
  /** AR(2) Yule–Walker fit + one-step forecast — the autoregressive
    * complement to F48's exponential smoothing: where Holt tracks
    * level/trend, AR(2) captures OSCILLATORY persistence (φ₂ < 0 is a
    * mean-reverting cycle no smoother can represent). Coefficients
    * come from the Yule–Walker equations on the F53 engine-exact
    * autocorrelations: center hourly counts as ỹ = n·y − S (exact
    * longs), r₁/r₂ as ONE double division each of exact DECIMAL(38,0)
    * sums, then φ₁ = r₁(1−r₂)/(1−r₁²), φ₂ = (r₂−r₁²)/(1−r₁²) and the
    * forecast ŷ_{T+1} = (S + φ₁ỹ_T + φ₂ỹ_{T−1})/n as FIXED-ORDER
    * expressions over those divisions (identical IEEE both engines —
    * the q_stl rule). The last two observations surface via max_by on
    * the lag columns (no extra sort). Stationarity verdict checks the
    * AR(2) triangle (φ₁+φ₂ < 1, φ₂−φ₁ < 1, |φ₂| < 1) on the unrounded
    * doubles. One corpus scan → hour table → one window pass with two
    * lags → one aggregate per type.
    */
  def qAr2Forecast(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("(ts DIV 1000000000) DIV 3600").as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("y"))
    val tot = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour").asc)
    val centered = hourly.join(tot, "event_type")
      .withColumn("yt", col("n") * col("y") - col("s"))
      .withColumn("l1", lag(col("yt"), 1).over(w))
      .withColumn("l2", lag(col("yt"), 2).over(w))
    val d38 = "decimal(38,0)"
    val agg = centered.groupBy(col("event_type")).agg(
      max(col("n")).as("n"), max(col("s")).as("s"),
      sum(col("yt").cast(d38) * col("yt")).as("den"),
      sum(col("yt").cast(d38) * col("l1")).as("c1"),
      sum(col("yt").cast(d38) * col("l2")).as("c2"),
      expr("max_by(yt, hour)").as("yt_last"),
      expr("max_by(l1, hour)").as("yt_prev"))
    val r1 = col("c1").cast("double") / col("den").cast("double")
    val r2 = col("c2").cast("double") / col("den").cast("double")
    val phi1 = r1 * (lit(1.0) - r2) / (lit(1.0) - r1 * r1)
    val phi2 = (r2 - r1 * r1) / (lit(1.0) - r1 * r1)
    val fc = (col("s").cast("double") + phi1 * col("yt_last").cast("double")
      + phi2 * col("yt_prev").cast("double")) / col("n")
    // degenerate guards (r15, the qPacf device): a flat series has
    // den = Σỹ² = 0 (r undefined), and r1 = ±1 zeroes the Yule–Walker
    // denominator — Spark's double division yields NaN/Inf where
    // DuckDB yields NULL, so publish null explicitly in BOTH engines
    val denZero = col("den") === 0
    val phiBad = denZero || r1 * r1 === lit(1.0)
    def gr(c: org.apache.spark.sql.Column) = when(denZero, lit(null).cast("double")).otherwise(c)
    def gp(c: org.apache.spark.sql.Column) = when(phiBad, lit(null).cast("double")).otherwise(c)
    agg.filter(col("n") >= 3)
      .select(col("event_type"), col("n").as("n_hours"),
        gr(round(r1, 6)).as("r1"), gr(round(r2, 6)).as("r2"),
        gp(round(phi1, 6)).as("phi1"), gp(round(phi2, 6)).as("phi2"),
        gp(round(fc, 6)).as("forecast_next"),
        when(phiBad, lit(null).cast("boolean"))
          .otherwise(phi1 + phi2 < 1.0 && phi2 - phi1 < 1.0 &&
            abs(phi2) < 1.0)
          .as("stationary"))
  }

  val qAr2ForecastSql: String =
    s"""WITH hourly AS (SELECT event_type, ($duckTsSec) // 3600 AS hour,
      |    count(*) AS y
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT event_type, count(*) AS n, sum(y) AS s
      |  FROM hourly GROUP BY 1),
      |c AS (SELECT h.event_type, t.n, t.s, h.hour, t.n * h.y - t.s AS yt,
      |    lag(t.n * h.y - t.s, 1) OVER w AS l1,
      |    lag(t.n * h.y - t.s, 2) OVER w AS l2
      |  FROM hourly h JOIN tot t ON h.event_type = t.event_type
      |  WINDOW w AS (PARTITION BY h.event_type ORDER BY h.hour ASC)),
      |agg AS (SELECT event_type, max(n) AS n, max(s) AS s,
      |    sum(CAST(yt AS HUGEINT) * yt) AS den,
      |    sum(CAST(yt AS HUGEINT) * l1) AS c1,
      |    sum(CAST(yt AS HUGEINT) * l2) AS c2,
      |    max_by(yt, hour) AS yt_last,
      |    max_by(l1, hour) AS yt_prev
      |  FROM c GROUP BY 1),
      |r AS (SELECT event_type, n, s, yt_last, yt_prev,
      |    CASE WHEN den = 0 THEN NULL
      |      ELSE CAST(c1 AS DOUBLE) / CAST(den AS DOUBLE) END AS r1,
      |    CASE WHEN den = 0 THEN NULL
      |      ELSE CAST(c2 AS DOUBLE) / CAST(den AS DOUBLE) END AS r2
      |  FROM agg WHERE n >= 3),
      |p AS (SELECT *,
      |    CASE WHEN r1 IS NULL OR r1 * r1 = 1.0 THEN NULL
      |      ELSE r1 * (1.0 - r2) / (1.0 - r1 * r1) END AS phi1,
      |    CASE WHEN r1 IS NULL OR r1 * r1 = 1.0 THEN NULL
      |      ELSE (r2 - r1 * r1) / (1.0 - r1 * r1) END AS phi2
      |  FROM r)
      |SELECT event_type, n AS n_hours,
      |  round(r1, 6) AS r1, round(r2, 6) AS r2,
      |  round(phi1, 6) AS phi1, round(phi2, 6) AS phi2,
      |  round((CAST(s AS DOUBLE) + phi1 * CAST(yt_last AS DOUBLE)
      |    + phi2 * CAST(yt_prev AS DOUBLE)) / n, 6) AS forecast_next,
      |  (phi1 + phi2 < 1.0 AND phi2 - phi1 < 1.0 AND abs(phi2) < 1.0)
      |    AS stationary
      |FROM p""".stripMargin

  // ---------------------------------------------------------------- F54
  /** Granger causality (1957/1969 form, one lag) — does yesterday's
    * event VOLUME carry information about today's event VALUE beyond
    * the value's own persistence? Unrestricted y_t = a + b·y_{t−1} +
    * c·x_{t−1} vs restricted y_t = a + b·y_{t−1}; F = (RSS_r −
    * RSS_u)·(n−3)/RSS_u with 1 numerator df. The fit is the E38
    * closed-form device one size down (2×2 normal equations): daily
    * value in EXACT CENTS, daily counts exact longs; centered scaled
    * moments S_ij = n·Σab − ΣaΣb quantized to covariance units via
    * the sign-split half-up division (overflow-bounded regardless of
    * day count); β and both RSS forms are single double expressions
    * over the exact quantized moments (RSS_u = Syy − b·Sy1 − c·Sy2
    * algebraically — NO per-row residual sum, the unordered-double
    * trap). Day table is observation-window-bounded; one corpus scan.
    */
  def qGranger(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(expr("(ts DIV 1000000000) DIV 86400").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("x"), sum(col("cents")).as("y"))
    val w = Window.orderBy(col("day").asc)
    val lagged = daily
      .withColumn("ylag", lag(col("y"), 1).over(w))
      .withColumn("xlag", lag(col("x"), 1).over(w))
      .filter(col("ylag").isNotNull)
    val d38 = "decimal(38,0)"
    def s(c: org.apache.spark.sql.Column) = sum(c.cast(d38))
    // cast BEFORE the multiply: daily cents² overflows LONG at high SF
    val mo = lagged.agg(
      count(lit(1)).cast(d38).as("n"),
      s(col("y")).as("sy"), s(col("ylag")).as("s1"), s(col("xlag")).as("s2"),
      sum(col("ylag").cast(d38) * col("ylag")).as("r11"),
      sum(col("ylag").cast(d38) * col("xlag")).as("r12"),
      sum(col("xlag").cast(d38) * col("xlag")).as("r22"),
      sum(col("y").cast(d38) * col("ylag")).as("r1y"),
      sum(col("y").cast(d38) * col("xlag")).as("r2y"),
      sum(col("y").cast(d38) * col("y")).as("ryy"))
    // the E38 sign-split half-up quantizer: covariance units, exact
    def hu(aExpr: String, bExpr: String): String =
      s"""CASE WHEN ($aExpr) >= 0
         | THEN (2 * ($aExpr) + ($bExpr)) DIV (2 * ($bExpr))
         | ELSE -((2 * (-($aExpr)) + ($bExpr)) DIV (2 * ($bExpr))) END"""
        .stripMargin.replace("\n", " ")
    def m(raw: String, a: String, b: String) =
      expr(hu(s"100 * (n * $raw - $a * $b)", "n * n"))
    val q = mo
      .withColumn("m11", m("r11", "s1", "s1"))
      .withColumn("m12", m("r12", "s1", "s2"))
      .withColumn("m22", m("r22", "s2", "s2"))
      .withColumn("m1y", m("r1y", "s1", "sy"))
      .withColumn("m2y", m("r2y", "s2", "sy"))
      .withColumn("myy", m("ryy", "sy", "sy"))
      // determinants in DECIMAL(38,0): daily-aggregate moments are
      // corpus-rate-sized (unlike E38's row-bounded regressors), so
      // their products overflow LONG; exact through daily-revenue
      // swings of ~$10^11 — far past any target corpus
      .withColumn("det",
        expr("""cast(m11 as decimal(38,0)) * m22
               | - cast(m12 as decimal(38,0)) * m12""".stripMargin))
      .withColumn("detb",
        expr("""cast(m1y as decimal(38,0)) * m22
               | - cast(m2y as decimal(38,0)) * m12""".stripMargin))
      .withColumn("detc",
        expr("""cast(m11 as decimal(38,0)) * m2y
               | - cast(m12 as decimal(38,0)) * m1y""".stripMargin))
    // sign-split casts (DuckDB negative-HUGEINT→DOUBLE mis-rounds
    // above 2^53)
    def sd(c: String) = expr(
      s"CASE WHEN $c >= 0 THEN CAST($c AS DOUBLE)" +
        s" ELSE -CAST(-($c) AS DOUBLE) END")
    val b = sd("detb") / sd("det")
    val c = sd("detc") / sd("det")
    val rssU = sd("myy") - b * sd("m1y") - c * sd("m2y")
    val rssR = sd("myy") - sd("m1y") * sd("m1y") / sd("m11")
    val f = (rssR - rssU) * (col("n").cast("double") - 3) / rssU
    q.select(col("n").cast("long").as("n_days"),
      round(b, 6).as("beta_self"),
      round(c, 6).as("beta_x"),
      round(f, 6).as("f_stat"))
      .withColumn("granger_causal", col("f_stat") > 3.84)
  }

  val qGrangerSql: String = {
    def hu(a: String, b: String): String =
      s"""CASE WHEN ($a) >= 0
         | THEN (2 * ($a) + ($b)) // (2 * ($b))
         | ELSE -((2 * (-($a)) + ($b)) // (2 * ($b))) END"""
        .stripMargin.replace("\n", " ")
    def m(raw: String, a: String, b: String) =
      hu(s"100 * (n * $raw - $a * $b)", "n * n")
    def sd(c: String) =
      s"CASE WHEN $c >= 0 THEN CAST($c AS DOUBLE) ELSE -CAST(-($c) AS DOUBLE) END"
    val b = s"${sd("detb")} / ${sd("det")}"
    val c = s"${sd("detc")} / ${sd("det")}"
    val rssU = s"${sd("myy")} - ($b) * ${sd("m1y")} - ($c) * ${sd("m2y")}"
    val rssR = s"${sd("myy")} - ${sd("m1y")} * ${sd("m1y")} / ${sd("m11")}"
    val f = s"(($rssR) - ($rssU)) * (CAST(n AS DOUBLE) - 3) / ($rssU)"
    s"""WITH daily AS (SELECT ($duckTsSec) // 86400 AS day,
      |    count(*) AS x,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |lagged AS (SELECT y, lag(y, 1) OVER (ORDER BY day ASC) AS ylag,
      |    lag(x, 1) OVER (ORDER BY day ASC) AS xlag
      |  FROM daily),
      |mo AS (SELECT CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(ylag AS HUGEINT)) AS s1,
      |    sum(CAST(xlag AS HUGEINT)) AS s2,
      |    sum(CAST(ylag AS HUGEINT) * ylag) AS r11,
      |    sum(CAST(ylag AS HUGEINT) * xlag) AS r12,
      |    sum(CAST(xlag AS HUGEINT) * xlag) AS r22,
      |    sum(CAST(y AS HUGEINT) * ylag) AS r1y,
      |    sum(CAST(y AS HUGEINT) * xlag) AS r2y,
      |    sum(CAST(y AS HUGEINT) * y) AS ryy
      |  FROM lagged WHERE ylag IS NOT NULL),
      |q AS (SELECT n,
      |    ${m("r11", "s1", "s1")} AS m11,
      |    ${m("r12", "s1", "s2")} AS m12,
      |    ${m("r22", "s2", "s2")} AS m22,
      |    ${m("r1y", "s1", "sy")} AS m1y,
      |    ${m("r2y", "s2", "sy")} AS m2y,
      |    ${m("ryy", "sy", "sy")} AS myy
      |  FROM mo),
      |d AS (SELECT n, m11, m12, m22, m1y, m2y, myy,
      |    m11 * m22 - m12 * m12 AS det,
      |    m1y * m22 - m2y * m12 AS detb,
      |    m11 * m2y - m12 * m1y AS detc
      |  FROM q)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  round($b, 6) AS beta_self,
      |  round($c, 6) AS beta_x,
      |  round($f, 6) AS f_stat,
      |  round($f, 6) > 3.84 AS granger_causal
      |FROM d""".stripMargin
  }

  // ---------------------------------------------------------------- F55
  /** Hurst exponent via rescaled range (Hurst 1951, the Mandelbrot–
    * Wallis R/S form) — the long-memory readout none of the
    * F26/F53 short-lag tests give: does daily revenue trend-persist
    * (H > ½), mean-revert (H < ½), or walk randomly? For block sizes
    * m ∈ {16, 64, 256} the day-indexed series splits into full
    * blocks; per block R = range of cumulative deviations from the
    * block mean and S = block SD; R/S grows ∝ m^H. ENGINE-EXACT
    * spine: deviations scale to integers m·y − S_b, the cumulative
    * range R̃ and the variance numerator are exact integers, each
    * block's R/S = R̃/√(S2num·m) is ONE composed division (√ is
    * IEEE-correctly-rounded everywhere), quantized to µ-units
    * (round of a deterministic double) BEFORE the cross-block mean —
    * so the mean is an integer sum + one division, never an
    * unordered double sum. H = ln(RS₂₅₆/RS₁₆)/ln(16) is published at
    * 3 dp (the one libm-ln surface; grain 10⁴ ulps wide) with the
    * regime verdict cutting the ROUNDED H at .45/.55. Day table is
    * bounded; one corpus scan.
    */
  def qHurst(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(datediff(col("o_orderdate"), lit("1970-01-01")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("y"))
    // three block sizes consume the same day table — cache it or the
    // corpus aggregate replays once per size (3 scans → 1)
    val t = daily.withColumn("t",
      row_number().over(Window.orderBy(col("day").asc)) - 1)
      .cache()
    val sizes = Seq(16, 64, 256)
    val d38 = "decimal(38,0)"
    val perM = sizes.map { m =>
      val blk = t.withColumn("b",
        floor(col("t") / lit(m.toDouble)).cast("long"))
      val full = blk.groupBy(col("b"))
        .agg(count(lit(1)).as("cnt"), sum(col("y")).as("sb"))
        .filter(col("cnt") === m)
      val dev = blk.join(full, "b")
        .withColumn("d", lit(m.toLong) * col("y") - col("sb")) // ×m exact
      val wc = Window.partitionBy(col("b")).orderBy(col("t").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val blocks = dev.withColumn("cum", sum(col("d")).over(wc))
        .groupBy(col("b"))
        // the block's last cumdev is exactly 0 (deviations sum to
        // zero), so plain max−min already includes the Z₀=0 anchor
        .agg((max(col("cum")) - min(col("cum"))).as("rr"),
          sum(col("d").cast(d38) * col("d")).as("s2num"))
        .filter(col("s2num") > 0)
      // R/S = R̃ / sqrt(S2num / m): one composed expression of exact
      // integers, then µ-quantized so the cross-block mean is integer
      blocks
        .withColumn("rs_micro",
          round(col("rr").cast("double") /
            sqrt(col("s2num").cast("double") / m) * 1e6).cast("long"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(col("rs_micro")).as("rs_sum"))
        .select(lit(m).as("m"), col("n_blocks"), col("rs_sum"),
          round(col("rs_sum") / col("n_blocks").cast("double") / 1e6, 6)
            .as("mean_rs"))
    }
    val grid = perM.reduce(_ union _)
    val h = grid.agg(
      max(when(col("m") === 16, col("mean_rs"))).as("rs16"),
      max(when(col("m") === 256, col("mean_rs"))).as("rs256"))
      .select(round(log(col("rs256") / col("rs16")) / log(lit(16.0)), 3)
        .as("hurst"))
    grid.crossJoin(broadcast(h))
      .select(col("m"), col("n_blocks"), col("mean_rs"), col("hurst"),
        when(col("hurst") > 0.55, "persistent")
          .when(col("hurst") < 0.45, "mean_reverting")
          .otherwise("random_walk").as("regime"))
  }

  val qHurstSql: String = {
    def perM(m: Int): String =
      s"""b$m AS (SELECT t.t, t.y, t.t // $m AS b FROM t),
        |f$m AS (SELECT b, count(*) AS cnt, sum(y) AS sb
        |  FROM b$m GROUP BY 1 HAVING count(*) = $m),
        |d$m AS (SELECT x.b, x.t, $m * x.y - f.sb AS d
        |  FROM b$m x JOIN f$m f ON x.b = f.b),
        |c$m AS (SELECT b, sum(d) OVER (PARTITION BY b ORDER BY t ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, d
        |  FROM d$m),
        |k$m AS (SELECT b,
        |    max(cum) - min(cum) AS rr,
        |    sum(CAST(d AS HUGEINT) * d) AS s2num
        |  FROM c$m GROUP BY 1 HAVING sum(CAST(d AS HUGEINT) * d) > 0),
        |g$m AS (SELECT $m AS m, count(*) AS n_blocks,
        |    sum(CAST(round(CAST(rr AS DOUBLE)
        |      / sqrt(CAST(s2num AS DOUBLE) / $m) * 1e6) AS BIGINT)) AS rs_sum
        |  FROM k$m)""".stripMargin
    s"""WITH daily AS (SELECT date_diff('day', DATE '1970-01-01',
      |    CAST(o_orderdate AS DATE)) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |t AS (SELECT y,
      |    CAST(row_number() OVER (ORDER BY day ASC) AS BIGINT) - 1 AS t
      |  FROM daily),
      |${perM(16)},
      |${perM(64)},
      |${perM(256)},
      |grid AS (SELECT m, n_blocks, rs_sum,
      |    round(rs_sum / CAST(n_blocks AS DOUBLE) / 1e6, 6) AS mean_rs
      |  FROM (SELECT * FROM g16 UNION ALL SELECT * FROM g64
      |    UNION ALL SELECT * FROM g256)),
      |h AS (SELECT round(ln(
      |      max(CASE WHEN m = 256 THEN mean_rs END)
      |      / max(CASE WHEN m = 16 THEN mean_rs END))
      |    / ln(CAST(16.0 AS DOUBLE)), 3) AS hurst
      |  FROM grid)
      |SELECT m, n_blocks, mean_rs, hurst,
      |  CASE WHEN hurst > 0.55 THEN 'persistent'
      |    WHEN hurst < 0.45 THEN 'mean_reverting'
      |    ELSE 'random_walk' END AS regime
      |FROM grid, h""".stripMargin
  }

  // ---------------------------------------------------------------- F56
  /** Lo–MacKinlay variance-ratio test (1988) — the second long-memory
    * probe next to F55's R/S, reading the SAME question off variance
    * scaling instead of range scaling: for a random walk,
    * Var(q-period change) = q·Var(1-period change), so VR(q) ≠ 1
    * flags persistence (>1) or mean reversion (<1). Changes are
    * plain differences of daily revenue CENTS (never log returns —
    * a per-row libm ln() would put engine-dependent bits in every
    * hashed cell), so both centered sums of squares are exact
    * DECIMAL(38,0)/HUGEINT: S = n·Σd² − (Σd)², and
    * VR = (S_q·n₁²)/(q·S₁·n_q²) is ONE double expression of four
    * exact integers (cast-before-multiply, sign-split casts). The
    * day series indexes by row order (the F55 device); lags q ∈
    * {2, 5, 10} share one window pass. Verdict cuts rounded VR at
    * ±0.2 around 1. Day table bounded; one corpus scan.
    */
  // ---------------------------------------------------------------- F71
  /** EWMA control chart (Roberts 1959) on daily revenue — the SPC
    * family member between F45's Bollinger (trailing window) and
    * F68's CUSUM (cumulative): λ = 1/8 memory with ±3σ·√(λ/(2−λ))
    * limits, the chart that catches SMALL persistent shifts a
    * Shewhart band misses. EXACT device: the recursion runs entirely
    * in DECIMAL(18,6) (the F48 Holt rule — a 6-dp decimal is not
    * binary-exact, so a double fold lands round() on half-ulp knife
    * edges; decimal arithmetic has no representation error and both
    * engines tie-break half-away-from-zero), as an ordered HOF fold
    * over the bounded day table, replayed by a recursive CTE; the
    * limits come from exact cent moments in one fixed-order double
    * each. Published doubles are decimal casts (< 2^53 in µ-units —
    * conversion correctly rounded identically in both engines, the
    * F48 publish device).
    */
  def qEwmaChart(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val d6 = "decimal(18,6)"
    val byDay = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("rc"))
    val tot = byDay.agg(count(lit(1)).as("n"),
      sum(col("rc").cast(d38)).as("s"),
      sum(col("rc").cast(d38) * col("rc")).as("s2"))
    val sdC = sqrt((col("n").cast(d38) * col("s2") - col("s") * col("s"))
      .cast("double") / (col("n").cast("double") * (col("n").cast("double") - 1)))
    val limits = tot.select(col("n"),
      round((col("s").cast("double") / col("n").cast("double") +
        lit(3.0) * sdC * math.sqrt(0.125 / 1.875)) / 100.0, 6).as("ucl"),
      round((col("s").cast("double") / col("n").cast("double") -
        lit(3.0) * sdC * math.sqrt(0.125 / 1.875)) / 100.0, 6).as("lcl"))
    val sNew = s"cast(round(0.125 * x.rev + 0.875 * acc.s, 6) as $d6)"
    byDay.agg(array_sort(collect_list(struct(col("day"), col("rev")))).as("s"))
      .select(explode(expr(
        s"""aggregate(
           |  slice(s, 2, greatest(size(s) - 1, 0)),
           |  named_struct(
           |    's', cast(get(s, 0).rev as $d6),
           |    'out', array(named_struct(
           |      'day', get(s, 0).day, 'rev', get(s, 0).rev,
           |      'ewma', cast(get(s, 0).rev as $d6)))),
           |  (acc, x) -> named_struct(
           |    's', $sNew,
           |    'out', concat(acc.out, array(named_struct(
           |      'day', x.day, 'rev', x.rev, 'ewma', $sNew)))),
           |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.day").as("day"),
        col("r.rev").cast("double").as("rev"),
        col("r.ewma").cast("double").as("ewma"))
      .crossJoin(broadcast(limits.select(col("ucl"), col("lcl"))))
      .withColumn("breach", col("ewma") > col("ucl") || col("ewma") < col("lcl"))
  }

  val qEwmaChartSql: String =
    """WITH RECURSIVE
      |byday AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rc
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT count(*) AS n, sum(CAST(rc AS HUGEINT)) AS s,
      |    sum(CAST(rc AS HUGEINT) * rc) AS s2 FROM byday),
      |lim AS (SELECT
      |    round((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
      |      + 3.0 * sqrt(CAST(CAST(n AS HUGEINT) * s2 - s * s AS DOUBLE)
      |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
      |        * sqrt(0.125 / 1.875)) / 100.0, 6) AS ucl,
      |    round((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
      |      - 3.0 * sqrt(CAST(CAST(n AS HUGEINT) * s2 - s * s AS DOUBLE)
      |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
      |        * sqrt(0.125 / 1.875)) / 100.0, 6) AS lcl
      |  FROM tot),
      |idx AS (SELECT day, rev,
      |    CAST(row_number() OVER (ORDER BY day) AS INT) AS i FROM byday),
      |ew(i, s) AS (
      |  SELECT 1, CAST((SELECT rev FROM idx WHERE i = 1) AS DECIMAL(18,6))
      |  UNION ALL
      |  SELECT e.i + 1,
      |    CAST(round(0.125 * x.rev + 0.875 * e.s, 6) AS DECIMAL(18,6))
      |  FROM ew e JOIN idx x ON x.i = e.i + 1)
      |SELECT x.day, CAST(x.rev AS DOUBLE) AS rev,
      |  CAST(e.s AS DOUBLE) AS ewma, ucl, lcl,
      |  (CAST(e.s AS DOUBLE) > ucl OR CAST(e.s AS DOUBLE) < lcl) AS breach
      |FROM idx x JOIN ew e ON e.i = x.i, lim""".stripMargin

  // ---------------------------------------------------------------- F72
  /** STL seasonality/trend strength (Hyndman's F-measures) — the
    * one-row summary of F52's decomposition a pipeline routes on
    * (F_s = max(0, 1 − Var(remainder)/Var(detrended)) decides
    * whether the dow-profile is worth modeling; F_t the same against
    * the deseasonalized series): computed ENTIRELY on the exact
    * integer NUMERATORS the F52 device already carries (remainder,
    * detrended, and trend+remainder share the dollar·4.9·10⁹ scale,
    * which CANCELS in every variance ratio), sign-split half-up
    * rescaled by 10⁶ so squares stay inside DECIMAL(38) at 100 TB;
    * each strength is one double division of exact variance
    * numerators. Bounded day grid, one aggregate over the shared
    * stlFrame.
    */
  def qStlStrength(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    // sign-split halfUp(x / 10⁶) — DIV truncates toward zero in Spark
    // but // floors in DuckDB, so negatives MUST go through the
    // explicit split (the s6_g device)
    def rs(c: String) = expr(
      s"CASE WHEN ($c) >= 0 THEN (2 * ($c) + 1000000) DIV 2000000" +
        s" ELSE -((2 * (-($c)) + 1000000) DIV 2000000) END").cast(d38)
    val f = stlFrame(spark, dir)
      .withColumn("xr", rs("rem_num"))
      .withColumn("xd", rs("d7 * 7000000"))
      .withColumn("xt", rs("rc * 49000000 - seasonal_scaled"))
    def v(c: String) = (col("n").cast(d38) * col(s"s2_$c") -
      col(s"s_$c") * col(s"s_$c")).cast("double")
    val m = f.agg(count(lit(1)).as("n"),
      sum(col("xr")).as("s_r"), sum(col("xr") * col("xr")).as("s2_r"),
      sum(col("xd")).as("s_d"), sum(col("xd") * col("xd")).as("s2_d"),
      sum(col("xt")).as("s_t"), sum(col("xt") * col("xt")).as("s2_t"))
    m.select(col("n").as("n_days"),
        greatest(lit(0.0), round(lit(1.0) - v("r") / v("d"), 6))
          .as("f_seasonal"),
        greatest(lit(0.0), round(lit(1.0) - v("r") / v("t"), 6))
          .as("f_trend"))
      .withColumn("strong_seasonality", col("f_seasonal") > 0.6)
      .withColumn("strong_trend", col("f_trend") > 0.6)
  }

  val qStlStrengthSql: String = stlBaseSql +
    """,
      |rsd AS (SELECT
      |    CASE WHEN rem_num >= 0
      |      THEN CAST((2 * rem_num + 1000000) // 2000000 AS HUGEINT)
      |      ELSE -CAST((2 * (-rem_num) + 1000000) // 2000000 AS HUGEINT)
      |      END AS xr,
      |    CASE WHEN d7 >= 0
      |      THEN CAST((2 * d7 * 7000000 + 1000000) // 2000000 AS HUGEINT)
      |      ELSE -CAST((2 * (-d7) * 7000000 + 1000000) // 2000000 AS HUGEINT)
      |      END AS xd,
      |    CASE WHEN rc * 49000000 - seasonal_scaled >= 0
      |      THEN CAST((2 * (rc * 49000000 - seasonal_scaled) + 1000000)
      |        // 2000000 AS HUGEINT)
      |      ELSE -CAST((2 * (-(rc * 49000000 - seasonal_scaled)) + 1000000)
      |        // 2000000 AS HUGEINT) END AS xt
      |  FROM sc),
      |m AS (SELECT count(*) AS n,
      |    sum(xr) AS s_r, sum(xr * xr) AS s2_r,
      |    sum(xd) AS s_d, sum(xd * xd) AS s2_d,
      |    sum(xt) AS s_t, sum(xt * xt) AS s2_t
      |  FROM rsd)
      |SELECT n AS n_days,
      |  greatest(0.0, round(1.0
      |    - CAST(CAST(n AS HUGEINT) * s2_r - s_r * s_r AS DOUBLE)
      |    / CAST(CAST(n AS HUGEINT) * s2_d - s_d * s_d AS DOUBLE), 6))
      |    AS f_seasonal,
      |  greatest(0.0, round(1.0
      |    - CAST(CAST(n AS HUGEINT) * s2_r - s_r * s_r AS DOUBLE)
      |    / CAST(CAST(n AS HUGEINT) * s2_t - s_t * s_t AS DOUBLE), 6))
      |    AS f_trend,
      |  (greatest(0.0, round(1.0
      |    - CAST(CAST(n AS HUGEINT) * s2_r - s_r * s_r AS DOUBLE)
      |    / CAST(CAST(n AS HUGEINT) * s2_d - s_d * s_d AS DOUBLE), 6))
      |    > 0.6) AS strong_seasonality,
      |  (greatest(0.0, round(1.0
      |    - CAST(CAST(n AS HUGEINT) * s2_r - s_r * s_r AS DOUBLE)
      |    / CAST(CAST(n AS HUGEINT) * s2_t - s_t * s_t AS DOUBLE), 6))
      |    > 0.6) AS strong_trend
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- F69
  /** KPSS level-stationarity test on the daily-revenue series — the
    * NULL-reverses-the-question completion of the F55/F56 regime
    * family (variance-ratio and Hurst DESCRIBE persistence; KPSS
    * tests H0 "the level is stationary", the complement of a unit-root
    * test, and is what forecasting pipelines run before trusting an
    * AR fit like F66). η = (Σ_t S_t²/n²) / s²_lrv with S_t the
    * partial sums of the demeaned series and s²_lrv the Bartlett
    * long-run variance at lag L = 7 (one trading week). EXACT
    * device: the mean quantizes to the cent (halfUp, engine-identical
    * — the ε it introduces is ≤ half a cent per term and identical in
    * both engines), so demeaned values, their partial sums, and every
    * autocovariance numerator c_j = Σ d_t·d_{t−j} are exact integers
    * (cast-BEFORE-multiply DECIMAL; at 100 TB: |S_t| ≤ 2.4·10¹⁶,
    * Σ S_t² ≤ 1.4·10³⁶ — inside DECIMAL(38)); the Bartlett weights
    * (1 − j/(L+1)) clear denominators exactly —
    * lrvNum = (L+1)·c₀ + 2·Σ(L+1−j)·c_j — and η assembles as ONE
    * fixed-order double expression: num·(L+1)/(n·lrvNum). Verdict vs
    * the 5% level-stationarity critical 0.463. Bounded day grid: one
    * keyed aggregate + windows over ≤ thousands of rows.
    */
  def qKpss(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val L = 7
    val daily = Tables.orders(spark, dir)
      .groupBy(datediff(col("o_orderdate"), lit("1970-01-01")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("y"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("y").cast(d38)).as("s"))
      .withColumn("m", expr(
        "CAST((2 * s + n) DIV (2 * CAST(n AS DECIMAL(38,0))) AS BIGINT)"))
    val w = Window.orderBy(col("day").asc)
    val cumW = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    var cur = daily.crossJoin(broadcast(tot))
      .withColumn("d", col("y") - col("m"))
      .withColumn("st", sum(col("d")).over(cumW))
    (1 to L).foreach { j =>
      cur = cur.withColumn(s"dl$j", lag(col("d"), j).over(w))
    }
    val aggCols = Seq(
      sum(col("st").cast(d38) * col("st")).as("num"),
      sum(col("d").cast(d38) * col("d")).as("c0")) ++
      (1 to L).map(j =>
        sum(col("d").cast(d38) * col(s"dl$j")).as(s"c$j"))
    val agg = cur.agg(max(col("n")).as("n"), aggCols: _*)
    val lrvNum = (1 to L).map(j =>
        lit(2 * (L + 1 - j)).cast(d38) * coalesce(col(s"c$j"), lit(0).cast(d38)))
      .foldLeft(lit(L + 1).cast(d38) * col("c0"))(_ + _)
    agg.select(col("n").as("n_days"),
        col("num"), lrvNum.as("lrv_num"))
      .select(col("n_days"),
        when(col("lrv_num") <= 0, lit(null).cast("double"))
          .otherwise(round(col("num").cast("double") * (L + 1) /
            (col("n_days").cast("double") * col("lrv_num").cast("double")),
            6)).as("eta"))
      .withColumn("lag_l", lit(L.toLong))
      .withColumn("stationary", coalesce(col("eta") < 0.463, lit(false)))
  }

  val qKpssSql: String = {
    val L = 7
    val cAgg = (1 to L).map(j =>
      s"sum(CAST(d AS HUGEINT) * dl$j) AS c$j").mkString(", ")
    val dlCols = (1 to L).map(j =>
      s"lag(d, $j) OVER (ORDER BY day) AS dl$j").mkString(",\n      |    ")
    val lrv = (1 to L).map(j => s"2 * ${L + 1 - j} * coalesce(c$j, 0)")
      .mkString(s"${L + 1} * c0 + ", " + ", "")
    raw"""WITH daily AS (SELECT
         |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
         |      AS day,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |      AS y
         |  FROM orders GROUP BY 1),
         |tot AS (SELECT count(*) AS n, sum(CAST(y AS HUGEINT)) AS s,
         |    CAST((2 * sum(CAST(y AS HUGEINT)) + count(*))
         |      // (2 * CAST(count(*) AS HUGEINT)) AS BIGINT) AS m
         |  FROM daily),
         |dd AS (SELECT day, y - m AS d,
         |    sum(y - m) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND CURRENT ROW) AS st,
         |    $dlCols
         |  FROM daily, tot),
         |agg AS (SELECT (SELECT n FROM tot) AS n,
         |    sum(CAST(st AS HUGEINT) * st) AS num,
         |    sum(CAST(d AS HUGEINT) * d) AS c0, $cAgg
         |  FROM dd),
         |pub AS (SELECT n AS n_days, num, $lrv AS lrv_num FROM agg)
         |SELECT n_days,
         |  CASE WHEN lrv_num <= 0 THEN NULL
         |    ELSE round(CAST(num AS DOUBLE) * ${L + 1}
         |      / (CAST(n_days AS DOUBLE) * CAST(lrv_num AS DOUBLE)), 6)
         |    END AS eta,
         |  CAST($L AS BIGINT) AS lag_l,
         |  coalesce(CASE WHEN lrv_num <= 0 THEN NULL
         |    ELSE round(CAST(num AS DOUBLE) * ${L + 1}
         |      / (CAST(n_days AS DOUBLE) * CAST(lrv_num AS DOUBLE)), 6)
         |    END < 0.463, false) AS stationary
         |FROM pub""".stripMargin
  }

  // ---------------------------------------------------------------- F70
  /** Engle's ARCH LM test on the daily-revenue changes — volatility
    * clustering, the fourth member of the series-diagnostics panel
    * (F53 Ljung–Box asks "are LEVELS autocorrelated", this asks "are
    * SQUARED shocks autocorrelated" — the pre-flight check before
    * trusting constant-variance bands like F45's Bollinger or F11's
    * anomaly σ): demean the day-over-day diffs (cent-halfUp mean,
    * the F69 device), square them, regress u_t on u_{t−1}, and
    * LM = n·R² vs χ²(1) at 3.841. EXACT device: diffs and demeaned
    * shocks are exact longs; squares are exact DECIMAL then
    * µ-rescaled by DIV 10⁶ (half-up; keeps every later moment inside
    * DECIMAL(38) at 100 TB — u² products would otherwise reach
    * 10⁵²); the R² assembly clears denominators to exact DECIMAL
    * cross-moments and goes double only in the final quotient.
    * Bounded day grid throughout.
    */
  def qArchLm(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.orders(spark, dir)
      .groupBy(datediff(col("o_orderdate"), lit("1970-01-01")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("y"))
    val w = Window.orderBy(col("day").asc)
    val diffs = daily.withColumn("r", col("y") - lag(col("y"), 1).over(w))
      .filter(col("r").isNotNull)
    val tot = diffs.agg(count(lit(1)).as("nr"),
        sum(col("r").cast(d38)).as("sr"))
      .withColumn("m", expr(
        """CAST(CASE WHEN sr >= 0
          | THEN (2 * sr + nr) DIV (2 * CAST(nr AS DECIMAL(38,0)))
          | ELSE -((2 * -sr + nr) DIV (2 * CAST(nr AS DECIMAL(38,0)))) END
          | AS BIGINT)""".stripMargin.replace("\n", " ")))
    val u = diffs.crossJoin(broadcast(tot))
      .withColumn("e", col("r") - col("m"))
      .withColumn("u", expr(
        "CAST((2 * CAST(e AS DECIMAL(38,0)) * e + 1000000)" +
          " DIV (2 * CAST(1000000 AS DECIMAL(38,0))) AS BIGINT)"))
      .withColumn("ul", lag(col("u"), 1).over(w))
      .filter(col("ul").isNotNull)
    val m = u.agg(count(lit(1)).as("n"),
      sum(col("ul").cast(d38)).as("sx"), sum(col("u").cast(d38)).as("sy"),
      sum(col("ul").cast(d38) * col("u")).as("sxy"),
      sum(col("ul").cast(d38) * col("ul")).as("sxx"),
      sum(col("u").cast(d38) * col("u")).as("syy"))
    val cxy = (col("n").cast(d38) * col("sxy") - col("sx") * col("sy"))
    val cxx = (col("n").cast(d38) * col("sxx") - col("sx") * col("sx"))
    val cyy = (col("n").cast(d38) * col("syy") - col("sy") * col("sy"))
    m.select(col("n").as("n_obs"),
        when(cxx <= 0 || cyy <= 0, lit(null).cast("double"))
          .otherwise(round(col("n").cast("double") *
            (cxy.cast("double") * cxy.cast("double")) /
            (cxx.cast("double") * cyy.cast("double")), 6)).as("lm_stat"))
      .withColumn("arch_present", coalesce(col("lm_stat") > 3.841, lit(false)))
  }

  val qArchLmSql: String =
    """WITH daily AS (SELECT
      |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS y
      |  FROM orders GROUP BY 1),
      |diffs AS (SELECT day, y - lag(y, 1) OVER (ORDER BY day) AS r
      |  FROM daily),
      |dd AS (SELECT day, r FROM diffs WHERE r IS NOT NULL),
      |tot AS (SELECT count(*) AS nr, sum(CAST(r AS HUGEINT)) AS sr FROM dd),
      |tm AS (SELECT nr, CAST(CASE WHEN sr >= 0
      |    THEN (2 * sr + nr) // (2 * CAST(nr AS HUGEINT))
      |    ELSE -((2 * -sr + nr) // (2 * CAST(nr AS HUGEINT))) END
      |    AS BIGINT) AS m FROM tot),
      |uu AS (SELECT day,
      |    CAST((2 * CAST(r - m AS HUGEINT) * (r - m) + 1000000)
      |      // (2 * CAST(1000000 AS HUGEINT)) AS BIGINT) AS u
      |  FROM dd, tm),
      |ul AS (SELECT u, lag(u, 1) OVER (ORDER BY day) AS x FROM uu),
      |p AS (SELECT u AS y, x FROM ul WHERE x IS NOT NULL),
      |m AS (SELECT count(*) AS n,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM p),
      |c AS (SELECT n,
      |    CAST(n AS HUGEINT) * sxy - sx * sy AS cxy,
      |    CAST(n AS HUGEINT) * sxx - sx * sx AS cxx,
      |    CAST(n AS HUGEINT) * syy - sy * sy AS cyy
      |  FROM m)
      |SELECT n AS n_obs,
      |  CASE WHEN cxx <= 0 OR cyy <= 0 THEN NULL
      |    ELSE round(CAST(n AS DOUBLE)
      |      * (CAST(cxy AS DOUBLE) * CAST(cxy AS DOUBLE))
      |      / (CAST(cxx AS DOUBLE) * CAST(cyy AS DOUBLE)), 6) END AS lm_stat,
      |  coalesce(CASE WHEN cxx <= 0 OR cyy <= 0 THEN NULL
      |    ELSE round(CAST(n AS DOUBLE)
      |      * (CAST(cxy AS DOUBLE) * CAST(cxy AS DOUBLE))
      |      / (CAST(cxx AS DOUBLE) * CAST(cyy AS DOUBLE)), 6) END > 3.841,
      |    false) AS arch_present
      |FROM c""".stripMargin

  def qVarianceRatio(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.orders(spark, dir)
      .groupBy(datediff(col("o_orderdate"), lit("1970-01-01")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("y"))
    val w = Window.orderBy(col("day").asc)
    val lagged = daily
      .withColumn("d1", col("y") - lag(col("y"), 1).over(w))
      .withColumn("d2", col("y") - lag(col("y"), 2).over(w))
      .withColumn("d5", col("y") - lag(col("y"), 5).over(w))
      .withColumn("d10", col("y") - lag(col("y"), 10).over(w))
    def ss(c: String) = struct(
      count(col(c)).as("n"),
      sum(col(c).cast(d38)).as("s"),
      sum(col(c).cast(d38) * col(c)).as("q"))
    val mo = lagged.agg(ss("d1").as("m1"), ss("d2").as("m2"),
      ss("d5").as("m5"), ss("d10").as("m10"))
    // exact centered SS per horizon: S = n·Σd² − (Σd)²
    def centered(m: String) = expr(
      s"cast($m.n as decimal(38,0)) * $m.q - $m.s * $m.s")
    def nn(m: String) = col(s"$m.n")
    val base = mo
      .withColumn("s1", centered("m1")).withColumn("n1", nn("m1"))
      .withColumn("s2", centered("m2")).withColumn("n2", nn("m2"))
      .withColumn("s5", centered("m5")).withColumn("n5", nn("m5"))
      .withColumn("s10", centered("m10")).withColumn("n10", nn("m10"))
    // sign-split cast (centered SS >= 0 always, but n²-scaled
    // products stay decimal until the one double division)
    def vr(q: Int) = round(
      (col(s"s$q").cast("double") * (col("n1") * col("n1")).cast("double")) /
        (lit(q.toDouble) * col("s1").cast("double") *
          (col(s"n$q") * col(s"n$q")).cast("double")), 6)
    val rows = Seq(2, 5, 10).map { q =>
      base.select(lit(q).as("q"), col(s"n$q").cast("long").as("n_diffs"),
        vr(q).as("vr"))
    }.reduce(_ union _)
    rows.withColumn("regime",
      when(col("vr") > 1.2, "persistent")
        .when(col("vr") < 0.8, "mean_reverting")
        .otherwise("random_walk"))
  }

  val qVarianceRatioSql: String = {
    def mo(q: Int): String =
      s"""m$q AS (SELECT count(d$q) AS n,
        |    sum(CAST(d$q AS HUGEINT)) AS s,
        |    sum(CAST(d$q AS HUGEINT) * d$q) AS qq
        |  FROM lagged WHERE d$q IS NOT NULL)""".stripMargin
    // n² factors as ONE exact integer product cast once — the same
    // association Spark uses ((n*n) then cast), so both engines run
    // the identical IEEE multiply chain
    def row(q: Int): String =
      s"""SELECT $q AS q, CAST(m$q.n AS BIGINT) AS n_diffs,
        |  round((CAST(CAST(m$q.n AS HUGEINT) * m$q.qq - m$q.s * m$q.s
        |      AS DOUBLE) * CAST(CAST(m1.n AS HUGEINT) * m1.n AS DOUBLE))
        |    / ($q.0 * CAST(CAST(m1.n AS HUGEINT) * m1.qq - m1.s * m1.s
        |      AS DOUBLE) * CAST(CAST(m$q.n AS HUGEINT) * m$q.n AS DOUBLE)),
        |    6) AS vr
        |FROM m$q, m1""".stripMargin
    s"""WITH daily AS (SELECT date_diff('day', DATE '1970-01-01',
      |    CAST(o_orderdate AS DATE)) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |lagged AS (SELECT
      |    y - lag(y, 1) OVER (ORDER BY day ASC) AS d1,
      |    y - lag(y, 2) OVER (ORDER BY day ASC) AS d2,
      |    y - lag(y, 5) OVER (ORDER BY day ASC) AS d5,
      |    y - lag(y, 10) OVER (ORDER BY day ASC) AS d10
      |  FROM daily),
      |${mo(1)}, ${mo(2)}, ${mo(5)}, ${mo(10)},
      |rows0 AS (${row(2)} UNION ALL ${row(5)} UNION ALL ${row(10)})
      |SELECT q, n_diffs, vr,
      |  CASE WHEN vr > 1.2 THEN 'persistent'
      |    WHEN vr < 0.8 THEN 'mean_reverting'
      |    ELSE 'random_walk' END AS regime
      |FROM rows0""".stripMargin
  }

  // ---------------------------------------------------------------- F64
  /** Durbin–Watson serial-correlation test on the residuals of the
    * daily-revenue-on-time trend fit — the diagnostic every OLS
    * consumer (E22/E38/F30) silently assumes away: with
    * autocorrelated residuals the fit's standard errors are fiction,
    * and DW = Σ(e_t−e_{t−1})²/Σe_t² is the canonical readout (≈2 ⟺
    * independent, <1.5 positive, >2.5 negative serial correlation).
    * ENGINE-EXACT: the slope quantizes to µ-units by the sign-split
    * half-up device, the n·10⁶-scaled residual
    * E_t = 10⁶·(n·y_t − Σy) − b_µ·(n·t − Σt) is an exact integer
    * IDENTITY in the quantized slope (no intercept division — the
    * mean-centering absorbs it), re-quantized once to grain n·10³
    * so squares stay inside DECIMAL(38,0) at any SF, and both DW
    * sums are exact integer aggregates — DW is ONE double division.
    * The scale factor cancels between numerator and denominator.
    * Lag window over the bounded day table (q_changepoint class).
    */
  def qDurbinWatson(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val byDay = Tables.orders(spark, dir)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("t"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("y"))
    val mo = byDay.agg(count(lit(1)).cast(d38).as("n"),
      sum(col("t").cast(d38)).as("st"), sum(col("y").cast(d38)).as("sy"),
      sum(col("t").cast(d38) * col("t")).as("stt"),
      sum(col("t").cast(d38) * col("y")).as("sty"))
    def hu(a: String, b: String): String =
      s"""CASE WHEN ($a) >= 0
         | THEN (2 * ($a) + ($b)) DIV (2 * ($b))
         | ELSE -((2 * (-($a)) + ($b)) DIV (2 * ($b))) END"""
        .stripMargin.replace("\n", " ")
    val q = mo
      .withColumn("ctt", (col("n") * col("stt") - col("st") * col("st"))
        .cast(d38))
      .withColumn("bq",
        expr(hu("1000000 * (n * sty - st * sy)", "ctt")).cast(d38))
    val res = byDay.crossJoin(broadcast(q))
      .withColumn("escaled",
        (lit(1000000) * (col("n") * col("y") - col("sy"))
          - col("bq") * (col("n") * col("t") - col("st"))).cast(d38))
      .withColumn("em", expr(hu("escaled", "n * 1000")).cast(d38))
    val w = Window.orderBy(col("t"))
    val agg = res
      .withColumn("ep", lag(col("em"), 1).over(w))
      .agg(count(lit(1)).as("n_days"),
        sum((col("em") - col("ep")).cast(d38)
          * (col("em") - col("ep"))).as("num"),
        sum(col("em") * col("em")).as("den"))
    agg.select(col("n_days"),
        round(col("num").cast("double") / col("den").cast("double"), 6)
          .as("dw"))
      .withColumn("residual_autocorr",
        when(col("dw") < 1.5, "positive")
          .when(col("dw") > 2.5, "negative").otherwise("none"))
  }

  val qDurbinWatsonSql: String = {
    def hu(a: String, b: String): String =
      s"""CASE WHEN ($a) >= 0
         | THEN (2 * ($a) + ($b)) // (2 * ($b))
         | ELSE -((2 * (-($a)) + ($b)) // (2 * ($b))) END"""
        .stripMargin.replace("\n", " ")
    s"""WITH byday AS (SELECT
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS t,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |mo AS (SELECT CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(t AS HUGEINT)) AS st, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(t AS HUGEINT) * t) AS stt,
      |    sum(CAST(t AS HUGEINT) * y) AS sty
      |  FROM byday),
      |q AS (SELECT *, n * stt - st * st AS ctt FROM mo),
      |qb AS (SELECT *,
      |    ${hu("1000000 * (n * sty - st * sy)", "ctt")} AS bq
      |  FROM q),
      |res AS (SELECT b.t,
      |    ${hu("1000000 * (qb.n * b.y - qb.sy) - qb.bq * (qb.n * b.t - qb.st)",
        "qb.n * 1000")} AS em
      |  FROM byday b, qb),
      |lagged AS (SELECT em, lag(em, 1) OVER (ORDER BY t) AS ep FROM res),
      |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
      |    sum(CAST(em - ep AS HUGEINT) * (em - ep)) AS num,
      |    sum(CAST(em AS HUGEINT) * em) AS den
      |  FROM lagged)
      |SELECT n_days,
      |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS dw,
      |  CASE WHEN round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) < 1.5
      |      THEN 'positive'
      |    WHEN round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) > 2.5
      |      THEN 'negative'
      |    ELSE 'none' END AS residual_autocorr
      |FROM agg""".stripMargin
  }

  // ---------------------------------------------------------------- F63
  /** Shapley-value channel attribution (the cooperative-game credit
    * rule of Shapley 1953 applied to conversion journeys) — the
    * principled multi-touch split next to F21's winner-take-all and
    * F27's decay heuristic: a channel's credit is its average
    * marginal contribution over all orderings of the channel set.
    * Journey = (user, day); exposure set = the channels (view=1,
    * click=2, signup=4) seen that day; coalition worth v(T) = number
    * of converted journeys whose exposure uses ONLY channels in T
    * (monotone, v(∅)=0). With k=3 the Shapley weights s!(k−1−s)!/k!
    * have the common denominator 6, so the 6×-scaled credit
    * φ6_c = Σ_T 6w·(v(T∪c)−v(T)) is an EXACT INTEGER — the
    * efficiency axiom Σ_c φ6_c = 6·v(C) is spec-pinned, and the
    * published share is ONE double division. Everything after the
    * single (user, day) aggregate runs on the 8-row mask table
    * against driver-side literal coalition grids (identical VALUES
    * text in the oracle — no engine computes a factorial or a subset
    * test at runtime).
    */
  def qShapleyAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val journeys = Tables.events(spark, dir)
      .select(col("user_id"), expr("(ts DIV 1000000000) DIV 86400").as("day"),
        col("event_type"))
      .groupBy(col("user_id"), col("day"))
      .agg((max(when(col("event_type") === "view", 1).otherwise(0)) +
        max(when(col("event_type") === "click", 2).otherwise(0)) +
        max(when(col("event_type") === "signup", 4).otherwise(0))).as("mask"),
        max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("conv"))
    val counts = journeys.groupBy(col("mask"))
      .agg(count(lit(1)).as("j"), sum(col("conv")).as("c"))
    // literal grids — the same Scala sequences render the oracle VALUES
    val subsetDf = shapleySubsetPairs.toDF("tset", "m")
    val gridDf = shapleyGrid.toDF("channel", "cbit", "tset")
    // left-join from the FULL tset lattice so v(∅) = 0 exists as a row
    // (pairs has no m ⊆ ∅ entry, and the φ join needs every v(T))
    val v = (0 to 7).toDF("tset")
      .join(subsetDf, Seq("tset"), "left")
      .join(broadcast(counts), col("m") === col("mask"), "left")
      .groupBy(col("tset"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("v"))
    val withC = gridDf
      .join(broadcast(v.select(col("tset").as("t0"), col("v").as("v0"))),
        col("tset") === col("t0"))
      .join(broadcast(v.select(col("tset").as("t1"), col("v").as("v1"))),
        col("tset") + col("cbit") === col("t1"))
      // 6·w_s for k=3: s = popcount(T) ∈ {0,1,2} → {2,1,2}
      .withColumn("w6",
        when(col("tset") === 0, 2)
          .when(col("tset").isin(3, 5, 6), 2).otherwise(1))
      .groupBy(col("channel"), col("cbit"))
      .agg(sum(col("w6") * (col("v1") - col("v0"))).as("phi6"))
    val solo = v.select(col("tset"), col("v").as("solo_conversions"))
    val grand = v.filter(col("tset") === 7)
      .select(col("v").as("total_conversions"))
    val nJ = journeys.agg(count(lit(1)).as("n_journeys"))
    withC.join(broadcast(solo), col("cbit") === col("tset"))
      .crossJoin(broadcast(grand)).crossJoin(broadcast(nJ))
      .select(col("channel"), col("n_journeys"), col("total_conversions"),
        col("solo_conversions"), col("phi6").cast("long").as("phi6"),
        round(col("phi6").cast("double") /
          (col("total_conversions").cast("double") * 6), 6).as("share"))
  }

  /** (tset, m) pairs with ∅ ≠ m ⊆ tset over the 3-channel lattice —
    * driver-side literal shared with the oracle. */
  private lazy val shapleySubsetPairs: Seq[(Int, Int)] =
    for { t <- 0 to 7; m <- 1 to 7 if (m & ~t) == 0 } yield (t, m)

  /** (channel, channel bit, coalition-without-channel) rows. */
  private lazy val shapleyGrid: Seq[(String, Int, Int)] =
    for {
      (name, bit) <- Seq(("view", 1), ("click", 2), ("signup", 4))
      t <- 0 to 7 if (t & bit) == 0
    } yield (name, bit, t)

  val qShapleyAttributionSql: String = {
    val pairVals = shapleySubsetPairs
      .map { case (t, m) => s"($t, $m)" }.mkString(", ")
    val gridVals = shapleyGrid
      .map { case (n, b, t) => s"('$n', $b, $t)" }.mkString(", ")
    s"""WITH pairs(tset, m) AS (VALUES $pairVals),
      |grid(channel, cbit, tset) AS (VALUES $gridVals),
      |journeys AS (SELECT user_id, ($duckTsSec) // 86400 AS day,
      |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      + max(CASE WHEN event_type = 'click' THEN 2 ELSE 0 END)
      |      + max(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END) AS mask,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY 1, 2),
      |counts AS (SELECT mask, count(*) AS j, sum(conv) AS c
      |  FROM journeys GROUP BY 1),
      |tsets(tset) AS (VALUES (0), (1), (2), (3), (4), (5), (6), (7)),
      |v AS (SELECT t.tset, CAST(coalesce(sum(c.c), 0) AS BIGINT) AS v
      |  FROM tsets t LEFT JOIN pairs p ON t.tset = p.tset
      |  LEFT JOIN counts c ON p.m = c.mask GROUP BY 1),
      |phi AS (SELECT g.channel, g.cbit,
      |    CAST(sum((CASE WHEN g.tset = 0 THEN 2
      |      WHEN g.tset IN (3, 5, 6) THEN 2 ELSE 1 END)
      |      * (v1.v - v0.v)) AS BIGINT) AS phi6
      |  FROM grid g
      |  JOIN v v0 ON g.tset = v0.tset
      |  JOIN v v1 ON g.tset + g.cbit = v1.tset
      |  GROUP BY 1, 2),
      |grand AS (SELECT v AS total_conversions FROM v WHERE tset = 7),
      |nj AS (SELECT count(*) AS n_journeys FROM journeys)
      |SELECT p.channel, nj.n_journeys, grand.total_conversions,
      |  s.v AS solo_conversions, p.phi6,
      |  round(CAST(p.phi6 AS DOUBLE)
      |    / (CAST(grand.total_conversions AS DOUBLE) * 6), 6) AS share
      |FROM phi p JOIN v s ON p.cbit = s.tset, grand, nj""".stripMargin
  }

  // ---------------------------------------------------------------- F61
  /** Partial autocorrelation (Durbin–Levinson, lags 1–3) of the
    * hourly event-count series — the AR-ORDER probe F53's portmanteau
    * verdict can't give: Ljung–Box says "some serial structure",
    * PACF says at WHICH lag the direct (confound-removed) dependence
    * lives, the readout an AR(p) model order is picked from. The
    * r_k autocorrelations reuse F53's engine-exact device verbatim
    * (ỹ = n·y − S exact longs, DECIMAL(38,0) lag products, each r_k
    * ONE double division); the Durbin–Levinson recursion unrolls to
    * three FIXED-ORDER double expressions over the r_k columns —
    * φ₁₁ = r₁, φ₂₂ = (r₂−r₁²)/(1−r₁²), φ₃₃ from the level-2
    * coefficients — identical IEEE expression trees in both engines
    * (no unordered double sum, the q_stl lesson). ar_order_hint =
    * the largest lag whose ROUNDED |φ_kk| clears the 1.96/√n
    * white-noise band (the cut runs on already-rounded values — the
    * shared-grain rule). Degenerate flat series (den = 0 or
    * 1−r₁² = 0) publishes null φ, not a divide error.
    */
  def qPacf(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("(ts DIV 1000000000) DIV 3600").as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("y"))
    val tot = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour").asc)
    val centered = hourly.join(tot, "event_type")
      .withColumn("yt", col("n") * col("y") - col("s"))
      .withColumn("l1", lag(col("yt"), 1).over(w))
      .withColumn("l2", lag(col("yt"), 2).over(w))
      .withColumn("l3", lag(col("yt"), 3).over(w))
    val d38 = "decimal(38,0)"
    val agg = centered.groupBy(col("event_type")).agg(
      max(col("n")).as("n"),
      sum(col("yt").cast(d38) * col("yt")).as("den"),
      sum(col("yt").cast(d38) * col("l1")).as("c1"),
      sum(col("yt").cast(d38) * col("l2")).as("c2"),
      sum(col("yt").cast(d38) * col("l3")).as("c3"))
    def r(k: Int) = col(s"c$k").cast("double") / col("den").cast("double")
    // Durbin–Levinson unrolled: identical expression trees both engines
    val p1 = r(1)
    val p2 = (r(2) - r(1) * r(1)) / (lit(1.0) - r(1) * r(1))
    val a21 = r(1) - p2 * r(1) // φ₂₁ = φ₁₁ − φ₂₂·φ₁₁
    val p3 = (r(3) - a21 * r(2) - p2 * r(1)) /
      (lit(1.0) - a21 * r(1) - p2 * r(2))
    val guarded = agg
      .withColumn("pacf1",
        when(col("den") === 0, lit(null).cast("double"))
          .otherwise(round(p1, 6)))
      .withColumn("pacf2",
        when(col("den") === 0 || lit(1.0) - r(1) * r(1) === 0.0,
          lit(null).cast("double")).otherwise(round(p2, 6)))
      .withColumn("pacf3",
        when(col("den") === 0 || lit(1.0) - r(1) * r(1) === 0.0 ||
          lit(1.0) - a21 * r(1) - p2 * r(2) === 0.0,
          lit(null).cast("double")).otherwise(round(p3, 6)))
    val band = round(lit(1.96) / sqrt(col("n_hours").cast("double")), 6)
    guarded.select(col("event_type"), col("n").as("n_hours"),
        col("pacf1"), col("pacf2"), col("pacf3"))
      .withColumn("ar_order_hint",
        when(abs(col("pacf3")) > band, 3)
          .when(abs(col("pacf2")) > band, 2)
          .when(abs(col("pacf1")) > band, 1)
          .otherwise(0))
  }

  val qPacfSql: String =
    s"""WITH hourly AS (SELECT event_type, ($duckTsSec) // 3600 AS hour,
      |    count(*) AS y
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT event_type, count(*) AS n, sum(y) AS s
      |  FROM hourly GROUP BY 1),
      |c AS (SELECT h.event_type, t.n, t.n * h.y - t.s AS yt,
      |    lag(t.n * h.y - t.s, 1) OVER w AS l1,
      |    lag(t.n * h.y - t.s, 2) OVER w AS l2,
      |    lag(t.n * h.y - t.s, 3) OVER w AS l3
      |  FROM hourly h JOIN tot t ON h.event_type = t.event_type
      |  WINDOW w AS (PARTITION BY h.event_type ORDER BY h.hour ASC)),
      |agg AS (SELECT event_type, max(n) AS n,
      |    sum(CAST(yt AS HUGEINT) * yt) AS den,
      |    sum(CAST(yt AS HUGEINT) * l1) AS c1,
      |    sum(CAST(yt AS HUGEINT) * l2) AS c2,
      |    sum(CAST(yt AS HUGEINT) * l3) AS c3
      |  FROM c GROUP BY 1),
      |r AS (SELECT event_type, n,
      |    CAST(c1 AS DOUBLE) / CAST(den AS DOUBLE) AS r1,
      |    CAST(c2 AS DOUBLE) / CAST(den AS DOUBLE) AS r2,
      |    CAST(c3 AS DOUBLE) / CAST(den AS DOUBLE) AS r3,
      |    den
      |  FROM agg),
      |dl AS (SELECT event_type, n, den, r1, r2, r3,
      |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2
      |  FROM r),
      |dl2 AS (SELECT *, r1 - p2 * r1 AS a21 FROM dl),
      |p AS (SELECT event_type, n,
      |    CASE WHEN den = 0 THEN NULL ELSE round(r1, 6) END AS pacf1,
      |    CASE WHEN den = 0 OR 1.0 - r1 * r1 = 0.0 THEN NULL
      |      ELSE round(p2, 6) END AS pacf2,
      |    CASE WHEN den = 0 OR 1.0 - r1 * r1 = 0.0
      |        OR 1.0 - a21 * r1 - p2 * r2 = 0.0 THEN NULL
      |      ELSE round((r3 - a21 * r2 - p2 * r1)
      |        / (1.0 - a21 * r1 - p2 * r2), 6) END AS pacf3,
      |    round(1.96 / sqrt(CAST(n AS DOUBLE)), 6) AS band
      |  FROM dl2)
      |SELECT event_type, n AS n_hours, pacf1, pacf2, pacf3,
      |  CASE WHEN abs(pacf3) > band THEN 3
      |    WHEN abs(pacf2) > band THEN 2
      |    WHEN abs(pacf1) > band THEN 1
      |    ELSE 0 END AS ar_order_hint
      |FROM p""".stripMargin

  // ---------------------------------------------------------------- F62
  /** Discrete periodogram of daily revenue at candidate periods
    * {5, 7, 9, 11} days — the frequency-domain twin of F33/F52's
    * time-domain seasonality readers: spectral power
    * P(p) = C²+S², C = Σ ỹ_t·cos(2πt/p), S = Σ ỹ_t·sin(2πt/p),
    * answering "is the weekly cycle a PEAK of the spectrum or just
    * one bump among many?". ENGINE-EXACT by the trig-table device:
    * each period needs only p distinct cos/sin values (t enters mod
    * p), which are materialized ONCE on the driver as µ-scaled
    * INTEGER literals (round(cos·10⁶)) and embedded — the same
    * literal text — in both the Spark plan and the oracle SQL, so
    * no engine ever evaluates a trig function; ỹ = n·y − S keeps
    * the series centered in exact integers (DC leakage removed),
    * every product and sum is exact DECIMAL(38,0), the 10⁶ lift is
    * divided back out by half-up BEFORE squaring (so the squares
    * stay inside DECIMAL(38,0) at any SF), and the relative power
    * is ONE double division of exact integers. No window functions
    * at all — one day-table aggregate per period row.
    */
  def qPeriodogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // µ-scaled integer trig tables: driver-computed literals shared
    // verbatim with the oracle (periodTrigRows)
    val trig = periodTrigRows.toDF("p", "res", "cosu", "sinu")
    val byDay = Tables.orders(spark, dir)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("yc"))
    val tot = byDay.agg(count(lit(1)).as("n"), sum(col("yc")).as("s"))
    val d38 = "decimal(38,0)"
    val centered = byDay.crossJoin(broadcast(tot))
      .withColumn("yt", (col("n") * col("yc") - col("s")).cast(d38))
    val joined = centered.join(broadcast(trig),
      pmod(col("day"), col("p")) === col("res"))
    val hu = (num: String) =>
      expr(s"""CASE WHEN $num >= 0
        | THEN (2 * ($num) + 1000000) DIV 2000000
        | ELSE -((2 * (-($num)) + 1000000) DIV 2000000)
        | END""".stripMargin.replace("\n", " "))
    val spectra = joined.groupBy(col("p"))
      .agg(sum(col("yt") * col("cosu")).as("cu"),
        sum(col("yt") * col("sinu")).as("su"),
        count(lit(1)).as("n_days"))
      .withColumn("cq", hu("cu").cast(d38))
      .withColumn("sq", hu("su").cast(d38))
      .withColumn("power", (col("cq") * col("cq") + col("sq") * col("sq"))
        .cast(d38))
    val totPow = spectra.agg(sum(col("power")).as("pt"))
    spectra.crossJoin(broadcast(totPow))
      .select(col("p").as("period"),
        col("power").cast("double").as("power"),
        round(col("power").cast("double") / col("pt").cast("double"), 6)
          .as("rel_power"))
      // 4-row bounded window (one row per candidate period)
      .withColumn("is_peak",
        col("rel_power") === max(col("rel_power"))
          .over(Window.partitionBy(lit(1))))
  }

  /** Driver-computed µ-scaled trig literals (p, residue, cos, sin) —
    * the SINGLE source both engines read, so trig never runs in
    * either engine. */
  private lazy val periodTrigRows: Seq[(Int, Int, Long, Long)] =
    for {
      p <- Seq(5, 7, 9, 11)
      r <- 0 until p
    } yield {
      val a = 2.0 * math.Pi * r / p
      (p, r, math.round(math.cos(a) * 1e6), math.round(math.sin(a) * 1e6))
    }

  val qPeriodogramSql: String = {
    val vals = periodTrigRows
      .map { case (p, r, c, s) => s"($p, $r, $c, $s)" }.mkString(", ")
    s"""WITH trig(p, res, cosu, sinu) AS (VALUES $vals),
      |byday AS (SELECT
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS yc
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT count(*) AS n, sum(yc) AS s FROM byday),
      |centered AS (SELECT day, CAST(n * yc - s AS HUGEINT) AS yt
      |  FROM byday, tot),
      |joined AS (SELECT t.p, c.yt, t.cosu, t.sinu
      |  FROM centered c JOIN trig t ON ((c.day % t.p) + t.p) % t.p = t.res),
      |spec0 AS (SELECT p, sum(yt * cosu) AS cu, sum(yt * sinu) AS su
      |  FROM joined GROUP BY 1),
      |spec AS (SELECT p,
      |    CAST(CASE WHEN cu >= 0 THEN (2 * cu + 1000000) // 2000000
      |      ELSE -((2 * (-cu) + 1000000) // 2000000) END AS HUGEINT) AS cq,
      |    CAST(CASE WHEN su >= 0 THEN (2 * su + 1000000) // 2000000
      |      ELSE -((2 * (-su) + 1000000) // 2000000) END AS HUGEINT) AS sq
      |  FROM spec0),
      |pw AS (SELECT p, cq * cq + sq * sq AS power FROM spec),
      |pt AS (SELECT sum(power) AS pt FROM pw)
      |SELECT p AS period, CAST(power AS DOUBLE) AS power,
      |  round(CAST(power AS DOUBLE) / CAST(pt AS DOUBLE), 6) AS rel_power,
      |  (round(CAST(power AS DOUBLE) / CAST(pt AS DOUBLE), 6)
      |    = max(round(CAST(power AS DOUBLE) / CAST(pt AS DOUBLE), 6))
      |      OVER ()) AS is_peak
      |FROM pw, pt""".stripMargin
  }

  // ---------------------------------------------------------------- F59
  /** MASE forecast scorecard (Hyndman & Koehler 2006) — the
    * scale-free accuracy readout the F30/F52 forecasting family has
    * no judge for: does the SEASONAL-NAIVE forecast ŷ_t = y_{t−7}
    * beat the one-step naive baseline on a true holdout? The last 28
    * observed days hold out; MASE = (holdout seasonal-naive MAE) /
    * (train one-step-naive MAE). ENGINE-EXACT end-to-end: daily
    * revenue lifts to integer cents, both absolute-error sums are
    * sums of |differences of integers| (exact DECIMAL(38,0) — no
    * float ever enters an error term), and MASE is ONE double
    * division of two exact integer products (sae_f·(n_train−1)
    * over h·sae_n — the cross-multiplied mean-of-sums form, so no
    * intermediate mean is ever a rounded double). Series positions
    * are data rows in day order (lag over the bounded day table —
    * the q_changepoint PlanSpec class); rows without a 7-back
    * predecessor drop identically in both engines. Verdict:
    * mase < 1 ⟺ seasonality carries real signal.
    */
  def qMase(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Tables.orders(spark, dir)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("yc"))
    val w = Window.orderBy(col("day"))
    val d38 = "decimal(38,0)"
    val marked = byDay
      .withColumn("y7", lag(col("yc"), 7).over(w))
      .withColumn("y1", lag(col("yc"), 1).over(w))
      .withColumn("rev_rank",
        row_number().over(Window.orderBy(col("day").desc)))
      .withColumn("is_holdout", col("rev_rank") <= 28)
    val agg = marked.agg(
      sum(when(!col("is_holdout"), 1L).otherwise(0L)).as("n_train"),
      sum(when(col("is_holdout"), 1L).otherwise(0L)).as("n_holdout"),
      sum(when(col("is_holdout") && col("y7").isNotNull,
        abs(col("yc") - col("y7")).cast(d38))).as("sae_f"),
      sum(when(col("is_holdout") && col("y7").isNotNull, 1L)
        .otherwise(0L)).as("h"),
      sum(when(!col("is_holdout") && col("y1").isNotNull,
        abs(col("yc") - col("y1")).cast(d38))).as("sae_n"),
      sum(when(!col("is_holdout") && col("y1").isNotNull, 1L)
        .otherwise(0L)).as("n_tn"))
    agg.select(col("n_train"), col("n_holdout"),
        col("sae_f").cast("long").as("sae_seasonal_cents"),
        col("sae_n").cast("long").as("sae_naive_cents"),
        round((col("sae_f") * col("n_tn")).cast(d38).cast("double") /
          (col("sae_n") * col("h")).cast(d38).cast("double"), 6).as("mase"))
      .withColumn("seasonal_beats_naive", col("mase") < 1.0)
  }

  val qMaseSql: String =
    """WITH byday AS (SELECT
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS yc
      |  FROM orders GROUP BY 1),
      |marked AS (SELECT day, yc,
      |    lag(yc, 7) OVER (ORDER BY day) AS y7,
      |    lag(yc, 1) OVER (ORDER BY day) AS y1,
      |    (row_number() OVER (ORDER BY day DESC) <= 28) AS is_holdout
      |  FROM byday),
      |agg AS (SELECT
      |    CAST(sum(CASE WHEN NOT is_holdout THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_train,
      |    CAST(sum(CASE WHEN is_holdout THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_holdout,
      |    sum(CASE WHEN is_holdout AND y7 IS NOT NULL
      |      THEN CAST(abs(yc - y7) AS HUGEINT) END) AS sae_f,
      |    CAST(sum(CASE WHEN is_holdout AND y7 IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS h,
      |    sum(CASE WHEN NOT is_holdout AND y1 IS NOT NULL
      |      THEN CAST(abs(yc - y1) AS HUGEINT) END) AS sae_n,
      |    CAST(sum(CASE WHEN NOT is_holdout AND y1 IS NOT NULL THEN 1 ELSE 0
      |      END) AS BIGINT) AS n_tn
      |  FROM marked)
      |SELECT n_train, n_holdout,
      |  CAST(sae_f AS BIGINT) AS sae_seasonal_cents,
      |  CAST(sae_n AS BIGINT) AS sae_naive_cents,
      |  round(CAST(sae_f * n_tn AS DOUBLE) / CAST(sae_n * h AS DOUBLE), 6)
      |    AS mase,
      |  (round(CAST(sae_f * n_tn AS DOUBLE) / CAST(sae_n * h AS DOUBLE), 6)
      |    < 1.0) AS seasonal_beats_naive
      |FROM agg""".stripMargin

  // ---------------------------------------------------------------- F60
  /** Log-rank test (Mantel 1966) comparing signup→purchase survival
    * between the ORGANIC cohort (first-ever event is a view/click)
    * and the DIRECT cohort (anything else) — the two-sample verdict
    * the F19/F46 single-curve estimators cannot give: are the two
    * conversion processes the same? Standard hypergeometric form at
    * each event hour t: O−E term d_a − d·n_a/n and variance
    * d·n_a·n_b·(n−d)/(n²·(n−1)) over the cohort at-risk counts.
    * Parity device (the q_hurst µ-quantize-before-the-sum rule):
    * each hour's O−E and variance term quantizes to EXACT INTEGER
    * micro-units via the sign-split half-up division, so the sums
    * across hours are order-free integer arithmetic — no unordered
    * double sum (the q_stl lesson) — and χ² = (Σoe_µ)²/(Σvar_µ·10⁶)
    * is ONE double division of exact integers. Windows run over the
    * duration-hour grid (observation-span-bounded, the
    * q_kaplan_meier PlanSpec class). Verdict cuts χ²₁(.05) = 3.841.
    */
  def qLogrank(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), tsSec.as("t"))
    val users = ev.groupBy(col("user_id"))
      .agg(min(col("t")).as("f"),
        min(struct(col("t"), col("event_id"), col("event_type"))).as("fe"),
        min(when(col("event_type") === "purchase", col("t"))).as("fp"),
        max(col("t")).as("l"))
      .withColumn("cohort",
        when(col("fe.event_type").isin("view", "click"), lit("organic"))
          .otherwise(lit("direct")))
      .cache()
    val g = users.agg(max(col("l")).as("endg"),
      sum(when(col("cohort") === "organic", 1L).otherwise(0L)).as("na0"),
      sum(when(col("cohort") =!= "organic", 1L).otherwise(0L)).as("nb0"))
    val byHour = users.crossJoin(broadcast(g))
      .withColumn("is_event", col("fp").isNotNull)
      .withColumn("dur",
        when(col("is_event"), col("fp") - col("f"))
          .otherwise(col("endg") - col("f")))
      .withColumn("dur_hour", expr("dur DIV 3600"))
      .withColumn("is_a", col("cohort") === "organic")
      .groupBy(col("dur_hour"))
      .agg(
        sum(when(col("is_a") && col("is_event"), 1L).otherwise(0L)).as("da"),
        sum(when(!col("is_a") && col("is_event"), 1L).otherwise(0L)).as("db"),
        sum(when(col("is_a") && !col("is_event"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("is_a") && !col("is_event"), 1L).otherwise(0L)).as("cb"),
        max(col("na0")).as("na0"), max(col("nb0")).as("nb0"))
    val prior = Window.orderBy(col("dur_hour"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = byHour
      .withColumn("na", col("na0") -
        coalesce(sum(col("da") + col("ca")).over(prior), lit(0L)))
      .withColumn("nb", col("nb0") -
        coalesce(sum(col("db") + col("cb")).over(prior), lit(0L)))
      .withColumn("d", col("da") + col("db"))
      .withColumn("n", col("na") + col("nb"))
      .filter(col("d") > 0 && col("n") > 1)
    // µ-quantized exact-integer per-hour terms: oe numerator can be
    // negative → sign-split half-up; var numerator is ≥ 0 always.
    // DECIMAL(38,0) before the ×10⁶ lift — user-count² × 10⁶ rides
    // past LONG range at high SF
    val oeU = expr(
      """CASE WHEN (da * n - d * na) >= 0
        | THEN (2 * CAST(da * n - d * na AS DECIMAL(38,0)) * 1000000 + n)
        |   DIV (2 * n)
        | ELSE -((2 * CAST(d * na - da * n AS DECIMAL(38,0)) * 1000000 + n)
        |   DIV (2 * n))
        | END""".stripMargin.replace("\n", " "))
    val varU = expr(
      """(2 * (CAST(d AS DECIMAL(38,0)) * na * nb * (n - d)) * 1000000
        |  + CAST(n AS DECIMAL(38,0)) * n * (n - 1))
        | DIV (2 * CAST(n AS DECIMAL(38,0)) * n * (n - 1))"""
        .stripMargin.replace("\n", " "))
    val agg = risk
      .withColumn("oe_u", oeU.cast("decimal(38,0)"))
      .withColumn("var_u", varU.cast("decimal(38,0)"))
      .agg(sum(col("oe_u")).as("oe_micro"), sum(col("var_u")).as("var_micro"),
        sum(col("da")).as("events_organic"), sum(col("db")).as("events_direct"),
        max(col("na0")).as("n_organic"), max(col("nb0")).as("n_direct"))
    // sign-split cast: oe_micro can be negative (DuckDB negative
    // HUGEINT→DOUBLE mis-rounds above 2^53)
    val oeD = expr("""CASE WHEN oe_micro >= 0 THEN CAST(oe_micro AS DOUBLE)
      | ELSE -CAST(-oe_micro AS DOUBLE) END""".stripMargin.replace("\n", " "))
    val out = agg.select(col("n_organic"), col("n_direct"),
        col("events_organic").cast("long").as("events_organic"),
        col("events_direct").cast("long").as("events_direct"),
        col("oe_micro").cast("long").as("oe_micro"),
        col("var_micro").cast("long").as("var_micro"),
        round(oeD * oeD /
          (col("var_micro").cast("double") * 1e6), 6).as("logrank_chi2"))
      .withColumn("curves_differ", col("logrank_chi2") > 3.841)
      .cache() // qGmmEm cleanup pattern (ADVICE r15): 1-row output
    out.count()
    users.unpersist()
    out
  }

  val qLogrankSql: String =
    s"""WITH ev AS (SELECT user_id, event_type, event_id, $duckTsSec AS t
       |  FROM events),
       |users AS (SELECT user_id, min(t) AS f,
       |    min({'t': t, 'event_id': event_id, 'event_type': event_type})
       |      AS fe,
       |    min(CASE WHEN event_type = 'purchase' THEN t END) AS fp,
       |    max(t) AS l
       |  FROM ev GROUP BY 1),
       |coh AS (SELECT user_id, f, fp, l,
       |    CASE WHEN (fe).event_type IN ('view', 'click') THEN 'organic'
       |      ELSE 'direct' END AS cohort
       |  FROM users),
       |g AS (SELECT max(l) AS endg,
       |    CAST(sum(CASE WHEN cohort = 'organic' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS na0,
       |    CAST(sum(CASE WHEN cohort <> 'organic' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS nb0
       |  FROM coh),
       |byhour AS (SELECT
       |    (CASE WHEN fp IS NOT NULL THEN fp - f ELSE endg - f END) // 3600
       |      AS dur_hour,
       |    CAST(sum(CASE WHEN cohort = 'organic' AND fp IS NOT NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) AS da,
       |    CAST(sum(CASE WHEN cohort <> 'organic' AND fp IS NOT NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) AS db,
       |    CAST(sum(CASE WHEN cohort = 'organic' AND fp IS NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(sum(CASE WHEN cohort <> 'organic' AND fp IS NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) AS cb,
       |    max(na0) AS na0, max(nb0) AS nb0
       |  FROM coh, g GROUP BY 1),
       |risk0 AS (SELECT *,
       |    na0 - coalesce(sum(da + ca) OVER (ORDER BY dur_hour
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS na,
       |    nb0 - coalesce(sum(db + cb) OVER (ORDER BY dur_hour
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
       |  FROM byhour),
       |risk AS (SELECT *, da + db AS d, na + nb AS n FROM risk0
       |  WHERE da + db > 0 AND na + nb > 1),
       |terms AS (SELECT da, db, na0, nb0,
       |    CAST(CASE WHEN (da * n - d * na) >= 0
       |      THEN (2 * CAST(da * n - d * na AS HUGEINT) * 1000000 + n)
       |        // (2 * n)
       |      ELSE -((2 * CAST(d * na - da * n AS HUGEINT) * 1000000 + n)
       |        // (2 * n))
       |      END AS HUGEINT) AS oe_u,
       |    CAST((2 * (CAST(d AS HUGEINT) * na * nb * (n - d)) * 1000000
       |        + CAST(n AS HUGEINT) * n * (n - 1))
       |      // (2 * CAST(n AS HUGEINT) * n * (n - 1)) AS HUGEINT) AS var_u
       |  FROM risk),
       |agg AS (SELECT sum(oe_u) AS oe_micro, sum(var_u) AS var_micro,
       |    CAST(sum(da) AS BIGINT) AS events_organic,
       |    CAST(sum(db) AS BIGINT) AS events_direct,
       |    max(na0) AS n_organic, max(nb0) AS n_direct
       |  FROM terms)
       |SELECT n_organic, n_direct, events_organic, events_direct,
       |  CAST(oe_micro AS BIGINT) AS oe_micro,
       |  CAST(var_micro AS BIGINT) AS var_micro,
       |  round((CASE WHEN oe_micro >= 0 THEN CAST(oe_micro AS DOUBLE)
       |      ELSE -CAST(-oe_micro AS DOUBLE) END)
       |    * (CASE WHEN oe_micro >= 0 THEN CAST(oe_micro AS DOUBLE)
       |      ELSE -CAST(-oe_micro AS DOUBLE) END)
       |    / (CAST(var_micro AS DOUBLE) * 1e6), 6) AS logrank_chi2,
       |  (round((CASE WHEN oe_micro >= 0 THEN CAST(oe_micro AS DOUBLE)
       |      ELSE -CAST(-oe_micro AS DOUBLE) END)
       |    * (CASE WHEN oe_micro >= 0 THEN CAST(oe_micro AS DOUBLE)
       |      ELSE -CAST(-oe_micro AS DOUBLE) END)
       |    / (CAST(var_micro AS DOUBLE) * 1e6), 6) > 3.841) AS curves_differ
       |FROM agg""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mase" -> (qMase _),
    "q_logrank" -> (qLogrank _),
    "q_pacf" -> (qPacf _),
    "q_periodogram" -> (qPeriodogram _),
    "q_durbin_watson" -> (qDurbinWatson _),
    "q_shapley_attribution" -> (qShapleyAttribution _),
    "q_variance_ratio" -> (qVarianceRatio _),
    "q_kpss" -> (qKpss _),
    "q_arch_lm" -> (qArchLm _),
    "q_ewma_chart" -> (qEwmaChart _),
    "q_stl_strength" -> (qStlStrength _),
    "q_hurst" -> (qHurst _),
    "q_ljung_box" -> (qLjungBox _),
    "q_ar2_forecast" -> (qAr2Forecast _),
    "q_cusum" -> (qCusum _),
    "q_granger" -> (qGranger _),
    "q_stl_decompose" -> (qStlDecompose _),
    "q_stl_trend" -> (qStlTrend _),
    "q_stl_seasonal" -> (qStlSeasonal _),
    "q_stl_remainder" -> (qStlRemainder _),
    "q_rolling_corr" -> (qRollingCorr _),
    "q_page_hinkley" -> (qPageHinkley _),
    "q_holt_forecast" -> (qHoltForecast _),
    "q_nelson_aalen" -> (qNelsonAalen _),
    "q_burstiness" -> (qBurstiness _),
    "q_drawdown" -> (qDrawdown _),
    "q_bollinger" -> (qBollinger _),
    "q_bollinger_iv" -> (qBollingerIv _),
    "q_theil_sen" -> (qTheilSen _),
    "q_autocorr" -> (qAutocorr _),
    "q_top_paths" -> (qTopPaths _),
    "q_seasonality" -> (qSeasonality _),
    "q_changepoint" -> (qChangepoint _),
    "q_kaplan_meier" -> (qKaplanMeier _),
    "q_peak_concurrency" -> (qPeakConcurrency _),
    "q_twap" -> (qTwap _),
    "q_markov_transitions" -> (qMarkovTransitions _),
    "q_gap_fill" -> (qGapFill _),
    "q_hopping_window" -> (qHoppingWindow _),
    "q_lag_delta" -> (qLagDelta _),
    "q_asof_join" -> (qAsofJoin _),
    "q_range_join" -> (qRangeJoin _),
    "q_sessionize" -> (qSessionize _),
    "q_session_window" -> (qSessionWindow _),
    "q_active_users" -> (qActiveUsers _),
    "q_interpurchase" -> (qInterpurchase _),
    "q_activity_streaks" -> (qActivityStreaks _),
    "q_tumbling_window" -> (qTumblingWindow _),
    "q_funnel" -> (qFunnel _),
    "q_churn" -> (qChurn _),
    "q_new_returning" -> (qNewReturning _),
    "q_funnel_steps" -> (qFunnelSteps _),
    "q_session_stats" -> (qSessionStats _),
    "q_cohort_ltv" -> (qCohortLtv _),
    "q_ohlc_bars" -> (qOhlcBars _),
    "q_attribution" -> (qAttribution _),
    "q_attribution_decay" -> (qAttributionDecay _),
    "q_scd2_intervals" -> (qScd2Intervals _),
    "q_json_extract" -> (qJsonExtract _))

  def oracle: Map[String, String] = Map(
    "q_mase" -> qMaseSql,
    "q_logrank" -> qLogrankSql,
    "q_pacf" -> qPacfSql,
    "q_periodogram" -> qPeriodogramSql,
    "q_durbin_watson" -> qDurbinWatsonSql,
    "q_shapley_attribution" -> qShapleyAttributionSql,
    "q_variance_ratio" -> qVarianceRatioSql,
    "q_kpss" -> qKpssSql,
    "q_arch_lm" -> qArchLmSql,
    "q_ewma_chart" -> qEwmaChartSql,
    "q_stl_strength" -> qStlStrengthSql,
    "q_hurst" -> qHurstSql,
    "q_ljung_box" -> qLjungBoxSql,
    "q_ar2_forecast" -> qAr2ForecastSql,
    "q_cusum" -> qCusumSql,
    "q_granger" -> qGrangerSql,
    "q_stl_decompose" -> qStlDecomposeSql,
    "q_stl_trend" -> qStlTrendSql,
    "q_stl_seasonal" -> qStlSeasonalSql,
    "q_stl_remainder" -> qStlRemainderSql,
    "q_rolling_corr" -> qRollingCorrSql,
    "q_page_hinkley" -> qPageHinkleySql,
    "q_holt_forecast" -> qHoltForecastSql,
    "q_nelson_aalen" -> qNelsonAalenSql,
    "q_burstiness" -> qBurstinessSql,
    "q_drawdown" -> qDrawdownSql,
    "q_bollinger" -> qBollingerSql,
    "q_bollinger_iv" -> qBollingerIvSql,
    "q_theil_sen" -> qTheilSenSql,
    "q_autocorr" -> qAutocorrSql,
    "q_top_paths" -> qTopPathsSql,
    "q_seasonality" -> qSeasonalitySql,
    "q_changepoint" -> qChangepointSql,
    "q_kaplan_meier" -> qKaplanMeierSql,
    "q_peak_concurrency" -> qPeakConcurrencySql,
    "q_twap" -> qTwapSql,
    "q_markov_transitions" -> qMarkovTransitionsSql,
    "q_ohlc_bars" -> qOhlcBarsSql,
    "q_attribution" -> qAttributionSql,
    "q_attribution_decay" -> qAttributionDecaySql,
    "q_scd2_intervals" -> qScd2IntervalsSql,
    "q_gap_fill" -> qGapFillSql,
    "q_hopping_window" -> qHoppingWindowSql,
    "q_lag_delta" -> qLagDeltaSql,
    "q_asof_join" -> qAsofJoinSql,
    "q_range_join" -> qRangeJoinSql,
    "q_sessionize" -> qSessionizeSql,
    "q_session_window" -> qSessionWindowSql,
    "q_active_users" -> qActiveUsersSql,
    "q_interpurchase" -> qInterpurchaseSql,
    "q_activity_streaks" -> qActivityStreaksSql,
    "q_tumbling_window" -> qTumblingWindowSql,
    "q_funnel" -> qFunnelSql,
    "q_churn" -> qChurnSql,
    "q_new_returning" -> qNewReturningSql,
    "q_funnel_steps" -> qFunnelStepsSql,
    "q_session_stats" -> qSessionStatsSql,
    "q_cohort_ltv" -> qCohortLtvSql,
    "q_json_extract" -> qJsonExtractSql)
}
