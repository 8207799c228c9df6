package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact.{exactSum, money}

/** Skew-mitigation join utilities (SURVEY.md §4).
  *
  * AQE's runtime skew splitting covers sort-merge joins; salting is
  * the explicit fallback for hot keys when the build side is small
  * enough to replicate — the classic 100 TB pattern for power-law
  * keys (users, domains, null-heavy FKs).
  */
object SkewJoin {

  /** Inner-join `big` with `small` on `key`, spreading each hot key of
    * `big` across `salts` partitions. The big side derives a
    * deterministic salt by hashing `saltBy` (any column that varies
    * within a key group, e.g. the fact row id); the small side is
    * replicated once per salt value — correct for any 1:N join where
    * `small` has unique keys.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      saltBy: Column, salts: Int): DataFrame = {
    val bigS = big.withColumn("__salt", pmod(hash(saltBy), lit(salts)))
    val smallS = small
      .withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
    bigS.join(smallS, Seq(key, "__salt")).drop("__salt")
  }

  // ---------------------------------------------------------------- H1
  /** The salted join wired as a query: per-segment event rollup where
    * the fact side (events, power-law user activity) joins the dim
    * through [[saltedJoin]]. Salting is semantics-neutral, so the
    * oracle is the PLAIN join — the driver's hash check proves the
    * skew machinery preserves join semantics exactly.
    */
  def qSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    saltedJoin(ev, cust, "user_id", col("event_id"), salts = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        exactSum(money(col("value"))).cast("double").as("sum_value"))
  }

  val qSaltedJoinSql: String =
    """SELECT c_mktsegment, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events e JOIN customer c ON c.c_custkey = e.user_id
      |GROUP BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- H5
  /** Join-key skew diagnostics over events.user_id — the report that
    * decides whether a join needs [[saltedJoin]] BEFORE it runs (at
    * 100 TB, discovering skew from a straggling task is too late).
    * Top-key and p99 load relative to the mean key load.
    *
    * p99 is EXACT linear interpolation (DuckDB quantile_cont twin,
    * the A15 contract) computed from the count-of-counts HISTOGRAM,
    * not `percentile` over the raw per-key counts: Spark's exact
    * Percentile buffers every per-key count in one aggregation
    * buffer, so at billions of keys the skew diagnostic itself OOMs.
    * Distinct per-key-count VALUES are tiny under any load shape
    * (bounded by max key load, Zipf-concentrated in practice), so the
    * histogram aggregates map-side and the interpolation arithmetic
    * runs over a frame the size of the distinct-count set.
    */
  def qSkewReport(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pk = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    val tot = pk.agg(
      sum(col("cnt")).as("n_rows"),
      count(lit(1)).as("n_keys"),
      max(col("cnt")).as("max_cnt"))
    // count-of-counts histogram + running cum; the single-partition
    // window is over the HISTOGRAM (distinct load values), never the
    // key set — deliberate and safe at any corpus size
    val w = Window.orderBy(col("cnt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = pk.groupBy(col("cnt")).agg(count(lit(1)).as("freq"))
      .withColumn("cum", sum(col("freq")).over(w))
    // type-7 interpolation: rank r = 0.99·(n_keys−1); the value at
    // 0-based index k is the smallest cnt whose cum exceeds k
    val r = (col("n_keys") - 1).cast("double") * lit(0.99)
    val withTot = cum.crossJoin(broadcast(tot))
    val vLo = withTot.filter(col("cum") > floor(r))
      .agg(min(col("cnt")).cast("double").as("v_lo"))
    val vHi = withTot.filter(col("cum") > ceil(r))
      .agg(min(col("cnt")).cast("double").as("v_hi"))
    tot.crossJoin(broadcast(vLo)).crossJoin(broadcast(vHi))
      .select(col("n_rows"), col("n_keys"), col("max_cnt"),
        round(col("max_cnt").cast("double") * col("n_keys") / col("n_rows"), 4)
          .as("top_key_over_mean"),
        round((col("v_lo") + (r - floor(r)) * (col("v_hi") - col("v_lo")))
          * col("n_keys") / col("n_rows"), 4)
          .as("p99_over_mean"))
  }

  val qSkewReportSql: String =
    """WITH pk AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id)
      |SELECT CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys,
      |  CAST(max(cnt) AS BIGINT) AS max_cnt,
      |  round(CAST(max(cnt) AS DOUBLE) * count(*) / sum(cnt), 4) AS top_key_over_mean,
      |  round(CAST(quantile_cont(cnt, 0.99) AS DOUBLE) * count(*) / sum(cnt), 4) AS p99_over_mean
      |FROM pk""".stripMargin

  // ---------------------------------------------------------------- H7
  /** Join-size pre-flight: the EXACT cardinality and skew profile of
    * the lineitem⋈orders fact-fact join computed WITHOUT running it —
    * per-side per-key count histograms (each a map-side-combined
    * aggregate), joined on the key so only counts shuffle, never
    * rows; |A⋈B| = Σ_k cnt_a(k)·cnt_b(k). The planner's pre-flight at
    * 100 TB: before committing a multi-hour fact-fact shuffle, a
    * histogram-sized query answers "how many rows come out, how much
    * lands on the hottest key, and does a salt factor help" —
    * `max_key_contrib` ÷ mean-per-key output IS the salt factor H1
    * needs. The two identical lineitem sub-aggregates canonicalize to
    * one exchange (ReuseExchange), so each fact table is read once.
    */
  def qJoinCardinality(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("cl"))
    val o = Tables.orders(spark, dir)
      .groupBy(col("o_orderkey")).agg(count(lit(1)).as("co"))
    val sl = l.agg(sum(col("cl")).as("n_left"), count(lit(1)).as("keys_left"),
      max(col("cl")).as("max_mult_left"))
    val so = o.agg(sum(col("co")).as("n_right"), count(lit(1)).as("keys_right"),
      max(col("co")).as("max_mult_right"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .agg(sum(col("cl") * col("co")).as("join_rows"),
        count(lit(1)).as("n_keys_matched"),
        max(col("cl") * col("co")).as("max_key_contrib"))
      .crossJoin(broadcast(sl)).crossJoin(broadcast(so))
      .select(col("n_left"), col("keys_left"), col("max_mult_left"),
        col("n_right"), col("keys_right"), col("max_mult_right"),
        col("join_rows"), col("n_keys_matched"), col("max_key_contrib"),
        round(col("max_key_contrib").cast("double") * col("n_keys_matched")
          / col("join_rows"), 4).as("top_key_over_mean"))
  }

  val qJoinCardinalitySql: String =
    """WITH l AS (SELECT l_orderkey AS k, count(*) AS cl FROM lineitem GROUP BY 1),
      |o AS (SELECT o_orderkey AS k, count(*) AS co FROM orders GROUP BY 1),
      |sl AS (SELECT CAST(sum(cl) AS BIGINT) AS n_left, count(*) AS keys_left,
      |    CAST(max(cl) AS BIGINT) AS max_mult_left FROM l),
      |so AS (SELECT CAST(sum(co) AS BIGINT) AS n_right, count(*) AS keys_right,
      |    CAST(max(co) AS BIGINT) AS max_mult_right FROM o),
      |j AS (SELECT CAST(sum(cl * co) AS BIGINT) AS join_rows,
      |    count(*) AS n_keys_matched,
      |    CAST(max(cl * co) AS BIGINT) AS max_key_contrib
      |  FROM l JOIN o USING (k))
      |SELECT n_left, keys_left, max_mult_left, n_right, keys_right, max_mult_right,
      |  join_rows, n_keys_matched, max_key_contrib,
      |  round(CAST(max_key_contrib AS DOUBLE) * n_keys_matched / join_rows, 4)
      |    AS top_key_over_mean
      |FROM j, sl, so""".stripMargin

  // ---------------------------------------------------------------- H8
  /** Partition-plan advisor: per table, row count, estimated
    * in-memory bytes (string lengths + fixed widths from the schema —
    * an ESTIMATE by contract, consistent across engines), and the
    * shuffle-partition / file-split counts that land each partition
    * near the 128 MiB sweet spot, with per-partition row yield. The
    * pre-flight a job scheduler runs before picking
    * `spark.sql.shuffle.partitions` / `maxPartitionBytes` for an
    * unfamiliar snapshot — H2's companion: that one profiles keys,
    * this one sizes the data. One exact conditional-sum aggregate
    * per table (map-side combined), ceil division in exact integer
    * arithmetic.
    */
  def qPartitionAdvisor(spark: SparkSession, dir: String): DataFrame = {
    val target = 128L * 1024 * 1024
    def plan(name: String, df: DataFrame, rowBytes: Column): DataFrame =
      df.agg(count(lit(1)).as("n_rows"), sum(rowBytes).as("est_bytes"))
        .select(lit(name).as("tbl"), col("n_rows"), col("est_bytes"),
          greatest(((col("est_bytes") + target - 1) / target).cast("long"), lit(1L))
            .as("n_partitions"))
        .withColumn("rows_per_partition",
          ((col("n_rows") + col("n_partitions") - 1) / col("n_partitions"))
            .cast("long"))
    val li = Tables.lineitem(spark, dir)
    val doc = Tables.documents(spark, dir)
    val ev = Tables.events(spark, dir)
    plan("lineitem", li,
        lit(8L * 9) + length(col("l_returnflag")) + length(col("l_linestatus")))
      .unionByName(plan("documents", doc,
        lit(8L * 2) + length(col("text")) + length(col("lang"))
          + length(col("source"))))
      .unionByName(plan("events", ev,
        lit(8L * 4) + length(col("event_type")) + length(col("props"))))
  }

  val qPartitionAdvisorSql: String =
    """WITH raw AS (
      |  SELECT 'lineitem' AS tbl, count(*) AS n_rows,
      |    CAST(sum(72 + length(l_returnflag) + length(l_linestatus)) AS BIGINT)
      |      AS est_bytes
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'documents', count(*),
      |    CAST(sum(16 + length(text) + length(lang) + length(source)) AS BIGINT)
      |  FROM documents
      |  UNION ALL
      |  SELECT 'events', count(*),
      |    CAST(sum(32 + length(event_type) + length(props)) AS BIGINT)
      |  FROM events),
      |p AS (SELECT tbl, n_rows, est_bytes,
      |    greatest((est_bytes + 134217727) // 134217728, 1) AS n_partitions
      |  FROM raw)
      |SELECT tbl, n_rows, est_bytes, n_partitions,
      |  (n_rows + n_partitions - 1) // n_partitions AS rows_per_partition
      |FROM p""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_salted_join" -> (qSaltedJoin _),
    "q_join_cardinality" -> (qJoinCardinality _),
    "q_partition_advisor" -> (qPartitionAdvisor _),
    "q_skew_report" -> (qSkewReport _))

  def oracle: Map[String, String] = Map(
    "q_salted_join" -> qSaltedJoinSql,
    "q_partition_advisor" -> qPartitionAdvisorSql,
    "q_join_cardinality" -> qJoinCardinalitySql,
    "q_skew_report" -> qSkewReportSql)
}
