package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Exact.{exactSum, money, rate}

/** Relational / analytic core (SURVEY.md §2 block A).
  *
  * Oracle-parity rules (SURVEY.md §5): money sums run exact on unscaled
  * Long lanes ([[graft.functions.Exact]]: the generated data is 2-dp,
  * so each value is its cents, and products of lanes stay exact) and
  * are cast to double once, at the output, so Spark and DuckDB produce
  * bit-identical values regardless of partial-aggregation order. No
  * BigDecimal is built on the row path. Statistical aggregates
  * (stddev/corr/percentile) are rounded at the boundary instead.
  *
  * Scale notes: dims (region/nation/supplier/part/customer) are
  * broadcast; the only fact-fact shuffle is lineitem⋈orders, pre-
  * projected to the needed columns so the shuffle payload is minimal.
  */
object Relational {

  // ---------------------------------------------------------------- A1
  /** TPC-H Q1 pattern: scan-heavy filter + groupBy + multi-aggregate.
    * Filter reaches the parquet scan as a pushed predicate.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
    val qty = exactSum(money(col("l_quantity"))).cast("double")
    val price = exactSum(money(col("l_extendedprice"))).cast("double")
    val discPrice = money(col("l_extendedprice")) * rate(col("l_discount")).oneMinus
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        qty.as("sum_qty"),
        price.as("sum_base_price"),
        exactSum(discPrice).cast("double").as("sum_disc_price"),
        exactSum(discPrice * rate(col("l_tax")).onePlus).cast("double").as("sum_charge"),
        (qty / count(lit(1))).as("avg_qty"),
        (price / count(lit(1))).as("avg_price"),
        (exactSum(rate(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,2))) * (1 + CAST(l_tax AS DECIMAL(8,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
      |  CAST(sum(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) / count(*) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- A2
  /** TPC-H Q3 pattern: 3-way join + agg + deterministic top-10.
    * customer is broadcast (small dim); orders⋈lineitem shuffles on the
    * order key with both sides pre-projected.
    */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit("1998-01-01").cast("timestamp")
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < cut)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > cut)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(exactSum(money(col("l_extendedprice")) * rate(col("l_discount")).oneMinus)
        .cast("double").as("revenue"))
      .select(col("l_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  val q3Sql: String =
    """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
      |ORDER BY revenue DESC, l_orderkey ASC
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- A3
  /** TPC-H Q5 pattern: star join — every dim broadcast, single
    * fact-fact shuffle (lineitem⋈orders).
    */
  def q5RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(exactSum(money(col("l_extendedprice")) * rate(col("l_discount")).oneMinus)
        .cast("double").as("revenue"))
  }

  val q5Sql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name""".stripMargin

  // ---------------------------------------------------------------- A4
  /** Top-3 parts by retail price per brand — windowed top-N with a
    * deterministic (price desc, key asc) tiebreak. Single shuffle on
    * the partition key.
    */
  def qTopNPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
    Tables.part(spark, dir)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
  }

  val qTopNPerGroupSql: String =
    """SELECT p_brand, p_partkey, p_retailprice, rn FROM (
      |  SELECT p_brand, p_partkey, p_retailprice,
      |    row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
      |  FROM part) WHERE rn <= 3""".stripMargin

  // ---------------------------------------------------------------- A5
  /** Running (prefix) sum of quantity per supplier over ship order.
    * Exact running sum; restricted to a supplier slice to
    * bound output size (the operator itself is O(rows)).
    */
  def qRunningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc, col("l_linenumber").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(spark, dir)
      .filter(col("l_suppkey") < 5)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_shipdate"))
      .withColumn("running_qty", exactSum(money(col("l_quantity"))).over(w).cast("double"))
      .drop("l_shipdate")
  }

  val qRunningSumSql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) OVER (
      |    PARTITION BY l_suppkey ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
      |FROM lineitem WHERE l_suppkey < 5""".stripMargin

  // ---------------------------------------------------------------- A7
  /** ROLLUP: hierarchical subtotals (status → priority → grand total). */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        exactSum(money(col("o_totalprice"))).cast("double").as("total"))

  val qRollupSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin

  // ---------------------------------------------------------------- A8
  /** CUBE: all grouping-set combinations of (returnflag, linestatus). */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        exactSum(money(col("l_quantity"))).cast("double").as("sum_qty"))

  val qCubeSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  // ---------------------------------------------------------------- A9
  /** Left-semi join (EXISTS): customers having a 1997 order. The probe
    * side is pre-projected to the key only, so the shuffle carries one
    * column; with a small filtered build side Catalyst broadcasts.
    */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o97 = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    Tables.customer(spark, dir)
      .join(o97, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
  }

  val qSemiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')""".stripMargin

  // ---------------------------------------------------------------- A10
  /** Left-anti join (NOT EXISTS): customers with no 1995 order. */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o95 = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    Tables.customer(spark, dir)
      .join(o95, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
  }

  val qAntiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |  AND o_orderdate < TIMESTAMP '1996-01-01')""".stripMargin

  // ---------------------------------------------------------------- A11
  /** Exact distinct counts per group. At 100 TB the [r] twin
    * (approx_count_distinct, one pass, no expand) is the default;
    * exact distinct is the oracle-checkable variant.
    */
  def qDistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))

  val qDistinctAggSql: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- A14
  /** Pivot via conditional aggregation: event counts per user bucket.
    * Expressed as sum(when) so absent combinations yield 0 in both
    * engines (Spark's .pivot would yield null).
    */
  def qPivot(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("user_bucket", (col("user_id") % 10).cast("long"))
    val types = Seq("click", "error", "purchase", "signup", "view")
    val aggs = types.map(t =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t"))
    e.groupBy(col("user_bucket")).agg(aggs.head, aggs.tail: _*)
  }

  val qPivotSql: String =
    """SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
      |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
      |FROM events GROUP BY user_id % 10""".stripMargin

  // ---------------------------------------------------------------- A15
  /** Exact interpolated percentiles of event value per type.
    * Spark `percentile` and DuckDB `quantile_cont` share the linear-
    * interpolation definition; boundary-rounded to 4 dp.
    */
  def qPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))

  val qPercentilesSql: String =
    """SELECT event_type,
      |  round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 4) AS p50,
      |  round(CAST(quantile_cont(value, 0.9) AS DOUBLE), 4) AS p90,
      |  round(CAST(quantile_cont(value, 0.99) AS DOUBLE), 4) AS p99
      |FROM events GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------- A16
  /** Correlation / covariance / stddev panel per return flag. */
  def qCorrStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qty_price"),
        round(stddev_samp(col("l_discount")), 6).as("sd_disc"))

  val qCorrStatsSql: String =
    """SELECT l_returnflag,
      |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
      |  round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
      |  round(stddev_samp(l_discount), 6) AS sd_disc
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- A17
  /** Histogram of order totals: fixed-width bins via exact floor
    * arithmetic (no library binning → identical semantics everywhere).
    */
  def qHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("bin", floor(col("o_totalprice") / 20000).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))

  val qHistogramSql: String =
    """SELECT CAST(floor(o_totalprice / 20000) AS BIGINT) AS bin, count(*) AS n,
      |  min(o_totalprice) AS lo, max(o_totalprice) AS hi
      |FROM orders GROUP BY 1""".stripMargin

  /** HLL twin of [[qDistinctAgg]], emitted as an ORACLE-CHECKABLE
    * verdict: the HLL++ estimate's bit pattern is engine-specific, so
    * the output carries the exact counts plus a boolean asserting the
    * estimate landed within 3x its configured relative standard
    * deviation (rsd 0.02 → bound 0.06). The oracle recomputes the
    * exact side and emits `true` — a sketch outside its bound flips
    * the boolean and fails the hash. The production shape at 100 TB
    * stays approx-only (one pass, fixed sketch, no expand/distinct
    * shuffle — see the I4 `ApproxDistinctRewrite` knob); the exact
    * branch here exists to prove the bound.
    */
  def qApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_suppkey")).as("exact_supps"),
        approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
        approx_count_distinct(col("l_suppkey"), 0.02).as("asup"))
      .select(col("l_returnflag"), col("exact_parts"), col("exact_supps"),
        (abs(col("ap") - col("exact_parts")).cast("double") <=
          lit(0.06) * col("exact_parts").cast("double")).as("parts_ok"),
        (abs(col("asup") - col("exact_supps")).cast("double") <=
          lit(0.06) * col("exact_supps").cast("double")).as("supps_ok"))

  val qApproxDistinctSql: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
      |  count(DISTINCT l_suppkey) AS exact_supps,
      |  true AS parts_ok, true AS supps_ok
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Sketch twin of [[qPercentiles]]. The GK-style estimate itself is
    * engine-specific, but its guarantee is rank-space: a returned
    * value's empirical rank sits within epsilon of the target
    * quantile. [[qApproxPercentilesVerdict]] emits that verdict
    * (oracle-checkable: DuckDB recomputes n and expects every bound to
    * hold); this raw form stays the production operator — one pass,
    * fixed memory, mergeable map-side, where exact `percentile`
    * buffers every group value.
    */
  def qApproxPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        expr("approx_percentile(value, 0.5, 1000)").as("p50"),
        expr("approx_percentile(value, 0.9, 1000)").as("p90"),
        expr("approx_percentile(value, 0.99, 1000)").as("p99"))

  /** Rank-error verdict over [[qApproxPercentiles]]: per event_type,
    * the empirical rank of each estimate (share of values <= it) must
    * sit within 0.05 of its target quantile (p99: >= 0.94 — the upper
    * side saturates at 1.0). One extra pass computes ranks by
    * conditional counts — no sort, no per-group buffering.
    */
  def qApproxPercentilesVerdict(spark: SparkSession, dir: String): DataFrame = {
    val ap = qApproxPercentiles(spark, dir)
    Tables.events(spark, dir)
      .join(broadcast(ap), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") <= col("p50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("value") <= col("p90"), 1L).otherwise(0L)).as("le90"),
        sum(when(col("value") <= col("p99"), 1L).otherwise(0L)).as("le99"))
      .select(col("event_type"), col("n"),
        (abs(col("le50").cast("double") / col("n") - 0.50) <= 0.05).as("p50_ok"),
        (abs(col("le90").cast("double") / col("n") - 0.90) <= 0.05).as("p90_ok"),
        (col("le99").cast("double") / col("n") >= 0.94).as("p99_ok"))
  }

  val qApproxPercentilesVerdictSql: String =
    """SELECT event_type, count(*) AS n,
      |  true AS p50_ok, true AS p90_ok, true AS p99_ok
      |FROM events GROUP BY event_type""".stripMargin

  /** Exposed query registry for this block (events-clock queries A6,
    * A12, A13 live in [[TemporalOps]]).
    */
  // ---------------------------------------------------------------- A31
  /** MERGE / CDC-apply semantics as a pure relational plan: a
    * deterministic synthetic changeset (md5-keyed so both engines
    * derive the identical batch: bucket 0 → UPDATE +100 balance,
    * bucket 1 → DELETE, bucket 2 → INSERT of a shifted-key clone)
    * applied to the customer table via ONE full-outer join keyed on
    * c_custkey, each output row tagged with its action. This is the
    * upsert primitive a table format (Delta/Iceberg MERGE INTO)
    * executes under the hood — expressed engine-side so the semantics
    * are provable without transactional metadata (the SURVEY §4
    * boundary). At scale: changeset and base shuffle once on the key;
    * the apply is map-side CASE logic; deletes leave no row (proven
    * by the action counts summing to the output size).
    */
  def qMergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val bucket =
      expr("conv(substring(md5(cast(c_custkey as string)), 1, 15), 16, 10)")
        .cast("long") % 10
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_acctbal"))
    val src = base.withColumn("b", bucket)
    val changes = src.filter(col("b") === 0)
      .select(col("c_custkey").as("k"), lit("update").as("op"),
        (col("c_acctbal") + 100.0).as("new_bal"))
      .unionAll(src.filter(col("b") === 1)
        .select(col("c_custkey").as("k"), lit("delete").as("op"),
          lit(null).cast("double").as("new_bal")))
      .unionAll(src.filter(col("b") === 2)
        .select((col("c_custkey") + 1000000L).as("k"), lit("insert").as("op"),
          (col("c_acctbal") / 2).as("new_bal")))
    base.join(changes, col("c_custkey") === col("k"), "full_outer")
      .filter(coalesce(col("op"), lit("")) =!= "delete")
      .select(coalesce(col("c_custkey"), col("k")).as("c_custkey"),
        when(col("op") === "update", col("new_bal"))
          .when(col("op") === "insert", col("new_bal"))
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        coalesce(col("op"), lit("unchanged")).as("action"))
  }

  val qMergeUpsertSql: String =
    """WITH base AS (SELECT c_custkey, c_acctbal FROM customer),
      |src AS (SELECT c_custkey, c_acctbal,
      |    ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT % 10 AS b
      |  FROM base),
      |changes AS (
      |  SELECT c_custkey AS k, 'update' AS op, c_acctbal + 100.0 AS new_bal
      |    FROM src WHERE b = 0
      |  UNION ALL SELECT c_custkey, 'delete', NULL FROM src WHERE b = 1
      |  UNION ALL SELECT c_custkey + 1000000, 'insert', c_acctbal / 2 FROM src WHERE b = 2)
      |SELECT coalesce(base.c_custkey, k) AS c_custkey,
      |  CASE WHEN op IN ('update', 'insert') THEN new_bal ELSE base.c_acctbal END AS c_acctbal,
      |  coalesce(op, 'unchanged') AS action
      |FROM base FULL OUTER JOIN changes ON base.c_custkey = changes.k
      |WHERE coalesce(op, '') <> 'delete'""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_merge_upsert" -> (qMergeUpsert _),
    "q_approx_distinct" -> (qApproxDistinct _),
    "q_approx_percentiles" -> (qApproxPercentilesVerdict _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_shipping_priority" -> (q3ShippingPriority _),
    "q5_region_revenue" -> (q5RegionRevenue _),
    "q_topn_per_group" -> (qTopNPerGroup _),
    "q_running_sum" -> (qRunningSum _),
    "q_rollup" -> (qRollup _),
    "q_cube" -> (qCube _),
    "q_semi_join" -> (qSemiJoin _),
    "q_anti_join" -> (qAntiJoin _),
    "q_distinct_agg" -> (qDistinctAgg _),
    "q_pivot" -> (qPivot _),
    "q_percentiles" -> (qPercentiles _),
    "q_corr_stats" -> (qCorrStats _),
    "q_histogram" -> (qHistogram _))

  def oracle: Map[String, String] = Map(
    "q_merge_upsert" -> qMergeUpsertSql,
    "q1_pricing_summary" -> q1Sql,
    "q3_shipping_priority" -> q3Sql,
    "q5_region_revenue" -> q5Sql,
    "q_topn_per_group" -> qTopNPerGroupSql,
    "q_running_sum" -> qRunningSumSql,
    "q_rollup" -> qRollupSql,
    "q_cube" -> qCubeSql,
    "q_semi_join" -> qSemiJoinSql,
    "q_anti_join" -> qAntiJoinSql,
    "q_distinct_agg" -> qDistinctAggSql,
    "q_pivot" -> qPivotSql,
    "q_percentiles" -> qPercentilesSql,
    "q_corr_stats" -> qCorrStatsSql,
    "q_histogram" -> qHistogramSql,
    "q_approx_distinct" -> qApproxDistinctSql,
    "q_approx_percentiles" -> qApproxPercentilesVerdictSql)
}
