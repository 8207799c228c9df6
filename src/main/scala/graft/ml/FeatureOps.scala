package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Exact.{exactSum, money}
import graft.functions.TextFunctions._

/** DataFrame-native feature engineering (SURVEY.md §2 block E) — the
  * scaler/TF-IDF/summary surface of an MLlib-style feature pipeline,
  * re-expressed as pure Catalyst plans so it fuses with the rest of a
  * query instead of running as a separate estimator pass.
  *
  * Scale notes: global statistics are computed with a single
  * aggregate and joined back via broadcast (never a window over an
  * empty partitioning, which would serialize the table through one
  * task). TF-IDF shuffles tokens once for TF and reuses the result
  * for DF.
  */
object FeatureOps {

  // ---------------------------------------------------------------- E1
  /** Z-score standardization of customer balance. Mean is decimal-
    * exact; stddev rounds at the boundary.
    */
  def qStandardScaler(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val stats = c.agg(
      (exactSum(money(col("c_acctbal"))).cast("double") / count(lit(1))).as("mu"),
      stddev_samp(col("c_acctbal")).as("sd"))
    c.crossJoin(broadcast(stats))
      .select(col("c_custkey"),
        round((col("c_acctbal") - col("mu")) / col("sd"), 6).as("z"))
  }

  val qStandardScalerSql: String =
    """SELECT c_custkey,
      |  round((c_acctbal - (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*) FROM customer))
      |        / (SELECT stddev_samp(c_acctbal) FROM customer), 6) AS z
      |FROM customer""".stripMargin

  // ---------------------------------------------------------------- E2
  /** Min-max normalization of order totals (exact arithmetic). */
  def qMinmaxScaler(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val stats = o.agg(min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
    o.crossJoin(broadcast(stats))
      .select(col("o_orderkey"),
        round((col("o_totalprice") - col("lo")) / (col("hi") - col("lo")), 6).as("scaled"))
  }

  val qMinmaxScalerSql: String =
    """SELECT o_orderkey,
      |  round((o_totalprice - (SELECT min(o_totalprice) FROM orders))
      |        / ((SELECT max(o_totalprice) FROM orders) - (SELECT min(o_totalprice) FROM orders)), 6) AS scaled
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------- E3
  /** Robust (median/IQR) scaling of event values. */
  def qRobustScaler(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    // event values are 2-dp money-like; round(value,2) is a value
    // no-op that bounds the exact-percentile counter domain (§5)
    val stats = e.agg(
      expr("percentile(round(value, 2), 0.5)").as("p50"),
      expr("percentile(round(value, 2), 0.25)").as("p25"),
      expr("percentile(round(value, 2), 0.75)").as("p75"))
    e.crossJoin(broadcast(stats))
      .select(col("event_id"),
        round((col("value") - col("p50")) / (col("p75") - col("p25")), 4).as("robust"))
  }

  val qRobustScalerSql: String =
    """SELECT event_id,
      |  round((value - (SELECT CAST(quantile_cont(round(value, 2), 0.5) AS DOUBLE) FROM events))
      |        / ((SELECT CAST(quantile_cont(round(value, 2), 0.75) AS DOUBLE) FROM events)
      |           - (SELECT CAST(quantile_cont(round(value, 2), 0.25) AS DOUBLE) FROM events)), 4) AS robust
      |FROM events""".stripMargin

  // ---------------------------------------------------------------- E4
  /** TF-IDF top-3 terms per document (smoothed idf = ln((N+1)/(df+1))
    * + 1). Pure DataFrame ops: one token shuffle for TF, reused for
    * DF; doc count broadcast back.
    */
  def qTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0), 4).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
  }

  val qTfidfSql: String =
    raw"""WITH toks AS (SELECT doc_id,
         |    unnest(${graft.functions.TextFunctions.duckToksSql("text")}) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (SELECT doc_id, tf.term,
         |    round(tf * (ln(((SELECT count(*) FROM documents) + 1.0) / (df + 1.0)) + 1.0), 4) AS score
         |  FROM tf JOIN df ON tf.term = df.term),
         |ranked AS (SELECT doc_id, term, score, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
         |  FROM scored)
         |SELECT doc_id, term, score, rank FROM ranked WHERE rank <= 3""".stripMargin

  // ---------------------------------------------------------------- E10
  /** BM25 retrieval scoring: top-[[Bm25TopK]] documents for a fixed
    * query term set (Lucene-form idf, k1/b saturation) — the standard
    * step past TF-IDF for corpus retrieval and quality filtering.
    *
    * score(d, Q) = Σ_{t∈Q} ln((N − df + 0.5)/(df + 0.5) + 1)
    *             · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Shape at scale: one token shuffle builds TF and doc lengths; the
    * query-term df table and the (N, avgdl) row are broadcast; scoring
    * is map-side over the TF rows of query terms only. avgdl is an
    * exact integer ratio cast to double so both engines agree
    * bit-for-bit; ranking is on the 4-dp-rounded score with doc_id
    * tiebreak (rank exactly what is output).
    */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 20
  val Bm25Query: Seq[String] = Seq("dup", "query", "join")

  def qBm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val qtf = tf.filter(col("term").isin(Bm25Query.map(x => x: Any): _*))
    val df = qtf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val contrib = qtf
      .join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (Bm25K1 + 1)) /
          (col("tf") + lit(Bm25K1) * (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))).as("c"))
    val scored = contrib.groupBy(col("doc_id"))
      .agg(round(sum(col("c")), 4).as("score"))
    // distributed top-k (TakeOrdered: per-partition partial top-k, no
    // global sort through one task); the rank window then runs over at
    // most Bm25TopK rows
    val top = scored.orderBy(col("score").desc, col("doc_id").asc).limit(Bm25TopK)
    val w = Window.orderBy(col("score").desc, col("doc_id").asc)
    top.withColumn("rank", row_number().over(w))
  }

  private val bm25QuerySql = Bm25Query.map(t => s"'$t'").mkString(", ")

  val qBm25Sql: String =
    raw"""WITH toks AS (SELECT doc_id,
         |    unnest(${graft.functions.TextFunctions.duckToksSql("text")}) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |qdf AS (SELECT term, count(*) AS df FROM tf WHERE term IN ($bm25QuerySql) GROUP BY 1),
         |contrib AS (SELECT tf.doc_id,
         |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
         |      (tf * ($Bm25K1 + 1)) /
         |      (tf + $Bm25K1 * (1 - $Bm25B + $Bm25B * dl / avgdl)) AS c
         |  FROM tf JOIN qdf ON tf.term = qdf.term
         |  JOIN dl ON tf.doc_id = dl.doc_id, stats),
         |scored AS (SELECT doc_id, round(sum(c), 4) AS score FROM contrib GROUP BY 1),
         |ranked AS (SELECT doc_id, score, row_number() OVER (
         |    ORDER BY score DESC, doc_id ASC) AS rank FROM scored)
         |SELECT doc_id, score, rank FROM ranked WHERE rank <= $Bm25TopK""".stripMargin

  // ---------------------------------------------------------------- E5
  /** Per-dimension moments of the embedding column (the Summarizer
    * surface): mean/stddev/min/max for each of the 64 dims.
    */
  def qVectorStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(round(avg(col("x")), 4).as("mean"),
        round(stddev_samp(col("x")), 4).as("sd"),
        min(col("x")).as("vmin"), max(col("x")).as("vmax"))

  val qVectorStatsSql: String =
    """SELECT i - 1 AS dim,
      |  round(avg(list_extract(embedding::DOUBLE[], i)), 4) AS mean,
      |  round(stddev_samp(list_extract(embedding::DOUBLE[], i)), 4) AS sd,
      |  min(list_extract(embedding::DOUBLE[], i)) AS vmin,
      |  max(list_extract(embedding::DOUBLE[], i)) AS vmax
      |FROM embeddings, generate_series(1, 64) g(i)
      |GROUP BY i""".stripMargin

  // ---------------------------------------------------------------- E6
  /** Feature relevance ranking: per-dimension correlation with the
    * label (the SQL-expressible core of univariate feature selection).
    */
  def qFeatureCorr(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label").cast("double").as("y"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(round(corr(col("x"), col("y")), 4).as("corr_label"))

  val qFeatureCorrSql: String =
    """SELECT i - 1 AS dim,
      |  round(corr(list_extract(embedding::DOUBLE[], i), CAST(label AS DOUBLE)), 4) AS corr_label
      |FROM embeddings, generate_series(1, 64) g(i)
      |GROUP BY i""".stripMargin

  // ---------------------------------------------------------------- E15
  /** Chi-squared feature screening: per-dimension independence test of
    * sign(x_d) against the class label — the categorical complement to
    * E6's linear correlation (a feature whose SIGN carries class
    * information can still have ~0 linear correlation). Exact
    * contingency arithmetic: observed counts from one pass over the
    * exploded dims, expected counts from the row/column marginals, and
    * the statistic summed over the FULL label × sign grid (absent
    * cells contribute their expectation — summing observed cells only
    * would undercount). Every post-explode frame is bounded by
    * 64 dims × classes × 2, so the joins are trivial at any corpus
    * size; the corpus is read once.
    */
  def qChi2Features(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"), (col("x") >= 0).as("pos"))
    // the ONLY corpus pass — every marginal below is an aggregate over
    // this bounded (64 × classes × 2)-row frame
    val obs = e.groupBy(col("dim"), col("label"), col("pos"))
      .agg(count(lit(1)).as("o"))
    val nl = obs.groupBy(col("dim"), col("label")).agg(sum(col("o")).as("nl"))
    val np = obs.groupBy(col("dim"), col("pos")).agg(sum(col("o")).as("np"))
    val nPerDim = obs.groupBy(col("dim")).agg(sum(col("o")).as("n"))
    val grid = nl.join(np, "dim").join(nPerDim, "dim")
      .select(col("dim"), col("label"), col("pos"),
        (col("nl").cast("double") * col("np") / col("n")).as("ex"))
    grid.join(obs, Seq("dim", "label", "pos"), "left")
      .groupBy(col("dim"))
      .agg(round(sum(pow(coalesce(col("o"), lit(0L)) - col("ex"), 2) / col("ex")), 4)
        .as("chi2"))
  }

  val qChi2FeaturesSql: String =
    """WITH e AS (SELECT label, i - 1 AS dim,
      |    list_extract(embedding::DOUBLE[], i) >= 0 AS pos
      |  FROM embeddings, generate_series(1, 64) g(i)),
      |obs AS (SELECT dim, label, pos, count(*) AS o FROM e GROUP BY 1, 2, 3),
      |nl AS (SELECT dim, label, count(*) AS nl FROM e GROUP BY 1, 2),
      |np AS (SELECT dim, pos, count(*) AS np FROM e GROUP BY 1, 2),
      |nd AS (SELECT dim, count(*) AS n FROM e GROUP BY 1),
      |grid AS (SELECT nl.dim, nl.label, np.pos,
      |    CAST(nl.nl AS DOUBLE) * np.np / nd.n AS ex
      |  FROM nl JOIN np ON nl.dim = np.dim JOIN nd ON nl.dim = nd.dim)
      |SELECT dim, round(sum(pow(coalesce(o, 0) - ex, 2) / ex), 4) AS chi2
      |FROM grid LEFT JOIN obs USING (dim, label, pos)
      |GROUP BY dim""".stripMargin

  // ---------------------------------------------------------------- E27
  /** Mutual information I(sign(x_d); label) per embedding dimension —
    * E15's chi2 twin on the information-theoretic scale (nats): the
    * filter-method feature-relevance score that, unlike chi2, is
    * directly comparable across dimensionalities and composes with
    * the B9/K18 surprisal family. Same single corpus pass as E15
    * (posexplode → (dim, label, sign) counts; every marginal is an
    * aggregate over the bounded 64 × classes × 2 frame). MI from
    * exact integer counts only: each observed cell contributes
    * (o/n)·ln(o·n/(nl·np)), 10-dp-rounded per cell before the sum,
    * 6-dp boundary round — zero-count cells contribute exactly their
    * x·ln(x) → 0 limit by omission. Output ranks dims by rounded MI
    * (key tiebreak), so the top-k cut is engine-deterministic.
    */
  def qMutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"), (col("x") >= 0).as("pos"))
    val obs = e.groupBy(col("dim"), col("label"), col("pos"))
      .agg(count(lit(1)).as("o"))
    val nl = obs.groupBy(col("dim"), col("label")).agg(sum(col("o")).as("nl"))
    val np = obs.groupBy(col("dim"), col("pos")).agg(sum(col("o")).as("np"))
    val nPerDim = obs.groupBy(col("dim")).agg(sum(col("o")).as("n"))
    val mi = obs.join(nl, Seq("dim", "label")).join(np, Seq("dim", "pos"))
      .join(nPerDim, "dim")
      .withColumn("term", round(
        (col("o").cast("double") / col("n")) *
          log(col("o").cast("double") * col("n") /
            (col("nl").cast("double") * col("np"))), 10))
      .groupBy(col("dim"))
      .agg(round(sum(col("term")), 6).as("mi"))
    // global rank over the 64-row dim table — bounded by construction
    // (PlanSpec-exempt like q_auc's bin table)
    val byMi = org.apache.spark.sql.expressions.Window
      .orderBy(col("mi").desc, col("dim").asc)
    mi.select(col("dim"), col("mi"), row_number().over(byMi).as("mi_rank"))
  }

  val qMutualInfoSql: String =
    """WITH e AS (SELECT label, i - 1 AS dim,
      |    list_extract(embedding::DOUBLE[], i) >= 0 AS pos
      |  FROM embeddings, generate_series(1, 64) g(i)),
      |obs AS (SELECT dim, label, pos, count(*) AS o FROM e GROUP BY 1, 2, 3),
      |nl AS (SELECT dim, label, count(*) AS nl FROM e GROUP BY 1, 2),
      |np AS (SELECT dim, pos, count(*) AS np FROM e GROUP BY 1, 2),
      |nd AS (SELECT dim, count(*) AS n FROM e GROUP BY 1),
      |mi AS (SELECT obs.dim, round(sum(round(
      |    (CAST(o AS DOUBLE) / n) * ln(CAST(o AS DOUBLE) * n
      |      / (CAST(nl.nl AS DOUBLE) * np.np)), 10)), 6) AS mi
      |  FROM obs
      |  JOIN nl ON obs.dim = nl.dim AND obs.label = nl.label
      |  JOIN np ON obs.dim = np.dim AND obs.pos = np.pos
      |  JOIN nd ON obs.dim = nd.dim
      |  GROUP BY obs.dim)
      |SELECT dim, mi,
      |  row_number() OVER (ORDER BY mi DESC, dim ASC) AS mi_rank
      |FROM mi""".stripMargin

  // ---------------------------------------------------------------- E9
  /** PCA spectrum of the embedding space: MLlib PCA (k = 8) per-
    * component explained-variance ratios. Sign-free (the spectrum,
    * not the loadings), so SVD sign indeterminacy can't flip results;
    * deterministic for a fixed corpus. SketchSpec asserts the raw
    * ratio values (monotone, (0,1], ≤ 1-summing); [[qPca]] publishes
    * the ORACLE-CHECKABLE verdict form. Scale shape: MLlib PCA
    * computes the Gramian with one distributed treeAggregate pass
    * (d x d stays driver-side — fine for d = 64; at larger d one
    * switches to randomized/iterative SVD) — the corpus itself never
    * leaves the executors.
    */
  private[graft] def pcaSpectrum(spark: SparkSession, dir: String): Array[Double] = {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.array_to_vector
    val data = Tables.embeddings(spark, dir)
      .select(array_to_vector(col("embedding")).as("features"))
    val model = new PCA().setK(8).setInputCol("features").setOutputCol("pc").fit(data)
    model.explainedVariance.toArray.map(v => math.rint(v * 1e6) / 1e6)
  }

  /** E9 driver form (H3/H4/H9 verdict device): the eigen-solve has no
    * SQL twin, so the published row set carries (a) guarantee booleans
    * the oracle renders as `true` literals — each one a mathematical
    * invariant of a correct eigendecomposition, so a broken solver
    * fails the hash — and (b) `total_var`, the trace of the sample
    * covariance, which BOTH engines recompute independently from the
    * raw embeddings (per-dim var_samp rounded at 10 dp, summed,
    * 6-dp boundary round — the F27 layered-rounding discipline).
    * Guarantees: each ratio in (0, 1]; ratios monotone non-increasing
    * (eigenvalue order); the 8-ratio sum ≤ 1 (8 of 64 components);
    * and the top-8 sum ≥ 8/64 − rounding slack (the k largest of 64
    * eigenvalues can never hold less than k/64 of the trace).
    */
  def qPca(spark: SparkSession, dir: String): DataFrame = {
    val ev = pcaSpectrum(spark, dir)
    val explainedSum = ev.sum
    val rows = ev.zipWithIndex.map { case (v, i) =>
      val next = if (i + 1 < ev.length) ev(i + 1) else 0.0
      (i, v > 0 && v <= 1.0, v >= next,
        explainedSum <= 1.0 + 1e-6, explainedSum >= 8.0 / 64 - 8e-6)
    }
    val verdicts = spark.createDataFrame(rows.toSeq.toIndexedSeq)
      .toDF("component", "ratio_in_range", "monotone_ok",
        "sum_le_one", "topk_ge_uniform")
    val totalVar = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(round(var_samp(col("x")), 10).as("v"))
      .agg(round(sum(col("v")), 6).as("total_var"))
    verdicts.crossJoin(broadcast(totalVar))
  }

  val qPcaSql: String =
    """WITH tv AS (SELECT round(sum(v), 6) AS total_var FROM (
      |    SELECT round(var_samp(list_extract(embedding::DOUBLE[], i)), 10) AS v
      |    FROM embeddings, generate_series(1, 64) g(i) GROUP BY i))
      |SELECT g.i - 1 AS component, true AS ratio_in_range,
      |  true AS monotone_ok, true AS sum_le_one, true AS topk_ge_uniform,
      |  tv.total_var
      |FROM generate_series(1, 8) g(i), tv""".stripMargin

  // ---------------------------------------------------------------- E11
  /** Precision/recall threshold sweep (the PR curve) of the
    * score-based "is English" classifier: score = English-stopword
    * density, label = the labeled lang column. Scores are computed
    * map-side in one pass; the 21-threshold sweep expands each row
    * against a broadcast literal range and aggregates on the 21-row
    * threshold key — no per-threshold rescans at any corpus size.
    * Counts are exact integers; P/R/F1 are derived and rounded at the
    * boundary, so the oracle compare is deterministic.
    */
  def qPrCurve(spark: SparkSession, dir: String): DataFrame = {
    val enStops = graft.operators.TextAnalysis.stopwords("en")
    val scored = Tables.documents(spark, dir).select(
      (col("lang") === "en").as("is_en"),
      (vocabHits(tokens(col("text")), enStops).cast("double") /
        tokenCount(col("text"))).as("score"))
    val sweep = scored.crossJoin(
      broadcast(spark.range(0, 21).select(col("id").cast("int").as("tidx"))))
    val pred = col("score") >= col("tidx") * 0.02
    sweep.groupBy(col("tidx"))
      .agg(
        sum(when(col("is_en") && pred, 1L).otherwise(0L)).as("tp"),
        sum(when(!col("is_en") && pred, 1L).otherwise(0L)).as("fp"),
        sum(when(col("is_en") && !pred, 1L).otherwise(0L)).as("fn"),
        sum(when(!col("is_en") && !pred, 1L).otherwise(0L)).as("tn"))
      .select(round(col("tidx") * 0.02, 2).as("threshold"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") === 0, 0.0)
          .otherwise(round(col("tp").cast("double") / (col("tp") + col("fp")), 6))
          .as("prec"),
        when(col("tp") + col("fn") === 0, 0.0)
          .otherwise(round(col("tp").cast("double") / (col("tp") + col("fn")), 6))
          .as("rec"),
        when(col("tp") * 2 + col("fp") + col("fn") === 0, 0.0)
          .otherwise(round((col("tp") * 2).cast("double") /
            (col("tp") * 2 + col("fp") + col("fn")), 6))
          .as("f1"))
  }

  // ---------------------------------------------------------------- E29
  /** Gains/lift table by score decile — the third leg of the
    * classifier-evaluation tripod after E11 (PR sweep) and E12 (AUC):
    * the campaign-targeting readout "if I act on the top k deciles,
    * what fraction of positives do I capture, at what lift over
    * base?" Same score/label surface as E11. Deciles assign WITHOUT
    * any sort: one broadcast exact-percentile aggregate over the
    * 6-dp-quantized score (the A33/K7 device, §5 quantize-before-
    * percentile) gives the 9 cuts; decile = 1 + count of cuts
    * strictly above the score (ties promote — engine-identical on
    * rounded doubles). Cumulative capture rides a bounded ≤10×10
    * broadcast self-join, not a window. Counts exact; rates/lift
    * round once at the boundary.
    */
  def qLiftCurve(spark: SparkSession, dir: String): DataFrame = {
    val enStops = graft.operators.TextAnalysis.stopwords("en")
    val scored = Tables.documents(spark, dir).select(
      (col("lang") === "en").as("pos"),
      round(vocabHits(tokens(col("text")), enStops).cast("double") /
        tokenCount(col("text")), 6).as("s"))
    // re-round in place: `s` is already 6-dp, but the quantization
    // must be VISIBLE at the percentile input (the §5 plan guard) —
    // an attribute ref hides the upstream round
    val cuts = scored.agg(expr(
      "percentile(round(s, 6), array(0.9, 0.8, 0.7, 0.6, 0.5, 0.4, 0.3, 0.2, 0.1))")
      .as("cs"))
    val dec = scored.crossJoin(broadcast(cuts))
      .withColumn("decile", lit(1) + (0 until 9)
        .map(i => when(col("cs").getItem(i) > col("s"), 1).otherwise(0))
        .reduce(_ + _))
    val per = dec.groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"))
    val tot = per.agg(sum(col("n")).as("tn"), sum(col("n_pos")).as("tp"))
    val cum = per.as("a")
      .join(broadcast(per.as("b")), col("b.decile") <= col("a.decile"))
      .groupBy(col("a.decile").as("decile"))
      .agg(sum(col("b.n_pos")).as("cum_pos"))
    per.join(cum, "decile").crossJoin(broadcast(tot))
      .select(col("decile"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n"), 6).as("resp_rate"),
        round((col("n_pos").cast("double") * col("tn"))
          / (col("n").cast("double") * col("tp")), 6).as("lift"),
        round(col("cum_pos").cast("double") / col("tp"), 6).as("cum_capture"))
  }

  val qLiftCurveSql: String = {
    val stopsSql = graft.operators.TextAnalysis.stopwords("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")
    val toksSql = graft.functions.TextFunctions.duckToksSql("text")
    raw"""WITH sc AS (SELECT (lang = 'en') AS pos,
         |    round(CAST(len(list_filter($toksSql, t -> list_contains($stopsSql, t))) AS DOUBLE)
         |      / len($toksSql), 6) AS s
         |  FROM documents),
         |cuts AS (SELECT [quantile_cont(round(s, 6), 0.9), quantile_cont(round(s, 6), 0.8),
         |    quantile_cont(round(s, 6), 0.7), quantile_cont(round(s, 6), 0.6), quantile_cont(round(s, 6), 0.5),
         |    quantile_cont(round(s, 6), 0.4), quantile_cont(round(s, 6), 0.3), quantile_cont(round(s, 6), 0.2),
         |    quantile_cont(round(s, 6), 0.1)] AS cs FROM sc),
         |dec AS (SELECT pos, 1 + len(list_filter(cs, c -> c > s)) AS decile
         |  FROM sc, cuts),
         |per AS (SELECT decile, count(*) AS n,
         |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
         |  FROM dec GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
         |    CAST(sum(n_pos) AS BIGINT) AS tp FROM per),
         |cum AS (SELECT a.decile, CAST(sum(b.n_pos) AS BIGINT) AS cum_pos
         |  FROM per a JOIN per b ON b.decile <= a.decile GROUP BY 1)
         |SELECT per.decile, per.n, per.n_pos,
         |  round(CAST(per.n_pos AS DOUBLE) / per.n, 6) AS resp_rate,
         |  round((CAST(per.n_pos AS DOUBLE) * tot.tn)
         |    / (CAST(per.n AS DOUBLE) * tot.tp), 6) AS lift,
         |  round(CAST(cum.cum_pos AS DOUBLE) / tot.tp, 6) AS cum_capture
         |FROM per JOIN cum ON per.decile = cum.decile, tot""".stripMargin
  }

  val qPrCurveSql: String = {
    val stopsSql = graft.operators.TextAnalysis.stopwords("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")
    val toksSql = graft.functions.TextFunctions.duckToksSql("text")
    raw"""WITH s AS (SELECT (lang = 'en') AS is_en,
         |  CAST(len(list_filter($toksSql, t -> list_contains($stopsSql, t))) AS DOUBLE)
         |    / len($toksSql) AS score
         |  FROM documents),
         |g AS (SELECT unnest(generate_series(0, 20)) AS tidx),
         |j AS (SELECT tidx, is_en,
         |  (score >= tidx * CAST(0.02 AS DOUBLE)) AS pred FROM s, g),
         |a AS (SELECT tidx,
         |  CAST(sum(CASE WHEN is_en AND pred THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN NOT is_en AND pred THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN is_en AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  CAST(sum(CASE WHEN NOT is_en AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM j GROUP BY tidx)
         |SELECT round(tidx * CAST(0.02 AS DOUBLE), 2) AS threshold, tp, fp, fn, tn,
         |  CASE WHEN tp + fp = 0 THEN 0.0
         |       ELSE round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS prec,
         |  CASE WHEN tp + fn = 0 THEN 0.0
         |       ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS rec,
         |  CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
         |       ELSE round(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn), 6) END AS f1
         |FROM a""".stripMargin
  }

  // ---------------------------------------------------------------- E12
  /** Exact binned AUC (Mann-Whitney U with tie correction) of the
    * stopword-density classifier. Scores are quantized to 4 dp as part
    * of the operator contract, so the ordered accumulation runs over a
    * BOUNDED bin stream (≤ 10⁴ + 1 bins at any corpus size — the
    * single-partition prefix sum is over bins, never rows; the row
    * stream only feeds one map-side-combined aggregate). U is kept in
    * integer arithmetic (2·cum_neg + nneg_b) so the oracle compare is
    * exact; only the final ratio is rounded.
    */
  def qAuc(spark: SparkSession, dir: String): DataFrame = {
    val enStops = graft.operators.TextAnalysis.stopwords("en")
    val bins = Tables.documents(spark, dir)
      .select((col("lang") === "en").as("is_pos"),
        round(vocabHits(tokens(col("text")), enStops).cast("double") /
          tokenCount(col("text")), 4).as("score_bin"))
      .groupBy(col("score_bin"))
      .agg(sum(when(col("is_pos"), 1L).otherwise(0L)).as("npos_b"),
        sum(when(!col("is_pos"), 1L).otherwise(0L)).as("nneg_b"))
    val w = Window.orderBy(col("score_bin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    bins
      .withColumn("cum_neg", coalesce(sum(col("nneg_b")).over(w), lit(0L)))
      .agg(sum(col("npos_b")).as("npos"), sum(col("nneg_b")).as("nneg"),
        sum(col("npos_b") * (col("cum_neg") * 2 + col("nneg_b"))).as("u2"))
      .select(col("npos"), col("nneg"),
        round(col("u2").cast("double") / (col("npos") * col("nneg") * 2), 6)
          .as("auc"))
  }

  val qAucSql: String = {
    val stopsSql = graft.operators.TextAnalysis.stopwords("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")
    val toksSql = graft.functions.TextFunctions.duckToksSql("text")
    raw"""WITH s AS (SELECT (lang = 'en') AS is_pos,
         |  round(CAST(len(list_filter($toksSql, t -> list_contains($stopsSql, t))) AS DOUBLE)
         |    / len($toksSql), 4) AS score_bin
         |  FROM documents),
         |b AS (SELECT score_bin,
         |  CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS npos_b,
         |  CAST(sum(CASE WHEN NOT is_pos THEN 1 ELSE 0 END) AS BIGINT) AS nneg_b
         |  FROM s GROUP BY score_bin),
         |c AS (SELECT npos_b, nneg_b,
         |  CAST(coalesce(sum(nneg_b) OVER (ORDER BY score_bin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_neg
         |  FROM b)
         |SELECT CAST(sum(npos_b) AS BIGINT) AS npos,
         |  CAST(sum(nneg_b) AS BIGINT) AS nneg,
         |  round(CAST(sum(npos_b * (cum_neg * 2 + nneg_b)) AS DOUBLE)
         |    / (sum(npos_b) * sum(nneg_b) * 2), 6) AS auc
         |FROM c""".stripMargin
  }

  // ---------------------------------------------------------------- E16
  /** Reliability diagram (calibration bins) for the stopword-density
    * classifier the E11/E12 eval ops grade: 10 equal-width score bins,
    * each with its population, mean predicted score, observed positive
    * fraction, and |gap| — the standard check that a filtering model's
    * scores can be read as probabilities before thresholding a corpus
    * on them. Bins are 0.01 wide spanning the classifier's [0, 0.2)
    * operating range (stopword density tops out well under 0.2; the
    * last bin absorbs any overflow). MAP-ONLY scoring + one bounded
    * (≤ 20 rows out) aggregate: nothing here grows with the corpus.
    * Gap is computed from the two 6-dp-rounded aggregates, so the
    * subtraction is engine-exact.
    */
  def qCalibration(spark: SparkSession, dir: String): DataFrame = {
    val enStops = graft.operators.TextAnalysis.stopwords("en")
    Tables.documents(spark, dir)
      .select((col("lang") === "en").as("is_pos"),
        (vocabHits(tokens(col("text")), enStops).cast("double") /
          tokenCount(col("text"))).as("score"))
      .withColumn("bin", least(floor(col("score") * 100), lit(19)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("score")), 6).as("mean_score"),
        round(avg(when(col("is_pos"), 1.0).otherwise(0.0)), 6).as("frac_pos"))
      .withColumn("gap", round(abs(col("mean_score") - col("frac_pos")), 6))
  }

  val qCalibrationSql: String = {
    val stopsSql = graft.operators.TextAnalysis.stopwords("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")
    val toksSql = graft.functions.TextFunctions.duckToksSql("text")
    raw"""WITH s AS (SELECT (lang = 'en') AS is_pos,
         |  CAST(len(list_filter($toksSql, t -> list_contains($stopsSql, t))) AS DOUBLE)
         |    / len($toksSql) AS score
         |  FROM documents),
         |b AS (SELECT least(CAST(floor(score * 100) AS BIGINT), 19) AS bin,
         |    is_pos, score FROM s),
         |a AS (SELECT bin, count(*) AS n,
         |    round(avg(score), 6) AS mean_score,
         |    round(avg(CASE WHEN is_pos THEN 1.0 ELSE 0.0 END), 6) AS frac_pos
         |  FROM b GROUP BY bin)
         |SELECT bin, n, mean_score, frac_pos,
         |  round(abs(mean_score - frac_pos), 6) AS gap
         |FROM a""".stripMargin
  }

  // ---------------------------------------------------------------- E55
  /** Expected / maximum calibration error — the E16 reliability
    * diagram folded to the two scalars a model gate actually
    * thresholds on: ECE = Σ_b (n_b/N)·|conf_b − acc_b| and
    * MCE = max_b |conf_b − acc_b|, over the same 10⁻² score bins and
    * stopword-density classifier as E16. Exact device: the per-bin
    * gap is computed from the two 6-dp-rounded bin aggregates (the
    * E16 contract) and µ-quantized to an exact long (gap·10⁶ is
    * integral after the 6-dp rounds; `round` pins the fp
    * representation), so Σ n_b·gap_µ is an exact DECIMAL sum — the
    * naive Σ of double products would be summation-order-dependent —
    * and ECE is ONE fixed-order double division; MCE is an exact
    * integer max over ≤ 20 bins divided once. Same map-only scoring
    * pass + bounded aggregate as E16.
    */
  def qEce(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val enStops = graft.operators.TextAnalysis.stopwords("en")
    val bins = Tables.documents(spark, dir)
      .select((col("lang") === "en").as("is_pos"),
        (vocabHits(tokens(col("text")), enStops).cast("double") /
          tokenCount(col("text"))).as("score"))
      .withColumn("bin", least(floor(col("score") * 100), lit(19)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("score")), 6).as("mean_score"),
        round(avg(when(col("is_pos"), 1.0).otherwise(0.0)), 6).as("frac_pos"))
      .withColumn("gmu",
        round(abs(col("mean_score") - col("frac_pos")) * 1e6).cast("long"))
    bins.agg(sum(col("n")).cast("long").as("n_docs"),
        count(lit(1)).as("n_bins"),
        sum((col("n") * col("gmu")).cast(d38)).as("sw"),
        max(col("gmu")).as("mg"))
      .select(col("n_docs"), col("n_bins"),
        round(col("sw").cast("double") /
          (col("n_docs").cast("double") * 1e6), 6).as("ece"),
        round(col("mg").cast("double") / 1e6, 6).as("mce"))
  }

  val qEceSql: String = {
    val stopsSql = graft.operators.TextAnalysis.stopwords("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")
    val toksSql = graft.functions.TextFunctions.duckToksSql("text")
    raw"""WITH s AS (SELECT (lang = 'en') AS is_pos,
         |  CAST(len(list_filter($toksSql, t -> list_contains($stopsSql, t))) AS DOUBLE)
         |    / len($toksSql) AS score
         |  FROM documents),
         |b AS (SELECT least(CAST(floor(score * 100) AS BIGINT), 19) AS bin,
         |    is_pos, score FROM s),
         |a AS (SELECT bin, count(*) AS n,
         |    round(avg(score), 6) AS mean_score,
         |    round(avg(CASE WHEN is_pos THEN 1.0 ELSE 0.0 END), 6) AS frac_pos
         |  FROM b GROUP BY bin),
         |g AS (SELECT n,
         |    CAST(round(abs(mean_score - frac_pos) * 1e6) AS BIGINT) AS gmu
         |  FROM a),
         |agg AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
         |    count(*) AS n_bins,
         |    sum(CAST(n AS HUGEINT) * gmu) AS sw,
         |    max(gmu) AS mg
         |  FROM g)
         |SELECT n_docs, n_bins,
         |  round(CAST(sw AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1e6), 6)
         |    AS ece,
         |  round(CAST(mg AS DOUBLE) / 1e6, 6) AS mce
         |FROM agg""".stripMargin
  }

  // ---------------------------------------------------------------- E57
  /** Youden-optimal threshold for the stopword-density classifier —
    * the ACTIONABLE output of the E11/E12/E16 evaluation family:
    * the PR curve and AUC describe the model, this emits the one
    * operating point (maximize J = sensitivity + specificity − 1)
    * a corpus filter actually deploys. EXACT argmax device: on the
    * 4-dp score-bin histogram, TP/FP at cut c are suffix-cumulative
    * integers, and the winner maximizes the cross-multiplied
    * integer J_num = TP·N − FP·P (no float enters the selection;
    * ties break on the LOWER bin — the more permissive cut). One
    * map-only scoring pass + a bounded-bin window; published rates
    * are single divisions of exact integers.
    */
  def qYoudenThreshold(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val enStops = graft.operators.TextAnalysis.stopwords("en")
    val b = Tables.documents(spark, dir)
      .select((col("lang") === "en").as("is_pos"),
        round(vocabHits(tokens(col("text")), enStops).cast("double") /
          tokenCount(col("text")), 4).as("score_bin"))
      .groupBy(col("score_bin"))
      .agg(count(when(col("is_pos"), 1)).as("npos_b"),
        count(when(!col("is_pos"), 1)).as("nneg_b"))
    val wSuf = Window.orderBy(col("score_bin"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val tot = b.agg(sum(col("npos_b")).cast("long").as("p"),
      sum(col("nneg_b")).cast("long").as("nn"))
    val cuts = b
      .withColumn("tp", sum(col("npos_b")).over(wSuf).cast("long"))
      .withColumn("fp", sum(col("nneg_b")).over(wSuf).cast("long"))
      .crossJoin(broadcast(tot))
      .withColumn("j_num",
        col("tp").cast(d38) * col("nn") - col("fp").cast(d38) * col("p"))
    val wBest = Window.orderBy(col("j_num").desc, col("score_bin").asc)
    cuts.withColumn("r", row_number().over(wBest))
      .filter(col("r") === 1)
      .select(col("score_bin").as("threshold"), col("p").as("n_pos"),
        col("nn").as("n_neg"), col("tp"), col("fp"),
        round(col("tp").cast("double") / col("p"), 6).as("sensitivity"),
        round(lit(1.0) - col("fp").cast("double") / col("nn"), 6)
          .as("specificity"),
        round(col("tp").cast("double") / col("p") -
          col("fp").cast("double") / col("nn"), 6).as("youden_j"))
  }

  val qYoudenThresholdSql: String = {
    val stopsSql = graft.operators.TextAnalysis.stopwords("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")
    val toksSql = graft.functions.TextFunctions.duckToksSql("text")
    raw"""WITH s AS (SELECT (lang = 'en') AS is_pos,
         |  round(CAST(len(list_filter($toksSql, t -> list_contains($stopsSql, t))) AS DOUBLE)
         |    / len($toksSql), 4) AS score_bin
         |  FROM documents),
         |b AS (SELECT score_bin,
         |    count(CASE WHEN is_pos THEN 1 END) AS npos_b,
         |    count(CASE WHEN NOT is_pos THEN 1 END) AS nneg_b
         |  FROM s GROUP BY 1),
         |tot AS (SELECT CAST(sum(npos_b) AS BIGINT) AS p,
         |    CAST(sum(nneg_b) AS BIGINT) AS nn FROM b),
         |cuts AS (SELECT score_bin,
         |    CAST(sum(npos_b) OVER (ORDER BY score_bin ROWS BETWEEN
         |      CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS tp,
         |    CAST(sum(nneg_b) OVER (ORDER BY score_bin ROWS BETWEEN
         |      CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS fp
         |  FROM b),
         |jn AS (SELECT score_bin, tp, fp, p, nn,
         |    CAST(tp AS HUGEINT) * nn - CAST(fp AS HUGEINT) * p AS j_num
         |  FROM cuts, tot),
         |best AS (SELECT * FROM jn
         |  ORDER BY j_num DESC, score_bin ASC LIMIT 1)
         |SELECT score_bin AS threshold, p AS n_pos, nn AS n_neg, tp, fp,
         |  round(CAST(tp AS DOUBLE) / p, 6) AS sensitivity,
         |  round(1.0 - CAST(fp AS DOUBLE) / nn, 6) AS specificity,
         |  round(CAST(tp AS DOUBLE) / p - CAST(fp AS DOUBLE) / nn, 6)
         |    AS youden_j
         |FROM best""".stripMargin
  }

  // ---------------------------------------------------------------- E14
  /** Feature-hashing (hashing-trick) audit: terms bucketed into a
    * fixed [[FeatureHashDim]]-wide space by the engine-portable
    * rolling hash; per document, the distinct-term count, occupied
    * buckets, and collision rate. This is the pre-flight check run
    * before committing to a hashed feature width — the hashing trick
    * itself is the `pmod(rolling_hash(term), dim)` expression, which
    * is map-only at any corpus size (no vocabulary, no fit, no
    * shuffle beyond the per-doc aggregate).
    */
  val FeatureHashDim = 256

  def qFeatureHash(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftExpressions.rolling_hash
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .distinct()
      .select(col("doc_id"), col("term"),
        pmod(rolling_hash(col("term")), lit(FeatureHashDim)).as("bucket"))
    toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        countDistinct(col("bucket")).as("n_buckets"))
      .select(col("doc_id"), col("n_terms"), col("n_buckets"),
        round(lit(1.0) - col("n_buckets").cast("double") / col("n_terms"), 6)
          .as("collision_rate"))
  }

  val qFeatureHashSql: String = {
    val toksSql = graft.functions.TextFunctions.duckToksSql("text")
    raw"""WITH t AS (SELECT DISTINCT doc_id, unnest($toksSql) AS term FROM documents),
         |h AS (SELECT doc_id, term, list_reduce(
         |    list_prepend(0::BIGINT, list_transform(generate_series(1, length(term)),
         |      i -> ascii(substr(term, i, 1))::BIGINT)),
         |    (acc, c) -> (acc * 31 + c) % 1000000007) % $FeatureHashDim AS bucket
         |  FROM t)
         |SELECT doc_id, count(*) AS n_terms,
         |  count(DISTINCT bucket) AS n_buckets,
         |  round(1.0 - CAST(count(DISTINCT bucket) AS DOUBLE) / count(*), 6) AS collision_rate
         |FROM h GROUP BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- E19
  /** Per-dimension int8 quantization of the embedding column — the
    * affine (min, scale) codec that shrinks a served vector corpus 8×
    * (64 float64 → 64 uint8 + 2 doubles/dim of codec state) — with the
    * reconstruction-error audit that decides whether int8 serving is
    * safe. Two passes, both scale-free: (1) per-dim min/max via
    * explode + 64-row aggregate (map-side combine collapses each
    * partition to 64 rows before the shuffle); (2) the 64-row codec
    * table broadcasts back and each value quantizes/dequantizes
    * MAP-SIDE — `code = round((x − mn)/scale)`, err = |x − (mn +
    * code·scale)|. Output is 64 rows: codec state + mean/max abs
    * error per dim. The error ceiling of an affine uint8 codec is
    * scale/2 per value — asserted as `bound_ok`, which the oracle
    * recomputes (a verdict column, the r9 sketch-twin device).
    */
  def qInt8Quant(spark: SparkSession, dir: String): DataFrame = {
    val flat = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
    val codec = flat.groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .withColumn("scale", (col("mx") - col("mn")) / 255.0)
    val code = when(col("scale") === 0, lit(0L))
      .otherwise(round((col("x") - col("mn")) / col("scale")).cast("long"))
    flat.join(broadcast(codec), "dim")
      .withColumn("err", abs(col("x") - (col("mn") + code * col("scale"))))
      .groupBy(col("dim"))
      .agg(first(col("mn")).as("mn0"), first(col("mx")).as("mx0"),
        first(col("scale")).as("scale0"),
        round(avg(col("err")), 6).as("mean_abs_err"),
        round(max(col("err")), 6).as("max_abs_err"))
      .select(col("dim"), round(col("mn0"), 6).as("mn"),
        round(col("mx0"), 6).as("mx"), round(col("scale0"), 8).as("scale"),
        col("mean_abs_err"), col("max_abs_err"),
        (col("max_abs_err") <= col("scale0") / 2 + 1e-9).as("bound_ok"))
  }

  val qInt8QuantSql: String =
    """WITH flat AS (SELECT i - 1 AS dim, list_extract(embedding::DOUBLE[], i) AS x
      |    FROM embeddings, generate_series(1, 64) g(i)),
      |codec AS (SELECT dim, min(x) AS mn, max(x) AS mx, (max(x) - min(x)) / 255.0 AS scale
      |  FROM flat GROUP BY dim),
      |q AS (SELECT flat.dim, x, mn, mx, scale,
      |    abs(x - (mn + (CASE WHEN scale = 0 THEN 0
      |      ELSE CAST(round((x - mn) / scale) AS BIGINT) END) * scale)) AS err
      |  FROM flat JOIN codec USING (dim)),
      |a AS (SELECT dim, any_value(mn) AS mn0, any_value(mx) AS mx0,
      |    any_value(scale) AS scale0,
      |    round(avg(err), 6) AS mean_abs_err, round(max(err), 6) AS max_abs_err
      |  FROM q GROUP BY dim)
      |SELECT dim, round(mn0, 6) AS mn, round(mx0, 6) AS mx, round(scale0, 8) AS scale,
      |  mean_abs_err, max_abs_err,
      |  (max_abs_err <= scale0 / 2 + 1e-9) AS bound_ok
      |FROM a""".stripMargin

  // ---------------------------------------------------------------- E21
  /** Vector-corpus QC gate — the validation a pipeline runs BEFORE
    * trusting an embedding snapshot: counts of zero vectors,
    * non-finite components (NaN/±Inf — the classic upstream-model
    * failure), and norm outliers (> 3σ from the corpus mean — a
    * truncated or double-scaled batch shows up here), plus the norm
    * distribution itself. One-row verdict. Two linear passes: norms
    * are MAP-SIDE (codegen'd fold over the array), the stats aggregate
    * is one row broadcast back, the outlier flag is again map-side.
    * Norms are 6-dp-rounded BEFORE the stats/threshold compare so the
    * 64-term summation order can never flip a knife-edge verdict
    * across engines (the §5 parity rule applied to a cutoff).
    */
  def qEmbeddingQc(spark: SparkSession, dir: String): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val bad = exists(v, x => isnan(x) || abs(x) === lit(Double.PositiveInfinity))
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), bad.as("nonfinite"),
        when(bad, lit(null)).otherwise(round(graft.functions.VectorFunctions.norm2(v), 6)).as("rn"))
    val stats = base.filter(!col("nonfinite"))
      .agg(round(avg(col("rn")), 6).as("mean_norm"),
        round(stddev_samp(col("rn")), 6).as("sd_norm"))
    base.crossJoin(broadcast(stats))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("nonfinite"), 1L).otherwise(0L)).as("n_nonfinite"),
        sum(when(!col("nonfinite") && col("rn") === 0, 1L).otherwise(0L)).as("n_zero"),
        sum(when(!col("nonfinite") &&
          round(abs(col("rn") - col("mean_norm")), 6) > round(col("sd_norm") * 3, 6),
          1L).otherwise(0L)).as("n_norm_outliers"),
        first(col("mean_norm")).as("mean_norm"),
        first(col("sd_norm")).as("sd_norm"))
      .withColumn("qc_pass",
        col("n_nonfinite") === 0 && col("n_zero") === 0 &&
          col("n_norm_outliers") * 100 <= col("n_vectors"))
  }

  val qEmbeddingQcSql: String =
    """WITH b AS (SELECT vec_id,
      |    len(list_filter(embedding::DOUBLE[], x -> isnan(x) OR isinf(x))) > 0 AS nonfinite,
      |    round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6) AS rn0
      |  FROM embeddings),
      |bb AS (SELECT vec_id, nonfinite,
      |    CASE WHEN nonfinite THEN NULL ELSE rn0 END AS rn FROM b),
      |s AS (SELECT round(avg(rn), 6) AS mean_norm, round(stddev_samp(rn), 6) AS sd_norm
      |  FROM bb WHERE NOT nonfinite)
      |SELECT count(*) AS n_vectors,
      |  CAST(sum(CASE WHEN nonfinite THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
      |  CAST(sum(CASE WHEN NOT nonfinite AND rn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |  CAST(sum(CASE WHEN NOT nonfinite
      |    AND round(abs(rn - mean_norm), 6) > round(sd_norm * 3, 6)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_norm_outliers,
      |  any_value(mean_norm) AS mean_norm, any_value(sd_norm) AS sd_norm,
      |  (sum(CASE WHEN nonfinite THEN 1 ELSE 0 END) = 0
      |    AND sum(CASE WHEN NOT nonfinite AND rn = 0 THEN 1 ELSE 0 END) = 0
      |    AND CAST(sum(CASE WHEN NOT nonfinite
      |      AND round(abs(rn - mean_norm), 6) > round(sd_norm * 3, 6)
      |      THEN 1 ELSE 0 END) AS BIGINT) * 100 <= count(*)) AS qc_pass
      |FROM bb, s""".stripMargin

  // ---------------------------------------------------------------- E20
  /** Per-source embedding-centroid shift — the slice-level drift check
    * over embedding space: each source's per-dim centroid against the
    * corpus centroid, reported as L2 shift and cosine alignment. An
    * encoder-version mismatch, a truncated batch, or a source whose
    * content genuinely drifted all show up as one source's centroid
    * pulling away while the others hold — per-VECTOR QC (E17) cannot
    * see this because every individual vector looks healthy. Shape:
    * one explode pass, two bounded aggregates (sources × 64 dims and
    * 64 dims), a 64-row broadcast join; per-dim means are 6-dp-rounded
    * BEFORE the distance arithmetic so both engines fold identical
    * inputs.
    */
  def qSourceEmbeddingShift(spark: SparkSession, dir: String): DataFrame = {
    val flat = Tables.embeddings(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
      .select(col("source"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
    val perSource = flat.groupBy(col("source"), col("dim"))
      .agg(round(avg(col("x")), 6).as("m"), count(lit(1)).as("nd"))
    val corpus = flat.groupBy(col("dim")).agg(round(avg(col("x")), 6).as("cm"))
    perSource.join(broadcast(corpus), "dim")
      .groupBy(col("source"))
      .agg((max(col("nd"))).as("n_vectors"),
        round(sqrt(sum(pow(col("m") - col("cm"), 2))), 6).as("l2_shift"),
        round(sum(col("m") * col("cm")) /
          (sqrt(sum(col("m") * col("m"))) * sqrt(sum(col("cm") * col("cm")))), 6)
          .as("cos_to_corpus"))
  }

  val qSourceEmbeddingShiftSql: String =
    """WITH flat AS (SELECT source, i - 1 AS dim,
      |    list_extract(embedding::DOUBLE[], i) AS x
      |  FROM embeddings JOIN documents ON vec_id = doc_id, generate_series(1, 64) g(i)),
      |ps AS (SELECT source, dim, round(avg(x), 6) AS m, count(*) AS nd
      |  FROM flat GROUP BY source, dim),
      |c AS (SELECT dim, round(avg(x), 6) AS cm FROM flat GROUP BY dim)
      |SELECT source, CAST(max(nd) AS BIGINT) AS n_vectors,
      |  round(sqrt(sum((m - cm) * (m - cm))), 6) AS l2_shift,
      |  round(sum(m * cm) / (sqrt(sum(m * m)) * sqrt(sum(cm * cm))), 6) AS cos_to_corpus
      |FROM ps JOIN c USING (dim) GROUP BY source""".stripMargin

  // ---------------------------------------------------------------- E23
  /** Closed-form per-group OLS: extendedprice regressed on quantity
    * within each return flag — slope (the effective unit price),
    * intercept, R², and residual RMSE from ONE hash aggregate per
    * group. The `regr_*` aggregate family is the engine-native
    * closed-form fit: no iteration, no estimator object, map-side
    * partial sums — at 100 TB this is a single shuffle of 6 running
    * sums per group, the cheapest model that exists. RMSE falls out
    * of the same sums as sqrt(var_pop(y)·(1−R²)) — no second pass
    * over the residuals.
    */
  def qOlsFit(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("intercept"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
        round(sqrt(var_pop(col("l_extendedprice")) *
          (lit(1.0) - expr("regr_r2(l_extendedprice, l_quantity)"))), 4).as("rmse"))

  val qOlsFitSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
      |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
      |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
      |  round(sqrt(var_pop(l_extendedprice)
      |    * (1.0 - regr_r2(l_extendedprice, l_quantity))), 4) AS rmse
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- E54
  /** Leverage audit of the E22 per-flag OLS design — the influence
    * diagnostic between E22 (the fit) and L63 (residual variance):
    * leverage h_i = 1/n + (x−x̄)²/Sxx measures how much row i PULLS
    * the fit toward itself; rows past the classic 2p/n = 4/n cut are
    * the ones whose deletion moves the coefficients (the
    * q_cooks_distance companion on the DESIGN side — Cook's needs
    * residuals, leverage only x). ENGINE-EXACT verdicts: h > 4/n ⟺
    * (n·x − Σx)² > 3·(n·Σx² − (Σx)²) — pure integer arithmetic, no
    * float enters the flag; h_max publishes as ONE fixed-order double
    * over the exact integer moments. Two-pass by construction
    * (moments, then the flag scan against broadcast moments — the
    * L63 shape). Output |flags| rows.
    */
  def qLeverageAudit(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val rows = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("x"))
    val mom = rows.groupBy(col("flag")).agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("x").cast(d38)).as("sx"),
      sum((col("x").cast(d38) * col("x")).cast(d38)).as("sxx"))
    rows.join(broadcast(mom), "flag")
      .withColumn("d2", expr(
        "CAST((CAST(n AS DECIMAL(38,0)) * x - sx)" +
          " * (CAST(n AS DECIMAL(38,0)) * x - sx) AS DECIMAL(38,0))"))
      .withColumn("sc", (col("n") * col("sxx") - col("sx") * col("sx"))
        .cast(d38))
      .groupBy(col("flag"))
      .agg(max(col("n")).as("n"),
        sum(when(col("d2") > col("sc") * 3, 1L).otherwise(0L))
          .cast("long").as("n_high"),
        max(col("d2")).as("d2max"), max(col("sc")).as("sc1"))
      .select(col("flag"), col("n"), col("n_high"),
        expr("CAST((2 * CAST(n_high AS DECIMAL(38,0)) * 1000000 + n)" +
          " DIV (2 * CAST(n AS DECIMAL(38,0))) AS BIGINT)")
          .as("high_ppm"),
        round(lit(1.0) / col("n").cast("double") +
          col("d2max").cast("double") /
            (col("n").cast("double") * col("sc1").cast("double")), 6)
          .as("h_max"))
  }

  val qLeverageAuditSql: String =
    """WITH rows0 AS (SELECT l_returnflag AS flag,
      |    CAST(l_quantity AS BIGINT) AS x FROM lineitem),
      |mom AS (SELECT flag, CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(x AS HUGEINT)) AS sx,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx
      |  FROM rows0 GROUP BY 1),
      |fl AS (SELECT r.flag, n,
      |    (CAST(n AS HUGEINT) * x - sx) * (CAST(n AS HUGEINT) * x - sx)
      |      AS d2,
      |    n * sxx - sx * sx AS sc
      |  FROM rows0 r JOIN mom USING (flag)),
      |agg AS (SELECT flag, max(n) AS n,
      |    CAST(sum(CASE WHEN d2 > sc * 3 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_high,
      |    max(d2) AS d2max, max(sc) AS sc1
      |  FROM fl GROUP BY 1)
      |SELECT flag, n, n_high,
      |  CAST((2 * CAST(n_high AS HUGEINT) * 1000000 + n)
      |    // (2 * CAST(n AS HUGEINT)) AS BIGINT) AS high_ppm,
      |  round(1.0 / CAST(n AS DOUBLE)
      |    + CAST(d2max AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(sc1 AS DOUBLE)),
      |    6) AS h_max
      |FROM agg""".stripMargin

  // ---------------------------------------------------------------- E53
  /** Log-log price elasticity of demand per brand — the econometric
    * readout E22's linear fit can't give (a linear slope is in
    * dollars; elasticity is the UNITLESS %Δquantity per %Δprice a
    * pricing decision actually consumes, and brands with elasticity
    * < −1 lose revenue on price increases). Engine-exact device
    * (E33/E38): per row the log unit price and log quantity each
    * µ-quantize as DIFFERENCES of µ-quantized lns of exact integers
    * (x = round(ln(cents)·10⁶) − round(ln(qty)·10⁶) — ln(a/b) without
    * a pre-round division, so no half-up-vs-half-even rounding
    * divergence can enter), all five moments are exact DECIMAL(38,0)
    * sums, the slope is ONE sign-split double division and R² a
    * fixed-order expression over the same moments; zero-variance
    * brands publish null. One brand-keyed aggregate (25 groups);
    * elastic verdict on the published double, deterministic.
    */
  def qPriceElasticity(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    def sd(c: String) = expr(
      s"CASE WHEN $c >= 0 THEN CAST($c AS DOUBLE)" +
        s" ELSE -CAST(-($c) AS DOUBLE) END")
    val rows = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        (round(log(round(col("l_extendedprice") * 100)) * 1e6).cast("long")
          - round(log(col("l_quantity").cast("double")) * 1e6).cast("long"))
          .as("x"),
        round(log(col("l_quantity").cast("double")) * 1e6).cast("long")
          .as("y"))
    val mom = rows.groupBy(col("brand")).agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
      sum((col("x").cast(d38) * col("x")).cast(d38)).as("sxx"),
      sum((col("x").cast(d38) * col("y")).cast(d38)).as("sxy"),
      sum((col("y").cast(d38) * col("y")).cast(d38)).as("syy"))
    mom
      .withColumn("num", (col("n") * col("sxy") - col("sx") * col("sy"))
        .cast(d38))
      .withColumn("dx", (col("n") * col("sxx") - col("sx") * col("sx"))
        .cast(d38))
      .withColumn("dy", (col("n") * col("syy") - col("sy") * col("sy"))
        .cast(d38))
      .select(col("brand"), col("n"),
        when(col("dx") > 0, round(sd("num") / sd("dx"), 6))
          .otherwise(lit(null).cast("double")).as("elasticity"),
        when(col("dx") > 0 && col("dy") > 0,
          round(sd("num") * sd("num") /
            (sd("dx") * sd("dy")), 6))
          .otherwise(lit(null).cast("double")).as("r2"))
      .withColumn("elastic", col("elasticity") < -1.0)
  }

  val qPriceElasticitySql: String = {
    def sd(c: String) =
      s"""CASE WHEN $c >= 0 THEN CAST($c AS DOUBLE)
         | ELSE -CAST(-($c) AS DOUBLE) END"""
        .stripMargin.replace("\n", " ")
    s"""WITH rows0 AS (SELECT p_brand AS brand,
       |    CAST(round(ln(CAST(round(l_extendedprice * 100) AS BIGINT))
       |      * 1e6) AS BIGINT)
       |      - CAST(round(ln(CAST(l_quantity AS DOUBLE)) * 1e6) AS BIGINT)
       |      AS x,
       |    CAST(round(ln(CAST(l_quantity AS DOUBLE)) * 1e6) AS BIGINT) AS y
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |mom AS (SELECT brand, CAST(count(*) AS HUGEINT) AS n,
       |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
       |    sum(CAST(x AS HUGEINT) * x) AS sxx,
       |    sum(CAST(x AS HUGEINT) * y) AS sxy,
       |    sum(CAST(y AS HUGEINT) * y) AS syy
       |  FROM rows0 GROUP BY 1),
       |d AS (SELECT brand, CAST(n AS BIGINT) AS n,
       |    n * sxy - sx * sy AS num,
       |    n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy
       |  FROM mom)
       |SELECT brand, n,
       |  CASE WHEN dx > 0 THEN round((${sd("num")}) / (${sd("dx")}), 6)
       |    END AS elasticity,
       |  CASE WHEN dx > 0 AND dy > 0 THEN
       |    round((${sd("num")}) * (${sd("num")})
       |      / ((${sd("dx")}) * (${sd("dy")})), 6) END AS r2,
       |  (CASE WHEN dx > 0 THEN round((${sd("num")}) / (${sd("dx")}), 6)
       |    END) < -1.0 AS elastic
       |FROM d""".stripMargin
  }

  // ---------------------------------------------------------------- E37
  /** Closed-form ridge regression of extended price on quantity per
    * return flag — E22's OLS with an L2 penalty, the one-knob
    * regularization a feature pipeline reaches for when a fit must
    * survive collinear or sparse slices: β_α = Sxy/(Sxx + α·n)
    * (per-observation penalty λ = α·n, so the knob is scale-free),
    * published for α ∈ {0, 1, 10} — the α=0 row IS the OLS fit
    * (spec-pinned against E22's regr_slope), and `shrinkage` =
    * Sxx/(Sxx + α·n) reads the regularization strength directly.
    * Exact-moment device: quantities are integral doubles (lift to
    * long), prices lift to cents; Σx, Σx², Σy, Σxy accumulate
    * exactly (DECIMAL(38,0)/HUGEINT for the price-weighted sums);
    * the centered moments and β are one identical double expression
    * per (flag, α) row. One corpus scan → |flags| rows → a 3-row
    * constant explode; everything after is scalar algebra.
    */
  def qRidgeFit(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("yc"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("yc").cast("decimal(38,0)")).as("sy"),
        sum(col("x") * col("x")).as("sxx_r"),
        sum((col("x") * col("yc")).cast("decimal(38,0)")).as("sxy_r"))
    m.withColumn("alpha", explode(array(lit(0), lit(1), lit(10))))
      .withColumn("sxx", col("sxx_r").cast("double") -
        col("sx").cast("double") * col("sx").cast("double") / col("n"))
      .withColumn("sxy", col("sxy_r").cast("double") -
        col("sx").cast("double") * col("sy").cast("double") / col("n"))
      .withColumn("beta_c", col("sxy") / (col("sxx") + col("alpha") * col("n")))
      .select(col("l_returnflag"), col("alpha"), col("n"),
        round(col("beta_c") / 100.0, 6).as("slope"),
        round((col("sy").cast("double") / col("n") -
          col("beta_c") * (col("sx").cast("double") / col("n"))) / 100.0, 4)
          .as("intercept"),
        round(col("sxx") / (col("sxx") + col("alpha") * col("n")), 6)
          .as("shrinkage"))
  }

  val qRidgeFitSql: String =
    """WITH m AS (SELECT l_returnflag, count(*) AS n,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT)) AS HUGEINT)
      |      AS sy,
      |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
      |      AS BIGINT) AS sxx_r,
      |    CAST(sum(CAST(l_quantity AS BIGINT)
      |      * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS HUGEINT)
      |      AS sxy_r
      |  FROM lineitem GROUP BY 1),
      |a AS (SELECT m.*, t.alpha FROM m CROSS JOIN
      |  (VALUES (0), (1), (10)) t(alpha)),
      |c AS (SELECT l_returnflag, alpha, n, sx, sy,
      |    CAST(sxx_r AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n AS sxx,
      |    CAST(sxy_r AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n AS sxy
      |  FROM a)
      |SELECT l_returnflag, alpha, n,
      |  round((sxy / (sxx + alpha * n)) / 100.0, 6) AS slope,
      |  round((CAST(sy AS DOUBLE) / n
      |    - (sxy / (sxx + alpha * n)) * (CAST(sx AS DOUBLE) / n)) / 100.0, 4)
      |    AS intercept,
      |  round(sxx / (sxx + alpha * n), 6) AS shrinkage
      |FROM c""".stripMargin

  // ---------------------------------------------------------------- E24
  /** Leave-one-out target encoding of customer market segment against
    * order total — the high-cardinality-categorical feature device:
    * each order's encoding is the mean target of its segment
    * EXCLUDING itself ((Σ_seg − y)/(n_seg − 1)), so the feature never
    * leaks its own label (the flaw that makes naive mean-encoding
    * overfit audits). Group sums are decimal-exact and broadcast back
    * (|segments| rows); the subtraction and divide run per row
    * map-side in double on identical inputs, rounded at the boundary.
    * One custkey shuffle for the dim join; everything after is
    * map-only.
    */
  def qTargetEncoding(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment"),
        col("o_totalprice"))
    val seg = o.groupBy(col("c_mktsegment"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("seg_sum"),
        count(lit(1)).as("seg_n"))
    // round((seg_sum − price) / (n−1), 4) computed ENTIRELY in integer
    // arithmetic: the numerator is an exact 2-dp decimal (cents), and
    // half-up rounding of a/b is (2a + b) DIV 2b — a double round()
    // here sat on a half-ulp knife edge at sf0.001 (…85375 quotient:
    // Spark's decimal-expansion HALF_UP said .8537, DuckDB said .8538)
    o.join(broadcast(seg), "c_mktsegment")
      .withColumn("numer_c100",
        ((col("seg_sum") - col("o_totalprice").cast("decimal(18,2)")) *
          lit(10000)).cast("long"))
      .withColumn("enc4",
        expr("(2 * numer_c100 + (seg_n - 1)) DIV (2 * (seg_n - 1))"))
      .select(col("o_orderkey"), col("c_mktsegment"),
        (col("enc4").cast("double") / 10000.0).as("loo_enc"))
  }

  val qTargetEncodingSql: String =
    """WITH o AS (SELECT o_orderkey, c_mktsegment, o_totalprice
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |seg AS (SELECT c_mktsegment,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS seg_sum,
      |    count(*) AS seg_n
      |  FROM o GROUP BY c_mktsegment),
      |j AS (SELECT o_orderkey, c_mktsegment,
      |    CAST((seg_sum - CAST(o_totalprice AS DECIMAL(18,2))) * 10000
      |      AS BIGINT) AS numer_c100,
      |    seg_n
      |  FROM o JOIN seg USING (c_mktsegment))
      |SELECT o_orderkey, c_mktsegment,
      |  CAST((2 * numer_c100 + (seg_n - 1)) // (2 * (seg_n - 1)) AS DOUBLE)
      |    / 10000.0 AS loo_enc
      |FROM j""".stripMargin

  // ---------------------------------------------------------------- E25
  /** Winsorized-mean robustification per return flag: p01/p99 cuts
    * from ONE exact-percentile aggregate (3 groups, broadcast back),
    * values clipped map-side, and the clipping audit (counts below/
    * above, raw vs winsorized mean) emitted per group. The cuts are
    * 2-dp-rounded BEFORE clipping so the winsorized column is again a
    * 2-dp price — clipped sums stay decimal-EXACT (the one device
    * that keeps a float clip oracle-provable); the only rounding is
    * the final mean division. Map-side compare + one bounded
    * aggregate; no global sort anywhere (K7 cut device).
    */
  def qWinsorize(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice"))
    val cuts = li.groupBy(col("l_returnflag"))
      .agg(round(expr("percentile(l_extendedprice, 0.01)"), 2).as("lo_cut"),
        round(expr("percentile(l_extendedprice, 0.99)"), 2).as("hi_cut"))
    li.join(broadcast(cuts), "l_returnflag")
      .withColumn("w", least(greatest(col("l_extendedprice"),
        col("lo_cut")), col("hi_cut")))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") < col("lo_cut"), 1L).otherwise(0L))
          .as("n_clipped_lo"),
        sum(when(col("l_extendedprice") > col("hi_cut"), 1L).otherwise(0L))
          .as("n_clipped_hi"),
        max(col("lo_cut")).as("lo_cut"), max(col("hi_cut")).as("hi_cut"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          / count(lit(1)), 6).as("mean_raw"),
        round(sum(col("w").cast("decimal(18,2)")).cast("double")
          / count(lit(1)), 6).as("mean_winsor"))
  }

  val qWinsorizeSql: String =
    """WITH cuts AS (SELECT l_returnflag,
      |    round(quantile_cont(l_extendedprice, 0.01), 2) AS lo_cut,
      |    round(quantile_cont(l_extendedprice, 0.99), 2) AS hi_cut
      |  FROM lineitem GROUP BY 1)
      |SELECT l.l_returnflag, count(*) AS n,
      |  CAST(sum(CASE WHEN l_extendedprice < lo_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
      |  CAST(sum(CASE WHEN l_extendedprice > hi_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
      |  max(lo_cut) AS lo_cut, max(hi_cut) AS hi_cut,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    / count(*), 6) AS mean_raw,
      |  round(CAST(sum(CAST(least(greatest(l_extendedprice, lo_cut), hi_cut)
      |    AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS mean_winsor
      |FROM lineitem l JOIN cuts USING (l_returnflag)
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- E32
  /** Brier score with the Murphy decomposition for the stopword-density
    * classifier — the single proper-scoring-rule number the E11/E12/E16
    * eval suite still lacked (AUC ranks, the reliability diagram
    * localizes miscalibration, Brier = reliability − resolution +
    * uncertainty says how much each costs in one additive budget).
    * Exact Brier from per-bin moment sums: Σ(s−y)² = Σs² − 2·Σ_pos s
    * + n_pos, accumulated per calibration bin (E16's 20 bins) and
    * ROUNDED AT 6 dp per bin before the 20-row total — the documented
    * device that absorbs double summation-order ulps while keeping
    * the verdict arithmetic identical in both engines; positives are
    * exact integers throughout. The decomposition terms come from the
    * same bounded bin frame (bin means 10-dp-rounded); their residual
    * vs the exact Brier is the within-bin score variance, published
    * as `decomp_gap` rather than silently absorbed.
    */
  def qBrierScore(spark: SparkSession, dir: String): DataFrame = {
    val enStops = graft.operators.TextAnalysis.stopwords("en")
    val scored = Tables.documents(spark, dir)
      .select((col("lang") === "en").as("is_pos"),
        (vocabHits(tokens(col("text")), enStops).cast("double") /
          tokenCount(col("text"))).as("score"))
      .withColumn("bin", least(floor(col("score") * 100), lit(19)).cast("long"))
    val bins = scored.groupBy(col("bin")).agg(
      count(lit(1)).as("n"),
      sum(when(col("is_pos"), 1L).otherwise(0L)).as("pos"),
      round(sum(col("score")), 6).as("ss"),
      round(sum(col("score") * col("score")), 6).as("ss2"),
      round(sum(when(col("is_pos"), col("score")).otherwise(0.0)), 6).as("ssy"))
    val baseRate = bins.agg(
      sum(col("pos")).cast("double").as("posd"),
      sum(col("n")).cast("double").as("nd"))
    val tot = bins.crossJoin(broadcast(baseRate)).agg(
      sum(col("n")).cast("long").as("n_docs"),
      sum(col("pos")).cast("long").as("n_pos"),
      sum(col("ss2") - lit(2.0) * col("ssy") + col("pos")).as("se"),
      sum(round(col("n") * pow(round(col("ss") / col("n"), 10) -
        round(col("pos").cast("double") / col("n"), 10), 2), 10)).as("rel_n"),
      sum(round(col("n") * pow(round(col("pos").cast("double") / col("n"), 10) -
        round(col("posd") / col("nd"), 10), 2), 10)).as("res_n"),
      max(col("posd")).as("posd"), max(col("nd")).as("nd"))
    val base = col("posd") / col("nd")
    tot.select(col("n_docs"), col("n_pos"),
        round(col("se") / col("nd"), 6).as("brier"),
        round(col("rel_n") / col("nd"), 6).as("reliability"),
        round(col("res_n") / col("nd"), 6).as("resolution"),
        round(base * (lit(1.0) - base), 6).as("uncertainty"))
      .withColumn("decomp_gap", round(abs(col("brier") -
        (col("reliability") - col("resolution") + col("uncertainty"))), 6))
  }

  val qBrierScoreSql: String = {
    val stopsSql = graft.operators.TextAnalysis.stopwords("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")
    val toksSql = graft.functions.TextFunctions.duckToksSql("text")
    raw"""WITH s AS (SELECT (lang = 'en') AS is_pos,
         |  CAST(len(list_filter($toksSql, t -> list_contains($stopsSql, t))) AS DOUBLE)
         |    / len($toksSql) AS score
         |  FROM documents),
         |b AS (SELECT least(CAST(floor(score * 100) AS BIGINT), 19) AS bin,
         |    is_pos, score FROM s),
         |bins AS (SELECT bin, count(*) AS n,
         |    CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS pos,
         |    round(sum(score), 6) AS ss,
         |    round(sum(score * score), 6) AS ss2,
         |    round(sum(CASE WHEN is_pos THEN score ELSE 0.0 END), 6) AS ssy
         |  FROM b GROUP BY bin),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
         |    CAST(sum(pos) AS BIGINT) AS n_pos,
         |    sum(ss2 - 2.0 * ssy + pos) AS se,
         |    sum(round(n * pow(round(ss / n, 10)
         |      - round(CAST(pos AS DOUBLE) / n, 10), 2), 10)) AS rel_n,
         |    CAST(sum(pos) AS DOUBLE) AS posd,
         |    CAST(sum(n) AS DOUBLE) AS nd,
         |    sum(round(n * pow(round(CAST(pos AS DOUBLE) / n, 10)
         |      - round((SELECT CAST(sum(pos) AS DOUBLE) / sum(n) FROM bins), 10),
         |      2), 10)) AS res_n
         |  FROM bins),
         |calc AS (SELECT n_docs, n_pos,
         |    round(se / nd, 6) AS brier,
         |    round(rel_n / nd, 6) AS reliability,
         |    round(res_n / nd, 6) AS resolution,
         |    round((posd / nd) * (1.0 - posd / nd), 6) AS uncertainty
         |  FROM tot)
         |SELECT n_docs, n_pos, brier, reliability, resolution, uncertainty,
         |  round(abs(brier - (reliability - resolution + uncertainty)), 6)
         |    AS decomp_gap
         |FROM calc""".stripMargin
  }

  // ---------------------------------------------------------------- E33
  /** Distributed logistic regression by UNROLLED full-batch gradient
    * descent — the "train a linear probe on corpus statistics"
    * primitive, built so the entire fit (not just its output) is
    * oracle-replayable: is-this-English regressed on three cheap text
    * signals (English-stopword ratio, mean token length — CJK
    * segmentation makes it sharply language-discriminative — and log
    * token count; a zero-variance feature standardizes to exactly 0
    * via the sd = 0 guard, so a degenerate corpus fits cleanly with
    * that feature inert). Every engine-divergence surface is closed with
    * fixed-point arithmetic: features quantize to integer micro-units
    * after standardization against EXACT DECIMAL moment sums, each
    * iteration's margin z rounds at 10 dp before the sigmoid, the
    * sigmoid output re-quantizes to integer micro-units (so the
    * gradient numerator Σ xq·(y·10⁶ − pq) is an EXACT integer in both
    * engines — a naive Σ x·(y−p) double sum would diverge on
    * summation order), and per-row log-losses quantize before their
    * integer sum. Three iterations (η = 0.5, convex loss, unit-scale
    * features ⇒ guaranteed descent), published as one row per iterate
    * 0–3 with the weights, the training log-loss, and accuracy AT
    * those weights — the monotone loss column is the audit that the
    * distributed GD machinery actually descends. Scale shape: the
    * feature build is one tokenize pass + one keyed aggregate; each
    * iteration is ONE map-side-combine aggregate over the cached
    * 4-column integer feature frame with the 1-row weight vector
    * broadcast — the textbook 100 TB logistic-probe plan (MLlib's own
    * LBFGS does exactly this treeAggregate shape, unreplayably).
    */
  def qLogisticGd(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis.stopwords
    val M = 1000000L
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
    val per = toks.groupBy(col("doc_id"), col("lang")).agg(
      count(lit(1)).as("n_tok"),
      sum(when(col("tok").isin(stopwords("en"): _*), 1L).otherwise(0L)).as("h"),
      sum(length(col("tok")).cast("long")).as("a"))
    val raw = per.select(
      when(col("lang") === "en", 1L).otherwise(0L).as("y"),
      round(col("h").cast("double") * M / col("n_tok")).cast("long").as("f1"),
      round(col("a").cast("double") * M / col("n_tok")).cast("long").as("f2"),
      round(log(lit(1.0) + col("n_tok")) * M).cast("long").as("f3"))
    def momCols(f: String) = Seq(
      sum(col(f).cast("decimal(38,0)")).as(s"s_$f"),
      sum((col(f) * col(f)).cast("decimal(38,0)")).as(s"q_$f"))
    val mom = raw.agg(count(lit(1)).as("n"),
      (momCols("f1") ++ momCols("f2") ++ momCols("f3")): _*)
    def muSd(f: String) = {
      val s = col(s"s_$f").cast("double"); val q = col(s"q_$f").cast("double")
      Seq(round(s / col("n"), 10).as(s"mu_$f"),
        round(sqrt(q / col("n") - (s / col("n")) * (s / col("n"))), 10)
          .as(s"sd_$f"))
    }
    val ms = mom.select(col("n") +:
      (muSd("f1") ++ muSd("f2") ++ muSd("f3")): _*)
    def std(f: String) =
      when(col(s"sd_$f") === 0, lit(0L))
        .otherwise(round((col(f) - col(s"mu_$f")) / col(s"sd_$f") * M)
          .cast("long")).as(s"x_$f")
    val feat = raw.crossJoin(broadcast(ms))
      .select(col("y"), std("f1"), std("f2"), std("f3")).cache()
    feat.count()
    val eta = 0.5
    // the weight vector is a 1-row frame so the whole fit stays one
    // Catalyst plan per iteration; each eval aggregate is cached (1
    // row) to stop lineage doubling across the unrolled iterations
    // (the M10 eigencentrality device)
    var w = spark.range(1).select(lit(0.0).as("w0"), lit(0.0).as("w1"),
      lit(0.0).as("w2"), lit(0.0).as("w3"))
    val cached = scala.collection.mutable.Buffer.empty[DataFrame]
    val outRows = scala.collection.mutable.Buffer.empty[DataFrame]
    for (i <- 0 to 3) {
      val z = round(col("w0")
        + col("w1") * (col("x_f1").cast("double") / M)
        + col("w2") * (col("x_f2").cast("double") / M)
        + col("w3") * (col("x_f3").cast("double") / M), 10)
      val ev = feat.crossJoin(broadcast(w))
        .withColumn("pq", round((lit(1.0) / (lit(1.0) + exp(-z))) * M)
          .cast("long"))
        .withColumn("pc", least(greatest(col("pq"), lit(1L)), lit(M - 1)))
        .withColumn("r", col("y") * M - col("pq"))
        .withColumn("llq", round(when(col("y") === 1,
            -log(col("pc").cast("double") / M))
          .otherwise(-log(lit(1.0) - col("pc").cast("double") / M)) * M)
          .cast("long"))
        .withColumn("ok",
          when((col("pq") >= M / 2) === (col("y") === 1), 1L).otherwise(0L))
        .agg(count(lit(1)).as("n"),
          sum(col("r").cast("decimal(38,0)")).as("g0"),
          sum((col("x_f1") * col("r")).cast("decimal(38,0)")).as("g1"),
          sum((col("x_f2") * col("r")).cast("decimal(38,0)")).as("g2"),
          sum((col("x_f3") * col("r")).cast("decimal(38,0)")).as("g3"),
          sum(col("llq").cast("decimal(38,0)")).as("ll"),
          sum(col("ok")).as("c"))
        .cache()
      cached += ev
      outRows += w.crossJoin(broadcast(ev))
        .select(lit(i).as("iter"),
          round(col("w0"), 6).as("b0"), round(col("w1"), 6).as("b1"),
          round(col("w2"), 6).as("b2"), round(col("w3"), 6).as("b3"),
          round(col("ll").cast("double") / col("n") / M, 6).as("logloss"),
          round(col("c").cast("double") / col("n"), 6).as("accuracy"))
      w = w.crossJoin(broadcast(ev)).select(
        round(col("w0") + lit(eta) * round(col("g0").cast("double") / col("n") / M,
          10), 10).as("w0"),
        round(col("w1") + lit(eta) * round(col("g1").cast("double") / col("n")
          / M / M, 10), 10).as("w1"),
        round(col("w2") + lit(eta) * round(col("g2").cast("double") / col("n")
          / M / M, 10), 10).as("w2"),
        round(col("w3") + lit(eta) * round(col("g3").cast("double") / col("n")
          / M / M, 10), 10).as("w3"))
    }
    val out = outRows.reduce(_.union(_)).cache()
    out.count()
    cached.foreach(_.unpersist()); feat.unpersist()
    out
  }

  val qLogisticGdSql: String = {
    import graft.operators.TextAnalysis.stopSqlEn
    val duckT = graft.functions.TextFunctions.duckToksSql("text")
    def z(wc: String) =
      s"""round($wc.w0 + $wc.w1 * (CAST(x_f1 AS DOUBLE) / 1000000)
         |      + $wc.w2 * (CAST(x_f2 AS DOUBLE) / 1000000)
         |      + $wc.w3 * (CAST(x_f3 AS DOUBLE) / 1000000), 10)""".stripMargin
    def iter(i: Int): String = {
      val (wc, ec, wn) = (s"w$i", s"a$i", s"w${i + 1}")
      s"""$ec AS (SELECT count(*) AS n,
         |    sum(CAST(y * 1000000 - pq AS HUGEINT)) AS g0,
         |    sum(CAST(x_f1 * (y * 1000000 - pq) AS HUGEINT)) AS g1,
         |    sum(CAST(x_f2 * (y * 1000000 - pq) AS HUGEINT)) AS g2,
         |    sum(CAST(x_f3 * (y * 1000000 - pq) AS HUGEINT)) AS g3,
         |    sum(CAST(round((CASE WHEN y = 1
         |        THEN -ln(CAST(least(greatest(pq, 1), 999999) AS DOUBLE) / 1000000)
         |        ELSE -ln(1.0 - CAST(least(greatest(pq, 1), 999999) AS DOUBLE) / 1000000)
         |      END) * 1000000) AS HUGEINT)) AS ll,
         |    CAST(sum(CASE WHEN (pq >= 500000) = (y = 1) THEN 1 ELSE 0 END)
         |      AS BIGINT) AS c
         |  FROM (SELECT y, x_f1, x_f2, x_f3,
         |      CAST(round((1.0 / (1.0 + exp(-(${z(wc)})))) * 1000000) AS BIGINT)
         |        AS pq
         |    FROM fs, $wc $wc) ev),
         |$wn AS (SELECT
         |    round($wc.w0 + 0.5 * round(CAST(g0 AS DOUBLE) / n / 1000000, 10),
         |      10) AS w0,
         |    round($wc.w1 + 0.5 * round(CAST(g1 AS DOUBLE) / n / 1000000
         |      / 1000000, 10), 10) AS w1,
         |    round($wc.w2 + 0.5 * round(CAST(g2 AS DOUBLE) / n / 1000000
         |      / 1000000, 10), 10) AS w2,
         |    round($wc.w3 + 0.5 * round(CAST(g3 AS DOUBLE) / n / 1000000
         |      / 1000000, 10), 10) AS w3
         |  FROM $wc $wc, $ec)""".stripMargin
    }
    def outRow(i: Int): String =
      s"""SELECT $i AS iter, round(w0, 6) AS b0, round(w1, 6) AS b1,
         |  round(w2, 6) AS b2, round(w3, 6) AS b3,
         |  round(CAST(ll AS DOUBLE) / n / 1000000, 6) AS logloss,
         |  round(CAST(c AS DOUBLE) / n, 6) AS accuracy
         |FROM w$i, a$i""".stripMargin
    s"""WITH toks0 AS (SELECT doc_id, lang, unnest($duckT) AS tok FROM documents),
       |tk AS (SELECT * FROM toks0 WHERE length(tok) > 0),
       |per AS (SELECT doc_id, lang, count(*) AS n_tok,
       |    CAST(sum(CASE WHEN list_contains($stopSqlEn, tok) THEN 1 ELSE 0 END)
       |      AS BIGINT) AS h,
       |    CAST(sum(length(tok)) AS BIGINT) AS a
       |  FROM tk GROUP BY 1, 2),
       |raw AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |    CAST(round(CAST(h AS DOUBLE) * 1000000 / n_tok) AS BIGINT) AS f1,
       |    CAST(round(CAST(a AS DOUBLE) * 1000000 / n_tok) AS BIGINT) AS f2,
       |    CAST(round(ln(1.0 + n_tok) * 1000000) AS BIGINT) AS f3
       |  FROM per),
       |mom AS (SELECT count(*) AS n,
       |    sum(CAST(f1 AS HUGEINT)) AS s_f1, sum(CAST(f1 AS HUGEINT) * f1) AS q_f1,
       |    sum(CAST(f2 AS HUGEINT)) AS s_f2, sum(CAST(f2 AS HUGEINT) * f2) AS q_f2,
       |    sum(CAST(f3 AS HUGEINT)) AS s_f3, sum(CAST(f3 AS HUGEINT) * f3) AS q_f3
       |  FROM raw),
       |ms AS (SELECT n,
       |    round(CAST(s_f1 AS DOUBLE) / n, 10) AS mu_f1,
       |    round(sqrt(CAST(q_f1 AS DOUBLE) / n
       |      - (CAST(s_f1 AS DOUBLE) / n) * (CAST(s_f1 AS DOUBLE) / n)), 10) AS sd_f1,
       |    round(CAST(s_f2 AS DOUBLE) / n, 10) AS mu_f2,
       |    round(sqrt(CAST(q_f2 AS DOUBLE) / n
       |      - (CAST(s_f2 AS DOUBLE) / n) * (CAST(s_f2 AS DOUBLE) / n)), 10) AS sd_f2,
       |    round(CAST(s_f3 AS DOUBLE) / n, 10) AS mu_f3,
       |    round(sqrt(CAST(q_f3 AS DOUBLE) / n
       |      - (CAST(s_f3 AS DOUBLE) / n) * (CAST(s_f3 AS DOUBLE) / n)), 10) AS sd_f3
       |  FROM mom),
       |fs AS (SELECT y,
       |    CASE WHEN sd_f1 = 0 THEN 0
       |      ELSE CAST(round((f1 - mu_f1) / sd_f1 * 1000000) AS BIGINT) END AS x_f1,
       |    CASE WHEN sd_f2 = 0 THEN 0
       |      ELSE CAST(round((f2 - mu_f2) / sd_f2 * 1000000) AS BIGINT) END AS x_f2,
       |    CASE WHEN sd_f3 = 0 THEN 0
       |      ELSE CAST(round((f3 - mu_f3) / sd_f3 * 1000000) AS BIGINT) END AS x_f3
       |  FROM raw, ms),
       |w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
       |${iter(0)},
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |${outRow(0)}
       |UNION ALL ${outRow(1)}
       |UNION ALL ${outRow(2)}
       |UNION ALL ${outRow(3)}""".stripMargin
  }

  // ---------------------------------------------------------------- E35
  /** Best information-gain decision stump — the first split any tree
    * learner would make, as a one-pass distributed aggregate: which
    * quantity threshold best separates returned lineitems
    * (l_returnflag = 'R') from kept ones? The feature's value domain
    * is the INTEGER grid 1..50, so the candidate-threshold sweep is a
    * value histogram (one keyed aggregate over the corpus — the only
    * data-scale pass), a cumulative window over the ≤ 50-row
    * histogram (bounded, the q_auc class), and a 10-dp entropy
    * expression per candidate; the corpus never re-scans per
    * threshold. Class proportions round at 10 dp before the
    * p·ln(p) terms (identical IEEE in both engines — the E27 device);
    * gain publishes at 6 dp with a lowest-threshold tiebreak. The
    * verdict row carries the stump's training accuracy (exact
    * integer majority counts) against the majority-class baseline —
    * gain > 0 with accuracy ≤ baseline is the classic entropy-vs-
    * accuracy split divergence, visible rather than hidden.
    */
  def qDecisionStump(spark: SparkSession, dir: String): DataFrame = {
    def ent(p: org.apache.spark.sql.Column) = {
      val pr = round(p, 10)
      when(pr <= 0 || pr >= 1, lit(0.0))
        .otherwise(round(-pr * log(pr) - (lit(1.0) - pr) * log(lit(1.0) - pr), 10))
    }
    val rows = Tables.lineitem(spark, dir)
      .select(col("l_quantity").cast("long").as("v"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    val hist = rows.groupBy(col("v"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val tot = hist.agg(sum(col("n")).cast("long").as("nn"),
      sum(col("pos")).cast("long").as("npos"),
      max(col("v")).as("vmax"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cand = hist
      .withColumn("nl", sum(col("n")).over(w).cast("long"))
      .withColumn("pl", sum(col("pos")).over(w).cast("long"))
      .crossJoin(broadcast(tot))
      .filter(col("v") < col("vmax"))
      .withColumn("nr", col("nn") - col("nl"))
      .withColumn("pr", col("npos") - col("pl"))
    val scored = cand.select(col("v").as("threshold"),
        col("nl").as("n_left"), col("nr").as("n_right"),
        col("pl").as("pos_left"), col("pr").as("pos_right"),
        col("nn"), col("npos"),
        round(ent(col("npos").cast("double") / col("nn"))
          - (col("nl").cast("double") / col("nn"))
            * ent(col("pl").cast("double") / col("nl"))
          - (col("nr").cast("double") / col("nn"))
            * ent(col("pr").cast("double") / col("nr")), 6).as("gain"),
        (greatest(col("pl"), col("nl") - col("pl"))
          + greatest(col("pr"), col("nr") - col("pr"))).as("correct"))
    scored
      .orderBy(col("gain").desc, col("threshold").asc).limit(1)
      .select(col("threshold"), col("gain"),
        col("n_left"), col("n_right"), col("pos_left"), col("pos_right"),
        round(col("correct").cast("double") / col("nn"), 6).as("accuracy"),
        round(greatest(col("npos"), col("nn") - col("npos")).cast("double")
          / col("nn"), 6).as("baseline"))
  }

  val qDecisionStumpSql: String = {
    def ent(p: String) =
      s"""CASE WHEN round($p, 10) <= 0 OR round($p, 10) >= 1 THEN 0.0
         |    ELSE round(-round($p, 10) * ln(round($p, 10))
         |      - (1.0 - round($p, 10)) * ln(1.0 - round($p, 10)), 10) END"""
        .stripMargin
    s"""WITH rows0 AS (SELECT CAST(l_quantity AS BIGINT) AS v,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      |  FROM lineitem),
      |hist AS (SELECT v, count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
      |  FROM rows0 GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
      |    CAST(sum(pos) AS BIGINT) AS npos, max(v) AS vmax FROM hist),
      |cand AS (SELECT v,
      |    CAST(sum(n) OVER (ORDER BY v) AS BIGINT) AS nl,
      |    CAST(sum(pos) OVER (ORDER BY v) AS BIGINT) AS pl
      |  FROM hist),
      |sc AS (SELECT c.v AS threshold,
      |    c.nl AS n_left, t.nn - c.nl AS n_right,
      |    c.pl AS pos_left, t.npos - c.pl AS pos_right,
      |    t.nn, t.npos,
      |    round(${ent("CAST(t.npos AS DOUBLE) / t.nn")}
      |      - (CAST(c.nl AS DOUBLE) / t.nn)
      |        * ${ent("CAST(c.pl AS DOUBLE) / c.nl")}
      |      - (CAST(t.nn - c.nl AS DOUBLE) / t.nn)
      |        * ${ent("CAST(t.npos - c.pl AS DOUBLE) / (t.nn - c.nl)")},
      |      6) AS gain,
      |    greatest(c.pl, c.nl - c.pl)
      |      + greatest(t.npos - c.pl, (t.nn - c.nl) - (t.npos - c.pl))
      |      AS correct
      |  FROM cand c, tot t WHERE c.v < t.vmax)
      |SELECT threshold, gain, n_left, n_right, pos_left, pos_right,
      |  round(CAST(correct AS DOUBLE) / nn, 6) AS accuracy,
      |  round(CAST(greatest(npos, nn - npos) AS DOUBLE) / nn, 6) AS baseline
      |FROM sc ORDER BY gain DESC, threshold ASC LIMIT 1""".stripMargin
  }

  // ---------------------------------------------------------------- E40
  /** Gradient-boosted stumps (2 rounds, squared loss, η = 1/2) on the
    * E35 histogram device — the staged ensemble the depth-1 stump is
    * the base learner of. Target y = (returnflag = 'R'), feature =
    * quantity; the model state F(v) lives entirely on the ≤50-bin
    * quantity histogram, so each boosting round is: (1) per-bin
    * residual weight w_v = 10⁴·pos_v − F_v·n_v (exact integers in
    * 1e-4 fixed point), (2) EXACT INTEGER SPLIT SEARCH — the
    * squared-loss gain S_L²/n_L + S_R²/n_R is compared across
    * thresholds after half-up quantization of the exact rational
    * (S_L²·n_R + S_R²·n_L)/(n_L·n_R) to integer units (ties →
    * threshold ASC, engine-deterministic), (3) leaf steps γ = η·S/n
    * as half-up integers, F ← F + γ. No float enters the model: the
    * staged rows publish stage, split, leaves, train accuracy (0.5
    * cut on fixed-point F — an exact integer compare) and MSE in
    * 1e-8 fixed point, all via the E26 device; the spec asserts the
    * MSE column is monotone non-increasing across stages (the descent
    * audit). Scale: one corpus scan → 50-bin histogram; every round
    * is windowed prefix sums over those bins (PlanSpec-exempt class);
    * residual reweighting never touches corpus rows again.
    */
  def qGbtStumps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // sign-safe half-up a/b in SQL-expr form (b > 0)
    def hu(a: String, b: String): String =
      s"""CASE WHEN ($a) >= 0
         | THEN (2 * ($a) + ($b)) DIV (2 * ($b))
         | ELSE -((2 * (-($a)) + ($b)) DIV (2 * ($b))) END"""
        .stripMargin.replace("\n", " ")
    val hist = Tables.lineitem(spark, dir)
      .select(col("l_quantity").cast("long").as("v"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      .cache()
    val tot = hist.agg(sum(col("n")).cast("long").as("nn"),
      sum(col("pos")).cast("long").as("npos"), max(col("v")).as("vmax"))
    // F0 = global mean in 1e-4 fixed point (same for every bin)
    val f0 = hist.crossJoin(broadcast(tot))
      .withColumn("f", expr(hu("10000 * npos", "nn")))
    val wOrd = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // one boosting round over the per-bin state (v, n, pos, nn, vmax,
    // f): returns the stepped state and the 1-row split descriptor
    // (threshold + both leaf steps), both pure DataFrames — no
    // driver-side collect anywhere
    def boost(state: DataFrame): (DataFrame, DataFrame) = {
      val wv = state
        .withColumn("wv", lit(10000L) * col("pos") - col("f") * col("n"))
      val pre = wv
        .withColumn("sl", sum(col("wv")).over(wOrd).cast("decimal(38,0)"))
        .withColumn("nl", sum(col("n")).over(wOrd).cast("long"))
      val stot = wv.agg(sum(col("wv")).cast("decimal(38,0)").as("st"))
      val split = pre.crossJoin(broadcast(stot))
        .filter(col("v") < col("vmax"))
        .withColumn("sr", (col("st") - col("sl")).cast("decimal(38,0)"))
        .withColumn("nr", col("nn") - col("nl"))
        .withColumn("gain_q",
          expr(hu("sl * sl * nr + sr * sr * nl", "nl * nr")))
        .orderBy(col("gain_q").desc, col("v").asc).limit(1)
        // γ = η·S/n with η = 1/2 → halfUp(S, 2n)
        .select(col("v").as("thr"),
          expr(hu("sl", "2 * nl")).as("gl"),
          expr(hu("sr", "2 * nr")).as("gr"))
      // materialize both artifacts (≤50 + 1 rows): round k+1 and the
      // audit row each re-reference them — without this the logical
      // plan doubles per round and optimizer time dominates the query
      // (measured 4.3 s flat across SFs; the NSW-beam lesson)
      val stepped = state.crossJoin(broadcast(split))
        .withColumn("f",
          col("f") + when(col("v") <= col("thr"), col("gl"))
            .otherwise(col("gr")))
        .select(col("v"), col("n"), col("pos"), col("nn"), col("vmax"),
          col("f"))
        .localCheckpoint()
      (stepped, split.localCheckpoint())
    }
    // per-stage audit row; split attaches (threshold, leaves) or nulls
    def stageRow(state: DataFrame, stage: Int, split: DataFrame): DataFrame =
      state
        .withColumn("correct",
          when(col("f") * 2 >= 10000, col("pos"))
            .otherwise(col("n") - col("pos")))
        .withColumn("sse",
          ((lit(10000L) - col("f")) * (lit(10000L) - col("f")) * col("pos") +
            col("f") * col("f") * (col("n") - col("pos"))).cast("decimal(38,0)"))
        .agg(sum(col("correct")).cast("long").as("c"),
          sum(col("sse")).as("sse"), max(col("nn")).as("nn"))
        .crossJoin(broadcast(split))
        .select(lit(stage).as("stage"), col("thr").as("threshold"),
          col("gl").as("gamma_left_e4"), col("gr").as("gamma_right_e4"),
          expr(hu("1000000 * c", "nn")).as("accuracy_ppm"),
          expr(hu("sse", "nn")).as("mse_e8"))
    val st0 = f0.select(col("v"), col("n"), col("pos"), col("nn"),
      col("vmax"), col("f"))
    val noSplit = spark.range(1).select(
      lit(null).cast("long").as("thr"), lit(null).cast("long").as("gl"),
      lit(null).cast("long").as("gr"))
    val (s1, sp1) = boost(st0)
    val (s2, sp2) = boost(s1)
    stageRow(st0, 0, noSplit)
      .union(stageRow(s1, 1, sp1))
      .union(stageRow(s2, 2, sp2))
  }

  // ---------------------------------------------------------------- E41
  /** Split-conformal prediction intervals (α = 0.1) for the per-flag
    * price-on-quantity regression — the distribution-free,
    * finite-sample-guaranteed uncertainty quantification a model
    * audit pipeline wraps around ANY point predictor. Split device:
    * the md5 row hash halves each flag into train/calibration; the
    * train fit is the exact-moment slope/intercept in micro-units
    * (sign-split E26 half-up — no regr_* doubles), calibration
    * residuals |y·10⁶ − a − b·x| are EXACT integers, and the
    * conformal quantile is the ⌈(n_cal+1)(1−α)⌉-th ORDER STATISTIC —
    * not an interpolated percentile, so no float touches the verdict.
    * Scale device: residuals quantize UP to whole dollars (ceiling —
    * conservative, the coverage guarantee survives) and the order
    * statistic reads off a cumulative count over the bounded
    * dollar-bin histogram (the q_auc class; the window runs over
    * bins, never corpus rows). Publishes per flag the fit, the
    * interval half-width q_dollar, and the calibration coverage in
    * ppm — provably ≥ 900,000 by the conformal guarantee
    * (spec-asserted).
    */
  def qConformalInterval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def shu(a: String, b: String): String =
      s"""CASE WHEN ($a) >= 0
         | THEN (2 * ($a) + ($b)) DIV (2 * ($b))
         | ELSE -((2 * (-($a)) + ($b)) DIV (2 * ($b))) END"""
        .stripMargin.replace("\n", " ")
    val rows = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y"),
        (expr("conv(substring(md5(concat_ws('|', cast(l_orderkey as string)," +
          " cast(l_linenumber as string))), 1, 15), 16, 10)")
          .cast("long") % 2).as("half"))
    val fit = rows.filter(col("half") === 0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_train"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
      .withColumn("slope_micro",
        expr(shu("1000000 * (n_train * sxy - sx * sy)",
          "n_train * sxx - sx * sx")))
      .withColumn("icpt_micro",
        expr(shu("1000000 * sy - slope_micro * sx", "n_train")))
      .select(col("l_returnflag"), col("n_train"),
        col("slope_micro"), col("icpt_micro"))
    // calibration residuals, exact, ceiling-quantized to dollars
    val cal = rows.filter(col("half") === 1)
      .join(broadcast(fit), "l_returnflag")
      .withColumn("r_micro",
        abs(col("y") * 1000000L - col("icpt_micro")
          - col("slope_micro") * col("x")))
      .withColumn("rq", expr("(r_micro + 99999999) DIV 100000000"))
    val hist = cal.groupBy(col("l_returnflag"), col("n_train"),
        col("slope_micro"), col("icpt_micro"), col("rq"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("rq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(wCum).cast("long"))
      .withColumn("n_cal",
        sum(col("cnt")).over(Window.partitionBy(col("l_returnflag")))
          .cast("long"))
      // conformal rank k = ceil((n_cal+1) * 0.9)
      .withColumn("k", expr("(9 * (n_cal + 1) + 9) DIV 10"))
    val q = cum.filter(col("cum") >= col("k"))
      .groupBy(col("l_returnflag"), col("n_train"), col("slope_micro"),
        col("icpt_micro"), col("n_cal"), col("k"))
      .agg(min(col("rq")).as("q_dollar"))
    // coverage at the published width, from the same histogram
    q.join(hist.select(col("l_returnflag"), col("rq"), col("cnt")),
        Seq("l_returnflag"))
      .groupBy(col("l_returnflag"), col("n_train"), col("n_cal"),
        col("slope_micro"), col("icpt_micro"), col("q_dollar"))
      .agg(sum(when(col("rq") <= col("q_dollar"), col("cnt"))
        .otherwise(0L)).cast("long").as("n_cov"))
      .select(col("l_returnflag"), col("n_train"), col("n_cal"),
        col("slope_micro"), col("icpt_micro"), col("q_dollar"),
        expr("(2 * 1000000 * n_cov + n_cal) DIV (2 * n_cal)")
          .as("coverage_ppm"))
  }

  val qConformalIntervalSql: String = {
    def shu(a: String, b: String): String =
      s"""CASE WHEN ($a) >= 0
         | THEN CAST((2 * ($a) + ($b)) // (2 * ($b)) AS BIGINT)
         | ELSE -CAST((2 * (-($a)) + ($b)) // (2 * ($b)) AS BIGINT) END"""
        .stripMargin.replace("\n", " ")
    s"""WITH rows0 AS (SELECT l_returnflag,
       |    CAST(l_quantity AS HUGEINT) AS x,
       |    CAST(round(l_extendedprice * 100) AS HUGEINT) AS y,
       |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|'
       |      || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT % 2 AS half
       |  FROM lineitem),
       |fit AS (SELECT l_returnflag, n_train, slope_micro,
       |    ${shu("1000000 * sy - slope_micro * sx", "n_train")}
       |      AS icpt_micro
       |  FROM (SELECT l_returnflag, n_train, sx, sy,
       |      ${shu("1000000 * (n_train * sxy - sx * sy)",
             "n_train * sxx - sx * sx")} AS slope_micro
       |    FROM (SELECT l_returnflag,
       |        CAST(count(*) AS HUGEINT) AS n_train, sum(x) AS sx,
       |        sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
       |      FROM rows0 WHERE half = 0 GROUP BY 1) z) z2),
       |cal AS (SELECT r.l_returnflag, f.n_train, f.slope_micro,
       |    f.icpt_micro,
       |    (abs(r.y * 1000000 - f.icpt_micro - f.slope_micro * r.x)
       |      + 99999999) // 100000000 AS rq
       |  FROM rows0 r JOIN fit f USING (l_returnflag) WHERE r.half = 1),
       |hist AS (SELECT l_returnflag, n_train, slope_micro, icpt_micro,
       |    rq, count(*) AS cnt
       |  FROM cal GROUP BY 1, 2, 3, 4, 5),
       |cum AS (SELECT *,
       |    CAST(sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY rq)
       |      AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY l_returnflag) AS BIGINT)
       |      AS n_cal
       |  FROM hist),
       |q AS (SELECT l_returnflag, n_train, slope_micro, icpt_micro,
       |    n_cal, min(rq) AS q_dollar
       |  FROM (SELECT *, (9 * (n_cal + 1) + 9) // 10 AS k FROM cum) c
       |  WHERE cum >= k
       |  GROUP BY 1, 2, 3, 4, 5)
       |SELECT q.l_returnflag, CAST(q.n_train AS BIGINT) AS n_train,
       |  q.n_cal,
       |  q.slope_micro, q.icpt_micro, CAST(q.q_dollar AS BIGINT)
       |    AS q_dollar,
       |  CAST((2 * 1000000 * sum(CASE WHEN h.rq <= q.q_dollar
       |      THEN h.cnt ELSE 0 END) + q.n_cal) // (2 * q.n_cal)
       |    AS BIGINT) AS coverage_ppm
       |FROM q JOIN hist h USING (l_returnflag)
       |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin
  }

  // ---------------------------------------------------------------- E42
  /** Random-forest-of-stumps (3 bags, majority vote) — the BAGGED
    * ensemble next to E40's boosted one, completing the tree-ensemble
    * pair. Each bag is a deterministic ⅓ subsample (pasting) keyed by
    * the md5-derived row hash of (orderkey, linenumber) — the
    * engine-portable "random" device every sampler here uses — and
    * trains E40's exact-integer stump on its own histogram: per-bag
    * residual weights against the BAG's own base rate, quantized-gain
    * split search (ties → threshold ASC), leaf classes by exact
    * majority. The ensemble predicts the per-row majority of the
    * three stump votes; because every stump is a threshold on the
    * same axis, the vote is a pure integer comparison ladder and the
    * ensemble's train accuracy is one exact integer aggregate over
    * the corpus histogram × 3 broadcast stump rows. Publishes one row
    * per bag (threshold, leaf classes, bag accuracy in ppm) + one
    * ensemble row (bag = -1). No float anywhere. Scale: one corpus
    * scan → (bag × ≤50-bin) histograms; everything downstream is
    * bounded.
    */
  def qRfStumps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def hu(a: String, b: String): String =
      s"(2 * ($a) + ($b)) DIV (2 * ($b))"
    val rows = Tables.lineitem(spark, dir)
      .select(col("l_quantity").cast("long").as("v"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"),
        (expr("conv(substring(md5(concat_ws('|', cast(l_orderkey as string)," +
          " cast(l_linenumber as string))), 1, 15), 16, 10)")
          .cast("long") % 3).as("bag"))
    val hist = rows.groupBy(col("bag"), col("v"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      .cache()
    val tot = hist.groupBy(col("bag"))
      .agg(sum(col("n")).cast("long").as("nn"),
        sum(col("pos")).cast("long").as("npos"), max(col("v")).as("vmax"))
    val wOrd = Window.partitionBy(col("bag")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // per-bag split search: squared-loss gain on residual mass vs the
    // bag base rate (the E40 device, ×nn-scaled so the base rate
    // needs no division: wv = pos·nn − npos·n is exact and Σwv = 0,
    // hence S_R = −S_L and the gain collapses to S_L²·nn/(n_L·n_R))
    val pre = hist.join(broadcast(tot), "bag")
      .withColumn("wv",
        col("pos") * col("nn") - col("npos") * col("n"))
      .withColumn("sl", sum(col("wv")).over(wOrd).cast("decimal(38,0)"))
      .withColumn("nl", sum(col("n")).over(wOrd).cast("long"))
      .withColumn("pl", sum(col("pos")).over(wOrd).cast("long"))
      .filter(col("v") < col("vmax"))
      .withColumn("nr", col("nn") - col("nl"))
      .withColumn("pr", col("npos") - col("pl"))
      .withColumn("gain_q", expr(hu("sl * sl * nn", "nl * nr")))
    val byGain = Window.partitionBy(col("bag"))
      .orderBy(col("gain_q").desc, col("v").asc)
    val stumps = pre.withColumn("rk", row_number().over(byGain))
      .filter(col("rk") === 1)
      // leaf classes by exact majority inside each side
      .select(col("bag"), col("v").as("threshold"),
        (col("pl") * 2 > col("nl")).as("left_pos"),
        (col("pr") * 2 > col("nr")).as("right_pos"))
      .cache()
    // per-bag training accuracy on the bag's own rows
    val bagAcc = hist.join(broadcast(stumps), "bag")
      .withColumn("pred",
        when(col("v") <= col("threshold"), col("left_pos"))
          .otherwise(col("right_pos")))
      .withColumn("correct",
        when(col("pred"), col("pos")).otherwise(col("n") - col("pos")))
      .groupBy(col("bag"), col("threshold"), col("left_pos"), col("right_pos"))
      .agg(sum(col("correct")).cast("long").as("c"),
        sum(col("n")).cast("long").as("nn"))
      .select(col("bag").cast("long").as("bag"), col("threshold"),
        col("left_pos"), col("right_pos"),
        expr(hu("1000000 * c", "nn")).as("accuracy_ppm"))
    // ensemble: full-corpus histogram, per-row majority of 3 votes
    val fullHist = rows.groupBy(col("v"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val votes = fullHist.crossJoin(broadcast(stumps))
      .withColumn("vote",
        when(when(col("v") <= col("threshold"), col("left_pos"))
          .otherwise(col("right_pos")), 1L).otherwise(0L))
      .groupBy(col("v"), col("n"), col("pos"))
      .agg(sum(col("vote")).as("nvotes"))
      .withColumn("pred", col("nvotes") * 2 > 3)
      .withColumn("correct",
        when(col("pred"), col("pos")).otherwise(col("n") - col("pos")))
    val ensemble = votes
      .agg(sum(col("correct")).cast("long").as("c"),
        sum(col("n")).cast("long").as("nn"))
      .select(lit(-1L).as("bag"), lit(null).cast("long").as("threshold"),
        lit(null).cast("boolean").as("left_pos"),
        lit(null).cast("boolean").as("right_pos"),
        expr(hu("1000000 * c", "nn")).as("accuracy_ppm"))
    bagAcc.union(ensemble)
  }

  val qRfStumpsSql: String = {
    def hu(a: String, b: String): String =
      s"CAST((2 * ($a) + ($b)) // (2 * ($b)) AS BIGINT)"
    s"""WITH rows0 AS (SELECT CAST(l_quantity AS BIGINT) AS v,
       |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
       |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|'
       |      || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT % 3 AS bag
       |  FROM lineitem),
       |hist AS (SELECT bag, v, count(*) AS n,
       |    CAST(sum(y) AS BIGINT) AS pos
       |  FROM rows0 GROUP BY 1, 2),
       |tot AS (SELECT bag, CAST(sum(n) AS BIGINT) AS nn,
       |    CAST(sum(pos) AS BIGINT) AS npos, max(v) AS vmax
       |  FROM hist GROUP BY 1),
       |pre AS (SELECT h.bag, h.v, t.nn, t.npos, t.vmax,
       |    CAST(sum(h.pos * t.nn - t.npos * h.n)
       |      OVER (PARTITION BY h.bag ORDER BY h.v) AS HUGEINT) AS sl,
       |    CAST(sum(h.n) OVER (PARTITION BY h.bag ORDER BY h.v)
       |      AS BIGINT) AS nl,
       |    CAST(sum(h.pos) OVER (PARTITION BY h.bag ORDER BY h.v)
       |      AS BIGINT) AS pl
       |  FROM hist h JOIN tot t USING (bag)),
       |cand AS (SELECT bag, v, sl, nl, pl, nn - nl AS nr,
       |    npos - pl AS pr, nn, npos,
       |    ${hu("sl * sl * nn", "nl * (nn - nl)")} AS gain_q
       |  FROM pre WHERE v < vmax),
       |stumps AS (SELECT bag, v AS threshold, pl * 2 > nl AS left_pos,
       |    pr * 2 > nr AS right_pos
       |  FROM (SELECT *, row_number() OVER (PARTITION BY bag
       |      ORDER BY gain_q DESC, v ASC) AS rk FROM cand) z
       |  WHERE rk = 1),
       |bagacc AS (SELECT h.bag, s.threshold, s.left_pos, s.right_pos,
       |    ${hu(
        """1000000 * sum(CASE WHEN (CASE WHEN h.v <= s.threshold
          | THEN s.left_pos ELSE s.right_pos END)
          | THEN h.pos ELSE h.n - h.pos END)""".stripMargin
          .replace("\n", " "),
        "sum(h.n)")} AS accuracy_ppm
       |  FROM hist h JOIN stumps s USING (bag)
       |  GROUP BY h.bag, s.threshold, s.left_pos, s.right_pos),
       |fullh AS (SELECT v, count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
       |  FROM rows0 GROUP BY 1),
       |votes AS (SELECT f.v, f.n, f.pos,
       |    CAST(sum(CASE WHEN (CASE WHEN f.v <= s.threshold
       |      THEN s.left_pos ELSE s.right_pos END) THEN 1 ELSE 0 END)
       |      AS BIGINT) AS nvotes
       |  FROM fullh f CROSS JOIN stumps s
       |  GROUP BY f.v, f.n, f.pos),
       |ens AS (SELECT CAST(-1 AS BIGINT) AS bag,
       |    CAST(NULL AS BIGINT) AS threshold,
       |    CAST(NULL AS BOOLEAN) AS left_pos,
       |    CAST(NULL AS BOOLEAN) AS right_pos,
       |    ${hu(
        """1000000 * sum(CASE WHEN nvotes * 2 > 3
          | THEN pos ELSE n - pos END)""".stripMargin.replace("\n", " "),
        "sum(n)")} AS accuracy_ppm
       |  FROM votes)
       |SELECT CAST(bag AS BIGINT) AS bag, threshold, left_pos, right_pos,
       |  accuracy_ppm
       |FROM bagacc
       |UNION ALL SELECT bag, threshold, left_pos, right_pos, accuracy_ppm
       |FROM ens""".stripMargin
  }

  // ---------------------------------------------------------------- E52
  /** Poisson-bagged random forest with OUT-OF-BAG accuracy (5 stumps)
    * — the proper bootstrap ensemble the E42 pasting forest
    * approximates, plus the estimate bagging uniquely enables: each
    * tree draws a DETERMINISTIC Poisson(1) weight per row (the L5
    * device — two Md5Words digests yield the 5 per-row uniforms, no
    * hex parse), trains the E40/E42 exact-integer stump on its
    * WEIGHTED histogram, and is scored on the rows it never saw
    * (w = 0, the ~36.8% out-of-bag mass); the ensemble OOB accuracy
    * is the textbook leave-out estimate — each row voted on ONLY by
    * trees that excluded it. Everything stays bounded: per-tree
    * weighted histograms are (5 × ≤50 bins); the row-level OOB
    * membership folds into a (bin × 2⁵ oob-pattern) histogram (≤
    * 1,600 cells at ANY corpus size), so the per-row vote is an
    * exact integer aggregate, never a row stream. Majority votes,
    * strict (ties → negative class — deterministic both engines);
    * all accuracies half-up ppm of exact integers. One corpus scan →
    * two bounded histograms; stump rows broadcast.
    */
  def qRfOob(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def hu(a: String, b: String): String =
      s"(2 * ($a) + ($b)) DIV (2 * ($b))"
    def pois(u: String): String =
      s"""CASE WHEN $u < 0.3678794412 THEN 0L WHEN $u < 0.7357588823 THEN 1L
         | WHEN $u < 0.9196986029 THEN 2L WHEN $u < 0.9810118431 THEN 3L
         | WHEN $u < 0.9963401532 THEN 4L WHEN $u < 0.9994058152 THEN 5L
         | WHEN $u < 0.9999167589 THEN 6L ELSE 7L END"""
        .stripMargin.replace("\n", " ")
    val key = "concat_ws('|', cast(l_orderkey as string), " +
      "cast(l_linenumber as string))"
    val mw = graft.functions.GraftExpressions.md5_words _
    // ONE corpus scan: per-row the 5 Poisson weights (two Md5Words
    // digests, words indexed directly -- no HOF lambda, stays in
    // codegen) fold into the (v, oob-pattern) cell plus 5 weighted
    // sums; the <= 1,600-cell frame then carries EVERY downstream
    // aggregate (per-tree weighted histograms, OOB masses, the
    // full-corpus histogram, the pattern-vote table)
    val ws = (1 to 5).map { t =>
      val w = if (t <= 4) s"ws1[${t - 1}]" else "ws2[0]"
      expr(pois(s"($w / 4294967296.0)")).as(s"w$t")
    }
    val cells = Tables.lineitem(spark, dir)
      .select(col("l_quantity").cast("long").as("v"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"),
        mw(expr(s"concat($key, '_rf1')")).as("ws1"),
        mw(expr(s"concat($key, '_rf2')")).as("ws2"))
      .select(col("v") +: col("y") +: ws: _*)
      .withColumn("pat", expr((1 to 5).map(t =>
        s"CASE WHEN w$t = 0L THEN ${1L << (t - 1)}L ELSE 0L END")
        .mkString(" + ")))
      .groupBy(col("v"), col("pat"))
      .agg(count(lit(1)).as("n"),
        (sum(col("y")).as("pos") +:
          (1 to 5).flatMap(t => Seq(
            sum(col(s"w$t")).as(s"nw$t"),
            sum(col(s"w$t") * col("y")).as(s"pw$t")))): _*)
      .cache()
    // per-(tree, v) weighted + OOB histogram off the bounded cells
    val stackExpr = "stack(5, " + (1 to 5).map(t =>
      s"$t, nw$t, pw$t").mkString(", ") + ") AS (tree, nw0, pw0)"
    val whist = cells
      .select(col("v"), col("pat"), col("n"), col("pos"), expr(stackExpr))
      .withColumn("oob",
        expr("(pat DIV CAST(pow(2, tree - 1) AS BIGINT)) % 2 = 1"))
      .groupBy(col("tree"), col("v"))
      .agg(sum(col("nw0")).cast("long").as("nw"),
        sum(col("pw0")).cast("long").as("posw"),
        sum(when(col("oob"), col("n")).otherwise(0L)).cast("long").as("no"),
        sum(when(col("oob"), col("pos")).otherwise(0L)).cast("long")
          .as("poso"))
    val tot = whist.groupBy(col("tree"))
      .agg(sum(col("nw")).cast("long").as("nn"),
        sum(col("posw")).cast("long").as("npos"),
        max(when(col("nw") > 0, col("v"))).as("vmax"))
    val wOrd = Window.partitionBy(col("tree")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = whist.join(broadcast(tot), "tree")
      // decimal-lifted numerator too: posw*nn with weighted counts at
      // extreme corpus sizes (~6e11 rows) wraps LONG before the sum
      .withColumn("wv",
        col("posw").cast("decimal(38,0)") * col("nn") -
          col("npos").cast("decimal(38,0)") * col("nw"))
      .withColumn("sl", sum(col("wv")).over(wOrd).cast("decimal(38,0)"))
      .withColumn("nl", sum(col("nw")).over(wOrd).cast("long"))
      .withColumn("pl", sum(col("posw")).over(wOrd).cast("long"))
      .filter(col("v") < col("vmax") && col("nl") > 0 &&
        col("nn") > col("nl"))
      .withColumn("nr", col("nn") - col("nl"))
      .withColumn("pr", col("npos") - col("pl"))
      // decimal-lifted denominator: nl*nr in raw LONG wraps at extreme
      // corpus sizes (weighted counts), the oracle's HUGEINT doesn't
      .withColumn("gain_q",
        expr(hu("sl * sl * nn", "CAST(nl AS DECIMAL(38,0)) * nr")))
    val byGain = Window.partitionBy(col("tree"))
      .orderBy(col("gain_q").desc, col("v").asc)
    val stumps = pre.withColumn("rk", row_number().over(byGain))
      .filter(col("rk") === 1)
      .select(col("tree"), col("v").as("threshold"),
        (col("pl") * 2 > col("nl")).as("left_pos"),
        (col("pr") * 2 > col("nr")).as("right_pos"))
      .cache()
    // per-tree: weighted in-bag accuracy + accuracy on the w=0 rows
    val perTree = whist.join(broadcast(stumps), "tree")
      .withColumn("pred",
        when(col("v") <= col("threshold"), col("left_pos"))
          .otherwise(col("right_pos")))
      .groupBy(col("tree"), col("threshold"), col("left_pos"),
        col("right_pos"))
      .agg(sum(when(col("pred"), col("posw"))
          .otherwise(col("nw") - col("posw"))).cast("long").as("cw"),
        sum(col("nw")).cast("long").as("nnw"),
        sum(when(col("pred"), col("poso"))
          .otherwise(col("no") - col("poso"))).cast("long").as("co"),
        sum(col("no")).cast("long").as("nno"))
      .select(col("tree").cast("long").as("tree"), col("threshold"),
        col("left_pos"), col("right_pos"),
        col("nno").as("oob_n"),
        expr(hu("1000000 * cw", "nnw")).as("train_acc_ppm"),
        expr(hu("1000000 * co", "nno")).as("oob_acc_ppm"))
    // ensemble OOB: each (v, pat>0) cell voted on by its OOB trees only
    val ensOobVotes = cells.filter(col("pat") > 0)
      .select(col("v"), col("pat"), col("n"), col("pos"))
      .crossJoin(broadcast(stumps))
      .filter(expr("(pat DIV CAST(pow(2, tree - 1) AS BIGINT)) % 2 = 1"))
      .withColumn("vote",
        when(when(col("v") <= col("threshold"), col("left_pos"))
          .otherwise(col("right_pos")), 1L).otherwise(0L))
      .groupBy(col("v"), col("pat"), col("n"), col("pos"))
      .agg(sum(col("vote")).as("nvotes"), count(lit(1)).as("ntrees"))
      .withColumn("pred", col("nvotes") * 2 > col("ntrees"))
      .withColumn("correct",
        when(col("pred"), col("pos")).otherwise(col("n") - col("pos")))
    val ensOob = ensOobVotes
      .agg(sum(col("correct")).cast("long").as("co"),
        sum(col("n")).cast("long").as("nno"))
    // full-corpus 5-vote training accuracy (the E42 ensemble shape)
    val fullHist = cells.groupBy(col("v"))
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("pos")).cast("long").as("pos"))
    val ensTrain = fullHist.crossJoin(broadcast(stumps))
      .withColumn("vote",
        when(when(col("v") <= col("threshold"), col("left_pos"))
          .otherwise(col("right_pos")), 1L).otherwise(0L))
      .groupBy(col("v"), col("n"), col("pos"))
      .agg(sum(col("vote")).as("nvotes"))
      .withColumn("correct",
        when(col("nvotes") * 2 > 5, col("pos"))
          .otherwise(col("n") - col("pos")))
      .agg(sum(col("correct")).cast("long").as("cw"),
        sum(col("n")).cast("long").as("nnw"))
    val ensemble = ensTrain.crossJoin(broadcast(ensOob))
      .select(lit(-1L).as("tree"), lit(null).cast("long").as("threshold"),
        lit(null).cast("boolean").as("left_pos"),
        lit(null).cast("boolean").as("right_pos"),
        col("nno").as("oob_n"),
        expr(hu("1000000 * cw", "nnw")).as("train_acc_ppm"),
        expr(hu("1000000 * co", "nno")).as("oob_acc_ppm"))
    val out = perTree.unionAll(ensemble).cache()
    out.count()
    cells.unpersist(); stumps.unpersist()
    out
  }

  val qRfOobSql: String = {
    def hu(a: String, b: String): String =
      s"CAST((2 * ($a) + ($b)) // (2 * ($b)) AS BIGINT)"
    def pois(u: String): String =
      s"""CASE WHEN $u < 0.3678794412 THEN 0 WHEN $u < 0.7357588823 THEN 1
         | WHEN $u < 0.9196986029 THEN 2 WHEN $u < 0.9810118431 THEN 3
         | WHEN $u < 0.9963401532 THEN 4 WHEN $u < 0.9994058152 THEN 5
         | WHEN $u < 0.9999167589 THEN 6 ELSE 7 END"""
        .stripMargin.replace("\n", " ")
    def word(d: String, i: Int): String =
      s"('0x' || substr($d, ${1 + 8 * (i % 4)}, 8))::BIGINT / 4294967296.0"
    s"""WITH r0 AS (SELECT CAST(l_quantity AS BIGINT) AS v,
       |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
       |    md5(CAST(l_orderkey AS VARCHAR) || '|'
       |      || CAST(l_linenumber AS VARCHAR) || '_rf1') AS d1,
       |    md5(CAST(l_orderkey AS VARCHAR) || '|'
       |      || CAST(l_linenumber AS VARCHAR) || '_rf2') AS d2
       |  FROM lineitem),
       |uu AS (SELECT v, y,
       |    [${word("d1", 0)}, ${word("d1", 1)}, ${word("d1", 2)},
       |     ${word("d1", 3)}, ${word("d2", 0)}] AS us
       |  FROM r0),
       |tw AS (SELECT v, y, t, ${pois("us[t]")} AS w
       |  FROM uu, (SELECT unnest(generate_series(1, 5)) AS t) ts),
       |whist AS (SELECT t AS tree, v, CAST(sum(w) AS BIGINT) AS nw,
       |    CAST(sum(w * y) AS BIGINT) AS posw,
       |    CAST(sum(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT) AS no,
       |    CAST(sum(CASE WHEN w = 0 THEN y ELSE 0 END) AS BIGINT) AS poso
       |  FROM tw GROUP BY 1, 2),
       |tot AS (SELECT tree, CAST(sum(nw) AS BIGINT) AS nn,
       |    CAST(sum(posw) AS BIGINT) AS npos,
       |    max(CASE WHEN nw > 0 THEN v END) AS vmax
       |  FROM whist GROUP BY 1),
       |pre AS (SELECT h.tree, h.v, t.nn, t.npos, t.vmax,
       |    CAST(sum(CAST(h.posw AS HUGEINT) * t.nn
       |        - CAST(t.npos AS HUGEINT) * h.nw)
       |      OVER (PARTITION BY h.tree ORDER BY h.v) AS HUGEINT) AS sl,
       |    CAST(sum(h.nw) OVER (PARTITION BY h.tree ORDER BY h.v)
       |      AS BIGINT) AS nl,
       |    CAST(sum(h.posw) OVER (PARTITION BY h.tree ORDER BY h.v)
       |      AS BIGINT) AS pl
       |  FROM whist h JOIN tot t USING (tree)),
       |cand AS (SELECT tree, v, sl, nl, pl, nn - nl AS nr,
       |    npos - pl AS pr, nn, npos,
       |    ${hu("sl * sl * nn", "CAST(nl AS HUGEINT) * (nn - nl)")}
       |      AS gain_q
       |  FROM pre WHERE v < vmax AND nl > 0 AND nn > nl),
       |stumps AS (SELECT tree, v AS threshold, pl * 2 > nl AS left_pos,
       |    pr * 2 > nr AS right_pos
       |  FROM (SELECT *, row_number() OVER (PARTITION BY tree
       |      ORDER BY gain_q DESC, v ASC) AS rk FROM cand) z
       |  WHERE rk = 1),
       |pertree AS (SELECT h.tree, s.threshold, s.left_pos, s.right_pos,
       |    CAST(sum(h.no) AS BIGINT) AS oob_n,
       |    ${hu(
        """1000000 * sum(CASE WHEN (CASE WHEN h.v <= s.threshold
          | THEN s.left_pos ELSE s.right_pos END)
          | THEN h.posw ELSE h.nw - h.posw END)""".stripMargin
          .replace("\n", " "), "sum(h.nw)")} AS train_acc_ppm,
       |    ${hu(
        """1000000 * sum(CASE WHEN (CASE WHEN h.v <= s.threshold
          | THEN s.left_pos ELSE s.right_pos END)
          | THEN h.poso ELSE h.no - h.poso END)""".stripMargin
          .replace("\n", " "), "sum(h.no)")} AS oob_acc_ppm
       |  FROM whist h JOIN stumps s USING (tree)
       |  GROUP BY h.tree, s.threshold, s.left_pos, s.right_pos),
       |ph AS (SELECT v, pat, count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
       |  FROM (SELECT v, y,
       |      (CASE WHEN us[1] < 0.3678794412 THEN 1 ELSE 0 END
       |       + CASE WHEN us[2] < 0.3678794412 THEN 2 ELSE 0 END
       |       + CASE WHEN us[3] < 0.3678794412 THEN 4 ELSE 0 END
       |       + CASE WHEN us[4] < 0.3678794412 THEN 8 ELSE 0 END
       |       + CASE WHEN us[5] < 0.3678794412 THEN 16 ELSE 0 END)
       |        AS pat
       |    FROM uu) q
       |  WHERE pat > 0 GROUP BY 1, 2),
       |votes AS (SELECT p.v, p.pat, p.n, p.pos,
       |    CAST(sum(CASE WHEN (CASE WHEN p.v <= s.threshold
       |      THEN s.left_pos ELSE s.right_pos END) THEN 1 ELSE 0 END)
       |      AS BIGINT) AS nvotes,
       |    count(*) AS ntrees
       |  FROM ph p JOIN stumps s
       |    ON (p.pat // CAST(pow(2, s.tree - 1) AS BIGINT)) % 2 = 1
       |  GROUP BY 1, 2, 3, 4),
       |ensoob AS (SELECT CAST(sum(CASE WHEN nvotes * 2 > ntrees
       |      THEN pos ELSE n - pos END) AS BIGINT) AS co,
       |    CAST(sum(n) AS BIGINT) AS nno
       |  FROM votes),
       |fullh AS (SELECT v, count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
       |  FROM r0 GROUP BY 1),
       |votest AS (SELECT f.v, f.n, f.pos,
       |    CAST(sum(CASE WHEN (CASE WHEN f.v <= s.threshold
       |      THEN s.left_pos ELSE s.right_pos END) THEN 1 ELSE 0 END)
       |      AS BIGINT) AS nvotes
       |  FROM fullh f CROSS JOIN stumps s
       |  GROUP BY f.v, f.n, f.pos),
       |enstrain AS (SELECT
       |    CAST(sum(CASE WHEN nvotes * 2 > 5 THEN pos ELSE n - pos END)
       |      AS BIGINT) AS cw,
       |    CAST(sum(n) AS BIGINT) AS nnw
       |  FROM votest)
       |SELECT CAST(tree AS BIGINT) AS tree, threshold, left_pos,
       |  right_pos, oob_n, train_acc_ppm, oob_acc_ppm
       |FROM pertree
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(NULL AS BIGINT),
       |  CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN), e.nno,
       |  ${hu("1000000 * t.cw", "t.nnw")}, ${hu("1000000 * e.co", "e.nno")}
       |FROM ensoob e, enstrain t""".stripMargin
  }

  val qGbtStumpsSql: String = {
    def hu(a: String, b: String): String =
      s"""CASE WHEN ($a) >= 0
         | THEN CAST((2 * ($a) + ($b)) // (2 * ($b)) AS BIGINT)
         | ELSE -CAST((2 * (-($a)) + ($b)) // (2 * ($b)) AS BIGINT) END"""
        .stripMargin.replace("\n", " ")
    // one boosting round in SQL: prefix sums over the histogram,
    // quantized-gain argmax, leaf steps, stepped state
    def round(stateCte: String, k: Int): String =
      s"""w$k AS (SELECT *, 10000 * pos - f * n AS wv FROM $stateCte),
         |p$k AS (SELECT *, CAST(sum(wv) OVER (ORDER BY v) AS HUGEINT) AS sl,
         |    CAST(sum(n) OVER (ORDER BY v) AS BIGINT) AS nl FROM w$k),
         |sp$k AS (SELECT v AS thr, ${hu("sl", "2 * nl")} AS gl,
         |    ${hu("sr", "2 * nr")} AS gr
         |  FROM (SELECT p$k.v, p$k.sl, p$k.nl,
         |      (SELECT CAST(sum(wv) AS HUGEINT) FROM w$k) - p$k.sl AS sr,
         |      p$k.nn - p$k.nl AS nr
         |    FROM p$k WHERE p$k.v < p$k.vmax) x
         |  ORDER BY ${hu("sl * sl * nr + sr * sr * nl", "nl * nr")} DESC,
         |    v ASC LIMIT 1),
         |s$k AS (SELECT v, n, pos, nn, vmax,
         |    f + CASE WHEN v <= sp$k.thr THEN sp$k.gl ELSE sp$k.gr END AS f
         |  FROM $stateCte, sp$k)""".stripMargin
    def audit(stateCte: String, stage: Int, spCte: Option[String]): String = {
      val (thr, gl, gr) = spCte match {
        case Some(sp) => (s"(SELECT thr FROM $sp)", s"(SELECT gl FROM $sp)",
          s"(SELECT gr FROM $sp)")
        case None => ("CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)",
          "CAST(NULL AS BIGINT)")
      }
      s"""SELECT $stage AS stage, $thr AS threshold,
         |  $gl AS gamma_left_e4, $gr AS gamma_right_e4,
         |  ${hu("1000000 * c", "nn")} AS accuracy_ppm,
         |  ${hu("sse", "nn")} AS mse_e8
         |FROM (SELECT
         |    CAST(sum(CASE WHEN f * 2 >= 10000 THEN pos ELSE n - pos END)
         |      AS BIGINT) AS c,
         |    CAST(sum(CAST(10000 - f AS HUGEINT) * (10000 - f) * pos
         |      + CAST(f AS HUGEINT) * f * (n - pos)) AS HUGEINT) AS sse,
         |    max(nn) AS nn
         |  FROM $stateCte) z""".stripMargin
    }
    s"""WITH hist AS (SELECT CAST(l_quantity AS BIGINT) AS v, count(*) AS n,
       |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS pos
       |  FROM lineitem GROUP BY 1),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
       |    CAST(sum(pos) AS BIGINT) AS npos, max(v) AS vmax FROM hist),
       |f0 AS (SELECT h.v, h.n, h.pos, t.nn, t.vmax,
       |    ${hu("10000 * t.npos", "t.nn")} AS f
       |  FROM hist h, tot t),
       |${round("f0", 1)},
       |${round("s1", 2)}
       |${audit("f0", 0, None)}
       |UNION ALL ${audit("s1", 1, Some("sp1"))}
       |UNION ALL ${audit("s2", 2, Some("sp2"))}""".stripMargin
  }

  // ---------------------------------------------------------------- E36
  /** Variance inflation factors for the three lineitem regressors
    * (quantity, discount, tax) — the collinearity pre-flight a
    * feature pipeline runs before trusting ANY multivariate fit's
    * coefficients (E22's single-feature slopes are immune; the moment
    * two features enter one model, a VIF > 5 means their coefficients
    * trade off freely and per-feature attribution is noise). With
    * two other regressors the auxiliary R²_j has the closed
    * correlation form R²_j = (r_ja² + r_jb² − 2·r_ja·r_jb·r_ab) /
    * (1 − r_ab²), so ONE corpus pass computes the three pairwise
    * correlations (plus each feature's correlation with the price
    * target for context), every r is 6-dp-rounded BEFORE the algebra
    * (the identical-IEEE-inputs device), and the 3-row verdict frame
    * is pure scalar arithmetic on a broadcast row. |r_ab| = 1
    * degenerates to NULL VIF, never a divide error.
    */
  def qVif(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.lineitem(spark, dir).agg(
      round(corr(col("l_quantity"), col("l_discount")), 6).as("r_qd"),
      round(corr(col("l_quantity"), col("l_tax")), 6).as("r_qt"),
      round(corr(col("l_discount"), col("l_tax")), 6).as("r_dt"),
      round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("y_q"),
      round(corr(col("l_discount"), col("l_extendedprice")), 6).as("y_d"),
      round(corr(col("l_tax"), col("l_extendedprice")), 6).as("y_t"))
    def r2(ra: String, rb: String, rab: String) =
      s"""(case when abs($rab) >= 1.0 then cast(null as double)
         |  else ($ra * $ra + $rb * $rb - 2 * $ra * $rb * $rab)
         |       / (1.0 - $rab * $rab) end)""".stripMargin
    def row(f: String, ry: String, ra: String, rb: String, rab: String) =
      s"""named_struct('feature', '$f', 'r_target', $ry,
         |  'r2_others', round(${r2(ra, rb, rab)}, 6),
         |  'vif', case when ${r2(ra, rb, rab)} >= 1.0 then cast(null as double)
         |    else round(1.0 / (1.0 - round(${r2(ra, rb, rab)}, 6)), 4) end)""".stripMargin
    c.select(explode(expr(s"""array(
        |${row("l_quantity", "y_q", "r_qd", "r_qt", "r_dt")},
        |${row("l_discount", "y_d", "r_qd", "r_dt", "r_qt")},
        |${row("l_tax", "y_t", "r_qt", "r_dt", "r_qd")})""".stripMargin)).as("s"))
      .select(col("s.feature").as("feature"), col("s.r_target").as("r_target"),
        col("s.r2_others").as("r2_others"), col("s.vif").as("vif"),
        coalesce(col("s.vif") > 5.0, lit(false)).as("collinear"))
  }

  val qVifSql: String = {
    def r2(ra: String, rb: String, rab: String) =
      s"""(CASE WHEN abs($rab) >= 1.0 THEN CAST(NULL AS DOUBLE)
         |  ELSE ($ra * $ra + $rb * $rb - 2 * $ra * $rb * $rab)
         |       / (1.0 - $rab * $rab) END)""".stripMargin
    def row(f: String, ry: String, ra: String, rb: String, rab: String) =
      s"""SELECT '$f' AS feature, $ry AS r_target,
         |  round(${r2(ra, rb, rab)}, 6) AS r2_others,
         |  CASE WHEN ${r2(ra, rb, rab)} >= 1.0 THEN CAST(NULL AS DOUBLE)
         |    ELSE round(1.0 / (1.0 - round(${r2(ra, rb, rab)}, 6)), 4)
         |  END AS vif
         |FROM c""".stripMargin
    s"""WITH c AS (SELECT
      |    round(corr(l_quantity, l_discount), 6) AS r_qd,
      |    round(corr(l_quantity, l_tax), 6) AS r_qt,
      |    round(corr(l_discount, l_tax), 6) AS r_dt,
      |    round(corr(l_quantity, l_extendedprice), 6) AS y_q,
      |    round(corr(l_discount, l_extendedprice), 6) AS y_d,
      |    round(corr(l_tax, l_extendedprice), 6) AS y_t
      |  FROM lineitem)
      |SELECT feature, r_target, r2_others, vif,
      |  coalesce(vif > 5.0, false) AS collinear
      |FROM (${row("l_quantity", "y_q", "r_qd", "r_qt", "r_dt")}
      |  UNION ALL ${row("l_discount", "y_d", "r_qd", "r_dt", "r_qt")}
      |  UNION ALL ${row("l_tax", "y_t", "r_qt", "r_dt", "r_qd")})""".stripMargin
  }

  // ---------------------------------------------------------------- E38
  /** Multivariate OLS — the 3-regressor closed-form fit E36's VIF
    * pre-flight exists to protect: extended price (cents) on
    * quantity, discount (pp) and tax (pp) via the 3×3 normal
    * equations in CENTERED form, solved by Cramer's rule. The whole
    * solve is EXACT-INTEGER end-to-end at any corpus size (the
    * q_bollinger/q_stl lesson: no unordered double sum, no
    * round(double, n) in a hashed cell):
    *   1. ONE corpus pass accumulates the 15 raw moments (Σx_i,
    *      Σx_i·x_j, Σx_i·y, Σy, Σy², n) as DECIMAL(38,0)/HUGEINT —
    *      map-side combine, a single scalar reduce; the cheapest
    *      multivariate fit that exists at 100 TB.
    *   2. Centered moments S_ij = n·Σx_ix_j − Σx_iΣx_j (exact) are
    *      QUANTIZED to covariance units: m_ij = halfUp(S_ij·100/n²)
    *      (sign-split E26 device). Because S/n² is the sample
    *      covariance, m is BOUNDED BY THE DATA RANGES regardless of
    *      n — the 3×3 determinants can never overflow DECIMAL(38,0)
    *      at any scale factor (dets over raw S would pass 10³⁸ near
    *      sf0.1). The published model is the quantized-moment fit,
    *      deterministic in both engines; the spec pins it within
    *      1e-3 relative of the unquantized solve.
    *   3. Cramer determinants det, det_i are exact integer algebra;
    *      β_i = det_i/det is ONE double division of exact integers
    *      < 2⁶³ (single-limb casts, correctly rounded in both
    *      engines); intercept/R²/adj-R² publish as half-up integers
    *      in micro-units (µcents / ppm) — R² via the exact rational
    *      Σdet_i·m_iy / (det·m_yy), adj-R² by two-level
    *      quantization so no operand outgrows DECIMAL(38,0).
    */
  def qOlsMulti(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(
      col("l_quantity").cast("long").as("x1"),
      round(col("l_discount") * 100).cast("long").as("x2"),
      round(col("l_tax") * 100).cast("long").as("x3"),
      round(col("l_extendedprice") * 100).cast("long").as("y"))
    val d38 = "decimal(38,0)"
    def s(c: org.apache.spark.sql.Column) = sum(c.cast(d38))
    val mo = li.agg(
      count(lit(1)).cast(d38).as("n"),
      s(col("x1")).as("s1"), s(col("x2")).as("s2"), s(col("x3")).as("s3"),
      s(col("y")).as("sy"),
      s(col("x1") * col("x1")).as("r11"), s(col("x1") * col("x2")).as("r12"),
      s(col("x1") * col("x3")).as("r13"), s(col("x2") * col("x2")).as("r22"),
      s(col("x2") * col("x3")).as("r23"), s(col("x3") * col("x3")).as("r33"),
      s(col("x1") * col("y")).as("r1y"), s(col("x2") * col("y")).as("r2y"),
      s(col("x3") * col("y")).as("r3y"), s(col("y") * col("y")).as("ryy"))
    // sign-split half-up integer division (positive-operand DIV only,
    // so Spark's trunc and DuckDB's // can never disagree)
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
      .withColumn("m13", m("r13", "s1", "s3"))
      .withColumn("m22", m("r22", "s2", "s2"))
      .withColumn("m23", m("r23", "s2", "s3"))
      .withColumn("m33", m("r33", "s3", "s3"))
      .withColumn("m1y", m("r1y", "s1", "sy"))
      .withColumn("m2y", m("r2y", "s2", "sy"))
      .withColumn("m3y", m("r3y", "s3", "sy"))
      .withColumn("myy", m("ryy", "sy", "sy"))
      // Cramer over the symmetric quantized moment matrix: exact longs
      .withColumn("det",
        expr("""m11 * (m22 * m33 - m23 * m23)
               | - m12 * (m12 * m33 - m23 * m13)
               | + m13 * (m12 * m23 - m22 * m13)""".stripMargin))
      .withColumn("det1",
        expr("""m1y * (m22 * m33 - m23 * m23)
               | - m12 * (m2y * m33 - m23 * m3y)
               | + m13 * (m2y * m23 - m22 * m3y)""".stripMargin))
      .withColumn("det2",
        expr("""m11 * (m2y * m33 - m3y * m23)
               | - m1y * (m12 * m33 - m23 * m13)
               | + m13 * (m12 * m3y - m2y * m13)""".stripMargin))
      .withColumn("det3",
        expr("""m11 * (m22 * m3y - m23 * m2y)
               | - m12 * (m12 * m3y - m2y * m13)
               | + m1y * (m12 * m23 - m22 * m13)""".stripMargin))
      // SSR/D = R² as an exact integer ratio (both DECIMAL(38,0))
      .withColumn("ssr", expr(
        """cast(det1 as decimal(38,0)) * m1y
          | + cast(det2 as decimal(38,0)) * m2y
          | + cast(det3 as decimal(38,0)) * m3y""".stripMargin))
      .withColumn("dd", expr("cast(det as decimal(38,0)) * myy"))
      .withColumn("one_minus_r2_ppm", expr(hu("1000000 * (dd - ssr)", "dd")))
      .withColumn("icpt_micro", expr(hu(
        """1000000 * (sy * cast(det as decimal(38,0))
          | - cast(det1 as decimal(38,0)) * s1
          | - cast(det2 as decimal(38,0)) * s2
          | - cast(det3 as decimal(38,0)) * s3)""".stripMargin.replace("\n", " "),
        "n * cast(det as decimal(38,0))")))
    // sign-split casts (the q_stl device): DuckDB's negative-HUGEINT→
    // DOUBLE conversion mis-rounds above 2^53; cast the magnitude,
    // negate the double. det > 0 (positive-definite moment matrix).
    def sd(c: String) = expr(
      s"CASE WHEN $c >= 0 THEN CAST($c AS DOUBLE)" +
        s" ELSE -CAST(-($c) AS DOUBLE) END")
    q.select(
      col("n").cast("long").as("n"),
      (sd("det1") / col("det").cast("double")).as("beta_qty"),
      (sd("det2") / col("det").cast("double")).as("beta_disc"),
      (sd("det3") / col("det").cast("double")).as("beta_tax"),
      col("icpt_micro"),
      (lit(1000000L) - col("one_minus_r2_ppm")).as("r2_ppm"),
      (lit(1000000L) - expr(hu("(n - 1) * one_minus_r2_ppm", "n - 4")))
        .as("adj_r2_ppm"))
  }

  val qOlsMultiSql: String = {
    def hu(a: String, b: String): String =
      s"""CASE WHEN ($a) >= 0
         | THEN CAST((2 * ($a) + ($b)) // (2 * ($b)) AS BIGINT)
         | ELSE -CAST((2 * (-($a)) + ($b)) // (2 * ($b)) AS BIGINT) END"""
        .stripMargin.replace("\n", " ")
    def m(raw: String, a: String, b: String) =
      hu(s"100 * (n * $raw - $a * $b)", "n * n")
    s"""WITH li AS (SELECT CAST(l_quantity AS HUGEINT) AS x1,
       |    CAST(round(l_discount * 100) AS HUGEINT) AS x2,
       |    CAST(round(l_tax * 100) AS HUGEINT) AS x3,
       |    CAST(round(l_extendedprice * 100) AS HUGEINT) AS y
       |  FROM lineitem),
       |mo AS (SELECT CAST(count(*) AS HUGEINT) AS n,
       |    sum(x1) AS s1, sum(x2) AS s2, sum(x3) AS s3, sum(y) AS sy,
       |    sum(x1 * x1) AS r11, sum(x1 * x2) AS r12, sum(x1 * x3) AS r13,
       |    sum(x2 * x2) AS r22, sum(x2 * x3) AS r23, sum(x3 * x3) AS r33,
       |    sum(x1 * y) AS r1y, sum(x2 * y) AS r2y, sum(x3 * y) AS r3y,
       |    sum(y * y) AS ryy
       |  FROM li),
       |q AS (SELECT n, s1, s2, s3, sy,
       |    ${m("r11", "s1", "s1")} AS m11, ${m("r12", "s1", "s2")} AS m12,
       |    ${m("r13", "s1", "s3")} AS m13, ${m("r22", "s2", "s2")} AS m22,
       |    ${m("r23", "s2", "s3")} AS m23, ${m("r33", "s3", "s3")} AS m33,
       |    ${m("r1y", "s1", "sy")} AS m1y, ${m("r2y", "s2", "sy")} AS m2y,
       |    ${m("r3y", "s3", "sy")} AS m3y, ${m("ryy", "sy", "sy")} AS myy
       |  FROM mo),
       |dets AS (SELECT *,
       |    m11 * (m22 * m33 - m23 * m23) - m12 * (m12 * m33 - m23 * m13)
       |      + m13 * (m12 * m23 - m22 * m13) AS det,
       |    m1y * (m22 * m33 - m23 * m23) - m12 * (m2y * m33 - m23 * m3y)
       |      + m13 * (m2y * m23 - m22 * m3y) AS det1,
       |    m11 * (m2y * m33 - m3y * m23) - m1y * (m12 * m33 - m23 * m13)
       |      + m13 * (m12 * m3y - m2y * m13) AS det2,
       |    m11 * (m22 * m3y - m23 * m2y) - m12 * (m12 * m3y - m2y * m13)
       |      + m1y * (m12 * m23 - m22 * m13) AS det3
       |  FROM q),
       |r AS (SELECT *,
       |    CAST(det1 AS HUGEINT) * m1y + CAST(det2 AS HUGEINT) * m2y
       |      + CAST(det3 AS HUGEINT) * m3y AS ssr,
       |    CAST(det AS HUGEINT) * myy AS dd
       |  FROM dets),
       |f AS (SELECT *,
       |    ${hu("1000000 * (dd - ssr)", "dd")} AS one_minus_r2_ppm
       |  FROM r)
       |SELECT CAST(n AS BIGINT) AS n,
       |  (CASE WHEN det1 >= 0 THEN CAST(det1 AS DOUBLE)
       |    ELSE -CAST(-(det1) AS DOUBLE) END) / CAST(det AS DOUBLE)
       |    AS beta_qty,
       |  (CASE WHEN det2 >= 0 THEN CAST(det2 AS DOUBLE)
       |    ELSE -CAST(-(det2) AS DOUBLE) END) / CAST(det AS DOUBLE)
       |    AS beta_disc,
       |  (CASE WHEN det3 >= 0 THEN CAST(det3 AS DOUBLE)
       |    ELSE -CAST(-(det3) AS DOUBLE) END) / CAST(det AS DOUBLE)
       |    AS beta_tax,
       |  ${hu(
        "1000000 * (sy * CAST(det AS HUGEINT) - CAST(det1 AS HUGEINT) * s1"
          + " - CAST(det2 AS HUGEINT) * s2 - CAST(det3 AS HUGEINT) * s3)",
        "n * CAST(det AS HUGEINT)")} AS icpt_micro,
       |  1000000 - one_minus_r2_ppm AS r2_ppm,
       |  1000000 - ${hu("(n - 1) * one_minus_r2_ppm", "n - 4")} AS adj_r2_ppm
       |FROM f""".stripMargin
  }

  // ---------------------------------------------------------------- E43
  /** Bradley–Terry pairwise-strength model (1952) — the estimator
    * under every preference-based ranking (reward models, LLM
    * arena Elo, A/B taste tests): each customer who bought BOTH
    * brands casts one comparison (winner = larger total quantity;
    * ties abstain), and brand strength π solves the BT fixed point
    * π_i = W_i / Σ_j n_ij/(π_i+π_j), here unrolled to TWO iterations
    * from π⁰ = 1 (the same unrolled-fixed-point contract as E39's
    * ALS). ENGINE-EXACT throughout: strengths live in µ-units, every
    * iteration is integer pair sums (order-free) + the sign-free
    * half-up division — iteration 1 collapses algebraically to
    * p¹ = halfUp(2·W·10⁶, N); iteration 2 quantizes each pair term
    * t_ij = halfUp(n_ij·10¹², p¹_i+p¹_j) before the per-brand integer
    * sum, then p² = halfUp(W·10¹², d). All products ride
    * DECIMAL(38,0)/HUGEINT (win counts are corpus-sized). Scale
    * shape: one (customer, brand) aggregate shuffle; the pair
    * explosion is per-customer ≤ brands² = bounded; everything after
    * lives on ≤ brands²/2 pair rows. Publishes per brand:
    * comparisons, wins, win-rate ppm, both strength generations, and
    * the final rank (p² DESC, brand ASC).
    */
  def qBradleyTerry(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    // cb is consumed by BOTH sides of the per-customer self-join and
    // pairs by three downstream frames — cache them or the 3-way
    // corpus join replays once per consumer (measured: 14 exchanges,
    // 1.45M shuffled rows uncached vs ONE corpus aggregate cached).
    // cb is (customer × bought-brands)-sized, pairs ≤ brands²/2 rows.
    val cb = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("o_custkey").as("cust"), col("p_brand").as("brand"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"))
      .cache()
    val a = cb.select(col("cust"), col("brand").as("bi"), col("qty").as("qi"))
    val b = cb.select(col("cust"), col("brand").as("bj"), col("qty").as("qj"))
    val pairs = a.join(b, Seq("cust")).filter(col("bi") < col("bj"))
      .filter(col("qi") =!= col("qj")) // ties abstain
      .groupBy(col("bi"), col("bj"))
      .agg(count(lit(1)).as("n_ij"),
        sum(when(col("qi") > col("qj"), 1L).otherwise(0L)).as("w_i"))
      .cache()
    val perBrand = pairs.select(col("bi").as("brand"), col("n_ij"),
        col("w_i").as("w"))
      .union(pairs.select(col("bj").as("brand"), col("n_ij"),
        (col("n_ij") - col("w_i")).as("w")))
      .groupBy(col("brand"))
      .agg(sum(col("n_ij").cast(d38)).as("n_comp"),
        sum(col("w").cast(d38)).as("wins"))
    def hu(aE: String, bE: String): String =
      s"(2 * ($aE) + ($bE)) DIV (2 * ($bE))" // operands provably >= 0
    val p1 = perBrand.withColumn("p1_micro",
      expr(hu("2 * wins * 1000000", "n_comp")))
    // iteration 2: per-pair quantized terms against BOTH endpoints' p1
    val p1i = p1.select(col("brand").as("bi"), col("p1_micro").as("p1_i"))
    val p1j = p1.select(col("brand").as("bj"), col("p1_micro").as("p1_j"))
    val terms = pairs.join(p1i, "bi").join(p1j, "bj")
      .withColumn("t", expr(hu(
        s"cast(n_ij as $d38) * 1000000000000", "cast(p1_i + p1_j as decimal(38,0))")))
    val d = terms.select(col("bi").as("brand"), col("t"))
      .union(terms.select(col("bj").as("brand"), col("t")))
      .groupBy(col("brand")).agg(sum(col("t")).as("den"))
    val scored = p1.join(d, "brand")
      .withColumn("p2_micro", expr(hu("wins * 1000000000000", "den")))
      .withColumn("win_rate_ppm", expr(hu("wins * 1000000", "n_comp")))
    val w = Window.orderBy(col("p2_micro").desc, col("brand").asc)
    scored.withColumn("rank", row_number().over(w))
      .select(col("brand"), col("n_comp").cast("long").as("n_comparisons"),
        col("wins").cast("long").as("wins"),
        col("win_rate_ppm").cast("long").as("win_rate_ppm"),
        col("p1_micro").cast("long").as("p1_micro"),
        col("p2_micro").cast("long").as("p2_micro"), col("rank"))
  }

  val qBradleyTerrySql: String = {
    def hu(aE: String, bE: String): String =
      s"(2 * ($aE) + ($bE)) // (2 * ($bE))"
    s"""WITH cb AS (SELECT o_custkey AS cust, p_brand AS brand,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |pairs AS (SELECT a.brand AS bi, b.brand AS bj,
      |    count(*) AS n_ij,
      |    CAST(sum(CASE WHEN a.qty > b.qty THEN 1 ELSE 0 END) AS BIGINT)
      |      AS w_i
      |  FROM cb a JOIN cb b ON a.cust = b.cust AND a.brand < b.brand
      |  WHERE a.qty <> b.qty
      |  GROUP BY 1, 2),
      |per_brand AS (SELECT brand,
      |    sum(CAST(n AS HUGEINT)) AS n_comp, sum(CAST(w AS HUGEINT)) AS wins
      |  FROM (SELECT bi AS brand, n_ij AS n, w_i AS w FROM pairs
      |    UNION ALL
      |    SELECT bj AS brand, n_ij AS n, n_ij - w_i AS w FROM pairs)
      |  GROUP BY 1),
      |p1 AS (SELECT brand, n_comp, wins,
      |    ${hu("2 * wins * 1000000", "n_comp")} AS p1_micro
      |  FROM per_brand),
      |terms AS (SELECT p.bi, p.bj,
      |    ${hu("CAST(p.n_ij AS HUGEINT) * 1000000000000",
           "CAST(i.p1_micro + j.p1_micro AS HUGEINT)")} AS t
      |  FROM pairs p
      |  JOIN p1 i ON p.bi = i.brand JOIN p1 j ON p.bj = j.brand),
      |d AS (SELECT brand, sum(t) AS den
      |  FROM (SELECT bi AS brand, t FROM terms
      |    UNION ALL SELECT bj AS brand, t FROM terms)
      |  GROUP BY 1),
      |scored AS (SELECT p1.brand, p1.n_comp, p1.wins, p1.p1_micro,
      |    ${hu("p1.wins * 1000000000000", "d.den")} AS p2_micro,
      |    ${hu("p1.wins * 1000000", "p1.n_comp")} AS win_rate_ppm
      |  FROM p1 JOIN d ON p1.brand = d.brand)
      |SELECT brand, CAST(n_comp AS BIGINT) AS n_comparisons,
      |  CAST(wins AS BIGINT) AS wins,
      |  CAST(win_rate_ppm AS BIGINT) AS win_rate_ppm,
      |  CAST(p1_micro AS BIGINT) AS p1_micro,
      |  CAST(p2_micro AS BIGINT) AS p2_micro,
      |  CAST(row_number() OVER (ORDER BY p2_micro DESC, brand ASC)
      |    AS INTEGER) AS rank
      |FROM scored""".stripMargin
  }

  // ---------------------------------------------------------------- E45
  /** k-fold slope stability — the fold-variance audit E13's learning
    * curve and E22's point fit both skip: fit price-on-quantity
    * INDEPENDENTLY on 5 deterministic md5 folds and read how much the
    * coefficient moves across them (a stable model's folds agree; a
    * leaky feature or a dominated slice shows up as fold spread long
    * before a holdout metric does). ENGINE-EXACT: per-fold exact
    * DECIMAL(38,0) moments → slope in µ-units via the SIGNED half-up
    * division (one integer per fold), so the cross-fold mean, spread,
    * and the ×5-scaled variance numerator 5·Σs² − (Σs)² are all
    * integer arithmetic — no float ever aggregates across folds.
    * Publishes one row per fold (n, slope_micro) plus the shared
    * stability readout (mean, spread, rel-spread ppm vs |mean|,
    * verdict at 5%). One corpus scan → 5 fold rows.
    */
  def qCvSlope(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    def hu(aE: String, bE: String): String =
      s"""CASE WHEN ($aE) >= 0
         | THEN (2 * ($aE) + ($bE)) DIV (2 * ($bE))
         | ELSE -((2 * (-($aE)) + ($bE)) DIV (2 * ($bE))) END"""
        .stripMargin.replace("\n", " ")
    val li = Tables.lineitem(spark, dir).select(
      (expr("conv(substring(md5(concat_ws('|', cast(l_orderkey as string)," +
        " cast(l_linenumber as string))), 1, 15), 16, 10)")
        .cast("long") % 5).as("fold"),
      col("l_quantity").cast("long").as("x"),
      round(col("l_extendedprice") * 100).cast("long").as("y"))
    val folds = li.groupBy(col("fold")).agg(
      count(lit(1)).cast(d38).as("n"),
      sum(col("x").cast(d38)).as("sx"),
      sum(col("y").cast(d38)).as("sy"),
      sum(col("x").cast(d38) * col("y")).as("sxy"),
      sum(col("x").cast(d38) * col("x")).as("sxx"))
      // slope in µ-cents/unit: halfUp(1e6·(n·Σxy − ΣxΣy), n·Σx² − (Σx)²)
      .withColumn("slope_micro",
        expr(hu("1000000 * (n * sxy - sx * sy)", "n * sxx - sx * sx"))
          .cast("long"))
    val stab = folds.agg(
      sum(col("slope_micro")).as("ssum"),
      max(col("slope_micro")).as("smax"),
      min(col("slope_micro")).as("smin"))
      .select(
        expr(hu("cast(ssum as decimal(38,0))", "cast(5 as decimal(38,0))"))
          .cast("long").as("mean_slope_micro"),
        (col("smax") - col("smin")).as("spread_micro"))
      .withColumn("rel_spread_ppm",
        expr(hu("1000000 * cast(spread_micro as decimal(38,0))",
          "abs(cast(mean_slope_micro as decimal(38,0)))")).cast("long"))
      .select(col("mean_slope_micro"), col("spread_micro"),
        col("rel_spread_ppm"),
        (col("rel_spread_ppm") <= 50000L).as("stable"))
    folds.select(col("fold"), col("n").cast("long").as("n"),
      col("slope_micro"))
      .crossJoin(broadcast(stab))
  }

  val qCvSlopeSql: String = {
    def hu(aE: String, bE: String): String =
      s"""CASE WHEN ($aE) >= 0
         | THEN (2 * ($aE) + ($bE)) // (2 * ($bE))
         | ELSE -((2 * (-($aE)) + ($bE)) // (2 * ($bE))) END"""
        .stripMargin.replace("\n", " ")
    s"""WITH li AS (SELECT
      |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|'
      |      || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT % 5 AS fold,
      |    CAST(l_quantity AS BIGINT) AS x,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      |  FROM lineitem),
      |folds AS (SELECT fold, CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(x AS HUGEINT)) AS sx,
      |    sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx
      |  FROM li GROUP BY 1),
      |sl AS (SELECT fold, CAST(n AS BIGINT) AS n,
      |    CAST(${hu("1000000 * (n * sxy - sx * sy)", "n * sxx - sx * sx")}
      |      AS BIGINT) AS slope_micro
      |  FROM folds),
      |stab0 AS (SELECT sum(CAST(slope_micro AS HUGEINT)) AS ssum,
      |    max(slope_micro) AS smax, min(slope_micro) AS smin
      |  FROM sl),
      |stab AS (SELECT
      |    CAST(${hu("ssum", "CAST(5 AS HUGEINT)")} AS BIGINT)
      |      AS mean_slope_micro,
      |    smax - smin AS spread_micro
      |  FROM stab0),
      |stab2 AS (SELECT mean_slope_micro, spread_micro,
      |    CAST(${hu("1000000 * CAST(spread_micro AS HUGEINT)",
           "abs(CAST(mean_slope_micro AS HUGEINT))")} AS BIGINT)
      |      AS rel_spread_ppm
      |  FROM stab)
      |SELECT fold, n, slope_micro, mean_slope_micro, spread_micro,
      |  rel_spread_ppm, rel_spread_ppm <= 50000 AS stable
      |FROM sl, stab2""".stripMargin
  }

  // ---------------------------------------------------------------- E46
  /** Cook's distance — the top-20 observations that individually move
    * the global price-on-quantity fit (E22's pooled twin) the most:
    * the influence diagnostic that separates "high residual" from
    * "high residual AT high leverage", the rows a robust pipeline
    * inspects before trusting any slope. D_i = e_i²·h_i /
    * (2s²(1−h_i)²) with leverage h_i = 1/n + (x_i−x̄)²/Sxx.
    * ENGINE-EXACT ranking: the slope quantizes to µ-units (sign-split
    * half-up), the n·10⁶-scaled residual identity re-quantizes to
    * centi-cents e_c (row-bounded at ANY corpus size — deviations
    * never grow with SF), leverage quantizes per quantity value to
    * the integer H = 10⁶·n·h (only |distinct quantities| ≤ 50 values
    * exist), and the top-20 TakeOrdered ranks on D composed from
    * those exact integers in ONE identical UNROUNDED double
    * expression — deterministic across engines because both evaluate
    * the same IEEE tree on the same integers (the (1−h)⁻² factor
    * varies per row, so a pure-integer e²·H key would mis-rank close
    * pairs); rounding touches only the published cell, never the
    * sort.
    * Two corpus scans (moments, scoring) and a broadcast — no window,
    * no collect. Flag at the conventional D > 4/n cut.
    */
  def qCooksDistance(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val rows = Tables.lineitem(spark, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").cast("long").as("x"),
      round(col("l_extendedprice") * 100).cast("long").as("y"))
    val mo = rows.agg(count(lit(1)).cast(d38).as("n"),
      sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
      sum(col("x").cast(d38) * col("x")).as("sxx"),
      sum(col("x").cast(d38) * col("y")).as("sxy"),
      sum(col("y").cast(d38) * col("y")).as("syy"))
    def hu(a: String, b: String): String =
      s"""CASE WHEN ($a) >= 0
         | THEN (2 * ($a) + ($b)) DIV (2 * ($b))
         | ELSE -((2 * (-($a)) + ($b)) DIV (2 * ($b))) END"""
        .stripMargin.replace("\n", " ")
    val q = mo
      .withColumn("cxx", (col("n") * col("sxx") - col("sx") * col("sx"))
        .cast(d38))
      .withColumn("cxy", (col("n") * col("sxy") - col("sx") * col("sy"))
        .cast(d38))
      .withColumn("cyy", (col("n") * col("syy") - col("sy") * col("sy"))
        .cast(d38))
      .withColumn("bq", expr(hu("1000000 * cxy", "cxx")).cast(d38))
    val scored = rows.crossJoin(broadcast(q))
      // residual identity in the quantized slope, re-quantized to
      // centi-cents: e_c ≈ 100·e_i, row-bounded at any SF
      .withColumn("ec", expr(hu(
        "1000000 * (n * y - sy) - bq * (n * x - sx)", "n * 10000"))
        .cast(d38))
      // H = 10⁶·n·h_i = 10⁶·(1 + dx²/Cxx) with dx = n·x−Sx: one value
      // per distinct quantity, exact integer, n-free magnitude
      .withColumn("hq", (lit(1000000) + expr(hu(
        "1000000 * (n * x - sx) * (n * x - sx)", "cxx")))
        .cast(d38))
    // D from the exact integers, one fixed double expression:
    // e² = (ec/100)² cents², h = hq/(n·10⁶),
    // s² = SSE/(n−2) = (Cyy − Cxy²/Cxx)/(n·(n−2)) cents²
    val nD = col("n").cast("double")
    val eD = col("ec").cast("double") / 100.0
    val hD = col("hq").cast("double") / (nD * 1e6)
    val s2 = (col("cyy").cast("double")
      - col("cxy").cast("double") * col("cxy").cast("double")
        / col("cxx").cast("double")) / (nD * (nD - 2))
    val withD = scored
      .withColumn("d_raw",
        eD * eD * hD / (lit(2.0) * s2 * (lit(1.0) - hD) * (lit(1.0) - hD)))
      .withColumn("cooks_d", round(col("d_raw"), 6))
      .withColumn("influential",
        col("cooks_d") > round(lit(4.0) / nD, 6))
    withD
      .orderBy(col("d_raw").desc, col("l_orderkey").asc,
        col("l_linenumber").asc)
      .limit(20)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("x").as("quantity"), col("y").as("price_cents"),
        col("cooks_d"), col("influential"))
  }

  val qCooksDistanceSql: String = {
    def hu(a: String, b: String): String =
      s"""CASE WHEN ($a) >= 0
         | THEN (2 * ($a) + ($b)) // (2 * ($b))
         | ELSE -((2 * (-($a)) + ($b)) // (2 * ($b))) END"""
        .stripMargin.replace("\n", " ")
    s"""WITH rows0 AS (SELECT l_orderkey, l_linenumber,
      |    CAST(l_quantity AS BIGINT) AS x,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      |  FROM lineitem),
      |mo AS (SELECT CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM rows0),
      |q AS (SELECT n, sx, sy,
      |    n * sxx - sx * sx AS cxx,
      |    n * sxy - sx * sy AS cxy,
      |    n * syy - sy * sy AS cyy
      |  FROM mo),
      |qb AS (SELECT *, ${hu("1000000 * cxy", "cxx")} AS bq FROM q),
      |scored AS (SELECT r.l_orderkey, r.l_linenumber, r.x, r.y,
      |    qb.n, qb.cxx, qb.cxy, qb.cyy, u.ec, u.hq
      |  FROM rows0 r, qb,
      |  LATERAL (SELECT
      |    CAST(${hu("1000000 * (qb.n * r.y - qb.sy) - qb.bq * (qb.n * r.x - qb.sx)",
        "qb.n * 10000")} AS HUGEINT) AS ec,
      |    CAST(1000000 + ${hu("1000000 * (qb.n * r.x - qb.sx) * (qb.n * r.x - qb.sx)",
        "qb.cxx")} AS HUGEINT) AS hq) u),
      |d AS (SELECT *,
      |    CAST(ec AS DOUBLE) / 100.0 * (CAST(ec AS DOUBLE) / 100.0)
      |      * (CAST(hq AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6))
      |      / (2.0 * ((CAST(cyy AS DOUBLE) - CAST(cxy AS DOUBLE)
      |          * CAST(cxy AS DOUBLE) / CAST(cxx AS DOUBLE))
      |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 2)))
      |        * (1.0 - CAST(hq AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6))
      |        * (1.0 - CAST(hq AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)))
      |      AS d_raw
      |  FROM scored)
      |SELECT l_orderkey, l_linenumber, x AS quantity, y AS price_cents,
      |  round(d_raw, 6) AS cooks_d,
      |  (round(d_raw, 6) > round(4.0 / CAST(n AS DOUBLE), 6)) AS influential
      |FROM d
      |ORDER BY d_raw DESC, l_orderkey ASC, l_linenumber ASC
      |LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------- E48
  /** Kernel two-sample drift test — LINEAR-time MMD² (Gretton et al.
    * 2012, the MMD_l estimator): where E20 compares source mean
    * vectors (a location test blind to shape), MMD with an RBF kernel
    * detects ANY distribution change, and the linear-time pairing
    * h_i = k(x₁,x₂)+k(y₁,y₂)−k(x₁,y₂)−k(x₂,y₁) over consecutive
    * sample quadruples keeps it one pass — never the n² kernel
    * matrix that kills the quadratic estimator at scale. Published
    * as TWO comparisons on one machinery: the md5 null split and the
    * label-0-vs-rest split. BOTH are same-distribution in this corpus
    * (the generator's label structure is sub-noise by design —
    * own-centroid cosine ≈ 0.07 puts within-label pair cosine ≈ 0.005,
    * measured MMD² within ±0.002 of zero at both tested SFs), so the
    * shipped verdicts audit the FALSE-POSITIVE side (the CUPED
    * null-true shape); the label row exists as the wiring a real
    * covariate-shift corpus lights up. RBF σ² = 0.25 — the bandwidth
    * the probe study showed centers both splits on zero rather than
    * inheriting the estimator's small-n negative bias. Engine parity: squared
    * distances are ORDERED left folds over the dimension list
    * (`aggregate` HOF / `list_reduce` — identical IEEE association),
    * each h_i quantizes to µ-units (exact long sums — never an
    * unordered double sum of kernels), MMD² is ONE division at 6 dp.
    * Pairing is deterministic (row_number by vec_id); incomplete
    * trailing pairs drop on both sides identically.
    */
  def qMmdDrift(spark: SparkSession, dir: String): DataFrame = {
    val M = 1000000L
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
      .cache()
    def k(a: String, b: String) = exp(-expr(
      s"aggregate(zip_with($a, $b, (p, q) -> (p - q) * (p - q)), " +
        "cast(0.0 as double), (acc, v) -> acc + v)") / 0.5)
    val idxCaches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def mmdRow(tagged: DataFrame, name: String): DataFrame = {
      val w = Window.partitionBy(col("g")).orderBy(col("vec_id").asc)
      // cached: four side-filters consume the same windowed frame —
      // uncached each re-runs the scan + the g-window
      val idx = tagged.withColumn("i", row_number().over(w) - 1)
        .withColumn("p", (col("i") / 2).cast("long"))
        .withColumn("slot", col("i") % 2)
        .cache()
      idxCaches += idx
      def side(g: String, slot: Int, as: String) = idx
        .filter(col("g") === g && col("slot") === slot)
        .select(col("p"), col("v").as(as))
      val pairs = side("x", 0, "x1").join(side("x", 1, "x2"), Seq("p"))
        .join(side("y", 0, "y1"), Seq("p")).join(side("y", 1, "y2"), Seq("p"))
      val h = k("x1", "x2") + k("y1", "y2") - k("x1", "y2") - k("x2", "y1")
      pairs.withColumn("hq", round(h * M).cast("long"))
        .agg(count(lit(1)).as("n_quads"),
          sum(col("hq").cast("decimal(38,0)")).as("sh"))
        .select(lit(name).as("split"), col("n_quads"),
          round(col("sh").cast("double") / col("n_quads") / 1.0e6, 6)
            .as("mmd2"))
        .withColumn("shifted", col("mmd2") > 0.005)
    }
    val nullSplit = emb.withColumn("g",
      when(expr("conv(substring(md5(cast(vec_id as string)), 1, 15), 16, 10)")
        .cast("long") % 2 === 0, "x").otherwise("y"))
    val labelSplit = emb.withColumn("g",
      when(col("label") === 0, "x").otherwise("y"))
    val out = mmdRow(nullSplit, "null_md5")
      .unionAll(mmdRow(labelSplit, "label0_vs_rest"))
      .cache() // qGmmEm cleanup pattern (ADVICE r15): 2-row output
    out.count()
    idxCaches.foreach(_.unpersist()); emb.unpersist()
    out
  }

  val qMmdDriftSql: String = {
    def d2(a: String, b: String) =
      s"""list_reduce(list_transform(generate_series(1, 64),
         |      i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (acc, v) -> acc + v)"""
        .stripMargin.replace("\n", " ")
    def kk(a: String, b: String) = s"exp(-(${d2(a, b)}) / 0.5)"
    def block(tag: String, gexpr: String) =
      s"""SELECT '$tag' AS split, count(*) AS n_quads,
         |  round(CAST(sum(CAST(hq AS HUGEINT)) AS DOUBLE) / count(*) / 1.0e6, 6)
         |    AS mmd2,
         |  round(CAST(sum(CAST(hq AS HUGEINT)) AS DOUBLE) / count(*) / 1.0e6, 6)
         |    > 0.005 AS shifted
         |FROM (
         |  WITH tagged AS (SELECT vec_id, embedding::DOUBLE[] AS v, label,
         |      $gexpr AS g FROM embeddings),
         |  idx AS (SELECT *, row_number() OVER
         |      (PARTITION BY g ORDER BY vec_id ASC) - 1 AS i FROM tagged),
         |  sl AS (SELECT g, v, i // 2 AS p, i % 2 AS slot FROM idx),
         |  x0 AS (SELECT p, v AS x1 FROM sl WHERE g = 'x' AND slot = 0),
         |  x1 AS (SELECT p, v AS x2 FROM sl WHERE g = 'x' AND slot = 1),
         |  y0 AS (SELECT p, v AS y1 FROM sl WHERE g = 'y' AND slot = 0),
         |  y1 AS (SELECT p, v AS y2 FROM sl WHERE g = 'y' AND slot = 1)
         |  SELECT CAST(round((${kk("x1", "x2")} + ${kk("y1", "y2")}
         |      - ${kk("x1", "y2")} - ${kk("x2", "y1")}) * 1000000) AS BIGINT)
         |    AS hq
         |  FROM x0 JOIN x1 USING (p) JOIN y0 USING (p) JOIN y1 USING (p)) q"""
        .stripMargin
    block("null_md5",
      """CASE WHEN ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
        | % 2 = 0 THEN 'x' ELSE 'y' END""".stripMargin.replace("\n", "")) +
      "\nUNION ALL\n" +
      block("label0_vs_rest",
        "CASE WHEN label = 0 THEN 'x' ELSE 'y' END")
  }

  // ---------------------------------------------------------------- E47
  /** Two-component Gaussian mixture via EM — the soft-clustering
    * capstone next to E8's hard kMeans and E33's supervised logistic:
    * is purchase spend ONE lognormal population or a mixture of two
    * regimes? Fitted on z = ln(1 + cents) in the E33 µ-unit fixed
    * point: observations quantize to micro-nats ONCE, every E-step
    * responsibility γ is one fixed-order double expression of exact
    * longs re-quantized to µ-units, every M-step moment (Σγ, Σγz,
    * Σγz²) is an exact DECIMAL(38,0) sum, and the new (µ₁, µ₂, σ²
    * pooled — homoscedastic by design, so no component can collapse
    * to zero variance, the classic EM degeneracy) re-quantize from
    * ONE double division each. Deterministic init from exact integer
    * extremes (quartile points of [min, max], global variance, w =
    * ½). Three staged rows publish (w, µ₁, µ₂, σ², mean log-lik) at
    * iterations 0/1/2 — mean_ll non-decreasing is the EM contract
    * the spec pins (the E33 descent-audit shape, ascent here). One
    * corpus pass per E-step (3 total), each a map + one aggregate;
    * 1-row param frames broadcast (the E33 lineage-control device).
    */
  def qGmmEm(spark: SparkSession, dir: String): DataFrame = {
    val M = 1000000L
    val z0 = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(round(col("value") * 100).cast("long").as("cents"))
      .select(round(log(lit(1.0) + col("cents")) * M).cast("long").as("z"))
      .cache()
    z0.count()
    val d38 = "decimal(38,0)"
    val init = z0.agg(count(lit(1)).as("n"),
        min(col("z")).as("mn"), max(col("z")).as("mx"),
        sum(col("z").cast(d38)).as("sz"),
        sum((col("z") * col("z")).cast(d38)).as("sz2"))
      .select(col("n"),
        (col("mn") + (col("mx") - col("mn")) / 4).cast("long").as("mu1"),
        (col("mn") + (lit(3) * (col("mx") - col("mn"))) / 4).cast("long")
          .as("mu2"),
        ((col("n") * col("sz2") - col("sz") * col("sz")) /
          (col("n").cast(d38) * col("n"))).cast("long").as("s2"),
        lit(500000L).as("wq"))
      .cache()
    init.count()
    var params = init
    val outRows = scala.collection.mutable.Buffer.empty[DataFrame]
    val cached = scala.collection.mutable.Buffer.empty[DataFrame]
    for (i <- 0 to 2) {
      val d1 = col("z") - col("mu1")
      val d2 = col("z") - col("mu2")
      val earg = ((d2 * d2).cast("double") - (d1 * d1).cast("double")) /
        (lit(2.0) * col("s2"))
      val g = round(lit(1.0 * M) /
        (lit(1.0) + ((lit(M) - col("wq")).cast("double") /
          col("wq").cast("double")) * exp(earg))).cast("long")
      // greatest() guard: a >37-sigma outlier underflows BOTH
      // component exps to 0.0 and ln(0) = -Inf; the floor is the same
      // literal in both engines so the guard itself is engine-exact
      val llRow = round((log(greatest(
        ((lit(M) - col("wq")).cast("double") *
          exp(-(d1 * d1).cast("double") / (lit(2.0) * col("s2"))) +
          col("wq").cast("double") *
          exp(-(d2 * d2).cast("double") / (lit(2.0) * col("s2")))) / 1.0e6,
        lit(1.0e-290)))
        - lit(0.5) * log(lit(6.283185307179586) * col("s2") / 1.0e12)) * M)
        .cast("long")
      val ev = z0.crossJoin(broadcast(params))
        .withColumn("g", g).withColumn("lq", llRow)
        .agg(count(lit(1)).as("n_ev"),
          sum((( lit(M) - col("g")) * col("z")).cast(d38)).as("b1"),
          sum((lit(M) - col("g")).cast(d38)).as("c1"),
          sum(((lit(M) - col("g")).cast(d38)) * ((col("z") * col("z"))
            .cast(d38))).as("a1"),
          sum((col("g") * col("z")).cast(d38)).as("b2"),
          sum(col("g").cast(d38)).as("c2"),
          sum((col("g").cast(d38)) * ((col("z") * col("z")).cast(d38)))
            .as("a2"),
          sum(col("lq").cast(d38)).as("sll"))
        .cache()
      cached += ev
      outRows += params.crossJoin(broadcast(ev))
        .select(lit(i).as("iter"),
          round(col("wq").cast("double") / 1.0e6, 6).as("w2"),
          round(col("mu1").cast("double") / 1.0e6, 6).as("mu1_nats"),
          round(col("mu2").cast("double") / 1.0e6, 6).as("mu2_nats"),
          round(col("s2").cast("double") / 1.0e12, 6).as("sigma2"),
          round(col("sll").cast("double") / col("n_ev") / 1.0e6, 6)
            .as("mean_ll"))
      if (i < 2) {
        params = ev.select(col("n_ev").as("n"),
            round(col("b1").cast("double") / col("c1").cast("double"))
              .cast("long").as("mu1"),
            round(col("b2").cast("double") / col("c2").cast("double"))
              .cast("long").as("mu2"),
            round(((col("a1").cast("double")
                - col("b1").cast("double") * col("b1").cast("double")
                  / col("c1").cast("double"))
              + (col("a2").cast("double")
                - col("b2").cast("double") * col("b2").cast("double")
                  / col("c2").cast("double")))
              / (col("c1").cast("double") + col("c2").cast("double")))
              .cast("long").as("s2"),
            round(col("c2").cast("double") / col("n_ev")).cast("long")
              .as("wq"))
          .cache()
        params.count()
        cached += params
      }
    }
    val out = outRows.reduce(_ unionAll _).cache()
    out.count()
    cached.foreach(_.unpersist()); z0.unpersist()
    out
  }

  val qGmmEmSql: String = {
    def iter(i: Int): String = {
      val (pc, ec, pn) = (s"p$i", s"e$i", s"p${i + 1}")
      s"""$ec AS (SELECT count(*) AS n_ev,
         |    sum(CAST((1000000 - g) * z AS HUGEINT)) AS b1,
         |    sum(CAST(1000000 - g AS HUGEINT)) AS c1,
         |    sum(CAST(1000000 - g AS HUGEINT) * CAST(z * z AS HUGEINT)) AS a1,
         |    sum(CAST(g * z AS HUGEINT)) AS b2,
         |    sum(CAST(g AS HUGEINT)) AS c2,
         |    sum(CAST(g AS HUGEINT) * CAST(z * z AS HUGEINT)) AS a2,
         |    sum(CAST(lq AS HUGEINT)) AS sll
         |  FROM (SELECT z,
         |      CAST(round(1000000.0 / (1.0 + (CAST(1000000 - wq AS DOUBLE)
         |          / CAST(wq AS DOUBLE))
         |        * exp((CAST((z - mu2) * (z - mu2) AS DOUBLE)
         |            - CAST((z - mu1) * (z - mu1) AS DOUBLE))
         |          / (2.0 * s2)))) AS BIGINT) AS g,
         |      CAST(round((ln(greatest((CAST(1000000 - wq AS DOUBLE)
         |            * exp(-CAST((z - mu1) * (z - mu1) AS DOUBLE) / (2.0 * s2))
         |          + CAST(wq AS DOUBLE)
         |            * exp(-CAST((z - mu2) * (z - mu2) AS DOUBLE) / (2.0 * s2)))
         |          / 1.0e6, 1.0e-290))
         |        - 0.5 * ln(6.283185307179586 * s2 / 1.0e12)) * 1000000)
         |        AS BIGINT) AS lq
         |    FROM zr, $pc) rows),
         |$pn AS (SELECT n_ev AS n,
         |    CAST(round(CAST(b1 AS DOUBLE) / CAST(c1 AS DOUBLE)) AS BIGINT) AS mu1,
         |    CAST(round(CAST(b2 AS DOUBLE) / CAST(c2 AS DOUBLE)) AS BIGINT) AS mu2,
         |    CAST(round(((CAST(a1 AS DOUBLE)
         |        - CAST(b1 AS DOUBLE) * CAST(b1 AS DOUBLE) / CAST(c1 AS DOUBLE))
         |      + (CAST(a2 AS DOUBLE)
         |        - CAST(b2 AS DOUBLE) * CAST(b2 AS DOUBLE) / CAST(c2 AS DOUBLE)))
         |      / (CAST(c1 AS DOUBLE) + CAST(c2 AS DOUBLE))) AS BIGINT) AS s2,
         |    CAST(round(CAST(c2 AS DOUBLE) / n_ev) AS BIGINT) AS wq
         |  FROM $ec)""".stripMargin
    }
    def outRow(i: Int): String =
      s"""SELECT $i AS iter,
         |  round(CAST(wq AS DOUBLE) / 1.0e6, 6) AS w2,
         |  round(CAST(mu1 AS DOUBLE) / 1.0e6, 6) AS mu1_nats,
         |  round(CAST(mu2 AS DOUBLE) / 1.0e6, 6) AS mu2_nats,
         |  round(CAST(s2 AS DOUBLE) / 1.0e12, 6) AS sigma2,
         |  round(CAST(sll AS DOUBLE) / n_ev / 1.0e6, 6) AS mean_ll
         |FROM p$i, e$i""".stripMargin
    s"""WITH zr AS (SELECT CAST(round(ln(1.0
       |      + CAST(round(value * 100) AS BIGINT)) * 1000000) AS BIGINT) AS z
       |  FROM events WHERE event_type = 'purchase'),
       |izm AS (SELECT count(*) AS n, min(z) AS mn, max(z) AS mx,
       |    sum(CAST(z AS HUGEINT)) AS sz,
       |    sum(CAST(z AS HUGEINT) * z) AS sz2
       |  FROM zr),
       |p0 AS (SELECT n,
       |    CAST(mn + (mx - mn) // 4 AS BIGINT) AS mu1,
       |    CAST(mn + (3 * (mx - mn)) // 4 AS BIGINT) AS mu2,
       |    CAST((n * sz2 - sz * sz) // (CAST(n AS HUGEINT) * n) AS BIGINT) AS s2,
       |    CAST(500000 AS BIGINT) AS wq
       |  FROM izm),
       |${iter(0)},
       |${iter(1)},
       |${iter(2)}
       |${outRow(0)}
       |UNION ALL ${outRow(1)}
       |UNION ALL ${outRow(2)}""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_gmm_em" -> (qGmmEm _),
    "q_mmd_drift" -> (qMmdDrift _),
    "q_cooks_distance" -> (qCooksDistance _),
    "q_cv_slope" -> (qCvSlope _),
    "q_bradley_terry" -> (qBradleyTerry _),
    "q_ols_multi" -> (qOlsMulti _),
    "q_gbt_stumps" -> (qGbtStumps _),
    "q_rf_stumps" -> (qRfStumps _),
    "q_rf_oob" -> (qRfOob _),
    "q_conformal_interval" -> (qConformalInterval _),
    "q_vif" -> (qVif _),
    "q_logistic_gd" -> (qLogisticGd _),
    "q_decision_stump" -> (qDecisionStump _),
    "q_brier_score" -> (qBrierScore _),
    "q_winsorize" -> (qWinsorize _),
    "q_target_encoding" -> (qTargetEncoding _),
    "q_ols_fit" -> (qOlsFit _),
    "q_leverage_audit" -> (qLeverageAudit _),
    "q_price_elasticity" -> (qPriceElasticity _),
    "q_ridge_fit" -> (qRidgeFit _),
    "q_source_embedding_shift" -> (qSourceEmbeddingShift _),
    "q_embedding_qc" -> (qEmbeddingQc _),
    "q_int8_quant" -> (qInt8Quant _),
    "q_feature_hash" -> (qFeatureHash _),
    "q_auc" -> (qAuc _),
    "q_calibration" -> (qCalibration _),
    "q_ece" -> (qEce _),
    "q_youden_threshold" -> (qYoudenThreshold _),
    "q_pr_curve" -> (qPrCurve _),
    "q_lift_curve" -> (qLiftCurve _),
    "q_pca" -> (qPca _),
    "q_standard_scaler" -> (qStandardScaler _),
    "q_minmax_scaler" -> (qMinmaxScaler _),
    "q_robust_scaler" -> (qRobustScaler _),
    "q_tfidf" -> (qTfidf _),
    "q_bm25" -> (qBm25 _),
    "q_vector_stats" -> (qVectorStats _),
    "q_feature_corr" -> (qFeatureCorr _),
    "q_chi2_features" -> (qChi2Features _),
    "q_mutual_info" -> (qMutualInfo _))

  def oracle: Map[String, String] = Map(
    "q_gmm_em" -> qGmmEmSql,
    "q_mmd_drift" -> qMmdDriftSql,
    "q_cooks_distance" -> qCooksDistanceSql,
    "q_cv_slope" -> qCvSlopeSql,
    "q_bradley_terry" -> qBradleyTerrySql,
    "q_ols_multi" -> qOlsMultiSql,
    "q_gbt_stumps" -> qGbtStumpsSql,
    "q_rf_stumps" -> qRfStumpsSql,
    "q_rf_oob" -> qRfOobSql,
    "q_conformal_interval" -> qConformalIntervalSql,
    "q_vif" -> qVifSql,
    "q_logistic_gd" -> qLogisticGdSql,
    "q_decision_stump" -> qDecisionStumpSql,
    "q_brier_score" -> qBrierScoreSql,
    "q_pca" -> qPcaSql,
    "q_winsorize" -> qWinsorizeSql,
    "q_target_encoding" -> qTargetEncodingSql,
    "q_ols_fit" -> qOlsFitSql,
    "q_leverage_audit" -> qLeverageAuditSql,
    "q_price_elasticity" -> qPriceElasticitySql,
    "q_ridge_fit" -> qRidgeFitSql,
    "q_source_embedding_shift" -> qSourceEmbeddingShiftSql,
    "q_embedding_qc" -> qEmbeddingQcSql,
    "q_int8_quant" -> qInt8QuantSql,
    "q_feature_hash" -> qFeatureHashSql,
    "q_auc" -> qAucSql,
    "q_calibration" -> qCalibrationSql,
    "q_ece" -> qEceSql,
    "q_youden_threshold" -> qYoudenThresholdSql,
    "q_pr_curve" -> qPrCurveSql,
    "q_lift_curve" -> qLiftCurveSql,
    "q_standard_scaler" -> qStandardScalerSql,
    "q_minmax_scaler" -> qMinmaxScalerSql,
    "q_robust_scaler" -> qRobustScalerSql,
    "q_tfidf" -> qTfidfSql,
    "q_bm25" -> qBm25Sql,
    "q_vector_stats" -> qVectorStatsSql,
    "q_feature_corr" -> qFeatureCorrSql,
    "q_chi2_features" -> qChi2FeaturesSql,
    "q_mutual_info" -> qMutualInfoSql)
}
