package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.{HashingTF, StringIndexer, Tokenizer}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Store, Tables}

/** MLlib pipeline tuning (SURVEY.md §2: E7, E7b, E8, E13) — estimator
  * pipelines tuned with deterministic-fold cross-validation over a
  * param grid. The r12 design: the CV loop is EXPLICIT (hash-bucket
  * folds on the row key instead of CrossValidator's internal random
  * split) so every fit's per-row predictions are first-class artifacts
  * — persisted next to the KMeans/IVF stores with the same
  * corpus-fingerprint staleness contract — and the published tuning
  * curve is pure SQL over those artifacts, replayed bit-for-bit by
  * the DuckDB oracle (the E8/E9 verdict-form device; previously these
  * three queries were rows-only because the iterative fit has no SQL
  * twin — its OUTPUT does).
  *
  * Scale notes: folds are hash-filters of the distributed dataset —
  * nothing is collected; grid cells fit concurrently (bounded pool,
  * CrossValidator's parallelism knob made explicit). At 100 TB one
  * would subsample per fold (`sampleBy` on the label) rather than
  * full-fit every grid cell; the persisted-prediction contract is
  * unchanged by that dial.
  */
object Tuning {

  private def features(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(
      col("vec_id"),
      array_to_vector(col("embedding")).as("features"),
      col("label").cast("double").as("label"))

  /** Persisted-prediction store scaffold shared by the CV-style
    * queries: a path-only [[graft.Store]] per (family, corpus
    * fingerprint), built once per corpus state; the build writes plain
    * parquet under one location. fitCount observes warm-path reuse;
    * lastLoc feeds the late-bound oracle exactly as [[KmeansStore]]
    * does (Verify runs queries before dumping oracle_sql.json).
    */
  private[ml] abstract class PredStore(family: String, srcTable: String) {
    import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
    val fitCount = new AtomicInteger(0)
    val lastLoc = new AtomicReference[String](null)

    /** Fit everything and write the artifact tables under `loc`. */
    protected def build(spark: SparkSession, dir: String, loc: String): Unit

    private val Root = Store.Artifact()
    private val store = new Store(family, srcTable, "", Seq(Root))((spark, dir, at) => {
      fitCount.incrementAndGet()
      build(spark, dir, at.path(Root))
    })

    def ensure(spark: SparkSession, dir: String): String = {
      val loc = store.ensure(spark, dir).path(Root)
      lastLoc.set(loc)
      loc
    }

    /** Bounded fit pool — CrossValidator's parallelism knob, explicit. */
    protected def inParallel[A](work: Seq[() => A]): Seq[A] = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.sequence(work.map(f => Future(f()))), Duration.Inf)
      finally pool.shutdown()
    }
  }

  /** E7 store: 3 hash folds × 4 LogisticRegression grid points over
    * the embeddings; persists (vec_id, fold, reg_param, elastic_net,
    * label, prediction) — one row per held-out scoring.
    */
  object CvStore extends PredStore("cvpred", "embeddings") {
    val Folds = 3
    val Grid: Seq[(Double, Double)] =
      for { r <- Seq(0.001, 0.1); e <- Seq(0.0, 0.5) } yield (r, e)

    protected def build(spark: SparkSession, dir: String, loc: String): Unit = {
      // cache: every fold × grid fit re-evaluates the input; uncached,
      // each of 12 LBFGS fits re-runs the scan + array_to_vector
      val data = features(spark, dir)
        .withColumn("fold", pmod(hash(col("vec_id")), lit(Folds)).cast("int"))
        .cache()
      data.count()
      val parts = inParallel(
        for { (reg, en) <- Grid; f <- 0 until Folds } yield { () =>
          val lr = new LogisticRegression().setMaxIter(25).setTol(1e-5)
            .setRegParam(reg).setElasticNetParam(en)
          lr.fit(data.filter(col("fold") =!= f))
            .transform(data.filter(col("fold") === f))
            .select(col("vec_id"), col("fold"),
              lit(reg).as("reg_param"), lit(en).as("elastic_net"),
              col("label"), col("prediction"))
        })
      parts.reduce(_ union _).coalesce(1)
        .write.mode("overwrite").parquet(loc)
      data.unpersist()
    }
  }

  /** E7: the tuning curve as SQL over the persisted CV predictions —
    * per-fold accuracy (10-dp) then the fold mean (6-dp boundary), so
    * the oracle recomputes the identical rounding ladder from the
    * identical artifact. One grid point per row, exactly
    * CrossValidator's avgMetrics semantics with deterministic folds.
    */
  def qMllibTuning(spark: SparkSession, dir: String): DataFrame = {
    val loc = CvStore.ensure(spark, dir)
    val pf = Tables.parquet(spark, loc)
      .groupBy(col("reg_param"), col("elastic_net"), col("fold"))
      .agg(round(avg(when(col("prediction") === col("label"), 1.0)
        .otherwise(0.0)), 10).as("acc"),
        count(lit(1)).as("n"))
    pf.groupBy(col("reg_param"), col("elastic_net"))
      .agg(count(lit(1)).cast("long").as("n_folds"),
        sum(col("n")).cast("long").as("n_rows"),
        round(avg(col("acc")), 6).as("cv_accuracy"))
  }

  private def mllibTuningSql(loc: String): String =
    s"""WITH p AS (SELECT * FROM read_parquet('$loc/*.parquet')),
       |pf AS (SELECT reg_param, elastic_net, fold,
       |    round(avg(CASE WHEN prediction = label THEN 1.0 ELSE 0.0 END), 10) AS acc,
       |    count(*) AS n
       |  FROM p GROUP BY 1, 2, 3)
       |SELECT reg_param, elastic_net, CAST(count(*) AS BIGINT) AS n_folds,
       |  CAST(sum(n) AS BIGINT) AS n_rows, round(avg(acc), 6) AS cv_accuracy
       |FROM pf GROUP BY 1, 2""".stripMargin

  /** E7b store: the multi-stage pipeline (Tokenizer → HashingTF → LR)
    * tuned jointly across feature-space size and regularization over
    * the documents corpus, 3 hash folds on doc_id. The label mapping
    * (StringIndexer, alphabetAsc) is fit ONCE on the full corpus —
    * label indexing is corpus-level metadata, not a tunable stage, and
    * a per-fold fit could produce fold-dependent label spaces; the
    * tunable stages fit strictly inside the training fold (no
    * leakage: tokenization and hashing are stateless, LR sees only
    * train rows). Persists (doc_id, fold, num_features, reg_param,
    * label, prediction).
    */
  object PipeStore extends PredStore("pipepred", "documents") {
    val Folds = 3
    val Grid: Seq[(Int, Double)] =
      for { nf <- Seq(256, 1024); r <- Seq(0.01, 0.3) } yield (nf, r)

    protected def build(spark: SparkSession, dir: String, loc: String): Unit = {
      val docs0 = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"))
      val indexer = new StringIndexer().setInputCol("lang").setOutputCol("label")
        .setStringOrderType("alphabetAsc") // deterministic label ids
        .fit(docs0)
      val docs = indexer.transform(docs0)
        .withColumn("fold", pmod(hash(col("doc_id")), lit(Folds)).cast("int"))
        .cache()
      docs.count()
      val parts = inParallel(
        for { (nf, reg) <- Grid; f <- 0 until Folds } yield { () =>
          val tok = new Tokenizer().setInputCol("text").setOutputCol("toks")
          val tf = new HashingTF().setInputCol("toks").setOutputCol("features")
            .setNumFeatures(nf)
          val lr = new LogisticRegression().setMaxIter(20).setTol(1e-4)
            .setRegParam(reg)
          new Pipeline().setStages(Array(tok, tf, lr))
            .fit(docs.filter(col("fold") =!= f))
            .transform(docs.filter(col("fold") === f))
            .select(col("doc_id"), col("fold"),
              lit(nf.toLong).as("num_features"), lit(reg).as("reg_param"),
              col("label"), col("prediction"))
        })
      parts.reduce(_ union _).coalesce(1)
        .write.mode("overwrite").parquet(loc)
      docs.unpersist()
    }
  }

  /** E7b: pipeline tuning curve over the persisted predictions — same
    * verdict arithmetic as [[qMllibTuning]], grid keyed on
    * (num_features, reg_param) because the search spans stages.
    */
  def qPipelineTuning(spark: SparkSession, dir: String): DataFrame = {
    val loc = PipeStore.ensure(spark, dir)
    val pf = Tables.parquet(spark, loc)
      .groupBy(col("num_features"), col("reg_param"), col("fold"))
      .agg(round(avg(when(col("prediction") === col("label"), 1.0)
        .otherwise(0.0)), 10).as("acc"),
        count(lit(1)).as("n"))
    pf.groupBy(col("num_features"), col("reg_param"))
      .agg(count(lit(1)).cast("long").as("n_folds"),
        sum(col("n")).cast("long").as("n_rows"),
        round(avg(col("acc")), 6).as("cv_accuracy"))
  }

  private def pipelineTuningSql(loc: String): String =
    s"""WITH p AS (SELECT * FROM read_parquet('$loc/*.parquet')),
       |pf AS (SELECT num_features, reg_param, fold,
       |    round(avg(CASE WHEN prediction = label THEN 1.0 ELSE 0.0 END), 10) AS acc,
       |    count(*) AS n
       |  FROM p GROUP BY 1, 2, 3)
       |SELECT num_features, reg_param, CAST(count(*) AS BIGINT) AS n_folds,
       |  CAST(sum(n) AS BIGINT) AS n_rows, round(avg(acc), 6) AS cv_accuracy
       |FROM pf GROUP BY 1, 2""".stripMargin

  /** E13 store: learning-curve fits — nested training subsets by hash
    * bucket (bucket < hi for hi ∈ 16..80, so every smaller fraction is
    * a subset of every larger one), fixed held-out split (bucket ≥ 80).
    * Persists TWO tables under one location: `pred` (hi, vec_id,
    * label, prediction — held-out scorings per curve point) and `asg`
    * (vec_id, bucket — the full assignment, so train-set sizes are
    * recomputable by both engines without re-deriving Spark's hash).
    */
  object LearnStore extends PredStore("lcurve", "embeddings") {
    val His = Seq(16, 32, 48, 64, 80)

    protected def build(spark: SparkSession, dir: String, loc: String): Unit = {
      val data = features(spark, dir)
        .withColumn("bucket", pmod(hash(col("vec_id")), lit(100)).cast("int"))
        .cache()
      data.count()
      data.select(col("vec_id"), col("bucket"))
        .coalesce(1).write.mode("overwrite").parquet(s"$loc/asg")
      val testC = data.filter(col("bucket") >= 80)
      val parts = inParallel(
        His.map { hi => () =>
          val lr = new LogisticRegression().setMaxIter(25).setTol(1e-5)
            .setRegParam(0.01)
          lr.fit(data.filter(col("bucket") < hi)) // nested by construction
            .transform(testC)
            .select(lit(hi).as("hi"), col("vec_id"),
              col("label"), col("prediction"))
        })
      parts.reduce(_ union _).coalesce(1)
        .write.mode("overwrite").parquet(s"$loc/pred")
      data.unpersist()
    }
  }

  /** E13: the learning curve as SQL over the persisted artifacts —
    * accuracy per curve point from `pred`, train-set size from the
    * bounded bucket histogram of `asg` (≤ 100 rows, broadcast), both
    * engines computing hi/80 in identical IEEE arithmetic. Answers
    * the question tuning alone can't: data-bound (curve rising) vs
    * capacity-bound (flat).
    */
  def qLearningCurve(spark: SparkSession, dir: String): DataFrame = {
    val loc = LearnStore.ensure(spark, dir)
    val pred = Tables.parquet(spark, s"$loc/pred")
    val bc = Tables.parquet(spark, s"$loc/asg")
      .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
    val acc = pred.groupBy(col("hi"))
      .agg(round(avg(when(col("prediction") === col("label"), 1.0)
        .otherwise(0.0)), 6).as("accuracy"))
    val ntr = pred.select(col("hi")).distinct()
      .join(broadcast(bc), bc("bucket") < col("hi"))
      .groupBy(col("hi")).agg(sum(col("c")).cast("long").as("n_train"))
    ntr.join(acc, "hi")
      .select((col("hi").cast("double") / 80).as("train_frac"),
        col("n_train"), col("accuracy"))
  }

  private def learningCurveSql(loc: String): String =
    s"""WITH pred AS (SELECT * FROM read_parquet('$loc/pred/*.parquet')),
       |bc AS (SELECT bucket, count(*) AS c
       |  FROM read_parquet('$loc/asg/*.parquet') GROUP BY 1),
       |his AS (SELECT DISTINCT hi FROM pred),
       |ntr AS (SELECT hi, CAST(sum(c) AS BIGINT) AS n_train
       |  FROM his JOIN bc ON bc.bucket < his.hi GROUP BY 1),
       |acc AS (SELECT hi,
       |    round(avg(CASE WHEN prediction = label THEN 1.0 ELSE 0.0 END), 6) AS accuracy
       |  FROM pred GROUP BY 1)
       |SELECT CAST(n.hi AS DOUBLE) / 80 AS train_frac, n.n_train, a.accuracy
       |FROM ntr n JOIN acc a ON n.hi = a.hi""".stripMargin

  /** Persisted KMeans assignment (the [[graft.operators.Similarity.IvfIndex]]
    * pattern at k = 10): the Lloyd fit has no SQL twin, but its OUTPUT —
    * the (vec_id, cluster) partition — is a table. Persisting it lets
    * the DuckDB oracle replay every published statistic (sizes,
    * within-cluster SSE) from the SAME assignment over the raw
    * embeddings, converting E8 from rows-only to a full hash check.
    * A [[graft.Store]]: a mutated corpus stops resolving and `ensure`
    * refits. fitCount observes warm-path reuse.
    */
  object KmeansStore {
    import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
    val K = 10
    val fitCount = new AtomicInteger(0)
    /** Assignment dir of the most recently ensured store — the oracle
      * builder inlines this absolute path (Verify runs queries before
      * dumping oracle_sql.json, so it is set when needed). */
    val lastLoc = new AtomicReference[String](null)

    // ten clusters need no co-located join: unbucketed
    private val Asg = Store.Artifact(columns = "vec_id BIGINT, cluster INT")
    private val store = new Store("kmeans", "embeddings", s"${K}_", Seq(Asg))(
      (spark, dir, at) => {
        // cache: Lloyd iterations re-evaluate the input each pass —
        // uncached this re-ran the scan+projection 20x (58.6s, r2)
        val data = features(spark, dir).cache(); data.count()
        fitCount.incrementAndGet()
        val km = new KMeans().setK(K).setSeed(7).setMaxIter(20)
        at.write(km.fit(data).transform(data)
          .select(col("vec_id"), col("prediction").cast("int").as("cluster")), Asg)
        data.unpersist()
      })

    def ensure(spark: SparkSession, dir: String): String = {
      val at = store.ensure(spark, dir)
      lastLoc.set(at.path(Asg))
      at.table(Asg)
    }
  }

  /** E8 driver form: seeded KMeans segmentation, published as per-
    * cluster size + within-cluster SSE against the member centroid,
    * plus a centroid-optimality verdict (within-SSE ≤ SSE against the
    * GLOBAL centroid, strict for any non-degenerate cluster). All
    * statistics are computed by SQL over (persisted assignment ⋈
    * embeddings) — the oracle recomputes them bit-for-bit from the
    * same persisted table, so the hash genuinely cross-checks the
    * segmentation's profile. Float parity: centroids round at 10 dp,
    * per-vector squared distances at 10 dp, cluster sums at the 6-dp
    * boundary (F27 discipline). The corpus shuffles once per
    * aggregate on (cluster, dim); centroids broadcast back.
    */
  def qKmeans(spark: SparkSession, dir: String): DataFrame = {
    val t = KmeansStore.ensure(spark, dir)
    val asg = spark.table(t)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
    val m = e.join(asg, "vec_id")
    val cen = m.groupBy(col("cluster"), col("dim"))
      .agg(round(avg(col("x")), 10).as("c"))
    val glob = e.groupBy(col("dim")).agg(round(avg(col("x")), 10).as("g"))
    val pv = m.join(broadcast(cen), Seq("cluster", "dim"))
      .join(broadcast(glob), Seq("dim"))
      .groupBy(col("vec_id"), col("cluster"))
      .agg(round(sum((col("x") - col("c")) * (col("x") - col("c"))), 10).as("sqc"),
        round(sum((col("x") - col("g")) * (col("x") - col("g"))), 10).as("sqg"))
    pv.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("sqc")), 6).as("within_sse"),
        (round(sum(col("sqc")), 6) <= round(sum(col("sqg")), 6))
          .as("tighter_than_global"))
  }

  /** DuckDB replay of [[qKmeans]] over the persisted assignment at
    * `loc` — identical joins, identical rounding ladder. */
  private def kmeansSql(loc: String): String =
    s"""WITH asg AS (SELECT vec_id, cluster FROM read_parquet('$loc/*.parquet')),
       |e AS (SELECT vec_id, i - 1 AS dim,
       |    CAST(list_extract(embedding::DOUBLE[], i) AS DOUBLE) AS x
       |  FROM embeddings, generate_series(1, 64) g(i)),
       |m AS (SELECT e.vec_id, asg.cluster, e.dim, e.x
       |  FROM e JOIN asg USING (vec_id)),
       |cen AS (SELECT cluster, dim, round(avg(x), 10) AS c
       |  FROM m GROUP BY 1, 2),
       |gcen AS (SELECT dim, round(avg(x), 10) AS g FROM e GROUP BY 1),
       |pv AS (SELECT m.vec_id, m.cluster,
       |    round(sum((m.x - cen.c) * (m.x - cen.c)), 10) AS sqc,
       |    round(sum((m.x - gcen.g) * (m.x - gcen.g)), 10) AS sqg
       |  FROM m JOIN cen ON m.cluster = cen.cluster AND m.dim = cen.dim
       |  JOIN gcen ON m.dim = gcen.dim
       |  GROUP BY 1, 2)
       |SELECT cluster, count(*) AS n, round(sum(sqc), 6) AS within_sse,
       |  (round(sum(sqc), 6) <= round(sum(sqg), 6)) AS tighter_than_global
       |FROM pv GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- E34
  /** Simplified (centroid-based) silhouette of the E8 clustering —
    * the cluster-quality verdict within-SSE can't give: within-SSE
    * always improves with more clusters, while silhouette s = (b−a) /
    * max(a,b) (a = distance to OWN centroid, b = distance to the
    * NEAREST OTHER centroid) penalizes clusters that sit on top of
    * each other. Centroid-based rather than pairwise (the classic
    * silhouette's all-pairs distances are O(n²) — unusable at corpus
    * scale; against centroids it is one |vectors|×k bounded join,
    * linear in the corpus for fixed k). Rides the SAME persisted
    * assignment table as E8 (KmeansStore; late-bound oracle replays
    * from the artifact), centroids recomputed with the identical
    * 10-dp rounding ladder, per-vector distances and s rounded at
    * 10 dp, per-cluster means published at 6 dp. Output: one row per
    * cluster (n, mean silhouette) with the overall mean broadcast —
    * the k-selection readout a clustering pipeline actually reads.
    */
  def qSilhouette(spark: SparkSession, dir: String): DataFrame = {
    val t = KmeansStore.ensure(spark, dir)
    val asg = spark.table(t)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
    val cen = e.join(asg, "vec_id")
      .groupBy(col("cluster"), col("dim"))
      .agg(round(avg(col("x")), 10).as("c"))
    val d = e.join(broadcast(cen.withColumnRenamed("cluster", "c2")), Seq("dim"))
      .groupBy(col("vec_id"), col("c2"))
      .agg(round(sum((col("x") - col("c")) * (col("x") - col("c"))), 10).as("sq"))
      .select(col("vec_id"), col("c2"), round(sqrt(col("sq")), 10).as("dist"))
    val ab = d.join(asg, "vec_id")
      .groupBy(col("vec_id"), col("cluster"))
      .agg(min(when(col("c2") === col("cluster"), col("dist"))).as("a"),
        min(when(col("c2") =!= col("cluster"), col("dist"))).as("b"))
    val s = ab.select(col("vec_id"), col("cluster"),
      when(greatest(col("a"), col("b")) === 0, lit(0.0))
        .otherwise(round((col("b") - col("a")) / greatest(col("a"), col("b")),
          10)).as("s"))
    val overall = s.agg(round(avg(col("s")), 6).as("overall_silhouette"))
    s.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), round(avg(col("s")), 6).as("mean_silhouette"))
      .crossJoin(broadcast(overall))
  }

  /** DuckDB replay of [[qSilhouette]] over the persisted assignment
    * at `loc` — identical joins, identical rounding ladder. */
  private def silhouetteSql(loc: String): String =
    s"""WITH asg AS (SELECT vec_id, cluster FROM read_parquet('$loc/*.parquet')),
       |e AS (SELECT vec_id, i - 1 AS dim,
       |    CAST(list_extract(embedding::DOUBLE[], i) AS DOUBLE) AS x
       |  FROM embeddings, generate_series(1, 64) g(i)),
       |cen AS (SELECT asg.cluster, e.dim, round(avg(e.x), 10) AS c
       |  FROM e JOIN asg USING (vec_id) GROUP BY 1, 2),
       |d AS (SELECT e.vec_id, cen.cluster AS c2,
       |    round(sqrt(round(sum((e.x - cen.c) * (e.x - cen.c)), 10)), 10)
       |      AS dist
       |  FROM e JOIN cen ON e.dim = cen.dim
       |  GROUP BY 1, 2),
       |ab AS (SELECT d.vec_id, asg.cluster,
       |    min(CASE WHEN d.c2 = asg.cluster THEN d.dist END) AS a,
       |    min(CASE WHEN d.c2 <> asg.cluster THEN d.dist END) AS b
       |  FROM d JOIN asg USING (vec_id)
       |  GROUP BY 1, 2),
       |s AS (SELECT vec_id, cluster,
       |    CASE WHEN greatest(a, b) = 0 THEN 0.0
       |      ELSE round((b - a) / greatest(a, b), 10) END AS s
       |  FROM ab),
       |overall AS (SELECT round(avg(s), 6) AS overall_silhouette FROM s)
       |SELECT cluster, count(*) AS n, round(avg(s), 6) AS mean_silhouette,
       |  overall_silhouette
       |FROM s, overall GROUP BY cluster, overall_silhouette""".stripMargin

  // ---------------------------------------------------------------- E47
  /** Davies–Bouldin index (1979) over the persisted k-means
    * partition — the cluster-quality readout that PENALIZES what E34's
    * silhouette only averages: DB = (1/k)·Σ_i max_{j≠i}
    * (S_i+S_j)/M_ij reads the WORST neighbor overlap per cluster, so
    * one merged pair drags the index even when the global silhouette
    * looks healthy (lower = better). Same assignment artifact
    * (KmeansStore — fit once per corpus state), same float-parity
    * ladder as E34 (centroids and distances rounded at 10 dp before
    * each aggregate, publishes at 6 dp), same late-bound oracle
    * replay over the persisted parquet. Everything after the one
    * member-distance pass is k²-bounded (k = 10).
    */
  def qDaviesBouldin(spark: SparkSession, dir: String): DataFrame = {
    val t = KmeansStore.ensure(spark, dir)
    val asg = spark.table(t)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
    val cen = e.join(asg, "vec_id")
      .groupBy(col("cluster"), col("dim"))
      .agg(round(avg(col("x")), 10).as("c"))
      .cache()
    // S_i: mean member→own-centroid distance
    val si = e.join(asg, "vec_id")
      .join(broadcast(cen), Seq("cluster", "dim"))
      .groupBy(col("vec_id"), col("cluster"))
      .agg(round(sum((col("x") - col("c")) * (col("x") - col("c"))), 10)
        .as("sq"))
      .select(col("cluster"), round(sqrt(col("sq")), 10).as("dist"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), round(avg(col("dist")), 10).as("s"))
    // M_ij: centroid–centroid distances over the k×k grid
    val c2 = cen.select(col("cluster").as("cj"), col("dim"),
      col("c").as("c2"))
    val m = cen.join(c2, Seq("dim"))
      .filter(col("cluster") =!= col("cj"))
      .groupBy(col("cluster"), col("cj"))
      .agg(round(sum((col("c") - col("c2")) * (col("c") - col("c2"))), 10)
        .as("sq"))
      .select(col("cluster"), col("cj"), round(sqrt(col("sq")), 10).as("m"))
    val sj = si.select(col("cluster").as("cj"), col("s").as("s2"))
    val ratios = m.join(broadcast(si), "cluster")
      .join(broadcast(sj), "cj")
      .withColumn("r", round((col("s") + col("s2")) / col("m"), 10))
    val perCluster = ratios.groupBy(col("cluster"), col("n"), col("s"))
      .agg(max(col("r")).as("worst_ratio"))
    val overall = perCluster.agg(round(avg(col("worst_ratio")), 6)
      .as("davies_bouldin"))
    perCluster.select(col("cluster"), col("n"),
        round(col("s"), 6).as("mean_scatter"),
        round(col("worst_ratio"), 6).as("worst_ratio"))
      .crossJoin(broadcast(overall))
  }

  /** DuckDB replay of [[qDaviesBouldin]] over the persisted
    * assignment at `loc` — identical joins, identical rounding
    * ladder. */
  private def daviesBouldinSql(loc: String): String =
    s"""WITH asg AS (SELECT vec_id, cluster FROM read_parquet('$loc/*.parquet')),
       |e AS (SELECT vec_id, i - 1 AS dim,
       |    CAST(list_extract(embedding::DOUBLE[], i) AS DOUBLE) AS x
       |  FROM embeddings, generate_series(1, 64) g(i)),
       |cen AS (SELECT asg.cluster, e.dim, round(avg(e.x), 10) AS c
       |  FROM e JOIN asg USING (vec_id) GROUP BY 1, 2),
       |dmem AS (SELECT e.vec_id, asg.cluster,
       |    round(sum((e.x - cen.c) * (e.x - cen.c)), 10) AS sq
       |  FROM e JOIN asg USING (vec_id)
       |  JOIN cen ON asg.cluster = cen.cluster AND e.dim = cen.dim
       |  GROUP BY 1, 2),
       |si AS (SELECT cluster, count(*) AS n,
       |    round(avg(round(sqrt(sq), 10)), 10) AS s
       |  FROM dmem GROUP BY 1),
       |m AS (SELECT a.cluster, b.cluster AS cj,
       |    round(sqrt(round(sum((a.c - b.c) * (a.c - b.c)), 10)), 10) AS m
       |  FROM cen a JOIN cen b ON a.dim = b.dim AND a.cluster <> b.cluster
       |  GROUP BY 1, 2),
       |ratios AS (SELECT m.cluster, si.n, si.s,
       |    round((si.s + sj.s) / m.m, 10) AS r
       |  FROM m JOIN si ON m.cluster = si.cluster
       |  JOIN si sj ON m.cj = sj.cluster),
       |pc AS (SELECT cluster, n, s, max(r) AS worst_ratio
       |  FROM ratios GROUP BY 1, 2, 3),
       |overall AS (SELECT round(avg(worst_ratio), 6) AS davies_bouldin
       |  FROM pc)
       |SELECT cluster, n, round(s, 6) AS mean_scatter,
       |  round(worst_ratio, 6) AS worst_ratio, davies_bouldin
       |FROM pc, overall""".stripMargin

  // ---------------------------------------------------------------- E39
  /** Rank-1 ALS recommender over the (customer, brand, Σquantity)
    * rating matrix — the matrix-factorization capability of the MLlib
    * north star, unrolled to TWO alternating closed-form solves so
    * the whole fit is oracle-replayable. Each ALS half-step at rank 1
    * IS a grouped least-squares (v_b = Σ_c u_c·r / Σ_c u_c², the E22
    * machinery per entity), and the fixed-point device makes the
    * iteration engine-exact: factors live in MILLI-units, every
    * update is one integer aggregate (Σu·r, Σu² — order-free exact
    * sums of longs/decimals) followed by one half-up integer division
    * (E26 device; all quantities positive). v⁰ = 1 for every brand,
    * u¹ = per-customer mean rating, v¹ and u² the alternating solves;
    * the score u²_c·v¹_b is an exact integer in µ-units. Publishes
    * top-5 UNSEEN brands (left-anti on rated pairs) per panel
    * customer, ties broken (score DESC, brand ASC). Scale shape: the
    * ratings table shuffles once per half-step on its grouping key
    * with map-side combine; factors are entity-sized (|C| + |B|),
    * candidates are panel × 25 brands — nothing corpus-scale moves
    * after the first aggregate. Numerators accumulate in
    * DECIMAL(38,0)/HUGEINT so no sum outgrows the device at any SF.
    * Factors PERSIST in [[AlsStore]] (the PredStore corpus-fingerprint
    * staleness contract): the fit runs once per corpus state, the
    * warm recommendation path reads only the factor/rated-pair
    * artifacts (zero corpus scans), and the DuckDB oracle replays the
    * identical exact-integer chain from the raw tables — bit-equal by
    * construction, so the artifact needs no late-bound SQL.
    */
  /** Persisted ALS factor store (a [[PredStore]]): u²/v¹ fixed-point
    * factors plus the rated-pair projection, built once per corpus
    * fingerprint. The warm
    * recommendation path reads ONLY the store — zero corpus scans —
    * and a mutated corpus changes the location, so stale factors stop
    * resolving instead of being served.
    */
  object AlsStore extends PredStore("als", "lineitem") {
    protected def build(spark: SparkSession, dir: String, loc: String): Unit = {
      val r = Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("o_custkey").as("c"), col("p_brand").as("b"))
        .agg(sum(col("l_quantity").cast("long")).as("rt"))
        .cache()
      try {
        // u¹ (milli) = halfUp(10³·Σ_b r / n_b)  [v⁰ = 1]
        val u1 = r.groupBy(col("c"))
          .agg(sum(col("rt").cast("decimal(38,0)")).as("sr"),
            count(lit(1)).as("nb"))
          .select(col("c"),
            expr("(2 * 1000 * sr + nb) DIV (2 * nb)").as("u1"))
        // v¹ (milli) = halfUp(10⁶·Σ_c u¹·r / Σ_c u¹²)
        val v1 = r.join(u1, "c")
          .groupBy(col("b"))
          .agg(sum((col("u1") * col("rt")).cast("decimal(38,0)")).as("sur"),
            sum((col("u1") * col("u1")).cast("decimal(38,0)")).as("suu"))
          .select(col("b"),
            expr("(2 * 1000000 * sur + suu) DIV (2 * suu)").as("v1"))
          .cache()
        // u² (milli) = halfUp(10⁶·Σ_b v¹·r / Σ_b v¹²)
        val u2 = r.join(broadcast(v1), "b")
          .groupBy(col("c"))
          .agg(sum((col("v1") * col("rt")).cast("decimal(38,0)")).as("svr"),
            sum((col("v1") * col("v1")).cast("decimal(38,0)")).as("svv"))
          .select(col("c"),
            expr("(2 * 1000000 * svr + svv) DIV (2 * svv)").as("u2"))
        v1.write.mode("overwrite").parquet(s"$loc/v")
        u2.write.mode("overwrite").parquet(s"$loc/u")
        r.select(col("c"), col("b")).write.mode("overwrite")
          .parquet(s"$loc/rated")
      } finally r.unpersist()
    }
  }

  def qAlsRecommend(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val loc = AlsStore.ensure(spark, dir)
    val u2 = Tables.parquet(spark, s"$loc/u")
    val v1 = Tables.parquet(spark, s"$loc/v")
    val rated = Tables.parquet(spark, s"$loc/rated")
    val cand = u2.filter(col("c") <= 200)
      .crossJoin(broadcast(v1))
      .join(rated, Seq("c", "b"), "left_anti")
      .withColumn("score_micro", col("u2") * col("v1"))
    val w = Window.partitionBy(col("c"))
      .orderBy(col("score_micro").desc, col("b").asc)
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("c").as("custkey"), col("b").as("brand"),
        col("rank"), col("score_micro"))
  }

  val qAlsRecommendSql: String =
    """WITH r AS (SELECT o_custkey AS c, p_brand AS b,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS rt
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |u1 AS (SELECT c,
      |    CAST((2 * 1000 * sum(rt) + count(*)) // (2 * count(*)) AS BIGINT)
      |      AS u1
      |  FROM r GROUP BY c),
      |v1 AS (SELECT b,
      |    CAST((2 * 1000000 * sum(u1 * rt) + sum(CAST(u1 AS HUGEINT) * u1))
      |      // (2 * sum(CAST(u1 AS HUGEINT) * u1)) AS BIGINT) AS v1
      |  FROM r JOIN u1 USING (c) GROUP BY b),
      |u2 AS (SELECT c,
      |    CAST((2 * 1000000 * sum(v1 * rt) + sum(CAST(v1 AS HUGEINT) * v1))
      |      // (2 * sum(CAST(v1 AS HUGEINT) * v1)) AS BIGINT) AS u2
      |  FROM r JOIN v1 USING (b) GROUP BY c),
      |cand AS (SELECT u2.c, v1.b, u2.u2 * v1.v1 AS score_micro
      |  FROM u2 CROSS JOIN v1
      |  WHERE u2.c <= 200
      |    AND NOT EXISTS (SELECT 1 FROM r WHERE r.c = u2.c AND r.b = v1.b)),
      |ranked AS (SELECT c, b, score_micro,
      |    row_number() OVER (PARTITION BY c
      |      ORDER BY score_micro DESC, b ASC) AS rank
      |  FROM cand)
      |SELECT c AS custkey, b AS brand, rank, score_micro
      |FROM ranked WHERE rank <= 5""".stripMargin

  // ---------------------------------------------------------------- E46
  /** Persisted tf-idf document-clustering store — the KmeansStore
    * device applied to TEXT: tokens → HashingTF(4096) → IDF → seeded
    * KMeans(8), assignments persisted keyed on the documents-corpus
    * fingerprint. The fit is MLlib's (free to be iterative — the
    * oracle never replays it); everything PUBLISHED about the
    * clustering recomputes from (persisted assignment ⋈ corpus).
    */
  object DocClusterStore {
    import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
    val K = 8
    val fitCount = new AtomicInteger(0)
    val lastLoc = new AtomicReference[String](null)

    private val Asg = Store.Artifact(columns = "doc_id BIGINT, cluster INT")
    private val store = new Store("docclu", "documents", s"${K}_", Seq(Asg))(
      (spark, dir, at) => {
        val data = Tables.documents(spark, dir)
          .select(col("doc_id"),
            graft.functions.TextFunctions.tokens(col("text")).as("toks"))
          .cache()
        data.count()
        fitCount.incrementAndGet()
        val tf = new HashingTF().setInputCol("toks").setOutputCol("tf")
          .setNumFeatures(4096)
        val idf = new org.apache.spark.ml.feature.IDF()
          .setInputCol("tf").setOutputCol("features")
        val tfd = tf.transform(data)
        val feat = idf.fit(tfd).transform(tfd)
        val km = new KMeans().setK(K).setSeed(11).setMaxIter(10)
        at.write(km.fit(feat).transform(feat)
          .select(col("doc_id"), col("prediction").cast("int").as("cluster")), Asg)
        data.unpersist()
      })

    def ensure(spark: SparkSession, dir: String): String = {
      val at = store.ensure(spark, dir)
      lastLoc.set(at.path(Asg))
      at.table(Asg)
    }
  }

  /** E46: document clustering with keyword summaries — the
    * cluster-then-describe pass a corpus curator runs to SEE what a
    * web crawl contains (and the blocking structure cluster-based
    * pruning samples from): tf-idf KMeans assignments from
    * [[DocClusterStore]], published as per-cluster size, token mass,
    * and the top-3 DISTINCTIVE terms — ranked by exact within-cluster
    * count with corpus-boilerplate terms excluded by an exact df cap
    * (df·2 ≤ N docs), ties alphabetical, so the keyword choice never
    * touches a double; the only doubles are the two 6-dp share
    * divisions. The per-cluster top-3 rides a rank-filtered window
    * (Spark's WindowGroupLimit pushes the limit map-side — never a
    * full vocab sort per cluster); vocab joins shuffle on `tok` (the
    * B9 contract). Oracle replays everything from the persisted
    * assignment table.
    */
  def qDocClusters(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = DocClusterStore.ensure(spark, dir)
    val asg = spark.table(t)
    val toks = graft.operators.TextAnalysis.tokenStream(spark, dir)
    val nd = Tables.documents(spark, dir).agg(count(lit(1)).as("ndocs"))
    val dft = toks.select(col("doc_id"), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val keep = dft.crossJoin(broadcast(nd))
      .filter(col("df") * 2 <= col("ndocs")).select(col("tok"))
    val ct = toks.join(asg, "doc_id")
      .groupBy(col("cluster"), col("tok")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("c").desc, col("tok").asc)
    val top = ct.join(keep, Seq("tok"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .groupBy(col("cluster"))
      .agg(max(when(col("rn") === 1, col("tok"))).as("term1"),
        max(when(col("rn") === 1, col("c"))).as("c1"),
        max(when(col("rn") === 2, col("tok"))).as("term2"),
        max(when(col("rn") === 3, col("tok"))).as("term3"))
    val sizes = asg.groupBy(col("cluster")).agg(count(lit(1)).as("n_docs"))
    val mass = toks.join(asg, "doc_id").groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_tokens"))
    sizes.join(mass, Seq("cluster")).join(top, Seq("cluster"), "left")
      .crossJoin(broadcast(nd))
      .select(col("cluster"), col("n_docs"), col("n_tokens"),
        round(col("n_docs").cast("double") / col("ndocs"), 6).as("doc_share"),
        col("term1"), col("term2"), col("term3"),
        round(col("c1").cast("double") / col("n_tokens"), 6)
          .as("top_term_share"))
  }

  private def docClustersSql(loc: String): String = {
    val duckToks = graft.functions.TextFunctions.duckToksSql("text")
    s"""WITH asg AS (SELECT doc_id, cluster FROM read_parquet('$loc/*.parquet')),
       |t AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |toks AS (SELECT doc_id, unnest(toks) AS tok FROM t),
       |nd AS (SELECT count(*) AS ndocs FROM documents),
       |dft AS (SELECT tok, count(*) AS df
       |  FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY 1),
       |keep AS (SELECT tok FROM dft, nd WHERE df * 2 <= ndocs),
       |ct AS (SELECT asg.cluster, toks.tok, count(*) AS c
       |  FROM toks JOIN asg USING (doc_id) GROUP BY 1, 2),
       |top AS (SELECT cluster,
       |    max(CASE WHEN rn = 1 THEN tok END) AS term1,
       |    max(CASE WHEN rn = 1 THEN c END) AS c1,
       |    max(CASE WHEN rn = 2 THEN tok END) AS term2,
       |    max(CASE WHEN rn = 3 THEN tok END) AS term3
       |  FROM (SELECT ct.*, row_number() OVER
       |      (PARTITION BY cluster ORDER BY c DESC, tok ASC) AS rn
       |    FROM ct JOIN keep USING (tok)) WHERE rn <= 3 GROUP BY 1),
       |sizes AS (SELECT cluster, count(*) AS n_docs FROM asg GROUP BY 1),
       |mass AS (SELECT asg.cluster, count(*) AS n_tokens
       |  FROM toks JOIN asg USING (doc_id) GROUP BY 1)
       |SELECT cluster, n_docs, n_tokens,
       |  round(CAST(n_docs AS DOUBLE) / ndocs, 6) AS doc_share,
       |  term1, term2, term3,
       |  round(CAST(c1 AS DOUBLE) / n_tokens, 6) AS top_term_share
       |FROM sizes JOIN mass USING (cluster)
       |  LEFT JOIN top USING (cluster), nd""".stripMargin
  }

  // ---------------------------------------------------------------- E49
  /** Clustering-agreement audit — Hubert–Arabie ADJUSTED Rand Index
    * between the three partitions the engine holds over the SAME
    * vectors (E8 kMeans, C23 DBSCAN, the generator's true labels),
    * answering "do my unsupervised structures agree with each other
    * and with ground truth, chance-corrected?" — the standard
    * clustering model-selection readout. ENGINE-EXACT: ARI reduces
    * entirely to pair counts — contingency cells n_ij, margins a_i /
    * b_j, and the closed form
    * (2·N₂·Σ_ij C(n_ij,2) − 2·Σa·Σb) / (N₂·(Σa+Σb) − 2·Σa·Σb)
    * is a ratio of exact DECIMAL(38,0) integers to ONE 6-dp double
    * division (no expected-index double intermediates at all).
    * Convention: DBSCAN noise (cluster −1) is ONE group — documented,
    * deterministic, and symmetric across engines. Contingency tables
    * are (clusters × clusters)-bounded; the corpus contributes three
    * assignment joins. Oracle replays kMeans from its persisted
    * table, DBSCAN from its full CTE chain over the persisted IVF
    * assignment, labels from the embeddings parquet.
    */
  def qClusteringAgreement(spark: SparkSession, dir: String): DataFrame = {
    val km = spark.table(KmeansStore.ensure(spark, dir))
      .select(col("vec_id"), col("cluster").cast("long").as("km"))
    val db = graft.operators.Dedup.qDbscan(spark, dir)
      .select(col("vec_id"), col("cluster_id").as("db"))
    val lb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("lb"))
    val joined = km.join(db, "vec_id").join(lb, "vec_id")
    val d38 = "decimal(38,0)"
    def c2(c: org.apache.spark.sql.Column) =
      (c.cast(d38) * (c - 1) / 2).cast(d38)
    // ONE grouping-sets pass computes all seven ingredients the three
    // ARIs need — the three contingency-pair Σ C(n_ij,2), the three
    // margin Σ C(a,2), and n — where the per-pair form re-aggregated
    // the joined frame 12 times (3 pairs × nij/ai/bj/n subtrees, each
    // its own exchange + job). Identical arithmetic: the same C(·,2)
    // DECIMAL(38,0) sums over the same grouped counts, assembled into
    // the same closed form. gid bit b is SET when that grouping column
    // is aggregated away (column order km, db, lb).
    val g = joined.groupingSets(
      Seq(Seq(col("km"), col("lb")), Seq(col("db"), col("lb")),
        Seq(col("km"), col("db")), Seq(col("km")), Seq(col("db")),
        Seq(col("lb")), Seq()),
      col("km"), col("db"), col("lb"))
      .agg(count(lit(1)).as("cnt"), grouping_id().as("gid"))
    def s(gid: Int) = sum(when(col("gid") === gid, c2(col("cnt"))))
    val sums = g.agg(
      s(2).as("sij_km_lb"), s(4).as("sij_db_lb"), s(1).as("sij_km_db"),
      s(3).as("sa_km"), s(5).as("sa_db"), s(6).as("sa_lb"),
      max(when(col("gid") === 7, col("cnt"))).as("n"))
      .withColumn("n2", c2(col("n")))
    def ariRow(name: String, sij: String, sa: String, sb: String) =
      struct(lit(name).as("pair"), col("n").as("n_vectors"),
        col(sij).cast("long").as("agree_pairs"),
        round((lit(2) * col("n2") * col(sij)
            - lit(2) * col(sa) * col(sb)).cast("double") /
          (col("n2") * (col(sa) + col(sb))
            - lit(2) * col(sa) * col(sb)).cast("double"), 6)
          .as("ari"))
    sums.select(explode(array(
        ariRow("kmeans_vs_label", "sij_km_lb", "sa_km", "sa_lb"),
        ariRow("dbscan_vs_label", "sij_db_lb", "sa_db", "sa_lb"),
        ariRow("kmeans_vs_dbscan", "sij_km_db", "sa_km", "sa_db"))).as("r"))
      .select(col("r.pair").as("pair"), col("r.n_vectors").as("n_vectors"),
        col("r.agree_pairs").as("agree_pairs"), col("r.ari").as("ari"))
  }

  private def clusteringAgreementSql(kmLoc: String, dbscanFull: String): String = {
    def ariBlock(p1: String, p2: String, name: String) =
      s"""SELECT '$name' AS pair, (SELECT count(*) FROM j) AS n_vectors,
         |  CAST((SELECT sum(nij * (nij - 1) // 2) FROM
         |    (SELECT count(*) AS nij FROM j GROUP BY $p1, $p2)) AS BIGINT)
         |    AS agree_pairs,
         |  round(CAST(2 * n2 * sij - 2 * sa * sb AS DOUBLE)
         |    / CAST(n2 * (sa + sb) - 2 * sa * sb AS DOUBLE), 6) AS ari
         |FROM (SELECT
         |  (SELECT sum(CAST(nij AS HUGEINT) * (nij - 1) // 2) FROM
         |    (SELECT count(*) AS nij FROM j GROUP BY $p1, $p2)) AS sij,
         |  (SELECT sum(CAST(a AS HUGEINT) * (a - 1) // 2) FROM
         |    (SELECT count(*) AS a FROM j GROUP BY $p1)) AS sa,
         |  (SELECT sum(CAST(b AS HUGEINT) * (b - 1) // 2) FROM
         |    (SELECT count(*) AS b FROM j GROUP BY $p2)) AS sb,
         |  (SELECT CAST(count(*) AS HUGEINT) * (count(*) - 1) // 2 FROM j)
         |    AS n2) t""".stripMargin
    s"""WITH km AS (SELECT vec_id, CAST(cluster AS BIGINT) AS km
       |  FROM read_parquet('$kmLoc/*.parquet')),
       |dbs AS (SELECT vec_id, cluster_id AS db FROM ($dbscanFull) d),
       |lb AS (SELECT vec_id, CAST(label AS BIGINT) AS lb FROM embeddings),
       |j AS (SELECT km.km, dbs.db, lb.lb
       |  FROM km JOIN dbs USING (vec_id) JOIN lb USING (vec_id))
       |${ariBlock("km", "lb", "kmeans_vs_label")}
       |UNION ALL ${ariBlock("db", "lb", "dbscan_vs_label")}
       |UNION ALL ${ariBlock("km", "db", "kmeans_vs_dbscan")}""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_clustering_agreement" -> (qClusteringAgreement _),
    "q_doc_clusters" -> (qDocClusters _),
    "q_als_recommend" -> (qAlsRecommend _),
    "q_mllib_tuning" -> (qMllibTuning _),
    "q_pipeline_tuning" -> (qPipelineTuning _),
    "q_learning_curve" -> (qLearningCurve _),
    "q_kmeans" -> (qKmeans _),
    "q_silhouette" -> (qSilhouette _),
    "q_davies_bouldin" -> (qDaviesBouldin _))

  /** Every Tuning query is oracle-replayable once its prediction /
    * assignment store exists in this JVM (Verify runs queries before
    * dumping oracle_sql.json — the [[graft.operators.Similarity]]
    * late-binding device; absent stores fall back to rows-only). */
  def oracle: Map[String, String] =
    Map("q_als_recommend" -> qAlsRecommendSql) ++
    Option(DocClusterStore.lastLoc.get)
      .map(loc => "q_doc_clusters" -> docClustersSql(loc)).toMap ++
    (for {
      km <- Option(KmeansStore.lastLoc.get)
      asgPair <- Option(graft.operators.Similarity.IvfIndex.lastLoc.get)
    } yield "q_clustering_agreement" -> clusteringAgreementSql(km,
      graft.operators.Dedup.dbscanSql(asgPair._1))).toMap ++
    Option(KmeansStore.lastLoc.get)
      .map(loc => "q_kmeans" -> kmeansSql(loc)).toMap ++
    Option(KmeansStore.lastLoc.get)
      .map(loc => "q_silhouette" -> silhouetteSql(loc)).toMap ++
    Option(KmeansStore.lastLoc.get)
      .map(loc => "q_davies_bouldin" -> daviesBouldinSql(loc)).toMap ++
    Option(CvStore.lastLoc.get)
      .map(loc => "q_mllib_tuning" -> mllibTuningSql(loc)).toMap ++
    Option(PipeStore.lastLoc.get)
      .map(loc => "q_pipeline_tuning" -> pipelineTuningSql(loc)).toMap ++
    Option(LearnStore.lastLoc.get)
      .map(loc => "q_learning_curve" -> learningCurveSql(loc)).toMap
}
