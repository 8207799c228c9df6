package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Store, Tables}
import graft.functions.VectorFunctions

/** Similarity search over the embeddings table (SURVEY.md §2 block D).
  *
  * 100 TB design: the exact variant broadcasts the (small) query set
  * and scores map-side against the corpus — the corpus never shuffles;
  * per-query top-k is a single shuffle of scored candidates. When the
  * query set is large, the LSH variant ([[qAnnLsh]]) buckets both
  * sides by random-hyperplane signature and scores only within
  * buckets.
  */
object Similarity {

  /** Exact cosine top-5 neighbors for the query panel. Ranking is on
    * 6-dp-rounded similarity with vec_id tiebreak → deterministic
    * across engines.
    *
    * Panel contract: `vec_id % 50 == 0 AND vec_id < 2000` — exactly
    * 40 query ids at any corpus ≥ 2000 vectors, so the panel (and
    * with it the exact recall-truth computation, O(panel × n)) is a
    * FIXED-size sample, never a corpus fraction. The round-11 scaling
    * study measured the previous cap (50000): it never bound below
    * 50k vectors, the panel grew as n/50 through the whole measured
    * range, and the panel-based queries ran at α ≈ 1.7–2.0 in
    * time-vs-rows — a quadratic recall harness strapped to sublinear
    * indexes. With the cap binding from 2000 vectors, brute-force
    * truth is O(40·n) and every panel query's measured exponent drops
    * to ≲ 1 (SCALING.md). At the shipped test SFs (≤ 2000 vectors,
    * ids < 2000) the cap is inactive and results are bit-unchanged.
    */
  val PanelIdCap = 2000L

  def qAnnBruteforce(spark: SparkSession, dir: String): DataFrame = {
    // row norms hoisted out of the panel×corpus scan (norm2Row/
    // cosinePre bit-parity contract): the scan pays one fused dot per
    // (query, vector) instead of CosineSim's three self-sums — and
    // this function IS the shared recall-truth panel (bruteforceTop5)
    // every ANN query re-pays cold
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", VectorFunctions.norm2Row(col("v")))
    val q = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < PanelIdCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        VectorFunctions.cosinePre(col("qv"), col("v"),
          col("qnrm"), col("nrm")).as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("sim"), 6).desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("nid"), col("rank"), round(col("sim"), 4).as("sim"))
  }

  val qAnnBruteforceSql: String =
    raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
      |flat AS (SELECT qid, e.vec_id AS nid, unnest(qv) AS x, unnest(v) AS y
      |  FROM e JOIN q ON e.vec_id <> q.qid),
      |scored AS (SELECT qid, nid,
      |    sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
      |  FROM flat GROUP BY qid, nid),
      |ranked AS (SELECT qid, nid, sim, row_number() OVER (
      |    PARTITION BY qid ORDER BY round(sim, 6) DESC, nid ASC) AS rank
      |  FROM scored)
      |SELECT qid, nid, rank, round(sim, 4) AS sim FROM ranked WHERE rank <= 5""".stripMargin

  // ---------------------------------------------------------------- D23
  /** Maximum-inner-product search (MIPS) — D1's magnitude-aware twin:
    * recommendation and reranking score by RAW dot product (a long,
    * well-aligned vector SHOULD outrank a short one — user·item
    * factor models, cross-encoder distillation targets), which cosine
    * deliberately erases; the two top-5 lists genuinely differ
    * wherever norms vary, and publishing the query vector's own norm
    * rank makes the difference auditable. Same bounded-panel device
    * as D1 (broadcast panel × corpus, O(panel·n)); scoring is the
    * codegen'd fused [[graft.functions.DotProduct]] loop whose
    * left-to-right accumulation equals the oracle's `sum(x*y)` over
    * unnest in list order bit-for-bit (the CosineSim contract);
    * ranking on (round(dot,6) DESC, nid ASC). The norm-augmentation
    * reduction (append √(M²−‖v‖²) and search by cosine) is the
    * documented 100 TB path onto the D2/D3 indexes; the exact
    * panel-bounded scan is the verifiable baseline, like D1 for D2.
    */
  def qMips(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < PanelIdCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        graft.functions.GraftExpressions.dot_product(col("qv"), col("v"))
          .as("dot"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("dot"), 6).desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("nid"), col("rank"),
        round(col("dot"), 4).as("dot"))
  }

  val qMipsSql: String =
    raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
      |flat AS (SELECT qid, e.vec_id AS nid, unnest(qv) AS x, unnest(v) AS y
      |  FROM e JOIN q ON e.vec_id <> q.qid),
      |scored AS (SELECT qid, nid, sum(x*y) AS dot
      |  FROM flat GROUP BY qid, nid),
      |ranked AS (SELECT qid, nid, dot, row_number() OVER (
      |    PARTITION BY qid ORDER BY round(dot, 6) DESC, nid ASC) AS rank
      |  FROM scored)
      |SELECT qid, nid, rank, round(dot, 4) AS dot FROM ranked WHERE rank <= 5""".stripMargin

  // ---------------------------------------------------------------- D24
  /** Norm-augmented MIPS over the persisted IVF index — D23's
    * production path (r15 VERDICT ask #2). The exact D23 scan is
    * O(panel·n); at 100 TB the corpus must be reached through the D3
    * cell structure instead. The index cells were fit on DIRECTIONS
    * (spherical k-means over L2-normalized vectors), but a maximum
    * inner product hides wherever direction-match × norm is largest —
    * so the probe ranking is ‖v‖-AUGMENTED: each persisted centroid
    * is joined with the LARGEST vector norm its cell holds (persisted
    * WITH the index at build time and kept true on [[IvfIndex.absorb]]
    * by a batch-max merge — an augmentation of the index, not a second
    * fitted artifact, and never recomputed at query time), and cells
    * rank by
    * cos(q,c)·maxnorm, the cell-level proxy upper bound for
    * max_{v∈cell} q·v (Cauchy–Schwarz gives q·v ≤ ‖q‖‖v‖; the cosine
    * factor restores the directional term the pure norm bound
    * discards). Candidates in the nprobe probed cells are then
    * EXACT-scored by raw dot product (the codegen'd fused
    * [[graft.functions.GraftExpressions.dot_product]] loop), so the
    * shortlist rerank is exact by construction; ranking ties break on
    * (round(dot,6) DESC, nid ASC). Published recall@5 is judged
    * against the exact MIPS truth (D23's panel scan) via the D2/D3
    * withRecall device. Oracle: full query-path replay from the
    * persisted index tables (the D3/D5 read_parquet device) — the
    * oracle RE-DERIVES the max-norms from the assignment parquet, so
    * a drifted persisted augmentation fails the hash, verifying the
    * build pass transitively. 100 TB shape: the centroid+maxnorm
    * frame is nlist rows (broadcast), read not computed; the one
    * map-side-combined max-norm pass runs at index BUILD time; only
    * probed cells are scanned at query time.
    */
  def qMipsIvf(spark: SparkSession, dir: String,
      nlist: Int = 16, nprobe: Int = 12): DataFrame = {
    val (assigned, cdf) = IvfIndex.get(spark, dir, nlist)
    // the ‖v‖ augmentation is READ, not derived: per-cell max norm
    // (6-dp-rounded before the max — identical doubles both engines)
    // persisted with the index at build time and merged on absorb, so
    // the probe-ranking input here is an nlist-row parquet read — the
    // r16 plan recomputed it from the full assignment per call, a
    // corpus-scale aggregate per query at 100 TB (r16 verdict ask #1)
    val cellNorm = IvfIndex.norms(spark, dir, nlist)
    val cAug = cdf.join(broadcast(cellNorm), Seq("cell"))
    val q = assigned.filter(col("vec_id") % 50 === 0 && col("vec_id") < PanelIdCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(
        round(VectorFunctions.cosine(col("qv"), col("cv")) * col("mn"), 6).desc,
        col("cell").asc)
    val probes = q.crossJoin(broadcast(cAug))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("qv"), col("cell"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("dot"), 6).desc, col("nid").asc)
    val top = probes.join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        graft.functions.GraftExpressions.dot_product(col("qv"), col("v"))
          .as("dot"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("nid"), col("rank"),
        round(col("dot"), 4).as("dot"))
    withRecall(top, qMips(spark, dir).select(col("qid"), col("nid")))
  }

  // ---------------------------------------------------------------- D26
  /** Binary-signature ANN — the 1-bit-per-dimension compression point
    * of the D-block codec family (D4's PQ is 4 bits/dim here; sign
    * binarization is 64× over float64), the regime modern
    * binary-quantization retrieval (RaBitQ-style sign codes +
    * rerank) operates in: signature = the SIGN BIT of each dimension,
    * packed into two exact 32-bit halves (two halves, not one int64 —
    * bit 63 would wrap the signed long, and the halves keep every
    * 2^i sum exact and engine-portable); candidate generation ranks
    * the panel×corpus HAMMING distance (bit_count(xor) per half, an
    * integer — ties break on nid) and keeps a 50-deep shortlist;
    * EXACT cosine reranks the shortlist to top-5. Published recall@5
    * vs the D1 brute-force truth (the D2/D3 device). 100 TB shape:
    * signatures are map-only 8-byte rows (the RAM-resident scan
    * structure); the hamming scan streams signatures only — vectors
    * are fetched just for the 50-row-per-query rerank. Oracle: full
    * replay of signature build, hamming shortlist, and rerank.
    */
  val BinaryShortlist = 50

  def qAnnBinary(spark: SparkSession, dir: String): DataFrame = {
    def half(lo: Int): String =
      s"CAST(aggregate(sequence($lo, ${lo + 31}), 0L, (acc, i) -> " +
        s"acc + IF(element_at(v, i + 1) > 0D, shiftleft(CAST(1 AS BIGINT), i - $lo), CAST(0 AS BIGINT))) AS BIGINT)"
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("lo", expr(half(0)))
      .withColumn("hi", expr(half(32)))
    val q = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < PanelIdCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("lo").as("qlo"), col("hi").as("qhi"))
    val wH = Window.partitionBy(col("qid"))
      .orderBy(col("ham").asc, col("nid").asc)
    val short = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qv"), col("vec_id").as("nid"), col("v"),
        (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("hi").bitwiseXOR(col("qhi")))).as("ham"))
      .withColumn("hr", row_number().over(wH))
      .filter(col("hr") <= BinaryShortlist)
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("sim"), 6).desc, col("nid").asc)
    val top = short
      .select(col("qid"), col("nid"),
        VectorFunctions.cosine(col("qv"), col("v")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("nid"), col("rank"), round(col("sim"), 4).as("sim"))
    withRecall(top, bruteforceTop5(spark, dir))
  }

  // def, not val: interpolates recallCtes, declared further down the
  // object — a val here would initialize first and render "null"
  // (the round-10 uninitialized-constant failure shape)
  def qAnnBinarySql: String = {
    def half(lo: Int): String =
      s"CAST(list_sum(list_transform(generate_series($lo, ${lo + 31}), " +
        s"i -> CASE WHEN v[i + 1] > 0 THEN (1::BIGINT << (i - $lo)) ELSE 0::BIGINT END)) AS BIGINT)"
    raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |    ${half(0)} AS lo, ${half(32)} AS hi
         |  FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv, lo AS qlo, hi AS qhi
         |  FROM e WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
         |ham AS (SELECT qid, qv, e.vec_id AS nid, e.v,
         |    bit_count(xor(e.lo, qlo)) + bit_count(xor(e.hi, qhi)) AS ham
         |  FROM e, q WHERE e.vec_id <> qid),
         |short AS (SELECT qid, qv, nid, v FROM (SELECT *, row_number() OVER (
         |    PARTITION BY qid ORDER BY ham ASC, nid ASC) AS hr FROM ham)
         |  WHERE hr <= $BinaryShortlist),
         |sflat AS (SELECT qid, nid, unnest(qv) AS x, unnest(v) AS y FROM short),
         |rsim AS (SELECT qid, nid,
         |    sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
         |  FROM sflat GROUP BY qid, nid),
         |appx AS (SELECT qid, nid, rank, round(sim, 4) AS sim FROM (
         |    SELECT qid, nid, sim, row_number() OVER (
         |      PARTITION BY qid ORDER BY round(sim, 6) DESC, nid ASC) AS rank
         |    FROM rsim) WHERE rank <= 5),
         |$recallCtes
         |SELECT appx.qid, appx.nid, appx.rank, appx.sim, sampled.recall_at_5
         |FROM appx LEFT JOIN sampled USING (qid)""".stripMargin
  }

  // ---------------------------------------------------------------- D27
  /** Shortlist-depth recall curve for the D26 binary sketch — what
    * D12's nprobe curve is for the IVF index, applied to the one
    * dial binary search has: how deep must the hamming shortlist go
    * before the exact rerank recovers the true top-5? The published
    * curve (depth ∈ {10, 25, 50, 100} → mean recall@5) is the
    * evidence behind D26's fixed 50 — and the dial a deployment
    * turns when its recall target changes. ONE hamming ranking pass
    * (cached, bounded: panel × corpus rows), each depth filters and
    * exact-reranks its own shortlist; recall folds to
    * hits/(5·panel) exactly. Oracle: full replay per depth.
    */
  val BinarySweepDepths: Seq[Int] = Seq(10, 25, 50, 100)

  def qAnnBinarySweep(spark: SparkSession, dir: String): DataFrame = {
    def half(lo: Int): String =
      s"CAST(aggregate(sequence($lo, ${lo + 31}), 0L, (acc, i) -> " +
        s"acc + IF(element_at(v, i + 1) > 0D, shiftleft(CAST(1 AS BIGINT), i - $lo), CAST(0 AS BIGINT))) AS BIGINT)"
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("lo", expr(half(0)))
      .withColumn("hi", expr(half(32)))
    val q = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < PanelIdCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("lo").as("qlo"), col("hi").as("qhi"))
    val wH = Window.partitionBy(col("qid"))
      .orderBy(col("ham").asc, col("nid").asc)
    val ranked = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qv"), col("vec_id").as("nid"), col("v"),
        (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("hi").bitwiseXOR(col("qhi")))).as("ham"))
      .withColumn("hr", row_number().over(wH))
      .filter(col("hr") <= BinarySweepDepths.max)
      .cache()
    ranked.count() // materialize before the per-depth fan-out
    val truth = bruteforceTop5(spark, dir).cache()
    val nq = truth.select(col("qid")).distinct().count()
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("sim"), 6).desc, col("nid").asc)
    val rows = BinarySweepDepths.map { k =>
      val hits = ranked.filter(col("hr") <= k)
        .select(col("qid"), col("nid"),
          VectorFunctions.cosine(col("qv"), col("v")).as("sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .join(truth, Seq("qid", "nid"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      hits.select(lit(k.toLong).as("shortlist"), lit(nq).as("n_queries"),
        col("hits"),
        round(col("hits").cast("double") / (lit(5.0) * nq), 6)
          .as("mean_recall_at_5"))
    }
    val out = rows.reduce(_ unionAll _).cache()
    out.count()
    ranked.unpersist(); truth.unpersist()
    out
  }

  /** Replay of [[qAnnBinarySweep]]: signature build, hamming ranking,
    * per-depth exact rerank, recall fold — all per depth literal.
    */
  def qAnnBinarySweepSql: String = {
    def half(lo: Int): String =
      s"CAST(list_sum(list_transform(generate_series($lo, ${lo + 31}), " +
        s"i -> CASE WHEN v[i + 1] > 0 THEN (1::BIGINT << (i - $lo)) ELSE 0::BIGINT END)) AS BIGINT)"
    val perK = BinarySweepDepths.map { k =>
      s"""appx$k AS (SELECT qid, nid FROM (
         |    SELECT qid, nid, row_number() OVER (
         |      PARTITION BY qid ORDER BY round(sim, 6) DESC, nid ASC) AS rank
         |    FROM rsim WHERE hr <= $k) WHERE rank <= 5),
         |row$k AS (SELECT CAST($k AS BIGINT) AS shortlist,
         |    (SELECT count(DISTINCT qid) FROM truth) AS n_queries,
         |    CAST(count(*) AS BIGINT) AS hits,
         |    round(CAST(count(*) AS DOUBLE)
         |      / (5.0 * (SELECT count(DISTINCT qid) FROM truth)), 6)
         |      AS mean_recall_at_5
         |  FROM appx$k JOIN truth USING (qid, nid))""".stripMargin
    }.mkString(",\n")
    val unionRows = BinarySweepDepths.map(k => s"SELECT * FROM row$k")
      .mkString("\nUNION ALL ")
    raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |    ${half(0)} AS lo, ${half(32)} AS hi
         |  FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv, lo AS qlo, hi AS qhi
         |  FROM e WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
         |ham AS (SELECT qid, qv, e.vec_id AS nid, e.v,
         |    bit_count(xor(e.lo, qlo)) + bit_count(xor(e.hi, qhi)) AS ham
         |  FROM e, q WHERE e.vec_id <> qid),
         |ranked AS MATERIALIZED (SELECT qid, qv, nid, v, row_number() OVER (
         |    PARTITION BY qid ORDER BY ham ASC, nid ASC) AS hr FROM ham),
         |keep AS MATERIALIZED (SELECT * FROM ranked
         |  WHERE hr <= ${BinarySweepDepths.max}),
         |sflat AS (SELECT qid, nid, hr, unnest(qv) AS x, unnest(v) AS y
         |  FROM keep),
         |rsim AS MATERIALIZED (SELECT qid, nid, min(hr) AS hr,
         |    sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
         |  FROM sflat GROUP BY qid, nid),
         |tq AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
         |tflat AS (SELECT qid, e.vec_id AS nid, unnest(qv) AS x, unnest(v) AS y
         |  FROM e JOIN tq ON e.vec_id <> tq.qid),
         |tsc AS (SELECT qid, nid, sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
         |  FROM tflat GROUP BY qid, nid),
         |truth AS MATERIALIZED (SELECT qid, nid FROM (SELECT qid, nid, row_number() OVER (
         |    PARTITION BY qid ORDER BY round(sim, 6) DESC, nid ASC) AS r FROM tsc) WHERE r <= 5),
         |$perK
         |$unionRows""".stripMargin
  }

  // ---------------------------------------------------------------- D25
  /** Embedding anisotropy audit (Ethayarajh 2019) — the geometry
    * health-check of the vector space every similarity operator above
    * assumes: expected pairwise cosine of the corpus,
    * E[cos] = (‖Σv̂‖² − n)/(n(n−1)). An isotropic space sits near 0;
    * anisotropy near 1 means all vectors crowd one cone and cosine
    * scores stop discriminating (the "representation degeneration"
    * failure that sinks retrieval quality while every per-query
    * metric still looks fine). Published per label (within-class
    * crowding) with the corpus-wide value broadcast on each row (K31
    * discipline). ENGINE-EXACT: normalized components µ-quantize at
    * 10⁻⁹ (one IEEE division + one round per component — identical
    * doubles both engines), so per-(label, dim) sums are exact
    * integers, ‖Σv̂‖² is an exact DECIMAL(38,0) sum of 64 squares,
    * and the index assembles as ONE fixed-order double. Shapes: one
    * explode to (label, dim) keyed sums — 64·|labels| cells — then
    * bounded folds; nothing pairwise ever materializes (the n²
    * pairwise definition reduces to the norm of a sum).
    */
  def qAnisotropy(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", VectorFunctions.norm2(col("v")))
      .filter(col("nrm") > 0)
      .withColumn("nmu", round(col("nrm") * 1e6).cast("long"))
    val flat = e.select(col("label"), col("nmu"),
      posexplode(expr("transform(v, x -> CAST(round(x / nrm * 1e9) AS BIGINT))"))
        .as(Seq("dim", "cq")))
    val cells = flat.groupBy(col("label"), col("dim"))
      .agg(sum(col("cq").cast(d38)).as("s"),
        count(lit(1)).as("cnt"), sum(col("nmu").cast(d38)).as("snmu"))
    val perLabel = cells.groupBy(col("label"))
      .agg((sum(col("cnt")) / 64).cast("long").as("n_vectors"),
        sum((col("s") * col("s")).cast(d38)).as("ssq"),
        (sum(col("snmu")) / 64).cast(d38).as("snorm"))
      .select(col("label"), col("n_vectors"),
        expr("CAST((2 * snorm + n_vectors)" +
          " DIV (2 * CAST(n_vectors AS DECIMAL(38,0))) AS BIGINT)")
          .as("mean_norm_mu"),
        round((col("ssq").cast("double") / 1e18 -
          col("n_vectors").cast("double")) /
          (col("n_vectors").cast("double") *
            (col("n_vectors").cast("double") - 1)), 6).as("anisotropy"))
    val globalCells = cells.groupBy(col("dim"))
      .agg(sum(col("s")).cast(d38).as("sg"), sum(col("cnt")).as("cg"))
    val global = globalCells
      .agg((sum(col("cg")) / 64).cast("long").as("ng"),
        sum((col("sg") * col("sg")).cast(d38)).as("ssqg"))
      .select(round((col("ssqg").cast("double") / 1e18 -
        col("ng").cast("double")) /
        (col("ng").cast("double") * (col("ng").cast("double") - 1)), 6)
        .as("overall_anisotropy"))
    perLabel.crossJoin(broadcast(global))
  }

  val qAnisotropySql: String =
    """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    embedding::DOUBLE[] AS v FROM embeddings),
      |nr AS (SELECT vec_id, label, v, sqrt(n2) AS nrm,
      |    CAST(round(sqrt(n2) * 1000000) AS BIGINT) AS nmu
      |  FROM (SELECT vec_id, label, v,
      |      (SELECT sum(x * x) FROM unnest(v) AS t(x)) AS n2 FROM e)
      |  WHERE sqrt(n2) > 0),
      |flat AS (SELECT label, nmu, i - 1 AS dim,
      |    CAST(round(list_extract(v, i) / nrm * 1e9) AS BIGINT) AS cq
      |  FROM nr, generate_series(1, 64) g(i)),
      |cells AS (SELECT label, dim, sum(CAST(cq AS HUGEINT)) AS s,
      |    CAST(count(*) AS BIGINT) AS cnt,
      |    sum(CAST(nmu AS HUGEINT)) AS snmu
      |  FROM flat GROUP BY 1, 2),
      |pl AS (SELECT label, CAST(sum(cnt) // 64 AS BIGINT) AS n_vectors,
      |    sum(s * s) AS ssq, sum(snmu) // 64 AS snorm
      |  FROM cells GROUP BY 1),
      |pub AS (SELECT label, n_vectors,
      |    CAST((2 * snorm + n_vectors)
      |      // (2 * CAST(n_vectors AS HUGEINT)) AS BIGINT)
      |      AS mean_norm_mu,
      |    round((CAST(ssq AS DOUBLE) / 1e18 - CAST(n_vectors AS DOUBLE))
      |      / (CAST(n_vectors AS DOUBLE)
      |        * (CAST(n_vectors AS DOUBLE) - 1)), 6) AS anisotropy
      |  FROM pl),
      |gc AS (SELECT dim, sum(s) AS sg, sum(cnt) AS cg
      |  FROM cells GROUP BY 1),
      |gl AS (SELECT CAST(sum(cg) // 64 AS BIGINT) AS ng,
      |    sum(sg * sg) AS ssqg FROM gc),
      |gpub AS (SELECT round((CAST(ssqg AS DOUBLE) / 1e18
      |      - CAST(ng AS DOUBLE))
      |    / (CAST(ng AS DOUBLE) * (CAST(ng AS DOUBLE) - 1)), 6)
      |      AS overall_anisotropy
      |  FROM gl)
      |SELECT label, n_vectors, mean_norm_mu, anisotropy,
      |  overall_anisotropy
      |FROM pub, gpub""".stripMargin

  // ---------------------------------------------------------------- D19
  /** k-NN classification over the embedding corpus — the similarity
    * search consumer that closes the loop: predict each panel
    * query's label as the MAJORITY label of its 5 nearest neighbors
    * by cosine (leave-one-out: the query never votes for itself),
    * the standard weak-supervision / label-QA probe over a labeled
    * vector store. Same bounded-panel device as D1 (fixed ≤ 40
    * queries, broadcast against the corpus — O(panel·n), never n²);
    * ranking ties break on (rounded sim DESC, nid ASC) and vote ties
    * on (votes DESC, label ASC) — both total orders on exact values,
    * so the prediction is engine-deterministic. Output one row per
    * panel query: true label, predicted label, vote count, and the
    * correctness bit an accuracy audit sums.
    */
  def qKnnClassify(spark: SparkSession, dir: String): DataFrame = {
    // norm hoist (norm2Row/cosinePre parity contract) — see
    // qAnnBruteforce; the panel×corpus scan is the whole bill here
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", VectorFunctions.norm2Row(col("v")))
    val q = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < PanelIdCap)
      .select(col("vec_id").as("qid"), col("label").as("true_label"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("true_label"), col("vec_id").as("nid"),
        col("label"), VectorFunctions.cosinePre(col("qv"), col("v"),
          col("qnrm"), col("nrm")).as("sim"))
    val bySim = Window.partitionBy(col("qid"))
      .orderBy(round(col("sim"), 6).desc, col("nid").asc)
    val votes = scored.withColumn("rank", row_number().over(bySim))
      .filter(col("rank") <= 5)
      .groupBy(col("qid"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val byVotes = Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("label").asc)
    votes.withColumn("r", row_number().over(byVotes)).filter(col("r") === 1)
      .select(col("qid"), col("true_label"), col("label").as("pred_label"),
        col("votes"), (col("label") === col("true_label")).as("correct"))
  }

  val qKnnClassifySql: String =
    raw"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS qid, label AS true_label, v AS qv FROM e
      |  WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
      |flat AS (SELECT qid, true_label, e.vec_id AS nid, e.label,
      |    unnest(qv) AS x, unnest(v) AS y
      |  FROM e JOIN q ON e.vec_id <> q.qid),
      |scored AS (SELECT qid, true_label, nid, label,
      |    sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
      |  FROM flat GROUP BY qid, true_label, nid, label),
      |ranked AS (SELECT qid, true_label, label, row_number() OVER (
      |    PARTITION BY qid ORDER BY round(sim, 6) DESC, nid ASC) AS rank
      |  FROM scored),
      |votes AS (SELECT qid, true_label, label, count(*) AS votes
      |  FROM ranked WHERE rank <= 5 GROUP BY 1, 2, 3),
      |best AS (SELECT qid, true_label, label, votes, row_number() OVER (
      |    PARTITION BY qid ORDER BY votes DESC, label ASC) AS r FROM votes)
      |SELECT qid, true_label, label AS pred_label, votes,
      |  (label = true_label) AS correct
      |FROM best WHERE r = 1""".stripMargin

  // ---------------------------------------------------------------- D20
  /** Hard-negative mining — the contrastive-training consumer of the
    * similarity stack: for each panel anchor, the top-3 most-similar
    * corpus vectors whose LABEL DIFFERS from the anchor's (the
    * "hard" negatives an embedding-model trainer pairs with each
    * anchor — random negatives are trivially separable; the
    * negatives that move the loss are the near-misses). Same
    * bounded-panel device as D1/D19 (fixed ≤ 40 anchors broadcast
    * against the corpus — O(panel·n), never n²); the label
    * disequality is a join-side filter so non-candidates never
    * reach the ranker. Ranking ties break on (rounded sim DESC, nid
    * ASC) — a total order on exact values, engine-deterministic.
    * Publishes per (anchor, rank): the negative's id/label, the
    * 4-dp similarity, and the anchor-vs-hardest margin a curriculum
    * schedule would threshold on. At 100 TB the corpus side stays a
    * single scan with the panel broadcast; nothing here is
    * corpus-pairwise.
    */
  def qHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    // norm hoist (norm2Row/cosinePre parity contract) — see
    // qAnnBruteforce
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", VectorFunctions.norm2Row(col("v")))
    val q = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < PanelIdCap)
      .select(col("vec_id").as("qid"), col("label").as("anchor_label"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = e.join(broadcast(q),
        col("vec_id") =!= col("qid") && col("label") =!= col("anchor_label"))
      .select(col("qid"), col("anchor_label"), col("vec_id").as("nid"),
        col("label").as("neg_label"),
        VectorFunctions.cosinePre(col("qv"), col("v"),
          col("qnrm"), col("nrm")).as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("sim"), 6).desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .withColumn("hardest",
        max(round(col("sim"), 6)).over(Window.partitionBy(col("qid"))))
      .select(col("qid"), col("anchor_label"), col("nid"), col("neg_label"),
        col("rank"), round(col("sim"), 4).as("sim"),
        round(col("hardest") - round(col("sim"), 6), 6).as("margin_to_hardest"))
  }

  val qHardNegativesSql: String =
    raw"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS qid, label AS anchor_label, v AS qv FROM e
      |  WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
      |flat AS (SELECT qid, anchor_label, e.vec_id AS nid,
      |    e.label AS neg_label, unnest(qv) AS x, unnest(v) AS y
      |  FROM e JOIN q ON e.vec_id <> q.qid AND e.label <> q.anchor_label),
      |scored AS (SELECT qid, anchor_label, nid, neg_label,
      |    sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
      |  FROM flat GROUP BY qid, anchor_label, nid, neg_label),
      |ranked AS (SELECT qid, anchor_label, nid, neg_label, sim,
      |    row_number() OVER (
      |      PARTITION BY qid ORDER BY round(sim, 6) DESC, nid ASC) AS rank
      |  FROM scored),
      |top3 AS (SELECT *, max(round(sim, 6)) OVER (PARTITION BY qid)
      |    AS hardest
      |  FROM ranked WHERE rank <= 3)
      |SELECT qid, anchor_label, nid, neg_label, rank,
      |  round(sim, 4) AS sim,
      |  round(hardest - round(sim, 6), 6) AS margin_to_hardest
      |FROM top3""".stripMargin

  // ---------------------------------------------------------------- D21
  /** Triplet mining — the (anchor, positive, negative) assembly a
    * metric-learning trainer consumes, completing D20: per panel
    * anchor, positive = nearest SAME-label vector (leave-one-out),
    * negative = nearest DIFFERENT-label vector, plus the margin and
    * the SEMI-HARD flag (Schroff et al. 2015: the informative
    * negatives sit inside [sim_pos − 0.05, sim_pos] — farther than
    * the positive but violating the margin; easy negatives teach
    * nothing, hardest ones destabilize). ONE scored pass serves both
    * roles (two windows over the same bounded panel×corpus frame);
    * ties (rounded sim DESC, nid ASC); margin = difference of the
    * two 6-dp-rounded sims, deterministic in both engines. O(panel·n)
    * — never corpus-pairwise.
    */
  def qTripletMining(spark: SparkSession, dir: String): DataFrame = {
    // norm hoist (norm2Row/cosinePre parity contract) — see
    // qAnnBruteforce
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", VectorFunctions.norm2Row(col("v")))
    val q = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < PanelIdCap)
      .select(col("vec_id").as("qid"), col("label").as("anchor_label"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("anchor_label"), col("vec_id").as("nid"),
        col("label"),
        round(VectorFunctions.cosinePre(col("qv"), col("v"),
          col("qnrm"), col("nrm")), 6).as("sim"))
    val ranked = scored
      .withColumn("is_pos", col("label") === col("anchor_label"))
      .withColumn("rp", row_number().over(
        Window.partitionBy(col("qid"), col("is_pos"))
          .orderBy(col("sim").desc, col("nid").asc)))
      .filter(col("rp") === 1)
    val pos = ranked.filter(col("is_pos"))
      .select(col("qid"), col("anchor_label"),
        col("nid").as("pos_id"), col("sim").as("pos_sim"))
    val neg = ranked.filter(!col("is_pos"))
      .select(col("qid"), col("nid").as("neg_id"),
        col("label").as("neg_label"), col("sim").as("neg_sim"))
    // publish the 6-dp sims AS RANKED — re-rounding an already-6-dp
    // value to 4 dp lands every 50th 6-dp grid point exactly ON a
    // 4-dp midpoint, where Spark's exact-expansion HALF_UP and
    // DuckDB's scaled round disagree (measured: pos_sim 0.38835 →
    // 0.3883 vs 0.3884 at sf0.1). One round per hashed cell, ever.
    pos.join(neg, "qid")
      .select(col("qid"), col("anchor_label"),
        col("pos_id"), col("pos_sim"),
        col("neg_id"), col("neg_label"), col("neg_sim"),
        round(col("pos_sim") - col("neg_sim"), 6).as("margin"),
        (col("neg_sim") > col("pos_sim") - 0.05).as("semi_hard"))
  }

  val qTripletMiningSql: String =
    raw"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS qid, label AS anchor_label, v AS qv FROM e
      |  WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
      |flat AS (SELECT qid, anchor_label, e.vec_id AS nid, e.label,
      |    unnest(qv) AS x, unnest(v) AS y
      |  FROM e JOIN q ON e.vec_id <> q.qid),
      |scored AS (SELECT qid, anchor_label, nid, label,
      |    round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS sim
      |  FROM flat GROUP BY qid, anchor_label, nid, label),
      |ranked AS (SELECT *, label = anchor_label AS is_pos,
      |    row_number() OVER (PARTITION BY qid, label = anchor_label
      |      ORDER BY sim DESC, nid ASC) AS rp
      |  FROM scored),
      |pos AS (SELECT qid, anchor_label, nid AS pos_id, sim AS pos_sim
      |  FROM ranked WHERE is_pos AND rp = 1),
      |neg AS (SELECT qid, nid AS neg_id, label AS neg_label,
      |    sim AS neg_sim
      |  FROM ranked WHERE NOT is_pos AND rp = 1)
      |SELECT p.qid, p.anchor_label,
      |  pos_id, pos_sim,
      |  neg_id, neg_label, neg_sim,
      |  round(pos_sim - neg_sim, 6) AS margin,
      |  neg_sim > pos_sim - 0.05 AS semi_hard
      |FROM pos p JOIN neg n ON p.qid = n.qid""".stripMargin

  // ---------------------------------------------------------------- D10
  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998) — the diversity step between ANN retrieval and a
    * RAG/labeling consumer: plain top-k returns near-duplicates of
    * one good hit; MMR greedily picks argmax λ·rel(c) −
    * (1−λ)·max_{s∈S} sim(c, s), trading relevance against redundancy
    * (λ=0.7, 3 unrolled selection steps over the top-10 candidate
    * pool per panel query). Everything after retrieval is bounded BY
    * CONSTRUCTION: 10 candidates/query ⇒ ≤ 90 candidate-candidate
    * sims/query, each greedy step one argmax aggregate (max(struct))
    * — no window, no iteration state. Parity is EXACT-INTEGER: the
    * 6-dp relevance/similarity values scale to micro-unit longs and
    * λ=0.7 becomes the (7, 3)/10 blend 7·rel6 − 3·sim6, so every
    * argmax compares longs (a double blend of 6-dp inputs is a 7-dp
    * decimal — a built-in round() knife edge, caught at sf0.01);
    * ties break on nid. Published score = blend/1e7.
    */
  val MmrLambda = 0.7

  def qMmrDiversify(spark: SparkSession, dir: String): DataFrame = {
    // norm hoist (norm2Row/cosinePre parity contract) — see
    // qAnnBruteforce
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", VectorFunctions.norm2Row(col("v")))
    val q = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < PanelIdCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    // rank on the NARROW (qid, nid, rel) stream — the old plan
    // dragged the 64-double candidate vector through the rank
    // window's exchange+sort (§8 of the optimization playbook: decide
    // on a lightweight proxy, attach the payload after); the bounded
    // top-10 re-attaches v via one broadcast hash join against the
    // same scan
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round(VectorFunctions.cosinePre(col("qv"), col("v"),
          col("qnrm"), col("nrm")), 6).as("rel"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rel").desc, col("nid").asc)
    val top = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("nid"), col("rel"))
    mmrOver(e.select(col("vec_id").as("nid"), col("v"))
      .join(broadcast(top), Seq("nid"))
      .select(col("qid"), col("nid"), col("rel"), col("v")))
  }

  /** D10b: MMR over the PRODUCTION retrieval path — the same greedy
    * diversity selection, but the candidate pool is the IVF+PQ
    * shortlist's exact-reranked top-10 ([[ivfPqScored]]) instead of a
    * full-corpus cosine scan. This is the composition a 100 TB
    * deployment actually runs: probes bound the scan, ADC scores the
    * probed cells, exact rerank touches √n-ish vectors, and MMR then
    * pays only the bounded 10-candidate pool per query — nothing in
    * the diversity step ever sees the corpus. Oracle: the full IVF+PQ
    * replay chain feeding the exact-integer MMR tail.
    */
  def qMmrAnn(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("sim"), 6).desc, col("nid").asc)
    mmrOver(ivfPqScored(spark, dir, nlist = 16, nprobe = 12, shortlistOverride = 0)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("nid"), round(col("sim"), 6).as("rel"), col("v")))
  }

  /** The shared greedy-MMR core over a bounded candidate pool
    * (qid, nid, rel 6-dp, v): 3 unrolled exact-integer argmax steps —
    * see [[qMmrDiversify]] for the arithmetic contract. */
  private def mmrOver(cands0: DataFrame): DataFrame = {
    val cands = cands0.cache()
    val cc = cands.as("a")
      .join(cands.as("b"),
        col("a.qid") === col("b.qid") && col("a.nid") =!= col("b.nid"))
      .select(col("a.qid").as("qid"), col("a.nid").as("ci"),
        col("b.nid").as("cj"),
        round(VectorFunctions.cosine(col("a.v"), col("b.v")), 6).as("s"))
    // EXACT integer scoring in tenth-micro units: rel/sims are 6-dp
    // decimals, so rel6 = rel*1e6 is an exact long and the MMR blend
    // 0.7*rel - 0.3*sim becomes 7*rel6 - 3*sim6 — zero float surface
    // in every argmax (a double blend of 6-dp inputs is a 7-dp
    // decimal, i.e. a built-in rounding knife edge; caught at sf0.01)
    val c6 = cands.withColumn("rel6", round(col("rel") * 1e6).cast("long"))
    val cc6 = cc.withColumn("s6", round(col("s") * 1e6).cast("long"))
    def argmax(df: DataFrame, score: String, sel: String, out: String) =
      df.groupBy(col("qid"))
        .agg(max(struct(col(score), (-col(sel)).cast("long").as("m"))).as("t"))
        .select(col("qid"), (-col(s"t.m")).as(out),
          col(s"t.$score").as(s"${out}_sc"))
    val s1 = argmax(c6.withColumn("sc1", col("rel6") * 10), "sc1", "nid", "p1")
    val r2 = c6.join(s1, "qid").filter(col("nid") =!= col("p1"))
      .join(cc6.select(col("qid"), col("ci").as("nid"),
        col("cj").as("p1"), col("s6").as("sim1")), Seq("qid", "nid", "p1"))
      .withColumn("sc2", col("rel6") * 7 - col("sim1") * 3)
    val s2 = argmax(r2, "sc2", "nid", "p2")
    val r3 = c6.join(s1, "qid").join(s2, "qid")
      .filter(col("nid") =!= col("p1") && col("nid") =!= col("p2"))
      .join(cc6.select(col("qid"), col("ci").as("nid"),
        col("cj").as("p1"), col("s6").as("sim1")), Seq("qid", "nid", "p1"))
      .join(cc6.select(col("qid"), col("ci").as("nid"),
        col("cj").as("p2"), col("s6").as("sim2")), Seq("qid", "nid", "p2"))
      .withColumn("sc3", col("rel6") * 7 - greatest(col("sim1"), col("sim2")) * 3)
    val s3 = argmax(r3, "sc3", "nid", "p3")
    def out(df: DataFrame, rank: Int, p: String) =
      df.select(col("qid"), lit(rank).as("mmr_rank"), col(p).as("nid"),
        (col(s"${p}_sc").cast("double") / 1e7).as("score"))
    // materialize the 3-row-per-query result, then release the
    // candidate cache (session hygiene: bench sessions run hundreds
    // of queries; only the result frame stays resident). The result
    // cache is INTENTIONALLY left to the session: it is ≤ 3 rows per
    // panel query (bounded by PanelIdCap, not the corpus), the caller
    // reads it after return so unpersisting here would re-run the
    // chain, and Bench/Verify clear the catalog cache between queries
    // so repeated invocations do not accumulate across a run.
    val res = out(s1, 1, "p1").union(out(s2, 2, "p2"))
      .union(out(s3, 3, "p3")).cache()
    res.count()
    cands.unpersist()
    res
  }

  /** The MMR selection chain as SQL, composable over ANY pool: assumes
    * CTEs `e(vec_id, v DOUBLE[])` (candidate vectors) and
    * `cands(qid, nid, rel)` (the bounded pool, rel 6-dp) are already
    * defined — [[qMmrDiversifySql]] feeds it the brute-force pool,
    * [[mmrAnnSql]] the full IVF+PQ replay chain.
    */
  private val mmrSqlTail: String =
    raw"""cflat AS (SELECT a.qid, a.nid AS ci, b.nid AS cj,
      |    unnest(ea.v) AS x, unnest(eb.v) AS y
      |  FROM cands a JOIN cands b ON a.qid = b.qid AND a.nid <> b.nid
      |  JOIN e ea ON a.nid = ea.vec_id JOIN e eb ON b.nid = eb.vec_id),
      |cc AS (SELECT qid, ci, cj,
      |    round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS s
      |  FROM cflat GROUP BY qid, ci, cj),
      |c6 AS (SELECT qid, nid, CAST(round(rel * 1e6) AS BIGINT) AS rel6 FROM cands),
      |cc6 AS (SELECT qid, ci, cj, CAST(round(s * 1e6) AS BIGINT) AS s6 FROM cc),
      |s1 AS (SELECT qid, first(nid ORDER BY rel6 DESC, nid ASC) AS p1,
      |    first(rel6 * 10 ORDER BY rel6 DESC, nid ASC) AS score1
      |  FROM c6 GROUP BY qid),
      |r2 AS (SELECT c.qid, c.nid, c.rel6 * 7 - cc6.s6 * 3 AS sc2
      |  FROM c6 c JOIN s1 ON c.qid = s1.qid AND c.nid <> s1.p1
      |  JOIN cc6 ON cc6.qid = c.qid AND cc6.ci = c.nid AND cc6.cj = s1.p1),
      |s2 AS (SELECT qid, first(nid ORDER BY sc2 DESC, nid ASC) AS p2,
      |    first(sc2 ORDER BY sc2 DESC, nid ASC) AS score2
      |  FROM r2 GROUP BY qid),
      |r3 AS (SELECT c.qid, c.nid,
      |    c.rel6 * 7 - greatest(c1.s6, c2.s6) * 3 AS sc3
      |  FROM c6 c JOIN s1 ON c.qid = s1.qid AND c.nid <> s1.p1
      |  JOIN s2 ON c.qid = s2.qid AND c.nid <> s2.p2
      |  JOIN cc6 c1 ON c1.qid = c.qid AND c1.ci = c.nid AND c1.cj = s1.p1
      |  JOIN cc6 c2 ON c2.qid = c.qid AND c2.ci = c.nid AND c2.cj = s2.p2),
      |s3 AS (SELECT qid, first(nid ORDER BY sc3 DESC, nid ASC) AS p3,
      |    first(sc3 ORDER BY sc3 DESC, nid ASC) AS score3
      |  FROM r3 GROUP BY qid)
      |SELECT qid, 1 AS mmr_rank, p1 AS nid, CAST(score1 AS DOUBLE) / 1e7 AS score FROM s1
      |UNION ALL SELECT qid, 2, p2, CAST(score2 AS DOUBLE) / 1e7 FROM s2
      |UNION ALL SELECT qid, 3, p3, CAST(score3 AS DOUBLE) / 1e7 FROM s3""".stripMargin

  val qMmrDiversifySql: String =
    raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
      |flat AS (SELECT qid, e.vec_id AS nid, unnest(qv) AS x, unnest(v) AS y
      |  FROM e JOIN q ON e.vec_id <> q.qid),
      |scored AS (SELECT qid, nid,
      |    round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS rel
      |  FROM flat GROUP BY qid, nid),
      |cands AS (SELECT qid, nid, rel FROM (
      |    SELECT qid, nid, rel, row_number() OVER (
      |      PARTITION BY qid ORDER BY rel DESC, nid ASC) AS rank
      |    FROM scored) WHERE rank <= 10),
      |$mmrSqlTail""".stripMargin

  // ---------------------------------------------------------------- D11
  /** NDCG@5 of the LSH ANN ranking against brute-force truth — THE
    * standard graded ranking-quality metric, and stricter than D2's
    * recall (recall says the right items were found; NDCG says they
    * were found in the right ORDER, weighted by how similar they
    * actually are). Gains are the 4-dp published cosines (the
    * hash-proven output surface of both rankings); discounts
    * 1/log2(rank+1); per-term 10-dp round before the sum, 6-dp
    * boundary (F27 layered-rounding discipline). Per panel query:
    * DCG of the LSH top-5, ideal DCG from the exact top-5, their
    * ratio. Bounded: ≤ 5 rows per panel query on each side.
    */
  def qNdcg(spark: SparkSession, dir: String): DataFrame = {
    def dcgOf(df: DataFrame, out: String): DataFrame = df
      .withColumn("term",
        round(col("sim") / log2(col("rank") + 1), 10))
      .groupBy(col("qid"))
      .agg(round(sum(col("term")), 6).as(out))
    val ideal = dcgOf(qAnnBruteforce(spark, dir), "idcg")
    val got = dcgOf(
      qAnnLsh(spark, dir)
        .filter(col("qid") % 50 === 0 && col("qid") < PanelIdCap)
        .select(col("qid"), col("rank"), col("sim")), "dcg")
    ideal.join(got, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("dcg"), lit(0.0)).as("dcg"),
        col("idcg"),
        when(col("idcg") <= 0, lit(null).cast("double"))
          .otherwise(round(coalesce(col("dcg"), lit(0.0)) / col("idcg"), 6))
          .as("ndcg"))
  }

  def qNdcgSql: String =
    s"""WITH bf AS (SELECT * FROM ($qAnnBruteforceSql)),
      |lsh AS (SELECT * FROM ($qAnnLshSql)
      |  WHERE qid % 50 = 0 AND qid < $PanelIdCap),
      |ideal AS (SELECT qid,
      |    round(sum(round(sim / log2(rank + 1), 10)), 6) AS idcg
      |  FROM bf GROUP BY qid),
      |got AS (SELECT qid,
      |    round(sum(round(sim / log2(rank + 1), 10)), 6) AS dcg
      |  FROM lsh GROUP BY qid)
      |SELECT i.qid, coalesce(g.dcg, 0.0) AS dcg, i.idcg,
      |  CASE WHEN i.idcg <= 0 THEN NULL
      |    ELSE round(coalesce(g.dcg, 0.0) / i.idcg, 6) END AS ndcg
      |FROM ideal i LEFT JOIN got g ON i.qid = g.qid""".stripMargin

  // ---------------------------------------------------------------- D14
  /** Recall@k curve of BOTH approximate retrieval stacks (multi-table
    * LSH and IVF+PQ) against brute-force truth, for k ∈ 1,3,5 — the
    * headline ANN quality number as a first-class, oracle-replayed
    * query instead of a spec assertion: per method and cutoff, the
    * fraction of the exact top-k recovered, averaged over the panel.
    * recall@1 isolates the nearest-neighbor hit rate (the hardest
    * case — rerank ties at 6 dp break identically in both engines by
    * the nid tiebreak), recall@5 is the published floor the D2 spec
    * asserts at 0.8. All counting is exact integers (total top-k
    * intersections over the panel), one division per output row;
    * every side is panel-bounded (≤ 5 rows per query per method).
    * The oracle replays the ENTIRE chain — LSH bucketing, IVF probe,
    * PQ codes, exact rerank — from the same persisted index tables
    * as D2/D5, then recomputes the intersection counts itself.
    */
  def qRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    val truth = qAnnBruteforce(spark, dir)
      .select(col("qid"), col("nid"), col("rank").as("tr"))
    val grid = spark.range(1).select(
      explode(array(lit(1), lit(3), lit(5))).as("k"))
    val nq = truth.agg(countDistinct(col("qid")).as("n_queries"))
    def curve(name: String, ap: DataFrame): DataFrame = {
      val j = ap.select(col("qid"), col("nid"), col("rank").as("ar"))
        .join(truth, Seq("qid", "nid"))
      val h = j.crossJoin(broadcast(grid))
        .filter(col("ar") <= col("k") && col("tr") <= col("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("hits"))
      grid.join(h, Seq("k"), "left").na.fill(0L, Seq("hits"))
        .crossJoin(broadcast(nq))
        .select(lit(name).as("method"), col("k"), col("n_queries"),
          col("hits"),
          round(col("hits").cast("double") / (col("k") * col("n_queries")), 6)
            .as("mean_recall"))
    }
    val panel = col("qid") % 50 === 0 && col("qid") < PanelIdCap
    curve("lsh", qAnnLsh(spark, dir).filter(panel))
      .unionAll(curve("ivfpq", qAnnIvfPq(spark, dir).filter(panel)))
  }

  private def recallCurveSql(lshSql: String, ivfpqSql: String): String =
    s"""WITH bf AS (SELECT qid, nid, rank AS tr FROM ($qAnnBruteforceSql)),
      |grid AS (SELECT unnest([1, 3, 5]) AS k),
      |nq AS (SELECT count(DISTINCT qid) AS n_queries FROM bf),
      |lsh AS (SELECT qid, nid, rank AS ar FROM ($lshSql)
      |  WHERE qid % 50 = 0 AND qid < $PanelIdCap),
      |ivfpq AS (SELECT qid, nid, rank AS ar FROM ($ivfpqSql)
      |  WHERE qid % 50 = 0 AND qid < $PanelIdCap),
      |hl AS (SELECT g.k, count(*) AS hits
      |  FROM lsh a JOIN bf ON a.qid = bf.qid AND a.nid = bf.nid
      |  JOIN grid g ON a.ar <= g.k AND bf.tr <= g.k GROUP BY 1),
      |hp AS (SELECT g.k, count(*) AS hits
      |  FROM ivfpq a JOIN bf ON a.qid = bf.qid AND a.nid = bf.nid
      |  JOIN grid g ON a.ar <= g.k AND bf.tr <= g.k GROUP BY 1)
      |SELECT 'lsh' AS method, g.k, n_queries,
      |  CAST(coalesce(hl.hits, 0) AS BIGINT) AS hits,
      |  round(CAST(coalesce(hl.hits, 0) AS DOUBLE) / (g.k * n_queries), 6)
      |    AS mean_recall
      |FROM grid g LEFT JOIN hl ON g.k = hl.k, nq
      |UNION ALL
      |SELECT 'ivfpq' AS method, g.k, n_queries,
      |  CAST(coalesce(hp.hits, 0) AS BIGINT) AS hits,
      |  round(CAST(coalesce(hp.hits, 0) AS DOUBLE) / (g.k * n_queries), 6)
      |    AS mean_recall
      |FROM grid g LEFT JOIN hp ON g.k = hp.k, nq""".stripMargin

  /** Exact top-5 id pairs for the sampled query panel (vec_id % 50 == 0)
    * — the ground truth both approximate variants measure themselves
    * against. Small by construction (2% of vectors × 5 rows).
    */
  private def bruteforceTop5(spark: SparkSession, dir: String): DataFrame =
    qAnnBruteforce(spark, dir).select(col("qid"), col("nid"))

  /** Join a per-query `recall_at_5` column (fraction of the exact top-5
    * recovered) onto an approximate top-5 result. Recall is measured on
    * the sampled query panel; other query ids carry null. This makes
    * the rows-only driver check carry a real quality number instead of
    * an unverifiable row count.
    */
  private def withRecall(approx: DataFrame, truth: DataFrame): DataFrame = {
    // the truth panel is bounded (2% query sample × 5 rows) — hint it
    // so the recall join can NEVER degrade to a shuffle join (r17: an
    // unhinted bounded join planned SMJ or broadcast depending on
    // session state, moving executed-plan exchange counts ±2 between
    // the pin harness and the full suite)
    val rec = approx.join(broadcast(truth), Seq("qid", "nid"), "left_semi")
      .groupBy(col("qid"))
      .agg((count(lit(1)) / 5.0).as("recall_at_5"))
    val sampled = truth.select(col("qid")).distinct()
      .join(rec, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("recall_at_5"), lit(0.0)).as("recall_at_5"))
    approx.join(broadcast(sampled), Seq("qid"), "left")
  }

  /** Random-hyperplane LSH bucketed ANN ([r] — approximate, checked by
    * recall spec against the brute-force baseline, not by oracle).
    *
    * Hyperplane components are a deterministic LCG over (plane, dim)
    * ([[graft.functions.Hyperplanes]]) — reproducible across runs with
    * no stored model. MULTI-TABLE (OR-amplified) LSH: each vector maps
    * to [[AnnNBands]] independent `nPlanes`-bit buckets; a pair is a
    * candidate if it collides in ANY table, and candidates are exactly
    * cosine-scored once. A single table recovers almost none of the
    * exact top-5 (measured recall@5 ~0.07) — OR-ing independent tables
    * is the standard recall amplifier, at a candidate-mass cost linear
    * in the table count.
    *
    * 100 TB design: `nPlanes` is DERIVED from the corpus size so the
    * expected bucket population stays at `targetBucket` at any scale —
    * a fixed plane count meant bucket population (and so the
    * within-bucket self-join) grew linearly with the corpus. Buckets
    * that still exceed [[AnnBucketCap]] (degenerate directions the
    * sign bits cannot split) are excluded outright, as in SimHash
    * banding: one oversized bucket would concentrate quadratic pair
    * generation into one task. Candidate work per vector is bounded by
    * AnnNBands × AnnBucketCap at any corpus size; both sides shuffle
    * once on (band, bucket).
    *
    * Defaults (32 tables × ~32-vector buckets, cap 128) are the
    * recall/cost dial set for mean recall@5 >= 0.8 on the synthetic
    * corpus — whose true top-5 neighbors sit at cosine ~0.27-0.49,
    * i.e. near-random data, the HARD case for sign-LSH (measured
    * 0.98 at 500 vectors, 0.845 at 2000; spec-asserted floor 0.8).
    * Lower nBands/targetBucket for cheaper, lower-recall search.
    */
  val AnnBucketCap = 128
  val AnnNBands = 32
  val AnnTargetBucket = 32

  /** (vec_id, v, band, bucket) multi-table LSH assignment — the
    * blocking relation (exposed for the SimilaritySpec bucket-bound
    * assertion). All band values come out of one fused codegen
    * evaluation; posexplode keys each table's bucket by its band id.
    */
  def lshBuckets(spark: SparkSession, dir: String, targetBucket: Int = AnnTargetBucket,
      nBands: Int = AnnNBands): DataFrame = {
    import graft.functions.Hyperplanes
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // floor 4 (not 8): the floor only binds at tiny corpora, where 8
    // bits splinters a few hundred vectors into near-singleton buckets
    // and recall collapses; from ~16×targetBucket vectors up, the
    // corpus-derived term governs and expected population stays at
    // targetBucket
    val nPlanes = Hyperplanes.bitsFor(
      Tables.Probe.embeddingsCount(spark, dir), targetBucket, floor = 4)
    e.select(col("vec_id"), col("v"),
        posexplode(Hyperplanes.allBands(col("v"), nBands, nPlanes)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  def qAnnLsh(spark: SparkSession, dir: String, targetBucket: Int = AnnTargetBucket,
      nBands: Int = AnnNBands, bucketCap: Int = AnnBucketCap): DataFrame = {
    val bucketed0 = lshBuckets(spark, dir, targetBucket, nBands)
    val hot = bucketed0.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n")).filter(col("n") > bucketCap)
      .select(col("band").as("hband"), col("bucket").as("hb"))
    // §8 payload discipline (r17): the multi-table pair generation
    // used to drag the 64-double vector through BOTH sides of the
    // (band, bucket) self-join — ~32 copies of every vector shuffled
    // — and scored each pair once PER COLLIDING TABLE (max() then
    // collapsed identical values). Now only (vec_id, band, bucket)
    // enters pair generation, candidates dedup FIRST, and each unique
    // pair is scored exactly once by re-attaching vectors with two
    // keyed joins (the C5 qEmbeddingNeardup shape). Same pairs, same
    // sims, same top-5.
    val bucketed = bucketed0.select(col("vec_id"), col("band"), col("bucket"))
      .join(broadcast(hot),
        col("band") === col("hband") && col("bucket") === col("hb"), "left_anti")
    val uniq0 = bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"),
        col("a.bucket").as("bucket"))
      .groupBy(col("qid"), col("nid"))
      .agg(min(col("bucket")).as("bucket"))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", VectorFunctions.norm2Row(col("v")))
    val uniq = uniq0
      .join(e.select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm")), Seq("qid"))
      .join(e.select(col("vec_id").as("nid"), col("v"), col("nrm")),
        Seq("nid"))
      .select(col("qid"), col("nid"), col("bucket"),
        VectorFunctions.cosinePre(col("qv"), col("v"),
          col("qnrm"), col("nrm")).as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("sim"), 6).desc, col("nid").asc)
    val top = uniq.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("nid"), col("rank"), col("bucket"),
        round(col("sim"), 4).as("sim"))
    withRecall(top, bruteforceTop5(spark, dir))
  }

  /** Persisted NSW-style search graph (the HNSW-class alternative to
    * IVF/PQ/LSH — the high-recall single-structure path: Malkov &
    * Yashunin's navigable-small-world idea reduced to its
    * Spark-expressible core). The ARTIFACT is a symmetric
    * bounded-degree neighbor graph over the embedding corpus: each
    * vector links to its top-[[NswM]] cosine neighbors among
    * LSH-blocked candidates (never all-pairs — the C5 blocking
    * device with [[NswBuildBands]] tables), symmetrized so search can
    * enter from either endpoint. Queries run GREEDY BEAM SEARCH over
    * the stored edges: start from a fixed entry panel, expand the
    * beam's neighbors, keep the top-[[NswBeam]] by cosine, repeat
    * [[NswHops]] rounds — each hop touches ≤ beam·(2M+1) candidates
    * per query at ANY corpus size, so query cost is O(hops·beam·M)
    * scores plus one broadcast-hash probe of the edge table per hop.
    *
    * 100 TB design: the edge table is ≤ 2M·n rows, written once per
    * corpus state (a [[graft.Store]]);
    * per-hop the beam (panel-bounded) broadcasts against it. A real
    * single-shard HNSW holds this graph in RAM and descends layers;
    * the flat stored-graph beam search is the distributed analogue —
    * layers add only an entry-point shortcut, which the fixed entry
    * panel stands in for. The oracle replays the ENTIRE search —
    * entry, every hop, final ranking — from the persisted edges in
    * DuckDB, so the query path is cell-exact, not just recall-bounded.
    */
  object NswIndex {
    import java.util.concurrent.atomic.AtomicInteger

    /** Directed out-degree of the build (symmetrized afterwards). */
    val NswM = 16
    /** LSH tables for build-time candidate generation — the build
      * cost dial: candidates per vector ≤ bands × bucket cap. */
    val NswBuildBands = 16

    val buildCount = new AtomicInteger(0)
    val lastLoc = new java.util.concurrent.atomic.AtomicReference[String](null)

    // bucketed by src (the D3/IVF pattern): the edge table is
    // corpus-proportional (≈ 2M·|corpus| rows)
    private val Edges = Store.Artifact(columns = "src BIGINT, dst BIGINT",
      bucket = Some(("src", IvfIndex.IvfBuckets)))

    private val store = new Store("nsw", "embeddings", s"${NswM}_${NswBuildBands}_",
        Seq(Edges))((spark, dir, at) => {
      buildCount.incrementAndGet()
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val bucketed0 = lshBuckets(spark, dir, nBands = NswBuildBands)
      val hot = bucketed0.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("n")).filter(col("n") > AnnBucketCap)
        .select(col("band").as("hband"), col("bucket").as("hb"))
      val bucketed = bucketed0.join(broadcast(hot),
        col("band") === col("hband") && col("bucket") === col("hb"),
        "left_anti")
      val cand = bucketed.as("a")
        .join(bucketed.as("b"),
          col("a.band") === col("b.band") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
        .distinct()
      val sims = cand
        .join(e.as("x"), col("id1") === col("x.vec_id"))
        .join(e.as("y"), col("id2") === col("y.vec_id"))
        .select(col("id1"), col("id2"),
          VectorFunctions.cosine(col("x.v"), col("y.v")).as("sim"))
      val sym = sims.select(col("id1").as("src"), col("id2").as("dst"),
          col("sim"))
        .union(sims.select(col("id2").as("src"), col("id1").as("dst"),
          col("sim")))
      val bySim = Window.partitionBy(col("src"))
        .orderBy(round(col("sim"), 6).desc, col("dst").asc)
      val top = sym.withColumn("r", row_number().over(bySim))
        .filter(col("r") <= NswM).select(col("src"), col("dst"))
      // symmetric closure: search must be able to walk an edge
      // from EITHER endpoint even when the pick was one-sided.
      // Bucketed parallel write: a coalesce(1) single-writer funnel
      // here is the difference between a one-stage parallel write and
      // a 10¹⁰-row single-task file at n = 10⁹
      at.write(top.union(top.select(col("dst").as("src"), col("src").as("dst")))
        .distinct(), Edges)
    })

    def ensure(spark: SparkSession, dir: String): String = {
      val at = store.ensure(spark, dir)
      lastLoc.set(at.path(Edges))
      at.table(Edges)
    }
  }

  /** D18: graph-ANN via beam search over the persisted NSW edges —
    * see [[NswIndex]]. Entry = the [[NswEntry]] smallest vec_ids
    * scored against each panel query (deterministic, no stored entry
    * point); [[NswHops]] expand-score-prune rounds; publishes the
    * final top-5 exactly like D1 so recall audits compose. Ranking
    * ties break on (6-dp sim DESC, nid ASC) at every round — the
    * whole trajectory is engine-deterministic, and the oracle
    * replays it hop-for-hop from the persisted artifact.
    */
  val NswBeam = 20
  val NswHops = 6
  val NswEntry = 64

  def qAnnNsw(spark: SparkSession, dir: String): DataFrame = {
    val t = NswIndex.ensure(spark, dir)
    val g = spark.table(t).cache()
    // cached: the hop loop scores against e every round — uncached,
    // the beam search re-scanned the embeddings parquet once per hop
    // (~NswHops+1 corpus reads; at 100 TB that is the whole cost)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .cache()
    val q = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < PanelIdCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    // leave-one-out: the query vector is itself a graph node and
    // would otherwise occupy a beam slot at sim=1.0, evicting one
    // true neighbor per query (measured: exactly rank-5 lost)
    def score(cand: DataFrame): DataFrame = {
      // candidate set is bounded by panel × (beam·M + beam) rows:
      // broadcast it so each hop is a broadcast-hash probe of the
      // cached embeddings, never a shuffle of the corpus side
      val c = broadcast(cand.filter(col("qid") =!= col("nid")))
      c.join(e, c("nid") === e("vec_id"))
        .join(broadcast(q), "qid")
        .select(col("qid"), col("nid"),
          VectorFunctions.cosine(col("qv"), col("v")).as("sim"))
    }
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("sim"), 6).desc, col("nid").asc)
    val entry = e.orderBy(col("vec_id")).limit(NswEntry)
      .select(col("vec_id").as("nid"))
    // each hop MATERIALIZES its beam (localCheckpoint): the candidate
    // derivation references the previous beam twice (graph join +
    // union), so an unmaterialized loop doubles the logical plan per
    // hop — 2^NswHops redundant re-execution by the last hop (the
    // clusterPairs checkpointing lesson). With materialization every
    // hop is one bounded broadcast probe of the cached embeddings.
    var beam = score(q.select(col("qid")).crossJoin(broadcast(entry)))
      .withColumn("r", row_number().over(w)).filter(col("r") <= NswBeam)
      .select(col("qid"), col("nid"), col("sim"))
      .localCheckpoint()
    for (_ <- 1 to NswHops) {
      val ids = beam.select(col("qid"), col("nid"))
      val cand = ids.join(g, ids("nid") === g("src"))
        .select(col("qid"), col("dst").as("nid"))
        .union(ids).distinct()
      beam = score(cand)
        .withColumn("r", row_number().over(w)).filter(col("r") <= NswBeam)
        .select(col("qid"), col("nid"), col("sim"))
        .localCheckpoint()
    }
    beam.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("nid"), col("rank"),
        round(col("sim"), 4).as("sim"))
  }

  /** Oracle for D18: the full beam-search trajectory replayed in SQL
    * over the persisted edge artifact — entry scoring, [[NswHops]]
    * unrolled expand-score-prune rounds, final top-5. */
  /** Shared beam-replay CTE builders (D18 NSW + D22 HNSW oracles). */
  private def nswScoreCtes(c: String, s: String): String =
    s"""fl_$s AS (SELECT c.qid, c.nid, unnest(q.qv) AS x, unnest(e.v) AS y
       |  FROM $c c JOIN q ON c.qid = q.qid JOIN e ON c.nid = e.vec_id
       |  WHERE c.qid <> c.nid),
       |$s AS (SELECT qid, nid,
       |    sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
       |  FROM fl_$s GROUP BY qid, nid)"""

  private def nswBeamCte(s: String, b: String, keep: Int): String =
    s"""$b AS (SELECT qid, nid, sim FROM (SELECT qid, nid, sim,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY round(sim, 6) DESC, nid ASC) AS r FROM $s)
       |  WHERE r <= $keep)"""

  private def nswHopCtes(nHops: Int): String =
    (1 to nHops).map { i =>
      s"""c$i AS (SELECT DISTINCT qid, nid FROM (
         |    SELECT b.qid, g.dst AS nid FROM b${i - 1} b JOIN g ON b.nid = g.src
         |    UNION ALL SELECT qid, nid FROM b${i - 1})),
         |${nswScoreCtes(s"c$i", s"s$i")},
         |${nswBeamCte(s"s$i", s"b$i", NswBeam)}"""
    }.mkString(",\n")

  private def annNswSql(loc: String): String =
    raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e
      |  WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
      |g AS (SELECT src, dst FROM read_parquet('$loc/*.parquet')),
      |ent AS (SELECT vec_id AS nid FROM e ORDER BY vec_id LIMIT $NswEntry),
      |c0 AS (SELECT qid, nid FROM q CROSS JOIN ent),
      |${nswScoreCtes("c0", "s0")},
      |${nswBeamCte("s0", "b0", NswBeam)},
      |${nswHopCtes(NswHops)}
      |SELECT qid, nid, r AS rank, round(sim, 4) AS sim
      |FROM (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
      |    ORDER BY round(sim, 6) DESC, nid ASC) AS r FROM b$NswHops)
      |WHERE r <= 5""".stripMargin

  // ---------------------------------------------------------------- D22
  /** HNSW-shape hierarchical graph-ANN: D18's single-layer NSW beam
    * search with a COARSE LAYER on top — the IVF centroids act as the
    * hierarchy's upper level (HNSW's log-layer tower collapsed to the
    * one coarse level a 16-cell quantizer provides): each query first
    * scores the 16 persisted centroids (layer-1 greedy step, broadcast
    * — exactly HNSW's upper-layer descent), enters layer 0 at its
    * nearest cell's [[HnswEntryPerCell]] smallest-id members, and runs
    * the SAME persisted-edge beam search with [[HnswHops]] = 4 hops
    * instead of D18's 6 — the hierarchy's entire point is that a
    * near-query entry needs fewer expand-score-prune rounds (at 10⁹
    * vectors the flat entry panel is ~everywhere-far from the query;
    * the cell entry is inside its Voronoi region). Same engine-parity
    * devices as D18: deterministic beams (round(sim,6) DESC, nid ASC),
    * leave-one-out, hop-wise localCheckpoint, broadcast-probe of the
    * cached embeddings; the oracle replays centroid choice, entry set
    * and all 4 rounds over the SAME persisted artifacts.
    */
  val HnswHops = 4
  val HnswEntryPerCell = 16

  def qAnnHnsw(spark: SparkSession, dir: String): DataFrame = {
    val t = NswIndex.ensure(spark, dir)
    val g = spark.table(t).cache()
    val (asg, cent) = IvfIndex.get(spark, dir, 16)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .cache()
    val q = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < PanelIdCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    def score(cand: DataFrame): DataFrame = {
      val c = broadcast(cand.filter(col("qid") =!= col("nid")))
      c.join(e, c("nid") === e("vec_id"))
        .join(broadcast(q), "qid")
        .select(col("qid"), col("nid"),
          VectorFunctions.cosine(col("qv"), col("v")).as("sim"))
    }
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("sim"), 6).desc, col("nid").asc)
    // layer 1: greedy step over the 16 broadcast centroids
    val byCell = Window.partitionBy(col("qid"))
      .orderBy(round(col("csim"), 6).desc, col("cell").asc)
    val top1 = q.crossJoin(broadcast(
        cent.select(col("cell"), col("cv").cast("array<double>").as("cv"))))
      .select(col("qid"), col("cell"),
        VectorFunctions.cosine(col("qv"), col("cv")).as("csim"))
      .withColumn("cr", row_number().over(byCell))
      .filter(col("cr") === 1).select(col("qid"), col("cell"))
    // layer-0 entry: the nearest cell's smallest-id members
    val entW = Window.partitionBy(col("cell")).orderBy(col("vec_id").asc)
    val entries = asg.select(col("cell"), col("vec_id"))
      .withColumn("er", row_number().over(entW))
      .filter(col("er") <= HnswEntryPerCell)
      .select(col("cell"), col("vec_id").as("nid"))
    var beam = score(top1.join(broadcast(entries), "cell")
        .select(col("qid"), col("nid")))
      .withColumn("r", row_number().over(w)).filter(col("r") <= NswBeam)
      .select(col("qid"), col("nid"), col("sim"))
      .localCheckpoint()
    for (_ <- 1 to HnswHops) {
      val ids = beam.select(col("qid"), col("nid"))
      val cand = ids.join(g, ids("nid") === g("src"))
        .select(col("qid"), col("dst").as("nid"))
        .union(ids).distinct()
      beam = score(cand)
        .withColumn("r", row_number().over(w)).filter(col("r") <= NswBeam)
        .select(col("qid"), col("nid"), col("sim"))
        .localCheckpoint()
    }
    beam.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("nid"), col("rank"),
        round(col("sim"), 4).as("sim"))
  }

  private def annHnswSql(loc: String, asgLoc: String,
      centLoc: String): String =
    raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e
      |  WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
      |g AS (SELECT src, dst FROM read_parquet('$loc/*.parquet')),
      |cent AS (SELECT cell, cv FROM read_parquet('$centLoc/*.parquet')),
      |asg AS (SELECT vec_id, cell FROM read_parquet('$asgLoc/*.parquet')),
      |l1fl AS (SELECT q.qid, c.cell, unnest(q.qv) AS x, unnest(c.cv) AS y
      |  FROM q CROSS JOIN cent c),
      |l1s AS (SELECT qid, cell,
      |    sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS csim
      |  FROM l1fl GROUP BY qid, cell),
      |top1 AS (SELECT qid, cell FROM (SELECT qid, cell,
      |    row_number() OVER (PARTITION BY qid
      |      ORDER BY round(csim, 6) DESC, cell ASC) AS cr FROM l1s)
      |  WHERE cr = 1),
      |ent AS (SELECT cell, vec_id AS nid FROM (SELECT cell, vec_id,
      |    row_number() OVER (PARTITION BY cell ORDER BY vec_id ASC) AS er
      |  FROM asg) WHERE er <= $HnswEntryPerCell),
      |c0 AS (SELECT t.qid, ent.nid FROM top1 t JOIN ent USING (cell)),
      |${nswScoreCtes("c0", "s0")},
      |${nswBeamCte("s0", "b0", NswBeam)},
      |${nswHopCtes(HnswHops)}
      |SELECT qid, nid, r AS rank, round(sim, 4) AS sim
      |FROM (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
      |    ORDER BY round(sim, 6) DESC, nid ASC) AS r FROM b$HnswHops)
      |WHERE r <= 5""".stripMargin

  /** Persistent IVF index: a seeded KMeans coarse quantizer whose
    * OUTPUT — the (vec_id, v, cell) assignment and the centroid set —
    * is written once as an EXTERNAL bucketed table (bucketed by cell)
    * plus a small centroids table, then read back on every query.
    * Index build is an offline, amortized step, never part of the
    * query path (round 1 refit on every invocation: 45.6s/query at
    * sf0.1; rounds 2-3 memoized the model but still rebuilt the
    * assignment per JVM).
    *
    * A [[graft.Store]] per nlist (a cold session re-registers the
    * declared DDL: no fit, no transform, no scan of the corpus).
    * Bucketing by cell means the probe→cell join reads only matching
    * buckets' partitions and the corpus side arrives pre-shuffled — at
    * 100 TB the assignment is exactly the write-once bucketed table a
    * vector warehouse ships.
    */
  object IvfIndex {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import java.util.concurrent.atomic.AtomicInteger

    val IvfBuckets = 8

    /** KMeans fits performed by this JVM (spec observability: a warm
      * query path must not increment it).
      */
    val fitCount = new AtomicInteger(0)

    /** (assignment dir, centroids dir) of the most recently ensured
      * index — the oracle builder inlines these absolute paths so
      * DuckDB replays the fit-free query path over the same persisted
      * index data (see [[Similarity.oracle]]).
      */
    val lastLoc = new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

    private val Asg = Store.Artifact(columns = "vec_id BIGINT, v ARRAY<DOUBLE>, cell INT",
      bucket = Some(("cell", IvfBuckets)))
    private val Cent = Store.Artifact("_cent", "cell INT, cv ARRAY<DOUBLE>")
    /** The nlist-row (cell, mn) norm augmentation, persisted WITH the
      * index (r16 verdict ask #1: the per-cell max norm is index STATE
      * computed at build time, never a per-query corpus aggregate). */
    private val Norm = Store.Artifact("_norm", "cell INT, mn DOUBLE")

    private def store(nlist: Int) = new Store("ivf", "embeddings", s"${nlist}_",
        Seq(Asg, Cent, Norm))((spark, dir, at) => {
      import org.apache.spark.ml.feature.Normalizer
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // spherical k-means: fit/assign on L2-normalized vectors so
      // the euclidean cell geometry matches the cosine ground truth
      // (cosine(a,b) = 1 - ||â-b̂||²/2); probing by cosine against
      // normalized-space centroids is consistent with assignment
      val feat = new Normalizer().setInputCol("features0")
        .setOutputCol("features").setP(2.0)
        .transform(e.withColumn("features0", array_to_vector(col("v"))))
      fitCount.incrementAndGet()
      val model = new KMeans().setK(nlist).setSeed(13).setMaxIter(10).fit(feat)
      at.write(model.transform(feat)
        .select(col("vec_id").cast("long").as("vec_id"), col("v"),
          col("prediction").cast("int").as("cell")), Asg)
      val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
        (i, c.toArray.toSeq)
      }
      at.write(spark.createDataFrame(centroids.toSeq).toDF("cell", "cv")
        .coalesce(1), Cent)
      // per-cell max vector norm, 6-dp-rounded BEFORE the max so the
      // probe key is the identical double in both engines (the D24
      // device): ONE map-side-combined pass over the just-written
      // assignment at build time — a per-query recompute is a
      // corpus-scale scan per call at 100 TB
      at.write(spark.table(at.table(Asg)).groupBy(col("cell"))
        .agg(max(round(VectorFunctions.norm2(col("v")), 6)).as("mn"))
        .coalesce(1), Norm)
    })

    private def ensure(spark: SparkSession, dir: String, nlist: Int): Store#At = {
      val at = store(nlist).ensure(spark, dir)
      lastLoc.set((at.path(Asg), at.path(Cent)))
      at
    }

    /** The persisted (cell, mn) norm-augmentation table — nlist rows. */
    def norms(spark: SparkSession, dir: String, nlist: Int): DataFrame =
      spark.table(ensure(spark, dir, nlist).table(Norm))

    /** (assigned corpus: vec_id, v, cell; centroids: cell, cv) */
    def get(spark: SparkSession, dir: String, nlist: Int): (DataFrame, DataFrame) = {
      val at = ensure(spark, dir, nlist)
      // cache the (small relative to the corpus) assignment for the
      // repeated probe/scan consumers within a session; materialize
      // before fan-out so AQE stages don't race a cold cache
      val assigned = spark.table(at.table(Asg)).cache()
      assigned.count()
      (assigned, spark.table(at.table(Cent)))
    }

    /** Drop the catalog entries but keep the on-disk index (external
      * tables) — simulates a cold session for specs.
      */
    def deregister(spark: SparkSession, dir: String, nlist: Int): Unit =
      store(nlist).deregister(spark, dir)

    /** Absorb an arriving vector batch INTO the index: nearest-centroid
      * assignment against the persisted centroids ([[assignVectors]] —
      * map-only, no fit) APPENDED to the bucketed assignment table, so
      * probes see the new vectors in their cells immediately. This is
      * the growth path between scheduled refits; the centroids stay
      * frozen (re-fitting them would reassign everything — exactly the
      * rebuild the staleness contract schedules). Each absorb lands new
      * bucket files; [[compactStore]] restores one-file-per-bucket.
      * Returns vectors appended.
      */
    def absorb(spark: SparkSession, dir: String, batch: DataFrame,
        nlist: Int = 16): Long = {
      val assigned = assignVectors(spark, dir, batch, nlist).cache()
      val n = assigned.count()
      val at = ensure(spark, dir, nlist)
      val t = at.table(Asg)
      assigned.write.mode("append").insertInto(t)
      // keep the norm augmentation true under growth: merge the BATCH's
      // per-cell maxima into the persisted table — a batch-sized
      // aggregate folded onto nlist rows (collect is the bounded-verdict
      // device: ≤ nlist rows, and the read must complete before the
      // same-location overwrite)
      val merged = spark.table(at.table(Norm))
        .unionByName(assigned.groupBy(col("cell"))
          .agg(max(round(VectorFunctions.norm2(col("v")), 6)).as("mn")))
        .groupBy(col("cell")).agg(max(col("mn")).as("mn"))
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
      assigned.unpersist()
      at.write(spark.createDataFrame(merged).toDF("cell", "mn").coalesce(1), Norm)
      // the get() path caches the table — must not serve the pre-append
      // snapshot
      spark.catalog.refreshTable(t)
      n
    }

    /** Compact the assignment table back to one data file per bucket
      * after a run of [[absorb]]s ([[graft.Store.compact]]), preserving
      * the cell bucket spec the probe→cell bucket pruning needs. Pure
      * layout rewrite — no fit ([[fitCount]] spec-pinned across it).
      * Returns the data-file count after compaction.
      */
    def compactStore(spark: SparkSession, dir: String, nlist: Int = 16): Int =
      store(nlist).compact(spark, ensure(spark, dir, nlist), Asg)
  }

  // ---------------------------------------------------------------- D6
  /** Incremental vector ingest: assign an ARRIVING batch of vectors to
    * IVF cells against the PERSISTED centroids — the C8b
    * sign-against-the-store contract for embeddings. MAP-ONLY: the
    * nlist-row centroid table broadcasts, each new vector computes its
    * nlist distances inline and keeps the argmin; no fit, no index
    * rebuild, no shuffle of the batch. At 100 TB this is how a vector
    * corpus grows between scheduled refits: batches stream through
    * nearest-centroid assignment and land in their cells' buckets.
    *
    * The assignment metric replicates the index fit exactly — squared
    * euclidean between the L2-NORMALIZED vector and the
    * normalized-space centroid: ||v̂||² − 2·v̂·c + ||c||² with
    * ||v̂||² = 1 (spherical-KMeans geometry, see [[IvfIndex.ensure]]).
    * The round-trip spec feeds vectors ALREADY in the index back
    * through this path and requires their persisted cells back —
    * any drift from Spark ML's assignment rule would surface there.
    * Ties break on (12-dp distance, cell) — deterministic.
    */
  def assignVectors(spark: SparkSession, dir: String,
      batch: DataFrame, nlist: Int = 16): DataFrame = {
    val (_, cent) = IvfIndex.get(spark, dir, nlist)
    val vb = batch.select(col("vec_id"), col("v").cast("array<double>").as("v"))
    val vn = VectorFunctions.norm2(col("v"))
    val vhat = when(vn > 0, transform(col("v"), x => x / vn)).otherwise(col("v"))
    vb.withColumn("vhat", vhat)
      .crossJoin(broadcast(cent.select(col("cell").as("c_cell"), col("cv"))))
      .withColumn("dist2",
        lit(1.0) - lit(2.0) * VectorFunctions.dot(col("vhat"), col("cv")) +
          VectorFunctions.dot(col("cv"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(min(struct(round(col("dist2"), 12).as("d"), col("c_cell").as("cell")))
        .as("m"), first(col("v")).as("v"))
      .select(col("vec_id"), col("v"), col("m.cell").as("cell"))
  }

  /** Persistent product-quantization index: the 64-dim space is split
    * into [[PqM]] subspaces of 8 dims; each subspace gets a seeded
    * [[PqK]]-code KMeans codebook, and every corpus vector is encoded
    * as M one-byte-class code ids — 8 small ints instead of 64 floats,
    * the 32× memory compression that lets a 100 TB vector corpus keep
    * its search structure in RAM. Codebooks (tiny) and codes (narrow)
    * persist as the external tables of a [[graft.Store]]. Vectors are L2-normalized before fit/encode so
    * inner-product ADC matches the cosine ground truth.
    */
  object PqIndex {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import java.util.concurrent.atomic.AtomicInteger

    val PqM = 8      // subspaces
    val PqK = 32     // codes per subspace
    val PqSubDim = 8 // dims per subspace

    /** KMeans fits performed by this JVM (M fits per index build). */
    val fitCount = new AtomicInteger(0)

    /** (codes dir, codebooks dir) of the most recently ensured index —
      * inlined into the oracle SQL (see [[Similarity.oracle]]).
      */
    val lastLoc = new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

    private[operators] def normalized(spark: SparkSession, dir: String): DataFrame =
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v0"))
        .select(col("vec_id"), transform(col("v0"), x =>
          x / sqrt(aggregate(col("v0"), lit(0.0), (a, y) => a + y * y))).as("v"))

    private val Codes = Store.Artifact(
      columns = "vec_id BIGINT, " + (0 until PqM).map(m => s"c$m INT").mkString(", "))
    private val Books = Store.Artifact("_book", "m INT, code INT, cv ARRAY<DOUBLE>")

    private val store = new Store("pq", "embeddings", s"${PqM}x${PqK}_",
        Seq(Codes, Books))((spark, dir, at) => {
      val base = normalized(spark, dir).cache()
      base.count()
      // one seeded fit per subspace; each fit sees only its 8-dim
      // slice. M model objects live on the driver (tiny); encoding
      // runs as M chained transforms over one cached scan.
      val models = (0 until PqM).map { m =>
        fitCount.incrementAndGet()
        val sub = base.select(col("vec_id"),
          array_to_vector(slice(col("v"), m * PqSubDim + 1, PqSubDim)).as("features"))
        new KMeans().setK(PqK).setSeed(13L + m).setMaxIter(10).fit(sub)
      }
      val encoded = models.zipWithIndex.foldLeft(base: DataFrame) {
        case (df, (model, m)) =>
          model.setPredictionCol(s"c$m").setFeaturesCol(s"f$m")
            .transform(df.withColumn(s"f$m",
              array_to_vector(slice(col("v"), m * PqSubDim + 1, PqSubDim))))
            .drop(s"f$m")
      }
      at.write(encoded.select((col("vec_id") +:
        (0 until PqM).map(m => col(s"c$m").cast("int").as(s"c$m"))): _*), Codes)
      val rows = for {
        (model, m) <- models.zipWithIndex
        (c, code) <- model.clusterCenters.zipWithIndex
      } yield (m, code, c.toArray.toSeq)
      at.write(spark.createDataFrame(rows).toDF("m", "code", "cv").coalesce(1), Books)
      base.unpersist()
    })

    /** (codes: vec_id, c0..c7; codebooks: m, code, cv) */
    def get(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
      val at = store.ensure(spark, dir)
      lastLoc.set((at.path(Codes), at.path(Books)))
      (spark.table(at.table(Codes)), spark.table(at.table(Books)))
    }

    def deregister(spark: SparkSession, dir: String): Unit =
      store.deregister(spark, dir)
  }

  /** PQ ANN ([r]): asymmetric-distance (ADC) search over the
    * [[PqIndex]] codes with exact reranking — the standard two-stage
    * pipeline. Per query, the dot product against each subspace
    * codebook entry is precomputed (panel × M × K rows — broadcastable
    * at any corpus size since the panel is capped); the corpus is
    * scanned ONCE over its 8-int codes (never the float vectors),
    * scored by table lookup via a broadcast join + map-side partial
    * aggregate, and only the per-query top-[[PqShortlist]] shortlist
    * is reranked with exact cosine against the full vectors. Output
    * carries measured `recall_at_5`.
    *
    * At 100 TB the economics are the point: the scan stage reads
    * 8 bytes of codes per vector instead of 256 bytes of floats, and
    * composes with IVF cells (probe then ADC-within-cell) — here ADC
    * runs corpus-wide to exercise the full path.
    */
  /** ADC shortlist size: SUBLINEAR in the corpus — `max(50, ⌊6·n^0.55⌋)`.
    * A FIXED shortlist covers a shrinking corpus fraction as n grows
    * and recall decays with scale; a fixed FRACTION (the r8 n/10)
    * keeps recall stable but reranks a corpus-proportional set — at
    * 10⁹ vectors that is 10⁸ exact reranks per query, the wrong
    * asymptotic. Rounds 9–11 shipped 5·√n, fitted to n ≤ 8000; the
    * r12 two-decade extension (RecallProbe at n = 10⁵) measured that
    * schedule at 0.73/0.735 — BELOW the 0.8 spec floor, because on
    * near-random embeddings the exact-top-5 cosine gap narrows with n
    * (more competitors crowd the top by extreme-value statistics), so
    * the shortlist must grow slightly faster than √n. n^0.55 with
    * multiplier 6 re-fits the measured floor-with-margin across all
    * five decades (RecallProbe, near-random synthetic embeddings —
    * the hard case; k-sweep at 10⁵: k=1580 → 0.73/0.735, k=2200 →
    * 0.80/0.805, k=3200 → 0.89/0.845, k=6400 → 0.945/0.90; the
    * schedule's k=3374 lands at the 3200 point's margin). Rerank cost
    * still falls relative to the corpus as n^-0.45 — 10⁴× slower
    * growth than the corpus at 10⁹. The multiplier is the recall/cost
    * dial; clustered real-world embeddings need less.
    */
  def pqShortlist(n: Long): Int =
    math.max(50L, math.floor(6.0 * math.pow(n.toDouble, 0.55)).toLong)
      .min(Int.MaxValue).toInt

  def qAnnPq(spark: SparkSession, dir: String, shortlistOverride: Int = 0): DataFrame = {
    val shortlistK = if (shortlistOverride > 0) shortlistOverride
      else pqShortlist(Tables.Probe.embeddingsCount(spark, dir))
    lastShortlistK.set(shortlistK)
    val (codes, book) = PqIndex.get(spark, dir)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < PanelIdCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    // per-(query, subspace, code) dot table — ADC lookup entries
    val lut = q.crossJoin(broadcast(book))
      .select(col("qid"), col("m"), col("code"),
        VectorFunctions.dot(
          slice(col("qv"), col("m") * PqIndex.PqSubDim + lit(1), lit(PqIndex.PqSubDim)),
          col("cv")).as("d"))
    // codes long form: (vec_id, m, code)
    val codesLong = codes.select(col("vec_id"),
      posexplode(array((0 until PqIndex.PqM).map(m => col(s"c$m")): _*)).as(Seq("m", "code")))
    val est = codesLong.join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("d")).as("est_dot"))
    // round the ADC estimate before ranking: the grouped sum's addition
    // order is engine- (and run-) dependent in its low bits, and the
    // shortlist cut must not hinge on them (oracle-parity convention)
    val wShort = Window.partitionBy(col("qid"))
      .orderBy(round(col("est_dot"), 6).desc, col("vec_id").asc)
    val shortlist = est.withColumn("r", row_number().over(wShort))
      .filter(col("r") <= shortlistK)
      .select(col("qid"), col("vec_id").as("nid"))
    // exact rerank of the shortlist only
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("sim"), 6).desc, col("nid").asc)
    val top = shortlist
      .join(e.select(col("vec_id").as("nid"), col("v")), "nid")
      .join(q, "qid")
      .select(col("qid"), col("nid"),
        VectorFunctions.cosine(col("qv"), col("v")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("nid"), col("rank"), round(col("sim"), 4).as("sim"))
    withRecall(top, bruteforceTop5(spark, dir))
  }

  /** IVF-style ANN ([r]): the [[IvfIndex]] coarse quantizer partitions
    * vectors into `nlist` cells; queries search only their `nprobe`
    * nearest cells. The 100 TB shape: centroids are tiny and
    * broadcast; the corpus shuffles once on cell id at index build; at
    * query time only probed cells are scanned. Output carries a
    * measured `recall_at_5` vs the exact baseline on the query panel.
    *
    * nprobe default is tuned for recall ≥ 0.8 on the synthetic corpus,
    * whose embeddings are near-isotropic on the sphere (measured mean
    * exact-top-5 cosine ≈ 0.33, no label structure) — the worst case
    * for any cell-based index, forcing a high probe fraction. Real
    * embedding corpora cluster, and the same index holds recall with
    * nprobe ≪ nlist; the knob is per-call.
    */
  def qAnnIvf(spark: SparkSession, dir: String,
      nlist: Int = 16, nprobe: Int = 10): DataFrame = {
    val (assigned, cdf) = IvfIndex.get(spark, dir, nlist)
    // query panel (same bounded contract as qAnnBruteforce) probes its
    // nprobe nearest cells
    val q = assigned.filter(col("vec_id") % 50 === 0 && col("vec_id") < PanelIdCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    // 6-dp-rounded probe ranking + cell tiebreak: deterministic across
    // engines (oracle-parity convention; exact ties otherwise leave
    // row_number free to disagree)
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(round(VectorFunctions.cosine(col("qv"), col("cv")), 6).desc,
        col("cell").asc)
    val probes = q.crossJoin(broadcast(cdf))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("qv"), col("cell"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("sim"), 6).desc, col("nid").asc)
    val top = probes.join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        VectorFunctions.cosine(col("qv"), col("v")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("nid"), col("rank"), round(col("sim"), 4).as("sim"))
    withRecall(top, bruteforceTop5(spark, dir))
  }

  // ---------------------------------------------------------------- D15
  /** FILTERED vector search — top-5 cosine restricted to vectors
    * sharing the query's label, the metadata-predicate retrieval every
    * production vector store needs ("nearest same-language docs",
    * "same-tenant only"): the filter is applied DURING the IVF scan
    * (candidates = probed cells ∩ label match), not by post-filtering
    * an unfiltered top-k — post-filtering loses recall exactly when
    * the filter is selective, because the unfiltered top-k may contain
    * no same-label vector at all. Recall is judged against the
    * FILTERED exact truth (same-label brute force over the panel), so
    * the published number measures the filtered pipeline, not the
    * unfiltered one; selectivity (matching fraction) is published per
    * query so the recall column can be read against how hard the
    * filter squeezed the candidate set. The probe count is WIDER than
    * D3's default (12 vs 10 of 16 cells): a selective filter thins
    * every probed cell, so same-label true neighbors hide in
    * lower-ranked cells more often — measured filtered recall at
    * nprobe=10 was 0.76 vs the 0.8 floor; widening the probe schedule
    * with filter selectivity is the standard production dial and
    * restores 0.8+. Same bounded panel, same persisted IVF tables,
    * same 6-dp rank ladder as D3 — the oracle replays the whole
    * filtered path from the artifacts.
    */
  def qAnnFiltered(spark: SparkSession, dir: String,
      nlist: Int = 16, nprobe: Int = 12): DataFrame = {
    val (assigned, cdf) = IvfIndex.get(spark, dir, nlist)
    val lbl = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val al = assigned.join(lbl, "vec_id")
    val q = al.filter(col("vec_id") % 50 === 0 && col("vec_id") < PanelIdCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("label").as("qlabel"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(round(VectorFunctions.cosine(col("qv"), col("cv")), 6).desc,
        col("cell").asc)
    val probes = q.crossJoin(broadcast(cdf))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("qv"), col("qlabel"), col("cell"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("sim"), 6).desc, col("nid").asc)
    val top = probes.join(al, Seq("cell"))
      .filter(col("vec_id") =!= col("qid") && col("label") === col("qlabel"))
      .select(col("qid"), col("qlabel"), col("vec_id").as("nid"),
        VectorFunctions.cosine(col("qv"), col("v")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("qlabel"), col("nid"), col("rank"),
        round(col("sim"), 4).as("sim"))
    // FILTERED exact truth over the same panel, plus per-query
    // selectivity: how much of the corpus survives the label filter
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
    val qt = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < PanelIdCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("label").as("qlabel"))
    val wT = Window.partitionBy(col("qid"))
      .orderBy(round(col("sim"), 6).desc, col("nid").asc)
    val cand = qt.join(e, qt("qlabel") === e("label") &&
        qt("qid") =!= e("vec_id"))
    val truth = cand
      .select(col("qid"),
        col("vec_id").as("nid"),
        VectorFunctions.cosine(col("qv"), col("v")).as("sim"))
      .withColumn("r", row_number().over(wT)).filter(col("r") <= 5)
      .select(col("qid"), col("nid"))
    val n = e.count()
    val sel = cand.groupBy(col("qid"))
      .agg(round((count(lit(1)) + 1).cast("double") / n, 4).as("selectivity"))
    withRecall(top, truth)
      .join(broadcast(sel), Seq("qid"), "left")
  }

  /** Replay of [[qAnnFiltered]] over the persisted IVF tables. */
  private def annFilteredSql(asgDir: String, centDir: String,
      nprobe: Int): String =
    raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
         |asg AS (SELECT a.vec_id, a.v, a.cell, e.label
         |  FROM read_parquet('$asgDir/*.parquet') a JOIN e USING (vec_id)),
         |cent AS (SELECT cell, cv FROM read_parquet('$centDir/*.parquet')),
         |q AS (SELECT vec_id AS qid, v AS qv, label AS qlabel
         |  FROM asg WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
         |pflat AS (SELECT qid, cell, unnest(qv) AS x, unnest(cv) AS y FROM q, cent),
         |psc AS (SELECT qid, cell, sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
         |  FROM pflat GROUP BY qid, cell),
         |probes AS (SELECT qid, cell FROM (SELECT qid, cell, row_number() OVER (
         |    PARTITION BY qid ORDER BY round(sim, 6) DESC, cell ASC) AS pr FROM psc)
         |  WHERE pr <= $nprobe),
         |scan AS (SELECT qid, q.qlabel, asg.vec_id AS nid, qv, asg.v AS nv
         |  FROM probes JOIN q USING (qid) JOIN asg ON asg.cell = probes.cell
         |  WHERE asg.vec_id <> qid AND asg.label = q.qlabel),
         |sflat AS (SELECT qid, qlabel, nid, unnest(qv) AS x, unnest(nv) AS y FROM scan),
         |ssim AS (SELECT qid, qlabel, nid, sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
         |  FROM sflat GROUP BY qid, qlabel, nid),
         |appx AS (SELECT qid, qlabel, nid, rank, round(sim, 4) AS sim FROM (
         |    SELECT qid, qlabel, nid, sim, row_number() OVER (
         |      PARTITION BY qid ORDER BY round(sim, 6) DESC, nid ASC) AS rank FROM ssim)
         |  WHERE rank <= 5),
         |tq AS (SELECT vec_id AS qid, v AS qv, label AS qlabel FROM e
         |  WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
         |tcand AS (SELECT qid, tq.qlabel, e.vec_id AS nid, qv, e.v AS nv
         |  FROM e JOIN tq ON e.label = tq.qlabel AND e.vec_id <> tq.qid),
         |tflat AS (SELECT qid, nid, unnest(qv) AS x, unnest(nv) AS y FROM tcand),
         |tsc AS (SELECT qid, nid, sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
         |  FROM tflat GROUP BY qid, nid),
         |truth AS (SELECT qid, nid FROM (SELECT qid, nid, row_number() OVER (
         |    PARTITION BY qid ORDER BY round(sim, 6) DESC, nid ASC) AS r FROM tsc) WHERE r <= 5),
         |rec AS (SELECT appx.qid, count(*) / 5.0 AS recall_at_5
         |  FROM appx JOIN truth USING (qid, nid) GROUP BY appx.qid),
         |sampled AS (SELECT tqid.qid, coalesce(rec.recall_at_5, 0.0) AS recall_at_5
         |  FROM (SELECT DISTINCT qid FROM truth) tqid LEFT JOIN rec USING (qid)),
         |sel AS (SELECT qid, round(CAST(count(*) + 1 AS DOUBLE)
         |    / (SELECT count(*) FROM e), 4) AS selectivity
         |  FROM tcand GROUP BY qid)
         |SELECT appx.qid, appx.qlabel, appx.nid, appx.rank, appx.sim,
         |  sampled.recall_at_5, sel.selectivity
         |FROM appx LEFT JOIN sampled USING (qid) LEFT JOIN sel USING (qid)""".stripMargin

  // ---------------------------------------------------------------- D12
  /** IVF nprobe tuning curve — the recall-vs-cost schedule that turns
    * D3's fixed default into an informed dial (H10 does this for LSH
    * banding, the PQ docstring's k-sweep for the shortlist; nprobe
    * was the remaining untuned knob): ONE probe-ranking pass at the
    * grid maximum, then every grid point is a filter over the ranked
    * scan (a cell probed at rank r serves all nprobe ≥ r — no
    * re-scoring per point), top-5 per (query, nprobe), recall vs the
    * exact panel truth, and per-point mean candidate counts. Cost
    * shape: the scanned pair set is the ONE nprobe=max scan (panel ×
    * probed fraction of the corpus), the grid multiplies only rank
    * bookkeeping on that bounded set. Counts are exact integers; the
    * only divisions are the three 6-dp publish ratios. Output:
    * |grid| rows — nprobe, scan fraction, mean recall@5, mean
    * candidates — the table an operator reads to pick the knob.
    */
  val NprobeGrid: Seq[Int] = Seq(1, 2, 4, 6, 10)

  def qIvfNprobeCurve(spark: SparkSession, dir: String,
      nlist: Int = 16): DataFrame = {
    import spark.implicits._
    val (assigned, cdf) = IvfIndex.get(spark, dir, nlist)
    val q = assigned.filter(col("vec_id") % 50 === 0 && col("vec_id") < PanelIdCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(round(VectorFunctions.cosine(col("qv"), col("cv")), 6).desc,
        col("cell").asc)
    val probes = q.crossJoin(broadcast(cdf))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= NprobeGrid.max)
      .select(col("qid"), col("qv"), col("cell"), col("pr"))
    // cells are disjoint, so each (qid, nid) pair appears exactly once,
    // tagged with the probe rank of its cell
    val pairs = probes.join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("pr"), col("vec_id").as("nid"),
        VectorFunctions.cosine(col("qv"), col("v")).as("sim"))
    val grid = NprobeGrid.toDF("nprobe")
    val ex = pairs.join(broadcast(grid), col("pr") <= col("nprobe"))
    val w = Window.partitionBy(col("qid"), col("nprobe"))
      .orderBy(round(col("sim"), 6).desc, col("nid").asc)
    val top = ex.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
    val truth = bruteforceTop5(spark, dir)
    val hits = top.join(truth, Seq("qid", "nid"), "left_semi")
      .groupBy(col("nprobe"), col("qid")).agg(count(lit(1)).as("h"))
    val cand = ex.groupBy(col("nprobe"), col("qid"))
      .agg(count(lit(1)).as("nc"))
    val panel = truth.select(col("qid")).distinct().crossJoin(broadcast(grid))
    panel
      .join(hits, Seq("nprobe", "qid"), "left")
      .join(cand, Seq("nprobe", "qid"), "left")
      .na.fill(0L, Seq("h", "nc"))
      .groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_queries"),
        round(sum(col("h")).cast("double") /
          (count(lit(1)) * 5), 6).as("mean_recall_5"),
        round(sum(col("nc")).cast("double") / count(lit(1)), 6)
          .as("mean_candidates"))
      .withColumn("scan_frac",
        round(col("nprobe").cast("double") / nlist, 6))
  }

  private def ivfNprobeCurveSql(asgDir: String, centDir: String,
      nlist: Int): String = {
    val gridSql = NprobeGrid.mkString("[", ", ", "]")
    raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |asg AS (SELECT vec_id, v, cell FROM read_parquet('$asgDir/*.parquet')),
         |cent AS (SELECT cell, cv FROM read_parquet('$centDir/*.parquet')),
         |q AS (SELECT vec_id AS qid, v AS qv FROM asg WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
         |pflat AS (SELECT qid, cell, unnest(qv) AS x, unnest(cv) AS y FROM q, cent),
         |psc AS (SELECT qid, cell, sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
         |  FROM pflat GROUP BY qid, cell),
         |probes AS MATERIALIZED (SELECT qid, cell, pr FROM (
         |    SELECT qid, cell, row_number() OVER (
         |      PARTITION BY qid ORDER BY round(sim, 6) DESC, cell ASC) AS pr FROM psc)
         |  WHERE pr <= ${NprobeGrid.max}),
         |scan AS (SELECT qid, pr, asg.vec_id AS nid, qv, asg.v AS nv
         |  FROM probes JOIN q USING (qid) JOIN asg ON asg.cell = probes.cell
         |  WHERE asg.vec_id <> qid),
         |sflat AS (SELECT qid, pr, nid, unnest(qv) AS x, unnest(nv) AS y FROM scan),
         |ssim AS MATERIALIZED (SELECT qid, pr, nid,
         |    sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
         |  FROM sflat GROUP BY qid, pr, nid),
         |grid AS (SELECT unnest($gridSql) AS nprobe),
         |ex AS MATERIALIZED (SELECT g.nprobe, s.qid, s.nid, s.sim
         |  FROM ssim s JOIN grid g ON s.pr <= g.nprobe),
         |top AS (SELECT nprobe, qid, nid FROM (
         |    SELECT nprobe, qid, nid, row_number() OVER (
         |      PARTITION BY qid, nprobe ORDER BY round(sim, 6) DESC, nid ASC) AS rank
         |    FROM ex)
         |  WHERE rank <= 5),
         |tq AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
         |tflat AS (SELECT qid, e.vec_id AS nid, unnest(qv) AS x, unnest(v) AS y
         |  FROM e JOIN tq ON e.vec_id <> tq.qid),
         |tsc AS (SELECT qid, nid, sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
         |  FROM tflat GROUP BY qid, nid),
         |truth AS MATERIALIZED (SELECT qid, nid FROM (SELECT qid, nid, row_number() OVER (
         |    PARTITION BY qid ORDER BY round(sim, 6) DESC, nid ASC) AS r FROM tsc) WHERE r <= 5),
         |hits AS (SELECT t.nprobe, t.qid, count(*) AS h
         |  FROM top t JOIN truth USING (qid, nid) GROUP BY 1, 2),
         |cand AS (SELECT nprobe, qid, count(*) AS nc FROM ex GROUP BY 1, 2),
         |panel AS (SELECT g.nprobe, p.qid FROM grid g,
         |  (SELECT DISTINCT qid FROM truth) p),
         |acc AS (SELECT panel.nprobe, panel.qid,
         |    coalesce(hits.h, 0) AS h, coalesce(cand.nc, 0) AS nc
         |  FROM panel LEFT JOIN hits USING (nprobe, qid)
         |  LEFT JOIN cand USING (nprobe, qid))
         |SELECT nprobe, count(*) AS n_queries,
         |  round(CAST(sum(h) AS DOUBLE) / (count(*) * 5), 6) AS mean_recall_5,
         |  round(CAST(sum(nc) AS DOUBLE) / count(*), 6) AS mean_candidates,
         |  round(CAST(nprobe AS DOUBLE) / $nlist, 6) AS scan_frac
         |FROM acc GROUP BY nprobe""".stripMargin
  }

  /** IVF+PQ ANN ([r]) — the composition that IS the production-scale
    * vector-search path: the IVF coarse quantizer restricts the search
    * to `nprobe` cells, and WITHIN those cells candidates are scored
    * by PQ ADC over 8-int codes, with exact reranking of the final
    * shortlist only. At 100 TB: centroids broadcast, the probed cells
    * bound the scan (nprobe/nlist of the corpus), and the scanned
    * bytes per candidate are the 8 code ints, not 256 float bytes —
    * the two indexes multiply their savings. Here the cell↔code
    * co-location join runs per query over the test corpus; a
    * production deployment writes codes INTO the cell-bucketed
    * assignment table, making it a bucket-local join (noted in the
    * store contract).
    */
  def qAnnIvfPq(spark: SparkSession, dir: String,
      nlist: Int = 16, nprobe: Int = 12, shortlistOverride: Int = 0): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("sim"), 6).desc, col("nid").asc)
    val top = ivfPqScored(spark, dir, nlist, nprobe, shortlistOverride)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("nid"), col("rank"), round(col("sim"), 4).as("sim"))
    withRecall(top, bruteforceTop5(spark, dir))
  }

  /** The IVF+PQ retrieval chain through exact rerank: (qid, nid, sim,
    * v) for every shortlisted candidate — [[qAnnIvfPq]] cuts the
    * published top-5, [[qMmrAnn]] takes its diversity pool. */
  private def ivfPqScored(spark: SparkSession, dir: String,
      nlist: Int, nprobe: Int, shortlistOverride: Int): DataFrame = {
    val shortlistK = if (shortlistOverride > 0) shortlistOverride
      else pqShortlist(Tables.Probe.embeddingsCount(spark, dir))
    lastShortlistK.set(shortlistK)
    val (assigned, cdf) = IvfIndex.get(spark, dir, nlist)
    val (codes, book) = PqIndex.get(spark, dir)
    val q = assigned.filter(col("vec_id") % 50 === 0 && col("vec_id") < PanelIdCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(round(VectorFunctions.cosine(col("qv"), col("cv")), 6).desc,
        col("cell").asc)
    val probes = q.crossJoin(broadcast(cdf))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("cell"))
    val lut = q.crossJoin(broadcast(book))
      .select(col("qid"), col("m"), col("code"),
        VectorFunctions.dot(
          slice(col("qv"), col("m") * PqIndex.PqSubDim + lit(1), lit(PqIndex.PqSubDim)),
          col("cv")).as("d"))
    val cellCodes = codes.join(assigned.select(col("vec_id"), col("cell")), "vec_id")
    val candCodes = cellCodes.join(probes, "cell")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        posexplode(array((0 until PqIndex.PqM).map(m => col(s"c$m")): _*)).as(Seq("m", "code")))
    val est = candCodes.join(broadcast(lut), Seq("qid", "m", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("d")).as("est_dot"))
    val wShort = Window.partitionBy(col("qid"))
      .orderBy(round(col("est_dot"), 6).desc, col("vec_id").asc)
    val shortlist = est.withColumn("r", row_number().over(wShort))
      .filter(col("r") <= shortlistK)
      .select(col("qid"), col("vec_id").as("nid"))
    shortlist
      .join(assigned.select(col("vec_id").as("nid"), col("v")), "nid")
      .join(q, "qid")
      .select(col("qid"), col("nid"),
        VectorFunctions.cosine(col("qv"), col("v")).as("sim"), col("v"))
  }

  // ---------------------------------------------------------------- D8
  /** IVF index health report: per-cell occupancy and coherence over
    * the PERSISTED index — the introspection query a vector-warehouse
    * operator runs before trusting an index with production traffic.
    * Per cell: vector count, `load_factor` (count ÷ uniform share —
    * the skew dial that decides when a hot cell needs a re-fit or a
    * split), and `mean_coherence` (mean cosine of members to their
    * centroid — the quantization-quality dial that decides nprobe).
    * Cost shape at 100 TB: centroids broadcast, the assignment scans
    * once pre-bucketed by cell, output is `nlist` rows — no shuffle
    * beyond the nlist-wide aggregate. Fit-free: rides
    * [[IvfIndex.get]], so the oracle replays the identical arithmetic
    * over the persisted index files.
    */
  def qAnnIndexStats(spark: SparkSession, dir: String, nlist: Int = 16): DataFrame = {
    val (assigned, cdf) = IvfIndex.get(spark, dir, nlist)
    val per = assigned.join(broadcast(cdf), "cell")
      .select(col("cell"),
        round(VectorFunctions.cosine(col("v"), col("cv")), 6).as("coh"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"), round(avg(col("coh")), 4).as("mean_coherence"))
    val tot = per.agg(sum(col("n_vectors")).as("total"),
      count(lit(1)).as("ncells"))
    per.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vectors"),
        round(col("n_vectors") * col("ncells") / col("total"), 4).as("load_factor"),
        col("mean_coherence"))
  }

  /** Replay of [[qAnnIndexStats]] over the persisted index files. */
  private def annIndexStatsSql(asgDir: String, centDir: String): String =
    raw"""WITH asg AS (SELECT vec_id, v, cell FROM read_parquet('$asgDir/*.parquet')),
         |cent AS (SELECT cell, cv FROM read_parquet('$centDir/*.parquet')),
         |flat AS (SELECT cell, vec_id, unnest(asg.v) AS x, unnest(cent.cv) AS y
         |  FROM asg JOIN cent USING (cell)),
         |coh AS (SELECT cell, vec_id,
         |    round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS coh
         |  FROM flat GROUP BY cell, vec_id),
         |per AS (SELECT cell, count(*) AS n_vectors, round(avg(coh), 4) AS mean_coherence
         |  FROM coh GROUP BY cell),
         |tot AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS total, count(*) AS ncells FROM per)
         |SELECT cell, n_vectors, round(n_vectors * ncells / total, 4) AS load_factor,
         |  mean_coherence
         |FROM per, tot""".stripMargin

  // ---------------------------------------------------------------- D9
  /** Semantic mixture audit: each source's distribution over the IVF
    * cells (the persisted index's cells standing in as topic blocks,
    * the C15/SemDeDup reuse) against the corpus-wide cell
    * distribution, scored by Jensen–Shannon divergence — the SEMANTIC
    * complement of K3/K12's lexical mixture checks: a source can have
    * healthy language/token mix yet collapse into one region of
    * embedding space (a crawler stuck in a template farm), which only
    * a distribution over semantic blocks exposes. All arithmetic on
    * exact integer counts from one pass over the pre-bucketed
    * assignment joined to the (vec_id → source) map; per-source and
    * corpus cell histograms are nlist-row bounded, JS folds over ≤
    * nlist terms with 0·log0 = 0, 6-dp output rounding.
    */
  def qSemanticBalance(spark: SparkSession, dir: String,
      nlist: Int = 16): DataFrame = {
    val (assigned, _) = IvfIndex.get(spark, dir, nlist)
    val src = assigned.select(col("vec_id"), col("cell"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
    val sc = src.groupBy(col("source"), col("cell")).agg(count(lit(1)).as("nsc"))
    val sTot = sc.groupBy(col("source")).agg(sum(col("nsc")).as("ns"))
    val cTot = sc.groupBy(col("cell")).agg(sum(col("nsc")).as("nc"))
    val tot = sc.agg(sum(col("nsc")).as("n"))
    // full source × cell grid so absent cells contribute their q-side
    // KL mass (summing present cells only undercounts JS)
    val grid = sTot.crossJoin(broadcast(cTot)).crossJoin(broadcast(tot))
      .join(sc, Seq("source", "cell"), "left")
      .select(col("source"), col("ns"),
        (coalesce(col("nsc"), lit(0L)).cast("double") / col("ns")).as("p"),
        (col("nc").cast("double") / col("n")).as("q"))
    def kl(a: Column, m: Column): Column =
      when(a > 0, a * log(a / m)).otherwise(lit(0.0))
    val withM = grid.withColumn("p", col("p")).withColumn("m", (col("p") + col("q")) / 2)
    withM.groupBy(col("source"))
      .agg(max(col("ns")).as("n_vectors"),
        round(sum(kl(col("p"), col("m")) / 2 + kl(col("q"), col("m")) / 2), 6)
          .as("js_to_corpus"),
        round(max(col("p")), 6).as("max_cell_share"))
  }

  /** Replay of [[qSemanticBalance]] over the persisted assignment. */
  private def semanticBalanceSql(asgDir: String): String =
    raw"""WITH asg AS (SELECT vec_id, cell FROM read_parquet('$asgDir/*.parquet')),
         |src AS (SELECT source, cell FROM asg JOIN documents ON vec_id = doc_id),
         |sc AS (SELECT source, cell, count(*) AS nsc FROM src GROUP BY source, cell),
         |st AS (SELECT source, CAST(sum(nsc) AS BIGINT) AS ns FROM sc GROUP BY source),
         |ct AS (SELECT cell, CAST(sum(nsc) AS BIGINT) AS nc FROM sc GROUP BY cell),
         |tot AS (SELECT CAST(sum(nsc) AS BIGINT) AS n FROM sc),
         |grid AS (SELECT st.source, st.ns,
         |    CAST(coalesce(nsc, 0) AS DOUBLE) / st.ns AS p,
         |    CAST(nc AS DOUBLE) / n AS q
         |  FROM st CROSS JOIN ct CROSS JOIN tot
         |  LEFT JOIN sc ON sc.source = st.source AND sc.cell = ct.cell),
         |wm AS (SELECT source, ns, p, q, (p + q) / 2 AS m FROM grid)
         |SELECT source, CAST(max(ns) AS BIGINT) AS n_vectors,
         |  round(sum((CASE WHEN p > 0 THEN p * ln(p / m) ELSE 0.0 END) / 2
         |          + (CASE WHEN q > 0 THEN q * ln(q / m) ELSE 0.0 END) / 2), 6)
         |    AS js_to_corpus,
         |  round(max(p), 6) AS max_cell_share
         |FROM wm GROUP BY source""".stripMargin

  /** Shortlist size used by the most recent PQ/IVFPQ query — inlined
    * into the oracle SQL so both engines cut the identical shortlist.
    */
  private[graft] val lastShortlistK = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Shared recall-verdict oracle tail: given a CTE `appx(qid, nid,
    * rank, ..., sim)` (the approximate top-5) and the corpus CTE
    * `e(vec_id, v DOUBLE[])`, replay the exact brute-force top-5 on
    * the query panel and the recall@5 arithmetic of [[withRecall]].
    */
  private val recallCtes: String =
    raw"""tq AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
         |tflat AS (SELECT qid, e.vec_id AS nid, unnest(qv) AS x, unnest(v) AS y
         |  FROM e JOIN tq ON e.vec_id <> tq.qid),
         |tsc AS (SELECT qid, nid, sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
         |  FROM tflat GROUP BY qid, nid),
         |truth AS (SELECT qid, nid FROM (SELECT qid, nid, row_number() OVER (
         |    PARTITION BY qid ORDER BY round(sim, 6) DESC, nid ASC) AS r FROM tsc) WHERE r <= 5),
         |rec AS (SELECT appx.qid, count(*) / 5.0 AS recall_at_5
         |  FROM appx JOIN truth USING (qid, nid) GROUP BY appx.qid),
         |sampled AS (SELECT tqid.qid, coalesce(rec.recall_at_5, 0.0) AS recall_at_5
         |  FROM (SELECT DISTINCT qid FROM truth) tqid LEFT JOIN rec USING (qid))""".stripMargin

  /** Full arithmetic replay of [[qAnnLsh]]: the hashed-plane banding
    * pipeline ([[Hyperplanes.bandsSqlCtes]]), the hot-bucket cap, the
    * cross-table candidate dedup, exact cosine of candidates, the
    * 6-dp-ranked top-5 cut, and the recall verdict.
    */
  val qAnnLshSql: String =
    raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${graft.functions.Hyperplanes.bandsSqlCtes(AnnNBands, AnnTargetBucket)},
         |hot AS (SELECT b, bv FROM bands GROUP BY b, bv HAVING count(*) > $AnnBucketCap),
         |kept AS (SELECT vec_id, b, bv FROM bands
         |  WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.b = bands.b AND hot.bv = bands.bv)),
         |cand AS (SELECT x.vec_id AS qid, y.vec_id AS nid, min(x.bv) AS bucket
         |  FROM kept x JOIN kept y ON x.b = y.b AND x.bv = y.bv AND x.vec_id <> y.vec_id
         |  GROUP BY x.vec_id, y.vec_id),
         |cpair AS (SELECT qid, nid, bucket, a.v AS v1, b2.v AS v2
         |  FROM cand JOIN e a ON qid = a.vec_id JOIN e b2 ON nid = b2.vec_id),
         |cflat AS (SELECT qid, nid, bucket, unnest(v1) AS x, unnest(v2) AS y FROM cpair),
         |csim AS (SELECT qid, nid, bucket, sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
         |  FROM cflat GROUP BY qid, nid, bucket),
         |appx AS (SELECT qid, nid, rank, bucket, round(sim, 4) AS sim FROM (
         |    SELECT qid, nid, bucket, sim, row_number() OVER (
         |      PARTITION BY qid ORDER BY round(sim, 6) DESC, nid ASC) AS rank FROM csim)
         |  WHERE rank <= 5),
         |$recallCtes
         |SELECT appx.qid, appx.nid, appx.rank, appx.bucket, appx.sim, sampled.recall_at_5
         |FROM appx LEFT JOIN sampled USING (qid)""".stripMargin

  /** Replay of [[qAnnIvf]]'s fit-free query path over the PERSISTED
    * index (the seeded-KMeans assignment/centroid tables are data, read
    * back by absolute path): probe ranking, probed-cell scan, exact
    * rerank, recall verdict.
    */
  private def annIvfSql(asgDir: String, centDir: String, nprobe: Int): String =
    raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |asg AS (SELECT vec_id, v, cell FROM read_parquet('$asgDir/*.parquet')),
         |cent AS (SELECT cell, cv FROM read_parquet('$centDir/*.parquet')),
         |q AS (SELECT vec_id AS qid, v AS qv FROM asg WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
         |pflat AS (SELECT qid, cell, unnest(qv) AS x, unnest(cv) AS y FROM q, cent),
         |psc AS (SELECT qid, cell, sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
         |  FROM pflat GROUP BY qid, cell),
         |probes AS (SELECT qid, cell FROM (SELECT qid, cell, row_number() OVER (
         |    PARTITION BY qid ORDER BY round(sim, 6) DESC, cell ASC) AS pr FROM psc)
         |  WHERE pr <= $nprobe),
         |scan AS (SELECT qid, asg.vec_id AS nid, qv, asg.v AS nv
         |  FROM probes JOIN q USING (qid) JOIN asg ON asg.cell = probes.cell
         |  WHERE asg.vec_id <> qid),
         |sflat AS (SELECT qid, nid, unnest(qv) AS x, unnest(nv) AS y FROM scan),
         |ssim AS (SELECT qid, nid, sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
         |  FROM sflat GROUP BY qid, nid),
         |appx AS (SELECT qid, nid, rank, round(sim, 4) AS sim FROM (
         |    SELECT qid, nid, sim, row_number() OVER (
         |      PARTITION BY qid ORDER BY round(sim, 6) DESC, nid ASC) AS rank FROM ssim)
         |  WHERE rank <= 5),
         |$recallCtes
         |SELECT appx.qid, appx.nid, appx.rank, appx.sim, sampled.recall_at_5
         |FROM appx LEFT JOIN sampled USING (qid)""".stripMargin

  /** Replay of [[qMipsIvf]] over the persisted IVF tables: per-cell
    * max-norm augmentation off the assignment, norm-augmented probe
    * ranking, raw-dot scan of the probed cells, recall vs the exact
    * MIPS panel truth (dot-product top-5, not the cosine truth).
    */
  private def mipsIvfSql(asgDir: String, centDir: String, nprobe: Int): String =
    raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |asg AS (SELECT vec_id, v, cell FROM read_parquet('$asgDir/*.parquet')),
         |cent AS (SELECT cell, cv FROM read_parquet('$centDir/*.parquet')),
         |nrm AS (SELECT cell, max(round(sqrt(n2), 6)) AS mn FROM (
         |    SELECT cell, vec_id, sum(x*x) AS n2
         |    FROM (SELECT cell, vec_id, unnest(v) AS x FROM asg)
         |    GROUP BY cell, vec_id) GROUP BY cell),
         |caug AS (SELECT cent.cell, cv, mn FROM cent JOIN nrm USING (cell)),
         |pflat AS (SELECT qid, cell, mn, unnest(qv) AS x, unnest(cv) AS y
         |  FROM (SELECT vec_id AS qid, v AS qv FROM asg
         |    WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap) q, caug),
         |psc AS (SELECT qid, cell,
         |    sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) * min(mn) AS s
         |  FROM pflat GROUP BY qid, cell),
         |probes AS (SELECT qid, cell FROM (SELECT qid, cell, row_number() OVER (
         |    PARTITION BY qid ORDER BY round(s, 6) DESC, cell ASC) AS pr FROM psc)
         |  WHERE pr <= $nprobe),
         |q AS (SELECT vec_id AS qid, v AS qv FROM asg
         |  WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
         |scan AS (SELECT qid, asg.vec_id AS nid, qv, asg.v AS nv
         |  FROM probes JOIN q USING (qid) JOIN asg ON asg.cell = probes.cell
         |  WHERE asg.vec_id <> qid),
         |sflat AS (SELECT qid, nid, unnest(qv) AS x, unnest(nv) AS y FROM scan),
         |sdot AS (SELECT qid, nid, sum(x*y) AS dot FROM sflat GROUP BY qid, nid),
         |appx AS (SELECT qid, nid, rank, round(dot, 4) AS dot FROM (
         |    SELECT qid, nid, dot, row_number() OVER (
         |      PARTITION BY qid ORDER BY round(dot, 6) DESC, nid ASC) AS rank
         |    FROM sdot) WHERE rank <= 5),
         |tq AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
         |tflat AS (SELECT qid, e.vec_id AS nid, unnest(qv) AS x, unnest(v) AS y
         |  FROM e JOIN tq ON e.vec_id <> tq.qid),
         |tsc AS (SELECT qid, nid, sum(x*y) AS dot FROM tflat GROUP BY qid, nid),
         |truth AS (SELECT qid, nid FROM (SELECT qid, nid, row_number() OVER (
         |    PARTITION BY qid ORDER BY round(dot, 6) DESC, nid ASC) AS r FROM tsc) WHERE r <= 5),
         |rec AS (SELECT appx.qid, count(*) / 5.0 AS recall_at_5
         |  FROM appx JOIN truth USING (qid, nid) GROUP BY appx.qid),
         |sampled AS (SELECT tqid.qid, coalesce(rec.recall_at_5, 0.0) AS recall_at_5
         |  FROM (SELECT DISTINCT qid FROM truth) tqid LEFT JOIN rec USING (qid))
         |SELECT appx.qid, appx.nid, appx.rank, appx.dot, sampled.recall_at_5
         |FROM appx LEFT JOIN sampled USING (qid)""".stripMargin

  /** Replay of [[qAnnPq]]'s query path over the persisted codes +
    * codebooks: per-query ADC lookup tables, one pass over the 8-int
    * codes, the 6-dp-ranked shortlist cut, exact rerank, recall.
    */
  private def annPqSql(codesDir: String, bookDir: String, k: Int): String =
    raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
         |book AS (SELECT m, code, cv FROM read_parquet('$bookDir/*.parquet')),
         |codes AS (SELECT * FROM read_parquet('$codesDir/*.parquet')),
         |lflat AS (SELECT qid, m, code,
         |    unnest(qv[m*${PqIndex.PqSubDim}+1 : m*${PqIndex.PqSubDim}+${PqIndex.PqSubDim}]) AS x,
         |    unnest(cv) AS y
         |  FROM q, book),
         |lut AS (SELECT qid, m, code, sum(x*y) AS d FROM lflat GROUP BY qid, m, code),
         |cl AS (SELECT vec_id, m, [c0,c1,c2,c3,c4,c5,c6,c7][m+1] AS code
         |  FROM codes, generate_series(0, ${PqIndex.PqM - 1}) g(m)),
         |est AS (SELECT qid, vec_id, sum(d) AS est_dot FROM cl JOIN lut USING (m, code)
         |  WHERE vec_id <> qid GROUP BY qid, vec_id),
         |short AS (SELECT qid, vec_id AS nid FROM (SELECT qid, vec_id, row_number() OVER (
         |    PARTITION BY qid ORDER BY round(est_dot, 6) DESC, vec_id ASC) AS r FROM est)
         |  WHERE r <= $k),
         |rflat AS (SELECT qid, nid, unnest(qv) AS x, unnest(v) AS y
         |  FROM short JOIN e ON short.nid = e.vec_id JOIN q USING (qid)),
         |rsim AS (SELECT qid, nid, sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
         |  FROM rflat GROUP BY qid, nid),
         |appx AS (SELECT qid, nid, rank, round(sim, 4) AS sim FROM (
         |    SELECT qid, nid, sim, row_number() OVER (
         |      PARTITION BY qid ORDER BY round(sim, 6) DESC, nid ASC) AS rank FROM rsim)
         |  WHERE rank <= 5),
         |$recallCtes
         |SELECT appx.qid, appx.nid, appx.rank, appx.sim, sampled.recall_at_5
         |FROM appx LEFT JOIN sampled USING (qid)""".stripMargin

  /** Replay of [[qAnnIvfPq]]: probes bound the scan, ADC scores within
    * probed cells, shortlist rerank, recall.
    */
  /** The IVF+PQ replay chain through exact rerank as CTEs ending in
    * `rsim(qid, nid, sim)` — shared by [[annIvfPqSql]] (top-5 +
    * recall) and [[mmrAnnSql]] (top-10 diversity pool). The cell-codes
    * CTE is named `ccodes` so the MMR tail's `cc` composes cleanly.
    */
  private def ivfPqChainCtes(asgDir: String, centDir: String, codesDir: String,
      bookDir: String, nprobe: Int, k: Int): String =
    raw"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |asg AS (SELECT vec_id, v, cell FROM read_parquet('$asgDir/*.parquet')),
         |cent AS (SELECT cell, cv FROM read_parquet('$centDir/*.parquet')),
         |codes AS (SELECT * FROM read_parquet('$codesDir/*.parquet')),
         |book AS (SELECT m, code, cv FROM read_parquet('$bookDir/*.parquet')),
         |q AS (SELECT vec_id AS qid, v AS qv FROM asg WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
         |pflat AS (SELECT qid, cent.cell, unnest(qv) AS x, unnest(cent.cv) AS y FROM q, cent),
         |psc AS (SELECT qid, cell, sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
         |  FROM pflat GROUP BY qid, cell),
         |probes AS (SELECT qid, cell FROM (SELECT qid, cell, row_number() OVER (
         |    PARTITION BY qid ORDER BY round(sim, 6) DESC, cell ASC) AS pr FROM psc)
         |  WHERE pr <= $nprobe),
         |lflat AS (SELECT qid, m, code,
         |    unnest(qv[m*${PqIndex.PqSubDim}+1 : m*${PqIndex.PqSubDim}+${PqIndex.PqSubDim}]) AS x,
         |    unnest(book.cv) AS y
         |  FROM q, book),
         |lut AS (SELECT qid, m, code, sum(x*y) AS d FROM lflat GROUP BY qid, m, code),
         |ccodes AS (SELECT asg.cell, codes.* FROM codes JOIN asg ON codes.vec_id = asg.vec_id),
         |cand AS (SELECT probes.qid, ccodes.vec_id, m, [c0,c1,c2,c3,c4,c5,c6,c7][m+1] AS code
         |  FROM ccodes JOIN probes ON ccodes.cell = probes.cell, generate_series(0, ${PqIndex.PqM - 1}) g(m)
         |  WHERE ccodes.vec_id <> probes.qid),
         |est AS (SELECT qid, vec_id, sum(d) AS est_dot FROM cand JOIN lut USING (qid, m, code)
         |  GROUP BY qid, vec_id),
         |short AS (SELECT qid, vec_id AS nid FROM (SELECT qid, vec_id, row_number() OVER (
         |    PARTITION BY qid ORDER BY round(est_dot, 6) DESC, vec_id ASC) AS r FROM est)
         |  WHERE r <= $k),
         |rflat AS (SELECT qid, nid, unnest(qv) AS x, unnest(asg.v) AS y
         |  FROM short JOIN asg ON short.nid = asg.vec_id JOIN q USING (qid)),
         |rsim AS (SELECT qid, nid, sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
         |  FROM rflat GROUP BY qid, nid)""".stripMargin

  private def annIvfPqSql(asgDir: String, centDir: String, codesDir: String,
      bookDir: String, nprobe: Int, k: Int): String =
    raw"""WITH ${ivfPqChainCtes(asgDir, centDir, codesDir, bookDir, nprobe, k)},
         |appx AS (SELECT qid, nid, rank, round(sim, 4) AS sim FROM (
         |    SELECT qid, nid, sim, row_number() OVER (
         |      PARTITION BY qid ORDER BY round(sim, 6) DESC, nid ASC) AS rank FROM rsim)
         |  WHERE rank <= 5),
         |$recallCtes
         |SELECT appx.qid, appx.nid, appx.rank, appx.sim, sampled.recall_at_5
         |FROM appx LEFT JOIN sampled USING (qid)""".stripMargin

  /** Replay of [[qMmrAnn]]: the IVF+PQ chain feeds the top-10 pool
    * (rel = 6-dp exact-rerank cosine) into the exact-integer MMR tail. */
  private def mmrAnnSql(asgDir: String, centDir: String, codesDir: String,
      bookDir: String, nprobe: Int, k: Int): String =
    raw"""WITH ${ivfPqChainCtes(asgDir, centDir, codesDir, bookDir, nprobe, k)},
         |cands AS (SELECT qid, nid, round(sim, 6) AS rel FROM (
         |    SELECT qid, nid, sim, row_number() OVER (
         |      PARTITION BY qid ORDER BY round(sim, 6) DESC, nid ASC) AS rank FROM rsim)
         |  WHERE rank <= 10),
         |$mmrSqlTail""".stripMargin

  // ---------------------------------------------------------------- D6
  /** Embedding-space class audit: per-label centroid COHESION (mean
    * member→centroid cosine) and CONFUSABILITY (cosine to the nearest
    * OTHER centroid) — the separability readout an embedding-quality
    * gate runs before trusting labels for retrieval or eval splits.
    * One posexplode (corpus × dims rows, map-side), one bounded
    * (label × dim) centroid aggregate — 10-dp-rounded so both engines
    * feed the cosines identical doubles — then a BROADCAST join back
    * (centroid grid is labels × dims, fixed size at any corpus scale)
    * and a labels² centroid cross-score. The corpus never shuffles
    * raw vectors; per-vector cosines reduce map-side to (vec, label).
    */
  def qClassSeparation(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("v", col("v").cast("double"))
    val cen = e.groupBy(col("label"), col("dim"))
      .agg(round(avg(col("v")), 10).as("c"))
    val coh = e.join(broadcast(cen), Seq("label", "dim"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("v") * col("c")).as("dot"),
        sqrt(sum(col("v") * col("v"))).as("nv"),
        sqrt(sum(col("c") * col("c"))).as("nc"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        // per-vector cosine rounds at 10 dp BEFORE the avg (the F27
        // discipline): the avg's inputs are then identical IEEE
        // doubles in both engines, so the 6-dp boundary round can't
        // sit on a cross-engine half-ulp of an unrounded fold
        round(avg(round(col("dot") / (col("nv") * col("nc")), 10)), 6)
          .as("cohesion"))
    val cross = cen.select(col("label").as("la"), col("dim"), col("c").as("ca"))
      .join(cen.select(col("label").as("lb"), col("dim"), col("c").as("cb")),
        "dim")
      .filter(col("la") =!= col("lb"))
      .groupBy(col("la"), col("lb"))
      .agg(round(sum(col("ca") * col("cb")) /
        (sqrt(sum(col("ca") * col("ca"))) *
          sqrt(sum(col("cb") * col("cb")))), 10).as("sim"))
    val sep = cross.groupBy(col("la").as("label"))
      .agg(round(max(col("sim")), 6).as("max_other_centroid_sim"))
    coh.join(sep, "label").orderBy(col("label"))
  }

  val qClassSeparationSql: String =
    """WITH e AS (SELECT vec_id, label,
      |    unnest(range(len(embedding))) AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |cen AS (SELECT label, dim, round(avg(v), 10) AS c
      |  FROM e GROUP BY 1, 2),
      |coh0 AS (SELECT e.vec_id, e.label,
      |    sum(e.v * cen.c) AS dot,
      |    sqrt(sum(e.v * e.v)) AS nv,
      |    sqrt(sum(cen.c * cen.c)) AS nc
      |  FROM e JOIN cen ON e.label = cen.label AND e.dim = cen.dim
      |  GROUP BY 1, 2),
      |coh AS (SELECT label, count(*) AS n_vectors,
      |    round(avg(round(dot / (nv * nc), 10)), 6) AS cohesion
      |  FROM coh0 GROUP BY 1),
      |cross_sim AS (SELECT a.label AS la, b.label AS lb,
      |    round(sum(a.c * b.c) / (sqrt(sum(a.c * a.c)) * sqrt(sum(b.c * b.c))), 10) AS sim
      |  FROM cen a JOIN cen b ON a.dim = b.dim AND a.label <> b.label
      |  GROUP BY 1, 2),
      |sep AS (SELECT la AS label, round(max(sim), 6) AS max_other_centroid_sim
      |  FROM cross_sim GROUP BY 1)
      |SELECT coh.label, coh.n_vectors, coh.cohesion, sep.max_other_centroid_sim
      |FROM coh JOIN sep USING (label) ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- D13
  /** PQ reconstruction-distortion audit per subspace — the codebook
    * quality number behind D4/D5's recall: per subspace m, the mean
    * squared error between each normalized vector's subvector and its
    * assigned codeword, the subvector energy, and their ratio (the
    * fraction of energy quantization destroys; rate–distortion's
    * empirical readout). A rising per-subspace ratio is the signal to
    * re-train that codebook or raise PqK — measured, not guessed,
    * from the PERSISTED index tables, so the oracle replays the whole
    * audit from data (the D3/D4 device). Parity: the 8-dim SE and
    * energy folds round at 10 dp BEFORE the corpus mean (Spark's
    * ordered zip_with fold vs DuckDB's unnest sum differ only in
    * low-bit addition order), ratio computed from the two 6-dp
    * published means. Plan: codes long-form map-side explode ×8,
    * broadcast codebook join, one (m)-keyed aggregate — linear scan,
    * 8 output rows.
    */
  def qPqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val (codes, book) = PqIndex.get(spark, dir)
    val sub = PqIndex.normalized(spark, dir)
      .select(col("vec_id"), posexplode(array((0 until PqIndex.PqM).map(m =>
        slice(col("v"), m * PqIndex.PqSubDim + 1, PqIndex.PqSubDim)): _*))
        .as(Seq("m", "sv")))
    val codesLong = codes.select(col("vec_id"),
      posexplode(array((0 until PqIndex.PqM).map(m => col(s"c$m")): _*))
        .as(Seq("m", "code")))
    val per = sub.join(codesLong, Seq("vec_id", "m"))
      .join(broadcast(book), Seq("m", "code"))
      .select(col("m"),
        round(aggregate(zip_with(col("sv"), col("cv"),
          (x, y) => (x - y) * (x - y)), lit(0.0), _ + _), 10).as("se"),
        round(aggregate(transform(col("sv"), x => x * x),
          lit(0.0), _ + _), 10).as("energy"))
    per.groupBy(col("m"))
      .agg(count(lit(1)).as("n_vectors"),
        round(avg(col("se")), 6).as("mse"),
        round(avg(col("energy")), 6).as("mean_energy"))
      .withColumn("distortion_ratio",
        round(col("mse") / col("mean_energy"), 6))
  }

  private def pqDistortionSql(codesDir: String, bookDir: String): String =
    raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |nrm AS (SELECT vec_id, list_transform(v,
         |    x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS nv
         |  FROM e),
         |book AS (SELECT m, code, cv FROM read_parquet('$bookDir/*.parquet')),
         |codes AS (SELECT * FROM read_parquet('$codesDir/*.parquet')),
         |sub AS (SELECT vec_id, m,
         |    nv[m*${PqIndex.PqSubDim}+1 : m*${PqIndex.PqSubDim}+${PqIndex.PqSubDim}] AS sv
         |  FROM nrm, generate_series(0, ${PqIndex.PqM - 1}) g(m)),
         |cl AS (SELECT vec_id, m, [c0,c1,c2,c3,c4,c5,c6,c7][m+1] AS code
         |  FROM codes, generate_series(0, ${PqIndex.PqM - 1}) g(m)),
         |flat AS (SELECT sub.vec_id, sub.m, unnest(sv) AS x, unnest(cv) AS y
         |  FROM sub JOIN cl ON sub.vec_id = cl.vec_id AND sub.m = cl.m
         |  JOIN book ON cl.m = book.m AND cl.code = book.code),
         |per AS (SELECT vec_id, m,
         |    round(sum((x - y) * (x - y)), 10) AS se,
         |    round(sum(x * x), 10) AS energy
         |  FROM flat GROUP BY 1, 2),
         |agg AS (SELECT m, count(*) AS n_vectors,
         |    round(avg(se), 6) AS mse,
         |    round(avg(energy), 6) AS mean_energy
         |  FROM per GROUP BY m)
         |SELECT m, n_vectors, mse, mean_energy,
         |  round(mse / mean_energy, 6) AS distortion_ratio
         |FROM agg""".stripMargin

  // ---------------------------------------------------------------- D16
  /** Hybrid retrieval with reciprocal-rank fusion — the production RAG
    * pattern a pure-lexical or pure-vector stack misses: BM25 (E10's
    * machinery and constants) produces the lexical list, its top-3
    * hits seed a pseudo-relevance-feedback embedding centroid
    * (element-wise sum in FIXED fold order — cosine is scale-
    * invariant, so no /3), the centroid's cosine ranking produces the
    * vector list, and RRF fuses: score(d) = Σ 1/(60 + rank_i(d)) over
    * the lists containing d (Cormack et al.'s k = 60). Rank
    * arithmetic only — RRF never compares raw scores across scoring
    * scales, which is exactly why it is the default fusion in
    * production search.
    *
    * Scale shape: BM25 is E10's bounded plan; the centroid is a
    * 3-row reduction; the vector list uses the distributed
    * TakeOrdered cut (per-partition partial top-k — no global sort,
    * no corpus-scale window); fusion outer-joins two ≤ TopK-row
    * lists. Parity: ranks are exact integers, 1/(60+r) is one IEEE
    * division on identical ints, fused scores round to 8 dp with
    * doc_id tiebreak.
    */
  def qHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val topK = graft.ml.FeatureOps.Bm25TopK
    val lex = graft.ml.FeatureOps.qBm25(spark, dir)
      .select(col("doc_id"), col("rank").as("rank_lex"))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val centroid = lex.filter(col("rank_lex") <= 3)
      .join(e, col("doc_id") === col("vec_id"))
      .agg(max(when(col("rank_lex") === 1, col("v"))).as("v1"),
        max(when(col("rank_lex") === 2, col("v"))).as("v2"),
        max(when(col("rank_lex") === 3, col("v"))).as("v3"))
      .select(expr(
        """zip_with(
          |  zip_with(v1, coalesce(v2, array_repeat(cast(0.0 as double), 64)),
          |    (a, b) -> a + b),
          |  coalesce(v3, array_repeat(cast(0.0 as double), 64)),
          |  (a, b) -> a + b)""".stripMargin).as("cv"))
    val vecTop = e.crossJoin(broadcast(centroid))
      .select(col("vec_id").as("doc_id"),
        VectorFunctions.cosine(col("cv"), col("v")).as("sim"))
      .orderBy(round(col("sim"), 6).desc, col("doc_id").asc).limit(topK)
      .withColumn("rank_vec", row_number().over(
        Window.orderBy(round(col("sim"), 6).desc, col("doc_id").asc)))
      .select(col("doc_id"), col("rank_vec"))
    val fused = lex.join(vecTop, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + col("rank_lex")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("rank_vec")), lit(0.0)), 8))
    fused.withColumn("rank", row_number().over(
        Window.orderBy(col("rrf").desc, col("doc_id").asc)))
      .filter(col("rank") <= 10)
      .select(col("doc_id"), col("rank_lex"), col("rank_vec"),
        col("rrf"), col("rank"))
  }

  val qHybridRrfSql: String = {
    val bm = graft.ml.FeatureOps.qBm25Sql
    s"""WITH bm AS (SELECT doc_id, rank AS rank_lex FROM ($bm)),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |seeds AS (SELECT
      |    max(CASE WHEN rank_lex = 1 THEN v END) AS v1,
      |    max(CASE WHEN rank_lex = 2 THEN v END) AS v2,
      |    max(CASE WHEN rank_lex = 3 THEN v END) AS v3
      |  FROM bm JOIN e ON doc_id = vec_id WHERE rank_lex <= 3),
      |cen AS (SELECT i,
      |    v1[i] + coalesce(v2[i], 0.0) + coalesce(v3[i], 0.0) AS c
      |  FROM seeds, generate_series(1, 64) g(i)),
      |cl AS (SELECT list(c ORDER BY i) AS cv FROM cen),
      |flat AS (SELECT vec_id AS doc_id, unnest(cv) AS x, unnest(v) AS y
      |  FROM e, cl),
      |sc AS (SELECT doc_id,
      |    sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
      |  FROM flat GROUP BY 1),
      |vr AS (SELECT doc_id, row_number() OVER (
      |    ORDER BY round(sim, 6) DESC, doc_id ASC) AS rank_vec FROM sc),
      |vt AS (SELECT * FROM vr WHERE rank_vec <= ${graft.ml.FeatureOps.Bm25TopK}),
      |fused AS (SELECT coalesce(bm.doc_id, vt.doc_id) AS doc_id,
      |    bm.rank_lex, vt.rank_vec,
      |    round(coalesce(1.0 / (60 + bm.rank_lex), 0.0)
      |      + coalesce(1.0 / (60 + vt.rank_vec), 0.0), 8) AS rrf
      |  FROM bm FULL OUTER JOIN vt ON bm.doc_id = vt.doc_id)
      |SELECT doc_id, rank_lex, rank_vec, rrf,
      |  row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS rank
      |FROM fused
      |QUALIFY rank <= 10""".stripMargin
  }

  // ---------------------------------------------------------------- D17
  /** Matryoshka truncation audit — how much retrieval quality survives
    * when the 64-dim embedding is cut to its 32- or 16-dim prefix
    * (the MRL deployment question: shorter prefixes mean 2–4× cheaper
    * ANN storage and bandwidth IF the prefix ranking holds up). For
    * the standard query panel, exact cosine top-5 is computed per dim
    * budget b ∈ {16, 32, 64} over the PREFIX slice, and each
    * truncated list is scored by its overlap with the full-dim truth
    * list. Work is 3× the D1 bruteforce shape — panel × corpus map
    * work, per-(query, budget) bounded windows, exact integer hit
    * counts until one final division. At 100 TB the panel cap (D1's
    * PanelIdCap) keeps the whole audit O(corpus), and the verdict
    * tells you which prefix budget your ANN tier can drop to.
    */
  def qMatryoshkaOverlap(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < PanelIdCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val budgets = Seq(16, 32, 64)
    val ranked = budgets.map { b =>
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"), lit(b).as("budget"),
          VectorFunctions.cosine(expr(s"slice(qv, 1, $b)"),
            expr(s"slice(v, 1, $b)")).as("sim"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(round(col("sim"), 6).desc, col("nid").asc)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("qid"), col("nid"), col("budget"))
    }.reduce(_ union _)
    val truth = ranked.filter(col("budget") === 64)
      .select(col("qid"), col("nid"))
    // denominator = the PANEL size, independent of hit count — a
    // budget whose top-5 shares nothing with truth still divides by
    // the full panel (caught by the spec: counting distinct qids
    // after the overlap join silently drops zero-overlap queries)
    val hits = ranked.join(truth, Seq("qid", "nid"), "left_semi")
      .groupBy(col("budget")).agg(count(lit(1)).as("hits"))
    val grid = q.agg(count(lit(1)).as("n_queries"))
      .select(explode(array(lit(16), lit(32), lit(64))).as("budget"),
        col("n_queries"))
    grid.join(hits, Seq("budget"), "left").na.fill(0L, Seq("hits"))
      .select(col("budget"), col("n_queries"),
        round(col("hits") / (col("n_queries") * 5).cast("double"), 4)
          .as("overlap_at_5"))
  }

  val qMatryoshkaOverlapSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e
      |  WHERE vec_id % 50 = 0 AND vec_id < $PanelIdCap),
      |grid AS (SELECT unnest([16, 32, 64]) AS budget),
      |flat AS (SELECT qid, e.vec_id AS nid, budget, qv[i] AS x, v[i] AS y
      |  FROM e JOIN q ON e.vec_id <> q.qid, grid, generate_series(1, 64) g(i)
      |  WHERE i <= budget),
      |scored AS (SELECT qid, nid, budget,
      |    sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
      |  FROM flat GROUP BY 1, 2, 3),
      |ranked AS (SELECT qid, nid, budget, row_number() OVER (
      |    PARTITION BY qid, budget ORDER BY round(sim, 6) DESC, nid ASC) AS rank
      |  FROM scored),
      |top AS (SELECT qid, nid, budget FROM ranked WHERE rank <= 5),
      |truth AS (SELECT qid, nid FROM top WHERE budget = 64),
      |hits AS (SELECT budget, count(*) AS hits
      |  FROM top t JOIN truth u ON t.qid = u.qid AND t.nid = u.nid
      |  GROUP BY 1),
      |nq AS (SELECT count(*) AS n_queries FROM q)
      |SELECT g.budget, n_queries,
      |  round(coalesce(hits, 0) / CAST(n_queries * 5 AS DOUBLE), 4)
      |    AS overlap_at_5
      |FROM grid g CROSS JOIN nq LEFT JOIN hits ON g.budget = hits.budget""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_matryoshka_overlap" -> (qMatryoshkaOverlap _),
    "q_hybrid_rrf" -> (qHybridRrf _),
    "q_pq_distortion" -> (qPqDistortion _),
    "q_class_separation" -> (qClassSeparation _),
    "q_ann_bruteforce" -> (qAnnBruteforce _),
    "q_ann_binary" -> (qAnnBinary _),
    "q_ann_binary_sweep" -> (qAnnBinarySweep _),
    "q_knn_classify" -> (qKnnClassify _),
    "q_hard_negatives" -> (qHardNegatives _),
    "q_triplet_mining" -> (qTripletMining _),
    "q_ann_nsw" -> (qAnnNsw _),
    "q_ann_hnsw" -> (qAnnHnsw _),
    "q_mips" -> (qMips _),
    "q_anisotropy" -> (qAnisotropy _),
    "q_mips_ivf" -> ((s: SparkSession, d: String) => qMipsIvf(s, d)),
    "q_mmr_diversify" -> (qMmrDiversify _),
    "q_mmr_ann" -> (qMmrAnn _),
    "q_ndcg" -> (qNdcg _),
    "q_ann_lsh" -> ((s: SparkSession, d: String) => qAnnLsh(s, d)),
    "q_ann_ivf" -> ((s: SparkSession, d: String) => qAnnIvf(s, d)),
    "q_ann_filtered" -> ((s: SparkSession, d: String) => qAnnFiltered(s, d)),
    "q_ivf_nprobe_curve" -> ((s: SparkSession, d: String) => qIvfNprobeCurve(s, d)),
    "q_ann_pq" -> ((s: SparkSession, d: String) => qAnnPq(s, d)),
    "q_ann_ivfpq" -> ((s: SparkSession, d: String) => qAnnIvfPq(s, d)),
    "q_recall_curve" -> (qRecallCurve _),
    "q_ann_index_stats" -> ((s: SparkSession, d: String) => qAnnIndexStats(s, d)),
    "q_semantic_balance" -> ((s: SparkSession, d: String) => qSemanticBalance(s, d)))

  /** The index-backed oracles inline absolute paths of the persisted
    * index tables, resolved when the corresponding query ran in this
    * JVM (Verify runs queries before dumping oracle_sql.json). Until
    * then those entries are omitted — the driver then records the
    * rows-only check, same as before round 9.
    */
  def oracle: Map[String, String] = {
    val k = lastShortlistK.get
    Map("q_ann_bruteforce" -> qAnnBruteforceSql,
      "q_ann_binary" -> qAnnBinarySql,
      "q_ann_binary_sweep" -> qAnnBinarySweepSql,
      "q_anisotropy" -> qAnisotropySql,
      "q_mips" -> qMipsSql,
      "q_knn_classify" -> qKnnClassifySql,
      "q_hard_negatives" -> qHardNegativesSql,
      "q_triplet_mining" -> qTripletMiningSql, "q_ann_lsh" -> qAnnLshSql,
      "q_hybrid_rrf" -> qHybridRrfSql,
      "q_matryoshka_overlap" -> qMatryoshkaOverlapSql,
      "q_mmr_diversify" -> qMmrDiversifySql,
      "q_ndcg" -> qNdcgSql,
      "q_class_separation" -> qClassSeparationSql) ++
      Option(IvfIndex.lastLoc.get).map { case (a, c) =>
        "q_ann_ivf" -> annIvfSql(a, c, nprobe = 10) }.toMap ++
      Option(IvfIndex.lastLoc.get).map { case (a, c) =>
        "q_mips_ivf" -> mipsIvfSql(a, c, nprobe = 12) }.toMap ++
      Option(NswIndex.lastLoc.get).map { loc =>
        "q_ann_nsw" -> annNswSql(loc) }.toMap ++
      (for (loc <- Option(NswIndex.lastLoc.get);
            (a, c) <- Option(IvfIndex.lastLoc.get))
        yield "q_ann_hnsw" -> annHnswSql(loc, a, c)).toMap ++
      Option(IvfIndex.lastLoc.get).map { case (a, c) =>
        "q_ann_filtered" -> annFilteredSql(a, c, nprobe = 12) }.toMap ++
      Option(IvfIndex.lastLoc.get).map { case (a, c) =>
        "q_ivf_nprobe_curve" -> ivfNprobeCurveSql(a, c, nlist = 16) }.toMap ++
      Option(IvfIndex.lastLoc.get).map { case (a, c) =>
        "q_ann_index_stats" -> annIndexStatsSql(a, c) }.toMap ++
      Option(IvfIndex.lastLoc.get).map { case (a, _) =>
        "q_semantic_balance" -> semanticBalanceSql(a) }.toMap ++
      (for ((co, b) <- Option(PqIndex.lastLoc.get) if k > 0)
        yield "q_ann_pq" -> annPqSql(co, b, k)).toMap ++
      Option(PqIndex.lastLoc.get).map { case (co, b) =>
        "q_pq_distortion" -> pqDistortionSql(co, b) }.toMap ++
      (for ((a, c) <- Option(IvfIndex.lastLoc.get);
            (co, b) <- Option(PqIndex.lastLoc.get) if k > 0)
        yield "q_ann_ivfpq" -> annIvfPqSql(a, c, co, b, nprobe = 12, k)).toMap ++
      (for ((a, c) <- Option(IvfIndex.lastLoc.get);
            (co, b) <- Option(PqIndex.lastLoc.get) if k > 0)
        yield "q_mmr_ann" -> mmrAnnSql(a, c, co, b, nprobe = 12, k)).toMap ++
      (for ((a, c) <- Option(IvfIndex.lastLoc.get);
            (co, b) <- Option(PqIndex.lastLoc.get) if k > 0)
        yield "q_recall_curve" -> recallCurveSql(qAnnLshSql,
          annIvfPqSql(a, c, co, b, nprobe = 12, k))).toMap
  }
}
