package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Store, Tables}
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Deduplication operators over the documents/embeddings corpus
  * (SURVEY.md §2 block C).
  *
  * 100 TB design: every variant is blocked — no global O(n²) pair
  * space. Exact dedup shuffles only (fingerprint, doc_id). N-gram
  * Jaccard restricts pairs to a blocking key (source). MinHash-LSH
  * shuffles per-doc signatures (32 longs/doc, map-side reduced), then
  * pairs only within LSH band buckets; bands×rows tunes the
  * candidate-pair budget.
  */
object Dedup {

  /** Fixed MinHash permutation constants (seeded offline, shared
    * verbatim with the oracle SQL).
    */
  val perms: Seq[(Long, Long)] = Seq(
    (2075443165L, 1892932127L), (250934581L, 32175636L), (194655651L, 150006740L),
    (1442171595L, 360511942L), (211359735L, 1523148328L), (508545125L, 74852898L),
    (66172593L, 68034096L), (743220395L, 2079820365L), (1322454143L, 1990923381L),
    (319018673L, 392075585L), (393184163L, 491399954L), (1815372137L, 62787174L),
    (1080363997L, 2090581934L), (1890795833L, 1073003404L), (138646445L, 2001019095L),
    (147251337L, 381946419L), (1106050645L, 197419547L), (578930451L, 270916581L),
    (1384341475L, 1298922895L), (1033017745L, 1525740512L), (572206131L, 1070100198L),
    (1407636323L, 859131847L), (973643353L, 82890994L), (2021803349L, 303174602L),
    (12412969L, 1432414906L), (308740337L, 2030776188L), (1411658033L, 1620694933L),
    (358871279L, 232680712L), (163711223L, 2132802046L), (352194255L, 323504225L),
    (1196857573L, 923823392L), (309765337L, 116516721L))

  val MinhashPrime: Long = 4294967291L
  val NumPerms: Int = perms.size // 32
  val RowsPerBand: Int = 4       // → 8 bands

  /** Similarity floor for clustering MinHash candidates: band
    * collision alone admits pairs sharing one lucky band; clusters
    * built from them chain unrelated documents. 16/32 matching minima
    * (Jaccard ≈ 0.5) is the conventional near-dup cut. Declared HERE,
    * before every oracle-SQL val that interpolates it — Scala object
    * vals initialize in declaration order, and a use-before-decl
    * interpolation reads the primitive default (0.0) without warning.
    */
  val TextClusterMinSim = 0.5

  private val permsSqlValues: String =
    perms.zipWithIndex.map { case ((a, b), i) => s"($i,$a,$b)" }.mkString(", ")

  private val duckNorm = raw"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
  /** Shared shingle CTE: raw (with multiplicity) 5-gram shingle
    * occurrences per document — the df cut and the per-doc distinct
    * both happen downstream, mirroring the Spark pipeline.
    */
  private val duckShingleCte: String =
    raw"""n AS (SELECT doc_id, source, $duckNorm AS t FROM documents),
         |ix AS (SELECT doc_id, source, t, unnest(generate_series(1, greatest(length(t)-4, 1))) AS i FROM n),
         |sh AS (SELECT doc_id, source, substr(t, i, 5) AS s FROM ix)""".stripMargin

  // ---------------------------------------------------------------- C1
  /** Exact dedup: group by content fingerprint; canonical = min id.
    * At scale this shuffles (fp, doc_id) only — never the payload.
    */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  val qDedupExactSql: String =
    raw"""SELECT md5($duckNorm) AS fp, min(doc_id) AS canonical_id, count(*) AS n_copies
         |FROM documents GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- C2
  /** Exact n-gram Jaccard near-dup pairs over *discriminative*
    * shingles, blocked by source.
    *
    * Contract (mirrored in the oracle): shingle sets are the distinct
    * 5-gram hash values whose within-source OCCURRENCE frequency is
    * <= [[JaccardDfCap]]. The df cap is the standard stopword-shingle
    * cut: a shingle occurring k times in a block produces O(k²)
    * candidate pairs while carrying no near-dup signal — capping df
    * bounds per-shingle join fan-out at scale. Occurrence counts
    * (rather than distinct-document counts) keep the cut computable
    * with a plain map-side-combined aggregate — no global distinct of
    * the occurrence stream — and the excluded set is the Zipf head, so
    * it broadcasts at any scale. Identical documents still share all
    * (rare) shingles → Jaccard 1.
    *
    * Shingles are joined on their 64-bit-range polynomial hash, not
    * the string — shorter shuffle keys; the (engine-portable) hash is
    * part of the contract, so any collision affects both engines
    * identically.
    */
  val JaccardDfCap = 50

  /** Raw 5-gram shingle-hash occurrence stream (with multiplicity):
    * codegen-friendly explode(sequence) + substr (native expressions
    * end to end — the array-HOF formulation ran interpreted lambdas
    * per shingle). Map-only: no distinct, no shuffle. The per-doc
    * distinct happens AFTER the df cut, when the stream has collapsed
    * to the rare-shingle tail — a global distinct here shuffled the
    * full occurrence stream (the dominant round-1 cost) for rows the
    * cap then discarded.
    */
  private def shingleStream(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      // the corpus arrives as one split locally — spread the
      // explode-heavy shingle generation across all cores (on a real
      // cluster file splits already provide this width)
      .repartition(spreadWidth(spark))
      .select(col("doc_id"), col("source"), normText(col("text")).as("t"))
      // one-pass codegen kernel: all window hashes from a shared
      // codepoint array (identical values to shingleHash(substr) —
      // see ShingleHashes; oracles unchanged)
      .select(col("doc_id"), col("source"),
        explode(graft.functions.GraftExpressions.shingle_hashes(col("t"))).as("h"))
      // consumed twice per query (df aggregate + anti-join): cache the
      // narrow (ids + hash) stream rather than re-running the explode
      // scan — the standard two-pass df-then-filter shape, same as
      // TF-IDF. (CacheManager dedupes the identical plan across the
      // dedup queries in a shared session.)
      .cache()

  /** Materialize a cached plan before its fan-out consumers run.
    * Without this, AQE launches the downstream exchange stages (both
    * self-join sides, the size aggregate, broadcast builds)
    * concurrently, and their tasks race to build the same cold cache
    * blocks — serializing on per-block locks. Round 1's 376s/272s
    * dedup timings were exactly this: the same joins run in ~2s once
    * the cache is warm.
    */
  private def eager(df: DataFrame): DataFrame = { df.count(); df }

  /** Explicit-repartition width for the explode/pair-generation
    * spreads: the session's (data-derived) shuffle width, NOT the raw
    * core count — local[32] over a KB-scale corpus otherwise schedules
    * 32 near-empty tasks per spread stage, which is how 32 cores
    * measured SLOWER than 8 on the r17 driver bench (the r18
    * core-scaling fix); at production scale shuffle.partitions is the
    * cluster-sized dial, so spreads inherit the right width there too.
    */
  private[operators] def spreadWidth(spark: SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  def qNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    shinglePairStats(spark, dir)
      .select(col("d1"), col("d2"),
        (col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.25)

  /** Exact discriminative-shingle pair statistics shared by the
    * symmetric (C2 Jaccard) and asymmetric (C13 containment) exact
    * verification tiers: (d1, d2, inter, sz1, sz2) for source-blocked
    * candidate pairs. The cached `disc` plan is shared across both
    * queries in a session via the CacheManager.
    */
  private def shinglePairStats(spark: SparkSession, dir: String): DataFrame = {
    val sh = eager(shingleStream(spark, dir))
    // Hot-shingle exclusion list: occurrence df > cap. By Zipf this is
    // the vocabulary HEAD — small at any corpus scale — so it
    // broadcasts; the keep-side (the rare tail) is unbounded and never
    // materializes as a join side.
    val hot = sh.groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > JaccardDfCap)
      .select(col("source").as("k_source"), col("h").as("k_h"))
    // Explicit width before the pair-generation self-join: its INPUT
    // is small (AQE would coalesce to ~1 partition) but its OUTPUT
    // explodes quadratically per shingle group — spread the groups
    // across tasks up front.
    val width = spreadWidth(spark) * 2
    // repartition FIRST, then distinct: HashPartitioning(source, h)
    // satisfies the distinct aggregate's ClusteredDistribution over
    // (doc_id, source, h) — a superset key — so the aggregate reuses
    // the repartition exchange and the old distinct-then-repartition
    // double shuffle of the full rare-tail stream collapses to one
    // (r17 measurement: 2 full-stream exchanges → 1 on every
    // shinglePairStats consumer; identical rows, rare-tail
    // multiplicity ≈ 1 so the lost pre-shuffle combine is noise).
    val disc = sh.join(broadcast(hot),
        col("source") === col("k_source") && col("h") === col("k_h"), "left_anti")
      .select(col("doc_id"), col("source"), col("h"))
      .repartition(width, col("source"), col("h"))
      .distinct()
      .cache()
    eager(disc)
    val sz = disc.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = disc.as("a")
      .join(disc.as("b"),
        col("a.source") === col("b.source") && col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sz.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sz.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"), col("inter"),
        col("s1.sz").as("sz1"), col("s2.sz").as("sz2"))
  }

  // ---------------------------------------------------------------- C13
  /** Containment near-dup pairs — the ASYMMETRIC overlap measure:
    * inter / min(|A|, |B|), i.e. how much of the SMALLER document is
    * contained in the larger. Catches subset duplication (a quote, an
    * excerpt, a page embedded in a hub page) that symmetric Jaccard
    * structurally misses: a 50-shingle doc fully inside a 500-shingle
    * doc has containment 1.0 but Jaccard 0.1, under every C2
    * threshold. Shares C2's cached discriminative-shingle pair stats;
    * both scores are emitted so the subset case (high containment,
    * low Jaccard) is visible.
    */
  val ContainmentFloor = 0.5

  def qContainmentPairs(spark: SparkSession, dir: String): DataFrame =
    shinglePairStats(spark, dir)
      .select(col("d1"), col("d2"),
        (col("inter").cast("double") / least(col("sz1"), col("sz2"))).as("containment"),
        (col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter"))).as("jaccard"))
      .filter(col("containment") >= ContainmentFloor)

  val qContainmentPairsSql: String =
    raw"""WITH $duckShingleCte,
         |hs AS (SELECT doc_id, source, ${shingleHashSql("s")} AS h FROM sh),
         |hot AS (SELECT source, h FROM hs GROUP BY source, h HAVING count(*) > $JaccardDfCap),
         |disc AS (SELECT DISTINCT doc_id, source, h FROM hs
         |  WHERE NOT EXISTS (SELECT 1 FROM hot
         |    WHERE hot.source = hs.source AND hot.h = hs.h)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM disc GROUP BY doc_id),
         |inter AS (SELECT a.doc_id d1, b.doc_id d2, count(*) AS inter
         |  FROM disc a JOIN disc b ON a.source = b.source AND a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, CAST(inter AS DOUBLE)/least(s1.sz, s2.sz) AS containment,
         |  CAST(inter AS DOUBLE)/(s1.sz + s2.sz - inter) AS jaccard
         |FROM inter JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
         |WHERE CAST(inter AS DOUBLE)/least(s1.sz, s2.sz) >= $ContainmentFloor""".stripMargin

  val qNgramJaccardSql: String =
    raw"""WITH $duckShingleCte,
         |hs AS (SELECT doc_id, source, ${shingleHashSql("s")} AS h FROM sh),
         |hot AS (SELECT source, h FROM hs GROUP BY source, h HAVING count(*) > $JaccardDfCap),
         |disc AS (SELECT DISTINCT doc_id, source, h FROM hs
         |  WHERE NOT EXISTS (SELECT 1 FROM hot
         |    WHERE hot.source = hs.source AND hot.h = hs.h)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM disc GROUP BY doc_id),
         |inter AS (SELECT a.doc_id d1, b.doc_id d2, count(*) AS inter
         |  FROM disc a JOIN disc b ON a.source = b.source AND a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, CAST(inter AS DOUBLE)/(s1.sz + s2.sz - inter) AS jaccard
         |FROM inter JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
         |WHERE CAST(inter AS DOUBLE)/(s1.sz + s2.sz - inter) >= 0.25""".stripMargin

  // ---------------------------------------------------------------- C3
  /** MinHash + LSH near-dup candidates, fully deterministic and
    * oracle-checkable: portable polynomial shingle hash → 32
    * universal-hash minima computed in ONE map-side aggregate pass
    * (no 32× row explosion) → md5 band keys (8 bands × 4 rows) →
    * candidate pairs from band-bucket self-join → estimated
    * similarity = matching-minima fraction.
    */
  /** Global stopword-shingle cut for MinHash: shingles occurring more
    * than this many times in the corpus carry no near-dup signal but
    * dominate the signature minima, collapsing LSH band buckets
    * (candidate pairs exploded ~1000x without it on the
    * vocab-homogeneous corpus). Occurrence counts, like
    * [[JaccardDfCap]]: the cut needs only a map-side-combined
    * aggregate and the excluded Zipf head broadcasts at any scale.
    */
  val MinhashDfCap = 50

  /** One row per doc, 32 minima columns — the WIDE MinHash signature.
    * The long (doc_id, i, minh) form cost a 32x stack explosion, a
    * collect_list re-aggregation for band keys, and a 32-rows-per-doc
    * verification join — all pure overhead. Wide: band hashes are a
    * map-only projection and verification compares 32 column pairs
    * inline in codegen. Cached (docs x 32 longs — tiny at any scale
    * relative to the corpus) because bands + both join sides reuse it;
    * CacheManager dedupes the identical plan across the MinHash-family
    * queries in a shared session.
    */
  /** The df-capped DISTINCT (doc_id, h) shingle universe the MinHash
    * signatures sample — factored out so C21's calibration computes
    * exact Jaccard over the SAME universe the estimator sees (an
    * estimate audited against a different universe would confound
    * sampling error with universe mismatch). Same plan as before the
    * extraction; the underlying shingle stream stays the shared
    * eager cache.
    */
  private def minhashUniverse(spark: SparkSession, dir: String,
      distinctRows: Boolean = true): DataFrame = {
    val all = eager(shingleStream(spark, dir)).select(col("doc_id"), col("h"))
    val hot = all.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > MinhashDfCap).select(col("h").as("k_h"))
    val kept = all.join(broadcast(hot), col("h") === col("k_h"), "left_anti")
      .select(col("doc_id"), col("h"))
    // repartition on doc_id BEFORE the distinct (the r17
    // shinglePairStats device): HashPartitioning(doc_id) satisfies the
    // distinct's ClusteredDistribution over (doc_id, h) — same single
    // exchange — and every C21 consumer (per-doc sizes, both
    // pair-keyed intersection joins) is doc_id-keyed, so the output
    // partitioning is the one they reuse
    if (distinctRows)
      kept.repartition(spreadWidth(spark), col("doc_id"))
        .distinct()
    else kept
  }

  private def minhashWide(spark: SparkSession, dir: String): DataFrame = {
    // min() is multiplicity-insensitive: the per-permutation minima
    // over the RAW df-capped occurrence stream equal the minima over
    // its distinct universe, so the distinct's full-stream shuffle
    // (one of the chain's two corpus-wide exchanges) is pure overhead
    // for signature building and is skipped — the signature aggregate
    // map-side-combines straight to one row per doc. C21's exact-
    // Jaccard audit keeps the distinct universe (set COUNTS do care)
    // and still audits the set the signatures mathematically sample.
    val sh = minhashUniverse(spark, dir, distinctRows = false)
    val minCols = perms.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("h") + lit(b)) % MinhashPrime).as(s"m$i")
    }
    eager(sh.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*).cache())
  }

  // ---------------------------------------------------------------- C21
  /** MinHash calibration curve — the estimator-quality audit the
    * whole C-block rests on: for every LSH candidate pair, the
    * signature estimate (matching-minima fraction) against the EXACT
    * Jaccard over the SAME df-capped shingle universe the signatures
    * sample, bucketed by estimated similarity. The readout says
    * whether 32 permutations suffice at the C18 threshold (mean
    * absolute error per decile bucket) — the number that justifies
    * the sweep's similarity cut. Work is PAIR-BOUNDED: the exact side
    * joins the (already blocked, already tiny) candidate pair stream
    * against the universe keyed by doc_id — never a corpus self-join;
    * the output is ≤ 10 bucket rows. est = k/32 makes the decile
    * binning knife-edge-free (k/32·10 is exact IEEE).
    */
  def qMinhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    // cached + eager (r18): the distinct universe is consumed THREE
    // times (per-doc sizes + both sides of the intersection join) —
    // uncached, each consumer re-ran the anti-join + distinct over the
    // full occurrence stream, the query's dominant cost
    val uni = eager(minhashUniverse(spark, dir).cache())
    val est = qMinhashLsh(spark, dir)
    val sz = uni.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = est.select(col("d1"), col("d2"))
      .join(uni.as("a"), col("d1") === col("a.doc_id"))
      .join(uni.as("b"),
        col("d2") === col("b.doc_id") && col("a.h") === col("b.h"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
    val p = est
      .join(inter, Seq("d1", "d2"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sz.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sz.as("s2"), col("d2") === col("s2.doc_id"))
      .withColumn("exact_j", col("inter").cast("double") /
        (col("s1.sz") + col("s2.sz") - col("inter")))
      .withColumn("bin", least(floor(col("est_sim") * 10).cast("long"), lit(9L)))
    p.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("est_sim")), 6).as("mean_est"),
        round(avg(col("exact_j")), 6).as("mean_exact"),
        round(avg(abs(col("est_sim") - col("exact_j"))), 6).as("mae"))
  }

  // lazy: minhashCtes is declared later in the file — a strict val
  // here would interpolate null at object-init time
  lazy val qMinhashCalibrationSql: String =
    raw"""WITH $minhashCtes,
         |cand AS (SELECT DISTINCT x.doc_id d1, y.doc_id d2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
         |est AS (SELECT d1, d2,
         |    CAST(sum(CASE WHEN p.minh = q.minh THEN 1 ELSE 0 END) AS DOUBLE) / $NumPerms AS est_sim
         |  FROM cand JOIN sigs p ON d1 = p.doc_id
         |  JOIN sigs q ON d2 = q.doc_id AND p.i = q.i
         |  GROUP BY d1, d2),
         |sz AS (SELECT doc_id, count(*) AS sz FROM hashed GROUP BY 1),
         |inter AS (SELECT e.d1, e.d2, count(*) AS inter
         |  FROM est e JOIN hashed a ON e.d1 = a.doc_id
         |  JOIN hashed b ON e.d2 = b.doc_id AND a.h = b.h
         |  GROUP BY 1, 2),
         |p AS (SELECT est.d1, est.d2, est_sim,
         |    coalesce(inter.inter, 0) AS inter, s1.sz AS sz1, s2.sz AS sz2
         |  FROM est LEFT JOIN inter ON est.d1 = inter.d1 AND est.d2 = inter.d2
         |  JOIN sz s1 ON est.d1 = s1.doc_id JOIN sz s2 ON est.d2 = s2.doc_id),
         |b AS (SELECT least(CAST(floor(est_sim * 10) AS BIGINT), 9) AS bin,
         |    est_sim,
         |    CAST(inter AS DOUBLE) / (sz1 + sz2 - inter) AS exact_j
         |  FROM p)
         |SELECT bin, count(*) AS n_pairs,
         |  round(avg(est_sim), 6) AS mean_est,
         |  round(avg(exact_j), 6) AS mean_exact,
         |  round(avg(abs(est_sim - exact_j)), 6) AS mae
         |FROM b GROUP BY bin""".stripMargin

  /** md5 over the comma-joined band minima — byte-identical to the
    * oracle's string_agg(minh, ',' ORDER BY i) per band.
    */
  private def bandStructs: Seq[org.apache.spark.sql.Column] =
    (0 until NumPerms / RowsPerBand).map { b =>
      val ms = (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(i => col(s"m$i").cast("string"))
      struct(lit(b).as("band"), md5(concat_ws(",", ms: _*)).as("bh"))
    }

  /** est_sim = matching-minima fraction between the wide signatures of
    * the id pair (c1, c2).
    */
  private def estSimJoin(cand: DataFrame, wide: DataFrame,
      c1: String, c2: String): DataFrame = {
    val matches = (0 until NumPerms)
      .map(i => when(col(s"p.m$i") === col(s"q.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(wide.as("p"), col(c1) === col("p.doc_id"))
      .join(wide.as("q"), col(c2) === col("q.doc_id"))
      .select(col(c1), col(c2),
        (matches.cast("double") / NumPerms).as("est_sim"))
  }

  def qMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val wide = minhashWide(spark, dir)
    val bands = wide
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    estSimJoin(cand, wide, "d1", "d2")
  }

  /** Shared oracle CTE chain ending in `sigs(doc_id, i, minh)` and
    * `bands(doc_id, band, bh)` — the MinHash signature pipeline.
    */
  private[operators] val minhashCtes: String =
    raw"""$duckShingleCte,
         |hashed0 AS (SELECT doc_id, ${shingleHashSql("s")} AS h FROM sh),
         |hashed AS (SELECT DISTINCT doc_id, h FROM hashed0 WHERE h NOT IN (
         |  SELECT h FROM hashed0 GROUP BY h HAVING count(*) > $MinhashDfCap)),
         |perms(i, a, b) AS (SELECT * FROM (VALUES $permsSqlValues)),
         |sigs AS (SELECT doc_id, i, min((a * h + b) % $MinhashPrime) AS minh
         |  FROM hashed, perms GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, CAST(i // $RowsPerBand AS INTEGER) AS band,
         |    md5(string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i)) AS bh
         |  FROM sigs GROUP BY 1, 2)""".stripMargin

  val qMinhashLshSql: String =
    raw"""WITH $minhashCtes,
         |cand AS (SELECT DISTINCT x.doc_id d1, y.doc_id d2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)
         |SELECT d1, d2,
         |  CAST(sum(CASE WHEN p.minh = q.minh THEN 1 ELSE 0 END) AS DOUBLE) / $NumPerms AS est_sim
         |FROM cand JOIN sigs p ON d1 = p.doc_id
         |JOIN sigs q ON d2 = q.doc_id AND p.i = q.i
         |GROUP BY d1, d2""".stripMargin

  // ---------------------------------------------------------------- C16
  /** Cross-lingual near-duplicate pairs: the C3 MinHash pair stream
    * re-keyed by language — pairs whose texts near-match ACROSS
    * languages are translation clones / template boilerplate, the
    * multilingual-corpus failure mode lang-blind dedup misses (they
    * inflate one language's effective epoch count) and lang-split
    * dedup can never see.
    *
    * Scale shape: the pair stream is already blocked and tiny relative
    * to the corpus; attaching `lang` is two joins of that small pair
    * set against the 2-column (doc_id, lang) projection — AQE
    * broadcasts the pair side. Nothing here re-reads `text`: the
    * signature cache (C3) is the only text consumer.
    */
  def qCrosslingualPairs(spark: SparkSession, dir: String): DataFrame = {
    val langs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    qMinhashLsh(spark, dir)
      .join(langs.as("la"), col("d1") === col("la.doc_id"))
      .join(langs.as("lb"), col("d2") === col("lb.doc_id"))
      .filter(col("la.lang") =!= col("lb.lang"))
      .select(col("d1"), col("d2"), col("la.lang").as("lang_1"),
        col("lb.lang").as("lang_2"), col("est_sim"))
  }

  val qCrosslingualPairsSql: String =
    raw"""WITH p AS (SELECT * FROM ($qMinhashLshSql) t)
         |SELECT d1, d2, a.lang AS lang_1, b.lang AS lang_2, est_sim
         |FROM p JOIN documents a ON p.d1 = a.doc_id
         |JOIN documents b ON p.d2 = b.doc_id
         |WHERE a.lang <> b.lang""".stripMargin

  // ---------------------------------------------------------------- C7
  /** Cross-corpus contamination check: train/eval overlap via a
    * TWO-SIDED MinHash LSH join — the standard pre-training gate that
    * a held-out evaluation set does not leak into the training corpus.
    *
    * The corpus is split by source ([[EvalSources]] = the held-out
    * side); band buckets join ACROSS sides only, so the candidate
    * space is train x eval within a bucket, never within-side pairs.
    * Same signature pipeline (and cache) as [[qMinhashLsh]]; at scale
    * the eval side is typically small enough that its banded
    * signatures broadcast, making contamination a map-side check over
    * the training corpus.
    */
  val EvalSources: Seq[String] = (15 until 20).map(i => s"src$i")

  def qContamination(spark: SparkSession, dir: String): DataFrame = {
    val wide = minhashWide(spark, dir)
    // side flag rides the wide signature (one row per doc) through the
    // band explode — no extra join on the exploded stream
    val side = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source").isin(EvalSources.map(x => x: Any): _*).as("is_eval"))
    val bands = wide.join(side, "doc_id")
      .select(col("doc_id"), col("is_eval"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("is_eval"),
        col("bb.band").as("band"), col("bb.bh").as("bh"))
    val cand = bands.filter(!col("is_eval")).as("x")
      .join(bands.filter(col("is_eval")).as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("d_train"), col("y.doc_id").as("d_eval"))
      .distinct()
    estSimJoin(cand, wide, "d_train", "d_eval")
  }

  private val evalSourcesSql: String =
    EvalSources.map(s => s"'$s'").mkString(", ")

  val qContaminationSql: String =
    raw"""WITH $minhashCtes,
         |side AS (SELECT doc_id, source IN ($evalSourcesSql) AS is_eval FROM documents),
         |cand AS (SELECT DISTINCT x.doc_id d_train, y.doc_id d_eval
         |  FROM bands x JOIN side sx ON x.doc_id = sx.doc_id
         |  JOIN bands y ON x.band = y.band AND x.bh = y.bh
         |  JOIN side sy ON y.doc_id = sy.doc_id
         |  WHERE NOT sx.is_eval AND sy.is_eval)
         |SELECT d_train, d_eval,
         |  CAST(sum(CASE WHEN p.minh = q.minh THEN 1 ELSE 0 END) AS DOUBLE) / $NumPerms AS est_sim
         |FROM cand JOIN sigs p ON d_train = p.doc_id
         |JOIN sigs q ON d_eval = q.doc_id AND p.i = q.i
         |GROUP BY d_train, d_eval""".stripMargin

  // ---------------------------------------------------------------- C22
  /** Exact n-gram collision decontamination — the OTHER standard
    * pre-training gate, complementary to C7's similarity search: C7
    * finds eval documents that LOOK like training documents (MinHash
    * over whole-doc shingle sets, catches paraphrase-level overlap);
    * this finds training documents that CONTAIN a verbatim eval
    * n-gram run (the published-benchmark leak an LLM can memorize
    * from one colliding window even when whole-doc similarity is
    * negligible). Method: every distinct [[DecontamN]]-token window
    * of the eval split becomes a banned key; a training doc is
    * flagged if ANY of its windows collides, reported with its
    * colliding-window count and fraction.
    *
    * 100 TB shape: the ban list is built from the EVAL side only —
    * benchmarks are tiny relative to the corpus, so the distinct
    * banned-key set broadcasts and the training side stays a map-only
    * explode + broadcast-hash semi-match + one per-doc aggregate; the
    * training corpus never shuffles its n-grams. Keys are md5 of the
    * window text for engine-exact oracle parity (production would
    * swap the 128-bit hex for xxhash64 — same plan, narrower key;
    * cf. the fingerprint canonical in C1). Short docs (< N tokens)
    * have no window and cannot be flagged — the same contract the
    * published filters apply.
    */
  val DecontamN: Int = 13

  def qNgramDecontam(spark: SparkSession, dir: String): DataFrame = {
    val n = DecontamN
    val isEval = col("source").isin(EvalSources.map(x => x: Any): _*)
    val toked = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), isEval.as("is_eval"),
        tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
    val grams = toked.select(col("doc_id"), col("source"), col("is_eval"),
      explode(transform(sequence(lit(1), size(col("toks")) - (n - 1)),
        i => md5(concat_ws(" ", slice(col("toks"), i, lit(n)))))).as("g"))
    val ban = grams.filter(col("is_eval")).select(col("g")).distinct()
    val train = grams.filter(!col("is_eval"))
    val counts = train.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_ngrams"))
    val hits = train.join(broadcast(ban), "g")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_hit"))
    hits.join(counts, "doc_id")
      .select(col("doc_id"), col("source"), col("n_ngrams"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_ngrams"), 6)
          .as("hit_frac"))
  }

  val qNgramDecontamSql: String = {
    val n = DecontamN
    raw"""WITH toked AS (SELECT doc_id, source,
         |    source IN ($evalSourcesSql) AS is_eval,
         |    ${duckToksSql("text")} AS toks
         |  FROM documents),
         |idx AS (SELECT doc_id, source, is_eval, toks,
         |    unnest(generate_series(1, len(toks) - ${n - 1})) AS i
         |  FROM toked WHERE len(toks) >= $n),
         |grams AS (SELECT doc_id, source, is_eval,
         |    md5(array_to_string(list_slice(toks, i, i + ${n - 1}), ' ')) AS g
         |  FROM idx),
         |ban AS (SELECT DISTINCT g FROM grams WHERE is_eval),
         |counts AS (SELECT doc_id, source, count(*) AS n_ngrams
         |  FROM grams WHERE NOT is_eval GROUP BY 1, 2),
         |hits AS (SELECT t.doc_id, count(DISTINCT t.g) AS n_hit
         |  FROM grams t JOIN ban USING (g)
         |  WHERE NOT t.is_eval GROUP BY 1)
         |SELECT c.doc_id, c.source, c.n_ngrams, h.n_hit,
         |  round(CAST(h.n_hit AS DOUBLE) / c.n_ngrams, 6) AS hit_frac
         |FROM hits h JOIN counts c ON h.doc_id = c.doc_id""".stripMargin
  }

  /** The C22 ban list alone: every distinct banned [[DecontamN]]-token
    * window key of the eval split — the bounded broadcast side of the
    * decontamination gate (benchmarks are tiny relative to a 100 TB
    * corpus, so this set broadcasts; the training side never shuffles
    * its n-grams). Built once per monitor/session and shared between
    * the batch query and the F19s streaming twin.
    */
  def decontamBanList(spark: SparkSession, dir: String): DataFrame = {
    val n = DecontamN
    Tables.documents(spark, dir)
      .filter(col("source").isin(EvalSources.map(x => x: Any): _*))
      .select(tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(explode(transform(sequence(lit(1), size(col("toks")) - (n - 1)),
        i => md5(concat_ws(" ", slice(col("toks"), i, lit(n)))))).as("g"))
      .distinct()
  }

  /** Flag an arriving doc frame (doc_id, source, text) against the
    * broadcast ban list — the per-micro-batch body of the F19s
    * streaming decontamination gate, and exactly the training-side
    * arithmetic of [[qNgramDecontam]] (same window keys, same per-doc
    * publish), so a stream over the training split reproduces the
    * batch verdict row-for-row regardless of batching (per-doc counts
    * never cross documents). Work per call: map-only window explode
    * over the batch + broadcast-hash semi-match + one per-doc
    * aggregate — independent of corpus size.
    */
  def decontamHits(ban: DataFrame, batch: DataFrame): DataFrame = {
    val n = DecontamN
    val grams = batch
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), col("source"),
        explode(transform(sequence(lit(1), size(col("toks")) - (n - 1)),
          i => md5(concat_ws(" ", slice(col("toks"), i, lit(n)))))).as("g"))
    val counts = grams.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_ngrams"))
    val hits = grams.join(broadcast(ban), "g")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_hit"))
    hits.join(counts, "doc_id")
      .select(col("doc_id"), col("source"), col("n_ngrams"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_ngrams"), 6)
          .as("hit_frac"))
  }

  /** K40: the contamination MATRIX — C22's verdict broken out by
    * (training source × eval source): WHICH benchmark leaks from
    * WHICH corpus slice, the attribution a curation team needs
    * before deciding whether to drop a source or just its colliding
    * documents (C22 flags docs; C12 measures source overlap by
    * near-dup similarity; this crosses the VERBATIM n-gram channel
    * with provenance). Distinct (gram, source) sets on both sides —
    * the eval side is bounded and broadcasts (the C22 contract), the
    * training side shuffles only 16-byte keys with source tags —
    * then one broadcast join + a pair-keyed aggregate. Collision
    * share is exact ppm of the training source's distinct grams.
    */
  def qContaminationMatrix(spark: SparkSession, dir: String): DataFrame = {
    val n = DecontamN
    val isEval = col("source").isin(EvalSources.map(x => x: Any): _*)
    val grams = Tables.documents(spark, dir)
      .select(col("source"), isEval.as("is_eval"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("source"), col("is_eval"),
        explode(transform(sequence(lit(1), size(col("toks")) - (n - 1)),
          i => md5(concat_ws(" ", slice(col("toks"), i, lit(n)))))).as("g"))
    val evalG = grams.filter(col("is_eval"))
      .select(col("source").as("eval_source"), col("g")).distinct()
    val trainG = grams.filter(!col("is_eval"))
      .select(col("source").as("train_source"), col("g")).distinct()
      .cache()
    val tt = trainG.groupBy(col("train_source"))
      .agg(count(lit(1)).as("n_train_grams"))
    val out = trainG.join(broadcast(evalG), "g")
      .groupBy(col("train_source"), col("eval_source"))
      .agg(countDistinct(col("g")).as("n_collisions"))
      .join(tt, "train_source")
      .select(col("train_source"), col("eval_source"), col("n_collisions"),
        col("n_train_grams"),
        expr("CAST((2 * CAST(n_collisions AS DECIMAL(38,0)) * 1000000" +
          " + n_train_grams) DIV (2 * CAST(n_train_grams AS DECIMAL(38,0)))" +
          " AS BIGINT)").as("collision_ppm"))
      .cache()
    out.count()
    trainG.unpersist()
    out
  }

  val qContaminationMatrixSql: String = {
    val n = DecontamN
    raw"""WITH toked AS (SELECT source,
         |    source IN ($evalSourcesSql) AS is_eval,
         |    ${duckToksSql("text")} AS toks
         |  FROM documents),
         |idx AS (SELECT source, is_eval, toks,
         |    unnest(generate_series(1, len(toks) - ${n - 1})) AS i
         |  FROM toked WHERE len(toks) >= $n),
         |grams AS (SELECT source, is_eval,
         |    md5(array_to_string(list_slice(toks, i, i + ${n - 1}), ' ')) AS g
         |  FROM idx),
         |evalg AS (SELECT DISTINCT source AS eval_source, g FROM grams
         |  WHERE is_eval),
         |traing AS (SELECT DISTINCT source AS train_source, g FROM grams
         |  WHERE NOT is_eval),
         |tt AS (SELECT train_source, count(*) AS n_train_grams
         |  FROM traing GROUP BY 1),
         |mx AS (SELECT train_source, eval_source,
         |    count(DISTINCT g) AS n_collisions
         |  FROM traing JOIN evalg USING (g) GROUP BY 1, 2)
         |SELECT train_source, eval_source, n_collisions, n_train_grams,
         |  CAST((2 * CAST(n_collisions AS HUGEINT) * 1000000 + n_train_grams)
         |    // (2 * CAST(n_train_grams AS HUGEINT)) AS BIGINT)
         |    AS collision_ppm
         |FROM mx JOIN tt USING (train_source)""".stripMargin
  }

  // ---------------------------------------------------------------- C8
  /** Incremental ingest dedup: the arriving batch ([[EvalSources]] as
    * the stand-in "new" split) checked against the existing corpus by
    * exact content fingerprint — the cheap gate every ingest cycle
    * runs BEFORE any pair-wise near-dup machinery. Only
    * (fingerprint, doc_id) shuffles; payloads never move; the
    * existing-corpus side pre-aggregates to one canonical row per
    * fingerprint, so the join probe stream is as small as the dedup'd
    * corpus, not the raw one.
    */
  def qIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val fps = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
    val isNew = col("source").isin(EvalSources.map(x => x: Any): _*)
    val existing = fps.filter(!isNew)
      .groupBy(col("fp")).agg(min(col("doc_id")).as("dup_of"))
    fps.filter(isNew)
      .join(existing, Seq("fp"), "left")
      .select(col("doc_id"), col("dup_of"), col("dup_of").isNull.as("is_new"))
  }

  val qIncrementalDedupSql: String =
    raw"""WITH fps AS (SELECT doc_id, source, md5($duckNorm) AS fp FROM documents),
         |existing AS (SELECT fp, min(doc_id) AS dup_of FROM fps
         |  WHERE source NOT IN ($evalSourcesSql) GROUP BY fp)
         |SELECT f.doc_id, e.dup_of, e.dup_of IS NULL AS is_new
         |FROM fps f LEFT JOIN existing e ON f.fp = e.fp
         |WHERE f.source IN ($evalSourcesSql)""".stripMargin

  // --------------------------------------------------------------- C8b
  /** Persisted MinHash signature store — the state an incremental
    * NEAR-dup ingest path checks arriving batches against, so the
    * existing corpus is signed exactly once (at store build), never
    * re-shingled per batch. A [[graft.Store]] over the existing
    * (non-eval) documents ([[buildCount]] is the spec's observability
    * hook).
    *
    * Two tables: the wide per-doc signature (bucketed by doc_id, so
    * the est_sim verification join against it arrives pre-shuffled)
    * and the hot-shingle exclusion list LEARNED ON THE EXISTING
    * CORPUS — arriving batches must be signed under the store's df
    * cut, not their own, or signatures stop being comparable.
    */
  object SigStore {
    import java.util.concurrent.atomic.AtomicInteger

    val SigBuckets = 8
    val buildCount = new AtomicInteger(0)

    /** Signature-contract tag baked into the store name: a store built
      * under different permutation/df-cut/banding constants would
      * silently serve incomparable signatures if re-registered, so a
      * contract change must land in a NEW store.
      */
    private val contractTag: String = {
      val s = perms.mkString(",") + s";$MinhashPrime;$MinhashDfCap;$RowsPerBand"
      (scala.util.hashing.MurmurHash3.stringHash(s) & 0x7fffffff).toHexString
    }

    private val Sig = Store.Artifact(
      columns = "doc_id BIGINT, " + (0 until NumPerms).map(i => s"m$i BIGINT").mkString(", "),
      bucket = Some(("doc_id", SigBuckets)))
    private val Hot = Store.Artifact("_hot", "h BIGINT")

    private val store = new Store("sig", "documents", contractTag + "_", Seq(Sig, Hot))(
      (spark, dir, at) => {
        buildCount.incrementAndGet()
        val isNew = col("source").isin(EvalSources.map(x => x: Any): _*)
        val existing = eager(shingleStream(spark, dir).filter(!isNew))
          .select(col("doc_id"), col("h"))
        // df cut over the existing corpus's occurrence stream — the
        // Zipf head, broadcastable at any scale (see MinhashDfCap)
        val hot = existing.groupBy(col("h"))
          .agg(count(lit(1)).as("df")).filter(col("df") > MinhashDfCap)
          .select(col("h"))
        at.write(hot.coalesce(1), Hot)
        val sh = existing
          .join(broadcast(spark.table(at.table(Hot))), Seq("h"), "left_anti")
          .select(col("doc_id"), col("h")).distinct()
        val minCols = perms.zipWithIndex.map { case ((a, b), i) =>
          min((lit(a) * col("h") + lit(b)) % MinhashPrime).as(s"m$i")
        }
        at.write(sh.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*), Sig)
      })

    /** Register-or-build; returns (signature table, hot-list table). */
    def ensure(spark: SparkSession, dir: String): (String, String) = {
      val at = store.ensure(spark, dir)
      (at.table(Sig), at.table(Hot))
    }

    /** Drop catalog entries, keep the on-disk store (cold-session sim). */
    def deregister(spark: SparkSession, dir: String): Unit =
      store.deregister(spark, dir)

    /** Absorb an arriving batch INTO the store: sign it under the
      * store's df cut (identical arithmetic to the probe path) and
      * APPEND the signatures to the bucketed signature table — so the
      * NEXT batch near-dups against previously absorbed batches, not
      * just the original corpus. This is how the store grows between
      * the full rebuilds the corpus-fingerprint staleness contract
      * triggers; the hot-list stays frozen at build time (absorbed
      * batches must be signed under the SAME cut or signatures stop
      * being comparable — re-learning it would require re-signing
      * everything, which is exactly the rebuild).
      *
      * Each absorb is one bucketed append job: new files land per
      * bucket, so the file count grows O(absorbs × buckets). Run
      * [[compactStore]] on the maintenance cadence to restore the
      * one-file-per-bucket layout. Returns signature rows appended
      * (docs whose shingles all fell to the hot cut sign nothing).
      */
    def absorb(spark: SparkSession, dir: String, batchDocs: DataFrame): Long = {
      val (t, th) = ensure(spark, dir)
      val sigs = signBatch(spark, th, batchDocs).cache()
      val n = sigs.count()
      sigs.write.mode("append").insertInto(t)
      sigs.unpersist()
      // a session that cached the table pre-absorb must not serve the
      // pre-append snapshot
      spark.catalog.refreshTable(t)
      n
    }

    /** Compact the signature table back to ONE data file per bucket
      * after a run of [[absorb]]s ([[graft.Store.compact]]), preserving
      * the bucket spec the pre-shuffled verification join needs. No
      * re-shingling, no signature recomputation: the spec pins
      * [[buildCount]] across it, and the serialized absorb* → compact
      * cycle is spec-proven repeatable. Returns the data-file count
      * after compaction (≤ [[SigBuckets]]).
      */
    def compactStore(spark: SparkSession, dir: String): Int =
      store.compact(spark, store.ensure(spark, dir), Sig)
  }

  /** Sign an arriving (doc_id, text) batch under the STORE's frozen
    * hot-list df cut — the single signing path shared by the probe
    * ([[neardupMatches]]), the streaming twin, and [[SigStore.absorb]];
    * map-only over the batch, the corpus is never re-shingled.
    */
  private[graft] def signBatch(spark: SparkSession, hotT: String,
      batchDocs: DataFrame): DataFrame = {
    val minCols = perms.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("h") + lit(b)) % MinhashPrime).as(s"m$i")
    }
    batchDocs
      .repartition(spreadWidth(spark))
      .select(col("doc_id"), normText(col("text")).as("t"))
      .select(col("doc_id"),
        explode(graft.functions.GraftExpressions.shingle_hashes(col("t"))).as("h"))
      .join(broadcast(spark.table(hotT)), Seq("h"), "left_anti")
      .select(col("doc_id"), col("h")).distinct()
      .groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
  }

  /** Incremental NEAR-dup ingest: the arriving batch (eval-source
    * docs, the stand-in "new" split) is signed map-only under the
    * store's hot-list, band-joined against the persisted signatures,
    * and candidate pairs are verified by signature agreement — the
    * near-dup twin of [[qIncrementalDedup]]'s exact gate. The existing
    * corpus contributes only its STORED signatures: no re-shingling,
    * no payload movement; per batch the work is proportional to the
    * batch plus the signature store, which is orders of magnitude
    * smaller than the corpus.
    *
    * Output: (new_id, old_id, est_sim) for batch docs whose estimated
    * Jaccard against an existing doc clears [[TextClusterMinSim]].
    */
  def qIncrementalNeardup(spark: SparkSession, dir: String): DataFrame = {
    val isNew = col("source").isin(EvalSources.map(x => x: Any): _*)
    val batchDocs = Tables.documents(spark, dir)
      .filter(isNew).select(col("doc_id"), col("text"))
    neardupMatches(spark, dir, batchDocs)
  }

  /** Near-dup matches of an arbitrary arriving batch (doc_id, text)
    * against the persisted [[SigStore]] — the shared core of the
    * batch query above and the streaming ingest twin
    * ([[graft.streaming.EventStream.streamNeardupIngestToFiles]]).
    * The batch is signed map-only under the STORE's hot-list (its df
    * cut, not the batch's own), band-joined against stored
    * signatures, and verified by signature agreement.
    */
  def neardupMatches(spark: SparkSession, dir: String,
      batchDocs: DataFrame): DataFrame = {
    val (sigT, hotT) = SigStore.ensure(spark, dir)
    val stored = spark.table(sigT)
    val batch = signBatch(spark, hotT, batchDocs).cache()
    eager(batch)
    def bandsOf(wide: DataFrame): DataFrame = wide
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val cand = bandsOf(batch).as("x")
      .join(bandsOf(stored).as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("old_id"))
      .distinct()
    val matches = (0 until NumPerms)
      .map(i => when(col(s"p.m$i") === col(s"q.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(batch.as("p"), col("new_id") === col("p.doc_id"))
      .join(stored.as("q"), col("old_id") === col("q.doc_id"))
      .select(col("new_id"), col("old_id"),
        (matches.cast("double") / NumPerms).as("est_sim"))
      .filter(col("est_sim") >= TextClusterMinSim)
  }

  /** Oracle: the identical two-sided signature pipeline from scratch —
    * df cut learned on the existing side only, batch signed under it,
    * cross-side band join, est_sim floor.
    */
  val qIncrementalNeardupSql: String =
    raw"""WITH $duckShingleCte,
         |hashed0 AS (SELECT doc_id, source, ${shingleHashSql("s")} AS h FROM sh),
         |hot AS (SELECT h FROM hashed0 WHERE source NOT IN ($evalSourcesSql)
         |  GROUP BY h HAVING count(*) > $MinhashDfCap),
         |hashed AS (SELECT DISTINCT doc_id, source, h FROM hashed0
         |  WHERE h NOT IN (SELECT h FROM hot)),
         |perms(i, a, b) AS (SELECT * FROM (VALUES $permsSqlValues)),
         |sigs AS (SELECT doc_id, source, i, min((a * h + b) % $MinhashPrime) AS minh
         |  FROM hashed, perms GROUP BY doc_id, source, i),
         |bands AS (SELECT doc_id, source, CAST(i // $RowsPerBand AS INTEGER) AS band,
         |    md5(string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i)) AS bh
         |  FROM sigs GROUP BY 1, 2, 3),
         |cand AS (SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS old_id
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh
         |  WHERE x.source IN ($evalSourcesSql)
         |    AND y.source NOT IN ($evalSourcesSql))
         |SELECT new_id, old_id, est_sim FROM (
         |  SELECT new_id, old_id,
         |    CAST(sum(CASE WHEN p.minh = q.minh THEN 1 ELSE 0 END) AS DOUBLE) / $NumPerms AS est_sim
         |  FROM cand JOIN sigs p ON new_id = p.doc_id
         |  JOIN sigs q ON old_id = q.doc_id AND p.i = q.i
         |  GROUP BY new_id, old_id)
         |WHERE est_sim >= $TextClusterMinSim""".stripMargin

  // ---------------------------------------------------------------- C5
  /** Embedding-cosine near-duplicate pairs: hyperplane-LSH candidate
    * generation + exact-cosine verification of candidates only.
    *
    * 100 TB design (replaces the round-1..3 label blocking, whose
    * fixed block cardinality made within-block pair counts quadratic
    * in the corpus): candidates are pairs sharing at least one of
    * [[EmbBands]] LSH band buckets. Band width (sign bits per band)
    * scales with corpus size via [[Hyperplanes.bitsFor]], holding the
    * EXPECTED bucket population at [[EmbTargetBucket]] — so per-bucket
    * self-join output is quadratic in a CONSTANT, not in the corpus —
    * and buckets that still exceed [[EmbBucketCap]] (degenerate
    * directions) are excluded outright, SimHash-style. The whole
    * contract (LCG planes, derived bits, cap) is mirrored arithmetic
    * in the oracle SQL, so both engines produce the identical
    * candidate set; exact cosine + the 0.35 threshold then verify
    * candidates on both sides.
    *
    * Shape at scale: banding is map-only (literal planes folded into
    * the plan); one shuffle on (b, bv) for pair generation; two
    * vec_id joins to re-attach vectors for verification — candidates
    * are a vanishing fraction of the corpus by construction.
    */
  val EmbBands = 8
  val EmbTargetBucket = 64
  val EmbBucketCap = 256

  import graft.functions.Hyperplanes

  /** (vec_id, b, bv) band-bucket keys for every embedding — the
    * blocking relation (exposed for the DedupSpec blocking assertion).
    */
  def embeddingBands(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val bits = Hyperplanes.bitsFor(
      Tables.Probe.embeddingsCount(spark, dir), EmbTargetBucket)
    // one fused codegen evaluation computes every band; posexplode's
    // position IS the band id (same values as the per-band formulation)
    e.select(col("vec_id"),
        posexplode(Hyperplanes.allBands(col("v"), EmbBands, bits)).as(Seq("b", "bv")))
  }

  def qEmbeddingNeardup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // norm hoist (norm2Row/cosinePre parity contract): the verify
      // join evaluates one dot per candidate pair, not 3 self-sums
      .withColumn("nrm", VectorFunctions.norm2Row(col("v")))
    // banding is recomputed cheaply (map-only) but reused by both join
    // sides and the hot-bucket aggregate — cache + materialize so AQE's
    // concurrent stages don't race a cold cache (see eager()).
    val bands0 = eager(embeddingBands(spark, dir).cache())
    val hot = bands0.groupBy(col("b"), col("bv"))
      .agg(count(lit(1)).as("n")).filter(col("n") > EmbBucketCap)
      .select(col("b").as("hb"), col("bv").as("hbv"))
    // pair-gen output explodes from a small input: fix width up front
    val bands = bands0.join(broadcast(hot),
        col("b") === col("hb") && col("bv") === col("hbv"), "left_anti")
      .repartition(spreadWidth(spark), col("b"), col("bv"))
    val cand = bands.as("x")
      .join(bands.as("y"), col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id1"), col("y.vec_id").as("id2"))
      .distinct()
    cand
      .join(e.as("a"), col("id1") === col("a.vec_id"))
      .join(e.as("b2"), col("id2") === col("b2.vec_id"))
      .select(col("id1"), col("id2"),
        VectorFunctions.cosinePre(col("a.v"), col("b2.v"),
          col("a.nrm"), col("b2.nrm")).as("sim"))
      .filter(col("sim") >= 0.35)
      .select(col("id1"), col("id2"), round(col("sim"), 4).as("sim"))
  }

  /** Shared oracle CTE chain ending in `pairs(id1, id2, sim)` —
    * the verified near-dup pair set (also the C6 cluster input).
    */
  private val embPairCtes: String =
    raw"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${Hyperplanes.bandsSqlCtes(EmbBands, EmbTargetBucket)},
         |hot AS (SELECT b, bv FROM bands GROUP BY b, bv HAVING count(*) > $EmbBucketCap),
         |kept AS (SELECT vec_id, b, bv FROM bands
         |  WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.b = bands.b AND hot.bv = bands.bv)),
         |cand AS (SELECT DISTINCT x.vec_id id1, y.vec_id id2
         |  FROM kept x JOIN kept y ON x.b = y.b AND x.bv = y.bv AND x.vec_id < y.vec_id),
         |cv AS (SELECT id1, id2, a.v v1, b.v v2
         |  FROM cand JOIN e a ON id1 = a.vec_id JOIN e b ON id2 = b.vec_id),
         |flat AS (SELECT id1, id2, unnest(v1) AS x, unnest(v2) AS y FROM cv),
         |sims AS (SELECT id1, id2,
         |    sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS sim
         |  FROM flat GROUP BY id1, id2),
         |pairs AS (SELECT id1, id2, sim FROM sims WHERE sim >= 0.35)""".stripMargin

  val qEmbeddingNeardupSql: String =
    raw"""WITH $embPairCtes
         |SELECT id1, id2, round(sim, 4) AS sim FROM pairs""".stripMargin

  // ---------------------------------------------------------------- C4
  /** 30-bit SimHash + hamming-band dedup, oracle-checkable end to end:
    * token hash = portable rolling hash (< 2^30); per-bit ±1 sums in
    * one wide aggregate pass; signature reassembled from sign bits;
    * 2 bands of 15 bits for candidate blocking; hamming distance via
    * bit_count(xor) <= 3.
    *
    * Output is the per-document near-dup summary (neighbor count +
    * closest distance) — what a dedup pipeline consumes — rather than
    * the raw pair list: on vocab-homogeneous corpora the pair set is
    * O(n²)-ish (1.6M pairs at sf0.1) and would dominate I/O.
    *
    * Band buckets holding more than [[SimhashBucketCap]] documents are
    * excluded (the banding analogue of the stopword-shingle df cut): a
    * 15-bit band value shared by hundreds of documents is a degenerate
    * common pattern, not near-dup signal, and its bucket self-join
    * concentrates O(n²) pair generation into one task — the round-1
    * scale-killer (272s at sf0.1). The exclusion list is tiny (bucket
    * count is bounded by corpus regularity, Zipf-style) so it
    * broadcasts; surviving buckets generate ≤ cap²/2 pairs each,
    * spread across tasks by an explicit repartition on the band key.
    */
  val SimhashBits = 30
  val SimhashBucketCap = 64

  def qSimhash(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftExpressions.rolling_hash
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      // the corpus arrives as one parquet split at test SF: spread the
      // tokenize+hash+partial-agg work before the explode (the same
      // round-1 lesson as the shingle stream; semantics-neutral)
      .repartition(spreadWidth(spark))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), rolling_hash(col("tok")).as("h"))
    val bitSums = (0 until SimhashBits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val wide = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until SimhashBits).map { j =>
      when(col(s"s$j") > 0, 1L << j).otherwise(0L)
    }.reduce(_ + _)
    // reused by banding and both verification joins (docs x 1 long)
    val sigs = eager(wide.select(col("doc_id"), sig.as("sig")).cache())
    val bands0 = sigs.select(col("doc_id"), col("sig"),
      expr("stack(2, 0, sig % 32768, 1, sig DIV 32768) as (b, bv)"))
    val hot = bands0.groupBy(col("b"), col("bv"))
      .agg(count(lit(1)).as("n")).filter(col("n") > SimhashBucketCap)
      .select(col("b").as("hb"), col("bv").as("hbv"))
    // pair-gen output explodes from a small input: fix the width up
    // front (AQE would coalesce the tiny input to ~1 task)
    val bands = bands0.join(broadcast(hot),
        col("b") === col("hb") && col("bv") === col("hbv"), "left_anti")
      .repartition(spreadWidth(spark) * 4, col("b"), col("bv"))
    val pairs = bands.as("x")
      .join(bands.as("y"), col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .select(col("d1"), col("d2"), col("hamming")).distinct()
    // symmetrize -> per-doc near-dup degree
    pairs.select(col("d1").as("doc_id"), col("hamming"))
      .unionAll(pairs.select(col("d2").as("doc_id"), col("hamming")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_neardups"), min(col("hamming")).as("min_hamming"))
  }

  val qSimhashSql: String =
    raw"""WITH n AS (SELECT doc_id, ${graft.functions.TextFunctions.normSegSql("text")} AS t FROM documents),
         |toks AS (SELECT doc_id, unnest(regexp_split_to_array(t, ' ')) AS tok FROM n),
         |h AS (SELECT doc_id, list_reduce(
         |    list_transform(generate_series(1, length(tok)), i -> ascii(substr(tok, i, 1))::BIGINT),
         |    (acc, c) -> (acc * 31 + c) % 1000000007) AS h FROM toks),
         |bits AS (SELECT doc_id, i,
         |    sum(CASE WHEN ((h >> i) & 1) = 1 THEN 1 ELSE -1 END) AS s
         |  FROM h, generate_series(0, ${SimhashBits - 1}) g(i) GROUP BY doc_id, i),
         |sig AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS sig
         |  FROM bits GROUP BY doc_id),
         |bands0 AS (SELECT doc_id, sig, b,
         |    CASE b WHEN 0 THEN sig % 32768 ELSE sig // 32768 END AS bv
         |  FROM sig, generate_series(0, 1) g(b)),
         |hot AS (SELECT b, bv FROM bands0 GROUP BY b, bv
         |  HAVING count(*) > $SimhashBucketCap),
         |bands AS (SELECT doc_id, sig, b, bv FROM bands0
         |  WHERE NOT EXISTS (SELECT 1 FROM hot
         |    WHERE hot.b = bands0.b AND hot.bv = bands0.bv)),
         |pairs AS (SELECT DISTINCT x.doc_id d1, y.doc_id d2,
         |    CAST(bit_count(xor(x.sig, y.sig)) AS BIGINT) AS hamming
         |  FROM bands x JOIN bands y ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id
         |  WHERE bit_count(xor(x.sig, y.sig)) <= 3),
         |sym AS (SELECT d1 AS doc_id, hamming FROM pairs
         |  UNION ALL SELECT d2 AS doc_id, hamming FROM pairs)
         |SELECT doc_id, count(*) AS n_neardups, min(hamming) AS min_hamming
         |FROM sym GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------- C6
  /** Dedup canonicalization: connected components over the near-dup
    * pair set ([[qEmbeddingNeardup]]), completing the dedup story —
    * pairs → clusters → keep one canonical id per cluster.
    *
    * Algorithm: iterative minimum-label propagation (each node adopts
    * the smallest label among itself and its neighbors, to fixpoint).
    * Distributed shape: per iteration one shuffle join (edges ⋈ labels)
    * + one aggregate — no driver-side graph state; the driver loop only
    * orchestrates and checks a one-row convergence probe. Iteration
    * count is bounded by the cluster diameter (near-dup clusters are
    * shallow); the per-iteration cache+materialize truncates lineage
    * growth. At 100 TB the same loop runs with checkpointing and, if
    * diameters grow, the large-star/small-star contraction — the
    * propagation step is unchanged.
    *
    * Output: (vec_id, cluster_id = smallest member id) for every
    * vector that participates in at least one near-dup pair; canonical
    * keep-rule = keep vec_id == cluster_id.
    */
  def qDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = qEmbeddingNeardup(spark, dir).select(col("id1"), col("id2"))
    clusterPairs(spark, pairs)
      .select(col("node").as("vec_id"), col("lab").as("cluster_id"))
  }

  /** Iteration shuffle width for the clustering loop: sized to the
    * EDGE SET, not the session default. The label/edge frames are
    * pair-set-sized (orders of magnitude below the corpus); a
    * CPU-count width makes the loop pay per-task scheduling at test
    * scale, while a fixed small width would serialize 100 TB pair
    * volume. ~64k edges per partition keeps iteration tasks in the
    * hundreds-of-ms sweet spot at any scale.
    */
  def ccWidth(edgeCount: Long): Int =
    math.max(8L, edgeCount / (64L << 10)).min(Int.MaxValue).toInt

  /** Propagation iterations before [[clusterPairs]] hands the
    * still-unconverged remainder to star contraction. (r18 note: a
    * two-steps-per-checkpoint unroll was measured and REVERTED — the
    * unmaterialized step self-joins re-execute their subtrees, and the
    * deeper per-round DAG cost more than the saved checkpoint/count
    * actions: 0.7–0.8× on every clusterPairs consumer at sf0.1.)
    */
  val StarFallbackIter = 15

  /** Star-contraction rounds run by this JVM (spec observability: the
    * chain property test asserts the fallback actually engaged).
    */
  val starRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Alternating large-star/small-star contraction — the public
    * MapReduce connected-components algorithm (Kiveris et al., "CC in
    * MapReduce and Beyond", SoCC'14). Unlike label propagation it
    * rewrites the EDGE SET itself, which flattens toward min-centered
    * stars in O(log²) rounds regardless of diameter — the fallback for
    * pathological dup chains where per-hop propagation stalls. Input:
    * directed pairs (u, v), u != v, any orientation. Returns (node,
    * lab) for every node of the input graph; isolated nodes don't
    * occur (an edge component never contracts to zero edges — a
    * self-loop is only ever emitted alongside the (u, min) edge that
    * keeps the component connected).
    *
    * Each round: large-star hangs every higher neighbor v > u onto
    * m(u) = min(N(u) ∪ u); small-star re-hangs the lower neighborhood
    * onto its minimum. Fixpoint = the edge set reproduces itself =
    * every component is a star centered at its minimum.
    */
  private[graft] def starContract(edges0: DataFrame, width: Int): DataFrame = {
    def canon(e: DataFrame): DataFrame = e
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    def sym(e: DataFrame): DataFrame =
      e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    var e = canon(edges0).repartition(width, col("u")).localCheckpoint()
    var cnt = e.count()
    var stable = false
    var round = 0
    while (!stable && round < 30) {
      val s = sym(e)
      // large-star: (v, m(u)) for v > u, with m over the FULL neighborhood
      val mAll = s.groupBy(col("u")).agg(least(min(col("v")), col("u")).as("m"))
      val large = s.filter(col("v") > col("u"))
        .join(mAll, "u").select(col("v").as("u"), col("m").as("v"))
      val eL = canon(large).repartition(width, col("u")).localCheckpoint()
      // small-star: lower neighborhood re-hung on its minimum
      val sL = sym(eL)
      val low = sL.filter(col("v") < col("u"))
      val mLow = low.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = low.join(mLow, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(mLow.select(col("u"), col("m").as("v")))
      val next = canon(small).repartition(width, col("u")).localCheckpoint()
      val nextCnt = next.count()
      stable = nextCnt == cnt && next.except(e).isEmpty
      e = next; cnt = nextCnt
      round += 1
      starRounds.incrementAndGet()
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(s"== star round $round edges=$cnt stable=$stable")
    }
    require(stable, s"star contraction did not stabilize in $round rounds")
    // stars: canonical (leaf > center) edges; centers label themselves
    e.select(col("u").as("node"), col("v").as("lab"))
      .unionAll(e.select(col("v").as("node"), col("v").as("lab")).distinct())
      .distinct()
  }

  /** Per-iteration neighborhood minimum: labels ride the dst-keyed
    * join, then reduce per src. DELIBERATELY no repartition between
    * join and aggregate: the partial (map-side) aggregate runs on the
    * join output — which is partitioned by dst, so a max-degree hub's
    * neighborhood rows (src = hub, dst spread over every partition)
    * partial-reduce to at most ONE row per partition before the
    * exchange. An explicit pre-aggregate repartition on src (the r8
    * form) shipped the hub's entire neighborhood to a single task
    * first — the skew shape boilerplate hubs produce in real near-dup
    * graphs (asserted in PropertySpec's 100k-leaf star case). The
    * aggregate's own exchange carries only partial-reduced (src, min)
    * rows; AQE right-sizes it.
    */
  private[graft] def neighborMin(edges: DataFrame, labels: DataFrame): DataFrame =
    edges.join(labels, col("dst") === col("node"))
      .groupBy(col("src")).agg(min(col("lab")).as("nlab"))

  /** Propagation iterations the last [[clusterPairs]] run used before
    * converging or handing off (spec observability).
    */
  val lastPropIters = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Generic distributed connected-components over an undirected pair
    * set (columns id1, id2): iterative minimum-label propagation +
    * pointer jumping, O(log diameter) iterations, one shuffle join +
    * one aggregate per iteration, no driver-side graph state. Returns
    * (node, lab = smallest reachable id). Shared by the embedding
    * (C6) and MinHash-text cluster queries.
    *
    * Loop shuffles are sized to the EDGE SET, not the session default:
    * the edge frame is hash-partitioned on the join key at the derived
    * width once (explicit repartition — AQE never coalesces a
    * user-specified width) and checkpointed, each iteration's join
    * exchanges only the label side to that width to co-partition, the
    * neighbor aggregate partial-reduces on the join output BEFORE its
    * exchange ([[neighborMin]] — hub skew never concentrates on one
    * task), and the downstream joins inherit width through
    * co-partitioning with an already-width side. Plans on the
    * caller's session are untouched — no session clone, no conf
    * mutation, no RDD round-trip.
    */
  def clusterPairs(spark: SparkSession, pairs: DataFrame): DataFrame = {
    // localCheckpoint (not cache): truncates lineage so each
    // iteration's plan is edges ⋈ labels, not a tower of every prior
    // iteration — without it driver-side re-optimization of the
    // doubling plan dominates the loop (~20s for 5 iterations)
    val tDbg0 = System.nanoTime()
    // edge count rides the checkpoint materialization as an observed
    // metric (r18) instead of a separate count() action — one fewer
    // pass over the edge set per call at any scale
    val obsE = new org.apache.spark.sql.Observation(
      "cc_edges_" + java.util.UUID.randomUUID().toString)
    val edges0 = pairs
      .unionAll(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
      .toDF("src", "dst")
      .observe(obsE, count(lit(1)).as("n"))
      .localCheckpoint()
    val width = ccWidth(obsE.get("n").asInstanceOf[Long])
    // checkpointing AFTER the repartition pins HashPartitioning(dst,
    // width) in the LogicalRDD, so every iteration's join reuses it
    // exchange-free on the edge side
    val edges = edges0.repartition(width, col("dst")).localCheckpoint()
    if (sys.env.contains("GRAFT_CC_DEBUG"))
      println(f"== cc edges ${(System.nanoTime()-tDbg0)/1e9}%.1fs width=$width")
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lab", col("node"))
      .repartition(width, col("node")).localCheckpoint()
    if (sys.env.contains("GRAFT_CC_DEBUG"))
      println(f"== cc labels0 ${(System.nanoTime()-tDbg0)/1e9}%.1fs")
    var converged = false
    var iter = 0
    while (!converged && iter < StarFallbackIter) {
      val neigh = neighborMin(edges, labels)
      val stepped = labels.join(neigh, col("node") === col("src"), "left")
        .select(col("node"),
          least(col("lab"), coalesce(col("nlab"), col("lab"))).as("lab"),
          col("lab").as("old_lab"))
      // pointer jumping (path compression): adopt the label OF the
      // label. Neighbor propagation alone needs one iteration per hop
      // of cluster diameter; combined with jumping, chains collapse in
      // O(log diameter) iterations — 19 → ~7 at sf0.1, and the bound
      // that matters when 100 TB dup chains run long.
      // the moved-count rides the checkpoint materialization as an
      // observed metric (r18): the old next.filter(moved).count() was
      // a second driver-synchronized pass over the label frame every
      // iteration — pure fixed overhead locally, a full extra label
      // read per iteration at 100 TB
      val obsM = new org.apache.spark.sql.Observation(
        "cc_moved_" + java.util.UUID.randomUUID().toString)
      val next = stepped.as("l")
        .join(stepped.as("m"), col("l.lab") === col("m.node"), "left")
        .select(col("l.node").as("node"),
          least(col("l.lab"), coalesce(col("m.lab"), col("l.lab"))).as("lab"),
          (least(col("l.lab"), coalesce(col("m.lab"), col("l.lab"))) <
            col("l.old_lab")).as("moved"))
        .observe(obsM, count(when(col("moved"), lit(1))).as("m"))
        .localCheckpoint() // materializes AND truncates lineage
      val changed = obsM.get("m").asInstanceOf[Long] > 0
      labels = next.select(col("node"), col("lab"))
      converged = !changed
      iter += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(f"== cc iter $iter changed=$changed t=${(System.nanoTime()-tDbg0)/1e9}%.1fs")
    }
    lastPropIters.set(iter)
    if (!converged) {
      // pathological diameter: propagation pays one iteration per hop
      // (log-compressed, but still unbounded) — contract the REMAINDER
      // graph through the labels found so far and finish with
      // large-star/small-star, whose round count doesn't depend on
      // diameter. Near-dup graphs are shallow; this path exists for
      // the long-chain tail.
      val contracted = edges
        .join(labels.withColumnRenamed("node", "src").withColumnRenamed("lab", "slab"), "src")
        .join(labels.withColumnRenamed("node", "dst").withColumnRenamed("lab", "dlab"), "dst")
        .select(col("slab").as("u"), col("dlab").as("v"))
        .filter(col("u") =!= col("v"))
      if (!contracted.isEmpty) {
        val roots = starContract(contracted, width)
          .select(col("node").as("lab"), col("lab").as("root"))
        labels = labels.join(roots, Seq("lab"), "left")
          .select(col("node"), coalesce(col("root"), col("lab")).as("lab"))
      }
    }
    labels.select(col("node"), col("lab"))
  }

  // TextClusterMinSim (the 0.5 est_sim floor referenced here) is
  // declared with the minhash constants at the top of the object: it
  // is interpolated into oracle-SQL vals that initialize BEFORE this
  // point in declaration order — a later declaration reads as 0.0
  // during init and silently unfloors the oracle (caught at sf0.001,
  // round 10).

  /** C6 over the TEXT near-dup pair set: the same generic
    * [[clusterPairs]] propagation loop applied to [[qMinhashLsh]]'s
    * est_sim-thresholded candidates. A production dedup pass clusters
    * every pair source it trusts — embeddings (C6) and MinHash text
    * signatures (this) share one loop, so both inherit its
    * edge-scaled shuffle width and O(log diameter) bound.
    */
  def qDedupClustersText(spark: SparkSession, dir: String): DataFrame = {
    val pairs = qMinhashLsh(spark, dir)
      .filter(col("est_sim") >= TextClusterMinSim)
      .select(col("d1").as("id1"), col("d2").as("id2"))
    clusterPairs(spark, pairs)
      .select(col("node").as("doc_id"), col("lab").as("cluster_id"))
  }

  /** Oracle: recursive-CTE transitive closure over the SAME
    * est_sim-thresholded MinHash pair set as [[qMinhashLshSql]].
    */
  /** Shared oracle CTE chain ending in `cl(doc_id, cluster_id)` — the
    * est_sim-thresholded MinHash pair closure (C6b and the keep list
    * both consume it).
    */
  private val textClusterCtes: String =
    raw"""$minhashCtes,
         |cand AS (SELECT DISTINCT x.doc_id d1, y.doc_id d2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
         |simp AS (SELECT d1, d2 FROM (
         |    SELECT d1, d2,
         |      CAST(sum(CASE WHEN p.minh = q.minh THEN 1 ELSE 0 END) AS DOUBLE) / $NumPerms AS est_sim
         |    FROM cand JOIN sigs p ON d1 = p.doc_id
         |    JOIN sigs q ON d2 = q.doc_id AND p.i = q.i
         |    GROUP BY d1, d2)
         |  WHERE est_sim >= $TextClusterMinSim),
         |sym AS (SELECT d1 AS a, d2 AS b FROM simp
         |  UNION ALL SELECT d2, d1 FROM simp),
         |reach(a, b) AS (SELECT a, b FROM sym
         |  UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |  FROM reach GROUP BY a)""".stripMargin

  val qDedupClustersTextSql: String =
    raw"""WITH RECURSIVE $textClusterCtes
         |SELECT doc_id, cluster_id FROM cl""".stripMargin

  // ---------------------------------------------------------------- C14
  /** Cluster-size histogram of the text near-dup graph — the one-page
    * answer to "how duplicated is this corpus": how many clusters of
    * each size, and how many documents they absorb. Size counts are a
    * cluster-sized aggregate; the histogram is count-of-counts
    * (bounded by distinct sizes — the H5/K10 device), so nothing here
    * grows with the corpus beyond the clustering it reuses.
    */
  def qClusterSizes(spark: SparkSession, dir: String): DataFrame =
    qDedupClustersText(spark, dir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("size"), col("n_clusters"),
        (col("size") * col("n_clusters")).as("docs_absorbed"),
        ((col("size") - 1) * col("n_clusters")).as("docs_dropped"))

  val qClusterSizesSql: String =
    raw"""WITH RECURSIVE $textClusterCtes,
         |sz AS (SELECT cluster_id, count(*) AS size FROM cl GROUP BY 1)
         |SELECT size, count(*) AS n_clusters,
         |  size * count(*) AS docs_absorbed,
         |  (size - 1) * count(*) AS docs_dropped
         |FROM sz GROUP BY size""".stripMargin

  /** The verdict a near-dup pipeline ships: one row per document with
    * its cluster-canonical id (smallest member of its text near-dup
    * cluster; unclustered docs are their own canonical) and the keep
    * decision — keep exactly one representative per near-dup cluster.
    * Composes C6b's clusters back onto the corpus with one left join;
    * the corpus side only carries doc_id, so at 100 TB this adds a
    * single id-vs-id join to the clustering cost.
    */
  def qNeardupKeepList(spark: SparkSession, dir: String): DataFrame = {
    val clusters = qDedupClustersText(spark, dir)
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("canonical_id"),
        (coalesce(col("cluster_id"), col("doc_id")) === col("doc_id")).as("keep"),
        when(coalesce(col("cluster_id"), col("doc_id")) === col("doc_id"), "kept")
          .otherwise("near_dup").as("reason"))
  }

  val qNeardupKeepListSql: String =
    raw"""WITH RECURSIVE $textClusterCtes
         |SELECT d.doc_id,
         |  coalesce(cl.cluster_id, d.doc_id) AS canonical_id,
         |  coalesce(cl.cluster_id, d.doc_id) = d.doc_id AS keep,
         |  CASE WHEN coalesce(cl.cluster_id, d.doc_id) = d.doc_id THEN 'kept'
         |       ELSE 'near_dup' END AS reason
         |FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id""".stripMargin

  // ---------------------------------------------------------------- C19
  /** Survivorship rules for near-dup clusters — C9 keeps the LEAST-ID
    * member; a curator keeps the BEST one (the MDM survivorship
    * decision, and the difference between deduping a corpus and
    * accidentally keeping its worst copies): per text cluster the
    * survivor is argmax by (B3 quality score, least-id tiebreak).
    * Composition cost on top of the shared clustering: the map-only
    * quality projection, one cluster-keyed `max(struct(quality,
    * -doc_id))` argmax (map-side combinable — no window, no sort),
    * and one join back. Quality is 6-dp-rounded (B3's proven parity
    * surface) BEFORE the argmax, so ties break identically in both
    * engines.
    */
  def qDedupSurvivorship(spark: SparkSession, dir: String): DataFrame = {
    val clusters = qDedupClustersText(spark, dir)
    val qual = TextAnalysis.scoreQuality(Tables.documents(spark, dir))
      .select(col("doc_id"), col("quality"))
    val members = Tables.documents(spark, dir).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .join(qual, "doc_id")
    val surv = members.groupBy(col("cluster_id"))
      .agg(max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("s"))
      .select(col("cluster_id"), (-col("s.nid")).as("survivor_id"))
    members.join(surv, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        col("survivor_id"), (col("doc_id") === col("survivor_id")).as("keep"))
  }

  val qDedupSurvivorshipSql: String =
    raw"""WITH RECURSIVE $textClusterCtes,
         |qual AS (SELECT doc_id, quality FROM (${TextAnalysis.qQualityScoreSql})),
         |mem AS (SELECT d.doc_id,
         |    coalesce(cl.cluster_id, d.doc_id) AS cluster_id, q.quality
         |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
         |  JOIN qual q ON d.doc_id = q.doc_id),
         |surv AS (SELECT cluster_id,
         |    first(doc_id ORDER BY quality DESC, doc_id ASC) AS survivor_id
         |  FROM mem GROUP BY cluster_id)
         |SELECT m.doc_id, m.cluster_id, m.quality, s.survivor_id,
         |  (m.doc_id = s.survivor_id) AS keep
         |FROM mem m JOIN surv s ON m.cluster_id = s.cluster_id""".stripMargin

  // ---------------------------------------------------------------- C20
  /** Effective-epoch inflation per source — the number duplication
    * actually costs a training run (Lee et al., 2022: a doc in a
    * near-dup cluster of size k is effectively seen k× per pass):
    * per source, raw docs vs distinct cluster canonicals, the
    * inflation ratio, and the mean effective repetitions per UNIQUE
    * item (Σk²/Σk over that source's cluster memberships — repeats
    * weighted by how often training actually revisits them). Exact
    * integers over the shared clustering; two bounded source-keyed
    * aggregates; ratios divide once at the 6-dp boundary.
    */
  def qDedupInflation(spark: SparkSession, dir: String): DataFrame = {
    val clusters = qDedupClustersText(spark, dir)
    val mem = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("canon", coalesce(col("cluster_id"), col("doc_id")))
    val sizes = mem.groupBy(col("canon")).agg(count(lit(1)).as("k"))
    mem.join(sizes, "canon")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("canon")).as("n_unique"),
        sum(col("k")).as("sk"), sum(col("k") * col("k")).as("sk2"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        round(col("n_docs").cast("double") / col("n_unique"), 6)
          .as("dup_factor"),
        round(col("sk2").cast("double") / col("sk"), 6)
          .as("eff_repetitions"))
  }

  val qDedupInflationSql: String =
    raw"""WITH RECURSIVE $textClusterCtes,
         |mem AS (SELECT d.doc_id, d.source,
         |    coalesce(cl.cluster_id, d.doc_id) AS canon
         |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
         |sizes AS (SELECT canon, count(*) AS k FROM mem GROUP BY 1)
         |SELECT source, count(*) AS n_docs,
         |  count(DISTINCT m.canon) AS n_unique,
         |  round(count(*) * 1.0 / count(DISTINCT m.canon), 6) AS dup_factor,
         |  round(CAST(sum(s.k * s.k) AS DOUBLE) / sum(s.k), 6) AS eff_repetitions
         |FROM mem m JOIN sizes s ON m.canon = s.canon
         |GROUP BY source""".stripMargin

  // ---------------------------------------------------------------- C12
  /** Source-overlap matrix: near-dup pair mass aggregated to
    * (source, source) — the curator's mirror-detection view (which
    * sources copy from each other, which source scrapes another's
    * content). Rides C3's thresholded pair set with two id-vs-source
    * joins and a bounded aggregate (sources × sources), so at 100 TB
    * it adds nothing beyond the pair generation it shares. Source
    * pairs are canonicalized least-first.
    */
  def qSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    qMinhashLsh(spark, dir)
      .filter(col("est_sim") >= TextClusterMinSim)
      .join(src.select(col("doc_id").as("d1"), col("source").as("s1")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("s2")), "d2")
      .select(least(col("s1"), col("s2")).as("source_a"),
        greatest(col("s1"), col("s2")).as("source_b"),
        col("est_sim"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("est_sim")), 6).as("mean_sim"))
  }

  val qSourceOverlapSql: String =
    raw"""WITH $minhashCtes,
         |cand AS (SELECT DISTINCT x.doc_id d1, y.doc_id d2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
         |simp AS (SELECT d1, d2, est_sim FROM (
         |    SELECT d1, d2,
         |      CAST(sum(CASE WHEN p.minh = q.minh THEN 1 ELSE 0 END) AS DOUBLE) / $NumPerms AS est_sim
         |    FROM cand JOIN sigs p ON d1 = p.doc_id
         |    JOIN sigs q ON d2 = q.doc_id AND p.i = q.i
         |    GROUP BY d1, d2)
         |  WHERE est_sim >= $TextClusterMinSim)
         |SELECT least(a.source, b.source) AS source_a,
         |  greatest(a.source, b.source) AS source_b,
         |  count(*) AS n_pairs, round(avg(est_sim), 6) AS mean_sim
         |FROM simp JOIN documents a ON simp.d1 = a.doc_id
         |JOIN documents b ON simp.d2 = b.doc_id
         |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- C11
  /** The decontaminated TRAINING keep list — the verdict the training
    * run actually consumes, composing the two drop gates this block
    * provides: near-dup canonicalization (C6b clusters, canonical =
    * least TRAIN member, so an eval doc can never be the kept
    * representative of a train cluster) and cross-corpus eval
    * contamination (C7 pairs at the same est_sim floor). Precedence:
    * contaminated > near_dup > kept — a contaminated cluster
    * representative is dropped WITHOUT promotion (its content is, by
    * construction, approximately the eval set).
    *
    * 100 TB shape: both gates reuse the cached MinHash signature
    * pipeline; this query adds one cluster-sized aggregate and two
    * id-vs-id joins on top.
    */
  def qDecontamKeepList(spark: SparkSession, dir: String): DataFrame = {
    val isEval = col("source").isin(EvalSources.map(x => x: Any): _*)
    val train = Tables.documents(spark, dir).filter(!isEval).select(col("doc_id"))
    val trainCl = qDedupClustersText(spark, dir).join(train, "doc_id")
    val tcan = trainCl.groupBy(col("cluster_id")).agg(min(col("doc_id")).as("canonical"))
    val cont = qContamination(spark, dir)
      .filter(col("est_sim") >= TextClusterMinSim)
      .select(col("d_train").as("doc_id")).distinct()
      .withColumn("contam", lit(true))
    train
      .join(trainCl, Seq("doc_id"), "left")
      .join(tcan, Seq("cluster_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical"), col("doc_id")).as("canonical_id"),
        (coalesce(col("canonical"), col("doc_id")) === col("doc_id") &&
          col("contam").isNull).as("keep"),
        when(col("contam").isNotNull, "contaminated")
          .when(coalesce(col("canonical"), col("doc_id")) =!= col("doc_id"), "near_dup")
          .otherwise("kept").as("reason"))
  }

  val qDecontamKeepListSql: String =
    raw"""WITH RECURSIVE $textClusterCtes,
         |side AS (SELECT doc_id, source IN ($evalSourcesSql) AS is_eval FROM documents),
         |tcl AS (SELECT cl.doc_id, cl.cluster_id FROM cl
         |  JOIN side s ON cl.doc_id = s.doc_id WHERE NOT s.is_eval),
         |tcan AS (SELECT cluster_id, min(doc_id) AS canonical FROM tcl GROUP BY 1),
         |ccand AS (SELECT DISTINCT x.doc_id d_train, y.doc_id d_eval
         |  FROM bands x JOIN side sx ON x.doc_id = sx.doc_id
         |  JOIN bands y ON x.band = y.band AND x.bh = y.bh
         |  JOIN side sy ON y.doc_id = sy.doc_id
         |  WHERE NOT sx.is_eval AND sy.is_eval),
         |cont AS (SELECT DISTINCT d_train AS doc_id FROM (
         |    SELECT d_train, d_eval,
         |      CAST(sum(CASE WHEN p.minh = q.minh THEN 1 ELSE 0 END) AS DOUBLE) / $NumPerms AS est_sim
         |    FROM ccand JOIN sigs p ON d_train = p.doc_id
         |    JOIN sigs q ON d_eval = q.doc_id AND p.i = q.i
         |    GROUP BY d_train, d_eval)
         |  WHERE est_sim >= $TextClusterMinSim)
         |SELECT d.doc_id,
         |  coalesce(tcan.canonical, d.doc_id) AS canonical_id,
         |  (coalesce(tcan.canonical, d.doc_id) = d.doc_id AND c.doc_id IS NULL) AS keep,
         |  CASE WHEN c.doc_id IS NOT NULL THEN 'contaminated'
         |       WHEN coalesce(tcan.canonical, d.doc_id) <> d.doc_id THEN 'near_dup'
         |       ELSE 'kept' END AS reason
         |FROM (SELECT doc_id FROM side WHERE NOT is_eval) d
         |LEFT JOIN tcl ON d.doc_id = tcl.doc_id
         |LEFT JOIN tcan ON tcl.cluster_id = tcan.cluster_id
         |LEFT JOIN cont c ON d.doc_id = c.doc_id""".stripMargin

  /** Oracle: transitive closure by recursive CTE over the SAME
    * LSH-blocked pair set as [[qEmbeddingNeardupSql]], cluster id =
    * least reachable node — the declarative twin of min-label
    * propagation.
    */
  val qDedupClustersSql: String =
    raw"""WITH RECURSIVE $embPairCtes,
         |sym AS (SELECT id1 AS a, id2 AS b FROM pairs
         |  UNION ALL SELECT id2, id1 FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM sym
         |  UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
         |SELECT a AS vec_id, least(a, min(b)) AS cluster_id
         |FROM reach GROUP BY a""".stripMargin

  // ---------------------------------------------------------------- C15
  /** Semantic deduplication (SemDeDup-shaped): k-means cells as
    * semantic blocks, exact pairwise cosine WITHIN cells only, and one
    * kept representative (least vec_id) per connected component of the
    * ≥ [[SemDedupTau]] similarity graph. Catches paraphrase / re-encode
    * duplicates that share no shingles — the complement of C3's
    * lexical near-dup — and is the standard embedding-space pruning
    * pass (Abbas et al., 2023) a web-scale corpus runs after lexical
    * dedup.
    *
    * Scale shape: the D3 spherical-KMeans index is REUSED as the
    * blocking structure (same persisted assignment table, no extra
    * fit, corpus-fingerprint staleness contract) — at production
    * scale nlist grows with the corpus to hold expected cell
    * population constant, so the within-cell self-join is quadratic in
    * a constant, never in the corpus; cross-cell duplicates are the
    * documented recall trade every cell-blocked method makes.
    * Components come from [[clusterPairs]] (log-diameter label
    * propagation); edges never leave their cell, so components are
    * cell-local by construction. The cosine threshold compares
    * 6-dp-rounded values — engine-exact, and the oracle replays
    * blocking, similarity, closure (recursive CTE), and keep verdicts
    * over the same persisted index data.
    */
  val SemDedupTau = 0.35

  def qSemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val (asg, _) = Similarity.IvfIndex.get(spark, dir, 16)
    // same norm hoist as qDbscan: the within-cell pair stage is the
    // bill, and cosinePre keeps it bit-identical at a third the FLOPs
    val a = asg.select(col("vec_id"), col("v"), col("cell"),
      VectorFunctions.norm2Row(col("v")).as("nrm"))
    val pairs = a.as("x").join(a.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id1"), col("y.vec_id").as("id2"),
        VectorFunctions.cosinePre(col("x.v"), col("y.v"),
          col("x.nrm"), col("y.nrm")).as("sim"))
      .filter(round(col("sim"), 6) >= SemDedupTau)
      .select(col("id1"), col("id2"))
    val labs = clusterPairs(spark, pairs)
    a.select(col("vec_id"), col("cell"))
      .join(labs, col("vec_id") === col("node"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("lab"), col("vec_id")).as("cluster_id"))
      .withColumn("keep", col("cluster_id") === col("vec_id"))
  }

  private def semanticDedupSql(asgDir: String): String =
    raw"""WITH RECURSIVE
         |asg AS (SELECT vec_id, v, cell FROM read_parquet('$asgDir/*.parquet')),
         |pflat AS (SELECT x.vec_id AS id1, y.vec_id AS id2,
         |    unnest(x.v) AS a, unnest(y.v) AS b
         |  FROM asg x JOIN asg y ON x.cell = y.cell AND x.vec_id < y.vec_id),
         |csim AS (SELECT id1, id2, sum(a*b) / (sqrt(sum(a*a)) * sqrt(sum(b*b))) AS sim
         |  FROM pflat GROUP BY id1, id2),
         |pairs AS (SELECT id1, id2 FROM csim WHERE round(sim, 6) >= $SemDedupTau),
         |sym AS (SELECT id1 AS a, id2 AS b FROM pairs
         |  UNION ALL SELECT id2, id1 FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM sym
         |  UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         |lab AS (SELECT a AS vec_id, least(a, min(b)) AS cluster_id
         |  FROM reach GROUP BY a)
         |SELECT asg.vec_id, asg.cell,
         |  coalesce(lab.cluster_id, asg.vec_id) AS cluster_id,
         |  (coalesce(lab.cluster_id, asg.vec_id) = asg.vec_id) AS keep
         |FROM asg LEFT JOIN lab ON asg.vec_id = lab.vec_id""".stripMargin

  // ---------------------------------------------------------------- C23
  /** DBSCAN over the embedding space (Ester et al. 1996, cosine form)
    * — the density clustering that separates C15's "collapse
    * near-identical pairs" from the corpus-structure question "which
    * REGIONS of embedding space are dense, and what is outlier": a
    * vector is CORE when ≥ [[DbscanMinPts]] neighbors sit at
    * round(cosine, 6) ≥ [[DbscanTau]]; clusters are connected
    * components of the core-core graph ([[clusterPairs]], min-id
    * labels); non-core vectors with a core neighbor join their
    * minimum core neighbor's cluster as BORDER; the rest is NOISE
    * (cluster −1) — the shape kMeans (E8) structurally cannot emit
    * (it has no outlier verdict and fixes k in advance).
    *
    * Scale shape: neighborhoods are blocked INSIDE the persisted D3
    * IVF cells (same assignment table, no extra fit, corpus-
    * fingerprint staleness) — the within-cell self-join is quadratic
    * in a constant cell population, never the corpus; cross-cell
    * neighbors are the documented recall trade every cell-blocked
    * method makes (and at production nlist grows with the corpus).
    * The pair set is computed ONCE and cached for its three
    * consumers (degrees, core-core edges, border attachment). The
    * oracle replays blocking, degrees, the recursive closure, and
    * border attachment from the same persisted index data.
    */
  val DbscanTau = 0.25
  val DbscanMinPts = 4

  def qDbscan(spark: SparkSession, dir: String): DataFrame = {
    val (asg, _) = Similarity.IvfIndex.get(spark, dir, 16)
    // row norms hoisted OUT of the quadratic within-cell stage
    // (norm2Row/cosinePre bit-parity contract): the pair loop pays
    // dot only — 1 multiply-add per element instead of CosineSim's 3
    val a = asg.select(col("vec_id"), col("v"), col("cell"),
      VectorFunctions.norm2Row(col("v")).as("nrm"))
    val pairs = a.as("x").join(a.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id1"), col("y.vec_id").as("id2"),
        VectorFunctions.cosinePre(col("x.v"), col("y.v"),
          col("x.nrm"), col("y.nrm")).as("sim"))
      .filter(round(col("sim"), 6) >= DbscanTau)
      .select(col("id1"), col("id2"))
      .cache()
    val sym = pairs.select(col("id1").as("u"), col("id2").as("v"))
      .unionAll(pairs.select(col("id2").as("u"), col("id1").as("v")))
    val deg = sym.groupBy(col("u").as("vec_id"))
      .agg(count(lit(1)).as("n_neighbors"))
    val core = deg.filter(col("n_neighbors") >= DbscanMinPts)
      .select(col("vec_id"))
    val ccEdges = pairs
      .join(core.withColumnRenamed("vec_id", "id1"), Seq("id1"))
      .join(core.withColumnRenamed("vec_id", "id2"), Seq("id2"))
      .select(col("id1"), col("id2"))
    val labs = clusterPairs(spark, ccEdges)
    val coreClust = core.join(labs, core("vec_id") === labs("node"), "left")
      .select(core("vec_id"), coalesce(col("lab"), core("vec_id")).as("cl"))
    val battach = sym
      .join(coreClust.withColumnRenamed("vec_id", "v"), Seq("v"))
      .groupBy(col("u").as("vec_id")).agg(min(col("cl")).as("bcl"))
    val out = a.select(col("vec_id"), col("cell"))
      .join(deg, Seq("vec_id"), "left")
      .join(coreClust, Seq("vec_id"), "left")
      .join(battach, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
        when(col("cl").isNotNull, "core")
          .when(col("bcl").isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce(col("cl"), col("bcl"), lit(-1L)).as("cluster_id"))
      // qGmmEm cleanup pattern (ADVICE r15): materialize the BOUNDED
      // output (one row per vector), then drop the within-cell pair
      // cache — consumers (q_clustering_agreement) plan-match the
      // cached OUTPUT, so cross-query sharing survives while the pair
      // stream stops squatting executor memory for the whole sweep
      .cache()
    out.count()
    pairs.unpersist()
    out
  }

  private[graft] def dbscanSql(asgDir: String): String =
    raw"""WITH RECURSIVE
         |asg AS (SELECT vec_id, v, cell FROM read_parquet('$asgDir/*.parquet')),
         |pflat AS (SELECT x.vec_id AS id1, y.vec_id AS id2,
         |    unnest(x.v) AS a, unnest(y.v) AS b
         |  FROM asg x JOIN asg y ON x.cell = y.cell AND x.vec_id < y.vec_id),
         |csim AS (SELECT id1, id2, sum(a*b) / (sqrt(sum(a*a)) * sqrt(sum(b*b))) AS sim
         |  FROM pflat GROUP BY id1, id2),
         |pairs AS (SELECT id1, id2 FROM csim WHERE round(sim, 6) >= $DbscanTau),
         |sym AS (SELECT id1 AS u, id2 AS v FROM pairs
         |  UNION ALL SELECT id2, id1 FROM pairs),
         |deg AS (SELECT u AS vec_id, count(*) AS n_neighbors FROM sym GROUP BY u),
         |core AS (SELECT vec_id FROM deg WHERE n_neighbors >= $DbscanMinPts),
         |cc AS (SELECT s.u, s.v FROM sym s
         |  JOIN core c1 ON s.u = c1.vec_id JOIN core c2 ON s.v = c2.vec_id),
         |reach(a, b) AS (SELECT u, v FROM cc
         |  UNION SELECT r.a, s.v FROM reach r JOIN cc s ON r.b = s.u),
         |lab AS (SELECT a AS vec_id, least(a, min(b)) AS cl
         |  FROM reach GROUP BY a),
         |corec AS (SELECT c.vec_id, coalesce(l.cl, c.vec_id) AS cl
         |  FROM core c LEFT JOIN lab l USING (vec_id)),
         |battach AS (SELECT s.u AS vec_id, min(k.cl) AS bcl
         |  FROM sym s JOIN corec k ON s.v = k.vec_id GROUP BY s.u)
         |SELECT a.vec_id, a.cell,
         |  CAST(coalesce(d.n_neighbors, 0) AS BIGINT) AS n_neighbors,
         |  CASE WHEN c.cl IS NOT NULL THEN 'core'
         |       WHEN b.bcl IS NOT NULL THEN 'border'
         |       ELSE 'noise' END AS role,
         |  CAST(coalesce(c.cl, b.bcl, -1) AS BIGINT) AS cluster_id
         |FROM asg a LEFT JOIN deg d USING (vec_id)
         |  LEFT JOIN corec c USING (vec_id)
         |  LEFT JOIN battach b USING (vec_id)""".stripMargin

  // ---------------------------------------------------------------- C24
  /** Blocking-quality audit — the two numbers every record-linkage /
    * dedup blocking scheme is judged by (Christen 2012): REDUCTION
    * RATIO (how much of the n² pair space the C3 banded-LSH blocking
    * prunes — the efficiency side) and PAIRS COMPLETENESS against the
    * C1 exact-duplicate ground truth (what fraction of KNOWN dup
    * pairs the candidate set still contains — the recall side). C21
    * audits the estimator's accuracy ON candidates; this audits what
    * the blocking never surfaces at all. Truth pairs enumerate inside
    * exact-fingerprint groups only (a group of k copies yields
    * k(k−1)/2 pairs — dup-group-bounded, never corpus²); total pair
    * count is the exact closed form n(n−1)/2; the recovered count is
    * one join of the (bounded) truth set against the shared banded
    * candidate stream. All counts exact integers; the two ratios are
    * the only doubles (6 dp). Null-safe: zero truth pairs publishes
    * null completeness, never a divide error.
    */
  def qBlockingQuality(spark: SparkSession, dir: String): DataFrame = {
    val wide = minhashWide(spark, dir)
    val bands = wide
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
      .cache()
    val fp = Tables.documents(spark, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val truth = fp.as("a").join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .cache()
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("n"))
    val nc = cand.agg(count(lit(1)).as("n_candidates"))
    val nt = truth.agg(count(lit(1)).as("n_truth"))
    val nr = truth.join(cand, Seq("d1", "d2"), "left_semi")
      .agg(count(lit(1)).as("n_recovered"))
    val out = n.crossJoin(broadcast(nc)).crossJoin(broadcast(nt))
      .crossJoin(broadcast(nr))
      .select(col("n").as("n_docs"),
        (col("n") * (col("n") - 1) / 2).cast("long").as("n_total_pairs"),
        col("n_candidates"),
        round(lit(1.0) - col("n_candidates").cast("double") /
          (col("n") * (col("n") - 1) / 2), 6).as("reduction_ratio"),
        col("n_truth").as("n_true_dup_pairs"),
        col("n_recovered"),
        when(col("n_truth") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_recovered").cast("double") / col("n_truth"), 6))
          .as("pairs_completeness"))
      .cache() // qGmmEm cleanup pattern (ADVICE r15): 1-row output
    out.count()
    cand.unpersist(); truth.unpersist()
    out
  }

  val qBlockingQualitySql: String =
    raw"""WITH $minhashCtes,
         |cand AS (SELECT DISTINCT x.doc_id d1, y.doc_id d2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
         |fp AS (SELECT doc_id, md5($duckNorm) AS fp FROM documents),
         |truth AS (SELECT a.doc_id d1, b.doc_id d2
         |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id),
         |nn AS (SELECT count(*) AS n FROM documents),
         |nc AS (SELECT count(*) AS n_candidates FROM cand),
         |nt AS (SELECT count(*) AS n_truth FROM truth),
         |nr AS (SELECT count(*) AS n_recovered FROM truth
         |  WHERE EXISTS (SELECT 1 FROM cand
         |    WHERE cand.d1 = truth.d1 AND cand.d2 = truth.d2))
         |SELECT n AS n_docs,
         |  CAST(n * (n - 1) // 2 AS BIGINT) AS n_total_pairs,
         |  n_candidates,
         |  round(1.0 - CAST(n_candidates AS DOUBLE) / (n * (n - 1) // 2), 6)
         |    AS reduction_ratio,
         |  n_truth AS n_true_dup_pairs, n_recovered,
         |  CASE WHEN n_truth = 0 THEN CAST(NULL AS DOUBLE)
         |    ELSE round(CAST(n_recovered AS DOUBLE) / n_truth, 6) END
         |    AS pairs_completeness
         |FROM nn, nc, nt, nr""".stripMargin

  // ---------------------------------------------------------------- C18
  /** Near-dup threshold sweep — the curator's knob curve: for each
    * candidate Jaccard threshold, how many verified pairs survive,
    * how many documents are touched, and how many the greedy
    * keep-lower-id rule would drop. Choosing the C2 threshold is the
    * highest-leverage decision in a dedup pipeline (too low deletes
    * content, too high ships boilerplate); this emits the whole curve
    * in one pass so the decision is made from data, not defaults.
    * Rides the SAME cached discriminative-shingle pair statistics as
    * C2/C13 (the pair stream is computed once per session); the
    * sweep itself is an explode over 7 threshold literals on the
    * bounded pair set + two bounded aggregates. Thresholds enter as
    * identical double literals in both engines, so the >= cuts are
    * bit-exact without rounding.
    */
  val SweepThresholds: Seq[Double] = Seq(0.25, 0.35, 0.45, 0.55, 0.65, 0.75, 0.85)

  def qDedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val tsArr = array(SweepThresholds.map(lit): _*)
    // Verified pairs at the LOWEST sweep threshold — the bounded C2
    // near-dup set (a pair below min(thresholds) survives no exploded
    // row, so the pre-filter is exact). Cached + materialized because
    // the curve's two aggregates (pair counts, distinct-doc counts)
    // otherwise EACH re-ran the discriminative-shingle self-join —
    // the sweep shuffled 14.3M records where C2/C13 shuffle 8.0M on
    // the same chain (r16 bench shuffle tap); now the join runs once
    // and both aggregates scan this small frame.
    val pairs = eager(shinglePairStats(spark, dir)
      .select(col("d1"), col("d2"),
        (col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= SweepThresholds.min)
      .cache())
    val base = pairs
      .select(col("d1"), col("d2"), col("jaccard"), explode(tsArr).as("threshold"))
      .filter(col("jaccard") >= col("threshold"))
    val p = base.groupBy(col("threshold"))
      .agg(count(lit(1)).as("np"), countDistinct(col("d2")).as("nd"))
    val docs = base.select(col("threshold"), explode(array(col("d1"), col("d2"))).as("doc"))
      .groupBy(col("threshold")).agg(countDistinct(col("doc")).as("ndoc"))
    // left-join FROM the literal threshold frame so empty cuts still
    // emit their zero row (the curve must keep all 7 points)
    val ts = spark.range(1).select(explode(tsArr).as("threshold"))
    ts.join(p, Seq("threshold"), "left").join(docs, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("np"), lit(0L)).as("n_pairs"),
        coalesce(col("ndoc"), lit(0L)).as("n_docs_in_pairs"),
        coalesce(col("nd"), lit(0L)).as("n_dropped"))
  }

  val qDedupThresholdSweepSql: String =
    raw"""WITH $duckShingleCte,
         |hs AS (SELECT doc_id, source, ${shingleHashSql("s")} AS h FROM sh),
         |hot AS (SELECT source, h FROM hs GROUP BY source, h HAVING count(*) > $JaccardDfCap),
         |disc AS (SELECT DISTINCT doc_id, source, h FROM hs
         |  WHERE NOT EXISTS (SELECT 1 FROM hot
         |    WHERE hot.source = hs.source AND hot.h = hs.h)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM disc GROUP BY doc_id),
         |inter AS (SELECT a.doc_id d1, b.doc_id d2, count(*) AS inter
         |  FROM disc a JOIN disc b ON a.source = b.source AND a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (SELECT d1, d2, CAST(inter AS DOUBLE)/(s1.sz + s2.sz - inter) AS jaccard
         |  FROM inter JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id),
         |ts AS (SELECT unnest([${SweepThresholds.mkString(", ")}]::DOUBLE[]) AS threshold),
         |base AS (SELECT threshold, d1, d2 FROM j JOIN ts ON jaccard >= threshold),
         |p AS (SELECT threshold, count(*) AS np, count(DISTINCT d2) AS nd
         |  FROM base GROUP BY threshold),
         |docs AS (SELECT threshold, count(DISTINCT doc) AS ndoc FROM (
         |    SELECT threshold, unnest([d1, d2]) AS doc FROM base) GROUP BY threshold)
         |SELECT ts.threshold,
         |  CAST(coalesce(np, 0) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(ndoc, 0) AS BIGINT) AS n_docs_in_pairs,
         |  CAST(coalesce(nd, 0) AS BIGINT) AS n_dropped
         |FROM ts LEFT JOIN p USING (threshold) LEFT JOIN docs USING (threshold)""".stripMargin

  // ---------------------------------------------------------------- C17
  /** Segment-level (sub-document) dedup — the line-dedup primitive of
    * CCNet/RefinedWeb-style pipelines, at the granularity between
    * C1's whole-doc hash and C2's shingle overlap: documents split
    * into fixed 16-token segments (the "line" of this newline-free
    * corpus), each segment md5-hashed, and a corpus-wide segment
    * document-frequency marks boilerplate. Per doc: segment count,
    * duplicated-segment count, dup fraction, and the keep verdict
    * (≤ half the segments duplicated) in EXACT integer arithmetic.
    * Scale shape: after the map-side split only (hash, doc_id) pairs
    * move — never text; the df aggregate map-side-combines (a
    * boilerplate segment collapses to one row per partition before
    * the shuffle) and the df→segment join is a plain hash join on the
    * segment hash. A production pipeline follows with the map-only
    * rewrite that drops df>1 segments from the retained docs.
    */
  def qSegmentDedup(spark: SparkSession, dir: String): DataFrame = {
    val segN = 16
    // guard the explode (the qBoilerplate r13 fix, same failure mode):
    // Spark's sequence(0, -1) yields [0, -1] while DuckDB's
    // generate_series(0, -1) yields nothing — a whitespace-only doc
    // would fabricate two empty md5 segments in Spark only
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    val nseg = ceil(size(col("toks")) / lit(segN.toDouble)).cast("int")
    val seg = t.select(col("doc_id"),
      explode(transform(sequence(lit(0), nseg - 1),
        i => md5(array_join(slice(col("toks"), i * segN + 1, lit(segN)), " "))))
        .as("seg_hash"))
    val dfreq = seg.groupBy(col("seg_hash")).agg(count(lit(1)).as("df"))
    seg.join(dfreq, "seg_hash")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup_segments"))
      .select(col("doc_id"), col("n_segments"), col("n_dup_segments"),
        round(col("n_dup_segments") / col("n_segments").cast("double"), 6)
          .as("dup_fraction"),
        (col("n_dup_segments") * 2 <= col("n_segments")).as("keep"))
  }

  val qSegmentDedupSql: String = {
    val toksSql = duckToksSql("text")
    raw"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |si AS (SELECT doc_id, toks,
         |    unnest(generate_series(0, CAST(ceil(len(toks) / 16.0) AS BIGINT) - 1)) AS i
         |  FROM t),
         |seg AS (SELECT doc_id,
         |    md5(array_to_string(toks[i*16+1 : i*16+16], ' ')) AS seg_hash FROM si),
         |df AS (SELECT seg_hash, count(*) AS df FROM seg GROUP BY seg_hash),
         |d AS (SELECT doc_id, count(*) AS n_segments,
         |    CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments
         |  FROM seg JOIN df USING (seg_hash) GROUP BY doc_id)
         |SELECT doc_id, n_segments, n_dup_segments,
         |  round(CAST(n_dup_segments AS DOUBLE) / n_segments, 6) AS dup_fraction,
         |  (n_dup_segments * 2 <= n_segments) AS keep
         |FROM d""".stripMargin
  }

  // ---------------------------------------------------------------- B24
  /** Per-source BOILERPLATE audit — the cross-document repetition
    * C17 cannot see: C17 asks "how much of THIS doc repeats
    * anywhere"; boilerplate asks "which segments recur across MANY
    * DISTINCT documents of one source" (navigation chrome, headers,
    * license banners — the text a crawl pipeline strips before
    * training because the model would memorize it at the source's
    * document count, not its token count). A segment is boilerplate
    * in its source when its document frequency clears max(2, 5% of
    * the source's docs) — the threshold compare is exact integer
    * arithmetic (df·20 ≥ n_docs AND df ≥ 2), no float enters. Same
    * 16-token md5 segmentation as C17 (shared convention, so a
    * pipeline can chain strip-after-audit); one (source, seg_hash)
    * keyed aggregate + one source-keyed rollup; |sources| output
    * rows with distinct-segment and instance-mass readouts.
    */
  def qBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val segN = 16
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
    val nseg = ceil(size(col("toks")) / lit(segN.toDouble)).cast("int")
    // guard the explode: Spark's sequence(0, -1) yields [0, -1] (step
    // defaults to -1 when start > stop), which would fabricate two
    // empty segments per empty/whitespace-only doc where DuckDB's
    // generate_series(0, -1) yields none — same device as C22's
    // size filter
    val seg = t.filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("source"),
      explode(transform(sequence(lit(0), nseg - 1),
        i => md5(array_join(slice(col("toks"), i * segN + 1, lit(segN)), " "))))
        .as("seg_hash"))
    val docsPerSource = Tables.documents(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val dfreq = seg.groupBy(col("source"), col("seg_hash"))
      .agg(countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("instances"))
      .join(broadcast(docsPerSource), "source")
      .withColumn("boiler", col("df") * 20 >= col("n_docs") && col("df") >= 2)
    dfreq.groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_segments"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boilerplate"),
        sum(col("instances")).cast("long").as("inst_total"),
        sum(when(col("boiler"), col("instances")).otherwise(0L))
          .cast("long").as("inst_boiler"))
      .select(col("source"), col("n_docs"), col("n_segments"),
        col("n_boilerplate"),
        round(col("inst_boiler").cast("double") / col("inst_total"), 6)
          .as("boiler_frac"))
  }

  val qBoilerplateSql: String = {
    val toksSql = duckToksSql("text")
    raw"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
         |si AS (SELECT doc_id, source, toks,
         |    unnest(generate_series(0, CAST(ceil(len(toks) / 16.0) AS BIGINT) - 1)) AS i
         |  FROM t),
         |seg AS (SELECT doc_id, source,
         |    md5(array_to_string(toks[i*16+1 : i*16+16], ' ')) AS seg_hash FROM si),
         |dps AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         |df AS (SELECT s.source, seg_hash,
         |    count(DISTINCT doc_id) AS df, count(*) AS instances,
         |    max(n_docs) AS n_docs,
         |    (count(DISTINCT doc_id) * 20 >= max(n_docs)
         |      AND count(DISTINCT doc_id) >= 2) AS boiler
         |  FROM seg s JOIN dps USING (source) GROUP BY 1, 2)
         |SELECT source, max(n_docs) AS n_docs, count(*) AS n_segments,
         |  CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_boilerplate,
         |  round(CAST(sum(CASE WHEN boiler THEN instances ELSE 0 END) AS DOUBLE)
         |    / sum(instances), 6) AS boiler_frac
         |FROM df GROUP BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- K25
  /** The curation WATERFALL — K13's end-to-end pipeline re-emitted as
    * the per-gate funnel a data team actually reviews before a
    * training run: for each successive gate (quality floor → exact-dup
    * canonical → near-dup canonical → decontamination → PII scrub),
    * the documents entering, surviving, dropped, and the survival
    * rate. Gate ORDER is the cumulative-conjunction contract (a doc
    * dropped for quality never reaches the dedup stage's n_in), so
    * the waterfall reconciles exactly: n_out(i) = n_in(i+1), and the
    * last n_out is K13's keep-set cardinality for the same gates.
    * All per-doc bits derive from the SHARED machinery — B3's quality
    * score, B7's fingerprint canonical, C11's cluster/contamination
    * verdicts riding the cached MinHash chain, B23's PII flags — this
    * query adds one boolean join frame and ONE aggregate; exact
    * integers, one 6-dp rate per stage, 6 output rows.
    */
  def qCurationFunnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.fingerprint
    val isEval = col("source").isin(EvalSources.map(x => x: Any): _*)
    // ONE documents scan computes every per-doc text fact this funnel
    // gates on (r18 — the previous form paid three separate text
    // scans: quality, fingerprint, PII): quality is the bit-identical
    // inline of TextAnalysis.scoreQuality (same ops, same order — the
    // K13 qPipelineE2e device, oracle-parity proven there); p_ok is
    // the count-free PII verdict (n_email+n_phone+n_ip = 0 ⟺ the
    // class-regex alternation never matches — counts are never
    // published here). The exact-dup canonical is a window min over
    // the fingerprint partition instead of groupBy + self-join — one
    // exchange, not two, over the same ALL-documents scope (a train
    // doc loses e_ok to a lower-id EVAL copy, exactly as before).
    val nTokD = tokenCount(col("text")).cast("double")
    val quality = round(
      (vocabHits(tokens(col("text")), TextAnalysis.stopwords("en"))
        .cast("double") / nTokD) * 0.4 +
        least(lit(1.0), nTokD / 100.0) * 0.3 +
        (lit(1.0) - length(regexp_replace(col("text"), "[^.,!?;:]", ""))
          .cast("double") / length(col("text")).cast("double")) * 0.3, 6)
    val facts = Tables.documents(spark, dir)
      .select(col("doc_id"), isEval.as("is_eval"),
        (quality >= TextAnalysis.QualityFloor).as("q_ok"),
        fingerprint(col("text")).as("fp"),
        TextAnalysis.piiNoHit(col("doc_id"), col("text")).as("p_ok"))
    val withE = facts
      .withColumn("e_ok",
        col("doc_id") === min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .filter(!col("is_eval"))
      .select(col("doc_id"), col("q_ok"), col("e_ok"), col("p_ok"))
    val dk = qDecontamKeepList(spark, dir)
      .select(col("doc_id"),
        (col("canonical_id") === col("doc_id")).as("nd_ok"),
        (col("reason") =!= "contaminated").as("nc_ok"))
    val bits = withE.join(dk, "doc_id")
    val sums = bits.agg(
      count(lit(1)).as("s0"),
      sum(when(col("q_ok"), 1L).otherwise(0L)).as("s1"),
      sum(when(col("q_ok") && col("e_ok"), 1L).otherwise(0L)).as("s2"),
      sum(when(col("q_ok") && col("e_ok") && col("nd_ok"), 1L)
        .otherwise(0L)).as("s3"),
      sum(when(col("q_ok") && col("e_ok") && col("nd_ok") && col("nc_ok"), 1L)
        .otherwise(0L)).as("s4"),
      sum(when(col("q_ok") && col("e_ok") && col("nd_ok") && col("nc_ok")
        && col("p_ok"), 1L).otherwise(0L)).as("s5"))
    val stages = Seq(
      (0, "train_corpus", "s0", "s0"), (1, "quality_floor", "s0", "s1"),
      (2, "exact_dedup", "s1", "s2"), (3, "near_dedup", "s2", "s3"),
      (4, "decontamination", "s3", "s4"), (5, "pii_scrub", "s4", "s5"))
    sums.select(explode(array(stages.map { case (i, name, in, out) =>
        struct(lit(i).as("stage"), lit(name).as("gate"),
          col(in).as("n_in"), col(out).as("n_out"))
      }: _*)).as("r"))
      .select(col("r.stage"), col("r.gate"), col("r.n_in"), col("r.n_out"))
      .withColumn("n_dropped", col("n_in") - col("n_out"))
      .withColumn("survival_rate",
        round(col("n_out").cast("double") / col("n_in"), 6))
  }

  lazy val qCurationFunnelSql: String = {
    val stages = Seq(
      (0, "train_corpus", "s0", "s0"), (1, "quality_floor", "s0", "s1"),
      (2, "exact_dedup", "s1", "s2"), (3, "near_dedup", "s2", "s3"),
      (4, "decontamination", "s3", "s4"), (5, "pii_scrub", "s4", "s5"))
    val rows = stages.map { case (i, name, in, out) =>
      s"""SELECT $i AS stage, '$name' AS gate, $in AS n_in, $out AS n_out,
         |  $in - $out AS n_dropped,
         |  round(CAST($out AS DOUBLE) / $in, 6) AS survival_rate
         |FROM sums""".stripMargin
    }.mkString("\nUNION ALL ")
    raw"""WITH RECURSIVE $textClusterCtes,
         |side AS (SELECT doc_id, source IN ($evalSourcesSql) AS is_eval FROM documents),
         |tcl AS (SELECT cl.doc_id, cl.cluster_id FROM cl
         |  JOIN side s ON cl.doc_id = s.doc_id WHERE NOT s.is_eval),
         |tcan AS (SELECT cluster_id, min(doc_id) AS canonical FROM tcl GROUP BY 1),
         |ccand AS (SELECT DISTINCT x.doc_id d_train, y.doc_id d_eval
         |  FROM bands x JOIN side sx ON x.doc_id = sx.doc_id
         |  JOIN bands y ON x.band = y.band AND x.bh = y.bh
         |  JOIN side sy ON y.doc_id = sy.doc_id
         |  WHERE NOT sx.is_eval AND sy.is_eval),
         |cont AS (SELECT DISTINCT d_train AS doc_id FROM (
         |    SELECT d_train, d_eval,
         |      CAST(sum(CASE WHEN p.minh = q.minh THEN 1 ELSE 0 END) AS DOUBLE) / $NumPerms AS est_sim
         |    FROM ccand JOIN sigs p ON d_train = p.doc_id
         |    JOIN sigs q ON d_eval = q.doc_id AND p.i = q.i
         |    GROUP BY d_train, d_eval)
         |  WHERE est_sim >= $TextClusterMinSim),
         |q AS (${TextAnalysis.qQualityScoreSql}),
         |fps AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         |  FROM documents),
         |canon AS (SELECT fp, min(doc_id) AS canonical FROM fps GROUP BY fp),
         |${TextAnalysis.piiScoredCte},
         |bits AS (SELECT d.doc_id,
         |    (q.quality >= ${TextAnalysis.QualityFloor}) AS q_ok,
         |    (f.doc_id = c.canonical) AS e_ok,
         |    (coalesce(tcan.canonical, d.doc_id) = d.doc_id) AS nd_ok,
         |    (ct.doc_id IS NULL) AS nc_ok,
         |    (p.n_email + p.n_phone + p.n_ip = 0) AS p_ok
         |  FROM (SELECT doc_id FROM side WHERE NOT is_eval) d
         |  JOIN q ON q.doc_id = d.doc_id
         |  JOIN fps f ON f.doc_id = d.doc_id
         |  JOIN canon c ON f.fp = c.fp
         |  LEFT JOIN tcl ON d.doc_id = tcl.doc_id
         |  LEFT JOIN tcan ON tcl.cluster_id = tcan.cluster_id
         |  LEFT JOIN cont ct ON d.doc_id = ct.doc_id
         |  JOIN scored p ON p.doc_id = d.doc_id),
         |sums AS (SELECT count(*) AS s0,
         |    CAST(sum(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT) AS s1,
         |    CAST(sum(CASE WHEN q_ok AND e_ok THEN 1 ELSE 0 END) AS BIGINT) AS s2,
         |    CAST(sum(CASE WHEN q_ok AND e_ok AND nd_ok THEN 1 ELSE 0 END) AS BIGINT) AS s3,
         |    CAST(sum(CASE WHEN q_ok AND e_ok AND nd_ok AND nc_ok THEN 1 ELSE 0 END) AS BIGINT) AS s4,
         |    CAST(sum(CASE WHEN q_ok AND e_ok AND nd_ok AND nc_ok AND p_ok THEN 1 ELSE 0 END) AS BIGINT) AS s5
         |  FROM bits)
         |$rows""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_curation_funnel" -> (qCurationFunnel _),
    "q_ngram_decontam" -> (qNgramDecontam _),
    "q_contamination_matrix" -> (qContaminationMatrix _),
    "q_boilerplate" -> (qBoilerplate _),
    "q_segment_dedup" -> (qSegmentDedup _),
    "q_dedup_threshold_sweep" -> (qDedupThresholdSweep _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_incremental_dedup" -> (qIncrementalDedup _),
    "q_incremental_neardup" -> (qIncrementalNeardup _),
    "q_ngram_jaccard" -> (qNgramJaccard _),
    "q_minhash_lsh" -> (qMinhashLsh _),
    "q_minhash_calibration" -> (qMinhashCalibration _),
    "q_crosslingual_pairs" -> (qCrosslingualPairs _),
    "q_contamination" -> (qContamination _),
    "q_simhash" -> (qSimhash _),
    "q_embedding_neardup" -> (qEmbeddingNeardup _),
    "q_dedup_clusters" -> (qDedupClusters _),
    "q_dedup_clusters_text" -> (qDedupClustersText _),
    "q_neardup_keep_list" -> (qNeardupKeepList _),
    "q_dedup_survivorship" -> (qDedupSurvivorship _),
    "q_dedup_inflation" -> (qDedupInflation _),
    "q_decontam_keep_list" -> (qDecontamKeepList _),
    "q_source_overlap" -> (qSourceOverlap _),
    "q_containment_pairs" -> (qContainmentPairs _),
    "q_semantic_dedup" -> (qSemanticDedup _),
    "q_dbscan" -> (qDbscan _),
    "q_blocking_quality" -> (qBlockingQuality _),
    "q_cluster_sizes" -> (qClusterSizes _))

  def oracle: Map[String, String] = Map(
    "q_segment_dedup" -> qSegmentDedupSql,
    "q_dedup_threshold_sweep" -> qDedupThresholdSweepSql,
    "q_blocking_quality" -> qBlockingQualitySql,
    "q_dedup_exact" -> qDedupExactSql,
    "q_incremental_dedup" -> qIncrementalDedupSql,
    "q_incremental_neardup" -> qIncrementalNeardupSql,
    "q_ngram_jaccard" -> qNgramJaccardSql,
    "q_minhash_lsh" -> qMinhashLshSql,
    "q_minhash_calibration" -> qMinhashCalibrationSql,
    "q_curation_funnel" -> qCurationFunnelSql,
    "q_ngram_decontam" -> qNgramDecontamSql,
    "q_contamination_matrix" -> qContaminationMatrixSql,
    "q_boilerplate" -> qBoilerplateSql,
    "q_crosslingual_pairs" -> qCrosslingualPairsSql,
    "q_contamination" -> qContaminationSql,
    "q_simhash" -> qSimhashSql,
    "q_embedding_neardup" -> qEmbeddingNeardupSql,
    "q_dedup_clusters" -> qDedupClustersSql,
    "q_dedup_clusters_text" -> qDedupClustersTextSql,
    "q_neardup_keep_list" -> qNeardupKeepListSql,
    "q_dedup_survivorship" -> qDedupSurvivorshipSql,
    "q_dedup_inflation" -> qDedupInflationSql,
    "q_decontam_keep_list" -> qDecontamKeepListSql,
    "q_source_overlap" -> qSourceOverlapSql,
    "q_containment_pairs" -> qContainmentPairsSql,
    "q_cluster_sizes" -> qClusterSizesSql) ++
    Option(Similarity.IvfIndex.lastLoc.get).map { case (asgDir, _) =>
      "q_semantic_dedup" -> semanticDedupSql(asgDir)
    }.toMap ++
    Option(Similarity.IvfIndex.lastLoc.get).map { case (asgDir, _) =>
      "q_dbscan" -> dbscanSql(asgDir)
    }.toMap
}
