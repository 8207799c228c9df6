package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Store, Tables}

/** Graph analytics over relationship graphs derived from the corpus
  * (SURVEY.md §2 block M). Complements the C6 connected-components
  * machinery (Dedup.scala) with score-propagation algorithms; the
  * iteration count is fixed and small, so each pass is an unrolled
  * join + aggregate Catalyst can plan — no driver-side loop state
  * beyond plan construction, no collect anywhere.
  */
object GraphOps {

  /** STRONG co-supply adjacency as src < dst pairs: per-part supplier
    * sets aggregate once (bounded arrays), pairs emitted map-side
    * (the A32 device), then weighted by shared-part count and cut at
    * the p90 of the weight distribution. The raw co-supply graph is a
    * near-clique at every scale (any two of S suppliers share a part
    * with probability → 1 as parts grow), which makes every graph
    * statistic degenerate; keeping only pairs with UNUSUALLY strong
    * overlap (top decile, data-adaptive — no magic constant to re-tune
    * per scale) yields a structured graph. Strict `>` against the
    * interpolated cut on exact integer weights is engine-identical
    * (the A15-proven percentile pair). Shared by M1–M3. Served from
    * [[GraphStore]] since r13: the derivation is a pure function of
    * the lineitem corpus, so cold queries read the persisted edge
    * table instead of re-deriving it.
    */
  /** WEIGHTED co-supply pairs (src < dst, w = shared-part count) —
    * the raw material both the p90-cut strong graph (M1–M4) and the
    * top-K sparsifier (M5) derive from. Uncached: each consumer's
    * downstream cache holds the (much smaller) derived graph, never
    * the full pair set.
    */
  private[graft] def coSupplyWeighted(spark: SparkSession, dir: String): DataFrame =
    // collect_set dedups (part, supplier) inside the aggregate, so no
    // separate distinct() pass — one shuffle builds the supplier sets.
    // Pair generation is the codegen'd PackedPairs kernel (r17): the
    // previous flatten(transform(transform(slice))) HOF chain ran
    // interpreted lambdas per pair (HOFs sit outside whole-stage
    // codegen) and allocated a struct per pair; the packed form emits
    // primitive longs in one fused i<j loop and unpacks to the
    // IDENTICAL (src, dst) longs after the count aggregate.
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sort_array(collect_set(col("l_suppkey"))).as("ss"))
      .select(explode(
        graft.functions.GraftExpressions.packed_pairs(col("ss"))).as("p"))
      .groupBy(col("p"))
      .agg(count(lit(1)).as("w"))
      .select(shiftrightunsigned(col("p"), 32).as("src"),
        col("p").bitwiseAND(lit(0xFFFFFFFFL)).as("dst"), col("w"))

  private def coSupplyPairs(spark: SparkSession, dir: String): DataFrame =
    GraphStore.strong(spark, dir)

  /** DuckDB mirror of [[coSupplyPairs]] as a CTE body. */
  private val undSql: String =
    """e0 AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
      |pw AS (SELECT a.sk AS src, b.sk AS dst, count(*) AS w
      |  FROM e0 a JOIN e0 b ON a.pk = b.pk AND a.sk < b.sk
      |  GROUP BY 1, 2),
      |wcut AS (SELECT quantile_cont(w, 0.9) AS wcut FROM pw),
      |und AS MATERIALIZED (SELECT src, dst FROM pw, wcut WHERE w > wcut)""".stripMargin

  /** kNN sparsifier fan-out (shared by M5/M6 and the M1k/M4k
    * kNN-graph bindings). Declared before every val that interpolates
    * it into SQL — object init order matters for the oracle strings.
    */
  val KnnK = 8

  /** MUTUAL top-K oriented pairs (src < dst) — M5's bounded-degree
    * sparsifier as a first-class graph input for the whole M-block:
    * per-node top-K by weight (WindowGroupLimit pushes the cutoff
    * map-side), mutual restriction caps every degree at K, so ANY
    * consumer's wedge/propagation work is bounded at |V|·K² no matter
    * how the underlying pair weights concentrate — the production
    * dial SCALING.md names for the densifying-corpus hazard. Cached
    * and session-shared exactly like [[coSupplyPairs]] (bounded at
    * |V|·K/2 rows by construction, so residency is trivially small);
    * all kNN-graph consumers build the identical logical plan and
    * share one entry.
    */
  private[graft] def mutualKnnPairs(spark: SparkSession, dir: String): DataFrame =
    GraphStore.knn(spark, dir)

  /** Persisted graph store — a [[graft.Store]] over the lineitem
    * corpus holding the derived graphs every M-block consumer shares.
    * r12's bench showed 8 of the 10 slowest queries each re-paying the
    * ~5 s co-supply derivation COLD (the session cache only helps
    * within a session); the derivation is a pure function of the
    * lineitem corpus, so it is a store, not a query. One derivation
    * pass ([[coSupplyWeighted]], cached for the build only) feeds
    * every artifact: the p90-cut strong graph (M1–M4), the mutual
    * top-K sparsifier (M5+ and q_sql_bfs) and the directed top-K
    * selection graph HITS consumes. The dials (KnnK, the p90 cut) are
    * in every name, so a dial bump stops resolving the old artifacts
    * instead of serving them.
    *
    * Scale: all artifacts are edge lists bounded far below the
    * corpus — strong = top-decile pairs, kNN ≤ |V|·K/2 rows — so the
    * store write is one-time per corpus state and every graph query
    * afterwards reads thousands of rows, not terabytes.
    */
  private[graft] object GraphStore {
    import java.util.concurrent.atomic.AtomicInteger

    /** Store builds performed by this JVM (spec observability: warm
      * and re-registration paths must not increment it). */
    val buildCount = new AtomicInteger(0)

    private val Strong = Store.Artifact(columns = "src BIGINT, dst BIGINT",
      family = Some("cosup_p90"))
    private val Knn = Strong.copy(family = Some(s"knng_k$KnnK"))
    private val KnnDir = Strong.copy(family = Some(s"knngdir_k$KnnK"))

    private val store = new Store(s"graph_p90_k$KnnK", "lineitem", "",
        Seq(Strong, Knn, KnnDir))((spark, dir, at) => {
      import org.apache.spark.sql.expressions.Window
      buildCount.incrementAndGet()
      val pw = coSupplyWeighted(spark, dir).cache()
      try {
        val cut = pw.agg(expr("percentile(w, 0.9)").as("wcut"))
        // parallel (non-coalesced) writes: the edge tables grow
        // linearly with SF — a coalesce(1) single-writer funnel is
        // the one piece of the build that would not survive a 1000×
        // corpus (the NSW-store lesson, r13 verdict)
        at.write(pw.crossJoin(broadcast(cut))
          .filter(col("w") > col("wcut"))
          .select(col("src").cast("long").as("src"),
            col("dst").cast("long").as("dst")), Strong)
        val sym = pw.select(col("src"), col("dst"), col("w"))
          .union(pw.select(col("dst").as("src"), col("src").as("dst"),
            col("w")))
        val byStrength = Window.partitionBy(col("src"))
          .orderBy(col("w").desc, col("dst").asc)
        val top = sym.withColumn("rank", row_number().over(byStrength))
          .filter(col("rank") <= KnnK)
          .select(col("src"), col("dst"))
          .cache()
        at.write(top.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst")), KnnDir)
        at.write(top
          .join(top.select(col("dst").as("src"), col("src").as("dst")),
            Seq("src", "dst"), "left_semi")
          .filter(col("src") < col("dst"))
          .select(col("src").cast("long").as("src"),
            col("dst").cast("long").as("dst")), Knn)
        top.unpersist()
      } finally pw.unpersist()
    })

    /** Drop catalog entries, keep the on-disk store (cold-session sim). */
    def deregister(spark: SparkSession, dir: String): Unit =
      store.deregister(spark, dir)

    /** Strong co-supply graph (p90 weight cut), src < dst. Cached:
      * consumers union/join multiple branches of the same edge set;
      * identical plans share one cache entry. */
    def strong(spark: SparkSession, dir: String): DataFrame =
      spark.table(store.ensure(spark, dir).table(Strong)).cache()

    /** Mutual top-K kNN graph, src < dst, degree ≤ K by construction. */
    def knn(spark: SparkSession, dir: String): DataFrame =
      spark.table(store.ensure(spark, dir).table(Knn)).cache()

    /** DIRECTED top-K selection graph (pre-mutual), degree-out <= K --
      * the asymmetric edge set M22's HITS consumes. */
    def knnDirected(spark: SparkSession, dir: String): DataFrame =
      spark.table(store.ensure(spark, dir).table(KnnDir)).cache()
  }

  /** DuckDB mirror of [[mutualKnnPairs]] as a CTE body that, like
    * [[undSql]], terminates in a CTE named `und` — so every graph
    * consumer's SQL body composes over either graph input unchanged.
    */
  private def mutKnnSql: String =
    s"""e0 AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
      |pw AS (SELECT a.sk AS src, b.sk AS dst, count(*) AS w
      |  FROM e0 a JOIN e0 b ON a.pk = b.pk AND a.sk < b.sk
      |  GROUP BY 1, 2),
      |sym AS (SELECT src, dst, w FROM pw
      |  UNION ALL SELECT dst, src, w FROM pw),
      |ranked AS (SELECT src, dst, row_number() OVER (
      |    PARTITION BY src ORDER BY w DESC, dst ASC) AS rank FROM sym),
      |topk AS (SELECT src, dst FROM ranked WHERE rank <= $KnnK),
      |und AS MATERIALIZED (SELECT t.src, t.dst FROM topk t
      |  JOIN topk r ON r.src = t.dst AND r.dst = t.src
      |  WHERE t.src < t.dst)""".stripMargin

  // ---------------------------------------------------------------- M1
  /** PageRank (damping 0.85, 3 fixed iterations) over the strong
    * co-supply graph (suppliers adjacent when they co-ship parts
    * unusually often — see [[coSupplyPairs]]). Each iteration is one
    * edges⋈scores join (both sides keyed on the node id) + one dst
    * aggregate; scores round to 10 dp per iteration so both engines
    * iterate on identical IEEE inputs, and the published score rounds
    * to 6 dp. Dangling nodes cannot occur (undirected edges ⇒ every
    * node has degree ≥ 1); suppliers with no strong co-supply edge
    * are out of scope by definition of the graph.
    */
  def qPagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankOver(coSupplyPairs(spark, dir))

  /** M1k: the SAME PageRank over the mutual-kNN graph ([[mutualKnnPairs]])
    * — the M-block's scale dial applied to score propagation. On the
    * p90 strong graph the edge set is a constant FRACTION of a
    * densifying pair distribution (SCALING.md measured it superlinear
    * on uniform-random data); here every node's degree is ≤ K, so each
    * iteration's edges⋈scores join touches at most |V|·K rows at ANY
    * scale — the graph input is the dial, the algorithm is unchanged.
    */
  def qPagerankKnn(spark: SparkSession, dir: String): DataFrame =
    pagerankOver(mutualKnnPairs(spark, dir))

  private def pagerankOver(und: DataFrame): DataFrame = {
    val edges = und.union(und.select(col("dst").as("src"),
      col("src").as("dst"))).cache()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("degree")).cache()
    // degree joins INTO the edge list once, outside the loop: the
    // cached contribution edges stay hash-partitioned on src, so each
    // iteration shuffles only the ~|V|-row score frame — the edge set
    // (the 100 TB-scale side) never re-shuffles after materialization
    val contrib = edges.join(deg, "src")
      .select(col("src"), col("dst"), col("degree")).cache()
    val tot = deg.agg(count(lit(1)).as("n"))
    var r = deg.crossJoin(broadcast(tot))
      .select(col("src").as("node"), round(lit(1.0) / col("n"), 10).as("pr"))
    for (_ <- 1 to 3) {
      r = contrib
        .join(r, contrib("src") === r("node"))
        .select(col("dst"), (col("pr") / col("degree")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .crossJoin(broadcast(tot))
        .select(col("dst").as("node"),
          round(lit(0.15) / col("n") + lit(0.85) * col("s"), 10).as("pr"))
    }
    val out = r.join(deg, r("node") === deg("src"))
      .select(col("node").as("s_suppkey"), col("degree"),
        round(col("pr"), 6).as("pagerank"))
      .cache()
    // materialize the |V|-row result, then release the edge-scale
    // caches (the ones that matter at 100 TB); only the small result
    // frame stays resident — and it is what the caller reads. The
    // shared coSupplyPairs cache is deliberately NOT dropped: all
    // four M-block queries derive from it (see coSupplyPairs doc).
    out.count()
    contrib.unpersist(); deg.unpersist(); edges.unpersist()
    out
  }

  /** PageRank SQL body over any CTE chain ending in `und(src, dst)` —
    * composes with [[undSql]] (strong graph) or [[mutKnnSql]] (kNN). */
  private def pagerankSqlOver(graphCte: String): String =
    s"""WITH $graphCte,
      |edges AS MATERIALIZED (SELECT src, dst FROM und
      |  UNION ALL SELECT dst, src FROM und),
      |deg AS MATERIALIZED (SELECT src AS node, count(*) AS degree FROM edges GROUP BY 1),
      |tot AS (SELECT count(*) AS n FROM deg),
      |r0 AS (SELECT node, round(CAST(1.0 AS DOUBLE) / n, 10) AS pr FROM deg, tot),
      |r1 AS (SELECT e.dst AS node,
      |    round((SELECT CAST(0.15 AS DOUBLE) / n FROM tot)
      |      + CAST(0.85 AS DOUBLE) * sum(r.pr / d.degree), 10) AS pr
      |  FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.node
      |  GROUP BY e.dst),
      |r2 AS (SELECT e.dst AS node,
      |    round((SELECT CAST(0.15 AS DOUBLE) / n FROM tot)
      |      + CAST(0.85 AS DOUBLE) * sum(r.pr / d.degree), 10) AS pr
      |  FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.node
      |  GROUP BY e.dst),
      |r3 AS (SELECT e.dst AS node,
      |    round((SELECT CAST(0.15 AS DOUBLE) / n FROM tot)
      |      + CAST(0.85 AS DOUBLE) * sum(r.pr / d.degree), 10) AS pr
      |  FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.node
      |  GROUP BY e.dst)
      |SELECT r3.node AS s_suppkey, deg.degree, round(r3.pr, 6) AS pagerank
      |FROM r3 JOIN deg ON r3.node = deg.node""".stripMargin

  val qPagerankSql: String = pagerankSqlOver(undSql)
  val qPagerankKnnSql: String = pagerankSqlOver(mutKnnSql)

  // ---------------------------------------------------------------- M2
  /** Triangle counting + local clustering coefficient per supplier.
    * Each triangle is enumerated exactly once via the oriented-edge
    * trick: edges carry src < dst, so the wedge join (a,b)⋈(b,c)
    * yields only a < b < c candidates and the closing-edge join (a,c)
    * confirms — the degree-ordered formulation that bounds wedge
    * explosion at scale (two keyed joins, no symmetric blowup).
    * Per-node counts come from a 3-way map-side explode of confirmed
    * triangles; clustering = 2T / (deg·(deg−1)) with a degree<2 guard,
    * rounded at the boundary.
    */
  def qTriangleCount(spark: SparkSession, dir: String): DataFrame = {
    val und = coSupplyPairs(spark, dir)
    val deg = und.select(col("src").as("node"))
      .union(und.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val wedge = und.select(col("src").as("a"), col("dst").as("b"))
      .join(und.select(col("src").as("b"), col("dst").as("c")), "b")
    val tri = wedge.join(und.select(col("src").as("a"), col("dst").as("c")),
      Seq("a", "c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .na.fill(0L, Seq("triangles"))
      .select(col("node").as("s_suppkey"), col("degree"), col("triangles"),
        when(col("degree") < 2, lit(0.0))
          .otherwise(round(lit(2.0) * col("triangles") /
            (col("degree") * (col("degree") - 1)), 6)).as("clustering"))
  }

  val qTriangleCountSql: String =
    s"""WITH $undSql,
      |deg AS (SELECT node, count(*) AS degree FROM (
      |    SELECT src AS node FROM und UNION ALL SELECT dst FROM und)
      |  GROUP BY 1),
      |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM und e1
      |  JOIN und e2 ON e1.dst = e2.src
      |  JOIN und e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      |pern AS (SELECT node, count(*) AS triangles FROM (
      |    SELECT a AS node FROM tri
      |    UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri)
      |  GROUP BY 1)
      |SELECT deg.node AS s_suppkey, deg.degree,
      |  COALESCE(pern.triangles, 0) AS triangles,
      |  CASE WHEN deg.degree < 2 THEN 0.0
      |    ELSE round(2.0 * COALESCE(pern.triangles, 0)
      |      / (deg.degree * (deg.degree - 1)), 6) END AS clustering
      |FROM deg LEFT JOIN pern ON deg.node = pern.node""".stripMargin

  // ---------------------------------------------------------------- M3
  /** Link prediction by common-neighbor evidence: for supplier pairs
    * NOT yet adjacent, the common-neighbor count and the Adamic-Adar
    * score Σ_b 1/ln(deg b) (rarer shared neighbors weigh more), top-20
    * with a deterministic pair tiebreak. Rides the SAME oriented wedge
    * join as M2 — (a,b)⋈(b,c) yields each candidate a<c pair once per
    * shared neighbor — then one anti-join removes closed wedges
    * (existing edges) and one pair aggregate folds the evidence.
    * Per-neighbor weights are 10-dp-rounded before the fold so the
    * cross-engine sum rides identical doubles; the top-20 cut orders
    * by the ROUNDED score. Two keyed joins + one anti-join — the M2
    * cost shape, no new scale risk.
    */
  def qLinkPrediction(spark: SparkSession, dir: String): DataFrame = {
    val und = coSupplyPairs(spark, dir)
    val deg = und.select(col("src").as("node"))
      .union(und.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val wedge = und.select(col("src").as("a"), col("dst").as("b"))
      .join(und.select(col("src").as("b"), col("dst").as("c")), "b")
    val open = wedge.join(
      und.select(col("src").as("a"), col("dst").as("c")),
      Seq("a", "c"), "left_anti")
    open.join(broadcast(deg.withColumnRenamed("node", "b")), "b")
      .withColumn("aa_term", round(lit(1.0) / log(col("degree")), 10))
      .groupBy(col("a"), col("c"))
      .agg(count(lit(1)).as("common_neighbors"),
        round(sum(col("aa_term")), 6).as("adamic_adar"))
      .orderBy(col("adamic_adar").desc, col("a").asc, col("c").asc)
      .limit(20)
  }

  val qLinkPredictionSql: String =
    s"""WITH $undSql,
      |deg AS (SELECT node, count(*) AS degree FROM (
      |    SELECT src AS node FROM und UNION ALL SELECT dst FROM und)
      |  GROUP BY 1),
      |wedge AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM und e1 JOIN und e2 ON e1.dst = e2.src),
      |open_w AS (SELECT w.a, w.b, w.c FROM wedge w
      |  WHERE NOT EXISTS (SELECT 1 FROM und e
      |    WHERE e.src = w.a AND e.dst = w.c))
      |SELECT o.a, o.c, count(*) AS common_neighbors,
      |  round(sum(round(1.0 / ln(d.degree), 10)), 6) AS adamic_adar
      |FROM open_w o JOIN deg d ON o.b = d.node
      |GROUP BY 1, 2
      |ORDER BY adamic_adar DESC, a, c LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- M4
  /** Community detection by synchronous min-label propagation over the
    * strong co-supply graph: every node starts labeled with its own id
    * and each of 3 unrolled rounds takes the minimum label across the
    * node itself and its neighbors (self-loops union into the edge
    * list so "itself" rides the same join). Exact integer min — no
    * float drift surface at all — and synchronous rounds make the
    * result iteration-count-deterministic in both engines. Each round
    * is one keyed edges⋈labels join + one min aggregate (the PageRank
    * cost shape); labels are |V|-sized, edges never re-shuffle after
    * the cached materialization. Output: node, its community (= min
    * reachable-in-3 label), and the community size.
    */
  /** Reusable synchronous min-label propagation: `rounds` rounds over
    * an UNDIRECTED edge list given as src→dst pairs (symmetric closure
    * taken here). Returns (node, lbl) where lbl = min node id within
    * distance `rounds`. Property-tested on synthetic graphs
    * (PropertySpec); [[qLabelPropagation]] binds it to the corpus.
    */
  private[graft] def labelPropagate(und: DataFrame, rounds: Int): DataFrame = {
    val edges = und.union(und.select(col("dst").as("src"),
      col("src").as("dst")))
    val nodes = edges.select(col("src")).distinct()
    val edgesPlus = edges
      .union(nodes.select(col("src"), col("src").as("dst"))).cache()
    var lbl = nodes.select(col("src").as("node"), col("src").as("lbl"))
    for (_ <- 1 to rounds) {
      lbl = edgesPlus
        .join(lbl, edgesPlus("src") === lbl("node"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("l"))
        .select(col("dst").as("node"), col("l").as("lbl"))
    }
    // materialize the |V|-row label frame (callers also branch over it
    // twice, so the cache doubles as exchange reuse), then release the
    // edge-scale cache rather than pinning it for the session
    val out = lbl.cache()
    out.count()
    edgesPlus.unpersist()
    out
  }

  /** Min-label propagation to the TRUE fixpoint: synchronous rounds
    * until no label changes, capped at `maxRounds` (a safety bound —
    * min-label converges in ≤ graph-diameter rounds, and the change
    * count reaching zero is the stop, not the cap). Per round ONE
    * scalar (the change count) crosses the driver; label frames are
    * |V| rows, the edge list never re-shuffles after materialization.
    * At the fixpoint every label is its component's minimum id — the
    * convergence contract [[ConvergenceSpec]] pins against the
    * pointer-jumping components (M8). Returns (labels, roundsRun).
    */
  private[graft] def labelPropToFixpoint(und: DataFrame,
      maxRounds: Int = 64): (DataFrame, Int) = {
    val edges = und.union(und.select(col("dst").as("src"),
      col("src").as("dst")))
    val nodes = edges.select(col("src")).distinct()
    val edgesPlus = edges
      .union(nodes.select(col("src"), col("src").as("dst"))).cache()
    // localCheckpoint, not cache: an open-ended loop stacks one join
    // per round onto the LOGICAL plan — analysis cost grows
    // quadratically in rounds even when caches truncate execution.
    // Checkpointing cuts the lineage so every round plans O(1) work;
    // the frame is |V| rows, so materialization is trivial.
    var lbl = nodes.select(col("src").as("node"), col("src").as("lbl"))
      .localCheckpoint(true)
    var rounds = 0
    var changed = 1L
    while (changed > 0 && rounds < maxRounds) {
      val nxt = edgesPlus
        .join(lbl, edgesPlus("src") === lbl("node"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("l"))
        .select(col("dst").as("node"), col("l").as("lbl"))
        .localCheckpoint(true)
      changed = nxt.select(col("node"), col("lbl").as("ln"))
        .join(lbl.select(col("node"), col("lbl").as("lp")), "node")
        .filter(col("ln") =!= col("lp")).count()
      lbl = nxt
      rounds += 1
    }
    edgesPlus.unpersist()
    (lbl, rounds)
  }

  /** PageRank iterated to a tolerance stop: rounds until the L1
    * round-over-round delta ≤ `tol`, capped at `maxRounds`. Damping
    * 0.85 contracts the L1 delta geometrically (the transition is
    * column-stochastic: ‖Δ_{k+1}‖₁ ≤ 0.85·‖Δ_k‖₁), so the cap is a
    * safety bound and the geometric tail gives a closed-form distance
    * to the fixpoint: ‖r_k − r*‖₁ ≤ ‖Δ_k‖₁·0.85/0.15 — the bound
    * [[ConvergenceSpec]] uses to certify the fixed-3 oracle snapshot.
    * Per round ONE scalar (the delta) crosses the driver; the edge
    * set never re-shuffles after materialization (the M1 shape).
    * Returns (scores(node, pr), roundsRun, per-round L1 deltas).
    */
  private[graft] def pagerankToConvergence(und: DataFrame,
      tol: Double = 1e-9, maxRounds: Int = 60): (DataFrame, Int, Seq[Double]) = {
    val edges = und.union(und.select(col("dst").as("src"),
      col("src").as("dst"))).cache()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("degree")).cache()
    val contrib = edges.join(deg, "src")
      .select(col("src"), col("dst"), col("degree")).cache()
    val tot = deg.agg(count(lit(1)).as("n"))
    // localCheckpoint, not cache: see labelPropToFixpoint — the
    // open-ended loop must not stack lineage
    var r = deg.crossJoin(broadcast(tot))
      .select(col("src").as("node"), round(lit(1.0) / col("n"), 10).as("pr"))
      .localCheckpoint(true)
    val deltas = scala.collection.mutable.Buffer.empty[Double]
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      val nxt = contrib
        .join(r, contrib("src") === r("node"))
        .select(col("dst"), (col("pr") / col("degree")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .crossJoin(broadcast(tot))
        .select(col("dst").as("node"),
          round(lit(0.15) / col("n") + lit(0.85) * col("s"), 10).as("pr"))
        .localCheckpoint(true)
      val d = nxt.select(col("node"), col("pr").as("prn"))
        .join(r.select(col("node"), col("pr").as("prp")), "node")
        .agg(sum(abs(col("prn") - col("prp")))).head().getDouble(0)
      deltas += d
      r = nxt
      rounds += 1
      done = d <= tol
    }
    contrib.unpersist(); deg.unpersist(); edges.unpersist()
    (r, rounds, deltas.toSeq)
  }

  /** Power iteration (eigenvector centrality) with a tolerance stop:
    * L∞-normalized rounds until the max per-node score change ≤
    * `tol`, capped at `maxRounds`. Convergence rate is the spectral
    * ratio λ₂/λ₁ of the kNN adjacency — data-dependent, so unlike
    * PageRank there is no universal contraction constant; the
    * contract [[ConvergenceSpec]] asserts is termination under the
    * cap on the shipped corpora plus a non-expanding delta tail.
    * Returns (scores(node, score), roundsRun, per-round L∞ deltas).
    */
  private[graft] def eigencentralityToConvergence(und: DataFrame,
      tol: Double = 1e-7, maxRounds: Int = 200): (DataFrame, Int, Seq[Double]) = {
    val edges = und.union(und.select(col("dst").as("src"),
      col("src").as("dst"))).cache()
    // localCheckpoint, not cache: see labelPropToFixpoint — the
    // open-ended loop must not stack lineage
    var x = edges.select(col("src")).distinct()
      .select(col("src").as("node"), lit(1.0).as("score"))
      .localCheckpoint(true)
    val deltas = scala.collection.mutable.Buffer.empty[Double]
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      val raw = edges.join(x, edges("src") === x("node"))
        .select(col("dst"), col("score"))
        .groupBy(col("dst")).agg(sum(col("score")).as("s"))
        .cache()
      val mx = raw.agg(max(col("s")).as("mx"))
      val nxt = raw.crossJoin(broadcast(mx))
        .select(col("dst").as("node"),
          round(col("s") / col("mx"), 10).as("score"))
        .localCheckpoint(true)
      raw.unpersist()
      val d = nxt.select(col("node"), col("score").as("sn"))
        .join(x.select(col("node"), col("score").as("sp")), "node")
        .agg(max(abs(col("sn") - col("sp")))).head().getDouble(0)
      deltas += d
      x = nxt
      rounds += 1
      done = d <= tol
    }
    edges.unpersist()
    (x, rounds, deltas.toSeq)
  }

  private def labelPropQuery(und: DataFrame): DataFrame = {
    val lbl = labelPropagate(und, rounds = 3)
    val sizes = lbl.groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
    lbl.join(sizes, "lbl")
      .select(col("node").as("s_suppkey"), col("lbl").as("community"),
        col("community_size"))
  }

  def qLabelPropagation(spark: SparkSession, dir: String): DataFrame =
    labelPropQuery(coSupplyPairs(spark, dir))

  /** M4k: min-label propagation over the mutual-kNN graph — the same
    * bounded-degree dial as [[qPagerankKnn]]: each of the 3 unrolled
    * rounds joins a ≤ |V|·(K+1)-row edge list (self-loops included)
    * against the |V|-row label frame, so community detection survives
    * weight concentration that densifies the p90 strong graph.
    */
  def qLabelPropKnn(spark: SparkSession, dir: String): DataFrame =
    labelPropQuery(mutualKnnPairs(spark, dir))

  /** The 3-round min-label CTE chain over any `und(src, dst)` graph
    * CTE, ending in `l3(node, lbl)` — shared by the two label-prop
    * bindings and M9's conductance so the community assignment is
    * definitionally identical everywhere it is consumed. */
  private def labelPropCtes(graphCte: String): String =
    s"""$graphCte,
      |edges AS MATERIALIZED (SELECT src, dst FROM und
      |  UNION ALL SELECT dst, src FROM und),
      |nodes AS (SELECT DISTINCT src AS node FROM edges),
      |ep AS MATERIALIZED (SELECT src, dst FROM edges
      |  UNION ALL SELECT node, node FROM nodes),
      |l0 AS (SELECT node, node AS lbl FROM nodes),
      |l1 AS (SELECT e.dst AS node, min(l.lbl) AS lbl
      |  FROM ep e JOIN l0 l ON e.src = l.node GROUP BY 1),
      |l2 AS (SELECT e.dst AS node, min(l.lbl) AS lbl
      |  FROM ep e JOIN l1 l ON e.src = l.node GROUP BY 1),
      |l3 AS MATERIALIZED (SELECT e.dst AS node, min(l.lbl) AS lbl
      |  FROM ep e JOIN l2 l ON e.src = l.node GROUP BY 1)""".stripMargin

  private def labelPropSqlOver(graphCte: String): String =
    s"""WITH ${labelPropCtes(graphCte)},
      |sz AS (SELECT lbl, count(*) AS community_size FROM l3 GROUP BY 1)
      |SELECT l3.node AS s_suppkey, l3.lbl AS community, sz.community_size
      |FROM l3 JOIN sz ON l3.lbl = sz.lbl""".stripMargin

  val qLabelPropagationSql: String = labelPropSqlOver(undSql)
  val qLabelPropKnnSql: String = labelPropSqlOver(mutKnnSql)

  // ---------------------------------------------------------------- M5
  /** Per-node top-K edge sparsification of the weighted co-supply
    * graph — the kNN-graph build, and the bounded-degree production
    * dial the SCALING.md triangle analysis names: the data-adaptive
    * p90 weight cut keeps a constant FRACTION of the distinct-pair
    * set, so on densifying data the strong graph's wedge count grows
    * superlinearly; a per-node top-K keeps at most K partners per
    * node, and its MUTUAL subgraph (both endpoints picked each other)
    * has max degree ≤ K, bounding any wedge enumeration at |V|·K²
    * regardless of how the underlying pair weights concentrate.
    *
    * Mechanics: symmetric directed view of the weighted pairs, per-
    * node rank by (w DESC, partner ASC — deterministic on exact
    * integer weights), row_number ≤ K so WindowGroupLimit pushes the
    * cutoff map-side BEFORE the shuffle (the B13 device: a hub with a
    * million candidate partners never materializes them through the
    * exchange), then one self-join marks mutual selections. Output:
    * (node, nbr, w, rank, mutual) — |V|·K rows max at any scale.
    */

  def qKnnGraph(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pw = coSupplyWeighted(spark, dir)
    val sym = pw.select(col("src"), col("dst"), col("w"))
      .union(pw.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    val byStrength = Window.partitionBy(col("src"))
      .orderBy(col("w").desc, col("dst").asc)
    // no cache: the mutual check's two branches are the IDENTICAL
    // subplan, so ReuseExchange canonicalizes them onto one pair-
    // derivation shuffle (the H7 device), and the uncached plan keeps
    // the WindowGroupLimit visible to the plan spec
    val top = sym.withColumn("rank", row_number().over(byStrength))
      .filter(col("rank") <= KnnK)
    val rev = top.select(col("dst").as("src"), col("src").as("dst"),
      lit(true).as("mutual0"))
    top.join(rev, Seq("src", "dst"), "left")
      .select(col("src").as("node"), col("dst").as("nbr"), col("w"),
        col("rank"), coalesce(col("mutual0"), lit(false)).as("mutual"))
  }

  val qKnnGraphSql: String =
    s"""WITH e0 AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
      |pw AS (SELECT a.sk AS src, b.sk AS dst, count(*) AS w
      |  FROM e0 a JOIN e0 b ON a.pk = b.pk AND a.sk < b.sk
      |  GROUP BY 1, 2),
      |sym AS (SELECT src, dst, w FROM pw
      |  UNION ALL SELECT dst, src, w FROM pw),
      |ranked AS (SELECT src, dst, w, row_number() OVER (
      |    PARTITION BY src ORDER BY w DESC, dst ASC) AS rank FROM sym),
      |topk AS (SELECT * FROM ranked WHERE rank <= $KnnK)
      |SELECT t.src AS node, t.dst AS nbr, t.w, t.rank,
      |  EXISTS (SELECT 1 FROM topk r
      |    WHERE r.src = t.dst AND r.dst = t.src) AS mutual
      |FROM topk t""".stripMargin

  // ---------------------------------------------------------------- M6
  /** Triangle counting + clustering over the MUTUAL kNN subgraph —
    * M2's exact enumeration run on M5's bounded-degree graph. The
    * mutual restriction (both endpoints ranked each other top-K)
    * caps every node's degree at K, so the oriented wedge join emits
    * at most |V|·K² candidates on ANY weight distribution — including
    * the densifying uniform-random corpus where the p90-cut graph's
    * wedge stream grew superlinearly (SCALING.md: α 1.56 → this query
    * measures the dial's actual exponent). Same output shape as M2;
    * nodes with no mutual edge are out of scope, exactly as M2 scopes
    * to the strong graph.
    */
  def qTriangleKnn(spark: SparkSession, dir: String): DataFrame = {
    // shared cached derivation (see mutualKnnPairs): the wedge +
    // closing-edge machinery reads it four times, it is bounded at
    // |V|·K/2 rows by construction, and M1k/M4k ride the same entry
    val mutual = mutualKnnPairs(spark, dir)
    val deg = mutual.select(col("src").as("node"))
      .union(mutual.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val wedge = mutual.select(col("src").as("a"), col("dst").as("b"))
      .join(mutual.select(col("src").as("b"), col("dst").as("c")), "b")
    val tri = wedge.join(
      mutual.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    val out = deg.join(perNode, Seq("node"), "left")
      .na.fill(0L, Seq("triangles"))
      .select(col("node").as("s_suppkey"), col("degree"), col("triangles"),
        when(col("degree") < 2, lit(0.0))
          .otherwise(round(lit(2.0) * col("triangles") /
            (col("degree") * (col("degree") - 1)), 6)).as("clustering"))
      .cache()
    // the |V|-row result materializes here; the mutual-pair cache is
    // deliberately NOT dropped — it is the session-shared kNN graph
    // input (≤ |V|·K/2 rows) that M1k/M4k also consume, exactly the
    // coSupplyPairs residency contract. Bench/Verify clear the
    // catalog cache between queries, so nothing accumulates per run.
    out.count()
    out
  }

  val qTriangleKnnSql: String =
    s"""WITH $mutKnnSql,
      |deg AS (SELECT node, count(*) AS degree FROM (
      |    SELECT src AS node FROM und UNION ALL SELECT dst FROM und)
      |  GROUP BY 1),
      |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM und e1
      |  JOIN und e2 ON e1.dst = e2.src
      |  JOIN und e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      |pern AS (SELECT node, count(*) AS triangles FROM (
      |    SELECT a AS node FROM tri
      |    UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri)
      |  GROUP BY 1)
      |SELECT deg.node AS s_suppkey, deg.degree,
      |  COALESCE(pern.triangles, 0) AS triangles,
      |  CASE WHEN deg.degree < 2 THEN 0.0
      |    ELSE round(2.0 * COALESCE(pern.triangles, 0)
      |      / (deg.degree * (deg.degree - 1)), 6) END AS clustering
      |FROM deg LEFT JOIN pern ON deg.node = pern.node""".stripMargin

  // ---------------------------------------------------------------- M7
  /** Degree distribution of the strong co-supply graph + a log-log
    * shape readout — the first diagnostic on any derived graph
    * (SCALING.md's triangle analysis turned exactly on whether the
    * top decile densifies): the degree HISTOGRAM (count-of-counts —
    * bounded by distinct degrees, the H5/K10 device, never the node
    * set) with an OLS slope of ln(n_nodes) on ln(degree) over the
    * histogram points (the K8 Zipf device: covar_pop/var_pop,
    * 3-dp boundary round absorbing summation-order ulps). The OLS runs
    * over the ENTIRE log-log histogram — head points dominate, so the
    * column is named loglog_slope, not a tail exponent (a genuine
    * tail fit would cut at a degree threshold first); a power-law
    * graph still reads strongly negative while the uniform-random
    * co-supply graph reads flat — quantifying why the p90 cut
    * densifies here and wouldn't on production data. Fit columns broadcast back
    * onto the histogram rows (one row per distinct degree).
    */
  def qDegreeDistribution(spark: SparkSession, dir: String): DataFrame = {
    val und = coSupplyPairs(spark, dir)
    val deg = und.select(col("src").as("node"))
      .union(und.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val hist = deg.groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
    val fit = hist
      .select(log(col("degree").cast("double")).as("x"),
        log(col("n_nodes").cast("double")).as("y"))
      .agg(count(lit(1)).as("n_points"),
        covar_pop(col("x"), col("y")).as("cxy"), var_pop(col("x")).as("vx"),
        avg(col("x")).as("mx"), avg(col("y")).as("my"))
      // a single-point histogram (degenerate tiny graph) has no slope:
      // vx = 0 ⇒ NULL fit, not an ANSI divide-by-zero (hit at sf0.001)
      .select(col("n_points"),
        when(col("vx") === 0, lit(null).cast("double"))
          .otherwise(round(col("cxy") / col("vx"), 3)).as("loglog_slope"),
        when(col("vx") === 0, lit(null).cast("double"))
          .otherwise(round(col("my") - col("cxy") / col("vx") * col("mx"), 3))
          .as("intercept"))
    hist.crossJoin(broadcast(fit))
      .select(col("degree"), col("n_nodes"), col("n_points"),
        col("loglog_slope"), col("intercept"))
  }

  val qDegreeDistributionSql: String =
    s"""WITH $undSql,
      |deg AS (SELECT node, count(*) AS degree FROM (
      |    SELECT src AS node FROM und UNION ALL SELECT dst FROM und)
      |  GROUP BY 1),
      |hist AS (SELECT degree, count(*) AS n_nodes FROM deg GROUP BY 1),
      |fit AS (SELECT count(*) AS n_points,
      |    CASE WHEN var_pop(ln(CAST(degree AS DOUBLE))) = 0 THEN NULL
      |      ELSE round(covar_pop(ln(CAST(degree AS DOUBLE)), ln(CAST(n_nodes AS DOUBLE)))
      |        / var_pop(ln(CAST(degree AS DOUBLE))), 3) END AS loglog_slope,
      |    CASE WHEN var_pop(ln(CAST(degree AS DOUBLE))) = 0 THEN NULL
      |      ELSE round(avg(ln(CAST(n_nodes AS DOUBLE)))
      |        - covar_pop(ln(CAST(degree AS DOUBLE)), ln(CAST(n_nodes AS DOUBLE)))
      |          / var_pop(ln(CAST(degree AS DOUBLE)))
      |          * avg(ln(CAST(degree AS DOUBLE))), 3) END AS intercept
      |  FROM hist)
      |SELECT degree, n_nodes, n_points, loglog_slope, intercept
      |FROM hist, fit""".stripMargin

  // ---------------------------------------------------------------- M8
  /** EXACT connected components of the mutual-kNN graph — M4's label
    * propagation truncates at 3 rounds (distance-bounded communities);
    * this runs [[graft.operators.Dedup.clusterPairs]] — the same
    * log-diameter pointer-jumping loop (with large-star/small-star
    * contraction fallback) that clusters near-dup pairs — to a TRUE
    * fixpoint, so components of any diameter resolve completely. One
    * shared CC engine for every pair source the library trusts
    * (embedding near-dups, text MinHash pairs, and now the kNN graph);
    * the bounded-degree input keeps the edge set ≤ |V|·K/2 at any
    * scale. Output: node, component (= min member id), component size.
    * Oracle: recursive-CTE transitive closure over the identical
    * mutual top-K pair set (the C6b device).
    */
  def qKnnComponents(spark: SparkSession, dir: String): DataFrame = {
    val mutual = mutualKnnPairs(spark, dir)
    val lbl = graft.operators.Dedup.clusterPairs(spark,
      mutual.select(col("src").as("id1"), col("dst").as("id2")))
    val sizes = lbl.groupBy(col("lab")).agg(count(lit(1)).as("component_size"))
    lbl.join(sizes, "lab")
      .select(col("node").as("s_suppkey"), col("lab").as("component"),
        col("component_size"))
  }

  val qKnnComponentsSql: String =
    s"""WITH RECURSIVE $mutKnnSql,
      |usym AS (SELECT src AS a, dst AS b FROM und
      |  UNION ALL SELECT dst, src FROM und),
      |reach(a, b) AS (SELECT a, b FROM usym
      |  UNION SELECT r.a, s.b FROM reach r JOIN usym s ON r.b = s.a),
      |cl AS (SELECT a AS node, least(a, min(b)) AS component
      |  FROM reach GROUP BY a),
      |sz AS (SELECT component, count(*) AS component_size FROM cl GROUP BY 1)
      |SELECT cl.node AS s_suppkey, cl.component, sz.component_size
      |FROM cl JOIN sz USING (component)""".stripMargin

  // ---------------------------------------------------------------- M20
  /** Panel closeness centrality + eccentricity over the mutual-kNN
    * supplier graph — the "who sits in the MIDDLE of the network"
    * ranking that complements M10's eigencentrality (influence by
    * association) with pure distance: C(v) = reachable(v) / Σ d(v,·),
    * plus per-source eccentricity (whose panel-max lower-bounds the
    * diameter). Sources are a DETERMINISTIC [[ClosenessPanel]]-node
    * sample (smallest md5-ranked nodes — the D1 panel device): exact
    * all-pairs closeness is Θ(|V|·|component|) rows, the quadratic
    * that dies first at 100 TB (measured: the all-sources form ran
    * 8→18 s at sf0.1→0.3 and did not finish sf1's 10k-node graph in
    * minutes; sampled sources IS how web-scale closeness is computed
    * — the ANF/HyperBall lineage). Work: synchronous multi-source BFS
    * from the panel — per hop ONE frontier ⋈ edges join, a distinct,
    * and an anti-join against the visited set (Pregel-as-DataFrames,
    * severed checkpoints per hop) — O(panel · V) rows total, hop
    * count bounded by the diameter. Both engines cap exploration at
    * [[MaxHops]] with IDENTICAL semantics (beyond = unreachable), so
    * parity can never hinge on a pathological chain; the spec pins
    * the observed eccentricities far below the cap. All published
    * cells are exact integers except the ONE closeness division
    * (6 dp). kNN-graph-scale work only — the corpus is never touched
    * past the shared GraphStore derivation.
    */
  val MaxHops = 64
  val ClosenessPanel = 64

  /** Shared panel-BFS: (panel nodes, dist rows (a = panel source,
    * b = node, d = exact hop distance)) — the engine behind M20/M21.
    * Severed checkpoints per hop (see the sever note inline); the
    * returned frames are materialize-once leaves safe to join freely.
    */
  private def panelBfs(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val und = mutualKnnPairs(spark, dir)
    // materialize AND sever lineage/constraints completely: a BFS
    // loop unions checkpointed frames that chain-derive from each
    // other, and localCheckpoint alone preserves attribute ids +
    // origin constraints, which breaks Union.rewriteConstraints
    // (key-not-found on a stale exprId). internalCreateDataFrame over
    // the checkpointed RDD mints a clean leaf each hop.
    def sever(df: DataFrame): DataFrame =
      org.apache.spark.sql.GraftBridge.severedLeaf(df)
    val sym = sever(und.select(col("src"), col("dst"))
      .unionAll(und.select(col("dst").as("src"), col("src").as("dst"))))
    val panel = sever(sym.select(col("src")).distinct()
      .orderBy(expr("md5(cast(src as string))").asc, col("src").asc)
      .limit(ClosenessPanel))
    var dist = sever(sym.join(panel, Seq("src"))
      .select(col("src").as("a"), col("dst").as("b"))
      .withColumn("d", lit(1)))
    var frontier = dist
    var depth = 1
    while (depth < MaxHops && !frontier.isEmpty) {
      // alias both sides: on the first hop frontier IS dist (same
      // severed plan), so an unaliased anti-join self-joins
      val next = sever(frontier.as("f")
        .join(sym.as("e"), col("f.b") === col("e.src"))
        .select(col("f.a").as("a"), col("e.dst").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
        .as("n")
        .join(dist.as("v"),
          col("n.a") === col("v.a") && col("n.b") === col("v.b"), "left_anti"))
        .withColumn("d", lit(depth + 1))
      // visited = LAZY union of the severed per-hop leaves: only the
      // new frontier materializes each hop — re-checkpointing the
      // whole visited set per hop rewrites O(diameter × pairs) rows
      // (measured 10.9 s at sf0.1; this shape runs the same BFS on
      // materialize-once leaves)
      dist = dist.unionAll(next)
      frontier = next
      depth += 1
      if (sys.props.contains("graft.close.debug"))
        println(f"== hop $depth frontier=${next.count()}")
    }
    (panel.withColumnRenamed("src", "p"), dist)
  }

  def qCloseness(spark: SparkSession, dir: String): DataFrame = {
    val (_, dist) = panelBfs(spark, dir)
    dist.groupBy(col("a").as("s_suppkey"))
      .agg(count(lit(1)).as("n_reachable"),
        sum(col("d")).as("total_dist"),
        max(col("d")).as("eccentricity"))
      .withColumn("closeness",
        round(col("n_reachable").cast("double") / col("total_dist"), 6))
  }

  // ---------------------------------------------------------------- M21
  /** Shortest-path coverage centrality over panel pairs — the
    * exact-integer indicator form of betweenness: node v MEDIATES the
    * pair (s, t) iff d(s,v) + d(v,t) = d(s,t) (v sits on at least one
    * shortest s–t path), and the centrality is the count of mediated
    * panel pairs. Full Brandes betweenness weights each pair by
    * σ_st(v)/σ_st — a ratio whose cross-pair sum is an unordered
    * double accumulation no engine pair reproduces bit-for-bit; the
    * coverage COUNT keeps the same "who brokers the network" ranking
    * signal in pure integers (plus the one 6-dp share division), the
    * q_hbos exact-ordering discipline applied to graph centrality.
    * Rides the SAME [[panelBfs]] dist table as M20 (undirected
    * symmetry: d(t,v) = d(v,t), so both legs come from one frame):
    * panel-pair distances are the dist rows landing on panel nodes;
    * the mediation join is (panel² pairs) × V — linear in the graph,
    * never quadratic. Endpoints are excluded naturally (d(v,v) has no
    * row). Emits every node mediating ≥ 1 connected panel pair.
    */
  def qPathCentrality(spark: SparkSession, dir: String): DataFrame = {
    val (panel, dist) = panelBfs(spark, dir)
    val pp = dist.join(panel, dist("b") === panel("p"))
      .filter(col("a") < col("b"))
      .select(col("a").as("s"), col("b").as("t"), col("d").as("dst"))
    val npairs = pp.agg(count(lit(1)).as("n_pairs_total"))
    val cov = pp
      .join(dist.as("x"), col("x.a") === col("s"))
      .join(dist.as("y"),
        col("y.a") === col("t") && col("y.b") === col("x.b"))
      .filter(col("x.d") + col("y.d") === col("dst"))
      .groupBy(col("x.b").as("s_suppkey"))
      .agg(count(lit(1)).as("n_pairs_covered"))
    cov.crossJoin(broadcast(npairs))
      .select(col("s_suppkey"), col("n_pairs_covered"), col("n_pairs_total"),
        round(col("n_pairs_covered").cast("double") / col("n_pairs_total"), 6)
          .as("coverage"))
  }

  val qPathCentralitySql: String =
    s"""WITH RECURSIVE $mutKnnSql,
      |usym AS (SELECT src AS a, dst AS b FROM und
      |  UNION ALL SELECT dst, src FROM und),
      |panel AS (SELECT a FROM (SELECT DISTINCT a FROM usym)
      |  ORDER BY md5(CAST(a AS VARCHAR)) ASC, a ASC LIMIT $ClosenessPanel),
      |reach(a, b, d) AS (SELECT a, b, 1 FROM usym
      |    WHERE a IN (SELECT a FROM panel)
      |  UNION SELECT r.a, s.b, r.d + 1 FROM reach r JOIN usym s ON r.b = s.a
      |    WHERE r.d < $MaxHops AND r.a <> s.b),
      |dist AS (SELECT a, b, min(d) AS d FROM reach GROUP BY a, b),
      |pp AS (SELECT a AS s, b AS t, d AS dst FROM dist
      |  WHERE b IN (SELECT a FROM panel) AND a < b),
      |npairs AS (SELECT count(*) AS n_pairs_total FROM pp),
      |cov AS (SELECT x.b AS s_suppkey, count(*) AS n_pairs_covered
      |  FROM pp JOIN dist x ON x.a = pp.s
      |  JOIN dist y ON y.a = pp.t AND y.b = x.b
      |  WHERE x.d + y.d = pp.dst GROUP BY 1)
      |SELECT s_suppkey, n_pairs_covered, n_pairs_total,
      |  round(CAST(n_pairs_covered AS DOUBLE) / n_pairs_total, 6) AS coverage
      |FROM cov, npairs""".stripMargin

  val qClosenessSql: String =
    s"""WITH RECURSIVE $mutKnnSql,
      |usym AS (SELECT src AS a, dst AS b FROM und
      |  UNION ALL SELECT dst, src FROM und),
      |panel AS (SELECT a FROM (SELECT DISTINCT a FROM usym)
      |  ORDER BY md5(CAST(a AS VARCHAR)) ASC, a ASC LIMIT $ClosenessPanel),
      |reach(a, b, d) AS (SELECT a, b, 1 FROM usym
      |    WHERE a IN (SELECT a FROM panel)
      |  UNION SELECT r.a, s.b, r.d + 1 FROM reach r JOIN usym s ON r.b = s.a
      |    WHERE r.d < $MaxHops AND r.a <> s.b),
      |dist AS (SELECT a, b, min(d) AS d FROM reach GROUP BY a, b)
      |SELECT a AS s_suppkey, count(*) AS n_reachable,
      |  CAST(sum(d) AS BIGINT) AS total_dist,
      |  max(d) AS eccentricity,
      |  round(CAST(count(*) AS DOUBLE) / sum(d), 6) AS closeness
      |FROM dist GROUP BY a""".stripMargin

  // ---------------------------------------------------------------- M9
  /** Community-cut quality: conductance of each kNN label-prop
    * community — the readout that tells you whether M4k's communities
    * are REAL (a partition is only as good as its cuts: conductance
    * φ(C) = boundary / min(vol(C), 2m − vol(C)) near 0 means a
    * well-separated module, near 1 a random slice). Every input is
    * bounded by the kNN dial: edges ≤ |V|·K/2, the label frame is
    * |V| rows, and the whole computation is two keyed joins (edge →
    * endpoint labels) + three community-keyed aggregates — exact
    * integer edge accounting end to end, one 6-dp division per
    * community at publish. The community assignment is the SAME
    * 3-round propagation M4k publishes ([[labelPropagate]] /
    * the shared `labelPropCtes` chain) so the two queries are
    * definitionally consistent. Singleton-or-total communities where
    * min(vol, 2m−vol) = 0 publish null, not a divide error.
    */
  def qCommunityConductance(spark: SparkSession, dir: String): DataFrame = {
    val mutual = mutualKnnPairs(spark, dir)
    val lbl = labelPropagate(mutual, rounds = 3)
    val e = mutual
      .join(lbl.select(col("node").as("src"), col("lbl").as("cs")), "src")
      .join(lbl.select(col("node").as("dst"), col("lbl").as("cd")), "dst")
      .select(col("cs"), col("cd"))
    val internal = e.filter(col("cs") === col("cd"))
      .groupBy(col("cs").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    val boundary = e.filter(col("cs") =!= col("cd"))
      .select(explode(array(col("cs"), col("cd"))).as("community"))
      .groupBy(col("community")).agg(count(lit(1)).as("boundary_edges"))
    val size = lbl.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("community_size"))
    val m = mutual.agg(count(lit(1)).as("m"))
    val joined = size
      .join(internal, Seq("community"), "left")
      .join(boundary, Seq("community"), "left")
      .na.fill(0L, Seq("internal_edges", "boundary_edges"))
      .crossJoin(broadcast(m))
      .withColumn("vol", lit(2) * col("internal_edges") + col("boundary_edges"))
      .withColumn("den", least(col("vol"), lit(2) * col("m") - col("vol")))
    joined.select(col("community"), col("community_size"),
      col("internal_edges"), col("boundary_edges"),
      when(col("den") <= 0, lit(null).cast("double"))
        .otherwise(round(col("boundary_edges").cast("double") / col("den"), 6))
        .as("conductance"))
  }

  val qCommunityConductanceSql: String =
    s"""WITH ${labelPropCtes(mutKnnSql)},
      |eb AS (SELECT a.lbl AS cs, b.lbl AS cd FROM und u
      |  JOIN l3 a ON u.src = a.node JOIN l3 b ON u.dst = b.node),
      |internal AS (SELECT cs AS community, count(*) AS internal_edges
      |  FROM eb WHERE cs = cd GROUP BY 1),
      |bnd AS (SELECT community, count(*) AS boundary_edges FROM (
      |    SELECT cs AS community FROM eb WHERE cs <> cd
      |    UNION ALL SELECT cd FROM eb WHERE cs <> cd)
      |  GROUP BY 1),
      |sz AS (SELECT lbl AS community, count(*) AS community_size
      |  FROM l3 GROUP BY 1),
      |tot AS (SELECT count(*) AS m FROM und),
      |acc AS (SELECT sz.community, sz.community_size,
      |    coalesce(internal.internal_edges, 0) AS internal_edges,
      |    coalesce(bnd.boundary_edges, 0) AS boundary_edges,
      |    2 * coalesce(internal.internal_edges, 0)
      |      + coalesce(bnd.boundary_edges, 0) AS vol, m
      |  FROM sz LEFT JOIN internal USING (community)
      |  LEFT JOIN bnd USING (community), tot)
      |SELECT community, community_size, internal_edges, boundary_edges,
      |  CASE WHEN least(vol, 2 * m - vol) <= 0 THEN NULL
      |    ELSE round(CAST(boundary_edges AS DOUBLE)
      |      / least(vol, 2 * m - vol), 6) END AS conductance
      |FROM acc""".stripMargin

  // ---------------------------------------------------------------- M10
  /** Eigenvector centrality over the mutual-kNN graph — the
    * influence measure PageRank's damping deliberately distorts:
    * PageRank's teleport term floors every node at 0.15/n, so a
    * peripheral node with one well-connected neighbor and a core node
    * of a dense cluster compress toward each other; the undamped
    * principal eigenvector keeps the full dynamic range (a node's
    * score IS the degree-weighted recursive sum of its neighbors').
    * Three power iterations with L∞ normalization (divide by the
    * iterate's max — a max of identically-rounded values is
    * engine-exact, unlike an L2 norm whose Σx² reintroduces
    * summation-order ulps), each iterate rounded at 10 dp so both
    * engines iterate on identical IEEE inputs (the M1 device).
    * Bounded-degree input: each iteration's edges⋈scores join touches
    * ≤ |V|·K rows at ANY scale; the iterated frame is |V| rows.
    */
  def qEigencentrality(spark: SparkSession, dir: String): DataFrame = {
    val und = mutualKnnPairs(spark, dir)
    val edges = und.union(und.select(col("dst").as("src"),
      col("src").as("dst"))).cache()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("degree")).cache()
    var x = deg.select(col("src").as("node"), lit(1.0).as("score"))
    // Each iterate is CACHED before the max-aggregate reads it: the
    // normalizer references the iterate a second time, and without a
    // cache boundary that doubles the uncached lineage per iteration —
    // 2^3 recomputations of the edge join by iteration 3 (measured
    // 160 s vs the ~26 s kNN-family band at sf1). The cached frame is
    // |V| rows — negligible residency, released after materialization.
    val iterates = scala.collection.mutable.Buffer.empty[DataFrame]
    for (_ <- 1 to 3) {
      val raw = edges.join(x, edges("src") === x("node"))
        .select(col("dst"), col("score"))
        .groupBy(col("dst")).agg(sum(col("score")).as("s"))
        .cache()
      iterates += raw
      val mx = raw.agg(max(col("s")).as("mx"))
      x = raw.crossJoin(broadcast(mx))
        .select(col("dst").as("node"), round(col("s") / col("mx"), 10).as("score"))
    }
    val out = x.join(deg, x("node") === deg("src"))
      .select(col("node").as("s_suppkey"), col("degree"),
        round(col("score"), 6).as("centrality"))
      .cache()
    out.count()
    iterates.foreach(_.unpersist())
    deg.unpersist(); edges.unpersist()
    out
  }

  val qEigencentralitySql: String =
    s"""WITH $mutKnnSql,
      |edges AS MATERIALIZED (SELECT src, dst FROM und
      |  UNION ALL SELECT dst, src FROM und),
      |deg AS MATERIALIZED (SELECT src AS node, count(*) AS degree
      |  FROM edges GROUP BY 1),
      |x0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS score FROM deg),
      |s1 AS (SELECT e.dst AS node, sum(x.score) AS s
      |  FROM edges e JOIN x0 x ON e.src = x.node GROUP BY 1),
      |x1 AS (SELECT node, round(s / (SELECT max(s) FROM s1), 10) AS score
      |  FROM s1),
      |s2 AS (SELECT e.dst AS node, sum(x.score) AS s
      |  FROM edges e JOIN x1 x ON e.src = x.node GROUP BY 1),
      |x2 AS (SELECT node, round(s / (SELECT max(s) FROM s2), 10) AS score
      |  FROM s2),
      |s3 AS (SELECT e.dst AS node, sum(x.score) AS s
      |  FROM edges e JOIN x2 x ON e.src = x.node GROUP BY 1),
      |x3 AS (SELECT node, round(s / (SELECT max(s) FROM s3), 10) AS score
      |  FROM s3)
      |SELECT x3.node AS s_suppkey, deg.degree,
      |  round(x3.score, 6) AS centrality
      |FROM x3 JOIN deg ON x3.node = deg.node""".stripMargin

  // ---------------------------------------------------------------- M22
  /** HITS hubs & authorities (Kleinberg 1999, 3 iterations) over the
    * DIRECTED top-K selection graph — the one genuinely asymmetric
    * graph in the corpus (src ranked dst top-K; dst may not
    * reciprocate), where M10's eigencentrality is blind: a HUB is a
    * supplier whose chosen partners are widely chosen (a good
    * "selector"), an AUTHORITY one that many selectors converge on.
    * Same fixed-point device as M10: each half-step is one edges⋈
    * scores join + one keyed aggregate, normalized by max and rounded
    * to 10 dp so both engines iterate on identical IEEE inputs
    * (published at 6 dp). Each iterate caches before its max-
    * aggregate reads it (the M10 lineage lesson). Directed top-K
    * bounds out-degree at K, so every join is |V|·K rows at any
    * corpus size; nodes nobody selects publish authority 0.
    */
  def qHits(spark: SparkSession, dir: String): DataFrame = {
    // persisted directed top-K artifact (GraphStore third table,
    // r15) + per-half-step checkpoints (the q_ann_nsw lesson, which
    // this op re-learned in r15 dev): each half-step references its
    // iterate twice (max normalizer + the scores themselves), so an
    // unsevered loop doubles the LOGICAL plan per half-step — 2⁶
    // copies of the deep co-supply derivation by iteration 3, and
    // Catalyst analysis time, not execution, was 95% of a 106 s
    // bench entry (fixed: ~4 s cold at scratch sf0.1 on the store)
    val edges = GraphStore.knnDirected(spark, dir)
    val nodes = edges.select(col("src").as("node")).distinct()
    val degs = edges.groupBy(col("src")).agg(count(lit(1)).as("out_degree"))
      .join(edges.groupBy(col("dst").as("src"))
        .agg(count(lit(1)).as("in_degree")),
        Seq("src"), "full_outer")
      .select(col("src").as("node"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
    var h = nodes.select(col("node"), lit(1.0).as("score"))
    var a: DataFrame = null
    for (_ <- 1 to 3) {
      val aRaw = edges.join(h, edges("src") === h("node"))
        .groupBy(col("dst")).agg(sum(col("score")).as("s"))
        .localCheckpoint()
      val aMax = aRaw.agg(max(col("s")).as("mx"))
      a = aRaw.crossJoin(broadcast(aMax))
        .select(col("dst").as("node"),
          round(col("s") / col("mx"), 10).as("score"))
      val hRaw = edges.join(a, edges("dst") === a("node"))
        .groupBy(col("src")).agg(sum(col("score")).as("s"))
        .localCheckpoint()
      val hMax = hRaw.agg(max(col("s")).as("mx"))
      h = hRaw.crossJoin(broadcast(hMax))
        .select(col("src").as("node"),
          round(col("s") / col("mx"), 10).as("score"))
    }
    degs
      .join(h.withColumnRenamed("score", "hub"), Seq("node"), "left")
      .join(a.withColumnRenamed("score", "authority"), Seq("node"), "left")
      .select(col("node").as("s_suppkey"), col("out_degree"),
        col("in_degree"),
        round(coalesce(col("hub"), lit(0.0)), 6).as("hub"),
        round(coalesce(col("authority"), lit(0.0)), 6).as("authority"))
  }

  val qHitsSql: String =
    s"""WITH e0 AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
      |pw AS (SELECT a.sk AS src, b.sk AS dst, count(*) AS w
      |  FROM e0 a JOIN e0 b ON a.pk = b.pk AND a.sk < b.sk
      |  GROUP BY 1, 2),
      |sym AS (SELECT src, dst, w FROM pw
      |  UNION ALL SELECT dst, src, w FROM pw),
      |edges AS MATERIALIZED (SELECT src, dst FROM (SELECT src, dst,
      |    row_number() OVER (PARTITION BY src ORDER BY w DESC, dst ASC)
      |      AS rank FROM sym) z
      |  WHERE rank <= $KnnK),
      |nodes AS (SELECT DISTINCT src AS node FROM edges),
      |degs AS (SELECT COALESCE(o.node, i.node) AS node,
      |    COALESCE(o.d, 0) AS out_degree, COALESCE(i.d, 0) AS in_degree
      |  FROM (SELECT src AS node, count(*) AS d FROM edges GROUP BY 1) o
      |  FULL OUTER JOIN (SELECT dst AS node, count(*) AS d FROM edges
      |    GROUP BY 1) i ON o.node = i.node),
      |h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS score FROM nodes),
      |a1r AS (SELECT e.dst AS node, sum(h.score) AS s
      |  FROM edges e JOIN h0 h ON e.src = h.node GROUP BY 1),
      |a1 AS (SELECT node, round(s / (SELECT max(s) FROM a1r), 10) AS score
      |  FROM a1r),
      |h1r AS (SELECT e.src AS node, sum(a.score) AS s
      |  FROM edges e JOIN a1 a ON e.dst = a.node GROUP BY 1),
      |h1 AS (SELECT node, round(s / (SELECT max(s) FROM h1r), 10) AS score
      |  FROM h1r),
      |a2r AS (SELECT e.dst AS node, sum(h.score) AS s
      |  FROM edges e JOIN h1 h ON e.src = h.node GROUP BY 1),
      |a2 AS (SELECT node, round(s / (SELECT max(s) FROM a2r), 10) AS score
      |  FROM a2r),
      |h2r AS (SELECT e.src AS node, sum(a.score) AS s
      |  FROM edges e JOIN a2 a ON e.dst = a.node GROUP BY 1),
      |h2 AS (SELECT node, round(s / (SELECT max(s) FROM h2r), 10) AS score
      |  FROM h2r),
      |a3r AS (SELECT e.dst AS node, sum(h.score) AS s
      |  FROM edges e JOIN h2 h ON e.src = h.node GROUP BY 1),
      |a3 AS (SELECT node, round(s / (SELECT max(s) FROM a3r), 10) AS score
      |  FROM a3r),
      |h3r AS (SELECT e.src AS node, sum(a.score) AS s
      |  FROM edges e JOIN a3 a ON e.dst = a.node GROUP BY 1),
      |h3 AS (SELECT node, round(s / (SELECT max(s) FROM h3r), 10) AS score
      |  FROM h3r)
      |SELECT d.node AS s_suppkey, d.out_degree, d.in_degree,
      |  round(COALESCE(h3.score, 0.0), 6) AS hub,
      |  round(COALESCE(a3.score, 0.0), 6) AS authority
      |FROM degs d LEFT JOIN h3 ON d.node = h3.node
      |LEFT JOIN a3 ON d.node = a3.node""".stripMargin

  // ---------------------------------------------------------------- M24
  /** Reciprocity of the DIRECTED top-K selection graph — the one-line
    * summary of how much of M22's asymmetry is real: what fraction of
    * "a ranks b top-K" choices does b return? The M5 mutual-kNN graph
    * is exactly the reciprocal SUBSET of this relation, so this
    * statistic is the bridge between the two stored graphs (at
    * reciprocity 1 they coincide; near 0 the mutual graph vanishes) —
    * and the standard first diagnostic on any directed selection
    * network. Rides the persisted GraphStore artifact; the reciprocal
    * count is ONE self-join on the (src, dst)↔(dst, src) key pair —
    * |V|·K rows a side at any corpus size (out-degree is bounded by
    * K), one shuffle. Counts exact; the rate is one double division.
    */
  def qReciprocity(spark: SparkSession, dir: String): DataFrame = {
    val edges = GraphStore.knnDirected(spark, dir).select(col("src"), col("dst"))
    val rec = edges.as("a").join(edges.as("b"),
      col("a.src") === col("b.dst") && col("a.dst") === col("b.src"),
      "left_semi")
    val nr = rec.agg(count(lit(1)).as("n_reciprocal"))
    edges.agg(countDistinct(col("src")).as("n_nodes"),
        count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(nr))
      .select(col("n_nodes"), col("n_edges"), col("n_reciprocal"),
        round(col("n_reciprocal").cast("double") /
          col("n_edges").cast("double"), 6).as("reciprocity"))
  }

  val qReciprocitySql: String =
    s"""WITH e0 AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
      |pw AS (SELECT a.sk AS src, b.sk AS dst, count(*) AS w
      |  FROM e0 a JOIN e0 b ON a.pk = b.pk AND a.sk < b.sk
      |  GROUP BY 1, 2),
      |sym AS (SELECT src, dst, w FROM pw
      |  UNION ALL SELECT dst, src, w FROM pw),
      |edges AS MATERIALIZED (SELECT src, dst FROM (SELECT src, dst,
      |    row_number() OVER (PARTITION BY src ORDER BY w DESC, dst ASC)
      |      AS rank FROM sym) z
      |  WHERE rank <= $KnnK),
      |nr AS (SELECT count(*) AS n_reciprocal FROM edges a
      |  WHERE EXISTS (SELECT 1 FROM edges b
      |    WHERE a.src = b.dst AND a.dst = b.src)),
      |tot AS (SELECT count(DISTINCT src) AS n_nodes, count(*) AS n_edges
      |  FROM edges)
      |SELECT n_nodes, n_edges, n_reciprocal,
      |  round(CAST(n_reciprocal AS DOUBLE) / CAST(n_edges AS DOUBLE), 6)
      |    AS reciprocity
      |FROM tot, nr""".stripMargin

  // ---------------------------------------------------------------- M25
  /** Bipartite substrate audit — the part↔supplier incidence graph
    * every M-block projection derives from (co-supply = its one-mode
    * projection), profiled directly: node counts on both sides, edge
    * count, density, and the degree spread per side. The numbers
    * that predict projection cost BEFORE building it (a hot part of
    * degree d contributes d(d−1)/2 co-supply pairs — max_part_degree
    * is the skew early-warning the H5 report gives for join keys,
    * here for the graph build). One distinct pass over (part,
    * supplier) then two keyed degree aggregates folded to one row;
    * everything exact integers + single divisions.
    */
  def qBipartiteStats(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    // the distinct pass is the whole bill — cache it for its two
    // degree consumers (uncached, each re-ran scan + distinct: 8
    // exchanges); n_edges folds from the part-degree sum for free
    val e0 = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .distinct()
      .cache()
    e0.count() // materialize before the two-consumer fan-out
    val pd = e0.groupBy(col("pk")).agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n_parts"), max(col("d")).as("max_part_degree"),
        sum(col("d").cast(d38)).cast("long").as("n_edges"),
        sum((col("d") * (col("d") - 1)).cast(d38)).cast("string")
          .as("proj_pairs_x2"))
    val sd = e0.groupBy(col("sk")).agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n_suppliers"), max(col("d")).as("max_supp_degree"))
    val out = pd.crossJoin(broadcast(sd))
      .select(col("n_parts"), col("n_suppliers"), col("n_edges"),
        round(col("n_edges").cast("double") /
          (col("n_parts").cast("double") * col("n_suppliers").cast("double")),
          6).as("density"),
        col("max_part_degree"), col("max_supp_degree"),
        // Σd(d−1) over parts = 2× the co-supply pair multiset the
        // one-mode projection generates — the projection cost bound,
        // published as digit VARCHAR (quadratic in degree, wraps
        // int64 on hub-heavy graphs)
        col("proj_pairs_x2"))
      .cache()
    out.count()
    e0.unpersist()
    out
  }

  val qBipartiteStatsSql: String =
    """WITH e0 AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
      |  FROM lineitem),
      |pd AS (SELECT count(*) AS n_parts, max(d) AS max_part_degree,
      |    CAST(sum(CAST(d AS HUGEINT) * (d - 1)) AS VARCHAR)
      |      AS proj_pairs_x2
      |  FROM (SELECT pk, count(*) AS d FROM e0 GROUP BY 1)),
      |sd AS (SELECT count(*) AS n_suppliers, max(d) AS max_supp_degree
      |  FROM (SELECT sk, count(*) AS d FROM e0 GROUP BY 1)),
      |ne AS (SELECT count(*) AS n_edges FROM e0)
      |SELECT n_parts, n_suppliers, n_edges,
      |  round(CAST(n_edges AS DOUBLE)
      |    / (CAST(n_parts AS DOUBLE) * CAST(n_suppliers AS DOUBLE)), 6)
      |    AS density,
      |  max_part_degree, max_supp_degree, proj_pairs_x2
      |FROM ne, pd, sd""".stripMargin

  // ---------------------------------------------------------------- M26
  /** Gini coefficient of the mutual-kNN degree distribution — hub
    * concentration as ONE number (M7 publishes the distribution,
    * M12's rich-club asks how hubs interconnect; this asks how
    * unequal connectivity is at all — the first summary a topology
    * review reads, and the L8 inequality device applied to graph
    * structure). Degrees are bounded by K (the mutual-kNN cap), so
    * the sorted-rank Gini folds off a ≤K-row degree HISTOGRAM with
    * exact tie algebra — value d, count m, cumulative c below:
    * Σ2·i·x over the tie run = d·m·(2c+m+1) — and
    * G = (iws2 − (n+1)·Σd)/(n·Σd) is ONE double division of exact
    * DECIMAL folds. Rides the persisted GraphStore; bounded
    * everywhere after the degree aggregate.
    */
  def qDegreeGini(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val edges = GraphStore.knn(spark, dir)
    val deg = edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val hist = deg.groupBy(col("d")).agg(count(lit(1)).as("m"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("d"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = hist.withColumn("c", coalesce(sum(col("m")).over(w), lit(0L)))
    cum.agg(sum(col("m")).cast("long").as("n_nodes"),
        sum(col("d").cast(d38) * col("m")).as("tot"),
        sum(col("d").cast(d38) * col("m") *
          (lit(2) * col("c") + col("m") + 1)).as("iws2"))
      .select(col("n_nodes"), col("tot").cast("long").as("total_degree"),
        round((col("iws2").cast("double") -
          (col("n_nodes") + 1).cast("double") * col("tot").cast("double")) /
          (col("n_nodes").cast("double") * col("tot").cast("double")), 6)
          .as("degree_gini"))
  }

  // def, not val: interpolates mutKnnSql (the shared M-block device)
  def qDegreeGiniSql: String =
    s"""WITH $mutKnnSql,
      |deg AS (SELECT node, count(*) AS d FROM (
      |    SELECT src AS node FROM und UNION ALL SELECT dst FROM und)
      |  GROUP BY 1),
      |hist AS (SELECT d, count(*) AS m FROM deg GROUP BY 1),
      |cum AS (SELECT d, m, coalesce(sum(m) OVER (ORDER BY d
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
      |  FROM hist),
      |agg AS (SELECT CAST(sum(m) AS BIGINT) AS n_nodes,
      |    sum(CAST(d AS HUGEINT) * m) AS tot,
      |    sum(CAST(d AS HUGEINT) * m * (2 * c + m + 1)) AS iws2
      |  FROM cum)
      |SELECT n_nodes, CAST(tot AS BIGINT) AS total_degree,
      |  round((CAST(iws2 AS DOUBLE)
      |    - (CAST(n_nodes AS DOUBLE) + 1) * CAST(tot AS DOUBLE))
      |    / (CAST(n_nodes AS DOUBLE) * CAST(tot AS DOUBLE)), 6)
      |    AS degree_gini
      |FROM agg""".stripMargin

  // ---------------------------------------------------------------- M11
  /** Degree assortativity of the mutual-kNN graph — Newman's r, the
    * one-number answer to "do well-connected suppliers co-supply with
    * other well-connected suppliers (r > 0) or with periphery
    * (r < 0)?". Computed as the Pearson correlation of
    * (degree(src), degree(dst)) over the SYMMETRIC directed edge
    * list — the standard ordered-pair convention, which makes the
    * estimator a plain correlation over 2|E| rows with no unordered
    * half-weighting. kNN input bounds degree at K, so every moment
    * sum is an exact small-integer aggregate (jk ≤ K², overflow-free
    * at any scale); doubles appear only in the final verdict
    * division. One |V|-row degree aggregate + one self-join of the
    * bounded edge list + one scalar aggregate; 1 output row.
    */
  // ---------------------------------------------------------------- M23
  /** Moran's I spatial autocorrelation of supplier account balances
    * over the mutual-kNN co-supply graph — the VALUE-similarity axis
    * the structural M-block misses: M16 (assortativity) asks "do
    * high-degree nodes connect to high-degree nodes", Moran asks "do
    * connected suppliers carry similar BALANCES" — the graph-signal
    * smoothness readout behind every graph-feature-propagation
    * decision (a high I says neighbor aggregation is informative; I
    * near E[I] = −1/(n−1) says the graph carries no signal for this
    * attribute). Binary symmetric weights (the edge set itself).
    * Engine-exact device: deviations center WITHOUT a float mean —
    * zz = n·x − Σx is exact, then µ-quantizes at 10³ resolution via
    * the sign-split half-up DIV (zk ≈ 10³·(x − x̄); exact long,
    * |zk| ≤ 10³·max|x| so Σ zk_u·zk_v over |V|·K edges stays inside
    * DECIMAL(38,0) at any corpus); I = n·Σ_edges 2·zk_u·zk_v /
    * (2E · Σ zk²) assembles as ONE fixed-order double expression.
    * Verdict: `clustered` ⟺ 6-dp I > 6-dp E[I].
    */
  def qMoranI(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val und = mutualKnnPairs(spark, dir)
    val bal = Tables.supplier(spark, dir)
      .select(col("s_suppkey").as("node"),
        round(col("s_acctbal") * 100).cast("long").as("x"))
    val nodes = und.select(col("src").as("node"))
      .union(und.select(col("dst").as("node"))).distinct()
      .join(bal, "node")
    val tot = nodes.agg(count(lit(1)).cast("long").as("n"),
      sum(col("x")).cast("long").as("sx"))
    // zk = half-up 10³·(n·x − Σx)/n, sign-split (exact long)
    val zk = nodes.crossJoin(broadcast(tot))
      .withColumn("zz", (col("x").cast(d38) * col("n") -
        col("sx")).cast(d38))
      .withColumn("zk", expr(
        """CASE WHEN zz >= 0
          | THEN (2 * 1000 * zz + n) DIV (2 * CAST(n AS DECIMAL(38,0)))
          | ELSE -((2 * 1000 * (-zz) + n) DIV (2 * CAST(n AS DECIMAL(38,0))))
          | END""".stripMargin.replace("\n", " ")).cast("long"))
      .select(col("node"), col("zk")).cache()
    val num = und
      .join(zk.select(col("node").as("src"), col("zk").as("zu")), "src")
      .join(zk.select(col("node").as("dst"), col("zk").as("zv")), "dst")
      .agg(count(lit(1)).cast("long").as("n_edges"),
        sum((col("zu").cast(d38) * col("zv")).cast(d38) * 2).as("num"))
    val den = zk.agg(sum((col("zk").cast(d38) * col("zk")).cast(d38))
      .as("den"))
    val out = num.crossJoin(broadcast(den)).crossJoin(broadcast(tot))
      .select(col("n").as("n_nodes"), col("n_edges"),
        round(col("n").cast("double") * col("num").cast("double") /
          (col("n_edges").cast("double") * 2 * col("den").cast("double")),
          6).as("moran_i"),
        round(lit(-1.0) / (col("n").cast("double") - 1), 6).as("e_i"))
      .withColumn("clustered", col("moran_i") > col("e_i"))
      .cache()
    out.count()
    zk.unpersist()
    out
  }

  val qMoranISql: String =
    s"""WITH $mutKnnSql,
      |bal AS (SELECT s_suppkey AS node,
      |    CAST(round(s_acctbal * 100) AS BIGINT) AS x FROM supplier),
      |nodes AS MATERIALIZED (SELECT node, x FROM (
      |    SELECT DISTINCT node FROM (
      |      SELECT src AS node FROM und UNION ALL SELECT dst FROM und))
      |  JOIN bal USING (node)),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx FROM nodes),
      |zk AS MATERIALIZED (SELECT node,
      |    CAST(CASE WHEN CAST(x AS HUGEINT) * n - sx >= 0
      |      THEN (2 * 1000 * (CAST(x AS HUGEINT) * n - sx) + n)
      |        // (2 * CAST(n AS HUGEINT))
      |      ELSE -((2 * 1000 * (sx - CAST(x AS HUGEINT) * n) + n)
      |        // (2 * CAST(n AS HUGEINT))) END AS BIGINT) AS zk
      |  FROM nodes, tot),
      |num AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
      |    sum(CAST(a.zk AS HUGEINT) * b.zk * 2) AS num
      |  FROM und JOIN zk a ON und.src = a.node
      |  JOIN zk b ON und.dst = b.node),
      |den AS (SELECT sum(CAST(zk AS HUGEINT) * zk) AS den FROM zk)
      |SELECT n AS n_nodes, n_edges,
      |  round(CAST(n AS DOUBLE) * CAST(num AS DOUBLE)
      |    / (CAST(n_edges AS DOUBLE) * 2 * CAST(den AS DOUBLE)), 6)
      |    AS moran_i,
      |  round(-1.0 / (CAST(n AS DOUBLE) - 1), 6) AS e_i,
      |  (round(CAST(n AS DOUBLE) * CAST(num AS DOUBLE)
      |    / (CAST(n_edges AS DOUBLE) * 2 * CAST(den AS DOUBLE)), 6)
      |   > round(-1.0 / (CAST(n AS DOUBLE) - 1), 6)) AS clustered
      |FROM num, den, tot""".stripMargin

  def qAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val und = mutualKnnPairs(spark, dir)
    val edges = und.union(und.select(col("dst").as("src"),
      col("src").as("dst"))).cache()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("degree")).cache()
    val pairs = edges
      .join(deg.select(col("src"), col("degree").as("j")), "src")
      .join(deg.select(col("src").as("dst"), col("degree").as("k")), "dst")
    val out = pairs.agg(
        count(lit(1)).as("m"),
        sum(col("j")).as("sj"), sum(col("k")).as("sk"),
        sum(col("j") * col("k")).as("sjk"),
        sum(col("j") * col("j")).as("sjj"),
        sum(col("k") * col("k")).as("skk"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"),
        sum(col("degree")).cast("long").as("sd"))))
      .select(col("n_nodes"), expr("m DIV 2").as("n_edges"),
        round(col("sd").cast("double") / col("n_nodes"), 6).as("mean_degree"),
        round(
          (col("sjk").cast("double") / col("m")
            - col("sj").cast("double") * col("sk") / col("m") / col("m"))
          / sqrt(
            (col("sjj").cast("double") / col("m")
              - col("sj").cast("double") * col("sj") / col("m") / col("m"))
            * (col("skk").cast("double") / col("m")
              - col("sk").cast("double") * col("sk") / col("m") / col("m"))),
          6).as("assortativity"))
      .cache()
    out.count()
    deg.unpersist(); edges.unpersist()
    out
  }

  val qAssortativitySql: String =
    s"""WITH $mutKnnSql,
      |edges AS MATERIALIZED (SELECT src, dst FROM und
      |  UNION ALL SELECT dst, src FROM und),
      |deg AS MATERIALIZED (SELECT src AS node, count(*) AS degree
      |  FROM edges GROUP BY 1),
      |pairs AS (SELECT a.degree AS j, b.degree AS k
      |  FROM edges e JOIN deg a ON e.src = a.node
      |  JOIN deg b ON e.dst = b.node),
      |mom AS (SELECT count(*) AS m,
      |    CAST(sum(j) AS BIGINT) AS sj, CAST(sum(k) AS BIGINT) AS sk,
      |    CAST(sum(j * k) AS BIGINT) AS sjk,
      |    CAST(sum(j * j) AS BIGINT) AS sjj,
      |    CAST(sum(k * k) AS BIGINT) AS skk
      |  FROM pairs),
      |nn AS (SELECT count(*) AS n_nodes,
      |  CAST(sum(degree) AS BIGINT) AS sd FROM deg)
      |SELECT n_nodes, m // 2 AS n_edges,
      |  round(CAST(sd AS DOUBLE) / n_nodes, 6) AS mean_degree,
      |  round((CAST(sjk AS DOUBLE) / m
      |      - CAST(sj AS DOUBLE) * sk / m / m)
      |    / sqrt((CAST(sjj AS DOUBLE) / m
      |        - CAST(sj AS DOUBLE) * sj / m / m)
      |      * (CAST(skk AS DOUBLE) / m
      |        - CAST(sk AS DOUBLE) * sk / m / m)), 6) AS assortativity
      |FROM mom, nn""".stripMargin

  // ---------------------------------------------------------------- M12
  /** Rich-club coefficient curve of the mutual-kNN graph — the
    * density view of what M11's assortativity reports as a
    * correlation: for each degree threshold k, the subgraph induced
    * by nodes of degree > k, published as φ(k) = 2·E_k / (N_k(N_k−1))
    * — do the best-connected suppliers form a densely wired club
    * (φ → 1) or stay mutually distant? kNN input bounds degree at K,
    * so the threshold grid is the FIXED set 1..K−1 and the whole
    * curve is |E|×K bounded work: the edge list joins its two
    * endpoint degrees once (M11's pairs frame halved to unordered
    * edges), a broadcast K−1-row grid fans each edge/node into the
    * thresholds it clears, and two keyed counts finish it. Exact
    * integers until the one φ division; ≤ K−1 output rows.
    */
  def qRichClub(spark: SparkSession, dir: String): DataFrame = {
    val und = mutualKnnPairs(spark, dir)
    val edges = und.union(und.select(col("dst").as("src"),
      col("src").as("dst"))).cache()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("degree")).cache()
    val grid = spark.range(1, KnnK.toLong).select(col("id").as("k"))
    val nk = deg.crossJoin(broadcast(grid))
      .filter(col("degree") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_nodes"))
    val ek = und
      .join(deg.select(col("src"), col("degree").as("dj")), "src")
      .join(deg.select(col("src").as("dst"), col("degree").as("dk")), "dst")
      .crossJoin(broadcast(grid))
      .filter(col("dj") > col("k") && col("dk") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_edges"))
    val out = nk.join(ek, Seq("k"), "left")
      .na.fill(0L, Seq("n_edges"))
      .select(col("k"), col("n_nodes"), col("n_edges"),
        when(col("n_nodes") < 2, lit(null).cast("double"))
          .otherwise(round(lit(2.0) * col("n_edges") /
            (col("n_nodes") * (col("n_nodes") - 1)), 6)).as("phi"))
      .cache()
    out.count()
    deg.unpersist(); edges.unpersist()
    out
  }

  val qRichClubSql: String =
    s"""WITH $mutKnnSql,
      |edges AS MATERIALIZED (SELECT src, dst FROM und
      |  UNION ALL SELECT dst, src FROM und),
      |deg AS MATERIALIZED (SELECT src AS node, count(*) AS degree
      |  FROM edges GROUP BY 1),
      |grid AS (SELECT unnest(generate_series(1, ${KnnK - 1})) AS k),
      |nk AS (SELECT g.k, count(*) AS n_nodes
      |  FROM deg d JOIN grid g ON d.degree > g.k GROUP BY 1),
      |ek AS (SELECT g.k, count(*) AS n_edges
      |  FROM und u
      |  JOIN deg a ON u.src = a.node JOIN deg b ON u.dst = b.node
      |  JOIN grid g ON a.degree > g.k AND b.degree > g.k
      |  GROUP BY 1)
      |SELECT nk.k, nk.n_nodes, coalesce(ek.n_edges, 0) AS n_edges,
      |  CASE WHEN nk.n_nodes < 2 THEN NULL
      |    ELSE round(2.0 * coalesce(ek.n_edges, 0)
      |      / (nk.n_nodes * (nk.n_nodes - 1)), 6) END AS phi
      |FROM nk LEFT JOIN ek ON nk.k = ek.k""".stripMargin

  // ---------------------------------------------------------------- M13
  /** Two-hop reach profile of the mutual-kNN graph — the expansion
    * readout between degree (one hop) and components (full closure):
    * per node, how many DISTINCT suppliers are exactly two hops away
    * (reachable through a shared strong partner but not directly
    * adjacent and not the node itself)? A high expansion ratio means
    * the graph mixes (neighbors' neighborhoods don't overlap —
    * sampling by community spreads fast); a ratio near zero means
    * neighborhoods close on themselves (M6's clustering seen from the
    * reach side). kNN input bounds everything: the wedge join emits
    * ≤ |V|·K² candidate (a,c) pairs at ANY scale, the distinct and
    * the direct-edge anti-join are keyed on those bounded pairs, and
    * the output is one row per node. Exact integers throughout; the
    * one 6-dp division publishes expansion = two_hop / degree.
    */
  def qTwoHop(spark: SparkSession, dir: String): DataFrame = {
    val und = mutualKnnPairs(spark, dir)
    val edges = und.union(und.select(col("dst").as("src"),
      col("src").as("dst")))
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))
    val hop2 = edges.select(col("src").as("a"), col("dst").as("b"))
      .join(edges.select(col("src").as("b"), col("dst").as("c")), "b")
      .filter(col("a") =!= col("c"))
      .select(col("a"), col("c")).distinct()
      .join(edges.select(col("src").as("a"), col("dst").as("c")),
        Seq("a", "c"), "left_anti")
      .groupBy(col("a").as("node")).agg(count(lit(1)).as("two_hop"))
    deg.join(hop2, Seq("node"), "left")
      .na.fill(0L, Seq("two_hop"))
      .select(col("node").as("s_suppkey"), col("degree"), col("two_hop"),
        round(col("two_hop").cast("double") / col("degree"), 6)
          .as("expansion"))
  }

  val qTwoHopSql: String =
    s"""WITH $mutKnnSql,
      |edges AS MATERIALIZED (SELECT src, dst FROM und
      |  UNION ALL SELECT dst, src FROM und),
      |deg AS (SELECT src AS node, count(*) AS degree FROM edges GROUP BY 1),
      |h2 AS (SELECT node, count(*) AS two_hop FROM (
      |    SELECT DISTINCT e1.src AS node, e2.dst AS c
      |    FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
      |    WHERE e1.src <> e2.dst
      |      AND NOT EXISTS (SELECT 1 FROM edges d
      |        WHERE d.src = e1.src AND d.dst = e2.dst))
      |  GROUP BY 1)
      |SELECT deg.node AS s_suppkey, deg.degree,
      |  coalesce(h2.two_hop, 0) AS two_hop,
      |  round(CAST(coalesce(h2.two_hop, 0) AS DOUBLE) / deg.degree, 6)
      |    AS expansion
      |FROM deg LEFT JOIN h2 ON deg.node = h2.node""".stripMargin

  // ---------------------------------------------------------------- M14
  /** Neighbor-set Jaccard similarity of ADJACENT node pairs in the
    * mutual-kNN graph — the structural-equivalence readout M3's
    * link prediction inverts (M3 scores NON-adjacent pairs for
    * missing edges; this scores existing edges for redundancy): an
    * edge whose endpoints share most of their neighborhoods carries
    * little extra information (contract it when coarsening), one
    * whose endpoints share nothing is a bridge. J = |N(a)∩N(b)| /
    * |N(a)∪N(b)| over OPEN neighborhoods; the intersection count is
    * the per-edge wedge count (the M2 triangle machinery keyed by
    * edge instead of node), the union is deg(a)+deg(b)−|∩| by
    * inclusion–exclusion — no set materialization anywhere. kNN
    * input bounds the wedge stream at |V|·K² and every degree at K;
    * exact integers to the one 6-dp division; |E| output rows.
    */
  def qNeighborJaccard(spark: SparkSession, dir: String): DataFrame = {
    val und = mutualKnnPairs(spark, dir)
    val edges = und.union(und.select(col("dst").as("src"),
      col("src").as("dst")))
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))
    // common neighbors of the ordered pair (a,c), a < c: wedges
    // a—b—c confirmed by nothing (open or closed both count — the
    // intersection is over neighbor sets, not triangles)
    val common = edges.select(col("src").as("a"), col("dst").as("b"))
      .join(edges.select(col("src").as("b"), col("dst").as("c")), "b")
      .filter(col("a") < col("c"))
      .groupBy(col("a"), col("c")).agg(count(lit(1)).as("nc"))
    und.select(col("src").as("a"), col("dst").as("c"))
      .join(common, Seq("a", "c"), "left")
      .na.fill(0L, Seq("nc"))
      .join(deg.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("node").as("c"), col("degree").as("dc")), "c")
      .select(col("a").as("src"), col("c").as("dst"),
        col("nc").as("common_neighbors"),
        (col("da") + col("dc") - col("nc")).as("union_size"),
        round(col("nc").cast("double")
          / (col("da") + col("dc") - col("nc")), 6).as("jaccard"))
  }

  val qNeighborJaccardSql: String =
    s"""WITH $mutKnnSql,
      |edges AS MATERIALIZED (SELECT src, dst FROM und
      |  UNION ALL SELECT dst, src FROM und),
      |deg AS (SELECT src AS node, count(*) AS degree FROM edges GROUP BY 1),
      |common AS (SELECT e1.src AS a, e2.dst AS c, count(*) AS nc
      |  FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
      |  WHERE e1.src < e2.dst GROUP BY 1, 2)
      |SELECT u.src, u.dst,
      |  coalesce(common.nc, 0) AS common_neighbors,
      |  da.degree + dc.degree - coalesce(common.nc, 0) AS union_size,
      |  round(CAST(coalesce(common.nc, 0) AS DOUBLE)
      |    / (da.degree + dc.degree - coalesce(common.nc, 0)), 6) AS jaccard
      |FROM und u
      |LEFT JOIN common ON common.a = u.src AND common.c = u.dst
      |JOIN deg da ON da.node = u.src
      |JOIN deg dc ON dc.node = u.dst""".stripMargin

  // ---------------------------------------------------------------- M15
  /** k-core peeling (k = 3, three unrolled rounds) over the mutual-kNN
    * graph — the density-core extractor that separates the cohesive
    * heart of a supplier network from its tendrils (PageRank ranks
    * nodes, k-core CLASSIFIES them: a node in the 3-core has 3
    * neighbors that each have 3 neighbors…, recursively). Exact
    * k-core needs a data-dependent number of peels; three fixed
    * rounds are unrolled here (the M1/M4 fixed-iteration convention),
    * which on a degree-≤K graph already removes the overwhelming
    * majority of non-core nodes — the spec checks whether a 4th peel
    * would change anything on the shipped corpus. Each round is one
    * degree aggregate + two semi-joins on a ≤|V|·K-row edge set, so
    * the whole ladder is bounded by the kNN sparsifier at any scale.
    * Output: every node with its initial degree, its residual degree
    * after the ladder, and the survives-3-peels verdict.
    */
  def qKcore(spark: SparkSession, dir: String): DataFrame = {
    val und = mutualKnnPairs(spark, dir)
    val edges0 = und.union(und.select(col("dst").as("src"),
      col("src").as("dst"))).cache()
    val deg0 = edges0.groupBy(col("src")).agg(count(lit(1)).as("deg0"))
    var edges = edges0
    for (_ <- 1 to 3) {
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 3).select(col("src"))
      edges = edges
        .join(keep, Seq("src"), "left_semi")
        .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
    }
    val degAfter = edges.groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
    val out = deg0.join(degAfter, Seq("src"), "left")
      .na.fill(0L, Seq("core_deg"))
      .select(col("src").as("s_suppkey"), col("deg0"), col("core_deg"),
        (col("core_deg") > 0).as("in_core"))
      .cache()
    out.count()
    edges0.unpersist()
    out
  }

  val qKcoreSql: String =
    s"""WITH $mutKnnSql,
      |es AS MATERIALIZED (SELECT src, dst FROM und
      |  UNION ALL SELECT dst, src FROM und),
      |k1 AS (SELECT src AS node FROM es GROUP BY 1 HAVING count(*) >= 3),
      |e1 AS MATERIALIZED (SELECT e.src, e.dst FROM es e
      |  JOIN k1 a ON e.src = a.node JOIN k1 b ON e.dst = b.node),
      |k2 AS (SELECT src AS node FROM e1 GROUP BY 1 HAVING count(*) >= 3),
      |e2 AS MATERIALIZED (SELECT e.src, e.dst FROM e1 e
      |  JOIN k2 a ON e.src = a.node JOIN k2 b ON e.dst = b.node),
      |k3 AS (SELECT src AS node FROM e2 GROUP BY 1 HAVING count(*) >= 3),
      |e3 AS MATERIALIZED (SELECT e.src, e.dst FROM e2 e
      |  JOIN k3 a ON e.src = a.node JOIN k3 b ON e.dst = b.node),
      |d0 AS (SELECT src, count(*) AS deg0 FROM es GROUP BY 1),
      |d3 AS (SELECT src, count(*) AS core_deg FROM e3 GROUP BY 1)
      |SELECT d0.src AS s_suppkey, d0.deg0,
      |  COALESCE(d3.core_deg, 0) AS core_deg,
      |  COALESCE(d3.core_deg, 0) > 0 AS in_core
      |FROM d0 LEFT JOIN d3 ON d0.src = d3.src""".stripMargin

  // ---------------------------------------------------------------- M16
  /** Global clustering coefficient (transitivity) of the mutual-kNN
    * graph — the ONE-number cohesion readout M2's per-node
    * coefficients cannot give (averaging local coefficients
    * overweights low-degree nodes; transitivity = 3·triangles /
    * wedges weights every wedge equally — the two disagree by design
    * on hub-heavy graphs). All integer-exact: triangles enumerated
    * once each via the oriented src<dst wedge join (the M2 device),
    * wedges = Σ deg(v)·(deg(v)−1)/2 on K-bounded degrees (each term
    * ≤ K²/2, exact far past any corpus size); one double division at
    * the publish boundary, NULL on a wedgeless graph. Bounded-degree
    * input caps the wedge join at |V|·K² rows at ANY scale.
    */
  def qGlobalClustering(spark: SparkSession, dir: String): DataFrame = {
    val und = mutualKnnPairs(spark, dir)
    val deg = und.select(col("src").as("node"))
      .union(und.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val degStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      (sum(col("degree")) / 2).cast("long").as("n_edges"),
      (sum(col("degree") * (col("degree") - 1)) / 2).cast("long")
        .as("n_wedges"))
    val wedge = und.select(col("src").as("a"), col("dst").as("b"))
      .join(und.select(col("src").as("b"), col("dst").as("c")), "b")
    val tri = wedge
      .join(und.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
    degStats.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") === 0, lit(null).cast("double"))
          .otherwise(round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6))
          .as("transitivity"))
  }

  val qGlobalClusteringSql: String =
    s"""WITH $mutKnnSql,
      |dsym AS (SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und),
      |deg AS (SELECT src AS node, count(*) AS degree FROM dsym GROUP BY 1),
      |ds AS (SELECT count(*) AS n_nodes,
      |    CAST(sum(degree) / 2 AS BIGINT) AS n_edges,
      |    CAST(sum(degree * (degree - 1)) / 2 AS BIGINT) AS n_wedges
      |  FROM deg),
      |tri AS (SELECT count(*) AS n_triangles
      |  FROM und w1
      |  JOIN und w2 ON w1.dst = w2.src
      |  JOIN und w3 ON w3.src = w1.src AND w3.dst = w2.dst)
      |SELECT n_nodes, n_edges, n_wedges, n_triangles,
      |  CASE WHEN n_wedges = 0 THEN CAST(NULL AS DOUBLE)
      |    ELSE round(3.0 * n_triangles / n_wedges, 6) END AS transitivity
      |FROM ds, tri""".stripMargin

  // ---------------------------------------------------------------- M19
  /** Newman–Girvan modularity (2004) of the M4k label-prop partition
    * over the mutual-kNN graph — the single-number "is this community
    * structure real?" score M9's per-community conductance cannot
    * give: Q = Σ_c [e_c/m − (d_c/2m)²], >0.3 conventionally "strong
    * structure". ENGINE-EXACT because every ingredient is an integer
    * count: per-community internal edges e_c, degree sums d_c = 2e_c
    * + boundary, total edges m; each community's contribution scales
    * to the integer 4m·e_c − d_c² and Q = Σ_c(4m·e_c − d_c²)/(4m²) —
    * an ORDER-FREE integer sum with ONE double division (never a
    * float sum over O(|communities|) terms). Same one-pass edge
    * labeling as M9 (two joins against the |V|-row label frame);
    * publishes per-community rows (size, internal, degree sum,
    * 6-dp contribution) with the global Q and verdict on every row.
    */
  def qModularity(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val mutual = mutualKnnPairs(spark, dir)
    val lbl = labelPropagate(mutual, rounds = 3)
    val e = mutual
      .join(lbl.select(col("node").as("src"), col("lbl").as("cs")), "src")
      .join(lbl.select(col("node").as("dst"), col("lbl").as("cd")), "dst")
      .select(col("cs"), col("cd"))
    val internal = e.filter(col("cs") === col("cd"))
      .groupBy(col("cs").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    val degree = e.select(explode(array(col("cs"), col("cd"))).as("community"))
      .groupBy(col("community")).agg(count(lit(1)).as("degree_sum"))
    val size = lbl.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("community_size"))
    val m = mutual.agg(count(lit(1)).as("m"))
    val per = size
      .join(internal, Seq("community"), "left")
      .join(degree, Seq("community"), "left")
      .na.fill(0L, Seq("internal_edges", "degree_sum"))
      .crossJoin(broadcast(m))
      .withColumn("contrib_scaled",
        expr(s"cast(4 * m as $d38) * internal_edges" +
          s" - cast(degree_sum as $d38) * degree_sum"))
    // sign-split casts: a community's contribution (and in theory
    // the sum) can be negative, and DuckDB's negative-HUGEINT→DOUBLE
    // cast mis-rounds above 2^53 (the q_stl device)
    def sd(c: String) = s"CASE WHEN $c >= 0 THEN CAST($c AS DOUBLE)" +
      s" ELSE -CAST(-($c) AS DOUBLE) END"
    val tot = per.agg(sum(col("contrib_scaled")).as("q_scaled"),
      max(expr(s"cast(4 * m as $d38) * m")).as("denom"))
      .select(round(expr(s"${sd("q_scaled")} / cast(denom as double)"),
        6).as("modularity"))
    per.crossJoin(broadcast(tot))
      .select(col("community"), col("community_size"),
        col("internal_edges"), col("degree_sum"),
        round(expr(sd("contrib_scaled") +
          s" / cast(cast(4 * m as $d38) * m as double)"), 6)
          .as("contribution"),
        col("modularity"),
        (col("modularity") > 0.3).as("strong_structure"))
  }

  val qModularitySql: String =
    s"""WITH ${labelPropCtes(mutKnnSql)},
      |eb AS (SELECT a.lbl AS cs, b.lbl AS cd FROM und u
      |  JOIN l3 a ON u.src = a.node JOIN l3 b ON u.dst = b.node),
      |internal AS (SELECT cs AS community, count(*) AS internal_edges
      |  FROM eb WHERE cs = cd GROUP BY 1),
      |deg AS (SELECT community, count(*) AS degree_sum FROM (
      |    SELECT cs AS community FROM eb UNION ALL SELECT cd FROM eb)
      |  GROUP BY 1),
      |sz AS (SELECT lbl AS community, count(*) AS community_size
      |  FROM l3 GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM und),
      |per AS (SELECT sz.community, sz.community_size,
      |    coalesce(internal.internal_edges, 0) AS internal_edges,
      |    coalesce(deg.degree_sum, 0) AS degree_sum,
      |    4 * m * coalesce(internal.internal_edges, 0)
      |      - CAST(coalesce(deg.degree_sum, 0) AS HUGEINT)
      |        * coalesce(deg.degree_sum, 0) AS contrib_scaled, m
      |  FROM sz LEFT JOIN internal USING (community)
      |  LEFT JOIN deg USING (community), tot),
      |q AS (SELECT round((CASE WHEN sum(contrib_scaled) >= 0
      |      THEN CAST(sum(contrib_scaled) AS DOUBLE)
      |      ELSE -CAST(-sum(contrib_scaled) AS DOUBLE) END)
      |      / CAST(max(4 * m * m) AS DOUBLE), 6) AS modularity
      |  FROM per)
      |SELECT community, community_size, internal_edges, degree_sum,
      |  round((CASE WHEN contrib_scaled >= 0
      |    THEN CAST(contrib_scaled AS DOUBLE)
      |    ELSE -CAST(-contrib_scaled AS DOUBLE) END)
      |    / CAST(4 * m * m AS DOUBLE), 6) AS contribution,
      |  modularity, modularity > 0.3 AS strong_structure
      |FROM per, q""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_modularity" -> (qModularity _),
    "q_global_clustering" -> (qGlobalClustering _),
    "q_kcore" -> (qKcore _),
    "q_neighbor_jaccard" -> (qNeighborJaccard _),
    "q_two_hop" -> (qTwoHop _),
    "q_rich_club" -> (qRichClub _),
    "q_assortativity" -> (qAssortativity _),
    "q_moran_i" -> (qMoranI _),
    "q_eigencentrality" -> (qEigencentrality _),
    "q_hits" -> (qHits _),
    "q_reciprocity" -> (qReciprocity _),
    "q_bipartite_stats" -> (qBipartiteStats _),
    "q_degree_gini" -> (qDegreeGini _),
    "q_community_conductance" -> (qCommunityConductance _),
    "q_knn_components" -> (qKnnComponents _),
    "q_closeness" -> (qCloseness _),
    "q_path_centrality" -> (qPathCentrality _),
    "q_degree_distribution" -> (qDegreeDistribution _),
    "q_pagerank" -> (qPagerank _),
    "q_pagerank_knn" -> (qPagerankKnn _),
    "q_triangle_count" -> (qTriangleCount _),
    "q_link_prediction" -> (qLinkPrediction _),
    "q_label_propagation" -> (qLabelPropagation _),
    "q_label_prop_knn" -> (qLabelPropKnn _),
    "q_knn_graph" -> (qKnnGraph _),
    "q_triangle_knn" -> (qTriangleKnn _))

  def oracle: Map[String, String] = Map(
    "q_modularity" -> qModularitySql,
    "q_global_clustering" -> qGlobalClusteringSql,
    "q_kcore" -> qKcoreSql,
    "q_neighbor_jaccard" -> qNeighborJaccardSql,
    "q_two_hop" -> qTwoHopSql,
    "q_eigencentrality" -> qEigencentralitySql,
    "q_hits" -> qHitsSql,
    "q_reciprocity" -> qReciprocitySql,
    "q_bipartite_stats" -> qBipartiteStatsSql,
    "q_degree_gini" -> qDegreeGiniSql,
    "q_assortativity" -> qAssortativitySql,
    "q_moran_i" -> qMoranISql,
    "q_rich_club" -> qRichClubSql,
    "q_community_conductance" -> qCommunityConductanceSql,
    "q_knn_components" -> qKnnComponentsSql,
    "q_closeness" -> qClosenessSql,
    "q_path_centrality" -> qPathCentralitySql,
    "q_degree_distribution" -> qDegreeDistributionSql,
    "q_pagerank" -> qPagerankSql,
    "q_pagerank_knn" -> qPagerankKnnSql,
    "q_triangle_count" -> qTriangleCountSql,
    "q_link_prediction" -> qLinkPredictionSql,
    "q_label_propagation" -> qLabelPropagationSql,
    "q_label_prop_knn" -> qLabelPropKnnSql,
    "q_knn_graph" -> qKnnGraphSql,
    "q_triangle_knn" -> qTriangleKnnSql)
}
