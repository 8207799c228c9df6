package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Relational}
import graft.multimodal.BinaryPipeline

class DedupSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("minhash est_sim is bounded and candidates are ordered pairs") {
    val rows = Dedup.qMinhashLsh(spark, sf)
      .select("d1", "d2", "est_sim").as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (d1, d2, s) => d1 < d2 && s >= 0.0 && s <= 1.0 })
  }

  test("cross-lingual pairs are the lang-mismatched subset of the minhash pair set") {
    val all = Dedup.qMinhashLsh(spark, sf)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val langOf = graft.Tables.documents(spark, sf)
      .select("doc_id", "lang").as[(Long, String)].collect().toMap
    val xs = Dedup.qCrosslingualPairs(spark, sf)
      .select("d1", "d2", "lang_1", "lang_2").as[(Long, Long, String, String)].collect()
    assert(xs.nonEmpty)
    xs.foreach { case (d1, d2, l1, l2) =>
      assert(all((d1, d2)), "every cross-lingual pair must come from the C3 pair stream")
      assert(l1 != l2 && langOf(d1) == l1 && langOf(d2) == l2)
    }
    val expected = all.count { case (d1, d2) => langOf(d1) != langOf(d2) }
    assert(xs.length == expected, "exactly the lang-mismatched subset")
  }

  test("semantic dedup: clusters are cell-local with exactly one min-id keeper each") {
    val rows = Dedup.qSemanticDedup(spark, sf)
      .select("vec_id", "cell", "cluster_id", "keep")
      .as[(Long, Int, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_._3)
    byCluster.foreach { case (cid, ms) =>
      assert(ms.map(_._1).min == cid, "cluster id must be the least member")
      assert(ms.count(_._4) == 1 && ms.find(_._4).get._1 == cid,
        "exactly the min-id member is kept")
      assert(ms.map(_._2).distinct.length == 1,
        "cell-blocked edges can never produce a cross-cell cluster")
    }
    assert(rows.count(_._4) == byCluster.size)
    // warm second call must ride the persisted index, not refit
    val fitsWarm = graft.operators.Similarity.IvfIndex.fitCount.get
    Dedup.qSemanticDedup(spark, sf).count()
    assert(graft.operators.Similarity.IvfIndex.fitCount.get == fitsWarm,
      "warm call must not refit")
  }

  test("simhash emits per-doc near-dup degrees with bounded hamming") {
    val rows = Dedup.qSimhash(spark, sf)
      .select("doc_id", "n_neardups", "min_hamming").as[(Long, Long, Long)].collect()
    assert(rows.forall { case (_, n, h) => n >= 1 && h >= 0 && h <= 3 })
  }

  test("contamination pairs are strictly train-side x eval-side") {
    import org.apache.spark.sql.functions.col
    val sides = Tables.documents(spark, sf)
      .select(col("doc_id"),
        col("source").isin(Dedup.EvalSources.map(x => x: Any): _*).as("ev"))
      .as[(Long, Boolean)].collect().toMap
    val rows = Dedup.qContamination(spark, sf)
      .select("d_train", "d_eval", "est_sim").as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty, "no contamination candidates found at this SF")
    rows.foreach { case (t, e, s) =>
      assert(!sides(t), s"train id $t is from an eval source")
      assert(sides(e), s"eval id $e is from a train source")
      assert(s >= 0.0 && s <= 1.0)
    }
  }

  test("jaccard pairs overlap minhash candidates on high-sim docs") {
    val jacc = Dedup.qNgramJaccard(spark, sf)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val mh = Dedup.qMinhashLsh(spark, sf)
      .filter("est_sim >= 0.5").select("d1", "d2").as[(Long, Long)].collect().toSet
    // high-estimate minhash pairs should mostly be true near-dups
    assert(mh.intersect(jacc).nonEmpty || mh.isEmpty)
  }

  test("embedding near-dup pair generation is LSH-bucket-blocked") {
    // the 100 TB contract: every emitted pair must share at least one
    // band bucket (candidates are never drawn from a corpus-wide or
    // fixed-cardinality block), and no contributing bucket may exceed
    // the cap that bounds per-bucket self-join output
    val bands = Dedup.embeddingBands(spark, sf)
      .select("vec_id", "b", "bv").as[(Long, Int, Long)].collect()
    val byVec = bands.groupBy(_._1)
      .map { case (v, rs) => v -> rs.map(r => (r._2, r._3)).toSet }
    val bucketSizes = bands.groupBy(r => (r._2, r._3)).map(_._2.length)
    assert(bucketSizes.max <= Dedup.EmbBucketCap,
      s"a band bucket exceeds the cap (${bucketSizes.max})")
    val pairs = Dedup.qEmbeddingNeardup(spark, sf)
      .select("id1", "id2").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(byVec(a).intersect(byVec(b)).nonEmpty,
        s"pair ($a,$b) shares no LSH band bucket — not blocked")
    }
  }

  test("embedding band width scales with corpus size") {
    import graft.functions.Hyperplanes
    // expected bucket population stays ~targetBucket as n grows 100x
    assert(Hyperplanes.bitsFor(500, 64) == 4)   // floor
    assert(Hyperplanes.bitsFor(16384, 64) == 8)
    assert(Hyperplanes.bitsFor(1638400, 64) == 15)
    assert(Hyperplanes.bitsFor(163840000, 64) == 22)
    // exact powers of two stay integer-exact (no float-log2 boundary)
    assert(Hyperplanes.bitsFor(64 * 8, 64) == 4)
    assert(Hyperplanes.bitsFor(64 * 1024, 64) == 10)
  }

  test("dedup clusters are consistent with the near-dup pair set") {
    val pairs = Dedup.qEmbeddingNeardup(spark, sf)
      .select("id1", "id2").as[(Long, Long)].collect()
    val clusters = Dedup.qDedupClusters(spark, sf)
      .select("vec_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(clusters.nonEmpty)
    // every paired vector is clustered, endpoints share a cluster
    pairs.foreach { case (a, b) =>
      assert(clusters.contains(a) && clusters.contains(b))
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    // cluster id is the smallest member (canonical keep-rule resolvable)
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(cid == members.keys.min, s"cluster $cid is not its min member")
    }
  }

  test("cluster-loop shuffle width scales with the edge set and never drops below the floor") {
    assert(Dedup.ccWidth(0) == 8, "empty edge set keeps the floor")
    assert(Dedup.ccWidth(100000) == 8, "test-scale edge sets stay at the floor")
    assert(Dedup.ccWidth(64L << 20) == 1024, "100 TB pair volume widens the loop")
    // the loop must not touch the caller session's shuffle conf
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    Dedup.qDedupClusters(spark, sf).count()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "clustering leaked a shuffle-partition override into the shared session")
  }

  test("corpus-size probe runs one count job per corpus STATE, and sees mutations") {
    val n1 = Tables.Probe.embeddingsCount(spark, sf)
    val jobs = Tables.Probe.jobCount.get
    // repeated probes and both consumers (C5 bands + D2 buckets) hit
    // the memo — no further count jobs while the corpus is unchanged
    assert(Tables.Probe.embeddingsCount(spark, sf) == n1)
    Dedup.qEmbeddingNeardup(spark, sf).queryExecution.sparkPlan
    graft.operators.Similarity.lshBuckets(spark, sf).queryExecution.sparkPlan
    assert(Tables.Probe.jobCount.get == jobs,
      "bitsFor consumers re-ran the corpus count instead of using the memo")
    assert(n1 == Tables.embeddings(spark, sf).count())
    // a mutated corpus must NOT be served the stale count — the memo is
    // keyed by corpus state, so doubling the table doubles the probe
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graft_probe_stale").toString
    val emb = Paths.get(dir, "embeddings.parquet")
    Files.createDirectories(emb)
    Files.copy(Paths.get(sf, "embeddings.parquet"), emb.resolve("part-0.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val before = Tables.Probe.embeddingsCount(spark, dir)
    Files.copy(Paths.get(sf, "embeddings.parquet"), emb.resolve("part-1.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    // knob probes ride the TTL'd tag cache (bounded staleness by
    // contract); force the window closed to test mutation visibility
    // deterministically
    val ttl = Tables.Probe.TagTtlNanos
    try {
      Tables.Probe.TagTtlNanos = 0L
      assert(Tables.Probe.embeddingsCount(spark, dir) == 2 * before,
        "probe served a stale count for a mutated corpus past the TTL")
    } finally Tables.Probe.TagTtlNanos = ttl
  }

  test("signature store is durable: cold-session ingest re-signs nothing") {
    val warm = Dedup.qIncrementalNeardup(spark, sf)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    // simulate a cold session: catalog metadata gone, store files remain
    Dedup.SigStore.deregister(spark, sf)
    val before = Dedup.SigStore.buildCount.get
    val cold = Dedup.qIncrementalNeardup(spark, sf)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(Dedup.SigStore.buildCount.get == before,
      "cold-session ingest re-signed the existing corpus instead of reading the store")
    assert(cold == warm, "cold-session result diverged from the warm store")
    // every matched pair is batch-side x existing-side
    import org.apache.spark.sql.functions.col
    val evalIds = Tables.documents(spark, sf)
      .filter(col("source").isin(Dedup.EvalSources.map(x => x: Any): _*))
      .select("doc_id").as[Long].collect().toSet
    warm.foreach { case (n, o) =>
      assert(evalIds.contains(n) && !evalIds.contains(o),
        s"pair ($n,$o) is not batch x existing")
    }
  }

  test("signature store detects a changed corpus and rebuilds") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // a private corpus copy: documents.parquet as a DIRECTORY of part
    // files, so the corpus can be mutated by adding a part
    val dir = Files.createTempDirectory("graft_stale").toString
    val docs = Paths.get(dir, "documents.parquet")
    Files.createDirectories(docs)
    Files.copy(Paths.get(sf, "documents.parquet"), docs.resolve("part-0.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val c0 = Dedup.SigStore.buildCount.get
    Dedup.SigStore.ensure(spark, dir)
    assert(Dedup.SigStore.buildCount.get == c0 + 1, "first ensure must build")
    Dedup.SigStore.ensure(spark, dir)
    assert(Dedup.SigStore.buildCount.get == c0 + 1, "unchanged corpus must not rebuild")
    // cold session over the unchanged corpus: re-register, no rebuild
    Dedup.SigStore.deregister(spark, dir)
    Dedup.SigStore.ensure(spark, dir)
    assert(Dedup.SigStore.buildCount.get == c0 + 1,
      "cold re-registration over an unchanged corpus must not rebuild")
    // corpus mutates: a new part file arrives -> fingerprint changes ->
    // the stale store must NOT be served
    Files.copy(Paths.get(sf, "documents.parquet"), docs.resolve("part-1.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Dedup.SigStore.ensure(spark, dir)
    assert(Dedup.SigStore.buildCount.get == c0 + 2,
      "changed corpus must trigger a store rebuild, not serve stale signatures")
  }

  test("after a corpus mutation and rebuild the probe signs under the new hot list, never the memoised old one") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_hot_memo").toString
    val docs = Paths.get(dir, "documents.parquet")
    Files.createDirectories(docs)
    Files.copy(Paths.get(sf, "documents.parquet"), docs.resolve("part-0.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val batch = Tables.documents(spark, sf).select((col("doc_id") + 9000000L).as("doc_id"), col("text"))
    def hotRows(t: String) = spark.table(t).as[Long].collect().sorted.toSeq
    /** The hot list the probe's signing kernel carries. */
    def probeHot(): Seq[Long] = Dedup.neardupMatches(spark, dir, batch).queryExecution.analyzed
      .flatMap(_.expressions.flatMap(_.collect {
        case k: graft.functions.MinhashSignature => k.hot }))
      .distinct.toList match { case Seq(h) => h; case hs => fail(s"expected one kernel: $hs") }
    val (_, hot0) = Dedup.SigStore.ensure(spark, dir)
    assert(probeHot() == hotRows(hot0))
    // every shingle's df doubles: the cut admits more hot shingles
    Files.copy(Paths.get(sf, "documents.parquet"), docs.resolve("part-1.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val (sig1, hot1) = Dedup.SigStore.ensure(spark, dir)
    assert(hot1 != hot0 && hotRows(hot1).size > hotRows(hot0).size,
      "the mutated corpus must have its own, larger hot list")
    assert(probeHot() == hotRows(hot1), "the probe signed under the pre-mutation hot list")
    // the rebuilt store and the batch's signatures both equal the
    // reference chain under the new hot list
    val existing = Tables.documents(spark, dir)
      .filter(!col("source").isin(Dedup.EvalSources.map(x => x: Any): _*))
      .select(col("doc_id"), col("text"))
    assert(MinhashReference.sigs(spark.table(sig1)) ==
      MinhashReference.sigs(MinhashReference.chain(existing, hotRows(hot1))))
    assert(MinhashReference.sigs(Dedup.signBatch(spark, hot1, batch)) ==
      MinhashReference.sigs(MinhashReference.chain(batch, hotRows(hot1))))
  }

  test("approx percentiles stay within bounded rank error of exact") {
    import org.apache.spark.sql.functions.col
    // sketch guarantee is rank-space (a returned value's empirical rank
    // is within epsilon of the target quantile) — value-space bounds
    // are meaningless on heavy-tailed data
    val values = Tables.events(spark, sf)
      .select(col("event_type"), col("value"))
      .as[(String, Double)].collect()
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sorted }
    val approx = Relational.qApproxPercentiles(spark, sf)
      .select("event_type", "p50", "p90", "p99")
      .as[(String, Double, Double, Double)].collect()
    assert(approx.nonEmpty)
    def rankOf(sorted: Array[Double], v: Double): Double =
      sorted.count(_ <= v).toDouble / sorted.length
    approx.foreach { case (t, a50, a90, a99) =>
      val vs = values(t)
      assert(math.abs(rankOf(vs, a50) - 0.50) <= 0.05, s"$t p50 rank off")
      assert(math.abs(rankOf(vs, a90) - 0.90) <= 0.05, s"$t p90 rank off")
      assert(rankOf(vs, a99) >= 0.94, s"$t p99 rank off")
    }
  }

  test("stratified sample holds per-language proportions and is seed-deterministic") {
    val audit = graft.operators.TextAnalysis.qStratifiedSample(spark, sf)
      .select("lang", "n_sampled", "n_total", "rate")
      .as[(String, Long, Long, Double)].collect()
    assert(audit.nonEmpty)
    val targets = graft.operators.TextAnalysis.StratRates.toMap
    audit.foreach { case (lang, sampled, total, rate) =>
      assert(sampled <= total)
      // md5-threshold draw ~ Bernoulli(target): 3-sigma tolerance
      val p = targets(lang)
      val sigma = math.sqrt(p * (1 - p) * total)
      assert(math.abs(sampled - p * total) <= 3 * sigma + 1,
        s"$lang sampled $sampled of $total — outside tolerance of target $p")
      assert(rate == math.rint(sampled.toDouble / total * 1e4) / 1e4)
    }
    val again = graft.operators.TextAnalysis.qStratifiedSample(spark, sf)
      .select("lang", "n_sampled").as[(String, Long)].collect().toMap
    assert(audit.map(a => a._1 -> a._2).toMap == again, "same seed drew different rows")
  }

  test("multimodal decode emits plausible stub features") {
    val rows = BinaryPipeline.qMultimodalDecode(spark, sf)
      .select("n_bytes", "width", "height", "mean_byte")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (n, w, h, m) =>
      n > 0 && w >= 64 && w < 128 && h >= 64 && h < 128 && m > 0 && m < 256
    })
  }

  test("batched inference results are invariant to batch boundaries") {
    // the contract a real model scorer must satisfy: scores never
    // depend on how rows were grouped into batches or partitions
    val tiny = new BinaryPipeline.BatchScorer {
      override val maxBatch = 7 // deliberately awkward, forces ragged batches
      override def scoreBatch(vecs: Array[Array[Double]]): Array[Double] =
        BinaryPipeline.StubScorer.scoreBatch(vecs)
    }
    val a = BinaryPipeline.qBatchedScore(spark, sf)
      .as[(Long, Double)].collect().toMap
    val b = BinaryPipeline.qBatchedScore(spark, sf, tiny)
      .as[(Long, Double)].collect().toMap
    assert(a.nonEmpty && a == b,
      "scores changed with batch size — the scorer leaked batch state")
  }

  test("incremental dedup covers exactly the incoming split and dup_of points outside it") {
    import org.apache.spark.sql.functions.col
    val incoming = Tables.documents(spark, sf)
      .filter(col("source").isin(Dedup.EvalSources.map(x => x: Any): _*))
      .select("doc_id").as[Long].collect().toSet
    val existing = Tables.documents(spark, sf)
      .filter(!col("source").isin(Dedup.EvalSources.map(x => x: Any): _*))
      .select("doc_id").as[Long].collect().toSet
    val rows = Dedup.qIncrementalDedup(spark, sf)
      .select("doc_id", "dup_of", "is_new")
      .as[(Long, Option[Long], Boolean)].collect()
    assert(rows.map(_._1).toSet == incoming)
    assert(rows.forall { case (_, dup, isNew) =>
      isNew == dup.isEmpty && dup.forall(existing.contains)
    })
  }

  test("curation funnel reconciles exactly: n_out(i) = n_in(i+1), monotone, every gate non-trivial") {
    import org.apache.spark.sql.functions.col
    val rows = Dedup.qCurationFunnel(spark, sf)
      .orderBy(col("stage"))
      .select("stage", "gate", "n_in", "n_out", "n_dropped")
      .as[(Int, String, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq == (0 until 6),
      "exactly six stages in declared order")
    rows.foreach { case (_, gate, nIn, nOut, nDrop) =>
      assert(nOut <= nIn && nDrop == nIn - nOut, s"$gate must balance")
    }
    // the waterfall contract: each stage's survivors feed the next
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 == b._3, s"${a._2} n_out must equal ${b._2} n_in")
    }
    // stage 0 is the identity gate over the train split
    val trainDocs = Tables.documents(spark, sf)
      .filter(!col("source").isin(Dedup.EvalSources.map(x => x: Any): _*))
      .count()
    assert(rows.head._3 == trainDocs && rows.head._4 == trainDocs)
    // the generator plants low-quality docs, near-dups, contamination,
    // and PII by construction; exact dups may already fall to the
    // quality floor at tiny SF, so demand most — not all — gates fire
    assert(rows.tail.count(_._5 > 0) >= 4, "at least 4 of 5 gates must fire")
    assert(rows.last._4 > 0, "a non-empty keep set must survive")
  }

  test("boilerplate audit equals a brute-force per-source segment-df sweep") {
    import org.apache.spark.sql.functions.col
    import graft.functions.TextFunctions.tokens
    val segs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .as[(Long, String, Seq[String])].collect()
      .flatMap { case (id, src, toks) =>
        toks.grouped(16).map(g => (id, src, g.mkString(" ")))
      }
    val nDocs = segs.map(s => (s._1, s._2)).distinct
      .groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val expected = segs.groupBy(_._2).map { case (src, ss) =>
      val segGroups = ss.groupBy(_._3)
      val flagged = segGroups.filter { case (h, inst) =>
        val df = inst.map(_._1).distinct.length
        df * 20 >= nDocs(src) && df >= 2
      }
      src -> ((nDocs(src), segGroups.size.toLong, flagged.size.toLong,
        flagged.values.map(_.length).sum.toLong, ss.length.toLong))
    }
    val got = Dedup.qBoilerplate(spark, sf)
      .select("source", "n_docs", "n_segments", "n_boilerplate", "boiler_frac")
      .as[(String, Long, Long, Long, Double)].collect()
    assert(got.length == expected.size)
    got.foreach { case (src, nd, ns, nb, bf) =>
      val (end, ens, enb, einst, etot) = expected(src)
      assert(nd == end && ns == ens && nb == enb, s"$src counts mismatch")
      assert(math.abs(bf - einst.toDouble / etot) < 1e-6, s"$src frac mismatch")
    }
    assert(got.map(_._4).sum > 0, "planted dups must surface some boilerplate")
  }

  test("ngram decontam equals a brute-force window scan at sf0.001") {
    import org.apache.spark.sql.functions.col
    import graft.functions.TextFunctions.tokens
    val n = Dedup.DecontamN
    // tokenize through the SAME column function the operator uses, so
    // the spec checks the collision logic, not tokenizer parity
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .as[(Long, String, Seq[String])].collect()
    val isEval = Dedup.EvalSources.toSet
    def windows(toks: Seq[String]): Seq[String] =
      if (toks.length < n) Seq.empty
      else toks.sliding(n).map(_.mkString(" ")).toSeq
    val ban = docs.filter(d => isEval(d._2))
      .flatMap(d => windows(d._3)).toSet
    val expected = docs.filterNot(d => isEval(d._2)).flatMap { case (id, src, toks) =>
      val ws = windows(toks)
      val hit = ws.distinct.count(ban.contains)
      if (hit > 0) Some(id -> ((src, ws.size.toLong, hit.toLong))) else None
    }.toMap
    val got = Dedup.qNgramDecontam(spark, sf)
      .select("doc_id", "source", "n_ngrams", "n_hit")
      .as[(Long, String, Long, Long)].collect()
      .map { case (id, src, ng, h) => id -> ((src, ng, h)) }.toMap
    assert(expected.nonEmpty, "generator must plant at least one verbatim leak")
    assert(got == expected)
  }
}
