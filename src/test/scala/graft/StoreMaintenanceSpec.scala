package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}

/** Growth-and-maintenance contract of the two persisted stores
  * (SigStore / IvfIndex): `absorb` appends arriving batches into the
  * bucketed store so later batches dedup/probe against them, file
  * count grows per absorb, and `compactStore` restores the
  * one-file-per-bucket layout WITHOUT recomputing anything — build
  * and fit counters stay pinned, results stay bit-identical, and a
  * cold session re-registers over the compacted files with the DDL the
  * build registered. Crash safety of the [[Store]] device: a build that
  * dies before its commit marker is rebuilt, never served.
  *
  * Runs against a PRIVATE copy of the smallest corpus: absorbing into
  * the shared test-corpus stores would contaminate the oracle-checked
  * ANN/dedup queries that replay those stores' files.
  */
class StoreMaintenanceSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private def copyTable(fromDir: String, name: String, toDir: java.nio.file.Path): Unit = {
    val src = java.nio.file.Paths.get(fromDir, name)
    java.nio.file.Files.copy(src, toDir.resolve(name))
  }

  private def privateCorpus(tables: String*): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_store_maint")
    tables.foreach(t => copyTable(sf, t, d))
    d.toString
  }

  /** Catalog schema and bucket spec of every table `df` reads — the DDL
    * parity observable (a build and a cold re-registration must agree).
    */
  private def ddl(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.catalogTable.map(c => (c.identifier.table, c.schema, c.bucketSpec))
    }.flatten

  private def warehouse: java.nio.file.Path = java.nio.file.Paths.get(
    new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)

  test("Store: a build that dies before its marker is rebuilt by the next ensure, never served") {
    val dir = privateCorpus("region.parquet")
    val A = Store.Artifact(columns = "id BIGINT")
    val B = Store.Artifact("_b", "id BIGINT")
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    // attempt 1 dies after artifact 1, attempt 2 after both artifacts
    // (before the commit), attempt 3 finishes; artifact 1 carries the
    // attempt number so a served leftover is visible
    val store = new Store("stubcrash", "region", "", Seq(A, B))((s, _, at) => {
      val n = builds.incrementAndGet()
      at.write(s.range(10L * n, 10L * n + 3).toDF("id"), A)
      if (n == 1) throw new IllegalStateException("build died after artifact 1")
      at.write(s.range(3).toDF("id"), B)
      if (n == 2) throw new IllegalStateException("build died before its marker")
    })
    intercept[IllegalStateException](store.ensure(spark, dir))
    intercept[IllegalStateException](store.ensure(spark, dir))
    assert(builds.get == 2, "a build that never wrote its marker must run again")
    val at = store.ensure(spark, dir)
    assert(builds.get == 3, "a build that never wrote its marker must run again")
    def rowsA(t: String) = spark.table(t).as[Long].collect().sorted.toSeq
    assert(rowsA(at.table(A)) == Seq(30L, 31L, 32L),
      "an artifact of a failed build was served")
    assert(spark.table(at.table(B)).count() == 3)
    // a cold session over the committed store re-registers, no build
    store.deregister(spark, dir)
    assert(!spark.catalog.tableExists(at.table(A)))
    val cold = store.ensure(spark, dir)
    assert(builds.get == 3, "a committed store must re-register, not rebuild")
    assert(rowsA(cold.table(A)) == Seq(30L, 31L, 32L))
  }

  test("SigStore: a sig dir left holding only _temporary (no data files, no marker) is rebuilt, not served empty") {
    val dir = privateCorpus("documents.parquet")
    val (t, _) = Dedup.SigStore.ensure(spark, dir)
    def rowHash(): (Long, java.math.BigDecimal) = {
      val df = spark.table(t)
      val r = df.select(count(lit(1)),
        sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    val h0 = rowHash()
    assert(h0._1 > 0)
    val builds = Dedup.SigStore.buildCount.get
    // what a writer that died mid-job leaves behind, in a later session
    Dedup.SigStore.deregister(spark, dir)
    spark.catalog.clearCache()
    val loc = warehouse.resolve(t)
    Store.deleteRecursively(loc)
    java.nio.file.Files.createDirectories(loc.resolve("_temporary").resolve("0"))
    java.nio.file.Files.deleteIfExists(warehouse.resolve(t + "._DONE"))
    Dedup.SigStore.ensure(spark, dir)
    assert(Dedup.SigStore.buildCount.get == builds + 1,
      "an unfinished store must be rebuilt")
    assert(rowHash() == h0, "rebuilt store differs from the original build")
  }

  test("SigStore: absorb grows the store (later batches match absorbed docs); compact restores one-file-per-bucket, build pinned") {
    val dir = privateCorpus("documents.parquet")
    val (t, th) = Dedup.SigStore.ensure(spark, dir)
    val builds = Dedup.SigStore.buildCount.get
    val loc = warehouse.resolve(t)
    val files0 = Store.dataFileCount(loc)
    def sigDdl() = Seq(t, th).flatMap(n => ddl(spark.table(n)))
    val ddlBuilt = sigDdl()
    assert(ddlBuilt.head._3.isDefined, "the signature table must be bucketed")

    // two stored docs with live signatures, their texts as absorb payloads
    val stored = spark.table(t).select("doc_id").as[Long].collect().sorted.take(2)
    assert(stored.length == 2, "store too small for the test")
    val texts = Tables.documents(spark, dir)
      .filter(col("doc_id").isin(stored.map(x => x: Any): _*))
      .select("doc_id", "text").as[(Long, String)].collect().toMap

    // absorb two single-doc batches (exact copies under fresh ids)
    val aId = 1000001L
    val n1 = Dedup.SigStore.absorb(spark, dir,
      Seq((aId, texts(stored(0)))).toDF("doc_id", "text"))
    val n2 = Dedup.SigStore.absorb(spark, dir,
      Seq((1000002L, texts(stored(1)))).toDF("doc_id", "text"))
    assert(n1 == 1 && n2 == 1, s"absorbs signed ($n1, $n2) rows, expected 1 each")
    assert(Dedup.SigStore.buildCount.get == builds, "absorb must never rebuild")
    val filesGrown = Store.dataFileCount(loc)
    assert(filesGrown > files0,
      s"append must land new bucket files ($files0 -> $filesGrown)")

    // a LATER batch must match both the original corpus doc and the
    // absorbed doc — the absorbed state is live, not just archived
    def probe() = Dedup.neardupMatches(spark, dir,
        Seq((2000001L, texts(stored(0)))).toDF("doc_id", "text"))
      .as[(Long, Long, Double)].collect().toSet
    val matches = probe()
    assert(matches.contains((2000001L, stored(0), 1.0)),
      s"probe missed the original corpus doc: $matches")
    assert(matches.contains((2000001L, aId, 1.0)),
      s"probe missed the absorbed doc: $matches")

    // compaction: layout-only — one file per bucket, results bit-equal,
    // no rebuild
    val filesAfter = Dedup.SigStore.compactStore(spark, dir)
    assert(filesAfter <= Dedup.SigStore.SigBuckets,
      s"expected <= ${Dedup.SigStore.SigBuckets} files, got $filesAfter")
    assert(filesAfter < filesGrown, "compaction must shrink the file count")
    assert(Dedup.SigStore.buildCount.get == builds, "compaction must never rebuild")
    assert(probe() == matches, "compaction changed query results")

    // cold session over the compacted store: metadata-only re-register
    Dedup.SigStore.deregister(spark, dir)
    assert(probe() == matches, "cold session over compacted store diverged")
    assert(Dedup.SigStore.buildCount.get == builds,
      "cold re-register after compaction must not rebuild")
    assert(sigDdl() == ddlBuilt, "re-registered DDL differs from the built tables")

    // SECOND maintenance cycle — the documented single-writer schedule
    // (absorb* → compact, strictly serialized) must be REPEATABLE:
    // an absorb after compaction lands in the re-registered table, is
    // immediately live, and survives another compaction
    val bId = 1000003L
    val n3 = Dedup.SigStore.absorb(spark, dir,
      Seq((bId, texts(stored(1)))).toDF("doc_id", "text"))
    assert(n3 == 1, "post-compact absorb failed to sign")
    def probe2() = Dedup.neardupMatches(spark, dir,
        Seq((2000002L, texts(stored(1)))).toDF("doc_id", "text"))
      .as[(Long, Long, Double)].collect().toSet
    assert(probe2().contains((2000002L, bId, 1.0)),
      "post-compact absorb not live in the store")
    val filesCycle2 = Dedup.SigStore.compactStore(spark, dir)
    assert(filesCycle2 <= Dedup.SigStore.SigBuckets)
    assert(probe2().contains((2000002L, bId, 1.0)),
      "second compaction lost the post-compact absorb")
    assert(Dedup.SigStore.buildCount.get == builds,
      "second maintenance cycle must never rebuild")
  }

  test("SigStore: each absorb adds at most SigBuckets files, however many docs the batch holds") {
    val dir = privateCorpus("documents.parquet")
    val (t, _) = Dedup.SigStore.ensure(spark, dir)
    val loc = warehouse.resolve(t)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    var files = Store.dataFileCount(loc)
    assert(files <= Dedup.SigStore.SigBuckets, s"the build wrote $files files")
    for (k <- 1 to 3) {
      val n = Dedup.SigStore.absorb(spark, dir,
        docs.select((col("doc_id") + k * 1000000L).as("doc_id"), col("text")))
      assert(n > Dedup.SigStore.SigBuckets, s"absorb $k signed only $n rows")
      val now = Store.dataFileCount(loc)
      assert(now > files && now - files <= Dedup.SigStore.SigBuckets,
        s"absorb $k of $n rows added ${now - files} files")
      files = now
    }
  }

  test("IvfIndex: an absorb that dies after staging its norm table leaves the index as committed") {
    val dir = privateCorpus("embeddings.parquet")
    val nlist = 16
    val (asg0, _) = Similarity.IvfIndex.get(spark, dir, nlist)
    val n0 = asg0.count()
    val fits = Similarity.IvfIndex.fitCount.get
    def normStored() = Similarity.IvfIndex.norms(spark, dir, nlist)
      .as[(Int, Double)].collect().toMap
    val norms0 = normStored()
    // a ×10-scaled copy of an indexed vector raises its cell's max norm
    val (id, v) = asg0.select("vec_id", "v").as[(Long, Seq[Double])]
      .collect().minBy(_._1)
    val big = Seq((id + 7000000L, v.map(_ * 10.0))).toDF("vec_id", "v")
    Store.crashAfterStaging.set(true)
    intercept[IllegalStateException](Similarity.IvfIndex.absorb(spark, dir, big, nlist))
    assert(!Store.crashAfterStaging.get, "the crash hook must self-clear")
    assert(normStored() == norms0, "the norm table changed before its swap")
    assert(Similarity.IvfIndex.get(spark, dir, nlist)._1.count() == n0,
      "the assignment grew although the absorb died")
    // a cold session serves the committed rows, with no refit
    spark.catalog.clearCache()
    Similarity.IvfIndex.deregister(spark, dir, nlist)
    assert(normStored() == norms0, "a cold session served a different norm table")
    assert(Similarity.IvfIndex.fitCount.get == fits)
    // the next absorb replaces the stale staging files and commits
    assert(Similarity.IvfIndex.absorb(spark, dir, big, nlist) == 1L)
    val norms1 = normStored()
    assert(norms1.keySet == norms0.keySet &&
      norms1.exists { case (c, mn) => mn > norms0(c) },
      "the committed absorb must raise one cell's max norm")
    assert(Similarity.IvfIndex.get(spark, dir, nlist)._1.count() == n0 + 1)
  }

  test("IvfIndex: absorb assigns new vectors to frozen cells; compact preserves bucketing, fit pinned") {
    val dir = privateCorpus("embeddings.parquet")
    val nlist = 16
    val (asg0, cent0) = Similarity.IvfIndex.get(spark, dir, nlist)
    val n0 = asg0.count()
    def ivfDdl(asg: org.apache.spark.sql.DataFrame, cent: org.apache.spark.sql.DataFrame) =
      ddl(asg) ++ ddl(cent) ++ ddl(Similarity.IvfIndex.norms(spark, dir, nlist))
    val ddlBuilt = ivfDdl(asg0, cent0)
    assert(ddlBuilt.length == 3 && ddlBuilt.head._3.isDefined,
      "expected the bucketed assignment, centroid and norm tables")
    val persisted = asg0.select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val fits = Similarity.IvfIndex.fitCount.get

    // absorb 10 copies of indexed vectors under fresh ids: their cells
    // must equal the originals' (frozen centroids, same assignment rule)
    val batch = asg0.select("vec_id", "v").as[(Long, Seq[Double])]
      .collect().sortBy(_._1).take(10)
      .map { case (id, v) => (id + 5000000L, v) }
    val n = Similarity.IvfIndex.absorb(spark, dir,
      batch.toSeq.toDF("vec_id", "v"), nlist)
    assert(n == 10, s"absorbed $n vectors, expected 10")
    assert(Similarity.IvfIndex.fitCount.get == fits, "absorb must never refit")
    val (asg1, _) = Similarity.IvfIndex.get(spark, dir, nlist)
    assert(asg1.count() == n0 + 10, "absorbed vectors missing from the index")
    val absorbed = asg1.filter(col("vec_id") >= 5000000L)
      .select("vec_id", "cell").as[(Long, Int)].collect()
    assert(absorbed.length == 10)
    absorbed.foreach { case (id, c) =>
      assert(persisted(id - 5000000L) == c,
        s"absorbed vector $id landed in cell $c != frozen ${persisted(id - 5000000L)}")
    }

    // the persisted norm augmentation (r17): built WITH the index, it
    // must equal a fresh recompute over the live assignment...
    def normRecompute() = Similarity.IvfIndex.get(spark, dir, nlist)._1
      .groupBy(col("cell"))
      .agg(max(round(graft.functions.VectorFunctions.norm2(col("v")), 6)).as("mn"))
      .as[(Int, Double)].collect().toMap
    def normStored() = Similarity.IvfIndex.norms(spark, dir, nlist)
      .as[(Int, Double)].collect().toMap
    assert(normStored() == normRecompute(),
      "persisted norm table drifted from the live assignment")
    // ...and stay true under growth: absorbing a ×10-scaled copy of an
    // indexed vector lands in the SAME cell (assignment is on
    // directions) but must RAISE that cell's stored max norm
    val (bigId, bigV) = (batch.head._1 + 4000000L, batch.head._2.map(_ * 10.0))
    val bigCell = persisted(batch.head._1 - 5000000L)
    val mnBefore = normStored()(bigCell)
    assert(Similarity.IvfIndex.absorb(spark, dir,
      Seq((bigId, bigV)).toDF("vec_id", "v"), nlist) == 1L)
    assert(Similarity.IvfIndex.fitCount.get == fits,
      "norm-merge absorb must never refit")
    val mnAfter = normStored()(bigCell)
    assert(mnAfter > mnBefore,
      s"absorbed high-norm vector did not raise cell $bigCell's max " +
        s"($mnBefore -> $mnAfter)")
    assert(normStored() == normRecompute(),
      "norm table diverged from recompute after absorb")

    val filesAfter = Similarity.IvfIndex.compactStore(spark, dir, nlist)
    assert(filesAfter <= Similarity.IvfIndex.IvfBuckets,
      s"expected <= ${Similarity.IvfIndex.IvfBuckets} files, got $filesAfter")
    assert(Similarity.IvfIndex.fitCount.get == fits, "compaction must never refit")
    val (asg2, _) = Similarity.IvfIndex.get(spark, dir, nlist)
    assert(asg2.count() == n0 + 11, "compaction lost rows")
    val all2 = asg2.select("vec_id", "cell").as[(Long, Int)].collect().toMap
    persisted.foreach { case (id, c) =>
      assert(all2(id) == c, s"compaction moved vector $id: ${all2(id)} != $c")
    }

    // cold session over the compacted index: re-register, no refit
    Similarity.IvfIndex.deregister(spark, dir, nlist)
    val (asg3, cent3) = Similarity.IvfIndex.get(spark, dir, nlist)
    assert(asg3.count() == n0 + 11)
    assert(ivfDdl(asg3, cent3) == ddlBuilt, "re-registered DDL differs from the built tables")
    assert(Similarity.IvfIndex.fitCount.get == fits,
      "cold re-register after compaction must not refit")

    // second serialized maintenance cycle (see SigStore twin): absorb
    // after compaction is live and survives another compaction
    val batch2 = batch.map { case (id, v) => (id + 1000000L, v) }
    val nB = Similarity.IvfIndex.absorb(spark, dir,
      batch2.toSeq.toDF("vec_id", "v"), nlist)
    assert(nB == 10, s"post-compact absorb landed $nB vectors, expected 10")
    val (asg4, _) = Similarity.IvfIndex.get(spark, dir, nlist)
    assert(asg4.count() == n0 + 21, "post-compact absorb missing from the index")
    val files2 = Similarity.IvfIndex.compactStore(spark, dir, nlist)
    assert(files2 <= Similarity.IvfIndex.IvfBuckets)
    val (asg5, _) = Similarity.IvfIndex.get(spark, dir, nlist)
    assert(asg5.count() == n0 + 21, "second compaction lost rows")
    assert(Similarity.IvfIndex.fitCount.get == fits,
      "second maintenance cycle must never refit")
  }

  test("GraphStore: one build serves both graphs, cold session re-registers without rebuilding, corpus mutation rebuilds deterministically") {
    import graft.operators.GraphOps
    val dir = privateCorpus("lineitem.parquet")
    val b0 = GraphOps.GraphStore.buildCount.get

    // first consumer triggers ONE build that materializes both graphs
    val knn = GraphOps.GraphStore.knn(spark, dir)
      .as[(Long, Long)].collect().sorted
    assert(GraphOps.GraphStore.buildCount.get == b0 + 1)
    assert(knn.nonEmpty)
    knn.foreach { case (s, d) => assert(s < d, "edges must be oriented src < dst") }
    val deg = (knn.map(_._1) ++ knn.map(_._2))
      .groupBy(identity).map(_._2.size)
    assert(deg.max <= GraphOps.KnnK, "mutual-kNN caps every degree at K")

    // every other consumer (both graphs) rides the same build
    val strong = GraphOps.GraphStore.strong(spark, dir)
      .as[(Long, Long)].collect().sorted
    assert(strong.nonEmpty)
    assert(GraphOps.GraphStore.buildCount.get == b0 + 1,
      "second graph must not rebuild — one derivation pass feeds both")

    // cold session over a built store: metadata-only re-registration
    def graphDdl() = Seq(GraphOps.GraphStore.strong(spark, dir),
      GraphOps.GraphStore.knn(spark, dir),
      GraphOps.GraphStore.knnDirected(spark, dir)).flatMap(ddl)
    val ddlBuilt = graphDdl()
    assert(ddlBuilt.length == 3)
    spark.catalog.clearCache()
    GraphOps.GraphStore.deregister(spark, dir)
    val knnCold = GraphOps.GraphStore.knn(spark, dir)
      .as[(Long, Long)].collect().sorted
    assert(knnCold.toSeq == knn.toSeq, "re-registered store must be bit-identical")
    assert(GraphOps.GraphStore.buildCount.get == b0 + 1,
      "cold re-register must not rebuild")
    assert(graphDdl() == ddlBuilt, "re-registered DDL differs from the built tables")

    // corpus mutation (mtime change flips the fingerprint) → rebuild,
    // and the rebuild over identical data is deterministic
    spark.catalog.clearCache()
    val li = java.nio.file.Paths.get(dir, "lineitem.parquet")
    java.nio.file.Files.setLastModifiedTime(li,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(li).toMillis + 5000))
    val knn2 = GraphOps.GraphStore.knn(spark, dir)
      .as[(Long, Long)].collect().sorted
    assert(GraphOps.GraphStore.buildCount.get == b0 + 2,
      "a mutated corpus fingerprint must rebuild the store")
    assert(knn2.toSeq == knn.toSeq,
      "rebuild over identical data must be deterministic")
  }
}
