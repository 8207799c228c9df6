package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.CommandResultExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.functions.col

/** A persisted store: artifacts derived from one corpus table, built once
  * per corpus state and reused by every later session. A family declares
  * its [[Store.Artifact]]s and supplies the build; the device owns the
  * rest.
  *
  * Identity and staleness. The store's name is
  * `graft_<family>_<sanitised dir>_<dials><corpus fingerprint>`: the dials
  * (build constants, signature contract) and the fingerprint
  * ([[Tables.Probe.corpusTag]], re-listed on every `ensure`) are part of
  * it, and each artifact's table and directory name is the name plus the
  * artifact's suffix (an artifact may carry its own family in place of
  * the store's; the marker keeps the store's). A changed dial or a
  * mutated corpus therefore changes every name: the stale store stops
  * resolving and is never served, and `ensure` builds the current one.
  * Stale stores are left on disk as orphaned files.
  *
  * Commit marker. A build is finished only when the zero-byte
  * `<warehouse>/<name>._DONE` exists; it is written after the last
  * artifact. The catalog dies with the session, so a cold session finds
  * the artifacts unregistered: with the marker (and every artifact
  * directory) present it re-registers each table from its one declared
  * DDL, with no recompute; without it the build never finished, and
  * `ensure` clears the artifact directories and builds again. The marker
  * is read only when the catalog lacks an artifact, so the warm path is
  * the fingerprint listing plus one catalog lookup per table. A build
  * that throws leaves no marker and no catalog entry.
  *
  * Single writer. `ensure`'s check-then-build is crash-safe but not
  * concurrency-safe: two sessions sharing a warehouse can both miss the
  * marker and race the build. Absorbs (parquet appends) are safe against
  * each other, but [[compact]] and [[replace]] need the store quiescent:
  * between dropping and deleting the old files and moving the staged ones
  * into place the location is empty, so a concurrent reader misses the table
  * and a concurrent append landing in that window is lost. That is the
  * maintenance-window contract of every table format without a
  * transaction log; serialize builds and `absorb* → compact` cycles per
  * warehouse (one materializer job).
  */
final class Store(family: String, source: String, dials: String,
    artifacts: Seq[Store.Artifact])(build: (SparkSession, String, Store#At) => Unit) {
  import Store._

  /** Register-or-build over the corpus under `dir`. */
  def ensure(spark: SparkSession, dir: String): At = {
    // fresh: the staleness contract hinges on seeing the corpus NOW
    val at = new At(warehousePath(spark), dir,
      Tables.Probe.corpusTag(spark, s"$dir/$source.parquet", fresh = true))
    val tables = artifacts.filter(_.columns.nonEmpty)
    if (tables.isEmpty || !tables.forall(a => spark.catalog.tableExists(at.table(a)))) {
      // the directories are checked too: a marker whose artifacts were
      // deleted by hand must rebuild, not register empty locations
      if (Files.exists(at.marker) && artifacts.forall(a => Files.isDirectory(at.dir(a))))
        tables.foreach(register(spark, at, _))
      else {
        Files.deleteIfExists(at.marker)
        artifacts.foreach { a => drop(spark, at, a); deleteRecursively(at.dir(a)) }
        try build(spark, dir, at)
        catch { case e: Throwable => artifacts.foreach(drop(spark, at, _)); throw e }
        Files.createFile(at.marker)
      }
    }
    at
  }

  /** Drop the catalog entries of every fingerprint variant of this store
    * under `dir`, keeping the files (a cold session, for specs and
    * replays). The current fingerprint alone would miss stores registered
    * under an earlier corpus state.
    */
  def deregister(spark: SparkSession, dir: String): Unit =
    Tables.dropTablesMatching(spark, artifacts.filter(_.columns.nonEmpty).map { a =>
      "(?:" + java.util.regex.Pattern.quote(prefix(a, dir).toLowerCase) + "[0-9a-f]+" +
        java.util.regex.Pattern.quote(a.suffix.toLowerCase) + ")"
    }.mkString("|").r)

  /** Append `df` to the table artifact `a`; returns the rows written, read
    * from the write's own metrics, so `df` is computed once and never
    * cached or counted.
    */
  def append(spark: SparkSession, at: Store#At, a: Artifact, df: DataFrame): Long = {
    val v = "graft_append_" + java.util.UUID.randomUUID().toString.replace("-", "")
    df.createOrReplaceTempView(v)
    try {
      val done = spark.sql(s"INSERT INTO ${at.table(a)} SELECT * FROM $v")
      PlanWalk.collectFirst(done.queryExecution.executedPlan) {
        case c: CommandResultExec => PlanWalk.collectFirst(c.commandPhysicalPlan) {
          case w: DataWritingCommandExec => w.metrics("numOutputRows").value
        }.get
      }.get
    } finally spark.catalog.dropTempView(v)
  }

  /** Rewrite the bucketed artifact `a` to one data file per bucket, keeping
    * its bucket spec; no recompute ([[replace]] over the artifact's own
    * files). Returns the data-file count afterwards (empty buckets write
    * no file).
    */
  def compact(spark: SparkSession, at: Store#At, a: Artifact): Int = {
    val (bucketCol, buckets) = a.bucket.get
    // read the FILES as a plain parquet path, not via the catalog table:
    // a bucketed-table scan advertises the bucket partitioning, the planner
    // then elides the repartition as redundant, and the write runs over
    // size-packed read splits each holding a MIX of buckets, yielding
    // O(splits × buckets) files (measured: 29 for 8 buckets). A path read
    // claims no partitioning, the repartition survives (it shares the
    // bucket writer's murmur3 hash), each task holds exactly one bucket,
    // and the write lands one file per bucket.
    replace(spark, at, a,
      Tables.parquet(spark, at.path(a)).repartition(buckets, col(bucketCol)))
    dataFileCount(at.dir(a))
  }

  /** Replace the rows of the committed artifact `a` with `df`. The rows
    * are written to a staging table first; only then do the staged files
    * replace the old ones and the declared DDL is registered again. A
    * failure before the swap leaves the committed artifact whole, and a
    * failure inside it leaves the non-atomic window of the class doc.
    */
  def replace(spark: SparkSession, at: Store#At, a: Artifact, df: DataFrame): Unit = {
    val t = at.table(a)
    val loc = at.dir(a)
    val staging = t + "_staging"
    val locS = at.warehouse.resolve(staging)
    deleteRecursively(locS)
    at.write(df, a, staging, locS.toString)
    if (crashAfterStaging.compareAndSet(true, false))
      throw new IllegalStateException(s"injected crash after staging $t")
    spark.sql(s"DROP TABLE IF EXISTS $staging") // metadata only; files stay
    spark.sql(s"DROP TABLE IF EXISTS $t")
    deleteRecursively(loc)
    Files.move(locS, loc)
    register(spark, at, a)
  }

  private def stem(fam: String, dir: String): String =
    s"graft_${fam}_" +
      dir.replaceAll("[^a-zA-Z0-9]+", "_").stripPrefix("_").stripSuffix("_") + "_" + dials

  private def prefix(a: Artifact, dir: String): String = stem(a.family.getOrElse(family), dir)

  /** The store located for one corpus state: artifact names and paths. */
  final class At private[Store] (private[Store] val warehouse: Path, corpus: String,
      tag: String) {
    def table(a: Artifact): String = prefix(a, corpus) + tag + a.suffix
    def dir(a: Artifact): Path = warehouse.resolve(table(a))
    def path(a: Artifact): String = dir(a).toString
    private[Store] def marker: Path = warehouse.resolve(stem(family, corpus) + tag + "._DONE")

    /** Write `df` as table artifact `a` at its directory, with the declared
      * bucketing, replacing whatever is there. */
    def write(df: DataFrame, a: Artifact): Unit = write(df, a, table(a), path(a))

    private[Store] def write(df: DataFrame, a: Artifact, name: String, loc: String): Unit = {
      val w = a.bucket.fold(df.write) { case (c, n) => df.write.bucketBy(n, c) }
      w.option("path", loc).mode("overwrite").saveAsTable(name)
    }
  }
}

object Store {
  /** One artifact of a store: the directory `<warehouse>/<name><suffix>`.
    * With `columns` (a DDL column list) it is also an external parquet
    * table of that schema, clustered by `bucket` = (column, count) when
    * given, and [[Store.At.write]] writes it; without, the build writes
    * plain files there and readers read the path. `family` overrides the
    * store's family in this artifact's name.
    */
  final case class Artifact(suffix: String = "", columns: String = "",
      bucket: Option[(String, Int)] = None, family: Option[String] = None)

  /** Test hook: the next [[Store.replace]] fails after its staging write
    * (self-clearing). */
  private[graft] val crashAfterStaging = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Physical-plan traversal that descends into adaptive query stages. */
  private object PlanWalk extends AdaptiveSparkPlanHelper

  private def warehousePath(spark: SparkSession): Path =
    Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)

  private def drop(spark: SparkSession, at: Store#At, a: Artifact): Unit =
    if (a.columns.nonEmpty) spark.sql(s"DROP TABLE IF EXISTS ${at.table(a)}")

  /** The one declared DDL, used by the cold-session path and compaction. */
  private def register(spark: SparkSession, at: Store#At, a: Artifact): Unit = {
    drop(spark, at, a)
    val clustered = a.bucket.fold("") { case (c, n) => s" CLUSTERED BY ($c) INTO $n BUCKETS" }
    spark.sql(s"CREATE TABLE ${at.table(a)} (${a.columns}) USING PARQUET$clustered " +
      s"LOCATION '${at.path(a)}'")
  }

  /** Recursive local-path delete. */
  private[graft] def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }

  /** Visible data files under a store location (hidden/_metadata
    * excluded): the compaction specs' observable.
    */
  private[graft] def dataFileCount(p: Path): Int = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.count { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
    }
  }
}
