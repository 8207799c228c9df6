package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge

/** Parquet table loaders for the driver-generated star schema.
  * Every loader reads through [[parquet]], so building a DataFrame runs
  * no Spark job; filters and projections applied downstream still reach
  * the scan through Catalyst (predicate pushdown, column pruning).
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** Read the flat parquet file or directory at `path` with the schema
    * Spark would infer, read from one footer on the driver
    * ([[org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
    * .footerSchema]]). A bare `spark.read.parquet` infers it in a one-task
    * Spark job while the DataFrame is built, whose scheduling costs far
    * more than the footer read it wraps; this reads it with no job.
    *
    * No memo: each call reads the footer again, so a rewritten table is
    * seen at once and there is nothing to invalidate. Paths the footer
    * cannot answer (schema merging, globs, missing or empty paths,
    * directories with subdirectories) fall back to `spark.read.parquet`,
    * which raises Spark's own errors or discovers partitions.
    *
    * Not routed through here: [[graft.operators.Maintenance.compact]]'s
    * hive-partitioned branch (its partition columns come only from Spark's
    * partition discovery), the check tool [[Verify]] (it reads back what
    * it wrote, and verifies through Spark's plain reader), and the
    * streaming source of [[eventsStream]] (a FileStreamSource takes its
    * schema up front; the schema itself comes from here).
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    GraftParquetBridge.footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(t(s, d, "events"))

  /** Canonicalize `events.ts` to Long NANOSECONDS regardless of writer
    * generation. The corpus has shipped `ts` three ways: ns-precision
    * parquet surfaced as Long via `spark.sql.legacy.parquet.nanosAsLong`
    * (the original contract every operator's `ts DIV 1000000000` epoch
    * math was written against), µs TIMESTAMP, and µs TIMESTAMP_NTZ
    * (current testdata). Converting at the single loader keeps all
    * downstream integer math unchanged; the session timezone is pinned
    * UTC (GraftSession), so the NTZ wall-clock reading IS the epoch
    * instant and the NTZ→LTZ cast is exact. Pure projection — no
    * shuffle, stream-safe, and column pruning still reaches the scan.
    */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) | None => df
      case Some(_) =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
    }
  }

  /** Bounded streaming twin of [[events]]: FileStreamSource needs the
    * RAW on-disk schema (a normalized Long `ts` would mis-declare a
    * TIMESTAMP_NTZ file), so read raw, then canonicalize the stream.
    */
  def eventsStream(s: SparkSession, d: String): DataFrame = {
    val raw = t(s, d, "events").schema
    normalizeEventTs(
      s.readStream.schema(raw).option("basePath", d).parquet(s"$d/events.*"))
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Drop every catalog table whose LOWERCASED name fully matches
    * `re` — the deregister path of the persisted stores
    * ([[Store.deregister]]). Lowercased because the session
    * catalog stores identifiers case-insensitively, so a
    * case-sensitive prefix match against a mixed-case stem silently
    * drops nothing; full-match regexes (stem + hex tag + known
    * suffix) so one corpus's stem can never swallow another corpus
    * whose sanitized dir merely extends it.
    */
  def dropTablesMatching(s: SparkSession, re: scala.util.matching.Regex): Unit =
    s.catalog.listTables().collect()
      .filter(t => re.pattern.matcher(t.name.toLowerCase).matches())
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS `${t.name}`"))

  /** Memoized corpus-size probes. Operators that derive a knob from
    * the corpus size (LSH band width via `bitsFor`) each paid a count
    * job per invocation over the same immutable test table; one count
    * per directory serves every caller in the JVM. The count is a
    * data property, so keying by directory (not session) is correct;
    * jobCount is the spec's observability hook.
    */
  object Probe {
    import java.util.concurrent.ConcurrentHashMap
    import java.util.concurrent.atomic.AtomicInteger
    private val cache = new ConcurrentHashMap[String, java.lang.Long]()
    val jobCount = new AtomicInteger(0)

    /** Memoized PER CORPUS STATE, not per directory: the cache key
      * includes the corpus fingerprint, so a mutated table gets a
      * fresh count (the count JOB runs once per corpus state —
      * jobCount is the spec's observability hook). A directory-keyed
      * memo served stale counts to every corpus-scaled knob (LSH
      * plane count, PQ shortlist) after exactly the mutations the
      * staleness contract detects. The fingerprint itself rides the
      * TTL'd [[corpusTag]] cache: a mutation is visible to these
      * KNOB probes within one TTL window (or immediately after any
      * index `ensure`, which always re-lists) — a bounded delay on a
      * tuning dial, never on index identity.
      */
    def embeddingsCount(s: SparkSession, d: String): Long =
      cache.computeIfAbsent(
        s"$d/embeddings/${corpusTag(s, s"$d/embeddings.parquet")}", _ => {
          jobCount.incrementAndGet()
          embeddings(s, d).count()
        })

    /** Corpus fingerprint for persisted-index staleness detection: an
      * order-independent combination of every data file's
      * (path, length, mtime) entry hash — NOT a (count, bytes, newest
      * mtime) summary, which misses file REPLACEMENTS that keep the
      * aggregate shape. Residual blind spots, stated plainly: an
      * in-place rewrite of one file to the SAME length within the
      * filesystem's mtime granularity leaves its entry hash — and so
      * the tag — unchanged (only a content checksum would catch it,
      * at a full-read cost this probe must not pay), and distinct
      * corpus states collide with ~2^-63 probability (63-bit tag).
      * The listing routes through [[graft.operators.Maintenance
      * .listEntries]]: small trees walk on the driver (one recursive
      * listing, O(1) memory); past [[TagParallelListDirs]] first-level
      * subdirectories it fans out as a distributed job — the same
      * million-file design point compact's listing already handles,
      * on the same code path. The entry hash sums commutatively, so
      * driver and distributed listings produce the SAME tag.
      *
      * The tag is MEMOIZED for [[TagTtlNanos]] (~2 s): a single query
      * issues several probes (ensure, embeddingsCount, per-table
      * names) and each paid a full recursive listing — O(files) per
      * query at the million-file design point. Staleness-critical
      * callers (index/store `ensure`) pass `fresh = true` and always
      * re-list; TTL'd readers can be at most one window behind, which
      * only delays a knob refresh, never serves a stale INDEX.
      */
    @volatile private[graft] var TagTtlNanos: Long = 2L * 1000 * 1000 * 1000
    /** First-level subdir count past which the tag listing fans out as
      * a Spark job (test knob; defaults to compact's threshold). */
    @volatile private[graft] var TagParallelListDirs: Int =
      graft.operators.Maintenance.ParallelListDirs
    private val tagCache = new ConcurrentHashMap[String, (Long, String)]()
    /** Recursive listings actually performed (spec observability). */
    val listCount = new AtomicInteger(0)

    def corpusTag(s: SparkSession, tablePath: String,
        fresh: Boolean = false): String = {
      val now = System.nanoTime()
      if (!fresh) {
        val hit = tagCache.get(tablePath)
        if (hit != null && now - hit._1 < TagTtlNanos) return hit._2
      }
      val p = new org.apache.hadoop.fs.Path(tablePath)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      listCount.incrementAndGet()
      // single-file tables (the driver corpus layout) short-circuit;
      // directories share Maintenance.listEntries' driver/distributed
      // split. Hidden files (_SUCCESS, .crc) never count as corpus.
      val entries: Seq[(String, Long, Long)] =
        if (!fs.getFileStatus(p).isDirectory) {
          val st = fs.getFileStatus(p)
          Seq((st.getPath.getName, st.getLen, st.getModificationTime))
        } else graft.operators.Maintenance.listEntries(
          s, p.makeQualified(fs.getUri, fs.getWorkingDirectory), fs,
          TagParallelListDirs,
          name => !name.startsWith("_") && !name.startsWith("."))
      var acc = 0L
      var n = 0L
      entries.foreach { case (rel, len, mtime) =>
        n += 1
        // rel path (not absolute): the tag identifies the corpus
        // CONTENT layout, and driver/distributed listings agree on it
        val h = scala.util.hashing.MurmurHash3.stringHash(s"$rel|$len|$mtime")
        // sum is commutative: listing order never changes the tag
        acc += h.toLong
      }
      val tag = ((acc ^ n) & 0x7fffffffffffffffL).toHexString
      tagCache.put(tablePath, (now, tag))
      tag
    }
  }
}
