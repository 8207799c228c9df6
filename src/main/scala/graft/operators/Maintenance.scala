package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Table-maintenance utilities (SURVEY.md §2: H6/J6) — the layout
  * operations that keep a 100 TB table scannable:
  *
  *  - [[compact]]: small-file compaction. Streaming sinks and
  *    fine-grained ingest leave thousands of KB-sized files; every
  *    scan then pays a task per file and the NameNode/listing pays
  *    per entry. Compaction rewrites a directory into ~targetBytes
  *    files — the row data never touches the driver, only file
  *    STATUS listings do.
  *
  *  - [[clusteredWrite]]: range-partitioned, sorted-within-partition
  *    write. Clustering by a filter column gives every output file a
  *    tight min/max range on that column, so parquet row-group stats
  *    (and file-level pruning in table formats) can skip everything
  *    outside a query's range — the layout prerequisite for
  *    time-range scans over an events table.
  */
object Maintenance {

  /** Rewrite the parquet directory at `inPath` into approximately
    * `targetBytes`-sized files at `outPath`. Returns the planned output
    * file count.
    *
    * A hive-partitioned input (`key=value` subdirectories) stays
    * hive-partitioned: the same keys are written back with
    * `partitionBy`, so downstream scans keep partition pruning — a
    * compaction that flattened the layout would silently turn every
    * pruned scan into a full-table scan. Partition VALUES are written
    * back in their original on-disk string form (decoded from the raw
    * dir segments, not the values partition inference normalizes them
    * to), so directory names — and any reader filtering on the raw
    * strings — survive byte-for-byte. (A null-partition
    * `__HIVE_DEFAULT_PARTITION__` dir round-trips as that literal
    * segment, which readers still interpret as null.) File counts are planned PER
    * PARTITION from the listing's byte sums (a skewed partition gets
    * proportionally more files), carried to the rows by a broadcast
    * join on the partition values, and realized by salting inside each
    * partition — one distributed read+shuffle+write pass, no
    * per-partition driver jobs.
    *
    * A flat input uses a round-robin repartition (no shuffle key
    * needed — compaction must not assume one).
    */
  /** First-level subdirectory count past which [[compact]]'s listing
    * fans out as a Spark job instead of walking on the driver.
    */
  val ParallelListDirs = 32

  /** Recursive (partition-dir segments, byte length) listing of the
    * parquet data files under `root`. Small trees walk on the driver;
    * past `parallelThreshold` first-level subdirectories the
    * per-directory recursion runs as a distributed job over the
    * subdirectory paths (the InMemoryFileIndex pattern) — at 100 TB a
    * table holds millions of files across thousands of partitions and
    * a driver-side walk serializes on per-entry metadata RPC latency.
    *
    * Segments come back in RAW (URI-encoded) form: the same encoding
    * family `input_file_name()` reports, so the provenance join in
    * [[compact]] compares like with like even for escaped characters.
    */
  private[graft] def listDataFiles(spark: SparkSession, root: Path,
      fs: org.apache.hadoop.fs.FileSystem,
      parallelThreshold: Int): Seq[(Seq[String], Long)] =
    listEntries(spark, root, fs, parallelThreshold,
      name => name.endsWith(".parquet"))
      .map { case (rel, len, _) => (rel.split('/').dropRight(1).toSeq, len) }

  /** Generic recursive listing under `root`: every file whose NAME
    * passes `keep` comes back as (raw URI-encoded rel path, length,
    * mtime). Small trees walk on the driver; past `parallelThreshold`
    * first-level subdirectories the per-directory recursion runs as a
    * distributed job (shared by [[listDataFiles]] and
    * [[graft.Tables.Probe.corpusTag]] — one million-file code path,
    * not two).
    */
  private[graft] def listEntries(spark: SparkSession, root: Path,
      fs: org.apache.hadoop.fs.FileSystem, parallelThreshold: Int,
      keep: String => Boolean): Seq[(String, Long, Long)] = {
    def relEntries(f: org.apache.hadoop.fs.FileSystem, base: Path,
        start: Path): Seq[(String, Long, Long)] = {
      val buf = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
      val it = f.listFiles(start, true)
      while (it.hasNext) {
        val s = it.next()
        if (keep(s.getPath.getName)) {
          val rel = base.toUri.relativize(s.getPath.toUri).getRawPath
          buf += ((rel, s.getLen, s.getModificationTime))
        }
      }
      buf.toSeq
    }
    val top = fs.listStatus(root)
    val dirs = top.filter(_.isDirectory)
    if (dirs.length < parallelThreshold) relEntries(fs, root, root)
    else {
      // top-level files (flat tables mixing in) still list driver-side;
      // each subdirectory's recursion becomes one task. The hadoop conf
      // ships as Writable bytes (Configuration is not Serializable).
      val direct = top.filter(s => !s.isDirectory && keep(s.getPath.getName))
        .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).toSeq
      val confBytes = {
        val baos = new java.io.ByteArrayOutputStream()
        spark.sparkContext.hadoopConfiguration.write(
          new java.io.DataOutputStream(baos))
        baos.toByteArray
      }
      val rootStr = root.toString
      val paths = dirs.map(_.getPath.toString).toSeq
      val nested = spark.sparkContext
        .parallelize(paths, math.min(paths.size, spark.sparkContext.defaultParallelism))
        .mapPartitions { it =>
          val conf = new org.apache.hadoop.conf.Configuration(false)
          conf.readFields(new java.io.DataInputStream(
            new java.io.ByteArrayInputStream(confBytes)))
          val base = new Path(rootStr)
          val f = base.getFileSystem(conf)
          it.flatMap(p => relEntries(f, base, new Path(p)))
        }.collect().toSeq
      direct ++ nested
    }
  }

  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long = 128L * 1024 * 1024,
      parallelListThreshold: Int = ParallelListDirs): Int = {
    val fs = new Path(inPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // RECURSIVE listing: hive-partitioned tables keep their data files
    // under key=value subdirectories — a top-level-only listing sums 0
    // bytes there and the whole table would rewrite through ONE task
    // as one giant file, the opposite of compaction. Directory segments
    // between root and file name = `key=value` pairs in a hive layout,
    // empty for a flat one.
    val root = new Path(inPath).makeQualified(fs.getUri, fs.getWorkingDirectory)
    val files = listDataFiles(spark, root, fs, parallelListThreshold)
    require(files.nonEmpty && files.map(_._2).sum > 0L,
      s"no parquet data files found under $inPath")
    val partCols = files.head._1.takeWhile(_.contains('=')).map(_.takeWhile(_ != '='))
    // EVERY file must sit under exactly this key=value chain (a mixed or
    // non-hive nesting cannot be compacted partition-aware)
    require(files.forall(f => f._1.map(_.takeWhile(_ != '=')) == partCols &&
        f._1.forall(_.contains('='))),
      s"inconsistent partition layout under $inPath")

    if (partCols.isEmpty) {
      val totalBytes = files.map(_._2).sum
      val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
      graft.Tables.parquet(spark, inPath)
        .repartition(nOut)
        .write.mode(SaveMode.Overwrite).parquet(outPath)
      nOut
    } else {
      // bytes → planned file count per partition DIRECTORY, keyed by
      // the raw on-disk `key=value/...` chain. Rows are joined to the
      // plan by the directory their file physically lives in
      // (input_file_name), NOT by comparing partition VALUES — value
      // matching silently drops rows when Spark's partition-value
      // inference disagrees with the dir string ("01" scans as 1,
      // escaped characters decode differently), and a mismatch here is
      // data loss in a maintenance utility.
      val plan: Map[String, Int] = files.toSeq
        .groupBy(_._1.mkString("/"))
        .map { case (dirKey, fs0) =>
          dirKey -> math.max(1, math.ceil(fs0.map(_._2).sum.toDouble / targetBytes).toInt)
        }
      val totalFiles = plan.values.sum
      // the plan also carries each partition column's ORIGINAL value,
      // decoded driver-side from the raw dir segment: the rewrite must
      // write back the on-disk key=value strings, not the values
      // partition inference normalized them to (bucket=00 read back as
      // int 1 would REWRITE the directory name and type — downstream
      // readers filtering on the raw string then match nothing)
      val pvCols = partCols.indices.map(i => s"__pv$i")
      val planSchema = StructType(
        StructField("__dir", StringType) +: StructField("__nfiles", IntegerType) +:
          pvCols.map(StructField(_, StringType)))
      val planRows = plan.toSeq.map { case (d, n) =>
        val vals = d.split('/').map { seg =>
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(seg.substring(seg.indexOf('=') + 1))
        }
        Row.fromSeq(d +: n +: vals.toSeq)
      }
      val planDf = spark.createDataFrame(
        java.util.Arrays.asList(planRows: _*), planSchema)

      val df = spark.read.parquet(inPath)
      val dataCols = df.columns.filterNot(partCols.contains)
      // the file's last (depth+1) path segments minus the file name =
      // its raw partition chain — prefix-independent, so the scheme/
      // slash form of input_file_name's URI never matters
      val depth = partCols.length
      val dirOfRow = substring_index(
        substring_index(input_file_name(), "/", -(depth + 1)), "/", depth)
      // LEFT join + per-row guard fused into the (live) salt column:
      // if an encoding corner ever made a row's directory miss the
      // plan, compaction must FAIL LOUDLY — an inner join would
      // silently drop the partition, and a standalone guard column
      // would be pruned as unused. assert_true yields null on success,
      // so coalesce keeps the real salt.
      val replaced = df.withColumn("__dir", dirOfRow)
        .join(broadcast(planDf), Seq("__dir"), "left")
        .withColumn("__salt", coalesce(
          assert_true(col("__nfiles").isNotNull,
            concat(lit("compact: no plan entry for partition dir "), col("__dir"))).cast("long"),
          pmod(xxhash64(dataCols.map(col): _*), col("__nfiles").cast("long"))))
      // swap each inferred partition column for the plan's original raw
      // string, so partitionBy re-escapes to the identical dir names
      val rawPart = partCols.zipWithIndex.foldLeft(replaced) {
        case (acc, (pc, i)) => acc.withColumn(pc, col(s"__pv$i"))
      }
      rawPart
        .repartition(totalFiles, (partCols.map(col) :+ col("__salt")): _*)
        .drop(("__salt" +: "__nfiles" +: "__dir" +: pvCols): _*)
        .write.mode(SaveMode.Overwrite).partitionBy(partCols: _*).parquet(outPath)
      totalFiles
    }
  }

  /** Range-partition `df` on `clusterCol` into `nFiles` sorted files.
    * Output files carry disjoint [min, max] ranges of `clusterCol`
    * (range partitioner boundaries + within-partition sort), so
    * min/max statistics prune whole files for range predicates.
    */
  def clusteredWrite(df: DataFrame, clusterCol: String, nFiles: Int,
      outPath: String): Unit =
    df.repartitionByRange(nFiles, col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode(SaveMode.Overwrite).parquet(outPath)

  /** Morton bit-spread of a 16-bit value into the even bit positions
    * of a 32-bit lane — the classic mask-shift cascade, expressed as
    * Column arithmetic so the whole Z-value stays inside codegen.
    */
  private def spread16(c: Column): Column = {
    var x = c.cast("long")
    x = (x.bitwiseOR(shiftleft(x, 8))).bitwiseAND(lit(0x00FF00FFL))
    x = (x.bitwiseOR(shiftleft(x, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    x = (x.bitwiseOR(shiftleft(x, 2))).bitwiseAND(lit(0x33333333L))
    x = (x.bitwiseOR(shiftleft(x, 1))).bitwiseAND(lit(0x55555555L))
    x
  }

  /** Z-ORDER clustered write: interleaves two numeric columns into a
    * Morton code and range-partitions + sorts on it, so output files
    * tile BOTH dimensions — min/max file statistics then prune range
    * predicates on either column (a 1-D clustered layout prunes one
    * dimension and leaves the other full-span per file). This is the
    * lakehouse OPTIMIZE ZORDER capability for the two-filter-column
    * events table case.
    *
    * Columns are linearly scaled to 16-bit lanes from their global
    * min/max (one tiny aggregate, broadcast back — nothing collects);
    * heavily skewed columns would want rank buckets instead, which
    * composes here as a pre-computed column. One distributed pass.
    */
  def zorderWrite(df: DataFrame, colA: String, colB: String, nFiles: Int,
      outPath: String): Unit = {
    val stats = df.agg(
      min(col(colA)).cast("double").as("__amin"), max(col(colA)).cast("double").as("__amax"),
      min(col(colB)).cast("double").as("__bmin"), max(col(colB)).cast("double").as("__bmax"))
    def lane(c: Column, lo: Column, hi: Column): Column =
      least(lit(65535L), floor(
        (c.cast("double") - lo) / greatest(hi - lo, lit(1e-300)) * 65536.0).cast("long"))
    val withStats = df.crossJoin(broadcast(stats))
    val z = spread16(lane(col(colA), col("__amin"), col("__amax")))
      .bitwiseOR(shiftleft(spread16(lane(col(colB), col("__bmin"), col("__bmax"))), 1))
    withStats
      .repartitionByRange(nFiles, z)
      .sortWithinPartitions(z)
      .drop("__amin", "__amax", "__bmin", "__bmax")
      .write.mode(SaveMode.Overwrite).parquet(outPath)
  }
}
