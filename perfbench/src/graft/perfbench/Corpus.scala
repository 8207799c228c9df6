package graft.perfbench

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import graft.DataGen

/** Seeded corpora over DataGen's pure row functions.
  *
  * The seed selects a row-id window for the fact tables: window `k`
  * covers ids `[k*n, (k+1)*n)` where `n` is the table's row count at
  * the scale factor, so distinct seeds give disjoint rows and seed 0
  * reproduces `DataGen.generate`'s rows exactly. The dimension tables
  * (region, nation, supplier, customer, part) do not move, so every
  * foreign key still resolves.
  *
  * Two tables keep the shape the queries rely on:
  *  - events: the timestamp is rebased onto DataGen's 30-day span
  *    (row i of the window sits where row i of seed 0 sits), so fixed
  *    time grids see the same density on every seed;
  *  - embeddings: content comes from the window, but `vec_id` stays
  *    `0..n-1`, because the ANN query panel is `vec_id < 2000`.
  *
  * Timestamps are written as TIMESTAMP_NTZ (µs), as in the shipped test
  * corpus. Big tables are written as several files in parallel (see
  * [[filesFor]]); `layout` reports what landed on disk.
  */
object Corpus {
  val Dimensions = Seq("region", "nation", "supplier", "customer", "part")

  /** Rows per output file (and generating task), at most one per core. */
  val RowsPerFile = 400000L

  def filesFor(table: String, sf: Double, cores: Int): Int = {
    val n = DataGen.rowsFor(table, sf)
    math.max(1, math.min(cores.toLong, (n + RowsPerFile - 1) / RowsPerFile).toInt)
  }

  private def window(table: String, sf: Double, seed: Long): (Long, Long) = {
    val n = DataGen.rowsFor(table, sf)
    (seed * n, seed * n + n)
  }

  /** Micros to shift an event of window row `off + i` back onto row i. */
  private def eventShiftMicros(off: Long, sf: Double): Long = {
    val n = DataGen.rowsFor("events", sf)
    (BigInt(off) * (30L * 86400L * 1000000L) / n).toLong
  }

  def table(spark: SparkSession, name: String, sf: Double, seed: Long,
      parts: Int): DataFrame = {
    import spark.implicits._
    if (Dimensions.contains(name)) return DataGen.table(spark, name, sf)
    name match {
      case "orders" =>
        val (a, b) = window(name, sf, seed)
        spark.range(a, b, 1, parts).map(id => DataGen.orderRow(id, sf)).toDF()
      case "lineitem" =>
        val (a, b) = window("orders", sf, seed)
        spark.range(a, b, 1, parts).flatMap { ok =>
          (1 to DataGen.linesPerOrder(ok)).map(ln => DataGen.lineitemRow(ok, ln, sf))
        }.toDF()
      case "events" =>
        val (a, b) = window(name, sf, seed)
        val shift = eventShiftMicros(a, sf)
        spark.range(a, b, 1, parts).map { id =>
          val e = DataGen.eventRow(id, sf)
          val us = e.ts.getTime / 1000 * 1000000L + e.ts.getNanos / 1000 - shift
          e.copy(ts = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
            Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)))
        }.toDF()
      case "documents" =>
        val (a, b) = window(name, sf, seed)
        spark.range(a, b, 1, parts).map(id => DataGen.documentRow(id, sf)).toDF()
      case "embeddings" =>
        val (a, _) = window(name, sf, seed)
        val n = DataGen.rowsFor(name, sf)
        spark.range(0, n, 1, parts)
          .map(i => DataGen.embeddingRow(a + i).copy(vec_id = i)).toDF()
      case other => sys.error(s"unknown table: $other")
    }
  }

  /** Documents that arrive after the corpus: the id window right after
    * the seed's document window, so DataGen's near-duplicate planting
    * (copies of the previous 24 ids) reaches back into the corpus for
    * the first batch and into earlier batches after that.
    */
  def arrivingDocs(spark: SparkSession, sf: Double, seed: Long, from: Long,
      n: Int): DataFrame = {
    import spark.implicits._
    val (_, end) = window("documents", sf, seed)
    spark.range(end + from, end + from + n, 1, 1)
      .map(id => DataGen.documentRow(id, sf)).toDF()
      .select(col("doc_id"), col("text"))
  }

  /** Write every table, all tables at once (one Spark job each); returns
    * seconds per table. Timestamps land as TIMESTAMP_NTZ like the shipped
    * test corpus. */
  def generate(spark: SparkSession, sf: Double, seed: Long, outDir: String,
      cores: Int, tables: Seq[String]): Seq[(String, Double)] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tables.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(tables.map(t => Future(write(spark, t, sf, seed, outDir, cores)))),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }

  private def write(spark: SparkSession, t: String, sf: Double, seed: Long,
      outDir: String, cores: Int): (String, Double) = {
    val t0 = System.nanoTime()
    val parts = filesFor(t, sf, cores)
    val df = table(spark, t, sf, seed, parts)
    val ntz = df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == org.apache.spark.sql.types.TimestampType)
        d.withColumn(f.name, col(f.name).cast("timestamp_ntz"))
      else d
    }
    ntz.coalesce(parts).write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
    t -> (System.nanoTime() - t0) / 1e9
  }

  /** (files, row groups, bytes) per table, read from the parquet footers. */
  def layout(spark: SparkSession, dir: String, tables: Seq[String]): Seq[(String, Int, Int, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    tables.map { t =>
      val d = new java.io.File(s"$dir/$t.parquet")
      val files = Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)
      val groups = files.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRowGroups.size() finally r.close()
      }.sum
      (t, files.length, groups, files.map(_.length).sum)
    }
  }
}
