package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{GraftExpressions => K, Hyperplanes}

/** Each `GraftExpressions` codegen kernel against an interpreted
  * built-in expression with the same value contract, on the same cached
  * generated column. Reports rows/s for both and fails the run if any
  * of the first [[CheckRows]] rows differs.
  */
object Kernels {
  /** Rows the equality check and the codegen/JIT warm-up run on. */
  val CheckRows = 500
  val Bands = 2
  val Bits = 6
  private val Vocab = Seq("join", "hash", "scan", "vector", "stream", "query")

  private def sumOf(arr: Column, f: Column => Column): Column =
    aggregate(transform(arr, f), lit(0.0), (s, x) => s + x)
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, x) => s + x)
  private def code(t: Column, i: Column): Column = ascii(t.substr(i, lit(1))).cast("long")

  /** name -> (input, kernel, interpreted equivalent). Input sizes keep
    * the slower (interpreted) side near a second on 4 cores. */
  private def cases(spark: SparkSession): Seq[(String, DataFrame, Column, Column)] = {
    import spark.implicits._
    def text(n: Long) = spark.range(n).map(id => graft.DataGen.documentRow(id, 1.0).text)
      .toDF("t")
    def vecs(n: Long) = spark.range(n).map { id =>
      (graft.DataGen.embeddingRow(id).embedding.map(_.toDouble),
        graft.DataGen.embeddingRow(id + n).embedding.map(_.toDouble))
    }.toDF("a", "b")
    def arrs(n: Long) = spark.range(n).map { id =>
      val k = 3 + (id % 10).toInt
      Array.tabulate(k)(j => (id * 7919L + j * 104729L) % 2000000L)
    }.toDF("x")
    val t = col("t"); val a = col("a"); val b = col("b"); val x = col("x")
    val n = size(x)
    val planes = array((0 until Bands * Bits).map(p => array(Hyperplanes.plane(p).map(lit): _*)): _*)
    Seq(
      ("rolling_hash", text(8000), K.rolling_hash(t),
        aggregate(transform(sequence(lit(1), length(t)), i => code(t, i)), lit(0L),
          (acc, c) => (acc * 31L + c) % 1000000007L)),
      ("md5_words", text(40000), K.md5_words(t),
        transform(sequence(lit(0), lit(3)), i =>
          conv(md5(t).substr(i * 8 + 1, lit(8)), 16, 10).cast("long"))),
      ("shingle_hashes", text(2500), K.shingle_hashes(t),
        transform(sequence(lit(1), greatest(length(t) - 4, lit(1))), i =>
          (code(t, i) + code(t, i + 1) * 31L + code(t, i + 2) * 961L +
            code(t, i + 3) * 29791L + code(t, i + 4) * 923521L) % 4294967291L)),
      ("vocab_hits", text(40000), K.vocab_hits(split(t, " "), Vocab),
        size(filter(split(t, " "), w => array_contains(typedLit(Vocab), w)))),
      ("cosine_sim", vecs(100000), K.cosine_sim(a, b),
        dot(a, b) / (sqrt(sumOf(a, v => v * v)) * sqrt(sumOf(b, v => v * v)))),
      ("dot_product", vecs(100000), K.dot_product(a, b), dot(a, b)),
      ("hyperplane_bands", vecs(40000), K.hyperplane_bands(a, Bands, Bits),
        transform(sequence(lit(0), lit(Bands - 1)), bb =>
          aggregate(sequence(lit(0), lit(Bits - 1)), lit(0L), (acc, j) =>
            acc + when(dot(a, element_at(planes, bb * Bits + j + 1)) >= 0,
              pow(lit(2.0), j).cast("long")).otherwise(lit(0L))))),
      ("packed_pairs", arrs(100000), K.packed_pairs(x),
        flatten(transform(sequence(lit(1), n - 1), i =>
          transform(slice(x, i + 1, n - i), y => shiftleft(element_at(x, i), 32).bitwiseOR(y))))),
      ("packed_triples", arrs(50000), K.packed_triples(x),
        flatten(transform(sequence(lit(1), n - 2), i =>
          flatten(transform(sequence(i + 1, n - 1), j =>
            transform(slice(x, j + 1, n - j), z =>
              shiftleft(element_at(x, i), 42).bitwiseOR(shiftleft(element_at(x, j), 21)).bitwiseOR(z))))))))
  }

  private def rowsPerSecond(df: DataFrame, c: Column, rows: Long): Double = {
    df.limit(CheckRows).select(c.as("o")).write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    df.select(c.as("o")).write.format("noop").mode("overwrite").save()
    rows / ((System.nanoTime() - t0) / 1e9)
  }

  def run(spark: SparkSession, res: Main.Result): Unit =
    cases(spark).foreach { case (name, input, kernel, interp) =>
      val df = input.cache()
      val rows = df.count()
      val diff = df.limit(CheckRows)
        .select(sum(when(kernel <=> interp, 0).otherwise(1))).head().getLong(0)
      res.attempted += 1
      if (diff != 0) {
        System.err.println(s"[perfbench] kernel $name differs from its interpreted twin on $diff rows")
        res.failedNames += s"kernel.$name"
      }
      res.layers(s"kernel.$name.rows_per_s") = rowsPerSecond(df, kernel, rows)
      res.layers(s"kernel.$name.interp_rows_per_s") = rowsPerSecond(df, interp, rows)
      df.unpersist()
    }
}
