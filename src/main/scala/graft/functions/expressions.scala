package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions (SURVEY.md §2: B5, and the hot-path
  * kernel behind C5/D1/D2). Both implement `doGenCode`, so they stay
  * inside whole-stage codegen — no UDF boxing, no interpreted
  * higher-order-function lambdas in the inner loop.
  */

/** Polynomial rolling hash of a string: fold (h*31 + charCode) % mod
  * over the characters. Engine-portable contract: equals DuckDB's
  * `list_reduce(list_transform(generate_series(1, length(t)), i ->
  * ascii(substr(t,i,1))::BIGINT), (acc,c) -> (acc*31 + c) % mod)`
  * for ASCII input.
  */
case class RollingHash(child: Expression, modulus: Long = 1000000007L)
    extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = (h * 31L + s.charAt(i)) % modulus
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |java.lang.String $s = $c.toString();
         |long $h = 0L;
         |for (int $i = 0; $i < $s.length(); $i++) {
         |  $h = ($h * 31L + $s.charAt($i)) % ${modulus}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

/** Cosine similarity of two double arrays in a single fused loop.
  * Accumulation is left-to-right (index order) and the result is
  * dot / (sqrt(n1) * sqrt(n2)) — the same shape as the oracle SQL
  * (`sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y)))` over unnest in
  * list order), so values agree bit-for-bit before rounding.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Raw dot product of two double arrays in one fused left-to-right
  * loop — the MIPS kernel (D23): inner product, NOT cosine, so vector
  * magnitude matters. Same engine contract as [[CosineSim]]: the
  * oracle's `sum(x*y)` over unnest in list order adds the identical
  * IEEE terms in the identical order.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** All k-shingle polynomial hashes of a string in ONE pass — the
  * vectorized kernel behind the dedup shingle stream. Value contract
  * (unchanged from the scalar path, so every oracle stays valid):
  * window i (1-based, `max(len-k+1, 1)` windows) hashes to
  * `(sum_j cp(i+j) * 31^j) % modulus` with out-of-range characters
  * contributing 0 — exactly `shingleHash(substr(t, i, k))` of
  * TextFunctions, and exactly the oracle's
  * `ascii(substr(t,i+j,1)) * 31^j` sum. Replaces, per shingle, a
  * substring allocation + 5 single-char substrings + 5 ascii() calls
  * with 5 multiply-adds over a shared codepoint array — the dominant
  * round-2 cost of q_ngram_jaccard / q_minhash_lsh.
  */
case class ShingleHashes(child: Expression, k: Int = 5,
    modulus: Long = 4294967291L) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val cp = input.asInstanceOf[UTF8String].toString.codePoints().toArray
    val n = math.max(cp.length - (k - 1), 1)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      var h = 0L
      var w = 1L
      var j = 0
      while (j < k) {
        val c = if (i + j < cp.length) cp(i + j).toLong else 0L
        h += c * w
        w *= 31L
        j += 1
      }
      out(i) = h % modulus
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cps = ctx.freshName("cps")
      val n = ctx.freshName("n")
      val arr = ctx.freshName("arr")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val w = ctx.freshName("w")
      val cc = ctx.freshName("cc")
      s"""
         |int[] $cps = $c.toString().codePoints().toArray();
         |int $n = java.lang.Math.max($cps.length - ${k - 1}, 1);
         |long[] $arr = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = 0L; long $w = 1L;
         |  for (int $j = 0; $j < $k; $j++) {
         |    long $cc = ($i + $j < $cps.length) ? (long) $cps[$i + $j] : 0L;
         |    $h += $cc * $w; $w *= 31L;
         |  }
         |  $arr[$i] = $h % ${modulus}L;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** MinHash signature of one document in ONE loop — the kernel behind the
  * persisted signature store's build, probe and absorb. Folds the
  * document's shingle hashes (the [[ShingleHashes]] array) into
  * `perms.size` minima `min((a·h + b) % prime)`, skipping every hash in
  * the `hot` list (the store's df cut), and returns null when no hash
  * survives (a null input, or every shingle hot). Value contract: equal
  * to the explode → hot anti-join → distinct → per-permutation `min`
  * chain it replaced, because `min` ignores multiplicity. Every hash must
  * lie in `[0, prime)` — the bound that keeps `a·h + b` exact in a Long
  * for `a, b < 2^31` — and one outside it fails loudly.
  */
case class MinhashSignature(child: Expression, hot: Seq[Long],
    perms: Seq[(Long, Long)], prime: Long) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_signature"
  // the hot list runs to thousands of hashes: plans print its size only
  override def toString: String = s"$prettyName($child, hot[${hot.size}])"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, false) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_signature requires array<bigint> (no null elements), got ${other.catalogString}")
    }

  @transient private lazy val hotSorted: Array[Long] = hot.toArray.sorted
  @transient private lazy val permA: Array[Long] = perms.map(_._1).toArray
  @transient private lazy val permB: Array[Long] = perms.map(_._2).toArray

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val m = Array.fill(permA.length)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < hs.numElements()) {
      val h = hs.getLong(i)
      if (h < 0L || h >= prime)
        throw new IllegalArgumentException(
          s"minhash_signature: shingle hash $h outside [0, $prime)")
      if (java.util.Arrays.binarySearch(hotSorted, h) < 0) {
        any = true
        var j = 0
        while (j < permA.length) {
          val v = (permA(j) * h + permB(j)) % prime
          if (v < m(j)) m(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (any) new org.apache.spark.sql.catalyst.util.GenericArrayData(m) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hotRef = ctx.addReferenceObj("mhHot", hotSorted, "long[]")
    val aRef = ctx.addReferenceObj("mhA", permA, "long[]")
    val bRef = ctx.addReferenceObj("mhB", permB, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val m = ctx.freshName("m")
      val any = ctx.freshName("any")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      s"""
         |long[] $m = new long[${permA.length}];
         |java.util.Arrays.fill($m, Long.MAX_VALUE);
         |boolean $any = false;
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  long $h = $c.getLong($i);
         |  if ($h < 0L || $h >= ${prime}L) {
         |    throw new IllegalArgumentException(
         |      "minhash_signature: shingle hash " + $h + " outside [0, $prime)");
         |  }
         |  if (java.util.Arrays.binarySearch($hotRef, $h) < 0) {
         |    $any = true;
         |    for (int $j = 0; $j < ${permA.length}; $j++) {
         |      long $v = ($aRef[$j] * $h + $bRef[$j]) % ${prime}L;
         |      if ($v < $m[$j]) $m[$j] = $v;
         |    }
         |  }
         |}
         |if ($any) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($m);
         |} else {
         |  ${ev.isNull} = true;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}

/** All ordered pairs (x(i), x(j)), i < j, of a long array, each packed
  * as `(x(i) << 32) | x(j)` — the codegen kernel behind the co-supply
  * pair generation (M-block). Value contract: the packed long unpacks
  * exactly to the struct pairs the previous nested-HOF form emitted
  * (`src = p >>> 32`, `dst = p & 0xFFFFFFFF`), so every downstream
  * (src, dst) group is unchanged. Replaces, per input row, an
  * interpreted flatten(transform(transform(slice))) lambda chain
  * (HOFs do not participate in whole-stage codegen) with one fused
  * i<j loop writing primitive longs. Fails loudly if any value falls
  * outside [0, 2^31) — packing would corrupt pairs silently.
  */
case class PackedPairs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      // containsNull rejected up front (r17 ADVICE): toLongArray NPEs
      // opaquely on a null element — fail at analysis with a message
      case ArrayType(LongType, false) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"packed_pairs requires array<bigint> (no null elements), got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData].toLongArray()
    val n = xs.length
    // n(n-1)/2 in 32-bit overflows (or goes negative) at n ≈ 65536+;
    // the kernel's fail-loud philosophy, not a silent truncation
    if (n > 65535)
      throw new IllegalArgumentException(
        s"packed_pairs: input of $n elements would emit ${n.toLong * (n - 1) / 2} pairs (int overflow)")
    var i = 0
    while (i < n) {
      if (xs(i) < 0L || xs(i) >= (1L << 31))
        throw new IllegalArgumentException(
          s"packed_pairs: value ${xs(i)} outside [0, 2^31)")
      i += 1
    }
    val out = new Array[Long](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = (xs(i) << 32) | xs(j)
        k += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val xs = ctx.freshName("xs")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      s"""
         |long[] $xs = $c.toLongArray();
         |int $n = $xs.length;
         |if ($n > 65535) {
         |  throw new IllegalArgumentException(
         |    "packed_pairs: input of " + $n + " elements would emit " +
         |    ((long) $n * ($n - 1) / 2) + " pairs (int overflow)");
         |}
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($xs[$i] < 0L || $xs[$i] >= (1L << 31)) {
         |    throw new IllegalArgumentException(
         |      "packed_pairs: value " + $xs[$i] + " outside [0, 2^31)");
         |  }
         |}
         |long[] $out = new long[$n * ($n - 1) / 2];
         |int $k = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  for (int $j = $i + 1; $j < $n; $j++) {
         |    $out[$k++] = ($xs[$i] << 32) | $xs[$j];
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PackedPairs =
    copy(child = newChild)
}

/** All ordered index/value triples (x(i), x(j), x(k)), i < j < k, of a
  * long array, each packed into one long as `(x(i) << 42) | (x(j) <<
  * 21) | x(k)` — the 3-itemset sibling of [[PackedPairs]] (the A49
  * basket lattice). Value contract: unpacking (`a = p >>> 42`,
  * `b = (p >>> 21) & 0x1FFFFF`, `c = p & 0x1FFFFF`) yields exactly the
  * struct triples the nested-HOF form emitted, in the same i<j<k loop
  * order. Inputs must sit in [0, 2^21) — enough for any basket/array
  * INDEX domain (the intended caller packs `sequence(0, n-1)` and
  * re-attaches payloads by `element_at`) — and arrays are capped so
  * n(n-1)(n-2)/6 stays an int; both violations fail loudly.
  */
case class PackedTriples(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, false) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"packed_triples requires array<bigint> (no null elements), got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData].toLongArray()
    val n = xs.length
    if (n > 2344)
      throw new IllegalArgumentException(
        s"packed_triples: input of $n elements would emit ${n.toLong * (n - 1) * (n - 2) / 6} triples (int overflow)")
    var i = 0
    while (i < n) {
      if (xs(i) < 0L || xs(i) >= (1L << 21))
        throw new IllegalArgumentException(
          s"packed_triples: value ${xs(i)} outside [0, 2^21)")
      i += 1
    }
    val out = new Array[Long](n * (n - 1) * (n - 2) / 6)
    var t = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        var k = j + 1
        while (k < n) {
          out(t) = (xs(i) << 42) | (xs(j) << 21) | xs(k)
          t += 1
          k += 1
        }
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val xs = ctx.freshName("xs")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val t = ctx.freshName("t")
      s"""
         |long[] $xs = $c.toLongArray();
         |int $n = $xs.length;
         |if ($n > 2344) {
         |  throw new IllegalArgumentException(
         |    "packed_triples: input of " + $n + " elements would emit " +
         |    ((long) $n * ($n - 1) * ($n - 2) / 6) + " triples (int overflow)");
         |}
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($xs[$i] < 0L || $xs[$i] >= (1L << 21)) {
         |    throw new IllegalArgumentException(
         |      "packed_triples: value " + $xs[$i] + " outside [0, 2^21)");
         |  }
         |}
         |long[] $out = new long[$n * ($n - 1) * ($n - 2) / 6];
         |int $t = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  for (int $j = $i + 1; $j < $n; $j++) {
         |    for (int $k = $j + 1; $k < $n; $k++) {
         |      $out[$t++] = ($xs[$i] << 42) | ($xs[$j] << 21) | $xs[$k];
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PackedTriples =
    copy(child = newChild)
}

/** Count of array elements contained in a fixed string vocabulary
  * (with multiplicity; null elements count as not-in) — the codegen
  * kernel behind [[TextFunctions.vocabHits]]. Value contract:
  * identical to `size(filter(toks, t -> array_contains(vocab, t)))`
  * and to the oracle's `len(list_filter(toks, t ->
  * list_contains([...], t)))`. Replaces an interpreted ArrayFilter
  * lambda that linear-scanned the vocabulary literal per token with
  * one hash-set probe per token inside whole-stage codegen.
  */
case class VocabHits(child: Expression, vocab: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vocab_hits requires array<string> input, got ${other.catalogString}")
    }

  @transient private lazy val vocabSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](vocab.size * 2)
    vocab.foreach(v => s.add(UTF8String.fromString(v)))
    s
  }

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    var hits = 0
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i) && vocabSet.contains(xs.getUTF8String(i))) hits += 1
      i += 1
    }
    hits
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("vocabSet", vocabSet,
      "java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>")
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val hits = ctx.freshName("hits")
      s"""
         |int $n = $c.numElements();
         |int $hits = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$c.isNullAt($i) && $setRef.contains($c.getUTF8String($i))) $hits++;
         |}
         |${ev.value} = $hits;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): VocabHits =
    copy(child = newChild)
}

/** All hyperplane-LSH band values of an embedding in ONE fused loop —
  * the kernel behind C5/D2 candidate blocking. Value contract (mirrored
  * by the oracle CTEs in [[graft.functions.Hyperplanes.bandsSqlCtes]]):
  * output index b holds the band-b bucket value, whose bit j is the
  * sign of `v · plane(b*bits + j)` with plane component
  * `mix31(idx)/2^31 - 0.5` at flat index `idx = (b*bits + j)*dim + d`,
  * where `mix31` is the 32-bit xor-shift-multiply finalizer reduced
  * mod 2^31 (see [[graft.functions.Hyperplanes.component]] for why a
  * bare sequential LCG is not usable). Dot accumulated in index order.
  * Replaces, per row, nBands×bits interpreted `aggregate(zip_with)`
  * folds with one codegen'd triple loop.
  */
case class HyperplaneBands(child: Expression, nBands: Int, bits: Int,
    dim: Int = 64) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_bands requires array<double> input, got ${other.catalogString}")
    }

  /** A short vector or a null element would silently contribute 0.0
    * to every dot product, shifting the LSH bucket of just that row —
    * a wrong-results class of failure, so both fail loudly instead.
    */
  private def validate(v: ArrayData): Unit = {
    if (v.numElements() < dim)
      throw new IllegalArgumentException(
        s"hyperplane_bands: vector has ${v.numElements()} elements, expected $dim")
    var d = 0
    while (d < dim) {
      if (v.isNullAt(d))
        throw new IllegalArgumentException(
          s"hyperplane_bands: null element at index $d")
      d += 1
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    validate(v)
    val n = math.min(dim, v.numElements())
    val out = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var bv = 0L
      var j = 0
      while (j < bits) {
        val base = (b * bits + j) * dim
        var dot = 0.0
        var d = 0
        while (d < n) {
          var h = (base + d).toLong
          h = (((h >> 16) ^ h) * 0x45d9f3bL) % 2147483648L
          h = (((h >> 16) ^ h) * 0x45d9f3bL) % 2147483648L
          h = (h >> 16) ^ h
          dot += v.getDouble(d) * (h.toDouble / 2147483648.0 - 0.5)
          d += 1
        }
        if (dot >= 0) bv |= (1L << j)
        j += 1
      }
      out(b) = bv
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val b = ctx.freshName("b")
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val bv = ctx.freshName("bv")
      val base = ctx.freshName("base")
      val dot = ctx.freshName("dot")
      val comp = ctx.freshName("comp")
      val h = ctx.freshName("h")
      val vd = ctx.freshName("vd")
      s"""
         |if ($c.numElements() < $dim)
         |  throw new IllegalArgumentException(
         |    "hyperplane_bands: vector has " + $c.numElements() + " elements, expected $dim");
         |for (int $vd = 0; $vd < $dim; $vd++) {
         |  if ($c.isNullAt($vd))
         |    throw new IllegalArgumentException("hyperplane_bands: null element at index " + $vd);
         |}
         |int $n = java.lang.Math.min($dim, $c.numElements());
         |long[] $out = new long[$nBands];
         |for (int $b = 0; $b < $nBands; $b++) {
         |  long $bv = 0L;
         |  for (int $j = 0; $j < $bits; $j++) {
         |    int $base = ($b * $bits + $j) * $dim;
         |    double $dot = 0.0;
         |    for (int $d = 0; $d < $n; $d++) {
         |      long $h = (long) ($base + $d);
         |      $h = ((($h >> 16) ^ $h) * 73244475L) % 2147483648L;
         |      $h = ((($h >> 16) ^ $h) * 73244475L) % 2147483648L;
         |      $h = ($h >> 16) ^ $h;
         |      double $comp = (double) $h / 2147483648.0 - 0.5;
         |      $dot += $c.getDouble($d) * $comp;
         |    }
         |    if ($dot >= 0) $bv |= (1L << $j);
         |  }
         |  $out[$b] = $bv;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBands =
    copy(child = newChild)
}

/** The four big-endian unsigned 32-bit words of md5(input) — the
  * deterministic-uniform kernel behind L5's Poisson bootstrap (and
  * any operator drawing several per-key uniforms): ONE digest yields
  * FOUR exact dyadic uniforms u = word/2³², where the hex round-trip
  * (`conv(substring(md5(s), 1+8i, 8), 16, 10)`) costs more than the
  * digest itself (r15 measurement: 4× fewer md5 calls moved
  * q_bootstrap_ci only 8% — the conv parse dominated). Engine
  * contract: word i == DuckDB `('0x' || substr(md5(s), 1+8*i,
  * 8))::BIGINT` — MD5 bytes ARE the hex string's nibbles in order.
  */
case class Md5Words(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val mdLocal =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  private def words(bytes: Array[Byte]): Array[Long] = {
    val d = mdLocal.get().digest(bytes)
    val out = new Array[Long](4)
    var i = 0
    while (i < 4) {
      out(i) = ((d(4 * i) & 0xffL) << 24) | ((d(4 * i + 1) & 0xffL) << 16) |
        ((d(4 * i + 2) & 0xffL) << 8) | (d(4 * i + 3) & 0xffL)
      i += 1
    }
    out
  }

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      words(input.asInstanceOf[UTF8String].getBytes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // one MessageDigest per task, reset per row (digest() resets)
    val md = ctx.addMutableState("java.security.MessageDigest", "md5wMd",
      v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
              |catch (java.security.NoSuchAlgorithmException e) {
              |  throw new RuntimeException(e); }""".stripMargin)
    nullSafeCodeGen(ctx, ev, c => {
      val d = ctx.freshName("d")
      val w = ctx.freshName("w")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      // accumulate byte-by-byte: Janino mis-parses the chained
      // (masked-shift | masked-shift) form as a cast ("is not a
      // type") and Spark silently falls back to interpreted eval
      s"""
         |byte[] $d = $md.digest($c.getBytes());
         |long[] $w = new long[4];
         |for (int $i = 0; $i < 4; $i++) {
         |  long $acc = $d[4 * $i] & 0xffL;
         |  $acc = $acc * 256L + ($d[4 * $i + 1] & 0xffL);
         |  $acc = $acc * 256L + ($d[4 * $i + 2] & 0xffL);
         |  $acc = $acc * 256L + ($d[4 * $i + 3] & 0xffL);
         |  $w[$i] = $acc;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($w);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Md5Words =
    copy(child = newChild)
}

/** Column-level entry points for the custom expressions. */
object GraftExpressions {
  def md5_words(c: Column): Column =
    GraftBridge.column(Md5Words(GraftBridge.expression(c)))

  def rolling_hash(c: Column, modulus: Long = 1000000007L): Column =
    GraftBridge.column(RollingHash(GraftBridge.expression(c), modulus))

  def cosine_sim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSim(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  def dot_product(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  def shingle_hashes(c: Column, k: Int = 5, modulus: Long = 4294967291L): Column =
    GraftBridge.column(ShingleHashes(GraftBridge.expression(c), k, modulus))

  def minhash_signature(hashes: Column, hot: Seq[Long], perms: Seq[(Long, Long)],
      prime: Long): Column =
    GraftBridge.column(MinhashSignature(GraftBridge.expression(hashes), hot, perms, prime))

  def packed_pairs(c: Column): Column =
    GraftBridge.column(PackedPairs(GraftBridge.expression(c)))

  def packed_triples(c: Column): Column =
    GraftBridge.column(PackedTriples(GraftBridge.expression(c)))

  def vocab_hits(c: Column, vocab: Seq[String]): Column =
    GraftBridge.column(VocabHits(GraftBridge.expression(c), vocab))

  def hyperplane_bands(v: Column, nBands: Int, bits: Int, dim: Int = 64): Column =
    GraftBridge.column(HyperplaneBands(GraftBridge.expression(v), nBands, bits, dim))
}
