package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftExpressions._

class ExpressionSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("rolling_hash matches the reference fold") {
    def ref(s: String, m: Long = 1000000007L): Long =
      s.foldLeft(0L)((h, c) => (h * 31 + c) % m)
    val inputs = Seq("hello world", "", "a", "the quick brown fox")
    val got = inputs.toDF("s").select(rolling_hash(col("s"))).as[Long].collect()
    assert(got.toSeq == inputs.map(ref(_)))
  }

  test("rolling_hash survives codegen over real data") {
    val df = Tables.documents(spark, sf)
      .select(rolling_hash(lower(col("text"))).as("h"))
    val n = df.filter(col("h") >= 0).count()
    assert(n == Tables.documents(spark, sf).count())
  }

  test("custom functions are SQL-callable via GraftExtensions") {
    val h = spark.sql("SELECT graft_rolling_hash('hello world') AS h")
      .as[Long].first()
    assert(h == "hello world".foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L))
    val s = spark.sql(
      "SELECT graft_cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS s")
      .as[Double].first()
    assert(math.abs(s - 1.0) < 1e-12)
  }

  test("cosine_sim computes correct values") {
    val df = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0)),
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(1.0, 2.0), Seq(2.0, 4.0))).toDF("a", "b")
    val got = df.select(cosine_sim(col("a"), col("b"))).as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1)) < 1e-12)
    assert(math.abs(got(2) - 1.0) < 1e-12)
  }

  test("hyperplane_bands equals the composed sign-bit formulation bit-for-bit") {
    import graft.functions.Hyperplanes
    val bits = 6
    val nBands = 4
    val rows = Tables.embeddings(spark, sf).limit(50)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"),
        Hyperplanes.allBands(col("v"), nBands, bits).as("bands"))
      .as[(Long, Seq[Double], Seq[Long])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, v, bands) =>
      assert(bands.length == nBands)
      // independent reference: same LCG planes, same index-order dot
      for (b <- 0 until nBands) {
        var expect = 0L
        for (j <- 0 until bits) {
          val base = (b * bits + j) * Hyperplanes.Dim
          var dot = 0.0
          for (d <- v.indices)
            dot += v(d) * Hyperplanes.component(base + d)
          if (dot >= 0) expect |= (1L << j)
        }
        assert(bands(b) == expect, s"band $b mismatch")
      }
    }
  }

  test("hyperplane_bands fails loudly on short vectors, null elements, wrong types") {
    import graft.functions.GraftExpressions.hyperplane_bands
    // short vector: silent zero-padding would shift the LSH bucket
    val short = Seq(Tuple1(Seq(1.0, 2.0))).toDF("v")
    val eShort = intercept[Exception] {
      short.select(hyperplane_bands(col("v"), 2, 4)).collect()
    }
    assert(eShort.getMessage.contains("expected 64")
      || eShort.getCause != null && eShort.getCause.getMessage.contains("expected 64"))
    // null element: silently reading 0.0 would do the same
    val withNull = Seq(Tuple1((0 until 64).map(i =>
      if (i == 7) null.asInstanceOf[java.lang.Double] else java.lang.Double.valueOf(i))))
      .toDF("v")
    val eNull = intercept[Exception] {
      withNull.select(hyperplane_bands(col("v"), 2, 4)).collect()
    }
    assert(eNull.getMessage.contains("null element")
      || eNull.getCause != null && eNull.getCause.getMessage.contains("null element"))
    // wrong element type: analysis-time failure, not a cast crash
    val wrong = Seq(Tuple1(Seq("a", "b"))).toDF("v")
    val eType = intercept[Exception] {
      wrong.select(hyperplane_bands(col("v"), 2, 4)).collect()
    }
    assert(eType.getMessage.toLowerCase.contains("array<double>")
      || eType.getMessage.toLowerCase.contains("datatype_mismatch"))
  }

  test("tokens() segments CJK scripts per codepoint, identically to the DuckDB mirror") {
    import graft.functions.TextFunctions.tokens
    // expected arrays are the verified output of the DuckDB mirror
    // (duckToksSql) on the same strings — cross-engine equivalence is
    // pinned here because the synthetic corpus is ASCII-only and the
    // driver's oracle can't exercise these paths
    val cases = Seq(
      "hello 世界 world" -> Seq("hello", "世", "界", "world"),
      "日本語のテキストです" -> Seq("日", "本", "語", "の", "テ", "キ", "ス", "ト", "で", "す"),
      "한국어 텍스트 test" -> Seq("한", "국", "어", "텍", "스", "트", "test"),
      "mixed中文and english" -> Seq("mixed", "中", "文", "and", "english"),
      "ひらがなカタカナ漢字" -> Seq("ひ", "ら", "が", "な", "カ", "タ", "カ", "ナ", "漢", "字"),
      "plain ascii  text" -> Seq("plain", "ascii", "text"))
    val got = cases.map(_._1).toDF("text")
      .select(tokens(col("text"))).as[Seq[String]].collect()
    cases.zip(got).foreach { case ((in, expect), actual) =>
      assert(actual == expect, s"'$in' tokenized as $actual, expected $expect")
    }
  }

  test("packed_pairs/packed_triples index kernels equal the nested-HOF enumeration") {
    // the A32/A49 basket rewrite contract: i<j (and i<j<k) index
    // combinations over sequence(0, n-1), payloads re-attached by
    // element_at, must emit exactly the pairs/triples the interpreted
    // flatten(transform(transform(slice))) chains produced, in order
    val df = Seq(Seq("a", "b", "c", "d"), Seq("x"), Seq("m", "n"))
      .toDF("bs")
    val hofPairs = df.select(explode(expr(
      """flatten(transform(bs, (x, i) ->
        |  transform(slice(bs, i + 2, size(bs) - i - 1),
        |    y -> struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .select(col("p.a"), col("p.b")).as[(String, String)].collect().toSeq
    val kernelPairs = df.select(col("bs"),
        explode(packed_pairs(sequence(lit(0L),
          (size(col("bs")) - 1).cast("long")))).as("p"))
      .select(
        element_at(col("bs"), shiftrightunsigned(col("p"), 32).cast("int") + 1),
        element_at(col("bs"),
          col("p").bitwiseAND(lit(0xFFFFFFFFL)).cast("int") + 1))
      .as[(String, String)].collect().toSeq
    assert(kernelPairs == hofPairs)
    val hofTriples = df.select(explode(expr(
      """flatten(flatten(transform(bs, (x, i) ->
        |  transform(slice(bs, i + 2, size(bs) - i - 1), (y, j) ->
        |    transform(slice(bs, i + j + 3, size(bs) - i - j - 2),
        |      z -> struct(x AS a, y AS b, z AS c))))))""".stripMargin)).as("t"))
      .select(col("t.a"), col("t.b"), col("t.c"))
      .as[(String, String, String)].collect().toSeq
    val kernelTriples = df.select(col("bs"),
        explode(packed_triples(sequence(lit(0L),
          (size(col("bs")) - 1).cast("long")))).as("t"))
      .select(
        element_at(col("bs"), shiftrightunsigned(col("t"), 42).cast("int") + 1),
        element_at(col("bs"), shiftrightunsigned(col("t"), 21)
          .bitwiseAND(lit(0x1FFFFFL)).cast("int") + 1),
        element_at(col("bs"),
          col("t").bitwiseAND(lit(0x1FFFFFL)).cast("int") + 1))
      .as[(String, String, String)].collect().toSeq
    assert(kernelTriples == hofTriples)
  }

  test("packed kernels fail loudly on out-of-range values and reject null elements") {
    // range guard: packing would corrupt pairs silently, so both
    // kernels throw instead
    val bad = Seq(Tuple1(Seq(1L, -2L, 3L))).toDF("xs")
    val ePair = intercept[Exception] {
      bad.select(packed_pairs(col("xs"))).collect()
    }
    assert(ePair.getMessage.contains("outside")
      || ePair.getCause != null && ePair.getCause.getMessage.contains("outside"))
    val big = Seq(Tuple1(Seq(1L << 22, 2L))).toDF("xs")
    val eTriple = intercept[Exception] {
      big.select(packed_triples(col("xs"))).collect()
    }
    assert(eTriple.getMessage.contains("outside")
      || eTriple.getCause != null && eTriple.getCause.getMessage.contains("outside"))
    // containsNull=true input: analysis-time rejection (r17 ADVICE —
    // a null element used to NPE opaquely at eval)
    val withNull = Seq(Tuple1(Seq[java.lang.Long](1L, null, 3L))).toDF("xs")
    val eNull = intercept[Exception] {
      withNull.select(packed_pairs(col("xs"))).collect()
    }
    assert(eNull.getMessage.toLowerCase.contains("null")
      || eNull.getMessage.toLowerCase.contains("datatype_mismatch"))
  }

  test("vocab_hits equals the filter/array_contains HOF (multiplicity, null elements, empty)") {
    val vocab = Seq("the", "a", "of")
    val df = Seq(
      Seq("the", "cat", "the", "a"),
      Seq("dog"),
      Seq.empty[String]).toDF("toks")
    val vocabArr = array(vocab.map(lit): _*)
    val hof = df.select(
      size(filter(col("toks"), t => array_contains(vocabArr, t))))
      .as[Int].collect().toSeq
    val kernel = df.select(vocab_hits(col("toks"), vocab))
      .as[Int].collect().toSeq
    assert(kernel == hof)
    // null elements count as not-in (array_contains -> null -> dropped
    // by filter), and a null array yields null either way
    val withNull = Seq(Tuple1(Seq[String]("the", null, "a")),
      Tuple1(null.asInstanceOf[Seq[String]])).toDF("toks")
    val hofN = withNull.select(
      size(filter(col("toks"), t => array_contains(vocabArr, t))))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq
    val kernelN = withNull.select(vocab_hits(col("toks"), vocab))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq
    assert(kernelN == hofN)
  }

  test("cosine_sim agrees with the HOF formulation on embeddings") {
    val e = Tables.embeddings(spark, sf).limit(20)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = e.as("a").crossJoin(e.as("b"))
    val diff = pairs.select(
      abs(cosine_sim(col("a.v"), col("b.v")) -
        graft.functions.VectorFunctions.dot(col("a.v"), col("b.v")) /
          (sqrt(graft.functions.VectorFunctions.dot(col("a.v"), col("a.v"))) *
            sqrt(graft.functions.VectorFunctions.dot(col("b.v"), col("b.v"))))).as("d"))
      .agg(max(col("d"))).as[Double].first()
    assert(diff < 1e-12)
  }

  /** Run `body` under each ANSI setting and each evaluation path
    * (whole-stage codegen, and interpreted expressions), restoring the
    * session's settings afterwards.
    */
  private def underEachMode(body: Boolean => Unit): Unit = {
    val keys = Seq("spark.sql.ansi.enabled", "spark.sql.codegen.wholeStage",
      "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      for (ansi <- Seq(false, true);
           (ws, factory) <- Seq(("true", "FALLBACK"), ("false", "NO_CODEGEN"))) {
        spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
        spark.conf.set("spark.sql.codegen.wholeStage", ws)
        spark.conf.set("spark.sql.codegen.factoryMode", factory)
        withClue(s"ansi=$ansi wholeStage=$ws factory=$factory: ")(body(ansi))
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("exact money lane and ExactSum equal a BigDecimal reference and the decimal sum, ANSI on and off") {
    import graft.functions.Exact.{exactSum, money}
    import java.math.{BigDecimal => JBigDecimal, RoundingMode}
    // cast(x AS decimal(12,2)): HALF_UP of the double's decimal string;
    // None where the cast yields null (ANSI off) or fails (ANSI on)
    def ref(x: java.lang.Double): Option[JBigDecimal] =
      if (x == null || x.isNaN || x.isInfinite) None
      else {
        val d = new JBigDecimal(x.toString).setScale(2, RoundingMode.HALF_UP)
        if (d.abs.compareTo(new JBigDecimal("1e10")) >= 0) None else Some(d)
      }
    val rng = new scala.util.Random(7)
    val edge: Seq[java.lang.Double] = Seq[Double](1.005, 2.675, 0.125, -1.005, -2.675,
      -0.125, 0.005, -0.005, 0.015, 99.995, 0.1, 0.2, 0.3, -12.34, 1234567.89,
      9999999999.99, -9999999999.99, 9999999999.994, 9999999999.995, 1e10, -1e10,
      1.5e10, 1e300, Double.MinPositiveValue, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0).map(Double.box) :+ null
    val random: Seq[java.lang.Double] = Seq.fill[Double](300) {
      val cents = (rng.nextLong() % 2000000000000L) / 2
      rng.nextInt(3) match {
        case 0 => cents / 100.0                       // 2-dp: the fast path
        case 1 => (cents * 10 + rng.nextInt(10)) / 1000.0  // 3-dp: HALF_UP ties and near-ties
        case _ => rng.nextGaussian() * 1e6           // arbitrary doubles
      }
    }.map(Double.box)
    val values = edge ++ random
    val df = values.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "x").repartition(4)
    // built per mode: a Catalyst cast binds the ANSI setting when built
    def lane = exactSum(money(col("x")))
    def old = sum(col("x").cast("decimal(12,2)"))
    underEachMode { ansi =>
      val ok = df.filter(col("id").isin(values.indices.filter(i =>
        ref(values(i)).isDefined || values(i) == null): _*))
      val framed = if (ansi) ok else df
      // per row: a one-row group's sum is that row's cast
      val rows = framed.groupBy(col("id"))
        .agg(lane.as("n"), old.as("o"), lane.cast("double").as("nd"), old.cast("double").as("od"))
        .collect()
      assert(rows.length == framed.count())
      rows.foreach { r =>
        val i = r.getLong(0).toInt
        val expect = ref(values(i))
        assert(Option(r.getDecimal(1)).map(_.stripTrailingZeros) ==
          expect.map(_.stripTrailingZeros), s"lane of ${values(i)}")
        assert(Option(r.getDecimal(2)).map(_.stripTrailingZeros) ==
          expect.map(_.stripTrailingZeros), s"decimal cast of ${values(i)}")
        assert(r.isNullAt(3) == r.isNullAt(4) && (r.isNullAt(3) ||
          java.lang.Double.doubleToRawLongBits(r.getDouble(3)) ==
            java.lang.Double.doubleToRawLongBits(r.getDouble(4))), s"double of ${values(i)}")
      }
      // one group over every row (merges across the 4 partitions), and
      // a running window frame, bit-identical to the decimal sum
      val whole = framed.agg(lane.cast("double"), old.cast("double")).first()
      assert(whole.getDouble(0) == whole.getDouble(1))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val run = framed.select(lane.over(w).as("n"), old.over(w).as("o")).collect()
      assert(run.forall(r => r.get(0) == null && r.get(1) == null ||
        r.getDecimal(0).compareTo(r.getDecimal(1)) == 0))
      // under ANSI the cast's errors (and its nulls, e.g. NaN) surface
      // from the lane exactly as from the decimal sum; with ANSI off
      // they are all nulls (checked above)
      def rootKind(e: Throwable): String =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last match {
          case t: org.apache.spark.SparkThrowable => s"${t.getClass.getName}:${t.getCondition}"
          case t => t.getClass.getName
        }
      if (ansi) {
        val failures = values.filter(v => v != null && ref(v).isEmpty).count { v =>
          val one = Seq(v).toDF("x")
          val (n, o) = (scala.util.Try(one.agg(lane).collect().toSeq),
            scala.util.Try(one.agg(old).collect().toSeq))
          assert(n.isFailure == o.isFailure, s"failure of $v: $n vs $o")
          if (o.isFailure) assert(rootKind(n.failed.get) == rootKind(o.failed.get), s"error for $v")
          else assert(n.get.map(_.get(0)) == o.get.map(_.get(0)), s"result for $v")
          o.isFailure
        }
        assert(failures >= 5, "out-of-range casts must fail under ANSI")
      }
    }
  }

  test("ExactSum: Long-overflowing products and group sums past 2^63 stay exact") {
    import graft.functions.Exact.{exactSum, money, rate}
    import java.math.{BigDecimal => JBigDecimal}
    val big = 9999999999.99   // lane 999,999,999,999: a product of two overflows a Long
    val mid = 30000000.0      // lane 3e9: the product is 9e18, so 2 rows pass 2^63
    val rows: Seq[(Int, java.lang.Double, java.lang.Double)] =
      Seq.fill(8)((0, big: java.lang.Double, big: java.lang.Double)) ++
      Seq.fill(8)((0, -big: java.lang.Double, 0.01: java.lang.Double)) ++
      Seq.fill(12)((1, mid: java.lang.Double, mid: java.lang.Double)) ++
      Seq.fill(12)((2, -mid: java.lang.Double, mid: java.lang.Double)) ++
      Seq.tabulate(12)(i => (3, (if (i % 2 == 0) big else -big): java.lang.Double,
        (if (i % 3 == 0) null else -big): java.lang.Double)) ++
      Seq((4, null: java.lang.Double, 1.0: java.lang.Double))
    def refSum(g: Int): JBigDecimal = {
      val ts = rows.filter(r => r._1 == g && r._2 != null && r._3 != null)
        .map(r => new JBigDecimal(r._2.toString).multiply(new JBigDecimal(r._3.toString)))
      if (ts.isEmpty) null else ts.reduce(_ add _)
    }
    val df = rows.toDF("g", "a", "b").repartition(4)
    val dec = (c: String) => col(c).cast("decimal(12,2)")
    underEachMode { _ =>
      val got = df.groupBy(col("g")).agg(
        exactSum(money(col("a")) * money(col("b"))).as("n"),
        sum(dec("a") * dec("b")).as("o"),
        exactSum(money(col("a")) * rate(col("b").cast("double") / 1e9).oneMinus).as("n1"),
        sum(dec("a") * (lit(1) - (col("b") / 1e9).cast("decimal(8,2)"))).as("o1"),
        exactSum(money(col("a")) * money(col("b")) * money(col("b"))).cast("double").as("n3"),
        sum(dec("a") * dec("b") * dec("b")).cast("double").as("o3"))
        .collect().map(r => r.getInt(0) -> r).toMap
      assert(got.keySet == Set(0, 1, 2, 3, 4))
      for ((g, r) <- got) {
        val expect = refSum(g)
        if (expect == null) assert(r.isNullAt(1) && r.isNullAt(2), s"group $g")
        else {
          assert(r.getDecimal(1).compareTo(expect) == 0, s"group $g vs reference")
          assert(r.getDecimal(2).compareTo(expect) == 0, s"group $g decimal sum")
        }
        assert(Option(r.getDecimal(3)).map(_.stripTrailingZeros) ==
          Option(r.getDecimal(4)).map(_.stripTrailingZeros), s"group $g: a·(1-b)")
        assert(Option(r.get(5)) == Option(r.get(6)), s"group $g: three factors")
      }
      assert(refSum(1).compareTo(new JBigDecimal(BigInt(2).pow(63).bigInteger)
        .movePointLeft(4)) > 0, "group 1 must carry past 2^63")
      assert(refSum(2).signum < 0 && refSum(2).abs.compareTo(refSum(1)) == 0)
    }
    // a single-lane group whose unscaled sum passes 2^63 (9.3M rows of
    // 999,999,999,999 cents): the hi limb carries, the sum stays exact
    val n = 9300000L
    val s = spark.range(0, n, 1, 4).select((col("id") * 0 + big).as("x"))
      .agg(exactSum(money(col("x")))).first().getDecimal(0)
    assert(s.compareTo(new JBigDecimal(big.toString).multiply(new JBigDecimal(n))) == 0)
  }
}
