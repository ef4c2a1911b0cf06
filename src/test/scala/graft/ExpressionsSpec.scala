package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextFunctions, VectorFunctions}

/** One inclusive token interval of a [[graft.functions.expressions.KeptTokens]]
  * cut set (top level so Spark can derive its encoder).
  */
case class KeptCut(lo: Option[Long], hi: Option[Long])

/** The custom Catalyst expressions must be BIT-IDENTICAL to the
  * composable built-ins formulations they replace (the DuckDB oracle
  * mirrors the built-ins semantics).
  */
class ExpressionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("FloatDot ≡ aggregate(zip_with(...)) bit-for-bit on fixture embeddings") {
    import spark.implicits._
    val e = graft.core.Tables.embeddings(spark, TestSpark.sf).limit(50)
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val pairs = a.join(b, col("ia") < col("ib")).limit(500)
    val diff = pairs.select(
      VectorFunctions.dot(col("va"), col("vb")).as("fast"),
      VectorFunctions.dotHof(col("va"), col("vb")).as("spec"))
      .filter(col("fast") =!= col("spec"))
      .count()
    assert(diff == 0L)
  }

  test("FloatDot interpreted eval matches codegen path") {
    import spark.implicits._
    val df = Seq((Array(1.5f, -2.0f, 3.25f), Array(0.5f, 4.0f, -1.0f)))
      .toDF("a", "b")
    val got = df.select(VectorFunctions.dot(col("a"), col("b"))).as[Double].head()
    assert(got == (1.5 * 0.5 + -2.0 * 4.0 + 3.25 * -1.0))
  }

  test("BitsetIntersectCount ≡ aggregate(zip_with(bit_count(&))) on random masks") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (1 to 200).map { _ =>
      val nw = 1 + rnd.nextInt(32)
      (Array.fill(nw)(rnd.nextLong()), Array.fill(nw)(rnd.nextLong()))
    }
    val df = rows.toDF("ma", "mb")
    val diff = df.select(
      graft.functions.expressions.FloatVecExpressions
        .bitsetIntersectCount(col("ma"), col("mb")).as("fast"),
      expr("CAST(aggregate(zip_with(ma, mb, (x, y) -> bit_count(x & y)), " +
        "0, (acc, c) -> acc + c) AS BIGINT)").as("spec"))
      .filter(col("fast") =!= col("spec"))
      .count()
    assert(diff == 0L)
  }

  test("BitsetIntersectCount interpreted eval matches a hand computation") {
    import spark.implicits._
    val df = Seq((Array(0xFL, 0x3L), Array(0x6L, 0x1L))).toDF("a", "b")
    val got = df.select(graft.functions.expressions.FloatVecExpressions
      .bitsetIntersectCount(col("a"), col("b"))).as[Long].head()
    // 0xF & 0x6 = 0x6 (2 bits); 0x3 & 0x1 = 0x1 (1 bit)
    assert(got == 3L)
  }

  test("TokenShingles ≡ transform/slice/array_join formulation on fixture docs") {
    import spark.implicits._
    val d = graft.core.Tables.documents(spark, TestSpark.sf)
      .withColumn("toks", TextFunctions.tokens(col("text")))
    val diff = d.select(
      TextFunctions.shingles3(col("toks")).as("fast"),
      TextFunctions.shingles3Hof(col("toks")).as("spec"))
      .filter(col("fast") =!= col("spec"))
      .count()
    assert(diff == 0L)
  }

  test("StringTokens ≡ split+filter formulation on fixture docs") {
    val d = graft.core.Tables.documents(spark, TestSpark.sf)
    val diff = d.select(
      TextFunctions.tokens(col("text")).as("fast"),
      TextFunctions.tokensHof(col("text")).as("spec"))
      .filter(!(col("fast") <=> col("spec")))
      .count()
    assert(diff == 0L)
  }

  test("StringTokens edge cases: empties, runs of spaces, multibyte, null") {
    import spark.implicits._
    val df = Seq("", " ", "  a  b ", "a", "😀 b", "ü ß").toDF("t")
    val got = df.select(TextFunctions.tokens(col("t")).as("x"))
      .as[Seq[String]].collect().toSeq
    assert(got == Seq(Seq(), Seq(), Seq("a", "b"), Seq("a"), Seq("😀", "b"), Seq("ü", "ß")))
    val nulls = Seq[Option[String]](None).toDF("t")
      .select(TextFunctions.tokens(col("t")).as("x")).collect()
    assert(nulls.head.isNullAt(0))
  }

  test("ArrayIntersectCount ≡ size(array_intersect) on fixture token pairs") {
    import graft.functions.expressions.TextExpressions.arrayIntersectCount
    val d = graft.core.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
    val a = d.select(col("doc_id").as("ia"), col("toks").as("ta"))
    val b = d.select(col("doc_id").as("ib"), col("toks").as("tb"))
    // NON-distinct arrays too: the contract must match for any input
    val pairs = a.join(b, col("ia") % 7 === col("ib") % 7 && col("ia") < col("ib"))
    val diff = pairs.select(
      arrayIntersectCount(col("ta"), col("tb")).as("fast"),
      size(array_intersect(col("ta"), col("tb"))).as("spec"))
      .filter(col("fast") =!= col("spec"))
      .count()
    assert(diff == 0L)
  }

  test("TokenCounts ≡ explode(tokens)+groupBy count on fixture docs") {
    import spark.implicits._
    val d = graft.core.Tables.documents(spark, TestSpark.sf)
    val viaExpr = d.select(col("doc_id"),
        explode(graft.functions.expressions.TextExpressions.tokenCounts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.token").as("token"),
        col("tc.cnt").cast("long").as("cnt"))
    val viaAgg = d.select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
    assert(viaExpr.exceptAll(viaAgg).count() == 0L &&
      viaAgg.exceptAll(viaExpr).count() == 0L)
  }

  test("LinearMarginMilli ≡ explode+weights-join formulation on fixture docs") {
    import spark.implicits._
    val d = graft.core.Tables.documents(spark, TestSpark.sf)
    // the replaced q145 chain, verbatim (the oracle-mirrored spec form)
    val weights = spark.range(0, 4096)
      .select(col("id").as("bucket"),
        (col("id") * lit(2654435761L) % lit(2001L) - lit(1000L)).as("w"))
    val spec = d
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        conv(substring(md5(col("tok")), 1, 3), 16, 10).cast("long").as("bucket"))
      .join(broadcast(weights), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("w").as("margin_milli"))
    val fast = d
      .select(col("doc_id"), graft.functions.expressions.TextExpressions
        .linearMarginMilli(col("text")).as("lm"))
      .select(col("doc_id"), col("lm.n_tokens").as("n_tokens"),
        col("lm.margin_milli").as("margin_milli"))
      .filter(col("n_tokens") > 0L)
    assert(fast.exceptAll(spec).count() == 0L &&
      spec.exceptAll(fast).count() == 0L)
  }

  test("LinearMarginMilli edge cases: empty, spaces-only, unicode, null") {
    import spark.implicits._
    val df = Seq(Some(""), Some("   "), Some("héllo wörld héllo"), None).toDF("t")
    val got = df.select(graft.functions.expressions.TextExpressions
        .linearMarginMilli(col("t")).as("lm"))
      .select(col("lm")).as[Option[(Long, Long)]].collect().toSeq
    // unicode expectation derived with the spec formulation's own pieces
    val uniW = Seq("héllo", "wörld", "héllo").map { tok =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val bucket = ((h(0) & 0xff) << 4) | ((h(1) & 0xff) >>> 4)
      bucket.toLong * 2654435761L % 2001L - 1000L
    }.sum
    assert(got == Seq(Some((0L, 0L)), Some((0L, 0L)), Some((3L, uniW)), None))
  }

  test("WinnowFingerprints ≡ windowed struct-min formulation on fixture docs") {
    import org.apache.spark.sql.expressions.Window
    val w = 4
    val d = graft.core.Tables.documents(spark, TestSpark.sf)
    // the replaced winnowSelections chain, verbatim (the oracle-mirrored
    // spec form): posexplode → md5/−pos struct key → trailing-window min
    // → strict full-window filter → distinct
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(w - 1), Window.currentRow)
    val spec = d
      .select(col("doc_id"),
        posexplode(TextFunctions.shingles3(TextFunctions.tokens(col("text"))))
          .as(Seq("pos", "sh")))
      .select(col("doc_id"), col("pos"),
        struct(md5(col("sh")).as("h"),
          (-col("pos")).cast("long").as("np")).as("k"))
      .select(col("doc_id"), col("pos"), min("k").over(win).as("mk"))
      .where(col("pos") >= lit((w - 1).toLong))
      .select(col("doc_id"), col("mk.h").as("h"), col("mk.np").as("np"))
      .distinct()
    val fast = d
      .select(col("doc_id"), explode(graft.functions.expressions
        .TextExpressions.winnowFingerprints(col("text"), w)).as("mk"))
      .select(col("doc_id"), col("mk.h").as("h"), col("mk.np").as("np"))
    assert(fast.exceptAll(spec).count() == 0L &&
      spec.exceptAll(fast).count() == 0L)
  }

  test("WinnowFingerprints edge cases: short docs, exact-w, repeats, ties, null") {
    import spark.implicits._
    // "a a a a a a" exercises the all-ties path (every shingle has the
    // same hash — the rightmost-min must keep re-selecting the NEWEST
    // position); "x y" has no shingle; "a b c d e f" has exactly w=4
    // shingles → one full window
    val df = Seq(Some("x y"), Some("a b c d e f"), Some("a a a a a a"), None)
      .toDF("t").withColumn("doc_id", monotonically_increasing_id())
    val w = 4
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(w - 1), Window.currentRow)
    val spec = df
      .select(col("doc_id"),
        posexplode(TextFunctions.shingles3(TextFunctions.tokens(col("t"))))
          .as(Seq("pos", "sh")))
      .select(col("doc_id"), col("pos"),
        struct(md5(col("sh")).as("h"),
          (-col("pos")).cast("long").as("np")).as("k"))
      .select(col("doc_id"), col("pos"), min("k").over(win).as("mk"))
      .where(col("pos") >= lit((w - 1).toLong))
      .select(col("doc_id"), col("mk.h").as("h"), col("mk.np").as("np"))
      .distinct()
    val fast = df
      .select(col("doc_id"), explode(graft.functions.expressions
        .TextExpressions.winnowFingerprints(col("t"), w)).as("mk"))
      .select(col("doc_id"), col("mk.h").as("h"), col("mk.np").as("np"))
    assert(fast.exceptAll(spec).count() == 0L &&
      spec.exceptAll(fast).count() == 0L)
    // null in → null array → explode emits nothing (same as posexplode
    // over a null shingle array); short docs select nothing
    assert(fast.count() == spec.count())
    // the all-ties doc selects the rightmost position of each window
    val tieDoc = df.filter(col("t") === "a a a a a a")
      .select(col("doc_id")).as[Long].head()
    val tieSel = fast.filter(col("doc_id") === tieDoc)
      .select((-col("np")).as("p")).as[Long].collect().sorted.toSeq
    assert(tieSel == Seq(3L))
  }

  test("TokenCounts edge cases: empty, spaces-only, repeats, null") {
    import spark.implicits._
    val df = Seq(Some(""), Some("   "), Some("a b a  a"), None).toDF("t")
    val got = df.select(graft.functions.expressions.TextExpressions
        .tokenCounts(col("t")).as("tc"))
      .as[Option[Seq[(String, Int)]]].collect().toSeq
    assert(got == Seq(Some(Seq()), Some(Seq()),
      Some(Seq(("a", 3), ("b", 1))), None))
  }

  test("SimHash16 ≡ simhash16Hof (16 transform/aggregate passes) on fixture distinct token sets") {
    val d = graft.core.Tables.documents(spark, TestSpark.sf)
      .select(array_distinct(TextFunctions.tokens(col("text"))).as("ts"))
    bothEvalModes { mode =>
      val cmp = d.select(TextFunctions.simhash16(col("ts")).as("fast"),
        TextFunctions.simhash16Hof(col("ts")).as("spec"))
      assert(cmp.filter(!(col("fast") <=> col("spec"))).count() == 0L, mode)
      // the fingerprints spread over the 16 bits, not a degenerate constant
      assert(cmp.select("fast").distinct().count() > 10L, mode)
    }
  }

  test("SimHash16 edge cases: empty, null, multibyte, repeated and null tokens") {
    import spark.implicits._
    // bit j votes +1 iff hex digit j of md5(token) has an odd ASCII code
    def votes(t: String): Seq[Int] = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).flatMap(b => Seq((b >> 4) & 0xF, b & 0xF))
      .take(16).map(v => if ("0123456789abcdef".charAt(v).toInt % 2 == 1) 1 else -1)
      .toSeq
    def ref(ts: Seq[String]): Long = ts.map(votes)
      .foldLeft(Seq.fill(16)(0))((a, b) => a.zip(b).map(p => p._1 + p._2))
      .zipWithIndex.collect { case (v, j) if v > 0 => 1L << j }.sum
    // two tokens whose votes disagree on some bit the first one sets
    val vocab = (0 until 64).map(i => s"t$i")
    val (a, b) = (for (x <- vocab; y <- vocab
        if votes(x).zip(votes(y)).exists(p => p._1 > 0 && p._2 < 0)) yield (x, y)).head
    val cases: Seq[Option[Seq[String]]] = Seq(
      Some(Seq()), None,
      Some(Seq("héllo", "wörld", "😀", "漢字")),
      Some(Seq(a, b)),
      Some(Seq(a, a, b)), // no dedup inside the kernel: a outvotes b
      Some(Seq(a, null, b)))
    val df = cases.toDF("ts")
    bothEvalModes { mode =>
      val got = df.select(TextFunctions.simhash16(col("ts"))).as[Long].collect().toSeq
      val spec = df.select(TextFunctions.simhash16Hof(col("ts"))).as[Long].collect().toSeq
      assert(got == spec, mode)
      assert(got.take(5) == Seq(0L, 0L) ++ cases.slice(2, 5).map(c => ref(c.get)), mode)
      assert(got(4) == ref(Seq(a)) && got(4) != got(3), mode)
    }
    assert(!df.select(TextFunctions.simhash16(col("ts"))).schema.head.nullable)
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(Tuple1(Seq(1L))).toDF("ts").select(TextFunctions.simhash16(col("ts"))).collect()
    }
  }

  test("input type contracts: wrong-typed input fails at analysis, not execution") {
    import spark.implicits._
    val df = Seq((1, Array(1, 2))).toDF("n", "ints")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.functions.expressions.TextExpressions
        .stringTokens(col("n"))).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.functions.expressions.TextExpressions
        .arrayIntersectCount(col("ints"), col("ints"))).collect()
    }
  }

  test("ArrayIntersectCount ≡ size(array_intersect) on null-bearing arrays") {
    import spark.implicits._
    val df = Seq(
      (Seq[String]("a", null, "b", null), Seq[String](null, "b", "c")),
      (Seq[String]("a", null), Seq[String]("a", "b")),
      (Seq[String]("x"), Seq[String](null)),
      (Seq[String]("a", "b", "c"), Seq[String]("b", "c", "d")),
      (Seq.empty[String], Seq[String]("x")),
      (Seq[String]("a", "a", null), Seq[String](null, "a")))
      .toDF("a", "b")
    val got = df.select(
      graft.functions.expressions.TextExpressions
        .arrayIntersectCount(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).as("spec"))
      .as[(Int, Int)].collect().toSeq
    assert(got.forall { case (fast, spec) => fast == spec }, got)
    // hand-checked: a null element present on both sides counts once
    assert(got.map(_._1) == Seq(2, 1, 0, 2, 0, 2))
  }

  test("TokenShingles edge cases: short arrays") {
    import spark.implicits._
    val df = Seq(Seq("a"), Seq("a", "b"), Seq("a", "b", "c"), Seq("a", "b", "c", "d"))
      .toDF("toks")
    val got = df.select(TextFunctions.shingles3(col("toks")).as("s"))
      .as[Seq[String]].collect().toSeq
    assert(got == Seq(Seq(), Seq(), Seq("a b c"), Seq("a b c", "b c d")))
  }

  test("portable rounding: floor-based r2/r4 behave as round-half-up") {
    import spark.implicits._
    import graft.functions.Round._
    val df = Seq(1.005, 2.675, -1.005, 0.12345).toDF("x")
    val got = df.select(r2(col("x")).as("r")).as[Double].collect().toSeq
    // NOTE: these are the DOUBLE values' floor(x*100+0.5)/100 results —
    // deterministic and engine-portable, which is the contract; the
    // decimal-pretty answer is NOT (1.005 is stored as 1.00499…, while
    // 2.675*100.0 rounds to exactly 267.5 under IEEE multiplication).
    assert(got == Seq(1.0, 2.68, -1.0, 0.12))
  }

  test("StripAccents: Latin accents fold, non-Latin and ASCII pass through") {
    import spark.implicits._
    import graft.functions.expressions.TextExpressions.stripAccents
    // expected values PROBED from DuckDB strip_accents (the oracle this
    // expression must match): Latin folds, kana voicing mark stripped,
    // Hangul stays COMPOSED (NFC recomposition), supplementary-plane
    // marks (U+1D165 Mc, U+11100 Mn) stripped via code-point iteration
    val cases = Seq(
      "café" -> "cafe", "Émile" -> "Emile", "über" -> "uber",
      "niño" -> "nino", "çafé dönér" -> "cafe doner",
      "plain ascii 123" -> "plain ascii 123", // ASCII fast path
      "mixed tëxt ok" -> "mixed text ok",
      "中文 unchanged" -> "中文 unchanged", // no combining marks: untouched
      "ば" -> "は",
      "한국어" -> "한국어",
      "x𝅥y" -> "xy",
      "a𑄀b" -> "ab",
      "" -> "")
    val got = cases.map(_._1).toDF("t")
      .select(stripAccents(col("t"))).as[String].collect().toSeq
    assert(got == cases.map(_._2))
    val nulls = Seq[Option[String]](None).toDF("t")
      .select(stripAccents(col("t"))).collect()
    assert(nulls.head.isNullAt(0))
  }

  test("StripAccents: precomposed and decomposed input normalize identically") {
    import spark.implicits._
    import graft.functions.expressions.TextExpressions.stripAccents
    // é as U+00E9 vs e + U+0301 (combining acute): NFD inside the
    // expression makes both collapse to the same stripped form
    val df = Seq("café", "café").toDF("t")
    val got = df.select(stripAccents(col("t"))).as[String].collect().toSeq
    assert(got == Seq("cafe", "cafe"))
  }

  test("SQL surface: every registered custom function resolves in spark.sql and equals its Column twin") {
    import graft.functions.expressions.TextExpressions._
    def one(sql: String) = spark.sql(sql).collect().head
    assert(one("SELECT string_tokens('  a  b ') AS r").getSeq[String](0) == Seq("a", "b"))
    assert(one("SELECT token_shingles(array('a','b','c'), 2) AS r")
      .getSeq[String](0) == Seq("a b", "b c"))
    assert(one("SELECT array_intersect_count(array('a','b'), array('b','c')) AS r")
      .getInt(0) == 1)
    assert(one("SELECT float_dot(CAST(array(1.0, 2.0) AS array<float>), CAST(array(3.0, 4.0) AS array<float>)) AS r")
      .getDouble(0) == 11.0)
    assert(one("SELECT strip_accents('çafé') AS r").getString(0) == "cafe")
    // dhash_bands ≡ the composed fold-then-compare formulation (the
    // fused expression must be bit-identical to what it fused)
    val text = "the quick brown fox jumps over the lazy dog " * 4
    val dhSql = one(s"SELECT dhash_bands(encode('$text', 'UTF-8')) AS r")
      .getSeq[Long](0)
    val cellsRef = {
      val cells = Array.fill(72)(0L)
      text.getBytes("UTF-8").zipWithIndex
        .foreach { case (b, j) => cells(j % 72) += (b & 0xff).toLong }
      (0 until 8).map { r =>
        (0 until 8).map { c =>
          if (cells(r * 9 + c + 1) > cells(r * 9 + c)) 1L << c else 0L
        }.sum
      }
    }
    assert(dhSql == cellsRef && dhSql.length == 8)
    // token_counts: equality with its Column twin
    val viaSql = spark.sql("SELECT token_counts('x y x') AS r")
      .selectExpr("explode(r) AS e").selectExpr("e.*").collect().toSet
    val viaCol = spark.range(1)
      .select(tokenCounts(org.apache.spark.sql.functions.lit("x y x")).as("r"))
      .selectExpr("explode(r) AS e").selectExpr("e.*").collect().toSet
    assert(viaSql == viaCol && viaSql.nonEmpty)
    // misuse fails at analysis/resolution, not execution: wrong input
    // type (ExpectsInputTypes) and a non-literal shingle width
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT string_tokens(42)").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT token_shingles(array('a'), 'two')").collect()
    }
  }

  private def microVecs = graft.core.Tables.embeddings(spark, TestSpark.sf)
    .select(col("vec_id"),
      graft.ops.Similarity.microVec(col("embedding")).as("mvec"))

  test("NearestCode ≡ per-subspace least()-of-(d2, idx) chains: PQ codebooks, and one codebook at k=6 and k=64") {
    import graft.functions.expressions.FloatVecExpressions.nearestCode
    val e = microVecs
    // every codebook ends in a copy of its first codeword, so each row
    // nearest to codeword 0 ties with the copy: the tie rule is exercised
    val books = graft.ops.Similarity.pqCodebooks(spark, TestSpark.sf)._1
      .map(b => b :+ b.head)
    val subDim = graft.ops.Similarity.pqCodebooks(spark, TestSpark.sf)._3
    // one codebook straight off the corpus: the first k − 1 vectors by
    // vec_id, then a copy of the first
    val models = Seq(6, 64).map { k =>
      val first = e.orderBy("vec_id").limit(k - 1).collect()
        .map(_.getSeq[Long](1).toArray)
      s"k=$k" -> (first :+ first.head)
    }
    bothEvalModes { mode =>
      for (m <- books.indices) {
        val spec = NearestTwins.leastChain(col("mvec"), books(m), m * subDim, Some(subDim))
        val diff = e.select(nearestCode(col("mvec"), books, subDim).as("nc"),
            spec.as("spec"))
          .filter(!(col("nc.code")(m) <=> col("spec.col2")) ||
            !(col("nc.d2")(m) <=> col("spec.col1")))
          .count()
        assert(diff == 0L, s"$mode: PQ subspace $m diverges from least() chain")
        assert(e.filter(nearestCode(col("mvec"), books, subDim)("code")(m) === 0L)
          .count() > 0L, s"$mode: no tie in PQ subspace $m")
      }
      for ((label, model) <- models) {
        val spec = NearestTwins.leastChain(col("mvec"), model)
        val cmp = e.select(
            nearestCode(col("mvec"), Array(model), model.head.length).as("nc"),
            spec.as("spec"))
        assert(cmp.filter(!(col("nc.code")(0) <=> col("spec.col2")) ||
          !(col("nc.d2")(0) <=> col("spec.col1"))).count() == 0L,
          s"$mode $label: kernel diverges from least() chain")
        assert(cmp.filter(size(col("nc.code")) =!= 1).count() == 0L)
        assert(cmp.filter(col("nc.code")(0) === 0L).count() > 0L,
          s"$mode $label: no tie")
      }
    }
  }

  test("NearestCode hand computation: ties to the smaller index, prefix fold, null in → null out") {
    import spark.implicits._
    import graft.functions.expressions.FloatVecExpressions.nearestCode
    // one codebook: 0 = origin, 1 = (3,4), 2 = duplicate origin
    val one = Array(Array(Array(0L, 0L), Array(3L, 4L), Array(0L, 0L)))
    // two codebooks over 2-wide slices
    val two = Array(
      Array(Array(0L, 0L), Array(1L, 1L)),
      Array(Array(5L, 5L), Array(2L, 2L)))
    val vecs = Seq(
        Some(Array(0L, 0L)),       // one: tie 0 vs 2 → 0
        Some(Array(3L, 4L)),       // one: exact hit on 1
        Some(Array(3L)),           // one: prefix fold, (3) vs (3,4) → 1, d2 0
        Some(Array(1L, 1L, 2L, 2L)), // two: exact hits 1, 1
        Some(Array(1L, 0L, 3L)),   // two: slice 0 ties 0 vs 1 at 1; slice 1 folds to (3): 4 vs 1
        None)
      .toDF("mvec")
    bothEvalModes { mode =>
      def run(books: Array[Array[Array[Long]]])
          : Seq[Option[(Seq[Long], Seq[Long])]] =
        vecs.select(nearestCode(col("mvec"), books, 2)).collect().toSeq
          .map(r => Option(r.getStruct(0))
            .map(nc => (nc.getSeq[Long](0), nc.getSeq[Long](1))))
      val g1 = run(one)
      assert(g1.take(3) == Seq(
        Some((Seq(0L), Seq(0L))), Some((Seq(1L), Seq(0L))),
        Some((Seq(1L), Seq(0L)))), mode)
      val g2 = run(two)
      assert(g2.slice(3, 5) == Seq(
        Some((Seq(1L, 1L), Seq(0L, 0L))), Some((Seq(0L, 1L), Seq(1L, 1L)))), mode)
      // a slice past the vector's end reads nothing: every codeword
      // sits at distance 0, so the first one wins
      assert(g2(0) == Some((Seq(0L, 0L), Seq(0L, 0L))), mode)
      assert(g1(5).isEmpty && g2(5).isEmpty, s"$mode: null vector must give null")
    }
  }

  test("PqLutFlat ≡ array of per-(subspace, codeword) dist2 over slices on fixture vectors") {
    import graft.functions.expressions.FloatVecExpressions.pqLutFlat
    val (books, _, subDim) = graft.ops.Similarity.pqCodebooks(spark, TestSpark.sf)
    val q = microVecs.filter(col("vec_id") % 5 === 0).select(col("mvec").as("qm"))
    val spec = array((for (m <- books.indices; cw <- books(m)) yield
      graft.ops.Similarity.dist2(slice(col("qm"), m * subDim + 1, subDim),
        lit(cw))): _*)
    // the built-ins form is evaluated once, under the session defaults
    val want = q.select(col("qm"), spec.as("spec")).collect()
      .map(r => r.getSeq[Long](0) -> r.getSeq[Long](1)).toMap
    assert(want.size > 10 && want.values.forall(_.length == books.length * books(0).length))
    bothEvalModes { mode =>
      val got = q.select(col("qm"), pqLutFlat(col("qm"), books, subDim).as("lut"))
        .collect().map(r => r.getSeq[Long](0) -> r.getSeq[Long](1)).toMap
      assert(got == want, mode)
    }
    import spark.implicits._
    val nul = Seq(Tuple1(Option.empty[Array[Long]])).toDF("qm")
      .select(pqLutFlat(col("qm"), books, subDim)).collect()
    assert(nul.head.isNullAt(0))
  }

  test("AdcLookupSum ≡ aggregate over element_at(lut, m·k + code) on fixture LUTs and codes") {
    import spark.implicits._
    import graft.functions.expressions.FloatVecExpressions.{adcLookupSum, nearestCode, pqLutFlat}
    val (books, _, subDim) = graft.ops.Similarity.pqCodebooks(spark, TestSpark.sf)
    val k = books(0).length
    val e = microVecs
    val pairs = e.filter(col("vec_id") % 25 === 0)
      .select(pqLutFlat(col("mvec"), books, subDim).as("lut"))
      .crossJoin(e.filter(col("vec_id") % 7 === 0)
        .select(nearestCode(col("mvec"), books, subDim)("code").as("codes")))
    val spec = aggregate(transform(col("codes"),
        (c, m) => element_at(col("lut"), (m * k + c + 1).cast("int"))),
      lit(0L), (acc, x) => acc + x)
    bothEvalModes { mode =>
      val cmp = pairs.select(adcLookupSum(col("lut"), col("codes"), k).as("fast"),
        spec.as("spec"))
      assert(cmp.count() > 100L, mode)
      assert(cmp.filter(!(col("fast") <=> col("spec"))).count() == 0L, mode)
      // hand case: lut = [10, 11 | 20, 21] at k = 2, codes (1, 0) → 11 + 20
      val hand = Seq((Option(Array(10L, 11L, 20L, 21L)), Option(Array(1L, 0L))),
          (None, Option(Array(0L, 0L))))
        .toDF("lut", "codes")
        .select(adcLookupSum(col("lut"), col("codes"), 2))
        .as[Option[Long]].collect().toSeq
      assert(hand == Seq(Some(31L), None), mode)
    }
  }

  /** Runs `body` under both evaluation paths of a custom expression:
    * whole-stage codegen (`doGenCode`) and the interpreted projection
    * (`nullSafeEval`).
    */
  private def bothEvalModes(body: String => Unit): Unit =
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", mode == "CODEGEN_ONLY")
      try body(mode)
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }

  /** The built-ins formulation KeptTokens replaces: O(tokens × cuts),
    * interpreted higher-order functions.
    */
  private def keptTokensSpec(ts: org.apache.spark.sql.Column,
      cuts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(ts, (_, i) => !exists(cuts, c => c("lo") <= i && i <= c("hi")))

  test("KeptTokens ≡ filter/exists formulation on fixture docs with random cut sets") {
    import spark.implicits._
    import graft.functions.expressions.TextExpressions.keptTokens
    val rnd = new scala.util.Random(148)
    val texts = graft.core.Tables.documents(spark, TestSpark.sf)
      .select("text").as[String].collect().toSeq
    // cut sets in random order: overlapping, nested, adjacent, empty
    // (hi = lo − 1), starting before 0 and ending past the last token
    val rows = texts.map { t =>
      val n = t.split(" ").count(_.nonEmpty)
      val cuts = Seq.fill(rnd.nextInt(7)) {
        val lo = rnd.nextInt(n + 4).toLong - 2L
        KeptCut(Some(lo), Some(lo + rnd.nextInt(6) - 1L))
      }
      (t, cuts)
    }
    assert(rows.exists(_._2.isEmpty) && rows.exists(_._2.size >= 5))
    val df = rows.toDF("text", "cuts")
      .select(TextFunctions.tokens(col("text")).as("ts"), col("cuts"))
    bothEvalModes { mode =>
      val cmp = df.select(keptTokens(col("ts"), col("cuts")).as("fast"),
        keptTokensSpec(col("ts"), col("cuts")).as("spec"), col("ts"))
      assert(cmp.filter(!(col("fast") <=> col("spec"))).count() == 0L, mode)
      // the random sets genuinely cut: some docs lose tokens, some keep all
      assert(cmp.filter(size(col("fast")) < size(col("ts"))).count() > 0L, mode)
    }
  }

  test("KeptTokens edge cases: empty tokens, no cuts, past-the-end, overlap, adjacency, nesting, unsorted, null") {
    import spark.implicits._
    import graft.functions.expressions.TextExpressions.keptTokens
    val abcdef = Some(Seq("a", "b", "c", "d", "e", "f"))
    def c(lo: Long, hi: Long) = KeptCut(Some(lo), Some(hi))
    val cases: Seq[(Option[Seq[String]], Option[Seq[KeptCut]], Option[Seq[String]])] = Seq(
      (Some(Seq()), Some(Seq(c(0, 2))), Some(Seq())),            // empty tokens
      (abcdef, Some(Seq()), abcdef),                             // no cuts
      (abcdef, Some(Seq(c(10, 12))), abcdef),                    // wholly past the end
      (abcdef, Some(Seq(c(4, 99))), Some(Seq("a", "b", "c", "d"))), // clipped at the end
      (abcdef, Some(Seq(c(-5, 1))), Some(Seq("c", "d", "e", "f"))), // clipped at 0
      (abcdef, Some(Seq(c(0, 2), c(1, 3))), Some(Seq("e", "f"))),   // overlapping
      (abcdef, Some(Seq(c(0, 1), c(2, 3))), Some(Seq("e", "f"))),   // adjacent
      (abcdef, Some(Seq(c(0, 5), c(2, 3))), Some(Seq())),           // nested
      (abcdef, Some(Seq(c(4, 5), c(0, 1))), Some(Seq("c", "d"))),   // unsorted
      (abcdef, Some(Seq(c(3, 2))), abcdef),                      // hi < lo: empty
      (None, Some(Seq(c(0, 1))), None),                          // null tokens
      (abcdef, None, None))                                      // null cuts
    val df = cases.map(x => (x._1, x._2)).toDF("ts", "cuts")
    bothEvalModes { mode =>
      val got = df.select(keptTokens(col("ts"), col("cuts")))
        .as[Option[Seq[String]]].collect().toSeq
      assert(got == cases.map(_._3), mode)
      // the kernel's contract is order-free: every non-null case also
      // equals the built-ins formulation
      val spec = df.filter(col("ts").isNotNull && col("cuts").isNotNull)
        .select(keptTokensSpec(col("ts"), col("cuts")))
        .as[Seq[String]].collect().toSeq
      assert(spec == cases.filter(x => x._1.isDefined && x._2.isDefined)
        .map(_._3.get), mode)
      // a null cut, or a cut with a null bound, covers nothing (the
      // built-ins form would drop EVERY token there: exists → null)
      val nullCuts = Seq((abcdef, Seq(null, KeptCut(None, Some(5L)),
          KeptCut(Some(0L), None), c(1, 1))))
        .toDF("ts", "cuts")
        .select(keptTokens(col("ts"), col("cuts")))
        .as[Seq[String]].head()
      assert(nullCuts == Seq("a", "c", "d", "e", "f"), mode)
    }
    // wrong-typed cuts fail at analysis
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Seq("a"), Seq(1L))).toDF("ts", "cuts")
        .select(keptTokens(col("ts"), col("cuts"))).collect()
    }
  }
}
