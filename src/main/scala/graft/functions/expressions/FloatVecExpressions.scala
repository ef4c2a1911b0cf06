package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StructField, StructType}

/** Codegen'd dot product over two `array<float>` columns, accumulating in
  * double left-to-right.
  *
  * Why a custom Catalyst Expression: the composable formulation
  * (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) is evaluated by the
  * interpreted higher-order-function machinery — one closure call and one
  * boxed lambda variable per element per row. On an all-pairs similarity
  * join that interpretation dominated the entire benchmark (~98 s of a
  * 134 s run at sf0.1). This expression emits a tight primitive loop into
  * whole-stage codegen — same arithmetic, same left-to-right double
  * accumulation, so results are bit-identical to the interpreted
  * formulation (which is what the DuckDB oracle mirrors).
  *
  * Null contract: null if either input is null (BinaryExpression default).
  * Arrays are required non-null-element float vectors (the fixture
  * embeddings schema); length mismatch folds over the shorter prefix.
  */
case class FloatDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // No ExpectsInputTypes (its type is private[sql]); callers are the
  // typed wrappers below and always pass array<float> columns.
  override def dataType: DataType = DoubleType

  override def prettyName: String = "float_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0d
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd squared-L2 distance over two `array<long>` columns (the
  * micro-unit integer vectors of the IVF quantizer) — exact BIGINT
  * arithmetic, so results are bit-identical to the composable
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0L, _+_)`
  * formulation the DuckDB oracle mirrors. Exists for the same reason as
  * [[FloatDot]]: the HOF formulation is interpreted (one closure call +
  * boxed lambda per element per row), which made the k-means assignment
  * pass ~20× slower at 256 centroids (measured: the ANN probe's
  * 256-centroid configs 0.5 → 10 s when the quantizer moved off MLlib;
  * this expression restores the native-loop cost).
  *
  * Null contract: null if either input is null; length mismatch folds
  * over the shorter prefix (same as FloatDot).
  */
case class LongVecDist2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = "lvec_dist2"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = $a.getLong($i) - $b.getLong($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd popcount of the bitwise AND over two `array<long>` bitmask
  * columns — |A ∩ B| when each array packs a set as 64-bit words.
  *
  * Why a custom Expression: the composable formulation
  * (`aggregate(zip_with(ma, mb, (x, y) -> bit_count(x & y)), 0, _+_)`)
  * runs on the interpreted higher-order-function machinery — one
  * zip_with array allocation plus boxed lambda calls per PAIR. On the
  * containment family's bitset verify (all rep pairs × nw words) that
  * interpretation was ~50 µs/pair — several hundred seconds for the 20×
  * stress corpus's 7.7M rep pairs — where this loop is a few ns/word.
  * Same arithmetic (Long.bitCount of the word AND, summed left to
  * right), so results are bit-identical; length mismatch folds over the
  * shorter prefix (callers build equal-width masks).
  *
  * Null contract: null if either input is null (BinaryExpression
  * default); elements are required non-null mask words.
  */
case class BitsetIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = "bitset_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += java.lang.Long.bitCount(x.getLong(i) & y.getLong(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += java.lang.Long.bitCount($a.getLong($i) & $b.getLong($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd ADC (asymmetric-distance) lookup sum for product
  * quantization: given a query's flattened lookup table `lut`
  * (subspace-major: entry m·k + c = d2(query_m, codebook_m[c])) and a
  * candidate's code array `codes` (one code per subspace), returns
  * Σ_m lut[m·k + codes[m]] — the candidate's quantized distance.
  *
  * Why a custom Expression: the per-pair composable form is either a
  * 16-way explode + equality join + re-aggregation (an output-scaled
  * row explosion — measured 23 s for q169 at the 20× corpus) or an
  * interpreted zip_with fold (the FloatDot lesson). This loop runs
  * fused in the candidate-join stage: per pair, PqM array reads and
  * adds.
  *
  * Null contract: null if either input is null. The interpreted eval
  * bounds-checks each code against [0, k) and the lut length against
  * the implied PqM·k — UnsafeArrayData.getLong does NO bounds check,
  * so a mismatched k or malformed code would otherwise read garbage
  * memory and return a silently-wrong distance. The codegen'd path
  * keeps the unguarded loop (the hot path, call sites produce codes
  * in-range by construction); any new call site is exercised through
  * the interpreted path first by its spec, which is where a geometry
  * mismatch surfaces as a loud require.
  */
case class AdcLookupSum(lut: Expression, codes: Expression, k: Int)
    extends BinaryExpression {
  require(k > 0, s"AdcLookupSum: k must be positive, got $k")

  override def left: Expression = lut
  override def right: Expression = codes

  override def dataType: DataType = LongType

  override def prettyName: String = "adc_lookup_sum"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val l = a.asInstanceOf[ArrayData]
    val c = b.asInstanceOf[ArrayData]
    require(l.numElements() == c.numElements() * k,
      s"AdcLookupSum: lut length ${l.numElements()} != " +
        s"codes ${c.numElements()} * k $k")
    var acc = 0L
    var m = 0
    while (m < c.numElements()) {
      val code = c.getLong(m)
      require(code >= 0 && code < k,
        s"AdcLookupSum: code $code out of [0, $k) at subspace $m")
      acc += l.getLong(m * k + code.toInt)
      m += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val m = ctx.freshName("m")
      val acc = ctx.freshName("acc")
      s"""
         |long $acc = 0L;
         |for (int $m = 0; $m < $b.numElements(); $m++) {
         |  $acc += $a.getLong($m * $k + (int) $b.getLong($m));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(lut = newLeft, codes = newRight)
}

/** Codegen'd NEAREST-CODEWORD kernel — the one argmin behind IVF
  * assignment, PQ encode and k-center assignment. For each codebook m
  * it returns the index of the codeword nearest to the micro-unit
  * vector's slice that starts at m·subDim, and that distance:
  * code[m] = argmin_c Σ_i (mvec[m·subDim+i] − books[m][c][i])², with
  * d2[m] the minimum. Exact integer squared L2; the strict `<` keeps the
  * SMALLER index on ties (the `least()`-of-(d2, index)-structs order
  * and the oracle's (d2, id) windows). Each slice reads
  * min(codeword length, remaining) elements — the prefix fold of
  * [[LongVecDist2]] on a length mismatch. A single-codebook model
  * (IVF centroids, k-center exemplars) is `books = Array(model)`.
  *
  * Why a custom Expression: the composable forms scale with the model.
  * An `array` of PqM `least`-of-PqSubK-struct chains exceeds the
  * whole-stage-codegen method budget, so Spark runs that Project
  * interpreted (5.6 s of q169's 7.4 s at 20×) or Janino rejects it on a
  * full-row action (q168). A single `least()` chain carries a k·dims
  * literal tree in the plan, and its analysis and codegen cost grows
  * with k (a 128-centroid fit sat >35 minutes in plan optimization and
  * codegen at 20×); the broadcast cross join + `row_number` window
  * that replaced it above 32 centroids costs a shuffle per Lloyd
  * iteration. Here the
  * model rides as ONE reference object and each row is one primitive
  * loop — a pure map pass at every model size.
  *
  * Null contract: null if the input vector is null.
  */
case class NearestCode(child: Expression,
    books: Array[Array[Array[Long]]], subDim: Int)
    extends UnaryExpression {
  require(books.nonEmpty && books.forall(_.nonEmpty) && subDim > 0,
    "NearestCode: every codebook needs a codeword, and subDim > 0")

  /** struct&lt;code: array&lt;bigint&gt;, d2: array&lt;bigint&gt;&gt;,
    * one entry per codebook.
    */
  override def dataType: DataType = {
    val perBook = ArrayType(LongType, containsNull = false)
    StructType(Seq(StructField("code", perBook, nullable = false),
      StructField("d2", perBook, nullable = false)))
  }

  override def prettyName: String = "nearest_code"

  override def nullSafeEval(v: Any): Any = {
    val mv = v.asInstanceOf[ArrayData]
    val code = new Array[Long](books.length)
    val d2 = new Array[Long](books.length)
    var s = 0
    while (s < books.length) {
      val bm = books(s)
      val base = s * subDim
      val rem = math.max(0, mv.numElements() - base)
      var best = Long.MaxValue
      var bc = 0L
      var c = 0
      while (c < bm.length) {
        val cv = bm(c)
        val n = math.min(cv.length, rem)
        var d = 0L
        var i = 0
        while (i < n) {
          val t = mv.getLong(base + i) - cv(i)
          d += t * t
          i += 1
        }
        if (d < best) { best = d; bc = c.toLong }
        c += 1
      }
      code(s) = bc
      d2(s) = best
      s += 1
    }
    InternalRow(UnsafeArrayData.fromPrimitiveArray(code),
      UnsafeArrayData.fromPrimitiveArray(d2))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("books", books, "long[][][]")
    nullSafeCodeGen(ctx, ev, v => {
      val code = ctx.freshName("code")
      val d2 = ctx.freshName("d2")
      val s = ctx.freshName("s")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val t = ctx.freshName("t")
      val best = ctx.freshName("best")
      val bc = ctx.freshName("bc")
      val bm = ctx.freshName("bm")
      val cv = ctx.freshName("cv")
      val base = ctx.freshName("base")
      val rem = ctx.freshName("rem")
      val n = ctx.freshName("n")
      val ua = classOf[UnsafeArrayData].getName
      s"""
         |long[] $code = new long[${books.length}];
         |long[] $d2 = new long[${books.length}];
         |for (int $s = 0; $s < ${books.length}; $s++) {
         |  long[][] $bm = $booksRef[$s];
         |  int $base = $s * $subDim;
         |  int $rem = java.lang.Math.max(0, $v.numElements() - $base);
         |  long $best = Long.MAX_VALUE; long $bc = 0L;
         |  for (int $c = 0; $c < $bm.length; $c++) {
         |    long[] $cv = $bm[$c];
         |    int $n = java.lang.Math.min($cv.length, $rem);
         |    long $d = 0L;
         |    for (int $i = 0; $i < $n; $i++) {
         |      long $t = $v.getLong($base + $i) - $cv[$i];
         |      $d += $t * $t;
         |    }
         |    if ($d < $best) { $best = $d; $bc = (long) $c; }
         |  }
         |  $code[$s] = $bc;
         |  $d2[$s] = $best;
         |}
         |${ev.value} = new ${classOf[GenericInternalRow].getName}(new Object[] {
         |  $ua.fromPrimitiveArray($code), $ua.fromPrimitiveArray($d2) });
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd PQ LOOKUP-TABLE build: the flattened per-query ADC table —
  * entry m·k + c = Σ_i (qm[m·subDim+i] − books[m][c][i])², consumed by
  * [[AdcLookupSum]]. Same codegen rationale, arithmetic and null/prefix
  * contract as [[NearestCode]] (the array-of-256-dist2 composable
  * form also falls out of whole-stage codegen).
  */
case class PqLutFlat(child: Expression,
    books: Array[Array[Array[Long]]], subDim: Int)
    extends UnaryExpression {
  require(books.nonEmpty && subDim > 0)

  private val subK = books(0).length

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "pq_lut_flat"

  override def nullSafeEval(v: Any): Any = {
    val qm = v.asInstanceOf[ArrayData]
    val m = books.length
    val out = new Array[Long](m * subK)
    var s = 0
    while (s < m) {
      val bm = books(s)
      val base = s * subDim
      val n = math.min(subDim, math.max(0, qm.numElements() - base))
      var c = 0
      while (c < bm.length) {
        val cv = bm(c)
        var d = 0L
        var i = 0
        while (i < n) {
          val t = qm.getLong(base + i) - cv(i)
          d += t * t
          i += 1
        }
        out(s * subK + c) = d
        c += 1
      }
      s += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("pqBooks", books, "long[][][]")
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out")
      val s = ctx.freshName("s")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val t = ctx.freshName("t")
      val bm = ctx.freshName("bm")
      val cv = ctx.freshName("cv")
      val base = ctx.freshName("base")
      val n = ctx.freshName("n")
      s"""
         |long[] $out = new long[${books.length * subK}];
         |for (int $s = 0; $s < ${books.length}; $s++) {
         |  long[][] $bm = $booksRef[$s];
         |  int $base = $s * $subDim;
         |  int $n = java.lang.Math.min($subDim,
         |    java.lang.Math.max(0, $v.numElements() - $base));
         |  for (int $c = 0; $c < $bm.length; $c++) {
         |    long[] $cv = $bm[$c];
         |    long $d = 0L;
         |    for (int $i = 0; $i < $n; $i++) {
         |      long $t = $v.getLong($base + $i) - $cv[$i];
         |      $d += $t * $t;
         |    }
         |    $out[$s * $subK + $c] = $d;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions
         |  .UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FloatVecExpressions {
  /** Column API for [[FloatDot]]. */
  def floatDot(a: Column, b: Column): Column =
    Bridge.column(FloatDot(Bridge.expression(a), Bridge.expression(b)))

  /** Column API for [[LongVecDist2]]. */
  def longDist2(a: Column, b: Column): Column =
    Bridge.column(LongVecDist2(Bridge.expression(a), Bridge.expression(b)))

  /** Column API for [[BitsetIntersectCount]]. */
  def bitsetIntersectCount(a: Column, b: Column): Column =
    Bridge.column(BitsetIntersectCount(Bridge.expression(a), Bridge.expression(b)))

  /** Column API for [[AdcLookupSum]]. */
  def adcLookupSum(lut: Column, codes: Column, k: Int): Column =
    Bridge.column(AdcLookupSum(Bridge.expression(lut), Bridge.expression(codes), k))

  /** Column API for [[NearestCode]]. */
  def nearestCode(mvec: Column, books: Array[Array[Array[Long]]],
      subDim: Int): Column =
    Bridge.column(NearestCode(Bridge.expression(mvec), books, subDim))

  /** Column API for [[PqLutFlat]]. */
  def pqLutFlat(qm: Column, books: Array[Array[Array[Long]]],
      subDim: Int): Column =
    Bridge.column(PqLutFlat(Bridge.expression(qm), books, subDim))
}
