package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The full dHash fingerprint fused into ONE expression: fold the
  * payload bytes into the 8×9 cell grid (cell i sums the UNSIGNED
  * byte values at positions ≡ i mod 72 — the q155/q156 decode/resize
  * stub a real pipeline swaps for codec+grayscale+resize), then emit
  * the 8 row-gradient band values (bit c of band r set iff
  * cell(r,c+1) > cell(r,c)) — one native pass per row.
  *
  * Why one custom Catalyst Expression: the composable formulation
  * (hex-encode the payload, explode one row per byte, parse each hex
  * pair, two aggregations to fold and re-assemble the grid) turns a
  * per-row O(bytes) fold into a corpus×bytes row explosion — measured
  * 12 s/micro-batch on the 20× phash ingest stress. A fold expression
  * composed with 64 `element_at` comparisons references the cell
  * array 128 times, and CollapseProject inlines the fold into EVERY
  * reference — measured ~16 s per ingest micro-batch (conditional
  * branches defeat codegen's common-subexpression sharing). Fusing
  * makes the fingerprint one O(bytes + 72) evaluation. The JVM spec
  * reference and the DuckDB gate's hex-pair CTE formulation both
  * check it from independent formulations.
  */
case class DHashBands(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "dhash_bands"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val cells = new Array[Long](72)
    var i = 0
    while (i < bytes.length) {
      cells(i % 72) += (bytes(i) & 0xff).toLong
      i += 1
    }
    val bands = new Array[Long](8)
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (cells(r * 9 + c + 1) > cells(r * 9 + c)) bands(r) |= 1L << c
        c += 1
      }
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(bands)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val cells = ctx.freshName("cells")
      val bands = ctx.freshName("bands")
      val i = ctx.freshName("i")
      val r = ctx.freshName("r")
      val c = ctx.freshName("c")
      s"""
         |long[] $cells = new long[72];
         |for (int $i = 0; $i < $b.length; $i++) {
         |  $cells[$i % 72] += (long) ($b[$i] & 0xff);
         |}
         |long[] $bands = new long[8];
         |for (int $r = 0; $r < 8; $r++) {
         |  for (int $c = 0; $c < 8; $c++) {
         |    if ($cells[$r * 9 + $c + 1] > $cells[$r * 9 + $c]) {
         |      $bands[$r] |= 1L << $c;
         |    }
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($bands);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MediaExpressions {
  /** Column API for [[DHashBands]]. */
  def dhashBands(payload: Column): Column =
    Bridge.column(DHashBands(Bridge.expression(payload)))
}
