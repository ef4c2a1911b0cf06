package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BindReferences, BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.unsafe.types.UTF8String

/** `explode(string_tokens(text)) → groupBy(token) → count(1)`, map side:
  * one row `(token, cnt)` per distinct token of each partition (more
  * than one if the partition overflows the [[TokenCountTable]] bounds).
  * Only a final `sum(cnt)` per token over these rows gives the counts;
  * [[graft.core.TokenCountRewrite]] plants this node under exactly that
  * aggregate, so it never appears in a plan on its own.
  */
case class PartialTokenCount(
    text: Expression,
    token: Attribute,
    cnt: Attribute,
    child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] = Seq(token, cnt)

  override def producedAttributes: AttributeSet = AttributeSet(output)

  // the output attributes are printed with the output; show the input
  override protected def stringArgs: Iterator[Any] = Iterator(text)

  override protected def withNewChildInternal(newChild: LogicalPlan): PartialTokenCount =
    copy(child = newChild)
}

/** Physical [[PartialTokenCount]]: each partition's lines go through one
  * [[TokenCountTable]] at the default bounds.
  */
case class PartialTokenCountExec(
    text: Expression,
    token: Attribute,
    cnt: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = Seq(token, cnt)

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override protected def stringArgs: Iterator[Any] = Iterator(text)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val bound = BindReferences.bindReference(text, child.output)
    child.execute().mapPartitions { rows =>
      // a plain column is read in place; anything else is projected
      val textOf: InternalRow => UTF8String = bound match {
        case BoundReference(i, _, _) => r => if (r.isNullAt(i)) null else r.getUTF8String(i)
        case e =>
          val proj = UnsafeProjection.create(Seq(e))
          r => proj(r).getUTF8String(0)
      }
      val writer = new UnsafeRowWriter(2, 32)
      TokenCountTable.partialCounts(rows.map(textOf), new TokenCountTable()) { (t, e) =>
        writer.reset()
        writer.zeroOutNullBytes()
        writer.write(0, t.arena, t.offset(e), t.length(e))
        writer.write(1, t.count(e))
        numOutputRows += 1
        writer.getRow
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PartialTokenCountExec =
    copy(child = newChild)
}
