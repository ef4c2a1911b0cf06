package graft.core

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Explode, Expression, KnownNotNull, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Partial, Sum}
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE, GENERATE}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.aggregate.{AggUtils, BaseAggregateExec}
import org.apache.spark.sql.types.LongType

import graft.functions.{PartialTokenCount, PartialTokenCountExec}
import graft.functions.expressions.StringTokens

/** Optimizer rule: the word-count shape
  * `Aggregate([t], [t, count(1) AS c], Generate(explode(string_tokens(text)) AS t))`
  * → `Aggregate([t], [t, knownnotnull(sum(cnt)) AS c], PartialTokenCount(text))`.
  *
  * The builtin plan materializes every token occurrence as a row and
  * probes Spark's partial hash aggregate once per token;
  * [[PartialTokenCount]] counts tokens straight off each line's bytes and
  * emits one row per distinct token of the partition.
  * [[TokenCountStrategy]] plans the `sum` over it as Spark's shuffle and
  * Final-mode aggregate alone (the counter is the partial aggregate), so
  * the answer is the builtin's: `c` keeps its exprId and stays a
  * non-null bigint (every group holds at least one partial row, so the
  * sum is never null).
  *
  * Matches only that shape: a single grouping key that is the explode's
  * output; outputs computed from that key and `count` of a non-null
  * literal alone (no DISTINCT, FILTER or other aggregate — outputs may
  * wrap them, since CollapseProject folds a projection such as q153's
  * `seq` into the aggregate); a non-outer `explode` (not `posexplode`)
  * of `string_tokens`. Between the aggregate and the explode it looks
  * through deterministic Filters on the token alone (q106's
  * `length(word) >= 2` is pushed there); they are kept above the
  * partial counts, where they see the same token values.
  *
  * Registered through [[GraftExtensions]] with [[TokenCountStrategy]],
  * so the Column API and plain SQL both reach it.
  */
object TokenCountRewrite extends Rule[LogicalPlan] {

  private object CountRows {
    def unapply(e: Expression): Boolean = e match {
      case AggregateExpression(Count(Seq(Literal(v, _))), Complete, false, None, _) => v != null
      case _ => false
    }
  }

  /** `e` reads only the grouping `key` and `count(1)` aggregates. */
  private def overKeyAndCounts(e: Expression, key: Attribute): Boolean = e match {
    case CountRows() => true
    case _: AggregateExpression => false
    case a: Attribute => a.exprId == key.exprId
    case _ => e.children.forall(overKeyAndCounts(_, key))
  }

  /** (text, explode's child, Filters on the token) under the aggregate. */
  private def tokenSource(p: LogicalPlan, key: Attribute)
      : Option[(Expression, LogicalPlan, Seq[Expression])] = p match {
    case Filter(cond, c) if cond.deterministic && cond.references.forall(_.exprId == key.exprId) =>
      tokenSource(c, key).map { case (t, src, fs) => (t, src, cond +: fs) }
    case Generate(Explode(StringTokens(text)), _, false, _, Seq(out), c)
        if out.exprId == key.exprId =>
      Some((text, c, Nil))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsAllPatterns(AGGREGATE, GENERATE)) {
      case agg @ Aggregate(Seq(key: Attribute), aggs, child, hint)
          if aggs.exists(_.exists { case CountRows() => true; case _ => false }) &&
            aggs.forall(overKeyAndCounts(_, key)) =>
        tokenSource(child, key).fold[LogicalPlan](agg) { case (text, src, filters) =>
          val cnt = AttributeReference("cnt", LongType, nullable = false)()
          val partial = PartialTokenCount(text, key, cnt, src)
          val counted = filters.reduceOption(And).fold[LogicalPlan](partial)(Filter(_, partial))
          val total = KnownNotNull(Sum(cnt).toAggregateExpression())
          Aggregate(Seq(key),
            aggs.map(_.transformUp { case CountRows() => total }.asInstanceOf[NamedExpression]),
            counted, hint)
        }
    }
}

/** Plans [[PartialTokenCount]], and the aggregate [[TokenCountRewrite]]
  * puts over it in Final mode only.
  *
  * The counter already emits one `(token, cnt)` row per distinct token
  * of its partition (more only when its bounded table flushes early), so
  * Spark's Partial-mode aggregate would only re-hash combined rows. The
  * aggregate is planned as Spark plans it, then its Partial-mode operator
  * is replaced by a projection that renames `(token, cnt)` to the partial
  * output `(key, sum buffer)`; `EnsureRequirements` still inserts the
  * hash exchange, and the Final-mode aggregate sums whatever duplicates
  * an early flush sent. Only `sum(cnt)` grouped by the token, with a
  * one-slot bigint buffer, is planned this way; anything else (no match
  * here) plans as usual over a planned [[PartialTokenCountExec]].
  */
object TokenCountStrategy extends SparkStrategy {

  /** The counter under `p`, looking through the rule's token Filters. */
  private def counter(p: LogicalPlan): Option[PartialTokenCount] = p match {
    case Filter(_, c) => counter(c)
    case c: PartialTokenCount => Some(c)
    case _ => None
  }

  /** `agg` is `sum(cnt)` of `pc`, with one bigint buffer slot. */
  private def sumsCounts(agg: AggregateExpression, pc: PartialTokenCount): Boolean = agg match {
    case AggregateExpression(s @ Sum(c: Attribute, _), Complete, false, None, _) =>
      c.exprId == pc.cnt.exprId && s.aggBufferAttributes.map(_.dataType) == Seq(LongType)
    case _ => false
  }

  /** `a` over the counter `pc` as Final mode only, or Nil if `a` is not
    * `sum(cnt)` grouped by the token. Spark's own plan of `a` is the
    * Final-mode aggregate over the Partial-mode one; the latter becomes
    * the renaming projection.
    */
  private def finalOnly(a: Aggregate, pc: PartialTokenCount): Seq[SparkPlan] = a match {
    case PhysicalAggregation(Seq(key: Attribute), Seq(agg), results, child)
        if key.exprId == pc.token.exprId && sumsCounts(agg, pc) =>
      AggUtils.planAggregateWithoutDistinct(Seq(key), Seq(agg), results, planLater(child))
        .map(_.mapChildren {
          case partial: BaseAggregateExec if partial.aggregateExpressions.forall(_.mode == Partial) =>
            val renamed = partial.output.zip(child.output).map { case (out, in) =>
              if (out.exprId == in.exprId) in else Alias(in, out.name)(out.exprId)
            }
            ProjectExec(renamed, partial.child)
          case other => other
        })
    case _ => Nil
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case a: Aggregate => counter(a.child).fold[Seq[SparkPlan]](Nil)(finalOnly(a, _))
    case PartialTokenCount(text, token, cnt, child) =>
      PartialTokenCountExec(text, token, cnt, planLater(child)) :: Nil
    case _ => Nil
  }
}
