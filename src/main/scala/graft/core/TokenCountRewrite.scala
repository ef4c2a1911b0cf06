package graft.core

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, Explode, Expression, KnownNotNull, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE, GENERATE}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
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
  * hands the partial aggregate one row per distinct token of the
  * partition. Spark's own shuffle and final aggregate run on top
  * unchanged, so the answer is the builtin's: `c` keeps its exprId and
  * stays a non-null bigint (every group holds at least one partial row,
  * so the sum is never null).
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

/** Plans [[PartialTokenCount]]. */
object TokenCountStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PartialTokenCount(text, token, cnt, child) =>
      PartialTokenCountExec(text, token, cnt, planLater(child)) :: Nil
    case _ => Nil
  }
}
