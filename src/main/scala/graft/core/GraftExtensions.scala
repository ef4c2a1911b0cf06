package graft.core

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions.expressions._

/** SQL surface for the engine's custom Catalyst expressions: a
  * `SparkSessionExtensions` hook that registers each of them in the
  * session's FunctionRegistry, so `spark.sql` users (and BI tools
  * speaking plain SQL through a thrift/connect front) reach the exact
  * same codegen'd expressions as the Column API — one implementation,
  * two surfaces.
  *
  * Wired two ways, both standard: [[GraftSession.builder]] attaches it
  * via `withExtensions`, and the no-arg class also works through
  * `spark.sql.extensions=graft.core.GraftExtensions` on any session
  * this library is on the classpath of (that is the whole reason this
  * is a class, not only an object).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach(ext.injectFunction)
    // the word-count aggregate onto the fused map-side counter, and the
    // strategy that plans the counter and the Final-mode sum above it
    ext.injectOptimizerRule(_ => TokenCountRewrite)
    ext.injectPlannerStrategy(_ => TokenCountStrategy)
  }
}

object GraftExtensions {

  private def reg(name: String, usage: String)(
      builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.functions.expressions", null, name, usage, ""),
      builder)

  private def badArgs(name: String, got: Seq[Expression]): Nothing =
    throw new IllegalArgumentException(
      s"$name: unexpected arguments (${got.length}); see function usage")

  /** All custom-expression SQL registrations. Input-type misuse is an
    * ANALYSIS error via each expression's ExpectsInputTypes contract;
    * arity/shape misuse fails here at function resolution.
    */
  val registrations: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    reg("string_tokens",
      "string_tokens(text) - StringTokenizer-faithful tokens of text") {
      case Seq(t) => StringTokens(t)
      case other  => badArgs("string_tokens", other)
    },
    reg("token_shingles",
      "token_shingles(tokens, n) - n-gram shingles of a token array (n a literal int)") {
      case Seq(t, Literal(n: Int, IntegerType)) => TokenShingles(t, n)
      // fold a constant expression (e.g. 1+1) down to the int literal;
      // a non-int or non-constant n gets a targeted message instead of
      // the misleading arity error
      case Seq(t, n) if n.resolved && n.foldable &&
          n.dataType == IntegerType && n.eval() != null =>
        TokenShingles(t, n.eval().asInstanceOf[Int])
      case Seq(_, n) =>
        throw new IllegalArgumentException(
          "token_shingles: n must be a constant non-null INT, got " +
            (if (n.resolved) n.dataType.simpleString else n.sql))
      case other => badArgs("token_shingles", other)
    },
    reg("token_counts",
      "token_counts(text) - per-distinct-token counts of text as array<struct<token,cnt>>") {
      case Seq(t) => TokenCounts(t)
      case other  => badArgs("token_counts", other)
    },
    reg("array_intersect_count",
      "array_intersect_count(a, b) - size of the distinct intersection of two string arrays") {
      case Seq(a, b) => ArrayIntersectCount(a, b)
      case other     => badArgs("array_intersect_count", other)
    },
    reg("float_dot",
      "float_dot(a, b) - dot product of two array<float> vectors as double") {
      case Seq(a, b) => FloatDot(a, b)
      case other     => badArgs("float_dot", other)
    },
    reg("strip_accents",
      "strip_accents(text) - NFD accent fold (combining marks removed)") {
      case Seq(t) => StripAccents(t)
      case other  => badArgs("strip_accents", other)
    },
    reg("dhash_bands",
      "dhash_bands(payload) - 8 dHash row-gradient band values of a binary payload (72-cell byte fold, bit c of band r set iff cell(r,c+1) > cell(r,c))") {
      case Seq(p) => DHashBands(p)
      case other  => badArgs("dhash_bands", other)
    })
}
