package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, Final, Max, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Tables, TokenCountStrategy}
import graft.functions.PartialTokenCount
import graft.functions.TextFunctions.{tokens, tokensHof}
import graft.wordcount.WordCountJob

/** [[graft.core.TokenCountRewrite]] fires on every word-count-shaped
  * aggregate the engine runs, on nothing else, and each rewritten
  * answer equals its `tokensHof` twin — the same query over the
  * built-ins-only tokenizer, which the rule cannot match.
  */
class TokenCountRewriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def fused(p: LogicalPlan): Boolean =
    p.collectFirst { case n: PartialTokenCount => n }.isDefined

  private def fires(df: DataFrame): Boolean = fused(df.queryExecution.optimizedPlan)

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString)

  private def docs: DataFrame = Tables.documents(spark, sf)

  private def wordCount(tok: Column => Column): DataFrame =
    docs.select(explode(tok(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt")).orderBy("word")

  // q106's pipeline over a pluggable tokenizer: vocabulary, then the
  // frequency-weighted adjacent-character pairs
  private def bpePairs(tok: Column => Column): DataFrame =
    docs.select(explode(tok(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .filter(length(col("word")) >= 2)
      .select(col("freq"), explode(
        transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(30)

  // q153's starting vocabulary: each word as its space-joined characters
  private def bpeVocab(tok: Column => Column): DataFrame =
    docs.select(explode(tok(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(
        concat_ws(" ",
          expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
          .as("seq"),
        col("freq"))
      .orderBy("seq")

  test("fires on WordCountJob.count, q20, q117 (SQL), q106's and q153's vocabularies; answers equal the tokensHof twins") {
    val lines = docs.select(col("text").as("value"))
    val wc = WordCountJob.count(spark, lines)
    val wcTwin = lines.select(explode(tokensHof(col("value"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("count"))
      .orderBy(encode(col("word"), "UTF-8"))
    val q20 = SparkEntry.queries("q20_wordcount")(spark, sf)
    val q117 = SparkEntry.queries("q117_sql_wordcount")(spark, sf)
    docs.createOrReplaceTempView("token_count_rewrite_docs")
    val q117Twin = spark.sql(
      """SELECT word, count(*) AS cnt
        |FROM (SELECT explode(filter(split(text, ' ', -1), t -> t <> '')) AS word
        |      FROM token_count_rewrite_docs)
        |GROUP BY word ORDER BY word""".stripMargin)
    val q106 = SparkEntry.queries("q106_bpe_pairs")(spark, sf)
    val cases = Seq(
      ("WordCountJob.count", wc, wcTwin),
      ("q20", q20, wordCount(tokensHof)),
      ("q117", q117, q117Twin),
      ("q106", q106, bpePairs(tokensHof)),
      ("q106 pipeline", bpePairs(tokens), bpePairs(tokensHof)),
      // q153's words0: CollapseProject folds the `seq` projection into
      // the aggregate's outputs
      ("q153 vocabulary", bpeVocab(tokens), bpeVocab(tokensHof)),
      // a computed text column takes the operator's projection path
      ("tokens(lower(text))", wordCount(t => tokens(lower(t))), wordCount(t => tokensHof(lower(t)))))
    for ((name, df, twin) <- cases) {
      assert(fires(df), s"$name: rule did not fire\n${df.queryExecution.optimizedPlan}")
      assert(!fires(twin), s"$name twin: rule fired on the tokensHof formulation")
      val got = rows(df)
      assert(got.nonEmpty, s"$name: empty answer")
      assert(got == rows(twin), s"$name: rewritten answer differs from its tokensHof twin")
    }
  }

  test("count stays a non-null bigint in the output schema") {
    val wc = WordCountJob.count(spark, docs.select(col("text").as("value")))
    val q20 = SparkEntry.queries("q20_wordcount")(spark, sf)
    val q117 = SparkEntry.queries("q117_sql_wordcount")(spark, sf)
    for ((df, c) <- Seq((wc, "count"), (q20, "cnt"), (q117, "cnt"))) {
      assert(fires(df))
      val f = df.schema(c)
      assert(f.dataType == LongType && !f.nullable, s"$c: ${f.dataType} nullable=${f.nullable}")
    }
  }

  test("does not fire on (lang, word) grouping, count(DISTINCT), explode_outer, posexplode or tokensHof") {
    val t = col("text")
    val cases: Seq[(String, DataFrame)] = Seq(
      "q21 (lang, word)" -> SparkEntry.queries("q21_wordcount_per_lang")(spark, sf),
      "count(DISTINCT)" -> docs.select(col("doc_id"), explode(tokens(t)).as("word"))
        .groupBy("word").agg(countDistinct(col("doc_id")).as("cnt")),
      "count(DISTINCT 1)" -> docs.select(explode(tokens(t)).as("word"))
        .groupBy("word").agg(countDistinct(lit(1)).as("cnt")),
      "explode_outer" -> docs.select(explode_outer(tokens(t)).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt")),
      "posexplode" -> docs.select(posexplode(tokens(t)).as(Seq("pos", "word")))
        .groupBy("word").agg(count(lit(1)).as("cnt")),
      "tokensHof" -> wordCount(tokensHof),
      "count plus a second aggregate" -> docs.select(explode(tokens(t)).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"), sum(length(col("word"))).as("chars")))
    for ((name, df) <- cases) {
      assert(!fires(df), s"$name: rule fired\n${df.queryExecution.optimizedPlan}")
      assert(df.count() > 0, s"$name: empty answer")
    }
  }

  test("strategy plans the aggregate over the counter Final-only, for one sum(cnt) by the token alone") {
    val text = AttributeReference("text", StringType)()
    val word = AttributeReference("word", StringType)()
    val cnt = AttributeReference("cnt", LongType, nullable = false)()
    val counter = PartialTokenCount(text, word, cnt, LocalRelation(text))
    def planned(key: Attribute, fns: AggregateFunction*): Seq[SparkPlan] =
      TokenCountStrategy(Aggregate(Seq(key),
        key +: fns.zipWithIndex.map { case (f, i) => Alias(f.toAggregateExpression(), s"a$i")() },
        counter))
    val fin = planned(word, Sum(cnt))
    assert(fin.size == 1)
    assert(fin.head.collect { case a: BaseAggregateExec => a.aggregateExpressions.map(_.mode) }
      .flatten == Seq(Final), fin.head)
    assert(fin.head.collect { case p: ProjectExec => p }.size == 1, fin.head)
    // anything else is left to Spark's own aggregate planning
    for ((name, p) <- Seq(
        "sum and max" -> planned(word, Sum(cnt), Max(cnt)),
        "max" -> planned(word, Max(cnt)),
        "grouped by cnt" -> planned(cnt, Sum(cnt))))
      assert(p.isEmpty, s"$name: planned by the strategy\n${p.mkString("\n")}")
  }
}
