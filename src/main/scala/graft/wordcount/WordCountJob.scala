package graft.wordcount

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GraftSession
import graft.functions.TextFunctions.tokens

/** The reference's one query — WordCount — rebuilt Spark-first.
  *
  * Semantics pinned to the reference (SURVEY §2):
  *  - tokenize on the single char U+0020, no empty tokens
  *    (`MapClass.java:22`, StringTokenizer semantics — §2.4);
  *  - count per token (`ReduceClass.java:15-22`). [[count]] keeps the
  *    reference-readable `explode → groupBy → count(1)`; the session's
  *    [[graft.core.TokenCountRewrite]] plans it as one map-side operator
  *    that counts tokens straight off each line's bytes
  *    ([[graft.functions.PartialTokenCount]]); the counter stands in for
  *    Spark's partial aggregate, and only the shuffle and a Final-mode
  *    HashAggregate sum its per-partition counts
  *    ([[graft.core.TokenCountStrategy]]) — the map-side combine the
  *    reference never registers (`WordCount.java:41-42`), without a row
  *    per token occurrence;
  *  - total-order sort in UTF-8 BYTE order (`Text.Comparator`, §2.6):
  *    Spark's default UTF8_BINARY string order compares the UTF-8
  *    bytes, so a plain sort on `word` is that order (code-point order,
  *    not Java's UTF-16 order — WordCountSpec pins the supplementary
  *    plane against U+E000..U+FFFF on every sorting path);
  *  - TSV output `word\tcount`, fail-if-output-exists
  *    (`TextOutputFormat` + `FileOutputFormat.checkOutputSpecs`,
  *    `WordCount.java:35,39`) = SaveMode.ErrorIfExists;
  *  - CLI contract: exactly 2 args, usage + exit -1 otherwise
  *    (`WordCount.java:25-28`).
  *
  * Scale: `singleFile = true` reproduces the reference's 1-reducer single
  * output file: the aggregation runs at full parallelism, then one hash
  * exchange into a single partition feeds one task that sorts and
  * writes — the one reducer, with no range-sort sampling job. At 100 TB
  * you run `singleFile = false`: the global sort range-partitions, part
  * files are globally ordered by part index — same total order,
  * concatenation-compatible (cf. the reference's vendored
  * `FileUtil.copyMerge`, `FileUtil.java:194-228`). [[count]] keeps the
  * global sort as well.
  */
object WordCountJob {

  /** word → count, unsorted. */
  private def counts(input: DataFrame): DataFrame =
    input
      .select(explode(tokens(col("value"))).as("word"))
      .groupBy("word")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("count"))

  /** word → count, sorted by UTF-8 byte order of the word. */
  def count(spark: SparkSession, input: DataFrame): DataFrame =
    counts(input).orderBy("word")

  def run(spark: SparkSession, in: String, out: String, singleFile: Boolean = true): Unit = {
    val counted = counts(spark.read.text(in))
    // one task writes the single file, so it sorts too: one hash exchange
    // into one partition instead of a range exchange and its sampler job
    // (round-robin `repartition(1)` would add a local sort per upstream
    // task, `sortBeforeRepartition`)
    val sorted =
      if (singleFile) counted.repartition(1, col("word")).sortWithinPartitions("word")
      else counted.orderBy("word")
    sorted.select(concat_ws("\t", col("word"), col("count")).as("value"))
      .write.mode(SaveMode.ErrorIfExists).text(out)
  }

  def main(args: Array[String]): Unit = sys.exit(execute(args))

  /** `-Dkey=value` generic options, the ToolRunner/GenericOptionsParser
    * surface the reference driver accepts (`WordCount.java:20`) and then
    * silently drops (`WordCount.java:30` builds a fresh Configuration
    * instead of using `getConf()` — documented reference bug, SURVEY
    * §2.1). Here the overrides are parsed AND applied (fixed, not
    * reproduced): they land in the session conf via GraftSession's
    * `extraConf`. A `-D` without `=` is not an option, per
    * GenericOptionsParser — it falls through to the positional args.
    */
  def parseDashD(args: Array[String]): (Map[String, String], Array[String]) = {
    val (opts, rest) = args.partition(a => a.startsWith("-D") && a.contains("="))
    val conf = opts.map(_.stripPrefix("-D")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> v
    }.toMap
    (conf, rest)
  }

  /** Reference driver contract (`WordCount.java:19-28,44-52`). */
  def execute(args: Array[String]): Int = {
    val (conf, rest) = parseDashD(args)
    if (rest.length != 2) {
      System.err.println("Usage: WordCountJob [-Dkey=value ...] <input> <output>")
      return -1
    }
    // stop only a session this invocation created — getOrCreate may hand
    // back a caller's live session (and applies `conf` to it). A default
    // session whose context was already stopped does NOT count: getOrCreate
    // replaces it with a fresh one that this invocation then owns
    val preexisting = org.apache.spark.sql.SparkSession.getDefaultSession
      .exists(s => !s.sparkContext.isStopped)
    val spark = GraftSession.builder("WordCounter", extraConf = conf).getOrCreate()
    try {
      run(spark, rest(0), rest(1))
      println("Job was successful")
      0
    } catch {
      case e: Exception =>
        System.err.println(s"Job was not successful: ${e.getMessage}")
        1
    } finally if (!preexisting) spark.stop()
  }
}
