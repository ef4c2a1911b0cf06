package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Tables

/** MEASUREMENT main (Test/runMain graft.Q101Probe [dir]): q101 cost
  * attribution. History: round 9 measured verify→distinct vs
  * distinct→verify (the latter shipped, 3.18 vs 3.75 s); round 10
  * recorded that length-segmented keys are a no-op under the
  * string-equality join (a deletion key of a length-L name has length
  * L or L−1, so cross-length candidates never share a key STRING —
  * the hash join's key includes the length by construction); round 14
  * re-runs the question as STAGE attribution on a 32-thread session
  * (the r13 lesson: TestSpark's local[4] numbers do not extrapolate),
  * because q101 is the slowest bench query (3.3 s) while being
  * FIXTURE-BOUND — customer is not replicated at 20×, so the whole
  * cost sits on a 15k-row table and must be per-stage overhead, not
  * volume.
  */
object Q101Probe {
  def main(args: Array[String]): Unit = {
    val spark = QueryRun.session("q101probe")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")

    def keysOf(named: DataFrame): DataFrame = named
      .select(col("key"), col("name"),
        explode(array_union(
          array(col("name")),
          expr("""transform(sequence(1, length(name)),
                 | i -> concat(substring(name, 1, i - 1),
                 |             substring(name, i + 1, length(name))))
                 |""".stripMargin.replace('\n', ' ')))).as("k0"))
      .select(col("key"), col("name"), xxhash64(col("k0")).as("k"))

    def candidates(named: DataFrame): DataFrame = {
      val keys = keysOf(named)
      val a = keys.select(col("key").as("key_a"),
        col("name").as("name_a"), col("k"))
      val b = keys.select(col("key").as("key_b"),
        col("name").as("name_b"), col("k"))
      a.join(b, Seq("k")).where(col("key_a") < col("key_b"))
    }

    val named = Tables.customer(spark, dir)
      .select(col("c_custkey").as("key"), col("c_name").as("name"))

    def timeMin(label: String)(mk: => DataFrame): Unit = {
      val n = mk.count() // warm
      val t = (1 to 3).map(_ => QueryRun.time(mk.count())._2).min
      println(f"[q101probe] $label%-38s ${t}%6.2f s  rows $n")
    }

    timeMin("base scan")(named)
    timeMin("keys (explode + xxhash64)")(keysOf(named))
    timeMin("join (candidate occurrences)")(candidates(named))
    timeMin("+ distinct pairs")(
      candidates(named)
        .select("key_a", "key_b", "name_a", "name_b").distinct())
    timeMin("+ bounded levenshtein verify")(
      candidates(named)
        .select("key_a", "key_b", "name_a", "name_b").distinct()
        .withColumn("lev",
          levenshtein(col("name_a"), col("name_b"), 1).cast("long"))
        .where(col("lev") >= 0L && col("lev") <= 1L))
    timeMin("full q101 (count path, sort elided)")(
      graft.ops.Dedup.q101FuzzyNames(spark, dir))
    // variant: slim join — keys carry only (key, k); names re-attach to
    // the DISTINCT pairs by two keyed joins against the 15k-row base
    // (the candidate shuffle then moves 3×8-byte rows instead of two
    // ~25-char strings per occurrence)
    timeMin("variant: slim join + name re-attach")({
      val keys = keysOf(named).select("key", "k")
      val a = keys.select(col("key").as("key_a"), col("k"))
      val b = keys.select(col("key").as("key_b"), col("k"))
      val pairs = a.join(b, Seq("k")).where(col("key_a") < col("key_b"))
        .select("key_a", "key_b").distinct()
      pairs
        .join(named.select(col("key").as("key_a"), col("name").as("name_a")),
          Seq("key_a"))
        .join(named.select(col("key").as("key_b"), col("name").as("name_b")),
          Seq("key_b"))
        .withColumn("lev",
          levenshtein(col("name_a"), col("name_b"), 1).cast("long"))
        .where(col("lev") >= 0L && col("lev") <= 1L)
    })
    spark.stop()
  }
}
