package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measurement probe for [[graft.ops.ScalarSuites.rank]]'s single-task
  * bound (r17): times its single-task sort (a known row bound) against
  * its range path (no bound) on synthetic unique-key frames of growing
  * size, timing with the noop sink (guide §1.4 — count() would let the
  * optimizer prune the rank itself). Not a registered query; the
  * committed evidence for [[graft.ops.ScalarSuites.SingleTaskMaxRows]]
  * lives in OPTIMIZATION_r17.md §rank-crossover.
  *
  * Usage: sbt "runMain graft.RankProbe"
  */
object RankProbe {
  def main(args: Array[String]): Unit = {
    val spark = QueryRun.session("graft-rank-probe")
    import graft.ops.ScalarSuites

    // unique composite sort key (v, id) with v deliberately non-unique —
    // the q60/q150 shape (value + id tie-break)
    def frame(n: Long) =
      spark.range(0, n, 1, QueryRun.cpus)
        .select(col("id"), pmod(col("id") * 2654435761L, lit(1000003L)).as("v"))

    def timeNoop(df: => DataFrame): Double =
      QueryRun.time(df.write.format("noop").mode("overwrite").save())._2

    val sizes = Seq(17, 19, 21, 22, 23, 24).map(b => 1L << b)
    // warm codegen/classloading on a small frame
    val sort = Seq(col("v"), col("id"))
    def singleTask(df: DataFrame) = ScalarSuites.rank(df, sort, maxRows = Some(1L))
    def range(df: DataFrame) = ScalarSuites.rank(df, sort)
    Seq(singleTask(frame(1000)), range(frame(1000))).foreach(timeNoop(_))
    val rows = sizes.map { n =>
      val df = frame(n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize so both variants read the same cache
      val tb = (1 to 3).map(_ => timeNoop(singleTask(df))).min
      val tg = (1 to 3).map(_ => timeNoop(range(df))).min
      df.unpersist()
      s"""{"n":$n,"bounded_sec":${QueryRun.num(tb)},"global_sec":${QueryRun.num(tg)}}"""
    }
    println(s"""{"metric":"rank_crossover","cpus":${QueryRun.cpus},"rows":[${rows.mkString(",")}]}""")
    spark.stop()
  }
}
