package graft

import org.apache.spark.sql.functions._

/** Measurement probe for [[graft.ops.ScalarSuites.rank]]'s single-task
  * bound (r17): times its single-task sort (a known row bound) against
  * its range path (no bound) on synthetic unique-key frames of growing
  * size, timing with the noop sink (guide §1.4 — count() would let the
  * optimizer prune the rank itself). Not a registered query; the
  * committed evidence for [[graft.ops.ScalarSuites.SingleTaskMaxRows]]
  * lives in OPTIMIZATION_r17.md §rank-crossover.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.RankProbe"
  */
object RankProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession
      .builder("graft-rank-probe", s"local[$cpus]",
        shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.ops.ScalarSuites

    // unique composite sort key (v, id) with v deliberately non-unique —
    // the q60/q150 shape (value + id tie-break)
    def frame(n: Long) =
      spark.range(0, n, 1, cpus.toInt)
        .select(col("id"), pmod(col("id") * 2654435761L, lit(1000003L)).as("v"))

    def timeNoop(df: => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val sizes = Seq(17, 19, 21, 22, 23, 24).map(b => 1L << b)
    // warm codegen/classloading on a small frame
    val sort = Seq(col("v"), col("id"))
    def singleTask(df: org.apache.spark.sql.DataFrame) =
      ScalarSuites.rank(df, sort, maxRows = Some(1L))
    def range(df: org.apache.spark.sql.DataFrame) = ScalarSuites.rank(df, sort)
    Seq(singleTask(frame(1000)), range(frame(1000))).foreach(timeNoop(_))
    val rows = sizes.map { n =>
      val df = frame(n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize so both variants read the same cache
      val tb = (1 to 3).map(_ =>
        timeNoop(singleTask(df))).min
      val tg = (1 to 3).map(_ =>
        timeNoop(range(df))).min
      df.unpersist()
      f"""{"n":$n,"bounded_sec":$tb%.3f,"global_sec":$tg%.3f}"""
    }
    println(s"""{"metric":"rank_crossover","cpus":$cpus,"rows":[${rows.mkString(",")}]}""")
    spark.stop()
  }
}
