package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Times the nearest-codeword assignment on the 20× stress corpus that
  * `graft.Stress` writes (run via Test/runMain; first argument the
  * corpus dir, default /tmp/graft-stress): the codegen'd NearestCode
  * kernel (`Similarity.withAssignment`) against the two built-ins
  * formulations it replaced ([[NearestTwins]]) — the
  * literal `least()` chain at k = 8 and 64, and the broadcast cross
  * join + `row_number` window at k = 64 and 141 (√N at 20×). The model
  * is the first k vectors by vec_id. One session; every formulation
  * runs a full-row `noop` write (a `count()` can prune the assignment
  * away), two warm-ups each, then 7 rounds in rotating order; prints
  * the median seconds per (formulation, k).
  */
object KcenterProbe {
  def main(args: Array[String]): Unit = {
    val spark = QueryRun.session("kcenterprobe")
    val dir = args.headOption.getOrElse("/tmp/graft-stress")
    val e = graft.core.Tables.embeddings(spark, dir)
      .select(col("vec_id"), Similarity.microVec(col("embedding")).as("mvec"))
      .localCheckpoint()
    val n = e.count()
    def model(k: Int): Array[Array[Long]] =
      e.orderBy("vec_id").limit(k).collect().map(_.getSeq[Long](1).toArray)
    val literal = (m: Array[Array[Long]]) => {
      val best = NearestTwins.leastChain(col("mvec"), m)
      e.withColumn("d2c", best.getField("col1"))
        .withColumn("centroid", best.getField("col2"))
    }
    val runs: Seq[(String, () => DataFrame)] =
      Seq(8, 64, 141).flatMap { k =>
        val m = model(k)
        Seq(s"kernel k=$k" -> (() => Similarity.withAssignment(e, m))) ++
          (if (k <= 64) Seq(s"literal k=$k" -> (() => literal(m))) else Nil) ++
          (if (k >= 64) Seq(s"window k=$k" ->
            (() => NearestTwins.windowArgmin(e, m))) else Nil)
      }
    def once(df: () => DataFrame): Double =
      QueryRun.time(df().write.format("noop").mode("overwrite").save())._2
    runs.foreach { case (_, df) => once(df); once(df) }
    val secs = (0 until 7).flatMap { r =>
      val order = runs.drop(r % runs.length) ++ runs.take(r % runs.length)
      order.map { case (label, df) => label -> once(df) }
    }.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    println(s"[kcprobe] corpus $dir: $n vectors, 7 rounds after 2 warm-ups")
    runs.foreach { case (label, _) =>
      val xs = secs(label)
      println(s"[kcprobe] $label: median ${QueryRun.num(xs(3), 3)} s " +
        s"(min ${QueryRun.num(xs.head, 3)}, max ${QueryRun.num(xs.last, 3)})")
    }
    spark.stop()
  }
}
