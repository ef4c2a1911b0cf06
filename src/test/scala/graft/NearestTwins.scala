package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** The two built-ins formulations of "nearest codeword of a literal
  * model, ties to the smaller index" that the NearestCode kernel
  * replaced — the references ExpressionsSpec and SimilaritySpec compare
  * it against, and KcenterProbe times it against.
  */
object NearestTwins {

  /** A `least()` over (d2, index) structs for codebook `book` over the
    * slice of `v` that starts at `base`, so equal distances go to the
    * smaller index; `len = None` reads the whole vector (a
    * single-codebook model). Fields: col1 = d2, col2 = index.
    */
  def leastChain(v: Column, book: Array[Array[Long]], base: Int = 0,
      len: Option[Int] = None): Column = {
    val sub = len.fold(v)(n => slice(v, base + 1, n))
    val scored = book.zipWithIndex.map { case (cw, i) =>
      struct(Similarity.dist2(sub, lit(cw)), lit(i.toLong))
    }
    if (scored.length == 1) scored.head else least(scored.toIndexedSeq: _*)
  }

  /** The broadcast cross join + `row_number` argmin that assigned IVF
    * models above 32 centroids: adds (centroid, d2c) to a frame carrying
    * `mvec`, (d2, centroid) lexicographic order, one row per input row.
    */
  def windowArgmin(e: DataFrame, cents: Array[Array[Long]]): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val cdf = cents.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toSeq) }
      .toDF("c_id", "cvec")
    val w = Window.partitionBy("__rid").orderBy(col("d2c"), col("c_id"))
    e.withColumn("__rid", monotonically_increasing_id())
      .crossJoin(broadcast(cdf))
      .withColumn("d2c", Similarity.dist2(col("mvec"), col("cvec")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .withColumnRenamed("c_id", "centroid")
      .drop("rn", "cvec", "__rid")
  }
}
