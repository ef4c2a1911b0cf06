package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q91's table statistics in the formulation that preceded
  * [[graft.ops.Layout.tableStats]]: one GROUP BY-free aggregate with a
  * `countDistinct` per column (planned as one Expand over the scan),
  * unpivoted to long format. Kept as the reference the current plan is
  * pinned against.
  */
object TableStatsReference {

  def tableStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"),
      countDistinct(col(c)).as(s"ndv_$c"),
      min(col(c)).cast("double").as(s"min_$c"),
      max(col(c)).cast("double").as(s"max_$c")))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"),
        col("n_rows"),
        (col("n_rows") - col(s"nn_$c")).as("n_nulls"),
        col(s"ndv_$c").as("n_distinct"),
        col(s"min_$c").as("min_v"),
        col(s"max_$c").as("max_v"))): _*)).as("st"))
      .select("st.*")
      .orderBy("col_name")
  }
}
