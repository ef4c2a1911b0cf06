package graft

/** Ad-hoc query runner for humans:
  * `runMain graft.RunQuery <queryName> [sfDir] [nRows]` — prints the
  * result head and the row count. `runMain graft.RunQuery list` lists
  * query names.
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty || args(0) == "list") {
      QueryRun.names(Nil).foreach(println)
      return
    }
    val Seq(name) = QueryRun.names(args.take(1).toSeq)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val n = args.lift(2).fold(20)(_.toInt)
    val spark = QueryRun.session("graft-run")
    try {
      val df = SparkEntry.queries(name)(spark, sfDir).persist()
      df.show(n, truncate = false)
      println(s"rows: ${df.count()}") // served from the persisted result
    } finally spark.stop()
  }
}
