package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [queryName...] — every
  * registered query, or only the named ones (a targeted dump).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val names = QueryRun.names(args.drop(2).toSeq)
    val spark = QueryRun.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // queries run CONCURRENTLY on the shared session (SparkSession is
    // thread-safe; each job writes its own directory) — per-job fixed
    // overhead dominates at sf0.01, so overlapping jobs cuts the wall
    // time roughly by the pool width. FIFO scheduling is fine: jobs are
    // small and the pool bounds how many are in flight.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, Runtime.getRuntime.availableProcessors()))
    names.map { name =>
      pool.submit(new Runnable {
        def run(): Unit =
          QueryRun.run(spark, name, sfDir, QueryRun.Parquet(s"$outDir/$name"))
      })
    }.foreach(_.get())
    pool.shutdown()
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${QueryRun.str(k)}: ${QueryRun.str(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
