package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (Spark startup is
  * ~5 s; per-suite sessions would dominate test time).
  */
object TestSpark {
  lazy val spark: SparkSession = QueryRun.session("graft-tests", 4)
  val sf: String = "/root/testdata/sf0.001"
}
