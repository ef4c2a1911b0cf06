package graft

import org.apache.spark.sql.functions._

/** Ad-hoc k-envelope measurement for the k-center family on the 20×
  * stress corpus (run via Test/runMain): times the Gonzalez fit and
  * the assignment map pass at data-pruning k (default 128), and runs
  * the assignment BOTH ways — the codegen'd KcenterNearest expression
  * vs the composable least()-of-k-structs chain it replaced — so the
  * codegen-budget claim is a measured number, not an analogy to q169.
  * Numbers land in NOTES round 14.
  */
object KcenterProbe {
  def main(args: Array[String]): Unit = {
    val spark = QueryRun.session("kcenterprobe")
    val dir = args.headOption.getOrElse("/tmp/graft-stress")
    val k = args.lift(1).map(_.toInt).getOrElse(128)
    def time[A](label: String)(f: => A): A = {
      val (r, secs) = QueryRun.time(f)
      println(s"[kcprobe] $label: ${QueryRun.num(secs, 2)} s")
      r
    }
    val n = graft.core.Tables.embeddings(spark, dir).count()
    println(s"[kcprobe] corpus $dir: $n vectors, k=$k")
    val (centers, radius) = time(s"gonzalez fit k=$k") {
      graft.ops.Similarity.kcenterFit(spark, dir, k)
    }
    println(s"[kcprobe] radius=$radius")
    val vecs = graft.core.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    // warm both assignment plans once (codegen compilation), then time
    time("assign warmup (expression path)") {
      graft.ops.Similarity.coresetAssignBatch(vecs, centers, radius).count()
    }
    time(s"assign k=$k, codegen KcenterNearest") {
      graft.ops.Similarity.coresetAssignBatch(vecs, centers, radius).count()
    }
    val mv = vecs.select(col("vec_id"),
      graft.ops.Similarity.microVec(col("embedding")).as("mvec"))
    time(s"assign k=$k, literal least()-of-structs chain (warm)") {
      graft.ops.Similarity.withKcenterAssignmentLiteral(mv, centers).count()
    }
    time(s"assign k=$k, literal least()-of-structs chain") {
      graft.ops.Similarity.withKcenterAssignmentLiteral(mv, centers).count()
    }
    // is each assignment Project actually inside whole-stage codegen?
    def codegenStatus(label: String,
        df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      val projLines = plan.linesIterator.filter(_.contains("Project")).toSeq
      val inWscg = projLines.exists(l => "^\\s*\\*".r.findFirstIn(l).isDefined)
      println(s"[kcprobe] $label: project-in-codegen=$inWscg")
    }
    codegenStatus("expression path",
      graft.ops.Similarity.coresetAssignBatch(vecs, centers, radius))
    codegenStatus("literal chain",
      graft.ops.Similarity.withKcenterAssignmentLiteral(mv, centers))
    spark.stop()
  }
}
