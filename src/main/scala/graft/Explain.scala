package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection tool: prints the formatted physical plan for the named
  * queries (or a pushdown/broadcast/codegen summary for all with no args).
  *
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  *        runMain graft.Explain write [sfDir] [outDir] [queryName...]
  *          — dump EVERY registered query's formatted plan (or only the
  *          named ones) to <outDir>/<name>.txt (committed under explain/
  *          so pushdown, broadcast choices and join strategies are
  *          reviewable facts, not claims)
  */
object Explain {

  /** q69 needs bespoke treatment: the interesting plan is the PER-ROUND
    * propagation step inside connectedComponents' loop (invisible from
    * the final frame, whose lineage is truncated by the checkpoints).
    * Executes one round on the sfDir pair graph and writes its AQE-final
    * plan, plus the measured round count to convergence — the two facts
    * the scale argument rests on (hash-join rounds, diameter-bounded
    * count). If the 20× stress corpus is present (scripts/stress.sh has
    * run), its round count is recorded too.
    */
  private def writeQ69Artifact(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    import graft.ops.Dedup
    import org.apache.spark.sql.functions._
    val edges = Dedup.symmetrizeEdges(Dedup.lshCandidatePairs(spark, sfDir))
    val labels = edges.groupBy(col("doc_a").as("doc_id"))
      .agg(min(least(col("doc_a"), col("doc_b"))).as("component"))
    val round = Dedup.propagateOnce(edges, labels)
    round.collect()
    val planTxt = round.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    def roundsLine(dir: String): String = {
      val raw = Dedup.lshCandidatePairs(spark, dir)
      val contracted = Dedup.contractedCandidatePairs(spark, dir)
      val (_, rRaw) = Dedup.connectedComponentsWithRounds(raw)
      val (_, rCon) = Dedup.connectedComponentsWithRounds(contracted)
      s"$dir: raw graph ${raw.count()} pairs / $rRaw rounds; " +
        s"after exact-dup contraction (what q69 actually runs) " +
        s"${contracted.count()} pairs / $rCon rounds\n"
    }
    val stressDir = "/tmp/graft-stress"
    val stressLine =
      if (new java.io.File(s"$stressDir/documents.parquet").exists())
        roundsLine(stressDir)
      else ""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/q69_dedup_components.txt"),
      s"== q69_dedup_components (sfDir=$sfDir) ==\n\n" +
        "One propagation round of connectedComponents (executed, AQE-final plan).\n" +
        "Each round is exactly this operator re-run on the checkpointed labels;\n" +
        "round count is bounded by component diameter. q69 feeds the kernel the\n" +
        "exact-dup-CONTRACTED graph (Dedup.contractedCandidatePairs) — identical\n" +
        "texts collapse to their min-id rep with labels provably unchanged.\n\n" +
        roundsLine(sfDir) + stressLine + "\n" + planTxt)
    println(s"wrote $outDir/q69_dedup_components.txt")
  }

  /** The checkpoint-truncated queries' PRE-checkpoint plans, appended to
    * their explain files: q137/q147's explains end at the final eager
    * localCheckpoint (`Scan ExistingRDD` — a 10-line stub), q165's final
    * round branches over lazily-checkpointed frames, and q157's three
    * inputs are deliberately truncated (the 2,204→334-line plan-size
    * trade). The loop/input bodies are where the iterative scale cost
    * lives, so each is executed once and its AQE-final plan committed
    * alongside the stub — plan review and future plan gates see both.
    */
  private def appendPreCheckpointPlans(spark: SparkSession, sfDir: String,
      outDir: String): Unit = {
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    }
    def append(file: String, header: String, body: String): Unit = {
      val p = java.nio.file.Paths.get(s"$outDir/$file")
      java.nio.file.Files.writeString(p,
        s"\n\n== $header (executed: AQE-final plan) ==\n\n" + body,
        java.nio.file.StandardOpenOption.APPEND)
      println(s"appended pre-checkpoint plan to $outDir/$file")
    }
    val prBody = planOf(graft.ops.Dedup.pagerankLoopBody(spark, sfDir))
    append("q137_pagerank.txt",
      "per-iteration loop body, pre-checkpoint (pagerankRepStep)", prBody)
    append("q147_pagerank_converged.txt",
      "per-iteration loop body, pre-checkpoint (pagerankRepStep)", prBody)
    append("q165_mmr_topk.txt",
      "round-2 selection body, pre-checkpoint (mmrRound)",
      planOf(graft.ops.Similarity.mmrLoopBody(spark, sfDir)))
    graft.ops.Multimodal.q157InputFrames(spark, sfDir).foreach {
      case (label, df) =>
        append("q157_crossmodal_neardup.txt",
          s"truncated input, pre-checkpoint: $label", planOf(df))
    }
    // the maintenance twin's per-batch delta body (r15): new-rep
    // signatures vs the full store + shared verify — the plan every
    // arriving micro-batch runs in pagerankMaintainAtIngest. The
    // synthetic batch (shifted ids, suffixed texts) guarantees the
    // new-rep arm is populated so the dumped plan is the real shape.
    val prgState = graft.streaming.StreamingOps
      .buildRepGraphState(spark, sfDir)
    try {
      val syntheticBatch = graft.core.Tables.documents(spark, sfDir)
        .filter(org.apache.spark.sql.functions.col("doc_id") % 7 === 0)
        .select(
          (org.apache.spark.sql.functions.col("doc_id") + 10000000L)
            .as("doc_id"),
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.col("text"),
            org.apache.spark.sql.functions.lit(" delta")).as("text"))
      val file = "streaming_pagerank_maintain.txt"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$file"),
        "streaming_pagerank_maintain — not a registered query: the " +
          "per-batch delta of the incremental rep-graph maintenance " +
          "twin (StreamingOps.pagerankMaintainAtIngest), spec-pinned " +
          "bit-equal to batch q147 in StreamingSpec.")
      append(file, "per-batch delta body (maintainDeltaBody)",
        planOf(graft.streaming.StreamingOps
          .maintainDeltaBody(prgState, syntheticBatch)))
    } finally prgState.unpersist()
    // the calibrated-admission twin's per-batch body (r16): in-row
    // margin + one broadcast join against the model-sized per-source
    // threshold table — the plan every arriving micro-batch runs in
    // calibratedAdmitAtIngest
    val thresholds = graft.streaming.StreamingOps
      .buildCalibrationThresholds(spark, sfDir)
    try {
      val file = "streaming_calibrated_admit.txt"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$file"),
        "streaming_calibrated_admit — not a registered query: the " +
          "per-batch body of the calibrated-admission twin " +
          "(StreamingOps.calibratedAdmitAtIngest), spec-pinned equal " +
          "to the batch thresholds applied to batch q145 margins in " +
          "StreamingSpec.")
      append(file, "per-batch admission body (calibratedAdmitBody)",
        planOf(graft.streaming.StreamingOps.calibratedAdmitBody(
          graft.core.Tables.documents(spark, sfDir)
            .select("doc_id", "text", "source"),
          thresholds)))
    } finally thresholds.unpersist()
  }

  /** Writes `names`' plans; the bespoke q69 and pre-checkpoint
    * artifacts rewrite or append to their own files, so they belong to
    * full runs only (`full`). */
  private def writeArtifacts(spark: SparkSession, sfDir: String,
      outDir: String, names: Seq[String], full: Boolean): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // EVERY registered query gets an artifact — the plan-shape record is
    // the 100×-scale insurance, and a partial set invites "was this one
    // skipped because its plan is embarrassing?" (q69's generic artifact
    // is overwritten below by the bespoke per-round one, which is the
    // plan that actually matters for the iterative kernel).
    names.foreach { name =>
      // EXECUTE before explaining: the artifact must show the AQE-final
      // plan (isFinalPlan=true) — the runtime join-strategy choices are
      // the facts being committed; an unexecuted initial plan would show
      // strategies AQE may replace
      val (df, _) = QueryRun.attempt(spark, name, sfDir, QueryRun.Collect)
        .fold(e => throw e, identity)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$name.txt"),
        s"== $name (sfDir=$sfDir, executed: AQE-final plan) ==\n\n" + txt)
      println(s"wrote $outDir/$name.txt")
    }
    if (full) {
      writeQ69Artifact(spark, sfDir, outDir)
      appendPreCheckpointPlans(spark, sfDir, outDir)
    }
  }

  def main(argv: Array[String]): Unit = {
    val write = argv.headOption.contains("write")
    val args = if (write) argv.drop(1) else argv
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.drop(if (write) 2 else 1).toSeq
    val names = QueryRun.names(only)
    // the SAME session config every real run uses (artifacts generated
    // under a drifting hand-built config would be claims, not facts),
    // pinned to local[4] rather than QueryRun.cpus: the committed
    // explain/ plans print partition counts and AQE choices that depend
    // on the thread count, so they must regenerate identically on any host
    val spark = QueryRun.session("graft-explain", cpus = 4)
    if (write)
      writeArtifacts(spark, sfDir, args.lift(1).getOrElse("explain"), names,
        full = only.isEmpty)
    else names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (only.nonEmpty) {
        println(s"== $name ==")
        df.explain("formatted")
      } else {
        val lines = df.queryExecution.executedPlan.toString.linesIterator.toSeq
        def c(s: String) = lines.count(_.contains(s))
        val pushed = lines.filter(_.contains("PushedFilters: [")).exists(!_.contains("PushedFilters: []"))
        println(f"$name%-30s wscg=${c("WholeStageCodegen")}%2d exchanges=${c("Exchange")}%2d bhj=${c("BroadcastHashJoin")}%2d smj=${c("SortMergeJoin")}%2d pushedFilters=$pushed")
      }
    }
    spark.stop()
  }
}
