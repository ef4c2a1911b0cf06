package graft

/** Merge-depth envelope measurement for BPE training (run via
  * Test/runMain): times q153's driver-sequenced merge loop at
  * increasing depths on the 20× corpora, so the per-merge cost — one
  * vocab-keyed pair aggregation, one driver argmax scalar, one
  * map-side greedy-fold pass, one eager checkpoint — is a measured
  * number with a measured linear bound instead of a design argument
  * (VERDICT r14 #4: a real tokenizer's ~30k merges are ~30k sequential
  * Spark jobs, where scheduler overhead could dominate; this says what
  * each one costs at 20×).
  *
  * The meaningful corpus is the ZIPF one (20k-word vocabulary → real
  * merge structure in the "w<rank>" digit strings); the dup-heavy
  * stress corpus's 31-word vocabulary exhausts its pair space after a
  * handful of merges, which the probe reports rather than hides
  * (emitted merge count < requested depth). Numbers land in NOTES
  * round 15 and SCALE.md.
  */
object BpeProbe {
  def main(args: Array[String]): Unit = {
    val spark = QueryRun.session("bpeprobe")
    val dir = args.headOption.getOrElse("/tmp/graft-stress-zipf")
    val depths = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(8, 64, 256)
    val nDocs = graft.core.Tables.documents(spark, dir).count()
    println(s"[bpeprobe] corpus $dir: $nDocs docs; depths=${depths.mkString(",")}")
    // warm the corpus-sized word count + codegen once so depth 1's
    // one-off costs aren't billed to the smallest depth
    graft.ops.TextOps.q153BpeTrain(spark, dir, merges = 1).count()
    var prevDepth = 0
    var prevSec = 0.0
    depths.foreach { m =>
      val (emitted, dt) = QueryRun.time(
        graft.ops.TextOps.q153BpeTrain(spark, dir, merges = m).count())
      val marginal =
        if (prevDepth > 0 && m > prevDepth) (dt - prevSec) / (m - prevDepth)
        else dt / m
      println(f"[bpeprobe] merges=$m%4d: $dt%7.2f s total, $emitted%4d emitted, ${dt / m}%.3f s/merge mean, $marginal%.3f s/merge marginal")
      prevDepth = m; prevSec = dt
      // storage hygiene check: the unpersist-one-behind in q153 should
      // keep the block-manager flat across depths
      val storageMb = spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum / 1048576.0
      println(f"[bpeprobe] storage after depth $m: $storageMb%.0f MB")
    }
    // ---- wide-vocabulary A/B (r16): delta maintenance vs full recount
    // The 20k-word Zipf corpus is JOB-overhead-bound (the per-merge
    // data is trivial), so delta vs recount reads as a wash there; the
    // delta's win condition is a vocabulary large enough that the
    // recount's every-word explode + shuffle agg dominates. Synthesize
    // a ~1M-distinct-word corpus once (md5-derived digit words, so
    // merges have structure) and A/B both paths at the same depth.
    if (sys.env.get("GRAFT_BPE_WIDEVOCAB").contains("1")) {
      import org.apache.spark.sql.functions._
      val wideDir = "/tmp/graft-bpe-wide"
      val docsPath = s"$wideDir/documents.parquet"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(docsPath))) {
        spark.range(0, 200000, 1, 32)
          .select(col("id").as("doc_id"),
            concat_ws(" ", transform(sequence(lit(1), lit(20)),
              i => concat(lit("w"), conv(substring(
                md5(concat(col("id").cast("string"), lit("-"),
                  i.cast("string"))), 1, 5), 16, 10))))
              .as("text"))
          .withColumn("lang", lit("en"))
          .withColumn("source", lit("wide"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .write.mode("overwrite").parquet(docsPath)
      }
      val nWords = graft.core.Tables.documents(spark, wideDir)
        .select(explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("w")).distinct().count()
      println(s"[bpeprobe] wide-vocab corpus: $nWords distinct words")
      // two depths per path so the MARGINAL cost is measured: the
      // recount's marginal is flat forever (every merge recounts the
      // whole vocabulary); the delta's decays with merge depth as the
      // argmax pair gets rarer and `affected` shrinks — the regime a
      // 30k-merge production train lives in almost immediately
      Seq("delta" -> 0L, "recount" -> Long.MaxValue).foreach { case (label, minVocab) =>
        // warm once per path (codegen + page cache), then time
        graft.ops.TextOps.bpeTrain(spark, wideDir, 2, minVocab).count()
        var prevD = 0
        var prevT = 0.0
        Seq(16, 64).foreach { depth =>
          val (n, dt) = QueryRun.time(graft.ops.TextOps.bpeTrain(
            spark, wideDir, depth, minVocab).count())
          val marginal = if (prevD > 0) (dt - prevT) / (depth - prevD)
            else dt / depth
          println(f"[bpeprobe] widevocab $label%-8s depth $depth%3d: $dt%7.2f s total, $n%3d emitted, ${dt / depth}%.3f s/merge mean, $marginal%.3f s/merge marginal")
          prevD = depth; prevT = dt
        }
      }
    }
    spark.stop()
  }
}
