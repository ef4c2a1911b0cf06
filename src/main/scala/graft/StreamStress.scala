package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.StreamingOps

/** Streaming-surface scale stress: drives the two ingest twins
  * (`qualityScoreAtIngest`, `contaminationSpansAtIngest`) over the 20×
  * dup-heavy stress corpus as a REAL file-source stream — the corpus is
  * chunked into N parquet files and replayed one file per micro-batch,
  * so no row data ever sits on the driver — and reports end-to-end
  * throughput plus per-batch latency, the numbers the batch queries
  * already get from scripts/stress.sh.
  *
  * The contamination-spans surface runs twice after an unmeasured warm
  * pass: with the parallel per-batch-write default and with the
  * `coalesce(1)` tidy-output variant — measuring, not assuming, what
  * collapsing the reduce side of the span agg to one task costs at
  * this ingest rate. The r9 mirrored-order probe read it as a wash
  * (below the ~15% run-order noise), but the r11 artifact separated
  * them cleanly — 7.1k vs 4.9k docs/s — so parallel became the
  * default in r12. The warm pass exists because the first draft,
  * without it, attributed a 2× JIT/ordering artifact to the coalesce.
  *
  * Usage: runMain graft.StreamStress [corpusDir] [artifactPath]
  */
object StreamStress {

  /** Per-query top-k overlap of two fused serving outputs (parquet
    * dirs with (query_id, doc_id, …) rows): |ann ∩ exact| / |exact|.
    * Distinct-guarded so an at-least-once replay can't inflate it.
    */
  private[graft] def fusedRecall(spark: SparkSession, exactDir: String,
      annDir: String): Double = {
    val ex = spark.read.parquet(exactDir).select("query_id", "doc_id").distinct()
    val an = spark.read.parquet(annDir).select("query_id", "doc_id").distinct()
    val hit = ex.join(an, Seq("query_id", "doc_id"), "left_semi").count()
    val tot = ex.count()
    if (tot == 0) 0.0 else hit.toDouble / tot
  }

  private[graft] def rmrf(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.exists()) {
      Option(f.listFiles()).foreach(_.foreach(c => rmrf(c.getPath)))
      f.delete()
    }
    (): Unit
  }

  /** Run one streaming surface over the chunked input; returns the
    * measurement fields as (key, json-value) pairs.
    */
  private[graft] def runStream(spark: SparkSession, inDir: String, nRows: Long,
      filesPerTrigger: Int = 1)(
      start: DataFrame => StreamingQuery): Seq[(String, String)] = {
    import QueryRun.num
    val schema = spark.read.parquet(inDir).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger).parquet(inDir)
    val q = start(src)
    val (_, secs) = QueryRun.time(try q.processAllAvailable() finally q.stop())
    // arrival order retained in batch_secs: a max that is always batch 0
    // is a JIT/codegen warm-up artifact, not data skew — the two need
    // different fixes, so the artifact must distinguish them
    val inOrder = q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .map(p => p.durationMs.get("triggerExecution").toDouble / 1000.0)
    val durs = inOrder.sorted
    val p50 = if (durs.isEmpty) 0.0 else durs(durs.length / 2)
    Seq(
      "sec" -> num(secs),
      "rows" -> nRows.toString,
      "rows_per_sec" -> num(nRows / secs),
      "batches" -> durs.length.toString,
      "batch_p50_sec" -> num(p50),
      "batch_max_sec" -> num(if (durs.isEmpty) 0.0 else durs.last),
      "batch_secs" -> inOrder.map(num(_)).mkString("[", ",", "]"))
  }

  /** One surface along the trigger-size knob: `setup` builds the
    * surface's index once, outside the timed streams, and returns it
    * with its release; each (suffix, files per trigger) point then runs
    * `start(index, dir)` as its own stream, writing under its own
    * `dir` = workDir/name+suffix. Returns one measurement per point.
    */
  private[graft] def curve[A](spark: SparkSession, workDir: String,
      name: String, in: String, n: Long, points: Seq[(String, Int)])(
      setup: => (A, () => Unit))(
      start: (A, String) => DataFrame => StreamingQuery)
      : Seq[(String, Seq[(String, String)])] = {
    val (index, release) = setup
    try points.map { case (suffix, files) =>
      (name + suffix) ->
        runStream(spark, in, n, files)(start(index, s"$workDir/$name$suffix"))
    } finally release()
  }

  /** Per-REQUEST hybrid retrieval (q172's twin): each arriving query
    * runs rarest-8-term BM25 against the persisted postings plus exact
    * dense cosine against the corpus side, RRF-fused — rows here are
    * QUERIES, so rows_per_sec is requests/s. Unlike the row-linear
    * ivf/adc surfaces, per-batch work scales SUPERLINEARLY in batch size
    * through the (query, rep) aggregation state, so the saturated point
    * is not the throughput-optimal end of this curve.
    */
  private[graft] def hybridCurve(spark: SparkSession, dst: String,
      workDir: String, in: String, n: Long, points: Seq[(String, Int)]) =
    curve(spark, workDir, "hybrid_rrf_ingest", in, n, points) {
      val hyb = StreamingOps.buildHybridServingIndex(spark, dst)
      (hyb, () => hyb.unpersist())
    } { (hyb, dir) => s =>
      StreamingOps.hybridRrfAtIngest(s, hyb, s"$dir/out", s"$dir/ckpt")
    }

  /** The ANN-backed hybrid twin (q174's): same lexical side and fusion,
    * dense list from the COMPRESSED ADC index (`nCentroids` = 0 sizes it
    * by the √N serving rule) instead of the exact per-batch corpus scan
    * — rows are queries, directly comparable to [[hybridCurve]]'s.
    */
  private[graft] def hybridAnnCurve(spark: SparkSession, dst: String,
      workDir: String, in: String, n: Long, points: Seq[(String, Int)],
      nCentroids: Int, nProbe: Int) =
    curve(spark, workDir, "hybrid_ann_ingest", in, n, points) {
      val hyb = StreamingOps.buildHybridServingIndex(spark, dst)
      val pq = StreamingOps.buildPqServingIndex(spark, dst, nCentroids)
      ((hyb, pq), () => { hyb.unpersist(); pq.unpersist() })
    } { case ((hyb, pq), dir) => s =>
      StreamingOps.hybridAnnAtIngest(s, hyb, pq, s"$dir/out", s"$dir/ckpt",
        nProbe = nProbe)
    }

  /** Writes `df` as `nBatches` parquet files at `path` (replacing it),
    * the chunked input a file-source stream replays; returns its rows.
    */
  private def writeInput(df: DataFrame, path: String, nBatches: Int): Long = {
    rmrf(path)
    df.repartition(nBatches).write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path).count()
  }

  /** The hybrid-retrieval twins' QUERY rows (query_id, text, embedding)
    * — a request workload, not the corpus: q172's %50 set (ids past the
    * original doc range arrive dense-only, the replicated-corpus
    * absent-text regime). Returns the row count.
    */
  private[graft] def writeHybridQueries(spark: SparkSession, dst: String,
      path: String, nBatches: Int): Long = {
    val docs = spark.read.parquet(s"$dst/documents.parquet")
    writeInput(spark.read.parquet(s"$dst/embeddings.parquet")
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .join(docs.select(col("doc_id").as("query_id"), col("text")),
        Seq("query_id"), "left_outer")
      .select("query_id", "text", "embedding"), path, nBatches)
  }

  /** Surfaces as JSON members: `"name":{"sec":…,…}` joined by commas. */
  private[graft] def fields(surfaces: Seq[(String, Seq[(String, String)])]): String =
    surfaces.map { case (name, fs) =>
      QueryRun.str(name) +
        fs.map { case (k, v) => QueryRun.str(k) + ":" + v }.mkString(":{", ",", "}")
    }.mkString(",")

  def main(args: Array[String]): Unit = {
    val dst = args.headOption.getOrElse("/tmp/graft-stress")
    val spark = QueryRun.session("graft-stream-stress")
    Stress.generateIfAbsent(spark, "/root/testdata/sf0.1", dst)

    val nBatches = 8
    val workDir = "/tmp/graft-stream-out"
    rmrf(workDir)
    val docs = spark.read.parquet(s"$dst/documents.parquet")
    val inDir = "/tmp/graft-stream-in"
    val nTrain = writeInput(docs.filter(col("doc_id") % 100 =!= 0)
      .select("doc_id", "text"), inDir, nBatches)
    // the ANN-serving twin consumes embedding queries, not documents:
    // stream the ENTIRE 20x embedding corpus as arriving queries
    // against the persisted IVF index built over the same corpus
    val embIn = "/tmp/graft-stream-emb-in"
    val nEmb = writeInput(spark.read.parquet(s"$dst/embeddings.parquet")
      .select("vec_id", "embedding"), embIn, nBatches)
    val hybIn = "/tmp/graft-stream-hyb-in"
    val nHyb = writeHybridQueries(spark, dst, hybIn, nBatches)
    // the calibrated-admission twin consumes (doc_id, text, source) —
    // the same training stream as inDir plus the source dimension its
    // per-source thresholds key on
    val calIn = "/tmp/graft-stream-cal-in"
    writeInput(docs.filter(col("doc_id") % 100 =!= 0)
      .select("doc_id", "text", "source"), calIn, nBatches)
    // the CDC twin consumes CHANGE rows (key, payload, seq, op): a
    // deterministic changelog over the training docs — every 8th key a
    // tombstone, the rest upserts, seq unique per key — so the measured
    // surface includes the DELETE path (anti-join + version rewrite +
    // vacuum), not just upserts
    val cdcIn = "/tmp/graft-stream-cdc-in"
    val nCdc = writeInput(docs.filter(col("doc_id") % 100 =!= 0)
      .select(col("doc_id").as("k"), col("text").as("v"),
        col("doc_id").as("seq"),
        when(col("doc_id") % 8 === 0, "delete").otherwise("upsert").as("op")),
      cdcIn, nBatches)
    // serving surfaces along the batch-size knob: 1-file triggers
    // stream 2.5k rows/batch, where the micro-batch fixed cost — offset
    // log, per-batch planning, sink commit, measured ~0.85 s even for
    // the trivial quality surface's 12.4k-row batches — dominates and
    // docs/s reports the floor, not the probe; saturated (all 8 files
    // in one trigger) amortizes it fully. Throughput-vs-latency is the
    // operator's real knob at scale, so the artifact records a small
    // CURVE (1/4/8 files per trigger), not just the endpoints: the
    // mid-point says how fast the floor amortizes, which is what picks
    // the trigger size in production.
    val points = Seq("" -> 1, "_f4" -> 4, "_saturated" -> nBatches)

    val benchGrams = StreamingOps.buildBenchGramIndex(
      docs.filter(col("doc_id") % 100 === 0))
    val dsirRatios = StreamingOps.buildDsirRatioTable(spark, dst)
    try {
      // UNMEASURED warm pass of the heavy surface: the first stream a
      // fresh JVM runs pays whole-stage-codegen JIT + page-cache warm-up
      // (the first probe draft attributed a 2x "coalesce cost" that was
      // really this ordering artifact — 53.9 s first position vs 25.8 s
      // third, for the SAME plan modulo one coalesce)
      runStream(spark, inDir, nTrain) { s =>
        StreamingOps.contaminationSpansAtIngest(
          s, benchGrams, s"$workDir/warm_out", s"$workDir/warm_ckpt")
      }
      // the rewrite surface JITs a distinct plan (contraction + token
      // rewrite), and its un-warmed batch 0 ran 3.0 s vs a 1.5-2.1 s
      // steady state (batch_secs, round 10) — warm it too so the
      // measured max reflects skew, not first-compilation
      runStream(spark, inDir, nTrain) { s =>
        StreamingOps.decontaminateRewriteAtIngest(
          s, benchGrams, s"$workDir/warm_rw_out", s"$workDir/warm_rw_ckpt")
      }
      // contention evidence, the Bench discipline: a CPU-bound probe
      // before and after the measured surfaces — the r12 artifact's
      // first cut was globally ~20% slower than an identical-code run
      // an hour earlier (quality p50 0.88 → 1.27 s on untouched code),
      // and without probes that reads as a code regression
      val probeBefore = Bench.probe(spark)
      val surfaces = Seq(
        "quality_score_ingest" -> runStream(spark, inDir, nTrain) { s =>
          StreamingOps.qualityScoreAtIngest(s)
            .writeStream
            .option("checkpointLocation", s"$workDir/q_ckpt")
            .outputMode("append")
            .format("parquet").option("path", s"$workDir/q_out")
            .start()
        },
        "importance_score_ingest" -> runStream(spark, inDir, nTrain) { s =>
          StreamingOps.importanceScoreAtIngest(
            s, dsirRatios, s"$workDir/d_out", s"$workDir/d_ckpt")
        },
        "decontaminate_rewrite_ingest" -> runStream(spark, inDir, nTrain) { s =>
          StreamingOps.decontaminateRewriteAtIngest(
            s, benchGrams, s"$workDir/dr_out", s"$workDir/dr_ckpt")
        },
        "contamination_spans_ingest" -> runStream(spark, inDir, nTrain) { s =>
          StreamingOps.contaminationSpansAtIngest(
            s, benchGrams, s"$workDir/s_out", s"$workDir/s_ckpt")
        }) ++
        // build-once persisted index over the 20x embeddings (the fit +
        // bucketed write pay once, outside the timed streams); its
        // centroid count is the √N serving rule the twin derives too
        // (141 at this corpus)
        curve(spark, workDir, "ivf_probe_ingest", embIn, nEmb, points) {
          graft.ops.Similarity.ivfIndexTable(spark, dst,
            StreamingOps.servingCentroids(nEmb))
          ((), () => ())
        } { (_, dir) => s =>
          StreamingOps.ivfProbeAtIngest(s, spark, dst, s"$dir/out", s"$dir/ckpt")
        } ++
        // the COMPRESSED-index serving twin at the same √N geometry:
        // ADC ranking over 8-byte PQ codes vs the float-cosine path
        // above — the memory-bounded tier measured at serving
        // geometry (the r12 verdict's blind spot: ADC had only ever
        // run at the fixture's 8-centroid oracle shape)
        curve(spark, workDir, "adc_probe_ingest", embIn, nEmb, points) {
          val pq = StreamingOps.buildPqServingIndex(spark, dst)
          (pq, () => pq.unpersist())
        } { (pq, dir) => s =>
          StreamingOps.adcProbeAtIngest(s, pq, s"$dir/out", s"$dir/ckpt")
        } ++ Seq(
        "bpe_encode_ingest" -> {
          // trained merge table built once (the driver-held model)
          val bpeModel = graft.ops.TextOps.bpeMergeTable(spark, dst)
          runStream(spark, inDir, nTrain) { s =>
            StreamingOps.bpeEncodeAtIngest(
              s, bpeModel, s"$workDir/bp_out", s"$workDir/bp_ckpt")
          }
        }) ++
        // corpus model + persisted assignment frame built once, outside
        // the timed stream (the static-index discipline). Same serving
        // geometry as the ivf surface: ~sqrt(20k) clusters bound the
        // per-arrival dominance comparisons at ~N/141 instead of the
        // fixture default's N/8
        curve(spark, workDir, "semdedup_admit_ingest", embIn, nEmb, points) {
          val sem = StreamingOps.buildSemdedupIndex(spark, dst,
            nCentroids = StreamingOps.servingCentroids(nEmb))
          (sem, () => sem.unpersist())
        } { (sem, dir) => s =>
          StreamingOps.semdedupAdmitAtIngest(s, sem, s"$dir/out", s"$dir/ckpt")
        } ++
        hybridCurve(spark, dst, workDir, hybIn, nHyb, points) ++
        // the surface that converts SCALE.md's "swaps to the ADC tier at
        // serving scale" from prose into a measured number, at the
        // committed operating point (ANN_DECISION.json)
        hybridAnnCurve(spark, dst, workDir, hybIn, nHyb, points,
          StreamingOps.servingOperatingCentroids(nEmb),
          StreamingOps.ServingOperatingNProbe) ++ Seq(
        // incremental graph maintenance (q147's twin): the corpus docs
        // stream into a rep-graph state seeded with the 1% holdout
        // (doc_id % 100 == 0 — the decontamination bench set), so the
        // state grows batch-over-batch the way an ingest pipeline's
        // does; per batch the maintained graph takes a delta update
        // (new-rep-only candidates) and the residual-stop PageRank
        // re-runs rep-graph-sized. rows_per_sec is ingested docs/s —
        // the MAINTENANCE surface's throughput, not a serving number
        "pagerank_maintain_ingest" -> {
          val seedDir = "/tmp/graft-stream-prg-seed"
          rmrf(seedDir)
          docs.filter(col("doc_id") % 100 === 0)
            .select("doc_id", "text")
            .write.mode("overwrite").parquet(s"$seedDir/documents.parquet")
          val prgState = StreamingOps.buildRepGraphState(spark, seedDir)
          try runStream(spark, inDir, nTrain) { s =>
            StreamingOps.pagerankMaintainAtIngest(
              s, prgState, s"$workDir/pr_out", s"$workDir/pr_ckpt")
          } finally prgState.unpersist()
        },
        // calibrated admission (q177's decision loop): per-source
        // thresholds from the batch calibration table, broadcast; each
        // arriving doc gated by within-source rank calibration as a
        // pure per-row comparison — rows_per_sec is admission decisions/s
        "calibrated_admit_ingest" -> {
          val thresholds = StreamingOps.buildCalibrationThresholds(spark, dst)
          try runStream(spark, calIn, nTrain) { s =>
            StreamingOps.calibratedAdmitAtIngest(
              s, thresholds, s"$workDir/ca_out", s"$workDir/ca_ckpt")
          } finally thresholds.unpersist()
        },
        // CDC table maintenance with deletes: every batch resolves its
        // changes (log-order per key), merges onto the current version
        // (upsert + tombstone anti-join), lands the next version, and
        // vacuums — rows_per_sec is change rows APPLIED/s, the honest
        // all-in table-maintenance cost including the full-table
        // rewrite per commit (the documented non-file-level-COW shape)
        "cdc_upsert_delete_ingest" -> runStream(spark, cdcIn, nCdc) { s =>
          StreamingOps.cdcUpsertStream(
            s, s"$workDir/cdc_table", s"$workDir/cdc_ckpt",
            key = "k", seqCol = "seq", keepVersions = 2,
            opCol = Some("op"))
        },
        "phash_match_ingest" -> {
          // corpus index over the full 20x docs (reps = sf0.1-sized
          // after the exact-text contraction inside the builder)
          val phashIdx = StreamingOps
            .buildMediaPhashIndex(docs.select("doc_id", "text"))
          try runStream(spark, inDir, nTrain) { s =>
            StreamingOps.phashMatchAtIngest(
              s, phashIdx, s"$workDir/p_out", s"$workDir/p_ckpt")
          } finally phashIdx.unpersist()
        })
      val probeAfter = Bench.probe(spark)
      // serving-geometry approximation number beside the throughput
      // curves: recall@10 of the ANN-fused answers vs the exact-fused
      // ones over the same query stream (the 1-file points)
      val annRecall = fusedRecall(spark, s"$workDir/hybrid_rrf_ingest/out",
        s"$workDir/hybrid_ann_ingest/out")
      import QueryRun.num
      QueryRun.emit(
        s"""{"metric":"stream_stress_20x","cpus":${QueryRun.cpus},"n_batches":$nBatches,""" +
          s""""hybrid_ann_recall10":${num(annRecall)},""" +
          s""""probes":[${num(probeBefore)},${num(probeAfter)}],${fields(surfaces)}}""",
        args.lift(1))
    } finally { benchGrams.unpersist(); dsirRatios.unpersist(); (): Unit }
    spark.stop()
  }
}
