package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-stress harness: generates a ~20× corpus from sf0.1 (documents
  * ×20, embeddings ×10, ids remapped so every copy is distinct; all other
  * tables passed through), then runs the full Bench loop on it and emits
  * a BENCH-format JSON artifact. This mechanizes the round-1 ad-hoc
  * stress run (NOTES.md) so scale regressions are caught per-round, not
  * rediscovered.
  *
  * The replicated corpus is deliberately dup-heavy (20 identical copies
  * of every document): the dedup family (q30–q34, q39) sees worst-case
  * candidate volume, which is exactly what the stress run is for.
  *
  * Usage: runMain graft.Stress [corpusDir] [artifactPath] [queries...]
  */
object Stress {

  /** Cross-join replicate with id remap — distributed, no driver loop:
    * copy k of row id becomes id + k·(maxId+1).
    */
  private def replicateDf(df: org.apache.spark.sql.DataFrame, idCol: String,
      copies: Int, dstPath: String): Unit = {
    val off = df.agg(max(col(idCol))).head().getLong(0) + 1L
    df.crossJoin(df.sparkSession.range(copies).toDF("copy_k"))
      .withColumn(idCol, col(idCol) + col("copy_k") * off)
      .drop("copy_k")
      .write.mode("overwrite").parquet(dstPath)
  }

  private def replicate(spark: SparkSession, src: String, table: String,
      idCol: String, copies: Int, dst: String): Unit =
    replicateDf(spark.read.parquet(s"$src/$table.parquet"), idCol, copies,
      s"$dst/$table.parquet")

  def generateIfAbsent(spark: SparkSession, src: String, dst: String,
      docCopies: Int = 20, vecCopies: Int = 10): Unit = {
    // the marker records the replication factors: a request for a
    // DIFFERENT scale must regenerate, not silently reuse the old corpus
    // under the new label
    val marker = Paths.get(s"$dst/_GRAFT_STRESS_READY")
    val stamp = s"docCopies=$docCopies,vecCopies=$vecCopies,src=$src"
    if (Files.exists(marker) && Files.readString(marker).trim == stamp) return
    replicate(spark, src, "documents", "doc_id", docCopies, dst)
    replicate(spark, src, "embeddings", "vec_id", vecCopies, dst)
    graft.core.Tables.all.filterNot(t => t == "documents" || t == "embeddings")
      .foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
    Files.writeString(marker, stamp + "\n")
  }

  /** Zipfian-vocabulary variant of the 20× corpus, for the RETRIEVAL
    * family: the dup-heavy stress corpus's 31-token vocabulary makes
    * every posting list ~75% of the corpus — the documented worst case
    * for anything term-bounded or df-based, which means the committed
    * retrieval numbers measure the pathology, not the operator. This
    * corpus keeps everything about the 20× corpus (same doc ids, same
    * 20-copy duplication so the contraction regime is unchanged, same
    * embeddings) but REWRITES each base document's token stream from a
    * `vocab`-word Zipf(s=1) distribution via inverse-CDF sampling
    * (rank = V^u, u = a per-(doc, position) hash in [0, 1) — pmf
    * ∝ 1/r), token count preserved from the original text. Same-base
    * copies stay identical texts because the sample is keyed on the
    * BASE doc id. Deterministic, no RNG state.
    */
  def generateZipfIfAbsent(spark: SparkSession, src: String, dst: String,
      vocab: Int = 20000, docCopies: Int = 20, vecCopies: Int = 10): Unit = {
    val marker = Paths.get(s"$dst/_GRAFT_STRESS_READY")
    val stamp =
      s"zipf=$vocab,docCopies=$docCopies,vecCopies=$vecCopies,src=$src"
    if (Files.exists(marker) && Files.readString(marker).trim == stamp) return
    val base = spark.read.parquet(s"$src/documents.parquet")
    val zipfText = array_join(
      transform(
        sequence(lit(1),
          greatest(size(graft.functions.TextFunctions.tokens(col("text"))),
            lit(1))),
        i => concat(lit("w"),
          greatest(lit(1L), least(lit(vocab.toLong),
            floor(pow(lit(vocab.toDouble),
              pmod(xxhash64(col("doc_id"), i, lit("zipf")), lit(1000000L))
                .cast("double") / lit(1000000.0))).cast("long")))
            .cast("string"))),
      " ")
    val zipfBase = base
      .withColumn("text", zipfText)
      .withColumn("n_chars", length(col("text")))
    replicateDf(zipfBase, "doc_id", docCopies, s"$dst/documents.parquet")
    replicate(spark, src, "embeddings", "vec_id", vecCopies, dst)
    graft.core.Tables.all.filterNot(t => t == "documents" || t == "embeddings")
      .foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
    Files.writeString(marker, stamp + "\n")
    (): Unit
  }

  def main(args: Array[String]): Unit = {
    val dst = args.headOption.getOrElse("/tmp/graft-stress")
    val names = QueryRun.names(args.drop(2).toSeq)
    val spark = QueryRun.session("graft-stress")
    generateIfAbsent(spark, "/root/testdata/sf0.1", dst)
    // 2 clean probe-gated sweeps: the 20x sweep is long enough that
    // single passes show one-off GC/page-cache outliers on heavy
    // queries (see Bench.timeAll) — the regression gate needs the
    // noise floor, and the probes say whether it was reached
    val run = Bench.timeAll(spark, dst, names = names, passes = 2)
    System.err.println(s"[stress] sweeps=${run.sweeps} clean=${run.cleanSweeps}")
    // offender re-measurement against the prior round's artifact (the
    // external scripts/stress_diff.py gate's own tolerance, via
    // Bench.gate): see Bench.requalify for the measured execution-flip
    // failure mode this answers. Opt-in by env so baseline-less first
    // runs are unaffected; the verdict itself is stress_diff.py's.
    val (run2, _, requal) = sys.env.get("GRAFT_STRESS_BASELINE")
      .fold((run, Option.empty[(String, Seq[String])], Seq.empty[String]))(
        Bench.gate(spark, dst, run, _))
    if (requal.nonEmpty)
      System.err.println(s"[stress] requalified=${requal.mkString(" ")}")
    QueryRun.emit(Bench.jsonLine(run2, dst, passes = 2, requalified = requal),
      args.lift(1))
    spark.stop()
  }
}

/** Retrieval-family stress over the ZIPFIAN-vocabulary 20× corpus
  * ([[Stress.generateZipfIfAbsent]]): the batch retrieval queries
  * (BM25, single-anchor RRF, per-query hybrid, ANN-backed hybrid)
  * through the standard probe-gated sweep protocol, plus the two
  * hybrid serving twins' throughput at the f4 trigger point — the
  * honest serving numbers the degenerate-vocabulary corpus cannot give
  * (NOTES round 13: every stress posting list is ~75% of the corpus,
  * and q172's committed 6.9 s measures that pathology).
  *
  * Usage: runMain graft.ZipfStress [corpusDir] [artifactPath]
  */
object ZipfStress {
  val RetrievalQueries: Seq[String] = Seq(
    "q158_bm25_topk", "q170_hybrid_rrf", "q172_hybrid_query_rrf",
    "q174_hybrid_ann_rrf")

  def main(args: Array[String]): Unit = {
    import QueryRun.{num, str}
    val dst = args.headOption.getOrElse("/tmp/graft-stress-zipf")
    val spark = QueryRun.session("graft-zipf-stress")
    Stress.generateZipfIfAbsent(spark, "/root/testdata/sf0.1", dst)
    val run = Bench.timeAll(spark, dst, names = QueryRun.names(RetrievalQueries),
      passes = 2)
    System.err.println(s"[zipf] sweeps=${run.sweeps} clean=${run.cleanSweeps}")
    val qs = run.results.map { case (k, v) => str(k) + ":" + num(v) }
      .mkString("{", ",", "}")
    // serving twins at the f4 trigger point (the measured peak of the
    // hybrid curve in STREAM_STRESS_r13) — exact-dense vs ANN-dense on
    // the SAME query stream and corpus, one number each
    val workDir = "/tmp/graft-zipf-out"
    StreamStress.rmrf(workDir)
    val hybIn = "/tmp/graft-zipf-hyb-in"
    val nHyb = StreamStress.writeHybridQueries(spark, dst, hybIn, nBatches = 8)
    val f4 = Seq("_f4" -> 4)
    val streams = StreamStress.hybridCurve(spark, dst, workDir, hybIn, nHyb, f4) ++
      StreamStress.hybridAnnCurve(spark, dst, workDir, hybIn, nHyb, f4,
        nCentroids = 0, nProbe = 2)
    // recall@10 of the ANN-fused serving answer vs the exact-fused one,
    // over the SAME query stream at SERVING geometry (√N centroids) —
    // the committed approximation number for the tier swap (the spec's
    // 0.65/0.70 figures are the deliberately coarse fixture geometry)
    val recall = StreamStress.fusedRecall(spark,
      s"$workDir/hybrid_rrf_ingest_f4/out", s"$workDir/hybrid_ann_ingest_f4/out")
    QueryRun.emit(
      s"""{"metric":"zipf_retrieval_stress","cpus":${QueryRun.cpus},"corpus":${str(dst)},""" +
        s""""hybrid_ann_recall10":${num(recall)},""" +
        s""""protocol":"${Bench.protocol(2)}","sweeps":${run.sweeps},""" +
        s""""clean_sweeps":${run.cleanSweeps},""" +
        s""""probes":${run.probes.map(num(_)).mkString("[", ",", "]")},""" +
        s""""queries":$qs,${StreamStress.fields(streams)}}""",
      args.lift(1))
    spark.stop()
  }
}
