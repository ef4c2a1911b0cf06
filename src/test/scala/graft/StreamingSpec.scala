package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{UserEvent, UserRunning}

/** Drives the Structured Streaming pipelines through MemoryStream
  * micro-batches and checks results against the batch formulations.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("streaming word count matches batch counts across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = StreamingOps.wordCount(mem.toDF())
      .writeStream.format("memory").queryName("wc_out")
      .outputMode("complete").start()
    try {
      mem.addData("hello world", "  spaced   out  ")
      q.processAllAvailable()
      mem.addData("hello again")
      q.processAllAvailable()
      val got = spark.table("wc_out").as[(String, Long)].collect().toMap
      assert(got == Map("hello" -> 2L, "world" -> 1L, "spaced" -> 1L,
        "out" -> 1L, "again" -> 1L))
    } finally q.stop()
  }

  test("windowed event counts with watermark finalize past windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val events = mem.toDF().toDF("user_id", "ts", "event_type", "value")
    val q = StreamingOps.windowedEventCounts(events)
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts(1), "click", 1.0), (2L, ts(5), "click", 2.0),
        (1L, ts(12), "view", 3.0))
      q.processAllAvailable()
      // advance watermark far enough (> 30 min late tolerance) to close
      // the first two windows
      mem.addData((3L, ts(120), "click", 4.0))
      q.processAllAvailable()
      val got = spark.table("win_out")
        .select("window_start", "event_type", "n_events").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(got == Set(
        (ts(0), "click", 2L),
        (ts(10), "view", 1L)))
    } finally q.stop()
  }

  test("session windows merge events within the 30-minute gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val events = mem.toDF().toDF("user_id", "ts", "value")
    val q = StreamingOps.sessionWindows(events)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then 2h later a new one
      mem.addData((1L, ts(0), 1.0), (1L, ts(10), 2.0), (1L, ts(150), 5.0))
      q.processAllAvailable()
      mem.addData((2L, ts(600), 9.0)) // push watermark way past both sessions
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .select("user_id", "session_start", "n_events", "session_value").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == Set(
        (1L, ts(0), 2L, 3.0),
        (1L, ts(150), 1L, 5.0)))
    } finally q.stop()
  }

  test("file-source stream: new parquet files arrive as micro-batches") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("ev_stream").toString
    val batch1 = graft.core.Tables.events(spark, TestSpark.sf)
      .filter(col("event_id") < 100)
    batch1.write.mode("append").parquet(dir)
    val q = StreamingOps.windowedEventCounts(StreamingOps.readEventStream(spark, dir))
      .writeStream.format("memory").queryName("file_win_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // drop a second file into the landing zone → next micro-batch;
      // its (late-by-hours) watermark closes the first batch's windows
      graft.core.Tables.events(spark, TestSpark.sf)
        .filter(col("event_id") >= 900).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val emitted = spark.table("file_win_out")
        .agg(coalesce(sum("n_events"), lit(0L))).head().getLong(0)
      assert(emitted >= batch1.count(),
        "all first-batch windows must be finalized once the watermark passes them")
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog, self-terminates, and equals the batch answer") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("ev_drain").toString
    // two pre-existing files = the backlog a scheduled catch-up run sees
    val all = graft.core.Tables.events(spark, TestSpark.sf)
    all.filter(col("event_id") % 2 === 0).write.mode("append").parquet(dir)
    all.filter(col("event_id") % 2 =!= 0).write.mode("append").parquet(dir)
    val q = StreamingOps.readEventStream(spark, dir)
      .groupBy("event_type").count()
      .writeStream.format("memory").queryName("drain_out")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // AvailableNow = process everything present at start, then STOP on
    // its own — the scheduled-batch-over-streaming-code pattern; a
    // timed-out await would mean it never self-terminated
    assert(q.awaitTermination(120000), "query must self-terminate")
    val streamed = spark.table("drain_out").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = all.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("streaming dedup drops cross-batch duplicate content") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val q = StreamingOps.dedupStream(docs)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts(0), "alpha beta"), (2L, ts(1), "gamma"))
      q.processAllAvailable()
      // same content re-sent in a LATER micro-batch must not re-emit
      mem.addData((3L, ts(2), "alpha beta"), (4L, ts(3), "delta"))
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("doc_id").as[Long].collect().toSet
      assert(got == Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("streaming LSH candidates match batch lshCandidatePairs on the same micro-batched corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the real fixture corpus, streamed in three micro-batches: the
    // candidate-pair set (distinct-merged across bands) must equal the
    // batch formulation's — including CROSS-batch pairs, which is the
    // part the bucket state exists for
    val corpus = graft.core.Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val q = StreamingOps.lshCandidateStream(docs)
      .writeStream.format("memory").queryName("lsh_out")
      .outputMode("append").start()
    try {
      corpus.grouped((corpus.size + 2) / 3).zipWithIndex.foreach { case (chunk, i) =>
        mem.addData(chunk.map { case (id, text) => (id, ts(i), text) })
        q.processAllAvailable()
      }
      val streamed = spark.table("lsh_out")
        .select("doc_a", "doc_b").distinct()
        .as[(Long, Long)].collect().toSet
      val batch = graft.ops.Dedup.lshCandidatePairs(spark, TestSpark.sf)
        .as[(Long, Long)].collect().toSet
      assert(streamed == batch,
        s"streamed ${streamed.size} pairs, batch ${batch.size}; " +
          s"missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")
    } finally q.stop()
  }

  test("streaming LSH candidates: a dup-heavy bucket (hundreds of ids) emits the complete pair set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 250 identical documents collide in EVERY band's bucket — the
    // worst-case state shape the Set-backed membership exists for; the
    // distinct-merged candidate set must be all n·(n−1)/2 pairs,
    // including cross-batch ones
    val n = 250
    val text = "alpha beta gamma delta epsilon zeta"
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val q = StreamingOps.lshCandidateStream(docs)
      .writeStream.format("memory").queryName("lsh_dense_out")
      .outputMode("append").start()
    try {
      mem.addData((1L to (n / 2).toLong).map(i => (i, ts(0), text)))
      q.processAllAvailable()
      mem.addData(((n / 2 + 1).toLong to n.toLong).map(i => (i, ts(1), text)))
      q.processAllAvailable()
      val pairs = spark.table("lsh_dense_out")
        .select("doc_a", "doc_b").distinct()
      assert(pairs.count() == n.toLong * (n - 1) / 2,
        s"expected all ${n * (n - 1) / 2} pairs from one dense bucket")
    } finally q.stop()
  }

  test("streaming LSH candidates: bucket state evicted past retention re-admits dups silently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    // 10-minute lateness, 30-minute retention
    val q = StreamingOps.lshCandidateStream(docs, 8, "10 minutes", 30L * 60 * 1000)
      .writeStream.format("memory").queryName("lsh_evict_out")
      .outputMode("append").start()
    try {
      val text = "alpha beta gamma delta epsilon"
      mem.addData((1L, ts(0), text))
      q.processAllAvailable()
      // push the watermark far past doc 1's retention, then fire timeouts
      mem.addData((50L, ts(300), "unrelated words entirely here now"))
      q.processAllAvailable()
      mem.addData((51L, ts(301), "different unrelated filler text again"))
      q.processAllAvailable()
      // doc 2 duplicates doc 1 AFTER eviction: no (1,2) pair may appear —
      // bounded state traded that recall away, which is the documented
      // contract (and proves the bucket state is actually gone)
      mem.addData((2L, ts(302), text))
      q.processAllAvailable()
      val pairs = spark.table("lsh_evict_out")
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(!pairs.contains((1L, 2L)),
        s"bucket state for doc 1 survived past retention: $pairs")
    } finally q.stop()
  }

  test("foreachBatch sink lands micro-batches as partitioned parquet with batch ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("fb_out").resolve("tbl").toString
    val ckpt = java.nio.file.Files.createTempDirectory("fb_ckpt").toString
    val mem = MemoryStream[(Long, String, Double)]
    val events = mem.toDF().toDF("event_id", "event_type", "value")
    val q = StreamingOps.foreachBatchPartitionedSink(events, out, ckpt)
    try {
      mem.addData((1L, "click", 1.0), (2L, "purchase", 2.0))
      q.processAllAvailable()
      mem.addData((3L, "click", 3.0))
      q.processAllAvailable()
      val landed = spark.read.parquet(out)
      assert(landed.count() == 3L)
      // partition column survives the round trip and prunes
      assert(landed.filter(col("event_type") === "click").count() == 2L)
      // distinct batch ids per trigger — the idempotency/compaction handle
      assert(landed.select("batch_id").distinct().count() == 2L)
    } finally q.stop()
  }

  test("mapGroupsWithState running totals accumulate across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = StreamingOps.runningTotals(mem.toDS())
      .writeStream.format("memory").queryName("run_out")
      .outputMode("update").start()
    try {
      mem.addData(UserEvent(1, ts(0), 2.0), UserEvent(1, ts(1), 3.0))
      q.processAllAvailable()
      mem.addData(UserEvent(1, ts(2), 5.0), UserEvent(2, ts(2), 7.0))
      q.processAllAvailable()
      import org.apache.spark.sql.functions.max
      val latest = spark.table("run_out").groupBy("user_id")
        .agg(max("n_events").as("n"), max("total_value").as("v"))
        .as[(Long, Long, Double)].collect().toSet
      assert(latest == Set((1L, 3L, 10.0), (2L, 1L, 7.0)))
    } finally q.stop()
  }

  test("running totals evict idle-user state once the watermark passes the idle timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    // lateness 10 min, idle 30 min → user 1's timeout arms at minute 31
    val q = StreamingOps.runningTotals(mem.toDS(), "10 minutes", 30L * 60 * 1000)
      .writeStream.format("memory").queryName("evict_out")
      .outputMode("update").start()
    try {
      mem.addData(UserEvent(1, ts(0), 2.0), UserEvent(1, ts(1), 3.0))
      q.processAllAvailable()
      // advance the watermark to minute ~110, far past user 1's timeout;
      // the timeout fires on the NEXT trigger after the watermark moves
      mem.addData(UserEvent(2, ts(120), 7.0))
      q.processAllAvailable()
      mem.addData(UserEvent(2, ts(121), 1.0))
      q.processAllAvailable()
      // user 1 returns AFTER eviction: totals must restart from zero —
      // the observable proof that the idle state was removed, not kept
      mem.addData(UserEvent(1, ts(122), 100.0))
      q.processAllAvailable()
      val user1 = spark.table("evict_out").filter(col("user_id") === 1L)
        .select("n_events", "total_value").as[(Long, Double)].collect().toSet
      // pre-eviction snapshots (1,2)/(2,5) and the fresh-start (1,100.0);
      // an unbounded-state implementation would instead show (3,105.0)
      assert(user1.contains((1L, 100.0)),
        s"expected a restarted total (1,100.0) proving eviction; got $user1")
      assert(!user1.contains((3L, 105.0)),
        "state survived the idle timeout — eviction did not happen")
    } finally q.stop()
  }

  test("streaming incremental dedup matches batch q76 exactly (stream-static joins)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = graft.core.Tables.documents(spark, TestSpark.sf)
    val corpus = all.filter(col("doc_id") % 10 =!= 7)
    val batchDocs = all.filter(col("doc_id") % 10 === 7)
      .select("doc_id", "text").as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val index = StreamingOps.buildCorpusDedupIndex(corpus)
    val q = StreamingOps.incrementalDedupStream(stream, index)
      .writeStream.format("memory").queryName("incdedup_out")
      .outputMode("append").start()
    try {
      // split the batch across two micro-batches: classification is
      // stateless per doc, so arrival batching must not matter
      val (first, second) = batchDocs.splitAt(batchDocs.length / 2)
      mem.addData(first.toSeq)
      q.processAllAvailable()
      mem.addData(second.toSeq)
      q.processAllAvailable()
      val got = spark.table("incdedup_out")
        .select("doc_id", "status", "exact_rep", "near_rep").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) null else r.getLong(2),
          if (r.isNullAt(3)) null else r.getLong(3))).toSet
      val expect = graft.ops.Dedup.q76IncrementalDedup(spark, TestSpark.sf)
        .collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) null else r.getLong(2),
          if (r.isNullAt(3)) null else r.getLong(3))).toSet
      assert(got == expect, s"stream/batch mismatch: ${(got diff expect) ++ (expect diff got)}")
    } finally { q.stop(); index.unpersist() }
  }

  test("streaming decontamination at ingest: per-batch reports union to batch q86 exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = graft.core.Tables.documents(spark, TestSpark.sf)
    val index = StreamingOps.buildContaminationIndex(
      all.filter(col("doc_id") % 100 === 0))
    val trainDocs = all.filter(col("doc_id") % 100 =!= 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    val outDir = java.nio.file.Files
      .createTempDirectory("decontam_out").toString + "/r"
    val ckpt = java.nio.file.Files
      .createTempDirectory("decontam_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.decontaminateAtIngest(
      mem.toDF().toDF("doc_id", "text"), index, outDir, ckpt)
    try {
      // two micro-batches: a doc arrives whole in one batch, so the
      // appended per-batch reports must union to the corpus-wide answer
      val (first, second) = trainDocs.splitAt(trainDocs.length / 2)
      mem.addData(first.toSeq)
      q.processAllAvailable()
      mem.addData(second.toSeq)
      q.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .select("doc_id", "n_contaminated_shingles").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val expect = graft.ops.TextOps.q86BloomDecontaminate(spark, TestSpark.sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expect,
        s"stream/batch mismatch: ${(got diff expect) ++ (expect diff got)}")
    } finally { q.stop(); index.unpersist() }
  }

  test("streaming contamination spans at ingest union to batch q143 exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = graft.core.Tables.documents(spark, TestSpark.sf)
    val benchGrams = StreamingOps.buildBenchGramIndex(
      all.filter(col("doc_id") % 100 === 0))
    val trainDocs = all.filter(col("doc_id") % 100 =!= 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    val outDir = java.nio.file.Files
      .createTempDirectory("spans_out").toString + "/r"
    val ckpt = java.nio.file.Files
      .createTempDirectory("spans_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.contaminationSpansAtIngest(
      mem.toDF().toDF("doc_id", "text"), benchGrams, outDir, ckpt)
    try {
      // a doc arrives whole, so per-batch span reports union to the
      // corpus-wide q143 answer exactly
      val (first, second) = trainDocs.splitAt(trainDocs.length / 2)
      mem.addData(first.toSeq)
      q.processAllAvailable()
      mem.addData(second.toSeq)
      q.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .select("train_doc", "bench_doc", "n_seeds", "longest_run")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val expect = graft.ops.TextOps
        .q143ContaminationSpans(spark, TestSpark.sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == expect,
        s"stream/batch mismatch: ${(got diff expect) ++ (expect diff got)}")
    } finally { q.stop(); benchGrams.unpersist() }
  }

  test("streaming phash media matching at ingest unions to the batch stream-static join exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus index over the fixture docs; the "arriving" media are the
    // same docs re-ingested (every doc then perceptually matches at
    // least its own rep at hamming 0, so the fixture genuinely
    // exercises the probe + verify + members join)
    val all = graft.core.Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text")
    val index = StreamingOps.buildMediaPhashIndex(all)
    val docs = all.as[(Long, String)].collect()
    val outDir = java.nio.file.Files
      .createTempDirectory("phash_out").toString + "/r"
    val ckpt = java.nio.file.Files
      .createTempDirectory("phash_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.phashMatchAtIngest(
      mem.toDF().toDF("doc_id", "text"), index, outDir, ckpt)
    try {
      // match sets are per-doc pure functions of (text, index), so
      // batch boundaries cannot matter — union ≡ one batch pass
      val (first, second) = docs.splitAt(docs.length / 2)
      mem.addData(first.toSeq)
      q.processAllAvailable()
      mem.addData(second.toSeq)
      q.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .select("doc_id", "match_rep", "hamming", "members")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val expect = StreamingOps.phashMatchBatch(
        all.toDF(), index, maxHamming = 7).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == expect,
        s"stream/batch mismatch: ${(got diff expect) ++ (expect diff got)}")
      // every arriving doc matched its own rep at hamming 0
      val selfMatched = got.filter(t => t._3 == 0L).map(_._1)
      assert(docs.map(_._1).toSet.subsetOf(selfMatched))
    } finally { q.stop(); index.unpersist() }
  }

  test("streaming IVF ANN probe at ingest unions to the persisted-index batch probe (q70) exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the "arriving" queries are q70's own query set (vec_id % 25 == 0),
    // so the union across uneven batches must reproduce the q70 frame
    // bit-for-bit: same index memo, same probe core, zero stream state
    val queries = graft.core.Tables.embeddings(spark, TestSpark.sf)
      .filter(col("vec_id") % 25 === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    assert(queries.length >= 3, "fixture query set degenerate")
    val outDir = java.nio.file.Files
      .createTempDirectory("ivf_ingest_out").toString + "/r"
    val ckpt = java.nio.file.Files
      .createTempDirectory("ivf_ingest_ckpt").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    // nCentroids pinned to the fixture's 8 so the equivalence target is
    // q70's default frame; the serving default derives √N instead
    val q = StreamingOps.ivfProbeAtIngest(
      mem.toDF().toDF("vec_id", "embedding"), spark, TestSpark.sf,
      outDir, ckpt, nCentroids = 8)
    try {
      val (first, second) = queries.splitAt(1) // deliberately uneven
      mem.addData(first.toSeq)
      q.processAllAvailable()
      mem.addData(second.toSeq)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getLong(5))
      val got = spark.read.parquet(outDir)
        .select("query_id", "rk", "cand_id", "centroid", "cos_sim", "n_iters")
        .collect().map(key).toSet
      val expect = SparkEntry.queries("q70_ivf_probe_indexed")(
        spark, TestSpark.sf).collect().map(key).toSet
      assert(got == expect,
        s"stream/batch mismatch: ${(got diff expect) ++ (expect diff got)}")
      // every query got answers, and no query exceeded k
      val perQuery = got.groupBy(_._1).view.mapValues(_.size)
      assert(perQuery.keySet == queries.map(_._1).toSet)
      assert(perQuery.values.forall(_ <= 3))
    } finally q.stop()
  }

  test("ivf serving default self-sizes by the √N rule and unions to q70 at that size") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    assert(StreamingOps.servingCentroids(20000) == 141)
    assert(StreamingOps.servingCentroids(3) == 8) // floor
    val n = graft.core.Tables.embeddings(spark, TestSpark.sf).count()
    val nc = StreamingOps.servingCentroids(n)
    // q70's own query subset (vec_id % 25), so the equivalence target is
    // its complete frame at the derived geometry
    val queries = graft.core.Tables.embeddings(spark, TestSpark.sf)
      .filter(col("vec_id") % 25 === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val outDir = java.nio.file.Files
      .createTempDirectory("ivf_default_out").toString + "/r"
    val ckpt = java.nio.file.Files
      .createTempDirectory("ivf_default_ckpt").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    // DEFAULT nCentroids — must derive nc and answer ≡ q70 at nc
    val q = StreamingOps.ivfProbeAtIngest(
      mem.toDF().toDF("vec_id", "embedding"), spark, TestSpark.sf,
      outDir, ckpt)
    try {
      mem.addData(queries.toSeq)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getLong(5))
      val got = spark.read.parquet(outDir)
        .select("query_id", "rk", "cand_id", "centroid", "cos_sim", "n_iters")
        .collect().map(key).toSet
      val expect = graft.ops.Similarity
        .q70IvfProbeIndexed(spark, TestSpark.sf, nCentroids = nc)
        .collect().map(key).toSet
      assert(got == expect)
      assert(got.exists(_._4 >= 16), // geometry proof: centroids beyond the fixture's 8
        s"derived-geometry run never used a centroid >= 16 (nc=$nc)")
    } finally q.stop()
  }

  test("streaming ADC probe at ingest unions to batch q169 exactly at fixture geometry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the "arriving" queries are q169's own query set (vec_id % 25 == 0)
    // and the index is pinned to the fixture's 8-centroid coarse
    // geometry, so the union across uneven batches must reproduce the
    // oracle-gated q169 frame bit-for-bit: same codebooks (shared
    // memoized sub-fits), same probe core, zero stream state
    val queries = graft.core.Tables.embeddings(spark, TestSpark.sf)
      .filter(col("vec_id") % 25 === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    assert(queries.length >= 3, "fixture query set degenerate")
    val index = StreamingOps.buildPqServingIndex(
      spark, TestSpark.sf, nCentroids = 8)
    val outDir = java.nio.file.Files
      .createTempDirectory("adc_ingest_out").toString + "/r"
    val ckpt = java.nio.file.Files
      .createTempDirectory("adc_ingest_ckpt").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.adcProbeAtIngest(
      mem.toDF().toDF("vec_id", "embedding"), index, outDir, ckpt)
    try {
      val (first, second) = queries.splitAt(1) // deliberately uneven
      mem.addData(first.toSeq)
      q.processAllAvailable()
      mem.addData(second.toSeq)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))
      val got = spark.read.parquet(outDir)
        .select("query_id", "rk", "cand_id", "centroid", "adc_d2", "n_iters")
        .collect().map(key).toSet
      val expect = SparkEntry.queries("q169_pq_adc_topk")(
        spark, TestSpark.sf).collect().map(key).toSet
      assert(got == expect,
        s"stream/batch mismatch: ${(got diff expect) ++ (expect diff got)}")
      val perQuery = got.groupBy(_._1).view.mapValues(_.size)
      assert(perQuery.keySet == queries.map(_._1).toSet)
      assert(perQuery.values.forall(_ <= 3))
    } finally { q.stop(); index.unpersist() }
  }

  test("ADC serving default self-sizes by the √N rule and unions to q169 at that size") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val n = graft.core.Tables.embeddings(spark, TestSpark.sf).count()
    val nc = StreamingOps.servingCentroids(n)
    val queries = graft.core.Tables.embeddings(spark, TestSpark.sf)
      .filter(col("vec_id") % 25 === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    // DEFAULT nCentroids — must derive nc; the equivalence target is
    // q169 re-parameterized to the same derived coarse geometry (the
    // PQ codebooks are geometry-independent: same sub-fits either way)
    val index = StreamingOps.buildPqServingIndex(spark, TestSpark.sf)
    val outDir = java.nio.file.Files
      .createTempDirectory("adc_default_out").toString + "/r"
    val ckpt = java.nio.file.Files
      .createTempDirectory("adc_default_ckpt").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.adcProbeAtIngest(
      mem.toDF().toDF("vec_id", "embedding"), index, outDir, ckpt)
    try {
      mem.addData(queries.toSeq)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))
      val got = spark.read.parquet(outDir)
        .select("query_id", "rk", "cand_id", "centroid", "adc_d2", "n_iters")
        .collect().map(key).toSet
      val expect = graft.ops.Similarity
        .q169PqAdcTopK(spark, TestSpark.sf, nCentroids = nc)
        .collect().map(key).toSet
      assert(got == expect)
      assert(got.exists(_._4 >= 16), // geometry proof: centroids beyond the fixture's 8
        s"derived-geometry run never used a centroid >= 16 (nc=$nc)")
    } finally { q.stop(); index.unpersist() }
  }

  test("streaming coreset drift monitor unions to batch q173; an out-of-coverage arrival flags novel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.core.Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
    val dim = corpus.head._2.length
    // far outside the unit-ball corpus: d2 to every exemplar is
    // ~dim·(10e6)² — beyond any coverage radius the fixture can produce
    val outlier = (999999L, Seq.fill(dim)(10.0f))
    val model = StreamingOps.buildCoresetModel(spark, TestSpark.sf)
    val outDir = java.nio.file.Files
      .createTempDirectory("coreset_ingest_out").toString + "/r"
    val ckpt = java.nio.file.Files
      .createTempDirectory("coreset_ingest_ckpt").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.coresetAssignAtIngest(
      mem.toDF().toDF("vec_id", "embedding"), model, outDir, ckpt)
    try {
      val (first, second) = corpus.splitAt(3) // deliberately uneven
      mem.addData(first.toSeq)
      q.processAllAvailable()
      mem.addData(second.toSeq :+ outlier)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))
      val got = spark.read.parquet(outDir)
        .select("vec_id", "rk", "d2c", "novel")
        .collect().map(key).toSet
      val expect = SparkEntry.queries("q173_coreset_assign")(
        spark, TestSpark.sf).collect().map(key).toSet
      val (outlierRows, corpusRows) = got.partition(_._1 == outlier._1)
      assert(corpusRows == expect,
        s"stream/batch mismatch: ${(corpusRows diff expect) ++ (expect diff corpusRows)}")
      assert(outlierRows.size == 1 && outlierRows.head._4,
        s"out-of-coverage arrival not flagged novel: $outlierRows")
    } finally { q.stop(); (): Unit }
  }

  test("streaming hybrid RRF at ingest unions to the batch core; q172's workload reproduces its frame") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // batch 1 = q172's own workload (vec_id % 50 == 0); batch 2 = an
    // extra query outside it — the union must equal ONE batch-core run
    // over both, and the workload's rows must equal oracle-gated q172
    val queryFrame = graft.core.Tables.embeddings(spark, TestSpark.sf)
      .filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .join(graft.core.Tables.documents(spark, TestSpark.sf)
          .select(col("doc_id").as("query_id"), col("text")),
        Seq("query_id"), "left_outer")
      .select("query_id", "text", "embedding")
    val queries = queryFrame
      .as[(Long, String, Seq[Float])].collect().sortBy(_._1)
    assert(queries.length >= 2, "fixture needs >= 2 streaming queries")
    val index = StreamingOps.buildHybridServingIndex(spark, TestSpark.sf)
    val outDir = java.nio.file.Files
      .createTempDirectory("hybrid_ingest_out").toString + "/r"
    val ckpt = java.nio.file.Files
      .createTempDirectory("hybrid_ingest_ckpt").toString
    val mem = MemoryStream[(Long, String, Seq[Float])]
    val q = StreamingOps.hybridRrfAtIngest(
      mem.toDF().toDF("query_id", "text", "embedding"), index, outDir, ckpt)
    try {
      val (workload, extra) = queries.partition(_._1 % 50 == 0)
      mem.addData(workload.toSeq)
      q.processAllAvailable()
      mem.addData(extra.toSeq)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(5))
      val cols = Seq("query_id", "rank", "doc_id", "lex_rank",
        "sem_rank", "rrf_micro")
      val got = spark.read.parquet(outDir)
        .select(cols.head, cols.tail: _*).collect().map(key).toSet
      val expect = graft.ops.Similarity
        .hybridQueryCore(queryFrame, index)
        .collect().map(key).toSet
      assert(got == expect,
        s"stream/batch mismatch: ${(got diff expect) ++ (expect diff got)}")
      val q172 = SparkEntry.queries("q172_hybrid_query_rrf")(
        spark, TestSpark.sf).collect().map(key).toSet
      assert(got.filter(t => t._1 % 50 == 0) == q172,
        "workload rows diverge from oracle-gated q172")
    } finally { q.stop(); index.unpersist() }
  }

  test("streaming hybrid ANN at ingest unions to the batch run; q174's workload reproduces its oracle-gated frame") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // same protocol as the exact-tier twin test: batch 1 = q174's own
    // workload (vec_id % 50 == 0), batch 2 = extra queries outside it —
    // per-batch ANN answers must union to one batch run over both, and
    // the workload rows must equal oracle-gated q174. The PQ index is
    // built at the FIXTURE geometry (8 coarse centroids) so the
    // serving index is bit-identical to q174's in-plan postings.
    val queryFrame = graft.core.Tables.embeddings(spark, TestSpark.sf)
      .filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .join(graft.core.Tables.documents(spark, TestSpark.sf)
          .select(col("doc_id").as("query_id"), col("text")),
        Seq("query_id"), "left_outer")
      .select("query_id", "text", "embedding")
    val queries = queryFrame
      .as[(Long, String, Seq[Float])].collect().sortBy(_._1)
    assert(queries.length >= 2, "fixture needs >= 2 streaming queries")
    val index = StreamingOps.buildHybridServingIndex(spark, TestSpark.sf)
    val pqIdx = StreamingOps.buildPqServingIndex(spark, TestSpark.sf,
      nCentroids = 8)
    val outDir = java.nio.file.Files
      .createTempDirectory("hybrid_ann_ingest_out").toString + "/r"
    val ckpt = java.nio.file.Files
      .createTempDirectory("hybrid_ann_ingest_ckpt").toString
    val mem = MemoryStream[(Long, String, Seq[Float])]
    val q = StreamingOps.hybridAnnAtIngest(
      mem.toDF().toDF("query_id", "text", "embedding"), index, pqIdx,
      outDir, ckpt)
    try {
      val (workload, extra) = queries.partition(_._1 % 50 == 0)
      mem.addData(workload.toSeq)
      q.processAllAvailable()
      mem.addData(extra.toSeq)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(5))
      val cols = Seq("query_id", "rank", "doc_id", "lex_rank",
        "sem_rank", "rrf_micro")
      val got = spark.read.parquet(outDir)
        .select(cols.head, cols.tail: _*).collect().map(key).toSet
      val den = graft.ops.Similarity.annDenseListRefined(queryFrame,
        pqIdx.postings, pqIdx.centroids, pqIdx.books, pqIdx.subDim,
        nProbe = 2, corpus = index.corpus, kList = 12)
      val expect = graft.ops.Similarity
        .hybridFuseCore(queryFrame, index, den)
        .collect().map(key).toSet
      assert(got == expect,
        s"stream/batch mismatch: ${(got diff expect) ++ (expect diff got)}")
      val q174 = SparkEntry.queries("q174_hybrid_ann_rrf")(
        spark, TestSpark.sf).collect().map(key).toSet
      assert(got.filter(t => t._1 % 50 == 0) == q174,
        "workload rows diverge from oracle-gated q174")
    } finally { q.stop(); index.unpersist(); pqIdx.unpersist() }
  }

  test("streaming BPE encode at ingest unions to batch q159 exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.core.Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val model = graft.ops.TextOps.bpeMergeTable(spark, TestSpark.sf)
    val outDir = java.nio.file.Files
      .createTempDirectory("bpe_ingest_out").toString + "/r"
    val ckpt = java.nio.file.Files
      .createTempDirectory("bpe_ingest_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.bpeEncodeAtIngest(
      mem.toDF().toDF("doc_id", "text"), model, outDir, ckpt)
    try {
      val (first, second) = docs.splitAt(docs.length / 4)
      mem.addData(first.toSeq)
      q.processAllAvailable()
      mem.addData(second.toSeq)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long]))
      val got = spark.read.parquet(outDir)
        .select("doc_id", "n_words", "n_chars", "n_symbols",
          "fertility_micro", "compression_micro")
        .collect().map(key).toSet
      val expect = SparkEntry.queries("q159_bpe_encode")(
        spark, TestSpark.sf).collect().map(key).toSet
      assert(got == expect,
        s"stream/batch mismatch: ${(got diff expect) ++ (expect diff got)}")
    } finally q.stop()
  }

  test("streaming SemDeDup admission at ingest unions to batch q163 exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // arrivals are the corpus' own vectors (self excluded by id inside
    // the dominance rule), so the union across uneven batches must be
    // q163's frame bit-for-bit
    val vecs = graft.core.Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
    val index = StreamingOps.buildSemdedupIndex(spark, TestSpark.sf)
    val outDir = java.nio.file.Files
      .createTempDirectory("semdedup_out").toString + "/r"
    val ckpt = java.nio.file.Files
      .createTempDirectory("semdedup_ckpt").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.semdedupAdmitAtIngest(
      mem.toDF().toDF("vec_id", "embedding"), index, outDir, ckpt)
    try {
      val (first, second) = vecs.splitAt(vecs.length / 3)
      mem.addData(first.toSeq)
      q.processAllAvailable()
      mem.addData(second.toSeq)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getBoolean(4), r.getLong(5))
      val got = spark.read.parquet(outDir)
        .select("vec_id", "centroid", "d2c", "n_dominators", "keep",
          "n_iters")
        .collect().map(key).toSet
      val expect = SparkEntry.queries("q163_semdedup_prune")(
        spark, TestSpark.sf).collect().map(key).toSet
      assert(got == expect,
        s"stream/batch mismatch: ${(got diff expect) ++ (expect diff got)}")
      // a genuinely NOVEL direction is admitted: a vector orthogonal to
      // everything cannot be dominated (cosine to every corpus vector
      // is ~0 < threshold)... covered structurally by q163's keep rows
      assert(got.exists(_._5) && got.exists(!_._5))
    } finally { q.stop(); index.unpersist() }
  }

  test("streaming quality inference at ingest equals batch q145 row-for-row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.core.Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.qualityScoreAtIngest(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("q145_stream")
      .outputMode("append").start()
    try {
      // two micro-batches: the margin is per-row, so batch boundaries
      // cannot matter — the union must equal the batch answer exactly
      val (a, b) = docs.splitAt(docs.length / 2)
      mem.addData(a.toSeq)
      q.processAllAvailable()
      mem.addData(b.toSeq)
      q.processAllAvailable()
      val got = spark.table("q145_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getString(4))).toSet
      val expect = graft.ops.TextOps
        .q145LinearQualityScore(spark, TestSpark.sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getString(4))).toSet
      assert(got == expect,
        s"stream/batch mismatch: ${(got diff expect) ++ (expect diff got)}")
    } finally q.stop()
  }

  test("calibrated admission at ingest equals batch thresholds on batch margins; unknown source quarantined") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = TestSpark.sf
    val thresholds = StreamingOps.buildCalibrationThresholds(spark, sf, keepDeciles = 3)
    try {
      val docs = graft.core.Tables.documents(spark, sf)
        .select("doc_id", "text", "source")
        .as[(Long, String, String)].collect()
      // a source the calibration table has never seen must quarantine
      val planted = (900001L, "a planted doc from an uncalibrated source",
        "brand-new-source")
      val mem = MemoryStream[(Long, String, String)]
      val outDir = java.nio.file.Files
        .createTempDirectory("cal_out").toString + "/r"
      val ckpt = java.nio.file.Files
        .createTempDirectory("cal_ckpt").toString
      val q = StreamingOps.calibratedAdmitAtIngest(
        mem.toDF().toDF("doc_id", "text", "source"), thresholds, outDir, ckpt)
      try {
        val (a, b) = docs.splitAt(docs.length / 2)
        mem.addData(a.toSeq)
        q.processAllAvailable()
        mem.addData(b.toSeq :+ planted)
        q.processAllAvailable()
        def asSet(df: org.apache.spark.sql.DataFrame) = df
          .select("doc_id", "source", "margin_milli", "threshold_milli", "admit")
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3)),
            r.getBoolean(4))).toSet
        val got = asSet(spark.read.parquet(outDir))
        // the quarantine contract on the planted row
        assert(got.contains((900001L, "brand-new-source",
          got.find(_._1 == 900001L).get._3, None, false)),
          "uncalibrated source must get threshold=null, admit=false")
        // batch expectation: q145 margins + source through the SAME
        // thresholds — the streamed decisions must equal it exactly
        val batchFrame = graft.ops.TextOps
          .q145LinearQualityScore(spark, sf)
          .select("doc_id", "margin_milli")
          .join(graft.core.Tables.documents(spark, sf)
            .select("doc_id", "source"), Seq("doc_id"))
          .join(thresholds, Seq("source"), "left_outer")
          .select(col("doc_id"), col("source"), col("margin_milli"),
            col("threshold_milli"),
            (col("threshold_milli").isNotNull &&
              col("margin_milli") >= col("threshold_milli")).as("admit"))
        assert(got.filter(_._1 != 900001L) == asSet(batchFrame),
          "streamed admissions must equal the batch decision frame")
        // rank equivalence, tie-inclusive: every doc whose within-source
        // rank-decile is < 3 is admitted, and any admitted doc whose
        // decile is >= 3 sits EXACTLY on the threshold (boundary tie)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source")
          .orderBy(col("margin_milli").desc, col("doc_id").asc)
        val deciled = batchFrame
          .withColumn("rk", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("source")))
          .withColumn("decile", expr("((rk - 1) * 10) div n"))
        assert(deciled.filter(col("decile") < 3 && !col("admit")).count() == 0,
          "every top-3-decile doc must be admitted")
        assert(deciled.filter(col("admit") && col("decile") >= 3 &&
            col("margin_milli") =!= col("threshold_milli")).count() == 0,
          "an admitted doc outside the kept deciles must be a boundary tie")
      } finally q.stop()
    } finally thresholds.unpersist()
  }

  test("streaming decontamination rewrite at ingest unions to batch q152 exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = graft.core.Tables.documents(spark, TestSpark.sf)
    val benchGrams = StreamingOps.buildBenchGramIndex(
      all.filter(col("doc_id") % 100 === 0))
    val trainDocs = all.filter(col("doc_id") % 100 =!= 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    val outDir = java.nio.file.Files
      .createTempDirectory("decon_out").toString + "/r"
    val ckpt = java.nio.file.Files
      .createTempDirectory("decon_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.decontaminateRewriteAtIngest(
      mem.toDF().toDF("doc_id", "text"), benchGrams, outDir, ckpt)
    try {
      val (a, b) = trainDocs.splitAt(trainDocs.length / 2)
      mem.addData(a.toSeq)
      q.processAllAvailable()
      mem.addData(b.toSeq)
      q.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .select("doc_id", "n_tokens", "n_kept", "kept_md5")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      val expect = graft.ops.TextOps
        .q152DecontaminateRewrite(spark, TestSpark.sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(got == expect,
        s"stream/batch mismatch: ${(got diff expect) ++ (expect diff got)}")
      // the fixture genuinely cuts something at this threshold
      assert(got.exists(r => r._3 < r._2))
    } finally { q.stop(); benchGrams.unpersist() }
  }

  test("streaming DSIR scoring at ingest unions to batch q150's score columns exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // ingest the RAW docs (the stream scores arrivals; the target set
    // is the model, not the stream) against the static ratio table
    val ratios = StreamingOps.buildDsirRatioTable(spark, TestSpark.sf)
    val rawDocs = graft.core.Tables.documents(spark, TestSpark.sf)
      .filter(col("doc_id") % 100 =!= 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    val outDir = java.nio.file.Files
      .createTempDirectory("dsir_out").toString + "/r"
    val ckpt = java.nio.file.Files
      .createTempDirectory("dsir_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.importanceScoreAtIngest(
      mem.toDF().toDF("doc_id", "text"), ratios, outDir, ckpt)
    try {
      val (a, b) = rawDocs.splitAt(rawDocs.length / 2)
      mem.addData(a.toSeq)
      q.processAllAvailable()
      mem.addData(b.toSeq)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))
      val got = spark.read.parquet(outDir)
        .select("doc_id", "n_feats", "sum_ratio_micro", "mean_ratio_micro")
        .collect().map(key).toSet
      // rank/selected are corpus-level (absent from the ingest surface
      // by contract); the score columns must match row-for-row
      val expect = graft.ops.TextOps.q150DsirWeights(spark, TestSpark.sf)
        .select("doc_id", "n_feats", "sum_ratio_micro", "mean_ratio_micro")
        .collect().map(key).toSet
      assert(got == expect,
        s"stream/batch mismatch: ${(got diff expect) ++ (expect diff got)}")
    } finally { q.stop(); ratios.unpersist() }
  }

  test("streaming KMV sketch final state equals batch q160 regardless of batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.core.Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "source", "text")
      .as[(Long, String, String)].collect()
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamingOps.kmvSketchStream(
      mem.toDF().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName("kmv_out")
      .outputMode("update").start()
    try {
      // three uneven micro-batches: the bottom-k set is insert-order
      // invariant, so the FINAL emission per source must equal batch
      // q160 no matter where the batch boundaries fall
      val parts = docs.grouped(math.max(1, docs.length / 3 + 1)).toSeq
      parts.foreach { p => mem.addData(p.toSeq); q.processAllAvailable() }
      // n_kept and est_distinct are monotone nondecreasing over a
      // sketch's lifetime (inserts only shrink the kth value), and
      // kth_h nonincreasing once saturated — max/max/min per source IS
      // the final state
      val got = spark.table("kmv_out").groupBy("source")
        .agg(max("n_kept").as("n_kept"), min("kth_h").as("kth_h"),
          max("est_distinct").as("est_distinct"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
        .toSet
      val expect = graft.ops.TextOps.q160KmvDistinct(spark, TestSpark.sf)
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
        .toSet
      assert(got == expect,
        s"stream/batch mismatch: ${(got diff expect) ++ (expect diff got)}")
      // the saturated regime is exercised in-stream (some source's
      // sketch filled and began estimating)
      assert(got.exists(_._3.nonEmpty))
    } finally q.stop()
  }

  test("streaming centroid maintenance converges to batch q88 exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = graft.core.Tables.embeddings(spark, TestSpark.sf)
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    val mem = MemoryStream[(Int, Seq[Float])]
    val q = StreamingOps.centroidStream(
      mem.toDF().toDF("label", "embedding"))
      .writeStream.format("memory").queryName("centroid_out")
      .outputMode("update").start()
    try {
      // two micro-batches: the running mean must not care how arrivals
      // were batched — integer state makes that exact, not approximate
      val (first, second) = rows.splitAt(rows.length / 2)
      mem.addData(first.toSeq)
      q.processAllAvailable()
      mem.addData(second.toSeq)
      q.processAllAvailable()
      // converged value per key = the emission with the max n_vecs
      val got = spark.table("centroid_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getDouble(4)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
      val expect = graft.ops.Similarity.q88LabelCentroids(spark, TestSpark.sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      assert(got == expect)
    } finally q.stop()
  }

  test("streaming windowed top-k ranks complete finalized windows, matches the batch rank") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Timestamp, String, Long, Long)]
    val q = StreamingOps.topTokensPerWindowStream(docs, k = 2) { b =>
      val rows = b.collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
      out.synchronized { out ++= rows }
    }.start()
    try {
      // two 10-minute windows, their tokens deliberately SPLIT across
      // micro-batches — the rank must still see each window whole
      mem.addData((1L, ts(1), "spark spark hash"), (2L, ts(12), "join"))
      q.processAllAvailable()
      mem.addData((3L, ts(3), "hash hash scan"), (4L, ts(14), "join scan"))
      q.processAllAvailable()
      // watermark advance: minute 60 − 30m delay = minute 30 > both
      // window ends → both windows finalize; the marker's own window
      // stays open and must NOT be emitted
      mem.addData((5L, ts(60), "marker"))
      q.processAllAvailable()
      // batch twin over the real (non-marker) rows
      val batchRows = Seq(
        (ts(1), "spark spark hash"), (ts(12), "join"),
        (ts(3), "hash hash scan"), (ts(14), "join scan"))
        .toDF("ts", "text")
        .select(col("ts"), explode(
          graft.functions.TextFunctions.tokens(col("text"))).as("word"))
        .groupBy(window(col("ts"), "10 minutes"), col("word"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("window_start"), col("word"), col("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("window_start").orderBy(col("cnt").desc, col("word"))
      val twin = batchRows
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 2L)
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(out.synchronized(out.toSet) == twin,
        s"streamed=${out.toList.sorted} twin=${twin.toList.sorted}")
      // the marker's unfinalized window emitted nothing
      assert(!out.exists(_._2 == "marker"))
    } finally q.stop()
  }

  test("checkpointed stream resumes state across a query restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the fault-tolerance wiring every long-lived 100 TB/day stream
    // rests on: windowed-aggregation state written to the checkpoint
    // by query #1 must be REBUILT by query #2 from the same checkpoint
    // dir — a window whose events straddle the restart still counts
    // them all, exactly once
    val base = java.nio.file.Files
      .createTempDirectory("graft-ckpt-").toString
    val (ckpt, outDir) = (s"$base/ckpt", s"$base/out")
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val events = mem.toDF().toDF("user_id", "ts", "event_type", "value")
    // parquet file sink: the memory sink is NOT recoverable by design
    // (its "state" is the driver's heap); the file sink commits batch
    // ids to the checkpoint and is the recovery-capable shape
    def start() = StreamingOps.windowedEventCounts(events)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try {
      mem.addData((1L, ts(1), "click", 1.0), (2L, ts(5), "click", 2.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the same checkpoint: the (ts0-window, click) state
    // with count 2 lives only in the checkpoint now
    val q2 = start()
    try {
      mem.addData((3L, ts(7), "click", 3.0))  // same window, post-restart
      mem.addData((4L, ts(120), "view", 4.0)) // advances watermark, closes it
      q2.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .select("window_start", "event_type", "n_events").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      // 3 clicks total in the ts(0) window: 2 from before the restart
      // (recovered from checkpoint state), 1 after
      assert(got.contains((ts(0), "click", 3L)),
        s"restarted query lost pre-restart state: $got")
    } finally {
      q2.stop()
      scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
    }
  }

  test("stream-stream attribution pairs match the batch interval join across interleaved batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.core.Tables.events(spark, TestSpark.sf)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "event_id", "ts")
    val pRows = purchases.as[(Long, Long, Timestamp)].collect().toSeq
    val cRows = clicks.as[(Long, Long, Timestamp)].collect().toSeq
    val pMem = MemoryStream[(Long, Long, Timestamp)]
    val cMem = MemoryStream[(Long, Long, Timestamp)]
    // delay larger than the fixture's span: nothing is ever late, so
    // the streamed pair set must be COMPLETE (cross-batch included)
    val out = StreamingOps.attributionPairsStream(
      pMem.toDF().toDF("user_id", "event_id", "ts"),
      cMem.toDF().toDF("user_id", "event_id", "ts"),
      delay = "3650 days")
    val q = out.writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      // interleave the two sides out of phase: clicks land a batch
      // before their purchases on one side of the split, after on the
      // other — pairs must not depend on arrival order
      val pChunks = pRows.grouped((pRows.size + 1) / 2).toSeq
      val cChunks = cRows.grouped((cRows.size + 1) / 2).toSeq
      cMem.addData(cChunks(0)); q.processAllAvailable()
      pMem.addData(pChunks(0)); q.processAllAvailable()
      pMem.addData(pChunks(1)); q.processAllAvailable()
      cMem.addData(cChunks(1)); q.processAllAvailable()
      val streamed = spark.table("attr_out")
        .select("purchase_id", "click_id")
        .as[(Long, Long)].collect().toSet
      val batch = graft.ops.Events.attributionPairs(purchases, clicks)
        .select("purchase_id", "click_id")
        .as[(Long, Long)].collect().toSet
      assert(streamed == batch,
        s"streamed ${streamed.size} pairs, batch ${batch.size}; " +
          s"missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")
    } finally q.stop()
  }

  test("stream-stream attribution: watermark evicts click state and drops late purchases") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pMem = MemoryStream[(Long, Long, Timestamp)]
    val cMem = MemoryStream[(Long, Long, Timestamp)]
    val out = StreamingOps.attributionPairsStream(
      pMem.toDF().toDF("user_id", "event_id", "ts"),
      cMem.toDF().toDF("user_id", "event_id", "ts"),
      delay = "2 hours")
    val q = out.writeStream.format("memory").queryName("attr_late_out")
      .outputMode("append").start()
    def tsH(hours: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-03 ${hours % 24}%02d:00:00")
    try {
      // user 1 clicks at t0
      cMem.addData((1L, 100L, ts(0))); q.processAllAvailable()
      // unrelated traffic on BOTH sides advances the global watermark
      // (policy=min) two days past t0 + horizon + delay
      cMem.addData((2L, 101L, tsH(0)))
      pMem.addData((3L, 200L, tsH(0)))
      q.processAllAvailable()
      // user 1's purchase 30 min after the click arrives only now —
      // inside the batch horizon, but behind the stream's watermark:
      // dropped on ingest, and the click's state row is already gone
      pMem.addData((1L, 201L, ts(30))); q.processAllAvailable()
      assert(spark.table("attr_late_out").isEmpty,
        "late purchase must not attribute once the watermark passed it")
      // the BATCH twin on the same four events does pair them — the
      // difference is watermark semantics, not join logic
      val pB = Seq((3L, 200L, tsH(0)), (1L, 201L, ts(30)))
        .toDF("user_id", "event_id", "ts")
      val cB = Seq((1L, 100L, ts(0)), (2L, 101L, tsH(0)))
        .toDF("user_id", "event_id", "ts")
      assert(graft.ops.Events.attributionPairs(pB, cB).count() == 1L)
    } finally q.stop()
  }

  test("streaming CDC upsert maintains the keyed table: state equals the batch MERGE fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cdc").toString
    val mem = MemoryStream[(Long, String, Long)] // (key, value, seq)
    val q = StreamingOps.cdcUpsertStream(
      mem.toDF().toDF("k", "v", "seq"),
      s"$dir/table", s"$dir/ckpt", key = "k", seqCol = "seq")
    def state(): Map[Long, String] =
      StreamingOps.readCdcTable(spark, s"$dir/table")
        .select("k", "v").as[(Long, String)].collect().toMap
    try {
      // batch 0: inserts
      mem.addData((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L))
      q.processAllAvailable()
      assert(state() == Map(1L -> "a", 2L -> "b", 3L -> "c"))
      // batch 1: update k2, insert k4, and TWO in-batch versions of k1
      // — the higher seq must win within the batch
      mem.addData((2L, "b2", 4L), (4L, "d", 5L), (1L, "a1", 6L), (1L, "a2", 7L))
      q.processAllAvailable()
      assert(state() == Map(1L -> "a2", 2L -> "b2", 3L -> "c", 4L -> "d"))
      // batch 2: update only — unchanged keys must survive untouched
      mem.addData((3L, "c1", 8L))
      q.processAllAvailable()
      val streamed = state()
      assert(streamed == Map(1L -> "a2", 2L -> "b2", 3L -> "c1", 4L -> "d"))
      // batch-twin equivalence: the same change log folded through the
      // SAME Layout.upsert in one batch per micro-batch
      val batches = Seq(
        Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L)),
        Seq((2L, "b2", 4L), (4L, "d", 5L), (1L, "a1", 6L), (1L, "a2", 7L)),
        Seq((3L, "c1", 8L)))
      val folded = batches.foldLeft(Seq.empty[(Long, String, Long)].toDF("k", "v", "seq")) {
        (base, b) =>
          val resolved = b.groupBy(_._1).map { case (_, rows) => rows.maxBy(_._3) }
            .toSeq.toDF("k", "v", "seq")
          graft.ops.Layout.upsert(base, resolved, "k")
      }
      assert(folded.select("k", "v").as[(Long, String)].collect().toMap == streamed)
      // the version manifest points at the last commit, and the VACUUM
      // analog kept only the current + one grace version
      assert(StreamingOps.currentCdcVersion(spark, s"$dir/table").contains(2L))
      val versions = new java.io.File(s"$dir/table").listFiles()
        .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
        .map(_.getName).sorted.toSeq
      assert(versions == Seq("v1", "v2"),
        s"expected current + grace version only, got $versions")
      // REDELIVERY idempotence: the same (streamId, batchId) again is a
      // no-op — state and version unchanged
      val redelivered = Seq((9L, "NOT-APPLIED", 99L)).toDF("k", "v", "seq")
      assert(!StreamingOps.applyCdcBatch(redelivered, s"$dir/table",
        streamId = s"$dir/ckpt", batchId = 2L, key = "k", seqCol = "seq"))
      assert(state() == Map(1L -> "a2", 2L -> "b2", 3L -> "c1", 4L -> "d"))
      assert(StreamingOps.currentCdcVersion(spark, s"$dir/table").contains(2L))
      // EPOCH safety: a NEW stream identity restarting at batchId 0
      // (checkpoint reset / replacement pipeline) must APPLY, not be
      // swallowed by the old stream's high-water mark
      val epoch = Seq((5L, "e", 100L)).toDF("k", "v", "seq")
      assert(StreamingOps.applyCdcBatch(epoch, s"$dir/table",
        streamId = "fresh-ckpt", batchId = 0L, key = "k", seqCol = "seq"))
      assert(state() == Map(1L -> "a2", 2L -> "b2", 3L -> "c1", 4L -> "d", 5L -> "e"))
      assert(StreamingOps.currentCdcVersion(spark, s"$dir/table").contains(3L))
      // ...and ITS redelivery is then skipped too
      assert(!StreamingOps.applyCdcBatch(epoch, s"$dir/table",
        streamId = "fresh-ckpt", batchId = 0L, key = "k", seqCol = "seq"))
    } finally q.stop()
  }

  test("CDC writer contract: keepVersions guard, orphan tmp sweep, sequential second writer") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cdc_contract").toString
    val tbl = s"$dir/table"
    val b0 = Seq((1L, "a", 1L)).toDF("k", "v", "seq")
    // keepVersions < 1 would vacuum the version just committed out
    // from under _CURRENT — rejected loudly up front
    intercept[IllegalArgumentException] {
      StreamingOps.applyCdcBatch(b0, tbl, "w1", 0L, "k", "seq",
        keepVersions = 0)
    }
    assert(StreamingOps.applyCdcBatch(b0, tbl, "w1", 0L, "k", "seq"))
    // a writer that crashed between manifest create and rename leaves
    // _CURRENT.tmp<v> behind; the next commit's vacuum sweeps it
    val orphan = java.nio.file.Paths.get(tbl, "_CURRENT.tmp999")
    java.nio.file.Files.writeString(orphan, "999\ncrashed-writer\n0")
    val b1 = Seq((2L, "b", 2L)).toDF("k", "v", "seq")
    assert(StreamingOps.applyCdcBatch(b1, tbl, "w1", 1L, "k", "seq"))
    assert(!java.nio.file.Files.exists(orphan),
      "orphaned _CURRENT.tmp manifest must be swept by vacuum")
    // SEQUENTIAL second writer (the documented contract: one writer AT
    // A TIME; true concurrency is out of contract): a different
    // identity applies last-writer-wins on top of the current state,
    // and each identity's batch-id dedup tracks the manifest identity
    val w2 = Seq((1L, "A2", 10L)).toDF("k", "v", "seq")
    assert(StreamingOps.applyCdcBatch(w2, tbl, "w2", 0L, "k", "seq"))
    val state = StreamingOps.readCdcTable(spark, tbl)
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(state == Map(1L -> "A2", 2L -> "b"))
    // w1 resuming after w2 took the manifest: its identity no longer
    // matches, so its next batch APPLIES (last-writer-wins, not an
    // error) — this is why true concurrent interleaving must be
    // externally serialized
    assert(StreamingOps.applyCdcBatch(
      Seq((3L, "c", 3L)).toDF("k", "v", "seq"), tbl, "w1", 1L, "k", "seq"))
  }

  test("CDC deletes: log-order wins within a batch, tombstones remove, op never lands, redelivery idempotent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cdc_del").toString
    val tbl = s"$dir/table"
    val b0 = Seq((1L, "a", 1L, "upsert"), (2L, "b", 2L, "upsert"),
      (3L, "c", 3L, "upsert")).toDF("k", "v", "seq", "op")
    assert(StreamingOps.applyCdcBatch(b0, tbl, "w", 0L, "k", "seq", 2,
      Some("op")))
    // log-order semantics, the deliberate contrast with applyChanges's
    // takedown-wins: key 3 delete(seq10) then upsert(seq11) RE-ADMITS
    // in the same batch; key 1 upsert(seq10) then delete(seq11) is gone
    val b1 = Seq(
      (2L, null.asInstanceOf[String], 10L, "delete"),
      (3L, null.asInstanceOf[String], 10L, "delete"),
      (3L, "C2", 11L, "upsert"),
      (1L, "A2", 10L, "upsert"),
      (1L, null.asInstanceOf[String], 11L, "delete"),
      (4L, "d", 10L, "upsert")).toDF("k", "v", "seq", "op")
    assert(StreamingOps.applyCdcBatch(b1, tbl, "w", 1L, "k", "seq", 2,
      Some("op")))
    val cur = StreamingOps.readCdcTable(spark, tbl)
    assert(!cur.columns.contains("op"), "op column must never land")
    val state = cur.select("k", "v").as[(Long, String)].collect().toMap
    assert(state == Map(3L -> "C2", 4L -> "d"), s"got $state")
    // redelivered batch is a no-op (manifest high-water mark)
    assert(!StreamingOps.applyCdcBatch(b1, tbl, "w", 1L, "k", "seq", 2,
      Some("op")))
  }

  test("pagerank maintenance at ingest: stream-maintained ranks equal the batch q147 fold after every batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // controlled fixture: exact-dup groups + verifiable near-dups
    // (long shared prefix ⇒ shared band minima ⇒ LSH candidacy; token
    // Jaccard ≥ 0.6 ⇒ verified edge). Batch 2's doc 5 repeats group
    // A's text with a SMALLER id than its current rep — the relabel
    // path, where the maintained graph must rename rep 100 to 5
    // everywhere (membership, signatures, edges) to stay equal to the
    // batch min-id contraction.
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val tAnear = tA.replace(" upsilon", " phi") // 19/21 tokens shared
    val tB = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen"
    val tBnear = tB.replace(" sixteen", " seventeen")
    val tiny = "just two" // < 3 tokens: no shingles, no signatures
    val corpus = Seq(
      100L -> tA, 101L -> tA, 102L -> tAnear,
      110L -> tB, 111L -> tiny)
    val batch1 = Seq(200L -> tA, 201L -> tBnear, 202L -> "brand new words entirely here today")
    val batch2 = Seq(5L -> tA, 210L -> tB, 211L -> tiny)
    def writeDocs(docs: Seq[(Long, String)]): String = {
      val dir = java.nio.file.Files.createTempDirectory("prg").toString
      docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      dir
    }
    val corpusDir = writeDocs(corpus)
    val p1 = writeDocs(corpus ++ batch1)
    val p2 = writeDocs(corpus ++ batch1 ++ batch2)
    val outDir = java.nio.file.Files
      .createTempDirectory("prg_out").toString + "/r"
    val ckpt = java.nio.file.Files.createTempDirectory("prg_ckpt").toString
    val state = StreamingOps.buildRepGraphState(spark, corpusDir)
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.pagerankMaintainAtIngest(
      mem.toDF().toDF("doc_id", "text"), state, outDir, ckpt)
    try {
      mem.addData(batch1)
      q.processAllAvailable()
      mem.addData(batch2)
      q.processAllAvailable()
      def rankSet(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "degree", "pr_mass", "n_iters")
        .as[(Long, Long, Long, Long)].collect().toSet
      val oracle1 = rankSet(
        graft.ops.Dedup.q147PagerankConverged(spark, p1))
      val oracle2 = rankSet(
        graft.ops.Dedup.q147PagerankConverged(spark, p2))
      val got = spark.read.parquet(outDir)
      val got1 = rankSet(got.filter(col("batch_id") === 0L))
      val got2 = rankSet(got.filter(col("batch_id") === 1L))
      assert(got1 == oracle1,
        s"batch 0 mismatch: ${(got1 diff oracle1) ++ (oracle1 diff got1)}")
      assert(got2 == oracle2,
        s"batch 1 mismatch: ${(got2 diff oracle2) ++ (oracle2 diff got2)}")
      // not vacuously equal: the fixture must actually exercise edges
      // and the relabel (rep 100 -> 5 carries 4 copies of tA)
      assert(got2.exists(_._2 > 0L), "no near-dup edges in the fixture")
      assert(oracle2.exists(r => r._1 == 5L && r._2 > 0L),
        "relabeled rep 5 should carry group A's degree")
      // write-failure replay: rewind ONLY the write guard and re-apply
      // the same batch id — the graph guard must skip (a replayed
      // batch must not double-count copies) while the write redoes and
      // OVERWRITES batch 1's partition (dynamic partition overwrite:
      // no appended duplicates, no permanently-missing ranks)
      val docsBefore = state.nDocs
      state.lastWritten = 0L
      StreamingOps.maintainBatch(state, batch2.toDF("doc_id", "text"),
        1L, outDir, 10L, 12)
      assert(state.nDocs == docsBefore,
        "replayed batch must not re-apply the graph update")
      assert(state.lastWritten == 1L)
      val replayed = spark.read.parquet(outDir)
        .filter(col("batch_id") === 1L)
      assert(replayed.count() == oracle2.size,
        "replayed write must overwrite its partition, not append")
      assert(rankSet(replayed) == oracle2)
      // idempotence guard: re-applying an already-seen batch id is a no-op
      val before = state.nDocs
      StreamingOps.updateRepGraph(state,
        Seq(999L -> "should not apply twice").toDF("doc_id", "text"))
      assert(state.nDocs == before + 1) // direct call applies...
      assert(state.lastBatch == 1L) // ...but the stream guard is on batchId
    } finally { q.stop(); state.unpersist() }
  }

  test("pagerank maintenance at ingest: each batch releases the state generation and scratch it supersedes") {
    import spark.implicits._
    // every batch checkpoints a new state generation plus per-batch
    // scratch; a generation or scratch frame that is not released
    // leaves its checkpoint RDD persisted, batch after batch
    val corpus = Seq(1L -> "red green blue cyan magenta yellow black white",
      2L -> "red green blue cyan magenta yellow black grey", 3L -> "one two three")
    val dir = java.nio.file.Files.createTempDirectory("prg_leak").toString
    corpus.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val outDir = java.nio.file.Files.createTempDirectory("prg_leak_out").toString + "/r"
    // count only what this test persists: earlier tests' leftovers may
    // be cleaned up while it runs
    val first = spark.sparkContext.getPersistentRDDs.keys.maxOption.getOrElse(-1) + 1
    val state = StreamingOps.buildRepGraphState(spark, dir)
    def persisted(): Int = spark.sparkContext.getPersistentRDDs.keys.count(_ >= first)
    try {
      val counts = (0L to 2L).map { b =>
        StreamingOps.maintainBatch(state,
          Seq((10L + b) -> "red green blue cyan magenta yellow black white",
            (20L + b) -> s"fresh words batch $b here now").toDF("doc_id", "text"),
          b, outDir, 10L, 12)
        persisted()
      }
      assert(counts(2) == counts(0), s"persisted RDDs after batches 1..3: ${counts.mkString(", ")}")
    } finally state.unpersist()
  }
}
