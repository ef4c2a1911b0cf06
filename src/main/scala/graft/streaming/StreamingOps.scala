package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.SessionMemo
import graft.functions.TextFunctions.{shingles3, tokens}

/** Structured Streaming twins of the batch operators (SURVEY §2.2:
  * streaming was absent from the reference — Hadoop 1.x is batch-only —
  * but is required north-star surface).
  *
  * Design rule: each streaming pipeline reuses the SAME logical
  * transformations as its batch twin, so the oracle-checked batch results
  * validate the streaming semantics (tested via MemoryStream in
  * StreamingSpec).
  *
  * Scale notes: all stateful operators carry watermarks so state is
  * bounded and old windows/sessions get evicted — unbounded state is the
  * thing that kills long-running 100 TB/day streams. Output modes are
  * chosen per sink semantics (append for finalized windows, update for
  * running counts).
  */
object StreamingOps {

  /** Streaming word count over a stream of text lines — the reference
    * pipeline (tokenize → count) in continuous form. Complete/update
    * mode: counts revise as lines arrive.
    */
  def wordCount(lines: DataFrame): DataFrame =
    lines
      .select(explode(tokens(col("value"))).as("word"))
      .groupBy("word")
      .count()

  /** Tumbling-window event counts with a watermark: counts per
    * (event_type, 10-minute window), tolerating 30 minutes of lateness.
    * Append mode emits a window only once the watermark passes it —
    * exactly-once, bounded state.
    */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming TOP-K per tumbling window — the canonical answer to
    * "Structured Streaming forbids window (ranking) functions": rank in
    * `foreachBatch`, where the micro-batch is a plain batch frame.
    * Correct BECAUSE of append-mode finalization semantics: a window's
    * aggregate rows emit exactly once, all in the trigger whose
    * watermark passed the window end — so every group of a finalized
    * window is present in the same micro-batch and the per-window
    * row_number ranks over the complete set, never a partial one. The
    * stateful half (windowed token counts) carries partial-aggregated,
    * watermark-evicted state; the rank half is stateless per batch.
    * `sink` receives (window_start, word, cnt, rank ≤ k) rows once per
    * finalized window.
    */
  def topTokensPerWindowStream(docs: DataFrame, k: Int = 3,
      windowLen: String = "10 minutes", delay: String = "30 minutes")(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .withWatermark("ts", delay)
      .select(col("ts"), explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
      .groupBy(window(col("ts"), windowLen), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("word"), col("cnt"))
    counts.writeStream
      .outputMode("append") // finalized windows only — the rank is total
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val w = Window.partitionBy("window_start")
          .orderBy(col("cnt").desc, col("word"))
        sink(batch
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= k.toLong))
      }
  }

  /** Session-window aggregation (gap-based, 30 minutes) — the streaming
    * twin of batch q15Sessionize, via the built-in session_window (state
    * merged incrementally, evicted past the watermark).
    */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("session_value"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("session_value"))

  case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Custom arbitrary state: per-user running totals via
    * mapGroupsWithState — the escape hatch for state machines the
    * built-in windows can't express (the streaming analog of the
    * reference's "write your own Reducer" extension point).
    *
    * State is BOUNDED (per the module contract above): the input carries
    * a watermark and each group arms an event-time timeout `idle` past
    * its latest event. A user idle longer than `idle` (by event time,
    * once the watermark passes) has its state emitted one final time and
    * REMOVED — a later event for the same user starts a fresh total.
    * That restart is the observable proof of eviction StreamingSpec
    * asserts on. EventTimeTimeout over ProcessingTimeTimeout because
    * eviction is then deterministic in event time (replayable,
    * testable), not wall-clock-dependent.
    */
  def runningTotals(events: Dataset[UserEvent],
      lateness: String = "10 minutes", idleMillis: Long = 30L * 60 * 1000)
      : Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          if (state.hasTimedOut) {
            // final emission for an idle user, then eviction
            val last = state.get
            state.remove()
            last
          } else {
            val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
            var maxTs = Long.MinValue
            val (n, v) = batch.foldLeft((prev.n_events, prev.total_value)) {
              case ((cn, cv), e) =>
                maxTs = math.max(maxTs, e.ts.getTime); (cn + 1, cv + e.value)
            }
            val next = UserRunning(userId, n, v)
            state.update(next)
            // timeout must be strictly beyond the current watermark
            val base = math.max(maxTs, state.getCurrentWatermarkMs())
            state.setTimeoutTimestamp(base + idleMillis)
            next
          }
      }
  }

  /** File-based streaming ingestion of the fixture events schema: treat a
    * directory as an unbounded source (the production pattern for
    * landing-zone parquet; new files become micro-batches).
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
      .parquet(dir)

  /** Streaming exact dedup at ingest — the streaming twin of batch
    * q30ExactDedup: drop any document whose content hash was already
    * seen, across micro-batches, via `dropDuplicatesWithinWatermark`.
    * That variant (not plain `dropDuplicates("content_md5")`!) is what
    * makes the watermark actually bound the dedup state: with plain
    * dropDuplicates on a non-event-time key, StreamingDeduplicateExec
    * never evicts state (keys don't carry event time) while the
    * watermark still DROPS late rows — the worst of both. Within-
    * watermark dedup instead evicts hash-state once the watermark
    * passes, trading completeness (a dup arriving > `retention` after
    * its first copy is re-admitted) for bounded state — the trade every
    * 100 TB/day streaming dedup makes, made explicit here.
    */
  def dedupStream(docs: DataFrame, retention: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_md5", md5(col("text")))
      .withWatermark("ts", retention)
      .dropDuplicatesWithinWatermark("content_md5")

  case class BandedDoc(band: Int, sig: String, doc_id: Long, ts: java.sql.Timestamp)
  case class CandPair(doc_a: Long, doc_b: Long)

  /** Streaming MinHash-LSH near-dup candidates — the incremental twin of
    * batch q32MinHashLsh (`graft.ops.Dedup.lshCandidatePairs`). Arriving
    * docs compute their per-band min-hash signatures MAP-SIDE (the same
    * one-md5-per-shingle window construction as the batch path, as a
    * per-row array fold — no explode/groupBy before the stateful op),
    * then group on (band, sig): each bucket's state is the doc-id list
    * seen within the watermark, and a new arrival emits one normalized
    * (doc_a < doc_b) candidate pair per co-bucketed predecessor. A
    * downstream consumer drops near-dups by anti-joining arriving docs
    * against the pairs' doc_b side (the q39 resolution, incrementally)
    * or distinct-merges them across bands.
    *
    * State is BOUNDED the same way dedupStream's is: an event-time
    * timeout `retentionMillis` past a bucket's latest arrival clears the
    * bucket, trading cross-batch recall beyond the retention horizon for
    * bounded state — with the additional per-bucket bound that a bucket
    * holds ids, not documents. Dup-heavy buckets hold many ids; that is
    * the same candidate-volume cost the batch plan pays in its
    * equality-join fan-in, surfaced here as state size.
    */
  def lshCandidateStream(docs: DataFrame, bands: Int = 8,
      lateness: String = "10 minutes", retentionMillis: Long = 3600000L)
      : Dataset[CandPair] = {
    import docs.sparkSession.implicits._
    val banded = docs
      .withWatermark("ts", lateness)
      .withColumn("hs", hsOf(col("text")))
      .filter(size(col("hs")) >= 1)
      .select(col("doc_id"), col("ts"),
        posexplode(array((0 until bands).map(sigAt(col("hs"), _)): _*)))
      .toDF("doc_id", "ts", "band", "sig")
      .select(col("band"), col("sig"), col("doc_id"), col("ts"))
      .as[BandedDoc]
    banded.groupByKey(bd => (bd.band, bd.sig))
      .flatMapGroupsWithState[List[Long], CandPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val arrived = rows.toList.sortBy(_.doc_id)
            var known = state.getOption.getOrElse(Nil)
            // membership via a hash set: the stored state stays a list
            // (stable emission order, compact encoder), but the per-
            // arrival `contains` is O(1) instead of O(bucket size) — on
            // a dup-heavy bucket of k ids the update cost is the
            // inherent O(k) pair emission alone, not O(k) twice
            val seen = scala.collection.mutable.HashSet.empty[Long]
            seen ++= known
            val out = List.newBuilder[CandPair]
            arrived.foreach { bd =>
              known.foreach { k =>
                if (k != bd.doc_id)
                  out += (if (k < bd.doc_id) CandPair(k, bd.doc_id)
                          else CandPair(bd.doc_id, k))
              }
              if (seen.add(bd.doc_id)) known = bd.doc_id :: known
            }
            state.update(known)
            val maxTs = arrived.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs()) + retentionMillis)
            out.result().iterator
          }
      }
  }

  /** Streaming INCREMENTAL dedup against an EXISTING corpus — the
    * streaming twin of batch q76 (`Dedup.q76IncrementalDedup`), and the
    * missing join pattern in this module: STREAM-STATIC joins. The
    * corpus is distilled once into two static lookup tables —
    * (content md5 → min doc_id) and, per LSH band, (band signature →
    * min doc_id in bucket) — and each arriving doc is classified
    * exact_dup / near_dup / new entirely map-side plus `bands`+1 left
    * joins against those tables. No aggregation, no streaming state, no
    * watermark needed: state lives in the STATIC side (in production, a
    * signature table refreshed by the nightly batch), which is exactly
    * what keeps per-ingest cost O(batch) rather than O(corpus).
    *
    * near_rep = least over the per-band bucket minima = the global
    * minimum corpus doc sharing any band signature — the same value
    * batch q76's (band, sig) join + min aggregation produces
    * (StreamingSpec pins exact equality). The per-band construction is
    * the same one-md5-per-shingle window fold as the batch signatures
    * and lshCandidateStream.
    */
  private def hsOf(text: org.apache.spark.sql.Column) = {
    import graft.functions.TextFunctions.shingles3
    transform(shingles3(tokens(text)), sh => md5(sh))
  }
  private def sigAt(hs: org.apache.spark.sql.Column, b: Int) = {
    import graft.functions.TextFunctions.{bandOffset, BandHashWidth}
    array_min(transform(hs, h => h.substr(lit(bandOffset(b)), lit(BandHashWidth))))
  }

  /** The corpus distilled into persisted lookup tables for
    * [[incrementalDedupStream]]: (content md5 → min doc_id) and, per
    * band, (band signature → min doc_id in bucket). PERSISTED because a
    * stream-static join re-executes the static subplan every
    * micro-batch — without it each of the bands+1 tables would
    * re-shingle the whole corpus per trigger. The tables are hash-sized
    * (one row per distinct hash/signature) — the in-memory form of the
    * signature table a production pipeline reads from storage.
    *
    * Lifecycle is the CALLER's: build once per corpus version, pass to
    * any number of streams, `unpersist()` when the corpus changes or
    * the streams stop (there is deliberately no hidden cache here — the
    * owner of the stream owns the index, unlike the fingerprint-keyed
    * session memos in `Dedup`, whose consumers are one-shot queries).
    */
  final case class CorpusDedupIndex(exactRep: DataFrame,
      bucketMin: Map[Int, DataFrame]) {
    def unpersist(): Unit = SessionMemo.unpersist(exactRep :: bucketMin.values.toList: _*)
  }

  def buildCorpusDedupIndex(corpus: DataFrame, bands: Int = 8): CorpusDedupIndex = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val corpusHash = corpus
      .select(md5(col("text")).as("h"), col("doc_id"))
      .groupBy("h").agg(min("doc_id").as("exact_rep"))
      .persist(lvl)
    val corpusBanded = corpus
      .select(col("doc_id"), hsOf(col("text")).as("hs"))
      .filter(size(col("hs")) >= 1)
    val bucketMin = (0 until bands).map { b =>
      b -> corpusBanded
        .select(sigAt(col("hs"), b).as(s"sig$b"), col("doc_id"))
        .groupBy(s"sig$b").agg(min("doc_id").as(s"min$b"))
        .persist(lvl)
    }.toMap
    CorpusDedupIndex(corpusHash, bucketMin)
  }

  def incrementalDedupStream(docs: DataFrame, index: CorpusDedupIndex): DataFrame = {
    val bands = index.bucketMin.size
    val base = docs
      .select(col("doc_id"), md5(col("text")).as("h"), hsOf(col("text")).as("hs"))
    val withSigs = (0 until bands).foldLeft(base) { (df, b) =>
      // empty shingle arrays yield a null signature, which never joins —
      // matching the batch path, where such docs have no signatures
      df.withColumn(s"sig$b", sigAt(col("hs"), b))
    }
    val joined = (0 until bands).foldLeft(
      withSigs.join(index.exactRep, Seq("h"), "left")) { (df, b) =>
      df.join(index.bucketMin(b), Seq(s"sig$b"), "left")
    }
    joined
      .withColumn("near_rep", least((0 until bands).map(b => col(s"min$b")): _*))
      .select(col("doc_id"),
        when(col("exact_rep").isNotNull, "exact_dup")
          .when(col("near_rep").isNotNull, "near_dup")
          .otherwise("new").as("status"),
        col("exact_rep"), col("near_rep"))
  }

  /** Convenience one-shot form: builds the index internally — the index
    * then lives for the session (no handle to unpersist). Long-lived
    * sessions that cycle streams or corpora should call
    * [[buildCorpusDedupIndex]] themselves, pass the index to the
    * two-argument overload, and `unpersist()` it when done.
    */
  def incrementalDedupStream(docs: DataFrame, corpus: DataFrame,
      bands: Int = 8): DataFrame =
    incrementalDedupStream(docs, buildCorpusDedupIndex(corpus, bands))

  /** STREAM-STREAM interval join — the last join family the module was
    * missing: click→purchase attribution where BOTH sides arrive as
    * unbounded streams (the stream-static ops above assume one side is
    * a table). Reuses the batch join body ([[graft.ops.Events
    * .attributionPairs]] — q97's candidate pairs) verbatim: equality
    * key `user_id` + the look-back band `purchase_ts − horizon ≤
    * click_ts ≤ purchase_ts`; only the watermarks are streaming-
    * specific. The time band is exactly what lets Spark BOUND the join
    * state: a buffered click can never match a purchase older than
    * `click_ts` nor newer than `click_ts + horizon`, so once the
    * watermark passes `click_ts + horizon + delay` the click's state
    * row is evicted — each side's state is (arrival rate × (horizon +
    * delay)), never stream-lifetime-sized. Rows later than `delay` are
    * dropped on ingest (the documented trade of every watermark op in
    * this module). Inner join: a zero-click purchase surfaces in the
    * batch report q97, not here — stream-stream outer joins emit nulls
    * only at watermark expiry, which turns "no clicks yet" into
    * trigger-timing-dependent output; the spec pins the inner pair set
    * equal to batch instead.
    *
    * Inputs must carry (user_id, event_id, ts) with `ts` the
    * event-time column.
    */
  def attributionPairsStream(purchases: DataFrame, clicks: DataFrame,
      horizonMinutes: Int = 60, delay: String = "2 hours"): DataFrame =
    graft.ops.Events.attributionPairs(
      purchases.withWatermark("ts", delay),
      clicks.withWatermark("ts", delay),
      horizonMinutes)

  case class DimUpdate(label: Long, dim: Long, micro: Long)
  case class CentroidState(label: Long, dim: Long, n_vecs: Long,
      sum_micro: Long, centroid: Double)

  /** INCREMENTAL CENTROID MAINTENANCE — the streaming twin of batch
    * q88LabelCentroids: per-(label, dim) running mean over an unbounded
    * embedding stream, kept exact by the same micro-unit integer sums
    * (state = (count, sum of longs); the divide happens only at
    * emission, so arrival order and batching cannot move a bit — the
    * spec pins the converged stream equal to batch q88). The exactness
    * has an explicit horizon: a never-evicted key's sum overflows Long
    * after ~9.2e12 unit-scale arrivals, and the fold uses addExact so
    * that horizon is a loud failure, never a silently wrong centroid.
    *
    * Contrast with the module's other stateful ops: here state is
    * bounded NOT by a watermark but by the KEY SPACE — |labels|×|dims|
    * entries total, each two longs, regardless of how many vectors ever
    * arrive. That is the second bounded-state story a 100 TB/day stream
    * can have (bounded keys; the first is event-time eviction), and why
    * NoTimeout is correct rather than lazy here. Shuffle honesty:
    * unlike batch q88 (partial agg below the exchange), a
    * mapGroupsWithState exchange has NO map-side combine — it carries
    * one (label, dim, micro) row per arriving vector element, i.e. the
    * exchange is MICRO-BATCH-sized per trigger (never corpus-sized);
    * only the state is |labels|×|dims|. Chaining a pre-aggregation in
    * front is not an option (Structured Streaming forbids
    * mapGroupsWithState after an aggregation), so the batch-sized
    * exchange is the price of the exact running state.
    */
  def centroidStream(embeddings: DataFrame): Dataset[CentroidState] = {
    import embeddings.sparkSession.implicits._
    embeddings
      .select(col("label").cast("long").as("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos").cast("long").as("dim"),
        floor(col("col").cast("double") * lit(graft.functions.Round.MicroScale)
          + lit(0.5)).cast("long").as("micro"))
      .as[DimUpdate]
      .groupByKey(u => (u.label, u.dim))
      .mapGroupsWithState[(Long, Long), CentroidState](GroupStateTimeout.NoTimeout) {
        (key: (Long, Long), batch: Iterator[DimUpdate], state: GroupState[(Long, Long)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0L))
          // addExact: the running sum of a NEVER-evicted key is the one
          // quantity here that genuinely grows forever — at unit-scale
          // embeddings (|micro| ≲ 1e6) Long overflows after ~9.2e12
          // arrivals per (label, dim). Wraparound would emit garbage
          // centroids with no signal; failing the query loudly is the
          // module's eviction-or-explicit-bound discipline applied to
          // the bounded-key-space case.
          val (n, s) = batch.foldLeft((n0, s0)) {
            case ((cn, cs), u) => (cn + 1L, Math.addExact(cs, u.micro))
          }
          state.update((n, s))
          val c = graft.functions.Round.jvmRn(
            s.toDouble / (graft.functions.Round.MicroScale * n), 4)
          CentroidState(key._1, key._2, n, s, c)
      }
  }

  /** Static side of the ingest-time contamination screen: the benchmark
    * suite's distinct shingle hashes (persisted — a stream-static join
    * re-executes the static subplan every micro-batch) plus the Bloom
    * sketch over them. Eval suites are bounded, so both fit comfortably;
    * callers own the lifecycle (`unpersist()` when the stream stops).
    */
  final case class ContaminationIndex(benchHashes: DataFrame,
      bloom: Array[Byte]) {
    def unpersist(): Unit = SessionMemo.unpersist(benchHashes)
  }

  def buildContaminationIndex(bench: DataFrame, fpp: Double = 0.03)
      : ContaminationIndex = {
    val hashes = graft.ops.TextOps.benchShingleHashes(bench)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // benchBloom's sizing count doubles as the persist materializer
    ContaminationIndex(hashes, graft.ops.TextOps.benchBloom(hashes, fpp))
  }

  /** DECONTAMINATION AT INGEST — q86's production shape: screen every
    * arriving micro-batch of documents against the benchmark index
    * before it lands, instead of sweeping the corpus after the fact.
    * Runs [[graft.ops.TextOps.contaminationScreen]] per batch via
    * foreachBatch (the per-doc distinct-shingle count is a batch
    * aggregation; a document arrives whole in one micro-batch, so
    * per-batch reports never split a doc and their union is EXACTLY the
    * whole-corpus q86 on the same docs — no cross-batch state at all).
    * State story at 100 TB/day: zero streaming state; the only
    * resident pieces are the bounded benchmark hash table and its
    * broadcast sketch, and the sketch drops ~all clean shingles before
    * the per-batch shuffle.
    */
  def decontaminateAtIngest(docs: DataFrame, index: ContaminationIndex,
      outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // the serialized sketch rides each micro-batch's plan as a literal
    // probed by the codegen'd might_contain expression (an eval-suite
    // sketch is KBs; the driver holds ONE copy in `index` for the
    // stream's whole lifetime)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.TextOps
          .contaminationScreen(batch, index.benchHashes, index.bloom)
          .withColumn("batch_id", lit(batchId))
          .coalesce(1)
          .write.mode("append").parquet(outDir)
        (): Unit
      }
      .start()
  }

  /** foreachBatch sink: land each micro-batch as partitioned parquet
    * (partitioned by event_type — the layout downstream batch queries
    * prune on). foreachBatch is the production bridge from a stream to
    * arbitrary batch sinks; the batch_id column makes re-delivered
    * batches identifiable, which is how exactly-once lands on
    * at-least-once sinks (readers dedup on (batch_id, event_id), or a
    * compaction job drops the older batch_id — both standard).
    * Partition discipline: a 100 TB/day stream writes many small files
    * per trigger; `coalesce` to a bounded writer count per batch keeps
    * file counts sane without a global shuffle.
    */
  def foreachBatchPartitionedSink(events: DataFrame, outDir: String,
      checkpointDir: String, writersPerBatch: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch
          .withColumn("batch_id", lit(batchId))
          .coalesce(writersPerBatch)
          .write
          .mode("append")
          .partitionBy("event_type")
          .parquet(outDir)
        (): Unit
      }
      .start()

  /** Streaming CDC UPSERT — a change stream continuously maintained as
    * a keyed table: each micro-batch is first resolved to its latest
    * row per key (max `seqCol` — the CDC log-sequence-number, which is
    * a total order per key in any real change feed), then applied to
    * the current table through the SAME [[graft.ops.Layout.upsert]]
    * the batch MERGE (q92) uses — one definition of merge semantics
    * across batch and streaming.
    *
    * Crash-safety is the lakehouse-manifest pattern, not in-place
    * rewrite: each batch writes a NEW table-version directory
    * (`v<version>/` — a monotonic counter, decoupled from batch ids),
    * then atomically re-points a `_CURRENT` manifest (temp file +
    * rename — atomic on HDFS and POSIX) recording (version, streamId,
    * lastBatchId). A crash between the two leaves the previous version
    * live and intact. A REDELIVERED batch (at-least-once foreachBatch
    * — crash after the manifest commit but before the streaming
    * checkpoint commit) is detected by the manifest carrying THE SAME
    * STREAM IDENTITY with `lastBatchId >= batchId`, and skipped — the
    * Delta txn (appId, batchVersion) idempotence key. Keying the guard
    * on stream identity (default: the checkpoint location, which IS
    * the batch-id namespace) is what makes a checkpoint reset safe: a
    * fresh checkpoint restarts batch ids at 0 under a NEW identity, so
    * its batches apply on top of the current table instead of being
    * silently swallowed by a stale high-water mark. One writer at a
    * time per table (the manifest tracks a single stream identity —
    * the standard single-writer table contract). SECOND-WRITER
    * SEMANTICS, precisely: writers that alternate SEQUENTIALLY are
    * well-defined — each commit applies last-writer-wins on the
    * current state, and batch-id dedup follows whichever identity
    * holds the manifest (spec-pinned in StreamingSpec). TRULY
    * CONCURRENT writers are out of contract: two commits that read
    * the same manifest race on the same v(n+1) directory and the
    * _CURRENT rename, and the loser's update is silently lost —
    * serialize writers externally (what Delta's optimistic commit
    * protocol exists to solve; a log-based CAS commit is the upgrade
    * path if multi-writer ever becomes a requirement here).
    *
    * After each commit, all but the newest `keepVersions` table
    * versions are deleted — the VACUUM analog. A reader that resolved
    * `_CURRENT` more than keepVersions-1 commits ago can lose its
    * directory mid-scan; production systems make this window
    * time-based (Delta's retention-hours) — here it is commit-based
    * and configurable, and the default keeps one superseded version as
    * the crash-fallback/reader grace. The version-and-pointer move is
    * exactly how Delta/Iceberg commit; at 100 TB their refinement is
    * writing only changed files per commit (file-level copy-on-write
    * after partition-pruning the change batch, q92's scaladoc) rather
    * than this full-table rewrite.
    */
  def cdcUpsertStream(changes: DataFrame, tableDir: String,
      checkpointDir: String, key: String, seqCol: String,
      keepVersions: Int = 2, opCol: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(keepVersions >= 1,
      s"keepVersions must be >= 1 (got $keepVersions)")
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applyCdcBatch(batch, tableDir, streamId = checkpointDir, batchId,
          key, seqCol, keepVersions, opCol)
        (): Unit
      }
      .start()
  }

  /** One CDC commit: resolve the batch to its latest row per key,
    * merge onto the current table version, land the next version, and
    * re-point the manifest — or skip if (streamId, batchId) already
    * committed. Returns whether the batch was applied (false =
    * redelivery no-op). Public so the idempotence and epoch semantics
    * are directly testable without staging a crash.
    *
    * `opCol` (r15) routes DELETES through the stream: when set, rows
    * whose op is `delete` tombstone their key and everything else
    * upserts; the op column never lands in the stored table. Delete
    * semantics here are LOG-ORDER-wins, deliberately different from
    * [[graft.ops.Layout.applyChanges]]'s takedown-wins: a CDC batch
    * carries a sequence column, so "which op is current" is a fact of
    * the log (latest seq per key decides — an upsert sequenced AFTER a
    * delete re-admits the key in the same batch), whereas
    * applyChanges handles UNSEQUENCED changesets where precedence must
    * be a policy and the safe policy is takedown. Both are spec-pinned.
    */
  def applyCdcBatch(batch: Dataset[org.apache.spark.sql.Row],
      tableDir: String, streamId: String, batchId: Long,
      key: String, seqCol: String, keepVersions: Int = 2,
      opCol: Option[String] = None): Boolean = {
    // keepVersions < 1 would make vacuum's keepFrom exceed the version
    // just committed and delete it out from under _CURRENT
    require(keepVersions >= 1,
      s"keepVersions must be >= 1 (got $keepVersions)")
    val s = batch.sparkSession
    import org.apache.spark.sql.expressions.Window
    val m = readCdcManifest(s, tableDir)
    if (m.exists(mm => mm.streamId == streamId && mm.lastBatch >= batchId)) {
      false // this stream already committed this batch (see scaladoc)
    } else {
      // latest row per key within the batch: seqCol is the CDC
      // log-sequence-number and REQUIRED unique per key; the hash
      // tie-break makes an out-of-contract duplicate seq pick the
      // same row on every replay instead of a nondeterministic one
      val resolved = batch
        .withColumn("__rn", row_number().over(
          Window.partitionBy(key).orderBy(col(seqCol).desc,
            hash(struct(batch.columns.map(col): _*)).asc)))
        .where(col("__rn") === 1).drop("__rn")
      // opCol: the latest row per key decided above — if that row is a
      // delete, the key tombstones; otherwise it upserts (op stripped)
      val (ups, dels) = opCol match {
        case Some(op) =>
          (resolved.filter(col(op) =!= lit("delete")).drop(op),
            resolved.filter(col(op) === lit("delete")).select(key))
        case None => (resolved, null)
      }
      val base = m match {
        case Some(mm) => s.read.parquet(s"$tableDir/v${mm.version}")
        case None     => s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row], ups.schema)
      }
      val newVersion = m.map(_.version + 1).getOrElse(0L)
      val merged0 = graft.ops.Layout.upsert(base, ups, key)
      val merged = if (dels == null) merged0
        else merged0.join(dels, Seq(key), "left_anti")
      merged.write.mode("overwrite").parquet(s"$tableDir/v$newVersion")
      commitCdcManifest(s, tableDir,
        CdcManifest(newVersion, streamId, batchId))
      vacuumCdcVersions(s, tableDir, newVersion - (keepVersions - 1))
      true
    }
  }

  /** Delete version directories strictly below `keepFrom` (the VACUUM
    * analog; see [[cdcUpsertStream]]'s retention note).
    */
  private def vacuumCdcVersions(s: SparkSession, tableDir: String,
      keepFrom: Long): Unit = {
    val hfs = org.apache.hadoop.fs.FileSystem
      .get(new java.net.URI(tableDir), s.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(tableDir)
    if (hfs.exists(dir)) {
      hfs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.startsWith("v") &&
            name.drop(1).forall(_.isDigit) && name.drop(1).toLong < keepFrom) {
          hfs.delete(st.getPath, true)
          (): Unit
        }
        // a writer that crashed between manifest create and rename
        // leaves _CURRENT.tmp<v> behind; nothing else ever deletes it
        // (rename consumed the live one), so sweep orphans here
        if (st.isFile && name.startsWith("_CURRENT.tmp")) {
          hfs.delete(st.getPath, false)
          (): Unit
        }
      }
    }
  }

  /** The `_CURRENT` manifest: committed table version, the identity of
    * the stream that committed it, and that stream's last batch id
    * (the idempotence high-water mark — per stream, NOT global).
    */
  case class CdcManifest(version: Long, streamId: String, lastBatch: Long)

  /** Parse `_CURRENT`, if present. */
  def readCdcManifest(s: SparkSession, tableDir: String): Option[CdcManifest] = {
    val hfs = org.apache.hadoop.fs.FileSystem
      .get(new java.net.URI(tableDir), s.sparkContext.hadoopConfiguration)
    val cur = new org.apache.hadoop.fs.Path(tableDir, "_CURRENT")
    if (!hfs.exists(cur)) None
    else {
      val in = hfs.open(cur)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val lines = txt.split("\n", -1).map(_.trim)
      Some(CdcManifest(lines(0).toLong, lines.lift(1).getOrElse(""),
        lines.lift(2).map(_.toLong).getOrElse(-1L)))
    }
  }

  /** The committed table version in `_CURRENT`, if any. */
  def currentCdcVersion(s: SparkSession, tableDir: String): Option[Long] =
    readCdcManifest(s, tableDir).map(_.version)

  /** Atomically re-point `_CURRENT`: write a temp manifest then rename
    * over the old one (rename is the atomic primitive).
    */
  private def commitCdcManifest(s: SparkSession, tableDir: String,
      m: CdcManifest): Unit = {
    val hfs = org.apache.hadoop.fs.FileSystem
      .get(new java.net.URI(tableDir), s.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(tableDir, s"_CURRENT.tmp${m.version}")
    val cur = new org.apache.hadoop.fs.Path(tableDir, "_CURRENT")
    val out = hfs.create(tmp, true)
    try out.write(s"${m.version}\n${m.streamId}\n${m.lastBatch}"
      .getBytes("UTF-8")) finally out.close()
    // FileContext rename + OVERWRITE is the atomic-replace primitive on
    // both HDFS and the local FS (FileSystem.rename won't overwrite)
    org.apache.hadoop.fs.FileContext
      .getFileContext(new java.net.URI(tableDir), s.sparkContext.hadoopConfiguration)
      .rename(tmp, cur, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Read the current committed state of a [[cdcUpsertStream]] table. */
  def readCdcTable(s: SparkSession, tableDir: String): DataFrame =
    currentCdcVersion(s, tableDir) match {
      case Some(v) => s.read.parquet(s"$tableDir/v$v")
      case None =>
        throw new IllegalStateException(s"no committed version in $tableDir")
    }

  /** Build the static bench-side gram index for
    * [[contaminationSpansAtIngest]]: positioned 3-gram hashes of the
    * benchmark docs, persisted — eval-suite-sized, built once per
    * stream lifetime (the q86 ContaminationIndex discipline applied to
    * the positioned space the span measurement needs). `dfCap` is the
    * q143 stop-gram guard ([[graft.ops.TextOps.capBenchGrams]]) —
    * applied HERE, at index build, it bounds per-batch seed fan-out
    * for the stream's whole lifetime at one upfront agg.
    */
  def buildBenchGramIndex(benchDocs: DataFrame,
      dfCap: Long = Long.MaxValue): DataFrame = {
    val idx = graft.ops.TextOps.capBenchGrams(
      graft.ops.TextOps.positionedGrams(benchDocs, "bench_doc", "pos_b"),
      dfCap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    idx.count() // materialize once, eagerly
    idx
  }

  /** Contamination SPANS at ingest — q143's severity measurement
    * (longest verbatim token run vs a benchmark doc) running in the
    * ingest path: per micro-batch, the arriving docs' positioned grams
    * seed against the STATIC bench index and the per-batch report
    * appends. A document arrives whole in one batch and span
    * measurement is a pure function of (train text, bench text), so
    * per-batch reports never split a doc and their union is EXACTLY
    * batch q143 on the same docs — no cross-batch streaming state.
    * The span definition is literally shared
    * ([[graft.ops.TextOps.contaminationSpanCore]]), so the two
    * surfaces cannot diverge. State story at 100 TB/day: zero
    * streaming state; the resident piece is the bounded bench gram
    * index (eval-suite-sized).
    *
    * Delivery contract: the foreachBatch parquet append is
    * AT-LEAST-ONCE — a batch replayed after a failure appends its rows
    * again. `batch_id` is written precisely so readers can dedup
    * (`max_by`/latest-attempt per batch_id), the same caveat documented
    * on [[foreachBatchPartitionedSink]]; "union is EXACTLY batch q143"
    * holds after that per-batch_id dedup.
    *
    * BATCH-LOCAL exact-text contraction (the move that bought the
    * rewrite twin +85% in round 10, applied here): the span report for
    * a (train, bench) pair is a pure function of the two texts, so
    * identical texts arriving in one batch seed ONCE and members
    * inherit the rep's report rows closed-form — exactness unchanged
    * (the union ≡ batch q143 spec pins it). The gram explode + seed
    * join — the batch's dominant cost and the reason this twin trailed
    * every other ingest surface (3.6k docs/s vs 8-12k in
    * STREAM_STRESS_r10) — shrinks by the batch's duplication factor
    * (~2.5× on the 20× dup-heavy stress); on a dup-free stream the
    * overhead is one batch-local md5 groupBy.
    */
  def contaminationSpansAtIngest(docs: DataFrame, benchGrams: DataFrame,
      outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val base = batch.toDF()
          .select(col("doc_id"), col("text"), md5(col("text")).as("ht"))
        val reps = base.groupBy("ht").agg(min("doc_id").as("rep"))
        val membership = base.join(reps, Seq("ht"))
          .select(col("rep").as("train_rep"), col("doc_id").as("train_doc"))
        val repDocs = base.join(
          reps.select(col("rep").as("doc_id")), Seq("doc_id"))
          .select("doc_id", "text")
        val report = graft.ops.TextOps.contaminationSpanCore(
            graft.ops.TextOps.positionedGrams(repDocs, "train_doc", "pos_t"),
            benchGrams)
          .withColumnRenamed("train_doc", "train_rep")
          .join(membership, Seq("train_rep"))
          .select(col("train_doc"), col("bench_doc"), col("n_seeds"),
            col("longest_run"))
          .withColumn("batch_id", lit(batchId))
        // PARALLEL writes, no coalesce(1): the r11 stream-stress read
        // 7.1k docs/s parallel vs 4.9k coalesced at 20× (the
        // single-task reduce side serializes the span agg's tail every
        // batch). For one file per batch, compact afterwards
        // (Layout.compact).
        report.write.mode("append").parquet(outDir)
        (): Unit
      }
      .start()

  /** DECONTAMINATION REWRITE at ingest — q152's intervention running in
    * the ingest path: per micro-batch, arriving docs rewrite through
    * the SAME [[graft.ops.TextOps.decontaminateRewriteCore]] as batch
    * q152, against the static persisted bench gram index
    * ([[buildBenchGramIndex]] — the q143-twin's index, stop-gram knob
    * included). A doc arrives whole in one batch and the rewrite is a
    * pure function of (text, bench index), so per-batch reports union
    * to batch q152 on the same docs exactly — spec-pinned. At
    * 100 TB/day this is decontamination AS ADMISSION CONTROL:
    * benchmark-overlapping spans never land on training storage.
    * Zero streaming state; same at-least-once/batch_id delivery
    * contract as [[contaminationSpansAtIngest]].
    *
    * BATCH-LOCAL exact-text contraction (round 10, the q152/q143
    * contraction applied inside the micro-batch): the rewrite is a
    * pure function of the text, so identical texts arriving in one
    * batch rewrite ONCE and members inherit the row closed-form —
    * exactness unchanged (the spec's union ≡ batch q152 pin covers
    * it). On the 20× dup-heavy ingest stress each batch carries ~2.5
    * copies per doc, so the gram explode + seed join — the batch's
    * dominant cost — shrinks by that factor; on a dup-free stream the
    * overhead is one batch-local md5 groupBy (batch-sized, cheap).
    */
  def decontaminateRewriteAtIngest(docs: DataFrame, benchGrams: DataFrame,
      outDir: String, checkpointDir: String, minRun: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val base = batch.toDF()
          .select(col("doc_id"), col("text"), md5(col("text")).as("ht"))
        val reps = base.groupBy("ht").agg(min("doc_id").as("rep"))
        val membership = base.join(reps, Seq("ht"))
          .select(col("rep"), col("doc_id"))
        val repDocs = base.join(
          reps.select(col("rep").as("doc_id")), Seq("doc_id"))
          .select("doc_id", "text")
        graft.ops.TextOps.decontaminateRewriteCore(repDocs, benchGrams, minRun)
          .withColumnRenamed("doc_id", "rep")
          .join(membership, Seq("rep"))
          .select(col("doc_id"), col("n_tokens"), col("n_kept"),
            col("kept_md5"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
        (): Unit
      }
      .start()

  /** Corpus dHash band index for [[phashMatchAtIngest]] — the q155/q156
    * fingerprint space distilled into persisted lookup frames: the
    * exploded banded form (the probe target), the band-vector form (the
    * verify side), and the per-rep member counts. Built over the
    * corpus' exact-text contraction reps through the SAME
    * [[graft.ops.Multimodal.phashBandsOf]] as batch, so the streaming
    * surface cannot diverge on what a fingerprint is. PERSISTED because
    * a stream-static join re-executes the static subplan every
    * micro-batch. Caller owns the lifecycle (the
    * [[CorpusDedupIndex]] contract).
    */
  final case class MediaPhashIndex(bands: DataFrame, members: DataFrame,
      repCount: Long) {
    def unpersist(): Unit = SessionMemo.unpersist(bands, members)
  }

  def buildMediaPhashIndex(corpus: DataFrame): MediaPhashIndex = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val base = corpus.select(col("doc_id"), col("text"),
      md5(col("text")).as("ht"))
    val reps = base.groupBy("ht")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("members"))
    val repDocs = base.join(reps.select(col("ht"), col("rep")), Seq("ht"))
      .filter(col("doc_id") === col("rep")).select("doc_id", "text")
    // each exploded index row CARRIES the rep's full band vector (9
    // longs per row instead of 3): the per-batch probe join then has
    // everything the verify needs in-row — no join back to a vector
    // table, no per-pair second lookup (restructured after the first
    // cut measured 12-21 s/batch on re-join-shaped plans)
    val bands = graft.ops.Multimodal.phashBandsOf(repDocs)
      .select(col("doc_id").as("rep"), col("bands").as("bb"),
        posexplode(col("bands")).as(Seq("band", "bv")))
      .persist(lvl)
    val members = reps.select(col("rep"), col("members")).persist(lvl)
    bands.count()
    // the materializing count doubles as the measured rep count the
    // per-batch broadcast-vs-shuffle gate decides on
    MediaPhashIndex(bands, members, members.count())
  }

  /** PERCEPTUAL-HASH media near-dup AT INGEST — q155's detection
    * running in the ingest path: per micro-batch, each arriving
    * medium's dHash bands probe the static corpus index (multi-index
    * hashing, q156's candidate shape), exact Hamming verifies, and
    * matches at ≤ `maxHamming` land as (doc_id, match_rep, hamming,
    * members, batch_id) — the admission-control signal that says "this
    * media is a perceptual near-copy of `members` corpus items" before
    * it reaches training storage. A doc arrives whole in one batch and
    * the match set is a pure function of (text, index), so per-batch
    * reports union to the equivalent batch stream-static join exactly
    * — spec-pinned. Zero streaming state; the resident pieces are the
    * three bounded index frames. Same at-least-once/batch_id delivery
    * contract as the other ingest twins.
    */
  def phashMatchAtIngest(docs: DataFrame, index: MediaPhashIndex,
      outDir: String, checkpointDir: String, maxHamming: Int = 7)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // fail at stream START, not inside the first micro-batch
    require(maxHamming >= 0 && maxHamming < graft.ops.Multimodal.BandsN,
      s"phashMatchAtIngest: banded blocking is exact only for " +
        s"0 <= maxHamming <= ${graft.ops.Multimodal.BandsN - 1}, got $maxHamming")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        phashMatchBatch(batch.toDF(), index, maxHamming)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
        (): Unit
      }
      .start()
  }

  /** The per-batch match computation of [[phashMatchAtIngest]] — also
    * the batch-mode equivalence target the spec pins the stream against.
    * The index side is rep-count-sized (corpus-scale): the probe is an
    * equality hash join on (band, value) and the member join is
    * rep-keyed — both size-gated on the index's MEASURED rep count
    * ([[graft.core.BroadcastGate]]): broadcast under its row limit,
    * pinned shuffle hash join above it.
    */
  private[graft] def phashMatchBatch(batch: DataFrame,
      index: MediaPhashIndex, maxHamming: Int): DataFrame = {
    // same pigeonhole exact-recall contract as batch q155: banded
    // blocking only sees every match at hamming <= BandsN-1
    require(maxHamming >= 0 && maxHamming < graft.ops.Multimodal.BandsN,
      s"phashMatchBatch: banded blocking is exact only for " +
        s"0 <= maxHamming <= ${graft.ops.Multimodal.BandsN - 1}, got $maxHamming")
    // FINGERPRINT contraction of the arriving batch (the rewrite
    // twin's in-batch contraction, one level stronger: keyed on the
    // band VECTOR itself, so any arrivals with identical fingerprints
    // — dup texts included — probe ONCE and expand closed-form; the
    // match set is a pure function of the fingerprint). On the 20×
    // dup-heavy ingest the batch's pair space shrinks by the in-batch
    // copy factor before the probe join even runs.
    val fps = graft.ops.Multimodal.phashBandsOf(
      batch.select(col("doc_id"), col("text")))
      .groupBy("bands")
      .agg(min("doc_id").as("fp"), collect_list("doc_id").as("ids"))
    // one probe join (both full band vectors ride the joined rows),
    // map-side verify, then distinct over the ≤ maxHamming SURVIVORS
    // only (a matching pair can collide in up to 8 bands)
    val matches = fps
      .select(col("fp"), col("bands").as("ba"),
        posexplode(col("bands")).as(Seq("band", "bv")))
      // the probe target is corpus-rep-sized: size-gated on the
      // index's measured rep count (broadcast under the limit, pinned
      // shuffle hash join on (band, bv) above it) — the same
      // BroadcastGate choice as batch q155/q156, so no ingest
      // batch can force a corpus-sized broadcast
      .join(graft.core.BroadcastGate(index.bands, index.repCount),
        Seq("band", "bv"))
      .withColumn("hamming", graft.ops.Multimodal.hamExpr)
      .filter(col("hamming") <= lit(maxHamming.toLong))
      .select(col("fp"), col("rep"), col("hamming")).distinct()
    matches
      .join(fps.select(col("fp"), col("ids")), Seq("fp"))
      .select(explode(col("ids")).as("doc_id"), col("rep"), col("hamming"))
      .join(graft.core.BroadcastGate(index.members, index.repCount),
        Seq("rep"))
      .select(col("doc_id"), col("rep").as("match_rep"), col("hamming"),
        col("members"))
  }

  /** Static DSIR ratio table for [[importanceScoreAtIngest]] — q150's
    * corpus model built once per stream lifetime, persisted: ≤ 4096
    * rows (bucket-bounded regardless of corpus size), the q86/q143
    * static-index discipline applied to importance weights.
    */
  def buildDsirRatioTable(s: SparkSession, corpusDir: String): DataFrame = {
    val (_, _, ratios) = graft.ops.TextOps.dsirModel(s, corpusDir)
    val t = ratios.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    t.count() // materialize once, eagerly
    t
  }

  /** DSIR importance SCORING at ingest — q150's per-doc score running
    * in the ingest path against the static ratio table: per
    * micro-batch, arriving docs score through the SAME
    * [[graft.ops.TextOps.dsirScoreDocs]] core as batch q150 (one
    * shared definition — the two surfaces cannot diverge on what a
    * score is), and the per-batch report appends. A doc arrives whole
    * in one batch and the score is a pure function of (text, ratio
    * table), so per-batch reports never split a doc and their union is
    * EXACTLY batch q150's (n_feats, sum_ratio_micro, mean_ratio_micro)
    * columns on the same docs — spec-pinned. The RANK/selected columns
    * are deliberately absent: top-K selection is a property of the
    * accumulated corpus, not of any single batch — the ingest surface
    * scores at wire speed, the batch q150 ranks over what landed.
    * State story at 100 TB/day: zero streaming state; the resident
    * piece is the ≤ 4096-row broadcast ratio table.
    *
    * Delivery contract: at-least-once parquet append, batch_id written
    * for reader-side dedup — [[foreachBatchPartitionedSink]]'s
    * documented discipline.
    */
  def importanceScoreAtIngest(docs: DataFrame, ratios: DataFrame,
      outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.TextOps.dsirScoreDocs(batch.toDF(), ratios)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
        (): Unit
      }
      .start()

  /** STATELESS model inference at ingest — q145's linear quality margin
    * as a pure per-row projection: a document arrives whole in one row,
    * so the hashed-feature margin is an IN-ROW integer fold (transform
    * + aggregate over the token array) — no explode, no join, no
    * aggregation, therefore NO streaming state at any ingest rate. The
    * batch twin (TextOps.q145LinearQualityScore) materializes the same
    * margin through the broadcast-join plan — the right shape when the
    * weight table is learned and large — and the two are EXACTLY equal
    * because every step is integer arithmetic over the same md5-derived
    * buckets (StreamingSpec pins stream ≡ q145 row-for-row). At
    * 100 TB/day this is the quality filter running at wire speed in
    * the ingest path: dropped docs never land on storage.
    */
  def qualityScoreAtIngest(docs: DataFrame): DataFrame =
    withQualityMargin(docs)
      .select(col("doc_id"), col("n_tokens"), col("margin_milli"),
        graft.functions.Round.r6(col("margin_milli").cast("double")
          / col("n_tokens").cast("double")).as("mean_w_milli"),
        when(col("margin_milli") >= 0L, "keep").otherwise("drop")
          .as("label"))

  /** The in-row q145 margin, appended to whatever columns `docs`
    * carries (zero-token docs filtered, as in batch q145) — ONE
    * definition of the margin shared by [[qualityScoreAtIngest]] and
    * [[calibratedAdmitAtIngest]], integer-exact with the batch
    * broadcast-join plan.
    */
  private[graft] def withQualityMargin(docs: DataFrame): DataFrame = {
    val toksC = tokens(col("text"))
    val margin = aggregate(
      transform(toksC,
        t => conv(substring(md5(t), 1, 3), 16, 10).cast("long")
          * lit(2654435761L) % lit(2001L) - lit(1000L)),
      lit(0L), (acc, x) => acc + x)
    docs
      .withColumn("n_tokens", size(toksC).cast("long"))
      .filter(col("n_tokens") > 0L)
      .withColumn("margin_milli", margin)
  }

  /** CALIBRATED ADMISSION at ingest — the decision loop q177's
    * calibration table exists to close (the 17th twin): arriving docs
    * are gated by their WITHIN-SOURCE score rank, not a global
    * threshold (q145's margin is source-biased — one global cut guts
    * some sources and under-prunes others). The per-source thresholds
    * come out of batch q177 via
    * [[graft.ops.TextOps.calibrationThresholds]] (model-sized: one row
    * per source, broadcast); the streamed decision is the pure per-row
    * comparison `margin_milli >= threshold_milli` over the SAME in-row
    * margin as [[qualityScoreAtIngest]] — so the stream's admissions
    * equal the batch table's thresholds applied to the batch margins,
    * spec-pinned tie-inclusive at the decile boundary.
    *
    * A doc from a source the table has never seen gets
    * `threshold_milli = null, admit = false` — a calibrated gate must
    * QUARANTINE traffic it has no calibration for, not pass it;
    * admission of a new source is an explicit recalibration (re-run
    * q177 over the grown corpus), an auditable event.
    *
    * State story at 100 TB/day: zero streaming state — one broadcast
    * hash join against a #sources-row table plus the in-row margin;
    * dropped docs never land on storage.
    */
  def calibratedAdmitAtIngest(docs: DataFrame, thresholds: DataFrame,
      outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        calibratedAdmitBody(batch.toDF(), thresholds)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
        (): Unit
      }
      .start()

  /** The per-batch admission frame of [[calibratedAdmitAtIngest]] —
    * factored out so Explain dumps the real per-batch plan (in-row
    * margin + one broadcast hash join, nothing corpus-sized).
    */
  private[graft] def calibratedAdmitBody(batch: DataFrame,
      thresholds: DataFrame): DataFrame =
    withQualityMargin(batch)
      .join(broadcast(thresholds), Seq("source"), "left_outer")
      .select(col("doc_id"), col("source"), col("margin_milli"),
        col("threshold_milli"),
        (col("threshold_milli").isNotNull &&
          col("margin_milli") >= col("threshold_milli")).as("admit"))

  /** Materialized per-source admission thresholds over the corpus at
    * `corpusDir` — batch q177's calibration table folded to thresholds
    * ([[graft.ops.TextOps.calibrationThresholds]]), persisted eagerly
    * (model-sized) so the per-batch broadcast join never re-runs the
    * corpus-sized calibration chain.
    */
  def buildCalibrationThresholds(s: SparkSession, corpusDir: String,
      keepDeciles: Int = 3): DataFrame = {
    val t = graft.ops.TextOps.calibrationThresholds(
        graft.ops.TextOps.q177ScoreCalibration(s, corpusDir), keepDeciles)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    t.count() // materialize once, eagerly
    t
  }

  /** One KMV sketch emission: current occupancy, theta threshold
    * (kth-smallest hash; NULL while unsaturated) and the distinct
    * estimate — q160's row shape, continuously maintained.
    */
  case class KmvSketchUpdate(source: String, n_kept: Long,
      kth_h: Option[Long], est_distinct: Long)

  /** KMV DISTINCT SKETCH AT INGEST — the streaming twin of batch
    * q160 ([[graft.ops.TextOps.q160KmvDistinct]]): a per-source
    * "distinct 3-gram shingles contributed so far" estimate maintained
    * continuously as documents arrive, emitting the updated sketch
    * summary for every source touched by a micro-batch (Update mode).
    * The monitoring signal a 100 TB/day ingest wants per source:
    * distinct-content growth, dup-count-invariant by construction.
    *
    * Exception to the module's watermark rule, by DESIGN not omission:
    * state carries no timeout because the sketch is the one stateful
    * shape that cannot grow — O(k) longs per source forever (inserts
    * past saturation EVICT the largest; duplicates are no-ops), and
    * source cardinality is a bounded dimension (the fixture's q25/q89
    * contract). Eviction would break the semantics: the sketch over
    * "everything ingested so far" is exactly what the estimate means.
    *
    * One definition of every moving part, shared with batch: the value
    * hash is [[graft.ops.TextOps.kmvHash]], the insert is
    * [[graft.api.TypedPipeline.BottomKDistinct.insert]] (the batch
    * Aggregator's reduce), the estimate is
    * [[graft.ops.TextOps.kmvEstimate]]. Insert-order invariance of the
    * bottom-k set is what makes the final streaming emission ≡ the
    * batch q160 answer over the same documents regardless of batch
    * boundaries — spec-pinned in StreamingSpec.
    */
  def kmvSketchStream(docs: DataFrame, k: Int = graft.ops.TextOps.KmvK)
      : Dataset[KmvSketchUpdate] = {
    require(k >= 1, s"kmvSketchStream: k must be >= 1, got $k")
    val s = docs.sparkSession
    import s.implicits._
    val ins = graft.api.TypedPipeline.BottomKDistinct.insert(k) _
    docs
      .select(col("source"), explode(shingles3(tokens(col("text")))).as("sh"))
      .select(col("source"), graft.ops.TextOps.kmvHash(col("sh")).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Int, List[Long]), KmvSketchUpdate](
        GroupStateTimeout.NoTimeout) {
        (src: String, batch: Iterator[(String, Long)],
            state: GroupState[(Int, List[Long])]) =>
          val buf = batch.foldLeft(state.getOption.getOrElse((0, List.empty[Long]))) {
            case (b, (_, h)) => ins(b, h)
          }
          state.update(buf)
          val (n, desc) = buf
          // buffer is descending; the kth-smallest of a SATURATED
          // sketch is its head
          val kth = if (n >= k) Some(desc.head) else None
          KmvSketchUpdate(src, n.toLong, kth,
            graft.ops.TextOps.kmvEstimate(k, n, kth.getOrElse(1L)))
      }
  }

  /** BPE TOKENIZER METERING AT INGEST — q159's streaming twin: every
    * arriving document is encoded with the TRAINED merge table
    * ([[graft.ops.TextOps.bpeMergeTable]], the driver-held model built
    * once per stream lifetime) through the SAME `bpeEncodeDocs` core
    * as batch q159, emitting the per-doc tokenizer-cost numbers
    * (n_words/n_chars/n_symbols, fertility/compression in exact
    * micro-units) the moment data lands — the metering a
    * budget-gated ingest pipeline reads before admitting a document
    * against a token budget. The expensive step (the greedy merge
    * fold) runs once per DISTINCT word of each batch; the per-doc
    * numbers are pure functions of (text, model), so per-batch
    * outputs union to batch q159 exactly (spec-pinned). Zero
    * streaming state.
    */
  def bpeEncodeAtIngest(docs: DataFrame,
      mergeTable: Array[(String, String, String)], outDir: String,
      checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.TextOps.bpeEncodeDocs(
          batch.toDF().select(col("doc_id"), col("text")), mergeTable)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
        (): Unit
      }
      .start()

  /** ANN SERVING AT INGEST — arriving query vectors (vec_id, embedding)
    * are answered against the PERSISTED IVF index
    * ([[graft.ops.Similarity.ivfIndexTable]], q70's build-once memo —
    * no fit anywhere on the stream path): per batch, integer-metric
    * centroid ranking against the model-sized broadcast centroid
    * table, cosine top-k within the nProbe probed buckets
    * ([[graft.ops.Similarity.probeBatch]] = q48/q70's probe core).
    * This is the retrieval half of a streaming dedup/curation loop:
    * "what does the corpus already have NEAR this arriving item".
    *
    * A query is answered whole in the batch it arrives in and the
    * answer is a pure function of (query, index), so per-batch outputs
    * union to the equivalent batch probe exactly — streaming the
    * corpus' own query set through this twin reproduces q70's frame
    * bit-for-bit (spec-pinned). Zero streaming state; the resident
    * pieces are the two index tables (postings bucketed by centroid, so
    * a probe touches only the probed buckets). Same at-least-once /
    * batch_id delivery contract as the other ingest twins.
    */
  /** Static corpus model for [[semdedupAdmitAtIngest]]: the quantizer's
    * centroid model (driver-held, nCentroids·dims longs) plus the
    * corpus assignment frame persisted with the argmin distance kept —
    * the `base` side of q163's dominance rule, built once per stream
    * lifetime (the q86/q143/phash static-index discipline).
    */
  final case class SemdedupIndex(base: DataFrame,
      cents: Array[Array[Long]], nIters: Long) {
    def unpersist(): Unit = SessionMemo.unpersist(base)
  }

  def buildSemdedupIndex(s: SparkSession, corpusDir: String,
      nCentroids: Int = 8): SemdedupIndex = {
    val (cents, nIters, _) =
      graft.ops.Similarity.quantize(s, corpusDir, nCentroids)
    val base = graft.ops.Similarity.assignWithDist(cents)(
      graft.core.Tables.embeddings(s, corpusDir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count()
    SemdedupIndex(base, cents, nIters)
  }

  /** SEMANTIC ADMISSION CONTROL AT INGEST — q163's streaming twin:
    * every arriving embedding is scored against the EXISTING corpus
    * under the same SemDeDup dominance rule (same cluster, r4-cosine ≥
    * threshold, strictly centroid-closer, ties to the smaller vec_id),
    * and `keep` says whether the arrival adds semantic diversity or is
    * redundant with what the corpus already holds — the decision an
    * ingest pipeline makes BEFORE paying to store/train on the item.
    *
    * The arrival's cluster assignment takes [[graft.ops.Similarity]]'s
    * model-size-gated argmin: a map-side literal `least()` at ≤ 32
    * centroids, a broadcast-centroid-frame window argmin above (the
    * serving geometry, e.g. the stress run's 128 centroids, takes the
    * frame path — a per-batch shuffle of the ARRIVALS only, never the
    * corpus); the dominance join is an equality join on
    * centroid against the persisted corpus frame (corpus-sized — never
    * broadcast; at 100 TB it is the same shuffle-hash shape as batch
    * q163's self-join, with the arrival side small). The score is a
    * pure function of (arrival, corpus), so per-batch outputs union to
    * the batch formulation exactly — streaming the corpus' own vectors
    * reproduces q163's frame bit-for-bit (spec-pinned). Zero streaming
    * state; same at-least-once/batch_id contract as the other twins.
    */
  def semdedupAdmitAtIngest(queries: DataFrame, index: SemdedupIndex,
      outDir: String, checkpointDir: String, threshold: Double = 0.4)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.Similarity.semdedupScore(
          graft.ops.Similarity.assignWithDist(index.cents)(batch.toDF()),
          index.base, index.nIters, threshold)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
        (): Unit
      }
      .start()

  /** √N serving-geometry rule: each probe pays ~nProbe·N/nCentroids
    * exact cosines plus an O(nCentroids) centroid ranking, so the
    * candidate budget is minimized at nCentroids ~ √N — MEASURED at
    * the 20× stress corpus (20k vectors, all streamed as queries): 8
    * centroids = 5k candidates/query = 231 q/s; ~√N centroids = ~300
    * candidates/query = the stress artifact's rate. Floor of 8 keeps
    * tiny fixtures from degenerating to a near-exhaustive scan with a
    * 1-2 centroid model.
    */
  private[graft] def servingCentroids(n: Long): Int =
    math.max(8, math.round(math.sqrt(n.toDouble)).toInt)

  /** The hybrid ANN serving OPERATING POINT, kept in lockstep with the
    * committed decision record (ANN_DECISION.json r16: the pick rule is
    * "fastest geometry clearing the 0.65 recall@10-unique floor" over
    * the (centroids × nProbe) curve, and the pick is 2√N coarse
    * centroids at nProbe 8 with the exact-rescore refine). The
    * STREAM_STRESS hybrid_ann surfaces serve at THIS geometry so the
    * artifact's throughput is the throughput of the configuration the
    * decision record recommends, not of a cheaper one.
    */
  private[graft] def servingOperatingCentroids(n: Long): Int =
    2 * servingCentroids(n)
  private[graft] val ServingOperatingNProbe = 8

  def ivfProbeAtIngest(queries: DataFrame, s: SparkSession,
      corpusDir: String, outDir: String, checkpointDir: String,
      nProbe: Int = 2, k: Int = 3, nCentroids: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // nCentroids ≤ 0 (the default) sizes the serving index from the
    // corpus via [[servingCentroids]] — the r11 stress ran the
    // fixture's 8 on a 20k corpus and paid a quarter-corpus
    // brute-force per query until the geometry was overridden by
    // hand; the default should be the rule, not the fixture. An
    // explicit positive value pins the geometry (the equivalence
    // spec pins the twin against q70's exact frame at the fixture's
    // 8).
    val nc = if (nCentroids > 0) nCentroids
      else servingCentroids(graft.core.Tables.embeddings(s, corpusDir).count())
    val table = graft.ops.Similarity.ivfIndexTable(s, corpusDir, nc)
    // serving pins the postings + centroid tables in memory: a
    // stream-static join re-executes the static subplan every
    // micro-batch, so an uncached index pays the parquet
    // scan+decode of the full postings table per batch — the same
    // rationale as the other twins' persisted index frames
    // (buildSemdedupIndex/buildMediaPhashIndex). cacheTable is
    // idempotent; the memo's DROP TABLE on corpus-version change
    // also evicts the cache entry.
    s.catalog.cacheTable(table)
    s.catalog.cacheTable(table + "_centroids")
    val query = queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.Similarity.probeBatch(s, table, batch.toDF(), nProbe, k)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
        (): Unit
      }
      .start()
    // The pin lives exactly as long as the query it serves: without
    // this, a long-lived session serving several corpus dirs (or a
    // test suite cycling streams) accumulates cached index tables
    // until a corpus-version DROP TABLE happens to fire. Uncache on
    // termination is safe for a shared table too — a concurrent query
    // over the same corpus re-pins on its next batch via its own
    // cacheTable (idempotent), paying one re-materialization.
    val qid = query.id
    s.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          if (e.id == qid) {
            try {
              s.catalog.uncacheTable(table)
              s.catalog.uncacheTable(table + "_centroids")
            } catch { case _: Throwable => () }
            s.streams.removeListener(this)
          }
      })
    query
  }

  /** Static compressed-index model for [[adcProbeAtIngest]]: the
    * corpus postings carrying PQ CODES as the payload (cand_id,
    * centroid, codes — PqM·log2(PqSubK) bits = 8 bytes of codes per
    * vector instead of 256 bytes of floats, which is what makes the
    * serving index memory-resident at corpus scales where the raw
    * postings are not), the model-sized centroid frame, and the
    * driver-held PQ codebooks. Built once per stream lifetime,
    * caller-owned lifecycle (the [[SemdedupIndex]] /
    * [[buildMediaPhashIndex]] contract — unpersist when done).
    */
  final case class PqServingIndex(postings: DataFrame,
      centroids: DataFrame, books: Array[Array[Array[Long]]],
      subDim: Int, nIters: Long) {
    def unpersist(): Unit = SessionMemo.unpersist(postings)
  }

  /** Build the compressed ADC serving index over the corpus at
    * `corpusDir`: coarse quantizer at `nCentroids` (≤ 0 = the √N
    * [[servingCentroids]] rule, the serving default), PQ codebooks
    * from the shared memoized sub-fits, postings = ONE pass over the
    * embeddings computing the coarse assignment and the PQ code array
    * map-side. The persisted frame holds ONLY (cand_id, centroid,
    * codes) — the expensive fit + encode pay once, outside any timed
    * stream, and the float vectors never reach the serving path.
    */
  def buildPqServingIndex(s: SparkSession, corpusDir: String,
      nCentroids: Int = 0): PqServingIndex = {
    val sim = graft.ops.Similarity
    val nc = if (nCentroids > 0) nCentroids
      else servingCentroids(graft.core.Tables.embeddings(s, corpusDir).count())
    val (books, _, subDim) = sim.pqCodebooks(s, corpusDir)
    val (cents, nIters, _) = sim.quantize(s, corpusDir, nc)
    val e = graft.core.Tables.embeddings(s, corpusDir)
      .select(col("vec_id"), sim.microVec(col("embedding")).as("mvec"))
    val postings = sim.withAssignment(e, cents)
      .select(col("vec_id").as("cand_id"), col("centroid"),
        sim.pqCodeArray(books, subDim).as("codes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    postings.count()
    PqServingIndex(postings, sim.centroidFrame(s, cents, nIters),
      books, subDim, nIters)
  }

  /** ANN SERVING AT INGEST OVER THE COMPRESSED INDEX — q169's
    * streaming twin and [[ivfProbeAtIngest]]'s memory-bounded
    * sibling: arriving query vectors (vec_id, embedding) are answered
    * against the PERSISTED PQ postings by ADC ranking — per batch,
    * integer-metric centroid ranking against the model-sized
    * broadcast centroid frame, then within the nProbe probed buckets
    * the codegen'd AdcLookupSum over a per-query map-side LUT
    * ([[graft.ops.Similarity.adcProbeBatch]] = q169's probe core).
    * The trade vs the float-cosine twin is PQ's: ~32× smaller
    * resident index (8 code bytes vs 256 float bytes per vector), ADC
    * lookups instead of float dot products, recall bounded by
    * codebook resolution (measured in SimilaritySpec).
    *
    * A query is answered whole in the batch it arrives in and the
    * answer is a pure function of (query, index), so per-batch
    * outputs union to the batch probe exactly — streaming the
    * corpus' own query set reproduces q169's frame bit-for-bit at
    * matching geometry (spec-pinned, the q70-twin discipline). Zero
    * streaming state; same at-least-once/batch_id contract as the
    * other twins.
    */
  def adcProbeAtIngest(queries: DataFrame, index: PqServingIndex,
      outDir: String, checkpointDir: String, nProbe: Int = 2, k: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.Similarity.adcProbeBatch(batch.toDF(), index.postings,
            index.centroids, index.books, index.subDim, index.nIters,
            nProbe, k)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
        (): Unit
      }
      .start()

  /** Build the hybrid (lexical ⊕ dense) serving index over the corpus
    * at `corpusDir` and MATERIALIZE the persisted pieces outside any
    * timed stream — the [[buildPqServingIndex]] contract: built fresh
    * (not the batch memo, so the caller's unpersist cannot strand
    * q172's session cache), caller-owned lifecycle.
    */
  def buildHybridServingIndex(s: SparkSession, corpusDir: String)
      : graft.ops.Similarity.HybridIndex = {
    val idx = graft.ops.Similarity.buildHybridIndex(s, corpusDir)
    idx.postings.count()
    idx.dfTable.count()
    idx
  }

  /** Driver-held coreset drift model for [[coresetAssignAtIngest]]:
    * q171's k exemplars (micro-unit vectors) plus the fit-time
    * coverage radius — k·dims longs, the whole serving state. Built
    * from the memoized fit, so q171/q173 and the twin share one model
    * per (session, corpus, k).
    */
  final case class CoresetModel(
      centers: Vector[(Long, Long, Option[Long], Array[Long])],
      radius: Long)

  def buildCoresetModel(s: SparkSession, corpusDir: String, k: Int = 6)
      : CoresetModel = {
    val (centers, radius) = graft.ops.Similarity.kcenterFit(s, corpusDir, k)
    CoresetModel(centers, radius)
  }

  /** CORESET COVERAGE-DRIFT MONITOR AT INGEST — q173's streaming twin:
    * every arriving vector is labeled with its nearest coreset
    * exemplar, the exact-integer distance, and `novel` = distance
    * beyond the fit-time coverage radius — the "new region" signal a
    * curation pipeline watches to decide when the exemplar set needs
    * re-fitting. Pure map pass per batch (the k-vector model rides as
    * literals — no join, no shuffle, no state), so per-batch outputs
    * union to the batch run exactly: streaming the training corpus
    * reproduces q173's frame bit-for-bit with `novel` all-false by
    * construction, and a genuinely out-of-coverage arrival flags true
    * (both spec-pinned). Same at-least-once/batch_id contract as the
    * other twins.
    */
  def coresetAssignAtIngest(queries: DataFrame, model: CoresetModel,
      outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.Similarity.coresetAssignBatch(batch.toDF(),
            model.centers, model.radius)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
        (): Unit
      }
      .start()

  /** HYBRID RETRIEVAL AT INGEST — q172's streaming twin: arriving
    * queries (query_id, text, embedding) are answered per micro-batch
    * by the SAME per-query core q172 runs
    * ([[graft.ops.Similarity.hybridQueryCore]]): the query's rarest
    * `mTerms` terms retrieve from the persisted full-vocabulary BM25
    * postings, the embedding ranks exact-cosine against the dense
    * corpus side, and the two lists fuse by integer reciprocal-rank
    * fusion. Either modality may be absent on an arriving query
    * (null text / null embedding) — the fusion's absent-list-0
    * semantics answer from the other list alone, which is the
    * degraded-mode behavior a serving tier actually wants.
    *
    * A query is answered whole in its batch and the answer is a pure
    * function of (query, index), so per-batch outputs union to the
    * batch run exactly — streaming q172's own query set reproduces
    * its oracle-gated frame bit-for-bit (spec-pinned, the q70-twin
    * discipline). Zero streaming state; same at-least-once/batch_id
    * contract as the other twins.
    */
  def hybridRrfAtIngest(queries: DataFrame,
      index: graft.ops.Similarity.HybridIndex, outDir: String,
      checkpointDir: String, mTerms: Int = 8, kList: Int = 12,
      kOut: Int = 10, kRrf: Int = 60)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.Similarity.hybridQueryCore(batch.toDF(), index,
            mTerms, kList, kOut, kRrf)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
        (): Unit
      }
      .start()

  /** ANN-BACKED HYBRID RETRIEVAL AT INGEST — q174's streaming twin and
    * the scale-true form of [[hybridRrfAtIngest]]: the lexical side is
    * unchanged (rarest-`mTerms` BM25 against the persisted
    * full-vocabulary postings), but the dense list comes from the
    * COMPRESSED ADC serving index ([[PqServingIndex]] — √N coarse
    * buckets, 8-byte PQ codes) instead of an exact cosine scan of the
    * corpus per micro-batch. Per arriving query the dense cost is
    * nProbe posting buckets of codegen'd ADC lookups; the corpus is
    * NEVER rescanned, which is what lets this surface serve against a
    * 100 TB corpus (the exact twin stays as the recall baseline and
    * batch-eval tier). Fusion is the SAME [[graft.ops.Similarity
    * .hybridFuseCore]] integer RRF — the tiers differ only in the
    * dense list (fusion identity spec-pinned in HybridSpec), and
    * recall of the fused answer vs the exact twin is measured there.
    *
    * A query is answered whole in its batch and the answer is a pure
    * function of (query, indexes), so per-batch outputs union to the
    * batch run exactly — streaming q174's own query set reproduces its
    * oracle-gated frame bit-for-bit at matching geometry
    * (spec-pinned, the q70-twin discipline). Zero streaming state;
    * same at-least-once/batch_id contract as the other twins.
    */
  /** Mutable contracted-rep-graph state for
    * [[pagerankMaintainAtIngest]] — the batch PageRank's persisted
    * loop invariants ([[graft.ops.Dedup.q147PagerankConverged]]'s
    * `pagerankGraph`) promoted to MAINTAINED state: per distinct text
    * the (content hash → rep, copies) table, corpus membership, the
    * rep-level LSH signatures and distinct-token sets (what an
    * arriving document is blocked and verified against), and the
    * verified symmetric rep edge set. Every update eagerly checkpoints
    * the new generation and unpersists the old (the q171
    * one-generation discipline), so per-batch lineage stays flat over
    * an unbounded stream. In-memory + caller-owned like the other
    * serving indexes; recovery after a driver restart is rebuild
    * (corpus) + replay, and [[RepGraphState.lastBatch]] /
    * [[RepGraphState.lastWritten]] make same-run foreachBatch retries
    * idempotent at BOTH failure points — a replayed batch must not
    * double-count copies, and a batch whose rank write failed must
    * redo the write (separate guards; the write overwrites its own
    * batch_id partition, so partial appends cannot survive).
    */
  final class RepGraphState private[streaming] (
      private[streaming] var repsByHash: DataFrame,
      private[graft] var membership: DataFrame,
      private[streaming] var repSigs: DataFrame,
      private[streaming] var repToks: DataFrame,
      private[graft] var redges: DataFrame,
      private[graft] var nDocs: Long,
      private[graft] var lastBatch: Long = -1L,
      private[graft] var lastWritten: Long = -1L) {
    private[streaming] def swapAll(newReps: DataFrame, newMem: DataFrame,
        newSigs: DataFrame, newToks: DataFrame, newEdges: DataFrame,
        added: Long): Unit = {
      val fresh = Seq(newReps, newMem, newSigs, newToks, newEdges)
        .map(_.localCheckpoint(true))
      unpersist()
      repsByHash = fresh(0); membership = fresh(1); repSigs = fresh(2)
      repToks = fresh(3); redges = fresh(4)
      nDocs += added
    }
    def unpersist(): Unit =
      SessionMemo.unpersist(repsByHash, membership, repSigs, repToks, redges)
  }

  /** Build [[RepGraphState]] over the corpus at `corpusDir` — the
    * same contraction (min-id rep per md5(text), copy counts), the
    * same LSH banding ([[graft.ops.Dedup.signaturesFor]], the batch
    * memo's own body) and the same exact-Jaccard 0.6 verify as the
    * batch graph, built fresh so the caller owns the lifecycle
    * (the [[buildPqServingIndex]] contract).
    */
  def buildRepGraphState(s: SparkSession, corpusDir: String): RepGraphState = {
    val dedup = graft.ops.Dedup
    val base = graft.core.Tables.documents(s, corpusDir)
      .select(col("doc_id"), col("text"), md5(col("text")).as("h"))
    val repsByHash = base.groupBy("h")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("copies"))
    val membership = base
      .join(repsByHash.select("h", "rep"), Seq("h"))
      .select("doc_id", "rep")
    val repDocs = base
      .join(repsByHash.select(col("rep").as("doc_id")), Seq("doc_id"))
      .select(col("doc_id").as("rep"), col("text"))
    val repSigs = dedup.signaturesFor(
        repDocs.select(col("rep").as("doc_id"), col("text")))
      .select(col("doc_id").as("rep"), col("band"), col("sig"))
    val repToks = repDocs.select(col("rep"),
      array_distinct(tokens(col("text"))).as("toks"))
    val cands = repSigs.select(col("rep").as("rep_a"), col("band"), col("sig"))
      .join(repSigs.select(col("rep").as("rep_b"), col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("rep_a") < col("rep_b"))
      .select(col("rep_a").as("doc_a"), col("rep_b").as("doc_b"))
      .distinct()
    val verified = dedup.verifyJaccardPairs(cands,
        repToks.select(col("rep").as("doc_id"), col("toks")), 0.6)
      .select("doc_a", "doc_b")
    val redges = dedup.symmetrizeEdges(verified)
    val st = new RepGraphState(
      repsByHash.localCheckpoint(true), membership.localCheckpoint(true),
      repSigs.localCheckpoint(true), repToks.localCheckpoint(true),
      redges.localCheckpoint(true), 0L)
    st.nDocs = st.membership.count()
    st
  }

  /** Apply one arriving micro-batch of (doc_id, text) documents to the
    * maintained rep graph as a DELTA — the incremental half of
    * [[pagerankMaintainAtIngest]]:
    *
    *  - arriving docs join the hash table: existing texts increment
    *    `copies`; genuinely new texts mint new reps (min batch id);
    *  - a doc with a SMALLER id than its group's current rep RELABELS
    *    the rep (the contraction is min-id over ALL arrived docs —
    *    equality with the batch fold demands it); relabels are a tiny
    *    broadcast rename over the rep-keyed frames, and skip entirely
    *    on the monotone-id common case;
    *  - candidate pairs are generated ONLY for new reps (their
    *    signatures against the full signature store): LSH candidacy
    *    and exact Jaccard are pure pairwise functions of the two
    *    texts, so no arrival can change a decided old-pair — the
    *    property that makes the per-batch cost batch-sized, not
    *    corpus-sized;
    *  - new pairs verify through the ONE shared exact-Jaccard body
    *    ([[graft.ops.Dedup.verifyJaccardPairs]]) and their symmetric
    *    edges append.
    *
    * Returns the number of docs applied.
    */
  private[graft] def updateRepGraph(state: RepGraphState,
      batch: DataFrame): Long = {
    val dedup = graft.ops.Dedup
    val b = batch.select(col("doc_id"), col("text"), md5(col("text")).as("h"))
      .localCheckpoint(true)
    val added = b.count()
    if (added == 0) { SessionMemo.unpersist(b); return 0L }
    val bAgg = b.groupBy("h")
      .agg(min("doc_id").as("bmin"), count(lit(1)).as("bcnt"))
      .localCheckpoint(true)
    val relabels = bAgg.join(state.repsByHash, Seq("h"))
      .filter(col("bmin") < col("rep"))
      .select(col("rep").as("old_rep"), col("bmin").as("new_rep"))
      .localCheckpoint(true)
    val nRelabels = relabels.count()
    def relabel(df: DataFrame, cols: Seq[String]): DataFrame =
      if (nRelabels == 0) df
      else cols.foldLeft(df) { (acc, c) =>
        acc.join(broadcast(relabels), acc(c) === relabels("old_rep"), "left")
          .withColumn(c, coalesce(col("new_rep"), col(c)))
          .drop("old_rep", "new_rep")
      }
    val newHashes = bAgg.join(state.repsByHash, Seq("h"), "left_anti")
      .select(col("h"), col("bmin").as("rep"), col("bcnt").as("copies"))
    val updatedReps = state.repsByHash.join(bAgg, Seq("h"), "left")
      .select(col("h"),
        least(col("rep"), coalesce(col("bmin"), col("rep"))).as("rep"),
        (col("copies") + coalesce(col("bcnt"), lit(0L))).as("copies"))
      .unionByName(newHashes)
    val memUpdated = relabel(state.membership, Seq("rep"))
      .unionByName(b.join(updatedReps.select("h", "rep"), Seq("h"))
        .select("doc_id", "rep"))
    val newRepDocs = b
      .join(newHashes.select(col("h"), col("rep")), Seq("h"))
      .filter(col("doc_id") === col("rep"))
      .select(col("rep"), col("text"))
    val newSigs = dedup.signaturesFor(
        newRepDocs.select(col("rep").as("doc_id"), col("text")))
      .select(col("doc_id").as("rep"), col("band"), col("sig"))
    val newToks = newRepDocs.select(col("rep"),
      array_distinct(tokens(col("text"))).as("toks"))
    val allSigs = relabel(state.repSigs, Seq("rep")).unionByName(newSigs)
    val allToks = relabel(state.repToks, Seq("rep")).unionByName(newToks)
    val verified = deltaEdges(newSigs, allSigs, allToks)
    val edgesAll = relabel(state.redges, Seq("doc_a", "doc_b"))
      .unionByName(dedup.symmetrizeEdges(verified))
    state.swapAll(updatedReps, memUpdated, allSigs, allToks, edgesAll, added)
    SessionMemo.unpersist(b, bAgg, relabels)
    added
  }

  /** The delta's candidate-generate + verify body, shared by the live
    * update and the Explain plan artifact: new-rep signatures against
    * the FULL signature store (batch-sized build side — LSH candidacy
    * and exact Jaccard are pairwise, so only pairs touching a new rep
    * can change), verified through the ONE shared exact-Jaccard body.
    */
  private[graft] def deltaEdges(newSigs: DataFrame, allSigs: DataFrame,
      allToks: DataFrame): DataFrame = {
    val cands = newSigs.select(col("rep").as("rep_n"), col("band"), col("sig"))
      .join(allSigs.select(col("rep").as("rep_o"), col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("rep_n") =!= col("rep_o"))
      .select(least(col("rep_n"), col("rep_o")).as("doc_a"),
        greatest(col("rep_n"), col("rep_o")).as("doc_b"))
      .distinct()
    graft.ops.Dedup.verifyJaccardPairs(cands,
        allToks.select(col("rep").as("doc_id"), col("toks")), 0.6)
      .select("doc_a", "doc_b")
  }

  /** The per-batch delta body LAZILY over a hypothetical batch — the
    * Explain artifact's view of what [[updateRepGraph]] runs per
    * micro-batch (no state mutation, no checkpoints, no relabel arm):
    * plan review for the candidate-join shape at scale.
    */
  private[graft] def maintainDeltaBody(state: RepGraphState,
      batch: DataFrame): DataFrame = {
    val dedup = graft.ops.Dedup
    val b = batch.select(col("doc_id"), col("text"), md5(col("text")).as("h"))
    val newHashes = b.groupBy("h").agg(min("doc_id").as("bmin"))
      .join(state.repsByHash, Seq("h"), "left_anti")
      .select(col("h"), col("bmin").as("rep"))
    val newRepDocs = b.join(newHashes, Seq("h"))
      .filter(col("doc_id") === col("rep"))
      .select(col("rep"), col("text"))
    val newSigs = dedup.signaturesFor(
        newRepDocs.select(col("rep").as("doc_id"), col("text")))
      .select(col("doc_id").as("rep"), col("band"), col("sig"))
    val newToks = newRepDocs.select(col("rep"),
      array_distinct(tokens(col("text"))).as("toks"))
    deltaEdges(newSigs, state.repSigs.unionByName(newSigs),
      state.repToks.unionByName(newToks))
  }

  /** The batch residual-stop power iteration run VERBATIM over the
    * maintained graph (same uniform init, same integer
    * [[graft.ops.Dedup.pagerankRepStep]], same tol = p0/tolDiv stop,
    * same doc-level expansion), so the stream-maintained ranks are
    * bit-equal to q147 over the arrived corpus — including `n_iters`,
    * because the iterate sequence is exact-integer deterministic.
    * Returns the doc-level frame plus a cleanup handle for the
    * per-batch scratch checkpoints.
    */
  private def convergedDocRanks(state: RepGraphState, tolDiv: Long,
      maxIters: Int): (DataFrame, () => Unit) = {
    val Scale = 1000000000000L
    val n = state.nDocs
    val base = (Scale * 15L / 100L) / n
    val p0 = Scale / n
    val tol = p0 / tolDiv
    val scratch = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val copies = state.repsByHash.select(col("rep"), col("copies"))
    val nbr = state.redges
      .join(copies.select(col("rep").as("doc_b"), col("copies").as("cb")),
        Seq("doc_b"))
      .groupBy(col("doc_a").as("rep"))
      .agg(sum("cb").as("nbr_copies"))
    val repInfo = copies.join(nbr, Seq("rep"), "left")
      .select(col("rep"), col("copies"),
        (coalesce(col("nbr_copies"), lit(0L)) + col("copies") - lit(1L))
          .as("deg"))
      .localCheckpoint(true)
    scratch += repInfo
    // prCk is the checkpoint frame behind pr: a projection of a
    // checkpoint does not release it
    var prCk = repInfo.select(col("rep"), lit(p0).as("pr"))
      .localCheckpoint(true)
    var pr = prCk
    var it = 0
    var resid = Long.MaxValue
    while (it < maxIters && resid > tol) {
      val next = graft.ops.Dedup
        .pagerankRepStep(pr, state.redges, repInfo, base)
        .localCheckpoint(true)
      resid = next.agg(max(abs(col("pr") - col("prev"))).as("r"))
        .head().getLong(0)
      SessionMemo.unpersist(prCk)
      prCk = next
      pr = next.select("rep", "pr")
      it += 1
    }
    scratch += prCk
    val out = state.membership
      .join(pr.join(repInfo.select("rep", "deg"), Seq("rep")), Seq("rep"))
      .select(col("doc_id"), col("deg").as("degree"),
        col("pr").as("pr_mass"), lit(it.toLong).as("n_iters"))
    (out, () => SessionMemo.unpersist(scratch.toSeq: _*))
  }

  /** INCREMENTAL GRAPH MAINTENANCE AT INGEST — the streaming twin of
    * the batch link-analysis kernel (q137/q147): documents arrive in
    * micro-batches, the contracted near-dup rep graph is maintained as
    * a per-batch DELTA ([[updateRepGraph]] — new-rep-only candidate
    * generation, shared exact-Jaccard verify, broadcast relabels), and
    * the residual-stop power iteration re-runs over the MAINTAINED
    * graph after each batch — rep-graph-sized work, thousands of rows
    * where the member graph is millions. Spec-pinned
    * (StreamingSpec): after every batch the written ranks are
    * BIT-EQUAL to `q147PagerankConverged` over the union of arrived
    * documents, n_iters included.
    *
    * Scale shape per batch at 100 TB: candidate generation is (batch
    * signatures ⋈ signature store) — batch-sized build side against
    * the bucket-partitioned store, never a corpus self-join; verify
    * touches only pairs involving an arriving rep; the rank fold is
    * rep-graph-sized. The corpus-sized pieces (membership, the
    * doc-level expansion written per batch) are one keyed join each —
    * a production deployment would back membership with a table
    * ([[cdcUpsertStream]]'s Layout) and materialize the doc-level
    * expansion on demand instead of per batch; the rep-level model IS
    * the maintained artifact.
    */
  def pagerankMaintainAtIngest(docs: DataFrame, state: RepGraphState,
      outDir: String, checkpointDir: String, tolDiv: Long = 10L,
      maxIters: Int = 12)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        maintainBatch(state, batch.toDF(), batchId, outDir, tolDiv, maxIters)
      }
      .start()

  /** One [[pagerankMaintainAtIngest]] micro-batch — idempotent under
    * foreachBatch's at-least-once retries, with the graph update and
    * the rank write guarded SEPARATELY: a replayed batch must not
    * double-count copies (`lastBatch`), but a batch whose graph update
    * succeeded and whose WRITE failed must redo the write on replay
    * (`lastWritten`) — one shared guard advanced before the write
    * would skip the replay and permanently drop that batch's ranks.
    * The write itself is idempotent per batch: dynamic partition
    * overwrite on batch_id replaces any partial append the failed
    * attempt left behind.
    */
  private[graft] def maintainBatch(state: RepGraphState, batch: DataFrame,
      batchId: Long, outDir: String, tolDiv: Long, maxIters: Int): Unit = {
    if (batchId > state.lastBatch) {
      updateRepGraph(state, batch)
      state.lastBatch = batchId
    }
    if (batchId > state.lastWritten && state.nDocs > 0) {
      val (ranks, cleanup) = convergedDocRanks(state, tolDiv, maxIters)
      try {
        ranks.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
        state.lastWritten = batchId
      } finally cleanup()
    }
  }

  def hybridAnnAtIngest(queries: DataFrame,
      index: graft.ops.Similarity.HybridIndex, pq: PqServingIndex,
      outDir: String, checkpointDir: String, mTerms: Int = 8,
      kList: Int = 12, kOut: Int = 10, kRrf: Int = 60, nProbe: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val b = batch.toDF()
        // the refined serving tier (ADC over-fetch + exact rescore on
        // the index's corpus vectors) — identical to batch q174's, so
        // the union-equals-batch spec stays a structural identity
        val den = graft.ops.Similarity.annDenseListRefined(b, pq.postings,
          pq.centroids, pq.books, pq.subDim, nProbe, index.corpus, kList)
        graft.ops.Similarity.hybridFuseCore(b, index, den,
            mTerms, kList, kOut, kRrf)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
        (): Unit
      }
      .start()
}
