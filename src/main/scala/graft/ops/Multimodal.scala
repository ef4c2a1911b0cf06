package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{BroadcastGate, SessionMemo, Tables}

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata.
  *
  * The fixtures carry no real image/audio bytes, so the payload here is
  * the UTF-8 encoding of `documents.text` — the POINT is the Spark-side
  * plumbing (binary columns, metadata extraction, batch-shaped
  * per-partition decode), which is real and tested. The actual media
  * decode is a clearly-marked deterministic stub (this container has no
  * image/audio libraries).
  */
object Multimodal {

  /** Binary payload + SQL-derivable metadata: byte length, content hash,
    * and fake decoded dimensions derived deterministically from the
    * payload (stands in for width/height of a decoded image).
    */
  def q50BinaryMeta(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        sha2(col("payload"), 256).as("sha256"),
        (octet_length(col("payload")) % 640).cast("long").as("fake_width"),
        (col("doc_id") * 7 % 480).cast("long").as("fake_height"))
      .orderBy("doc_id")

  /** Frame sampling: every `step`-th frame index per media payload —
    * the pre-processing pass that turns video into a bounded set of
    * frames for feature extraction. Generation (explode of a sequence)
    * keeps it distributed and shuffle-free; the frame COUNT comes from
    * the same deterministic stub arithmetic as [[decodeBatch]]
    * (1 + n_bytes % 16), so the sampling plumbing is oracle-gated even
    * though the decode itself is stubbed. A real pipeline feeds
    * frame_idx into the per-partition decoder to seek+extract.
    */
  def q68FrameSample(s: SparkSession, d: String, step: Int = 4): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        (lit(1) + octet_length(col("payload")) % 16).cast("long").as("n_frames"))
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0L), col("n_frames") - 1L, lit(step.toLong))).as("frame_idx"))
      .withColumn("sample_ord", expr(s"frame_idx div $step"))
      .orderBy("doc_id", "frame_idx")

  /** Per-FRAME feature extraction + per-media pooling — the shape of
    * every video/audio feature pipeline (decode → per-frame features →
    * clip-level pooling): sampled frame indices from the q68 arithmetic
    * (same stub frame count, same stride — keep in lockstep), a
    * deterministic per-frame stub "brightness" (integer arithmetic on
    * (doc_id, frame_idx, n_bytes) standing in for the decoded pixel
    * statistic), then per-media min/max/mean pooling with the mean as
    * an exact integer ratio. The frame fan-out collapses map-side
    * (partial agg) before the doc-keyed shuffle, so the exchanged rows
    * are media-sized, not frame-sized — at 100 TB of video that is the
    * difference between shuffling clips and shuffling frames.
    */
  def q114FrameFeatures(s: SparkSession, d: String, step: Int = 4): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
      .withColumn("n_frames", lit(1L) + col("n_bytes") % 16)
      .select(col("doc_id"), col("n_bytes"), col("n_frames"),
        explode(sequence(lit(0L), col("n_frames") - 1L, lit(step.toLong))).as("frame_idx"))
      .withColumn("brightness",
        (col("doc_id") * 31L + col("frame_idx") * 17L + col("n_bytes")) % 256L)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_frames_sampled"),
        min("brightness").as("min_brightness"),
        max("brightness").as("max_brightness"),
        graft.functions.Round.r4(
          sum("brightness").cast("double") / count(lit(1))).as("mean_brightness"))
      .orderBy("doc_id")

  /** PERCEPTUAL-HASH media near-dup (q155) — dHash over the binary
    * payload column, banded for scale: the q33 SimHash move (banded
    * Hamming blocking, never all-pairs) applied to MEDIA bytes, which
    * closes the multimodal family's dedup gap (re-encoded or
    * lightly-edited media shares a perceptual fingerprint even when
    * sha256 differs — q30's exact hash can't see it).
    *
    * The dHash pipeline is structurally the real thing:
    *  1. DECODE/RESIZE (stub): fold the payload bytes into an 8×9
    *     "grayscale grid" — cell i sums bytes at positions ≡ i
    *     (mod 72). A real pipeline swaps this fold for
    *     decode+grayscale+resize(9×8); everything downstream is
    *     unchanged. Deterministic byte arithmetic (hex-pair parse, the
    *     q67 engine-portable idiom) so the DuckDB oracle replays it.
    *  2. GRADIENT BITS: per row r, bit c = [cell(r,c+1) > cell(r,c)]
    *     — 8 row-adjacent comparisons × 8 rows = the 64-bit dHash,
    *     carried as 8 one-byte BAND values (b0..b7; a single BIGINT
    *     would need the sign bit, which DuckDB refuses to shift into).
    *  3. BANDED BLOCKING: candidates from an equality join on
    *     (band, value). Pigeonhole gives EXACT recall at the gated
    *     threshold: hamming ≤ 7 over 8 bands forces ≥ 1 identical
    *     band, so unlike the probabilistic q31/q33 recall this blocking
    *     loses nothing.
    *  4. VERIFY: hamming = Σ_band bit_count(xor) on candidates only;
    *     keep pairs ≤ `maxHamming`.
    *
    * Dup-heavy scale shape: payload is a pure function of the text, so
    * the exact-text contraction applies (q148's discipline, shared
    * memo) — signatures are computed once per DISTINCT payload, pairs
    * are emitted at REP level with member counts (the q31 oracle's
    * members_a/members_b design), and the 20× stress corpus costs the
    * same as sf0.1 plus one closed-form self-row per dup group. The
    * byte explode is the decode pass itself — corpus-linear, folded by
    * a map-side partial agg into ≤ 72 rows per doc before any
    * exchange.
    */
  // dHash band-vector memo per (session, dir, corpus fingerprint): the
  // decode fold + grid build run once per corpus, every q155 call (and
  // the bench's warm+timed protocol) probes the persisted
  // rep-count-sized frame
  private val phashMemo = SessionMemo[(DataFrame, Long)](
    "phash-index", "documents") { case (df, _) => SessionMemo.unpersist(df) }

  private[graft] val BandsN = 8

  /** dHash band vectors of a (doc_id, text) frame — (doc_id,
    * bands: array&lt;long&gt;[8]) — the pure pipeline (decode fold →
    * grid → gradient bits; steps 1-2 of the q155 scaladoc), as ONE
    * zero-shuffle map pass over the codegen'd
    * [[graft.functions.expressions.DHashBands]] (see its scaladoc for
    * why the fold+bits are FUSED: both the hex-explode formulation —
    * a corpus×bytes row explosion — and the composed
    * fold-then-compare form — CollapseProject re-inlining the fold
    * 128× per row — measured 12-16 s per ingest micro-batch where the
    * fused expression is microseconds per document). Shared by the
    * memoized corpus index, q156's probe queries, and the streaming
    * ingest twin, so no two surfaces can disagree on what a
    * fingerprint is.
    */
  private[graft] def phashBandsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.expressions.MediaExpressions
        .dhashBands(encode(col("text"), "UTF-8")).as("bands"))

  /** The memoized, persisted CORPUS band index over the exact-text
    * contraction reps — materialized once per (session, dir,
    * fingerprint): the frame feeds four plan branches in q155 (both
    * blocking-join sides + both verify sides) and every q156 probe,
    * and without truncation each branch re-runs the whole byte-decode
    * lineage — measured 4× the decode pass, ~8 s of q155's first-cut
    * 7.5 s at sf0.1. Rep-count × 9 longs — trivially resident at any
    * scale where the rep set itself is manageable.
    */
  private[graft] def phashIndex(s: SparkSession, d: String): (DataFrame, Long) =
    phashMemo(s, d) {
      val (repDocs, _) = TextOps.textContraction(s, d)
      val f = phashBandsOf(repDocs.select(col("doc_id"), col("text")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the materializing count doubles as the measured size the
      // broadcast-vs-shuffle gate ([[BroadcastGate]]) decides on
      (f, f.count())
    }

  /** Unrolled 8-term Hamming distance between band-vector columns `ba`
    * and `bb` — one map-side codegen'd expression, no per-band join.
    * Shared with the streaming ingest twin.
    */
  private[graft] def hamExpr: org.apache.spark.sql.Column =
    (0 until BandsN).map { r =>
      bit_count(element_at(col("ba"), r + 1)
        .bitwiseXOR(element_at(col("bb"), r + 1)))
    }.reduce(_ + _).cast("long")

  /** Verified rep-level near-dup pairs (doc_a &lt; doc_b, hamming ≤
    * `maxHamming`) over the memoized band index — the blocking join +
    * map-side verify shared by q155 (which attaches member counts) and
    * the cross-modal q157 (which expands members and reconciles against
    * the embedding near-dup graph). One definition, so the two surfaces
    * cannot diverge on what a media near-dup is.
    *
    * bands twice: EXPLODED for the blocking join, as an ARRAY column
    * for the verify — so a candidate pair verifies with one map-side
    * unrolled 8-term bit_count instead of an 8-row join+agg. Verify
    * runs BEFORE distinct (the q101 regime rule: band-collision
    * multiplicity here is ~1.04 — 938k occurrences vs 904k pairs at
    * sf0.1 — so a pre-verify distinct shuffles the whole candidate
    * space to save almost nothing, while ham ≤ 7 survivors are a few
    * hundred rows); the band-vector frames are rep-count-sized and,
    * under the measured-size gate, broadcast — candidates then never
    * shuffle at all. Above the gate every join degrades to a pinned
    * shuffle hash join on its equality keys.
    */
  private[graft] def phashRepPairs(s: SparkSession, d: String,
      maxHamming: Int): DataFrame = {
    // the banded blocking's EXACT-recall guarantee is the pigeonhole
    // over BandsN one-byte bands: hamming <= BandsN-1 forces >= 1
    // identical band. A larger threshold would silently under-recall
    // while the scaladoc promises exactness — refuse it loudly.
    require(maxHamming >= 0 && maxHamming < BandsN,
      s"phashRepPairs: banded blocking is exact only for " +
        s"0 <= maxHamming <= ${BandsN - 1}, got $maxHamming")
    val (bandVec, reps) = phashIndex(s, d)
    val bands = bandVec
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bv")))
    bands
      .select(col("doc_id").as("doc_a"), col("band"), col("bv"))
      // the blocking join's build side is the rep-count-sized band
      // frame — size-gated ([[BroadcastGate]]): broadcast under the
      // measured rep limit so the candidate space is generated
      // map-side (and the strategy can't flip on a size misestimate),
      // shuffle hash join on (band, bv) above it
      .join(BroadcastGate(bands.select(col("doc_id").as("doc_b"),
        col("band"), col("bv")), reps), Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .join(BroadcastGate(bandVec.select(col("doc_id").as("doc_a"),
        col("bands").as("ba")), reps), Seq("doc_a"))
      .join(BroadcastGate(bandVec.select(col("doc_id").as("doc_b"),
        col("bands").as("bb")), reps), Seq("doc_b"))
      .withColumn("hamming", hamExpr)
      .filter(col("hamming") <= lit(maxHamming.toLong))
      .select("doc_a", "doc_b", "hamming")
      .distinct()
  }

  def q155PhashNearDup(s: SparkSession, d: String, maxHamming: Int = 7)
      : DataFrame = {
    val (repDocs, _) = TextOps.textContraction(s, d)
    val hx = repDocs.select(col("doc_id"), col("copies"))
    val ham = phashRepPairs(s, d, maxHamming)
    val members = hx
    val crossRows = ham
      .join(members.select(col("doc_id").as("doc_a"),
        col("copies").as("members_a")), Seq("doc_a"))
      .join(members.select(col("doc_id").as("doc_b"),
        col("copies").as("members_b")), Seq("doc_b"))
      .select("doc_a", "doc_b", "hamming", "members_a", "members_b")
    // identical payloads (hamming 0 by construction) surface as one
    // closed-form self-row per multi-copy group, the q31 oracle design
    val selfRows = members.filter(col("copies") >= 2L)
      .select(col("doc_id").as("doc_a"), col("doc_id").as("doc_b"),
        lit(0L).as("hamming"), col("copies").as("members_a"),
        col("copies").as("members_b"))
    crossRows.unionByName(selfRows).orderBy("doc_a", "doc_b")
  }

  /** MEDIA SIMILARITY SEARCH (q156) — Hamming top-k over the dHash
    * fingerprints: for each probe medium (rep % 25 == 0, the ANN
    * family's query-subset convention), the k nearest corpus media by
    * perceptual-hash Hamming distance. This is MULTI-INDEX HASHING
    * (Norouzi et al. 2012) on q155's index: candidates come from
    * equality probes of the query's 8 bands against the banded index —
    * never a scan of the corpus — and exact Hamming ranks only the
    * collided candidates. Completes the multimodal family's
    * similarity-search story beside the embedding-space family
    * (q40/q41/q48): same probe-the-buckets shape, but in Hamming space
    * over media fingerprints.
    *
    * EXACTNESS, two layers:
    *  - the gate is bit-exact: every number in the pipeline is a
    *    BIGINT (no floats, no rounding anywhere), ranks are total via
    *    the (hamming, cand_id) tie-break, so the oracle hash-matches
    *    the full answer — no r6/r4 rounding discipline even needed;
    *  - retrieval is exact for every neighbor at Hamming ≤ 7
    *    (pigeonhole: 8 bands must share one); a true k-th neighbor
    *    farther than 7 may be missed (candidates only come from band
    *    collisions) — the documented multi-index-hashing recall
    *    contract, mirrored verbatim by the oracle's candidate CTE.
    *
    * Scale shape: probes explode to 8 band keys each and hash-join the
    * banded index (the only corpus-sized side, read from the persisted
    * memo); per-pair verify is the map-side unrolled bit_count;
    * ranking is a per-query window over that query's candidates only.
    */
  def q156PhashTopK(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (bandVec, reps) = phashIndex(s, d)
    val bands = bandVec
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bv")))
    val probes = bands.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("query_id"), col("band"), col("bv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("hamming"), col("cand_id"))
    probes
      .join(bands.select(col("doc_id").as("cand_id"), col("band"), col("bv")),
        Seq("band", "bv"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id").distinct()
      // verify sides are rep-count-sized — same measured-size gate as
      // q155: broadcast under the limit, shuffle hash join on the rep
      // keys above it
      .join(BroadcastGate(bandVec.select(col("doc_id").as("query_id"),
        col("bands").as("ba")), reps), Seq("query_id"))
      .join(BroadcastGate(bandVec.select(col("doc_id").as("cand_id"),
        col("bands").as("bb")), reps), Seq("cand_id"))
      .withColumn("hamming", hamExpr)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("cand_id"), col("hamming"))
      .orderBy("query_id", "rk")
  }

  /** CROSS-MODAL NEAR-DUP RECONCILIATION (q157) — the multimodal
    * family's graph meets the embedding family's graph: every document
    * pair flagged near-dup by EITHER modality, labeled with which
    * modalities agree. The media side is [[phashRepPairs]] (q155's
    * verified rep pairs, expanded to member doc pairs through the
    * exact-text contraction — within-group pairs are hamming 0 by
    * construction); the embedding side is q34's verified pair memo
    * (sign-LSH candidates, exact cosine ≥ 0.4) over the 1:1
    * doc_id ↔ vec_id multimodal link. A `both` row is corroborated
    * cross-modally (the strongest dedup evidence a multimodal corpus
    * offers); a `media_only` row is pixel-level duplication an
    * embedding model missed (e.g. re-encodes); an `embedding_only` row
    * is semantic duplication with different bytes (e.g. captions
    * paraphrased) — exactly the triage a training-data curation pass
    * wants, and the first query where the fingerprint space and the
    * embedding space meet.
    *
    * Exactness: hamming is BIGINT end-to-end (the q155/q156
    * discipline); cos_sim carries q34's r4 rounding unchanged; the
    * modality label is a pure null-pattern CASE over the full-outer
    * join — nothing new to round, so the oracle hash-matches.
    *
    * Scale shape: both inputs are verified near-dup pair frames —
    * near-dup-density-sized, never corpus-sized (each side's quadratic
    * space is already collapsed by its own banded blocking) — and the
    * member expansion is output-sized by construction. The full-outer
    * join keys on the canonical (doc_a, doc_b) pair; every join here
    * is an equality join AQE can size at runtime.
    */
  def q157CrossModalNearDup(s: SparkSession, d: String,
      maxHamming: Int = 7): DataFrame = {
    // lineage truncation (the q102/q103 discipline): the three input
    // frames are session memos, so re-computation is already shared —
    // but their LINEAGE is not. membership feeds four branches and
    // phashRepPairs/embeddingNearDupPairs each carry a banded
    // candidate+verify subtree that references its own memo frames
    // several times, so without the checkpoints the full-outer's plan
    // re-inlines everything (measured: a 2,204-line explain with 119
    // parquet scans — driver-side compile cost and per-branch AQE
    // re-optimization at scale). All three frames are near-dup-density
    // -sized, the same bound the CC kernels checkpoint at; eager=false
    // so the memo's persist stays the materializing action.
    val membership = TextOps.textContraction(s, d)._2
      .localCheckpoint(eager = false)
    val repPairs = phashRepPairs(s, d, maxHamming)
      .localCheckpoint(eager = false)
    // rep pairs → member doc pairs, canonicalized a < b (rep order and
    // member-id order need not agree across groups)
    val cross = repPairs
      .join(membership.select(col("rep").as("doc_a"), col("doc_id").as("ma")),
        Seq("doc_a"))
      .join(membership.select(col("rep").as("doc_b"), col("doc_id").as("mb")),
        Seq("doc_b"))
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col("hamming"))
    // within-group pairs: identical text ⇒ identical payload ⇒
    // hamming exactly 0 — closed-form, no verify needed. Disjoint from
    // `cross` (a doc belongs to exactly one rep), so the union is
    // already pair-distinct.
    val within = membership.select(col("rep"), col("doc_id").as("ma"))
      .join(membership.select(col("rep"), col("doc_id").as("mb")), Seq("rep"))
      .filter(col("ma") < col("mb"))
      .select(col("ma").as("doc_a"), col("mb").as("doc_b"),
        lit(0L).as("hamming"))
    val media = cross.unionByName(within)
    val emb = Dedup.embeddingNearDupPairs(s, d)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"),
        col("cos_sim"))
      .localCheckpoint(eager = false)
    media.join(emb, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"), col("hamming"), col("cos_sim"),
        when(col("hamming").isNotNull && col("cos_sim").isNotNull, "both")
          .when(col("hamming").isNotNull, "media_only")
          .otherwise("embedding_only").as("modality"))
      .orderBy("doc_a", "doc_b")
  }

  /** q157's three checkpoint-truncated input frames, un-truncated — the
    * committed q157 explain (deliberately) shows `Scan ExistingRDD` where
    * these subtrees sit, so [[graft.Explain]] executes and dumps each one
    * once. Near-dup-density-sized, same bound as in the query itself.
    * Not registered queries; plan review only.
    */
  private[graft] def q157InputFrames(s: SparkSession, d: String,
      maxHamming: Int = 7): Seq[(String, DataFrame)] = Seq(
    "membership (textContraction)" -> TextOps.textContraction(s, d)._2,
    "media rep pairs (phashRepPairs)" -> phashRepPairs(s, d, maxHamming),
    "embedding near-dup pairs" -> Dedup.embeddingNearDupPairs(s, d))

  /** Decoded-media record produced by the per-partition decode pass. */
  case class DecodedMedia(doc_id: Long, n_bytes: Int, format: String,
      width: Int, height: Int, n_frames: Int)

  /** Batch decode over binary payloads via mapPartitions — the shape a
    * real pipeline uses (decoder initialized once per partition, rows
    * streamed through it; on a cluster each executor core runs one
    * decoder instance).
    *
    * STUB: `decodeStub` fabricates deterministic metadata from the raw
    * bytes in place of a real image/audio decoder (none is available in
    * this container). Swap `decodeStub` for a real codec binding to
    * productionize; nothing else changes.
    */
  def decodeBatch(s: SparkSession, d: String): Dataset[DecodedMedia] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // one "decoder" per partition (stands in for e.g. libjpeg init)
        val decoder = decodeStub _
        rows.map { case (id, bytes) => decoder(id, bytes) }
      }
  }

  /** Deterministic fake decoder: derives pseudo-metadata from payload
    * bytes. A real implementation would parse the container format here.
    */
  private def decodeStub(id: Long, bytes: Array[Byte]): DecodedMedia = {
    val fmt = if (bytes.length % 2 == 0) "png" else "jpeg"
    val w = 64 + (bytes.headOption.getOrElse(0: Byte).toInt & 0x7f)
    val h = 64 + (bytes.lastOption.getOrElse(0: Byte).toInt & 0x7f)
    DecodedMedia(id, bytes.length, fmt, w, h, 1 + (bytes.length % 16))
  }
}
