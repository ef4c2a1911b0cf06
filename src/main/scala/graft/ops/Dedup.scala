package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{BroadcastGate, SessionMemo, Tables}
import graft.functions.TextFunctions._
import graft.functions.Round._

/** Deduplication suite over the `documents` fixture — the four standard
  * LLM-training-data dedup families:
  *
  *  - exact (content-hash groupBy),
  *  - n-gram Jaccard (bucketed token-set similarity join),
  *  - MinHash + LSH banding (shingle → min-hash signature → band-bucket
  *    join — the scale path: candidate pairs come from equality joins on
  *    (band, signature), never from an O(n^2) cross join),
  *  - SimHash (bitwise fingerprint; near-dup = small Hamming distance).
  *
  * Everything is engine-portable arithmetic (md5 hex + integer folds) so
  * the DuckDB oracle reproduces results exactly.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the minimum doc_id
    * (deterministic canonical representative), report group size.
    * At 100 TB: a single hash-partitioned shuffle on a 32-char key.
    */
  def q30ExactDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("content_md5"))
      .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("content_md5")

  /** Token-set Jaccard similarity join: MinHash-LSH CANDIDATE GENERATION
    * followed by exact Jaccard VERIFICATION — the standard two-phase
    * production shape. Candidates come from equality joins on LSH band
    * signatures (q32MinHashLsh), so the pair space is bounded by actual
    * near-duplicate density rather than by block sizes; each candidate
    * is then verified with the exact distinct-token intersection,
    * Jaccard = |A∩B| / (|A|+|B|−|A∩B|).
    *
    * Recall caveat (documented, inherent to LSH): pairs the 8-band
    * signature misses are not scored. An earlier exhaustive
    * block-within-(lang,source) formulation was exact but quadratic per
    * block — 563 s at a 100k-doc stress run vs seconds for this shape —
    * blocking keys don't bound block size as the corpus grows.
    */
  def q31JaccardPairs(s: SparkSession, d: String, threshold: Double = 0.6): DataFrame =
    verifiedPairs(s, d, threshold).orderBy("doc_a", "doc_b")

  /** CROSS-SOURCE DUPLICATION MATRIX (q164) — where does near-duplicate
    * mass come from? Every verified near-dup pair (q31's memoized
    * frame, built once per corpus version) is labeled with its two
    * documents' sources, canonicalized (source_a ≤ source_b), and
    * aggregated into a source-pair matrix: pair count, distinct
    * documents involved, and the min/max verified Jaccard (both
    * order-invariant over r4 values, unlike a sum/avg of doubles — the
    * q44 exactness discipline). The diagonal rows are within-source
    * duplication; off-diagonal rows are the cross-source contamination
    * a mixture designer needs before weighting sources (a source whose
    * docs are near-dups of another's adds no diversity at its nominal
    * token share — the q134 adjustment's provenance view).
    *
    * Scale: the input is the near-dup-density-sized verified pair
    * frame; the source labels arrive via two pair-keyed equality joins
    * against `documents` (shuffle-hash at 100 TB — nothing here is
    * corpus-broadcast), and the output is ≤ |sources|² rows. The
    * distinct-doc count shuffles pair-frame-sized rows once.
    */
  def q164CrossSourceDup(s: SparkSession, d: String): DataFrame = {
    val pairs = verifiedPairs(s, d)
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val lab = pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
    val ag = lab.groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        min("jaccard").as("min_jaccard"),
        max("jaccard").as("max_jaccard"))
    val dd = lab.select(col("source_a"), col("source_b"),
        col("doc_a").as("doc_id"))
      .union(lab.select(col("source_a"), col("source_b"),
        col("doc_b").as("doc_id")))
      .groupBy("source_a", "source_b")
      .agg(countDistinct("doc_id").as("n_docs"))
    ag.join(dd, Seq("source_a", "source_b"))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        col("n_docs"), col("min_jaccard"), col("max_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** q31's verified pair set WITHOUT the presentation sort — the shared
    * edge-set form for graph consumers ([[q137Pagerank]]) whose next
    * operator is a shuffle that would destroy (and re-pay) the sort.
    */
  def verifiedPairs(s: SparkSession, d: String, threshold: Double = 0.6): DataFrame =
    if (threshold == 0.6) verifiedPairsShared(s, d)
    else verifiedPairsRaw(s, d, threshold)

  // memoized, persisted verified near-dup pair frame at the DEFAULT
  // threshold — q31 orders it and the two pagerank variants symmetrize
  // it, so the candidate join + exact Jaccard verify runs once per
  // (session, dir, corpus version) rather than once per consumer
  // (measured ~15 s per re-pay at the 20× stress corpus: q31 15.9 s,
  // q137/q147 each re-verifying under their iterations)
  private val vpairMemo = SessionMemo.frame("verified-pairs", "documents")

  private def verifiedPairsShared(s: SparkSession, d: String): DataFrame =
    vpairMemo(s, d)(verifiedPairsRaw(s, d, 0.6)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private def verifiedPairsRaw(s: SparkSession, d: String,
      threshold: Double): DataFrame =
    verifyJaccardPairs(lshCandidatePairs(s, d),
      Tables.documents(s, d)
        .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks")),
      threshold)

  /** The ONE exact-Jaccard verify over a candidate pair frame — shared
    * by the member-level memo (q31 and everything on it) and the
    * rep-level pagerank graph so the two cannot diverge on what a
    * verified pair IS. `docs` = (doc_id, toks).
    */
  private[graft] def verifyJaccardPairs(cand: DataFrame, docs: DataFrame,
      threshold: Double): DataFrame = {
    val a = docs.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"),
      size(col("toks")).as("na"))
    val b = docs.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"),
      size(col("toks")).as("nb"))
    // join strategy deliberately left to AQE. MEASURED at the 20× dup-
    // heavy stress corpus (scripts/stress.sh): forcing broadcast(cand)
    // here took 371 s — the candidate set is near-dup-density-sized,
    // which on a dup-heavy corpus is millions of pairs, and pinning it
    // broadcast forces the arrays-carrying verify joins into the wrong
    // shape. Unhinted AQE (broadcast only when runtime stats say it
    // fits): 54 s. The persisted signature frame (lshSignatures) is the
    // other measured win: 89 s → 54 s vs recomputing signatures.
    cand.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      // count-only intersect (custom codegen expression): same value as
      // size(array_intersect(...)) without allocating the intersection
      // array per pair — this scalar runs once per candidate pair
      .withColumn("common",
        graft.functions.expressions.TextExpressions
          .arrayIntersectCount(col("toks_a"), col("toks_b")))
      .select(
        col("doc_a"), col("doc_b"),
        r4(col("common").cast("double") /
          (col("na") + col("nb") - col("common")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** ASYMMETRIC containment pairs — quote/subset-duplication detection:
    * containment = |A∩B| / min(|A|,|B|), the share of the SMALLER
    * distinct-token set present in the larger. A short doc quoted
    * wholesale inside a long one scores ~1.0 here while its Jaccard
    * (q31) stays far below any dedup threshold — the case symmetric
    * similarity structurally misses. Same verified-pair machinery as
    * q31 (persisted LSH candidates → one codegen'd counting scalar per
    * pair; join strategy left to AQE per q31's measured notes).
    *
    * Recall caveat, documented not hidden: MinHash-LSH candidates are
    * tuned for JACCARD, and an extreme-ratio containment pair has low
    * Jaccard by construction, so band collision probability drops with
    * the size ratio — MEASURED at 0.70 / 0.46 / 0.24 recall for ratios
    * 8/16/32 (ContainmentRecallProbe, NOTES r7). The oracle shares the
    * candidate CTE (the gate checks verification exactness, not
    * candidate recall); [[q121ContainmentExact]] is the implemented
    * exact-recall path — prefix-filtered candidates on this same
    * verify shape, gated against an independent all-pairs oracle.
    */
  def q113ContainmentPairs(s: SparkSession, d: String,
      threshold: Double = 0.8): DataFrame = {
    // EXACT-TEXT CONTRACTION (the q102/q121 move, exact here because
    // both the LSH signature and the containment value are functions
    // of the text alone): verify once per contracted REP pair, expand
    // member pairs closed-form. The previous member-level form paid
    // the token-array intersect once per RAW candidate pair — ~copies²
    // per rep pair on a dup-heavy corpus (the r11 stress drift: 5.6 →
    // ~10.5 s isolated at 20× as the memo working set pushed the raw
    // verify out of cache); the contracted space is
    // near-dup-density-sized and dup-count-invariant.
    val docRep = docReps(s, d)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
    val a = docs.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"),
      size(col("toks")).as("na"))
    val b = docs.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"),
      size(col("toks")).as("nb"))
    val repVerified = contractedCandidatePairs(s, d)
      .join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .withColumn("common",
        graft.functions.expressions.TextExpressions
          .arrayIntersectCount(col("toks_a"), col("toks_b")))
      .withColumn("containment",
        r4(col("common").cast("double") / least(col("na"), col("nb")).cast("double")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a").as("ra"), col("doc_b").as("rb"),
        col("na"), col("nb"), col("containment"))
    // cross-group expansion: identical texts ⇒ identical signatures, so
    // every (member of ra) × (member of rb) pair is a raw candidate
    // with the SAME token sets — the verdict and value are rep-pair
    // constants, and only the contained/container id rule needs the
    // member ids. Output-sized joins, never recomputation.
    val cross = repVerified
      .join(docRep.select(col("rep").as("ra"), col("doc_id").as("ida")),
        Seq("ra"))
      .join(docRep.select(col("rep").as("rb"), col("doc_id").as("idb")),
        Seq("rb"))
      // the contained side is the smaller token set; ties break to the
      // smaller id (deterministic, engine-portable)
      .select(
        when(col("na") < col("nb"), col("ida"))
          .when(col("nb") < col("na"), col("idb"))
          .otherwise(least(col("ida"), col("idb"))).as("contained_doc"),
        when(col("na") < col("nb"), col("idb"))
          .when(col("nb") < col("na"), col("ida"))
          .otherwise(greatest(col("ida"), col("idb"))).as("container_doc"),
        col("containment"))
    // within-group pairs: identical texts collide on EVERY band (the
    // signature is a text function) and verify at containment exactly
    // r4(n/n) = 1.0 ≥ any t ≤ 1. Eligibility (≥ 3 tokens ⇒ has a
    // shingle ⇒ has signatures) is also a text function, so a group is
    // eligible iff its rep is — one filter on the rep's text covers
    // every member.
    val eligRep = Tables.documents(s, d)
      .select(col("doc_id").as("rep"),
        (size(tokens(col("text"))) >= 3).as("elig"))
      .filter(col("elig")).select("rep")
    val withinMembers = docRep.join(eligRep, Seq("rep"))
    val within = withinMembers.select(col("rep"), col("doc_id").as("ida"))
      .join(withinMembers.select(col("rep"), col("doc_id").as("idb")),
        Seq("rep"))
      .filter(col("ida") < col("idb"))
      .select(col("ida").as("contained_doc"), col("idb").as("container_doc"),
        lit(1.0).as("containment"))
    cross.unionByName(within).orderBy("contained_doc", "container_doc")
  }

  /** Threshold as exact scaled integer (t = tScaled/10000): the prefix
    * size and the qualify test must NOT go through floating point —
    * `(1−0.8)·n` computes as `0.19999…·n`, which floors one short
    * whenever (1−t)·n is a whole number, silently breaking the
    * completeness proof for every doc size divisible by 5.
    */
  private def containmentScale(threshold: Double): Long =
    math.round(threshold * 10000)

  /** PREFIX-FILTERED containment pairs — the EXACT-recall upgrade path
    * the q113 scaladoc promised, implemented because the measurement
    * demanded it (ContainmentRecallProbe, NOTES r7: LSH candidate
    * recall on planted containment pairs is 0.70 / 0.46 / 0.24 at
    * length ratios 8/16/32 — the 1−(1−1/r)^8 banding curve — so
    * extreme-ratio quotes DO slip past the Jaccard-tuned bands).
    *
    * Candidate generation is the prefix-filter theorem, not LSH: order
    * the token universe by ascending document frequency (rarest
    * first, ties by token — deterministic and oracle-expressible), and
    * let every doc PROBE with its first ⌊(1−t)·|d|⌋+1 tokens in that
    * order. If a pair (S, B) has containment |S∩B|/|S| ≥ t, then B
    * must contain at least one of S's probe tokens — otherwise the
    * intersection is confined to the non-prefix suffix, of size
    * < t·|S|. Joining probes against the FULL token index (the q95
    * inverted-index shape) therefore yields a PROVABLE SUPERSET of
    * every qualifying pair; exact verification (the q113 counting
    * scalar) then makes the result the complete truth — which is why
    * q121 can be oracle-gated against DuckDB's brute-force all-pairs
    * containment, turning candidate RECALL itself into a hash-checked
    * property (the gate q113's shared-CTE oracle structurally cannot
    * express).
    *
    * Scale shape: probes are the ~(1−t) rarest fraction of each doc's
    * tokens, so the candidate join's fan-out is Σ_token probes(token) ·
    * postings(token) — dominated by RARE tokens (short postings) by
    * construction; the frequent-token postings are only ever probed by
    * docs whose whole vocabulary is frequent. Everything is keyed
    * equality joins + one per-doc rank window; no all-pairs anywhere.
    * The LSH path (q113) stays the cheap approximate screen; this is
    * the exhaustive auditor you run when recall is the contract.
    */
  private def containmentCandidatesOn(docs: DataFrame, tS: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col("doc_id"), size(col("toks")).cast("long").as("n"),
      explode(col("toks")).as("token"))
    val dfreq = tok.groupBy("token").agg(count(lit(1)).as("df"))
    // required overlap α = ⌈t·n⌉ and prefix size π = n − α + 1, both in
    // exact integer arithmetic: α = (tS·n + 9999) div 10000
    val probes = tok.join(dfreq, Seq("token"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df").asc, col("token").asc)))
      .filter(col("rk") <= col("n")
        - expr(s"(${tS}L * n + 9999L) div 10000L") + lit(1L))
      .select(col("token"), col("doc_id").as("pa"))
    val index = tok.select(col("token"), col("doc_id").as("pb"))
    probes.join(index, Seq("token"))
      .filter(col("pa") =!= col("pb"))
      .select(least(col("pa"), col("pb")).as("doc_a"),
        greatest(col("pa"), col("pb")).as("doc_b"))
      .distinct()
  }

  /** EXACT containment pairs (q121): [[q113ContainmentPairs]]'s verify
    * shape over [[containmentCandidatesOn]]'s provably-complete
    * candidates. Same output contract as q113 (contained/container by
    * smaller token set, ties to smaller id, r4 containment); unlike
    * q113 the oracle is INDEPENDENT brute-force all-pairs containment
    * in DuckDB, so a candidate-generation miss is a hash mismatch, not
    * a documented caveat.
    */
  /** Qualified set pairs at the contracted-rep level: (ra, rb, na, nb,
    * common) for every rep pair with common·10000 ≥ tS·min(na, nb).
    * One contract, two physical strategies, chosen from two
    * metadata-scale measurements (vocabulary size V, rep count R — the
    * ANALYZE-style driver scalars; same accepted pattern as q71's loop
    * witnesses):
    *
    * - GENERAL corpus (real vocabulary): prefix-filter candidates
    *   ([[containmentCandidatesOn]]) + the q31 counting-scalar verify.
    *   Candidate volume is governed by rare-token postings — the right
    *   shape whenever rare tokens exist, i.e. for any real text corpus
    *   at any scale.
    * - DEGENERATE vocabulary (V ≤ 2048 and R ≤ 20000): every doc is a
    *   bag over a tiny dictionary, rare tokens do not exist, and the
    *   probe×index join degenerates to ~all-pairs WITH a pre-distinct
    *   blow-up (MEASURED at sf0.1, V = 31: 26k probes × ~3.9k postings
    *   = 99M join rows, ~50 s in the distinct alone, for an answer
    *   that is itself 10M pairs — 81% of candidates qualify, so
    *   pruning has nothing left to prune). The right physical plan is
    *   dictionary BITSET brute force: encode each rep's set as ⌈V/64⌉
    *   longs, broadcast the R-row mask table, and evaluate
    *   popcount(a AND b) MAP-SIDE over the R²/2 rep pairs — no
    *   shuffle, no distinct, cost bounded by the guards at ~2·10⁸
    *   pair-evals. This is the one crossJoin in the codebase that is
    *   not against a single-row frame: it is against the broadcast
    *   CONTRACTED-REP mask table, in a regime where the answer itself
    *   is provably dense (R ≤ 2^V) and candidate generation cannot
    *   help; the guards keep it opt-in by measurement, never by hope.
    */
  private def qualifiedSetPairs(repToks: DataFrame, tS: Long): DataFrame = {
    val tok = repToks.select(col("doc_id"),
      size(col("toks")).cast("long").as("n"), explode(col("toks")).as("token"))
    val dfreq = tok.groupBy("token").agg(count(lit(1)).as("df"))
    val vocab = dfreq.count()
    val nReps = repToks.count()
    if (vocab <= 2048 && nReps <= 20000) {
      val nw = math.max(((vocab + 63) / 64).toInt, 1)
      // dictionary ids: V is guard-bounded (≤ 2048), so rank takes its
      // single-task sort — cheaper than the range path's exchange
      // machinery at 2048 tokens, and no no-key window either way
      val ids = ScalarSuites
        .rank(dfreq.select("token"), Seq(col("token")), maxRows = Some(vocab))
        .select(col("token"), (col("rank") - 1L).cast("int").as("id"))
      val masks = tok.join(broadcast(ids), Seq("token"))
        .groupBy("doc_id").agg(collect_set(col("id")).as("ids"),
          first("n").as("n"))
        .withColumn("mask", expr(
          s"transform(sequence(0, ${nw - 1}), w -> aggregate(" +
            "filter(ids, i -> i div 64 = w), 0L, " +
            "(acc, i) -> acc | shiftleft(1L, CAST(i % 64 AS INT))))"))
        .select(col("doc_id"), col("n"), col("mask"))
      val aS = masks.select(col("doc_id").as("ra"), col("n").as("na"),
        col("mask").as("ma"))
      val bS = masks.select(col("doc_id").as("rb"), col("n").as("nb"),
        col("mask").as("mb"))
      // codegen'd AND-popcount: the interpreted zip_with/aggregate
      // formulation allocated an array + boxed lambda calls per pair —
      // ~50 µs/pair, several hundred seconds over the 20× stress
      // corpus's 7.7M rep pairs and the dominant term of the memo
      // build (the FloatDot lesson, re-learned on bitsets)
      aS.crossJoin(broadcast(bS)).filter(col("ra") < col("rb"))
        .withColumn("common",
          graft.functions.expressions.FloatVecExpressions
            .bitsetIntersectCount(col("ma"), col("mb")))
        .filter(col("common") * lit(10000L) >= lit(tS) * least(col("na"), col("nb")))
        .select(col("ra"), col("rb"), col("na"), col("nb"), col("common"))
    } else {
      val cand = containmentCandidatesOn(repToks, tS)
      val a = repToks.select(col("doc_id").as("ra"), col("toks").as("toks_a"),
        size(col("toks")).cast("long").as("na"))
      val b = repToks.select(col("doc_id").as("rb"), col("toks").as("toks_b"),
        size(col("toks")).cast("long").as("nb"))
      cand.select(col("doc_a").as("ra"), col("doc_b").as("rb"))
        .join(a, Seq("ra")).join(b, Seq("rb"))
        .withColumn("common",
          graft.functions.expressions.TextExpressions
            .arrayIntersectCount(col("toks_a"), col("toks_b")).cast("long"))
        // qualify in EXACT integer arithmetic — the same inequality the
        // prefix-completeness proof covers
        .filter(col("common") * lit(10000L) >= lit(tS) * least(col("na"), col("nb")))
        .select(col("ra"), col("rb"), col("na"), col("nb"), col("common"))
    }
  }

  /** Memoized, persisted SET-CONTRACTION + qualified-rep-pair frames at
    * (dir, tS): membership(doc_id, rep), groups(setkey, rep, members) and
    * repPairs(ra, rb, na, nb, common). q121 (member-level view) and
    * q141 (rep-level artifact) both READ these — the production shape,
    * where contraction and the qualified-pair computation land as
    * tables and every containment consumer probes them instead of
    * recomputing (measured: the shared core was ~4 s of the two
    * queries' 9.3 s at sf0.1 before this memo).
    */
  /** The containment family's shared memo payload: membership
    * (doc_id, rep), groups (setkey, rep, members), qualified rep pairs
    * (ra, rb, na, nb, common), per-rep sorted member-id lists
    * (rep, mids) for closed-form member expansion, and two MEASURED
    * counts — total docs (= Σ|mids|, the member-list frames' broadcast
    * payload, driving [[BroadcastGate]]'s plan choice) and rep count
    * (nDocs/nReps is the mean member-expansion factor, driving q121's
    * pre-expansion rebalance).
    */
  private[graft] final case class ContainmentFrames(
      membership: DataFrame, groups: DataFrame, pairs: DataFrame,
      memberLists: DataFrame, nDocs: Long, nReps: Long)

  private val repPairMemo = SessionMemo[ContainmentFrames](
      "containment", "documents") { f =>
    SessionMemo.unpersist(f.membership, f.groups, f.pairs, f.memberLists)
  }

  private def containmentRepFrames(s: SparkSession, d: String, tS: Long)
      : ContainmentFrames = repPairMemo(s, d, tS) {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docsToks = Tables.documents(s, d)
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      .filter(size(col("toks")) > 0)
    // tokens are whitespace-split, so no token can contain U+0001
    val keyed = docsToks.withColumn("setkey",
      md5(array_join(array_sort(col("toks")), "\u0001")))
    val groups = keyed.groupBy("setkey")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("members"))
      .persist(lvl)
    val membership = keyed.select("doc_id", "setkey")
      .join(groups.select("setkey", "rep"), Seq("setkey"))
      .select(col("doc_id"), col("rep")).persist(lvl)
    // per-rep SORTED member-id lists — the member-expansion frame:
    // rep-count rows, Σ|mids| = corpus doc count. Sorted so the
    // within-group position order (i < j) is also id order.
    val memberLists = membership.groupBy("rep")
      .agg(sort_array(collect_list(col("doc_id"))).as("mids"))
      .persist(lvl)
    // the materializing counts double as MEASURED plan inputs —
    // nDocs is the broadcast payload (one long per doc) for
    // BroadcastGate, nDocs/nReps the mean expansion factor for
    // q121's rebalance gate; both frames persist here anyway
    val nDocs = membership.count()
    val nReps = memberLists.count()
    val repToks = docsToks
      .join(groups.select(col("rep").as("doc_id")), Seq("doc_id"))
    val pairs = qualifiedSetPairs(repToks, tS).persist(lvl)
    ContainmentFrames(membership, groups, pairs, memberLists, nDocs, nReps)
  }

  def q121ContainmentExact(s: SparkSession, d: String,
      threshold: Double = 0.8): DataFrame = {
    val tS = containmentScale(threshold)
    // SET CONTRACTION first — stronger than the q102/q118 exact-text
    // move, and exact for the same reason: containment is a function
    // of the distinct-token SET alone, so contraction keys on the
    // function's argument (docs differing only in order/multiplicity
    // share one rep). Pairs are computed once per set-pair and the
    // member-level OUTPUT — the answer's own size — is produced by
    // closed-form membership expansion, never by joining replicated
    // probes. On a dup-heavy corpus the member answer grows as the
    // SQUARE of copy counts (20 copies ⇒ ~400 member pairs per set
    // pair — measured 172 s at the 20× stress corpus, pure
    // enumeration); the production artifact at scale is the rep-level
    // frame + membership (both dup-count-invariant, REGISTERED and
    // gated as q141 via the shared containmentRepFrames memo), and a
    // consumer materializes the cross product only if its contract —
    // like this oracle-matched query's — demands member granularity.
    val f = containmentRepFrames(s, d, tS)
    // On a dup-heavy corpus the expansion multiplies each pair row by
    // (members_a × members_b) INSIDE its task — tasks inherit the
    // cached pair frame's partitioning, whose per-partition pair
    // counts (and fan-outs) are skewed, so a handful of tasks emit
    // most of the billions of output rows while the rest idle
    // (measured: 41 s at the 20× stress corpus for 4.03e9 rows where
    // the fully-codegen'd generate pipeline sustains ~16M rows/s/core
    // — a ~5× parallelism loss). A round-robin rebalance of the
    // rep-pair frame (pair-count-sized, cheap) ahead of the broadcast
    // joins spreads the generate work evenly. Gated on the memo's
    // measured mean expansion factor so a dup-free corpus (factor 1,
    // e.g. sf0.1: every text distinct) never pays the extra exchange.
    val rebalance = f.nDocs >= 2 * f.nReps
    val sp = s.sessionState.conf.numShufflePartitions
    val repPairs0 = f.pairs
      .withColumn("containment",
        r4(col("common").cast("double") / least(col("na"), col("nb")).cast("double")))
      .select(col("ra"), col("rb"), col("na"), col("nb"), col("containment"))
    // within-group pairs fold in as SELF rep pairs (ra = rb) so the
    // union happens at the PAIR level — 5.3M rows at the 20× stress
    // corpus, where an extra iterator boundary is free — instead of at
    // the member level. A member-level Union is a whole-stage-codegen
    // boundary: every one of the 4.03e9 expanded rows materialized as
    // an UnsafeRow crossing the Union iterator before the count/sink
    // consumed it, and THAT — not the enumeration — was q121's stress
    // cost (measured: 74 s warm for the unioned count vs 1.0-2.4 s for
    // the identical cross expansion counted inside its own fused
    // stage). Self pairs carry na = nb = 0 (the tie rule then picks
    // least/greatest of the ids — exactly the within-group contract)
    // and containment literal 1.0 ≡ r4(n/n), bit-identical to the
    // verified path's rounding. Identical token sets qualify at any
    // t ≤ 1, so no threshold check is needed.
    val selfPairs = f.memberLists.filter(size(col("mids")) >= 2)
      .select(col("rep").as("ra"), col("rep").as("rb"),
        lit(0L).as("na"), lit(0L).as("nb"), lit(1.0).as("containment"))
    val allPairs0 = repPairs0.unionByName(selfPairs)
    val allPairs = if (rebalance) allPairs0.repartition(sp) else allPairs0
    // every (member of ra) × (member of rb); sizes are group-constant,
    // so the contained/container rule only needs the per-pair id
    // tie-break. The expansion joins attach the two MEMBER-LIST arrays
    // (size-gated broadcast — rep-keyed frames whose payload is one
    // long per doc) and explode them MAP-SIDE, so the quadratic member
    // blow-up never crosses an exchange: the old membership-join form
    // shuffled the half-expanded (pairs × m_a) intermediate on rb — at
    // the 20× dup-heavy stress corpus that is a ~20× row multiplier
    // through a full shuffle, and it was the dominant term of q121's
    // 37 s stress cost. Self pairs enumerate m² and keep the i < j
    // half in the SAME codegen'd filter (mids is sorted, so id order
    // is position order) — 2× the minimal within-group work on a
    // frame that is ~0.4% of the output, for a pipeline that runs
    // fused end-to-end.
    val out = allPairs
      .join(BroadcastGate(f.memberLists
        .select(col("rep").as("ra"), col("mids").as("mids_a")), f.nDocs),
        Seq("ra"))
      .join(BroadcastGate(f.memberLists
        .select(col("rep").as("rb"), col("mids").as("mids_b")), f.nDocs),
        Seq("rb"))
      .withColumn("ida", explode(col("mids_a")))
      .withColumn("idb", explode(col("mids_b")))
      .filter(col("ra") =!= col("rb") || col("ida") < col("idb"))
      .select(
        when(col("na") < col("nb"), col("ida"))
          .when(col("nb") < col("na"), col("idb"))
          .otherwise(least(col("ida"), col("idb"))).as("contained_doc"),
        when(col("na") < col("nb"), col("idb"))
          .when(col("nb") < col("na"), col("ida"))
          .otherwise(greatest(col("ida"), col("idb"))).as("container_doc"),
        col("containment"))
    // NO presentation orderBy, deliberately: q121 is the one registered
    // query whose ANSWER is member-quadratic (4e9 rows at the 20×
    // stress), and a global sort of it costs what the shuffle audit
    // measured — 29 GB of exchange write and 157 GB of sort spill —
    // for ordering no pipeline consumer of a pair table wants. The
    // correctness gate sorts before hashing, so the order carries no
    // information; small-answer queries keep their tidy orderBy.
    out
  }

  /** REP-LEVEL containment artifact (q141) — the dup-count-INVARIANT
    * production surface q121's scaladoc directs scale consumers to,
    * registered (and oracle-gated) in its own right. q121's member-level
    * contract is quadratic in duplicate copies (20 copies ⇒ ~400 member
    * pairs per set pair — 172 s of pure enumeration at the 20× stress
    * corpus); THIS frame is the thing a 100 TB pipeline actually
    * materializes: one row per qualified contracted-rep pair (ra < rb)
    * with set sizes, r4 containment and both groups' member counts,
    * plus one SELF row (ra = rb, containment exactly 1.0) per
    * identical-set group with ≥ 2 members. Member-level accounting is
    * then closed-form — members_a·members_b cross pairs per pair row,
    * C(members, 2) within pairs per self row — so the quadratic
    * expansion is a consumer choice, never a storage cost. Row count is
    * reps², not members²: growing duplicate copies grows `members_*`
    * values, NOT rows.
    *
    * Same set-contraction front end and [[qualifiedSetPairs]] core as
    * q121 (one definition of "qualified pair" — the gates cannot
    * diverge); the oracle is the same INDEPENDENT brute-force
    * containment, grouped by sorted-token-set key, so rep choice
    * (min doc_id), member counts and pair recall are all hash-checked.
    */
  def q141ContainmentReps(s: SparkSession, d: String,
      threshold: Double = 0.8): DataFrame = {
    val tS = containmentScale(threshold)
    val f = containmentRepFrames(s, d, tS)
    val (groups, pairs) = (f.groups, f.pairs)
    val cross = pairs
      .join(groups.select(col("rep").as("ra"), col("members").as("members_a")),
        Seq("ra"))
      .join(groups.select(col("rep").as("rb"), col("members").as("members_b")),
        Seq("rb"))
      .select(col("ra"), col("rb"), col("na"), col("nb"),
        r4(col("common").cast("double") / least(col("na"), col("nb"))
          .cast("double")).as("containment"),
        col("members_a"), col("members_b"))
    // self rows: identical sets ⇒ containment exactly 1.0; r4(n/n) ≡ 1.0
    // so the literal is bit-identical to the verified path's rounding;
    // the set size comes from the rep's own token set
    val repN = Tables.documents(s, d)
      .select(col("doc_id").as("rep"),
        size(array_distinct(tokens(col("text")))).cast("long").as("n"))
    val self = groups.filter(col("members") >= 2)
      .join(repN, Seq("rep"))
      .select(col("rep").as("ra"), col("rep").as("rb"),
        col("n").as("na"), col("n").as("nb"),
        lit(1.0).as("containment"),
        col("members").as("members_a"), col("members").as("members_b"))
    cross.unionByName(self).orderBy("ra", "rb")
  }

  /** MinHash + LSH candidate pairs over token 3-gram shingles.
    *
    * Signature: for each of 8 bands, min over shingles of
    * md5(band || ":" || shingle) — md5's hex string order is a portable
    * stand-in for a random hash permutation. Docs sharing a (band, min)
    * bucket become candidate pairs (standard banding: similarity
    * threshold governed by band count). The plan is
    * explode → hash-agg min → self-equality-join on (band, sig) →
    * distinct — every step shuffle-partitioned by key, no cross join,
    * which is exactly the 100 TB formulation.
    */
  private val sigMemo = SessionMemo.frame("signatures", "documents")
  private val candMemo = SessionMemo.frame("candidates", "documents")
  private val hashMemo = SessionMemo.frame("content-hashes", "documents")

  /** Memoized, persisted (doc_id, content md5) frame — the exact-dup
    * half of the signature table: q76's exact check and the q69/q71
    * contraction pre-pass (docReps) both consume it, so corpus text is
    * md5-scanned once per (session, dir, fingerprint) rather than once
    * per call.
    */
  def contentHashes(s: SparkSession, d: String): DataFrame =
    hashMemo(s, d)(Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Memoized, persisted (doc_id, band, sig) LSH signature frames, keyed
    * by (session, dir, bands): q31, q32 and q39 all start from the same
    * signatures, so within one session the explode + min-agg subtree runs
    * ONCE instead of once per query (the production shape is the same —
    * signatures land in a table and every dedup pass reads it). The frame
    * is #docs × #bands rows — tiny next to the corpus — so MEMORY_AND_DISK
    * persistence is safe at any scale the executors can hold the corpus.
    */
  def lshSignatures(s: SparkSession, d: String, bands: Int = 8): DataFrame =
    sigMemo(s, d, bands)(
      signaturesFor(Tables.documents(s, d).select("doc_id", "text"), bands)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The LSH signature construction over an explicit (doc_id, text)
    * frame — the memo-free body of [[lshSignatures]], shared with the
    * streaming rep-graph maintenance ([[graft.streaming.StreamingOps]]
    * `pagerankMaintainAtIngest`) so a batch-arriving document gets the
    * IDENTICAL (band, sig) rows the batch memo would give it (the
    * incremental edge set's exactness rests on this).
    *
    * Band hash b = the 16-hex-char window of md5(shingle) at offset 2b:
    * ONE md5 per shingle (not per band), and all band-minimums fold
    * map-side in a single partial aggregation — the shuffle carries
    * #docs × #bands rows, not #shingles × #bands.
    */
  private[graft] def signaturesFor(docs: DataFrame,
      bands: Int = 8): DataFrame = {
    val sh = docs
      .select(col("doc_id"), explode(shingles3(tokens(col("text")))).as("sh"))
    val perDoc = sh
      .withColumn("h", md5(col("sh")))
      .groupBy("doc_id")
      .agg(
        min(substring(col("h"), bandOffset(0), BandHashWidth)).as("sig0"),
        (1 until bands).map(b =>
          min(substring(col("h"), bandOffset(b), BandHashWidth)).as(s"sig$b")): _*)
    val stackExpr = (0 until bands).map(b => s"$b, sig$b")
      .mkString(s"stack($bands, ", ", ", ") as (band, sig)")
    perDoc.selectExpr("doc_id", stackExpr)
  }

  /** Unordered LSH candidate pairs — the shared internal form: q31 and
    * q39 consume candidates as join input, where q32's presentation
    * `orderBy` would be a wasted range-partition + sort of a
    * millions-of-pairs frame on a dup-heavy corpus.
    *
    * Memoized and persisted like [[lshSignatures]] (same
    * fingerprint-keyed staleness discipline): q31, q32, q39 and q69 all
    * consume the SAME candidate set, and on a dup-heavy corpus the
    * (band, sig) self-join + distinct behind it is the dominant cost of
    * every consumer (STRESS_r04: q69 25.2 s, q31 19.7 s, q39 8.2 s —
    * each paying the join again). One persisted frame turns that into
    * one build per (session, dir, bands). The frame is
    * near-dup-density-sized (pairs, two longs each), far smaller than
    * the corpus, so MEMORY_AND_DISK persistence holds anywhere the
    * executors hold the signatures. Production shape unchanged:
    * candidates land in a table once, every dedup pass reads it.
    */
  /** The memoized frame is (doc_a, doc_b, n_match_bands): the same
    * (band, sig) self-join either way, with the distinct folded into a
    * count aggregation — so ONE persisted frame serves both the
    * candidate consumers (q31/q32/q39/q69/q77, which project the pair)
    * and the MinHash estimator (q81, which needs the per-pair matching-
    * band count). Group-by produces exactly the distinct pair set.
    */
  def lshCandidateCounts(s: SparkSession, d: String, bands: Int = 8): DataFrame =
    candMemo(s, d, bands) {
      val sig = lshSignatures(s, d, bands)
      val a = sig.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
      val b = sig.select(col("doc_id").as("doc_b"), col("band"), col("sig"))
      a.join(b, Seq("band", "sig"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_match_bands"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  def lshCandidatePairs(s: SparkSession, d: String, bands: Int = 8): DataFrame =
    lshCandidateCounts(s, d, bands).select("doc_a", "doc_b")

  def q32MinHashLsh(s: SparkSession, d: String, bands: Int = 8): DataFrame =
    lshCandidatePairs(s, d, bands).orderBy("doc_a", "doc_b")

  /** MinHash similarity ESTIMATION: for every candidate pair, the
    * fraction of the `bands` band min-hashes that agree (each agrees
    * with probability J marginally, so n/bands is unbiased; resolution
    * 1/bands). Honesty note on variance: the bands are OVERLAPPING
    * 16-hex-char windows of one md5 per shingle (the engine's portable
    * band construction, see lshSignatures), not independent random
    * permutations — adjacent windows share 14 characters, so bands tend
    * to agree/disagree together and the estimator's spread is
    * materially wider than the binomial model of the classical
    * independent-permutation sketch. Use it as a cheap RANKING /
    * pre-filter signal, not as a calibrated confidence; q31 is the
    * exact-verify twin when the decision needs true Jaccard.
    *
    * This is the sketch-only answer: the same (band, sig) equality
    * self-join candidates come from, with a COUNT aggregation instead
    * of a distinct — no token-set verify join, no second pass over
    * text. At 100 TB that is the whole point: similarity is priced
    * from the signature table alone. The spec pins the estimate's
    * internal consistency and its separation on exact-verified pairs.
    */
  def q81MinhashEstimate(s: SparkSession, d: String, bands: Int = 8): DataFrame =
    lshCandidateCounts(s, d, bands)
      .withColumn("est_jaccard",
        r4(col("n_match_bands").cast("double") / lit(bands.toDouble)))
      .orderBy("doc_a", "doc_b")

  /** Dedup RESOLUTION: turn candidate pairs into the kept corpus with
    * the greedy min-id policy — a document is dropped iff some
    * smaller-id document claimed it as a near-duplicate (doc_b side of a
    * pair, pairs always a<b). One anti-join; no iterative
    * connected-components pass (greedy is the standard first-cut policy
    * for LLM corpus dedup: transitive chains collapse toward the
    * smallest id, possibly over-dropping chain middles — documented
    * trade-off vs an O(iterations) CC job).
    */
  def q39DedupKeep(s: SparkSession, d: String): DataFrame = {
    val dropped = lshCandidatePairs(s, d).select(col("doc_b").as("doc_id"))
    // anti-join strategy left to AQE: on a low-dup corpus the dropped
    // list broadcasts (documents side never shuffles); on a dup-heavy
    // one it is corpus-sized and pinning broadcast(dropped) would be the
    // same mistake the 371 s q31 measurement recorded (NOTES.md)
    Tables.documents(s, d)
      .join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** Dedup resolution, CONNECTED-COMPONENTS policy — the alternative to
    * q39's greedy min-id: every document is labeled with the minimum
    * doc_id reachable through the LSH candidate-pair graph (singletons
    * label themselves), so one representative survives per transitive
    * near-dup cluster. Greedy q39 instead drops any doc ever claimed as
    * a pair's larger side, which on a chain 1–2, 2–3 (no 1–3 pair)
    * reaches the same keep-set but assigns no cluster identity, and on
    * star shapes (1–3, 2–3) keeps {1,2} while CC merges all three into
    * component 1 — CC is the policy that guarantees exactly one keeper
    * per transitive cluster.
    *
    * Algorithm: iterative min-label propagation (Pregel shape). Each
    * round pushes every node's current label across the symmetric edge
    * list and takes the per-node min; labels only decrease, so
    * sum(label) is a strictly-decreasing convergence witness and the
    * loop stops the first round it is unchanged. Each round is one hash
    * join + one hash agg, both partitioned by doc_id — the 100 TB shape.
    * Round count is bounded by component DIAMETER, and near-dup clusters
    * are band-collision cliques-ish (tiny diameters); the O(log n)
    * small-star/large-star variant is the upgrade path if a corpus ever
    * exhibits long chains. The driver-side loop holds only one scalar
    * per round (the sum), never row data.
    */
  // memoized, persisted propagation-components frame, fingerprint-keyed
  // like lshSignatures/lshCandidatePairs: q69 and q77 consume the SAME
  // (doc_id, component) labels, and the CC pass behind them is the
  // dominant cost of both at 20x (the production shape is identical —
  // component labels land in a table once per corpus version, every
  // resolution/keeper pass reads it). Unlike the sig/cand memos (whose
  // builds only CONSTRUCT a lazy plan), this build runs the CC loop's
  // jobs; a second thread asking for components waits for that result.
  private val compMemo = SessionMemo.frame("components", "documents")

  private def propagationComponents(s: SparkSession, d: String): DataFrame =
    compMemo(s, d)(contractedComponents(s, d, connectedComponents(_, 20))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  def q69DedupComponents(s: SparkSession, d: String, maxIters: Int = 20): DataFrame =
    // non-default maxIters bypasses the memo (it would change the labels
    // a non-converged long-chain graph yields)
    (if (maxIters == 20) propagationComponents(s, d)
     else contractedComponents(s, d, connectedComponents(_, maxIters)))
      .orderBy("doc_id")

  /** q69's semantics through the small-star/large-star variant — the
    * same transitive-cluster labels (one keeper per component, min-id
    * hub), gated by the SAME recursive-CTE oracle, so the long-chain
    * path is driver-verified end to end, not only spec-pinned equal.
    */
  def q71DedupComponentsStar(s: SparkSession, d: String, maxIters: Int = 50): DataFrame =
    contractedComponents(s, d, connectedComponentsStar(_, maxIters)).orderBy("doc_id")

  /** EXACT-DUPLICATE CONTRACTION around a components kernel — the
    * standard production pre-pass (exact dedup before fuzzy): identical
    * texts produce identical signatures, so an exact-dup group is a
    * clique in the candidate graph and can be contracted to its min-id
    * representative WITHOUT changing any component label (reachability
    * between groups ⟺ reachability between any of their members;
    * every group's min id IS its representative, so min-reachable-rep =
    * min-reachable-doc). The CC kernel then runs on the contracted
    * graph — sized by DISTINCT near-dup texts, not by copies — and one
    * broadcast-or-hash join expands labels back to all docs (a doc
    * whose group never pairs externally coalesces to its rep = the
    * group minimum; unique singletons coalesce to themselves).
    * MEASURED at the 20× dup-heavy corpus (20 identical copies per
    * doc): q69 19.4 s → 5.1 s, q71 24.1 s → 4.8 s, hash-identical
    * output — the clique edges the copies induced were most of the CC
    * work (NOTES.md round 5).
    */
  /** (doc_id → exact-dup-group representative) for every doc: the min
    * doc_id sharing its content hash.
    */
  private def docReps(s: SparkSession, d: String): DataFrame =
    contentHashes(s, d)
      .withColumn("rep", min("doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .select("doc_id", "rep")

  /** The candidate-pair graph after exact-dup contraction — what the
    * q69/q71 components kernels actually consume (public so the plan
    * artifact reports the kernel's true input size/rounds).
    */
  def contractedCandidatePairs(s: SparkSession, d: String): DataFrame = {
    val docRep = docReps(s, d)
    val ra = docRep.select(col("doc_id").as("doc_a"), col("rep").as("rep_a"))
    val rb = docRep.select(col("doc_id").as("doc_b"), col("rep").as("rep_b"))
    lshCandidatePairs(s, d)
      .join(ra, Seq("doc_a")).join(rb, Seq("doc_b"))
      .filter(col("rep_a") =!= col("rep_b")) // intra-group clique edges vanish
      .select(least(col("rep_a"), col("rep_b")).as("doc_a"),
        greatest(col("rep_a"), col("rep_b")).as("doc_b"))
      .distinct()
  }

  /** Unordered (doc_id, component) for every doc — the shared internal
    * form: q69/q71 add their presentation sort; q77 consumes it as join
    * input where a sort here would be destroyed by the keeper window's
    * exchange and re-done.
    */
  private def contractedComponents(s: SparkSession, d: String,
      cc: DataFrame => DataFrame): DataFrame = {
    val comp = cc(contractedCandidatePairs(s, d)).withColumnRenamed("doc_id", "rep")
    docReps(s, d).join(comp, Seq("rep"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("rep")).as("component"))
  }

  /** The propagation core over the PAIR GRAPH ONLY: nodes are the docs
    * that appear in at least one pair — at production dup densities a
    * small fraction of the corpus — so every per-round join and agg is
    * sized by the near-dup population, not the corpus. Callers union
    * singletons back in afterwards (q69 does it with one left join +
    * coalesce). Returns (doc_id, component) for paired docs only.
    */
  /** One min-label propagation round: push every node's current label
    * across the symmetric edge list and take the per-node min of (own
    * label, pushed labels). Factored out of the loop so PlanSpec can
    * assert the physical shape of the exact operator each round runs —
    * a hash join + hash agg partitioned by doc_id, never a nested loop.
    */
  def propagateOnce(edges: DataFrame, labels: DataFrame): DataFrame = {
    val pushed = edges.join(labels, edges("doc_a") === labels("doc_id"))
      .select(edges("doc_b").as("doc_id"), col("component"))
    labels.union(pushed)
      .groupBy("doc_id").agg(min("component").as("component"))
  }

  /** Symmetrize a (doc_a, doc_b) pair frame into a directed edge list in
    * ONE pass (explode of a 2-array), not a self-union — a union would
    * run the candidate-generation subtree twice to materialize the
    * persist. Public so the plan artifact and PlanSpec inspect the exact
    * edge construction the loop runs.
    */
  def symmetrizeEdges(pairs: DataFrame): DataFrame =
    pairs
      .select(explode(array(
        struct(col("doc_a"), col("doc_b")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))).as("e"))
      .select(col("e.doc_a").as("doc_a"), col("e.doc_b").as("doc_b"))

  /** Run an iterative kernel with shuffle parallelism sized to the
    * MEASURED edge count instead of the session-wide setting, restoring
    * the session conf afterwards. Rationale: a CC round is a join + agg
    * over the pair graph, and the pair graph is near-dup-density-sized —
    * often orders of magnitude smaller than the corpus the session's
    * shuffle.partitions was sized for. Paying 32 (or on a real cluster,
    * 2000) shuffle tasks per round times O(diameter) rounds on a
    * few-thousand-edge graph is pure scheduling overhead: at sf0.1 the
    * q69 loop spent ~0.5 s/round on a ~1k-edge graph. ~500k edges per
    * partition gives every round-task real work; AQE is also paused for
    * small graphs because its per-stage replanning/materialization adds
    * round latency while having nothing to coalesce beyond what the
    * explicit sizing already did (big graphs keep AQE: skew-split in the
    * propagation join matters there). This is the sizing rule, made
    * automatic, that the cluster tuning guide prescribes per-stage.
    */
  // serializes CC loops across threads: session conf is session-GLOBAL,
  // so two concurrently-tuning loops could each read the other's
  // temporary value as "previous" and the last restore would pin the
  // session at 1 partition / AQE off permanently. One lock removes that
  // corruption; a concurrent UNRELATED query on the same session still
  // plans under the loop conf for the loop's duration (inherent to
  // session-scoped conf — documented, and the loops are short).
  private val iterationConfLock = new Object

  private def withIterationConf[A](s: SparkSession, edgeCount: Long)(body: => A): A =
    iterationConfLock.synchronized {
      val prevParts = s.conf.get("spark.sql.shuffle.partitions", "200")
      val prevAqe = s.conf.get("spark.sql.adaptive.enabled", "true")
      val parts = math.max(1L, math.min(prevParts.toLong, edgeCount / 500000L + 1L))
      try {
        s.conf.set("spark.sql.shuffle.partitions", parts.toString)
        if (edgeCount < 500000L) s.conf.set("spark.sql.adaptive.enabled", "false")
        body
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
        s.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
    }

  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame =
    connectedComponentsWithRounds(pairs, maxIters)._1

  /** [[connectedComponents]] plus the number of propagation rounds it
    * ran — the observable the explain artifact records (round count is
    * bounded by component diameter; it IS the scale argument).
    */
  def connectedComponentsWithRounds(pairs: DataFrame, maxIters: Int = 20)
      : (DataFrame, Int) = {
    val edges = symmetrizeEdges(pairs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one count materializes the persisted edges AND sizes the loop's
      // shuffle parallelism (withIterationConf) to the graph, not the
      // corpus — the first witness job previously paid materialization
      val edgeCount = edges.count()
      withIterationConf(pairs.sparkSession, edgeCount) {
      // localCheckpoint per round truncates lineage — without it the
      // logical plan embeds the previous round's plan twice (union +
      // join) and doubles per iteration. eager=false so the convergence
      // witness below is the action that materializes the checkpoint:
      // ONE job per round, not two (the plan is truncated to a
      // LogicalRDD either way). On a real cluster this becomes a
      // reliable checkpoint to durable storage; the iteration count is
      // small either way (component diameter).
      //
      // sum(component) is the witness (labels only decrease, so the sum
      // strictly decreases until fixpoint). Read it null-safely: an
      // EMPTY pair graph (no LSH candidates — all docs distinct) has
      // zero label rows and sum() = NULL; q69 then labels every doc as
      // its own singleton via the left-join coalesce.
      def checkpointWithSum(df: DataFrame): (DataFrame, Long) = {
        val cp = df.localCheckpoint(eager = false)
        val row = cp.agg(sum("component")).head()
        (cp, if (row.isNullAt(0)) 0L else row.getLong(0))
      }
      var (labels, prevSum) = checkpointWithSum(
        edges.groupBy(col("doc_a").as("doc_id"))
          .agg(min(least(col("doc_a"), col("doc_b"))).as("component")))
      // sum == 0 means no labels at all (empty graph) or every label is
      // already the global minimum id 0 — converged either way, since
      // non-negative labels only decrease
      var converged = prevSum == 0L
      var iters = 0
      while (!converged && iters < maxIters) {
        val (next, nextSum) = checkpointWithSum(propagateOnce(edges, labels))
        // the witness materialized `next`, so the round it read from is
        // superseded (k-center's one-action-behind release)
        SessionMemo.unpersist(labels)
        labels = next
        converged = nextSum == prevSum
        prevSum = nextSum
        iters += 1
      }
      if (!converged)
        // surfaced loudly (but non-fatally): a component with diameter >
        // maxIters would otherwise return partially-propagated labels
        // that mismatch any exact oracle with no signal at all
        System.err.println(
          s"[graft] connectedComponents did NOT converge after $maxIters rounds — " +
            "labels may be partially propagated (component diameter exceeds maxIters); " +
            "raise maxIters for long-chain graphs")
      // no ordering promise: every consumer either joins (q69 — a sort
      // here would be destroyed and re-done) or aggregates
      (labels, iters)
      }
    } finally edges.unpersist()
  }

  /** Connected components by SMALL-STAR / LARGE-STAR alternation — the
    * O(log n)-round alternative to [[connectedComponents]]' min-label
    * propagation, for graphs whose component DIAMETER is large (long
    * near-dup chains), where propagation would pay one round per hop.
    * Public-literature algorithm ("Connected Components in MapReduce and
    * Beyond", Kiveris et al., SoCC 2014): maintain edges oriented
    * (hi → lo); each round applies
    *
    *  - large-star: from the symmetric adjacency, every center u attaches
    *    each strictly-larger neighbor to m = min(N(u) ∪ u), and
    *  - small-star: every center u attaches itself and its smaller
    *    neighbors to its minimum neighbor,
    *
    * until the edge set reaches a fixpoint — at which point every
    * component is a star whose hub is its minimum id. Round count is
    * logarithmic in component size, independent of diameter. Each half-
    * round is one explode + hash agg + hash join, all keyed — the same
    * 100 TB shape as propagation, at roughly 2× the per-round cost;
    * MEASURED verdicts on which variant wins where are in NOTES.md (the
    * LSH band-collision graphs q69 actually sees have tiny diameters, so
    * q69 keeps propagation; this is the documented long-chain path).
    * Returns (doc_id, component) for paired docs only, identical to
    * [[connectedComponents]] output.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    connectedComponentsStarWithRounds(pairs, maxIters)._1

  def connectedComponentsStarWithRounds(pairs: DataFrame, maxIters: Int = 50)
      : (DataFrame, Int) = {
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(eager = false)
    // fixpoint witness: (edge count, two independent order-insensitive
    // hash sums) — read in the same job that materializes each round's
    // checkpoint. Per-edge hashes are bounded to 2^31 so the sums cannot
    // overflow a long under ANSI arithmetic below 2^31 edges (a 4-billion-
    // edge pair graph; the corpus would be far past cluster scale first),
    // and two sums of INDEPENDENT hashes put a false-fixpoint collision
    // near 2^-62 — a wrong early stop needs both to collide on the same
    // round the count also matches.
    def witness(df: DataFrame): (Long, Long, Long) = {
      val bound = lit(1L << 31)
      val r = df.agg(count(lit(1)),
        sum(pmod(xxhash64(col("u"), col("v")), bound)),
        sum(pmod(xxhash64(col("v"), col("u")), bound))).head()
      def ns(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
      (r.getLong(0), ns(1), ns(2))
    }
    var w = witness(edges)
    var converged = w._1 == 0L
    var iters = 0
    // w._1 is the materialized edge count — size the loop's shuffles to
    // the graph (see withIterationConf); the post-loop leaves/hubs
    // projection runs lazily under the restored session conf
    withIterationConf(pairs.sparkSession, w._1) {
    while (!converged && iters < maxIters) {
      // LARGE-STAR over the symmetric adjacency
      val sym = symmetrizeEdges(edges
        .select(col("u").as("doc_a"), col("v").as("doc_b")))
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      val mLarge = sym.groupBy("u").agg(least(col("u"), min(col("v"))).as("m"))
      val large = sym.join(mLarge, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // SMALL-STAR over the (hi → lo) orientation large-star preserves
      val mSmall = large.groupBy("u").agg(min(col("v")).as("m"))
      val small = large.join(mSmall, "u")
        .select(explode(array(
          struct(col("v").as("u"), col("m").as("v")),
          struct(col("u"), col("m").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .filter(col("u") =!= col("v")).distinct()
        .localCheckpoint(eager = false)
      val w2 = witness(small)
      SessionMemo.unpersist(edges)
      edges = small
      converged = w2 == w
      w = w2
      iters += 1
    }
    }
    if (!converged)
      System.err.println(
        s"[graft] connectedComponentsStar did NOT converge after $maxIters rounds")
    // at fixpoint every component is a star (leaf → hub edges, hub = min
    // id); hubs label themselves
    val leaves = edges.select(col("u").as("doc_id"), col("v").as("component"))
    val hubs = edges.select(col("v").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("component"))
    (leaves.union(hubs).distinct(), iters)
  }

  /** INCREMENTAL dedup: classify an incoming batch against the EXISTING
    * corpus — the production shape for a continuously-fed training
    * pipeline, where yesterday's corpus is already deduped and only the
    * new arrivals need checking (running q30/q32 over corpus ∪ batch
    * would re-pay the whole corpus every ingest). Batch stand-in:
    * doc_id % 10 == 7 (deterministic, ~10% of docs — mirrors q74's
    * eval-set convention).
    *
    * Two checks, exact-before-fuzzy (the q69-contraction production
    * order):
    *  - exact: the batch doc's content md5 equals an existing doc's —
    *    reports the minimum such corpus doc as `exact_rep`;
    *  - near: the batch doc shares an LSH band signature with an
    *    existing doc — reports the minimum such corpus doc as
    *    `near_rep`.
    *
    * Both checks read PERSISTED per-corpus frames — [[contentHashes]]
    * for the exact side, [[lshSignatures]] for the near side (in
    * production, the hash/signature tables built at last ingest) — so
    * the steady-state incremental cost is one hash join + one
    * (band, sig) join, each sized by the BATCH, not the corpus: AQE
    * broadcasts the batch side when it fits, which is the expected
    * regime (small batch vs huge corpus). Corpus text is scanned once
    * per corpus version (the memo builds), never per ingest.
    */
  def q76IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val hashed = contentHashes(s, d)
    val isBatch = col("doc_id") % 10 === 7
    val batch = hashed.filter(isBatch)
    val exactRep = hashed.filter(!isBatch)
      .groupBy("h").agg(min("doc_id").as("exact_rep"))
    val sig = lshSignatures(s, d)
    val nearRep = sig.filter(col("doc_id") % 10 === 7)
      .join(sig.filter(col("doc_id") % 10 =!= 7)
          .select(col("doc_id").as("corpus_id"), col("band"), col("sig")),
        Seq("band", "sig"))
      .groupBy("doc_id").agg(min("corpus_id").as("near_rep"))
    batch
      .join(exactRep, Seq("h"), "left")
      .join(nearRep, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_rep").isNotNull, "exact_dup")
          .when(col("near_rep").isNotNull, "near_dup")
          .otherwise("new").as("status"),
        col("exact_rep"), col("near_rep"))
      .orderBy("doc_id")
  }

  /** CANONICAL-KEEPER selection: for each transitive near-dup cluster
    * (q69's connected components), pick the single document to train on —
    * the highest-QUALITY member, not the min-id one (the doc you keep
    * should be the best copy, not the earliest-crawled). Rank is on the
    * 4-dp q22/q73 quality score with doc_id tie-break, so the choice is
    * deterministic and cross-engine stable.
    *
    * Plan shape: the component labels come from the oracle-gated CC pass;
    * quality is a pure map-side pass over documents; then ONE exchange on
    * `component` feeds both window functions (the keeper rank and the
    * member count). Sized by the corpus' component structure — no
    * all-pairs anything.
    */
  def q77ComponentKeeper(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = propagationComponents(s, d)
    val byComp = Window.partitionBy("component")
    comp.join(TextOps.docQuality(s, d), Seq("doc_id"))
      .withColumn("rk", row_number().over(
        byComp.orderBy(col("quality").desc, col("doc_id"))))
      .withColumn("n_docs", count(lit(1)).over(byComp))
      .filter(col("rk") === 1)
      .select(col("component"), col("n_docs"),
        col("doc_id").as("keeper_doc_id"), col("quality").as("keeper_quality"))
      .orderBy("component")
  }

  /** LEAKAGE-SAFE train/val/test split: bucket on the hash of the
    * near-dup COMPONENT id, not the document content (q67's split), so
    * every member of a transitive near-dup cluster lands in the same
    * split. This is why production pipelines run connected components
    * BEFORE splitting: a content-hash split keeps exact dups together
    * (identical text ⇒ identical hash) but scatters NEAR-dups across
    * train and eval — evaluation leakage. Same 90/5/5 byte-bucket
    * arithmetic as q67, applied to the component label; component
    * labels come from the persisted memo ([[q69DedupComponents]]'
    * frame), so the split itself is one map-side pass over it.
    */
  def q82ComponentSplit(s: SparkSession, d: String): DataFrame = {
    val bucket = conv(substring(md5(col("component").cast("string")), 1, 2), 16, 10)
      .cast("long")
    propagationComponents(s, d)
      .select(col("doc_id"), col("component"),
        when(bucket < 230L, "train").when(bucket < 243L, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** SimHash fingerprints (16-bit, md5-digit-parity construction — see
    * TextFunctions.simhash16) over each document's distinct token set.
    * Computed entirely map-side, in each document's row: the
    * [[graft.functions.expressions.SimHash16]] kernel hashes each
    * distinct token once and feeds all 16 bit counters from that digest.
    * The only exchange is the final sort's.
    */
  def q33SimHash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), simhash16(array_distinct(tokens(col("text")))).as("simhash"))
      .orderBy("doc_id")

  /** Embedding-cosine near-duplicate pairs, two-phase (the q31 shape):
    * banded sign-LSH CANDIDATE GENERATION + exact cosine VERIFY.
    *
    * Candidates: `bands` independent sign-LSH buckets over disjoint
    * 8-dimension windows (VectorFunctions.signBucketAt); a pair is a
    * candidate iff ANY band's bucket matches (OR-of-bands recall
    * amplification, the multi-table LSH construction). Candidate
    * generation is equality joins on (band, bucket) — per-band fan-in is
    * bounded by 2^bitsPerBand buckets, never an all-pairs cross join.
    * Verify: exact cosine on the candidate pairs only; join strategy is
    * deliberately left to AQE (see the inline note — the candidate set
    * is collision-density-sized, a constant fraction of n² on
    * unclustered data, so pinning it broadcast would be wrong at scale).
    *
    * Recall caveat (documented, inherent to LSH — same as q31): pairs
    * whose sign patterns disagree in every band are not scored. The
    * DuckDB oracle mirrors the identical banded-candidate CTEs, so the
    * gate checks this plan's exact semantics. Sizing rule: P(bit agrees)
    * = 1 − θ/π, so at the production near-dup threshold (cos ≥ 0.9,
    * θ ≤ 26°) 8 bands × 8 bits recall is ~0.94 while candidates stay
    * ~3% of all pairs (measured on the fixture); the fixture's 0.4
    * threshold (max pair sim ~0.51 — weakly-similar pairs, not true
    * near-dups) is the adversarial case, recall 16/59 there. More bands
    * buys recall linearly in candidate volume; fewer bits per band buys
    * recall at 2× candidate volume per bit dropped. An earlier exact
    * all-pairs formulation (`a.join(broadcast(b), vec_a < vec_b)`) was
    * quadratic — 68 s at a 20k-vector stress run ≙ 200M pairs — and is
    * retained conceptually by q40 (exact top-k baseline), not here.
    */
  def q34EmbeddingNearDup(s: SparkSession, d: String, threshold: Double = 0.4,
      bands: Int = 8, bitsPerBand: Int = 8): DataFrame =
    (if (threshold == 0.4 && bands == 8 && bitsPerBand == 8)
       embeddingNearDupPairs(s, d)
     else embeddingNearDupRaw(s, d, threshold, bands, bitsPerBand))
      .orderBy("vec_a", "vec_b")

  // memoized, persisted verified-pair frame at the DEFAULT parameters —
  // q34 orders it, q87 closes over it, q157 reconciles it against the
  // media fingerprint graph, so the banded candidate join +
  // exact cosine verify runs once per (session, dir, corpus version)
  // rather than once per consumer
  private val epairMemo = SessionMemo.frame("embedding-pairs", "embeddings")

  private[graft] def embeddingNearDupPairs(s: SparkSession, d: String): DataFrame =
    epairMemo(s, d)(embeddingNearDupRaw(s, d, 0.4, 8, 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private def embeddingNearDupRaw(s: SparkSession, d: String, threshold: Double,
      bands: Int, bitsPerBand: Int): DataFrame = {
    import graft.functions.VectorFunctions._
    val e = Tables.embeddings(s, d)
    val banded = e.select(col("vec_id"), posexplode(array(
      (0 until bands).map(b => signBucketAt(col("embedding"), b * bitsPerBand, bitsPerBand)): _*)))
      .toDF("vec_id", "band", "bucket")
    val x = banded.select(col("vec_id").as("vec_a"), col("band"), col("bucket"))
    val y = banded.select(col("vec_id").as("vec_b"), col("band"), col("bucket"))
    val cand = x.join(y, Seq("band", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
      norm(col("embedding")).as("norm_a"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
      norm(col("embedding")).as("norm_b"))
    // unlike q31 (candidates ≈ near-dup density, safely broadcast), this
    // candidate set is sign-collision-sized — a constant FRACTION of n²
    // on unclustered data — so it must not be pinned broadcast; AQE picks
    // broadcast when it fits, shuffle-hash otherwise
    cand.join(a, Seq("vec_a")).join(b, Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        r4(cosinePrenormed(dot(col("emb_a"), col("emb_b")), col("norm_a"), col("norm_b")))
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** SEMANTIC CLUSTERS — SemDeDup-style resolution over the EMBEDDING
    * near-dup graph: q34's verified pairs (sign-LSH candidates, exact
    * cosine ≥ threshold) become edges, connected components labels each
    * vector with the min vec_id reachable through chains of semantic
    * near-duplicates, and every vector not in any pair is its own
    * singleton cluster. This is the embedding-space twin of q69 (which
    * clusters the TEXT near-dup graph): production semantic dedup
    * (SemDeDup, Abbas et al. 2023) keeps one representative per such
    * cluster; q77's keeper-selection applies downstream unchanged.
    *
    * Scale shape: edge generation is q34's banded equality join (never
    * all-pairs), the CC kernel runs on the pair graph only (near-dup-
    * density-sized, not corpus-sized), and singletons rejoin via one
    * left join + coalesce — the same 100 TB argument as q69, inherited
    * from the shared [[connectedComponents]] kernel. Transitivity is
    * the point: cosine-θ chains A~B~C with cos(A,C) < θ still cluster
    * together, which is what "keep one per semantic group" means.
    */
  def q87SemanticClusters(s: SparkSession, d: String, threshold: Double = 0.4)
      : DataFrame = {
    // default threshold reads the shared memoized pair frame (no re-pay
    // of the candidate join + verify q34 already ran this session)
    val pairs = (if (threshold == 0.4) embeddingNearDupPairs(s, d)
                 else embeddingNearDupRaw(s, d, threshold, 8, 8))
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val labels = connectedComponents(pairs)
      .select(col("doc_id").as("vec_id"), col("component"))
    Tables.embeddings(s, d).select("vec_id")
      .join(labels, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("cluster"))
      .orderBy("vec_id")
  }

  /** PER-SOURCE CURATION REPORT — the dedup health dashboard a corpus
    * release ships with: per source, how many docs, how many an exact
    * (content-hash, min-id keeper) pass would remove, how many the full
    * transitive near-dup resolution removes, and the removal rate.
    * `n_near_dups` counts non-keepers under CC labels, so it is a
    * superset of `n_exact_dups` by construction (identical text ⇒ same
    * signatures ⇒ same component).
    *
    * Cost shape: both inputs are existing corpus passes — the exact-rep
    * window over content hashes and the PERSISTED component memo
    * ([[q69DedupComponents]]' frame) — so the report itself is two
    * joins keyed on doc_id plus one source-keyed agg whose cardinality
    * is |sources|. At 100 TB this is the cheap read-back over artifacts
    * the pipeline has already paid for, which is exactly how production
    * dedup reporting works (labels land in a table once per corpus
    * version; every report reads them).
    */
  def q89CurationReport(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "source")
    docs.join(docReps(s, d), Seq("doc_id"))
      .join(propagationComponents(s, d), Seq("doc_id"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("rep") =!= col("doc_id"), 1L).otherwise(0L))
          .as("n_exact_dups"),
        sum(when(col("component") =!= col("doc_id"), 1L).otherwise(0L))
          .as("n_near_dups"))
      .select(col("source"), col("n_docs"), col("n_exact_dups"), col("n_near_dups"),
        r4(col("n_near_dups").cast("double") / col("n_docs").cast("double"))
          .as("near_dup_rate"))
      .orderBy("source")
  }

  /** TRIANGLE participation counts over the verified near-dup graph —
    * the cluster-density diagnostic (a doc in many triangles sits in a
    * tight duplication clique; a component with no triangles is a
    * chain, which q71's star kernels handle better than q69's
    * propagation — this measurement tells you which).
    *
    * NEVER enumerated on the raw graph: exact-duplicate groups are
    * cliques by construction (identical shingles ⇒ LSH candidates,
    * identical token sets ⇒ jaccard 1), and a clique of m docs holds
    * C(m,3) triangles — the naive wedge join on a dup-heavy corpus is
    * cubic in group size (MEASURED: the 20× stress corpus did not
    * finish in 20 minutes). Instead: contract exact-dup groups (the
    * same docReps pre-pass q69/q71 run), enumerate triangles on the
    * CONTRACTED graph only (wedge join + closing-edge semi join over
    * a<b-canonical edges — each contracted triangle counted once), and
    * expand per-doc counts in closed form ([[expandTriangles]]). The
    * expansion is exact because edge structure is group-uniform: both
    * LSH candidacy (shingle sets) and the verified jaccard (distinct
    * token sets) are functions of content alone, so doc x∈A connects
    * to y∈B iff the representatives connect, and every group with ≥1
    * shingle is internally complete. Groups whose docs have no
    * 3-shingle (under 3 tokens) never enter q31's graph and are
    * excluded up front.
    */
  def q102TriangleCounts(s: SparkSession, d: String,
      threshold: Double = 0.6): DataFrame =
    expandedTriangleStats(s, d, threshold)
      .filter(col("n_triangles") > 0L)
      .select("doc_id", "n_triangles")
      .orderBy("doc_id")

  /** LOCAL CLUSTERING COEFFICIENT per doc over the same graph —
    * 2·triangles / (degree·(degree−1)), the density companion of q102
    * (coefficient 1 = the doc's neighborhood is a clique = classic
    * boilerplate duplication; near 0 = hub-and-spoke near-dups, the
    * template-with-variations shape). Both inputs come from the SAME
    * contracted expansion — the blown-up degree is m_A−1+Σm_B, a
    * byproduct of the q102 aggregates — so the marginal cost over q102
    * is one projection. Coefficient is null when degree < 2 (undefined,
    * mirrored by the oracle's CASE).
    */
  def q103ClusteringCoefficient(s: SparkSession, d: String,
      threshold: Double = 0.6): DataFrame =
    expandedTriangleStats(s, d, threshold)
      .filter(col("degree") > 0L)
      .select(col("doc_id"), col("degree"), col("n_triangles"),
        r4(when(col("degree") >= 2L,
          lit(2.0) * col("n_triangles").cast("double") /
            (col("degree") * (col("degree") - 1L)).cast("double"))
          .otherwise(lit(null))).as("clustering"))
      .orderBy("doc_id")

  // memoized, persisted expansion frame — q102 and q103 are two
  // projections of the SAME contracted-graph computation, so the
  // verify-join + triangle enumeration runs once per (session, dir,
  // threshold, fingerprint). The frame is doc-sized (one stats row per
  // doc) — safe to persist. The entry also holds the two checkpoint
  // frames the expansion reads and releases them with it: nothing else
  // unpersists them, and something outside the memo keeps their RDDs
  // reachable, so GC never frees them either.
  private val triMemo = SessionMemo[(DataFrame, DataFrame, DataFrame)](
      "triangles", "documents") { case (t, g, e) => SessionMemo.unpersist(t, g, e) }

  /** The contracted verified near-dup graph + group map both graph
    * metrics run on: shingle-eligible docs grouped by content hash,
    * contracted candidate edges verified with q31's exact jaccard
    * expression once per GROUP pair, expanded via [[expandTriangles]].
    */
  private def expandedTriangleStats(s: SparkSession, d: String,
      threshold: Double): DataFrame =
    triMemo(s, d, threshold) {
      val (groups, repEdges) = triangleGraph(s, d, threshold)
      (expandTriangles(repEdges, groups)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        groups, repEdges)
    }._1

  /** (groups, repEdges): the group map and the verified contracted
    * edges, both lazily checkpointed.
    */
  private def triangleGraph(s: SparkSession, d: String,
      threshold: Double): (DataFrame, DataFrame) = {
    val eligible = Tables.documents(s, d)
      .select(col("doc_id"),
        size(shingles3(tokens(col("text")))).as("nsh"))
      .filter(col("nsh") > 0).select("doc_id")
    // same truncation rationale as repEdges below: the group map feeds
    // the multiplicity aggregate (itself joined three ways) plus the
    // final fan-out join, so its scan+shingle lineage would otherwise
    // be re-inlined five times across the plan
    val groups = docReps(s, d).join(eligible, Seq("doc_id"))
      .localCheckpoint(eager = false)
    val dt = Tables.documents(s, d)
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
    val ra = dt.select(col("doc_id").as("doc_a"), col("toks").as("ta"),
      size(col("toks")).as("na"))
    val rb = dt.select(col("doc_id").as("doc_b"), col("toks").as("tb"),
      size(col("toks")).as("nb"))
    val repEdges = contractedCandidatePairs(s, d)
      .join(ra, Seq("doc_a")).join(rb, Seq("doc_b"))
      .withColumn("common",
        graft.functions.expressions.TextExpressions
          .arrayIntersectCount(col("ta"), col("tb")))
      .filter(r4(col("common").cast("double") /
        (col("na") + col("nb") - col("common")).cast("double")) >= threshold)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      // lineage truncation: expandTriangles references the verified
      // edge frame FOUR times (symmetrized degree pass + three-way
      // wedge/closure joins); without the checkpoint each branch
      // re-inlines the whole candidate+verify lineage and the q102/
      // q103 explain is ~6.6k lines — a real driver-side plan-compile
      // cost at scale, and the AQE planner re-optimizes the identical
      // subtree once per branch. The checkpointed frame is the
      // CONTRACTED edge list (group-count-sized, the same bound the CC
      // kernels checkpoint at); eager=false so the memo's persist is
      // the materializing action.
      .localCheckpoint(eager = false)
    (groups, repEdges)
  }

  /** Exact per-doc triangle counts of the BLOWN-UP graph from its
    * contracted form: `repEdges` (a<b representative edges) plus
    * `groups` (doc_id, rep). For a doc in group A with multiplicity
    * m_A, the triangles through it partition by where the other two
    * corners live — both in A: C(m_A−1, 2); one other A member + one
    * member of a neighbor: (m_A−1)·Σ_{B∈N(A)} m_B; two members of one
    * neighbor B: Σ_B C(m_B, 2); members of two DISTINCT neighbors that
    * are themselves adjacent: Σ_{contracted triangles (A,B,C)} m_B·m_C.
    * All integer arithmetic; every aggregate runs on the contracted
    * graph (group-count-sized), and only the final join fans back out
    * to docs.
    */
  def expandTriangles(repEdges: DataFrame, groups: DataFrame): DataFrame = {
    val m = groups.groupBy("rep").agg(count(lit(1)).as("m"))
    val sym = repEdges.select(explode(array(
        struct(col("a").as("r"), col("b").as("n")),
        struct(col("b").as("r"), col("a").as("n")))).as("e"))
      .select(col("e.r").as("rep"), col("e.n").as("nbr"))
    val sp = sym
      .join(m.select(col("rep").as("nbr"), col("m").as("m_n")), Seq("nbr"))
      .groupBy("rep").agg(
        sum("m_n").as("s_a"),
        sum(expr("m_n * (m_n - 1) div 2")).as("p_a"))
    val wedges = repEdges
      .join(repEdges.select(col("a").as("b"), col("b").as("c")), Seq("b"))
    val tris = wedges.join(repEdges.select(col("a"), col("b").as("c")),
      Seq("a", "c"), "left_semi")
    val t = tris
      .join(m.select(col("rep").as("a"), col("m").as("m_a")), Seq("a"))
      .join(m.select(col("rep").as("b"), col("m").as("m_b")), Seq("b"))
      .join(m.select(col("rep").as("c"), col("m").as("m_c")), Seq("c"))
      .select(explode(array(
        struct(col("a").as("rep"), (col("m_b") * col("m_c")).as("t")),
        struct(col("b").as("rep"), (col("m_a") * col("m_c")).as("t")),
        struct(col("c").as("rep"), (col("m_a") * col("m_b")).as("t")))).as("e"))
      .select(col("e.rep").as("rep"), col("e.t").as("t"))
      .groupBy("rep").agg(sum("t").as("t_a"))
    groups.join(m, Seq("rep"))
      .join(sp, Seq("rep"), "left")
      .join(t, Seq("rep"), "left")
      .select(col("doc_id"),
        // blown-up degree: the rest of the doc's own clique plus every
        // member of every adjacent group — a byproduct of the same
        // aggregates, consumed by the clustering coefficient (q103)
        (col("m") - 1L + coalesce(col("s_a"), lit(0L))).as("degree"),
        (expr("(m - 1) * (m - 2) div 2")
          + (col("m") - 1L) * coalesce(col("s_a"), lit(0L))
          + coalesce(col("p_a"), lit(0L))
          + coalesce(col("t_a"), lit(0L))).as("n_triangles"))
  }

  /** FUZZY entity matching at edit distance ≤ 1 — record linkage by
    * SymSpell-style DELETION-NEIGHBORHOOD blocking: each name emits
    * itself plus every single-character deletion as candidate keys;
    * any two strings within one edit (substitution, insertion,
    * deletion) provably share a key (substitution: delete the differing
    * position from both; ins/del: the shorter string IS a deletion of
    * the longer), so an EQUALITY join on the key finds every true pair
    * — the same never-O(n²) shape as the LSH families, with the key
    * fan-out bounded by string length, not corpus size. Exact
    * `levenshtein` verification then drops the false candidates
    * (distance-2 pairs that happen to share a deletion). The oracle is
    * the brute-force quadratic join — affordable for DuckDB at oracle
    * scale, which is exactly why the engine side must NOT use it.
    */
  def q101FuzzyNames(s: SparkSession, d: String): DataFrame =
    fuzzyNamePairs(Tables.customer(s, d)
      .select(col("c_custkey").as("key"), col("c_name").as("name")))
      .orderBy("key_a", "key_b")

  /** Core of [[q101FuzzyNames]] over any (key, name) frame — separated
    * so the spec can drive it with synthetic insertion/deletion/
    * transposition cases (customer names are all the same length, so
    * the fixture alone only exercises the substitution path of the
    * deletion-neighborhood proof).
    */
  def fuzzyNamePairs(named: DataFrame): DataFrame = {
    val keys = named
      .select(col("key"), col("name"),
        explode(array_union(
          array(col("name")),
          expr("""transform(sequence(1, length(name)),
                 | i -> concat(substring(name, 1, i - 1),
                 |             substring(name, i + 1, length(name))))
                 |""".stripMargin.replace('\n', ' ')))).as("k0"))
      // join on the 64-bit HASH of the deletion key, not the ~25-char
      // key string: the shuffled candidate space carries 8 bytes per
      // key instead of the string, and a (vanishingly rare) xxhash64
      // collision only ADDS a candidate the exact levenshtein verify
      // below then drops — plan-only, never answer-visible. Measured:
      // ~10% (4.37 -> 4.00 s sf0.1, 4.19 -> 3.77 s at 20x) — the
      // remaining cost is the candidate-pair volume itself (structured
      // fixture names make distance-1 neighborhoods dense), not key
      // width
      .select(col("key"), xxhash64(col("k0")).as("k"))
    // SLIM candidate space (round-14 staged attribution, Q101Probe:
    // full query 3.35 → 1.71 s at sf0.1): the join and the distinct
    // carry ONLY (key_a, key_b, k) — three 8-byte longs — and the
    // names re-attach to the deduped pairs by two keyed equality
    // joins against the 15k-row base (AQE broadcasts it). The r10
    // measurement that shaped the previous form had rotted with the
    // fixture: candidate multiplicity is now 1.02 (977k occurrences →
    // 956k distinct pairs), so distinct-before-verify saves almost no
    // DPs, and verify selectivity is 0.27 (956k → 262.5k) — the
    // dominant cost was the distinct's exchange hauling two ~25-char
    // strings per row, which this shape removes. Length-segmented
    // keys remain a no-op under this join: keys of different lengths
    // can never be string-equal, so cross-length candidates already
    // vanish (NOTES round 10).
    val a = keys.select(col("key").as("key_a"), col("k"))
    val b = keys.select(col("key").as("key_b"), col("k"))
    a.join(b, Seq("k"))
      .where(col("key_a") < col("key_b"))
      .select("key_a", "key_b")
      .distinct()
      .join(named.select(col("key").as("key_a"), col("name").as("name_a")),
        Seq("key_a"))
      .join(named.select(col("key").as("key_b"), col("name").as("name_b")),
        Seq("key_b"))
      // bounded edit distance: the 3-arg form abandons a row's DP as
      // soon as distance 1 is exceeded (returns -1), so the verify does
      // O(threshold·len) work per candidate, not O(len²); surviving
      // rows carry the same 0/1 value the oracle's plain levenshtein
      // reports
      .withColumn("lev",
        levenshtein(col("name_a"), col("name_b"), 1).cast("long"))
      .where(col("lev") >= 0L && col("lev") <= 1L)
      .select("key_a", "key_b", "name_a", "name_b", "lev")
  }

  /** COMPONENT SIZE HISTOGRAM — the one-look answer to "how duplicated
    * is this corpus": for each near-dup cluster size, how many clusters
    * have that size and how many documents they hold. size 1 rows are
    * the unique mass; the tail is what dedup will collapse (a cluster
    * of size s yields s − 1 removals under one-keeper resolution, so
    * Σ (s−1)·n_components over this frame IS q89's total removal count
    * — the histogram is the distributional view of the same labels).
    *
    * Cost shape: reads the PERSISTED component-label memo (the q69/q77/
    * q89 frame — no new corpus pass), one agg keyed by component
    * (label-table-sized), one agg keyed by size (output ≤ max cluster
    * size rows). At 100 TB this is the cheap artifact read-back, same
    * as q89.
    */
  def q129ComponentSizeHist(s: SparkSession, d: String): DataFrame =
    propagationComponents(s, d)
      .groupBy("component").agg(count(lit(1)).as("csize"))
      .groupBy("csize").agg(count(lit(1)).as("n_components"))
      .select(col("csize"), col("n_components"),
        (col("csize") * col("n_components")).as("n_docs"))
      .orderBy("csize")

  /** DEDUP-ADJUSTED MIXING — q124's temperature draw run the way a
    * production pipeline actually sequences it: AFTER dedup. Eligible
    * documents are the component KEEPERS (docs whose q69 component
    * label is their own id — one representative per transitive
    * near-dup cluster, singletons included), per-source weights are
    * √(effective unique mass) rather than √(raw count), and the
    * deterministic md5-ranked draw selects only keepers. A source
    * whose volume is mostly duplicates stops buying mixing share with
    * its copies — the failure mode of mixing BEFORE dedup.
    *
    * Same exactness contract as q124 (IEEE sqrt → micro-unit BIGINT
    * floor, integer quota division, no RNG); same cost shape plus one
    * doc_id-keyed join against the PERSISTED component memo (the
    * q69/q77/q89/q129 frame — already paid for).
    */
  def q134DedupAdjustedMix(s: SparkSession, d: String, target: Int = 200)
      : DataFrame = {
    val elig = Tables.documents(s, d).select("doc_id", "source")
      .join(propagationComponents(s, d), Seq("doc_id"))
      .filter(col("component") === col("doc_id"))
      .select("doc_id", "source")
    val w = elig.groupBy("source").agg(count(lit(1)).as("effective"))
      .withColumn("w",
        floor(sqrt(col("effective").cast("double")) * lit(1e6)).cast("long"))
    val tot = w.agg(sum("w").as("wtot"))
    val quota = w.crossJoin(broadcast(tot))
      .withColumn("quota", expr(s"$target * w div wtot"))
      .select("source", "effective", "quota")
    val draw = elig
      .withColumn("hk", md5(concat(col("doc_id").cast("string"), lit("-dmix"))))
    // hk is an md5 hex key → the hash-bucket rank (r17): one hash
    // exchange, no range-sampler pass over the component join
    ScalarSuites.rank(draw, Seq(col("hk"), col("doc_id")), "rk",
        groupCols = Seq("source"), md5Lead = true)
      .join(broadcast(quota), Seq("source"))
      .filter(col("rk") <= col("quota"))
      .select(col("source"), col("doc_id"), col("rk"), col("effective"),
        col("quota"))
      .orderBy("source", "rk")
  }

  /** SEMANTIC DECONTAMINATION — the embedding-space twin of q74/q86's
    * n-gram benchmark decontamination: hold out an eval set (exact-k
    * per label, q99's salted-md5 rank discipline), then flag every
    * TRAINING vector that is a verified semantic near-duplicate of an
    * eval vector — the paraphrase-level leakage n-gram overlap misses.
    * Output is the contamination edge list (train_vec, eval_vec,
    * cos_sim): `train_vec` is the row to drop/quarantine, `eval_vec`
    * the evidence. Pairs inside the holdout (eval-eval) are not
    * contamination and are excluded; so are train-train pairs.
    *
    * Scale shape: reuses the MEMOIZED q34 verified-pair frame (banded
    * sign-LSH candidates + exact cosine — never all-pairs, already paid
    * for by q34/q87), and the holdout membership frame is eval-sized
    * (k·|labels| rows) — broadcast into two left-semi-style flag joins.
    * At 100 TB: one pass over the near-dup-density-sized pair table
    * with a broadcast probe, the same shape as q86's Bloom verify.
    */
  def q130SemanticDecontaminate(s: SparkSession, d: String, k: Int = 10)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("label").orderBy(col("hk"), col("vec_id"))
    val hold = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        md5(concat_ws("|", col("vec_id").cast("string"), lit("q130-holdout")))
          .as("hk"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("vec_id").as("hold_id"))
    val ha = hold.select(col("hold_id").as("vec_a"), lit(true).as("a_hold"))
    val hb = hold.select(col("hold_id").as("vec_b"), lit(true).as("b_hold"))
    q34EmbeddingNearDup(s, d)
      .join(broadcast(ha), Seq("vec_a"), "left")
      .join(broadcast(hb), Seq("vec_b"), "left")
      .select(col("vec_a"), col("vec_b"), col("cos_sim"),
        coalesce(col("a_hold"), lit(false)).as("ah"),
        coalesce(col("b_hold"), lit(false)).as("bh"))
      .filter(col("ah") =!= col("bh"))
      .select(
        when(col("ah"), col("vec_b")).otherwise(col("vec_a")).as("train_vec"),
        when(col("ah"), col("vec_a")).otherwise(col("vec_b")).as("eval_vec"),
        col("cos_sim"))
      .orderBy("train_vec", "eval_vec")
  }

  /** PAGERANK (fixed-iteration, exact-integer) over the verified
    * near-dup graph — iterative LINK ANALYSIS beyond connectivity: CC
    * (q69/q71) says which docs are transitively related; PageRank says
    * which doc is the duplication HUB inside its cluster (the canonical
    * template a thousand variants point at), the centrality signal a
    * curation pipeline uses to pick what to keep or inspect. Classic
    * damped formulation, 3 unrolled power iterations, uniform teleport.
    *
    * Engine-portability is by EXACT INTEGER arithmetic throughout — the
    * float formulation is unusable for a bitwise gate (a double sum
    * over in-neighbor contributions depends on partition order). Rank
    * mass is integer micro-mass (SCALE = 10^12 total): initial rank
    * SCALE div N, per-edge share = rank div degree, damping = ·85 div
    * 100, teleport base = (SCALE·15 div 100) div N. Every div is a
    * floor on non-negatives, so both engines compute identical BIGINTs
    * regardless of plan or partitioning (sums of integers are
    * order-invariant; no overflow: 85·SCALE ≪ 2^63). Floor-truncation
    * deliberately LEAKS mass (standard in integer PageRank); ranks are
    * comparable within a run, which is what centrality ranking needs.
    *
    * Scale shape: the iteration runs on the exact-text-CONTRACTED rep
    * graph ([[pagerankGraph]] — copy-weighted, provably bit-equal to
    * the member iteration), so each step is one keyed join (rank →
    * weighted edge push) plus one keyed agg sized by the REP-level
    * near-dup pair graph — on the 20× dup-heavy corpus that is
    * thousands of rows per iteration where the member graph is 52M
    * edges. Members inherit their rep's rank closed-form once at the
    * end. Dangling docs (no out-edges) keep base rank; symmetric edges
    * mean dangling ⟺ isolated here. Driver holds N (one scalar count)
    * and the loop index — no row data. 3 iterations ≡ rank flow over
    * paths of length ≤ 3, inside any near-dup cluster's diameter for
    * the hub question; the oracle unrolls the same 3 steps as chained
    * CTEs at MEMBER level — the hash gate is exactly the contraction's
    * exactness proof run end-to-end.
    */
  def q137Pagerank(s: SparkSession, d: String, iters: Int = 3): DataFrame = {
    val Scale = 1000000000000L
    val (redges, repInfo, membership) = pagerankGraph(s, d) // shared w/ q147
    val n = membership.count()
    val base = (Scale * 15L / 100L) / n
    // EAGER checkpoint per iteration (q147's discipline; the rank frame
    // is two BIGINTs per rep): the lazy-chained 3-iteration plan looked
    // harmless but measured 9.8–130 s at the 20× member graph — one
    // nested plan makes every iteration's join subtree a sibling branch
    // competing for memory in ONE stage graph, where the checkpointed
    // form runs each iteration against materialized inputs. The
    // per-iteration loop-body plan is committed via Explain
    // (pagerankLoopBody).
    var pr = repInfo.select(col("rep"), lit(Scale / n).as("pr"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val next = pagerankRepStep(pr, redges, repInfo, base)
        .select("rep", "pr").localCheckpoint(true)
      SessionMemo.unpersist(pr)
      pr = next
    }
    // returned LAZY (r17): the loop's inputs are already materialized
    // (per-iteration eager checkpoints + the persisted graph memo), so
    // the final frame's lineage is one broadcast join + sort deep — the
    // old `out.localCheckpoint(true)` eagerly sorted and cached the
    // full member-level output only for the caller's action to re-read
    // it (one whole extra job inside every run; count()-style actions
    // don't even need the sort)
    membership
      .join(pr.join(repInfo.select("rep", "deg"), Seq("rep")), Seq("rep"))
      .select(col("doc_id"), col("deg").as("degree"), col("pr").as("pr_mass"))
      .orderBy(col("pr_mass").desc, col("doc_id"))
  }

  /** The PageRank graph after EXACT-TEXT CONTRACTION — the q69/q71/q121
    * move carried to the iterative kernel, and provably EXACT here:
    * identical texts have identical verified-neighbor sets (Jaccard is a
    * function of the token sets alone, and LSH signatures of identical
    * texts are identical, so candidate recall contracts losslessly too),
    * hence identical degree, hence identical rank at every iteration by
    * symmetry. The power iteration therefore runs on REP-level frames —
    * weighted by copy counts — and members inherit their rep's rank
    * closed-form at the end. On the 20× dup-heavy corpus the member
    * graph is 52.2M symmetrized edges (every 20-copy group is a clique,
    * every cross-group near-dup pair a 400-edge biclique) while the rep
    * graph is near-dup-density-sized — the difference between joining
    * 52M rows per iteration and joining thousands.
    *
    * Member-level semantics preserved exactly (TextDedupSimSpec's
    * "q137/q147 contraction exactness" test pins this step against a
    * JVM member-level fold on a dup-heavy graph): for a member b of rep
    * r with c_r copies,
    *   deg(b)     = Σ_{r'~r} c_{r'} + (c_r − 1)
    *   share(b)   = pr_r div deg_r                      (identical ∀ b)
    *   contrib(b) = Σ_{r'~r} c_{r'}·share_{r'} + (c_r − 1)·share_r
    * — every term a BIGINT, every div a floor on non-negatives, so the
    * rep-level fold reproduces the member-level BIGINTs bit-for-bit.
    *
    * Memo (fingerprint-keyed, persisted): symmetric rep edges
    * (hash-partitioned on the push key), rep info (rep, copies, deg).
    * membership rides from the contraction memo (owned there — not
    * re-persisted, not evicted here). Rep pairs verify through the ONE
    * shared [[verifyJaccardPairs]] over [[contractedCandidatePairs]],
    * so "verified pair" cannot diverge between q31's member frame and
    * this graph.
    */
  private val prEdgeMemo = SessionMemo[(DataFrame, DataFrame)](
      "pagerank-graph", "documents") { case (e, ri) => SessionMemo.unpersist(e, ri) }

  private def pagerankGraph(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val membership = graft.ops.TextOps.textContraction(s, d)._2
    val (redges, repInfo) = prEdgeMemo(s, d) {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val (repDocs, _) = graft.ops.TextOps.textContraction(s, d)
      val repToks = repDocs
        .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      val repPairs = verifyJaccardPairs(
        contractedCandidatePairs(s, d), repToks, 0.6)
        .select("doc_a", "doc_b")
      val redges = symmetrizeEdges(repPairs)
        .repartition(col("doc_a"))
        .persist(lvl)
      val copies = repDocs.select(col("doc_id").as("rep"), col("copies"))
      val nbr = redges
        .join(copies.select(col("rep").as("doc_b"), col("copies").as("cb")),
          Seq("doc_b"))
        .groupBy(col("doc_a").as("rep"))
        .agg(sum("cb").as("nbr_copies"))
      val repInfo = copies.join(nbr, Seq("rep"), "left")
        .select(col("rep"), col("copies"),
          (coalesce(col("nbr_copies"), lit(0L)) + col("copies") - lit(1L))
            .as("deg"))
        .persist(lvl)
      repInfo.count()
      (redges, repInfo)
    }
    (redges, repInfo, membership)
  }

  /** One integer power iteration at REP level, previous rank carried as
    * a column (so q147's residual is a scalar agg over the step's own
    * checkpointed output — no next ⨝ prev join): per-rep outgoing share,
    * pushed copy-weighted along rep edges, plus the within-group term,
    * all BIGINT so the agg is partition-invariant and bit-equal to the
    * member-level fold (see [[pagerankGraph]]'s exactness argument).
    * q137 drops the `prev` column; q147 aggregates it.
    */
  private[graft] def pagerankRepStep(pr: DataFrame, redges: DataFrame,
      repInfo: DataFrame, base: Long): DataFrame = {
    val share = pr.join(repInfo.filter(col("deg") > 0), Seq("rep"))
      .select(col("rep"), col("copies"), expr("pr div deg").as("sh"))
    val cross = redges
      .join(share.select(col("rep").as("doc_a"),
        (col("sh") * col("copies")).as("w")), Seq("doc_a"))
      .groupBy(col("doc_b").as("rep"))
      .agg(sum("w").as("c_cross"))
    val within = share
      .select(col("rep"), ((col("copies") - lit(1L)) * col("sh")).as("c_within"))
    pr.select(col("rep"), col("pr").as("prev"))
      .join(cross, Seq("rep"), "left")
      .join(within, Seq("rep"), "left")
      .select(col("rep"),
        (lit(base) + expr("((coalesce(c_cross, CAST(0 AS BIGINT)) + " +
          "coalesce(c_within, CAST(0 AS BIGINT))) * 85) div 100")).as("pr"),
        col("prev"))
  }

  /** CONVERGENT PageRank (q147) — [[q137Pagerank]]'s integer formulation
    * with the blind fixed iteration count replaced by a RESIDUAL-BASED
    * STOP: iterate until max |Δpr| ≤ tol (exact integer micro-mass) or
    * `maxIters`, whichever first. This is the production entry point on
    * graphs whose density (hence mixing time) is unknown up front — the
    * fixed-3 q137 contract answers "rank flow over paths ≤ 3"; this one
    * answers "the stationary hub ranking", paying only the iterations
    * the graph actually needs. On the near-dup graphs this engine
    * polices, most components are quasi-regular duplicate clusters
    * (stationary ≈ uniform — converge in 1–2 steps) or isolated docs
    * (teleport-only after step 1), so the stop fires far below any
    * safe fixed cap.
    *
    * Engine-exact convergence DECISION: the residual is an exact BIGINT
    * max over exact BIGINT ranks, so iterations-to-converge is itself
    * deterministic and engine-portable — `n_iters` is an output column
    * and the DuckDB oracle re-derives it (unrolled iterations + the
    * same min-first-converged-else-cap rule), gating not just the
    * ranks but the convergence decision.
    *
    * Tolerance is scale-invariant: tol = p0 div `tolDiv`, where
    * p0 = SCALE div N is the uniform per-node mass — default 1/10 of
    * it, i.e. ranks stationary to 10 % of a node's uniform share: the
    * HUB-ORDERING stability the curation question needs, not full mass
    * convergence (the 0.85-damped power iteration contracts at ~0.85
    * per step through bipartite-ish star components, so sub-percent
    * tolerances cost ~25+ iterations on sparse graphs for no change in
    * who the hub is — measured residual curves in NOTES round 9).
    * Measured iterations-to-fire at this default: 10 on the sparse
    * sf0.01 graph, ~4 on the 20× dup-heavy blow-up graph whose dense
    * clique components smooth fast — early stop pays most exactly
    * where the corpus is most duplicated, which is the 100 TB case.
    *
    * Scale shape per iteration: the q137 keyed join + keyed agg, plus
    * ONE extra scalar agg (the residual — driver holds one Long), with
    * eager `localCheckpoint` lineage truncation per step (the q69/q71
    * iterative discipline; the checkpointed frame is (doc_id, pr) —
    * two BIGINTs per doc). The driver never holds row data.
    */
  def q147PagerankConverged(s: SparkSession, d: String,
      tolDiv: Long = 10L, maxIters: Int = 12): DataFrame = {
    val Scale = 1000000000000L
    val (redges, repInfo, membership) = pagerankGraph(s, d) // shared w/ q137
    val n = membership.count()
    val base = (Scale * 15L / 100L) / n
    val p0 = Scale / n
    val tol = p0 / tolDiv
    // `prCk` is the checkpoint `pr` projects: the frame to release once
    // the next eager checkpoint has materialized
    var prCk = repInfo.select(col("rep"), lit(p0).as("pr")).localCheckpoint(true)
    var pr = prCk
    var it = 0
    var resid = Long.MaxValue
    while (it < maxIters && resid > tol) {
      // the step carries prev as a column, so the checkpointed output
      // already holds both ranks: the residual is one scalar agg over
      // cached partitions, not a next ⨝ prev join. Max over REPS equals
      // max over members — members share their rep's rank exactly.
      val next = pagerankRepStep(pr, redges, repInfo, base)
        .localCheckpoint(true)
      resid = next
        .agg(max(abs(col("pr") - col("prev"))).as("r"))
        .head().getLong(0)
      SessionMemo.unpersist(prCk)
      prCk = next
      pr = next.select("rep", "pr")
      it += 1
    }
    // returned LAZY — same reasoning as q137's final frame (r17)
    membership
      .join(pr.join(repInfo.select("rep", "deg"), Seq("rep")), Seq("rep"))
      .select(col("doc_id"), col("deg").as("degree"), col("pr").as("pr_mass"),
        lit(it.toLong).as("n_iters"))
      .orderBy(col("pr_mass").desc, col("doc_id"))
  }

  /** The PER-ITERATION PageRank plan, pre-checkpoint: the loop body
    * ([[pagerankRepStep]]) over the initial rank frame, un-truncated.
    * The committed explain for q137/q147 shows only the post-checkpoint
    * `Scan ExistingRDD` stub — the loop body's join/agg shape (the plan
    * each power iteration actually runs, ×iters at scale) is invisible
    * there, so [[graft.Explain]] executes THIS frame once and appends it
    * to the explain artifacts. Not a registered query; plan review only.
    */
  private[graft] def pagerankLoopBody(s: SparkSession, d: String): DataFrame = {
    val Scale = 1000000000000L
    val (redges0, repInfo0, membership) = pagerankGraph(s, d)
    // checkpoint the loop-INVARIANT inputs for the dumped plan: the
    // iterations read these frames' persisted partitions, so a plan
    // carrying their full cached-build lineage (measured: 4.4k lines —
    // the q31/q34 candidate chains re-printed under InMemoryRelation)
    // would misstate what an iteration re-runs. Their build plans live
    // in the q31/q34/q69 artifacts; THIS artifact is the step shape.
    val redges = redges0.localCheckpoint(true)
    val repInfo = repInfo0.localCheckpoint(true)
    val n = membership.count()
    val base = (Scale * 15L / 100L) / n
    val pr = repInfo.select(col("rep"), lit(Scale / n).as("pr"))
      .localCheckpoint(true)
    pagerankRepStep(pr, redges, repInfo, base)
  }

  /** MULTI-PASS SORTED-NEIGHBORHOOD dedup (Hernández & Stolfo 1997's SNM,
    * in the distributed form of Kolb et al. 2012) — the SORT-based
    * blocking family, complementing the hash-based families already here
    * (LSH banding q32, SimHash q33, prefix filtering q121): sort the
    * corpus by a cheap blocking key, compare only rows within a sliding
    * window of w positions, verify survivors exactly. Two passes with
    * complementary keys (the published multi-pass remedy for
    * single-key blind spots): the first 24 chars and the last 24 chars
    * of the lowercased text — a prefix edit breaks key 1 but usually
    * not key 2, and vice versa. Output: verified pairs with Jaccard
    * (q31's exact verify — same token definition, same counting scalar)
    * plus per-pass provenance booleans (`hit_prefix`/`hit_suffix`, the
    * multi-pass diagnostic: a pair found by only one key is the
    * blind-spot evidence for the other).
    *
    * Scale shape: the rank is [[graft.ops.ScalarSuites.rank]]'s range
    * path (range-partitioned sort + row positions — NOT a no-key window; the
    * frame carries (24-char key, id) only, never text). Window pairs
    * come from an EQUALITY join on rank blocks of B = 64 ≥ w: block b
    * joins candidates from blocks b and b−1, then filters to rank
    * distance 1..w−1 — every within-w pair lands in exactly one
    * (a-block, b-block) combination, so the join is provably the exact
    * window pair set while staying a keyed equality join (per-key
    * fan-out ≤ 2B rows; candidate volume ≤ n·(w−1) per pass by
    * construction — SNM's defining bound, independent of key skew).
    * Exact verify runs only on candidates. At 100 TB: two sorts of a
    * narrow key frame + linear-size equality joins, no all-pairs
    * anywhere. Recall is heuristic in the SNM sense (a true dup whose
    * keys land > w apart in BOTH orders is missed) — the documented
    * trade the sort family makes; the oracle mirrors the same window,
    * so the gate checks window-exactness and verification, not dedup
    * recall.
    */
  def q139SortedNeighborhood(s: SparkSession, d: String, w: Int = 6,
      threshold: Double = 0.6): DataFrame = {
    val B = 64L
    require(w >= 2 && w <= B, s"window must be in [2, $B]")
    // blocking keys: identical expression TEXT runs in the oracle
    // (substring/length are codepoint-based in both engines; string
    // ordering is UTF-8 memcmp in both, so ranks agree). Lowercase ONCE
    // into a column so the suffix offset is computed from the SAME
    // string it substrings — lowercasing can change codepoint count
    // (e.g. U+0130 maps to 2 codepoints), so length(text) would slide
    // the window off the true last-24 suffix of the lowered text.
    val keyed = Tables.documents(s, d)
      .withColumn("lt", lower(col("text")))
      .select(col("doc_id"),
        expr("substring(lt, 1, 24)").as("k1"),
        expr("substring(lt, greatest(length(lt) - 23, 1), 24)").as("k2"))
    // BOTH passes ride ONE rank (r17): the two key orders are disjoint
    // sort domains, so unioning them with a pass-id group key and
    // ranking per group (ScalarSuites.rank — within-pass ranks
    // identical to two separate global ranks) halves the rank machinery:
    // one range sampler + one exchange + one block join where r16 paid
    // two of each. Same bytes through the one exchange as through the
    // two (the union is both key frames), strictly fewer jobs/stages;
    // the blocking-window semantics are untouched — blk/rank arithmetic
    // is per pass via the (p, blk) join key.
    val keyedU = keyed
      .select(col("doc_id"), col("k1").as("k"), lit(1).as("p"))
      .unionByName(keyed
        .select(col("doc_id"), col("k2").as("k"), lit(2).as("p")))
    val ranked = ScalarSuites.rank(keyedU, Seq(col("k"), col("doc_id")), "rnk",
        groupCols = Seq("p"))
      .select(col("p"), col("doc_id"), col("rnk"))
    val a = ranked.select(col("p"), col("doc_id").as("id_a"),
      col("rnk").as("ra"), expr(s"rnk div $B").as("blk"))
    val b = ranked.select(col("p"), col("doc_id").as("id_b"),
      col("rnk").as("rb"),
      explode(array(expr(s"rnk div $B"), expr(s"rnk div $B - 1"))).as("blk"))
    val cand = a.join(b, Seq("p", "blk"))
      .filter(col("rb") - col("ra") >= 1 && col("rb") - col("ra") <= w - 1)
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"), col("p"))
      .groupBy("doc_a", "doc_b")
      .agg(max(when(col("p") === 1, 1).otherwise(0)).as("hp"),
        max(when(col("p") === 2, 1).otherwise(0)).as("hs"))
    // verify per DISTINCT TEXT PAIR, not per candidate pair: on a
    // dup-heavy corpus the sort places identical texts adjacent, so
    // most window pairs are same-text (jaccard exactly 1.0 — closed
    // form, nothing to compute) and the cross-text remainder collapses
    // to the few distinct (rep_a, rep_b) combinations at group
    // boundaries. The first cut joined the token ARRAYS onto every
    // candidate pair (~1M arrays through two shuffle joins at the 20×
    // stress); this shape ships arrays only for the distinct rep
    // pairs (~50k) and joins the narrow verdict back. Same jaccard,
    // same rows — a plan move, oracle untouched.
    val (repDocs, membership) = graft.ops.TextOps.textContraction(s, d)
    val mA = membership.select(col("doc_id").as("doc_a"),
      col("rep").as("rep_a"))
    val mB = membership.select(col("doc_id").as("doc_b"),
      col("rep").as("rep_b"))
    val candR = cand.join(mA, Seq("doc_a")).join(mB, Seq("doc_b"))
      .withColumn("ra", least(col("rep_a"), col("rep_b")))
      .withColumn("rb", greatest(col("rep_a"), col("rep_b")))
    val crossPairs = candR.filter(col("rep_a") =!= col("rep_b"))
      .select("ra", "rb").distinct()
    val rtoks = repDocs
      .select(col("doc_id").as("rid"),
        array_distinct(tokens(col("text"))).as("toks"))
      .select(col("rid"), col("toks"), size(col("toks")).as("n"))
    val verified = crossPairs
      .join(rtoks.select(col("rid").as("ra"), col("toks").as("toks_a"),
        col("n").as("na")), Seq("ra"))
      .join(rtoks.select(col("rid").as("rb"), col("toks").as("toks_b"),
        col("n").as("nb")), Seq("rb"))
      .withColumn("common",
        graft.functions.expressions.TextExpressions
          .arrayIntersectCount(col("toks_a"), col("toks_b")))
      .select(col("ra"), col("rb"),
        // guarded division (ANSI mode): a cross pair of two DISTINCT
        // empty-token texts ("" vs "   ") is 0/0 — null under the
        // oracle's `na + nb - common > 0` guard, a throw if divided
        when(col("na") + col("nb") - col("common") > 0,
          r4(col("common").cast("double") /
            (col("na") + col("nb") - col("common")).cast("double")))
          .as("jx"))
    // the closed-form 1.0 for same-rep pairs holds only when the rep's
    // distinct-token set is NON-EMPTY: two identical empty/whitespace
    // texts are 0/0 under the oracle's `na + nb - common > 0` guard —
    // NULL, dropped by the threshold filter (the pre-closed-form code
    // got this via Spark's 0/0 null division; the closed form must
    // reproduce it). Gate on the rep's token count joined via ra —
    // same-rep pairs have ra = the shared rep, so n_ra IS that rep's n.
    val repN = rtoks.select(col("rid").as("ra"), col("n").as("n_ra"))
    candR.join(verified, Seq("ra", "rb"), "left_outer")
      .join(repN, Seq("ra"), "left_outer")
      .select(col("doc_a"), col("doc_b"),
        when(col("rep_a") === col("rep_b") && col("n_ra") > 0, lit(1.0))
          .otherwise(col("jx")).as("jaccard"),
        (col("hp") === 1).as("hit_prefix"), (col("hs") === 1).as("hit_suffix"))
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }
}
