package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.ops._

/** Invariants for the LLM-pipeline operators (text analysis, dedup,
  * similarity) on the sf0.001 fixtures.
  */
class TextDedupSimSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  /** The JVM md5-hex oracle shared by every hash-pinning spec below —
    * ONE definition so a hashing-idiom change cannot silently diverge
    * one oracle from the engine semantics it pins.
    */
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("q20 wordcount: counts sum to total token count") {
    val sumCnt = TextOps.q20WordCount(spark, sf).agg(sum("cnt")).head().getLong(0)
    val tokens = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))).count()
    assert(sumCnt == tokens)
  }

  test("q21 per-lang counts roll up to q20 global counts") {
    val global = TextOps.q20WordCount(spark, sf)
    val rolled = TextOps.q21WordCountPerLang(spark, sf)
      .groupBy("word").agg(sum("cnt").as("cnt"))
    assert(global.join(rolled, Seq("word"))
      .filter(global("cnt") =!= rolled("cnt")).count() == 0L)
  }

  test("q22 stats: ratios in [0,1], n_distinct <= n_tokens") {
    val bad = TextOps.q22DocTokenStats(spark, sf)
      .filter(col("ttr") < 0 || col("ttr") > 1 ||
        col("stopword_ratio") < 0 || col("stopword_ratio") > 1 ||
        col("quality") < 0 || col("quality") > 1 ||
        col("n_distinct") > col("n_tokens"))
      .count()
    assert(bad == 0L)
  }

  test("q23 langid: prediction always one of the five languages, scores consistent") {
    val langs = graft.functions.TextFunctions.LangMarkers.map(_._1)
    val df = TextOps.q23LangId(spark, sf)
    assert(df.filter(!col("lang_pred").isin(langs.map(lit): _*)).count() == 0L)
    // predicted language's score is the max score
    val scoreCols = langs.map(l => col(s"score_$l"))
    val mismatch = df.filter(
      langs.map(l => when(col("lang_pred") === l, col(s"score_$l")).otherwise(lit(null)))
        .reduce((a, b) => coalesce(a, b)) =!= greatest(scoreCols: _*)).count()
    assert(mismatch == 0L)
  }

  test("q24 fingerprint: stable across evaluations and within [0, 2^40)") {
    val a = TextOps.q24Fingerprint(spark, sf).collect().toSeq
    val b = TextOps.q24Fingerprint(spark, sf).collect().toSeq
    assert(a == b)
    assert(a.forall { r =>
      val fp = r.getAs[Long]("rolling_fp"); fp >= 0L && fp < (1L << 40)
    })
  }

  test("q30 exact dedup: keepers unique, copies sum to doc count") {
    val df = Dedup.q30ExactDedup(spark, sf).cache()
    try {
      assert(df.select("keeper_doc_id").distinct().count() == df.count())
      assert(df.agg(sum("n_copies")).head().getLong(0) ==
        Tables.documents(spark, sf).count())
    } finally df.unpersist()
  }

  test("q31 jaccard: similarity within [threshold, 1], a < b") {
    val df = Dedup.q31JaccardPairs(spark, sf).cache()
    try {
      assert(df.filter(col("jaccard") < 0.6 || col("jaccard") > 1.0).count() == 0L)
      assert(df.filter(col("doc_a") >= col("doc_b")).count() == 0L)
    } finally df.unpersist()
  }

  test("q164 cross-source dup matrix: matches a JVM recount over the q31 pairs") {
    val got = Dedup.q164CrossSourceDup(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    val pairs = Dedup.q31JaccardPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val srcOf = Tables.documents(spark, sf).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val labeled = pairs.map { case (a, b, j) =>
      val (sa, sb) = (srcOf(a), srcOf(b))
      (if (sa <= sb) (sa, sb) else (sb, sa), a, b, j)
    }
    val expect = labeled.groupBy(_._1).map { case ((sa, sb), rows) =>
      (sa, sb, rows.size.toLong,
        rows.flatMap(r => Seq(r._2, r._3)).distinct.size.toLong,
        rows.map(_._4).min, rows.map(_._4).max)
    }.toSeq.sortBy(t => (t._1, t._2))
    assert(got == expect)
    // conservation: matrix pair mass is exactly the verified pair count
    assert(got.map(_._3).sum == pairs.length.toLong)
    // and the fixture exercises at least one cross-source cell
    assert(got.exists(t => t._1 != t._2), "no cross-source dup — degenerate")
  }

  test("q32 minhash LSH: candidate pairs are ordered and distinct") {
    val df = Dedup.q32MinHashLsh(spark, sf).cache()
    try {
      assert(df.filter(col("doc_a") >= col("doc_b")).count() == 0L)
      assert(df.count() == df.distinct().count())
    } finally df.unpersist()
  }

  test("connected components: a 3-chain keeps exactly its min-id doc") {
    import spark.implicits._
    // chain 1–2, 2–3 with NO direct 1–3 pair: the transitive cluster
    // {1,2,3} must collapse to component 1. Propagation covers paired
    // nodes only — singletons ride q69's coalesce, not the loop
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connected components: long chain converges past the first-round neighbor min") {
    import spark.implicits._
    // a 6-node path needs several propagation rounds (diameter 5): guards
    // the convergence loop, not just the free neighbor-min initialization
    val pairs = (1L to 5L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == (1L to 6L).map(_ -> 1L).toMap)
  }

  test("connected components: star shape merges both leaves (where greedy keeps one)") {
    import spark.implicits._
    // star 1–3, 2–3: greedy min-id keeps {1,2} (only 3 is ever a doc_b);
    // CC merges all three into component 1 — exactly one keeper per
    // transitive cluster
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connected components: empty pair graph yields empty labels (and q69 labels all docs singleton)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty).count() == 0L)
    assert(Dedup.connectedComponentsStar(empty).count() == 0L)
  }

  test("small-star/large-star CC matches min-label propagation (fixture graph + chain + star shapes)") {
    import spark.implicits._
    // the fixture's real LSH candidate graph
    val fixture = Dedup.lshCandidatePairs(spark, sf)
    val prop = Dedup.connectedComponents(fixture)
    val star = Dedup.connectedComponentsStar(fixture)
    assert(prop.exceptAll(star).count() == 0L && star.exceptAll(prop).count() == 0L)
    // a 12-node path (diameter 11) — the shape star exists for; rounds
    // must come in logarithmic, far under the diameter
    val chain = (1L to 11L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (chainLabels, rounds) = Dedup.connectedComponentsStarWithRounds(chain)
    assert(chainLabels.as[(Long, Long)].collect().toMap ==
      (1L to 12L).map(_ -> 1L).toMap)
    assert(rounds <= 6, s"star took $rounds rounds on a 12-node chain")
    // star topology: hub must label itself too
    val hub = Seq((1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponentsStar(hub).as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("exact-dup contraction preserves component labels on a synthetic dup-heavy corpus") {
    import spark.implicits._
    // the gate fixtures contain NO exact duplicates (verified), so the
    // contracting branch of q69/q71 is never exercised there — this
    // corpus (10 identical copies of each text) pins it: contraction
    // must be invisible in the labels and visible in the kernel input
    val dir = java.nio.file.Files.createTempDirectory("dup_docs").toString
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta",
      "alpha beta gamma delta epsilon eta",
      "one two three four five six",
      "totally different words appear here instead")
    val docs = (0 until 40).map { i =>
      val t = texts(i % texts.length)
      (i.toLong, t, "en", s"s${i % 3}", t.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // reference formulation: the UN-contracted kernel + singleton coalesce
    val raw = Dedup.connectedComponents(Dedup.lshCandidatePairs(spark, dir))
    val want = graft.core.Tables.documents(spark, dir).select("doc_id")
      .join(raw, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
    for (got <- Seq(Dedup.q69DedupComponents(spark, dir),
        Dedup.q71DedupComponentsStar(spark, dir)))
      assert(got.exceptAll(want).count() == 0L && want.exceptAll(got).count() == 0L)
    // and the contraction genuinely contracted (intra-group clique edges gone)
    assert(Dedup.contractedCandidatePairs(spark, dir).count() <
      Dedup.lshCandidatePairs(spark, dir).count())
  }

  test("q69 components: labels are component minima and respect candidate pairs") {
    import spark.implicits._
    val comp = Dedup.q69DedupComponents(spark, sf)
    // every component label is a member of its own component (and its min)
    val bad = comp.groupBy("component").agg(min("doc_id").as("mn"))
      .filter(col("component") =!= col("mn")).count()
    assert(bad == 0L)
    // paired docs always share a component
    val pairs = Dedup.lshCandidatePairs(spark, sf)
    val a = comp.toDF("doc_a", "ca")
    val b = comp.toDF("doc_b", "cb")
    assert(pairs.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .filter(col("ca") =!= col("cb")).count() == 0L)
  }

  test("q76 incremental dedup: exact reps share text, 'new' docs share no signature") {
    val res = Dedup.q76IncrementalDedup(spark, sf)
    val docs = Tables.documents(spark, sf)
    // one row per batch doc, statuses well-formed
    val nBatch = docs.filter(col("doc_id") % 10 === 7).count()
    assert(res.count() == nBatch)
    // exact_dup: the reported corpus rep has IDENTICAL text (and is not
    // itself a batch doc)
    val tx = docs.select(col("doc_id"), col("text"))
    val exacts = res.filter(col("status") === "exact_dup")
      .join(tx.toDF("doc_id", "batch_text"), Seq("doc_id"))
      .join(tx.toDF("exact_rep", "rep_text"), Seq("exact_rep"))
    assert(exacts.filter(col("batch_text") =!= col("rep_text")).count() == 0L)
    assert(res.filter(col("exact_rep") % 10 === 7).count() == 0L)
    assert(res.filter(col("near_rep") % 10 === 7).count() == 0L)
    // 'new' docs: no LSH candidate pair links them to any corpus doc
    val cand = Dedup.lshCandidatePairs(spark, sf)
    val crossPaired = cand
      .filter((col("doc_a") % 10 === 7) =!= (col("doc_b") % 10 === 7))
      .select(when(col("doc_a") % 10 === 7, col("doc_a"))
        .otherwise(col("doc_b")).as("doc_id")).distinct()
    assert(res.filter(col("status") === "new")
      .join(crossPaired, Seq("doc_id"), "left_semi").count() == 0L)
  }

  test("q77 keeper: max quality per component, exactly one keeper, counts conserve") {
    val res = Dedup.q77ComponentKeeper(spark, sf)
    val comp = Dedup.q69DedupComponents(spark, sf)
    // one keeper per component, n_docs conserves the corpus
    assert(res.select("component").distinct().count() == res.count())
    assert(res.count() == comp.select("component").distinct().count())
    assert(res.agg(sum("n_docs")).head().getLong(0) == comp.count())
    // the keeper's quality is its component's maximum
    val q = comp.join(graft.ops.TextOps.q22DocTokenStats(spark, sf)
      .select(col("doc_id"), col("quality")), Seq("doc_id"))
      .groupBy("component").agg(max("quality").as("max_q"))
    assert(res.join(q, Seq("component"))
      .filter(col("keeper_quality") =!= col("max_q")).count() == 0L)
    // the keeper belongs to its component
    val membership = comp.toDF("keeper_doc_id", "member_of")
    assert(res.join(membership, Seq("keeper_doc_id"))
      .filter(col("component") =!= col("member_of")).count() == 0L)
  }

  test("q81 minhash estimate: same pair set as q32, est = n/8, separates exact-verified pairs") {
    val est = Dedup.q81MinhashEstimate(spark, sf)
    // identical pair set to the LSH candidates (same join, count vs distinct)
    val estPairs = est.select("doc_a", "doc_b")
    val candPairs = Dedup.q32MinHashLsh(spark, sf).select("doc_a", "doc_b")
    assert(estPairs.exceptAll(candPairs).count() == 0 &&
      candPairs.exceptAll(estPairs).count() == 0)
    // n in [1, bands], est is exactly n/8 rounded
    assert(est.filter(col("n_match_bands") < 1 || col("n_match_bands") > 8).count() == 0)
    assert(est.filter(col("est_jaccard") =!=
      graft.functions.Round.r4(col("n_match_bands").cast("double") / lit(8.0))).count() == 0)
    // separation: pairs the exact verify passes at >= 0.6 (q31) estimate
    // higher on average than candidates that fail it — the property that
    // makes the sketch usable as a pre-filter
    val verified = Dedup.q31JaccardPairs(spark, sf).select("doc_a", "doc_b")
    val hi = est.join(verified, Seq("doc_a", "doc_b"), "left_semi")
    val lo = est.join(verified, Seq("doc_a", "doc_b"), "left_anti")
    if (hi.count() > 0 && lo.count() > 0) {
      val mHi = hi.agg(avg("est_jaccard")).head().getDouble(0)
      val mLo = lo.agg(avg("est_jaccard")).head().getDouble(0)
      assert(mHi > mLo, s"estimate does not separate: verified=$mHi unverified=$mLo")
    }
  }

  test("q82 component split: near-dup pairs never straddle splits, full coverage") {
    val sp = Dedup.q82ComponentSplit(spark, sf)
    val docs = Tables.documents(spark, sf)
    // every doc exactly once, valid split labels
    assert(sp.count() == docs.count())
    assert(sp.select("doc_id").distinct().count() == docs.count())
    assert(sp.filter(!col("split").isin("train", "val", "test")).count() == 0)
    // same component ⇒ same split (by construction) AND the observable
    // leakage property: no LSH candidate pair crosses a split boundary
    assert(sp.groupBy("component").agg(countDistinct("split").as("k"))
      .filter(col("k") > 1).count() == 0)
    val a = sp.select(col("doc_id").as("doc_a"), col("split").as("sa"))
    val b = sp.select(col("doc_id").as("doc_b"), col("split").as("sb"))
    assert(Dedup.lshCandidatePairs(spark, sf).join(a, Seq("doc_a"))
      .join(b, Seq("doc_b")).filter(col("sa") =!= col("sb")).count() == 0)
  }

  test("CC loop restores session shuffle/AQE conf (both variants)") {
    import spark.implicits._
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    // a tiny graph drives the 1-partition/AQE-off branch of
    // withIterationConf; both variants must leave the session conf as
    // they found it (the finally-restore is what makes the loop-scoped
    // sizing safe to embed in a long-lived session)
    Dedup.connectedComponents(
      Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")).count()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe)
    Dedup.connectedComponentsStar(
      Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")).count()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe)
  }

  test("q83 LM score: probabilities in (0,1], full coverage, null only without bigrams") {
    val sc = TextOps.q83LmScore(spark, sf)
    val docs = Tables.documents(spark, sf)
    assert(sc.count() == docs.count())
    // a mean of conditional probabilities lives in (0, 1]
    assert(sc.filter(col("lm_score") <= 0.0 || col("lm_score") > 1.0).count() == 0)
    // score is null exactly when the doc has no bigrams
    assert(sc.filter(col("lm_score").isNull =!= (col("n_bigrams") === 0L)).count() == 0)
    // a bigram that always follows its prefix scores micro-prob 1.0: a
    // doc made of one repeated bigram would score exactly 1 — check the
    // bound is actually attained somewhere or scores stay consistent
    // with the corpus (upper-bound sanity, no exact fixture dependence)
    assert(sc.agg(max("lm_score")).head().getDouble(0) <= 1.0)
  }

  test("q84 heavy hitters: two-phase MG equals naive groupBy under heavy eviction") {
    import spark.implicits._
    // 180+ distinct words against k = 4 counters: the Misra-Gries pass
    // evicts constantly, so the superset guarantee (not counter luck) is
    // what must carry the heavy token through
    val dir = java.nio.file.Files.createTempDirectory("hh_docs").toString
    val docs = (0 until 100).map { i =>
      val rare = s"rare${i % 97} rare${(i * 7) % 89}"
      val text = if (i % 2 == 0) s"alpha alpha beta $rare" else s"alpha $rare beta"
      (i.toLong, text, "en", "syn", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")
    val got = TextOps.q84HeavyHitters(spark, dir, k = 4).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val toks = Tables.documents(spark, dir)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
    val n = toks.count()
    val naive = toks.groupBy("word").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 4L > n).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got.nonEmpty, "synthetic corpus must produce at least one heavy hitter")
    assert(got == naive, s"two-phase != naive: ${(got diff naive) ++ (naive diff got)}")
  }

  test("q85 source drift: TVD in [0,1], and identically-distributed sources score 0") {
    import spark.implicits._
    val drift = TextOps.q85SourceDrift(spark, sf)
    assert(drift.count() ==
      Tables.documents(spark, sf).select("source").distinct().count())
    assert(drift.filter(col("tvd") < 0.0 || col("tvd") > 1.0).count() == 0)
    // identity case: two sources with the SAME token multiset must both
    // measure zero drift vs the combined corpus — this pins the
    // absent-token closed form too (any error there shifts 0 upward)
    val dir = java.nio.file.Files.createTempDirectory("drift_docs").toString
    (0 until 40).map { i =>
      // pairs (2j, 2j+1) share a text, split across the two sources, so
      // both sources hold the exact same token multiset
      val text = s"alpha beta gamma word${(i / 2) % 10}"
      (i.toLong, text, "en", if (i % 2 == 0) "srcA" else "srcB", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val zero = TextOps.q85SourceDrift(spark, dir).collect()
    assert(zero.length == 2)
    zero.foreach(r => assert(r.getDouble(2) == 0.0,
      s"identical distributions must give tvd 0, got $r"))
  }

  test("q33 simhash: 16-bit range") {
    assert(Dedup.q33SimHash(spark, sf)
      .filter(col("simhash") < 0 || col("simhash") > 0xFFFFL).count() == 0L)
  }

  test("cosine: self-similarity is 1.0 within fp tolerance") {
    import graft.functions.VectorFunctions._
    import spark.implicits._
    val sims = Tables.embeddings(spark, sf).limit(20)
      .select(cosine(col("embedding"), col("embedding")).as("s"))
      .as[Double].collect()
    assert(sims.forall(s => math.abs(s - 1.0) < 1e-12))
  }

  test("q40 topk: exactly k neighbors per query, descending similarity") {
    val df = Similarity.q40CosineTopK(spark, sf).cache()
    try {
      val badCounts = df.groupBy("query_id").agg(count(lit(1)).as("n"))
        .filter(col("n") =!= 5).count()
      assert(badCounts == 0L)
      // rank order must agree with similarity order (ties broken by id)
      val disordered = df.as("x").join(df.as("y"),
          col("x.query_id") === col("y.query_id") && col("x.rk") === col("y.rk") - 1)
        .filter(col("x.cos_sim") < col("y.cos_sim")).count()
      assert(disordered == 0L)
    } finally df.unpersist()
  }

  test("q41 LSH ANN: neighbors share the query's bucket") {
    import graft.functions.VectorFunctions._
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("cand_id"), signBucket(col("embedding"), 8).as("cand_bucket"))
    val joined = Similarity.q41AnnLshTopK(spark, sf).join(e, Seq("cand_id"))
    assert(joined.filter(col("bucket") =!= col("cand_bucket")).count() == 0L)
  }

  test("signature cache: a corpus changing under a cached dir is detected, not served stale") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sig_stale").toString
    val textA = "alpha beta gamma delta epsilon zeta"
    def write(texts: Seq[(Long, String)]): Unit =
      texts.toDF("doc_id", "text")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // two identical docs → at least one candidate pair
    write(Seq((1L, textA), (2L, textA)))
    assert(ops.Dedup.q32MinHashLsh(spark, dir).count() >= 1L)
    // the corpus changes IN PLACE under the cached dir: all-distinct docs
    write(Seq((1L, "one two three four five six"),
      (2L, "seven eight nine ten eleven twelve")))
    // no invalidate call — the fingerprint key must detect the change
    assert(ops.Dedup.q32MinHashLsh(spark, dir).count() == 0L,
      "stale signature frame served after the corpus changed under the dir")
  }

  test("signature cache: invalidate unpersists and clears the memo") {
    val sig = ops.Dedup.lshSignatures(spark, sf) // populate
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    graft.core.SessionMemo.invalidate()
    assert(sig.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "invalidate left the signature frame persisted")
    assert(!(ops.Dedup.lshSignatures(spark, sf) eq sig),
      "invalidate left the signature memo entry in place")
    // re-running after invalidation recomputes and re-persists cleanly
    assert(ops.Dedup.q32MinHashLsh(spark, sf).count() >= 0L)
  }

  test("q64 packing: partitions the corpus exactly (every doc in one sequence, tokens conserved)") {
    val docs = Tables.documents(spark, sf)
    val packed = ops.TextOps.q64PackSequences(spark, sf).cache()
    try {
      val totals = packed.agg(sum("n_docs"), sum("tokens_used")).head
      assert(totals.getLong(0) == docs.count())
      val wantTokens = docs
        .agg(sum(size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long"))).head.getLong(0)
      assert(totals.getLong(1) == wantTokens)
      assert(packed.filter(col("first_doc") > col("last_doc")).count() == 0L)
    } finally packed.unpersist()
  }

  test("q65 funnel: survivor counts are monotone per source") {
    val bad = ops.TextOps.q65CurationFunnel(spark, sf)
      .filter(!(col("n_docs") >= col("pass_lang") &&
        col("pass_lang") >= col("pass_len") &&
        col("pass_len") >= col("pass_quality")))
      .count()
    assert(bad == 0L)
  }

  test("multimodal decodeBatch: deterministic stub metadata, one row per doc") {
    val ds = Multimodal.decodeBatch(spark, sf)
    val rows = ds.collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    assert(rows.forall(r => r.width >= 64 && r.height >= 64 && r.n_frames >= 1))
  }

  test("q114 frame features: pooled over exactly q68's sampled frame set, bounds hold") {
    val feat = Multimodal.q114FrameFeatures(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // frame-set equality: n_frames_sampled per doc == q68's row count
    val sampled = Multimodal.q68FrameSample(spark, sf).groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(feat.view.mapValues(_._1).toMap == sampled)
    feat.values.foreach { case (n, mn, mx, mean) =>
      assert(n >= 1 && mn >= 0 && mx <= 255 && mn <= mx)
      assert(mean >= mn - 1e-9 && mean <= mx + 1e-9)
    }
  }

  test("q155 perceptual-hash near-dup: matches a JVM dHash reference; banding loses nothing at <= 7") {
    import spark.implicits._
    // JVM reference: byte-fold grid -> row-gradient bands -> hamming,
    // formulated over byte ARRAYS (no hex strings, no SQL) so the
    // engine's hex-pair parse is checked against a different formulation
    def bandsOf(text: String): Array[Long] = {
      val cells = Array.fill(72)(0L)
      text.getBytes("UTF-8").zipWithIndex
        .foreach { case (b, j) => cells(j % 72) += (b & 0xff).toLong }
      (0 until 8).map { r =>
        (0 until 8).map { c =>
          if (cells(r * 9 + c + 1) > cells(r * 9 + c)) 1L << c else 0L
        }.sum
      }.toArray
    }
    def ham(a: Array[Long], b: Array[Long]): Long =
      (0 until 8).map(r => java.lang.Long.bitCount(a(r) ^ b(r)).toLong).sum
    val base = "the quick brown fox jumps over the lazy dog " * 5
    // deterministic self-calibrating edits: single-char substitutions
    // scanned in order until one lands in the near band (a one-byte
    // delta moves exactly one grid cell, flipping <= 2 gradient bits
    // ONLY when it crosses that cell's margins — which depends on the
    // text, so the fixture derives the edit instead of guessing it)
    val near = (0 until base.length).iterator
      .flatMap(i => Seq('z', '0', '~').map(ch => base.updated(i, ch)))
      .find { t =>
        val h = ham(bandsOf(base), bandsOf(t)); h >= 1L && h <= 7L
      }.get
    val far = Seq("0123456789 " * 25, base.reverse,
      base.map(c => if (c.isLetter) ('z' - (c - 'a')).toChar else c))
      .find(t => ham(bandsOf(base), bandsOf(t)) > 7L &&
        ham(bandsOf(near), bandsOf(t)) > 7L).get
    val texts = Map(0L -> base, 1L -> base /* exact dup of 0 */,
      2L -> near, 3L -> far)
    val dir = java.nio.file.Files.createTempDirectory("phash_docs").toString
    texts.toSeq.map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    // the fixture genuinely exercises all three regimes (the finds
    // above guarantee it; re-assert for the reader)
    val b = texts.view.mapValues(bandsOf).toMap
    assert(ham(b(0L), b(2L)) >= 1L && ham(b(0L), b(2L)) <= 7L)
    assert(ham(b(0L), b(3L)) > 7L && ham(b(2L), b(3L)) > 7L)
    // expected rep-level output: reps {0 (members 2), 2, 3}; brute-force
    // all rep pairs at <= 7 — banding must find exactly these (pigeonhole)
    val reps = Map(0L -> 2L, 2L -> 1L, 3L -> 1L)
    val expect = (for {
      a <- reps.keys; bb <- reps.keys if a < bb
      h = ham(b(a), b(bb)) if h <= 7L
    } yield (a, bb) -> (h, reps(a), reps(bb))).toMap +
      ((0L, 0L) -> ((0L, 2L, 2L)))  // the multi-copy self-row
    val got = graft.ops.Multimodal.q155PhashNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got == expect, s"got $got\nwant $expect")
    // q156 on the same corpus, against an independent JVM reference:
    // candidates are exactly the band-collision set (the documented
    // multi-index-hashing recall contract), ranked by (hamming,
    // cand_id). Queries = reps % 25 == 0 → rep 0 here.
    val repIds = reps.keys.toSeq
    val want156 = (for {
      qid <- repIds if qid % 25 == 0
      ranked = repIds
        .filter(c => c != qid &&
          (0 until 8).exists(r => b(qid)(r) == b(c)(r)))
        .map(c => (ham(b(qid), b(c)), c))
        .sorted.take(3).zipWithIndex
        .map { case ((h, c), i) => (qid, (i + 1).toLong, c, h) }
      row <- ranked
    } yield row).toSet
    val got156 = graft.ops.Multimodal.q156PhashTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got156 == want156, s"got $got156\nwant $want156")
    assert(want156.nonEmpty)
    // band-vector memo staleness: the corpus changing under the cached
    // dir must evict the persisted frame, not serve it stale (the
    // contraction-memo discipline, applied to the phash memo)
    Thread.sleep(1100) // mtime granularity
    Seq((0L, base, "en", "s0", base.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val after = graft.ops.Multimodal.q155PhashNearDup(spark, dir).collect()
    assert(after.isEmpty, s"stale phash memo served: ${after.toSeq}")
    // the exact-recall contract is pigeonhole over 8 one-byte bands —
    // a threshold of 8+ would silently under-recall, so it must refuse
    intercept[IllegalArgumentException] {
      graft.ops.Multimodal.q155PhashNearDup(spark, dir, maxHamming = 8)
    }
  }

  test("q157 cross-modal: planted fixture hits both/media_only/embedding_only; expansion canonicalizes") {
    import spark.implicits._
    // same JVM dHash reference as the q155 test (byte arrays, no SQL)
    def bandsOf(text: String): Array[Long] = {
      val cells = Array.fill(72)(0L)
      text.getBytes("UTF-8").zipWithIndex
        .foreach { case (b, j) => cells(j % 72) += (b & 0xff).toLong }
      (0 until 8).map { r =>
        (0 until 8).map { c =>
          if (cells(r * 9 + c + 1) > cells(r * 9 + c)) 1L << c else 0L
        }.sum
      }.toArray
    }
    def ham(a: Array[Long], b: Array[Long]): Long =
      (0 until 8).map(r => java.lang.Long.bitCount(a(r) ^ b(r)).toLong).sum
    val base = "the quick brown fox jumps over the lazy dog " * 5
    val near = (0 until base.length).iterator
      .flatMap(i => Seq('z', '0', '~').map(ch => base.updated(i, ch)))
      .find { t =>
        val h = ham(bandsOf(base), bandsOf(t)); h >= 1L && h <= 7L
      }.get
    val far = Seq("0123456789 " * 25, base.reverse,
      base.map(c => if (c.isLetter) ('z' - (c - 'a')).toChar else c))
      .find(t => ham(bandsOf(base), bandsOf(t)) > 7L &&
        ham(bandsOf(near), bandsOf(t)) > 7L).get
    val h13 = ham(bandsOf(base), bandsOf(near))
    // docs: {0, 5} exact copies (one text group, rep 0), 3 a near edit,
    // 4 far. Member 5 of rep 0 pairing with member 3 of rep 3 forces
    // the (ma, mb) = (5, 3) canonicalization — the cross-pair expansion
    // where member order disagrees with rep order.
    val texts = Map(0L -> base, 5L -> base, 3L -> near, 4L -> far)
    // embeddings on the 1:1 doc_id<->vec_id link: v for {0, 5, 4}
    // (cos 1.0, sign-LSH collides in every band), -v for 3 (no shared
    // band, cos -1). So (0,5) is corroborated cross-modally; the media
    // pairs against 3 stay media_only; (0,4)/(4,5) embedding_only.
    val v = Seq.fill(64)(1.0f)
    val dir = java.nio.file.Files.createTempDirectory("xmodal").toString
    texts.toSeq.map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    Seq((0L, v, 0), (5L, v, 0), (4L, v, 0), (3L, v.map(-_), 1))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val got = graft.ops.Multimodal.q157CrossModalNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1.0 else r.getDouble(3),
          r.getString(4)))).toMap
    val expect = Map(
      (0L, 5L) -> ((0L, 1.0, "both")),
      (0L, 3L) -> ((h13, -1.0, "media_only")),
      (3L, 5L) -> ((h13, -1.0, "media_only")),
      (0L, 4L) -> ((-1L, 1.0, "embedding_only")),
      (4L, 5L) -> ((-1L, 1.0, "embedding_only")))
    assert(got == expect, s"got $got\nwant $expect")
  }

  test("q157 sides reconcile on the real corpus: embedding rows ≡ q34; media pair count ≡ q155's expansion") {
    val rows = graft.ops.Multimodal.q157CrossModalNearDup(spark, sf).collect()
    // embedding side: exactly q34's verified pairs, cos_sim bit-equal
    val emb = Dedup.q34EmbeddingNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val gotEmb = rows.filter(!_.isNullAt(3))
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(gotEmb == emb)
    // media side count: q155's member counts expand closed-form —
    // cross rows multiply, self rows enumerate within-group pairs
    val q155 = graft.ops.Multimodal.q155PhashNearDup(spark, sf).collect()
    val wantMedia = q155.map { r =>
      val (a, b, ma, mb) = (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))
      if (a == b) ma * (ma - 1) / 2 else ma * mb
    }.sum
    assert(rows.count(!_.isNullAt(2)) == wantMedia)
    // labels partition on the null pattern
    rows.foreach { r =>
      val want =
        if (!r.isNullAt(2) && !r.isNullAt(3)) "both"
        else if (!r.isNullAt(2)) "media_only" else "embedding_only"
      assert(r.getString(4) == want, r.toString)
    }
  }

  test("q86 bloom decontamination: flagged set equals q74, counts positive, fpp-invariant") {
    val q86 = TextOps.q86BloomDecontaminate(spark, sf).cache()
    try {
      // same flagged docs as the un-sketched exact pass
      val flagged = q86.select("doc_id")
      val exact = TextOps.q74Decontaminate(spark, sf)
      assert(flagged.except(exact).count() == 0L &&
        exact.except(flagged).count() == 0L)
      assert(q86.filter(col("n_contaminated_shingles") <= 0L).count() == 0L)
      // the sketch's error rate must never reach the answer: a sloppy
      // bloom (every other probe a false positive) yields identical rows
      val sloppy = TextOps.q86BloomDecontaminate(spark, sf, fpp = 0.5)
      assert(q86.except(sloppy).count() == 0L &&
        sloppy.except(q86).count() == 0L)
    } finally q86.unpersist()
  }

  test("q94 chunking: starts stride-aligned, full coverage, last chunk ends at n_tokens, content matches") {
    val w = 32; val s = 24
    val chunks = TextOps.q94ChunkOverlap(spark, sf, w, s).cache()
    try {
      // stride alignment + id consistency
      assert(chunks.filter(col("chunk_start") =!= col("chunk_id") * s).count() == 0L)
      assert(chunks.filter(col("chunk_len") < 1L || col("chunk_len") > w).count() == 0L)
      val docs = Tables.documents(spark, sf)
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("toks"))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .filter(col("n_tokens") > 0L).cache()
      try {
        // every non-empty doc chunked; chunk 0 starts at 0; the LAST
        // chunk ends exactly at n_tokens (no token lost, no padding)
        val perDoc = chunks.groupBy("doc_id").agg(
          min("chunk_start").as("first_start"),
          max(col("chunk_start") + col("chunk_len")).as("cover_end"),
          count(lit(1)).as("n_chunks"))
        val joined = perDoc.join(docs, Seq("doc_id"), "full")
        assert(joined.filter(col("n_chunks").isNull || col("n_tokens").isNull).count() == 0L)
        assert(joined.filter(col("first_start") =!= 0L).count() == 0L)
        assert(joined.filter(col("cover_end") =!= col("n_tokens")).count() == 0L)
        // consecutive chunks overlap by exactly w-s tokens of coverage:
        // starts are consecutive multiples of s (chunk_id dense from 0)
        val dense = chunks.groupBy("doc_id")
          .agg(max("chunk_id").as("max_id"), count(lit(1)).as("n_chunks"))
          .filter(col("max_id") =!= col("n_chunks") - 1L)
        assert(dense.count() == 0L)
        // content witness recomputed independently
        val bad = chunks.join(docs, Seq("doc_id"))
          .filter(
            element_at(col("toks"), (col("chunk_start") + 1L).cast("int"))
              =!= col("first_token") ||
            element_at(col("toks"),
              (col("chunk_start") + col("chunk_len")).cast("int"))
              =!= col("last_token"))
        assert(bad.count() == 0L)
      } finally docs.unpersist()
    } finally chunks.unpersist()
  }

  test("q95 inverted index: blocks bounded and disjoint, df consistent, postings sorted") {
    val b = 32
    val idx = TextOps.q95InvertedIndex(spark, sf, b, minDf = 5).cache()
    try {
      assert(idx.filter(col("n_docs") < 1L || col("n_docs") > b).count() == 0L)
      // df = sum of block sizes per term
      val byTerm = idx.groupBy("term")
        .agg(sum("n_docs").as("total"), first("df").as("df0"),
          countDistinct("df").as("ndf"))
      assert(byTerm.filter(col("ndf") =!= 1L || col("total") =!= col("df0")).count() == 0L)
      // blocks of a term are disjoint, increasing doc ranges
      import org.apache.spark.sql.expressions.Window
      val lagMax = lag("max_doc", 1).over(
        Window.partitionBy("term").orderBy("block"))
      assert(idx.withColumn("prev_max", lagMax)
        .filter(col("prev_max").isNotNull && col("min_doc") <= col("prev_max"))
        .count() == 0L)
      // postings string: sorted, n_docs entries, bounded by min/max
      val parsed = idx.withColumn("ids",
        transform(split(col("postings"), ","), _.cast("long")))
      assert(parsed.filter(size(col("ids")) =!= col("n_docs")).count() == 0L)
      assert(parsed.filter(
        element_at(col("ids"), 1) =!= col("min_doc") ||
        element_at(col("ids"), -1) =!= col("max_doc")).count() == 0L)
      // total postings = distinct (term, doc) pairs among df>=5 terms
      val pairs = Tables.documents(spark, sf)
        .select(explode(array_distinct(
          graft.functions.TextFunctions.tokens(col("text")))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 5L)
      val expected = pairs.agg(sum("cnt")).head().getLong(0)
      assert(idx.agg(sum("n_docs")).head().getLong(0) == expected)
    } finally idx.unpersist()
  }

  test("q99 holdout: exactly min(k, group size) per lang, membership invariant to partitioning") {
    val k = 7
    val hold = TextOps.q99EvalHoldout(spark, sf, k).cache()
    try {
      val sizes = Tables.documents(spark, sf)
        .groupBy("lang").agg(count(lit(1)).as("n"))
      val got = hold.groupBy("lang").agg(count(lit(1)).as("taken"),
        max("rank").as("max_rank"))
      assert(got.join(sizes, Seq("lang"))
        .filter(col("taken") =!= least(col("n"), lit(k.toLong)) ||
          col("max_rank") =!= col("taken")).count() == 0L)
      // independent JVM-side oracle: membership is a pure function of
      // (lang, md5(doc_id|salt)) — no dependence on physical layout
      val expected = Tables.documents(spark, sf)
        .select("lang", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).toSeq.flatMap { case (lang, docs) =>
          docs.toSeq.map { case (_, id) => (md5hex(s"$id|q99-holdout"), id) }
            .sorted.take(k)
            .map { case (_, id) => (lang, id) }
        }.toSet
      val gotSet = hold.select("lang", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(gotSet == expected)
    } finally hold.unpersist()
  }

  test("q101 fuzzy names: deletion-neighborhood blocking reproduces the brute-force pair set") {
    import spark.implicits._
    // covers every edit kind the distance-1 proof claims: substitution,
    // insertion, deletion, identical twins (lev 0), a transposition
    // (lev 2 — shares deletion keys, must be VERIFIED away), and a far
    // word (no shared key at all)
    val names = Seq(
      (1L, "spark"), (2L, "spork"),   // substitution
      (3L, "sparks"),                 // insertion vs 1
      (4L, "spar"),                   // deletion vs 1
      (5L, "spark"),                  // identical to 1 (lev 0)
      (6L, "sprak"),                  // transposition of 1 (lev 2)
      (7L, "window")                  // unrelated
    ).toDF("key", "name")
    val got = Dedup.fuzzyNamePairs(names)
      .select("key_a", "key_b").as[(Long, Long)].collect().toSet
    val brute = names.as[(Long, String)].collect()
    val expect = (for {
      (ka, na) <- brute; (kb, nb) <- brute if ka < kb
      if levDist(na, nb) <= 1
    } yield (ka, kb)).toSet
    assert(got == expect)
    assert(expect.contains((1L, 2L)) && expect.contains((1L, 3L)) &&
      expect.contains((1L, 4L)) && expect.contains((1L, 5L)) &&
      !expect.contains((1L, 6L)) && !expect.contains((1L, 7L)))
    // fixture path: every reported pair is genuinely within distance 1
    val fixture = Dedup.q101FuzzyNames(spark, sf)
    assert(fixture.filter(col("lev") > 1L).count() == 0L)
  }

  private def levDist(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  test("q102 triangles: corner counts sum to 3x an independent brute-force triangle count") {
    import spark.implicits._
    val edges = Dedup.q31JaccardPairs(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val adj = edges ++ edges.map { case (a, b) => (b, a) }
    var brute = 0L
    val perDoc = scala.collection.mutable.Map.empty[Long, Long]
    for {
      (a, b) <- edges
      c <- nodes if b < c
      if adj((b, c)) && adj((a, c))
    } {
      brute += 1
      Seq(a, b, c).foreach(x => perDoc(x) = perDoc.getOrElse(x, 0L) + 1L)
    }
    val got = Dedup.q102TriangleCounts(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(got.values.sum == 3L * brute)
    assert(got == perDoc.toMap)
  }

  test("q102 expansion: closed-form counts equal brute force on the blown-up graph") {
    import spark.implicits._
    // groups: A={1,2,3} B={10,11} C={20} D={30,31} (D isolated);
    // contracted edges form the triangle A-B-C plus nothing at D
    val groups = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L),
      (20L, 20L),
      (30L, 30L), (31L, 30L)).toDF("doc_id", "rep")
    val repEdges = Seq((1L, 10L), (10L, 20L), (1L, 20L)).toDF("a", "b")
    // blow up: intra-group cliques + complete bipartite between
    // adjacent groups — the structure the expansion assumes
    val members = Map(1L -> Seq(1L, 2L, 3L), 10L -> Seq(10L, 11L),
      20L -> Seq(20L), 30L -> Seq(30L, 31L))
    val adjReps = Set((1L, 10L), (10L, 20L), (1L, 20L))
    val docs = members.values.flatten.toSeq
    def connected(x: Long, y: Long): Boolean = {
      val (gx, gy) = (members.find(_._2.contains(x)).get._1,
        members.find(_._2.contains(y)).get._1)
      if (gx == gy) x != y
      else adjReps((math.min(gx, gy), math.max(gx, gy)))
    }
    val brute = scala.collection.mutable.Map.empty[Long, Long]
    for {
      i <- docs; j <- docs if i < j; l <- docs if j < l
      if connected(i, j) && connected(j, l) && connected(i, l)
    } Seq(i, j, l).foreach(x => brute(x) = brute.getOrElse(x, 0L) + 1L)
    val expanded = Dedup.expandTriangles(repEdges, groups).cache()
    try {
      val got = expanded.filter(col("n_triangles") > 0L)
        .select("doc_id", "n_triangles").as[(Long, Long)].collect().toMap
      assert(got == brute.toMap,
        s"got=${got.toSeq.sorted} brute=${brute.toSeq.sorted}")
      // blown-up degree recomputed independently
      val degBrute = docs.map(x =>
        x -> docs.count(y => connected(x, y)).toLong).toMap
      val degGot = expanded.select("doc_id", "degree")
        .as[(Long, Long)].collect().toMap
      assert(degGot == degBrute,
        s"deg got=${degGot.toSeq.sorted} brute=${degBrute.toSeq.sorted}")
    } finally expanded.unpersist()
  }

  test("q89 curation report: doc totals conserve, near-dups include exact dups, rate consistent") {
    val rep = Dedup.q89CurationReport(spark, sf).cache()
    try {
      val docs = Tables.documents(spark, sf).select("doc_id", "source")
      assert(rep.agg(sum("n_docs")).head().getLong(0) == docs.count())
      assert(rep.filter(col("n_near_dups") < col("n_exact_dups")).count() == 0L)
      // n_near_dups per source must agree with q69's labels re-aggregated
      val viaLabels = Dedup.q69DedupComponents(spark, sf)
        .join(docs, Seq("doc_id"))
        .groupBy("source")
        .agg(sum(when(col("component") =!= col("doc_id"), 1L).otherwise(0L))
          .as("n_from_labels"))
      assert(rep.join(viaLabels, Seq("source"))
        .filter(col("n_near_dups") =!= col("n_from_labels")).count() == 0L)
    } finally rep.unpersist()
  }

  test("q105 weighted sample: exactly the k smallest u/w priorities (JVM oracle), size = min(k, eligible)") {
    val k = 25
    val got = TextOps.q105WeightedSample(spark, sf, k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // independent JVM oracle: same md5-digit uniform, same one-division
    // priority, sorted with the same (priority, doc_id) tie-break
    val eligible = Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("w"))
      .filter(col("w") > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = eligible.map { case (id, w) =>
      val u = md5hex(id.toString).take(6)
        .map("0123456789abcdef".indexOf(_).toLong)
        .reduce(_ * 16 + _)
      (u.toDouble / w, id)
    }.sorted.take(k).map(_._2).toSet
    assert(got == expected)
    assert(got.size == math.min(k, eligible.length))
  }

  test("q115 weighted group sample: per-lang k smallest priorities, ranks dense from 1") {
    val k = 5
    val got = TextOps.q115WeightedGroupSample(spark, sf, k).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("w"))
      .filter(col("w") > 0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._2).toSeq.flatMap { case (lang, docs) =>
        docs.toSeq.map { case (id, _, w) =>
          val u = md5hex(id.toString).take(6)
            .map("0123456789abcdef".indexOf(_).toLong).reduce(_ * 16 + _)
          (u.toDouble / w, id)
        }.sorted.take(k).zipWithIndex
          .map { case ((_, id), i) => (lang, i + 1L, id) }
      }.toSet
    assert(got.toSet == expected)
    // dense ranks 1..min(k, group size) per lang
    got.groupBy(_._1).foreach { case (lang, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq, lang)
    }
  }

  test("q106 BPE pairs: total pair mass conserves and matches a JVM oracle on the vocabulary") {
    // run unlimited so conservation is over ALL pairs, not the top slice
    val all = TextOps.q106BpePairs(spark, sf, Int.MaxValue).cache()
    try {
      // every occurrence of an n-char word contributes n-1 pairs
      val expectedMass = Tables.documents(spark, sf)
        .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
        .collect().map(_.getString(0))
        .map(w => math.max(w.codePointCount(0, w.length) - 1, 0).toLong).sum
      assert(all.agg(sum("cnt")).head().getLong(0) == expectedMass)
      // JVM oracle (code-point-aware, mirroring substring semantics)
      val counts = collection.mutable.Map.empty[String, Long]
      Tables.documents(spark, sf)
        .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
        .collect().map(_.getString(0)).foreach { w =>
          val cps = w.codePoints().toArray
          (0 until cps.length - 1).foreach { i =>
            val pair = new String(cps, i, 2)
            counts(pair) = counts.getOrElse(pair, 0L) + 1L
          }
        }
      val gotMap = all.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(gotMap == counts.toMap)
    } finally all.unpersist()
  }

  test("q108 content chunks: tokens conserve per doc, chunks are insertion-stable (q94's are not)") {
    import spark.implicits._
    val chunks = TextOps.q108ContentChunks(spark, sf).cache()
    try {
      // conservation: per-doc chunk token counts sum back to the doc's
      // token count — nothing dropped or double-chunked
      val perDoc = chunks.groupBy("doc_id").agg(sum("n_tokens").as("n"))
      val docs = Tables.documents(spark, sf)
        .select(col("doc_id"),
          size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n_doc"))
        .filter(col("n_doc") > 0)
      assert(perDoc.join(docs, Seq("doc_id"), "full_outer")
        .filter(col("n") =!= col("n_doc") || col("n").isNull || col("n_doc").isNull)
        .count() == 0L)
      // INSERTION STABILITY — the reason content-defined beats fixed
      // stride: prepend a splice to a doc; every original chunk after
      // the first boundary must reappear hash-identical
      val text = Tables.documents(spark, sf)
        .filter(col("doc_id") === 0L).select("text").head().getString(0)
      val pair = Seq((0L, text), (1L, "spliced prefix tokens " + text))
        .toDF("doc_id", "text")
      val both = TextOps.contentChunksOf(pair)
        .select("doc_id", "chunk_id", "chunk_hash")
        .as[(Long, Long, String)].collect()
      val orig = both.filter(_._1 == 0L).sortBy(_._2).map(_._3)
      val spliced = both.filter(_._1 == 1L).map(_._3).toSet
      val stable = orig.drop(1) // chunk 0 contains the splice point
      assert(stable.nonEmpty && stable.forall(spliced.contains),
        "chunks after the first boundary must survive a prefix splice")
    } finally chunks.unpersist()
  }

  test("q109 boilerplate chunks: every reported chunk recurs across docs, exact dups share all chunks") {
    val bp = TextOps.q109BoilerplateChunks(spark, sf, minDocs = 2, k = Int.MaxValue)
    val rows = bp.collect()
    assert(rows.forall(r => r.getAs[Long]("n_docs") >= 2L &&
      r.getAs[Long]("n_occ") >= r.getAs[Long]("n_docs")))
    // the fixture has exact duplicate docs (q30's subject): each dup
    // group's chunks all recur, so the report must be non-empty
    assert(rows.nonEmpty)
  }

  test("q113 containment: bounds hold, every exact-dup pair appears at containment 1.0") {
    val pairs = Dedup.q113ContainmentPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, c) =>
      assert(a != b && c >= 0.8 && c <= 1.0, s"($a,$b,$c)")
    }
    // exact duplicates have identical token sets → identical signatures
    // → guaranteed LSH candidates → containment exactly 1.0
    val byText = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.split(" ").count(_.nonEmpty) >= 3) // shingle floor
      .groupBy(_._2).values.filter(_.length >= 2)
    val gotPairs = pairs.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    val fullScore = pairs.filter(_._3 == 1.0)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    byText.foreach { grp =>
      val ids = grp.map(_._1).sorted
      for (i <- ids.indices; j <- i + 1 until ids.length) {
        assert(gotPairs.contains((ids(i), ids(j))),
          s"exact-dup pair ${ids(i)},${ids(j)} missing")
        assert(fullScore.contains((ids(i), ids(j))),
          s"exact-dup pair ${ids(i)},${ids(j)} not at containment 1.0")
      }
    }
  }

  test("q121 exact containment equals JVM brute force; q113's verified pairs are a subset") {
    val got = Dedup.q121ContainmentExact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // independent brute force: all pairs, distinct-token containment,
    // same r4 floor rounding and contained/container tie rules
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0),
        r.getString(1).split(" ").filter(_.nonEmpty).distinct.toSet))
      .filter(_._2.nonEmpty)
    def r4d(v: Double): Double = math.floor(v * 1e4 + 0.5) / 1e4
    val expected = (for {
      i <- docs.indices.iterator
      j <- (i + 1 until docs.length).iterator
      (ida, ta) = docs(i); (idb, tb) = docs(j)
      common = ta.intersect(tb).size
      // same exact-integer qualify as engine and oracle
      if common.toLong * 10000L >= 8000L * math.min(ta.size, tb.size)
      c = r4d(common.toDouble / math.min(ta.size, tb.size))
    } yield {
      val (sm, lg) =
        if (ta.size < tb.size) (ida, idb)
        else if (tb.size < ta.size) (idb, ida)
        else (math.min(ida, idb), math.max(ida, idb))
      (sm, lg, c)
    }).toSet
    assert(got == expected && got.nonEmpty)
    // q113 (LSH candidates, same verify + threshold) can only be a subset
    val lsh = Dedup.q113ContainmentPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh.subsetOf(got),
      s"q113 found pairs q121 missed: ${lsh.diff(got).take(3)}")
  }

  test("content chunking: 200 seeded random docs chunk exactly like a JVM reference chunker") {
    import spark.implicits._
    // seeded random corpora (the TokenizeSpec discipline — scalatestplus
    // isn't in the offline cache, so generation is hand-rolled)
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "bb", "ccc", "Wort", "词", "x1", "émc", "zz9")
    val docs = (0L until 200L).map { id =>
      val n = rnd.nextInt(40) // includes empty docs
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val got = TextOps.contentChunksOf(docs.toDF("doc_id", "text"))
      .select("doc_id", "chunk_id", "n_tokens", "chunk_hash").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getString(3))).toMap
    // JVM reference chunker: same boundary class (md5 first hex digit
    // % 8 == 0 ends a chunk), same chunk id (boundaries strictly before)
    val expected = collection.mutable.Map.empty[(Long, Long), (Long, String)]
    docs.foreach { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty)
      var chunk = 0L
      val buf = collection.mutable.ArrayBuffer.empty[String]
      def flush(): Unit = if (buf.nonEmpty) {
        expected((id, chunk)) = (buf.length.toLong, md5hex(buf.mkString(" ")))
        buf.clear()
      }
      toks.foreach { t =>
        buf += t
        if (md5hex(t).head.toInt % 8 == 0) { flush(); chunk += 1 }
      }
      flush()
    }
    assert(got == expected.toMap)
  }

  test("q118 winnowing: matches a JVM reference winnower; shared runs share a fingerprint") {
    val got = TextOps.q118WinnowFingerprints(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // JVM reference: rightmost min of each FULL trailing 4-window of
    // hashed 3-shingles (strict winnowing — no partial leading windows;
    // a doc with < 4 shingles selects nothing)
    val expected = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .flatMap { r =>
        val id = r.getLong(0)
        val toks = r.getString(1).split(" ").filter(_.nonEmpty)
        val hs = toks.sliding(3).filter(_.length == 3)
          .map(g => md5hex(g.mkString(" "))).toArray
        (3 until hs.length).flatMap { e =>
          val lo = e - 3
          // rightmost minimum of hs(lo..e)
          val sel = (lo to e).minBy(p => (hs(p), -p))
          Some((id, sel.toLong, hs(sel)))
        }.distinct
      }.toSet
    assert(got.toSet == expected && got.nonEmpty)
    // the winnowing guarantee on exact-dup docs (identical shingle
    // streams): identical fingerprint SETS (pos + hash)
    val byDoc = got.groupBy(_._1)
    val dupGroups = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.split(" ").count(_.nonEmpty) >= 3)
      .groupBy(_._2).values.filter(_.length >= 2)
    dupGroups.foreach { grp =>
      val sets = grp.map(_._1).map(id =>
        byDoc.getOrElse(id, Array.empty).map(f => (f._2, f._3)).toSet)
      assert(sets.forall(_ == sets.head),
        s"exact dups ${grp.map(_._1).toSeq} have different fingerprint sets")
    }
  }

  test("q119 winnow pairs: n_shared equals the distinct-fingerprint intersection, dups pair fully") {
    val fp = TextOps.q118WinnowFingerprints(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pairs = TextOps.q119WinnowPairs(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    assert(pairs.nonEmpty)
    // every reported count is exactly the fingerprint-set intersection
    pairs.foreach { case ((a, b), n) =>
      assert(n == fp(a).intersect(fp(b)).size.toLong, s"($a,$b)")
    }
    // completeness: any doc pair with >= 2 shared fingerprints appears
    val ids = fp.keys.toSeq.sorted
    val expected = (for {
      i <- ids.indices; j <- i + 1 until ids.length
      n = fp(ids(i)).intersect(fp(ids(j))).size if n >= 2
    } yield (ids(i), ids(j))).toSet
    assert(pairs.map(_._1).toSet == expected)
  }

  test("q120 vocab growth: ten total rows, monotone cumsum ending at the distinct vocabulary") {
    val rows = TextOps.q120VocabGrowth(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == (1L to 10L))
    val vocab = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))))
      .distinct().count()
    assert(rows.map(_._2).sum == vocab)
    assert(rows.last._3 == vocab)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 == a._3 + b._2, "cumsum must chain") }
  }

  test("q110 skip-gram pairs: full map matches a JVM oracle, mass = sum of (n-1)+(n-2) per doc") {
    val all = TextOps.q110SkipgramCooccur(spark, sf, Int.MaxValue).cache()
    try {
      val docsToks = Tables.documents(spark, sf)
        .select(graft.functions.TextFunctions.tokens(col("text")))
        .collect().map(_.getSeq[String](0))
      val expectedMass = docsToks.map(t =>
        math.max(t.length - 1, 0).toLong + math.max(t.length - 2, 0).toLong).sum
      assert(all.agg(sum("cnt")).head().getLong(0) == expectedMass)
      val counts = collection.mutable.Map.empty[(String, String), (Long, Long)]
      docsToks.foreach { t =>
        for (i <- t.indices; off <- 1 to 2 if i + off < t.length) {
          val (a, b) = (t(i), t(i + off))
          val key = if (a <= b) (a, b) else (b, a)
          val (c, ca) = counts.getOrElse(key, (0L, 0L))
          counts(key) = (c + 1L, ca + (if (off == 1) 1L else 0L))
        }
      }
      val got = all.collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
      assert(got == counts.toMap)
    } finally all.unpersist()
  }

  test("q107 shingle novelty: first doc scores 1.0, novel counts sum to the distinct shingle count") {
    val nov = TextOps.q107ShingleNovelty(spark, sf).cache()
    try {
      val firstDoc = nov.agg(min("doc_id")).head().getLong(0)
      val firstRow = nov.filter(col("doc_id") === firstDoc).head()
      assert(firstRow.getAs[Double]("novelty") == 1.0)
      assert(nov.filter(col("n_novel") > col("n_shingles")).count() == 0L)
      // each distinct shingle hash is novel in exactly one doc
      val distinctShingles = Tables.documents(spark, sf)
        .select(explode(graft.functions.TextFunctions.shingles3(
          graft.functions.TextFunctions.tokens(col("text")))).as("sh"))
        .select(md5(col("sh"))).distinct().count()
      assert(nov.agg(sum("n_novel")).head().getLong(0) == distinctShingles)
    } finally nov.unpersist()
  }

  /** The fixture docs joined to their whitespace tokens, collected once
    * for the q122–q125 JVM reference recomputations below.
    */
  private def collectedDocs(): Seq[(Long, String, String)] =
    Tables.documents(spark, sf).select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

  private def toks(text: String): Seq[String] =
    text.split(" ", -1).toSeq.filter(_.nonEmpty)

  test("q162 stupid backoff: matches a JVM replay; all four backoff depths exercised") {
    val docs = collectedDocs()
    val lm = docs.filter(_._1 % 10 < 8)
    def grams(n: Int): Map[String, Long] = lm
      .flatMap(d => toks(d._3).sliding(n).filter(_.length == n).map(_.mkString(" ")))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c3 = grams(3); val c2 = grams(2); val c1 = grams(1)
    val nTot = c1.values.sum
    val want = docs.map { case (id, _, text) =>
      val scores = toks(text).sliding(3).filter(_.length == 3).map { tri =>
        val Seq(u, v, w) = tri
        val g = s"$u $v $w"; val ctx = s"$u $v"; val vw = s"$v $w"
        // positive-operand integer division ≡ floor division ≡ `div`
        if (c3.contains(g)) (0, c3(g) * 1000000L / c2(ctx))
        else if (c2.contains(vw)) (1, c2(vw) * 2000000L / (5L * c1(v)))
        else if (c1.contains(w)) (2, c1(w) * 4000000L / (25L * nTot))
        else (3, 0L)
      }.toSeq
      val np = scores.size.toLong
      val sum = scores.map(_._2).sum
      (id, np,
        scores.count(_._1 == 0).toLong, scores.count(_._1 == 1).toLong,
        scores.count(_._1 == 2).toLong, scores.count(_._1 == 3).toLong,
        sum, if (np > 0) Some(sum / np) else None)
    }.toSet
    val got = TextOps.q162StupidBackoff(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getLong(7)))).toSet
    assert(got == want,
      s"mismatch: ${(got diff want).take(3)} vs ${(want diff got).take(3)}")
    // the fixture exercises the trigram-hit, bigram- and
    // unigram-backoff branches (true OOV can't occur at sf0.001 —
    // the slices share a vocabulary; the constructed test below pins it)
    assert(want.exists(_._3 > 0L) && want.exists(_._4 > 0L) &&
      want.exists(_._5 > 0L))
  }

  test("q162 stupid backoff on a planted corpus: every depth incl. true OOV, hand-computed") {
    import spark.implicits._
    // LM slice = ids 0,1 (%10<8): N = 8 tokens
    //   id 0: "a b c a b"  → trigrams {abc, bca, cab}; bigrams ab×2, bc, ca
    //   id 1: "c d e"      → trigram {cde}; bigrams cd, de
    // scored doc id 8 (%10=8, held out): "a b c x e d e zz q"
    val docs = Seq(
      (0L, "a b c a b"), (1L, "c d e"), (8L, "a b c x e d e zz q"))
      .toDF("doc_id", "text")
    val got = TextOps.stupidBackoffCore(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getLong(7))))).toMap
    // doc 8's 7 trigram positions, by hand:
    //  (a,b,c): c3=1, c2(ab)=2      → depth0, 1000000*1/2   = 500000
    //  (b,c,x): no c3; c2(cx)? no; c1(x)? no → OOV depth3, 0
    //  (c,x,e): no c3; c2(xe)? no; c1(e)=1 → depth2, 4000000/(25*8) = 20000
    //  (x,e,d): no c3; c2(ed)? no; c1(d)=1 → depth2, 4000000/200 = 20000
    //  (e,d,e): no c3; c2(de)=1, c1(d)=1 → depth1, 1*2000000/5 = 400000
    //  (d,e,zz): no c3; c2(e zz)? no; c1(zz)? no → OOV depth3, 0
    //  (e,zz,q): no; no; c1(q)? no → OOV depth3, 0
    val sum8 = 500000L + 20000L + 20000L + 400000L
    assert(got(8L) == (7L, 1L, 1L, 2L, 3L, sum8, Some(sum8 / 7L)))
    // LM docs self-score depth0 everywhere (their trigrams are in c3)
    assert(got(0L)._2 == got(0L)._1 && got(1L)._2 == got(1L)._1)
  }

  test("q122 dup n-gram spans: matches a JVM reference (grams, runs, fractions)") {
    val docs = collectedDocs()
    val grams = docs.map { case (id, _, text) => id -> toks(text).sliding(8).filter(_.length == 8).map(_.mkString(" ")).toVector }
      .filter(_._2.nonEmpty)
    val docsPerGram = grams.flatMap { case (id, gs) => gs.map(g => (g, id)) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
    val want = grams.map { case (id, gs) =>
      val dup = gs.map(g => docsPerGram(g) >= 2)
      val runs = {
        var best = 0L; var cur = 0L
        dup.foreach { f => if (f) { cur += 1; best = math.max(best, cur) } else cur = 0 }
        best
      }
      val nDup = dup.count(identity).toLong
      id -> (gs.length.toLong, nDup, runs,
        math.floor(nDup.toDouble / gs.length * 1e4 + 0.5) / 1e4)
    }.toMap
    val got = TextOps.q122DupNgramSpans(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got == want)
  }

  test("q123 source overlap: matches a JVM reference Jaccard matrix") {
    val docs = collectedDocs()
    val sets = docs.groupBy(_._2).map { case (src, ds) =>
      src -> ds.flatMap { case (_, _, text) =>
        toks(text).sliding(3).filter(_.length == 3).map(_.mkString(" "))
      }.toSet
    }
    val want = (for {
      (s1, a) <- sets; (s2, b) <- sets if s1 < s2
      inter = (a & b).size.toLong if inter > 0
    } yield (s1, s2) -> (inter,
      math.floor(inter.toDouble / (a.size + b.size - inter) * 1e6 + 0.5) / 1e6)).toMap
    val got = TextOps.q123SourceOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got == want)
  }

  test("q124 mix temperature: matches a JVM reference draw; quotas under-fill by < #sources") {
    val docs = collectedDocs()
    val cnt = docs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val w = cnt.view.mapValues(c => math.floor(math.sqrt(c.toDouble) * 1e6).toLong).toMap
    val wtot = w.values.sum
    val quota = w.map { case (s, x) => s -> (200L * x / wtot) }
    val want = docs.groupBy(_._2).flatMap { case (src, ds) =>
      ds.map(_._1).sortBy(id => (md5hex(s"$id-mix"), id))
        .take(quota(src).toInt).zipWithIndex
        .map { case (id, i) => (src, id, i + 1L, cnt(src), quota(src)) }
    }.toSet
    val got = TextOps.q124MixTemperature(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == want)
    val drawn = got.size.toLong
    assert(drawn <= 200L && drawn > 200L - cnt.size)
  }

  test("q127 phrase top-k: matches a JVM reference retrieval run") {
    val docs = collectedDocs()
    val tf = docs.flatMap { case (id, _, text) =>
      toks(text).sliding(2).filter(_.length == 2).map(_.mkString(" "))
        .filter(TextOps.DefaultPhrases.contains).map(p => (p, id))
    }.groupBy(identity).map { case ((p, id), xs) => (p, id, xs.size.toLong) }
    val want = tf.groupBy(_._1).flatMap { case (p, rows) =>
      rows.toSeq.sortBy { case (_, id, c) => (-c, id) }.take(10).zipWithIndex
        .map { case ((_, id, c), i) => (p, i + 1L, id, c) }
    }.toSet
    val got = TextOps.q127PhraseTopk(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
  }

  test("q158 BM25 top-k: matches a JVM reference ranking run") {
    val docs = collectedDocs()
    val n = docs.size.toLong
    val dls = docs.map { case (id, _, text) => id -> toks(text).size.toLong }.toMap
    val avgdlMilli = dls.values.sum * 1000L / n
    val terms = TextOps.DefaultBm25Terms.toSet
    val tf = docs.flatMap { case (id, _, text) =>
      toks(text).filter(terms.contains).groupBy(identity)
        .map { case (t, xs) => (t, id, xs.size.toLong) }
    }
    val dfm = tf.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val perTerm = tf.map { case (t, id, f) =>
      val df = dfm(t)
      val idfMicro = (2L * n - 2L * df + 1L) * 1000000L / (2L * df + 1L)
      val fracMicro = 22L * f * avgdlMilli * 1000000L /
        (10L * f * avgdlMilli + 3L * avgdlMilli + 9000L * dls(id))
      (id, idfMicro * fracMicro / 1000000L)
    }
    val want = perTerm.groupBy(_._1)
      .map { case (id, xs) => (id, xs.size.toLong, xs.map(_._2).sum) }
      .toSeq.sortBy { case (id, _, s) => (-s, id) }.take(20).zipWithIndex
      .map { case ((id, nt, s), i) => (i + 1L, id, nt, s) }.toSet
    val got = TextOps.q158Bm25TopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    // structural: every emitted score is positive (df < N for every
    // fixture term) and ranks are the contiguous 1..k prefix
    assert(got.forall(_._4 > 0L) && got.map(_._1) == (1L to 20L).toSet)
  }

  /** JVM replay of the q160/q161 KMV sketch pipeline: per-source
    * distinct 48-bit shingle hashes (first 12 md5 hex chars, +1),
    * ascending, bottom-k. Shared by both sketch specs.
    */
  private def kmvJvmSketches(): Map[String, Seq[Long]] = {
    collectedDocs().groupBy(_._2).view.mapValues { ds =>
      ds.flatMap { case (_, _, text) =>
        toks(text).sliding(3).filter(_.length == 3).map(_.mkString(" "))
      }.map(sh => java.lang.Long.parseLong(md5hex(sh).substring(0, 12), 16) + 1L)
        .distinct.sorted
    }.toMap
  }
  private val kmvK = 256
  private def kmvEst(sorted: Seq[Long]): Long =
    if (sorted.size < kmvK) sorted.size.toLong
    else (kmvK - 1).toLong * (1L << 48) / sorted(kmvK - 1)

  test("q160 KMV distinct: matches a JVM sketch replay; saturated estimates within 25% of exact") {
    val bySource = kmvJvmSketches()
    val want = bySource.map { case (src, hs) =>
      val sk = hs.take(kmvK)
      (src, sk.size.toLong,
        if (sk.size >= kmvK) Some(sk(kmvK - 1)) else None, kmvEst(sk))
    }.toSet
    val got = TextOps.q160KmvDistinct(spark, sf).collect().map(r =>
      (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3))).toSet
    assert(got == want)
    // the saturated (genuinely estimating) branch is exercised, and
    // every saturated estimate lands within 25% (4 sigma) of the true
    // distinct-hash count
    assert(bySource.exists(_._2.size >= kmvK))
    for ((src, hs) <- bySource if hs.size >= kmvK) {
      val est = want.find(_._1 == src).get._4
      assert(math.abs(est - hs.size) * 100 <= 25L * hs.size,
        s"$src est=$est exact=${hs.size}")
    }
  }

  test("q161 KMV overlap: matches a JVM replay of the union/intersection sketch algebra") {
    val bySource = kmvJvmSketches()
    val sk = bySource.view.mapValues(_.take(kmvK)).toMap
    val est = sk.view.mapValues(kmvEst).toMap
    val srcs = sk.keys.toSeq.sorted
    val want = (for {
      s1 <- srcs; s2 <- srcs if s1 < s2
    } yield {
      val mu = (sk(s1) ++ sk(s2)).distinct.sorted
      val eu = kmvEst(mu.take(kmvK))
      val ei = math.max(0L, est(s1) + est(s2) - eu)
      (s1, s2, est(s1), est(s2), eu, ei,
        if (eu > 0L) Some(ei * 1000000L / eu) else None)
    }).toSet
    val got = TextOps.q161KmvOverlap(spark, sf).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getLong(6)))).toSet
    assert(got == want)
    // all C(#sources, 2) pairs are emitted (q123's inner join drops
    // disjoint pairs; the sketch matrix must not)
    assert(got.size == srcs.size * (srcs.size - 1) / 2)
  }

  test("q128 token budget: matches a JVM greedy fill; every source covers the budget or is exhausted") {
    val budget = 1000L
    val docs = collectedDocs()
    val want = docs.groupBy(_._2).flatMap { case (src, ds) =>
      val ordered = ds.map { case (id, _, text) => (id, toks(text).size.toLong) }
        .sortBy { case (id, _) => (md5hex(s"$id-budget"), id) }
      val cums = ordered.scanLeft(0L)(_ + _._2).tail
      ordered.zip(cums).zipWithIndex
        .takeWhile { case (((_, n), cum), _) => cum - n < budget }
        .map { case (((id, n), cum), i) => (src, i + 1L, id, n, cum) }
    }.toSet
    val got = TextOps.q128TokenBudgetMix(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == want)
    // contract: each source's selected set reaches the budget, or the
    // source had fewer tokens than the budget in total
    val totals = docs.groupBy(_._2).view
      .mapValues(_.map { case (_, _, t) => toks(t).size.toLong }.sum).toMap
    got.groupBy(_._1).foreach { case (src, rows) =>
      val covered = rows.map(_._5).max
      assert(covered >= math.min(budget, totals(src)))
    }
  }

  test("q129 component size histogram: consistent with the q69 labels; doc mass conserved") {
    val labels = Dedup.q69DedupComponents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val want = labels.groupBy(_._2).values.map(_.size.toLong)
      .groupBy(identity).map { case (sz, xs) =>
        (sz, xs.size.toLong, sz * xs.size) }.toSet
    val got = Dedup.q129ComponentSizeHist(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.toSeq.map(_._3).sum == labels.length.toLong)
  }

  test("q134 dedup-adjusted mix: matches a JVM draw over the q69 keepers; no non-keeper selected") {
    val docs = collectedDocs()
    val comp = Dedup.q69DedupComponents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keepers = docs.filter { case (id, _, _) => comp(id) == id }
    val eff = keepers.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val w = eff.view.mapValues(c => math.floor(math.sqrt(c.toDouble) * 1e6).toLong).toMap
    val wtot = w.values.sum
    val quota = w.map { case (s, x) => s -> (200L * x / wtot) }
    val want = keepers.groupBy(_._2).flatMap { case (src, ds) =>
      ds.map(_._1).sortBy(id => (md5hex(s"$id-dmix"), id))
        .take(quota(src).toInt).zipWithIndex
        .map { case (id, i) => (src, id, i + 1L, eff(src), quota(src)) }
    }.toSet
    val got = Dedup.q134DedupAdjustedMix(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == want)
    got.foreach { case (_, id, _, _, _) => assert(comp(id) == id) }
  }

  test("q130 semantic decontamination: XOR membership against a JVM holdout; evidence pairs are verified near-dups") {
    val k = 10
    val hold = Tables.embeddings(spark, sf).select("vec_id", "label").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._2).values.flatMap { vs =>
        vs.map(_._1).sortBy(id => (md5hex(s"$id|q130-holdout"), id)).take(k)
      }.toSet
    val pairs = Dedup.q34EmbeddingNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = pairs.flatMap { case (a, b, c) =>
      (hold(a), hold(b)) match {
        case (true, false) => Some((b, a, c))
        case (false, true) => Some((a, b, c))
        case _             => None
      }
    }.toSet
    val got = Dedup.q130SemanticDecontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
    got.foreach { case (train, eval_, _) =>
      assert(!hold(train) && hold(eval_))
    }
  }

  test("q131 bigram LM: matches a JVM reference table; micro-probs sum to ~1e6 per covered prefix") {
    val docs = collectedDocs()
    val bg = docs.flatMap { case (_, _, text) =>
      toks(text).sliding(2).filter(_.length == 2).map(w => (w(0), w(1)))
    }.groupBy(identity).map { case ((a, b), xs) => (a, b, xs.size.toLong) }
    val prefix = bg.groupBy(_._1).map { case (w1, xs) => w1 -> xs.map(_._3).sum }
    val want = bg.groupBy(_._1).filter { case (w1, _) => prefix(w1) >= 50L }
      .flatMap { case (w1, rows) =>
        rows.toSeq.sortBy { case (_, w2, c) => (-c, w2) }.take(3).zipWithIndex
          .map { case ((_, w2, c), i) =>
            (w1, i + 1L, w2, c, prefix(w1), c * 1000000L / prefix(w1)) }
      }.toSet
    val got = TextOps.q131BigramLm(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == want)
    // full-table sanity: summed over ALL continuations (not just top-3),
    // integer-division micro-probs land within one vocabulary of 1e6
    prefix.filter(_._2 >= 50L).foreach { case (w1, cp) =>
      val total = bg.filter(_._1 == w1).map { case (_, _, c) => c * 1000000L / cp }.sum
      assert(total <= 1000000L && total > 1000000L - bg.count(_._1 == w1))
    }
  }

  test("q133 Simpson diversity: matches a JVM reference; bounded by 1 - 1/V") {
    val want = collectedDocs().flatMap { case (id, _, text) =>
      val ts = toks(text)
      val n = ts.length.toLong
      if (n == 0) None else {
        val sumSq = ts.groupBy(identity).values
          .map(g => g.size.toLong * g.size).sum
        Some(id -> (n, ts.distinct.length.toLong,
          math.floor((n * n - sumSq).toDouble / (n * n) * 1e6 + 0.5) / 1e6))
      }
    }.toMap
    val got = TextOps.q133SimpsonDiversity(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got == want)
    got.values.foreach { case (_, v, s) =>
      assert(s >= 0.0 && s <= 1.0 - 1.0 / v + 1e-6)
    }
  }

  test("q125 quality rules: matches a JVM reference rule battery") {
    val stop = Set("the", "a")
    val want = collectedDocs().map { case (id, _, text) =>
      val ts = toks(text)
      val n = ts.length.toLong
      val sumChars = ts.map(_.length.toLong).sum
      val rLen = n >= 10 && n <= 1000
      val rWord = sumChars >= 2 * n && sumChars <= 8 * n
      val rStop = ts.exists(stop)
      val rTtr = 10L * ts.distinct.length >= 3 * n
      id -> (n, rLen, rWord, rStop, rTtr, rLen && rWord && rStop && rTtr)
    }.toMap
    val got = TextOps.q125QualityRules(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6))).toMap
    assert(got == want)
  }

  test("q135 PII redaction: matches a java.util.regex JVM reference; all multiplicities hit") {
    val want = collectedDocs().map { case (id, _, text) =>
      val pii = text + " contact user" + id + "@mail" + (id % 5) + ".com" +
        (if (id % 3 == 0) " cc admin" + (id % 7) + "@ex.org" else "") +
        " ip 10." + (id % 254) + "." + (id % 97) + ".7" +
        (if (id % 4 != 1) " call 555-" + "%04d".format(id % 10000) else "")
      def count(re: String): Long = {
        val m = java.util.regex.Pattern.compile(re).matcher(pii)
        Iterator.continually(m.find()).takeWhile(identity).size.toLong
      }
      val red = pii.replaceAll(TextOps.EmailRe, "<EMAIL>")
        .replaceAll(TextOps.Ipv4Re, "<IP>")
        .replaceAll(TextOps.PhoneRe, "<PHONE>")
      id -> (count(TextOps.EmailRe), count(TextOps.Ipv4Re),
        count(TextOps.PhoneRe), red.length.toLong, md5hex(red))
    }.toMap
    val got = TextOps.q135PiiRedact(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toMap
    assert(got == want)
    // the varied contact block exercises 0, 1 and 2 matches per type
    assert(want.values.map(_._1).toSet.contains(2L)) // doubled email
    assert(want.values.map(_._3).toSet == Set(0L, 1L)) // phone present/absent
    // no residual PII survives redaction
    got.values.foreach { case (_, _, _, _, md5) => assert(md5.length == 32) }
    val residual = TextOps.q135PiiRedact(spark, sf)
      .filter(col("n_email") + col("n_ipv4") + col("n_phone") === 0L).count()
    assert(residual == 0L) // every doc carried at least one PII item
  }

  test("q137 pagerank: matches an exact-integer JVM reference over the verified graph") {
    val Scale = 1000000000000L
    val pairs = Dedup.q31JaccardPairs(spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = collectedDocs().map(_._1)
    val n = ids.length.toLong
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).map { case (k, xs) => k -> xs.length.toLong }
    val base = (Scale * 15L / 100L) / n
    var pr = ids.map(_ -> Scale / n).toMap
    for (_ <- 1 to 3) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => pr(src) / deg(src) }.sum
      }
      pr = ids.map(id => id -> (base + contrib.getOrElse(id, 0L) * 85L / 100L)).toMap
    }
    val want = ids.map(id => id -> (deg.getOrElse(id, 0L), pr(id))).toMap
    val got = Dedup.q137Pagerank(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
    // floor-truncation only ever LEAKS mass: total stays under SCALE,
    // and every rank is at least the teleport base
    assert(pr.values.sum <= Scale)
    assert(pr.values.forall(_ >= base))
    // hubs rank above their spokes: max-degree node holds max rank
    // within its own neighborhood
    if (deg.nonEmpty) {
      val hub = deg.maxBy(x => (x._2, -x._1))._1
      val neighbors = edges.filter(_._1 == hub).map(_._2)
      assert(neighbors.forall(v => pr(hub) >= pr(v) || deg(v) > deg(hub)))
    }
  }

  test("q147 convergent pagerank: JVM reference agrees on ranks AND iterations-to-converge") {
    val Scale = 1000000000000L
    val maxIters = 12
    val pairs = Dedup.q31JaccardPairs(spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = collectedDocs().map(_._1)
    val n = ids.length.toLong
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).map { case (k, xs) => k -> xs.length.toLong }
    val base = (Scale * 15L / 100L) / n
    val p0 = Scale / n
    val tol = p0 / 10L
    var pr = ids.map(_ -> p0).toMap
    var it = 0
    var resid = Long.MaxValue
    while (it < maxIters && resid > tol) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => pr(src) / deg(src) }.sum
      }
      val next =
        ids.map(id => id -> (base + contrib.getOrElse(id, 0L) * 85L / 100L)).toMap
      resid = ids.map(id => math.abs(next(id) - pr(id))).max
      pr = next
      it += 1
    }
    val want = ids.map(id =>
      id -> (deg.getOrElse(id, 0L), pr(id), it.toLong)).toMap
    val got = Dedup.q147PagerankConverged(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == want)
    // On this tiny sparse corpus (sf0.001) the cap binds — its star
    // components mix at ~0.85/step, so the budget bound is the designed
    // behavior here (measured curves in NOTES round 9: sf0.01 fires at
    // 10, the 20× dup-heavy blow-up at ~4). The escape hatch itself is
    // pinned by the dup-clique test below, where n_iters must be 1.
  }

  test("q147 convergent pagerank: the stop fires immediately on pure dup-clique graphs") {
    import spark.implicits._
    // three groups of 10 identical docs → the verified graph is three
    // 10-cliques. A regular graph's stationary distribution IS the
    // uniform start, so the residual after one step is floor crumbs —
    // the early-stop regime of the dup-heavy corpora this op polices
    val rows = for { g <- 0 until 3; k <- 0 until 10 } yield
      (g * 100L + k, (0 until 12).map(i => s"g${g}tok$i").mkString(" "),
        "en", "x")
    val dir = java.nio.file.Files.createTempDirectory("q147_cliques").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.q147PagerankConverged(spark, dir).collect()
    assert(got.length == 30)
    assert(got.forall(_.getLong(3) == 1L), "expected n_iters == 1")
    assert(got.forall(_.getLong(1) == 9L)) // every node degree 9
    // symmetric nodes hold identical mass
    assert(got.map(_.getLong(2)).distinct.length == 1)
  }

  test("q137/q147 contraction exactness: rep-level iteration equals the member-level JVM fold on a dup-heavy mixed graph") {
    import spark.implicits._
    // the fixture the clique test can't cover: exact-dup groups of
    // UNEQUAL sizes whose texts ALSO near-dup across groups (jaccard
    // >= 0.6 between group texts), so the rep graph has cross-rep
    // edges with copy weights AND within-group terms at once — every
    // term of pagerankRepStep's weighted fold is exercised, plus an
    // isolated singleton (deg 0 → teleport base only)
    val baseToks = (0 until 10).map(i => s"tok$i")
    val textA = baseToks.mkString(" ")                      // group A
    val textB = (baseToks.take(8) ++ Seq("xb1", "xb2")).mkString(" ") // jac 8/12 = 0.667 vs A
    val textC = "zzz yyy xxx www"                           // isolated
    val rows =
      (0 until 5).map(k => (k.toLong, textA, "en", "s")) ++
      (0 until 3).map(k => (100L + k, textB, "en", "s")) ++
      Seq((200L, textC, "en", "s"))
    val dir = java.nio.file.Files.createTempDirectory("q137_mixed").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // member-level JVM reference (the formulation the oracle replays)
    val Scale = 1000000000000L
    val pairs = Dedup.q31JaccardPairs(spark, dir).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = rows.map(_._1)
    val n = ids.length.toLong
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).map { case (k, xs) => k -> xs.length.toLong }
    // the fixture must actually have both edge kinds or it proves nothing
    assert(edges.exists { case (a, b) => a < 100 && b >= 100 && b < 200 },
      "no cross-group near-dup edge — fixture degenerate")
    assert(edges.exists { case (a, b) => a < 100 && b < 100 },
      "no within-group edge — fixture degenerate")
    assert(!deg.contains(200L), "isolated doc gained an edge")
    val base = (Scale * 15L / 100L) / n
    var pr = ids.map(_ -> Scale / n).toMap
    for (_ <- 1 to 3) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => pr(src) / deg(src) }.sum
      }
      pr = ids.map(id => id -> (base + contrib.getOrElse(id, 0L) * 85L / 100L)).toMap
    }
    val want = ids.map(id => id -> (deg.getOrElse(id, 0L), pr(id))).toMap
    val got = Dedup.q137Pagerank(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
    // q147 on the same fixture: same per-member exactness + a shared
    // deterministic iteration count
    val got147 = Dedup.q147PagerankConverged(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got147.map(_._4).distinct.length == 1)
    val members = got147.map(t => t._1 -> (t._2, t._3)).toMap
    // members of one exact-dup group hold identical (degree, rank)
    assert((0 until 5).map(k => members(k.toLong)).distinct.length == 1)
    assert((0 until 3).map(k => members(100L + k)).distinct.length == 1)
    assert(members(200L)._1 == 0L) // isolated: degree 0, base-only rank
  }

  test("q138 token fertility: matches a JVM reference; exact integer sums") {
    val docs = Tables.documents(spark, sf)
      .select("lang", "source", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val want = docs.groupBy(t => (t._1, t._2)).flatMap { case ((l, src), xs) =>
      val nb = xs.map(_._3.getBytes("UTF-8").length.toLong).sum
      val nt = xs.map(t => toks(t._3).length.toLong).sum
      if (nt == 0) None
      else Some((l, src) -> (xs.length.toLong, nb, nt,
        math.floor(nb.toDouble / nt.toDouble * 1e6 + 0.5) / 1e6,
        math.floor(nt.toDouble / xs.length.toLong * 1e6 + 0.5) / 1e6))
    }
    val got = TextOps.q138TokenFertility(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
      .toMap
    assert(got == want)
  }

  /** Full JVM SNM reference for q139: Spark's own UTF8String lowercase,
    * codepoint substring keys, UTF-8 byte-order ranks, window pairs at
    * distance 1..w-1 per pass, exact distinct-token Jaccard at 0.6.
    */
  private def snmReference(docs: Array[(Long, String)], w: Int)
      : Set[(Long, Long, Double, Boolean, Boolean)] = {
    def lowered(sz: String): String =
      org.apache.spark.unsafe.types.UTF8String.fromString(sz).toLowerCase.toString
    // codepoint-based substring, as substring()/length() are in both engines
    def key(sz: String, suffix: Boolean): String = {
      val cps = sz.codePoints.toArray
      val start = if (suffix) math.max(cps.length - 24, 0) else 0
      new String(cps, start, math.min(24, cps.length - start))
    }
    // UTF-8 byte order (Spark UTF8String / DuckDB memcmp collation)
    val byteOrd = new Ordering[String] {
      def compare(x: String, y: String): Int = {
        val a = x.getBytes("UTF-8"); val b = y.getBytes("UTF-8")
        var i = 0; var c = 0
        while (c == 0 && i < a.length && i < b.length) {
          c = (a(i) & 0xff) - (b(i) & 0xff); i += 1
        }
        if (c != 0) c else a.length - b.length
      }
    }
    def passPairs(suffix: Boolean): Set[(Long, Long)] = {
      val ranked = docs.map { case (id, t) => (id, key(lowered(t), suffix)) }
        .sortBy { case (id, k) => (k, id) }(Ordering.Tuple2(byteOrd, Ordering.Long))
      (for {
        i <- ranked.indices.iterator
        j <- (i + 1 until math.min(i + w, ranked.length)).iterator
      } yield {
        val a = ranked(i)._1; val b = ranked(j)._1
        (math.min(a, b), math.max(a, b))
      }).toSet
    }
    val p1 = passPairs(suffix = false)
    val p2 = passPairs(suffix = true)
    val tokSets = docs.map { case (id, t) =>
      id -> t.split(" ").filter(_.nonEmpty).toSet }.toMap
    def r4d(v: Double): Double = math.floor(v * 1e4 + 0.5) / 1e4
    (p1 ++ p2).flatMap { case (a, b) =>
      val ta = tokSets(a); val tb = tokSets(b)
      val common = ta.intersect(tb).size
      val denom = ta.size + tb.size - common
      if (denom == 0) None
      else {
        val j = r4d(common.toDouble / denom)
        if (j >= 0.6) Some((a, b, j, p1.contains((a, b)), p2.contains((a, b))))
        else None
      }
    }
  }

  test("q139 sorted-neighborhood: matches a full JVM SNM reference (keys, byte-order ranks, window pairs, exact verify)") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = snmReference(docs, w = 6)
    val got = Dedup.q139SortedNeighborhood(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3), r.getBoolean(4))).toSet
    assert(got == expected && got.nonEmpty)
    // SNM's defining candidate bound means the verified output can never
    // exceed 2·n·(w−1) pairs
    assert(got.size <= 2 * docs.length * 5)
  }

  test("q139 sorted-neighborhood on an adversarial non-ASCII corpus (case expansion, supplementary planes)") {
    import spark.implicits._
    // the blind spot the driver corpus (pure ASCII) cannot exercise:
    // lowercasing that CHANGES codepoint count (İ → i̇ , ẞ → ß keeps,
    // but İ expands), supplementary-plane chars where UTF-16 order and
    // UTF-8 byte order DISAGREE (𝔘 sorts above ﬁ in bytes, below in
    // UTF-16 code units), and multi-byte chars straddling the 24-char
    // key window — the exact class the r7 suffix-offset bug lived in
    val rnd = new scala.util.Random(77)
    val vocab = Vector("İstanbul", "straße", "ẞTRASSE", "𝔘𝔫𝔦𝔠𝔬𝔡𝔢", "ﬁsh",
      "naïve", "ΣΙΣΥΦΟΣ", "σίσυφος", "MIXED", "mixed", "Ωmega", "詞彙",
      "🎛️knob", "aaa", "zzz")
    val docs = (1L to 300L).map { id =>
      val n = 2 + rnd.nextInt(30)
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toArray
    val dir = java.nio.file.Files.createTempDirectory("q139_utf").toString
    docs.toSeq.toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.q139SortedNeighborhood(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3), r.getBoolean(4))).toSet
    val expected = snmReference(docs, w = 6)
    assert(got == expected && got.nonEmpty,
      s"diff: ${(got diff expected).take(3)} / ${(expected diff got).take(3)}")
  }

  test("q139 sorted-neighborhood with duplicate empty-token texts: same-rep 0/0 pairs are dropped, not closed-formed to 1.0") {
    import spark.implicits._
    // identical empty-token texts sort adjacent and ALWAYS form window
    // pairs; their Jaccard is 0/0, which the oracle's
    // `na + nb - common > 0` guard drops — the closed-form same-rep 1.0
    // must be gated on a non-empty rep token set (the pre-r14 code
    // applied 1.0 unconditionally; no driver fixture has duplicate
    // empty texts, so only this corpus exercises the guard)
    val docs = Array[(Long, String)](
      (1L, ""), (2L, ""), (3L, "   "), (4L, " "),
      (5L, "alpha beta gamma"), (6L, "alpha beta gamma"),
      (7L, "alpha beta delta"), (8L, "zulu"))
    val dir = java.nio.file.Files.createTempDirectory("q139_empty").toString
    docs.toSeq.toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.q139SortedNeighborhood(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3), r.getBoolean(4))).toSet
    val expected = snmReference(docs, w = 6)
    assert(got == expected,
      s"diff: ${(got diff expected).take(5)} / ${(expected diff got).take(5)}")
    // the guard is the point: no pair among the empty-token docs 1-4
    // survives, while the genuine duplicate pair (5, 6) closed-forms 1.0
    assert(!got.exists(p => p._1 <= 4 && p._2 <= 4),
      s"empty-token pair leaked through the closed form: $got")
    assert(got.exists(p => p._1 == 5L && p._2 == 6L && p._3 == 1.0),
      s"genuine duplicate pair missing: $got")
  }

  test("q141 rep-level containment: matches JVM brute force; member expansion reconciles with q121's row count") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").filter(_.nonEmpty).toSet))
      .filter(_._2.nonEmpty)
    val groups = docs.groupBy(_._2).map { case (s, xs) =>
      (xs.map(_._1).min, s, xs.length.toLong)
    }.toSeq
    def r4d(v: Double): Double = math.floor(v * 1e4 + 0.5) / 1e4
    val cross = (for {
      i <- groups.indices.iterator
      j <- groups.indices.iterator
      if groups(i)._1 < groups(j)._1
      common = groups(i)._2.intersect(groups(j)._2).size
      if common.toLong * 10000L >= 8000L *
        math.min(groups(i)._2.size, groups(j)._2.size)
    } yield (groups(i)._1, groups(j)._1,
      groups(i)._2.size.toLong, groups(j)._2.size.toLong,
      r4d(common.toDouble / math.min(groups(i)._2.size, groups(j)._2.size)),
      groups(i)._3, groups(j)._3)).toSet
    val self = groups.filter(_._3 >= 2).map { case (rep, t, m) =>
      (rep, rep, t.size.toLong, t.size.toLong, 1.0, m, m) }.toSet
    val rows = Dedup.q141ContainmentReps(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getLong(6)))
    assert(rows.toSet == (cross ++ self) && rows.nonEmpty)
    // dup-count-invariance reconciliation: the closed-form member
    // expansion of this frame equals q121's member-level row count —
    // the 172 s quadratic enumeration is recoverable from seconds of
    // rep-level rows, which is the whole point of the artifact
    val memberPairs = rows.map { case (ra, rb, _, _, _, ma, mb) =>
      if (ra == rb) ma * (ma - 1) / 2 else ma * mb }.sum
    assert(memberPairs == Dedup.q121ContainmentExact(spark, sf).count())
  }

  test("q143 contamination spans: matches a JVM seed-and-extend reference; flagged set equals q74") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), toks(r.getString(1)).toArray))
    def grams(ts: Array[String]): Seq[(Long, String)] =
      (0 to ts.length - 3).map(i => (i.toLong, ts.slice(i, i + 3).mkString(" ")))
    val benchIdx = docs.filter(_._1 % 100 == 0)
      .flatMap { case (id, ts) => grams(ts).map { case (p, g) => g -> (id, p) } }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).toSeq }
    val seeds = scala.collection.mutable.Map
      .empty[(Long, Long), scala.collection.mutable.ArrayBuffer[(Long, Long)]]
    docs.filter(_._1 % 100 != 0).foreach { case (tid, ts) =>
      grams(ts).foreach { case (pt, g) =>
        benchIdx.getOrElse(g, Nil).foreach { case (bid, pb) =>
          seeds.getOrElseUpdate((tid, bid),
            scala.collection.mutable.ArrayBuffer.empty) += ((pt, pt - pb))
        }
      }
    }
    val expected = seeds.map { case (pair, ss) =>
      // islands per diagonal: maximal consecutive pos_t runs
      val runLens = ss.groupBy(_._2).values.flatMap { diag =>
        val ps = diag.map(_._1).sorted
        val lens = scala.collection.mutable.ArrayBuffer.empty[Long]
        var run = 1L
        for (i <- 1 until ps.length) {
          if (ps(i) == ps(i - 1) + 1) run += 1
          else { lens += run; run = 1 }
        }
        lens += run
        lens
      }
      pair -> (ss.size.toLong, runLens.max + 2L)
    }.toMap
    val got = TextOps.q143ContaminationSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == expected && got.nonEmpty)
    // the severity view covers exactly q74's flagged set: one shared
    // gram is one seed, so the distinct train docs must coincide
    val flagged = TextOps.q74Decontaminate(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(got.keySet.map(_._1) == flagged)
    // a run of L tokens is L-2 consecutive seeds: every reported
    // longest_run is >= the gram width and backed by enough seeds
    got.values.foreach { case (n, l) => assert(l >= 3L && n >= l - 2L) }
  }

  test("q143 planted spans: a planted verbatim span of length L reports longest_run exactly L") {
    import spark.implicits._
    // bench doc (id 100, the % 100 == 0 stand-in) of 200 unique tokens;
    // train docs embed a bench slice of known length L between unique
    // filler, so the ONLY shared grams are the L-2 inside the span
    val bench = (0 until 200).map(i => s"bench$i")
    val planted = (3 to 20).zipWithIndex.map { case (l, i) =>
      val off = (l * 7) % (200 - l)
      val text = ((1 to 10).map(j => s"f${l}a$j") ++
        bench.slice(off, off + l) ++
        (1 to 10).map(j => s"f${l}b$j")).mkString(" ")
      (101L + i, l.toLong, text) // ids 101.., never % 100 == 0
    }
    // a two-span doc: spans of 5 and 9 → longest_run 9, seeds 3 + 7
    val twoId = 101L + planted.size
    val twoText = ((1 to 10).map(j => s"g2a$j") ++ bench.slice(0, 5) ++
      (1 to 10).map(j => s"g2m$j") ++ bench.slice(50, 59) ++
      (1 to 10).map(j => s"g2b$j")).mkString(" ")
    val rows = Seq((100L, bench.mkString(" "), "en", "bench")) ++
      planted.map { case (id, _, t) => (id, t, "en", "train") } :+
      ((twoId, twoText, "en", "train"))
    val dir = java.nio.file.Files.createTempDirectory("q143_spans").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.q143ContaminationSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    planted.foreach { case (id, l, _) =>
      assert(got((id, 100L)) == (l - 2L, l),
        s"planted span of $l: got ${got.get((id, 100L))}")
    }
    assert(got((twoId, 100L)) == (10L, 9L))
    // nothing else is reported: exactly one bench pairing per train doc
    assert(got.keySet == (planted.map(p => (p._1, 100L)).toSet + ((twoId, 100L))))
  }

  test("q143 repeated bench gram: colliding islands on different diagonals stay separate runs") {
    import spark.implicits._
    // the bench doc repeats the 3-gram "x y z" at two positions; a
    // train doc containing it ONCE seeds two diagonals whose island
    // values collide (both = pos_t - 1, row_number 1 within each diag
    // partition). Runs must be per-(pair, DIAGONAL): two runs of one
    // gram each -> n_seeds 2, longest_run 3. Grouping islands without
    // the diagonal would merge them into a phantom run of 2 ->
    // longest_run 4. Pins the engine AND the oracle's GROUP BY
    // train_doc, bench_doc, diag, island (SparkEntry q143 oracle).
    val bench = (Seq("x", "y", "z") ++ (1 to 20).map(i => s"u$i") ++
      Seq("x", "y", "z") ++ (1 to 20).map(i => s"v$i")).mkString(" ")
    val train = ((1 to 8).map(i => s"t$i") ++ Seq("x", "y", "z") ++
      (1 to 8).map(i => s"w$i")).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("q143_repgram").toString
    Seq((100L, bench, "en", "bench"), (101L, train, "en", "train"))
      .toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.q143ContaminationSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map((101L, 100L) -> ((2L, 3L))))
  }

  test("q143 stop-gram guard: identity at any cap >= max bench gram df; monotone below it") {
    import spark.implicits._
    // three bench docs share a 5-token boilerplate prefix (its interior
    // 3-grams have bench df = 3 — the stop-gram class); everything else
    // is unique (df = 1). Train docs: boiler-only overlap (101),
    // unique-span-only (102), boiler + unique span (103).
    val boiler = (1 to 5).map(i => s"p$i")
    def uniq(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val bench = Seq(
      (100L, (boiler ++ uniq("a", 50)).mkString(" ")),
      (200L, (boiler ++ uniq("b", 50)).mkString(" ")),
      (300L, (boiler ++ uniq("c", 50)).mkString(" ")))
    val train = Seq(
      (101L, (uniq("t1a", 10) ++ boiler ++ uniq("t1b", 10)).mkString(" ")),
      (102L, (uniq("t2a", 10) ++ uniq("a", 50).slice(10, 20) ++
        uniq("t2b", 10)).mkString(" ")),
      (103L, (uniq("t3a", 10) ++ boiler ++ uniq("a", 50).slice(20, 25) ++
        uniq("t3b", 10)).mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("q143_stopgram").toString
    (bench ++ train).map { case (id, t) => (id, t, "en", "x") }
      .toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def run(cap: Long) = TextOps.q143ContaminationSpans(spark, dir, cap)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val full = run(Long.MaxValue)
    assert(full == Map(
      (101L, 100L) -> ((3L, 5L)), (101L, 200L) -> ((3L, 5L)),
      (101L, 300L) -> ((3L, 5L)),
      (102L, 100L) -> ((8L, 10L)),
      (103L, 100L) -> ((6L, 5L)), (103L, 200L) -> ((3L, 5L)),
      (103L, 300L) -> ((3L, 5L))))
    // identity at every threshold >= the max bench gram df (3 here)
    assert(run(3L) == full)
    assert(run(4L) == full)
    // below it: stop-grams drop. Boiler-only pairs disappear; mixed
    // pairs keep only their unique-span seeds; unique-span pairs are
    // untouched — and every surviving (pair, n_seeds, longest_run) is
    // monotone non-increasing vs the uncapped answer
    for (cap <- Seq(1L, 2L)) {
      val capped = run(cap)
      assert(capped == Map(
        (102L, 100L) -> ((8L, 10L)),
        (103L, 100L) -> ((3L, 5L))))
      capped.foreach { case (k, (seeds, runLen)) =>
        val (s0, r0) = full(k)
        assert(seeds <= s0 && runLen <= r0, s"non-monotone at $k")
      }
    }
  }

  test("q145 linear quality score: matches a JVM reference inference over the same weight table") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), toks(r.getString(1))))
    def bucket(t: String): Long = java.lang.Long.parseLong(md5hex(t).take(3), 16)
    def w(b: Long): Long = b * 2654435761L % 2001L - 1000L
    val want = docs.filter(_._2.nonEmpty).map { case (id, ts) =>
      val margin = ts.map(t => w(bucket(t))).sum
      id -> (ts.length.toLong, margin,
        math.floor(margin.toDouble / ts.length * 1e6 + 0.5) / 1e6,
        if (margin >= 0L) "keep" else "drop")
    }.toMap
    val got = TextOps.q145LinearQualityScore(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4))).toMap
    assert(got == want && got.nonEmpty)
    // the threshold genuinely separates the fixture (both labels occur)
    assert(got.values.map(_._4).toSet == Set("keep", "drop"))
  }

  test("q177 score calibration: matches a JVM rank-decile fold of the q145 margins") {
    val margins = TextOps.q145LinearQualityScore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val srcs = Tables.documents(spark, sf).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val want = srcs.filter(x => margins.contains(x._1))
      .groupBy(_._2).flatMap { case (src, xs) =>
        val ordered = xs.map { case (id, _) => (margins(id), id) }
          .sortBy { case (m, id) => (-m, id) }
        val n = ordered.length.toLong
        ordered.zipWithIndex
          .map { case ((m, _), i) => (i.toLong * 10L / n, m) }
          .groupBy(_._1).map { case (dec, ms) =>
            (src, dec) -> (ms.length.toLong,
              ms.map(_._2).min, ms.map(_._2).max)
          }
      }
    val got = TextOps.q177ScoreCalibration(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == want && got.nonEmpty)
    // deciles cover 0..9 for every source large enough, counts conserve
    val perSource = got.keys.toSeq.groupBy(_._1)
    perSource.foreach { case (src, ks) =>
      val total = ks.map(got(_)._1).sum
      assert(total == srcs.count(x =>
        x._2 == src && margins.contains(x._1)), s"count drift for $src")
    }
  }

  test("q148/q149 planted corpus: cross-doc run, intra-doc repetition, exact copies, short doc") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("repspan_docs").toString
    val texts = Seq(
      "p q r s t u",                               // 0: shares "p q r s" with 1
      "m n o p q r s w",                           // 1
      "g h i j g h i j",                           // 2: repeats ITSELF
      "totally unique words nobody else uses ever", // 3: fresh
      "copy of this exact text here",              // 4: dup of 5
      "copy of this exact text here",              // 5
      "so lo")                                     // 6: < 3 tokens
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")

    val prof = TextOps.q148RepeatedSpans(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    def f6(n: Long, d: Long): Double = math.floor(n.toDouble / d * 1e6 + 0.5) / 1e6
    assert(prof == Map(
      0L -> (6L, 2L, 4L, 4L, f6(4, 6)),   // run "p q r s": grams at 0,1
      1L -> (8L, 2L, 4L, 4L, f6(4, 8)),   // same run at positions 3,4
      2L -> (8L, 4L, 4L, 8L, 1.0),        // two islands {0,1},{4,5}, full cover
      3L -> (7L, 0L, 0L, 0L, 0.0),        // nothing repeated
      4L -> (6L, 4L, 6L, 6L, 1.0),        // exact copies cover each other fully
      5L -> (6L, 4L, 6L, 6L, 1.0)))       // identical to its copy modulo id

    val rew = TextOps.q149DedupRewrite(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(rew == Map(
      0L -> (6L, 2L, md5hex("t u")),
      1L -> (8L, 4L, md5hex("m n o w")),
      2L -> (8L, 0L, md5hex("")),          // fully repeated -> empty doc
      3L -> (7L, 7L, md5hex(texts(3))),    // fresh doc unchanged
      4L -> (6L, 0L, md5hex("")),
      5L -> (6L, 0L, md5hex("")),
      6L -> (2L, 2L, md5hex("so lo"))))    // sub-gram doc kept whole
  }

  test("q122 contraction is invisible: matches the un-contracted formulation on a dup-heavy corpus") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val n = 8
    val dir = java.nio.file.Files.createTempDirectory("q122_dup").toString
    val copied = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      // ids 0-2: exact copies — every gram duplicated BY the copies
      copied, copied, copied,
      // ids 3-4: unique texts sharing a 9-token run (two 8-gram starts)
      "one two three four five six seven eight nine unique1 tailA",
      "headB one two three four five six seven eight nine unique2",
      // id 5: unique, no duplicated grams
      "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11")
    docs.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "s0", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // un-contracted reference: the pre-round-9 formulation, verbatim
    val grams = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= n)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("ts")) - n),
          i => md5(array_join(slice(col("ts"), i + 1, lit(n)), " "))))
          .as(Seq("pos", "h")))
    val dupGrams = grams.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("h")
    val runs = grams.join(dupGrams, Seq("h"), "left_semi")
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy("doc_id", "grp").agg(count(lit(1)).as("run"))
      .groupBy("doc_id")
      .agg(sum("run").as("n_dup"), max("run").as("max_run"))
    val want = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("max_run"), lit(0L)).as("max_run"),
        graft.functions.Round.r4(
          coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_grams"))
          .as("dup_frac"))
    val got = TextOps.q122DupNgramSpans(spark, dir)
    assert(got.count() == 6L)
    assert(got.exceptAll(want).count() == 0L && want.exceptAll(got).count() == 0L)
    // the corpus genuinely exercises both regimes: copy-induced dup
    // (dup_frac 1 on the copied text) and cross-doc shared runs
    val byId = got.collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(byId(0L) == 1.0 && byId(2L) == 1.0) // copies fully duplicated
    assert(byId(3L) == 0.5 && byId(4L) == 0.5) // 2 of 4 starts shared
    assert(byId(5L) == 0.0)                    // fresh text untouched
  }

  test("q150 DSIR weights: matches a JVM reference on a planted target/raw corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dsir_docs").toString
    val docs = Seq(
      (0L,   "the quick brown fox jumps"),   // target (doc_id % 100 == 0)
      (100L, "the quick brown dog sleeps"),  // target
      (200L, "the quick brown fox jumps"),   // target, copy of 0 (target-side contraction)
      (1L,   "the quick brown fox jumps"),   // raw, identical to the target text
      (4L,   "the quick brown fox jumps"),   // raw, copy of 1 (raw-side contraction + tie-break)
      (2L,   "zeta xi omicron upsilon psi"), // raw, vocabulary-disjoint
      (3L,   "solo"))                        // raw, no bigrams
    docs.map { case (i, t) => (i, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // JVM reference: the identical integer arithmetic, end to end
    def toks(t: String) = t.split(" ").filter(_.nonEmpty).toSeq
    def bigrams(t: String) = toks(t).sliding(2).filter(_.length == 2)
      .map(_.mkString(" ")).toSeq
    def bucket(bg: String) = java.lang.Long.parseLong(md5hex(bg).take(3), 16)
    val feats = docs.flatMap { case (id, t) =>
      bigrams(t).map(bg => (id, id % 100 == 0, bucket(bg))) }
    val cT = feats.filter(_._2).groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val cR = feats.filterNot(_._2).groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val (nT, nR) = (cT.values.sum, cR.values.sum)
    def ratio(b: Long): Long =
      ((cT.getOrElse(b, 0L) + 1) * (nR + 4096) * 1000000L) /
        ((cR.getOrElse(b, 0L) + 1) * (nT + 4096))
    val stats = docs.filter(_._1 % 100 != 0).map { case (id, t) =>
      val rs = bigrams(t).map(bg => ratio(bucket(bg)))
      val (n, sum) = (rs.size.toLong, rs.sum)
      (id, n, sum, if (n > 0) Some(sum / n) else None)
    }
    // top-K selection reference: mean desc (None last), doc_id asc
    val k = (stats.size + 9) / 10
    val ranked = stats.sortBy { case (id, _, _, m) => (-m.getOrElse(-1L), id) }
      .zipWithIndex.map { case (s, i) => (s, i + 1L) }
    val want = ranked.map { case ((id, n, sum, m), rk) =>
      id -> (n, sum, m, rk, rk <= k)
    }.toMap
    val got = TextOps.q150DsirWeights(spark, dir).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getLong(4), r.getBoolean(5)))
      .toMap
    assert(got == want)
    // the planted structure genuinely discriminates, and the raw-side
    // copy pins the deterministic tie-break: docs 1 and 4 share a mean,
    // k = 1 of 4 raw docs, so doc 1 (smaller id) is selected, 4 is not
    assert(got(1L)._5 && !got(4L)._5 && !got(2L)._5 && !got(3L)._5)
    assert(got(1L)._3 == got(4L)._3 && got(4L)._4 == 2L)
  }

  test("q151 keep-first: copies keep the rep intact, intra-doc repeats keep the first, overlap hazard pinned") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("keepfirst_docs").toString
    val texts = Seq(
      "alpha beta gamma delta epsilon",  // 0: dup of 1 — FIRST copy, kept intact
      "alpha beta gamma delta epsilon",  // 1: later copy -> emptied
      "g h i j k g h i j k",             // 2: repeats ITSELF; first "g h i j k" kept
      "fresh words only appearing once", // 3: untouched
      // 4+5: the documented per-gram (not per-string) hazard — doc 4 is
      // canonical for "b c d"; doc 5's "b c d" is removable and doc 5's
      // "a b c" is CANONICAL (first in corpus order among docs holding
      // it)... doc 6 makes "a b c" repeated
      "b c d tail1 tail2",               // 4: canonical holder of "b c d"
      "a b c d tail3",                   // 5: "b c d" removable cuts into its canonical "a b c"
      "a b c tail4 tail5")               // 6: makes "a b c" repeated; its copy is removable
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextOps.q151DedupKeepFirst(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    // exact copies: keep-first dedup exactly — first copy INTACT
    assert(got(0L) == (5L, 5L, md5hex(texts(0))))
    assert(got(1L) == (5L, 0L, md5hex("")))
    // intra-doc repeat: first occurrence survives, second is cut
    // (grams at 5..7 are all rank-2 on their diagonals; 0..4 canonical)
    assert(got(2L) == (10L, 5L, md5hex("g h i j k")))
    // fresh text untouched
    assert(got(3L) == (5L, 5L, md5hex(texts(3))))
    // the hazard case: doc 4 intact (canonical "b c d"); doc 5 loses
    // b,c,d (its "b c d" occurrence is removable) even though its
    // "a b c" occurrence is canonical — tokens b,c are shared between
    // the two grams, so the per-gram guarantee does not preserve the
    // "a b c" string; doc 6's "a b c" is removable
    assert(got(4L) == (5L, 5L, md5hex(texts(4))))
    assert(got(5L) == (5L, 2L, md5hex("a tail3")))
    assert(got(6L) == (5L, 2L, md5hex("tail4 tail5")))
  }

  test("q151 keep-first removes a subset of q149's removals: n_kept pointwise >= on the fixture corpus") {
    val kf = TextOps.q151DedupKeepFirst(spark, sf)
      .select(col("doc_id"), col("n_kept").as("kf"))
    val all = TextOps.q149DedupRewrite(spark, sf)
      .select(col("doc_id"), col("n_kept").as("ka"))
    val j = kf.join(all, Seq("doc_id"))
    assert(j.count() > 0L)
    assert(j.filter(col("kf") < col("ka")).count() == 0L)
  }

  test("q152 decontaminate rewrite: threshold cuts 4-token runs, spares 3-token runs, copies contract") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("decon_docs").toString
    val docs = Seq(
      (0L,   "b1 b2 s1 s2 s3 s4 b3"),   // bench: holds the 4-token span s1..s4
      (100L, "x1 x2 x3"),               // bench: a 3-token span
      (1L,   "t1 s1 s2 s3 s4 t2"),      // train: 4-token run -> cut
      (2L,   "u1 s1 s2 s3 u2 u3"),      // train: only a 3-token run -> SPARED
      (3L,   "w1 w2 w3 w4 w5"),         // train: no overlap
      (4L,   "t1 s1 s2 s3 s4 t2"),      // train: exact copy of 1 (contraction)
      (5L,   "v1 x1 x2 x3 v2"))         // train: 3-token run vs bench 100 -> spared
    docs.map { case (i, t) => (i, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextOps.q152DecontaminateRewrite(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(got == Map(
      1L -> (6L, 2L, md5hex("t1 t2")),        // s1..s4 cut
      2L -> (6L, 6L, md5hex("u1 s1 s2 s3 u2 u3")), // 3-run below threshold
      3L -> (5L, 5L, md5hex("w1 w2 w3 w4 w5")),
      4L -> (6L, 2L, md5hex("t1 t2")),        // copy rewrites identically
      5L -> (5L, 5L, md5hex("v1 x1 x2 x3 v2"))))
  }

  test("q152 reconciles with q143: a train doc is rewritten iff its longest shared run >= the threshold") {
    val longest = TextOps.q143ContaminationSpans(spark, sf)
      .groupBy(col("train_doc").as("doc_id"))
      .agg(max("longest_run").as("lr"))
    val rew = TextOps.q152DecontaminateRewrite(spark, sf)
    val j = rew.join(longest, Seq("doc_id"), "left")
      .select(col("doc_id"), (col("n_kept") < col("n_tokens")).as("changed"),
        (coalesce(col("lr"), lit(0L)) >= 4L).as("should_change"))
    assert(j.count() > 0L)
    assert(j.filter(col("changed") =!= col("should_change")).count() == 0L)
    // the fixture exercises both regimes of the threshold
    assert(rew.filter(col("n_kept") < col("n_tokens")).count() > 0L)
    assert(j.filter(col("lr") === 3L && !col("changed")).count() > 0L)
  }

  test("q153 BPE train matches an independent JVM reference, greedy-left merge order pinned") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe_docs").toString
    // the classic Sennrich corpus shape plus a self-repeating word that
    // only greedy-LEFT merging handles correctly ("a a a a" -> "aa aa",
    // never "a aa a")
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest") ++
      Seq.fill(4)("aaaa")).mkString(" ")
    Seq((0L, text, "en", "s0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // independent reference: symbol VECTORS and an explicit greedy-left
    // scan — no string replace anywhere, so the engine's padded-space
    // replace idiom is being checked against a different formulation
    def refBpe(words: Map[String, Long], k: Int): Seq[(Long, String, String, Long)] = {
      var vocab: Seq[(Vector[String], Long)] =
        words.toSeq.map { case (w, f) => (w.map(_.toString).toVector, f) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      for (i <- 1 to k) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((sy, f) <- vocab; j <- 0 until sy.length - 1)
          counts((sy(j), sy(j + 1))) = counts.getOrElse((sy(j), sy(j + 1)), 0L) + f
        if (counts.nonEmpty) {
          val ((x, y), c) = counts.toSeq
            .sortBy { case ((a, b), n) => (-n, a + " " + b) }.head
          out += ((i.toLong, s"$x $y", x + y, c))
          vocab = vocab.map { case (sy, f) =>
            val b = Vector.newBuilder[String]
            var j = 0
            while (j < sy.length) {
              if (j < sy.length - 1 && sy(j) == x && sy(j + 1) == y) {
                b += (x + y); j += 2
              } else { b += sy(j); j += 1 }
            }
            (b.result(), f)
          }
        }
      }
      out.toSeq
    }
    val words = text.split(" ").groupBy(identity).view.mapValues(_.length.toLong).toMap
    // deep enough that the self-repeat word WINS the argmax twice:
    // iter 1 merges ("a a") -> greedy-left must produce "aa aa" (a
    // single-pass padded replace yields "aa a a" and diverges), and at
    // iter 9 the ("aa", "aa") pair — which only exists under correct
    // greedy merging — itself reaches the argmax
    val k = 10
    val want = refBpe(words, k)
    // BOTH merge-step paths against the reference: the cost-based pick
    // would route this tiny fixture to the recount, so the threshold
    // is moved to force each path — 0 takes the delta-maintained path
    // (the large-vocabulary production path), Long.MaxValue the
    // recount — the paths-agree pin behind the r16 rewrite
    for (minVocab <- Seq(Long.MaxValue, 0L)) {
      val got = TextOps.bpeTrain(spark, dir, k, minVocab).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(got == want, s"path deltaMinVocab=$minVocab: got $got\nwant $want")
    }
    // the corpus genuinely exercised both regimes
    assert(want.exists(_._2 == "a a") && want.exists(_._2 == "aa aa"))
  }

  test("q159 BPE encode: matches an independent JVM train+encode; copies and empty docs covered") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe_enc").toString
    val texts = Seq(
      0L -> "low lower low aaaa",
      1L -> "newest widest newest newest",
      2L -> "aaaa aaaa low",
      3L -> "low lower low aaaa", // exact copy of doc 0: contraction member
      4L -> " ") // no tokens: zero counts, null ratios
    texts.map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val k = 3
    // independent reference: symbol-VECTOR training (the q153 spec's
    // formulation — no string replace anywhere) + encode by replaying
    // the merge list in iteration order
    def mergeOnce(sy: Vector[String], x: String, y: String): Vector[String] = {
      val b = Vector.newBuilder[String]; var j = 0
      while (j < sy.length) {
        if (j < sy.length - 1 && sy(j) == x && sy(j + 1) == y) { b += (x + y); j += 2 }
        else { b += sy(j); j += 1 }
      }
      b.result()
    }
    val words = texts.flatMap(_._2.split(" ").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    var vocab = words.toSeq.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val ms = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    for (_ <- 1 to k) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((sy, f) <- vocab; j <- 0 until sy.length - 1)
        counts((sy(j), sy(j + 1))) = counts.getOrElse((sy(j), sy(j + 1)), 0L) + f
      if (counts.nonEmpty) {
        val ((x, y), _) = counts.toSeq
          .sortBy { case ((a, b), n) => (-n, a + " " + b) }.head
        ms += ((x, y))
        vocab = vocab.map { case (sy, f) => (mergeOnce(sy, x, y), f) }
      }
    }
    def encLen(w: String): Long =
      ms.foldLeft(w.map(_.toString).toVector) { case (sy, (x, y)) =>
        mergeOnce(sy, x, y)
      }.length.toLong
    val want = texts.map { case (id, t) =>
      val ts = t.split(" ").filter(_.nonEmpty)
      val nw = ts.length.toLong
      val nc = ts.map(_.length.toLong).sum
      val nsym = ts.map(encLen).sum
      (id, nw, nc, nsym,
        if (nw > 0L) Some(nsym * 1000000L / nw) else None,
        if (nsym > 0L) Some(nc * 1000000L / nsym) else None)
    }.toSet
    val got = TextOps.q159BpeEncode(spark, dir).collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))
    }.toSet
    assert(got == want, s"got $got\nwant $want")
    // the merge replay genuinely fired: symbols never exceed chars,
    // and SOME doc genuinely compressed; the copy inherited its rep
    assert(ms.nonEmpty)
    assert(got.filter(_._2 > 0L).forall(g => g._4 <= g._3))
    assert(got.exists(g => g._2 > 0L && g._4 < g._3))
    assert(got.find(_._1 == 3L) == got.find(_._1 == 0L).map(g => g.copy(_1 = 3L)))
  }

  test("contraction memos: a corpus changing under a cached dir is detected, not served stale") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("contraction_stale").toString
    def write(texts: Seq[String]): Unit = {
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "s0", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      (): Unit
    }
    // v1: both q145 (textContraction memo) and q74 (benchSideContraction
    // memo) consume the dir — warms both caches
    write(Seq("aa bb cc", "aa bb cc", "dd ee ff"))
    val before145 = TextOps.q145LinearQualityScore(spark, dir).collect().length
    TextOps.q74Decontaminate(spark, dir).collect()
    // v2: different corpus under the SAME dir — the fingerprint must
    // evict the memoized frames, not serve the v1 contraction
    write(Seq("gg hh ii", "jj kk ll", "mm nn oo", "pp qq rr"))
    val after145 = TextOps.q145LinearQualityScore(spark, dir).collect()
    assert(before145 == 3 && after145.length == 4)
    // v2 has no duplicate texts: every doc must appear with its own row
    assert(after145.map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 3L))
    val after74 = TextOps.q74Decontaminate(spark, dir).collect()
    // v2's bench doc (id 0) shares no shingles with train docs
    assert(after74.isEmpty)
  }

  test("q154 count-min matches an independent JVM sketch; width-4 collisions prove min-over-rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cms_docs").toString
    val text = (Seq.fill(9)("alpha") ++ Seq.fill(7)("beta") ++
      Seq.fill(5)("gamma") ++ Seq.fill(4)("delta") ++ Seq.fill(3)("epsilon") ++
      Seq("zeta", "eta", "theta", "iota", "kappa")).mkString(" ")
    Seq((0L, text, "en", "s0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val (depth, width) = (4, 4) // width 4 forces collisions
    // independent JVM CMS over the same deterministic hashes
    def bucket(j: Int, t: String): Long =
      java.lang.Long.parseLong(md5hex(s"$j:$t").take(4), 16) % width
    val freq = text.split(" ").groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cells = (for ((t, f) <- freq.toSeq; j <- 0 until depth)
      yield ((j, bucket(j, t)), f))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    def est(t: String): Long =
      (0 until depth).map(j => cells((j, bucket(j, t)))).min
    val want = freq.toSeq.sortBy { case (t, f) => (-f, t) }.take(10)
      .map { case (t, f) => (t, f, est(t), est(t) >= f) }
    val got = TextOps.q154CountMin(spark, dir, depth, width, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq
    assert(got == want, s"got $got\nwant $want")
    // CMS never underestimates, and at width 4 some token genuinely
    // collides (est > true) so min-over-rows is exercised, not vacuous
    assert(got.forall(_._4))
    assert(got.exists(r => r._3 > r._2))
  }

  test("q149 reconciles with q148: n_kept + n_dup_tokens = n_tokens on the fixture corpus") {
    val prof = TextOps.q148RepeatedSpans(spark, sf)
      .select(col("doc_id"), col("n_tokens"), col("n_dup_tokens"))
    val rew = TextOps.q149DedupRewrite(spark, sf)
      .select(col("doc_id"), col("n_kept"))
    val joined = prof.join(rew, Seq("doc_id"))
    assert(joined.count() > 0L)
    assert(joined
      .filter(col("n_kept") + col("n_dup_tokens") =!= col("n_tokens"))
      .count() == 0L)
  }

  /** A dup-heavy corpus for the repeated-span family: 240 docs over a
    * 24-word vocabulary (short grams repeat by chance), with exact
    * copies, intra-doc repeats, docs splicing a slice of an earlier doc
    * (shared runs, partially overlapping across docs), collapsed spaces,
    * empty and sub-gram docs, and bench docs (doc_id % 100 = 0) whose
    * slices the train side copies — runs both above and below q152's
    * threshold.
    */
  private def dupHeavyCorpus(): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(151)
    def fresh(n: Int): String =
      Seq.fill(n)(s"w${rnd.nextInt(24)}").mkString(" ")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    for (i <- 0 until 240) {
      val earlier = if (i > 0) texts(rnd.nextInt(i)) else ""
      val r = rnd.nextDouble()
      texts += (
        if (i % 100 == 0) fresh(24)
        else if (r < 0.30) earlier
        else if (r < 0.40) { val t = fresh(4 + rnd.nextInt(5)); s"$t $t" }
        else if (r < 0.70) {
          val ts = (if (rnd.nextBoolean()) texts(100 * rnd.nextInt(i / 100 + 1)) else earlier)
            .split(" ").filter(_.nonEmpty)
          val from = if (ts.isEmpty) 0 else rnd.nextInt(ts.length)
          val slice = ts.slice(from, from + 2 + rnd.nextInt(6)).mkString(" ")
          s"${fresh(rnd.nextInt(4))}  $slice ${fresh(rnd.nextInt(4))}"
        }
        else if (r < 0.75) fresh(rnd.nextInt(3))
        else fresh(3 + rnd.nextInt(12)))
    }
    val dir = java.nio.file.Files.createTempDirectory("repspan_dupheavy").toString
    texts.toSeq.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("q148/q149/q151/q152 equal their pre-KeptTokens plans on the fixture corpus and a dup-heavy corpus") {
    val dupDir = dupHeavyCorpus()
    for (dir <- Seq(sf, dupDir)) {
      val pairs = Seq(
        "q148" -> (TextOps.q148RepeatedSpans(spark, dir),
          RepeatedSpanReference.q148RepeatedSpans(spark, dir)),
        "q149" -> (TextOps.q149DedupRewrite(spark, dir),
          RepeatedSpanReference.q149DedupRewrite(spark, dir)),
        "q151" -> (TextOps.q151DedupKeepFirst(spark, dir),
          RepeatedSpanReference.q151DedupKeepFirst(spark, dir)),
        "q152" -> (TextOps.q152DecontaminateRewrite(spark, dir),
          RepeatedSpanReference.q152DecontaminateRewrite(spark, dir)))
      for ((name, (got, want)) <- pairs) {
        val (g, w) = (got.collect().toSeq, want.collect().toSeq)
        assert(g.nonEmpty && g.sortBy(_.getLong(0)) == w.sortBy(_.getLong(0)),
          s"$name on $dir: ${g.diff(w).take(5)} vs ${w.diff(g).take(5)}")
      }
    }
    // the dup-heavy corpus exercises every regime the plans distinguish:
    // copies and partial repeats (q148), keep-first keeping more than
    // remove-all (q151 vs q149), and q152 cutting runs
    val q148 = TextOps.q148RepeatedSpans(spark, dupDir)
    assert(q148.filter(col("dup_fraction") === 1.0).count() > 0L)
    assert(q148.filter(col("dup_fraction") > 0.0 && col("dup_fraction") < 1.0).count() > 0L)
    assert(q148.filter(col("n_dup_tokens") === 0L).count() > 0L)
    val kf = TextOps.q151DedupKeepFirst(spark, dupDir).select(col("doc_id"), col("n_kept").as("kf"))
    val ka = TextOps.q149DedupRewrite(spark, dupDir).select(col("doc_id"), col("n_kept").as("ka"))
    assert(kf.join(ka, Seq("doc_id")).filter(col("kf") > col("ka")).count() > 0L)
    val q152 = TextOps.q152DecontaminateRewrite(spark, dupDir)
    assert(q152.filter(col("n_kept") < col("n_tokens")).count() > 0L)
  }
}
