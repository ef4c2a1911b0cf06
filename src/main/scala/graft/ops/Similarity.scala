package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{SessionMemo, Tables}
import graft.functions.VectorFunctions._
import graft.functions.Round._

/** Approximate-nearest-neighbor search over the `embeddings` fixture
  * (`embedding: array<float>`, dim 64).
  *
  *  - q40: brute-force cosine top-k — the exact baseline. The query set
  *    is a small broadcast side, so the scan of the candidate corpus is
  *    a single pass with no shuffle of the big side.
  *  - q41: sign-LSH (random-hyperplane, axis-aligned) bucketed top-k —
  *    the scale path: candidates come from an equality join on the
  *    bucket id, so the pair space shrinks from |Q|×|N| to per-bucket.
  *
  * Ranking determinism: neighbors are ordered by similarity rounded to
  * 6 dp with vec_id as tie-break, so last-ulp float differences between
  * engines cannot flip ranks.
  */
object Similarity {

  // Memoized, persisted exact-top-k frame, fingerprint-keyed like every
  // other session memo (Dedup.contentHashes discipline: a corpus changing
  // under a cached dir is detected by the embeddings fingerprint, the
  // stale frame unpersisted and rebuilt). The exact baseline is the one
  // expensive pass in the whole index-quality family — q35 (k=5) and
  // q132/q140/q142 (k=3) each consume it, and before this memo each
  // PAID it (three full brute-force scans per bench sweep at k=3 alone).
  // The memoized frame is |queries|·k rows — trivially persistable at
  // any scale the q40 broadcast caveat already admits.
  private val exactMemo = SessionMemo.frame("exact-topk", "embeddings")

  /** Brute-force cosine top-k for a deterministic query subset
    * (vec_id % 50 == 0), excluding self-matches. Memoized per
    * (session, dir, k, corpus-fingerprint) — see `exactMemo` above.
    *
    * SCALE ASSUMPTION (do not lift this pattern blindly): `broadcast(q)`
    * is correct only because the QUERY SET is assumed bounded (a fixed
    * batch of probes, not a corpus slice that grows with the data). The
    * fixture's `% 50` filter is corpus-proportional, so at a literal
    * 100× this exact query set would outgrow a broadcast — q40 is the
    * documented EXACT BASELINE the specs pin recall against; the
    * corpus-scale formulations are q41 (sign-LSH) and q48/q70 (IVF).
    *
    * Formulation: per-group top-k via the O(k)-state
    * [[graft.api.TypedPipeline.TopK]] Aggregator, which folds candidates
    * map-side and shuffles only k pairs per (query, partition). MEASURED
    * against the window + row_number alternative on the 20× stress
    * corpus (8M scored pairs): TopK 7.0–7.5 s vs window 9.9–12.1 s, with
    * byte-identical output — WindowGroupLimit prunes ranks but still
    * sorts each group's full partition slice, while the Aggregator's
    * insertion fold never materializes a group (NOTES.md round 4; the
    * losing window formulation was removed per the measured-verdict
    * discipline).
    */
  def q40CosineTopK(s: SparkSession, d: String, k: Int = 5): DataFrame =
    exactMemo(s, d, k)(buildExactTopK(s, d, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private def buildExactTopK(s: SparkSession, d: String, k: Int): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_norm"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
      norm(col("embedding")).as("c_norm"))
    val scored = broadcast(q).join(c, col("query_id") =!= col("cand_id"))
      .select(col("query_id"),
        r6(cosinePrenormed(dot(col("q_emb"), col("c_emb")), col("q_norm"), col("c_norm")))
          .as("sim6"),
        col("cand_id"))
      .as[(Long, Double, Long)]
    val top = scored.groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.api.TypedPipeline.TopK(k).toColumn.name("top"))
      .toDF("query_id", "top")
    val labels = e.select(col("vec_id").as("cand_id"), col("label"))
    top.select(col("query_id"), posexplode(col("top")).as(Seq("pos", "pair")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("pair._2").as("cand_id"), col("pair._1").as("sim6"))
      .join(labels, Seq("cand_id"))
      .select(col("query_id"), col("rk"), col("cand_id"),
        col("label").cast("long").as("cand_label"), r4(col("sim6")).as("cos_sim"))
      .orderBy("query_id", "rk")
  }

  /** kNN classification: majority label among the exact top-5 cosine
    * neighbors (built on q40), ties broken toward the smaller label.
    */
  def q35KnnClassify(s: SparkSession, d: String): DataFrame = {
    val votes = q40CosineTopK(s, d, k = 5)
      .groupBy("query_id", "cand_label")
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("cand_label"))
    votes
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("cand_label").as("pred_label"), col("votes"))
      .orderBy("query_id")
  }

  // q166's memo — q40's memo keyed on the PREDICATE
  // (this is the label-filtered variant of the exact scan): the r12
  // verdict's alternative of one shared scan at k' = k + max label
  // multiplicity is ruled out by the data — labels are 10-ary with
  // multiplicity ~N/10, so k' would be ~2,200 at the 20× corpus and
  // the TopK shuffle would carry k' pairs per (query, partition),
  // most of the pair space. Instead the filtered scan pays once per
  // (session, corpus) and every later execution reads the persisted
  // |Q|·k frame — same build-once/probe-many economics as q40's memo.
  private val hardNegMemo = SessionMemo.frame("hard-negatives", "embeddings")

  /** HARD-NEGATIVE MINING (q166) — for each anchor (q40's `vec_id % 50`
    * query set), the top-k most-similar candidates with a DIFFERENT
    * label: the "hard negatives" a contrastive/metric-learning trainer
    * pairs with each anchor (Schroff et al. 2015's semi-hard mining,
    * made deterministic and exact). Same brute-force-exact contract,
    * ranking discipline (sim6 desc, cand_id tie), broadcast caveat
    * AND memoization as q40 — the label-inequality predicate rides the
    * scan, so the pair space is the q40 scan minus same-label pairs;
    * the scale paths for the scan itself remain q41/q48.
    */
  def q166HardNegatives(s: SparkSession, d: String, k: Int = 3): DataFrame =
    hardNegMemo(s, d, k)(buildHardNegatives(s, d, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private def buildHardNegatives(s: SparkSession, d: String, k: Int): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d).withColumn("nrm", norm(col("embedding")))
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_norm"), col("label").as("a_label"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
      col("nrm").as("c_norm"), col("label").as("c_label"))
    val scored = broadcast(q).join(c,
        col("query_id") =!= col("cand_id") &&
          col("a_label") =!= col("c_label"))
      .select(col("query_id"),
        r6(cosinePrenormed(dot(col("q_emb"), col("c_emb")),
          col("q_norm"), col("c_norm"))).as("sim6"),
        col("cand_id"))
      .as[(Long, Double, Long)]
    val top = scored.groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.api.TypedPipeline.TopK(k).toColumn.name("top"))
      .toDF("query_id", "top")
    val labels = e.select(col("vec_id").as("cand_id"),
      col("label").cast("long").as("cand_label"))
    val anchors = e.select(col("vec_id").as("query_id"),
      col("label").cast("long").as("anchor_label"))
    top.select(col("query_id"), posexplode(col("top")).as(Seq("pos", "pair")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("pair._2").as("cand_id"), col("pair._1").as("sim6"))
      .join(labels, Seq("cand_id")).join(anchors, Seq("query_id"))
      .select(col("query_id"), col("anchor_label"), col("rk"),
        col("cand_id"), col("cand_label"), r4(col("sim6")).as("cos_sim"))
      .orderBy("query_id", "rk")
  }

  /** LABEL-NOISE DETECTION (q167) — confident-learning-style suspects
    * over the exact kNN frame: a vector whose own label disagrees with
    * the majority label of its 5 nearest neighbors (q35's vote rule —
    * ties toward the smaller label) is flagged, with the raw agreement
    * count carried so downstream can re-threshold. Built ENTIRELY on
    * the memoized q40 scan — no new pass over the corpus; the one
    * extra exchange is the |Q|-sized vote aggregation.
    */
  def q167LabelNoise(s: SparkSession, d: String): DataFrame = {
    val top = q40CosineTopK(s, d, k = 5)
    val w = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("cand_label"))
    val pred = top.groupBy("query_id", "cand_label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("cand_label").as("knn_label"))
    val own = Tables.embeddings(s, d)
      .select(col("vec_id").as("query_id"),
        col("label").cast("long").as("own_label"))
    val agree = top.join(own, Seq("query_id"))
      .groupBy("query_id")
      .agg(sum(when(col("cand_label") === col("own_label"), lit(1L))
        .otherwise(lit(0L))).as("n_agree"))
    pred.join(own, Seq("query_id")).join(agree, Seq("query_id"))
      .select(col("query_id"), col("own_label"), col("knn_label"),
        col("n_agree"),
        (col("knn_label") =!= col("own_label")).as("suspect"))
      .orderBy("query_id")
  }

  /** IVF-style ANN: a DETERMINISTIC exact-integer k-means as the coarse
    * quantizer, candidates drawn only from the query's `nProbe` nearest
    * centroids, cosine top-k within them. The inverted-file layout is
    * the production ANN shape at 100 TB: centroid id becomes the
    * partition key, a query touches nProbe partitions instead of the
    * whole corpus.
    *
    * Why not MLlib KMeans: its float arithmetic (parallel seeding,
    * double-sum centroid updates) is not replayable by the DuckDB
    * oracle, which left q48/q70 as the inventory's only rows-only
    * checks. This quantizer is built from the same exact-integer
    * discipline as q88/q137/q150 so the oracle re-derives the ENTIRE
    * fit — seeds, every assignment, every centroid update — through
    * unrolled CTE blocks (the q153/q147 loop-gating discipline):
    *
    *  - vectors land in integer MICRO-UNITS (floor(v·1e6 + 0.5), the
    *    q88 idiom); every distance is a BIGINT squared-L2 sum (max
    *    ~64·(4e6)² ≈ 1e15 ≪ 2⁶³), invariant to partitioning;
    *  - seeds are the `nCentroids` vectors ranked first by
    *    (md5(vec_id || ':ivfseed'), vec_id) — a salted-hash pick, no
    *    RNG state to replicate;
    *  - Lloyd iterations run to a RESIDUAL STOP (the q147 convergence
    *    discipline): after each update, the exact-BIGINT max per-dim
    *    centroid displacement is compared to `IvfConvergeEps`; the loop
    *    stops at the first iteration at or under it, capped at
    *    `IvfItersCap`. The iteration count is an OUTPUT (`n_iters`) the
    *    oracle re-derives from its own unrolled iteration CTEs, so the
    *    stop decision itself sits inside the hash gate. Assignment ties
    *    break to the smaller centroid id; updates are per-dim integer
    *    `div` means; an empty cluster keeps its previous centroid.
    *
    * Scale shape per iteration: assignment is a pure MAP pass — the
    * centroids ride along as one literal array-of-arrays column and a
    * fold over centroid ids picks the argmin (no crossJoin, no
    * per-iteration corpus shuffle, expression size O(1) in
    * nCentroids); the update's only exchange is the (centroid, dim)
    * partial-agg shuffle, ≤ nCentroids·dims rows after map-side
    * combine. The driver holds exactly the model (nCentroids·dims
    * longs per iteration) — the same bounded-artifact discipline as
    * q153's merge table.
    */
  private val ivfMemo =
    SessionMemo[(Array[Array[Long]], Long)]("ivf-quantizer", "embeddings")(_ => ())

  /** Lloyd iteration CAP — the oracle unrolls exactly this many
    * assignment+update CTE blocks and picks the stop iteration from
    * their residuals (keep in lockstep with SparkEntry's q48 oracle).
    */
  private[graft] val IvfItersCap = 8

  /** Residual stop threshold in micro-units (0.001 in unit space):
    * the fit stops at the first iteration whose max per-dim centroid
    * displacement — exact BIGINT, so every engine agrees — is <= this.
    * Same discipline as q147's pagerank residual stop; the blind
    * 4-iteration fit it replaces could neither stop early on easy
    * corpora nor keep refining on hard ones.
    */
  private[graft] val IvfConvergeEps = 1000L

  /** Embedding → integer micro-unit vector (the q88 scaling idiom,
    * element-wise). Exact: float→double is exact, and the floor lands
    * every engine on the same BIGINT.
    */
  private[graft] def microVec(v: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    transform(v, x => floor(x.cast("double") * lit(MicroScale) + lit(0.5))
      .cast("long"))

  /** Integer squared-L2 distance between two micro-unit vectors — the
    * codegen'd [[graft.functions.expressions.LongVecDist2]] (the
    * composable `aggregate(zip_with(...))` formulation is interpreted
    * and made the 256-centroid assignment ~20× slower; see the
    * expression's scaladoc for the measurement). The DuckDB oracle
    * mirrors the identical BIGINT arithmetic.
    */
  private[graft] def dist2(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.expressions.FloatVecExpressions.longDist2(a, b)

  /** Adds (d2c, centroid) — the quantizer argmin with the distance
    * kept — to a frame carrying (vec_id, mvec, ...): one codegen'd
    * [[graft.functions.expressions.NearestCode]] pass with the model as
    * its single codebook, equal distances to the smaller centroid id
    * (the oracle's `af` CTE (d2, centroid) order). A pure map pass at
    * every model size: no join, no window, no shuffle. The argmin pair
    * lands as its own projection read by both fields, so the loop runs
    * once per row (see [[withKcenterAssignment]]). `centroid` stays
    * non-nullable — a null mvec gets centroid 0 and a null d2c: a
    * nullable centroid lets the optimizer infer `isnotnull(centroid)`
    * from every join on centroid and push it below this projection,
    * which runs the kernel a second time per row.
    */
  private[graft] def withAssignment(e: DataFrame,
      cents: Array[Array[Long]]): DataFrame =
    e.withColumn("nc", graft.functions.expressions.FloatVecExpressions
        .nearestCode(col("mvec"), Array(cents), cents.head.length))
      .withColumn("d2c", col("nc.d2").getItem(0))
      .withColumn("centroid", coalesce(col("nc.code").getItem(0), lit(0L)))
      .drop("nc")

  /** Fit-or-fetch the memoized deterministic quantizer over the
    * embeddings at `d`: returns the driver-held centroid model (row i =
    * centroid i's micro-unit vector), the measured Lloyd iteration
    * count (the residual stop's decision, surfaced so the oracle can
    * re-derive it), and the (vec_id, embedding, nrm, centroid)
    * assignment frame the model induces.
    */
  private[graft] def quantize(s: SparkSession, d: String, nCentroids: Int)
      : (Array[Array[Long]], Long, DataFrame) = {
    val e = Tables.embeddings(s, d)
      .withColumn("nrm", norm(col("embedding")))
      .withColumn("mvec", microVec(col("embedding")))
    val (cents, nIters) =
      ivfMemo(s, d, nCentroids)(fitKMeans(e.select("vec_id", "mvec"), nCentroids))
    (cents, nIters, withAssignment(e, cents)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("centroid")))
  }

  /** The Lloyd loop over micro-unit vectors — `e` must carry (vec_id,
    * mvec). Each iteration: the [[withAssignment]] argmin, one
    * (centroid, dim)-keyed partial-agg shuffle (≤ nCentroids·dims rows
    * after map-side combine), integer-div means collected to the
    * driver-held model. Mirrors SparkEntry's q48 oracle CTE unroll —
    * keep seeds/ties/empty-cluster rules in lockstep.
    */
  private def fitKMeans(e: DataFrame, nCentroids: Int)
      : (Array[Array[Long]], Long) = {
    var cents: Array[Array[Long]] = e
      .select(col("vec_id"), col("mvec"),
        md5(concat(col("vec_id").cast("string"), lit(":ivfseed"))).as("h"))
      .orderBy("h", "vec_id")
      .limit(nCentroids)
      .collect()
      .map(_.getSeq[Long](1).toArray)
    var iters = 0L
    var converged = false
    while (iters < IvfItersCap && !converged) {
      val sums = withAssignment(e, cents)
        .select(col("centroid"), posexplode(col("mvec")).as(Seq("dim", "v")))
        .groupBy("centroid", "dim")
        .agg(sum("v").as("sv"), count(lit(1)).as("cnt"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        // JVM Long `/` truncates toward zero — same semantics as
        // DuckDB's integer `//`, so the oracle's unrolled update matches
        next(r.getLong(0).toInt)(r.getInt(1)) = r.getLong(2) / r.getLong(3)
      }
      iters += 1
      // residual stop: exact-BIGINT max per-dim displacement of any
      // centroid this update — the update is KEPT either way, so the
      // final model is the stop iteration's (= the oracle's kc[stop])
      val disp = cents.iterator.zip(next.iterator)
        .flatMap { case (a, b) => a.iterator.zip(b.iterator) }
        .map { case (x, y) => math.abs(x - y) }
        .foldLeft(0L)(math.max)
      converged = disp <= IvfConvergeEps
      cents = next
    }
    (cents, iters)
  }

  /** The centroid model as a tiny broadcast-able frame
    * (centroid, cvec: array&lt;long&gt; in micro-units, n_iters: the
    * fit's residual-stop iteration count, constant across rows) — also
    * the schema of the persisted `<table>_centroids` side table, so
    * the no-fit probe path (q70) serves the SAME n_iters the fit
    * measured.
    */
  private[graft] def centroidFrame(s: SparkSession,
      cents: Array[Array[Long]], nIters: Long): DataFrame = {
    import s.implicits._
    cents.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toSeq, nIters) }
      .toDF("centroid", "cvec", "n_iters")
  }

  /** The probe core shared by the in-session q48 and the persisted-index
    * path: rank the `nProbe` nearest centroids per query (queries =
    * vec_id % 25 == 0 of the assignment frame) by exact integer
    * squared-L2 on micro-unit vectors — the quantizer's own metric, so
    * the ranking is replayable bit-for-bit by the oracle (the old
    * float-cosine ranking was not: an unrounded double ordering can
    * flip across engines) — then cosine top-k within only those
    * centroids' assignments.
    */
  private def ivfProbe(assigned: DataFrame, centroids: DataFrame,
      nProbe: Int, k: Int): DataFrame = {
    val queries = assigned.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_norm"), microVec(col("embedding")).as("qm"))
    probeCore(queries, assigned, centroids, nProbe, k)
      .orderBy("query_id", "rk")
  }

  /** The probe body over an EXPLICIT query frame (query_id, q_emb,
    * q_norm, qm) — shared by [[ivfProbe]] (which derives its queries
    * from the corpus) and the at-ingest twin's per-batch probe (whose
    * queries arrive on the stream). Unsorted: batch callers order,
    * stream callers append.
    */
  private[graft] def probeCore(queries: DataFrame, assigned: DataFrame,
      centroids: DataFrame, nProbe: Int, k: Int): DataFrame = {
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("c_d2"), col("centroid"))
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("c_d2", dist2(col("qm"), col("cvec")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("q_norm"), col("centroid"),
        col("n_iters"))
    // same two scale fixes as the ADC probe core (measured there,
    // NOTES round 13): (1) composite-key explicit-N repartition so the
    // nProbe·bucket candidate explosion cannot inherit the probe
    // window's AQE-coalesced single partition; (2) top-k via the
    // native O(k)-state aggregate instead of WindowExec over the full
    // candidate frame. The metric is the EXACT micro-unit integer
    // floor(cos·1e6 + 0.5) — the same integer r6 floors by — negated
    // for the ascending fold, so (sim6 desc, cand_id) order is
    // reproduced bit-for-bit and sim6 = micro/1e6 restores the exact
    // r6 double (integral < 2^53, division by 1e6 identical).
    val scored = probes
      .repartition(queries.sparkSession.sessionState.conf.numShufflePartitions,
        col("query_id"), col("centroid"))
      .join(assigned.withColumnRenamed("vec_id", "cand_id"), Seq("centroid"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("n_iters"),
        (-floor(cosinePrenormed(dot(col("q_emb"), col("embedding")),
          col("q_norm"), col("nrm")) * lit(1e6) + lit(0.5)).cast("long"))
          .as("neg_micro"),
        col("cand_id"), col("centroid").cast("long").as("centroid"))
    scored
      .groupBy("query_id", "n_iters")
      .agg(graft.functions.expressions.TopKAggregates
        .topKAscLong(col("neg_micro"), col("cand_id"), col("centroid"), k)
        .as("top"))
      .select(col("query_id"), col("n_iters"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("t.id").as("cand_id"), col("t.payload").as("centroid"),
        r4((-col("t.metric")).cast("double") / lit(1e6)).as("cos_sim"),
        col("n_iters"))
  }

  def q48IvfAnn(s: SparkSession, d: String, nCentroids: Int = 8, nProbe: Int = 2,
      k: Int = 3): DataFrame = {
    val (cents, nIters, assigned) = quantize(s, d, nCentroids)
    ivfProbe(assigned, centroidFrame(s, cents, nIters), nProbe, k)
  }

  /** Materialize the IVF index: the assignment frame lands as a catalog
    * table BUCKETED BY centroid (`graft.sources.Bucketing.writeBucketed`)
    * plus a `<table>_centroids` side table with the centroid vectors.
    * This makes the "centroid id is the partition key" claim a physical
    * layout: any later join or aggregation keyed on centroid is
    * co-located with zero Exchange on the index side, and a cold session
    * probes the table without re-fitting the quantizer — the production
    * build-once / probe-many split at 100 TB (where this write is the
    * expensive pass and probes touch only nProbe buckets' worth of
    * rows via the broadcast probe join).
    */
  def buildIvfIndex(s: SparkSession, d: String, table: String,
      nCentroids: Int = 8, buckets: Int = 8,
      mode: org.apache.spark.sql.SaveMode = org.apache.spark.sql.SaveMode.ErrorIfExists,
      path: Option[String] = None): Unit = {
    val (cents, nIters, assigned) = quantize(s, d, nCentroids)
    graft.sources.Bucketing.writeBucketed(
      assigned, table, "centroid", buckets, Some("vec_id"), mode, path)
    val cw = centroidFrame(s, cents, nIters).write.mode(mode).format("parquet")
    path.fold(cw)(p => cw.option("path", p + "_centroids"))
      .saveAsTable(table + "_centroids")
  }

  /** Probe a persisted IVF index by table name — no KMeans fit anywhere
    * on this path; the quantizer lives in `<table>_centroids`.
    */
  def ivfProbeIndexed(s: SparkSession, table: String, nProbe: Int = 2,
      k: Int = 3): DataFrame =
    ivfProbe(s.table(table), s.table(table + "_centroids"), nProbe, k)

  // build-once memo for q70's index table, held with its session (the
  // release drops the tables there): the table name is the last
  // component of the key's scratch dir, so no two keys (another
  // geometry, corpus version or session) share a table or its files
  private val indexTableMemo = SessionMemo[(SparkSession, String)](
      "ivf-index", "embeddings") { case (s, tbl) =>
    Seq(tbl, tbl + "_centroids").foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** The persisted-index probe as a driver-visible query: build the
    * bucketed index table once per (session, nCentroids, corpus
    * fingerprint) — the
    * production build-once half — then answer ENTIRELY from the table
    * via [[ivfProbeIndexed]] (no KMeans fit on the probe path; the
    * quantizer is read from `<table>_centroids`). Output is identical to
    * the in-session q48 by construction (same seeded quantizer, same
    * probe core) and SimilaritySpec pins that equality through THIS
    * entry point; like q48 it is rows-only at the driver's gate
    * (k-means is not DuckDB-expressible). The index lands as an
    * EXTERNAL table under java.io.tmpdir so the probe query needs no
    * writable warehouse dir.
    */
  def q70IvfProbeIndexed(s: SparkSession, d: String, nCentroids: Int = 8,
      nProbe: Int = 2, k: Int = 3): DataFrame =
    ivfProbeIndexed(s, ivfIndexTable(s, d, nCentroids), nProbe, k)

  /** Build-or-fetch the persisted IVF index table for the corpus at `d`
    * (the memo q70 probes) and return its catalog name — the build-once
    * half shared by the batch probe and the at-ingest probe twin.
    */
  private[graft] def ivfIndexTable(s: SparkSession, d: String,
      nCentroids: Int = 8): String =
    indexTableMemo.onDisk(s, d, nCentroids) { dir =>
      val tbl = "graft_ivf_" + new java.io.File(dir).getName
      // Overwrite: the in-memory catalog starts empty per session, but
      // a previous JVM's files may linger at the external location
      buildIvfIndex(s, d, tbl, nCentroids, buckets = 8,
        mode = org.apache.spark.sql.SaveMode.Overwrite, path = Some(s"$dir/index"))
      (s, tbl)
    }._2

  /** Probe a persisted IVF index with an EXTERNAL query frame
    * (vec_id, embedding) — the per-batch computation of the at-ingest
    * ANN twin, and its batch-mode equivalence target. Pure function of
    * (queries, index): same probe core as q48/q70 (integer-metric
    * centroid ranking, cosine top-k within nProbe buckets, self
    * excluded by id), so streaming the corpus' own query set through it
    * unions to q70's answer exactly. The centroid side is
    * model-sized (nCentroids·dims) — always broadcastable; the
    * postings join is an equality join on centroid against the
    * bucketed table, touching only the probed buckets' rows.
    */
  def probeBatch(s: SparkSession, table: String, queries: DataFrame,
      nProbe: Int = 2, k: Int = 3): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), norm(col("embedding")).as("q_norm"),
      microVec(col("embedding")).as("qm"))
    probeCore(q, s.table(table), s.table(table + "_centroids"), nProbe, k)
  }

  /** SEMDEDUP PRUNE (q163) — k-means-cluster-scoped semantic dedup
    * (Abbas et al. 2023, arXiv:2303.09540): cluster the embedding
    * space with the SHARED deterministic integer quantizer (q48's
    * memoized fit — one Lloyd run serves q48/q70/q163), compare
    * vectors ONLY within their cluster, and prune every vector that
    * has a DOMINATING semantic duplicate — a same-cluster neighbor
    * with cosine ≥ `threshold` (q34's r4 discipline, replayable) that
    * sits strictly closer to the shared centroid by exact BIGINT
    * squared-L2 on micro-unit vectors, ties to the smaller vec_id.
    * The kept vector of every semantic-duplicate dominance chain is
    * its cluster-representative — SemDeDup's keep-one-per-duplicate-
    * set rule made deterministic.
    *
    * vs q87 (connected components over the global sign-LSH near-dup
    * graph): q87 resolves the graph the LSH bands surface; q163 is the
    * quantizer-scoped formulation whose pair space is Σ cluster² — the
    * shape that scales by RAISING nCentroids (~√N at 100 TB makes the
    * within-cluster self-join linear in N; the fixtures pin
    * nCentroids = 8 so fit, memo, and the oracle's unrolled chain are
    * exactly q48's). Plan: one equality self-join on centroid — a
    * shuffle-hash join at scale, nothing corpus-sized is broadcast —
    * with the cosine verify map-side codegen'd, then one aggregate.
    *
    * Output: one row per vector — (vec_id, centroid, d2c,
    * n_dominators, keep, n_iters); `keep` is the prune decision and
    * `n_iters` the fit's residual-stop count, both inside the oracle
    * hash gate.
    */
  def q163SemdedupPrune(s: SparkSession, d: String, nCentroids: Int = 8,
      threshold: Double = 0.4): DataFrame = {
    val (cents, nIters, _) = quantize(s, d, nCentroids)
    // both sides of the dominance self-join read this frame; without
    // the checkpoint the embedding scan and the assignment pass
    // evaluate twice per run — the streaming twin persists the same frame
    // (buildSemdedupIndex) for exactly this reason. eager=false: the
    // self-join's first materialization is the computing action.
    val base = assignWithDist(cents)(Tables.embeddings(s, d))
      .localCheckpoint(eager = false)
    semdedupScore(base, base, nIters, threshold).orderBy("vec_id")
  }

  /** Decorate a raw (vec_id, embedding) frame with the quantizer's
    * assignment AND the argmin distance kept — (nrm, d2c, centroid),
    * same (d2, centroid) lexicographic tie rule as [[withAssignment]].
    * Shared by q163 (corpus side + scored side are the same frame) and
    * the admission-control ingest twin (arrivals get decorated per
    * batch against the same literal model).
    */
  private[graft] def assignWithDist(cents: Array[Array[Long]])(
      e: DataFrame): DataFrame =
    withAssignment(
      e.withColumn("nrm", norm(col("embedding")))
        .withColumn("mvec", microVec(col("embedding"))), cents)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("d2c"), col("centroid"))

  /** The SemDeDup dominance scoring shared by batch q163 (arrivals =
    * base = the corpus) and the ingest twin (arrivals = the batch,
    * base = the persisted corpus frame): each arrival is dominated by
    * any BASE vector in its cluster at r4-cosine ≥ `threshold` that
    * sits strictly closer to the centroid (ties to the smaller
    * vec_id — an identical re-arrival of a corpus vector is NOT
    * dominated by itself). Pure function of (arrival, base), so
    * per-batch outputs union to the batch formulation exactly.
    */
  private[graft] def semdedupScore(arrivals: DataFrame, base: DataFrame,
      nIters: Long, threshold: Double): DataFrame = {
    val x = base.select(col("centroid"), col("vec_id").as("dom_id"),
      col("embedding").as("emb_a"), col("nrm").as("norm_a"),
      col("d2c").as("d2_a"))
    val y = arrivals.select(col("centroid"), col("vec_id"),
      col("embedding").as("emb_b"), col("nrm").as("norm_b"),
      col("d2c").as("d2_b"))
    val dom = x.join(y, Seq("centroid"))
      .filter(col("dom_id") =!= col("vec_id") &&
        (col("d2_a") < col("d2_b") ||
          (col("d2_a") === col("d2_b") && col("dom_id") < col("vec_id"))))
      .filter(r4(cosinePrenormed(dot(col("emb_a"), col("emb_b")),
        col("norm_a"), col("norm_b"))) >= threshold)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_dominators"))
    arrivals.join(dom, Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid"), col("d2c"),
        coalesce(col("n_dominators"), lit(0L)).as("n_dominators"),
        (coalesce(col("n_dominators"), lit(0L)) === 0L).as("keep"),
        lit(nIters).as("n_iters"))
  }

  /** MMR DIVERSIFIED TOP-K (q165) — maximal marginal relevance
    * (Carbonell & Goldstein 1998) at λ = ½ over the exact cosine pool:
    * a RAG-style retrieval that trades pure relevance for coverage, so
    * five near-identical passages can't crowd out the answer set. Per
    * query (q40's `vec_id % 50` set): take the exact top-`pool`
    * candidates (REUSES the memoized q40 brute-force scan — the one
    * expensive pass), then select `k` greedily — rank 1 is the
    * relevance argmax; each later rank maximizes
    * `sim(q,d) − max_{s∈selected} sim(d,s)` (the λ=½ MMR objective
    * scaled by 2), ties to the smaller cand_id.
    *
    * Exactness: r6 cosines are lifted to BIGINT micro-units (an r6
    * value times 1e6 is integral, so the floor is exact) and every
    * comparison from there is integer — the greedy argmax chain, ties
    * included, replays bit-for-bit in the oracle's unrolled selection
    * CTEs. Scale: pool sims and the pool×pool pairwise frame are
    * |Q|·pool and |Q|·pool² rows (the q40 broadcast caveat governs the
    * underlying scan); the k−1 selection rounds are joins over those
    * bounded frames, localCheckpointed so each round's plan is a
    * branch over a materialized frame, not a re-derivation (the
    * q102/q103 lesson).
    */
  def q165MmrTopK(s: SparkSession, d: String, k: Int = 5,
      pool: Int = 12): DataFrame = {
    val (slim, psims, first) = mmrSetup(s, d, pool)
    var result = first
    for (t <- 2 to k) {
      // checkpoint the ACCUMULATED selection each round: it is re-read
      // twice by round t+1 (the anti-join and the max-sim join) and
      // carried into the union, so an un-truncated lineage doubles per
      // round — the q102/q103 2^k plan blow-up (this frame is ≤ |Q|·k
      // rows; measured 12.6k-line explain without, ~0.3k with)
      result = mmrRound(slim, psims, result, t).localCheckpoint(false)
    }
    result.orderBy("query_id", "rk")
  }

  /** q165's bounded inputs and rank-1 seed: the |Q|·pool sims frame,
    * the |Q|·pool² pairwise frame (both localCheckpointed — each round's
    * plan is a branch over a materialized frame, not a re-derivation),
    * and the rank-1 relevance-argmax selection.
    */
  private def mmrSetup(s: SparkSession, d: String, pool: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val cands = q40CosineTopK(s, d, pool)
      .select(col("query_id"), col("cand_id"))
    val e = Tables.embeddings(s, d)
      .withColumn("nrm", norm(col("embedding")))
    val qs = e.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), col("nrm").as("q_norm"))
    val cs = e.select(col("vec_id").as("cand_id"),
      col("embedding").as("c_emb"), col("nrm").as("c_norm"))
    def micro6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5)).cast("long")
    val poolSims = cands.join(qs, Seq("query_id")).join(cs, Seq("cand_id"))
      .select(col("query_id"), col("cand_id"),
        micro6(r6(cosinePrenormed(dot(col("q_emb"), col("c_emb")),
          col("q_norm"), col("c_norm")))).as("sim_micro"),
        col("c_emb"), col("c_norm"))
    val slim = poolSims.select("query_id", "cand_id", "sim_micro")
      .localCheckpoint(false)
    val pa = poolSims.select(col("query_id"), col("cand_id").as("a"),
      col("c_emb").as("ea"), col("c_norm").as("na"))
    val pb = poolSims.select(col("query_id"), col("cand_id").as("b"),
      col("c_emb").as("eb"), col("c_norm").as("nb"))
    val psims = pa.join(pb, Seq("query_id"))
      .filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        micro6(r6(cosinePrenormed(dot(col("ea"), col("eb")),
          col("na"), col("nb")))).as("psim_micro"))
      .localCheckpoint(false)
    val w = Window.partitionBy("query_id")
      .orderBy(col("mmr_micro").desc, col("cand_id"))
    val first = slim
      .withColumn("mmr_micro", col("sim_micro"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("query_id"), lit(1L).as("rk"), col("cand_id"),
        col("sim_micro"), col("mmr_micro"))
    (slim, psims, first)
  }

  /** One MMR selection round, PRE-checkpoint: rank-t's argmax over the
    * remaining pool, unioned onto the accumulated selection. Extracted
    * so [[mmrLoopBody]] can hand the un-truncated round plan to
    * [[graft.Explain]] (the committed q165 explain shows only the final
    * round's post-checkpoint branch).
    */
  private def mmrRound(slim: DataFrame, psims: DataFrame,
      result: DataFrame, t: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("mmr_micro").desc, col("cand_id"))
    val selIds = result.select(col("query_id"), col("cand_id"))
    val remaining = slim.join(selIds, Seq("query_id", "cand_id"),
      "left_anti")
    // every remaining candidate pairs with every selected one (psims
    // covers all within-pool a ≠ b), so the inner joins lose nothing
    val mx = psims
      .join(selIds.withColumnRenamed("cand_id", "b"), Seq("query_id", "b"))
      .select(col("query_id"), col("a").as("cand_id"), col("psim_micro"))
      .groupBy("query_id", "cand_id")
      .agg(max("psim_micro").as("max_sel_micro"))
    result.unionByName(
      remaining.join(mx, Seq("query_id", "cand_id"))
        .withColumn("mmr_micro", col("sim_micro") - col("max_sel_micro"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("query_id"), lit(t.toLong).as("rk"), col("cand_id"),
          col("sim_micro"), col("mmr_micro")))
  }

  /** q165's round-2 selection plan, pre-checkpoint — the per-round loop
    * body over the materialized slim/psims frames, for plan review via
    * [[graft.Explain]]. Not a registered query.
    */
  private[graft] def mmrLoopBody(s: SparkSession, d: String,
      pool: Int = 12): DataFrame = {
    val (slim, psims, first) = mmrSetup(s, d, pool)
    mmrRound(slim, psims, first, 2)
  }

  /** HYBRID RETRIEVAL VIA RECIPROCAL-RANK FUSION (q170) — the fusion
    * step every production RAG/retrieval stack runs between its lexical
    * and dense retrievers (Cormack, Clarke & Buettcher 2009's RRF; the
    * same K=60 form Elasticsearch/Vespa ship): fuse q158's BM25 top-k
    * (the lexical list for the fixed term query) with an exact-cosine
    * "query-by-example" top-k anchored at the corpus' smallest vec_id
    * (the dense list, over the 1:1 doc_id ↔ vec_id multimodal link),
    * scoring each doc Σ_lists 1/(K + rank).
    *
    * Exactness: RRF is integer end-to-end — 1e6 div (K + rank) per
    * list, absent-from-list contributes 0, BIGINT sum; ranks come from
    * each list's own deterministic unique sort key (BM25: score desc +
    * doc_id; dense: sim6 desc + cand_id — q40's rounding discipline),
    * so the fused frame hash-matches the oracle with no rounding gate.
    *
    * Plan shape at 100 TB: the fusion itself touches two k-row lists —
    * a full-outer join over ≤ 2k rows, driver-free. The lexical list is
    * q158's shape (contraction, map-side term pruning, broadcast df,
    * TakeOrdered top-k); the dense list here is ONE brute-force scan
    * (one query vector × corpus, a map-side broadcast of a single row,
    * top-k per-partition heaps — no shuffle of the scored corpus); at
    * index-serving scale the dense list swaps to the ANN family
    * (q48 IVF / q169 ADC) without touching the fusion.
    */
  def q170HybridRrf(s: SparkSession, d: String, k: Int = 20,
      kRrf: Int = 60): DataFrame = {
    val lex = graft.ops.TextOps.q158Bm25TopK(s, d, k = k)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val e = Tables.embeddings(s, d).withColumn("nrm", norm(col("embedding")))
    // the anchor rides as a broadcast 1-row frame — no driver collect
    val q = e.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("anchor_id"),
        col("embedding").as("q_emb"), col("nrm").as("q_norm"))
    val sem = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("anchor_id"))
      .select(col("vec_id").as("doc_id"),
        r6(cosinePrenormed(dot(col("embedding"), col("q_emb")),
          col("nrm"), col("q_norm"))).as("sim6"))
    // k-row frame after the limit → rank's single-task sort (r16): the
    // range path's exchange/stats machinery is pure overhead at k rows
    val semTop = ScalarSuites.rank(
      sem.orderBy(col("sim6").desc, col("doc_id")).limit(k),
      Seq(col("sim6").desc, col("doc_id")), "sem_rank", maxRows = Some(k.toLong))
      .select(col("doc_id"), col("sem_rank"))
    val rrfOf = (rank: String) => coalesce(
      expr(s"CAST(1000000 AS BIGINT) div ($kRrf + $rank)"), lit(0L))
    val fused = lex.join(semTop, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        (rrfOf("lex_rank") + rrfOf("sem_rank")).as("rrf_micro"))
    // fused = full-outer of two k-row lists → ≤ 2k rows
    ScalarSuites.rank(fused,
      Seq(col("rrf_micro").desc, col("doc_id")), maxRows = Some(2L * k))
      .select("rank", "doc_id", "lex_rank", "sem_rank", "rrf_micro")
      .orderBy("rank")
  }

  /** Sign-LSH bucketed ANN top-k: bucket on the sign pattern of the
    * first 8 dimensions (2^8 buckets), join query↔candidate on equal
    * bucket, rank within bucket. Recall < 1 by construction (that's the
    * approximation); the bucket join is the piece that scales.
    */
  def q41AnnLshTopK(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val e = Tables.embeddings(s, d)
      .withColumn("bucket", signBucket(col("embedding"), 8))
      .withColumn("nrm", norm(col("embedding")))
    val q = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_norm"), col("bucket"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
      col("nrm").as("c_norm"), col("bucket"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim6").desc, col("cand_id"))
    broadcast(q).join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), col("bucket"),
        r6(cosinePrenormed(dot(col("q_emb"), col("c_emb")), col("q_norm"), col("c_norm")))
          .as("sim6"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("cand_id"), col("bucket"),
        r4(col("sim6")).as("cos_sim"))
      .orderBy("query_id", "rk")
  }

  /** MULTI-PROBE sign-LSH ANN top-k (q146) — the multi-probe LSH trade
    * (Lv et al. 2007) applied to q41's index: instead of adding hash
    * tables (more index memory, more build passes), each query probes
    * its OWN sign bucket plus the 8 Hamming-distance-1 neighbors — the
    * most likely homes of a true neighbor that one borderline sign
    * flip pushed out of the query's bucket. Candidates remain an
    * equality join on probed bucket ids — never all-pairs; candidate
    * volume is ≤ 9× q41's per query, and because the multi-probe
    * candidate set is a SUPERSET of q41's, every exact-top-k hit q41
    * finds survives here (ranks are total via the cand_id tiebreak),
    * so recall is ≥ q41's pointwise — SimilaritySpec pins exactly
    * that, plus the recall gain the probes exist to buy.
    *
    * Scale shape: the probe explode happens on the BROADCAST query
    * side (9 rows per query); the corpus side never duplicates and the
    * join stays q41's bucket-equality hash join. No dedup needed:
    * probe buckets are pairwise distinct and a candidate lives in
    * exactly one bucket.
    */
  def q146MultiprobeAnn(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val e = Tables.embeddings(s, d)
      .withColumn("bucket", signBucket(col("embedding"), 8))
      .withColumn("nrm", norm(col("embedding")))
    val probes = array(col("bucket") +: (0 until 8)
      .map(j => col("bucket").bitwiseXOR(lit(1L << j))): _*)
    val q = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_norm"), explode(probes).as("bucket"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
      col("nrm").as("c_norm"), col("bucket"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim6").desc, col("cand_id"))
    broadcast(q).join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        r6(cosinePrenormed(dot(col("q_emb"), col("c_emb")), col("q_norm"),
          col("c_norm"))).as("sim6"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("cand_id"),
        r4(col("sim6")).as("cos_sim"))
      .orderBy("query_id", "rk")
  }

  /** PER-LABEL EMBEDDING CENTROIDS — the mean-pooling reduction every
    * embedding pipeline runs (class prototypes, cluster summaries,
    * per-source corpus embeddings). Long format (label, dim, centroid):
    * posexplode flattens each vector once, ONE shuffle keyed by
    * (label, dim) carries only partial sums — map-side combine reduces
    * each partition to at most |labels|×|dims| rows regardless of
    * corpus size, so at 100 TB the exchange moves kilobytes. The output
    * cardinality (|labels|×|dims|) is driver-safe by construction.
    *
    * Exactness across engines: each float is cast to double (exact),
    * scaled to integer MICRO-UNITS with the [[graft.functions.Round]]
    * floor idiom, and summed as longs — integer addition is invariant
    * to partitioning and summation order, where a double sum's last
    * ulp depends on the shuffle layout. The final divide is one double
    * op on identical integers in both engines. Same discipline as the
    * money queries' cents arithmetic.
    */
  def q88LabelCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label").cast("long").as("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos").cast("long").as("dim"),
        floor(col("col").cast("double") * lit(MicroScale) + lit(0.5)).cast("long")
          .as("micro"))
      .groupBy("label", "dim")
      .agg(sum("micro").as("sum_micro"), count(lit(1)).as("n_vecs"))
      .select(col("label"), col("dim"), col("n_vecs"),
        r4(col("sum_micro").cast("double")
          / (lit(MicroScale) * col("n_vecs").cast("double")))
          .as("centroid"))
      .orderBy("label", "dim")

  /** INT8 SCALAR QUANTIZATION of the embedding corpus — the compression
    * pass vector stores run before ANN serving (4× smaller vectors,
    * distance error bounded by the per-dim step size). Per-dim min/max
    * over the corpus define a 256-level uniform grid; each element maps
    * to its nearest code; the output reports per-vector reconstruction
    * error (max + mean absolute) and how many dims sit on the grid
    * edges (code 0/255 — the saturation diagnostic that says whether a
    * per-dim grid is tight enough or outliers need clipping).
    *
    * Scale shape: the stats side is |dims| rows — broadcast — so
    * quantization is a map-side pass over the exploded corpus; the only
    * corpus-sized exchange is the (vec_id)-keyed partial-agg shuffle.
    * Cross-engine exactness: min/max/compare/floor/abs on doubles are
    * bit-deterministic (no summation), and the mean goes through the
    * nano-unit integer-sum idiom, so partitioning cannot move a bit.
    */
  def q90QuantizeEmbeddings(s: SparkSession, d: String): DataFrame = {
    val u = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("dim"),
        col("col").cast("double").as("v"))
    val stats = u.groupBy("dim")
      .agg(min("v").as("lo"), max("v").as("hi"))
    val q = u.join(broadcast(stats), Seq("dim"))
      .withColumn("code",
        when(col("hi") === col("lo"), lit(0.0))
          .otherwise(floor((col("v") - col("lo")) / (col("hi") - col("lo"))
            * lit(255.0) + lit(0.5))))
      .withColumn("err",
        abs(col("v") - (col("lo") + col("code") * (col("hi") - col("lo"))
          / lit(255.0))))
    q.groupBy("vec_id")
      .agg(
        count(lit(1)).as("n_dims"),
        max("err").as("max_err_raw"),
        sum(floor(col("err") * lit(1e9) + lit(0.5)).cast("long"))
          .as("sum_err_nano"),
        count(when(col("code") === 0.0 || col("code") === 255.0, lit(1)))
          .as("n_saturated"))
      .select(col("vec_id"), col("n_dims"), col("n_saturated"),
        r6(col("max_err_raw")).as("max_abs_err"),
        r6(col("sum_err_nano").cast("double")
          / (lit(1e9) * col("n_dims").cast("double"))).as("mean_abs_err"))
      .orderBy("vec_id")
  }

  /** Truncation ENERGY profile — the Matryoshka-representation
    * diagnostic (Kusupati et al. 2022): for each vector, the fraction
    * of its squared L2 norm retained by the first 16 and first 32 of
    * 64 dimensions. energy_k is exactly cos²(v, truncate_k(v)), so this
    * is the per-vector answer to "how much ANN recall do we keep if the
    * index stores only a prefix of the embedding" — the sizing input
    * for a truncated-index tier in front of q48/q70's IVF.
    *
    * Pure map-side pass (one codegen'd [[graft.functions
    * .VectorFunctions.dot]] per prefix, no shuffle); each energy is one
    * double division of two left-to-right double folds, same bits on
    * any engine, rounded to 6 dp.
    */
  def q126TruncEnergy(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        dot(col("embedding"), col("embedding")).as("e64"),
        dot(slice(col("embedding"), 1, 16), slice(col("embedding"), 1, 16)).as("e16"),
        dot(slice(col("embedding"), 1, 32), slice(col("embedding"), 1, 32)).as("e32"))
      .select(col("vec_id"), col("label"),
        r6(col("e16") / col("e64")).as("energy16"),
        r6(col("e32") / col("e64")).as("energy32"))
      .orderBy("vec_id")

  /** ANN RECALL@3 evaluation — the measurement an ANN index ships with:
    * per query, |LSH top-3 ∩ exact top-3| / |exact top-3|, on the
    * query set both baselines cover (vec_id % 50 — q40's set, a subset
    * of q41's % 25). SimilaritySpec bounds this recall in aggregate;
    * this query makes the per-query numbers a FIRST-CLASS, oracle-gated
    * output (the oracle recomputes both rankings independently from
    * brute force + the bucket join), so index-quality regressions land
    * in the driver gate, not only in a spec threshold.
    *
    * Integer arithmetic end to end (hit/total counts), one final
    * division. Cost: both inputs are the existing q40/q41 passes; the
    * eval itself is two joins + aggs on top-3-sized frames (3 rows per
    * query), negligible at any scale — the expensive side is the exact
    * baseline, which is exactly the documented q40 scale caveat.
    */
  def q132AnnRecall(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val exact = q40CosineTopK(s, d, k = k)
      .select(col("query_id"), col("cand_id"))
    val ann = q41AnnLshTopK(s, d, k = k)
      .filter(col("query_id") % 50 === 0)
      .select(col("query_id"), col("cand_id"))
    val hits = exact.join(ann, Seq("query_id", "cand_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"), col("n_exact"),
        r4(coalesce(col("n_hit"), lit(0L)).cast("double")
          / col("n_exact").cast("double")).as("recall"))
      .orderBy("query_id")
  }

  /** RANKED retrieval metrics — MRR and NDCG@3 of the LSH ANN ranking
    * against the exact cosine top-3 as binary relevance (q132's recall
    * companion: recall says WHETHER the index finds the true neighbors,
    * MRR/NDCG say WHERE it ranks them — rank-1-heavy quality that
    * recall@k is blind to, and the number a RAG retrieval stack actually
    * tunes against).
    *
    * Engine-portability discipline: NO runtime logarithms. The NDCG
    * discount 1/log2(rank+1) is a PRECOMPUTED integer micro-unit table
    * for the fixed k = 3 — disc = floor(1e6/log2(i+1)) = 1000000,
    * 630929, 500000 — so DCG/IDCG are BIGINT sums (partition-order
    * invariant), the reciprocal rank is one integer division
    * (1000000 div rank), and the only float op is the final DCG/IDCG
    * division, rounded to 6 dp. The oracle carries the SAME literal
    * table; a libm log2 would drift ulps between engines.
    *
    * Cost: the eval joins run on 3-rows-per-query frames; the expensive
    * side is the exact baseline, which is the documented q40 scale
    * caveat (bounded probe set, exact brute force — the thing the ANN
    * index exists to replace).
    */
  def q140RetrievalMetrics(s: SparkSession, d: String): DataFrame = {
    val k = 3 // the discount table below is precomputed for exactly k=3
    val exact = q40CosineTopK(s, d, k = k).select(col("query_id"), col("cand_id"))
    val ann = q41AnnLshTopK(s, d, k = k)
      .filter(col("query_id") % 50 === 0)
      .select(col("query_id"), col("cand_id"), col("rk"))
    val disc = when(col("rk") === 1, 1000000L)
      .when(col("rk") === 2, 630929L).otherwise(500000L)
    val hits = ann.join(exact, Seq("query_id", "cand_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_hit"), min("rk").as("fhr"),
        sum(disc).as("dcg"))
    exact
      .groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        col("n_exact"),
        coalesce(col("fhr"), lit(0L)).as("first_hit_rank"),
        when(col("fhr").isNull, 0L)
          .otherwise(expr("CAST(1000000 AS BIGINT) div fhr")).as("rr_micro"),
        coalesce(col("dcg"), lit(0L)).as("dcg_micro"),
        when(col("n_exact") === 1, 1000000L)
          .when(col("n_exact") === 2, 1630929L)
          .otherwise(2130929L).as("idcg_micro"))
      .withColumn("ndcg",
        r6(col("dcg_micro").cast("double") / col("idcg_micro").cast("double")))
      .orderBy("query_id")
  }

  /** IVF recall GATE (q142) — the q38/q66 error-bound-column pattern
    * applied to the last rows-only family. The IVF ANSWER (q48/q70)
    * cannot be oracle-gated: k-means assignment is not
    * DuckDB-expressible, so those stay rows-only by determination (see
    * NOTES). But the property that makes the index trustworthy — recall
    * against the exact cosine top-k — IS gateable: the exact side is
    * q40's brute-force baseline (already hash-gated), and the bound is
    * a boolean the oracle asserts as literal TRUE, exactly like q38's
    * HLL error band and q66's t-digest band. A red row here means the
    * quantizer lost the spec-pinned recall floor (SimilaritySpec's
    * >= 0.3 aggregate bound on the same probe core, held with wide
    * margin at every tested SF), not a hash quibble.
    *
    * One aggregate row over the query_id % 50 probe subset (the
    * intersection of q48's % 25 query set with q40's % 50 — same
    * subsetting move as q132/q140): n_queries and n_exact are
    * oracle-recomputed exact values; recall_ge_30pct crosses only as
    * the asserted bound.
    */
  def q142IvfRecallGate(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val exact = q40CosineTopK(s, d, k = k).select(col("query_id"), col("cand_id"))
    val ivf = q48IvfAnn(s, d, k = k)
      .filter(col("query_id") % 50 === 0)
      .select(col("query_id"), col("cand_id"))
    val hits = ivf.join(exact, Seq("query_id", "cand_id"))
      .agg(count(lit(1)).as("n_hit"))
    exact.agg(count(lit(1)).as("n_exact"),
        countDistinct(col("query_id")).as("n_queries"))
      .crossJoin(hits) // 1 row × 1 row
      .select(col("n_queries"), col("n_exact"),
        (col("n_hit") * lit(10L) >= col("n_exact") * lit(3L))
          .as("recall_ge_30pct"))
  }

  // ---------------------------------------------------------------------
  // PRODUCT QUANTIZATION (Jégou et al. 2011, "Product Quantization for
  // Nearest Neighbor Search") — the MEMORY-bounded ANN tier the IVF
  // family was missing: q48/q70 prune the CANDIDATE set (a query touches
  // nProbe buckets) but still store the full float vector per candidate;
  // at 100 TB the postings' vector payload is the dominant index cost.
  // PQ splits each vector into PqM subvectors and quantizes each
  // subspace independently with its own small codebook, so a vector is
  // carried as PqM small codes (here PqM=16 codes over PqSubK=16-entry
  // codebooks = 16·log2(16) bits = 8 bytes/vector vs 256 bytes of
  // floats, with the codebooks model-sized). Distances come from the
  // ADC (asymmetric distance
  // computation) identity: d2(q, c) ≈ Σ_m d2(q_m, codebook_m[code_m(c)])
  // — per query a PqM×PqSubK lookup table, per candidate PqM table
  // lookups, no float vector ever read on the probe path.
  //
  // Exactness discipline: the sub-fits are the SAME deterministic
  // exact-integer k-means as q48's coarse quantizer (micro-unit BIGINT
  // vectors, salted-hash seeds, integer-div means, residual stop), run
  // on dims/PqM-wide slices — so the oracle replays every sub-fit
  // through the same unrolled CTE chain, and every code, reconstruction
  // distance and ADC distance is a BIGINT inside the hash gate.
  // ---------------------------------------------------------------------

  /** Number of PQ subspaces (vector split into PqM contiguous slices).
    * Sized empirically on the fixture geometry: recall@3 vs exact
    * cosine at M=4/8/16 (16-entry codebooks) measured 0.08/0.18/0.40
    * at sf0.01 and 0.25 at sf0.001 for M=16 — synthetic RANDOM unit
    * vectors are the adversarial case for any vector quantizer (no
    * cluster structure to spend bits on; residual encoding measured
    * within noise of raw, 0.22-0.37 across configs, and doubling M to
    * 32 bought only ~0.07). M=16 × PqSubK=16 = 64-bit codes, 32×
    * smaller than the float payload; SimilaritySpec pins the measured
    * fixture floor (≥ 0.2) AND the clustered upside — on a 100-cluster
    * gaussian fixture (the shape an embedding model emits) the same
    * config measures recall@3 = 1.0 for cluster-level retrieval, so
    * the floor is the structureless worst case, not the expectation.
    * The boundary between the two is code resolution: top-k decided by
    * sim differences below the 64-bit code's resolution (uniform tight
    * noise) re-states the floor; top-k decided by cluster membership
    * is where the bits were spent.
    */
  private[graft] val PqM = 16

  /** Codebook size per subspace: 16 codes = 4 bits, so PqM codes fill
    * 64 bits. Encode and LUT construction are map-side kernels over the
    * literal codebooks — no join, no shuffle anywhere in the encode.
    */
  private[graft] val PqSubK = 16

  // holds (codebooks(m)(code)(dim), per-subspace residual-stop
  // iteration counts, subDim)
  private val pqMemo = SessionMemo[(Array[Array[Array[Long]]], Array[Long], Int)](
    "pq-codebooks", "embeddings")(_ => ())

  /** Fit-or-fetch the PQ codebooks at `d`: PqM independent
    * [[fitKMeans]] runs over the micro-unit subvector slices. The seed
    * rule ranks the SAME (md5-salted) vec_id order in every subspace,
    * so the oracle's per-subspace kc0 is the coarse chain's seed CTE
    * with a slice applied.
    */
  private[graft] def pqCodebooks(s: SparkSession, d: String)
      : (Array[Array[Array[Long]]], Array[Long], Int) =
    pqMemo(s, d) {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), microVec(col("embedding")).as("mvec"))
      val dims = e.select(size(col("mvec"))).head().getInt(0)
      require(dims % PqM == 0, s"PQ: dims=$dims not divisible by PqM=$PqM")
      val subDim = dims / PqM
      val fits = (0 until PqM).map { m =>
        fitKMeans(e.select(col("vec_id"),
          slice(col("mvec"), m * subDim + 1, subDim).as("mvec")), PqSubK)
      }
      (fits.map(_._1).toArray, fits.map(_._2).toArray, subDim)
    }

  /** The encode as an un-ordered frame (one row per (vec, subspace)):
    * code = argmin_c d2(slice_m(mvec), codebook_m[c]) with ties to the
    * smaller code, d2_sub the argmin distance (the per-subspace
    * reconstruction error), n_iters the subspace fit's residual-stop
    * count. Pure MAP pass — codes and distances come from ONE codegen'd
    * [[graft.functions.expressions.NearestCode]] call per row, the
    * codebooks riding inside it (the original array-of-`least`-of-struct
    * chain — PqM·PqSubK inlined dist2 comparisons in the explode's
    * consume — blew Janino's method-size limit on every FULL-ROW
    * action, so Verify and any index write ran the whole encode stage
    * interpreted while count() quietly pruned the failure away).
    * Nothing shuffles.
    */
  private[graft] def pqEncodeFrame(s: SparkSession, d: String): DataFrame = {
    val (books, nIters, subDim) = pqCodebooks(s, d)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), microVec(col("embedding")).as("mvec"))
    e.select(col("vec_id"), graft.functions.expressions.FloatVecExpressions
        .nearestCode(col("mvec"), books, subDim).as("pq"))
      .select(col("vec_id"), col("pq.d2").as("dists"),
        posexplode(col("pq.code")).as(Seq("m", "code")))
      .select(col("vec_id"), col("m").cast("long").as("subspace"),
        col("code"),
        element_at(col("dists"), col("m") + 1).as("d2_sub"),
        element_at(lit(nIters), col("m") + 1).as("n_iters"))
  }

  /** PQ ENCODE (q168): every corpus vector's PqM codes, per-subspace
    * reconstruction distance and the sub-fit's convergence count — the
    * artifact a 100 TB pipeline persists as the compressed index
    * payload (PqM·log2(PqSubK) bits = 8 bytes/vector here vs 256 of
    * floats). All BIGINT, so codes, distances AND the PqM per-subspace
    * residual-stop decisions sit inside the oracle hash gate.
    */
  def q168PqEncode(s: SparkSession, d: String): DataFrame =
    pqEncodeFrame(s, d).orderBy("vec_id", "subspace")

  /** IVF-ADC top-k (q169) — the production probe over the COMPRESSED
    * index: coarse candidate pruning by q48's shared 8-centroid
    * quantizer (a query touches nProbe buckets), then ranking by the
    * PQ ADC distance — Σ over subspaces of a per-query lookup table
    * entry — with the full float vectors NEVER read on the probe path.
    *
    * Plan shape: per query the flattened LUT (PqM·PqSubK BIGINT
    * entries) is ONE map-side array column built from literal
    * codebooks; per candidate the code array likewise. Candidates come
    * from the coarse equality join on centroid, the query LUT rides in
    * by a broadcast equality join (query-batch-sized), and the ADC
    * distance is the codegen'd [[graft.functions.expressions
    * .AdcLookupSum]] — per pair, PqM array reads, fused in the join
    * stage. The first cut instead EXPLODED each candidate into PqM
    * (subspace, code) rows joined against LUT rows and re-aggregated:
    * an output-scaled 16× row explosion through a 4M-group agg,
    * measured 23.3 s at 20× where this shape runs in the seconds. Only
    * the k-row-per-query top-k window shuffles.
    *
    * Approximation contract (documented, ADC's nature): ranking is by
    * quantized distance, so recall vs the exact q40 is bounded by
    * codebook resolution — SimilaritySpec measures it against the
    * exact memo; the ORACLE is exact on the approximate semantics
    * (every code and LUT entry replayed in BIGINT, rank ties to the
    * smaller cand_id).
    */
  def q169PqAdcTopK(s: SparkSession, d: String, nProbe: Int = 2,
      k: Int = 3, nCentroids: Int = 8): DataFrame = {
    val (books, _, subDim) = pqCodebooks(s, d)
    val (cents, nItersCoarse, _) = quantize(s, d, nCentroids)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), microVec(col("embedding")).as("mvec"))
    val q = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("query_id"), col("mvec").as("qm"))
    // the compressed postings computed in-plan: ONE pass over the
    // corpus yields both the coarse assignment and the PQ code array,
    // all map-side — the batch formulation of the index the serving
    // twin persists
    val postings = withAssignment(e, cents)
      .select(col("vec_id").as("cand_id"), col("centroid"),
        pqCodeArray(books, subDim).as("codes"))
    adcProbeCore(q, postings,
        centroidFrame(s, cents, nItersCoarse).select("centroid", "cvec"),
        books, subDim, nProbe, k)
      .withColumn("n_iters", lit(nItersCoarse))
      .orderBy("query_id", "rk")
  }

  /** Per-candidate PQ code array (subspace-major, one code per
    * subspace) as a MAP-SIDE column over a frame carrying `mvec` —
    * the q168 per-subspace argmins, the `code` field of
    * [[graft.functions.expressions.NearestCode]] over the PqM
    * codebooks. The codebooks ride INSIDE the expression: no join, no
    * shuffle anywhere in the encode.
    */
  private[graft] def pqCodeArray(books: Array[Array[Array[Long]]],
      subDim: Int): org.apache.spark.sql.Column =
    graft.functions.expressions.FloatVecExpressions
      .nearestCode(col("mvec"), books, subDim).getField("code")

  /** Per-query flattened ADC lookup table (subspace-major: entry
    * m·PqSubK + c = d2(query_m, codebook_m[c])) as a map-side column
    * over a frame carrying `qm` — PqM·PqSubK BIGINT entries in ONE
    * array via the codegen'd [[graft.functions.expressions.PqLutFlat]]
    * (same codegen rationale as the encode).
    */
  private[graft] def pqLutArray(books: Array[Array[Array[Long]]],
      subDim: Int): org.apache.spark.sql.Column =
    graft.functions.expressions.FloatVecExpressions
      .pqLutFlat(col("qm"), books, subDim)

  /** The ADC probe body over EXPLICIT query / postings / centroid
    * frames — shared by batch q169 (queries derived from the corpus,
    * postings computed in-plan) and the at-ingest serving twin
    * (queries arrive on the stream, postings persisted with the PQ
    * codes as the payload — the float vectors NEVER on the probe
    * path). `queries`: (query_id, qm); `postings`: (cand_id,
    * centroid, codes); `centroids`: (centroid, cvec).
    *
    * Plan shape (the measured q169 lesson): coarse probe selection is
    * q48's committed shape (broadcast centroid frame + per-query rank
    * window over nCentroids rows); candidates come from the equality
    * join on centroid; the per-query LUT rides in by a broadcast
    * equality join (query-batch-sized); the ADC distance is the
    * codegen'd [[graft.functions.expressions.AdcLookupSum]] fused in
    * the join stage; and the fat arrays are dropped BEFORE the top-k
    * shuffle — the window moves (query, cand, d2) rows, not 256-long
    * LUTs. Unsorted: batch callers order, stream callers append.
    */
  private[graft] def adcProbeCore(queries: DataFrame, postings: DataFrame,
      centroids: DataFrame, books: Array[Array[Array[Long]]], subDim: Int,
      nProbe: Int, k: Int): DataFrame = {
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("c_d2"), col("centroid"))
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("c_d2", dist2(col("qm"), col("cvec")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("centroid"))
    val lut = queries.select(col("query_id"),
      pqLutArray(books, subDim).as("lutv"))
    // EXPLICIT-width re-spread of the (query, probe-bucket) list before
    // the candidate join: the probe window's exchange carries only
    // |Q|·nCentroids rows, so AQE coalesces it to ONE partition — and
    // when the postings side broadcasts, the nProbe·bucket candidate
    // EXPLOSION inherits that single partition (AQE can't see row
    // growth INSIDE a stage). Keyed on (query_id, centroid), NOT
    // query_id: a query_id repartition is partitioning-redundant with
    // the probe window's own exchange, so the optimizer collapses it
    // and the coalesce returns (measured: no effect); the composite key
    // survives and its explicit N is AQE-uncoalescible.
    val scored = probes
      .repartition(queries.sparkSession.sessionState.conf.numShufflePartitions,
        col("query_id"), col("centroid"))
      .join(postings, Seq("centroid"))
      .filter(col("query_id") =!= col("cand_id"))
      .join(broadcast(lut), Seq("query_id"))
      .select(col("query_id"),
        graft.functions.expressions.FloatVecExpressions
          .adcLookupSum(col("lutv"), col("codes"), PqSubK).as("adc_d2"),
        col("cand_id"), col("centroid").cast("long").as("centroid"))
    // top-k via the NATIVE O(k)-state aggregate, NOT a window and NOT a
    // Dataset Aggregator: the candidate frame is |Q|·nProbe·bucket rows
    // (4M at the 20× fixture geometry) and BOTH of those pay ~6 s of
    // object-path row machinery there while the underlying sort is
    // 0.8 s (measured; NOTES round 13). TopKAscLongAgg folds inside
    // ObjectHashAggregate with codegen'd child eval — three compares
    // per row — and its partial mode shuffles ≤ k triples per (query,
    // partition). Same (adc_d2 asc, cand_id asc) order, exact BIGINT.
    scored
      .groupBy("query_id")
      .agg(graft.functions.expressions.TopKAggregates
        .topKAscLong(col("adc_d2"), col("cand_id"), col("centroid"), k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("t.id").as("cand_id"), col("t.payload").as("centroid"),
        col("t.metric").as("adc_d2"))
  }

  /** ADC probe with an EXTERNAL query frame (vec_id, embedding) over a
    * PERSISTED compressed index — the per-batch computation of the
    * at-ingest ADC serving twin, and its batch-mode equivalence
    * target. Pure function of (queries, index): same probe core as
    * q169, so streaming the corpus' own query set through it unions to
    * q169's answer exactly at matching geometry (spec-pinned).
    */
  def adcProbeBatch(queries: DataFrame, postings: DataFrame,
      centroids: DataFrame, books: Array[Array[Array[Long]]], subDim: Int,
      nIters: Long, nProbe: Int = 2, k: Int = 3): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      microVec(col("embedding")).as("qm"))
    adcProbeCore(q, postings, centroids.select("centroid", "cvec"),
        books, subDim, nProbe, k)
      .withColumn("n_iters", lit(nIters))
  }

  /** Retrieval-serving index for the per-query hybrid family (q172 /
    * the at-ingest twin): the rep-level full-vocabulary BM25 postings
    * ([[TextOps.bm25IndexFrames]]) plus the dense corpus side
    * (cand_id, c_emb, c_norm). postings/df/membership persist
    * (lifecycle is the caller's via [[HybridIndex.unpersist]] — the
    * PqServingIndex contract); totals stays lazy (one agg over the
    * already-persisted contraction reps).
    */
  final case class HybridIndex(postings: DataFrame, dfTable: DataFrame,
      totals: DataFrame, membership: DataFrame, corpus: DataFrame) {
    def unpersist(): Unit = SessionMemo.unpersist(postings, dfTable)
  }

  // session memo for the batch surfaces (q172 and the bench re-runs);
  // the streaming twin builds its own caller-owned index instead
  private val hybridMemo = SessionMemo[HybridIndex](
    "hybrid-index", "documents", "embeddings")(_.unpersist())

  private[graft] def hybridIndex(s: SparkSession, d: String): HybridIndex =
    hybridMemo(s, d)(buildHybridIndex(s, d))

  private[graft] def buildHybridIndex(s: SparkSession, d: String)
      : HybridIndex = {
    val (postings, dfTable, totals, membership) =
      TextOps.bm25IndexFrames(s, d)
    val corpus = Tables.embeddings(s, d)
      .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
        norm(col("embedding")).as("c_norm"))
    HybridIndex(
      postings.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      dfTable.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      totals, membership, corpus)
  }

  /** The per-query hybrid retrieval core — q172's computation and the
    * at-ingest twin's per-batch body (ONE definition, the q70-twin
    * discipline). `queries` carries (query_id, text, embedding);
    * either modality may be absent (null text → no lexical list, the
    * fusion's absent-list-0 handles it).
    *
    * Lexical side: the query's distinct tokens look up the df table,
    * the `mTerms` RAREST terms (df asc, token — the standard
    * best-terms-first budget; candidate volume is bounded by mTerms
    * posting lists per query, never corpus-shaped) retrieve from the
    * full-vocabulary rep postings, per-(query, rep) BM25 scores are
    * the q158 integer arithmetic verbatim ([[TextOps.bm25IdfMicro]]),
    * members inherit their rep's score closed-form, and the per-query
    * top-`kList` ranks under (score desc, doc_id). Query-by-example
    * excludes only the query doc itself — its dup twins are
    * legitimate hits.
    *
    * Dense side: exact cosine against the corpus side (the honest
    * baseline — the IVF/ADC twins are the approximate serving tier),
    * ranked through the native O(k)-state [[TopKAscLongAgg]] on the
    * negated micro-unit integer (the probeCore lesson — no WindowExec
    * over the |Q|·N candidate frame).
    *
    * Fusion: reciprocal-rank fusion at K = `kRrf` (q170's integer
    * form, 1e6 div (K + rank), absent list contributes 0), per-query
    * re-rank to `kOut`. All-BIGINT output — no rounding discipline
    * needed anywhere.
    */
  private[graft] def hybridQueryCore(queries: DataFrame, idx: HybridIndex,
      mTerms: Int = 8, kList: Int = 12, kOut: Int = 10, kRrf: Int = 60)
      : DataFrame =
    hybridFuseCore(queries, idx, exactDenseList(queries, idx, kList),
      mTerms, kList, kOut, kRrf)

  /** The EXACT dense list — full-scan cosine against the corpus side,
    * the honest baseline tier (documented on the PlanSpec nested-loop
    * allowlist). Ranked through the native O(k)-state
    * [[graft.functions.expressions.TopKAscLongAgg]] on the negated
    * micro-unit integer (the probeCore lesson — no WindowExec over the
    * |Q|·N candidate frame). Returns (query_id, doc_id, sem_rank).
    */
  private[graft] def exactDenseList(queries: DataFrame, idx: HybridIndex,
      kList: Int): DataFrame = {
    val qv = queries.filter(col("embedding").isNotNull)
      .select(col("query_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_norm"))
    broadcast(qv)
      .join(idx.corpus, col("query_id") =!= col("cand_id"))
      .select(col("query_id"),
        (-floor(cosinePrenormed(dot(col("q_emb"), col("c_emb")),
          col("q_norm"), col("c_norm")) * lit(1e6) + lit(0.5)).cast("long"))
          .as("neg_micro"),
        col("cand_id"))
      .groupBy("query_id")
      .agg(graft.functions.expressions.TopKAggregates
        .topKAscLong(col("neg_micro"), col("cand_id"), col("cand_id"), kList)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("sem_rank"))
  }

  /** The ANN dense list — the SAME (query_id, doc_id, sem_rank)
    * interface served from the COMPRESSED index instead of the exact
    * |Q|·N scan: q169's ADC probe core ([[adcProbeCore]] — coarse
    * centroid pruning to nProbe buckets, codegen'd AdcLookupSum over
    * 8-byte PQ codes, native O(k)-state top-k), rank order
    * (adc_d2 asc, cand_id asc). This is the tier that makes hybrid
    * retrieval SERVE at corpus scale: per query the dense cost is
    * nProbe posting buckets of code lookups, never a corpus scan, and
    * the resident index is codes (8 B/vector), not floats (256 B).
    * Recall vs the exact tier is bounded by codebook resolution —
    * measured in HybridSpec against [[exactDenseList]]'s fusion.
    */
  private[graft] def adcDenseList(queries: DataFrame, postings: DataFrame,
      centroids: DataFrame, books: Array[Array[Array[Long]]], subDim: Int,
      nProbe: Int, kList: Int): DataFrame = {
    val q = queries.filter(col("embedding").isNotNull)
      .select(col("query_id"), microVec(col("embedding")).as("qm"))
    adcProbeCore(q, postings, centroids.select("centroid", "cvec"),
        books, subDim, nProbe, kList)
      .select(col("query_id"), col("cand_id").as("doc_id"),
        col("rk").as("sem_rank"))
  }

  /** ADC over-fetch factor for the refined hybrid dense tier:
    * [[annDenseListRefined]] pulls `HybridRefineK` candidates by ADC
    * and re-ranks them by exact cosine before fusion. Measured at
    * serving geometry (AnnComparisonProbe r16): raising nProbe 2→8 or
    * centroids √N→2√N moved hybrid serving recall@10-unique only
    * 0.570→0.618 — the loss was PQ codebook resolution (8-byte codes
    * inverting near-tie ranks), not quantizer miss — while the exact
    * rescore of a 4× over-fetch recovers those inversions for the
    * price of `HybridRefineK` keyed vector fetches per query.
    */
  val HybridRefineK = 48

  /** The PRODUCTION ANN dense tier — IVF-PQ probe with exact-rescore
    * refine, the standard serving recipe (Jégou et al.'s IVFADC+R;
    * what Faiss ships as `IndexRefineFlat`): ADC ranks a `kRefine`
    * over-fetch inside the probed buckets, the survivors' ORIGINAL
    * vectors are fetched by key and re-scored with exact cosine, and
    * the top `kList` of THAT ranking feed the fusion. ADC's codebook
    * error now only costs recall when a true neighbor falls outside
    * the kRefine ADC cut entirely — rank inversions within the cut
    * are repaired by the rescore.
    *
    * Scale shape: the refine adds ONE keyed join — the |Q|·kRefine
    * candidate frame (k-bounded, broadcastable) probing the corpus
    * vectors by cand_id — and |Q|·kRefine exact dots. Per query that
    * is kRefine vector fetches against a keyed store, independent of
    * corpus size; the probe stage still reads only nProbe posting
    * buckets of 8-byte codes. Rank contract matches
    * [[exactDenseList]]: (floor-micro cosine desc, cand_id asc).
    */
  private[graft] def annDenseListRefined(queries: DataFrame,
      postings: DataFrame, centroids: DataFrame,
      books: Array[Array[Array[Long]]], subDim: Int, nProbe: Int,
      corpus: DataFrame, kList: Int = 12,
      kRefine: Int = HybridRefineK): DataFrame = {
    val cand = adcDenseList(queries, postings, centroids, books, subDim,
      nProbe, kList = kRefine)
    val qv = queries.filter(col("embedding").isNotNull)
      .select(col("query_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_norm"))
    corpus
      .join(broadcast(cand.select("query_id", "doc_id")
          .join(broadcast(qv), Seq("query_id"))),
        col("cand_id") === col("doc_id"))
      .select(col("query_id"),
        (-floor(cosinePrenormed(dot(col("q_emb"), col("c_emb")),
          col("q_norm"), col("c_norm")) * lit(1e6) + lit(0.5)).cast("long"))
          .as("neg_micro"),
        col("doc_id"))
      .groupBy("query_id")
      .agg(graft.functions.expressions.TopKAggregates
        .topKAscLong(col("neg_micro"), col("doc_id"), col("doc_id"), kList)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("sem_rank"))
  }

  /** The hybrid fusion body over an EXPLICIT dense list `den`
    * (query_id, doc_id, sem_rank) — the lexical side + RRF fusion
    * shared by the exact core ([[hybridQueryCore]]), the ANN-backed
    * batch query (q174) and both serving twins: ONE definition of the
    * retrieval arithmetic, so swapping the dense tier can change
    * ranks only through the dense list itself (fusion identity is
    * structural, and HybridSpec pins it by feeding both tiers'
    * fusions the same dense frame).
    */
  private[graft] def hybridFuseCore(queries: DataFrame, idx: HybridIndex,
      den: DataFrame, mTerms: Int = 8, kList: Int = 12, kOut: Int = 10,
      kRrf: Int = 60): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val qtok = queries.select(col("query_id"),
      explode(array_distinct(tokens(col("text")))).as("token"))
    val wTerm = Window.partitionBy("query_id")
      .orderBy(col("df"), col("token"))
    val qsel = broadcast(qtok).join(idx.dfTable, Seq("token"))
      .withColumn("rn", row_number().over(wTerm))
      .filter(col("rn") <= mTerms)
      .select("query_id", "token", "df")
    // per-query top-k through the native O(k)-state aggregate fused
    // over the member-expanded frame, NOT a window: WindowExec would
    // sort the whole expansion per query (measured 9-12 s at 20×)
    // where the partial-mode TopK fold ships ≤ kList triples per
    // (query, partition). Metric = negated score so (score desc,
    // doc_id asc) is reproduced exactly — the probeCore move. The
    // expansion itself (reps × copies, 40M rows at the 20× dup-heavy
    // stress) enumerates inside one codegen stage at ~0.4 s — a
    // tie-inclusive rep-level threshold cut before the join was
    // measured NET SLOWER here (it re-reads the rep-score frame, and
    // either a localCheckpoint or a recompute costs more than the
    // enumeration it saves); revisit if members ever carry payloads
    // wider than two BIGINTs.
    val lex = idx.postings.join(broadcast(qsel), Seq("token"))
      .crossJoin(broadcast(idx.totals))
      .select(col("query_id"), col("rep"),
        TextOps.bm25IdfMicro.as("idf_micro"),
        TextOps.bm25FracMicro.as("frac_micro"))
      .select(col("query_id"), col("rep"),
        expr("(idf_micro * frac_micro) div 1000000").as("contrib_micro"))
      .groupBy("query_id", "rep")
      .agg(sum("contrib_micro").as("score_micro"))
      .join(idx.membership, Seq("rep"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id")
      .agg(graft.functions.expressions.TopKAggregates
        .topKAscLong(-col("score_micro"), col("doc_id"), col("doc_id"),
          kList)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("lex_rank"))
    val wOut = Window.partitionBy("query_id")
      .orderBy(col("rrf_micro").desc, col("doc_id"))
    lex.join(den, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"), col("lex_rank"),
        col("sem_rank"),
        (coalesce(expr(s"CAST(1000000 AS BIGINT) div ($kRrf + lex_rank)"),
            lit(0L)) +
          coalesce(expr(s"CAST(1000000 AS BIGINT) div ($kRrf + sem_rank)"),
            lit(0L))).as("rrf_micro"))
      .withColumn("rank", row_number().over(wOut).cast("long"))
      .filter(col("rank") <= kOut)
      .select("query_id", "rank", "doc_id", "lex_rank", "sem_rank",
        "rrf_micro")
      .orderBy("query_id", "rank")
  }

  /** PER-QUERY HYBRID RETRIEVAL (q172) — q170's single-anchor fusion
    * generalized to a query WORKLOAD: every corpus vector with
    * vec_id % 50 = 0 runs query-by-example retrieval (its own text as
    * the lexical query, its own embedding as the dense query) and the
    * two lists fuse by reciprocal-rank fusion. This is the full
    * retrieval engine a RAG stack runs per request, expressed as one
    * data-parallel batch — and the at-ingest twin serves the identical
    * core per micro-batch. Queries whose id has no document row (the
    * replicated-corpus regime) retrieve dense-only — the fusion's
    * absent-list semantics, exercised at stress scale.
    */
  def q172HybridQueryRrf(s: SparkSession, d: String): DataFrame = {
    val queries = Tables.embeddings(s, d)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .join(Tables.documents(s, d)
          .select(col("doc_id").as("query_id"), col("text")),
        Seq("query_id"), "left_outer")
    hybridQueryCore(queries, hybridIndex(s, d))
  }

  /** ANN-BACKED HYBRID RETRIEVAL (q174) — q172 with the dense tier
    * SWAPPED from the exact |Q|·N cosine scan to the REFINED
    * compressed-index probe ([[annDenseListRefined]] = q169's ADC core
    * over-fetching [[HybridRefineK]] candidates at the fixture
    * geometry — 8-centroid coarse quantizer, nProbe=2, PqM 8-byte
    * codes — then exact-rescoring the survivors, the r16 IVFADC+R
    * serving recipe). Same query workload (vec_id % 50), same lexical
    * side (rarest-8-term BM25 over the full-vocabulary rep postings),
    * same integer RRF fusion through the SHARED [[hybridFuseCore]] —
    * the ONLY difference is where the dense list comes from. This is
    * the production shape of hybrid retrieval at 100 TB: the lexical
    * side is term-bounded, the dense side is bucket-bounded plus one
    * k-bounded keyed fetch, and nothing rescans the corpus per query.
    * The oracle replays the whole thing — BM25 chain ⊕ the unrolled
    * PQ/ADC chain ⊕ the exact-rescore refine ⊕ RRF — in exact
    * integers; recall vs the exact-tier fusion (q172) is measured in
    * HybridSpec, the honest approximation contract.
    */
  def q174HybridAnnRrf(s: SparkSession, d: String, nProbe: Int = 2,
      nCentroids: Int = 8): DataFrame = {
    val (books, _, subDim) = pqCodebooks(s, d)
    val (cents, nItersCoarse, _) = quantize(s, d, nCentroids)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), microVec(col("embedding")).as("mvec"))
    val postings = withAssignment(e, cents)
      .select(col("vec_id").as("cand_id"), col("centroid"),
        pqCodeArray(books, subDim).as("codes"))
    val queries = Tables.embeddings(s, d)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .join(Tables.documents(s, d)
          .select(col("doc_id").as("query_id"), col("text")),
        Seq("query_id"), "left_outer")
    val idx = hybridIndex(s, d)
    val den = annDenseListRefined(queries, postings,
      centroidFrame(s, cents, nItersCoarse), books, subDim, nProbe,
      idx.corpus)
    hybridFuseCore(queries, idx, den)
  }

  /** CROSS-ENCODER-STYLE RERANK (q175) — the scoring pass a retrieval
    * stack runs over its fused candidates before serving: q172's
    * hybrid top-10 per query is re-scored per (query, candidate) with
    * a feature model — exact embedding cosine, distinct-token Jaccard,
    * token-count length ratio, and the fusion prior — and re-ranked by
    * the combined score. The combination is a FIXED integer-weighted
    * sum (3·cos + 2·jac + len + rrf, micro-units): a deterministic
    * stand-in for a learned cross-encoder, the multimodal-stub
    * discipline — the model weights are a placeholder, but the
    * Spark-side plumbing a real reranker needs (k-bounded pair frame,
    * per-pair feature joins against corpus tables, integer micro-unit
    * arithmetic, per-query re-rank) is real and oracle-gated. A
    * missing modality contributes 0 (queries without a document row,
    * candidates without an embedding) — the fusion's absent-signal
    * semantics carried through.
    *
    * Scale shape: the pair frame is |Q|·kOut rows — k-bounded, never
    * corpus-shaped — and it BROADCASTS into four keyed equality joins
    * that probe the corpus tables (docs twice, embeddings twice, each
    * a pushdown-pruned scan); the rerank window is kOut rows per
    * query. At 100 TB the cost is the two corpus scans, independent of
    * |Q|, exactly what a feature-fetch stage costs in production.
    */
  // memo of q172's fused top-10 — the |Q|·10-row
  // frame q175 consumes (the q166-rides-the-q40-memo discipline: a
  // rerank stage consumes the retrieval stage's PERSISTED output, it
  // does not recompute retrieval per scoring pass; localCheckpoint is
  // allowed here because the frame is memo-shared, the round-13 leak
  // rule). q172 itself stays a live registered plan.
  private val fusedMemo = SessionMemo.frame("fused-top10", "documents", "embeddings")

  private[graft] def fusedTop10(s: SparkSession, d: String): DataFrame =
    fusedMemo(s, d)(q172HybridQueryRrf(s, d).localCheckpoint(false))

  def q175CeRerank(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val fused = fusedTop10(s, d)
      .select(col("query_id"), col("rank").as("prior_rank"),
        col("doc_id"), col("rrf_micro"))
    val toks = Tables.documents(s, d)
      .select(col("doc_id").as("tid"),
        array_distinct(tokens(col("text"))).as("ts"))
      .select(col("tid"), col("ts"), size(col("ts")).cast("long").as("nt"))
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"))
    def micro6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5)).cast("long")
    val feat = broadcast(fused)
      .join(toks.select(col("tid").as("query_id"), col("ts").as("q_ts"),
        col("nt").as("q_nt")), Seq("query_id"), "left_outer")
      .join(toks.select(col("tid").as("doc_id"), col("ts").as("c_ts"),
        col("nt").as("c_nt")), Seq("doc_id"), "left_outer")
      .join(emb.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm")),
        Seq("query_id"), "left_outer")
      .join(emb.select(col("vec_id").as("doc_id"),
        col("embedding").as("c_emb"), col("nrm").as("c_nrm")),
        Seq("doc_id"), "left_outer")
      .withColumn("common",
        when(col("q_ts").isNotNull && col("c_ts").isNotNull,
          graft.functions.expressions.TextExpressions
            .arrayIntersectCount(col("q_ts"), col("c_ts")).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("jac_micro", when(
        coalesce(col("q_nt"), lit(0L)) + coalesce(col("c_nt"), lit(0L))
          - col("common") > 0,
        expr("(1000000 * common) div " +
          "(coalesce(q_nt, 0) + coalesce(c_nt, 0) - common)"))
        .otherwise(lit(0L)))
      .withColumn("cos_micro",
        when(col("q_emb").isNotNull && col("c_emb").isNotNull,
          micro6(r6(cosinePrenormed(dot(col("q_emb"), col("c_emb")),
            col("q_nrm"), col("c_nrm"))))).otherwise(lit(0L)))
      .withColumn("len_micro", when(
        coalesce(col("q_nt"), lit(0L)) > 0 &&
          coalesce(col("c_nt"), lit(0L)) > 0,
        expr("(1000000 * least(q_nt, c_nt)) div greatest(q_nt, c_nt)"))
        .otherwise(lit(0L)))
      .withColumn("ce_score_micro",
        lit(3L) * col("cos_micro") + lit(2L) * col("jac_micro") +
          col("len_micro") + col("rrf_micro"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("ce_score_micro").desc, col("doc_id"))
    feat.withColumn("ce_rank", row_number().over(w).cast("long"))
      .select("query_id", "ce_rank", "doc_id", "prior_rank",
        "ce_score_micro", "cos_micro", "jac_micro", "len_micro",
        "rrf_micro")
      .orderBy("query_id", "ce_rank")
  }

  /** GREEDY K-CENTER CORESET (q171) — Gonzalez (1985) farthest-point
    * traversal over the embedding corpus: seed one exemplar, then k−1
    * times pick the point FARTHEST from everything selected so far.
    * The classic 2-approximation to the k-center objective, and the
    * coreset-selection primitive of data-pruning pipelines (pick the k
    * most mutually-distant exemplars as the anchor set; `sel_d2` — the
    * selection's distance to the already-chosen set — is the coverage
    * radius the previous prefix achieved, so the trace IS the pruning
    * curve). Complements the family's other selectors: q165's MMR
    * diversifies a RANKED pool per query; this selects a global
    * corpus-level exemplar set with a worst-case coverage guarantee.
    *
    * Determinism discipline (the q48 k-means rules verbatim): vectors
    * in BIGINT micro-units, distances the codegen'd exact-integer
    * [[dist2]], seed = the salted-hash rank-1 row
    * (md5(vec_id || ':kcseed'), vec_id), farthest tie → smaller
    * vec_id, and selection excludes prior picks BY ID (on a dup-heavy
    * corpus every copy of a chosen center has mind = 0, so a
    * "mind > 0" exclusion would be wrong once k exceeds the distinct
    * vector count; id exclusion stays exact). The oracle replays the
    * whole traversal through k unrolled CTE blocks.
    *
    * Scale shape: each of the k−1 rounds is ONE map pass (the new
    * center rides as a literal micro-vector — no join, no shuffle)
    * feeding a TakeOrdered(1) whose reduce ships exactly one row per
    * partition to the driver; the running `mind` frame is
    * localCheckpoint'd per round (the q165 lineage rule), so round t's
    * plan is a branch over a materialized frame, not a t-deep
    * re-derivation. The driver holds exactly the model — k
    * (vec_id, mvec) rows, the q153 bounded-artifact discipline — and
    * the final assignment is one more literal-model map pass + a
    * k-row aggregate. At 100 TB: k linear scans, no pair space,
    * driver state O(k·dims).
    */
  def q171KcenterCoreset(s: SparkSession, d: String, k: Int = 6): DataFrame = {
    import s.implicits._
    val (centers, radius) = kcenterFit(s, d, k)
    val counts = withKcenterAssignment(
        Tables.embeddings(s, d)
          .select(col("vec_id"), microVec(col("embedding")).as("mvec")),
        centers)
      .groupBy("rk").agg(count(lit(1)).as("n_assigned"))
    val centerDf = centers
      .map { case (rk, id, selD2, _) => (rk, id, selD2) }
      .toDF("rk", "vec_id", "sel_d2")
    centerDf.join(counts, Seq("rk"), "left_outer")
      .select(col("rk"), col("vec_id"), col("sel_d2"),
        coalesce(col("n_assigned"), lit(0L)).as("n_assigned"),
        lit(radius).as("radius"))
      .orderBy("rk")
  }

  /** The driver-held k-center model: (rk, vec_id, sel_d2, micro-vector)
    * per selected exemplar plus the coverage radius — the whole state
    * q171, q173 and the ingest drift monitor share. Memoized like the
    * quantizer: k·dims longs, fit once per (session, corpus, k).
    */
  private val kcMemo =
    SessionMemo[(Vector[(Long, Long, Option[Long], Array[Long])], Long)](
      "kcenter", "embeddings")(_ => ())

  private[graft] def kcenterFit(s: SparkSession, d: String, k: Int)
      : (Vector[(Long, Long, Option[Long], Array[Long])], Long) =
    kcMemo(s, d, k)(runKcenterFit(s, d, k))

  private def runKcenterFit(s: SparkSession, d: String, k: Int)
      : (Vector[(Long, Long, Option[Long], Array[Long])], Long) = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), microVec(col("embedding")).as("mvec"))
    val seed = e
      .select(col("vec_id"), col("mvec"),
        md5(concat(col("vec_id").cast("string"), lit(":kcseed"))).as("h"))
      .orderBy("h", "vec_id").limit(1)
      .select("vec_id", "mvec").head()
    // (rk, vec_id, sel_d2, micro-vector) — sel_d2 undefined for the seed
    var centers = Vector(
      (1L, seed.getLong(0), Option.empty[Long], seed.getSeq[Long](1).toArray))
    var state = e
      .withColumn("mind", dist2(col("mvec"), lit(centers.head._4)))
      .localCheckpoint(false)
    // superseded rounds are unpersisted EXPLICITLY, one action behind:
    // round t's farthest-point action is what materializes state_t's
    // lazy checkpoint, and only then is state_{t-1} safe to drop
    // (unpersisting before the child materializes would discard the
    // blocks the child's truncated lineage reads from — localCheckpoint
    // blocks do not recompute). Relying on GC/ContextCleaner instead is
    // the leak the round-13 bench degradation traced to.
    var prev: DataFrame = null
    for (t <- 2 to k) {
      val selected = centers.map(_._2)
      val far = state.filter(!col("vec_id").isin(selected: _*))
        .orderBy(col("mind").desc, col("vec_id")).limit(1).head()
      if (prev != null) SessionMemo.unpersist(prev)
      prev = state
      val fmv = far.getSeq[Long](1).toArray
      centers :+= ((t.toLong, far.getLong(0), Some(far.getLong(2)), fmv))
      // update runs for t = k too: the final `mind` IS the k-center
      // coverage radius the model carries
      state = state
        .withColumn("mind", least(col("mind"), dist2(col("mvec"), lit(fmv))))
        .localCheckpoint(false)
    }
    val radius = state.agg(max(col("mind"))).head().getLong(0)
    // the model is fully driver-held from here; nothing reads the fit
    // frames again (q171/q173 assign via literal-center map passes), so
    // the last two rounds' blocks go too
    SessionMemo.unpersist(Option(prev).toSeq :+ state: _*)
    (centers, radius)
  }

  /** Adds (d2c, rk) — the nearest-coreset-center argmin — to a frame
    * carrying (…, mvec): ONE codegen'd tight loop with the centers as
    * the single codebook of [[graft.functions.expressions.NearestCode]]
    * (rk = index + 1, centers in rank order), distance ties to the
    * earlier-selected center, mirroring the oracle's (d2, rk) window.
    * Pure map pass — the model rides inside the expression as a
    * reference object. vs the composable `least()`-of-k-structs chain,
    * measured at 20× (KcenterProbe, NOTES r14): the q169-style
    * interpreted demotion does NOT reproduce here — Spark's expression
    * splitting keeps even the k=512 chain inside whole-stage codegen on
    * a flat frame — but the loop is still 1.5-1.7× faster per pass, its
    * per-row profile is flat in k (0.09 s at k=128 → 0.10 s at k=512
    * over 20k vectors), and the plan carries ONE reference object
    * instead of a k·dims literal tree. The `kn` argmin pair lands as
    * its own projection: both field reads reference it, and
    * CollapseProject keeps a non-cheap multi-use alias un-inlined, so
    * the loop runs once per row.
    */
  private def withKcenterAssignment(frame: DataFrame,
      centers: Vector[(Long, Long, Option[Long], Array[Long])])
      : DataFrame = {
    val model = centers.map(_._4).toArray
    frame
      .withColumn("kn", graft.functions.expressions.FloatVecExpressions
        .nearestCode(col("mvec"), Array(model), model.head.length))
      .withColumn("d2c", col("kn.d2").getItem(0))
      .withColumn("rk", col("kn.code").getItem(0) + 1L)
      .drop("kn")
  }

  /** CORESET ASSIGNMENT + COVERAGE-DRIFT flags (q173) — the consumer
    * side of q171's model: every vector labeled with its nearest
    * coreset exemplar, the exact-integer distance, and `novel` =
    * distance beyond the fit-time coverage radius. On the training
    * corpus itself `novel` is false by construction (the radius IS the
    * max assignment distance) — the flag exists for NEW data: the
    * at-ingest twin ([[graft.streaming.StreamingOps.coresetAssignAtIngest]])
    * runs this exact map pass per micro-batch as the drift monitor a
    * curation pipeline puts in front of re-fitting (arrivals landing
    * outside every exemplar's coverage are the "new region" signal).
    * Pure map pass over the literal k-vector model; no join, no
    * shuffle beyond the output sort.
    */
  def q173CoresetAssign(s: SparkSession, d: String, k: Int = 6): DataFrame = {
    val (centers, radius) = kcenterFit(s, d, k)
    coresetAssignBatch(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      centers, radius)
      .orderBy("vec_id")
  }

  /** The per-batch computation of the coreset drift monitor — q173's
    * core and the at-ingest twin's body (ONE definition, the q70-twin
    * discipline): (vec_id, rk, d2c, novel) per input vector.
    */
  private[graft] def coresetAssignBatch(vecs: DataFrame,
      centers: Vector[(Long, Long, Option[Long], Array[Long])],
      radius: Long): DataFrame =
    withKcenterAssignment(
        vecs.select(col("vec_id"), microVec(col("embedding")).as("mvec")),
        centers)
      .select(col("vec_id"), col("rk"), col("d2c"),
        (col("d2c") > lit(radius)).as("novel"))
}
