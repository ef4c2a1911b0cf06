package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

/** ANN-quality invariants: the approximate paths must stay close to the
  * exact brute-force baseline.
  */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("ANN decision artifact: committed record is well-formed and its recommended family holds the recall floor") {
    // the committed ANN_DECISION.json (written by AnnComparisonProbe at
    // sf0.1) is the round-over-round regression gate on the family
    // choice: regenerating it with a recommended-config recall below
    // the spec's 0.3 floor breaks this test until re-adjudicated
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get("ANN_DECISION.json"))
    def field(k: String): String =
      s""""$k":\\s*([^,}\\s]+)""".r.findFirstMatchIn(txt)
        .getOrElse(fail(s"ANN_DECISION.json missing $k")).group(1)
    assert(field("artifact") == "\"ann_decision\"")
    assert(field("n_vectors").toLong > 0L)
    val rec = field("recommended").stripPrefix("\"").stripSuffix("\"")
    assert(txt.contains(s""""$rec":{"""), s"recommended $rec not in configs")
    assert(field("recommended_recall3").toDouble >= 0.3,
      s"recommended family recall ${field("recommended_recall3")} < spec floor 0.3")
    // the HONEST serving bound (r15), re-gated at the r16 OPERATING
    // POINT: recall@10 of the ANN-backed hybrid fusion vs the exact
    // fusion on UNIQUE vectors, where the artifact now carries the
    // full (centroids × nProbe) recall/latency curve and the pick rule
    // (fastest config clearing the floor). The committed operating
    // point must clear the artifact's own floor, the floor itself must
    // not be quietly lowered below the r16 ratchet, and the curve must
    // be present — so a silent index/codebook regression, a flattering
    // regeneration that dropped the curve, OR a softened floor each
    // break the suite.
    val floor = field("hybrid_serving_floor").toDouble
    assert(floor >= 0.65, s"serving floor $floor ratcheted below 0.65")
    assert(field("hybrid_serving_recall10_unique").toDouble >= floor,
      s"unique-vector serving recall ${field("hybrid_serving_recall10_unique")} < committed floor $floor")
    assert(txt.contains("\"hybrid_serving_curve\":{"),
      "serving recall/latency curve missing from artifact")
    val curvePts = """"\d+c_\d+p":\{"recall10":""".r
      .findAllMatchIn(txt).size
    assert(curvePts >= 6,
      s"serving curve has $curvePts points, expected the 2×3 geometry sweep")
  }

  test("q48 IVF: at most k rows per query, valid sims, recall@3 vs exact >= 0.3") {
    val ivf = Similarity.q48IvfAnn(spark, sf).cache()
    try {
      assert(ivf.filter(col("cos_sim") < -1.001 || col("cos_sim") > 1.001).count() == 0)
      val over = ivf.groupBy("query_id").agg(count(lit(1)).as("n"))
        .filter(col("n") > 3).count()
      assert(over == 0L)
      // exact top-3 for the same query set (vec_id % 25 == 0)
      val e = graft.core.Tables.embeddings(spark, sf)
      import graft.functions.VectorFunctions._
      val q = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          norm(col("embedding")).as("q_norm"))
      val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
        norm(col("embedding")).as("c_norm"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("sim").desc, col("cand_id"))
      val exact = q.join(c, col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"),
          cosinePrenormed(dot(col("q_emb"), col("c_emb")), col("q_norm"), col("c_norm")).as("sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("query_id", "cand_id")
      val hits = ivf.select("query_id", "cand_id").intersect(exact).count()
      val total = exact.count()
      assert(hits.toDouble / total >= 0.3, s"recall $hits/$total")
    } finally ivf.unpersist()
  }

  test("q34 banded near-dup: exact verify (no false positives) and recall vs all-pairs pinned") {
    import spark.implicits._
    import graft.functions.VectorFunctions._
    val threshold = 0.4
    val got = graft.ops.Dedup.q34EmbeddingNearDup(spark, sf, threshold)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // independent exact all-pairs formulation (not the banded CTEs the
    // oracle mirrors): the gate verifies mirroring, THIS pins semantics
    val e = graft.core.Tables.embeddings(spark, sf)
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      norm(col("embedding")).as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      norm(col("embedding")).as("nb"))
    val exact = a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        graft.functions.Round.r4(
          cosinePrenormed(dot(col("ea"), col("eb")), col("na"), col("nb"))).as("sim"))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // the verify stage is exact cosine → banding can only MISS pairs,
    // never invent them
    assert((got -- exact).isEmpty,
      s"q34 emitted non-pairs (verify must be exact): ${(got -- exact).take(5)}")
    // recall at the fixture's adversarial threshold (weakly-similar
    // pairs, far below the 8-band design point of cos>=0.9) stays above
    // the floor the banding math predicts — a banding bug replicated
    // into the oracle would trip this independent assertion
    val recall = if (exact.isEmpty) 1.0 else got.size.toDouble / exact.size
    assert(recall >= 0.2, s"recall $recall (${got.size}/${exact.size})")
  }

  test("q70 registered query: build-once/probe-from-index output equals in-session q48 exactly") {
    // through the SparkEntry registration (the path the driver runs):
    // first call builds the index table under tmpdir, second call must
    // hit the memo and probe only — both must equal q48 bit-for-bit
    // (same seeded quantizer, same probe core), which transitively pins
    // q48's spec-bounded recall onto the persisted path
    val q70 = SparkEntry.queries("q70_ivf_probe_indexed")
    val first = q70(spark, sf)
    val inSession = Similarity.q48IvfAnn(spark, sf)
    assert(first.exceptAll(inSession).count() == 0L &&
      inSession.exceptAll(first).count() == 0L)
    val again = q70(spark, sf)
    assert(again.exceptAll(inSession).count() == 0L &&
      inSession.exceptAll(again).count() == 0L)
  }

  test("q70 index memo: a second geometry for the corpus does not replace the first's index") {
    val at8 = Similarity.q70IvfProbeIndexed(spark, sf, nCentroids = 8).collect().toSeq
    Similarity.q70IvfProbeIndexed(spark, sf, nCentroids = 16).collect()
    val again8 = Similarity.q70IvfProbeIndexed(spark, sf, nCentroids = 8).collect().toSeq
    val fresh8 = Similarity.q70IvfProbeIndexed(spark.newSession(), sf, nCentroids = 8)
      .collect().toSeq
    val at16 = Similarity.q48IvfAnn(spark, sf, nCentroids = 16).collect().toSeq
    assert(again8.sortBy(_.toString) == fresh8.sortBy(_.toString),
      "the nCentroids = 8 entry served another geometry's index")
    assert(at8.sortBy(_.toString) == fresh8.sortBy(_.toString))
    assert(at16.sortBy(_.toString) != fresh8.sortBy(_.toString),
      "the fixture must tell the two geometries apart")
  }

  test("q70 index memo: a rewritten corpus deletes the superseded index directory") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivf_memo").toString
    def write(n: Int): Unit =
      graft.core.Tables.embeddings(spark, sf).filter($"vec_id" < n).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
    def indexDir(): java.nio.file.Path = java.nio.file.Path.of(new java.net.URI(
      spark.table(Similarity.ivfIndexTable(spark, dir)).inputFiles.head)).getParent
    write(400)
    val old = indexDir()
    assert(java.nio.file.Files.exists(old))
    write(300)
    val fresh = indexDir()
    assert(fresh != old && !java.nio.file.Files.exists(old),
      s"superseded index directory $old is left on disk")
  }

  test("persisted IVF index: probe-from-table equals the in-session q48 result") {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Seq("ivf_idx", "ivf_idx_centroids").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(warehouse, t)
      if (dir.exists()) { dir.listFiles().foreach(_.delete()); dir.delete() }
    }
    try {
      Similarity.buildIvfIndex(spark, sf, "ivf_idx")
      // the index table carries the physical layout claim
      val catalog = spark.sql("DESCRIBE EXTENDED ivf_idx").collect()
        .map(r => r.getString(0) + " " + r.getString(1)).mkString("\n")
      assert(catalog.contains("Bucket Columns") && catalog.contains("centroid"),
        s"index table must be bucketed by centroid:\n$catalog")
      // the layout is functional, not just recorded: a centroid-keyed
      // aggregation over the index plans with ZERO shuffle Exchange
      val aggPlan = spark.table("ivf_idx").groupBy("centroid")
        .agg(count(lit(1))).queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange hashpartitioning"),
        s"centroid agg over the bucketed index must not shuffle:\n$aggPlan")
      // probing the persisted index (no KMeans fit on this path) must
      // reproduce the in-session result exactly — same quantizer, same
      // probe core; this transitively pins the recall bound above
      val fromIndex = Similarity.ivfProbeIndexed(spark, "ivf_idx")
      val inSession = Similarity.q48IvfAnn(spark, sf)
      assert(fromIndex.exceptAll(inSession).count() == 0L &&
        inSession.exceptAll(fromIndex).count() == 0L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_idx")
      spark.sql("DROP TABLE IF EXISTS ivf_idx_centroids")
    }
  }

  test("q87 semantic clusters: full coverage, labels equal driver-side union-find over q34 pairs") {
    import graft.ops.Dedup
    val clusters = Dedup.q87SemanticClusters(spark, sf).cache()
    try {
      val n = graft.core.Tables.embeddings(spark, sf).count()
      assert(clusters.count() == n)
      assert(clusters.select("vec_id").distinct().count() == n)
      val label = clusters.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val pairs = Dedup.q34EmbeddingNearDup(spark, sf)
        .select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // ground truth: union-find with union-by-min, so every root is the
      // min id of its class — exactly q87's claimed label semantics
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x
        else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      assert(label.forall { case (v, c) => c == find(v) })
    } finally clusters.unpersist()
  }

  test("q88 label centroids: exact micro-unit means vs driver-side recomputation") {
    import graft.ops.Similarity
    val got = Similarity.q88LabelCentroids(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val rows = graft.core.Tables.embeddings(spark, sf)
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0).toLong, r.getSeq[Float](1)))
    val want = rows.groupBy(_._1).flatMap { case (label, vs) =>
      val dims = vs.head._2.length
      (0 until dims).map { dim =>
        // same floor-idiom arithmetic as the operator and the oracle
        val micro = vs.map(v => math.floor(v._2(dim).toDouble * 1e6 + 0.5).toLong).sum
        val c = math.floor(micro.toDouble / (1e6 * vs.length) * 1e4 + 0.5) / 1e4
        (label, dim.toLong) -> (vs.length.toLong, c)
      }
    }
    assert(got.keySet == want.keySet)
    assert(want.forall { case (k, v) => got(k) == v })
  }

  test("q90 quantization: exact driver-side recompute of codes, saturation and error stats") {
    import graft.ops.Similarity
    val got = Similarity.q90QuantizeEmbeddings(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val rows = graft.core.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val dims = rows.head._2.length
    val lo = Array.tabulate(dims)(j => rows.map(_._2(j)).min)
    val hi = Array.tabulate(dims)(j => rows.map(_._2(j)).max)
    val want = rows.map { case (id, v) =>
      val codes = Array.tabulate(dims) { j =>
        if (hi(j) == lo(j)) 0.0
        else math.floor((v(j) - lo(j)) / (hi(j) - lo(j)) * 255.0 + 0.5)
      }
      val errs = Array.tabulate(dims)(j =>
        math.abs(v(j) - (lo(j) + codes(j) * (hi(j) - lo(j)) / 255.0)))
      val nSat = codes.count(c => c == 0.0 || c == 255.0).toLong
      val maxE = math.floor(errs.max * 1e6 + 0.5) / 1e6
      val meanE = math.floor(
        errs.map(e => math.floor(e * 1e9 + 0.5).toLong).sum.toDouble
          / (1e9 * dims) * 1e6 + 0.5) / 1e6
      id -> (dims.toLong, nSat, maxE, meanE)
    }.toMap
    assert(got == want)
  }

  test("q132 ANN recall: aggregation matches a JVM recount over the q40/q41 frames; recall in [0,1]") {
    val exact = Similarity.q40CosineTopK(spark, sf, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = Similarity.q41AnnLshTopK(spark, sf, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).filter(_._1 % 50 == 0).toSet
    val want = exact.groupBy(_._1).map { case (q, rows) =>
      val nExact = rows.size.toLong
      val nHit = rows.count(ann.contains).toLong
      q -> (nHit, nExact,
        math.floor(nHit.toDouble / nExact * 1e4 + 0.5) / 1e4)
    }
    val got = Similarity.q132AnnRecall(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got == want)
    got.values.foreach { case (h, n, rec) =>
      assert(h <= n && rec >= 0.0 && rec <= 1.0)
    }
  }

  test("q126 truncation energy: matches a JVM left-to-right fold; prefix energies are monotone") {
    val rows = graft.core.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2).toLong))
    def energy(v: Array[Float], k: Int): Double = {
      var acc = 0.0
      var i = 0
      while (i < k) { val x = v(i).toDouble; acc += x * x; i += 1 }
      acc
    }
    val want = rows.map { case (id, v, label) =>
      val e64 = energy(v, 64)
      id -> (label,
        math.floor(energy(v, 16) / e64 * 1e6 + 0.5) / 1e6,
        math.floor(energy(v, 32) / e64 * 1e6 + 0.5) / 1e6)
    }.toMap
    val got = Similarity.q126TruncEnergy(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got == want)
    got.values.foreach { case (_, e16, e32) =>
      assert(e16 >= 0.0 && e16 <= e32 && e32 <= 1.0)
    }
  }

  test("q140 retrieval metrics: matches a JVM recount over the q40/q41 frames; metric invariants hold") {
    val exact = Similarity.q40CosineTopK(spark, sf, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = Similarity.q41AnnLshTopK(spark, sf, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(1))) // (query, cand, rk)
      .filter(_._1 % 50 == 0)
    def disc(rk: Long): Long =
      if (rk == 1L) 1000000L else if (rk == 2L) 630929L else 500000L
    def r6d(v: Double): Double = math.floor(v * 1e6 + 0.5) / 1e6
    val want = exact.groupBy(_._1).map { case (q, ex) =>
      val hits = ann.filter(a => a._1 == q && ex.contains((q, a._2)))
      val nExact = ex.size.toLong
      val nHit = hits.size.toLong
      val fhr = if (hits.isEmpty) 0L else hits.map(_._3).min
      val rr = if (fhr == 0L) 0L else 1000000L / fhr
      val dcg = hits.map(h => disc(h._3)).sum
      val idcg =
        if (nExact == 1) 1000000L else if (nExact == 2) 1630929L else 2130929L
      q -> (nHit, nExact, fhr, rr, dcg, idcg, r6d(dcg.toDouble / idcg))
    }
    val got = Similarity.q140RetrievalMetrics(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7))).toMap
    assert(got == want)
    got.values.foreach { case (nHit, nExact, fhr, _, dcg, idcg, ndcg) =>
      assert(nHit <= nExact && fhr >= 0L && fhr <= 3L && dcg <= idcg &&
        ndcg >= 0.0 && ndcg <= 1.0)
    }
  }

  test("q146 multi-probe ANN: per-rank sims dominate q41's; exact hits are a pointwise superset") {
    val multi = Similarity.q146MultiprobeAnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val single = Similarity.q41AnnLshTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
    // every query q41 serves is served here — and multi-probe also
    // answers queries whose OWN bucket held no candidate at all (the
    // lone-bucket queries are exactly the ones multi-probe exists for;
    // on this fixture it recovers several such queries)
    assert(single.map(_._1).toSet.subsetOf(multi.map(_._1).toSet))
    // candidate-superset ⇒ the sim at every rank can only improve
    val mByRank = multi.map(t => (t._1, t._2) -> t._4).toMap
    single.foreach { case (q, rk, _, sim) =>
      assert(mByRank.get((q, rk)).exists(_ >= sim),
        s"rank $rk of query $q regressed: multi=${mByRank.get((q, rk))} single=$sim")
    }
    // and every exact-top-3 hit q41 finds survives (ranks are total via
    // the cand_id tiebreak, so a superset cannot evict a true hit)
    val exact = Similarity.q40CosineTopK(spark, sf, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val hits41 = single.map(t => (t._1, t._3)).filter(exact.contains).toSet
    val hits146 = multi.map(t => (t._1, t._3)).filter(exact.contains).toSet
    assert(hits41.subsetOf(hits146),
      s"multi-probe lost exact hits: ${hits41.diff(hits146)}")
  }

  test("q142 IVF recall gate: totals match the exact frame; the 30% bound holds") {
    val exact = Similarity.q40CosineTopK(spark, sf, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val got = Similarity.q142IvfRecallGate(spark, sf).collect()
    assert(got.length == 1)
    assert(got.head.getLong(0) == exact.map(_._1).distinct.length.toLong)
    assert(got.head.getLong(1) == exact.length.toLong)
    assert(got.head.getBoolean(2))
    // recompute the bound the gate asserts, and report the margin
    val ivf = Similarity.q48IvfAnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).filter(_._1 % 50 == 0).toSet
    val nHit = exact.count(ivf.contains)
    assert(nHit * 10 >= exact.length * 3, s"IVF recall $nHit/${exact.length}")
  }

  test("q166 hard negatives: matches a JVM recount; every mined negative has a different label") {
    val got = SparkEntry.queries("q166_hard_negatives")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    val rows = spark.read.parquet(sf + "/embeddings.parquet")
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2).toLong))
    def dotD(x: Array[Float], y: Array[Float]): Double =
      x.indices.foldLeft(0.0)((s, i) => s + x(i).toDouble * y(i).toDouble)
    def sim6(a: Array[Float], b: Array[Float]): Double =
      graft.functions.Round.jvmRn(
        dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b))), 6)
    val expect = rows.filter(_._1 % 50 == 0).flatMap { case (qid, qe, ql) =>
      rows.filter(c => c._1 != qid && c._3 != ql)
        .map { case (cid, ce, cl) => (cid, cl, sim6(qe, ce)) }
        .sortBy(t => (-t._3, t._1)).take(3).zipWithIndex
        .map { case ((cid, cl, s6), i) =>
          (qid, ql, (i + 1).toLong, cid, cl,
            graft.functions.Round.jvmRn(s6, 4))
        }
    }.sortBy(t => (t._1, t._3)).toSeq
    assert(got == expect)
    assert(got.forall(t => t._2 != t._5), "a same-label pair leaked in")
  }

  test("q167 label noise: suspects are exactly the q35-vs-own-label disagreements") {
    val got = SparkEntry.queries("q167_label_noise")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq
    val pred = Similarity.q35KnnClassify(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val own = spark.read.parquet(sf + "/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(got.map(_._1) == got.map(_._1).sorted)
    got.foreach { case (q, ownL, knnL, nAgree, suspect) =>
      assert(ownL == own(q))
      assert(knnL == pred(q), s"q167 prediction diverged from q35 for $q")
      assert(suspect == (knnL != ownL))
      assert(nAgree >= 0L && nAgree <= 5L)
      // majority agreement implies no suspicion under the vote rule
      if (nAgree >= 3L) assert(!suspect,
        s"query $q agrees with $nAgree/5 neighbors but was flagged")
    }
    assert(got.exists(_._5) && got.exists(!_._5),
      "fixture degenerate: suspects all or none")
  }

  test("q165 MMR top-k: matches a fully independent JVM greedy selection") {
    val got = SparkEntry.queries("q165_mmr_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val rows = spark.read.parquet(sf + "/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def dotD(x: Array[Float], y: Array[Float]): Double =
      x.indices.foldLeft(0.0)((s, i) => s + x(i).toDouble * y(i).toDouble)
    def simMicro(a: Array[Float], b: Array[Float]): Long =
      math.floor(graft.functions.Round.jvmRn(
        dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b))), 6)
        * 1e6 + 0.5).toLong
    val expect = rows.filter(_._1 % 50 == 0).flatMap { case (qid, qe) =>
      val pool = rows.filter(_._1 != qid)
        .map { case (cid, ce) => (cid, ce, simMicro(qe, ce)) }
        .sortBy(t => (-t._3, t._1)).take(12)
      var selected = List.empty[(Long, Array[Float], Long)]
      (1 to 5).map { rk =>
        val scoredT = pool.filterNot(c => selected.exists(_._1 == c._1))
          .map { c =>
            val mmr =
              if (selected.isEmpty) c._3
              else c._3 - selected.map(s0 => simMicro(c._2, s0._2)).max
            (c, mmr)
          }
        val (pick, mmr) = scoredT.minBy { case (c, m) => (-m, c._1) }
        selected ::= pick
        (qid, rk.toLong, pick._1, pick._3, mmr)
      }
    }.sortBy(t => (t._1, t._2)).toSeq
    assert(got == expect)
    // diversity bites on the fixture: some query's rank-2 is NOT the
    // relevance rank-2 (otherwise MMR degenerated to plain top-k)
    val plainTop = rows.filter(_._1 % 50 == 0).map { case (qid, qe) =>
      qid -> rows.filter(_._1 != qid)
        .map { case (cid, ce) => (cid, simMicro(qe, ce)) }
        .sortBy(t => (-t._2, t._1)).take(5).map(_._1)
    }.toMap
    val mmrOrder = got.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3))
    assert(mmrOrder.exists { case (q, sel) => sel != plainTop(q).toSeq },
      "MMR == plain top-k for every query — diversity term never bit")
  }

  test("q163 SemDeDup prune: matches a driver-side dominance recount over the shared fit") {
    val got = SparkEntry.queries("q163_semdedup_prune")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getLong(5))).toSeq
    // independent JVM recount: same centroid MODEL (the fit itself is
    // q48's, already spec/oracle-gated), but assignment, distances,
    // cosines, and the dominance rule all recomputed from raw parquet
    val (cents, nIters, _) = Similarity.quantize(spark, sf, 8)
    val rows = spark.read.parquet(sf + "/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def micro(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.foldLeft(0L) { (acc, i) =>
        val d = a(i) - b(i); acc + d * d
      }
    def dotD(x: Array[Float], y: Array[Float]): Double =
      x.indices.foldLeft(0.0)((s, i) => s + x(i).toDouble * y(i).toDouble)
    def cos4(a: Array[Float], b: Array[Float]): Double =
      graft.functions.Round.jvmRn(
        dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b))), 4)
    val assigned = rows.map { case (id, emb) =>
      val mv = micro(emb)
      val (dd, c) = cents.zipWithIndex
        .map { case (cv, i) => (d2(mv, cv), i.toLong) }.min
      (id, c, dd, emb)
    }
    val byCluster = assigned.groupBy(_._2)
    val expect = assigned.map { case (id, c, dd, emb) =>
      val doms = byCluster(c).count { case (oid, _, od, oemb) =>
        oid != id && (od < dd || (od == dd && oid < id)) &&
          cos4(oemb, emb) >= 0.4
      }.toLong
      (id, c, dd, doms, doms == 0L, nIters)
    }.sortBy(_._1).toSeq
    assert(got == expect)
    // the fixture must exercise BOTH outcomes or the rule is untested
    assert(got.exists(!_._5), "no vector was pruned — fixture degenerate")
    assert(got.exists(_._5), "no vector was kept — fixture degenerate")
    // conservation: every cluster keeps at least its centroid-closest
    // member (the dominance order's minimum has no dominator)
    val keptClusters = got.filter(_._5).map(_._2).toSet
    assert(got.map(_._2).toSet == keptClusters,
      "a cluster lost all members — dominance order violated")
  }

  test("IVF assignment at nCentroids = 64: one map pass, row-for-row equal to the window argmin") {
    val e = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.microVec(col("embedding")).as("mvec"))
    val (cents, _, _) = Similarity.quantize(spark, sf, 64)
    assert(cents.length == 64)
    val got = Similarity.withAssignment(e, cents)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("NestedLoopJoin") &&
      !plan.contains("Cartesian") && !plan.contains("Exchange"), plan)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "centroid", "d2c").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val want = rows(NearestTwins.windowArgmin(e, cents))
    assert(want.length == e.count())
    assert(rows(got) == want)
    // the fit spreads the corpus: many clusters are used
    assert(want.map(_._2).distinct.size > 32)
  }

  private def jvmMicro(emb: Array[Float]): Array[Long] =
    emb.map(v => math.floor(v.toDouble * 1e6 + 0.5).toLong)

  private def jvmD2(a: Array[Long], b: Array[Long]): Long =
    a.indices.foldLeft(0L) { (s, i) => val d = a(i) - b(i); s + d * d }

  test("q168 PQ encode: codes/distances match a JVM recompute over the codebooks") {
    import spark.implicits._
    val got = Similarity.q168PqEncode(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val (books, nIters, subDim) = Similarity.pqCodebooks(spark, sf)
    assert(books.length == Similarity.PqM)
    assert(books.forall(_.length == Similarity.PqSubK))
    val rows = graft.core.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    val expect = rows.flatMap { case (id, emb) =>
      val mv = jvmMicro(emb)
      (0 until Similarity.PqM).map { m =>
        val sub = mv.slice(m * subDim, (m + 1) * subDim)
        // argmin with ties to the smaller code — the struct-least rule
        val (d2, code) = books(m).zipWithIndex
          .map { case (cv, c) => (jvmD2(sub, cv), c.toLong) }.min
        (id, m.toLong, code, d2, nIters(m))
      }
    }.sortBy(t => (t._1, t._2)).toSeq
    assert(got == expect)
    // every code id in range, all PqM subspaces present per vector
    assert(got.forall(t => t._3 >= 0 && t._3 < Similarity.PqSubK))
    assert(got.groupBy(_._1).values.forall(_.length == Similarity.PqM))
  }

  test("q169 IVF-ADC: matches a JVM ADC recompute within the coarse buckets; recall@3 >= 0.2") {
    import spark.implicits._
    val got = Similarity.q169PqAdcTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    val (books, _, subDim) = Similarity.pqCodebooks(spark, sf)
    val rows = graft.core.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    // coarse model via the registered q48 path's own frames: recompute
    // assignment + probe ranking in the JVM from the memoized centroids
    val ivf = Similarity.q48IvfAnn(spark, sf) // warms the coarse memo
    val nItersCoarse = ivf.select("n_iters").head().getLong(0)
    // centroid model from the persisted side table (the q70 contract)
    val tbl = graft.ops.Similarity.ivfIndexTable(spark, sf, 8)
    val cents = spark.table(tbl + "_centroids")
      .orderBy("centroid").collect()
      .map(_.getSeq[Long](1).toArray)
    val micro = rows.map { case (id, e) => id -> jvmMicro(e) }.toMap
    val codes = rows.map { case (id, e) =>
      val mv = jvmMicro(e)
      id -> (0 until Similarity.PqM).map { m =>
        books(m).zipWithIndex
          .map { case (cv, c) => (jvmD2(mv.slice(m * subDim, (m + 1) * subDim), cv), c) }
          .min._2
      }.toArray
    }.toMap
    val assignOf = rows.map { case (id, _) =>
      id -> cents.zipWithIndex
        .map { case (cv, c) => (jvmD2(micro(id), cv), c.toLong) }.min._2
    }.toMap
    val queries = rows.map(_._1).filter(_ % 25 == 0)
    val expect = queries.flatMap { qid =>
      val qm = micro(qid)
      val probes = cents.zipWithIndex
        .map { case (cv, c) => (jvmD2(qm, cv), c.toLong) }
        .sorted.take(2).map(_._2).toSet
      val lut = (0 until Similarity.PqM).map { m =>
        books(m).map(cv => jvmD2(qm.slice(m * subDim, (m + 1) * subDim), cv))
      }
      rows.map(_._1)
        .filter(c => c != qid && probes(assignOf(c)))
        .map { c =>
          val adc = (0 until Similarity.PqM)
            .foldLeft(0L)((s, m) => s + lut(m)(codes(c)(m)))
          (adc, c)
        }
        .sorted.take(3).zipWithIndex
        .map { case ((adc, c), i) =>
          (qid, (i + 1).toLong, c, assignOf(c), adc, nItersCoarse) }
    }.sortBy(t => (t._1, t._2)).toSeq
    assert(got == expect)
    // recall floor vs exact cosine — the ANN family's documented bound
    val gotPairs = got.map(t => (t._1, t._3)).toSet
    def dotD(x: Array[Float], y: Array[Float]): Double =
      x.indices.foldLeft(0.0)((s, i) => s + x(i).toDouble * y(i).toDouble)
    val byId = rows.toMap
    val exact = queries.flatMap { qid =>
      rows.map(_._1).filter(_ != qid)
        .map { c =>
          val q = byId(qid); val e = byId(c)
          (-dotD(q, e) / (math.sqrt(dotD(q, q)) * math.sqrt(dotD(e, e))), c)
        }
        .sorted.take(3).map { case (_, c) => (qid, c) }
    }.toSet
    // 0.2, not the IVF family's 0.3: ADC quantizes the RANKING metric
    // itself, and the synthetic random fixture is the adversarial case
    // for a vector quantizer (measured 0.25 here / 0.40 at sf0.01 at
    // this 64-bit budget; see PqM's scaladoc for the config sweep)
    val recall = gotPairs.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.2, s"ADC recall@3 $recall below the measured fixture floor")
  }

  test("q170 hybrid RRF: fusion matches a JVM recount over the lexical/dense lists") {
    import spark.implicits._
    // doc_id -> lexical rank, from q158's own (spec- and oracle-gated)
    // frame — the q132/q140 recount discipline: the component lists are
    // already gated, the fusion math is what THIS test proves
    val lex = graft.ops.TextOps.q158Bm25TopK(spark, sf).collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    val rows = graft.core.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    def dotD(x: Array[Float], y: Array[Float]): Double =
      x.indices.foldLeft(0.0)((s, i) => s + x(i).toDouble * y(i).toDouble)
    def r6d(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val anchor = rows.map(_._1).min
    val qe = rows.find(_._1 == anchor).get._2
    val qn = math.sqrt(dotD(qe, qe))
    val semRank = rows.filter(_._1 != anchor)
      .map { case (id, e) =>
        (id, r6d(dotD(qe, e) / (qn * math.sqrt(dotD(e, e))))) }
      .sortBy { case (id, s) => (-s, id) }.take(20)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val expect = (lex.keySet ++ semRank.keySet).toSeq
      .map { id =>
        val rrf = lex.get(id).map(r => 1000000L / (60L + r)).getOrElse(0L) +
          semRank.get(id).map(r => 1000000L / (60L + r)).getOrElse(0L)
        (id, lex.get(id), semRank.get(id), rrf)
      }
      .sortBy { case (id, _, _, rrf) => (-rrf, id) }
      .zipWithIndex
      .map { case ((id, l, sr, rrf), i) => (i + 1L, id, l, sr, rrf) }
    val got = Similarity.q170HybridRrf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getLong(4))).toSeq
    assert(got == expect)
    // the fixture exercises BOTH partial-membership cases (a doc in one
    // list but not the other) or the COALESCE/outer-join paths are dead
    assert(got.exists(t => t._3.isEmpty && t._4.nonEmpty),
      "no dense-only doc — fixture degenerate")
    assert(got.exists(t => t._3.nonEmpty && t._4.isEmpty),
      "no lexical-only doc — fixture degenerate")
  }

  test("PQ upside on a clustered fixture: q169 recall@3 >= 0.8 at M=16") {
    // The committed 0.2 floor is measured on the ADVERSARIAL fixture —
    // i.i.d. random vectors, where a vector quantizer has no structure
    // to exploit. The scaladoc claim that real corpora sit far above it
    // (clustered data concentrates codebook mass where the vectors are)
    // was asserted, not measured — this fixture measures it as the
    // claim actually means it: CLUSTER-LEVEL retrieval. 100 tight
    // gaussian clusters of 4 members each (sigma 0.05 around unit-range
    // 64-dim centers), so each query's exact cosine top-3 IS its
    // co-member set (within-cluster cos ~0.996 vs cross-cluster ~0) and
    // recall measures whether ADC ranks co-cluster above cross-cluster —
    // the semantic-retrieval upside. (A uniform-noise 40-member-cluster
    // variant measures 0.35: there top-3 is decided by noise-scale
    // sim differences BELOW the 64-bit code's resolution — that fixture
    // re-states the random floor, it doesn't test the cluster claim.)
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val dim = 64; val nClusters = 100; val perCluster = 4
    val centers = Array.fill(nClusters, dim)((rnd.nextDouble() * 2 - 1).toFloat)
    val rows = (0 until nClusters * perCluster).map { i =>
      val c = i % nClusters
      val emb = Array.tabulate(dim)(j =>
        centers(c)(j) + (rnd.nextGaussian() * 0.05).toFloat)
      (i.toLong, emb, c)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-clustered")
      .toString
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = Similarity.q169PqAdcTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def dotD(x: Array[Float], y: Array[Float]): Double =
      x.indices.foldLeft(0.0)((s, i) => s + x(i).toDouble * y(i).toDouble)
    val byId = rows.map(t => t._1 -> t._2).toMap
    val queries = rows.map(_._1).filter(_ % 25 == 0)
    val exact = queries.flatMap { qid =>
      rows.map(_._1).filter(_ != qid)
        .map { c =>
          val q = byId(qid); val e = byId(c)
          (-dotD(q, e) / (math.sqrt(dotD(q, q)) * math.sqrt(dotD(e, e))), c)
        }
        .sorted.take(3).map { case (_, c) => (qid, c) }
    }.toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    info(s"clustered-fixture ADC recall@3 = $recall")
    assert(recall >= 0.8,
      s"clustered-fixture recall@3 $recall — the PQ upside claim failed")
  }

  test("q171 k-center: matches an independent JVM Gonzalez traversal; selection radii non-increasing") {
    val k = 6
    val got = Similarity.q171KcenterCoreset(spark, sf, k).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getLong(3), r.getLong(4)))
    // independent reference: plain-Scala greedy k-center over the
    // collected fixture, micro-unit integers, same seed/tie rules
    val embs = graft.core.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)
        .map(v => math.floor(v.toDouble * 1e6 + 0.5).toLong).toArray))
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val seed = embs.minBy { case (id, _) => (md5hex(s"$id:kcseed"), id) }
    var centers = Vector((1L, seed._1, Option.empty[Long], seed._2))
    val mind = scala.collection.mutable.Map(
      embs.map { case (id, v) => id -> d2(v, seed._2) }.toSeq: _*)
    val byId = embs.toMap
    for (t <- 2L to k.toLong) {
      val selIds = centers.map(_._2).toSet
      val (fid, fd) = embs.iterator.filterNot(e => selIds(e._1))
        .map { case (id, _) => (id, mind(id)) }
        .reduceLeft((a, b) =>
          if (b._2 > a._2 || (b._2 == a._2 && b._1 < a._1)) b else a)
      centers :+= ((t, fid, Some(fd), byId(fid)))
      embs.foreach { case (id, v) =>
        mind(id) = math.min(mind(id), d2(v, byId(fid))) }
    }
    val radius = mind.values.max
    val expect = centers.map { case (rk, id, sd, _) =>
      val n = embs.count { case (_, v) =>
        val best = centers.minBy { case (crk, _, _, cv) => (d2(v, cv), crk) }
        best._1 == rk
      }
      (rk, id, sd, n.toLong, radius)
    }
    assert(got.toSeq == expect, s"got ${got.toSeq}\nexpect $expect")
    // Gonzalez monotonicity: each pick is at most as far as the last
    val radii = got.toSeq.sortBy(_._1).flatMap(_._3)
    assert(radii == radii.sorted(Ordering[Long].reverse),
      s"selection radii not non-increasing: $radii")
  }

  test("q173 coreset assign: matches a JVM reference; training corpus is never novel; radius is tight") {
    val got = Similarity.q173CoresetAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq
    // the training corpus sits inside its own coverage by construction
    assert(got.nonEmpty && got.forall(!_._4), "training vector flagged novel")
    // radius tightness: some vector's distance EQUALS the radius (the
    // radius is the max assignment distance, not a loose bound)
    val q171 = Similarity.q171KcenterCoreset(spark, sf).collect()
    val radius = q171.head.getLong(4)
    assert(got.exists(_._3 == radius), "no vector at the coverage radius")
    // independent JVM reference: refit + assign
    val embs = graft.core.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)
        .map(v => math.floor(v.toDouble * 1e6 + 0.5).toLong).toArray))
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val dd = a(i) - b(i); s += dd * dd; i += 1 }
      s
    }
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val seed = embs.minBy { case (id, _) => (md5hex(s"$id:kcseed"), id) }
    var centers = Vector((1L, seed._2))
    val mind = scala.collection.mutable.Map(
      embs.map { case (id, v) => id -> d2(v, seed._2) }.toSeq: _*)
    val selIds = scala.collection.mutable.Set(seed._1)
    val byId = embs.toMap
    for (t <- 2L to 6L) {
      val (fid, _) = embs.iterator.filterNot(e => selIds(e._1))
        .map { case (id, _) => (id, mind(id)) }
        .reduceLeft((a, b) =>
          if (b._2 > a._2 || (b._2 == a._2 && b._1 < a._1)) b else a)
      centers :+= ((t, byId(fid))); selIds += fid
      embs.foreach { case (id, v) =>
        mind(id) = math.min(mind(id), d2(v, byId(fid))) }
    }
    val refRadius = mind.values.max
    val expect = embs.map { case (id, v) =>
      val (rk, dd) = centers.map { case (crk, cv) => (crk, d2(v, cv)) }
        .minBy { case (crk, dd) => (dd, crk) }
      (id, rk, dd, dd > refRadius)
    }.toSeq
    assert(got == expect, s"first diff: ${got.zip(expect).find(p => p._1 != p._2)}")
  }

  test("q172 hybrid retrieval: matches an independent JVM BM25 ⊕ cosine RRF reference") {
    val got = Similarity.q172HybridQueryRrf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getLong(5))).toSeq
    // independent reference: plain-Scala BM25 (integer arithmetic),
    // exact cosine, RRF — same tie rules, UTF-8 byte collation on the
    // term pick (Spark/DuckDB order strings by UTF-8 bytes; Java
    // String compareTo does not, for supplementary-plane chars)
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val embs = graft.core.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    def toks(t: String): Seq[String] =
      t.split(" ").filter(_.nonEmpty).toSeq
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      val m = math.min(x.length, y.length)
      var i = 0
      while (i < m) {
        if (x(i) != y(i)) return (x(i) & 0xff) < (y(i) & 0xff)
        i += 1
      }
      x.length < y.length
    }
    val dtoks = docs.map { case (id, t) => id -> toks(t) }.toMap
    val n = docs.length.toLong
    val dl = dtoks.map { case (id, ts) => id -> ts.length.toLong }
    val avgdlMilli = dl.values.sum * 1000L / n
    val tf = docs.flatMap { case (id, t) =>
      toks(t).groupBy(identity).map { case (w, o) =>
        ((id, w), o.length.toLong) }
    }.toMap
    val df = tf.keys.toSeq.groupBy(_._2).view
      .mapValues(_.size.toLong).toMap
    val byToken = tf.keys.toSeq.groupBy(_._2).view
      .mapValues(_.map(_._1)).toMap
    val queries = embs.map(_._1).filter(_ % 50 == 0)
    def lexList(q: Long): Seq[(Long, Long)] = {
      val qts = dtoks.get(q).map(_.distinct).getOrElse(Seq.empty)
        .filter(df.contains)
      val sel = qts.sortWith { (a, b) =>
        if (df(a) != df(b)) df(a) < df(b) else utf8Lt(a, b)
      }.take(8)
      val scores = sel.flatMap(t => byToken(t).map(d => (d, t)))
        .filter(_._1 != q)
        .groupBy(_._1).map { case (d, terms) =>
          (d, terms.map { case (_, t) =>
            val idf = ((2 * n - 2 * df(t) + 1) * 1000000L) / (2 * df(t) + 1)
            val a = avgdlMilli
            val frac = (22L * tf((d, t)) * a * 1000000L) /
              (10L * tf((d, t)) * a + 3L * a + 9000L * dl(d))
            (idf * frac) / 1000000L
          }.sum)
        }
      scores.toSeq.sortBy { case (d, s) => (-s, d) }.take(12)
        .zipWithIndex.map { case ((d, _), i) => (d, i + 1L) }
    }
    val embMap = embs.toMap
    def dotD(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)
    def denList(q: Long): Seq[(Long, Long)] = {
      val qv = embMap(q); val qn = math.sqrt(dotD(qv, qv))
      embs.filter(_._1 != q).map { case (c, cv) =>
        (c, math.floor(dotD(qv, cv) / (qn * math.sqrt(dotD(cv, cv)))
          * 1e6 + 0.5).toLong)
      }.sortBy { case (c, s) => (-s, c) }.take(12).toSeq
        .zipWithIndex.map { case ((c, _), i) => (c, i + 1L) }
    }
    val expect = queries.toSeq.flatMap { q =>
      val lx = lexList(q).toMap; val dn = denList(q).toMap
      (lx.keySet ++ dn.keySet).toSeq.map { d =>
        val rrf = lx.get(d).map(r => 1000000L / (60 + r)).getOrElse(0L) +
          dn.get(d).map(r => 1000000L / (60 + r)).getOrElse(0L)
        (d, rrf)
      }.sortBy { case (d, s) => (-s, d) }.take(10)
        .zipWithIndex.map { case ((d, s), i) =>
          (q, i + 1L, d, lx.get(d), dn.get(d), s) }
    }
    assert(got == expect, s"got $got\nexpect $expect")
    // the fusion must be exercised from both sides on the fixture
    assert(got.exists(r => r._4.isDefined && r._5.isDefined),
      "no row ranked by both lists")
    assert(got.exists(r => r._4.isEmpty != r._5.isEmpty),
      "no single-list row — absent-list fusion unexercised")
  }

  private def hybridRowKey(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3),
      if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(5))

  test("q174 hybrid ANN: fusion identity — the fused answer is a pure function of the (query_id, doc_id, sem_rank) dense list") {
    // collect q174's live ADC dense list, rebuild it as a LITERAL frame,
    // and run the shared fusion over it: bit-identical output proves the
    // fusion depends on the dense tier only through the three-column
    // list interface — the structural guarantee that lets the exact and
    // ANN twins disagree only where their dense lists do
    import spark.implicits._
    val idx = Similarity.hybridIndex(spark, sf)
    val queries = graft.core.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .join(graft.core.Tables.documents(spark, sf)
          .select(col("doc_id").as("query_id"), col("text")),
        Seq("query_id"), "left_outer")
    val (books, _, subDim) = Similarity.pqCodebooks(spark, sf)
    val (cents, nIters, _) = Similarity.quantize(spark, sf, 8)
    val e = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.microVec(col("embedding")).as("mvec"))
    val postings = Similarity.withAssignment(e, cents)
      .select(col("vec_id").as("cand_id"), col("centroid"),
        Similarity.pqCodeArray(books, subDim).as("codes"))
    val den = Similarity.annDenseListRefined(queries, postings,
      Similarity.centroidFrame(spark, cents, nIters), books, subDim,
      nProbe = 2, corpus = idx.corpus, kList = 12)
    val denRows = den.select("query_id", "doc_id", "sem_rank")
      .as[(Long, Long, Long)].collect().toSeq
    assert(denRows.nonEmpty, "fixture produced an empty ADC dense list")
    val denLit = denRows.toDF("query_id", "doc_id", "sem_rank")
    val viaLive = Similarity.hybridFuseCore(queries, idx, den)
      .collect().map(hybridRowKey).toSeq
    val viaLit = Similarity.hybridFuseCore(queries, idx, denLit)
      .collect().map(hybridRowKey).toSeq
    val q174 = Similarity.q174HybridAnnRrf(spark, sf)
      .collect().map(hybridRowKey).toSeq
    assert(viaLive == q174, "assembled fusion diverges from q174")
    assert(viaLit == q174,
      "fusion output depends on dense-tier internals beyond the list interface")
  }

  test("q174 hybrid ANN: measured recall of the ANN-backed fusion vs the exact-tier fusion (q172)") {
    // the approximation contract: the lexical side is shared verbatim,
    // so fused-answer divergence comes only from ADC's quantized dense
    // ranks. Measure per-query top-10 overlap vs q172 and pin a floor —
    // the honest number for "the dense tier swapped to the compressed
    // index and the answer is still the answer"
    val exact = Similarity.q172HybridQueryRrf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    val ann = Similarity.q174HybridAnnRrf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    assert(exact.keySet == ann.keySet, "query sets diverge")
    val (hit, total) = exact.keys.toSeq.sorted.foldLeft((0, 0)) {
      case ((h, t), q) =>
        val ex = exact(q).map(_._2).toSet
        val an = ann(q).map(_._2).toSet
        (h + (ex intersect an).size, t + ex.size)
    }
    val recall = hit.toDouble / total
    info(f"ANN-fused recall@10 vs exact-fused: $recall%.3f ($hit/$total)")
    // measured 0.770 at the sf0.001 fixture with the r16 exact-rescore
    // refine (0.650 pre-refine; 0.700 at sf0.01) — the fixture geometry
    // is deliberately coarse (8 centroids, nProbe=2 probes 1/4 of the
    // corpus; PqM 2-bit-ish codebooks at ~200 vectors), so the residual
    // gap is coarse-probe miss, which a rescore cannot repair. The
    // floor sits at 0.5 to absorb codebook jitter across fixture
    // regenerations while still failing a broken dense tier (an empty
    // dense list leaves only the ~half of fused slots the shared
    // lexical side fills)
    assert(recall >= 0.5, f"ANN-fused recall $recall%.3f below 0.5 floor")
  }
}
