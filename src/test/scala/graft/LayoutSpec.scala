package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Layout

/** Data-layout operators: the Z-order mapping itself (vs a bit-twiddling
  * reference implementation), the pruning property a Z-ordered WRITE
  * buys (per-file bounding boxes a fraction of the key space), and the
  * compaction contract (lossless, target file count, disjoint sorted
  * ranges — i.e. min/max pruning works after the rewrite).
  */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Reference Morton interleave: the obvious bit loop. */
  private def zRef(a: Long, b: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((a >> i) & 1L) << (2 * i + 1)
      z |= ((b >> i) & 1L) << (2 * i)
      i += 1
    }
    z
  }

  test("zValue2 matches the bit-loop reference across the 16-bit range") {
    import spark.implicits._
    // corners, powers of two, and a pseudo-random spread of the domain
    val samples = (Seq(0L, 1L, 2L, 0xFFFFL, 0x8000L, 0x5555L, 0xAAAAL) ++
      (0 until 500).map(i => (i * 2654435761L) & 0xFFFFL))
    val pairs = for (a <- samples.take(40); b <- samples.take(40)) yield (a, b)
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), Layout.zValue2(col("a"), col("b")).as("z"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) == zRef(r.getLong(0), r.getLong(1)),
        s"(${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("zValue2 is a bijection on the sampled grid (interleave loses no bits)") {
    import spark.implicits._
    val n = 64
    val grid = for (a <- 0 until n; b <- 0 until n) yield (a.toLong, b.toLong)
    val distinct = grid.toDF("a", "b")
      .select(Layout.zValue2(col("a"), col("b")).as("z"))
      .distinct().count()
    assert(distinct == n.toLong * n)
  }

  test("zOrderWrite: per-file bounding boxes cover a fraction of the key space") {
    import spark.implicits._
    val n = 64 // 4096 rows over a full 64x64 grid
    val out = java.nio.file.Files.createTempDirectory("graft-zorder")
      .resolve("grid").toString
    val grid = (for (a <- 0 until n; b <- 0 until n) yield (a.toLong, b.toLong))
      .toDF("a", "b")
    Layout.zOrderWrite(grid, "a", "b", out, files = 16)
    val boxes = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg((max("a") - min("a") + 1).as("wa"), (max("b") - min("b") + 1).as("wb"),
        count(lit(1)).as("rows"))
      .collect()
    assert(boxes.length == 16)
    assert(boxes.map(_.getAs[Long]("rows")).sum == n.toLong * n)
      // Z-order property: every file's (a, b) bounding box is a bounded
      // tile, not a full-width stripe — 16 Z-contiguous files over a
      // 64x64 grid tile into boxes no wider than a quarter of each axis
      // (a 1-D sort by `a` would instead give wa = 4, wb = 64: pruning
      // on b impossible). That bounded-both-dimensions box IS the
      // two-dimensional min/max pruning claim.
    boxes.foreach { r =>
      assert(r.getAs[Long]("wa") <= n / 4 && r.getAs[Long]("wb") <= n / 4,
        s"file box ${r.getAs[Long]("wa")}x${r.getAs[Long]("wb")} too wide")
    }
  }

  test("compact: lossless, target file count, disjoint sorted doc_id ranges") {
    val out = java.nio.file.Files.createTempDirectory("graft-compact-spec")
      .resolve("docs").toString
    val docs = graft.core.Tables.documents(spark, TestSpark.sf)
    val n = docs.count()
    val target = 20L
    Layout.compact(docs, out, target, "doc_id")
    val back = spark.read.parquet(out)
    // lossless: same multiset of rows (both directions)
    assert(back.exceptAll(docs).count() == 0 && docs.exceptAll(back).count() == 0)
    // file count = ceil(n / target)
    val files = back.select(input_file_name().as("f"), col("doc_id"))
      .groupBy("f").agg(min("doc_id").as("lo"), max("doc_id").as("hi"),
        count(lit(1)).as("rows"))
      .collect()
    assert(files.length == ((n + target - 1) / target).toInt)
    files.foreach(r => assert(r.getAs[Long]("rows") <= target))
    // disjoint ranges: sort files by lo, every hi < next lo (this is
    // what makes per-file min/max pruning on doc_id exact)
    val ranges = files.map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi"))).sorted
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2, s"overlap: $hi1 >= $lo2")
      case _ => ()
    }
  }

  test("q79 buckets: bounded rectangles, counts conserve, Spark ≡ reference z") {
    val q = graft.ops.Layout.q79ZOrderLayout(spark, TestSpark.sf)
    val rows = q.collect()
    val total = graft.core.Tables.lineitem(spark, TestSpark.sf).count()
    assert(rows.map(_.getAs[Long]("n_rows")).sum == total)
    rows.foreach { r =>
      // top-6-bit Z buckets tile the 1024x1024 key plane into rectangles
      // no wider than 1/8 of each axis (6 bits = 3 from each coordinate)
      assert(r.getAs[Long]("px_max") - r.getAs[Long]("px_min") < 1024 / 8)
      assert(r.getAs[Long]("sx_max") - r.getAs[Long]("sx_min") < 1024 / 8)
    }
  }

  test("q91 table stats: one row per profiled column, counts and bounds consistent") {
    val rows = Layout.q91TableStats(spark, TestSpark.sf).collect()
    val total = graft.core.Tables.lineitem(spark, TestSpark.sf).count()
    assert(rows.map(_.getAs[String]("col_name")).toSeq ==
      Layout.StatsColumns.sorted)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") == total)
      assert(r.getAs[Long]("n_nulls") == 0L) // fixtures carry no nulls
      assert(r.getAs[Long]("n_distinct") <= total)
      assert(r.getAs[Double]("min_v") <= r.getAs[Double]("max_v"))
    }
  }

  /** `tableStats` ≡ the Expand formulation it replaced: same schema,
    * same rows. `zeros` compares −0.0 and 0.0 as equal: both plans'
    * min/max may report either when a column holds both (Spark orders
    * them as equal).
    */
  private def assertSameStats(df: org.apache.spark.sql.DataFrame, cols: Seq[String],
      clue: String, zeros: Boolean = false): Array[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.Row
    val got = Layout.tableStats(df, cols)
    val ref = TableStatsReference.tableStats(df, cols)
    assert(got.schema == ref.schema, clue)
    def rows(x: org.apache.spark.sql.DataFrame) = x.collect().map { r =>
      if (!zeros) r
      else Row.fromSeq(r.toSeq.map { case v: Double if v == 0.0 => 0.0; case v => v })
    }
    val g = rows(got)
    assert(g.toSeq == rows(ref).toSeq, clue)
    g
  }

  test("tableStats ≡ the Expand formulation: fixture, nulls in every column, empty table") {
    val li = graft.core.Tables.lineitem(spark, TestSpark.sf)
    val cols = Layout.StatsColumns
    assertSameStats(li, cols, "fixture")
    // every column nulled on its own row pattern, plus two all-null rows
    val holey = li.select(cols.zipWithIndex.map { case (c, i) =>
      when((col("l_linenumber") + i) % 3 === 0, lit(null)).otherwise(col(c)).as(c)
    }: _*)
    val withNulls = holey.union(holey.limit(2).select(cols.map(c =>
      lit(null).cast(li.schema(c).dataType).as(c)): _*))
    val nulls = assertSameStats(withNulls, cols, "nulls")
    assert(nulls.forall(_.getAs[Long]("n_nulls") > 2L))
    // a table without rows still reports every column (GROUP BY-free oracle)
    for ((empty, what) <- Seq(li.filter(col("l_orderkey") < 0L) -> "filtered scan",
        li.limit(0) -> "limit 0")) {
      val got = assertSameStats(empty, cols, what)
      assert(got.map(_.getAs[String]("col_name")).toSeq == cols.sorted, what)
      got.foreach { r =>
        assert(r.getAs[Long]("n_rows") == 0L && r.getAs[Long]("n_nulls") == 0L &&
          r.getAs[Long]("n_distinct") == 0L && r.isNullAt(4) && r.isNullAt(5), s"$what: $r")
      }
    }
    intercept[IllegalArgumentException] {
      Layout.tableStats(graft.core.Tables.lineitem(spark, TestSpark.sf), Seq("l_returnflag"))
    }
  }

  test("tableStats: -0.0, 0.0 and NaN count as countDistinct normalizes them") {
    import spark.implicits._
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    val df = Seq[(Long, Option[Double], Option[Float])](
      (1L, Some(-0.0), Some(-0.0f)), (2L, Some(0.0), Some(0.0f)),
      (3L, Some(Double.NaN), Some(Float.NaN)), (4L, Some(otherNaN), None),
      (5L, Some(1.5), Some(-2.5f)), (6L, None, Some(0.0f)))
      .toDF("k", "x", "f")
    val got = assertSameStats(df, Seq("k", "x", "f"), "signed zeros, NaNs", zeros = true)
      .map(r => r.getString(0) -> r).toMap
    // (col_name, n_rows, n_nulls, n_distinct, min_v, max_v)
    assert(got("x").getLong(3) == 3L) // 0, NaN, 1.5
    assert(got("f").getLong(3) == 3L) // 0, NaN, -2.5
    assert(got("x").getDouble(5).isNaN && got("x").getLong(2) == 1L)
  }

  test("tableStats is invariant to shuffle partitions (1, 7, N) and AQE on or off") {
    val li = graft.core.Tables.lineitem(spark, TestSpark.sf)
    val base = assertSameStats(li, Layout.StatsColumns, "default confs").toSeq
    val n = spark.sparkContext.defaultParallelism
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    for (parts <- Seq(1, 7, n); aqe <- Seq(true, false)) {
      spark.conf.set(keys(0), parts.toLong)
      spark.conf.set(keys(1), aqe)
      try {
        val got = assertSameStats(li, Layout.StatsColumns, s"partitions=$parts aqe=$aqe")
        assert(got.toSeq == base, s"partitions=$parts aqe=$aqe")
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("q91 compiles no new generated classes when it runs a second time") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def run(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Layout.q91TableStats(spark, TestSpark.sf).write.format("noop").mode("overwrite").save()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    run()
    val second = run()
    assert(second == 0L, s"second q91 run compiled $second classes")
  }

  test("upsert: changed rows win, unchanged rows survive, inserts land — keys stay unique") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq((2L, "B"), (4L, "D")).toDF("k", "v")
    val got = Layout.upsert(base, changes, "k")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "D"))
  }

  test("q92 merge summary: row conservation and exact cents movement vs direct recompute") {
    val base = graft.core.Tables.orders(spark, TestSpark.sf)
    val rows = Layout.q92UpsertApply(spark, TestSpark.sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val nBase = base.count()
    val nInserts = base.filter(col("o_orderkey") % 13 === 0).count()
    // merged row count = base + inserts (updates replace, never add)
    assert(rows.values.map(_._1).sum == nBase + nInserts)
    // every updated key carries status 'U': their count matches %7 rows
    assert(rows("U")._1 == base.filter(col("o_orderkey") % 7 === 0).count())
    assert(rows("N")._1 == nInserts)
  }

  test("applyChanges: deletes remove, upserts win, takedown beats same-batch upsert") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
    val changes = Seq(
      (2L, "B", "upsert"),   // plain update
      (5L, "E", "upsert"),   // insert
      (3L, null, "delete"),  // plain delete
      (4L, "D", "upsert"),   // conflicting pair: takedown must win
      (4L, null, "delete"),
      (9L, null, "delete")   // deleting an absent key is a no-op
    ).toDF("k", "v", "op")
    val got = Layout.applyChanges(base, changes, "k")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B", 5L -> "E"),
      s"takedown-wins/delete semantics broken: $got")
  }

  test("q176 merge-delete summary: row conservation, takedown-wins at %77, reissue at %143") {
    val base = graft.core.Tables.orders(spark, TestSpark.sf)
    val rows = Layout.q176MergeDelete(spark, TestSpark.sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val nBase = base.count()
    val nInserts = base.filter(col("o_orderkey") % 13 === 0).count()
    val nDels = base.filter(col("o_orderkey") % 11 === 0).count()
    // survivors = base + inserts − deletes (clone keys +1e8 are never
    // tombstoned, so a %143 base row deletes while its clone survives)
    assert(rows.values.map(_._1).sum == nBase + nInserts - nDels)
    // updated keys that are NOT deleted carry 'U' — %77 keys must be gone
    assert(rows("U")._1 == base.filter(
      col("o_orderkey") % 7 === 0 && col("o_orderkey") % 11 =!= 0).count())
    assert(rows("N")._1 == nInserts)
  }

  test("applyChanges contract: the upsert arm is key-unique (q176's scenario included)") {
    import spark.implicits._
    // two unsequenced upserts for one key have no defined winner —
    // applyChanges requires a key-unique upsert arm (Delta MERGE's
    // multiple-source-matches rule); sequenced batches route through
    // applyCdcBatch, where log order decides. Pin that the shipped
    // q176 scenario honors the contract.
    val base = graft.core.Tables.orders(spark, TestSpark.sf)
    val nUpserts = base.filter(col("o_orderkey") % 7 === 0).count() +
      base.filter(col("o_orderkey") % 13 === 0).count()
    val updates = base.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"))
    val inserts = base.filter(col("o_orderkey") % 13 === 0)
      .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"))
    val distinctKeys = updates.unionByName(inserts)
      .distinct().count()
    assert(distinctKeys == nUpserts,
      "q176's upsert arm must be key-unique (the %13 clone shift keeps " +
        "inserts disjoint from updates)")
    // and the violation is visible: a duplicated upsert key survives
    // twice — the documented reason the contract exists
    val dup = Seq((1L, "x", "upsert"), (1L, "y", "upsert"))
      .toDF("k", "v", "op")
    val out = Layout.applyChanges(Seq((1L, "a")).toDF("k", "v"), dup, "k")
    assert(out.count() == 2, "out-of-contract duplicate upserts both survive")
  }

  test("repeated delete-bearing CDC batches keep version directories bounded (vacuum)") {
    import spark.implicits._
    import graft.streaming.StreamingOps
    val dir = java.nio.file.Files.createTempDirectory("cdc_vac").toString
    // seed: keys 0..19
    val seed = (0L until 20L).map(k => (k, s"v$k", 0L, "upsert"))
      .toDF("k", "v", "seq", "op")
    assert(StreamingOps.applyCdcBatch(seed, dir, "s", 0L, "k", "seq",
      keepVersions = 2, opCol = Some("op")))
    // six successive delete-bearing batches: batch i deletes key i and
    // upserts key 100+i — version dirs must stay at keepVersions, not
    // accrete one per delete batch
    (1L to 6L).foreach { i =>
      val b = Seq((i - 1L, null.asInstanceOf[String], i * 10L, "delete"),
        (100L + i, s"n$i", i * 10L + 1L, "upsert")).toDF("k", "v", "seq", "op")
      assert(StreamingOps.applyCdcBatch(b, dir, "s", i, "k", "seq",
        keepVersions = 2, opCol = Some("op")))
    }
    val versions = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v")).map(_.getName)
    assert(versions.length == 2,
      s"vacuum must keep exactly keepVersions dirs, got: ${versions.sorted.mkString(",")}")
    assert(versions.contains("v6"))
    // content: 20 − 6 deleted + 6 new = 20 rows, deleted keys gone
    val cur = spark.read.parquet(s"$dir/v6")
    assert(cur.count() == 20)
    assert(cur.filter(col("k") < 6L).count() == 0, "tombstoned keys must not survive")
    assert(cur.filter(col("k") >= 100L).count() == 6)
  }

  test("q136 corpus diff: matches a JVM reference diff of the two slices") {
    val docs = graft.core.Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val v1 = docs.filter(_._1 % 5 != 4)
      .map { case (id, t) => id -> md5hex(t) }.toMap
    val v2 = docs.filter(_._1 % 5 != 0)
      .map { case (id, t) =>
        id -> md5hex(if (id % 7 == 3) t + " rev2" else t)
      }.toMap
    val want = (v1.keySet ++ v2.keySet).map { id =>
      val status = (v1.get(id), v2.get(id)) match {
        case (None, _)                    => "added"
        case (_, None)                    => "removed"
        case (Some(a), Some(b)) if a != b => "changed"
        case _                            => "unchanged"
      }
      id -> (v1.get(id).orNull, v2.get(id).orNull, status)
    }.toMap
    val got = Layout.q136CorpusDiff(spark, TestSpark.sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getString(3)))
      .toMap
    assert(got == want)
    // every status class is actually exercised by the slice rules
    assert(Set("added", "removed", "changed", "unchanged")
      .subsetOf(want.values.map(_._3).toSet))
  }
}
