package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftSession, Tables}
import graft.ops._

/** Operator-level invariants on the sf0.001 fixtures. (Value-exactness
  * against DuckDB is the driver's t2 gate, replicated locally by
  * scripts/check.py; these specs pin structural properties and
  * partition-invariance.)
  */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("session: shuffle parallelism derives from master, unpinned on clusters") {
    import graft.core.GraftSession.deriveShufflePartitions
    assert(deriveShufflePartitions("local[32]") == 32)
    assert(deriveShufflePartitions("local[3]") == 3)
    assert(deriveShufflePartitions("local[*]") ==
      Runtime.getRuntime.availableProcessors())
    // the maxFailures forms are legal master strings too
    assert(deriveShufflePartitions("local[4,2]") == 4)
    assert(deriveShufflePartitions("local[*,3]") ==
      Runtime.getRuntime.availableProcessors())
    // cluster masters: 0 = don't pin; Spark default stays as the AQE
    // coalesce ceiling
    assert(deriveShufflePartitions("yarn") == 0)
    assert(deriveShufflePartitions("spark://host:7077") == 0)
  }

  test("q66 sketch percentiles track the exact oracle-gated q44 within 2%") {
    val exact = ops.ScalarSuites.q44Percentiles(spark, sf)
      .select("c_mktsegment", "p50", "p90")
    val approx = ops.ScalarSuites.q66ApproxPercentiles(spark, sf)
    val bad = approx.join(exact, Seq("c_mktsegment"))
      .filter(
        abs(col("p50_approx") - col("p50")) > col("p50") * 0.02 ||
        abs(col("p90_approx") - col("p90")) > col("p90") * 0.02)
      .count()
    assert(bad == 0L)
  }

  test("q01: group count sums to filtered lineitem count") {
    val df = Relational.q01PricingSummary(spark, sf)
    val total = df.agg(sum("count_order")).head().getLong(0)
    val want = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp")).count()
    assert(total == want)
  }

  test("q01: result invariant under shuffle-partition count") {
    val a = Relational.q01PricingSummary(spark, sf).collect().toSeq
    val sess2 = spark.newSession()
    sess2.conf.set("spark.sql.shuffle.partitions", "1")
    val b = Relational.q01PricingSummary(sess2, sf).collect().toSeq
    assert(a == b)
  }

  test("q03: revenue matches independent SQL formulation") {
    Tables.lineitem(spark, sf).createOrReplaceTempView("li_t")
    Tables.orders(spark, sf).createOrReplaceTempView("o_t")
    Tables.customer(spark, sf).createOrReplaceTempView("c_t")
    val viaSql = spark.sql(
      """SELECT count(*) FROM li_t l JOIN o_t o ON l.l_orderkey = o.o_orderkey
        |JOIN c_t c ON o.o_custkey = c.c_custkey""".stripMargin).head().getLong(0)
    val viaOp = Relational.q03CustomerRevenue(spark, sf)
      .agg(sum("n_items")).head().getLong(0)
    assert(viaOp == viaSql)
  }

  test("q06: at most 3 rows per customer, ranks contiguous from 1") {
    val df = Relational.q06TopOrdersPerCustomer(spark, sf)
    val bad = df.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), max("rk").as("mx"), min("rk").as("mn"))
      .filter(col("n") > 3 || col("mx") =!= col("n") || col("mn") =!= 1)
      .count()
    assert(bad == 0L)
  }

  test("q07 rollup: grand total row equals table count") {
    val df = Relational.q07Rollup(spark, sf)
    val grand = df.filter(col("l_returnflag").isNull && col("l_linestatus").isNull)
      .select("n_items").head().getLong(0)
    assert(grand == Tables.lineitem(spark, sf).count())
  }

  test("q09 setops: tags partition the custkey universe consistently") {
    val df = Relational.q09SetOps(spark, sf).cache()
    try {
      val both = df.filter(col("tag") === "both").count()
      val highOnly = df.filter(col("tag") === "high_bal_only").count()
      val orderOnly = df.filter(col("tag") === "order_only").count()
      val high = Tables.customer(spark, sf).filter(col("c_acctbal") > 5000.0).count()
      val hasOrder = Tables.orders(spark, sf).select("o_custkey").distinct().count()
      assert(both + highOnly == high)
      assert(both + orderOnly == hasOrder)
    } finally df.unpersist()
  }

  test("q15 sessionize: session event counts sum to events count") {
    val df = Events.q15Sessionize(spark, sf)
    val total = df.agg(sum("n_events")).head().getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }

  test("q16/q17: semi and anti partition customers having/not-having orders") {
    val semiAll = Tables.customer(spark, sf)
      .join(Tables.orders(spark, sf),
        col("c_custkey") === col("o_custkey"), "left_semi").count()
    val anti = Relational.q17CustomersNoOrders(spark, sf).count()
    assert(semiAll + anti == Tables.customer(spark, sf).count())
  }

  test("observe() metrics match a recount without a second scan of the frame") {
    val base = Tables.orders(spark, sf).filter(col("o_totalprice") > 100000.0)
    val (observed, obs) = Observed.withTableMetrics(base, Seq("o_totalprice"))
    // downstream work proceeds as usual; the action populates metrics
    val passedRows = observed.count()
    val m = obs.get
    assert(m("n_rows") == passedRows)
    assert(m("o_totalprice_nulls") == 0L)
    val recount = base.agg(
      min("o_totalprice").as("mn"), max("o_totalprice").as("mx")).head()
    assert(m("o_totalprice_min") == recount.getDouble(0))
    assert(m("o_totalprice_max") == recount.getDouble(1))
  }

  test("q104 equi-depth: buckets partition the table evenly with disjoint increasing ranges") {
    val h = ScalarSuites.q104EquiDepthHistogram(spark, sf).collect()
    val total = Tables.orders(spark, sf).count()
    assert(h.map(_.getLong(0)).toSeq == (1L to 8L))
    assert(h.map(_.getLong(1)).sum == total)
    // equal-population within interpolation slack
    val sizes = h.map(_.getLong(1))
    assert(sizes.max.toDouble / sizes.min <= 1.5,
      s"unbalanced buckets: ${sizes.mkString(",")}")
    // ranges are ordered and non-overlapping (strict-> assignment)
    h.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(3) <= b.getDouble(2),
        s"bucket ${a.getLong(0)} hi ${a.getDouble(3)} overlaps ${b.getDouble(2)}")
    }
  }

  test("rank: per-group semantics on both paths under skew, null group included") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // deliberately skewed groups: "a" dominates (the shape the operator
    // exists for — a Window.partitionBy would sort it on one task); a
    // null group must rank as its own group, as Window.partitionBy does
    val rows = (1 to 500).map { i =>
      val g = if (i % 97 == 0) "c" else if (i % 13 == 0) null
        else if (i % 10 == 0) "b" else "a"
      (g, i.toLong, (i * 37 % 101 + 1).toLong)
    }
    val keyed = rows.toDF("g", "id", "v")
      .withColumn("hk", md5(col("id").cast("string")))
    val w = Window.partitionBy("g").orderBy(col("hk"), col("id"))
    val want = keyed.withColumn("rk", row_number().over(w).cast("long"))
    val wantCum = want.withColumn("cum_v", sum("v").over(
      w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    def check(got: org.apache.spark.sql.DataFrame,
        want: org.apache.spark.sql.DataFrame): Unit = {
      assert(got.count() == 500)
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0)
    }
    for (in <- Seq(keyed, keyed.repartition(7), keyed.coalesce(1))) {
      // range path
      check(ScalarSuites.rank(in, Seq(col("hk"), col("id")), "rk",
        groupCols = Seq("g")), want)
      // hash-bucket path with a running sum, at 32, 128 and 1024
      // buckets: more buckets than rows exercises empty buckets and run
      // fragmentation
      for (p <- Seq(1, 4, 32)) {
        spark.conf.set("spark.sql.shuffle.partitions", p.toString)
        try check(ScalarSuites.rank(in, Seq(col("hk"), col("id")), "rk",
            groupCols = Seq("g"), md5Lead = true, cumSums = Seq("v" -> "cum_v")),
          wantCum)
        finally spark.conf.unset("spark.sql.shuffle.partitions")
      }
    }
  }

  test("rank: range path without groups pinned against row_number (unique keys)") {
    // the range path's rank arithmetic assumes monotonically_increasing_id
    // is CONSECUTIVE within a partition — an implementation property,
    // not API contract. This pins the operator itself (not just
    // query-level hashes) so a Spark upgrade that drops consecutiveness
    // fails loud here.
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rows = (1 to 700).map(i => (i.toLong, (i * 31 % 211).toLong))
    val df = rows.toDF("id", "v")
    // no-key window in TEST code only — the reference semantics
    val want = df.withColumn("rank",
      row_number().over(Window.orderBy(col("v"), col("id"))).cast("long"))
    for (in <- Seq(df, df.repartition(5), df.coalesce(1))) {
      val got = ScalarSuites.rank(in, Seq(col("v"), col("id")))
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0)
    }
  }

  test("rank: a known row bound picks the single-task sort, and every body agrees") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Repartition => LRepartition}
    val df = (1 to 300).map(i => (i.toLong, (i * 17 % 97).toLong)).toDF("id", "v")
    val sort = Seq(col("v"), col("id"))
    def hasCoalesce1(f: org.apache.spark.sql.DataFrame): Boolean =
      f.queryExecution.optimizedPlan.collectFirst {
        case r: LRepartition if r.numPartitions == 1 && !r.shuffle => r
      }.isDefined
    val small = ScalarSuites.rank(df, sort, maxRows = Some(300L))
    assert(hasCoalesce1(small))
    // no bound, a bound past SingleTaskMaxRows, or groups → no collapse
    val unbounded = ScalarSuites.rank(df, sort)
    val over = ScalarSuites.rank(df, sort,
      maxRows = Some(ScalarSuites.SingleTaskMaxRows + 1))
    val grouped = ScalarSuites.rank(df.withColumn("g", lit(1)), sort,
      groupCols = Seq("g"), maxRows = Some(300L)).drop("g")
    for (f <- Seq(unbounded, over, grouped)) {
      assert(!hasCoalesce1(f))
      assert(f.exceptAll(small).count() == 0 && small.exceptAll(f).count() == 0)
    }
  }

  test("rank: the range path agrees with row_number with AQE on and off, and refuses exchange reuse off") {
    // its stats branch and output branch must read ONE range exchange;
    // two executions would sample their bounds twice. 10k unique keys
    // over 6 input partitions, with a payload column only the output
    // branch reads (the stats branch prunes it, yet reuse must hold)
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 10000).map(i => (i.toLong, i * 7919L % 10007L, s"p$i"))
      .toDF("id", "v", "payload").repartition(6)
    val want = df.withColumn("rank",
      row_number().over(Window.orderBy(col("v"), col("id"))).cast("long"))
    for (aqe <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      try {
        val got = ScalarSuites.rank(df, Seq(col("v"), col("id")))
        assert(got.exceptAll(want).count() == 0 &&
          want.exceptAll(got).count() == 0, s"AQE $aqe")
        spark.conf.set("spark.sql.exchange.reuse", "false")
        intercept[IllegalArgumentException](
          ScalarSuites.rank(df, Seq(col("v"), col("id"))))
      } finally {
        spark.conf.unset("spark.sql.exchange.reuse")
        spark.conf.unset("spark.sql.adaptive.enabled")
      }
    }
  }

  test("q98 SQL surface: spark.sql text agrees with an independent DataFrame formulation") {
    import graft.functions.Round._
    val viaSql = Relational.q98SqlRevenue(spark, sf)
    val l = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_suppkey"),
        (cents(col("l_extendedprice"))
          * (lit(100L) - cents(col("l_discount")))).as("net_c"))
    val viaDf = Tables.region(spark, sf).filter(col("r_name") === "ASIA")
      .join(Tables.nation(spark, sf),
        col("n_regionkey") === col("r_regionkey"))
      .join(Tables.customer(spark, sf),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables.orders(spark, sf)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        col("o_custkey") === col("c_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, sf),
        col("s_suppkey") === col("l_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .groupBy("n_name")
      .agg({
        // same exact-integer cent rounding as the SQL text: s+50-(s+50)%100
        val s50 = sum("net_c") + lit(50L)
        ((s50 - s50 % lit(100L)).cast("double") / lit(10000.0)).as("revenue")
      }, count(lit(1)).as("n_items"))
    // the r6 red row: the SQL parser types `100.0` as DECIMAL and floor()
    // as BIGINT, so the old floor-based text produced DECIMAL(27,6) while
    // the oracle produced DOUBLE — pandas hid it, the driver's hash did
    // not. Pin the physical type so the regression is impossible.
    assert(viaSql.schema("revenue").dataType ==
      org.apache.spark.sql.types.DoubleType,
      s"q98 revenue must be DOUBLE, got ${viaSql.schema("revenue").dataType}")
    assert(viaSql.exceptAll(viaDf).count() == 0 &&
      viaDf.exceptAll(viaSql).count() == 0)
  }
}
