package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PartialTokenCountExec

/** Physical-plan assertions: facts the scale story depends on, checked
  * mechanically so they can't silently regress.
  *
  * Nested-loop joins (BroadcastNestedLoopJoin / CartesianProduct) are
  * quadratic per partition-pair; they are acceptable ONLY where the
  * semantics are inherently non-equi AND one side is provably tiny
  * (single-row aggregate frames, fixed band tables, broadcast query
  * subsets). Everything else must be a hash/sort-merge join on keys.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  /** Documented exceptions — every entry is a deliberate non-equi or
    * single-row cross join over a bounded broadcast side.
    */
  private val nestedLoopAllowed: Map[String, String] = Map(
    "q40_cosine_topk" -> "exact all-pairs baseline: =!= join, broadcast query subset",
    "q35_knn_classify" -> "built on q40's exact baseline",
    "q166_hard_negatives" -> ("q40's exact-baseline scan with the " +
      "label-inequality predicate riding it — same =!= join, same " +
      "broadcast query subset"),
    "q167_label_noise" -> "built on q40's exact baseline (the memoized top-5)",
    "q132_ann_recall" -> "recall eval built on q40's exact baseline",
    "q140_retrieval_metrics" -> "MRR/NDCG eval built on q40's exact baseline",
    "q142_ivf_recall_gate" -> ("recall gate built on q40's exact baseline " +
      "+ q48's centroid probe; its own joins are single-row aggregates"),
    "q48_ivf_ann" -> "nProbe probe: cross join against the nCentroids-row centroid table",
    "q70_ivf_probe_indexed" -> "same probe core as q48, reading the persisted index table",
    "q169_pq_adc_topk" -> ("q48's coarse probe shape (cross join against " +
      "the nCentroids-row centroid table) in front of the compressed-code " +
      "ADC ranking; the ADC joins themselves are keyed equality joins"),
    "q172_hybrid_query_rrf" -> ("dense side: broadcast query workload " +
      "against the corpus scan — q40's exact-baseline shape (|Q| is the " +
      "bounded broadcast side); the lexical side is keyed equality joins " +
      "and the approximate dense tier is q174/hybridAnnAtIngest"),
    "q174_hybrid_ann_rrf" -> ("q48's coarse probe shape (cross join " +
      "against the nCentroids-row centroid table) inside the ADC dense " +
      "tier (adcDenseList = q169's probe core); the lexical side and the " +
      "ADC/fusion joins are keyed equality joins"),
    "q58_band_join" -> "theta join against the fixed 5-row band table",
    "q26_tfidf" -> "single-row nDocs aggregate frame cross-joined in",
    "q49_collocations" -> "single-row corpus-totals aggregate frame cross-joined in",
    "q84_heavy_hitters" -> "single-row token-total aggregate frame cross-joined in",
    "q85_source_drift" -> "single-row token-total aggregate frame cross-joined in",
    "q104_equidepth_hist" -> "single-row percentile-boundaries frame cross-joined in",
    "q120_vocab_growth" -> "single-row id-bounds aggregate frame cross-joined in",
    "q124_mix_temperature" -> "single-row Σw totals aggregate frame cross-joined in",
    "q144_temporal_split" -> "single-row time-bounds aggregate frame cross-joined in",
    "q134_dedup_adjusted_mix" -> "single-row Σw totals aggregate frame cross-joined in",
    "q161_kmv_overlap" -> ("theta self-join (s1 < s2) of the #sources-row " +
      "KMV sketch frame — both sides are one k-length array per source, " +
      "bounded by source count, never by corpus size"),
    "q162_stupid_backoff" -> "single-row N-total aggregate frame cross-joined in",
    // r16: the rank operators (now the one ScalarSuites.rank) are single
    // lazy Catalyst plans — the old RDD hop truncated the inspected plan
    // at `Scan ExistingRDD`, hiding everything upstream of a rank from
    // this gate. Three queries' pre-existing single-row cross joins
    // became VISIBLE (not new): they get the same entries their plan
    // twins always had.
    "q158_bm25_topk" -> ("single-row corpus-stats (avgdl) aggregate frame " +
      "cross-joined in — was hidden behind the k-row globalRank RDD hop"),
    "q150_dsir_weights" -> ("single-row totals aggregate frame cross-joined " +
      "into the hash-feature ratio table — was hidden behind the " +
      "globalRank RDD hop"),
    "q170_hybrid_rrf" -> ("q158's single-row avgdl cross join (the lexical " +
      "side) plus the broadcast 1-row query-anchor frame against the " +
      "corpus scan (the dense side) — was hidden behind the globalRank " +
      "RDD hop"),
    "q121_containment_exact" -> ("dictionary-bitset brute force against the " +
      "broadcast contracted-rep mask table — taken only in the measured " +
      "degenerate-vocabulary regime (V<=2048, R<=20000; the test corpus is " +
      "V=31) where the answer is provably dense and prefix-filter candidates " +
      "cannot prune; general corpora plan the keyed prefix-filter path " +
      "(Dedup.qualifiedSetPairs)"),
    "q141_containment_reps" -> ("same guarded qualifiedSetPairs core as " +
      "q121 (one definition of 'qualified pair'): the bitset crossJoin in " +
      "the measured degenerate-vocabulary regime, the keyed prefix-filter " +
      "path on general corpora"))

  test("no nested-loop join outside the documented non-equi allowlist") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      val hasNlj = plan.linesIterator.exists(l =>
        l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
      if (hasNlj && !nestedLoopAllowed.contains(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unexpected nested-loop joins in: ${offenders.mkString(", ")}")
  }

  test("allowlist is not stale: every allowlisted query still plans a nested-loop join") {
    // if a query gets restructured away from its nested loop, this forces
    // the allowlist entry to be removed rather than rot
    val stale = nestedLoopAllowed.keys.toSeq.sorted.filterNot { name =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
      plan.linesIterator.exists(l =>
        l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
    }
    assert(stale.isEmpty, s"allowlist entries with no nested loop left: ${stale.mkString(", ")}")
  }

  test("filter pushdown and column pruning reach the parquet scan") {
    // q01/q02 carry scan-pushable predicates (timestamp/number
    // comparisons); modulo-filter queries (q11, q54) are excluded —
    // Spark can't push `%`. Pruning: q01 needs 7 lineitem columns, so
    // the scan schema must not include unneeded ones.
    for (name <- Seq("q01_pricing_summary", "q02_filter_project")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: ["), s"$name: no pushdown block")
      assert(!plan.contains("PushedFilters: []"), s"$name: empty pushdown")
    }
    val q01 = SparkEntry.queries("q01_pricing_summary")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!q01.contains("l_orderkey"), "q01 scan reads an unneeded column")
  }

  test("q69 propagation round is a hash join + hash agg, never a nested loop") {
    // the exact operator connectedComponents runs each round, via the
    // factored-out propagateOnce — a nested-loop or cartesian here would
    // be quadratic in the pair-graph size every round
    import org.apache.spark.sql.functions._
    val edges = graft.ops.Dedup.symmetrizeEdges(
      graft.ops.Dedup.lshCandidatePairs(spark, sf))
    val labels = edges.groupBy(col("doc_a").as("doc_id"))
      .agg(min(least(col("doc_a"), col("doc_b"))).as("component"))
    val plan = graft.ops.Dedup.propagateOnce(edges, labels)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"propagation round must be an equi join:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"propagation round must fold labels in a hash agg:\n$plan")
  }

  test("q155/q156 band-index joins flip on the measured-size broadcast gate") {
    // Under the rep limit the corpus band index is broadcast (candidate
    // generation map-side, zero candidate shuffle); above it every
    // gated join is a pinned shuffle hash join on its equality keys —
    // the shape that survives a corpus-sized rep set at 100 TB, where
    // an unconditional broadcast() hint OOMs the driver. Both shapes
    // are asserted here so neither can silently regress.
    for (name <- Seq("q155_phash_neardup", "q156_phash_topk")) {
      val small = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(small.contains("BroadcastHashJoin"),
        s"$name small regime: band-index joins should broadcast")
      assert(!small.contains("ShuffledHashJoin"),
        s"$name small regime: no gated join should take the shuffle path")
    }
    // force the large regime: Spark's broadcast threshold at -1 turns
    // broadcasting off, so the gate must pick shuffle hash joins
    withoutBroadcast {
      for (name <- Seq("q155_phash_neardup", "q156_phash_topk")) {
        val large = SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
        assert(large.contains("ShuffledHashJoin"),
          s"$name large regime: gated joins must take the shuffle-hash path")
      }
    }
  }

  /** Runs `f` with `spark.sql.autoBroadcastJoinThreshold` at -1, then
    * restores the previous setting. */
  private def withoutBroadcast(f: => Unit): Unit = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("q121 member-list expansion joins flip on the measured-size broadcast gate") {
    // The member-expansion joins attach per-rep member-id LISTS and
    // explode map-side, so the quadratic member blow-up never crosses
    // an exchange. Under the doc limit the list frames broadcast;
    // above it (forced here with broadcasting off) the gate must
    // degrade to pinned shuffle-hash joins on the rep keys — the shape
    // that survives a corpus-sized membership at 100 TB.
    val small = SparkEntry.queries("q121_containment_exact")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(small.contains("BroadcastHashJoin"),
      s"q121 small regime: member-list joins should broadcast:\n$small")
    withoutBroadcast {
      val large = SparkEntry.queries("q121_containment_exact")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(large.contains("ShuffledHashJoin"),
        s"q121 large regime: gated joins must take the shuffle-hash path:\n$large")
    }
  }

  test("NO query plans a no-key (global) window — all registered queries") {
    // the q49 hazard class: Window.partitionBy()/Window.orderBy() with no
    // partition keys funnels everything through one partition. Even
    // semantically-global ranks (q60) use ScalarSuites.rank: its range
    // path (one range exchange + per-partition offsets folded over the
    // stats rows, no window) or, for frames with a known row bound
    // (q60's count in hand, the q121/q141 bitset branch's guarded
    // dictionary, limit(k) lists), its single-task sort, an explicit
    // coalesce(1) that is not a Window at all — so this invariant holds
    // over the ENTIRE query surface with no exception list.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val globalWindows = fn(spark, sf)
          .queryExecution.optimizedPlan.collect {
            case w: LWindow if w.partitionSpec.isEmpty => w
          }
        if (globalWindows.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"no-key global windows in: ${offenders.mkString(", ")}")
  }

  test("NO corpus-sized window keyed only by low-cardinality columns — all registered queries") {
    // the no-key window's SKEWED sibling (the r15 q177 finding): a
    // Window partitioned only by a bounded-cardinality attribute
    // (source / lang / label in this schema) hashes each group onto ONE
    // task — with a dominant group at 100 TB (one web-crawl source
    // dwarfing the curated ones is the normal case) that is a
    // single-executor sort of most of the corpus. A low-card window is
    // acceptable ONLY when:
    //  (a) InferWindowGroupLimit has pruned it to a constant per-group
    //      top-k (q73/q99/q115/q130: the exchange then carries <= k
    //      rows per group per map partition, never the group); or
    //  (b) it sits DIRECTLY above an Aggregate through unary operators
    //      only (r17): the frame entering the window is an aggregated
    //      contraction — one row per distinct grouping combination,
    //      value-bounded, never corpus-bounded (q177's per-(source,
    //      margin) counts; ScalarSuites.rank's internal per-(run, group)
    //      run stats). A join or generate BETWEEN the aggregate and the
    //      window would re-expand the frame, so the walk stops at the
    //      first non-unary node.
    // Full per-group rankings and running sums over corpus rows use
    // ScalarSuites.rank instead (q124/q128/q134 on its hash-bucket
    // path, q139 on its range path — executor-bounded sorts whatever
    // the skew).
    //
    // rank's internal offsets windows rename their keys to
    // __gr_g<i>; the rename is NOT an exemption (the r16 ADVICE
    // name-laundering concern): __gr_g*-keyed windows are held to the
    // SAME above-an-Aggregate requirement as the named low-card keys.
    import org.apache.spark.sql.catalyst.expressions.NamedExpression
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate => LAggregate, Filter => LFilter, LogicalPlan,
      Project => LProject, Sort => LSort, Window => LWindow,
      WindowGroupLimit => LWgl}
    val lowCard = Set("source", "lang", "label")
    def lowCardish(n: String): Boolean =
      lowCard.contains(n) || n.startsWith("__gr_g")
    // unary-only descent: the window's input is an aggregate output
    // (possibly projected/filtered/re-windowed), i.e. structurally
    // bounded to one row per grouping combination
    def aboveAggregate(p: LogicalPlan): Boolean = p match {
      case _: LAggregate => true
      case u @ (_: LProject | _: LFilter | _: LSort | _: LWindow | _: LWgl) =>
        aboveAggregate(u.children.head)
      case _ => false
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val bad = fn(spark, sf).queryExecution.optimizedPlan.collect {
          case w: LWindow
            if w.partitionSpec.nonEmpty &&
              w.partitionSpec.forall {
                case a: NamedExpression => lowCardish(a.name)
                case _ => false
              } &&
              w.child.collectFirst { case g: LWgl => g }.isEmpty &&
              !aboveAggregate(w.child) => w
        }
        if (bad.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unpruned low-cardinality-key windows in: ${offenders.mkString(", ")}")
  }

  /** Single-task-sort call sites of ScalarSuites.rank that are
    * RUNTIME-COUNT-guarded rather than plan-visible: rank takes its
    * coalesce(1) body here only because the caller's already-computed
    * count, passed as `maxRows`, is <= ScalarSuites.SingleTaskMaxRows
    * (the routing is unit-tested in OpsSpec). Everything else must
    * carry the bound IN the plan (a GlobalLimit or an Aggregate below
    * the coalesce(1)).
    */
  private val boundedRankCountGuarded: Map[String, String] = Map(
    "q60_rank_distributions" -> ("customer frame; n = cc.count() is in " +
      "hand for the closed forms and gates the route"),
    "q150_dsir_weights" -> ("persisted scored frame; n = scored.count() " +
      "is in hand for the top-k cutoff and gates the route"))

  test("every boundedRank coalesce(1) is bounded IN the plan or count-guarded (allowlist)") {
    // the r16 verdict's wrong-list item 4: boundedRank's k-bounded
    // contract was documentation-only — nothing mechanical stopped a
    // future call site from feeding coalesce(1) a corpus-sized frame,
    // collapsing the upstream stage to one task. This gate makes the
    // contract structural: every Repartition(1, shuffle=false) in every
    // registered query must have a GlobalLimit (post-.limit(k) lists)
    // or an Aggregate (vocabulary/distinct contractions, guard-bounded)
    // below it, or the query must be in the documented
    // runtime-count-guarded allowlist above.
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate => LAggregate, GlobalLimit => LGlobalLimit,
      Repartition => LRepartition}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val bad = fn(spark, sf).queryExecution.optimizedPlan.collect {
          case r: LRepartition if r.numPartitions == 1 && !r.shuffle &&
              r.child.collectFirst {
                case _: LGlobalLimit => (); case _: LAggregate => ()
              }.isEmpty &&
              !boundedRankCountGuarded.contains(name) => r
        }
        if (bad.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unbounded coalesce(1) (boundedRank contract) in: ${offenders.mkString(", ")}")
  }

  test("count-guarded boundedRank allowlist is not stale") {
    // if a listed query stops planning a coalesce(1) (e.g. its frame
    // outgrows the guard at this SF, or the call site is restructured),
    // the entry must be removed rather than rot
    import org.apache.spark.sql.catalyst.plans.logical.{Repartition => LRepartition}
    val stale = boundedRankCountGuarded.keys.toSeq.sorted.filterNot { name =>
      SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
        .collectFirst {
          case r: LRepartition if r.numPartitions == 1 && !r.shuffle => r
        }.isDefined
    }
    assert(stale.isEmpty,
      s"count-guarded allowlist entries with no coalesce(1) left: ${stale.mkString(", ")}")
  }

  test("WordCount, q20 and q117 execute the fused token counter and no Generate") {
    // TokenCountRewrite is worth ~a third of WordCount's wall time; if a
    // refactor of the job or the rule stops the match, the plan falls
    // back to explode + HashAggregate and still answers correctly, so
    // only a plan check catches it. The counter is the partial
    // aggregate, so none of these plans has a Partial-mode one either
    import java.nio.file.Files
    import org.apache.spark.sql.execution.GenerateExec
    val in = Files.createTempDirectory("plan_wc_in")
    Files.writeString(in.resolve("a.txt"), "a b  a\nc a\n")
    val cases = Seq(
      "WordCountJob.count" -> graft.wordcount.WordCountJob.count(spark, spark.read.text(in.toString)),
      "q20_wordcount" -> SparkEntry.queries("q20_wordcount")(spark, sf),
      "q117_sql_wordcount" -> SparkEntry.queries("q117_sql_wordcount")(spark, sf))
    for ((name, df) <- cases) {
      df.collect() // the AQE-final plan is the one that ran
      val plan = df.queryExecution.executedPlan
      assert(aqe.collect(plan) { case p: PartialTokenCountExec => p }.nonEmpty,
        s"$name: no PartialTokenCount in the executed plan\n$plan")
      assert(aqe.collect(plan) { case g: GenerateExec => g }.isEmpty,
        s"$name: Generate in the executed plan\n$plan")
      assert(partialAggs(plan).isEmpty,
        s"$name: Partial-mode HashAggregate in the executed plan\n$plan")
    }
  }

  test("no Partial-mode aggregate over the fused counter (q106); WordCount's single-file sink has no range exchange") {
    // both only cost time: a partial aggregate re-hashes the counter's
    // already-combined rows, and a range exchange in front of the one
    // writing task adds a sampling job that re-runs the final aggregate
    import java.nio.file.Files
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener

    val q106 = SparkEntry.queries("q106_bpe_pairs")(spark, sf)
    q106.collect()
    val q106Plan = q106.queryExecution.executedPlan
    assert(aqe.collect(q106Plan) { case p: PartialTokenCountExec => p }.nonEmpty,
      s"q106: no PartialTokenCount in the executed plan\n$q106Plan")
    assert(partialAggs(q106Plan).forall(a => !readsCounter(a)),
      s"q106: Partial-mode HashAggregate over the counter\n$q106Plan")

    val in = Files.createTempDirectory("plan_wc_run_in")
    Files.writeString(in.resolve("a.txt"), "a b  a\nc a\n")
    val out = Files.createTempDirectory("plan_wc_run_out").resolve("out")
    val written = new LinkedBlockingQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (aqe.find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined) {
          written.put(qe.executedPlan)
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val plan = try {
      graft.wordcount.WordCountJob.run(spark, in.toString, out.toString)
      written.poll(60, TimeUnit.SECONDS)
    } finally spark.listenerManager.unregister(listener)
    assert(plan != null, "WordCountJob.run: no write reached the QueryExecutionListener")
    assert(aqe.collect(plan) { case p: PartialTokenCountExec => p }.nonEmpty,
      s"WordCountJob.run: no PartialTokenCount in the executed plan\n$plan")
    assert(partialAggs(plan).isEmpty,
      s"WordCountJob.run: Partial-mode HashAggregate in the executed plan\n$plan")
    assert(aqe.collect(plan) {
      case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }.isEmpty, s"WordCountJob.run: range exchange in the single-file write\n$plan")
  }

  test("repeated-span family and q152: no per-token explode or anti-join; q148 no doc-keyed window; q151 no union") {
    // the rewrite runs in each document's row (KeptTokens over collected
    // cut intervals); a plan that explodes every token again and
    // shuffles it by (doc_id, pos) still answers correctly, so only a
    // plan check catches the regression
    import org.apache.spark.sql.catalyst.expressions.{Attribute, PosExplode}
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.Union
    import org.apache.spark.sql.execution.{GenerateExec, UnionExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.functions.expressions.StringTokens
    val offences = Seq("q148_repeated_spans", "q149_dedup_rewrite",
        "q151_dedup_keep_first", "q152_decontaminate_rewrite").flatMap { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // the AQE-final plan is the one that ran
      val plan = df.queryExecution.executedPlan
      def found(what: String)(pf: PartialFunction[SparkPlan, SparkPlan]) =
        if (aqe.collect(plan)(pf).nonEmpty) Some(s"$name: $what") else None
      Seq(
        found("posexplode(string_tokens(...))") {
          case g @ GenerateExec(PosExplode(_: StringTokens), _, _, _, _) => g
        },
        found("LeftAnti join") {
          case j: BaseJoinExec if j.joinType == LeftAnti => j
        },
        if (name != "q148_repeated_spans") None
        else found("doc_id-partitioned Window") {
          case w: WindowExec if w.partitionSpec.exists {
            case a: Attribute => a.name == "doc_id"
            case _ => false
          } => w
        },
        // AQE drops a union arm that runs empty (no multi-copy text in
        // the fixture), so the optimized logical plan is checked too
        if (name != "q151_dedup_keep_first") None
        else found("Union") { case u: UnionExec => u }.orElse(
          if (df.queryExecution.optimizedPlan.collectFirst { case u: Union => u }.isEmpty) None
          else Some(s"$name: Union in the optimized plan"))).flatten
    }
    assert(offences.isEmpty, offences.mkString("; "))
  }

  test("q91 plans no Expand; q33 plans no per-bit array transform/aggregate") {
    // both answer correctly in their old shapes: q91 as a multi-
    // countDistinct Expand (19 aggregate buffers per expanded row, its
    // generated code recompiled every run), q33 as 16 interpreted
    // transform/aggregate passes with one md5 per token each
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayTransform}
    import org.apache.spark.sql.execution.ExpandExec
    def executed(name: String): SparkPlan = {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // the AQE-final plan is the one that ran
      df.queryExecution.executedPlan
    }
    val q91 = executed("q91_table_stats")
    assert(aqe.collect(q91) { case e: ExpandExec => e }.isEmpty,
      s"q91: Expand in the executed plan\n$q91")
    val q33 = executed("q33_simhash")
    val hofs = aqe.flatMap(q33)(_.expressions.flatMap(_.collect {
      case e @ (_: ArrayAggregate | _: ArrayTransform) => e
    }))
    assert(hofs.isEmpty, s"q33: ${hofs.map(_.prettyName).distinct.mkString(", ")} in the executed plan\n$q33")
  }

  private object aqe extends AdaptiveSparkPlanHelper

  private def partialAggs(plan: SparkPlan): Seq[HashAggregateExec] = aqe.collect(plan) {
    case a: HashAggregateExec if a.aggregateExpressions.exists(_.mode == Partial) => a
  }

  /** `p` reads a PartialTokenCount within its own stage. */
  private def readsCounter(p: SparkPlan): Boolean = p match {
    case _: PartialTokenCountExec => true
    case _: Exchange | _: QueryStageExec => false
    case _ => p.children.exists(readsCounter)
  }
}
