package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** Per-query SHUFFLE ACCOUNTING over the 20× stress corpus: execute
  * each registered query once (after a warm pass), then walk its
  * AQE-final physical plan and sum the ACTUAL runtime metrics —
  * shuffle bytes written, broadcast build sizes, sort/agg/window spill
  * — into one JSON artifact (`SHUFFLE_r{N}.json`). Wall-clock says a
  * plan is fast on THIS box; bytes-through-exchanges says whether it
  * stays fast when the network is real — this is the committed
  * evidence behind SCALE.md's "the only exchange is …" claims, and
  * the regression surface for a future change that silently doubles a
  * shuffle without (yet) moving local wall-clock.
  *
  * Scope, by construction: metrics come from the registered query's
  * FINAL DataFrame plan (subqueries and reused exchanges counted once;
  * reused exchanges skipped to avoid double counting). Driver-looped
  * kernels (the k-means/k-center/BPE/PageRank fits) run their
  * iteration jobs on intermediate frames that are not part of the
  * final plan — their shuffle cost is bounded by design (model-sized
  * aggregates, see SCALE.md) and is NOT in these numbers; the
  * artifact records the serving/consumer plan each query registers.
  *
  * Usage: runMain graft.ShuffleAudit [corpusDir] [artifactPath]
  */
object ShuffleAudit {

  /** All physical nodes of the executed plan, descending through AQE
    * wrappers and query stages, counting reused exchanges once.
    */
  private[graft] def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val here: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      // every QueryStageExec (shuffle, broadcast, AND the Spark-4
      // ResultQueryStageExec the final adaptive plan is wrapped in) is
      // a LEAF wrapping its real subtree in `plan` — children-based
      // traversal sees nothing below it
      case q: QueryStageExec => allNodes(q.plan)
      case r: ReusedExchangeExec => Seq(r)
      case other => other +: other.children.flatMap(allNodes)
    }
    here ++ p.subqueries.flatMap(allNodes)
  }

  /** Test hook: dump the traversed node classes plus any nonzero
    * shuffle/broadcast byte metrics for one executed plan.
    */
  private[graft] def debugNodes(p: SparkPlan): Unit =
    allNodes(p).foreach { n =>
      val hits = n.metrics.filter { case (k, m) =>
        (k == "shuffleBytesWritten" || k == "dataSize") && m.value > 0 }
      println(n.getClass.getSimpleName + (if (hits.nonEmpty)
        "  " + hits.map { case (k, m) => s"$k=${m.value}" }.mkString(",")
      else ""))
    }

  private def metricSum(nodes: Seq[SparkPlan],
      pred: SparkPlan => Boolean, name: String): Long =
    nodes.filter(pred).flatMap(_.metrics.get(name)).map(_.value).sum

  def main(args: Array[String]): Unit = {
    val dst = args.headOption.getOrElse("/tmp/graft-stress")
    val spark = QueryRun.session("graft-shuffle-audit")
    Stress.generateIfAbsent(spark, "/root/testdata/sf0.1", dst)
    val names = QueryRun.names(Nil)
    // warm pass: session memos (contraction, sketches, quantizers,
    // exact-kNN) build here, so the audited plans are the steady-state
    // serving shapes, not one-time index builds
    names.foreach(QueryRun.run(spark, _, dst))
    // ToRdd drives THIS DataFrame's own QueryExecution: df.count() would
    // plan and execute a separate aggregate QueryExecution, leaving
    // every metric on the inspected plan at 0 (measured) — toRdd
    // consumes the same physical plan whose metrics we then read,
    // without collecting result rows to the driver
    val measured = names.map { n =>
      n -> QueryRun.attempt(spark, n, dst, QueryRun.ToRdd).fold(
        e => Left(e.getClass.getSimpleName),
        { case (df, _) =>
          val nodes = allNodes(df.queryExecution.executedPlan)
            .filterNot(_.isInstanceOf[ReusedExchangeExec])
          val shufWrite = metricSum(nodes,
            _.isInstanceOf[ShuffleExchangeLike], "shuffleBytesWritten")
          val bcast = metricSum(nodes,
            _.isInstanceOf[BroadcastExchangeLike], "dataSize")
          val spill = metricSum(nodes, _ => true, "spillSize")
          val nShuf = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
          val nBcast = nodes.count(_.isInstanceOf[BroadcastExchangeLike])
          Right((shufWrite / 1048576.0, bcast / 1048576.0,
            spill / 1048576.0, nShuf, nBcast))
        })
    }
    val rows = measured.map {
      case (n, Right((shuf, bc, sp, nShuf, nBcast))) =>
        s""""$n":{"shuffle_write_mb":$shuf,"broadcast_mb":$bc,""" +
          s""""spill_mb":$sp,"exchanges":$nShuf,"broadcasts":$nBcast}"""
      case (n, Left(err)) => s""""$n":{"error":"$err"}"""
    }
    val diff = shuffleDiff(measured,
      sys.env.getOrElse("GRAFT_SHUFFLE_BASELINE", "SHUFFLE_r13.json"))
    val diffFields = diff.map { case (verdict, offenders) =>
      s""""shuffle_diff":"$verdict","shuffle_regressed":${QueryRun.strs(offenders)},"""
    }.getOrElse("")
    diff.foreach { case (v, offs) =>
      System.err.println(s"[shuffle] shuffle_diff=$v ${offs.mkString(" ")}")
    }
    QueryRun.emit(s"""{"metric":"shuffle_audit_20x","cpus":${QueryRun.cpus},$diffFields""" +
      s""""corpus":${QueryRun.str(dst)},"queries":{${rows.mkString(",")}}}""",
      args.lift(1))
    spark.stop()
  }

  /** Per-query shuffle regression gate vs the committed baseline
    * artifact — the bench_diff discipline applied to BYTES instead of
    * seconds, so a plan change that doubles an exchange fails the
    * round even when local wall-clock hides it (exchanges are nearly
    * free inside one JVM and dominant on a real network). A query
    * regresses iff its shuffle write grows >2× the baseline AND >16 MB
    * absolute (two-sided: byte metrics on small queries wobble with
    * AQE partition counts), or it SPILLS where the baseline didn't
    * (>1 MB vs ≤1 MB — every committed artifact is zero-spill, so any
    * real spill is a new q121-class defect), or it errored in this
    * run. Queries absent from the baseline never fail — adding
    * coverage can't break the gate. Returns None when no baseline
    * exists.
    */
  private[graft] def shuffleDiff(
      measured: Seq[(String, Either[String, (Double, Double, Double, Int, Int)])],
      baselinePath: String): Option[(String, Seq[String])] =
    QueryRun.baseline(baselinePath).map { old =>
      def mb(v: Double): String = QueryRun.num(v, 1)
      val offenders = measured.collect {
        case (q, Left(err)) => Seq(s"$q:error:$err")
        case (q, Right((shuf, _, spill, _, _)))
            if old.has(q) && old.get(q).has("shuffle_write_mb") =>
          val oldShuf = old.get(q).get("shuffle_write_mb").asDouble
          val oldSpill = old.get(q).get("spill_mb").asDouble
          val shufBad = shuf > 2 * oldShuf && shuf - oldShuf > 16.0
          val spillBad = spill > 1.0 && oldSpill <= 1.0
          (if (shufBad)
            Seq(s"$q:shuffle:${mb(oldShuf)}->${mb(shuf)}mb") else Seq.empty) ++
            (if (spillBad)
              Seq(s"$q:spill:${mb(oldSpill)}->${mb(spill)}mb") else Seq.empty)
      }.flatten
      (if (offenders.isEmpty) "PASS" else "FAIL", offenders)
    }
}
