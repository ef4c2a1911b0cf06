package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.{ArrayBuffer, Map => MMap}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, size, sum}

import graft.SparkEntry
import graft.core.GraftSession
import graft.functions.TextFunctions
import graft.wordcount.WordCountJob

/** The benchmark's JVM side: runs one workload in this process with one
  * closed-loop client (each job or query starts when the previous one
  * has finished) and writes `<out>/result.json`. `run.py` generates the
  * inputs, launches this main, checks the outputs and prints the result.
  *
  * The timed region is a sequence of operations: a WordCount job over
  * the corpus (wordcount workloads) or one pass of the curation mix,
  * each query built, planned and run with a full-row action that writes
  * its result as parquet (curation). Every operation's output is kept
  * under `<out>` for run.py to check.
  * Operation 0 runs in the fresh process, cold. Operation 1, the first
  * warm one, absorbs the JIT's tail. Operations 2 and later are the
  * steady state; they run until `seconds` have passed since operation 2
  * started, and at least `min_steady` of them run.
  *
  * Traced (`trace=1`), operation 0 and the even-numbered warm
  * operations record spans and Spark listener counts; the odd ones run
  * untraced, so the tracing overhead is measured within the run.
  *
  * Arguments are `key=value` pairs:
  *  - `mode=oracle-sql queries=<q,...> out=<file>`: write the queries' oracle SQL;
  *  - `mode=run workload=<name> data=<dir> out=<dir> local_dir=<dir>
  *    seconds=<s> trace=<0|1> launch_ms=<epoch ms> [min_steady=<n>] [queries=<q,...>]`.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val o = args.map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    o("mode") match {
      case "oracle-sql" =>
        val qs = o("queries").split(",").toSeq
        write(o("out"), Json(qs.map(q => q -> SparkEntry.oracleSql(q)).toMap))
      case "run" => new Harness(o).run()
    }
  }

  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes("UTF-8"))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** One timed operation, with the JIT and GC seconds it accrued. */
final case class Op(index: Int, traced: Boolean, startMs: Double, endMs: Double,
    jitS: Double, gcS: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

final class Harness(o: Map[String, String]) {
  import Harness._

  private val workload = o("workload")
  private val data = o("data")
  private val out = o("out")
  private val seconds = o("seconds").toDouble
  private val traced = o("trace") == "1"
  private val minSteady = math.max(if (traced) 2 else 1, o.getOrElse("min_steady", "1").toInt)
  private val queries = o.get("queries").filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil)
  private val isCuration = queries.nonEmpty

  private val t = new Tracer(s"$workload-${o.getOrElse("seed", "0")}")
  private val counters = new Counters
  private var spark: SparkSession = _

  private var attempted = 0
  private val failures = ArrayBuffer[String]()
  private val ops = ArrayBuffer[Op]()
  private val perQuery = MMap[Int, MMap[String, Double]]() // op -> query -> seconds
  private val phases = MMap[Int, MMap[String, Double]]() // op -> planning phase -> seconds
  private var current = -1 // index of the running timed op, -1 outside

  private def now: Double = t.nowMs
  private def phase(p: String): Unit = spark.sparkContext.setLocalProperty(Counters.PhaseKey, p)

  def run(): Unit = {
    val sessionStart = now
    spark = GraftSession.builder("perfbench", extraConf = Map(
      "spark.local.dir" -> o("local_dir"),
      "spark.sql.warehouse.dir" -> s"${o("local_dir")}/warehouse")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = now

    // timed region: op 0 cold, then warm ops
    val t0 = now
    runOp(0, traced)
    runOp(1, false)
    val steady0 = now
    val cpuSteady0 = Jvm.cpuSeconds
    var i = 2
    while (i < 2 + minSteady || (now - steady0) / 1000.0 < seconds) {
      runOp(i, traced && i % 2 == 0)
      i += 1
    }
    val t1 = now
    val cpuSteady = Jvm.cpuSeconds - cpuSteady0
    val rss = Jvm.peakRssMb
    val liveHeap = Jvm.liveHeapMb
    val storage = spark.sparkContext.getRDDStorageInfo
    val steadyOps = ops.toSeq.filter(_.index > 1)

    val layers: Map[String, Double] = if (!traced) Map.empty else {
      setTracing(true)
      val probes = probeLayers()
      setTracing(false)
      val tracedWarm = steadyOps.filter(_.traced)
      val untracedWarm = steadyOps.filterNot(_.traced)
      opLayers(ops.take(1).toSeq).map { case (k, v) => s"cold.$k" -> v } ++
        opLayers(tracedWarm) ++ probes ++ Map(
          "ops.cached_mb" -> storage.map(r => r.memSize + r.diskSize).sum / 1048576.0,
          "ops.persisted_frames" -> storage.count(_.numCachedPartitions > 0).toDouble,
          "trace.overhead_s" -> (median(tracedWarm.map(_.seconds)) -
            median(untracedWarm.map(_.seconds))))
    }

    val result = Map(
      "workload" -> workload,
      "traced" -> traced,
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "ops" -> ops.toSeq.map(op => Map("index" -> op.index, "traced" -> op.traced,
        "seconds" -> op.seconds, "jit_s" -> op.jitS, "gc_s" -> op.gcS)),
      "cold_s" -> ops.head.seconds,
      "wall_s" -> median(steadyOps.filterNot(_.traced).map(_.seconds)),
      "timed_s" -> (t1 - t0) / 1000.0,
      "session_s" -> (readyMs - sessionStart) / 1000.0,
      "launch_to_ready_s" -> (readyMs - o("launch_ms").toDouble) / 1000.0,
      "cpu_s" -> cpuSteady / steadyOps.size,
      "peak_rss_mb" -> rss,
      "live_heap_mb" -> liveHeap,
      "per_query" -> perQuery.map { case (k, v) => k.toString -> v.toMap }.toMap,
      "layers" -> layers,
      "spans" -> t.spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
        "layer" -> s.layer, "parent" -> s.parent, "run" -> s.run,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    write(s"$out/result.json", Json(result))
    spark.stop()
  }

  /** Spans and listener counts on or off; drained first so no event of
    * a traced op is lost. */
  private def setTracing(on: Boolean): Unit = if (on != t.enabled) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    if (on) spark.sparkContext.addSparkListener(counters)
    else spark.sparkContext.removeSparkListener(counters)
    t.enabled = on
  }

  private def runOp(index: Int, tracedOp: Boolean): Unit = {
    setTracing(tracedOp)
    current = index
    val (jit0, gc0) = (Jvm.jitSeconds, Jvm.gcSeconds)
    val s = now
    if (isCuration) pass(index)
    else wordcountJob(s"$data/corpus", s"$out/job-$index", index)
    ops += Op(index, tracedOp, s, now, Jvm.jitSeconds - jit0, Jvm.gcSeconds - gc0)
    current = -1
  }

  private def note(what: String, e: Throwable): Unit =
    failures += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  private def plan(df: DataFrame): Unit = t.span("queryExecution.executedPlan", "core") {
    df.queryExecution.executedPlan
    if (t.enabled && current >= 0) {
      val m = phases.getOrElseUpdate(current, MMap[String, Double]().withDefaultValue(0.0))
      df.queryExecution.tracker.phases.foreach { case (k, p) => m(k) += p.durationMs / 1000.0 }
    }
  }

  /** The full-row action: every row of the result, written as parquet
    * so that run.py can check it against the oracle. */
  private def action(df: DataFrame, dst: String): Unit = t.span("write.parquet", "exec") {
    df.write.parquet(dst)
  }

  /** One WordCount job (the reference's whole query: text in, one sorted
    * TSV file out). */
  private def wordcountJob(in: String, dst: String, op: Int): Unit = {
    attempted += 1
    phase(s"run:op$op")
    try t.span("WordCountJob.run", "wordcount")(WordCountJob.run(spark, in, dst))
    catch { case e: Exception => note(s"job-$op", e) }
  }

  /** One pass of the curation mix: per query, build, plan, full-row action. */
  private def pass(op: Int): Unit = for (q <- queries) {
    attempted += 1
    val s = now
    try t.span(q, "mix") {
      phase(s"build:op$op")
      val df = t.span("SparkEntry.queries", "ops")(SparkEntry.queries(q)(spark, data))
      phase(s"run:op$op")
      plan(df)
      action(df, s"$out/op-$op/$q")
    } catch { case e: Exception => note(s"$q (op $op)", e) }
    perQuery.getOrElseUpdate(op, MMap())(q) = (now - s) / 1000.0
  }

  /** Layer probes of the traced run, after the timed region: the custom
    * tokenizer alone, and WordCount's count (no sink) against its run. */
  private def probeLayers(): Map[String, Double] = {
    phase("probe")
    val text = if (isCuration) s"$data/documents_text" else s"$data/corpus"
    def secs(body: => Unit): Double = { val s = now; body; (now - s) / 1000.0 }
    var tokens = 0L
    val tokS = secs(t.span("TextFunctions.tokens", "functions") {
      tokens = spark.read.text(text).select(sum(size(TextFunctions.tokens(col("value")))))
        .collect()(0).getLong(0)
    })
    val countS = secs(t.span("WordCountJob.count", "wordcount") {
      val df = WordCountJob.count(spark, spark.read.text(text))
      plan(df)
      df.write.format("noop").mode("overwrite").save()
    })
    val runS = secs(t.span("WordCountJob.run", "wordcount")(
      WordCountJob.run(spark, text, s"$out/probe-run")))
    Map("functions.tokens_s" -> tokS, "functions.tokens_per_s" -> tokens / tokS,
      "wordcount.count_s" -> countS, "wordcount.run_s" -> runS,
      "wordcount.sink_s" -> (runS - countS))
  }

  /** Per-layer metrics over the given traced ops, per op. */
  private def opLayers(sel: Seq[Op]): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val n = math.max(1, sel.size).toDouble
    def inOps(ms: Double) = sel.exists(op => ms >= op.startMs - 1 && ms <= op.endMs + 1)
    val spans = t.spans.toSeq.filter(s => inOps(s.startMs) && inOps(s.endMs))
    def spanSum(name: String) = spans.filter(_.name == name).map(_.seconds).sum / n
    val tasks = counters.synchronized(counters.tasks.toSeq)
      .filter(r => inOps(r.launchMs.toDouble) && inOps(r.finishMs.toDouble))
    val jobs = counters.synchronized(counters.jobs.toSeq).filter(j => inOps(j._2.toDouble))
    val wallS = sel.map(_.seconds).sum
    val busyS = Intervals.union(sel.flatMap(op => Intervals.clip(
      tasks.map(r => (r.launchMs.toDouble, r.finishMs.toDouble)), op.startMs, op.endMs))) / 1000.0
    val taskS = tasks.map(r => (r.finishMs - r.launchMs) / 1000.0).sum
    val ids = spans.map(_.id).toSet
    val covered = Intervals.union(spans.filterNot(s => ids(s.parent))
      .map(s => (s.startMs, s.endMs))) / 1000.0
    val ph = sel.flatMap(op => phases.getOrElse(op.index, MMap[String, Double]()).toSeq)
      .groupMapReduce(_._1)(_._2)(_ + _).withDefaultValue(0.0)
    val self = Tracer.selfSeconds(spans).withDefaultValue(0.0)
    val mb = 1048576.0
    val perQ = queries.map { q =>
      s"q.${q.takeWhile(_ != '_')}_s" ->
        median(sel.flatMap(op => perQuery.getOrElse(op.index, MMap[String, Double]()).get(q)))
    }
    Map(
      "core.plan_s" -> spanSum("queryExecution.executedPlan"),
      "core.analysis_s" -> ph("analysis") / n,
      "core.optimization_s" -> ph("optimization") / n,
      "core.planning_s" -> ph("planning") / n,
      "ops.build_s" -> spanSum("SparkEntry.queries"),
      "ops.build_jobs" -> jobs.count(_._3.startsWith("build:")) / n,
      "exec.action_s" -> (spanSum("write.parquet") + spanSum("WordCountJob.run")),
      "exec.task_s" -> taskS / n,
      "exec.busy_s" -> busyS / n,
      "exec.driver_only_s" -> (wallS - busyS) / n,
      "exec.parallelism" -> taskS / wallS,
      "exec.jobs" -> jobs.size / n,
      "exec.stages" -> tasks.map(_.stageId).distinct.size / n,
      "exec.tasks" -> tasks.size / n,
      "exec.failed_tasks" -> tasks.count(!_.ok).toDouble,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1000.0 / n,
      "shuffle.write_mb" -> tasks.map(_.shuffleWrite).sum / mb / n,
      "shuffle.read_mb" -> tasks.map(_.shuffleRead).sum / mb / n,
      "shuffle.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1000.0 / n,
      "shuffle.spill_mb" -> tasks.map(_.spill).sum / mb / n,
      "scan.input_mb" -> tasks.map(_.inBytes).sum / mb / n,
      "scan.records" -> tasks.map(_.inRecords).sum / n,
      "sink.output_mb" -> tasks.map(_.outBytes).sum / mb / n,
      "sink.records" -> tasks.map(_.outRecords).sum / n,
      "jvm.jit_s" -> sel.map(_.jitS).sum / n,
      "jvm.gc_s" -> sel.map(_.gcS).sum / n,
      "self.core_s" -> self("core") / n,
      "self.ops_s" -> self("ops") / n,
      "self.exec_s" -> self("exec") / n,
      "self.wordcount_s" -> self("wordcount") / n,
      "trace.uncovered_s" -> (wallS - covered) / n,
    ) ++ perQ
  }
}
