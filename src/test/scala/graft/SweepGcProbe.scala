package graft

import scala.jdk.CollectionConverters._

/** One instrumented full sweep (Test/runMain graft.SweepGcProbe [dir]):
  * executes every registered query once in Bench's sorted order after
  * the standard two-dir warmup, printing per query the wall time, the
  * JVM GC-time delta, and the storage-memory footprint — the
  * attribution tool for in-sweep-only inflation (a query that is fast
  * alone and slow mid-sweep is paying for SOMETHING accumulated; this
  * says whether it's GC, eviction, or neither).
  */
object SweepGcProbe {
  def main(args: Array[String]): Unit = {
    val spark = QueryRun.session("sweepgc")
    val dir = args.headOption.getOrElse("/tmp/graft-stress")
    def gcMs: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def storageMb: Double = {
      val s = spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum
      s / 1048576.0
    }
    // JIT code-cache occupancy vs cap + cumulative compilation time:
    // the r15 flip hypothesis (STRESS_r30 caught q49/q52 at ~8× with
    // idle probes/loadavg/memory, SAME victims as r14, positional in
    // the sweep) is silent CodeCache FLUSHING — the default 240 MB
    // reserve fills under 175 codegen'd queries, HotSpot evicts cold
    // nmethods without any warning, and the victim queries run
    // interpreted until re-JIT (8-50× — the observed band). These two
    // numbers make the mechanism visible: occupancy pinned at the cap
    // plus a compilation-time spike at the slow query = flush storm.
    def codeCache: (Double, Double) = {
      val pools = java.lang.management.ManagementFactory
        .getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap"))
      val used = pools.map(_.getUsage.getUsed).sum / 1048576.0
      val max = pools.map(p => math.max(p.getUsage.getMax, 0L)).sum / 1048576.0
      (used, max)
    }
    def compileMs: Long = java.lang.management.ManagementFactory
      .getCompilationMXBean.getTotalCompilationTime
    val names = QueryRun.names(Nil)
    // total executor task run time per query — wall ≫ taskTime means
    // the cores were IDLE (scheduler/IO/lock stall), wall ≈ taskTime/32
    // means genuine compute
    val taskTime = new java.util.concurrent.atomic.AtomicLong
    // total scheduler delay per query (duration − run − deserialize −
    // result-serialize): wall ≫ taskTime WITH a big sched component
    // means tasks sat queued — the driver/scheduler side of a stall;
    // a big deserialize component means task-closure setup paid it
    val schedDelay = new java.util.concurrent.atomic.AtomicLong
    val deserTime = new java.util.concurrent.atomic.AtomicLong
    // per-task LAUNCH-LATENCY capture for the flip bracket (r16): the
    // flip's positional signature — q49/q52 at 8-50× right after
    // q48_ivf_ann in sorted order, three catches across r14/r15 —
    // points at the q48 slot leaving something behind that throttles
    // the NEXT small queries. For bracketed queries every task's
    // (stage, launch, finish, run) is kept so a live catch can say
    // WHERE the time went: late first-launches after stage submission
    // = driver/scheduler starvation (e.g. a ContextCleaner burst
    // holding the DAGScheduler loop); prompt launches running long =
    // executor-side (interpreted/deoptimized code); few tasks in
    // flight = capped effective parallelism.
    val captureTasks = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val taskRecs = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, Long, Long, Long)]() // (stageId, launch, finish, runMs)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageSubmitted(
            e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
          if (captureTasks.get) {
            stageSubmit.put(e.stageInfo.stageId,
              e.stageInfo.submissionTime.getOrElse(
                System.currentTimeMillis()))
            (): Unit
          }
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            taskTime.addAndGet(m.executorRunTime)
            deserTime.addAndGet(m.executorDeserializeTime)
            val i = e.taskInfo
            if (i != null && i.finishTime > 0) {
              val sched = (i.finishTime - i.launchTime) -
                m.executorRunTime - m.executorDeserializeTime -
                m.resultSerializationTime
              if (sched > 0) schedDelay.addAndGet(sched)
              if (captureTasks.get) {
                taskRecs.add((e.stageId, i.launchTime, i.finishTime,
                  m.executorRunTime))
                (): Unit
              }
            }
          }
          (): Unit
        }
      })
    // flip bracket: everything from q48 to q54 in the sorted sweep
    // order (q51 unassigned) — the recurring victims plus one on each
    // side of them
    def inBracket(n: String): Boolean = n >= "q48" && n < "q55"
    def launchReport(n: String): Unit = {
      val recs = taskRecs.asScala.toSeq
      taskRecs.clear()
      if (recs.isEmpty) { println(s"[sweepgc-launch] $n no tasks"); return }
      val byStage = recs.groupBy(_._1)
      val nStages = byStage.size
      // worst submission→first-launch delay across stages
      val firstDelay = byStage.map { case (sid, rs) =>
        val sub = stageSubmit.getOrDefault(sid, rs.map(_._2).min)
        rs.map(_._2).min - sub
      }.max
      // worst inter-launch gap inside one stage (sorted launches)
      val maxGap = byStage.values.map { rs =>
        val ls = rs.map(_._2).sorted
        if (ls.size < 2) 0L
        else ls.sliding(2).map(w => w(1) - w(0)).max
      }.max
      // peak tasks simultaneously in flight (event-sweep over all recs)
      val events = recs.flatMap(r => Seq((r._2, 1), (r._3, -1)))
        .sortBy(e => (e._1, e._2))
      var cur = 0; var peak = 0
      events.foreach { e => cur += e._2; if (cur > peak) peak = cur }
      // per-task overhead: (finish−launch) − run, the non-run residue
      val overhead = recs.map(r => (r._3 - r._2) - r._4)
      println(f"[sweepgc-launch] $n%-34s stages $nStages%2d tasks ${recs.size}%4d " +
        f"firstLaunch ${firstDelay}%5d ms  maxGap ${maxGap}%5d ms  " +
        f"peakInflight $peak%3d  ovhd p50 ${overhead.sorted.apply(overhead.size / 2)}%4d max ${overhead.max}%5d ms")
    }
    stageSubmit.clear()
    Seq("/root/testdata/sf0.001", dir).foreach { d =>
      names.foreach(QueryRun.run(spark, _, d))
    }
    println(f"[sweepgc] warmed; storage ${storageMb}%.0f MB")
    val (ccUsed0, ccMax0) = codeCache
    println(f"[sweepgc] codecache at start: $ccUsed0%.0f / $ccMax0%.0f MB")
    // per-pool breakdown: the summed number hides a single SEGMENT
    // pinned at its own cap (under the 240 MB default the non-profiled
    // nmethod segment caps near ~117 MB — eviction there hits final-
    // tier compiled code specifically, invisible in the sum)
    def poolLine(): String = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map(p => f"${p.getName.stripPrefix("CodeHeap '").stripSuffix("'")}=" +
        f"${p.getUsage.getUsed / 1048576.0}%.0f/" +
        f"${math.max(p.getUsage.getMax, 0L) / 1048576.0}%.0f")
      .mkString(" ")
    println(s"[sweepgc] codecache pools: ${poolLine()}")
    names.foreach { n =>
      if (inBracket(n)) { taskRecs.clear(); stageSubmit.clear(); captureTasks.set(true) }
      val g0 = gcMs; val t0 = System.nanoTime(); val k0 = taskTime.get()
      val s0 = schedDelay.get(); val e0 = deserTime.get()
      val c0 = compileMs
      @volatile var done = false
      // watchdog: one full thread dump if the query stalls >10 s — the
      // direct answer to WHAT the JVM is doing during a silent stall
      val watchdog = new Thread(() => {
        var dumped = false
        while (!done && !dumped) {
          Thread.sleep(500)
          if (!done && (System.nanoTime() - t0) / 1e9 > 10.0) {
            dumped = true
            println(s"[sweepgc] WATCHDOG $n >10s; dump:")
            Thread.getAllStackTraces.asScala.toSeq
              .sortBy(_._1.getName).foreach { case (t, st) =>
                if (st.nonEmpty && t.getName != "sweepgc-watchdog") {
                  println(s"[sweepgc-dump]  --- ${t.getName} ${t.getState}")
                  st.take(10).foreach(e => println(s"[sweepgc-dump]      $e"))
                }
              }
          }
        }
      }, "sweepgc-watchdog")
      watchdog.setDaemon(true)
      watchdog.start()
      // TIME the same path Bench times (count() — the optimizer elides
      // presentation sorts and never materializes wide answers; a
      // toRdd-driven first cut here read q121 at 94 s because it BUILT
      // the 4e9-row expansion Bench's count path never does — the
      // ShuffleAudit scope note re-learned the hard way)
      val ok = QueryRun.run(spark, n, dir) >= 0
      done = true
      if (inBracket(n)) { captureTasks.set(false); launchReport(n) }
      if ((System.nanoTime() - t0) / 1e9 > 3.0)
        println(s"[sweepgc] pools after slow $n: ${poolLine()}")
      val dt = (System.nanoTime() - t0) / 1e9
      val dg = (gcMs - g0) / 1000.0
      val dk = (taskTime.get() - k0) / 1000.0
      val ds = (schedDelay.get() - s0) / 1000.0
      val de = (deserTime.get() - e0) / 1000.0
      val dc = (compileMs - c0) / 1000.0
      val (ccU, ccM) = codeCache
      if (dt > 0.5 || !ok)
        println(f"[sweepgc] $n%-34s ${dt}%6.2f s  gc ${dg}%5.2f s  task ${dk}%7.1f s  sched ${ds}%5.2f s  deser ${de}%5.2f s  jit ${dc}%5.2f s  cc ${ccU}%4.0f/${ccM}%4.0f MB  storage ${storageMb}%7.0f MB${if (ok) "" else "  CRASH"}")
      // slow count-path execution: best-effort metric capture via ONE
      // re-execution through toRdd on a fresh frame — the flip may not
      // recur there (that is the phenomenon), so the dump is labeled a
      // RE-execution; AQE partition counts, agg fallbacks, spills
      if (ok && dt > 4.0) {
        try {
          val df2 = SparkEntry.queries(n)(spark, dir)
          val r0 = System.nanoTime()
          df2.queryExecution.toRdd.foreach(_ => ())
          val rs = (System.nanoTime() - r0) / 1e9
          println(f"[sweepgc-plan] $n re-execution (toRdd path): ${rs}%.2f s")
          val interesting = Set("numOutputRows", "numPartitions",
            "spillSize", "shuffleBytesWritten", "dataSize",
            "numTasksFallBacked", "aggTime", "sortTime")
          ShuffleAudit.allNodes(df2.queryExecution.executedPlan)
            .foreach { node =>
              val ms = node.metrics.collect {
                case (k, m) if interesting(k) && m.value != 0 =>
                  s"$k=${m.value}"
              }
              if (ms.nonEmpty)
                println(s"[sweepgc-plan] $n ${node.getClass.getSimpleName} ${ms.mkString(" ")}")
            }
        } catch { case _: Throwable => () }
      }
    }
    spark.stop()
  }
}
