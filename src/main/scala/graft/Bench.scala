package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: probe-gated timed sweeps over every SparkEntry query
  * (or the ones named on argv) at SPARK_GRAFT_SF_DIR, after a warmup
  * pass at sf0.001 (JVM classloading + whole-stage-codegen compilation
  * would otherwise be billed to whichever query happens to run first).
  * Prints one JSON line.
  */
object Bench {

  /** A timed run plus its own contention evidence: per-query min
    * seconds across sweeps, the calibration-probe times bracketing each
    * sweep, how many sweeps ran, and how many were CLEAN (both
    * bracketing probes within [[ProbeSlack]] of the run's best probe).
    * `loads` is one [[loadSample]] per probe point (same cadence, same
    * indices): the machine-side twin of the probe evidence, so a
    * cross-session "uniform ~20% drift" (two rounds of narrative —
    * VERDICT r14 #3) is classifiable from the artifact alone instead
    * of from memory of what else the box was doing.
    */
  final case class Run(results: Seq[(String, Double)],
      probes: Seq[Double], sweeps: Int, cleanSweeps: Int,
      loads: Seq[(Double, Long)] = Seq.empty)

  /** One machine-load sample: the 1-minute loadavg and MemAvailable in
    * MB, straight from /proc (this harness only runs on Linux; on any
    * read failure the sample is (-1, -1) rather than an abort — load
    * evidence is diagnostic, never a gate). Taken at every probe point
    * so each sweep is bracketed by (probe seconds, loadavg, free
    * memory): an inflated probe WITH inflated loadavg is a co-tenant;
    * an inflated sweep with idle probes AND idle loadavg is the
    * internal execution-flip mode (NOTES r14).
    */
  def loadSample(): (Double, Long) = {
    def read(p: String): Option[String] =
      try Some(java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
      catch { case _: Throwable => None }
    val load = read("/proc/loadavg")
      .flatMap(_.split(" ").headOption)
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .getOrElse(-1.0)
    val memMb = read("/proc/meminfo")
      .flatMap(_.linesIterator.find(_.startsWith("MemAvailable:")))
      .flatMap(l => scala.util.Try(
        l.split("\\s+")(1).toLong / 1024L).toOption)
      .getOrElse(-1L)
    (load, memMb)
  }

  /** A sweep counts as clean only if the probes on BOTH sides stayed
    * within this factor of the run's fastest probe. */
  val ProbeSlack = 1.5

  /** Standing execution-flip WATCH LIST: queries requalified as flip
    * victims in two or more separate rounds (q49/q52: the r14
    * instrumented catch and r15's STRESS_r30 live catch — both times
    * at ~8-50× with idle probes/loadavg/memory, both times consecutive
    * after q48_ivf_ann in sorted sweep order, both times re-measuring
    * normal in-session). Emitted in every artifact as `flip_watch` so
    * stress_diff can classify a regression on one of these as
    * "recurring flip victim — requalify before believing" instead of a
    * fresh plan regression, without a human reading NOTES. Extend only
    * when a query requalifies in two separate rounds; remove if the
    * flip mechanism is pinned and fixed.
    */
  val FlipWatch: Seq[String] = Seq("q49_collocations", "q52_hash_sample")

  /** One calibration probe: a fixed CPU-bound codegen'd job (~50-80 ms
    * at local[32]) whose cost depends only on machine load — no I/O, no
    * shuffle, no data. When a co-tenant process steals cores, the probe
    * inflates in the same proportion the queries do, so it converts
    * "this sweep looks slow" into measured evidence.
    */
  def probeOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 64L * 1000 * 1000, 1,
        spark.sparkContext.defaultParallelism)
      .selectExpr("sum(id * 3 + 1)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** One bracketing measurement = min of 3 [[probeOnce]] runs: a single
    * probe right after a heavy sweep reads the sweep's own tail (GC,
    * page-cache reclaim) as "contention" — measured 0.095 s floor vs
    * 0.2-0.5 s single probes around 20× sweeps on an otherwise idle
    * box. The min of three ~0.1 s runs (~0.4 s total) sees through a
    * one-off pause while still catching a co-tenant that persists.
    */
  def probe(spark: SparkSession): Double =
    (1 to 3).map(_ => probeOnce(spark)).min

  /** Warm up (classloading + codegen) at `warmDir`, then warm once more
    * at the TIMED `sfDir` — session memos (IVF quantizer, LSH signature
    * frame) are keyed per (session, dir), so a warmup at a different dir
    * leaves the timed pass paying a one-off index BUILD (this is exactly
    * what inflated q48 from 2.1 s to 9.7 s in round 3). The second pass
    * also absorbs parquet-footer reads and any first-use codegen at the
    * real data scale, so the timed pass measures steady-state probes for
    * every query uniformly.
    *
    * Then time WHOLE-SWEEP passes (every query once per sweep, probes
    * before/after each) and report each query's MIN across sweeps.
    * Sweep-ordering beats per-query repeats under contention: a
    * co-tenant burst (the r10/r11 committed artifacts both carried one —
    * trivial untouched queries at 4-10× with the spikes MOVING between
    * identical-code runs) spans a contiguous time window, so it hits the
    * same query in back-to-back repeats but DIFFERENT queries in
    * separate sweeps — the cross-sweep min recovers the idle number.
    * When the probes say a sweep was contended, extra sweeps run (up to
    * 3 beyond `passes`) until `passes` clean ones exist; if the window
    * never goes quiet, the artifact says so (clean_sweeps < passes)
    * instead of shipping polluted numbers as facts. A query that throws
    * in any sweep is reported as -1 (NOT its elapsed-until-crash time)
    * so a regression can't masquerade as a fast run. `names` comes from
    * [[QueryRun.names]]: every query, or a targeted subset.
    */
  def timeAll(spark: SparkSession, sfDir: String,
      warmDir: String = "/root/testdata/sf0.001",
      names: Seq[String] = QueryRun.names(Nil), passes: Int = 1): Run = {
    Seq(warmDir, sfDir).distinct.foreach(dir =>
      names.foreach(QueryRun.run(spark, _, dir)))
    probeOnce(spark) // probe warmup (its own codegen/classloading)
    val maxSweeps = passes + 3
    val loads = scala.collection.mutable.ArrayBuffer(loadSample())
    val probes = scala.collection.mutable.ArrayBuffer(probe(spark))
    val sweeps = scala.collection.mutable.ArrayBuffer
      .empty[Map[String, Double]]
    // RELATIVE-only contention semantics, by design: a sweep is clean
    // when its bracketing probes sit within ProbeSlack of the RUN'S OWN
    // fastest probe — so the flag detects contention that varies within
    // the run (the failure mode that actually corrupted r10/r11: bursts
    // moving between sweeps), but a run uniformly contended end-to-end
    // reports clean_sweeps == passes with uniformly-inflated probes.
    // That case is still visible in the artifact: the probes array is
    // committed verbatim, and this machine's idle floor is ~0.08 s
    // (every committed clean artifact since r12 — compare across
    // rounds). An ABSOLUTE floor constant would silently rot when the
    // harness moves hosts; the probes-array-plus-cross-round-comparison
    // is the durable version of the same check.
    def cleanCount(): Int = {
      val floor = probes.min
      sweeps.indices.count(i =>
        probes(i) <= floor * ProbeSlack && probes(i + 1) <= floor * ProbeSlack)
    }
    while (sweeps.size < maxSweeps &&
        (sweeps.size < passes || cleanCount() < passes)) {
      sweeps += names.map(n => n -> QueryRun.run(spark, n, sfDir)).toMap
      loads += loadSample()
      probes += probe(spark)
    }
    val results = names.map { name =>
      val ts = sweeps.map(_(name))
      name -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
    Run(results, probes.toSeq, sweeps.size, cleanCount(), loads.toSeq)
  }

  /** Timing-protocol version, embedded in every artifact so cross-round
    * totals are never silently compared across protocol changes (the
    * round-3→4 warm-at-timed-dir change made r3 numbers look like
    * regressions until re-diagnosed). warm2-sweepminN = warmup at
    * sf0.001 AND at the timed dir (steady-state memos), then per-query
    * min over N+ whole-sweep passes with probe-bracketed contention
    * detection (r12; the prior warm2-minN repeated each query
    * back-to-back, which a contention burst hits on both repeats).
    */
  def protocol(passes: Int): String = s"warm2-sweepmin$passes"

  /** Per-query regression gate against the committed protocol-clean
    * baseline (BENCH_BASELINE.json, seeded from r12's BENCH_FULL — the
    * first trustworthy per-query sweep under the probe-gated protocol):
    * stress_diff's two-sided tolerance (regressed iff >2× the baseline
    * AND >2 s absolute — matches the measured noise profile on
    * sub-second queries), crashed queries (-1) always fail, queries
    * absent from the baseline are never failed so adding coverage
    * can't break the gate. Returns None when no baseline file exists
    * (first run on a fresh machine); otherwise (verdict, offenders).
    * The verdict is embedded in the artifact line so a silent per-query
    * regression can't ship inside a flat-looking total.
    */
  def benchDiff(results: Seq[(String, Double)],
      baselinePath: String): Option[(String, Seq[String])] =
    QueryRun.baseline(baselinePath).map { old =>
      val offenders = results.collect {
        case (q, t) if t < 0 => s"$q:crashed"
        case (q, t) if old.has(q) && old.get(q).asDouble >= 0 &&
            t > 2 * old.get(q).asDouble && t - old.get(q).asDouble > 2.0 =>
          s"$q:${QueryRun.num(old.get(q).asDouble, 2)}->${QueryRun.num(t, 2)}"
      }
      (if (offenders.isEmpty) "PASS" else "FAIL", offenders)
    }

  /** Post-sweep OFFENDER RE-MEASUREMENT — the response to a measured
    * failure mode the probe gate cannot see (round-14 instrumented
    * sweeps, NOTES): individual query EXECUTIONS occasionally run
    * 10-30× slow with idle bracketing probes, zero GC, flat storage
    * and LOW EFFECTIVE PARALLELISM (total task time ≈ 4-16 cores'
    * worth spread over the wall time), while the same query in the
    * same JVM re-executes at its normal speed — so a cross-sweep min
    * can still carry the inflation when the flip recurs within one
    * run (observed: min-of-4-sweeps at 8× normal), and the per-query
    * regression gate then flags a query whose PLAN is fine. The
    * re-measurement separates the two honestly: each gate offender
    * (crashes excluded) re-runs 3 times in the same session, and the
    * cross-context min replaces its result — a REAL plan regression
    * reproduces here and stays flagged; an execution flip requalifies,
    * and the artifact records `original->remeasured` under
    * `requalified` so the raw observation is never silently erased.
    */
  def requalify(spark: SparkSession, sfDir: String,
      run: Run, offenders: Seq[String]): (Run, Seq[String]) = {
    val names = offenders.filterNot(_.endsWith(":crashed"))
      .map(_.takeWhile(_ != ':')).distinct
      .filter(SparkEntry.queries.contains)
    val results = run.results.toMap
    val requal = scala.collection.mutable.ArrayBuffer.empty[String]
    val updated = names.map { n =>
      val t = (1 to 3).map(_ => QueryRun.run(spark, n, sfDir))
      val best = if (t.exists(_ < 0)) -1.0 else math.min(t.min, results(n))
      if (best >= 0 && best < results(n))
        requal += s"$n:${QueryRun.num(results(n))}->${QueryRun.num(best)}"
      n -> best
    }.toMap
    val merged = run.results.map { case (n, v) =>
      n -> updated.getOrElse(n, v) }
    (run.copy(results = merged), requal.toSeq)
  }

  /** The regression gate Bench and Stress share: [[benchDiff]] against
    * `baselinePath`, one [[requalify]] of its offenders, and the verdict
    * over the requalified results. Returns the run, the verdict (None
    * without a baseline file) and the requalified entries.
    */
  def gate(spark: SparkSession, dir: String, run: Run, baselinePath: String)
      : (Run, Option[(String, Seq[String])], Seq[String]) = {
    val diff = benchDiff(run.results, baselinePath)
    val (run2, requal) = requalify(spark, dir, run,
      diff.fold(Seq.empty[String])(_._2))
    (run2, if (requal.isEmpty) diff else benchDiff(run2.results, baselinePath),
      requal)
  }

  /** Per-query seconds at 3 decimals (1 ms resolution — run-to-run noise
    * is ±20% on sub-second queries, so extra digits are false precision)
    * and the headline total LAST: the artifact harvester keeps only a
    * fixed-size tail of the run output, and with 70+ queries a
    * total-first line loses its "value" field to the window (BENCH_r04/
    * r05 both captured query timings but not the total). Key order makes
    * the tail self-sufficient; the line is still one valid JSON object.
    */
  def jsonLine(run: Run, sfDir: String, passes: Int = 1,
      diff: Option[(String, Seq[String])] = None,
      requalified: Seq[String] = Seq.empty): String = {
    import QueryRun.{num, str, strs}
    val qs = run.results.map { case (k, v) => str(k) + ":" + num(v) }
      .mkString("{", ",", "}")
    val total = run.results.map(_._2).filter(_ >= 0).sum
    // probes/sweeps/clean_sweeps are the artifact's own contention
    // evidence: clean_sweeps < the target means the measurement window
    // never went quiet and the numbers carry a documented asterisk
    val diffFields = diff.map { case (verdict, offenders) =>
      s""""bench_diff":"$verdict","bench_regressed":${strs(offenders)},"""
    }.getOrElse("")
    val requalField =
      if (requalified.isEmpty) "" else s""""requalified":${strs(requalified)},"""
    // machine-load evidence beside the probes (same indices): loadavg-1m
    // and MemAvailable MB at each probe point — see [[loadSample]]
    val loadFields = if (run.loads.isEmpty) "" else {
      val la = run.loads.map(l => num(l._1)).mkString("[", ",", "]")
      val mm = run.loads.map(_._2.toString).mkString("[", ",", "]")
      s""""loadavg":$la,"mem_avail_mb":$mm,"""
    }
    // the standing watch list rides in every artifact (see [[FlipWatch]])
    s"""{"queries":$qs,"sf":${str(sfDir)},"protocol":"${protocol(passes)}","probes":${run.probes.map(num(_)).mkString("[", ",", "]")},"sweeps":${run.sweeps},"clean_sweeps":${run.cleanSweeps},$loadFields$diffFields$requalField"flip_watch":${strs(FlipWatch)},"unit":"sec","metric":"total","value":${num(total)}}"""
  }

  /** Usage: runMain graft.Bench [queryName...] */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = QueryRun.names(args.toSeq)
    val spark = QueryRun.session("graft-bench")
    // 2 clean whole-sweep passes (probe-gated, up to 5 total): a single
    // pass over a 70+ query sweep shows one-off ~2.5x GC/page-cache
    // outliers (r5 driver run: q52 0.5→3.4 s, q69 3.0→6.6 s), and the
    // r10/r11 committed artifacts were both polluted by co-tenant
    // bursts the old back-to-back min-of-2 couldn't see past. The
    // cross-sweep min is the stable noise-floor estimate; probes/
    // clean_sweeps in the artifact say whether it was reached.
    val passes = 2
    val run = timeAll(spark, sfDir, names = names, passes = passes)
    System.err.println(s"[bench] sweeps=${run.sweeps} clean=${run.cleanSweeps} " +
      s"probes=${run.probes.map(QueryRun.num(_)).mkString(",")}")
    // offenders get one targeted re-measurement (see [[requalify]]) —
    // a real regression reproduces and stays flagged; an
    // execution-level flip requalifies with both values recorded
    val (run2, diff, requal) = gate(spark, sfDir, run,
      sys.env.getOrElse("GRAFT_BENCH_BASELINE", "BENCH_BASELINE.json"))
    diff.foreach { case (v, offs) =>
      System.err.println(s"[bench] bench_diff=$v ${offs.mkString(" ")} " +
        s"requalified=${requal.mkString(" ")}")
    }
    // the stdout line is harvested through a fixed-size tail window and
    // with 118 queries the per-query map loses its head (BENCH_r06 kept
    // only the last 69 queries) — also land the COMPLETE artifact as a
    // file, the way the stress runner does, so round-over-round
    // comparison always has every query
    val outFile = sys.env.getOrElse("GRAFT_BENCH_OUT", "BENCH_FULL.json")
    try QueryRun.emit(jsonLine(run2, sfDir, passes, diff, requal), Some(outFile))
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
  }
}
