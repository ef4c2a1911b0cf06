package graft

import org.scalatest.funsuite.AnyFunSuite

/** The measurement harness's own logic: the offender-requalification
  * merge, the artifact line's field set, and the absolute probe gate —
  * the bits whose silent breakage would corrupt round-over-round
  * comparison rather than any query answer.
  */
class HarnessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("requalify re-measures only the named offenders and never raises a value") {
    // inflate one real query's recorded value; requalify must lower it
    // to a real measurement, leave the others untouched, and record
    // the original->remeasured pair
    val inflated = Seq(
      "q20_wordcount" -> 99.0,
      "q02_filter_project" -> 0.001)
    val run = Bench.Run(inflated, Seq(0.05, 0.05), 1, 1)
    // warm once so the re-measurement isn't billed first-use codegen
    SparkEntry.queries("q20_wordcount")(spark, TestSpark.sf).count()
    val (run2, requal) = Bench.requalify(spark, TestSpark.sf, run,
      Seq("q20_wordcount:99.00->99.00"))
    val m = run2.results.toMap
    assert(m("q20_wordcount") < 99.0 && m("q20_wordcount") > 0.0)
    assert(m("q02_filter_project") == 0.001)
    assert(requal.length == 1 && requal.head.startsWith("q20_wordcount:99.000->"))
  }

  test("requalify keeps the sweep min when the re-measurement is slower, and fails crashes through") {
    // a recorded value FASTER than any re-measurement must survive
    // (min semantics — requalification can only tighten), and crashed
    // offenders must stay crashed
    val run = Bench.Run(Seq("q20_wordcount" -> 0.000001), Seq(0.05), 1, 1)
    val (run2, requal) = Bench.requalify(spark, TestSpark.sf, run,
      Seq("q20_wordcount:0.00->0.00"))
    assert(run2.results.toMap.apply("q20_wordcount") == 0.000001)
    assert(requal.isEmpty)
    val (run3, _) = Bench.requalify(spark, TestSpark.sf, run,
      Seq("no_such_query:crashed"))
    assert(run3.results == run.results, "crashed entries must not re-run")
  }

  test("artifact line carries the probe-floor fields and requalified entries as valid JSON") {
    val run = Bench.Run(Seq("q20_wordcount" -> 1.5), Seq(0.05, 0.2), 1, 0)
    // the corpus path comes from argv: a quote or backslash in it must
    // not break the line
    val sfDir = "/tmp/x\"y\\z"
    val line = Bench.jsonLine(run, sfDir, passes = 1,
      diff = Some(("FAIL", Seq("q20_wordcount:0.50->1.50"))),
      requalified = Seq("q20_wordcount:9.000->1.500"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(line)
    assert(root.get("sf").asText == sfDir)
    assert(root.get("probes").size == 2 && root.get("clean_sweeps").asInt == 0)
    assert(root.get("bench_diff").asText == "FAIL")
    assert(root.get("requalified").get(0).asText == "q20_wordcount:9.000->1.500")
    assert(root.get("queries").get("q20_wordcount").asDouble == 1.5)
  }

  test("artifact line embeds machine-load evidence parallel to the probes") {
    val run = Bench.Run(Seq("q20_wordcount" -> 1.5), Seq(0.05, 0.08), 1, 1,
      loads = Seq((0.12, 98304L), (31.5, 97123L)))
    val line = Bench.jsonLine(run, "/tmp/x", passes = 1)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(line)
    assert(root.get("loadavg").size == root.get("probes").size)
    assert(root.get("loadavg").get(1).asDouble == 31.5)
    assert(root.get("mem_avail_mb").get(0).asLong == 98304L)
    // legacy Runs (no loads) must not emit the fields at all rather
    // than emit empty arrays that read as "sampled, saw nothing"
    val bare = Bench.jsonLine(
      Bench.Run(Seq("q20_wordcount" -> 1.5), Seq(0.05, 0.08), 1, 1), "/tmp/x")
    assert(!bare.contains("loadavg"))
    assert(mapper.readTree(bare).get("queries") != null)
  }

  test("flip_watch rides in every artifact line and names only registered queries") {
    val line = Bench.jsonLine(
      Bench.Run(Seq("q20_wordcount" -> 1.5), Seq(0.05, 0.08), 1, 1), "/tmp/x")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val fw = mapper.readTree(line).get("flip_watch")
    assert(fw != null && fw.size == Bench.FlipWatch.size,
      "flip_watch must be embedded in every artifact")
    assert((0 until fw.size).map(fw.get(_).asText) == Bench.FlipWatch)
    // staleness guard: a registry rename must invalidate the watch list
    Bench.FlipWatch.foreach(q =>
      assert(SparkEntry.queries.contains(q),
        s"flip_watch entry $q is not a registered query"))
    // the documented standing victims (requalified r14 AND r15)
    assert(Bench.FlipWatch.contains("q49_collocations") &&
      Bench.FlipWatch.contains("q52_hash_sample"))
  }

  test("loadSample reads real /proc values on this machine") {
    val (load, memMb) = Bench.loadSample()
    assert(load >= 0.0, "loadavg must parse on Linux")
    // parse-only: a concurrent 16g stress sweep can transiently take
    // MemAvailable below any absolute floor, so no magnitude assertion
    assert(memMb >= 0L, "MemAvailable must parse on Linux")
  }

  test("an unknown query name fails in every preset before any session work") {
    val e = intercept[IllegalArgumentException](
      QueryRun.names(Seq("q20_wordcount", "no_such_query")))
    assert(e.getMessage.contains("no_such_query") && !e.getMessage.contains("q20_wordcount"))
    assert(QueryRun.names(Seq("q20_wordcount", "q02_filter_project")) ==
      Seq("q02_filter_project", "q20_wordcount"))
    assert(QueryRun.names(Nil) == SparkEntry.queries.keys.toSeq.sorted)
    // the mains check their names before they build a session, so none
    // of these touches the shared test session
    val mains: Seq[Array[String] => Unit] = Seq(Bench.main, Verify.main, Stress.main,
      Explain.main, RunQuery.main)
    val argv = Seq(Array("no_such_query"), Array(TestSpark.sf, "/tmp/x", "no_such_query"),
      Array("/tmp/x", "/tmp/x.json", "no_such_query"), Array("write", TestSpark.sf, "/tmp/x", "no_such_query"),
      Array("no_such_query"))
    mains.zip(argv).foreach { case (main, args) =>
      intercept[IllegalArgumentException](main(args))
    }
    assert(!spark.sparkContext.isStopped)
  }

  test("stream measurements are valid JSON under a decimal-comma default locale") {
    val in = java.nio.file.Files.createTempDirectory("harness_stream").toString
    spark.range(0, 100, 1, 2).toDF("id").write.mode("overwrite").parquet(s"$in/in")
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    val fields = try StreamStress.runStream(spark, s"$in/in", 100L) { s =>
      s.writeStream.format("noop").option("checkpointLocation", s"$in/ckpt").start()
    } finally java.util.Locale.setDefault(saved)
    val json = fields.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(root.isObject && root.get("rows").asLong == 100L && root.get("batches").asInt == 2)
    assert(root.get("batch_secs").size == 2 && root.get("sec").asDouble > 0.0)
  }
}
