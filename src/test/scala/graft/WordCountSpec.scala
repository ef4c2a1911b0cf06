package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.wordcount.WordCountJob

/** End-to-end golden test for the reference-parity WordCount pipeline
  * (SURVEY §5.2(2)): byte-compare the single output part file, including
  * the UTF-8-byte-order collation case the reference's Text comparator
  * implies (SURVEY §2.6), plus the sink/CLI failure contracts.
  */
class WordCountSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The reference's output for the files in `in`, computed with
    * StringTokenizer and a UTF-8 byte-order sort.
    */
  private def oracle(in: Path): String = {
    val lines = Files.list(in).iterator().asScala.toSeq
      .flatMap(p => Files.readAllLines(p).asScala)
    val counts = lines.flatMap { l =>
      val st = new java.util.StringTokenizer(l, " ")
      Iterator.continually(st).takeWhile(_.hasMoreTokens).map(_.nextToken())
    }.groupMapReduce(identity)(_ => 1L)(_ + _)
    val utf8 = Ordering.by[String, Iterable[Byte]](_.getBytes("UTF-8").toSeq)(
      Ordering.Iterable(Ordering.by[Byte, Int](_ & 0xff)))
    counts.toSeq.sortBy(_._1)(utf8).map { case (w, c) => s"$w\t$c\n" }.mkString
  }

  /** The job's output lines; with `singleFile = false`, its part files
    * concatenated in filename order. */
  private def runJob(lines: Seq[String], singleFile: Boolean = true): Seq[String] = {
    val in = Files.createTempDirectory("wc_in")
    val out = Files.createTempDirectory("wc_out_parent").resolve("out")
    Files.write(in.resolve("input.txt"), lines.asJava)
    WordCountJob.run(spark, in.toString, out.toString, singleFile)
    val parts = Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
      .sortBy(_.getFileName.toString)
    assert(!singleFile || parts.size == 1,
      "single-file sink must produce exactly one part file")
    parts.flatMap(p => Files.readAllLines(p).asScala)
  }

  test("golden: counts, tabs-in-tokens, multi-space, empty lines") {
    val got = runJob(Seq(
      "hello world",
      "  leading  and   multiple spaces  ",
      "",
      "hello world hello"))
    assert(got == Seq(
      "and\t1", "hello\t3", "leading\t1", "multiple\t1", "spaces\t1", "world\t2"))
  }

  test("collation: supplementary-plane chars sort in UTF-8 byte order, not UTF-16") {
    // UTF-8 byte order is code-point order: U+E000..U+FFFF < U+1F600 <
    // U+10FFFF. UTF-16 code-unit order puts the supplementary plane
    // (surrogates D800-DFFF) first — SURVEY §2.6 (verified against
    // Hadoop Text.Comparator semantics). Checked on every sorting path.
    import spark.implicits._
    val want = "zz" +: Seq(0xE9, 0x4E2D, 0xE000, 0xFFFD, 0xFFFF, 0x1F600, 0x10FFFF)
      .map(cp => new String(Character.toChars(cp)))
    val line = want.reverse.mkString(" ")
    val tsv = want.map(w => s"$w\t1")
    assert(runJob(Seq(line)) == tsv)
    assert(runJob(Seq(line), singleFile = false) == tsv)
    assert(WordCountJob.count(spark, Seq(line).toDF("value"))
      .collect().map(_.getString(0)).toSeq == want)
  }

  test("gzipped input decompresses transparently (TextInputFormat codec parity)") {
    // Hadoop's TextInputFormat decompresses .gz inputs by extension, and
    // the reference inherits that for free — so must spark.read.text
    val in = Files.createTempDirectory("wc_gz_in")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(in.resolve("input.txt.gz")))
    gz.write("hello world\nhello\n".getBytes("UTF-8")); gz.close()
    val out = Files.createTempDirectory("wc_gz_out_parent").resolve("out")
    WordCountJob.run(spark, in.toString, out.toString)
    val part = Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(Files.readAllLines(part.head).asScala.toSeq ==
      Seq("hello\t2", "world\t1"))
  }

  test("scale path: multi-part output concatenates to the same global order") {
    val words = (1 to 500).map(i => f"w$i%03d")
    val rng = new scala.util.Random(7)
    // singleFile = false: global orderBy range-partitions; part files in
    // filename order concatenate to the same total order as the 1-file
    // path (the reference's copyMerge idiom, SURVEY §7.4)
    val concat = runJob(rng.shuffle(words ++ words).grouped(10)
      .map(_.mkString(" ")).toSeq, singleFile = false)
    assert(concat == words.map(w => s"$w\t2"))
  }

  test("copyMerge: part ordering is numeric, not lexicographic (past %05d padding)") {
    import graft.sources.Merge.partIndex
    assert(partIndex("part-00007-uuid.txt") == 7)
    assert(partIndex("part-99999-uuid.txt") == 99999)
    assert(partIndex("part-100000-uuid.txt") == 100000)
    val names = Seq("part-100000-a.txt", "part-99999-a.txt", "part-00001-a.txt")
    assert(names.sortBy(n => (partIndex(n), n)) ==
      Seq("part-00001-a.txt", "part-99999-a.txt", "part-100000-a.txt"))
    // lexicographic order would be wrong, which is the point
    assert(names.sorted != names.sortBy(n => (partIndex(n), n)))
  }

  test("copyMerge: concatenated multi-part output equals the single-file output byte-for-byte") {
    val in = Files.createTempDirectory("wc_in_cm")
    val words = (1 to 400).map(i => f"t$i%03d")
    val rng = new scala.util.Random(11)
    Files.write(in.resolve("input.txt"),
      rng.shuffle(words ++ words ++ words).grouped(7).map(_.mkString(" ")).toSeq.asJava)
    val outSingle = Files.createTempDirectory("wc_cm_s").resolve("out")
    val outMulti = Files.createTempDirectory("wc_cm_m").resolve("out")
    WordCountJob.run(spark, in.toString, outSingle.toString, singleFile = true)
    WordCountJob.run(spark, in.toString, outMulti.toString, singleFile = false)
    val merged = Files.createTempDirectory("wc_cm_merged").resolve("merged.tsv")
    val nParts = graft.sources.Merge.copyMerge(
      spark.sparkContext.hadoopConfiguration, outMulti.toString, merged.toString)
    assert(nParts >= 1)
    val singlePart = Files.list(outSingle).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.head
    assert(Files.readAllBytes(merged).sameElements(Files.readAllBytes(singlePart)))
  }

  test("sink: output dir must not pre-exist (FileOutputFormat contract)") {
    val in = Files.createTempDirectory("wc_in2")
    Files.write(in.resolve("a.txt"), Seq("x").asJava)
    val out = Files.createTempDirectory("wc_out_exists")
    intercept[Exception] {
      WordCountJob.run(spark, in.toString, out.toString)
    }
  }

  test("CLI: wrong arg count returns -1 with usage (WordCount.java:25-28)") {
    assert(WordCountJob.execute(Array("only-one")) == -1)
    assert(WordCountJob.execute(Array("a", "b", "c")) == -1)
    // -D options don't count toward the positional-arg contract
    assert(WordCountJob.execute(Array("-Dspark.graft.x=1", "only-one")) == -1)
  }

  test("CLI: -D overrides are parsed and land in the session conf (SURVEY §2.1 fixed-not-reproduced)") {
    val (conf, rest) = WordCountJob.parseDashD(
      Array("-Dspark.graft.marker=round3", "in", "-Dspark.graft.two=2", "out", "-Dnot-an-option"))
    assert(conf == Map("spark.graft.marker" -> "round3", "spark.graft.two" -> "2"))
    assert(rest.toSeq == Seq("in", "out", "-Dnot-an-option"))
    // end-to-end: execute() against the live test session must apply the
    // override to that session's runtime conf (and must NOT stop it)
    val in = Files.createTempDirectory("wc_in_dopt")
    val out = Files.createTempDirectory("wc_out_dopt_parent").resolve("out")
    Files.write(in.resolve("a.txt"), Seq("x y x").asJava)
    assert(WordCountJob.execute(
      Array("-Dspark.graft.marker=round3", in.toString, out.toString)) == 0)
    assert(spark.conf.get("spark.graft.marker") == "round3")
    assert(!spark.sparkContext.isStopped)
  }

  test("invariance: single-file output is byte-identical across shuffle partitions 1/7/N and AQE on/off") {
    // several input files (several scan partitions), a Zipf-ish
    // vocabulary so map-side partial counts repeat across partitions,
    // and the tokenizer's edge cases: space runs, edge spaces, empty
    // lines, tabs inside tokens, 2/3/4-byte UTF-8
    val in = Files.createTempDirectory("wc_in_inv")
    val rng = new scala.util.Random(3)
    val vocab = (0 until 300).map(i => Seq("w", "é", "中", "😀", "a\tb")(i % 5) + i)
    for (f <- 0 until 5) {
      val lines = Seq.fill(400) {
        Seq.fill(rng.nextInt(9))(vocab(math.min(rng.nextInt(300), rng.nextInt(300))))
          .mkString(if (rng.nextBoolean()) " " else "  ")
      } ++ Seq("", "   ", " lead trail ")
      Files.write(in.resolve(s"part$f.txt"), lines.asJava)
    }
    val want = oracle(in)
    val n = spark.sparkContext.defaultParallelism
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      for (parts <- Seq(1, 7, n); aqe <- Seq(true, false)) {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toLong)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        val out = Files.createTempDirectory("wc_out_inv").resolve("out")
        WordCountJob.run(spark, in.toString, out.toString)
        val part = Files.list(out).iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).toSeq
        assert(part.size == 1)
        assert(new String(Files.readAllBytes(part.head), "UTF-8") == want,
          s"shuffle.partitions=$parts adaptive=$aqe")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("overflow: one partition with more distinct tokens than the counter's table holds") {
    // one file is one scan partition; past TokenCountTable.MaxEntries
    // distinct tokens the counter flushes early and emits some tokens
    // twice, and only the Final-mode aggregate behind the shuffle merges
    // those duplicates
    import graft.functions.{PartialTokenCountExec, TokenCountTable}
    val in = Files.createTempDirectory("wc_in_overflow")
    val distinct = TokenCountTable.MaxEntries + TokenCountTable.MaxEntries / 4
    val rng = new scala.util.Random(5)
    val words = (0 until distinct).map(i => s"o$i")
    Files.write(in.resolve("input.txt"),
      (words ++ rng.shuffle(words).take(distinct / 2)).grouped(12).map(_.mkString(" ")).toSeq.asJava)
    val counted = WordCountJob.count(spark, spark.read.text(in.toString))
    counted.collect()
    object aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val emitted = aqe.collect(counted.queryExecution.executedPlan) {
      case p: PartialTokenCountExec => p.metrics("numOutputRows").value
    }
    assert(emitted.size == 1 && emitted.head > distinct,
      s"the counter did not flush early: emitted $emitted rows for $distinct tokens")
    val out = Files.createTempDirectory("wc_out_overflow").resolve("out")
    WordCountJob.run(spark, in.toString, out.toString)
    val part = Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(part.size == 1)
    assert(new String(Files.readAllBytes(part.head), "UTF-8") == oracle(in))
  }
}
