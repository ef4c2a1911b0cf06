package graft

import java.net.URI
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftLocalFileSystem, GraftLocalFs, SessionMemo}
import graft.wordcount.WordCountJob

/** The local filesystem every engine session gets (`graft.core.LocalFs`):
  * writes start no `chmod`/`ls` process, and every file and directory
  * gets the mode Hadoop's stock `LocalFileSystem` gives it.
  */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The commands of the processes this JVM started while `f` ran. */
  private def processStarts(f: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try f finally rec.stop()
    val dump = Files.createTempFile("process_starts", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq.map(_.getString("command"))
    } finally { rec.close(); Files.delete(dump) }
  }

  /** File-permission forks, as Hadoop's shell fallbacks spell them. Spark's
    * heartbeater also runs a one-off `getconf PAGESIZE`: not file I/O. */
  private def permissionForks(commands: Seq[String]): Seq[String] =
    commands.filter(c => Seq("chmod", "ls", "stat").contains(c.trim.takeWhile(_ != ' ')))

  private def textInput(): String = {
    val in = Files.createTempDirectory("lfs_wc_in")
    Files.write(in.resolve("a.txt"), Seq("b a b", "c a b").asJava)
    in.toString
  }

  /** Relative path → mode of everything under `root`, root included; the
    * job's UUID in part-file names is masked so two writes compare. */
  private def modes(root: Path): Map[String, String] =
    Files.walk(root).iterator().asScala.map { p =>
      val rel = root.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")
      rel -> Integer.toOctalString(Files.getAttribute(p, "unix:mode").asInstanceOf[Int])
    }.toMap

  /** Runs `f` with the session's Hadoop conf routing `file://` to the
    * stock `LocalFileSystem`, bypassing the filesystem cache. */
  private def underStockFs[A](f: => A): A = {
    val keys = Seq("fs.file.impl" -> classOf[LocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      assert(FileSystem.get(new URI("file:///"), spark.sessionState.newHadoopConf())
        .getClass == classOf[LocalFileSystem])
      f
    } finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def resolvesToGraft(conf: org.apache.hadoop.conf.Configuration): Unit = {
    assert(FileSystem.get(new URI("file:///"), conf).getClass == classOf[GraftLocalFileSystem])
    assert(FileContext.getFileContext(new URI("file:///"), conf)
      .getDefaultFileSystem.getClass == classOf[GraftLocalFs])
  }

  test("writes, WordCount, a memo lookup and a streaming batch start no chmod/ls process") {
    val parquetOut = Files.createTempDirectory("lfs_pq").resolve("out").toString
    val wcIn = textInput()
    val wcOut = Files.createTempDirectory("lfs_wc").resolve("out").toString
    val streamIn = Files.createTempDirectory("lfs_stream_in").toString
    spark.range(20).write.mode("append").parquet(streamIn)
    val streamDir = Files.createTempDirectory("lfs_stream")
    val memo = SessionMemo[String]("lfs-probe", "documents")(_ => ())
    val forks = permissionForks(processStarts {
      spark.range(100).selectExpr("id", "id % 7 AS k").write.parquet(parquetOut)
      WordCountJob.run(spark, wcIn, wcOut)
      memo(spark, TestSpark.sf)("built")
      memo(spark, TestSpark.sf)("hit")
      val q = spark.readStream.schema(spark.read.parquet(streamIn).schema).parquet(streamIn)
        .writeStream.format("parquet")
        .option("checkpointLocation", streamDir.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start(streamDir.resolve("out").toString)
      assert(q.awaitTermination(120000), "the micro-batch must finish")
    })
    assert(spark.read.parquet(streamDir.resolve("out").toString).count() == 20)
    assert(forks.isEmpty, s"${forks.size} permission forks: ${forks.take(5).mkString("; ")}")
  }

  test("parquet and WordCount outputs get the stock LocalFileSystem's modes, .crc and _SUCCESS included") {
    def parquet(out: String): Unit = spark.range(100).repartition(3).write.parquet(out)
    def wordCount(out: String): Unit = WordCountJob.run(spark, textInput(), out)
    for ((what, write) <- Seq("parquet" -> parquet _, "WordCount" -> wordCount _)) {
      val graft = Files.createTempDirectory("lfs_modes_graft").resolve("out")
      val stock = Files.createTempDirectory("lfs_modes_stock").resolve("out")
      write(graft.toString)
      underStockFs(write(stock.toString))
      val g = modes(graft)
      assert(g.keys.exists(_.endsWith(".crc")) && g.contains("_SUCCESS"), s"$what: $g")
      assert(g == modes(stock), what)
    }
  }

  test("a sticky-bit mkdirs and setPermission keep the stock modes through the fallback") {
    // mkdirs applies the umask, which clears the sticky bit on both
    // filesystems; setPermission passes it on, and only chmod can set it
    val perm = new FsPermission(Integer.parseInt("1777", 8).toShort)
    def stickyModes(fs: FileSystem): (Int, Int) = {
      val p = Files.createTempDirectory("lfs_sticky").resolve("d")
      val hp = new org.apache.hadoop.fs.Path(p.toUri)
      def mode = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
      assert(fs.mkdirs(hp, perm))
      val made = mode
      fs.setPermission(hp, perm)
      (made, mode)
    }
    val graft = stickyModes(FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration))
    val stock = underStockFs(stickyModes(FileSystem.get(new URI("file:///"),
      spark.sessionState.newHadoopConf())))
    assert(graft == stock)
    assert(Integer.toOctalString(graft._2).endsWith("1777"), Integer.toOctalString(graft._2))
  }

  test("rename onto an existing file is refused, per Hadoop's rename contract") {
    val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val dir = Files.createTempDirectory("lfs_rename")
    Files.writeString(dir.resolve("a"), "a")
    Files.writeString(dir.resolve("b"), "b")
    def p(n: String) = new org.apache.hadoop.fs.Path(dir.resolve(n).toUri)
    assert(!fs.rename(p("a"), p("b")))
    assert(Files.readString(dir.resolve("a")) == "a" && Files.readString(dir.resolve("b")) == "b")
    assert(fs.rename(p("a"), p("c")) && Files.readString(dir.resolve("c")) == "a")
  }

  test("file:// resolves to the graft classes in QueryRun.session and WordCountJob.execute sessions") {
    val s = QueryRun.session("graft-tests", 4)
    resolvesToGraft(s.sparkContext.hadoopConfiguration)
    resolvesToGraft(s.sessionState.newHadoopConf())
    val out = Files.createTempDirectory("lfs_exec").resolve("out").toString
    assert(WordCountJob.execute(Array(textInput(), out)) == 0)
    resolvesToGraft(org.apache.spark.sql.SparkSession.getActiveSession.get
      .sparkContext.hadoopConfiguration)
  }

  test("a fresh JVM's WordCountJob CLI session starts no chmod/ls process") {
    // the in-JVM tests share one SparkContext; this one checks the session
    // WordCountJob.execute builds itself, in a JVM that records its own
    // process starts
    val out = Files.createTempDirectory("lfs_cli").resolve("out")
    val jfr = Files.createTempFile("lfs_cli", ".jfr")
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq.filter(_.startsWith("--add-opens"))
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString, "-Xmx1g",
      s"-XX:StartFlightRecording:filename=$jfr", "-cp", sys.props("java.class.path")) ++
      opens ++ Seq("graft.wordcount.WordCountJob", "-Dspark.master=local[2]",
        textInput(), out.toString)
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .redirectOutput(Files.createTempFile("lfs_cli", ".log").toFile).start()
    assert(proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS), "WordCountJob must exit")
    assert(proc.exitValue == 0)
    val commands = RecordingFile.readAllEvents(jfr).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    Files.delete(jfr)
    assert(Files.readAllLines(out.resolve(Files.list(out).iterator().asScala
      .map(_.getFileName.toString).find(_.startsWith("part-")).get)).asScala ==
      Seq("a\t2", "b\t3", "c\t1"))
    assert(permissionForks(commands).isEmpty, commands.take(5).mkString("; "))
  }
}
