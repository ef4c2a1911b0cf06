package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Fingerprint

/** Pins the memo-key fingerprint's contract: content-change detection
  * on local dirs, and LOUD failure (never a constant fingerprint ⇒
  * silent stale-serve) when the scheme can't be listed.
  */
class FingerprintSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  test("fingerprint changes when a file is added, reverts when removed") {
    val dir = Files.createTempDirectory("fp_spec").toString
    val tbl = Paths.get(dir, "docs.parquet")
    Files.createDirectories(tbl)
    Files.writeString(tbl.resolve("part-0"), "a")
    val fp0 = Fingerprint.of(spark, dir, "docs")
    assert(fp0 == Fingerprint.of(spark, dir, "docs"), "must be stable")
    val extra = tbl.resolve("part-1")
    Files.writeString(extra, "b")
    val fp1 = Fingerprint.of(spark, dir, "docs")
    assert(fp1 != fp0, "new file must change the fingerprint")
    Files.delete(extra)
    assert(Fingerprint.of(spark, dir, "docs") == fp0,
      "identical listing must restore the fingerprint")
  }

  test("fingerprint changes when a file's length changes") {
    val dir = Files.createTempDirectory("fp_spec_len").toString
    val tbl = Paths.get(dir, "docs.parquet")
    Files.createDirectories(tbl)
    Files.writeString(tbl.resolve("part-0"), "a")
    val fp0 = Fingerprint.of(spark, dir, "docs")
    Files.writeString(tbl.resolve("part-0"), "longer content")
    assert(Fingerprint.of(spark, dir, "docs") != fp0)
  }

  test("unknown scheme fails loudly instead of yielding a constant fingerprint") {
    // A java.io.File walk would return an empty listing for ANY
    // non-local URI — every such dir would share one constant
    // fingerprint and memos would serve stale frames silently. The
    // Hadoop FileSystem route throws on an unloadable scheme.
    val e = intercept[Exception] {
      Fingerprint.of(spark, "nosuchscheme://bucket/prefix", "docs")
    }
    assert(e.getMessage != null)
  }

  /** The fingerprint as it was taken with `listFiles(path, true)`. */
  private def listFilesFingerprint(dir: String, table: String): String = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    val entries = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(st => s"${st.getPath}:${st.getLen}:${st.getModificationTime}").toSeq
    java.util.UUID.nameUUIDFromBytes(entries.sorted.mkString("|").getBytes("UTF-8")).toString
  }

  test("fingerprint is byte-identical to the listFiles-derived one, single-file and directory tables") {
    assert(Fingerprint.of(spark, TestSpark.sf, "documents") ==
      listFilesFingerprint(TestSpark.sf, "documents"))
    // a directory table as Spark writes it: part files, .crc files, _SUCCESS
    // and a partition subdirectory
    val dir = Files.createTempDirectory("fp_spec_dir").toString
    spark.range(50).selectExpr("id", "id % 2 AS k").repartition(2)
      .write.partitionBy("k").parquet(s"$dir/docs.parquet")
    assert(Fingerprint.of(spark, dir, "docs") == listFilesFingerprint(dir, "docs"))
  }

  test("distinct missing local dirs share the empty fingerprint (benign: reads fail first)") {
    // Missing dir ⇒ empty listing ⇒ the well-known empty fingerprint.
    // Benign because any read of the same dir throws before a memo
    // could serve anything; pinned here so a change is a conscious one.
    val a = Fingerprint.of(spark, "/tmp/fp_spec_missing_a", "docs")
    val b = Fingerprint.of(spark, "/tmp/fp_spec_missing_b", "docs")
    assert(a == b)
  }
}
