package graft.core

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** Cheap content fingerprint for a parquet table under a fixture dir:
  * the sorted (path, length, mtime) listing, hashed. It is part of every
  * [[SessionMemo]] key, so files changing under a cached dir
  * mid-session — a streaming ingest landing docs, a stress-corpus
  * regeneration in a reused session — are DETECTED (stale entry
  * released, fresh one built) instead of silently served stale.
  * Listing + mtimes is a metadata-only pass: no file contents are
  * read, so taking the fingerprint costs microseconds even on wide
  * tables.
  *
  * Listing goes through the session's Hadoop `FileSystem`, so the
  * fingerprint works for any scheme the session can read (local,
  * HDFS, S3A, …) — a `java.io.File` walk would silently collapse
  * every non-local dir to one constant fingerprint, restoring the
  * serve-stale behavior the memo keys exist to prevent.
  *
  * Known granularity limit (inherent to metadata-only): an in-place
  * rewrite that preserves every file's length within the filesystem's
  * mtime granularity is undetected. Callers needing stronger
  * guarantees should call [[SessionMemo.invalidate]].
  */
object Fingerprint {

  def of(spark: SparkSession, dir: String, table: String): String = {
    val path = new Path(s"$dir/$table.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    // getFileStatus/listStatus, not listFiles: its LocatedFileStatus
    // reads each file's permission, which the local filesystem without
    // libhadoop gets by forking `ls -ld` (Spark's HadoopFSUtils avoids
    // it the same way). The entries are those of listFiles(path, true).
    def walk(st: FileStatus): Unit =
      if (st.isFile) entries += s"${st.getPath}:${st.getLen}:${st.getModificationTime}"
      else fs.listStatus(st.getPath).foreach(walk)
    val root = try Some(fs.getFileStatus(path))
      catch { case _: FileNotFoundException => None }
    root.foreach(walk)
    java.util.UUID
      .nameUUIDFromBytes(entries.sorted.mkString("|").getBytes("UTF-8"))
      .toString
  }
}
