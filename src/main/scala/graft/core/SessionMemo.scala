package graft.core

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** A session memo: a value that is expensive to build per corpus and
  * cheap to reuse — a persisted frame, a driver-held model, an on-disk
  * copy. Every memo of the engine is one of these, and all of them
  * follow one contract:
  *
  *  - '''Key.''' (memo, session, dir, params) plus the [[Fingerprint]]
  *    of each table the memo declares, so a corpus that changes under a
  *    cached dir is a new key and its old value is never served.
  *  - '''Stale eviction.''' A lookup releases every entry of the same
  *    memo for the same (session, dir) whose fingerprint differs,
  *    whatever its params.
  *  - '''Build once.''' The first lookup of a key installs a holder and
  *    builds outside any lock, so a build may look up other memos;
  *    concurrent lookups of the key wait for that build. A build that
  *    throws leaves no entry: the next lookup builds again.
  *  - '''Release.''' Each memo names one release function for its value
  *    type. It runs once per built value, when the entry is evicted or
  *    invalidated — or, if that races the build, when the build
  *    completes. An on-disk memo's scratch directory is deleted after
  *    it. Exceptions from release are swallowed.
  *  - '''Invalidate.''' [[SessionMemo.invalidate]] releases every entry
  *    of every memo. Call it when a corpus changes in a way the
  *    fingerprint cannot see (an in-place rewrite that keeps every
  *    file's length and mtime), or when a long-lived JVM cycles
  *    sessions: entries hold their session. A value handed out before
  *    the call may be released while its user still reads it.
  */
final class SessionMemo[V] private (name: String, tables: Seq[String],
    release: V => Unit) {
  import SessionMemo._

  def apply(s: SparkSession, d: String, params: Any*)(build: => V): V =
    lookup(keyOf(s, d, params), None)(build)

  /** As [[apply]] for a value stored on disk: `build` writes under the
    * key's own scratch directory, which it is given, and the directory
    * is deleted when the entry is released. The path carries the JVM,
    * the session and the whole key, so two JVMs sharing
    * `java.io.tmpdir`, two sessions or two params never write to one
    * directory; its last component is unique to the key on its own.
    */
  def onDisk(s: SparkSession, d: String, params: Any*)(build: String => V): V = {
    val key = keyOf(s, d, params)
    val session = System.identityHashCode(s)
    val id = java.util.UUID.nameUUIDFromBytes(
      s"$jvmNonce|$session|$name|$d|${params.mkString(",")}|${key.fp}".getBytes("UTF-8"))
      .toString.replace("-", "").take(16)
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-$name/$jvmNonce/$session/$id").getAbsolutePath
    lookup(key, Some(dir))(build(dir))
  }

  private def keyOf(s: SparkSession, d: String, params: Seq[Any]): Key =
    Key(this, s, d, params, tables.map(Fingerprint.of(s, d, _)).mkString(":"))

  private def lookup(key: Key, dir: Option[String])(build: => V): V = {
    entries.keySet.asScala
      .filter(k => k.memo == this && k.session == key.session &&
        k.dir == key.dir && k.fp != key.fp)
      .foreach(k => Option(entries.remove(k)).foreach(_.release()))
    val mine = new Entry(v => release(v.asInstanceOf[V]), dir)
    entries.putIfAbsent(key, mine) match {
      case null =>
        val v = try build catch {
          case t: Throwable =>
            entries.remove(key, mine)
            dir.foreach(p => deleteRecursively(new java.io.File(p)))
            mine.value.completeExceptionally(t)
            throw t
        }
        mine.value.complete(v)
        v
      case other =>
        try other.value.join().asInstanceOf[V]
        catch { case e: CompletionException => throw e.getCause }
    }
  }
}

object SessionMemo {

  def apply[V](name: String, tables: String*)(release: V => Unit): SessionMemo[V] =
    new SessionMemo(name, tables, release)

  /** A memo of one frame, released by [[unpersist]]. */
  def frame(name: String, tables: String*): SessionMemo[DataFrame] =
    apply[DataFrame](name, tables: _*)(unpersist(_))

  /** Release every entry of every memo. */
  def invalidate(): Unit =
    entries.keySet.asScala.foreach(k => Option(entries.remove(k)).foreach(_.release()))

  /** Release function for frames: unpersist each one. A localCheckpoint
    * frame is a scan of its checkpointed RDD, which `Dataset.unpersist`
    * leaves in place, so that RDD is unpersisted too.
    */
  def unpersist(frames: DataFrame*): Unit = frames.foreach { df =>
    swallow(df.unpersist())
    df.queryExecution.logical match {
      case r: LogicalRDD => swallow(r.rdd.unpersist())
      case _ =>
    }
  }

  private final case class Key(memo: SessionMemo[_], session: SparkSession,
      dir: String, params: Seq[Any], fp: String)

  private final class Entry(onRelease: Any => Unit, dir: Option[String]) {
    val value = new CompletableFuture[Any]
    def release(): Unit = value.whenComplete { (v: Any, err: Throwable) =>
      if (err == null) {
        swallow(onRelease(v))
        dir.foreach(p => deleteRecursively(new java.io.File(p)))
      }
    }: Unit
  }

  private val entries = new ConcurrentHashMap[Key, Entry]

  private val jvmNonce: String =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName
      .replaceAll("[^A-Za-z0-9]", "_")

  private def swallow(f: => Any): Unit =
    try { f; () } catch { case _: Throwable => () }

  private def deleteRecursively(f: java.io.File): Unit = {
    val sub = f.listFiles()
    if (sub != null) sub.foreach(deleteRecursively)
    f.delete(): Unit
  }
}
