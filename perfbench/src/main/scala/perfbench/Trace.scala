package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval around a call into a layer. `parent` is the id of
  * the span open when this one started (-1 for a root span). */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    run: String, startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** In-memory span recorder. Disabled, `span` only runs its body, so an
  * untraced operation pays nothing but a branch. Times are epoch milliseconds
  * with sub-millisecond precision (nanoTime offset from one anchor), so
  * spans and Spark's task times share a clock. */
final class Tracer(run: String) {
  var enabled = false
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private val stack = scala.collection.mutable.Stack[Int]()
  val spans = ArrayBuffer[Span]()

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, layer, parent, run, nowMs, Double.NaN)
      stack.push(id)
      val start = spans(id).startMs
      try body
      finally {
        stack.pop()
        spans(id) = Span(id, name, layer, parent, run, start, nowMs)
      }
    }
}

object Tracer {
  /** Seconds per layer that the layer's spans spend outside their own
    * child spans. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Seq.empty).map(k => (k.startMs, k.endMs))
      s.layer -> (s.seconds - Intervals.union(kids) / 1000.0)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

object Intervals {
  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- iv.sortBy(_._1)) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Clip intervals to [lo, hi). */
  def clip(iv: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(p => p._2 > p._1)
}

final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
    ok: Boolean, runMs: Long, gcMs: Long, shuffleWrite: Long,
    shuffleRead: Long, fetchWaitMs: Long, spill: Long, inBytes: Long,
    inRecords: Long, outBytes: Long, outRecords: Long)

/** Counts Spark's own work: jobs (with the harness phase that submitted
  * them) and tasks with their metrics. Registered only while a traced
  * operation runs. */
final class Counters extends SparkListener {
  val jobs = ArrayBuffer[(Int, Long, String)]() // id, submit ms, phase
  val tasks = ArrayBuffer[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Counters.PhaseKey))).getOrElse("")
    jobs += ((e.jobId, e.time, phase))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, i.successful,
      g(_.executorRunTime), g(_.jvmGCTime),
      g(_.shuffleWriteMetrics.bytesWritten),
      g(t => t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
      g(_.shuffleReadMetrics.fetchWaitTime),
      g(t => t.diskBytesSpilled + t.memoryBytesSpilled),
      g(_.inputMetrics.bytesRead), g(_.inputMetrics.recordsRead),
      g(_.outputMetrics.bytesWritten), g(_.outputMetrics.recordsWritten))
  }
}

object Counters {
  val PhaseKey = "perfbench.phase"
}

/** JVM-wide counters read through the management beans. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds: Double = os.getProcessCpuTime / 1e9
  def jitSeconds: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  /** Heap in use after a full collection, in MB: the live set, including
    * the session's cached frames. */
  def liveHeapMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set (VmHWM) in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => p.productIterator.map(apply).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}
