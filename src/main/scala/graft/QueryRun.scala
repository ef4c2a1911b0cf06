package graft

import java.nio.file.{Files, Paths}
import java.util.Locale

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query-run core under every harness main: one session path, one
  * query-name check, one timed run and one artifact format. Each main
  * (Bench, Stress, StreamStress, ShuffleAudit, Explain, Verify,
  * RunQuery, CcBench, RankProbe) is a preset over these pieces.
  */
object QueryRun {

  /** Worker threads: `SPARK_GRAFT_CPUS`, else the available processors. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cpus]` engine session with as many shuffle partitions as
    * threads, logging at WARN. */
  def session(app: String, cpus: Int = cpus): SparkSession = {
    val spark = graft.core.GraftSession
      .builder(app, s"local[$cpus]", shufflePartitions = cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The registered query names in sorted order, or only the `only` ones.
    * Fails on an unknown name before any work: a typo in a targeted run
    * must not produce a success-looking empty artifact.
    */
  def names(only: Seq[String]): Seq[String] = {
    val unknown = only.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
  }

  /** What a timed run does with a query's frame. */
  sealed trait Action
  /** `count()`: Bench's contract, which lets Catalyst prune unread columns. */
  case object Count extends Action
  /** Executes the frame's own physical plan, so its metrics are readable. */
  case object ToRdd extends Action
  case object Collect extends Action
  /** Writes every row as one parquet file at `path`, replacing it. */
  final case class Parquet(path: String) extends Action

  /** Seconds taken by `f`, with its result. */
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Builds query `name` at `dir` and applies `action`, timing both (a
    * query's memo builds happen while its frame is built). Returns the
    * frame and its seconds, or what the query threw.
    */
  def attempt(spark: SparkSession, name: String, dir: String,
      action: Action): Either[Throwable, (DataFrame, Double)] =
    try Right(time {
      val df = SparkEntry.queries(name)(spark, dir)
      action match {
        case Count => df.count()
        case ToRdd => df.queryExecution.toRdd.count()
        case Collect => df.collect()
        case Parquet(path) => df.coalesce(1).write.mode("overwrite").parquet(path)
      }
      df
    })
    catch { case e: Throwable =>
      System.err.println(s"[graft] $name failed: ${e.getMessage}")
      Left(e)
    }

  /** Seconds for one run of `name`, or -1 if it threw, so a crash can
    * never read as a fast run. */
  def run(spark: SparkSession, name: String, dir: String,
      action: Action = Count): Double =
    attempt(spark, name, dir, action).fold(_ => -1.0, _._2)

  /** A decimal in artifact form; a negative value marks a failure and
    * prints as -1. Locale.ROOT: the JVM default locale may use a decimal
    * comma, and `0,123` is not JSON. */
  def num(v: Double, digits: Int = 3): String =
    if (v < 0) "-1" else String.format(Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** A JSON string literal: quote, backslash and every control character
    * escaped. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => "\\u%04x".formatLocal(Locale.ROOT, c.toInt)
    case c => c.toString
  } + "\""

  /** A JSON array of strings. */
  def strs(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")

  /** Prints the artifact line and, given a path, writes it there too. */
  def emit(line: String, artifact: Option[String]): Unit = {
    println(line)
    artifact.foreach(f => Files.writeString(Paths.get(f), line + "\n"))
  }

  /** The `queries` object of a baseline artifact's last line, or None
    * when the file does not exist (a first run on a fresh machine). */
  def baseline(path: String): Option[JsonNode] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) None
    else Some(new ObjectMapper().readTree(
      Files.readString(p).trim.linesIterator.toList.last).get("queries"))
  }
}
