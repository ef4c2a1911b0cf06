package graft.core

import org.apache.spark.sql.SparkSession

/** Session bootstrap for the graft engine.
  *
  * Tuned for the driver's harness (single-JVM `local[N]`) but with the
  * settings we would ship on a real cluster: AQE on (runtime shuffle
  * coalescing + skew-join splitting), shuffle parallelism sized to the
  * executor count rather than Spark's default 200, UTC session time zone
  * (fixture timestamps are UTC — see FIXTURES.md §B).
  *
  * Unlike the reference driver (which drops `-D` overrides on the floor —
  * reference `WordCount.java:30` constructs a fresh Configuration instead of
  * using `getConf()`, SURVEY §2.1), `extraConf` entries here are actually
  * applied.
  */
object GraftSession {

  /** Shuffle parallelism derived from the session's actual parallelism
    * instead of a hard-coded constant: `local[N]` → N, anything else
    * (a real cluster, where executor count isn't knowable at
    * session-build time) → 0, meaning "don't pin": leave Spark's
    * default as the AQE coalesce ceiling and let
    * adaptive.coalescePartitions shrink per-stage parallelism to the
    * data at runtime — the shipping configuration for a 1000-executor
    * cluster, where any number pinned here would be wrong for most
    * stages of most queries.
    */
  private val LocalN = """local\[(\d+)(?:,\d+)?\]""".r
  private val LocalStar = """local\[\*(?:,\d+)?\]""".r
  def deriveShufflePartitions(master: String): Int = master match {
    case LocalN(n) => n.toInt
    case "local" => Runtime.getRuntime.availableProcessors()
    case LocalStar() => Runtime.getRuntime.availableProcessors()
    case _ => 0
  }

  def builder(
      appName: String = "graft",
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = -1,
      extraConf: Map[String, String] = Map.empty): SparkSession.Builder = {
    val derived =
      if (shufflePartitions > 0) shufflePartitions
      else deriveShufflePartitions(master)
    val b = SparkSession
      .builder()
      .appName(appName)
      .master(master)
      // custom Catalyst expressions on the SQL surface (FunctionRegistry)
      .withExtensions(new GraftExtensions)
      // 175 registered queries × several codegen stages each blow out
      // the 100-entry default generated-class cache, so every sweep
      // re-Janino-compiles and re-JITs stages it already ran — the
      // churn behind the code-cache turnover measured in the r15
      // instrumented sweep (and CPU burnt on the driver re-compiling
      // identical source). Static conf: must be set before the
      // session exists. Entries hold class references; ~1000 generated
      // classes is tens of MB of metaspace — cheap beside the 16-32g
      // heap this engine runs with.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    if (derived > 0) b.config("spark.sql.shuffle.partitions", derived.toString)
    extraConf.foreach { case (k, v) => b.config(k, v) }
    b
  }
}
