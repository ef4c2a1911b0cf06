package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The measured-size broadcast-vs-shuffle choice for a memoized frame
  * whose row count is already known (its memo materializes with a
  * `.count()`, so the count is free): the phash band index (q155,
  * q156 and the streaming phash twin, rep-count rows of ~80 B) and
  * q121's per-rep member-id lists (one long per corpus doc).
  *
  * Under [[RowLimit]] rows the frame is `broadcast()`: at the limit
  * the largest such frame is ~80 MB, resident on every executor.
  * Above it the join takes a pinned SHUFFLE_HASH on its equality keys,
  * so a stats misestimate can't flip the plan back to a driver-killing
  * broadcast (at 100 TB both frames are O(corpus)) or to a needless
  * sort-merge. Spark's own `spark.sql.autoBroadcastJoinThreshold` below
  * 0 turns broadcasting off here too, as it does for unhinted joins:
  * a `broadcast()` hint would otherwise override it. Both plan shapes
  * are PlanSpec-gated.
  */
object BroadcastGate {
  val RowLimit = 1000000L

  def apply(df: DataFrame, rows: Long): DataFrame =
    if (rows <= RowLimit &&
        df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold >= 0)
      broadcast(df)
    else df.hint("shuffle_hash")
}
