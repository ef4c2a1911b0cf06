package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Head-to-head harness for the two connected-components variants
  * (min-label propagation vs small-star/large-star) — the measured
  * verdict the q69 default rests on (NOTES.md). Two graph families:
  *
  *  - `dup` — the 20× dup-heavy LSH candidate graph (band-collision
  *    cliques, tiny diameter): the shape q69 actually runs on;
  *  - `chain [n]` — a single path of n nodes (diameter n−1): the
  *    adversarial shape for propagation, whose round count is the
  *    diameter while star's is logarithmic.
  *
  * Prints wall time + round count per variant and asserts both produce
  * identical labels wherever both converge.
  *
  * Usage: runMain graft.CcBench dup|chain [n]
  */
object CcBench {

  private def run(name: String, pairs: DataFrame,
      propMaxIters: Int, starMaxIters: Int = 50): Unit = {
    // each variant's frame is counted under the timer, to materialize it
    def timed(variant: String)(cc: => (DataFrame, Int)): DataFrame = {
      val ((df, rounds, n), secs) = QueryRun.time {
        val (df, rounds) = cc
        (df, rounds, df.count())
      }
      println(s"$name $variant ${QueryRun.num(secs, 2)} s, rounds=$rounds, labels=$n")
      df
    }
    val propagation = timed("propagation:")(
      Dedup.connectedComponentsWithRounds(pairs, propMaxIters))
    val star = timed("star:       ")(
      Dedup.connectedComponentsStarWithRounds(pairs, starMaxIters))
    val diff = propagation.exceptAll(star).count() +
      star.exceptAll(propagation).count()
    println(s"$name label diff (must be 0 when both converged): $diff")
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("dup")
    val spark = QueryRun.session("graft-ccbench")
    mode match {
      case "dup" =>
        val dir = "/tmp/graft-stress"
        require(new java.io.File(s"$dir/documents.parquet").exists(),
          s"generate the stress corpus first: scripts/stress.sh")
        // build + persist the candidate frame OUTSIDE the timers so both
        // variants measure the CC pass alone, not the shared LSH join
        val pairs = Dedup.lshCandidatePairs(spark, dir)
        pairs.count()
        run("dup-heavy 20x", pairs, propMaxIters = 20)
      case "chain" =>
        val n = args.lift(1).map(_.toInt).getOrElse(512)
        val pairs = spark.range(n - 1)
          .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
          .persist()
        pairs.count()
        // propagation needs diameter rounds — cap high enough to converge
        // so the wall-clock comparison is honest
        run(s"chain n=$n", pairs, propMaxIters = n + 1)
      case other => sys.error(s"unknown mode $other (dup|chain [n])")
    }
    spark.stop()
  }
}
