package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions._
import graft.functions.Round.r6
import graft.ops.TextOps

/** The repeated-span family (q148, q149, q151) and the decontamination
  * rewrite (q152) in the formulation that preceded the per-document
  * position arrays and [[graft.functions.expressions.KeptTokens]]: a
  * gram-keyed count joined back to the exploded grams, a doc-keyed
  * islands window, q151's canonical groupBy + anti-join + two-arm union,
  * and the rewrite as posexplode(tokens) anti-joined against the
  * exploded covered positions and re-collected per document. Kept as
  * the reference the current plans are pinned against; the exact-text
  * contractions are re-derived here (unmemoized, unpersisted).
  */
object RepeatedSpanReference {

  private def textContraction(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), md5(col("text")).as("h_text"))
    val reps = base.groupBy("h_text")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("copies"))
    val membership = base.select("h_text", "doc_id")
      .join(reps.select("h_text", "rep"), Seq("h_text"))
      .select(col("rep"), col("doc_id"))
    val repDocs = base
      .join(reps.select(col("rep").as("doc_id"), col("copies")), Seq("doc_id"))
    (repDocs, membership)
  }

  private def benchSideContraction(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        (col("doc_id") % 100 === 0).as("is_bench"), md5(col("text")).as("h"))
    val reps = base.groupBy("is_bench", "h").agg(min("doc_id").as("rep"))
    val membership = base.select("is_bench", "h", "doc_id")
      .join(reps, Seq("is_bench", "h"))
      .select(col("is_bench"), col("doc_id"), col("rep"))
    val g = base.join(reps.select(col("rep").as("doc_id")), Seq("doc_id"))
    (g, membership)
  }

  private def repeatedStartFrames(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (repDocs, membership) = textContraction(s, d)
    val pg = TextOps.positionedGrams(repDocs, "doc_id", "pos")
    val repeatedHashes = pg
      .join(repDocs.select("doc_id", "copies"), Seq("doc_id"))
      .groupBy("h").agg(sum("copies").as("cnt"))
      .filter(col("cnt") >= 2L).select("h")
    val starts = pg.join(repeatedHashes, Seq("h")).select("doc_id", "pos", "h")
    (repDocs, membership, starts)
  }

  private def coveredPositions(starts: DataFrame): DataFrame =
    starts
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + 2)).as("pos"))
      .distinct()

  private def docPosToks(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))

  private def keptRewrite(posToks: DataFrame, covered: DataFrame): DataFrame =
    posToks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_kept"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x("tok")))).as("kept_md5"))

  private def finishRewrite(repDocs: DataFrame, kept: DataFrame): DataFrame =
    repDocs
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id").as("rep"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))

  def q148RepeatedSpans(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (repDocs, membership, starts) = repeatedStartFrames(s, d)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val runs = starts
      .withColumn("isl", col("pos") - row_number().over(w))
      .groupBy("doc_id", "isl").agg(count(lit(1)).as("run_grams"))
      .groupBy("doc_id")
      .agg(sum("run_grams").as("n_rep_grams"),
        (max("run_grams") + lit(2L)).as("longest_rep_run"))
    val covered = coveredPositions(starts)
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_tokens"))
    val perRep = repDocs
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= 3L)
      .join(runs, Seq("doc_id"), "left")
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id").as("rep"), col("n_tokens"),
        coalesce(col("n_rep_grams"), lit(0L)).as("n_rep_grams"),
        coalesce(col("longest_rep_run"), lit(0L)).as("longest_rep_run"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"))
    perRep.join(membership, Seq("rep"))
      .select(col("doc_id"), col("n_tokens"), col("n_rep_grams"),
        col("longest_rep_run"), col("n_dup_tokens"),
        r6(col("n_dup_tokens").cast("double") / col("n_tokens").cast("double"))
          .as("dup_fraction"))
  }

  def q149DedupRewrite(s: SparkSession, d: String): DataFrame = {
    val (repDocs, membership, starts) = repeatedStartFrames(s, d)
    val perRep = finishRewrite(repDocs,
      keptRewrite(docPosToks(repDocs), coveredPositions(starts)))
    perRep.join(membership, Seq("rep"))
      .select(col("doc_id"), col("n_tokens"), col("n_kept"), col("kept_md5"))
  }

  def q151DedupKeepFirst(s: SparkSession, d: String): DataFrame = {
    val (repDocs, membership, starts) = repeatedStartFrames(s, d)
    val canon = starts.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("c"))
      .select(col("h"), col("c.doc_id").as("doc_id"), col("c.pos").as("pos"))
    val removable = starts.join(canon, Seq("h", "doc_id", "pos"), "left_anti")
    val posToks = docPosToks(repDocs)
    val repRows = finishRewrite(repDocs,
      keptRewrite(posToks, coveredPositions(removable)))
      .select(col("rep").as("doc_id"), col("n_tokens"), col("n_kept"),
        col("kept_md5"))
    val multiReps = repDocs.filter(col("copies") >= 2L).select("doc_id")
    val memberRows = finishRewrite(repDocs.join(multiReps, Seq("doc_id")),
      keptRewrite(posToks.join(multiReps, Seq("doc_id")),
        coveredPositions(starts.join(multiReps, Seq("doc_id")))))
      .join(membership.filter(col("doc_id") =!= col("rep")), Seq("rep"))
      .select(col("doc_id"), col("n_tokens"), col("n_kept"), col("kept_md5"))
    repRows.unionByName(memberRows)
  }

  def q152DecontaminateRewrite(s: SparkSession, d: String,
      minRun: Int = 4): DataFrame = {
    val (g, membership) = benchSideContraction(s, d)
    val docs = g.filter(!col("is_bench"))
    val runs = TextOps.contaminationIslandRuns(
      TextOps.positionedGrams(docs, "train_doc", "pos_t"),
      TextOps.positionedGrams(g.filter(col("is_bench")), "bench_doc", "pos_b"))
      .filter(col("run_grams") + lit(2L) >= lit(minRun.toLong))
    val covered = runs
      .select(col("train_doc").as("doc_id"),
        explode(sequence(col("start_t"), col("start_t") + col("run_grams") + 1L))
          .as("pos"))
      .distinct()
    finishRewrite(docs, keptRewrite(docPosToks(docs), covered))
      .join(membership.filter(!col("is_bench")).select("rep", "doc_id"),
        Seq("rep"))
      .select(col("doc_id"), col("n_tokens"), col("n_kept"), col("kept_md5"))
  }
}
