package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives, all built from codegen'd Spark SQL
  * built-ins (no Scala UDFs anywhere — SURVEY §4.2: parity and the
  * north-star text operators need zero custom Catalyst surface).
  *
  * Tokenization semantics reproduce the reference mapper
  * (`MapClass.java:22`: `new StringTokenizer(line, " ")`): split on the
  * single character U+0020, never emit empty tokens (runs of spaces
  * collapse; leading/trailing spaces dropped) — SURVEY §2.4. Spark's
  * `split` alone is NOT equivalent (it emits `""` for collapsed runs);
  * the non-empty filter is mandatory.
  */
object TextFunctions {

  /** StringTokenizer-equivalent tokenization: array of non-empty tokens.
    * Evaluated by the custom [[graft.functions.expressions.StringTokens]]
    * expression (single byte scan per row); [[tokensHof]] is the
    * built-ins-only formulation it is bit-equivalent to (spec-pinned in
    * ExpressionsSpec, and TokenizeSpec property-tests this one against
    * the JDK StringTokenizer oracle directly).
    */
  def tokens(text: Column): Column =
    graft.functions.expressions.TextExpressions.stringTokens(text)

  /** Spec formulation of [[tokens]] from composable built-ins. */
  def tokensHof(text: Column): Column =
    filter(split(text, " ", -1), t => t =!= lit(""))

  /** Number of tokens in a document. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Total characters across tokens (i.e. excluding separator spaces). */
  def tokenChars(toks: Column): Column =
    aggregate(transform(toks, t => length(t).cast("long")), lit(0L), (a, b) => a + b)

  /** Order-sensitive 64-bit-ish rolling document fingerprint.
    *
    * Polynomial rolling hash over the token sequence, mod 2^40 so the
    * intermediate product stays well inside Long range (acc < 2^40,
    * acc*1000003 < 2^60). Per-token value mixes the first code point and
    * the length; exact integer arithmetic, so any SQL engine folding the
    * same sequence computes the identical value (used by the DuckDB
    * oracle).
    */
  val FingerprintMod = 1099511627776L // 2^40
  val FingerprintMult = 1000003L

  def tokenVal(t: Column): Column =
    (ascii(t).cast("long") * lit(131L) + length(t).cast("long"))

  def rollingFingerprint(toks: Column): Column =
    aggregate(
      transform(toks, tokenVal(_)),
      lit(0L),
      (acc, v) => (acc * lit(FingerprintMult) + v) % lit(FingerprintMod))

  /** Per-language marker lexica for the heuristic language classifier.
    *
    * The classifier is a standard stopword-marker scorer: score each
    * language by how many tokens (with multiplicity) fall in its marker
    * set; predict the argmax with a fixed tie-break order. Marker sets are
    * arbitrary but fixed (drawn from the fixture vocabulary so scores are
    * non-degenerate on the synthetic corpus).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("hash", "merge", "group", "stream"),
    "en" -> Seq("the", "a", "value", "key", "data"),
    "es" -> Seq("table", "column", "row", "filter"),
    "fr" -> Seq("join", "order", "sort", "part"),
    "zh" -> Seq("spark", "batch", "window", "vector"))

  def markerScore(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers.map(lit): _*))).cast("long")

  /** Predicted language: argmax of marker scores, ties broken by the
    * fixed order of [[LangMarkers]] (de < en < es < fr < zh).
    */
  def langPredict(scores: Seq[(String, Column)]): Column = {
    val maxScore = greatest(scores.map(_._2): _*)
    scores.init.foldRight(lit(scores.last._1)) { case ((lang, s), rest) =>
      when(s === maxScore, lit(lang)).otherwise(rest)
    }
  }

  /** 16-bit SimHash over a token array from md5 hex-digit parity.
    *
    * Bit j of the fingerprint is set iff the sum over tokens of
    * (+1 if the (j+1)-th hex digit of md5(token) has odd ASCII code,
    * else -1) is strictly positive; null or empty input gives 0.
    * Engine-portable: md5 and ASCII are identical everywhere, so the
    * DuckDB oracle reproduces it exactly. Evaluated by the custom
    * [[graft.functions.expressions.SimHash16]] expression (one md5 per
    * token feeding all 16 counters); [[simhash16Hof]] is the
    * built-ins-only formulation it is bit-equivalent to.
    */
  def simhash16(toks: Column): Column =
    graft.functions.expressions.TextExpressions.simHash16(toks)

  def simhashBitContrib(tok: Column, j: Int): Column =
    when(ascii(substring(md5(tok), j + 1, 1)) % 2 === 1, lit(1L)).otherwise(lit(-1L))

  /** Spec formulation of [[simhash16]] from composable built-ins: one
    * transform/aggregate pass, and one md5 per token, per bit.
    */
  def simhash16Hof(toks: Column): Column = {
    val bitCols = (0 until 16).map { j =>
      val s = aggregate(transform(toks, t => simhashBitContrib(t, j)), lit(0L), (a, b) => a + b)
      when(s > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Band-window constants of the MinHash-LSH signature construction:
    * band b reads the [[BandHashWidth]]-hex-char window of md5(shingle)
    * at offset `1 + 2·b`. This is THE single source for every site that
    * must stay in lockstep — the batch signatures (Dedup.lshSignatures),
    * both streaming folds (StreamingOps), and the generated oracle SQL
    * (SparkEntry.lshSigCtes) all read these; a width/offset change in
    * one place now IS a change in all of them.
    */
  val BandHashWidth: Int = 16
  def bandOffset(b: Int): Int = 1 + 2 * b

  /** Token 3-gram shingles ("w1 w2 w3") over the ordered token sequence;
    * empty array for documents shorter than 3 tokens. Evaluated by the
    * custom [[graft.functions.expressions.TokenShingles]] expression (one
    * tight loop per row); [[shingles3Hof]] is the built-ins-only
    * formulation it is bit-equivalent to.
    */
  def shingles3(toks: Column): Column =
    graft.functions.expressions.TextExpressions.tokenShingles(toks, 3)

  /** Spec formulation of [[shingles3]] from composable built-ins (used by
    * tests to pin equivalence). The size guard matters: Spark's
    * `sequence(0, n)` with n < 0 generates a DESCENDING range rather than
    * an empty one.
    */
  def shingles3Hof(toks: Column): Column =
    when(toks.isNull, lit(null).cast("array<string>")) // match TokenShingles' null-in-null-out
      .when(size(toks) >= 3,
        transform(
          sequence(lit(0), size(toks) - 3),
          i => array_join(slice(toks, i + 1, lit(3)), " ")))
      .otherwise(array().cast("array<string>"))
}
