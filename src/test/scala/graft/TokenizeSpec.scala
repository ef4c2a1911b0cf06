package graft

import java.util.StringTokenizer

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextFunctions, TokenCountTable}

/** Pins tokenization to the reference mapper's semantics
  * (`MapClass.java:22`: `new StringTokenizer(line, " ")`) — SURVEY §2.4.
  * The JDK StringTokenizer itself is the executable oracle; the property
  * test uses seeded random lines (scalatestplus isn't in the offline
  * dependency cache, so generation is hand-rolled).
  */
class TokenizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def engineTokens(lines: Seq[String]): Seq[Seq[String]] = {
    import spark.implicits._
    lines.toDF("value")
      .select(TextFunctions.tokens(col("value")).as("t"))
      .as[Seq[String]].collect().toSeq
  }

  private def oracleTokens(line: String): Seq[String] = {
    val st = new StringTokenizer(line, " ")
    Iterator.continually(st).takeWhile(_.hasMoreTokens).map(_.nextToken()).toSeq
  }

  test("SURVEY §2.4 semantics table") {
    val cases = Seq(
      "hello world" -> Seq("hello", "world"),
      "  leading  and   multiple spaces  " -> Seq("leading", "and", "multiple", "spaces"),
      "tab\tseparated stays\ttogether" -> Seq("tab\tseparated", "stays\ttogether"),
      "" -> Seq(),
      "   " -> Seq(),
      "punct, kept! as-is." -> Seq("punct,", "kept!", "as-is."))
    val got = engineTokens(cases.map(_._1))
    cases.zip(got).foreach { case ((in, want), actual) =>
      assert(actual == want, s"input=<$in>")
    }
  }

  // multi-space runs, leading/trailing spaces, empty lines, tabs inside
  // tokens, 2/3/4-byte UTF-8
  private def randomLines(seed: Int, n: Int, maxAtoms: Int): Seq[String] = {
    val rng = new scala.util.Random(seed)
    val atoms = Seq(" ", " ", "\t", "é", "中", "😀", ",", ".", "ab", "Xy9", "—")
    Seq.fill(n) {
      Seq.fill(rng.nextInt(maxAtoms))(atoms(rng.nextInt(atoms.length))).mkString
    }
  }

  test("property: engine tokenizer ≡ java.util.StringTokenizer(line, \" \") on random lines") {
    val lines = randomLines(42, 200, 12)
    val got = engineTokens(lines)
    lines.zip(got).foreach { case (line, actual) =>
      assert(actual == oracleTokens(line), s"input=<$line>")
    }
  }

  /** (token, partial count) rows of the fused map-side counter. */
  private def kernelPartials(lines: Seq[String], table: TokenCountTable): Seq[(String, Long)] =
    TokenCountTable.partialCounts(
      lines.iterator.map(l => if (l == null) null else UTF8String.fromString(l)), table) { (t, e) =>
      (new String(t.arena, t.offset(e), t.length(e), "UTF-8"), t.count(e))
    }.toSeq

  test("token-count kernel ≡ StringTokenizer counts, at default and tiny table bounds") {
    val lines = randomLines(7, 400, 24) ++ Seq("", "   ", null, "a a a", " b  b ")
    val want = lines.filter(_ != null).flatMap(oracleTokens).groupMapReduce(identity)(_ => 1L)(_ + _)
    // tiny bounds force the flush-and-re-merge path, including flushes
    // in the middle of a line and a token longer than the whole arena
    val bounds = Seq((TokenCountTable.MaxEntries, TokenCountTable.MaxArenaBytes),
      (1, 1), (2, 3), (3, 64), (64, 5))
    for ((entries, arena) <- bounds) {
      val partial = kernelPartials(lines, new TokenCountTable(entries, arena))
      val clue = s"maxEntries=$entries maxArenaBytes=$arena"
      // summed per token, as the final aggregate does
      assert(partial.groupMapReduce(_._1)(_._2)(_ + _) == want, clue)
      // one row per distinct token unless the table filled and drained early
      if (entries == TokenCountTable.MaxEntries) assert(partial.length == want.size, clue)
      else assert(partial.length > want.size, clue)
    }
  }
}
