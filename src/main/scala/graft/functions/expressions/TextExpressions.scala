package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Token n-gram shingling as a single Catalyst expression.
  *
  * Semantically identical to the composable formulation
  * `transform(sequence(0, size(t)-n), i -> array_join(slice(t, i+1, n), " "))`
  * (which remains in TextFunctions as the spec / oracle mirror), but one
  * tight loop over the backing ArrayData instead of three nested
  * interpreted higher-order functions — the HOF version cost ~7 µs per
  * shingle and dominated the MinHash pipeline.
  *
  * CodegenFallback is fine here: the expression runs once per DOCUMENT
  * row (not per shingle/pair), so interpretation overhead is negligible.
  */
case class TokenShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  require(n >= 1, "shingle width must be >= 1")

  // wrong-typed input is an ANALYSIS error, not a runtime ClassCastException
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(ArrayType(StringType))

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "token_shingles"

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val len = arr.numElements()
    val m = math.max(0, len - n + 1)
    val out = new Array[AnyRef](m)
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) {
        parts(j) = arr.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** StringTokenizer-equivalent tokenization as one tight byte scan.
  *
  * Semantically identical to `filter(split(text, " ", -1), t => t <> "")`
  * (kept in TextFunctions as `tokensHof`, the spec / oracle mirror), but
  * a single pass over the UTF-8 bytes instead of a regex split plus an
  * interpreted higher-order filter. Tokenization runs under every
  * explode in the text family — word count, TF-IDF, shingles, stats —
  * so it is the hottest scalar in the engine. Splitting on the single
  * byte 0x20 is UTF-8-safe: an ASCII byte never occurs inside a
  * multi-byte sequence.
  *
  * CodegenFallback is fine: one call per document ROW (not per token);
  * the per-row loop is the win, codegen would only shave the call.
  */
case class StringTokens(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  // wrong-typed input is an ANALYSIS error, not a runtime ClassCastException
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(StringType)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "string_tokens"

  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[UTF8String].getBytes
    val out = new java.util.ArrayList[AnyRef](8)
    var start = 0
    var i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == 0x20) {
        if (i > start) out.add(UTF8String.fromBytes(b, start, i - start))
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-document term frequencies in ONE byte scan:
  * `array<struct<token string, cnt int>>` over StringTokenizer-faithful
  * tokens (same 0x20-split/empty-suppression contract as
  * [[StringTokens]]). Semantically `explode(tokens) → groupBy(token) →
  * count` per row, but computed row-local — downstream consumers
  * (TF-IDF) explode one row per DISTINCT term instead of one per token
  * occurrence, and need NO shuffle to obtain tf. Struct order is
  * first-occurrence order; consumers must not depend on it (and don't —
  * everything downstream re-sorts or aggregates).
  *
  * CodegenFallback for the usual reason: one call per document ROW.
  */
case class TokenCounts(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[Bridge.AbstractType] = Seq(StringType)

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("token", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("cnt",
        org.apache.spark.sql.types.IntegerType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "token_counts"

  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[UTF8String].getBytes
    val counts = new java.util.LinkedHashMap[UTF8String, Int](16)
    var start = 0
    var i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == 0x20) {
        if (i > start) {
          val t = UTF8String.fromBytes(b, start, i - start)
          counts.put(t, counts.getOrDefault(t, 0) + 1)
        }
        start = i + 1
      }
      i += 1
    }
    val out = new Array[AnyRef](counts.size())
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = org.apache.spark.sql.catalyst.InternalRow(e.getKey, e.getValue)
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `size(array_intersect(a, b))` without materializing the intersection
  * array — the verify-stage scalar of the Jaccard join, evaluated once
  * per CANDIDATE PAIR (millions of times on a dup-heavy corpus), which
  * is why it carries real codegen (`doGenCode`) like FloatDot rather
  * than CodegenFallback. Counts DISTINCT elements of `a` present in `b`
  * (identical contract to size(array_intersect) for any inputs, not
  * just pre-distincted ones — including null elements, which
  * array_intersect treats as a value: null counts once iff present on
  * both sides).
  */
case class ArrayIntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {

  // wrong-typed input is an ANALYSIS error, not a runtime ClassCastException
  override def inputTypes: Seq[Bridge.AbstractType] =
    Seq(ArrayType(StringType), ArrayType(StringType))

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def prettyName: String = "array_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val inB = new java.util.HashSet[UTF8String](y.numElements() * 2)
    var bHasNull = false
    var i = 0
    while (i < y.numElements()) {
      if (y.isNullAt(i)) bHasNull = true else inB.add(y.getUTF8String(i))
      i += 1
    }
    val seen = new java.util.HashSet[UTF8String](x.numElements() * 2)
    var aHadNull = false
    var cnt = 0
    var j = 0
    while (j < x.numElements()) {
      if (x.isNullAt(j)) {
        if (!aHadNull) { aHadNull = true; if (bHasNull) cnt += 1 }
      } else {
        val t = x.getUTF8String(j)
        if (inB.contains(t) && seen.add(t)) cnt += 1
      }
      j += 1
    }
    cnt
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val inB = ctx.freshName("inB")
      val seen = ctx.freshName("seen")
      val cnt = ctx.freshName("cnt")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val t = ctx.freshName("t")
      val bHasNull = ctx.freshName("bHasNull")
      val aHadNull = ctx.freshName("aHadNull")
      // raw HashSet: janino compiles no generics
      s"""
         |java.util.HashSet $inB = new java.util.HashSet($b.numElements() * 2);
         |boolean $bHasNull = false;
         |for (int $i = 0; $i < $b.numElements(); $i++) {
         |  if ($b.isNullAt($i)) { $bHasNull = true; }
         |  else { $inB.add($b.getUTF8String($i)); }
         |}
         |java.util.HashSet $seen = new java.util.HashSet($a.numElements() * 2);
         |boolean $aHadNull = false;
         |int $cnt = 0;
         |for (int $j = 0; $j < $a.numElements(); $j++) {
         |  if ($a.isNullAt($j)) {
         |    if (!$aHadNull) { $aHadNull = true; if ($bHasNull) $cnt++; }
         |  } else {
         |    org.apache.spark.unsafe.types.UTF8String $t = $a.getUTF8String($j);
         |    if ($inB.contains($t) && $seen.add($t)) $cnt++;
         |  }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Unicode accent stripping: NFD decomposition, drop ALL mark
  * categories (Mn/Mc/Me) by CODE POINT, then NFC recomposition — the
  * utf8proc strip-mark pipeline DuckDB's `strip_accents` runs, verified
  * against it on Latin (é→e, ü→u, ñ→n, ç→c), kana (ば→は), Hangul
  * (한 stays COMPOSED — hence the NFC pass; NFD residue would differ),
  * and supplementary-plane marks (U+1D165/U+11100 stripped — hence
  * code-point iteration; a char loop never sees a surrogate pair's
  * category). Spark has no builtin for this; it is the accent-folding
  * half of the standard training-data normalization pass (q78).
  *
  * ASCII fast path: a byte scan decides whether the (expensive)
  * Normalizer passes are needed at all — on mostly-ASCII corpora the
  * expression is one branch per row. CodegenFallback for the usual
  * reason: one call per document ROW, not per pair/token.
  */
case class StripAccents(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  // wrong-typed input is an ANALYSIS error, not a runtime ClassCastException
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(StringType)

  override def dataType: DataType = StringType

  override def prettyName: String = "strip_accents"

  override def nullSafeEval(v: Any): Any = {
    val u = v.asInstanceOf[UTF8String]
    val bytes = u.getBytes
    var ascii = true
    var i = 0
    while (ascii && i < bytes.length) {
      if ((bytes(i) & 0x80) != 0) ascii = false
      i += 1
    }
    if (ascii) u
    else {
      val nfd = java.text.Normalizer.normalize(u.toString, java.text.Normalizer.Form.NFD)
      val sb = new java.lang.StringBuilder(nfd.length)
      var j = 0
      while (j < nfd.length) {
        val cp = nfd.codePointAt(j)
        val t = Character.getType(cp)
        if (t != Character.NON_SPACING_MARK &&
            t != Character.COMBINING_SPACING_MARK &&
            t != Character.ENCLOSING_MARK) sb.appendCodePoint(cp)
        j += Character.charCount(cp)
      }
      UTF8String.fromString(
        java.text.Normalizer.normalize(sb.toString, java.text.Normalizer.Form.NFC))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** q145's linear-classifier margin fold as ONE per-document byte scan:
  * `struct<n_tokens bigint, margin_milli bigint>` over StringTokenizer-
  * faithful tokens (same 0x20-split / empty-suppression contract as
  * [[StringTokens]]).
  *
  * Semantically identical to the composable formulation it replaces
  * (kept as the spec / oracle mirror in ExpressionsSpec and the DuckDB
  * oracle SQL):
  * `explode(tokens(text))` → bucket = `conv(substring(md5(tok),1,3),16,10)`
  * → broadcast-join `range(0,4096)`-derived weights
  * `w = bucket·2654435761 mod 2001 − 1000` → `groupBy(doc)` count/sum.
  * The first 3 lowercase-hex md5 chars ARE the digest's first 12 bits
  * ((b0 & 0xff) << 4 | (b1 & 0xff) >>> 4 — hex char k is nibble k), and
  * the weight formula is a pure function of that bucket, so folding it
  * inline per token is bit-identical to the join; Long addition is
  * order-insensitive. What the rewrite removes from the query plan:
  * the corpus×tokens `Generate` (explode), the per-token hex-string
  * md5 + substring + conv parsing, the broadcast join, and the
  * doc-keyed HashAggregate + its full-width Exchange (one row per doc)
  * — the margin becomes a map-side column on the scan (guide §2.4:
  * remove shuffles outright; §4: keep per-row work in one tight loop).
  *
  * A task-local token→weight memo (the expression instance is
  * deserialized per task; bounded at [[LinearMarginMilli.MemoCap]]
  * entries, insert-only) exploits the Zipf shape of natural-language
  * corpora: most md5 digests are replaced by one hash-map probe. It
  * caches a pure deterministic function of the token bytes — never a
  * query result — and dies with the task.
  *
  * CodegenFallback for the usual reason: one call per document ROW,
  * not per token; the per-row loop is the win.
  */
case class LinearMarginMilli(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  // wrong-typed input is an ANALYSIS error, not a runtime ClassCastException
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(StringType)

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_tokens",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("margin_milli",
      org.apache.spark.sql.types.LongType, nullable = false)))

  override def prettyName: String = "linear_margin_milli"

  @transient private lazy val digest =
    java.security.MessageDigest.getInstance("MD5")
  @transient private lazy val memo =
    new java.util.HashMap[String, java.lang.Long](1 << 12)

  private def weightOf(b: Array[Byte], start: Int, len: Int): Long = {
    val key = new String(b, start, len, java.nio.charset.StandardCharsets.UTF_8)
    val cached = memo.get(key)
    if (cached != null) cached.longValue()
    else {
      digest.reset()
      digest.update(b, start, len)
      val h = digest.digest()
      // first 12 digest bits == value of md5's first 3 hex chars
      val bucket = ((h(0) & 0xff) << 4) | ((h(1) & 0xff) >>> 4)
      val w = bucket.toLong * 2654435761L % 2001L - 1000L
      if (memo.size < LinearMarginMilli.MemoCap) memo.put(key, w)
      w
    }
  }

  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[UTF8String].getBytes
    var n = 0L
    var margin = 0L
    var start = 0
    var i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == 0x20) {
        if (i > start) {
          n += 1L
          margin += weightOf(b, start, i - start)
        }
        start = i + 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(n, margin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LinearMarginMilli {
  /** Memo bound: ~131k distinct tokens cover a Zipf corpus's hot mass;
    * past it new tokens just pay their digest (insert-only, no eviction
    * churn). ~10 MB worst case per task at typical token lengths.
    */
  private[expressions] val MemoCap = 1 << 17
}

/** MOSS winnowing (Schleimer, Wilkerson, Aiken 2003) as ONE
  * per-document expression: the distinct per-window minima of the
  * doc's 3-shingle md5 stream under a trailing window of `w` shingles,
  * as `array<struct<h string, np bigint>>` — h the shingle's lowercase
  * md5 hex, np the NEGATED 0-based shingle position (the engine's
  * rightmost-min key encoding).
  *
  * Semantically identical to the formulation it replaces (kept as the
  * spec / oracle mirror in ExpressionsSpec and the DuckDB oracle SQL):
  * `posexplode(shingles3(tokens(text)))` → k = struct(md5(sh), −pos) →
  * `min(k) over (partition by doc_id order by pos rows w−1 preceding)`
  * → `where pos ≥ w−1` → distinct. Equivalence facts it relies on:
  * (1) struct (h, np) ordering is field-by-field, and comparing the
  * 16 raw digest BYTES unsigned equals comparing the 32-char lowercase
  * hex strings (hex is an order-preserving byte encoding); (2) a given
  * (h, pos) is the window minimum on a CONSECUTIVE run of windows only
  * (a monotonic deque entry, once popped, never returns), so dropping
  * repeats of the immediately-preceding selection IS the distinct;
  * (3) md5("t1 t2 t3") = digest over the tokens' UTF-8 bytes with a
  * 0x20 separator — no shingle string is ever materialized.
  *
  * What the rewrite removes from q118/q119's plan: the corpus×shingles
  * `Generate`, the doc-keyed Exchange + Window (the shingle stream was
  * shuffled only to be re-grouped by the document it came from), and
  * the distinct's second Exchange — the fingerprint set becomes a
  * map-side column of the document scan (guide §2.4). The per-doc work
  * is the same md5-per-shingle plus an O(m) deque.
  *
  * A doc with fewer than w full windows (m < w shingles) selects
  * nothing — the strict-winnowing contract. Null in → null out.
  * CodegenFallback for the usual reason: one call per document ROW.
  */
case class WinnowFingerprints(child: Expression, w: Int)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  require(w >= 1, "winnow window must be >= 1")

  // wrong-typed input is an ANALYSIS error, not a runtime ClassCastException
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(StringType)

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("h", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("np",
        org.apache.spark.sql.types.LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "winnow_fingerprints"

  @transient private lazy val digest =
    java.security.MessageDigest.getInstance("MD5")

  /** Unsigned lexicographic digest compare ≡ lowercase-hex string order. */
  private def cmp(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < 16) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    0
  }

  private def hex(dg: Array[Byte]): UTF8String = {
    val hc = WinnowFingerprints.HexBytes
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hc((dg(i) >> 4) & 0xf)
      out(2 * i + 1) = hc(dg(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[UTF8String].getBytes
    // tokenize to offset pairs (same 0x20-split / empty-suppression
    // contract as StringTokens)
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nTok = 0
    var start = 0
    var i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == 0x20) {
        if (i > start) {
          if (nTok == starts.length) {
            starts = java.util.Arrays.copyOf(starts, nTok * 2)
            ends = java.util.Arrays.copyOf(ends, nTok * 2)
          }
          starts(nTok) = start
          ends(nTok) = i
          nTok += 1
        }
        start = i + 1
      }
      i += 1
    }
    val m = nTok - 2 // 3-shingle count
    if (m < w) return new GenericArrayData(Array.empty[AnyRef])
    // sliding-window minimum by monotonic deque over (digest, −pos):
    // ties pop the back (the newer, larger-pos entry has the smaller
    // key), so the deque holds strictly increasing keys
    val ring = new Array[Array[Byte]](w) // digest of pos p lives at p % w
    // head/tail are absolute (never wrapped); each position is pushed
    // exactly once, so m slots bound the whole run
    val dq = new Array[Int](m)
    var dqHead = 0
    var dqTail = 0
    val sel = new java.util.ArrayList[AnyRef](2 * m / (w + 1) + 4)
    var lastSelPos = -1
    var p = 0
    while (p < m) {
      digest.reset()
      digest.update(b, starts(p), ends(p) - starts(p))
      digest.update(0x20.toByte)
      digest.update(b, starts(p + 1), ends(p + 1) - starts(p + 1))
      digest.update(0x20.toByte)
      digest.update(b, starts(p + 2), ends(p + 2) - starts(p + 2))
      val dg = digest.digest()
      // pop back while its key ≥ the new key (ring slot p % w still
      // holds pos p−w here, which the back can never be — positions in
      // the deque are > p−w−1 and the front-eviction below keeps them
      // ≥ p−w+1 from the previous iteration)
      while (dqTail > dqHead && cmp(ring(dq(dqTail - 1) % w), dg) >= 0)
        dqTail -= 1
      ring(p % w) = dg
      dq(dqTail) = p
      dqTail += 1
      if (dq(dqHead) < p - w + 1) dqHead += 1
      if (p >= w - 1) {
        val fp = dq(dqHead)
        if (fp != lastSelPos) {
          sel.add(org.apache.spark.sql.catalyst.InternalRow(
            hex(ring(fp % w)), -fp.toLong))
          lastSelPos = fp
        }
      }
      p += 1
    }
    new GenericArrayData(sel.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowFingerprints {
  private[expressions] val HexBytes =
    "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
}

/** The tokens of `tokens` that no interval of `cuts` covers, in
  * position order: `cuts` is `array<struct<lo bigint, hi bigint>>` of
  * INCLUSIVE 0-based position intervals. The one rewrite kernel of the
  * repeated-span family (q149, q151) and the decontamination rewrite
  * (q152 and its ingest twin): callers build a document's cut intervals
  * with one doc-keyed `collect_list`, and `n_kept` / `kept_md5` are
  * `size` / `md5(array_join(_, " "))` of the result.
  *
  * For cuts with non-null bounds, identical to the built-ins formulation
  * `filter(tokens, (t, i) -> NOT exists(cuts, c -> c.lo <= i AND i <= c.hi))`
  * (spec-pinned in ExpressionsSpec), which is O(tokens × cuts) and runs
  * interpreted; the linear built-ins alternative — posexplode every
  * token, anti-join the covered positions, re-collect — is a per-token
  * shuffle. Here the intervals merge through a difference array over
  * the token positions: +1 at `lo`, −1 after `hi`, one prefix sum, and
  * a token is kept iff its running depth is 0 — O(tokens + cuts), and
  * correct for ANY interval order, overlap, nesting or adjacency.
  * Intervals are clipped to the token range (a cut past the end covers
  * nothing there); a null cut, or one with a null bound, covers
  * nothing. Null `tokens` or null `cuts` → null.
  *
  * Real codegen (`doGenCode`), not CodegenFallback: it sits in the
  * rewrite's projection next to size/md5, so one generated loop keeps
  * the whole projection in the stage's compiled code.
  */
case class KeptTokens(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {

  // wrong-typed input is an ANALYSIS error, not a runtime ClassCastException
  override def inputTypes: Seq[Bridge.AbstractType] =
    Seq(ArrayType(StringType), ArrayType(KeptTokens.CutType))

  override def dataType: DataType = left.dataType

  override def prettyName: String = "kept_tokens"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val toks = a.asInstanceOf[ArrayData]
    val cuts = b.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val depth = new Array[Int](n + 1)
    var i = 0
    while (i < cuts.numElements()) {
      if (!cuts.isNullAt(i)) {
        val c = cuts.getStruct(i, 2)
        if (!c.isNullAt(0) && !c.isNullAt(1)) {
          val lo = math.max(c.getLong(0), 0L)
          val hi = math.min(c.getLong(1), n - 1L)
          if (lo <= hi) {
            depth(lo.toInt) += 1
            depth(hi.toInt + 1) -= 1
          }
        }
      }
      i += 1
    }
    val out = new java.util.ArrayList[AnyRef](n)
    var d = 0
    var j = 0
    while (j < n) {
      d += depth(j)
      if (d == 0) out.add(if (toks.isNullAt(j)) null else toks.getUTF8String(j))
      j += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val depth = ctx.freshName("depth")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val nKept = ctx.freshName("nKept")
      val d = ctx.freshName("d")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |int[] $depth = new int[$n + 1];
         |for (int $i = 0; $i < $b.numElements(); $i++) {
         |  if (!$b.isNullAt($i)) {
         |    org.apache.spark.sql.catalyst.InternalRow $c = $b.getStruct($i, 2);
         |    if (!$c.isNullAt(0) && !$c.isNullAt(1)) {
         |      long $lo = java.lang.Math.max($c.getLong(0), 0L);
         |      long $hi = java.lang.Math.min($c.getLong(1), $n - 1L);
         |      if ($lo <= $hi) {
         |        $depth[(int) $lo]++;
         |        $depth[(int) $hi + 1]--;
         |      }
         |    }
         |  }
         |}
         |int $nKept = 0;
         |int $d = 0;
         |for (int $j = 0; $j < $n; $j++) {
         |  $d += $depth[$j];
         |  $depth[$j] = $d;
         |  if ($d == 0) $nKept++;
         |}
         |Object[] $out = new Object[$nKept];
         |int $k = 0;
         |for (int $j = 0; $j < $n; $j++) {
         |  if ($depth[$j] == 0) {
         |    $out[$k++] = $a.isNullAt($j) ? null : $a.getUTF8String($j);
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object KeptTokens {
  /** Element type of the `cuts` argument: one inclusive interval. */
  val CutType: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("lo", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("hi", org.apache.spark.sql.types.LongType)))
}

/** 16-bit SimHash of a token array from md5 hex-digit parity, with ONE
  * md5 per token.
  *
  * Bit j is set iff, summed over the tokens, (+1 if the (j+1)-th hex
  * digit of md5(token) has an odd ASCII code, else −1) is strictly
  * positive — the contract of `TextFunctions.simhash16Hof` (the spec /
  * oracle mirror, pinned in ExpressionsSpec). That formulation runs 16
  * interpreted transform/aggregate passes per row, each hashing every
  * token again; here one digest per token feeds all 16 counters. Hex
  * digit j is the high (even j) or low (odd j) nibble `v` of digest
  * byte j/2, and its ASCII code ('0'..'9' = 48..57, 'a'..'f' = 97..102)
  * is odd iff (v < 10) == (v is odd).
  *
  * Tokens are counted as given (no dedup inside the kernel). A null
  * token contributes −1 to every bit, as md5(null) does in the spec
  * formulation. Null or empty input → 0, never null.
  *
  * CodegenFallback for the usual reason: one call per document ROW.
  */
case class SimHash16(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  // wrong-typed input is an ANALYSIS error, not a runtime ClassCastException
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(ArrayType(StringType))

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullable: Boolean = false

  override def prettyName: String = "simhash16"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L else SimHash16.hash(v.asInstanceOf[ArrayData])
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash16 {
  // a MessageDigest is stateful: one per task thread
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  def hash(toks: ArrayData): Long = {
    val md = md5.get()
    val votes = new Array[Int](16)
    var i = 0
    while (i < toks.numElements()) {
      if (toks.isNullAt(i)) {
        var j = 0
        while (j < 16) { votes(j) -= 1; j += 1 }
      } else {
        val digest = md.digest(toks.getUTF8String(i).getBytes)
        var j = 0
        while (j < 16) {
          val b = digest(j >> 1)
          val v = if ((j & 1) == 0) (b >> 4) & 0xF else b & 0xF
          votes(j) += (if ((v < 10) == ((v & 1) == 1)) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 16) {
      if (votes(j) > 0) out |= 1L << j
      j += 1
    }
    out
  }
}

object TextExpressions {
  /** Column API for [[TokenShingles]]. */
  def tokenShingles(toks: Column, n: Int): Column =
    Bridge.column(TokenShingles(Bridge.expression(toks), n))

  /** Column API for [[StringTokens]]. */
  def stringTokens(text: Column): Column =
    Bridge.column(StringTokens(Bridge.expression(text)))

  /** Column API for [[ArrayIntersectCount]]. */
  def arrayIntersectCount(a: Column, b: Column): Column =
    Bridge.column(ArrayIntersectCount(Bridge.expression(a), Bridge.expression(b)))

  /** Column API for [[TokenCounts]]. */
  def tokenCounts(text: Column): Column =
    Bridge.column(TokenCounts(Bridge.expression(text)))

  /** Column API for [[StripAccents]]. */
  def stripAccents(text: Column): Column =
    Bridge.column(StripAccents(Bridge.expression(text)))

  /** Column API for [[LinearMarginMilli]]. */
  def linearMarginMilli(text: Column): Column =
    Bridge.column(LinearMarginMilli(Bridge.expression(text)))

  /** Column API for [[WinnowFingerprints]]. */
  def winnowFingerprints(text: Column, w: Int): Column =
    Bridge.column(WinnowFingerprints(Bridge.expression(text), w))

  /** Column API for [[KeptTokens]]. */
  def keptTokens(tokens: Column, cuts: Column): Column =
    Bridge.column(KeptTokens(Bridge.expression(tokens), Bridge.expression(cuts)))

  /** Column API for [[SimHash16]]. */
  def simHash16(tokens: Column): Column =
    Bridge.column(SimHash16(Bridge.expression(tokens)))
}
