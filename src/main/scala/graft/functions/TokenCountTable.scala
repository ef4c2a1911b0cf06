package graft.functions

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Map-side word count over raw UTF-8 bytes: the kernel of
  * [[PartialTokenCountExec]].
  *
  * Tokens are the StringTokenizer-faithful ones of [[StringTokens]]
  * (split on the single byte 0x20, empty tokens dropped), but no token
  * is ever materialized as a `UTF8String`: the scan hashes and compares
  * each byte slice in place against an open-addressing table, and copies
  * the bytes into an arena only the first time a token is seen. Per
  * token occurrence the cost is one hash and one probe, versus a
  * `UTF8String` + array slot + generated row + `UnsafeRow` probe on the
  * `explode` → `HashAggregate` path.
  *
  * Memory is bounded by the constructor's `maxEntries` distinct tokens
  * and `maxArenaBytes` of token bytes (a single token longer than the
  * arena bound is still accepted into an empty table, so the bound is
  * `max(maxArenaBytes, longest token)`). A full table does not spill:
  * the caller drains it as partial counts and starts again, and the
  * downstream final aggregate sums the duplicates this produces.
  */
final class TokenCountTable(
    maxEntries: Int = TokenCountTable.MaxEntries,
    maxArenaBytes: Int = TokenCountTable.MaxArenaBytes) {

  require(maxEntries >= 1 && maxArenaBytes >= 1, "table bounds must be >= 1")

  // slot = (hash << 32) | (entry + 1); 0 marks an empty slot. Load
  // factor stays <= 1/2, so the slot array tops out at the power of
  // two >= 2 * maxEntries
  private var slots = new Array[Long](1024)
  private var mask = slots.length - 1
  // entries in insertion order: token bytes at arena[offs(e), +lens(e))
  private var offs = new Array[Int](512)
  private var lens = new Array[Int](512)
  private var counts = new Array[Long](512)
  private var bytes = new Array[Byte](16 * 1024)
  private var used = 0
  private var n = 0

  /** Number of distinct tokens held. */
  def size: Int = n

  /** Entry `e`'s token bytes are `arena(offset(e) until offset(e) + length(e))`. */
  def arena: Array[Byte] = bytes
  def offset(e: Int): Int = offs(e)
  def length(e: Int): Int = lens(e)
  def count(e: Int): Long = counts(e)

  /** Forget every entry; the grown arrays are kept for reuse. */
  def clear(): Unit = {
    java.util.Arrays.fill(slots, 0L)
    used = 0
    n = 0
  }

  /** Counts the tokens of the `len` bytes at (`base`, `off`), starting at
    * byte `from`. Returns `len` when the whole range was counted, else
    * the start of the first token that did not fit: the table is full,
    * and the caller drains and clears it, then resumes from there. An
    * empty table always accepts a token, so a resumed call makes
    * progress.
    */
  def countTokens(base: AnyRef, off: Long, len: Int, from: Int): Int = {
    var start = from
    var i = from
    while (i < len) {
      if (Platform.getByte(base, off + i) == 0x20) {
        if (i > start && !add(base, off + start, i - start)) return start
        start = i + 1
      }
      i += 1
    }
    if (len > start && !add(base, off + start, len - start)) start else len
  }

  private def add(base: AnyRef, off: Long, len: Int): Boolean = {
    val h = Murmur3_x86_32.hashUnsafeBytes2(base, off, len, 42)
    var pos = h & mask
    while (true) {
      val s = slots(pos)
      if (s == 0L) return insert(pos, h, base, off, len)
      if ((s >>> 32).toInt == h) {
        val e = s.toInt - 1
        if (lens(e) == len && ByteArrayMethods.arrayEquals(
            bytes, Platform.BYTE_ARRAY_OFFSET + offs(e), base, off, len)) {
          counts(e) += 1
          return true
        }
      }
      pos = (pos + 1) & mask
    }
    false
  }

  private def insert(pos: Int, h: Int, base: AnyRef, off: Long, len: Int): Boolean = {
    if (n >= maxEntries || (n > 0 && used.toLong + len > maxArenaBytes)) return false
    if (used + len > bytes.length) {
      var cap = bytes.length.toLong * 2
      while (cap < used + len) cap *= 2
      bytes = java.util.Arrays.copyOf(bytes,
        math.min(cap, math.max(maxArenaBytes, used + len).toLong).toInt)
    }
    Platform.copyMemory(base, off, bytes, Platform.BYTE_ARRAY_OFFSET + used, len)
    if (n == offs.length) {
      val cap = math.min(offs.length * 2, maxEntries)
      offs = java.util.Arrays.copyOf(offs, cap)
      lens = java.util.Arrays.copyOf(lens, cap)
      counts = java.util.Arrays.copyOf(counts, cap)
    }
    offs(n) = used
    lens(n) = len
    counts(n) = 1L
    slots(pos) = (h.toLong << 32) | (n + 1).toLong
    used += len
    n += 1
    if (n * 2 > slots.length) rehash()
    true
  }

  private def rehash(): Unit = {
    val old = slots
    slots = new Array[Long](old.length * 2)
    mask = slots.length - 1
    var i = 0
    while (i < old.length) {
      val s = old(i)
      if (s != 0L) {
        var pos = (s >>> 32).toInt & mask
        while (slots(pos) != 0L) pos = (pos + 1) & mask
        slots(pos) = s
      }
      i += 1
    }
  }
}

object TokenCountTable {

  /** Default bounds: ~4 MB of slots, ~4 MB of entry arrays and a 16 MB
    * arena per task at most — a partition with more distinct tokens
    * than this flushes partial counts instead of growing.
    */
  val MaxEntries: Int = 1 << 18
  val MaxArenaBytes: Int = 16 << 20

  /** Partial per-token counts of `lines` (null lines count no tokens).
    * `emit(table, e)` renders entry `e`; it is called while the table
    * still holds the entry, and must copy anything it keeps. Each token
    * appears once per drain — once per partition unless the table
    * filled up, in which case summing the emitted counts per token
    * gives the exact totals.
    */
  def partialCounts[T](lines: Iterator[UTF8String], table: TokenCountTable)(
      emit: (TokenCountTable, Int) => T): Iterator[T] = new Iterator[T] {
    // the line being counted and the byte it resumes from; while the
    // table drains, `line` still points into the current input row,
    // which stays valid because `lines` is not advanced until it is done
    private var line: UTF8String = null
    private var pos = 0
    private var draining = false
    private var next_ = 0

    override def hasNext: Boolean = {
      if (draining && next_ < table.size) return true
      if (draining) {
        table.clear()
        draining = false
        next_ = 0
      }
      while (!draining) {
        if (line == null) {
          if (!lines.hasNext) {
            if (table.size == 0) return false
            draining = true
          } else {
            line = lines.next()
            pos = 0
          }
        }
        if (line != null) {
          val len = line.numBytes()
          pos = table.countTokens(line.getBaseObject, line.getBaseOffset, len, pos)
          if (pos < len) draining = true else line = null
        }
      }
      true
    }

    override def next(): T = {
      if (!hasNext) throw new NoSuchElementException("no more partial counts")
      val out = emit(table, next_)
      next_ += 1
      out
    }
  }
}
