package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** One document read in the portable text format of the cross-engine token
  * hash [[graft.queries.Parity.strHash]] — the one home of everything the
  * string kernels whose hash VALUES leave Spark must agree on with the
  * Column forms and the DuckDB oracle:
  *
  *  - Code units. A code unit is the char-at-i value: what Spark's
  *    `ascii(substr(s, i, 1))` returns for BMP strings and what DuckDB's
  *    `ord(s[i])` computes for ASCII. The ASCII-or-char decision is made
  *    ONCE per row: pure-ASCII input (the corpus contract documented in
  *    Parity) reads its UTF-8 bytes in place with no allocation; anything
  *    else decodes once to Java chars. Chars = bytes on ASCII text, so a
  *    span of a mixed document hashes the same as the span on its own.
  *  - The positional weight. Over a span of code units,
  *
  *      h = ( Σ_{i=1..len} code_i · ((1103515245·i + 12345) mod M) ) mod M,
  *      M = 2³¹−1,
  *
  *    summed in 64 bits and reduced mod M only before the sum could
  *    overflow and at the end. Modular addition is associative, so this
  *    equals the Column form's mod-at-each-step fold and DuckDB's
  *    sum-then-mod. Positions restart at 1 for every hashed span.
  *  - Word segmentation. Words are the segments of `split(text, ' ')`:
  *    every 0x20 starts a new segment and empty segments (adjacent,
  *    leading, trailing spaces) count, exactly like the Column form and
  *    DuckDB's string_split. Because words are separated by exactly one
  *    space, the space-joined n-gram of words k..k+n−1 IS the text's own
  *    span from word k's start to word k+n−1's end, so its hash is
  *    [[hash]] of that span: the joining spaces hash as code 32 at their
  *    joined positions with no special case.
  *
  * Kernels build one per row and fold its hashes with their own logic. */
final class PortableText(s: UTF8String) {
  // null on pure-ASCII input: code units are then the bytes themselves
  private[this] val chars: String = if (PortableText.isAscii(s)) null else s.toString

  /** Number of code units. */
  val length: Int = if (chars == null) s.numBytes else chars.length

  private def code(i: Int): Long =
    if (chars == null) s.getByte(i) & 0xffL else chars.charAt(i).toLong

  /** The portable hash of code units [from, until). */
  def hash(from: Int, until: Int): Long = {
    var acc = 0L
    var w = PortableText.FirstWeight
    var i = from
    while (i < until) {
      acc += code(i) * w
      if (acc >= PortableText.Reduce) acc %= PortableText.M
      w = PortableText.nextWeight(w)
      i += 1
    }
    acc % PortableText.M
  }

  /** The end (exclusive) of the word that starts at `from`: the next space
    * at or after `from`, or [[length]]. The next word starts one past it. */
  def wordEnd(from: Int): Int = {
    var i = from
    while (i < length && code(i) != 32) i += 1
    i
  }

  /** Word cuts: word k spans [cuts(k) + 1, cuts(k + 1)). The first cut is
    * −1, the last is [[length]], the ones between are the space positions,
    * so there is one more cut than there are words. */
  private def cuts(): Array[Int] = {
    var words = 1
    var e = wordEnd(0)
    while (e < length) { words += 1; e = wordEnd(e + 1) }
    val out = new Array[Int](words + 1)
    out(0) = -1
    var k = 1
    while (k <= words) { out(k) = wordEnd(out(k - 1) + 1); k += 1 }
    out
  }

  /** The portable hash of every n consecutive words, in text order; empty
    * for a text with fewer than n words. */
  def ngramHashes(n: Int): Array[Long] = {
    val cut = cuts()
    val m = cut.length - n // words − n + 1
    if (m <= 0) return Array.emptyLongArray
    val out = new Array[Long](m)
    var k = 0
    while (k < m) { out(k) = hash(cut(k) + 1, cut(k + n)); k += 1 }
    out
  }

  /** The portable hash of every span of `width` consecutive code units, in
    * text order; empty for a text shorter than `width`. */
  def windowHashes(width: Int): Array[Long] = {
    require(width >= 1 && width < (1 << 15), s"window width out of range: $width")
    val m = length - width + 1
    if (m <= 0) return Array.emptyLongArray
    // fixed positions 1..width: the weights are constants for this text
    val w = Array.iterate(PortableText.FirstWeight, width)(PortableText.nextWeight)
    val out = new Array[Long](m)
    var g = 0
    while (g < m) {
      var acc = 0L
      var p = 0
      while (p < width) { acc += code(g + p) * w(p); p += 1 }
      out(g) = acc % PortableText.M
      g += 1
    }
    out
  }
}

object PortableText {
  /** The modulus of the hash, the Mersenne prime 2³¹−1. */
  final val M = 2147483647L
  private final val A = 1103515245L
  private final val FirstWeight = (A + 12345L) % M
  // a term is a code unit (< 2¹⁶) times a weight (< 2³¹), below 2⁴⁷: a sum
  // kept under 2⁶² cannot overflow on the next add, and fewer than 2¹⁵
  // terms cannot overflow at all
  private final val Reduce = 1L << 62

  /** weight(i+1) = (weight(i) + A) mod M; both terms are below M, so one
    * conditional subtraction replaces the multiply and mod. */
  @inline private def nextWeight(w: Long): Long = {
    val x = w + A
    if (x >= M) x - M else x
  }

  private def isAscii(s: UTF8String): Boolean = {
    val nb = s.numBytes
    var i = 0
    while (i < nb) { if (s.getByte(i) < 0) return false; i += 1 }
    true
  }
}
