package graft.expr

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Pure-JVM string similarity kernels, called from codegen'd expressions.
  *
  * `editDistance` is q10's seed edit distance: the Levenshtein distance in
  * chars, equal to Spark's `levenshtein` (`UTF8String.levenshteinDistance`)
  * for every valid UTF-8 input, computed bit-parallel (Myers, J. ACM 1999,
  * in Hyyrö's edit-distance form, 2001) when both sides are ASCII and the
  * shorter one has at most 64 chars. Invalid UTF-8 is measured after
  * `makeValid`: Spark's DP reads bytes past the end of a string that ends
  * inside a multi-byte char.
  *
  * `jaccardCharDistance` reproduces nltk's `jaccard_distance` over character
  * sets (/root/reference/src/Label_matching.py:45-46 — char-level, NOT
  * token-level).
  *
  * `shingleJaccard` is q17's exact verify: Jaccard similarity of two texts'
  * distinct word 3-shingle sets (`MinHash.foreachShingle`).
  */
object StringMetrics {

  /** Per-thread match masks of the pattern, indexed by ASCII byte. */
  private val asciiMasks = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = new Array[Long](128)
  }

  /** Levenshtein distance between `a` and `b` in chars, equal to
    * `a.makeValid().levenshteinDistance(b.makeValid())`. When both strings
    * are ASCII and the shorter one (the pattern, m chars) has at most 64,
    * one 64-bit step per char of the other side tracks the DP column's
    * vertical deltas, and `score` the last row. Any other input goes to
    * Spark's DP: no workload sends non-ASCII text here. */
  def editDistance(a: UTF8String, b: UTF8String): Int = {
    val swap = a.numBytes > b.numBytes
    val p = if (swap) b else a
    val t = if (swap) a else b
    val m = p.numBytes
    if (m == 0) return t.makeValid().numChars
    if (m > 64) return sparkDistance(a, b)

    val masks = asciiMasks.get()
    val pBase = p.getBaseObject
    val pOff = p.getBaseOffset
    var i = 0
    try {
      while (i < m) {
        val c = Platform.getByte(pBase, pOff + i)
        if (c < 0) return sparkDistance(a, b)
        masks(c) |= 1L << i
        i += 1
      }
      val tBase = t.getBaseObject
      val tOff = t.getBaseOffset
      val n = t.numBytes
      val last = 1L << (m - 1)
      var pv = -1L
      var mv = 0L
      var score = m
      i = 0
      while (i < n) {
        val c = Platform.getByte(tBase, tOff + i)
        if (c < 0) return sparkDistance(a, b)
        val eq = masks(c)
        val xv = eq | mv
        val xh = (((eq & pv) + pv) ^ pv) | eq
        var ph = mv | ~(xh | pv)
        var mh = pv & xh
        if ((ph & last) != 0) score += 1
        else if ((mh & last) != 0) score -= 1
        // row 0 of the global DP rises by one per column
        ph = (ph << 1) | 1L
        mh <<= 1
        pv = mh | ~(xv | ph)
        mv = ph & xv
        i += 1
      }
      score
    } finally {
      i = 0
      while (i < m) {
        val c = Platform.getByte(pBase, pOff + i)
        if (c >= 0) masks(c) = 0L
        i += 1
      }
    }
  }

  /** Spark's DP over valid UTF-8. `makeValid` returns a valid string itself. */
  private def sparkDistance(a: UTF8String, b: UTF8String): Int =
    a.makeValid().levenshteinDistance(b.makeValid())

  /** nltk jaccard_distance over char sets: 1 - |A∩B|/|A∪B|; 0.0 when both
    * empty (identical empty sets; nltk raises — callers never hit it). */
  def jaccardCharDistance(a: String, b: String): Double = {
    val sa = new java.util.HashSet[Char]()
    val sb = new java.util.HashSet[Char]()
    var i = 0
    while (i < a.length) { sa.add(a.charAt(i)); i += 1 }
    i = 0
    while (i < b.length) { sb.add(b.charAt(i)); i += 1 }
    if (sa.isEmpty && sb.isEmpty) return 0.0
    var inter = 0
    val it = sa.iterator()
    while (it.hasNext) if (sb.contains(it.next())) inter += 1
    val union = sa.size() + sb.size() - inter
    1.0 - inter.toDouble / union
  }

  def jaccardCharDistance(a: UTF8String, b: UTF8String): Double =
    jaccardCharDistance(a.toString, b.toString)

  // Reusable per-thread shingle sets (cleared after every pair). Their
  // elements are views of the argument strings' memory, never copies.
  private val shinglesA = new ThreadLocal[java.util.HashSet[UTF8String]] {
    override def initialValue(): java.util.HashSet[UTF8String] = new java.util.HashSet[UTF8String]()
  }
  private val shinglesB = new ThreadLocal[java.util.HashSet[UTF8String]] {
    override def initialValue(): java.util.HashSet[UTF8String] = new java.util.HashSet[UTF8String]()
  }

  /** |A∩B| / |A∪B| over the distinct word 3-shingles of `a` and `b`, equal
    * bit for bit to the column formulation over the two shingle arrays (the
    * size of their intersection, cast to double, over the size of their
    * union; DedupQueriesSpec pins it): both sets compare shingles by their
    * bytes (UTF8String equality), and the division is the same IEEE
    * division of the two counts. Each side has at least one shingle, so the
    * union is never empty. */
  def shingleJaccard(a: UTF8String, b: UTF8String): Double = {
    val sa = shinglesA.get()
    val sb = shinglesB.get()
    var inter = 0
    try {
      MinHash.foreachShingle(a)((off, len) => sa.add(view(a, off, len)))
      MinHash.foreachShingle(b) { (off, len) =>
        val sh = view(b, off, len)
        if (sb.add(sh) && sa.contains(sh)) inter += 1
      }
      inter.toDouble / (sa.size() + sb.size() - inter).toDouble
    } finally {
      sa.clear()
      sb.clear()
    }
  }

  private def view(s: UTF8String, off: Int, len: Int): UTF8String =
    UTF8String.fromAddress(s.getBaseObject, s.getBaseOffset + off, len)
}
