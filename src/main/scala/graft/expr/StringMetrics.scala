package graft.expr

import org.apache.spark.unsafe.types.UTF8String

/** Pure-JVM string similarity kernels, called from codegen'd expressions.
  *
  * `partialRatio` reproduces fuzzywuzzy 0.16.0's `fuzz.partial_ratio` forced
  * onto stdlib difflib semantics (the reference pins that backend —
  * /root/reference/src/labelling_pipeline.py:131-133), i.e. Ratcliff-Obershelp
  * longest-matching-block alignment with difflib's autojunk heuristic.
  * Thresholds downstream (70/25) were tuned against difflib, so this port is
  * exact: same b2j popularity purge (len>=200, >n/100+1 occurrences), same
  * non-recursive block queue, same adjacent-block merge, same half-even
  * rounding of `100 * best`.
  *
  * `jaccardCharDistance` reproduces nltk's `jaccard_distance` over character
  * sets (/root/reference/src/Label_matching.py:45-46 — char-level, NOT
  * token-level).
  *
  * `shingleJaccard` is q17's exact verify: Jaccard similarity of two texts'
  * distinct word 3-shingle sets (`MinHash.foreachShingle`).
  */
object StringMetrics {

  /** difflib.SequenceMatcher(None, a, b) over char sequences. */
  final class SeqMatcher(a: Array[Char], b: Array[Char]) {
    // b2j: char -> ascending indices in b; "popular" chars purged (autojunk)
    private val b2j = new java.util.HashMap[Char, Array[Int]]()

    {
      val tmp = new java.util.HashMap[Char, java.util.ArrayList[Int]]()
      var j = 0
      while (j < b.length) {
        var l = tmp.get(b(j))
        if (l == null) { l = new java.util.ArrayList[Int](); tmp.put(b(j), l) }
        l.add(j)
        j += 1
      }
      // autojunk: with no caller junk set, difflib purges chars occurring in
      // more than n/100+1 positions of b when len(b) >= 200
      if (b.length >= 200) {
        val ntest = b.length / 100 + 1
        val it = tmp.entrySet().iterator()
        while (it.hasNext) if (it.next().getValue.size() > ntest) it.remove()
      }
      tmp.forEach { (c, l) =>
        val arr = new Array[Int](l.size()); var i = 0
        while (i < arr.length) { arr(i) = l.get(i); i += 1 }
        b2j.put(c, arr)
      }
    }

    /** difflib find_longest_match (no junk set => bjunk loops are no-ops). */
    def findLongestMatch(alo: Int, ahi: Int, blo: Int, bhi: Int): (Int, Int, Int) = {
      var besti = alo; var bestj = blo; var bestsize = 0
      var j2len = new java.util.HashMap[Int, Int]()
      var i = alo
      while (i < ahi) {
        val newj2len = new java.util.HashMap[Int, Int]()
        val idxs = b2j.get(a(i))
        if (idxs != null) {
          var p = 0
          var break = false
          while (p < idxs.length && !break) {
            val j = idxs(p)
            if (j >= blo) {
              if (j >= bhi) break = true
              else {
                val k = j2len.getOrDefault(j - 1, 0) + 1
                newj2len.put(j, k)
                if (k > bestsize) { besti = i - k + 1; bestj = j - k + 1; bestsize = k }
              }
            }
            p += 1
          }
        }
        j2len = newj2len
        i += 1
      }
      // extend on both sides over non-junk equal chars (bjunk empty here, so
      // the second difflib extension pass over junk chars never fires)
      while (besti > alo && bestj > blo && a(besti - 1) == b(bestj - 1)) {
        besti -= 1; bestj -= 1; bestsize += 1
      }
      while (besti + bestsize < ahi && bestj + bestsize < bhi &&
        a(besti + bestsize) == b(bestj + bestsize)) bestsize += 1
      (besti, bestj, bestsize)
    }

    /** difflib get_matching_blocks: non-recursive queue + adjacent merge.
      * Returns (i, j, size) triples sorted, terminator (la, lb, 0) included. */
    def matchingBlocks(): Array[(Int, Int, Int)] = {
      val queue = new java.util.ArrayDeque[(Int, Int, Int, Int)]()
      queue.push((0, a.length, 0, b.length))
      val blocks = new java.util.ArrayList[(Int, Int, Int)]()
      while (!queue.isEmpty) {
        val (alo, ahi, blo, bhi) = queue.pop()
        val m @ (i, j, k) = findLongestMatch(alo, ahi, blo, bhi)
        if (k > 0) {
          blocks.add(m)
          if (alo < i && blo < j) queue.push((alo, i, blo, j))
          if (i + k < ahi && j + k < bhi) queue.push((i + k, ahi, j + k, bhi))
        }
      }
      val sorted = new Array[(Int, Int, Int)](blocks.size())
      blocks.toArray(sorted)
      java.util.Arrays.sort(sorted, Ordering.Tuple3[Int, Int, Int])
      // merge adjacent
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
      var (i1, j1, k1) = (0, 0, 0)
      sorted.foreach { case (i2, j2, k2) =>
        if (i1 + k1 == i2 && j1 + k1 == j2) k1 += k2
        else {
          if (k1 > 0) out += ((i1, j1, k1))
          i1 = i2; j1 = j2; k1 = k2
        }
      }
      if (k1 > 0) out += ((i1, j1, k1))
      out += ((a.length, b.length, 0))
      out.toArray
    }

    /** difflib ratio(): 2*M/T, or 1.0 when both empty. */
    def ratio(): Double = {
      var matches = 0
      matchingBlocks().foreach { case (_, _, k) => matches += k }
      val total = a.length + b.length
      if (total == 0) 1.0 else 2.0 * matches / total
    }
  }

  def ratio(a: String, b: String): Double =
    new SeqMatcher(a.toCharArray, b.toCharArray).ratio()

  /** fuzzywuzzy 0.16.0 partial_ratio on difflib backend; 0 for empty input
    * (fuzzywuzzy's @check_empty_string decorator). */
  def partialRatio(s1: String, s2: String): Int = {
    if (s1.isEmpty || s2.isEmpty) return 0
    val (shorter, longer) =
      if (s1.length <= s2.length) (s1.toCharArray, s2.toCharArray)
      else (s2.toCharArray, s1.toCharArray)
    val blocks = new SeqMatcher(shorter, longer).matchingBlocks()
    var best = 0.0
    var bi = 0
    while (bi < blocks.length) {
      val (i, j, _) = blocks(bi)
      val longStart = if (j - i > 0) j - i else 0
      val longEnd = math.min(longStart + shorter.length, longer.length)
      val sub = java.util.Arrays.copyOfRange(longer, longStart, longEnd)
      val r = new SeqMatcher(shorter, sub).ratio()
      if (r > 0.995) return 100
      if (r > best) best = r
      bi += 1
    }
    // Python round() = half-even
    Math.rint(100.0 * best).toInt
  }

  def partialRatio(a: UTF8String, b: UTF8String): Int =
    partialRatio(a.toString, b.toString)

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
