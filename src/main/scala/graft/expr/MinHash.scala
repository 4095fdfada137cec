package graft.expr

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature kernel (q17, `minhash_text`). Computes, in ONE pass over
  * the raw text's bytes, the K affine-permutation minima over its word
  * 3-shingles — what the column formulation assembles from a split, a
  * shingle array and 13 interpreted higher-order functions per row
  * (`transform(sh, md5->conv)` + 12x `array_min(transform(hs, affine))`).
  *
  * Bit-for-bit equivalence with that formulation (which the DuckDB oracle
  * replays, and DedupQueriesSpec pins with its `shingles` reference):
  *  - `conv(substring(md5(s), 1, 15), 16, 10)::long` == the first 8 digest
  *    bytes as a big-endian long, logically shifted right 4 (15 hex nibbles
  *    = 60 bits), which is non-negative, so `% P` agrees in both engines;
  *  - `A(i) * h + B(i)` with h < P < 2^31 and A(i) < 2^14 stays < 2^45 —
  *    no 64-bit overflow anywhere.
  */
object MinHash {

  /** Mersenne prime 2^31 - 1: the modulus of the affine permutations. */
  val P = 2147483647L

  /** Affine permutation constants h_i(x) = (A_i * x + B_i) mod P. */
  val A: Array[Long] = Array(7L, 13L, 31L, 61L, 127L, 251L, 509L, 1021L, 2039L, 4093L, 8191L, 16381L)
  val B: Array[Long] = Array(3L, 17L, 29L, 47L, 89L, 151L, 211L, 283L, 359L, 433L, 541L, 631L)

  val K: Int = A.length

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  // Reusable per-thread buffers: the r21 kernel allocated a fresh byte[]
  // per shingle twice over (UTF8String.getBytes copy + digest() output),
  // ~100 allocations/row across 32 threads — pure GC pressure in the hot
  // loop (guide §1.2 per-task work). Input buffer grows geometrically and
  // sticks at the high-water mark; digest output is a fixed 16 bytes.
  private val inBuf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](256)
  }
  private val outBuf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16)
  }

  // Token-start offsets for foreachShingle (grown geometrically, sticks at
  // the high-water mark like inBuf).
  private val tokBuf = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = new Array[Int](64)
  }

  /** Calls `f(off, len)` for each word 3-shingle of `s`, as a byte range of
    * `s`, in token order (repeats included). The one shingle definition of
    * `minhash_text` and `shingle_jaccard`, equal to the column formulation
    * `DedupQueriesSpec.shingles` (without its `array_distinct`):
    *
    *  - `split(text, " ")` (limit -1) tokenizes on single 0x20 bytes and
    *    KEEPS empty tokens, and `concat_ws(" ", slice(toks, i, 3))` re-joins
    *    3 consecutive tokens with single spaces — which reproduces the
    *    original byte span exactly (the only bytes between consecutive
    *    tokens are the single 0x20s that split consumed). So each word
    *    3-shingle IS the byte range [start(tok_i), end(tok_{i+2})) of the
    *    input. 0x20 never occurs inside a UTF-8 multi-byte sequence, so
    *    byte-level splitting equals char-level.
    *  - fewer than 3 tokens gives the whole text as one shingle, matching
    *    `otherwise(array(text))`; so there is always at least one.
    */
  private[expr] def foreachShingle(s: UTF8String)(f: (Int, Int) => Unit): Unit = {
    val n = s.numBytes()
    // token j spans [starts(j), starts(j+1) - 1) for j < m-1, else [starts(j), n)
    var starts = tokBuf.get()
    var m = 0
    @inline def push(p: Int): Unit = {
      if (m == starts.length) {
        starts = java.util.Arrays.copyOf(starts, starts.length * 2)
        tokBuf.set(starts)
      }
      starts(m) = p
      m += 1
    }
    push(0)
    var i = 0
    while (i < n) {
      if (s.getByte(i) == 0x20) push(i + 1)
      i += 1
    }
    if (m >= 3) {
      var w = 0
      while (w + 2 < m) {
        val off = starts(w)
        val end = if (w + 3 < m) starts(w + 3) - 1 else n
        f(off, end - off)
        w += 1
      }
    } else f(0, n)
  }

  /** K minhash slots computed straight from the raw text, equal slot-for-slot
    * to the column formulation over `DedupQueriesSpec.shingles(text)`: each
    * shingle's md5 is taken over its byte range (`foreachShingle`) with ZERO
    * per-shingle string allocation, and the `array_distinct` in the column
    * formulation is irrelevant to a min (min over a multiset == min over its
    * set).
    *
    * Replaces, per row: a regex split (token array), sequence+transform
    * (shingle array), one string allocation per shingle, and a distinct
    * hash set — with one byte copy of the text and an int array of token
    * starts. Never null for non-null input (there is always >= 1 shingle).
    */
  def signaturesFromText(s: UTF8String): ArrayData = {
    val n = s.numBytes()
    val in = {
      val b = inBuf.get()
      if (b.length >= n) b
      else { val g = new Array[Byte](java.lang.Math.max(n, b.length * 2)); inBuf.set(g); g }
    }
    s.writeToMemory(in, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
    val d = md5.get()
    val digest = outBuf.get()
    val sigs = Array.fill(K)(Long.MaxValue)
    foreachShingle(s) { (off, len) =>
      d.reset()
      d.update(in, off, len)
      d.digest(digest, 0, 16)
      var v = 0L
      var i = 0
      while (i < 8) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
      val h = (v >>> 4) % P
      var k = 0
      while (k < K) {
        val x = (A(k) * h + B(k)) % P
        if (x < sigs(k)) sigs(k) = x
        k += 1
      }
    }
    new GenericArrayData(sigs)
  }
}
