package perfbench

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.expr.{MinHash, StringMetrics, VectorMath}

/** Single-thread nanoseconds per call of the `graft.expr` kernels, through
  * their public Scala entry points, on inputs taken from the workloads'
  * generated tables. Plain `System.nanoTime` loops: each kernel is calibrated
  * so one round takes about `RoundMs`, then the median of `Rounds` rounds is
  * reported. */
object Kernels {

  /** The seed phrases q10 scores every document against. */
  val Seeds: Array[String] = Array(
    "table scan fast", "group key agg row", "stream window sort", "customer query join")

  private val Rounds = 7
  private val RoundMs = 40.0

  @volatile private var sink = 0.0

  def run(vectors: Array[Array[Float]], docs: Array[String]): Seq[(String, Double)] = {
    val vs: Array[ArrayData] = vectors.map(UnsafeArrayData.fromPrimitiveArray)
    val nv = vs.length
    val texts = docs.map(d => UTF8String.fromString(d.toLowerCase))
    val seeds = Seeds.map(s => UTF8String.fromString(s.toLowerCase))
    val nd = texts.length

    def pairVec(f: (ArrayData, ArrayData) => Double)(i: Int): Double =
      f(vs(i % nv), vs((i * 7 + 1) % nv))
    def docSeed(f: (UTF8String, UTF8String) => Double)(i: Int): Double =
      f(texts(i % nd), seeds(i & 3))

    Seq(
      "expr.dot_product.ns" -> time(pairVec(VectorMath.dotFloat)),
      "expr.cosine_sim.ns" -> time(pairVec(VectorMath.cosineFloat)),
      "expr.levenshtein.ns" -> time(docSeed((a, b) => a.levenshteinDistance(b).toDouble)),
      "expr.jaccard_char_distance.ns" ->
        time(docSeed((a, b) => StringMetrics.jaccardCharDistance(a, b))),
      "expr.minhash_text.ns" ->
        time(i => MinHash.signaturesFromText(texts(i % nd)).getLong(0).toDouble))
  }

  private def loop(n: Int, f: Int => Double): Long = {
    var acc = 0.0
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { acc += f(i); i += 1 }
    val dt = System.nanoTime() - t0
    sink += acc
    dt
  }

  private def time(f: Int => Double): Double = {
    var n = 64
    while (loop(n, f) < RoundMs * 1e6 / 4) n *= 2 // calibrate (and warm the JIT)
    n *= 4
    loop(n, f)
    val perCall = Array.fill(Rounds)(loop(n, f).toDouble / n).sorted
    perCall(Rounds / 2)
  }
}
