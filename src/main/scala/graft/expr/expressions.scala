package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.graftbridge.Bridge.AbstractType

/** Custom Catalyst expressions (SURVEY §2.3 / §7.3). All implement
  * `doGenCode` as a static call into a JVM kernel so they stay inside
  * whole-stage codegen — no UDF/serialization overhead in the hot path.
  * At 100 TB these run per-row inside the generated loop, fused with the
  * surrounding projections/filters.
  */

/** Shared body of the string-pair kernels: both arguments strings,
  * NULL in -> NULL out, codegen a static call to `StringMetrics.<kernel>`.
  * Serializable so that Java deserialization of a case-class subclass
  * restores these constructor fields (tasks ship interpreted expressions). */
abstract class StringPairKernel(val dataType: DataType, kernel: String,
                                fn: (UTF8String, UTF8String) => Any)
    extends BinaryExpression with ExpectsInputTypes with Serializable {
  override def inputTypes: Seq[AbstractType] = Seq.fill(2)(Bridge.asAbstract(StringType))
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    fn(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.StringMetrics.$kernel($a, $b)")
}

/** Levenshtein distance in chars, equal to Spark's `levenshtein` for every
  * input (see StringMetrics.editDistance; StringMetricsSpec pins it). */
case class EditDistance(left: Expression, right: Expression)
    extends StringPairKernel(IntegerType, "editDistance", StringMetrics.editDistance) {
  override def prettyName: String = "edit_distance"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** nltk-style Jaccard distance over character sets (NOT tokens).
  * Reference: /root/reference/src/Label_matching.py:45-46. */
case class JaccardCharDistance(left: Expression, right: Expression)
    extends StringPairKernel(DoubleType, "jaccardCharDistance", StringMetrics.jaccardCharDistance) {
  override def prettyName: String = "jaccard_char_distance"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Jaccard similarity of two texts' distinct word 3-shingle sets: q17's
  * exact verify of an LSH candidate pair (see StringMetrics.shingleJaccard
  * for the parity argument vs the shingle-array formulation, which
  * DedupQueriesSpec pins). */
case class ShingleJaccard(left: Expression, right: Expression)
    extends StringPairKernel(DoubleType, "shingleJaccard", StringMetrics.shingleJaccard) {
  override def prettyName: String = "shingle_jaccard"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Row-wise modal vote over array<int>; strict majority or -1 on tie.
  * Reference: /root/reference/src/labelling_pipeline.py:256-277 (F6) and
  * :478-510 (G2). */
case class ModalLabel(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractType] = Seq(Bridge.asAbstract(ArrayType(IntegerType)))
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "modal_label"
  override protected def nullSafeEval(arr: Any): Any =
    VectorMath.modalLabel(arr.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.expr.VectorMath.modalLabel($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** MinHash signature vector straight from a raw text: fuses tokenization,
  * word-3-shingling and the K affine minima into one zero-allocation pass
  * over the string's bytes (see MinHash for the parity argument vs the
  * hex/conv column formulation, which DedupQueriesSpec pins).
  * Never null for a non-null input — there is always at least one shingle
  * (the whole text when shorter than 3 tokens). */
case class MinHashFromText(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractType] = Seq(Bridge.asAbstract(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_text"
  override protected def nullSafeEval(s: Any): Any =
    MinHash.signaturesFromText(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.expr.MinHash.signaturesFromText($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Shared body of the two dense-vector kernels: both arguments array<float>
  * or both array<double> (a mixed pair fails analysis, since the kernel
  * reads both arrays with one element type), codegen a static call to
  * `VectorMath.<kernel>Float` or `<kernel>Double`. Serializable: see
  * StringPairKernel. */
abstract class VectorPairKernel(kernel: String,
                                floatFn: (ArrayData, ArrayData) => Double,
                                doubleFn: (ArrayData, ArrayData) => Double)
    extends BinaryExpression with ExpectsInputTypes with Serializable {
  override def inputTypes: Seq[AbstractType] =
    Seq.fill(2)(Bridge.typeCollection(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // Null on dimension mismatch (never a silent truncated/zero score): a
  // dim bug upstream must surface as NULL, not a plausible number.
  override def nullable: Boolean = true
  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (!base.isSuccess) base
    else if (left.dataType.asInstanceOf[ArrayType].elementType !=
             right.dataType.asInstanceOf[ArrayType].elementType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires both arrays to share an element type")
    else base
  }
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    if (aa.numElements() != bb.numElements()) null
    else if (isFloat) floatFn(aa, bb) else doubleFn(aa, bb)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = kernel + (if (isFloat) "Float" else "Double")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.expr.VectorMath.$fn($a, $b);
         |}
       """.stripMargin)
  }
}

/** Cosine similarity between two dense vectors: the kernel for similarity
  * search / embedding dedup / k-NN graph build (SURVEY §7 scale ops; E7
  * `print_sim` generalized). */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorPairKernel("cosine", VectorMath.cosineFloat, VectorMath.cosineDouble) {
  override def prettyName: String = "cosine_sim"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Dot product between two dense vectors (IVF/ANN scoring primitive). */
case class DotProduct(left: Expression, right: Expression)
    extends VectorPairKernel("dot", VectorMath.dotFloat, VectorMath.dotDouble) {
  override def prettyName: String = "dot_product"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
