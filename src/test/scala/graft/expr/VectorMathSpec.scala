package graft.expr

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite

/** Kernels + expression layer for modal_label / cosine_sim / dot_product
  * (SURVEY §2 F6/G2/E7). Covers the tie-demotion semantics of the reference
  * (/root/reference/src/labelling_pipeline.py:268-275, 497-508) and the
  * null-on-dimension-mismatch contract of the vector expressions.
  */
class VectorMathSpec extends AnyFunSuite {

  private def arr(xs: Any*): GenericArrayData = new GenericArrayData(xs.toArray)

  // --- modalLabel kernel -------------------------------------------------

  test("modal_label: strict majority wins") {
    assert(VectorMath.modalLabel(arr(1, 1, 0)) == 1)
    assert(VectorMath.modalLabel(arr(0, 0, 1)) == 0)
    assert(VectorMath.modalLabel(arr(-1, -1, 1)) == -1)
    assert(VectorMath.modalLabel(arr(1, 1, 1)) == 1)
    assert(VectorMath.modalLabel(arr(5)) == 5)
  }

  test("modal_label: ties demote to -1 (reference tie rule)") {
    // three distinct values -> three-way tie
    assert(VectorMath.modalLabel(arr(1, 0, -1)) == -1)
    // two-way tie
    assert(VectorMath.modalLabel(arr(1, 1, 0, 0)) == -1)
    assert(VectorMath.modalLabel(arr(1, 0)) == -1)
  }

  test("modal_label: empty and all-null input -> -1; null elements ignored") {
    assert(VectorMath.modalLabel(arr()) == -1)
    assert(VectorMath.modalLabel(arr(null, null)) == -1)
    assert(VectorMath.modalLabel(arr(1, null, 1, 0)) == 1)
    assert(VectorMath.modalLabel(arr(null, 7)) == 7)
  }

  test("modal_label: permutation invariance") {
    val rnd = new scala.util.Random(7)
    (0 until 300).foreach { _ =>
      val xs = Array.fill(1 + rnd.nextInt(7))(rnd.nextInt(4) - 1)
      val base = VectorMath.modalLabel(arr(xs.map(_.asInstanceOf[Any]).toSeq: _*))
      val shuf = rnd.shuffle(xs.toList)
      assert(VectorMath.modalLabel(arr(shuf.map(_.asInstanceOf[Any]): _*)) == base,
        s"permutation changed mode for ${xs.toList} vs $shuf")
    }
  }

  // --- cosine / dot kernels ---------------------------------------------

  private def eps = 1e-12

  test("cosine: hand-computed values, zero-norm -> 0.0") {
    val a = arr(1.0, 2.0, 3.0)
    val b = arr(4.0, 5.0, 6.0)
    val expected = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(VectorMath.cosineDouble(a, b) - expected) < eps)
    assert(VectorMath.cosineDouble(arr(0.0, 0.0), arr(1.0, 1.0)) == 0.0)
    assert(math.abs(VectorMath.cosineDouble(a, a) - 1.0) < eps)
    val af = arr(1.0f, 2.0f, 3.0f)
    val bf = arr(4.0f, 5.0f, 6.0f)
    assert(math.abs(VectorMath.cosineFloat(af, bf) - expected) < 1e-7)
  }

  test("dot: hand-computed values") {
    assert(VectorMath.dotDouble(arr(1.0, 2.0, 3.0), arr(4.0, 5.0, 6.0)) == 32.0)
    assert(VectorMath.dotFloat(arr(1.0f, 0.5f), arr(2.0f, 4.0f)) == 4.0)
    assert(VectorMath.dotDouble(arr(), arr()) == 0.0)
  }

  // --- expression layer (exercises codegen + null semantics) -------------

  test("expressions: dimension mismatch yields NULL, not a truncated score") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f)),
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))
    ).toDF("a", "b")
    df.createOrReplaceTempView("vm_pairs")
    val rows = spark.sql(
      "SELECT cosine_sim(a, b) AS c, dot_product(a, b) AS d FROM vm_pairs")
      .collect().sortBy(r => r.isNullAt(0))
    assert(math.abs(rows(0).getDouble(0) - 1.0) < 1e-7)
    assert(math.abs(rows(0).getDouble(1) - 5.0) < 1e-7)
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
  }

  test("expressions: mixed float/double arrays fail analysis, not a misread kernel") {
    // both kernels read the two arrays with ONE element type; a float x
    // double pair once reached dotFloat with a double array (3.75, not 5.0)
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    Seq((Array(1.0f, 2.0f), Array(1.0, 2.0))).toDF("f", "d")
      .createOrReplaceTempView("vm_mixed")
    for (fn <- Seq("dot_product", "cosine_sim"); args <- Seq("f, d", "d, f")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $fn($args) FROM vm_mixed").collect()
      }
      assert(e.getMessage.contains(s"$fn requires both arrays to share an element type"),
        s"$fn($args): ${e.getMessage}")
    }
  }

  test("expressions: modal_label over array column matches kernel") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val df = Seq(
      (Seq(1, 1, 0), 1), (Seq(1, 0, -1), -1), (Seq(0, 0, 0), 0), (Seq(1, 0), -1)
    ).toDF("labs", "expected")
    df.createOrReplaceTempView("vm_modal")
    spark.sql("SELECT modal_label(labs) AS m, expected FROM vm_modal")
      .collect().foreach { (r: Row) => assert(r.getInt(0) == r.getInt(1)) }
  }

  test("expressions: cosine_sim on double arrays via SQL registration") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
      .createOrReplaceTempView("vm_dbl")
    val v = spark.sql("SELECT cosine_sim(a, b) AS c FROM vm_dbl").head().getDouble(0)
    assert(math.abs(v - 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))) < eps)
  }
}
