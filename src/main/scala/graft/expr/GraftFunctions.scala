package graft.expr

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.Bridge

/** Column and SQL bindings for graft's custom expressions. The queries use
  * the Column bindings, so they run on any session. `registerAll` adds the
  * SQL names, which make the kernels reachable from `spark.sql(...)`; only
  * `Graft.session` calls it, so sessions graft did not build lack them. */
object GraftFunctions {

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "partial_ratio" -> (es => PartialRatio(es(0), es(1))),
    "jaccard_char_distance" -> (es => JaccardCharDistance(es(0), es(1))),
    "modal_label" -> (es => ModalLabel(es.head)),
    "cosine_sim" -> (es => CosineSimilarity(es(0), es(1))),
    "dot_product" -> (es => DotProduct(es(0), es(1))),
    "minhash_text" -> (es => MinHashFromText(es.head))
  )

  def registerAll(spark: SparkSession): Unit = builders.foreach { case (name, b) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "built-in")
  }

  // Column API
  private def col(e: Expression): Column = Bridge.column(e)
  private def ex(c: Column): Expression = Bridge.expression(c)

  def partial_ratio(a: Column, b: Column): Column = col(PartialRatio(ex(a), ex(b)))
  def jaccard_char_distance(a: Column, b: Column): Column =
    col(JaccardCharDistance(ex(a), ex(b)))
  def modal_label(arr: Column): Column = col(ModalLabel(ex(arr)))
  def cosine_sim(a: Column, b: Column): Column = col(CosineSimilarity(ex(a), ex(b)))
  def dot_product(a: Column, b: Column): Column = col(DotProduct(ex(a), ex(b)))
  def minhash_text(text: Column): Column = col(MinHashFromText(ex(text)))
}
