package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.{Bridge => ExpressionUtils}

/** Column-level API for graft's custom kernels, plus SQL registration so
  * `spark.sql("SELECT l2_sq(a, b) ...")` works too.
  */
package object functions {

  private def col(e: Expression): Column = ExpressionUtils.column(e)
  private def expr(c: Column): Expression = ExpressionUtils.expression(c)

  /** Squared L2 distance between two float/double array columns. */
  def l2_sq(a: Column, b: Column): Column = col(L2SqDistance(expr(a), expr(b)))

  /** Euclidean (sqrt'd) L2 distance — the reference's optional `l2_sqrt`
    * response transform (idl/fbs/request.fbs:39).
    */
  def l2(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.sqrt(l2_sq(a, b))

  /** Inner product of two vector columns. */
  def inner_product(a: Column, b: Column): Column = col(InnerProduct(expr(a), expr(b)))

  /** Cosine similarity of two vector columns (0.0 on zero norm). */
  def cosine_sim(a: Column, b: Column): Column = col(CosineSimilarity(expr(a), expr(b)))

  /** Hamming distance between two binary (packed-bit) columns. */
  def hamming(a: Column, b: Column): Column = col(HammingDistance(expr(a), expr(b)))

  /** PQ asymmetric distance: codes (array<int>) against a flattened
    * query LUT (array<double> of m*ksub).
    */
  def pq_adc(codes: Column, lut: Column): Column = col(PqAdcDistance(expr(codes), expr(lut)))

  /** Bounded top-k heap aggregate over struct rows ordered by the struct's
    * leading fields; returns the k smallest as a sorted array.
    */
  def topk_rows(structCol: Column, k: Int, numSortFields: Int = 0): Column =
    col(TopKRows(expr(structCol), k, numSortFields).toAggregateExpression())

  /** Misra-Gries heavy-hitter summary aggregate: ≤ k (item, count) slots,
    * returned as `(items map<string,bigint>, seen bigint)`. Every item
    * with true frequency > seen/(k+1) is guaranteed present.
    */
  def mg_sketch(itemCol: Column, k: Int): Column =
    col(MgSketch(expr(itemCol), k).toAggregateExpression())

  private val sqlKernels: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "l2_sq" -> (es => L2SqDistance(es.head, es(1))),
    "inner_product_vec" -> (es => InnerProduct(es.head, es(1))),
    "cosine_sim" -> (es => CosineSimilarity(es.head, es(1))),
    "hamming" -> (es => HammingDistance(es.head, es(1))),
    "pq_adc" -> (es => PqAdcDistance(es.head, es(1))),
    "int8_encode" -> (es => Int8EncodeExpr(es.head)),
    "int8_decode" -> (es => Int8DecodeExpr(es.head)))

  /** Register the kernels in the session's function registry for SQL use.
    * Idempotent: a name the session already knows is left as it is, so
    * repeated calls neither replace functions nor log a warning each.
    */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlKernels.foreach { case (name, build) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }
}
