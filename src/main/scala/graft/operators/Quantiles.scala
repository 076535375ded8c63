package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact distributed quantiles over integer-valued columns (length /
  * token-count percentile reports, the quantile thresholds a curation
  * pipeline pins in its datasheet).
  *
  * Not a sketch and not a sort: the data collapses to a VALUE HISTOGRAM
  * first — groupBy (group, value) with map-side combine — so the shuffle
  * carries one row per distinct value per group no matter how many rows
  * the corpus has (document lengths live in a domain of ~10^4 values at
  * any corpus size). A cumulative window over the histogram then reads
  * off `min v : cum(v) ≥ ceil(n·q)` — percentile_disc semantics in pure
  * integer arithmetic, so the DuckDB oracle replays it bit-for-bit.
  */
object Quantiles {

  /** One row per (group, permille) with the exact q-th value:
    * q_value = min v with |{x ≤ v}| ≥ ceil(n · pm / 1000).
    */
  def exactPermille(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      permilles: Seq[Int]): DataFrame = {
    val hist = df.groupBy(col(groupCol), col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__v"))
    val wAll = Window.partitionBy(col(groupCol))
    val cum = hist
      .withColumn("__cum",
        sum(col("__c")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", sum(col("__c")).over(wAll))
    cum
      .select(col(groupCol), col("__v"), col("__cum"), col("__n"),
        explode(array(permilles.map(lit): _*)).as("permille"))
      .withColumn("__r",
        expr("(__n * permille + 999) div 1000")) // ceil(n*pm/1000), exact
      .groupBy(col(groupCol), col("permille"))
      .agg(min(when(col("__cum") >= col("__r"), col("__v"))).as("q_value"))
  }
}
