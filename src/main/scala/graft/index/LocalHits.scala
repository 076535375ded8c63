package graft.index

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types._

import graft.functions.QueryHeaps

/** Search hits held on the driver: (qid, id, score) rows, `id` as its
  * Catalyst value, each query's hits best first and queries in ascending
  * qid order. Every indexed search returns these (the IVFPQ path and the
  * exact fallback over collected keys merge task heaps into them, the
  * other tiers [[LocalHits.collect]] their plans), so the per-request
  * top-k cuts after it run on the driver instead of planning another
  * Spark job; [[toDF]] hands them back as a local relation, which
  * collects without a job.
  */
private[graft] final case class LocalHits(idType: DataType, rows: IndexedSeq[LocalHits.Hit]) {
  import LocalHits.Hit

  /** Top `k` rows per qid in `TopK.perGroup(_, "qid", "score", ascending,
    * k, Seq(id))` order: the same heap and (score, id) ordering.
    */
  def topK(k: Int, ascending: Boolean): LocalHits = {
    val qids = rows.map(_.qid).distinct.sorted.toArray
    val group = qids.zipWithIndex.toMap
    val heaps = new QueryHeaps(qids.length, k, idType, ascending)
    rows.foreach(h => heaps.offer(group(h.qid), h.score, h.id))
    LocalHits.fromHeaps(heaps, qids, idType)
  }

  def ++(other: LocalHits): LocalHits = LocalHits(idType, rows ++ other.rows)

  def mapScores(f: Double => Double): LocalHits =
    LocalHits(idType, rows.map(h => h.copy(score = f(h.score))))

  /** (qid, `idName`, score) as a local relation. */
  def toDF(spark: SparkSession, idName: String = "id"): DataFrame = {
    val schema = StructType(Seq(
      StructField("qid", LongType, nullable = false), StructField(idName, idType),
      StructField("score", DoubleType, nullable = false)))
    val toScala = CatalystTypeConverters.createToScalaConverter(idType)
    val out = new java.util.ArrayList[Row](rows.size)
    rows.foreach(h => out.add(Row(h.qid, toScala(h.id), h.score)))
    spark.createDataFrame(out, schema)
  }
}

private[graft] object LocalHits {
  final case class Hit(qid: Long, id: Any, score: Double)

  /** Each group's kept rows, best first; group `g` answers `qids(g)`. */
  def fromHeaps(heaps: QueryHeaps, qids: Array[Long], idType: DataType): LocalHits =
    LocalHits(idType, qids.indices.flatMap { g =>
      heaps.sorted(g).map(r => Hit(qids(g), r.get(1, idType), r.getDouble(2)))
    })

  /** Runs `df` (qid, id, score) and keeps its rows. */
  def collect(df: DataFrame): LocalHits = {
    val idType = df.schema("id").dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    LocalHits(idType, df.select("qid", "id", "score").collect().toIndexedSeq.map(r =>
      Hit(r.getLong(0), toCatalyst(r.get(1)), r.getDouble(2))))
  }
}
