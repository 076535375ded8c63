package graft.index

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSuite
import graft.core.{Metric, RangeFilter, SearchRequest, VecQuery}
import graft.operators.{Knn, TopK}
import graft.table.{GammaTable, VectorFieldDef}

/** The exact fallback over a small allowed set, served on the driver from
  * one job over the table's vector store (see `ExactRerank.allowedOnly`),
  * for every metric the store scores (L2, InnerProduct, Cosine), must return
  * exactly the rows of the plan it replaces, `Knn.flatSearch` over the
  * semi-joined rows plus `TopK.perGroup`: same ids, bit-equal scores, same
  * order per query.
  */
class ExactFallbackSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_exact_fallback").toString

  // 500 embeddings plus exact copies of 20 of them under new ids (a copy
  // ties its original on every score); copy 1000 + i carries tag (i + 1) % 3,
  // so a tag filter passing 0 and 1 keeps both sides of every third tie
  private lazy val docsLong: DataFrame = {
    val emb = spark.read.parquet(s"$sf0/embeddings.parquet")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    emb.unionByName(emb.filter($"id" < 20).select(($"id" + 1000).as("id"), $"vec"))
      .withColumn("tag", $"id" % 3)
      .localCheckpoint(true)
  }

  private lazy val vecs: Seq[Array[Float]] =
    docsLong.filter($"id" < 6).orderBy("id").select("vec").as[Array[Float]].collect().toSeq

  private val tables = scala.collection.mutable.Map.empty[(Metric.Value, Boolean), GammaTable]

  private def table(metric: Metric.Value, stringKeys: Boolean): GammaTable =
    tables.getOrElseUpdate((metric, stringKeys), newTable(metric, stringKeys))

  /** An IVFPQ table, or for Cosine (which IVFPQ does not serve) IVFFLAT. */
  private def newTable(metric: Metric.Value, stringKeys: Boolean): GammaTable = {
    val docs = if (stringKeys) docsLong.withColumn("id", $"id".cast("string")) else docsLong
    val model = if (metric == Metric.Cosine) "IVFFLAT" else "IVFPQ"
    val t = GammaTable.create(spark, tmp(), "fb", "id", docs,
      Seq(VectorFieldDef("vec", 64, metric.toString, model)), nBuckets = 4)
    t.buildIndex("vec", IndexParams(metric = metric, ncentroids = 4, nprobe = 2, nsubvector = 8),
      persist = true, retrievalType = model)
    t
  }

  /** Per qid, its (id, raw score bits) rows in result order. */
  private def ranked(df: DataFrame): Map[Long, Seq[(Any, Long)]] =
    df.select("qid", "id", "score").collect().toSeq.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.map(r => (r.get(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
    }

  private val passes01 = $"tag".between(0, 1)

  /** The fallback through the indexer, with the allowed keys collected
    * (`JobCountSpec` pins that this tier runs one job and no shuffle).
    */
  private def driver(
      t: GammaTable, qs: Seq[(Long, Array[Float])], k: Int, filter: org.apache.spark.sql.Column,
      range: (Option[Double], Option[Double]) = (None, None)): DataFrame = {
    val keys = AllowedKeys.collect(t.docs.filter(filter).select("id"), Long.MaxValue)
    t.attachedIndex("vec").get.searchHits(qs, k, None, Some(keys), range._1, range._2).toDF(spark)
  }

  /** The plan the fallback replaces: exact scan of the semi-joined rows,
    * then the caller's per-qid cut.
    */
  private def lazyPlan(
      t: GammaTable, qs: Seq[(Long, Array[Float])], k: Int, metric: Metric.Value,
      filter: org.apache.spark.sql.Column,
      range: (Option[Double], Option[Double]) = (None, None)): DataFrame = {
    val src = t.docs.join(t.docs.filter(filter).select("id"), Seq("id"), "left_semi")
    val q = qs.map { case (i, v) => (i, v.toSeq) }.toDF("qid", "qvec")
    TopK.perGroup(Knn.flatSearch(src, "id", "vec", q, "qid", "qvec", k, metric,
      minScore = range._1, maxScore = range._2), "qid", "score", Metric.ascending(metric), k, Seq("id"))
  }

  for (metric <- Seq(Metric.L2, Metric.InnerProduct, Metric.Cosine); stringKeys <- Seq(false, true)) {
    val keys = if (stringKeys) "string" else "long"
    test(s"driver exact fallback equals Knn.flatSearch + TopK.perGroup ($metric, $keys keys)") {
      val t = table(metric, stringKeys)
      // stored vectors (ids 0 and 3 tie their copies), a repeat of the
      // first, and a qid shared by two vectors
      val qs = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
        Seq((6L, vecs.head), (1L, vecs(4)))
      val want = ranked(lazyPlan(t, qs, 10, metric, passes01))
      assert(ranked(driver(t, qs, 10, passes01)) === want)
      // served by the store, not the plan it replaces
      val keys = AllowedKeys.collect(t.docs.filter(passes01).select("id"), Long.MaxValue)
      assert(ranked(ExactRerank.allowedOnly(t.vectorStore("vec"), qs, 10, metric, keys, (None, None))
        .getOrElse(fail("the store did not serve the fallback")).toDF(spark)) === want)
      assert(want(0L).size === 10 && want(1L).size === 10)
      // the tie at distance 0 (L2) orders by id: original before its copy
      if (metric == Metric.L2) assert(want(0L).take(2).map(_._1.toString) === Seq("0", "1000"))

      // a score window cutting into query 0's top-10
      val s0 = want(0L).map(r => java.lang.Double.longBitsToDouble(r._2)).sorted
      val range = (Some(s0(2)), Some(s0(7)))
      val wantRange = ranked(lazyPlan(t, qs, 10, metric, passes01, range))
      assert(ranked(driver(t, qs, 10, passes01, range)) === wantRange)
      assert(wantRange(0L).size === 6)

      // through the table: the request takes the exact-fallback tier, and
      // its top-n equals the exact scan of the filtered rows
      val vq = VecQuery("vec", vectors = vecs)
      val got = t.search(SearchRequest(topn = 10, vecQueries = Seq(vq),
        rangeFilters = Seq(RangeFilter("tag", Some(0.0), Some(1.0))), metric = metric))
      assert(ranked(got) ===
        ranked(lazyPlan(t, vq.batch, 10, metric, passes01)))
    }
  }

  test("a filter that matches nothing returns no rows") {
    val t = table(Metric.L2, stringKeys = false)
    val qs = Seq((0L, vecs.head))
    assert(driver(t, qs, 10, $"tag" === 7).count() === 0)
    val got = t.search(SearchRequest(topn = 10, vecQueries = Seq(VecQuery("vec", vecs.head)),
      rangeFilters = Seq(RangeFilter("tag", Some(7.0), Some(8.0)))))
    assert(got.count() === 0)
  }

  test("an un-refreshed upsert and delete: the fresh row is found, the deleted one hidden") {
    for (stringKeys <- Seq(false, true)) {
      val t = newTable(Metric.L2, stringKeys)
      val q = vecs.head
      // doc 3 moves onto the query (tag 0); doc 1000, the copy tying doc 0,
      // is deleted; neither change reaches the index
      val moved = docsLong.filter($"id" === 3).withColumn("vec", typedLit(q.toSeq))
      t.addOrUpdate(if (stringKeys) moved.withColumn("id", $"id".cast("string")) else moved)
      val gone = Seq(1000L).toDF("id")
      t.delete(if (stringKeys) gone.withColumn("id", $"id".cast("string")) else gone)
      val qs = Seq((0L, q))
      val got = ranked(driver(t, qs, 10, passes01))
      assert(got === ranked(lazyPlan(t, qs, 10, Metric.L2, passes01)))
      val top = got(0L).map(_._1.toString)
      assert(top.take(2) === Seq("0", "3"), top)
      assert(!top.contains("1000"), top)
    }
  }
}
