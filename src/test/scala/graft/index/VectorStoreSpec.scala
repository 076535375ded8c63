package graft.index

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSuite
import graft.core.{Metric, RangeFilter, SearchRequest, VecQuery}
import graft.operators.{Knn, TopK}
import graft.table.{GammaTable, VectorFieldDef}

/** The resident vector store (see `VectorStore`): the re-rank and the exact
  * fallback it serves must return exactly the rows of `Knn.flatSearch` +
  * `TopK.perGroup` over the live table (same ids, bit-equal scores, same
  * order per query), a commit must replace it, and lost blocks, IVF lists
  * (IVFPQ codes, IVFFLAT and BINARYIVF centroids) included, must come back
  * from lineage.
  */
class VectorStoreSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_vector_store").toString

  // 500 embeddings plus exact copies of 20 of them under new ids (a copy
  // ties its original on every score); tag = id % 3
  private lazy val base: DataFrame = {
    val emb = spark.read.parquet(s"$sf0/embeddings.parquet")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    emb.unionByName(emb.filter($"id" < 20).select(($"id" + 1000).as("id"), $"vec"))
      .withColumn("tag", $"id" % 3)
      .localCheckpoint(true)
  }

  // stored vectors (ids 0 and 3 tie their copies), a repeat of the first,
  // and a qid shared by two vectors
  private lazy val queries: Seq[(Long, Array[Float])] = {
    val vs = base.filter($"id" < 6).orderBy("id").select("vec").as[Array[Float]].collect().toSeq
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++ Seq((6L, vs.head), (1L, vs(4)))
  }

  private val tables = scala.collection.mutable.Map.empty[(String, String), GammaTable]

  /** A table over `base` with `keys` ("long" | "int" | "string") keys and
    * `vecs` ("float" | "double") vectors, 4 buckets.
    */
  private def table(keys: String, vecs: String): GammaTable =
    tables.getOrElseUpdate((keys, vecs), GammaTable.create(spark, tmp(), "vs", "id",
      base.withColumn("id", $"id".cast(keys)).withColumn("vec", $"vec".cast(s"array<$vecs>")),
      Seq(VectorFieldDef("vec", 64)), nBuckets = 4))

  /** Per qid, its (id, raw score bits) rows in result order. */
  private def ranked(df: DataFrame): Map[Long, Seq[(Any, Long)]] =
    df.select("qid", "id", "score").collect().toSeq.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.map(r => (r.get(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
    }

  private def exact(
      src: DataFrame, qs: Seq[(Long, Array[Float])], k: Int, metric: Metric.Value,
      range: (Option[Double], Option[Double]) = (None, None)): DataFrame = {
    val q = qs.map { case (i, v) => (i, v.toSeq) }.toDF("qid", "qvec")
    TopK.perGroup(Knn.flatSearch(src, "id", "vec", q, "qid", "qvec", k, metric,
      minScore = range._1, maxScore = range._2), "qid", "score", Metric.ascending(metric), k, Seq("id"))
  }

  private val passes01 = $"tag".between(0, 1)

  for (metric <- Seq(Metric.L2, Metric.InnerProduct); keys <- Seq("long", "int", "string");
       vecs <- Seq("float", "double")) {
    test(s"store-served re-rank and fallback equal Knn.flatSearch + TopK.perGroup " +
        s"($metric, $keys keys, $vecs vectors)") {
      val t = table(keys, vecs)
      val store = t.vectorStore("vec")
      assert(store.serves)
      val every = queries.indices.toArray

      // re-rank: every live key a candidate of every query
      val live = AllowedKeys.collect(t.docs.select("id"), Long.MaxValue)
      val want = ranked(exact(t.docs, queries, 10, metric))
      assert(ranked(ExactRerank.hits(store, live.keys.get.map(_ -> every), queries, 10, metric,
        (None, None)).toDF(spark)) === want)
      assert(want(0L).size === 10 && want(1L).size === 10)
      if (metric == Metric.L2) assert(want(0L).take(2).map(_._1.toString) === Seq("0", "1000"))

      // fallback: the allowed rows only, without and with a score window
      val allowed = AllowedKeys.collect(t.docs.filter(passes01).select("id"), Long.MaxValue)
      def fallback(range: (Option[Double], Option[Double])) =
        ranked(ExactRerank.allowedOnly(store, queries, 10, metric, allowed, range)
          .getOrElse(fail("the store did not serve the fallback")).toDF(spark))
      val wantAllowed = ranked(exact(t.docs.filter(passes01), queries, 10, metric))
      assert(fallback((None, None)) === wantAllowed)
      val s0 = wantAllowed(0L).map(r => java.lang.Double.longBitsToDouble(r._2)).sorted
      val range = (Some(s0(2)), Some(s0(7)))
      val wantRange = ranked(exact(t.docs.filter(passes01), queries, 10, metric, range))
      assert(fallback(range) === wantRange)
      assert(wantRange(0L).size === 6)
    }
  }

  test("an INT8-stored field is held on the decoded float surface") {
    val t = GammaTable.create(spark, tmp(), "vs8", "id", base,
      Seq(VectorFieldDef("vec", 64, store = "INT8")), nBuckets = 4)
    val every = queries.indices.toArray
    val live = AllowedKeys.collect(t.docs.select("id"), Long.MaxValue)
    assert(ranked(ExactRerank.hits(t.vectorStore("vec"), live.keys.get.map(_ -> every), queries, 10,
      Metric.L2, (None, None)).toDF(spark)) === ranked(exact(t.docs, queries, 10, Metric.L2)))
  }

  // base with each vector replaced by a 128-bit code of its id (a copy's
  // code is its original's)
  private lazy val codeDocs: DataFrame =
    base.withColumn("vec", unhex(md5(($"id" % 1000).cast("string")))).localCheckpoint(true)

  /** Persisted IVF table (IVFPQ, IVFFLAT or BINARYIVF over [[codeDocs]])
    * whose full probe is exact (IVFPQ: recall_num >= rows re-ranks every
    * doc).
    */
  private def ivf(model: String = "IVFPQ"): GammaTable = {
    val binary = model == "BINARYIVF"
    val metric = if (binary) Metric.Hamming else Metric.L2
    val t = GammaTable.create(spark, tmp(), "vsi", "id", if (binary) codeDocs else base,
      Seq(VectorFieldDef("vec", if (binary) 128 else 64, metric.toString, model)), nBuckets = 4)
    t.buildIndex("vec", IndexParams(metric = metric, ncentroids = 4, nprobe = 4, nsubvector = 8,
      recallNum = 1000), persist = true, retrievalType = model)
    t
  }

  private def request(q: Array[Float], filter: Boolean, metric: Metric.Value = Metric.L2) =
    SearchRequest(topn = 10, vecQueries = Seq(VecQuery("vec", q)), metric = metric,
      rangeFilters = if (filter) Seq(RangeFilter("tag", Some(0.0), Some(1.0))) else Nil)

  test("after an upsert, a delete and compact(), a search scores the new manifest's rows") {
    val t = ivf()
    val q = queries(4)._2 // doc 4's vector (tag 1)
    def check(filter: Boolean): Seq[String] = {
      val got = t.search(request(q, filter))
      val src = if (filter) t.docs.filter(passes01) else t.docs
      val r = ranked(got)
      assert(r === ranked(exact(src, Seq((0L, q)), 10, Metric.L2)), s"filter=$filter")
      r(0L).map(_._1.toString)
    }
    Seq(false, true).foreach(check) // builds the store of this manifest
    // doc 3 moves onto the query (tag 0); doc 4, the query's own row, goes
    val moved = base.filter($"id" === 3).withColumn("vec", typedLit(q.toSeq))
    t.addOrUpdate(moved)
    t.delete(Seq(4L).toDF("id"))
    t.compact()
    // the exact fallback looks every allowed key up in the store
    val fallbackTop = check(filter = true)
    assert(fallbackTop.head === "3" && !fallbackTop.contains("4"), fallbackTop)
    // once the index holds doc 3's new code, the re-rank looks it up too
    t.attachedIndex("vec").get.refresh()
    val rerankTop = check(filter = false)
    assert(rerankTop.head === "3" && !rerankTop.contains("4"), rerankTop)
  }

  /** The index rows of `t`'s IVF store: (key, centroid, codes), sorted
    * (no codes for IVFFLAT).
    */
  private def storeCodes(t: GammaTable): Seq[(String, Int, Seq[Int])] = {
    val pq = t.attachedIndex("vec").get.currentIndex.get.asInstanceOf[IvfIndex]
    val (m, ncent) = (pq.codec.m, pq.centers.length)
    val store = t.vectorStore("vec", Some(pq.codec))
    assert(store eq t.vectorStore("vec"))
    store.run { b =>
      (0 until ncent).flatMap(c => b.list(c).map { p =>
        (b.key(b.listRow(p)).toString, c, (0 until m).map(b.code(p, _)))
      }).toArray
    }.flatten.sortBy(_._1)
  }

  test("blocks lost from the block manager come back from lineage with identical rows") {
    for (model <- Seq("IVFPQ", "IVFFLAT", "BINARYIVF")) {
      val t = ivf(model)
      val (metric, qs) =
        if (model != "BINARYIVF") (Metric.L2, queries.map(_._2))
        else (Metric.Hamming, codeDocs.filter($"id" < 6).orderBy("id").select("vec")
          .as[Array[Byte]].collect().toSeq.map(BinaryIvfIndex.bytesToFloats(_)))
      val q = qs(2)
      // a partial-probe batch: the list scan reads the blocks' lists
      val partial = SearchRequest(topn = 10, vecQueries = Seq(VecQuery("vec",
        vectors = qs, nprobe = Some(2), recallNum = Some(20))), metric = metric)
      def hits() = Seq(false, true).map(f => ranked(t.search(request(q, f, metric)))) :+
        ranked(t.search(partial))
      val before = hits()
      val codes = storeCodes(t)
      assert(codes.size === t.docs.count())
      val sc = spark.sparkContext
      val store = sc.getPersistentRDDs.values.filter(_.name == "graft.VectorStore(id, vec)")
        .maxBy(_.id)
      def cached = org.apache.spark.BlockLoss.cachedPartitions(store.id, store.getNumPartitions)
      assert(cached === store.getNumPartitions)
      org.apache.spark.BlockLoss.dropCachedBlocks(store.id)
      assert(cached === 0)
      // the first search rebuilds the blocks, lists recomputed, with
      // identical hits
      assert(hits() === before, model)
      assert(cached > 0, model)
      assert(storeCodes(t) === codes, model)
    }
  }

  test("a commit while a lookup builds the store neither waits for it nor leaves its blocks cached") {
    // a plain store, and ones that carry an IVFPQ or IVFFLAT index
    for (codes <- Seq(None, Some("IVFPQ"), Some("IVFFLAT"))) {
      val t = GammaTable.create(spark, tmp(), "vsc", "id", base,
        Seq(codes.fold(VectorFieldDef("vec", 64))(VectorFieldDef("vec", 64, "L2", _))),
        nBuckets = 4)
      val codec = codes.map(model => t.buildIndex("vec", IndexParams(ncentroids = 4, nsubvector = 8),
          retrievalType = model).currentIndex.get.asInstanceOf[IvfIndex].codec)
      val store = t.vectorStore("vec", codec)
      assert(store.codec === codec)
      StoreGate.reset()
      // partition 0's task holds the lookup job open once its block is built
      val lookup = Future(store.lookup(Seq[(Any, Int)](4L -> 0)) { (block, keys) =>
        if (org.apache.spark.TaskContext.getPartitionId() == 0) StoreGate.hold()
        block.rowsOf(keys.head._1).size
      })
      val sc = spark.sparkContext
      val rdd = try {
        assert(StoreGate.entered.await(120, TimeUnit.SECONDS), "the lookup job never started")
        val rdd = sc.getPersistentRDDs.values.filter(_.name == "graft.VectorStore(id, vec)").maxBy(_.id)
        // the held task outlasts this wait: a commit that waited for the job
        // would time out here
        Await.result(Future(t.delete(Seq(4L).toDF("id"))), 60.seconds)
        assert(t.vectorStore("vec", codec) ne store)
        rdd
      } finally StoreGate.open.countDown()
      assert(Await.result(lookup, 120.seconds).sum === 1, s"codes=$codes")
      assert(!sc.getPersistentRDDs.contains(rdd.id), s"codes=$codes")
      // the blocks the in-flight job cached are removed asynchronously
      def cached = org.apache.spark.BlockLoss.cachedPartitions(rdd.id, rdd.getNumPartitions)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (cached > 0 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(cached === 0, s"codes=$codes")
    }
  }
}

/** A latch pair a task can block on (tasks of the local master run in the
  * test JVM).
  */
private object StoreGate {
  @volatile var entered = new CountDownLatch(1)
  @volatile var open = new CountDownLatch(1)
  def reset(): Unit = { entered = new CountDownLatch(1); open = new CountDownLatch(1) }
  def hold(): Unit = { entered.countDown(); open.await(600, TimeUnit.SECONDS) }
}
