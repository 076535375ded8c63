package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.Metric
import graft.index.IndexParams
import graft.operators.Knn
import graft.streaming.{IncrementalIndexer, StreamingIngest}
import graft.table.GammaTable

case class StreamDoc(_id: String, vec: Seq[Float], tag: Int)

/** R5-R9: incremental indexing + streaming ingest. Ground truth for every
  * search is exact FLAT over the CURRENT table state (the reference's own
  * correctness contract: index + raw tail must equal brute force).
  */
class StreamingSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_stream").toString

  private lazy val emb = spark.read.parquet(s"$sf0/embeddings.parquet")

  private def docsSlice(lo: Int, hi: Int) =
    emb.filter($"vec_id" >= lo && $"vec_id" < hi)
      .select($"vec_id".cast("string").as("_id"), $"embedding".as("vec"))

  private def queries: Seq[(Long, Array[Float])] =
    emb.filter($"vec_id" < 5).select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toSeq

  private def flatTruth(t: GammaTable, k: Int) = {
    val q = queries.map { case (i, v) => (i, v.toSeq) }.toDF("qid", "qvec")
    Knn.flatSearch(t.docs, "_id", "vec", q, "qid", "qvec", k, Metric.L2)
      .select($"qid", $"id").as[(Long, String)].collect().toSet
  }

  test("streaming first-seen dedup equals the batch exact-dedup keepers") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0/documents.parquet")
      .select($"doc_id", $"text")
    val n = docs.agg(max("doc_id")).head().getLong(0) + 1
    val step = (n + 2) / 3
    val stream = MemoryStream[StreamTextDoc]
    val q = graft.streaming.StreamDedup.firstSeen(stream.toDF(), "doc_id", "text")
      .toDF("digest", "keeper")
      .writeStream.format("memory").queryName("sdedup_spec")
      .outputMode("append").start()
    try {
      def batch(i: Int) = docs
        .filter($"doc_id" >= i * step && $"doc_id" < (i + 1) * step)
        .as[StreamTextDoc].collect().toSeq
      (0 until 3).foreach { i =>
        // shuffle WITHIN the batch: the keeper contract is min-id per
        // batch-group, so intra-batch arrival order must not matter
        stream.addData(scala.util.Random.shuffle(batch(i)))
        q.processAllAvailable()
      }
      // replay an already-seen batch: state suppresses every digest of it
      stream.addData(batch(0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sdedup_spec").select($"digest", $"keeper")
      .as[(String, Long)].collect().toSet
    // batch twin: one keeper (min doc_id) per distinct content — and no
    // duplicate emissions from the replayed batch
    val expected = graft.dedup.Dedup.exactGroups(docs, "doc_id", "text", minGroup = 1)
      .select($"digest", $"keeper").as[(String, Long)].collect().toSet
    assert(got === expected)
    assert(spark.table("sdedup_spec").count() === expected.size.toLong)
  }

  test("streaming decontamination keeps exactly the batch operator's survivors") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0/documents.parquet")
      .select($"doc_id", $"text")
    val evalDocs = docs.filter($"doc_id" % 7 === 0)
    val train = docs.filter($"doc_id" % 7 =!= 0)
    val expected = graft.dedup.Dedup.decontaminate(
        train, "doc_id", "text", evalDocs, "text", shingleN = 3, minHits = 5)
      .select($"doc_id").as[Long].collect().toSet
    val stream = MemoryStream[StreamTextDoc]
    val q = graft.streaming.StreamDedup.decontaminated(
        stream.toDF(), "text", evalDocs, "text",
        shingleN = 3, minHits = 5)
      .select($"doc_id")
      .writeStream.format("memory").queryName("sdecontam_spec")
      .outputMode("append").start()
    try {
      val all = train.as[StreamTextDoc].collect().toSeq
      all.grouped(math.max(1, all.size / 3)).foreach { b =>
        stream.addData(b); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("sdecontam_spec").as[Long].collect().toSet
    assert(got === expected)
    assert(expected.size < train.count()) // the filter actually dropped docs
  }

  test("streaming LSH near-dup converges to the batch pair set, any arrival order") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0/documents.parquet")
      .select($"doc_id", $"text")
    val all = docs.as[StreamTextDoc].collect().toSeq
    // adversarial replay: reverse order + a replayed middle batch
    val batches = all.reverse.grouped(math.max(1, all.size / 3)).toSeq
    val stream = MemoryStream[StreamTextDoc]
    val q = graft.streaming.StreamDedup
      .nearDupPairs(stream.toDF(), docs, "doc_id", "text", threshold = 0.5)
      .writeStream.format("memory").queryName("sneardup_spec")
      .outputMode("append").start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      stream.addData(batches(1)) // replay: members already in bucket state
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sneardup_spec").select($"a", $"b", $"jaccard")
      .distinct().as[(Long, Long, Double)].collect().toSet
    val expected = graft.dedup.Dedup
      .minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === expected)
  }

  test("batch-driven incremental indexing: FSM, append, update, delete, tail merge") {
    val t = GammaTable.create(spark, tmp(), "s", "_id", docsSlice(0, 300), nBuckets = 4)
    val ix = new IncrementalIndexer(t, "vec", IndexParams(ncentroids = 8), indexingSize = 0)
    assert(ix.status === "UNINDEXED")
    // brute-force path while unindexed (V9)
    assert(ix.search(queries, 5).count() === 25)

    ix.refresh()
    assert(ix.status === "INDEXED")
    // full probes -> index search must equal exact search
    assert(ix.search(queries, 5, Some(8)).select($"qid", $"id")
      .as[(Long, String)].collect().toSet === flatTruth(t, 5))

    // append new docs WITHOUT refresh: tail union keeps results exact
    t.addOrUpdate(docsSlice(300, 400))
    assert(ix.search(queries, 5, Some(8)).select($"qid", $"id")
      .as[(Long, String)].collect().toSet === flatTruth(t, 5))

    // refresh absorbs the tail into the index (R5) — still exact
    ix.refresh()
    assert(ix.search(queries, 5, Some(8)).select($"qid", $"id")
      .as[(Long, String)].collect().toSet === flatTruth(t, 5))

    // update vectors of 20 docs (stale index entries must not leak — R6/T11)
    val upd = docsSlice(0, 20).withColumn("vec", reverse($"vec"))
    t.addOrUpdate(upd)
    assert(ix.search(queries, 5, Some(8)).select($"qid", $"id")
      .as[(Long, String)].collect().toSet === flatTruth(t, 5))

    // delete some docs; tombstones must be excluded pre-refresh
    t.delete(Seq("3", "4", "5").toDF("_id"))
    assert(ix.search(queries, 5, Some(8)).select($"qid", $"id")
      .as[(Long, String)].collect().toSet === flatTruth(t, 5))

    ix.refresh()
    assert(ix.search(queries, 5, Some(8)).select($"qid", $"id")
      .as[(Long, String)].collect().toSet === flatTruth(t, 5))
  }

  test("GammaTable.buildIndex facade: INDEXED status and exact full-probe results") {
    val t = GammaTable.create(spark, tmp(), "bi", "_id", docsSlice(0, 200), nBuckets = 4)
    val ix = t.buildIndex("vec", IndexParams(ncentroids = 4, nprobe = 4))
    assert(ix.status === "INDEXED")
    assert(ix.search(queries, 5, Some(4)).select($"qid", $"id")
      .as[(Long, String)].collect().toSet === flatTruth(t, 5))

    // table.search() routes through the attached index; with full probes it
    // must equal the brute-force path, filters pushed into the index scan
    val qv = queries.head._2
    val req = graft.core.SearchRequest(
      topn = 5,
      vecQueries = Seq(graft.core.VecQuery("vec", qv)),
      termFilters = Nil, rangeFilters = Nil)
    val viaIndex = t.search(req).select($"_id").as[String].collect().toSet
    val brute = t.search(req.copy(bruteForce = true)).select($"_id").as[String].collect().toSet
    assert(viaIndex === brute)
  }

  test("persisted index at rest: append refresh, supersede, reload, compact, prune") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "p", "_id", docsSlice(0, 300), nBuckets = 4)
    val ix = t.buildIndex("vec", IndexParams(ncentroids = 8), persist = true)
    assert(ix.search(queries, 5).select($"qid", $"id").as[(Long, String)]
      .collect().toSet === flatTruth(t, 5))

    // upsert: 50 fresh + 20 rewritten (shifted vectors) -> append + supersede
    val rewrites = docsSlice(0, 20)
      .select($"_id", transform($"vec", x => x + 10.0f).as("vec"))
    t.addOrUpdate(docsSlice(300, 350).unionByName(rewrites))
    ix.refresh()
    assert(ix.search(queries, 5).select($"qid", $"id").as[(Long, String)]
      .collect().toSet === flatTruth(t, 5))

    // delete a few keys: runtime anti-join hides them without any index write
    t.delete(Seq("5", "6").toDF("_id"))
    val afterDel = ix.search(queries, 5)
    assert(!afterDel.select("id").as[String].collect().exists(Set("5", "6")))

    // reload table + index purely from disk — results identical
    val t2 = GammaTable.load(spark, root)
    val ix2 = t2.attachedIndex("vec").get
    assert(ix2.persist && ix2.currentIndex.isDefined)
    assert(ix2.search(queries, 5).select($"qid", $"id").as[(Long, String)]
      .collect().toSet === flatTruth(t2, 5))

    // compaction rewrites lists minus superseded entries AND tombstones
    val before = spark.read.parquet(s"$root/index/vec/lists/v0").count()
    ix2.compactIndex()
    val after = spark.read.parquet(s"$root/index/vec/lists/v1").count()
    // 20 rewritten keys' stale rows + 2 deleted keys' rows dropped
    assert(after === before - 22)
    assert(ix2.search(queries, 5).select($"qid", $"id").as[(Long, String)]
      .collect().toSet === flatTruth(t2, 5))

    // probe filters prune the partitioned parquet at rest (T4) where a
    // search reads the lists: an allowed set held only as a frame (an
    // unfiltered search reads the table's store, not the lists)
    val (_, plans) = withExecutedPlans(ix2.currentIndex.get.search(queries.take(1), 5,
      nprobe = Some(2), allowedIds = Some(t2.docs.select("_id"))).collect())
    val plan = plans.mkString("\n")
    assert(plan.contains("PartitionFilters: [centroid_id"), plan)
  }

  test("persisted incremental IVFPQ: delta re-encode through trained codebooks") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "pq", "_id", docsSlice(0, 300), nBuckets = 4)
    // exhaustive re-rank + full probes -> exact, so flatTruth is the oracle
    val ix = t.buildIndex("vec",
      IndexParams(ncentroids = 8, nsubvector = 8, recallNum = 100000),
      persist = true, retrievalType = "IVFPQ")
    assert(ix.search(queries, 5).select($"qid", $"id").as[(Long, String)]
      .collect().toSet === flatTruth(t, 5))

    // fresh + rewritten keys re-encode with the EXISTING codebooks (R6)
    val rewrites = docsSlice(0, 20)
      .select($"_id", transform($"vec", x => x + 10.0f).as("vec"))
    t.addOrUpdate(docsSlice(300, 350).unionByName(rewrites))
    ix.refresh()
    assert(ix.search(queries, 5).select($"qid", $"id").as[(Long, String)]
      .collect().toSet === flatTruth(t, 5))

    t.delete(Seq("7").toDF("_id"))
    assert(!ix.search(queries, 5).select("id").as[String].collect().contains("7"))

    // reload from disk: quantizers + stamped code lists + supersede log
    val t2 = GammaTable.load(spark, root)
    val ix2 = t2.attachedIndex("vec").get
    assert(ix2.retrievalType === "IVFPQ")
    assert(ix2.search(queries, 5).select($"qid", $"id").as[(Long, String)]
      .collect().toSet === flatTruth(t2, 5))

    ix2.compactIndex()
    assert(ix2.search(queries, 5).select($"qid", $"id").as[(Long, String)]
      .collect().toSet === flatTruth(t2, 5))
  }

  test("watermarked windowed streaming aggregation over the events table") {
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val rows = graft.core.Tables.load(spark, sf0, "events")
      .select($"ts", $"event_type", $"value")
      .orderBy($"ts").limit(500).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2)))
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = stream.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("cnt"), sum($"value").as("sum_value"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("ev_agg")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      stream.addData(rows.take(250).toSeq)
      q.processAllAvailable()
      stream.addData(rows.drop(250).toSeq)
      q.processAllAvailable()
      val got = spark.sql("SELECT count(*), sum(cnt) FROM ev_agg").head()
      // every ingested row lands in exactly one (window, type) bucket
      assert(got.getLong(1) === 500L)
      assert(got.getLong(0) > 0)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization equals the batch window algebra") {
    import graft.streaming.Sessionize
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.core.Tables.load(spark, sf0, "events")
      .orderBy($"event_id").limit(2000)
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id", $"value")
    val expected = Sessionize.batch(
        graft.core.Tables.load(spark, sf0, "events")
          .orderBy($"event_id").limit(2000),
        "user_id", "ts", "event_id", "value", gapSeconds = 1800)
      .select($"user_id", $"session_start_us", $"session_end_us",
        $"n_events", $"sum_value")
      .as[(Long, Long, Long, Long, Double)].collect().toSet

    val rows = ev.as[(Long, Long, Long, Double)].collect()
    val maxUs = rows.map(_._2).max
    val stream = MemoryStream[Sessionize.Event]
    // sentinel events must flow THROUGH the watermark to advance it; their
    // own sessions are dropped from the output
    val sessions = Sessionize.streaming(stream.toDS(), gapSeconds = 1800)
      .filter($"key" =!= -1L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      stream.addData(rows.toSeq.map(r => Sessionize.Event(r._1, r._2, r._3, r._4)))
      q.processAllAvailable()
      // sentinel far past every session end + gap + watermark delay:
      // advances the watermark so every open session times out and flushes
      stream.addData(Sessionize.Event(-1L, maxUs + 100L * 3600 * 1000000L, 0L, 0.0))
      q.processAllAvailable()
      stream.addData(Sessionize.Event(-1L, maxUs + 200L * 3600 * 1000000L, 1L, 0.0))
      q.processAllAvailable()
      val got = spark.sql(
          "SELECT key, session_start_us, session_end_us, n_events, sum_value FROM sess")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      assert(got === expected,
        s"\nonly-streaming: ${(got -- expected).toSeq.sortBy(_._2).take(5)}" +
          s"\nonly-batch: ${(expected -- got).toSeq.sortBy(_._2).take(5)}" +
          s"\nsizes ${got.size} vs ${expected.size}")
    } finally q.stop()
  }

  test("HNSW through the table: exclusion staleness, tail union, rebuild, persist") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "h", "_id", docsSlice(0, 300), nBuckets = 4)
    // tiny per-partition graphs + ef >= partition size -> effectively exact,
    // so flatTruth is the oracle for every state below
    val ix = t.buildIndex("vec",
      IndexParams(nlinks = 16, efConstruction = 100, efSearch = 64),
      persist = true, retrievalType = "HNSW")
    assert(ix.search(queries, 5).select($"qid", $"id").as[(Long, String)]
      .collect().toSet === flatTruth(t, 5))

    // small delta (< 20%): graphs stay immutable — updated keys are
    // EXCLUDED at graph admission, fresh + updated rows served by the
    // exact tail union
    val rewrites = docsSlice(0, 20)
      .select($"_id", transform($"vec", x => x + 10.0f).as("vec"))
    t.addOrUpdate(docsSlice(300, 330).unionByName(rewrites))
    ix.refresh()
    assert(ix.search(queries, 5).select($"qid", $"id").as[(Long, String)]
      .collect().toSet === flatTruth(t, 5))

    // deletes hidden by the same exclusion set, no index write
    t.delete(Seq("5", "6").toDF("_id"))
    val afterDel = ix.search(queries, 5)
    assert(!afterDel.select("id").as[String].collect().exists(Set("5", "6")))
    assert(afterDel.select($"qid", $"id").as[(Long, String)]
      .collect().toSet === flatTruth(t, 5))

    // reload table + graphs purely from disk
    val t2 = GammaTable.load(spark, root)
    val ix2 = t2.attachedIndex("vec").get
    assert(ix2.retrievalType === "HNSW")
    assert(ix2.search(queries, 5).select($"qid", $"id").as[(Long, String)]
      .collect().toSet === flatTruth(t2, 5))

    // a large delta (> 20% of the table) triggers the wholesale graph
    // rebuild (graph compaction IS a rebuild); lists version advances
    t2.addOrUpdate(docsSlice(330, 450))
    ix2.refresh()
    // undeclared field, non-default model -> the index dir carries the
    // model suffix so a second model on the same field cannot collide
    assert(spark.read.parquet(s"$root/index/vec@HNSW/lists/v1").count() > 0)
    assert(ix2.search(queries, 5).select($"qid", $"id").as[(Long, String)]
      .collect().toSet === flatTruth(t2, 5))
  }

  test("streaming ingest maintains the PERSISTED index; reload sees streamed state") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "sp", "_id", docsSlice(0, 100), nBuckets = 4)
    val ix = t.buildIndex("vec", IndexParams(ncentroids = 4), persist = true)

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[StreamDoc]
    val q = StreamingIngest.start(
      stream.toDF().drop("tag"), t, indexer = Some(ix),
      trigger = Trigger.ProcessingTime("100 milliseconds"), checkpointDir = Some(tmp()))
    val batch1 = emb.filter($"vec_id" >= 100 && $"vec_id" < 150)
      .select($"vec_id".cast("string").as("_id"), $"embedding".as("vec"), lit(1).as("tag"))
      .as[StreamDoc].collect().toSeq
    stream.addData(batch1)
    q.processAllAvailable()
    val batch2 = emb.filter($"vec_id" < 10)
      .select($"vec_id".cast("string").as("_id"), reverse($"embedding").as("vec"), lit(2).as("tag"))
      .as[StreamDoc].collect().toSeq
    stream.addData(batch2)
    q.processAllAvailable()
    q.stop()

    // the persisted lists absorbed both microbatches (R5 through the
    // foreachBatch cadence), so a COLD reload from disk is already fresh
    val t2 = GammaTable.load(spark, root)
    val ix2 = t2.attachedIndex("vec").get
    assert(ix2.search(queries, 5).select($"qid", $"id").as[(Long, String)]
      .collect().toSet === flatTruth(t2, 5))
  }

  test("streaming ingest via foreachBatch upserts microbatches and keeps index fresh") {
    val t = GammaTable.create(spark, tmp(), "s2", "_id", docsSlice(0, 100), nBuckets = 4)
    val ix = new IncrementalIndexer(t, "vec", IndexParams(ncentroids = 4), indexingSize = 0)
    ix.refresh()

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[StreamDoc]
    val q = StreamingIngest.start(
      stream.toDF().drop("tag"), t, indexer = Some(ix),
      trigger = Trigger.ProcessingTime("100 milliseconds"), checkpointDir = Some(tmp()))

    val batch1 = emb.filter($"vec_id" >= 100 && $"vec_id" < 150)
      .select($"vec_id".cast("string").as("_id"), $"embedding".as("vec"), lit(1).as("tag"))
      .as[StreamDoc].collect().toSeq
    stream.addData(batch1)
    q.processAllAvailable()
    assert(t.docs.count() === 150)

    // second microbatch updates 10 existing keys (last write wins)
    val batch2 = emb.filter($"vec_id" < 10)
      .select($"vec_id".cast("string").as("_id"), reverse($"embedding").as("vec"), lit(2).as("tag"))
      .as[StreamDoc].collect().toSeq
    stream.addData(batch2)
    q.processAllAvailable()
    q.stop()

    assert(t.docs.count() === 150)
    assert(ix.status === "INDEXED")
    // post-stream search equals exact search over final state
    assert(ix.search(queries, 5, Some(4)).select($"qid", $"id")
      .as[(Long, String)].collect().toSet === flatTruth(t, 5))
  }
}
