package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.table.GammaTable

/** The incremental change feed: GammaTable.changes(from, to] and the
  * `readStream.format("gamma")` streaming source built on it.
  */
class GammaChangeFeedSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_cdc").toString

  private def events(df: org.apache.spark.sql.DataFrame): Map[String, (Int, String, Long)] =
    df.select("_id", "v", "_change_type", "_change_version").collect()
      .map(r => r.getString(0) ->
        ((if (r.isNullAt(1)) -1 else r.getInt(1), r.getString(2), r.getLong(3)))).toMap

  test("changes(from, to] replays net upserts and deletes with commit stamps") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "cdc", "_id",
      Seq(("a", 1), ("b", 2), ("c", 3)).toDF("_id", "v"), nBuckets = 2) // v1
    t.addOrUpdate(Seq(("b", 20), ("d", 4)).toDF("_id", "v"))            // v2
    t.delete(Seq("a", "d").toDF("_id"))                                 // v3
    // full window: a's insert is superseded by its delete (net semantics)
    assert(events(t.changes(0, 3)) === Map(
      "a" -> ((1, "delete", 3L)),
      "b" -> ((20, "upsert", 2L)),
      "c" -> ((3, "upsert", 1L)),
      "d" -> ((4, "delete", 3L)))) // inserted-then-deleted nets to delete
    // tail window (1, 3]: c's v1 insert is outside
    assert(events(t.changes(1, 3)).keySet === Set("a", "b", "d"))
    // delete-only window
    assert(events(t.changes(2, 3)) ===
      Map("a" -> ((1, "delete", 3L)), "d" -> ((4, "delete", 3L))))
    // empty window at the head
    assert(t.changes(3, 3).count() === 0)
    // historical toVersion through the retained manifest
    assert(events(t.changes(1, 2)) ===
      Map("b" -> ((20, "upsert", 2L)), "d" -> ((4, "upsert", 2L))))
    // re-deleting an already-dead key is NOT a new change event
    t.delete(Seq("a").toDF("_id")) // v4
    assert(t.changes(3, 4).count() === 0)
  }

  test("changes refuses a window vacuum() has retired") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "cdcv", "_id",
      Seq(("a", 1)).toDF("_id", "v"), nBuckets = 1)   // v1
    t.addOrUpdate(Seq(("a", 2)).toDF("_id", "v"))     // v2
    t.addOrUpdate(Seq(("a", 3)).toDF("_id", "v"))     // v3
    t.vacuum()
    val e = intercept[NoSuchElementException](t.changes(1, 2).count())
    assert(e.getMessage.contains("vacuum"))
    // the current window stays replayable
    assert(events(t.changes(2, 3)) === Map("a" -> ((3, "upsert", 3L))))
  }

  test("changes across compact() replays purged tombstones from the purge log") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "cdcc", "_id",
      Seq(("a", 1), ("b", 2), ("c", 3)).toDF("_id", "v"), nBuckets = 2) // v1
    t.delete(Seq("a").toDF("_id"))                                      // v2
    t.addOrUpdate(Seq(("b", 20)).toDF("_id", "v"))                      // v3
    t.compact()                                                         // v4 purges a
    // the window spans the compaction: a's delete (v2) must replay even
    // though its tombstone is physically gone — pre-fix this silently
    // dropped the event and a replica kept the row forever
    val got = events(t.changes(1, 4))
    assert(got.keySet === Set("a", "b"))
    assert(got("b") === ((20, "upsert", 3L)))
    val (aV, aType, aVer) = got("a")
    assert(aType === "delete" && aVer === 2L)
    assert(aV === -1, "purged delete events carry key + internals, data cols null")
    // windows NOT spanning the compaction see no purge events
    assert(events(t.changes(2, 3)) === Map("b" -> ((20, "upsert", 3L))))
    assert(t.changes(4, 4).count() === 0) // the compaction commit itself is silent
    // delete -> compact -> REINSERT inside one window nets to the upsert
    t.addOrUpdate(Seq(("a", 100)).toDF("_id", "v"))                     // v5
    assert(events(t.changes(1, 5))("a") === ((100, "upsert", 5L)))
    // full replay from 0 still reconstructs the live state exactly
    val replay = t.changes(0, 5)
    val live = replay.filter($"_change_type" === "upsert")
      .select("_id", "v").collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(live === Map("a" -> 100, "b" -> 20, "c" -> 3))
    // vacuum retires the purge log too -> spanning windows refuse loudly
    t.vacuum()
    val e = intercept[NoSuchElementException](t.changes(1, 4).count())
    assert(e.getMessage.contains("vacuum"))
  }

  test("per-bucket compactIfNeeded also logs purged tombstones") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "cdcp", "_id",
      (0 until 20).map(i => (s"k$i", i)).toDF("_id", "v"), nBuckets = 4) // v1
    // delete every key in whatever bucket k0 lives in -> that bucket
    // crosses any deleted-ratio threshold
    t.delete((0 until 20).filter(_ % 2 == 0).map(i => s"k$i").toDF("_id")) // v2
    val victims = t.compactIfNeeded(maxDeletedRatio = 0.1)                 // v3
    assert(victims.nonEmpty)
    val got = events(t.changes(1, 3))
    // every deleted key still reports its delete event at v2
    (0 until 20).filter(_ % 2 == 0).foreach { i =>
      assert(got.get(s"k$i").exists(e => e._2 == "delete" && e._3 == 2L),
        s"k$i delete event lost across compactIfNeeded")
    }
  }

  test("readStream.format(gamma) streams commit-versioned change batches") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "cdcs", "_id",
      Seq(("a", 1), ("b", 2)).toDF("_id", "v"), nBuckets = 2) // v1
    val q = spark.readStream.format("gamma").load(root)
      .writeStream.format("memory").queryName("gamma_cdc_sink")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val s1 = events(spark.table("gamma_cdc_sink"))
      assert(s1 === Map("a" -> ((1, "upsert", 1L)), "b" -> ((2, "upsert", 1L))))
      t.addOrUpdate(Seq(("b", 20), ("c", 3)).toDF("_id", "v")) // v2
      t.delete(Seq("a").toDF("_id"))                           // v3
      q.processAllAvailable()
      val s2 = events(spark.table("gamma_cdc_sink"))
      // appended events from (1, 3]: b/c upserts at v2, a delete at v3
      assert(s2.get("b").map(_._1) === Some(20))
      assert(s2.get("c") === Some((3, "upsert", 2L)))
      assert(spark.table("gamma_cdc_sink")
        .filter($"_id" === "a" && $"_change_type" === "delete").count() === 1)
    } finally q.stop()
  }

  test("public CDC stream drives external BM25 maintenance to a fresh-build-identical state") {
    // the engine's OWN incremental maintenance consumes docsChangedSince
    // internally; this proves the PUBLIC surface (readStream.format
    // gamma) carries everything an external consumer needs for the same
    // job: upsert events carry the new doc, delete events carry the
    // pre-image (the docs-as-indexed text removeDocs requires)
    import graft.text.TextIndex
    val root = tmp()
    val t = GammaTable.create(spark, root, "cdix", "doc_id",
      Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"),
        (3L, "gamma delta epsilon")).toDF("doc_id", "text"), nBuckets = 2) // v1
    var ix: TextIndex.BuiltIndex = null
    val q = spark.readStream.format("gamma").load(root)
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val ups = b.filter($"_change_type" === "upsert").select($"doc_id", $"text")
        val dels = b.filter($"_change_type" === "delete").select($"doc_id", $"text")
        if (ix == null) ix = TextIndex.build(ups, "doc_id", "text", maxDfRatio = 0.98)
        else ix = TextIndex.appendDelta(ix, ups, "doc_id", "text")
        if (!dels.isEmpty) ix = TextIndex.removeDocs(ix, dels, "doc_id", "text")
      }.start()
    try {
      q.processAllAvailable() // backfill batch: v1 docs
      t.addOrUpdate(Seq((4L, "epsilon zeta alpha"), (5L, "zeta eta beta"))
        .toDF("doc_id", "text"))                                           // v2
      q.processAllAvailable()
      t.delete(Seq(2L).toDF("doc_id"))                                     // v3
      q.processAllAvailable()
      val queries = Seq((1L, "beta gamma"), (2L, "zeta alpha")).toDF("qid", "qtext")
      val fresh = TextIndex.build(t.docs.select($"doc_id", $"text"),
        "doc_id", "text", maxDfRatio = 0.98)
      def ranked(i: TextIndex.BuiltIndex) =
        TextIndex.bm25(i, queries, "qid", "qtext", k = 5).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(ix != null)
      assert(ranked(ix) === ranked(fresh),
        "feed-maintained BM25 diverged from a fresh build over the live docs")
      assert(ix.nDocs === 4 && ix.nDocs === fresh.nDocs)
    } finally q.stop()
  }

  test("batch read: spark.read.format(gamma).option(changesFrom/changesTo)") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "cdcb", "_id",
      Seq(("a", 1), ("b", 2)).toDF("_id", "v"), nBuckets = 2) // v1
    t.addOrUpdate(Seq(("b", 20), ("c", 3)).toDF("_id", "v"))  // v2
    t.delete(Seq("a").toDF("_id"))                            // v3
    val win = spark.read.format("gamma")
      .option("changesFrom", "1").option("changesTo", "2").load(root)
    assert(events(win) ===
      Map("b" -> ((20, "upsert", 2L)), "c" -> ((3, "upsert", 2L))))
    // changesTo defaults to the current committed version
    val toHead = spark.read.format("gamma").option("changesFrom", "2").load(root)
    assert(events(toHead) === Map("a" -> ((1, "delete", 3L))))
    // SQL view over the feed works too
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW cdc_sql USING gamma " +
      s"OPTIONS (path '$root', changesFrom '0')")
    assert(spark.sql("SELECT count(*) AS n FROM cdc_sql WHERE _change_type = 'upsert'")
      .as[Long].head() === 2L) // b (v2 state), c; a nets to delete
  }

  test("CDC replication: the feed drives a second table to the same state") {
    val srcRoot = tmp()
    val dstRoot = tmp()
    val src = GammaTable.create(spark, srcRoot, "cdc_src", "_id",
      Seq(("a", 1), ("b", 2), ("c", 3)).toDF("_id", "v"), nBuckets = 2)
    GammaTable.create(spark, dstRoot, "cdc_dst", "_id",
      Seq.empty[(String, Int)].toDF("_id", "v"), nBuckets = 2)
    // the external-consumer loop the feed exists for: apply each change
    // batch to a REPLICA table through the same upsert/delete verbs the
    // engine's own maintenance uses (foreachBatch = StreamingIngest's
    // consumption shape)
    val q = spark.readStream.format("gamma").load(srcRoot)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val dst = GammaTable.load(spark, dstRoot)
        val ups = batch.filter(col("_change_type") === "upsert")
          .select("_id", "v")
        val dels = batch.filter(col("_change_type") === "delete").select("_id")
        if (!ups.isEmpty) dst.addOrUpdate(ups)
        if (!dels.isEmpty) dst.delete(dels)
      }
      .start()
    try {
      q.processAllAvailable()
      src.addOrUpdate(Seq(("b", 20), ("d", 4)).toDF("_id", "v"))
      src.delete(Seq("a").toDF("_id"))
      q.processAllAvailable()
      def state(root: String) = GammaTable.load(spark, root).docs
        .select("_id", "v").collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(state(dstRoot) === state(srcRoot))
      assert(state(dstRoot) === Map("b" -> 20, "c" -> 3, "d" -> 4))
    } finally q.stop()
  }

  test("a reader inside a commit's manifest swap sees the last committed version") {
    // a commit replaces meta.json by delete + rename and writes v<N>.json
    // after it; the change stream polls from its own thread while commits
    // land, so a poll can fall between the delete and the rename
    val root = tmp()
    val t = GammaTable.create(spark, root, "cdcm", "_id",
      Seq(("a", 1)).toDF("_id", "v"), nBuckets = 2)   // v1
    t.addOrUpdate(Seq(("b", 2)).toDF("_id", "v"))     // v2
    t.addOrUpdate(Seq(("c", 3)).toDF("_id", "v"))     // v3
    t.addOrUpdate(Seq(("d", 4)).toDF("_id", "v"))     // v4
    // put v4 back inside its swap: meta.json still at its .tmp name, and
    // v4.json not yet written
    val meta = new org.apache.hadoop.fs.Path(s"$root/meta")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(meta, "v4.json"), false)
    assert(fs.rename(new org.apache.hadoop.fs.Path(meta, "meta.json"),
      new org.apache.hadoop.fs.Path(meta, "meta.json.tmp")))
    assert(GammaTable.persistedVersion(spark, root) === Some(3L))
    val mid = GammaTable.load(spark, root)
    assert(mid.meta.version === 3L)
    assert(mid.docs.select("_id").as[String].collect().toSet === Set("a", "b", "c"))
    assert(events(spark.read.format("gamma").option("changesFrom", "1").load(root)) ===
      Map("b" -> ((2, "upsert", 2L)), "c" -> ((3, "upsert", 3L))))
  }

  test("startingVersion skips the backfill") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "cdct", "_id",
      Seq(("a", 1), ("b", 2)).toDF("_id", "v"), nBuckets = 2) // v1
    t.addOrUpdate(Seq(("c", 3)).toDF("_id", "v"))             // v2
    val q = spark.readStream.format("gamma")
      .option("startingVersion", "1").load(root)
      .writeStream.format("memory").queryName("gamma_cdc_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(events(spark.table("gamma_cdc_tail")).keySet === Set("c"))
    } finally q.stop()
  }
}
