package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.{Metric, RangeFilter, SearchRequest, TermFilter, VecQuery}
import graft.table.{GammaTable, VectorFieldDef}

/** E2E lifecycle mirroring the reference harness flow
  * Init→CreateTable→Add→Search→Upsert→Delete→Dump→Load→Search
  * (reference tests/README.md:10-22, tests/test.h:899-1070).
  */
class GammaTableSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_tbl").toString

  /** part-derived doc table with a deterministic embedding per key. */
  private def docTable(): org.apache.spark.sql.DataFrame = {
    val emb = spark.read.parquet(s"$sf0/embeddings.parquet")
    spark.read.parquet(s"$sf0/part.parquet")
      .filter($"p_partkey" < 500)
      .join(emb, $"p_partkey" === $"vec_id")
      .select(
        $"p_partkey".cast("string").as("_id"),
        split($"p_name", " ").as("tokens"),
        $"p_size", $"p_retailprice",
        $"embedding".as("vec"))
  }

  test("create → search with filters → get → upsert → delete → dump → restore") {
    val root = tmp()
    val n = docTable().count()
    val t = GammaTable.create(spark, root, "parts", "_id", docTable(),
      Seq(VectorFieldDef("vec", 64)), nBuckets = 8)

    assert(t.docs.count() === n)
    assert(t.meta.maxDocid === n)
    // docids dense and unique
    val ids = t.docs.select("_docid").as[Long].collect().sorted
    assert(ids.toSeq === (0L until n))

    // --- search: filtered KNN
    val qvec = spark.read.parquet(s"$sf0/embeddings.parquet")
      .filter($"vec_id" === 0).select("embedding").as[Array[Float]].head()
    val req = SearchRequest(
      topn = 5,
      vecQueries = Seq(VecQuery("vec", qvec)),
      rangeFilters = Seq(RangeFilter("p_size", Some(1), Some(40))),
      metric = Metric.L2)
    val res = t.search(req)
    assert(res.count() === 5)
    // all hits obey the filter
    val hitSizes = res.join(t.docs, Seq("_id")).select("p_size").as[Int].collect()
    assert(hitSizes.forall(s => s >= 1 && s <= 40))

    // filter-only search path
    val fOnly = t.search(SearchRequest(topn = 10,
      termFilters = Seq(TermFilter("tokens", Seq("red")))))
    assert(fOnly.count() > 0 && fOnly.count() <= 10)

    // --- point get prunes to one bucket
    assert(t.get("42").count() === 1)

    // --- upsert: update 1 key, insert 1 fresh key
    val up = Seq(("42", Seq("updated", "doc"), 999, 1.0, qvec.toSeq),
                 ("9999", Seq("fresh", "doc"), 1, 2.0, qvec.toSeq))
      .toDF("_id", "tokens", "p_size", "p_retailprice", "vec")
    val docid42 = t.get("42").select("_docid").as[Long].head()
    t.addOrUpdate(up)
    assert(t.docs.count() === n + 1)
    assert(t.get("42").select("p_size").as[Int].head() === 999)
    // update kept its docid (reference in-place update semantics)
    assert(t.get("42").select("_docid").as[Long].head() === docid42)
    assert(t.get("9999").select("_docid").as[Long].head() === n)

    // --- delete by key + by query
    t.delete(Seq("7").toDF("_id"))
    assert(t.get("7").count() === 0)
    assert(t.docs.count() === n)
    val deleted = t.deleteByQuery(col("p_size") === 999)
    // returned frame is bound to the pre-delete state: still lists the
    // deleted keys when evaluated AFTER the commit
    assert(deleted.as[String].collect().toSeq === Seq("42"))
    assert(t.get("42").count() === 0)

    // deleted docs excluded from search
    val res2 = t.search(req)
    assert(!res2.select("_id").as[String].collect().contains("42"))

    // engine-status rollup (A5)
    val st = t.status.head()
    assert(st.getAs[Long]("live_docs") === n - 1)
    assert(st.getAs[Long]("deleted_docs") === 2)
    assert(st.getAs[String]("index_status") === "UNINDEXED")

    // --- dump + restore
    val dumpDir = tmp(); val newRoot = tmp()
    t.dump(dumpDir)
    val t2 = GammaTable.restore(spark, dumpDir, newRoot)
    assert(t2.docs.count() === t.docs.count())
    assert(t2.get("7").count() === 0) // tombstones survive the dump
    assert(t2.search(req).select("_id").collect().toSet ===
      t.search(req).select("_id").collect().toSet)

    // --- compact drops tombstones physically
    val before = t.allDocs.count()
    t.compact()
    assert(t.allDocs.count() === before - 2 && t.docs.count() === n - 1)
  }

  test("attached-index score-range matches the brute-force path") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "sr", "_id", docTable(),
      Seq(VectorFieldDef("vec", 64)), nBuckets = 4)
    // 2 lists, default nprobe=80 probes both -> still exact
    t.buildIndex("vec", graft.index.IndexParams(ncentroids = 2))
    val qvec = spark.read.parquet(s"$sf0/embeddings.parquet")
      .filter($"vec_id" === 0).select("embedding").as[Array[Float]].head()
    // bounds from the actual distance distribution: the 60 nearest docs are
    // OUT of range, so without in-scan filtering they would eat the whole
    // kCand=40 candidate budget and the index path would come up short
    // (ADVICE r1 finding)
    val dists = t.search(SearchRequest(topn = 200,
        vecQueries = Seq(VecQuery("vec", qvec)), bruteForce = true))
      .select("score").as[Double].collect().sorted
    val (lo, hi) = (dists(60), dists(160))
    val req = SearchRequest(topn = 10,
      vecQueries = Seq(VecQuery("vec", qvec, minScore = Some(lo), maxScore = Some(hi))))
    val viaIndex = t.search(req).select("_id", "score").as[(String, Double)].collect().toSet
    val viaBrute = t.search(req.copy(bruteForce = true))
      .select("_id", "score").as[(String, Double)].collect().toSet
    assert(viaIndex === viaBrute)
    assert(viaIndex.size === 10)
    assert(viaIndex.forall { case (_, s) => s >= lo && s <= hi })
  }

  test("multiVectorRank=false still returns a deterministic key-ordered cut") {
    val root = tmp()
    val emb = spark.read.parquet(s"$sf0/embeddings.parquet")
    val docs = emb.select(
      $"vec_id".cast("string").as("_id"),
      $"embedding".as("vec_a"), reverse($"embedding").as("vec_b"))
    val t = GammaTable.create(spark, root, "mvr", "_id", docs,
      Seq(VectorFieldDef("vec_a", 64), VectorFieldDef("vec_b", 64)), nBuckets = 4)
    val q = emb.filter($"vec_id" === 3).select("embedding").as[Array[Float]].head()
    val req = SearchRequest(topn = 5, multiVectorRank = false,
      vecQueries = Seq(VecQuery("vec_a", q), VecQuery("vec_b", q.reverse)))
    val a = t.search(req).select("_id").as[String].collect().toSeq
    val b = t.search(req).select("_id").as[String].collect().toSeq
    assert(a.sorted === b.sorted) // was an arbitrary limit() — nondeterministic
    // docid-ordered cut like the reference merge: both fields rank
    // identically here (reversed-vector trick), so the candidate set is
    // the exact top-kCand and the cut keeps its 5 smallest docids
    val cands = graft.operators.Knn.flatSearch(
        t.docs, "_id", "vec_a",
        Seq((0L, q.toSeq)).toDF("qid", "qvec"), "qid", "qvec",
        k = 5 * GammaTable.CandidateFactor, metric = Metric.L2)
      .select($"id").as[String].collect().toSet
    val expect = t.docs.filter($"_id".isin(cands.toSeq: _*))
      .orderBy($"_docid".asc).select("_id").as[String].collect().take(5).toSet
    assert(a.toSet === expect)
  }

  test("writeVersion clears stale destination dirs instead of losing buckets") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "stale", "_id", docTable(), Nil, nBuckets = 4)
    val n = t.docs.count()
    // simulate a crash between rename and manifest write: the NEXT version's
    // dest dirs already exist with junk
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = t.meta.version + 1
    (0 until 4).foreach { b =>
      val d = new org.apache.hadoop.fs.Path(s"$root/data/b$b/v$v/junk")
      fs.mkdirs(d)
      fs.create(new org.apache.hadoop.fs.Path(d, "part-junk.parquet"), true).close()
    }
    val up = Seq(("42", Seq("x"), 7, 1.0, Seq.fill(64)(0f))).toDF(
      "_id", "tokens", "p_size", "p_retailprice", "vec")
    t.addOrUpdate(up) // must not throw, must not drop the touched bucket
    assert(t.docs.count() === n)
    assert(t.get("42").select("p_size").as[Int].head() === 7)
  }

  test("req_num batching: one request with many query vectors == per-query results") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "batch", "_id", docTable(),
      Seq(VectorFieldDef("vec", 64)), nBuckets = 4)
    val qs = spark.read.parquet(s"$sf0/embeddings.parquet")
      .filter($"vec_id" < 3).orderBy("vec_id")
      .select("embedding").as[Array[Float]].collect().toSeq
    val batched = t.search(SearchRequest(topn = 5,
      vecQueries = Seq(VecQuery("vec", vectors = qs))))
    assert(batched.select("qid").distinct().count() === 3)
    qs.zipWithIndex.foreach { case (q, i) =>
      val single = t.search(SearchRequest(topn = 5, vecQueries = Seq(VecQuery("vec", q))))
        .select($"_id", $"score").as[(String, Double)].collect().toSet
      val part = batched.filter($"qid" === i)
        .select($"_id", $"score").as[(String, Double)].collect().toSet
      assert(part === single, s"qid $i")
    }
  }

  test("compactIfNeeded rewrites only buckets past the deleted-ratio threshold") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "cin", "_id", docTable(), Nil, nBuckets = 8)
    val byBucket = t.docs.select($"_bucket", $"_id").as[(Long, String)]
      .collect().groupBy(_._1)
    val (victim, members) = byBucket.maxBy(_._2.length)
    // tombstone half the victim bucket (over the 0.3 threshold) and one
    // key elsewhere (under it)
    val other = byBucket.keys.filter(_ != victim).head
    val delKeys = members.map(_._2).take(math.max(1, members.length / 2)) :+
      byBucket(other).head._2
    t.delete(delKeys.toSeq.toDF("_id"))
    val afterDelete = t.meta.bucketVersions
    val liveBefore = t.docs.count()

    val compacted = t.compactIfNeeded(0.3)
    assert(compacted === Seq(victim))
    // ONLY the victim bucket was rewritten
    val afterCompact = t.meta.bucketVersions
    assert(afterCompact(victim.toString) > afterDelete(victim.toString))
    assert(afterCompact.removed(victim.toString) === afterDelete.removed(victim.toString))
    // tombstones gone physically from the victim, live rows intact
    assert(t.docs.count() === liveBefore)
    assert(t.allDocs.filter($"_bucket" === victim && $"_deleted").count() === 0)
    assert(t.allDocs.filter($"_bucket" === other && $"_deleted").count() === 1)
    // idempotent: nothing left over the threshold
    assert(t.compactIfNeeded(0.3) === Nil)
  }

  test("filtered-ANN policy: exact fallback + widened probes at partial nprobe") {
    val root = tmp()
    val emb = spark.read.parquet(s"$sf0/embeddings.parquet")
    val docs0 = emb.select($"vec_id".cast("string").as("_id"), $"vec_id".as("vecid"),
      $"label", $"embedding".as("vec"))
    val t = GammaTable.create(spark, root, "fpol", "_id", docs0,
      Seq(VectorFieldDef("vec", 64)), nBuckets = 8)
    val ix = t.buildIndex("vec", graft.index.IndexParams(ncentroids = 16, nprobe = 2))
    val qvec = emb.filter($"vec_id" === 0).select("embedding").as[Array[Float]].head()

    // (a) survivors < topn at 2-of-16 probes: policy must serve EXACTLY
    val req = SearchRequest(topn = 10,
      vecQueries = Seq(VecQuery("vec", qvec)),
      rangeFilters = Seq(RangeFilter("label", Some(7), Some(7)),
        RangeFilter("vecid", Some(0), Some(100))))
    val res = t.search(req).select($"_id", $"score").as[(String, Double)].collect().toSet
    val exact = t.search(req.copy(bruteForce = true))
      .select($"_id", $"score").as[(String, Double)].collect().toSet
    assert(res === exact)
    assert(res.nonEmpty)
    // and WITHOUT the policy the raw index at nprobe=2 genuinely starves —
    // the hazard this policy exists for
    val allowed = t.docs.filter($"label" === 7 && $"vecid" <= 100).select($"_id")
    val direct = ix.currentIndex.get.search(Seq((0L, qvec)), 10, Some(2), Some(allowed))
    assert(direct.count() < exact.size, "expected starvation without the policy")

    // (b) fallback disabled: inverse-selectivity widening alone must reach
    // the full probe set here (2 * ceil(500/50) >= 16 lists) -> exact
    spark.conf.set("spark.graft.filter.exactFallbackRows", "0")
    try {
      val reqW = SearchRequest(topn = 10, vecQueries = Seq(VecQuery("vec", qvec)),
        rangeFilters = Seq(RangeFilter("label", Some(7), Some(7))))
      val viaIdx = t.search(reqW).select($"_id", $"score").as[(String, Double)].collect().toSet
      val ex = t.search(reqW.copy(bruteForce = true))
        .select($"_id", $"score").as[(String, Double)].collect().toSet
      assert(viaIdx === ex)
      assert(viaIdx.size === 10)
    } finally spark.conf.unset("spark.graft.filter.exactFallbackRows")
  }

  test("weakly selective filter on HNSW skips the driver key collect") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "hws", "_id", docTable(),
      Seq(VectorFieldDef("vec", 64)), nBuckets = 4)
    // ef >= partition size -> per-graph search is effectively exact, so
    // brute force is the oracle
    t.buildIndex("vec", graft.index.IndexParams(nlinks = 16, efConstruction = 100,
      efSearch = 256), retrievalType = "HNSW")
    val qvec = spark.read.parquet(s"$sf0/embeddings.parquet")
      .filter($"vec_id" === 0).select("embedding").as[Array[Float]].head()
    val req = SearchRequest(topn = 5, vecQueries = Seq(VecQuery("vec", qvec)),
      rangeFilters = Seq(RangeFilter("p_size", Some(1), Some(49)))) // weak filter
    // force the huge tier: no exact fallback, nothing broadcastable
    spark.conf.set("spark.graft.filter.exactFallbackRows", "0")
    spark.conf.set("spark.graft.filter.broadcastMaxKeys", "0")
    try {
      val (res, plans) = withExecutedPlans(t.search(req))
      // the allowed set reaches the index HITS as a (shuffling) semi-join
      // after the graph walk — never a driver-collected key array
      val p = plans.mkString("\n")
      assert("""LeftSemi""".r.findFirstIn(p).isDefined, p)
      val got = res.select("_id").as[String].collect().toSet
      val exact = t.search(req.copy(bruteForce = true))
        .select("_id").as[String].collect().toSet
      assert(got === exact)
    } finally {
      spark.conf.unset("spark.graft.filter.exactFallbackRows")
      spark.conf.unset("spark.graft.filter.broadcastMaxKeys")
    }
  }

  test("selective filter on HNSW walks with the keys the keys job collected") {
    val t = GammaTable.create(spark, tmp(), "hsel", "_id", docTable(),
      Seq(VectorFieldDef("vec", 64)), nBuckets = 4)
    // ef >= partition size -> per-graph search is effectively exact
    t.buildIndex("vec", graft.index.IndexParams(nlinks = 16, efConstruction = 100,
      efSearch = 256), retrievalType = "HNSW")
    val qvec = spark.read.parquet(s"$sf0/embeddings.parquet")
      .filter($"vec_id" === 0).select("embedding").as[Array[Float]].head()
    val req = SearchRequest(topn = 5, vecQueries = Seq(VecQuery("vec", qvec)),
      rangeFilters = Seq(RangeFilter("p_size", Some(1), Some(20))))
    spark.conf.set("spark.graft.filter.exactFallbackRows", "0") // index path
    try {
      val got = t.search(req).select($"_id", $"score").as[(String, Double)].collect().toSet
      val exact = t.search(req.copy(bruteForce = true))
        .select($"_id", $"score").as[(String, Double)].collect().toSet
      assert(got === exact)
      assert(got.size === 5)
    } finally spark.conf.unset("spark.graft.filter.exactFallbackRows")
  }

  test("compaction purges index entries before dropping tombstones") {
    // ADVICE r3: physically purging tombstones before the attached index
    // dropped/excluded those keys let deleted docs resurface — the purged
    // rows vanish from the stale-entry scan while their list/graph entries
    // remain. compact()/compactIfNeeded must call excludePurged first.
    Seq("IVFFLAT", "HNSW").foreach { rt =>
      val root = tmp()
      val t = GammaTable.create(spark, root, s"cidx_$rt", "_id", docTable(),
        Seq(VectorFieldDef("vec", 64)), nBuckets = 4)
      t.buildIndex("vec", graft.index.IndexParams(ncentroids = 2), retrievalType = rt)
      val qvec = spark.read.parquet(s"$sf0/embeddings.parquet")
        .filter($"vec_id" === 0).select("embedding").as[Array[Float]].head()
      val req = SearchRequest(topn = 5, vecQueries = Seq(VecQuery("vec", qvec)))
      val top = t.search(req).orderBy($"score".asc)
        .select("_id").as[String].head()
      t.delete(Seq(top).toDF("_id"))
      t.compact() // physical purge — index must not resurface `top`
      val after = t.search(req).select("_id").as[String].collect()
      assert(!after.contains(top), s"$rt resurfaced deleted doc $top after compact")
      assert(after.length === 5)
    }
  }

  test("persisted HNSW keeps purge exclusions across a reload") {
    // graph segments are immutable: a physically purged key's entries
    // survive on disk and, once the tombstone row is gone, nothing in the
    // table can re-derive the exclusion — it must persist WITH the index
    val root = tmp()
    val t = GammaTable.create(spark, root, "hpx", "_id", docTable(),
      Seq(VectorFieldDef("vec", 64)), nBuckets = 4)
    t.buildIndex("vec", graft.index.IndexParams(nlinks = 16, efConstruction = 100),
      persist = true, retrievalType = "HNSW")
    val qvec = spark.read.parquet(s"$sf0/embeddings.parquet")
      .filter($"vec_id" === 0).select("embedding").as[Array[Float]].head()
    val req = SearchRequest(topn = 5, vecQueries = Seq(VecQuery("vec", qvec)))
    val top = t.search(req).orderBy($"score".asc).select("_id").as[String].head()
    t.delete(Seq(top).toDF("_id"))
    t.compact() // physical purge: tombstone leaves the table, graphs keep the entry
    val t2 = GammaTable.load(spark, root)
    val after = t2.search(req).select("_id").as[String].collect()
    assert(!after.contains(top), s"reloaded HNSW resurfaced purged doc $top")
    assert(after.length === 5)
  }

  test("persisted list purge appends to the supersede log, no full rewrite") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "plp", "_id", docTable(),
      Seq(VectorFieldDef("vec", 64, retrievalType = "IVFFLAT")), nBuckets = 4)
    val ix = t.buildIndex("vec", graft.index.IndexParams(ncentroids = 2), persist = true)
    val qvec = spark.read.parquet(s"$sf0/embeddings.parquet")
      .filter($"vec_id" === 0).select("embedding").as[Array[Float]].head()
    val req = SearchRequest(topn = 5, vecQueries = Seq(VecQuery("vec", qvec)))
    val top = t.search(req).orderBy($"score".asc).select("_id").as[String].head()
    val keep = docTable().filter($"_id" === top)
    t.delete(Seq(top).toDF("_id"))
    t.compact()
    // O(churn): the purge rode the replaced log — the lists dir was NOT
    // rewritten into a new version (that is compactIndex's job)
    assert(new java.io.File(s"$root/index/vec/lists/v0").exists)
    assert(!new java.io.File(s"$root/index/vec/lists/v1").exists)
    val after = t.search(req).select("_id").as[String].collect()
    assert(!after.contains(top) && after.length === 5)
    // the log supersedes only entries stamped BEFORE the purge: re-insert
    // the key and it serves again from the index
    t.addOrUpdate(keep)
    ix.refresh()
    val back = t.search(req).select("_id").as[String].collect()
    assert(back.contains(top), s"re-inserted key $top stayed hidden")
  }

  test("two persisted models on an undeclared field persist side by side") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "mm2", "_id", docTable(), Nil, nBuckets = 4)
    // undeclared field: the indexer-default model (IVFFLAT) owns the bare
    // dir; any other model suffixes — no shared (corrupted) directory
    t.buildIndex("vec", graft.index.IndexParams(ncentroids = 2), persist = true)
    t.buildIndex("vec", graft.index.IndexParams(ncentroids = 2, nsubvector = 8,
      recallNum = 1000000), persist = true, retrievalType = "IVFPQ")
    assert(new java.io.File(s"$root/index/vec/meta/meta.json").exists)
    assert(new java.io.File(s"$root/index/vec@IVFPQ/meta/meta.json").exists)

    val t2 = GammaTable.load(spark, root)
    assert(t2.attachedIndex("vec", "IVFFLAT").isDefined)
    assert(t2.attachedIndex("vec", "IVFPQ").isDefined)
    // each model answers under its own type — exactly, at full probes
    val qvec = spark.read.parquet(s"$sf0/embeddings.parquet")
      .filter($"vec_id" === 0).select("embedding").as[Array[Float]].head()
    val exact = t2.search(SearchRequest(topn = 5,
        vecQueries = Seq(VecQuery("vec", qvec)), bruteForce = true))
      .select("_id").as[String].collect().toSet
    Seq("IVFFLAT", "IVFPQ").foreach { rt =>
      val got = t2.search(SearchRequest(topn = 5,
          vecQueries = Seq(VecQuery("vec", qvec, retrievalType = Some(rt)))))
        .select("_id").as[String].collect().toSet
      assert(got === exact, s"$rt disagreed with brute force")
    }
  }

  test("union term filter on the key prunes the scan to the keys' buckets") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "kprune", "_id", docTable(), Nil, nBuckets = 8)
    val res = t.search(SearchRequest(topn = 10,
      termFilters = Seq(TermFilter("_id", Seq("42", "7")))))
    assert(res.select("_id").as[String].collect().toSet === Set("42", "7"))
    // the scan reads only the files of the buckets those keys hash to
    val expected = Seq("42", "7").toDF("_id")
      .select(pmod(xxhash64($"_id"), lit(8L))).distinct().as[Long].collect().toSet
    val readDirs = res.inputFiles.map { f =>
      f.split("/data/")(1).split("/")(0).stripPrefix("b").toLong
    }.toSet
    assert(readDirs === expected, s"read $readDirs, expected $expected")
    // NotIn on the key must NOT prune (complement needs every bucket)
    val resNot = t.search(SearchRequest(topn = 5,
      termFilters = Seq(TermFilter("_id", Seq("42"), graft.core.TermMode.NotIn))))
    assert(resNot.inputFiles.map(f => f.split("/data/")(1).split("/")(0)).toSet.size === 8)
    assert(!resNot.select("_id").as[String].collect().contains("42"))
  }

  test("multi-vector fusion search intersects fields and fuses scores") {
    val root = tmp()
    val emb = spark.read.parquet(s"$sf0/embeddings.parquet")
    val docs = emb.select(
      $"vec_id".cast("string").as("_id"),
      $"embedding".as("vec_a"),
      reverse($"embedding").as("vec_b"))
    val t = GammaTable.create(spark, root, "mv", "_id", docs,
      Seq(VectorFieldDef("vec_a", 64), VectorFieldDef("vec_b", 64)), nBuckets = 4)
    val q = emb.filter($"vec_id" === 3).select("embedding").as[Array[Float]].head()
    val req = SearchRequest(
      topn = 5,
      vecQueries = Seq(
        VecQuery("vec_a", q, boost = Some(0.7)),
        VecQuery("vec_b", q.reverse, boost = Some(0.3))))
    val res = t.search(req)
    assert(res.count() === 5)
    // self doc must win: both fields at distance 0
    assert(res.orderBy($"score".asc).select("_id").as[String].head() === "3")

    // V10: per-field attached indexes serve the same fusion — full-probe
    // exact index search per field must reproduce the brute-force result
    val flatSet = res.select($"_id", round($"score", 6)).collect().toSet
    t.buildIndex("vec_a", graft.index.IndexParams(ncentroids = 2))
    t.buildIndex("vec_b", graft.index.IndexParams(ncentroids = 2))
    val viaIdx = t.search(req).select($"_id", round($"score", 6)).collect().toSet
    assert(viaIdx === flatSet)
  }

  test("V10: several models per field route by retrievalType with request knobs") {
    val root = tmp()
    val emb = spark.read.parquet(s"$sf0/embeddings.parquet")
    val docs = emb.select($"vec_id".cast("string").as("_id"), $"embedding".as("vec"))
    val t = GammaTable.create(spark, root, "mm", "_id", docs,
      Seq(VectorFieldDef("vec", 64, retrievalType = "IVFFLAT")), nBuckets = 4)
    // both PERSISTED so the multi-model dirs (`vec`, `vec@IVFPQ`) must
    // coexist on disk and reload side by side
    t.buildIndex("vec", graft.index.IndexParams(ncentroids = 4, nprobe = 1),
      persist = true, retrievalType = "IVFFLAT")
    t.buildIndex("vec", graft.index.IndexParams(ncentroids = 4, nsubvector = 8,
      recallNum = 1000000, nprobe = 1), persist = true, retrievalType = "IVFPQ")
    val q = emb.filter($"vec_id" === 5).select("embedding").as[Array[Float]].head()
    val exact = t.search(SearchRequest(topn = 5,
        vecQueries = Seq(VecQuery("vec", q)), bruteForce = true))
      .select($"_id", round($"score", 6)).collect().toSet

    def via(tbl: GammaTable, rt: String, np: Option[Int]) =
      tbl.search(SearchRequest(topn = 5, vecQueries =
          Seq(VecQuery("vec", q, retrievalType = Some(rt), nprobe = np))))
        .select($"_id", round($"score", 6)).collect().toSet
    // per-request nprobe override widens the partial build-time default to
    // the full probe set — the result can only be exact if it reached the
    // routed index
    assert(via(t, "IVFFLAT", Some(4)) === exact)
    assert(via(t, "IVFPQ", Some(4)) === exact)
    // unnamed type routes to the field's DECLARED model
    assert(t.attachedIndex("vec").get.retrievalType === "IVFFLAT")
    assert(t.attachedIndex("vec", "IVFPQ").isDefined)
    // an explicit unknown type is an error, not a silent fallback
    intercept[IllegalArgumentException] { via(t, "HNSW", None) }

    // reload: both persisted models re-attach and still answer exactly
    val t2 = GammaTable.load(spark, root)
    assert(t2.attachedIndex("vec", "IVFFLAT").isDefined)
    assert(t2.attachedIndex("vec", "IVFPQ").isDefined)
    assert(via(t2, "IVFPQ", Some(4)) === exact)
  }

  test("BINARYIVF rides the incremental index lifecycle") {
    val root = tmp()
    val docs0 = spark.read.parquet(s"$sf0/documents.parquet")
      .select($"doc_id".cast("string").as("_id"), unhex(md5($"text")).as("code"))
    val t = GammaTable.create(spark, root, "bin", "_id", docs0,
      Seq(VectorFieldDef("code", 128, metric = "Hamming",
        retrievalType = "BINARYIVF")), nBuckets = 4)
    val ix = t.buildIndex("code",
      graft.index.IndexParams(metric = Metric.Hamming, ncentroids = 4),
      retrievalType = "BINARYIVF")
    // upsert re-hashes every 5th doc; refresh re-assigns the delta through
    // the TRAINED quantizer without retraining (R5/R6)
    val delta = t.docs.filter($"_id".cast("long") % 5 === 0)
      .select($"_id", unhex(md5(concat($"_id", lit("!")))).as("code"))
    t.addOrUpdate(delta)
    ix.refresh()
    t.delete(Seq("7", "11").toDF("_id"))
    val qb = docs0.filter($"_id" === "1").select("code").as[Array[Byte]].head()
    val req = SearchRequest(topn = 8, vecQueries = Seq(VecQuery("code",
        graft.index.BinaryIvfIndex.bytesToFloats(qb), nprobe = Some(4))),
      metric = Metric.Hamming)
    val viaIdx = t.search(req).select($"_id", $"score").collect()
    val brute = t.search(req.copy(bruteForce = true))
      .select($"_id", $"score").collect()
    // full probes are exact, so the index path must reproduce brute force
    assert(viaIdx.toSet === brute.toSet)
    // tombstoned and superseded entries must not resurface from the lists
    assert(!viaIdx.exists(_.getString(0) == "7"))
    assert(!viaIdx.exists(_.getString(0) == "11"))
  }

  test("get() with a type-mismatched key routes to the same bucket as the filter cast") {
    // string-keyed table, long lookup value: xxhash64 hashes by TYPE, so
    // routing must hash the value AS the key column's type or the lookup
    // silently lands in the wrong bucket and returns nothing
    val root = tmp()
    val t = GammaTable.create(spark, root, "gtype", "_id", docTable(),
      Seq(VectorFieldDef("vec", 64)), nBuckets = 8)
    val viaString = t.get("42").select($"_id").as[String].collect().toSeq
    assert(viaString === Seq("42"))
    assert(t.get(42L).select($"_id").as[String].collect().toSeq === viaString)
    assert(t.get(42).select($"_id").as[String].collect().toSeq === viaString)
  }

  test("INT8 store type rides the full lifecycle; at-rest format is tinyint codes") {
    val root = tmp()
    val emb = spark.read.parquet(s"$sf0/embeddings.parquet")
      .filter($"vec_id" < 400)
      .select($"vec_id".cast("string").as("_id"), $"embedding".as("vec"))
    val t = GammaTable.create(spark, root, "i8life", "_id", emb,
      Seq(VectorFieldDef("vec", 64, store = "INT8")), nBuckets = 4)
    // at rest: struct(scale, codes array<tinyint>), NOT float arrays
    val stored = spark.read.parquet(
      new java.io.File(s"$root/data").listFiles().filter(_.getName.startsWith("b"))
        .flatMap(_.listFiles()).map(_.toString).toIndexedSeq: _*)
    val vecType = stored.schema("vec").dataType
    assert(vecType.isInstanceOf[org.apache.spark.sql.types.StructType],
      s"expected encoded struct at rest, got $vecType")
    val st = vecType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(st("codes").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType === org.apache.spark.sql.types.ByteType)
    // read surface is float
    assert(t.docs.schema("vec").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType === org.apache.spark.sql.types.FloatType)

    // upsert (re-encodes), delete, compact (raw rewrite), reload
    val delta = t.docs.filter($"_id".cast("long") % 10 === 3).select($"_id", $"vec")
    t.addOrUpdate(delta)
    t.deleteByQuery($"_id".cast("long") % 7 === 0)
    t.compact()
    val reloaded = GammaTable.load(spark, root)
    val qv = reloaded.docs.filter($"_id" === "1").select("vec")
      .as[Array[Float]].head()
    val viaTable = reloaded.search(graft.core.SearchRequest(
        topn = 5, vecQueries = Seq(VecQuery("vec", qv)), metric = Metric.L2))
      .select($"_id", $"score").as[(String, Double)].collect().toSet
    // ground truth: brute force over the decoded surface
    val brute = graft.operators.Knn.flatSearch(
        reloaded.docs.select($"_id".cast("long").as("vec_id"), $"vec"),
        "vec_id", "vec",
        Seq((0L, qv.toSeq)).toDF("qid", "qvec"), "qid", "qvec", 5, Metric.L2)
      .select($"id".cast("string"), $"score").as[(String, Double)].collect().toSet
    assert(viaTable === brute)
    // deleted keys stay gone
    assert(!viaTable.exists(_._1.toLong % 7 == 0))

    // dump/restore carries the at-rest encoding (a dump is a write path)
    val dumpDir = tmp() + "/d"
    reloaded.dump(dumpDir)
    val dumped = spark.read.parquet(s"$dumpDir/data")
    assert(dumped.schema("vec").dataType
      .isInstanceOf[org.apache.spark.sql.types.StructType],
      "dump exported decoded floats instead of the INT8 encoding")
    val restored = GammaTable.restore(spark, dumpDir, tmp() + "/r")
    assert(restored.docs.schema("vec").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType === org.apache.spark.sql.types.FloatType)
    assert(restored.docs.count() === reloaded.docs.count())
    // and the restored table still accepts writes (struct-vs-struct merge)
    restored.addOrUpdate(restored.docs.limit(5).select($"_id", $"vec"))
    assert(restored.docs.count() === reloaded.docs.count())
  }

  test("unknown vector store type is rejected at create") {
    val e = intercept[IllegalArgumentException] {
      GammaTable.create(spark, tmp(), "bad", "_id",
        Seq(("1", Array(1f))).toDF("_id", "vec"),
        Seq(VectorFieldDef("vec", 1, store = "SQ8")))
    }
    assert(e.getMessage.contains("unknown vector store type"))
  }

  test("vacuum removes superseded bucket versions, keeps the current state") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "vac", "_id", docTable(),
      Seq(VectorFieldDef("vec", 64)), nBuckets = 4)
    // three commits: upsert (rewrites ~all buckets), delete, upsert again
    t.addOrUpdate(t.docs.filter($"_id".cast("long") % 3 === 0)
      .select($"_id", $"tokens", ($"p_size" + 1).as("p_size"),
        $"p_retailprice", $"vec"))
    t.deleteByQuery($"p_size" > 40)
    t.addOrUpdate(t.docs.filter($"_id".cast("long") % 5 === 0)
      .select($"_id", $"tokens", ($"p_size" + 2).as("p_size"),
        $"p_retailprice", $"vec"))
    val before = t.docs.select($"_id", $"p_size").collect().toSet
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def versionDirs(): Int = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$root/data/b*/v*")).length
    val preDirs = versionDirs()
    val removed = t.vacuum()
    assert(removed > 0, s"expected superseded versions among $preDirs dirs")
    // exactly the manifest's current versions remain
    assert(versionDirs() === t.meta.bucketVersions.size)
    // current state unharmed, and a reload reads it identically
    assert(t.docs.select($"_id", $"p_size").collect().toSet === before)
    val reloaded = GammaTable.load(spark, root)
    assert(reloaded.docs.select($"_id", $"p_size").collect().toSet === before)
    // idempotent
    assert(t.vacuum() === 0)
  }

  test("deleting every row then compacting keeps the table readable") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "wipe", "_id", docTable().limit(40),
      Seq(VectorFieldDef("vec", 64)), nBuckets = 4)
    t.delete(t.docs.select($"_id"))
    t.compact()
    // the manifest keeps a schema-bearing empty bucket: every read path
    // resolves its columns and returns empty instead of throwing
    assert(t.docs.count() === 0)
    assert(t.get("7").count() === 0)
    assert(t.search(SearchRequest(topn = 5,
      termFilters = Seq(TermFilter("tokens", Seq("red"))))).count() === 0)
    val st = t.status.head()
    assert(st.getAs[Long]("live_docs") === 0L)
    // a reload sees the same empty-but-typed table
    assert(GammaTable.load(spark, root).docs.count() === 0)
    // and the table comes back to life on a fresh add
    t.addOrUpdate(docTable().limit(10))
    assert(t.docs.count() === 10)
    assert(t.get("1").count() === 1)
  }

  test("vacuum(retainSnapshots=k) keeps the newest k snapshots servable") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "ret", "_id",
      Seq(("a", 1)).toDF("_id", "v"), nBuckets = 2) // v1
    t.addOrUpdate(Seq(("a", 2)).toDF("_id", "v")) // v2
    t.addOrUpdate(Seq(("a", 3)).toDF("_id", "v")) // v3
    t.addOrUpdate(Seq(("a", 4)).toDF("_id", "v")) // v4 (current)
    assert(t.vacuum(retainSnapshots = 1) > 0) // v3 retained; v1/v2 files go
    def read(v: Long): Int = spark.read.format("gamma")
      .option("versionAsOf", v).load(root).select("v").as[Int].head()
    assert(read(4) === 4)
    assert(read(3) === 3) // inside the retention window after the purge
    intercept[Exception](read(2)) // outside: files gone, fails loudly
  }

  test("a second stale handle cannot clobber a newer commit (lost-update guard)") {
    val root = tmp()
    GammaTable.create(spark, root, "cc", "_id",
      Seq(("a", 1), ("b", 2)).toDF("_id", "v"), nBuckets = 2)
    val h1 = GammaTable.load(spark, root)
    val h2 = GammaTable.load(spark, root) // same base version as h1
    h1.addOrUpdate(Seq(("a", 10)).toDF("_id", "v")) // v2 committed
    // h2 still believes v1; its commit would silently erase h1's v2 —
    // the manifest-swap guard must refuse it instead
    val e = intercept[java.util.ConcurrentModificationException](
      h2.addOrUpdate(Seq(("b", 20)).toDF("_id", "v")))
    assert(e.getMessage.contains("another writer"))
    // h1's commit survived; a RELOADED handle retries successfully
    assert(GammaTable.load(spark, root).docs
      .filter($"_id" === "a").select("v").as[Int].head() === 10)
    val h3 = GammaTable.load(spark, root)
    h3.addOrUpdate(Seq(("b", 20)).toDF("_id", "v"))
    assert(h3.docs.select(sum("v")).as[Long].head() === 30L)
  }

  test("commit lease (opt-in): held blocks, released after commit, stale overridable") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "lease", "_id",
      Seq(("a", 1)).toDF("_id", "v"), nBuckets = 2)
    spark.conf.set("spark.graft.table.lease", "true")
    try {
      val lock = new org.apache.hadoop.fs.Path(s"$root/meta/commit.lock")
      val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a normal write acquires and RELEASES — no lock left behind
      t.addOrUpdate(Seq(("a", 2)).toDF("_id", "v"))
      assert(!fs.exists(lock))
      // a FRESH foreign lock blocks the write with the lease message
      fs.create(lock, false).close()
      val e = intercept[java.util.ConcurrentModificationException](
        t.addOrUpdate(Seq(("a", 3)).toDF("_id", "v")))
      assert(e.getMessage.contains("lease"))
      // a STALE lock (mtime beyond the TTL) is overridden and the write wins
      fs.setTimes(lock, System.currentTimeMillis() - GammaTable.LeaseTtlMs - 1000, -1)
      t.addOrUpdate(Seq(("a", 4)).toDF("_id", "v"))
      assert(!fs.exists(lock))
      assert(t.docs.filter($"_id" === "a").select("v").as[Int].head() === 4)
    } finally spark.conf.unset("spark.graft.table.lease")
  }

  test("commit lease: no-op write paths release it (empty delta, no-match delete, no-victim compact)") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "leasenoop", "_id",
      Seq(("a", 1), ("b", 2)).toDF("_id", "v"), nBuckets = 2)
    spark.conf.set("spark.graft.table.lease", "true")
    try {
      val lock = new org.apache.hadoop.fs.Path(s"$root/meta/commit.lock")
      val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // empty-delta upsert commits nothing AND must not leak the lock —
      // MERGE action splits legitimately produce empty batches, and the
      // merge's own delete step follows immediately on the same handle
      t.addOrUpdate(Seq.empty[(String, Int)].toDF("_id", "v"))
      assert(!fs.exists(lock), "empty-delta upsert leaked the commit lease")
      // delete with an empty key frame is the same no-op shape
      t.delete(Seq.empty[String].toDF("_id"))
      assert(!fs.exists(lock), "no-match delete leaked the commit lease")
      // compactIfNeeded with zero victims early-returns before commit
      assert(t.compactIfNeeded() === Nil)
      assert(!fs.exists(lock), "no-victim compact leaked the commit lease")
      // ...and the very next real write on the SAME handle succeeds
      // immediately (pre-fix: ConcurrentModificationException until TTL)
      t.addOrUpdate(Seq(("a", 10)).toDF("_id", "v"))
      assert(!fs.exists(lock))
      assert(t.docs.filter($"_id" === "a").select("v").as[Int].head() === 10)
    } finally spark.conf.unset("spark.graft.table.lease")
  }

  test("withRetryReload recovers a stale handle's write by reloading") {
    val root = tmp()
    GammaTable.create(spark, root, "rr", "_id",
      Seq(("a", 1), ("b", 2)).toDF("_id", "v"), nBuckets = 2)
    val stale = GammaTable.load(spark, root)
    GammaTable.load(spark, root).addOrUpdate(Seq(("a", 10)).toDF("_id", "v"))
    // direct write on the stale handle refuses; the helper reloads+retries
    intercept[java.util.ConcurrentModificationException](
      stale.addOrUpdate(Seq(("b", 20)).toDF("_id", "v")))
    GammaTable.withRetryReload(spark, root) { t =>
      t.addOrUpdate(Seq(("b", 20)).toDF("_id", "v"))
    }
    assert(GammaTable.load(spark, root).docs.select(sum("v")).as[Long].head() === 30L)
  }

  test("partial-field upsert preserves the columns the delta omits (R1 field patch)") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "patch", "_id",
      Seq(("a", 1, "keep-a", Seq(1f, 2f)), ("b", 2, "keep-b", Seq(3f, 4f)),
        ("c", 3, "keep-c", Seq(5f, 6f))).toDF("_id", "v", "tag", "vec"),
      nBuckets = 2)
    // metadata-only patch: the delta's schema omits `tag` AND the vector
    // column — the reference patches only provided fields
    // (gamma_engine.cc:761-800); omitted columns must survive on updated
    // rows, and the fresh key reads them as null
    t.addOrUpdate(Seq(("b", 20), ("d", 4)).toDF("_id", "v"))
    val got = t.docs.select("_id", "v", "tag", "vec").collect()
      .map(r => r.getString(0) -> ((r.getInt(1), Option(r.getString(2)),
        Option(r.getSeq[Float](3)).map(_.toSeq)))).toMap
    assert(got === Map(
      "a" -> ((1, Some("keep-a"), Some(Seq(1f, 2f)))),
      "b" -> ((20, Some("keep-b"), Some(Seq(3f, 4f)))), // patched v, kept rest
      "c" -> ((3, Some("keep-c"), Some(Seq(5f, 6f)))),
      "d" -> ((4, None, None)))) // fresh key: absent fields are null
    // explicit NULL in a PRESENT column is an overwrite, not a preserve
    t.addOrUpdate(Seq(("a", 100, null.asInstanceOf[String]))
      .toDF("_id", "v", "tag"))
    val a = t.docs.filter($"_id" === "a").select("v", "tag", "vec").head()
    assert(a.getInt(0) === 100 && a.isNullAt(1) &&
      a.getSeq[Float](2).toSeq === Seq(1f, 2f))
  }

  test("partial-field upsert preserves an INT8-stored vector at rest") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "patch8", "_id",
      Seq(("a", 1, Seq(0.5f, -1.0f)), ("b", 2, Seq(2.0f, 4.0f)))
        .toDF("_id", "v", "vec"),
      vectorFields = Seq(VectorFieldDef("vec", 2, store = "INT8")), nBuckets = 2)
    val before = t.docs.filter($"_id" === "a").select("vec")
      .as[Array[Float]].head().toSeq
    t.addOrUpdate(Seq(("a", 10)).toDF("_id", "v")) // omits the vector
    val after = t.docs.filter($"_id" === "a").select("vec")
      .as[Array[Float]].head().toSeq
    // the at-rest INT8 struct is carried through UNCHANGED (no decode/
    // re-encode round trip), so the decoded surface is bit-identical
    assert(after === before)
    assert(t.docs.filter($"_id" === "a").select("v").as[Int].head() === 10)
  }

  test("schema evolves through writes: a delta with a NEW column unions in") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "evo", "_id",
      Seq(("a", 1), ("b", 2), ("c", 3)).toDF("_id", "v"), nBuckets = 2)
    // delta carries a column the table has never seen (the contract the
    // catalog's ALTER TABLE error message points at)
    t.addOrUpdate(Seq(("b", 20, "en"), ("d", 4, "fr")).toDF("_id", "v", "lang"))
    val got = t.docs.select("_id", "v", "lang")
      .collect().map(r => r.getString(0) ->
        (r.getInt(1), Option(r.getString(2)))).toMap
    assert(got === Map(
      "a" -> (1, None), "b" -> (20, Some("en")),
      "c" -> (3, None), "d" -> (4, Some("fr"))))
    // untouched buckets (old files without the column) read as null through
    // the manifest-carried schema — including via the SQL source
    val sql = spark.read.format("gamma").load(root)
    assert(sql.columns.contains("lang"))
    assert(sql.filter($"lang".isNull).count() === got.values.count(_._2.isEmpty))
  }

  test("a repeated filter shares its cached key frame and keeps it through the release queue") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val t = GammaTable.create(spark, tmp(), "kf", "_id", docTable(),
      Seq(VectorFieldDef("vec", 64)), nBuckets = 4)
    t.buildIndex("vec", graft.index.IndexParams(ncentroids = 4, nprobe = 2))
    val qvec = t.docs.select("vec").as[Array[Float]].head()
    // nine term filters over p_name words; the release queue holds eight
    val words = t.docs.select(explode($"tokens")).distinct().as[String].collect().sorted.take(9)
    assert(words.length === 9)
    val filters = words.map(w => TermFilter("tokens", Seq(w)))
    def search(f: TermFilter): Unit = t.search(SearchRequest(topn = 5,
      vecQueries = Seq(VecQuery("vec", qvec)), termFilters = Seq(f))).collect()
    def cached(f: TermFilter): Boolean = t.docs
      .filter(graft.operators.Filters.predicate(t.docs, Seq(f), Nil)).select("_id")
      .storageLevel != org.apache.spark.storage.StorageLevel.NONE

    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val logger = LogManager.getLogger("org.apache.spark.sql.execution.CacheManager")
      .asInstanceOf[Logger]
    val appender = new AbstractAppender("graft-cache-warnings", null, null, true,
        Array.empty) {
      override def append(e: LogEvent): Unit = warnings.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    logger.addAppender(appender)
    try {
      // f, seven other filters, f again, one more: f's frame was the
      // oldest, but its repeat moved it to the back of the queue
      (filters.take(8) :+ filters(0) :+ filters(8)).foreach(search)
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
    import scala.jdk.CollectionConverters._
    assert(!warnings.asScala.exists(_.contains("already cached")), warnings)
    assert(cached(filters(0)))
    assert(!cached(filters(1)), "the oldest other frame is released")
    assert(filters.drop(2).forall(cached))
    (filters(0) +: filters.drop(2)).foreach(f => t.docs
      .filter(graft.operators.Filters.predicate(t.docs, Seq(f), Nil)).select("_id").unpersist())
  }
}
