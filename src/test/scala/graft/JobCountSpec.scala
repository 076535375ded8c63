package graft

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.core.{Metric, RangeFilter, SearchRequest, VecQuery}
import graft.index.IndexParams
import graft.table.{GammaTable, VectorFieldDef}

/** Regression guard for driver round-trips on the serving path. Every
  * Spark job costs ~100 ms scheduler latency regardless of data size, so
  * manifest reads and schema derivation must stay job-free: the table
  * manifest carries the at-rest data schema and the index manifest the
  * lists schema (both captured at write time), and manifest JSON parses
  * through a local relation instead of spark.read.json.
  */
class JobCountSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_jobs").toString

  /** Count jobs started while `f` runs (listener bus is async: settle by
    * polling until the count is stable).
    */
  private val lastJobSites = new java.util.concurrent.ConcurrentLinkedQueue[String]
  // shuffle bytes written by the tasks of the last `jobsDuring` window
  private val lastShuffleBytes = new AtomicLong(0L)
  // the last window's jobs: (site, stage ids), and per stage its (tasks,
  // shuffle bytes written, input records read)
  private val lastJobStages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[Int])]
  private val stageTotals = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]

  private final case class JobStat(site: String, tasks: Long, shuffleBytes: Long, recordsRead: Long)

  /** Per job of the last `jobsDuring` window, in start order. */
  private def lastJobs: Seq[JobStat] = {
    import scala.jdk.CollectionConverters._
    lastJobStages.asScala.toSeq.map { case (site, stages) =>
      val t = stages.flatMap(s => Option(stageTotals.get(s)))
      JobStat(site, t.map(_(0)).sum, t.map(_(1)).sum, t.map(_(2)).sum)
    }
  }

  private def jobsDuring[T](f: => T): (T, Int) = {
    val n = new AtomicInteger(0)
    lastJobSites.clear()
    lastShuffleBytes.set(0L)
    lastJobStages.clear()
    stageTotals.clear()
    val l = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach { m =>
          lastShuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          val t = stageTotals.computeIfAbsent(te.stageId, _ => new Array[Long](3))
          t.synchronized {
            t(0) += 1; t(1) += m.shuffleWriteMetrics.bytesWritten; t(2) += m.inputMetrics.recordsRead
          }
        }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        val site = desc + " @ " + js.stageInfos.map(_.name).distinct.mkString(" | ")
        lastJobSites.add(site)
        lastJobStages.add((site, js.stageIds))
        n.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = f
      var prev = -1
      var cur = n.get()
      var spins = 0
      while (cur != prev && spins < 50) {
        Thread.sleep(100); prev = cur; cur = n.get(); spins += 1
      }
      (r, cur)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def docTable(keyType: String = "string") = {
    val emb = spark.read.parquet(s"$sf0/embeddings.parquet")
    spark.read.parquet(s"$sf0/part.parquet")
      .filter($"p_partkey" < 400)
      .join(emb, $"p_partkey" === $"vec_id")
      .select($"p_partkey".cast(keyType).as("_id"), $"p_size",
        $"embedding".as("vec"))
  }

  /** [[docTable]] for an IVF `model`: for BINARYIVF "vec" is a 128-bit
    * code of the key, queried on the float surface (one byte value per
    * float), with its field, build params, request metric and 64 queries.
    */
  private final case class IvfModel(model: String) {
    val binary: Boolean = model == "BINARYIVF"
    val metric: Metric.Value = if (binary) Metric.Hamming else Metric.L2
    def docs(keyType: String = "string") =
      if (binary) docTable(keyType).withColumn("vec", unhex(md5($"_id".cast("string"))))
      else docTable(keyType)
    def field: VectorFieldDef = VectorFieldDef("vec", if (binary) 128 else 64, metric.toString, model)
    def params: IndexParams = IndexParams(metric = metric, ncentroids = 4, nprobe = 2, nsubvector = 8)
    def vecs: Seq[Array[Float]] =
      if (binary) docs().select("vec").as[Array[Byte]].take(64).toSeq
        .map(graft.index.BinaryIvfIndex.bytesToFloats)
      else docTable().select("vec").as[Array[Float]].take(64).toSeq
  }

  test("table load and schema derivation launch zero Spark jobs") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "jc", "_id", docTable(),
      Seq(VectorFieldDef("vec", 64)), nBuckets = 4)
    assert(t.meta.dataSchema != null, "commit must record the at-rest schema")

    val (loaded, loadJobs) = jobsDuring(GammaTable.load(spark, root))
    assert(loadJobs === 0, s"manifest-only load ran $loadJobs jobs")

    // schema of the at-rest scan comes from the manifest, not a footer job
    val (schema, schemaJobs) = jobsDuring(loaded.docs.schema)
    assert(schemaJobs === 0, s"schema derivation ran $schemaJobs jobs")
    assert(schema.fieldNames.contains("vec") && schema.fieldNames.contains("p_size"))

    // and the data read through the manifest schema is the data written
    assert(loaded.docs.count() === t.docs.count())
  }

  test("persisted-index restore skips footer inference on lists and state") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "jci", "_id", docTable(),
      Seq(VectorFieldDef("vec", 64)), nBuckets = 4)
    t.buildIndex("vec", IndexParams(metric = Metric.L2, ncentroids = 4),
      persist = true)

    val (loaded, loadJobs) = jobsDuring(GammaTable.load(spark, root))
    // restore reads manifests (0 jobs) + coarse centroids (1 collect);
    // anything above that is a reintroduced inference/head job
    assert(loadJobs <= 2,
      s"index restore ran $loadJobs jobs: ${lastJobSites.toArray.mkString("; ")}")

    val hits = loaded.search(SearchRequest(topn = 5,
      vecQueries = Seq(VecQuery("vec",
        docTable().select("vec").as[Array[Float]].head()))))
    assert(hits.count() === 5)
  }

  for (model <- Seq("IVFPQ", "IVFFLAT", "BINARYIVF"))
  test(s"persisted $model point and batch requests run one job and no shuffle") {
    // one job over the table's resident store: each task scans its block's
    // probed lists (IVFPQ with ADC, re-ranking its candidates from the same
    // block; IVFFLAT exactly; BINARYIVF by Hamming over its codes); the
    // driver merges the task results
    val m = IvfModel(model)
    val root = tmp()
    GammaTable.create(spark, root, "jpq", "_id", m.docs(), Seq(m.field), nBuckets = 4)
      .buildIndex("vec", m.params, persist = true, retrievalType = model)
    val t = GammaTable.load(spark, root)
    val vecs = m.vecs
    Seq(VecQuery("vec", vecs.head), VecQuery("vec", vectors = vecs)).foreach { vq =>
      def run() = t.search(SearchRequest(topn = 10, vecQueries = Seq(vq), metric = m.metric))
        .select("qid", "_id", "score").collect()
      run() // the per-list stats job runs once per lists version
      val (rows, n) = jobsDuring(run())
      assert(rows.length === 10 * vq.batch.size)
      assert(n === 1, s"${vq.batch.size}-vector request ran $n jobs: " +
        lastJobSites.toArray.mkString("; "))
      assert(lastShuffleBytes.get === 0L)
      // the job reads one cached store block per task and no Parquet row
      // (a cached block counts as one input record), one task per block at
      // most
      val Seq(job) = lastJobs
      assert(job.site.contains("VectorStore"), lastJobs)
      assert(job.tasks > 0 && job.recordsRead === job.tasks, lastJobs)
      val blocks = spark.sparkContext.getPersistentRDDs.values
        .filter(_.name == "graft.VectorStore(_id, vec)").maxBy(_.id).getNumPartitions
      assert(job.tasks <= blocks, lastJobs)
    }
  }

  test("the first IVFPQ search after a commit builds the vector store inside its re-rank job") {
    // the build encodes every live row into its list inside the request's
    // one store job: no extra job and no shuffle
    val root = tmp()
    val t = GammaTable.create(spark, root, "jvs", "_id", docTable(),
      Seq(VectorFieldDef("vec", 64, "L2", "IVFPQ")), nBuckets = 4)
    t.buildIndex("vec", IndexParams(ncentroids = 4, nprobe = 2, nsubvector = 8),
      persist = true, retrievalType = "IVFPQ")
    val vecs = docTable().select("vec").as[Array[Float]].take(64).toSeq
    for (vq <- Seq(VecQuery("vec", vecs.head), VecQuery("vec", vectors = vecs))) {
      def run() = t.search(SearchRequest(topn = 10, vecQueries = Seq(vq)))
        .select("qid", "_id", "score").collect()
      run() // the per-list stats job runs once per lists version
      t.addOrUpdate(t.docs.filter(col("_id") === "1").select("_id", "p_size", "vec"))
      val (_, first) = jobsDuring(run())
      val firstJobs = lastJobs
      val (_, steady) = jobsDuring(run())
      val steadyJobs = lastJobs
      val what = s"${vq.batch.size}-vector request: $firstJobs vs $steadyJobs"
      assert(first === steady, what)
      assert(firstJobs.map(_.shuffleBytes).sum === steadyJobs.map(_.shuffleBytes).sum, what)
      // the first re-rank reads the live docs' rows and caches them, with
      // no shuffle; the next reads one cached block per task
      val Seq(build) = firstJobs.filter(_.site.contains("VectorStore"))
      val Seq(rerank) = steadyJobs.filter(_.site.contains("VectorStore"))
      assert(build.shuffleBytes === 0L && build.recordsRead > build.tasks, what)
      assert(rerank.recordsRead === rerank.tasks, what)
    }
  }

  test("persisted IVFPQ filtered requests: one keys job plus the scan jobs, no shuffle") {
    // the keys job counts the filtered key scan and brings the keys to the
    // driver; the widened-probe tier then tests them inside the one store
    // job (ADC scan and re-rank), and the exact fallback looks the allowed
    // rows up in the same store. Both key types: the keys ride the scans
    // as their own type.
    for (keyType <- Seq("string", "long")) {
      val root = tmp()
      GammaTable.create(spark, root, "jpqf", "_id", docTable(keyType),
        Seq(VectorFieldDef("vec", 64, "L2", "IVFPQ")), nBuckets = 4)
        .buildIndex("vec", IndexParams(ncentroids = 4, nprobe = 2, nsubvector = 8),
          persist = true, retrievalType = "IVFPQ")
      val t = GammaTable.load(spark, root)
      val vecs = docTable().select("vec").as[Array[Float]].take(64).toSeq
      val filter = Seq(RangeFilter("p_size", Some(1), Some(40)))
      // (exact-fallback rows conf, job bound): 0 disables the fallback
      for ((fallbackRows, bound) <- Seq(Some("0") -> 2, None -> 2);
           vq <- Seq(VecQuery("vec", vecs.head), VecQuery("vec", vectors = vecs))) {
        fallbackRows.foreach(spark.conf.set("spark.graft.filter.exactFallbackRows", _))
        try {
          def run() = t.search(SearchRequest(topn = 10, vecQueries = Seq(vq), rangeFilters = filter))
            .select("qid", "_id", "score").collect()
          run() // the per-list stats job runs once per lists version
          val (rows, n) = jobsDuring(run())
          val what = s"$keyType keys, ${vq.batch.size}-vector request (exactFallbackRows=$fallbackRows)"
          assert(rows.length === 10 * vq.batch.size, what)
          if (fallbackRows.isEmpty) assert(n === bound, s"$what ran $n jobs: " + lastJobSites.toArray.mkString("; "))
          else assert(n <= bound, s"$what ran $n jobs: " + lastJobSites.toArray.mkString("; "))
          assert(lastShuffleBytes.get === 0L, what)
        } finally spark.conf.unset("spark.graft.filter.exactFallbackRows")
      }
      // the exact fallback straight through the indexer, keys collected as
      // the table's keys job collects them: one lookup job, no shuffle (the
      // exact plan it replaces shuffles its per-query cut)
      val keys = graft.index.AllowedKeys.collect(
        t.docs.filter($"p_size".between(1, 40)).select("_id"), Long.MaxValue)
      val qs = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val (hits, n) = jobsDuring(t.attachedIndex("vec").get.searchHits(qs, 10, None, Some(keys)))
      assert(hits.rows.size === 10 * qs.size, keyType)
      assert(n === 1, s"$keyType keys: exact fallback ran $n jobs: " + lastJobSites.toArray.mkString("; "))
      assert(lastShuffleBytes.get === 0L, keyType)
    }
  }

  for (model <- Seq("IVFPQ", "IVFFLAT"))
  test(s"a standalone $model search and its SQL rewrite run one job and no shuffle") {
    // the one IVF search: one job over the index's own store (built by the
    // first search, cached for the index's lifetime), merged on the
    // driver; the SQL rewrite runs the same search and its hits come back
    // as a local relation
    val path = s"$sf0/embeddings.parquet"
    val emb = spark.read.parquet(path)
    val idx = graft.index.IndexRegistry.build(model, spark, emb, "vec_id", "embedding",
      IndexParams(ncentroids = 8, nprobe = 2, nsubvector = 8))
    val qvec = emb.filter($"vec_id" === 0).select("embedding").as[Array[Float]].head()
    val (rows, n) = jobsDuring(idx.search(Seq((0L, qvec)), 10).select("id", "score").collect())
    assert(rows.length === 10)
    assert(n === 1, s"search ran $n jobs: " + lastJobSites.toArray.mkString("; "))
    assert(lastShuffleBytes.get === 0L)

    graft.plans.AnnRewrite.install(spark)
    graft.plans.IndexCatalog.register(path,
      graft.plans.RegisteredIndex(idx, emb, "vec_id", "embedding"))
    val view = s"jc_${model.toLowerCase(java.util.Locale.ROOT)}"
    emb.createOrReplaceTempView(view)
    val qLit = s"array(${qvec.map(v => s"CAST($v AS FLOAT)").mkString(",")})"
    try {
      spark.conf.set("spark.graft.ann.rewrite", "true")
      val df = spark.sql(s"SELECT vec_id, l2_sq(embedding, $qLit) AS score " +
        s"FROM $view ORDER BY score LIMIT 10")
      val (sqlRows, m) = jobsDuring(df.collect())
      assert(m === 1, s"SQL ran $m jobs: " + lastJobSites.toArray.mkString("; ") +
        "\n" + df.queryExecution.executedPlan)
      assert(lastShuffleBytes.get === 0L)
      // the store the first search built: one cached block read per task,
      // no Parquet row, one task per block at most
      val Seq(job) = lastJobs
      assert(job.site.contains("VectorStore"), lastJobs)
      assert(job.tasks > 0 && job.recordsRead === job.tasks, lastJobs)
      val blocks = spark.sparkContext.getPersistentRDDs.values
        .filter(_.name == "graft.VectorStore(vec_id, embedding)").maxBy(_.id).getNumPartitions
      assert(job.tasks <= blocks, lastJobs)
      assert(sqlRows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
        rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    } finally {
      spark.conf.unset("spark.graft.ann.rewrite")
      graft.plans.IndexCatalog.unregister(path)
    }
  }

  test("IVFFLAT, HNSW, BINARYIVF and unindexed searches collect inside search") {
    // every tier finishes inside IncrementalIndexer.search: the frame it
    // returns is a local relation that collects with no job, and search
    // plus collect run no more jobs than the lazy frames they replace did
    // (those counts are the pins below); IVFFLAT and BINARYIVF serve from
    // the table's store: 1 job, and the keys job plus 1 for an exact
    // fallback
    val t = GammaTable.create(spark, tmp(), "jlz", "_id", docTable(),
      Seq(VectorFieldDef("vec", 64)), nBuckets = 4)
    val flat = t.buildIndex("vec", IndexParams(ncentroids = 4, nprobe = 2), persist = true)
    val ht = GammaTable.create(spark, tmp(), "jlzh", "_id", docTable(),
      Seq(VectorFieldDef("vec", 64, "L2", "HNSW")), nBuckets = 4)
    val hnsw = ht.buildIndex("vec", IndexParams(), persist = true, retrievalType = "HNSW")
    // one upsert after the build: the graphs keep serving, the new row
    // joins through the exact tail
    ht.addOrUpdate(ht.docs.filter(col("_id") === "1").select("_id", "p_size", "vec"))
    val bin = GammaTable.create(spark, tmp(), "jlzb", "_id",
      docTable().select($"_id", $"p_size", unhex(md5($"_id")).as("code")),
      Seq(VectorFieldDef("code", 128, metric = "Hamming", retrievalType = "BINARYIVF")),
      nBuckets = 4)
    val binIx = bin.buildIndex("code", IndexParams(metric = Metric.Hamming, ncentroids = 4),
      persist = true, retrievalType = "BINARYIVF")
    val unindexed = new graft.streaming.IncrementalIndexer(t, "vec", IndexParams(ncentroids = 4))
    val q = Seq((0L, docTable().select("vec").as[Array[Float]].head()))
    val qb = Seq((0L, graft.index.BinaryIvfIndex.bytesToFloats(
      bin.docs.select("code").as[Array[Byte]].head())))
    def allowed(g: GammaTable) = Some(g.docs.filter($"p_size".between(1, 40)).select("_id"))
    // (case, search, confs, jobs of search + collect when search was lazy)
    val cases = Seq[(String, () => org.apache.spark.sql.DataFrame, Map[String, String], Int)](
      ("unindexed brute scan", () => unindexed.search(q, 10), Map.empty, 3),
      ("IVFFLAT", () => flat.search(q, 10), Map.empty, 1),
      ("IVFFLAT exact fallback", () => flat.search(q, 10, allowedIds = allowed(t)), Map.empty, 2),
      ("HNSW with a tail", () => hnsw.search(q, 10), Map.empty, 5),
      ("HNSW huge-tier semi-join", () => hnsw.search(q, 10, allowedIds = allowed(ht)),
        Map("spark.graft.filter.exactFallbackRows" -> "0",
          "spark.graft.filter.broadcastMaxKeys" -> "10"), 8),
      ("BINARYIVF", () => binIx.search(qb, 10), Map.empty, 1))
    for ((what, search, confs, parentJobs) <- cases) {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        search().collect() // the per-list stats job runs once per lists version
        val (df, searchJobs) = jobsDuring(search())
        val (rows, collectJobs) = jobsDuring(df.collect())
        assert(rows.length === 10, what)
        assert(collectJobs === 0, s"$what: collect ran $collectJobs jobs: " +
          lastJobSites.toArray.mkString("; "))
        assert(searchJobs <= parentJobs, s"$what: search ran $searchJobs jobs")
      } finally confs.keys.foreach(spark.conf.unset)
    }
  }

  for (model <- Seq("IVFFLAT", "BINARYIVF"))
  test(s"persisted $model filtered requests: the keys job plus one store job, no shuffle") {
    // the keys job brings the keys to the driver; the widened-probe tier
    // tests them inside the one store job, and the exact fallback looks
    // the allowed rows up in the same store: 2 jobs on either tier (the
    // semi-join plans they replace ran 5 for IVFFLAT; BINARYIVF's keys job
    // only counted, and its plan semi-joined the allowed frame)
    val m = IvfModel(model)
    val root = tmp()
    GammaTable.create(spark, root, "jflf", "_id", m.docs(), Seq(m.field), nBuckets = 4)
      .buildIndex("vec", m.params, persist = true, retrievalType = model)
    val t = GammaTable.load(spark, root)
    val vecs = m.vecs
    val filter = Seq(RangeFilter("p_size", Some(1), Some(40)))
    for (fallbackRows <- Seq(Some("0"), None);
         vq <- Seq(VecQuery("vec", vecs.head), VecQuery("vec", vectors = vecs))) {
      fallbackRows.foreach(spark.conf.set("spark.graft.filter.exactFallbackRows", _))
      try {
        def run() = t.search(SearchRequest(topn = 10, vecQueries = Seq(vq), rangeFilters = filter,
          metric = m.metric))
          .select("qid", "_id", "score").collect()
        run() // the per-list stats job runs once per lists version
        val (rows, n) = jobsDuring(run())
        val what = s"${vq.batch.size}-vector request (exactFallbackRows=$fallbackRows)"
        assert(rows.length === 10 * vq.batch.size, what)
        assert(n === 2, s"$what ran $n jobs: " + lastJobSites.toArray.mkString("; "))
        assert(lastShuffleBytes.get === 0L, what)
        assert(lastJobs.count(_.site.contains("VectorStore")) === 1, lastJobs)
      } finally spark.conf.unset("spark.graft.filter.exactFallbackRows")
    }
  }

  test("commit path job counts stay bounded (AQE off for the fixed-shape write)") {
    // Regression guard for the r8 commit-cost work: the write action runs
    // WITHOUT adaptive execution (fixed-shape plan), so each commit is
    // stats-pass jobs + broadcast builds + ONE write job — not one job
    // per AQE query stage. Bounds are the measured counts + 1 slack.
    val root = tmp()
    val input = docTable() // parquet schema inference happens here, not in the window
    val (t, createJobs) = jobsDuring {
      GammaTable.create(spark, root, "jcc", "_id", input, Nil, nBuckets = 4)
    }
    assert(createJobs <= 5,
      s"create ran $createJobs jobs: ${lastJobSites.toArray.mkString("; ")}")

    val delta = t.docs.filter(col("_id").cast("long") % 5 === 0)
      .select(col("_id"), (col("p_size") + 1).as("p_size"), col("vec"))
      .localCheckpoint(true)
    val (_, upsertJobs) = jobsDuring(t.addOrUpdate(delta))
    assert(upsertJobs <= 9,
      s"addOrUpdate ran $upsertJobs jobs: ${lastJobSites.toArray.mkString("; ")}")

    val (_, delJobs) = jobsDuring(t.deleteByQuery(col("p_size").between(10, 12)))
    assert(delJobs <= 7,
      s"deleteByQuery ran $delJobs jobs: ${lastJobSites.toArray.mkString("; ")}")

    // the AQE toggle must be restored after every commit
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
  }

  test("heavy-hitters sketch-then-verify stays job-bounded") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 20000).select(
      when(col("id") % 3 =!= 0, concat(lit("hot-"), (col("id") % 5).cast("string")))
        .otherwise(concat(lit("t-"), col("id").cast("string"))).as("item"))
      .localCheckpoint(true)
    val ((_, n)) = jobsDuring {
      graft.text.HeavyHitters.exact(df, "item", minFreqRatio = 0.08, k = 16)
        .collect()
    }
    // one sketch agg + the recount (plus bounded broadcast-build jobs):
    // a regression past this bound means a new corpus pass crept in
    assert(n <= 6, s"heavy hitters ran $n jobs (bound 6)")
  }
}
