package graft

/** Scratch profiling main (not part of the driver contract): times the
  * index-build stages on sf0.1 embeddings to keep the build path honest.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(32)
    // scratch A/B switch: PROF_AQE=0 disables AQE for the whole run
    sys.env.get("PROF_AQE").foreach(v =>
      spark.conf.set("spark.sql.adaptive.enabled", (v != "0").toString))
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      System.err.println(f"[prof] $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s"); r
    }
    sys.env.get("PROF_ONLY").foreach { v =>
      require(Set("persist", "bin", "i8", "keepbest", "neardup", "textheavy").contains(v),
        s"unknown PROF_ONLY=$v (expected: persist | bin | i8 | keepbest | neardup | textheavy)")
    }

    // The four heaviest 1000x text gates (r10 verdict Wrong #1): attribute
    // each gate's wall time into corpus READ (parquet scan + decompress),
    // OPERATOR (the gate's plan executed with no sink — toRdd.count keeps
    // every projection, unlike DataFrame.count which prunes them), and the
    // verify-harness WRITE (repartition(1) single-file parquet — included
    // in every [verify] timing, suspected to be a large share for the
    // 5M-row-output linear gates).
    if (sys.env.get("PROF_ONLY").contains("textheavy")) {
      import org.apache.spark.sql.functions._
      val docs = graft.core.Tables.load(spark, dir, "documents")
      time("docs read (sum len)") {
        docs.agg(sum(length(col("text")))).head()
      }
      // PROF_GATES overrides the gate list (resume after a crash without
      // re-paying completed gates); PROF_SKIP_WRITE=1 skips the write pass
      // (at 1000x q_dedup_substr's repartition(1) of 37M rows spills its
      // whole output through /tmp — it filled the disk on the first run,
      // which is itself the attribution: that write is harness cost, and
      // at real scale Verify's output would be partitioned, not 1 file)
      val gates = sys.env.getOrElse("PROF_GATES",
        "q_text_repetition,q_dedup_substr,q_bpe_pairs,q_lm_score").split(",")
      val skipWrite = sys.env.get("PROF_SKIP_WRITE").contains("1")
      gates.foreach { g =>
        val df = SparkEntry.queries(g)(spark, dir)
        time(s"$g operator") { df.queryExecution.toRdd.count() }
        if (!skipWrite) {
          val out = java.nio.file.Files.createTempDirectory("graft_prof").toString
          time(s"$g verify-write") {
            df.repartition(1).write.mode("overwrite").parquet(out)
          }
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
        }
      }
      spark.stop(); return
    }

    // q_stream_neardup stage breakdown (PROF_ONLY=neardup): where do the
    // seconds go — the static-side checkpoint at stream start, the
    // MemoryStream feed collects, or the per-microbatch processing?
    if (sys.env.get("PROF_ONLY").contains("neardup")) {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val docs = graft.core.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val n = docs.agg(max("doc_id")).head().getLong(0) + 1
      val step = (n + 4) / 5
      (1 to 2).foreach { pass =>
        System.err.println(s"[prof] === stream_neardup, pass $pass ===")
        val t0 = System.nanoTime()
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        val sink = s"ndprof_${pass}"
        val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.StreamTextDoc]
        val q = graft.streaming.StreamDedup
          .nearDupPairs(stream.toDF(), docs, "doc_id", "text", threshold = 0.5)
          .writeStream.format("memory").queryName(sink).outputMode("append").start()
        System.err.println(f"[prof] nd: start+static ckpt    ${(System.nanoTime() - t0) / 1e9}%7.2f s")
        try {
          (0 until 5).foreach { i =>
            val t1 = System.nanoTime()
            val data = docs
              .filter(col("doc_id") >= i * step && col("doc_id") < (i + 1) * step)
              .as[graft.StreamTextDoc].collect().toSeq
            val t2 = System.nanoTime()
            stream.addData(data)
            q.processAllAvailable()
            System.err.println(f"[prof] nd: batch $i collect     ${(t2 - t1) / 1e9}%7.2f s  process ${(System.nanoTime() - t2) / 1e9}%7.2f s")
          }
        } finally q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        System.err.println(f"[prof] nd: total              ${(System.nanoTime() - t0) / 1e9}%7.2f s  pairs=${spark.table(sink).distinct().count()}")
      }
      spark.stop(); return
    }
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    emb.count() // warm the file scan
    val docs = emb.select("vec_id", "embedding")

    // q_table_persisted stage breakdown (run with PROF_ONLY=persist to skip
    // the rest): mirrors SparkEntry's lifecycle exactly
    if (sys.env.get("PROF_ONLY").contains("persist")) {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      (1 to 2).foreach { pass =>
        System.err.println(s"[prof] === persisted lifecycle, pass $pass ===")
        val root = java.nio.file.Files.createTempDirectory("graft_prof_persist").toString
        val docs0 = graft.core.Tables.load(spark, dir, "part")
          .join(emb, col("p_partkey") === col("vec_id"))
          .select(col("p_partkey").cast("string").as("_id"),
            col("p_size"), col("embedding").as("vec"))
        val tbl = time("persist: create") {
          graft.table.GammaTable.create(spark, root, "persisted", "_id", docs0,
            Seq(graft.table.VectorFieldDef("vec", 64)), nBuckets = 8)
        }
        val ix = time("persist: buildIndex") {
          tbl.buildIndex("vec", graft.index.IndexParams(ncentroids = 4), persist = true)
        }
        val delta = tbl.docs.filter(col("_id").cast("long") % 10 === 3)
          .select(col("_id"), (col("p_size") + 1).as("p_size"), col("vec"))
        time("persist: addOrUpdate") { tbl.addOrUpdate(delta) }
        time("persist: refresh") { ix.refresh() }
        time("persist: deleteByQuery") { tbl.deleteByQuery(col("p_size").between(10, 12)) }
        val qvec = emb.filter(col("vec_id") === 0).select("embedding")
          .as[Array[Float]].head()
        val reloaded = time("persist: load") { graft.table.GammaTable.load(spark, root) }
        spark.conf.set("spark.graft.filter.exactFallbackRows", "0")
        try time("persist: search+collect") {
          reloaded.search(graft.core.SearchRequest(
              topn = 10,
              vecQueries = Seq(graft.core.VecQuery("vec", qvec)),
              rangeFilters = Seq(graft.core.RangeFilter("p_size", Some(1), Some(40))),
              metric = graft.core.Metric.L2))
            .select(col("_id"), round(col("score"), 6).as("score")).collect()
        } finally spark.conf.unset("spark.graft.filter.exactFallbackRows")
      }
      spark.stop(); return
    }

    if (sys.env.get("PROF_ONLY").isEmpty) {
      val centers = time("trainCoarse(32)") {
        graft.index.Ivf.trainCoarse(docs, "embedding", 32, 200000, 42L)
      }
      time("assignWithCenters+count") {
        graft.index.Ivf.assignWithCenters(docs, "embedding", centers).count()
      }
      val params = graft.index.IndexParams(ncentroids = 32)
      val pq = time("IvfPqIndex.build") {
        graft.index.IvfPqIndex.build(spark, docs, "vec_id", "embedding", params)
      }
      time("pq codes count") { pq.lists.count() }
      val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      time("pq search k=10") { pq.search(Seq((0L, q)), 10).collect() }
      time("IvfFlatIndex.build") {
        graft.index.IvfFlatIndex.build(spark, docs, "vec_id", "embedding", params)
          .lists.count()
      }
    }

    // q_knn_int8 stage breakdown (PROF_ONLY=i8): where do the seconds go —
    // the encode/decode scan, the checkpoint, the head(), or the search?
    if (sys.env.get("PROF_ONLY").contains("i8")) {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      (1 to 3).foreach { pass =>
        System.err.println(s"[prof] === knn_int8, pass $pass ===")
        val dec0 = emb.select(col("vec_id"),
          graft.functions.Quant.int8Decode(
            graft.functions.Quant.int8Encode(col("embedding"))).as("embedding"))
        // count() prunes the projection (it times only the parquet scan);
        // the checkpoint stage is where the codec is actually EVALUATED —
        // the gap between the two numbers is the codec's true cost
        time("i8: scan-only count") { dec0.count() }
        val dec = time("i8: eval+localCheckpoint") { dec0.localCheckpoint(true) }
        val qv = time("i8: head()") {
          dec.filter(col("vec_id") === 0).select("embedding").as[Array[Float]].head()
        }
        val q = Seq((0L, qv.toSeq)).toDF("qid", "qvec")
        time("i8: flatSearch collect") {
          graft.operators.Knn.flatSearch(
              dec, "vec_id", "embedding", q, "qid", "qvec", 10,
              graft.core.Metric.L2)
            .select(col("id"), round(col("score"), 6).as("score")).collect()
        }
      }
      spark.stop(); return
    }

    // q_dedup_keep_best stage breakdown (PROF_ONLY=keepbest): times
    // minhashPairs / duplicateClusters / keepBestPerCluster separately
    // across 3 repeats in one JVM — the bench showed a 4x intra-JVM spread
    // (1.8 s first run, ~8 s repeats) so the interesting signal is which
    // stage GROWS across passes, not the absolute first-pass numbers.
    if (sys.env.get("PROF_ONLY").contains("keepbest")) {
      import org.apache.spark.sql.functions._
      val d = graft.core.Tables.load(spark, dir, "documents")
      (1 to 3).foreach { pass =>
        System.err.println(s"[prof] === dedup_keep_best, pass $pass ===")
        // each stage consumes the PREVIOUS stage's materialized frame
        // (localCheckpoint, not just count: a lazy frame would re-run the
        // upstream pipeline inside the next stage's timing and the
        // per-stage attribution — the whole point here — would lie)
        val pairs = time("kb: minhashPairs") {
          graft.dedup.Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.5)
            .localCheckpoint(true)
        }
        val clusters = time("kb: duplicateClusters") {
          graft.dedup.Dedup.duplicateClusters(pairs).localCheckpoint(true)
        }
        time("kb: keepBestPerCluster count") {
          graft.dedup.Dedup.keepBestPerCluster(
              d.select(col("doc_id"), col("lang"),
                (col("doc_id") % 101).cast("long").as("score")),
              "doc_id", "score", clusters)
            .count()
        }
        pairs.unpersist(); clusters.unpersist()
      }
      spark.stop(); return
    }

    // q_binaryivf_lifecycle stage breakdown (PROF_ONLY=bin runs just this).
    // Two passes (pass 1 pays per-plan-shape codegen warmup) + a Spark job
    // counter per stage — lifecycle cost here is scheduler latency × job
    // count, so the job count is the number to cut.
    if (!sys.env.get("PROF_ONLY").exists(_ != "bin")) {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      })
      def timeJ[T](name: String)(f: => T): T = {
        val j0 = jobs.get(); val t0 = System.nanoTime(); val r = f
        val sec = (System.nanoTime() - t0) / 1e9
        // onJobStart arrives async on the listener bus; give stragglers a
        // beat (untimed) to land or this stage undercounts and the next
        // overcounts (waitUntilEmpty is private[spark], so a sleep it is)
        Thread.sleep(100)
        System.err.println(f"[prof] $name%-28s $sec%7.2f s  jobs=${jobs.get() - j0}")
        r
      }
      (1 to 2).foreach { pass =>
        System.err.println(s"[prof] === binaryivf lifecycle, pass $pass ===")
        val root = java.nio.file.Files.createTempDirectory("graft_prof_bin").toString
        val docs0 = graft.core.Tables.load(spark, dir, "documents")
          .select(col("doc_id").cast("string").as("_id"),
            unhex(md5(col("text"))).as("code"), col("lang"))
        val tbl = timeJ("bin: create") {
          graft.table.GammaTable.create(spark, root, "binivf", "_id", docs0,
            Seq(graft.table.VectorFieldDef("code", 128, metric = "Hamming",
              retrievalType = "BINARYIVF")), nBuckets = 8)
        }
        val ix = timeJ("bin: buildIndex") {
          tbl.buildIndex("code",
            graft.index.IndexParams(metric = graft.core.Metric.Hamming, ncentroids = 4),
            persist = true, retrievalType = "BINARYIVF")
        }
        val delta = tbl.docs.filter(col("_id").cast("long") % 7 === 3)
          .select(col("_id"),
            unhex(md5(concat(col("_id"), lit("v2")))).as("code"), col("lang"))
        timeJ("bin: addOrUpdate") { tbl.addOrUpdate(delta) }
        timeJ("bin: refresh") { ix.refresh() }
        timeJ("bin: deleteByQuery") { tbl.deleteByQuery(col("lang") === "de") }
        val qbytes = docs0.filter(col("_id") === "0").select("code")
          .as[Array[Byte]].head()
        val reloaded = timeJ("bin: load") { graft.table.GammaTable.load(spark, root) }
        timeJ("bin: search+collect") {
          reloaded.search(graft.core.SearchRequest(
              topn = 10,
              vecQueries = Seq(graft.core.VecQuery("code",
                graft.index.BinaryIvfIndex.bytesToFloats(qbytes), nprobe = Some(4))),
              metric = graft.core.Metric.Hamming)).collect()
        }
      }
    }
    spark.stop()
  }
}
