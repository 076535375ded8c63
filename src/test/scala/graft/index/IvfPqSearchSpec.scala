package graft.index

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSuite
import graft.core.{Metric, RangeFilter, SearchRequest, VecQuery}
import graft.functions.pq_adc
import graft.operators.{Knn, TopK}
import graft.table.{GammaTable, VectorFieldDef}

/** The IVF search (one Spark job over the resident store, per-task heaps
  * and, for IVFPQ, exact scores merged on the driver, see
  * `IvfIndex.searchHits`) must return exactly the rows of Spark SQL plans
  * computing the same answer: same ids, bit-equal scores, same order per
  * query; and the store's index rows must be the indexer's clean lists.
  * IVFPQ, IVFFLAT and BINARYIVF run the same scan with a per-model row
  * score.
  */
class IvfPqSearchSpec extends GraftSuite {
  import spark.implicits._

  private val Ncent = 4

  private def tmp(): String = Files.createTempDirectory("graft_pq_search").toString

  // 500 embeddings plus exact copies of 20 of them under new ids: a copy
  // ties its original on every score, so the id tie-break orders them
  private lazy val docsLong: DataFrame = {
    val emb = spark.read.parquet(s"$sf0/embeddings.parquet")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    emb.unionByName(emb.filter($"id" < 20).select(($"id" + 1000).as("id"), $"vec"))
      .withColumn("tag", $"id" % 3)
      .localCheckpoint(true)
  }

  private def docs(stringKeys: Boolean): DataFrame =
    if (stringKeys) docsLong.withColumn("id", $"id".cast("string")) else docsLong

  // a req_num batch holding stored vectors (whose copies tie) and a repeat
  private lazy val batch: Seq[Array[Float]] = {
    val vs = docsLong.filter($"id" < 6).orderBy("id").select("vec").as[Array[Float]].collect().toSeq
    vs :+ vs.head
  }

  // docsLong with each vector replaced by a 128-bit code of its id; a
  // copy's code is its original's, so copies tie
  private lazy val codesLong: DataFrame =
    docsLong.withColumn("vec", unhex(md5(($"id" % 1000).cast("string")))).localCheckpoint(true)

  // the binary batch on the float surface (a byte value per float): stored
  // codes (copies tie), a code one byte short (whose distance counts the
  // longer code's extra bits) and a repeat
  private lazy val codeBatch: Seq[Array[Float]] = {
    val cs = codesLong.filter($"id" < 6).orderBy("id").select("vec").as[Array[Byte]].collect().toSeq
    (cs.init :+ cs.last.init :+ cs.head).map(BinaryIvfIndex.bytesToFloats)
  }

  private val tables = scala.collection.mutable.Map.empty[(Metric.Value, Boolean), GammaTable]

  /** Persisted IVFPQ table whose full probe with recall_num >= rows
    * re-ranks every doc exactly.
    */
  private def table(metric: Metric.Value, stringKeys: Boolean): GammaTable =
    tables.getOrElseUpdate((metric, stringKeys), {
      val t = GammaTable.create(spark, tmp(), "pq", "id", docs(stringKeys),
        Seq(VectorFieldDef("vec", 64, metric.toString, "IVFPQ")), nBuckets = 4)
      t.buildIndex("vec", IndexParams(metric = metric, ncentroids = Ncent, nprobe = 2,
        nsubvector = 8, recallNum = 1000), persist = true, retrievalType = "IVFPQ")
      t
    })

  /** Per qid, its (id, raw score bits) rows in result order. */
  private def ranked(df: DataFrame): Map[Long, Seq[(Any, Long)]] =
    df.select("qid", "id", "score").collect().toSeq.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.map(r => (r.get(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
    }

  private def queryFrame(vq: VecQuery): DataFrame = queryFrame(vq.batch, Metric.L2)

  /** `qs` as (qid, qvec): packed bytes under Hamming, else float arrays. */
  private def queryFrame(qs: Seq[(Long, Array[Float])], metric: Metric.Value): DataFrame =
    if (metric == Metric.Hamming)
      qs.map { case (i, v) => (i, BinaryIvfIndex.floatsToBytes(v)) }.toDF("qid", "qvec")
    else qs.map { case (i, v) => (i, v.toSeq) }.toDF("qid", "qvec")

  /** The `nprobe` lists `ix` probes for `v`: for BINARYIVF ranked as its
    * lists were assigned (Hamming over the byte centroids, the lower
    * centroid first on a tie), else by the quantizer metric.
    */
  private def probed(ix: IvfIndex, v: Array[Float], nprobe: Int): Seq[Int] = ix match {
    case b: BinaryIvfIndex =>
      val q = BinaryIvfIndex.floatsToBytes(v)
      b.centroids.indices.sortBy(c => (BinaryIvfIndex.hammingOf(b.centroids(c), q), c)).take(nprobe)
    case _ => Ivf.rankedCentroids(ix.centers, v, ix.params.metric).take(nprobe)
  }

  private def withConf[T](k: String, v: String)(f: => T): T = {
    spark.conf.set(k, v)
    try f finally spark.conf.unset(k)
  }

  for (metric <- Seq(Metric.L2, Metric.InnerProduct); stringKeys <- Seq(false, true)) {
    val keys = if (stringKeys) "string" else "long"
    test(s"full probe equals Knn.flatSearch exactly ($metric, $keys keys)") {
      val t = table(metric, stringKeys)
      def check(vq: VecQuery, filter: Option[RangeFilter] = None): Unit = {
        val got = t.search(SearchRequest(topn = 10, vecQueries = Seq(vq.copy(nprobe = Some(Ncent))),
          rangeFilters = filter.toSeq, metric = metric))
        val src = filter.fold(t.docs)(f => t.docs.filter($"tag".between(f.lower.get, f.upper.get)))
        val want = Knn.flatSearch(src, "id", "vec", queryFrame(vq), "qid", "qvec", 10, metric,
          minScore = vq.minScore, maxScore = vq.maxScore)
        assert(ranked(got) === ranked(want), s"$vq filter=$filter")
      }
      val all = VecQuery("vec", vectors = batch)
      check(all)
      // a score window cutting into query 0's top-10
      val scores = ranked(Knn.flatSearch(t.docs, "id", "vec", queryFrame(all), "qid", "qvec", 10,
        metric))(0L).map(r => java.lang.Double.longBitsToDouble(r._2)).sorted
      check(all.copy(minScore = Some(scores(2)), maxScore = Some(scores(7))))
      // an allowed set, broadcast into the probe (exact fallback off so the
      // request reaches the IVFPQ tier)
      withConf("spark.graft.filter.exactFallbackRows", "0") {
        check(all, Some(RangeFilter("tag", Some(0.0), Some(1.0))))
      }
    }
  }

  for ((model, metric) <- Seq("IVFFLAT" -> Metric.L2, "IVFFLAT" -> Metric.InnerProduct,
         "IVFFLAT" -> Metric.Cosine, "BINARYIVF" -> Metric.Hamming);
       keys <- Seq("long", "int", "string")) {
    test(s"$model at full probe equals Knn.flatSearch exactly ($metric, $keys keys)") {
      val binary = model == "BINARYIVF"
      val t = GammaTable.create(spark, tmp(), "flat", "id",
        (if (binary) codesLong else docsLong).withColumn("id", $"id".cast(keys)),
        Seq(VectorFieldDef("vec", if (binary) 128 else 64, metric.toString, model)), nBuckets = 4)
      val ix = t.buildIndex("vec", IndexParams(metric = metric, ncentroids = Ncent, nprobe = 2),
        persist = true, retrievalType = model)
      val vq = VecQuery("vec", vectors = if (binary) codeBatch else batch, nprobe = Some(Ncent))
      // BINARYIVF also repeats a qid: its two codes share one heap
      val qs = if (binary) Seq(0L, 1L, 2L, 3L, 1L, 5L, 6L).zip(codeBatch) else vq.batch
      def want(src: DataFrame, range: (Option[Double], Option[Double]),
          q: Seq[(Long, Array[Float])] = qs) =
        ranked(Knn.flatSearch(src, "id", "vec", queryFrame(q, metric), "qid", "qvec", 10, metric,
          minScore = range._1, maxScore = range._2))
      // through the table, unfiltered
      assert(ranked(t.search(SearchRequest(topn = 10, vecQueries = Seq(vq), metric = metric))) ===
        want(t.docs, (None, None), vq.batch))
      // through the indexer: no filter, the allowed keys tested in the
      // scan, and an allowed set held only as a frame (semi-joined into
      // the persisted lists); the exact fallback is off so each reaches
      // the index tier
      val frame = t.docs.filter($"tag" =!= 2).select("id")
      val allowedCases = Seq("no filter" -> None,
        "collected keys" -> Some(AllowedKeys.collect(frame, Long.MaxValue)),
        "frame" -> Some(AllowedKeys(frame, frame.count(), None)))
      withConf("spark.graft.filter.exactFallbackRows", "0") {
        for ((what, allowed) <- allowedCases) {
          val src = allowed.fold(t.docs)(_ => t.docs.filter($"tag" =!= 2))
          // a score window cutting into query 0's top-10
          val s0 = want(src, (None, None))(0L).map(r => java.lang.Double.longBitsToDouble(r._2)).sorted
          for (range <- Seq((None, None), (Some(s0(2)), Some(s0(7))))) {
            val got = ix.searchHits(qs, 10, vq.nprobe, allowed, range._1, range._2)
            val exact = want(src, range)
            assert(ranked(got.toDF(spark)) === exact, s"$what range=$range")
            assert(exact(0L).size >= (if (range._1.isDefined) 6 else 10), s"$what range=$range")
          }
        }
      }
    }
  }

  for (metric <- Seq(Metric.L2, Metric.InnerProduct)) {
    test(s"without re-rank the request path equals pq_adc + TopK.perGroup ($metric)") {
      val t = table(metric, stringKeys = false)
      val pq = t.attachedIndex("vec").get.currentIndex.get.asInstanceOf[IvfPqIndex]
      val vq = VecQuery("vec", vectors = batch, nprobe = Some(Ncent), hasRank = Some(false))
      val ksub = pq.codebooks.map(_.length).max
      val luts = for ((qid, v) <- vq.batch; c <- pq.centers.indices) yield
        (qid, c, IvfPqIndex.lutFor(v, pq.centers(c), pq.codebooks, ksub,
          metric == Metric.InnerProduct).toSeq)
      val adc = pq.lists.join(luts.toDF("qid", "centroid_id", "lut"), Seq("centroid_id"))
        .select($"qid", $"id", pq_adc($"pq_codes", $"lut").as("score"))
      val asc = Metric.ascending(metric)
      val top = TopK.perGroup(adc, "qid", "score", asc, 10, Seq("id"))
      val got = t.search(SearchRequest(topn = 10, vecQueries = Seq(vq), metric = metric))
      assert(ranked(got) === ranked(top))

      // the score range applies to the ADC value before the heap
      val s0 = ranked(top)(0L).map(r => java.lang.Double.longBitsToDouble(r._2)).sorted
      val (lo, hi) = (s0(1), s0(6))
      val gotRange = t.search(SearchRequest(topn = 10,
        vecQueries = Seq(vq.copy(minScore = Some(lo), maxScore = Some(hi))), metric = metric))
      val wantRange = TopK.perGroup(adc.filter($"score" >= lo && $"score" <= hi),
        "qid", "score", asc, 10, Seq("id"))
      assert(ranked(gotRange) === ranked(wantRange))
    }
  }

  /** The IVF search as Spark SQL. IVFPQ: each query's ADC scores over its
    * own probed lists (pq_adc against LUTs of those centroids only), k or
    * max(recall_num, k) candidates per qid, then, with `hasRank`, the
    * candidates joined back to the raw vectors, scored exactly, the score
    * range applied and k kept per qid. IVFFLAT and BINARYIVF: each query's
    * probed lists ([[probed]]) scored with `Knn.score`, the score range, k
    * per qid.
    */
  private def oracle(
      ix: IvfIndex, qs: Seq[(Long, Array[Float])], k: Int, nprobe: Int,
      allowed: Option[DataFrame], range: (Option[Double], Option[Double]),
      lists: Option[DataFrame] = None, vectors: DataFrame = docsLong): DataFrame = {
    val metric = ix.params.metric
    val asc = Metric.ascending(metric)
    def inRange(df: DataFrame) =
      df.filter(range._1.fold(lit(true))($"score" >= _) && range._2.fold(lit(true))($"score" <= _))
    val all = lists.getOrElse(ix.lists)
    val rows = allowed.fold(all)(a => all.join(a, Seq("id"), "left_semi"))
    val pq = ix match {
      case pq: IvfPqIndex => pq
      case _ =>
        // (query position, qid, probed centroid), each position with its vector
        val probes = qs.indices.flatMap(p => probed(ix, qs(p)._2, nprobe).map(c => (p.toLong, qs(p)._1, c)))
          .toDF("pos", "qid", "centroid_id")
          .join(queryFrame(qs.indices.map(p => (p.toLong, qs(p)._2)), metric)
            .withColumnRenamed("qid", "pos"), Seq("pos"))
        val scored = rows.join(probes, Seq("centroid_id"))
          .select($"qid", $"id", Knn.score(metric, $"vec", $"qvec").as("score"))
        return TopK.perGroup(inRange(scored), "qid", "score", asc, k, Seq("id"))
    }
    val ksub = pq.codebooks.map(_.length).max
    val luts = for ((qid, v) <- qs; c <- probed(pq, v, nprobe))
      yield (qid, c, IvfPqIndex.lutFor(v, pq.centers(c), pq.codebooks, ksub,
        metric == Metric.InnerProduct).toSeq)
    val adc = rows.join(luts.toDF("qid", "centroid_id", "lut"), Seq("centroid_id"))
      .select($"qid", $"id", pq_adc($"pq_codes", $"lut").as("score"))
    if (!pq.params.hasRank) TopK.perGroup(inRange(adc), "qid", "score", asc, k, Seq("id"))
    else {
      val cands = TopK.perGroup(adc, "qid", "score", asc, math.max(pq.params.recallNum, k),
        Seq("id"))
      val exact = cands.select("qid", "id")
        .join(vectors.select("id", "vec"), Seq("id"))
        .join(qs.map { case (i, v) => (i, v.toSeq) }.toDF("qid", "qvec"), Seq("qid"))
        .select($"qid", $"id", Knn.score(metric, $"vec", $"qvec").as("score"))
      TopK.perGroup(inRange(exact), "qid", "score", asc, k, Seq("id"))
    }
  }

  test("at partial probe the search equals a Spark SQL oracle") {
    withConf("spark.graft.ivf.adaptiveProbe", "false") {
      for ((model, metric) <- Seq("IVFPQ" -> Metric.L2, "IVFPQ" -> Metric.InnerProduct,
             "IVFFLAT" -> Metric.L2, "IVFFLAT" -> Metric.InnerProduct, "IVFFLAT" -> Metric.Cosine,
             "BINARYIVF" -> Metric.Hamming)) {
        val binary = model == "BINARYIVF"
        val built = IndexRegistry.build(model, spark, if (binary) codesLong else docsLong, "id", "vec",
          IndexParams(metric = metric, ncentroids = 8, nprobe = 2, nsubvector = 8, recallNum = 30))
          .asInstanceOf[IvfIndex]
        // qids in batch order, and out of order and repeated: a qid's
        // positions share one heap, so a task can keep a key once per
        // position and each copy must count as the oracle counts it
        val batches = Seq(batch.indices.map(_.toLong), Seq(3L, 1L, 3L, 2L, 1L, 0L, 4L))
          .map(_.zip(if (binary) codeBatch else batch))
        val frame = docsLong.filter($"tag" =!= 2).select("id")
        // the allowed set semi-joined into the probe, or its keys tested on
        // each code row inside the scan (the filtered request path)
        val allowedCases = Seq(
          None,
          Some(AllowedKeys(broadcast(frame), frame.count(), None)),
          Some(AllowedKeys.collect(frame, Long.MaxValue)))
        // has_rank is IVFPQ's; IVFFLAT scores every row exactly
        val hasRanks = if (model == "IVFPQ") Seq(true, false) else Seq(true)
        for (qs <- batches; hasRank <- hasRanks; allowed <- allowedCases) {
          val pq = built.withParams(built.params.copy(hasRank = hasRank)).asInstanceOf[IvfIndex]
          val probedRows = {
            val lists = pq.lists.filter($"centroid_id".isin(qs.flatMap(q => probed(pq, q._2, 2)).distinct: _*))
            allowed.fold(lists)(_ => lists.join(frame, Seq("id"), "left_semi")).count()
          }
          // a lower score bound at query 0's fourth score
          val fourth = ranked(oracle(pq, qs, 10, 2, allowed.map(_ => frame), (None, None)))(0L)
            .map(r => java.lang.Double.longBitsToDouble(r._2)).sorted.apply(3)
          for (range <- Seq((None, None), (Some(fourth), None))) {
            val got = pq.searchHits(qs, 10, None, allowed, range._1, range._2)
            val want = ranked(oracle(pq, qs, 10, 2, allowed.map(_ => frame), range))
            val what = s"$model $metric qids=${qs.map(_._1)} hasRank=$hasRank " +
              s"keys=${allowed.map(_.packed.isDefined)} range=$range"
            assert(ranked(got.toDF(spark)) === want, what)
            assert(want.values.map(_.size).sum > 0, what)
            // job 1 read each allowed code row of the probed lists once
            assert(pq.lastScannedRows === probedRows, what)
          }
        }
      }
    }
  }

  test("codebooks over 256 entries: the store's int codes give the oracle's hits") {
    withConf("spark.graft.ivf.adaptiveProbe", "false") {
      // nbits 9 over 520 rows: 512-entry codebooks, past a byte per code
      val built = IvfPqIndex.build(spark, docsLong, "id", "vec",
        IndexParams(ncentroids = 8, nprobe = 2, nsubvector = 8, nbits = 9, recallNum = 30))
      assert(built.codec.ksub > 256)
      val qs = batch.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      for (hasRank <- Seq(true, false)) {
        val pq = built.withParams(built.params.copy(hasRank = hasRank)).asInstanceOf[IvfPqIndex]
        val got = pq.searchHits(qs, 10, None, None, None, None)
        assert(ranked(got.toDF(spark)) === ranked(oracle(pq, qs, 10, 2, None, (None, None))),
          s"hasRank=$hasRank")
      }
    }
  }

  test("the store's index rows are the clean lists through writes, refresh, compaction and load") {
    // a row takes part in the store's list scan iff its _version is at most
    // the indexer's build version; the lists it replaces are the persisted
    // lists minus every key updated after the build or tombstoned. IVFPQ
    // rows carry (key, centroid, codes), IVFFLAT and BINARYIVF rows (key,
    // centroid).
    for (model <- Seq("IVFPQ", "IVFFLAT", "BINARYIVF")) withConf("spark.graft.ivf.adaptiveProbe", "false") {
      val binary = model == "BINARYIVF"
      val (src, metric, qvecs) =
        if (binary) (codesLong, Metric.Hamming, codeBatch) else (docsLong, Metric.L2, batch)
      val root = tmp()
      var t = GammaTable.create(spark, root, "pqv", "id", src,
        Seq(VectorFieldDef("vec", if (binary) 128 else 64, metric.toString, model)), nBuckets = 4)
      t.buildIndex("vec", IndexParams(metric = metric, ncentroids = Ncent, nprobe = 2, nsubvector = 8,
        recallNum = 30), persist = true, retrievalType = model)
      val qs = qvecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      def check(step0: String): Unit = {
        val step = s"$model: $step0"
        val ix = t.attachedIndex("vec").get
        val built = ix.indexedThroughVersion
        // bound as the request path binds it: the current table's store,
        // rows through the build version
        val pq = ix.currentIndex.get.asInstanceOf[IvfIndex]
        assert(pq.indexedThrough === built, step)
        val store = t.vectorStore("vec", Some(pq.codec))
        assert(pq.vectors eq store, step)
        val (m, ncent) = (pq.codec.m, pq.centers.length)
        val stored = store.run { b =>
          (0 until ncent).flatMap { c =>
            b.list(c).map(p => (b.listRow(p), p)).collect { case (row, p) if b.indexed(row, built) =>
              (b.key(row).asInstanceOf[java.lang.Long].longValue, c, (0 until m).map(b.code(p, _)))
            }
          }.toArray
        }.flatten
        val invalid = t.allDocs.filter($"_version" > built || $"_deleted").select("id")
        val clean = pq.lists.join(invalid, Seq("id"), "left_anti")
        val codes = if (m > 0) $"pq_codes" else typedLit(Seq.empty[Int])
        val want = clean.select($"id", $"centroid_id".cast("int"), codes).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSeq
        assert(stored.sortBy(_._1) === want.sortBy(_._1), step)
        val allowed = t.docs.filter($"tag" =!= 2).select("id")
        for (a <- Seq(None, Some(AllowedKeys.collect(allowed, Long.MaxValue)))) {
          val got = pq.searchHits(qs, 10, None, a, None, None)
          val oracleRows = ranked(oracle(pq, qs, 10, 2, a.map(_ => allowed), (None, None),
            Some(clean), t.docs))
          assert(ranked(got.toDF(spark)) === oracleRows, s"$step, allowed keys ${a.isDefined}")
          assert(oracleRows.values.map(_.size).sum === 10 * oracleRows.size, step)
        }
      }
      check("build")
      val moved = if (binary) typedLit(BinaryIvfIndex.floatsToBytes(codeBatch(1))) else typedLit(batch(1).toSeq)
      t.addOrUpdate(src.filter($"id".between(100, 109)).withColumn("vec", moved))
      check("an upsert that changes vectors")
      t.addOrUpdate(src.filter($"id".between(200, 209)).select($"id", ($"tag" + 1).as("tag")))
      check("an upsert that changes only a scalar")
      t.delete(src.filter($"id" % 2 === 0 && $"id" < 400).select("id"))
      check("delete")
      t.attachedIndex("vec").get.refresh()
      check("refresh")
      assert(t.compactIfNeeded(0.3).nonEmpty)
      check("compactIfNeeded")
      t = GammaTable.load(spark, root)
      check("load")
    }
  }

  test("whole-qid chunks of a batch give the hits of one chunk") {
    val pq = IvfPqIndex.build(spark, docsLong, "id", "vec",
      IndexParams(ncentroids = 8, nprobe = 2, nsubvector = 8, recallNum = 30))
    // qids out of order and repeated: a qid's positions share one heap
    val qids = Seq(3L, 1L, 3L, 2L, 1L, 0L, 4L)
    val qs = qids.zip(batch)
    val chunks = IvfIndex.qidChunks(qs, 30, 60)
    assert(chunks.map(_.map(_._1).distinct) === Seq(Seq(0L), Seq(1L), Seq(2L), Seq(3L), Seq(4L)))
    assert(chunks.flatten.map(_._2).toSet === qs.map(_._2).toSet)
    assert(chunks.flatten.size === qs.size)
    assert(IvfIndex.qidChunks(qs, 30, 120).map(_.map(_._1).distinct) ===
      Seq(Seq(0L, 1L, 2L), Seq(3L, 4L)))
    assert(IvfIndex.qidChunks(qs, 30, 30 * qs.size) === Seq(qs))
    for (bound <- Seq(60L, 120L)) {
      val chunked = IvfIndex.qidChunks(qs, 30, bound)
        .map(pq.searchHits(_, 10, None, None, None, None)).reduce(_ ++ _)
      assert(chunked === pq.searchHits(qs, 10, None, None, None, None), s"bound $bound")
    }
    assert(pq.searchHits(qs, 10, None, None, None, None).rows.map(_.qid).distinct ===
      Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("a batch over the candidate bound runs in chunks and stays exact") {
    // 7 queries x recall_num 10^6 candidates exceed the bound: two chunks;
    // a full probe re-ranking every doc is exact
    val t = table(Metric.L2, stringKeys = false)
    val vq = VecQuery("vec", vectors = batch, nprobe = Some(Ncent), recallNum = Some(1000000))
    assert(IvfIndex.qidChunks(vq.batch, 1000000, IvfIndex.MaxBroadcastCandidates).size === 2)
    val got = t.search(SearchRequest(topn = 10, vecQueries = Seq(vq)))
    val want = Knn.flatSearch(t.docs, "id", "vec", queryFrame(vq), "qid", "qvec", 10, Metric.L2)
    assert(ranked(got) === ranked(want))
    // the exact fallback over collected keys chunks nq x k the same way
    val allowed = t.docs.filter($"tag" =!= 2).select("id")
    val every = ExactRerank.allowedOnly(t.vectorStore("vec"), vq.batch, 1000000, Metric.L2,
      AllowedKeys.collect(allowed, Long.MaxValue), (None, None))
      .getOrElse(fail("the store did not serve the fallback"))
    assert(ranked(every.toDF(spark)) === ranked(Knn.flatSearch(t.docs.filter($"tag" =!= 2), "id",
      "vec", queryFrame(vq), "qid", "qvec", 1000000, Metric.L2)))
  }

  test("an IVFPQ build over an id type other than Long, Int or String fails by name") {
    val e = intercept[IllegalArgumentException] {
      IvfPqIndex.build(spark, docsLong.withColumn("id", $"id".cast("double")), "id", "vec",
        IndexParams(ncentroids = 4, nsubvector = 8))
    }
    assert(e.getMessage.contains("IVFPQ needs Long, Int or String ids"), e.getMessage)
    assert(e.getMessage.contains("double ids"), e.getMessage)
  }

  test("widened-probe tier: collected keys tested in the scan equal the semi-joined frame") {
    for (metric <- Seq(Metric.L2, Metric.InnerProduct); stringKeys <- Seq(false, true)) {
      val t = table(metric, stringKeys)
      val ix = t.attachedIndex("vec").get
      val frame = t.docs.filter($"tag" =!= 2).select("id")
      val qs = batch.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      // nprobe 1, widened by the inverse selectivity to 2 of 4 lists
      withConf("spark.graft.filter.exactFallbackRows", "0") {
        def hits(a: AllowedKeys) = ix.searchHits(qs, 10, Some(1), Some(a)).toDF(spark)
        val viaKeys = hits(AllowedKeys.collect(frame, Long.MaxValue))
        val viaFrame = hits(AllowedKeys(broadcast(frame), frame.count(), None))
        assert(ranked(viaKeys) === ranked(viaFrame), s"$metric stringKeys=$stringKeys")
        assert(ranked(viaKeys).values.map(_.size).sum === 10 * qs.size)
      }
    }
  }

  test("churned buckets: stale entries excluded and the unindexed tail merged on the driver") {
    val t = GammaTable.create(spark, tmp(), "pqc", "id", docsLong,
      Seq(VectorFieldDef("vec", 64, "L2", "IVFPQ")), nBuckets = 4)
    t.buildIndex("vec", IndexParams(ncentroids = Ncent, nsubvector = 8, recallNum = 1000),
      persist = true, retrievalType = "IVFPQ")
    // move ten docs onto the first query vector (index entries now stale,
    // the new rows unindexed) and add five fresh copies of it
    val q = batch.head
    val moved = docsLong.filter($"id".between(100, 109))
      .withColumn("vec", typedLit(q.toSeq))
    val fresh = (0 until 5).map(i => (5000L + i, q.toSeq, 0L)).toDF("id", "vec", "tag")
    t.addOrUpdate(moved.unionByName(fresh))
    val vq = VecQuery("vec", vectors = batch, nprobe = Some(Ncent))
    val got = t.search(SearchRequest(topn = 20, vecQueries = Seq(vq)))
    val want = Knn.flatSearch(t.docs, "id", "vec", queryFrame(vq), "qid", "qvec", 20, Metric.L2)
    assert(ranked(got) === ranked(want))
    val planted: Set[Any] = ((100L to 109L) ++ (5000L to 5004L)).toSet
    assert(ranked(got)(0L).count(r => planted(r._1)) === 15)
  }
}
