package graft

import org.apache.spark.sql.functions._

import graft.core.Metric
import graft.index.{IndexParams, Ivf, IvfFlatIndex, IvfPqIndex}
import graft.operators.Knn
import graft.streaming.IncrementalIndexer
import graft.table.GammaTable

/** Adaptive probe widening (the reference scans lists until `recall_num`
  * candidates are collected, gamma_index_ivfpq.h:633-690 — re-expressed as
  * a probe-time decision over per-list size stats) and the cost-based
  * exact-fallback bound.
  */
class AdaptiveProbeSpec extends GraftSuite {
  import spark.implicits._

  // --- extendByTarget (pure) ---

  private val ranked = IndexedSeq(2, 0, 3, 1) // nearest-first centroid ids

  test("extendByTarget without sizes or target is fixed nprobe") {
    assert(Ivf.extendByTarget(ranked, None, 2, 100L) === Seq(2, 0))
    assert(Ivf.extendByTarget(ranked, Some(Array(5L, 5L, 5L, 5L)), 2, 0L) === Seq(2, 0))
  }

  test("extendByTarget widens nearest-first until the row target is covered") {
    // list sizes by centroid id: 2->1, 0->1, 3->50, 1->100
    val sizes = Array(1L, 100L, 1L, 50L)
    // nprobe floor 1, target 5: cum after [2]=1, [2,0]=2, [2,0,3]=52 >= 5
    assert(Ivf.extendByTarget(ranked, Some(sizes), 1, 5L) === Seq(2, 0, 3))
    // the floor always probes, even when the first list already covers it
    assert(Ivf.extendByTarget(ranked, Some(sizes), 3, 1L) === Seq(2, 0, 3))
    // an unreachable target probes everything and stops
    assert(Ivf.extendByTarget(ranked, Some(sizes), 1, 1000L) === Seq(2, 0, 3, 1))
  }

  test("probeTarget scales with the caller's nprobe widening") {
    assert(Ivf.probeTarget(k = 10, recallNum = 100, effNprobe = 80, baseNprobe = 80) === 100L)
    assert(Ivf.probeTarget(k = 200, recallNum = 100, effNprobe = 80, baseNprobe = 80) === 200L)
    // filtered path widened nprobe 4x -> row target widens 4x too
    assert(Ivf.probeTarget(k = 10, recallNum = 100, effNprobe = 320, baseNprobe = 80) === 400L)
  }

  // --- HNSW per-segment adaptive ef (pure formula + end-to-end) ---

  test("segmentEf scales with segment share, floored at k, capped at ef") {
    import graft.index.HnswIndex.segmentEf
    // balanced segment: unchanged
    assert(segmentEf(ef = 64, k = 10, nodes = 1000, avgNodes = 1000.0) === 64)
    // oversized segment: capped at the requested ef
    assert(segmentEf(ef = 64, k = 10, nodes = 5000, avgNodes = 1000.0) === 64)
    // tenth-of-average segment: beam shrinks proportionally (ceil)
    assert(segmentEf(ef = 64, k = 10, nodes = 100, avgNodes = 1000.0) === 10)
    assert(segmentEf(ef = 64, k = 3, nodes = 250, avgNodes = 1000.0) === 16)
    // floor at k regardless of how small the segment is
    assert(segmentEf(ef = 64, k = 10, nodes = 1, avgNodes = 1000.0) === 10)
    // degenerate stats disable scaling
    assert(segmentEf(ef = 64, k = 10, nodes = 100, avgNodes = 0.0) === 64)
    // regression: ef*nodes must not overflow Int — a 5M-node segment at
    // ef=512 is ABOVE average and must keep the full beam, not collapse to k
    assert(segmentEf(ef = 512, k = 10, nodes = 5000000, avgNodes = 4000000.0) === 512)
  }

  test("adaptive ef at the k floor stays exact on small (fully linked) segments") {
    // 410 rows over defaultParallelism partitions -> every segment is far
    // below maxM0, hence fully connected at level 0: the walk is
    // exhaustive at ANY beam, so forcing the adaptive floor (avg >> n_i
    // => ef_seg == k) must return bit-identical results to the fixed ef —
    // the floor guarantee the formula documents.
    val docs = ((0 until 400).map(i => (i.toLong, Seq(i.toFloat / 100f, 0f))) ++
      (1000 until 1010).map(i => (i.toLong, Seq(10f + (i - 1000).toFloat / 100f, 5f))))
      .toDF("vec_id", "embedding")
    val params = graft.index.IndexParams(metric = Metric.L2)
    val idx = graft.index.HnswIndex.build(spark, docs, "vec_id", "embedding", params)
    val queries = Seq((0L, Array(10.1f, 5.0f)), (1L, Array(0.5f, 0.0f)))
    def run(ix: graft.index.HnswIndex) =
      ix.search(queries, 5, None, None, None, None)
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    val fixed = run(idx)
    val floored = run(idx.withSegmentAvg(Some(1e12)))
    assert(floored === fixed)
    assert(fixed.map(_._1).distinct.sorted === Seq(0L, 1L))
  }

  // --- end-to-end over skewed lists ---

  /** Two well-separated clusters: a TINY one around the query and a large
    * far one, so a fixed nprobe=1 starves the heap on the tiny list.
    */
  private def skewed(): (Seq[(Long, Seq[Float])], Seq[(Long, Array[Float])]) = {
    val tiny = (0 until 2).map(i => (i.toLong, Seq(0.0f + i * 0.01f, 0.0f)))
    val big = (0 until 40).map(i => (100L + i, Seq(10.0f + i * 0.01f, 10.0f)))
    val queries = Seq((0L, Array(0.0f, 0.0f)))
    (tiny ++ big, queries)
  }

  test("adaptive probes recover k results where fixed nprobe starves") {
    val (rows, queries) = skewed()
    val docs = rows.toDF("vec_id", "embedding")
    val idx = IvfFlatIndex.build(spark, docs, "vec_id", "embedding",
      IndexParams(ncentroids = 2, nprobe = 1, recallNum = 5, trainSampleRows = 1000))
    val sizes = {
      val arr = new Array[Long](2)
      idx.lists.groupBy("centroid_id").count().as[(Int, Long)].collect()
        .foreach { case (c, n) => arr(c) = n }
      arr
    }
    // without stats: the single nearest (tiny) list yields only 2 rows
    assert(idx.search(queries, k = 5, nprobe = Some(1)).count() === 2L)
    // with stats: widened to the far list until >= max(k, recallNum) rows
    val adaptive = idx.withListSizes(Some(sizes)).search(queries, k = 5, nprobe = Some(1))
    assert(adaptive.count() === 5L)
    // and the widened result IS the exact answer
    val q = queries.map { case (i, v) => (i, v.toSeq) }.toDF("qid", "qvec")
    val exact = Knn.flatSearch(docs, "vec_id", "embedding", q, "qid", "qvec", 5, Metric.L2)
    assert(adaptive.select($"id").as[Long].collect().toSet ===
      exact.select($"id").as[Long].collect().toSet)
  }

  test("adaptive widening can be disabled by conf") {
    val (rows, queries) = skewed()
    val docs = rows.toDF("vec_id", "embedding")
    val idx = IvfFlatIndex.build(spark, docs, "vec_id", "embedding",
      IndexParams(ncentroids = 2, nprobe = 1, recallNum = 5, trainSampleRows = 1000))
      .withListSizes(Some(Array(2L, 40L)))
    spark.conf.set("spark.graft.ivf.adaptiveProbe", "false")
    try assert(idx.search(queries, k = 5, nprobe = Some(1)).count() === 2L)
    finally spark.conf.unset("spark.graft.ivf.adaptiveProbe")
  }

  test("indexer caches per-list stats and serves adaptive probes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-adaptive").toString
    val (rows, queries) = skewed()
    val docs = rows.toDF("_id", "vec")
    val t = GammaTable.create(spark, dir, "adaptive_t", "_id", docs, nBuckets = 2)
    val ix = new IncrementalIndexer(t, "vec",
      IndexParams(ncentroids = 2, nprobe = 1, recallNum = 5, trainSampleRows = 1000),
      indexingSize = 0)
    ix.refresh()
    // the indexer attaches cached list sizes -> nprobe=1 still finds the
    // exact top-5 across both lists
    val got = ix.search(queries, 5, Some(1)).select($"id").as[Long].collect().toSet
    val q = queries.map { case (i, v) => (i, v.toSeq) }.toDF("qid", "qvec")
    val exact = Knn.flatSearch(t.docs, "_id", "vec", q, "qid", "qvec", 5, Metric.L2)
      .select($"id").as[Long].collect().toSet
    assert(got === exact)
  }

  test("filter widening holds when the request nprobe is below the default") {
    // three well-separated collinear clusters: tiny near (2), mid (6),
    // far big (40) — ranked probe order is tiny, mid, big for a query at
    // the tiny cluster's center
    val dir = java.nio.file.Files.createTempDirectory("graft-widen").toString
    def clustered(base: Float, n: Int, from: Long) =
      (0 until n).map(i => (from + i, Seq(base + i * 0.01f, 0.0f, 0.0f, 0.0f)))
    val rows = clustered(0f, 2, 0L) ++ clustered(10f, 6, 2L) ++ clustered(20f, 40, 8L)
    val docs = rows.toDF("_id", "vec")
    val t = GammaTable.create(spark, dir, "widen_t", "_id", docs, nBuckets = 2)
    // configured default nprobe=4; the REQUEST overrides it DOWN to 1
    val ix = new IncrementalIndexer(t, "vec",
      IndexParams(ncentroids = 3, nprobe = 4, recallNum = 5, trainSampleRows = 1000),
      indexingSize = 0)
    ix.refresh()
    // filter allows only the far big list: selectivity 40/48 -> the probe
    // budget widens 2x (effNprobe = 1*2) and the ROW target must widen
    // with it — measured against the configured default (the old bug) the
    // ratio floored to 1, the target stayed at recallNum, the widened
    // probe stopped at the mid list, and zero allowed candidates survived
    val allowed = (8L until 48L).toDF("_id")
    val queries = Seq((0L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
    spark.conf.set("spark.graft.filter.exactFallbackRows", "0")
    try {
      val got = ix.search(queries, 5, Some(1), Some(allowed))
        .select($"id").as[Long].collect().toSet
      // the model's probeTarget must widen against the REQUEST base (1),
      // not the configured default (4) — deterministic regardless of how
      // k-means realized the clusters (the functional assertions below
      // can be insensitive when the big cluster splits)
      assert(ix.lastProbeBase === 1)
      assert(got.size === 5)
      assert(got.subsetOf((8L until 48L).toSet))
      // and they are the exact filtered top-5
      val q = queries.map { case (i, v) => (i, v.toSeq) }.toDF("qid", "qvec")
      val exact = Knn.flatSearch(t.docs.join(allowed, Seq("_id"), "left_semi"),
        "_id", "vec", q, "qid", "qvec", 5, Metric.L2)
        .select($"id").as[Long].collect().toSet
      assert(got === exact)
    } finally spark.conf.unset("spark.graft.filter.exactFallbackRows")
  }

  // --- cost-based exact-fallback bound ---

  test("probeCostRows estimates the filtered probe volume") {
    val docs = (0 until 64).map(i => (i.toLong, Seq(i.toFloat, 0.0f))).toDF("vec_id", "embedding")
    val flat = IvfFlatIndex.build(spark, docs, "vec_id", "embedding",
      IndexParams(ncentroids = 4, nprobe = 1))
    // unfiltered (aCount <= 0): the volume model does not apply
    assert(IncrementalIndexer.probeCostRows(flat, 1000L, -1L, None) === 0L)
    // aCount 500 of 1000 -> factor 2, eff = min(1*2, 4) = 2, rows = 1000*2/4
    assert(IncrementalIndexer.probeCostRows(flat, 1000L, 500L, None) === 500L)
    // explicit nprobe override wins over params
    assert(IncrementalIndexer.probeCostRows(flat, 1000L, 500L, Some(2)) === 1000L)
    // compressed-code models read ~4x cheaper rows
    val pq = IvfPqIndex.build(spark, docs, "vec_id", "embedding",
      IndexParams(ncentroids = 4, nprobe = 1, nsubvector = 2, nbits = 4))
    assert(IncrementalIndexer.probeCostRows(pq, 1000L, 500L, None) === 125L)
  }

  test("probeCostRows with actual list sizes sums the largest probed lists") {
    val docs = (0 until 64).map(i => (i.toLong, Seq(i.toFloat, 0.0f))).toDF("vec_id", "embedding")
    val flat = IvfFlatIndex.build(spark, docs, "vec_id", "embedding",
      IndexParams(ncentroids = 4, nprobe = 1))
    // skewed lists: uniform model says 1000*2/4 = 500 rows for eff=2, but
    // the two HEAVIEST lists hold 900 — the stats-based bound reports 900
    val sizes = Some(Array(700L, 200L, 60L, 40L))
    assert(IncrementalIndexer.probeCostRows(flat, 1000L, 500L, None, sizes) === 900L)
    // eff capped at ncent: all four lists
    assert(IncrementalIndexer.probeCostRows(flat, 1000L, 1L, None, sizes) === 1000L)
    // unfiltered stays out of the volume model even with stats
    assert(IncrementalIndexer.probeCostRows(flat, 1000L, -1L, None, sizes) === 0L)
  }

  test("probeCostRows calibration scales the uniform model, not the stats branch") {
    val docs = (0 until 64).map(i => (i.toLong, Seq(i.toFloat, 0.0f))).toDF("vec_id", "embedding")
    val flat = IvfFlatIndex.build(spark, docs, "vec_id", "embedding",
      IndexParams(ncentroids = 4, nprobe = 1))
    // uniform branch: 1000*2/4 = 500 rows, x1.5 calibration = 750
    assert(IncrementalIndexer.probeCostRows(flat, 1000L, 500L, None,
      calibration = 1.5) === 750L)
    // actual-size branch is measured data already — calibration must not touch it
    val sizes = Some(Array(700L, 200L, 60L, 40L))
    assert(IncrementalIndexer.probeCostRows(flat, 1000L, 500L, None, sizes, 1.5) === 900L)
  }

  test("probe-cost feedback: measured scan converges the bound on skewed lists") {
    // skewed corpus: tiny cluster at the query, heavy mass far away — the
    // uniform model overpredicts the scan for query-side probes
    val rows = (0 until 20).map(i => (i.toString, Seq(0f + i * 0.01f, 0f))) ++
      (100 until 420).map(i => (i.toString, Seq(10f + (i % 7) * 0.1f, 10f + (i % 5) * 0.1f)))
    val docs = rows.toDF("_id", "vec")
    val root = java.nio.file.Files.createTempDirectory("graft_feedback").toString
    val tbl = GammaTable.create(spark, root, "fb", "_id", docs,
      Seq(graft.table.VectorFieldDef("vec", 2)), nBuckets = 4)
    val ix = tbl.buildIndex("vec",
      IndexParams(ncentroids = 4, nsubvector = 2, nprobe = 2, recallNum = 10),
      retrievalType = "IVFPQ")
    assert(ix.rowCalibration === 1.0)
    val q = Seq((0L, Array(0f, 0f)))
    // an unfiltered partial probe folds its own scan into the EWMA
    ix.search(q, 5, Some(2))
    val measured = ix.lastMeasuredScanRows
    assert(measured > 0, "accumulator did not record the scan")
    val total = tbl.meta.maxDocid
    val predicted = IncrementalIndexer.uniformProbeRows(4, total, 2L)
    assert(predicted === total / 2)
    // skew: the query-side probes read far fewer rows than the uniform model
    assert(measured < predicted,
      s"expected skewed scan ($measured) below uniform prediction ($predicted)")
    val r = measured.toDouble / predicted
    assert(math.abs(ix.rowCalibration - (0.5 + 0.5 * r)) < 1e-9,
      s"rowCalibration ${ix.rowCalibration} after one search, expected ${0.5 + 0.5 * r}")
    // the same probe again: the EWMA moves halfway toward r once more
    ix.search(q, 5, Some(2))
    assert(ix.lastMeasuredScanRows === measured)
    assert(math.abs(ix.rowCalibration - (0.25 + 0.75 * r)) < 1e-9,
      s"rowCalibration ${ix.rowCalibration} after two searches, expected ${0.25 + 0.75 * r}")
    assert(ix.rowCalibration < 1.0)
  }
}
