package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{GraftSession, Metric, RangeFilter, Tables, TermFilter, TermMode}
import graft.operators.{Filters, Knn, TopK}
import graft.table.Crud

/** Feed row for the streaming-dedup gate query (MemoryStream needs a
  * top-level product type for its encoder).
  */
case class StreamTextDoc(doc_id: Long, text: String)
case class StreamKeyed(grp: String, key: Long)

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB oracle in `oracleSql`.
  *
  * Conventions keeping Spark and DuckDB hash-comparable:
  *  - every computed column is aliased identically on both sides;
  *  - float32 vectors are cast to double before arithmetic on both sides,
  *    and both engines accumulate sequentially → results agree to << 1e-6;
  *    computed scores are rounded to 6 decimals (money to 2);
  *  - ties in any top-k are broken by an id column on both sides.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Hamming block count for q_media_neardup — an LSH operating point the
    * scale sweeps widen as the corpus grows (see the gate's comment).
    * Read once so the gate AND its interpolated oracle agree within one
    * Verify run.
    */
  private val mediaNearDupBlocks: Int =
    sys.env.get("GRAFT_MEDIA_NEARDUP_BLOCKS").map(_.toInt).getOrElse(4)

  /** Fixed budget for modulo-derived query sets (bm25/bm25f/phrase/
    * proximity/hybrid/mmr gates): the first 64 qualifying ids, in id
    * order. Without the cap the query COUNT grows with the corpus
    * (doc_id % k qualifies 1000× more ids on a 1000× replica), coupling
    * gate cost quadratically to scale — 51k queries OOM'd a 90 GB heap
    * at 1000× in round 8 while the operator itself was fine. A real
    * workload's query set does not grow with the corpus; neither should
    * the gate's. No-op at the driver SFs (≤52 qualifying ids at sf0.1).
    */
  private val QueryBudget = 64

  /** Query vectors for KNN oracles: first 8 embeddings. */
  private def knnQueries(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .filter(col("qid") < 8)

  /** Same query batch collected driver-side (the AnnIndex request shape). */
  private def collectQueries(s: SparkSession, dir: String): Seq[(Long, Array[Float])] = {
    import s.implicits._
    knnQueries(s, dir).as[(Long, Array[Float])].collect().toSeq
  }

  /** Run `f` with `spark.sql.shuffle.partitions` = n, restoring after.
    * Structured-streaming state partitioning = shuffle partitions at query
    * start, so the stream gates size their state stores to the gate's
    * microbatch load (a real deployment tunes this per query; 32 state
    * partitions × 5 batches of ~1k docs is pure per-store overhead).
    */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(f: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** A REAL file-source stream over `df`, replayed as `nSlices` id-ranged
    * microbatches: each slice writes as one parquet file (a distributed
    * job — no driver-side collect, unlike the MemoryStream TEST FEED this
    * replaced, which capped the stream gates at driver memory and forced
    * the ≥100x oracle sweeps to skip them), with strictly increasing
    * modification times so the file source — which orders pending files
    * by modTime — replays slices in id order. Id-ordered replay is what
    * makes the min-id-keeper oracle exact for the first-seen dedup gate;
    * the other stream gates are arrival-order independent and just get
    * the production ingest shape.
    */
  private[graft] def sliceStream(
      s: SparkSession, df: DataFrame, idCol: String,
      nSlices: Int): DataFrame = graft.core.PrepClock.time {
    // PrepClock: slice writes are stream-INGEST fixture cost, not the
    // operator under test — Verify/Bench report this segment separately
    // so the committed stream timings decompose (r9/r10 verdict ask).
    val root = java.nio.file.Files.createTempDirectory("graft_stream_src")
    val bounds = df.agg(min(col(idCol)), max(col(idCol))).head()
    val (lo, n) = (bounds.getLong(0), bounds.getLong(1) + 1)
    val step = math.max(1L, (n - lo + nSlices - 1) / nSlices)
    val base = System.currentTimeMillis() - nSlices * 60000L
    // ONE source pass writes every slice (was one filtered pass per slice —
    // nSlices full scans of the source table per stream gate): the slice id
    // is the same contiguous-range arithmetic as the old per-slice filters
    // (integral `div`, so membership is bit-identical), partitionBy splits
    // the dirs, and the explicit repartition keeps ~one file per slice.
    // Intra-slice row order changes (shuffle vs pipelined filter) — every
    // stream gate is intra-batch order independent by contract (min-id /
    // distinct.sorted / max-rho / last-wins-by-_seq / superset+recount).
    df.withColumn("__slice",
        expr(s"(`$idCol` - ${lo}L) div ${step}L").cast("int"))
      .repartition(nSlices, col("__slice"))
      .write.mode("overwrite").partitionBy("__slice").parquet(s"$root/all")
    val rootPath = new org.apache.hadoop.fs.Path(root.toString)
    val fs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    (0 until nSlices).foreach { i =>
      val src = new org.apache.hadoop.fs.Path(s"$root/all/__slice=$i")
      val dir = s"$root/slice$i"
      if (fs.exists(src)) {
        if (!fs.rename(src, new org.apache.hadoop.fs.Path(dir)))
          throw new java.io.IOException(s"rename $src -> $dir failed")
      } else {
        // an id range with no rows still gets a slice dir with one
        // schema-only parquet file, so the microbatch count matches the
        // old per-slice writer (one extra empty batch), instead of the
        // slice silently disappearing (r14 verdict #5)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            df.schema)
          .coalesce(1).write.mode("overwrite").parquet(dir)
      }
      val ft = java.nio.file.attribute.FileTime.fromMillis(base + i * 60000L)
      java.nio.file.Files.list(java.nio.file.Paths.get(dir)).forEach { p =>
        java.nio.file.Files.setLastModifiedTime(p, ft)
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/all"), true)
    s.readStream.schema(df.schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$root/slice*")
  }

  /** Run a streaming query to a memory sink, draining every file already
    * present (Trigger.AvailableNow honors maxFilesPerTrigger per batch),
    * and return the sink table.
    */
  private def runToMemorySink(
      s: SparkSession, out: DataFrame, sinkPrefix: String,
      mode: String): DataFrame = {
    val sink = s"${sinkPrefix}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = out.writeStream.format("memory").queryName(sink).outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(sink)
  }

  /** Flagship query on sf=0.001: filtered exact KNN — the minimum
    * end-to-end slice of SURVEY.md §7.3.
    */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.prepare(spark)
    val dir = "/root/testdata/sf0.001"
    Knn.flatSearch(
      t(spark, dir, "embeddings"), "vec_id", "embedding",
      knnQueries(spark, dir), "qid", "qvec",
      k = 10, metric = Metric.L2)
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A7/A2 — group-by aggregation (gamma has only count-style aggs; this is
    // the built-in coverage entry).
    // money/ratio outputs in exact integer cents / micro-units: a double
    // sum over 600M rows drifted ~1e-13 relative between Spark and DuckDB
    // at the 1000x replica (addition order), and round(x,2) is itself
    // lossy past 2^53/100. Per-row cents recover exactly (prices are 0.01
    // multiples, product error << 0.5), and long sums are order-free.
    // sum_qty stays a double sum: quantities are small integers, so the
    // sum is exactly representable at any order.
    "q_agg_group" -> ((s, dir) => {
      val a = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("cnt"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
          sum(round(col("l_discount") * 100).cast("long")).as("__dc"))
      val num = col("__dc") * 10000
      a.withColumn("avg_disc_micro",
          ((num - pmod(num, col("cnt"))) / col("cnt")).cast("long"))
        .drop("__dc")
    }),

    // S5/P2 — full scan + numeric range filter with inclusive bounds.
    "q_scan_range" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs
        .filter(Filters.range(RangeFilter("n_chars", Some(100), Some(300))))
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // P2 — range filter, exclusive bound variant + date range.
    "q_filter_range" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(
          Filters.range(RangeFilter("l_quantity", Some(10), Some(20), includeUpper = false)) &&
            col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),

    // P3 — term filter, union mode over tokenized string.
    "q_term_union" -> ((s, dir) => {
      val p = t(s, dir, "part").withColumn("tokens", split(col("p_name"), " "))
      p.filter(Filters.term(TermFilter("tokens", Seq("red", "blue")), p))
        .select(col("p_partkey"), col("p_name"))
    }),

    // P4 — term filter, all-of mode.
    "q_term_all" -> ((s, dir) => {
      val p = t(s, dir, "part").withColumn("tokens", split(col("p_name"), " "))
      p.filter(Filters.term(TermFilter("tokens", Seq("small", "ring"), TermMode.All), p))
        .select(col("p_partkey"), col("p_name"))
    }),

    // P5/U3 — term filter, NOT-IN (complement) mode.
    "q_term_notin" -> ((s, dir) => {
      val p = t(s, dir, "part").withColumn("tokens", split(col("p_name"), " "))
      p.filter(Filters.term(TermFilter("tokens", Seq("green", "hot"), TermMode.NotIn), p))
        .select(col("p_partkey"), col("p_name"))
    }),

    // P6/U1/U2 — conjunction/disjunction/complement of predicates.
    "q_setops_pred" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(
          (col("l_quantity") < 5 || col("l_quantity") > 45) &&
            !(col("l_returnflag") === "A"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"))
    }),

    // S3 — point lookup by key.
    "q_point_lookup" -> ((s, dir) => {
      t(s, dir, "part").filter(col("p_partkey") === 100)
    }),

    // A2 — count of matches for a filter conjunction.
    "q_count_filter" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 100000)
        .agg(count(lit(1)).as("cnt"))
    }),

    // J3 — broadcast hash join + aggregation.
    "q_join_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      // exact-integer cents (r10): the double sum drifted 0.01 in 1.47e12
      // at the 600M-row decade (addition order across engines) — same
      // class and same fix as q_agg_group's r9 find.
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("price_cents"))
    }),

    // J2/J3 — semi join (EXISTS).
    "q_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 200000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),

    // U3/J3 — anti join (NOT EXISTS).
    "q_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    // A1/O1/O4 — global top-k (ORDER BY ... LIMIT k → TakeOrdered).
    "q_topk_global" -> ((s, dir) => {
      TopK.global(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        "o_totalprice", ascending = false, k = 100, tieBreak = Seq("o_orderkey"))
    }),

    // P9/A1 — per-group best row (window dedup).
    "q_window_dedup" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_extendedprice").desc, col("l_linenumber").asc)
      li.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    }),

    // V1/F1/A1 — exact KNN, L2 metric.
    "q_knn_l2" -> ((s, dir) => {
      GraftSession.prepare(s)
      Knn.flatSearch(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        knnQueries(s, dir), "qid", "qvec", k = 10, metric = Metric.L2)
        .select(col("qid"), col("id"), round(col("score"), 6).as("score"))
    }),

    // V1/F2/O1 — exact KNN, inner-product metric (descending).
    "q_knn_ip" -> ((s, dir) => {
      GraftSession.prepare(s)
      Knn.flatSearch(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        knnQueries(s, dir), "qid", "qvec", k = 10, metric = Metric.InnerProduct)
        .select(col("qid"), col("id"), round(col("score"), 6).as("score"))
    }),

    // F2 variant — cosine similarity KNN.
    "q_knn_cosine" -> ((s, dir) => {
      GraftSession.prepare(s)
      Knn.flatSearch(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        knnQueries(s, dir), "qid", "qvec", k = 10, metric = Metric.Cosine)
        .select(col("qid"), col("id"), round(col("score"), 6).as("score"))
    }),

    // P2+V1 — filtered KNN (scalar filter pushed before the scan, the
    // reference's filter-then-search path, search/gamma_engine.cc:359-372).
    "q_knn_filtered" -> ((s, dir) => {
      GraftSession.prepare(s)
      Knn.flatSearch(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        knnQueries(s, dir), "qid", "qvec", k = 10, metric = Metric.L2,
        filter = Some(col("label").isin(1, 3, 5, 7)))
        .select(col("qid"), col("id"), round(col("score"), 6).as("score"))
    }),

    // P8 — score-range predicate applied before ranking (reference
    // min_score/max_score, common/gamma_common_data.h:95-97).
    "q_knn_scorerange" -> ((s, dir) => {
      GraftSession.prepare(s)
      Knn.flatSearch(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        knnQueries(s, dir), "qid", "qvec", k = 10, metric = Metric.L2,
        minScore = Some(2.0), maxScore = Some(8.0))
        .select(col("qid"), col("id"), round(col("score"), 6).as("score"))
    }),

    // F3/V6 — Hamming-distance KNN over packed binary codes (the BINARYIVF
    // metric); codes derived deterministically as md5(text) bytes.
    "q_knn_hamming" -> ((s, dir) => {
      GraftSession.prepare(s)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), unhex(md5(col("text"))).as("code"))
      val q = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("qid"), col("code").as("qcode"))
      val scored = docs.crossJoin(broadcast(q)).select(
        col("qid"), col("doc_id").as("id"),
        graft.functions.hamming(col("code"), col("qcode")).as("hdist"))
      graft.operators.TopK.perGroup(scored, "qid", "hdist",
        ascending = true, k = 10, tieBreak = Seq("id"))
    }),

    // O6 — l2_sqrt response transform.
    "q_knn_l2sqrt" -> ((s, dir) => {
      GraftSession.prepare(s)
      Knn.flatSearch(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        knnQueries(s, dir), "qid", "qvec", k = 10, metric = Metric.L2,
        l2Sqrt = true)
        .select(col("qid"), col("id"), round(col("score"), 6).as("score"))
    }),

    // J1/A4/O2 — multi-vector merge: two vector queries intersected on id,
    // boosted score sum, re-ranked (vector/vector_manager.cc:501-576).
    "q_vec_fusion" -> ((s, dir) => {
      GraftSession.prepare(s)
      val emb = t(s, dir, "embeddings")
      val qa = emb.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        .filter(col("qid") === 0)
      val qb = emb.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        .filter(col("qid") === 1)
      val ra = Knn.flatSearch(emb, "vec_id", "embedding", qa, "qid", "qvec",
        k = 100, metric = Metric.L2).select(col("id"), col("score").as("score_a"))
      val rb = Knn.flatSearch(emb, "vec_id", "embedding", qb, "qid", "qvec",
        k = 100, metric = Metric.L2).select(col("id"), col("score").as("score_b"))
      val fused = ra.join(rb, Seq("id"))
        .withColumn("fused", col("score_a") * 0.7 + col("score_b") * 0.3)
      TopK.global(fused, "fused", ascending = true, k = 10, tieBreak = Seq("id"))
        .select(col("id"), round(col("fused"), 6).as("fused"))
    }),

    // R1/R2 — batch upsert (MERGE): updated + fresh keys, state compare.
    "q_upsert_state" -> ((s, dir) => {
      val part = t(s, dir, "part")
      val updates = part.filter(col("p_partkey") % 7 === 0)
        .select(
          col("p_partkey"),
          lit("Brand#UP").as("p_brand"),
          (col("p_size") + 100).as("p_size"),
          round(col("p_retailprice") * 2, 2).as("p_retailprice"))
      // insert keys offset past max(p_partkey) so they are fresh AT ANY
      // SCALE — a fixed +100000 collided with real keys on the 10x
      // replica (keys to 200000), making the delta carry duplicate keys
      // (update + shifted insert) and the gate ill-defined as an upsert
      val off = part.agg(max(col("p_partkey"))).head().getLong(0) + 1
      val inserts = part.filter(col("p_partkey") % 13 === 0)
        .select(
          (col("p_partkey") + off).as("p_partkey"),
          lit("Brand#NEW").as("p_brand"),
          col("p_size"),
          col("p_retailprice"))
      val base = part.select(col("p_partkey"), col("p_brand"), col("p_size"), col("p_retailprice"))
      Crud.upsert(base, updates.unionByName(inserts), "p_partkey")
    }),

    // R1 field-patch semantics through the TABLE lifecycle: the delta's
    // schema omits a populated scalar (p_brand) AND the vector column —
    // the reference's AddOrUpdate patches only the fields the doc provides
    // (gamma_engine.cc:761-800), so updated rows must keep both, while
    // fresh keys read the absent fields as null. The oracle recomputes the
    // preserved values from the raw tables.
    "q_upsert_partial" -> ((s, dir) => {
      GraftSession.prepare(s)
      val root = java.nio.file.Files.createTempDirectory("graft_patch").toString
      val emb = t(s, dir, "embeddings")
      val docs0 = t(s, dir, "part")
        .join(emb, col("p_partkey") === col("vec_id"))
        .select(col("p_partkey").cast("string").as("_id"),
          col("p_brand"), col("p_size"), col("embedding").as("vec"))
      val tbl = graft.table.GammaTable.create(s, root, "patch", "_id", docs0,
        Seq(graft.table.VectorFieldDef("vec", 64)), nBuckets = 8)
      val off = t(s, dir, "part").agg(max(col("p_partkey"))).head().getLong(0) + 1
      val updates = docs0.filter(col("_id").cast("long") % 7 === 0)
        .select(col("_id"), (col("p_size") + 100).as("p_size"))
      val inserts = t(s, dir, "part").filter(col("p_partkey") % 13 === 0)
        .select((col("p_partkey") + off).cast("string").as("_id"), col("p_size"))
      tbl.addOrUpdate(updates.unionByName(inserts))
      tbl.docs.select(col("_id"), col("p_brand"), col("p_size"),
        when(col("vec").isNull, lit(-1L))
          .otherwise(size(col("vec")).cast("long")).as("dim"))
    }),

    // R3 — delete by key set.
    "q_delete_by_key" -> ((s, dir) => {
      val part = t(s, dir, "part")
      val keys = part.filter(col("p_partkey") % 11 === 0).select(col("p_partkey"))
      Crud.deleteByKeys(part, keys, "p_partkey").select(col("p_partkey"), col("p_brand"))
    }),

    // R4 — delete by query; surviving state.
    "q_delete_by_query" -> ((s, dir) => {
      Crud.deleteWhere(
          t(s, dir, "part"),
          col("p_size").between(10, 20) && col("p_type") === "PROMO")
        .select(col("p_partkey"), col("p_size"), col("p_type"))
    }),

    // A3 — live-doc count after logical deletes.
    "q_live_count" -> ((s, dir) => {
      val part = t(s, dir, "part")
        .withColumn("_deleted", col("p_partkey") % 5 === 0)
      part.filter(!col("_deleted")).agg(count(lit(1)).as("live"))
    }),

    // V3/T4 — IVFFLAT with full probe set: exercises coarse quantize +
    // partition-pruned list scan; equals exact search, so oracle-checkable.
    "q_ivfflat_fullprobe" -> ((s, dir) => {
      GraftSession.prepare(s)
      val emb = t(s, dir, "embeddings")
      val idx = graft.index.IndexRegistry.build("IVFFLAT", s, emb, "vec_id", "embedding",
        graft.index.IndexParams(ncentroids = 16))
      idx.search(collectQueries(s, dir), k = 10, nprobe = Some(16))
        .select(col("qid"), col("id"), round(col("score"), 6).as("score"))
    }),

    // V2/F4/T5/T6 — IVFPQ pipeline (residual PQ codes + ADC LUT scan +
    // exact re-rank); recall_num >= ndocs makes the re-rank exhaustive so
    // the result is exact and oracle-checkable end-to-end.
    "q_ivfpq_exactrank" -> ((s, dir) => {
      GraftSession.prepare(s)
      val emb = t(s, dir, "embeddings")
      val idx = graft.index.IndexRegistry.build("IVFPQ", s, emb, "vec_id", "embedding",
        graft.index.IndexParams(ncentroids = 8, nsubvector = 8, recallNum = 100000))
      idx.search(collectQueries(s, dir), k = 10, nprobe = Some(8))
        .select(col("qid"), col("id"), round(col("score"), 6).as("score"))
    }),

    // V2+OPQ — learned orthonormal rotation before PQ (reference's OPQ
    // variants); rotation preserves L2 and the exhaustive re-rank stays in
    // original space, so the exact-KNN oracle still applies end-to-end.
    "q_ivfpq_opq_exactrank" -> ((s, dir) => {
      GraftSession.prepare(s)
      val emb = t(s, dir, "embeddings")
      val idx = graft.index.IndexRegistry.build("IVFPQ", s, emb, "vec_id", "embedding",
        graft.index.IndexParams(ncentroids = 8, nsubvector = 8, recallNum = 100000,
          opq = true))
      idx.search(collectQueries(s, dir), k = 10, nprobe = Some(8))
        .select(col("qid"), col("id"), round(col("score"), 6).as("score"))
    }),

    // V2 at realistic ANN settings — approximate by design, so the gate
    // emits a driver-adjudicable VERDICT instead of raw top-k (r10,
    // closing the r9 no_oracle class): coverage and exact-k row counts
    // (oracle recomputes the expected query count from the table) plus a
    // recall floor vs the FLAT exact baseline computed in-engine. A
    // recall regression flips `pass` and the driver's hash compare goes
    // red. Raw-output recall curves stay in IndexSpec + Bench.
    "q_ivfpq_ann" -> ((s, dir) => {
      GraftSession.prepare(s)
      val emb = t(s, dir, "embeddings")
      val qs = collectQueries(s, dir)
      val idx = graft.index.IndexRegistry.build("IVFPQ", s, emb, "vec_id", "embedding",
        graft.index.IndexParams(ncentroids = 16, nsubvector = 8, recallNum = 50))
      val approx = idx.search(qs, k = 10, nprobe = Some(4)).select("qid", "id")
      val exact = graft.index.IndexRegistry.build("FLAT", s, emb, "vec_id", "embedding",
        graft.index.IndexParams()).search(qs, k = 10).select("qid", "id")
      graft.operators.GateVerdicts.knnVerdict(s, approx, exact,
        k = 10, recallFloorMilli = 500)
    }),

    // X2 at partial nprobe — filtered search THROUGH an attached index
    // where the scalar filter leaves FEWER than k survivors: the
    // selectivity policy must detect this and serve exact-over-filtered
    // (V9 semantics, reference gamma_engine.cc:327-340) instead of
    // returning a short/worse list from the 2-of-16 probed lists. The
    // fallback is exact, so the filtered-KNN oracle applies.
    "q_knn_filtered_index" -> ((s, dir) => {
      GraftSession.prepare(s)
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft_fidx").toString
      val emb = t(s, dir, "embeddings")
      val docs0 = emb.select(col("vec_id").cast("string").as("_id"),
        col("vec_id").as("vecid"), col("label"), col("embedding").as("vec"))
      val tbl = graft.table.GammaTable.create(s, root, "fidx", "_id", docs0,
        Seq(graft.table.VectorFieldDef("vec", 64)), nBuckets = 8)
      tbl.buildIndex("vec", graft.index.IndexParams(ncentroids = 16, nprobe = 2))
      val qvec = emb.filter(col("vec_id") === 0).select("embedding")
        .as[Array[Float]].head()
      tbl.search(graft.core.SearchRequest(
          topn = 10,
          vecQueries = Seq(graft.core.VecQuery("vec", qvec)),
          rangeFilters = Seq(
            graft.core.RangeFilter("label", Some(7), Some(7)),
            graft.core.RangeFilter("vecid", Some(0), Some(100))),
          metric = Metric.L2))
        .select(col("_id"), round(col("score"), 6).as("score"))
    }),

    // V10 — multi-model per field: TWO indexes attached to ONE vector
    // field (IVFFLAT and IVFPQ), each answering under its own
    // `VecQuery.retrievalType`, with a PER-REQUEST nprobe override
    // widening the deliberately-partial build-time nprobe=2 to the full
    // probe set (reference routing vector_manager.cc:447-459; per-request
    // param JSON :482-483). Full probes / exhaustive recall_num + exact
    // re-rank make BOTH variants exact, so a doubled KNN oracle applies —
    // and it can only match if the override actually reached the index.
    "q_multi_model" -> ((s, dir) => {
      GraftSession.prepare(s)
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft_mm").toString
      val emb = t(s, dir, "embeddings")
      val docs0 = emb.select(col("vec_id").cast("string").as("_id"),
        col("embedding").as("vec"))
      val tbl = graft.table.GammaTable.create(s, root, "mm", "_id", docs0,
        Seq(graft.table.VectorFieldDef("vec", 64, retrievalType = "IVFFLAT")),
        nBuckets = 8)
      tbl.buildIndex("vec",
        graft.index.IndexParams(ncentroids = 8, nprobe = 2),
        retrievalType = "IVFFLAT")
      tbl.buildIndex("vec",
        graft.index.IndexParams(ncentroids = 8, nsubvector = 8,
          recallNum = 1000000, nprobe = 2),
        retrievalType = "IVFPQ")
      val qvec = emb.filter(col("vec_id") === 0).select("embedding")
        .as[Array[Float]].head()
      def one(rt: String) = tbl.search(graft.core.SearchRequest(
          topn = 10,
          vecQueries = Seq(graft.core.VecQuery("vec", qvec,
            retrievalType = Some(rt), nprobe = Some(8))),
          metric = Metric.L2))
        .select(lit(rt).as("model"), col("_id"), round(col("score"), 6).as("score"))
      one("IVFFLAT").unionByName(one("IVFPQ"))
    }),

    // Per-request recall_num (reference request.fbs:38 / gamma_common_data
    // .h:89 / parse at gamma_index_ivfpq.h:707+): the index is BUILT with
    // a deliberately-starved recall_num=10 (approximate by default); the
    // REQUEST overrides it to exhaustive, which with full probes makes the
    // result exact — the oracle hash-match proves the override reached the
    // scan.
    "q_ivfpq_recallnum" -> ((s, dir) => {
      GraftSession.prepare(s)
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft_rn").toString
      val emb = t(s, dir, "embeddings")
      val docs0 = emb.select(col("vec_id").cast("string").as("_id"),
        col("embedding").as("vec"))
      val tbl = graft.table.GammaTable.create(s, root, "rn", "_id", docs0,
        Seq(graft.table.VectorFieldDef("vec", 64, retrievalType = "IVFPQ")),
        nBuckets = 8)
      tbl.buildIndex("vec",
        graft.index.IndexParams(ncentroids = 8, nsubvector = 8,
          recallNum = 10, nprobe = 8),
        retrievalType = "IVFPQ")
      val qvec = emb.filter(col("vec_id") === 0).select("embedding")
        .as[Array[Float]].head()
      tbl.search(graft.core.SearchRequest(
          topn = 10,
          vecQueries = Seq(graft.core.VecQuery("vec", qvec,
            nprobe = Some(8), recallNum = Some(1000000))),
          metric = Metric.L2))
        .select(col("_id"), round(col("score"), 6).as("score"))
    }),

    // M7 — the Catalyst rewrite surface: plain SQL `WHERE ... ORDER BY
    // l2_sq(...) LIMIT k` routed through the registered index by
    // AnnTopKRewrite. Full probes keep it exact, so the filtered single-
    // query KNN oracle applies; results are identical with the rule off.
    "q_sql_ann_rewrite" -> ((s, dir) => {
      GraftSession.prepare(s)
      graft.plans.AnnRewrite.install(s)
      import s.implicits._
      val path = s"$dir/embeddings.parquet"
      val emb = s.read.parquet(path)
      val idx = graft.index.IndexRegistry.build("IVFFLAT", s, emb, "vec_id", "embedding",
        graft.index.IndexParams(ncentroids = 8)) // nprobe default 80 -> full probe
      graft.plans.IndexCatalog.register(path,
        graft.plans.RegisteredIndex(idx, emb, "vec_id", "embedding"))
      emb.createOrReplaceTempView("embeddings_sql")
      val qvec = emb.filter(col("vec_id") === 0).select("embedding")
        .as[Array[Float]].head()
      val qLit = s"array(${qvec.map(v => s"CAST($v AS FLOAT)").mkString(",")})"
      try {
        s.conf.set("spark.graft.ann.rewrite", "true")
        // keep the INDEX path under test: at this SF the selective WHERE
        // would otherwise take the policy's exact-fallback tier (rewrite
        // declines, original exact plan runs — same rows, nothing probed)
        s.conf.set("spark.graft.filter.exactFallbackRows", "0")
        val df = s.sql(
          s"SELECT vec_id, l2_sq(embedding, $qLit) AS score FROM embeddings_sql " +
            "WHERE label IN (1, 3, 5, 7) ORDER BY score LIMIT 10")
        // engaged: the plan is the local relation of the index's hits, reading no table
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LocalTableScan") && "(Batch|File)Scan".r.findFirstIn(plan).isEmpty,
          "ANN rewrite did not engage")
        // EXECUTE through the rewritten plan here, while the rule is still
        // on — the gate runner's later action would re-optimize a fresh
        // QueryExecution after the finally block disables the rule
        val rows = df.select(col("vec_id").as("id"), round(col("score"), 6).as("score"))
        val collected = rows.collect()
        s.createDataFrame(java.util.Arrays.asList(collected: _*), rows.schema)
      } finally {
        s.conf.set("spark.graft.ann.rewrite", "false")
        s.conf.unset("spark.graft.filter.exactFallbackRows")
        graft.plans.IndexCatalog.unregister(path)
      }
    }),

    // V5 — HNSW per-partition graphs: same verdict shape as q_ivfpq_ann
    // (approximate by design → driver-adjudicated recall floor vs FLAT,
    // r10). IndexSpec pins ≥0.9 at these knobs; measured 1.0 at sf0.01.
    "q_hnsw_ann" -> ((s, dir) => {
      GraftSession.prepare(s)
      val emb = t(s, dir, "embeddings")
      val qs = collectQueries(s, dir)
      val idx = graft.index.IndexRegistry.build("HNSW", s, emb, "vec_id", "embedding",
        graft.index.IndexParams(nlinks = 16, efConstruction = 100, efSearch = 64))
      val approx = idx.search(qs, k = 10).select("qid", "id")
      val exact = graft.index.IndexRegistry.build("FLAT", s, emb, "vec_id", "embedding",
        graft.index.IndexParams()).search(qs, k = 10).select("qid", "id")
      graft.operators.GateVerdicts.knnVerdict(s, approx, exact,
        k = 10, recallFloorMilli = 900)
    }),

    // P9/§1.1 — multi-vector-per-doc: two vids per doc (embedding and its
    // reverse), best-vid-per-doc collapse BEFORE the top-k limit
    // (vector_manager.cc:396-417 ordering contract).
    "q_multivid" -> ((s, dir) => {
      GraftSession.prepare(s)
      val emb = t(s, dir, "embeddings")
      val docs = emb.select(col("vec_id"),
        array(col("embedding"), reverse(col("embedding"))).as("vids"))
      graft.operators.MultiVec.search(
          docs, "vec_id", "vids", knnQueries(s, dir), "qid", "qvec",
          k = 10, metric = Metric.L2)
        .select(col("qid"), col("id"), round(col("score"), 6).as("score"))
    }),

    // V6 — BINARYIVF: binary-code inverted lists + Hamming probes, built
    // through the model REGISTRY (X1/X3 peer model) and queried over the
    // float request surface (byte-value adapter); full probe set makes it
    // exact, so the hamming oracle applies.
    "q_binaryivf_fullprobe" -> ((s, dir) => {
      GraftSession.prepare(s)
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), unhex(md5(col("text"))).as("code"))
      val idx = graft.index.IndexRegistry.build("BINARYIVF", s, docs, "doc_id", "code",
        graft.index.IndexParams(ncentroids = 8))
      val qs = docs.filter(col("doc_id") < 3)
        .select(col("doc_id"), col("code")).as[(Long, Array[Byte])].collect().toSeq
        .map { case (id, b) => (id, graft.index.BinaryIvfIndex.bytesToFloats(b)) }
      idx.search(qs, k = 10, nprobe = Some(8))
        .select(col("qid"), col("id"), col("score").cast("int").as("hdist"))
    }),

    // V6 under the incremental lifecycle: BINARYIVF is a peer model in
    // the index stack (reference registers it through the same reflector,
    // gamma_index_binary_ivf.cc:57) — trained k-majority quantizer, lists
    // AT REST, upsert + delta re-assign (R5/R6), delete, disk reload,
    // search through the persisted binary lists. Full probes make the
    // Hamming top-k exact over the post-lifecycle state.
    "q_binaryivf_lifecycle" -> ((s, dir) => {
      GraftSession.prepare(s)
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft_binivf").toString
      val docs0 = t(s, dir, "documents")
        .select(col("doc_id").cast("string").as("_id"),
          unhex(md5(col("text"))).as("code"), col("lang"))
      val tbl = graft.table.GammaTable.create(s, root, "binivf", "_id", docs0,
        Seq(graft.table.VectorFieldDef("code", 128, metric = "Hamming",
          retrievalType = "BINARYIVF")), nBuckets = 8)
      val ix = tbl.buildIndex("code",
        graft.index.IndexParams(metric = Metric.Hamming, ncentroids = 4),
        persist = true, retrievalType = "BINARYIVF")
      val delta = tbl.docs.filter(col("_id").cast("long") % 7 === 3)
        .select(col("_id"),
          unhex(md5(concat(col("_id"), lit("v2")))).as("code"), col("lang"))
      tbl.addOrUpdate(delta)
      ix.refresh()
      tbl.deleteByQuery(col("lang") === "de")
      val qbytes = docs0.filter(col("_id") === "0").select("code")
        .as[Array[Byte]].head()
      val reloaded = graft.table.GammaTable.load(s, root)
      reloaded.search(graft.core.SearchRequest(
          topn = 10,
          vecQueries = Seq(graft.core.VecQuery("code",
            graft.index.BinaryIvfIndex.bytesToFloats(qbytes), nprobe = Some(4))),
          metric = Metric.Hamming))
        .select(col("_id"), col("score").cast("int").as("hdist"))
    }),

    // S2/R1-R4/S3/V1 — full GammaTable lifecycle: create from a doc batch,
    // upsert a delta, delete-by-query, then filtered KNN search over the
    // resulting state (the reference E2E flow, tests/README.md:10-22).
    "q_table_e2e" -> ((s, dir) => {
      GraftSession.prepare(s)
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft_e2e").toString
      val emb = t(s, dir, "embeddings")
      val docs0 = t(s, dir, "part")
        .join(emb, col("p_partkey") === col("vec_id"))
        .select(col("p_partkey").cast("string").as("_id"),
          col("p_size"), col("embedding").as("vec"))
      val tbl = graft.table.GammaTable.create(s, root, "e2e", "_id", docs0,
        Seq(graft.table.VectorFieldDef("vec", 64)), nBuckets = 8)
      val delta = tbl.docs.filter(col("_id").cast("long") % 10 === 3)
        .select(col("_id"), (col("p_size") + 1).as("p_size"), col("vec"))
      tbl.addOrUpdate(delta)
      tbl.deleteByQuery(col("p_size").between(10, 12))
      val qvec = emb.filter(col("vec_id") === 0).select("embedding")
        .as[Array[Float]].head()
      tbl.search(graft.core.SearchRequest(
          topn = 10,
          vecQueries = Seq(graft.core.VecQuery("vec", qvec)),
          rangeFilters = Seq(graft.core.RangeFilter("p_size", Some(1), Some(40))),
          metric = Metric.L2))
        .select(col("_id"), round(col("score"), 6).as("score"))
    }),

    // S8/S9/R5/T4 — persisted-index lifecycle: build the IVF index AT REST
    // (parquet lists partitioned by centroid_id), upsert + refresh
    // (append-only delta + supersede log), delete, then RELOAD table and
    // index from disk and search through the persisted lists. Full probes
    // + exact in-list scoring keep it oracle-checkable (same state as
    // q_table_e2e).
    // The pure-SQL surface (gamma DSv2 source): the q_table_e2e lifecycle
    // with the UPSERT, DELETE and final READ all issued as SQL statements
    // against a `USING gamma` view — INSERT INTO routes through the
    // table's AddOrUpdate path (V1Write bridge), DELETE FROM through
    // delete-by-query (SupportsDelete), and the SELECT through the
    // manifest-resolved live-docs scan. Only table CREATION stays on the
    // Scala handle (DDL that mints a table root is out of SQL's scope).
    // Proves a SQL-only client can run the reference's C-API lifecycle
    // (gamma_api.h:20-206) end to end.
    "q_table_sql" -> ((s, dir) => {
      GraftSession.prepare(s)
      val root = java.nio.file.Files.createTempDirectory("graft_sqltbl").toString
      val emb = t(s, dir, "embeddings")
      val docs0 = t(s, dir, "part")
        .join(emb, col("p_partkey") === col("vec_id"))
        .select(col("p_partkey").cast("string").as("_id"),
          col("p_size"), col("embedding").as("vec"))
      graft.table.GammaTable.create(s, root, "sqltbl", "_id", docs0,
        Seq(graft.table.VectorFieldDef("vec", 64)), nBuckets = 8)
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW gamma_sql_tbl " +
        s"USING gamma OPTIONS (path '$root')")
      // upsert via SQL, sourced from the RAW tables (not the view itself —
      // a self-referencing INSERT would race its own snapshot)
      t(s, dir, "part").createOrReplaceTempView("graft_sql_part")
      emb.createOrReplaceTempView("graft_sql_emb")
      s.sql("""INSERT INTO gamma_sql_tbl (_id, p_size, vec)
              |SELECT CAST(p_partkey AS STRING), p_size + 1, embedding
              |FROM graft_sql_part JOIN graft_sql_emb ON p_partkey = vec_id
              |WHERE p_partkey % 10 = 3""".stripMargin)
      s.sql("DELETE FROM gamma_sql_tbl WHERE p_size BETWEEN 10 AND 12")
      s.sql("""SELECT _id, p_size, CAST(size(vec) AS BIGINT) AS dim
              |FROM gamma_sql_tbl WHERE p_size BETWEEN 1 AND 40""".stripMargin)
    }),

    // S13 through a CATALOG (graft.sources.GammaCatalog): the ENTIRE
    // lifecycle — now including CreateTable (gamma_api.h:35), the one verb
    // q_table_sql still issued from Scala — as SQL statements against a
    // DSv2 TableCatalog over a warehouse of gamma roots. Same document
    // state transitions as q_table_sql, so the oracle is shared. The
    // catalog conf is set once per session (Spark caches the instantiated
    // catalog; the DROP/CREATE pair keeps re-runs deterministic).
    "q_table_catalog" -> ((s, dir) => {
      GraftSession.prepare(s)
      if (s.conf.getOption("spark.sql.catalog.gamma_cat").isEmpty) {
        s.conf.set("spark.sql.catalog.gamma_cat", "graft.sources.GammaCatalog")
        s.conf.set("spark.sql.catalog.gamma_cat.warehouse",
          java.nio.file.Files.createTempDirectory("graft_cat_wh").toString)
      }
      t(s, dir, "part").createOrReplaceTempView("graft_cat_part")
      t(s, dir, "embeddings").createOrReplaceTempView("graft_cat_emb")
      s.sql("CREATE NAMESPACE IF NOT EXISTS gamma_cat.gate")
      s.sql("DROP TABLE IF EXISTS gamma_cat.gate.items")
      s.sql("""CREATE TABLE gamma_cat.gate.items
              |(_id STRING, p_size INT, vec ARRAY<FLOAT>)
              |TBLPROPERTIES ('key'='_id', 'buckets'='8',
              |               'vector.vec'='dim=64,metric=L2')""".stripMargin)
      s.sql("""INSERT INTO gamma_cat.gate.items (_id, p_size, vec)
              |SELECT CAST(p_partkey AS STRING), p_size, embedding
              |FROM graft_cat_part JOIN graft_cat_emb ON p_partkey = vec_id""".stripMargin)
      s.sql("""INSERT INTO gamma_cat.gate.items (_id, p_size, vec)
              |SELECT CAST(p_partkey AS STRING), p_size + 1, embedding
              |FROM graft_cat_part JOIN graft_cat_emb ON p_partkey = vec_id
              |WHERE p_partkey % 10 = 3""".stripMargin)
      s.sql("DELETE FROM gamma_cat.gate.items WHERE p_size BETWEEN 10 AND 12")
      s.sql("""SELECT _id, p_size, CAST(size(vec) AS BIGINT) AS dim
              |FROM gamma_cat.gate.items WHERE p_size BETWEEN 1 AND 40""".stripMargin)
    }),

    // The SQL row-level write surface (GammaDmlRewrite): a metadata-only
    // UPDATE ... SET over a table WITH a vector column — the narrow-delta
    // patch must preserve the unassigned columns (vec, p_brand on
    // untouched rows) — then a DELETE whose predicate carries an IN
    // subquery (the shape SupportsDelete cannot translate; routed through
    // deleteByQuery). The oracle recomputes both from the raw tables and
    // hash-checks the vector dims, proving vectors survived the UPDATE.
    "q_table_update_sql" -> ((s, dir) => {
      GraftSession.prepare(s)
      if (s.conf.getOption("spark.sql.catalog.gamma_cat").isEmpty) {
        s.conf.set("spark.sql.catalog.gamma_cat", "graft.sources.GammaCatalog")
        s.conf.set("spark.sql.catalog.gamma_cat.warehouse",
          java.nio.file.Files.createTempDirectory("graft_cat_wh").toString)
      }
      t(s, dir, "part").createOrReplaceTempView("graft_cat_part")
      t(s, dir, "embeddings").createOrReplaceTempView("graft_cat_emb")
      s.sql("CREATE NAMESPACE IF NOT EXISTS gamma_cat.gate")
      s.sql("DROP TABLE IF EXISTS gamma_cat.gate.upd")
      s.sql("""CREATE TABLE gamma_cat.gate.upd
              |(_id STRING, p_brand STRING, p_size INT, vec ARRAY<FLOAT>)
              |TBLPROPERTIES ('key'='_id', 'buckets'='8',
              |               'vector.vec'='dim=64,metric=L2')""".stripMargin)
      s.sql("""INSERT INTO gamma_cat.gate.upd (_id, p_brand, p_size, vec)
              |SELECT CAST(p_partkey AS STRING), p_brand, p_size, embedding
              |FROM graft_cat_part JOIN graft_cat_emb ON p_partkey = vec_id""".stripMargin)
      s.sql("""UPDATE gamma_cat.gate.upd
              |SET p_size = p_size + 100, p_brand = 'Brand#UP'
              |WHERE p_size BETWEEN 10 AND 20""".stripMargin)
      s.sql("""DELETE FROM gamma_cat.gate.upd
              |WHERE _id IN (SELECT CAST(p_partkey AS STRING)
              |              FROM graft_cat_part WHERE p_partkey % 11 = 0)""".stripMargin)
      s.sql("""SELECT _id, p_brand, p_size, CAST(size(vec) AS BIGINT) AS dim
              |FROM gamma_cat.gate.upd""".stripMargin)
    }),

    // MERGE INTO with all three clause classes — conditional matched
    // DELETE, matched UPDATE (field patch: brand and vec preserved),
    // not-matched INSERT (absent columns null). Source keys without
    // embeddings are NOT in the table, so they take the insert path too —
    // the oracle derives every branch from the raw tables.
    "q_table_merge" -> ((s, dir) => {
      GraftSession.prepare(s)
      if (s.conf.getOption("spark.sql.catalog.gamma_cat").isEmpty) {
        s.conf.set("spark.sql.catalog.gamma_cat", "graft.sources.GammaCatalog")
        s.conf.set("spark.sql.catalog.gamma_cat.warehouse",
          java.nio.file.Files.createTempDirectory("graft_cat_wh").toString)
      }
      t(s, dir, "part").createOrReplaceTempView("graft_cat_part")
      t(s, dir, "embeddings").createOrReplaceTempView("graft_cat_emb")
      s.sql("CREATE NAMESPACE IF NOT EXISTS gamma_cat.gate")
      s.sql("DROP TABLE IF EXISTS gamma_cat.gate.mrg")
      s.sql("""CREATE TABLE gamma_cat.gate.mrg
              |(_id STRING, p_brand STRING, p_size INT, vec ARRAY<FLOAT>)
              |TBLPROPERTIES ('key'='_id', 'buckets'='8',
              |               'vector.vec'='dim=64,metric=L2')""".stripMargin)
      s.sql("""INSERT INTO gamma_cat.gate.mrg (_id, p_brand, p_size, vec)
              |SELECT CAST(p_partkey AS STRING), p_brand, p_size, embedding
              |FROM graft_cat_part JOIN graft_cat_emb ON p_partkey = vec_id""".stripMargin)
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_mrg_src AS
              |SELECT CAST(p_partkey AS STRING) AS sid, p_size,
              |       p_partkey % 5 = 0 AS kill
              |FROM graft_cat_part WHERE p_partkey % 3 = 0""".stripMargin)
      s.sql("""MERGE INTO gamma_cat.gate.mrg t USING graft_mrg_src s
              |ON t._id = s.sid
              |WHEN MATCHED AND s.kill THEN DELETE
              |WHEN MATCHED THEN UPDATE SET p_size = s.p_size + 1000
              |WHEN NOT MATCHED THEN INSERT (_id, p_size) VALUES (s.sid, s.p_size)
              |""".stripMargin)
      s.sql("""SELECT _id, p_brand, p_size,
              |CAST(CASE WHEN vec IS NULL THEN -1 ELSE size(vec) END AS BIGINT) AS dim
              |FROM gamma_cat.gate.mrg""".stripMargin)
    }),

    // Snapshot reads (time travel): every commit retains its manifest
    // (`meta/v<N>.json`) and the MVCC bucket layout keeps superseded files
    // until vacuum(), so `VERSION AS OF n` is a pure metadata pin — the
    // gate reads the PRE-DELETE version (v2: create=v0, load=v1,
    // upsert=v2, delete=v3) through catalog SQL and the oracle recomputes
    // that intermediate state from the raw tables. The current-state read
    // is q_table_catalog's job; this gate proves the pinned manifest
    // serves the OLD bucket versions byte-for-byte.
    "q_table_snapshot" -> ((s, dir) => {
      GraftSession.prepare(s)
      if (s.conf.getOption("spark.sql.catalog.gamma_cat").isEmpty) {
        s.conf.set("spark.sql.catalog.gamma_cat", "graft.sources.GammaCatalog")
        s.conf.set("spark.sql.catalog.gamma_cat.warehouse",
          java.nio.file.Files.createTempDirectory("graft_cat_wh").toString)
      }
      t(s, dir, "part").createOrReplaceTempView("graft_cat_part")
      t(s, dir, "embeddings").createOrReplaceTempView("graft_cat_emb")
      s.sql("CREATE NAMESPACE IF NOT EXISTS gamma_cat.gate")
      s.sql("DROP TABLE IF EXISTS gamma_cat.gate.snap")
      s.sql("""CREATE TABLE gamma_cat.gate.snap
              |(_id STRING, p_size INT, vec ARRAY<FLOAT>)
              |TBLPROPERTIES ('key'='_id', 'buckets'='8',
              |               'vector.vec'='dim=64,metric=L2')""".stripMargin)
      s.sql("""INSERT INTO gamma_cat.gate.snap (_id, p_size, vec)
              |SELECT CAST(p_partkey AS STRING), p_size, embedding
              |FROM graft_cat_part JOIN graft_cat_emb ON p_partkey = vec_id""".stripMargin)
      s.sql("""INSERT INTO gamma_cat.gate.snap (_id, p_size, vec)
              |SELECT CAST(p_partkey AS STRING), p_size + 1, embedding
              |FROM graft_cat_part JOIN graft_cat_emb ON p_partkey = vec_id
              |WHERE p_partkey % 10 = 3""".stripMargin)
      s.sql("DELETE FROM gamma_cat.gate.snap WHERE p_size BETWEEN 10 AND 12")
      s.sql("""SELECT _id, p_size, CAST(size(vec) AS BIGINT) AS dim
              |FROM gamma_cat.gate.snap VERSION AS OF 2
              |WHERE p_size BETWEEN 1 AND 40""".stripMargin)
    }),

    // The incremental change feed: replay the commits AFTER the initial
    // load — upsert events carry the commit that wrote them, rows
    // tombstoned later net to ONE delete event stamped with the delete's
    // commit, and the window SPANS a compact(): the physically-purged
    // tombstones must replay from the compaction purge log (the
    // reference's migration source replays tombstones,
    // storage/migrate_data.cc:63-101 — pre-r13 a spanning window silently
    // dropped them). Purged delete events carry key + internals with data
    // columns null; a key purged then REINSERTED in the window nets to
    // its upsert. The oracle re-derives every event from the raw tables,
    // so stamps, purge replay, net semantics and the null pre-image are
    // all hash-checked.
    "q_change_feed" -> ((s, dir) => {
      GraftSession.prepare(s)
      val root = java.nio.file.Files.createTempDirectory("graft_cdc").toString
      val emb = t(s, dir, "embeddings")
      val docs0 = t(s, dir, "part")
        .join(emb, col("p_partkey") === col("vec_id"))
        .select(col("p_partkey").cast("string").as("_id"),
          col("p_size"), col("embedding").as("vec"))
      val tbl = graft.table.GammaTable.create(s, root, "cdc", "_id", docs0,
        Seq(graft.table.VectorFieldDef("vec", 64)), nBuckets = 8) // v1
      val delta = tbl.docs.filter(col("_id").cast("long") % 10 === 3)
        .select(col("_id"), (col("p_size") + 1).as("p_size"), col("vec"))
      tbl.addOrUpdate(delta)                                      // v2
      tbl.deleteByQuery(col("p_size").between(10, 12))            // v3
      tbl.compact()                                               // v4 purges
      // reinsert a deterministic subset of the PURGED keys, vec omitted
      // (partial upsert of a fresh key post-purge)
      val s2 = docs0.select(col("_id"),
        when(col("_id").cast("long") % 10 === 3, col("p_size") + 1)
          .otherwise(col("p_size")).as("p_size"))
      val reins = s2.filter(col("p_size").between(10, 12) &&
          col("_id").cast("long") % 10 === 7)
        .select(col("_id"), lit(999).as("p_size"))
      tbl.addOrUpdate(reins)                                      // v5
      // purged deletes read a NULL pre-image; -1 sentinel because the
      // hash compare can't represent integer NULLs stably
      tbl.changes(1, tbl.meta.version)
        .select(col("_id"), coalesce(col("p_size"), lit(-1)).as("p_size"),
          col("_change_type"), col("_change_version"))
    }),

    // The DESCRIBE-HISTORY analog over the catalog lifecycle: one row per
    // retained manifest version. Timestamps are wall-clock (excluded from
    // the projection); version numbering, maxDocid evolution (upsert on
    // existing keys mints NO fresh docids; delete never changes it) and
    // the index-status FSM are all deterministic, so the oracle derives
    // them from the raw tables.
    "q_table_history" -> ((s, dir) => {
      GraftSession.prepare(s)
      if (s.conf.getOption("spark.sql.catalog.gamma_cat").isEmpty) {
        s.conf.set("spark.sql.catalog.gamma_cat", "graft.sources.GammaCatalog")
        s.conf.set("spark.sql.catalog.gamma_cat.warehouse",
          java.nio.file.Files.createTempDirectory("graft_cat_wh").toString)
      }
      t(s, dir, "part").createOrReplaceTempView("graft_cat_part")
      t(s, dir, "embeddings").createOrReplaceTempView("graft_cat_emb")
      s.sql("CREATE NAMESPACE IF NOT EXISTS gamma_cat.gate")
      s.sql("DROP TABLE IF EXISTS gamma_cat.gate.hist")
      s.sql("""CREATE TABLE gamma_cat.gate.hist
              |(_id STRING, p_size INT, vec ARRAY<FLOAT>)
              |TBLPROPERTIES ('key'='_id', 'buckets'='8',
              |               'vector.vec'='dim=64,metric=L2')""".stripMargin)
      s.sql("""INSERT INTO gamma_cat.gate.hist (_id, p_size, vec)
              |SELECT CAST(p_partkey AS STRING), p_size, embedding
              |FROM graft_cat_part JOIN graft_cat_emb ON p_partkey = vec_id""".stripMargin)
      s.sql("""INSERT INTO gamma_cat.gate.hist (_id, p_size, vec)
              |SELECT CAST(p_partkey AS STRING), p_size + 1, embedding
              |FROM graft_cat_part JOIN graft_cat_emb ON p_partkey = vec_id
              |WHERE p_partkey % 10 = 3""".stripMargin)
      s.sql("DELETE FROM gamma_cat.gate.hist WHERE p_size BETWEEN 10 AND 12")
      val wh = s.conf.get("spark.sql.catalog.gamma_cat.warehouse")
      graft.table.GammaTable.history(s, s"$wh/gate/hist")
        .select(col("version"), col("max_docid"), col("index_status"))
    }),

    // GetConfig analog (gamma_api.h:181-189): the engine's knob registry —
    // key + documented default. The oracle hardcodes the expected table,
    // so a silently changed default (or an unregistered new knob read
    // somewhere in the engine) fails the correctness gate, not just a
    // unit test.
    "q_engine_config" -> ((s, dir) => {
      GraftSession.prepare(s)
      graft.core.GraftConfig.all(s)
        .select(col("key").as("conf_key"), col("default").as("conf_default"))
        .orderBy("conf_key")
    }),

    "q_table_persisted" -> ((s, dir) => {
      GraftSession.prepare(s)
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft_persist").toString
      val emb = t(s, dir, "embeddings")
      val docs0 = t(s, dir, "part")
        .join(emb, col("p_partkey") === col("vec_id"))
        .select(col("p_partkey").cast("string").as("_id"),
          col("p_size"), col("embedding").as("vec"))
      val tbl = graft.table.GammaTable.create(s, root, "persisted", "_id", docs0,
        Seq(graft.table.VectorFieldDef("vec", 64)), nBuckets = 8)
      val ix = tbl.buildIndex("vec",
        graft.index.IndexParams(ncentroids = 4), persist = true)
      val delta = tbl.docs.filter(col("_id").cast("long") % 10 === 3)
        .select(col("_id"), (col("p_size") + 1).as("p_size"), col("vec"))
      tbl.addOrUpdate(delta)
      ix.refresh()
      tbl.deleteByQuery(col("p_size").between(10, 12))
      val qvec = emb.filter(col("vec_id") === 0).select("embedding")
        .as[Array[Float]].head()
      val reloaded = graft.table.GammaTable.load(s, root)
      // pin the filtered-ANN policy to the INDEX path: at toy scale every
      // filter is under the exact-fallback threshold, and this gate exists
      // to exercise the persisted lists (full probes keep it exact anyway)
      s.conf.set("spark.graft.filter.exactFallbackRows", "0")
      try reloaded.search(graft.core.SearchRequest(
          topn = 10,
          vecQueries = Seq(graft.core.VecQuery("vec", qvec)),
          rangeFilters = Seq(graft.core.RangeFilter("p_size", Some(1), Some(40))),
          metric = Metric.L2))
        .select(col("_id"), round(col("score"), 6).as("score"))
      finally s.conf.unset("spark.graft.filter.exactFallbackRows")
    }),

    // V2 at rest through the table — same lifecycle as q_table_persisted
    // but with PQ code lists persisted under the table root: build trains
    // coarse+PQ quantizers, refresh re-encodes the delta through them
    // (R6), reload restores quantizers + stamped codes from disk. Full
    // probes + exhaustive recall_num + exact re-rank keep the result
    // EXACT, so the shared lifecycle oracle still applies.
    "q_table_persisted_pq" -> ((s, dir) => {
      GraftSession.prepare(s)
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft_persist_pq").toString
      val emb = t(s, dir, "embeddings")
      val docs0 = t(s, dir, "part")
        .join(emb, col("p_partkey") === col("vec_id"))
        .select(col("p_partkey").cast("string").as("_id"),
          col("p_size"), col("embedding").as("vec"))
      val tbl = graft.table.GammaTable.create(s, root, "persisted_pq", "_id", docs0,
        Seq(graft.table.VectorFieldDef("vec", 64, retrievalType = "IVFPQ")), nBuckets = 8)
      val ix = tbl.buildIndex("vec",
        graft.index.IndexParams(ncentroids = 4, nsubvector = 8, recallNum = 1000000),
        persist = true, retrievalType = "IVFPQ")
      val delta = tbl.docs.filter(col("_id").cast("long") % 10 === 3)
        .select(col("_id"), (col("p_size") + 1).as("p_size"), col("vec"))
      tbl.addOrUpdate(delta)
      ix.refresh()
      tbl.deleteByQuery(col("p_size").between(10, 12))
      val qvec = emb.filter(col("vec_id") === 0).select("embedding")
        .as[Array[Float]].head()
      val reloaded = graft.table.GammaTable.load(s, root)
      // index path pinned for the same reason as q_table_persisted: the
      // persisted PQ codes are the thing under test
      s.conf.set("spark.graft.filter.exactFallbackRows", "0")
      try reloaded.search(graft.core.SearchRequest(
          topn = 10,
          vecQueries = Seq(graft.core.VecQuery("vec", qvec)),
          rangeFilters = Seq(graft.core.RangeFilter("p_size", Some(1), Some(40))),
          metric = Metric.L2))
        .select(col("_id"), round(col("score"), 6).as("score"))
      finally s.conf.unset("spark.graft.filter.exactFallbackRows")
    }),

    // R1/R2/R5 streaming shape — replay events as 5 sequential microbatch
    // upserts (last write wins per key); final state must equal the
    // latest-event-per-user oracle.
    "q_stream_upsert" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_stream_q").toString
      val ev = t(s, dir, "events").select(
        col("user_id").cast("string").as("_id"),
        col("event_id"), col("event_type"), col("value"))
      val n = ev.agg(max("event_id")).head().getLong(0) + 1
      val step = (n + 4) / 5
      def batch(i: Int) = ev
        .filter(col("event_id") >= i * step && col("event_id") < (i + 1) * step)
        .withColumn("_seq", col("event_id"))
      // commit shuffles sized to the microbatch (same per-query sizing as
      // the structured-streaming gates): 5 sequential ~O(100k-row) commits
      // don't need 32-task shuffle stages each
      withShufflePartitions(s, 8) {
        val tbl = graft.table.GammaTable.create(s, root, "se", "_id",
          Crud.dedupLastWins(batch(0), "_id", Some("_seq")).drop("_seq"), nBuckets = 8)
        (1 until 5).foreach(i => tbl.addOrUpdate(batch(i), Some("_seq")))
        tbl.docs.select(col("_id"), col("event_id"), col("event_type"), col("value"))
      }
    }),

    // Streaming ingest dedup: the document stream replayed as 5 id-ordered
    // file-source microbatches through the stateful first-seen operator
    // (flatMapGroupsWithState keyed by digest — state is one boolean per
    // DISTINCT digest, not per row). Ordered replay makes the keeper the
    // global min doc_id, so the batch GROUP BY oracle applies exactly.
    "q_stream_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      withShufflePartitions(s, 8) {
        val src = sliceStream(s, docs, "doc_id", nSlices = 5)
        runToMemorySink(s,
          graft.streaming.StreamDedup.firstSeen(src, "doc_id", "text")
            .toDF("digest", "keeper"),
          "stream_dedup", "append")
      }.select(col("digest"), col("keeper"))
    }),

    // Streaming MinHash-LSH near-dup: pairs surface the microbatch their
    // second member arrives; the verified pair set over the full replay is
    // ARRIVAL-ORDER INDEPENDENT and equals the batch operator's, so the
    // q_dedup_minhash oracle applies after the contract's sink distinct
    // (at-least-once per shared band bucket).
    "q_stream_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      withShufflePartitions(s, 8) {
        val src = sliceStream(s, docs, "doc_id", nSlices = 5)
        runToMemorySink(s,
          graft.streaming.StreamDedup
            .nearDupPairs(src, docs, "doc_id", "text", threshold = 0.5),
          "stream_neardup", "append")
      }.select(col("a"), col("b"), col("jaccard")).distinct()
    }),

    // ------------- training-data pipeline operators (dedup / text / media)

    // E-dedup: exact content-hash groups.
    "q_dedup_exact" -> ((s, dir) => {
      graft.dedup.Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text", minGroup = 1)
    }),

    // E-dedup projection: keep one doc per distinct content (min-id keeper).
    "q_dedup_drop" -> ((s, dir) => {
      graft.dedup.Dedup.dropExactDups(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // MinHash+LSH near-dup: shingle -> minhash -> band -> bucket-join ->
    // exact-Jaccard verify.
    "q_dedup_minhash" -> ((s, dir) => {
      graft.dedup.Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5)
    }),

    // Duplicate clusters: near-dup pairs -> connected components with the
    // minimum doc id as canonical keeper (min-label propagation).
    "q_dedup_clusters" -> ((s, dir) => {
      val pairs = graft.dedup.Dedup.minhashPairs(t(s, dir, "documents"),
        "doc_id", "text", threshold = 0.5)
      graft.dedup.Dedup.duplicateClusters(pairs)
    }),

    // Same clusters through the DISTRIBUTED path (maxDriverEdges = 0
    // disables the driver union-find shortcut): alternating large-star /
    // small-star contraction, held to the exact transitive-closure oracle.
    // The scale algorithm is gate-checked, not just spec-checked.
    "q_dedup_clusters_star" -> ((s, dir) => {
      val pairs = graft.dedup.Dedup.minhashPairs(t(s, dir, "documents"),
        "doc_id", "text", threshold = 0.5)
      graft.dedup.Dedup.duplicateClusters(pairs, maxDriverEdges = 0L)
    }),

    // INT8 vector value type (reference retrieval_model.h:18 declares
    // FLOAT|BINARY|INT8): symmetric per-vector scalar quantization
    // (scale = max|v|/127) — 4x smaller storage. Roundtrip gate: per-doc
    // scale and max reconstruction error, formula-mirrored in DuckDB.
    "q_int8_roundtrip" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val withQ = emb
        .withColumn("q8", graft.functions.Quant.int8Encode(col("embedding")))
        .withColumn("dec", graft.functions.Quant.int8Decode(col("q8")))
      withQ.select(col("vec_id"),
        round(col("q8").getField("scale"), 9).as("scale"),
        round(aggregate(
          zip_with(col("dec"), col("embedding"),
            (a, b) => abs(a.cast("double") - b.cast("double"))),
          lit(0.0), (acc, x) => greatest(acc, x)), 9).as("max_err"))
    }),

    // KNN over INT8-stored vectors: encode the corpus AND the query,
    // search the decoded surface exactly — the (deterministic) quantized
    // distance function hash-matches the oracle computing the same codes.
    // The decoded frame is materialized ONCE (localCheckpoint): without it
    // the query-vector head() and every flatSearch scan (the distance
    // kernel references the vector repeatedly) re-run encode+decode over
    // the corpus per reference.
    "q_knn_int8" -> ((s, dir) => {
      GraftSession.prepare(s)
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val dec = emb.select(col("vec_id"),
        graft.functions.Quant.int8Decode(
          graft.functions.Quant.int8Encode(col("embedding"))).as("embedding"))
        .localCheckpoint(true)
      val qv = dec.filter(col("vec_id") === 0)
        .select("embedding").as[Array[Float]].head()
      val q = Seq((0L, qv.toSeq)).toDF("qid", "qvec")
      graft.operators.Knn.flatSearch(
          dec, "vec_id", "embedding", q, "qid", "qvec", 10, Metric.L2)
        .select(col("id"), round(col("score"), 6).as("score"))
    }),

    // INT8 as a TABLE store type (reference store_type per vector field,
    // vector_manager.cc:79-95): vectors land on disk as
    // struct(scale, tinyint codes), 4x smaller; every read path decodes
    // back to the float surface. Brute search over the stored table must
    // hash-match the oracle computing the same quantized vectors.
    "q_table_int8" -> ((s, dir) => {
      GraftSession.prepare(s)
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft_i8").toString
      val emb = t(s, dir, "embeddings")
      val docs0 = emb.select(col("vec_id").cast("string").as("_id"),
        col("embedding").as("vec"))
      val tbl = graft.table.GammaTable.create(s, root, "i8", "_id", docs0,
        Seq(graft.table.VectorFieldDef("vec", 64, store = "INT8")), nBuckets = 8)
      // query through the TABLE's decoded surface so corpus and query ride
      // the same quantization (the oracle quantizes its query identically)
      val qvec = tbl.docs.filter(col("_id") === "0").select("vec")
        .as[Array[Float]].head()
      tbl.search(graft.core.SearchRequest(
          topn = 10,
          vecQueries = Seq(graft.core.VecQuery("vec", qvec)),
          metric = Metric.L2))
        .select(col("_id"), round(col("score"), 6).as("score"))
    }),

    // C4-style span dedup: every 15-word span occurring anywhere else in
    // the corpus survives only at its first occurrence (min doc_id, pos);
    // each document's text is rebuilt from its surviving spans.
    "q_text_dedup_spans" -> ((s, dir) =>
      graft.text.TextOps.dedupSpans(
        t(s, dir, "documents"), "doc_id", "text", spanWords = 15)),

    // Quality-keeper dedup: of every near-dup cluster keep the
    // best-scoring member (ties: min doc_id); singletons untouched.
    "q_dedup_keep_best" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = graft.dedup.Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.5)
      val clusters = graft.dedup.Dedup.duplicateClusters(pairs)
      graft.dedup.Dedup.keepBestPerCluster(
          d.select(col("doc_id"), col("lang"),
            (col("doc_id") % 101).cast("long").as("score")),
          "doc_id", "score", clusters)
        .select(col("doc_id"), col("lang"), col("score"))
    }),

    // SimHash near-dup: 60-bit signature, 4x15-bit block candidates,
    // hamming verify.
    "q_dedup_simhash" -> ((s, dir) => {
      graft.dedup.Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)
    }),

    // n-gram Jaccard brute-force pairs.
    "q_ngram_jaccard" -> ((s, dir) => {
      graft.dedup.Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.4)
    }),

    // ngram-Jaccard via the MinHash-LSH path — THE scale arm: the exact
    // AllPairs prefix-filter verify shuffle exceeds a single host's disk
    // at the 1000x replica (documented r11/r12 boundary), banding is how
    // the operator survives 100 TB. Approximate by design -> verdict
    // gate: brute_pairs is the oracle's own prefix-filter recount (real
    // cross-engine check), soundness is structural (both arms
    // exact-verify Jaccard at the same threshold, so LSH \ brute must be
    // empty), and the recall floor pins banding quality (32 hashes x 16
    // bands of 2 rows: P(candidate) = 1-(1-J^2)^16, ~0.94 at J=0.4 and
    // ~0.999 at J=0.6).
    "q_ngram_jaccard_lsh" -> ((s, dir) => {
      GraftSession.prepare(s)
      val docs = t(s, dir, "documents")
      // ONE shingle pass for both arms: LSH-verify and the AllPairs
      // adjudication arm consume the identical (id, sorted-hashed-shingles)
      // frame, and the arms materialize as separate actions in the verdict
      // — unshared, the corpus was re-shingled once per arm
      val toks = graft.dedup.Dedup.withShingles(docs, "doc_id", "text", 3)
        .localCheckpoint(true)
      val lsh = graft.dedup.Dedup.minhashPairs(docs, "doc_id", "text",
        threshold = 0.4, numHashes = 32, bands = 16, sharedToks = Some(toks))
      val brute = graft.dedup.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        threshold = 0.4, sharedToks = Some(toks))
      graft.operators.GateVerdicts.pairsVerdict(s, lsh, brute,
        recallFloorMilli = 900)
    }),

    // Embedding-cosine near-dup, exact baseline.
    "q_embed_neardup" -> ((s, dir) => {
      GraftSession.prepare(s)
      graft.dedup.Dedup.cosinePairs(t(s, dir, "embeddings"), "vec_id", "embedding", 0.45)
    }),

    // Embedding near-dup via random-hyperplane LSH buckets — approximate
    // by design, so the gate emits a driver-adjudicable verdict (r10):
    // the brute pair count is a REAL cross-engine check (the oracle
    // recomputes it with its own quadratic scan), the subset row pins the
    // operator's exact-verify step (no false positives, structural), and
    // the recall floor pins OR-amplification quality vs brute force.
    "q_embed_neardup_lsh" -> ((s, dir) => {
      GraftSession.prepare(s)
      val emb = t(s, dir, "embeddings")
      val lsh = graft.dedup.Dedup.cosineLshPairs(emb, "vec_id", "embedding", 0.45)
      val brute = graft.dedup.Dedup.cosinePairs(emb, "vec_id", "embedding", 0.45)
      graft.operators.GateVerdicts.pairsVerdict(s, lsh, brute, recallFloorMilli = 300)
    }),

    // Text stats: token counting (whitespace + BPE-ish), length stats.
    "q_text_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
        col("doc_id"),
        graft.text.TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        graft.text.TextOps.subwordCount(col("text")).as("n_subwords"),
        round(graft.text.TextOps.avgTokenLen(col("text")), 6).as("avg_len"),
        round(graft.text.TextOps.stopwordRatio(col("text")), 6).as("stop_ratio"))
    }),

    // Quality scoring.
    "q_text_quality" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.text.TextOps.qualityScore(col("text")).as("quality"))
    }),

    // Language-ID heuristic (marker-vocabulary argmax).
    "q_text_langid" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.text.TextOps.langPred(col("text")).as("lang_pred"),
        graft.text.TextOps.langHits(col("text")).as("hits"))
    }),

    // Rolling-hash document fingerprint.
    "q_text_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.text.TextOps.fingerprint(col("text")).as("fp"))
    }),

    // Gopher-style intra-doc repetition signal: duplicated-trigram
    // fraction per document (pure codegen, no shuffle).
    "q_text_repetition" -> ((s, dir) => {
      val g = graft.text.TextOps.rawNgrams(col("text"), 3)
      t(s, dir, "documents").select(
        col("doc_id"),
        size(g).cast("long").as("n_ngrams"),
        size(array_distinct(g)).cast("long").as("n_distinct"),
        round(graft.text.TextOps.ngramRepetition(col("text"), 3), 6).as("rep_ratio"))
    }),

    // PII redaction: mask emails / IPv4s / phone-like runs with typed
    // placeholders. The corpus is synthetic word salad, so the PII is
    // injected deterministically (same concat on both sides) — the oracle
    // checks the full redaction chain, not the generator.
    "q_text_redact" -> ((s, dir) => {
      val pii = concat(
        lit("reach user"), col("doc_id").cast("string"),
        lit("@mail.example.org or +1 555 24"), (col("doc_id") % 100).cast("string"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7 "),
        col("text"))
      t(s, dir, "documents").select(
        col("doc_id"), graft.text.TextOps.redactPii(pii).as("clean"))
    }),

    // BM25 lexical top-k: inverted-index build (one corpus shuffle) +
    // broadcast-query search; per-term contributions quantized to exact
    // integer micro-units so the score sum is order-independent.
    "q_bm25_topk" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val ix = graft.text.TextIndex.build(d, "doc_id", "text", maxDfRatio = 0.98)
      val q = d.filter(col("doc_id") % 97 === 0).orderBy(col("doc_id"))
        .limit(QueryBudget).select(
          col("doc_id").as("qid"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 8)).as("qtext"))
      graft.text.TextIndex.bm25(ix, q, "qid", "qtext", k = 10)
    }),

    // Hybrid retrieval: BM25 text arm + exact-cosine vector arm fused by
    // reciprocal rank (integer RRF micro-scores; rank ties broken by id).
    "q_hybrid_rrf" -> ((s, dir) => {
      GraftSession.prepare(s)
      val d = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val ix = graft.text.TextIndex.build(d, "doc_id", "text", maxDfRatio = 0.98)
      val q = d.filter(col("doc_id") % 97 === 0).orderBy(col("doc_id"))
        .limit(QueryBudget)
      val qt = q.select(col("doc_id").as("qid"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 8)).as("qtext"))
      val textArm = graft.text.TextIndex.rankHits(
        graft.text.TextIndex.bm25(ix, qt, "qid", "qtext", k = 20),
        "qid", "id", "score_micro", ascending = false)
      val qv = e.filter(col("vec_id") % 97 === 0).orderBy(col("vec_id"))
        .limit(QueryBudget)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val vecArm = graft.text.TextIndex.rankHits(
        Knn.flatSearch(e, "vec_id", "embedding", qv, "qid", "qvec",
          k = 20, metric = Metric.Cosine),
        "qid", "id", "score", ascending = false)
      graft.text.TextIndex.rrfFuse(textArm, vecArm, k = 10)
    }),

    // Token-window chunking with overlap — pure projection + posexplode,
    // zero shuffle.
    "q_text_chunk" -> ((s, dir) => {
      graft.text.TextOps.chunk(t(s, dir, "documents"), "doc_id", "text",
        maxTokens = 32, overlap = 8)
    }),

    // Corpus-trained bigram-LM quality score (CCNet-style): top-512
    // bigram model (broadcast), exact integer log-prob micro-units.
    "q_lm_score" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val model = graft.text.LangModel.train(d, "text", maxBigrams = 512)
      graft.text.LangModel.score(d, "doc_id", "text", model)
    }),

    // JL sign random projection: 64-dim float embeddings compressed to
    // 16-dim — data-independent, md5-derived sign matrix, zero shuffle.
    "q_embed_project" -> ((s, dir) => {
      // flattened to (vec_id, dim, val) rows — the driver's compare
      // sorts rows by column values, which needs scalars
      graft.operators.Project.signProject(
          t(s, dir, "embeddings"), "vec_id", "embedding", dIn = 64, dOut = 16)
        .select(col("vec_id"), posexplode(col("proj")))
        .toDF("vec_id", "dim", "val")
        .select(col("vec_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // Deterministic stratified sampling: exactly ceil(0.2·|lang|) docs
    // per language, membership by shared md5-hash order — only
    // (group, id, hash) triplets cross the rank shuffle.
    "q_sample_stratified" -> ((s, dir) => {
      graft.operators.Sample.stratifiedExact(
        t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        "lang", "doc_id", frac = 0.2)
    }),

    // Token-budget corpus selection: greedy take in (score DESC, doc_id)
    // order while the doc still fits the global budget — distributed
    // prefix sum + budget-pruned second pass.
    "q_corpus_select" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        col("n_chars").cast("long").as("n_chars"),
        (col("doc_id") % 101).cast("long").as("score"))
      graft.operators.CorpusSelect
        .selectByBudget(d, "doc_id", "score", "n_chars", budget = 60000)
        .select(col("doc_id"), col("score"), col("n_chars"), col("sel_offset"))
    }),

    // Per-domain budget selection: each lang gets its own token cap (the
    // per-source curation step), one range partitioning serving every
    // domain's prefix sum.
    "q_corpus_select_domain" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"),
        (col("doc_id") % 101).cast("long").as("score"))
      graft.operators.CorpusSelect.selectByBudgetPerGroup(
          d, "doc_id", "lang", "score", "n_chars",
          Map("en" -> 20000L, "de" -> 8000L), defaultBudget = 5000L)
        .select(col("doc_id"), col("lang"), col("score"), col("n_chars"),
          col("sel_offset"))
    }),

    // Waterfill: global 20k-token budget with per-domain ceilings — a
    // domain that underflows its ceiling spills its unused allowance to
    // the others (stage 1 caps per domain, stage 2 fills the global budget
    // over survivors in global quality order).
    "q_corpus_select_waterfill" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"),
        (col("doc_id") % 101).cast("long").as("score"))
      graft.operators.CorpusSelect.selectWaterfill(
          d, "doc_id", "lang", "score", "n_chars",
          globalBudget = 20000L,
          ceilings = Map("en" -> 12000L, "de" -> 6000L),
          defaultCeiling = 4000L)
        .select(col("doc_id"), col("lang"), col("score"), col("n_chars"),
          col("domain_offset"), col("sel_offset"))
    }),

    // Benchmark decontamination: docs sharing >= 5 distinct trigrams with
    // the "eval" slice (doc_id % 7 == 0 stands in for a benchmark corpus)
    // are flagged with their distinct-overlap count.
    "q_decontam" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.dedup.Dedup.contaminationHits(
        d.filter(col("doc_id") % 7 =!= 0), "doc_id", "text",
        d.filter(col("doc_id") % 7 === 0), "text",
        shingleN = 3, minHits = 5)
    }),

    // Sliding-window decontamination (the GPT-3-style "any overlapping
    // n-gram" rule counts window POSITIONS, not distinct grams): every
    // occurrence of an eval trigram in the doc counts toward hits.
    "q_decontam_window" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.dedup.Dedup.contaminationHits(
        d.filter(col("doc_id") % 7 =!= 0), "doc_id", "text",
        d.filter(col("doc_id") % 7 === 0), "text",
        shingleN = 3, minHits = 5, windowed = true)
    }),

    // Windowed co-occurrence + PMI (word2vec/GloVe corpus statistic):
    // pair generation is a per-doc projection (no self-join); the only
    // corpus shuffles are the two wordcount groupBys; PMI in exact
    // ln-micro-units (the LangModel cross-engine class).
    "q_pmi_cooccur" -> ((s, dir) =>
      graft.text.Cooccur.pmi(
        t(s, dir, "documents"), "text", window = 2, minCount = 5)),

    // Bloom-filter decontamination: eval grams carried as a word-packed
    // mergeable Bloom sketch (m/32 BIGINT words, bit_or-merged) instead
    // of a raw gram set — the broadcast stays operator-sized when the
    // holdout outgrows a comfortable exact broadcast. exactHits is the
    // gate/verification mode (production leaves it off so the eval grams
    // never materialize past the sketch build): exact hits ride alongside
    // so the oracle checks the FP algebra, not just shapes.
    "q_bloom_decontam" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.dedup.Dedup.bloomContaminationHits(
        d.filter(col("doc_id") % 7 =!= 0), "doc_id", "text",
        d.filter(col("doc_id") % 7 === 0), "text",
        shingleN = 3, minHits = 5, mBits = 1 << 20, k = 4,
        exactHits = true)
    }),

    // REAL multimodal metadata: container-header parsing (PNG/GIF/JPEG/
    // WAV byte walks — no codec needed for geometry) over deterministic
    // spec-compliant header fixtures derived from (doc_id, n_chars); the
    // oracle states the expected parse from those integers alone, so the
    // gate round-trips public-spec compliance of synth AND parser.
    // Nulls coalesce to 0 (nullable-int parquet surfaces as float64 in
    // the driver's pandas compare — the dtype-kind trap).
    "q_media_headers" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val parsed = graft.media.MediaHeaders.parseHeaders(
        graft.media.MediaHeaders.synthHeaderPayload(d, "doc_id", "n_chars"), "bytes")
      parsed.select(col("doc_id"), col("media_kind"),
        coalesce(col("width"), lit(0)).cast("long").as("width"),
        coalesce(col("height"), lit(0)).cast("long").as("height"),
        coalesce(col("sample_rate"), lit(0)).cast("long").as("sample_rate"),
        coalesce(col("channels"), lit(0)).cast("long").as("channels"))
    }),

    // v2 (r10): ISO-BMFF (MP4 — ftyp/moov/trak/tkhd box walk, 16.16
    // geometry, mvhd v0/v1 duration at timescale 600) and TIFF/EXIF
    // (II/MM byte orders, IFD0 entry scan, SHORT and LONG dims). The
    // fixture varies container-layout knobs the oracle can't observe
    // (box versions, endianness, value types) from id bits, so the gate
    // proves the parser handles the spec's variants, not one layout.
    "q_media_headers_v2" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val parsed = graft.media.MediaHeaders.parseHeaders(
        graft.media.MediaHeaders.synthContainerPayload(d, "doc_id", "n_chars"), "bytes")
      parsed.select(col("doc_id"), col("media_kind"),
        coalesce(col("width"), lit(0)).cast("long").as("width"),
        coalesce(col("height"), lit(0)).cast("long").as("height"),
        coalesce(col("duration_ms"), lit(0L)).as("duration_ms"))
    }),

    // Multimodal plumbing: opaque binary column + typed metadata (decode
    // itself is stubbed — see graft.media.MediaOps).
    "q_media_meta" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("nbytes"),
        md5(col("text")).as("sig"))
    }),

    // REAL image decode (r12 — the decode kernels stop being stubs for
    // every JDK-decodable format): per doc, a synthesized PNG (row
    // filters cycling 0-4, zlib IDAT), 24-bit BMP, or GIF (variable-width
    // LZW, palette, interlace on even ids) carrying pixels from a
    // closed-form generator; the engine decodes in ONE mapPartitions pass
    // and emits exact per-channel integer sums, which the oracle
    // recomputes from the same generator arithmetic — so the whole codec
    // path is hash-checked row by row. Pixels never leave the executor
    // (only the bounded stats do).
    "q_media_decode" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val payloads = graft.media.MediaDecode.synthImagePayload(ids, "doc_id")
      graft.media.MediaDecode.imageStats(payloads, "doc_id", "bytes")
        .select(col("doc_id"), col("fmt"), col("width"), col("height"),
          col("r_sum"), col("g_sum"), col("b_sum"))
    }),

    // REAL resize: decode -> nearest-neighbor resample to 8x8 -> channel
    // sums in the same pass; the oracle recomputes the resample's source
    // coordinates ((x*w)//8, (y*h)//8) exactly.
    "q_media_resize" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val payloads = graft.media.MediaDecode.synthImagePayload(ids, "doc_id")
      graft.media.MediaDecode.resizeStats(payloads, "doc_id", "bytes", 8, 8)
    }),

    // REAL baseline-JPEG decode (r13 — the former last stub): Huffman
    // entropy decode, dequant, IDCT, pad-crop — on DC-exact tiled
    // fixtures, so the oracle recomputes every decoded pixel closed-form
    // (see MediaDecode.synthJpegPayload for why flat blocks + DC quant 1
    // make a lossy codec bit-exact).
    "q_media_jpeg" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val payloads = graft.media.MediaDecode.synthJpegPayload(ids, "doc_id")
      graft.media.MediaDecode.imageStats(payloads, "doc_id", "bytes")
        .select(col("doc_id"), col("fmt"), col("width"), col("height"),
          col("channels"), col("r_sum").as("gray_sum"))
    }),

    // MP4 SAMPLE-TABLE indexing (r13): the container-level half of video
    // frame sampling — per-sample byte ranges and timestamps from the
    // stbl walk (stsz sizes, multi-run stsc, stco/co64 alternating by id,
    // stts deltas), codec-agnostic (payload opaque; entropy decode stays
    // the documented boundary). The fixture puts mdat BEFORE moov so
    // chunk offsets are closed-form (32 + prefix sums) and the oracle
    // recomputes every (offset, size, pts) row.
    "q_media_mp4_samples" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val payloads = graft.media.Mp4Index.synthMp4Payload(ids, "doc_id")
      graft.media.Mp4Index.sampleIndex(payloads, "doc_id", "bytes")
    }),

    // MP4 TRACK/CODEC metadata (r14): the "filter by codec/resolution
    // BEFORE the decode stage" pass — stsd sample-entry walk (visual
    // width/height, audio channels/sample-rate, mdhd timescale),
    // executor-local, unknown codecs degrade to kind=other instead of
    // killing the scan. Fixture codecs closed-form by id%3
    // (avc1/hvc1/mp4a).
    "q_media_mp4_codec" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val payloads = graft.media.Mp4Index.synthMp4Payload(ids, "doc_id")
      graft.media.Mp4Index.trackInfo(payloads, "doc_id", "bytes")
    }),

    // FRAGMENTED MP4 (r14): the DASH/HLS container shape — empty stbl,
    // samples carried in moof/traf/trun movie fragments. The walk honors
    // trex defaults, both tfhd addressing modes (explicit base-data-offset
    // on even ids, default-base-is-moof on odd), tfdt base decode times
    // (v0/v1, with REAL +1000/fragment gaps so honoring them is
    // observable; absent on id%7==0 -> dts continues across fragments),
    // per-sample vs first-sample-flags sync marking, and trun composition
    // offsets (v1 signed on odd ids). Every box size is closed-form in id,
    // so the oracle recomputes every absolute byte offset.
    "q_media_mp4_fragmented" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val payloads = graft.media.Mp4Index.synthMp4FragmentedPayload(ids, "doc_id")
      graft.media.Mp4Index.sampleIndex(payloads, "doc_id", "bytes")
    }),

    // MP4 KEYFRAME sampling (r14 — the "sample N keyframes per video"
    // entry point a GPU decode stage seeks by): stss sync flags + ctts
    // composition offsets (version 1 signed — the B-frame H.264 shape)
    // turn the sample index into per-tick seek targets: for every
    // presentation tick (every 150 timescale units = 0.25 s at the
    // fixture's 600), the sync sample with the smallest pts at-or-after
    // it. The fixture writes closed-form stss (sync = every 3rd sample;
    // absent on id%3==0 docs -> all-sync default) and ctts (absent on
    // id%5==0; v0 unsigned on even ids, v1 SIGNED incl. negative offsets
    // on odd), so the oracle recomputes every (tick, sample, pts) row.
    "q_media_mp4_keyframes" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val payloads = graft.media.Mp4Index.synthMp4Payload(ids, "doc_id")
      graft.media.Mp4Index.keyframeIndex(payloads, "doc_id", "bytes", everyPts = 150L)
    }),

    // EDIT-LIST keyframe sampling (r14): nearly every B-frame H.264 file
    // carries an elst compensating the initial composition delay —
    // presentation = pts - media_time, optionally behind a leading EMPTY
    // edit inserting movie-timescale delay. Ticks live on the
    // PRESENTATION timeline, so the seek target is the first sync sample
    // with pts >= tick + shift. Fixture: same sample tables (mdat
    // precedes moov, offsets unchanged) with v0 normal-only elst on
    // id%3==0 (shift = delta), v1 empty+normal on id%3==1 (shift = delta
    // - 2*(7+id%5), the 300-vs-600 timescale conversion observable), no
    // edts on id%3==2 (in-corpus control). Multi-segment / rate edits
    // are refused, spec-pinned.
    "q_media_mp4_keyframes_edit" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val payloads = graft.media.Mp4Index.synthMp4EditedPayload(ids, "doc_id")
      graft.media.Mp4Index.keyframeIndex(payloads, "doc_id", "bytes", everyPts = 150L)
    }),

    // Container-level VIDEO dedup at zero decode cost (r14): md5 over the
    // stsz sample-size sequence — re-muxing preserves coded sample bytes
    // and therefore sizes, so re-muxed copies collide while distinct
    // streams essentially never do. The corpus plants a re-muxed twin
    // (different box layout, offsets, payload bytes; same stream tables)
    // for every 10th doc, and ids congruent mod 90 share size sequences
    // outright (generator period), so REAL mass groups form too. Output:
    // every container in a >=2 group with its group keeper (min id) —
    // linear in docs, never pair-shaped.
    "q_media_mp4_dupsig" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val corpus = graft.media.Mp4Index.synthMp4RemuxCorpus(ids, "doc_id")
      // materialize once: sigs feeds BOTH the group census and the member
      // join — unmaterialized, every container parses twice
      val sigs = graft.media.Mp4Index.sizeSignature(corpus, "doc_id", "bytes")
        .select(col("doc_id"), col("sig"))
        .localCheckpoint(true)
      val groups = sigs.groupBy(col("sig"))
        .agg(min(col("doc_id")).as("group_id"), count(lit(1)).as("__cnt"))
        .filter(col("__cnt") > 1)
        .drop("__cnt")
      sigs.join(groups, Seq("sig")).select(col("doc_id"), col("sig"), col("group_id"))
    }),

    // MULTI-TRACK MP4 (r14): real containers carry >= 2 streams and audio
    // is often muxed FIRST — indexing "the first trak" silently indexes
    // the wrong stream. The fixture shares one mdat between an audio
    // track (track 1, soun, chunks of 2, delta 1024, all-sync) muxed
    // BEFORE the video track (track 2, vide, synthMp4's exact tables at
    // audio-shifted offsets); trackSampleIndex emits EVERY track's
    // samples with (track_id, handler), and the single-track surface is
    // spec-proven to select the video stream. Oracle recomputes both
    // tracks' rows closed-form.
    "q_media_mp4_multitrack" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val payloads = graft.media.Mp4Index.synthMp4MultiTrackPayload(ids, "doc_id")
      graft.media.Mp4Index.trackSampleIndex(payloads, "doc_id", "bytes")
    }),

    // VIDEO CLIP detection (r14): a clip re-muxed from a longer stream
    // keeps the cut range's coded sample bytes, so its stsz size SEQUENCE
    // is a contiguous run inside the source's — the container-level
    // answer to "which of these short videos are cuts of corpus videos",
    // at zero decode cost. Width-4 shingle equi-join proposes candidates,
    // a re-join verifies slice equality (linear window rows, sequences
    // never duplicated per window, plan free of cartesian joins —
    // spec-pinned). The fixture plants a [1, 5+id%2) cut of every 7th
    // doc over ENTROPY sizes (two coprime moduli through a quadratic —
    // the plain fixture's arithmetic-progression sizes would collapse
    // every window to ~90 classes and percolate chance matches, the
    // audio-fixture lesson); chance containments at the replica stay
    // bounded and BOTH sides compute them, so the oracle is exact.
    "q_media_mp4_clip" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val corpus = graft.media.Mp4Index.synthMp4EntropyPayload(ids, "doc_id")
      val clips = graft.media.Mp4Index.synthMp4ClipPayload(ids, "doc_id")
      graft.media.Mp4Index.clipPairs(clips, corpus, "doc_id", "bytes", minLen = 4)
    }),

    // Per-track codec inventory (r14): trackInfoAll emits one stsd row
    // per TRACK — the "which containers carry what, stream by stream"
    // pass a single-track summary cannot answer. Fixture: track 1 mp4a
    // (1+id%2 ch, 48 kHz, timescale 48000), track 2 avc1/hvc1 by parity
    // with arithmetic dims at timescale 600.
    "q_media_mp4_trackinfo" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val payloads = graft.media.Mp4Index.synthMp4MultiTrackPayload(ids, "doc_id")
      graft.media.Mp4Index.trackInfoAll(payloads, "doc_id", "bytes")
    }),

    // MULTI-TRACK FRAGMENTED MP4 (r14): the muxed-DASH shape — each moof
    // carries one traf PER STREAM over a shared mdat, so the per-track
    // walk must filter trafs by tfhd track_ID and use ITS trex defaults
    // (audio: dur 512, sync; video: dur 100+id%50, non-sync with
    // per-sample flags). Every box size is closed-form (header constant
    // 638), so the oracle recomputes every absolute byte offset of both
    // interleaved streams.
    "q_media_mp4_frag_multitrack" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val payloads = graft.media.Mp4Index.synthMp4FragMultiTrackPayload(ids, "doc_id")
      graft.media.Mp4Index.trackSampleIndex(payloads, "doc_id", "bytes")
    }),

    // REAL audio decode: WAV-PCM16 payloads from a closed-form sample
    // generator; the engine walks RIFF chunks, decodes PCM and emits
    // exact integer statistics (energy, L1, peak) per doc.
    "q_media_audio" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val payloads = graft.media.MediaDecode.synthAudioPayload(ids, "doc_id")
      graft.media.MediaDecode.audioStats(payloads, "doc_id", "bytes")
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("sum_sq"), col("sum_abs"), col("peak"))
    }),

    // AUDIO near-dup, end to end (r14 — the audio half of multimodal
    // dedup): WAV decode -> 64-frame energy fingerprint (mean-threshold
    // bits, the Haitsma-Kalman shape in exact integers) -> the SAME
    // collapse-then-blocked-Hamming join images use. The corpus plants a
    // perturbed twin (first sample +100) for every 10th doc; the oracle
    // recomputes the ENTIRE pipeline — samples, frame energies, bits,
    // block keys, candidates, hamming — closed-form in SQL.
    // GRAFT_MEDIA_NEARDUP_BLOCKS is the same LSH operating point the
    // image gate documents: at 5M docs, 16-bit blocks put ~84 docs in
    // every bucket (~1e9 candidates — measured: it spills the local disk)
    // while 32-bit blocks collide ~birthday-rarely; the 1000x sweeps run
    // blocks=2, and the oracle interpolates the SAME value.
    "q_media_audio_neardup" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val corpus = graft.media.MediaDecode.synthAudioNearDupCorpus(ids, "doc_id")
      val hashed = graft.media.MediaDecode.audioFingerprint64(corpus, "doc_id", "bytes")
      graft.dedup.Dedup.hammingPairs(hashed, "doc_id", "afp64",
        bits = 64, blocks = mediaNearDupBlocks, maxHamming = 3)
    }),

    // Multimodal near-dup, END TO END: decode real image payloads ->
    // 64-bit aHash fingerprint -> banded Hamming join (4 x 16-bit blocks;
    // any pair within hamming < 4 shares a block, so those are found with
    // CERTAINTY) -> popcount-verified pairs. The corpus plants a
    // perturbed BMP twin for every 10th doc (one sampled pixel shifted);
    // the oracle recomputes the ENTIRE pipeline closed-form in SQL —
    // pixels, 8x8 resample, mean-threshold bits, block keys, pair join,
    // hamming — so decode, fingerprint and banding are all hash-checked.
    // Scale: |docs| x 4 exploded block keys into ONE equi-join, never
    // all-pairs (plan-asserted in MediaDecodeSpec).
    // Block width is an LSH operating point: like minhash bands, it
    // trades candidate volume against the certainty radius, so the scale
    // sweeps can widen blocks as the corpus grows (at 5M docs, 16-bit
    // blocks put ~84 docs in every bucket — ~1e9 candidate pairs — while
    // 32-bit blocks collide ~birthday-rarely). GRAFT_MEDIA_NEARDUP_BLOCKS
    // overrides (default 4); the ORACLE below interpolates the SAME value
    // so gate and oracle always describe one operating point.
    "q_media_neardup" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val corpus = graft.media.MediaDecode.synthNearDupCorpus(ids, "doc_id")
      val hashed = graft.media.MediaDecode.imageStats(corpus, "doc_id", "bytes")
        .select(col("doc_id"), col("ahash64"))
      graft.dedup.Dedup.hammingPairs(hashed, "doc_id", "ahash64",
        bits = 64, blocks = mediaNearDupBlocks, maxHamming = 3)
    }),

    // ...and folded to duplicate CLUSTERS (min-label connected components)
    // — the image dedup-group story end to end: decode -> fingerprint ->
    // collapse identical hashes -> banded candidates over DISTINCT
    // fingerprints -> verify -> cluster reps -> members inherit labels.
    // hammingClusters (r14) never materializes id-level pairs: work and
    // output stay linear in docs + distinct-hash pairs even when one
    // fingerprint covers millions of docs (the web-corpus shape). Output
    // contract — and therefore the oracle — identical to
    // duplicateClusters(hammingPairs(...)).
    "q_media_neardup_clusters" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val corpus = graft.media.MediaDecode.synthNearDupCorpus(ids, "doc_id")
      val hashed = graft.media.MediaDecode.imageStats(corpus, "doc_id", "bytes")
        .select(col("doc_id"), col("ahash64"))
      graft.dedup.Dedup.hammingClusters(hashed, "doc_id", "ahash64",
        bits = 64, blocks = mediaNearDupBlocks, maxHamming = 3)
    }),

    // The DUP-HEAVY decade point (r14): every doc's payload is source
    // image `doc_id % G` with G = min(n/24, 2500) — identical-fingerprint
    // groups of ~24 docs at sf0.01 and ~2000 at the 1000x replica, the
    // adversarial mass-duplicate shape the unique-corpus gates above
    // cannot exercise. The collapse keeps the blocked join over G
    // distinct hashes (not n docs) and the cluster output linear in n;
    // the id-level pair surface would be quadratic in group size, which
    // is exactly why this gate is clusters-only. The oracle recomputes
    // hashes per distinct source, groups by full hash, closes over
    // representative edges, and expands members — all closed-form.
    "q_media_neardup_dupheavy" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val g = math.min(2500L, math.max(1L, ids.count() / 24L))
      val corpus = graft.media.MediaDecode.synthDupHeavyCorpus(ids, "doc_id", g)
      val hashed = graft.media.MediaDecode.imageStats(corpus, "doc_id", "bytes")
        .select(col("doc_id"), col("ahash64"))
      graft.dedup.Dedup.hammingClusters(hashed, "doc_id", "ahash64",
        bits = 64, blocks = mediaNearDupBlocks, maxHamming = 3)
    }),

    // S12 — TEXMEX vecs source: export a slice of the embeddings table to
    // an fvecs file (the reference's benchmark corpus format, fvecs_read
    // in tests/test.h:274-304), read it back through the splittable
    // DataSource V2, and surface (row_id, dim, e0) for the exact oracle.
    // row_id is the record's file position == rank of vec_id in the
    // exported (vec_id-ordered) slice.
    "q_vecs_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val slice = t(s, dir, "embeddings").filter(col("vec_id") < 500)
        .orderBy("vec_id").select(col("embedding"))
        .as[Array[Float]].collect()
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_vecs_roundtrip.fvecs"
      graft.sources.Vecs.write(s, path, "fvecs", slice.iterator)
      s.read.format("vecs").load(path).select(
        col("row_id"),
        size(col("vec")).cast("long").as("dim"),
        element_at(col("vec"), 1).cast("double").as("e0"))
    }),

    // S12 distributed side — bulk export of the embeddings table to
    // per-partition fvecs files (range-partitioned on vec_id, so the
    // path-sorted re-read's positional row_id IS the vec_id rank), then a
    // splittable re-read. Verifies the full export->import cycle against
    // the parquet-side oracle.
    "q_vecs_export" -> ((s, dir) => {
      // per-run unique dir: a fixed path would let two concurrent harness
      // runs overwrite each other's part files mid-scan. Deleted on JVM
      // exit — repeated harness runs must not accumulate export copies
      // (the re-read is consumed within this process, so exit-time
      // cleanup is safe).
      val outDir = java.nio.file.Files.createTempDirectory("graft_vecs_export")
      sys.addShutdownHook {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(outDir).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
      val out = outDir.toString
      graft.sources.Vecs.exportPartitioned(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        "embedding", out, "fvecs", orderCol = Some("vec_id"), numPartitions = 4)
      s.read.format("vecs").load(out).select(
        col("row_id"),
        size(col("vec")).cast("long").as("dim"),
        element_at(col("vec"), 1).cast("double").as("e0"),
        element_at(col("vec"), size(col("vec"))).cast("double").as("e_last"))
    }),

    // Deterministic mixture sampling (beyond-reference pipeline op):
    // per-language target fractions via an id-hash uniform — a pure
    // codegen filter (no RNG state, no shuffle), reproduced row-by-row
    // by the oracle.
    "q_mix_sample" -> ((s, dir) => {
      graft.operators.Mix.sampleByFraction(
          t(s, dir, "documents").select(col("doc_id"), col("lang")),
          "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.2), default = 0.1)
    }),

    // Training-sequence packing (beyond-reference pipeline op): GPT-style
    // concat-and-chunk over the documents stream in doc_id order, as a
    // distributed two-pass prefix sum (the global-window formulation is
    // the DuckDB oracle). n_chars stands in for the token count — the
    // operator takes any non-negative weight column.
    "q_seq_pack" -> ((s, dir) => {
      graft.operators.SeqPack.assign(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", budget = 4096)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("start_offset"), col("pack_id"), col("pack_offset"))
    }),

    // T8-at-scale — salted two-stage aggregation for skewed group keys:
    // identical result to the plain GROUP BY (associative aggs), uniform
    // shuffle under hot keys.
    "q_agg_salted" -> ((s, dir) => {
      graft.operators.SkewAgg.saltedSumCount(
          t(s, dir, "events"), Seq("event_type"), "value", saltFrom = "user_id")
        .select(col("event_type"), round(col("sum_value"), 2).as("sum_value"), col("cnt"))
    }),

    // Sessionization (beyond-reference pipeline op): gap-based sessions
    // per user via lag + running-sum windows; the streaming
    // flatMapGroupsWithState twin is equality-tested in StreamingSpec.
    "q_sessionize" -> ((s, dir) => {
      graft.streaming.Sessionize.batch(
          t(s, dir, "events"), "user_id", "ts", "event_id", "value",
          gapSeconds = 1800)
        .select(col("user_id"), col("session_id"), col("session_start_us"),
          col("session_end_us"), col("n_events"), col("sum_value"))
    }),

    // A7 — windowed event aggregation (built-in coverage; also the batch
    // shape of the streaming pipeline R5).
    "q_events_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(
          window(col("ts"), "1 hour").getField("start").as("ws"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
    }),

    // As-of join (beyond-reference; Spark has no such operator): each
    // click attached to the SAME user's latest view at-or-before it —
    // union-and-sweep, one keyed Exchange, never an inequality nested
    // loop. Oracle independence: DuckDB's native ASOF LEFT JOIN (a
    // different algorithm entirely) over a max-tie-deduped build side.
    "q_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_id"), col("value").as("view_value"))
      graft.operators.AsofJoin.backward(
          clicks, views, Seq("user_id"), "ts", "ts", "view_id",
          Seq("view_id" -> "view_id", "ts" -> "view_ts",
            "view_value" -> "view_value"))
        // unmatched clicks keep LEFT semantics but surface as -1
        // sentinels: a NULL in the gate output would hash NaN vs NaN in
        // the driver's pandas compare
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("click_us"),
          coalesce(col("view_id"), lit(-1L)).as("view_id"),
          coalesce(unix_micros(col("view_ts")), lit(-1L)).as("view_us"),
          coalesce(round(col("view_value"), 2), lit(-1.0)).as("view_value"))
    }),

    // Forward as-of with tolerance (the rest of the merge_asof surface):
    // each click attached to the SAME user's NEXT purchase, nulled to -1
    // sentinels when it is more than two hours out — the attribution-
    // window shape. Oracle: DuckDB ASOF with the reversed inequality plus
    // a tolerance CASE.
    "q_asof_fwd_tol" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("buy_id"), col("value").as("buy_value"))
      graft.operators.AsofJoin.asof(
          clicks, buys, Seq("user_id"), "ts", "ts", "buy_id",
          Seq("buy_id" -> "buy_id", "ts" -> "buy_ts",
            "buy_value" -> "buy_value"),
          forward = true, tolerance = Some(7200000000L))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("click_us"),
          coalesce(col("buy_id"), lit(-1L)).as("buy_id"),
          coalesce(unix_micros(col("buy_ts")), lit(-1L)).as("buy_us"),
          coalesce(round(col("buy_value"), 2), lit(-1.0)).as("buy_value"))
    }),

    // Range join (beyond-reference): clicks inside 4-hour post-purchase
    // promo windows per user, via domain binning — equi-join on
    // (user, bin) + residual BETWEEN, never a BroadcastNestedLoopJoin.
    // Oracle is the plain inequality join, independent of the binning.
    "q_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("click_us"))
      val promos = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("promo_id"),
          unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts")) + lit(14400000000L)).as("end_us"))
      graft.operators.RangeJoin.binned(
          clicks, promos, Seq("user_id"), "click_us", "start_us", "end_us",
          binWidth = 14400000000L)
        .select(col("user_id"), col("click_id"), col("promo_id"),
          col("click_us"), col("start_us"))
    }),

    // URL hygiene (CCNet/RefinedWeb-style curation): host extraction,
    // registered-domain reduction, tracking-param-stripping normalization,
    // broadcast blocklist flag. URLs are derived deterministically from
    // doc fields (mixed case, ports, utm params, fragments), so the oracle
    // constructs the EXPECTED outputs directly from the fields while the
    // engine must parse them back out of the string — two independent
    // derivations of the same answer.
    "q_url_ops" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val id = col("doc_id")
      val url = concat(
        lit("HTTPS://"),
        when(id % 7 === 0, lit("CDN.")).otherwise(lit("")),
        col("source"), lit("."), col("lang"), lit("-Cdn.ORG"),
        when(id % 11 === 0, lit(":8080")).otherwise(lit("")),
        lit("/"), col("lang"), lit("/"), id.cast("string"),
        when(id % 3 === 0, concat(lit("?utm_source=feed&id="), id.cast("string")))
          .when(id % 5 === 0, concat(lit("?id="), id.cast("string"), lit("&utm_medium=x")))
          .otherwise(lit("")),
        when(id % 2 === 0, concat(lit("#sec"), (id % 4).cast("string")))
          .otherwise(lit("")))
      val blockDf = Seq("zh-cdn.org").toDF("domain")
      graft.text.UrlOps.withUrlColumns(docs.select(id, url.as("url")), "url")
        .join(broadcast(blockDf), col("registered_domain") === col("domain"), "left")
        .select(id, col("host"), col("registered_domain"), col("url_norm"),
          col("domain").isNotNull.as("blocked"))
    }),

    // Per-group quantile quality filter: keep the best 25% of every
    // language by quality score — rank-exact, score rounded so rank order
    // cannot hinge on float ulps; only (lang, score, id) triplets cross
    // the rank shuffle, the payload semi-joins back.
    "q_quality_topfrac" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val q = round(graft.text.TextOps.qualityScore(col("text")), 6)
      graft.operators.Sample.topFractionPerGroup(docs, "lang", "doc_id", q, 0.25)
        .select(col("doc_id"), col("lang"),
          round(graft.text.TextOps.qualityScore(col("text")), 6).as("quality"))
    }),

    // Nearest as-of join (the third merge_asof direction): each click
    // attached to the SAME user's closest view in either time direction
    // (tie -> backward, pandas semantics), nulled past a 1-hour
    // tolerance. Oracle: DuckDB's native ASOF joins BOTH ways + a
    // closer-pick CASE — a different algorithm from the engine's
    // one-Exchange two-window sweep.
    "q_asof_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_id"), col("value").as("view_value"))
      graft.operators.AsofJoin.nearest(
          clicks, views, Seq("user_id"), "ts", "ts", "view_id",
          Seq("view_id" -> "view_id", "ts" -> "view_ts",
            "view_value" -> "view_value"),
          tolerance = Some(3600000000L))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("click_us"),
          coalesce(col("view_id"), lit(-1L)).as("view_id"),
          coalesce(unix_micros(col("view_ts")), lit(-1L)).as("view_us"),
          coalesce(round(col("view_value"), 2), lit(-1.0)).as("view_value"))
    }),

    // DSIR importance weighting (Xie et al. 2023): hashed unigram+bigram
    // target-vs-raw log-likelihood ratios in exact integer micro-units.
    // Target = the 'en' slice, raw = the full corpus; the 1024-bucket
    // dense model broadcasts, scoring is one per-doc integer sum.
    "q_dsir_score" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val m = graft.text.Dsir.modelFromSlice(
        d, "text", col("lang") === "en", buckets = 1024)
      graft.text.Dsir.score(d, "doc_id", "text", m, buckets = 1024)
    }),

    // BPE iteration-0 statistics: corpus-wide adjacent character-pair
    // counts over words, top 50 by (count desc, pair asc) — one
    // partial-aggregated shuffle, k-bounded TakeOrdered. (The full
    // merge-loop trainer Bpe.train is spec-gated against a Scala
    // reference; its per-iteration kernel is this same aggregation.)
    "q_bpe_pairs" -> ((s, dir) => {
      graft.text.Bpe.pairCounts(t(s, dir, "documents"), "text", k = 50)
    }),

    // Temperature-based mixture sampling (alpha = 0.5 multilingual-LM
    // re-weighting): per-source keep rates derived in exact integer
    // micro-units from the domain counts; keep = pure function of
    // (doc_id, counts), no corpus shuffle.
    "q_mix_temperature" -> ((s, dir) => {
      graft.operators.Mix.temperatureSample(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id", "source", targetRows = 2000, alpha = 0.5)
        .select(col("doc_id"), col("source"), col("keep_rate_micro"))
    }),

    // Leakage-safe train/val/test split: the split label hashes the
    // (source, lang) GROUP, so all docs of a group share a split and
    // near-duplicates within a source can never straddle the
    // train/eval boundary. Pure projection; exact micro-unit thresholds.
    "q_split_group" -> ((s, dir) => {
      graft.operators.Sample.splitByGroupHash(
          t(s, dir, "documents")
            .select(col("doc_id"), concat(col("source"), lit(":"), col("lang")).as("grp")),
          "grp", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("grp"), col("split"))
    }),

    // Hybrid retrieval through the REAL index path (the documented scale
    // story for q_hybrid_rrf's brute-force arm): BM25 text arm + IVFPQ
    // vector arm at an exact operating point (full probe + exhaustive
    // exact rerank), fused by integer RRF. The oracle's vector arm is an
    // independent brute-force L2 scan.
    "q_hybrid_rrf_ivf" -> ((s, dir) => {
      GraftSession.prepare(s)
      import s.implicits._
      val d = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val ix = graft.text.TextIndex.build(d, "doc_id", "text", maxDfRatio = 0.98)
      val qt = d.filter(col("doc_id") % 97 === 0).orderBy(col("doc_id"))
        .limit(QueryBudget).select(
          col("doc_id").as("qid"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 8)).as("qtext"))
      val textArm = graft.text.TextIndex.rankHits(
        graft.text.TextIndex.bm25(ix, qt, "qid", "qtext", k = 20),
        "qid", "id", "score_micro", ascending = false)
      val idx = graft.index.IndexRegistry.build("IVFPQ", s, e, "vec_id", "embedding",
        graft.index.IndexParams(ncentroids = 8, nsubvector = 8, recallNum = 100000))
      val qs = e.filter(col("vec_id") % 97 === 0).orderBy(col("vec_id"))
        .limit(QueryBudget)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().toSeq
      val vecArm = graft.text.TextIndex.rankHits(
        idx.search(qs, k = 20, nprobe = Some(8)),
        "qid", "id", "score", ascending = true)
      graft.text.TextIndex.rrfFuse(textArm, vecArm, k = 10)
    }),

    // Hybrid retrieval at the BUDGETED operating point — the documented
    // scale path q_hybrid_rrf_ivf's exact point cannot exercise past 10×
    // (its full-probe + exhaustive-rerank arm is intentionally
    // quadratic). The vector arm runs the IVFPQ index at a partial probe
    // (nprobe=4/16) with a bounded rerank pool (recallNum=50); the gate
    // output is a driver-adjudicable verdict table vs the exact FLAT-arm
    // fusion: coverage and per-query row counts the oracle recomputes
    // from the raw tables, plus an engine-computed rank-overlap floor
    // (the same knnVerdict contract as q_ivfpq_ann / q_hnsw_ann).
    "q_hybrid_rrf_ivf_scaled" -> ((s, dir) => {
      GraftSession.prepare(s)
      import s.implicits._
      val d = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val ix = graft.text.TextIndex.build(d, "doc_id", "text", maxDfRatio = 0.98)
      val qt = d.filter(col("doc_id") % 97 === 0).orderBy(col("doc_id"))
        .limit(QueryBudget).select(
          col("doc_id").as("qid"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 8)).as("qtext"))
      // materialized ONCE (k-bounded: nq x 20 rows): the text arm feeds BOTH
      // fusions, and those materialize as separate actions inside the
      // verdict — unmaterialized, the whole BM25 pipeline (postings explode,
      // df stats, top-k) executed once per action
      val textArm = graft.text.TextIndex.rankHits(
        graft.text.TextIndex.bm25(ix, qt, "qid", "qtext", k = 20),
        "qid", "id", "score_micro", ascending = false).localCheckpoint(true)
      val qs = e.filter(col("vec_id") % 97 === 0).orderBy(col("vec_id"))
        .limit(QueryBudget)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().toSeq
      // budgeted vector arm: partial probe, bounded rerank pool
      val idx = graft.index.IndexRegistry.build("IVFPQ", s, e, "vec_id", "embedding",
        graft.index.IndexParams(ncentroids = 16, nsubvector = 8, recallNum = 50))
      val vecScaled = graft.text.TextIndex.rankHits(
        idx.search(qs, k = 20, nprobe = Some(4)), "qid", "id", "score",
        ascending = true)
      val fusedScaled = graft.text.TextIndex.rrfFuse(textArm, vecScaled, k = 10)
      // exact arm: same text arm, FLAT vector arm, same fusion
      val flat = graft.index.IndexRegistry.build("FLAT", s, e, "vec_id", "embedding",
        graft.index.IndexParams())
      val vecExact = graft.text.TextIndex.rankHits(
        flat.search(qs, k = 20), "qid", "id", "score", ascending = true)
      val fusedExact = graft.text.TextIndex.rrfFuse(textArm, vecExact, k = 10)
      graft.operators.GateVerdicts.knnVerdict(s,
        fusedScaled.select("qid", "id"), fusedExact.select("qid", "id"),
        k = 10, recallFloorMilli = 500)
    }),

    // MMR diversification re-rank (Carbonell & Goldstein): top-20 cosine
    // candidates per query, then 4 greedy picks maximizing
    // 0.7·rel − (1−0.7)·maxSim over unit-vector dot products — the
    // K-bounded per-query greedy runs as flatMapGroups, parallel across
    // queries. Oracle: the same greedy unrolled as 4 pick CTEs.
    "q_mmr_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") % 97 === 0).orderBy(col("vec_id"))
        .limit(QueryBudget)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cands = Knn.flatSearch(e, "vec_id", "embedding", qv, "qid", "qvec",
        k = 20, metric = Metric.Cosine)
      graft.operators.Mmr.rerank(cands, "qid", "id",
          e, "vec_id", "embedding", k = 4, lambda = 0.7)
        .select(col("qid"), col("id"), col("mmr_rank"),
          round(col("mmr_score"), 6).as("mmr_score"))
    }),

    // Tar-shard (WebDataset-layout) round-trip: the documents table
    // writes out as hash-routed tar shards and reads back through the
    // DSv2 source. The oracle derives entry/length/digest DIRECTLY from
    // the source strings — two independent derivations; the engine's
    // must survive the tar encode/decode byte-exactly.
    "q_tar_roundtrip" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_tar").toString
      val d = t(s, dir, "documents").select(
        concat(col("doc_id").cast("string"), lit(".txt")).as("entry"),
        col("text").cast("binary").as("data"))
      graft.sources.TarShards.write(d, "entry", "data", root, numShards = 4)
      s.read.format("tarshard").load(root + "/*.tar")
        .select(col("entry"), col("length"), md5(col("data")).as("digest"))
    }),

    // Exact heavy hitters at bounded memory: Misra-Gries candidate pass
    // (k slots per map task, one k-bounded summary per partition over
    // the shuffle) + exact recount of the ≤ k candidates. The item
    // domain is a Zipf-like derived host column — 7 hot hosts over a
    // singleton tail far wider than k, so the sketch genuinely
    // compresses. Exact by the MG superset guarantee (ratio ≥ 1/(k+1));
    // oracle is the plain GROUP BY / HAVING.
    "q_heavy_hitters" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(
        when(col("doc_id") % 2 === 0,
          concat(lit("host-"), (col("doc_id") % 7).cast("string")))
          .otherwise(concat(lit("host-"), col("doc_id").cast("string")))
          .as("item"))
      graft.text.HeavyHitters.exact(d, "item", minFreqRatio = 0.01, k = 128)
    }),

    // RefinedWeb-style boilerplate removal: a deterministic 8-word
    // banner is injected into every third doc, then every span occurring
    // in > 5% of documents is stripped. Sketch-then-verify keeps state
    // k-bounded and the rewrite a pure projection — corpus text never
    // crosses an Exchange. Oracle recomputes the whole pipeline (spans,
    // doc-frequencies, filter, ordered reassembly) from the strings.
    "q_boilerplate" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(lit("never miss our daily deals subscribe right now "), col("text")))
          .otherwise(col("text")).as("text"))
      graft.text.TextOps.removeBoilerplateSpans(
          d, "doc_id", "text", spanWords = 8, minDocFreqRatio = 0.05)
        .select(col("doc_id"), col("text").as("clean"))
    }),

    // Deterministic global shuffle + sharding for training loaders:
    // (shard, pos) = (hash mod S, rank within shard in hash order) — a
    // reproducible random permutation; only (id, hash) pairs cross the
    // one rank shuffle.
    "q_shard_assign" -> ((s, dir) => {
      graft.operators.Shard.assign(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id", numShards = 8)
        .select(col("doc_id"), col("source"), col("shard"), col("pos"))
    }),

    // Streaming heavy hitters (sketch-at-ingest / verify-at-rest): the
    // Misra-Gries summary is maintained across 5 microbatches as ONE
    // k-slot state buffer (complete-mode global typed agg), then the
    // final candidates get the exact batch recount. The mergeable-
    // summary guarantee makes the result arrival-order independent and
    // EXACT — same oracle as q_heavy_hitters.
    "q_stream_heavy" -> ((s, dir) => {
      val item = when(col("doc_id") % 2 === 0,
        concat(lit("host-"), (col("doc_id") % 7).cast("string")))
        .otherwise(concat(lit("host-"), col("doc_id").cast("string")))
        .as("item")
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val cand = withShufflePartitions(s, 8) {
        val src = sliceStream(s, docs, "doc_id", nSlices = 5)
        runToMemorySink(s,
          graft.streaming.StreamStats.heavyHitterCandidates(
            src.select(item), "item", k = 128),
          "stream_heavy", "complete")
      }.select(explode(map_keys(col("items"))).as("__item"))
      graft.text.HeavyHitters.verify(
        t(s, dir, "documents").select(item), "item", cand, minFreqRatio = 0.01)
    }),

    // Exact-substring dedup (ExactSubstr, Lee et al.): a shared 9-word
    // tail is appended to every fourth doc; any 8-word window occurring
    // more than once in the corpus survives only at its first
    // occurrence, so every later copy's tokens are stripped at ANY
    // alignment. Only (hash, id, pos) cross the window shuffle; the
    // oracle recomputes windows, winners and the token-level rebuild.
    "q_dedup_substr" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(col("text"),
            lit(" free shipping on all orders over fifty dollars today")))
          .otherwise(col("text")).as("text"))
      graft.text.TextOps.dedupSubstrings(d, "doc_id", "text", windowWords = 8)
        .select(col("doc_id"), col("text").as("clean"))
    }),

    // BM25F field-weighted retrieval (Robertson & Zaragoza): title
    // (first 5 words, weight 2.0, b=0.75) + body (rest, weight 1.0,
    // b=0.4), per-field normalized tfs combined in declaration order
    // BEFORE k1 saturation, doc-level idf — one corpus pass builds the
    // field-pivoted postings; query time never shuffles the corpus.
    "q_bm25f_topk" -> ((s, dir) => {
      val d0 = t(s, dir, "documents")
      val d = d0.select(col("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 5)).as("title"),
        concat_ws(" ", slice(split(col("text"), " "), 6, 1000000)).as("body"))
      val ix = graft.text.TextIndex.buildF(d, "doc_id",
        Seq(graft.text.TextIndex.FieldSpec("title", 2.0, 0.75),
          graft.text.TextIndex.FieldSpec("body", 1.0, 0.4)),
        maxDfRatio = 0.98)
      val q = d0.filter(col("doc_id") % 97 === 0).orderBy(col("doc_id"))
        .limit(QueryBudget).select(
          col("doc_id").as("qid"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 8)).as("qtext"))
      graft.text.TextIndex.bm25f(ix, q, "qid", "qtext", k = 10)
    }),

    // BM25 delete maintenance: build over the full corpus, tombstone
    // every fifth doc O(delta) (anti-join exclusion + stats corrected
    // from the deleted docs' own text), then query — results must equal
    // an index built over the remaining docs, which is exactly what the
    // oracle computes.
    "q_bm25_delete" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val full = graft.text.TextIndex.build(d, "doc_id", "text", maxDfRatio = 0.98)
      val ix = graft.text.TextIndex.removeDocs(
        full, d.filter(col("doc_id") % 5 === 0), "doc_id", "text")
      val q = d.filter(col("doc_id") % 97 === 0 && col("doc_id") % 5 =!= 0)
        .orderBy(col("doc_id")).limit(QueryBudget)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 8)).as("qtext"))
      graft.text.TextIndex.bm25(ix, q, "qid", "qtext", k = 10)
    }),

    // Exact phrase search over positional postings: anchor-vote algebra
    // (one aggregation keyed by (query, doc, pos-offset)) replaces the
    // classic m-way position self-join; query tokens broadcast into the
    // postings scan before anything shuffles.
    "q_phrase_search" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val q = d.filter(col("doc_id") % 101 === 0).orderBy(col("doc_id"))
        .limit(QueryBudget).select(
          col("doc_id").as("qid"),
          concat_ws(" ", slice(split(col("text"), " "), 5, 3)).as("qtext"))
      graft.text.TextIndex.phraseSearch(
        d, "doc_id", "text", q, "qid", "qtext", k = 10)
    }),

    // Weighted sampling without replacement (Efraimidis–Spirakis):
    // k = 100 docs, inclusion probability ∝ n_chars; exponential keys in
    // exact micro-units (md5 uniform, floor(ln·1e9), exact integer
    // division) so the draw is engine-independent. Pure projection +
    // global TakeOrdered — zero shuffles.
    "q_sample_weighted" -> ((s, dir) => {
      graft.operators.Sample.weightedTopK(
        t(s, dir, "documents"), "doc_id", "n_chars", k = 100)
    }),

    // Cross-corpus near-dup: the odd-id "new crawl" deduped against the
    // even-id "standing corpus" — band-key equi-joins BETWEEN the sides
    // only (within-corpus dup mass never becomes join rows), exact
    // Jaccard verification at 0.5.
    "q_dedup_cross" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.dedup.Dedup.crossMinhashPairs(
        d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", threshold = 0.5)
    }),

    // Edit-distance-1 entity matching over customer names (FastSS
    // deletion neighborhoods): candidates from an equi-join on deletion
    // variants, exact levenshtein verification — never all-pairs.
    "q_fuzzy_match" -> ((s, dir) => {
      graft.operators.FuzzyJoin.editDistance1Pairs(
        t(s, dir, "customer"), "c_name")
    }),

    // Multinomial Naive Bayes (the fasttext-style model-based filter):
    // train on even-id docs (label = lang), classify odd-id docs. Both
    // training (pure counting) and scoring (micro-unit log arithmetic)
    // are exact integers — the full train→score→argmax chain is
    // oracle-checked.
    "q_nb_classify" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val m = graft.text.NaiveBayes.train(
        d.filter(col("doc_id") % 2 === 0), "text", "lang")
      graft.text.NaiveBayes.classify(
        m, d.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    }),

    // Proximity (sloppy-phrase) search: all distinct query terms within
    // a 12-token window, scored by the number of matching window starts.
    // Query terms are words 3/9/15 of the probe docs — spread out, so
    // exact-phrase would miss but proximity hits.
    "q_proximity_search" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val ws = split(col("text"), " ")
      // try_element_at: short docs yield NULL for missing positions,
      // which concat_ws drops — mirroring DuckDB's out-of-range
      // list index -> NULL -> list_distinct semantics
      val q = d.filter(col("doc_id") % 103 === 0).orderBy(col("doc_id"))
        .limit(QueryBudget).select(
          col("doc_id").as("qid"),
          concat_ws(" ", try_element_at(ws, lit(3)), try_element_at(ws, lit(9)),
            try_element_at(ws, lit(15))).as("qtext"))
      graft.text.TextIndex.proximitySearch(
        d, "doc_id", "text", q, "qid", "qtext", window = 12, k = 10)
    }),

    // Per-document TF-IDF keyword extraction: top-3 terms per doc,
    // vocabulary-sized idf broadcast, k-bounded per-doc heap.
    "q_tfidf_keywords" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val ix = graft.text.TextIndex.build(d, "doc_id", "text", maxDfRatio = 0.98)
      graft.text.TextIndex.topKeywords(ix, k = 3)
    }),

    // Per-group weighted sampling: 20 docs per language, inclusion
    // probability ∝ n_chars — the per-group twin of q_sample_weighted
    // (k-bounded heap instead of global TakeOrdered).
    "q_sample_weighted_group" -> ((s, dir) => {
      graft.operators.Sample.weightedTopKPerGroup(
        t(s, dir, "documents"), "lang", "doc_id", "n_chars", k = 20)
    }),

    // Corpus card: the per-(lang, source) datasheet every training
    // corpus ships with — doc/token/char totals, exact-dup mass, and
    // the quality-score sum in exact micro-units (order-independent
    // long arithmetic). Two shuffles: the digest count and the card
    // aggregation; the digest join-back is a plain shuffle join, no
    // broadcast assumption at 100 TB.
    "q_corpus_card" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val counts = d.groupBy(md5(col("text")).as("__dg"))
        .agg(count(lit(1)).as("__c"))
      d.withColumn("__dg", md5(col("text")))
        .join(counts, "__dg")
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(graft.text.TextOps.tokens(col("text"))).cast("long"))
            .as("n_tokens"),
          sum(when(col("__c") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
          sum(round(graft.text.TextOps.qualityScore(col("text")) * 1e6, 0)
            .cast("long")).as("quality_micro_sum"),
          sum(col("n_chars")).as("n_chars_sum"))
    }),

    // SemDeDup: semantic dedup through k-means clusters — pairwise
    // cosine only within a cluster (n²/k, the paper's trade), min-id
    // keeper per component. Approximate by design → driver-adjudicated
    // verdict (r10): conservation (oracle recomputes the corpus count),
    // soundness (within-cluster pairs ⊆ all pairs, so SemDeDup can only
    // UNDER-drop — every semantic loser must be a brute-force loser),
    // and a loser-recall floor. Exactness-on-separated-clusters stays
    // spec'd in DedupTextSpec.
    "q_dedup_semantic" -> ((s, dir) => {
      GraftSession.prepare(s)
      val emb = t(s, dir, "embeddings")
      val kept = graft.dedup.Dedup.semanticDedup(
          emb, "vec_id", "embedding", numClusters = 4, threshold = 0.45)
        .select("vec_id")
      val bruteLosers = graft.dedup.Dedup.duplicateClusters(
          graft.dedup.Dedup.cosinePairs(emb, "vec_id", "embedding", 0.45)
            .select("a", "b"))
        .filter(col("id") =!= col("cluster")).select("id")
      graft.operators.GateVerdicts.dedupVerdict(
        s, emb.select("vec_id"), kept, bruteLosers, recallFloorMilli = 400)
    }),

    // End-to-end curation pipeline — the operators COMPOSE: exact dedup
    // (keep min id per digest) → decontaminate against the held-out eval
    // slice → keep the top half of every language by quality → weighted
    // sample of 200 by length. Every stage is an existing oracle-exact
    // operator; the oracle replays the whole chain in SQL, so stage
    // interfaces (not just stages) are checked.
    "q_pipeline_curate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val deduped = graft.dedup.Dedup.dropExactDups(d, "doc_id", "text")
      val train = deduped.filter(col("doc_id") % 7 =!= 0)
      val eval = d.filter(col("doc_id") % 7 === 0)
      val clean = graft.dedup.Dedup.decontaminate(
        train, "doc_id", "text", eval, "text", shingleN = 3, minHits = 5)
      val filtered = graft.operators.Sample.topFractionPerGroup(
        clean, "lang", "doc_id",
        round(graft.text.TextOps.qualityScore(col("text")), 6), frac = 0.5)
      graft.operators.Sample.weightedTopK(filtered, "doc_id", "n_chars", k = 200)
    }),

    // Z-order (Morton) key over (user_id, event_id) at 20 bits — the
    // layout key that makes min/max stats prune 2-D range queries; a
    // pure statically-unrolled bit expression, zero shuffle.
    "q_zorder_key" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.select(col("event_id"), graft.operators.ZOrder.key2(
        pmod(col("user_id"), lit(1048576L)),
        pmod(col("event_id"), lit(1048576L)), bits = 20).as("zkey"))
    }),

    // ---- mergeable aggregation sketches (graft.sketch.Sketches): the
    // fixed-memory distinct/frequency estimators a 100 TB rollup needs.
    // The oracles REPLAY the sketch in SQL — the gate checks the
    // algorithm bit-for-bit, not a library's output.

    // HyperLogLog (p=12) distinct customers per order priority, next to
    // the exact count; shuffle state is ≤4096 (idx, rho) rows per group.
    "q_hll_distinct" -> ((s, dir) => {
      graft.sketch.Sketches.hllDistinct(
        t(s, dir, "orders"), Seq("o_orderpriority"), col("o_custkey"))
        .withColumnRenamed("o_orderpriority", "prio")
    }),

    // HLL union via register max-merge for every priority pair — the
    // sketch algebra a distributed rollup uses instead of re-reading data.
    "q_hll_union" -> ((s, dir) => {
      graft.sketch.Sketches.hllUnionPairs(
        t(s, dir, "orders"), "o_orderpriority", col("o_custkey"))
    }),

    // KMV (k=256) distinct estimate per priority: (k−1)·2^60/h_k once
    // the sketch is full, exact below.
    "q_kmv_distinct" -> ((s, dir) => {
      graft.sketch.Sketches.kmvDistinct(
        t(s, dir, "orders"), "o_orderpriority", col("o_custkey"), k = 256)
        .withColumnRenamed("o_orderpriority", "prio")
    }),

    // Theta-style Jaccard/union estimates between priority customer sets
    // from the k-min sketches alone (~0.76 true Jaccard on this data).
    "q_kmv_jaccard" -> ((s, dir) => {
      graft.sketch.Sketches.kmvJaccardPairs(
        t(s, dir, "orders"), "o_orderpriority", col("o_custkey"), k = 256)
    }),

    // Exact per-language length percentiles from a value histogram —
    // shuffle is one row per distinct length per group at ANY corpus
    // size; percentile_disc semantics in pure integer arithmetic.
    "q_len_quantiles" -> ((s, dir) =>
      graft.operators.Quantiles.exactPermille(
        t(s, dir, "documents"), "lang", "n_chars",
        permilles = Seq(500, 900, 990))),

    // Content-defined chunking: boundaries where the trailing-trigram
    // hash % 8 == 0 — local-content boundaries that re-sync after edits
    // (shift-robust chunk dedup; pure projection, tokens never shuffle).
    "q_cdc_chunks" -> ((s, dir) =>
      graft.text.TextOps.cdcChunks(
        t(s, dir, "documents"), "doc_id", "text", window = 3, mask = 8)),

    // chunk-level dup mass across documents: (hash, id)-only shuffle
    "q_cdc_dedup" -> ((s, dir) =>
      graft.text.TextOps.cdcDupChunks(
        graft.text.TextOps.cdcChunks(
          t(s, dir, "documents"), "doc_id", "text", window = 3, mask = 8),
        "doc_id")),

    // MinHash-free near-dup pairs by shared chunks, df-bounded like the
    // LSH band join (boilerplate chunks banned before the self-join)
    "q_cdc_neardup" -> ((s, dir) =>
      graft.text.TextOps.cdcNearDupPairs(
        graft.text.TextOps.cdcChunks(
          t(s, dir, "documents"), "doc_id", "text", window = 3, mask = 8),
        "doc_id", minShared = 3, maxDf = 20)),

    // Streaming HLL: the register aggregation run in complete mode over
    // a 5-chunk feed — max(rho) is order-free, so the standing state is
    // the batch register table and the at-rest estimate hash-matches the
    // batch oracle (same SQL as q_hll_distinct). State: ≤4096 rows/group.
    "q_stream_hll" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority").as("grp"),
          col("o_custkey").as("key"))
      val regs = withShufflePartitions(s, 8) {
        val src = sliceStream(s, orders, "o_orderkey", nSlices = 5)
        runToMemorySink(s,
          graft.streaming.StreamStats.hllRegisters(
            src.select(col("grp"), col("key")), Seq("grp"), col("key")),
          "stream_hll", "complete")
      }
      val est = graft.sketch.Sketches.hllEstimate(regs, Seq("grp"))
      val exact = orders.groupBy(col("grp"))
        .agg(countDistinct(col("key")).as("n_exact"))
      est.join(exact, "grp")
        .select(col("grp").as("prio"), col("n_est"), col("n_exact"))
    }),

    // Prototypicality pruning (SSL-prototypes): keep the hardest half of
    // each label by exact-integer centroid distance — vectors never
    // shuffle; the centroid pass is an integer explode + broadcast-back.
    "q_proto_prune" -> ((s, dir) => {
      graft.operators.ProtoPrune.pruneHardest(
        t(s, dir, "embeddings"), "vec_id", "label", "embedding",
        dims = 64, keepNum = 1, keepDen = 2)
    }),

    // Count-Min (4×512) event counts per user: grid-bounded shuffle
    // state; point estimates for the exact top-20 users (est ≥ exact by
    // construction — the oracle checks the exact over-estimate values).
    "q_cms_heavy" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val cells = graft.sketch.Sketches.cmsCells(e, col("user_id"), d = 4, w = 512)
      val top = e.groupBy(col("user_id")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("user_id")).limit(20)
      val est = graft.sketch.Sketches.cmsEstimate(
        cells, top.select(col("user_id")), col("user_id"), d = 4, w = 512)
      top.join(broadcast(est), top("user_id").cast("string") === est("__k"))
        .select(col("user_id"), col("exact_cnt"), col("cms_est"))
    })
  )

  // ------------------------------------------------------------ oracle SQL

  /** DuckDB equivalents over the same parquet tables. */
  def oracleSql: Map[String, String] = Map(
    "q_agg_group" ->
      """WITH g AS (SELECT l_returnflag, l_linestatus,
        |    sum(l_quantity) AS sum_qty, count(*) AS cnt,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS price_cents,
        |    CAST(sum(CAST(round(l_discount * 100, 0) AS BIGINT)) AS BIGINT) AS dc
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus, sum_qty, cnt, price_cents,
        |       (dc * 10000) // cnt AS avg_disc_micro
        |FROM g""".stripMargin,

    "q_scan_range" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE n_chars BETWEEN 100 AND 300""".stripMargin,

    "q_filter_range" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity >= 10 AND l_quantity < 20
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'""".stripMargin,

    "q_term_union" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE list_has_any(string_split(p_name, ' '), ['red', 'blue'])""".stripMargin,

    "q_term_all" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE list_has_all(string_split(p_name, ' '), ['small', 'ring'])""".stripMargin,

    "q_term_notin" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT list_has_any(string_split(p_name, ' '), ['green', 'hot'])""".stripMargin,

    "q_setops_pred" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
        |WHERE (l_quantity < 5 OR l_quantity > 45) AND NOT (l_returnflag = 'A')""".stripMargin,

    "q_point_lookup" ->
      "SELECT * FROM part WHERE p_partkey = 100",

    "q_count_filter" ->
      """SELECT count(*) AS cnt FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice > 100000""".stripMargin,

    "q_join_agg" ->
      """SELECT o_orderpriority, count(*) AS cnt,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS price_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 200000)""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q_topk_global" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q_window_dedup" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice,
        |         row_number() OVER (PARTITION BY l_orderkey
        |                            ORDER BY l_extendedprice DESC, l_linenumber) AS rn
        |  FROM lineitem) WHERE rn = 1""".stripMargin,

    "q_knn_l2" -> knnOracle(metric = "l2", k = 10, asc = true),
    "q_knn_ip" -> knnOracle(metric = "ip", k = 10, asc = false),
    "q_knn_cosine" -> knnOracle(metric = "cos", k = 10, asc = false),
    "q_knn_filtered" -> knnOracle(metric = "l2", k = 10, asc = true,
      docFilter = "WHERE label IN (1, 3, 5, 7)"),
    "q_knn_scorerange" -> knnOracle(metric = "l2", k = 10, asc = true,
      scoreFilter = "WHERE dist BETWEEN 2.0 AND 8.0"),

    "q_knn_hamming" ->
      """WITH c AS (SELECT doc_id, md5(text) AS h FROM documents),
        |q AS (SELECT doc_id AS qid, h AS qh FROM c WHERE doc_id < 3),
        |s AS (SELECT qid, c.doc_id AS id,
        |  CAST(list_sum(list_transform(range(1, 33),
        |    i -> bit_count(xor(('0x' || substr(c.h, i, 1))::BIGINT,
        |                       ('0x' || substr(q.qh, i, 1))::BIGINT)))) AS INTEGER) AS hdist
        |  FROM c, q),
        |r AS (SELECT qid, id, hdist,
        |             row_number() OVER (PARTITION BY qid ORDER BY hdist, id) AS rn
        |      FROM s)
        |SELECT qid, id, hdist FROM r WHERE rn <= 10""".stripMargin,

    "q_multivid" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
        |d AS (SELECT vec_id AS id, embedding AS e0,
        |             list_reverse(embedding) AS e1 FROM embeddings),
        |s AS (SELECT qid, id, least(
        |  list_sum(list_transform(range(1,65),
        |    i -> (CAST(e0[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE))
        |       * (CAST(e0[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE)))),
        |  list_sum(list_transform(range(1,65),
        |    i -> (CAST(e1[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE))
        |       * (CAST(e1[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE))))) AS dist
        |  FROM d, q),
        |r AS (SELECT qid, id, dist,
        |             row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
        |      FROM s)
        |SELECT qid, id, round(dist, 6) AS score FROM r WHERE rn <= 10""".stripMargin,

    "q_binaryivf_fullprobe" ->
      """WITH c AS (SELECT doc_id, md5(text) AS h FROM documents),
        |q AS (SELECT doc_id AS qid, h AS qh FROM c WHERE doc_id < 3),
        |s AS (SELECT qid, c.doc_id AS id,
        |  CAST(list_sum(list_transform(range(1, 33),
        |    i -> bit_count(xor(('0x' || substr(c.h, i, 1))::BIGINT,
        |                       ('0x' || substr(q.qh, i, 1))::BIGINT)))) AS INTEGER) AS hdist
        |  FROM c, q),
        |r AS (SELECT qid, id, hdist,
        |             row_number() OVER (PARTITION BY qid ORDER BY hdist, id) AS rn
        |      FROM s)
        |SELECT qid, id, hdist FROM r WHERE rn <= 10""".stripMargin,

    // post-lifecycle state: docs with doc_id % 7 = 3 re-hashed by the
    // upsert, lang='de' docs deleted; exact Hamming top-10 from doc 0's
    // ORIGINAL code (IS DISTINCT FROM keeps NULL-lang rows live, matching
    // the engine's delete predicate semantics)
    "q_binaryivf_lifecycle" ->
      """WITH state AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 3 THEN md5(CAST(doc_id AS VARCHAR) || 'v2')
        |       ELSE md5(text) END AS h, lang FROM documents),
        |q AS (SELECT md5(text) AS qh FROM documents WHERE doc_id = 0),
        |s AS (SELECT CAST(doc_id AS VARCHAR) AS _id,
        |  CAST(list_sum(list_transform(range(1, 33),
        |    i -> bit_count(xor(('0x' || substr(state.h, i, 1))::BIGINT,
        |                       ('0x' || substr(q.qh, i, 1))::BIGINT)))) AS INTEGER) AS hdist
        |  FROM state, q WHERE state.lang IS DISTINCT FROM 'de'),
        |r AS (SELECT _id, hdist, row_number() OVER (ORDER BY hdist, _id) AS rn FROM s)
        |SELECT _id, hdist FROM r WHERE rn <= 10""".stripMargin,

    "q_ivfflat_fullprobe" -> knnOracle(metric = "l2", k = 10, asc = true),
    "q_ivfpq_exactrank" -> knnOracle(metric = "l2", k = 10, asc = true),
    "q_ivfpq_opq_exactrank" -> knnOracle(metric = "l2", k = 10, asc = true),

    "q_knn_filtered_index" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT CAST(d.vec_id AS VARCHAR) AS _id,
        |  list_sum(list_transform(range(1, 65),
        |    i -> (CAST(d.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE))
        |       * (CAST(d.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE)))) AS dist
        |  FROM embeddings d, q
        |  WHERE d.label BETWEEN 7 AND 7 AND d.vec_id BETWEEN 0 AND 100),
        |r AS (SELECT _id, dist, row_number() OVER (ORDER BY dist, _id) AS rn FROM s)
        |SELECT _id, round(dist, 6) AS score FROM r WHERE rn <= 10""".stripMargin,

    "q_ivfpq_recallnum" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT CAST(d.vec_id AS VARCHAR) AS _id,
        |  list_sum(list_transform(range(1, 65),
        |    i -> (CAST(d.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE))
        |       * (CAST(d.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE)))) AS dist
        |  FROM embeddings d, q),
        |r AS (SELECT _id, dist, row_number() OVER (ORDER BY dist, _id) AS rn FROM s)
        |SELECT _id, round(dist, 6) AS score FROM r WHERE rn <= 10""".stripMargin,

    "q_multi_model" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT CAST(d.vec_id AS VARCHAR) AS _id,
        |  list_sum(list_transform(range(1, 65),
        |    i -> (CAST(d.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE))
        |       * (CAST(d.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE)))) AS dist
        |  FROM embeddings d, q),
        |r AS (SELECT _id, dist, row_number() OVER (ORDER BY dist, _id) AS rn FROM s)
        |SELECT m.model, r._id, round(r.dist, 6) AS score
        |FROM r CROSS JOIN (SELECT 'IVFFLAT' AS model UNION ALL SELECT 'IVFPQ') m
        |WHERE rn <= 10""".stripMargin,

    "q_sql_ann_rewrite" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT d.vec_id AS id,
        |  list_sum(list_transform(range(1, 65),
        |    i -> (CAST(d.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE))
        |       * (CAST(d.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE)))) AS dist
        |  FROM embeddings d, q WHERE d.label IN (1, 3, 5, 7)),
        |r AS (SELECT id, dist, row_number() OVER (ORDER BY dist, id) AS rn FROM s)
        |SELECT id, round(dist, 6) AS score FROM r WHERE rn <= 10""".stripMargin,
    // q_ivfpq_ann / q_hnsw_ann verdict oracles (r10): the coverage row's
    // expected value is recomputed from the table (the gate's query batch
    // is vec_id < 8); k and the recall floors are the gates' documented
    // contract constants — the ENGINE computes recall vs FLAT and a
    // regression flips pass into a hash mismatch.
    "q_ivfpq_ann" ->
      """SELECT 'queries_covered' AS metric,
        |  CAST((SELECT count(*) FROM embeddings WHERE vec_id < 8) AS BIGINT) AS value,
        |  TRUE AS pass
        |UNION ALL SELECT 'k_rows_each', 10, TRUE
        |UNION ALL SELECT 'recall_vs_exact_ge_milli', 500, TRUE""".stripMargin,
    "q_hnsw_ann" ->
      """SELECT 'queries_covered' AS metric,
        |  CAST((SELECT count(*) FROM embeddings WHERE vec_id < 8) AS BIGINT) AS value,
        |  TRUE AS pass
        |UNION ALL SELECT 'k_rows_each', 10, TRUE
        |UNION ALL SELECT 'recall_vs_exact_ge_milli', 900, TRUE""".stripMargin,

    // Scaled-hybrid verdict oracle: coverage = the union of the two
    // arms' budgeted qid sets (text: doc_id % 97, vec: vec_id % 97, each
    // first-64-in-id-order), recomputed from the raw tables; k and the
    // rank-overlap floor are the gate's documented contract constants —
    // the ENGINE computes overlap vs the exact-FLAT-arm fusion and a
    // regression flips pass into a hash mismatch.
    "q_hybrid_rrf_ivf_scaled" ->
      """SELECT 'queries_covered' AS metric,
        |  CAST((SELECT count(*) FROM (
        |     SELECT doc_id AS qid FROM (SELECT doc_id FROM documents
        |       WHERE doc_id % 97 = 0 ORDER BY doc_id LIMIT 64) a
        |     UNION
        |     SELECT vec_id AS qid FROM (SELECT vec_id FROM embeddings
        |       WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 64) b) u) AS BIGINT) AS value,
        |  TRUE AS pass
        |UNION ALL SELECT 'k_rows_each', 10, TRUE
        |UNION ALL SELECT 'recall_vs_exact_ge_milli', 500, TRUE""".stripMargin,
    "q_knn_l2sqrt" -> knnOracle(metric = "l2sqrt", k = 10, asc = true),

    "q_vec_fusion" ->
      """WITH qa AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |     qb AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
        |     da AS (SELECT vec_id AS id,
        |                   list_sum(list_transform(range(1, 65),
        |                     i -> (CAST(embedding[i] AS DOUBLE) - CAST(qa.qv[i] AS DOUBLE))
        |                        * (CAST(embedding[i] AS DOUBLE) - CAST(qa.qv[i] AS DOUBLE)))) AS score_a
        |            FROM embeddings, qa),
        |     db AS (SELECT vec_id AS id,
        |                   list_sum(list_transform(range(1, 65),
        |                     i -> (CAST(embedding[i] AS DOUBLE) - CAST(qb.qv[i] AS DOUBLE))
        |                        * (CAST(embedding[i] AS DOUBLE) - CAST(qb.qv[i] AS DOUBLE)))) AS score_b
        |            FROM embeddings, qb),
        |     ta AS (SELECT * FROM da ORDER BY score_a, id LIMIT 100),
        |     tb AS (SELECT * FROM db ORDER BY score_b, id LIMIT 100)
        |SELECT ta.id AS id, round(score_a * 0.7 + score_b * 0.3, 6) AS fused
        |FROM ta JOIN tb ON ta.id = tb.id
        |ORDER BY score_a * 0.7 + score_b * 0.3, ta.id LIMIT 10""".stripMargin,

    "q_upsert_state" ->
      """WITH updates AS (
        |  SELECT p_partkey, 'Brand#UP' AS p_brand, p_size + 100 AS p_size,
        |         round(p_retailprice * 2, 2) AS p_retailprice
        |  FROM part WHERE p_partkey % 7 = 0),
        |inserts AS (
        |  SELECT p_partkey + (SELECT max(p_partkey) + 1 FROM part) AS p_partkey,
        |         'Brand#NEW' AS p_brand, p_size, p_retailprice
        |  FROM part WHERE p_partkey % 13 = 0),
        |delta AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts)
        |SELECT p_partkey, p_brand, p_size, p_retailprice FROM part
        |WHERE p_partkey NOT IN (SELECT p_partkey FROM delta)
        |UNION ALL SELECT * FROM delta""".stripMargin,

    // partial-field upsert: updated rows keep omitted p_brand/vec, fresh
    // keys read them as null (-1 dim sentinel keeps the column non-void)
    "q_upsert_partial" ->
      """WITH docs0 AS (
        |  SELECT CAST(p_partkey AS VARCHAR) AS _id, p_brand, p_size,
        |         embedding AS vec
        |  FROM part JOIN embeddings ON p_partkey = vec_id),
        |up AS (SELECT _id, p_size + 100 AS p_size FROM docs0
        |       WHERE CAST(_id AS BIGINT) % 7 = 0),
        |ins AS (
        |  SELECT CAST(p_partkey + (SELECT max(p_partkey) + 1 FROM part)
        |              AS VARCHAR) AS _id, p_size
        |  FROM part WHERE p_partkey % 13 = 0)
        |SELECT d._id, d.p_brand, coalesce(u.p_size, d.p_size) AS p_size,
        |       CAST(len(d.vec) AS BIGINT) AS dim
        |FROM docs0 d LEFT JOIN up u ON d._id = u._id
        |UNION ALL
        |SELECT _id, NULL AS p_brand, p_size, CAST(-1 AS BIGINT) AS dim
        |FROM ins""".stripMargin,

    "q_delete_by_key" ->
      """SELECT p_partkey, p_brand FROM part
        |WHERE p_partkey NOT IN (
        |  SELECT p_partkey FROM part WHERE p_partkey % 11 = 0)""".stripMargin,

    "q_delete_by_query" ->
      """SELECT p_partkey, p_size, p_type FROM part
        |WHERE NOT (p_size BETWEEN 10 AND 20 AND p_type = 'PROMO')""".stripMargin,

    "q_live_count" ->
      "SELECT count(*) AS live FROM part WHERE NOT (p_partkey % 5 = 0)",

    "q_table_e2e" -> oracleSqlTableE2e,

    // same lifecycle derivation as the e2e oracle, but the checked output
    // is the post-lifecycle TABLE STATE read through pure SQL (no vector
    // search leg — the gamma view's scan itself is under test)
    "q_table_sql" ->
      """WITH docs0 AS (
        |  SELECT CAST(p_partkey AS VARCHAR) AS _id, p_size, embedding AS vec
        |  FROM part JOIN embeddings ON p_partkey = vec_id),
        |up AS (SELECT _id, p_size + 1 AS p_size, vec FROM docs0
        |       WHERE CAST(_id AS BIGINT) % 10 = 3),
        |docs1 AS (
        |  SELECT * FROM docs0 WHERE _id NOT IN (SELECT _id FROM up)
        |  UNION ALL SELECT * FROM up),
        |docs2 AS (SELECT * FROM docs1 WHERE NOT (p_size BETWEEN 10 AND 12))
        |SELECT _id, p_size, CAST(len(vec) AS BIGINT) AS dim
        |FROM docs2 WHERE p_size BETWEEN 1 AND 40""".stripMargin,

    // identical state transitions to q_table_sql, created through the
    // catalog instead of a Scala handle — identical oracle
    "q_table_catalog" ->
      """WITH docs0 AS (
        |  SELECT CAST(p_partkey AS VARCHAR) AS _id, p_size, embedding AS vec
        |  FROM part JOIN embeddings ON p_partkey = vec_id),
        |up AS (SELECT _id, p_size + 1 AS p_size, vec FROM docs0
        |       WHERE CAST(_id AS BIGINT) % 10 = 3),
        |docs1 AS (
        |  SELECT * FROM docs0 WHERE _id NOT IN (SELECT _id FROM up)
        |  UNION ALL SELECT * FROM up),
        |docs2 AS (SELECT * FROM docs1 WHERE NOT (p_size BETWEEN 10 AND 12))
        |SELECT _id, p_size, CAST(len(vec) AS BIGINT) AS dim
        |FROM docs2 WHERE p_size BETWEEN 1 AND 40""".stripMargin,

    // UPDATE patches p_size/p_brand in the band, preserves vec (dim must
    // still be 64 everywhere); the subquery DELETE then removes %11 keys
    "q_table_update_sql" ->
      """WITH docs0 AS (
        |  SELECT CAST(p_partkey AS VARCHAR) AS _id, p_brand, p_size,
        |         embedding AS vec
        |  FROM part JOIN embeddings ON p_partkey = vec_id)
        |SELECT _id,
        |       CASE WHEN p_size BETWEEN 10 AND 20 THEN 'Brand#UP'
        |            ELSE p_brand END AS p_brand,
        |       CASE WHEN p_size BETWEEN 10 AND 20 THEN p_size + 100
        |            ELSE p_size END AS p_size,
        |       CAST(len(vec) AS BIGINT) AS dim
        |FROM docs0
        |WHERE CAST(_id AS BIGINT) % 11 <> 0""".stripMargin,

    // every MERGE branch derived from the raw tables: source = %3 keys of
    // part (kill flag on %5); matched+kill deleted, matched updated
    // (+1000, brand/vec kept), unmatched source keys (incl. part keys
    // without embeddings) inserted with null brand/vec
    "q_table_merge" ->
      """WITH docs0 AS (
        |  SELECT CAST(p_partkey AS VARCHAR) AS _id, p_brand, p_size,
        |         embedding AS vec
        |  FROM part JOIN embeddings ON p_partkey = vec_id),
        |src AS (
        |  SELECT CAST(p_partkey AS VARCHAR) AS sid, p_size,
        |         (p_partkey % 5 = 0) AS kill
        |  FROM part WHERE p_partkey % 3 = 0)
        |SELECT d._id, d.p_brand,
        |       CASE WHEN s.sid IS NOT NULL THEN s.p_size + 1000
        |            ELSE d.p_size END AS p_size,
        |       CAST(len(d.vec) AS BIGINT) AS dim
        |FROM docs0 d LEFT JOIN src s ON d._id = s.sid
        |WHERE s.sid IS NULL OR NOT s.kill
        |UNION ALL
        |SELECT s.sid AS _id, NULL AS p_brand, s.p_size,
        |       CAST(-1 AS BIGINT) AS dim
        |FROM src s WHERE s.sid NOT IN (SELECT _id FROM docs0)""".stripMargin,

    // the PRE-DELETE intermediate state (post-upsert): what VERSION AS OF 2
    // must serve — docs1 without the delete step
    "q_table_snapshot" ->
      """WITH docs0 AS (
        |  SELECT CAST(p_partkey AS VARCHAR) AS _id, p_size, embedding AS vec
        |  FROM part JOIN embeddings ON p_partkey = vec_id),
        |up AS (SELECT _id, p_size + 1 AS p_size, vec FROM docs0
        |       WHERE CAST(_id AS BIGINT) % 10 = 3),
        |docs1 AS (
        |  SELECT * FROM docs0 WHERE _id NOT IN (SELECT _id FROM up)
        |  UNION ALL SELECT * FROM up)
        |SELECT _id, p_size, CAST(len(vec) AS BIGINT) AS dim
        |FROM docs1 WHERE p_size BETWEEN 1 AND 40""".stripMargin,

    // change events of (1, 3]: upserted keys (%10=3) carry v2 unless the
    // new size lands in the delete band (then they net to a v3 delete);
    // un-upserted keys in the band are plain v3 deletes
    "q_change_feed" ->
      """WITH docs0 AS (
        |  SELECT CAST(p_partkey AS VARCHAR) AS _id, p_size
        |  FROM part JOIN embeddings ON p_partkey = vec_id),
        |s2 AS (SELECT _id,
        |         CASE WHEN CAST(_id AS BIGINT) % 10 = 3 THEN p_size + 1
        |              ELSE p_size END AS p_size
        |       FROM docs0),
        |del AS (SELECT _id FROM s2 WHERE p_size BETWEEN 10 AND 12),
        |reins AS (SELECT _id FROM del WHERE CAST(_id AS BIGINT) % 10 = 7)
        |SELECT _id, p_size, 'upsert' AS _change_type,
        |       CAST(2 AS BIGINT) AS _change_version
        |FROM s2
        |WHERE CAST(_id AS BIGINT) % 10 = 3
        |  AND _id NOT IN (SELECT _id FROM del)
        |UNION ALL
        |-- purged tombstones replay with a NULL pre-image (key + stamp
        |-- only); -1 sentinel mirrors the gate's coalesce
        |SELECT _id, -1 AS p_size, 'delete' AS _change_type,
        |       CAST(3 AS BIGINT) AS _change_version
        |FROM del WHERE _id NOT IN (SELECT _id FROM reins)
        |UNION ALL
        |SELECT _id, 999 AS p_size, 'upsert' AS _change_type,
        |       CAST(5 AS BIGINT) AS _change_version
        |FROM reins""".stripMargin,

    // commit history derived from the raw tables: v0 empty create, v1
    // initial load (maxDocid = join size), v2 upsert of EXISTING keys
    // (no fresh docids), v3 delete (docids never reused)
    "q_table_history" ->
      """WITH n AS (
        |  SELECT count(*) AS c FROM part JOIN embeddings ON p_partkey = vec_id)
        |SELECT CAST(0 AS BIGINT) AS version, CAST(0 AS BIGINT) AS max_docid,
        |       'UNINDEXED' AS index_status
        |UNION ALL SELECT 1, (SELECT c FROM n), 'UNINDEXED'
        |UNION ALL SELECT 2, (SELECT c FROM n), 'UNINDEXED'
        |UNION ALL SELECT 3, (SELECT c FROM n), 'UNINDEXED'""".stripMargin,

    // the knob registry pinned as data: keys and documented defaults
    "q_engine_config" ->
      """SELECT * FROM (VALUES
        |  ('spark.graft.ann.rewrite', 'false'),
        |  ('spark.graft.filter.broadcastMaxKeys', '1000000'),
        |  ('spark.graft.filter.exactFallbackRows', 'auto'),
        |  ('spark.graft.hnsw.adaptiveEf', 'true'),
        |  ('spark.graft.hnsw.maxExcludedRows', '2000000'),
        |  ('spark.graft.ivf.adaptiveProbe', 'true'),
        |  ('spark.graft.table.lease', 'false'),
        |  ('spark.graft.topk.sortedMinGroups', '1000000'),
        |  ('spark.graft.topk.sortedMaxInflation', '8')
        |) AS t(conf_key, conf_default)""".stripMargin,

    // same document state transitions as q_table_e2e, searched through the
    // persisted index after a disk reload — the oracle is identical
    "q_table_persisted" -> oracleSqlTableE2e,

    // identical state again, searched through persisted IVFPQ codes with
    // exhaustive re-rank (exact) — identical oracle
    "q_table_persisted_pq" -> oracleSqlTableE2e,

    "q_stream_upsert" ->
      """SELECT CAST(user_id AS VARCHAR) AS _id, event_id, event_type, value
        |FROM (SELECT user_id, event_id, event_type, value,
        |             row_number() OVER (PARTITION BY user_id
        |                                ORDER BY event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,

    // first-seen over id-ordered microbatch replay == min-id keeper per
    // distinct content (same contract as the batch operator)
    "q_stream_dedup" ->
      """SELECT md5(text) AS digest, min(doc_id) AS keeper
        |FROM documents GROUP BY 1""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS digest, min(doc_id) AS keeper, count(*) AS dups
        |FROM documents GROUP BY 1""".stripMargin,

    "q_dedup_drop" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))""".stripMargin,

    "q_dedup_minhash" ->
      s"""WITH $ShingleCte, $MinhashPairCtes
         |SELECT a, b, round(jaccard, 6) AS jaccard FROM ver WHERE jaccard >= 0.5""".stripMargin,

    // identical pair derivation: the streamed operator must converge to
    // exactly the batch pair set once the replay completes
    "q_stream_neardup" ->
      s"""WITH $ShingleCte, $MinhashPairCtes
         |SELECT a, b, round(jaccard, 6) AS jaccard FROM ver WHERE jaccard >= 0.5""".stripMargin,

    // same pair derivation as q_dedup_minhash (shared CTE val — oracle
    // drift between the two would be a gate-integrity bug), then
    // transitive closure to min-id components via a recursive CTE
    "q_dedup_clusters" -> oracleSqlClusters,

    // identical oracle by construction: the distributed star-contraction
    // path must produce the exact same components as the driver shortcut
    "q_dedup_clusters_star" -> oracleSqlClusters,

    "q_int8_roundtrip" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    greatest(list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS scale
        |  FROM embeddings),
        |d AS (SELECT vec_id, scale, embedding, list_transform(embedding,
        |    x -> CAST(CAST(CAST(round(CAST(x AS DOUBLE) / scale, 0) AS TINYINT)
        |         AS DOUBLE) * scale AS FLOAT)) AS dec
        |  FROM e)
        |SELECT vec_id, round(scale, 9) AS scale,
        |  round(list_max(list_transform(range(1, len(embedding) + 1),
        |    i -> abs(CAST(dec[i] AS DOUBLE) - CAST(embedding[i] AS DOUBLE)))), 9)
        |    AS max_err
        |FROM d""".stripMargin,

    "q_knn_int8" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    greatest(list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS scale
        |  FROM embeddings),
        |d AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(CAST(CAST(round(CAST(x AS DOUBLE) / scale, 0) AS TINYINT)
        |         AS DOUBLE) * scale AS FLOAT)) AS dv
        |  FROM e),
        |q AS (SELECT dv AS qv FROM d WHERE vec_id = 0),
        |s AS (SELECT d.vec_id AS id, list_sum(list_transform(range(1, 65),
        |    i -> (CAST(d.dv[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE))
        |       * (CAST(d.dv[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE)))) AS dist
        |  FROM d, q),
        |r AS (SELECT id, dist, row_number() OVER (ORDER BY dist, id) AS rn FROM s)
        |SELECT id, round(dist, 6) AS score FROM r WHERE rn <= 10""".stripMargin,

    "q_table_int8" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    greatest(list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS scale
        |  FROM embeddings),
        |d AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(CAST(CAST(round(CAST(x AS DOUBLE) / scale, 0) AS TINYINT)
        |         AS DOUBLE) * scale AS FLOAT)) AS dv
        |  FROM e),
        |q AS (SELECT dv AS qv FROM d WHERE vec_id = 0),
        |s AS (SELECT CAST(d.vec_id AS VARCHAR) AS _id,
        |  list_sum(list_transform(range(1, 65),
        |    i -> (CAST(d.dv[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE))
        |       * (CAST(d.dv[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE)))) AS dist
        |  FROM d, q),
        |r AS (SELECT _id, dist, row_number() OVER (ORDER BY dist, _id) AS rn FROM s)
        |SELECT _id, round(dist, 6) AS score FROM r WHERE rn <= 10""".stripMargin,

    "q_text_dedup_spans" ->
      """WITH sp0 AS (SELECT doc_id, unnest(list_transform(
        |    range(1, CAST(ceil(len(string_split(text, ' ')) / 15.0) AS BIGINT) + 1),
        |    i -> {'pos': i,
        |          'span': array_to_string(list_slice(string_split(text, ' '),
        |                    (i-1)*15 + 1, i*15), ' ')})) AS s
        |  FROM documents),
        |sp AS (SELECT doc_id, s.pos AS pos, s.span AS span FROM sp0),
        |r AS (SELECT doc_id, pos, span,
        |        row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
        |      FROM sp),
        |agg AS (SELECT doc_id, array_to_string(list(span ORDER BY pos), ' ') AS text
        |        FROM r WHERE rn = 1 GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.text, '') AS text
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin,

    // same clusters, then per-cluster argmax(score) with min-id tie-break;
    // docs outside every cluster survive unconditionally
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE $ShingleCte, $MinhashPairCtes,
         |pr AS (SELECT a, b FROM ver WHERE jaccard >= 0.5),
         |e AS (SELECT a AS src, b AS dst FROM pr UNION SELECT b, a FROM pr),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         |cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
         |w AS (SELECT cl.id, row_number() OVER (PARTITION BY cl.cluster
         |        ORDER BY (d.doc_id % 101) DESC, cl.id ASC) AS rn
         |      FROM cl JOIN documents d ON d.doc_id = cl.id)
         |SELECT d.doc_id, d.lang, CAST(d.doc_id % 101 AS BIGINT) AS score
         |FROM documents d LEFT JOIN w ON w.id = d.doc_id
         |WHERE w.rn IS NULL OR w.rn = 1""".stripMargin,

    "q_dedup_simhash" ->
      s"""WITH $ShingleCte,
         |hs AS (SELECT doc_id,
         |  list_transform(toks, s -> ('0x'||substr(md5(s),1,15))::BIGINT) AS hs FROM toks),
         |sh AS (SELECT doc_id, CAST(list_sum(list_transform(range(0,60), j ->
         |    CASE WHEN CAST(list_sum(list_transform(hs, h ->
         |        CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) AS BIGINT) > 0
         |    THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS sh FROM hs),
         |blk AS (SELECT doc_id, sh, t.b AS blk, (sh >> CAST(t.b*15 AS INTEGER)) & 32767 AS bkey
         |  FROM sh, range(0,4) t(b)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         |  CAST(bit_count(xor(x.sh, y.sh)) AS INTEGER) AS hdist
         |  FROM blk x JOIN blk y
         |  ON x.blk = y.blk AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
         |SELECT a, b, hdist FROM cand WHERE hdist <= 3""".stripMargin,

    // Candidates via the same LOSSLESS AllPairs prefix filter the engine
    // uses (two sets with J >= t must share a token in either's first
    // |s| - ceil(|s|*t) + 1 sorted tokens), then the EXACT jaccard filter
    // — identical output to the former all-pairs oracle (verified
    // row-for-row at sf0.01), but tractable on scaled replicas: the r8
    // all-pairs shape was the reason this gate sat in the sweeps'
    // QUADRATIC skip list.
    "q_ngram_jaccard" ->
      s"""WITH $ShingleCte,
         |ht AS (SELECT doc_id, list_sort(list_distinct(list_transform(toks,
         |  s -> ('0x'||substr(md5(s),1,8))::BIGINT))) AS htoks FROM toks),
         |pre AS (SELECT doc_id, unnest(htoks[1 : greatest(1,
         |  len(htoks) - CAST(ceil(len(htoks) * 0.4) AS INTEGER) + 1)]) AS h
         |  FROM ht WHERE len(htoks) > 0),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM pre x JOIN pre y ON x.h = y.h AND x.doc_id < y.doc_id),
         |j AS (SELECT a, b,
         |  CAST(len(list_intersect(xa.htoks, yb.htoks)) AS DOUBLE) /
         |  CAST(len(list_distinct(list_concat(xa.htoks, yb.htoks))) AS DOUBLE) AS jaccard
         |  FROM cand JOIN ht xa ON xa.doc_id = cand.a JOIN ht yb ON yb.doc_id = cand.b)
         |SELECT a, b, round(jaccard, 6) AS jaccard FROM j WHERE jaccard >= 0.4""".stripMargin,

    // the verdict gate's brute_pairs row is the oracle's own prefix-filter
    // recount of exact-Jaccard pairs at the same threshold; the
    // structural/floor rows are constants the engine must reproduce (a
    // soundness violation or recall regression flips pass -> mismatch)
    "q_ngram_jaccard_lsh" ->
      s"""WITH $ShingleCte,
         |ht AS (SELECT doc_id, list_sort(list_distinct(list_transform(toks,
         |  s -> ('0x'||substr(md5(s),1,8))::BIGINT))) AS htoks FROM toks),
         |pre AS (SELECT doc_id, unnest(htoks[1 : greatest(1,
         |  len(htoks) - CAST(ceil(len(htoks) * 0.4) AS INTEGER) + 1)]) AS h
         |  FROM ht WHERE len(htoks) > 0),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM pre x JOIN pre y ON x.h = y.h AND x.doc_id < y.doc_id),
         |j AS (SELECT a, b,
         |  CAST(len(list_intersect(xa.htoks, yb.htoks)) AS DOUBLE) /
         |  CAST(len(list_distinct(list_concat(xa.htoks, yb.htoks))) AS DOUBLE) AS jaccard
         |  FROM cand JOIN ht xa ON xa.doc_id = cand.a JOIN ht yb ON yb.doc_id = cand.b)
         |SELECT 'brute_pairs' AS metric,
         |  CAST((SELECT count(*) FROM j WHERE jaccard >= 0.4) AS BIGINT) AS value,
         |  TRUE AS pass
         |UNION ALL SELECT 'lsh_pairs_not_in_brute', 0, TRUE
         |UNION ALL SELECT 'recall_vs_brute_ge_milli', 900, TRUE""".stripMargin,

    // r10: fixed-size DOUBLE[64] arrays + DuckDB's native (vectorized)
    // array_cosine_similarity instead of per-pair list_transform lambdas —
    // verified row-identical to the old list form at sf0.01. Same n²
    // candidate set (cosine at t=0.45 over a CONTINUOUS similarity
    // distribution has no lossless discrete candidate key — sub-threshold
    // cosines run right up to 0.4494 at sf0.01), but the computation
    // shape drops from minutes-per-10k-rows to ~22 s for 20k rows (2e8
    // pairs), making the oracle tractable at the 10x replica; 100x stays
    // skip-listed in-sweep with a dedicated BLAS oracle
    // (tools/embed_neardup_oracle.py).
    "q_embed_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[64]) AS v FROM embeddings)
        |SELECT x.vec_id AS a, y.vec_id AS b,
        |       round(array_cosine_similarity(x.v, y.v), 6) AS cos
        |FROM e x JOIN e y ON x.vec_id < y.vec_id
        |WHERE array_cosine_similarity(x.v, y.v) >= 0.45""".stripMargin,

    // the verdict gate's brute_pairs row is recomputed by the oracle's own
    // quadratic scan; the structural/floor rows are constants the engine
    // must reproduce (a recall regression flips pass -> hash mismatch)
    "q_embed_neardup_lsh" ->
      """SELECT 'brute_pairs' AS metric,
        |  CAST((SELECT count(*) FROM
        |    (SELECT vec_id, CAST(embedding AS DOUBLE[64]) AS v FROM embeddings) x
        |    JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[64]) AS v FROM embeddings) y
        |    ON x.vec_id < y.vec_id
        |    WHERE array_cosine_similarity(x.v, y.v) >= 0.45) AS BIGINT) AS value,
        |  TRUE AS pass
        |UNION ALL SELECT 'lsh_pairs_not_in_brute', 0, TRUE
        |UNION ALL SELECT 'recall_vs_brute_ge_milli', 300, TRUE""".stripMargin,

    // q_dedup_semantic verdict oracle (r10): the conservation row's
    // expected value is the corpus count recomputed from the table;
    // soundness (semantic losers ⊆ brute losers) and the loser-recall
    // floor are engine-computed booleans against stated constants.
    "q_dedup_semantic" ->
      """SELECT 'rows_conserved' AS metric,
        |  CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS value,
        |  TRUE AS pass
        |UNION ALL SELECT 'losers_not_in_brute', 0, TRUE
        |UNION ALL SELECT 'loser_recall_vs_brute_ge_milli', 400, TRUE""".stripMargin,

    "q_text_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(list_sum(list_transform(string_split(text, ' '),
        |    t -> 1 + CAST(floor(CAST(len(t) AS DOUBLE) / 6.0) AS BIGINT))) AS BIGINT) AS n_subwords,
        |  round(CAST(list_sum(list_transform(string_split(text, ' '),
        |    t -> len(t))) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS avg_len,
        |  round(CAST(list_sum(list_transform(string_split(text, ' '),
        |    t -> CASE WHEN list_contains(['the','a','and','of','to','in'], t)
        |         THEN 1 ELSE 0 END)) AS DOUBLE)
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS stop_ratio
        |FROM documents""".stripMargin,

    "q_text_quality" ->
      s"SELECT doc_id, $QualitySql AS quality FROM documents",

    "q_text_langid" ->
      """WITH sc AS (
        |  SELECT doc_id,
        |    len(list_intersect(list_distinct(string_split(text,' ')),
        |        ['table','window','row','batch'])) AS s_de,
        |    len(list_intersect(list_distinct(string_split(text,' ')),
        |        ['the','a','fast','slow'])) AS s_en,
        |    len(list_intersect(list_distinct(string_split(text,' ')),
        |        ['scan','sort','merge','order'])) AS s_es,
        |    len(list_intersect(list_distinct(string_split(text,' ')),
        |        ['join','group','filter','query'])) AS s_fr,
        |    len(list_intersect(list_distinct(string_split(text,' ')),
        |        ['hash','key','vector','data'])) AS s_zh
        |  FROM documents),
        |enc AS (SELECT doc_id,
        |  greatest(s_de*8+1, s_en*8+2, s_es*8+3, s_fr*8+4, s_zh*8+5) AS e,
        |  greatest(s_de, s_en, s_es, s_fr, s_zh) AS hits FROM sc)
        |SELECT doc_id,
        |  (['de','en','es','fr','zh'])[e % 8] AS lang_pred,
        |  CAST(hits AS BIGINT) AS hits
        |FROM enc""".stripMargin,

    "q_text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(0::BIGINT, list_transform(string_split(text, ' '),
        |      t -> ('0x'||substr(md5(t),1,8))::BIGINT % 2147483647)),
        |    (a, b) -> (a*31 + b) % 2147483647) AS fp
        |FROM documents""".stripMargin,

    "q_text_repetition" ->
      """WITH g AS (SELECT doc_id,
        |  CASE WHEN len(string_split(text,' ')) >= 3 THEN
        |    list_transform(range(1, len(string_split(text,' ')) - 1),
        |      i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' '))
        |  ELSE [] END AS grams FROM documents)
        |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_ngrams,
        |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
        |  CASE WHEN len(grams) = 0 THEN 0.0
        |       ELSE round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
        |                  / CAST(len(grams) AS DOUBLE), 6) END AS rep_ratio
        |FROM g""".stripMargin,

    "q_text_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    'reach user' || doc_id || '@mail.example.org or +1 555 24'
        |      || (doc_id % 100) || ' from 10.0.' || (doc_id % 256) || '.7 ' || text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b([0-9]{1,3}\.)[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS clean
        |FROM documents""".stripMargin,

    "q_bm25_topk" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |post AS (SELECT t.term AS term, doc_id, len(w) AS dl, count(*) AS tf
        |         FROM d, unnest(w) AS t(term) GROUP BY 1, 2, 3),
        |st AS (SELECT count(*) AS n, avg(len(w)) AS avgdl FROM d),
        |tstat AS (SELECT term, count(*) AS df FROM post GROUP BY 1
        |          HAVING count(*) <= (SELECT CAST(floor(0.98 * n) AS BIGINT) FROM st)),
        |q AS (SELECT doc_id AS qid, array_to_string(list_slice(w, 1, 8), ' ') AS qtext
        |      FROM d WHERE doc_id % 97 = 0 ORDER BY doc_id LIMIT 64),
        |qt AS (SELECT qid, unnest(list_distinct(string_split(qtext, ' '))) AS term FROM q),
        |qw AS (SELECT qid, term,
        |         ln(1.0 + (CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) AS idf
        |       FROM qt JOIN tstat USING (term), st),
        |co AS (SELECT qid, doc_id AS id,
        |         CAST(floor((idf * ((CAST(tf AS DOUBLE) * (1.2 + 1.0))
        |           / (CAST(tf AS DOUBLE)
        |              + 1.2 * ((1.0 - 0.75) + (0.75 * CAST(dl AS DOUBLE)) / avgdl))))
        |           * 1000000.0) AS BIGINT) AS c
        |       FROM qw JOIN post USING (term), st),
        |sc AS (SELECT qid, id, CAST(sum(c) AS BIGINT) AS score_micro FROM co GROUP BY 1, 2),
        |r AS (SELECT qid, id, score_micro,
        |        row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, id) AS rn
        |      FROM sc)
        |SELECT qid, id, score_micro FROM r WHERE rn <= 10""".stripMargin,

    "q_hybrid_rrf" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |post AS (SELECT t.term AS term, doc_id, len(w) AS dl, count(*) AS tf
        |         FROM d, unnest(w) AS t(term) GROUP BY 1, 2, 3),
        |st AS (SELECT count(*) AS n, avg(len(w)) AS avgdl FROM d),
        |tstat AS (SELECT term, count(*) AS df FROM post GROUP BY 1
        |          HAVING count(*) <= (SELECT CAST(floor(0.98 * n) AS BIGINT) FROM st)),
        |q AS (SELECT doc_id AS qid, array_to_string(list_slice(w, 1, 8), ' ') AS qtext
        |      FROM d WHERE doc_id % 97 = 0 ORDER BY doc_id LIMIT 64),
        |qt AS (SELECT qid, unnest(list_distinct(string_split(qtext, ' '))) AS term FROM q),
        |qw AS (SELECT qid, term,
        |         ln(1.0 + (CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) AS idf
        |       FROM qt JOIN tstat USING (term), st),
        |co AS (SELECT qid, doc_id AS id,
        |         CAST(floor((idf * ((CAST(tf AS DOUBLE) * (1.2 + 1.0))
        |           / (CAST(tf AS DOUBLE)
        |              + 1.2 * ((1.0 - 0.75) + (0.75 * CAST(dl AS DOUBLE)) / avgdl))))
        |           * 1000000.0) AS BIGINT) AS c
        |       FROM qw JOIN post USING (term), st),
        |sc AS (SELECT qid, id, CAST(sum(c) AS BIGINT) AS score_micro FROM co GROUP BY 1, 2),
        |ta AS (SELECT qid, id,
        |         row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, id) AS rnk
        |       FROM sc QUALIFY rnk <= 20),
        |vs AS (SELECT q.vec_id AS qid, e.vec_id AS id,
        |         (list_sum(list_transform(range(1, 65),
        |             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))
        |          / (sqrt(list_sum(list_transform(range(1, 65),
        |               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
        |           * sqrt(list_sum(list_transform(range(1, 65),
        |               i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))))) AS cos
        |       FROM (SELECT * FROM embeddings WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 64) q, embeddings e),
        |va AS (SELECT qid, id,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rnk
        |       FROM vs QUALIFY rnk <= 20),
        |f AS (SELECT coalesce(ta.qid, va.qid) AS qid, coalesce(ta.id, va.id) AS id,
        |        coalesce(CAST(floor(1000000000.0 / (60.0 + CAST(ta.rnk AS DOUBLE))) AS BIGINT), 0)
        |      + coalesce(CAST(floor(1000000000.0 / (60.0 + CAST(va.rnk AS DOUBLE))) AS BIGINT), 0)
        |          AS rrf_micro
        |      FROM ta FULL OUTER JOIN va ON ta.qid = va.qid AND ta.id = va.id),
        |r AS (SELECT qid, id, rrf_micro,
        |        row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, id) AS rn
        |      FROM f)
        |SELECT qid, id, rrf_micro FROM r WHERE rn <= 10""".stripMargin,

    "q_text_chunk" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |n AS (SELECT doc_id, w, len(w) AS nt,
        |        CASE WHEN len(w) <= 32 THEN 1
        |             ELSE CAST(ceil(CAST(len(w) - 32 AS DOUBLE) / 24.0) AS BIGINT) + 1
        |        END AS nc
        |      FROM d),
        |e AS (SELECT doc_id, w, nt, unnest(range(0, nc)) AS i FROM n)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |  CAST(least(nt - i * 24, 32) AS BIGINT) AS n_tokens,
        |  array_to_string(list_slice(w, i * 24 + 1, i * 24 + 32), ' ') AS chunk_text
        |FROM e""".stripMargin,

    "q_lm_score" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g0 AS (SELECT doc_id,
        |         CASE WHEN len(w) >= 2 THEN
        |           list_transform(range(1, len(w)),
        |             i -> array_to_string(list_slice(w, i, i + 1), ' '))
        |         ELSE [] END AS grams
        |       FROM d),
        |ge AS (SELECT doc_id, unnest(grams) AS gram FROM g0),
        |cc AS (SELECT gram, count(*) AS c2 FROM ge GROUP BY 1),
        |hh AS (SELECT string_split(gram, ' ')[1] AS w1, CAST(sum(c2) AS BIGINT) AS c1
        |       FROM cc GROUP BY 1),
        |m0 AS (SELECT gram, c2, row_number() OVER (ORDER BY c2 DESC, gram) AS rn FROM cc),
        |m AS (SELECT m0.gram,
        |        CAST(floor(ln(CAST(m0.c2 AS DOUBLE) / CAST(hh.c1 AS DOUBLE)) * 1000000.0)
        |          AS BIGINT) AS lp
        |      FROM m0 JOIN hh ON string_split(m0.gram, ' ')[1] = hh.w1
        |      WHERE rn <= 512),
        |s1 AS (SELECT ge.doc_id, count(m.lp) AS n_scored, sum(m.lp) AS lpsum
        |       FROM ge LEFT JOIN m USING (gram) GROUP BY 1)
        |SELECT g0.doc_id, CAST(len(g0.grams) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(s1.n_scored, 0) AS BIGINT) AS n_scored,
        |  CASE WHEN coalesce(s1.n_scored, 0) = 0 THEN 0.0
        |       ELSE round(CAST(s1.lpsum AS DOUBLE) / CAST(s1.n_scored AS DOUBLE), 4)
        |  END AS avg_logp_micro
        |FROM g0 LEFT JOIN s1 USING (doc_id)""".stripMargin,

    "q_embed_project" ->
      """WITH jj AS (SELECT unnest(range(0, 16)) AS dim)
        |SELECT e.vec_id, CAST(jj.dim AS BIGINT) AS dim,
        |  round(list_sum(list_transform(range(1, 65), i ->
        |    CAST(e.embedding[i] AS DOUBLE) *
        |    (CASE WHEN ('0x' || substr(md5(CAST(i - 1 AS VARCHAR) || '_'
        |                 || CAST(jj.dim AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
        |          THEN 1.0 ELSE -1.0 END))) / sqrt(16.0), 6) AS val
        |FROM embeddings e, jj""".stripMargin,

    "q_sample_stratified" ->
      """WITH h AS (SELECT doc_id, lang, n_chars,
        |            ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hh
        |          FROM documents),
        |c AS (SELECT lang, count(*) AS n FROM h GROUP BY 1),
        |r AS (SELECT h.doc_id, h.lang, h.n_chars, c.n,
        |        row_number() OVER (PARTITION BY h.lang ORDER BY hh, doc_id) AS rn
        |      FROM h JOIN c ON h.lang = c.lang)
        |SELECT doc_id, lang, n_chars FROM r
        |WHERE rn <= CAST(ceil(0.2 * n) AS BIGINT)""".stripMargin,

    "q_corpus_select" ->
      """WITH s AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |            CAST(doc_id % 101 AS BIGINT) AS score FROM documents),
        |c AS (SELECT *, CAST(sum(n_chars) OVER (ORDER BY score DESC, doc_id
        |        ROWS UNBOUNDED PRECEDING) - n_chars AS BIGINT) AS sel_offset FROM s)
        |SELECT doc_id, score, n_chars, sel_offset
        |FROM c WHERE sel_offset + n_chars <= 60000""".stripMargin,

    "q_corpus_select_domain" ->
      """WITH s AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |            CAST(doc_id % 101 AS BIGINT) AS score FROM documents),
        |c AS (SELECT *, CAST(sum(n_chars) OVER (PARTITION BY lang
        |        ORDER BY score DESC, doc_id
        |        ROWS UNBOUNDED PRECEDING) - n_chars AS BIGINT) AS sel_offset FROM s)
        |SELECT doc_id, lang, score, n_chars, sel_offset
        |FROM c WHERE sel_offset + n_chars <=
        |  CASE lang WHEN 'en' THEN 20000 WHEN 'de' THEN 8000 ELSE 5000 END""".stripMargin,

    "q_corpus_select_waterfill" ->
      """WITH s AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |            CAST(doc_id % 101 AS BIGINT) AS score FROM documents),
        |dd AS (SELECT *, CAST(sum(n_chars) OVER (PARTITION BY lang
        |        ORDER BY score DESC, doc_id
        |        ROWS UNBOUNDED PRECEDING) - n_chars AS BIGINT) AS domain_offset FROM s),
        |d AS (SELECT * FROM dd WHERE domain_offset + n_chars <=
        |  CASE lang WHEN 'en' THEN 12000 WHEN 'de' THEN 6000 ELSE 4000 END),
        |c AS (SELECT *, CAST(sum(n_chars) OVER (
        |        ORDER BY score DESC, doc_id
        |        ROWS UNBOUNDED PRECEDING) - n_chars AS BIGINT) AS sel_offset FROM d)
        |SELECT doc_id, lang, score, n_chars, domain_offset, sel_offset
        |FROM c WHERE sel_offset + n_chars <= 20000""".stripMargin,

    "q_decontam" ->
      """WITH tg AS (SELECT doc_id, unnest(
        |    CASE WHEN len(string_split(text,' ')) >= 3 THEN
        |      list_distinct(list_transform(
        |        list_transform(range(1, len(string_split(text,' ')) - 1),
        |          i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' ')),
        |        s -> ('0x'||substr(md5(s),1,15))::BIGINT))
        |    ELSE [] END) AS g
        |  FROM documents WHERE doc_id % 7 <> 0),
        |eg AS (SELECT DISTINCT unnest(
        |    CASE WHEN len(string_split(text,' ')) >= 3 THEN
        |      list_transform(
        |        list_transform(range(1, len(string_split(text,' ')) - 1),
        |          i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' ')),
        |        s -> ('0x'||substr(md5(s),1,15))::BIGINT)
        |    ELSE [] END) AS g
        |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT doc_id, count(*) AS hits
        |FROM tg JOIN eg USING (g)
        |GROUP BY doc_id HAVING count(*) >= 5""".stripMargin,

    // window variant: tg keeps EVERY sliding position (no list_distinct)
    "q_decontam_window" ->
      """WITH tg AS (SELECT doc_id, unnest(
        |    CASE WHEN len(string_split(text,' ')) >= 3 THEN
        |      list_transform(
        |        list_transform(range(1, len(string_split(text,' ')) - 1),
        |          i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' ')),
        |        s -> ('0x'||substr(md5(s),1,15))::BIGINT)
        |    ELSE [] END) AS g
        |  FROM documents WHERE doc_id % 7 <> 0),
        |eg AS (SELECT DISTINCT unnest(
        |    CASE WHEN len(string_split(text,' ')) >= 3 THEN
        |      list_transform(
        |        list_transform(range(1, len(string_split(text,' ')) - 1),
        |          i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' ')),
        |        s -> ('0x'||substr(md5(s),1,15))::BIGINT)
        |    ELSE [] END) AS g
        |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT doc_id, count(*) AS hits
        |FROM tg JOIN eg USING (g)
        |GROUP BY doc_id HAVING count(*) >= 5""".stripMargin,

    // PMI replay: tokenize with ordinality, self-join on gap ≤ 2 (the
    // engine's projection emits exactly these ordered pairs), wordcount
    // both tables, PMI as the identical fixed-order double expression.
    "q_pmi_cooccur" ->
      """WITH toks AS (
        |  SELECT d.doc_id, u.i AS i, d.ws[u.i] AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) d,
        |       unnest(range(1, len(d.ws) + 1)) u(i)),
        |pairs AS (
        |  SELECT ta.w AS a, tb.w AS b
        |  FROM toks ta JOIN toks tb
        |    ON ta.doc_id = tb.doc_id AND tb.i - ta.i BETWEEN 1 AND 2),
        |pc AS (SELECT a, b, count(*) AS c_ab FROM pairs GROUP BY 1, 2),
        |uni AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
        |tot AS (SELECT (SELECT sum(c_ab) FROM pc) AS p,
        |               (SELECT sum(c) FROM uni) AS t)
        |SELECT pc.a, pc.b, pc.c_ab, ua.c AS c_a, ub.c AS c_b,
        |       CAST(FLOOR(ln((CAST(pc.c_ab AS DOUBLE) * CAST(tot.t AS DOUBLE)
        |                      * CAST(tot.t AS DOUBLE))
        |                   / (CAST(tot.p AS DOUBLE) * CAST(ua.c AS DOUBLE)
        |                      * CAST(ub.c AS DOUBLE))) * 1000000.0) AS BIGINT)
        |         AS pmi_micro
        |FROM pc
        |JOIN uni ua ON ua.w = pc.a
        |JOIN uni ub ON ub.w = pc.b
        |CROSS JOIN tot
        |WHERE pc.c_ab >= 5""".stripMargin,

    // Bloom replay: identical gram CTEs to q_decontam, then the filter's
    // word table (b>>5, bit_or of 1<<(b%32) — 32-bit packing keeps
    // DuckDB's overflow-checked shift off the sign bit) and a k-position
    // membership probe of the distinct train grams.
    "q_bloom_decontam" ->
      """WITH tg AS (SELECT doc_id, unnest(
        |    CASE WHEN len(string_split(text,' ')) >= 3 THEN
        |      list_distinct(list_transform(
        |        list_transform(range(1, len(string_split(text,' ')) - 1),
        |          i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' ')),
        |        s -> ('0x'||substr(md5(s),1,15))::BIGINT))
        |    ELSE [] END) AS g
        |  FROM documents WHERE doc_id % 7 <> 0),
        |eg AS (SELECT DISTINCT unnest(
        |    CASE WHEN len(string_split(text,' ')) >= 3 THEN
        |      list_transform(
        |        list_transform(range(1, len(string_split(text,' ')) - 1),
        |          i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' ')),
        |        s -> ('0x'||substr(md5(s),1,15))::BIGINT)
        |    ELSE [] END) AS g
        |  FROM documents WHERE doc_id % 7 = 0),
        |words AS (
        |  SELECT b >> 5 AS w, bit_or(1::BIGINT << (CAST(b % 32 AS INTEGER))) AS word
        |  FROM (SELECT ('0x'||substr(md5(i::VARCHAR || '|' || g::VARCHAR),1,15))::BIGINT
        |               % 1048576 AS b
        |        FROM eg, (SELECT unnest(range(4)) AS i) ks)
        |  GROUP BY 1),
        |pg AS (SELECT DISTINCT g FROM tg),
        |probe AS (
        |  SELECT p.g,
        |         count(*) FILTER (WHERE w.word IS NOT NULL AND (w.word & p.m) = p.m) = 4
        |           AS maybe
        |  FROM (SELECT g, b >> 5 AS w, (1::BIGINT << (CAST(b % 32 AS INTEGER))) AS m
        |        FROM (SELECT g, ('0x'||substr(md5(i::VARCHAR || '|' || g::VARCHAR),1,15))::BIGINT
        |                     % 1048576 AS b
        |              FROM pg, (SELECT unnest(range(4)) AS i) ks)) p
        |  LEFT JOIN words w ON p.w = w.w
        |  GROUP BY p.g),
        |bh AS (SELECT doc_id, count(*) AS bloom_hits
        |       FROM tg JOIN probe ON tg.g = probe.g AND probe.maybe
        |       GROUP BY 1 HAVING count(*) >= 5),
        |eh AS (SELECT doc_id, count(*) AS exact_hits FROM tg JOIN eg USING (g) GROUP BY 1)
        |SELECT bh.doc_id, bh.bloom_hits,
        |       CAST(COALESCE(eh.exact_hits, 0) AS BIGINT) AS exact_hits
        |FROM bh LEFT JOIN eh USING (doc_id)""".stripMargin,

    // the parser sees only bytes; the oracle recomputes the geometry the
    // spec-compliant fixture encoded from (doc_id, n_chars)
    "q_media_headers" ->
      """SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
        |                  WHEN 2 THEN 'jpeg' ELSE 'wav' END AS media_kind,
        |  CAST(CASE WHEN doc_id % 4 IN (0,1,2) THEN n_chars % 1000 + 1 ELSE 0 END
        |       AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 4 IN (0,1,2) THEN doc_id % 500 + 1 ELSE 0 END
        |       AS BIGINT) AS height,
        |  CAST(CASE WHEN doc_id % 4 = 3 THEN 8000 + ((doc_id // 4) % 8) * 4000 ELSE 0 END
        |       AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 4 = 3 THEN 1 + (doc_id // 4) % 2 ELSE 0 END
        |       AS BIGINT) AS channels
        |FROM documents""".stripMargin,

    // oracle restates the v2 container parse from the fixture's integer
    // contract (mp4 duration: whole seconds at timescale 600 -> exact ms)
    "q_media_headers_v2" ->
      """SELECT doc_id,
        |  CASE doc_id % 2 WHEN 0 THEN 'mp4' ELSE 'tiff' END AS media_kind,
        |  CAST(n_chars % 1000 + 1 AS BIGINT) AS width,
        |  CAST(doc_id % 500 + 1 AS BIGINT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN (doc_id % 3600 + 1) * 1000 ELSE 0 END
        |       AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin,

    "q_media_meta" ->
      """SELECT doc_id, CAST(octet_length(text::BLOB) AS BIGINT) AS nbytes,
        |       md5(text) AS sig
        |FROM documents""".stripMargin,

    // the decode oracle recomputes the fixture generator's closed form:
    // channel c of (x, y) in doc id is
    // (31*id + (7 + (id//256)%251)*x + (13 + (id//65536)%241)*y + 97*c) % 256
    // over an (8 + id%9) x (8 + id*3%9) image (high-bit gradients keep
    // images unique at replica scale — see MediaDecode.pixel)
    "q_media_decode" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS width,
        |         CAST(8 + (doc_id * 3) % 9 AS INT) AS height
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id, d.width, d.height, xs.x AS x, ys.y AS y
        |  FROM dims d, generate_series(0, 16) xs(x), generate_series(0, 16) ys(y)
        |  WHERE xs.x < d.width AND ys.y < d.height)
        |SELECT doc_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
        |            ELSE 'gif' END AS fmt,
        |       width, height,
        |       CAST(sum((31*doc_id + (7 + (doc_id//256) % 251)*x
        |                 + (13 + (doc_id//65536) % 241)*y) % 256) AS BIGINT) AS r_sum,
        |       CAST(sum((31*doc_id + (7 + (doc_id//256) % 251)*x
        |                 + (13 + (doc_id//65536) % 241)*y + 97) % 256) AS BIGINT) AS g_sum,
        |       CAST(sum((31*doc_id + (7 + (doc_id//256) % 251)*x
        |                 + (13 + (doc_id//65536) % 241)*y + 194) % 256) AS BIGINT) AS b_sum
        |FROM px GROUP BY 1, 2, 3, 4""".stripMargin,

    // nearest-neighbor source coordinates: sx=(x*w)//8, sy=(y*h)//8
    "q_media_resize" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS w,
        |         CAST(8 + (doc_id * 3) % 9 AS INT) AS h
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id, (xs.x * d.w) // 8 AS sx, (ys.y * d.h) // 8 AS sy
        |  FROM dims d, generate_series(0, 7) xs(x), generate_series(0, 7) ys(y))
        |SELECT doc_id,
        |       CAST(sum((31*doc_id + (7 + (doc_id//256) % 251)*sx
        |                 + (13 + (doc_id//65536) % 241)*sy) % 256) AS BIGINT) AS r_sum,
        |       CAST(sum((31*doc_id + (7 + (doc_id//256) % 251)*sx
        |                 + (13 + (doc_id//65536) % 241)*sy + 97) % 256) AS BIGINT) AS g_sum,
        |       CAST(sum((31*doc_id + (7 + (doc_id//256) % 251)*sx
        |                 + (13 + (doc_id//65536) % 241)*sy + 194) % 256) AS BIGINT) AS b_sum
        |FROM px GROUP BY 1""".stripMargin,

    // WAV sample generator: (17*id + 29*i) % 2001 - 1000 over 64 + id%64
    // samples at 8000 + (id%3)*4000 Hz
    "q_media_audio" ->
      """WITH n AS (
        |  SELECT doc_id, CAST(64 + doc_id % 64 AS INT) AS n,
        |         CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n.n, sample_rate,
        |         (17*doc_id + 29*i.i) % 2001 - 1000 AS v
        |  FROM n, generate_series(0, 127) i(i) WHERE i.i < n.n)
        |SELECT doc_id, sample_rate, CAST(max(n) AS BIGINT) AS n_samples,
        |       CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |       CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
        |       CAST(max(abs(v)) AS INT) AS peak
        |FROM s GROUP BY 1, 2""".stripMargin,

    // the full audio near-dup pipeline re-derived closed-form: PCM
    // samples -> 64 frame energies -> mean-threshold bits -> banded
    // candidates -> popcount hamming; keep hamming <= 3
    "q_media_audio_neardup" ->
      s"""WITH $AudioNearDupCtes
        |SELECT a, b, CAST(hd AS INTEGER) AS hdist FROM ham
        |WHERE hd <= 3""".stripMargin,

    // MP4 sample table re-derived closed-form: chunks are contiguous in
    // mdat, so offset(i) = 32 + prefix-sum of sizes; sizes/deltas from the
    // fixture arithmetic; dts = i*delta, pts = dts + the closed-form ctts
    // offset (absent on id%5==0; v1 signed on odd ids, v0 unsigned on
    // even); is_sync from the closed-form stss (absent on id%3==0 -> all
    // sync, else every 3rd sample)
    "q_media_mp4_samples" ->
      s"""WITH $Mp4SampleCte
        |SELECT id AS doc_id, CAST(sample_idx AS INT) AS sample_idx, chunk_idx,
        |       s."offset", CAST(sz AS BIGINT) AS size, CAST(dts AS BIGINT) AS dts,
        |       CAST(pts AS BIGINT) AS pts, is_sync
        |FROM s""".stripMargin,

    // stsd codec metadata re-derived closed-form from id%3 (avc1 / hvc1 /
    // mp4a with arithmetic dims / audio params)
    "q_media_mp4_codec" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CASE WHEN doc_id % 3 = 2 THEN 'mp4a'
        |       WHEN doc_id % 3 = 0 THEN 'avc1' ELSE 'hvc1' END AS codec,
        |  CASE WHEN doc_id % 3 = 2 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 0
        |            WHEN doc_id % 3 = 0 THEN 320 + 16 * (doc_id % 8)
        |            ELSE 640 + 16 * (doc_id % 8) END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 0
        |            WHEN doc_id % 3 = 0 THEN 240 + 16 * (doc_id % 5)
        |            ELSE 360 + 16 * (doc_id % 5) END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + doc_id % 2 ELSE 0 END
        |       AS INT) AS channels,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 16000 + 1000 * (doc_id % 8)
        |            ELSE 0 END AS INT) AS sample_rate,
        |  CAST(600 AS BIGINT) AS timescale
        |FROM documents""".stripMargin,

    // the fragmented walk re-derived closed-form: every box size is
    // arithmetic in (id, f, nf), so fragment starts are a window prefix
    // sum over (moofsz + 8 + payload) and sample offsets a prefix sum of
    // sizes within the fragment; dts honors the tfdt gap (+1000/fragment)
    // unless id%7==0 (no tfdt -> continuous)
    "q_media_mp4_fragmented" ->
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |frags AS (
        |  SELECT id, f.f AS f, 3 + (id + f.f) % 4 AS nf, 100 + id % 50 AS delta
        |  FROM ids, generate_series(0, 3) f(f) WHERE f.f < 2 + id % 3),
        |pay AS (
        |  SELECT fr.id, fr.f,
        |         sum(10 + (17*fr.id + 29*fr.f + 31*i.i) % 90) AS payload
        |  FROM frags fr, generate_series(0, 5) i(i) WHERE i.i < fr.nf
        |  GROUP BY fr.id, fr.f),
        |fsz AS (
        |  SELECT fr.id, fr.f, fr.nf, fr.delta, p.payload,
        |    24 + 8
        |      + CASE WHEN fr.id % 2 = 0 THEN 24 ELSE 16 END
        |      + CASE WHEN fr.id % 7 = 0 THEN 0
        |             WHEN fr.id % 2 = 1 THEN 20 ELSE 16 END
        |      + (8 + 12 + CASE WHEN fr.id % 3 = 0 THEN 4 ELSE 0 END
        |         + fr.nf * (4 + CASE WHEN fr.id % 3 <> 0 THEN 4 ELSE 0 END
        |                      + CASE WHEN fr.id % 5 <> 0 THEN 4 ELSE 0 END))
        |      AS moofsz
        |  FROM frags fr JOIN pay p ON p.id = fr.id AND p.f = fr.f),
        |fpos AS (
        |  SELECT id, f, nf, delta, moofsz,
        |    228 + COALESCE(sum(moofsz + 8 + payload) OVER (PARTITION BY id
        |      ORDER BY f ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS fragstart,
        |    COALESCE(sum(nf) OVER (PARTITION BY id ORDER BY f
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumbefore
        |  FROM fsz),
        |s0 AS (
        |  SELECT p.*, i.i AS i,
        |         10 + (17*p.id + 29*p.f + 31*i.i) % 90 AS sz
        |  FROM fpos p, generate_series(0, 5) i(i) WHERE i.i < p.nf),
        |s AS (
        |  SELECT id, f, i, sz, cumbefore + i AS sample_idx,
        |    fragstart + moofsz + 8 + COALESCE(sum(sz) OVER (PARTITION BY id, f
        |      ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS off,
        |    CASE WHEN id % 7 = 0 THEN (cumbefore + i) * delta
        |         ELSE cumbefore * delta + f * 1000 + i * delta END AS dts,
        |    CASE WHEN id % 5 = 0 THEN 0
        |         WHEN id % 2 = 1 THEN ((i % 3) - 1) * delta
        |         ELSE (i % 3) * delta END AS ct,
        |    CASE WHEN id % 3 = 0 THEN i = 0 ELSE i % 3 = 0 END AS is_sync
        |  FROM s0)
        |SELECT id AS doc_id, CAST(sample_idx AS INT) AS sample_idx,
        |       CAST(f AS INT) AS chunk_idx, CAST(off AS BIGINT) AS "offset",
        |       CAST(sz AS BIGINT) AS size, CAST(dts AS BIGINT) AS dts,
        |       CAST(dts + ct AS BIGINT) AS pts, is_sync
        |FROM s""".stripMargin,

    // keyframe sampling re-derived closed-form: ticks every 150 units
    // below the track duration n*delta; per tick the sync sample with
    // the smallest pts at-or-after it (ties: smallest sample_idx)
    "q_media_mp4_keyframes" ->
      s"""WITH $Mp4SampleCte,
        |ticks AS (
        |  SELECT id, 150 * k.k AS tick
        |  FROM ids, generate_series(0, 12) k(k)
        |  WHERE 150 * k.k < (6 + id % 5) * (100 + id % 50)),
        |cand AS (
        |  SELECT t.id, t.tick, s.sample_idx, s.pts, s."offset", s.sz,
        |         row_number() OVER (PARTITION BY t.id, t.tick
        |           ORDER BY s.pts, s.sample_idx) AS rn
        |  FROM ticks t JOIN s ON s.id = t.id AND s.is_sync AND s.pts >= t.tick)
        |SELECT id AS doc_id, CAST(tick AS BIGINT) AS tick,
        |       CAST(sample_idx AS INT) AS sample_idx, CAST(pts AS BIGINT) AS pts,
        |       cand."offset", CAST(sz AS BIGINT) AS size
        |FROM cand WHERE rn = 1""".stripMargin,

    // the edit-list shift + end-trim re-derived closed-form (same sample
    // CTE — the edits fixture changes only moov metadata, never the
    // tables): ticks cover [0, min(duration - shift, cap)) where cap is
    // the id%3==0 trimming segment_duration converted movie->media,
    // seek = first sync pts >= tick + shift
    "q_media_mp4_keyframes_edit" ->
      s"""WITH $Mp4SampleCte,
        |sh AS (
        |  SELECT id, CASE WHEN id % 3 = 0 THEN 100 + id % 50
        |              WHEN id % 3 = 1 THEN (100 + id % 50) - 2 * (7 + id % 5)
        |              ELSE 0 END AS shift,
        |         CASE WHEN id % 3 = 0
        |              THEN 2 * (((4 + id % 5) * (100 + id % 50)) // 2)
        |              ELSE NULL END AS cap
        |  FROM ids),
        |ticks AS (
        |  SELECT sh.id, 150 * k.k AS tick, sh.shift
        |  FROM sh, generate_series(0, 12) k(k)
        |  WHERE 150 * k.k < LEAST(
        |    (6 + sh.id % 5) * (100 + sh.id % 50) - sh.shift,
        |    COALESCE(sh.cap, 9223372036854775807))),
        |cand AS (
        |  SELECT t.id, t.tick, s.sample_idx, s.pts, s."offset", s.sz,
        |         row_number() OVER (PARTITION BY t.id, t.tick
        |           ORDER BY s.pts, s.sample_idx) AS rn
        |  FROM ticks t JOIN s ON s.id = t.id AND s.is_sync
        |    AND s.pts >= t.tick + t.shift)
        |SELECT id AS doc_id, CAST(tick AS BIGINT) AS tick,
        |       CAST(sample_idx AS INT) AS sample_idx, CAST(pts AS BIGINT) AS pts,
        |       cand."offset", CAST(sz AS BIGINT) AS size
        |FROM cand WHERE rn = 1""".stripMargin,

    // size-sequence dup signature re-derived closed-form: md5 over the
    // comma-joined stsz sizes of src = base id (twins at id+1e12 reuse
    // the BASE id's tables); groups keyed by the full digest
    "q_media_mp4_dupsig" ->
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |corpus AS (
        |  SELECT id, id AS src FROM ids
        |  UNION ALL
        |  SELECT id + 1000000000000, id FROM ids WHERE id % 10 = 0),
        |sigs AS (
        |  SELECT id, md5(array_to_string(
        |    list_transform(range(0, CAST(6 + src % 5 AS INT)),
        |      i -> CAST(10 + (17*src + 31*i) % 90 AS VARCHAR)), ',')) AS sig
        |  FROM corpus),
        |g AS (SELECT sig, min(id) AS group_id, count(*) AS cnt
        |      FROM sigs GROUP BY sig)
        |SELECT s.id AS doc_id, s.sig, g.group_id
        |FROM sigs s JOIN g ON g.sig = s.sig WHERE g.cnt > 1""".stripMargin,

    // both tracks of the shared-mdat container re-derived closed-form:
    // audio rows (track 1: chunks of 2, dts 1024*i, all sync, offsets
    // from 32) then video rows (track 2: synthMp4's tables with every
    // offset shifted past the audio payload)
    "q_media_mp4_multitrack" ->
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |a0 AS (
        |  SELECT id, i.i AS sample_idx, 8 + (13*id + 7*i.i) % 40 AS sz,
        |         CAST(i.i // 2 AS INT) AS chunk_idx, i.i * 1024 AS dts
        |  FROM ids, generate_series(0, 6) i(i) WHERE i.i < 4 + id % 3),
        |apay AS (SELECT id, sum(sz) AS apay FROM a0 GROUP BY id),
        |v0 AS (
        |  SELECT id, i.i AS sample_idx, 10 + (17*id + 31*i.i) % 90 AS sz,
        |         CAST(i.i // 3 AS INT) AS chunk_idx,
        |         i.i * (100 + id % 50) AS dts,
        |         i.i * (100 + id % 50) + CASE
        |           WHEN id % 5 = 0 THEN 0
        |           WHEN id % 2 = 1 THEN ((i.i % 3) - 1) * (100 + id % 50)
        |           ELSE (i.i % 3) * (100 + id % 50) END AS pts,
        |         (id % 3 = 0 OR i.i % 3 = 0) AS is_sync
        |  FROM ids, generate_series(0, 10) i(i) WHERE i.i < 6 + id % 5)
        |SELECT id AS doc_id, CAST(1 AS BIGINT) AS track_id, 'soun' AS handler,
        |       CAST(sample_idx AS INT) AS sample_idx, chunk_idx,
        |       CAST(32 + sum(sz) OVER (PARTITION BY id ORDER BY sample_idx
        |         ROWS UNBOUNDED PRECEDING) - sz AS BIGINT) AS "offset",
        |       CAST(sz AS BIGINT) AS size, CAST(dts AS BIGINT) AS dts,
        |       CAST(dts AS BIGINT) AS pts, TRUE AS is_sync
        |FROM a0
        |UNION ALL
        |SELECT v0.id AS doc_id, CAST(2 AS BIGINT) AS track_id, 'vide' AS handler,
        |       CAST(v0.sample_idx AS INT) AS sample_idx, v0.chunk_idx,
        |       CAST(32 + p.apay + sum(v0.sz) OVER (PARTITION BY v0.id
        |         ORDER BY v0.sample_idx ROWS UNBOUNDED PRECEDING) - v0.sz
        |         AS BIGINT) AS "offset",
        |       CAST(v0.sz AS BIGINT) AS size, CAST(v0.dts AS BIGINT) AS dts,
        |       CAST(v0.pts AS BIGINT) AS pts, v0.is_sync
        |FROM v0 JOIN apay p ON v0.id = p.id""".stripMargin,

    // clip containment re-derived closed-form: clip lists (entropy sizes
    // at base positions 1..len) joined against every corpus window of the
    // same length on LIST equality — chance matches included on both
    // sides by construction
    "q_media_mp4_clip" ->
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |base AS (SELECT id AS doc, id AS src, 6 + id % 5 AS n FROM ids),
        |clips AS (
        |  SELECT id + 1000000000000 AS doc, id AS src, 4 + id % 2 AS n
        |  FROM ids WHERE id % 7 = 0),
        |bsz AS (
        |  SELECT doc, i.i AS i,
        |         10 + (((src % 3001) * (i.i+3) * (i.i+3)
        |                + (src % 2999) * (i.i+5) * (i.i+5)) % 3001) % 900 AS v
        |  FROM base, generate_series(0, 10) i(i) WHERE i.i < n),
        |csz AS (
        |  SELECT doc, i.i AS i,
        |         10 + (((src % 3001) * (i.i+1+3) * (i.i+1+3)
        |                + (src % 2999) * (i.i+1+5) * (i.i+1+5)) % 3001) % 900 AS v
        |  FROM clips, generate_series(0, 5) i(i) WHERE i.i < n),
        |bl AS (
        |  SELECT s.doc, b.n, list(s.v ORDER BY s.i) AS ls
        |  FROM bsz s JOIN base b ON s.doc = b.doc GROUP BY s.doc, b.n),
        |cl AS (
        |  SELECT s.doc, c.n, list(s.v ORDER BY s.i) AS ls
        |  FROM csz s JOIN clips c ON s.doc = c.doc GROUP BY s.doc, c.n),
        |wins AS (
        |  SELECT bl.doc AS cid, p.p AS pos, L.l AS len,
        |         list_slice(bl.ls, p.p + 1, p.p + L.l) AS w
        |  FROM bl, generate_series(0, 9) p(p), (VALUES (4), (5)) L(l)
        |  WHERE p.p + L.l <= bl.n)
        |SELECT cl.doc AS clip_id, w.cid AS container_id,
        |       CAST(w.pos AS INT) AS pos
        |FROM cl JOIN wins w ON w.len = cl.n AND w.w = cl.ls""".stripMargin,

    // per-track stsd metadata re-derived closed-form: audio track 1 then
    // the parity-picked video track 2
    "q_media_mp4_trackinfo" ->
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents)
        |SELECT id AS doc_id, CAST(1 AS BIGINT) AS track_id,
        |       'soun' AS handler, 'mp4a' AS codec, 'audio' AS kind,
        |       CAST(0 AS INT) AS width, CAST(0 AS INT) AS height,
        |       CAST(1 + id % 2 AS INT) AS channels,
        |       CAST(48000 AS INT) AS sample_rate,
        |       CAST(48000 AS BIGINT) AS timescale
        |FROM ids
        |UNION ALL
        |SELECT id AS doc_id, CAST(2 AS BIGINT) AS track_id,
        |       'vide' AS handler,
        |       CASE WHEN id % 2 = 0 THEN 'avc1' ELSE 'hvc1' END AS codec,
        |       'video' AS kind,
        |       CAST(320 + 16 * (id % 8) AS INT) AS width,
        |       CAST(240 + 16 * (id % 5) AS INT) AS height,
        |       CAST(0 AS INT) AS channels, CAST(0 AS INT) AS sample_rate,
        |       CAST(600 AS BIGINT) AS timescale
        |FROM ids""".stripMargin,

    // both interleaved fragmented streams re-derived closed-form: box
    // sizes are arithmetic in (na, nv), fragment data starts a prefix sum
    // over (moofsz + 8 + apay + vpay) from the constant 638 header, audio
    // samples precede video in each mdat, and dts is per-track cumulative
    // (512/sample audio, vdelta video — trex defaults, no tfdt)
    "q_media_mp4_frag_multitrack" ->
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |frags AS (
        |  SELECT id, f.f AS f, 2 + (id + f.f) % 3 AS na,
        |         3 + (id + f.f) % 4 AS nv, 100 + id % 50 AS vdelta
        |  FROM ids, generate_series(0, 3) f(f) WHERE f.f < 2 + id % 3),
        |asz AS (
        |  SELECT fr.id, fr.f, i.i AS i,
        |         8 + (11*fr.id + 5*fr.f + 7*i.i) % 30 AS sz
        |  FROM frags fr, generate_series(0, 4) i(i) WHERE i.i < fr.na),
        |vsz AS (
        |  SELECT fr.id, fr.f, i.i AS i,
        |         10 + (17*fr.id + 29*fr.f + 31*i.i) % 90 AS sz
        |  FROM frags fr, generate_series(0, 6) i(i) WHERE i.i < fr.nv),
        |pay AS (
        |  SELECT fr.id, fr.f, fr.na, fr.nv, fr.vdelta, a.apay, v.vpay,
        |         112 + 4*fr.na + 8*fr.nv AS moofsz
        |  FROM frags fr
        |  JOIN (SELECT id, f, sum(sz) AS apay FROM asz GROUP BY id, f) a
        |    ON fr.id = a.id AND fr.f = a.f
        |  JOIN (SELECT id, f, sum(sz) AS vpay FROM vsz GROUP BY id, f) v
        |    ON fr.id = v.id AND fr.f = v.f),
        |fs AS (
        |  SELECT *,
        |    638 + sum(moofsz + 8 + apay + vpay) OVER (PARTITION BY id
        |      ORDER BY f ROWS UNBOUNDED PRECEDING)
        |      - (moofsz + 8 + apay + vpay) + moofsz + 8 AS datastart,
        |    sum(na) OVER (PARTITION BY id ORDER BY f
        |      ROWS UNBOUNDED PRECEDING) - na AS acum,
        |    sum(nv) OVER (PARTITION BY id ORDER BY f
        |      ROWS UNBOUNDED PRECEDING) - nv AS vcum
        |  FROM pay)
        |SELECT s.id AS doc_id, CAST(1 AS BIGINT) AS track_id,
        |       'soun' AS handler, CAST(fs.acum + s.i AS INT) AS sample_idx,
        |       CAST(s.f AS INT) AS chunk_idx,
        |       CAST(fs.datastart + sum(s.sz) OVER (PARTITION BY s.id, s.f
        |         ORDER BY s.i ROWS UNBOUNDED PRECEDING) - s.sz
        |         AS BIGINT) AS "offset",
        |       CAST(s.sz AS BIGINT) AS size,
        |       CAST((fs.acum + s.i) * 512 AS BIGINT) AS dts,
        |       CAST((fs.acum + s.i) * 512 AS BIGINT) AS pts, TRUE AS is_sync
        |FROM asz s JOIN fs ON s.id = fs.id AND s.f = fs.f
        |UNION ALL
        |SELECT s.id AS doc_id, CAST(2 AS BIGINT) AS track_id,
        |       'vide' AS handler, CAST(fs.vcum + s.i AS INT) AS sample_idx,
        |       CAST(s.f AS INT) AS chunk_idx,
        |       CAST(fs.datastart + fs.apay + sum(s.sz) OVER (PARTITION BY
        |         s.id, s.f ORDER BY s.i ROWS UNBOUNDED PRECEDING) - s.sz
        |         AS BIGINT) AS "offset",
        |       CAST(s.sz AS BIGINT) AS size,
        |       CAST((fs.vcum + s.i) * fs.vdelta AS BIGINT) AS dts,
        |       CAST((fs.vcum + s.i) * fs.vdelta AS BIGINT) AS pts,
        |       (s.i % 3 = 0) AS is_sync
        |FROM vsz s JOIN fs ON s.id = fs.id AND s.f = fs.f""".stripMargin,

    // decoded-JPEG pixels re-derived closed-form: pixel (x,y) of doc id
    // is the 8x8-tile value (31*id + 7*(x/8) + 13*(y/8)) % 256 (flat
    // blocks + DC quant 1 -> bit-exact decode)
    "q_media_jpeg" ->
      """WITH dims AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |         8 + doc_id % 9 AS w, 8 + (doc_id * 3) % 9 AS h
        |  FROM documents),
        |px AS (
        |  SELECT id, w, h, xs.x AS x, ys.y AS y
        |  FROM dims, generate_series(0, 16) xs(x), generate_series(0, 16) ys(y)
        |  WHERE xs.x < w AND ys.y < h)
        |SELECT id AS doc_id, 'jpeg' AS fmt,
        |       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(1 AS INT) AS channels,
        |       CAST(sum((31 * id + 7 * (x // 8) + 13 * (y // 8)) % 256)
        |            AS BIGINT) AS gray_sum
        |FROM px GROUP BY 1, 2, 3, 4, 5""".stripMargin,

    // the full multimodal near-dup pipeline re-derived closed-form:
    // pixel(src,x,y,c) = (31*src + (7+(src//256)%251)*x
    // + (13+(src//65536)%241)*y + 97*c) % 256, twin of every
    // 10th doc perturbs channel 0 of pixel (0,0) by +8 (mod 256); aHash =
    // 8x8 nearest-neighbor grayscale mean-threshold bits; candidates
    // share one of four 16-bit blocks; keep hamming <= 3
    "q_media_neardup" ->
      s"""WITH $MediaNearDupCtes
        |SELECT a, b, CAST(hd AS INTEGER) AS hdist FROM ham
        |WHERE hd <= 3""".stripMargin,

    // same pipeline folded to connected components: min-label clusters
    // over the verified pairs (recursive transitive closure in the
    // oracle, exactly the q_dedup_clusters contract)
    "q_media_neardup_clusters" ->
      s"""WITH RECURSIVE $MediaNearDupCtes,
        |pr AS (SELECT a, b FROM ham WHERE hd <= 3),
        |e AS (SELECT a AS src, b AS dst FROM pr UNION SELECT b, a FROM pr),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM e
        |  UNION
        |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id)
        |SELECT id, min(r) AS cluster FROM reach GROUP BY id""".stripMargin,

    // the dup-heavy decade point re-derived closed-form: hashes per
    // DISTINCT source (src = id % G, G = min(n/24, 2500)), grouped by the
    // FULL hash (the block-key tuple partitions all 64 bits), banded
    // candidates + transitive closure over hash REPRESENTATIVES (min
    // member id), members expanded at the end — the same
    // collapse-before-pairing shape the engine runs, in SQL. A
    // multi-member hash with no cross-hash edge still clusters on its
    // own representative.
    "q_media_neardup_dupheavy" -> {
      val B = mediaNearDupBlocks
      val W = 64 / B
      val kCols = (0 until B).map(b => s"k$b").mkString(", ")
      s"""WITH RECURSIVE
        |gp AS (SELECT least(greatest(count(*) // 24, 1), 2500) AS g FROM documents),
        |ids AS (SELECT CAST(doc_id AS BIGINT) AS id,
        |               CAST(doc_id AS BIGINT) % (SELECT g FROM gp) AS src
        |        FROM documents),
        |srcs AS (SELECT DISTINCT src FROM ids),
        |cells AS (
        |  SELECT s.src, gi.i,
        |         ((gi.i % 8) * (8 + s.src % 9)) // 8 AS sx,
        |         ((gi.i // 8) * (8 + (s.src * 3) % 9)) // 8 AS sy
        |  FROM srcs s, generate_series(0, 63) gi(i)),
        |gray AS (
        |  SELECT src, i,
        |    ((31*src + (7 + (src//256) % 251)*sx + (13 + (src//65536) % 241)*sy) % 256
        |     + (31*src + (7 + (src//256) % 251)*sx + (13 + (src//65536) % 241)*sy + 97) % 256
        |     + (31*src + (7 + (src//256) % 251)*sx + (13 + (src//65536) % 241)*sy + 194) % 256) // 3 AS gv
        |  FROM cells),
        |bits AS (
        |  SELECT gr.src, gr.i, CASE WHEN gr.gv > m.mean THEN 1 ELSE 0 END AS bit
        |  FROM gray gr
        |  JOIN (SELECT src, sum(gv) // 64 AS mean FROM gray GROUP BY src) m
        |    ON gr.src = m.src),
        |skeys AS (
        |  SELECT src, i // $W AS blk,
        |         sum(bit * (CAST(1 AS BIGINT) << (i % $W))) AS key
        |  FROM bits GROUP BY src, i // $W),
        |swide AS (SELECT src, ${(0 until B)
          .map(b => s"max(CASE WHEN blk = $b THEN key END) AS k$b")
          .mkString(", ")}
        |  FROM skeys GROUP BY src),
        |mem AS (SELECT i.id, $kCols FROM ids i JOIN swide w ON w.src = i.src),
        |hg AS (SELECT $kCols, min(id) AS rid, count(*) AS cnt
        |       FROM mem GROUP BY $kCols),
        |hkeys AS (${(0 until B)
          .map(b => s"SELECT rid, $b AS blk, k$b AS key FROM hg")
          .mkString(" UNION ALL ")}),
        |cand AS (
        |  SELECT DISTINCT x.rid AS ra, y.rid AS rb
        |  FROM hkeys x JOIN hkeys y
        |    ON x.blk = y.blk AND x.key = y.key AND x.rid < y.rid),
        |ham AS (
        |  SELECT c.ra, c.rb, ${(0 until B)
          .map(b => s"bit_count(xor(ha.k$b, hb.k$b))").mkString(" + ")} AS hd
        |  FROM cand c
        |  JOIN hg ha ON ha.rid = c.ra
        |  JOIN hg hb ON hb.rid = c.rb),
        |pr AS (SELECT ra, rb FROM ham WHERE hd <= 3),
        |e AS (SELECT ra AS es, rb AS ed FROM pr UNION SELECT rb, ra FROM pr),
        |reach(nid, r) AS (
        |  SELECT DISTINCT es, es FROM e
        |  UNION
        |  SELECT e.es, reach.r FROM e JOIN reach ON e.ed = reach.nid),
        |rlab AS (SELECT nid AS rid, min(r) AS cluster FROM reach GROUP BY nid),
        |glab AS (
        |  SELECT ${(0 until B).map(b => s"hg.k$b").mkString(", ")},
        |         coalesce(rl.cluster, hg.rid) AS cluster,
        |         (rl.rid IS NOT NULL OR hg.cnt > 1) AS keep
        |  FROM hg LEFT JOIN rlab rl ON rl.rid = hg.rid)
        |SELECT m.id, gl.cluster
        |FROM mem m JOIN glab gl ON ${(0 until B)
          .map(b => s"m.k$b = gl.k$b").mkString(" AND ")}
        |WHERE gl.keep""".stripMargin
    },

    "q_mix_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST((((doc_id & 1048575) * 2654435761
        |             + ((doc_id >> 20) & 1048575) * 40503)
        |            % 4294967296) AS DOUBLE) / 4294967296.0
        |      < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.2 ELSE 0.1 END""".stripMargin,

    "q_seq_pack" ->
      """WITH c AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |         CAST(sum(n_chars) OVER (ORDER BY doc_id
        |              ROWS UNBOUNDED PRECEDING) - n_chars AS BIGINT) AS start_offset
        |  FROM documents)
        |SELECT doc_id, n_chars, start_offset,
        |       CAST(start_offset // 4096 AS BIGINT) AS pack_id,
        |       CAST(start_offset % 4096 AS BIGINT) AS pack_offset
        |FROM c""".stripMargin,

    "q_vecs_roundtrip" ->
      """SELECT row_number() OVER (ORDER BY vec_id) - 1 AS row_id,
        |       CAST(len(embedding) AS BIGINT) AS dim,
        |       CAST(embedding[1] AS DOUBLE) AS e0
        |FROM embeddings WHERE vec_id < 500""".stripMargin,

    "q_vecs_export" ->
      """SELECT row_number() OVER (ORDER BY vec_id) - 1 AS row_id,
        |       CAST(len(embedding) AS BIGINT) AS dim,
        |       CAST(embedding[1] AS DOUBLE) AS e0,
        |       CAST(embedding[len(embedding)] AS DOUBLE) AS e_last
        |FROM embeddings""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
        |x AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
        |      FROM e),
        |y AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000
        |                     THEN 1 ELSE 0 END AS new_s FROM x),
        |z AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                                 ROWS UNBOUNDED PRECEDING) AS session_id FROM y)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, min(us) AS session_start_us,
        |       max(us) AS session_end_us, count(*) AS n_events,
        |       round(sum(value), 2) AS sum_value
        |FROM z GROUP BY 1, 2""".stripMargin,

    "q_agg_salted" ->
      """SELECT event_type, round(sum(value), 2) AS sum_value, count(*) AS cnt
        |FROM events GROUP BY 1""".stripMargin,

    "q_events_window" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type,
        |       count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // ASOF LEFT JOIN is DuckDB-native — a genuinely independent algorithm
    // from the engine's union-and-sweep window. The build side dedups to
    // max event_id per (user, ts) = the operator's tie contract.
    "q_asof_join" ->
      """WITH c AS (SELECT event_id, user_id, ts, epoch_us(ts) AS click_us
        |           FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id, ts, max(event_id) AS view_id,
        |             arg_max(value, event_id) AS view_value
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, c.click_us,
        |       coalesce(v.view_id, -1) AS view_id,
        |       coalesce(epoch_us(v.ts), -1) AS view_us,
        |       coalesce(round(v.view_value, 2), -1.0) AS view_value
        |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts""".stripMargin,

    "q_asof_fwd_tol" ->
      """WITH c AS (SELECT event_id, user_id, ts, epoch_us(ts) AS click_us
        |           FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id, ts, max(event_id) AS buy_id,
        |             arg_max(value, event_id) AS buy_value
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, c.click_us,
        |  CASE WHEN v.ts IS NOT NULL AND epoch_us(v.ts) - c.click_us <= 7200000000
        |       THEN v.buy_id ELSE -1 END AS buy_id,
        |  CASE WHEN v.ts IS NOT NULL AND epoch_us(v.ts) - c.click_us <= 7200000000
        |       THEN epoch_us(v.ts) ELSE -1 END AS buy_us,
        |  CASE WHEN v.ts IS NOT NULL AND epoch_us(v.ts) - c.click_us <= 7200000000
        |       THEN round(v.buy_value, 2) ELSE -1.0 END AS buy_value
        |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts <= v.ts""".stripMargin,

    "q_range_join" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS click_us
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS promo_id, epoch_us(ts) AS start_us,
        |             epoch_us(ts) + 14400000000 AS end_us
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, c.click_id, p.promo_id, c.click_us, p.start_us
        |FROM c JOIN p ON c.user_id = p.user_id
        |             AND c.click_us BETWEEN p.start_us AND p.end_us""".stripMargin,

    // expected outputs constructed DIRECTLY from the doc fields — the
    // engine's generic parser must recover them from the URL string
    "q_url_ops" ->
      """WITH u AS (SELECT doc_id, lang, source,
        |    CASE WHEN doc_id % 7 = 0 THEN 'cdn.' ELSE '' END AS sub,
        |    CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END AS port
        |  FROM documents)
        |SELECT doc_id,
        |  sub || source || '.' || lang || '-cdn.org' AS host,
        |  lang || '-cdn.org' AS registered_domain,
        |  'https://' || sub || source || '.' || lang || '-cdn.org' || port ||
        |    '/' || lang || '/' || CAST(doc_id AS VARCHAR) ||
        |    CASE WHEN doc_id % 3 = 0 OR doc_id % 5 = 0
        |         THEN '?id=' || CAST(doc_id AS VARCHAR) ELSE '' END AS url_norm,
        |  (lang = 'zh') AS blocked
        |FROM u""".stripMargin,

    "q_quality_topfrac" ->
      s"""WITH q AS (SELECT doc_id, lang, $QualitySql AS quality FROM documents),
         |r AS (SELECT doc_id, lang, quality,
         |        row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rn,
         |        count(*) OVER (PARTITION BY lang) AS n FROM q)
         |SELECT doc_id, lang, quality FROM r WHERE rn <= ceil(0.25 * n)""".stripMargin,

    // both directions via DuckDB-native ASOF, closer-pick in exact micros
    // (tie -> backward), then the tolerance CASE — independent of the
    // engine's two-window sweep
    "q_asof_nearest" ->
      """WITH c AS (SELECT event_id, user_id, ts, epoch_us(ts) AS click_us
        |           FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id, ts, max(event_id) AS view_id,
        |             arg_max(value, event_id) AS view_value
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |b AS (SELECT c.event_id, v.ts AS mts, v.view_id AS mid, v.view_value AS mval
        |      FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts),
        |f AS (SELECT c.event_id, v.ts AS mts, v.view_id AS mid, v.view_value AS mval
        |      FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts <= v.ts),
        |p AS (SELECT c.event_id, c.user_id, c.click_us,
        |        CASE WHEN b.mts IS NOT NULL AND (f.mts IS NULL
        |               OR c.click_us - epoch_us(b.mts) <= epoch_us(f.mts) - c.click_us)
        |             THEN b.mts ELSE f.mts END AS mts,
        |        CASE WHEN b.mts IS NOT NULL AND (f.mts IS NULL
        |               OR c.click_us - epoch_us(b.mts) <= epoch_us(f.mts) - c.click_us)
        |             THEN b.mid ELSE f.mid END AS mid,
        |        CASE WHEN b.mts IS NOT NULL AND (f.mts IS NULL
        |               OR c.click_us - epoch_us(b.mts) <= epoch_us(f.mts) - c.click_us)
        |             THEN b.mval ELSE f.mval END AS mval
        |      FROM c LEFT JOIN b USING (event_id) LEFT JOIN f USING (event_id))
        |SELECT event_id, user_id, click_us,
        |  CASE WHEN mts IS NOT NULL AND abs(epoch_us(mts) - click_us) <= 3600000000
        |       THEN mid ELSE -1 END AS view_id,
        |  CASE WHEN mts IS NOT NULL AND abs(epoch_us(mts) - click_us) <= 3600000000
        |       THEN epoch_us(mts) ELSE -1 END AS view_us,
        |  CASE WHEN mts IS NOT NULL AND abs(epoch_us(mts) - click_us) <= 3600000000
        |       THEN round(mval, 2) ELSE -1.0 END AS view_value
        |FROM p""".stripMargin,

    // the dense 1024-bucket model restricted to buckets that occur in
    // the raw corpus — every scored gram's bucket has a raw count >= 1
    // by construction, so the restriction drops nothing
    "q_dsir_score" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(w) AS gram FROM d
        |      UNION ALL
        |      SELECT doc_id, unnest(CASE WHEN len(w) >= 2 THEN
        |          list_transform(range(1, len(w)),
        |            i -> array_to_string(list_slice(w, i, i + 1), ' '))
        |        ELSE [] END) AS gram FROM d),
        |gb AS (SELECT doc_id, ('0x' || substr(md5(gram), 1, 8))::BIGINT % 1024 AS bucket
        |       FROM g),
        |tc AS (SELECT bucket, count(*) AS c FROM gb JOIN documents USING (doc_id)
        |       WHERE lang = 'en' GROUP BY 1),
        |tt AS (SELECT count(*) AS nt FROM gb JOIN documents USING (doc_id)
        |       WHERE lang = 'en'),
        |rc AS (SELECT bucket, count(*) AS c FROM gb GROUP BY 1),
        |rt AS (SELECT count(*) AS nr FROM gb),
        |m AS (SELECT rc.bucket,
        |        CAST(floor(ln(CAST(coalesce(tc.c, 0) + 1 AS DOUBLE)
        |                      / CAST(tt.nt + 1024 AS DOUBLE)) * 1000000.0) AS BIGINT)
        |      - CAST(floor(ln(CAST(rc.c + 1 AS DOUBLE)
        |                      / CAST(rt.nr + 1024 AS DOUBLE)) * 1000000.0) AS BIGINT) AS lr
        |      FROM rc LEFT JOIN tc USING (bucket), tt, rt),
        |s AS (SELECT gb.doc_id, count(*) AS n_grams, sum(m.lr) AS dsir
        |      FROM gb JOIN m USING (bucket) GROUP BY 1)
        |SELECT d0.doc_id, CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
        |       CAST(coalesce(s.dsir, 0) AS BIGINT) AS dsir_micro
        |FROM documents d0 LEFT JOIN s USING (doc_id)""".stripMargin,

    "q_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS wd FROM documents),
        |p AS (SELECT unnest(CASE WHEN len(wd) >= 2 THEN
        |          list_transform(range(1, len(wd)), i -> substr(wd, i, 2))
        |        ELSE [] END) AS pair FROM w),
        |c AS (SELECT pair, count(*) AS cnt FROM p GROUP BY 1)
        |SELECT pair, cnt FROM c ORDER BY cnt DESC, pair LIMIT 50""".stripMargin,

    // exact integer micro-unit rate derivation; // is DuckDB integer
    // division, mirroring the engine's exact-multiple intDiv
    "q_mix_temperature" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |t0 AS (SELECT sum(n) AS nn FROM c),
        |w AS (SELECT source, n,
        |        CAST(floor(sqrt(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE))
        |          * 1000000.0) AS BIGINT) AS wm FROM c, t0),
        |wt AS (SELECT CAST(sum(wm) AS BIGINT) AS wtot FROM w),
        |r AS (SELECT source,
        |        CAST(least(1000000, (2000 * ((wm * 1000000) // wtot)) // n)
        |          AS BIGINT) AS r_micro
        |      FROM w, wt)
        |SELECT d.doc_id, d.source, r.r_micro AS keep_rate_micro
        |FROM documents d JOIN r USING (source)
        |WHERE ((((d.doc_id & 1048575) * 2654435761
        |         + ((d.doc_id >> 20) & 1048575) * 40503) % 4294967296)
        |       * 1000000) // 4294967296 < r.r_micro""".stripMargin,

    "q_split_group" ->
      """WITH g AS (SELECT doc_id, source || ':' || lang AS grp FROM documents),
        |h AS (SELECT doc_id, grp,
        |        ('0x' || substr(md5(grp), 1, 8))::BIGINT AS h32 FROM g)
        |SELECT doc_id, grp,
        |  CASE WHEN (h32 * 1000000) // 4294967296 < 800000 THEN 'train'
        |       WHEN (h32 * 1000000) // 4294967296 < 900000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM h""".stripMargin,

    // q_hybrid_rrf's oracle with the vector arm swapped to brute-force
    // L2 ascending — the engine side must reproduce it through the
    // IVFPQ index at its exact operating point
    "q_hybrid_rrf_ivf" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |post AS (SELECT t.term AS term, doc_id, len(w) AS dl, count(*) AS tf
        |         FROM d, unnest(w) AS t(term) GROUP BY 1, 2, 3),
        |st AS (SELECT count(*) AS n, avg(len(w)) AS avgdl FROM d),
        |tstat AS (SELECT term, count(*) AS df FROM post GROUP BY 1
        |          HAVING count(*) <= (SELECT CAST(floor(0.98 * n) AS BIGINT) FROM st)),
        |q AS (SELECT doc_id AS qid, array_to_string(list_slice(w, 1, 8), ' ') AS qtext
        |      FROM d WHERE doc_id % 97 = 0 ORDER BY doc_id LIMIT 64),
        |qt AS (SELECT qid, unnest(list_distinct(string_split(qtext, ' '))) AS term FROM q),
        |qw AS (SELECT qid, term,
        |         ln(1.0 + (CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) AS idf
        |       FROM qt JOIN tstat USING (term), st),
        |co AS (SELECT qid, doc_id AS id,
        |         CAST(floor((idf * ((CAST(tf AS DOUBLE) * (1.2 + 1.0))
        |           / (CAST(tf AS DOUBLE)
        |              + 1.2 * ((1.0 - 0.75) + (0.75 * CAST(dl AS DOUBLE)) / avgdl))))
        |           * 1000000.0) AS BIGINT) AS c
        |       FROM qw JOIN post USING (term), st),
        |sc AS (SELECT qid, id, CAST(sum(c) AS BIGINT) AS score_micro FROM co GROUP BY 1, 2),
        |ta AS (SELECT qid, id,
        |         row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, id) AS rnk
        |       FROM sc QUALIFY rnk <= 20),
        |vs AS (SELECT q.vec_id AS qid, e.vec_id AS id,
        |         list_sum(list_transform(range(1, 65),
        |             i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(q.embedding[i] AS DOUBLE))
        |                * (CAST(e.embedding[i] AS DOUBLE) - CAST(q.embedding[i] AS DOUBLE)))) AS dist
        |       FROM (SELECT * FROM embeddings WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 64) q, embeddings e),
        |va AS (SELECT qid, id,
        |         row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rnk
        |       FROM vs QUALIFY rnk <= 20),
        |f AS (SELECT coalesce(ta.qid, va.qid) AS qid, coalesce(ta.id, va.id) AS id,
        |        coalesce(CAST(floor(1000000000.0 / (60.0 + CAST(ta.rnk AS DOUBLE))) AS BIGINT), 0)
        |      + coalesce(CAST(floor(1000000000.0 / (60.0 + CAST(va.rnk AS DOUBLE))) AS BIGINT), 0)
        |          AS rrf_micro
        |      FROM ta FULL OUTER JOIN va ON ta.qid = va.qid AND ta.id = va.id),
        |r AS (SELECT qid, id, rrf_micro,
        |        row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, id) AS rn
        |      FROM f)
        |SELECT qid, id, rrf_micro FROM r WHERE rn <= 10""".stripMargin,

    // the engine's greedy unrolled: candidate set by raw cosine (same
    // formula as the flat-search arm), picks by unit-dot rel/sim with
    // (1.0 - 0.7) written out so the double matches the runtime value
    "q_mmr_rerank" ->
      """WITH nrm AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)
        |      / sqrt(list_sum(list_transform(embedding,
        |          y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
        |  FROM embeddings),
        |cand0 AS (SELECT q.vec_id AS qid, e.vec_id AS id,
        |    (list_sum(list_transform(range(1, 65),
        |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))
        |     / (sqrt(list_sum(list_transform(range(1, 65),
        |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(range(1, 65),
        |          i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))))) AS cos
        |  FROM (SELECT * FROM embeddings WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 64) q, embeddings e),
        |cand AS (SELECT qid, id FROM (SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rn
        |  FROM cand0) WHERE rn <= 20),
        |c AS (SELECT cand.qid, cand.id, nd.u AS du,
        |    list_sum(list_transform(range(1, 65), i -> nd.u[i] * nq.u[i])) AS rel
        |  FROM cand JOIN nrm nd ON cand.id = nd.vec_id
        |            JOIN nrm nq ON cand.qid = nq.vec_id),
        |p1 AS (SELECT qid, id, du, sc FROM (SELECT qid, id, du, 0.7 * rel AS sc,
        |    row_number() OVER (PARTITION BY qid ORDER BY 0.7 * rel DESC, id) AS rn
        |  FROM c) WHERE rn = 1),
        |m2 AS (SELECT c.qid, c.id, c.du,
        |    0.7 * c.rel - (1.0 - 0.7) * list_sum(list_transform(range(1, 65),
        |        i -> c.du[i] * p1.du[i])) AS sc
        |  FROM c JOIN p1 ON c.qid = p1.qid AND c.id <> p1.id),
        |p2 AS (SELECT qid, id, du, sc FROM (SELECT qid, id, du, sc,
        |    row_number() OVER (PARTITION BY qid ORDER BY sc DESC, id) AS rn
        |  FROM m2) WHERE rn = 1),
        |m3 AS (SELECT c.qid, c.id, c.du,
        |    0.7 * c.rel - (1.0 - 0.7) * greatest(
        |      list_sum(list_transform(range(1, 65), i -> c.du[i] * p1.du[i])),
        |      list_sum(list_transform(range(1, 65), i -> c.du[i] * p2.du[i]))) AS sc
        |  FROM c JOIN p1 ON c.qid = p1.qid JOIN p2 ON c.qid = p2.qid
        |  WHERE c.id <> p1.id AND c.id <> p2.id),
        |p3 AS (SELECT qid, id, du, sc FROM (SELECT qid, id, du, sc,
        |    row_number() OVER (PARTITION BY qid ORDER BY sc DESC, id) AS rn
        |  FROM m3) WHERE rn = 1),
        |m4 AS (SELECT c.qid, c.id, c.du,
        |    0.7 * c.rel - (1.0 - 0.7) * greatest(
        |      list_sum(list_transform(range(1, 65), i -> c.du[i] * p1.du[i])),
        |      list_sum(list_transform(range(1, 65), i -> c.du[i] * p2.du[i])),
        |      list_sum(list_transform(range(1, 65), i -> c.du[i] * p3.du[i]))) AS sc
        |  FROM c JOIN p1 ON c.qid = p1.qid JOIN p2 ON c.qid = p2.qid
        |         JOIN p3 ON c.qid = p3.qid
        |  WHERE c.id <> p1.id AND c.id <> p2.id AND c.id <> p3.id),
        |p4 AS (SELECT qid, id, du, sc FROM (SELECT qid, id, du, sc,
        |    row_number() OVER (PARTITION BY qid ORDER BY sc DESC, id) AS rn
        |  FROM m4) WHERE rn = 1)
        |SELECT qid, id, CAST(1 AS BIGINT) AS mmr_rank, round(sc, 6) AS mmr_score FROM p1
        |UNION ALL SELECT qid, id, CAST(2 AS BIGINT), round(sc, 6) FROM p2
        |UNION ALL SELECT qid, id, CAST(3 AS BIGINT), round(sc, 6) FROM p3
        |UNION ALL SELECT qid, id, CAST(4 AS BIGINT), round(sc, 6) FROM p4""".stripMargin,

    // expected outputs derived from the source strings, independent of
    // the tar encode/decode the engine side round-trips through
    "q_tar_roundtrip" ->
      """SELECT CAST(doc_id AS VARCHAR) || '.txt' AS entry,
        |       CAST(strlen(text) AS BIGINT) AS length,
        |       md5(text) AS digest
        |FROM documents""".stripMargin,

    "q_heavy_hitters" ->
      """WITH i AS (SELECT CASE WHEN doc_id % 2 = 0
        |             THEN 'host-' || CAST(doc_id % 7 AS VARCHAR)
        |             ELSE 'host-' || CAST(doc_id AS VARCHAR) END AS item
        |           FROM documents),
        |t0 AS (SELECT count(item) AS n FROM i)
        |SELECT item, count(*) AS cnt FROM i, t0 GROUP BY item, n
        |HAVING CAST(count(*) AS DOUBLE) > 0.01 * CAST(n AS DOUBLE)""".stripMargin,

    // full independent recomputation: spans, doc frequencies, the 5%
    // filter and the ordered reassembly, all from the injected strings
    "q_boilerplate" ->
      """WITH d AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
        |      THEN 'never miss our daily deals subscribe right now ' || text
        |      ELSE text END AS t FROM documents),
        |w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM d),
        |n AS (SELECT doc_id, ws,
        |        greatest(CAST(ceil(len(ws) / 8.0) AS BIGINT), 1) AS ns FROM w),
        |e AS (SELECT doc_id, ws, unnest(range(0, ns)) AS i FROM n),
        |sp AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
        |         array_to_string(list_slice(ws, i * 8 + 1, i * 8 + 8), ' ') AS span
        |       FROM e),
        |dfc AS (SELECT span, count(DISTINCT doc_id) AS df FROM sp GROUP BY 1),
        |nd AS (SELECT count(*) AS n FROM documents),
        |bo AS (SELECT span FROM dfc, nd
        |       WHERE CAST(df AS DOUBLE) > 0.05 * CAST(n AS DOUBLE)),
        |o AS (SELECT sp.doc_id, string_agg(sp.span, ' ' ORDER BY sp.i) AS clean
        |      FROM sp LEFT JOIN bo ON sp.span = bo.span
        |      WHERE bo.span IS NULL GROUP BY 1)
        |SELECT d.doc_id, coalesce(o.clean, '') AS clean
        |FROM d LEFT JOIN o USING (doc_id)""".stripMargin,

    "q_shard_assign" ->
      """WITH h AS (SELECT doc_id, source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hh
        |  FROM documents)
        |SELECT doc_id, source, hh % 8 AS shard,
        |  row_number() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id) - 1 AS pos
        |FROM h""".stripMargin,

    // identical to q_heavy_hitters: the streaming sketch must converge
    // to the same exact answer regardless of batch arrival order
    "q_stream_heavy" ->
      """WITH i AS (SELECT CASE WHEN doc_id % 2 = 0
        |             THEN 'host-' || CAST(doc_id % 7 AS VARCHAR)
        |             ELSE 'host-' || CAST(doc_id AS VARCHAR) END AS item
        |           FROM documents),
        |t0 AS (SELECT count(item) AS n FROM i)
        |SELECT item, count(*) AS cnt FROM i, t0 GROUP BY item, n
        |HAVING CAST(count(*) AS DOUBLE) > 0.01 * CAST(n AS DOUBLE)""".stripMargin,

    // windows by text (hash-free — independent of the engine's md5
    // grouping), winner by (doc_id, pos), token-level rebuild
    "q_dedup_substr" ->
      """WITH d AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0
        |      THEN text || ' free shipping on all orders over fifty dollars today'
        |      ELSE text END AS t FROM documents),
        |w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM d),
        |e AS (SELECT doc_id, ws,
        |        unnest(range(1, greatest(len(ws) - 7, 0) + 1)) AS i FROM w),
        |win AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |          array_to_string(list_slice(ws, i, i + 7), ' ') AS wtext FROM e),
        |w2 AS (SELECT doc_id, pos,
        |         count(*) OVER (PARTITION BY wtext) AS c,
        |         row_number() OVER (PARTITION BY wtext ORDER BY doc_id, pos) AS rn
        |       FROM win),
        |lb AS (SELECT doc_id, list(pos ORDER BY pos) AS ls
        |       FROM w2 WHERE c > 1 AND rn > 1 GROUP BY 1),
        |o AS (SELECT w.doc_id,
        |        array_to_string(list_transform(
        |          list_filter(range(0, len(w.ws)),
        |            i -> len(list_filter(coalesce(lb.ls, CAST([] AS BIGINT[])),
        |                   p -> i >= p AND i < p + 8)) = 0),
        |          i -> w.ws[i + 1]), ' ') AS clean
        |      FROM w LEFT JOIN lb USING (doc_id))
        |SELECT doc_id, coalesce(clean, '') AS clean FROM o""".stripMargin,

    // full BM25F recomputation: per-field postings full-outer-joined to
    // the (term, doc) pivot, fixed-order tf-tilde with each arithmetic
    // step written exactly as the engine evaluates it
    "q_bm25f_topk" ->
      """WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |fl AS (SELECT doc_id,
        |         string_split(array_to_string(list_slice(w, 1, 5), ' '), ' ') AS tw,
        |         string_split(array_to_string(list_slice(w, 6, len(w)), ' '), ' ') AS bw
        |       FROM d0),
        |pa AS (SELECT t.term AS term, doc_id, len(tw) AS dl0, count(*) AS tf0
        |       FROM fl, unnest(tw) AS t(term) GROUP BY 1, 2, 3),
        |pb AS (SELECT t.term AS term, doc_id, len(bw) AS dl1, count(*) AS tf1
        |       FROM fl, unnest(bw) AS t(term) GROUP BY 1, 2, 3),
        |pv AS (SELECT coalesce(pa.term, pb.term) AS term,
        |         coalesce(pa.doc_id, pb.doc_id) AS doc_id,
        |         pa.tf0, pa.dl0, pb.tf1, pb.dl1
        |       FROM pa FULL OUTER JOIN pb
        |         ON pa.term = pb.term AND pa.doc_id = pb.doc_id),
        |st AS (SELECT (SELECT count(*) FROM documents) AS n,
        |         (SELECT sum(len(tw)) FROM fl) AS s0,
        |         (SELECT sum(len(bw)) FROM fl) AS s1),
        |tstat AS (SELECT term, count(*) AS df FROM pv GROUP BY 1
        |          HAVING count(*) <= (SELECT CAST(floor(0.98 * n) AS BIGINT) FROM st)),
        |q AS (SELECT doc_id AS qid, array_to_string(list_slice(w, 1, 8), ' ') AS qtext
        |      FROM d0 WHERE doc_id % 97 = 0 ORDER BY doc_id LIMIT 64),
        |qt AS (SELECT qid, unnest(list_distinct(string_split(qtext, ' '))) AS term FROM q),
        |qw AS (SELECT qid, term,
        |         ln(1.0 + (CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) AS idf
        |       FROM qt JOIN tstat USING (term), st),
        |co0 AS (SELECT qw.qid, pv.doc_id AS id, qw.idf,
        |          (CAST(coalesce(pv.tf0, 0) AS DOUBLE) * 2.0)
        |            / ((1.0 - 0.75) + (0.75 * CAST(coalesce(pv.dl0, 0) AS DOUBLE))
        |               / (CAST(st.s0 AS DOUBLE) / CAST(st.n AS DOUBLE)))
        |        + (CAST(coalesce(pv.tf1, 0) AS DOUBLE) * 1.0)
        |            / ((1.0 - 0.4) + (0.4 * CAST(coalesce(pv.dl1, 0) AS DOUBLE))
        |               / (CAST(st.s1 AS DOUBLE) / CAST(st.n AS DOUBLE))) AS tt
        |        FROM qw JOIN pv USING (term), st),
        |co AS (SELECT qid, id,
        |         CAST(floor((idf * (tt / (1.2 + tt))) * 1000000.0) AS BIGINT) AS c
        |       FROM co0),
        |sc AS (SELECT qid, id, CAST(sum(c) AS BIGINT) AS score_micro FROM co GROUP BY 1, 2),
        |r AS (SELECT qid, id, score_micro,
        |        row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, id) AS rn
        |      FROM sc)
        |SELECT qid, id, score_micro FROM r WHERE rn <= 10""".stripMargin,

    // BM25 over the REMAINING corpus only — the delete semantics the
    // tombstoned engine index must reproduce exactly
    "q_bm25_delete" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE doc_id % 5 <> 0),
        |post AS (SELECT t.term AS term, doc_id, len(w) AS dl, count(*) AS tf
        |         FROM d, unnest(w) AS t(term) GROUP BY 1, 2, 3),
        |st AS (SELECT count(*) AS n, avg(len(w)) AS avgdl FROM d),
        |tstat AS (SELECT term, count(*) AS df FROM post GROUP BY 1
        |          HAVING count(*) <= (SELECT CAST(floor(0.98 * n) AS BIGINT) FROM st)),
        |q AS (SELECT doc_id AS qid, array_to_string(list_slice(w, 1, 8), ' ') AS qtext
        |      FROM d WHERE doc_id % 97 = 0 ORDER BY doc_id LIMIT 64),
        |qt AS (SELECT qid, unnest(list_distinct(string_split(qtext, ' '))) AS term FROM q),
        |qw AS (SELECT qid, term,
        |         ln(1.0 + (CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) AS idf
        |       FROM qt JOIN tstat USING (term), st),
        |co AS (SELECT qid, doc_id AS id,
        |         CAST(floor((idf * ((CAST(tf AS DOUBLE) * (1.2 + 1.0))
        |           / (CAST(tf AS DOUBLE)
        |              + 1.2 * ((1.0 - 0.75) + (0.75 * CAST(dl AS DOUBLE)) / avgdl))))
        |           * 1000000.0) AS BIGINT) AS c
        |       FROM qw JOIN post USING (term), st),
        |sc AS (SELECT qid, id, CAST(sum(c) AS BIGINT) AS score_micro FROM co GROUP BY 1, 2),
        |r AS (SELECT qid, id, score_micro,
        |        row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, id) AS rn
        |      FROM sc)
        |SELECT qid, id, score_micro FROM r WHERE rn <= 10""".stripMargin,

    // phrase occurrences via the same anchor-vote algebra: a (doc pos,
    // query offset) match votes for anchor pos-j; anchors holding all m
    // distinct offsets are occurrences
    "q_phrase_search" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |pu AS (SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
        |         i -> {'p': i - 1, 't': w[i]})) AS e FROM d),
        |post AS (SELECT doc_id, e.p AS pos, e.t AS term FROM pu),
        |q AS (SELECT doc_id AS qid, list_slice(w, 5, 7) AS ph FROM d
        |      WHERE doc_id % 101 = 0 ORDER BY doc_id LIMIT 64),
        |qu AS (SELECT qid, unnest(list_transform(range(1, len(ph) + 1),
        |         j -> {'p': j - 1, 't': ph[j]})) AS e FROM q),
        |qt AS (SELECT qid, e.p AS j, e.t AS term FROM qu),
        |ql AS (SELECT qid, len(ph) AS m FROM q),
        |an AS (SELECT qid, doc_id AS id, pos - j AS anchor, count(DISTINCT j) AS hits
        |       FROM post JOIN qt USING (term) GROUP BY 1, 2, 3),
        |occ AS (SELECT qid, id, count(*) AS n_occ FROM an JOIN ql USING (qid)
        |        WHERE anchor >= 0 AND hits = m GROUP BY 1, 2),
        |r AS (SELECT qid, id, n_occ,
        |        row_number() OVER (PARTITION BY qid ORDER BY n_occ DESC, id) AS rn
        |      FROM occ)
        |SELECT qid, id, n_occ FROM r WHERE rn <= 10""".stripMargin,

    // Efraimidis–Spirakis weighted sample: identical micro-unit key
    // derivation (md5 uniform, floor(ln·1e9), exact integer division)
    "q_sample_weighted" ->
      """WITH s AS (SELECT doc_id, n_chars,
        |    ('0x'||substr(md5('ws:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT AS h
        |  FROM documents WHERE n_chars > 0),
        |e AS (SELECT doc_id, n_chars,
        |    CAST(floor(ln(8589934592.0 / CAST(2*h + 1 AS DOUBLE)) * 1000000000.0)
        |      AS BIGINT) AS a
        |  FROM s)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
        |  (a*1000 - (a*1000) % n_chars) // n_chars AS key_micro
        |FROM e ORDER BY key_micro, doc_id LIMIT 100""".stripMargin,

    // cross-corpus near-dup: same pair derivation as q_dedup_minhash but
    // candidates restricted to (odd "new", even "reference") id pairs
    "q_dedup_cross" ->
      s"""WITH $ShingleCte,
         |${minhashPairCtesWhere("x.doc_id % 2 = 1 AND y.doc_id % 2 = 0")}
         |SELECT a, b, round(jaccard, 6) AS jaccard FROM ver WHERE jaccard >= 0.5""".stripMargin,

    // FastSS deletion-neighborhood candidates + exact levenshtein verify
    "q_fuzzy_match" ->
      """WITH v AS (SELECT DISTINCT c_name AS s FROM customer WHERE c_name IS NOT NULL),
        |n AS (SELECT s, s AS var FROM v
        |      UNION
        |      SELECT s, unnest(list_transform(range(1, len(s) + 1),
        |        i -> substr(s, 1, i - 1) || substr(s, i + 1))) AS var FROM v),
        |cand AS (SELECT DISTINCT x.s AS a, y.s AS b
        |         FROM n x JOIN n y ON x.var = y.var AND x.s < y.s)
        |SELECT a, b, CAST(levenshtein(a, b) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(a, b) <= 1""".stripMargin,

    // Naive Bayes: counting + the same observed-cell micro-unit algebra
    // (score = prior + dl·default + Σ tf·(lw − default))
    "q_nb_classify" ->
      """WITH tr AS (SELECT lang AS cls, string_split(text, ' ') AS w
        |            FROM documents WHERE doc_id % 2 = 0),
        |tc AS (SELECT t.term AS term, cls, count(*) AS tf
        |       FROM tr, unnest(w) AS t(term) GROUP BY 1, 2),
        |ct AS (SELECT cls, count(*) AS nc, sum(len(w)) AS tcnt FROM tr GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM tr),
        |vv AS (SELECT count(DISTINCT term) AS v FROM tc),
        |cc AS (SELECT cls,
        |         CAST(floor(ln(CAST(nc AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0)
        |           AS BIGINT) AS prior,
        |         CAST(floor(ln(1.0 / CAST(tcnt + v AS DOUBLE)) * 1000000.0)
        |           AS BIGINT) AS dflt,
        |         tcnt + v AS denom
        |       FROM ct, nn, vv),
        |lw AS (SELECT term, tc.cls AS cls,
        |         CAST(floor(ln(CAST(tf + 1 AS DOUBLE) / CAST(denom AS DOUBLE))
        |           * 1000000.0) AS BIGINT) AS lw
        |       FROM tc JOIN cc ON tc.cls = cc.cls),
        |te AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |       WHERE doc_id % 2 = 1),
        |dtf AS (SELECT doc_id, t.term AS term, count(*) AS tf
        |        FROM te, unnest(w) AS t(term) GROUP BY 1, 2),
        |dls AS (SELECT doc_id, len(w) AS dl FROM te),
        |dd AS (SELECT doc_id, lw.cls AS cls, sum(tf * (lw.lw - cc.dflt)) AS delta
        |       FROM dtf JOIN lw ON dtf.term = lw.term
        |       JOIN cc ON lw.cls = cc.cls GROUP BY 1, 2),
        |sc AS (SELECT dls.doc_id AS id, cc.cls AS cls,
        |         cc.prior + dl * cc.dflt + coalesce(dd.delta, 0) AS score
        |       FROM dls CROSS JOIN cc
        |       LEFT JOIN dd ON dd.doc_id = dls.doc_id AND dd.cls = cc.cls),
        |r AS (SELECT id, cls, score,
        |        row_number() OVER (PARTITION BY id ORDER BY score DESC, cls) AS rn
        |      FROM sc)
        |SELECT id, cls AS pred, CAST(score AS BIGINT) AS score_micro
        |FROM r WHERE rn = 1""".stripMargin,

    // proximity: every posting votes for the ≤window starts it can
    // serve; a start holding all m distinct terms is a matching window
    "q_proximity_search" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |pu AS (SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
        |         i -> {'p': i - 1, 't': w[i]})) AS e FROM d),
        |post AS (SELECT doc_id, e.p AS pos, e.t AS term FROM pu),
        |q AS (SELECT doc_id AS qid,
        |        list_distinct([w[3], w[9], w[15]]) AS qt FROM d
        |      WHERE doc_id % 103 = 0 ORDER BY doc_id LIMIT 64),
        |qt AS (SELECT qid, unnest(qt) AS term FROM q),
        |ql AS (SELECT qid, len(qt) AS m FROM q),
        |vote AS (SELECT qid, doc_id AS id, term,
        |           unnest(list_transform(range(0, 12),
        |             o -> pos - o)) AS strt
        |         FROM post JOIN qt USING (term)),
        |st AS (SELECT qid, id, strt, count(DISTINCT term) AS hits
        |       FROM vote WHERE strt >= 0 GROUP BY 1, 2, 3),
        |occ AS (SELECT qid, id, count(*) AS n_windows
        |        FROM st JOIN ql USING (qid) WHERE hits = m GROUP BY 1, 2),
        |r AS (SELECT qid, id, n_windows,
        |        row_number() OVER (PARTITION BY qid ORDER BY n_windows DESC, id) AS rn
        |      FROM occ)
        |SELECT qid, id, n_windows FROM r WHERE rn <= 10""".stripMargin,

    // per-doc TF-IDF top-3 keywords, micro-unit idf, term tie-break
    "q_tfidf_keywords" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |post AS (SELECT t.term AS term, doc_id, count(*) AS tf
        |         FROM d, unnest(w) AS t(term) GROUP BY 1, 2),
        |st AS (SELECT count(*) AS n FROM d),
        |ts AS (SELECT term, count(*) AS df FROM post GROUP BY 1
        |       HAVING count(*) <= (SELECT CAST(floor(0.98 * n) AS BIGINT) FROM st)),
        |sc AS (SELECT doc_id AS id, term,
        |         tf * CAST(floor(ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE))
        |           * 1000000.0) AS BIGINT) AS score_micro
        |       FROM post JOIN ts USING (term), st),
        |r AS (SELECT id, term, score_micro,
        |        row_number() OVER (PARTITION BY id ORDER BY score_micro DESC, term) AS rn
        |      FROM sc)
        |SELECT id, term, score_micro FROM r WHERE rn <= 3""".stripMargin,

    // per-language weighted sample: same key derivation as
    // q_sample_weighted, k = 20 per group
    "q_sample_weighted_group" ->
      """WITH s AS (SELECT lang, doc_id, n_chars,
        |    ('0x'||substr(md5('ws:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT AS h
        |  FROM documents WHERE n_chars > 0),
        |e AS (SELECT lang, doc_id, n_chars,
        |    CAST(floor(ln(8589934592.0 / CAST(2*h + 1 AS DOUBLE)) * 1000000000.0)
        |      AS BIGINT) AS a
        |  FROM s),
        |kk AS (SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS weight,
        |    (a*1000 - (a*1000) % n_chars) // n_chars AS key_micro FROM e),
        |r AS (SELECT lang, doc_id, weight, key_micro,
        |        row_number() OVER (PARTITION BY lang ORDER BY key_micro, doc_id) AS rn
        |      FROM kk)
        |SELECT lang, doc_id, weight, key_micro FROM r WHERE rn <= 20""".stripMargin,

    // corpus card: same digest join-back + micro-unit quality sum
    "q_corpus_card" ->
      s"""WITH c AS (SELECT md5(text) AS dg, count(*) AS c FROM documents GROUP BY 1),
         |d AS (SELECT lang, source, n_chars, text, md5(text) AS dg FROM documents)
         |SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
         |  CAST(sum(CAST(round(($QualitySql) * 1000000, 0) AS BIGINT)) AS BIGINT)
         |    AS quality_micro_sum,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
         |FROM d JOIN c USING (dg) GROUP BY 1, 2""".stripMargin,

    // full curation chain replayed in SQL: dedup keepers → decontam
    // (distinct 45-bit trigram hashes vs the eval slice, >= 5 hits) →
    // per-lang top-half by quality → Efraimidis–Spirakis top-200
    "q_pipeline_curate" ->
      s"""WITH dd AS (SELECT * FROM documents WHERE doc_id IN
         |      (SELECT min(doc_id) FROM documents GROUP BY md5(text))),
         |tr AS (SELECT * FROM dd WHERE doc_id % 7 <> 0),
         |tg AS (SELECT doc_id, unnest(
         |    CASE WHEN len(string_split(text,' ')) >= 3 THEN
         |      list_distinct(list_transform(
         |        list_transform(range(1, len(string_split(text,' ')) - 1),
         |          i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' ')),
         |        s -> ('0x'||substr(md5(s),1,15))::BIGINT))
         |    ELSE [] END) AS g
         |  FROM tr),
         |eg AS (SELECT DISTINCT unnest(
         |    CASE WHEN len(string_split(text,' ')) >= 3 THEN
         |      list_transform(
         |        list_transform(range(1, len(string_split(text,' ')) - 1),
         |          i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' ')),
         |        s -> ('0x'||substr(md5(s),1,15))::BIGINT)
         |    ELSE [] END) AS g
         |  FROM documents WHERE doc_id % 7 = 0),
         |bad AS (SELECT doc_id FROM tg JOIN eg USING (g)
         |        GROUP BY doc_id HAVING count(*) >= 5),
         |cl AS (SELECT * FROM tr WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
         |q AS (SELECT doc_id, lang, n_chars, $QualitySql AS qq FROM cl),
         |cnt AS (SELECT lang, count(*) AS n FROM q GROUP BY 1),
         |rk AS (SELECT doc_id, lang, n_chars,
         |         row_number() OVER (PARTITION BY lang ORDER BY qq DESC, doc_id) AS rn
         |       FROM q),
         |keep AS (SELECT rk.doc_id, n_chars FROM rk JOIN cnt USING (lang)
         |         WHERE rn <= ceil(0.5 * n)),
         |s AS (SELECT doc_id, n_chars,
         |    ('0x'||substr(md5('ws:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT AS h
         |  FROM keep WHERE n_chars > 0),
         |e AS (SELECT doc_id, n_chars,
         |    CAST(floor(ln(8589934592.0 / CAST(2*h + 1 AS DOUBLE)) * 1000000000.0)
         |      AS BIGINT) AS a
         |  FROM s)
         |SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         |  (a*1000 - (a*1000) % n_chars) // n_chars AS key_micro
         |FROM e ORDER BY key_micro, doc_id LIMIT 200""".stripMargin,

    // Morton interleave: bit i of x at 2i, bit i of y at 2i+1
    "q_zorder_key" ->
      """SELECT event_id,
        |  CAST(list_sum(list_transform(range(0, 20),
        |    i -> (((x >> i) & 1) << (2*i)) + (((y >> i) & 1) << (2*i + 1))))
        |    AS BIGINT) AS zkey
        |FROM (SELECT event_id, user_id % 1048576 AS x,
        |        event_id % 1048576 AS y FROM events)""".stripMargin,

    // HLL replayed: 60-bit md5 hash → idx = h % 4096, rho = 49 −
    // bitlength(h >> 12); registers = max rho; harmonic sum in exact
    // 2^(49−r) longs; alpha·m²·2^49/S in one fixed-order double expr;
    // linear counting below 2.5m when empty registers remain.
    "q_hll_distinct" -> HllDistinctSql,

    // the streaming register state must converge to the batch sketch
    // regardless of chunk arrival order
    "q_stream_hll" -> HllDistinctSql,

    // histogram + cumulative window replay; ceil in integer arithmetic
    "q_len_quantiles" ->
      """WITH h AS (SELECT lang, n_chars AS v, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |cu AS (SELECT lang, v, c,
        |    sum(c) OVER (PARTITION BY lang ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS n FROM h),
        |x AS (SELECT lang, v, cum, n, unnest([500, 900, 990]) AS permille FROM cu)
        |SELECT lang, CAST(permille AS INT) AS permille,
        |  min(CASE WHEN cum >= (n * permille + 999) // 1000 THEN v END) AS q_value
        |FROM x GROUP BY 1, 2""".stripMargin,

    // CDC replayed: candidate positions range(3, n+1), boundary where the
    // trailing-trigram 60-bit hash % 8 = 0, chunks between boundaries
    "q_cdc_chunks" -> CdcChunksSql,

    "q_cdc_dedup" ->
      (s"WITH ch AS ($CdcChunksSql)\n" +
        """SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs,
          |  count(*) AS n_occ
          |FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) > 1""".stripMargin),

    "q_cdc_neardup" ->
      (s"WITH ch AS ($CdcChunksSql),\n" +
        """dc AS (SELECT DISTINCT doc_id, chunk_hash FROM ch),
          |rare AS (SELECT chunk_hash FROM dc GROUP BY 1 HAVING count(*) <= 20),
          |b AS (SELECT dc.doc_id, dc.chunk_hash FROM dc JOIN rare USING (chunk_hash))
          |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
          |  count(*) AS shared_chunks
          |FROM b x JOIN b y ON x.chunk_hash = y.chunk_hash
          |  AND x.doc_id < y.doc_id
          |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin),

    // HLL union: per-pair register max-merge (an idx on one side only
    // keeps its rho), then the same estimator; exact union by
    // inclusion-exclusion over the true key sets.
    "q_hll_union" ->
      """WITH h AS (SELECT o_orderpriority p,
        |    ('0x'||substr(md5(CAST(o_custkey AS VARCHAR)),1,15))::BIGINT AS h
        |  FROM orders),
        |r AS (SELECT p, h % 4096 AS idx,
        |    CASE WHEN (h >> 12) = 0 THEN 49
        |         ELSE 49 - length(bin(h >> 12)) END AS rho FROM h),
        |reg AS (SELECT p, idx, max(rho) AS r FROM r GROUP BY 1, 2),
        |ps AS (SELECT DISTINCT p FROM reg),
        |pr AS (SELECT a.p pa, b.p pb FROM ps a, ps b WHERE a.p < b.p),
        |ur AS (SELECT pa, pb, idx, max(r) AS r FROM (
        |    SELECT pr.pa, pr.pb, reg.idx, reg.r FROM pr JOIN reg ON reg.p = pr.pa
        |    UNION ALL
        |    SELECT pr.pa, pr.pb, reg.idx, reg.r FROM pr JOIN reg ON reg.p = pr.pb)
        |  GROUP BY 1, 2, 3),
        |ag AS (SELECT pa, pb, count(*) AS nreg,
        |    sum(1::BIGINT << (49 - r)) AS sp FROM ur GROUP BY 1, 2),
        |e AS (SELECT pa, pb, 4096 - nreg AS v,
        |    sp + (4096 - nreg) * (1::BIGINT << 49) AS s FROM ag),
        |est AS (SELECT pa, pb, v, CAST(floor(0.721110e0 * 4096e0 * 4096e0
        |      * 562949953421312e0 / CAST(s AS DOUBLE)) AS BIGINT) AS raw
        |  FROM e),
        |fin AS (SELECT pa, pb, CASE WHEN raw <= 10240 AND v > 0
        |    THEN CAST(floor(4096e0 * ln(4096e0 / CAST(v AS DOUBLE))) AS BIGINT)
        |    ELSE raw END AS union_est FROM est),
        |sets AS (SELECT DISTINCT o_orderpriority p, o_custkey k FROM orders),
        |sz AS (SELECT p, count(*) n FROM sets GROUP BY 1),
        |iv AS (SELECT a.p pa, b.p pb, count(*) i FROM sets a
        |  JOIN sets b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2),
        |xu AS (SELECT pr.pa, pr.pb,
        |    sa.n + sb.n - coalesce(iv.i, 0) AS union_exact
        |  FROM pr JOIN sz sa ON sa.p = pr.pa JOIN sz sb ON sb.p = pr.pb
        |  LEFT JOIN iv ON iv.pa = pr.pa AND iv.pb = pr.pb)
        |SELECT fin.pa AS grp_a, fin.pb AS grp_b, union_est, union_exact
        |FROM fin JOIN xu ON xu.pa = fin.pa AND xu.pb = fin.pb""".stripMargin,

    // KMV replayed: k smallest distinct hashes; (k−1)·2^60/h_k when full.
    "q_kmv_distinct" ->
      """WITH dh AS (SELECT DISTINCT o_orderpriority p,
        |    ('0x'||substr(md5(CAST(o_custkey AS VARCHAR)),1,15))::BIGINT AS h
        |  FROM orders),
        |rk AS (SELECT p, h, row_number() OVER (PARTITION BY p ORDER BY h) rn FROM dh),
        |m AS (SELECT p, h, rn FROM rk WHERE rn <= 256),
        |ag AS (SELECT p, count(*) AS n,
        |    max(CASE WHEN rn = 256 THEN h END) AS hk FROM m GROUP BY 1),
        |est AS (SELECT p, CASE WHEN n < 256 THEN n
        |    ELSE CAST(floor(255.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE))
        |      AS BIGINT) END AS n_est FROM ag),
        |x AS (SELECT o_orderpriority p, count(DISTINCT o_custkey) AS n_exact
        |  FROM orders GROUP BY 1)
        |SELECT est.p AS prio, n_est, n_exact FROM est JOIN x USING (p)""".stripMargin,

    // Theta-style set ops replayed: union sketch = k smallest of the two
    // minima sets' union; J = |{h in U_k seen on both sides}| / |U_k|.
    "q_kmv_jaccard" ->
      """WITH dh AS (SELECT DISTINCT o_orderpriority p,
        |    ('0x'||substr(md5(CAST(o_custkey AS VARCHAR)),1,15))::BIGINT AS h
        |  FROM orders),
        |rk AS (SELECT p, h, row_number() OVER (PARTITION BY p ORDER BY h) rn FROM dh),
        |m AS (SELECT p, h FROM rk WHERE rn <= 256),
        |ps AS (SELECT DISTINCT p FROM m),
        |pr AS (SELECT a.p pa, b.p pb FROM ps a, ps b WHERE a.p < b.p),
        |u AS (SELECT DISTINCT pa, pb, h FROM (
        |    SELECT pr.pa, pr.pb, m.h FROM pr JOIN m ON m.p = pr.pa
        |    UNION ALL SELECT pr.pa, pr.pb, m.h FROM pr JOIN m ON m.p = pr.pb)),
        |urk AS (SELECT pa, pb, h,
        |    row_number() OVER (PARTITION BY pa, pb ORDER BY h) rn FROM u),
        |uk AS (SELECT * FROM urk WHERE rn <= 256),
        |bo AS (SELECT a.p pa, b.p pb, a.h FROM m a
        |  JOIN m b ON a.h = b.h AND a.p < b.p),
        |ag AS (SELECT uk.pa, uk.pb, count(*) AS ukn,
        |    sum(CASE WHEN bo.h IS NOT NULL THEN 1 ELSE 0 END) AS jn,
        |    max(CASE WHEN uk.rn = 256 THEN uk.h END) AS hk
        |  FROM uk LEFT JOIN bo ON bo.pa = uk.pa AND bo.pb = uk.pb AND bo.h = uk.h
        |  GROUP BY 1, 2),
        |sc AS (SELECT pa, pb, CAST(jn AS BIGINT) AS j_num,
        |    round(CAST(jn AS DOUBLE) / CAST(ukn AS DOUBLE), 6) AS j_est,
        |    CASE WHEN ukn < 256 THEN ukn
        |      ELSE CAST(floor(255.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE))
        |        AS BIGINT) END AS union_est FROM ag),
        |sets AS (SELECT DISTINCT o_orderpriority p, o_custkey k FROM orders),
        |sz AS (SELECT p, count(*) n FROM sets GROUP BY 1),
        |iv AS (SELECT a.p pa, b.p pb, count(*) i FROM sets a
        |  JOIN sets b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2),
        |je AS (SELECT iv.pa, iv.pb,
        |    round(CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE), 6) AS j_exact
        |  FROM iv JOIN sz sa ON sa.p = iv.pa JOIN sz sb ON sb.p = iv.pb)
        |SELECT sc.pa AS grp_a, sc.pb AS grp_b, j_num, j_est, union_est,
        |  coalesce(j_exact, 0.0) AS j_exact
        |FROM sc LEFT JOIN je ON je.pa = sc.pa AND je.pb = sc.pb""".stripMargin,

    // Prototype pruning replayed: milli-unit vectors, exact integer
    // centroid sums, score = Σ (n·x_i − s_i)² in fixed dim order, keep
    // rank·2 ≤ n + 1 (ceil of the half) per label.
    "q_proto_prune" ->
      """WITH xm AS (SELECT vec_id, label,
        |    list_transform(embedding,
        |      e -> CAST(floor(CAST(e AS DOUBLE) * 1000e0) AS BIGINT)) AS m
        |  FROM embeddings),
        |ex AS (SELECT label, i, m[i] AS v FROM xm, range(1, 65) t(i)),
        |ag AS (SELECT label, i, sum(v) AS s FROM ex GROUP BY 1, 2),
        |ct AS (SELECT label, count(*) AS n FROM xm GROUP BY 1),
        |sa AS (SELECT label, array_agg(s ORDER BY i) AS sums FROM ag GROUP BY 1),
        |sc AS (SELECT x.vec_id, x.label,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(1, 65),
        |        i -> CAST(n * m[i] - sums[i] AS DOUBLE)
        |           * CAST(n * m[i] - sums[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS proto_score, n
        |  FROM xm x JOIN sa USING (label) JOIN ct USING (label)),
        |rk AS (SELECT vec_id, label, proto_score,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY proto_score DESC, vec_id) AS rn, n FROM sc)
        |SELECT vec_id, label, proto_score, CAST(rn AS BIGINT) AS proto_rank
        |FROM rk WHERE rn * 2 <= n + 1""".stripMargin,

    // Count-Min replayed: 4 rows × 512 cols, cell = md5(i || '|' || key)
    // % 512; estimate = min over the 4 cells; queries = exact top-20.
    "q_cms_heavy" ->
      """WITH cell AS (SELECT i,
        |    ('0x'||substr(md5(CAST(i AS VARCHAR)||'|'||CAST(user_id AS VARCHAR)),1,15))::BIGINT
        |      % 512 AS c, count(*) AS cnt
        |  FROM events, range(0, 4) t(i) GROUP BY 1, 2),
        |x AS (SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1
        |  ORDER BY exact_cnt DESC, user_id LIMIT 20),
        |q AS (SELECT user_id, exact_cnt, i,
        |    ('0x'||substr(md5(CAST(i AS VARCHAR)||'|'||CAST(user_id AS VARCHAR)),1,15))::BIGINT
        |      % 512 AS c
        |  FROM x, range(0, 4) t(i))
        |SELECT q.user_id, CAST(max(exact_cnt) AS BIGINT) AS exact_cnt,
        |  CAST(min(cnt) AS BIGINT) AS cms_est
        |FROM q JOIN cell ON cell.i = q.i AND cell.c = q.c
        |GROUP BY 1""".stripMargin
  )

  /** Shared oracle for the table-lifecycle queries (q_table_e2e and
    * q_table_persisted apply identical upsert/delete transitions; only the
    * search path differs — brute-force vs persisted index — so the result
    * must be identical too).
    */
  private val oracleSqlTableE2e: String =
    """WITH docs0 AS (
      |  SELECT CAST(p_partkey AS VARCHAR) AS _id, p_size, embedding AS vec
      |  FROM part JOIN embeddings ON p_partkey = vec_id),
      |up AS (SELECT _id, p_size + 1 AS p_size, vec FROM docs0
      |       WHERE CAST(_id AS BIGINT) % 10 = 3),
      |docs1 AS (
      |  SELECT * FROM docs0 WHERE _id NOT IN (SELECT _id FROM up)
      |  UNION ALL SELECT * FROM up),
      |docs2 AS (SELECT * FROM docs1 WHERE NOT (p_size BETWEEN 10 AND 12)),
      |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |s AS (
      |  SELECT _id, list_sum(list_transform(range(1, 65),
      |    i -> (CAST(vec[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE))
      |       * (CAST(vec[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE)))) AS dist
      |  FROM docs2, q WHERE p_size BETWEEN 1 AND 40),
      |r AS (SELECT _id, dist,
      |             row_number() OVER (ORDER BY dist, _id) AS rn FROM s)
      |SELECT _id, round(dist, 6) AS score FROM r WHERE rn <= 10""".stripMargin

  /** Shared minhash pair-derivation CTEs (follow ShingleCte; end in `ver`
    * with columns a, b, jaccard) — used verbatim by q_dedup_minhash and
    * q_dedup_clusters so the two oracles cannot drift apart.
    */
  /** Shared quality-score SQL (DuckDB mirror of TextOps.qualityScore,
    * rounded to 6): one val for q_text_quality and q_quality_topfrac so
    * the scoring and the quantile filter built on it cannot drift apart.
    */
  /** CDC chunk replay — shared by q_cdc_chunks and q_cdc_dedup. */
  private val CdcChunksSql: String =
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks,
      |    len(string_split(text, ' ')) AS n FROM documents),
      |b AS (SELECT doc_id, toks, n,
      |    CASE WHEN n >= 3 THEN list_filter(range(3, n + 1), i ->
      |      ('0x'||substr(md5(array_to_string(list_slice(toks, i - 2, i), ' ')),1,15))::BIGINT
      |        % 8 = 0)
      |    ELSE [] END AS bpos FROM tk),
      |c AS (SELECT doc_id, toks, n,
      |    list_prepend(1, list_transform(bpos, x -> x + 1)) AS starts,
      |    list_append(bpos, n) AS ends FROM b),
      |e AS (SELECT doc_id, CAST(j - 1 AS BIGINT) AS chunk_idx,
      |    starts[j] AS s, ends[j] AS e2, toks
      |  FROM c, UNNEST(range(1, len(starts) + 1)) AS t(j))
      |SELECT doc_id, chunk_idx, CAST(e2 - s + 1 AS BIGINT) AS n_tok,
      |  ('0x'||substr(md5(array_to_string(list_slice(toks, s, e2), ' ')),1,15))::BIGINT
      |    AS chunk_hash
      |FROM e WHERE s <= e2""".stripMargin

  /** HLL distinct-per-priority replay — shared by q_hll_distinct and the
    * streaming twin q_stream_hll (order-free registers ⇒ same answer). */
  private val HllDistinctSql: String =
    """WITH h AS (SELECT o_orderpriority p,
        |    ('0x'||substr(md5(CAST(o_custkey AS VARCHAR)),1,15))::BIGINT AS h
        |  FROM orders),
        |r AS (SELECT p, h % 4096 AS idx,
        |    CASE WHEN (h >> 12) = 0 THEN 49
        |         ELSE 49 - length(bin(h >> 12)) END AS rho FROM h),
        |reg AS (SELECT p, idx, max(rho) AS r FROM r GROUP BY 1, 2),
        |ag AS (SELECT p, count(*) AS nreg,
        |    sum(1::BIGINT << (49 - r)) AS sp FROM reg GROUP BY 1),
        |e AS (SELECT p, 4096 - nreg AS v,
        |    sp + (4096 - nreg) * (1::BIGINT << 49) AS s FROM ag),
        |est AS (SELECT p, v, CAST(floor(0.721110e0 * 4096e0 * 4096e0
        |      * 562949953421312e0 / CAST(s AS DOUBLE)) AS BIGINT) AS raw
        |  FROM e),
        |fin AS (SELECT p, CASE WHEN raw <= 10240 AND v > 0
        |    THEN CAST(floor(4096e0 * ln(4096e0 / CAST(v AS DOUBLE))) AS BIGINT)
        |    ELSE raw END AS n_est FROM est),
        |x AS (SELECT o_orderpriority p, count(DISTINCT o_custkey) AS n_exact
        |  FROM orders GROUP BY 1)
        |SELECT fin.p AS prio, n_est, n_exact FROM fin JOIN x USING (p)""".stripMargin

  private val QualitySql: String =
    """round(
      |  least(CAST(len(string_split(text,' ')) AS DOUBLE) / CAST(100 AS DOUBLE),
      |        CAST(1 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
      |  + (CAST(1 AS DOUBLE) -
      |     CAST(list_sum(list_transform(string_split(text,' '),
      |       t -> CASE WHEN list_contains(['the','a','and','of','to','in'], t)
      |            THEN 1 ELSE 0 END)) AS DOUBLE)
      |       / CAST(len(string_split(text,' ')) AS DOUBLE)) * CAST(0.3 AS DOUBLE)
      |  + least((CAST(list_sum(list_transform(string_split(text,' '), t -> len(t))) AS DOUBLE)
      |       / CAST(len(string_split(text,' ')) AS DOUBLE)) / CAST(8 AS DOUBLE),
      |       CAST(1 AS DOUBLE)) * CAST(0.3 AS DOUBLE),
      |  6)""".stripMargin

  /** Shared clusters oracle (q_dedup_clusters and q_dedup_clusters_star):
    * the same pair derivation as q_dedup_minhash, then transitive closure
    * to min-id components via a recursive CTE. One val — the driver path
    * and the distributed star path cannot drift against different SQL.
    */
  /** Shared CTE chain of the multimodal near-dup oracle: closed-form
    * pixels -> 8x8 grayscale bits -> block keys -> banded candidates ->
    * per-block-popcount hamming (`ham(a, b, hd)`). One derivation for
    * the pair gate and the clusters gate, so they cannot drift.
    */
  /** Shared CTE of the MP4 oracles: the fixture's sample table re-derived
    * closed-form — sizes, chunking, prefix-sum offsets (chunks contiguous
    * in mdat), stts dts ladder, ctts pts offsets (absent on id%5==0; v1
    * signed on odd ids, v0 unsigned on even), stss sync flags (absent on
    * id%3==0 -> all sync, else every 3rd sample). One derivation for the
    * samples and keyframes gates, so they cannot drift.
    */
  private val Mp4SampleCte: String =
    """ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
      |s0 AS (
      |  SELECT id, i.i AS sample_idx,
      |         10 + (17*id + 31*i.i) % 90 AS sz,
      |         CAST(i.i // 3 AS INT) AS chunk_idx,
      |         i.i * (100 + id % 50) AS dts,
      |         i.i * (100 + id % 50) + CASE
      |           WHEN id % 5 = 0 THEN 0
      |           WHEN id % 2 = 1 THEN ((i.i % 3) - 1) * (100 + id % 50)
      |           ELSE (i.i % 3) * (100 + id % 50) END AS pts,
      |         (id % 3 = 0 OR i.i % 3 = 0) AS is_sync
      |  FROM ids, generate_series(0, 10) i(i)
      |  WHERE i.i < 6 + id % 5),
      |s AS (
      |  SELECT *, CAST(32 + sum(sz) OVER (PARTITION BY id ORDER BY sample_idx
      |       ROWS UNBOUNDED PRECEDING) - sz AS BIGINT) AS offset
      |  FROM s0)""".stripMargin

  /** Shared CTE chain of the AUDIO near-dup oracle: closed-form PCM
    * samples (twin of every 10th doc bumps sample 0 by +100) -> 64
    * nearest-neighbor frames -> exact integer energies -> mean-threshold
    * bits -> block keys -> banded candidates -> per-block-popcount
    * hamming — the WAV mirror of [[MediaNearDupCtes]], same operating
    * point (`mediaNearDupBlocks`).
    */
  private lazy val AudioNearDupCtes: String =
    s"""ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |corpus AS (
        |  SELECT id, id AS src, 0 AS pert FROM ids
        |  UNION ALL
        |  SELECT id + 1000000000000, id, 1 FROM ids WHERE id % 10 = 0),
        |samp AS (
        |  SELECT c.id, gi.i AS i, 64 + c.src % 64 AS n,
        |         ((c.src % 2003) * (gi.i+3) * (gi.i+3)
        |           + (c.src % 1999) * (gi.i+5)) % 2003 - 1001
        |           + CASE WHEN c.pert = 1 AND gi.i = 0 THEN 100 ELSE 0 END AS v
        |  FROM corpus c, generate_series(0, 127) gi(i)
        |  WHERE gi.i < 64 + c.src % 64),
        |en AS (
        |  SELECT id, (i * 64) // n AS f, sum(v * v) AS e
        |  FROM samp GROUP BY id, (i * 64) // n),
        |bits AS (
        |  SELECT en.id, en.f AS i, CASE WHEN en.e > m.mean THEN 1 ELSE 0 END AS bit
        |  FROM en JOIN (SELECT id, sum(e) // 64 AS mean FROM en GROUP BY id) m
        |    ON en.id = m.id),
        |keys AS (
        |  SELECT id, i // ${64 / mediaNearDupBlocks} AS blk,
        |         sum(bit * (CAST(1 AS BIGINT) << (i % ${64 / mediaNearDupBlocks}))) AS key
        |  FROM bits GROUP BY id, i // ${64 / mediaNearDupBlocks}),
        |cand AS (
        |  SELECT DISTINCT x.id AS a, y.id AS b
        |  FROM keys x JOIN keys y
        |    ON x.blk = y.blk AND x.key = y.key AND x.id < y.id),
        |wide AS (SELECT id, ${(0 until mediaNearDupBlocks)
          .map(b => s"max(CASE WHEN blk = $b THEN key END) AS k$b")
          .mkString(", ")}
        |  FROM keys GROUP BY id),
        |ham AS (
        |  SELECT c.a, c.b, ${(0 until mediaNearDupBlocks)
          .map(b => s"bit_count(xor(wa.k$b, wb.k$b))").mkString(" + ")} AS hd
        |  FROM cand c
        |  JOIN wide wa ON wa.id = c.a
        |  JOIN wide wb ON wb.id = c.b)""".stripMargin

  private lazy val MediaNearDupCtes: String =
    s"""ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |corpus AS (
        |  SELECT id, id AS src, 0 AS pert FROM ids
        |  UNION ALL
        |  SELECT id + 1000000000000, id, 1 FROM ids WHERE id % 10 = 0),
        |cells AS (
        |  SELECT c.id, c.src, c.pert, g.i,
        |         ((g.i % 8) * (8 + c.src % 9)) // 8 AS sx,
        |         ((g.i // 8) * (8 + (c.src * 3) % 9)) // 8 AS sy
        |  FROM corpus c, generate_series(0, 63) g(i)),
        |gray AS (
        |  SELECT id, i,
        |    (((31*src + (7 + (src//256) % 251)*sx
        |       + (13 + (src//65536) % 241)*sy) % 256
        |      + CASE WHEN pert = 1 AND sx = 0 AND sy = 0 THEN 8 ELSE 0 END) % 256
        |     + (31*src + (7 + (src//256) % 251)*sx
        |        + (13 + (src//65536) % 241)*sy + 97) % 256
        |     + (31*src + (7 + (src//256) % 251)*sx
        |        + (13 + (src//65536) % 241)*sy + 194) % 256) // 3 AS g
        |  FROM cells),
        |bits AS (
        |  SELECT gr.id, gr.i, CASE WHEN gr.g > m.mean THEN 1 ELSE 0 END AS bit
        |  FROM gray gr
        |  JOIN (SELECT id, sum(g) // 64 AS mean FROM gray GROUP BY id) m
        |    ON gr.id = m.id),
        |keys AS (
        |  SELECT id, i // ${64 / mediaNearDupBlocks} AS blk,
        |         sum(bit * (CAST(1 AS BIGINT) << (i % ${64 / mediaNearDupBlocks}))) AS key
        |  FROM bits GROUP BY id, i // ${64 / mediaNearDupBlocks}),
        |cand AS (
        |  SELECT DISTINCT x.id AS a, y.id AS b
        |  FROM keys x JOIN keys y
        |    ON x.blk = y.blk AND x.key = y.key AND x.id < y.id),
        |-- blocks partition the 64 bits, so hamming = sum of per-block
        |-- popcounts of XORed keys — no per-bit join (the bits-table form
        |-- materialized 64 join rows per candidate side and fell over at
        |-- the 5M-doc replica's ~40M pairs)
        |wide AS (SELECT id, ${(0 until mediaNearDupBlocks)
          .map(b => s"max(CASE WHEN blk = $b THEN key END) AS k$b")
          .mkString(", ")}
        |  FROM keys GROUP BY id),
        |ham AS (
        |  SELECT c.a, c.b, ${(0 until mediaNearDupBlocks)
          .map(b => s"bit_count(xor(wa.k$b, wb.k$b))").mkString(" + ")} AS hd
        |  FROM cand c
        |  JOIN wide wa ON wa.id = c.a
        |  JOIN wide wb ON wb.id = c.b)""".stripMargin

  private lazy val oracleSqlClusters: String =
    s"""WITH RECURSIVE $ShingleCte, $MinhashPairCtes,
       |pr AS (SELECT a, b FROM ver WHERE jaccard >= 0.5),
       |e AS (SELECT a AS src, b AS dst FROM pr UNION SELECT b, a FROM pr),
       |reach(id, r) AS (
       |  SELECT DISTINCT src, src FROM e
       |  UNION
       |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id)
       |SELECT id, min(r) AS cluster FROM reach GROUP BY id""".stripMargin

  /** Minhash pair CTEs with a parameterized candidate-pair predicate —
    * `q_dedup_minhash`-family oracles use the within-corpus `a < b` form;
    * the cross-corpus oracle restricts candidates to (odd, even) id
    * pairs. One derivation, so the variants cannot drift.
    */
  private def minhashPairCtesWhere(pairCond: String): String =
    s"""hs AS (SELECT doc_id,
       |  list_transform(toks, s -> ('0x'||substr(md5(s),1,8))::BIGINT % 2147483647) AS xs
       |  FROM toks),
       |sig AS (SELECT doc_id, list_transform(range(0,16),
       |  i -> list_min(list_transform(xs, x -> ((37*i+101)*x + (91*i+17)) % 2147483647))) AS sig
       |  FROM hs),
       |bands AS (SELECT doc_id, t.b AS band,
       |  array_to_string(list_transform(list_slice(sig, t.b*4+1, t.b*4+4),
       |    v -> CAST(v AS VARCHAR)), '_') AS bkey
       |  FROM sig, range(0,4) t(b)),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y
       |  ON x.band = y.band AND x.bkey = y.bkey AND $pairCond),
       |ht AS (SELECT doc_id, list_distinct(list_transform(toks,
       |  s -> ('0x'||substr(md5(s),1,8))::BIGINT)) AS htoks FROM toks),
       |ver AS (SELECT a, b,
       |  CAST(len(list_intersect(ta.htoks, tb.htoks)) AS DOUBLE) /
       |  CAST(len(list_distinct(list_concat(ta.htoks, tb.htoks))) AS DOUBLE) AS jaccard
       |  FROM cand JOIN ht ta ON ta.doc_id = a JOIN ht tb ON tb.doc_id = b)""".stripMargin

  private val MinhashPairCtes: String =
    minhashPairCtesWhere("x.doc_id < y.doc_id")

  /** Shared shingle CTE (distinct word 3-grams) used by the dedup oracles —
    * the DuckDB mirror of TextOps.shingles(text, 3).
    */
  private val ShingleCte: String =
    """toks AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(text,' ')) >= 3 THEN
      |      list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
      |        i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' ')))
      |    ELSE [] END AS toks
      |  FROM documents)""".stripMargin

  /** Shared KNN oracle template: 8 query vectors (vec_id < 8) against all
    * embeddings, per-query top-k with id tie-break, all math in double.
    */
  private def knnOracle(
      metric: String, k: Int, asc: Boolean, docFilter: String = "",
      scoreFilter: String = ""): String = {
    val distExpr = metric match {
      case "l2" | "l2sqrt" =>
        """list_sum(list_transform(range(1, 65),
          |  i -> (CAST(d.embedding[i] AS DOUBLE) - CAST(q.embedding[i] AS DOUBLE))
          |     * (CAST(d.embedding[i] AS DOUBLE) - CAST(q.embedding[i] AS DOUBLE))))""".stripMargin
      case "ip" =>
        """list_sum(list_transform(range(1, 65),
          |  i -> CAST(d.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))""".stripMargin
      case "cos" =>
        """(list_sum(list_transform(range(1, 65),
          |    i -> CAST(d.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))
          | / (sqrt(list_sum(list_transform(range(1, 65),
          |      i -> CAST(d.embedding[i] AS DOUBLE) * CAST(d.embedding[i] AS DOUBLE))))
          |  * sqrt(list_sum(list_transform(range(1, 65),
          |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))))""".stripMargin
    }
    val scoreSel = if (metric == "l2sqrt") "sqrt(dist)" else "dist"
    val ord = if (asc) "dist ASC" else "dist DESC"
    s"""WITH s0 AS (
       |  SELECT q.vec_id AS qid, d.vec_id AS id, $distExpr AS dist
       |  FROM (SELECT * FROM embeddings WHERE vec_id < 8) q,
       |       (SELECT * FROM embeddings $docFilter) d),
       |s AS (SELECT * FROM s0 $scoreFilter),
       |r AS (SELECT qid, id, $scoreSel AS score,
       |             row_number() OVER (PARTITION BY qid ORDER BY $ord, id) AS rn
       |      FROM s)
       |SELECT qid, id, round(score, 6) AS score FROM r WHERE rn <= $k""".stripMargin
  }
}
