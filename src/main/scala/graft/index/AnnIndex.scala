package graft.index

import org.apache.spark.sql.DataFrame

/** Pluggable retrieval-model surface — the Spark analog of the reference's
  * `RetrievalModel` ABI + name registry
  * (reference index/retrieval_model.h:218-310, index/reflector.h:17-68).
  *
  * A built index answers batched top-k queries (the reference batches
  * `req_num` queries per call, idl/fbs/request.fbs:28). `allowedIds` is the
  * filter-pushdown hook: the reference pushes an `IsValid(docid)` callback
  * into the index scan (index/retrieval_model.h:77-103); here a small
  * allowed-key set is semi-joined into the candidate stream BEFORE distance
  * evaluation, which is the same "filter inside the scan" shape.
  */
trait AnnIndex {
  def retrievalType: String

  /** Hyper-parameters (incl. the metric this index serves). */
  def params: IndexParams

  /** `minScore`/`maxScore` is the score-range predicate (P8) applied to
    * scored candidates BEFORE the top-k heap, like the reference's
    * `IsSimilarScoreValid` callback inside the scan
    * (common/gamma_common_data.h:95-97) — out-of-range hits must not
    * consume the candidate budget.
    */
  def search(
      queries: Seq[(Long, Array[Float])],
      k: Int,
      nprobe: Option[Int] = None,
      allowedIds: Option[DataFrame] = None,
      minScore: Option[Double] = None,
      maxScore: Option[Double] = None): DataFrame

  /** Delete-bitmap pushdown — ONE shared surface for "these ids must not
    * come back from the index" (the reference marks vids invalid in a
    * bitmap consulted INSIDE every scan, util/bitmap_manager.h +
    * index/retrieval_model.h:77-103; stale realtime entries carry a bit-63
    * tombstone, realtime/realtime_mem_data.h:26-27). List-based models
    * anti-join their lists; graph models exclude at result admission
    * (graph rows are opaque segments). Lazy: the view composes into the
    * next search's plan.
    */
  def excluding(ids: DataFrame): AnnIndex

  /** Same index, different hyper-parameters — the hook for PER-REQUEST
    * knob overrides (the reference's request param JSON carries
    * recall_num and the exact-re-rank toggle `has_rank` alongside nprobe,
    * common/gamma_common_data.h:89, idl/fbs/request.fbs:38, parsed at
    * gamma_index_ivfpq.h:707+). Costless: quantizers/lists/graphs are
    * shared, only the param record changes.
    */
  def withParams(p: IndexParams): AnnIndex
}

/** Name -> builder registry (reference `REGISTER_MODEL` reflector,
  * index/reflector.h). Keys mirror the reference model names
  * (index/impl/gamma_index_flat.cc:28 etc.).
  */
object IndexRegistry {
  import org.apache.spark.sql.SparkSession

  type Builder = (SparkSession, DataFrame, String, String, IndexParams) => AnnIndex

  private val builders = scala.collection.concurrent.TrieMap[String, Builder](
    "FLAT" -> ((s, docs, id, vec, p) => FlatIndex(s, docs, id, vec, p)),
    "IVFFLAT" -> ((s, docs, id, vec, p) => IvfFlatIndex.build(s, docs, id, vec, p)),
    "IVFPQ" -> ((s, docs, id, vec, p) => IvfPqIndex.build(s, docs, id, vec, p)),
    "HNSW" -> ((s, docs, id, vec, p) => HnswIndex.build(s, docs, id, vec, p)),
    // binary model is Hamming by definition (the reference's binary IVF
    // searches a Hamming heap, gamma_index_binary_ivf.cc)
    "BINARYIVF" -> ((s, docs, id, vec, p) =>
      BinaryIvfIndex.build(s, docs, id, vec,
        p.copy(metric = graft.core.Metric.Hamming))))

  def register(name: String, b: Builder): Unit = builders.put(name, b)

  def build(
      name: String,
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      vecCol: String,
      params: IndexParams = IndexParams()): AnnIndex =
    builders.getOrElse(name.toUpperCase(java.util.Locale.ROOT),
      throw new IllegalArgumentException(
        s"unknown retrieval type $name; known: ${builders.keys.mkString(",")}"))(
      spark, docs, idCol, vecCol, params)
}

/** splitmix64 finalizer (public-domain, Steele et al.) — the ONE copy:
  * HNSW level assignment, the binary coarse trainer's sample shuffle, and
  * the Gaussian fixture all depend on these exact constants, and a
  * silently-diverging copy would change persisted-index determinism.
  */
private[index] object Mix {
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
}

/** Index hyper-parameters; defaults follow the reference's engine defaults
  * (ncentroids=2048 scaled down by table size, nprobe=80, nbits=8,
  * recall_num=100 — reference index/impl/gamma_index_ivfpq.h:633,
  * 690-705; HNSW nlinks=32, efConstruction=200, efSearch=64 —
  * gamma_index_ivfpq.h:692-694, hnswlib/gamma_index_hnswlib.cc:29-37) —
  * EXCEPT nsubvector, which defaults to 8 (the reference's 64 assumes
  * >=64-dim vectors; dim must divide by nsubvector, and 8 serves small
  * test dims too — set 64 explicitly for reference-parity compression).
  * `ncentroids <= 0` means auto: ~sqrt(n) capped to [4, 2048].
  */
case class IndexParams(
    metric: graft.core.Metric.Value = graft.core.Metric.L2,
    ncentroids: Int = -1,
    nprobe: Int = 80,
    nsubvector: Int = 8,
    nbits: Int = 8,
    recallNum: Int = 100,
    hasRank: Boolean = true,
    trainSampleRows: Int = 200000,
    seed: Long = 42L,
    nlinks: Int = 32,
    efConstruction: Int = 200,
    efSearch: Int = 64,
    opq: Boolean = false,
    opqIters: Int = 3)
