package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's runtime-config surface — the Spark-idiomatic equivalent of
  * the reference's SetConfig/GetConfig pair (c_api/gamma_api.h:181-189,
  * which tunes engine knobs like cache sizes on a LIVE engine without a
  * restart). Here every knob is a `spark.graft.*` Spark conf: settable
  * from SQL (`SET spark.graft.ann.rewrite=true`), from code
  * (`spark.conf.set`), or per-session defaults — Spark's conf machinery IS
  * the config transport, so there is nothing bespoke to serialize.
  *
  * This object is the REGISTRY: the one place that enumerates every knob
  * with its default and contract, so the surface is discoverable
  * (GetConfig analog: [[all]]) and validated (SetConfig analog: [[set]]
  * rejects unknown keys instead of silently ignoring a typo — the failure
  * mode a stringly conf system invites).
  *
  * Defaults here are DOCUMENTATION of the code's behavior, not a second
  * source of truth to drift: GraftConfigSpec pins each default against
  * the reading call site, and the `q_engine_config` gate pins the whole
  * table against a constant oracle, so a silently changed default fails
  * the correctness gate.
  */
object GraftConfig {

  /** One knob: `default` is the value the reading call site uses when the
    * conf is unset ("auto" = computed at use; see doc).
    */
  final case class Knob(key: String, default: String, doc: String)

  val knobs: Seq[Knob] = Seq(
    Knob("spark.graft.ann.rewrite", "false",
      "Opt-in Catalyst rewrite of ORDER BY <distance> LIMIT k over a " +
        "registered relation into the index's probe-pruned search plan " +
        "(trades exactness for latency when nprobe < ncentroids)."),
    Knob("spark.graft.filter.exactFallbackRows", "auto",
      "Filtered-ANN tier threshold: an allowed set at most this large is " +
        "served EXACTLY over the filtered rows instead of probing. Unset = " +
        "cost model: max(16k, 65536, estimated probe cost in row-equivalents " +
        "from per-list stats)."),
    Knob("spark.graft.filter.broadcastMaxKeys", "1000000",
      "Filtered-ANN middle tier: an allowed-key set at most this large is " +
        "broadcast into the index scan; larger sets join shuffle-side. For " +
        "IVFPQ and HNSW the request's key-counting job also brings a set " +
        "this small to the driver (each task at most its share of the " +
        "bound), and the scan tests those keys instead of joining."),
    Knob("spark.graft.hnsw.adaptiveEf", "true",
      "Widen HNSW ef per segment from observed candidate quality; " +
        "disable to pin ef to the request value."),
    Knob("spark.graft.hnsw.maxExcludedRows", "2000000",
      "Absolute cap on the HNSW deleted/superseded exclusion set before " +
        "exclusions are compacted into per-segment graph rewrites " +
        "(bounds the exclusion broadcast to ~8 B/key)."),
    Knob("spark.graft.ivf.adaptiveProbe", "true",
      "Widen IVF nprobe from observed list-size skew (bounded by " +
        "ncentroids); disable to pin nprobe to the request value."),
    Knob("spark.graft.topk.sortedMinGroups", "1000000",
      "Volume-aware per-group top-k: the sorted (window) shape is " +
        "considered only at or above this many groups; below it the " +
        "k-bounded heap aggregate always wins."),
    Knob("spark.graft.topk.sortedMaxInflation", "8",
      "Volume-aware per-group top-k: the sorted shape is chosen only " +
        "while candidate rows <= inflation * groups * k (its Exchange " +
        "carries every candidate row; the heap's carries ~groups*k)."),
    Knob("spark.graft.table.lease", "false",
      "Opt-in commit lease: writes take an exclusive TTL'd lock file " +
        "(meta/commit.lock) before the version guard, shrinking the " +
        "guard's read-check-write window to the filesystem's " +
        "create-atomicity. Best effort (object-store creates may not be " +
        "atomic); the version guard stays authoritative."))

  private val byKey: Map[String, Knob] = knobs.map(k => k.key -> k).toMap

  /** GetConfig analog: every knob with its current effective value. */
  def all(spark: SparkSession): DataFrame = {
    import spark.implicits._
    knobs.map(k =>
      (k.key, spark.conf.getOption(k.key).getOrElse(k.default), k.default, k.doc))
      .toDF("key", "value", "default", "doc")
  }

  /** SetConfig analog — validated: an unknown key fails loudly with the
    * knob inventory instead of becoming an inert conf entry.
    */
  def set(spark: SparkSession, key: String, value: String): Unit = {
    require(byKey.contains(key),
      s"unknown graft config '$key'; known: ${knobs.map(_.key).mkString(", ")}")
    spark.conf.set(key, value)
  }

  def get(spark: SparkSession, key: String): String = {
    require(byKey.contains(key),
      s"unknown graft config '$key'; known: ${knobs.map(_.key).mkString(", ")}")
    spark.conf.getOption(key).getOrElse(byKey(key).default)
  }

  def unset(spark: SparkSession, key: String): Unit = {
    require(byKey.contains(key),
      s"unknown graft config '$key'; known: ${knobs.map(_.key).mkString(", ")}")
    spark.conf.unset(key)
  }

  /** Typed read of the commit-lease knob (hot path of every write). */
  def leaseEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.table.lease").exists(_.toBoolean)
}
