package graft.media

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus per-partition batched "decode"/feature
  * operators.
  *
  * The kernels HERE are stubs (deterministic md5-derived fakes) kept for
  * the generic schema/batching contract over formats without a JVM
  * decoder. REAL decode kernels live in [[MediaDecode]]/[[MediaCodecs]]
  * (r12): PNG (zlib + all five row filters), 24/32-bit BMP, and WAV-PCM
  * decode/encode in pure JDK bytes, with one-pass decode→stat/resize/
  * perceptual-hash operators and oracle-exact gates. JPEG/MP4 remain
  * header-only (MediaHeaders) — DCT/entropy decoders are the one piece
  * this container genuinely cannot check against a reference.
  * Everything around the stubs is real and is what matters at 100 TB:
  * the schema contract and partition-batched execution (`mapPartitions`,
  * the Scala analog of `mapInPandas` batches).
  */
object MediaOps {

  val MetaType: StructType = StructType(Seq(
    StructField("kind", StringType),      // image | audio | video
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("duration_ms", LongType)))

  /** Attach an opaque payload column + stub metadata derived from it.
    * In a real pipeline the payload arrives from the storage layer; here
    * any string/binary column works as the source.
    */
  def withPayload(df: DataFrame, srcCol: String, kind: String = "image"): DataFrame =
    df.withColumn("bytes", col(srcCol).cast("binary"))
      .withColumn("media_meta", struct(
        lit(kind).as("kind"),
        (pmod(xxhash64(col(srcCol)), lit(1024L)) + 32).cast("int").as("width"),
        (pmod(xxhash64(col(srcCol), lit(1)), lit(1024L)) + 32).cast("int").as("height"),
        lit(16000).as("sample_rate"),
        (length(col("bytes")) * 10L).as("duration_ms")))

  /** STUB image decode + feature extraction (the real thing would wrap a
    * codec inside this exact mapPartitions shape). Produces a
    * deterministic `dim`-float feature from the payload bytes, batching
    * rows per partition like an inference runtime would.
    */
  def extractFeaturesStub(df: DataFrame, dim: Int = 8): DataFrame = {
    val schema = df.schema.add("features", ArrayType(FloatType, containsNull = false))
    val bytesIdx = df.schema.fieldIndex("bytes")
    df.mapPartitions { rows =>
      // per-partition "model load" happens once here in the real version
      val digest = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](bytesIdx)
        digest.reset()
        val h = digest.digest(payload)
        val feats = Array.tabulate(dim)(i => (h(i % h.length) & 0xff) / 255.0f)
        Row.fromSeq(r.toSeq :+ feats.toSeq)
      }
    }(Encoders.row(schema))
  }

  /** STUB frame sampling for video payloads: emits `n` frame rows per doc
    * with a frame index — the explode shape of a real frame sampler.
    */
  def frameSampleStub(df: DataFrame, n: Int): DataFrame =
    df.withColumn("frame_idx", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("frame_ts_ms",
        col("frame_idx") * col("media_meta.duration_ms") / n)
}
