package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.types.StructType

/** Driver-side manifest IO. Table/index manifests are single small JSON
  * files written driver-side (write-temp-then-rename); reading them back
  * through `spark.read.json` cost one schema-inference job plus one
  * `head()` job per read — pure scheduler latency (~120 ms each) on the
  * serving path (load, search, refresh all re-read manifests). Reading
  * the bytes via the Hadoop FileSystem API and parsing with `from_json`
  * over a one-row local relation keeps Catalyst's JSON semantics while
  * launching ZERO Spark jobs: ConvertToLocalRelation evaluates the
  * projection at optimization time and LocalTableScan collects on the
  * driver.
  */
object ManifestIO {

  /** Recursively nullable (file-source relations force nullability, so an
    * explicit schema handed to a parquet read must match what footer
    * inference would have returned).
    */
  def asNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = asNullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
      case m: MapType => MapType(m.keyType, asNullable(m.valueType), valueContainsNull = true)
      case o => o
    }
  }
  def asNullable(s: StructType): StructType =
    asNullable(s: org.apache.spark.sql.types.DataType).asInstanceOf[StructType]

  /** Manifest reads since JVM start — test instrumentation (the
    * timestamp-resolution spec pins its read complexity against this).
    */
  private[graft] val readCount = new java.util.concurrent.atomic.AtomicLong

  /** Whole file as UTF-8, None if absent. Only for driver-written
    * manifests (bytes are bounded by the manifest's own size).
    */
  def readString(spark: SparkSession, file: String): Option[String] = {
    readCount.incrementAndGet()
    val p = new Path(file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a file replaced by delete + rename can vanish between the exists
    // check and the open: that reads as absent, like a missing file
    val opened =
      try { if (fs.exists(p)) Some(fs.open(p)) else None }
      catch { case _: java.io.FileNotFoundException => None }
    opened.map { in =>
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
    }
  }

  /** Parse one JSON document against an explicit schema without a Spark
    * job. Missing fields come back null (PERMISSIVE), matching the old
    * `spark.read.schema(s).json` behavior for absent columns.
    */
  def parseDF(spark: SparkSession, json: String, schema: StructType): DataFrame = {
    import spark.implicits._
    spark.createDataset(json :: Nil)
      .select(from_json(col("value"), schema).as("m"))
      .select("m.*")
  }
}
