package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.table.{GammaTable, VectorFieldDef}

/** The `gamma` DSv2 source: pure-SQL access to GammaTable roots — schema
  * from the manifest (job-free), live-docs semantics, decoded vector
  * surface, manifest-level bucket pruning from pushed filters, and the
  * ANN top-k rewrite engaging on a SQL-only view.
  */
class GammaSqlSourceSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_sqlsrc").toString

  private def mkTable(root: String, nBuckets: Int = 8): GammaTable = {
    val emb = spark.read.parquet(s"$sf0/embeddings.parquet")
    val docs = spark.read.parquet(s"$sf0/part.parquet")
      .join(emb, $"p_partkey" === $"vec_id")
      .select($"p_partkey".cast("string").as("_id"),
        $"p_size", $"p_retailprice", $"embedding".as("vec"))
    GammaTable.create(spark, root, "sqlsrc", "_id", docs,
      Seq(VectorFieldDef("vec", 64)), nBuckets = nBuckets)
  }

  test("reader matches the Scala live-docs surface after a lifecycle") {
    val root = tmp()
    val t = mkTable(root)
    // upsert + delete so live-docs filtering and version resolution are
    // both under test, not just a fresh write
    t.addOrUpdate(t.docs.filter($"_id".cast("long") % 7 === 3)
      .select($"_id", ($"p_size" + 1).as("p_size"), $"p_retailprice", $"vec"))
    t.deleteByQuery($"p_size" > 45)

    val viaSql = spark.read.format("gamma").load(root)
    // hidden internals, exposed docid, decoded float vector
    assert(!viaSql.columns.contains(GammaTable.DeletedCol))
    assert(!viaSql.columns.contains(GammaTable.BucketCol))
    assert(viaSql.columns.contains(GammaTable.DocidCol))
    assert(viaSql.schema("vec").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))

    val expect = t.docs.select($"_id", $"p_size", $"p_retailprice").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSet
    val got = viaSql.select($"_id", $"p_size", $"p_retailprice").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSet
    assert(got === expect)
    // count(*) — the empty-projection scan path
    assert(viaSql.count() === t.docs.count())
  }

  test("SQL DDL: CREATE TEMPORARY VIEW USING gamma, filters work") {
    val root = tmp()
    val t = mkTable(root)
    spark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW gsrc USING gamma OPTIONS (path '$root')")
    val n = spark.sql("SELECT count(*) AS n FROM gsrc WHERE p_size <= 20")
      .as[Long].head()
    assert(n === t.docs.filter($"p_size" <= 20).count())
  }

  test("key equality prunes to one bucket; contradictory range prunes all") {
    val root = tmp()
    val t = mkTable(root, nBuckets = 8)
    val df = spark.read.format("gamma").load(root)

    def scanDesc(q: org.apache.spark.sql.DataFrame): String =
      q.queryExecution.executedPlan.toString

    // key-equality: the driver-side hash twin confines the scan to 1/8
    val point = df.filter($"_id" === "42").select($"_id", $"p_size")
    assert(scanDesc(point).contains("buckets=1/8"), scanDesc(point))
    assert(point.collect().map(_.getString(0)).toSeq === Seq("42"))

    // a range no bucket's stats can satisfy prunes EVERY bucket (manifest
    // min/max, no file opened) and still returns the right (empty) answer
    val none = df.filter($"p_size" > 10000).select($"_id")
    assert(scanDesc(none).contains("buckets=0/8"), scanDesc(none))
    assert(none.count() === 0L)

    // pruning is conservative: the full answer through a partial-range
    // filter matches the Scala surface exactly
    val some = df.filter($"p_size" <= 5).select($"_id").collect().map(_.getString(0)).toSet
    assert(some === t.docs.filter($"p_size" <= 5)
      .select($"_id").collect().map(_.getString(0)).toSet)
  }

  test("INT8-stored vector field decodes to the float surface in SQL") {
    val root = tmp()
    val emb = spark.read.parquet(s"$sf0/embeddings.parquet")
      .select($"vec_id".cast("string").as("_id"), $"embedding".as("vec"))
    val t = GammaTable.create(spark, root, "sql8", "_id", emb,
      Seq(VectorFieldDef("vec", 64, store = "INT8")), nBuckets = 4)
    val viaSql = spark.read.format("gamma").load(root)
    assert(viaSql.schema("vec").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val got = viaSql.select($"_id", $"vec").as[(String, Array[Float])]
      .collect().toMap
    val expect = t.docs.select($"_id", $"vec").as[(String, Array[Float])]
      .collect().toMap
    assert(got.keySet === expect.keySet)
    got.foreach { case (k, v) => assert(v.toSeq === expect(k).toSeq) }
  }

  test("column pruning reaches the scan: a scalar-only query must not carry vec") {
    val root = tmp()
    mkTable(root)
    val df = spark.read.format("gamma").load(root)
      .filter($"p_size" <= 20).select($"_id", $"p_size")
    // the scan node's output (= the pruned required schema the inner
    // parquet read selects) must not include the 64-float vec column —
    // at 100 TB reading vectors for a scalar query is the difference
    // between a column scan and a table scan
    val scanLine = df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("buckets=")).getOrElse(fail("no gamma scan in plan"))
    assert(!scanLine.contains("vec"), scanLine)
    assert(df.count() > 0)
  }

  test("INSERT INTO upserts (last-write-wins per key); DELETE FROM deletes by query") {
    val root = tmp()
    val t = mkTable(root)
    val before = t.docs.count()
    spark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW gw USING gamma OPTIONS (path '$root')")

    // SQL upsert: existing key 42 gets a new p_size, new key 990042
    // appends — both through one INSERT (AddOrUpdateDocs semantics)
    val vecLit = "array(" + (0 until 64).map(i => s"CAST($i AS FLOAT)").mkString(",") + ")"
    spark.sql(
      s"""INSERT INTO gw (_id, p_size, p_retailprice, vec) VALUES
         |('42', 777, 1.5D, $vecLit), ('990042', 888, 2.5D, $vecLit)""".stripMargin)
    val viaSql = spark.read.format("gamma").load(root)
    assert(viaSql.count() === before + 1) // 1 update + 1 insert
    assert(viaSql.filter($"_id" === "42").select($"p_size").as[Int].head() === 777)
    assert(viaSql.filter($"_id" === "990042").select($"p_size").as[Int].head() === 888)
    // the upserted row kept its dense docid (in-place update semantics)
    assert(viaSql.filter($"_id" === "42").select($"_docid").as[Long].head() <
      before)

    // SQL delete-by-query → logical delete, gone from every read path
    spark.sql("DELETE FROM gw WHERE p_size >= 777")
    val after = spark.read.format("gamma").load(root)
    assert(after.filter($"p_size" >= 777).count() === 0L)
    assert(after.count() === before - 1) // lost 42 and 990042

    // INSERT OVERWRITE is refused, not silently truncating
    val e = intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE gw SELECT * FROM gw")
    }
    assert(String.valueOf(e.getMessage).contains("not supported") ||
      e.getCause != null &&
        String.valueOf(e.getCause.getMessage).contains("not supported"))
  }

  test("df.write.format(gamma).mode(append) routes through the upsert path") {
    val root = tmp()
    val t = mkTable(root)
    val before = t.docs.count()
    val delta = spark.read.format("gamma").load(root)
      .filter($"_id" === "7")
      .select($"_id", lit(555).as("p_size"), $"p_retailprice", $"vec")
    delta.write.format("gamma").mode("append").save(root)
    val got = spark.read.format("gamma").load(root)
    assert(got.count() === before)
    assert(got.filter($"_id" === "7").select($"p_size").as[Int].head() === 555)
  }

  test("ANN top-k rewrite engages on a pure-SQL gamma view") {
    val root = tmp()
    val t = mkTable(root)
    val idx = t.buildIndex("vec", graft.index.IndexParams(ncentroids = 4))
    graft.plans.AnnRewrite.install(spark)
    graft.plans.IndexCatalog.register(root,
      graft.plans.RegisteredIndex(idx.currentIndex.get, t.docs, "_id", "vec"))
    spark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW gann USING gamma OPTIONS (path '$root')")
    val qvec = spark.read.parquet(s"$sf0/embeddings.parquet")
      .filter($"vec_id" === 0).select("embedding").as[Array[Float]].head()
    val qLit = s"array(${qvec.map(v => s"CAST($v AS FLOAT)").mkString(",")})"
    try {
      spark.conf.set("spark.graft.ann.rewrite", "true")
      val df = spark.sql(
        s"SELECT _id, l2_sq(vec, $qLit) AS score FROM gann ORDER BY score LIMIT 5")
      assert(answeredByIndex(df),
        "ANN rewrite did not engage on the gamma DSv2 relation")
      // full probe at ncentroids=4 default nprobe=80 → exact: matches the
      // brute-force answer through the plain (non-rewritten) view
      val got = df.collect().map(_.getString(0)).toSeq
      spark.conf.set("spark.graft.ann.rewrite", "false")
      val exact = spark.sql(
        s"SELECT _id, l2_sq(vec, $qLit) AS score FROM gann ORDER BY score, _id LIMIT 5")
        .collect().map(_.getString(0)).toSeq
      assert(got === exact)
    } finally {
      spark.conf.set("spark.graft.ann.rewrite", "false")
      graft.plans.IndexCatalog.unregister(root)
    }
  }

  test("timestampAsOf resolution binary-searches the retained manifests (O(log n) reads)") {
    val root = tmp()
    GammaTable.create(spark, root, "tsbin", "_id",
      Seq(("a", 1)).toDF("_id", "v"), nBuckets = 1) // v1 (real stamp = now)
    // synthesize a deep retained history: 1000 versioned manifests with
    // monotone future stamps (resolution only reads the stamp field)
    val base = 4_000_000_000_000L // far future, keeps stamps monotone vs v1
    val metaDir = java.nio.file.Paths.get(root, "meta")
    (2 to 1001).foreach { v =>
      java.nio.file.Files.write(metaDir.resolve(s"v$v.json"),
        s"""{"version":$v,"committedAtMs":${base + v}}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val before = graft.core.ManifestIO.readCount.get()
    val got = graft.sources.GammaSql.versionAtTimestamp(root, base + 700)
    val reads = graft.core.ManifestIO.readCount.get() - before
    assert(got === 700L)
    // 1001 retained versions -> ceil(log2) + slack; the pre-fix shape read
    // every manifest (1001 reads)
    assert(reads <= 12, s"expected O(log n) manifest reads, got $reads")
    // boundaries: before the first fake stamp resolves to the real v1;
    // after the last resolves to the newest
    assert(graft.sources.GammaSql.versionAtTimestamp(root, base + 5000) === 1001L)
    assert(graft.sources.GammaSql.versionAtTimestamp(
      root, System.currentTimeMillis() + 60000) === 1L)
  }

  test("timestampAsOf at the history edge re-resolves after later commits (no stale cache)") {
    val root = tmp()
    val t = GammaTable.create(spark, root, "tsedge", "_id",
      Seq(("a", 1)).toDF("_id", "v"), nBuckets = 1) // v1
    // a timestamp AT/AFTER the newest stamp resolves to the newest
    // version — but that answer is only valid until the next commit, so
    // it must never be served from the (root, ts) memo
    val future = System.currentTimeMillis() + 3_600_000L
    def idsAt(): Set[String] = spark.read.format("gamma")
      .option("timestampAsOf", future.toString).load(root)
      .select("_id").as[String].collect().toSet
    assert(idsAt() === Set("a"))
    Thread.sleep(5) // strictly later commit stamp
    t.addOrUpdate(Seq(("b", 2)).toDF("_id", "v")) // v2, stamp still <= future
    assert(idsAt() === Set("a", "b"),
      "boundary timestamp resolution was served stale from the memo")
    // interior timestamps stay memoized and stable: pin between v1 and v2
    val v1Stamp = GammaTable.readMetaVersionFor(spark, root, 1L)
      .committedAtMs.get
    val interior = spark.read.format("gamma")
      .option("timestampAsOf", v1Stamp.toString).load(root)
      .select("_id").as[String].collect().toSet
    assert(interior === Set("a"))
  }
}
