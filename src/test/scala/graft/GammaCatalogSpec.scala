package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.table.GammaTable

/** The `GammaCatalog` DSv2 TableCatalog: pure-SQL CREATE/INSERT/DELETE/
  * SELECT/DROP over a warehouse of gamma roots, plus snapshot reads
  * (`VERSION AS OF` / `TIMESTAMP AS OF` / reader `versionAsOf`) off the
  * retained manifest history.
  */
class GammaCatalogSpec extends GraftSuite {
  import spark.implicits._

  private val wh = Files.createTempDirectory("graft_cat_wh").toString
  spark.conf.set("spark.sql.catalog.gcat", "graft.sources.GammaCatalog")
  spark.conf.set("spark.sql.catalog.gcat.warehouse", wh)

  private def freshName(prefix: String): String =
    prefix + System.nanoTime().toString.takeRight(8)

  test("full SQL lifecycle: CREATE TABLE DDL, INSERT upsert, DELETE, SELECT, DROP") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.prod")
    val tbl = s"gcat.prod.${freshName("items")}"
    spark.sql(
      s"""CREATE TABLE $tbl (_id STRING, p_size INT, vec ARRAY<FLOAT>)
         |TBLPROPERTIES ('key'='_id', 'buckets'='8', 'vector.vec'='dim=64,metric=L2')
         |""".stripMargin)
    // empty table is readable (schema from the synthesized manifest)
    assert(spark.sql(s"SELECT * FROM $tbl").count() === 0L)

    val emb = spark.read.parquet(s"$sf0/embeddings.parquet")
    spark.read.parquet(s"$sf0/part.parquet").createOrReplaceTempView("cat_part")
    emb.createOrReplaceTempView("cat_emb")
    spark.sql(s"""INSERT INTO $tbl (_id, p_size, vec)
                 |SELECT CAST(p_partkey AS STRING), p_size, embedding
                 |FROM cat_part JOIN cat_emb ON p_partkey = vec_id""".stripMargin)
    val n0 = spark.sql(s"SELECT count(*) AS n FROM $tbl").as[Long].head()
    assert(n0 > 0)

    // upsert: same key set again with p_size+1000 — count unchanged,
    // values updated (AddOrUpdateDoc semantics through SQL INSERT)
    spark.sql(s"""INSERT INTO $tbl (_id, p_size, vec)
                 |SELECT CAST(p_partkey AS STRING), p_size + 1000, embedding
                 |FROM cat_part JOIN cat_emb ON p_partkey = vec_id
                 |WHERE p_partkey % 5 = 0""".stripMargin)
    assert(spark.sql(s"SELECT count(*) AS n FROM $tbl").as[Long].head() === n0)
    assert(spark.sql(s"SELECT count(*) AS n FROM $tbl WHERE p_size > 1000")
      .as[Long].head() > 0)

    spark.sql(s"DELETE FROM $tbl WHERE p_size > 1000")
    assert(spark.sql(s"SELECT count(*) AS n FROM $tbl WHERE p_size > 1000")
      .as[Long].head() === 0L)

    // catalog metadata ops
    val ids = spark.sql("SHOW TABLES IN gcat.prod").collect().map(_.getString(1))
    assert(ids.contains(tbl.split('.').last))
    spark.sql(s"DROP TABLE $tbl")
    assert(!spark.catalog.tableExists(tbl))
  }

  test("catalog-created table interops with the Scala handle") {
    val tbl = freshName("interop")
    spark.sql(
      s"""CREATE TABLE gcat.$tbl (_id STRING, v DOUBLE)
         |TBLPROPERTIES ('key'='_id', 'buckets'='4')""".stripMargin)
    spark.sql(s"INSERT INTO gcat.$tbl VALUES ('a', 1.0, NULL), ('b', 2.0, NULL)")
    val t = GammaTable.load(spark, s"$wh/$tbl")
    assert(t.meta.keyField === "_id" && t.meta.nBuckets === 4)
    assert(t.docs.count() === 2)
    t.addOrUpdate(Seq(("a", 9.0)).toDF("_id", "v")) // Scala upsert visible in SQL
    assert(spark.sql(s"SELECT v FROM gcat.$tbl WHERE _id='a'").as[Double].head() === 9.0)
  }

  test("INT8-declared vector field: DDL create, SQL insert, decoded float read") {
    val tbl = freshName("i8")
    spark.sql(
      s"""CREATE TABLE gcat.$tbl (_id STRING, vec ARRAY<FLOAT>)
         |TBLPROPERTIES ('key'='_id', 'vector.vec'='dim=4,store=INT8')""".stripMargin)
    spark.sql(s"INSERT INTO gcat.$tbl (_id, vec) VALUES " +
      "('x', array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT), CAST(3.0 AS FLOAT), CAST(0.5 AS FLOAT)))")
    val got = spark.sql(s"SELECT vec FROM gcat.$tbl WHERE _id='x'")
      .as[Array[Float]].head()
    assert(got.length === 4)
    // INT8 quantization round-trips within scale/127
    assert(math.abs(got(2) - 3.0f) < 3.0 / 127 + 1e-6)
    // at rest it is the encoded struct, not floats (4x smaller)
    val atRest = spark.read.parquet(s"$wh/$tbl/data/b*/v*")
    assert(atRest.schema("vec").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
  }

  test("VERSION AS OF reads the retained snapshot; snapshot writes refused") {
    val tbl = freshName("tt")
    spark.sql(s"""CREATE TABLE gcat.$tbl (_id STRING, v INT)
                 |TBLPROPERTIES ('key'='_id', 'buckets'='2')""".stripMargin)
    spark.sql(s"INSERT INTO gcat.$tbl VALUES ('a', 1, NULL), ('b', 2, NULL)") // v1
    spark.sql(s"INSERT INTO gcat.$tbl VALUES ('a', 10, NULL), ('c', 3, NULL)") // v2
    spark.sql(s"DELETE FROM gcat.$tbl WHERE _id = 'b'") // v3

    def state(q: String): Set[(String, Int)] =
      spark.sql(q).as[(String, Int)].collect().toSet

    assert(state(s"SELECT _id, v FROM gcat.$tbl") === Set(("a", 10), ("c", 3)))
    assert(state(s"SELECT _id, v FROM gcat.$tbl VERSION AS OF 1") ===
      Set(("a", 1), ("b", 2)))
    assert(state(s"SELECT _id, v FROM gcat.$tbl VERSION AS OF 2") ===
      Set(("a", 10), ("b", 2), ("c", 3)))
    // v0 = the empty created table
    assert(spark.sql(s"SELECT * FROM gcat.$tbl VERSION AS OF 0").count() === 0L)

    // reader option takes the same path without the catalog
    val viaOpt = spark.read.format("gamma").option("versionAsOf", "1")
      .load(s"$wh/$tbl").select("_id", "v").as[(String, Int)].collect().toSet
    assert(viaOpt === Set(("a", 1), ("b", 2)))

    // the CURRENT version stays servable even if its history copy is gone
    // (the crash window between the manifest swap and the history write)
    val fs = new org.apache.hadoop.fs.Path(s"$wh/$tbl/meta/v3.json")
    fs.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(fs, false)
    assert(state(s"SELECT _id, v FROM gcat.$tbl VERSION AS OF 3") ===
      Set(("a", 10), ("c", 3)))

    // a never-committed version fails with the history message
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM gcat.$tbl VERSION AS OF 99").collect())
    assert(String.valueOf(e.getMessage).contains("no snapshot") ||
      e.getCause != null && String.valueOf(e.getCause.getMessage).contains("no snapshot"))

    // snapshots are read-only
    val w = intercept[Exception](spark.read.format("gamma")
      .option("versionAsOf", "1").load(s"$wh/$tbl")
      .limit(1).write.format("gamma").mode("append")
      .option("versionAsOf", "1").save(s"$wh/$tbl"))
    assert(String.valueOf(w.getMessage).contains("snapshot") ||
      w.getCause != null && String.valueOf(w.getCause.getMessage).contains("snapshot"))
  }

  test("TIMESTAMP AS OF maps through manifest commit stamps; history() lists commits") {
    val tbl = freshName("ts")
    spark.sql(s"""CREATE TABLE gcat.$tbl (_id STRING, v INT)
                 |TBLPROPERTIES ('key'='_id', 'buckets'='2')""".stripMargin)
    spark.sql(s"INSERT INTO gcat.$tbl VALUES ('a', 1, NULL)") // v1
    Thread.sleep(250) // commit stamps are ms-precise; margin for clock ties
    val cut = java.sql.Timestamp.from(java.time.Instant.now())
    Thread.sleep(250)
    spark.sql(s"INSERT INTO gcat.$tbl VALUES ('a', 2, NULL)") // v2
    val got = spark.sql(
      s"SELECT v FROM gcat.$tbl TIMESTAMP AS OF '$cut'").as[Int].head()
    assert(got === 1)

    // DESCRIBE-HISTORY analog: newest first, stamped, docid monotone
    val h = GammaTable.history(spark, s"$wh/$tbl")
      .as[(Long, Option[Long], Long, Long, String)].collect()
    assert(h.map(_._1).toSeq === Seq(2L, 1L, 0L))
    assert(h.forall(_._2.isDefined)) // every commit carries its stamp
    assert(h.map(_._3).toSeq === Seq(1L, 1L, 0L)) // maxDocid over time
  }

  test("snapshot reads keep manifest bucket pruning; timestampAsOf reader option") {
    val tbl = freshName("snapprune")
    spark.sql(s"""CREATE TABLE gcat.$tbl (_id STRING, v INT)
                 |TBLPROPERTIES ('key'='_id', 'buckets'='8')""".stripMargin)
    spark.range(100).selectExpr("CAST(id AS STRING) AS _id", "CAST(id AS INT) AS v",
      "CAST(NULL AS BIGINT) AS _docid").createOrReplaceTempView("snap_src")
    spark.sql(s"INSERT INTO gcat.$tbl SELECT * FROM snap_src") // v1
    val cutMs = System.currentTimeMillis()
    Thread.sleep(250)
    spark.sql(s"INSERT INTO gcat.$tbl VALUES ('42', 999, NULL)") // v2
    val root = s"$wh/$tbl"

    // the snapshot manifest carries the same per-bucket stats + key-hash
    // routing, so a point lookup on the OLD version still reads 1/8 buckets
    val snap = spark.read.format("gamma").option("versionAsOf", "1").load(root)
      .filter($"_id" === "42").select("_id", "v")
    val plan = snap.queryExecution.executedPlan.toString
    assert(plan.contains("buckets=1/8"), plan)
    assert(snap.as[(String, Int)].head() === ("42", 42)) // pre-upsert value

    // timestampAsOf (epoch ms) resolves through the same commit clock as
    // the catalog's TIMESTAMP AS OF
    val byTs = spark.read.format("gamma")
      .option("timestampAsOf", cutMs.toString).load(root)
      .filter($"_id" === "42").select("v").as[Int].head()
    assert(byTs === 42)
    intercept[IllegalArgumentException](spark.read.format("gamma")
      .option("versionAsOf", "1").option("timestampAsOf", cutMs.toString)
      .load(root).collect())
  }

  test("vacuum retires snapshots but never the current version") {
    val tbl = freshName("vac")
    spark.sql(s"""CREATE TABLE gcat.$tbl (_id STRING, v INT)
                 |TBLPROPERTIES ('key'='_id', 'buckets'='2')""".stripMargin)
    spark.sql(s"INSERT INTO gcat.$tbl VALUES ('a', 1, NULL)") // v1
    spark.sql(s"INSERT INTO gcat.$tbl VALUES ('a', 2, NULL)") // v2 rewrites a's bucket
    val t = GammaTable.load(spark, s"$wh/$tbl")
    assert(t.vacuum() > 0) // v1's superseded bucket dir goes
    // current read unaffected; the v1 SNAPSHOT now (correctly) fails on
    // missing files rather than silently serving partial data
    assert(spark.sql(s"SELECT v FROM gcat.$tbl").as[Int].head() === 2)
    intercept[Exception](spark.sql(
      s"SELECT * FROM gcat.$tbl VERSION AS OF 1").collect())
  }

  test("ANN top-k rewrite engages on a catalog table (no view, no Scala read)") {
    val tbl = freshName("ann")
    spark.sql(
      s"""CREATE TABLE gcat.$tbl (_id STRING, vec ARRAY<FLOAT>)
         |TBLPROPERTIES ('key'='_id', 'buckets'='4', 'vector.vec'='dim=64')""".stripMargin)
    spark.read.parquet(s"$sf0/embeddings.parquet")
      .createOrReplaceTempView("cat_ann_emb")
    spark.sql(s"""INSERT INTO gcat.$tbl (_id, vec)
                 |SELECT CAST(vec_id AS STRING), embedding FROM cat_ann_emb""".stripMargin)
    val root = s"$wh/$tbl"
    val t = GammaTable.load(spark, root)
    val idx = t.buildIndex("vec", graft.index.IndexParams(ncentroids = 4))
    graft.plans.AnnRewrite.install(spark)
    graft.plans.IndexCatalog.register(root,
      graft.plans.RegisteredIndex(idx.currentIndex.get, t.docs, "_id", "vec"))
    val qvec = spark.read.parquet(s"$sf0/embeddings.parquet")
      .filter($"vec_id" === 0).select("embedding").as[Array[Float]].head()
    val qLit = s"array(${qvec.map(v => s"CAST($v AS FLOAT)").mkString(",")})"
    try {
      spark.conf.set("spark.graft.ann.rewrite", "true")
      val df = spark.sql(
        s"SELECT _id, l2_sq(vec, $qLit) AS score FROM gcat.$tbl ORDER BY score LIMIT 5")
      assert(answeredByIndex(df),
        "ANN rewrite did not engage on the catalog-resolved gamma relation")
      val got = df.collect().map(_.getString(0)).toSeq
      spark.conf.set("spark.graft.ann.rewrite", "false")
      val exact = spark.sql(
        s"SELECT _id, l2_sq(vec, $qLit) AS score FROM gcat.$tbl ORDER BY score, _id LIMIT 5")
        .collect().map(_.getString(0)).toSeq
      assert(got === exact) // full probe at ncentroids=4 -> exact
    } finally {
      spark.conf.set("spark.graft.ann.rewrite", "false")
      graft.plans.IndexCatalog.unregister(root)
    }
  }

  test("rewrite auto-resolves a PERSISTED index — zero Scala registration") {
    val tbl = freshName("autoix")
    spark.sql(
      s"""CREATE TABLE gcat.$tbl (_id STRING, vec ARRAY<FLOAT>)
         |TBLPROPERTIES ('key'='_id', 'buckets'='4', 'vector.vec'='dim=64')""".stripMargin)
    spark.read.parquet(s"$sf0/embeddings.parquet")
      .createOrReplaceTempView("auto_ix_emb")
    spark.sql(s"""INSERT INTO gcat.$tbl (_id, vec)
                 |SELECT CAST(vec_id AS STRING), embedding FROM auto_ix_emb""".stripMargin)
    // the ONE Scala step a SQL-only deployment pays: BuildIndex, persisted
    // (the reference's offline index build); serving needs no handle at all
    GammaTable.load(spark, s"$wh/$tbl")
      .buildIndex("vec", graft.index.IndexParams(ncentroids = 4), persist = true)
    graft.plans.AnnRewrite.install(spark)
    graft.plans.IndexCatalog.clear() // NOTHING registered — resolve() must load from disk
    val qvec = spark.read.parquet(s"$sf0/embeddings.parquet")
      .filter($"vec_id" === 0).select("embedding").as[Array[Float]].head()
    val qLit = s"array(${qvec.map(v => s"CAST($v AS FLOAT)").mkString(",")})"
    try {
      spark.conf.set("spark.graft.ann.rewrite", "true")
      val df = spark.sql(
        s"SELECT _id, l2_sq(vec, $qLit) AS score FROM gcat.$tbl ORDER BY score LIMIT 5")
      assert(answeredByIndex(df),
        "rewrite did not auto-resolve the persisted index from disk")
      val got = df.collect().map(_.getString(0)).toSeq
      spark.conf.set("spark.graft.ann.rewrite", "false")
      val exact = spark.sql(
        s"SELECT _id, l2_sq(vec, $qLit) AS score FROM gcat.$tbl ORDER BY score, _id LIMIT 5")
        .collect().map(_.getString(0)).toSeq
      assert(got === exact) // full probe at ncentroids=4 -> exact
    } finally {
      spark.conf.set("spark.graft.ann.rewrite", "false")
      graft.plans.IndexCatalog.clear()
    }
  }

  test("auto-resolved index entries revalidate on table version: SQL UPDATE is visible") {
    val tbl = freshName("stale")
    spark.sql(
      s"""CREATE TABLE gcat.$tbl (_id STRING, p_size INT, vec ARRAY<FLOAT>)
         |TBLPROPERTIES ('key'='_id', 'buckets'='4', 'vector.vec'='dim=64')""".stripMargin)
    spark.read.parquet(s"$sf0/embeddings.parquet")
      .createOrReplaceTempView("stale_ix_emb")
    spark.sql(s"""INSERT INTO gcat.$tbl (_id, p_size, vec)
                 |SELECT CAST(vec_id AS STRING), 1, embedding FROM stale_ix_emb""".stripMargin)
    GammaTable.load(spark, s"$wh/$tbl")
      .buildIndex("vec", graft.index.IndexParams(ncentroids = 4), persist = true)
    graft.plans.AnnRewrite.install(spark)
    graft.plans.IndexCatalog.clear()
    val qvec = spark.read.parquet(s"$sf0/embeddings.parquet")
      .filter($"vec_id" === 0).select("embedding").as[Array[Float]].head()
    val qLit = s"array(${qvec.map(v => s"CAST($v AS FLOAT)").mkString(",")})"
    val q = s"SELECT _id, p_size, l2_sq(vec, $qLit) AS score FROM gcat.$tbl " +
      "ORDER BY score LIMIT 3"
    try {
      spark.conf.set("spark.graft.ann.rewrite", "true")
      // first query populates the lazy cache (docs pinned at this version)
      val before = spark.sql(q).collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(before.values.forall(_ === 1))
      // a commit through pure SQL moves the table version; the cached
      // entry must be dropped and reloaded, not serve the old p_size
      spark.sql(s"UPDATE gcat.$tbl SET p_size = 2")
      val after = spark.sql(q).collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(after.keySet === before.keySet)
      assert(after.values.forall(_ === 2),
        s"rewrite served stale docs after a SQL commit: $after")
      // DROP + re-CREATE under the same name: the catalog unregisters the
      // root, so the rewrite declines (no index) instead of serving the
      // dropped table's rows
      spark.sql(s"DROP TABLE gcat.$tbl")
      spark.sql(s"CREATE TABLE gcat.$tbl (_id STRING, p_size INT, vec ARRAY<FLOAT>) " +
        "TBLPROPERTIES ('key'='_id', 'buckets'='4', 'vector.vec'='dim=64')")
      val df = spark.sql(q)
      assert(!answeredByIndex(df))
      assert(df.collect().isEmpty)
    } finally {
      spark.conf.set("spark.graft.ann.rewrite", "false")
      graft.plans.IndexCatalog.clear()
    }
  }

  test("CALL procedures: history, compact, vacuum drive maintenance from SQL") {
    val tbl = freshName("proc")
    spark.sql(s"CREATE TABLE gcat.$tbl (_id STRING, v INT) " +
      "TBLPROPERTIES ('key'='_id', 'buckets'='2')")           // v0
    Seq(("a", 1), ("b", 2), ("c", 3)).toDF("_id", "v")
      .createOrReplaceTempView("proc_src")
    spark.sql(s"INSERT INTO gcat.$tbl (_id, v) SELECT _id, v FROM proc_src") // v1
    spark.sql(s"INSERT INTO gcat.$tbl (_id, v) SELECT _id, v + 10 FROM proc_src " +
      "WHERE _id = 'a'")                                                // v2
    spark.sql(s"DELETE FROM gcat.$tbl WHERE _id = 'b'")                 // v3
    // history through CALL matches the Scala surface
    val hist = spark.sql(s"CALL gcat.system.history('$tbl')")
      .select("version", "max_docid", "index_status").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val scalaHist = GammaTable.history(spark, s"$wh/$tbl")
      .select("version", "max_docid", "index_status").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(hist === scalaHist && hist.map(_._1) === Seq(3L, 2L, 1L, 0L))
    // compact purges the tombstone; live state unchanged               // v4
    val compacted = spark.sql(s"CALL gcat.system.compact('$tbl')")
      .collect().head.getInt(0)
    assert(compacted > 0)
    assert(spark.sql(s"SELECT _id, v FROM gcat.$tbl ORDER BY _id")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq ===
      Seq(("a", 11), ("c", 3)))
    // vacuum with a retention window (named argument), then full
    val kept = spark.sql(s"CALL gcat.system.vacuum('$tbl', retain => 1)")
      .collect().head.getInt(0)
    assert(kept >= 0)
    assert(spark.sql(s"CALL gcat.system.vacuum('$tbl')")
      .collect().head.getInt(0) >= 0)
    // current state still serves after GC
    assert(spark.sql(s"SELECT count(*) AS n FROM gcat.$tbl").as[Long].head() === 2L)
    val e = intercept[Exception](spark.sql(s"CALL gcat.system.nosuch('$tbl')"))
    // Spark wraps the catalog's "unknown procedure" as FAILED_TO_LOAD_ROUTINE
    assert(e.getMessage.contains("nosuch"))
  }

  test("CALL system.build_index: full SQL-only lifecycle, zero Scala handles") {
    // create -> insert -> build_index -> ANN top-k -> update -> vacuum,
    // every verb SQL — the reference's BuildIndex (c_api/gamma_api.h:131,
    // gamma_engine.cc:996-1010) was the last Scala-only step
    val tbl = freshName("sqlix")
    spark.sql(
      s"""CREATE TABLE gcat.$tbl (_id STRING, vec ARRAY<FLOAT>)
         |TBLPROPERTIES ('key'='_id', 'buckets'='4', 'vector.vec'='dim=64')""".stripMargin)
    spark.read.parquet(s"$sf0/embeddings.parquet")
      .createOrReplaceTempView("sqlix_emb")
    spark.sql(s"""INSERT INTO gcat.$tbl (_id, vec)
                 |SELECT CAST(vec_id AS STRING), embedding FROM sqlix_emb""".stripMargin)
    graft.plans.AnnRewrite.install(spark)
    graft.plans.IndexCatalog.clear()
    val built = spark.sql(
      s"CALL gcat.system.build_index('$tbl', 'vec', ncentroids => 4)")
      .collect().head
    assert(built.getString(0) === "vec" && built.getString(1) === "IVFFLAT")
    assert(built.getLong(2) >= 1L) // built through the insert's version
    val qvec = spark.read.parquet(s"$sf0/embeddings.parquet")
      .filter($"vec_id" === 0).select("embedding").as[Array[Float]].head()
    val qLit = s"array(${qvec.map(v => s"CAST($v AS FLOAT)").mkString(",")})"
    try {
      spark.conf.set("spark.graft.ann.rewrite", "true")
      val df = spark.sql(
        s"SELECT _id, l2_sq(vec, $qLit) AS score FROM gcat.$tbl ORDER BY score LIMIT 5")
      assert(answeredByIndex(df),
        "top-k after CALL build_index did not route through the index")
      val got = df.collect().map(_.getString(0)).toSeq
      spark.conf.set("spark.graft.ann.rewrite", "false")
      val exact = spark.sql(
        s"SELECT _id, l2_sq(vec, $qLit) AS score FROM gcat.$tbl ORDER BY score, _id LIMIT 5")
        .collect().map(_.getString(0)).toSeq
      assert(got === exact) // full probe at ncentroids=4 -> exact
      // an IVFPQ build over the same field lands in its own @-suffixed dir
      val pq = spark.sql(s"CALL gcat.system.build_index('$tbl', 'vec', " +
        "retrieval_type => 'IVFPQ', ncentroids => 4, nsubvector => 8)")
        .collect().head
      assert(pq.getString(3).endsWith("vec@IVFPQ"))
      // maintenance still drives from SQL after the builds
      assert(spark.sql(s"CALL gcat.system.vacuum('$tbl')")
        .collect().head.getInt(0) >= 0)
      assert(spark.sql(s"SELECT count(*) FROM gcat.$tbl").as[Long].head() > 0L)
    } finally {
      spark.conf.set("spark.graft.ann.rewrite", "false")
      graft.plans.IndexCatalog.clear()
    }
  }

  test("identifier segments refuse URI-special characters (path collision guard)") {
    for (bad <- Seq("a#b", "a?b", "a%2eb", "a:b", "a/b")) {
      val e = intercept[Exception](spark.sql(
        s"CREATE TABLE gcat.`$bad` (_id STRING)"))
      assert(e.getMessage.contains("illegal name segment"), s"'$bad': ${e.getMessage}")
    }
  }

  test("unknown TBLPROPERTIES fail instead of silently defaulting") {
    val tbl = freshName("typo")
    val e = intercept[Exception](spark.sql(
      s"CREATE TABLE gcat.$tbl (_id STRING) TBLPROPERTIES ('bucket'='4')"))
    assert(e.getMessage.contains("unknown table property 'bucket'"))
    val e2 = intercept[Exception](spark.sql(
      s"CREATE TABLE gcat.$tbl (_id STRING, vec ARRAY<FLOAT>) " +
        "TBLPROPERTIES ('Vector.vec'='dim=64')"))
    assert(e2.getMessage.contains("unknown table property 'Vector.vec'"))
  }

  test("DDL guardrails: bad vector prop, missing key, PARTITIONED BY, duplicate create") {
    val tbl = freshName("guard")
    intercept[Exception](spark.sql(
      s"CREATE TABLE gcat.$tbl (_id STRING, vec ARRAY<FLOAT>) " +
        "TBLPROPERTIES ('vector.vec'='metric=L2')")) // dim missing
    intercept[Exception](spark.sql(
      s"CREATE TABLE gcat.$tbl (a STRING) TBLPROPERTIES ('buckets'='4')")) // no _id/key
    intercept[Exception](spark.sql(
      s"CREATE TABLE gcat.$tbl (_id STRING, d INT) PARTITIONED BY (d)"))
    spark.sql(s"CREATE TABLE gcat.$tbl (_id STRING)")
    intercept[Exception](spark.sql(s"CREATE TABLE gcat.$tbl (_id STRING)"))
    spark.sql(s"CREATE TABLE IF NOT EXISTS gcat.$tbl (_id STRING)") // no-op, no throw
    spark.sql(s"DROP TABLE gcat.$tbl")
  }
}
