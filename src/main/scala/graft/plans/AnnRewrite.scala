package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.core.Metric
import graft.functions.{CosineSimilarity, InnerProduct, L2SqDistance}
import graft.index.AnnIndex
import graft.streaming.IncrementalIndexer

/** Catalyst rewrite of exact-KNN plans into the ANN index path — the
  * optimizer half of the reference's planner behavior where an available
  * trained index serves the query and brute force is only the fallback
  * (reference search/gamma_engine.cc:327-340, V9).
  *
  * `ORDER BY l2_sq(vec, <literal qvec>) LIMIT k` (or `inner_product`/
  * `cosine_sim` with DESC) over a parquet relation registered in
  * [[IndexCatalog]] is rewritten into the registered index's probe-pruned
  * search (IVFPQ's runs while the rule applies; its hits replace the plan
  * as a local relation). Opt-in by `SET spark.graft.ann.rewrite=true` as the
  * rewrite trades exactness for probe-pruned latency when nprobe <
  * ncentroids — exactly the trade the reference makes the moment an index
  * reaches INDEXED state.
  */
case class RegisteredIndex(
    index: AnnIndex,
    docs: DataFrame, // join-back source for projected columns
    idCol: String,
    vecCol: String)

/** Path-keyed registry mirroring the reference's `(name, retrieval_type)`
  * index registry (vector/vector_manager.cc:447-459): the relation's root
  * path identifies the table, the entry carries the serving index.
  */
object IndexCatalog {
  private val byPath = TrieMap.empty[String, RegisteredIndex]
  // memoized lazy loads (positive AND negative) with their validation
  // state — see resolve()
  private case class AutoEntry(
      loadedVersion: Option[Long],
      entry: Option[RegisteredIndex],
      checkedAtMs: Long)
  private val autoLoaded = TrieMap.empty[String, AutoEntry]
  // a MISS is re-probed after this long (an index persisted later in the
  // session gets picked up; persisting one does not bump the table
  // version, so version validation alone cannot see it)
  private val NegativeRecheckMs = 30000L

  private def norm(p: String): String = new Path(p).toUri.getPath

  def register(path: String, ri: RegisteredIndex): Unit = byPath.put(norm(path), ri)
  def unregister(path: String): Unit = {
    byPath.remove(norm(path))
    autoLoaded.remove(norm(path))
  }
  /** Drop every entry at or under `prefix` — catalog DROP/RENAME hooks
    * (a re-created table at the same root must not serve the old entry
    * even when its version numbering restarts identically).
    */
  def unregisterUnder(prefix: String): Unit = {
    val p = norm(prefix)
    (byPath.keySet ++ autoLoaded.keySet).foreach { k =>
      if (k == p || k.startsWith(p + "/")) { byPath.remove(k); autoLoaded.remove(k) }
    }
  }
  def clear(): Unit = { byPath.clear(); autoLoaded.clear() }

  def lookup(rootPaths: Seq[Path]): Option[RegisteredIndex] =
    rootPaths.headOption.flatMap(p => byPath.get(norm(p.toString)))

  /** Registered entry, or a LAZY load of a PERSISTED index at a gamma
    * table root: SQL-only sessions never hold a Scala handle, but a table
    * whose index was built with persist=true carries everything a serve
    * path needs on disk (lists + quantizers + manifest — the reference
    * likewise replays dump.done index dirs on Load). A root with SEVERAL
    * persisted fields registers its first DECLARED field's default index —
    * register() remains the override for multi-index routing.
    *
    * Staleness: a cached HIT pins the index AND a docs frame at its
    * load-time bucket versions, so every resolve re-reads the table's
    * persisted version (one small driver-side manifest read) and reloads
    * when a commit moved it — SQL INSERT/DELETE/UPDATE on the served
    * table is picked up on the next query instead of serving stale rows.
    * An IVF index serves every live row of the table's store, rows written
    * since its last build or refresh included, each in the list the
    * index's quantizers assign. A cached MISS is re-probed on a short interval (persisting an index
    * leaves the version untouched). Non-gamma relations stay cheap: two
    * fs.exists on first sight, then a map hit until the recheck interval.
    */
  def resolve(rootPaths: Seq[Path]): Option[RegisteredIndex] =
    lookup(rootPaths).orElse(rootPaths.headOption.flatMap { p =>
      val key = norm(p.toString)
      val now = System.currentTimeMillis()
      autoLoaded.get(key) match {
        case Some(AutoEntry(_, None, at)) if now - at < NegativeRecheckMs =>
          None
        case Some(e @ AutoEntry(lv, some @ Some(_), _)) =>
          if (currentVersion(p) == lv) some
          else refresh(key, p, now)
        case _ => refresh(key, p, now)
      }
    })

  private def currentVersion(p: Path): Option[Long] =
    scala.util.Try(graft.table.GammaTable.persistedVersion(
      org.apache.spark.sql.SparkSession.active, p.toString)).toOption.flatten

  private def refresh(key: String, p: Path, now: Long): Option[RegisteredIndex] = {
    // version read BEFORE the load: a commit racing the load leaves an
    // older tag on a newer snapshot, which only costs one extra reload
    val v = currentVersion(p)
    val e = loadPersisted(p)
    autoLoaded.put(key, AutoEntry(v, e, now))
    e
  }

  private def loadPersisted(p: Path): Option[RegisteredIndex] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = p.toString
    if (!fs.exists(new Path(root, "meta/meta.json")) ||
        !fs.exists(new Path(root, "index"))) return None
    scala.util.Try {
      val t = graft.table.GammaTable.load(spark, root)
      t.meta.vectorFields.iterator
        .flatMap(f => t.attachedIndex(f.name).flatMap(ix =>
          ix.currentIndex.map {
            case ivf: graft.index.IvfIndex => ivf.through(Long.MaxValue)
            case i                         => i
          }.map(i => RegisteredIndex(i, t.docs, t.meta.keyField, f.name))))
        .nextOption()
    }.toOption.flatten
  }
}

case class AnnTopKRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    conf.getConfString("spark.graft.ann.rewrite", "false").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformDown {
      case lim @ Limit(IntegerLiteral(k),
          Sort(Seq(SortOrder(orderExpr, direction, _, _)), true, child, _)) =>
        // plan-shape mismatches return None and degrade silently (the
        // normal non-indexed case); a rewrite that MATCHED but then failed
        // (misregistered index: wrong vecCol, stale path, metric mismatch)
        // is logged before falling back so "the rewrite never engages" is
        // diagnosable instead of swallowed
        try tryRewrite(orderExpr, direction, k, child).getOrElse(lim)
        catch {
          case scala.util.control.NonFatal(e) =>
            logWarning("graft ANN rewrite matched but failed; " +
              "falling back to the exact plan", e)
            lim
        }
    }

  /** (distance expression, required direction) -> metric. */
  private def metricOf(e: Expression, d: SortDirection): Option[Metric.Value] = e match {
    case _: L2SqDistance if d == Ascending      => Some(Metric.L2)
    case _: InnerProduct if d == Descending     => Some(Metric.InnerProduct)
    case _: CosineSimilarity if d == Descending => Some(Metric.Cosine)
    case _                                      => None
  }

  private def queryVector(e: Expression): Option[Array[Float]] =
    if (!e.foldable) None
    else e.eval(null) match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        e.dataType match {
          case org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType, _) =>
            Some(a.toFloatArray())
          case org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType, _) =>
            Some(a.toDoubleArray().map(_.toFloat))
          case _ => None
        }
      case _ => None
    }

  private def relationPaths(p: LogicalPlan): Option[Seq[Path]] = p match {
    case lr: LogicalRelation =>
      lr.relation match {
        case fs: HadoopFsRelation => Some(fs.location.rootPaths)
        // the gamma DSv2 source surfaces through a V1Scan bridge relation
        // whose toString carries `root=<path>` — but the rewrite should
        // engage BEFORE scan building, on the logical relation (below);
        // this arm only covers a late re-optimization pass
        case _ => None
      }
    // SQL over a gamma table (`USING gamma`): the DSv2 logical relation
    // (pre scan-pushdown) or scan relation (post) both carry the table
    // handle, whose root path keys the IndexCatalog — so ORDER BY
    // l2_sq(...) LIMIT k over a pure-SQL gamma view rewrites to the
    // registered ANN index exactly like a registered parquet path does
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      r.table match {
        case g: graft.sources.GammaSqlTable => Some(Seq(new Path(g.root)))
        case _ => None
      }
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
      r.relation.table match {
        case g: graft.sources.GammaSqlTable => Some(Seq(new Path(g.root)))
        case _ => None
      }
    case _ => None
  }

  private def tryRewrite(
      orderExpr: Expression,
      direction: SortDirection,
      k: Int,
      child: LogicalPlan): Option[LogicalPlan] = {
    // peel an optional Project, resolving a sort on a projected alias back
    // to the underlying distance expression
    val (afterProj, projList, resolvedOrder) = child match {
      case Project(pl, inner) =>
        val resolved = orderExpr match {
          case ar: AttributeReference =>
            pl.collectFirst { case a: Alias if a.exprId == ar.exprId => a.child }
              .getOrElse(orderExpr)
          case other => other
        }
        (inner, Some(pl), resolved)
      case other => (other, None, orderExpr)
    }
    // peel an optional scalar Filter: it becomes the allowedIds pushdown
    // into the index scan (X2 — the reference's IsValid callback), which
    // preserves WHERE-before-ORDER BY semantics exactly
    val (scan, filterCond) = afterProj match {
      case Filter(cond, inner) if cond.deterministic => (inner, Some(cond))
      case other                                     => (other, None)
    }
    for {
      paths <- relationPaths(scan)
      ri <- IndexCatalog.resolve(paths)
      metric <- metricOf(resolvedOrder, direction)
      if ri.index.params.metric == metric
      dist = resolvedOrder.asInstanceOf[BinaryExpression]
      vecArg = dist.left
      if vecArg.isInstanceOf[AttributeReference] &&
        vecArg.asInstanceOf[AttributeReference].name == ri.vecCol
      qvec <- queryVector(dist.right)
      plan <- buildReplacement(ri, metric, qvec, k, filterCond, projList,
        resolvedOrder, child)
    } yield plan
  }

  /** The filtered-ANN policy on the SQL surface — same tiers and confs as
    * `IncrementalIndexer.search`: a SELECTIVE filter keeps the ORIGINAL
    * exact plan (partial probing could return fewer than k even though
    * matches exist, and the exact plan is cheap over few survivors —
    * returning None here IS the exact fallback); a moderate one pushes the
    * surviving id set with a broadcast hint and widens the probe budget by
    * inverse selectivity; a weakly selective one pushes unhinted so the
    * semi-join shuffles instead of forcing a near-table-size set through
    * the driver — and for HNSW, whose pushdown materializes the set
    * driver-side, the filter moves AFTER the scan with a widened fetch.
    */
  private def buildReplacement(
      ri: RegisteredIndex,
      metric: Metric.Value,
      qvec: Array[Float],
      k: Int,
      filterCond: Option[Expression],
      projList: Option[Seq[NamedExpression]],
      resolvedOrder: Expression,
      child: LogicalPlan): Option[LogicalPlan] = {
    // re-anchor the peeled filter's attributes onto the registered doc
    // table by name. The filtered scan runs ONCE (localCheckpoint) and
    // serves the count, the pushdown set, and the hnsw post-join — the
    // same one-materialization shape as GammaTable.search; the total is a
    // separate column-pruned count (footer-cheap on parquet).
    val stats = filterCond.map { cond =>
      val unresolved = cond.transform {
        case a: AttributeReference =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(a.name)
      }
      val c = org.apache.spark.sql.graft.Bridge.column(unresolved)
      val flt = ri.docs.filter(c).select(col(ri.idCol)).localCheckpoint(true)
      (flt, ri.docs.count(), flt.count())
    }
    // the filtered-ANN policy of IncrementalIndexer.search: a probe cheaper
    // to answer exactly (using the index's own per-list stats when
    // attached) declines the rewrite
    val exactThreshold = IncrementalIndexer.exactFallbackRows(spark, k,
      stats.map { case (_, total, aCnt) =>
        val sizes = ri.index match {
          case ivf: graft.index.IvfIndex => ivf.listSizes
          case _                         => None
        }
        IncrementalIndexer.probeCostRows(ri.index, math.max(total, 1L), aCnt, None, sizes)
      }.getOrElse(0L))
    val broadcastMax = graft.index.AllowedKeys.broadcastMax(spark)
    if (stats.exists(_._3 <= exactThreshold)) return None
    val hnswHuge = ri.index.retrievalType == "HNSW" && stats.exists(_._3 > broadcastMax)
    val (probe, fetchK) = stats match {
      case Some((_, total, aCnt)) if aCnt > 0 =>
        val base = if (ri.index.retrievalType == "HNSW") ri.index.params.efSearch
                   else ri.index.params.nprobe
        (Some(IncrementalIndexer.widenedProbe(base, total, aCnt)),
          if (hnswHuge) IncrementalIndexer.hnswHugeFetchK(k, total, aCnt) else k)
      case _ => (None, k)
    }
    val allowed = stats.map { case (flt, _, aCnt) =>
      if (aCnt <= broadcastMax) broadcast(flt) else flt
    }
    val push = if (hnswHuge) None else allowed
    val hits0 = ri.index.search(Seq((0L, qvec)), fetchK, probe, allowedIds = push)
      .select(col("id"), col("score"))
    val hits =
      if (hnswHuge)
        hits0.join(
          stats.get._1.select(col(ri.idCol).cast("long").as("id")),
          Seq("id"), "left_semi")
      else hits0
    Some {
      // reproduce the original output columns: id/score straight from the
      // index result, anything else joined back from the doc table (the
      // reference likewise packs scalar fields from the table after the
      // index returns docids, gamma_response.cc:228-261)
      val origOutput = child.output
      val scoreIds: Set[ExprId] = projList
        .map(_.collect {
          case a: Alias if a.child.semanticEquals(resolvedOrder) => a.exprId
        }.toSet)
        .getOrElse(Set.empty)
      val needsJoin = origOutput.exists(o =>
        !scoreIds.contains(o.exprId) && o.name != ri.idCol)
      // broadcast the k HITS and stream the doc table — not the reverse:
      // the doc table is arbitrarily large (broadcasting it OOMs the
      // executors at scale), the hit set is <= k rows
      val base =
        if (needsJoin)
          ri.docs.withColumnRenamed(ri.idCol, "id").join(broadcast(hits), Seq("id"))
        else hits
      val cols = origOutput.map { o =>
        if (scoreIds.contains(o.exprId)) col("score").as(o.name)
        else if (o.name == ri.idCol) col("id").cast(o.dataType).as(o.name)
        else col(o.name)
      }
      val asc = Metric.ascending(metric)
      val ordered = hits.queryExecution.optimizedPlan match {
        // an index that answered on the driver (IVFFLAT, IVFPQ) hands back a local
        // relation: its top k is cut here, in Spark's sort order, so the
        // replacement runs no job
        case lr @ LocalRelation(Seq(id, score), data, _, _) if !needsJoin =>
          val ord = new InterpretedOrdering(
            Seq(SortOrder(score, if (asc) Ascending else Descending), SortOrder(id, Ascending)),
            lr.output)
          org.apache.spark.sql.graft.Bridge.ofRows(spark, lr.copy(data = data.sorted(ord).take(k)))
            .select(cols: _*)
        case _ =>
          base.orderBy((if (asc) col("score").asc else col("score").desc), col("id").asc)
            .limit(k)
            .select(cols: _*)
      }
      // graft the original attribute ids onto the replacement's output so
      // parent operators keep resolving
      ordered.queryExecution.optimizedPlan match {
        case lr: LocalRelation =>
          lr.copy(output = origOutput.zip(lr.output).map { case (o, n) =>
            n.withName(o.name).withExprId(o.exprId)
          })
        case newPlan =>
          Project(
            origOutput.zip(newPlan.output).map { case (o, n) =>
              Alias(n, o.name)(exprId = o.exprId)
            },
            newPlan)
      }
    }
  }
}

/** `SparkSessionExtensions` hook: build sessions with
  * `.withExtensions(new GraftSparkExtensions)` (or the
  * `spark.sql.extensions` conf) to install the rewrite. For an existing
  * session use [[AnnRewrite.install]].
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(sess => AnnTopKRewrite(sess))
    // SQL UPDATE / MERGE INTO / subquery-DELETE over gamma relations —
    // converted during resolution, before Spark's row-level-operation
    // rewrites would reject the table
    ext.injectResolutionRule(sess => GammaDmlRewrite(sess))
  }
}

object AnnRewrite {
  /** Install on an already-built session via experimental methods. */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[AnnTopKRewrite]))
      spark.experimental.extraOptimizations = cur :+ AnnTopKRewrite(spark)
  }
}
