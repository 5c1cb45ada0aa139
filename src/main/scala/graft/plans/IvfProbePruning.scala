package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Ascending, Attribute, Expression, In, LessThan, LessThanOrEqual, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType}
import graft.functions.FloatVecL2Sq
import graft.sources.Parquet

/** Access-path selection for kNN (SURVEY.md §4: the one "genuinely engine-y"
  * custom piece): a `Rule[LogicalPlan]` that recognizes the brute-force kNN
  * shape
  *
  *   Sort(d2 ASC) over Project(..., d2 = vec_l2sq(embedding, <literal qvec>))
  *   over a parquet relation partitioned by `cell` with a `centroids` sidecar
  *
  * — i.e. the user wrote a full-corpus distance sort against an
  * `IvfIndex`-built layout — and injects the IVF probe: it ranks the (tiny,
  * driver-loaded) centroid sidecar against the query literal and inserts
  * `Filter(cell IN <nProbe nearest cells>)` directly above the relation.
  * FileSourceStrategy turns that filter into partition pruning, so the scan
  * touches nProbe/nCells of the corpus — the user keeps the declarative
  * `orderBy(dist).limit(k)` form and the optimizer picks the index access
  * path, exactly like a planner choosing an index scan over a table scan.
  *
  * This trades exactness for the IVF recall contract, so it is OPT-IN:
  * enabled only while `spark.graft.ivf.autoProbe=true` (the `GraftExtensions`
  * registration leaves it off by default). `spark.graft.ivf.nProbe` controls
  * probe width. The rule is idempotent — after the rewrite the relation is no
  * longer a direct child of the Project, so the pattern can't re-fire.
  */
object IvfProbePruning extends Rule[LogicalPlan] {

  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Long, Array[Float])]]()

  private def enabled: Boolean =
    conf.getConfString("spark.graft.ivf.autoProbe", "false").toBoolean
  private def nProbe: Int =
    conf.getConfString("spark.graft.ivf.nProbe", "2").toInt

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformDown {
      case s: Sort if s.global => rewrite(s).getOrElse(s)
    }

  private def rewrite(s: Sort): Option[Sort] = s match {
    case Sort(SortOrder(attr: Attribute, Ascending, _, _) +: _, _, p: Project, _) =>
      p.child match {
        case rel: LogicalRelation =>
          for {
            fsRel <- Some(rel.relation).collect { case h: HadoopFsRelation => h }
            if fsRel.partitionSchema.fieldNames.contains("cell")
            qvec <- queryVector(p.projectList, attr)
            cellAttr <- rel.output.find(_.name == "cell")
            probes <- probeCells(fsRel, qvec)
          } yield {
            val cells = probes.map { c =>
              cellAttr.dataType match {
                case IntegerType => Literal(c.toInt)
                case LongType => Literal(c)
                case dt => Literal.create(c.toString, dt)
              }
            }
            logInfo(s"graft IVF auto-probe: pruning to cells ${probes.mkString(",")}")
            s.copy(child = p.copy(child = Filter(In(cellAttr, cells.toSeq), rel)))
          }
        case _ => None
      }
    case _ => None
  }

  /** The sort attribute must resolve to `vec_l2sq(<column>, <array literal>)`
    * in the project list; the literal is the query vector.
    */
  private def queryVector(projectList: Seq[Expression], attr: Attribute): Option[Array[Float]] =
    projectList.collectFirst {
      case a @ Alias(FloatVecL2Sq(_, Literal(arr: ArrayData, ArrayType(FloatType, _))), _)
          if a.exprId == attr.exprId =>
        arr.toFloatArray
      case a @ Alias(FloatVecL2Sq(Literal(arr: ArrayData, ArrayType(FloatType, _)), _), _)
          if a.exprId == attr.exprId =>
        arr.toFloatArray
    }

  private[plans] def cellLiteral(cellAttr: Attribute, c: Long): Literal =
    cellAttr.dataType match {
      case IntegerType => Literal(c.toInt)
      case LongType => Literal(c)
      case dt => Literal.create(c.toString, dt)
    }

  /** Rank the centroid sidecar (driver-side, a few KB) and return the nProbe
    * nearest cell ids, ties by cid — the same contract as `IvfIndex.search`.
    *
    * The cache key includes a version fingerprint of the sidecar directory
    * (file names + mtimes + lengths), so rebuilding an index at the same
    * path invalidates the cached centroids: `IvfIndex.build` overwrites the
    * sidecar, the listing changes, and the next plan re-reads. Cost is one
    * directory listing per planned query — no data read on a cache hit.
    */
  private def probeCells(fsRel: HadoopFsRelation, q: Array[Float]): Option[Array[Long]] =
    loadCentroids(fsRel).map(cents =>
      cents.map { case (cid, c) => (l2sq(c, q), cid) }.sorted.take(nProbe).map(_._2))

  private[plans] def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  private[plans] def loadCentroids(fsRel: HadoopFsRelation): Option[Array[(Long, Array[Float])]] =
    loadSidecar(fsRel, "centroids", centroidCache,
      r => (r.getLong(0), r.getSeq[Float](1).toArray))

  private[plans] val radiiCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Long, Double)]]()

  private[plans] def loadRadii(fsRel: HadoopFsRelation): Option[Array[(Long, Double)]] =
    loadSidecar(fsRel, "radii", radiiCache,
      r => (r.getAs[Long]("cid"), r.getAs[Double]("radius")))

  /** Version-fingerprinted sidecar load: the cache key carries the sidecar
    * directory's listing (names + mtimes + lengths), so an in-place index
    * rebuild invalidates; cost on a hit is one directory listing.
    */
  private def loadSidecar[T: scala.reflect.ClassTag](fsRel: HadoopFsRelation, name: String,
      cache: java.util.concurrent.ConcurrentHashMap[String, Array[T]],
      decode: org.apache.spark.sql.Row => T): Option[Array[T]] = {
    val vectorsPath = fsRel.location.rootPaths.headOption.getOrElse(return None)
    val sidecarPath = new org.apache.hadoop.fs.Path(vectorsPath.getParent, name)
    val fs = sidecarPath.getFileSystem(fsRel.sparkSession.sessionState.newHadoopConf())
    if (!fs.exists(sidecarPath)) return None
    val version = fs.listStatus(sidecarPath)
      .map(st => s"${st.getPath.getName}:${st.getModificationTime}:${st.getLen}")
      .sorted.mkString(",")
    val key = s"$sidecarPath@$version"
    // Evict superseded versions of this path so rebuilds don't accumulate.
    cache.keySet.removeIf(k => k.startsWith(s"$sidecarPath@") && k != key)
    Some(cache.computeIfAbsent(key, _ =>
      Parquet.read(SparkSession.active, sidecarPath.toString).collect().map(decode)))
  }
}

/** Access-path selection for RANGE queries — the exact sibling of the kNN
  * probe rule: a declarative radius filter
  *
  *   Filter(vec_l2sq(embedding, <literal qvec>) <= <literal r²>)
  *   over a parquet relation partitioned by `cell` with `centroids` AND
  *   `radii` sidecars (IvfIndex.build writes both)
  *
  * gains a `cell IN (qualifying)` conjunct, where a cell qualifies iff
  * d(q, centroid) − covering_radius ≤ r (triangle inequality). Unlike the
  * kNN probe this rewrite is EXACT — the bound only discards cells that
  * provably contain no hit — but it stays opt-in behind
  * `spark.graft.ivf.autoRange` for symmetry (and because it adds planning
  * I/O: two sidecar listings per matched query). The original distance
  * predicate is kept, so rows in scanned cells still verify exactly.
  */
object IvfRangePruning extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    conf.getConfString("spark.graft.ivf.autoRange", "false").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformDown {
      case f @ Filter(cond, rel: LogicalRelation) =>
        rewrite(cond, rel, e => e).map(g => f.copy(child = g)).getOrElse(f)
      case f @ Filter(cond, p @ Project(projectList, rel: LogicalRelation)) =>
        rewrite(cond, rel, e => resolveThroughProject(e, projectList))
          .map(g => f.copy(child = p.copy(child = g))).getOrElse(f)
    }

  /** Substitute project-list aliases so `d2 <= r` seen above a Project
    * resolves to the underlying vec_l2sq expression.
    */
  private def resolveThroughProject(e: Expression, projectList: Seq[Expression]): Expression =
    e.transform {
      case attr: Attribute =>
        projectList.collectFirst {
          case a: Alias if a.exprId == attr.exprId => a.child
        }.getOrElse(attr)
    }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def rewrite(cond: Expression, rel: LogicalRelation,
      resolve: Expression => Expression): Option[Filter] = {
    val fsRel = rel.relation match {
      case h: HadoopFsRelation if h.partitionSchema.fieldNames.contains("cell") => h
      case _ => return None
    }
    val cellAttr = rel.output.find(_.name == "cell").getOrElse(return None)
    // Already rewritten? (idempotency guard for the direct-filter shape)
    if (splitConjuncts(cond).exists { case In(a: Attribute, _) => a.name == "cell"; case _ => false })
      return None
    val bound = splitConjuncts(cond).map(resolve).collectFirst {
      case LessThanOrEqual(FloatVecL2Sq(_, Literal(arr: ArrayData, ArrayType(FloatType, _))),
          Literal(r2, DoubleType)) => (arr.toFloatArray, r2.asInstanceOf[Double])
      case LessThan(FloatVecL2Sq(_, Literal(arr: ArrayData, ArrayType(FloatType, _))),
          Literal(r2, DoubleType)) => (arr.toFloatArray, r2.asInstanceOf[Double])
    }
    bound.flatMap { case (q, r2) =>
      if (r2 < 0) return None
      val r = math.sqrt(r2)
      for {
        cents <- IvfProbePruning.loadCentroids(fsRel)
        radii <- IvfProbePruning.loadRadii(fsRel)
      } yield {
        val radiusOf = radii.toMap
        val qualifying = cents.collect {
          case (cid, c)
              if math.sqrt(IvfProbePruning.l2sq(c, q)) -
                radiusOf.getOrElse(cid, Double.MaxValue) <= r => cid
        }
        logInfo(s"graft IVF auto-range: pruning to cells ${qualifying.mkString(",")}")
        Filter(In(cellAttr,
          qualifying.toSeq.map(IvfProbePruning.cellLiteral(cellAttr, _))), rel)
      }
    }
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` registration — also
  * usable programmatically via `SparkSession.builder.withExtensions(new
  * GraftExtensions()(_))`. Injects the IVF access-path rule (inert until
  * `spark.graft.ivf.autoProbe=true`) AND the native vector functions
  * (`vec_dot`, `vec_l2sq`, `feature_hash_embed` — the same builders as
  * `GraftFunctions.register`), so a SQL-first user can write the
  * `ORDER BY vec_l2sq(...) LIMIT k` shape the rule matches without any
  * programmatic setup.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => IvfProbePruning)
    ext.injectOptimizerRule(_ => IvfRangePruning)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  import graft.functions.{FloatVecDot, FloatVecL2Sq}

  /** FunctionDescriptions mirroring `GraftFunctions.register` — one source
    * of truth for the builders, injectable at session build for clusters.
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
      (es: Seq[Expression]) => FloatVecDot(es(0), es(1))),
    (FunctionIdentifier("vec_l2sq"),
      new ExpressionInfo(classOf[FloatVecL2Sq].getName, "vec_l2sq"),
      (es: Seq[Expression]) => FloatVecL2Sq(es(0), es(1))),
    (FunctionIdentifier("feature_hash_embed"),
      new ExpressionInfo(classOf[graft.vector.FeatureHashEmbed].getName, "feature_hash_embed"),
      (es: Seq[Expression]) => graft.vector.FeatureHashEmbed(es(0),
        es(1).eval().asInstanceOf[Int])))
}
