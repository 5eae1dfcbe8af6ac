package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Rollup-serving rewrite — the query side of the reference's rollup mode.
  *
  * IndexR's realtime tables can ingest in grouping/rollup mode (SURVEY.md
  * §2.C; indexr-server/.../rt/RealtimeSetting.java `grouping`,
  * indexr-segment rt RTSGroupMerge): segments store pre-aggregated rows and
  * queries are answered from them. Here the ingest side already writes
  * rollup segments (`streaming.Realtime.rollupBatch`/`mergeRollups`); this
  * optimizer rule closes the loop by rewriting an aggregate over the RAW
  * table onto the much smaller rollup segments whenever the aggregate is
  * derivable — the classic materialized-view rewrite, scoped to the rollup
  * contract:
  *
  *   - grouping expressions and filters may reference only rollup DIMS;
  *   - `SUM(m)` (incl. the engine's exact-decimal `dsum` cast) where the
  *     rollup declared SUM(m) → re-sum of partial sums;
  *   - `MIN(m)` / `MAX(m)` where the rollup declared the same → re-min/max;
  *   - `COUNT(*)` where the rollup declared a COUNT metric over a
  *     never-null column → `coalesce(SUM(cnt), 0)`;
  *   - anything else (DISTINCT, agg FILTER, other functions, measures the
  *     rollup doesn't carry, a substitution that would change a result
  *     type) leaves the plan untouched — correctness first.
  *
  * Exactness: double measures are stored as exact DECIMAL(30,6) partial
  * sums by `rollupBatch`, so the re-sum path is bit-identical to the
  * engine's `dsum` over raw rows at any partitioning. A *plain* double
  * `SUM` would change type under substitution and therefore bails —
  * by design, since its raw result is accumulation-order-dependent anyway.
  *
  * At 100 TB this is the difference between scanning the event log and
  * scanning #dim-combinations rows: the rollup is smaller by the raw/rollup
  * row ratio (often 10³–10⁶×), and every downstream plan property
  * (partial→final aggregation, dim filters pushed to parquet) is preserved
  * because the rewrite emits a plain scan + aggregate.
  *
  * Register per (session, raw table) via [[RollupServing.register]]. The
  * rule is installed by `graft.Graft.session`, or by `GraftExtensions` in a
  * spark-submit deployment.
  */
object RollupServing {
  /** What the rollup segments can answer. `sums`/`mins`/`maxs` name RAW
    * measure columns whose rollup column (same name) holds the partial
    * aggregate; `cnt` names the rollup column holding per-group row counts
    * of a never-null column (COUNT(*) parity). */
  case class Registered(rollupPath: String, dims: Set[String],
      sums: Set[String], mins: Set[String], maxs: Set[String],
      cnt: Option[String])

  // keyed on (session id, raw path): a registration serves only the
  // session that made it, so one session's fixture never answers another's
  // aggregates over the same path
  private val registry =
    scala.collection.concurrent.TrieMap.empty[(String, String), Registered]

  private def key(spark: SparkSession, p: String): (String, String) =
    (Bridge.sessionId(spark), p.stripPrefix("file:").stripSuffix("/"))

  def register(spark: SparkSession, rawPath: String, reg: Registered): Unit =
    registry.put(key(spark, rawPath), reg)

  /** Derive the registration from the ingest-side rollup spec. */
  def registerFromSpec(spark: SparkSession, rawPath: String,
      rollupPath: String, spec: graft.streaming.Realtime.RollupSpec): Unit = {
    import graft.streaming.Realtime._
    register(spark, rawPath, Registered(rollupPath,
      dims = spec.dims.toSet,
      sums = spec.metrics.collect { case (m, Sum) => m }.toSet,
      mins = spec.metrics.collect { case (m, Min) => m }.toSet,
      maxs = spec.metrics.collect { case (m, Max) => m }.toSet,
      cnt = spec.metrics.collectFirst { case (m, Cnt) => m }))
  }

  private[plans] def lookup(spark: SparkSession,
      paths: Seq[String]): Option[Registered] =
    paths match {
      case Seq(p) => registry.get(key(spark, p))
      case _ => None
    }
}

case class RollupServingRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import RollupServing._

  /** Strip attribute-only Projects and dim-only Filters down to a
    * registered raw scan; returns the collected filter conditions. */
  private def strip(plan: LogicalPlan,
      conds: Seq[Expression]): Option[(Registered, Seq[Expression])] =
    plan match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          lookup(spark, fs.location.rootPaths.map(_.toString)).map((_, conds))
        case _ => None
      }
      case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        strip(child, conds)
      case Filter(cond, child) => strip(child, conds :+ cond)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(_, _, child, _) =>
      strip(child, Nil) match {
        case Some((reg, conds)) => rewrite(agg, reg, conds).getOrElse(agg)
        case None => agg
      }
  }

  private def rewrite(agg: Aggregate, reg: Registered,
      conds: Seq[Expression]): Option[LogicalPlan] = {
    // a registration whose rollup dir is gone (a released Memo fixture)
    // serves the raw table instead of failing on the missing path
    val rp = new org.apache.hadoop.fs.Path(reg.rollupPath)
    if (!rp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(rp))
      return None
    // every dim / filter attribute must exist (same name, usable type) in
    // the rollup relation; measures are checked per aggregate below
    val rollupRel = spark.read.parquet(reg.rollupPath)
      .queryExecution.analyzed match {
      case lr: LogicalRelation => lr
      case other => return None
    }
    val byName = rollupRel.output.map(a => a.name -> a).toMap

    def dimsOnly(e: Expression): Boolean =
      e.references.forall(a => reg.dims.contains(a.name) && byName.contains(a.name))

    if (!agg.groupingExpressions.forall(dimsOnly)) return None
    if (!conds.forall(dimsOnly)) return None

    def substAttrs(e: Expression): Option[Expression] = {
      var ok = true
      val out = e.transformUp {
        case a: AttributeReference =>
          byName.get(a.name) match {
            case Some(na) if na.dataType == a.dataType => na
            case _ => ok = false; a
          }
      }
      if (ok) Some(out) else None
    }

    // measure substitution is TYPE-LENIENT (a double measure's rollup
    // column is its exact DECIMAL partial sum); the per-aggregate result
    // type is verified below instead, so a plain double SUM — whose type
    // WOULD change — still bails
    def substMeasure(e: Expression): Option[Expression] = {
      var ok = true
      val out = e.transformUp {
        case a: AttributeReference => byName.get(a.name) match {
          case Some(na) => na
          case None => ok = false; a
        }
      }
      if (ok) Some(out) else None
    }

    // rewrite one aggregate function call, or None to bail out entirely
    def substAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.isDefined) return None
      val rewritten: Option[Expression] = ae.aggregateFunction match {
        case Count(Seq(Literal(_, _))) =>
          reg.cnt.flatMap(byName.get).map { cntAttr =>
            Coalesce(Seq(
              ae.copy(aggregateFunction = Sum(cntAttr)), Literal(0L)))
          }
        case Sum(c, _) if c.references.size == 1 &&
            reg.sums.contains(c.references.head.name) =>
          substMeasure(c).map(nc => ae.copy(aggregateFunction = Sum(nc)))
        case Min(c) if c.references.size == 1 &&
            reg.mins.contains(c.references.head.name) =>
          substMeasure(c).map(nc => ae.copy(aggregateFunction = Min(nc)))
        case Max(c) if c.references.size == 1 &&
            reg.maxs.contains(c.references.head.name) =>
          substMeasure(c).map(nc => ae.copy(aggregateFunction = Max(nc)))
        case _ => None
      }
      rewritten.filter(_.dataType == ae.dataType)
    }

    // substitute inside every output expression, preserving output exprIds
    // (parents reference them); bail if any piece is not derivable or any
    // top-level result type would change. Explicit recursion (NOT
    // transformUp): an aggregate's measure attribute must be handled by
    // the AggregateExpression rule, never by the dim-attribute rule a
    // bottom-up walk would reach first.
    var failed = false
    def rec(e: Expression): Expression = e match {
      case ae: AggregateExpression =>
        substAgg(ae).getOrElse { failed = true; ae }
      case a: AttributeReference =>
        byName.get(a.name) match {
          case Some(na) if reg.dims.contains(a.name) &&
            na.dataType == a.dataType => na
          case _ => failed = true; a
        }
      case other => other.mapChildren(rec)
    }
    val newAggExprs = agg.aggregateExpressions.map { ne =>
      (ne, rec(ne))
    }.map {
      case (orig: Alias, n) =>
        val nn = n.asInstanceOf[Alias]
        if (nn.child.dataType != orig.child.dataType) { failed = true; orig }
        else Alias(nn.child, orig.name)(exprId = orig.exprId,
          qualifier = orig.qualifier, explicitMetadata = orig.explicitMetadata)
      case (orig: AttributeReference, n: AttributeReference) =>
        // grouping column flowing through: re-alias the rollup attr under
        // the ORIGINAL exprId so parent plans still resolve
        Alias(n, orig.name)(exprId = orig.exprId, qualifier = orig.qualifier)
      case (orig, _) => failed = true; orig
    }
    if (failed) return None

    val newGroup = agg.groupingExpressions.map(substAttrs)
    val newConds = conds.map(substAttrs)
    if (newGroup.exists(_.isEmpty) || newConds.exists(_.isEmpty)) return None

    val filtered: LogicalPlan = newConds.flatten
      .foldLeft(rollupRel: LogicalPlan)((p, c) => Filter(c, p))
    Some(Aggregate(newGroup.flatten, newAggExprs, filtered, agg.hint))
  }
}
