package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, ExprId, Expression, IsNotNull, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, ShortType}

/** Optimizer rule: answer aggregates over a graft-tx relation from
  * the snapshot's COMMIT STATS instead of scanning — `SELECT
  * count(*), min(k), max(k) FROM t` on a 100 TB table becomes a
  * commit-file read and a `LocalRelation`, and `GROUP BY part` over a
  * partition-clustered table becomes one local row per partition
  * (Delta and Iceberg answer exactly these shapes from file/manifest
  * stats; the reference has no analog — its only metadata is the
  * filename glob, src/mapred/org/apache/hadoop/mapred/
  * FileInputFormat.java:1).
  *
  * Fires ONLY when the answer is provably exact, bailing to the scan
  * otherwise (`TxTable.metadataAgg` / `metadataGroupedAgg` document
  * the conditions: delta-free snapshot, `_rows` everywhere, exact
  * integral stats for every referenced column; the grouped form also
  * needs single-valued dirs with zero `n,<col>` null counts — min/max
  * stats skip NULLs, so only the null-count stat proves a dir hides
  * no NULL-group rows). String min/max never rewrite: their stored
  * stats are truncation-widened bounds, sound for pruning but not
  * exact. Relations carrying row-restricting reader options
  * (keyRange/colRange/strRange) never rewrite either.
  *
  * On by default (`spark.graft.statsAgg=false` opts out) — unlike the
  * approx rewrites this one is semantics-preserving, so it is a pure
  * CBO win. One opt-in exception: `spark.graft.statsAgg.approxNdv`
  * additionally serves `approx_count_distinct(c)` (scalar or grouped
  * by partition keys) from the per-dir HLL register blobs — a
  * deterministic, order-independent estimate, but a DIFFERENT
  * estimator than Spark's HLL++, hence off by default. Injected via
  * `GraftExtensions.injectOptimizerRule` and the
  * `experimental.extraOptimizations` runtime hook.
  */
object TxStatsAggRewrite extends Rule[LogicalPlan] {

  val flagKey = "spark.graft.statsAgg"
  private def enabled: Boolean =
    SQLConf.get.getConfString(flagKey, "true").toBoolean

  /** Driver-side LocalRelation bound for the grouped rewrite
    * (`spark.graft.statsAgg.maxGroups` overrides; tested low). */
  private def maxLocalGroups: Int = SQLConf.get
    .getConfString("spark.graft.statsAgg.maxGroups", "100000").toInt

  /** OPT-IN (`spark.graft.statsAgg.approxNdv=true`): additionally
    * serve `approx_count_distinct(c)` — scalar or grouped by
    * partition keys — from the per-dir HLL register blobs merged
    * driver-side (TxTable.metadataGroupedNdv). Off by default
    * because it substitutes the DataSketches estimate (~1.6% rsd at
    * lgK=12) for Spark's HLL++ — a different, not-bitwise-identical
    * estimator; both are "approx" by contract, but unlike the rest
    * of this rule the substitution is not semantics-preserving. */
  val approxNdvKey = "spark.graft.statsAgg.approxNdv"
  private def approxNdvEnabled: Boolean =
    SQLConf.get.getConfString(approxNdvKey, "false").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan else rewrite(plan)

  def rewrite(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg: Aggregate if agg.resolved =>
      // grouped form: tolerate pushed-down `IsNotNull(<group key>)`
      // filters between the aggregate and the relation — a join above
      // infers them onto its keys and the optimizer pushes them to
      // the scan. They are PROVABLY no-ops here: the grouped rewrite
      // only fires when every live dir is null-free on every group
      // key (the `n,<col>` == 0 stat), so there is no NULL group for
      // the filter to remove. The scalar form tolerates none (a
      // filter there really restricts the rows the stats describe).
      val groupIds: Set[ExprId] = agg.groupingExpressions.collect {
        case a: AttributeReference => a.exprId
      }.toSet
      (relOf(agg.child,
        if (agg.groupingExpressions.isEmpty) Set.empty else groupIds)
        match {
        case Some(rel) => agg.groupingExpressions match {
          case Nil => scalarRewrite(agg, rel)
          // one OR MORE bare grouping columns, each integral (exact
          // `lo == hi` range stats) or string (`sx:` exact marker) —
          // the composite-partitioned `GROUP BY c1, c2` answers from
          // the same per-tuple clustering proof the SPJ face uses
          case gs if gs.nonEmpty && gs.forall {
            case a: AttributeReference => groupable(a.dataType)
            case _ => false
          } => groupedRewrite(agg,
            gs.map(_.asInstanceOf[AttributeReference]), rel)
          case _ => None
        }
        case None => None
      }).getOrElse(agg)
  }

  /** The table identity the commit stats answer for. */
  private case class RelInfo(spark: org.apache.spark.sql.SparkSession,
    root: String, version: Int)

  /** The graft-tx relation under the aggregate — allowing only
    * attribute-pruning Projects between them, plus Filters that are
    * pure conjunctions of `IsNotNull` over `notNullOk` attributes
    * (the grouped caller passes its group keys, whose null-freeness
    * its own firing proof establishes; any other Filter or computed
    * projection means stats no longer describe the input). Matches
    * all three batch faces: the V1 path relation, catalog tables, and
    * the storage-partitioned face (the latter two pre-pushdown as
    * DataSourceV2Relation — extended operator-optimization rules run
    * before V2 scan pushdown). */
  private def relOf(p: LogicalPlan,
    notNullOk: Set[ExprId]): Option[RelInfo] =
    p match {
      case l: LogicalRelation => metaOf(l.relation)
      case d: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        metaOf(d.table)
      case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        relOf(c, notNullOk)
      case Filter(cond, c) if conjuncts(cond).forall {
        case IsNotNull(a: AttributeReference) => notNullOk.contains(a.exprId)
        case _ => false
      } => relOf(c, notNullOk)
      case _ => None
    }

  /** A graft-tx relation or table whose reader options leave the
    * whole table visible — restricted rows are not what the stats
    * describe. */
  private def metaOf(t: Any): Option[RelInfo] = t match {
    case t: graft.sources.TxMetaAggTable if !t.readerOptions.restricted =>
      val s = org.apache.spark.sql.SparkSession.active
      Some(RelInfo(s, t.metaRoot, t.metaVersion(s)))
    case _ => None
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def integral(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType => true
    case _ => false
  }
  private def groupable(dt: DataType): Boolean =
    integral(dt) || dt == org.apache.spark.sql.types.StringType ||
      dt == org.apache.spark.sql.types.DateType
  private def typed(v: Long, dt: DataType): Any = dt match {
    case LongType => v
    case IntegerType => v.toInt
    case ShortType => v.toShort
    case _ => v
  }

  private sealed trait Shape
  private case object CountStar extends Shape
  private case class GroupKey(i: Int) extends Shape
  private case class CountOf(c: String) extends Shape
  private case class DistinctOf(c: String) extends Shape
  private case class ApproxOf(c: String) extends Shape
  private case class MinOf(c: String, dt: DataType) extends Shape
  private case class MaxOf(c: String, dt: DataType) extends Shape

  private def aggShape(e: Expression): Option[Shape] = e match {
    case Alias(c, _) => aggShape(c)
    case AggregateExpression(Count(Seq(l: Literal)), _, false, None, _)
        if l.value != null => Some(CountStar)
    // count(c) = _rows - sum(n,<c>): the per-dir null-count stat is
    // already in the commit grammar, so a null-aware count is one
    // subtraction away from zero-I/O (exactness gated below on the
    // stat being present in every live dir)
    case AggregateExpression(Count(Seq(a: AttributeReference)), _, false,
        None, _) => Some(CountOf(a.name))
    // count(DISTINCT c) from the ANALYZE header — exactness gated
    // below on TxTable.exactNdv's freshness proof (exact-mode counts
    // AND the snapshot's entries identical to the analyzed ones)
    case AggregateExpression(Count(Seq(a: AttributeReference)), _, true,
        None, _) => Some(DistinctOf(a.name))
    case AggregateExpression(Min(a: AttributeReference), _, false, None, _)
        if integral(a.dataType) => Some(MinOf(a.name, a.dataType))
    case AggregateExpression(Max(a: AttributeReference), _, false, None, _)
        if integral(a.dataType) => Some(MaxOf(a.name, a.dataType))
    // approx_count_distinct(c) from the per-dir HLL register blobs —
    // opt-in (see approxNdvKey); any relativeSD is accepted (the
    // served estimate's own rsd is ~1.6%, tighter than the 5%
    // default a caller asks for)
    case AggregateExpression(
        h: org.apache.spark.sql.catalyst.expressions.aggregate
          .HyperLogLogPlusPlus, _, false, None, _)
        if approxNdvEnabled => h.child match {
      case a: AttributeReference => Some(ApproxOf(a.name))
      case _ => None
    }
    case _ => None
  }

  private def statCols(shapes: Seq[Shape]): Seq[String] =
    shapes.collect { case MinOf(c, _) => c case MaxOf(c, _) => c }.distinct
  private def countCols(shapes: Seq[Shape]): Seq[String] =
    shapes.collect { case CountOf(c) => c }.distinct
  private def distinctCols(shapes: Seq[Shape]): Seq[String] =
    shapes.collect { case DistinctOf(c) => c }.distinct

  private def scalarRewrite(agg: Aggregate,
    rel: RelInfo): Option[LogicalPlan] = {
    val shapes0 = agg.aggregateExpressions.map(aggShape)
    if (shapes0.isEmpty || shapes0.exists(_.isEmpty)) return None
    val shapes = shapes0.map(_.get)
    val cols = statCols(shapes)
    val ccols = countCols(shapes)
    val dcols = distinctCols(shapes)
    // COUNT(DISTINCT) answers come from the analyze header, and only
    // when provably exact AND fresh (entries unchanged since the
    // exact-mode analyze) — one unanswerable column bails to the scan
    val ndv =
      if (dcols.isEmpty) Map.empty[String, Long]
      else graft.sources.TxTable.exactNdv(rel.spark, rel.root, rel.version)
    if (!dcols.forall(ndv.contains)) return None
    // approx_count_distinct answers merge the per-dir HLL blobs
    // driver-side (opt-in; shape only produced when the flag is on)
    val acols = shapes.collect { case ApproxOf(c) => c }.distinct
    val andv: Map[String, Long] = acols.flatMap(c =>
      graft.sources.TxTable
        .metadataGroupedNdv(rel.spark, rel.root, rel.version, Nil, c)
        .flatMap(_.headOption).map(t => c -> t._2)).toMap
    if (!acols.forall(andv.contains)) return None
    graft.sources.TxTable
      .metadataAgg(rel.spark, rel.root, rel.version, cols, ccols)
      .filter { case (_, ranges, nulls) =>
        cols.forall(ranges.contains) && ccols.forall(nulls.contains) }
      .map { case (total, ranges, nulls) =>
        val row = InternalRow.fromSeq(shapes.map {
          case CountStar => total
          case CountOf(c) => total - nulls(c)
          case DistinctOf(c) => ndv(c)
          case ApproxOf(c) => andv(c)
          case MinOf(c, dt) => typed(ranges(c)._1, dt)
          case MaxOf(c, dt) => typed(ranges(c)._2, dt)
          case GroupKey(_) => null // unreachable: no grouping here
        })
        LocalRelation(agg.output, Seq(row))
      }
  }

  /** A metadata group-key value, typed for the LocalRelation row:
    * integral stats decode to the attribute's own width, `sx:` exact
    * strings to UTF8String. A type mismatch (schema drift between the
    * stat and the attribute) bails the rewrite, never miscasts. */
  private def keyVal(v: Any, dt: DataType): Option[Any] = (v, dt) match {
    case (l: Long, t) if integral(t) => Some(typed(l, t))
    // DateType stats hold days-since-epoch — its InternalRow encoding
    case (l: Long, org.apache.spark.sql.types.DateType) => Some(l.toInt)
    case (s: String, org.apache.spark.sql.types.StringType) =>
      Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    case _ => None
  }

  private def groupedRewrite(agg: Aggregate, gs: Seq[AttributeReference],
    rel: RelInfo): Option[LogicalPlan] = {
    def shape(e: NamedExpression): Option[Shape] = e match {
      case a: AttributeReference if gs.exists(_.exprId == a.exprId) =>
        Some(GroupKey(gs.indexWhere(_.exprId == a.exprId)))
      case Alias(a: AttributeReference, _)
        if gs.exists(_.exprId == a.exprId) =>
        Some(GroupKey(gs.indexWhere(_.exprId == a.exprId)))
      case other => aggShape(other)
    }
    val shapes0 = agg.aggregateExpressions.map(shape)
    if (shapes0.isEmpty || shapes0.exists(_.isEmpty)) return None
    val shapes = shapes0.map(_.get)
    // the analyze header is table-level: no per-group EXACT NDV to
    // serve (the APPROX form below merges per-group HLL blobs)
    if (shapes.exists(_.isInstanceOf[DistinctOf])) return None
    val cols = statCols(shapes)
    val ccols = countCols(shapes)
    // per-group approx_count_distinct: one driver-side register merge
    // per (column, group) from the same clustering proof — groups are
    // IDENTICAL to metadataGroupedAgg's (both partition the same live
    // dirs by the same dirExactValue tuples)
    val acols = shapes.collect { case ApproxOf(c) => c }.distinct
    val andv: Map[String, Map[Seq[Any], Long]] = acols.flatMap(c =>
      graft.sources.TxTable
        .metadataGroupedNdv(rel.spark, rel.root, rel.version,
          gs.map(_.name), c)
        .map(rs => c -> rs.toMap)).toMap
    if (!acols.forall(andv.contains)) return None
    graft.sources.TxTable
      .metadataGroupedAgg(rel.spark, rel.root, rel.version,
        gs.map(_.name), cols, ccols)
      // the rewrite materializes one LocalRelation row per group ON
      // THE DRIVER; group count is bounded by live-dir count (every
      // dir is single-valued — a firing precondition), but make that
      // bound EXPLICIT: past maxLocalGroups the scan is the right
      // plan anyway (a distributed aggregate over that many dirs
      // beats shipping a 100k+-row literal through every plan copy)
      .filter(_.size <= maxLocalGroups)
      .filter(_.forall { case (_, _, ranges, nulls) =>
        cols.forall(ranges.contains) && ccols.forall(nulls.contains) })
      // every group-key value must type-match its attribute — one
      // mismatch bails the whole rewrite to the scan
      .filter(_.forall { case (gvs, _, _, _) =>
        gvs.zip(gs).forall { case (v, g) => keyVal(v, g.dataType).isDefined }
      })
      .map { groups =>
        val rows = groups.map { case (gvs, cnt, ranges, nulls) =>
          InternalRow.fromSeq(shapes.map {
            case GroupKey(i) => keyVal(gvs(i), gs(i).dataType).get
            case CountStar => cnt
            case CountOf(c) => cnt - nulls(c)
            case ApproxOf(c) => andv(c)(gvs)
            case MinOf(c, dt) => typed(ranges(c)._1, dt)
            case MaxOf(c, dt) => typed(ranges(c)._2, dt)
          })
        }
        LocalRelation(agg.output, rows)
      }
  }
}
