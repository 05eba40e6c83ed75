package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, GenericInternalRow, Literal, PlanExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{DataType, LongType}

/** Aggregate pushdown to table METADATA for the SQL read surface —
  * the Delta/Photon metadata-count optimization, surfaced through
  * plain SQL: a global `SELECT count(*) / min(c) / max(c) ... WHERE
  * <predicate>` over a graft relation (a `format("graft")` view or a
  * catalog-registered graft table) plans to [[GraftMetaAggExec]],
  * which answers from the manifest's per-file stats exactly the way
  * [[DataSkipping.countWhere]] / [[DataSkipping.minMaxWhere]] do:
  * ALL-match files contribute `n_rows` / their min-max stats with no
  * data read, NO-match files contribute nothing, only BOUNDARY files
  * scan. A range count on a clustered 100 TB table reads the
  * manifest plus at most the two boundary files — O(manifest), not
  * O(table) — and until now that gap was invisible to SQL users
  * (the V1 `PrunedFilteredScan` has no aggregate surface).
  *
  * The rewrite claims a plan ONLY when it is provably equivalent:
  * global aggregate (no GROUP BY), every aggregate one of
  * COUNT(*)/COUNT(1) (no DISTINCT, no FILTER clause), COUNT(col) of
  * a null-count-tracked column (`n_rows − nullCount`), MIN/MAX of a
  * stats-tracked column, the WHERE a deterministic, subquery-free
  * predicate (any such predicate is safe — ambiguous files are
  * scanned with the row predicate, so the answer always equals the
  * full scan's), the relation unpinned (no time travel) — everything
  * else falls through to Spark's normal aggregation untouched.
  *
  * Installed by `graft.plans.GraftExtensions`
  * (`injectPlannerStrategy`), or on any live session via
  * [[MetaAggPushdown.install]].
  */
class GraftMetaAggStrategy(spark: SparkSession) extends SparkStrategy {

  import MetaAggPushdown._

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case agg: Aggregate if agg.groupingExpressions.isEmpty =>
      (for {
        (rel, cond) <- relationBelow(agg.child)
        if rel.version.isEmpty
        if cond.forall(c => c.deterministic &&
          !c.exists(_.isInstanceOf[PlanExpression[_]]))
        specs <- metaAggsOf(agg.aggregateExpressions)
        if minMaxTracked(specs, rel)
      } yield GraftMetaAggExec(agg.output, rel.path, cond, specs) :: Nil)
        .getOrElse(Nil)
    // GROUPED metadata aggregates — `SELECT p…, count(*) / count(c)
    // / min(c) / max(c) … GROUP BY p…` over PARTITION columns:
    // partition values are min=max per file, so any deterministic
    // partition-column predicate evaluates exactly against manifest
    // rows (every kept file is all-match) and per-file stats answer
    // the aggregates in one O(files) manifest aggregate — the
    // partition-profile query at 100 TB reads no data (files with
    // deletion-vector entries demote to a scan when a per-column
    // answer is requested; see partitionGroupAggs). Claimed only
    // when grouping keys AND the predicate reference partition
    // columns exclusively, every aggregate is one of the shapes
    // above, and the targets are stats-/null-count-tracked.
    case agg: Aggregate if agg.groupingExpressions.nonEmpty =>
      (for {
        (rel, cond) <- relationBelow(agg.child)
        if rel.version.isEmpty
        // PURE shape checks first — a grouped query that can never
        // match (non-attribute keys, unsupported aggregates) must
        // fall through without any planning-time I/O
        groupAttrs <- Some(agg.groupingExpressions)
          .filter(_.forall(_.isInstanceOf[AttributeReference]))
          .map(_.map(_.asInstanceOf[AttributeReference]))
        if cond.forall(c => c.deterministic &&
          !c.exists(_.isInstanceOf[PlanExpression[_]]))
        outSpecs <- groupOutputOf(agg.aggregateExpressions, groupAttrs)
        // sidecar reads only for the shapes that survived
        partCols = DataSkipping.tablePartitionColumnsLogical(spark, rel.path)
        if partCols.nonEmpty
        if groupAttrs.forall(a => partCols.exists(_.equalsIgnoreCase(a.name)))
        if cond.forall(_.references.forall(r =>
          partCols.exists(_.equalsIgnoreCase(r.name))))
        if groupTargetsTracked(outSpecs, rel)
        // the QUERIED keys, deduped case-insensitively — the exec
        // groups by exactly these. Grouping by all partition columns
        // would be wrong for a strict subset (GROUP BY p over a
        // (p,q)-partitioned table must merge q-values per p, not
        // emit one row per (p,q))
        groupKeys = groupAttrs.map(_.name)
          .foldLeft(Vector.empty[String]) { (acc, n) =>
            if (acc.exists(_.equalsIgnoreCase(n))) acc else acc :+ n
          }
      } yield GraftMetaGroupCountExec(agg.output, rel.path, cond,
        groupKeys, outSpecs) :: Nil)
        .getOrElse(Nil)
    case _ => Nil
  }

  /** Output plan per aggregate expression, positional (see
    * [[GroupOut]]). None = an aggregate shape the grouped rewrite
    * can't answer (the whole plan falls through).
    */
  private def groupOutputOf(exprs: Seq[Expression],
      groupAttrs: Seq[AttributeReference]): Option[Seq[GroupOut]] = {
    def of(e: Expression): Option[GroupOut] = e match {
      case a: AttributeReference
          if groupAttrs.exists(_.exprId == a.exprId) => Some(GroupKey(a.name))
      case Alias(child, _) => of(child)
      // non-null literal only: COUNT(NULL) is 0 per SQL (count skips
      // null input), never the row count the manifest answers with
      case AggregateExpression(Count(Seq(Literal(v, _))), Complete, false, None, _)
          if v != null =>
        Some(GroupCount)
      case AggregateExpression(Count(Seq(PathAttr(p, _))), Complete, false, None, _) =>
        Some(GroupCountCol(p))
      case AggregateExpression(Min(PathAttr(p, _)), Complete, false, None, _) =>
        Some(GroupMin(p))
      case AggregateExpression(Max(PathAttr(p, _)), Complete, false, None, _) =>
        Some(GroupMax(p))
      case _ => None
    }
    val specs = exprs.map(of)
    if (specs.forall(_.isDefined)) Some(specs.map(_.get)) else None
  }

  /** Grouped targets, like the global rule: MIN/MAX stats-tracked,
    * COUNT(col) null-count-tracked.
    */
  private def groupTargetsTracked(specs: Seq[GroupOut],
      rel: GraftRelation): Boolean = {
    val mm = specs.collect {
      case GroupMin(c) => c
      case GroupMax(c) => c
    }.distinct
    val cc = specs.collect { case GroupCountCol(c) => c }.distinct
    (mm.isEmpty && cc.isEmpty) || {
      lazy val tracked = DataSkipping.tableStatsColsLogical(spark, rel.path)
      lazy val nullCounted = DataSkipping.manifestNullCountedLogical(spark, rel.path)
      mm.forall(tracked.contains) && cc.forall(nullCounted.contains)
    }
  }

  /** Unwrap attribute-only Projects and at most one Filter down to a
    * graft V1 relation: (relation, optional filter condition).
    */
  /** PURE structural pre-test of the claim shapes — no sidecar or
    * manifest I/O. False means [[apply]] can never claim the plan;
    * true means only the tracked-columns / row-count / partition
    * sidecar checks remain. [[GraftScanRewrite]] gates its per-
    * fixpoint-iteration probe on this, so aggregates that can never
    * push down (wrong shapes, non-graft leaves) cost ZERO filesystem
    * probes per optimizer pass.
    */
  private[sources] def structurallyClaimable(agg: Aggregate): Boolean =
    relationBelow(agg.child).exists { case (rel, cond) =>
      rel.version.isEmpty &&
        cond.forall(c => c.deterministic &&
          !c.exists(_.isInstanceOf[PlanExpression[_]])) && {
          if (agg.groupingExpressions.isEmpty)
            metaAggsOf(agg.aggregateExpressions).isDefined
          else
            agg.groupingExpressions.forall(_.isInstanceOf[AttributeReference]) &&
              groupOutputOf(agg.aggregateExpressions,
                agg.groupingExpressions
                  .map(_.asInstanceOf[AttributeReference])).isDefined
        }
    }

  private def relationBelow(p: LogicalPlan)
      : Option[(GraftRelation, Option[Expression])] = p match {
    case Project(projectList, child)
        if projectList.forall(_.isInstanceOf[AttributeReference]) =>
      relationBelow(child)
    case Filter(cond, child) =>
      relationBelow(child).collect {
        case (rel, None) => (rel, Some(cond))
      }
    case l: LogicalRelation if l.relation.isInstanceOf[GraftRelation] =>
      Some((l.relation.asInstanceOf[GraftRelation], None))
    case _ => None
  }

  private def metaAggsOf(exprs: Seq[Expression]): Option[Seq[MetaAgg]] = {
    val specs = exprs.map(metaAggOf)
    if (specs.forall(_.isDefined)) Some(specs.map(_.get)) else None
  }

  private def metaAggOf(e: Expression): Option[MetaAgg] = e match {
    case Alias(child, _) => metaAggOf(child)
    // non-null literal only: COUNT(NULL) is 0 per SQL (count skips
    // null input), never the row count the manifest answers with
    case AggregateExpression(Count(Seq(Literal(v, _))), Complete, false, None, _)
        if v != null =>
      Some(MetaCount)
    // COUNT(col) = n_rows − nullCount: manifest-answerable for
    // null-tracked columns (see countNonNullWhereDetail)
    case AggregateExpression(Count(Seq(PathAttr(p, _))), Complete, false, None, _) =>
      Some(MetaCountCol(p))
    case AggregateExpression(Min(PathAttr(p, dt)), Complete, false, None, _) =>
      Some(MetaMin(p, dt))
    case AggregateExpression(Max(PathAttr(p, dt)), Complete, false, None, _) =>
      Some(MetaMax(p, dt))
    case _ => None
  }

  /** Aggregate target as a STATS-KEY path: a bare column, or a
    * struct-field chain normalized to the dotted path nested stats
    * are tracked under (`min(m.uid)` → `m.uid`) — the same
    * normalization the skip rewriter's Attr extractor uses.
    */
  private object PathAttr {
    def unapply(e: Expression)
        : Option[(String, DataType)] = e match {
      case a: AttributeReference => Some((a.name, a.dataType))
      case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
        unapply(g.child).map { case (p, _) =>
          (s"$p.${g.extractFieldName}", g.dataType)
        }
      case _ => None
    }
  }

  /** MIN/MAX targets must be stats-tracked and COUNT(col) targets
    * null-count-tracked (plain COUNT(*) needs only `n_rows`,
    * recorded for every file). One sidecar read per planned
    * candidate — O(small), like any planning-time listing.
    */
  private def minMaxTracked(specs: Seq[MetaAgg], rel: GraftRelation): Boolean = {
    val mm = specs.collect {
      case MetaMin(c, _) => c
      case MetaMax(c, _) => c
    }.distinct
    val cc = specs.collect { case MetaCountCol(c) => c }.distinct
    (mm.isEmpty && cc.isEmpty) || {
      lazy val tracked = DataSkipping.tableStatsColsLogical(spark, rel.path)
      lazy val nullCounted = DataSkipping.manifestNullCountedLogical(spark, rel.path)
      mm.forall(tracked.contains) && cc.forall(nullCounted.contains)
    }
  }
}

object MetaAggPushdown {

  sealed trait MetaAgg
  case object MetaCount extends MetaAgg
  final case class MetaCountCol(column: String) extends MetaAgg
  final case class MetaMin(column: String, dataType: DataType) extends MetaAgg
  final case class MetaMax(column: String, dataType: DataType) extends MetaAgg

  /** Output plan of the GROUPED rewrite, positional: a pass-through
    * grouping column, the visible count, a non-null column count, or
    * a per-group MIN/MAX (all column names logical).
    */
  sealed trait GroupOut
  final case class GroupKey(name: String) extends GroupOut
  case object GroupCount extends GroupOut
  final case class GroupCountCol(column: String) extends GroupOut
  final case class GroupMin(column: String) extends GroupOut
  final case class GroupMax(column: String) extends GroupOut

  /** Install the strategy on a live session (idempotent) — the
    * no-extensions path, like `GraftFunctions.register`.
    */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies
        .exists(_.isInstanceOf[GraftMetaAggStrategy]))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ new GraftMetaAggStrategy(spark)
}

/** The physical metadata aggregate: one output row computed from the
  * manifest (plus boundary-file scans) at EXECUTION time. Metrics
  * record how much work the pushdown saved: `allMatchFiles` answered
  * from stats alone, `scannedFiles` actually read.
  */
case class GraftMetaAggExec(output: Seq[Attribute], path: String,
    condition: Option[Expression],
    aggs: Seq[MetaAggPushdown.MetaAgg]) extends LeafExecNode {

  import MetaAggPushdown._

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "allMatchFiles" -> SQLMetrics.createMetric(sparkContext,
      "files answered from stats"),
    "scannedFiles" -> SQLMetrics.createMetric(sparkContext,
      "boundary files scanned"))

  private def predicate: Column = condition match {
    case Some(c) =>
      // re-anchor on NAMES: the relation's exprIds mean nothing to a
      // fresh manifest-driven scan, and resolution happens inside the
      // skip planner against the table's logical schema
      org.apache.spark.sql.graft.ColumnBridge.column(c.transform {
        case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
      })
    case None => lit(true)
  }

  private def computeRow(): InternalRow = {
    val spark = SparkSession.active
    val pred = DataSkipping.mapPred(spark, path, predicate)
    lazy val (count, fullFiles, scanned) =
      DataSkipping.countWhereDetail(spark, path, pred)
    // minMax through the public API — it maps logical names itself
    def minMaxOf(c: String): (Option[Any], Option[Any]) =
      DataSkipping.minMaxWhere(spark, path, c, predicate)
    val mmCache = collection.mutable.Map.empty[String, (Option[Any], Option[Any])]
    val ccCache = collection.mutable.Map.empty[String, Long]
    val values: Seq[Any] = aggs.zip(output).map {
      case (MetaCount, _) =>
        longMetric("allMatchFiles").add(fullFiles)
        longMetric("scannedFiles").add(math.max(scanned, 0L))
        count
      case (MetaCountCol(c), _) =>
        ccCache.getOrElseUpdate(c, {
          val (cnt, ff, sc) =
            DataSkipping.countColWhereDetail(spark, path, c, predicate)
          longMetric("allMatchFiles").add(ff)
          longMetric("scannedFiles").add(math.max(sc, 0L))
          cnt
        })
      case (MetaMin(c, dt), _) =>
        toCatalyst(mmCache.getOrElseUpdate(c, minMaxOf(c))._1.orNull, dt)
      case (MetaMax(c, dt), _) =>
        toCatalyst(mmCache.getOrElseUpdate(c, minMaxOf(c))._2.orNull, dt)
    }
    new GenericInternalRow(values.toArray)
  }

  private def toCatalyst(v: Any, dt: DataType): Any =
    if (v == null) null
    else CatalystTypeConverters.createToCatalystConverter(dt)(v)

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(Seq(computeRow()), 1)

  override def executeCollect(): Array[InternalRow] = Array(computeRow())

  override def simpleString(maxFields: Int): String =
    s"GraftMetaAgg [${aggs.mkString(", ")}] path=$path" +
      condition.map(c => s" cond=${c.sql}").getOrElse("")
}

/** The physical GROUPED metadata aggregate: per-group visible
  * counts, non-null column counts and MIN/MAX from one distributed
  * manifest aggregate ([[DataSkipping.partitionGroupAggs]] — exact
  * under deletion vectors via scan demotion, zero-count groups
  * dropped per SQL GROUP BY). `groupKeys` are the QUERIED grouping
  * columns — exact for any subset of the partition columns, since
  * every file carries a single value per partition column; `specs`
  * maps each output column positionally (see
  * [[MetaAggPushdown.GroupOut]]).
  */
case class GraftMetaGroupCountExec(output: Seq[Attribute], path: String,
    condition: Option[Expression], groupKeys: Seq[String],
    specs: Seq[MetaAggPushdown.GroupOut]) extends LeafExecNode {

  private def result(): org.apache.spark.sql.DataFrame = {
    val spark = SparkSession.active
    // NO mapPred here: partitionGroupAggs serves the manifest's
    // partition columns under their LOGICAL names already, which is
    // exactly what the SQL predicate references
    val predicate = condition.map { c =>
      org.apache.spark.sql.graft.ColumnBridge.column(c.transform {
        case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
      })
    }
    DataSkipping.partitionGroupAggs(spark, path, predicate, groupKeys, specs)
  }

  override protected def doExecute(): RDD[InternalRow] =
    result().queryExecution.toRdd

  override def simpleString(maxFields: Int): String =
    s"GraftMetaGroupCount path=$path" +
      condition.map(c => s" cond=${c.sql}").getOrElse("")
}
