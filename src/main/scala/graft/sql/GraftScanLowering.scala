package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, Expression, PlanExpression}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, Filter, LogicalPlan, MergeIntoTable, Project, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.Bridge

/** Lowers a [[GraftTable]] V2 relation onto the catalog's NATIVE read
  * plan — the plan `BranchCatalog.scanSnapshot` builds (tiered manifest
  * planning, footer-stats + hidden-partition pruning, MOR tombstone
  * anti-joins, then a `LogicalRelation(HadoopFsRelation)` parquet scan
  * whose file index is the planned list itself, served from manifest
  * data, so splicing a plan never lists files or runs a listing job) — so `spark.sql("SELECT ... FROM lake.main.t WHERE ...")` runs
  * the SAME physical plan as the Scala API: vectorized parquet +
  * whole-stage codegen, with the query's own predicates reaching the
  * manifest pruner. Without this rule the table still reads correctly
  * through its [[org.apache.spark.sql.connector.read.V1Scan]] fallback,
  * but rows pay a per-row conversion at the DSv2 boundary — exactly the
  * overhead a 100 TB scan cannot afford.
  *
  * Two rules because filter adjacency decides what the pruner sees:
  *  - [[GraftScanLowering]] runs INSIDE the operator-optimization
  *    fixed point (after the built-in `PushDownPredicates` of the same
  *    iteration), so it matches `Filter(cond, relation)` once predicates
  *    have collapsed onto the relation and hands `cond` to the manifest
  *    pruner; the spliced plan then keeps optimizing in the remaining
  *    iterations (column pruning into the parquet read schema included).
  *  - [[GraftBareScanLowering]] runs once as a pre-CBO rule and lowers
  *    the relations no filter ever reached (full-table reads), before V2
  *    scan planning would otherwise route them to the V1 fallback.
  *
  * Both splice the analyzed plan of the catalog DataFrame under a
  * projection that re-aliases its fresh attributes back to the V2
  * relation's attribute ids, so every parent reference stays valid.
  * Lowering is on by default; `spark.graft.sql.lowering=false` turns it
  * off (the correctness path for testing the pure-connector fallback).
  */
class GraftScanLowering(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!GraftScanLowering.enabled(spark)) plan
    else {
      val protect = GraftScanLowering.commandTargets(plan)
      plan.transformUp {
        case Filter(cond, rel: DataSourceV2Relation)
            if rel.table.isInstanceOf[GraftTable] && !protect.exists(_ eq rel) &&
              GraftScanLowering.lowerable(rel) =>
          val lowered = GraftScanLowering.lower(
            spark, rel.table.asInstanceOf[GraftTable], rel.output,
            GraftScanLowering.pruneCondition(cond))
          Filter(cond, lowered)
      }
    }
}

/** The once-per-query sweep for filterless graft relations — see
  * [[GraftScanLowering]]. */
class GraftBareScanLowering(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!GraftScanLowering.enabled(spark)) plan
    else {
      val protect = GraftScanLowering.commandTargets(plan)
      plan.transformUp {
        case rel: DataSourceV2Relation
            if rel.table.isInstanceOf[GraftTable] && !protect.exists(_ eq rel) &&
              GraftScanLowering.lowerable(rel) =>
          GraftScanLowering.lower(
            spark, rel.table.asInstanceOf[GraftTable], rel.output, None)
      }
    }
}

/** Metadata-only GLOBAL aggregates for EXTENSION sessions (the DSv2
  * `SupportsPushDownAggregates` route in [[GraftTableCatalog]] serves
  * vanilla sessions, but graft sessions lower relations to the native
  * parquet plan before V2 pushdown ever runs — without this rule they
  * would SCAN for `SELECT count(*) FROM t`):
  * `Aggregate(no grouping, count/min/max, graft relation)` whose every
  * aggregate [[graft.wap.BranchCatalog.metaAggregate]] answers exactly
  * becomes a one-row `Project(literals, OneRowRelation)` — O(manifests)
  * metadata, zero data IO, computed once at optimization time.
  * Runs BEFORE [[GraftBareScanLowering]] (injection order) so the bare
  * relation under the aggregate is still visible. Anything it cannot
  * answer exactly — filters below, group-bys, other functions, DISTINCT,
  * pending MOR tombstones, uncovered stats — is left for the ordinary
  * lowered scan. `spark.graft.sql.metaAgg=false` disables. */
class GraftAggLowering(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal, NamedExpression}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, OneRowRelation}
  import graft.wap.{BranchCatalog, MetaAgg}

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!GraftScanLowering.enabled(spark) ||
        !spark.conf.get("spark.graft.sql.metaAgg", "true").toBoolean) plan
    else plan.transformUp {
      // W79/W81: global, GROUP BY over bare attributes, and either shape
      // under a WHERE whose predicate touches only group-homogeneous
      // columns — all folded from manifest-entry stats when
      // [[graft.wap.BranchCatalog.metaAggregateBy]]'s homogeneity proof
      // holds; anything not answerable exactly keeps the ordinary scan
      case agg @ Aggregate(gs, aggExprs, child, _)
          if gs.forall(_.isInstanceOf[AttributeReference]) =>
        val gAttrs = gs.map(_.asInstanceOf[AttributeReference])
        (relFilterUnder(child) match {
          case Some((t, None)) if gs.isEmpty => tryAnswer(t, aggExprs)
          case Some((t, None)) => tryAnswerGrouped(t, gAttrs, aggExprs)
          case Some((t, Some(cond))) => tryAnswerFiltered(t, gAttrs, aggExprs, cond)
          case None => None
        }).getOrElse(agg)
    }

  /** The graft relation under the aggregate plus the one Filter (if any)
    * between them — tolerating the attribute-only Projects column
    * pruning inserts on either side of the Filter. */
  private def relFilterUnder(p: LogicalPlan)
      : Option[(GraftTable, Option[org.apache.spark.sql.catalyst.expressions.Expression])] =
    p match {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, inner) =>
        relUnder(inner).map((_, Some(cond)))
      case Project(ps, org.apache.spark.sql.catalyst.plans.logical.Filter(cond, inner))
          if ps.forall(_.isInstanceOf[AttributeReference]) =>
        relUnder(inner).map((_, Some(cond)))
      case _ => relUnder(p).map((_, None))
    }

  /** The graft V2 relation under the aggregate: bare, or behind the
    * attribute-only Project column pruning inserts. A changes-window
    * relation never qualifies — its aggregate is over the DELTA, not the
    * snapshot the metadata describes. */
  private def relUnder(p: LogicalPlan): Option[GraftTable] = p match {
    case rel: DataSourceV2Relation
        if rel.table.isInstanceOf[GraftTable] && GraftScanLowering.lowerable(rel) =>
      Some(rel.table.asInstanceOf[GraftTable])
    case Project(ps, rel: DataSourceV2Relation)
        if rel.table.isInstanceOf[GraftTable] && GraftScanLowering.lowerable(rel) &&
          ps.forall(_.isInstanceOf[AttributeReference]) =>
      Some(rel.table.asInstanceOf[GraftTable])
    case _ => None
  }

  private def metaOf(ae: AggregateExpression): Option[MetaAgg] =
    if (ae.isDistinct || ae.filter.isDefined) None
    else ae.aggregateFunction match {
      case Count(Seq(l: Literal)) if l.value != null => Some(MetaAgg.CountStar)
      case Count(Seq(a: AttributeReference)) => Some(MetaAgg.CountCol(a.name))
      case Min(a: AttributeReference) => Some(MetaAgg.MinCol(a.name))
      case Max(a: AttributeReference) => Some(MetaAgg.MaxCol(a.name))
      // W80: SUM/AVG from per-file sum sidecars. Mode-agnostic: the
      // catalog folds with overflow DETECTION and refuses on overflow,
      // so a served value is the exact mathematical sum (identical in
      // ANSI and legacy), and the overflow cases keep their mode's own
      // scan behavior (raise vs wrap)
      case s: org.apache.spark.sql.catalyst.expressions.aggregate.Sum =>
        s.child match {
          case a: AttributeReference => Some(MetaAgg.SumCol(a.name))
          case _ => None
        }
      case av: org.apache.spark.sql.catalyst.expressions.aggregate.Average =>
        av.child match {
          case a: AttributeReference => Some(MetaAgg.AvgCol(a.name))
          case _ => None
        }
      case _ => None
    }

  private def tryAnswer(
      t: GraftTable, aggExprs: Seq[NamedExpression]): Option[LogicalPlan] = {
    val aes = aggExprs.flatMap(_.collect { case ae: AggregateExpression => ae })
    val metas = aes.map(metaOf)
    if (aes.isEmpty || metas.exists(_.isEmpty)) return None
    new BranchCatalog(spark, t.root)
      .metaAggregate(t.tableName, t.snapshotId, metas.flatten)
      .flatMap { values =>
        val byAgg = aes.zip(values)
        val rewritten = aggExprs.map(_.transform {
          case ae: AggregateExpression =>
            byAgg.collectFirst { case (a, v) if a eq ae => Literal(v, ae.dataType) }
              .getOrElse(ae)
        })
        // everything must now be literal-computable: a leftover attribute
        // or aggregate means the shape was richer than the translation
        if (rewritten.exists(e => e.exists(x =>
            x.isInstanceOf[AttributeReference] || x.isInstanceOf[AggregateExpression])))
          None
        else
          Some(Project(rewritten.map(_.asInstanceOf[NamedExpression]), OneRowRelation()))
      }
  }

  /** Refused (table snapshot, aggregate shape) pairs: this rule also
    * runs inside the optimizer fixed point (it must fire before
    * [[GraftScanLowering]] lowers `Filter(rel)`), so a refusal would
    * otherwise re-read manifest entries every iteration and every
    * identical query. Successes need no memo — the node disappears. */
  private val refused =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def memoized(key0: String)(body: => Option[LogicalPlan]): Option[LogicalPlan] = {
    // the sidecar epoch invalidates refusals when ensureSumStats runs in
    // this JVM (no snapshot changes — only sidecars appear); the TTL
    // covers sidecars built by ANOTHER session against the same root
    val key = s"${BranchCatalog.sidecarEpoch.get()}|$key0"
    val ts = refused.get(key)
    if (ts != null && System.currentTimeMillis() - ts < 60000L) None
    else body match {
      case None =>
        if (refused.size > 512) refused.clear()
        refused.put(key, System.currentTimeMillis()); None
      case some => refused.remove(key); some
    }
  }

  /** W81: `Aggregate(gs, aggs, Filter(cond, rel))` where `cond` touches
    * only group-homogeneous columns. The filter columns join the group
    * key, [[graft.wap.BranchCatalog.metaAggregateBy]] folds PRIMITIVE
    * aggregates per fine group, `cond` evaluates per fine group as
    * literals (each file either wholly passes or wholly fails — the
    * homogeneity proof), and surviving fine groups RE-FOLD to the
    * requested grouping: counts and sums add (overflow refuses), min/max
    * compare under the column type, AVG divides the re-folded exact sum
    * by the re-folded exact count. A global aggregate over an empty
    * selection still yields its one SQL row (count 0, NULL extrema). */
  private def tryAnswerFiltered(
      t: GraftTable, gAttrs: Seq[AttributeReference],
      aggExprs: Seq[NamedExpression], cond: Expression): Option[LogicalPlan] = {
    if (!cond.deterministic || cond.exists(_.isInstanceOf[PlanExpression[_]])) return None
    val condAttrs = cond.references.toSeq.collect { case a: AttributeReference => a }
    if (condAttrs.size != cond.references.size) return None
    val effAttrs = gAttrs ++ condAttrs.filterNot(c => gAttrs.exists(_.exprId == c.exprId))
    val aes = aggExprs.flatMap(_.collect { case ae: AggregateExpression => ae })
    // primitives per requested aggregate + how to re-fold across fine groups
    val prims = scala.collection.mutable.ArrayBuffer.empty[MetaAgg]
    sealed trait Fold
    case class AddFold(i: Int, nullable: Boolean) extends Fold
    case class CmpFold(i: Int, dt: org.apache.spark.sql.types.DataType, takeMin: Boolean) extends Fold
    case class AvgFold(sumI: Int, cntI: Int) extends Fold
    val folds: Seq[Fold] = aes.map { ae =>
      metaOf(ae) match {
        case Some(m @ (MetaAgg.CountStar | MetaAgg.CountCol(_))) =>
          prims += m; AddFold(prims.size - 1, nullable = false)
        case Some(m: MetaAgg.SumCol) =>
          prims += m; AddFold(prims.size - 1, nullable = true)
        case Some(m: MetaAgg.MinCol) =>
          prims += m; CmpFold(prims.size - 1,
            attrType(t, m.column).getOrElse(return None), takeMin = true)
        case Some(m: MetaAgg.MaxCol) =>
          prims += m; CmpFold(prims.size - 1,
            attrType(t, m.column).getOrElse(return None), takeMin = false)
        case Some(MetaAgg.AvgCol(c)) =>
          prims += MetaAgg.SumCol(c); prims += MetaAgg.CountCol(c)
          AvgFold(prims.size - 2, prims.size - 1)
        case _ => return None
      }
    }
    val primList = prims.toSeq
    val key = s"${t.root}|${t.tableName}|${t.snapshotId}|F|" +
      s"${effAttrs.map(_.name).mkString(",")}|${cond.canonicalized.hashCode}|" +
      s"${gAttrs.map(_.name).mkString(",")}|$primList"
    memoized(key) {
      new BranchCatalog(spark, t.root)
        .metaAggregateBy(t.tableName, t.snapshotId, effAttrs.map(_.name), primList)
        .flatMap { fine =>
          val nG = effAttrs.length
          // evaluate the predicate per fine group (true keeps; null/false drops)
          val kept = fine.filter { r =>
            val sub = cond.transform {
              case a: AttributeReference =>
                effAttrs.indexWhere(_.exprId == a.exprId) match {
                  case -1 => a
                  case i => Literal(r(i), effAttrs(i).dataType)
                }
            }
            if (sub.exists(_.isInstanceOf[AttributeReference])) return None
            (try sub.eval(null) catch {
              case scala.util.control.NonFatal(_) => return None
            }) == true
          }
          // re-fold surviving fine groups onto the REQUESTED grouping
          val byKey = kept.groupBy(r => gAttrs.indices.map(i =>
            effAttrs.indexWhere(_.exprId == gAttrs(i).exprId)).map(r(_)).toSeq)
          val groups: Seq[(Seq[Any], Seq[Array[Any]])] =
            if (gAttrs.isEmpty) Seq(Seq.empty[Any] -> kept) // global: exactly one row
            else byKey.toSeq
          val data = scala.collection.mutable.ArrayBuffer
            .empty[org.apache.spark.sql.catalyst.InternalRow]
          for ((gVals, rows) <- groups) {
            def prim(i: Int): Seq[Any] = rows.map(_(nG + i)).filter(_ != null)
            val aggVals: Seq[Any] = folds.map {
              case AddFold(i, nullable) =>
                val vs = prim(i)
                if (vs.isEmpty) { if (nullable) null else 0L }
                else try vs.foldLeft(0L)((a, b) =>
                  Math.addExact(a, b.asInstanceOf[Number].longValue))
                catch { case _: ArithmeticException => return None }
              case CmpFold(i, dt, takeMin) =>
                val vs = prim(i)
                val cmp = internalCmp(dt).getOrElse(return None)
                if (vs.isEmpty) null
                else vs.reduce((a, b) => if ((cmp(a, b) <= 0) == takeMin) a else b)
              case AvgFold(sumI, cntI) =>
                val sums = prim(sumI)
                val n = prim(cntI).foldLeft(0L)(_ + _.asInstanceOf[Number].longValue)
                if (sums.isEmpty || n == 0L) null
                else try sums.foldLeft(0L)((a, b) =>
                  Math.addExact(a, b.asInstanceOf[Number].longValue)).toDouble / n
                catch { case _: ArithmeticException => return None }
            }
            val byAgg = aes.zip(aggVals)
            val substituted = aggExprs.map(_.transform {
              case ae: AggregateExpression =>
                byAgg.collectFirst { case (a, v) if a eq ae => Literal(v, ae.dataType) }
                  .getOrElse(ae)
              case a: AttributeReference =>
                gAttrs.indexWhere(_.exprId == a.exprId) match {
                  case -1 => a
                  case i => Literal(gVals(i), gAttrs(i).dataType)
                }
            })
            if (substituted.exists(e => e.exists(x =>
                x.isInstanceOf[AttributeReference] || x.isInstanceOf[AggregateExpression])) ||
                substituted.exists(!_.deterministic))
              return None
            val out0 = aggExprs.map(_.toAttribute)
            val vals = try substituted.map(_.eval(null))
            catch { case scala.util.control.NonFatal(_) => return None }
            if (out0.zip(vals).exists { case (a, v) => v == null && !a.nullable })
              return None
            data += org.apache.spark.sql.catalyst.InternalRow.fromSeq(vals)
          }
          Some(LocalRelation(aggExprs.map(_.toAttribute), data.toSeq))
        }
    }
  }

  private def attrType(t: GraftTable, c: String)
      : Option[org.apache.spark.sql.types.DataType] =
    t.tableSchema.fields.find(_.name == c).map(_.dataType)

  /** Ordering on CATALYST-INTERNAL values under the column type — the
    * re-fold counterpart of the catalog's stat-string ordering. */
  private def internalCmp(dt: org.apache.spark.sql.types.DataType)
      : Option[(Any, Any) => Int] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType |
           DateType | TimestampType | TimestampNTZType =>
        Some((a, b) => java.lang.Long.compare(
          a.asInstanceOf[Number].longValue, b.asInstanceOf[Number].longValue))
      case StringType => Some((a, b) =>
        a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
          .compareTo(b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]))
      case BooleanType => Some((a, b) => java.lang.Boolean.compare(
        a.asInstanceOf[Boolean], b.asInstanceOf[Boolean]))
      case _ => None
    }
  }

  /** The grouped analogue: substitute each group row's values (group
    * attributes AND aggregate results become literals), fold every
    * output expression to a constant, and materialize the rows as a
    * [[LocalRelation]]. Any leftover attribute or aggregate after
    * substitution means the shape was richer than the translation —
    * refuse, never approximate. */
  private def tryAnswerGrouped(
      t: GraftTable, gAttrs: Seq[AttributeReference],
      aggExprs: Seq[NamedExpression]): Option[LogicalPlan] = {
    val aes = aggExprs.flatMap(_.collect { case ae: AggregateExpression => ae })
    val metas = aes.map(metaOf)
    if (metas.exists(_.isEmpty)) return None
    val key = s"${t.root}|${t.tableName}|${t.snapshotId}|G|" +
      s"${gAttrs.map(_.name).mkString(",")}|${metas.flatten}"
    memoized(key) {
    new BranchCatalog(spark, t.root)
      .metaAggregateBy(t.tableName, t.snapshotId, gAttrs.map(_.name), metas.flatten)
      .flatMap { rows =>
        val out = aggExprs.map(_.toAttribute)
        val data = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.spark.sql.catalyst.InternalRow]
        for (r <- rows) {
          val byAgg = aes.zip(r.drop(gAttrs.length))
          val substituted = aggExprs.map(_.transform {
            case ae: AggregateExpression =>
              byAgg.collectFirst { case (a, v) if a eq ae => Literal(v, ae.dataType) }
                .getOrElse(ae)
            case a: AttributeReference =>
              gAttrs.indexWhere(_.exprId == a.exprId) match {
                case -1 => a
                case i => Literal(r(i), gAttrs(i).dataType)
              }
          })
          if (substituted.exists(e => e.exists(x =>
              x.isInstanceOf[AttributeReference] || x.isInstanceOf[AggregateExpression])) ||
              substituted.exists(!_.deterministic))
            return None
          val vals = try substituted.map(_.eval(null))
          catch { case scala.util.control.NonFatal(_) => return None }
          // a NULL value under a non-nullable output attribute (e.g. an
          // all-null group in a column the schema declares NOT NULL)
          // cannot ride a LocalRelation — refuse, the scan stays correct
          if (out.zip(vals).exists { case (a, v) => v == null && !a.nullable })
            return None
          data += org.apache.spark.sql.catalyst.InternalRow.fromSeq(vals)
        }
        Some(LocalRelation(out, data.toSeq))
      }
    }
  }
}

object GraftScanLowering {
  private[sql] def enabled(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.sql.lowering", "true").toBoolean

  /** A relation carrying an incremental-window read option must stay on
    * the connector path ([[GraftTable.newScanBuilder]] serves the
    * window); lowering it to the full-snapshot native plan would
    * silently IGNORE the option and return the whole table. */
  private[sql] def lowerable(rel: DataSourceV2Relation): Boolean =
    // ANY graft.changes.* key marks a window (by id OR by instant —
    // fromTimestamp/toTimestamp, r15); malformed combinations must reach
    // the connector too, whose builder refuses them loudly
    rel.options == null || {
      val it = rel.options.keySet().iterator()
      var windowed = false
      while (!windowed && it.hasNext) windowed = it.next().startsWith("graft.changes.")
      !windowed
    }

  /** Relations that are the TARGET of a row-level command (`DELETE FROM`
    * etc.): the command's strategy must see the V2 relation itself, so
    * lowering skips them (the condition is already pushed to the table's
    * own deleteWhere, not read through a scan). Reference identity: a
    * self-referencing statement may hold an equal-looking read relation
    * that SHOULD lower. */
  private[sql] def commandTargets(plan: LogicalPlan): Seq[LogicalPlan] = plan.collect {
    case d: DeleteFromTable => Seq(d.table)
    case u: UpdateTable => Seq(u.table)
    case m: MergeIntoTable => Seq(m.targetTable)
    // ADD CONSTRAINT's validation scan must stay a DSv2 relation: the
    // strategy plans AddCheckConstraint(PhysicalOperation(..., v2 scan))
    // and has no case for a lowered parquet child
    case a: org.apache.spark.sql.catalyst.plans.logical.AddCheckConstraint =>
      a.child.collect { case r: DataSourceV2Relation => r }
  }.flatten

  /** The conjuncts of `cond` a detached DataFrame filter can express:
    * deterministic, subquery-free ones, with attribute references
    * rebound BY NAME (the catalog plan has fresh attribute ids). The
    * result only PRUNES — the full original filter stays above the
    * splice, so dropping a conjunct is always sound. */
  private[sql] def pruneCondition(cond: Expression): Option[org.apache.spark.sql.Column] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val usable = conjuncts(cond).filter { c =>
      c.deterministic && !c.exists(_.isInstanceOf[PlanExpression[_]])
    }
    usable.reduceOption(And).map { e =>
      Bridge.column(e.transform {
        case a: Attribute => UnresolvedAttribute.quoted(a.name)
      })
    }
  }

  /** Splice the catalog's scan plan in place of the relation, re-aliased
    * to the relation's attribute ids. The OPTIMIZED sub-plan is spliced
    * (not the analyzed one): the outer optimizer has already run its
    * analysis-finishing batch, so leftovers like the MOR anti-join's
    * SubqueryAlias would otherwise reach physical planning unhandled —
    * and the sub-plan arrives column-pruned and constant-folded even on
    * the once-only pre-CBO path. */
  private[sql] def lower(
      spark: SparkSession, t: GraftTable, out: Seq[Attribute],
      filter: Option[org.apache.spark.sql.Column]): LogicalPlan = {
    val df = t.scanDF(spark, filter)
    val plan = df.queryExecution.optimizedPlan
    val byName = plan.output.map(a => a.name -> a).toMap
    Project(out.map { o =>
      val src = byName.getOrElse(o.name, sys.error(
        s"catalog plan for ${t.name()} lost column ${o.name}"))
      Alias(src, o.name)(exprId = o.exprId, qualifier = o.qualifier,
        explicitMetadata = Some(o.metadata))
    }, plan)
  }
}
