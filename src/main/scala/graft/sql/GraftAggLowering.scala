package graft.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, Literal, NamedExpression, PlanExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.wap.{BranchCatalog, MetaAgg}

/** Metadata-only FILTERED aggregates (W81): `Aggregate(gs, aggs,
  * Filter(cond, graft relation))` whose predicate touches only
  * group-homogeneous columns becomes a [[LocalRelation]] folded from
  * manifest-entry stats — O(manifests) metadata, zero data IO. No DSv2
  * hook can answer this shape: every graft filter stays residual, and
  * Spark only pushes an aggregate into a scan with no Filter between
  * them. Unfiltered global and GROUP BY aggregates need no rule — they
  * reach [[GraftScanBuilder.pushAggregation]] in every session. Runs
  * inside the operator-optimization fixed point, where predicates have
  * collapsed onto the relation; anything it cannot answer exactly keeps
  * the ordinary connector scan. */
class GraftAggLowering(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(gs, aggExprs, child, _)
        if gs.forall(_.isInstanceOf[AttributeReference]) =>
      relFilterUnder(child).flatMap { case (t, cond) =>
        tryAnswerFiltered(t, gs.map(_.asInstanceOf[AttributeReference]), aggExprs, cond)
      }.getOrElse(agg)
  }

  /** The graft relation under the aggregate plus the Filter between
    * them — tolerating the attribute-only Projects column pruning inserts
    * on either side of the Filter. */
  private def relFilterUnder(p: LogicalPlan): Option[(GraftTable, Expression)] =
    p match {
      case Filter(cond, inner) => relUnder(inner).map((_, cond))
      case Project(ps, Filter(cond, inner))
          if ps.forall(_.isInstanceOf[AttributeReference]) =>
        relUnder(inner).map((_, cond))
      case _ => None
    }

  /** The graft V2 relation under the Filter: bare, or behind an
    * attribute-only Project. A changes-window relation never qualifies —
    * its aggregate is over the DELTA, not the snapshot the metadata
    * describes. */
  private def relUnder(p: LogicalPlan): Option[GraftTable] = p match {
    case rel: DataSourceV2Relation if snapshotRead(rel) =>
      Some(rel.table.asInstanceOf[GraftTable])
    case Project(ps, rel: DataSourceV2Relation)
        if snapshotRead(rel) && ps.forall(_.isInstanceOf[AttributeReference]) =>
      Some(rel.table.asInstanceOf[GraftTable])
    case _ => None
  }

  /** A graft relation reading its pinned snapshot. ANY `graft.changes.*`
    * option marks an incremental window (by id OR by instant), served by
    * [[GraftTable.newScanBuilder]]; malformed combinations must reach the
    * builder too, which refuses them loudly. */
  private def snapshotRead(rel: DataSourceV2Relation): Boolean =
    rel.table.isInstanceOf[GraftTable] &&
      (rel.options == null ||
        !rel.options.keySet().iterator().asScala.exists(_.startsWith("graft.changes.")))

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
      case s: Sum =>
        s.child match {
          case a: AttributeReference => Some(MetaAgg.SumCol(a.name))
          case _ => None
        }
      case av: Average =>
        av.child match {
          case a: AttributeReference => Some(MetaAgg.AvgCol(a.name))
          case _ => None
        }
      case _ => None
    }

  /** Refused (table snapshot, aggregate shape) pairs: this rule runs
    * inside the optimizer fixed point, so a refusal would otherwise
    * re-read manifest entries every iteration and every identical query.
    * Successes need no memo — the node disappears. */
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

}
