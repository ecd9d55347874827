package graft.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Multiply, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, CentralMomentAgg, Count, Max, Min, StddevPop, StddevSamp, Sum, VariancePop, VarianceSamp}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{coalesce, col, greatest, lit, max => fmax, min => fmin, sqrt, sum => fsum, when}
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.wap.BranchCatalog

/** Materialized views with INCREMENTAL refresh (W56) — the missing rung
  * between W52's virtual views (re-executed on every read) and plain
  * tables (stale forever): a materialized view is an ordinary branch
  * table whose definition and source-snapshot watermarks live in its
  * branch-versioned table properties, plus a `refresh` that advances it.
  *
  * {{{
  *   CALL lake.system.create_mview('daily', 'SELECT lang, count(*) AS n
  *                                            FROM lake.main.docs GROUP BY lang')
  *   CALL lake.system.refresh_mview('daily')   -- after new appends
  *   SELECT * FROM lake.main.daily             -- reads a plain table
  * }}}
  *
  * Refresh picks the CHEAPEST sound mode by classifying the definition's
  * analyzed Catalyst plan (never by re-parsing SQL):
  *
  *  - `fresh`: every source is at its recorded snapshot — zero work.
  *  - `incremental`: a pure select/project/filter over ONE source whose
  *    window is provably APPEND-ONLY (every `from` manifest still present
  *    in `to`, no tombstones) — the definition re-executes over just the
  *    window's append delta (the relation is rewritten in-plan to a W46
  *    `graft.changes.from/to` windowed read, so in-window pruning
  *    applies) and the delta rows APPEND to the view. O(delta), the shape
  *    a 100 TB nightly pipeline needs.
  *  - `incremental_agg`: a single `GROUP BY` over such a source whose
  *    aggregates are all re-aggregatable (SUM/COUNT/MIN/MAX/AVG, no
  *    DISTINCT/FILTER): the delta is aggregated through the same windowed
  *    plan, unioned with the view's CURRENT (small) content and folded —
  *    COUNT and SUM by summing, MIN/MAX by min/max, AVG as the ratio of
  *    its (sum, count) decomposition, STDDEV/VARIANCE from their
  *    (sum, count, m2) decomposition via the parallel-variance identity —
  *    `create` materializes the decompositions as trailing
  *    `__<col>_sum`/`__<col>_cnt`/`__<col>_m2` companion columns of the
  *    view table ([[decomposeStats]]; visible to readers, recorded under
  *    [[CompanionsKey]]) — then the view is overwritten.
  *    O(delta + |view|), never O(source).
  *  - `incremental_join` (r13): a select/project/filter over INNER
  *    joins where the ONE stale source's window is append-only and the
  *    plan distributes over its delta ([[deltaDistributive]] — the
  *    textbook IVM join rewrite): Δview = the definition with the stale
  *    relation windowed, every other source pinned at its recorded
  *    snapshot; the delta APPENDS. O(delta ⋈ pinned sides). A GROUP BY
  *    on top of such a join folds through `incremental_agg` the same
  *    way. Self-joins (cross terms), outer joins (retro-matching), and
  *    multiple stale sources fall back to full.
  *  - `incremental_agg_dml` (r13): the window REWROTE files (deletes/
  *    updates/compactions) but every aggregate is SIGNABLE (SUM/COUNT,
  *    AVG via companions) and the view projects `count(*)`: the net
  *    changelog's inserts add and its deletes subtract through the same
  *    fold, emptied groups vanish via the count(*) filter —
  *    O(changed files + |view|) ([[tryChangelogFold]]).
  *  - `full`: everything else (self/outer joins, non-distributive aggregates,
  *    MIN/MAX or moment views over delete windows, expired watermarks) —
  *    recompute and overwrite. Correct by construction; the fallback is
  *    automatic, never an error.
  *
  * The watermarks recorded after any refresh are the snapshot ids the
  * ANALYZED plan pinned — the exact versions the content was computed
  * from — so a concurrent source commit during refresh is simply the
  * next refresh's delta. Views over views work (analysis expands a W52
  * view to its underlying tables); every source must be a graft table of
  * the same catalog root + branch (staleness of foreign/file sources is
  * untrackable, so create refuses them). */
object GraftMaterializedViews {

  val SqlKey = "graft.mview.sql"
  val SourcesKey = "graft.mview.sources"
  /** `statCol=kind:companion:...;...` — records which extra columns of
    * the materialized table decompose an AVG/STDDEV/VARIANCE output (see
    * [[decomposeStats]]); informational (refresh re-derives the
    * decomposition from the analyzed plan, which is deterministic). */
  val CompanionsKey = "graft.mview.companions"

  /** Create `name` on `branch`: materialize the query and record the
    * definition + source watermarks in the table's properties. */
  def create(spark: SparkSession, cat: BranchCatalog, name: String,
      query: String, branch: String): Unit = {
    require(!cat.tableExists(name, branch), s"table $name exists on $branch")
    val analyzed = spark.sql(query).queryExecution.analyzed
    val sources = sourceTables(analyzed, cat.root, branch)
    require(sources.nonEmpty,
      s"materialized view $name reads no table of this catalog on branch $branch — " +
        "nothing to track staleness against")
    val (plan, companions) = decomposeStats(analyzed)
    val df = Bridge.dataFrame(spark, plan)
    cat.createTableIfNotExists(name, df.schema, branch)
    cat.append(name, df, branch)
    cat.setTableProperties(name, Map(
      SqlKey -> query,
      SourcesKey -> sources.map { case (t, id) => s"$t=$id" }.mkString(";")) ++
      (if (companions.isEmpty) Map.empty[String, String]
       else Map(CompanionsKey -> companions.toSeq.sortBy(_._1)
         .map { case (c, d) => s"$c=${d.encoded}" }.mkString(";"))), branch)
  }

  /** Refresh `name`; returns the mode actually run: `fresh`,
    * `incremental`, `incremental_agg`, `incremental_agg_dml`, or
    * `full`. */
  def refresh(spark: SparkSession, cat: BranchCatalog, name: String,
      branch: String): String = {
    val props = cat.tableProperties(name, branch)
    val query = props.getOrElse(SqlKey, sys.error(
      s"$name on $branch is not a materialized view (no ${SqlKey} property)"))
    val recorded: Map[String, String] = props.getOrElse(SourcesKey, "").split(";")
      .filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1))
      }.toMap
    val analyzed0 = spark.sql(query).queryExecution.analyzed
    val pinned = sourceTables(analyzed0, cat.root, branch).toMap
    if (pinned == recorded) return "fresh"

    // re-derive the stat decomposition (deterministic from the plan); a
    // view materialized BEFORE decomposition existed lacks the companion
    // columns — keep its plan undecomposed so full recompute matches its
    // stored schema (its AVG/STDDEVs simply never fold)
    val (dec, comps) = decomposeStats(analyzed0)
    val storedCols = cat.schemaOfSnapshot(name,
      cat.snapshotIdOf(name, branch).getOrElse(sys.error(s"no table $name on $branch")))
      .fieldNames.toSet
    val (analyzed, companions) =
      if (comps.nonEmpty && comps.values.forall(_.cols.forall(storedCols.contains)))
        (dec, comps)
      else (analyzed0, Map.empty[String, Decomp])

    val stale = pinned.filter { case (t, id) => !recorded.get(t).contains(id) }
    val mode =
      if (stale.size == 1 && recorded.contains(stale.head._1)) {
        val (table, toId) = stale.head
        val fromId = recorded(table)
        if (cat.appendOnlyWindow(table, fromId, toId))
          tryIncremental(spark, cat, name, branch, analyzed, companions,
            table, fromId)
        else
          // the window REWROTE files (deletes/updates/compaction): a
          // SUM/COUNT/AVG aggregate still folds incrementally through
          // the net changelog — inserts add, deletes subtract
          tryChangelogFold(spark, cat, name, branch, analyzed, companions,
            table, fromId, toId)
      } else None
    mode.getOrElse {
      cat.overwrite(name, Bridge.dataFrame(spark, analyzed), branch)
      "full"
    } match {
      case m =>
        cat.setTableProperties(name, Map(
          SourcesKey -> pinned.map { case (t, id) => s"$t=$id" }.mkString(";")), branch)
        m
    }
  }

  /** CONTINUOUS maintenance (W56 × W63): a streaming query that runs
    * [[refresh]] whenever the view's FIRST source table commits, using
    * the CDC stream purely as the commit SIGNAL — the projection keeps
    * only `_commit_seq`, so each trigger reads ZERO base columns of the
    * changed files (the W63 pruned reader), and the refresh itself runs
    * the cheapest sound mode as always. Replayed triggers are free
    * (`fresh` short-circuits), so no exactly-once plumbing is needed;
    * multi-source views re-pin EVERY stale source on each trigger.
    * Content-neutral source commits (compactions) wake the query with
    * an empty batch that still refreshes — also `fresh`-cheap. Stop the
    * returned query to end maintenance. */
  def maintainContinuously(spark: SparkSession, cat: BranchCatalog,
      name: String, branch: String, catalogName: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val props = cat.tableProperties(name, branch)
    require(props.contains(SqlKey), s"$name on $branch is not a materialized view")
    val source = props.getOrElse(SourcesKey, "").split(";").filter(_.nonEmpty)
      .map(kv => kv.take(kv.indexOf('='))).headOption
      .getOrElse(sys.error(s"view $name records no source tables"))
    refresh(spark, cat, name, branch) // catch up on pre-stream commits
    spark.readStream
      .table(s"$catalogName.$branch.`$source$$changes`")
      .select(GraftChangesTable.CommitSeqCol)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        refresh(spark, cat, name, branch)
        ()
      }
      .start()
  }

  /** Drop the view's table and definition. */
  def drop(cat: BranchCatalog, name: String, branch: String): Unit = {
    require(cat.tableProperties(name, branch).contains(SqlKey),
      s"$name on $branch is not a materialized view — refusing to drop a plain table")
    cat.dropTable(name, branch) // drops the props in the same refs commit
    ()
  }

  // ---- classification ----

  private def tableOf(r: DataSourceV2Relation): Option[GraftTable] = r.table match {
    case t: GraftTable => Some(t)
    case _ => None
  }

  private def sourceTables(plan: LogicalPlan, root: String,
      branch: String): Seq[(String, String)] =
    plan.collect { case r: DataSourceV2Relation => r }.map { r =>
      tableOf(r).filter(t => t.root == root && t.branch == branch && !t.isTag)
        .map(t => t.tableName -> t.snapshotId)
        .getOrElse(sys.error(
          s"materialized view source ${r.table.name} is not a graft table of " +
            "this catalog root on the view's branch — staleness is untrackable"))
    }.distinct

  /** Pure select/project/filter over exactly one relation? */
  private def selectOnly(plan: LogicalPlan): Boolean = plan match {
    case _: DataSourceV2Relation => true
    case p: Project => selectOnly(p.child)
    case f: Filter => selectOnly(f.child)
    case s: SubqueryAlias => selectOnly(s.child)
    case _ => false
  }

  /** Does materializing `plan` DISTRIBUTE over an append delta of
    * `staleTable` — i.e. plan(A ∪ ΔA, B…) = plan(A, B…) ∪ plan(ΔA, B…)?
    * The standard IVM join shape: Project/Filter distribute; an INNER
    * join distributes over the union on WHICHEVER side holds the stale
    * relation, with every other source PINNED at its recorded snapshot
    * (guaranteed — refresh only takes this path when exactly one source
    * moved). Exactly one occurrence of the stale relation: a self-join's
    * delta has ΔA⋈A and ΔA⋈ΔA cross terms this rewrite would miss.
    * Outer joins do not distribute on the preserved side's opposite
    * (a new right row can retro-null-match an old left row), DISTINCT /
    * windows / limits do not distribute at all — every unlisted node
    * falls back to full recompute. */
  private def deltaDistributive(plan: LogicalPlan, staleTable: String): Boolean = {
    def occurrences(p: LogicalPlan): Int = p.collect {
      case r: DataSourceV2Relation if tableOf(r).exists(_.tableName == staleTable) => r
    }.size
    def walk(p: LogicalPlan): Boolean = p match {
      case _: DataSourceV2Relation => true // the stale leaf itself
      case pj: Project => walk(pj.child)
      case f: Filter => walk(f.child)
      case s: SubqueryAlias => walk(s.child)
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.Inner =>
        // recurse only along the stale path; the other side is a pinned
        // constant of this refresh
        if (occurrences(j.left) > 0) walk(j.left) else walk(j.right)
      case _ => false
    }
    occurrences(plan) == 1 && walk(plan)
  }

  /** How one non-re-aggregatable stat output folds from companion
    * columns the view table additionally materializes. */
  sealed trait Decomp { def cols: Seq[String]; def encoded: String }
  /** AVG = sum/cnt. */
  case class AvgDecomp(sum: String, cnt: String) extends Decomp {
    def cols = Seq(sum, cnt); def encoded = s"avg:$sum:$cnt"
  }
  /** stddev/variance from (sum, cnt, m2) via the parallel-variance
    * identity: m2_total = Σ(m2_i + sum_i²/cnt_i) − sum²/cnt.
    * `kind` ∈ var_pop | var_samp | std_pop | std_samp. */
  case class MomentDecomp(sum: String, cnt: String, m2: String,
      kind: String) extends Decomp {
    def cols = Seq(sum, cnt, m2); def encoded = s"$kind:$sum:$cnt:$m2"
  }

  /** Rewrite the analyzed plan of a foldable top-level GROUP BY so every
    * AVG / STDDEV / VARIANCE output ALSO materializes its exact partial
    * state as trailing `__<name>_sum` / `__<name>_cnt` (+ `__<name>_m2`
    * for moments) companion columns — what an incremental refresh needs
    * to fold these stats without re-reading the source (two groups'
    * averages or variances cannot merge without their weights).
    * Returns the plan unchanged when there is nothing to decompose (no
    * foldable top-level aggregate; DISTINCT/FILTER/decimal forms — those
    * fall back to full recompute), plus statCol -> its [[Decomp]]. */
  private def decomposeStats(plan: LogicalPlan): (LogicalPlan, Map[String, Decomp]) = {
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case s: SubqueryAlias => strip(s.child)
      case other => other
    }
    strip(plan) match {
      case agg: Aggregate if selectOnly(agg.child) =>
        def numeric(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
          !e.dataType.isInstanceOf[DecimalType] &&
            e.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
        val stats = agg.aggregateExpressions.flatMap {
          case a @ Alias(ae: AggregateExpression, _)
              if !ae.isDistinct && ae.filter.isEmpty =>
            ae.aggregateFunction match {
              case av: Average if numeric(av.child) => Some((a, av.child, "avg"))
              case m: CentralMomentAgg if numeric(m.child) =>
                val kind = m match {
                  case _: VariancePop => "var_pop"
                  case _: VarianceSamp => "var_samp"
                  case _: StddevPop => "std_pop"
                  case _: StddevSamp => "std_samp"
                  case _ => "" // skewness/kurtosis: third/fourth moments, not folded
                }
                if (kind.isEmpty) None else Some((a, m.child, kind))
              case _ => None
            }
          case _ => None
        }
        val existing = agg.aggregateExpressions.map(_.name).toSet
        def companionNames(name: String, kind: String): Seq[String] =
          Seq(s"__${name}_sum", s"__${name}_cnt") ++
            (if (kind == "avg") Nil else Seq(s"__${name}_m2"))
        if (stats.isEmpty || stats.exists { case (a, _, kind) => // name collision
            companionNames(a.name, kind).exists(existing.contains) })
          (plan, Map.empty)
        else {
          val extra = stats.flatMap { case (a, child, kind) =>
            Seq(
              Alias(Sum(child).toAggregateExpression(), s"__${a.name}_sum")(),
              Alias(Count(child).toAggregateExpression(), s"__${a.name}_cnt")()) ++
              (if (kind == "avg") Nil
               // m2 = var_pop * count — recovers Welford's running m2
               else Seq(Alias(Multiply(
                 VariancePop(child).toAggregateExpression(),
                 org.apache.spark.sql.catalyst.expressions.Cast(
                   Count(child).toAggregateExpression(),
                   org.apache.spark.sql.types.DoubleType)),
                 s"__${a.name}_m2")()))
          }
          (agg.copy(aggregateExpressions = agg.aggregateExpressions ++ extra),
            stats.map { case (a, _, kind) =>
              a.name -> (if (kind == "avg")
                AvgDecomp(s"__${a.name}_sum", s"__${a.name}_cnt"): Decomp
              else MomentDecomp(s"__${a.name}_sum", s"__${a.name}_cnt",
                s"__${a.name}_m2", kind))
            }.toMap)
        }
      case _ => (plan, Map.empty)
    }
  }

  /** One fold instruction per re-aggregatable output column, plus the
    * name of a `count(*)` output if the view has one (the zero-group
    * detector the changelog fold needs). */
  private def aggMerges(agg: Aggregate,
      companions: Map[String, Decomp],
      /** What shapes the aggregate's INPUT may take — [[selectOnly]] by
        * default; the append-only incremental path widens it to
        * [[deltaDistributive]] join trees. */
      childOk: LogicalPlan => Boolean = selectOnly)
      : Option[(Seq[String], Seq[(String, String)], Option[String])] = {
    if (!childOk(agg.child)) return None
    val groupSet = agg.groupingExpressions.map(_.canonicalized).toSet
    val matchedKeys = scala.collection.mutable.Set.empty[org.apache.spark.sql.catalyst.expressions.Expression]
    // the m2 companion is an Alias over Multiply(var_pop, count) — not a
    // bare AggregateExpression, so recognize it by name
    val m2Cols = companions.values.collect { case m: MomentDecomp => m.m2 }.toSet
    val groups = Seq.newBuilder[String]
    val merges = Seq.newBuilder[(String, String)]
    var countStar: Option[String] = None
    val ok = agg.aggregateExpressions.forall {
      case a: Alias if m2Cols.contains(a.name) =>
        merges += (a.name -> "m2"); true
      case a @ Alias(ae: AggregateExpression, _)
          if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case _: Sum => merges += (a.name -> "sum"); true
          case cnt: Count =>
            merges += (a.name -> "sum")
            // count over a non-null constant counts every row = count(*)
            val isStar = cnt.children.forall(e => e.foldable &&
              (try e.eval(org.apache.spark.sql.catalyst.expressions.EmptyRow) != null
               catch { case _: Exception => false }))
            if (isStar && countStar.isEmpty) countStar = Some(a.name)
            true
          case _: Min => merges += (a.name -> "min"); true
          case _: Max => merges += (a.name -> "max"); true
          case _: Average if companions.contains(a.name) =>
            // foldable via its decomposed companions: recomputed as their
            // ratio after the fold (the "stat" merge is a placeholder)
            merges += (a.name -> "stat"); true
          case _: CentralMomentAgg if companions.contains(a.name) =>
            merges += (a.name -> "stat"); true
          case _ => false // plain avg/collect/percentile…: not foldable from outputs
        }
      case ne: NamedExpression if groupSet.contains(ne.canonicalized) =>
        matchedKeys += ne.canonicalized; groups += ne.name; true
      case Alias(c, n) if groupSet.contains(c.canonicalized) =>
        matchedKeys += c.canonicalized; groups += n; true
      case _ => false // sum(x)+1 and friends: the fold key is not a column
    }
    val g = groups.result()
    val m = merges.result()
    // Every grouping expression must be projected: re-aggregating the
    // delta∪view union on a PARTIAL key set (e.g. `SELECT count(*) FROM t
    // GROUP BY lang`) would silently collapse distinct groups into one row.
    if (ok && m.nonEmpty && matchedKeys.size == groupSet.size)
      Some((g, m, countStar)) else None
  }

  private def windowed(plan: LogicalPlan, table: String,
      fromId: String): LogicalPlan = plan transform {
    case r: DataSourceV2Relation
        if tableOf(r).exists(_.tableName == table) =>
      val t = tableOf(r).get
      val opts = new java.util.HashMap[String, String](r.options)
      opts.put("graft.changes.from", fromId)
      opts.put("graft.changes.to", t.snapshotId)
      r.copy(options = new CaseInsensitiveStringMap(opts))
  }

  /** The two incremental modes; None = not classifiable, run full. */
  private def tryIncremental(spark: SparkSession, cat: BranchCatalog,
      name: String, branch: String, analyzed: LogicalPlan,
      companions: Map[String, Decomp],
      table: String, fromId: String): Option[String] = {
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case s: SubqueryAlias => strip(s.child)
      case other => other
    }
    strip(analyzed) match {
      case p if selectOnly(p) =>
        val delta = Bridge.dataFrame(spark, windowed(p, table, fromId))
        cat.append(name, delta, branch)
        Some("incremental")
      case p if deltaDistributive(p, table) =>
        // the IVM join delta: Δview = plan with the ONE stale relation
        // rewritten to its append window, every other source pinned —
        // Δ(A)⋈B appended, O(delta ⋈ pinned build side), never O(A⋈B)
        val delta = Bridge.dataFrame(spark, windowed(p, table, fromId))
        cat.append(name, delta, branch)
        Some("incremental_join")
      case agg: Aggregate =>
        aggMerges(agg, companions,
          childOk = c => selectOnly(c) || deltaDistributive(c, table))
          .map { case (groupCols, merges, _) =>
            val deltaAgg = Bridge.dataFrame(spark, windowed(agg, table, fromId))
            val combined = cat.scan(name, branch).unionByName(deltaAgg)
            foldAndOverwrite(cat, name, branch, combined, groupCols, merges,
              companions, deltaAgg.schema, emptyGroupFilter = None)
            "incremental_agg"
          }
      case _ => None
    }
  }

  /** Aggregate fold through a DELETE-containing window
    * ([[BranchCatalog.scanChangelog]]): the net changelog's INSERT rows
    * aggregate through the view's own plan, its DELETE rows likewise,
    * and the view folds view + insAgg − delAgg. SUM/COUNT and AVG (via
    * its sum/cnt companions) are SIGNABLE — subtracting departed rows is
    * exact arithmetic; this path needs a `count(*)` output as the
    * zero-group detector (groups whose rows all departed must VANISH).
    *
    * MIN/MAX and the moments are NOT signable (deleting the minimum
    * needs a rescan) — but only for the groups it can actually affect
    * (r15): a deleted value strictly ABOVE the group's current MIN
    * (below its MAX) cannot move the bound, so folding its delete row is
    * harmless BY DEFINITION. The fold therefore splits groups:
    *  - UNTOUCHED (no deleted value attains any bound): fold as usual —
    *    O(delta + |view|);
    *  - TOUCHED (a bound attained, a moment output present, or the
    *    group is unknown to the view): recompute those groups ONLY, by a
    *    semi-join of the source against the touched keys — O(touched
    *    groups' rows), never O(source groups).
    * Emptied groups always delete their own bound, so they are always
    * touched and the rescan drops them — no count(*) needed on this
    * path. Restricted to bare-column GROUP BY keys (a computed key
    * cannot semi-join the source); others fall back to full. */
  private def tryChangelogFold(spark: SparkSession, cat: BranchCatalog,
      name: String, branch: String, analyzed: LogicalPlan,
      companions: Map[String, Decomp],
      table: String, fromId: String, toId: String): Option[String] = {
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case s: SubqueryAlias => strip(s.child)
      case other => other
    }
    strip(analyzed) match {
      case agg: Aggregate =>
        aggMerges(agg, companions).flatMap { case (groupCols, merges, countStar) =>
          val minMaxCols = merges.collect { case (c, k) if k == "min" || k == "max" => (c, k) }
          // moment outputs (and their m2 companions) have no bound test —
          // every delete-group rescans when any is present
          val rescanAllDeleted = merges.exists { case (c, k) =>
            k == "m2" || (k == "stat" && companions.get(c).exists(_.isInstanceOf[MomentDecomp]))
          }
          val signable = merges.forall { case (c, k) =>
            k == "sum" || (k == "stat" && companions.get(c).exists(_.isInstanceOf[AvgDecomp]))
          }
          val foldableKinds = merges.forall { case (c, k) =>
            k == "sum" || k == "min" || k == "max" || k == "m2" ||
              (k == "stat" && companions.contains(c))
          }
          // the rescan path semi-joins the SOURCE on the group keys, so
          // each key must be a bare source column (possibly aliased)
          lazy val keyPairs: Option[Seq[(String, String)]] = {
            val gset = agg.groupingExpressions.map(_.canonicalized).toSet
            val pairs = agg.aggregateExpressions.flatMap {
              case ne: NamedExpression if gset.contains(ne.canonicalized) => ne match {
                case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
                  Seq(a.name -> a.name)
                case Alias(a: org.apache.spark.sql.catalyst.expressions.AttributeReference, n) =>
                  Seq(n -> a.name)
                case _ => Nil
              }
              case _ => Nil
            }
            if (pairs.map(_._1).toSet == groupCols.toSet) Some(pairs) else None
          }
          val rel = agg.collectFirst {
            case r: DataSourceV2Relation if tableOf(r).exists(_.tableName == table) => r
          }
          val usable = rel.isDefined && foldableKinds &&
            (if (signable) countStar.isDefined
             else groupCols.nonEmpty && keyPairs.isDefined)
          // tombstones, expiry or a pre-field-id schema change: full
          if (!usable) None
          else cat.changelogIfReadable(table, fromId, toId).flatMap { cl =>
            def aggOver(rows: DataFrame): DataFrame =
              Bridge.dataFrame(spark, substituted(agg, rel.get, rows))
            val ins = aggOver(cl.filter(col("_change_type") === "insert")
              .drop("_change_type"))
            // cached: the split fold consumes delRaw three times (the
            // NULL-key probe, the touched join, the signed del leg) —
            // without the cache each action re-runs the changelog scan
            val delRaw = aggOver(cl.filter(col("_change_type") === "delete")
              .drop("_change_type"))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
            val mvSchema = ins.schema
            // departed rows SUBTRACT: negate every summed column (counts
            // and companion sums included); stat placeholders recompute
            // from companions after the fold anyway
            val sumCols = merges.collect { case (c, "sum") => c }.toSet
            val del = delRaw.select(mvSchema.fields.toSeq.map { f =>
              (if (sumCols(f.name)) (-col(f.name)).cast(f.dataType) else col(f.name))
                .as(f.name)
            }: _*)
            val view = cat.scan(name, branch)
            if (signable) {
              val combined = view.unionByName(ins).unionByName(del)
              foldAndOverwrite(cat, name, branch, combined, groupCols, merges,
                companions, mvSchema,
                emptyGroupFilter = Some(col(countStar.get) > 0))
              Some("incremental_agg_dml")
            } else if (groupCols.nonEmpty &&
                !delRaw.filter(groupCols.map(col(_).isNull).reduce(_ || _)).isEmpty) {
              // the touched/anti/semi joins below all use plain equality,
              // which can never see a NULL group key: the stale view row
              // would survive the anti-joins while the rescan semi-join
              // never re-derives it. NULL-keyed deletes -> full refresh.
              None
            } else {
              // split fold: delRaw's per-group values ARE the deleted
              // rows' bounds — join them to the view to find the groups
              // a delete can affect
              val viewBounds = view.select((groupCols.map(col) ++
                minMaxCols.map { case (c, _) => col(c).as(s"__v_$c") }).toIndexedSeq: _*)
              val joined = delRaw.join(viewBounds, groupCols.toIndexedSeq, "left")
              val viewKnown = minMaxCols.headOption
                .map { case (c, _) => col(s"__v_$c") }
              val touchedCond =
                if (rescanAllDeleted) lit(true)
                else minMaxCols.map { case (c, k) =>
                  val attained =
                    if (k == "min") col(c) <= col(s"__v_$c") else col(c) >= col(s"__v_$c")
                  viewKnown.map(_.isNull).getOrElse(lit(false)) ||
                    (col(c).isNotNull && coalesce(attained, lit(false)))
                }.reduce(_ || _)
              val touched = joined.filter(touchedCond)
                .select(groupCols.map(col).toIndexedSeq: _*).distinct()
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              try {
                val pairs = keyPairs.get
                val srcKeys = touched.select(pairs.map(p => col(p._1).as(p._2)).toIndexedSeq: _*)
                val rescan = aggOver(cat.scanSnapshot(table, toId)
                  .join(srcKeys, pairs.map(_._2).toIndexedSeq, "left_semi"))
                def anti(df: DataFrame): DataFrame =
                  df.join(touched, groupCols.toIndexedSeq, "left_anti")
                val combined = anti(view).unionByName(anti(ins)).unionByName(anti(del))
                  .unionByName(rescan)
                // emptied groups always attain their own bounds -> always
                // touched -> the rescan drops them; no count(*) needed
                foldAndOverwrite(cat, name, branch, combined, groupCols, merges,
                  companions, mvSchema, emptyGroupFilter = None)
              } finally { touched.unpersist(); () }
              Some("incremental_agg_dml")
            }
            } finally { delRaw.unpersist(); () }
          }
        }
      case _ => None
    }
  }

  /** Substitute the plan's source relation with an arbitrary frame whose
    * columns match by name (exprIds re-anchored onto the relation's, so
    * everything above the swap resolves unchanged). */
  private def substituted(plan: LogicalPlan, rel: DataSourceV2Relation,
      rows: DataFrame): LogicalPlan = {
    val src = rows.queryExecution.analyzed
    val byName = src.output.map(a => a.name -> a).toMap
    val proj = Project(rel.output.map(o =>
      Alias(byName(o.name), o.name)(exprId = o.exprId)), src)
    plan transform { case r: DataSourceV2Relation if r eq rel => proj }
  }

  /** The shared fold: re-aggregate the view∪delta union on the group
    * keys, recompute stat outputs from their folded companions, align
    * to the view's schema, and overwrite. `emptyGroupFilter` drops
    * groups the changelog fold emptied. */
  private def foldAndOverwrite(cat: BranchCatalog, name: String,
      branch: String, combined: DataFrame, groupCols: Seq[String],
      merges: Seq[(String, String)], companions: Map[String, Decomp],
      mvSchema: org.apache.spark.sql.types.StructType,
      emptyGroupFilter: Option[org.apache.spark.sql.Column]): Unit = {
    val m2Parents: Map[String, MomentDecomp] = companions.values
      .collect { case m: MomentDecomp => m.m2 -> m }.toMap
    val folds = merges.map {
      case (c, "sum") => fsum(col(c)).as(c)
      case (c, "min") => fmin(col(c)).as(c)
      // m2 partial per parallel-variance: Σ(m2_i + sum_i²/cnt_i);
      // the −sum²/cnt correction lands in the projection below
      // (all-null partials contribute NULL → skipped by the sum)
      case (c, "m2") =>
        val d = m2Parents(c)
        fsum(col(c) + col(d.sum).cast("double") * col(d.sum).cast("double") /
          col(d.cnt).cast("double")).as(c)
      // "stat" (AVG/STDDEV/VARIANCE): placeholder through the fold,
      // recomputed below from the folded companions
      case (c, _) => fmax(col(c)).as(c)
    }
    val reagg =
      if (groupCols.isEmpty) combined.agg(folds.head, folds.tail: _*)
      else combined.groupBy(groupCols.map(col): _*).agg(folds.head, folds.tail: _*)
    // fold widening (sum over sum) casts back to the view's types,
    // in the view's column order. Stat outputs recompute from their
    // folded companions — AVG as sum/cnt (exact where the sums are
    // exact), moments from the corrected m2 (clamped at 0 against
    // rounding) with Spark's own NULL semantics (samp: cnt<2, pop:
    // cnt=0 — all-null groups answer NULL, like the stats
    // themselves). The m2 companion column itself stores the
    // CORRECTED total, so the next fold starts from true state.
    def dbl(c: String) = col(c).cast("double")
    def m2Final(d: MomentDecomp) = greatest(
      col(d.m2) - dbl(d.sum) * dbl(d.sum) / dbl(d.cnt), lit(0.0))
    val kept = emptyGroupFilter.fold(reagg)(reagg.filter)
    val aligned = kept.select(mvSchema.fields.toSeq.map { f =>
      (companions.get(f.name), m2Parents.get(f.name)) match {
        case (Some(AvgDecomp(s, k)), _) =>
          when(col(k).isNull || col(k) === 0, lit(null))
            .otherwise(col(s).cast("double") / col(k).cast("double"))
            .cast(f.dataType).as(f.name)
        case (Some(d: MomentDecomp), _) =>
          val n = dbl(d.cnt)
          val base = d.kind match {
            case "var_pop" => when(n < 1, lit(null)).otherwise(m2Final(d) / n)
            case "var_samp" => when(n < 2, lit(null)).otherwise(m2Final(d) / (n - 1))
            case "std_pop" => when(n < 1, lit(null)).otherwise(sqrt(m2Final(d) / n))
            case _ => when(n < 2, lit(null)).otherwise(sqrt(m2Final(d) / (n - 1)))
          }
          base.cast(f.dataType).as(f.name)
        case (_, Some(d)) => // the m2 companion: store corrected total
          when(dbl(d.cnt) < 1, lit(null)).otherwise(m2Final(d))
            .cast(f.dataType).as(f.name)
        case _ => col(f.name).cast(f.dataType).as(f.name)
      }
    }: _*)
    cat.overwrite(name, aligned, branch)
    ()
  }
}
