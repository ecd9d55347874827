package graft.quality

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.functions._

import graft.wap.MetaAgg

/** Data-quality expectations — the audit step of WAP (reference
  * app.py:201-246 checks IsNull on one column; quality_app.py:42-77
  * computes row/null counts). Widened into a composable suite.
  *
  * A suite is answered from metadata first, else by one aggregation pass.
  * [[Audit.fromMetadata]] decides `NotNull` and `RowCountMin` from exact
  * manifest row and null counts, with no Spark job, as the reference's
  * PyIceberg scan plans an IsNull filter against its manifests. Any other
  * suite goes to [[Audit.run]]: every expectation compiles to a
  * *violation-count aggregate column*, so an arbitrary suite is ONE
  * aggregation over ONE pass of the data with map-side partial
  * aggregation (two Spark jobs under AQE: the map stage and the result
  * stage) — at 100 TB the audit costs a single scan no matter how many
  * checks are attached.
  */
sealed trait Expect {
  def name: String
  /** Aggregate expression counting violating rows (0 == check passes). */
  def violations: Column
}

/** reference app.py:219 `IsNull(target_column)` — no NULLs allowed. */
case class NotNull(col: String) extends Expect {
  val name = s"not_null($col)"
  def violations: Column = sum(when(expr(col).isNull, 1L).otherwise(0L))
}

/** Column must be unique (duplicate rows counted as violations). */
case class UniqueKey(col: String) extends Expect {
  val name = s"unique_key($col)"
  def violations: Column = count(expr(col)) - countDistinct(expr(col))
}

/** Values must fall in [lo, hi]. */
case class ValueRange(col: String, lo: Double, hi: Double) extends Expect {
  val name = s"value_range($col)"
  def violations: Column =
    sum(when(expr(col) < lo || expr(col) > hi, 1L).otherwise(0L))
}

/** Values restricted to an accepted set. */
case class AcceptedValues(col: String, values: Seq[String]) extends Expect {
  val name = s"accepted_values($col)"
  def violations: Column =
    sum(when(!expr(col).isin(values.map(lit): _*), 1L).otherwise(0L))
}

/** Table must have at least minRows rows. */
case class RowCountMin(minRows: Long) extends Expect {
  val name = s"row_count_min($minRows)"
  def violations: Column = when(count(lit(1)) < minRows, 1L).otherwise(0L)
}

/** Newest timestamp must be >= the given bound (data freshness). */
case class Freshness(col: String, minTs: String) extends Expect {
  val name = s"freshness($col)"
  def violations: Column =
    when(max(expr(col)) < lit(minTs).cast("timestamp_ntz"), 1L).otherwise(0L)
}

case class CheckResult(name: String, passed: Boolean, violations: Long)

case class AuditReport(rows: Long, checks: Seq[CheckResult]) {
  def passed: Boolean = checks.forall(_.passed)
  def failed: Seq[CheckResult] = checks.filterNot(_.passed)
}

object Audit {

  /** Run the whole suite in a single aggregation pass over `df`. */
  def run(df: DataFrame, expects: Seq[Expect]): AuditReport = {
    val aggs = count(lit(1)).as("__rows") +:
      expects.zipWithIndex.map { case (e, i) => coalesce(e.violations, lit(0L)).cast("long").as(s"__v$i") }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val n = row.getLong(0)
    AuditReport(n, expects.zipWithIndex.map { case (e, i) =>
      val v = row.getLong(i + 1)
      CheckResult(e.name, v == 0L, v)
    })
  }

  /** The suite's report from exact metadata aggregates, or None when a
    * check needs the data. `answer` evaluates [[MetaAgg]]s over the
    * audited rows, or refuses with None (as
    * [[graft.wap.BranchCatalog.metaAggregateDelta]] does whenever the
    * metadata is not exact). `NotNull(c)` counts `CountStar - CountCol(c)`
    * violations and `RowCountMin(n)` one when `CountStar < n`; any other
    * expectation returns None. `NotNull` is answered only for a plain
    * column name: an expression or nested path (`upper(x)`, `s.a`) keeps
    * the scan, and `answer` must refuse a name that is not exactly a
    * top-level field, so an unknown or dropped column still fails
    * analysis there. The report equals [[run]]'s over the same rows. */
  def fromMetadata(
      expects: Seq[Expect], answer: Seq[MetaAgg] => Option[Seq[Any]]): Option[AuditReport] = {
    val decidable = expects.forall {
      case NotNull(c) => plainColumn(c)
      case _: RowCountMin => true
      case _ => false
    }
    val cols = expects.collect { case NotNull(c) => c }.distinct
    if (!decidable) None
    else answer(MetaAgg.CountStar +: cols.map(MetaAgg.CountCol)).map { values =>
      val counts = values.map(_.asInstanceOf[Long])
      val rows = counts.head
      val nonNull = cols.zip(counts.tail).toMap
      val violations = expects.collect {
        case NotNull(c) => rows - nonNull(c)
        case RowCountMin(n) => if (rows < n) 1L else 0L
      }
      AuditReport(rows, expects.zip(violations).map { case (e, v) =>
        CheckResult(e.name, v == 0L, v)
      })
    }
  }

  /** Does `expr(c)` read exactly the top-level column named `c`? */
  private def plainColumn(c: String): Boolean =
    Try(CatalystSqlParser.parseExpression(c)).toOption.exists {
      case UnresolvedAttribute(Seq(n)) => n == c
      case _ => false
    }

  /** Report as a DataFrame (check_name, passed, violations) for dashboards
    * and the driver's oracle compare. */
  def reportDF(spark: SparkSession, report: AuditReport): DataFrame = {
    import spark.implicits._
    report.checks.map(c => (c.name, c.passed, c.violations))
      .toDF("check_name", "passed", "violations")
  }
}

/** Quality-dashboard metrics (reference quality_app.py): row counts and
  * per-column null counts, computed in one pass via a union-free stack. */
object Metrics {
  /** (column_name, null_count) per column plus ("__rows", row_count),
    * all from a single aggregate. */
  def nullCounts(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("__rows") +:
      cols.map(c => sum(when(expr(c).isNull, 1L).otherwise(0L)).as(c))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val pairs = struct(lit("__rows").as("column_name"), expr("__rows").as("null_count")) +:
      cols.map(c => struct(lit(c).as("column_name"), expr(s"`$c`").cast("long").as("null_count")))
    one.select(explode(array(pairs: _*)).as("kv"))
      .select(col("kv.column_name").as("column_name"), col("kv.null_count").as("null_count"))
  }

  /** Append-rate anomaly detection over a table's commit history,
    * METADATA ONLY (manifest row sums — no data scanned): a commit is
    * anomalous when its rowsAdded deviates from the median of the history
    * by more than `k` median-absolute-deviations. The alarm a 100 TB
    * ingest pipeline wants for "the upstream sent 100x too much / an
    * empty batch" — evaluated in microseconds regardless of table size. */
  def appendAnomalies(
      spark: org.apache.spark.sql.SparkSession,
      catalog: graft.wap.BranchCatalog,
      table: String, branch: String = "main", k: Double = 4.0): DataFrame = {
    import spark.implicits._
    val commits = catalog.commitHistory(table, branch).filter(_.rowsAdded > 0 )
    val rates = commits.map(_.rowsAdded.toDouble).sorted
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0
      else if (xs.size % 2 == 1) xs(xs.size / 2)
      else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2.0
    val med = median(rates)
    val mad = math.max(median(rates.map(r => math.abs(r - med)).sorted), 1e-9)
    commits.map { c =>
      (c.snapshotId, c.committedAtMillis, c.rowsAdded, c.filesAdded,
        math.abs(c.rowsAdded - med) / mad > k)
    }.toDF("snapshot_id", "committed_at_millis", "rows_added", "files_added", "anomalous")
  }
}
