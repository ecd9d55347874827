package graft.quality

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpecBase
import graft.wap.{AuditScope, BranchCatalog, BufferAlerter, Wap}

/** The WAP audit answers a `NotNull`/`RowCountMin` suite from exact
  * manifest row and null counts ([[Audit.fromMetadata]]) and submits no
  * Spark job; every report equals [[Audit.run]]'s over the scanned scope,
  * and any suite or table state the metadata cannot decide exactly runs
  * that scan instead. */
class AuditMetadataSpec extends SparkSpecBase {

  private def freshCat(): BranchCatalog =
    new BranchCatalog(spark, Files.createTempDirectory("audit-meta").toString)

  /** `n` rows with ids from `lo`; the first `nulls` have a NULL `x`. */
  private def batch(lo: Long, n: Long, nulls: Long): DataFrame =
    spark.range(lo, lo + n, 1, 2).select(col("id"),
      when(col("id") < lo + nulls, lit(null).cast("string"))
        .otherwise(concat(lit("v"), col("id"))).as("x"),
      (col("id") % 3).as("k"))

  /** Table `t` with `main` on main and branch `b` forked from it. */
  private def forked(main: DataFrame): BranchCatalog = {
    val cat = freshCat()
    cat.createTableIfNotExists("t", main.schema)
    cat.append("t", main)
    cat.createBranch("b", from = "main")
    cat
  }

  /** Audits and publishes branch `b`: the report WAP acted on, the report
    * of [[Audit.run]] (plus the cross checks) over the same scanned scope,
    * and the Spark jobs the audit-and-publish step submitted. The scan
    * report is taken first, because a publish drops the branch. */
  private def audit(cat: BranchCatalog, checks: Seq[Expect],
      scope: AuditScope = AuditScope.Delta,
      cross: Seq[CrossCheck] = Nil): (AuditReport, AuditReport, Int) = {
    val scanned = scope match {
      case AuditScope.Delta => cat.scanBranchDelta("t", "b")
      case AuditScope.FullTable => cat.scan("t", "b")
    }
    val base = Audit.run(scanned, checks)
    val want = base.copy(checks = base.checks ++ cross.map(_.run(scanned)))
    val alerter = new BufferAlerter
    val (res, jobs) = jobsDuring(Wap.auditAndPublish(cat, "t", "b", checks, cross,
      scope, alerter, dropBranchOnPublish = true))
    assert(res.published == want.passed)
    assert(alerter.alerts.map(_._3) == (if (want.passed) Nil else Seq(res.report)))
    (res.report, want, jobs)
  }

  private def assertSame(got: AuditReport, want: AuditReport): Unit = {
    assert(got.rows == want.rows)
    assert(got.checks.map(_.name) == want.checks.map(_.name))
    assert(got.checks.map(_.passed) == want.checks.map(_.passed))
    assert(got.checks.map(_.violations) == want.checks.map(_.violations))
  }

  /** The report comes from metadata: equal to the scan's, no Spark job. */
  private def fromMetadata(cat: BranchCatalog, checks: Seq[Expect],
      scope: AuditScope = AuditScope.Delta): AuditReport = {
    val (got, want, jobs) = audit(cat, checks, scope)
    assertSame(got, want)
    assert(jobs == 0)
    got
  }

  /** The report comes from the scan: equal to it, with Spark jobs run. */
  private def fromScan(cat: BranchCatalog, checks: Seq[Expect]): AuditReport = {
    val (got, want, jobs) = audit(cat, checks)
    assertSame(got, want)
    assert(jobs > 0)
    got
  }

  private val notNullX = Seq(NotNull("x"))

  test("a clean NotNull delta audit submits no Spark job and publishes") {
    val cat = forked(batch(0, 50, 0))
    cat.append("t", batch(100, 100, 0), "b")
    val r = fromMetadata(cat, notNullX)
    assert(r.passed && r.rows == 100L)
    assert(cat.scan("t").count() == 150L)
  }

  test("faulty and all-NULL batches: the metadata report equals the scan's") {
    val faulty = forked(batch(0, 50, 0))
    faulty.append("t", batch(100, 100, 5), "b")
    val r1 = fromMetadata(faulty, notNullX)
    assert(!r1.passed && r1.checks.head.violations == 5L)
    assert(faulty.listBranches().contains("b"))

    val allNull = forked(batch(0, 50, 0))
    allNull.append("t", batch(100, 40, 40), "b")
    assert(fromMetadata(allNull, notNullX).checks.head.violations == 40L)
  }

  test("an empty delta and two appends on one branch") {
    val empty = forked(batch(0, 50, 3))
    val r0 = fromMetadata(empty, notNullX :+ RowCountMin(1))
    assert(r0.rows == 0L && r0.checks.map(_.violations) == Seq(0L, 1L))

    val two = forked(batch(0, 50, 0))
    two.append("t", batch(100, 60, 2), "b")
    two.append("t", batch(200, 30, 4), "b")
    val r2 = fromMetadata(two, notNullX)
    assert(r2.rows == 90L && r2.checks.head.violations == 6L)
  }

  test("FullTable scope counts pre-existing dirt from the branch head's metadata") {
    val cat = forked(batch(0, 50, 3))
    cat.append("t", batch(100, 100, 0), "b")
    val r = fromMetadata(cat, notNullX, AuditScope.FullTable)
    assert(r.rows == 150L && r.checks.head.violations == 3L)
  }

  test("RowCountMin passes and fails from metadata") {
    val pass = forked(batch(0, 50, 0))
    pass.append("t", batch(100, 100, 0), "b")
    assert(fromMetadata(pass, Seq(RowCountMin(100), NotNull("k"))).passed)

    val fail = forked(batch(0, 50, 0))
    fail.append("t", batch(100, 100, 0), "b")
    val r = fromMetadata(fail, Seq(RowCountMin(101)))
    assert(!r.passed && r.checks.head.violations == 1L)
  }

  test("an empty suite with a cross check: rows from metadata, the cross check on the scan") {
    val cat = forked(batch(0, 50, 0))
    cat.append("t", batch(100, 100, 0), "b")
    val dim = spark.range(0, 2).toDF("k")
    val (got, want, jobs) = audit(cat, Nil,
      cross = Seq(OrphanCheck(() => dim, "k", "k")))
    assertSame(got, want)
    assert(!got.passed && got.rows == 100L)
    assert(jobs > 0)
  }

  test("suites and names the metadata cannot decide run the scan") {
    val unique = forked(batch(0, 50, 0))
    unique.append("t", batch(100, 100, 0), "b")
    assert(fromScan(unique, notNullX :+ UniqueKey("id")).passed)

    val expr = forked(batch(0, 50, 0))
    expr.append("t", batch(100, 100, 5), "b")
    assert(fromScan(expr, Seq(NotNull("upper(x)"))).checks.head.violations == 5L)

    // Spark resolves names case-insensitively; the manifests key stats by
    // the exact field name
    val upper = forked(batch(0, 50, 0))
    upper.append("t", batch(100, 100, 5), "b")
    assert(fromScan(upper, Seq(NotNull("X"))).checks.head.violations == 5L)
  }

  test("pending position sidecars and imported files run the scan") {
    val sidecars = forked(batch(0, 50, 0))
    sidecars.append("t", batch(100, 100, 5), "b")
    sidecars.deleteWherePositional("t", col("id") % 10 === 7, "b")
    val r = fromScan(sidecars, notNullX)
    assert(r.rows == 90L && r.checks.head.violations == 5L)

    val imported = forked(batch(0, 50, 0))
    val ext = Files.createTempDirectory("audit-meta-ext").resolve("files").toString
    batch(100, 100, 5).write.parquet(ext)
    imported.addDataFiles("t", ext, "b")
    assert(fromScan(imported, notNullX).checks.head.violations == 5L)
  }

  test("an unknown or dropped column still fails analysis") {
    val unknown = forked(batch(0, 50, 0))
    intercept[AnalysisException] {
      Wap.auditAndPublish(unknown, "t", "b", Seq(NotNull("nope")), Nil,
        AuditScope.Delta, new BufferAlerter, dropBranchOnPublish = true)
    }

    // the delta's manifests still carry null counts for the dropped column
    val dropped = forked(batch(0, 50, 0))
    dropped.append("t", batch(100, 100, 0), "b")
    dropped.evolveSchema("t",
      StructType(batch(0, 1, 0).schema.filterNot(_.name == "k")), "b")
    intercept[AnalysisException] {
      Wap.auditAndPublish(dropped, "t", "b", Seq(NotNull("k")), Nil,
        AuditScope.Delta, new BufferAlerter, dropBranchOnPublish = true)
    }
    assert(dropped.listBranches().contains("b"))
  }

  test("NotNull is decided from metadata only for a name that parses as one column") {
    val answer = (aggs: Seq[graft.wap.MetaAgg]) => Some(aggs.map(_ => 10L))
    assert(Audit.fromMetadata(Seq(NotNull("x")), answer).exists(_.passed))
    // `expr` reads these as a nested path, a function call and a literal
    Seq("x.y", "upper(x)", "null", "`x`").foreach { c =>
      assert(Audit.fromMetadata(Seq(NotNull(c)), answer).isEmpty, c)
    }
    assert(Audit.fromMetadata(Seq(UniqueKey("x")), answer).isEmpty)
  }
}
