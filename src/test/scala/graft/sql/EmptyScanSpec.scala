package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpecBase
import graft.quality.{Audit, NotNull, UniqueKey, ValueRange}
import graft.wap.BranchCatalog

/** A catalog scan whose files are all pruned away — the WAP audit's
  * `scan(t, b, Some(col(c).isNull))` over a clean batch — is an empty
  * local relation, so `collect`/`isEmpty` and, through
  * [[GraftMetaAggStrategy]], a global aggregate over it run no Spark
  * job. The folded row must be the one Spark computes for no input;
  * every aggregate the fold refuses keeps Spark's plan and its result. */
class EmptyScanSpec extends SparkSpecBase {

  /** A catalog holding `t` (id, n, s): two appends with no NULL. */
  private def catalog(): BranchCatalog = {
    val cat = new BranchCatalog(spark, Files.createTempDirectory("empty-scan").toString)
    val rows = spark.range(0, 40).select(col("id"), (col("id") % 7).as("n"),
      concat(lit("s"), (col("id") % 5).cast("string")).as("s"))
    cat.createTableIfNotExists("t", rows.schema)
    cat.append("t", rows.filter(col("id") < 20))
    cat.append("t", rows.filter(col("id") >= 20))
    cat
  }

  /** The scan whose NULL filter the files' null counts prune whole. */
  private def pruned(cat: BranchCatalog): DataFrame =
    cat.scan("t", "main", Some(col("n").isNull))

  /** No row of `schema`, read through an RDD, so Spark plans and runs
    * every aggregate over it itself. */
  private def sparkEmpty(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private def localOnly(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan
    plan.isInstanceOf[LocalTableScanExec] && plan.children.isEmpty
  }

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a fully pruned scan counts 0 with no Spark job") {
    val cat = catalog()
    assert(cat.prunedDataFiles("t", col("n").isNull).isEmpty, "null counts prune every file")
    val (n, jobs) = jobsDuring(pruned(cat).select("id", "n").count())
    assert(n == 0L)
    assert(jobs == 0, s"count over a fully pruned scan ran $jobs Spark jobs")
    // the same check where a file does hold a match still scans it
    val (hit, _) = jobsDuring(cat.scan("t", "main", Some(col("id") === 3L)).count())
    assert(hit == 1L)
  }

  test("isEmpty and collect over a fully pruned scan run no Spark job") {
    val cat = catalog()
    val (empty, j1) = jobsDuring(pruned(cat).isEmpty)
    val (rows, j2) = jobsDuring(pruned(cat).filter(col("s") === "s1").select("id").collect())
    assert(empty && rows.isEmpty)
    assert(j1 == 0 && j2 == 0, s"isEmpty ran $j1 jobs, collect ran $j2")
  }

  test("the folded empty-input row equals Spark's, ANSI on and off") {
    val cat = catalog()
    val list =
      """count(*), count(n), sum(n), avg(n), min(n), max(s), first(n),
        |stddev(n), count(DISTINCT n), count(*) FILTER (WHERE n > 1),
        |sum(n) FILTER (WHERE n > 1), count(*) + 1, coalesce(max(id), -1)""".stripMargin
    for (ansi <- Seq(false, true)) withAnsi(ansi) {
      pruned(cat).createOrReplaceTempView("graft_pruned")
      sparkEmpty(pruned(cat).schema).createOrReplaceTempView("spark_empty")
      val folded = spark.sql(s"SELECT $list FROM graft_pruned")
      assert(localOnly(folded), s"ansi=$ansi: expected the fold, got:\n${folded.queryExecution.executedPlan}")
      val (got, jobs) = jobsDuring(folded.collect().toSeq)
      val (want, sparkJobs) = jobsDuring(spark.sql(s"SELECT $list FROM spark_empty").collect().toSeq)
      assert(got == want, s"ansi=$ansi")
      assert(got.head.getLong(0) == 0L && got.head.isNullAt(2) && got.head.getLong(11) == 1L)
      assert(jobs == 0 && sparkJobs > 0, s"ansi=$ansi: fold ran $jobs jobs, Spark $sparkJobs")
    }
  }

  test("imperative aggregates and subqueries keep Spark's plan and result") {
    val cat = catalog()
    pruned(cat).createOrReplaceTempView("graft_pruned")
    sparkEmpty(pruned(cat).schema).createOrReplaceTempView("spark_empty")
    for (list <- Seq("approx_count_distinct(n)", "percentile_approx(n, 0.5)",
        "collect_list(s)", "count(*) + (SELECT max(id) FROM range(3))")) {
      val q = spark.sql(s"SELECT $list FROM graft_pruned")
      assert(!localOnly(q), s"$list must not fold:\n${q.queryExecution.executedPlan}")
      assert(q.collect().toSeq == spark.sql(s"SELECT $list FROM spark_empty").collect().toSeq, list)
    }
    // an error folds into nothing: the query still plans and explains,
    // and fails only when it runs
    withAnsi(on = true) {
      val q = spark.sql("SELECT count(*) div 0 FROM graft_pruned")
      assert(!localOnly(q))
      assert(q.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode).nonEmpty)
      val e = intercept[Exception](q.collect())
      assert(String.valueOf(e.getMessage).contains("DIVIDE_BY_ZERO"), e.getMessage)
    }
  }

  test("an audit of an empty branch delta runs no Spark job") {
    val cat = catalog()
    cat.createBranch("audit")
    val delta = cat.scanBranchDelta("t", "audit")
    val (report, jobs) = jobsDuring(Audit.run(delta,
      Seq(NotNull("n"), UniqueKey("id"), ValueRange("n", 0, 6))))
    assert(report.rows == 0L && report.passed)
    assert(jobs == 0, s"the empty-delta audit ran $jobs Spark jobs")
  }
}
