package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

import graft.{SparkSpecBase, Tables}
import graft.wap.{BranchCatalog, PartitionSpec}

/** W57 — reported per-partition ordering: bucket-partitioned tables the
  * partitioned sorted compaction stamped (one sorted file per bucket)
  * report ascending order on their sort columns through
  * `SupportsReportOrdering`, so two co-bucketed sort-compacted tables
  * SORT-MERGE JOIN with neither an exchange NOR a sort on either side. */
class OrderedSpjSpec extends SparkSpecBase {

  private var n = 0
  private def register(): (String, BranchCatalog) = {
    n += 1
    val name = s"ospj$n"
    val root = Files.createTempDirectory("ospj").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, new BranchCatalog(spark, root))
  }

  private def withSpjConfs[T](body: => T): T = {
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled" ->
        spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.enabled" -> spark.conf.getOption("spark.sql.adaptive.enabled"))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def unwrap(plan: SparkPlan): SparkPlan = plan match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  private def docs(hi: Long): DataFrame =
    Tables.documents(spark, sfDir).filter(col("doc_id") < hi)

  private def mkSortedBucketed(cat: BranchCatalog, table: String, df: DataFrame): Unit = {
    val spec = PartitionSpec.parse("bucket(8,doc_id)")
    cat.createTableIfNotExists(table, df.schema, spec = Some(spec))
    cat.appendPartitioned(table, df.filter(col("doc_id") % 2 === 0), spec)
    cat.appendPartitioned(table, df.filter(col("doc_id") % 2 =!= 0), spec)
    cat.compactDataFilesSorted(table, Seq("doc_id"))
  }

  test("sorted co-bucketed tables merge-join with zero shuffles AND zero sorts") {
    val (lake, cat) = register()
    val d = docs(300)
    mkSortedBucketed(cat, "a", d.select("doc_id", "n_chars"))
    mkSortedBucketed(cat, "b", d.select("doc_id", "lang"))
    assert(cat.snapshotMeta("a", cat.snapshotIdOf("a").get)
      .sortWithinPartitions == Seq("doc_id"))
    withSpjConfs {
      val q = spark.sql(
        s"SELECT a.doc_id, a.n_chars, b.lang FROM $lake.main.a a " +
          s"JOIN $lake.main.b b ON a.doc_id = b.doc_id")
      val plan = unwrap(q.queryExecution.executedPlan)
      assert(plan.collectFirst { case j: SortMergeJoinExec => j }.isDefined,
        s"expected a sort-merge join (broadcast disabled):\n$plan")
      assert(plan.collect { case s: ShuffleExchangeLike => s }.isEmpty,
        s"expected no exchange:\n$plan")
      assert(plan.collect { case s: SortExec => s }.isEmpty,
        s"reported per-partition ordering must eliminate both sorts:\n$plan")
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
      val want = d.select("doc_id", "n_chars", "lang")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
      assert(got.toSeq == want.toSeq)
    }
  }

  test("an append clears the stamp: sorts reappear, results stay exact") {
    val (lake, cat) = register()
    val d = docs(200)
    mkSortedBucketed(cat, "a", d.select("doc_id", "n_chars"))
    mkSortedBucketed(cat, "b", d.select("doc_id", "lang"))
    // an ordinary append (auto-routed through the committed spec) keeps
    // SPJ coverage but CANNOT keep per-bucket order
    cat.append("b", docs(300).filter(col("doc_id") >= 200).select("doc_id", "lang"))
    assert(cat.snapshotMeta("b", cat.snapshotIdOf("b").get)
      .sortWithinPartitions.isEmpty)
    withSpjConfs {
      val q = spark.sql(
        s"SELECT a.doc_id, b.lang FROM $lake.main.a a " +
          s"JOIN $lake.main.b b ON a.doc_id = b.doc_id")
      val plan = unwrap(q.queryExecution.executedPlan)
      assert(plan.collect { case s: ShuffleExchangeLike => s }.isEmpty,
        s"SPJ coverage must survive the append:\n$plan")
      assert(plan.collect { case s: SortExec => s }.nonEmpty,
        s"with the stamp cleared Spark must re-sort:\n$plan")
      assert(q.collect().length == d.count())
    }
  }
}
