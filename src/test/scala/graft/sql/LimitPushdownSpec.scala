package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.{SparkSpecBase, Tables}
import graft.wap.BranchCatalog

/** Connector limit pushdown: `SELECT * FROM t LIMIT k` on an unfiltered
  * snapshot plans only a file prefix covering k rows — O(covering
  * manifests) metadata, one file planned for a small limit however big
  * the table — while filtered/MOR shapes keep the full plan. */
class LimitPushdownSpec extends SparkSpecBase {

  private var n = 0
  private def register(): (String, BranchCatalog) = {
    n += 1
    val name = s"limitpd$n"
    val root = Files.createTempDirectory("limit-pd").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, new BranchCatalog(spark, root))
  }

  private def plannedFiles(df: DataFrame): Int = {
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collect { case b: BatchScanExec => b }
      .flatMap(_.inputPartitions)
      .map { case GraftFilesPartition(fs) => fs.size; case _ => 0 }.sum
  }

  test("an unfiltered LIMIT plans a covering file prefix, not the table") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 160)
      .select("doc_id", "n_chars")
    cat.createTableIfNotExists("t", docs.schema)
    for (r <- 0 until 8)
      cat.append("t", docs.filter(col("doc_id") % 8 === r).coalesce(1))
    assert(cat.dataFiles("t").size == 8)
    val q = spark.sql(s"SELECT * FROM $lake.main.t LIMIT 5")
    assert(plannedFiles(q) == 1, s"expected a one-file prefix, planned ${plannedFiles(q)}")
    assert(q.collect().length == 5)

    // limitedFiles covers exactly enough rows
    val head = cat.snapshotIdOf("t").get
    val one = cat.limitedFiles("t", head, 5)
    assert(one.size == 1)
    val all = cat.limitedFiles("t", head, 10000)
    assert(all.size == 8)

    // a filtered LIMIT keeps the full pruned plan and stays correct
    val qf = spark.sql(s"SELECT * FROM $lake.main.t WHERE doc_id % 2 = 1 LIMIT 5")
    assert(qf.collect().length == 5)
    assert(qf.collect().forall(_.getLong(0) % 2 == 1))

    // LIMIT over pending MOR tombstones falls back and never
    // over/under-delivers
    cat.deleteKeysMOR("t", docs.filter(col("doc_id") < 150).select("doc_id"))
    val qm = spark.sql(s"SELECT * FROM $lake.main.t LIMIT 100")
    val rows = qm.collect()
    assert(rows.length == docs.filter(col("doc_id") >= 150).count())
    assert(rows.forall(_.getLong(0) >= 150))
  }

  test("ORDER BY LIMIT on a sort-compacted table plans the covering prefix/suffix") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 160)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, lit(null)).otherwise(col("n_chars")).as("v"))
    cat.createTableIfNotExists("t", docs.schema)
    for (r <- 0 until 4) cat.append("t", docs.filter(col("doc_id") % 4 === r))
    cat.compactDataFilesSorted("t", Seq("doc_id"), targetFiles = 8)
    assert(cat.snapshotMeta("t", cat.snapshotIdOf("t").get).sortOrder == Seq("doc_id"))
    val asc = spark.sql(s"SELECT doc_id FROM $lake.main.t ORDER BY doc_id LIMIT 5")
    assert(plannedFiles(asc) == 1, s"ascending top-k should plan 1 file, got ${plannedFiles(asc)}")
    assert(asc.collect().map(_.getLong(0)).toSeq == (0L until 5L))

    val desc = spark.sql(s"SELECT doc_id FROM $lake.main.t ORDER BY doc_id DESC LIMIT 5")
    assert(plannedFiles(desc) == 1, "descending top-k should plan 1 file (the suffix)")
    assert(desc.collect().map(_.getLong(0)).toSeq == (159L to 155L by -1L))

    // ORDER BY a non-sort column, or non-default null ordering: full plan
    val other = spark.sql(s"SELECT doc_id FROM $lake.main.t ORDER BY v LIMIT 5")
    assert(plannedFiles(other) == 8)
    val nl = spark.sql(
      s"SELECT doc_id FROM $lake.main.t ORDER BY doc_id ASC NULLS LAST LIMIT 5")
    assert(plannedFiles(nl) == 8)
    assert(nl.collect().map(_.getLong(0)).toSeq == (0L until 5L))

    // a later append clears the sort order: full plan, exact results
    cat.append("t", Tables.documents(spark, sfDir)
      .filter(col("doc_id") >= 160 && col("doc_id") < 170)
      .select(col("doc_id"), col("n_chars").as("v")))
    val after = spark.sql(s"SELECT doc_id FROM $lake.main.t ORDER BY doc_id DESC LIMIT 3")
    assert(plannedFiles(after) == 9)
    assert(after.collect().map(_.getLong(0)).toSeq == Seq(169L, 168L, 167L))
  }
}
