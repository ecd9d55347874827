package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.functions._

import graft.Tables
import graft.wap.{BranchCatalog, PartitionSpec}

/** Lifecycle query behind `wap_runtime_prune`: proves the connector scan
  * prunes file splits from a RUNTIME (DPP-style) join-key filter, not just
  * from static pushdown — the 100 TB star-join shape where the partition
  * predicate is only known after the dim side is evaluated.
  *
  * Two layers, both deterministic:
  *  1. e2e: a selective dim join against a bucket(8, doc_id)-partitioned
  *     fact table through plain SQL plants a `dynamicpruning` runtime
  *     filter on the DSv2 batch scan (asserted on the executed plan).
  *  2. scan-level: the same scan object, fed the equivalent IN predicate
  *     through [[GraftBatchScan.filter]] (exactly what `BatchScanExec`
  *     calls at execution), re-plans to fewer files than the table holds —
  *     4 join keys hit at most 4 of 8 bucket files.
  *
  * Lives in `graft.sql` for package access to the scan internals; rides in
  * CORRECTNESS via [[graft.operators.WapQueries]] with a full DuckDB
  * oracle (counts from the documents table, invariants as booleans).
  */
object GraftRuntimePrune {

  def query(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-dpp").toString
    val cat = new BranchCatalog(spark, tmp)
    val spec = PartitionSpec.parse("bucket(8,doc_id)")
    val fact = Tables.documents(spark, dir)
      .filter(col("doc_id") < 64)
      .select(col("doc_id"), col("n_chars"))
    cat.createTableIfNotExists("fact", fact.schema, "main", Some(spec))
    cat.appendPartitioned("fact", fact, spec)
    val filesBefore = cat.dataFiles("fact").size.toLong

    val lake = "lake_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", tmp)

    // Both legs run with storage-partitioned-join bucketing DISABLED:
    // this query tests the runtime-pruning path, which by design serves
    // every scan that is NOT keyed (W45 keyed scans report their
    // partition set to the join planner and must not shift under
    // runtime re-pruning, so they opt out). Under Spark 4.x the
    // bucketing conf defaults ON, which would make this fully-covered
    // bucket table plan keyed and test nothing.
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.optimizer.dynamicPartitionPruning.useStats",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
      .map(k => k -> spark.conf.getOption(k)).toMap
    val (nRows, sumChars, dppPlanned, planBefore, planAfter, nKeys) =
      try {
        // a benefit heuristic that does not depend on tiny-test-table stats
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "10.0")
        val q = spark.sql(
          s"""SELECT count(*) AS n_rows, CAST(sum(f.n_chars) AS BIGINT) AS sum_chars
             |FROM $lake.main.fact f
             |JOIN (SELECT doc_id FROM parquet.`$dir/documents.parquet`
             |      WHERE doc_id % 16 = 3 AND doc_id < 64) d
             |ON f.doc_id = d.doc_id""".stripMargin)
        val row = q.collect().head
        val planted = q.queryExecution.executedPlan.toString.contains("dynamicpruning")

        // ---- scan-level: the exact call BatchScanExec makes at runtime
        val snap = cat.snapshotIdOf("fact", "main").get
        val table = GraftTable(tmp, "main", "fact", snap, fact.schema,
          partitionSpecFmt = Some(spec.format))
        val scan = new GraftScanBuilder(table).build().asInstanceOf[GraftBatchScan]
        def nFiles(ps: Array[org.apache.spark.sql.connector.read.InputPartition]): Long =
          ps.map { case GraftFilesPartition(fs) => fs.size.toLong case _ => 0L }.sum
        val before = nFiles(scan.planInputPartitions())
        val keys = Seq(3L, 19L, 35L, 51L)
        scan.filter(Array(new Predicate("IN",
          (Expressions.column("doc_id") +:
            keys.map(k => Expressions.literal(k): org.apache.spark.sql.connector
              .expressions.Expression)).toArray)))
        val after = nFiles(scan.planInputPartitions())
        (row.getLong(0), row.getLong(1), planted, before, after, keys.size)
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }

    // the result below is fully materialized driver-side values, so the
    // per-run catalog confs and temp lake can go now (Bench runs this
    // 3x per process — without cleanup the session conf map and /tmp
    // grow per invocation). Spark's CatalogManager still holds the tiny
    // catalog INSTANCE under the per-run name for the session's
    // lifetime — that cache has no public eviction; the instance holds
    // two strings and is never consulted again.
    spark.conf.unset(s"spark.sql.catalog.$lake")
    spark.conf.unset(s"spark.sql.catalog.$lake.root")
    try {
      val dir = new java.io.File(tmp)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    } catch { case _: Exception => () }

    import spark.implicits._
    Seq((nRows, sumChars, filesBefore,
      planBefore == filesBefore && planAfter < planBefore && planAfter <= nKeys,
      dppPlanned))
      .toDF("n_rows", "sum_chars", "files_before", "pruned", "dpp_planned")
  }
}
