package graft.wap

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** A [[BranchCatalog]] overriding the public methods the `wapbench`
  * harness's `TracedCatalog` overrides, with the same signatures, so a
  * signature change fails `Test/compile` here instead of first showing
  * as a benchmark run failure. Every override counts its call and
  * delegates. */
class OverridingCatalog(spark: SparkSession, root: String) extends BranchCatalog(spark, root) {
  val calls = new AtomicLong(0L)
  private def counted[T](body: => T): T = { calls.incrementAndGet(); body }

  override def createBranch(branch: String, from: String): Unit =
    counted(super.createBranch(branch, from))
  override def append(table: String, df: DataFrame, branch: String,
      epochStamp: Option[(String, Long)], schemaEvolution: Boolean): Snapshot =
    counted(super.append(table, df, branch, epochStamp, schemaEvolution))
  override def scanBranchDelta(table: String, branch: String): DataFrame =
    counted(super.scanBranchDelta(table, branch))
  override def merge(branch: String, into: String, epochStamp: Option[(String, Long)]): Unit =
    counted(super.merge(branch, into, epochStamp))
  override def dropBranch(branch: String): Unit = counted(super.dropBranch(branch))
  override def currentRefs(): Refs = counted(super.currentRefs())
  override def scan(table: String, branch: String, filter: Option[Column]): DataFrame =
    counted(super.scan(table, branch, filter))
  override def scanSnapshot(table: String, snapshotId: String, filter: Option[Column]): DataFrame =
    counted(super.scanSnapshot(table, snapshotId, filter))
  override def branchStats(table: String): DataFrame = counted(super.branchStats(table))
  override def upsertKeysMOR(table: String, source: DataFrame, keyCols: Seq[String],
      branch: String, epochStamp: Option[(String, Long)], schemaEvolution: Boolean): Snapshot =
    counted(super.upsertKeysMOR(table, source, keyCols, branch, epochStamp, schemaEvolution))
  override def compactDataFiles(table: String, branch: String, targetFiles: Int): Snapshot =
    counted(super.compactDataFiles(table, branch, targetFiles))
}

class CatalogOverridesSpec extends SparkSpecBase {
  test("a subclass overriding the benchmark's methods runs a WAP cycle through them") {
    val cat = new OverridingCatalog(spark, Files.createTempDirectory("overrides").toString)
    val rows = spark.range(0, 10).select(col("id"), (col("id") % 3).as("v"))
    cat.createTableIfNotExists("t", rows.schema)
    cat.createBranch("b")
    cat.append("t", rows, "b")
    assert(cat.scanBranchDelta("t", "b").count() == 10)
    cat.merge("b")
    cat.dropBranch("b")
    cat.upsertKeysMOR("t", rows.filter(col("id") < 2).withColumn("v", lit(9L)), Seq("id"))
    cat.compactDataFiles("t")
    assert(cat.scan("t").count() == 10)
    assert(cat.scan("t", filter = Some(col("v") === 9L)).count() == 2)
    assert(cat.branchStats("t").count() >= 1)
    assert(cat.calls.get() > 10)
  }
}
