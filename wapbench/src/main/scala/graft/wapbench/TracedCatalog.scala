package graft.wapbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.quality.AuditReport
import graft.wap.{Alerter, BranchCatalog, Snapshot}

/** A [[BranchCatalog]] that times every public call the workloads make
  * and delegates to the library unchanged. Calls are counted always (the
  * counts feed the per-layer ratios); spans are recorded only inside a
  * traced operation. Internal calls dispatch through these overrides too,
  * so a commit's `currentRefs` reads show up as children of the commit. */
class TracedCatalog(spark: SparkSession, root: String) extends BranchCatalog(spark, root) {

  private val counts = new ConcurrentHashMap[String, LongAdder]()
  def count(name: String): Long = Option(counts.get(name)).map(_.sum).getOrElse(0L)

  private def timed[T](name: String)(body: => T): T = {
    counts.computeIfAbsent(name, _ => new LongAdder).increment()
    Trace.span(name)(body)
  }

  override def createBranch(branch: String, from: String): Unit = {
    Trace.auditEnds() // a refused CDC batch quarantines on a new branch
    timed("catalog.createBranch")(super.createBranch(branch, from))
  }

  override def append(table: String, df: DataFrame, branch: String,
      epochStamp: Option[(String, Long)], schemaEvolution: Boolean): Snapshot =
    timed("catalog.append")(super.append(table, df, branch, epochStamp, schemaEvolution))

  override def scanBranchDelta(table: String, branch: String): DataFrame = {
    val df = timed("catalog.scanBranchDelta")(super.scanBranchDelta(table, branch))
    Trace.auditStarts()
    df
  }

  override def merge(branch: String, into: String, epochStamp: Option[(String, Long)]): Unit = {
    Trace.auditEnds()
    timed("catalog.merge")(super.merge(branch, into, epochStamp))
  }

  override def dropBranch(branch: String): Unit =
    timed("catalog.dropBranch")(super.dropBranch(branch))

  override def currentRefs(): graft.wap.Refs =
    timed("catalog.currentRefs")(super.currentRefs())

  override def scan(table: String, branch: String, filter: Option[Column]): DataFrame =
    timed("catalog.scan")(super.scan(table, branch, filter))

  override def scanSnapshot(table: String, snapshotId: String, filter: Option[Column]): DataFrame =
    timed("catalog.scanSnapshot")(super.scanSnapshot(table, snapshotId, filter))

  override def branchStats(table: String): DataFrame =
    timed("catalog.branchStats")(super.branchStats(table))

  override def upsertKeysMOR(table: String, source: DataFrame, keyCols: Seq[String],
      branch: String, epochStamp: Option[(String, Long)], schemaEvolution: Boolean): Snapshot = {
    Trace.auditEnds() // the CDC flow audits the batch before it applies it
    timed("catalog.upsertKeysMOR")(
      super.upsertKeysMOR(table, source, keyCols, branch, epochStamp, schemaEvolution))
  }

  override def compactDataFiles(table: String, branch: String, targetFiles: Int): Snapshot =
    timed("catalog.compactDataFiles")(super.compactDataFiles(table, branch, targetFiles))
}

/** Counts alerts; closes the audit interval the delta scan opened. */
final class RecordingAlerter extends Alerter {
  val alerts = new java.util.concurrent.atomic.AtomicLong(0L)
  def alert(table: String, branch: String, report: AuditReport): Unit = {
    Trace.auditEnds()
    alerts.incrementAndGet()
  }
}
