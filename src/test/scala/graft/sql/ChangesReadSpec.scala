package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.{SparkSpecBase, Tables}
import graft.wap.BranchCatalog

/** Incremental snapshot-window reads through the SQL connector (W46):
  * `spark.read.option("graft.changes.from", id)` serves the append
  * delta of a window — the DataFrame surface of
  * [[BranchCatalog.changedFilesBetween]] — with in-window pruning, and
  * every path that could silently widen the window (metadata
  * aggregates) refuses windowed relations. */
class ChangesReadSpec extends SparkSpecBase {

  private var n = 0
  private def register(): (String, BranchCatalog) = {
    n += 1
    val name = s"changes$n"
    val root = Files.createTempDirectory("changes-read").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, new BranchCatalog(spark, root))
  }

  private def docs(lo: Long, hi: Long): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
      .select("doc_id", "lang", "n_chars")

  private def batchScan(df: DataFrame): Option[BatchScanExec] = {
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collectFirst { case b: BatchScanExec => b }
  }

  test("changes.from serves the append delta; changes.to bounds the window") {
    val (lake, cat) = register()
    cat.createTableIfNotExists("t", docs(0, 1).schema)
    val s1 = cat.append("t", docs(0, 100))
    val s2 = cat.append("t", docs(100, 160))
    cat.append("t", docs(160, 200))

    val delta = spark.read.option("graft.changes.from", s1.id)
      .table(s"$lake.main.t")
    assert(delta.count() == docs(100, 200).count())
    assert(delta.agg(min("doc_id")).collect().head.getLong(0) == 100L)

    val window = spark.read.option("graft.changes.from", s1.id)
      .option("graft.changes.to", s2.id).table(s"$lake.main.t")
    assert(window.count() == docs(100, 160).count())

    // the windowed relation plans the window's batch scan (the snapshot
    // plan would silently return the whole table)
    val scan = batchScan(delta)
    assert(scan.isDefined && scan.get.scan.description().contains("changes"),
      s"windowed read must keep the connector scan:\n${delta.queryExecution.executedPlan}")

    // an empty window is an empty result, not an error
    val head = cat.snapshotIdOf("t").get
    assert(spark.read.option("graft.changes.from", head)
      .table(s"$lake.main.t").count() == 0L)
  }

  test("fromTimestamp/toTimestamp resolve window endpoints by instant") {
    val (lake, cat) = register()
    cat.createTableIfNotExists("t", docs(0, 1).schema)
    val s1 = cat.append("t", docs(0, 100))
    Thread.sleep(5)
    val s2 = cat.append("t", docs(100, 160))
    Thread.sleep(5)
    cat.append("t", docs(160, 200))
    def at(id: String): Long = cat.snapshotMeta("t", id).committedAtMillis

    // start by instant = the last snapshot at/or before it (s1), so the
    // delta is everything after s1 — identical to the by-id form
    val byTs = spark.read.option("graft.changes.fromTimestamp", at(s1.id).toString)
      .table(s"$lake.main.t")
    assert(byTs.count() == docs(100, 200).count())
    // both endpoints by instant
    val window = spark.read
      .option("graft.changes.fromTimestamp", at(s1.id).toString)
      .option("graft.changes.toTimestamp", at(s2.id).toString)
      .table(s"$lake.main.t")
    assert(window.count() == docs(100, 160).count())
    // mixing alternative starts refuses
    val err = intercept[Exception](spark.read
      .option("graft.changes.from", s1.id)
      .option("graft.changes.fromTimestamp", at(s1.id).toString)
      .table(s"$lake.main.t").count())
    assert(err.getMessage.contains("alternative"))
    // ... and so does mixing alternative ENDS — on the V1 $changes batch
    // path too, matching the DSv2 base-table read's loud refusal
    val errTo = intercept[Exception](spark.read
      .option("graft.changes.from", s1.id)
      .option("graft.changes.to", s2.id)
      .option("graft.changes.toTimestamp", at(s2.id).toString)
      .table(s"$lake.main.`t$$changes`").count())
    assert(errTo.getMessage.contains("alternative"))
    // an instant BEFORE the first snapshot refuses loudly (no anchor)
    val early = intercept[Exception](spark.read
      .option("graft.changes.fromTimestamp", (at(s1.id) - 10000L).toString)
      .table(s"$lake.main.t").count())
    assert(early.getMessage.contains("at or before"))

    // the $changes feed takes the same instant endpoints (net window)
    cat.deleteWhere("t", col("doc_id") < 3)
    val cl = spark.read
      .option("graft.changes.fromTimestamp", at(s2.id).toString)
      .table(s"$lake.main.`t$$changes`")
    assert(cl.filter(col("_change_type") === "insert").count() ==
      docs(160, 200).count())
    assert(cl.filter(col("_change_type") === "delete").count() == 3L)

    // endpoints by TAG name: "what changed between release A and B"
    // (a tag pins head at creation time, so tag two successive states)
    cat.append("t", docs(200, 220))
    cat.createTag("relA")
    cat.append("t", docs(220, 260))
    cat.createTag("relB")
    val byTag = spark.read
      .option("graft.changes.from", "relA")
      .option("graft.changes.to", "relB")
      .table(s"$lake.main.t")
    assert(byTag.count() == docs(220, 260).count())
    assert(byTag.agg(min("doc_id")).head.getLong(0) == 220L)
    val clTag = spark.read.option("graft.changes.from", "relA")
      .option("graft.changes.to", "relB")
      .table(s"$lake.main.`t$$changes`")
    assert(clTag.filter(col("_change_type") === "insert").count() ==
      docs(220, 260).count())
  }

  test("filters prune files WITHIN the window") {
    val (lake, cat) = register()
    cat.createTableIfNotExists("t", docs(0, 1).schema)
    val s1 = cat.append("t", docs(0, 100))
    cat.appendClustered("t", docs(100, 200), Seq("doc_id"), files = 4)
    val windowFiles = cat.plannedChangedFiles(
      "t", Some(s1.id), cat.snapshotIdOf("t").get, None).size
    val prunedFiles = cat.plannedChangedFiles(
      "t", Some(s1.id), cat.snapshotIdOf("t").get,
      Some(col("doc_id") === 130L)).size
    assert(windowFiles == 4 && prunedFiles < windowFiles,
      s"expected in-window pruning, got $prunedFiles of $windowFiles")
    val q = spark.read.option("graft.changes.from", s1.id)
      .table(s"$lake.main.t").filter(col("doc_id") === 130L)
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(130L))
  }

  test("count(*) over a window is the DELTA count, never the metadata snapshot count") {
    val (lake, cat) = register()
    cat.createTableIfNotExists("t", docs(0, 1).schema)
    val s1 = cat.append("t", docs(0, 100))
    cat.append("t", docs(100, 150))
    val q = spark.read.option("graft.changes.from", s1.id)
      .table(s"$lake.main.t").agg(count(lit(1)))
    assert(q.collect().head.getLong(0) == docs(100, 150).count())
  }

  test("pending MOR tombstones refuse windowed reads loudly") {
    val (lake, cat) = register()
    cat.createTableIfNotExists("t", docs(0, 1).schema)
    val s1 = cat.append("t", docs(0, 100))
    cat.deleteKeysMOR("t", docs(0, 100).filter(col("doc_id") % 2 === 0).select("doc_id"))
    val e = intercept[Exception] {
      spark.read.option("graft.changes.from", s1.id)
        .table(s"$lake.main.t").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("append-granular"),
      s"got: ${e.getMessage}")
  }

  test("changes.to without changes.from, and streaming with a window, both refuse") {
    val (lake, cat) = register()
    cat.createTableIfNotExists("t", docs(0, 1).schema)
    val s1 = cat.append("t", docs(0, 50))
    val e = intercept[Exception] {
      spark.read.option("graft.changes.to", s1.id).table(s"$lake.main.t").collect()
    }
    assert(e.getMessage.contains("graft.changes.from"))
    // the stream refusal surfaces through the query's failure, not start()
    val q = spark.readStream.option("graft.changes.from", s1.id)
      .table(s"$lake.main.t")
      .writeStream.format("noop")
      .option("checkpointLocation",
        Files.createTempDirectory("changes-ckpt").toString)
      .start()
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(60000)
      ()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e2).exists(_.contains("incremental by construction")),
      s"got: ${messages(e2).mkString(" | ")}")
  }
}
