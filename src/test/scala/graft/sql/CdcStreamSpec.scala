package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpecBase, Tables}
import graft.wap.BranchCatalog

/** W63 — the `t$changes` CDC surface: streaming per-commit change feeds
  * (operation-classified, sidecar-exact deletes, neutral-rewrite
  * silence) and batch net-changelog windows. */
class CdcStreamSpec extends SparkSpecBase {

  private var n = 0
  private def register(): (String, BranchCatalog) = {
    n += 1
    val name = s"cdcspec$n"
    val root = Files.createTempDirectory("cdc-cat").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, new BranchCatalog(spark, root))
  }

  /** Documents slice as a single file per id range (deterministic file
    * boundaries make the two-tier delete planning predictable). */
  private def slice(lo: Long, hi: Long): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
      .select("doc_id", "text", "n_chars").coalesce(1)

  private def startStream(lake: String, table: String, qname: String,
      opts: Map[String, String] = Map.empty) = {
    var r = spark.readStream
    opts.foreach { case (k, v) => r = r.option(k, v) }
    r.table(s"$lake.main.`$table$$changes`")
      .writeStream.format("memory").queryName(qname).start()
  }

  private def sink(qname: String): DataFrame = spark.table(qname)

  test("default start: head is silent, appends feed as per-commit inserts, compaction is silent") {
    val (lake, cat) = register()
    cat.createTableIfNotExists("t", slice(0, 1).schema)
    cat.append("t", slice(0, 10))
    val q = startStream(lake, "t", s"cdc$n")
    try {
      q.processAllAvailable()
      assert(sink(s"cdc$n").count() == 0, "pre-stream data is not backfilled by default")

      cat.append("t", slice(10, 20))
      cat.append("t", slice(20, 25))
      q.processAllAvailable()
      val rows = sink(s"cdc$n")
      assert(rows.count() == 15)
      assert(rows.filter(col("_change_type") =!= "insert").count() == 0)
      // one batch covered two commits; attribution stays per-commit
      val commits = rows.select("_commit_snapshot_id", "_commit_seq").distinct().collect()
      assert(commits.length == 2, s"per-commit attribution, got ${commits.toSeq}")
      assert(rows.filter(col("_commit_seq") === cat.snapshotMeta("t",
        cat.snapshotIdOf("t").get).seq).count() == 5)

      cat.compactDataFiles("t")
      cat.compactManifests("t")
      q.processAllAvailable()
      assert(sink(s"cdc$n").count() == 15, "compaction commits are changelog-silent")
    } finally q.stop()
  }

  test("initial=snapshot backfills the anchor as inserts, then feeds") {
    val (lake, cat) = register()
    cat.createTableIfNotExists("t", slice(0, 1).schema)
    cat.append("t", slice(0, 10))
    cat.append("t", slice(10, 20))
    val q = startStream(lake, "t", s"cdc$n", Map("graft.changes.initial" -> "snapshot"))
    try {
      q.processAllAvailable()
      val rows = sink(s"cdc$n")
      assert(rows.count() == 20)
      assert(rows.filter(col("_change_type") === "insert").count() == 20)
      // the backfill is attributed to the anchor snapshot
      assert(rows.select("_commit_snapshot_id").distinct().count() == 1)
      cat.append("t", slice(20, 30))
      q.processAllAvailable()
      assert(sink(s"cdc$n").count() == 30)
    } finally q.stop()
  }

  test("CoW delete feeds transaction-form pairs whose net effect is exact") {
    val (lake, cat) = register()
    cat.createTableIfNotExists("t", slice(0, 1).schema)
    cat.append("t", slice(0, 10))   // file 1: ids 0..9
    cat.append("t", slice(10, 20))  // file 2: ids 10..19 (untouched below)
    val q = startStream(lake, "t", s"cdc$n", Map("graft.changes.initial" -> "snapshot"))
    try {
      q.processAllAvailable()
      val res = cat.deleteWhere("t", col("doc_id") < 5)
      assert(res.filesRewritten == 1 && res.filesUntouched >= 1)
      q.processAllAvailable()
      val rows = sink(s"cdc$n")
      // rewritten file 1 emits its 10 rows as deletes + 5 survivors back
      assert(rows.filter(col("_change_type") === "delete").count() == 10)
      // the signed fold of the whole feed reconstructs the table exactly
      val net = rows.groupBy("doc_id").agg(
        sum(when(col("_change_type") === "insert", 1).otherwise(-1)).as("m"))
      assert(net.filter(col("m") === 1).count() == 15)
      assert(net.filter(col("m") =!= 1 && col("m") =!= 0).count() == 0)
      assert(net.filter(col("m") === 1)
        .agg(min(col("doc_id"))).head.getLong(0) == 5L)
    } finally q.stop()
  }

  test("positional deletes feed EXACT rows: sidecar tier and metadata-drop tier, no pairs") {
    val (lake, cat) = register()
    cat.createTableIfNotExists("t", slice(0, 1).schema)
    cat.append("t", slice(0, 10))
    cat.append("t", slice(10, 20))
    val q = startStream(lake, "t", s"cdc$n")
    try {
      q.processAllAvailable()
      // metadata tier: file 2 provably all-match -> dropped unread
      val r1 = cat.deleteWherePositional("t", col("doc_id") >= 10)
      assert(r1.filesRewritten == 0)
      // sidecar tier: one marked row in file 1
      val r2 = cat.deleteWherePositional("t", col("doc_id") === 3)
      assert(r2.rowsDeleted == 1)
      q.processAllAvailable()
      val rows = sink(s"cdc$n")
      assert(rows.filter(col("_change_type") === "insert").count() == 0,
        "positional deletes rewrite nothing, so no carryover inserts")
      assert(rows.count() == 11)
      val ids = rows.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == (Seq(3L) ++ (10L until 20L)).sorted)
    } finally q.stop()
  }

  test("rows a prior sidecar already deleted are not re-emitted when their file drops") {
    val (lake, cat) = register()
    cat.createTableIfNotExists("t", slice(0, 1).schema)
    cat.append("t", slice(0, 10))
    val q = startStream(lake, "t", s"cdc$n")
    try {
      q.processAllAvailable()
      cat.deleteWherePositional("t", col("doc_id") === 2)
      // second positional delete: the file now provably all-matches ->
      // metadata-dropped while the prior sidecar is still pending
      val r = cat.deleteWherePositional("t", col("doc_id") >= 0)
      assert(r.rowsDeleted == 9, "drop counts exclude the already-deleted row")
      q.processAllAvailable()
      val rows = sink(s"cdc$n")
      assert(rows.count() == 10, "id 2 must be deleted exactly once")
      assert(rows.filter(col("doc_id") === 2).count() == 1)
      assert(rows.filter(col("_change_type") === "delete").count() == 10)
    } finally q.stop()
  }

  test("folding pending position sidecars is changelog-silent") {
    val (lake, cat) = register()
    cat.createTableIfNotExists("t", slice(0, 1).schema)
    cat.append("t", slice(0, 10))
    cat.deleteWherePositional("t", col("doc_id") === 1) // before the stream start
    val q = startStream(lake, "t", s"cdc$n")
    try {
      q.processAllAvailable()
      cat.deleteWherePositional("t", col("doc_id") === 2)
      cat.deleteWherePositional("t", col("doc_id") === 3)
      q.processAllAvailable()
      assert(sink(s"cdc$n").count() == 2)
      val folded = cat.compactPositionDeletes("t")
      assert(folded.op == "compact-pos-deletes" && folded.deleteManifests.size == 1)
      q.processAllAvailable()
      assert(sink(s"cdc$n").count() == 2, "the folded sidecar re-deletes nothing")
    } finally q.stop()
  }

  test("converting pre-stream equality tombstones to sidecars is changelog-silent") {
    import spark.implicits._
    val (lake, cat) = register()
    cat.createTableIfNotExists("t", slice(0, 1).schema)
    cat.append("t", slice(0, 10))
    cat.deleteKeysMOR("t", Seq(4L, 5L).toDF("doc_id"))
    val q = startStream(lake, "t", s"cdc$n")
    try {
      q.processAllAvailable()
      assert(cat.convertTombstonesToPositional("t").op == "convert-tombstones")
      q.processAllAvailable()
      assert(sink(s"cdc$n").count() == 0, "the tombstoned rows were deleted before the start")
      cat.deleteWherePositional("t", col("doc_id") === 6)
      q.processAllAvailable()
      assert(sink(s"cdc$n").select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(6L))
    } finally q.stop()
  }

  test("equality-tombstone commits refuse; content-neutral materialization stays silent") {
    import spark.implicits._
    val (lake, cat) = register()
    cat.createTableIfNotExists("t", slice(0, 1).schema)
    cat.append("t", slice(0, 10))
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def drain(ckpt: String): Unit = {
      val q = spark.readStream.table(s"$lake.main.`t$$changes`")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          df.select(col("doc_id")).collect().foreach(r => got.add(r.getLong(0)))
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    val ckpt = Files.createTempDirectory("cdc-ckpt").toString
    drain(ckpt)
    cat.deleteKeysMOR("t", Seq(3L).toDF("doc_id"))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { drain(ckpt) }
    def msg(t: Throwable): String =
      Option(t.getCause).map(c => t.getMessage + msg(c)).getOrElse(t.getMessage)
    assert(msg(err).contains("EQUALITY"))
    // the refusal is PERMANENT for that checkpoint (the offending commit
    // sits in its window even after materialization) — recovery is a
    // fresh checkpoint, which starts at the current head
    cat.compactDataFiles("t")
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] { drain(ckpt) }
    val ckpt2 = Files.createTempDirectory("cdc-ckpt2").toString
    drain(ckpt2)
    assert(got.isEmpty, "the fresh stream starts at head; nothing leaks")
    cat.append("t", slice(20, 25))
    drain(ckpt2)
    assert(got.size == 5, "commits after the materialization stream normally")
  }

  test("a WAP publish feeds main's stream with the branch's net changes") {
    val (lake, cat) = register()
    cat.createTableIfNotExists("t", slice(0, 1).schema)
    cat.append("t", slice(0, 10))
    val q = startStream(lake, "t", s"cdc$n")
    try {
      q.processAllAvailable()
      cat.createBranch("staging")
      cat.append("t", slice(10, 25), "staging")
      q.processAllAvailable()
      assert(sink(s"cdc$n").count() == 0, "unpublished branch commits never stream")
      cat.merge("staging")
      q.processAllAvailable()
      val rows = sink(s"cdc$n")
      assert(rows.count() == 15)
      assert(rows.filter(col("_change_type") === "insert").count() == 15)
    } finally q.stop()
  }

  test("column-pruned feeds read only the projected base columns") {
    val (lake, cat) = register()
    cat.createTableIfNotExists("t", slice(0, 1).schema)
    cat.append("t", slice(0, 10))
    val q = spark.readStream.table(s"$lake.main.`t$$changes`")
      .select("doc_id", "_change_type") // text/n_chars never read
      .writeStream.format("memory").queryName(s"cdc$n").start()
    try {
      q.processAllAvailable()
      cat.append("t", slice(10, 20))
      cat.deleteWherePositional("t", col("doc_id") === 12)
      q.processAllAvailable()
      val rows = sink(s"cdc$n")
      assert(rows.columns.toSeq == Seq("doc_id", "_change_type"))
      assert(rows.filter(col("_change_type") === "insert").count() == 10)
      assert(rows.filter(col("_change_type") === "delete")
        .select("doc_id").head.getLong(0) == 12L)
    } finally q.stop()
    // virtual-only projection: a feed row count reads zero base columns
    val q2 = spark.readStream.table(s"$lake.main.`t$$changes`")
      .select("_commit_seq")
      .writeStream.format("memory").queryName(s"cdcv$n").start()
    try {
      q2.processAllAvailable()
      cat.append("t", slice(20, 25))
      q2.processAllAvailable()
      assert(sink(s"cdcv$n").count() == 5)
    } finally q2.stop()
  }

  test("a column rename mid-stream is silent; later commits resolve by field id") {
    val (lake, cat) = register()
    cat.createTableIfNotExists("t", slice(0, 1).schema)
    cat.append("t", slice(0, 10))
    val q = startStream(lake, "t", s"cdc$n")
    try {
      q.processAllAvailable()
      // the schema commit itself is content-neutral; the stream's pinned
      // schema keeps the OLD name, and post-rename files serve it BY ID
      cat.renameColumn("t", "n_chars", "length")
      cat.append("t", slice(10, 20)
        .withColumnRenamed("n_chars", "length"))
      q.processAllAvailable()
      val rows = sink(s"cdc$n")
      assert(rows.count() == 10)
      assert(rows.columns.contains("n_chars"), "pinned stream schema")
      val got = rows.select("doc_id", "n_chars").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val exp = slice(10, 20).collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
      assert(got == exp, "post-rename files serve the renamed column by id")
    } finally q.stop()
  }

  test("startTimestamp resolves to the last snapshot at or before the instant") {
    val (lake, cat) = register()
    cat.createTableIfNotExists("t", slice(0, 1).schema)
    cat.append("t", slice(0, 10))
    Thread.sleep(5)
    val mark = System.currentTimeMillis()
    Thread.sleep(5)
    cat.append("t", slice(10, 20))
    val q = spark.readStream
      .option("graft.changes.startTimestamp", mark.toString)
      .table(s"$lake.main.`t$$changes`")
      .writeStream.format("memory").queryName(s"cdct$n").start()
    try {
      q.processAllAvailable()
      val rows = sink(s"cdct$n")
      assert(rows.count() == 10, "only the post-mark commit feeds")
      assert(rows.agg(min(col("doc_id"))).head.getLong(0) == 10L)
    } finally q.stop()
    intercept[Exception] {
      spark.readStream
        .option("graft.changes.startTimestamp", mark.toString)
        .option("graft.changes.startSnapshot", "abc")
        .table(s"$lake.main.`t$$changes`")
        .writeStream.format("memory").queryName(s"cdctx$n").start()
        .processAllAvailable()
    }
  }

  test("startSnapshot bootstraps the feed from a historical snapshot") {
    val (lake, cat) = register()
    cat.createTableIfNotExists("t", slice(0, 1).schema)
    cat.append("t", slice(0, 10))
    val mark = cat.snapshotIdOf("t").get // e.g. recorded by a snapshot export
    cat.append("t", slice(10, 20))
    cat.deleteWherePositional("t", col("doc_id") === 1)
    val q = spark.readStream
      .option("graft.changes.startSnapshot", mark)
      .table(s"$lake.main.`t$$changes`")
      .writeStream.format("memory").queryName(s"cdc$n").start()
    try {
      q.processAllAvailable()
      val rows = sink(s"cdc$n")
      // exactly the post-mark commits: 10 inserts + 1 exact delete
      assert(rows.count() == 11)
      assert(rows.filter(col("_change_type") === "delete")
        .select("doc_id").head.getLong(0) == 1L)
      assert(rows.filter(col("doc_id") < 10 && col("_change_type") === "insert")
        .count() == 0, "pre-mark content never replays")
    } finally q.stop()
    // a start snapshot outside the ancestry (or with both starts) refuses
    intercept[Exception] {
      spark.readStream
        .option("graft.changes.startSnapshot", mark)
        .option("graft.changes.initial", "snapshot")
        .table(s"$lake.main.`t$$changes`")
        .writeStream.format("memory").queryName(s"cdcx$n").start()
        .processAllAvailable()
    }
  }

  test("lake-to-lake replication: t$changes feeds t$changes, exactly-once") {
    val (src, scat) = register()
    val (dst, dcat) = register()
    spark.conf.set(s"spark.sql.catalog.$dst.write.main", "true")
    scat.createTableIfNotExists("docs", slice(0, 1).schema)
    scat.append("docs", slice(0, 20))
    val ckpt = Files.createTempDirectory("cdc-repl-ckpt").toString
    def drain(): Unit = {
      val q = spark.readStream
        .option("graft.changes.initial", "snapshot")
        .table(s"$src.main.`docs$$changes`")
        .writeStream.option("checkpointLocation", ckpt)
        .option("graft.cdc.keys", "doc_id")
        .toTable(s"$dst.main.`docs$$changes`")
      try q.processAllAvailable() finally q.stop()
    }
    def same(): Unit = {
      val a = scat.scan("docs").select("doc_id", "n_chars")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val b = dcat.scan("docs").select("doc_id", "n_chars")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(a == b, s"replica diverged: src=${a.size} dst=${b.size}")
    }
    drain() // backfill epoch auto-creates the replica
    same()
    assert(dcat.snapshotMeta("docs", dcat.snapshotIdOf("docs").get)
      .deleteManifests.isEmpty,
      "a backfill into an empty table needs no tombstone generation")
    // a full DML mix replicates: append, CoW rewrite pairs, exact sidecar
    scat.append("docs", slice(20, 40))
    scat.deleteWhere("docs", col("doc_id") < 5)
    scat.deleteWherePositional("docs", col("doc_id") === 25)
    drain()
    same()
    // replay with nothing new: exactly-once, no duplicate applies
    drain()
    same()
    assert(dcat.scan("docs").count() == 34)
  }

  test("audited CDC apply: a refused batch quarantines WHOLE, replica untouched") {
    val (src, scat) = register()
    val (dst, dcat) = register()
    scat.createTableIfNotExists("docs", slice(0, 1).schema)
    scat.append("docs", slice(0, 10))
    val ckpt = Files.createTempDirectory("cdc-audit-ckpt").toString
    def drain(): Unit = {
      val q = spark.readStream
        .option("graft.changes.initial", "snapshot")
        .table(s"$src.main.`docs$$changes`")
        .writeStream.option("checkpointLocation", ckpt)
        .option("graft.cdc.keys", "doc_id")
        .option("graft.wap", "true")
        .option("graft.checks", "not_null:text")
        .toTable(s"$dst.main.`docs$$changes`")
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    assert(dcat.scan("docs").count() == 10, "clean backfill publishes")
    // plant a dirty commit: null text fails the replica's audit
    import spark.implicits._
    scat.append("docs", Seq((999L, null.asInstanceOf[String], 1L))
      .toDF("doc_id", "text", "n_chars"))
    drain()
    assert(dcat.scan("docs").count() == 10, "refused batch applies nothing")
    val qb = dcat.listBranches().filter(_.startsWith("stream-docs-"))
    assert(qb.size == 1)
    val quarantined = dcat.scan("docs__cdc_quarantine", qb.head)
    assert(quarantined.count() == 1 &&
      quarantined.select("_change_type").head.getString(0) == "insert",
      "the full change batch is inspectable, _change_type included")
    // the stream continues past the quarantined epoch
    scat.append("docs", slice(10, 15))
    drain()
    assert(dcat.scan("docs").count() == 15)
  }

  test("batch CDC apply via writeTo; raw main applies refuse without opt-in") {
    import spark.implicits._
    val (dst, dcat) = register()
    dcat.createBranch("repl")
    dcat.createTableIfNotExists("docs", slice(0, 1).schema, "repl")
    dcat.createTableIfNotExists("docs", slice(0, 1).schema, "main")
    // ordered feed: inserts at seq 1, then a LATER delete of key 3 and a
    // late insert — the per-key latest change must win
    val changes = (
      (0L until 10L).map(i => (i, s"t$i", i * 10, "insert", 1L, "c1")) ++
      Seq((3L, "t3", 30L, "delete", 2L, "c2"), (11L, "t11", 110L, "insert", 2L, "c2"))
    ).toDF("doc_id", "text", "n_chars", "_change_type", "_commit_seq",
      "_commit_snapshot_id")
    changes.writeTo(s"$dst.repl.`docs$$changes`")
      .option("graft.cdc.keys", "doc_id").append()
    val got = dcat.scan("docs", "repl").select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got == ((0L until 10L).filterNot(_ == 3L) :+ 11L).sorted)

    val err = intercept[Exception] {
      changes.writeTo(s"$dst.main.`docs$$changes`")
        .option("graft.cdc.keys", "doc_id").append()
    }
    def msg(t: Throwable): String =
      Option(t.getCause).map(c => t.getMessage + msg(c)).getOrElse(t.getMessage)
    assert(msg(err).contains("write-audit-publish"))
    val err2 = intercept[Exception] {
      changes.writeTo(s"$dst.repl.`docs$$changes`").append()
    }
    assert(msg(err2).contains("graft.cdc.keys"))
  }

  test("CDC apply follows source schema changes with graft.cdc.evolve") {
    import spark.implicits._
    val (dst, dcat) = register()
    dcat.createBranch("repl")
    dcat.createTableIfNotExists("docs", slice(0, 1).schema, "repl")
    // backfill with the ORIGINAL shape
    val base = (0L until 5L).map(i => (i, s"t$i", i * 10, "insert"))
      .toDF("doc_id", "text", "n_chars", "_change_type")
    base.writeTo(s"$dst.repl.`docs$$changes`")
      .option("graft.cdc.keys", "doc_id").append()
    assert(dcat.scan("docs", "repl").count() == 5)

    // the upstream evolved: the feed now carries `score`
    val widened = Seq(
      (2L, "t2", 20L, 7L, "delete"),
      (5L, "t5", 50L, 55L, "insert"),
      (0L, "t0-v2", 5L, 11L, "insert"))
      .toDF("doc_id", "text", "n_chars", "score", "_change_type")
    // without the flag: refuses loudly (unknown column)
    def msg(t: Throwable): String =
      Option(t.getCause).map(c => t.getMessage + msg(c)).getOrElse(t.getMessage)
    val err = intercept[Exception] {
      widened.writeTo(s"$dst.repl.`docs$$changes`")
        .option("graft.cdc.keys", "doc_id").append()
    }
    assert(msg(err).contains("schema mismatch"))

    widened.writeTo(s"$dst.repl.`docs$$changes`")
      .option("graft.cdc.keys", "doc_id")
      .option("graft.cdc.evolve", "true").append()
    val got = dcat.scan("docs", "repl")
    assert(got.columns.contains("score"))
    assert(got.count() == 5) // {0,1,3,4} - deleted(2) + inserted(5), key 0 replaced
    assert(got.filter(col("doc_id") === 0L)
      .select("text", "score").head.toSeq == Seq("t0-v2", 11L))
    assert(got.filter(col("doc_id") === 2L).isEmpty)
    // pre-evolution rows read NULL score
    assert(got.filter(col("doc_id").isin(1L, 3L, 4L) &&
      col("score").isNotNull).count() == 0L)
  }

  test("batch $changes read: the net window with commit columns; windowless reads refuse") {
    val (lake, cat) = register()
    cat.createTableIfNotExists("t", slice(0, 1).schema)
    cat.append("t", slice(0, 10))
    val s1 = cat.snapshotIdOf("t").get
    cat.append("t", slice(10, 20))
    cat.deleteWhere("t", col("doc_id") < 3)
    val s2 = cat.snapshotIdOf("t").get

    val df = spark.read.option("graft.changes.from", s1)
      .option("graft.changes.to", s2).table(s"$lake.main.`t$$changes`")
    // net of the window: +10..19, -0..2 (the CoW carryovers cancel)
    assert(df.count() == 13)
    assert(df.filter(col("_change_type") === "delete").count() == 3)
    assert(df.select("_commit_snapshot_id").distinct().head.getString(0) == s2)
    assert(df.select("_commit_seq").distinct().head.getLong(0) ==
      cat.seqOfSnapshot("t", s2))
    // defaulted `to` = the pinned head
    assert(spark.read.option("graft.changes.from", s1)
      .table(s"$lake.main.`t$$changes`").count() == 13)

    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM $lake.main.`t$$changes`").collect()
    }
    assert(err.getMessage.contains("graft.changes.from"))
  }
}
