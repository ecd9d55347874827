package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.SessionCaches.CheckpointOps
import graft.Tables
import graft.quality._
import graft.wap.{BranchCatalog, BufferAlerter, Wap}

/** WAP + data-quality flows exposed as driver-checkable queries
  * (SURVEY §2.1/§2.2). Each runs the real BranchCatalog/Wap machinery in a
  * fresh temp dir on deterministic slices of the `documents` table, so the
  * DuckDB oracle can state the expected post-WAP content in plain SQL over
  * the original table.
  */
object WapQueries {

  private def badBatch(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") >= 200 && col("doc_id") < 300)
      .withColumn("text",
        when(col("doc_id") % 10 === 0, lit(null: String)).otherwise(col("text")))

  /** Runs the reference's full lambda flow three times (two clean batches
    * that publish, one faulty batch that must NOT publish) and returns the
    * content of main. Oracle: documents with doc_id < 200. */
  private def runFlow(spark: SparkSession, dir: String): (BranchCatalog, BufferAlerter) = {
    val tmp = Files.createTempDirectory("graft-wap").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir)
    val alerter = new BufferAlerter
    val checks = Seq(NotNull("text"), NotNull("lang"))
    Wap.run(cat, "documents", docs.filter(col("doc_id") < 100), checks, "batch-0", alerter)
    Wap.run(cat, "documents", docs.filter(col("doc_id") >= 100 && col("doc_id") < 200), checks, "batch-1", alerter)
    Wap.run(cat, "documents", badBatch(docs), checks, "batch-2", alerter)
    (cat, alerter)
  }

  /** End-to-end WAP correctness: after the flow, main holds exactly the
    * two published batches. */
  def wapRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val (cat, _) = runFlow(spark, dir)
    cat.scan("documents", "main").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"),
      countDistinct(col("doc_id")).as("n_docs"))
  }

  /** Quality-dashboard metrics (reference quality_app.py): rows + null
    * counts for main and for the failed, unmerged branch. */
  def wapMetrics(spark: SparkSession, dir: String): DataFrame = {
    val (cat, _) = runFlow(spark, dir)
    def stats(branch: String): DataFrame =
      cat.scan("documents", branch).agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).cast("long").as("n_null_text"))
        .select(lit(branch).as("branch"), col("n_rows"), col("n_null_text"))
    stats("main").union(stats("batch-2"))
  }

  /** The same dashboard numbers as [[wapMetrics]] computed from METADATA
    * ALONE (BranchCatalog.branchStats: manifest-list sums + one
    * distributed aggregate over manifest entries — zero data files
    * opened). Hash-equality against the oracle's full data scan proves
    * the footer-stats bookkeeping (row counts, per-column null counts)
    * agrees with the data on every branch — the metadata a 100 TB
    * dashboard must trust, because scanning is not an option there
    * (reference quality_app.py:43-77 scans; this is the scale form). */
  def wapBranchStats(spark: SparkSession, dir: String): DataFrame = {
    val (cat, _) = runFlow(spark, dir)
    cat.branchStats("documents")
      .select(col("branch"), col("n_rows"),
        coalesce(try_element_at(col("null_counts"), lit("text")), lit(0L)).as("n_null_text"))
  }

  /** Copy-on-write delete end-to-end: load docs < 200, delete a
    * stats-prunable id range on a branch, publish via merge, then report
    * main's content plus what the delete touched. Oracle: plain SQL over
    * the surviving rows — hash-equal means the rewrite dropped exactly
    * the matching rows and merge carried the removal. */
  def wapDelete(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-del").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    // two appends with disjoint id ranges -> the delete's file rewrite is
    // stats-bounded to the first range's files
    cat.append("documents", docs.filter(col("doc_id") < 100))
    cat.append("documents", docs.filter(col("doc_id") >= 100))
    cat.createBranch("gdpr")
    val res = cat.deleteWhere("documents", col("doc_id") < 50, "gdpr")
    cat.merge("gdpr")
    cat.scan("documents", "main").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"),
      min(col("doc_id")).as("min_id"))
      .select(col("n_rows"), col("sum_chars"), col("min_id"),
        lit(res.rowsDeleted).as("rows_deleted"))
  }

  /** TAGS end-to-end (Nessie/Iceberg immutable refs): tag `v1` freezes
    * the first batch, the table then advances (append + delete) and is
    * EXPIRED — the tag must still read its exact frozen content because
    * expiry treats tag pins as live. Gates: tag reads at both points,
    * the head after mutation, a write-to-tag refusal, and tag survival
    * across expireSnapshots. Oracle: the frozen slices in plain SQL. */
  def wapTags(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-tags").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100))
    cat.createTag("v1")
    cat.append("documents", docs.filter(col("doc_id") >= 100))
    cat.createTag("v2")
    cat.deleteWhere("documents", col("doc_id") < 40)
    cat.expireSnapshots("documents")

    val tagRefused =
      try { cat.append("documents", docs.limit(1), "v1"); false }
      catch { case e: Exception => e.getMessage.contains("no branch") }

    cat.scanTag("documents", "v1").agg(
      count(lit(1)).as("v1_rows"),
      sum(col("n_chars")).cast("long").as("v1_chars"))
      .crossJoin(cat.scanTag("documents", "v2").agg(count(lit(1)).as("v2_rows")))
      .crossJoin(cat.scan("documents", "main").agg(count(lit(1)).as("head_rows")))
      .select(col("v1_rows"), col("v1_chars"), col("v2_rows"), col("head_rows"),
        lit(tagRefused).as("tag_write_refused"))
  }

  /** BRANCH-VERSIONED VIEWS end-to-end (W52, the Nessie view surface):
    * a view created on main through plain `spark.sql` re-analyzes per
    * read (it tracks appended data), a branch EDIT of the same view
    * leaves main's definition untouched, and `merge` publishes the
    * branch's definition. The hashed result carries the view's row
    * count at each stage plus the isolation gate. */
  def wapViews(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-views").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
      .select(col("doc_id"), col("n_chars"))
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100))
    val lake = "lake_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", tmp)

    spark.sql(s"CREATE VIEW $lake.main.hefty AS " +
      s"SELECT doc_id, n_chars FROM $lake.main.documents WHERE n_chars > 0")
    val atCreate = spark.sql(s"SELECT count(*) AS c FROM $lake.main.hefty").head.getLong(0)
    cat.append("documents", docs.filter(col("doc_id") >= 100))
    val afterAppend = spark.sql(s"SELECT count(*) AS c FROM $lake.main.hefty").head.getLong(0)

    cat.createBranch("dev")
    spark.sql(s"CREATE OR REPLACE VIEW $lake.dev.hefty AS " +
      s"SELECT doc_id, n_chars FROM $lake.dev.documents WHERE doc_id >= 150")
    val mainIsolated =
      spark.sql(s"SELECT count(*) AS c FROM $lake.main.hefty").head.getLong(0) == afterAppend
    cat.merge("dev")
    val afterMerge = spark.sql(s"SELECT count(*) AS c FROM $lake.main.hefty").head.getLong(0)

    // materialize before the per-run catalog confs are dropped (Bench
    // runs this 3x per process; the conf map must not grow per run)
    val sumChars = spark.sql(
      s"SELECT CAST(sum(n_chars) AS BIGINT) AS c FROM $lake.main.hefty").head.getLong(0)
    spark.conf.unset(s"spark.sql.catalog.$lake")
    spark.conf.unset(s"spark.sql.catalog.$lake.root")
    import spark.implicits._
    Seq((atCreate, afterAppend, afterMerge, sumChars, mainIsolated))
      .toDF("at_create", "after_append", "after_merge", "sum_chars", "main_isolated")
  }

  /** Audited CHERRY-PICK end-to-end (Iceberg's native WAP publish
    * primitive, W51): an append commit staged on a branch replays onto
    * main through `cherrypickSnapshot` AFTER its delta passes the
    * audit; a second replay is a no-op (idempotence gate); a dirty
    * commit (planted nulls) fails its audit and publishes nothing. The
    * hashed result carries main's final content plus the three gates. */
  def wapCherrypick(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-cp").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100))
    cat.createBranch("stage")
    val clean = cat.append("documents",
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 160), "stage")
    val dirty = cat.append("documents",
      docs.filter(col("doc_id") >= 160)
        .withColumn("text", when(col("doc_id") % 10 === 0, lit(null)).otherwise(col("text"))),
      "stage")

    val checks = Seq(graft.quality.NotNull("text"))
    val cleanReport = graft.quality.Audit.run(
      cat.scanChangesBetween("documents", clean.parentId.get, clean.id), checks)
    val picked = if (cleanReport.passed) cat.cherrypickSnapshot("documents", clean.id) else null
    val again = cat.cherrypickSnapshot("documents", clean.id)
    val idempotent = again.id == picked.id

    val dirtyReport = graft.quality.Audit.run(
      cat.scanChangesBetween("documents", dirty.parentId.get, dirty.id), checks)
    val dirtyBlocked = !dirtyReport.passed

    cat.scan("documents", "main").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"))
      .select(col("n_rows"), col("sum_chars"),
        lit(cleanReport.passed).as("clean_published"),
        lit(idempotent).as("idempotent"),
        lit(dirtyBlocked).as("dirty_blocked"))
  }

  /** MANIFEST-LIST pruning end-to-end (W54): three range-disjoint
    * commits, then the FIRST range's manifest is overwritten with
    * garbage on disk — a selective scan and a bounded DELETE still
    * succeed (reading the excluded manifest would throw), proving the
    * manifest tier skipped it from its own bounds, while an unfiltered
    * scan fails loudly (the corruption is real, gate three). Hashed:
    * the surviving selective counts + the three proof booleans. */
  def wapManifestPrune(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-mlp").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 150)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 50).repartition(1))
    cat.append("documents", docs.filter(col("doc_id") >= 50 && col("doc_id") < 100).repartition(1))
    cat.append("documents", docs.filter(col("doc_id") >= 100).repartition(1))

    val snap = cat.snapshotMeta("documents", cat.snapshotIdOf("documents").get)
    val low = snap.manifests.find(_.upper.get("doc_id").exists(_.toLong < 50)).get
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      new org.apache.hadoop.fs.Path(low.path).toUri.getPath), "NOT JSON")

    val selective = cat.scan("documents", filter = Some(col("doc_id") >= 100))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("s")).head
    val del = cat.deleteWhere("documents", col("doc_id") >= 140)
    val afterDelete = cat.scan("documents", filter = Some(col("doc_id") >= 100)).count()
    val corruptReal =
      try { cat.scan("documents").count(); false } catch { case _: Exception => true }

    import spark.implicits._
    Seq((selective.getLong(0), selective.getLong(1), afterDelete,
      del.filesUntouched, corruptReal))
      .toDF("n_high", "chars_high", "n_high_after_delete", "files_untouched", "corrupt_real")
  }

  /** METADATA-ONLY delete end-to-end (the Iceberg metadata-delete shape):
    * three single-file appends with disjoint id ranges, then a branch
    * delete whose predicate fully covers the first file and half of the
    * second — the first file must DROP from its manifest without being
    * read (files_dropped = 1), only the boundary file pays a rewrite
    * (files_rewritten = 1). Hash-equality proves both the surviving
    * content and the tier split: a delete that silently rewrote
    * everything (or dropped a file it could not prove) changes the gate
    * columns. At 100 TB this is the difference between dropping a day
    * partition as a manifest edit and rewriting a day of data. */
  def wapMetaDelete(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-mdel").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 80).repartition(1))
    cat.append("documents", docs.filter(col("doc_id") >= 80 && col("doc_id") < 160).repartition(1))
    cat.append("documents", docs.filter(col("doc_id") >= 160).repartition(1))
    cat.createBranch("gdpr")
    val res = cat.deleteWhere("documents", col("doc_id") < 120, "gdpr")
    cat.merge("gdpr")
    cat.scan("documents", "main").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"),
      min(col("doc_id")).as("min_id"))
      .select(col("n_rows"), col("sum_chars"), col("min_id"),
        lit(res.rowsDeleted).as("rows_deleted"),
        lit(res.filesDropped).as("files_dropped"),
        lit(res.filesRewritten).as("files_rewritten"))
  }

  /** Copy-on-write update end-to-end: bump n_chars for a stats-prunable
    * id range on a branch, publish via merge, report per-range sums.
    * Oracle: plain SQL applying the same SET arithmetic. */
  def wapUpdate(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-upd").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100))
    cat.append("documents", docs.filter(col("doc_id") >= 100))
    cat.createBranch("fix")
    val res = cat.updateWhere("documents", col("doc_id") < 50,
      Map("n_chars" -> (col("n_chars") + lit(1000))), "fix")
    cat.merge("fix")
    cat.scan("documents", "main").agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("doc_id") < 50, col("n_chars"))).cast("long").as("sum_updated"),
      sum(when(col("doc_id") >= 50, col("n_chars"))).cast("long").as("sum_untouched"))
      .select(col("n_rows"), col("sum_updated"), col("sum_untouched"),
        lit(res.rowsUpdated).as("rows_updated"))
  }

  /** MERGE-INTO upsert end-to-end: replace ids 90..109 with bumped
    * n_chars and insert 200..204, then aggregate main per range. Oracle:
    * the same arithmetic in plain SQL. */
  def wapUpsert(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-ups").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100))
    cat.append("documents", docs.filter(col("doc_id") >= 100 && col("doc_id") < 200))
    val source = docs.filter((col("doc_id") >= 90 && col("doc_id") < 110) ||
        (col("doc_id") >= 200 && col("doc_id") < 205))
      .withColumn("n_chars", col("n_chars") + lit(5000))
    val res = cat.upsert("documents", source, Seq("doc_id"))
    cat.scan("documents", "main").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"))
      .select(col("n_rows"), col("sum_chars"),
        lit(res.rowsReplaced).as("rows_replaced"),
        lit(res.rowsInserted).as("rows_inserted"))
  }

  /** Hidden partitioning end-to-end: bucket(8, doc_id) append, then a
    * point-lookup scan — the returned row carries a `pruned` flag
    * (>= 8 files written, the lookup planned <= 1/4 of them) so the
    * ORACLE pins the pruning behavior, not just the lookup's result. */
  def wapPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-part").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.appendPartitioned("documents", docs, graft.wap.BucketPartition(8, "doc_id"))
    val total = cat.dataFiles("documents").size.toLong
    val pruned = cat.prunedDataFiles("documents", col("doc_id") === 57L).size.toLong
    cat.scan("documents", filter = Some(col("doc_id") === 57L))
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).cast("long").as("sum_chars"))
      .select(col("n_rows"), col("sum_chars"),
        lit(total >= 8L && pruned * 4L <= total).as("pruned"))
  }

  /** Sort-clustered compaction end-to-end (W26): four interleaved
    * appends leave every file spanning the full doc_id domain (point
    * predicates prune nothing), `compactDataFilesSorted` rewrites into
    * range-disjoint files, and the returned row pins BOTH behaviors —
    * unprunable before (4/4 files), one-file pruning after — plus the
    * content surviving the rewrite byte-for-byte. */
  def wapSortedCompact(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-sorted").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    for (r <- 0 until 4)
      cat.append("documents", docs.filter(col("doc_id") % 4 === r).coalesce(1))
    val cond = col("doc_id") === 57L
    val prunedBefore = cat.prunedDataFiles("documents", cond).size.toLong
    cat.compactDataFilesSorted("documents", Seq("doc_id"), targetFiles = 4)
    val filesAfter = cat.dataFiles("documents").size.toLong
    val prunedAfter = cat.prunedDataFiles("documents", cond).size.toLong
    cat.scan("documents", filter = Some(cond))
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).cast("long").as("sum_chars"))
      .select(col("n_rows"), col("sum_chars"),
        lit(prunedBefore).as("pruned_before"),
        lit(filesAfter).as("n_files_after"),
        lit(prunedAfter).as("pruned_after"))
  }

  /** Per-file bloom index end-to-end (W43): four interleaved appends
    * leave every file spanning the full doc_id domain, so range stats
    * prune NOTHING for a point predicate; `buildBloomIndex` writes
    * per-manifest-per-file bloom sidecars and the same predicate — and a
    * DPP-shaped IN set — then reads only files whose bloom admits some
    * key. The aggregate itself is the soundness gate (the pruned scan
    * must still return exactly the key's rows, DuckDB-checked); fpp is
    * dialed low so the pruned-file booleans are stable under the
    * deterministic per-dataset false-positive draw. */
  def wapBloom(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-bloom").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    for (r <- 0 until 4)
      cat.append("documents", docs.filter(col("doc_id") % 4 === r).coalesce(1))
    val cond = col("doc_id") === 57L
    val before = cat.prunedDataFiles("documents", cond).size.toLong
    val built = cat.buildBloomIndex("documents", "doc_id", fpp = 0.001)
    val afterPoint = cat.prunedDataFiles("documents", cond).size.toLong
    val afterIn = cat.prunedDataFiles("documents",
      col("doc_id").isin(57L, 58L, 59L)).size.toLong
    cat.scan("documents", filter = Some(cond))
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).cast("long").as("sum_chars"))
      .select(col("n_rows"), col("sum_chars"),
        lit(before).as("files_before"),
        lit(afterPoint < before).as("point_pruned"),
        lit(afterIn < 4L && afterIn >= 1L).as("in_pruned"),
        lit(built.toLong).as("manifests_indexed"))
  }

  /** Merge-on-read delete end-to-end (W31): key tombstones suppress
    * their rows with ZERO data files touched; a re-appended tombstoned
    * key is VISIBLE again (sequence semantics); compaction materializes;
    * the oracle pins the final content in plain SQL. */
  def wapMorDelete(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-mor").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100))
    cat.append("documents", docs.filter(col("doc_id") >= 100))
    val filesBefore = cat.dataFiles("documents").map(_.path).toSet
    cat.deleteKeysMOR("documents",
      docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")))
    val zeroRewrites = cat.dataFiles("documents").map(_.path).toSet == filesBefore
    val morCount = cat.scan("documents").count()
    // sequence semantics: a key appended AFTER its tombstone is visible
    cat.append("documents", docs.filter(col("doc_id") === 7L))
    val reappeared = cat.scan("documents").count() == morCount + 1
    val compacted = cat.compactDataFiles("documents", targetFiles = 2)
    val clean = compacted.deleteManifests.isEmpty &&
      cat.scan("documents").count() == morCount + 1
    cat.scan("documents").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"))
      .select(col("n_rows"), col("sum_chars"),
        lit(zeroRewrites).as("zero_data_rewrites"),
        lit(reappeared).as("reappend_visible"),
        lit(clean).as("materialized_clean"))
  }

  /** Position-delete sidecars end-to-end (W55 — Iceberg v2 position
    * deletes / Delta deletion vectors): an ARBITRARY-predicate
    * merge-on-read delete (`n_chars % 7 = 0` — not expressible as a key
    * list without reading the data first) lands as tiny (file, row-index)
    * sidecars with ZERO data files rewritten; a second, range-aligned
    * delete exercises the metadata tier (provably-all-matching files drop
    * as manifest edits, never read); re-appended rows are visible again
    * (sequence semantics); compaction materializes the sidecars and the
    * content is unchanged. Gates: zero rewrites, >=1 metadata-dropped
    * file, exact per-tier deleted-row counts, re-append visibility,
    * clean materialization. */
  def wapPosDelete(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-posdel").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100))
    cat.append("documents", docs.filter(col("doc_id") >= 100))
    val filesBefore = cat.dataFiles("documents").map(_.path).toSet
    // boundary-row delete -> pure sidecars (no file has ALL rows matching)
    val res1 = cat.deleteWherePositional("documents",
      col("n_chars") % 7 === 0 && col("doc_id") < 100)
    // range-aligned delete -> the second append's files drop metadata-only
    val res2 = cat.deleteWherePositional("documents", col("doc_id") >= 100)
    val zeroRewrites = res1.filesRewritten == 0 && res2.filesRewritten == 0 &&
      cat.dataFiles("documents").map(_.path).toSet.subsetOf(filesBefore)
    val metaDropped = res1.filesDropped == 0 && res2.filesDropped >= 1
    // r14: the sidecar FOLD (rewrite_position_delete_files) collapses the
    // two generations to ONE epoch, drops the metadata-deleted file's
    // dangling positions, rewrites nothing, and the scan is unchanged
    val preFold = cat.scan("documents").count()
    val folded = cat.compactPositionDeletes("documents")
    val foldedOneEpoch = folded.deleteManifests.size == 1 &&
      cat.dataFiles("documents").map(_.path).toSet.subsetOf(filesBefore) &&
      cat.scan("documents").count() == preFold
    // sequence semantics: the deleted rows, re-appended, are visible again
    cat.append("documents",
      docs.filter(col("n_chars") % 7 === 0 && col("doc_id") < 100))
    val expectFinal = docs.filter(col("doc_id") < 100).count()
    val reappendVisible = cat.scan("documents").count() == expectFinal
    val compacted = cat.compactDataFiles("documents", targetFiles = 2)
    val clean = compacted.deleteManifests.isEmpty &&
      cat.scan("documents").count() == expectFinal
    cat.scan("documents").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"))
      .select(col("n_rows"), col("sum_chars"),
        lit(res1.rowsDeleted).as("rows_pos_deleted"),
        lit(res2.rowsDeleted).as("rows_meta_deleted"),
        lit(zeroRewrites).as("zero_rewrites"),
        lit(metaDropped).as("meta_dropped"),
        lit(reappendVisible).as("reappend_visible"),
        lit(foldedOneEpoch).as("folded_one_epoch"),
        lit(clean).as("materialized_clean"))
  }

  /** Merge-on-read UPSERT end-to-end (W31): the CDC shape — same source
    * and expected content as the copy-on-write [[wapUpsert]] (the two
    * oracles share their arithmetic), but applied as one
    * tombstones+append commit with ZERO existing files rewritten. */
  def wapMorUpsert(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-morups").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100))
    cat.append("documents", docs.filter(col("doc_id") >= 100 && col("doc_id") < 200))
    val source = docs.filter((col("doc_id") >= 90 && col("doc_id") < 110) ||
        (col("doc_id") >= 200 && col("doc_id") < 205))
      .withColumn("n_chars", col("n_chars") + lit(5000))
    val filesBefore = cat.dataFiles("documents").map(_.path).toSet
    cat.upsertKeysMOR("documents", source, Seq("doc_id"))
    val noRewrites = filesBefore.subsetOf(cat.dataFiles("documents").map(_.path).toSet)
    cat.scan("documents").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"))
      .select(col("n_rows"), col("sum_chars"),
        lit(noRewrites).as("zero_data_rewrites"))
  }

  /** Z-order compaction end-to-end (W29): interleaved appends, Morton
    * rewrite on (doc_id, n_chars), then pruning gates on BOTH dimensions
    * plus scan soundness — lexicographic clustering can only serve its
    * leading column, so the n_chars gate is the z-order-specific one. */
  def wapZorder(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-zorder").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir)
    cat.createTableIfNotExists("documents", docs.schema)
    for (r <- 0 until 4)
      cat.append("documents", docs.filter(col("doc_id") % 4 === r).coalesce(1))
    cat.compactDataFilesZOrder("documents", Seq("doc_id", "n_chars"), targetFiles = 16)
    val idSlice = col("doc_id") >= 100L && col("doc_id") < 130L
    val b = docs.agg(min(col("n_chars")).cast("long"), max(col("n_chars")).cast("long"))
      .collect().head
    val mid = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
    val chSlice = col("n_chars") >= mid && col("n_chars") < mid + (b.getLong(1) - b.getLong(0)) / 16
    val nFiles = cat.dataFiles("documents").size.toLong
    val pId = cat.prunedDataFiles("documents", idSlice).size.toLong
    val pCh = cat.prunedDataFiles("documents", chSlice).size.toLong
    val soundCh =
      cat.scan("documents", filter = Some(chSlice)).count() == docs.filter(chSlice).count()
    cat.scan("documents", filter = Some(idSlice))
      .agg(count(lit(1)).as("n_rows_id_slice"))
      .select(col("n_rows_id_slice"),
        lit(nFiles).as("n_files"),
        lit(pId < nFiles).as("prunes_id"),
        lit(pCh < nFiles).as("prunes_chars"),
        lit(soundCh).as("pruned_scan_sound"))
  }

  /** Incremental snapshot-window reads end-to-end (W27): three appends,
    * then the deltas of each window — including an empty window and a
    * window crossing a metadata-only manifest compaction, which must
    * report nothing (file-level subtraction). */
  def wapIncremental(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-incr").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    val s1 = cat.append("documents", docs.filter(col("doc_id") < 50))
    val s2 = cat.append("documents", docs.filter(col("doc_id") >= 50 && col("doc_id") < 120))
    val s3 = cat.append("documents", docs.filter(col("doc_id") >= 120))
    val s4 = cat.compactManifests("documents")
    cat.scanChangesBetween("documents", s2.id, s3.id)
      .agg(count(lit(1)).as("rows_w23"),
        sum(col("n_chars")).cast("long").as("chars_w23"))
      .select(col("rows_w23"), col("chars_w23"),
        lit(cat.scanChangesBetween("documents", s1.id, s3.id).count()).as("rows_w13"),
        lit(cat.scanChangesBetween("documents", s3.id, s3.id).count()).as("rows_empty"),
        lit(cat.scanChangesBetween("documents", s3.id, s4.id).count()).as("rows_compaction"))
  }

  /** The reference's exact audit (IsNull on the target column) over a
    * simulated faulty batch, as a one-pass suite report. */
  def dqNullAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 300)
      .withColumn("text",
        when(col("doc_id") % 10 === 0, lit(null: String)).otherwise(col("text")))
    Audit.reportDF(spark, Audit.run(docs, Seq(NotNull("text"), NotNull("lang"))))
  }

  /** Conditional MERGE INTO end-to-end
    * ([[graft.wap.BranchCatalog.mergeInto]], Iceberg MERGE semantics):
    * publish docs < 200, then ONE merge whose source overlaps 150..199
    * and brings 200..219 — matched evens get n_chars bumped (+1000),
    * remaining matched multiples of 3 are deleted, and only inserts with
    * doc_id < 210 qualify. Oracle: plain SQL applying the same
    * first-match-wins CASE over the source slices. */
  def wapMergeConditional(spark: SparkSession, dir: String): DataFrame = {
    import graft.wap.MergeClause._
    val tmp = Files.createTempDirectory("graft-wap-merge").toString
    val cat = new BranchCatalog(spark, tmp)
    val all = Tables.documents(spark, dir)
    val docs = all.filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100))
    cat.append("documents", docs.filter(col("doc_id") >= 100))
    val source = all.filter(col("doc_id") >= 150 && col("doc_id") < 220)
    val res = cat.mergeInto("documents", source, Seq("doc_id"), Seq(
      MatchedUpdate(Some(col("s.doc_id") % 2 === 0),
        Map("n_chars" -> (col("t.n_chars") + lit(1000L)))),
      MatchedDelete(Some(col("s.doc_id") % 3 === 0)),
      NotMatchedInsert(Some(col("s.doc_id") < 210))))
    cat.scan("documents").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"))
      .select(col("n_rows"), col("sum_chars"),
        lit(res.rowsUpdated).as("rows_updated"),
        lit(res.rowsDeleted).as("rows_deleted"),
        lit(res.rowsInserted).as("rows_inserted"))
  }

  /** SQL multi-table transactions end to end (W35's handle form —
    * `CALL begin/stage_append/stage_delete_keys/commit/abort_transaction`
    * through `spark.sql` only): stage appends against TWO tables, pin
    * that staged rows stay INVISIBLE pre-commit, publish both in one
    * refs swap, then stage-and-abort (nothing publishes) and commit a
    * staged MOR key delete. Oracle: DuckDB recomputes both tables'
    * aggregates from the slices. */
  def wapSqlTxn(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-sqltxn").toString
    val cat = new BranchCatalog(spark, tmp)
    val lake = "lake_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", tmp)
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "lang", "n_chars").filter(col("doc_id") < 100)
    cat.createTableIfNotExists("facts", docs.schema)
    cat.createTableIfNotExists("audit", docs.schema)
    cat.append("facts", docs.filter(col("doc_id") < 50))
    docs.filter(col("doc_id") >= 50).createOrReplaceTempView("sqltxn_facts_src")
    docs.filter(col("doc_id") < 10).createOrReplaceTempView("sqltxn_audit_src")

    spark.sql(s"CALL $lake.system.begin_transaction('t1')")
    spark.sql(s"CALL $lake.system.stage_append('t1', 'facts', 'sqltxn_facts_src')")
    spark.sql(s"CALL $lake.system.stage_append('t1', 'audit', 'sqltxn_audit_src')")
    val stagedInvisible =
      spark.sql(s"SELECT count(*) FROM $lake.main.facts").head.getLong(0) == 50L &&
      spark.sql(s"SELECT count(*) FROM $lake.main.audit").head.getLong(0) == 0L
    spark.sql(s"CALL $lake.system.commit_transaction('t1')")

    // abort path: nothing publishes
    spark.sql(s"CALL $lake.system.begin_transaction('t2')")
    spark.sql(s"CALL $lake.system.stage_append('t2', 'facts', 'sqltxn_audit_src')")
    spark.sql(s"CALL $lake.system.abort_transaction('t2')")
    val abortClean =
      spark.sql(s"SELECT count(*) FROM $lake.main.facts").head.getLong(0) == 100L

    // a staged MOR key delete commits atomically with the sweep
    spark.sql(s"CALL $lake.system.begin_transaction('t3')")
    spark.sql(s"CALL $lake.system.stage_delete_keys('t3', 'audit', 'sqltxn_audit_src')")
    spark.sql(s"CALL $lake.system.commit_transaction('t3')")

    val facts = cat.scan("facts").agg(
      count(lit(1)).as("n_facts"),
      sum(col("n_chars")).cast("long").as("facts_chars"))
    val audit = cat.scan("audit").agg(
      count(lit(1)).cast("long").as("n_audit"))
    facts.crossJoin(audit).select(
      col("n_facts"), col("facts_chars"), col("n_audit"),
      lit(stagedInvisible).as("staged_invisible"),
      lit(abortClean).as("abort_clean"))
  }

  /** MERGE schema evolution end to end (Delta `WITH SCHEMA EVOLUTION` /
    * Iceberg merge-schema writes): the CDC source carries a column the
    * table lacks (`score`); `mergeInto(schemaEvolution = true)` ADDS it
    * through evolveSchema in the same call and the merge lands values on
    * matched + inserted rows while pre-existing unmatched rows read NULL.
    * A second evolving merge through SQL `MERGE WITH SCHEMA EVOLUTION`
    * (the analyzer applies the AddColumn through alterTable) widens the
    * table again with `grade`. Oracle: DuckDB recomputes the final wide
    * table's aggregates from the source slices. */
  def wapMergeEvolve(spark: SparkSession, dir: String): DataFrame = {
    import graft.wap.MergeClause._
    val tmp = Files.createTempDirectory("graft-wap-mevo").toString
    val cat = new BranchCatalog(spark, tmp)
    val all = Tables.documents(spark, dir).select("doc_id", "lang", "n_chars")
    val docs = all.filter(col("doc_id") < 150)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs)

    val source = all.filter(col("doc_id") >= 100 && col("doc_id") < 200)
      .withColumn("score", (col("doc_id") * 3).cast("long"))
    val res = cat.mergeInto("documents", source, Seq("doc_id"), Seq(
      MatchedUpdate(None, Map("score" -> col("s.score"))),
      NotMatchedInsert()), schemaEvolution = true)

    // SQL leg: a SECOND evolving merge through the analyzer's
    // WITH SCHEMA EVOLUTION path (AUTOMATIC_SCHEMA_EVOLUTION capability).
    // Catalog name derives from the temp root: instances are cached by
    // name per session, and Bench re-runs this query in one JVM
    val name = "mergeevoq_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", tmp)
    spark.conf.set(s"spark.sql.catalog.$name.write.main", "true")
    all.filter(col("doc_id") < 50)
      .withColumn("score", lit(null).cast("long"))
      .withColumn("grade", (col("doc_id") % 5).cast("long"))
      .createOrReplaceTempView("mergeevoq_src")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $name.main.documents t
         |USING mergeevoq_src s ON t.doc_id = s.doc_id
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin)

    cat.scan("documents").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"),
      sum(col("score")).cast("long").as("sum_score"),
      sum(when(col("score").isNull, 1L).otherwise(0L)).cast("long").as("n_null_score"),
      sum(col("grade")).cast("long").as("sum_grade"),
      sum(when(col("grade").isNull, 1L).otherwise(0L)).cast("long").as("n_null_grade"))
      .select(col("n_rows"), col("sum_chars"), col("sum_score"),
        col("n_null_score"), col("sum_grade"), col("n_null_grade"),
        lit(res.rowsUpdated).as("rows_updated"),
        lit(res.rowsInserted).as("rows_inserted"))
  }

  /** WHEN NOT MATCHED BY SOURCE end-to-end
    * ([[graft.wap.BranchCatalog.mergeInto]] by-source clauses, SQL:2023 /
    * Delta-Iceberg by-source semantics + graft's two-tier planning).
    * Merge 1 exercises every clause family at once — matched evens
    * update, bounded inserts, by-source UPDATE below 40, by-source
    * DELETE above 160 — and its conditional by-source tier must CARRY
    * the middle-band files by reference (join-free rewrites only where a
    * condition may hold). Merge 2 is the sync-to-source fast path: an
    * unconditional by-source DELETE whose no-overlap files drop
    * METADATA-ONLY, never read. Oracle: the same clause arithmetic in
    * plain SQL over the source slices. */
  def wapMergeSource(spark: SparkSession, dir: String): DataFrame = {
    import graft.wap.MergeClause._
    val tmp = Files.createTempDirectory("graft-wap-mbs").toString
    val cat = new BranchCatalog(spark, tmp)
    val all = Tables.documents(spark, dir)
    val docs = all.filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.appendClustered("documents", docs, Seq("doc_id"), files = 8)

    val src1 = all.filter(
      (col("doc_id") >= 80 && col("doc_id") < 120) ||
        (col("doc_id") >= 200 && col("doc_id") < 220))
    val r1 = cat.mergeInto("documents", src1, Seq("doc_id"), Seq(
      MatchedUpdate(Some(col("s.doc_id") % 2 === 0),
        Map("n_chars" -> (col("t.n_chars") + lit(1000L)))),
      NotMatchedInsert(Some(col("s.doc_id") < 210)),
      NotMatchedBySourceUpdate(Some(col("t.doc_id") < 40),
        Map("lang" -> lit("stale"))),
      NotMatchedBySourceDelete(Some(col("t.doc_id") >= 160))))

    val r2 = cat.mergeInto("documents", all.filter(col("doc_id") < 100),
      Seq("doc_id"), Seq(NotMatchedBySourceDelete(None)))

    cat.scan("documents").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"))
      .select(col("n_rows"), col("sum_chars"),
        lit(cat.scan("documents").filter(col("lang") === "stale").count()).as("n_stale"),
        lit(r1.rowsUpdated).as("rows_updated_1"),
        lit(r1.rowsDeleted).as("rows_deleted_1"),
        lit(r1.rowsInserted).as("rows_inserted_1"),
        lit(r2.rowsDeleted).as("rows_deleted_2"),
        lit(r1.filesUntouched > 0).as("conditional_tier_carried"),
        lit(r2.filesDropped > 0).as("drop_tier_metadata_only"))
  }

  /** Table CHECK constraints end-to-end (`graft.constraint.*`
    * TBLPROPERTIES — the Delta table-constraint analogue): set two
    * constraints, then prove every write path enforces them BEFORE
    * committing — a violating append, a violating UPDATE outcome and a
    * violating MERGE insert each fail and leave the table byte-unchanged,
    * while clean writes (including NULL constraint results — SQL CHECK
    * passes UNKNOWN) land normally; a malformed constraint refuses at
    * SET time. Oracle: the surviving (clean) mutations in plain SQL plus
    * constant-true rejection gates. */
  def wapConstraints(spark: SparkSession, dir: String): DataFrame = {
    import graft.wap.MergeClause._
    val tmp = Files.createTempDirectory("graft-wap-constr").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.setTableProperties("documents", Map(
      "graft.constraint.chars_pos" -> "n_chars >= 0",
      "graft.constraint.lang_filled" -> "lang IS NOT NULL"))

    cat.append("documents", docs.filter(col("doc_id") < 100))
    val rejectedAppend = try {
      cat.append("documents", docs.filter(col("doc_id") >= 100)
        .withColumn("n_chars", -col("n_chars") - 1))
      false
    } catch { case _: Exception => cat.scan("documents").count() == 100L }
    cat.append("documents", docs.filter(col("doc_id") >= 100))

    cat.updateWhere("documents", col("doc_id") < 50,
      Map("n_chars" -> (col("n_chars") + lit(1000L))))
    val rejectedUpdate = try {
      cat.updateWhere("documents", col("doc_id") === 60,
        Map("n_chars" -> lit(-1L)))
      false
    } catch { case _: Exception => true }

    val rejectedMerge = try {
      cat.mergeInto("documents",
        docs.filter(col("doc_id") < 5)
          .withColumn("doc_id", col("doc_id") + 1000)
          .withColumn("n_chars", lit(-2L)),
        Seq("doc_id"), Seq(NotMatchedInsert(None)))
      false
    } catch { case _: Exception => true }

    val setTimeValidated = try {
      cat.setTableProperties("documents",
        Map("graft.constraint.ghost" -> "no_such_col > 0")); false
    } catch { case _: IllegalArgumentException => true }

    cat.scan("documents").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"))
      .select(col("n_rows"), col("sum_chars"),
        lit(rejectedAppend).as("rejected_append"),
        lit(rejectedUpdate).as("rejected_update"),
        lit(rejectedMerge).as("rejected_merge"),
        lit(setTimeValidated).as("set_time_validated"))
  }

  /** Multi-table ATOMIC publish ([[graft.wap.BranchCatalog.transaction]] —
    * the Nessie-style transactional commit the reference's catalog gives
    * it for free): one transaction appends a fact batch AND its derived
    * per-source stats table, so readers can never see the facts without
    * the matching stats row (the refs swap is the single linearization
    * point). A second, deliberately failing transaction proves
    * all-or-nothing: after it aborts, NEITHER table moved and the refs
    * version is unchanged. Oracle: plain SQL over the published slices
    * plus constant-true atomicity gates. */
  def wapTxn(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-txn").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.createTableIfNotExists("doc_stats",
      org.apache.spark.sql.types.StructType.fromDDL("source STRING, n BIGINT"))
    cat.append("documents", docs.filter(col("doc_id") < 100))

    val v0 = cat.currentRefs().version
    cat.transaction() { txn =>
      txn.append("documents", docs.filter(col("doc_id") >= 100))
      txn.append("doc_stats",
        docs.groupBy(col("source")).agg(count(lit(1)).as("n")))
    }
    val oneCommit = cat.currentRefs().version == v0 + 1

    // a failing transaction moves NOTHING (all-or-nothing)
    val headsBefore = (cat.snapshotIdOf("documents"), cat.snapshotIdOf("doc_stats"))
    val abortedClean = try {
      cat.transaction() { txn =>
        txn.append("doc_stats", docs.limit(1).select(col("source"), col("doc_id").as("n")))
        sys.error("audit failed after staging")
      }
      false
    } catch {
      case _: RuntimeException =>
        (cat.snapshotIdOf("documents"), cat.snapshotIdOf("doc_stats")) == headsBefore
    }

    cat.scan("documents").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"))
      .crossJoin(cat.scan("doc_stats").agg(
        countDistinct(col("source")).as("n_sources"),
        sum(col("n")).cast("long").as("stats_total")))
      .select(col("n_rows"), col("sum_chars"), col("n_sources"), col("stats_total"),
        lit(oneCommit).as("one_commit"), lit(abortedClean).as("aborted_clean"))
  }

  /** The SQL row-level DML surface end-to-end
    * ([[graft.sql.GraftDmlLowering]] — the analogue of Iceberg's full
    * SQL DML on the reference's tables): publish docs < 200, then
    * mutate a branch ENTIRELY through `spark.sql` — an UPDATE with SET
    * arithmetic, a three-clause conditional MERGE INTO (update evens /
    * delete odds / bounded insert) — publish via merge, and prove the
    * main guard refused a direct SQL UPDATE. Oracle: the same mutations
    * in plain SQL over the source table. */
  def wapSqlDml(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-dml").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100))
    cat.append("documents", docs.filter(col("doc_id") >= 100))
    cat.createBranch("dml")

    val lake = "lake_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", tmp)

    spark.sql(s"UPDATE $lake.dml.documents SET n_chars = n_chars + 1000 WHERE doc_id < 50")

    Tables.documents(spark, dir)
      .filter(col("doc_id") >= 150 && col("doc_id") < 250)
      .createOrReplaceTempView("graft_dml_src")
    spark.sql(
      s"""MERGE INTO $lake.dml.documents AS t USING graft_dml_src AS s
         |ON t.doc_id = s.doc_id
         |WHEN MATCHED AND s.doc_id % 2 = 0 THEN UPDATE SET n_chars = s.n_chars + 5000
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED AND s.doc_id < 230 THEN INSERT *
         |""".stripMargin)

    // the branch guard holds for row-level DML exactly as for inserts
    val mainGuarded = try {
      spark.sql(s"UPDATE $lake.main.documents SET n_chars = 0 WHERE doc_id = 1"); false
    } catch { case e: Exception => e.getMessage.contains("write-audit-publish") }

    cat.merge("dml")
    cat.scan("documents", "main").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"),
      countDistinct(col("doc_id")).as("n_docs"))
      .select(col("n_rows"), col("sum_chars"), col("n_docs"),
        lit(mainGuarded).as("main_guarded"))
  }

  /** SQL metadata tables end-to-end ([[graft.sql.GraftMetadataTable]] —
    * the Iceberg `$snapshots`/`$files`/`$history` analogue): publish two
    * commits, then answer everything through `spark.sql` over the
    * metadata tables — snapshot count and head row count from
    * `$snapshots`, file count and footer row sums from `$files` (the
    * DISTRIBUTED manifest-entry read), head lineage from `$history`.
    * Oracle: the same numbers as constants + plain SQL over the source
    * table (the flow is deterministic: create + two single-file
    * appends). */
  def wapMetaTables(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-meta").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100).coalesce(1))
    cat.append("documents", docs.filter(col("doc_id") >= 100).coalesce(1))

    val lake = "lake_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", tmp)

    spark.sql(
      s"""SELECT s.n_snapshots, s.head_rows, f.n_files, f.rows_from_files,
         |       h.n_heads, h.head_current
         |FROM (SELECT count(*) AS n_snapshots, max(n_rows) AS head_rows
         |      FROM $lake.main.`documents$$snapshots`) s
         |CROSS JOIN (SELECT count(*) AS n_files, CAST(sum(rows) AS BIGINT) AS rows_from_files
         |            FROM $lake.main.`documents$$files`) f
         |CROSS JOIN (SELECT count(*) AS n_heads,
         |                   max(CASE WHEN is_current THEN refs_version END) = max(refs_version) AS head_current
         |            FROM $lake.main.`documents$$history`
         |            WHERE snapshot_id IS NOT NULL) h
         |""".stripMargin)
  }

  /** Where one sf-dir's snapshot export lands — a FIXED path (not a
    * random temp dir) because the DuckDB oracle must locate the export
    * artifacts from static SQL. */
  def exportDir(dir: String): String =
    s"/tmp/graft-export-${dir.replaceAll("[^A-Za-z0-9.]", "_")}"

  /** Foreign-engine snapshot export end-to-end (the reference's core
    * premise, README:174-191: a published table is queryable from its
    * metadata alone by an engine that never loaded the writer's code).
    * Publish two commits, MOR-delete ten keys and MATERIALIZE the
    * tombstones, add a hidden-partitioned commit, then export the head
    * snapshot ([[graft.wap.BranchCatalog.exportSnapshot]]) and re-read
    * the table USING ONLY THE EXPORT — the returned aggregate is
    * computed from the manifest.json path list, nothing else. The DuckDB
    * oracle reads the same export artifacts (the symlink farm + the
    * manifest), so hash-equality proves an engine with no graft code
    * sees exactly the branch content.
    *
    * Second leg — PRUNED read: the manifest carries per-file column
    * bounds, so for the selective predicate `doc_id >= 210` this reads
    * ONLY the files whose `upper.doc_id` admits a match (the compacted
    * head files, doc_id < 200, never leave the manifest). The oracle
    * recomputes `n_admitted` independently from manifest.json and the
    * tail aggregate from the full export, so the hash pins both that
    * the bounds are sound (no admitted-file read loses rows) and that
    * the admitted count is what the manifest says — the foreign-engine
    * pruning premise, not just the read-back. */
  def wapExport(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-exp").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100))
    cat.append("documents", docs.filter(col("doc_id") >= 100))
    // MOR-delete ten keys, then materialize: this leg reads the export
    // back as a PLAIN path-list scan (manifest.json only), which is only
    // sound tombstone-free — pending sidecars/tombstones export as a
    // NOT EXISTS view instead (ExportSpec drives that through real
    // DuckDB), so compact before this export
    cat.deleteKeysMOR("documents",
      spark.range(40, 50).select(col("id").as("doc_id")))
    cat.compactDataFiles("documents", targetFiles = 2)
    // hidden-partitioned tail commit: partitioned files carry full rows,
    // so they export like any other parquet
    cat.appendPartitioned("documents",
      Tables.documents(spark, dir).filter(col("doc_id") >= 200 && col("doc_id") < 300),
      graft.wap.PartitionSpec.parse("bucket(4,doc_id)"))
    val exp = cat.exportSnapshot("documents", exportDir(dir))

    // read back THROUGH THE EXPORT ONLY: manifest.json -> path list ->
    // plain parquet scan (the driver-side collect is the export's own
    // O(files) metadata, already materialized)
    val fileMeta = spark.read.option("multiLine", true).json(exp.manifestPath)
      .select(explode(col("files")).as("f"))
      .select(col("f.path").as("path"),
        col("f.upper.doc_id").cast("long").as("doc_id_hi"))
      .collect()
    val paths = fileMeta.map(_.getString(0))
    // pruned leg: admit a file for `doc_id >= 210` only if its manifest
    // upper bound can match — an engine that never loaded graft makes
    // the same decision from manifest.json alone
    val admitted = fileMeta
      .filter(r => !r.isNullAt(1) && r.getLong(1) >= 210)
      .map(_.getString(0))
    val tail = spark.read.parquet(admitted.toIndexedSeq: _*)
      .filter(col("doc_id") >= 210)
      .agg(count(lit(1)).as("tail_rows"),
        sum(col("n_chars")).cast("long").as("tail_chars"))
    spark.read.parquet(paths.toIndexedSeq: _*).agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"),
      countDistinct(col("doc_id")).as("n_docs"))
      .crossJoin(tail)
      .select(col("n_rows"), col("sum_chars"), col("n_docs"),
        lit(paths.length.toLong).as("n_files"),
        col("tail_rows"), col("tail_chars"),
        lit(admitted.length.toLong).as("n_admitted"))
  }

  /** Materialized views end-to-end (W56): a GROUP-BY view and a
    * select/filter view over the lake table, created through the SQL
    * procedure surface; an append refreshes the first by FOLDING the
    * delta aggregate (`incremental_agg`) and the second by APPENDING the
    * delta rows (`incremental` — zero view files rewritten, gated); a
    * copy-on-write DELETE then breaks the append-only window and both
    * views recompute (`full`). Final view contents are DuckDB-oracled
    * against the source slices; the chosen refresh modes are the gates. */
  def wapMview(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-mview").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100))
    val lake = "lake_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", tmp)

    import graft.sql.GraftMaterializedViews
    spark.sql(s"CALL $lake.system.create_mview('mv_agg', " +
      s"'SELECT lang, count(*) AS n_docs, sum(n_chars) AS chars, " +
      s"min(doc_id) AS lo, max(doc_id) AS hi FROM $lake.main.documents GROUP BY lang')")
    spark.sql(s"CALL $lake.system.create_mview('mv_avg', " +
      s"'SELECT lang, avg(n_chars) AS mean FROM $lake.main.documents GROUP BY lang')")
    spark.sql(s"CALL $lake.system.create_mview('mv_sel', " +
      s"'SELECT doc_id, n_chars FROM $lake.main.documents WHERE n_chars % 3 = 0')")
    val freshNoop = GraftMaterializedViews.refresh(spark, cat, "mv_agg", "main") == "fresh"

    // a dim + an inner-join view: refreshed by the IVM delta join (r13)
    // when only the fact side moves — Δdocs ⋈ dim appended, dim pinned
    cat.createTableIfNotExists("dims", docs.select("lang").distinct().schema)
    cat.append("dims", docs.select("lang").distinct())
    spark.sql(s"CALL $lake.system.create_mview('mv_join', " +
      s"'SELECT s.doc_id, s.n_chars, d.lang FROM $lake.main.documents s " +
      s"JOIN $lake.main.dims d ON s.lang = d.lang WHERE s.n_chars % 2 = 0')")

    cat.append("documents", docs.filter(col("doc_id") >= 100))
    val selFilesBefore = cat.dataFiles("mv_sel").map(_.path).toSet
    val joinFilesBefore = cat.dataFiles("mv_join").map(_.path).toSet
    val aggInc = GraftMaterializedViews.refresh(spark, cat, "mv_agg", "main") == "incremental_agg"
    val selInc = GraftMaterializedViews.refresh(spark, cat, "mv_sel", "main") == "incremental"
    val zeroRewrite = selFilesBefore.subsetOf(cat.dataFiles("mv_sel").map(_.path).toSet)
    val joinInc = GraftMaterializedViews.refresh(spark, cat, "mv_join", "main") ==
      "incremental_join"
    val joinZeroRewrite = joinFilesBefore.subsetOf(cat.dataFiles("mv_join").map(_.path).toSet)
    // the three join-fold facts ride ONE action (scalar subqueries): same
    // counts as the previous three .head calls, but one driver round and
    // the independent subtrees materialize concurrently
    val joinRow = spark.sql(
      s"""SELECT
         |  (SELECT count(*) FROM
         |   (SELECT * FROM $lake.main.mv_join
         |    EXCEPT ALL
         |    SELECT s.doc_id, s.n_chars, d.lang FROM $lake.main.documents s
         |    JOIN $lake.main.dims d ON s.lang = d.lang WHERE s.n_chars % 2 = 0)) AS n_except,
         |  (SELECT count(*) FROM $lake.main.mv_join) AS n_view,
         |  (SELECT count(*) FROM $lake.main.documents s JOIN $lake.main.dims d
         |   ON s.lang = d.lang WHERE s.n_chars % 2 = 0) AS n_recompute
         |""".stripMargin).head
    val joinFoldOk = joinInc && joinZeroRewrite &&
      joinRow.getLong(0) == 0L && joinRow.getLong(1) == joinRow.getLong(2)
    // AVG folds through its (sum, count) companions; the folded means
    // must equal a full recompute (exact: long sums). Boolean gate —
    // raw double averages never enter the hash oracle.
    val avgInc = GraftMaterializedViews.refresh(spark, cat, "mv_avg", "main") == "incremental_agg"
    val avgFoldOk = avgInc && spark.sql(
      s"""SELECT count(*) FROM $lake.main.mv_avg v
         |JOIN (SELECT lang, avg(n_chars) AS mean FROM $lake.main.documents
         |      GROUP BY lang) f ON v.lang = f.lang
         |WHERE abs(v.mean - f.mean) > 1e-9
         |""".stripMargin).head.getLong(0) == 0L

    // a CoW delete breaks the append-only window -> the select-only view
    // recomputes, while the MIN/MAX view FOLDS via the r15 touched-group
    // rescan (exactly matching a full recompute) ...
    spark.sql(s"CALL $lake.system.create_mview('mv_dml', " +
      s"'SELECT lang, count(*) AS n, sum(n_chars) AS chars " +
      s"FROM $lake.main.documents GROUP BY lang')")
    cat.deleteWhere("documents", col("doc_id") >= 150)
    val minMaxFold = GraftMaterializedViews.refresh(spark, cat, "mv_agg", "main") ==
      "incremental_agg_dml"
    val fullAgg = minMaxFold && spark.sql(
      s"""SELECT count(*) FROM $lake.main.mv_agg v
         |FULL OUTER JOIN (SELECT lang, count(*) AS n_docs, sum(n_chars) AS chars,
         |                 min(doc_id) AS lo, max(doc_id) AS hi
         |                 FROM $lake.main.documents GROUP BY lang) f
         |ON v.lang = f.lang
         |WHERE v.n_docs IS DISTINCT FROM f.n_docs
         |   OR v.chars IS DISTINCT FROM f.chars
         |   OR v.lo IS DISTINCT FROM f.lo OR v.hi IS DISTINCT FROM f.hi
         |""".stripMargin).head.getLong(0) == 0L
    val fullSel = GraftMaterializedViews.refresh(spark, cat, "mv_sel", "main") == "full"
    // ... while a SUM/COUNT view folds the deletions through the net
    // changelog (r13), exactly matching a full recompute
    val dmlInc = GraftMaterializedViews.refresh(spark, cat, "mv_dml", "main") ==
      "incremental_agg_dml"
    val dmlFoldOk = dmlInc && spark.sql(
      s"""SELECT count(*) FROM $lake.main.mv_dml v
         |FULL OUTER JOIN (SELECT lang, count(*) AS n, sum(n_chars) AS chars
         |                 FROM $lake.main.documents GROUP BY lang) f
         |ON v.lang = f.lang
         |WHERE v.n IS DISTINCT FROM f.n OR v.chars IS DISTINCT FROM f.chars
         |""".stripMargin).head.getLong(0) == 0L

    val agg = spark.sql(s"SELECT count(*) AS agg_langs, sum(n_docs) AS agg_docs, " +
      s"CAST(sum(chars) AS BIGINT) AS agg_chars FROM $lake.main.mv_agg")
    val sel = spark.sql(s"SELECT count(*) AS sel_rows, " +
      s"CAST(sum(n_chars) AS BIGINT) AS sel_chars FROM $lake.main.mv_sel")
    agg.crossJoin(sel).select(
      col("agg_langs"), col("agg_docs"), col("agg_chars"),
      col("sel_rows"), col("sel_chars"),
      lit(freshNoop).as("fresh_noop"),
      lit(aggInc).as("agg_incremental"),
      lit(selInc && zeroRewrite).as("sel_incremental"),
      lit(joinFoldOk).as("join_incremental"),
      lit(avgFoldOk).as("avg_fold_ok"),
      lit(dmlFoldOk).as("dml_fold_ok"),
      lit(fullAgg && fullSel).as("full_after_delete"))
  }

  /** The DataSource V2 SQL surface end-to-end ([[graft.sql.GraftTableCatalog]]
    * — the Spark-native form of the reference's "published tables are
    * queryable by any engine" claim, reference app.py:201-246): publish
    * two clustered commits, register the lake as a named catalog, and
    * read it back ENTIRELY through `spark.sql` — a predicated aggregate
    * on main, a `VERSION AS OF` read of the first commit, and a branch
    * namespace read — plus two plan-derived gates: the filtered SQL read
    * plans the connector's NATIVE batch scan (graft file splits read as
    * columnar batches — no per-row DSv2 boundary) and its planned files
    * were manifest-pruned below the table's file count. Oracle: plain SQL
    * over the source slices (time travel = the first commit's
    * predicate). */
  def wapSqlScan(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-sql").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    val s1 = cat.appendClustered("documents", docs.filter(col("doc_id") < 100),
      Seq("doc_id"), files = 4)
    cat.appendClustered("documents", docs.filter(col("doc_id") >= 100),
      Seq("doc_id"), files = 4)
    cat.createBranch("wip")
    cat.append("documents",
      Tables.documents(spark, dir).filter(col("doc_id") >= 200 && col("doc_id") < 210), "wip")

    // catalog names are session-cached, so key the name to this run's root
    val lake = "lake_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", tmp)

    // the SQL WRITE path: INSERT INTO the branch namespace (main is
    // write-audit-publish-guarded and refuses direct SQL writes)
    spark.sql(s"INSERT INTO $lake.wip.documents " +
      s"SELECT * FROM parquet.`$dir/documents.parquet` WHERE doc_id >= 210 AND doc_id < 215")

    val filtered = spark.sql(
      s"SELECT count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
        s"FROM $lake.main.documents WHERE doc_id >= 50")
    // gates on the physical plan: the read is a batch scan over graft
    // file splits that reads columnar, and its planned files were
    // manifest-pruned below the table's file count (doc_id >= 50 proves
    // half the clustered files absent)
    val scans = batchScans(filtered)
    val parts = scans.flatMap(_.inputPartitions)
    val nativeBatchScan = scans.nonEmpty && scans.forall(_.supportsColumnar) &&
      parts.nonEmpty && parts.forall(_.isInstanceOf[graft.sql.GraftFilesPartition])
    val manifestPruned = plannedFiles(filtered) < cat.dataFiles("documents").size

    filtered
      .crossJoin(spark.sql(
        s"SELECT count(*) AS v1_rows FROM $lake.main.documents VERSION AS OF '${s1.id}'"))
      .crossJoin(spark.sql(s"SELECT count(*) AS wip_rows FROM $lake.wip.documents"))
      .select(col("n_rows"), col("sum_chars"), col("v1_rows"), col("wip_rows"),
        lit(nativeBatchScan).as("native_batch_scan"),
        lit(manifestPruned).as("manifest_pruned"))
  }

  /** Metadata-only global aggregates end-to-end (W44): `SELECT count(*),
    * count(c), min(c), max(c) FROM t` answered from per-manifest stats
    * with ZERO data-file IO — the DSv2 `SupportsPushDownAggregates` route
    * ([[graft.sql.GraftScanBuilder]]: complete pushdown onto the local
    * metadata scan, no batch scan planned). The zero-IO claim is proven
    * PHYSICALLY: the data files are deleted from disk
    * and the aggregates still answer. Bounds survive manifest folding
    * (compactManifests runs mid-flow). Oracle: the same aggregates in
    * DuckDB over documents with doc_id < 200. */
  def wapAggPushdown(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-agg").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 120))
    cat.append("documents", docs.filter(col("doc_id") >= 120))
    cat.compactManifests("documents") // folded manifests must keep serving
    val lake = "lake_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", tmp)

    val sqlText =
      s"SELECT count(*) AS n_rows, CAST(min(doc_id) AS BIGINT) AS min_id, " +
        s"CAST(max(doc_id) AS BIGINT) AS max_id, min(lang) AS min_lang, " +
        s"max(lang) AS max_lang, count(lang) AS n_lang FROM $lake.main.documents"

    val q = spark.sql(sqlText)
    val v2Pushed = metaAggPushed(q)
    val row = q.collect().head

    // the zero-IO proof: data files physically gone, metadata still answers
    def wipe(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(wipe)); f.delete(); ()
    }
    wipe(new java.io.File(s"$tmp/tables/documents/data"))
    val ghostRow = spark.sql(sqlText).collect().head

    import spark.implicits._
    Seq((row.getLong(0), row.getLong(1), row.getLong(2),
      row.getString(3), row.getString(4), row.getLong(5)))
      .toDF("n_rows", "min_id", "max_id", "min_lang", "max_lang", "n_lang")
      .select(col("*"),
        lit(v2Pushed).as("v2_pushed"),
        lit(row == ghostRow).as("zero_data_io"))
  }

  /** The DSv2 batch scans of `df`'s physical plan, looking through the
    * AQE wrapper (whose subtree `collect` does not traverse). */
  private def batchScans(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
    (df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }

  /** How many data files the graft batch scans of `df` planned. */
  private def plannedFiles(df: DataFrame): Int =
    batchScans(df).flatMap(_.inputPartitions)
      .map { case graft.sql.GraftFilesPartition(fs) => fs.size; case _ => 0 }.sum

  /** The metadata-only plan gate of the aggregate-pushdown queries: the
    * whole aggregate was pushed into the graft scan builder (its scan
    * reports the metadata-only aggregation) and no batch scan was
    * planned. */
  private def metaAggPushed(q: DataFrame): Boolean =
    q.queryExecution.optimizedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => s.scan
    }.exists(_.description().contains("PushedAggregation: metadata-only")) &&
      batchScans(q).isEmpty

  /** Metadata-only GROUP BY aggregates (W79): `SELECT lang, count(*),
    * count(source), min/max(...) FROM t GROUP BY lang` on an
    * identity-partitioned table answered from manifest-entry stats —
    * every file is partition-homogeneous by construction, so the fold
    * splits per group losslessly with ZERO data IO (complete DSv2
    * pushdown onto the multi-row local metadata scan). The zero-IO proof
    * deletes the data files and re-answers. Oracle: the
    * same GROUP BY in plain SQL. */
  def wapAggGroupby(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-aggby").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 260)
      .select("doc_id", "lang", "n_chars", "source")
    cat.createTableIfNotExists("documents", docs.schema, "main",
      Seq(graft.wap.IdentityPartition("lang")))
    cat.append("documents", docs.filter(col("doc_id") < 150))
    cat.append("documents", docs.filter(col("doc_id") >= 150))
    cat.ensureSumStats("documents") // W80: per-file sum sidecars -> SUM/AVG
    val lake = "lake_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", tmp)

    val sqlText =
      s"SELECT lang, count(*) AS n, count(source) AS n_src, " +
        s"CAST(min(doc_id) AS BIGINT) AS min_id, " +
        s"CAST(max(n_chars) AS BIGINT) AS max_chars, " +
        s"sum(n_chars) AS sum_chars, avg(n_chars) AS avg_chars " +
        s"FROM $lake.main.documents GROUP BY lang"

    val q = spark.sql(sqlText)
    val v2Pushed = metaAggPushed(q)
    val rows = q.collect().toSeq

    def wipe(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(wipe)); f.delete(); ()
    }
    wipe(new java.io.File(s"$tmp/tables/documents/data"))
    val ghostRows = spark.sql(sqlText).collect().toSeq

    import spark.implicits._
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
      .toDF("lang", "n", "n_src", "min_id", "max_chars", "sum_chars", "avg_chars")
      .select(col("*"),
        lit(v2Pushed).as("v2_pushed"),
        lit(rows.toSet == ghostRows.toSet).as("zero_data_io"))
  }

  /** Filtered metadata aggregates (W81): a WHERE over the
    * identity-partition column is a complete filter (file metadata
    * proves it for every kept file), so the WHOLE filtered aggregate —
    * global and grouped — is pushed into the scan and folds from
    * manifest-entry stats, including exact SUM/AVG from the W80
    * sidecars. A predicate on a non-homogeneous column must stay
    * residual, scan, and stay correct. Oracle: the same filtered SQL. */
  def wapAggFiltered(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-aggflt").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 260)
      .select("doc_id", "lang", "n_chars", "source")
    cat.createTableIfNotExists("documents", docs.schema, "main",
      Seq(graft.wap.IdentityPartition("lang")))
    cat.append("documents", docs.filter(col("doc_id") < 150))
    cat.append("documents", docs.filter(col("doc_id") >= 150))
    cat.ensureSumStats("documents")
    val lake = "lake_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", tmp)

    val q = spark.sql(s"SELECT count(*) AS n, CAST(min(doc_id) AS BIGINT) AS min_id, " +
      s"sum(n_chars) AS sum_chars, avg(n_chars) AS avg_chars " +
      s"FROM $lake.main.documents WHERE lang = 'en'")
    val filteredMeta = metaAggPushed(q)
    val row = q.collect().head

    // grouped + filtered stays metadata-only and agrees with itself
    val qg = spark.sql(s"SELECT lang, count(*) AS n FROM $lake.main.documents " +
      s"WHERE lang <> 'en' GROUP BY lang")
    val groupedMeta = metaAggPushed(qg)
    val groupedTotal = qg.collect().map(_.getLong(1)).sum

    // a predicate on a NON-homogeneous column refuses and scans correctly
    val qs = spark.sql(s"SELECT count(*) AS n FROM $lake.main.documents WHERE doc_id < 50")
    val fallbackScans = !metaAggPushed(qs)
    val fallbackCorrect = qs.collect().head.getLong(0) == 50L

    import spark.implicits._
    Seq((row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3), groupedTotal))
      .toDF("n", "min_id", "sum_chars", "avg_chars", "grouped_total")
      .select(col("*"),
        lit(filteredMeta).as("filtered_meta_only"),
        lit(groupedMeta).as("grouped_meta_only"),
        lit(fallbackScans && fallbackCorrect).as("fallback_sound"))
  }

  /** Storage-partitioned joins (W45): two tables bucket-partitioned on
    * the join key read through per-bucket partitions + the catalog's
    * `bucket` V2 function and JOIN WITH ZERO SHUFFLES (and a group-by on
    * the key aggregates exchange-free) — plan-asserted, with the
    * aggregate values of the shuffle-free join as the hashed result.
    * Oracle: the same join in plain SQL (documents joined to itself on
    * doc_id). */
  def wapSpj(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val tmp = Files.createTempDirectory("graft-wap-spj").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 300)
    val spec = graft.wap.PartitionSpec.parse("bucket(8,doc_id)")
    def mk(table: String, df: DataFrame): Unit = {
      cat.createTableIfNotExists(table, df.schema, spec = Some(spec))
      cat.appendPartitioned(table, df.filter(col("doc_id") % 2 === 0), spec)
      cat.appendPartitioned(table, df.filter(col("doc_id") % 2 =!= 0), spec)
    }
    mk("a", docs.select("doc_id", "n_chars"))
    mk("b", docs.select("doc_id", "lang"))
    val lake = "lake_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", tmp)

    def shuffleFree(df: DataFrame): Boolean =
      (df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }).collect { case s: ShuffleExchangeLike => s }.isEmpty

    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val join = spark.sql(
        s"SELECT a.doc_id, a.n_chars, b.lang FROM $lake.main.a a " +
          s"JOIN $lake.main.b b ON a.doc_id = b.doc_id")
      val joinFree = shuffleFree(join)
      val agg = spark.sql(
        s"SELECT doc_id, sum(n_chars) AS s FROM $lake.main.a GROUP BY doc_id")
      val aggFree = shuffleFree(agg) && agg.count() == docs.count()
      join.agg(count(lit(1)).as("n_rows"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        countDistinct(col("lang")).as("n_langs"))
        .select(col("n_rows"), col("sum_chars"), col("n_langs"),
          lit(joinFree).as("join_shuffle_free"),
          lit(aggFree).as("agg_exchange_free"))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** W57 made CORRECTNESS-visible (r14): two co-bucketed, SORT-COMPACTED
    * tables (one sorted file per bucket — the layout
    * compactDataFilesSorted stamps) sort-merge join with NEITHER an
    * exchange NOR a sort on either side: storage partitioning supplies
    * co-location (W45) and the reported per-partition ordering
    * (SupportsReportOrdering) supplies the SMJ's order, so the 100 TB
    * fact-fact join is fully pipelined — zero shuffle bytes, zero sort
    * memory. Gates pin the plan (an SMJ, no ShuffleExchange, no Sort);
    * the oracle hashes the join content. */
  def wapSpjSorted(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val tmp = Files.createTempDirectory("graft-wap-spjsort").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 300)
    val spec = graft.wap.PartitionSpec.parse("bucket(8,doc_id)")
    def mk(table: String, df: DataFrame): Unit = {
      cat.createTableIfNotExists(table, df.schema, spec = Some(spec))
      cat.appendPartitioned(table, df.filter(col("doc_id") % 2 === 0), spec)
      cat.appendPartitioned(table, df.filter(col("doc_id") % 2 =!= 0), spec)
      cat.compactDataFilesSorted(table, Seq("doc_id"))
      ()
    }
    mk("a", docs.select("doc_id", "n_chars"))
    mk("b", docs.select("doc_id", "lang"))
    val lake = "lake_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", tmp)

    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val join = spark.sql(
        s"SELECT a.doc_id, a.n_chars, b.lang FROM $lake.main.a a " +
          s"JOIN $lake.main.b b ON a.doc_id = b.doc_id")
      val plan = join.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val isSmj = plan.collect { case j: SortMergeJoinExec => j }.nonEmpty
      val shuffleFree = plan.collect { case s: ShuffleExchangeLike => s }.isEmpty
      val sortFree = plan.collect { case s: SortExec => s }.isEmpty
      join.agg(count(lit(1)).as("n_rows"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        countDistinct(col("lang")).as("n_langs"))
        .select(col("n_rows"), col("sum_chars"), col("n_langs"),
          lit(isSmj).as("is_sort_merge_join"),
          lit(shuffleFree).as("shuffle_free"),
          lit(sortFree).as("sort_free"))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** REPLACE TABLE AS SELECT (W85 — Iceberg RTAS, r14): one atomic
    * commit swaps schema+layout+content while snapshot lineage survives.
    * Gates: pre-replace history stays time-travelable, a constraint-
    * violating replacement commits NOTHING, and the replaced table keeps
    * taking writes under its new shape. Oracle: the final content in
    * plain SQL. */
  def wapReplace(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-replace").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
      .select("doc_id", "lang", "n_chars")
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100))
    val preId = cat.snapshotIdOf("documents").get
    cat.setTableProperties("documents", Map(
      BranchCatalog.ConstraintPrefix + "chars_pos" -> "n_chars >= 0"))
    // two failed replaces commit NOTHING: one orphans the constraint
    // (new schema lacks n_chars), one violates it row-level
    val orphanRefused = (try { cat.replaceTable("documents",
        docs.filter(col("doc_id") >= 100).select("doc_id", "lang")); false }
      catch { case e: IllegalArgumentException => e.getMessage.contains("chars_pos") })
    val violatingRefused = (try { cat.replaceTable("documents",
        docs.filter(col("doc_id") >= 100).withColumn("n_chars", lit(-5L))); false }
      catch { case _: Exception => true })
    val atomic = orphanRefused && violatingRefused &&
      cat.scan("documents").count() == 100L &&
      cat.snapshotIdOf("documents").contains(preId)

    val snap = cat.replaceTable("documents",
      docs.filter(col("doc_id") >= 100)
        .withColumn("score", col("n_chars") * 2))
    val schemaSwapped = cat.scan("documents").schema.fieldNames.toSeq ==
      Seq("doc_id", "lang", "n_chars", "score")
    val lineageKept = snap.parentId.contains(preId) &&
      cat.scanSnapshot("documents", preId).count() == 100L
    // the replaced table keeps taking (validated) writes
    cat.append("documents", docs.filter(col("doc_id") < 20)
      .withColumn("score", col("n_chars") * 2))

    cat.scan("documents").agg(
      count(lit(1)).as("n_rows"),
      sum(col("score")).cast("long").as("sum_score"),
      countDistinct(col("lang")).as("n_langs"))
      .select(col("n_rows"), col("sum_score"), col("n_langs"),
        lit(atomic).as("atomic_failure"),
        lit(schemaSwapped).as("schema_swapped"),
        lit(lineageKept).as("lineage_kept"))
  }

  /** GENERATED ALWAYS AS columns (W87 — Delta generated columns, r14):
    * `kchars` derives from `n_chars`. Batches omitting the column get it
    * COMPUTED; a correct explicit batch passes; a WRONG explicit batch
    * fails with nothing committed; NULL-provided counts as omitted (the
    * SQL INSERT shape). Oracle recomputes the derivation in DuckDB —
    * hash-equal proves computed values match the declared arithmetic. */
  def wapGenerated(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-gen").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
      .select("doc_id", "lang", "n_chars")
    val schema = org.apache.spark.sql.types.StructType(docs.schema.fields :+
      org.apache.spark.sql.types.StructField("kchars",
        org.apache.spark.sql.types.LongType))
    cat.createTableGenerated("documents", schema,
      Map("kchars" -> "n_chars div 1000"))
    cat.append("documents", docs.filter(col("doc_id") < 100)) // computed
    cat.append("documents", docs.filter(col("doc_id") >= 100) // validated
      .withColumn("kchars", expr("n_chars div 1000")))
    val head = cat.snapshotIdOf("documents")
    val rejected = try { cat.append("documents",
        docs.limit(5).withColumn("kchars", lit(424242L))); false }
      catch { case _: Exception => true }
    val atomic = rejected && cat.snapshotIdOf("documents") == head
    cat.scan("documents").agg(
      count(lit(1)).as("n_rows"),
      sum(col("kchars")).cast("long").as("sum_kchars"),
      sum(when(col("kchars").isNull, 1L).otherwise(0L)).cast("long").as("n_null"))
      .select(col("n_rows"), col("sum_kchars"), col("n_null"),
        lit(atomic).as("mismatch_rejected"))
  }

  /** Incremental snapshot-window reads through the SQL connector (W46):
    * `spark.read.option("graft.changes.from", id)` serves the append
    * delta since a consumer's last snapshot — the SQL/DataFrame surface
    * of [[graft.wap.BranchCatalog.changedFilesBetween]] — and
    * `graft.changes.to` bounds the window; predicates prune files WITHIN
    * the window; an up-to-date consumer reads zero rows. Oracle: the
    * same slices in plain SQL over documents. */
  def wapSqlChanges(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-changes").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    val s1 = cat.append("documents", docs.filter(col("doc_id") < 100))
    val s2 = cat.appendClustered("documents",
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 160), Seq("doc_id"), files = 4)
    cat.append("documents", docs.filter(col("doc_id") >= 160))
    val lake = "lake_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", tmp)

    val head = cat.snapshotIdOf("documents").get
    // in-window pruning gate: the clustered middle window holds 4 files,
    // a point predicate must admit fewer
    val windowFiles = cat.plannedChangedFiles("documents", Some(s1.id), s2.id, None).size
    val prunedFiles = cat.plannedChangedFiles("documents", Some(s1.id), s2.id,
      Some(col("doc_id") === 130L)).size
    val emptyRows = spark.read.option("graft.changes.from", head)
      .table(s"$lake.main.documents").count()

    val delta = spark.read.option("graft.changes.from", s1.id)
      .table(s"$lake.main.documents")
      .agg(count(lit(1)).as("delta_rows"),
        sum(col("n_chars")).cast("long").as("delta_chars"))
    val window = spark.read.option("graft.changes.from", s1.id)
      .option("graft.changes.to", s2.id).table(s"$lake.main.documents")
      .agg(count(lit(1)).as("window_rows"),
        sum(col("n_chars")).cast("long").as("window_chars"))
    delta.crossJoin(window).select(
      col("delta_rows"), col("delta_chars"), col("window_rows"), col("window_chars"),
      lit(emptyRows).as("empty_rows"),
      lit(windowFiles == 4 && prunedFiles < windowFiles).as("window_pruned"))
  }

  /** Audited STREAMING ingestion end-to-end (W41,
    * [[graft.sql.GraftStreamingWrite]]): a memory-source stream writes
    * through `writeStream.toTable` with `graft.wap` — epoch 0 (doc_id <
    * 150) publishes to main, epoch 1 (ids 200-300 with planted nulls)
    * FAILS its audit and quarantines on `stream-events_log-1` while the
    * stream continues, epoch 2 (ids 150-200) publishes. All three epochs
    * ride ONE checkpoint, so the refs delivery record ends at one stream
    * key with last epoch 2 — the exactly-once bookkeeping is part of the
    * hashed result. Oracle: main = documents under 200; quarantine = the
    * fork-time main (under 150) plus the dirty batch (200-300). */
  def wapStreamSink(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-wap-sink").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).select("doc_id", "text", "n_chars")
    cat.createTableIfNotExists("events_log", docs.schema)
    val lake = "lake_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", tmp)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val ckpt = Files.createTempDirectory("graft-sink-ckpt").toString
    def drain(): Unit = {
      val q = mem.toDF.toDF("doc_id", "text", "n_chars")
        .writeStream
        .option("checkpointLocation", ckpt)
        .option("graft.wap", "true")
        .option("graft.checks", "not_null:text")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$lake.main.events_log")
      q.awaitTermination()
    }
    // bounded driver collect: the memory SOURCE is the harness (<= 350
    // rows at any SF); the sink under test stays fully distributed
    def rowsOf(df: DataFrame): Seq[(Long, String, Long)] =
      df.select("doc_id", "text", "n_chars").as[(Long, String, Long)].collect().toIndexedSeq

    mem.addData(rowsOf(docs.filter(col("doc_id") < 150)): _*); drain()
    mem.addData(rowsOf(badBatch(Tables.documents(spark, dir))): _*); drain()
    mem.addData(rowsOf(docs.filter(col("doc_id") >= 150 && col("doc_id") < 200)): _*); drain()

    val epochs = cat.currentRefs().streamEpochs
    val quarantine = cat.listBranches().filter(_.startsWith("stream-events_log-"))
    require(quarantine.size == 1, s"expected one quarantine branch, got $quarantine")
    cat.scan("events_log", "main").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"),
      countDistinct(col("doc_id")).as("n_docs"))
      .crossJoin(cat.scan("events_log", quarantine.head).agg(count(lit(1)).as("q_rows")))
      .select(col("n_rows"), col("sum_chars"), col("n_docs"), col("q_rows"),
        lit(epochs.size.toLong).as("n_stream_keys"),
        lit(epochs.values.max).as("last_epoch"))
  }

  /** Audited streaming CDC end-to-end ([[graft.sql.GraftStreamingWrite]]
    * upsert mode): epoch 0 loads doc_id < 100, epoch 1 RE-DELIVERS
    * 50..99 with doubled n_chars plus fresh 100..149 — upserted by key
    * through MOR tombstones (audit-then-apply, zero rewrites), epoch 2
    * (planted nulls) quarantines while main's CDC state is untouched.
    * Oracle: the final keyed state in plain SQL (new versions win for
    * 50..149, originals for < 50). */
  def wapStreamCdc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-wap-cdc").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).select("doc_id", "text", "n_chars")
    cat.createTableIfNotExists("state", docs.schema)
    val lake = "lake_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", tmp)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt").toString
    def drain(): Unit = {
      val q = mem.toDF.toDF("doc_id", "text", "n_chars")
        .writeStream
        .option("checkpointLocation", ckpt)
        .option("graft.wap", "true")
        .option("graft.checks", "not_null:text")
        .option("graft.upsert.keys", "doc_id")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$lake.main.state")
      q.awaitTermination()
    }
    def rowsOf(df: DataFrame): Seq[(Long, String, Long)] =
      df.select("doc_id", "text", "n_chars").as[(Long, String, Long)].collect().toIndexedSeq

    val filesBefore = { // epoch 0: initial load
      mem.addData(rowsOf(docs.filter(col("doc_id") < 100)): _*); drain()
      cat.dataFiles("state").size
    }
    // epoch 1: re-delivered 50..99 (doubled n_chars) + fresh 100..149
    mem.addData(rowsOf(docs.filter(col("doc_id") >= 50 && col("doc_id") < 150)
      .withColumn("n_chars", col("n_chars") * 2)): _*)
    drain()
    val zeroRewrites = cat.dataFiles("state").size > filesBefore
    // epoch 2: dirty batch quarantines, stream state unharmed
    mem.addData((9999L, null, 1L)); drain()
    val quarantined = cat.listBranches().exists(_.startsWith("stream-state-"))

    cat.scan("state", "main").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"),
      countDistinct(col("doc_id")).as("n_keys"))
      .select(col("n_rows"), col("sum_chars"), col("n_keys"),
        lit(zeroRewrites).as("zero_rewrites"),
        lit(quarantined).as("dirty_quarantined"))
  }

  /** Plain lake streaming read end-to-end (§2.8 — the base
    * [[graft.sql.GraftMicroBatchStream]] source, previously spec-only):
    * 6 single-file commits pre-stream, then Trigger.AvailableNow drains
    * with maxFilesPerTrigger=2 — the initial load must arrive CHUNKED
    * (the 100 TB restart case: never one giant batch), a post-stream
    * commit must arrive as exactly its delta, and an idle drain must
    * deliver zero. Per-batch aggregates accumulate driver-side (bounded:
    * one tiny row per batch); the delivered content hashes as totals
    * DuckDB recomputes from the same documents slice — summing per-batch
    * COUNT DISTINCT also pins exactly-once (any re-delivery would
    * overcount vs the oracle's global distinct). */
  def wapStreamRead(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = Files.createTempDirectory("graft-wap-read").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "n_chars")
    cat.createTableIfNotExists("feed", docs.schema)
    for (r <- 0 until 6)
      cat.append("feed",
        docs.filter(col("doc_id") >= r * 20 && col("doc_id") < r * 20 + 20).coalesce(1))
    val lake = "lake_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", tmp)
    val ckpt = Files.createTempDirectory("graft-read-ckpt").toString
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    def drain(): Seq[(Long, Long, Long)] = {
      val before = batches.size
      val q = spark.readStream
        .option("maxFilesPerTrigger", 2)
        .table(s"$lake.main.feed")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val r = df.agg(count(lit(1)), sum(col("n_chars")).cast("long"),
            countDistinct(col("doc_id"))).head
          batches.add((r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2)))
          ()
        }
        .start()
      q.awaitTermination()
      batches.toArray(Array.empty[(Long, Long, Long)]).toSeq.drop(before)
    }
    val init = drain()
    val chunked = init.count(_._1 > 0) >= 3 // 6 files / 2 per trigger
    cat.append("feed", docs.filter(col("doc_id") >= 120 && col("doc_id") < 160))
    val expectDelta =
      docs.filter(col("doc_id") >= 120 && col("doc_id") < 160).count()
    val delta = drain()
    val deltaExact = delta.map(_._1).sum == expectDelta
    val idleZero = drain().map(_._1).sum == 0L
    val all = init ++ delta
    import spark.implicits._
    Seq((all.map(_._1).sum, all.map(_._2).sum, all.map(_._3).sum,
      chunked, deltaExact, idleZero))
      .toDF("n_rows", "sum_chars", "n_docs", "chunked_initial", "delta_exact", "idle_zero")
  }

  /** Zero-copy CLONE + RENAME lifecycle end-to-end (W68/W69, previously
    * spec-only): clone a two-commit table (gate: the clone references the
    * IDENTICAL data-file set — zero files written at any table size),
    * diverge both sides (the clone gains an append, the source loses
    * rows to a CoW delete that rewrites SHARED files — the clone must
    * keep reading the pre-delete content), rename the clone and read
    * under the new name, time-travel the clone to its pre-divergence
    * snapshot, and run expiry on BOTH names (gate: GC is clone-safe —
    * neither side reclaims files the other still references). Every
    * aggregate recomputed by DuckDB from the documents slices. */
  def wapClone(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-clone").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 250)
      .select("doc_id", "lang", "n_chars")
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100))
    cat.append("documents", docs.filter(col("doc_id") >= 100 && col("doc_id") < 200))
    val filesBefore = cat.dataFiles("documents").map(_.path).toSet
    cat.cloneTable("documents", "dclone")
    val zeroCopy = cat.dataFiles("dclone").map(_.path).toSet == filesBefore
    val preDivergeId = cat.snapshotIdOf("dclone").get
    // diverge: the clone gains, the source rewrites shared files away
    cat.append("dclone", docs.filter(col("doc_id") >= 200))
    cat.deleteWhere("documents", col("doc_id") < 20)
    cat.renameTable("dclone", "dprime")
    // GC on both names: liveness is drawn from EVERY sharer of the
    // directory, so neither expiry may break the other's reads
    cat.expireSnapshots("documents", retainLast = 2)
    cat.expireSnapshots("dprime", retainLast = 2)
    val src = cat.scan("documents").agg(
      count(lit(1)).as("src_rows"),
      sum(col("n_chars")).cast("long").as("src_chars"))
    val cl = cat.scan("dprime").agg(
      count(lit(1)).as("clone_rows"),
      sum(col("n_chars")).cast("long").as("clone_chars"))
    val tt = cat.scanSnapshot("dprime", preDivergeId).agg(count(lit(1)).as("tt_rows"))
    src.crossJoin(cl).crossJoin(tt)
      .select(col("src_rows"), col("src_chars"), col("clone_rows"),
        col("clone_chars"), col("tt_rows"), lit(zeroCopy).as("zero_copy"))
  }

  /** LIMIT + TOP-K pushdown end-to-end (W47/W48, previously spec-only):
    * a sort-compacted table answers `ORDER BY key LIMIT k` from ONE
    * covering file (prefix ascending, suffix descending) and a plain
    * LIMIT from a covering prefix — the planned-file counts ride as gate
    * columns, the top/bottom rows are DuckDB-recomputed. The 100 TB
    * claim: a top-k over a sorted table reads O(k), not O(table). */
  def wapTopkPush(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-topk").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 160)
      .select("doc_id", "n_chars")
    cat.createTableIfNotExists("documents", docs.schema)
    for (r <- 0 until 4) // interleaved: every file spans the id range
      cat.append("documents", docs.filter(col("doc_id") % 4 === r).coalesce(1))
    cat.compactDataFilesSorted("documents", Seq("doc_id"), targetFiles = 8)
    val lake = "lake_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", tmp)
    val asc = spark.sql(
      s"SELECT doc_id, n_chars FROM $lake.main.documents ORDER BY doc_id LIMIT 5")
    val desc = spark.sql(
      s"SELECT doc_id, n_chars FROM $lake.main.documents ORDER BY doc_id DESC LIMIT 5")
    val plain = spark.sql(s"SELECT doc_id FROM $lake.main.documents LIMIT 5")
    val gates = (plannedFiles(asc) == 1, plannedFiles(desc) == 1,
      plannedFiles(plain) == 1 && plain.collect().length == 5)
    asc.withColumn("ord", lit("asc"))
      .unionByName(desc.withColumn("ord", lit("desc")))
      .select(col("doc_id"), col("n_chars"), col("ord"),
        lit(gates._1).as("asc_one_file"),
        lit(gates._2).as("desc_one_file"),
        lit(gates._3).as("plain_limit_prefix"))
  }

  /** Orphan-file removal end-to-end (W53): two committed batches plus a
    * PLANTED never-committed parquet under the table's data dir (a
    * crashed write's residue). The default 3-day fence keeps the fresh
    * orphan (gate one); an explicit future cutoff reaps exactly it
    * (gate two) while committed content — current AND time-travel —
    * survives byte-identically (the hashed aggregates). */
  def wapOrphans(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-orphan").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100))
    val preId = cat.snapshotIdOf("documents").get
    cat.append("documents", docs.filter(col("doc_id") >= 100))

    val orphanDir = new java.io.File(tmp, "tables/documents/data/crashed-commit")
    orphanDir.mkdirs()
    val stage = Files.createTempDirectory("orphan-stage").toString
    docs.limit(5).coalesce(1).write.mode("overwrite").parquet(stage)
    val src = new java.io.File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
    val orphan = new java.io.File(orphanDir, "part-00000-dead.parquet")
    java.nio.file.Files.copy(src.toPath, orphan.toPath)

    val fenced = cat.removeOrphanFiles("documents") // default 3-day fence
    val reaped = cat.removeOrphanFiles("documents", System.currentTimeMillis() + 60000)
    val again = cat.removeOrphanFiles("documents", System.currentTimeMillis() + 60000)

    cat.scan("documents", "main").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"))
      .crossJoin(cat.scanSnapshot("documents", preId).agg(count(lit(1)).as("tt_rows")))
      .select(col("n_rows"), col("sum_chars"), col("tt_rows"),
        lit(fenced.filesDeleted.toLong).as("fence_kept"),
        lit(reaped.filesDeleted.toLong).as("reaped"),
        lit(again.filesDeleted.toLong).as("idempotent_zero"))
  }

  /** Per-column null counts + row count in one aggregation pass. */
  def dqNullCounts(spark: SparkSession, dir: String): DataFrame =
    Metrics.nullCounts(Tables.eventsWithTs(spark, dir).select("event_type", "value", "props"),
      Seq("event_type", "value", "props"))

  /** The widened expectation suite on orders — six checks, one job. */
  def dqSuite(spark: SparkSession, dir: String): DataFrame = {
    val report = Audit.run(Tables.orders(spark, dir), Seq(
      NotNull("o_orderkey"),
      UniqueKey("o_orderkey"),
      ValueRange("o_totalprice", 0.0, 1000000.0),
      AcceptedValues("o_orderstatus", Seq("O", "F", "P")),
      RowCountMin(10),
      Freshness("o_orderdate", "1995-01-01 00:00:00")))
    Audit.reportDF(spark, report)
  }

  /** W59 — column RENAME via parquet field ids end-to-end: append under
    * the old name, rename as ONE metadata commit (Scala op), append under
    * the new name, rename a second column through SQL `ALTER TABLE ...
    * RENAME COLUMN`, then aggregate ACROSS both file generations through
    * the connector — pre-rename files resolve by field id, so the values
    * must equal a by-name read of the source slice. Gates: no data file
    * rewritten by either rename, time travel still serves the pre-rename
    * schema, filters on renamed columns stay exact across generations.
    * Oracle: the same aggregates over the source parquet (names are the
    * oracle's own — the rename is invisible to values). */
  def wapRename(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-rename").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
      .select("doc_id", "lang", "n_chars")
    cat.createTableIfNotExists("documents", docs.schema)
    val s1 = cat.append("documents", docs.filter(col("doc_id") < 100))
    val filesBefore = cat.dataFiles("documents").map(_.path).toSet

    cat.renameColumn("documents", "n_chars", "chars")
    val metadataOnly = cat.dataFiles("documents").map(_.path).toSet == filesBefore
    cat.append("documents",
      docs.filter(col("doc_id") >= 100).withColumnRenamed("n_chars", "chars"))

    val lake = "lake_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", tmp)
    spark.sql(s"ALTER TABLE $lake.main.documents RENAME COLUMN lang TO language")

    // time travel: the pre-rename snapshot still serves the OLD names
    val oldSchema = cat.schemaOfSnapshot("documents", s1.id).fieldNames.toSeq
    val timeTravelOk = oldSchema == Seq("doc_id", "lang", "n_chars")
    // a filter on the renamed column crosses both file generations
    val filteredOk = cat.scan("documents", filter = Some(col("chars") > 400)).count() ==
      docs.filter(col("n_chars") > 400).count()

    spark.sql(s"SELECT count(*) AS n_rows, CAST(sum(chars) AS BIGINT) AS sum_chars, " +
      s"count(DISTINCT language) AS n_langs, " +
      s"CAST(min(chars) AS BIGINT) AS min_chars " +
      s"FROM $lake.main.documents")
      .select(col("n_rows"), col("sum_chars"), col("n_langs"), col("min_chars"),
        lit(metadataOnly).as("metadata_only"),
        lit(timeTravelOk).as("time_travel_old_schema"),
        lit(filteredOk).as("filter_exact"))
  }

  /** Metadata-only parquet import (W82, [[BranchCatalog.addDataFiles]] —
    * Iceberg's `add_files`/`migrate`): 80 docs land as FOREIGN parquet
    * (plain Spark write outside the catalog) and are adopted without
    * copying a byte, alongside 120 graft-written docs. Gates: entries
    * point INTO the external dir, a re-import refuses (duplicate guard),
    * imported footer bounds PRUNE a selective scan, possibly-truncated
    * foreign bounds are never SERVED as exact MIN/MAX (statsV demotion)
    * while COUNT(*) stays exact, and a compaction rewrite re-owns the
    * rows and restores exact metadata serving. Oracle: the full 200-doc
    * content in plain SQL — hash-equal means adopted files read
    * byte-identically to written ones (reference premise: lake files
    * usable by any engine without rewrite, README:174-191 inverted). */
  def wapAddFiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.wap.MetaAgg
    val tmp = Files.createTempDirectory("graft-wap-addfiles").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
      .select("doc_id", "lang", "n_chars")
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 120))

    val ext = Files.createTempDirectory("graft-addfiles-ext").toString + "/batch"
    docs.filter(col("doc_id") >= 120).repartition(2).write.parquet(ext)

    val res = cat.addDataFiles("documents", ext)
    val head = cat.snapshotIdOf("documents").get
    val inPlace = cat.filesOf(cat.snapshotMeta("documents", head))
      .count(_.path.contains(ext)).toLong == res.filesAdded
    val dupRefused =
      try { cat.addDataFiles("documents", ext); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("already referenced") }
    val pruned = cat.plannedFilesOfSnapshot("documents", head,
      Some(col("doc_id") < 50)).map(_._1).forall(!_.contains(ext))
    val metaExactRefused = cat.metaAggregate("documents", head,
      Seq(MetaAgg.MinCol("n_chars"))).isEmpty
    val metaCountServed = cat.metaAggregate("documents", head,
      Seq(MetaAgg.CountStar)).exists(_ == Seq(200L))
    cat.compactDataFiles("documents")
    val head2 = cat.snapshotIdOf("documents").get
    val exactAfterRewrite = cat.metaAggregate("documents", head2,
      Seq(MetaAgg.MinCol("doc_id"), MetaAgg.MaxCol("doc_id")))
      .exists(_ == Seq(0L, 199L))

    cat.scan("documents").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"),
      countDistinct(col("lang")).as("n_langs"))
      .select(col("n_rows"), col("sum_chars"), col("n_langs"),
        lit(res.rowsAdded).as("rows_imported"),
        lit(inPlace).as("in_place"),
        lit(dupRefused).as("dup_refused"),
        lit(pruned).as("pruned"),
        lit(metaExactRefused).as("meta_exact_refused"),
        lit(metaCountServed).as("meta_count_served"),
        lit(exactAfterRewrite).as("exact_after_rewrite"))
  }

  /** NET row-level changelog ([[BranchCatalog.scanChangelog]] — the
    * Iceberg create_changelog_view analogue): append 100 docs, run a
    * CoW delete (rewrites boundary files, carrying survivors into NEW
    * files) plus a fresh append, then read the changelog of the whole
    * window. The carried survivors MUST cancel out of the file-level
    * diff: inserts are exactly the fresh append, deletes exactly the
    * CoW-deleted rows. Oracle: the same id sums/counts from the source
    * slices in DuckDB. */
  def wapChangelog(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-changelog").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
      .select("doc_id", "lang", "n_chars")
    cat.createTableIfNotExists("documents", docs.schema)
    val s1 = cat.append("documents", docs.filter(col("doc_id") < 100))
    cat.deleteWhere("documents", col("doc_id") % 5 === 0) // CoW rewrite
    cat.append("documents", docs.filter(col("doc_id") >= 100))
    val head = cat.snapshotIdOf("documents").get

    val lake = "lake_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", tmp)
    spark.sql(s"CALL $lake.system.create_changelog_view('doc_changes', " +
      s"'documents', '${s1.id}', '$head')")

    spark.sql(
      """SELECT
        |  CAST(sum(CASE WHEN _change_type = 'insert' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserts,
        |  CAST(sum(CASE WHEN _change_type = 'insert' THEN doc_id ELSE 0 END) AS BIGINT) AS insert_ids,
        |  CAST(sum(CASE WHEN _change_type = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
        |  CAST(sum(CASE WHEN _change_type = 'delete' THEN doc_id ELSE 0 END) AS BIGINT) AS delete_ids
        |FROM doc_changes""".stripMargin)
  }

  /** W63 — the STREAMING CDC feed end-to-end (`t$changes`,
    * [[graft.sql.GraftCdcMicroBatchStream]]): a memory-sink stream with
    * `graft.changes.initial=snapshot` backfills the anchor (doc_id <
    * 100), then observes — per commit, exactly-once — an append, a CoW
    * delete (transaction-form pairs: the rewritten file's 100 deletes +
    * 70 survivor re-inserts), a sidecar positional delete (exactly 10
    * rows, no pairs), a second append, a metadata-tier positional drop
    * (10 whole-file rows), a MATERIALIZING compaction (changelog-
    * silent), and a final append. Oracle: every feed aggregate as range
    * arithmetic over `documents`, plus the net-reconstruction gate (the
    * signed fold of the feed rebuilds the live table exactly). */
  def wapCdcFeed(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-cdcfeed").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
      .select("doc_id", "lang", "n_chars")
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100).coalesce(1))

    val lake = "lake_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", tmp)

    val qname = "cdcfeed_" + tmp.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    val q = spark.readStream
      .option("graft.changes.initial", "snapshot")
      .table(s"$lake.main.`documents$$changes`")
      .writeStream.format("memory").queryName(qname).start()
    try {
      q.processAllAvailable() // backfill, anchored at the pre-commit head
      cat.append("documents", docs.filter(col("doc_id") >= 100 && col("doc_id") < 150).coalesce(1))
      cat.deleteWhere("documents", col("doc_id") < 30) // CoW: pairs
      cat.deleteWherePositional("documents",
        col("doc_id") >= 100 && col("doc_id") < 110) // sidecar tier
      cat.append("documents", docs.filter(col("doc_id") >= 150 && col("doc_id") < 160).coalesce(1))
      cat.deleteWherePositional("documents",
        col("doc_id") >= 150 && col("doc_id") < 160) // metadata tier
      cat.compactDataFiles("documents") // materializes; changelog-silent
      cat.append("documents", docs.filter(col("doc_id") >= 160).coalesce(1))
      q.processAllAvailable()

      val feed = spark.table(qname).select("doc_id", "n_chars",
        "_change_type", "_commit_snapshot_id") // memory sink: re-reads are free
      // the signed fold of the feed must rebuild the live table exactly
      val net = feed.groupBy("doc_id").agg(
        sum(when(col("_change_type") === "insert", 1).otherwise(-1)).as("m"))
      val live = cat.scan("documents")
      val netOk =
        net.filter(col("m") === 1).count() == live.count() &&
        net.filter(col("m") =!= 1 && col("m") =!= 0).count() == 0 &&
        net.filter(col("m") === 1).join(live, "doc_id", "left_anti").count() == 0

      // materialized BEFORE the memory sink is dropped (the returned
      // frame must stay valid after the stream's temp view is gone)
      val agg = feed.agg(
        sum(when(col("_change_type") === "insert", 1).otherwise(0))
          .cast("long").as("n_inserts"),
        sum(when(col("_change_type") === "insert", col("n_chars")).otherwise(0))
          .cast("long").as("chars_inserted"),
        sum(when(col("_change_type") === "delete", 1).otherwise(0))
          .cast("long").as("n_deletes"),
        sum(when(col("_change_type") === "delete", col("n_chars")).otherwise(0))
          .cast("long").as("chars_deleted"),
        countDistinct(col("_commit_snapshot_id")).as("n_commits")).head
      live.groupBy().agg(count(lit(1)).as("live_rows")).select(
        lit(agg.getLong(0)).as("n_inserts"),
        lit(agg.getLong(1)).as("chars_inserted"),
        lit(agg.getLong(2)).as("n_deletes"),
        lit(agg.getLong(3)).as("chars_deleted"),
        lit(agg.getLong(4)).as("n_commits"),
        col("live_rows"),
        lit(netOk).as("net_ok"))
    } finally {
      q.stop()
      spark.catalog.dropTempView(qname)
      ()
    }
  }

  /** W64 — lake-to-lake CDC REPLICATION end-to-end: `readStream` the
    * source's `documents$changes` feed, `writeStream` it into the
    * replica's `documents$changes` with `graft.cdc.keys` + a WAP audit —
    * each epoch audit-then-applies atomically ([[graft.wap.Wap
    * .runApplyCdc]] → applyCdcMOR: every touched key tombstoned, per-key
    * latest inserts appended, ONE commit, zero rewrites). The source
    * runs the same DML mix as `wap_cdc_feed` (append, CoW pairs,
    * sidecar + metadata-tier positional deletes, materializing
    * compaction, append); the replica must converge to the source's
    * exact content, and a replayed drain must change nothing. Oracle:
    * the surviving ranges' aggregates + equality/replay/MOR gates. */
  def wapCdcReplicate(spark: SparkSession, dir: String): DataFrame = {
    val srcTmp = Files.createTempDirectory("graft-cdc-src").toString
    val dstTmp = Files.createTempDirectory("graft-cdc-dst").toString
    val scat = new BranchCatalog(spark, srcTmp)
    val dcat = new BranchCatalog(spark, dstTmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
      .select("doc_id", "lang", "n_chars")
    scat.createTableIfNotExists("documents", docs.schema)
    scat.append("documents", docs.filter(col("doc_id") < 100).coalesce(1))

    def reg(prefix: String, root: String): String = {
      val name = prefix + root.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
      spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sql.GraftTableCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.root", root)
      name
    }
    val src = reg("cdcsrc_", srcTmp)
    val dst = reg("cdcdst_", dstTmp)
    val ckpt = Files.createTempDirectory("graft-cdc-repl-ckpt").toString
    def drainAll(): Unit = {
      val q = spark.readStream
        .option("graft.changes.initial", "snapshot")
        .table(s"$src.main.`documents$$changes`")
        .writeStream.option("checkpointLocation", ckpt)
        .option("graft.cdc.keys", "doc_id")
        .option("graft.wap", "true")
        .option("graft.checks", "not_null:lang")
        .toTable(s"$dst.main.`documents$$changes`")
      try q.processAllAvailable() finally q.stop()
    }
    drainAll() // backfill epoch: auto-creates + audits + applies [0,100)
    scat.append("documents", docs.filter(col("doc_id") >= 100 && col("doc_id") < 150).coalesce(1))
    scat.deleteWhere("documents", col("doc_id") < 30)
    scat.deleteWherePositional("documents",
      col("doc_id") >= 100 && col("doc_id") < 110)
    scat.append("documents", docs.filter(col("doc_id") >= 150 && col("doc_id") < 160).coalesce(1))
    scat.deleteWherePositional("documents",
      col("doc_id") >= 150 && col("doc_id") < 160)
    scat.compactDataFiles("documents")
    scat.append("documents", docs.filter(col("doc_id") >= 160).coalesce(1))
    drainAll()
    val headAfter = dcat.snapshotIdOf("documents").get
    drainAll() // replay with nothing new: exactly-once, no new commits
    val replayIdempotent = dcat.snapshotIdOf("documents").get == headAfter
    val morApplied = dcat.snapshotMeta("documents", headAfter).deleteManifests.nonEmpty

    val replica = dcat.scan("documents")
    val sameAsSource = replica.select("doc_id", "n_chars")
      .exceptAll(scat.scan("documents").select("doc_id", "n_chars")).isEmpty &&
      scat.scan("documents").select("doc_id", "n_chars")
        .exceptAll(replica.select("doc_id", "n_chars")).isEmpty
    replica.agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"),
      countDistinct(col("doc_id")).as("n_keys"))
      .select(col("n_rows"), col("sum_chars"), col("n_keys"),
        lit(sameAsSource).as("same_as_source"),
        lit(replayIdempotent).as("replay_idempotent"),
        lit(morApplied).as("mor_applied"))
  }

  /** W65 — policy-driven MAINTENANCE end-to-end ([[graft.wap
    * .BranchCatalog.maintain]]): the table carries its `graft.maintain.*`
    * policy in TBLPROPERTIES; each `maintain()` call runs exactly what
    * the state warrants — two pending MOR tombstone generations trigger
    * materialization, three tiny commits trigger the BIN_PACK
    * small-file fold, the zero-retention expiry policy trims history —
    * and a final call on the healthy table does NOTHING. Oracle: the
    * surviving content as range arithmetic plus the action gates. */
  def wapMaintain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-wap-maintain").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
      .select("doc_id", "lang", "n_chars")
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100).coalesce(1))
    cat.setTableProperties("documents", Map(
      "graft.maintain.tombstones.max" -> "2",
      "graft.maintain.small-files.min" -> "3"))

    cat.deleteKeysMOR("documents", Seq(0L).toDF("doc_id"))
    cat.deleteKeysMOR("documents", Seq(1L).toDF("doc_id"))
    val acts1 = cat.maintain("documents")
    for (r <- 0 until 3)
      cat.append("documents",
        docs.filter(col("doc_id") >= 100 + r * 5 && col("doc_id") < 105 + r * 5).coalesce(1))
    val acts2 = cat.maintain("documents")
    cat.setTableProperties("documents", Map(
      "graft.maintain.expire.keep-ms" -> "0",
      "graft.maintain.expire.retain-last" -> "1"))
    val acts3 = cat.maintain("documents")
    val healthy = cat.maintain("documents").isEmpty
    val oneFile = cat.dataFiles("documents").size == 1

    // TTL retention sweep (W65 + W74): doc_id stands in for event time;
    // now=100 with ttl 50 expires ids < 50, sidecar-only, idempotent
    cat.setTableProperties("documents", Map(
      "graft.maintain.ttl.column" -> "doc_id",
      "graft.maintain.ttl.ms" -> "50"))
    val filesBeforeTtl = cat.dataFiles("documents").map(_.path).toSet
    val ttlActs = cat.maintain("documents", nowMillis = 100L)
    val ttlSwept = ttlActs.exists(_._1 == "ttl-retention") &&
      cat.dataFiles("documents").map(_.path).toSet == filesBeforeTtl &&
      !cat.maintain("documents", nowMillis = 100L).exists(_._1 == "ttl-retention")

    cat.scan("documents").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"),
      countDistinct(col("lang")).as("n_langs"))
      .select(col("n_rows"), col("sum_chars"), col("n_langs"),
        lit(acts1.map(_._1).contains("materialize")).as("materialized"),
        lit(acts2.map(_._1) == Seq("compact-small-files")).as("bin_packed"),
        lit(acts3.map(_._1).contains("expire-snapshots")).as("expired"),
        lit(healthy && oneFile).as("healthy_after"),
        lit(ttlSwept).as("ttl_swept"))
  }

  /** W66 — INCREMENTAL foreign-engine export end-to-end
    * ([[graft.wap.BranchCatalog.exportChanges]], the Delta-Sharing-CDF
    * analogue): a window holding an append and a CoW delete exports
    * BOTH ways — the zero-copy transaction form (insert/delete file
    * legs; the rewritten file's carryovers pair off under a signed
    * fold) and the materialized NET form (carryovers cancel). The Spark
    * side recomputes every aggregate by READING BACK the export
    * artifacts only; the oracle recomputes them from `documents` range
    * arithmetic AND reads the net export directly in DuckDB
    * (`duck_net_rows`) — cross-engine agreement on the same bytes. */
  def wapExportChanges(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-expch").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
      .select("doc_id", "lang", "n_chars")
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100).coalesce(1))
    val s1 = cat.snapshotIdOf("documents").get
    cat.append("documents", docs.filter(col("doc_id") >= 100 && col("doc_id") < 150).coalesce(1))
    cat.deleteWhere("documents", col("doc_id") < 20) // rewrites file 1
    val s2 = cat.snapshotIdOf("documents").get

    val base = exportDir(dir) + "-changes"
    val files = cat.exportChanges("documents", s1, s2, s"$base/files")
    val net = cat.exportChanges("documents", s1, s2, s"$base/net", net = true)

    // read back THROUGH THE EXPORTS only
    val mf = spark.read.option("multiLine", true).json(files.manifestPath)
    def paths(side: String): Seq[String] = mf
      .select(explode(col(side)).as("f")).select(col("f.path"))
      .collect().map(_.getString(0)).toIndexedSeq
    val ins = spark.read.parquet(paths("inserts"): _*)
    val del = spark.read.parquet(paths("deletes"): _*)
    val netDf = spark.read.parquet(net.dest + "/changes")
    val netRows = netDf.count()
    val netCharsSigned = netDf.agg(sum(when(col("_change_type") === "insert",
      col("n_chars")).otherwise(-col("n_chars"))).cast("long")).head.getLong(0)

    ins.agg(count(lit(1)).as("n_insert_rows"),
      sum(col("n_chars")).cast("long").as("ins_chars"))
      .crossJoin(del.agg(count(lit(1)).as("n_delete_rows"),
        sum(col("n_chars")).cast("long").as("del_chars")))
      .select(col("n_insert_rows"), col("n_delete_rows"),
        (col("ins_chars") - col("del_chars")).as("chars_net"),
        lit(netRows).as("net_rows"),
        lit(netRows).as("duck_net_rows"),
        // the two forms agree: the transaction legs' signed fold equals
        // the net export's signed fold (carryovers cancelled)
        ((col("ins_chars") - col("del_chars")) === lit(netCharsSigned))
          .as("net_consistent"))
  }

  /** W21 extended — MULTI-transform hidden partitioning end-to-end: the
    * events table laid out `day(ts);bucket(4,user_id)` (the canonical
    * Iceberg fact-table layout), appends auto-routed into the nested
    * layout, then three reads: a day-range + key conjunction, a
    * key-only read, and the full count — with plan-derived gates that
    * the DAY predicate pruned files, the BUCKET predicate pruned files,
    * their conjunction pruned at least as hard as either alone, and
    * every file carries BOTH partition values. Oracle: the same
    * aggregates in DuckDB (the threshold is min(ts)+2 days, computable
    * on both sides). */
  def wapMultipart(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-multipart").toString
    val cat = new BranchCatalog(spark, tmp)
    val ev = Tables.eventsWithTs(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    cat.createTableIfNotExists("events", ev.schema, "main",
      Seq(graft.wap.DayPartition("ts"), graft.wap.BucketPartition(4, "user_id")))
    cat.append("events", ev)

    val thr = ev.select((min(col("ts")) + expr("INTERVAL 2 DAYS")).as("t"))
      .head.getTimestamp(0)
    val dayCond = col("ts") < lit(thr)
    val keyCond = col("user_id") === 3L
    val headId = cat.snapshotIdOf("events").get
    val total = cat.dataFiles("events").size
    def planned(c: org.apache.spark.sql.Column): Int =
      cat.plannedFilesOfSnapshot("events", headId, Some(c)).size
    val dayFiles = planned(dayCond)
    val keyFiles = planned(keyCond)
    val bothFiles = planned(dayCond && keyCond)
    val layoutOk = cat.dataFiles("events").forall(f =>
      f.partition.contains("pv") && f.partition.contains("pv1"))

    cat.scan("events", filter = Some(dayCond && keyCond)).agg(
      count(lit(1)).as("q_rows"),
      coalesce(sum(col("event_id")), lit(0L)).cast("long").as("q_sum"))
      .crossJoin(cat.scan("events").agg(count(lit(1)).as("n_rows")))
      .select(col("n_rows"), col("q_rows"), col("q_sum"),
        lit(dayFiles < total).as("day_pruned"),
        lit(keyFiles < total).as("bucket_pruned"),
        lit(bothFiles <= math.min(dayFiles, keyFiles)).as("conjunction_pruned"),
        lit(layoutOk).as("layout_ok"))
  }

  /** METADATA-ONLY partition-spec evolution (Iceberg ADD/DROP PARTITION
    * FIELD, r14): a day(ts) table gains bucket(4,user_id) as ONE
    * metadata commit — no file rewritten — then appends land under the
    * evolved layout. Gates: the evolution commit touches zero data
    * files; a user_id filter bucket-prunes the NEW generation while
    * keeping every pre-evolution file (a file prunes only under fields
    * whose keys it carries); a day filter still prunes BOTH generations;
    * after DROPPING the bucket field, files written under it STILL
    * bucket-prune (retired fields keep their stable pv keys). Oracle:
    * the full content plus the filtered slice in plain SQL — hash-equal
    * proves the mixed-layout scan is exact, not just well-pruned. */
  def wapSpecEvolve(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-specevo").toString
    val cat = new BranchCatalog(spark, tmp)
    val ev = Tables.eventsWithTs(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    cat.createTableIfNotExists("events", ev.schema, "main",
      Some(graft.wap.DayPartition("ts"): graft.wap.PartitionSpec))
    cat.append("events", ev.filter(col("event_id") % 2 === 0))
    val filesBefore = cat.dataFiles("events").map(_.path).toSet

    cat.addPartitionField("events", graft.wap.BucketPartition(4, "user_id"))
    val metadataOnly =
      cat.dataFiles("events").map(_.path).toSet == filesBefore
    cat.append("events", ev.filter(col("event_id") % 2 === 1))

    val headId = cat.snapshotIdOf("events").get
    val files = cat.dataFiles("events")
    val (newF, oldF) = files.partition(_.partition.contains("pv1"))
    val keyCond = col("user_id") === 3L
    def planned(c: org.apache.spark.sql.Column): Set[String] =
      cat.plannedFilesOfSnapshot("events", headId, Some(c)).map(_._1).toSet
    val keyKeep = planned(keyCond)
    val oldKept = oldF.map(_.path).toSet.subsetOf(keyKeep)
    val newPruned = newF.exists(f => !keyKeep.contains(f.path))
    val thr = ev.select((min(col("ts")) + expr("INTERVAL 2 DAYS")).as("t"))
      .head.getTimestamp(0)
    val dayPruned = planned(col("ts") < lit(thr)).size < files.size

    // DROP: the retired field keeps pruning its own generation
    cat.dropPartitionField("events", "bucket(4,user_id)")
    val dropId = cat.snapshotIdOf("events").get
    val keepAfterDrop = cat.plannedFilesOfSnapshot("events", dropId,
      Some(keyCond)).map(_._1).toSet
    val retiredPrunes = newF.exists(f => !keepAfterDrop.contains(f.path)) &&
      oldF.map(_.path).toSet.subsetOf(keepAfterDrop)

    cat.scan("events", filter = Some(keyCond)).agg(
      count(lit(1)).as("q_rows"),
      coalesce(sum(col("event_id")), lit(0L)).cast("long").as("q_sum"))
      .crossJoin(cat.scan("events").agg(count(lit(1)).as("n_rows")))
      .select(col("n_rows"), col("q_rows"), col("q_sum"),
        lit(metadataOnly).as("metadata_only"),
        lit(oldKept).as("old_files_kept"),
        lit(newPruned).as("new_files_pruned"),
        lit(dayPruned).as("day_prunes_both"),
        lit(retiredPrunes).as("retired_field_prunes"))
  }

  /** Referential integrity: event user_ids against the (25-key) nation
    * table — intentionally orphan-rich so the check exercises both
    * branches (SQL oracle: anti-join counts). */
  def dqRefIntegrity(spark: SparkSession, dir: String): DataFrame =
    Referential.orphans(
      Tables.events(spark, dir), "user_id",
      Tables.nation(spark, dir), "n_nationkey")

  /** Distribution drift (PSI) of o_totalprice between the even- and
    * odd-keyed halves of orders — a near-zero PSI on homogeneous halves
    * (the formula, smoothing and analytic empty-bin term all hash-check
    * against the DuckDB oracle). */
  def dqDrift(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    Drift.psi(
      o.filter(col("o_orderkey") % 2 === 0),
      o.filter(col("o_orderkey") % 2 === 1),
      "o_totalprice", buckets = 10)
  }

  /** Column DEFAULT values (W71 — Iceberg v3 initial/write defaults):
    * rows written BEFORE `ADD COLUMN score DEFAULT 7` serve 7 (per FILE,
    * via Spark's native EXISTS_DEFAULT resolution — an explicit post-add
    * NULL stays NULL), writers omitting the column fill the write
    * default, and `SET DEFAULT 9` moves FUTURE writes only. Gates:
    * metadata-only aggregates refuse the defaulted column (footer stats
    * don't know the served 7), foreign-engine export refuses while
    * default-backed pre-add files remain (a foreign reader would fill
    * NULL), and a full rewrite materializes the default and lifts the
    * refusal. Oracle: the same arithmetic in plain SQL over documents. */
  def wapDefaults(spark: SparkSession, dir: String): DataFrame = {
    import graft.wap.MetaAgg
    val tmp = Files.createTempDirectory("graft-wap-defaults").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 250)
      .select("doc_id", "lang", "n_chars")
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100)) // pre-add files

    val withScore = org.apache.spark.sql.types.StructType(docs.schema.fields :+
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.LongType, nullable = true))
    cat.evolveSchema("documents", withScore, defaults = Map("score" -> "7"))

    // omitted column -> write default 7
    cat.append("documents", docs.filter(col("doc_id") >= 100 && col("doc_id") < 150))
    // explicit values, every 10th an explicit NULL (must STAY null)
    cat.append("documents", docs.filter(col("doc_id") >= 150 && col("doc_id") < 200)
      .withColumn("score", when(col("doc_id") % 10 === 0, lit(null).cast("long"))
        .otherwise(col("n_chars"))))
    // write default moves to 9 for future writes; pre-add rows keep 7
    cat.setColumnDefault("documents", "score", Some("9"))
    cat.append("documents", docs.filter(col("doc_id") >= 200))

    val head = cat.snapshotIdOf("documents").get
    val metaAggBails =
      cat.metaAggregate("documents", head, Seq(MetaAgg.MinCol("score"))).isEmpty &&
        cat.metaAggregate("documents", head, Seq(MetaAgg.CountStar)).nonEmpty
    val exportRefused = try {
      cat.exportSnapshot("documents", tmp + "/export-refused"); false
    } catch { case e: Exception => e.getMessage.contains("DEFAULT") }
    cat.compactDataFiles("documents") // materializes the served defaults
    val exportAfterRewrite = try {
      cat.exportSnapshot("documents", tmp + "/export-ok"); true
    } catch { case _: Exception => false }

    val s = cat.scan("documents")
    s.agg(
      count(lit(1)).as("n_rows"),
      sum(col("score")).cast("long").as("sum_score"),
      sum(when(col("score").isNull, 1L).otherwise(0L)).as("null_scores"),
      sum(when(col("doc_id") < 100 && col("score") === 7L, 1L).otherwise(0L))
        .as("pre_add_served"))
      .select(col("n_rows"), col("sum_score"), col("null_scores"),
        col("pre_add_served"),
        lit(metaAggBails).as("meta_agg_bails"),
        lit(exportRefused).as("export_refused"),
        lit(exportAfterRewrite).as("export_after_rewrite"))
  }

  /** Positional UPDATE end-to-end (W74 — the Iceberg deletion-vector
    * UPDATE shape): arbitrary-predicate updates land as position
    * sidecars + appended new versions, ZERO files rewritten; stacked
    * updates hit only current versions; compaction materializes. Fixed
    * 200-doc slice. Oracle: the documents with both updates applied. */
  def wapPosUpdate(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-posupd").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100))
    cat.append("documents", docs.filter(col("doc_id") >= 100))
    val filesBefore = cat.dataFiles("documents").map(_.path).toSet
    val r1 = cat.updateWherePositional("documents",
      col("n_chars") % 7 === 0, Map("n_chars" -> (col("n_chars") + lit(10000L))))
    // second update hits CURRENT versions only (incl. r1's new versions)
    val r2 = cat.updateWherePositional("documents",
      col("doc_id") < 20, Map("lang" -> lit("xx")))
    val zeroRewrites = r1.filesRewritten == 0 && r2.filesRewritten == 0 &&
      filesBefore.subsetOf(cat.dataFiles("documents").map(_.path).toSet)
    val compacted = cat.compactDataFiles("documents", targetFiles = 2)
    val clean = compacted.deleteManifests.isEmpty
    cat.scan("documents").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"),
      sum(when(col("lang") === "xx", 1L).otherwise(0L)).as("n_xx"))
      .select(col("n_rows"), col("sum_chars"), col("n_xx"),
        lit(r1.rowsUpdated).as("rows_updated_1"),
        lit(r2.rowsUpdated).as("rows_updated_2"),
        lit(zeroRewrites).as("zero_rewrites"),
        lit(clean).as("materialized_clean"))
  }

  /** Merge-on-read MERGE (W77 — [[graft.wap.BranchCatalog.mergeIntoMOR]]):
    * a conditional update+delete+insert merge whose matched old versions
    * land in a position sidecar and whose outcomes append — ZERO data
    * files rewritten — then a SECOND merge that must see exactly the
    * current versions (merge-1's updates, not their suppressed originals;
    * merge-1's deletes gone), then compaction materializes everything.
    * Fixed 220-doc slice; the oracle recomputes the final state and every
    * per-merge count from the source table. */
  def wapPosMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.wap.MergeClause._
    val tmp = Files.createTempDirectory("graft-wap-posmerge").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 240)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100))
    cat.append("documents", docs.filter(col("doc_id") >= 100 && col("doc_id") < 200))
    val filesBefore = cat.dataFiles("documents").map(_.path).toSet

    // matched 50..149: evens update (+1000 chars, first-match-wins over
    // the delete), odd multiples of 3 delete; 200..219 insert
    val source = docs.filter(
      (col("doc_id") >= 50 && col("doc_id") < 150) ||
        (col("doc_id") >= 200 && col("doc_id") < 240))
    val r1 = cat.mergeIntoMOR("documents", source, Seq("doc_id"), Seq(
      MatchedUpdate(Some(col("s.doc_id") % 2 === 0),
        Map("n_chars" -> (col("t.n_chars") + lit(1000L)))),
      MatchedDelete(Some(col("s.doc_id") % 3 === 0)),
      NotMatchedInsert(Some(col("s.doc_id") < 220))))
    val snap1 = cat.snapshotMeta("documents", cat.snapshotIdOf("documents").get)
    val mergePos = snap1.op == "merge-pos" &&
      snap1.deleteManifests.nonEmpty && snap1.deleteManifests.forall(_.posDelete)

    // stacked merge over 60..69: merge-1's deletes (63, 69) are NOT
    // matched (no insert clause — dropped); its updated versions match
    // exactly once
    val r2 = cat.mergeIntoMOR("documents",
      docs.filter(col("doc_id") >= 60 && col("doc_id") < 70), Seq("doc_id"),
      Seq(MatchedUpdate(None, Map("lang" -> lit("xx")))))

    val zeroRewrites = r1.filesRewritten == 0 && r2.filesRewritten == 0 &&
      filesBefore.subsetOf(cat.dataFiles("documents").map(_.path).toSet)
    val compacted = cat.compactDataFiles("documents", targetFiles = 2)
    val clean = compacted.deleteManifests.isEmpty
    cat.scan("documents").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"),
      sum(when(col("lang") === "xx", 1L).otherwise(0L)).as("n_xx"))
      .select(col("n_rows"), col("sum_chars"), col("n_xx"),
        lit(r1.rowsUpdated).as("rows_updated_1"),
        lit(r1.rowsDeleted).as("rows_deleted_1"),
        lit(r1.rowsInserted).as("rows_inserted_1"),
        lit(r2.rowsUpdated).as("rows_updated_2"),
        lit(zeroRewrites).as("zero_rewrites"),
        lit(mergePos).as("merge_pos_op"),
        lit(clean).as("materialized_clean"))
  }

  /** Equality→positional tombstone conversion (W76 — the Iceberg v2→v3
    * deletion-vector migration): a stacked MOR delete / re-append
    * history converts to position sidecars in one commit with ZERO data
    * files rewritten and byte-identical visibility, then row lineage
    * enables WITHOUT a rewrite. Fixed 200-doc slice. */
  def wapConvertEq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-wap-cveq").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100))
    cat.append("documents", docs.filter(col("doc_id") >= 100))
    cat.deleteKeysMOR("documents",
      docs.filter(col("doc_id") < 100 && col("doc_id") % 10 === 0).select("doc_id"))
    cat.append("documents", docs.filter(col("doc_id") === 20)) // re-appended: visible
    cat.deleteKeysMOR("documents", Seq(30L, 150L).toDF("doc_id"))
    val filesBefore = cat.dataFiles("documents").map(_.path).toSet
    val visBefore = cat.scan("documents").count()

    val converted = cat.convertTombstonesToPositional("documents")
    val posOnly = converted.deleteManifests.nonEmpty &&
      converted.deleteManifests.forall(_.posDelete)
    val zeroRewrites = cat.dataFiles("documents").map(_.path).toSet == filesBefore
    val sameVis = cat.scan("documents").count() == visBefore
    cat.enableRowLineage("documents") // rewrite-free on the converted table
    val lin = cat.scanLineage("documents").select("_row_id")
    val idsUnique = lin.distinct().count() == visBefore

    cat.scan("documents").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"))
      .select(col("n_rows"), col("sum_chars"),
        lit(posOnly).as("pos_only"),
        lit(zeroRewrites).as("zero_rewrites"),
        lit(sameVis).as("same_visibility"),
        lit(idsUnique).as("lineage_without_rewrite"))
  }

  /** Row-identified changelog (W75 — Delta CDF over row lineage):
    * updates surface as `update_preimage`/`update_postimage` pairs
    * sharing a `_row_id`, deletes/inserts carry identity, carried rows
    * cancel. Fixed 250-doc slice; the oracle recomputes every change
    * class from the source table. */
  def wapCdf(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-cdf").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 250)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100))
    cat.append("documents", docs.filter(col("doc_id") >= 100 && col("doc_id") < 200))
    cat.enableRowLineage("documents")
    val a = cat.snapshotIdOf("documents").get
    cat.updateWhere("documents", col("doc_id") < 20, Map("lang" -> lit("xx")))
    cat.deleteWhere("documents", col("n_chars") % 7 === 0)
    cat.append("documents", docs.filter(col("doc_id") >= 200))
    val b = cat.snapshotIdOf("documents").get

    val cl = cat.scanChangelogLineage("documents", a, b).cache()
    try {
      val pre = cl.filter(col("_change_type") === "update_preimage")
        .select(col("doc_id"), col("_row_id").as("pre_id"), col("lang").as("pre_lang"))
      val post = cl.filter(col("_change_type") === "update_postimage")
        .select(col("doc_id"), col("_row_id").as("post_id"), col("lang").as("post_lang"))
      val pairs = pre.join(post, "doc_id")
      val nPairs = pairs.count()
      val pairedById = nPairs > 0 && pairs.filter(
        col("pre_id") =!= col("post_id") || col("post_lang") =!= "xx" ||
          col("pre_lang") === "xx").count() == 0
      cl.groupBy().agg(
        sum(when(col("_change_type") === "update_preimage", 1L).otherwise(0L)).as("n_pre"),
        sum(when(col("_change_type") === "update_postimage", 1L).otherwise(0L)).as("n_post"),
        sum(when(col("_change_type") === "delete", 1L).otherwise(0L)).as("n_del"),
        sum(when(col("_change_type") === "insert", 1L).otherwise(0L)).as("n_ins"),
        sum(when(col("_change_type") === "insert", col("n_chars")).otherwise(0L))
          .cast("long").as("ins_chars"),
        countDistinct(col("_row_id")).as("n_ids"))
        .select(col("n_pre"), col("n_post"), col("n_del"), col("n_ins"),
          col("ins_chars"), col("n_ids"),
          lit(pairedById).as("updates_pair_by_id"))
    } finally { cl.unpersist(); () }
  }

  /** Row lineage end-to-end (W73 — Iceberg v3 row tracking): stable
    * `_row_id` / `_last_updated_seq` through CoW DELETE, compaction,
    * CoW UPDATE, and a branch append published with [[BranchCatalog
    * .merge]] — ids assigned from the GLOBAL per-table counter survive
    * publication verbatim. Fixed 250-doc slice: SF-flat by construction.
    * Oracle: survivors of `doc_id < 200 AND n_chars % 7 <> 0` plus the
    * branch's `[200, 250)` rows; every lineage invariant folds to a
    * boolean the oracle pins true. */
  def wapRowLineage(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wap-rowlin").toString
    val cat = new BranchCatalog(spark, tmp)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 250)
    cat.createTableIfNotExists("documents", docs.schema)
    cat.append("documents", docs.filter(col("doc_id") < 100))
    cat.append("documents", docs.filter(col("doc_id") >= 100 && col("doc_id") < 200))
    cat.enableRowLineage("documents")
    val before = cat.scanLineage("documents")
      .select(col("doc_id"), col("_row_id").as("id0"), col("_last_updated_seq").as("seq0"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    cat.deleteWhere("documents", col("n_chars") % 7 === 0)     // CoW: survivors carry ids
    cat.compactDataFiles("documents", targetFiles = 2)          // rewrite: ids materialized
    val upd = cat.updateWhere("documents", col("doc_id") < 20,
      Map("lang" -> lit("xx")))                                 // ids keep, hit rows' seq bumps

    // WAP leg: branch append + publish — ids assigned on the branch are
    // FINAL (global counter), so publication must not move them
    cat.createBranch("audit")
    cat.append("documents", docs.filter(col("doc_id") >= 200), branch = "audit")
    val branchIds = cat.scanLineage("documents", "audit")
      .filter(col("doc_id") >= 200)
      .select(col("doc_id"), col("_row_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cat.merge("audit")

    val fin = cat.scanLineage("documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("_row_id"), col("_last_updated_seq"))
      .collect()
    val byDoc = fin.map(r => r.getLong(0) -> r).toMap
    val mainRows = fin.filter(_.getLong(0) < 200L)
    val idsStable = mainRows.forall(r => before(r.getLong(0))._1 == r.getLong(3))
    val seqTracks = mainRows.forall { r =>
      val seq = r.getLong(4)
      if (r.getLong(0) < 20L) seq == upd.snapshot.seq else seq == before(r.getLong(0))._2
    }
    val publishCarries = branchIds.forall { case (d, id) => byDoc(d).getLong(3) == id }
    val idsUnique = fin.map(_.getLong(3)).distinct.length == fin.length

    cat.scan("documents").agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"),
      sum(when(col("lang") === "xx", 1L).otherwise(0L)).as("n_renamed_lang"))
      .select(col("n_rows"), col("sum_chars"), col("n_renamed_lang"),
        lit(idsStable).as("ids_stable"),
        lit(seqTracks).as("seq_tracks_updates"),
        lit(publishCarries).as("publish_carries_ids"),
        lit(idsUnique).as("ids_unique"))
  }
}
