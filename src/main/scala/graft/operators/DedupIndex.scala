package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.wap.BranchCatalog

/** The MinHash-LSH dedup index as a PERSISTED lake artifact (SURVEY §2.4,
  * the W60 vector-index lifecycle applied to text dedup): at 100 TB the
  * expensive step of near-dup dedup is shingling + signing the corpus,
  * so the banded signatures live in a lake table beside it and every new
  * ingest batch dedups against the WHOLE corpus in O(batch):
  *
  *  - `<t>__dedupidx_<col>_bands` (id, band, bkey) — `bands` rows per doc,
  *    ids-only (never shingles or text), the equi-join side of candidate
  *    generation.
  *
  * The SOURCE table's branch-versioned properties record the id column,
  * the signing parameters, and the SNAPSHOT the index covers
  * (`graft.dedupidx.<col>.*`). `refresh` classifies the window like the
  * W56/W60 artifacts: `fresh` (no-op), `incremental` (append-only
  * window — ONLY the appended docs are shingled/signed and their band
  * rows appended; O(delta)), `full` (deletes/compactions — re-sign).
  *
  * Candidate generation never self-joins the index: cross candidates
  * come from `delta bands ⋈ index bands` (the delta side is tiny next to
  * the corpus — broadcast-hinted) and intra-delta candidates from the
  * delta's own bucket join. Verification is EXACT and touches only
  * candidate ids: their texts re-read from the indexed snapshot /
  * delta, re-shingled, and kept at `jaccard >= threshold` — so the pairs
  * are IDENTICAL to what the one-shot [[Dedup.minhashPairs]] would emit
  * on the union corpus ([[graft.operators]] share one banding
  * definition), just without the full-corpus re-sign.
  *
  * SQL surface: `CALL lake.system.build_dedup_index('t', 'id', 'text')`,
  * `refresh_dedup_index('t', 'text')`, `drop_dedup_index('t', 'text')`;
  * `graft.maintain.refresh-dedup-index=<col>` folds the refresh into the
  * W65 maintenance sweep. */
object DedupIndex {

  /** Signing parameters, persisted with the index: refresh must band a
    * delta exactly the way the corpus was banded. */
  case class Params(
      numHashes: Int = 128, bands: Int = 16, shingleN: Int = 3,
      threshold: Double = 0.8) {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def encoded: String =
      s"numHashes=$numHashes,bands=$bands,shingleN=$shingleN,threshold=$threshold"
  }
  object Params {
    def decode(s: String): Params = {
      val kv = s.split(",").map { p =>
        val i = p.indexOf('='); p.take(i) -> p.drop(i + 1)
      }.toMap
      Params(kv("numHashes").toInt, kv("bands").toInt, kv("shingleN").toInt,
        kv("threshold").toDouble)
    }
  }

  def bandsTable(table: String, textCol: String) = s"${table}__dedupidx_${textCol}_bands"

  private def snapshotKey(c: String) = s"graft.dedupidx.$c.snapshot"
  private def idKey(c: String) = s"graft.dedupidx.$c.id"
  private def paramsKey(c: String) = s"graft.dedupidx.$c.params"

  /** (id, band, bkey) band rows of `df` under `p` — the index's storage
    * and the delta's join side, from the SAME banding definition the
    * batch operators use. */
  private def bandRows(df: DataFrame, idCol: String, textCol: String,
      p: Params): DataFrame =
    Dedup.bandedOf(
      Dedup.shingleProjection(df, idCol, textCol, p.numHashes, p.shingleN),
      p.numHashes, p.bands)
      .select(col("__id").as("id"), col("__band").as("band"), col("__bkey").as("bkey"))

  private def writeTable(cat: BranchCatalog, name: String, df: DataFrame,
      branch: String): Unit = {
    if (cat.tableExists(name, branch)) cat.overwrite(name, df, branch)
    else {
      cat.createTableIfNotExists(name, df.schema, branch)
      cat.append(name, df, branch)
      ()
    }
  }

  /** Build (or rebuild) the index for `table.textCol` at the branch head:
    * one corpus pass, `bands` small rows per doc persisted. */
  def build(spark: SparkSession, cat: BranchCatalog, table: String,
      idCol: String, textCol: String, params: Params = Params(),
      branch: String = "main"): Unit = {
    val headId = cat.snapshotIdOf(table, branch)
      .getOrElse(sys.error(s"no table $table on $branch"))
    writeTable(cat, bandsTable(table, textCol),
      bandRows(cat.scanSnapshot(table, headId), idCol, textCol, params), branch)
    cat.setTableProperties(table, Map(
      snapshotKey(textCol) -> headId,
      idKey(textCol) -> idCol,
      paramsKey(textCol) -> params.encoded), branch)
  }

  /** Advance the index to the branch head; returns the mode run:
    * `fresh`, `incremental` (only the appended docs were signed), or
    * `full` (the window held deletes/rewrites — re-sign). */
  def refresh(spark: SparkSession, cat: BranchCatalog, table: String,
      textCol: String, branch: String = "main"): String = {
    val props = cat.tableProperties(table, branch)
    val recorded = props.getOrElse(snapshotKey(textCol), sys.error(
      s"$table.$textCol has no dedup index on $branch — CALL build_dedup_index first"))
    val idCol = props(idKey(textCol))
    val params = Params.decode(props(paramsKey(textCol)))
    val headId = cat.snapshotIdOf(table, branch)
      .getOrElse(sys.error(s"no table $table on $branch"))
    if (headId == recorded) return "fresh"
    if (cat.appendOnlyWindow(table, recorded, headId)) {
      cat.append(bandsTable(table, textCol),
        bandRows(cat.scanChangesBetween(table, recorded, headId),
          idCol, textCol, params), branch)
      cat.setTableProperties(table, Map(snapshotKey(textCol) -> headId), branch)
      "incremental"
    } else {
      // NET-CHANGELOG refresh (r14): a delete-containing window no longer
      // forces a corpus re-sign. The W62 changelog yields exactly the NET
      // inserted and deleted rows (carried/compacted rows cancel), so
      // deleted ids' band rows are suppressed with ONE O(deleted-ids)
      // equality tombstone on the bands table and only net-inserted docs
      // are shingled/signed — O(delta) under CDC-style churn, where the
      // old behavior re-signed 100 TB for one GDPR delete. An UPDATE
      // (delete+insert of one id) drops the stale rows first, then signs
      // the new text. Falls to `full` only when the window itself is not
      // changelog-readable (tombstoned endpoints, pre-field-id schema
      // change, an expired watermark). Any other failure is a real bug and
      // propagates instead of silently degrading to an O(corpus) rebuild.
      val net = cat.changelogIfReadable(table, recorded, headId).map { changes =>
        (changes.filter(col("_change_type") === "delete")
          .select(col(idCol).as("id")).distinct(),
          changes.filter(col("_change_type") === "insert").drop("_change_type"))
      }
      net match {
        case Some((deletedIds, inserted)) =>
          val bt = bandsTable(table, textCol)
          if (!deletedIds.isEmpty) { cat.deleteKeysMOR(bt, deletedIds, branch); () }
          val insRows = bandRows(inserted, idCol, textCol, params)
          if (!insRows.isEmpty) { cat.append(bt, insRows, branch); () }
          cat.setTableProperties(table, Map(snapshotKey(textCol) -> headId), branch)
          "net"
        case None =>
          build(spark, cat, table, idCol, textCol, params, branch)
          "full"
      }
    }
  }

  /** The snapshot id the index currently covers (its watermark), if an
    * index exists. [[graft.wap.BranchCatalog.expireSnapshots]] keeps
    * recorded watermarks live automatically (reclaiming one would degrade
    * the next refresh to a full rebuild); this accessor is for callers
    * that want to observe or pin it themselves. */
  def watermark(cat: BranchCatalog, table: String, textCol: String,
      branch: String = "main"): Option[String] =
    cat.tableProperties(table, branch).get(snapshotKey(textCol)).filter(_.nonEmpty)

  /** Drop the band table and the watermark properties. */
  def drop(cat: BranchCatalog, table: String, textCol: String,
      branch: String = "main"): Unit = {
    cat.dropTable(bandsTable(table, textCol), branch)
    if (cat.tableExists(table, branch))
      cat.setTableProperties(table, Map(
        snapshotKey(textCol) -> "", idKey(textCol) -> "", paramsKey(textCol) -> ""), branch)
  }

  /** FOREIGN-ENGINE export of the persisted dedup index (the interop
    * bound closed for the band signatures, like
    * [[VectorIndex.exportIndex]] for vectors): the bands table AND the
    * covered corpus snapshot each export through
    * [[BranchCatalog.exportSnapshot]], plus `index-manifest.json` and a
    * ready-to-run `candidates.sql` — the banded-LSH candidate-pair
    * self-join any SQL engine executes (equi-join on (band, bkey), ids
    * only — never an all-pairs scan). The exact-Jaccard verify stays an
    * operator concern (it needs the shingler); candidate generation IS
    * the index's contract, and the shipped query reproduces graft's own
    * bucket join exactly. */
  def exportIndex(spark: SparkSession, cat: BranchCatalog, table: String,
      textCol: String, dest: String, branch: String = "main"): Map[String, String] = {
    val props = cat.tableProperties(table, branch)
    val snapId = props.get(snapshotKey(textCol)).filter(_.nonEmpty).getOrElse(
      sys.error(s"$table.$textCol has no dedup index on $branch — build_dedup_index first"))
    val idCol = props(idKey(textCol))
    val params = props(paramsKey(textCol))
    val bands = bandsTable(table, textCol)
    IndexExport.requireFreshOrPrior(spark, dest)
    cat.exportSnapshot(bands, s"$dest/bands", branch)
    cat.exportSnapshot(table, s"$dest/corpus", branch, snapshotId = Some(snapId))
    def emit(name: String, content: String): String =
      IndexExport.emit(spark, dest, name, content)
    val candidatesSql =
      s"""-- graft dedup-index candidate pairs: banded-LSH bucket self-join.
         |-- Execute bands/view.sql first. Pairs sharing ANY band bucket are
         |-- near-duplicate CANDIDATES; verify with exact Jaccard over your
         |-- shingler of choice (graft verifies with ${params}).
         |SELECT DISTINCT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b
         |FROM ${bands}_export a
         |JOIN ${bands}_export b
         |  ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
         |ORDER BY id_a, id_b;
         |""".stripMargin
    val candPath = emit("candidates.sql", candidatesSql)
    val manifestPath = emit(IndexExport.ManifestName, org.json4s.jackson.Serialization.write(
      Map(
        "kind" -> "graft-minhash-lsh-dedup-index",
        "table" -> table, "textCol" -> textCol, "idCol" -> idCol,
        "params" -> params, "coveredSnapshot" -> snapId,
        "layout" -> Map(
          "bands" -> ("bands/ (id, band, bkey) — banded MinHash signatures; " +
            "pairs sharing a (band, bkey) bucket are candidates"),
          "corpus" -> "corpus/ — the covered snapshot, for the exact verify"),
        "serve" -> "candidates.sql"))(org.json4s.DefaultFormats))
    Map("dest" -> dest, "candidatesSql" -> candPath, "indexManifest" -> manifestPath)
  }

  /** Near-duplicate pairs TOUCHING `newDocs`, against the indexed corpus
    * and within the batch, exactly verified: `(id_a, id_b, jaccard)`
    * with `jaccard >= threshold`, ids ordered ascending. The index side
    * is never self-joined; verification re-reads ONLY candidate ids'
    * texts (from the batch, falling back to the indexed snapshot). */
  def pairsAgainst(spark: SparkSession, cat: BranchCatalog, table: String,
      textCol: String, newDocs: DataFrame,
      branch: String = "main"): DataFrame = {
    val props = cat.tableProperties(table, branch)
    val recorded = props.getOrElse(snapshotKey(textCol), sys.error(
      s"$table.$textCol has no dedup index on $branch — CALL build_dedup_index first"))
    val idCol = props(idKey(textCol))
    val params = Params.decode(props(paramsKey(textCol)))

    val delta = broadcast(bandRows(newDocs, idCol, textCol, params))
    val indexBands = cat.scan(bandsTable(table, textCol), branch)

    // cross candidates: the batch against the corpus — ids only, the
    // small side broadcast, the 100 TB side scanned ONCE map-side
    val cross = indexBands.alias("i")
      .join(delta.alias("d"),
        col("i.band") === col("d.band") && col("i.bkey") === col("d.bkey") &&
          col("i.id") =!= col("d.id"))
      .select(least(col("i.id"), col("d.id")).as("id_a"),
        greatest(col("i.id"), col("d.id")).as("id_b"))
    // intra-batch candidates: the delta's own bucket join (tiny)
    val intra = Dedup.bucketPairs(
      delta.select(col("id").as("__id"), col("band").as("__band"), col("bkey").as("__bkey")),
      "__band", "__bkey")
    val candidates = cross.union(intra).dropDuplicates("id_a", "id_b")

    // exact verify on candidate ids only: batch texts win over the
    // indexed snapshot's (an id present in both reads once, as the batch)
    val newTexts = newDocs.select(col(idCol).as("__id"), col(textCol).as("__text"))
    val corpusTexts = cat.scanSnapshot(table, recorded)
      .select(col(idCol).as("__id"), col(textCol).as("__text"))
      .join(newTexts.select(col("__id")), Seq("__id"), "left_anti")
    val ids = candidates.select(col("id_a").as("__id"))
      .union(candidates.select(col("id_b").as("__id"))).distinct()
    val sh = newTexts.unionByName(corpusTexts)
      .join(ids, Seq("__id"), "left_semi")
      .select(col("__id"),
        graft.functions.VectorFunctions.shingleHashes(
          col("__text"), params.shingleN).as("__sh"))
    candidates
      .join(sh.select(col("__id").as("id_a"), col("__sh").as("sh_a")), "id_a")
      .join(sh.select(col("__id").as("id_b"), col("__sh").as("sh_b")), "id_b")
      .withColumn("jaccard", Dedup.jaccardOf(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= params.threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** [[pairsAgainst]] for the window the index does NOT yet cover: the
    * docs appended since the recorded watermark — "what in my latest
    * ingest duplicates anything already in the lake". */
  def pairsSinceWatermark(spark: SparkSession, cat: BranchCatalog,
      table: String, textCol: String, branch: String = "main"): DataFrame = {
    val props = cat.tableProperties(table, branch)
    val recorded = props.getOrElse(snapshotKey(textCol), sys.error(
      s"$table.$textCol has no dedup index on $branch — CALL build_dedup_index first"))
    val headId = cat.snapshotIdOf(table, branch)
      .getOrElse(sys.error(s"no table $table on $branch"))
    require(cat.appendOnlyWindow(table, recorded, headId),
      s"window $recorded..$headId of $table is not append-only — refresh the " +
        "index (full) and dedup batches before they land instead")
    pairsAgainst(spark, cat, table, textCol,
      cat.scanChangesBetween(table, recorded, headId), branch)
  }

  /** The ingest-gate form: `newDocs` minus every doc that near-duplicates
    * the indexed corpus (the CORPUS always wins, whatever the ids say —
    * it is already committed) or an earlier doc of the same batch
    * (smaller id wins, [[Dedup.minhashLsh]] semantics). */
  def dedupNew(spark: SparkSession, cat: BranchCatalog, table: String,
      textCol: String, newDocs: DataFrame,
      branch: String = "main"): DataFrame = {
    val idCol = cat.tableProperties(table, branch)(idKey(textCol))
    val pairs = pairsAgainst(spark, cat, table, textCol, newDocs, branch)
    val newIds = newDocs.select(col(idCol).as("__nid")).distinct()
    val flagged = pairs
      .join(newIds.select(col("__nid").as("id_a"), lit(true).as("a_new")),
        Seq("id_a"), "left")
      .join(newIds.select(col("__nid").as("id_b"), lit(true).as("b_new")),
        Seq("id_b"), "left")
    val dupIds = flagged.select(
      when(coalesce(col("a_new"), lit(false)) && !coalesce(col("b_new"), lit(false)),
        col("id_a")) // new vs corpus: drop the new side
        .otherwise(col("id_b")) // corpus vs new, or intra-batch: drop id_b
        .as(idCol)).distinct()
    newDocs.join(dupIds, Seq(idCol), "left_anti")
  }
}
