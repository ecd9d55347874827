package graft.wap

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** The carry and sequence rules every row-level DML and compaction
  * follows. Each op runs once against a fresh table of three manifests
  * (A = ids 0-9, B = 10-19, C = 20-29; two files each, split at 5), and
  * the spec checks what the commit did with each of them:
  *
  *  - an untouched manifest keeps its path (and so its sequence);
  *  - a partly touched one is re-manifested around its survivors, at the
  *    commit's sequence, or at its own for a positional drop;
  *  - an emptied one drops;
  *  - every other new manifest is fresh, at the commit's sequence
  *    (manifest folding: the max sequence of what it folds);
  *  - a new position sidecar carries the commit's sequence;
  *  - on a row-lineage table, every row the op did not touch keeps its
  *    row id. */
class RewriteKernelSpec extends SparkSpecBase {

  /** ids lo until hi, split into `files` equal ranges. */
  private def rows(lo: Long, hi: Long, files: Int = 1): DataFrame =
    spark.range(lo, hi, 1, files).select(col("id"), (col("id") * 7 % 100).as("v"))

  private def head(cat: BranchCatalog): Snapshot =
    cat.snapshotMeta("t", cat.snapshotIdOf("t").get)

  private def freshTable(lineage: Boolean): BranchCatalog = {
    val cat = new BranchCatalog(spark, Files.createTempDirectory("rw-kernel").toString)
    cat.createTableIfNotExists("t", rows(0, 1).schema)
    for (lo <- Seq(0L, 10L, 20L))
      cat.append("t", rows(lo, lo + 10, files = 2))
    if (lineage) cat.enableRowLineage("t")
    cat
  }

  private def rowIds(cat: BranchCatalog): Map[Long, Long] =
    cat.scanLineage("t").select("id", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def src(id: Long): DataFrame = rows(id, id + 1).withColumn("v", lit(-1L))

  /** One op and what it must do: `kept` and `remanifested` name the
    * manifests (A, B, C) that survive by path and around their
    * survivors; every other one drops. */
  private case class Case(
      name: String, op: String, run: BranchCatalog => Any,
      kept: String = "", remanifested: String = "", positional: Boolean = false,
      sidecar: Boolean = false, folded: Boolean = false, touched: Set[Long] = Set.empty,
      lineage: Boolean = true, setup: BranchCatalog => Any = _ => ())

  private val update = MergeClause.MatchedUpdate(None, Map("v" -> col("s.v")))

  private val cases = Seq(
    Case("deleteWhere", "delete", _.deleteWhere("t", col("id") === 0),
      kept = "BC", remanifested = "A", touched = Set(0L)),
    Case("updateWhere", "update", _.updateWhere("t", col("id") === 0, Map("v" -> lit(-1L))),
      kept = "BC", remanifested = "A", touched = Set(0L)),
    Case("upsert", "upsert", _.upsert("t", src(0), Seq("id")),
      kept = "BC", remanifested = "A", touched = Set(0L)),
    Case("mergeInto", "merge", _.mergeInto("t", src(0), Seq("id"), Seq(update)),
      kept = "BC", remanifested = "A", touched = Set(0L)),
    Case("mergeInto with a conditional by-source delete", "merge",
      _.mergeInto("t", src(0), Seq("id"), Seq(update,
        MergeClause.NotMatchedBySourceDelete(Some(col("t.id") === 25)))),
      kept = "B", remanifested = "AC", touched = Set(0L, 25L)),
    Case("compactDataFilesWhere", "compact",
      _.compactDataFilesWhere("t", col("id") === 0 || col("id") === 25),
      kept = "B", remanifested = "AC"),
    Case("compactSmallFiles", "compact", _.compactSmallFiles("t")),
    Case("deleteWherePositional dropping a whole file", "delete-pos",
      _.deleteWherePositional("t", col("id") <= 4),
      kept = "BC", remanifested = "A", positional = true, touched = (0L to 4L).toSet),
    Case("deleteWherePositional marking rows", "delete-pos",
      _.deleteWherePositional("t", col("id") === 12),
      kept = "ABC", sidecar = true, touched = Set(12L)),
    Case("updateWherePositional", "update-pos",
      _.updateWherePositional("t", col("id") === 12, Map("v" -> lit(-1L))),
      kept = "ABC", sidecar = true, touched = Set(12L)),
    Case("mergeIntoMOR", "merge-pos", _.mergeIntoMOR("t", src(12), Seq("id"), Seq(update)),
      kept = "ABC", sidecar = true, touched = Set(12L)),
    Case("compactPositionDeletes", "compact-pos-deletes", _.compactPositionDeletes("t"),
      kept = "ABC", sidecar = true, touched = Set(12L),
      setup = _.deleteWherePositional("t", col("id") === 12)),
    Case("convertTombstonesToPositional", "convert-tombstones",
      _.convertTombstonesToPositional("t"), kept = "ABC", sidecar = true, lineage = false,
      setup = { cat => import spark.implicits._; cat.deleteKeysMOR("t", Seq(12L).toDF("id")) }),
    Case("compactManifests", "compact-manifests", _.compactManifests("t"), folded = true),
    Case("compactDataFiles", "compact", _.compactDataFiles("t")),
    Case("compactDataFilesSorted", "compact-sorted", _.compactDataFilesSorted("t", Seq("v"))),
    Case("compactDataFilesZOrder", "compact-zorder",
      _.compactDataFilesZOrder("t", Seq("id", "v"), targetFiles = 2)),
    Case("rewritePartitioned", "rewrite-partition",
      _.rewritePartitioned("t", Seq(BucketPartition(2, "id"): PartitionSpec))))

  for (c <- cases) test(s"${c.name} follows the carry and sequence rules") {
    val cat = freshTable(c.lineage)
    c.setup(cat)
    val parent = head(cat)
    val labeled = "ABC".zip(parent.manifests)
    assert(labeled.map(_._2.fileCount) == Seq(2L, 2L, 2L))
    val before = if (c.lineage) rowIds(cat) else Map.empty[Long, Long]
    c.run(cat)
    val child = head(cat)
    assert(child.op == c.op && child.seq == parent.seq + 1, s"${c.name}: ${child.op}")

    val parentPaths = parent.manifests.map(_.path).toSet
    def filesIn(m: ManifestRef): Set[String] = cat.readManifest(m.path).map(_.path).toSet
    val added = child.manifests.filterNot(m => parentPaths(m.path))
    val remanifests = labeled.map { case (l, m) =>
      l -> added.filter(n => n.fileCount > 0 && filesIn(n).subsetOf(filesIn(m)))
    }.toMap
    for ((l, m) <- labeled) {
      if (c.kept.contains(l))
        assert(child.manifests.contains(m), s"${c.name}: untouched $l keeps its path")
      else assert(!child.manifests.exists(_.path == m.path), s"${c.name}: touched $l leaves")
      if (c.remanifested.contains(l)) {
        assert(remanifests(l).size == 1, s"${c.name}: $l re-manifested once")
        val expected = if (c.positional) m.seq else child.seq
        assert(remanifests(l).head.seq == expected,
          s"${c.name}: $l re-manifested at ${remanifests(l).head.seq}, expected $expected")
        assert(filesIn(remanifests(l).head).size == 1, s"${c.name}: $l keeps its one survivor")
      } else assert(remanifests(l).isEmpty, s"${c.name}: emptied or untouched $l is not re-manifested")
    }
    val fresh = added.filterNot(n => remanifests.values.exists(_.contains(n)))
    val freshSeq = if (c.folded) parent.manifests.map(_.seq).max else child.seq
    assert(fresh.forall(_.seq == freshSeq), s"${c.name}: fresh manifests at $freshSeq")

    val newDeletes = child.deleteManifests.filterNot(parent.deleteManifests.contains)
    assert(newDeletes.nonEmpty == c.sidecar, s"${c.name}: sidecar written")
    assert(newDeletes.forall(d => d.posDelete && d.seq == child.seq),
      s"${c.name}: a sidecar carries the commit's sequence")

    if (c.lineage) {
      val after = rowIds(cat)
      val kept = before.keySet -- c.touched
      assert(kept.forall(id => after.get(id) == before.get(id)),
        s"${c.name}: untouched rows keep their row ids")
      assert(after.values.toSet.size == after.size, s"${c.name}: row ids stay unique")
    }
  }

  test("a delete-only applyCdcMOR batch leaves no unreferenced parquet file") {
    val cat = new BranchCatalog(spark, Files.createTempDirectory("rw-cdc").toString)
    def batch(df: DataFrame, change: String): DataFrame =
      df.withColumn("_change_type", lit(change))
    // the backfill epoch writes no tombstone keys, the next batch no inserts
    cat.applyCdcMOR("t", batch(rows(0, 10), "insert"), Seq("id"))
    cat.applyCdcMOR("t", batch(rows(3, 5), "delete"), Seq("id"))
    assert(cat.scan("t").count() == 8)

    val snap = head(cat)
    val referenced = (cat.filesOf(snap) ++ cat.filesOf(snap.copy(manifests = snap.deleteManifests)))
      .map(f => new org.apache.hadoop.fs.Path(f.path).toUri.getPath).toSet
    val dataDir = new org.apache.hadoop.fs.Path(cat.root, "tables/t/data")
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = scala.collection.mutable.Buffer.empty[String]
    val it = fs.listFiles(dataDir, true)
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet")) onDisk += p.toUri.getPath
    }
    assert(onDisk.nonEmpty && onDisk.toSet == referenced,
      s"unreferenced parquet files: ${onDisk.toSet -- referenced}")
  }
}
