package graft.wap

import java.nio.file.Files

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpecBase

/** Catalog-planned reads go through [[BranchCatalog.readFiles]]: a
  * [[ManifestFileIndex]] serves the planned files from manifest data, so
  * building a scan never lists, stats or launches a listing job, and the
  * rows (with their `_metadata` positions) are exactly what Spark's own
  * path-based parquet read returns for the same files. */
class ManifestReadSpec extends SparkSpecBase {

  private def freshCat(): BranchCatalog =
    new BranchCatalog(spark, Files.createTempDirectory("manifest-read").toString)

  private def rows(lo: Long, hi: Long, parts: Int): DataFrame =
    spark.range(lo, hi).repartition(parts)
      .select(col("id"), (col("id") % 7).as("k"), concat(lit("s"), col("id")).as("s"))

  /** A table of `appends` commits of `filesPer` files each. */
  private def table(cat: BranchCatalog, appends: Int, filesPer: Int): Unit = {
    cat.createTableIfNotExists("t", rows(0, 1, 1).schema)
    (0 until appends).foreach(i => cat.append("t", rows(i * 100L, i * 100L + 100L, filesPer)))
  }

  private def localFile(path: String): java.io.File =
    new java.io.File(new org.apache.hadoop.fs.Path(path).toUri.getPath)

  private def headFiles(cat: BranchCatalog): Seq[DataFileMeta] =
    cat.filesOf(cat.snapshotMeta("t", cat.snapshotIdOf("t").get).copy(deleteManifests = Nil))

  private def relations(df: DataFrame): Seq[HadoopFsRelation] =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r }

  private def withPositions(df: DataFrame): Set[Row] =
    df.select(col("*"), col("_metadata.file_path"), col("_metadata.row_index"),
        input_file_name())
      .collect().toSet

  private def sameAsPathRead(cat: BranchCatalog, files: Seq[DataFileMeta],
      scanned: DataFrame): Unit = {
    val snap = cat.snapshotMeta("t", cat.snapshotIdOf("t").get)
    val schema = BranchCatalog.readSchema(StructType.fromDDL(snap.schemaDdl), snap.evo)
    val byPath = spark.read.schema(schema).parquet(files.map(_.path): _*)
    assert(scanned.schema == byPath.schema)
    assert(withPositions(scanned) == withPositions(byPath))
    val rel = relations(scanned)
    assert(rel.size == 1 && rel.head.location.isInstanceOf[ManifestFileIndex])
    assert(rel.head.sizeInBytes == files.map(_.bytes).sum)
    assert(scanned.inputFiles.sorted.toSeq == byPath.inputFiles.sorted.toSeq)
  }

  test("scan over more than 32 files plans with no Spark job and reads what a path read reads") {
    val cat = freshCat()
    table(cat, appends = 10, filesPer = 4)
    val files = headFiles(cat)
    assert(files.size > 32)
    val (scanned, jobs) = jobsDuring(cat.scan("t"))
    assert(jobs == 0, s"building the scan ran $jobs Spark job(s)")
    sameAsPathRead(cat, files, scanned)
    val (snapScan, snapJobs) = jobsDuring(cat.scanSnapshot("t", cat.snapshotIdOf("t").get))
    assert(snapJobs == 0)
    assert(snapScan.count() == 1000L)
  }

  test("a 1-file snapshot reads through the manifest index too") {
    val cat = freshCat()
    table(cat, appends = 1, filesPer = 1)
    val files = headFiles(cat)
    assert(files.size == 1)
    val (scanned, jobs) = jobsDuring(cat.scan("t"))
    assert(jobs == 0)
    sameAsPathRead(cat, files, scanned)
  }

  test("a position-delete snapshot plans with no Spark job; data and sidecars are manifest-served") {
    val cat = freshCat()
    table(cat, appends = 10, filesPer = 4)
    val dataFiles = headFiles(cat)
    val r = cat.deleteWherePositional("t", col("id") % 10 === 3)
    assert(r.rowsDeleted == 100L && r.filesRewritten == 0L)
    val snap = cat.snapshotMeta("t", cat.snapshotIdOf("t").get)
    assert(snap.deleteManifests.nonEmpty && snap.deleteManifests.forall(_.posDelete))
    val sidecars = snap.deleteManifests.flatMap(m => cat.readManifest(m.path))

    val (scanned, jobs) = jobsDuring(cat.scan("t"))
    assert(jobs == 0, s"building the scan ran $jobs Spark job(s)")
    val schema = StructType.fromDDL(snap.schemaDdl)
    val want = spark.read.schema(schema).parquet(dataFiles.map(_.path): _*)
      .filter(col("id") % 10 =!= 3)
    assert(scanned.collect().toSet == want.collect().toSet)
    assert(scanned.count() == 900L)
    // one relation over the data files, one over the sidecars
    val sizes = relations(scanned).map { rel =>
      assert(rel.location.isInstanceOf[ManifestFileIndex])
      rel.sizeInBytes
    }.toSet
    assert(sizes == Set(dataFiles.map(_.bytes).sum, sidecars.map(_.bytes).sum))
  }

  test("a data file deleted under a live snapshot fails when the query runs, naming the file") {
    val cat = freshCat()
    table(cat, appends = 2, filesPer = 2)
    val gone = headFiles(cat).head
    assert(localFile(gone.path).delete())
    val scanned = cat.scan("t") // building reads manifests only
    val e = intercept[Exception](scanned.collect())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    val conditions = causes.collect { case t: SparkThrowable => Option(t.getCondition) }.flatten
    assert(conditions.contains("FAILED_READ_FILE.FILE_NOT_EXIST"), conditions)
    val name = localFile(gone.path).getName
    assert(causes.exists(t => Option(t.getMessage).exists(_.contains(name))))
  }

  test("entries without a recorded size fall back to one status call each; mtime is not served") {
    val cat = freshCat()
    table(cat, appends = 2, filesPer = 2)
    val files = headFiles(cat)
    val onDisk = files.map(f => localFile(f.path).length())
    assert(files.map(_.bytes) == onDisk)
    val schema = StructType.fromDDL(cat.snapshotMeta("t", cat.snapshotIdOf("t").get).schemaDdl)
    val legacy = cat.readFiles(schema, files.map(f => f.path -> 0L))
    assert(relations(legacy).head.sizeInBytes == onDisk.sum)
    assert(legacy.count() == 200L)
    // manifests record no modification time, so the index serves none
    assert(legacy.select(col("_metadata.file_modification_time").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("filesOf over more than 4 manifests keeps manifest order and surfaces I/O errors as themselves") {
    val cat = freshCat()
    table(cat, appends = 7, filesPer = 2)
    val snap = cat.snapshotMeta("t", cat.snapshotIdOf("t").get)
    assert(snap.manifests.size > 4)
    assert(cat.filesOf(snap) == snap.manifests.flatMap(m => cat.readManifest(m.path)))
    val victim = snap.manifests(3).path
    assert(localFile(victim).delete())
    val e = intercept[Throwable](cat.filesOf(snap))
    assert(e.isInstanceOf[java.io.IOException], s"got $e")
    assert(!e.isInstanceOf[java.util.concurrent.TimeoutException])
  }
}
