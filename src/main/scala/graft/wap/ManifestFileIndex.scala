package graft.wap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** The file list of one catalog-planned read ([[BranchCatalog.readFiles]]),
  * served to Spark's parquet scan from manifest data alone: no listing,
  * no existence check, no status call. `files` holds each planned file's
  * qualified path (the form its filesystem's listing returns, so
  * `_metadata.file_path` and `input_file_name()` read as they would after
  * a listing) and its byte length from the manifest entry.
  *
  * The statuses carry no modification time and no block locations:
  * `_metadata.file_modification_time` reads as the epoch, and every split
  * is scheduled without locality preferences (local disks and object
  * stores report none anyway; on HDFS, tasks no longer prefer the nodes
  * holding a file's blocks). A planned file deleted under a live
  * snapshot fails when the scan opens it (`FAILED_READ_FILE
  * .FILE_NOT_EXIST`), not when the DataFrame is built.
  *
  * Equality is by file list, so two reads of the same planned files are
  * the same relation (Spark's cache lookup relies on that). */
final case class ManifestFileIndex(files: Seq[(Path, Long)]) extends FileIndex {
  private lazy val statuses: Seq[FileStatusWithMetadata] = files.map { case (p, len) =>
    FileStatusWithMetadata(new FileStatus(len, false, 0, 0L, 0L, p))
  }

  override def rootPaths: Seq[Path] = files.map(_._1)

  override def listFiles(
      partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, statuses))

  override def inputFiles: Array[String] = files.map(_._1.toUri.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_._2).sum

  override def partitionSchema: StructType = new StructType()
}
