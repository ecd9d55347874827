package graft.operators

import graft.wap.BranchCatalog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Shared plumbing for the foreign-engine INDEX exports
  * ([[VectorIndex.exportIndex]], [[DedupIndex.exportIndex]]): the
  * catalog's export writer keyed on `index-manifest.json`, so the two
  * exports cannot drift — and so a mistyped dest cannot silently clobber
  * someone else's directory (the same stance as
  * [[graft.wap.BranchCatalog.exportSnapshot]]'s manifest.json guard). */
private[operators] object IndexExport {

  val ManifestName = "index-manifest.json"

  /** Refuse a dest that exists, is non-empty, and is not a prior index
    * export; CLEAR a prior export so a re-export (or an export of a
    * different index kind) never leaves mixed artifacts under one
    * manifest. Call BEFORE the first sub-export writes anything — the
    * same delete-then-write stance as
    * [[graft.wap.BranchCatalog.exportSnapshot]]. */
  def requireFreshOrPrior(spark: SparkSession, dest: String): Unit = {
    val p = new Path(dest)
    BranchCatalog.clearExportDest(p.getFileSystem(spark.sparkContext.hadoopConfiguration),
      p, ManifestName,
      s"index-export dest $dest exists, is non-empty and is not a prior " +
        s"index export (no $ManifestName) — refusing to overwrite; pick an empty dest")
  }

  /** Write a small text artifact under `dest`, creating parents. */
  def emit(spark: SparkSession, dest: String, name: String, content: String): String = {
    val p = new Path(dest)
    BranchCatalog.emitExport(p.getFileSystem(spark.sparkContext.hadoopConfiguration),
      p, name, content)
  }
}
