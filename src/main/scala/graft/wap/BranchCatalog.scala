package graft.wap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.Serialization
import java.nio.charset.StandardCharsets
import java.util.UUID
import scala.jdk.CollectionConverters._

/** A parquet data file owned by a manifest. Row count and per-column
  * min/max/null-count stats come from the parquet footer (no data read);
  * stats values are stored as strings and re-typed against the table
  * schema at prune time. */
case class DataFileMeta(
    path: String,
    rows: Long,
    lower: Map[String, String] = Map.empty,
    upper: Map[String, String] = Map.empty,
    nullCounts: Map[String, Long] = Map.empty,
    /** Hidden-partitioning transform value ("pv" -> value) when the file
      * was written by [[BranchCatalog.appendPartitioned]]; empty for
      * unpartitioned files (which partition pruning then never skips). */
    partition: Map[String, String] = Map.empty,
    /** File size in bytes, from the status the writing task takes of the
      * file it just closed (an import's from the file's own status); 0 in
      * pre-r8 metadata. Streaming reads and byte-aware planning use it; a
      * 0 falls back to a getFileStatus call. */
    bytes: Long = 0L,
    /** Row-lineage entry OFFSET within the manifest (W73): the running
      * sum of earlier entries' row counts, written by [[BranchCatalog
      * .writeManifest]] so a file's id base = `ManifestRef.firstRowId` +
      * this. Manifest FOLDING rewrites entries with their ABSOLUTE base
      * here (the folded ref's firstRowId is then 0), so folding never
      * moves a row's id. -1 = pre-lineage manifest entry (enableRowLineage
      * rewrites them). */
    firstRowId: Long = -1L,
    /** True for files IMPORTED by [[BranchCatalog.addDataFiles]]: their
      * footer bounds may be TRUNCATED by a foreign writer
      * (parquet.statistics.truncate.length widens binary min/max), so
      * they are sound for pruning (conservative) but NOT for serving
      * exact MIN/MAX. [[BranchCatalog.writeManifest]] demotes any
      * manifest holding such a file to statsV=1 — pruned, never served.
      * The flag follows the file through kept-file manifests, folds and
      * subset carries; a compaction REWRITE replaces the file with a
      * graft-written one and the flag drops with it. */
    inexact: Boolean = false)

/** One immutable manifest file: the unit of commit. An append writes
  * exactly one manifest (listing only ITS files), so commit metadata cost
  * is O(files-per-commit) — never O(table). Iceberg's manifest-list
  * structure, minus the avro.
  *
  * `seq` is the table's commit sequence number at the manifest's commit
  * (Iceberg data-sequence-number semantics): a DELETE manifest
  * ([[BranchCatalog.deleteKeysMOR]]) with sequence S covers exactly the
  * data manifests with sequence < S, so rows appended AFTER the delete
  * are visible again — and the relation SURVIVES manifest folding
  * ([[BranchCatalog.compactManifests]] stamps each folded manifest with
  * its group's max member sequence, which preserves every `m.seq < d.seq`
  * comparison). `asOf` (the delete's anchor snapshot id) and `keyCols`
  * (the tombstone's equality-key columns) are set on DELETE manifests
  * only; `asOf` remains the coverage fallback for pre-r8 metadata whose
  * tombstones carry no sequence (json4s fills the defaults).
  *
  * The defaults are part of the on-disk format: a snapshot document
  * leaves out every field equal to its default
  * ([[BranchCatalog.snapshotJson]]), so changing one changes what every
  * snapshot written since means. The document is stored gzip-compressed
  * ([[BranchCatalog.snapshotBytes]]); plain documents written before
  * that still load ([[BranchCatalog.parseSnapshot]]). */
case class ManifestRef(path: String, fileCount: Long, rows: Long,
    asOf: Option[String] = None,
    seq: Long = 0L,
    keyCols: Seq[String] = Nil,
    /** Byte sum of the manifest's files (0 for pre-r10 metadata): lets
      * planner `sizeInBytes` come from O(manifests) ref sums instead of
      * a driver read of every manifest entry — a 100 TB table reports a
      * real size (CBO/AQE/broadcast decisions) at metadata cost. */
    bytes: Long = 0L,
    /** Per-column null-count sums of the manifest's files (empty for
      * pre-r10 metadata): the same O(manifests) serving for planner
      * `columnStats.nullCount`. r11: COVERAGE-AWARE — a column appears
      * only when EVERY file with rows holds its null count, so the sum
      * is exact, never a silent undercount (metadata-only COUNT(col)
      * depends on that). */
    nullCounts: Map[String, Long] = Map.empty,
    /** Per-column min/max bounds folded over the manifest's files (empty
      * for pre-r11 metadata), canonical stat strings typed against the
      * table schema at read time like [[DataFileMeta.lower]]. Coverage-
      * aware: a column appears only when every file with rows carries
      * its bound OR is provably all-null for it (`nullCounts(c) ==
      * rows`) — so a present bound is the EXACT min/max of the
      * manifest's non-null values, and metadata-only MIN/MAX aggregates
      * (plus O(manifests) planner range stats) can trust it. */
    lower: Map[String, String] = Map.empty,
    upper: Map[String, String] = Map.empty,
    /** Manifest-stats format version: 0 = pre-r11 (nullCounts may be a
      * partial union — usable as a planner hint, never as an exact
      * value), 2 = coverage-aware nullCounts + lower/upper as above.
      * Exact-value consumers ([[BranchCatalog.metaAggregate]]) require
      * >= 2. Survives `.copy(seq = ...)` restamping by construction. */
    statsV: Int = 0,
    /** Partition-value summaries (r13 — the Iceberg manifest-list
      * partition-summary tier): min/max transform value per pv key over
      * the manifest's files, coverage-aware (a key appears only when
      * EVERY live file carries it, so the bounds are exact). Ordered
      * transforms (day/month/hour/truncate — lexicographic order IS
      * domain order) prune whole manifests on aligned predicates before
      * any entry is read; bucket values are unordered, so their bounds
      * are recorded but never range-pruned on. Empty for pre-r13
      * manifests (json4s default — always kept, sound). */
    pvLower: Map[String, String] = Map.empty,
    pvUpper: Map[String, String] = Map.empty,
    /** True on POSITION-delete manifests ([[BranchCatalog
      * .deleteWherePositional]] — Iceberg v2 position deletes / Delta
      * deletion vectors, re-expressed as parquet sidecars): the
      * manifest's files hold `(__graft_path STRING, __graft_pos BIGINT)`
      * rows naming exact (data file, row index) pairs to suppress,
      * instead of equality-key rows. `keyCols` then records the two
      * sidecar column names (never table columns). False/absent on
      * data manifests and equality tombstones (json4s default). */
    posDelete: Boolean = false,
    /** ROW-LINEAGE base (W73 — Iceberg v3 row tracking): the first row
      * id of this manifest's id range. A file's base = `firstRowId` +
      * the file's entry offset ([[DataFileMeta.firstRowId]]); a row's
      * stable `_row_id` = file base + its position in the file, unless
      * the file MATERIALIZED a physical `__graft_row_id` (rewrite
      * outputs carry their rows' original ids; NULL entries there fall
      * back to base + position, which is how inserted rows in a mixed
      * rewrite get fresh ids — the Iceberg v3 null-means-assign rule).
      * Assigned at COMMIT time from the parent snapshot's
      * [[Snapshot.lin]] high-water mark (retry-safe: the refs-commit
      * closure restamps on a lost race); -1 = assigned before lineage
      * was enabled (unreadable as lineage — `enableRowLineage` rewrites
      * such manifests). Ranges may contain gaps (a carried row still
      * consumes base + position); ids are unique and stable, never
      * dense. */
    firstRowId: Long = -1L)

/** Column-identity state of one snapshot (W58 — rename support without
  * rewriting data): every column of a post-r12 table carries a STABLE
  * parquet field id, written into each data file's footer and attached
  * to every read schema, so Spark's reader resolves columns BY ID — a
  * rename is then one metadata commit (same id, new name) and files
  * written under the old name keep serving the column (the Iceberg
  * field-id mechanism, through Spark's native
  * `spark.sql.parquet.fieldId.*` support). */
case class SchemaEvo(
    /** Current column name -> field id. Empty for pre-r12 tables (their
      * files carry no ids, and an id-ed read schema would NULL them —
      * rename refuses instead). */
    fieldIds: Map[String, Int] = Map.empty,
    /** High-water mark of ids ever assigned on this lineage: a re-added
      * column NEVER reuses a dropped column's id (an old file's dropped
      * data must not resurrect under the new column). */
    fieldIdSeq: Int = 0,
    /** True once a rename happened while files written under the old
      * name may still be referenced; cleared only by full-rewrite
      * commits (every file then carries current names). Foreign-engine
      * export refuses while set (external readers match by NAME). */
    renamedFiles: Boolean = false,
    /** True while files IMPORTED by [[BranchCatalog.addDataFiles]] may
      * still be referenced: imported files carry no graft field ids, so
      * every read of the table resolves columns BY NAME (the id-attached
      * read schema would error or NULL them — the hazard the rename spec
      * pins). Sound because import refuses while [[renamedFiles]] is set
      * and verifies each file's schema, so every live file carries
      * current names. [[BranchCatalog.renameColumn]] refuses while set;
      * cleared by full-rewrite commits (which stamp ids everywhere),
      * re-enabling renames. False for every pre-import table (json4s
      * default). */
    idlessFiles: Boolean = false,
    /** INITIAL defaults (Iceberg v3 `initial-default`, r13): the value a
      * read serves for this column from files written BEFORE the column
      * was added — instead of NULL. Set ONLY by `ADD COLUMN ... DEFAULT`
      * and immutable afterwards (changing it would rewrite history).
      * Applied per FILE through Spark's native `EXISTS_DEFAULT`
      * StructField metadata: a file physically lacking the column fills
      * the default; a post-add file that wrote an explicit NULL stays
      * NULL. [[ColDefault.addSeq]] records the add commit's sequence, so
      * consumers that need physical truth (foreign-engine export) can
      * tell precisely whether default-backed files remain. */
    initDefaults: Map[String, ColDefault] = Map.empty,
    /** WRITE defaults (SQL `DEFAULT` / Iceberg v3 `write-default`): the
      * value filled in when a WRITER omits the column — at `ADD COLUMN
      * ... DEFAULT` it starts equal to the initial default, and `ALTER
      * COLUMN ... SET/DROP DEFAULT` changes it for FUTURE writes only
      * (already-written rows are untouched; the initial default never
      * moves). Canonical SQL literal text, ridden into SQL INSERTs as
      * `CURRENT_DEFAULT` column metadata and into the Scala write paths
      * by `alignToSchema`. */
    writeDefaults: Map[String, String] = Map.empty,
    /** GENERATED ALWAYS AS expressions (Delta generated columns, r14):
      * column -> generation SQL over the row's OTHER (non-generated)
      * columns. A writer omitting the column gets it COMPUTED; a writer
      * providing it is VALIDATED row-level (null-safe equality with the
      * computed value — a mismatch fails the write before any commit),
      * both in `alignToSchema`, the choke point every row-writing
      * surface flows through. Set only at CREATE TABLE; dropping or
      * renaming a column on either side of a generation refuses. Empty
      * for pre-r14 tables (json4s default). */
    generated: Map[String, String] = Map.empty) {
  def addColumn(name: String): SchemaEvo =
    if (fieldIds.isEmpty) this // pre-field-id table stays id-less
    else copy(fieldIds = fieldIds.updated(name, fieldIdSeq + 1), fieldIdSeq = fieldIdSeq + 1)
  def dropColumn(name: String): SchemaEvo =
    copy(fieldIds = fieldIds - name, initDefaults = initDefaults - name,
      writeDefaults = writeDefaults - name, generated = generated - name)
  def rename(from: String, to: String): SchemaEvo =
    copy(fieldIds = fieldIds - from + (to -> fieldIds(from)), renamedFiles = true,
      initDefaults = initDefaults.get(from)
        .map(d => initDefaults - from + (to -> d)).getOrElse(initDefaults),
      writeDefaults = writeDefaults.get(from)
        .map(d => writeDefaults - from + (to -> d)).getOrElse(writeDefaults))
  def afterFullRewrite: SchemaEvo = copy(renamedFiles = false, idlessFiles = false)
  /** ADD COLUMN with a default: both tiers start at the same literal. */
  def withAddDefault(name: String, sql: String, addSeq: Long): SchemaEvo =
    copy(initDefaults = initDefaults.updated(name, ColDefault(sql, addSeq)),
      writeDefaults = writeDefaults.updated(name, sql))
  /** SET/DROP DEFAULT: write tier only — the initial default is pinned. */
  def withWriteDefault(name: String, sql: Option[String]): SchemaEvo =
    copy(writeDefaults = sql match {
      case Some(s) => writeDefaults.updated(name, s)
      case None => writeDefaults - name
    })
}

/** One column's initial default: the canonical SQL literal plus the
  * commit sequence of the ADD — every manifest with `seq < addSeq` holds
  * files written before the column existed (sequence-carried through
  * rewrites), which is exactly the set the default backs. */
case class ColDefault(sql: String, addSeq: Long)

object SchemaEvo {
  /** Fresh table: ids 1..n in schema order. */
  def forSchema(schema: StructType): SchemaEvo =
    SchemaEvo(schema.fieldNames.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap,
      schema.fields.length)
}

/** An immutable table version: the list of manifests (not files) plus the
  * schema DDL. Snapshots never share mutable state — a branch is just a
  * pointer, so branching is zero-copy (reference: Nessie's git-like
  * semantics, app.py:160-176). */
case class Snapshot(
    id: String,
    parentId: Option[String],
    manifests: Seq[ManifestRef],
    schemaDdl: String,
    committedAtMillis: Long,
    /** Serialized [[PartitionSpec]] ("day(ts)", "bucket(16,id)") when the
      * table is hidden-partitioned; scans align predicates against it
      * before consulting footer stats. */
    partitionSpec: Option[String] = None,
    /** Merge-on-read key tombstones ([[BranchCatalog.deleteKeysMOR]]):
      * manifests of parquet files whose columns are the equality-delete
      * key; scans anti-join them row-level. Empty for copy-on-write-only
      * tables (and absent in pre-r7 snapshot JSON — json4s fills the
      * default). */
    deleteManifests: Seq[ManifestRef] = Nil,
    /** Commit sequence on this table's lineage: parent.seq + 1 (a merge
      * takes max over both parents + 1, so it stays monotone along every
      * ancestry). Tombstone coverage compares manifest sequences against
      * it — see [[ManifestRef]]. 0 in pre-r8 metadata. */
    seq: Long = 0L,
    /** Columns this snapshot's files are GLOBALLY sorted on (range-
      * disjoint files in manifest order, rows sorted within each) — set
      * ONLY by the unpartitioned [[BranchCatalog.compactDataFilesSorted]]
      * rewrite, whose repartitionByRange layout guarantees it. The
      * commit kernel ([[BranchCatalog]]'s `childOf`) clears it on every
      * other child, so any later append/DML conservatively drops it
      * ([[BranchCatalog.renameColumn]] renames it, [[BranchCatalog
      * .enableRowLineage]] keeps it — neither moves data). Consumers: the
      * connector's ORDER BY ... LIMIT (top-k) pushdown plans only the
      * covering file prefix/suffix. */
    sortOrder: Seq[String] = Nil,
    /** Columns every PARTITION VALUE's single data file is sorted on —
      * set ONLY by the partitioned [[BranchCatalog.compactDataFilesSorted]]
      * rewrite (one sorted file per transform value by construction);
      * like [[sortOrder]], any later commit conservatively clears it.
      * Consumer: the connector's keyed (storage-partitioned) scan
      * reports per-partition ordering ([[graft.sql.GraftBatchScan]]
      * `outputOrdering`), so co-bucketed sort-compacted tables
      * sort-merge join with neither a shuffle NOR a sort on either
      * side — the fully pipelined 100 TB fact-fact join. */
    sortWithinPartitions: Seq[String] = Nil,
    /** Column-identity state ([[SchemaEvo]]) — carried through EVERY
      * commit like the schema DDL (default = pre-r12 id-less table;
      * json4s fills it for old metadata). */
    evo: SchemaEvo = SchemaEvo(),
    /** What KIND of commit produced this snapshot (the Iceberg snapshot
      * `operation` field, r13): the [[SnapshotOp.name]] of one of the
      * declared [[SnapshotOp]]s. The CDC stream
      * ([[graft.sql.GraftCdcMicroBatchStream]]) keys on
      * [[SnapshotOp.contentNeutral]] to skip logically-silent rewrites;
      * `""` (pre-r13 metadata — json4s default) is conservatively treated
      * as content-changing. Surfaces as `$snapshots.operation`. */
    op: String = "",
    /** Row-lineage state (W73): disabled by default; [[BranchCatalog
      * .enableRowLineage]] turns it on and every later commit advances
      * the high-water mark. The commit kernel carries it from the parent
      * and advances it by the rows of the manifests it stamps. */
    lin: RowLin = RowLin())

/** One declared commit kind: the tag it stamps on [[Snapshot.op]] and
  * whether it is CONTENT-NEUTRAL — its LOGICAL table content (the scan
  * output) is provably identical to its parent's: data/manifest/sidecar
  * re-layout, tombstone materialization or conversion (the deletes were
  * logical at their OWN commit), and metadata-only schema or layout
  * changes. A CDC reader skips neutral commits. */
final class SnapshotOp private (val name: String, val contentNeutral: Boolean)

/** The op vocabulary: every snapshot a catalog writes carries one of these
  * tags. */
object SnapshotOp {
  private def op(name: String, neutral: Boolean = false) = new SnapshotOp(name, neutral)
  val Create = op("create", neutral = true)
  val Append = op("append")
  val AddFiles = op("add-files")
  val Overwrite = op("overwrite")
  val Replace = op("replace")
  val Delete = op("delete")
  val DeletePos = op("delete-pos")
  val DeleteMor = op("delete-mor")
  val Update = op("update")
  val UpdatePos = op("update-pos")
  val Upsert = op("upsert")
  val UpsertMor = op("upsert-mor")
  val Merge = op("merge")
  val MergePos = op("merge-pos")
  val Publish = op("publish")
  val Cherrypick = op("cherrypick")
  val Schema = op("schema", neutral = true)
  val EvolveSpec = op("evolve-spec", neutral = true)
  val Compact = op("compact", neutral = true)
  val CompactManifests = op("compact-manifests", neutral = true)
  val CompactSorted = op("compact-sorted", neutral = true)
  val CompactZOrder = op("compact-zorder", neutral = true)
  val RewritePartition = op("rewrite-partition", neutral = true)
  val ConvertTombstones = op("convert-tombstones", neutral = true)
  val CompactPosDeletes = op("compact-pos-deletes", neutral = true)

  val all: Seq[SnapshotOp] = Seq(Create, Append, AddFiles, Overwrite, Replace,
    Delete, DeletePos, DeleteMor, Update, UpdatePos, Upsert, UpsertMor, Merge,
    MergePos, Publish, Cherrypick, Schema, EvolveSpec, Compact, CompactManifests,
    CompactSorted, CompactZOrder, RewritePartition, ConvertTombstones,
    CompactPosDeletes)

  /** The tags of the content-neutral ops. */
  val contentNeutral: Set[String] = all.filter(_.contentNeutral).map(_.name).toSet
}

/** Row-lineage state of a snapshot (W73 — Iceberg v3 row tracking):
  * `next` is the catalog-assigned first-row-id high-water mark on this
  * table lineage; every commit that adds data manifests advances it by
  * their TOTAL row count (gaps allowed, ids never reused). */
case class RowLin(enabled: Boolean = false, next: Long = 0L)

/** One global aggregate [[BranchCatalog.metaAggregate]] can answer from
  * snapshot metadata alone. */
sealed trait MetaAgg
object MetaAgg {
  case object CountStar extends MetaAgg
  /** COUNT(column) — non-null rows, from exact null-count sums. */
  final case class CountCol(column: String) extends MetaAgg
  final case class MinCol(column: String) extends MetaAgg
  final case class MaxCol(column: String) extends MetaAgg
  /** SUM(column) over an INTEGRAL column, from per-file sum sidecars
    * (W80 — [[BranchCatalog.ensureSumStats]]): answered only when every
    * live manifest carries a sum sidecar covering the column, and the
    * fold detects overflow and REFUSES — a served value is the exact
    * mathematical sum, identical under ANSI and legacy eval; overflow
    * keeps the scan path's own mode behavior (raise vs wrap). NULL when
    * every row is null (SQL SUM). */
  final case class SumCol(column: String) extends MetaAgg
  /** AVG(column) over an INTEGRAL column: the exact [[SumCol]] divided
    * by the exact [[CountCol]] in one double division — deterministic,
    * unlike a scan's order-dependent double accumulation. */
  final case class AvgCol(column: String) extends MetaAgg
}

/** A branch-versioned SQL view: the query TEXT plus the resolution
  * context it was created under (current catalog/namespace — the view
  * re-analyzes against the session at read time, so a view over a
  * branch table follows that branch's data like any Nessie view). */
case class ViewDef(
    sql: String, currentCatalog: String, currentNamespace: Seq[String],
    schemaDdl: String,
    queryColumnNames: Seq[String] = Nil,
    columnAliases: Seq[String] = Nil,
    columnComments: Seq[String] = Nil,
    properties: Map[String, String] = Map.empty)

/** Catalog state on one branch: table name -> snapshot id, plus the
  * branch's views (absent in pre-r11 refs JSON — json4s fills the
  * default). Branching copies views zero-copy like tables; merge
  * publishes the source branch's view definitions (last writer wins —
  * views are definitions, not data, so there is no 3-way content to
  * reconcile). */
case class BranchState(tables: Map[String, String], baseOfMain: Map[String, String],
    views: Map[String, ViewDef] = Map.empty,
    /** Per-table properties (`write.delete.mode`, user annotations) —
      * branch-versioned like the table pointers: branching copies them
      * zero-copy, merge publishes the source branch's maps (last writer
      * wins — properties are definitions, not data). Absent in pre-r12
      * refs JSON (json4s fills the default). */
    tableProps: Map[String, Map[String, String]] = Map.empty)

/** What one expireSnapshots run reclaimed. */
case class ExpireResult(snapshotsDeleted: Int, manifestsDeleted: Int, dataFilesDeleted: Int)

/** What one removeOrphanFiles run reclaimed. */
case class OrphanResult(filesDeleted: Int, bytesDeleted: Long)

/** What one deleteWhere commit did. Top-level (not nested in the catalog)
  * so results compare equal across catalog instances. `filesDropped` is
  * the METADATA-ONLY tier: files whose footer stats PROVED every row
  * matched the predicate, removed from their manifests without ever being
  * read (Iceberg's metadata delete — dropping a whole day's partition on
  * a 100 TB table is O(manifests), zero data IO). */
case class DeleteResult(
    snapshot: Snapshot, rowsDeleted: Long,
    filesRewritten: Long, filesUntouched: Long,
    filesDropped: Long = 0L)

/** What one addDataFiles import committed (same top-level rationale).
  * `filesPartitionValued` counts imported files whose hidden-partition
  * transform values were PROVEN from footer stats at every layout level
  * (they partition-prune like written files); the rest imported with no
  * transform value — always scanned, never wrongly pruned. */
case class AddFilesResult(
    snapshot: Snapshot, filesAdded: Long, rowsAdded: Long,
    bytesAdded: Long, filesPartitionValued: Long = 0L)

/** What one updateWhere commit did (same top-level rationale). */
case class UpdateResult(
    snapshot: Snapshot, rowsUpdated: Long,
    filesRewritten: Long, filesUntouched: Long)

/** What one upsert commit did (same top-level rationale). */
case class UpsertResult(
    snapshot: Snapshot, rowsReplaced: Long, rowsInserted: Long,
    filesRewritten: Long, filesUntouched: Long)

/** What one conditional MERGE commit did (same top-level rationale).
  * `filesDropped` counts files removed METADATA-ONLY by an unconditional
  * leading `WHEN NOT MATCHED BY SOURCE THEN DELETE` (their rows are in
  * `rowsDeleted`, but no byte of them was read). */
case class MergeIntoResult(
    snapshot: Snapshot, rowsUpdated: Long, rowsDeleted: Long,
    rowsInserted: Long, filesRewritten: Long, filesUntouched: Long,
    filesDropped: Long = 0L)

/** One engine-neutral snapshot export ([[BranchCatalog.exportSnapshot]]):
  * where the artifacts landed and what they cover. `filesDir` is None
  * when the data files are not on a local filesystem (the symlink farm
  * is a local-FS convenience; manifest + view are the portable truth). */
case class ExportedSnapshot(
    dest: String, manifestPath: String, viewPath: String, filesDir: Option[String],
    filesParquet: String, snapshotId: String, fileCount: Long,
    /** Sum of the exported data files' row counts. With pending POSITION
      * sidecars this is the pre-suppression total; the view's anti-join
      * serves the exact live rows. */
    rows: Long,
    /** Pending position-sidecar files exported alongside (0 = clean). */
    deleteFileCount: Long = 0L)

/** The schema of `manifest.json` in an export: everything a FOREIGN
  * engine needs to query the snapshot — absolute data-file paths with
  * per-file row/byte counts AND pruning metadata (column min/max,
  * null counts, hidden-partition transform values), the schema DDL,
  * and the snapshot identity. The stats are what let an external
  * planner skip files a selective predicate cannot match — the same
  * reason Iceberg manifests carry bounds (reference README:174-191:
  * a foreign engine plans from the metadata alone). Deliberately
  * engine-neutral JSON (no graft types leak); stats values are
  * strings re-typed against `schemaDdl` by the consumer, exactly as
  * graft's own scans re-type [[DataFileMeta]]. */
private[wap] case class ExportManifest(
    table: String, snapshotId: String, seq: Long, committedAtMillis: Long,
    schemaDdl: String, partitionSpec: Option[String], files: Seq[ExportFileEntry],
    /** Pending POSITION-delete sidecars ((__graft_path, __graft_pos)
      * parquet): a consumer anti-joins them against (file, row-number) —
      * exactly what view.sql's NOT EXISTS leg does. Empty = clean. */
    deleteFiles: Seq[ExportFileEntry] = Nil)

/** One engine-neutral INCREMENTAL export ([[BranchCatalog.exportChanges]]):
  * a snapshot window's changes for a foreign consumer. */
case class ExportedChanges(
    dest: String, manifestPath: String, viewPath: String,
    fromId: String, toId: String,
    insertFiles: Long, deleteFiles: Long,
    insertRows: Long, deleteRows: Long, materialized: Boolean)

/** `manifest-changes.json`: the window identity plus the insert/delete
  * file entries (transaction form) or the materialized net-changelog
  * location — same engine-neutral conventions as [[ExportManifest]]. */
private[wap] case class ExportChangesManifest(
    table: String, fromId: String, toId: String, fromSeq: Long, toSeq: Long,
    schemaDdl: String, materialized: Boolean,
    inserts: Seq[ExportFileEntry], deletes: Seq[ExportFileEntry],
    changesParquet: Option[String],
    /** r16: the window's NEW position-sidecar files (its in-place
      * deletions) and the carried data files they reference. */
    deleteSidecars: Seq[ExportFileEntry] = Nil,
    carriedDeleteTargets: Seq[ExportFileEntry] = Nil)
private[wap] case class ExportFileEntry(
    path: String, rows: Long, bytes: Long,
    lower: Map[String, String] = Map.empty,
    upper: Map[String, String] = Map.empty,
    nullCounts: Map[String, Long] = Map.empty,
    partition: Map[String, String] = Map.empty)

/** One `WHEN ...` clause of [[BranchCatalog.mergeInto]] (Iceberg/standard
  * MERGE INTO semantics). Conditions and SET expressions see the TARGET
  * row under alias `t` and the SOURCE row under alias `s`
  * (`col("t.n_chars")`, `col("s.payload")`); a None condition always
  * fires. Matched clauses are tried IN ORDER and the first whose
  * condition holds wins (a NULL condition result means "does not fire",
  * SQL semantics); a matched row no clause claims survives unchanged. */
sealed trait MergeClause
object MergeClause {
  import org.apache.spark.sql.Column
  /** WHEN MATCHED [AND cond] THEN UPDATE SET col -> expr, ... */
  case class MatchedUpdate(cond: Option[Column], set: Map[String, Column]) extends MergeClause
  /** WHEN MATCHED [AND cond] THEN DELETE */
  case class MatchedDelete(cond: Option[Column] = None) extends MergeClause
  /** WHEN NOT MATCHED [AND cond] THEN INSERT (the source row, aligned to
    * the table schema). At most one per merge. */
  case class NotMatchedInsert(cond: Option[Column] = None) extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ... — fires on
    * TARGET rows no source row pairs with (SQL:2023 / Iceberg/Delta
    * by-source semantics). Conditions and SET expressions may reference
    * only `t.` columns (there is no source row). */
  case class NotMatchedBySourceUpdate(cond: Option[Column], set: Map[String, Column]) extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE. When this is the
    * FIRST by-source clause and unconditional, files provably holding no
    * source key drop METADATA-ONLY (never read) — the "sync target to
    * source" fast path. */
  case class NotMatchedBySourceDelete(cond: Option[Column] = None) extends MergeClause
}

/** One equality-delete group of one MOR coverage epoch, as the connector
  * batch scan plans it ([[BranchCatalog.plannedMorEpochs]]): the key
  * column names, the tombstone parquet files, and the delete files'
  * schema DDL (the key schema itself for modern tombstones). */
case class MorDeleteGroupPlan(
    keyCols: Seq[String], files: Seq[(String, Long)], fileSchemaDdl: String,
    /** True for position-delete sidecar groups ([[BranchCatalog
      * .deleteWherePositional]]): `files` hold (path, row-index) pairs
      * and the reader suppresses by physical position instead of
      * anti-probing key values. */
    positional: Boolean = false)

/** The root refs document, versioned. Version N+1 is committed with an
  * atomic create-if-absent, giving optimistic concurrency (reference
  * relies on Nessie's commit protocol for this). */
case class Refs(version: Long, branches: Map[String, BranchState],
    /** Streaming-sink delivery record: `"<queryId>/<table>" -> highest
      * published epoch`. Stamped INSIDE the same refs swap that publishes
      * the epoch's data ([[BranchCatalog.append]] / [[BranchCatalog.merge]]
      * `epochStamp`), so "did this epoch commit?" and "is its data
      * visible?" are one atomic fact — the exactly-once backbone of
      * [[graft.sql.GraftStreamingWrite]]. One ~50-byte entry per stream
      * query lifetime (epochs within a query overwrite via max). */
    streamEpochs: Map[String, Long] = Map.empty,
    /** IMMUTABLE named refs (Nessie/Iceberg tags): tag -> (table ->
      * snapshot id), frozen at [[BranchCatalog.createTag]] time. Unlike a
      * branch a tag never advances — no append/DML/merge path accepts
      * one — so it is a durable audit point ("the data release we
      * trained v3 on") that [[BranchCatalog.expireSnapshots]] keeps
      * readable forever at zero storage cost beyond the files it pins.
      * Absent in pre-r11 refs JSON (json4s fills the default). */
    tags: Map[String, Map[String, String]] = Map.empty,
    /** Tag -> creation epoch millis (r14, for age-based tag retention —
      * Iceberg `max-ref-age-ms`). Pre-r14 tags have no stamp and are
      * NEVER age-expired (conservative; json4s fills the default). */
    tagCreatedAt: Map[String, Long] = Map.empty,
    /** Branch -> creation epoch millis (r15, the branch analogue for
      * [[BranchCatalog.expireBranches]]). Pre-stamp branches are NEVER
      * age-expired (conservative; json4s fills the default). */
    branchCreatedAt: Map[String, Long] = Map.empty,
    /** Table name -> PHYSICAL directory key, recorded by
      * [[BranchCatalog.renameTable]]. A table keeps its CREATE-time
      * directory for life: snapshots, manifests and data files embed
      * absolute paths, so a rename is one pointer swap here and every
      * path construction resolves through this map (identity when
      * absent). Global, not per-branch — the directory namespace is
      * shared by all branches (two branches holding the same table name
      * already share one directory today). Absent in pre-r13 refs JSON
      * (json4s fills the default). */
    tableDirs: Map[String, String] = Map.empty,
    /** GLOBAL per-table row-id high-water marks (W73 — the analog of
      * Iceberg v3's table-metadata `next-row-id`), keyed by PHYSICAL
      * directory so every branch of a table allocates from ONE counter
      * inside the same refs swap that publishes the commit. That is what
      * makes row ids unique across branches: a branch append and a main
      * append racing since the fork get disjoint ranges, so [[BranchCatalog
      * .merge]] publishes manifests VERBATIM — ids assigned on a branch
      * survive publication unchanged (the WAP contract extended to row
      * identity). One ~30-byte entry per lineage-enabled table. */
    rowIds: Map[String, Long] = Map.empty)

/** Git-like branch-versioned table catalog over parquet + JSON metadata —
  * the Spark-native re-expression of the reference's Nessie+PyIceberg
  * layer (reference app.py:244-317).
  *
  * Layout under `root`:
  * {{{
  *   refs-<version>.json                      // branches -> {table -> snapshot}
  *   tables/<t>/meta/snap-<id>.json           // immutable snapshot: manifest list
  *   tables/<t>/meta/manifest-<uuid>.json     // immutable manifest: file list + stats
  *   tables/<t>/data/<commit-uuid>/part-N.parquet
  * }}}
  *
  * Scale notes: all file IO goes through the Hadoop FileSystem API.
  * Commit metadata is O(files-per-commit): an append writes one manifest +
  * one snapshot whose manifest list grows by one entry (compaction can
  * later fold manifests). Reads resolve branch -> snapshot -> manifests ->
  * file list, prune files against footer min/max stats when a predicate is
  * supplied (the file-level analogue of the reference's pushed-down
  * `scan(row_filter=...)`, app.py:220-223), and hand Spark a plain parquet
  * scan so Catalyst still pushes filters/projections into the columnar
  * reader.
  *
  * Concurrency: the refs commit goes through the pluggable [[RefsStore]]
  * seam. The default backend uses filesystem atomic create-if-absent
  * (holds on HDFS, local, abfs); S3-style object stores plug in a
  * [[ConditionalPutRefsStore]] whose commit is one conditional put
  * (`If-None-Match: *`). The reference delegates exactly this role to
  * Nessie's commit protocol.
  */
class BranchCatalog(
    spark: SparkSession, val root: String,
    /** Above this many data files in a snapshot, scan planning reads
      * manifests and prunes stats as a SPARK JOB instead of on the
      * driver; only the surviving file paths ever reach the driver (the
      * irreducible minimum any Spark file scan plans from). Below it the
      * driver path is cheaper (no job-launch latency) — the same tiering
      * Iceberg applies via its distributed planning threshold. */
    val distributedMetaThreshold: Long = 100000L,
    /** MOR commits ([[deleteKeysMOR]]/[[upsertKeysMOR]]) REFUSE once this
      * many tombstone manifests are pending, with a "compact first" error:
      * every pending tombstone generation adds a union branch + anti-join
      * to each scan's plan, so a compaction-averse workload would
      * otherwise grow the plan without bound. [[compactDataFiles]] (and
      * the sorted/z-order variants) materialize tombstones and reset the
      * count; streaming ingest's `compactEvery` does this automatically. */
    val maxPendingTombstones: Int = 64,
    /** Backend for the refs pointer — the one contended commit object.
      * Default: filesystem atomic create-if-absent (local/HDFS/abfs).
      * For S3-style stores, pass a [[ConditionalPutRefsStore]] so the
      * commit maps to a conditional put (If-None-Match) instead. */
    refsBackend: Option[RefsStore] = None) {
  import BranchCatalog.{Arm, Change, PartStats, Picked, clearExportDest, defaultResidue,
    emitExport, existsOver, exportEntry, linkFarm, plain, posMatch, readParquet, sqlString}
  private implicit val fmts: Formats = DefaultFormats
  private val rootPath = new Path(root)
  // resolved once per instance: getFileSystem consults the Hadoop
  // FileSystem cache on every call (conf hashing + map lookup), and the
  // commit machinery touches `fs` dozens of times per commit
  private lazy val fs: FileSystem =
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val refsStore: RefsStore = refsBackend.getOrElse(new RefsStore {
    override def listVersions(): Seq[Long] = {
      if (!fs.exists(rootPath)) return Seq.empty
      fs.listStatus(rootPath).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith("refs-") && n.endsWith(".json"))
        .map(n => n.stripPrefix("refs-").stripSuffix(".json").toLong)
    }
    override def read(version: Long): String = readString(refsPath(version))
    override def commit(version: Long, content: String): Boolean =
      writeString(refsPath(version), content)
  })

  /** Count of manifests parsed ON THE DRIVER — observability for tests
    * asserting that large-table scans never materialize per-file
    * metadata driver-side. (Atomic: filesOf parses concurrently.) */
  private[wap] val driverManifestReads = new java.util.concurrent.atomic.AtomicLong(0L)

  // ---- low-level JSON IO ------------------------------------------------

  /** Atomic create-if-absent with the FULL content visible the instant
    * the file exists: write a temp file, then hard-link (local; atomic
    * O_EXCL semantics) or rename (HDFS/abfs; atomic, fails when the
    * destination exists) into place. Creating the target directly and
    * then writing would let a concurrent reader observe an empty/partial
    * JSON between create and close — the race that intermittently broke
    * racing committers. Parent directories are created as needed.
    * Returns false only when the target already exists (= lost the
    * commit race); every other I/O error propagates as itself. */
  private def writeString(p: Path, s: String): Boolean =
    writeBytes(p, s.getBytes(StandardCharsets.UTF_8))

  private def writeBytes(p: Path, bytes: Array[Byte]): Boolean = {
    val qualified = fs.makeQualified(p)
    if ("file" == qualified.toUri.getScheme) {
      // local fast path: plain nio. Going through the Hadoop
      // ChecksumFileSystem costs a .crc sidecar write + delete and two
      // extra existence probes PER metadata file — pure overhead the
      // commit machinery pays on every snapshot/manifest/refs write
      // (readers never see a .crc for the final name either way, so
      // semantics are identical: atomic create-if-absent via hard link).
      val nio = java.nio.file.Paths.get(qualified.toUri.getPath)
      val nioTmp = nio.getParent.resolve(s".tmp-${UUID.randomUUID().toString.take(12)}")
      try {
        java.nio.file.Files.createDirectories(nio.getParent)
        java.nio.file.Files.write(nioTmp, bytes)
        try { java.nio.file.Files.createLink(nio, nioTmp); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } finally {
        try { java.nio.file.Files.deleteIfExists(nioTmp); () }
        catch { case _: Exception => () }
      }
    } else {
      val tmp = new Path(p.getParent, s".tmp-${UUID.randomUUID().toString.take(12)}")
      try {
        val out = fs.create(tmp, false)
        try out.write(bytes) finally out.close()
        // HDFS-style rename: atomic; an existing destination makes it
        // return false (or, on some stores, raise)
        try fs.rename(tmp, p)
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
      } finally {
        try { if (fs.exists(tmp)) fs.delete(tmp, false) } catch { case _: Exception => () }
      }
    }
  }

  private def readString(p: Path): String = new String(readBytes(p), StandardCharsets.UTF_8)

  private def readBytes(p: Path): Array[Byte] = {
    val qualified = fs.makeQualified(p)
    if ("file" == qualified.toUri.getScheme)
      // local fast path: one open+read, no ChecksumFileSystem .crc probe
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(qualified.toUri.getPath))
    else {
      val in = fs.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        bytes.toByteArray
      } finally in.close()
    }
  }

  /** The snapshot document at `p`, in either on-disk encoding
    * ([[BranchCatalog.parseSnapshot]]). */
  private def readSnapshot(p: Path): Snapshot = BranchCatalog.parseSnapshot(readBytes(p))

  // ---- refs (optimistic versioned commits) ------------------------------

  private def refsPath(v: Long) = new Path(rootPath, f"refs-$v%012d.json")

  private val refsStoreIsDefault = refsBackend.isEmpty

  private def currentVersion(): Long =
    if (!refsStoreIsDefault) {
      val vs = refsStore.listVersions()
      if (vs.isEmpty) -1L else vs.max
    } else {
      // Incremental head discovery for the default filesystem store:
      // versions are DENSE (commitRefs publishes cur+1 via atomic
      // create-if-absent) and refs files are never deleted, so the head
      // is found by probing forward from the last max this JVM saw —
      // O(new commits) exists-probes instead of an O(all versions)
      // directory listing on EVERY catalog consult. The cached max is
      // validated with one exists (a recreated/foreign root falls back
      // to the full listing), so semantics match the listing exactly.
      val key = rootPath.toString
      val cached = BranchCatalog.maxRefsSeen.get(key)
      var m = if (cached == null) -1L else cached.longValue
      if (m >= 0L && !fs.exists(refsPath(m))) m = -1L
      if (m < 0L) {
        val vs = refsStore.listVersions()
        m = if (vs.isEmpty) -1L else vs.max
      }
      if (m >= 0L) {
        while (fs.exists(refsPath(m + 1L))) m += 1L
        BranchCatalog.maxRefsSeen.put(key, java.lang.Long.valueOf(m))
      } else BranchCatalog.maxRefsSeen.remove(key)
      m
    }

  def currentRefs(): Refs = {
    val v = currentVersion()
    if (v < 0) Refs(-1L, Map("main" -> BranchState(Map.empty, Map.empty)))
    else Serialization.read[Refs](refsStore.read(v))
  }

  /** Optimistic commit: transform the latest refs, attempt to publish the
    * next version through the [[RefsStore]] (atomic create-if-absent /
    * conditional put); on a lost race, re-read and retry, up to
    * [[BranchCatalog.MaxCommitRetries]] times. */
  private def commitRefs(update: Refs => Refs): Refs =
    commitRefsFor(refs => (update(refs), ()))._1

  /** [[commitRefs]] for an update that also yields a result: returns the
    * committed refs with the result of the attempt that won. */
  private def commitRefsFor[A](update: Refs => (Refs, A)): (Refs, A) = {
    var attempt = 0
    while (attempt < BranchCatalog.MaxCommitRetries) {
      val cur = currentRefs()
      val (updated, result) = update(cur)
      val next = updated.copy(version = cur.version + 1)
      if (refsStore.commit(next.version, Serialization.write(next)))
        return (next, result)
      attempt += 1
      // jittered backoff: spinning losers re-collide on the next version
      // forever under contention; the jitter spreads committers out
      Thread.sleep(math.min(2L << math.min(attempt, 5), 40L) +
        java.util.concurrent.ThreadLocalRandom.current().nextLong(15L))
    }
    throw new IllegalStateException(
      s"refs commit lost ${BranchCatalog.MaxCommitRetries} races at $root")
  }

  // ---- snapshots + manifests --------------------------------------------

  /** Resolves a table NAME to its physical directory key (see
    * [[Refs.tableDirs]]) — identity for never-renamed tables. Cached per
    * instance: the alias for a name changes only through rename / drop /
    * recreate cycles, which also invalidate this cache; instances in
    * other JVMs racing such a cycle re-resolve on their next refs read
    * (the standard table-metadata-cache contract). */
  private val dirAlias = scala.collection.concurrent.TrieMap.empty[String, String]
  private def physDir(table: String): String =
    dirAlias.getOrElseUpdate(table, currentRefs().tableDirs.getOrElse(table, table))

  private def snapPath(table: String, id: String) =
    new Path(rootPath, s"tables/${physDir(table)}/meta/snap-$id.json")

  private def loadSnapshot(table: String, id: String): Snapshot = {
    val p = snapPath(table, id)
    val key = p.toString
    val cached = BranchCatalog.snapCache.get(key)
    // a cached value is served only while the file still exists — expiry
    // deletes snapshots, and callers rely on "expired ⇒ unreadable"
    // (refresh fallbacks, consumer restart errors); the probe keeps those
    // semantics byte-identical while skipping the read+parse
    if (cached != null) {
      if (fs.exists(p)) return cached
      BranchCatalog.snapCache.remove(key)
    }
    val t0 = System.nanoTime()
    val r = readSnapshot(p)
    BranchCatalog.metaParseNanos.addAndGet(System.nanoTime() - t0)
    BranchCatalog.metaParseCount.incrementAndGet()
    BranchCatalog.snapCache.put(key, r)
    r
  }

  /** None when the snapshot has been expired — parent-chain walks stop at
    * the expiry horizon instead of throwing. */
  private def loadSnapshotOpt(table: String, id: String): Option[Snapshot] =
    if (fs.exists(snapPath(table, id))) Some(loadSnapshot(table, id)) else None

  private[wap] def writeSnapshot(table: String, s: Snapshot): Unit = {
    require(writeBytes(snapPath(table, s.id), BranchCatalog.snapshotBytes(s)),
      s"snapshot ${s.id} already exists for $table")
    // the committer is the next reader of its own snapshot: pre-populate
    BranchCatalog.snapCache.put(snapPath(table, s.id).toString, s)
    ()
  }

  /** Write one immutable manifest listing `files`; return its ref.
    * `schema` types the per-column stat folds (string vs numeric order)
    * — pass the files' TABLE schema (delete-key manifests pass the full
    * table schema too; their key columns resolve by name). */
  private[wap] def writeManifest(
      table: String, files0: Seq[DataFileMeta], schema: StructType,
      /** W73: true = the entries already carry their (absolute) row-id
        * bases — keep them (manifest folding / carried subsets). */
      preserveRowIds: Boolean = false): ManifestRef = {
    // W73: every entry records its row-id OFFSET within the manifest
    // (running row sum in entry order); the commit stamps the manifest's
    // absolute base, so file id ranges are base + offset. Written
    // unconditionally (cheap) — meaningful once lineage is enabled.
    val files =
      if (preserveRowIds) files0
      else files0.zip(files0.scanLeft(0L)(_ + _.rows))
        .map { case (f, off) => f.copy(firstRowId = off) }
    val p = new Path(rootPath, s"tables/${physDir(table)}/meta/manifest-${UUID.randomUUID().toString.take(16)}.json")
    require(writeString(p, Serialization.write(files)),
      s"manifest ${p.getName} already exists for $table")
    // NOT pre-populated into the manifest cache: the cache is strictly
    // read-through, so the first consultation of any manifest always
    // proves the bytes on disk parse (the corrupt-manifest pruning proof
    // in WapSpec relies on exactly that property; the committer's own
    // re-read costs one parse, every later one hits the cache)
    val live = files.filter(_.rows > 0)
    // a column's manifest-level null sum is recorded only when EVERY
    // live file carries it — a partial sum would silently undercount
    val nullCols =
      if (live.isEmpty) Set.empty[String]
      else live.map(_.nullCounts.keySet).reduce(_ & _)
    // a column's manifest bound is exact iff every live file either has
    // the bound or is provably all-null for the column; fold in the
    // schema type's order (string stats in UTF-8 byte order, numbers
    // numerically — folding "45" vs "123" the wrong way would corrupt
    // a string column's bound)
    def fold(side: DataFileMeta => Map[String, String], takeMin: Boolean): Map[String, String] =
      schema.fields.iterator.flatMap { sf =>
        BranchCatalog.statOrder(sf.dataType).flatMap { cmp =>
          val covered = live.nonEmpty && live.forall(f =>
            side(f).contains(sf.name) || f.nullCounts.get(sf.name).contains(f.rows))
          if (!covered) None
          else {
            val vs = live.flatMap(f => side(f).get(sf.name))
            if (vs.isEmpty) None // every live file all-null: no non-null bound exists
            else try Some(sf.name -> vs.reduce((a, b) =>
              if ((cmp(a, b) <= 0) == takeMin) a else b))
            catch { case _: Exception => None } // unparseable stat: skip the column
          }
        }
      }.toMap
    // partition-value bounds: coverage-aware like the column folds (a
    // file at a NULL transform level lacks the key, which correctly
    // withholds the bound); lexicographic fold — exact for the ordered
    // transforms that prune on these, harmless for bucket
    val pvKeys =
      if (live.isEmpty) Set.empty[String]
      else live.map(_.partition.keySet).reduce(_ & _)
    def pvFold(takeMin: Boolean): Map[String, String] =
      pvKeys.iterator.map { k =>
        k -> live.map(_.partition(k)).reduce((a, b) =>
          if ((utf8Cmp(a, b) <= 0) == takeMin) a else b)
      }.toMap
    ManifestRef(p.toString, files.length.toLong, files.map(_.rows).sum,
      bytes = files.map(_.bytes).sum,
      nullCounts = files.flatMap(_.nullCounts.filter(kv => nullCols(kv._1)))
        .groupMapReduce(_._1)(_._2)(_ + _),
      lower = fold(_.lower, takeMin = true),
      upper = fold(_.upper, takeMin = false),
      pvLower = pvFold(takeMin = true),
      pvUpper = pvFold(takeMin = false),
      // statsV 2 = every bound fold-exact (graft's own non-truncating
      // writes); 1 = some file imported with possibly-truncated foreign
      // bounds — conservative, so pruning-eligible but refused by exact
      // consumers (metaAggregate & friends require >= 2)
      statsV = if (files.exists(_.inexact)) 1 else 2)
  }

  private[graft] def readManifest(path: String): Seq[DataFileMeta] = {
    // the counter tracks driver-side manifest CONSULTATIONS (the W17
    // distributed-planning gates assert on it), so it counts cache hits
    // too — the cache only removes the IO + parse
    driverManifestReads.incrementAndGet()
    val p = new Path(path)
    val cached = BranchCatalog.manifestCache.get(path)
    if (cached != null) {
      if (fs.exists(p)) return cached
      BranchCatalog.uncacheManifest(path)
    }
    val t0 = System.nanoTime()
    val r = Serialization.read[Seq[DataFileMeta]](readString(p))
    BranchCatalog.metaParseNanos.addAndGet(System.nanoTime() - t0)
    BranchCatalog.metaParseCount.incrementAndGet()
    BranchCatalog.cacheManifest(path, r)
    r
  }

  private def manifestEntrySchema = BranchCatalog.manifestEntrySchema

  /** A snapshot's manifest entries as a DataFrame — manifests are read
    * and parsed by EXECUTORS (Spark's JSON source yields one row per
    * element of a root-level array), so per-file metadata never
    * materializes on the driver. The driver holds only the manifest PATH
    * list, which compaction keeps O(1)-ish — the same shape as Iceberg's
    * snapshot -> manifest-list -> distributed manifest read (what the
    * reference gets from PyIceberg's scan planning, app.py:220-223). */
  def manifestEntries(snap: Snapshot): DataFrame =
    manifestEntriesOf(snap.manifests.map(_.path))

  private def manifestEntriesOf(paths: Seq[String]): DataFrame =
    if (paths.isEmpty) emptyFrame(manifestEntrySchema)
    else
      spark.read.schema(manifestEntrySchema).json(paths: _*)

  /** All data files of a snapshot, in manifest order. Manifests are
    * independent files, so a many-commit table reads them concurrently
    * on [[BranchCatalog.metaIo]] (remote-store latency, not bandwidth,
    * dominates metadata reads). */
  def filesOf(snap: Snapshot): Seq[DataFileMeta] = manifestFiles(snap.manifests).flatten

  /** The entries of each of `ms`, in order ([[filesOf]]'s reads). */
  private def manifestFiles(ms: Seq[ManifestRef]): Seq[Seq[DataFileMeta]] =
    if (ms.size <= 4) ms.map(m => readManifest(m.path))
    else BranchCatalog.metaIo(ms)(m => readManifest(m.path))

  /** The one read of catalog-planned parquet files: a [[org.apache.spark
    * .sql.execution.datasources.HadoopFsRelation]] over a
    * [[ManifestFileIndex]] of `files` (path, manifest byte length), so
    * Spark neither lists nor stats them — no driver status calls and no
    * parallel-listing job above 32 paths. Each path is re-qualified
    * against its own filesystem from its bare path, which is the form the
    * filesystem's listing returns (`file:///…` on local disk), so
    * `_metadata.file_path`, `input_file_name()` and `inputFiles` stay
    * byte-identical to a `spark.read.parquet(paths)` read. A length
    * of 0 (pre-r8 entries) falls back to one status call for that file,
    * so the relation's size — what broadcast and AQE decisions read — is
    * never understated. */
  private[graft] def readFiles(schema: StructType, files: Seq[(String, Long)]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val located = files.map { case (p, len) =>
      val path = new Path(p)
      val pfs = path.getFileSystem(conf)
      val q = Path.getPathWithoutSchemeAndAuthority(path)
        .makeQualified(pfs.getUri, pfs.getWorkingDirectory)
      (q, if (len > 0L) len else pfs.getFileStatus(q).getLen)
    }
    spark.baseRelationToDataFrame(
      org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        ManifestFileIndex(located), partitionSchema = new StructType(),
        dataSchema = org.apache.spark.sql.graft.Bridge.asNullable(schema)
          .asInstanceOf[StructType],
        bucketSpec = None,
        fileFormat = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
        options = Map.empty)(spark))
  }

  /** (path, byte length) of manifest entries — [[readFiles]]' input. */
  private def sized(files: Seq[DataFileMeta]): Seq[(String, Long)] =
    files.map(f => f.path -> f.bytes)

  /** The one data-file writer: every table data file (appends, DML and
    * compaction output, MOR tombstone keys, position sidecars) is written
    * here, and each file's metadata — rows, bytes, null counts, bounds
    * and transform values — comes back from the task that wrote it.
    *
    * One Spark job over `df`'s rows ([[org.apache.spark.sql.graft.Bridge
    * .runOnRows]]); each task opens a file under `data/<commitId>/` only
    * when its first row arrives and writes it in place. Nothing is
    * committed until a manifest names the files, so there is no
    * `_temporary` staging, rename or job commit, no driver listing and no
    * driver footer read, and an empty frame writes no file. A failed task
    * deletes what it wrote; one that dies leaves an unreferenced file for
    * orphan sweep ([[removeOrphanFiles]]).
    *
    * Under active hidden-partition `fields` the rows carry their
    * (path-escaped, [[PathSafeEscape]]) transform values as trailing
    * `__pv<i>` columns, arranged so each task sees them grouped; a task
    * rolls to a new file per value group, in nested Hive-style
    * `__pv<i>=<value>` directories (positional per write), and records
    * each level's true value under the field's stable key
    * ([[PartitionSpec.pvKey]]: "pv", then "pv1", "pv2", … — keys follow
    * field ids, so a position reused after spec evolution never aliases
    * an old field). A NULL or empty transform value records nothing at
    * its level: it can never be proven out of range, so pruning keeps the
    * file. `sortCols` asks for ONE file per value group (hard repartition),
    * ordered by `sortCols` within it — the layout
    * [[Snapshot.sortWithinPartitions]] promises; otherwise the rows are
    * rebalanced on the values, so AQE coalesces tiny groups and splits a
    * skewed one across files, optionally ordered by `advisoryOrder`
    * ([[BranchCatalog.WriteOrderKey]]) to tighten row-group stats.
    * Unpartitioned writes ignore both: callers order those rows. */
  private def writeFiles(table: String, df: DataFrame,
      fields: Seq[PartitionSpec.SpecField] = Nil,
      sortCols: Seq[String] = Nil,
      ids: Map[String, Int] = Map.empty,
      advisoryOrder: Seq[String] = Nil): Seq[DataFileMeta] = {
    import org.apache.spark.sql.functions.col
    val active = fields.filter(_.active)
    val specs = active.map(_.spec)
    require(specs.indices.forall(i => !df.schema.fieldNames.contains(s"__pv$i")),
      "batch columns may not collide with the __pv<i> partition-value names")
    val dir = fs.makeQualified(new Path(rootPath,
      s"tables/${physDir(table)}/data/${UUID.randomUUID()}"))
    val data = withFieldIds(df, ids)
    val pvCols = specs.indices.map(i => s"__pv$i")
    val withPv = specs.zipWithIndex.foldLeft(data) { case (acc, (spec, i)) =>
      val colType = df.schema.fields.find(_.name == spec.column).map(_.dataType)
        .getOrElse(throw new IllegalArgumentException(
          s"partition column '${spec.column}' not in batch schema"))
      acc.withColumn(s"__pv$i", org.apache.spark.sql.graft.Bridge.column(
        PathSafeEscapeExpr(org.apache.spark.sql.graft.Bridge.expression(
          spec.valueCol(colType)))))
    }
    // an empty value lands in the NULL directory, mapped after the
    // distribution and before the local sort, where Spark's partitioned
    // writer maps it
    val arranged =
      if (specs.isEmpty) data
      else pvCols.foldLeft(
        if (sortCols.nonEmpty) withPv.repartition(pvCols.map(col): _*)
        else withPv.hint("rebalance", pvCols.map(col): _*)) { (acc, c) =>
          acc.withColumn(c, org.apache.spark.sql.functions.nullif(col(c),
            org.apache.spark.sql.functions.lit("")))
        }.sortWithinPartitions((pvCols ++ (if (sortCols.nonEmpty) sortCols else advisoryOrder))
          .map(col): _*)
    // the columns as the optimized plan types them (its nullability can
    // be tighter than the frame's), as a `df.write` declares them
    val schema = StructType(org.apache.spark.sql.graft.Bridge.optimizedSchema(arranged)
      .take(data.schema.length))
    val task = new BranchCatalog.FileWriteTask(
      org.apache.spark.sql.graft.Bridge.parquetStageWriterFactory(spark, schema),
      dir.toString, schema, active.map(_.key),
      spark.sessionState.conf.maxRecordsPerFile)
    org.apache.spark.sql.graft.Bridge.runOnRows(arranged)(task).toSeq.flatten
  }

  /** The snapshot's FULL partition-field registry, outermost first
    * (empty for unpartitioned tables): active fields route writes,
    * dropped fields survive so files written under them keep pruning —
    * see [[PartitionSpec.SpecField]] and the metadata-only evolution
    * ([[addPartitionField]]/[[dropPartitionField]]). */
  private[graft] def specsOf(fmt: Option[String]): Seq[PartitionSpec.SpecField] =
    fmt.toSeq.flatMap(PartitionSpec.parseFields)

  /** Only the fields new writes route by. */
  private[graft] def activeSpecsOf(fmt: Option[String]): Seq[PartitionSpec.SpecField] =
    specsOf(fmt).filter(_.active)

  /** Stamp each column the table tracks with its parquet field id (W58):
    * the writer then records `PARQUET:field_id` in every footer, which
    * is what lets renamed columns keep resolving in old files. A no-op
    * for id-less (pre-r12) tables and for columns outside the mapping
    * (tombstone keys, sidecar lineage columns — read by name). Applied
    * at the write boundary because upstream ALIASES (updateWhere's SET
    * projection, alignToSchema casts) silently drop field metadata. */
  private def withFieldIds(df: DataFrame, ids: Map[String, Int]): DataFrame =
    if (ids.isEmpty || !df.schema.fieldNames.exists(ids.contains)) df
    else {
      import org.apache.spark.sql.functions.col
      df.select(df.schema.fields.toIndexedSeq.map { f =>
        ids.get(f.name) match {
          case Some(id) => col(f.name).as(f.name,
            new MetadataBuilder().withMetadata(f.metadata)
              .putLong(BranchCatalog.FieldIdKey, id.toLong).build())
          case None => col(f.name)
        }
      }: _*)
    }

  // ---- public API (the reference's catalog surface) ----------------------

  /** CREATE with GENERATED ALWAYS AS columns (W87). */
  def createTableGenerated(table: String, schema: StructType,
      generated: Map[String, String], branch: String = "main",
      specs: Seq[PartitionSpec] = Nil,
      writeDefaults: Map[String, String] = Map.empty): Boolean = {
    if (tableExists(table, branch)) return false
    createTable(table, schema, branch,
      if (specs.isEmpty) None else Some(PartitionSpec.formatMulti(specs)),
      writeDefaults, generated)
  }

  /** reference app.py:125-149 create_table_if_not_exists. Returns true if
    * the table was created. */
  def createTableIfNotExists(table: String, schema: StructType, branch: String,
      specs: Seq[PartitionSpec]): Boolean =
    createTableIfNotExists(table, schema, branch, specs, Map.empty[String, String])
  def createTableIfNotExists(table: String, schema: StructType, branch: String,
      specs: Seq[PartitionSpec],
      /** CREATE-time column defaults (W71) — WRITE defaults only: every
        * file of a fresh table is written with all columns present, so
        * there is nothing for an initial (exists) default to back. */
      writeDefaults: Map[String, String]): Boolean = {
    if (tableExists(table, branch)) return false
    createTable(table, schema, branch,
      if (specs.isEmpty) None else Some(PartitionSpec.formatMulti(specs)),
      writeDefaults)
  }
  def createTableIfNotExists(
      table: String, schema: StructType, branch: String = "main",
      spec: Option[PartitionSpec] = None): Boolean = {
    if (tableExists(table, branch)) return false
    createTable(table, schema, branch, spec.map(_.format))
  }
  private def createTable(table: String, schema: StructType, branch: String,
      fmt: Option[String],
      writeDefaults: Map[String, String] = Map.empty,
      generated: Map[String, String] = Map.empty): Boolean = {
    // re-resolve the dir alias: a drop+recreate cycle retires any alias,
    // and a stale cache entry here would write into the retiree's dir
    dirAlias.remove(table)
    // if a RENAMED or CLONED lineage's physical dir still carries this
    // NAME (its pointer moved away but its files stay put), a new table
    // under the name gets a FRESH directory — moving in with a foreign
    // lineage would let that lineage's expiry reclaim this table's files
    val claimed = currentRefs().tableDirs.values.exists(_ == table)
    val dir = if (claimed) s"$table-${newId()}" else table
    if (dir != table) dirAlias.put(table, dir)
    val canonDefaults = writeDefaults.map { case (c, sql) =>
      val f = schema.fields.find(_.name == c).getOrElse(
        sys.error(s"DEFAULT on unknown column $c of $table"))
      c -> canonicalDefault(c, f.dataType, sql)
    }
    generated.foreach { case (c, sql) =>
      require(schema.fieldNames.contains(c), s"GENERATED column $c not in schema")
      val refs0 =
        try generationRefs(sql)
        catch { case e: Exception => throw new IllegalArgumentException(
          s"generation expression for $c does not parse: ${e.getMessage}") }
      refs0.foreach { r =>
        require(schema.fieldNames.exists(_.equalsIgnoreCase(r)),
          s"generation expression for $c references unknown column $r")
        require(!generated.keys.exists(_.equalsIgnoreCase(r)),
          s"generation expression for $c references generated column $r — " +
            "generated columns derive from plain columns only (no chains)")
      }
    }
    commitRefs { refs =>
      val b = refs.branches.getOrElse(branch, sys.error(s"no branch $branch"))
      require(!b.views.contains(table), s"a view named $table exists on $branch")
      require(dir != table || !refs.tableDirs.values.exists(_ == table),
        s"a concurrent rename/clone claimed $table as a directory key — retry the create")
      if (b.tables.contains(table)) refs
      else {
        // the lineage's root: the one snapshot no parent derives
        val root = Snapshot(newId(), None, Seq.empty, schema.toDDL,
          System.currentTimeMillis(), fmt,
          evo = SchemaEvo.forSchema(schema).copy(writeDefaults = canonDefaults,
            generated = generated),
          op = SnapshotOp.Create.name)
        refs.copy(
          branches = refs.branches.updated(branch,
            b.copy(tables = publish(table, root, b.tables))),
          tableDirs =
            if (dir != table) refs.tableDirs.updated(table, dir) else refs.tableDirs)
      }
    }
    dirAlias.remove(table)
    true
  }

  def tableExists(table: String, branch: String = "main"): Boolean =
    currentRefs().branches.get(branch).exists(_.tables.contains(table))

  /** reference app.py:138 list_tables. */
  def listTables(branch: String = "main"): Seq[String] =
    currentRefs().branches.get(branch).map(_.tables.keys.toSeq.sorted).getOrElse(Seq.empty)

  def listBranches(): Seq[String] = currentRefs().branches.keys.toSeq.sorted

  /** One-call dashboard view of `table` across every branch that carries
    * it (reference quality_app.py:43-77: the Streamlit app's per-branch
    * row count + target-column null count, generalized to ALL columns) —
    * branch, head snapshot id/parent/commit time, manifest/file/row
    * counts and per-column null counts, all METADATA-FIRST: counts come
    * from the snapshot's manifest LIST (no manifest reads at all) and
    * null counts from ONE distributed aggregate over the manifest-entry
    * DataFrames (executors parse manifests; the driver never holds
    * per-file metadata). No data file is ever opened. */
  def branchStats(table: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode, lit, map_from_entries, collect_list, struct, sum => fsum}
    val heads: Seq[(String, Snapshot)] = currentRefs().branches.toSeq.sortBy(_._1)
      .flatMap { case (b, st) => st.tables.get(table).map(id => b -> loadSnapshot(table, id)) }
    val summary = spark.createDataFrame(heads.map { case (b, s) =>
      (b, s.id, s.parentId.getOrElse(""), s.committedAtMillis,
        s.manifests.size.toLong, s.manifests.map(_.fileCount).sum, s.manifests.map(_.rows).sum)
    }).toDF("branch", "snapshot_id", "parent_id", "committed_at_ms",
      "n_manifests", "n_files", "n_rows")
    val nulls = heads.map { case (b, s) =>
      manifestEntries(s).select(lit(b).as("branch"), explode(col("nullCounts")))
    }.reduceOption(_ unionAll _) match {
      case None => spark.emptyDataFrame
        .select(lit("").as("branch"), map_from_entries(
          lit(Array.empty[(String, Long)])).as("null_counts")).limit(0)
      case Some(df) => df
        .groupBy(col("branch"), col("key")).agg(fsum(col("value")).as("nulls"))
        .groupBy(col("branch"))
        .agg(map_from_entries(collect_list(struct(col("key"), col("nulls")))).as("null_counts"))
    }
    summary.join(nulls, Seq("branch"), "left")
  }

  /** Drop a table from one branch: metadata-only (the branch's pointer is
    * removed; snapshots and data files stay on disk for time travel from
    * other branches until [[expireSnapshots]] reclaims them). Returns
    * false when the table was absent. */
  def dropTable(table: String, branch: String = "main"): Boolean = {
    var existed = false
    commitRefs { refs =>
      val b = refs.branches.getOrElse(branch, sys.error(s"no branch $branch"))
      existed = b.tables.contains(table)
      if (!existed) refs
      // tableProps go in the SAME commit: a table recreated under this name
      // must not inherit e.g. write.delete.mode or a stale mview definition.
      // The dir alias dies with the LAST reference to the name — a table
      // recreated under it gets a fresh directory, not the retiree's.
      else {
        val stillUsed =
          refs.branches.exists { case (bn, st) => bn != branch && st.tables.contains(table) } ||
            refs.tags.values.exists(_.contains(table))
        refs.copy(
          branches = refs.branches.updated(branch,
            b.copy(tables = b.tables - table, tableProps = b.tableProps - table)),
          tableDirs = if (stillUsed) refs.tableDirs else refs.tableDirs - table,
          // the row-id counter is keyed by PHYSICAL dir and dies with it:
          // a recreate under this name gets a fresh directory, hence a
          // fresh id space (while any other branch still holds the table,
          // its counter — and id uniqueness — survives)
          rowIds = if (stillUsed) refs.rowIds
            else refs.rowIds - refs.tableDirs.getOrElse(table, table))
      }
    }
    dirAlias.remove(table)
    existed
  }

  /** Rename a table on one branch: one pointer swap in the refs commit.
    * The PHYSICAL directory never moves — snapshots and manifests embed
    * absolute paths — so the new name records a [[Refs.tableDirs]] alias
    * to the CREATE-time directory and every read/write/expiry path
    * resolves through it ([[physDir]]). O(1) regardless of table size,
    * and the renamed lineage stays fully readable, expirable and
    * orphan-reapable under the new name. */
  def renameTable(from: String, to: String, branch: String = "main"): Unit = {
    commitRefs { refs =>
      val b = refs.branches.getOrElse(branch, sys.error(s"no branch $branch"))
      val id = b.tables.getOrElse(from, sys.error(s"no table $from on $branch"))
      require(!b.tables.contains(to), s"table $to already exists on $branch")
      require(!refs.branches.exists { case (_, st) => st.tables.contains(to) } &&
        !refs.tags.values.exists(_.contains(to)),
        s"table $to exists on another branch or tag — its directory key " +
          "is taken; pick an unused name")
      val props = b.tableProps.get(from) // properties follow the table
      val dir = refs.tableDirs.getOrElse(from, from)
      // the old name's alias stays while any other branch or tag still
      // carries the table under it (they share the directory)
      val fromStillUsed =
        refs.branches.exists { case (bn, st) => bn != branch && st.tables.contains(from) } ||
          refs.tags.values.exists(_.contains(from))
      val dirs0 = if (dir == to) refs.tableDirs else refs.tableDirs.updated(to, dir)
      refs.copy(
        branches = refs.branches.updated(branch,
          b.copy(
            tables = b.tables - from + (to -> id),
            tableProps = props.fold(b.tableProps - from)(p =>
              (b.tableProps - from).updated(to, p)))),
        tableDirs = if (fromStillUsed) dirs0 else dirs0 - from)
    }
    dirAlias.remove(from); dirAlias.remove(to); ()
  }

  /** reference app.py:160-176 create_branch_from_main: zero-copy — copies
    * only the table->snapshot pointer map and records the fork base for
    * the eventual 3-way merge. */
  def createBranch(branch: String, from: String = "main"): Unit =
    commitRefs { refs =>
      require(!refs.branches.contains(branch), s"branch $branch exists")
      require(!refs.tags.contains(branch),
        s"$branch is a tag — branch and tag names share one namespace")
      val src = refs.branches.getOrElse(from, sys.error(s"no branch $from"))
      refs.copy(branches = refs.branches.updated(branch,
        BranchState(src.tables, src.tables, src.views, src.tableProps)),
        branchCreatedAt =
          refs.branchCreatedAt.updated(branch, System.currentTimeMillis()))
    }

  /** Set (merge in) per-table properties, branch-versioned. A null/empty
    * VALUE removes the key (`ALTER TABLE ... UNSET TBLPROPERTIES`
    * semantics ride the same call). One refs commit, metadata-only. */
  def setTableProperties(
      table: String, props: Map[String, String], branch: String = "main"): Unit = {
    // CHECK constraints validate at SET time — parse + bind column refs
    // against the current schema (a typo'd constraint that failed every
    // subsequent write instead would be operator-hostile)
    val newChecks = props.filter { case (k, v) =>
      k.startsWith(BranchCatalog.ConstraintPrefix) && v != null && v.nonEmpty }
    if (newChecks.nonEmpty) {
      val schema = StructType.fromDDL(loadSnapshot(table,
        snapshotIdOf(table, branch).getOrElse(sys.error(s"no table $table on $branch"))).schemaDdl)
      for ((k, v) <- newChecks) {
        require(k.length > BranchCatalog.ConstraintPrefix.length,
          "a CHECK constraint needs a name: graft.constraint.<name>")
        val parsed =
          try spark.sessionState.sqlParser.parseExpression(v)
          catch { case e: Exception => throw new IllegalArgumentException(
            s"CHECK constraint $k does not parse: ${e.getMessage}") }
        parsed.collect {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => ua.nameParts.head
        }.foreach(c => require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"CHECK constraint $k references unknown column $c (table has ${schema.fieldNames.mkString(", ")})"))
      }
    }
    commitRefs { refs =>
      val b = refs.branches.getOrElse(branch, sys.error(s"no branch $branch"))
      require(b.tables.contains(table), s"no table $table on $branch")
      val cur = b.tableProps.getOrElse(table, Map.empty)
      val (unset, set) = props.partition { case (_, v) => v == null || v.isEmpty }
      val next = (cur -- unset.keys) ++ set
      refs.copy(branches = refs.branches.updated(branch,
        b.copy(tableProps =
          if (next.isEmpty) b.tableProps - table
          else b.tableProps.updated(table, next))))
    }
    ()
  }

  /** The table's current properties on `branch` (empty map if none). */
  def tableProperties(table: String, branch: String = "main"): Map[String, String] =
    currentRefs().branches.get(branch)
      .flatMap(_.tableProps.get(table)).getOrElse(Map.empty)

  /** reference app.py:303 drop_branch. Dir aliases of names only this
    * branch carried are swept in the same commit — a later CREATE under
    * such a name must get a fresh directory, not the retiree's. */
  def dropBranch(branch: String): Unit = {
    require(branch != "main", "refusing to drop main")
    commitSweepingDirs(refs => refs.copy(branches = refs.branches - branch,
      branchCreatedAt = refs.branchCreatedAt - branch))
  }

  /** Commits `update` with the dir aliases of the names no branch or tag
    * of the result carries any more swept, and evicts only those names
    * from this instance's alias cache. */
  private def commitSweepingDirs(update: Refs => Refs): Unit = {
    val (_, swept) = commitRefsFor { refs =>
      val next = update(refs)
      val used = next.branches.values.flatMap(_.tables.keys).toSet ++
        next.tags.values.flatMap(_.keys)
      val (keep, gone) = next.tableDirs.partition { case (n, _) => used.contains(n) }
      (next.copy(tableDirs = keep), gone.keys)
    }
    swept.foreach(dirAlias.remove)
  }

  /** FULLY-MERGED stale-branch cleanup (the Nessie branch-retention
    * analogue): a long-lived WAP deployment accumulates leftover
    * branches — crashed runs between publish and dropBranch, abandoned
    * experiments — whose refs entries bloat the commit document and pin
    * directory aliases. A branch is reclaimable ONLY when it is
    * provably redundant with main: identical table pointers, views and
    * per-table properties (the same equals-main rule the streaming
    * sink's replay cleanup already trusts), so dropping it can never
    * lose data or definitions. Quarantine branches (diverged content)
    * and in-flight audit branches (diverged pointer) never qualify.
    * `olderThanMillis` fences a branch forked moments ago that has not
    * diverged YET: ages come from [[Refs.branchCreatedAt]] (stamped at
    * createBranch, r15); pre-stamp branches never age out — the same
    * conservative rule as pre-stamp tags. Returns the dropped names. */
  def expireBranches(
      olderThanMillis: Long = System.currentTimeMillis() - 3L * 24 * 3600 * 1000)
      : Seq[String] = {
    var dropped: Seq[String] = Nil
    commitRefs { refs =>
      val main = refs.branches.getOrElse("main", sys.error("no branch main"))
      dropped = refs.branches.toSeq.collect {
        case (name, st) if name != "main" &&
            st.tables == main.tables && st.views == main.views &&
            st.tableProps == main.tableProps &&
            refs.branchCreatedAt.get(name).exists(_ < olderThanMillis) =>
          name
      }.sorted
      val next = refs.branches -- dropped
      val used = next.values.flatMap(_.tables.keys).toSet ++
        refs.tags.values.flatMap(_.keys)
      refs.copy(branches = next,
        branchCreatedAt = refs.branchCreatedAt -- dropped,
        tableDirs = refs.tableDirs.filter { case (n, _) => used.contains(n) })
    }
    dropped
  }

  /** Zero-copy table CLONE (the Delta `SHALLOW CLONE` / Iceberg
    * snapshot-ref analogue, taken further by the shared-directory
    * substrate): `dst` points at `src`'s current (or `asOf`) snapshot
    * and ALIASES src's physical directory ([[Refs.tableDirs]]) — ONE
    * refs commit, ZERO file writes or copies, at any table size. From
    * then on the lineages diverge freely: dst's commits land in the
    * shared directory under fresh snapshot/manifest/file ids, reads
    * resolve per name, and time travel on dst reaches the full
    * pre-clone history (the parent chain is shared). GC is clone-safe
    * by construction: [[expireSnapshots]] and [[removeOrphanFiles]]
    * operate on the shared DIRECTORY with liveness drawn from EVERY
    * sharing name, so neither side can reclaim files the other still
    * references, and dropping a clone simply retires its pointer
    * (abandoned divergent commits become expirable history).
    * Properties copy (Delta clone semantics) except `graft.vecidx.*`
    * and `graft.dedupidx.*`: the persisted index artifact tables are
    * named after the SOURCE — the clone would carry watermark props
    * naming index tables it does not have, so both index families
    * rebuild on the clone. */
  def cloneTable(src: String, dst: String, branch: String = "main",
      asOf: Option[String] = None): Snapshot = {
    val srcId = asOf.getOrElse(snapshotIdOf(src, branch)
      .getOrElse(sys.error(s"no table $src on $branch")))
    val snap = loadSnapshotOpt(src, srcId)
      .getOrElse(sys.error(s"no snapshot $srcId for $src"))
    commitRefs { refs =>
      val b = refs.branches.getOrElse(branch, sys.error(s"no branch $branch"))
      require(b.tables.contains(src), s"no table $src on $branch")
      require(!refs.branches.exists { case (_, st) => st.tables.contains(dst) } &&
        !refs.tags.values.exists(_.contains(dst)) && !b.views.contains(dst),
        s"table or view $dst already exists")
      val props = b.tableProps.getOrElse(src, Map.empty)
        .filterNot { case (k, _) =>
          k.startsWith("graft.vecidx.") || k.startsWith("graft.dedupidx.") }
      refs.copy(
        branches = refs.branches.updated(branch, b.copy(
          tables = b.tables.updated(dst, srcId),
          tableProps =
            if (props.isEmpty) b.tableProps
            else b.tableProps.updated(dst, props))),
        tableDirs = refs.tableDirs.updated(dst, refs.tableDirs.getOrElse(src, src)))
    }
    dirAlias.remove(dst)
    snap
  }

  /** Create an IMMUTABLE tag pinning every table of `from` at its
    * current snapshot (Nessie/Iceberg tag semantics): a zero-copy,
    * metadata-only release point. Tags share the ref namespace with
    * branches (a scan/SQL namespace must resolve unambiguously) and
    * never advance — there is no write path that accepts one. */
  def createTag(tag: String, from: String = "main"): Unit =
    commitRefs { refs =>
      require(!refs.tags.contains(tag), s"tag $tag exists")
      require(!refs.branches.contains(tag),
        s"$tag is a branch — branch and tag names share one namespace")
      val src = refs.branches.getOrElse(from, sys.error(s"no branch $from"))
      refs.copy(tags = refs.tags.updated(tag, src.tables),
        tagCreatedAt = refs.tagCreatedAt.updated(tag, System.currentTimeMillis()))
    }

  /** Same dir-alias sweep as [[dropBranch]]: aliases die with the last
    * ref. */
  def dropTag(tag: String): Unit =
    commitSweepingDirs { refs =>
      require(refs.tags.contains(tag), s"no tag $tag")
      refs.copy(tags = refs.tags - tag, tagCreatedAt = refs.tagCreatedAt - tag)
    }

  /** Age-based tag retention (Iceberg `max-ref-age-ms`): drop every tag
    * CREATED more than `maxAgeMs` ago; returns the dropped names. Tags
    * created before stamps existed are conservatively kept forever (a
    * release pin must never vanish on a guess). The snapshots a dropped
    * tag pinned become reclaimable by the NEXT expireSnapshots run —
    * tag drop and data GC stay separate, auditably ordered steps. */
  def expireTags(maxAgeMs: Long,
      nowMillis: Long = System.currentTimeMillis()): Seq[String] = {
    require(maxAgeMs > 0, "expireTags needs a positive max age")
    var dropped: Seq[String] = Nil
    commitSweepingDirs { refs =>
      val cutoff = nowMillis - maxAgeMs
      dropped = refs.tags.keys.filter(t =>
        refs.tagCreatedAt.get(t).exists(_ < cutoff)).toSeq.sorted
      refs.copy(tags = refs.tags -- dropped, tagCreatedAt = refs.tagCreatedAt -- dropped)
    }
    dropped
  }

  def listTags(): Seq[String] = currentRefs().tags.keys.toSeq.sorted

  /** The tables a tag pins: table -> snapshot id. */
  def tagTables(tag: String): Map[String, String] =
    currentRefs().tags.getOrElse(tag, sys.error(s"no tag $tag"))

  def snapshotIdAtTag(table: String, tag: String): Option[String] =
    tagTables(tag).get(table)

  /** Scan a table as pinned by a tag (time travel by release name). */
  def scanTag(table: String, tag: String,
      filter: Option[Column] = None): DataFrame =
    scanSnapshot(table,
      snapshotIdAtTag(table, tag).getOrElse(sys.error(s"tag $tag has no table $table")),
      filter)

  // ---- branch-versioned views (Nessie versions view definitions) --------

  def createView(name: String, view: ViewDef, branch: String = "main",
      replace: Boolean = false): Unit =
    commitRefs { refs =>
      val b = refs.branches.getOrElse(branch, sys.error(s"no branch $branch"))
      require(!b.tables.contains(name), s"a table named $name exists on $branch")
      require(replace || !b.views.contains(name), s"view $name exists on $branch")
      refs.copy(branches = refs.branches.updated(branch,
        b.copy(views = b.views.updated(name, view))))
    }

  def dropView(name: String, branch: String = "main"): Boolean = {
    var existed = false
    commitRefs { refs =>
      val b = refs.branches.getOrElse(branch, sys.error(s"no branch $branch"))
      existed = b.views.contains(name)
      if (!existed) refs
      else refs.copy(branches = refs.branches.updated(branch, b.copy(views = b.views - name)))
    }
    existed
  }

  def renameView(from: String, to: String, branch: String = "main"): Unit =
    commitRefs { refs =>
      val b = refs.branches.getOrElse(branch, sys.error(s"no branch $branch"))
      val d = b.views.getOrElse(from, sys.error(s"no view $from on $branch"))
      require(!b.views.contains(to) && !b.tables.contains(to),
        s"$to already exists on $branch")
      refs.copy(branches = refs.branches.updated(branch,
        b.copy(views = b.views - from + (to -> d))))
    }

  def listViews(branch: String = "main"): Seq[String] =
    currentRefs().branches.get(branch).map(_.views.keys.toSeq.sorted).getOrElse(Seq.empty)

  def viewDef(name: String, branch: String = "main"): Option[ViewDef] =
    currentRefs().branches.get(branch).flatMap(_.views.get(name))

  /** The table's declared write sort order ([[BranchCatalog.WriteOrderKey]]),
    * validated against `schema` — unknown columns refuse loudly at write
    * time rather than silently skipping the sort. */
  private def writeOrderOf(table: String, props: Map[String, String],
      schema: StructType): Seq[String] = {
    val cols = props.getOrElse(BranchCatalog.WriteOrderKey, "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"${BranchCatalog.WriteOrderKey} names unknown column $c of $table"))
    cols
  }

  /** The head of table@branch (None before the table exists there) and
    * the table's properties, from one refs read: the state an append's
    * alignment, guards and write order read. */
  private def writeState(table: String, branch: String): (Option[Snapshot], Map[String, String]) = {
    val b = currentRefs().branches.get(branch)
    (b.flatMap(_.tables.get(table)).map(loadSnapshot(table, _)),
      b.flatMap(_.tableProps.get(table)).getOrElse(Map.empty))
  }

  /** [[writeState]] of a table that must exist on `branch`; `hint`
    * ends the error when it does not. */
  private def headState(table: String, branch: String,
      hint: String = ""): (Snapshot, Map[String, String]) =
    writeState(table, branch) match {
      case (Some(head), props) => (head, props)
      case _ => sys.error(s"no table $table on $branch$hint")
    }

  /** reference app.py:178-199 append_rows_to_table_in_branch: write the
    * batch as new immutable files, commit ONE new manifest + a child
    * snapshot on the branch. Readers of other branches never see these
    * files (snapshot isolation). Metadata cost: one manifest (the new
    * files) + one snapshot (manifest list grows by 1 ref) — O(commit),
    * independent of table file count. */
  def append(table: String, df: DataFrame, branch: String = "main",
      epochStamp: Option[(String, Long)] = None,
      /** Delta mergeSchema for appends (see [[mergeInto]]'s flag of the
        * same name): new batch columns ADD (nullable) and widened types
        * WIDEN before alignment. On a WAP branch the evolved schema
        * publishes through the 3-way schema merge. Off by default —
        * unknown columns stay a hard error. */
      schemaEvolution: Boolean = false): Snapshot = {
    if (schemaEvolution && tableExists(table, branch))
      evolveSchemaForSource(table, df.schema, branch)
    // validate/align BEFORE writing data: a mismatched batch must not
    // corrupt the table (the reference inherits this from PyIceberg)
    val (head, props) = writeState(table, branch)
    // a PARTITIONED table routes EVERY append through the partitioned
    // writer — the streaming sink, Wap.run, and every other surface
    // built on append write transform-valued (prunable) files without
    // each caller knowing the layout. Before r11 only appendPartitioned
    // callers did, so a stream into a day-partitioned table silently
    // accumulated unprunable files until compaction.
    head.flatMap(_.partitionSpec) match {
      case Some(fmt) if activeSpecsOf(Some(fmt)).nonEmpty =>
        return appendPartitioned(table, df,
          activeSpecsOf(Some(fmt)).map(_.spec), branch, epochStamp)
      case _ => () // no spec, or every field dropped: plain write
    }
    val aligned = head match {
      case Some(snap) if snap.schemaDdl.nonEmpty =>
        alignToSchema(df, StructType.fromDDL(snap.schemaDdl), table, branch,
          Some(snap.evo), props)
      case _ => df
    }
    val order = head.map(_ => writeOrderOf(table, props, aligned.schema))
      .getOrElse(Nil)
    val arranged =
      if (order.isEmpty) aligned
      else aligned.sortWithinPartitions(order.map(org.apache.spark.sql.functions.col): _*)
    val newFiles = writeFiles(table, arranged,
      ids = head.map(_.evo.fieldIds).getOrElse(Map.empty))
    val manifest = writeManifest(table, newFiles, aligned.schema)
    commitTable(table, branch, None, epochStamp = epochStamp) { (parent, _) =>
      Some(Change(SnapshotOp.Append, Seq(manifest), _.copy(
        schemaDdl = if (parent.schemaDdl.nonEmpty) parent.schemaDdl else df.schema.toDDL)))
    }
  }

  /** One-call table ADOPTION (Iceberg's `snapshot`/`migrate` procedures
    * composed from [[addDataFiles]]): create `table` with the schema of
    * the parquet under `location` — read from ONE footer, no data IO —
    * then register every file in place. The result is a fully governed
    * lake table (branches, time travel, DML, audits) over data that was
    * never copied; the source directory keeps working for whatever
    * wrote it (graft never owns imported files — see addDataFiles). */
  def snapshotTable(table: String, location: String,
      branch: String = "main"): AddFilesResult = {
    require(!tableExists(table, branch),
      s"$table already exists on $branch — add_files imports into existing tables")
    val locPath = new Path(location)
    require(fs.exists(locPath), s"snapshot_table location not found: $location")
    def firstParquet(st: org.apache.hadoop.fs.FileStatus): Option[Path] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).sortBy(_.getPath.getName)
          .filterNot(c => c.getPath.getName.startsWith("_") ||
            c.getPath.getName.startsWith("."))
          .iterator.flatMap(firstParquet).nextOption()
      else Option(st.getPath).filter(_.getName.endsWith(".parquet"))
    val probe = firstParquet(fs.getFileStatus(locPath)).getOrElse(
      sys.error(s"no parquet files under $location"))
    val schema = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
        fs.getFileStatus(probe), spark.sparkContext.hadoopConfiguration)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try org.apache.spark.sql.graft.Bridge.parquetFooterSchema(
        reader.getFooter.getFileMetaData, spark.sparkContext.hadoopConfiguration)
      finally reader.close()
    }
    createTableIfNotExists(table, schema, branch)
    try addDataFiles(table, location, branch)
    catch { case e: Throwable => dropTable(table, branch); throw e }
  }

  /** METADATA-ONLY file import (W82 — Iceberg's `add_files`/`migrate`
    * procedure, Hive-external-table ownership semantics): register
    * already-existing parquet files as table data WITHOUT copying or
    * rewriting a byte. This is the 100 TB onboarding path — adopting a
    * petabyte of historical parquet into the lake costs one distributed
    * footer pass (stats) plus one O(files-imported) commit, not a
    * rewrite of the corpus.
    *
    *  - Files stay IN PLACE at `location` and are never owned: expiry
    *    GC deletes only files under the table's own data directory, so
    *    dropping imported manifests (after a compaction rewrote them)
    *    leaves the source files untouched — removing them is the
    *    importer's job.
    *  - Footer stats (exact min/max/null counts) are collected by ONE
    *    Spark job over the file list — the driver never opens an
    *    imported footer — so imported files stats-prune, feed manifest
    *    bounds and metadata-only aggregates exactly like written files.
    *    Foreign physical forms are normalized or dropped, never
    *    mis-read ([[BranchCatalog.footerMetaFrom]]).
    *  - Every distinct file schema is verified against the table
    *    (exact type equality — import never rewrites, so nothing can
    *    widen; extra file columns refuse loudly; missing table columns
    *    must be nullable or carry an initial DEFAULT, and read as such).
    *  - On a hidden-partitioned table, each file's transform value is
    *    DERIVED where footer stats PROVE it (zero source-column nulls
    *    and the transform provably constant: equal rendered bounds for
    *    the order-preserving transforms, equal raw bounds for bucket) —
    *    proven files partition-prune like written ones; unproven files
    *    import with no transform value (always scanned, never wrongly
    *    pruned, and storage-partitioned join planning degrades to the
    *    ordinary scan rather than trusting them).
    *  - Imported files carry no graft field ids, so the table switches
    *    to name-based column resolution ([[SchemaEvo.idlessFiles]]):
    *    refused while a RENAME's old-name files pend (and renames
    *    refuse afterwards) until a full rewrite stamps ids everywhere.
    *  - CHECK constraints are validated with one read of ONLY the
    *    imported files before anything commits (the one step that must
    *    read data — constraint tables cannot admit unvalidated rows).
    *
    * `location` may be a single parquet file or a directory tree
    * (hidden `_`/`.` entries skipped). Hive-style `key=value`
    * directory names are NOT parsed — partition columns must be
    * present in the files themselves (values live in data, transform
    * values re-derive from stats). */
  def addDataFiles(table: String, location: String,
      branch: String = "main"): AddFilesResult = {
    import org.apache.spark.sql.functions.{col => fcol}
    val (cur, props) = headState(table, branch)
    val schema = StructType.fromDDL(cur.schemaDdl)
    require(!cur.evo.renamedFiles,
      s"$table has files written under pre-rename column names; imported " +
        "files would make every read name-based and misread them — rewrite " +
        "first (compactDataFiles), then import")

    // ---- candidate list (driver walks DIRECTORIES, never footers) ----
    val locPath = new Path(location)
    require(fs.exists(locPath), s"add_files location not found: $location")
    def hidden(n: String): Boolean = n.startsWith("_") || n.startsWith(".")
    val candidates: Seq[org.apache.hadoop.fs.FileStatus] = {
      val rootSt = fs.getFileStatus(locPath)
      if (!rootSt.isDirectory) {
        if (rootSt.getPath.getName.endsWith(".parquet")) Seq(rootSt) else Seq.empty
      } else {
        // ONE paged recursive enumeration (`listFiles(recursive)`) —
        // object stores serve it as a flat prefix listing, O(pages),
        // instead of O(directories) sequential RPCs a per-dir walk costs
        // on a million-file import. Hidden-dir descendants filter by
        // relative path component (the iterator cannot skip subtrees).
        val base = fs.makeQualified(locPath).toUri.getPath.stripSuffix("/") + "/"
        val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
        val it = fs.listFiles(locPath, true)
        while (it.hasNext) {
          val st = it.next()
          val rel = st.getPath.toUri.getPath.stripPrefix(base)
          if (st.getPath.getName.endsWith(".parquet") &&
              !rel.split("/").exists(hidden)) out += st
        }
        out.result()
      }
    }
    require(candidates.nonEmpty, s"no parquet files under $location")
    val rootQ = fs.makeQualified(rootPath).toString.stripSuffix("/") + "/"
    candidates.foreach(st => require(!st.getPath.toString.startsWith(rootQ),
      s"${st.getPath} lies inside the catalog root — files there are owned " +
        "by a table (or are orphans: remove_orphan_files); import external " +
        "locations only"))

    // ---- duplicate guard (Iceberg check_duplicate_files): a re-import
    // would double-count rows. Above the metadata threshold the live
    // side stays a distributed manifest-entry frame. Both sides compare
    // FULLY-QUALIFIED URIs (scheme + authority + normalized path) —
    // stripping the scheme would alias same-keyed files on different
    // filesystems/buckets into a spurious "already referenced" refusal.
    val defaultUri = fs.getUri
    val wd = fs.getWorkingDirectory
    def qual(p: String): String =
      new Path(p).makeQualified(defaultUri, wd).toString
    val candQual = candidates.map(st => qual(st.getPath.toString)).toSet
    val dups: Seq[String] =
      if (cur.manifests.map(_.fileCount).sum > distributedMetaThreshold) {
        import spark.implicits._
        val wdStr = wd.toString
        val qualUdf = org.apache.spark.sql.functions.udf(
          (p: String) => new Path(p).makeQualified(defaultUri, new Path(wdStr)).toString)
        candQual.toSeq.toDF("path").join(
            manifestEntriesOf(cur.manifests.map(_.path))
              .select(qualUdf(fcol("path")).as("path")).distinct(),
            Seq("path"), "left_semi")
          .collect().map(_.getString(0)).toSeq
      } else filesOf(cur).map(f => qual(f.path)).filter(candQual.contains)
    require(dups.isEmpty,
      s"add_files: ${dups.size} file(s) already referenced by $table, e.g. " +
        dups.take(3).mkString(", "))

    // ---- ONE distributed footer pass: stats + per-file schema ----
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val paths = candidates.map(_.getPath.toString)
    val slices = math.max(1, math.min(paths.size,
      spark.sparkContext.defaultParallelism))
    val collected: Seq[(DataFileMeta, String)] = spark.sparkContext
      .parallelize(paths, slices)
      .map { p =>
        val conf = confBc.value.value
        val fp = new Path(p)
        val st = fp.getFileSystem(conf).getFileStatus(fp)
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val footer = reader.getFooter
          (BranchCatalog.footerMetaFrom(st, footer),
            org.apache.spark.sql.graft.Bridge
              .parquetFooterSchema(footer.getFileMetaData, conf).toDDL)
        } finally reader.close()
      }
      .collect().toSeq

    // ---- schema verification, once per DISTINCT file schema ----
    val tblByName = schema.fields.map(f => f.name -> f).toMap
    collected.map(_._2).distinct.foreach { ddl =>
      val fileSchema = StructType.fromDDL(ddl)
      fileSchema.fields.foreach { ff =>
        tblByName.get(ff.name) match {
          case None => throw new IllegalArgumentException(
            s"add_files: file column ${ff.name} is not a column of $table " +
              s"(file schema: $ddl) — it would be silently invisible; " +
              "imports require every file column to exist in the table")
          case Some(tf) => require(
            org.apache.spark.sql.graft.Bridge.asNullable(ff.dataType) ==
              org.apache.spark.sql.graft.Bridge.asNullable(tf.dataType),
            s"add_files: column ${ff.name} is ${ff.dataType.sql} in the file " +
              s"but ${tf.dataType.sql} in $table — import never rewrites " +
              "data, so types must match exactly")
        }
      }
      schema.fields.foreach { tf =>
        if (!fileSchema.fieldNames.contains(tf.name))
          require(tf.nullable || cur.evo.initDefaults.contains(tf.name),
            s"add_files: file lacks non-nullable column ${tf.name} " +
              s"(file schema: $ddl)")
      }
    }
    // Foreign writers may truncate binary min/max (parquet.statistics
    // .truncate.length) without marking it in pre-2.9 footers: bounds
    // stay PRUNING-sound (truncation only widens) but must never be
    // SERVED as exact MIN/MAX — the inexact flag demotes every manifest
    // these entries ever appear in to statsV=1 (writeManifest).
    val metas0 = collected.map(_._1.copy(inexact = true))

    // ---- CHECK constraints: the one step that must read data ----
    if (props.keys.exists(_.startsWith(BranchCatalog.ConstraintPrefix))) {
      val df = readFiles(
        BranchCatalog.readSchema(schema, cur.evo.copy(idlessFiles = true)), sized(metas0))
      // the same fused guard every write path uses: any violating row
      // raises with the constraint name BEFORE anything commits
      constraintGuard(df, props).count()
      ()
    }

    // ---- hidden-partition transform derivation from stats ----
    val fields = activeSpecsOf(cur.partitionSpec)
    val metas = derivePartitionValues(metas0, fields, schema)
    val pvProven = if (fields.isEmpty) 0L
      else metas.count(m => fields.forall(f =>
        m.partition.contains(f.key))).toLong

    // ---- one O(files-imported) commit, shaped exactly like an append ----
    val manifest = writeManifest(table, metas, schema)
    val committed = commitTable(table, branch, Some(cur), "add_files") { (_, _) =>
      Some(Change(SnapshotOp.AddFiles, Seq(manifest),
        c => c.copy(evo = c.evo.copy(idlessFiles = true))))
    }
    AddFilesResult(committed, metas.size.toLong, metas.map(_.rows).sum,
      metas.map(_.bytes).sum, pvProven)
  }

  /** Attach PROVEN hidden-partition transform values to imported file
    * metadata ([[addDataFiles]]). Per layout level: eligible files (rows,
    * zero source-column nulls, both bounds present; bucket additionally
    * needs equal raw bounds — a hash proves nothing about a range) run
    * their bounds through the EXACT write-path transform expression
    * ([[PartitionSpec.valueCol]], one tiny Spark job per level, never
    * per file) and a file is stamped only when both endpoints render the
    * same value — which, the transforms being order-preserving on the
    * stat domain (or the bounds equal), proves every row's value.
    * Float/double sources are skipped (foreign NaN stat conventions
    * vary); unproven files keep an empty map — never pruned, never
    * trusted by keyed-scan planning. */
  private def derivePartitionValues(
      metas: Seq[DataFileMeta], fields: Seq[PartitionSpec.SpecField],
      schema: StructType): Seq[DataFileMeta] = {
    import org.apache.spark.sql.functions.{col => fcol, lit}
    if (fields.isEmpty) return metas
    var out = metas.toIndexedSeq
    fields.map(f => (f.spec, f.id)).foreach { case (spec, i) =>
      schema.fields.find(_.name == spec.column).foreach { fld =>
        val dt = fld.dataType
        def typed(c: Column): Option[Column] = dt match {
          case TimestampType => Some(
            org.apache.spark.sql.functions.timestamp_micros(c.cast("long")))
          case TimestampNTZType => Some(
            // stat micros are UTC wall-clock micros; render them as the
            // NTZ value align() and the write path agree on
            org.apache.spark.sql.functions.convert_timezone(lit("UTC"),
              org.apache.spark.sql.functions.timestamp_micros(c.cast("long"))))
          case DateType => Some(
            org.apache.spark.sql.functions.date_from_unix_date(c.cast("int")))
          case StringType => Some(c)
          case BooleanType => Some(c === lit("true"))
          case ByteType | ShortType | IntegerType | LongType => Some(c.cast(dt))
          case _ => None // float/double/decimal/binary: never derived
        }
        val eligible = out.zipWithIndex.collect {
          case (m, j) if m.rows > 0 &&
              m.nullCounts.get(spec.column).contains(0L) &&
              m.lower.contains(spec.column) && m.upper.contains(spec.column) &&
              (spec match {
                case _: BucketPartition =>
                  m.lower(spec.column) == m.upper(spec.column)
                case _ => true
              }) =>
            (j, m.lower(spec.column), m.upper(spec.column))
        }
        if (eligible.nonEmpty && typed(fcol("__lo")).isDefined) {
          import spark.implicits._
          val base = eligible.toDF("__j", "__lo", "__hi")
          def pvOf(src: String, as: String) = base
            .select(fcol("__j"), typed(fcol(src)).get.as(spec.column))
            .select(fcol("__j"), spec.valueCol(dt).as(as))
          val proven: Map[Int, String] =
            pvOf("__lo", "__pvlo").join(pvOf("__hi", "__pvhi"), "__j")
              .where(fcol("__pvlo").isNotNull && fcol("__pvlo") === fcol("__pvhi"))
              .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
          out = out.zipWithIndex.map { case (m, j) =>
            proven.get(j) match {
              case Some(v) =>
                m.copy(partition = m.partition + (PartitionSpec.pvKey(i) -> v))
              case None => m
            }
          }
        }
      }
    }
    out
  }

  /** Fold a streaming epoch stamp into a refs document (monotone max —
    * replays never regress the record). See [[Refs.streamEpochs]]. */
  private def withEpochStamp(refs: Refs, stamp: Option[(String, Long)]): Refs =
    stamp match {
      case Some((key, epoch)) => refs.copy(streamEpochs = refs.streamEpochs
        .updated(key, math.max(refs.streamEpochs.getOrElse(key, Long.MinValue), epoch)))
      case None => refs
    }

  /** Highest epoch recorded as published for a streaming key (or None). */
  def streamEpochOf(key: String): Option[Long] =
    currentRefs().streamEpochs.get(key)

  /** Record an epoch WITHOUT data movement — the quarantine path of the
    * streaming sink (a failed audit publishes nothing to main, but the
    * epoch is done: its batch sits on the quarantine branch). */
  def stampStreamEpoch(key: String, epoch: Long): Unit = {
    commitRefs(refs => withEpochStamp(refs, Some((key, epoch))))
    ()
  }

  /** Merge-on-read UPSERT (CDC apply without file rewrites): ONE commit
    * carries a tombstone manifest for the source's key values (covering
    * only data up to the current snapshot) plus the source rows as a
    * normal data manifest — matching old rows are suppressed on read,
    * the new versions are visible, and NO existing file is rewritten.
    * This is the streaming-CDC shape at 100 TB: per-micro-batch cost is
    * O(batch) writes + O(1) metadata regardless of table size, where
    * copy-on-write [[upsert]] pays a rewrite of every file that MAY hold
    * a matching key. Compact periodically to materialize and keep the
    * tombstone generation count small. */
  def upsertKeysMOR(
      table: String, source: DataFrame, keyCols: Seq[String],
      branch: String = "main",
      epochStamp: Option[(String, Long)] = None,
      /** See [[mergeInto]]'s flag of the same name. */
      schemaEvolution: Boolean = false): Snapshot = {
    require(keyCols.nonEmpty, "upsertKeysMOR needs at least one key column")
    if (schemaEvolution) evolveSchemaForSource(table, source.schema, branch)
    val (cur, props) = headState(table, branch)
    requireTombstoneHeadroom(table, branch, cur, "upsertKeysMOR")
    requireNoLineage(table, branch, cur, "upsertKeysMOR")
    val schema = StructType.fromDDL(cur.schemaDdl)
    keyCols.foreach(c => require(schema.fieldNames.contains(c),
      s"upsert key column $c is not a column of $table"))
    val aligned = alignToSchema(source, schema, table, branch, Some(cur.evo), props)
    // the new versions are table DATA: on a partitioned table they carry
    // transform values like any append (key/tombstone files are not —
    // they are metadata the scan anti-joins, never partition-pruned)
    val dataFiles = writeFiles(table, aligned,
      specsOf(cur.partitionSpec), ids = cur.evo.fieldIds)
    val dataManifest = writeManifest(table, dataFiles, schema)
    // the tombstone's sequence equals the commit's, so it covers every
    // manifest with a LOWER sequence — all prior data, never the new
    // batch committed alongside it
    val delManifest = tombstone(table, cur,
      aligned.select(keyCols.map(org.apache.spark.sql.functions.col): _*).distinct(), keyCols)
    commitTable(table, branch, Some(cur), "MOR upsert", epochStamp) { (_, _) =>
      Some(Change(SnapshotOp.UpsertMor, Seq(dataManifest), withDeletes(_, delManifest)))
    }
  }

  /** APPLY one CDC batch — rows carrying `_change_type` insert/delete
    * (the W63 `t$changes` feed's shape) — in ONE atomic merge-on-read
    * commit: every touched key becomes an equality tombstone covering all
    * PRIOR data, and the per-key LATEST insert rows append as new data
    * files in the same snapshot (the tombstone's sequence covers only
    * lower sequences — [[upsertKeysMOR]]'s anchor trick, so the batch's
    * own inserts stay visible). Zero rewrites,
    * O(batch) at any table size: the lake-to-lake REPLICATION consumer.
    * KEYED semantics — the table's rows are unique per `keyCols` (the
    * standard CDC replication contract); feeds over multiset tables
    * need the net changelog applied by full rows instead.
    * Auto-creates a missing target with the batch's base schema. */
  def applyCdcMOR(
      table: String, changes: DataFrame, keyCols: Seq[String],
      branch: String = "main",
      epochStamp: Option[(String, Long)] = None,
      /** Replication following SOURCE schema changes (see [[mergeInto]]'s
        * flag): new columns in the feed's insert rows ADD to the replica,
        * widened types WIDEN — one evolveSchema commit before the apply,
        * so a `t$changes`-to-`t$changes` pipeline survives an upstream
        * ALTER without operator intervention. */
      schemaEvolution: Boolean = false): Snapshot = {
    import org.apache.spark.sql.functions.{col, lit, row_number, when}
    require(keyCols.nonEmpty, "applyCdcMOR needs at least one key column")
    require(changes.schema.fieldNames.contains("_change_type"),
      "a CDC batch carries _change_type (insert/delete) — got columns " +
        changes.schema.fieldNames.mkString(", "))
    val virtuals = Seq("_change_type", "_commit_seq", "_commit_snapshot_id")
      .filter(changes.schema.fieldNames.contains)
    // a batch spanning several source commits collapses per key to the
    // LAST change by _commit_seq — a key inserted then deleted within
    // the batch nets to absent. At EQUAL seq (one commit's transaction
    // form, e.g. a CoW rewrite's delete+insert carryover pair) the
    // INSERT wins: that is the commit's net. Without a _commit_seq
    // column the whole batch is one transaction under the same rule.
    val seqCol =
      if (changes.schema.fieldNames.contains("_commit_seq")) col("_commit_seq")
      else lit(0L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(seqCol.desc,
        when(col("_change_type") === "insert", 1).otherwise(0).desc)
    val latest = changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val inserts = latest.filter(col("_change_type") === "insert").drop(virtuals: _*)
    createTableIfNotExists(table, inserts.schema, branch)
    if (schemaEvolution) evolveSchemaForSource(table, inserts.schema, branch)
    val (cur, props) = headState(table, branch)
    val schema = StructType.fromDDL(cur.schemaDdl)
    keyCols.foreach(c => require(schema.fieldNames.contains(c),
      s"CDC key column $c is not a column of $table"))
    // EVERY touched key is tombstoned (it covers PRIOR data only), so a
    // cross-commit update pair replaces its old version cleanly — except
    // into an EMPTY table (the replication backfill epoch), where there
    // is no prior data to cover and the tombstone would be pure overhead
    val delKeys =
      if (cur.manifests.isEmpty) changes.select(keyCols.map(col): _*).limit(0)
      else changes.select(keyCols.map(col): _*).distinct()
    // an empty side writes no file and commits no manifest
    val dataFiles = writeRows(table, cur, alignToSchema(inserts, schema,
      table, branch, Some(cur.evo), props))
    val keyFiles = writeFiles(table, delKeys)
    if (dataFiles.isEmpty && keyFiles.isEmpty) {
      // empty batch: nothing to commit, but the delivery record must
      // still land for exactly-once replay
      epochStamp.foreach { case (k, e) => stampStreamEpoch(k, e) }
      return cur
    }
    if (keyFiles.nonEmpty) {
      requireTombstoneHeadroom(table, branch, cur, "applyCdcMOR")
      requireNoLineage(table, branch, cur, "applyCdcMOR")
    }
    val dataManifest =
      if (dataFiles.isEmpty) None else Some(writeManifest(table, dataFiles, schema))
    val delManifest =
      if (keyFiles.isEmpty) None
      else Some(writeManifest(table, keyFiles, schema)
        .copy(asOf = Some(cur.id), keyCols = keyCols))
    val op = (dataManifest, delManifest) match {
      case (Some(_), Some(_)) => SnapshotOp.UpsertMor
      case (Some(_), None) => SnapshotOp.Append
      case _ => SnapshotOp.DeleteMor
    }
    commitTable(table, branch, Some(cur), "CDC apply", epochStamp) { (_, _) =>
      Some(Change(op, dataManifest.toSeq, withDeletes(_, delManifest)))
    }
  }

  /** reference app.py:201-246 run_quality_checks scan: resolve
    * branch -> snapshot -> manifests -> file list and return a plain
    * parquet scan, so downstream filters/projections push into the
    * columnar reader exactly as the reference's
    * `scan(row_filter=..., selected_fields=...)`. When `filter` is given,
    * files whose footer min/max stats prove the predicate false are
    * pruned from the plan (manifest-level pruning), and the filter is
    * also applied row-level for exactness. Spark never lists the planned
    * files: [[readFiles]] hands them over with their manifest sizes, so
    * building the scan runs no Spark job. */
  def scan(table: String, branch: String = "main", filter: Option[Column] = None): DataFrame = {
    val refs = currentRefs()
    val b = refs.branches.getOrElse(branch, sys.error(s"no branch $branch"))
    val id = b.tables.getOrElse(table, sys.error(s"no table $table on branch $branch"))
    scanSnapshot(table, id, filter)
  }

  /** Time travel: read any historical snapshot by id.
    *
    * Scan planning is tiered on the snapshot's file count (known for free
    * from the manifest refs): beyond [[distributedMetaThreshold]] files,
    * manifests are read and stats-pruned as a SPARK JOB
    * ([[manifestEntries]] + [[mayMatchCol]]) and only the surviving
    * (path, bytes) pairs return to the driver; below it, the driver path
    * avoids the job-launch latency. Either way the driver never
    * materializes per-file stats for a large table, and the planned files
    * reach Spark through [[readFiles]], never through a listing. */
  def scanSnapshot(table: String, snapshotId: String, filter: Option[Column] = None): DataFrame =
    scanOf(table, loadSnapshot(table, snapshotId), filter)

  /** The rows of `snap`: its tombstones and sidecars applied when it has any. */
  private def scanOf(table: String, snap: Snapshot, filter: Option[Column]): DataFrame =
    if (snap.deleteManifests.isEmpty) scanPlain(snap, filter)
    else scanWithDeletes(table, snap, filter)

  /** The tombstone-free scan path (see [[scanSnapshot]] for the tiering):
    * the planned files read through [[readFiles]]. `withLineage` attaches
    * each row's physical position (`_metadata.file_path` /
    * `_metadata.row_index` as the
    * [[BranchCatalog.PosPathCol]]/[[BranchCatalog.PosIdxCol]] columns) —
    * the probe side of position-delete application. */
  private def scanPlain(
      snap: Snapshot, filter: Option[Column], withLineage: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val schema = StructType.fromDDL(snap.schemaDdl)
    val files = plannedFiles(snap, filter).map(f => (f._1, f._2))
    val df =
      if (files.isEmpty)
        emptyFrame(if (!withLineage) schema
          else StructType(schema.fields ++ BranchCatalog.posDeleteSchema.fields))
      else {
        val raw = readFiles(BranchCatalog.readSchema(schema, snap.evo), files)
        if (!withLineage) raw
        else raw.select(col("*"), col("_metadata.file_path").as(BranchCatalog.PosPathCol),
          col("_metadata.row_index").as(BranchCatalog.PosIdxCol))
      }
    filter.fold(df)(df.filter)
  }

  // ---- the commit kernel -------------------------------------------------

  /** The derivation rule: a child of `parent` gets a fresh id, `parent`
    * as its parent, now as its commit time and `parent.seq + 1` as its
    * sequence; it carries the manifests, delete manifests, schema,
    * partition spec, column-identity state and row lineage, and clears
    * the sort contracts (only a sorting rewrite can vouch for them). */
  private def childOf(parent: Snapshot, op: SnapshotOp): Snapshot =
    parent.copy(id = newId(), parentId = Some(parent.id),
      committedAtMillis = System.currentTimeMillis(), seq = parent.seq + 1,
      sortOrder = Nil, sortWithinPartitions = Nil, op = op.name)

  /** `change` applied to `parent`: the edited child with the fresh
    * manifests stamped with its sequence and appended. Once lineage is
    * enabled (W73) they also get consecutive row-id bases from the
    * table's GLOBAL counter in `refs` ([[Refs.rowIds]] — Iceberg v3
    * `next-row-id`), seeded max-wise by the child's own high-water mark
    * (metadata written before the counter moved global; the mark
    * [[enableRowLineage]] sets). Ranges advance by each manifest's TOTAL
    * row count (gaps allowed — a rewrite-carried row still consumes its
    * slot), so ids are unique and stable, never dense. Runs INSIDE the
    * refs-commit closure, so a lost race re-allocates from the winner's
    * high-water mark: ranges are unique across every branch and every
    * racing committer. Returns the refs with the advanced counter — the
    * caller must commit THAT refs. */
  private def derive(refs: Refs, table: String, parent: Snapshot,
      change: Change): (Refs, Snapshot) = {
    val child = change.edit(childOf(parent, change.op))
    if (!child.lin.enabled)
      (refs, child.copy(manifests = child.manifests ++ change.fresh.map(_.copy(seq = child.seq))))
    else {
      val key = physDir(table)
      var next = math.max(refs.rowIds.getOrElse(key, 0L), child.lin.next)
      val stamped = change.fresh.map { m =>
        val r = m.copy(seq = child.seq, firstRowId = next); next += m.rows; r
      }
      (refs.copy(rowIds = refs.rowIds.updated(key, next)),
        child.copy(manifests = child.manifests ++ stamped, lin = RowLin(enabled = true, next = next)))
    }
  }

  /** A full rewrite's child: no kept manifest or tombstone survives, and
    * every file carries current names and field ids again. */
  private def fullRewrite(c: Snapshot): Snapshot =
    c.copy(manifests = Nil, deleteManifests = Nil, evo = c.evo.afterFullRewrite)

  /** The write-and-point step: writes `child` and points `table` at it. */
  private def publish(table: String, child: Snapshot,
      tables: Map[String, String]): Map[String, String] = {
    writeSnapshot(table, child)
    tables.updated(table, child.id)
  }

  /** Commits `table`'s next snapshot on `branch` in one refs swap and
    * returns it. With `expect` — the head the operation planned against —
    * a head that moved since refuses as a concurrent commit `during` the
    * operation; without it the commit rebases onto the fresh head.
    * `change` sees that head and its branch's state, and may refuse
    * (throw) or return None to commit nothing (the head is returned).
    * `epochStamp` lands in the same swap ([[withEpochStamp]]). */
  private def commitTable(table: String, branch: String, expect: Option[Snapshot],
      during: String = "", epochStamp: Option[(String, Long)] = None)(
      change: (Snapshot, BranchState) => Option[Change]): Snapshot =
    commitRefsFor { refs =>
      val b = refs.branches.getOrElse(branch, sys.error(s"no branch $branch"))
      val head = expect match {
        case Some(e) =>
          require(b.tables.get(table).contains(e.id),
            s"concurrent commit on $table@$branch during $during")
          e
        case None => loadSnapshot(table,
          b.tables.getOrElse(table, sys.error(s"no table $table on $branch")))
      }
      change(head, b) match {
        case None => (refs, head)
        case Some(c) =>
          val (refs2, child) = derive(refs, table, head, c)
          (withEpochStamp(refs2.copy(branches = refs2.branches.updated(branch,
            b.copy(tables = publish(table, child, b.tables)))), epochStamp), child)
      }
    }._2

  // ---- row lineage (W73 — Iceberg v3 row tracking) ----------------------

  /** Normalize a path for joining manifest metadata against Spark's
    * `_metadata.file_path` (which always carries a scheme). */
  private def barePath(c: Column): Column =
    org.apache.spark.sql.functions.regexp_replace(c, "^file:/{1,2}", "/")

  /** The per-file lineage map of a snapshot: (file path, id base, commit
    * seq) — O(files) metadata rows, broadcast onto scans. Base =
    * manifest base + the entry's offset ([[DataFileMeta.firstRowId]]);
    * folded manifests store absolute offsets over base 0, so folding
    * never moves an id. */
  private def lineageFileMap(snap: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    snap.manifests.foreach(m => require(m.firstRowId >= 0L,
      s"manifest ${m.path} predates row lineage — run enableRowLineage first"))
    if (snap.manifests.size <= 4) {
      // few manifests: the driver metadata loop beats launching a job
      val rows = snap.manifests.flatMap { m =>
        readManifest(m.path).map { f =>
          require(f.firstRowId >= 0L,
            s"file ${f.path} has no lineage offset — run enableRowLineage first")
          (f.path, m.firstRowId + f.firstRowId, m.seq)
        }
      }
      spark.createDataFrame(rows).toDF("__lin_path", "__lin_base", "__lin_seq")
        .select(barePath(col("__lin_path")).as("__lin_path"),
          col("__lin_base"), col("__lin_seq"))
    } else {
      // the W17 invariant on a SCAN path: per-file offsets come from the
      // DISTRIBUTED manifest-entry read (executors fetch the manifest
      // JSONs); only the O(manifests) (path, base, seq) list — which the
      // snapshot document already holds — rides from the driver.
      val bases = spark.createDataFrame(
        snap.manifests.map(m => (m.path, m.firstRowId, m.seq)))
        .toDF("__lin_mpath", "__lin_mbase", "__lin_seq")
        .select(barePath(col("__lin_mpath")).as("__lin_mpath"),
          col("__lin_mbase"), col("__lin_seq"))
      manifestEntries(snap)
        .select(col("path"), col("firstRowId"),
          barePath(col("_metadata.file_path")).as("__lin_mpath"))
        .join(broadcast(bases), "__lin_mpath")
        .select(barePath(col("path")).as("__lin_path"),
          (col("__lin_mbase") + col("firstRowId")).as("__lin_base"),
          col("__lin_seq"))
    }
  }

  /** Scan one snapshot with its ROW LINEAGE: every user column plus
    * `_row_id` (stable row identity — survives compaction, sorting,
    * z-ordering and copy-on-write DML carries) and `_last_updated_seq`
    * (the commit sequence that last inserted/updated the row). Decode is
    * per file: physical [[BranchCatalog.RowIdCol]]/[[BranchCatalog
    * .LastSeqCol]] columns win (rewrite outputs); NULL falls back to the
    * file's assigned base + `_metadata.row_index` / the manifest's seq —
    * one broadcast join against the O(files) lineage map, zero extra
    * data reads. Refuses pending tombstones (anti-joined rows have no
    * well-defined positions for sidecar stacking) — materialize first. */
  def scanLineage(table: String, branch: String = "main"): DataFrame = {
    val id = snapshotIdOf(table, branch).getOrElse(sys.error(s"no table $table on $branch"))
    scanLineageSnapshot(table, id)
  }

  def scanLineageSnapshot(table: String, snapshotId: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val snap = loadSnapshot(table, snapshotId)
    require(snap.lin.enabled,
      s"$table has no row lineage — run enableRowLineage first")
    // POSITION sidecars coexist with lineage (a suppressed position is
    // still a position — the Iceberg v3 deletion-vector + row-lineage
    // pairing); equality tombstones cannot (their write paths refuse on
    // lineage tables — this is the pre-enablement backstop)
    require(snap.deleteManifests.forall(_.posDelete),
      s"$table has pending equality tombstones — lineage scans need " +
        "materialized rows (compactDataFiles first)")
    currentRows(snap, filesOf(snap)).select(
      StructType.fromDDL(snap.schemaDdl).fieldNames.map(col).toIndexedSeq ++ Seq(
        col(BranchCatalog.RowIdCol).as("_row_id"),
        col(BranchCatalog.LastSeqCol).as("_last_updated_seq")): _*)
  }

  /** Turn row lineage ON for a table: one metadata commit that rewrites
    * each existing manifest FILE with per-entry offsets (pre-lineage
    * metadata lacks them) and assigns every manifest its id base — no
    * data file is read or written, O(manifests) metadata IO. Every later
    * commit assigns ranges automatically; copy-on-write rewrites then
    * MATERIALIZE carried rows' ids into their outputs. Idempotent. */
  def enableRowLineage(table: String, branch: String = "main"): Snapshot =
    commitTable(table, branch, None) { (cur, _) =>
      if (cur.lin.enabled) None
      else {
        // POSITION sidecars may stay pending (a suppressed position is
        // still a position — scans, rewrites and changelogs all handle
        // them); EQUALITY tombstones refuse, but the rewrite-free path
        // is [[convertTombstonesToPositional]], never a forced compact
        require(cur.deleteManifests.forall(_.posDelete),
          s"$table@$branch has pending EQUALITY tombstones — run " +
            "convertTombstonesToPositional (zero rewrites) or " +
            "compactDataFiles before enabling row lineage")
        var next = 0L
        val stamped = cur.manifests.map { m =>
          val ref = ensureManifestOffsets(table, m).copy(firstRowId = next)
          next += m.rows
          ref
        }
        // the kernel seeds the GLOBAL counter ([[Refs.rowIds]]) from this
        // mark in the same swap, max-wise (another branch may have
        // enabled/allocated already): every branch allocates above this
        // table's historical rows. No data moves, so sort contracts hold.
        Some(Change(SnapshotOp.Schema, edit = _.copy(manifests = stamped,
          sortOrder = cur.sortOrder, sortWithinPartitions = cur.sortWithinPartitions,
          lin = RowLin(enabled = true, next = next))))
      }
    }

  /** The manifest with per-entry row-id OFFSETS guaranteed: identity when
    * the entries already carry them (everything written since W73),
    * otherwise the manifest FILE is rewritten with the offsets filled —
    * same entries, new uuid path. The ref's BASE is left untouched;
    * callers assign it. O(1 manifest read [+ write]), no data IO. */
  private def ensureManifestOffsets(table: String, m: ManifestRef): ManifestRef = {
    val entries = readManifest(m.path)
    if (entries.forall(_.firstRowId >= 0L)) m
    else {
      val withOff = entries.zip(entries.scanLeft(0L)(_ + _.rows))
        .map { case (f, off) => f.copy(firstRowId = off) }
      val p = new Path(rootPath,
        s"tables/${physDir(table)}/meta/manifest-${UUID.randomUUID().toString.take(16)}.json")
      require(writeString(p, Serialization.write(withOff)),
        s"manifest ${p.getName} already exists for $table")
      m.copy(path = p.toString)
    }
  }

  /** Attach MATERIALIZED lineage columns to a rewrite's input rows: the
    * decoded `__graft_row_id` for every row (so the rewrite output
    * carries it physically) and `__graft_last_seq` as the decoded OLD
    * value (the caller nulls it for rows the commit changes — NULL
    * inherits the new manifest's seq at read). No-op frame when lineage
    * is off. `df` must be the PLAIN read of exactly `files` (row order
    * preserved — `_metadata` resolves per file). */
  private def withMaterializedLineage(
      df: DataFrame, snap: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col}
    if (!snap.lin.enabled) df
    else {
      // input files from an earlier rewrite may already carry physical
      // lineage columns (read them via [[lineageReadSchema]]); they win
      val hasPhys = df.columns.contains(BranchCatalog.RowIdCol)
      val cols = df.columns.toSeq
        .filterNot(c => c == BranchCatalog.RowIdCol || c == BranchCatalog.LastSeqCol)
      def withPhys(virt: Column, phys: String): Column =
        if (hasPhys) coalesce(col(phys), virt) else virt
      df.select(col("*"),
        barePath(col("_metadata.file_path")).as("__lin_path"),
        col("_metadata.row_index").as("__lin_idx"))
        .join(broadcast(lineageFileMap(snap)), Seq("__lin_path"))
        .select(cols.map(col) ++ Seq(
          withPhys(col("__lin_base") + col("__lin_idx"), BranchCatalog.RowIdCol)
            .as(BranchCatalog.RowIdCol),
          withPhys(col("__lin_seq"), BranchCatalog.LastSeqCol)
            .as(BranchCatalog.LastSeqCol)): _*)
    }
  }

  /** The read schema a REWRITE input scan must request once lineage is
    * on: the usual [[BranchCatalog.readSchema]] plus the physical
    * lineage columns (NULL for files that never materialized them). */
  private def lineageReadSchema(schema: StructType, snap: Snapshot): StructType = {
    val base = BranchCatalog.readSchema(schema, snap.evo)
    if (!snap.lin.enabled) base
    else StructType(base.fields ++ Seq(
      StructField(BranchCatalog.RowIdCol, LongType),
      StructField(BranchCatalog.LastSeqCol, LongType)))
  }

  /** The input rows of a WHOLE-TABLE rewrite when lineage is on: every
    * row with its lineage MATERIALIZED as physical columns and pending
    * POSITION deletes applied (compaction is how sidecars materialize;
    * equality tombstones cannot exist on lineage tables — their write
    * paths refuse). Falls back to the ordinary snapshot scan while
    * lineage is off. */
  private def rewriteScan(table: String, snapshotId: String): DataFrame = {
    val cur = loadSnapshot(table, snapshotId)
    if (!cur.lin.enabled) scanSnapshot(table, snapshotId)
    else {
      require(cur.deleteManifests.forall(_.posDelete),
        s"$table has pending equality tombstones with row lineage on — unreachable")
      currentRows(cur, filesOf(cur))
        .drop(BranchCatalog.PosPathCol, BranchCatalog.PosIdxCol)
    }
  }

  // ---- the file-selection and rewrite kernel ----------------------------
  //
  // Every read planner, row-level DML and compaction makes the same few
  // decisions: which files of which manifests a predicate selects, what
  // a commit does with each manifest it took files from, how a position
  // sidecar is written, how manifests group into coverage epochs, and how
  // a whole table is rewritten. Each is written once, here.

  /** The head snapshot of table@branch. */
  private def headOf(table: String, branch: String): Snapshot =
    loadSnapshot(table, snapshotIdOf(table, branch)
      .getOrElse(sys.error(s"no table $table on $branch")))

  /** No rows of `schema`, as an empty local relation: Spark's optimizer
    * folds the filters, projections, joins and grouped aggregates above
    * it away, and [[graft.sql.GraftMetaAggStrategy]] answers a global
    * aggregate over it, so a fully pruned read runs no Spark job. */
  private def emptyFrame(schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  /** The file selection: for each manifest of `snap`, in order, the files
    * the partition, stats and bloom prune admits under `cond` and that
    * `admit` keeps ([[Picked]]). Only the manifests the manifest-list
    * prune admits are read, concurrently as [[filesOf]] reads them.
    * Unsupported predicate shapes admit every file (pruning is sound,
    * never required). With `after`, an earlier selection over the same
    * snapshot, it selects among the files that one did not take, and
    * reuses the entries of the manifests that one read. */
  private def selectFiles(snap: Snapshot, cond: Option[Column],
      admit: DataFileMeta => Boolean = _ => true, after: Seq[Picked] = Nil): Seq[Picked] =
    selectResolved(snap, cond.flatMap(resolvedOn(snap, _)), admit, after)

  /** `cond` resolved against `snap`'s schema, with that schema. */
  private def resolvedOn(snap: Snapshot, cond: Column): Option[(Expression, StructType)] = {
    val schema = StructType.fromDDL(snap.schemaDdl)
    resolvePredicate(cond, schema).map(_ -> schema)
  }

  /** [[selectFiles]] under a predicate already resolved ([[resolvedOn]]). */
  private def selectResolved(snap: Snapshot, pred: Option[(Expression, StructType)],
      admit: DataFileMeta => Boolean = _ => true, after: Seq[Picked] = Nil): Seq[Picked] = {
    lazy val specs = specsOf(snap.partitionSpec)
    val kept = pred.fold(snap.manifests) { case (p, schema) => manifestsFor(snap, p, schema) }
    val known = after.collect { case p if p.files.nonEmpty => p.m.path -> p.rest }.toMap
    val fresh = kept.filterNot(m => known.contains(m.path))
    val bloom = new BloomProbe(kept)
    val read = kept.flatMap(m => known.get(m.path).map(m.path -> _)).toMap ++
      fresh.map(_.path).zip(manifestFiles(fresh))
    snap.manifests.map { m =>
      val files = read.getOrElse(m.path, Nil)
      val admitted = files.filter(admit)
      Picked(m, files, pred.fold(admitted) { case (p, schema) =>
        pruneFiles(admitted, p, schema, specs, bloom) })
    }
  }

  /** The read planner: (path, bytes, transform value under `pvKey`) of
    * every file of `snap` the selection admits under `cond`; above
    * [[distributedMetaThreshold]] files the same prune runs as a Spark
    * job ([[distributedPrunedFilesPv]]) and only the survivors return. */
  private def plannedFiles(snap: Snapshot, cond: Option[Column], pvKey: String = "pv")
      : Seq[(String, Long, Option[String])] =
    if (snap.manifests.map(_.fileCount).sum > distributedMetaThreshold)
      distributedPrunedFilesPv(snap, cond, StructType.fromDDL(snap.schemaDdl), pvKey)
    else selectFiles(snap, cond).flatMap(_.hit)
      .map(f => (f.path, f.bytes, f.partition.get(pvKey)))

  /** The carry rule, per picked manifest whose `hit` files leave the
    * table: untouched, it is carried by reference; partly emptied, it is
    * re-manifested around its survivors at the commit's sequence (a
    * rewrite) or, with `keepSeq`, at its own (a positional drop: sidecars
    * pending against it must still cover the survivors); emptied, it
    * drops. */
  private def carry(table: String, cur: Snapshot, picked: Seq[Picked],
      keepSeq: Boolean = false): Seq[ManifestRef] = {
    val schema = StructType.fromDDL(cur.schemaDdl)
    picked.flatMap { p =>
      val survivors = p.rest
      if (p.hit.isEmpty) Some(p.m)
      else if (survivors.isEmpty) None
      else Some(writeCarriedManifest(table, p.m, survivors, schema, cur.lin.enabled)
        .copy(seq = if (keepSeq) p.m.seq else cur.seq + 1))
    }
  }

  /** Re-manifest a SUBSET of one manifest's files without moving their
    * row ids (W73): entries are rewritten with their ABSOLUTE bases and
    * the new ref's base is 0, so carried rows decode unchanged whatever
    * subset survives. Plain re-manifest while lineage is off. */
  private def writeCarriedManifest(table: String, src: ManifestRef,
      subset: Seq[DataFileMeta], schema: StructType,
      linEnabled: Boolean): ManifestRef =
    if (!linEnabled) writeManifest(table, subset, schema)
    else {
      require(src.firstRowId >= 0L,
        s"manifest ${src.path} predates row lineage — run enableRowLineage first")
      val abs = subset.map(f => f.copy(firstRowId = src.firstRowId + f.firstRowId))
      writeManifest(table, abs, schema, preserveRowIds = true).copy(firstRowId = 0L)
    }

  /** [[writeFiles]] of table rows under `cur`'s layout and field ids. */
  private def writeRows(table: String, cur: Snapshot, df: DataFrame,
      sortCols: Seq[String] = Nil): Seq[DataFileMeta] =
    writeFiles(table, df, specsOf(cur.partitionSpec), sortCols, cur.evo.fieldIds)

  /** The current rows of `files` (data files of `cur`) as a rewrite or a
    * positional mark reads them: the schema columns, the lineage columns
    * decoded when `decode` and lineage is on (physical values win), each
    * row's position ([[BranchCatalog.PosPathCol]]/[[BranchCatalog
    * .PosIdxCol]]), and no row a pending position sidecar of `cur`
    * suppresses — so a stacked positional op never re-marks, re-updates
    * or double-counts a suppressed row. Positions are captured in the
    * first projection: a later select could no longer resolve the hidden
    * `_metadata` struct. */
  private def currentRows(cur: Snapshot, files: Seq[DataFileMeta],
      decode: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col}
    val (pathCol, idxCol) = (BranchCatalog.PosPathCol, BranchCatalog.PosIdxCol)
    val schema = StructType.fromDDL(cur.schemaDdl)
    val read = lineageReadSchema(schema, cur)
    if (files.isEmpty)
      return emptyFrame(StructType(read.fields ++ BranchCatalog.posDeleteSchema.fields))
    val raw = readFiles(read, sized(files)).select(col("*"),
      col("_metadata.file_path").as(pathCol), col("_metadata.row_index").as(idxCol))
    val dec =
      if (!decode || !cur.lin.enabled) raw
      else raw.join(broadcast(lineageFileMap(cur)), barePath(col(pathCol)) === col("__lin_path"))
        .select(schema.fieldNames.map(col).toIndexedSeq ++ Seq(
          coalesce(col(BranchCatalog.RowIdCol), col("__lin_base") + col(idxCol))
            .as(BranchCatalog.RowIdCol),
          coalesce(col(BranchCatalog.LastSeqCol), col("__lin_seq")).as(BranchCatalog.LastSeqCol),
          col(pathCol), col(idxCol)): _*)
    val sidecars = cur.deleteManifests.filter(_.posDelete).flatMap(m => readManifest(m.path))
    if (sidecars.isEmpty) dec
    else dec.join(readFiles(BranchCatalog.posDeleteSchema, sized(sidecars)),
      Seq(pathCol, idxCol), "left_anti")
  }

  /** The one position-sidecar write: the position columns of `marks`
    * (rows of [[currentRows]], which already drops every position a
    * pending sidecar holds) as a position-delete manifest anchored at
    * `cur`; None when nothing is marked. The commit stamps its sequence
    * ([[withDeletes]]). */
  private def writeSidecar(table: String, cur: Snapshot, marks: DataFrame): Option[ManifestRef] = {
    val keyCols = Seq(BranchCatalog.PosPathCol, BranchCatalog.PosIdxCol)
    val files = writeFiles(table, marks.select(keyCols.map(marks.col): _*))
    if (files.isEmpty) None
    else Some(writeManifest(table, files, BranchCatalog.posDeleteSchema)
      .copy(asOf = Some(cur.id), keyCols = keyCols, posDelete = true))
  }

  /** The equality tombstone of `keys` (distinct key rows of `cur`'s
    * table), anchored at `cur`; None when there are no keys, so an empty
    * delete leaves no pending tombstone. The commit stamps its sequence
    * ([[withDeletes]]): the delete applies to data committed before it,
    * never to later appends. */
  private def tombstone(table: String, cur: Snapshot, keys: DataFrame,
      keyCols: Seq[String]): Option[ManifestRef] = {
    val files = writeFiles(table, keys)
    if (files.isEmpty) None
    else Some(writeManifest(table, files, StructType.fromDDL(cur.schemaDdl))
      .copy(asOf = Some(cur.id), keyCols = keyCols))
  }

  /** `c` with `dels` added to its pending deletes, stamped with `c`'s
    * sequence: a delete covers exactly the data committed before it
    * (`m.seq < d.seq`), never the data committed alongside it. */
  private def withDeletes(c: Snapshot, dels: Iterable[ManifestRef]): Snapshot =
    c.copy(deleteManifests = c.deleteManifests ++ dels.map(_.copy(seq = c.seq)))

  /** The rows of the `hit` files of `picked`, read for a copy-on-write
    * rewrite: lineage materialized ([[withMaterializedLineage]]) from the
    * touched manifests' lineage map. */
  private def rewriteRows(cur: Snapshot, picked: Seq[Picked]): DataFrame = {
    val read = lineageReadSchema(StructType.fromDDL(cur.schemaDdl), cur)
    val touched = picked.filter(_.hit.nonEmpty)
    if (touched.isEmpty) emptyFrame(read)
    else withMaterializedLineage(readFiles(read, sized(touched.flatMap(_.hit))),
      cur.copy(manifests = touched.map(_.m)))
  }

  /** Commits a copy-on-write rewrite of `cur`: the `written` files as one
    * fresh manifest beside the `carried` ones ([[carry]]). Refuses
    * pending tombstones: the two delete representations never
    * interleave. */
  private def commitRewrite(table: String, branch: String, cur: Snapshot, op: SnapshotOp,
      during: String, carried: Seq[ManifestRef], written: Seq[DataFileMeta]): Snapshot = {
    val fresh =
      if (written.isEmpty) Nil
      else Seq(writeManifest(table, written, StructType.fromDDL(cur.schemaDdl)))
    commitTable(table, branch, Some(cur), during) { (_, _) =>
      requireNoTombstones(table, branch, cur)
      Some(Change(op, fresh, _.copy(manifests = carried)))
    }
  }

  /** The row-outcome evaluator behind MERGE and UPDATE, copy-on-write
    * and merge-on-read: `body` runs over the outcome of each of the
    * `candidates` rows ([[Outcomes]]). A row gets the first of `arms`
    * that fires on it (a NULL condition does not fire); a row no arm
    * fires on is kept where `keepUnfired` holds and dropped elsewhere (a
    * MERGE source-only row). `target` and `source` read a column of the
    * row's two sides: `t.x` and `s.x` over a MERGE join, `x` over a bare
    * scan. */
  private def withOutcomes[T](cur: Snapshot, props: Map[String, String],
      candidates: DataFrame, arms: Seq[Arm],
      target: String => Column = org.apache.spark.sql.functions.col,
      source: String => Column = org.apache.spark.sql.functions.col,
      keepUnfired: Column = org.apache.spark.sql.functions.lit(true))(
      body: Outcomes => T): T = {
    val o = new Outcomes(cur, props, candidates, arms, target, source, keepUnfired)
    try body(o) finally { o.rows.unpersist(); () }
  }

  /** The labeled rows of one [[withOutcomes]] evaluation, persisted while
    * it runs, and what the two write shapes take of them: copy-on-write
    * writes [[kept]] ([[writeRows]]); merge-on-read marks [[marks]]
    * ([[writeSidecar]]) and appends [[appended]] ([[commitPositional]]).
    * Every written row follows the same rules: the firing arm's SET cast
    * to each column's declared type over the target's values (an
    * insert's come from the source); row lineage per W73 (`_row_id` kept
    * unless the row is an insert, `_last_updated_seq` NULL, so it
    * inherits the commit's sequence at read); generated columns computed
    * or validated ([[generatedGuard]] — explicit where the firing arm
    * SETs the column or the row is an insert) and CHECK constraints
    * enforced ([[constraintGuard]]). Rows carried through are exempt from
    * both guards. */
  private final class Outcomes(cur: Snapshot, props: Map[String, String],
      candidates: DataFrame, arms: Seq[Arm], target: String => Column,
      source: String => Column, keepUnfired: Column) {
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum, when}
    private val (armCol, unfired, dropped) = ("__arm", -1, -2)
    private val arm = col(armCol)
    val rows: DataFrame = candidates.withColumn(armCol,
      arms.zipWithIndex.foldRight(when(keepUnfired, unfired).otherwise(dropped)) {
        case ((a, i), rest) => when(coalesce(a.fire, lit(false)), i).otherwise(rest)
      }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    private def is(kind: Arm.Kind): Column = {
      val ids = arms.indices.filter(arms(_).kind == kind)
      if (ids.isEmpty) lit(false) else arm.isin(ids: _*)
    }
    private val (isU, isD, isI) = (is(Arm.Update), is(Arm.Delete), is(Arm.Insert))

    /** (updated, deleted, inserted) row counts, by one aggregate. */
    lazy val counts: (Long, Long, Long) = {
      val r = rows.agg(sum(when(isU, 1L).otherwise(0L)),
        sum(when(isD, 1L).otherwise(0L)), sum(when(isI, 1L).otherwise(0L))).head
      def n(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
      (n(0), n(1), n(2))
    }

    /** Every row but the deleted and dropped ones, as written. */
    def kept: DataFrame = written(!isD && arm =!= dropped)

    /** The updated and inserted rows, as written. */
    def appended: DataFrame = written(isU || isI)

    /** The positions of the updated and deleted target rows. */
    def marks: DataFrame = rows.filter(isU || isD).select(
      target(BranchCatalog.PosPathCol).as(BranchCatalog.PosPathCol),
      target(BranchCatalog.PosIdxCol).as(BranchCatalog.PosIdxCol))

    private def written(keep: Column): DataFrame = {
      val schema = StructType.fromDDL(cur.schemaDdl)
      val wrote = isU || isI
      val values = schema.fields.map { f =>
        arms.zipWithIndex.foldLeft(when(isI, source(f.name)).otherwise(target(f.name))) {
          case (acc, (a, i)) if a.set.contains(f.name) =>
            when(arm === i, a.set(f.name).cast(f.dataType)).otherwise(acc)
          case (acc, _) => acc
        }.as(f.name)
      }
      val lineage =
        if (!cur.lin.enabled) Nil
        else Seq(
          when(isI, lit(null).cast("long"))
            .otherwise(target(BranchCatalog.RowIdCol)).as(BranchCatalog.RowIdCol),
          when(wrote, lit(null).cast("long"))
            .otherwise(target(BranchCatalog.LastSeqCol)).as(BranchCatalog.LastSeqCol))
      def explicit(c: String): Column =
        arms.indices.filter(arms(_).set.contains(c)).foldLeft(isI)((e, i) => e || arm === i)
      val out = rows.filter(keep).select((values ++ lineage :+ arm).toIndexedSeq: _*)
      constraintGuard(generatedGuard(out, cur, schema, wrote, explicit),
        props, Some(wrote)).drop(armCol)
    }
  }

  /** Commits the merge-on-read write shape: the `marks` sidecar
    * ([[writeSidecar]] of [[Outcomes.marks]]) beside `o`'s appended rows
    * as one fresh manifest. */
  private def commitPositional(table: String, branch: String, cur: Snapshot, op: SnapshotOp,
      during: String, marks: Option[ManifestRef], o: Outcomes): Snapshot = {
    val files = writeRows(table, cur, o.appended)
    val fresh =
      if (files.isEmpty) Nil
      else Seq(writeManifest(table, files, StructType.fromDDL(cur.schemaDdl)))
    commitTable(table, branch, Some(cur), during) { (_, _) =>
      Some(Change(op, fresh, withDeletes(_, marks)))
    }
  }

  /** The one whole-table rewrite: the head's current rows
    * ([[rewriteScan]] — pending deletes applied, lineage materialized)
    * laid out and written by `layout`, committed as one manifest in a
    * [[fullRewrite]] child that `edit` gives the op's own contract, then
    * the bloom indexes rebuilt on the new files ([[carryBloomIndexes]]). */
  private def rewriteWhole(table: String, branch: String, op: SnapshotOp,
      during: String = "compaction", edit: Snapshot => Snapshot = identity)(
      layout: (Snapshot, DataFrame) => Seq[DataFileMeta]): Snapshot = {
    val cur = headOf(table, branch)
    val written = layout(cur, rewriteScan(table, cur.id))
    val fresh =
      if (written.isEmpty) Nil
      else Seq(writeManifest(table, written, StructType.fromDDL(cur.schemaDdl)))
    val committed = commitTable(table, branch, Some(cur), during) { (_, _) =>
      Some(Change(op, fresh, c => edit(fullRewrite(c))))
    }
    carryBloomIndexes(table, cur, branch)
    committed
  }

  /** The coverage epochs of `snap`: its data manifests grouped by the
    * tombstones that cover them ([[tombstoneCovers]]), each with those
    * tombstones, fewest covering tombstones first. With sequence numbers
    * the signatures nest, so there are at most tombstones + 1 epochs. */
  private def epochsOf(table: String, snap: Snapshot): Seq[(Seq[ManifestRef], Seq[ManifestRef])] = {
    val covers = tombstoneCovers(table, snap)
    snap.manifests
      .groupBy(m => snap.deleteManifests.filter(d => covers(d, m)).map(_.path).toSet)
      .toSeq.sortBy { case (sig, _) => (sig.size, sig.toSeq.sorted.mkString("|")) }
      .map { case (sig, ms) => (ms, snap.deleteManifests.filter(d => sig.contains(d.path))) }
  }

  /** Does tombstone `d` cover data manifest `m` in `snap`? Sequence
    * comparison when the tombstone carries one (`m.seq < d.seq` — Iceberg
    * sequence-number semantics, robust to manifest folding); pre-r8
    * tombstones (seq 0) fall back to the `asOf` anchor snapshot's
    * manifest-path set, and a fallback whose anchor has been expired
    * covers everything (conservative: may re-suppress a re-appended key —
    * [[expireSnapshots]] keeps live tombstones' anchors alive exactly so
    * this stays theoretical). */
  private def tombstoneCovers(
      table: String, snap: Snapshot): (ManifestRef, ManifestRef) => Boolean = {
    val legacyCoverage: Map[String, Option[Set[String]]] =
      snap.deleteManifests.filter(_.seq == 0L).map { d =>
        d.path -> d.asOf.flatMap(loadSnapshotOpt(table, _)).map(_.manifests.map(_.path).toSet)
      }.toMap
    (d, m) =>
      if (d.seq > 0L) m.seq < d.seq
      else legacyCoverage(d.path) match {
        case Some(cov) => cov.contains(m.path)
        case None => true // expired anchor: conservative
      }
  }

  /** Merge-on-read scan: data manifests are grouped into EPOCHS by which
    * tombstone manifests cover them ([[tombstoneCovers]] — with sequence
    * numbers the signatures are NESTED, so the epoch count is at most
    * tombstones + 1, linear, and [[maxPendingTombstones]] bounds it), and
    * each epoch scans through the normal tiered/pruned path then
    * anti-joins only ITS deletes. Tombstones within an epoch are further
    * grouped by their equality-key column set — one null-safe anti-join
    * per key schema — so a tombstone keyed on (a) never reads through a
    * (b)-keyed tombstone's files as all-NULL (which would silently narrow
    * it to NULL-keyed rows). With periodic compaction the generation
    * count stays small, so the union stays a handful of branches. */
  private def scanWithDeletes(
      table: String, snap: Snapshot, filter: Option[Column]): DataFrame = {
    val parts = epochsOf(table, snap).map { case (ms, dels) =>
      val (posDels, eqDels) = dels.partition(_.posDelete)
      val base = scanPlain(snap.copy(manifests = ms, deleteManifests = Nil),
        filter, withLineage = posDels.nonEmpty)
      // one anti-join per key schema; legacy tombstones (no recorded
      // keyCols) each form their own group, keyed by manifest path
      val delGroups = eqDels
        .groupBy(d => if (d.keyCols.nonEmpty) d.keyCols.mkString(",") else d.path)
        .toSeq.sortBy(_._1)
      val afterEq = delGroups.zipWithIndex.foldLeft(base) { case (acc, ((_, group), i)) =>
        val delFiles = group.flatMap(m => readManifest(m.path))
        val alias = s"__graft_del_$i"
        val raw = spark.read.parquet(delFiles.map(_.path): _*)
        val keyed = group.head.keyCols match {
          case Nil => raw
          case cols => raw.select(cols.map(org.apache.spark.sql.functions.col): _*)
        }
        val del = keyed.alias(alias)
        val cond = keyed.columns.map(c =>
          acc(c) <=> org.apache.spark.sql.functions.col(s"$alias.$c")).reduce(_ && _)
        acc.join(del, cond, "left_anti")
      }
      // position sidecars: one anti-join on the row's physical lineage
      // (the sidecar df is tiny — Spark broadcasts it), then the helper
      // columns drop so every epoch part unions on the plain schema
      if (posDels.isEmpty) afterEq
      else {
        val posFiles = posDels.flatMap(m => readManifest(m.path))
        val pd = readFiles(BranchCatalog.posDeleteSchema, sized(posFiles))
        afterEq.join(pd,
            Seq(BranchCatalog.PosPathCol, BranchCatalog.PosIdxCol), "left_anti")
          .drop(BranchCatalog.PosPathCol, BranchCatalog.PosIdxCol)
      }
    }
    parts.reduceOption(_ unionByName _).getOrElse(emptyFrame(StructType.fromDDL(snap.schemaDdl)))
  }

  /** Copy-on-write DML refuses while tombstones are pending: the two
    * delete representations never interleave. */
  private def requireNoTombstones(table: String, branch: String, cur: Snapshot): Unit =
    require(cur.deleteManifests.isEmpty,
      s"$table@$branch has pending MOR tombstones — materialize with compactDataFiles before copy-on-write DML")

  /** The [[maxPendingTombstones]] gate shared by the MOR commit paths. */
  private def requireTombstoneHeadroom(
      table: String, branch: String, cur: Snapshot, op: String): Unit =
    require(cur.deleteManifests.size < maxPendingTombstones,
      s"$op refused: $table@$branch has ${cur.deleteManifests.size} pending MOR tombstone " +
        s"generations (bound $maxPendingTombstones) — each adds a union branch + anti-join " +
        "to every scan; materialize them with compactDataFiles (or the sorted/z-order " +
        "variants) first")

  /** EQUALITY-tombstone writes refuse on row-lineage tables (W73): an
    * equality tombstone suppresses rows by anti-join, so a suppressed
    * row has no well-defined position for id decode and compaction could
    * not materialize it back. POSITION deletes ([[deleteWherePositional]])
    * and copy-on-write DML are the lineage-capable mutation paths — the
    * same narrowing Iceberg v3 makes (deletion vectors + row lineage;
    * equality deletes deprecated). */
  private def requireNoLineage(
      table: String, branch: String, cur: Snapshot, op: String): Unit =
    require(!cur.lin.enabled,
      s"$op refused: $table@$branch has row lineage enabled — equality-tombstone " +
        "MOR writes cannot carry row ids; use deleteWherePositional / copy-on-write " +
        "DML instead")

  /** Merge-on-read DELETE by key (Iceberg v2 equality-delete analogue —
    * the write-cheap half of the DML pair; [[deleteWhere]] is the
    * read-cheap copy-on-write half): commits KEY TOMBSTONES — parquet
    * files holding the distinct key rows, referenced from the snapshot's
    * delete-manifest list — as pure metadata + one tiny key write,
    * touching ZERO data files. Every scan then suppresses rows matching
    * a tombstone until [[compactDataFiles]]/[[compactDataFilesSorted]]/
    * [[compactDataFilesZOrder]] materializes the deletes into rewritten
    * files (their snapshots clear the tombstone list). Semantics are
    * sequence-scoped (Iceberg v2): the tombstone covers data committed
    * at or before the delete's snapshot, so a matching key appended
    * AFTER the delete is visible again — which is exactly what
    * [[upsertKeysMOR]] builds on. Copy-on-write DML and cross-branch merge
    * refuse while tombstones are pending (materialize first), so the two
    * delete representations never interleave ambiguously. */
  def deleteKeysMOR(table: String, keys: DataFrame, branch: String = "main"): Snapshot = {
    require(keys.schema.fields.nonEmpty, "deleteKeysMOR needs at least one key column")
    val cur = headOf(table, branch)
    requireTombstoneHeadroom(table, branch, cur, "deleteKeysMOR")
    requireNoLineage(table, branch, cur, "deleteKeysMOR")
    val tableCols = StructType.fromDDL(cur.schemaDdl).fieldNames.toSet
    keys.schema.fieldNames.foreach(c => require(tableCols.contains(c),
      s"delete key column $c is not a column of $table"))
    val delManifest = tombstone(table, cur, keys.distinct(), keys.schema.fieldNames.toSeq)
    commitTable(table, branch, Some(cur), "MOR delete") { (_, _) =>
      Some(Change(SnapshotOp.DeleteMor, edit = withDeletes(_, delManifest)))
    }
  }

  /** REPLACE TABLE AS SELECT (Iceberg RTAS): one atomic commit swaps the
    * table's ENTIRE definition — schema, layout, content — while the
    * snapshot lineage survives (parent = the replaced head, so time
    * travel and rollback reach pre-replace history; Iceberg semantics,
    * unlike DROP+CREATE which severs it). Differences from [[overwrite]]
    * (same content semantics, FIXED shape): REPLACE may change the
    * schema and the partition spec. Field-id state re-seeds for the new
    * schema; rename/idless residue clears (no old file survives);
    * pending tombstones drop with the content; branch-versioned table
    * PROPERTIES survive (they are governance, not content — drop the
    * constraint explicitly if the new shape voids it; a constraint
    * naming a column the new schema lacks refuses the replace). */
  def replaceTable(table: String, df: DataFrame, branch: String = "main",
      specs: Seq[PartitionSpec] = Nil): Snapshot = {
    val (cur, props) = headState(table, branch,
      " — REPLACE needs an existing table (use create)")
    props.foreach { case (k, v) =>
      if (k.startsWith(BranchCatalog.ConstraintPrefix))
        spark.sessionState.sqlParser.parseExpression(v).collect {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            ua.nameParts.head
        }.foreach(c => require(df.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"REPLACE would orphan CHECK constraint ${k.stripPrefix(
            BranchCatalog.ConstraintPrefix)} (references $c, absent from the new " +
            "schema) — DROP the constraint first"))
    }
    // same guard for the declared write sort order: properties survive the
    // replace, and a stale sort column would brick every later append
    // (writeOrderOf refuses unknown columns at write time)
    props.get(BranchCatalog.WriteOrderKey).foreach { v =>
      v.split(",").map(_.trim).filter(_.nonEmpty).foreach(c =>
        require(df.schema.fieldNames.contains(c),
          s"REPLACE would orphan ${BranchCatalog.WriteOrderKey} (sort column $c " +
            "absent from the new schema) — UNSET the property first"))
    }
    val evo = SchemaEvo.forSchema(df.schema)
    val fields = specs.zipWithIndex.map { case (sp, i) =>
      PartitionSpec.SpecField(sp, i, active = true) }
    specs.foreach(sp => require(df.schema.fieldNames.contains(sp.column),
      s"partition column ${sp.column} not in the replacement schema"))
    val checked = constraintGuard(df, props)
    val manifest = writeManifest(table,
      writeFiles(table, checked, fields, ids = evo.fieldIds), df.schema)
    // lineage-enabled tables keep tracking: every replaced row is an
    // INSERT and draws a fresh id (the replaced rows' ids retire with
    // their snapshot — reachable via time travel, never reused)
    commitTable(table, branch, Some(cur), "replace") { (_, _) =>
      Some(Change(SnapshotOp.Replace, Seq(manifest), c => fullRewrite(c).copy(
        schemaDdl = df.schema.toDDL,
        partitionSpec = if (specs.isEmpty) None else Some(PartitionSpec.formatMulti(specs)),
        evo = evo)))
    }
  }

  /** Replace table@branch's CURRENT content with `df` in one commit (SQL
    * `INSERT OVERWRITE` semantics): the new snapshot's manifest list is
    * exactly the batch's manifest — prior files stay referenced by older
    * snapshots for time travel until expiry, and pending MOR tombstones
    * are cleared (everything they covered is gone). Metadata cost is the
    * same O(batch) as [[append]]. */
  def overwrite(table: String, df: DataFrame, branch: String = "main"): Snapshot = {
    val (cur, props) = headState(table, branch)
    val aligned =
      if (cur.schemaDdl.nonEmpty) alignToSchema(df, StructType.fromDDL(cur.schemaDdl),
        table, branch, Some(cur.evo), props)
      else df
    val manifest = writeManifest(table, writeFiles(table, aligned,
      specsOf(cur.partitionSpec), ids = cur.evo.fieldIds),
      aligned.schema)
    commitTable(table, branch, Some(cur), "overwrite") { (_, _) =>
      Some(Change(SnapshotOp.Overwrite, Seq(manifest), c => fullRewrite(c).copy(
        schemaDdl = if (cur.schemaDdl.nonEmpty) cur.schemaDdl else df.schema.toDDL)))
    }
  }

  /** Multi-table ATOMIC commit (the transactional surface the reference
    * inherits from Nessie, whose commits span every table on a branch —
    * pyiceberg_patch_nessie.py): `body` STAGES writes against any number
    * of tables (data files + manifests land immediately — the expensive
    * IO happens once, outside the commit retry loop), then ONE refs swap
    * publishes every staged table's new snapshot together. Readers can
    * never observe table A advanced but table B not: the refs document is
    * the single linearization point for the whole catalog. A concurrent
    * commit just loses/wins the optimistic race — on retry every staged
    * table re-parents onto the fresh branch state, so non-conflicting
    * writers interleave freely; a schema changed mid-transaction aborts
    * the whole commit (nothing publishes). A `body` that throws abandons
    * the staged files to orphan GC — nothing publishes either.
    *
    * {{{
    *   cat.transaction("main") { txn =>
    *     txn.append("facts", factBatch)
    *     txn.append("fact_audit", auditRows)
    *     txn.deleteKeys("quarantine", resolvedKeys)
    *   }
    * }}}
    *
    * @return table -> committed snapshot (empty body = no commit)
    */
  def transaction(branch: String = "main")(
      body: TableTransaction => Unit): Map[String, Snapshot] = {
    val txn = new TableTransaction(branch)
    body(txn)
    commitStaged(txn, branch)
  }

  /** The single refs swap publishing every table a [[TableTransaction]]
    * staged — shared by the Scala [[transaction]] body form and the SQL
    * handle form ([[beginTransaction]]/[[commitTransaction]]). */
  private def commitStaged(
      txn: TableTransaction, branch: String): Map[String, Snapshot] = {
    val staged = txn.staged()
    if (staged.isEmpty) return Map.empty
    commitRefsFor { refs =>
      val b = refs.branches.getOrElse(branch, sys.error(s"no branch $branch"))
      var tables = b.tables
      var refsAcc = refs
      var out = Map.empty[String, Snapshot]
      for ((table, st) <- staged) {
        val parent = loadSnapshot(table,
          tables.getOrElse(table, sys.error(s"no table $table on $branch")))
        require(parent.schemaDdl == st.schemaDdl,
          s"schema of $table changed during the transaction — aborting the whole commit")
        // the bound counts pending + STAGED generations: one transaction
        // staging many deletes must not blow past what single commits
        // cannot (the bound caps every scan's epoch union)
        require(parent.deleteManifests.size + st.deletes.size <= maxPendingTombstones,
          s"transactional deleteKeys refused: $table@$branch would reach " +
            s"${parent.deleteManifests.size + st.deletes.size} pending MOR tombstone " +
            s"generations (bound $maxPendingTombstones) — materialize with " +
            "compactDataFiles first")
        if (st.deletes.nonEmpty) requireNoLineage(table, branch, parent, "transactional deleteKeys")
        val op = if (st.deletes.isEmpty) SnapshotOp.Append else SnapshotOp.DeleteMor
        val (refs2, snap) = derive(refsAcc, table, parent, Change(op, st.appends, c =>
          c.copy(deleteManifests = c.deleteManifests ++ st.deletes.map(_.copy(seq = c.seq)))))
        refsAcc = refs2
        tables = publish(table, snap, tables)
        out += table -> snap
      }
      (refsAcc.copy(branches = refs.branches.updated(branch, b.copy(tables = tables))), out)
    }._2
  }

  private[wap] case class StagedTable(
      schemaDdl: String, appends: Vector[ManifestRef], deletes: Vector[ManifestRef],
      partitionSpec: Option[String] = None,
      evo: SchemaEvo = SchemaEvo(),
      /** The table's properties, read with the head it stages against. */
      props: Map[String, String])

  /** The staging handle [[transaction]] passes to its body. Staging
    * writes files and manifests eagerly; NOTHING is visible to any reader
    * until the transaction's single refs commit. */
  final class TableTransaction private[wap] (branch: String) {
    private[wap] def txnBranch: String = branch
    private val byTable =
      scala.collection.mutable.LinkedHashMap.empty[String, StagedTable]

    private def entry(table: String): StagedTable =
      byTable.getOrElseUpdate(table, {
        val (head, props) = headState(table, branch)
        StagedTable(head.schemaDdl, Vector.empty, Vector.empty, head.partitionSpec, head.evo, props)
      })

    /** Stage an append (same alignment + partition routing as
      * [[BranchCatalog.append]] — a partitioned table's staged files
      * carry transform values too). */
    def append(table: String, df: DataFrame): Unit = {
      val st = entry(table)
      val aligned = alignToSchema(df, StructType.fromDDL(st.schemaDdl), table, branch,
        Some(st.evo), st.props)
      val manifest = writeManifest(table,
        writeFiles(table, aligned, specsOf(st.partitionSpec),
          ids = st.evo.fieldIds),
        aligned.schema)
      byTable(table) = st.copy(appends = st.appends :+ manifest)
    }

    /** Stage a merge-on-read key delete ([[BranchCatalog.deleteKeysMOR]]
      * semantics: covers data committed BEFORE this transaction — never
      * appends staged alongside it). */
    def deleteKeys(table: String, keys: DataFrame): Unit = {
      require(keys.schema.fields.nonEmpty, "deleteKeys needs at least one key column")
      val st = entry(table)
      val cols = StructType.fromDDL(st.schemaDdl).fieldNames.toSet
      keys.schema.fieldNames.foreach(c => require(cols.contains(c),
        s"delete key column $c is not a column of $table"))
      val files = writeFiles(table, keys.distinct())
      // no keys, no tombstone (as for deleteKeysMOR)
      if (files.nonEmpty) byTable(table) = st.copy(deletes = st.deletes :+ writeManifest(table,
        files, StructType.fromDDL(st.schemaDdl)).copy(keyCols = keys.schema.fieldNames.toSeq))
    }

    private[wap] def staged(): Seq[(String, StagedTable)] = byTable.toSeq
  }

  /** A named OPEN multi-table transaction (the SQL handle form of W35 —
    * the reference analogue is a Nessie transaction spanning tables,
    * pyiceberg_patch_nessie.py): `beginTransaction(name)` registers a
    * [[TableTransaction]] under a caller-chosen name,
    * `stageAppend`/`stageDeleteKeys` stage against it from any statement,
    * and `commitTransaction(name)` runs the same single refs swap as
    * [[transaction]] — readers never observe a partial publish. The
    * handle registry is JVM-wide (SQL procedures construct a fresh
    * BranchCatalog per call) and keyed per lake root, so two catalogs
    * never see each other's handles; an abort (or driver restart)
    * abandons the staged files to orphan GC, publishing nothing. */
  def beginTransaction(name: String, branch: String = "main"): Unit = {
    require(currentRefs().branches.contains(branch), s"no branch $branch")
    val key = BranchCatalog.txnKey(root, name)
    val prior = BranchCatalog.openTxns.putIfAbsent(key, new TableTransaction(branch))
    require(prior == null,
      s"transaction $name is already open on this lake — commit or abort it first")
  }

  private def openTxn(name: String): TableTransaction = {
    val h = BranchCatalog.openTxns.get(BranchCatalog.txnKey(root, name))
    require(h != null,
      s"no open transaction $name on this lake (committed, aborted, or never begun)")
    // the registry is JVM-wide while TableTransaction is path-dependent;
    // same-root handles were staged through an identical catalog
    h.asInstanceOf[TableTransaction]
  }

  def stageAppend(txnName: String, table: String, df: DataFrame): Unit =
    openTxn(txnName).append(table, df)

  def stageDeleteKeys(txnName: String, table: String, keys: DataFrame): Unit =
    openTxn(txnName).deleteKeys(table, keys)

  def commitTransaction(name: String): Map[String, Snapshot] = {
    // CLAIM the handle atomically up front: two concurrent commits (or
    // commit racing abort) must not both fetch it and double-publish the
    // staged appends. A failed optimistic swap re-registers the handle so
    // retry-or-explicit-abort still works; if an abort won a race in that
    // window the retry handle simply reappears for it to remove.
    val key = BranchCatalog.txnKey(root, name)
    val txn = BranchCatalog.openTxns.remove(key)
    require(txn != null,
      s"no open transaction $name on this lake (committed, aborted, or never begun)")
    val h = txn.asInstanceOf[TableTransaction]
    try commitStaged(h, h.txnBranch)
    catch { case e: Throwable => BranchCatalog.openTxns.putIfAbsent(key, h); throw e }
  }

  def abortTransaction(name: String): Unit = {
    openTxn(name) // loud on unknown names
    BranchCatalog.openTxns.remove(BranchCatalog.txnKey(root, name))
    ()
  }

  def snapshotIdOf(table: String, branch: String = "main"): Option[String] =
    currentRefs().branches.get(branch).flatMap(_.tables.get(table))

  /** All current data files of table@branch (manifest read, no data IO). */
  def dataFiles(table: String, branch: String = "main"): Seq[DataFileMeta] =
    filesOf(headOf(table, branch))

  /** Files of table@branch that MAY satisfy `cond` per footer stats —
    * exposed for tests/metrics; `scan` uses the same logic. */
  def prunedDataFiles(table: String, cond: Column, branch: String = "main"): Seq[DataFileMeta] =
    selectFiles(headOf(table, branch), Some(cond)).flatMap(_.hit)

  // ---- file-level stats pruning -----------------------------------------

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Leaf count of a predicate tree (IN counts its value list) — used to
    * cap disjunction expansion: a conjunct wider than this is skipped
    * whole (its files are kept — pruning is sound, never required, and a
    * multi-thousand-key IN admits most files anyway). */
  private def predLeaves(e: Expression): Int = e match {
    case And(l, r) => predLeaves(l) + predLeaves(r)
    case Or(l, r) => predLeaves(l) + predLeaves(r)
    case In(_, vs) => vs.size
    case _ => 1
  }
  private val maxPruneLeaves = 256

  /** Disjunction-aware "file possibly matches": an OR (or an IN — the
    * shape DPP runtime filters and `isin` predicates arrive in) admits a
    * file if ANY branch does; each leaf runs the partition-transform +
    * footer-stats checks. Before this, a disjunctive conjunct pruned
    * NOTHING — in particular a runtime join-key IN-set on a
    * bucket-partitioned table, the 100 TB star-join shape. */
  private def admits(
      f: DataFileMeta, p: Expression, specs: Seq[PartitionSpec.SpecField],
      schema: StructType, bloom: Option[BloomProbe] = None): Boolean = p match {
    case And(l, r) => admits(f, l, specs, schema, bloom) && admits(f, r, specs, schema, bloom)
    case Or(l, r) => admits(f, l, specs, schema, bloom) || admits(f, r, specs, schema, bloom)
    case In(a, vs) if vs.forall(_.foldable) =>
      vs.exists(v => admits(f, EqualTo(a, v), specs, schema, bloom))
    case leaf =>
      partitionMayMatch(f, leaf, specs, schema) && mayMatch(f, leaf, schema) &&
        bloom.forall(b => comparisonOf(leaf) match {
          case Some((attr, "=", l)) => b.mightContain(f, attr, l)
          case _ => true
        })
  }

  /** [[admits]] as a Column over manifest entries (the distributed
    * planning path). `bloom` carries the executor-side probe for columns
    * with bloom sidecars — entries must then have a `__manifest` column
    * (`input_file_name()` of the manifest read). */
  private def admitsCol(
      p: Expression, specs: Seq[PartitionSpec.SpecField], schema: StructType,
      bloom: Option[DistBloom] = None): Column = p match {
    case And(l, r) => admitsCol(l, specs, schema, bloom) && admitsCol(r, specs, schema, bloom)
    case Or(l, r) => admitsCol(l, specs, schema, bloom) || admitsCol(r, specs, schema, bloom)
    case In(a, vs) if vs.forall(_.foldable) =>
      // empty IN is FALSE (matches the driver tier's exists-over-Nil)
      vs.map(v => admitsCol(EqualTo(a, v), specs, schema, bloom))
        .reduceOption(_ || _)
        .getOrElse(org.apache.spark.sql.functions.lit(false))
    case leaf =>
      val base = partitionMayMatchCol(leaf, specs, schema) && mayMatchCol(leaf)
      (for {
        ctx <- bloom
        cmp <- comparisonOf(leaf) if cmp._2 == "=" && ctx.cols(cmp._1)
        v <- litString(cmp._3)
      } yield base && ctx.probe(cmp._1, v)).getOrElse(base)
  }

  /** Columns compared by equality (incl. IN) anywhere in a predicate —
    * the candidates for bloom-sidecar probing. */
  private def equalityCols(p: Expression): Set[String] = p match {
    case And(l, r) => equalityCols(l) ++ equalityCols(r)
    case Or(l, r) => equalityCols(l) ++ equalityCols(r)
    case In(a, vs) if vs.forall(_.foldable) => attrName(stripCast(a)).toSet
    case leaf => comparisonOf(leaf).filter(_._2 == "=").map(_._1).toSet
  }

  /** Executor-side bloom probing for DISTRIBUTED scan planning: the
    * driver only decides WHICH columns have sidecars; each executor
    * loads the sidecars of the manifests it is pruning (cached per JVM
    * in [[BranchCatalog.BloomSidecarCache]]) — sidecar bytes never
    * aggregate on the driver, so the 100 TB tier keeps bloom pruning. */
  private final class DistBloom(
      val cols: Set[String],
      confBc: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.SerializableConfiguration]) {
    def probe(column: String, value: String): Column = {
      val bc = confBc
      // `__manifest` is input_file_name, URI-encoded; `path` is as recorded
      org.apache.spark.sql.functions.udf((m: String, p: String) =>
        BranchCatalog.BloomSidecarCache.mightContain(bc.value.value,
          new Path(new java.net.URI(m)).toString, column, p, value)
      ).apply(org.apache.spark.sql.functions.col("__manifest"),
        org.apache.spark.sql.functions.col("path"))
    }
  }

  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case u: UnresolvedAttribute => Some(u.name)
    case _ => None
  }

  /** Unsigned UTF-8 byte-order comparison — matches parquet binary stats
    * and Spark's own string ordering. */
  private def utf8Cmp(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Compare a stored stat string against a literal under the column's
    * declared type; None = incomparable (never prune on it). */
  private def cmpStat(stat: String, lit: Literal, dt: DataType): Option[Int] =
    try dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(java.lang.Long.compare(stat.toLong, lit.value.asInstanceOf[Number].longValue()))
      case FloatType | DoubleType =>
        // a NaN literal is incomparable against footer bounds: parquet
        // stats exclude NaN, so a file whose max < NaN may still HOLD
        // NaN rows (Spark orders NaN above everything) — pruning on it
        // would be unsound
        val d = lit.value.asInstanceOf[Number].doubleValue()
        if (d.isNaN) None else Some(java.lang.Double.compare(stat.toDouble, d))
      case StringType => Some(utf8Cmp(stat, lit.value.toString))
      case TimestampType | TimestampNTZType =>
        // parquet stores micros; Catalyst timestamp literals are micros
        Some(java.lang.Long.compare(stat.toLong, lit.value.asInstanceOf[Number].longValue()))
      case DateType =>
        Some(java.lang.Integer.compare(stat.toInt, lit.value.asInstanceOf[Number].intValue()))
      case _ => None
    } catch { case _: Exception => None }

  /** (column, op, literal) of a simple comparison conjunct, normalized so
    * the attribute is always on the left (a literal-first comparison has
    * its operator flipped). Shared by footer-stats pruning and partition-
    * transform alignment on both planning paths. */
  private def comparisonOf(p: Expression): Option[(String, String, Literal)] = p match {
    case EqualTo(a, FoldedLit(l)) => attrName(stripCast(a)).map((_, "=", l))
    case EqualTo(FoldedLit(l), a) => attrName(stripCast(a)).map((_, "=", l))
    case GreaterThan(a, FoldedLit(l)) => attrName(stripCast(a)).map((_, ">", l))
    case GreaterThan(FoldedLit(l), a) => attrName(stripCast(a)).map((_, "<", l))
    case GreaterThanOrEqual(a, FoldedLit(l)) => attrName(stripCast(a)).map((_, ">=", l))
    case GreaterThanOrEqual(FoldedLit(l), a) => attrName(stripCast(a)).map((_, "<=", l))
    case LessThan(a, FoldedLit(l)) => attrName(stripCast(a)).map((_, "<", l))
    case LessThan(FoldedLit(l), a) => attrName(stripCast(a)).map((_, ">", l))
    case LessThanOrEqual(a, FoldedLit(l)) => attrName(stripCast(a)).map((_, "<=", l))
    case LessThanOrEqual(FoldedLit(l), a) => attrName(stripCast(a)).map((_, ">=", l))
    case _ => None
  }

  /** Partition-transform pruning, driver path: false ONLY when the file
    * carries a transform value AND an aligned conjunct proves it out of
    * range. Transform values compare as strings by construction (ISO
    * dates order lexicographically; buckets compare for equality only). */
  private def partitionMayMatch(
      f: DataFileMeta, p: Expression, fields: Seq[PartitionSpec.SpecField],
      schema: StructType): Boolean =
    // ALL fields, including dropped ones: a file that carries a retired
    // field's key was written under it, and its value still excludes
    // the file soundly (a file without the key is always kept)
    fields.forall { fld =>
      val (s, i) = (fld.spec, fld.id)
      (for {
        pv <- f.partition.get(PartitionSpec.pvKey(i))
        (attr, op, l) <- comparisonOf(p) if attr == s.column
        colType <- schema.fields.find(_.name == s.column).map(_.dataType)
        (alignOp, v) <- s.align(op, l, colType)
      } yield alignOp match {
        // ranges compare in UTF-8 byte order (utf8Cmp), matching the
        // distributed path's Spark-native string ordering — Java UTF-16
        // ordering diverges on BMP chars >= U+E000 vs supplementary chars,
        // and a divergent driver prune would be unsound
        case "=" => pv == v
        case ">=" => utf8Cmp(pv, v) >= 0
        case _ => utf8Cmp(pv, v) <= 0
      }).getOrElse(true)
    }

  /** Partition-transform pruning as a Column over manifest entries (the
    * distributed planning path); entries without partition metadata
    * evaluate null and are kept. */
  private def partitionMayMatchCol(
      p: Expression, fields: Seq[PartitionSpec.SpecField],
      schema: StructType): Column = {
    import org.apache.spark.sql.functions._
    fields.map(fld => (fld.spec, fld.id)).flatMap { case (s, i) =>
      for {
        (attr, op, l) <- comparisonOf(p) if attr == s.column
        colType <- schema.fields.find(_.name == s.column).map(_.dataType)
        (alignOp, v) <- s.align(op, l, colType)
      } yield {
        val pv = try_element_at(col("partition"), lit(PartitionSpec.pvKey(i)))
        val cmp = alignOp match {
          case "=" => pv === lit(v)
          case ">=" => pv >= lit(v)
          case _ => pv <= lit(v)
        }
        coalesce(cmp, lit(true))
      }
    }.reduceOption(_ && _).getOrElse(org.apache.spark.sql.functions.lit(true))
  }

  /** MANIFEST-LIST pruning (Iceberg's manifest-list tier, above file
    * pruning): false ONLY when the manifest's own coverage-aware bounds
    * (statsV >= 2: exact null-count sums, fold-exact min/max — see
    * [[ManifestRef]]) prove NO file inside can match — the manifest is
    * then never even READ, so a selective scan of a commit-clustered
    * 100 TB table costs O(matching manifests) metadata, not
    * O(manifests). Reuses the file-level [[admits]] through a proxy
    * entry (manifest bounds have exactly file-bound semantics, minus
    * bloom, which the file tier still applies to whatever survives) PLUS
    * the r13 partition-summary check: ORDERED transforms (day/month/
    * hour/truncate) compare aligned predicates against the manifest's
    * [[ManifestRef.pvLower]]/[[ManifestRef.pvUpper]] bounds, so a
    * day-partitioned table's time-range scan skips whole commits'
    * manifests by transform value alone. Pre-r11 manifests (statsV < 1)
    * are always kept: their nullCounts may be partial unions, which a
    * may-match IsNull check must not trust. statsV 1 (imported files,
    * possibly-truncated foreign bounds) DOES prune — truncation only
    * widens bounds, so a may-match stays sound. */
  private def manifestMayMatch(
      m: ManifestRef, pred: Expression, schema: StructType,
      specs: Seq[PartitionSpec.SpecField] = Nil): Boolean =
    m.statsV < 1 || {
      val proxy = DataFileMeta(m.path, m.rows, m.lower, m.upper, m.nullCounts)
      conjuncts(pred).filter(predLeaves(_) <= maxPruneLeaves)
        .forall(p => admits(proxy, p, Nil, schema, None) &&
          manifestPvMayMatch(m, p, specs, schema))
    }

  /** The partition-summary tier of [[manifestMayMatch]]: false when an
    * ordered transform's aligned bound range excludes the conjunct.
    * Bucket transforms never range-prune here (their value strings are
    * unordered — "10" < "2" lexicographically); non-comparison shapes
    * and manifests without summaries keep (sound). */
  private[wap] def manifestPvMayMatch(
      m: ManifestRef, p: Expression, fields: Seq[PartitionSpec.SpecField],
      schema: StructType): Boolean =
    fields.map(fld => (fld.spec, fld.id)).forall {
      case (_: BucketPartition, _) => true
      case (s, i) =>
        (for {
          loV <- m.pvLower.get(PartitionSpec.pvKey(i))
          hiV <- m.pvUpper.get(PartitionSpec.pvKey(i))
          (attr, op, l) <- comparisonOf(p) if attr == s.column
          colType <- schema.fields.find(_.name == s.column).map(_.dataType)
          (alignOp, v) <- s.align(op, l, colType)
        } yield alignOp match {
          case "=" => utf8Cmp(loV, v) <= 0 && utf8Cmp(hiV, v) >= 0
          case ">=" => utf8Cmp(hiV, v) >= 0
          case _ => utf8Cmp(loV, v) <= 0
        }).getOrElse(true)
    }

  /** The manifests of `snap` that may hold rows matching `cond` — the
    * manifest-list prune every planning tier applies BEFORE reading
    * manifest entries. */
  private def manifestsFor(
      snap: Snapshot, pred: Expression, schema: StructType): Seq[ManifestRef] =
    snap.manifests.filter(manifestMayMatch(_, pred, schema, specsOf(snap.partitionSpec)))

  /** Keep only files whose partition transform value, footer stats and
    * bloom sidecars cannot rule out the resolved predicate
    * ([[resolvePredicate]]). Unsupported predicate shapes / missing stats
    * keep the file (pruning is always sound, never required). */
  private def pruneFiles(
      files: Seq[DataFileMeta], pred: Expression, schema: StructType,
      specs: Seq[PartitionSpec.SpecField], bloom: BloomProbe): Seq[DataFileMeta] = {
    val preds = conjuncts(pred).filter(predLeaves(_) <= maxPruneLeaves)
    files.filter(f => preds.forall(p => admits(f, p, specs, schema, Some(bloom))))
  }

  /** The distributed planning path: manifest entries read + stats-pruned
    * by executors; only the surviving (path, bytes) pairs come back. */
  private[wap] def distributedPrunedPaths(
      snap: Snapshot, filter: Option[Column], schema: StructType): Seq[(String, Long)] =
    distributedPrunedFilesPv(snap, filter, schema).map(f => (f._1, f._2))

  /** As [[distributedPrunedPaths]], also carrying each file's hidden-
    * partition transform value (None for unpartitioned files) — the
    * storage-partitioned-join planner groups on it. */
  private def distributedPrunedFilesPv(
      snap: Snapshot, filter: Option[Column], schema: StructType,
      pvKey: String = "pv")
      : Seq[(String, Long, Option[String])] = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val spec = specsOf(snap.partitionSpec)
    val kept = filter.flatMap(resolvePredicate(_, schema)) match {
      case Some(pred) =>
        // bloom context only when some equality-probed column actually
        // has sidecars (driver-side existence checks, O(manifests));
        // otherwise no UDF enters the plan at all
        val bloomCols = equalityCols(pred).filter(c =>
          snap.manifests.exists(m => BranchCatalog.BloomSidecarCache.exists(
            spark.sparkContext.hadoopConfiguration, m.path, c)))
        val bloom =
          if (bloomCols.isEmpty) None
          else Some(new DistBloom(bloomCols, spark.sparkContext.broadcast(
            new org.apache.spark.util.SerializableConfiguration(
              spark.sparkContext.hadoopConfiguration))))
        // manifest-list prune FIRST: executors then read only the
        // admitted manifests' entries (O(matching manifests) tasks)
        val entries = manifestEntries(snap.copy(
            manifests = manifestsFor(snap, pred, schema)))
          .withColumn("__manifest", input_file_name())
        conjuncts(pred).filter(predLeaves(_) <= maxPruneLeaves)
          .map(p => admitsCol(p, spec, schema, bloom))
          .reduceOption(_ && _)
          .map(entries.filter)
          .getOrElse(entries)
      case None => manifestEntries(snap)
    }
    kept.select(col("path"), col("bytes"),
        org.apache.spark.sql.functions.try_element_at(
          col("partition"), org.apache.spark.sql.functions.lit(pvKey)))
      .collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) 0L else r.getLong(1),
        Option(r.getString(2)))).toSeq
  }

  /** The pruned (path, bytes) list of ONE pinned snapshot, for connector
    * batch planning ([[graft.sql]]'s native DSv2 scan) — the same prune
    * `scanPlain` makes, and the same driver hand-off any DSv2 planner's
    * planInputPartitions requires (tiered: above the threshold the prune
    * itself is distributed and only the surviving list is collected).
    * Refuses pending MOR tombstones — the connector falls back to the
    * full scan plan for those. */
  private[graft] def plannedFilesOfSnapshot(
      table: String, snapshotId: String, cond: Option[Column]): Seq[(String, Long)] =
    plannedFilesWithPv(table, snapshotId, cond).map(f => (f._1, f._2))

  /** As [[plannedFilesOfSnapshot]] plus each file's hidden-partition
    * transform value — the connector's storage-partitioned-join planner
    * groups read partitions by it (W45). Same tiering: above the
    * threshold the prune AND the pv projection run on executors. */
  private[graft] def plannedFilesWithPv(
      table: String, snapshotId: String, cond: Option[Column],
      pvKey: String = "pv")
      : Seq[(String, Long, Option[String])] = {
    val snap = loadSnapshot(table, snapshotId)
    require(snap.deleteManifests.isEmpty,
      s"snapshot $snapshotId of $table has pending MOR tombstones — plan via scanSnapshot")
    plannedFiles(snap, cond, pvKey)
  }

  /** The connector's exact filters over one pinned snapshot: the files
    * the driver-tier selection keeps under the conjunction of `filters`,
    * and per filter whether every kept file PROVES it for every row
    * ([[allRowsMatch]]). A proved filter needs no row-level re-check: a
    * dropped file holds no row matching the conjunction, a kept one no
    * row failing the filter. An empty selection proves every filter.
    * None — every filter stays residual — under pending MOR tombstones,
    * above [[distributedMetaThreshold]] files (the read then plans
    * through the conservative executor-side prune), or when a filter
    * does not resolve. */
  private[graft] def exactFilters(table: String, snapshotId: String,
      filters: Seq[Column]): Option[(Seq[DataFileMeta], Seq[Boolean])] = {
    val snap = loadSnapshot(table, snapshotId)
    if (filters.isEmpty || snap.deleteManifests.nonEmpty ||
        snap.manifests.map(_.fileCount).sum > distributedMetaThreshold) return None
    val schema = StructType.fromDDL(snap.schemaDdl)
    val preds = filters.flatMap(resolvePredicate(_, schema))
    if (preds.size != filters.size) return None
    val kept = selectResolved(snap, Some(preds.reduce(And(_, _)) -> schema)).flatMap(_.hit)
    Some(kept -> preds.map(p => kept.forall(allRowsMatch(_, p, schema))))
  }

  /** A file PREFIX guaranteed to hold at least `limit` rows (or every
    * file, if the table is smaller) — the connector's limit pushdown
    * (`SELECT * FROM t LIMIT k` on an unfiltered snapshot): manifests
    * are taken in order until their ROW SUMS cover the limit, so only
    * the covering prefix's manifests are even read — O(covering
    * manifests) metadata, one or two files planned for a small limit on
    * a 100 TB table. Refuses pending MOR tombstones (their row counts
    * overcount, which could under-deliver). */
  private[graft] def limitedFiles(
      table: String, snapshotId: String, limit: Long): Seq[(String, Long)] = {
    val snap = loadSnapshot(table, snapshotId)
    require(snap.deleteManifests.isEmpty,
      s"snapshot $snapshotId of $table has pending MOR tombstones — no limit pushdown")
    val out = Seq.newBuilder[(String, Long)]
    var remaining = limit
    val it = snap.manifests.iterator
    while (remaining > 0 && it.hasNext) {
      val m = it.next()
      if (m.fileCount > 0) {
        val fit = readManifest(m.path).iterator
        while (remaining > 0 && fit.hasNext) {
          val f = fit.next()
          out += (f.path -> f.bytes)
          remaining -= f.rows
        }
      }
    }
    out.result()
  }

  /** The covering file prefix (ascending) or suffix (descending) of a
    * SORT-ORDERED snapshot for top-k pushdown: files sit in global range
    * order ([[Snapshot.sortOrder]] contract), so the k best-ranked rows
    * live in the first/last files covering k rows — `ORDER BY key LIMIT
    * k` on a sort-compacted 100 TB table plans one file. Callers verify
    * the snapshot's sortOrder matches the query's before asking. */
  private[graft] def topNFiles(
      table: String, snapshotId: String, k: Long,
      descending: Boolean): Seq[(String, Long)] = {
    val snap = loadSnapshot(table, snapshotId)
    require(snap.deleteManifests.isEmpty,
      s"snapshot $snapshotId of $table has pending MOR tombstones — no top-k pushdown")
    val ordered = snap.manifests.flatMap(m => readManifest(m.path))
    val walk = if (descending) ordered.reverse else ordered
    val out = Seq.newBuilder[(String, Long)]
    var remaining = k
    val it = walk.iterator
    while (remaining > 0 && it.hasNext) {
      val f = it.next()
      out += (f.path -> f.bytes)
      remaining -= f.rows
    }
    out.result()
  }

  /** The MOR equivalent of [[plannedFilesOfSnapshot]], for the connector
    * batch scan of a snapshot WITH pending tombstones: per coverage
    * epoch, the (pruned, tiered) data file list plus its equality-delete
    * groups — the same epoch grouping and per-key-schema split
    * [[scanWithDeletes]] makes, flattened to what a
    * [[org.apache.spark.sql.connector.read.Batch]] can plan (each epoch's
    * partitions anti-probe only ITS delete groups, so sequence
    * semantics — a key re-appended after its delete is visible —
    * survive the lowering). */
  private[graft] def plannedMorEpochs(
      table: String, snapshotId: String, cond: Option[Column])
      : Seq[(Seq[(String, Long)], Seq[MorDeleteGroupPlan])] = {
    val snap = loadSnapshot(table, snapshotId)
    epochsOf(table, snap).map { case (ms, dels) =>
      val dataFiles = plannedFiles(snap.copy(manifests = ms, deleteManifests = Nil), cond)
        .map(f => f._1 -> f._2)
      val groups = dels
        .groupBy(d => (if (d.posDelete) "pos|" else "eq|") +
          (if (d.keyCols.nonEmpty) d.keyCols.mkString(",") else d.path))
        .toSeq.sortBy(_._1)
        .map { case (_, group) =>
          val delFiles = group.flatMap(m => readManifest(m.path)).map(f => f.path -> f.bytes)
          // one footer read resolves the delete FILE schema (legacy
          // tombstones recorded no keyCols — their whole file schema
          // is the key)
          val fileSchema = spark.read.parquet(delFiles.map(_._1): _*).schema
          val keyCols = group.head.keyCols match {
            case Nil => fileSchema.fieldNames.toSeq
            case cols => cols
          }
          MorDeleteGroupPlan(keyCols, delFiles, fileSchema.toDDL,
            positional = group.head.posDelete)
        }
      (dataFiles, groups)
    }
  }

  /** Resolve a user predicate against the table schema (Spark 4 Columns
    * are lazy ColumnNode graphs; analysis also applies type coercion). */
  private[wap] def resolvePredicate(cond: Column, schema: StructType): Option[Expression] = {
    emptyFrame(schema).filter(cond).queryExecution.analyzed
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
  }

  /** Column translation of [[mayMatch]] over [[manifestEntrySchema]] rows
    * — the stats-prune predicate evaluated by EXECUTORS on the manifest-
    * entry DataFrame. Missing stats and unsupported shapes evaluate to
    * keep (pruning is always sound, never required); stat strings parse
    * in the literal's analyzer-coerced type, and string stats compare raw
    * (Spark string ordering = unsigned UTF-8 bytes, the same order
    * statLt/cmpStat use). */
  private def mayMatchCol(p: Expression): Column = {
    import org.apache.spark.sql.functions._
    def stat(m: String, name: String) = try_element_at(col(m), lit(name))
    def typed(c: Column, l: Literal): Option[(Column, Column)] = l.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some((c.cast("long"), lit(l.value.asInstanceOf[Number].longValue())))
      case FloatType | DoubleType =>
        // same NaN guard as cmpStat: never prune against a NaN literal
        val d = l.value.asInstanceOf[Number].doubleValue()
        if (d.isNaN) None else Some((c.cast("double"), lit(d)))
      case StringType => Some((c, lit(l.value.toString)))
      case TimestampType | TimestampNTZType =>
        Some((c.cast("long"), lit(l.value.asInstanceOf[Number].longValue())))
      case DateType =>
        Some((c.cast("int"), lit(l.value.asInstanceOf[Number].intValue())))
      case _ => None
    }
    def check(name: String, l: Literal, op: String): Column =
      (typed(stat("lower", name), l), typed(stat("upper", name), l)) match {
        case (Some((lo, litC)), Some((hi, _))) => op match {
          case "=" => !(coalesce(lo > litC, lit(false)) || coalesce(hi < litC, lit(false)))
          case ">" => !coalesce(hi <= litC, lit(false))
          case ">=" => !coalesce(hi < litC, lit(false))
          case "<" => !coalesce(lo >= litC, lit(false))
          case "<=" => !coalesce(lo > litC, lit(false))
          case _ => lit(true)
        }
        case _ => lit(true)
      }
    def attr(e: Expression): Option[String] = attrName(stripCast(e))
    p match {
      case EqualTo(a, FoldedLit(l)) => attr(a).map(check(_, l, "=")).getOrElse(lit(true))
      case EqualTo(FoldedLit(l), a) => attr(a).map(check(_, l, "=")).getOrElse(lit(true))
      case GreaterThan(a, FoldedLit(l)) => attr(a).map(check(_, l, ">")).getOrElse(lit(true))
      case GreaterThan(FoldedLit(l), a) => attr(a).map(check(_, l, "<")).getOrElse(lit(true))
      case GreaterThanOrEqual(a, FoldedLit(l)) => attr(a).map(check(_, l, ">=")).getOrElse(lit(true))
      case GreaterThanOrEqual(FoldedLit(l), a) => attr(a).map(check(_, l, "<=")).getOrElse(lit(true))
      case LessThan(a, FoldedLit(l)) => attr(a).map(check(_, l, "<")).getOrElse(lit(true))
      case LessThan(FoldedLit(l), a) => attr(a).map(check(_, l, ">")).getOrElse(lit(true))
      case LessThanOrEqual(a, FoldedLit(l)) => attr(a).map(check(_, l, "<=")).getOrElse(lit(true))
      case LessThanOrEqual(FoldedLit(l), a) => attr(a).map(check(_, l, ">=")).getOrElse(lit(true))
      case IsNull(a) => attr(a)
        .map(n => coalesce(stat("nullCounts", n) > 0, lit(true)))
        .getOrElse(lit(true))
      case IsNotNull(a) => attr(a)
        .map(n => coalesce(stat("nullCounts", n) < col("rows"), lit(true)) ||
          col("rows") === 0)
        .getOrElse(lit(true))
      case _ => lit(true)
    }
  }

  /** Unwrap analyzer-inserted casts around column references so the raw
    * attribute is visible to the stat matcher (comparison happens in the
    * literal's coerced type, which the stat strings parse into). */
  private def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case other => other
  }

  /** Match a literal THROUGH analyzer-inserted coercion: `doc_id < 20` on
    * a bigint column analyzes to `doc_id#L < cast(20 as bigint)` — a bare
    * `case l: Literal` never sees it and the file silently isn't pruned.
    * Any foldable expression collapses to its evaluated literal. */
  private object FoldedLit {
    def unapply(e: Expression): Option[Literal] = e match {
      case l: Literal => Some(l)
      case _ if e.foldable =>
        try Some(Literal(e.eval(org.apache.spark.sql.catalyst.expressions.EmptyRow), e.dataType))
        catch { case _: Exception => None }
      case _ => None
    }
  }

  private def mayMatch(f: DataFileMeta, p: Expression, schema: StructType): Boolean = {
    def dtOf(name: String): Option[DataType] =
      schema.fields.find(_.name == name).map(_.dataType)
    def lo(name: String): Option[String] = f.lower.get(name)
    def hi(name: String): Option[String] = f.upper.get(name)
    // evaluates "possibly true" — false ONLY when stats prove impossibility;
    // comparisons run in the literal's (analyzer-coerced) type
    def check(name: String, lit: Literal, op: String): Boolean =
      dtOf(name).map(_ => lit.dataType) match {
        case None => true
        case Some(dt) =>
          op match {
            case "=" =>
              !(lo(name).flatMap(cmpStat(_, lit, dt)).exists(_ > 0) ||
                hi(name).flatMap(cmpStat(_, lit, dt)).exists(_ < 0))
            case ">" => !hi(name).flatMap(cmpStat(_, lit, dt)).exists(_ <= 0)
            case ">=" => !hi(name).flatMap(cmpStat(_, lit, dt)).exists(_ < 0)
            case "<" => !lo(name).flatMap(cmpStat(_, lit, dt)).exists(_ >= 0)
            case "<=" => !lo(name).flatMap(cmpStat(_, lit, dt)).exists(_ > 0)
            case _ => true
          }
      }
    p match {
      case EqualTo(a, FoldedLit(l)) => attrName(stripCast(a)).forall(check(_, l, "="))
      case EqualTo(FoldedLit(l), a) => attrName(stripCast(a)).forall(check(_, l, "="))
      case GreaterThan(a, FoldedLit(l)) => attrName(stripCast(a)).forall(check(_, l, ">"))
      case GreaterThan(FoldedLit(l), a) => attrName(stripCast(a)).forall(check(_, l, "<"))
      case GreaterThanOrEqual(a, FoldedLit(l)) => attrName(stripCast(a)).forall(check(_, l, ">="))
      case GreaterThanOrEqual(FoldedLit(l), a) => attrName(stripCast(a)).forall(check(_, l, "<="))
      case LessThan(a, FoldedLit(l)) => attrName(stripCast(a)).forall(check(_, l, "<"))
      case LessThan(FoldedLit(l), a) => attrName(stripCast(a)).forall(check(_, l, ">"))
      case LessThanOrEqual(a, FoldedLit(l)) => attrName(stripCast(a)).forall(check(_, l, "<="))
      case LessThanOrEqual(FoldedLit(l), a) => attrName(stripCast(a)).forall(check(_, l, ">="))
      case IsNull(a) =>
        attrName(stripCast(a)).forall(n => f.nullCounts.get(n).forall(_ > 0))
      case IsNotNull(a) =>
        attrName(stripCast(a)).forall(n => f.nullCounts.get(n).forall(_ < f.rows) || f.rows == 0)
      // NOT of one comparison: no row matches when every row matches the
      // comparison, or when its column is all-NULL in the file
      case Not(c) if comparisonOf(c).isDefined =>
        !allRowsMatch(f, c, schema) &&
          !comparisonOf(c).exists(cmp => f.nullCounts.get(cmp._1).contains(f.rows))
      case _ => true
    }
  }

  /** Attribute under an INTEGRAL-WIDENING cast chain only (byte -> short
    * -> int -> long: injective and monotone, so a comparison decided on
    * the widened value is decided identically on the stored value). Any
    * other cast shape returns None — unlike [[stripCast]] (sound for the
    * may-match direction, where a wrong strip merely keeps a file), the
    * all-match proof must refuse it. */
  private def widenedAttr(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case u: UnresolvedAttribute => Some(u.name)
    case c: Cast =>
      val rank = Map[DataType, Int](
        ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
      val from = try rank.get(c.child.dataType) catch { case _: Exception => None }
      (from, rank.get(c.dataType)) match {
        case (Some(f0), Some(t0)) if f0 <= t0 => widenedAttr(c.child)
        case _ => None
      }
    case _ => None
  }

  /** Dual of [[mayMatch]]: true ONLY when footer stats PROVE every row of
    * the file satisfies `p` — the license for a metadata-only delete
    * ([[deleteWhere]] drops the file from its manifest without reading
    * it). Sound under stat truncation because bounds are conservative
    * (lower <= all values <= upper): `upper <= lit` still proves
    * "all <= lit" however inflated the stored upper is. Refusals, each a
    * soundness requirement, never an optimization: float/double columns
    * (footer bounds exclude NaN, which Spark orders above everything, so
    * in-range bounds cannot prove NaN rows match), any cast that is not
    * an integral widening, any column with nulls (a NULL comparison is
    * not TRUE, so SQL DELETE keeps the row), mixed string/numeric type
    * pairs, and any file missing a needed stat. A refused file simply
    * falls to the copy-on-write rewrite tier — correctness never depends
    * on this proof firing. */
  private def allRowsMatch(f: DataFileMeta, p: Expression, schema: StructType): Boolean = {
    if (f.rows == 0) return true
    def dtOf(name: String): Option[DataType] = schema.fields.find(_.name == name).map(_.dataType)
    def noNulls(name: String): Boolean = f.nullCounts.get(name).contains(0L)
    val intTypes: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
    def provablePair(colDt: DataType, litDt: DataType): Boolean =
      (intTypes.contains(colDt) && intTypes.contains(litDt)) ||
        (colDt == litDt && (colDt == StringType || colDt == DateType ||
          colDt == TimestampType || colDt == TimestampNTZType))
    // a comparison whose truth the stats can decide for every row: its
    // column holds no NULL and compares against a non-null literal
    def decidable(e: Expression): Option[(String, String, Literal)] = (e match {
      case EqualTo(a, FoldedLit(l)) => widenedAttr(a).map((_, "=", l))
      case EqualTo(FoldedLit(l), a) => widenedAttr(a).map((_, "=", l))
      case GreaterThan(a, FoldedLit(l)) => widenedAttr(a).map((_, ">", l))
      case GreaterThan(FoldedLit(l), a) => widenedAttr(a).map((_, "<", l))
      case GreaterThanOrEqual(a, FoldedLit(l)) => widenedAttr(a).map((_, ">=", l))
      case GreaterThanOrEqual(FoldedLit(l), a) => widenedAttr(a).map((_, "<=", l))
      case LessThan(a, FoldedLit(l)) => widenedAttr(a).map((_, "<", l))
      case LessThan(FoldedLit(l), a) => widenedAttr(a).map((_, ">", l))
      case LessThanOrEqual(a, FoldedLit(l)) => widenedAttr(a).map((_, "<=", l))
      case LessThanOrEqual(FoldedLit(l), a) => widenedAttr(a).map((_, ">=", l))
      case _ => None
    }).filter { case (name, _, l) =>
      l.value != null && noNulls(name) && dtOf(name).exists(provablePair(_, l.dataType))
    }
    def leafProved(e: Expression): Boolean = decidable(e).exists { case (name, op, l) =>
      val lo = f.lower.get(name)
      val hi = f.upper.get(name)
      op match {
        case "=" =>
          lo.flatMap(cmpStat(_, l, l.dataType)).contains(0) &&
            hi.flatMap(cmpStat(_, l, l.dataType)).contains(0)
        case ">" => lo.flatMap(cmpStat(_, l, l.dataType)).exists(_ > 0)
        case ">=" => lo.flatMap(cmpStat(_, l, l.dataType)).exists(_ >= 0)
        case "<" => hi.flatMap(cmpStat(_, l, l.dataType)).exists(_ < 0)
        case "<=" => hi.flatMap(cmpStat(_, l, l.dataType)).exists(_ <= 0)
        case _ => false
      }
    }
    p match {
      case Literal(true, BooleanType) => true // DELETE WHERE true = truncate
      case And(l, r) => allRowsMatch(f, l, schema) && allRowsMatch(f, r, schema)
      case Or(l, r) => allRowsMatch(f, l, schema) || allRowsMatch(f, r, schema)
      case In(a, vs) if vs.forall(_.foldable) =>
        vs.exists(v => allRowsMatch(f, EqualTo(a, v), schema))
      case IsNull(a: AttributeReference) => f.nullCounts.get(a.name).contains(f.rows)
      case IsNotNull(a: AttributeReference) => noNulls(a.name)
      // NOT of one comparison: no row is NULL in its column and no row
      // can match the comparison
      case Not(c) => decidable(c).isDefined && !mayMatch(f, c, schema)
      case leaf => leafProved(leaf)
    }
  }

  /** reference app.py:302 catalog.merge(branch, 'main'): TRUE 3-way merge
    * at MANIFEST granularity — relative to the branch's fork base, the
    * manifests the branch ADDED are appended onto the target's current
    * snapshot and the manifests the branch REMOVED (a [[deleteWhere]]
    * rewrite, an on-branch compaction) are dropped from it, table by
    * table. Publishing is a pure metadata commit (no data copied).
    * Idempotent: added manifests are de-duplicated against the
    * destination, removals of manifests the destination no longer carries
    * are no-ops, and the source branch is advanced onto the merged state,
    * so merging the same branch twice never duplicates or re-deletes
    * rows. */
  def merge(branch: String, into: String = "main",
      epochStamp: Option[(String, Long)] = None): Unit =
    commitRefs { refs =>
      val src = refs.branches.getOrElse(branch, sys.error(s"no branch $branch"))
      val dst = refs.branches.getOrElse(into, sys.error(s"no branch $into"))
      var dstTables = dst.tables
      var srcTables = src.tables
      var srcBase = src.baseOfMain
      var rowIdsAcc = refs.rowIds
      for ((table, srcSnapId) <- src.tables) {
        val baseSnapId = src.baseOfMain.get(table)
        if (!baseSnapId.contains(srcSnapId)) {
          val srcSnap = loadSnapshot(table, srcSnapId)
          val dstDeletes = dstTables.get(table)
            .map(loadSnapshot(table, _).deleteManifests).getOrElse(Nil)
          // EQUALITY tombstones suppress by key in every manifest with a
          // LOWER sequence — and the two sides' sequence counters diverged
          // at the fork, so a branch tombstone's seq could wrongly cover a
          // target manifest appended after the fork. They cannot cross a
          // publish; materialize first. POSITION sidecars are publishable
          // (below): they name explicit file paths, which are unique, so
          // a sidecar can never touch a row it did not mark.
          if ((srcSnap.deleteManifests ++ dstDeletes).exists(!_.posDelete))
            throw new IllegalStateException(
              s"merge of $table has pending EQUALITY tombstones on " +
                s"${if (srcSnap.deleteManifests.exists(!_.posDelete)) branch else into} — " +
                "materialize with compactDataFiles (or convert to position " +
                "sidecars) before publishing")
          val srcManifests = srcSnap.manifests
          val baseSnapLoaded = baseSnapId.flatMap(loadSnapshotOpt(table, _))
          val baseManifests = baseSnapLoaded.map(_.manifests).getOrElse(Seq.empty)
          val baseDelPaths = baseSnapLoaded.map(_.deleteManifests.map(_.path).toSet)
            .getOrElse(Set.empty[String])
          val dstSnapOpt = dstTables.get(table).map(loadSnapshot(table, _))
          val dstManifests = dstSnapOpt.map(_.manifests).getOrElse(Seq.empty)
          val srcPaths = srcManifests.map(_.path).toSet
          val removed = baseManifests.map(_.path).filterNot(srcPaths.contains).toSet
          val added = srcManifests
            .filterNot(m => baseManifests.exists(_.path == m.path))
            .filterNot(m => dstManifests.exists(_.path == m.path))
          // ---- W78: publish pending POSITION sidecars through the 3-way
          // merge (the WAP-with-merge-on-read cycle: cheap positional DML
          // on the branch, audit, publish — no forced rewrite). Sound
          // because sidecars reference explicit unique paths and carried
          // data manifests keep their original sequences (< any sidecar's),
          // PROVIDED neither side rewrote files the other side's sidecars
          // still reference — a rewrite re-materializes rows the sidecar
          // deleted under new paths the sidecar cannot name. The guards
          // refuse exactly that (rebase and replay instead).
          val srcAddedDel = srcSnap.deleteManifests.filterNot(d => baseDelPaths.contains(d.path))
          val dstRemoved = baseManifests.map(_.path)
            .filterNot(p => dstManifests.exists(_.path == p))
          if (srcAddedDel.nonEmpty && dstRemoved.nonEmpty)
            throw new IllegalStateException(
              s"merge conflict on $table: $branch holds position sidecars over " +
                s"files that $into has since rewritten (${dstRemoved.size} " +
                "manifest(s)) — the sidecar rows would silently reappear; " +
                s"rebase the branch (re-fork from $into and replay)")
          if (dstDeletes.nonEmpty && removed.nonEmpty)
            throw new IllegalStateException(
              s"merge conflict on $table: $into holds position sidecars but " +
                s"$branch rewrote ${removed.size} manifest(s) since the fork — " +
                "the rewrite re-materializes rows those sidecars deleted; " +
                s"rebase the branch (re-fork from $into and replay)")
          val mergedDeletes = dstDeletes ++
            srcAddedDel.filterNot(d => dstDeletes.exists(_.path == d.path))
          // conflict: the branch REWROTE manifests (delete/compaction) that
          // the destination no longer carries — the destination rewrote
          // them too, and merging both rewrites would duplicate every row
          // untouched by both. Optimistic concurrency: fail loudly, the
          // branch must rebase (re-fork and replay) instead of corrupting.
          val conflicting = removed.filterNot(p => dstManifests.exists(_.path == p))
          if (conflicting.nonEmpty)
            throw new IllegalStateException(
              s"merge conflict on $table: branch $branch rewrote " +
                s"${conflicting.size} manifest(s) that $into has since rewritten " +
                s"itself — rebase the branch (re-fork from $into and replay)")
          // 3-way SCHEMA merge: a branch that evolved the schema (add/
          // drop/widen/RENAME) publishes it, provided the destination's
          // schema is unchanged since the fork; both sides evolving to
          // different schemas is a conflict (rebase and replay). The
          // winner's schema reads the loser's files soundly: by-id
          // matching serves renamed columns, added columns read NULL
          // from older files, drops project away.
          val baseDdl = baseSnapId.flatMap(loadSnapshotOpt(table, _)).map(_.schemaDdl)
          val srcSchemaChanged = baseDdl.exists(_ != srcSnap.schemaDdl)
          val dstSchemaChanged = dstSnapOpt.exists(d => baseDdl.exists(_ != d.schemaDdl))
          if (srcSchemaChanged && dstSchemaChanged &&
              dstSnapOpt.exists(_.schemaDdl != srcSnap.schemaDdl))
            throw new IllegalStateException(
              s"merge conflict on $table: the schema evolved on both $branch and " +
                s"$into since the fork — rebase the branch (re-fork and replay)")
          val schemaWinner =
            if (srcSchemaChanged || dstSnapOpt.isEmpty) srcSnap else dstSnapOpt.get
          val dropsFromDst = dstManifests.exists(m => removed.contains(m.path))
          // W73: lineage publishes like schema — enabling on a branch
          // lands on the target. Manifests committed while THEIR side had
          // lineage carry their id bases VERBATIM (the global [[Refs
          // .rowIds]] counter made every branch's ranges disjoint, so a
          // branch's ids survive publication — the WAP row-identity
          // contract); only manifests from a pre-lineage side stamp fresh
          // bases here, from the same global counter.
          val linEnabled = srcSnap.lin.enabled || dstSnapOpt.exists(_.lin.enabled)
          val mergedManifests0 =
            dstManifests.filterNot(m => removed.contains(m.path)) ++ added
          val (mergedManifests, mergedLin) =
            if (!linEnabled) (mergedManifests0, RowLin())
            else {
              // a branch-side enableRowLineage stamps bases on EXISTING
              // manifest refs without changing their paths — the path
              // dedup above then keeps the dst ref (base -1). Publish the
              // branch's stamped base for shared paths before falling
              // back to fresh allocation.
              val srcBases = srcManifests
                .filter(_.firstRowId >= 0L).map(m => m.path -> m.firstRowId).toMap
              val key = physDir(table)
              var next = Seq(rowIdsAcc.getOrElse(key, 0L), srcSnap.lin.next,
                dstSnapOpt.map(_.lin.next).getOrElse(0L)).max
              val stamped = mergedManifests0.map { m =>
                if (m.firstRowId >= 0L) m
                else srcBases.get(m.path) match {
                  case Some(base) =>
                    ensureManifestOffsets(table, m).copy(firstRowId = base)
                  case None =>
                    val r = ensureManifestOffsets(table, m).copy(firstRowId = next)
                    next += m.rows; r
                }
              }
              rowIdsAcc = rowIdsAcc.updated(key, next)
              (stamped, RowLin(enabled = true, next = next))
            }
          val srcLinTurnedOn = srcSnap.lin.enabled && !dstSnapOpt.exists(_.lin.enabled)
          val delsChanged = mergedDeletes.map(_.path) !=
            dstSnapOpt.map(_.deleteManifests.map(_.path)).getOrElse(Nil)
          if (added.nonEmpty || dropsFromDst || dstSnapOpt.isEmpty ||
              srcSchemaChanged || srcLinTurnedOn || delsChanged) {
            val merged = childOf(dstSnapOpt.getOrElse(srcSnap), SnapshotOp.Publish).copy(
              parentId = dstSnapOpt.map(_.id),
              manifests = mergedManifests,
              schemaDdl = schemaWinner.schemaDdl,
              partitionSpec = mergeSpecRegistries(table,
                dstSnapOpt.flatMap(_.partitionSpec), srcSnap.partitionSpec),
              // max over both ancestries + 1 keeps the sequence monotone
              // on the merged lineage, so a tombstone committed later on
              // `into` covers every manifest the merge carried over
              seq = math.max(dstSnapOpt.map(_.seq).getOrElse(0L), srcSnap.seq) + 1,
              // W78: published sidecars keep their own (branch-side)
              // sequences; carried data manifests keep theirs, so the
              // covering rule (m.seq < d.seq) holds exactly as it did on
              // the side that committed each sidecar
              deleteManifests = mergedDeletes,
              // evo follows the schema winner; id high-water and rename
              // residue are conservative maxima over BOTH ancestries (the
              // merged manifests carry files from both)
              evo = {
                val other = if (schemaWinner eq srcSnap)
                  dstSnapOpt.map(_.evo).getOrElse(srcSnap.evo) else srcSnap.evo
                // src evolved the schema while dst holds manifests src's
                // lineage never saw: those files may carry retired names,
                // so rename residue is assumed (cleared by the next full
                // rewrite; only pessimizes foreign-engine export)
                val dstForeign = srcSchemaChanged &&
                  dstManifests.exists(m => !srcPaths.contains(m.path))
                val mergedRenamed = schemaWinner.evo.renamedFiles ||
                  other.renamedFiles || dstForeign
                // id-less imported files from EITHER ancestry may be
                // among the merged manifests: keep name resolution
                val mergedIdless =
                  schemaWinner.evo.idlessFiles || other.idlessFiles
                // A snapshot that holds BOTH pre-rename files (need by-id
                // resolution) and id-less imported files (force by-name
                // resolution, which strips ids — readSchema) has NO sound
                // read mode: name-based reads would silently serve NULL
                // for renamed columns from pre-rename files. The
                // single-branch guards (addDataFiles refuses renamedFiles,
                // renameColumn refuses idlessFiles) prevent this within a
                // branch; a publish must not construct it across branches.
                if (mergedRenamed && mergedIdless &&
                    !(schemaWinner.evo.renamedFiles && schemaWinner.evo.idlessFiles) &&
                    !(other.renamedFiles && other.idlessFiles))
                  throw new IllegalStateException(
                    s"publish conflict on $table: one side holds files written " +
                      "under pre-rename column names (by-id resolution) and the " +
                      "other holds imported id-less files (by-name resolution) — " +
                      "no read mode serves both; compactDataFiles one side " +
                      "(a full rewrite clears its residue) before publishing")
                schemaWinner.evo.copy(
                  fieldIdSeq = math.max(schemaWinner.evo.fieldIdSeq, other.fieldIdSeq),
                  renamedFiles = mergedRenamed,
                  idlessFiles = mergedIdless)
              },
              lin = mergedLin)
            dstTables = publish(table, merged, dstTables)
            srcTables = srcTables.updated(table, merged.id)
            srcBase = srcBase.updated(table, merged.id)
          } else {
            srcTables = srcTables.updated(table, dstSnapOpt.get.id)
            srcBase = srcBase.updated(table, dstSnapOpt.get.id)
          }
        }
      }
      withEpochStamp(refs.copy(rowIds = rowIdsAcc, branches = refs.branches
        // views publish with the merge: the branch's definitions land on
        // the target (last-writer-wins — a view is a definition, not
        // data; there is no manifest-granular content to 3-way)
        .updated(into, dst.copy(tables = dstTables, views = dst.views ++ src.views,
          // table properties publish like views: definitions, not data
          tableProps = dst.tableProps ++ src.tableProps))
        .updated(branch, src.copy(tables = srcTables, baseOfMain = srcBase))), epochStamp)
    }

  /** One commit on a table's history. `rowsAdded` comes from the manifest
    * row sums — metadata only, no data read. */
  case class CommitInfo(
      snapshotId: String, committedAtMillis: Long,
      rowsAdded: Long, filesAdded: Long, cumulativeRows: Long)

  /** The table's commit history on a branch, oldest first, from the
    * snapshot parent chain — the metadata backbone of the quality
    * dashboard (rows/files per commit without touching data). The walk
    * stops at the expiry horizon: a parent expired by expireSnapshots
    * ends the chain, and the oldest surviving commit reports its full
    * manifest set as added (history before the horizon is gone — that is
    * what expiry means). */
  def commitHistory(table: String, branch: String = "main"): Seq[CommitInfo] = {
    val headId = snapshotIdOf(table, branch).getOrElse(sys.error(s"no table $table on $branch"))
    val chain = Iterator.iterate(Option(loadSnapshot(table, headId))) {
      case Some(s) => s.parentId.flatMap(loadSnapshotOpt(table, _))
      case None => None
    }.takeWhile(_.isDefined).flatten.toSeq.reverse
    chain.map { s =>
      val parentManifests = s.parentId.flatMap(loadSnapshotOpt(table, _))
        .map(_.manifests.map(_.path).toSet)
        .getOrElse(Set.empty)
      val added = s.manifests.filterNot(m => parentManifests.contains(m.path))
      CommitInfo(s.id, s.committedAtMillis,
        added.map(_.rows).sum, added.map(_.fileCount).sum,
        s.manifests.map(_.rows).sum)
    }
  }

  private def colStatsPath(table: String, snapshotId: String) =
    new Path(rootPath, s"tables/${physDir(table)}/meta/colstats-$snapshotId.json")

  /** ANALYZE: per-column approximate NDV of the branch head, stored as a
    * stats sidecar keyed by snapshot id (the Iceberg ANALYZE / puffin
    * analogue — NDV is a SEPARATE maintenance pass, never a write-path
    * tax: one distributed `approx_count_distinct` aggregate over the
    * snapshot, O(1) driver state). Connector scans surface it through
    * `estimateStatistics.columnStats`, so CBO join planning sees real
    * distinct counts without hints. Stats sidecars are derived and
    * idempotent (re-analyze overwrites); [[columnStatsOf]] serves the
    * NEAREST ancestor's blob, so stats stay usable (approximately)
    * as the table advances until the next analyze. */
  def analyzeTable(
      table: String, branch: String = "main",
      columns: Seq[String] = Nil): Map[String, Long] = {
    import org.apache.spark.sql.functions.approx_count_distinct
    val id = snapshotIdOf(table, branch).getOrElse(sys.error(s"no table $table on $branch"))
    val df = scanSnapshot(table, id)
    val cols = analyzableCols(df.schema, columns)
    require(cols.nonEmpty, s"no analyzable (atomic-typed) columns in $table")
    val row = df.agg(
      approx_count_distinct(cols.head).as(cols.head),
      cols.tail.map(c => approx_count_distinct(c).as(c)): _*).head
    val ndv = cols.map(c => c -> row.getAs[Long](c)).toMap
    val p = colStatsPath(table, id)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(Serialization.write(ndv).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    ndv
  }

  private def sketchPath(table: String, manifestPath: String) = {
    val name = new Path(manifestPath).getName.stripSuffix(".json")
    new Path(rootPath, s"tables/${physDir(table)}/meta/sketch-$name.json")
  }

  private def sumsPath(table: String, manifestPath: String) = {
    val name = new Path(manifestPath).getName.stripSuffix(".json")
    new Path(rootPath, s"tables/${physDir(table)}/meta/sums-$name.json")
  }

  /** Integral columns metadata SUM/AVG can serve exactly (64-bit
    * wrap-add is associative, so any fold order reproduces non-ANSI
    * Spark; float/double sums are order-dependent and refuse). */
  private def summableCols(schema: StructType, columns: Seq[String]): Seq[String] =
    schema.fields.filter(f =>
      (columns.isEmpty || columns.contains(f.name)) && (f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })).map(_.name).toSeq

  /** W80: PER-FILE column-sum sidecars, one per MANIFEST (the
    * incremental-ANALYZE pattern): each manifest lacking a sidecar — or
    * lacking some requested column in its existing one — gets ONE job
    * over just its files computing every file's per-column sum, written
    * once and reused forever (manifests are immutable; compaction mints
    * new manifests, which re-sum from the compacted files). After N
    * appends a refresh costs O(new manifests' bytes), never the table —
    * the price of metadata-only SUM/AVG at 100 TB. Files all-null in a
    * column carry no entry (their SUM contribution is SQL NULL; the
    * manifest's null counts prove the absence is all-null, not
    * missing coverage). Returns the number of manifests freshly
    * (re)summed. */
  def ensureSumStats(
      table: String, branch: String = "main", columns: Seq[String] = Nil): Int = {
    import org.apache.spark.sql.functions.{col, sum}
    val id = snapshotIdOf(table, branch).getOrElse(sys.error(s"no table $table on $branch"))
    val snap = loadSnapshot(table, id)
    val schema = StructType.fromDDL(snap.schemaDdl)
    val cols = summableCols(schema, columns)
    require(cols.nonEmpty, s"no summable (integral-typed) columns in $table")
    var computed = 0
    snap.manifests.filter(_.rows > 0).foreach { m =>
      val p = sumsPath(table, m.path)
      val existing: Map[String, Map[String, String]] =
        if (fs.exists(p)) Serialization.read[Map[String, Map[String, String]]](readString(p))
        else Map.empty
      val missing = cols.filterNot(existing.contains)
      if (missing.nonEmpty) {
        computed += 1
        val files = readManifest(m.path).filter(_.rows > 0)
        val fresh: Map[String, Map[String, String]] =
          if (files.isEmpty) missing.map(_ -> Map.empty[String, String]).toMap
          else {
            val df = readFiles(BranchCatalog.readSchema(schema, snap.evo), sized(files))
              .select(col("_metadata.file_path").as("__p") +:
                missing.map(c => col(c).cast("long").as(c)): _*)
            val rows = df.groupBy(col("__p"))
              .agg(sum(missing.head).as(missing.head),
                missing.tail.map(c => sum(c).as(c)): _*)
              .collect()
            missing.zipWithIndex.map { case (c, i) =>
              c -> rows.flatMap { r =>
                if (r.isNullAt(i + 1)) None
                else Some(new Path(r.getString(0)).toUri.getPath -> r.getLong(i + 1).toString)
              }.toMap
            }.toMap
          }
        fs.mkdirs(p.getParent)
        val out = fs.create(p, true)
        try out.write(Serialization.write(existing ++ fresh).getBytes(StandardCharsets.UTF_8))
        finally out.close()
      }
    }
    computed
  }

  /** The sum sidecar of each live manifest, or None if any is missing a
    * requested column — the freshness gate metadata SUM/AVG hangs on. */
  private def sumSidecars(table: String, live: Seq[ManifestRef],
      cols: Seq[String]): Option[Seq[Map[String, Map[String, String]]]] = {
    if (cols.isEmpty) return Some(live.map(_ => Map.empty))
    val loaded = live.map { m =>
      val p = sumsPath(table, m.path)
      if (!fs.exists(p)) return None
      Serialization.read[Map[String, Map[String, String]]](readString(p))
    }
    if (loaded.exists(s => cols.exists(c => !s.contains(c)))) None else Some(loaded)
  }

  /** Sidecar of the per-FILE bloom filters of `column` for one manifest —
    * a SIBLING of the manifest itself, so probes need no table context
    * (scan paths that only hold a Snapshot can consult it) and expiry
    * can glob sidecars away with their manifest. */
  private def bloomSidecarPath(manifestPath: String, column: String): Path =
    BranchCatalog.BloomSidecarCache.sidecarFor(manifestPath, column)

  /** Build a per-file BLOOM index of `column` — equality/IN pruning for
    * high-cardinality UNCLUSTERED columns, where min/max footer stats
    * admit every file (the Iceberg-puffin / Delta-bloom-index shape).
    * Composes with runtime DPP filters: a join-key IN-set then prunes
    * files even when the key interleaves across all of them.
    *
    * Like the incremental-ANALYZE sketches, the index is per MANIFEST
    * (immutable, computed once, one job over just that manifest's files,
    * new appends index only their new manifest) and per column. Values
    * normalize through a string cast so every atomic type probes
    * uniformly; executors emit per-file bloom PARTIALS (KB each) that
    * merge on the driver — no shuffle of the column data. Missing
    * sidecars simply decline to prune. Returns the number of manifests
    * newly indexed. */
  def buildBloomIndex(
      table: String, column: String, branch: String = "main",
      fpp: Double = 0.03): Int = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val id = snapshotIdOf(table, branch).getOrElse(sys.error(s"no table $table on $branch"))
    val snap = loadSnapshot(table, id)
    val schema = StructType.fromDDL(snap.schemaDdl)
    require(schema.fieldNames.contains(column), s"no column $column in $table")
    var built = 0
    snap.manifests.foreach { m =>
      val p = bloomSidecarPath(m.path, column)
      // a sidecar of an older format declines to prune: rebuild it
      if (!fs.exists(p) || BranchCatalog.BloomSidecarCache.entriesOf(readString(p)).isEmpty) {
        built += 1
        val files = readManifest(m.path)
        // an empty commit's manifest gets a marker-only sidecar, so the
        // build is done once and probes answer "might match" per file
        val entries =
          if (files.isEmpty) Map.empty[String, String]
          else {
            val mPath = m.path
            val expect = files.map(_.rows).max.max(64L)
            implicit val enc: org.apache.spark.sql.Encoder[(String, String)] =
              org.apache.spark.sql.Encoders.tuple(
                org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.STRING)
            implicit val outEnc: org.apache.spark.sql.Encoder[(String, Array[Byte])] =
              org.apache.spark.sql.Encoders.tuple(
                org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.BINARY)
            // the string normalization is pinned to UTC EXPLICITLY (not the
            // session TZ): probes render literals through the same fixed-UTC
            // Cast ([[litString]]), so build and probe agree even when they
            // happen in sessions with different time zones — a session-TZ
            // cast here would make timestamp-column pruning silently unsound
            // anywhere off-UTC
            val utcString = org.apache.spark.sql.graft.Bridge.column(
              Cast(org.apache.spark.sql.graft.Bridge.expression(col(column)),
                StringType, Some("UTC")))
            val partials = readFiles(BranchCatalog.readSchema(schema, snap.evo), sized(files))
              .select(input_file_name().as("f"), utcString.as("v"))
              .as[(String, String)]
              .mapPartitions { it =>
                val blooms = scala.collection.mutable.Map
                  .empty[String, org.apache.spark.util.sketch.BloomFilter]
                it.foreach { case (f, v) =>
                  if (v != null) {
                    // input_file_name is URI-encoded; the manifest records
                    // the Hadoop path string it decodes to
                    val key = BranchCatalog.BloomSidecarCache.keyOf(mPath,
                      new Path(new java.net.URI(f)).toString)
                    blooms.getOrElseUpdate(key,
                      org.apache.spark.util.sketch.BloomFilter.create(expect, fpp)).putString(v)
                  }
                }
                blooms.iterator.map { case (n, b) =>
                  val bos = new java.io.ByteArrayOutputStream()
                  b.writeTo(bos)
                  (n, bos.toByteArray)
                }
              }.collect()
            partials.groupBy(_._1).map { case (n, bs) =>
              val acc = org.apache.spark.util.sketch.BloomFilter.readFrom(bs.head._2)
              bs.tail.foreach(b =>
                acc.mergeInPlace(org.apache.spark.util.sketch.BloomFilter.readFrom(b._2)))
              val bos = new java.io.ByteArrayOutputStream()
              acc.writeTo(bos)
              n -> java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
            }
          }
        BranchCatalog.BloomSidecarCache.write(fs, m.path, column, entries)
      }
    }
    built
  }

  /** Lazily-loaded per-file bloom probes over one snapshot's manifests,
    * served from the JVM-wide [[BranchCatalog.BloomSidecarCache]] (so
    * repeated scans of an un-indexed table pay no per-scan existence
    * checks past the cache's negative TTL). A column with no sidecar
    * anywhere, a file absent from the loaded map, or a null probe value
    * all answer "might match" — bloom pruning is sound extra evidence,
    * never required. */
  private[wap] final class BloomProbe(manifests: Seq[ManifestRef]) {
    private val perCol = scala.collection.mutable.Map
      .empty[String, Map[String, org.apache.spark.util.sketch.BloomFilter]]
    private def loaded(column: String) = perCol.getOrElseUpdate(column,
      manifests.flatMap(m => BranchCatalog.BloomSidecarCache.load(
        spark.sparkContext.hadoopConfiguration, m.path, column)).toMap)
    // one table's manifests share one directory, so any of them keys a file
    def mightContain(f: DataFileMeta, column: String, l: Literal): Boolean = {
      val m = loaded(column)
      m.isEmpty || m.get(BranchCatalog.BloomSidecarCache.keyOf(manifests.head.path, f.path))
        .forall(bf => litString(l).forall(bf.mightContainString))
    }
  }

  /** Literal -> the string its column-side `cast(col as string)` twin
    * produces (same Cast expression, UTC like the session), None for
    * null. */
  private def litString(l: Literal): Option[String] =
    Option(Cast(l, StringType, Some("UTC")).eval(EmptyRow)).map(_.toString)

  /** The analyzable (atomic-typed) column set [[analyzeTable]] and
    * [[analyzeTableIncremental]] share. */
  private def analyzableCols(schema: StructType, columns: Seq[String]): Seq[String] =
    if (columns.nonEmpty) columns
    else schema.fields.filterNot(f => f.dataType match {
      case _: org.apache.spark.sql.types.ArrayType => true
      case _: org.apache.spark.sql.types.MapType => true
      case _: org.apache.spark.sql.types.StructType => true
      case org.apache.spark.sql.types.BinaryType => true
      case _ => false
    }).map(_.name).toSeq

  /** INCREMENTAL ANALYZE: per-MANIFEST mergeable HLL sketches instead of
    * [[analyzeTable]]'s full-table pass. Each manifest's sketch sidecar
    * (one Datasketches HLL per column, values normalized through a
    * string cast so every atomic type sketches uniformly) is computed
    * the FIRST time this sees the manifest — one job over just that
    * manifest's files — and reused forever after (manifests are
    * immutable; compaction mints new manifests, which re-sketch from the
    * compacted files once). The head NDV is the driver-side union of all
    * sidecar sketches (KB each), written to the SAME colstats sidecar
    * [[columnStatsOf]]/the connector serve — so after N appends, a
    * re-analyze scans ONLY the N new manifests' files, never the table:
    * at 100 TB stats stay fresh at O(delta) cost per refresh. Returns
    * (ndv, manifests freshly sketched). Falls back to the exact-scoped
    * [[analyzeTable]] while MOR tombstones are pending (raw file sketches
    * cannot see suppressed rows; compaction clears them). */
  def analyzeTableIncremental(
      table: String, branch: String = "main",
      columns: Seq[String] = Nil): (Map[String, Long], Int) = {
    import org.apache.spark.sql.functions.{col, hll_sketch_agg}
    val id = snapshotIdOf(table, branch).getOrElse(sys.error(s"no table $table on $branch"))
    val snap = loadSnapshot(table, id)
    if (snap.deleteManifests.nonEmpty)
      return (analyzeTable(table, branch, columns), 0)
    val schema = StructType.fromDDL(snap.schemaDdl)
    val cols = analyzableCols(schema, columns)
    require(cols.nonEmpty, s"no analyzable (atomic-typed) columns in $table")
    var computed = 0
    val perManifest: Seq[Map[String, Array[Byte]]] = snap.manifests.map { m =>
      val p = sketchPath(table, m.path)
      if (fs.exists(p)) {
        Serialization.read[Map[String, String]](readString(p))
          .map { case (c, b64) => c -> java.util.Base64.getDecoder.decode(b64) }
      } else {
        computed += 1
        val files = readManifest(m.path)
        val df = readFiles(BranchCatalog.readSchema(schema, snap.evo), sized(files))
        val row = df.agg(
          hll_sketch_agg(col(cols.head).cast("string")).as(cols.head),
          cols.tail.map(c => hll_sketch_agg(col(c).cast("string")).as(c)): _*).head
        val sketches = cols.map(c => c -> row.getAs[Array[Byte]](c)).toMap
        fs.mkdirs(p.getParent)
        val out = fs.create(p, true)
        try out.write(Serialization.write(sketches.map { case (c, b) =>
          c -> java.util.Base64.getEncoder.encodeToString(b)
        }).getBytes(StandardCharsets.UTF_8))
        finally out.close()
        sketches
      }
    }
    val ndv = cols.map { c =>
      val u = new org.apache.datasketches.hll.Union(12)
      perManifest.foreach(_.get(c).foreach { bytes =>
        u.update(org.apache.datasketches.hll.HllSketch.heapify(bytes))
      })
      c -> math.round(u.getEstimate)
    }.toMap
    val p = colStatsPath(table, id)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(Serialization.write(ndv).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    (ndv, computed)
  }

  /** The nearest analyze blob at or above `snapshotId` in the parent
    * chain (bounded walk — stats older than 32 commits are stale enough
    * to ignore). */
  def columnStatsOf(table: String, snapshotId: String): Option[Map[String, Long]] = {
    val chain = Iterator.iterate(Option(snapshotId)) {
      case Some(id) => loadSnapshotOpt(table, id).flatMap(_.parentId)
      case None => None
    }.takeWhile(_.isDefined).flatten.take(32)
    chain.map(colStatsPath(table, _)).find(fs.exists)
      .map(p => Serialization.read[Map[String, Long]](readString(p)))
  }

  // ---- metadata-only aggregates -----------------------------------------

  /** Answer GLOBAL aggregates over one pinned snapshot from per-manifest
    * metadata alone — O(manifests) driver reads, ZERO data-file IO (the
    * `SELECT count(*), min(x), max(x) FROM t` of a 100 TB table answers
    * from the snapshot document in milliseconds). Returns the values as
    * CATALYST-INTERNAL representations (UTF8String for strings, micros
    * for timestamps, days for dates) in `aggs` order, or None when the
    * metadata cannot answer EXACTLY, which callers must treat as "run
    * the real scan":
    *  - pending MOR tombstones (manifest row counts overcount suppressed
    *    rows);
    *  - any live manifest below stats format 2 ([[ManifestRef.statsV]] —
    *    pre-r11 nullCounts may be partial unions);
    *  - a column some manifest covers neither by bound nor by a proven
    *    all-null count (absent footer stats, column added by evolution);
    *  - float/double MIN/MAX (parquet footer bounds ignore NaN, so they
    *    are range hints, not exact extrema — count(col) on them is still
    *    fine);
    *  - types whose stats don't fold (decimal, binary, nested).
    * Empty tables / all-null columns answer (count 0 / NULL extremum),
    * matching SQL semantics; a column the snapshot's schema does not
    * name (unknown, dropped, nested path) refuses. */
  def metaAggregate(
      table: String, snapshotId: String, aggs: Seq[MetaAgg]): Option[Seq[Any]] = {
    val snap = loadSnapshot(table, snapshotId)
    metaAggregateOf(table, snap, snap.manifests, aggs)
  }

  /** [[metaAggregate]] over only the data `branch` added since it forked
    * from main ([[scanBranchDelta]]'s rows): the WAP audit's metadata
    * answer. Same refusals — in particular any pending tombstone or
    * position sidecar on the branch head refuses, so a delta whose rows
    * the head suppresses is always counted by the scan. */
  def metaAggregateDelta(
      table: String, branch: String, aggs: Seq[MetaAgg]): Option[Seq[Any]] = {
    val (head, delta) = branchDelta(table, branch)
    metaAggregateOf(table, head, delta, aggs)
  }

  /** The one exactness proof behind [[metaAggregate]] and
    * [[metaAggregateDelta]]: `aggs` over the rows of `manifests`, read
    * under `snap`'s schema and tombstones. */
  private def metaAggregateOf(table: String, snap: Snapshot,
      manifests: Seq[ManifestRef], aggs: Seq[MetaAgg]): Option[Seq[Any]] = {
    if (snap.deleteManifests.nonEmpty) return None
    val schema = StructType.fromDDL(snap.schemaDdl)
    val live = manifests.filter(_.rows > 0)
    if (live.exists(_.statsV < 2)) {
      if (aggs.forall(_ == MetaAgg.CountStar)) // row sums are exact at any statsV
        return Some(aggs.map(_ => manifests.map(_.rows).sum))
      return None
    }
    // W80: exact SUM/AVG from per-file sum sidecars, freshness-gated on
    // every live manifest carrying one for the column
    val sumCols = aggs.collect {
      case MetaAgg.SumCol(c) => c
      case MetaAgg.AvgCol(c) => c
    }.distinct
    if (sumCols.exists(c => !summableCols(schema, Seq(c)).contains(c))) return None
    lazy val sidecars = sumSidecars(table, live, sumCols)
    foldAggs(schema, live.map(m => PartStats(m.rows, m.nullCounts, m.lower, m.upper)), aggs,
      c => sidecars.map(_.flatMap(_(c).values).map(_.toLong)))
  }

  /** The one metadata-aggregate fold, behind [[metaAggregateOf]] (parts =
    * manifests) and [[metaAggregateFiles]] (parts = the files of one group):
    * `aggs` over the rows of `parts` from their row counts, null counts
    * and bounds, under `schema`. `sums(c)` lists the parts' non-NULL sums
    * of `c` from the sum sidecars (None refuses). None unless every
    * answer is exact. */
  private def foldAggs(schema: StructType, parts: Seq[PartStats], aggs: Seq[MetaAgg],
      sums: String => Option[Seq[Long]]): Option[Seq[Any]] = {
    val totalRows = parts.map(_.rows).sum
    // an unknown name would otherwise "answer" whenever no live part
    // exists to refuse it (an empty delta) or a dropped column's old
    // stats survive in the manifests
    def nullsOf(c: String): Option[Long] =
      if (schema.fieldNames.contains(c) && parts.forall(_.nullCounts.contains(c)))
        Some(parts.map(_.nullCounts(c)).sum)
      else None
    def extremum(c: String, takeMin: Boolean): Option[Any] = for {
      f <- schema.fields.find(_.name == c)
      if BranchCatalog.exactStatType(f.dataType)
      cmp <- BranchCatalog.statOrder(f.dataType)
      side = if (takeMin) (p: PartStats) => p.lower else (p: PartStats) => p.upper
      if parts.forall(p => side(p).contains(c) || p.nullCounts.get(c).contains(p.rows))
      v <- {
        val bounds = parts.flatMap(p => side(p).get(c))
        if (bounds.isEmpty) Some(null) // no non-null value anywhere -> SQL NULL
        else try Some(BranchCatalog.statInternal(f.dataType,
          bounds.reduce((a, b) => if ((cmp(a, b) <= 0) == takeMin) a else b)))
        catch { case _: Exception => None }
      }
    } yield v
    def sumOf(c: String): Option[Option[Long]] = sums(c).flatMap { entries =>
      if (entries.isEmpty) Some(None) // every row NULL -> SQL NULL sum
      // overflow refuses: the scan then keeps its eval mode's own
      // behavior (ANSI raises, legacy wraps); a served value is exact
      else try Some(Some(entries.foldLeft(0L)((a, b) => Math.addExact(a, b))))
      catch { case _: ArithmeticException => None }
    }
    val answers = aggs.map {
      case MetaAgg.CountStar => Some(totalRows)
      case MetaAgg.CountCol(c) => nullsOf(c).map(totalRows - _)
      case MetaAgg.MinCol(c) => extremum(c, takeMin = true)
      case MetaAgg.MaxCol(c) => extremum(c, takeMin = false)
      case MetaAgg.SumCol(c) => sumOf(c).map(_.fold(null: Any)(v => v))
      case MetaAgg.AvgCol(c) => for {
        s <- sumOf(c)
        nulls <- nullsOf(c)
        n = totalRows - nulls
      } yield s.fold(null: Any)(v => v.toDouble / n)
    }
    if (answers.forall(_.isDefined)) Some(answers.map(_.get)) else None
  }

  /** GROUP BY metadata aggregates (W79): `SELECT g, count(*)/count(c)/
    * min(c)/max(c) FROM t GROUP BY g` answered from manifest-entry stats
    * with ZERO data IO — one row per distinct group, values
    * catalyst-internal like [[metaAggregate]]'s: [[metaAggregateFiles]]
    * over every live file of the snapshot. Entry reads are driver-side
    * O(files), bounded by `maxFiles` (past the cap the ordinary
    * distributed scan wins anyway). */
  def metaAggregateBy(
      table: String, snapshotId: String, groupCols: Seq[String],
      aggs: Seq[MetaAgg], maxFiles: Long = 200000L): Option[Seq[Array[Any]]] = {
    require(groupCols.nonEmpty, "metaAggregateBy needs at least one group column")
    metaAggregateFiles(table, loadSnapshot(table, snapshotId), None, groupCols, aggs, maxFiles)
  }

  /** The per-file metadata fold: `aggs` over the rows of `files` (every
    * live file of `snap` when None) grouped by `groupCols`, one row of
    * group values then aggregate values per group. With no group column
    * it is one global row, also over no file (count 0, NULL extrema) —
    * the connector's filtered aggregate over the files its exact filters
    * keep. Sound exactly when every file is HOMOGENEOUS in every group
    * column: its exact (untruncated) footer bounds satisfy `lower ==
    * upper` with zero nulls, or the column is all-null in the file — the
    * layout identity partitioning and per-column clustered compaction
    * produce by construction. Then each file belongs to one group and
    * the global fold ([[foldAggs]]) splits per group losslessly. ANY file
    * failing homogeneity or coverage answers None — the caller plans the
    * ordinary scan, never an approximation; pending MOR tombstones and
    * more than `maxFiles` live files refuse too. */
  private[graft] def metaAggregateFiles(
      table: String, snap: Snapshot, files: Option[Seq[DataFileMeta]],
      groupCols: Seq[String], aggs: Seq[MetaAgg],
      maxFiles: Long = 200000L): Option[Seq[Array[Any]]] = {
    if (snap.deleteManifests.nonEmpty) return None
    val schema = StructType.fromDDL(snap.schemaDdl)
    val live = snap.manifests.filter(_.rows > 0)
    if (live.exists(_.statsV < 2)) return None
    if (live.map(_.fileCount).sum > maxFiles) return None
    val gFieldsOpt = groupCols.map(c => schema.fields.find(_.name == c))
    if (gFieldsOpt.exists(_.isEmpty)) return None
    val gFields = gFieldsOpt.flatten
    if (gFields.exists(f => !BranchCatalog.exactStatType(f.dataType))) return None
    val aggCols = aggs.collect {
      case MetaAgg.CountCol(c) => c
      case MetaAgg.MinCol(c) => c
      case MetaAgg.MaxCol(c) => c
      case MetaAgg.SumCol(c) => c
      case MetaAgg.AvgCol(c) => c
    }
    if (aggCols.exists(c => !schema.fieldNames.contains(c))) return None
    if (aggs.exists {
      case MetaAgg.MinCol(c) => !BranchCatalog.exactStatType(schema(c).dataType)
      case MetaAgg.MaxCol(c) => !BranchCatalog.exactStatType(schema(c).dataType)
      case MetaAgg.SumCol(c) => !summableCols(schema, Seq(c)).contains(c)
      case MetaAgg.AvgCol(c) => !summableCols(schema, Seq(c)).contains(c)
      case _ => false
    }) return None
    // W80: per-file sums for the grouped fold — a sidecar key missing a
    // file means that file was ALL-NULL when summed (files are immutable
    // and the sidecar job covered its whole manifest); a manifest without
    // a sidecar refuses via sumSidecars
    val sumCols = aggs.collect {
      case MetaAgg.SumCol(c) => c
      case MetaAgg.AvgCol(c) => c
    }.distinct
    val fileSums: Map[String, Map[String, Long]] = sumSidecars(table, live, sumCols) match {
      case None => if (sumCols.isEmpty) Map.empty else return None
      case Some(maps) => sumCols.map(c => c -> maps.flatMap(_(c))
        .map { case (p, s) => p -> s.toLong }.toMap).toMap
    }

    val fileList = files.getOrElse(live.flatMap(m => readManifest(m.path))).filter(_.rows > 0)
    // group key per file, with the homogeneity proof; None = bail whole
    val grouped = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Option[String]], scala.collection.mutable.ArrayBuffer[DataFileMeta]]
    if (gFields.isEmpty) grouped(Nil) = scala.collection.mutable.ArrayBuffer.empty
    for (f <- fileList) {
      val key = gFields.map { gf =>
        f.nullCounts.get(gf.name) match {
          case Some(n) if n == f.rows => Some(None) // all-null -> NULL group
          case Some(0L) =>
            (f.lower.get(gf.name), f.upper.get(gf.name)) match {
              case (Some(lo), Some(hi)) if lo == hi => Some(Some(lo))
              case _ => None // heterogeneous or missing bounds
            }
          case _ => None // mixed nulls, or null count not covered
        }
      }
      if (key.exists(_.isEmpty)) return None
      grouped.getOrElseUpdate(key.map(_.get), scala.collection.mutable.ArrayBuffer.empty) += f
    }

    val rows = grouped.toSeq.map { case (key, fs) =>
      val aggVals = foldAggs(schema,
        fs.toSeq.map(f => PartStats(f.rows, f.nullCounts, f.lower, f.upper)), aggs,
        c => Some(fs.toSeq.flatMap(f => fileSums(c).get(new Path(f.path).toUri.getPath))))
        .getOrElse(return None)
      val keyVals: Seq[Any] = key.zip(gFields).map {
        case (None, _) => null
        case (Some(s), gf) =>
          try BranchCatalog.statInternal(gf.dataType, s)
          catch { case _: Exception => return None }
      }
      (keyVals ++ aggVals).toArray
    }
    Some(rows)
  }

  /** Head lineage of table@branch across catalog commits (the Iceberg
    * `$history` metadata-table analogue): which snapshot was the branch
    * head at each refs version. Oldest first; versions where the table
    * (or branch) did not exist yet report None. O(refs versions) driver
    * metadata reads — a maintenance/debug surface, not a data path. */
  def headHistory(table: String, branch: String = "main"): Seq[(Long, Option[String])] =
    refsStore.listVersions().sorted.map { v =>
      val refs = Serialization.read[Refs](refsStore.read(v))
      v -> refs.branches.get(branch).flatMap(_.tables.get(table))
    }

  /** Lossless numeric widenings appends and schema evolution accept. */
  private def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case _ => false
  }

  /** CHECK constraints (`graft.constraint.<name>` TBLPROPERTIES — the
    * Delta table-constraint analogue): no row WRITTEN by an insert or
    * update path may evaluate a constraint to FALSE (NULL passes, SQL
    * CHECK semantics). The guard is one codegen'd filter predicate fused
    * into the write's own pass — zero extra jobs — whose false branch
    * raises with the constraint name and the offending row as JSON, so
    * the write job fails BEFORE any metadata commits. `subject` gates
    * the check to the rows a rewrite actually changed: a CoW rewrite's
    * carried-through rows are not re-validated, so pre-constraint
    * history stays deletable/compactable. */
  private def constraintGuard(df: DataFrame, props: Map[String, String],
      subject: Option[Column] = None): DataFrame = {
    val checks = props.toSeq.collect {
      case (k, v) if k.startsWith(BranchCatalog.ConstraintPrefix) =>
        k.stripPrefix(BranchCatalog.ConstraintPrefix) -> v
    }.sortBy(_._1)
    if (checks.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{coalesce, concat, expr, lit, raise_error, struct, to_json, when, col => fcol}
      val rowJson = to_json(struct(df.columns.map(fcol).toIndexedSeq: _*))
      checks.foldLeft(df) { case (d, (cname, sql)) =>
        val pass = coalesce(expr(sql).cast("boolean"), lit(true))
        val gated = subject.map(s => !coalesce(s, lit(false)) || pass).getOrElse(pass)
        d.filter(when(gated, lit(true)).otherwise(
          raise_error(concat(
            lit(s"CHECK constraint $cname ($sql) violated by row: "),
            rowJson)).cast("boolean")))
      }
    }
  }

  /** Column names a generation expression actually REFERENCES, by the
    * same parseExpression + UnresolvedAttribute walk createTable
    * validates with — never a text match, which would conflate names in
    * string literals or quoted identifiers. */
  private def generationRefs(sql: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(sql).collect {
      case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        ua.nameParts.head
    }

  /** W87 generated columns on the row-level DML paths — MERGE and
    * UPDATE, copy-on-write and merge-on-read, through the row-outcome
    * evaluator ([[Outcomes]]) — with Delta semantics, mirroring
    * [[alignToSchema]]'s rule for whole-batch writes: for rows the
    * statement WROTE (`written` mask — insert/update outcomes), an
    * omitted-or-NULL generated column is COMPUTED over the row's FINAL
    * values (post-UPDATE dependencies — this runs as a second pass over
    * the already-projected rows) and an explicitly provided value
    * (`explicit(c)` — the firing arm SET the column, or an INSERT's
    * source carried it) is VALIDATED against the generation, raising
    * with the offending row. Carried-through rows are untouched, so
    * pre-generation history stays rewritable. */
  private def generatedGuard(df: DataFrame, snap: Snapshot, schema: StructType,
      written: Column, explicit: String => Column): DataFrame = {
    if (snap.evo.generated.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{coalesce, col => fcol, concat, expr, lit, raise_error, struct, to_json, when}
      snap.evo.generated.foldLeft(df) { case (d, (c, sql)) =>
        val dt = schema(c).dataType
        val computed = expr(sql).cast(dt)
        val provided = coalesce(explicit(c), lit(false)) && fcol(c).isNotNull
        val validated = when(fcol(c) <=> computed, fcol(c)).otherwise(
          raise_error(concat(
            lit(s"GENERATED column $c: provided value "),
            coalesce(fcol(c).cast("string"), lit("null")),
            lit(s" does not match ALWAYS AS ($sql) on row: "),
            to_json(struct(d.columns.map(fcol).toIndexedSeq: _*)))).cast(dt))
        d.withColumn(c,
          when(!coalesce(written, lit(false)), fcol(c))
            .otherwise(when(provided, validated).otherwise(computed)))
      }
    }
  }

  /** Align a batch to the table schema for append: reorder columns, cast
    * columns whose types widen losslessly, and fill columns the batch
    * lacks with nulls (legal only for nullable columns — i.e. columns
    * added by [[evolveSchema]], so pre-evolution writers keep working).
    * Extra columns and non-widening type changes stay hard errors,
    * raised BEFORE any data is written. */
  private def alignToSchema(
      df: DataFrame, expected: StructType, table: String, branch: String,
      /** The pinned head's schema state: columns the batch omits fill its
        * WRITE default instead of NULL (W71), and its generated columns
        * compute (W87). None for mergeInto only: its "aligned source" is
        * a join input, not written rows — a default there would leak into
        * match conditions and update assignments. */
      evo: Option[SchemaEvo],
      /** The table's properties, whose CHECK constraints guard every
        * aligned row when `evo` is given. */
      props: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, concat, expr, lit, raise_error, struct, to_json, when}
    val incoming = df.schema
    val writeDefaults = evo.fold(Map.empty[String, String])(_.writeDefaults)
    // W87 generated columns ride the same choke point as write defaults:
    // omitted -> computed over the batch row, provided -> validated
    val generated = evo.fold(Map.empty[String, String])(_.generated)
    def mismatch(): Nothing = throw new IllegalArgumentException(
      s"schema mismatch appending to $table@$branch: table has " +
        s"${expected.toDDL}; batch has ${incoming.toDDL}")
    // batch→table name resolution is case-INSENSITIVE like default Spark
    // SQL (exact name wins; a unique case-insensitive match follows); two
    // batch columns landing on one table column is a real mismatch
    def expectedFor(n: String): Option[String] =
      if (expected.fieldNames.contains(n)) Some(n)
      else expected.fieldNames.filter(_.equalsIgnoreCase(n)) match {
        case Array(one) => Some(one)
        case _ => None
      }
    val mappedPairs = incoming.fields.map(f =>
      expectedFor(f.name).getOrElse(mismatch()) -> f)
    if (mappedPairs.map(_._1).distinct.length != mappedPairs.length) mismatch()
    val incomingByName = mappedPairs.toMap
    val cols = expected.fields.map { f =>
      incomingByName.get(f.name) match {
        case Some(bf) if bf.dataType == f.dataType => col(bf.name).as(f.name)
        case Some(bf) if widens(bf.dataType, f.dataType) => col(bf.name).cast(f.dataType).as(f.name)
        case Some(_) => mismatch()
        case None => generated.get(f.name).orElse(writeDefaults.get(f.name)) match {
          case Some(sql) => expr(sql).cast(f.dataType).as(f.name)
          case None =>
            if (!f.nullable) throw new IllegalArgumentException(
              s"schema mismatch appending to $table@$branch: batch lacks " +
                s"non-nullable column ${f.name}")
            lit(null).cast(f.dataType).as(f.name)
        }
      }
    }
    val aligned = df.select(cols.toIndexedSeq: _*)
    // Provided values for generated columns must MATCH the generation
    // (Delta semantics), validated row-level in the same fused pass as
    // the constraint guard. A provided NULL counts as OMITTED and is
    // COMPUTED instead: Spark's SQL INSERT fills unnamed columns with
    // NULL before the connector ever sees the batch, so NULL-means-
    // compute is the only reading that keeps `INSERT INTO t (a, b)`
    // working — and a generated column's stored value is the
    // generation's result by definition, so nothing is lost.
    val genChecked = generated
      .filter { case (c, _) => incomingByName.contains(c) }
      .foldLeft(aligned) { case (d, (c, sql)) =>
        val computed = expr(sql).cast(expected(c).dataType)
        d.withColumn(c,
          when(col(c).isNull, computed)
            .otherwise(when(col(c) <=> computed, col(c)).otherwise(
              raise_error(concat(
                lit(s"GENERATED column $c: provided value "),
                coalesce(col(c).cast("string"), lit("null")),
                lit(s" does not match ALWAYS AS ($sql) on row: "),
                to_json(struct(d.columns.map(col).toIndexedSeq: _*))))
                .cast(expected(c).dataType))))
      }
    // every alignToSchema caller writes EVERY aligned row (append,
    // overwrite, upsert, MOR upsert, CDC apply, txn append) — except
    // mergeInto, whose source rows may only pair for matching; it opts
    // out and guards its written survivors itself
    if (evo.isDefined) constraintGuard(genChecked, props) else genChecked
  }

  /** Evolve table@branch's schema: ADD nullable columns and WIDEN numeric
    * columns (byte->short->int->long, float->double). A pure metadata
    * commit — a child snapshot with the SAME manifests and the new DDL;
    * no data is rewritten. Older snapshots keep the schema their data was
    * committed under, so time travel returns exactly what was written
    * (Iceberg semantics — the reference inherits this from PyIceberg's
    * schema evolution). Narrowing types and adding non-nullable columns
    * are rejected.
    *
    * Columns may also be DROPPED. A drop never touches data — reads
    * project the new schema and simply never request the column from old
    * files. The
    * hazard a drop creates is the RE-ADD: old files still carry the old
    * values under that name, and a name-based read would resurrect them
    * into the "new" column (the collision Iceberg prevents with field
    * IDs). Guarded without IDs via commit sequences: re-adding a name is
    * refused until EVERY current manifest postdates the snapshot that
    * last carried it — i.e. until a rewrite (compaction/DML) has
    * replaced every file written while the old column existed. Dropping
    * the hidden-partition source column or a pending MOR tombstone key
    * is refused (layout/merge semantics depend on them). Renames go
    * through [[renameColumn]] (a drop+add pair here loses the data). */
  def evolveSchema(table: String, newSchema: StructType, branch: String = "main",
      defaults: Map[String, String] = Map.empty): Snapshot =
    commitTable(table, branch, None) { (cur, b) =>
      val old = StructType.fromDDL(cur.schemaDdl)
      // default case-insensitive Spark SQL cannot resolve a table whose
      // schema holds case-duplicate names — refuse to ever commit one
      val caseDups = newSchema.fieldNames.groupBy(_.toLowerCase)
        .collect { case (_, ns) if ns.length > 1 => ns.mkString("/") }
      require(caseDups.isEmpty,
        s"schema has case-insensitive duplicate columns: ${caseDups.mkString(", ")}")
      val newByName = newSchema.fields.map(f => f.name -> f).toMap
      for (of <- old.fields; nf <- newByName.get(of.name))
        require(of.dataType == nf.dataType || widens(of.dataType, nf.dataType),
          s"illegal type change for ${of.name}: ${of.dataType.sql} -> ${nf.dataType.sql}")
      val dropped = old.fields.map(_.name).filterNot(newByName.contains)
      if (dropped.nonEmpty) {
        activeSpecsOf(cur.partitionSpec).map(_.spec).foreach(s =>
          require(!dropped.contains(s.column),
            s"cannot drop ${s.column}: it is the table's hidden-partition source " +
              "(drop the partition field or rewritePartitioned first)"))
        // a generated column may be dropped (its generation retires with
        // it); a column FEEDING a surviving generation may not
        cur.evo.generated.foreach { case (g, sql) =>
          if (!dropped.contains(g)) {
            val refs0 = generationRefs(sql)
            dropped.foreach(d => require(
              !refs0.exists(_.equalsIgnoreCase(d)),
              s"cannot drop $d: GENERATED column $g derives from it"))
          }
        }
        // a dropped declared-sort column would brick every later append
        // (writeOrderOf refuses unknown columns at write time)
        b.tableProps.get(table).getOrElse(Map.empty[String, String])
          .get(BranchCatalog.WriteOrderKey).foreach { v =>
            val orderCols = v.split(",").map(_.trim).filter(_.nonEmpty)
            dropped.find(d => orderCols.exists(_.equalsIgnoreCase(d))).foreach(d =>
              sys.error(s"cannot drop $d: it is in the declared write sort order " +
                s"(${BranchCatalog.WriteOrderKey}) — UNSET the property first"))
          }
        val morKeys = cur.deleteManifests.flatMap(_.keyCols).toSet
        dropped.find(morKeys.contains).foreach(c => sys.error(
          s"cannot drop $c: pending MOR tombstones anti-join on it — " +
            "materialize them with compactDataFiles first"))
      }
      val added = newSchema.fields.filter(f => !old.fieldNames.contains(f.name))
      require(defaults.keySet.subsetOf(added.map(_.name).toSet),
        s"defaults may only accompany ADDED columns; " +
          s"${defaults.keySet.diff(added.map(_.name).toSet).mkString(", ")} " +
          "is not being added (use setColumnDefault to change an existing " +
          "column's write default)")
      if (added.nonEmpty) {
        added.foreach(nf =>
          require(nf.nullable, s"added column ${nf.name} must be nullable"))
        // re-add guard: the latest ANCESTOR schema carrying each added
        // name, by one chain walk (newest first)
        val chain = Iterator.iterate(cur.parentId.flatMap(loadSnapshotOpt(table, _))) {
          case Some(s) => s.parentId.flatMap(loadSnapshotOpt(table, _))
          case None => None
        }.takeWhile(_.isDefined).flatten.toSeq
        for (nf <- added;
             last <- chain.find(s =>
               StructType.fromDDL(s.schemaDdl).fieldNames.contains(nf.name)))
          require(cur.manifests.forall(_.seq > last.seq),
            s"column ${nf.name} existed until snapshot ${last.id} (seq ${last.seq}); " +
              "data files written before the drop still carry its old values under " +
              "that name — rewrite them (compactDataFiles) before re-adding")
      }
      // defaults on added columns (W71): canonicalize each literal NOW
      // (parse + constant-fold + cast via Spark's own default-column
      // analyzer), so a bad default fails the ALTER, never a later read
      val canon = defaults.map { case (c, sql) =>
        c -> canonicalDefault(c, newSchema(c).dataType, sql)
      }
      val evolved = canon.foldLeft(
        evolvedEvo(cur.evo, StructType.fromDDL(cur.schemaDdl), newSchema)) {
        case (e, (c, sql)) => e.withAddDefault(c, sql, cur.seq + 1)
      }
      Some(Change(SnapshotOp.Schema, edit = _.copy(schemaDdl = newSchema.toDDL, evo = evolved)))
    }

  /** Field-id bookkeeping for a by-name add/drop/widen evolution: dropped
    * columns retire their ids (never reused — [[SchemaEvo.fieldIdSeq]]),
    * added columns mint fresh ones, widenings keep theirs. */
  private def evolvedEvo(
      evo: SchemaEvo, old: StructType, next: StructType): SchemaEvo = {
    val oldNames = old.fieldNames.toSet
    val nextNames = next.fieldNames.toSet
    val afterDrop = oldNames.diff(nextNames).toSeq.sorted.foldLeft(evo)(_ dropColumn _)
    next.fieldNames.filterNot(oldNames.contains).foldLeft(afterDrop)(_ addColumn _)
  }

  /** Validate + canonicalize a column default (W71): Spark's own
    * default-column analyzer parses the SQL, refuses non-constant or
    * unresolvable expressions (`current_timestamp()` and friends are
    * rejected — a default that drifts per write is not a default), folds
    * it, and checks the cast to the column type; the stored form is the
    * folded LITERAL's SQL text (`'en'`, `TIMESTAMP '...'`), which both
    * Spark's reader-side `EXISTS_DEFAULT` resolution and any later
    * engine parse unambiguously. */
  private def canonicalDefault(col: String, dt: DataType, sql: String): String = {
    val analyzed = try org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .analyze(col, dt, sql, "ALTER TABLE ADD COLUMN")
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"illegal default for $col (${dt.sql}): $sql — ${e.getMessage}", e)
    }
    require(analyzed.foldable, s"default for $col must be a constant: $sql")
    org.apache.spark.sql.catalyst.expressions.Literal(analyzed.eval(null), dt).sql
  }

  /** Change (or with None, drop) a column's WRITE default — the value
    * future writers omitting the column get. One metadata commit. The
    * INITIAL default is deliberately untouched: it describes what
    * already-written pre-add files mean, and moving it would rewrite
    * history (Iceberg v3 semantics — `write-default` is mutable,
    * `initial-default` is set once at ADD COLUMN). */
  def setColumnDefault(table: String, col: String, default: Option[String],
      branch: String = "main"): Snapshot =
    commitTable(table, branch, None) { (cur, _) =>
      val schema = StructType.fromDDL(cur.schemaDdl)
      val field = schema.fields.find(_.name == col).getOrElse(
        sys.error(s"no column $col in $table"))
      val canon = default.map(canonicalDefault(col, field.dataType, _))
      Some(Change(SnapshotOp.Schema, edit = c => c.copy(evo = c.evo.withWriteDefault(col, canon))))
    }

  /** RENAME COLUMN as one metadata commit (W58 — no data rewritten): the
    * column keeps its FIELD ID, the schema gets the new name, and every
    * scan resolves old files by id (graft writes `PARQUET:field_id` into
    * each footer and attaches the ids to each read schema — Spark's own
    * `spark.sql.parquet.fieldId.read` matching; the Iceberg rename
    * mechanism). Refused on pre-field-id tables (their files carry no
    * ids; an id-ed read would NULL every column — recreate the table to
    * enable renames), on the hidden-partition source column, and while
    * pending MOR tombstones key on the column. Footer/manifest stats and
    * bloom sidecars of pre-rename files are keyed by the OLD name, so
    * pruning on the new name skips them (conservative, never wrong)
    * until a compaction rewrites; foreign-engine export also refuses
    * until then (external readers match by name). */
  def renameColumn(
      table: String, from: String, to: String, branch: String = "main"): Snapshot =
    commitTable(table, branch, None) { (cur, _) =>
      val schema = StructType.fromDDL(cur.schemaDdl)
      require(schema.fieldNames.contains(from), s"no column $from in $table")
      require(!schema.fieldNames.contains(to), s"column $to already exists in $table")
      require(cur.evo.fieldIds.contains(from),
        s"$table predates field-id support — its files carry no column ids, so a " +
          "rename cannot resolve old files; recreate the table (CTAS + backfill) " +
          "to enable renames")
      require(!cur.evo.idlessFiles,
        s"$table holds imported files (addDataFiles) that carry no field ids — " +
          "a rename could not resolve them; rewrite first (compactDataFiles " +
          "stamps ids everywhere and re-enables renames)")
      cur.evo.generated.foreach { case (g, sql) =>
        require(g != from && !generationRefs(sql).exists(_.equalsIgnoreCase(from)),
          s"cannot rename $from: it is (or feeds) GENERATED column $g — recreate the table")
      }
      activeSpecsOf(cur.partitionSpec).map(_.spec).foreach(sp => require(sp.column != from,
        s"cannot rename $from: it is the table's hidden-partition source " +
          "(evolve the layout with rewritePartitioned first)"))
      require(!cur.deleteManifests.exists(_.keyCols.contains(from)),
        s"pending MOR tombstones anti-join on $from — materialize with " +
          "compactDataFiles first")
      // name-reuse guard (symmetric with evolveSchema's re-add guard):
      // if `to` ever existed on this lineage, files written before its
      // drop/rename still carry footer stats and bloom entries KEYED BY
      // that name — a predicate on the renamed column would consult the
      // retired column's stats and could prune files wrongly. Refuse
      // until a rewrite stamps current names everywhere.
      val chain = Iterator.iterate(cur.parentId.flatMap(loadSnapshotOpt(table, _))) {
        case Some(s) => s.parentId.flatMap(loadSnapshotOpt(table, _))
        case None => None
      }.takeWhile(_.isDefined).flatten.toSeq
      chain.find(s => StructType.fromDDL(s.schemaDdl).fieldNames.contains(to))
        .foreach { last =>
          require(cur.manifests.forall(_.seq > last.seq),
            s"column $to existed until snapshot ${last.id} (seq ${last.seq}); files " +
              "written before then still carry stats under that name — rewrite them " +
              "(compactDataFiles) before renaming onto it")
        }
      val newSchema = StructType(schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      // the data is unchanged, so sort contracts survive under the new name
      def renamed(cols: Seq[String]) = cols.map(c => if (c == from) to else c)
      Some(Change(SnapshotOp.Schema, edit = _.copy(schemaDdl = newSchema.toDDL,
        sortOrder = renamed(cur.sortOrder),
        sortWithinPartitions = renamed(cur.sortWithinPartitions),
        evo = cur.evo.rename(from, to))))
    }

  /** The branch's schema CHANGE points, oldest first: (snapshotId, DDL)
    * whenever the schema differs from the parent's — the schema history
    * the snapshot chain records for free. */
  def schemaHistory(table: String, branch: String = "main"): Seq[(String, String)] = {
    val headId = snapshotIdOf(table, branch).getOrElse(sys.error(s"no table $table on $branch"))
    val chain = Iterator.iterate(Option(loadSnapshot(table, headId))) {
      case Some(s) => s.parentId.flatMap(loadSnapshotOpt(table, _))
      case None => None
    }.takeWhile(_.isDefined).flatten.toSeq.reverse
    chain.foldLeft(Seq.empty[(String, String)]) { (acc, s) =>
      if (acc.lastOption.map(_._2).contains(s.schemaDdl)) acc
      else acc :+ (s.id, s.schemaDdl)
    }
  }

  /** Scan ONLY the data the branch added since it forked from main: the
    * manifest-list diff between the branch head and its fork base. This
    * is what makes write-audit-publish O(batch) instead of O(table) —
    * at 100 TB, auditing every commit by re-scanning the whole table is
    * the difference between seconds and hours. Pure metadata diff; no
    * file listing. The delta is read as the head snapshot restricted to
    * the delta manifests, so the head's pending tombstones and position
    * sidecars apply to it: rows the branch deleted are not in the delta.
    * [[Wap]]'s audit answers from [[metaAggregateDelta]] first and runs
    * an aggregate over this scan only when the metadata cannot answer
    * exactly. */
  def scanBranchDelta(table: String, branch: String): DataFrame = {
    val (head, delta) = branchDelta(table, branch)
    scanOf(table, head.copy(manifests = delta), None)
  }

  /** The branch head of `table` and the data manifests it holds that its
    * fork base on main does not — the one definition of a branch delta. */
  private def branchDelta(table: String, branch: String): (Snapshot, Seq[ManifestRef]) = {
    val b = currentRefs().branches.getOrElse(branch, sys.error(s"no branch $branch"))
    val headId = b.tables.getOrElse(table, sys.error(s"no table $table on $branch"))
    val head = loadSnapshot(table, headId)
    val baseManifests = b.baseOfMain.get(table)
      .map(loadSnapshot(table, _).manifests.map(_.path).toSet)
      .getOrElse(Set.empty)
    (head, head.manifests.filterNot(m => baseManifests.contains(m.path)))
  }

  /** The data FILES `toId` references that `fromId` (None = nothing) does
    * not — the file-level planning primitive behind [[scanChangesBetween]]
    * and the streaming source. Same append-granular semantics; refuses
    * while the head snapshot carries MOR tombstones (a row-suppressing
    * delta cannot be expressed as added files). */
  def changedFilesBetween(
      table: String, fromId: Option[String], toId: String): Seq[DataFileMeta] =
    changedFilesOf(table, fromId, loadSnapshot(table, toId))

  private def changedFilesOf(
      table: String, fromId: Option[String], to: Snapshot): Seq[DataFileMeta] = {
    require(to.deleteManifests.isEmpty,
      s"snapshot ${to.id} of $table has pending MOR tombstones and incremental deltas " +
        "are append-granular — materialize with compactDataFiles first")
    fromId match {
      case None => filesOf(to)
      case Some(f) =>
        val from = loadSnapshotOpt(table, f).getOrElse(sys.error(
          s"incremental start snapshot $f of $table has been expired — " +
            "restart the consumer from scratch"))
        windowDiff(from, to).added
    }
  }

  /** What the window `from` -> `to` changed: the data manifests only one
    * endpoint lists, and the data files removed and added between them.
    * Manifests diff by path; files diff only inside the removed and added
    * manifests (read once, on first use). A snapshot lists each data
    * file in exactly one manifest, so a file in a manifest both
    * endpoints list is in both, and this equals the full file diff at
    * O(touched manifests) of metadata reads — a manifest fold re-lists
    * old files under a new path, and they cancel here. */
  private[graft] final class WindowDiff(from: Snapshot, to: Snapshot) {
    val removedManifests: Seq[ManifestRef] = {
      val toPaths = to.manifests.map(_.path).toSet
      from.manifests.filterNot(m => toPaths(m.path))
    }
    val addedManifests: Seq[ManifestRef] = {
      val fromPaths = from.manifests.map(_.path).toSet
      to.manifests.filterNot(m => fromPaths(m.path))
    }
    lazy val (removed, added) = {
      val read = manifestFiles(removedManifests ++ addedManifests)
      val (rem, add) = (read.take(removedManifests.size).flatten,
        read.drop(removedManifests.size).flatten)
      val (remPaths, addPaths) = (rem.map(_.path).toSet, add.map(_.path).toSet)
      (rem.filterNot(f => addPaths(f.path)), add.filterNot(f => remPaths(f.path)))
    }
  }

  private[graft] def windowDiff(from: Snapshot, to: Snapshot): WindowDiff =
    new WindowDiff(from, to)

  /** Is `fromId` -> `toId` a pure append window? No `from` manifest was
    * removed (deletes, updates and compactions replace manifests) and
    * neither endpoint carries tombstones. False when an endpoint has
    * expired. Metadata only: no manifest is read. */
  private[graft] def appendOnlyWindow(table: String, fromId: String, toId: String): Boolean =
    (for {
      from <- loadSnapshotOpt(table, fromId)
      to <- loadSnapshotOpt(table, toId)
    } yield from.deleteManifests.isEmpty && to.deleteManifests.isEmpty &&
      windowDiff(from, to).removedManifests.isEmpty).getOrElse(false)

  /** Why the window's rows cannot be compared as a changelog, if they
    * cannot: both endpoints must be tombstone-free, and the rows must
    * resolve through field ids or the schema must not change. */
  private def changelogRefusal(table: String, from: Snapshot, to: Snapshot): Option[String] =
    if (from.deleteManifests.nonEmpty || to.deleteManifests.nonEmpty)
      Some(s"changelog endpoints of $table must be tombstone-free — materialize with " +
        "compactDataFiles first")
    else if (to.evo.fieldIds.isEmpty && from.schemaDdl != to.schemaDdl)
      Some(s"changelog window of $table changes the schema and the table predates " +
        "field ids — rows cannot be compared across the change")
    else None

  private def requireChangelogWindow(table: String, from: Snapshot, to: Snapshot): Unit = {
    val refusal = changelogRefusal(table, from, to)
    require(refusal.isEmpty, refusal.get)
  }

  /** [[scanChangelog]] of a window that can be read as a changelog; None
    * exactly when it cannot: an endpoint has expired, or
    * [[changelogRefusal]] refuses it. Every other failure propagates —
    * the incremental refreshes fall back to a full rebuild on None only. */
  private[graft] def changelogIfReadable(
      table: String, fromId: String, toId: String): Option[DataFrame] =
    for {
      from <- loadSnapshotOpt(table, fromId)
      to <- loadSnapshotOpt(table, toId)
      if changelogRefusal(table, from, to).isEmpty
    } yield changelogOf(table, from, to)

  /** NET row-level CHANGELOG of a snapshot window (the Iceberg
    * `create_changelog_view` analogue in its net-changes form): every
    * row of the table at `toId` that was NOT present at `fromId` comes
    * back with `_change_type = 'insert'`, every row present at `fromId`
    * but gone at `toId` with `'delete'` — the feed a downstream
    * incremental consumer needs when the window contains DELETES, which
    * the append-granular [[scanChangesBetween]] refuses.
    *
    * Computed as a symmetric FILE-level diff ([[WindowDiff]]): only the
    * manifests and files referenced by exactly one endpoint are read
    * (untouched manifests and files never open — a selective delete's
    * changelog costs O(rewritten files)), then one
    * full-row hash aggregation nets multiplicities, so a CoW rewrite's
    * carried survivors cancel and duplicate rows diff by COUNT (a row
    * appearing twice before and once after yields one delete). Both
    * files sides read under the TO snapshot's schema — field ids
    * resolve renamed columns in pre-rename files; for pre-field-id
    * tables the window must not change the schema. Both endpoints must
    * be tombstone-free (materialize MOR state first). */
  def scanChangelog(table: String, fromId: String, toId: String): DataFrame = {
    val from = loadSnapshot(table, fromId)
    val to = loadSnapshot(table, toId)
    requireChangelogWindow(table, from, to)
    changelogOf(table, from, to)
  }

  private def changelogOf(table: String, from: Snapshot, to: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.{abs => fabs, col, explode, lit, sequence, sum => fsum, when}
    val schema = StructType.fromDDL(to.schemaDdl)
    val diff = windowDiff(from, to)
    val cols = schema.fieldNames.toSeq
    val outSchema = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("_change_type", StringType, nullable = false))
    def side(fs: Seq[DataFileMeta], w: Int): DataFrame =
      if (fs.isEmpty)
        emptyFrame(StructType(schema.fields :+
            org.apache.spark.sql.types.StructField("__w", org.apache.spark.sql.types.IntegerType)))
      else readFiles(BranchCatalog.readSchema(schema, to.evo), sized(fs))
        .select(cols.map(col) :+ lit(w).as("__w"): _*)
    side(diff.removed, -1).unionByName(side(diff.added, 1))
      .groupBy(cols.map(col): _*).agg(fsum(col("__w")).as("__d"))
      .filter(col("__d") =!= 0)
      .select(cols.map(col) :+
        when(col("__d") > 0, lit("insert")).otherwise(lit("delete")).as("_change_type") :+
        fabs(col("__d")).cast("int").as("__n"): _*)
      .withColumn("__i", explode(sequence(lit(1), col("__n"))))
      .select(outSchema.fieldNames.map(col).toSeq: _*)
  }

  /** ROW-IDENTIFIED changelog (W73 × W62 — the Delta CDF shape): like
    * [[scanChangelog]] but keyed by `_row_id` instead of value
    * multiplicity, so an UPDATE surfaces as a paired
    * `update_preimage` / `update_postimage` (same id, old and new
    * values) rather than an anonymous delete+insert — the signal a
    * downstream incremental consumer needs to apply changes by identity.
    * Rows carried byte-identical through a rewrite cancel (same id, same
    * values); ids only on the `from` side emit `delete`, only on `to`
    * emit `insert`. One pass: file-level diff bounds the read to changed
    * files, both sides decode through their own snapshot's lineage map,
    * one full-outer join on the id, and each joined row explodes into
    * its 0–2 change rows (no branch re-executes the join). Requires row
    * lineage on both endpoints and tombstone-free endpoints (same
    * contract as [[scanChangelog]]). O(changed files), never O(table). */
  def scanChangelogLineage(table: String, fromId: String, toId: String): DataFrame = {
    import org.apache.spark.sql.functions.{array, col, explode, lit, struct, when}
    val from = loadSnapshot(table, fromId)
    val to = loadSnapshot(table, toId)
    require(from.lin.enabled && to.lin.enabled,
      s"row-identified changelog of $table needs row lineage on both endpoints — " +
        "run enableRowLineage first")
    requireChangelogWindow(table, from, to)
    val schema = StructType.fromDDL(to.schemaDdl)
    val cols = schema.fieldNames.toSeq
    val diff = windowDiff(from, to)
    def decoded(files: Seq[DataFileMeta], snap: Snapshot, tag: String): DataFrame = {
      import org.apache.spark.sql.functions.{broadcast, coalesce}
      val readSchema = lineageReadSchema(schema, snap)
      if (files.isEmpty)
        return emptyFrame(StructType(schema.fields.map(f => f.copy(name = s"$tag${f.name}")) :+
            StructField(s"${tag}id", LongType)))
      readFiles(readSchema, sized(files))
        .select(col("*"),
          barePath(col("_metadata.file_path")).as("__lin_path"),
          col("_metadata.row_index").as("__lin_idx"))
        .join(broadcast(lineageFileMap(snap)), Seq("__lin_path"))
        .select(cols.map(c => col(c).as(s"$tag$c")) :+
          coalesce(col(BranchCatalog.RowIdCol), col("__lin_base") + col("__lin_idx"))
            .as(s"${tag}id"): _*)
    }
    // each side's lineage map lists only its touched manifests: they hold
    // every file the side reads
    val o = decoded(diff.removed, from.copy(manifests = diff.removedManifests), "__o_")
    val n = decoded(diff.added, to.copy(manifests = diff.addedManifests), "__n_")
    val j = o.join(n, col("__o_id") === col("__n_id"), "full_outer")
    val oldStruct = struct(cols.map(c => col(s"__o_$c").as(c)): _*)
    val newStruct = struct(cols.map(c => col(s"__n_$c").as(c)): _*)
    val hasOld = col("__o_id").isNotNull
    val hasNew = col("__n_id").isNotNull
    val changeElem = StructType(Seq(
      StructField("r", schema), StructField("t", StringType, nullable = false)))
    val changes = when(hasOld && hasNew,
        when(oldStruct <=> newStruct,
          // carried byte-identical through a rewrite: no change
          array().cast(org.apache.spark.sql.types.ArrayType(changeElem)))
          .otherwise(array(
            struct(oldStruct.as("r"), lit("update_preimage").as("t")),
            struct(newStruct.as("r"), lit("update_postimage").as("t")))))
      .when(hasOld,
        array(struct(oldStruct.as("r"), lit("delete").as("t"))))
      .otherwise(
        array(struct(newStruct.as("r"), lit("insert").as("t"))))
    j.select(
        org.apache.spark.sql.functions.coalesce(col("__o_id"), col("__n_id")).as("_row_id"),
        explode(changes).as("__c"))
      .select(cols.map(c => col(s"__c.r.$c").as(c)) ++
        Seq(col("_row_id"), col("__c.t").as("_change_type")): _*)
  }

  /** The pruned (path, bytes) list of one incremental window, for the
    * SQL connector's changes scan ([[graft.sql]] `graft.changes.from`
    * read option): [[changedFilesBetween]]'s append delta, with the same
    * partition-transform + footer-stats + bloom pruning the ordinary
    * batch scan applies — a filtered changes read opens only the delta
    * files the predicate admits. */
  private[graft] def plannedChangedFiles(
      table: String, fromId: Option[String], toId: String,
      cond: Option[Column]): Seq[(String, Long)] = {
    val snap = loadSnapshot(table, toId) // one read serves diff AND prune
    val files = changedFilesOf(table, fromId, snap)
    val schema = StructType.fromDDL(snap.schemaDdl)
    cond.flatMap(resolvePredicate(_, schema)).fold(files)(pruneFiles(files, _, schema,
      specsOf(snap.partitionSpec), new BloomProbe(snap.manifests))).map(f => f.path -> f.bytes)
  }

  /** Incremental read between two snapshots (the Iceberg
    * incremental-append-scan analogue): rows in data files `toId`
    * references that `fromId` does not — the append delta of a snapshot
    * window, the feed for incremental downstream pipelines ("process
    * only what landed since my last run"). A metadata diff
    * ([[WindowDiff]]): only the manifests one endpoint lists and the
    * other does not are read, and their files subtract — file-level
    * subtraction keeps the delta exact when manifest compaction re-folded
    * old files into a new manifest (manifest-level subtraction would
    * re-report the whole table). Cost is O(touched manifests) of driver
    * reads, never O(table). DML rewrites
    * (delete/update/data compaction) produce genuinely NEW files whose
    * rows are reported again — snapshot deltas are append-granular, not
    * row-level CDC; run incremental consumers against append-only
    * windows or diff downstream. */
  def scanChangesBetween(table: String, fromId: String, toId: String): DataFrame = {
    val from = loadSnapshot(table, fromId)
    val to = loadSnapshot(table, toId)
    val schema = StructType.fromDDL(to.schemaDdl)
    val files = windowDiff(from, to).added
    if (files.isEmpty)
      emptyFrame(schema)
    else readFiles(BranchCatalog.readSchema(schema, to.evo), sized(files))
  }

  /** Time travel by TIMESTAMP (Iceberg `TIMESTAMP AS OF`): scan the last
    * snapshot on `branch` committed at or before `asOfMillis` — walks the
    * branch's parent chain (metadata only; stops at the expiry horizon
    * like commitHistory). Errors when the table did not exist yet. */
  def scanAsOf(
      table: String, asOfMillis: Long, branch: String = "main",
      filter: Option[Column] = None): DataFrame =
    scanSnapshot(table, snapshotIdAsOf(table, asOfMillis, branch), filter)

  /** The id of the last snapshot on `branch` committed at or before
    * `asOfMillis` — the resolution step of [[scanAsOf]], exposed for the
    * SQL catalog's `TIMESTAMP AS OF`. */
  def snapshotIdAsOf(table: String, asOfMillis: Long, branch: String = "main"): String = {
    val headId = snapshotIdOf(table, branch)
      .getOrElse(sys.error(s"no table $table on $branch"))
    val chain = Iterator.iterate(Option(loadSnapshot(table, headId))) {
      case Some(s) => s.parentId.flatMap(loadSnapshotOpt(table, _))
      case None => None
    }.takeWhile(_.isDefined).flatten
    chain.find(_.committedAtMillis <= asOfMillis)
      .getOrElse(sys.error(
        s"no snapshot of $table@$branch at or before $asOfMillis (created later, or expired)"))
      .id
  }

  /** The committed schema of one snapshot (metadata read only) — the SQL
    * catalog resolves `loadTable` schemas through this. */
  def schemaOfSnapshot(table: String, snapshotId: String): StructType =
    StructType.fromDDL(loadSnapshot(table, snapshotId).schemaDdl)

  /** One snapshot's commit sequence (metadata read only) — orders the
    * streaming source's offsets. */
  def seqOfSnapshot(table: String, snapshotId: String): Long =
    loadSnapshot(table, snapshotId).seq

  /** One snapshot's full metadata (manifest refs, parent, seq — no
    * manifest/data reads); the Opt variant returns None past the expiry
    * horizon. The streaming source's admission control walks these. */
  def snapshotMeta(table: String, snapshotId: String): Snapshot =
    loadSnapshot(table, snapshotId)
  def snapshotMetaOpt(table: String, snapshotId: String): Option[Snapshot] =
    loadSnapshotOpt(table, snapshotId)

  /** Roll a branch back to an earlier snapshot (Iceberg `rollback`):
    * one pointer swap — the bad commits stay on disk for inspection and
    * time travel until expiry, exactly like an unmerged branch. The
    * target must be an ancestor of the branch head (rolling "back" to an
    * unrelated snapshot would silently graft history). */
  def rollbackTo(table: String, snapshotId: String, branch: String = "main"): Unit = {
    commitRefs { refs =>
      val b = refs.branches.getOrElse(branch, sys.error(s"no branch $branch"))
      val headId = b.tables.getOrElse(table, sys.error(s"no table $table on $branch"))
      val ancestors = Iterator.iterate(Option(loadSnapshot(table, headId))) {
        case Some(s) => s.parentId.flatMap(loadSnapshotOpt(table, _))
        case None => None
      }.takeWhile(_.isDefined).flatten.map(_.id).toSet
      require(ancestors.contains(snapshotId),
        s"$snapshotId is not an ancestor of $table@$branch — refusing to graft history")
      refs.copy(branches = refs.branches.updated(branch,
        b.copy(tables = b.tables.updated(table, snapshotId))))
    }
    ()
  }

  /** Cherry-pick ONE committed snapshot's delta onto another branch
    * (Iceberg's `cherrypick_snapshot` — its native WAP publish
    * primitive): the manifests `snapshotId` ADDED relative to its parent
    * are appended onto `into`'s current head as a new commit. Restricted
    * to APPEND deltas — a snapshot that also removed manifests (a DML
    * rewrite, a compaction) or changed tombstones cannot be replayed
    * onto a diverged head without the full 3-way [[merge]], so those
    * refuse loudly. Idempotent by DATA FILE, not manifest path (a
    * manifest fold re-lists picked files under a new path): when every
    * file the snapshot added is already on the target, nothing commits;
    * when only some are, the pick refuses, since replaying the rest
    * would need the 3-way [[merge]]. Schema and partition layout must
    * match the target head. Metadata-only — O(delta manifests + the
    * target's manifests the parent lacks), no data moves. */
  def cherrypickSnapshot(table: String, snapshotId: String,
      into: String = "main"): Snapshot = {
    val snap = loadSnapshot(table, snapshotId)
    val parent = snap.parentId.map(loadSnapshot(table, _)).getOrElse(
      sys.error(s"$snapshotId has no parent — cherry-pick replays a commit's delta"))
    val delta = windowDiff(parent, snap)
    require(delta.removedManifests.isEmpty,
      s"$snapshotId removed manifests relative to its parent (DML rewrite or " +
        "compaction) — only append commits cherry-pick; publish with merge()")
    require(snap.deleteManifests.map(_.path) == parent.deleteManifests.map(_.path),
      s"$snapshotId changed MOR tombstones — only append commits cherry-pick")
    commitTable(table, into, None) { (head, _) =>
      require(head.schemaDdl == snap.schemaDdl,
        s"schema of $snapshotId diverged from $table@$into — evolve first")
      require(head.partitionSpec == snap.partitionSpec,
        s"partition layout of $snapshotId diverged from $table@$into")
      // the parent's manifests cannot list a file the snapshot added, so
      // only the head's other manifests can already hold one
      val parentPaths = parent.manifests.map(_.path).toSet
      val onHead = manifestFiles(head.manifests.filterNot(m => parentPaths(m.path)))
        .flatten.map(_.path).toSet
      val landed = delta.added.count(f => onHead(f.path))
      require(landed == 0 || landed == delta.added.size,
        s"$landed of the ${delta.added.size} files $snapshotId added are already on " +
          s"$table@$into — re-picking the rest cannot be told from a duplicate; " +
          "publish with merge()")
      if (landed == delta.added.size) None
      else {
        // cherry-picked manifests keep their bases VERBATIM (the global
        // counter already reserved those ranges at the original commit,
        // so no target-side allocation can collide) — consistent with
        // files whose ids were physically materialized by a source-side
        // rewrite. Only bases never assigned (source committed before
        // lineage was on) allocate fresh.
        val (withBase, unstamped) = delta.addedManifests.partition(_.firstRowId >= 0L)
        Some(Change(SnapshotOp.Cherrypick, unstamped, c =>
          c.copy(manifests = c.manifests ++ withBase.map(_.copy(seq = c.seq)))))
      }
    }
  }

  /** Checkpointed incremental consumption of a table (the batch mirror
    * of "streaming from a lake table"): processes the append delta since
    * the consumer's last recorded snapshot through `f`, then advances
    * the consumer's checkpoint — each periodic invocation sees every
    * appended row EXACTLY once, however many commits landed in between.
    * First invocation processes the full table (the stream's initial
    * load). The checkpoint is one tiny file per consumer under the
    * catalog root, written atomically via the same rename discipline as
    * the refs store; `f` runs BEFORE the checkpoint advances, so a
    * crashed consumer re-processes its window (at-least-once across
    * crashes, exactly-once in steady state — the standard incremental
    * contract; make `f` idempotent for end-to-end exactly-once).
    *
    * MOR interaction: deltas are APPEND-granular ([[scanChangesBetween]]
    * ignores tombstones), while the initial load goes through
    * [[scanSnapshot]] (tombstones applied) — composing a consumer with
    * pending [[deleteKeysMOR]]/[[upsertKeysMOR]] tombstones would make
    * the two windows follow different visibility rules (replaced rows
    * re-reported, MOR deletions never observed), so this REFUSES while
    * the head snapshot carries tombstones: materialize them with
    * compactDataFiles first (streaming ingest's `compactEvery` does),
    * or diff row-level changes downstream of an append-only window.
    *
    * @return Some(processed snapshot window) or None when nothing new
    */
  def consumeIncremental(
      table: String, consumer: String, branch: String = "main")(
      f: DataFrame => Unit): Option[(String, String)] = {
    require(consumer.nonEmpty && !consumer.contains("/"), s"bad consumer name '$consumer'")
    val headId = snapshotIdOf(table, branch)
      .getOrElse(sys.error(s"no table $table on $branch"))
    require(loadSnapshot(table, headId).deleteManifests.isEmpty,
      s"consumeIncremental refused: $table@$branch has pending MOR tombstones and " +
        "snapshot deltas are append-granular (deletions/replacements would be missed " +
        "or re-reported) — materialize with compactDataFiles first")
    val ckptPath = new Path(rootPath, s"tables/${physDir(table)}/consumers/$consumer")
    val last: Option[String] =
      if (!fs.exists(ckptPath)) None
      else {
        val in = fs.open(ckptPath)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
        finally in.close()
      }
    if (last.contains(headId)) return None
    val delta = last match {
      case Some(fromId) => scanChangesBetween(table, fromId, headId)
      case None => scanSnapshot(table, headId)
    }
    f(delta)
    val tmp = new Path(rootPath, s"tables/${physDir(table)}/consumers/.$consumer.${UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(headId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, ckptPath)) {
      // racing consumer instance: replace atomically via delete+rename
      fs.delete(ckptPath, false)
      if (!fs.rename(tmp, ckptPath)) sys.error(s"cannot advance consumer $consumer")
    }
    Some(last.getOrElse("") -> headId)
  }

  /** Append with range-clustering on `clusterBy`: rows are range-
    * partitioned across `files` output files and sorted within each, so
    * every file owns a tight, nearly-disjoint min/max range on the
    * cluster columns — footer-stats pruning then skips all but the
    * matching files for selective predicates. The Spark-idiomatic
    * analogue of hive-style partitioning that also works for
    * high-cardinality keys (no directory explosion). */
  def appendClustered(
      table: String, df: DataFrame, clusterBy: Seq[String],
      branch: String = "main", files: Int = 0): Snapshot = {
    require(clusterBy.nonEmpty, "clusterBy must name at least one column")
    val cols = clusterBy.map(df.col)
    val ranged =
      if (files > 0) df.repartitionByRange(files, cols: _*)
      else df.repartitionByRange(cols: _*)
    append(table, ranged.sortWithinPartitions(cols: _*), branch)
  }

  /** Append under a hidden-partitioning transform (day(ts) /
    * bucket(n, id)): rows are grouped by the transform value in one write
    * job, each data file records its value in manifest metadata, and the
    * spec is committed on the snapshot so scans short-circuit
    * transform-aligned predicates BEFORE footer stats — a point lookup on
    * a bucket(n, id) table reads 1/n of the files however the id values
    * interleave, where range stats alone prune nothing. The transform
    * column itself is never stored (that is what "hidden" means — readers
    * query the source column, partitioning is a layout concern). Mixing
    * appendPartitioned with plain appends is legal: unpartitioned files
    * carry no transform value and are simply never partition-pruned. */
  def appendPartitioned(table: String, df: DataFrame, spec: PartitionSpec): Snapshot =
    appendPartitioned(table, df, Seq(spec))
  def appendPartitioned(table: String, df: DataFrame, spec: PartitionSpec,
      branch: String): Snapshot =
    appendPartitioned(table, df, Seq(spec), branch)
  def appendPartitioned(table: String, df: DataFrame, spec: PartitionSpec,
      branch: String, epochStamp: Option[(String, Long)]): Snapshot =
    appendPartitioned(table, df, Seq(spec), branch, epochStamp)

  def appendPartitioned(
      table: String, df: DataFrame, specs: Seq[PartitionSpec],
      branch: String = "main",
      epochStamp: Option[(String, Long)] = None): Snapshot = {
    val (head, props) = writeState(table, branch)
    val aligned = head match {
      case Some(snap) if snap.schemaDdl.nonEmpty =>
        alignToSchema(df, StructType.fromDDL(snap.schemaDdl), table, branch,
          Some(snap.evo), props)
      case _ => df
    }
    // the table's OWN registry routes the write (its active fields carry
    // the stable pv-key ids evolution assigned); the caller's specs must
    // name exactly those transforms. A fresh table seeds ids positionally.
    val headFmt = head.flatMap(_.partitionSpec)
    val fields = headFmt match {
      case Some(fmt) =>
        val act = activeSpecsOf(Some(fmt))
        require(act.map(_.spec) == specs,
          s"table $table is partitioned by $fmt, not " +
            s"${PartitionSpec.formatMulti(specs)}; evolve the layout first " +
            "(addPartitionField/dropPartitionField or rewritePartitioned)")
        act
      case None => specs.zipWithIndex.map { case (sp, i) =>
        PartitionSpec.SpecField(sp, i, active = true) }
    }
    val specFmt = headFmt.getOrElse(PartitionSpec.formatMulti(specs))
    val newFiles = writeFiles(table, aligned, fields,
      ids = head.map(_.evo.fieldIds).getOrElse(Map.empty),
      advisoryOrder = head.map(_ => writeOrderOf(table, props, aligned.schema))
        .getOrElse(Nil))
    val manifest = writeManifest(table, newFiles, aligned.schema)
    commitTable(table, branch, None, epochStamp = epochStamp) { (parent, _) =>
      require(parent.partitionSpec.forall(_ == specFmt),
        s"concurrent partition-spec change on $table@$branch during append")
      Some(Change(SnapshotOp.Append, Seq(manifest), _.copy(
        schemaDdl = if (parent.schemaDdl.nonEmpty) parent.schemaDdl else df.schema.toDDL,
        partitionSpec = Some(specFmt))))
    }
  }

  /** Row-level DELETE, copy-on-write (the catalog-API table op the
    * reference inherits from PyIceberg, app.py:173 `_table` surface):
    * footer stats prune the table to the files that MAY hold matching
    * rows, ONLY those files are rewritten minus the matching rows, and
    * one commit swaps them — manifests with no affected file carry over
    * by reference, a partially-affected manifest is replaced by a
    * metadata-only rewrite listing its untouched files. Untouched data
    * files are never read or copied, so a selective delete on a
    * range-clustered 100 TB table costs O(matching files), not O(table).
    * SQL DELETE semantics: rows where `cond` is NULL are KEPT. Older
    * snapshots still reference the original files (time travel shows the
    * pre-delete state) until [[expireSnapshots]] reclaims them; publish a
    * branch delete with [[merge]], which carries manifest removals.
    * Planning reads manifests driver-side (the affected set must reach
    * the driver to be rewritten anyway — the same shape as Iceberg's
    * copy-on-write RewriteFiles planning).
    *
    * TWO-TIER: before any rewrite, each affected file is tested against
    * the [[allRowsMatch]] sufficiency proof — footer stats proving EVERY
    * row matches drop the file from its manifest metadata-only, never
    * read (Iceberg's metadata delete). `DELETE FROM t WHERE ts <
    * '2024-01-02'` on a day-clustered 100 TB table is then O(manifests):
    * whole days vanish as manifest edits, only the boundary files (and
    * files the proof must refuse — nulls, floats, partial ranges) pay
    * the copy-on-write read+rewrite. */
  def deleteWhere(table: String, cond: Column, branch: String = "main"): DeleteResult = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val cur = headOf(table, branch)
    val pred = resolvedOn(cur, cond)
    val picked = selectResolved(cur, pred)
    val allMatch = allRowsMatchOf(pred)
    val (droppedFiles, rewriteFiles) = picked.flatMap(_.hit).partition(allMatch)
    val totalFiles = cur.manifests.map(_.fileCount).sum
    if (droppedFiles.isEmpty && rewriteFiles.isEmpty)
      return DeleteResult(cur, 0L, 0L, totalFiles)
    // W73: survivors carry their row ids into the rewrite output (delete
    // never updates a surviving row, so last_seq carries too); the fresh
    // base the commit allocates covers no physically-NULL row
    val kept =
      if (rewriteFiles.isEmpty) Nil
      else writeRows(table, cur,
        rewriteRows(cur, picked.map(p => p.copy(hit = p.hit.filterNot(allMatch))))
          .filter(not(coalesce(cond, lit(false)))))
    val committed = commitRewrite(table, branch, cur, SnapshotOp.Delete, "delete",
      carry(table, cur, picked), kept)
    DeleteResult(committed,
      droppedFiles.map(_.rows).sum + rewriteFiles.map(_.rows).sum - kept.map(_.rows).sum,
      rewriteFiles.size.toLong,
      totalFiles - rewriteFiles.size - droppedFiles.size,
      droppedFiles.size.toLong)
  }

  /** The [[allRowsMatch]] sufficiency proof under a resolved predicate
    * ([[resolvedOn]]; none proves nothing) — the DML tier
    * that drops a file metadata-only, never read. */
  private def allRowsMatchOf(
      pred: Option[(Expression, StructType)]): DataFileMeta => Boolean =
    f => pred.exists { case (p, schema) => allRowsMatch(f, p, schema) }

  /** Row-level DELETE, merge-on-read by POSITION (Iceberg v2 position
    * deletes / Delta deletion vectors, as parquet sidecars): instead of
    * rewriting partially-affected files ([[deleteWhere]]'s copy-on-write
    * tier), their matching rows' exact `(data file, row index)` pairs are
    * recorded in tiny sidecar files and every scan suppresses those
    * positions until compaction materializes them. The write cost of an
    * arbitrary-predicate delete on a 100 TB table drops from
    * O(matching-file bytes rewritten) to O(matching rows READ once +
    * sidecar bytes) — the shape GDPR-style point deletes need.
    *
    * Shares [[deleteWhere]]'s two metadata tiers: manifest-list pruning
    * bounds planning to manifests whose bounds admit the predicate, and
    * the [[allRowsMatch]] sufficiency proof drops provably-all-matching
    * files metadata-only (never read). Only boundary files pay the
    * position scan. Positions are computed with Spark's own
    * `_metadata.file_path`/`_metadata.row_index` lineage (row-group
    * skipping inside the reader keeps indexes exact), and a stacked
    * positional delete anti-joins the pending sidecars so re-marked
    * positions are never double-counted. Carried manifests keep their
    * ORIGINAL sequence so pending sidecars still cover the surviving
    * files; the new sidecar manifest gets the commit's sequence, so rows
    * appended AFTER it are never suppressed (same Iceberg sequence
    * semantics as [[deleteKeysMOR]]). Pending EQUALITY tombstones refuse
    * (one delete representation at a time — materialize first); CoW DML
    * and merge refuse while any tombstones are pending, unchanged. */
  def deleteWherePositional(
      table: String, cond: Column, branch: String = "main"): DeleteResult = {
    import org.apache.spark.sql.functions.{coalesce, col => fcol, lit}
    val cur = headOf(table, branch)
    require(cur.deleteManifests.forall(_.posDelete),
      s"$table@$branch has pending EQUALITY tombstones — materialize with " +
        "compactDataFiles before position deletes (one delete representation at a time)")
    requireTombstoneHeadroom(table, branch, cur, "deleteWherePositional")
    // same two-tier planning as deleteWhere: provably-all-match files drop
    // metadata-only; the remainder get position sidecars, not a rewrite
    val pred = resolvedOn(cur, cond)
    val picked = selectResolved(cur, pred)
    val allMatch = allRowsMatchOf(pred)
    val (droppedFiles, markFiles) = picked.flatMap(_.hit).partition(allMatch)
    val totalFiles = cur.manifests.map(_.fileCount).sum
    val posManifest =
      if (markFiles.isEmpty) None
      else writeSidecar(table, cur,
        currentRows(cur, markFiles, decode = false).filter(coalesce(cond, lit(false))))
    if (droppedFiles.isEmpty && posManifest.isEmpty)
      return DeleteResult(cur, 0L, 0L, totalFiles) // nothing matched, or every mark pending
    val newManifests = carry(table, cur,
      picked.map(p => p.copy(hit = p.hit.filter(allMatch))), keepSeq = true)
    val committed = commitTable(table, branch, Some(cur), "positional delete") { (_, _) =>
      Some(Change(SnapshotOp.DeletePos,
        edit = c => withDeletes(c.copy(manifests = newManifests), posManifest)))
    }
    // rowsDeleted must not re-count rows a PRIOR pending sidecar already
    // suppressed in the metadata-dropped files (stacked positional deletes
    // where the second predicate widens to a whole file)
    val alreadySuppressedInDropped: Long =
      if (droppedFiles.isEmpty || cur.deleteManifests.isEmpty) 0L
      else {
        val priorFiles = cur.deleteManifests.flatMap(d => readManifest(d.path))
        if (priorFiles.isEmpty) 0L
        else {
          val droppedNorm = droppedFiles.map(f => new Path(f.path).toUri.getPath).toSet
          // per-path counts: bounded by the table's file count, same order
          // as the manifest lists the driver already holds
          readFiles(BranchCatalog.posDeleteSchema, sized(priorFiles))
            .groupBy(fcol(BranchCatalog.PosPathCol)).count().collect()
            .filter(r => droppedNorm.contains(new Path(r.getString(0)).toUri.getPath))
            .map(_.getLong(1)).sum
        }
      }
    DeleteResult(committed,
      droppedFiles.map(_.rows).sum - alreadySuppressedInDropped + posManifest.map(_.rows).sum,
      0L, totalFiles - droppedFiles.size, droppedFiles.size.toLong)
  }

  /** Row-level UPDATE, merge-on-read by POSITION (the Iceberg
    * deletion-vector UPDATE shape): matching rows' `(file, row index)`
    * pairs land in a position sidecar (suppressing the OLD versions) and
    * their UPDATED versions append as new data files — ONE commit, ZERO
    * existing files rewritten. The write cost of an arbitrary-predicate
    * update on a 100 TB table drops from O(matching-file bytes
    * rewritten) to O(matching rows read + new versions written) — the
    * GDPR-correction / late-fact-fixup shape. Planning shares
    * [[deleteWhere]]'s pruning tiers (manifest-list prune, file stats,
    * bloom probes); only files that MAY match are read. The sidecar's
    * sequence covers prior data only, so the batch's own new versions
    * stay visible ([[deleteKeysMOR]]'s anchor trick). Row lineage (W73)
    * carries: new versions MATERIALIZE their rows' original `_row_id`
    * (an update never moves a row's identity) and take the commit's
    * `_last_updated_seq`. Stacked positional deletes/updates anti-join
    * prior sidecars, so an already-suppressed version is never
    * re-updated or double-counted. Generated columns and CHECK
    * constraints hold on the new versions ([[Outcomes]]). Compaction
    * materializes everything. Pending EQUALITY tombstones refuse (one
    * representation at a time). */
  def updateWherePositional(
      table: String, cond: Column, set: Map[String, Column],
      branch: String = "main"): UpdateResult = {
    require(set.nonEmpty, "updateWherePositional needs at least one SET column")
    val (cur, props) = headState(table, branch)
    require(cur.deleteManifests.forall(_.posDelete),
      s"$table@$branch has pending EQUALITY tombstones — materialize with " +
        "compactDataFiles before positional updates (one delete representation at a time)")
    requireTombstoneHeadroom(table, branch, cur, "updateWherePositional")
    val schema = StructType.fromDDL(cur.schemaDdl)
    for (c <- set.keys)
      require(schema.fieldNames.contains(c), s"SET column $c is not in ${schema.toDDL}")
    val markFiles = selectFiles(cur, Some(cond)).flatMap(_.hit)
    val totalFiles = cur.manifests.map(_.fileCount).sum
    if (markFiles.isEmpty) return UpdateResult(cur, 0L, 0L, totalFiles)
    // ONE read of the marked files' CURRENT rows (a version a pending
    // sidecar suppressed is not current — its replacement, if any, sits
    // in a later file this scan also covers)
    withOutcomes(cur, props, currentRows(cur, markFiles),
        Seq(Arm(cond, Arm.Update, set))) { o =>
      writeSidecar(table, cur, o.marks) match {
        case None => UpdateResult(cur, 0L, 0L, totalFiles)
        case Some(marks) => UpdateResult(commitPositional(table, branch, cur,
          SnapshotOp.UpdatePos, "positional update", Some(marks), o), marks.rows, 0L, totalFiles)
      }
    }
  }

  /** Row-level UPDATE, copy-on-write — the planning shape of
    * [[deleteWhere]] (stats-prune to files that MAY hold matching rows,
    * rewrite only those, untouched manifests carry over by reference),
    * but every row of an affected file survives: matching rows get each
    * `set` expression applied (cast back to the column's declared type),
    * non-matching rows pass through byte-identical. Rows where `cond` is
    * NULL are NOT updated (SQL UPDATE semantics). Generated columns and
    * CHECK constraints hold on the updated rows ([[Outcomes]]). Older
    * snapshots keep the pre-update files until expiry; publish a branch
    * update with [[merge]]. */
  def updateWhere(
      table: String, cond: Column, set: Map[String, Column],
      branch: String = "main"): UpdateResult = {
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    val (cur, props) = headState(table, branch)
    val schema = StructType.fromDDL(cur.schemaDdl)
    for (c <- set.keys)
      require(schema.fieldNames.contains(c), s"SET column $c is not in ${schema.toDDL}")
    val picked = selectFiles(cur, Some(cond))
    val affectedFiles = picked.flatMap(_.hit)
    val totalFiles = cur.manifests.map(_.fileCount).sum
    if (affectedFiles.isEmpty)
      return UpdateResult(cur, 0L, 0L, totalFiles)
    withOutcomes(cur, props, rewriteRows(cur, picked),
        Seq(Arm(cond, Arm.Update, set))) { o =>
      val (rowsUpdated, _, _) = o.counts
      val committed = commitRewrite(table, branch, cur, SnapshotOp.Update, "update",
        carry(table, cur, picked), writeRows(table, cur, o.kept))
      UpdateResult(committed, rowsUpdated,
        affectedFiles.size.toLong, totalFiles - affectedFiles.size)
    }
  }

  /** Re-binds a `t.`-aliased by-source clause Column to bare columns so
    * the join-free merge tier can evaluate it straight over a file scan
    * (no `t`/`s` aliases exist there — every row IS the target row).
    * `s.` references are impossible in a NOT MATCHED BY SOURCE clause
    * (there is no source row) and refuse loudly. */
  private def stripTargetAlias(c: Column): Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val e = org.apache.spark.sql.graft.Bridge.catalystExpression(c)
    org.apache.spark.sql.graft.Bridge.column(e.transform {
      case ua: UnresolvedAttribute
          if ua.nameParts.length >= 2 && ua.nameParts.head.equalsIgnoreCase("s") =>
        sys.error(s"NOT MATCHED BY SOURCE clause references source column " +
          s"${ua.name} — no source row exists for a by-source action")
      case ua: UnresolvedAttribute
          if ua.nameParts.length >= 2 && ua.nameParts.head.equalsIgnoreCase("t") =>
        UnresolvedAttribute(ua.nameParts.tail)
    })
  }

  /** MERGE `clauses` as [[withOutcomes]] arms, in order: each fires on
    * its family's pairing outcome (`matched`, `sourceOnly` or
    * `targetOnly`) where its condition holds; `bind` rewrites every
    * condition and SET value first. */
  private def mergeArms(clauses: Seq[MergeClause], matched: Column, sourceOnly: Column,
      targetOnly: Column, bind: Column => Column = identity): Seq[Arm] = {
    def on(family: Column, cond: Option[Column]): Column =
      family && cond.map(bind).getOrElse(org.apache.spark.sql.functions.lit(true))
    def bound(set: Map[String, Column]): Map[String, Column] =
      set.map { case (c, v) => c -> bind(v) }
    clauses.map {
      case MergeClause.MatchedUpdate(c, set) => Arm(on(matched, c), Arm.Update, bound(set))
      case MergeClause.MatchedDelete(c) => Arm(on(matched, c), Arm.Delete)
      case MergeClause.NotMatchedInsert(c) => Arm(on(sourceOnly, c), Arm.Insert)
      case MergeClause.NotMatchedBySourceUpdate(c, set) =>
        Arm(on(targetOnly, c), Arm.Update, bound(set))
      case MergeClause.NotMatchedBySourceDelete(c) => Arm(on(targetOnly, c), Arm.Delete)
    }
  }

  /** [[withOutcomes]] over the MERGE pairing: `targetRows` (aliased `t`)
    * full-outer joined to the `aligned` source (`s`) on plain key
    * equality — NULL keys never match, so a null-keyed target row stays
    * and a null-keyed source row is NOT MATCHED (SQL MERGE semantics) —
    * with `clauses` as its arms. A row is exactly one of matched,
    * target-only or source-only, so the clause families never compete. */
  private def withMergeOutcomes[T](cur: Snapshot, props: Map[String, String],
      targetRows: DataFrame, aligned: DataFrame, keys: Seq[String],
      clauses: Seq[MergeClause])(body: Outcomes => T): T = {
    import org.apache.spark.sql.functions.{col, lit}
    val joined = targetRows.withColumn("__t_hit", lit(true)).alias("t")
      .join(aligned.withColumn("__s_hit", lit(true)).alias("s"),
        keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _), "full_outer")
    val (t, s) = (col("t.__t_hit").isNotNull, col("s.__s_hit").isNotNull)
    withOutcomes(cur, props, joined, mergeArms(clauses, t && s, !t && s, t && !s),
      c => col(s"t.$c"), c => col(s"s.$c"), keepUnfired = t)(body)
  }

  /** Source-key prune predicate shared by [[upsert]] and [[mergeInto]]:
    * per-key min/max range conjuncts (always — sound for any key count),
    * PLUS, for a single-key source with at most [[maxPruneLeaves]]
    * distinct non-null keys, the exact key IN-list. The IN conjunct's
    * equality leaves engage bucket-transform and bloom-sidecar pruning
    * that ranges cannot, so a CDC point-upsert on an unclustered table
    * rewrites only the files whose bloom admits some source key. Sound:
    * a target row only matches a source row on EQUAL non-null keys, so
    * every affected row's key is in the list (null-keyed source rows
    * match nothing). */
  private def sourceKeyPruneCond(aligned: DataFrame, keys: Seq[String]): Column = {
    import org.apache.spark.sql.functions.{approx_count_distinct, col => fcol, lit, max => fmax, min => fmin}
    val single = keys.size == 1
    // the NDV estimate rides the bounds pass for free, so a big CDC
    // batch never pays a distinct aggregation it would only discard
    val boundsRow = aligned.agg(
      fmin(fcol(keys.head)).as("b0"),
      (fmax(fcol(keys.head)).as("b1") +:
        (keys.tail.zipWithIndex.flatMap {
          case (k, i) => Seq(fmin(fcol(k)).as(s"b${2 * i + 2}"), fmax(fcol(k)).as(s"b${2 * i + 3}"))
        } ++ (if (single) Seq(approx_count_distinct(fcol(keys.head)).as("andv")) else Nil))): _*).head
    val ranges = keys.zipWithIndex.flatMap { case (k, i) =>
      val (lo, hi) = (boundsRow.get(2 * i), boundsRow.get(2 * i + 1))
      if (lo == null || hi == null) None
      else Some(fcol(k) >= lit(lo) && fcol(k) <= lit(hi))
    }.reduceOption(_ && _).getOrElse(lit(true))
    val inList =
      if (!single || boundsRow.getAs[Long]("andv") > maxPruneLeaves * 2L) None
      else {
        // one pass over the (persisted) source, only when the estimate
        // says the key set is plausibly small; the +1 overflow row
        // distinguishes "small key set" from "estimate was low"
        val ks = aligned.select(fcol(keys.head)).filter(fcol(keys.head).isNotNull)
          .distinct().limit(maxPruneLeaves + 1).collect().map(_.get(0))
        if (ks.isEmpty || ks.length > maxPruneLeaves) None
        else Some(fcol(keys.head).isin(ks.toIndexedSeq: _*))
      }
    inList.map(ranges && _).getOrElse(ranges)
  }

  /** [[evolveSchema]] driven by an incoming SOURCE shape (the Delta
    * `WITH SCHEMA EVOLUTION` pre-step shared by merge/upsert): columns
    * the table lacks are ADDED (nullable, regardless of the source
    * field's own nullability — existing rows have no value for them) and
    * same-name columns whose source type widens losslessly WIDEN.
    * Anything else (narrowing, incompatible types) falls through to
    * evolveSchema's own refusal. No-op when the source adds nothing. */
  private def evolveSchemaForSource(
      table: String, sourceSchema: StructType, branch: String): Unit = {
    val curId = snapshotIdOf(table, branch).getOrElse(
      sys.error(s"no table $table on $branch"))
    val cur = StructType.fromDDL(loadSnapshot(table, curId).schemaDdl)
    // case-INSENSITIVE source→table matching (like the generated-column
    // and write-order guards): a source column differing only in case
    // must widen/no-op its table column, never ADD a case-duplicate the
    // default case-insensitive resolver could no longer disambiguate
    def srcFor(name: String): Option[StructField] =
      sourceSchema.fields.find(_.name == name)
        .orElse(sourceSchema.fields.find(_.name.equalsIgnoreCase(name)))
    val widened = cur.fields.map { f =>
      srcFor(f.name) match {
        case Some(sf) if sf.dataType != f.dataType && widens(f.dataType, sf.dataType) =>
          f.copy(dataType = sf.dataType)
        case _ => f
      }
    }
    val added = sourceSchema.fields
      .filterNot(f => cur.fieldNames.exists(_.equalsIgnoreCase(f.name)))
      .map(_.copy(nullable = true))
    val next = StructType(widened ++ added)
    if (next != cur) { evolveSchema(table, next, branch); () }
  }

  /** MERGE-INTO-style upsert, copy-on-write: every source row lands
    * (replacing target rows that share its key, inserting otherwise) in
    * ONE commit. Planning: the per-key min/max of the source (one small
    * aggregate) builds a range predicate, footer stats prune the table
    * to files that MAY hold a source key — a file proven outside the
    * source's key range cannot contain a match, so only those files are
    * rewritten (their non-matching rows survive byte-equal, matching
    * rows are dropped) and the source batch is written alongside in the
    * same job. Untouched manifests carry over by reference; the
    * replacement is keyed, so duplicate-keyed TARGET rows all collapse
    * to the source row. Source keys should be unique (every source row
    * is inserted verbatim — duplicate source keys land as duplicate
    * rows, exactly as they would via append). */
  def upsert(
      table: String, source: DataFrame, keys: Seq[String],
      branch: String = "main",
      /** See [[mergeInto]]'s flag of the same name. */
      schemaEvolution: Boolean = false): UpsertResult = {
    import org.apache.spark.sql.functions.{col => fcol, lit}
    require(keys.nonEmpty, "upsert needs at least one key column")
    if (schemaEvolution) evolveSchemaForSource(table, source.schema, branch)
    val (cur, props) = headState(table, branch)
    val schema = StructType.fromDDL(cur.schemaDdl)
    for (k <- keys)
      require(schema.fieldNames.contains(k), s"key column $k is not in ${schema.toDDL}")
    val totalFiles = cur.manifests.map(_.fileCount).sum
    val aligned = alignToSchema(source, schema, table, branch, Some(cur.evo), props)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (aligned.isEmpty) return UpsertResult(cur, 0L, 0L, 0L, totalFiles)

      // bounded per-key ranges (+ small-source key IN-list for bucket/
      // bloom pruning) -> a sound (conservative) prune predicate; an
      // all-null key contributes no bound (that key prunes nothing)
      val picked = selectFiles(cur, Some(sourceKeyPruneCond(aligned, keys)))
      val affectedFiles = picked.flatMap(_.hit)

      val srcKeys = aligned.select(keys.map(fcol): _*).distinct()
      val alignedNullLin =
        if (!cur.lin.enabled) aligned
        else aligned
          .withColumn(BranchCatalog.RowIdCol, lit(null).cast("long"))
          .withColumn(BranchCatalog.LastSeqCol, lit(null).cast("long"))
      val (survivors, rowsReplaced, rowsInserted) =
        if (affectedFiles.isEmpty) (alignedNullLin, 0L, aligned.count())
        else {
          // W73: kept (unclaimed) rows carry their lineage; replaced and
          // inserted rows are SOURCE rows — fresh ids (the Iceberg v3
          // MAY-reassign path for keyed replacement: the pairing is by
          // key, not row identity)
          val scan = rewriteRows(cur, picked)
          val kept = scan.join(srcKeys, keys, "left_anti")
          val replaced = affectedFiles.map(_.rows).sum - kept.count()
          val inserted = aligned
            .join(scan.select(keys.map(fcol): _*).distinct(), keys, "left_anti").count()
          (kept.unionByName(alignedNullLin), replaced, inserted)
        }
      val committed = commitRewrite(table, branch, cur, SnapshotOp.Upsert, "upsert",
        carry(table, cur, picked), writeRows(table, cur, survivors))
      UpsertResult(committed, rowsReplaced, rowsInserted,
        affectedFiles.size.toLong, totalFiles - affectedFiles.size)
    } finally { aligned.unpersist(); () }
  }

  /** Conditional MERGE INTO, copy-on-write (standard / Iceberg MERGE
    * semantics — the conditional superset of [[upsert]], which is the
    * replace-only special case): source and target rows pair on `keys`,
    * and each pairing outcome is decided by `clauses` —
    * `WHEN MATCHED [AND cond] THEN UPDATE SET ...`,
    * `WHEN MATCHED [AND cond] THEN DELETE`,
    * `WHEN NOT MATCHED [AND cond] THEN INSERT` — see [[MergeClause]] for
    * the `t.`/`s.` alias contract and first-match-wins ordering.
    *
    * Planning is [[upsert]]'s: the source's per-key min/max builds a
    * range predicate, footer stats prune the table to files that MAY
    * pair with a source key, ONLY those files are rewritten (matched
    * rows transformed per their winning clause, unclaimed rows surviving
    * byte-equal) with the qualifying inserts written alongside in the
    * same job; untouched manifests carry over by reference. One full-
    * outer join resolves matched / target-only / source-only in a single
    * pass. Source keys should be unique (duplicate source keys pair
    * every copy with the same target row). Rows where a clause condition
    * is NULL do not fire it (SQL semantics). */
  def mergeInto(
      table: String, source: DataFrame, keys: Seq[String],
      clauses: Seq[MergeClause], branch: String = "main",
      /** Delta `WITH SCHEMA EVOLUTION`: new source columns are ADDED
        * (nullable) and widened source types WIDEN the table through
        * [[evolveSchema]] (all its guards apply — re-add hazard, partition
        * source, MOR keys) immediately before the merge, so one call
        * carries a CDC batch with new columns end to end. The evolution
        * is its own metadata-only commit; a merge failure after it leaves
        * just the added columns (harmless, Delta-identical). */
      schemaEvolution: Boolean = false): MergeIntoResult = {
    import org.apache.spark.sql.functions.lit
    require(keys.nonEmpty, "mergeInto needs at least one key column")
    require(clauses.nonEmpty, "mergeInto needs at least one WHEN clause")
    if (schemaEvolution) evolveSchemaForSource(table, source.schema, branch)
    require(clauses.count(_.isInstanceOf[MergeClause.NotMatchedInsert]) <= 1,
      "at most one WHEN NOT MATCHED clause")
    val (cur, props) = headState(table, branch)
    val schema = StructType.fromDDL(cur.schemaDdl)
    for (k <- keys)
      require(schema.fieldNames.contains(k), s"key column $k is not in ${schema.toDDL}")
    for (MergeClause.MatchedUpdate(_, set) <- clauses; c <- set.keys)
      require(schema.fieldNames.contains(c), s"SET column $c is not in ${schema.toDDL}")
    for (MergeClause.NotMatchedBySourceUpdate(_, set) <- clauses; c <- set.keys)
      require(schema.fieldNames.contains(c), s"SET column $c is not in ${schema.toDDL}")
    val bySource = clauses.filter {
      case _: MergeClause.NotMatchedBySourceUpdate | _: MergeClause.NotMatchedBySourceDelete => true
      case _ => false
    }
    val totalFiles = cur.manifests.map(_.fileCount).sum
    // no guards: a merge source row may only pair for matching and
    // never be written whole — constraints apply to the WRITTEN outcomes
    // (insert/update-labeled survivors) below
    val aligned = alignToSchema(source, schema, table, branch, None, Map.empty)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // an EMPTY source still fires by-source clauses on every target row
      // (SQL semantics — the degenerate "sync to empty" case)
      val srcEmpty = aligned.isEmpty
      if (srcEmpty && bySource.isEmpty)
        return MergeIntoResult(cur, 0L, 0L, 0L, 0L, totalFiles)

      // same sound source-key prune as upsert (ranges + small-source
      // key IN-list engaging bucket/bloom pruning). Soundness is what the
      // by-source tiers below lean on: a file the prune EXCLUDES provably
      // holds no source key, so every one of its rows is NOT MATCHED BY
      // SOURCE.
      val picked =
        if (srcEmpty) cur.manifests.map(Picked(_, Nil, Nil))
        else selectFiles(cur, Some(sourceKeyPruneCond(aligned, keys)))
      val affectedFiles = picked.flatMap(_.hit)

      // ---- NOT MATCHED BY SOURCE planning over the no-possible-match
      // files (everything outside `affected`). Tier 1: a leading
      // unconditional by-source DELETE drops them ALL metadata-only —
      // whole skipped manifests fold by their ref counts, never read.
      // Tier 2 (conditional clauses): the disjunction of by-source
      // conditions selects (the kernel's second pass); only files some
      // condition MAY hold in are rewritten (join-free — no source row
      // exists for these), the rest carry over.
      val dropAllNonMatched = bySource.headOption.exists {
        case MergeClause.NotMatchedBySourceDelete(None) => true
        case _ => false
      }
      def bsCond(c: MergeClause): Option[Column] = c match {
        case MergeClause.NotMatchedBySourceUpdate(cond, _) => cond
        case MergeClause.NotMatchedBySourceDelete(cond) => cond
        case _ => None
      }
      val bsPicked: Seq[Picked] =
        if (bySource.isEmpty || dropAllNonMatched) picked.map(_.copy(hit = Nil))
        else selectFiles(cur, Some(bySource.map { c =>
          bsCond(c).map(stripTargetAlias).getOrElse(lit(true))
        }.reduce(_ || _)), after = picked)
      val bsFiles = bsPicked.flatMap(_.hit)
      val (droppedRows, droppedCount) =
        if (!dropAllNonMatched) (0L, 0L)
        else (cur.manifests.map(_.rows).sum - affectedFiles.map(_.rows).sum,
          cur.manifests.map(_.fileCount).sum - affectedFiles.size)
      val manifestKeeps =
        if (dropAllNonMatched) Nil
        else carry(table, cur, picked.zip(bsPicked).map { case (p, b) =>
          Picked(p.m, if (p.files.nonEmpty) p.files else b.files, p.hit ++ b.hit) })

      withMergeOutcomes(cur, props, rewriteRows(cur, picked), aligned, keys, clauses) { o =>
        val (nUpd, nDel, nIns) = o.counts
        val rewritten = writeRows(table, cur, o.kept)
        // join-free by-source tier: these files provably hold no source
        // key, so every row is NOT MATCHED BY SOURCE — first-match-wins
        // over the by-source clauses straight on the file scan
        val (bsRewritten, nBsUpd, nBsDel) =
          if (bsFiles.isEmpty) (Seq.empty[DataFileMeta], 0L, 0L)
          else withOutcomes(cur, props, rewriteRows(cur, bsPicked),
              mergeArms(bySource, lit(false), lit(false), lit(true), stripTargetAlias)) { bs =>
            val (u, d, _) = bs.counts
            (writeRows(table, cur, bs.kept), u, d)
          }
        val committed = commitRewrite(table, branch, cur, SnapshotOp.Merge, "merge",
          manifestKeeps, rewritten ++ bsRewritten)
        MergeIntoResult(committed, nUpd + nBsUpd, nDel + nBsDel + droppedRows, nIns,
          affectedFiles.size.toLong + bsFiles.size,
          totalFiles - affectedFiles.size - bsFiles.size - droppedCount,
          droppedCount)
      }
    } finally { aligned.unpersist(); () }
  }

  /** Conditional MERGE, merge-on-read by POSITION — [[mergeInto]]'s
    * semantics with [[updateWherePositional]]'s write shape: matched
    * rows that UPDATE or DELETE have their `(file, row index)` pairs
    * written to a position sidecar (suppressing the old versions),
    * updated versions and NOT MATCHED inserts append as new data files —
    * ONE commit, ZERO existing data files rewritten, every existing
    * manifest carried by reference. The write cost of a CDC-upsert merge
    * on a 100 TB table drops from O(matched-file bytes rewritten) to
    * O(matched rows read + outcomes written). Planning shares
    * [[mergeInto]]'s source-key prune (manifest-list tier, file stats,
    * bloom probes); only files that MAY hold a source key are read, and
    * prior pending sidecars are anti-joined so an already-suppressed
    * version never matches again. The sidecar takes the commit's
    * sequence while carried manifests keep theirs, so the batch's own
    * new versions stay visible (the [[deleteKeysMOR]] anchor rule). Row
    * lineage (W73): updated versions materialize their original
    * `_row_id`, inserts mint fresh ids from the new manifest's base.
    *
    * NOT MATCHED BY SOURCE clauses are REFUSED here: they fire on every
    * target row outside the source, so a positional encoding would write
    * O(table) sidecar entries — strictly worse than [[mergeInto]]'s
    * copy-on-write tiers (which drop whole by-source files
    * METADATA-ONLY). The SQL layer falls back to copy-on-write for such
    * merges; Scala callers use [[mergeInto]] directly. Pending EQUALITY
    * tombstones refuse (one delete representation at a time); compaction
    * materializes sidecars as usual. */
  def mergeIntoMOR(
      table: String, source: DataFrame, keys: Seq[String],
      clauses: Seq[MergeClause], branch: String = "main",
      /** See [[mergeInto]]'s flag of the same name. */
      schemaEvolution: Boolean = false): MergeIntoResult = {
    require(keys.nonEmpty, "mergeIntoMOR needs at least one key column")
    if (schemaEvolution) evolveSchemaForSource(table, source.schema, branch)
    require(clauses.nonEmpty, "mergeIntoMOR needs at least one WHEN clause")
    require(clauses.count(_.isInstanceOf[MergeClause.NotMatchedInsert]) <= 1,
      "at most one WHEN NOT MATCHED clause")
    require(!clauses.exists(c => c.isInstanceOf[MergeClause.NotMatchedBySourceUpdate] ||
        c.isInstanceOf[MergeClause.NotMatchedBySourceDelete]),
      "NOT MATCHED BY SOURCE touches every target row outside the source — " +
        "positional encoding would be O(table); use mergeInto (copy-on-write, " +
        "with metadata-only by-source tiers) for this shape")
    val (cur, props) = headState(table, branch)
    require(cur.deleteManifests.forall(_.posDelete),
      s"$table@$branch has pending EQUALITY tombstones — materialize with " +
        "compactDataFiles before positional merges (one delete representation at a time)")
    requireTombstoneHeadroom(table, branch, cur, "mergeIntoMOR")
    val schema = StructType.fromDDL(cur.schemaDdl)
    for (k <- keys)
      require(schema.fieldNames.contains(k), s"key column $k is not in ${schema.toDDL}")
    for (MergeClause.MatchedUpdate(_, set) <- clauses; c <- set.keys)
      require(schema.fieldNames.contains(c), s"SET column $c is not in ${schema.toDDL}")
    val totalFiles = cur.manifests.map(_.fileCount).sum
    val aligned = alignToSchema(source, schema, table, branch, None, Map.empty)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (aligned.isEmpty) return MergeIntoResult(cur, 0L, 0L, 0L, 0L, totalFiles)
      val markFiles = selectFiles(cur, Some(sourceKeyPruneCond(aligned, keys))).flatMap(_.hit)
      // CURRENT versions of the possibly-matching files, with positions
      // and decoded row ids; a matched row no clause fires on (or any
      // target-only row) simply STAYS in its file — the zero-cost case
      // copy-on-write cannot have
      withMergeOutcomes(cur, props, currentRows(cur, markFiles),
          aligned, keys, clauses) { o =>
        val (nUpd, nDel, nIns) = o.counts
        if (nUpd + nDel + nIns == 0L) MergeIntoResult(cur, 0L, 0L, 0L, 0L, totalFiles)
        else MergeIntoResult(commitPositional(table, branch, cur, SnapshotOp.MergePos,
          "positional merge", writeSidecar(table, cur, o.marks), o),
          nUpd, nDel, nIns, 0L, totalFiles)
      }
    } finally { aligned.unpersist(); () }
  }

  /** METADATA-ONLY partition-spec evolution (Iceberg `ADD PARTITION
    * FIELD`): ONE snapshot commit adds a transform to the layout without
    * touching a data file — at 100 TB a layout change must not cost a
    * table rewrite. Existing files keep exactly the transform values
    * they were written with (every field's manifest key is its STABLE,
    * never-reused id — [[PartitionSpec.SpecField]]); writes after this
    * commit carry the new field too; and scan planning prunes each file
    * under precisely the fields whose keys it carries (a file from
    * before the ADD lacks the new key and is simply never pruned by it —
    * sound, and increasingly tight as new data arrives).
    * [[rewritePartitioned]] remains the compacting variant that puts ALL
    * content under the new layout in one rewrite. */
  def addPartitionField(
      table: String, spec: PartitionSpec, branch: String = "main"): Snapshot =
    commitTable(table, branch, None) { (cur, _) =>
      val schema = StructType.fromDDL(cur.schemaDdl)
      require(schema.fieldNames.contains(spec.column),
        s"no column ${spec.column} in $table")
      val fields = specsOf(cur.partitionSpec)
      require(!fields.exists(f => f.active && f.spec.format == spec.format),
        s"${spec.format} is already an active partition field of $table")
      val nextId = fields.map(_.id).maxOption.getOrElse(-1) + 1
      val next = fields :+ PartitionSpec.SpecField(spec, nextId, active = true)
      Some(Change(SnapshotOp.EvolveSpec,
        edit = _.copy(partitionSpec = Some(PartitionSpec.formatFields(next)))))
    }

  /** METADATA-ONLY `DROP PARTITION FIELD`: the field stops routing new
    * writes but STAYS in the registry as a retired entry — files written
    * under it keep their values and keep pruning on them (Iceberg keeps
    * a void-transform field for the same reason: ids must never be
    * reused, and history must stay plannable). `field` matches by
    * serialized transform ("day(ts)") or, when unambiguous, by source
    * column name. */
  def dropPartitionField(
      table: String, field: String, branch: String = "main"): Snapshot =
    commitTable(table, branch, None) { (cur, _) =>
      val fields = specsOf(cur.partitionSpec)
      val matching = fields.filter(f =>
        f.active && (f.spec.format == field || f.spec.column == field))
      require(matching.nonEmpty,
        s"no active partition field $field on $table (layout: " +
          s"${cur.partitionSpec.getOrElse("unpartitioned")})")
      require(matching.size == 1,
        s"$field names ${matching.size} active partition fields of $table — " +
          s"pass the serialized transform (${matching.map(_.spec.format).mkString(", ")})")
      val next = fields.map(f =>
        if (f.id == matching.head.id) f.copy(active = false) else f)
      Some(Change(SnapshotOp.EvolveSpec,
        edit = _.copy(partitionSpec = Some(PartitionSpec.formatFields(next)))))
    }

  /** Union two sides' partition-field registries for a publish merge.
    * Field ids are stable and never reused WITHIN a lineage, so agreeing
    * ids are the same field and the union is exact: each merged file
    * keeps pruning under exactly the fields whose keys it carries. A
    * field dropped on either side stays dropped (drop is the newer
    * intent; active-ness only routes writes, so the conservative choice
    * never unsounds a read). The same id bound to two DIFFERENT
    * transforms means one side RESET its registry (rewritePartitioned)
    * while the other kept files keyed under the old meaning — the merged
    * file set would reinterpret pv values, so it must conflict. */
  private def mergeSpecRegistries(
      table: String, dst: Option[String], src: Option[String]): Option[String] =
    if (dst == src || src.isEmpty) dst
    else if (dst.isEmpty) src
    else {
      val all = PartitionSpec.parseFields(dst.get) ++
        PartitionSpec.parseFields(src.get)
      val merged = all.groupBy(_.id).toSeq.sortBy(_._1).map { case (id, fs) =>
        if (fs.map(_.spec.format).distinct.size != 1)
          throw new IllegalStateException(
            s"merge conflict on $table: partition field id $id is " +
              s"${fs.map(_.spec.format).distinct.mkString(" vs ")} across the " +
              "two ancestries (a rewritePartitioned reset one side's registry " +
              "while the other still holds files keyed under the old layout) — " +
              "rewritePartitioned one side before publishing")
        fs.head.copy(active = fs.forall(_.active))
      }
      Some(PartitionSpec.formatFields(merged))
    }

  /** Partition evolution by rewrite: re-layout table@branch's CURRENT
    * data under `spec` (the sanctioned path where [[appendPartitioned]]
    * rejects a mismatched spec — hidden-partitioning metadata cannot be
    * retrofitted without rewriting files). One partitioned write job +
    * one metadata commit; older snapshots keep the old layout until
    * expiry. */
  def rewritePartitioned(table: String, spec: PartitionSpec): Snapshot =
    rewritePartitioned(table, Seq(spec))
  def rewritePartitioned(table: String, spec: PartitionSpec, branch: String): Snapshot =
    rewritePartitioned(table, Seq(spec), branch)
  def rewritePartitioned(
      table: String, specs: Seq[PartitionSpec], branch: String = "main"): Snapshot = {
    require(specs.nonEmpty, "rewritePartitioned needs at least one transform")
    // a FULL rewrite replaces every live file, so the registry resets to
    // positional ids — no surviving file carries an old field's key (old
    // SNAPSHOTS keep their own registry for time travel)
    rewriteWhole(table, branch, SnapshotOp.RewritePartition, "partition rewrite",
      _.copy(partitionSpec = Some(PartitionSpec.formatMulti(specs)))) { (cur, rows) =>
      writeFiles(table, rows, specs.zipWithIndex.map { case (sp, i) =>
        PartitionSpec.SpecField(sp, i, active = true) }, ids = cur.evo.fieldIds)
    }
  }

  // ---- maintenance: compaction + snapshot expiry ------------------------

  /** Export one snapshot for a FOREIGN engine — the reference's core
    * premise is that a published table is standard metadata any engine
    * can query without the writer's code (reference README:174-191
    * "Querying from Snowflake": Snowflake reads the table from the
    * metadata file path alone). graft's bespoke metadata needs its own
    * connector, so this emits the engine-neutral equivalent under
    * `dest`:
    *
    *  - `manifest.json` — snapshot identity + schema DDL + the absolute
    *    parquet path list with per-file row/byte counts, column min/max
    *    bounds, null counts and hidden-partition values, so an external
    *    planner PRUNES the export instead of scanning every file
    *    ([[ExportManifest]]);
    *  - `view.sql` — a ready-to-run ANSI view definition over
    *    `read_parquet([...])` (DuckDB dialect; the literal path list is
    *    the portable part);
    *  - `files.parquet` — the file list (path, rows, bytes, plus the
    *    same per-file stats maps as manifest.json) as a DISTRIBUTED
    *    parquet table written by executors from the manifest entries:
    *    the scale form of the list (an engine joins or globs it
    *    natively; the inline JSON array is for small snapshots and
    *    humans);
    *  - `files/` — a numbered-symlink farm over the data files, so
    *    glob-only readers (a `read_parquet` over the files directory)
    *    work without list-parameter support. Local filesystems only;
    *    on object stores the manifest/view carry the real URIs.
    *
    * Data files are immutable and never copied: the export is METADATA
    * ONLY, O(table files) of driver work at publish time — the same
    * hand-off any engine's snapshot export makes. Pending MOR tombstones
    * (position AND seq-anchored equality) export as NOT EXISTS clauses in
    * the view; only legacy anchor-set tombstones refuse (materialize
    * with [[compactDataFiles]] first). Exports of EXPIRED
    * snapshots fail on read, not export — callers pin with
    * [[expireSnapshots]]' keepIds when an export must outlive history.
    * Pass `snapshotId` to export a historical snapshot (time travel
    * export). */
  def exportSnapshot(
      table: String, dest: String, branch: String = "main",
      snapshotId: Option[String] = None): ExportedSnapshot = {
    val id = snapshotId.getOrElse(snapshotIdOf(table, branch).getOrElse(
      sys.error(s"no table $table on $branch")))
    val snap = loadSnapshot(table, id)
    // POSITION sidecars export exactly: they are (path, row-index) parquet
    // an ANSI NOT EXISTS over (filename, file_row_number) reproduces, and
    // a path+index can only name a pre-delete file, so no sequence
    // arithmetic leaks into the view. EQUALITY tombstones (seq-anchored,
    // with recorded key columns) export too: coverage resolves at EXPORT
    // time into the same nested epoch partition the scan uses, so the
    // view is a UNION ALL of epoch parts each NOT-EXISTS-ing exactly its
    // covering tombstones — no sequence arithmetic reaches the foreign
    // engine. Only LEGACY tombstones (seq 0, or no recorded key columns)
    // still refuse: their coverage is an anchor-snapshot set no portable
    // view can carry.
    require(snap.deleteManifests.forall(d =>
        d.posDelete || (d.seq > 0L && d.keyCols.nonEmpty)),
      s"snapshot $id of $table has pending LEGACY equality tombstones (no " +
        "sequence anchor or key columns recorded) — materialize with " +
        "compactDataFiles before exporting")
    require(!snap.evo.renamedFiles,
      s"snapshot $id of $table has renamed columns whose pre-rename files still " +
        "carry the old name — a FOREIGN engine matches columns by name, so export " +
        "after a full rewrite (compactDataFiles) materializes current names")
    val residue = defaultResidue(snap)
    require(residue.isEmpty,
      s"snapshot $id of $table still references files written before column(s) " +
        s"${residue.mkString(", ")} existed; their declared DEFAULT would read " +
        "as NULL in a foreign engine — rewrite (compactDataFiles) first")
    val files = filesOf(snap).sortBy(_.path)
    require(files.nonEmpty,
      s"snapshot $id of $table has no data files — an empty export would emit " +
        "an invalid read_parquet([]) view; append data (or export a later snapshot)")
    val destPath = new Path(dest)
    val dfs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    clearExportDest(dfs, destPath, "manifest.json",
      s"export dest $dest exists, is non-empty and is not a prior export " +
        "(no manifest.json) — refusing to overwrite; pick an empty dest")
    val entries = files.map(exportEntry)
    val deleteEntries = snap.deleteManifests
      .flatMap(d => readManifest(d.path)).sortBy(_.path)
      .map(f => ExportFileEntry(plain(f.path), f.rows, f.bytes))
    val manifestPath = emitExport(dfs, destPath, "manifest.json",
      Serialization.write(ExportManifest(table, id, snap.seq, snap.committedAtMillis,
        snap.schemaDdl, snap.partitionSpec, entries, deleteEntries)))
    val eqPending = snap.deleteManifests.exists(!_.posDelete)
    val viewSql =
      if (deleteEntries.isEmpty)
        s"CREATE OR REPLACE VIEW ${table}_export AS SELECT * FROM " +
          readParquet(entries.map(_.path), positions = false) + ";\n"
      else if (!eqPending)
        s"CREATE OR REPLACE VIEW ${table}_export AS\n" +
          "SELECT * EXCLUDE (filename, file_row_number)\n" +
          s"FROM ${readParquet(entries.map(_.path), positions = true)} d\n" +
          s"WHERE NOT EXISTS ${posMatch(deleteEntries.map(_.path))};\n"
      else {
        // EQUALITY (or mixed) pending: partition the data manifests into
        // the SAME nested coverage epochs the MOR scan uses, and emit one
        // UNION ALL part per epoch whose WHERE carries exactly its
        // covering tombstones — equality ones as a null-safe NOT EXISTS
        // per key schema (IS NOT DISTINCT FROM = the scan's <=>),
        // position ones as the (filename, row-number) NOT EXISTS. The
        // sequence arithmetic resolves HERE, never in the view.
        val parts = epochsOf(table, snap)
          .flatMap { case (ms, dels) =>
            val (posDels, eqDels) = dels.partition(_.posDelete)
            val epochFiles = filesOf(snap.copy(manifests = ms, deleteManifests = Nil))
              .map(f => plain(f.path)).sorted
            if (epochFiles.isEmpty) None else Some {
            val eqConds = eqDels.groupBy(_.keyCols.mkString(","))
              .toSeq.sortBy(_._1).map { case (_, group) =>
                val delPaths = group.flatMap(m => readManifest(m.path))
                  .map(f => plain(f.path)).sorted
                val keyCond = group.head.keyCols
                  .map(k => s"x.$k IS NOT DISTINCT FROM d.$k").mkString(" AND ")
                s"NOT EXISTS ${existsOver(delPaths, keyCond)}"
              }
            val posConds =
              if (posDels.isEmpty) Nil
              else Seq("NOT EXISTS " + posMatch(posDels.flatMap(m => readManifest(m.path))
                .map(f => plain(f.path)).sorted))
            val needMeta = posDels.nonEmpty
            val select =
              if (needMeta) "SELECT * EXCLUDE (filename, file_row_number)" else "SELECT *"
            val conds = eqConds ++ posConds
            s"$select\nFROM ${readParquet(epochFiles, positions = needMeta)} d" +
              (if (conds.isEmpty) "" else "\nWHERE " + conds.mkString("\n  AND "))
          } }
        s"CREATE OR REPLACE VIEW ${table}_export AS\n" +
          parts.mkString("\nUNION ALL\n") + ";\n"
      }
    val viewPath = emitExport(dfs, destPath, "view.sql", viewSql)
    // files.parquet: the same file list as a DISTRIBUTED parquet table
    // (path, rows, bytes + the pruning stats maps) — at 100 TB the inline
    // JSON array is the wrong shape for an engine to parse, and this
    // artifact is written by executors straight from the manifest entries
    // (nothing extra lands on the driver); any engine reads it natively.
    // Path normalization is THE SAME plain() as manifest.json (URI-parse,
    // not a regex strip), so the two artifacts never disagree on a path;
    // a UDF is justified here: URI semantics have no builtin, and this
    // runs once per FILE at export time, never per row.
    val plainUdf = org.apache.spark.sql.functions.udf(plain _)
    val filesParquet = new Path(destPath, "files.parquet").toString
    manifestEntries(snap)
      .select(
        plainUdf(org.apache.spark.sql.functions.col("path")).as("path"),
        org.apache.spark.sql.functions.col("rows"),
        org.apache.spark.sql.functions.col("bytes"),
        org.apache.spark.sql.functions.col("lower"),
        org.apache.spark.sql.functions.col("upper"),
        org.apache.spark.sql.functions.col("nullCounts"),
        org.apache.spark.sql.functions.col("partition"))
      .write.mode("overwrite").parquet(filesParquet)
    // numbered symlinks preserve the manifest's (path-sorted) file order
    val filesDir = linkFarm(dfs, destPath, "files", entries.map(_.path))
    ExportedSnapshot(dest, manifestPath, viewPath, filesDir, filesParquet, id,
      entries.length.toLong, entries.map(_.rows).sum, deleteEntries.length.toLong)
  }

  /** INCREMENTAL foreign-engine export (W66 — the Delta-Sharing-CDF
    * analogue of [[exportSnapshot]]): export a snapshot WINDOW's changes
    * so an external consumer holding `fromId`'s content can catch up to
    * `toId` without re-reading the table.
    *
    *  - Default (transaction form, ZERO-COPY): `manifest-changes.json`
    *    lists the window's insert-side and delete-side data files
    *    (symmetric endpoint diff — untouched files never appear), and
    *    `view.sql` serves `<t>_changes_export` as a UNION of the two
    *    read_parquet legs with a literal `_change_type`. A CoW
    *    rewrite's carried survivors appear as a delete+insert pair —
    *    multiset-exact for a consumer applying deletes before inserts
    *    (or any signed fold). Local-FS paths also get `inserts/` and
    *    `deletes/` symlink farms for glob-style readers.
    *  - `net = true`: MATERIALIZE the W62 net changelog as parquet
    *    under `<dest>/changes/` (rows carry `_change_type`) — pays one
    *    write of O(net rows), serves consumers that cannot net.
    *
    * Pending POSITION sidecars at the endpoints export (r16, transaction
    * form): the view grows up to three legs — inserts minus the window's
    * NEW sidecar marks, removed files minus `from`'s inherited marks,
    * and the carried files' rows the new sidecars mark as an extra
    * delete leg (the zero-file-change deletions a plain file diff cannot
    * see). Sound because within a non-compacting window `from`'s sidecar
    * set is a path subset of `to`'s and fresh marks never re-mark prior
    * ones. Windows that folded/materialized sidecars, EQUALITY
    * tombstones, and `net = true` with any pending sidecar still refuse;
    * remaining guards mirror [[exportSnapshot]]: no rename residue and
    * no schema change across the window (a foreign engine matches
    * columns by NAME). */
  def exportChanges(table: String, fromId: String, toId: String, dest: String,
      net: Boolean = false): ExportedChanges = {
    val from = loadSnapshot(table, fromId)
    val to = loadSnapshot(table, toId)
    // POSITION sidecars at the endpoints export (r16): within a window
    // where no compaction materialized/folded them, `from`'s sidecar set
    // is a PATH SUBSET of `to`'s (positions only accumulate, and fresh
    // marks anti-join prior ones, so the window's new sidecar files hold
    // exactly the window's new deletions, disjoint from from's). The
    // view then carries three legs — see below. EQUALITY tombstones and
    // fold/materialize windows still refuse: their window semantics are
    // not representable as a plain file diff (the snapshot export covers
    // eq-pending tables).
    require((from.deleteManifests ++ to.deleteManifests).forall(_.posDelete),
      s"changes export of $table has pending EQUALITY tombstones — convert " +
        "(rewrite_position_deletes) or materialize with compactDataFiles first")
    require(from.deleteManifests.map(_.path).toSet
        .subsetOf(to.deleteManifests.map(_.path).toSet),
      s"changes window $fromId -> $toId of $table folded or materialized its " +
        "position sidecars — the file diff cannot attribute those deletions; " +
        "export a window that does not cross the compaction")
    // refuse BEFORE any dest mutation: a scheduled net re-export into a
    // prior dest must never destroy the consumer's current artifact and
    // then throw
    require(!net || (from.deleteManifests.isEmpty && to.deleteManifests.isEmpty),
      s"net changes export of $table materializes the changelog — " +
        "tombstone-free endpoints required (the transaction form handles " +
        "pending position sidecars)")
    require(from.schemaDdl == to.schemaDdl && !to.evo.renamedFiles,
      s"changes window of $table crosses a schema change or rename residue — a " +
        "FOREIGN engine matches columns by name; export after a full rewrite")
    val residue = defaultResidue(to)
    require(residue.isEmpty,
      s"changes export of $table refused: files written before column(s) " +
        s"${residue.mkString(", ")} existed would serve NULL instead of their " +
        "DEFAULT in a foreign engine — rewrite (compactDataFiles) first")
    val diff = windowDiff(from, to)
    val deletes = diff.removed.sortBy(_.path)
    val inserts = diff.added.sortBy(_.path)
    val newSidecarManifests = {
      val fp = from.deleteManifests.map(_.path).toSet
      to.deleteManifests.filterNot(d => fp.contains(d.path))
    }
    require(deletes.nonEmpty || inserts.nonEmpty || newSidecarManifests.nonEmpty,
      s"window $fromId -> $toId of $table changed no files — nothing to export")
    val destPath = new Path(dest)
    val dfs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    clearExportDest(dfs, destPath, "manifest-changes.json",
      s"export dest $dest exists, is non-empty and is not a prior changes " +
        "export — refusing to overwrite; pick an empty dest")
    val (insE, delE) = (inserts.map(exportEntry), deletes.map(exportEntry))
    // the window's NEW and INHERITED position-sidecar files (read ONCE —
    // the view paths AND the manifest's deleteSidecars derive from this)
    val newScFiles = newSidecarManifests.flatMap(m => readManifest(m.path))
      .sortBy(_.path)
    val fromScFiles = from.deleteManifests.flatMap(m => readManifest(m.path))
      .sortBy(_.path)
    def canonS(p: String): String =
      p.replaceFirst("^[a-zA-Z0-9+.-]+:", "").replaceFirst("^/+", "/")
    // CARRIED files the new sidecars reference: rows deleted in-window
    // without any data-file change — the file diff alone cannot see
    // them. The new sidecars are window-scoped (small), so one driver
    // read of their distinct target paths is O(window), never O(table).
    val carriedTargets: Seq[DataFileMeta] =
      if (newScFiles.isEmpty) Nil
      else {
        val addedPaths = inserts.map(_.path).toSet
        val carried = filesOf(to).filterNot(f => addedPaths(f.path))
        if (carried.isEmpty) Nil
        else {
          val referenced = readFiles(BranchCatalog.posDeleteSchema, sized(newScFiles))
            .select(BranchCatalog.PosPathCol).distinct()
            .collect().map(r => canonS(r.getString(0))).toSet
          carried.filter(f => referenced.contains(canonS(plain(f.path)))).sortBy(_.path)
        }
      }
    val carriedE = carriedTargets.map(exportEntry)
    /** One change leg over `files`: all their rows, or — filtered by
      * sidecar membership — the rows no sidecar marks (`marked = false`)
      * or exactly the marked rows (`marked = true`). */
    def leg(ct: String, files: Seq[DataFileMeta], sidecars: Seq[DataFileMeta],
        marked: Boolean): String = {
      val paths = files.map(f => plain(f.path))
      if (sidecars.isEmpty)
        s"SELECT *, '$ct' AS _change_type FROM " + readParquet(paths, positions = false)
      else
        s"SELECT * EXCLUDE (filename, file_row_number), '$ct' AS _change_type\n" +
          s"FROM ${readParquet(paths, positions = true)} d\n" +
          s"WHERE ${if (marked) "EXISTS" else "NOT EXISTS"} " +
          posMatch(sidecars.map(f => plain(f.path)))
    }
    /** The rows [[leg]] serves: the metadata row sum, or — once sidecars
      * apply and the sums are no longer exact — a Spark count. */
    def legRows(files: Seq[DataFileMeta], sidecars: Seq[DataFileMeta],
        marked: Boolean): Long =
      if (sidecars.isEmpty) files.map(_.rows).sum
      else {
        import org.apache.spark.sql.functions.{col => fcol}
        val raw = readFiles(StructType.fromDDL(to.schemaDdl), sized(files))
          .select(fcol("_metadata.file_path").as(BranchCatalog.PosPathCol),
            fcol("_metadata.row_index").as(BranchCatalog.PosIdxCol))
        val pd = readFiles(BranchCatalog.posDeleteSchema, sized(sidecars))
        raw.join(pd, Seq(BranchCatalog.PosPathCol, BranchCatalog.PosIdxCol),
          if (marked) "left_semi" else "left_anti").count()
      }
    val (viewSql, changesParquet, insRows, delRows) =
      if (net) {
        val cl = scanChangelog(table, fromId, toId)
        val dir = new Path(destPath, "changes").toString
        cl.write.mode("overwrite").parquet(dir)
        val counts = spark.read.parquet(dir).groupBy("_change_type").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        (s"CREATE OR REPLACE VIEW ${table}_changes_export AS SELECT * FROM " +
          s"read_parquet(${sqlString(plain(dir) + "/*.parquet")});\n",
          Some(plain(dir)),
          counts.getOrElse("insert", 0L), counts.getOrElse("delete", 0L))
      } else {
        linkFarm(dfs, destPath, "inserts", insE.map(_.path))
        linkFarm(dfs, destPath, "deletes", delE.map(_.path))
        // three legs (sidecar-aware where needed):
        //  - inserts: added files minus the NEW sidecars' marks (a row
        //    born and deleted inside the window was never visible; only
        //    new sidecars can reference added files)
        //  - deletes A: removed files minus FROM's sidecars (rows already
        //    dead at `from` must not re-delete)
        //  - deletes B: carried files' rows the NEW sidecars mark (the
        //    zero-file-change deletions the file diff cannot see)
        val legs = Seq(("insert", inserts, newScFiles, false),
          ("delete", deletes, fromScFiles, false),
          ("delete", carriedTargets, newScFiles, true)).filter(_._2.nonEmpty)
        def rowsOf(ct: String): Long =
          legs.collect { case (`ct`, fs, sc, marked) => legRows(fs, sc, marked) }.sum
        (s"CREATE OR REPLACE VIEW ${table}_changes_export AS\n" +
          legs.map { case (ct, fs, sc, marked) => leg(ct, fs, sc, marked) }
            .mkString("\nUNION ALL\n") + ";\n",
          None, rowsOf("insert"), rowsOf("delete"))
      }
    val manifestPath = emitExport(dfs, destPath, "manifest-changes.json",
      Serialization.write(ExportChangesManifest(table, fromId, toId,
        from.seq, to.seq, to.schemaDdl, net, insE, delE, changesParquet,
        deleteSidecars = newScFiles.map(exportEntry),
        carriedDeleteTargets = carriedE)))
    val viewPath = emitExport(dfs, destPath, "view.sql", viewSql)
    ExportedChanges(dest, manifestPath, viewPath, fromId, toId,
      insE.length.toLong, delE.length.toLong, insRows, delRows, net)
  }

  /** Columns with a bloom sidecar on ANY of `manifestPaths` (from the
    * sidecar file names — no reads). */
  private def bloomIndexedColumns(manifestPaths: Seq[String]): Seq[String] =
    manifestPaths.flatMap { sp =>
      val mp = new Path(sp)
      val prefix = s"bloom-${mp.getName.stripSuffix(".json")}-"
      Option(fs.globStatus(new Path(mp.getParent, prefix + "*.json")))
        .toSeq.flatten.map(_.getPath.getName.stripPrefix(prefix).stripSuffix(".json"))
    }.distinct

  /** Re-index the columns that were bloom-indexed on `prior` after a
    * data-rewriting compaction — maintenance must not silently lose the
    * index (the freshly-minted manifests have no sidecars until built,
    * and [[buildBloomIndex]] is incremental, so only they are scanned;
    * the compaction just rewrote this data anyway). Best-effort: the
    * compaction itself is already committed and correct without it. */
  private def carryBloomIndexes(table: String, prior: Snapshot, branch: String): Unit =
    bloomIndexedColumns(prior.manifests.map(_.path)).foreach { c =>
      try { buildBloomIndex(table, c, branch); () } catch { case _: Exception => () }
    }

  /** Metadata-only sidecar carry for MANIFEST folding: the folded
    * manifest covers exactly the union of its sources' files, so the
    * per-file blooms merge by map union — zero data reads. Sources
    * without a current-format sidecar contribute nothing (their files
    * just stay unprobed, which is sound). */
  private def carryBloomSidecars(newManifestPath: String, sources: Seq[String]): Unit =
    bloomIndexedColumns(sources).foreach { c =>
      // keys stay valid: the folded manifest sits beside its sources
      val merged = sources.flatMap { sp =>
        val p = bloomSidecarPath(sp, c)
        if (!fs.exists(p)) Nil
        else BranchCatalog.BloomSidecarCache.entriesOf(readString(p)).toSeq.flatten
      }.toMap
      if (merged.nonEmpty) BranchCatalog.BloomSidecarCache.write(fs, newManifestPath, c, merged)
    }

  /** Fold table@branch's current manifests into ONE new manifest per MOR
    * coverage epoch (pure metadata rewrite — data files untouched; ONE
    * manifest total when no tombstones are pending). Run periodically so
    * long-lived tables keep O(1) manifests to read per scan even after
    * thousands of commits.
    *
    * Pending tombstones survive folding correctly: manifests are grouped
    * by their covering-tombstone signature and each folded manifest is
    * stamped with its group's MAX member sequence — within a group every
    * member agrees on `seq < d.seq` for every tombstone d (that is what
    * sharing a signature means), so the max preserves each comparison,
    * and any FUTURE tombstone's sequence exceeds this commit's. Folding a
    * pre-r8 tombstone (no sequence — coverage is an anchor snapshot's
    * manifest-path set, which folding would orphan into suppress-nothing)
    * is refused: materialize it with compactDataFiles first. */
  def compactManifests(table: String, branch: String = "main"): Snapshot = {
    val cur = headOf(table, branch)
    require(cur.deleteManifests.forall(_.seq > 0L),
      s"$table@$branch has pre-sequence MOR tombstones whose coverage cannot survive " +
        "manifest folding — materialize them with compactDataFiles first")
    val foldedWithSrc = epochsOf(table, cur).map { case (ms, _) =>
      val folded =
        if (!cur.lin.enabled)
          writeManifest(table, ms.flatMap(m => readManifest(m.path)),
            StructType.fromDDL(cur.schemaDdl))
        else {
          // W73: folded entries carry their ABSOLUTE bases (ref base 0)
          // so folding never moves a row id
          val abs = ms.flatMap { m =>
            require(m.firstRowId >= 0L,
              s"manifest ${m.path} predates row lineage — run enableRowLineage first")
            readManifest(m.path).map(f =>
              f.copy(firstRowId = m.firstRowId + f.firstRowId))
          }
          writeManifest(table, abs, StructType.fromDDL(cur.schemaDdl),
            preserveRowIds = true).copy(firstRowId = 0L)
        }
      (folded.copy(seq = ms.map(_.seq).max), ms)
    }
    val folded = foldedWithSrc.map(_._1)
    val committed = commitTable(table, branch, Some(cur), "compaction") { (_, _) =>
      Some(Change(SnapshotOp.CompactManifests, edit = _.copy(manifests = folded)))
    }
    // manifest folding keeps the files, so bloom sidecars merge over
    foldedWithSrc.foreach { case (nm, ms) => carryBloomSidecars(nm.path, ms.map(_.path)) }
    committed
  }

  /** Convert pending EQUALITY tombstones into POSITION sidecars without
    * touching a byte of data (the Iceberg v2→v3 migration shape:
    * equality deletes out, deletion vectors in): each tombstone's
    * suppressed rows are resolved to their exact `(file, row index)`
    * pairs — per tombstone, only ITS covered files join ITS keys, so
    * stacked delete/re-append histories reproduce the scan's sequence
    * semantics exactly — and ONE sidecar commit replaces every equality
    * tombstone. Cost: the covered files read ONCE (the same bytes every
    * MOR scan was already paying per read), KB of sidecars written,
    * zero data files rewritten — against [[compactDataFiles]]'s full
    * rewrite this is the 100 TB path to a positional-only table, which
    * un-gates [[enableRowLineage]], CDC feeds and scoped compaction.
    * Prior position sidecars stay pending (anti-joined, never
    * double-marked). No-op without equality tombstones. */
  def convertTombstonesToPositional(table: String, branch: String = "main"): Snapshot = {
    import org.apache.spark.sql.functions.{col => fcol}
    val cur = headOf(table, branch)
    val eqTombs = cur.deleteManifests.filterNot(_.posDelete)
    if (eqTombs.isEmpty) return cur
    val schema = StructType.fromDDL(cur.schemaDdl)
    val covers = tombstoneCovers(table, cur)
    val parts = eqTombs.flatMap { d =>
      val covered = cur.manifests.filter(m => covers(d, m))
      if (covered.isEmpty) None
      else {
        val delFiles = readManifest(d.path)
        val fileSchema = spark.read.parquet(delFiles.map(_.path): _*).schema
        val keyCols = if (d.keyCols.nonEmpty) d.keyCols else fileSchema.fieldNames.toSeq
        // current rows only: a position a prior sidecar holds stays there
        val data = currentRows(cur, filesOf(cur.copy(manifests = covered)), decode = false)
        // key files keep their WRITE-time types; cast to the table's
        // declared types so a widening evolution still matches
        val keys = readFiles(fileSchema, sized(delFiles))
          .select(keyCols.map(c => fcol(c).cast(schema(c).dataType).as(c)): _*)
          .distinct()
        Some(data.join(keys, keyCols)
          .select(fcol(BranchCatalog.PosPathCol), fcol(BranchCatalog.PosIdxCol)))
      }
    }
    // tombstones that cover nothing just drop
    val posManifest =
      if (parts.isEmpty) None else writeSidecar(table, cur, parts.reduce(_ unionByName _).distinct())
    commitTable(table, branch, Some(cur), "tombstone conversion") { (_, _) =>
      Some(Change(SnapshotOp.ConvertTombstones, edit = c => withDeletes(
        c.copy(deleteManifests = cur.deleteManifests.filter(_.posDelete)), posManifest)))
    }
  }

  /** Fold ALL pending POSITION-delete sidecars into ONE generation
    * (Iceberg's `rewrite_position_delete_files`): a metadata+sidecar
    * rewrite that never touches a data file. Long-running MoR tables
    * accumulate one sidecar manifest per DML commit, and every scan
    * anti-joins each coverage epoch separately — this folds them to one
    * epoch, dedups re-marked `(path, pos)` pairs, and DROPS dangling
    * positions whose data file is no longer live (metadata-deleted or
    * rewritten), so MoR read amplification stays bounded without the
    * full materialization `compactDataFiles` costs. Sound under the
    * sequence rule because a position suppresses exactly one row of one
    * immutable path: widening coverage to the new commit's sequence
    * cannot catch a later-appended file (fresh UUID paths; add_files
    * refuses re-registration). Equality tombstones refuse — convert
    * first (W76). */
  def compactPositionDeletes(table: String, branch: String = "main"): Snapshot = {
    import org.apache.spark.sql.functions.{col => fcol}
    val cur = headOf(table, branch)
    require(cur.deleteManifests.forall(_.posDelete),
      s"$table@$branch has pending EQUALITY tombstones — CALL " +
        "convert_equality_deletes first (position sidecars fold, equality keys do not)")
    if (cur.deleteManifests.isEmpty) return cur
    val sidecars = cur.deleteManifests.flatMap(m => readManifest(m.path))
    import spark.implicits._
    // live-path side stays a distributed manifest-entry frame above the
    // threshold; sidecar paths come from _metadata.file_path (URI form)
    // while manifests store bare paths — normalize both (barePath, the
    // same rule every sidecar consumer applies)
    val liveDf =
      (if (cur.manifests.map(_.fileCount).sum > distributedMetaThreshold)
        manifestEntries(cur).select(fcol("path"))
      else filesOf(cur).map(_.path).toDF("path"))
        .select(barePath(fcol("path")).as("__live"))
    val folded = readFiles(BranchCatalog.posDeleteSchema, sized(sidecars))
      .dropDuplicates(BranchCatalog.PosPathCol, BranchCatalog.PosIdxCol)
      .join(liveDf,
        barePath(fcol(BranchCatalog.PosPathCol)) === fcol("__live"), "left_semi")
    val posManifest = writeSidecar(table, cur, folded)
    commitTable(table, branch, Some(cur), "position-delete compaction") { (_, _) =>
      Some(Change(SnapshotOp.CompactPosDeletes,
        edit = c => withDeletes(c.copy(deleteManifests = Nil), posManifest)))
    }
  }

  /** Small-file compaction: rewrite table@branch's data into `targetFiles`
    * larger files (streaming ingest leaves one small file per micro-batch;
    * at scale a reader pays per-file open cost). The new snapshot REPLACES
    * the manifest list; older snapshots still reference the original files
    * until expireSnapshots reclaims them. */
  def compactDataFiles(table: String, branch: String = "main", targetFiles: Int = 1): Snapshot = {
    require(targetFiles >= 1, "targetFiles >= 1")
    rewriteWhole(table, branch, SnapshotOp.Compact) { (cur, rows) =>
      writeRows(table, cur, rows.repartition(targetFiles))
    }
  }

  /** PREDICATE-SCOPED small-file compaction (Iceberg `rewrite_data_files`
    * with a row filter): only files the predicate's stats/transform
    * pruning ADMITS are rewritten into `targetFiles`; every other
    * manifest carries over by reference. The 100 TB maintenance shape:
    * yesterday's hot partition accumulated a thousand micro-batch files —
    * compact THAT day in O(affected files), never the table. The
    * predicate selects FILES, not rows (every row of an admitted file
    * survives, byte-identical), so a coarse predicate just widens the
    * rewrite set. Refuses pending MOR tombstones: a partial rewrite
    * would materialize deletions for the rewritten subset only, while
    * untouched files keep relying on tombstone coverage — two
    * visibility regimes in one snapshot ([[compactDataFiles]], the
    * whole-table form, materializes them consistently). */
  def compactDataFilesWhere(
      table: String, where: Column, branch: String = "main",
      targetFiles: Int = 1): Snapshot = {
    require(targetFiles >= 1, "targetFiles >= 1")
    val cur = headOf(table, branch)
    require(cur.deleteManifests.isEmpty,
      s"$table@$branch has pending MOR tombstones — run the whole-table " +
        "compactDataFiles (which materializes them) before scoped compaction")
    val picked = selectFiles(cur, Some(where))
    if (picked.flatMap(_.hit).size <= 1) return cur // nothing to fold
    compactPicked(table, branch, cur, picked, targetFiles)
  }

  /** The scoped compactions' commit: the `hit` files of `picked` rewritten
    * into `outFiles` files, every manifest [[carry]]-ed around them, then
    * the bloom indexes rebuilt on the new files. */
  private def compactPicked(table: String, branch: String, cur: Snapshot,
      picked: Seq[Picked], outFiles: Int): Snapshot = {
    val committed = commitRewrite(table, branch, cur, SnapshotOp.Compact, "compaction",
      carry(table, cur, picked),
      writeRows(table, cur, rewriteRows(cur, picked).repartition(outFiles)))
    carryBloomIndexes(table, cur, branch)
    committed
  }

  /** Size-tiered SMALL-FILE compaction (the Iceberg `rewrite_data_files`
    * BIN_PACK strategy): rewrite ONLY the files under `targetBytes` into
    * ~targetBytes outputs, leaving well-sized files untouched — the
    * 100 TB `OPTIMIZE` that a stream of small commits needs, at
    * O(small files) cost instead of the whole-table rewrite
    * [[compactDataFiles]] pays. Manifest surgery mirrors the scoped
    * rewrite: untouched manifests survive as-is; a manifest losing only
    * some files is rewritten around its survivors. None = nothing to do
    * (fewer than `minInputFiles` small files). Content-neutral
    * (`op = "compact"` — CDC-silent); refuses pending tombstones like
    * every scoped rewrite (whole-table compaction materializes them). */
  def compactSmallFiles(
      table: String, branch: String = "main",
      targetBytes: Long = 128L * 1024 * 1024,
      minInputFiles: Int = 2): Option[Snapshot] = {
    require(targetBytes > 0 && minInputFiles >= 2,
      "targetBytes > 0 and minInputFiles >= 2")
    val cur = headOf(table, branch)
    require(cur.deleteManifests.isEmpty,
      s"$table@$branch has pending MOR tombstones — run the whole-table " +
        "compactDataFiles (which materializes them) before small-file compaction")
    def sizeOf(f: DataFileMeta): Long =
      if (f.bytes > 0) f.bytes // pre-r8 metadata: one status call
      else fs.getFileStatus(new Path(f.path)).getLen
    val picked = selectFiles(cur, None, admit = sizeOf(_) < targetBytes)
    val smallFiles = picked.flatMap(_.hit)
    if (smallFiles.size < minInputFiles) return None
    val outFiles = math.max(1,
      math.ceil(smallFiles.map(sizeOf).sum.toDouble / targetBytes).toInt)
    // no gain: the packed outputs stay under target by construction, so
    // folding N smalls into N outputs would loop forever — idempotence
    // means "stop when the fold no longer reduces the file count"
    if (smallFiles.size <= outFiles) return None
    Some(compactPicked(table, branch, cur, picked, outFiles))
  }

  /** POLICY-DRIVEN table maintenance (the "auto OPTIMIZE" loop as one
    * idempotent call): read the table's `graft.maintain.*` properties
    * (branch-versioned TBLPROPERTIES, W58) and run exactly the actions
    * the table's state warrants, worst problem first:
    *
    *  0. `graft.maintain.ttl.column` + `graft.maintain.ttl.ms` (opt-in,
    *     both required): ROW-LEVEL retention — rows whose column falls
    *     before now − ttl delete through POSITION sidecars (zero
    *     rewrites per sweep; footer stats bound the scan to files whose
    *     range reaches below the cutoff, so a time-sorted or
    *     day-partitioned 100 TB table sweeps only its expiring prefix).
    *     The tombstone pass below materializes the sidecars on breach.
    *  1. `graft.maintain.tombstones.max` (default 8): pending MOR
    *     tombstone generations at/above the bound → whole-table
    *     [[compactDataFiles]] (materializes them — the one rewrite MOR
    *     cannot avoid), or with `graft.maintain.tombstones.mode =
    *     convert` the zero-rewrite [[convertTombstonesToPositional]]
    *     fold (falls back to the rewrite if still at the bound after).
    *  2. `graft.maintain.small-files.target-bytes` (default 128 MiB) +
    *     `graft.maintain.small-files.min` (default 16): that many
    *     under-target files → [[compactSmallFiles]] (O(small files)).
    *  3. `graft.maintain.manifests.max` (default 32): manifest refs
    *     at/above the bound → [[compactManifests]] (metadata only).
    *  4. `graft.maintain.expire.keep-ms` (opt-in): expire snapshots
    *     older than now − keep-ms, retaining
    *     `graft.maintain.expire.retain-last` (default 2) per head.
    *  5. `graft.maintain.orphans.older-than-ms` (opt-in): reap
    *     never-committed residue older than now − the fence.
    *
    * Returns the (action, detail) log — empty = the table was healthy.
    * Every action is an ordinary commit (visible in `$snapshots` with
    * its operation tag), so a scheduler can run this blindly per table:
    * `CALL <cat>.system.maintain('t')`. */
  def maintain(table: String, branch: String = "main",
      /** Injectable clock for the time-anchored passes (TTL retention,
        * expiry, orphan fencing) — tests pin it; production callers
        * leave the default. */
      nowMillis: Long = System.currentTimeMillis()): Seq[(String, String)] = {
    val props = tableProperties(table, branch)
    def intProp(k: String, d: Int): Int = props.get(k).map(_.trim.toInt).getOrElse(d)
    def longProp(k: String): Option[Long] = props.get(k).map(_.trim.toLong)
    val out = Seq.newBuilder[(String, String)]

    // 0. ROW-LEVEL TTL retention (`graft.maintain.ttl.column` +
    //    `graft.maintain.ttl.ms`): rows whose retention column falls
    //    before now - ttl are deleted through POSITION sidecars — zero
    //    file rewrites per sweep at any table size, footer stats bound
    //    the scan to files whose range reaches below the cutoff (on a
    //    time-sorted or day-partitioned layout: only the expiring
    //    prefix), and the materialization pass below folds the sidecars
    //    once they breach the tombstone bound. Idempotent: re-marked
    //    positions anti-join away, so a quiet table sweeps for free.
    props.get("graft.maintain.ttl.column").zip(longProp("graft.maintain.ttl.ms"))
      .foreach { case (c, ttl) =>
        val head = loadSnapshot(table, snapshotIdOf(table, branch)
          .getOrElse(sys.error(s"no table $table on $branch")))
        val schema = StructType.fromDDL(head.schemaDdl)
        val f = schema.fields.find(_.name == c.trim).getOrElse(sys.error(
          s"graft.maintain.ttl.column ${c.trim} is not a column of $table"))
        val cutoff = nowMillis - ttl
        val bound = f.dataType match {
          case TimestampType =>
            org.apache.spark.sql.functions.lit(java.time.Instant.ofEpochMilli(cutoff))
          case org.apache.spark.sql.types.TimestampNTZType =>
            org.apache.spark.sql.functions.lit(java.time.LocalDateTime.ofInstant(
              java.time.Instant.ofEpochMilli(cutoff), java.time.ZoneOffset.UTC))
          case LongType => org.apache.spark.sql.functions.lit(cutoff)
          case other => sys.error(
            s"graft.maintain.ttl.column ${c.trim} has unsupported type $other — " +
              "use a timestamp or epoch-millis long column")
        }
        if (head.deleteManifests.forall(_.posDelete)) {
          val r = deleteWherePositional(table,
            org.apache.spark.sql.functions.col(c.trim) < bound, branch)
          if (r.rowsDeleted > 0)
            out += "ttl-retention" ->
              s"${r.rowsDeleted} rows of ${c.trim} older than ${ttl}ms"
        } // pending equality tombstones: the materialize pass clears them
      }

    val head0 = loadSnapshot(table, snapshotIdOf(table, branch)
      .getOrElse(sys.error(s"no table $table on $branch")))
    val tombMax = intProp("graft.maintain.tombstones.max", 8)
    if (head0.deleteManifests.size >= tombMax) {
      // `graft.maintain.tombstones.mode = convert` (default materialize):
      // fold the EQUALITY generations into one position sidecar (W76 —
      // zero rewrites) instead of the full compactDataFiles rewrite; if
      // the stack is pure-positional the rewrite is the only remedy
      val mode = props.getOrElse("graft.maintain.tombstones.mode", "materialize").trim
      if (mode == "fold") {
        // `fold`: stay merge-on-read forever — equality generations
        // convert to positional (W76), then ALL sidecar generations fold
        // to ONE epoch (rewrite_position_delete_files); no data rewrite
        // at any table size, and the bound is always cleared (<= 1 left)
        if (head0.deleteManifests.exists(!_.posDelete)) {
          convertTombstonesToPositional(table, branch)
          ()
        }
        val f = compactPositionDeletes(table, branch)
        out += "fold-pos-deletes" ->
          s"${head0.deleteManifests.size} generations -> ${f.deleteManifests.size} epoch(s)"
      } else if (mode == "convert" && head0.deleteManifests.exists(!_.posDelete)) {
        val c = convertTombstonesToPositional(table, branch)
        out += "convert-tombstones" ->
          s"${head0.deleteManifests.size} generations -> ${c.deleteManifests.size} sidecars"
        if (c.deleteManifests.size >= tombMax) {
          compactDataFiles(table, branch) // conversion alone did not clear the bound
          out += "materialize" -> s"${c.deleteManifests.size} sidecars still at bound $tombMax"
        }
      } else {
        compactDataFiles(table, branch)
        out += "materialize" ->
          s"${head0.deleteManifests.size} pending tombstone generations (bound $tombMax)"
      }
    }

    val target = longProp("graft.maintain.small-files.target-bytes")
      .getOrElse(128L * 1024 * 1024)
    val minSmall = intProp("graft.maintain.small-files.min", 16)
    // tombstones BELOW the materialization bound park the BIN_PACK pass
    // (a scoped rewrite refuses pending tombstones); the next breach of
    // the tombstone bound materializes and unblocks it
    if (loadSnapshot(table, snapshotIdOf(table, branch).get).deleteManifests.isEmpty)
      compactSmallFiles(table, branch, target, math.max(2, minSmall)).foreach { _ =>
        out += "compact-small-files" -> s"folded under-${target}B files"
      }

    val manMax = intProp("graft.maintain.manifests.max", 32)
    val head1 = loadSnapshot(table, snapshotIdOf(table, branch).get)
    if (head1.manifests.size >= manMax) {
      compactManifests(table, branch)
      out += "compact-manifests" -> s"${head1.manifests.size} refs (bound $manMax)"
    }

    // LAYOUT health (`graft.maintain.cluster-by` / `.zorder-by`, r15):
    // interleaved appends fatten per-file ranges until point predicates
    // stop pruning; when more than `cluster.max-overlap` of the files'
    // [min,max] ranges on the LEADING layout column overlap the files
    // sorted before them, re-run the sorted (or z-order) compaction.
    // Detection is one O(files log files) bounds sweep — zero data IO;
    // small tables sweep driver-held manifest entries, and above
    // distributedMetaThreshold the statistic is a distributed Spark
    // aggregation that lands ONE scalar on the driver. A well-clustered
    // table measures 0.0 and the pass is free. Skipped under pending
    // tombstones (the materialize pass above clears them first).
    def colsProp(k: String): Seq[String] =
      props.get(k).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val clusterBy = colsProp("graft.maintain.cluster-by")
    val zorderBy = colsProp("graft.maintain.zorder-by")
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "graft.maintain.cluster-by and graft.maintain.zorder-by are " +
        "alternative layouts — declare one")
    val layoutCols = if (clusterBy.nonEmpty) clusterBy else zorderBy
    if (layoutCols.nonEmpty) {
      val headC = loadSnapshot(table, snapshotIdOf(table, branch).get)
      val schemaC = StructType.fromDDL(headC.schemaDdl)
      val key = layoutCols.head
      val cmpOpt = schemaC.fields.find(_.name == key)
        .flatMap(f => BranchCatalog.statOrder(f.dataType))
      require(cmpOpt.isDefined,
        s"graft.maintain layout column $key is not an orderable column of $table")
      val cmp = cmpOpt.get
      val minFiles = intProp("graft.maintain.cluster.min-files", 8)
      val maxOverlap = props.get("graft.maintain.cluster.max-overlap")
        .map(_.trim.toDouble).getOrElse(0.5)
      val totalFiles = headC.manifests.map(_.fileCount).sum
      // the sweep statistic: with files sorted by lower bound, count how
      // many start at or before the running max of the PRIOR files'
      // upper bounds. Above the distributed threshold it is computed as
      // a two-pass Spark aggregation over the projected (lo, hi) bounds
      // — range-partition on lo, per-partition running sweep, partition
      // boundary handled by a prefix max over O(partitions) scalars —
      // so ONLY one (over, n) pair ever lands on the driver, never
      // O(files) bound strings. None = skipped: pending tombstones or too
      // few files (guards hoisted BEFORE the jobs run), or some file
      // lacks bounds on the key (conservative, like the size guard).
      val sweep: Option[(Long, Long)] =
        if (headC.deleteManifests.nonEmpty || totalFiles < minFiles) None
        else if (totalFiles > distributedMetaThreshold) {
          import org.apache.spark.sql.functions.{element_at, col => fcol, lit => flit}
          // cast target whose natural ordering EQUALS statOrder's string
          // comparator, so range partitioning agrees with the sweep
          val ordType: DataType = schemaC.fields.find(_.name == key).get.dataType match {
            case ByteType | ShortType | IntegerType | LongType |
                 TimestampType | TimestampNTZType | DateType => LongType
            case FloatType | DoubleType => DoubleType
            case BooleanType => BooleanType
            case _ => StringType
          }
          val cmpL = cmp // local: the executor closures must not drag `this` along
          val arranged = manifestEntries(headC)
            .select(element_at(fcol("lower"), flit(key)).as("lo"),
              element_at(fcol("upper"), flit(key)).as("hi"))
            .filter(fcol("lo").isNotNull && fcol("hi").isNotNull)
            .repartitionByRange(fcol("lo").cast(ordType))
            .sortWithinPartitions(fcol("lo").cast(ordType), fcol("hi").cast(ordType))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            // pass 1: per-partition (rows, max hi) — O(partitions) scalars
            val partStats = arranged.rdd.mapPartitionsWithIndex { (pid, it) =>
              var n = 0L; var mx: String = null
              it.foreach { r =>
                n += 1
                val hi = r.getString(1)
                if (mx == null || cmpL(hi, mx) > 0) mx = hi
              }
              Iterator.single((pid, n, mx))
            }.collect().sortBy(_._1)
            val n = partStats.map(_._2).sum
            if (n != totalFiles) None // a file lacks bounds on the key
            else {
              // prefix(i) = max hi over partitions BEFORE i
              val prefix = partStats.scanLeft(null: String) {
                case (acc, (_, _, mx)) =>
                  if (mx == null) acc
                  else if (acc == null || cmpL(mx, acc) > 0) mx else acc
              }.dropRight(1)
              val prefixB = spark.sparkContext.broadcast(prefix)
              // pass 2: per-partition sweep seeded with the prefix max
              val over = arranged.rdd.mapPartitionsWithIndex { (pid, it) =>
                var run = prefixB.value(pid)
                var c = 0L
                it.foreach { r =>
                  val lo = r.getString(0); val hi = r.getString(1)
                  if (run != null && cmpL(lo, run) <= 0) c += 1
                  if (run == null || cmpL(hi, run) > 0) run = hi
                }
                Iterator.single(c)
              }.fold(0L)(_ + _)
              Some((over, n))
            }
          } finally { arranged.unpersist(); () }
        } else {
          val ranged = filesOf(headC).flatMap(f => f.lower.get(key).zip(f.upper.get(key)))
          if (ranged.size.toLong != totalFiles) None
          else {
            val sorted = ranged.sortWith((a, b) => cmp(a._1, b._1) < 0)
            var over = 0L
            var maxUpper: String = null
            sorted.foreach { case (lo, hi) =>
              if (maxUpper != null && cmp(lo, maxUpper) <= 0) over += 1
              if (maxUpper == null || cmp(hi, maxUpper) > 0) maxUpper = hi
            }
            Some((over, sorted.size.toLong))
          }
        }
      sweep.foreach {
        case (over, n) =>
          val frac = over.toDouble / math.max(1L, n - 1L)
          if (frac > maxOverlap) {
            val targetF = intProp("graft.maintain.cluster.target-files", 8)
            if (zorderBy.nonEmpty) compactDataFilesZOrder(table, zorderBy, branch, targetF)
            else compactDataFilesSorted(table, clusterBy, branch, targetF)
            out += "recluster" ->
              f"$over of $n file ranges on $key overlap ($frac%.2f > $maxOverlap) — ${if (zorderBy.nonEmpty) "z-order" else "sort"} rewrite"
          }
      }
    }

    longProp("graft.maintain.expire.keep-ms").foreach { keep =>
      val r = expireSnapshots(table,
        retainLast = intProp("graft.maintain.expire.retain-last", 2),
        olderThanMillis = Some(nowMillis - keep))
      if (r.snapshotsDeleted > 0)
        out += "expire-snapshots" ->
          s"${r.snapshotsDeleted} snapshots, ${r.dataFilesDeleted} data files"
    }
    longProp("graft.maintain.orphans.older-than-ms").foreach { fence =>
      val r = removeOrphanFiles(table, nowMillis - fence)
      if (r.filesDeleted > 0)
        out += "remove-orphans" -> s"${r.filesDeleted} files, ${r.bytesDeleted} bytes"
    }
    out.result()
  }

  /** [[maintain]] over every table of the branch — the whole-catalog
    * scheduler entry point (`CALL <cat>.system.maintain_all()`): returns
    * (table, action, detail) rows; tables without policies and healthy
    * tables contribute nothing. */
  def maintainAll(branch: String = "main",
      /** Lake-level tag retention ([[expireTags]], W50) folded into the
        * sweep — tags pin whole branch table maps, so their expiry is a
        * catalog action, not a per-table policy. None = skip. */
      tagsMaxAgeMs: Option[Long] = None): Seq[(String, String, String)] = {
    val perTable = listTables(branch).flatMap(t =>
      maintain(t, branch).map { case (a, d) => (t, a, d) })
    val tagRows = tagsMaxAgeMs.toSeq.flatMap { maxAge =>
      val dropped = expireTags(maxAge)
      if (dropped.isEmpty) Nil
      else Seq(("*", "expire-tags", dropped.mkString(", ")))
    }
    perTable ++ tagRows
  }

  /** Sort-clustered small-file compaction (the Iceberg
    * `rewrite_data_files` "sort" strategy analogue): rewrite
    * table@branch's CURRENT data range-partitioned and sorted on
    * `clusterBy`, so files accumulated from interleaved appends — each
    * spanning nearly the full key range, making footer-stats pruning
    * useless — become `targetFiles` files with tight, nearly-disjoint
    * min/max ranges that selective predicates prune down to one. Plain
    * [[compactDataFiles]] fixes file COUNT but hash-repartitions, which
    * keeps every output file fat-ranged; this fixes file count AND
    * pruning. Hidden-partitioned tables keep their partition layout and
    * sort WITHIN each partition value (file-level ranges there are the
    * partition's by construction; the sort tightens parquet
    * row-group/page stats for readers). */
  def compactDataFilesSorted(
      table: String, clusterBy: Seq[String], branch: String = "main",
      targetFiles: Int = 8): Snapshot = {
    require(clusterBy.nonEmpty, "clusterBy must name at least one column")
    require(targetFiles >= 1, "targetFiles >= 1")
    // only the UNPARTITIONED rewrite's range layout guarantees the global
    // file order sortOrder promises; the partitioned rewrite sorts within
    // partition VALUES (one file per value), which is exactly the
    // per-partition contract sortWithinPartitions records
    rewriteWhole(table, branch, SnapshotOp.CompactSorted, edit = c => {
      val unpartitioned = specsOf(c.partitionSpec).isEmpty
      c.copy(sortOrder = if (unpartitioned) clusterBy else Nil,
        sortWithinPartitions = if (unpartitioned) Nil else clusterBy)
    }) { (cur, data) =>
      if (specsOf(cur.partitionSpec).isEmpty) {
        // range layout survives the write (no further shuffle): one
        // tight-ranged file per range partition. Manifest entries sort by
        // part-file NAME (zero-padded index = range-partition order;
        // filesystem listing order is unspecified) so manifest order IS
        // global range order — the sortOrder contract.
        val cols = clusterBy.map(data.col)
        writeRows(table, cur,
          data.repartitionByRange(targetFiles, cols: _*).sortWithinPartitions(cols: _*))
          .sortBy(f => new Path(f.path).getName)
      } else writeRows(table, cur, data, sortCols = clusterBy)
    }
  }

  /** Z-order (Morton-curve) compaction (the Iceberg `rewrite_data_files`
    * z-order strategy analogue): each cluster column maps to a bucket
    * index through its own quantile cutpoints (one `approxQuantile`
    * sketch job; 2^bits doubles per column on the driver), the bucket
    * bits interleave into a z-value, and files sort by it — every file
    * then owns a tight hyper-rectangle in the cluster space, so a
    * selective predicate on ANY clustered column prunes most files.
    * [[compactDataFilesSorted]] (lexicographic) serves only its LEADING
    * column; z-order trades a little per-column tightness for pruning on
    * all of them. Numeric columns only (bucket boundaries are value
    * quantiles); hidden-partitioned tables should combine their
    * transform with [[compactDataFilesSorted]] instead. */
  def compactDataFilesZOrder(
      table: String, zorderBy: Seq[String], branch: String = "main",
      targetFiles: Int = 8, bits: Int = 8): Snapshot = {
    import graft.functions.ZOrderFunctions._
    require(zorderBy.size >= 2,
      "z-order needs >= 2 columns; use compactDataFilesSorted for one")
    require(zorderBy.size * bits <= 63, s"zorderBy.size * bits must fit a long")
    require(targetFiles >= 1, "targetFiles >= 1")
    rewriteWhole(table, branch, SnapshotOp.CompactZOrder) { (cur, data) =>
      require(cur.partitionSpec.isEmpty,
        "z-order rewrite supports unpartitioned tables (combine the partition " +
          "transform with compactDataFilesSorted instead)")
      zorderBy.foreach { c =>
        val dt = data.schema.fields.find(_.name == c)
          .getOrElse(sys.error(s"no column $c in $table")).dataType
        require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
          s"z-order column $c must be numeric, got $dt")
      }
      // 2^bits - 1 internal cutpoints per column from ONE sketch job
      val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
      val cuts = data.stat.approxQuantile(zorderBy.toArray, probs, 0.001)
      val zcol = zInterleave(bits, zorderBy.zip(cuts).map { case (c, cu) =>
        bucketizeSorted(org.apache.spark.sql.functions.col(c).cast("double"), cu)
      }: _*)
      writeRows(table, cur, data
        .withColumn("__z", zcol)
        .repartitionByRange(targetFiles, org.apache.spark.sql.functions.col("__z"))
        .sortWithinPartitions(org.apache.spark.sql.functions.col("__z"))
        .drop("__z")) // projection: range layout + intra-partition order survive
    }
  }

  /** Expire history: keep only snapshots referenced by a branch head (or
    * listed in `keepIds`), then garbage-collect manifests and data files
    * no surviving snapshot references. Time travel to expired ids stops
    * working — that is the point. Run from a maintenance context: expiry
    * racing a concurrent commit on the same table can delete a snapshot
    * committed between the read and the deletes.
    *
    * Liveness: every branch head, every fork base, every tag pin, `keepIds`, plus
    * two RETENTION knobs (Iceberg expire_snapshots semantics) —
    * `retainLast` keeps that many newest ancestors of EACH branch head
    * readable for time travel (1 = head only, the historical default),
    * and `olderThanMillis` exempts every snapshot committed at or after
    * the cutoff — "expire only history older than 7 days" as one call.
    * Both default to the most aggressive (original) behavior. */
  def expireSnapshots(table: String, keepIds: Set[String] = Set.empty,
      retainLast: Int = 1, olderThanMillis: Option[Long] = None): ExpireResult = {
    require(retainLast >= 1, "retainLast >= 1")
    val refs = currentRefs()
    // the expiry unit is the PHYSICAL DIRECTORY, not the name: renames
    // ([[renameTable]]) and zero-copy clones ([[cloneTable]]) alias other
    // names onto this table's directory, and every sharer's snapshots
    // live in the one meta dir this method lists — so liveness must
    // account for every sharing NAME or a sharer's history would be
    // reclaimed out from under it.
    val dir = physDir(table)
    val names: Set[String] =
      (refs.branches.values.flatMap(_.tables.keys) ++
        refs.tags.values.flatMap(_.keys)).toSet
        .filter(n => refs.tableDirs.getOrElse(n, n) == dir) + table
    // every branch head AND every branch's fork base stays live: merge()
    // and scanBranchDelta() on a branch forked before the expiry must
    // still be able to load its baseOfMain snapshot. Tags pin their
    // snapshots for as long as the tag exists — that is their purpose.
    val headIds = refs.branches.values
      .flatMap(b => names.flatMap(b.tables.get)).toSet
    val retained: Set[String] =
      if (retainLast <= 1) Set.empty
      else headIds.flatMap { head =>
        Iterator.iterate(loadSnapshotOpt(table, head)) {
          case Some(s) => s.parentId.flatMap(loadSnapshotOpt(table, _))
          case None => None
        }.takeWhile(_.isDefined).flatten.take(retainLast).map(_.id).toSet
      }
    // INDEX WATERMARKS stay live on every path (r16): the persisted
    // dedup/vector indexes record the snapshot they cover in the source
    // table's branch-versioned properties, and reclaiming that snapshot
    // silently degrades their next refresh from O(delta) to a full
    // corpus rebuild — so expiry itself protects them, not each caller.
    // (Materialized-view source watermarks live on OTHER tables and are
    // NOT protected here: a reclaimed one falls back to a full recompute,
    // which the refresh classifier already handles soundly.)
    val watermarkIds: Set[String] = refs.branches.values.flatMap { b =>
      names.toSeq.flatMap(n => b.tableProps.getOrElse(n, Map.empty).collect {
        case (k, v)
          if (k.startsWith("graft.dedupidx.") || k.startsWith("graft.vecidx.")) &&
            k.endsWith(".snapshot") && v.nonEmpty => v
      })
    }.toSet
    val liveIds = refs.branches.values
      .flatMap(b => names.toSeq.flatMap(n =>
        b.tables.get(n).toSeq ++ b.baseOfMain.get(n).toSeq))
      .toSet ++ refs.tags.values.flatMap(t => names.flatMap(t.get)) ++
      keepIds ++ retained ++ watermarkIds
    val metaDir = new Path(rootPath, s"tables/${physDir(table)}/meta")
    if (!fs.exists(metaDir)) return ExpireResult(0, 0, 0)

    // compare everything fully-qualified: stored metadata paths may lack
    // the scheme that listStatus results carry
    def q(p: Path): String = fs.makeQualified(p).toString
    val snapFiles = fs.listStatus(metaDir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("snap-"))
    // age exemption: read each snapshot once; anything at or after the
    // cutoff is live (and so are its tombstone anchors, via the fixpoint)
    val fresh: Set[String] = olderThanMillis match {
      case None => Set.empty
      case Some(cut) => snapFiles.flatMap { p =>
        val s = readSnapshot(p)
        if (s.committedAtMillis >= cut) Some(s.id) else None
      }.toSet
    }
    // live tombstones need their asOf ANCHOR snapshots to stay readable
    // (scan coverage would otherwise fall back to suppress-everything) —
    // expand the live set to a fixpoint over anchors (anchors are
    // ancestors, so this terminates within the chain length)
    var live = liveIds ++ fresh
    var stable = false
    while (!stable) {
      val anchors = snapFiles
        .filter(p => live.contains(p.getName.stripPrefix("snap-").stripSuffix(".json")))
        .map(p => readSnapshot(p))
        .flatMap(_.deleteManifests.flatMap(_.asOf))
        .toSet
      stable = anchors.subsetOf(live)
      live = live ++ anchors
    }
    val (keepSnaps, dropSnaps) = snapFiles.partition { p =>
      live.contains(p.getName.stripPrefix("snap-").stripSuffix(".json"))
    }
    val liveSnapshots = keepSnaps.map(p => readSnapshot(p))
    // delete manifests and their key files are references like any other
    // — orphan GC must not reclaim a live snapshot's tombstones
    val liveManifestRefs = liveSnapshots.flatMap(s => s.manifests ++ s.deleteManifests)
    val liveManifests = liveManifestRefs.map(m => q(new Path(m.path))).toSet

    dropSnaps.foreach(fs.delete(_, false))
    // analyze sidecars die with their snapshots
    dropSnaps.foreach { p =>
      val id = p.getName.stripPrefix("snap-").stripSuffix(".json")
      try { fs.delete(colStatsPath(table, id), false); () } catch { case _: Exception => () }
    }

    val manifestFiles = fs.listStatus(metaDir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("manifest-"))
    val dropManifests = manifestFiles.filterNot(p => liveManifests.contains(q(p)))

    // orphan set = files of dropped manifests MINUS files of live
    // manifests — computed BEFORE any manifest is deleted. Above the
    // distributed threshold the two sides are manifest-entry DataFrames
    // and the set difference is a Spark job (the driver never holds a
    // per-file set, only the delete list); both sides are stored path
    // strings from the same writer, so they compare unqualified.
    val totalLiveFiles = liveManifestRefs.map(_.fileCount).sum
    val dropData: Seq[String] =
      if (totalLiveFiles > distributedMetaThreshold) {
        import org.apache.spark.sql.functions.col
        manifestEntriesOf(dropManifests.map(_.toString)).select(col("path"))
          .except(manifestEntriesOf(liveManifestRefs.map(_.path)).select(col("path")))
          .collect().map(r => q(new Path(r.getString(0)))).toSeq
      } else {
        val liveData = liveSnapshots.flatMap(s => filesOf(s).map(f => q(new Path(f.path)))).toSet
        dropManifests.flatMap(p => readManifest(p.toString).map(f => q(new Path(f.path))))
          .distinct.filterNot(liveData.contains)
      }
    dropManifests.foreach(fs.delete(_, false))
    // incremental-analyze sketch sidecars die with their manifests
    dropManifests.foreach { p =>
      try { fs.delete(sketchPath(table, p.toString), false); () }
      catch { case _: Exception => () }
    }
    // bloom-index sidecars (one per indexed column) die with them too
    dropManifests.foreach { p =>
      val name = p.getName.stripSuffix(".json")
      try Option(fs.globStatus(new Path(p.getParent, s"bloom-$name-*.json")))
        .foreach(_.foreach(s => fs.delete(s.getPath, false)))
      catch { case _: Exception => () }
    }
    dropData.foreach(p => fs.delete(new Path(p), false))

    ExpireResult(dropSnaps.size, dropManifests.size, dropData.size)
  }

  /** Delete data files NO snapshot references (Iceberg
    * remove_orphan_files): the residue of crashed writes — files staged
    * under `tables/<t>/data/` whose commit never landed, which
    * [[expireSnapshots]] can never reclaim because no manifest ever
    * pointed at them. Referenced = every file of EVERY snapshot on disk
    * (live or historical, data AND delete-key files) — expiry owns
    * historical cleanup, this op only touches the never-committed.
    * `olderThanMillis` is the safety fence (default: 3 days ago): a file
    * younger than the cutoff is NEVER deleted, because it may belong to
    * a write in flight between staging and its refs commit — the same
    * race Iceberg's procedure defaults against. Above the distributed
    * threshold the referenced-set diff runs as a Spark job (the driver
    * holds only the delete list). */
  def removeOrphanFiles(
      table: String,
      olderThanMillis: Long = System.currentTimeMillis() - 3L * 24 * 3600 * 1000): OrphanResult = {
    val dataDir = new Path(rootPath, s"tables/${physDir(table)}/data")
    val metaDir = new Path(rootPath, s"tables/${physDir(table)}/meta")
    if (!fs.exists(dataDir) || !fs.exists(metaDir)) return OrphanResult(0, 0L)

    val manifestPaths = fs.listStatus(metaDir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("snap-"))
      .map(p => readSnapshot(p))
      .flatMap(s => (s.manifests ++ s.deleteManifests).map(_.path))
      .distinct
    val totalRefs = manifestPaths.size

    val listed: Seq[org.apache.hadoop.fs.FileStatus] = {
      val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
      def hidden(n: String): Boolean = n.startsWith("_") || n.startsWith(".")
      def walk(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
        if (st.isDirectory) { if (!hidden(st.getPath.getName)) walk(st.getPath) }
        else if (!hidden(st.getPath.getName)) out += st
      }
      walk(dataDir)
      out.result()
    }
    val candidates = listed.filter(_.getModificationTime < olderThanMillis)
    if (candidates.isEmpty) return OrphanResult(0, 0L)

    // both sides compare by the SCHEME-LESS path component: stored
    // manifest paths may lack the scheme/authority that listStatus
    // results carry, and a qualification mismatch here would delete
    // referenced files
    def bare(p: String): String = new Path(p).toUri.getPath
    val referencedBare: Set[String] =
      if (totalRefs > distributedMetaThreshold / 8) {
        // distributed diff: only candidate paths (already bounded) come
        // back, the per-file reference set never lands on the driver
        import org.apache.spark.sql.functions.{col, udf}
        import spark.implicits._
        val bareUdf = udf((p: String) => new Path(p).toUri.getPath)
        val cand = candidates.map(st => bare(st.getPath.toString)).toDS().toDF("path")
        cand.join(
            manifestEntriesOf(manifestPaths).select(bareUdf(col("path")).as("path")).distinct(),
            Seq("path"), "left_semi")
          .collect().map(_.getString(0)).toSet
      } else
        manifestPaths.flatMap(p => readManifest(p).map(f => bare(f.path))).toSet

    val orphans = candidates.filterNot(st => referencedBare.contains(bare(st.getPath.toString)))
    orphans.foreach(st => fs.delete(st.getPath, false))
    OrphanResult(orphans.size, orphans.map(_.getLen).sum)
  }

  private def newId(): String = UUID.randomUUID().toString.take(16)
}

object BranchCatalog {
  /** StructField metadata key Spark's parquet writer/reader use for
    * field ids (`ParquetUtils.FIELD_ID_METADATA_KEY`). */
  val FieldIdKey = "parquet.field.id"

  /** The JSON of a snapshot document. Each [[ManifestRef]] in it leaves
    * out every field equal to its constructor default, which json4s fills
    * back when the snapshot is read: a snapshot inlines every manifest
    * ref, so its unused fields would otherwise be written again on every
    * commit. */
  private[wap] def snapshotJson(s: Snapshot): String = {
    implicit val fmts: Formats = DefaultFormats
    def trim(refs: JValue): JValue = refs match {
      case JArray(ms) => JArray(ms.map {
        case JObject(fs) => JObject(fs.filterNot { case (k, v) => refDefaults.get(k).contains(v) })
        case m => m
      })
      case other => other
    }
    org.json4s.jackson.JsonMethods.compact(Extraction.decompose(s) match {
      case JObject(fs) => JObject(fs.map {
        case (k @ ("manifests" | "deleteManifests"), v) => k -> trim(v)
        case f => f
      })
      case other => other
    })
  }

  /** The on-disk bytes of a snapshot document: its JSON
    * ([[snapshotJson]]), gzip-compressed. A snapshot inlines every
    * manifest ref, so its document grows with the table's manifest count
    * and is most of a table's metadata bytes; the refs of one table
    * repeat the same column names and stat keys, which gzip folds about
    * 14x. The file keeps its `snap-<id>.json` name. */
  private[wap] def snapshotBytes(s: Snapshot): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(out)
    try gz.write(snapshotJson(s).getBytes(StandardCharsets.UTF_8)) finally gz.close()
    out.toByteArray
  }

  /** The snapshot of a document's bytes, gzip-compressed
    * ([[snapshotBytes]]) or plain JSON (documents written before
    * compression): the gzip magic bytes tell them apart, since a JSON
    * document starts with `{`. */
  private[wap] def parseSnapshot(bytes: Array[Byte]): Snapshot = {
    implicit val fmts: Formats = DefaultFormats
    val gzip = bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b
    if (!gzip) Serialization.read[Snapshot](new String(bytes, StandardCharsets.UTF_8))
    else {
      val in = new java.io.InputStreamReader(new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes)), StandardCharsets.UTF_8)
      try Serialization.read[Snapshot](in) finally in.close()
    }
  }

  /** The JSON of each defaulted [[ManifestRef]] field, by name. */
  private lazy val refDefaults: Map[String, JValue] = {
    implicit val fmts: Formats = DefaultFormats
    Extraction.decompose(ManifestRef("", 0L, 0L)) match {
      case JObject(fs) => fs.toMap -- Seq("path", "fileCount", "rows")
      case _ => Map.empty
    }
  }

  /** Lost refs-commit races a commit retries before giving up. */
  private val MaxCommitRetries = 50

  /** What one commit changes on the head it lands on (the catalog's
    * `commitTable`): its op tag, the FRESH data manifests it adds
    * (stamped and appended after the child's kept manifests, which
    * default to the parent's), and `edit` — every other difference,
    * stated as a copy over the child the derivation rule gives
    * (`childOf`). */
  private final case class Change(
      op: SnapshotOp, fresh: Seq[ManifestRef] = Nil,
      edit: Snapshot => Snapshot = identity)

  /** One manifest under a file selection (the catalog's `selectFiles`):
    * `files` are its entries (empty when the manifest-list prune excluded
    * it unread), `hit` the ones selected. */
  private final case class Picked(
      m: ManifestRef, files: Seq[DataFileMeta], hit: Seq[DataFileMeta]) {
    /** The entries the selection left. */
    def rest: Seq[DataFileMeta] =
      if (hit.isEmpty) files
      else { val gone = hit.map(_.path).toSet; files.filterNot(f => gone(f.path)) }
  }

  /** One arm of a row-level DML statement (the catalog's `withOutcomes`):
    * the rows it fires on, what it does to them, and the columns an
    * update SETs. */
  private final case class Arm(fire: Column, kind: Arm.Kind, set: Map[String, Column] = Map.empty)
  private object Arm {
    sealed trait Kind
    case object Update extends Kind
    case object Delete extends Kind
    case object Insert extends Kind
  }

  /** What the metadata-aggregate fold (the catalog's `foldAggs`) reads
    * of one manifest or one data file. */
  private final case class PartStats(rows: Long, nullCounts: Map[String, Long],
      lower: Map[String, String], upper: Map[String, String])

  /** Bounded pool for concurrent driver metadata reads (manifests,
    * footers). Daemon threads that time out when idle, so it never holds
    * a JVM open; its tasks never wait on the pool themselves, so a
    * bounded size cannot deadlock. */
  private lazy val metaIoPool: scala.concurrent.ExecutionContextExecutorService = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = new java.util.concurrent.ThreadPoolExecutor(16, 16,
      30L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, s"graft-meta-io-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    scala.concurrent.ExecutionContext.fromExecutorService(pool)
  }

  /** `xs.map(read)` with the reads run concurrently on [[metaIoPool]].
    * Order is preserved. The wait has no deadline: a slow store is slow,
    * not failed, and a failed read surfaces as its own exception (an
    * IOException stays an IOException). */
  private[wap] def metaIo[A, B](xs: Seq[A])(read: A => B): Seq[B] = {
    import scala.concurrent.{Await, Future, blocking}
    implicit val ec: scala.concurrent.ExecutionContext = metaIoPool
    val all = Future.sequence(xs.map(x => Future(read(x))))
    blocking(Await.result(all, scala.concurrent.duration.Duration.Inf))
  }

  /** Driver-side metadata parse accounting (profiling; see WapProfile).
    * Counts MISSES of the caches below — the JSON actually read+parsed. */
  private[graft] val metaParseNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val metaParseCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Last refs HEAD version seen per catalog root (default filesystem
    * store only): lets [[BranchCatalog.currentVersion]] probe forward
    * from here instead of listing the whole refs directory per consult.
    * Always validated against the filesystem before use — see the
    * probing loop for the dense-versions invariant it relies on. */
  private[wap] val maxRefsSeen =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** JVM-wide caches of parsed IMMUTABLE metadata files. Snapshot and
    * manifest JSONs are written create-if-absent under UUID names, so a
    * path's CONTENT can never change — the only lifecycle event is
    * deletion (snapshot expiry / orphan GC), which the read paths guard
    * with an existence probe before serving a cached value, so "expired
    * ⇒ unreadable" semantics (refresh fallbacks, consumer restarts) are
    * byte-identical to the uncached behavior. This is the same move as
    * Iceberg's manifest caching: within one lifecycle the head snapshot
    * and its manifests are consulted by every operation, and re-reading +
    * json4s-reflection-parsing them per operation is pure driver latency
    * (remote metadata GETs at 100 TB, parse CPU locally). Bounded LRU:
    * snapshots by count, manifests by total cached FILE ENTRIES. */
  private val snapCacheCap = 2048
  private[wap] val snapCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Snapshot](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Snapshot]): Boolean = size > snapCacheCap
    })
  private val manifestEntryBudget = 200000L
  private val manifestEntriesCached = new java.util.concurrent.atomic.AtomicLong(0L)
  private[wap] val manifestCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Seq[DataFileMeta]](64, 0.75f, true))
  private[wap] def cacheManifest(path: String, files: Seq[DataFileMeta]): Unit =
    // eviction lives HERE, not in removeEldestEntry: that hook fires at
    // most once per insert and judged the PRE-insert counter, so inserting
    // large manifests could park the cache above its entry budget
    // indefinitely. Loop-evict eldest-first until the total INCLUDING the
    // new entry fits; a single over-budget manifest evicts itself (it is
    // the youngest, so only after everything else), keeping the budget a
    // hard bound. The mutex is the synchronizedMap wrapper itself.
    manifestCache.synchronized {
      val prev = manifestCache.put(path, files)
      manifestEntriesCached.addAndGet(
        files.length.toLong - (if (prev == null) 0L else prev.length.toLong))
      val it = manifestCache.entrySet().iterator()
      while (manifestEntriesCached.get() > manifestEntryBudget && it.hasNext) {
        val e = it.next()
        manifestEntriesCached.addAndGet(-e.getValue.length.toLong)
        it.remove()
      }
    }
  private[wap] def uncacheManifest(path: String): Unit = {
    val prev = manifestCache.remove(path)
    if (prev != null) manifestEntriesCached.addAndGet(-prev.length.toLong)
    ()
  }

  /** JVM-wide registry of OPEN named transactions (SQL handle form of
    * W35): SQL procedures construct a fresh BranchCatalog per call, so
    * the handle must outlive instances; keys are (lake root, name), so
    * catalogs over different roots never see each other's handles. The
    * values are path-dependent [[BranchCatalog#TableTransaction]]s stored
    * erased — same-root lookups re-narrow (staging and commit both go
    * through same-root catalogs, which share every path the handle
    * touches). */
  private[wap] val openTxns =
    new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]()
  private[wap] def txnKey(root: String, name: String): (String, String) =
    (new org.apache.hadoop.fs.Path(root).toUri.getPath, name)

  /** One task of [[BranchCatalog.writeFiles]] (executor-side): writes
    * its rows to files under `dir` and returns their metadata, read from
    * each file's footer right after the task closes it. A file is opened
    * at the first row of a value group (no rows, no file); with
    * partition `keys` the rows end in one `__pv<i>` column per key,
    * arrive grouped by them, and are projected to their `data` columns
    * before they are written. A file rolls over after `maxRecords` rows
    * when that is positive (`spark.sql.files.maxRecordsPerFile`, as a
    * `df.write` honours it). A failed attempt, its footer read-back
    * included, closes and deletes the files it created. Each name holds
    * the task attempt id, unique in the Spark application (the directory
    * is unique per write): a retried attempt and a zombie of an earlier
    * stage attempt, which share the partition id and may share the
    * attempt number, never write or delete each other's files. */
  private[wap] final class FileWriteTask(
      writers: org.apache.spark.sql.graft.ParquetStageWriterFactory,
      dir: String, data: StructType, keys: Seq[String], maxRecords: Long)
    extends ((org.apache.spark.TaskContext, Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
      Seq[DataFileMeta]) with Serializable {
    def apply(ctx: org.apache.spark.TaskContext,
        rows: Iterator[org.apache.spark.sql.catalyst.InternalRow]): Seq[DataFileMeta] = {
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{DEFAULT_PARTITION_NAME, escapePathName}
      import org.apache.spark.unsafe.types.UTF8String
      val done = scala.collection.mutable.ArrayBuffer.empty[(Path, Map[String, String])]
      var open: org.apache.spark.sql.graft.ParquetStageWriter = null
      var group: Seq[UTF8String] = Nil
      var inFile = 0L
      val dataCols = data.length
      val project =
        if (keys.isEmpty) null
        else UnsafeProjection.create(data.fields.toSeq.zipWithIndex.map { case (f, i) =>
          BoundReference(i, f.dataType, f.nullable): Expression })
      def close(): Unit = if (open != null) { open.close(); open = null }
      def start(values: Seq[UTF8String]): Unit = {
        val levels = values.zipWithIndex.map { case (v, i) =>
          s"__pv$i=" + (if (v == null) DEFAULT_PARTITION_NAME else escapePathName(v.toString))
        }
        val name = f"part-${ctx.partitionId}%05d-${ctx.taskAttemptId}.c${done.size}%03d" +
          writers.extension
        val path = new Path((dir +: levels :+ name).mkString("/"))
        open = writers.create(path.toString)
        done += path -> keys.zip(values).collect {
          case (k, v) if v != null => k -> PathSafeEscape.unescape(v.toString)
        }.toMap
      }
      try {
        rows.foreach { row =>
          val out =
            if (keys.isEmpty) row
            else {
              val values = keys.indices.map(i =>
                if (row.isNullAt(dataCols + i)) null else row.getUTF8String(dataCols + i))
              if (open == null || values != group) {
                close()
                group = values.map(v => if (v == null) null else v.clone())
              }
              project(row)
            }
          if (open == null || inFile == maxRecords) { close(); start(group); inFile = 0L }
          open.write(out)
          inFile += 1
        }
        close()
        val metas = done.toSeq.map { case (p, partition) =>
          footerMetaOf(p.getFileSystem(writers.hadoopConf).getFileStatus(p), writers.hadoopConf)
            .copy(partition = partition)
        }
        org.apache.spark.sql.graft.Bridge.reportOutput(metas.map(_.bytes).sum, metas.map(_.rows).sum)
        metas
      } catch { case t: Throwable =>
        try close() catch { case _: Exception => () }
        done.foreach { case (p, _) =>
          try { p.getFileSystem(writers.hadoopConf).delete(p, false); () }
          catch { case _: Exception => () }
        }
        throw t
      }
    }
  }

  /** Footer-stats extraction (executor-side): for the data-file writer's
    * own files ([[FileWriteTask]]) and [[BranchCatalog.addDataFiles]]'s
    * distributed import (one footer per task element). Row count and
    * exact per-column min/max/null-count statistics folded over the
    * file's row groups — metadata only, no data pages read. */
  private[wap] def footerMetaOf(
      st: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration): DataFileMeta = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try footerMetaFrom(st, reader.getFooter) finally reader.close()
  }

  /** Stats from an ALREADY-OPEN footer (the import task reads the footer
    * once for stats AND schema). Foreign-file normalization: graft's own
    * writes only ever produce the canonical physical forms (micros
    * timestamps, signed ints), but imported files may not — a
    * millis/nanos timestamp stat is rescaled to the micros canonical
    * form [[BranchCatalog.statInternal]] expects, and stats that CANNOT
    * be rendered canonically (INT96 timestamps, unsigned ints) are
    * dropped, never mis-rendered (absent stats only cost pruning). */
  private[wap] def footerMetaFrom(
      st: org.apache.hadoop.fs.FileStatus,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): DataFileMeta = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    val lower = scala.collection.mutable.Map.empty[String, String]
    val upper = scala.collection.mutable.Map.empty[String, String]
    val nulls = scala.collection.mutable.Map.empty[String, Long]
    // a column whose stats are MISSING or unrepresentable in any block
    // must not keep values folded from the other blocks — a partial fold
    // would be an unsound bound / null undercount (graft's own writes
    // always carry full stats; imported foreign files may not)
    val noBounds = scala.collection.mutable.Set.empty[String]
    val noNulls = scala.collection.mutable.Set.empty[String]
    for (b <- blocks; c <- b.getColumns.asScala) {
      val name = c.getPath.toDotString
      val stats = c.getStatistics
      if (stats == null || stats.isEmpty) {
        if (b.getRowCount > 0) { noBounds += name; noNulls += name }
      } else {
        // parquet-mr returns -1 from getNumNulls when a foreign footer
        // omits null_count — folding it would corrupt the sum (wrong
        // metadata-only COUNT(col), unsound IS NULL pruning)
        if (stats.isNumNullsSet)
          nulls(name) = nulls.getOrElse(name, 0L) + stats.getNumNulls
        else noNulls += name
        if (!stats.hasNonNullValue) {
          // No bounds in this chunk. That is sound only if the chunk is
          // PROVABLY all-null; parquet-mr also drops binary min/max above
          // ~4KB while keeping null_count, and then the real values would
          // lie outside bounds folded from other blocks.
          if (!stats.isNumNullsSet || stats.getNumNulls < c.getValueCount)
            noBounds += name
        }
        if (stats.hasNonNullValue) {
          val prim = c.getPrimitiveType
          val boundOk = prim.getPrimitiveTypeName != PrimitiveTypeName.INT96 &&
            (prim.getLogicalTypeAnnotation match {
              case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
              case _ => true
            })
          // micros is the canonical timestamp stat form (what graft
          // writes and cmpStat/statInternal parse)
          val scale: Long = prim.getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit match {
                case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000L
                case LogicalTypeAnnotation.TimeUnit.NANOS => -1000L
                case _ => 1L
              }
            case _ => 1L
          }
          def canonical(v: AnyRef): Option[String] =
            if (!boundOk) None
            else statString(v).flatMap { s =>
              if (scale == 1L) Some(s)
              else try Some(
                if (scale > 0) Math.multiplyExact(s.toLong, scale).toString
                else Math.floorDiv(s.toLong, -scale).toString)
              catch { case _: ArithmeticException => None
                      case _: NumberFormatException => None }
            }
          def fold(m: scala.collection.mutable.Map[String, String],
              v: AnyRef, takeMin: Boolean): Unit = canonical(v) match {
            case Some(s) => m(name) = m.get(name) match {
              case Some(cur) => if (statLt(s, cur, stats) == takeMin) s else cur
              case None => s
            }
            case None => noBounds += name; ()
          }
          fold(lower, stats.genericGetMin.asInstanceOf[AnyRef], takeMin = true)
          fold(upper, stats.genericGetMax.asInstanceOf[AnyRef], takeMin = false)
        }
      }
    }
    noBounds.foreach { n => lower.remove(n); upper.remove(n) }
    noNulls.foreach { n => nulls.remove(n) }
    DataFileMeta(st.getPath.toString, rows, lower.toMap, upper.toMap, nulls.toMap,
      bytes = st.getLen)
  }

  /** Render a footer stat value to its canonical string (numbers via
    * toString; binary via UTF-8). Unsupported physical types -> None. */
  private def statString(v: AnyRef): Option[String] = v match {
    case null => None
    case b: org.apache.parquet.io.api.Binary => Some(b.toStringUsingUTF8)
    case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Double |
              _: java.lang.Float | _: java.lang.Boolean) => Some(n.toString)
    case _ => None
  }

  /** Order two rendered stat strings with the statistics' own comparator
    * semantics (numeric for numbers, lexicographic bytes for strings).
    * Strings compare in unsigned UTF-8 byte order (UTF8String) — the order
    * parquet binary stats and Spark string comparison both use; Java's
    * UTF-16 compareTo diverges for code points >= U+E000 vs supplementary
    * characters, which would make non-ASCII pruning unsound. */
  private def statLt(a: String, b: String, stats: org.apache.parquet.column.statistics.Statistics[_]): Boolean =
    stats match {
      case _: org.apache.parquet.column.statistics.BinaryStatistics =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
      case _: org.apache.parquet.column.statistics.DoubleStatistics |
           _: org.apache.parquet.column.statistics.FloatStatistics => a.toDouble < b.toDouble
      case _: org.apache.parquet.column.statistics.BooleanStatistics =>
        java.lang.Boolean.compare(a == "true", b == "true") < 0
      case _ => a.toLong < b.toLong
    }

  /** The schema with each tracked column's field id attached — what
    * every read of an id-ed table's DATA files must request, so the
    * reader resolves columns by id (renames) instead of name. Identity
    * for id-less tables. */
  def idSchema(schema: StructType, ids: Map[String, Int]): StructType =
    if (ids.isEmpty) schema
    else StructType(schema.fields.map { f =>
      ids.get(f.name) match {
        case Some(id) => f.copy(metadata = new MetadataBuilder()
          .withMetadata(f.metadata).putLong(FieldIdKey, id.toLong).build())
        case None => f
      }
    })

  /** StructField metadata keys Spark's analyzer and parquet readers use
    * for column defaults (`ResolveDefaultColumns`): `EXISTS_DEFAULT` is
    * filled by the reader for columns a FILE physically lacks (per file —
    * an explicit NULL in a post-add file stays NULL); `CURRENT_DEFAULT`
    * is what SQL INSERTs fill for omitted columns. */
  val ExistsDefaultKey: String =
    org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .EXISTS_DEFAULT_COLUMN_METADATA_KEY
  val CurrentDefaultKey: String =
    org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .CURRENT_DEFAULT_COLUMN_METADATA_KEY

  /** The schema every read of the table's DATA files must request:
    * [[idSchema]]'s field ids (renames resolve by id) PLUS the default-
    * value metadata — `EXISTS_DEFAULT` from the initial defaults, so
    * pre-add files serve the declared default instead of NULL, and
    * `CURRENT_DEFAULT` from the write defaults, so SQL INSERT through
    * the connector fills omitted columns. Identity when the evolution
    * state carries neither. */
  def readSchema(schema: StructType, evo: SchemaEvo): StructType =
    if (evo.fieldIds.isEmpty && evo.initDefaults.isEmpty && evo.writeDefaults.isEmpty) schema
    else StructType(schema.fields.map { f =>
      val mb = new MetadataBuilder().withMetadata(f.metadata)
      // id-LESS imported files may be live ([[SchemaEvo.idlessFiles]]):
      // resolve by NAME — an id-attached request would error/NULL on
      // them. Sound: import guarantees every live file carries current
      // names (refuses renamed tables; renames refuse while set).
      if (!evo.idlessFiles)
        evo.fieldIds.get(f.name).foreach(id => mb.putLong(FieldIdKey, id.toLong))
      evo.initDefaults.get(f.name).foreach(d => mb.putString(ExistsDefaultKey, d.sql))
      evo.writeDefaults.get(f.name).foreach(s => mb.putString(CurrentDefaultKey, s))
      f.copy(metadata = mb.build())
    })

  /** Position-delete sidecar columns ([[BranchCatalog
    * .deleteWherePositional]]): the data file's `_metadata.file_path`
    * string and the row's `_metadata.row_index` within it. Double
    * underscore keeps them out of any user schema (CREATE TABLE refuses
    * nothing, but table columns resolve by name and these never
    * collide with SQL-visible ones in practice; the positional scan
    * attaches and drops them internally). */
  val PosPathCol = "__graft_path"
  val PosIdxCol = "__graft_pos"

  // ---- the export writer ([[BranchCatalog.exportSnapshot]],
  // [[BranchCatalog.exportChanges]] and the index exports) ---------------

  /** Ready `dest` for an export whose marker file is `marker`: a dest
    * that exists, is non-empty and carries no marker is someone else's
    * data — a mistyped path must not silently destroy it — so it
    * refuses with `refusal`; a prior export is cleared whole, so a
    * re-export never leaves mixed artifacts behind. */
  private[graft] def clearExportDest(
      fs: FileSystem, dest: Path, marker: String, refusal: => String): Unit =
    if (fs.exists(dest)) {
      require(fs.listStatus(dest).isEmpty || fs.exists(new Path(dest, marker)), refusal)
      fs.delete(dest, true)
      ()
    }

  /** Write one small text artifact `dest/name`, creating parents. */
  private[graft] def emitExport(fs: FileSystem, dest: Path, name: String,
      content: String): String = {
    val p = new Path(dest, name)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    p.toString
  }

  /** An export's path form: local paths lose their scheme, so the file
    * list reads as plain filesystem paths; other URIs stay whole. */
  private def plain(p: String): String = {
    val uri = new Path(p).toUri
    if (uri.getScheme == null || uri.getScheme == "file") uri.getPath else p
  }

  private def exportEntry(f: DataFileMeta): ExportFileEntry =
    ExportFileEntry(plain(f.path), f.rows, f.bytes, f.lower, f.upper, f.nullCounts,
      f.partition)

  /** Columns whose declared DEFAULT some live file predates (W71): a
    * foreign engine fills a file-missing column with NULL, not the
    * default, so an export refuses while any remain. Precise through the
    * add sequence — files carried through rewrites keep their original
    * manifest seq. */
  private def defaultResidue(snap: Snapshot): Seq[String] =
    snap.evo.initDefaults.collect {
      case (c, d) if snap.manifests.exists(_.seq < d.addSeq) => c
    }.toSeq

  /** Numbered symlinks `dest/dir/00000.parquet`… over `paths`, in order,
    * for glob-only readers; the directory, or None when there is nothing
    * to link or a side is not on a local filesystem (the manifest and
    * view carry the real URIs). */
  private def linkFarm(fs: FileSystem, dest: Path, dir: String,
      paths: Seq[String]): Option[String] =
    if (paths.isEmpty || "file" != fs.makeQualified(dest).toUri.getScheme ||
        !paths.forall(p => Option(new Path(p).toUri.getScheme).forall(_ == "file"))) None
    else {
      val d = java.nio.file.Paths.get(fs.makeQualified(new Path(dest, dir)).toUri.getPath)
      java.nio.file.Files.createDirectories(d)
      paths.zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.createSymbolicLink(d.resolve(f"$i%05d.parquet"),
          java.nio.file.Paths.get(new Path(p).toUri.getPath))
      }
      Some(d.toString)
    }

  /** A SQL string literal; single quotes double, so an export view
    * survives any filesystem name SQL can express. */
  private def sqlString(s: String): String = s"'${s.replace("'", "''")}'"

  /** `read_parquet` over a literal file list; `positions` adds each row's
    * `filename` and `file_row_number` for the position-sidecar match. */
  private def readParquet(paths: Seq[String], positions: Boolean): String =
    s"read_parquet([\n  ${paths.map(sqlString).mkString(",\n  ")}\n]" +
      (if (positions) ", filename=true, file_row_number=true)" else ")")

  /** The `(SELECT 1 … WHERE cond)` body of an export view's EXISTS or
    * NOT EXISTS clause over the parquet files `paths`, aliased `x`. */
  private def existsOver(paths: Seq[String], cond: String): String =
    s"(\n  SELECT 1 FROM ${readParquet(paths, positions = false)} x\n  WHERE $cond\n)"

  /** The position-sidecar rows of `sidecars` that mark the reader's row
    * `d` by (filename, file_row_number). The sidecars store Spark's
    * qualified `_metadata.file_path` (file:/… or file:///…) and the
    * reader's filename is the literal list entry, so both sides
    * canonicalize to scheme-less, single-leading-slash form. */
  private def posMatch(sidecars: Seq[String]): String = existsOver(sidecars,
    s"regexp_replace(regexp_replace(x.$PosPathCol, '^[a-zA-Z0-9+.-]+:', ''), '^/+', '/') = " +
      "regexp_replace(regexp_replace(d.filename, '^[a-zA-Z0-9+.-]+:', ''), '^/+', '/')\n" +
      s"    AND x.$PosIdxCol = d.file_row_number")

  /** Row-lineage columns (W73 — Iceberg v3 row tracking). In rewrite
    * OUTPUT files they are physical: `__graft_row_id` carries each
    * carried row's original stable id (NULL = a row INSERTED by the
    * rewrite — its id derives from the file's assigned base + position,
    * the Iceberg v3 null-means-assign rule), `__graft_last_seq` the
    * commit sequence that last changed the row (NULL = changed by THE
    * commit that wrote the file — it inherits the manifest's seq at
    * read). Plain append files carry neither; their rows decode entirely
    * from (manifest base + entry offset + row position, manifest seq).
    * Never part of any table schema; [[BranchCatalog.scanLineage]]
    * surfaces them as `_row_id` / `_last_updated_seq`. */
  val RowIdCol = "__graft_row_id"
  val LastSeqCol = "__graft_last_seq"

  /** TBLPROPERTIES key prefix for CHECK constraints: `graft.constraint.
    * <name> = <boolean SQL expression>` (see `constraintGuard`). */
  val ConstraintPrefix = "graft.constraint."

  /** TBLPROPERTIES key declaring the table's WRITE sort order (Iceberg
    * `WRITE ORDERED BY`): comma-separated columns every append sorts
    * WITHIN each write task before writing (`sortWithinPartitions` — a
    * local sort, no shuffle), so parquet row-group/page stats tighten on
    * the declared keys and stats pruning bites on freshly ingested data
    * instead of only after a sorted compaction. Advisory, not a global
    * order: [[Snapshot.sortOrder]] (the top-k contract) is still only
    * stamped by the compaction that can prove range disjointness. */
  val WriteOrderKey = "graft.write.sort-order"
  /** Schema of one position-delete sidecar file. */
  val posDeleteSchema: StructType = StructType(Seq(
    StructField(PosPathCol, StringType), StructField(PosIdxCol, LongType)))

  /** Schema of one manifest entry as serialized in the per-manifest JSON
    * (one compact JSON array per manifest file). The single source of
    * truth for every surface that serves manifest entries — the
    * distributed reader here and the SQL `t$files` metadata table
    * ([[graft.sql]]) must never drift apart. */
  val manifestEntrySchema: StructType = StructType(Seq(
    StructField("path", StringType), StructField("rows", LongType),
    StructField("lower", MapType(StringType, StringType)),
    StructField("upper", MapType(StringType, StringType)),
    StructField("nullCounts", MapType(StringType, LongType)),
    StructField("partition", MapType(StringType, StringType)),
    StructField("bytes", LongType),
    StructField("firstRowId", LongType)))

  /** Comparison for canonical stat strings ([[DataFileMeta.lower]]
    * rendering: numbers via toString, binary via UTF-8, booleans
    * "true"/"false") under a column's DECLARED type; None = a type whose
    * stats don't fold (decimal, binary, nested). Timestamps compare as
    * their stored long micros, dates as day numbers, strings in unsigned
    * UTF-8 byte order (parquet binary stats order = Spark string order).
    * Float/double fold numerically — exact-value consumers
    * ([[BranchCatalog.metaAggregate]]) must still refuse them (parquet
    * footer min/max ignore NaN, so the bound is not necessarily the
    * true extremum of a NaN-bearing file). */
  private[graft] def statOrder(dt: DataType): Option[(String, String) => Int] = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         TimestampType | TimestampNTZType | DateType =>
      Some((a, b) => java.lang.Long.compare(a.toLong, b.toLong))
    case FloatType | DoubleType =>
      Some((a, b) => java.lang.Double.compare(a.toDouble, b.toDouble))
    case StringType =>
      Some((a, b) => org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)))
    case BooleanType =>
      Some((a, b) => java.lang.Boolean.compare(a == "true", b == "true"))
    case _ => None
  }

  /** Types whose parquet footer min/max are EXACT values of the data
    * (written by graft's own Spark parquet writes, which do not truncate
    * footer statistics) — the ones metadata-only MIN/MAX may serve.
    * Float/double are excluded: footer bounds ignore NaN, which Spark
    * orders above every value, so a NaN-bearing file's true max is not
    * its stats max. */
  private[graft] def exactStatType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | StringType | BooleanType => true
    case _ => false
  }

  /** Canonical stat string -> Catalyst-internal value under the column's
    * declared type (strings as UTF8String, timestamps as micros, dates
    * as day numbers). Callers guard with [[exactStatType]]. */
  private[graft] def statInternal(dt: DataType, s: String): Any = dt match {
    case ByteType => s.toLong.toByte
    case ShortType => s.toLong.toShort
    case IntegerType => s.toLong.toInt
    case LongType => s.toLong
    case DateType => s.toInt
    case TimestampType | TimestampNTZType => s.toLong
    case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case BooleanType => s == "true"
    case other => sys.error(s"no internal stat representation for $other")
  }

  /** JVM-wide bloom sidecar cache, shared by the driver tier
    * ([[BranchCatalog.BloomProbe]]) and distributed-planning executors.
    * Manifests are immutable, so PRESENT sidecars (and positive
    * existence answers) cache forever; ABSENT answers expire after 60 s
    * because an index may be built after the first miss — without the
    * TTL a long-lived executor would never consult a later-built index,
    * and an un-indexed table would pay per-scan existence checks
    * forever. Missing sidecars, files absent from a loaded map, and
    * empty maps all answer "might match". */
  private[wap] object BloomSidecarCache {
    private val negativeTtlMs = 60000L
    /** Cache-entry budget: sidecar maps are KBs-to-MBs, and the working
      * set is one snapshot's manifests — past the cap the cache clears
      * whole (correctness unaffected, next probes re-read). Bounds
      * driver memory across manifest churn (compaction mints new
      * sidecars; expired ones would otherwise stay pinned forever). */
    private val maxLoadEntries = 256
    /** value: (loadedAtMillis, None = sidecar absent (TTL-expiring) |
      * Some(map) = present, cached forever — possibly EMPTY for an
      * empty manifest's sidecar, which is still a permanent answer). */
    private val loadCache = new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Option[Map[String, org.apache.spark.util.sketch.BloomFilter]])]()
    private val existsCache = new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Boolean)]()

    /** Sidecar format marker: a reserved JSON key (no data-file key can
      * collide with it). Sidecars without the current version decline to
      * prune rather than prune wrongly: pre-marker ones may render
      * timestamps in the session time zone, and "1-utc" ones key filters
      * by file NAME, which repeats across a partitioned write's value
      * directories. */
    private val formatKey = "__graft_bloom_format"
    private[wap] val formatVersion = "2-path"

    private[wap] def sidecarFor(manifestPath: String, column: String): Path = {
      val mp = new Path(manifestPath)
      new Path(mp.getParent, s"bloom-${mp.getName.stripSuffix(".json")}-$column.json")
    }

    /** A data file's filter key ([[keyOf]]): its path under the table's
      * data directory (`tables/<t>/data/`, beside the manifest's
      * `meta/`), or its whole scheme-less path when it lives elsewhere.
      * `filePath` is a Hadoop path string, as manifests record it. */
    private[wap] def keyOf(manifestPath: String, filePath: String): String = {
      val file = new Path(filePath).toUri.getPath
      val dataDir =
        new Path(new Path(manifestPath).getParent.getParent, "data").toUri.getPath + "/"
      if (file.startsWith(dataDir)) file.substring(dataDir.length) else file
    }

    /** The ONE place the sidecar wire format (JSON of file key -> base64
      * bloom bytes + the format marker) is read — both tiers and
      * [[BranchCatalog.buildBloomIndex]] go through it: the entries, or
      * None for a sidecar without the current format marker. */
    private[wap] def entriesOf(body: String): Option[Map[String, String]] = {
      implicit val fmts: Formats = DefaultFormats
      val raw = Serialization.read[Map[String, String]](body)
      if (raw.get(formatKey).contains(formatVersion)) Some(raw - formatKey) else None
    }

    private def parse(body: String): Map[String, org.apache.spark.util.sketch.BloomFilter] =
      entriesOf(body).getOrElse(Map.empty).map { case (k, v) =>
        k -> org.apache.spark.util.sketch.BloomFilter.readFrom(
          java.util.Base64.getDecoder.decode(v))
      }

    /** Write `column`'s current-format sidecar for one manifest and drop
      * its cached answers, so the writing JVM sees it at once. */
    private[wap] def write(fs: FileSystem, manifestPath: String, column: String,
        entries: Map[String, String]): Unit = {
      implicit val fmts: Formats = DefaultFormats
      val p = sidecarFor(manifestPath, column)
      fs.mkdirs(p.getParent)
      val out = fs.create(p, true)
      try out.write(Serialization.write(entries + (formatKey -> formatVersion))
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
      invalidate(manifestPath, column)
    }

    /** Drop cached answers for one sidecar — [[write]] calls this after
      * writing, so the building JVM sees its own index immediately
      * instead of waiting out a cached negative's TTL. */
    def invalidate(manifestPath: String, column: String): Unit = {
      val key = sidecarFor(manifestPath, column).toString
      loadCache.remove(key)
      existsCache.remove(key)
      ()
    }

    /** Existence only — never loads sidecar bytes (the driver's
      * distributed-planning sweep must not aggregate them). */
    def exists(conf: org.apache.hadoop.conf.Configuration,
        manifestPath: String, column: String): Boolean = {
      val sidecar = sidecarFor(manifestPath, column)
      val now = System.currentTimeMillis()
      val cur = existsCache.get(sidecar.toString)
      if (cur != null && (cur._2 || now - cur._1 < negativeTtlMs)) cur._2
      else {
        val fresh = (now, sidecar.getFileSystem(conf).exists(sidecar))
        existsCache.put(sidecar.toString, fresh)
        fresh._2
      }
    }

    def load(conf: org.apache.hadoop.conf.Configuration,
        manifestPath: String, column: String)
        : Map[String, org.apache.spark.util.sketch.BloomFilter] = {
      val sidecar = sidecarFor(manifestPath, column)
      if (loadCache.size > maxLoadEntries) loadCache.clear()
      // compute (not get/put): SINGLE-FLIGHT — 32 first-probe tasks on
      // one executor read and parse the sidecar once, not 32 times
      loadCache.compute(sidecar.toString, (_, cur) => {
        val now = System.currentTimeMillis()
        if (cur != null && (cur._2.isDefined || now - cur._1 < negativeTtlMs)) cur
        else {
          val sfs = sidecar.getFileSystem(conf)
          val blooms =
            if (!sfs.exists(sidecar)) None
            else {
              val in = sfs.open(sidecar)
              val body =
                try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                finally in.close()
              Some(parse(body))
            }
          (now, blooms)
        }
      })._2.getOrElse(Map.empty)
    }

    def mightContain(
        conf: org.apache.hadoop.conf.Configuration, manifestPath: String,
        column: String, filePath: String, value: String): Boolean = {
      val blooms = load(conf, manifestPath, column)
      blooms.isEmpty ||
        blooms.get(keyOf(manifestPath, filePath)).forall(_.mightContainString(value))
    }
  }
}
