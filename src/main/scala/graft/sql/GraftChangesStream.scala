package graft.sql

import java.util

import scala.collection.JavaConverters._

import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.wap.{BranchCatalog, ManifestRef, Snapshot, SnapshotOp}

/** W63 — CHANGE DATA CAPTURE reads: `t$changes` (the Delta CDF /
  * Iceberg changelog-table analogue, suffix-addressed like the W39
  * metadata tables). Schema = the base table's columns plus
  * `_change_type` (insert/delete), `_commit_seq`, `_commit_snapshot_id`.
  *
  * BATCH — the net row-level changelog of an explicit snapshot window
  * ([[BranchCatalog.scanChangelog]], W62):
  * {{{
  *   spark.read.option("graft.changes.from", id1)
  *     .option("graft.changes.to", id2)          // default: pinned head
  *     .table("lake.main.`docs$changes`")
  * }}}
  *
  * STREAMING — a continuous CDC feed, per COMMIT, exactly-once:
  * {{{
  *   spark.readStream
  *     .option("graft.changes.initial", "snapshot") // optional backfill
  *     .option("maxFilesPerTrigger", 64)            // admission control
  *     .table("lake.main.`docs$changes`")
  * }}}
  * See [[GraftCdcMicroBatchStream]] for the per-commit semantics.
  *
  * WRITES — the table is also the APPLY surface (W64): writing a change
  * feed into `t$changes` with `graft.cdc.keys` applies it atomically per
  * batch/epoch through [[graft.wap.BranchCatalog.applyCdcMOR]] — so
  * lake-to-lake replication is one line of plumbing:
  * {{{
  *   spark.readStream.table("src.main.`docs$changes`")
  *     .writeStream.option("graft.cdc.keys", "doc_id")
  *     .option("checkpointLocation", …)
  *     .toTable("dst.main.`docs$changes`")           // exactly-once
  * }}}
  * The usual write guards hold: main refuses raw applies unless the
  * catalog opts in (`write.main=true`) — `graft.wap` + `graft.checks`
  * audit-then-apply instead ([[graft.wap.Wap.runApplyCdc]]). */
case class GraftChangesTable(base: GraftTable) extends Table
  with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {

  private def root: String = base.root
  private def branch: String = base.branch
  private def baseTable: String = base.tableName
  private def snapshotId: String = base.snapshotId
  private def baseSchema: StructType = base.tableSchema

  override def name(): String = s"$branch.$baseTable$$changes"
  override def schema(): StructType = GraftChangesTable.withVirtual(baseSchema)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      // a CDC feed's shape is the SOURCE's, not this replica's: feeds may
      // omit the virtual columns (whole-batch-is-one-transaction rule) and
      // — under graft.cdc.evolve — carry columns the replica does not have
      // yet, so Spark's by-name output resolution must not pre-refuse;
      // applyCdcMOR's own alignment validates loudly instead
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def properties(): util.Map[String, String] =
    Map("root" -> root, "branch" -> branch, "snapshot" -> snapshotId).asJava

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(!base.isTag, s"$name is pinned to a tag — CDC applies need a branch")
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          private def keysOf: Seq[String] =
            Option(info.options().get("graft.cdc.keys")).toSeq
              .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty) match {
              case Nil => throw new IllegalArgumentException(
                s"writing $name applies a CDC feed by key — set " +
                  ".option(\"graft.cdc.keys\", \"<col>[,<col>…]\")")
              case ks => ks
            }
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: DataFrame, overwrite: Boolean): Unit = {
                require(branch != "main" || base.mainWritesAllowed,
                  s"raw CDC applies to $baseTable@main are disabled: main only " +
                    "changes through write-audit-publish — apply on a branch and " +
                    "publish, stream with graft.wap, or opt in with write.main=true")
                val evolve = Option(info.options().get("graft.cdc.evolve"))
                  .exists(_.trim.equalsIgnoreCase("true"))
                new BranchCatalog(data.sparkSession, root)
                  .applyCdcMOR(baseTable, data, keysOf, branch,
                    schemaEvolution = evolve)
                ()
              }
            }
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            keysOf // validate up front; GraftStreamingWrite re-reads the option
            new GraftStreamingWrite(base, info)
          }
        }
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      // column pruning reaches the per-file parquet readers: a feed
      // consumer projecting (key, _change_type) reads two columns of
      // each changed file, not the whole row (filters are NOT pushed —
      // the suppression paths count row indexes and must see every row)
      private var required: StructType = schema()
      override def pruneColumns(r: StructType): Unit = required = r
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = required

        /** Batch: the NET changelog of the requested window, tagged with
          * the window END as its commit (the net form has no per-commit
          * attribution — rows are endpoint-to-endpoint differences). */
        override def toV1TableScan[T <: BaseRelation with TableScan](
            ctx: SQLContext): T = {
          // endpoints by id, TAG name (release-to-release diffs), or
          // (Delta startingTimestamp analogue) by epoch-millis — instants
          // resolve to the LAST snapshot at/before
          def asOf(ms: Long): String = new BranchCatalog(SparkSession.active, root)
            .snapshotIdAsOf(baseTable, ms, branch)
          def byRef(s: String): String = new BranchCatalog(SparkSession.active, root)
            .listTags().find(_ == s)
            .flatMap(t => new BranchCatalog(SparkSession.active, root)
              .snapshotIdAtTag(baseTable, t)).getOrElse(s)
          val fromTs = Option(options.get("graft.changes.fromTimestamp")).map(_.toLong)
          val toTs = Option(options.get("graft.changes.toTimestamp")).map(_.toLong)
          require(Option(options.get("graft.changes.from")).isEmpty || fromTs.isEmpty,
            "graft.changes.from and graft.changes.fromTimestamp are alternative " +
              "window starts — pick one")
          require(Option(options.get("graft.changes.to")).isEmpty || toTs.isEmpty,
            "graft.changes.to and graft.changes.toTimestamp are alternative " +
              "window ends — pick one")
          val from = Option(options.get("graft.changes.from")).map(byRef)
            .orElse(fromTs.map(asOf)).getOrElse(
              throw new IllegalArgumentException(
                s"a batch read of $baseTable$$changes needs a window: set " +
                  "graft.changes.from[Timestamp] (+ optional graft.changes" +
                  ".to[Timestamp]) — for a continuous feed use readStream"))
          val to = Option(options.get("graft.changes.to")).map(byRef)
            .orElse(toTs.map(asOf)).getOrElse(snapshotId)
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = ctx
            override def schema: StructType = readSchema()
            override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
              val spark = ctx.sparkSession
              val cat = new BranchCatalog(spark, root)
              import org.apache.spark.sql.functions.{col, lit}
              cat.scanChangelog(baseTable, from, to)
                .withColumn("_commit_seq", lit(cat.seqOfSnapshot(baseTable, to)))
                .withColumn("_commit_snapshot_id", lit(to))
                .select(readSchema().fieldNames.map(col).toSeq: _*)
                .rdd
            }
          }.asInstanceOf[T]
        }

        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
          val spark = SparkSession.active
          val maxFiles = Option(options.get("maxFilesPerTrigger")).map(_.toInt)
          val initial = Option(options.get("graft.changes.initial")) match {
            case None | Some("none") => false
            case Some("snapshot") => true
            case Some(other) => throw new IllegalArgumentException(
              s"graft.changes.initial must be 'snapshot' or 'none', got '$other'")
          }
          // the Delta `startingVersion` / `startingTimestamp` analogues:
          // feed changes SINCE a known historical snapshot (a consumer
          // bootstrapped from a snapshot export resumes exactly there),
          // or since the last snapshot at/before an epoch-millis instant
          val byId = Option(options.get("graft.changes.startSnapshot"))
          val byTs = Option(options.get("graft.changes.startTimestamp")).map(_.toLong)
          require(byId.isEmpty || byTs.isEmpty,
            "graft.changes.startSnapshot and graft.changes.startTimestamp are " +
              "alternative starts — pick one")
          val startAt = byId.orElse(byTs.map(ms =>
            new BranchCatalog(spark, root).snapshotIdAsOf(baseTable, ms, branch)))
          require(startAt.isEmpty || !initial,
            "graft.changes.startSnapshot/startTimestamp replay commits SINCE a " +
              "snapshot; graft.changes.initial=snapshot backfills one — pick one start")
          new GraftCdcMicroBatchStream(spark, root, branch, baseTable,
            baseSchema, required, maxFiles, initial, startAt)
        }
      }
    }
}

object GraftChangesTable {
  val ChangeTypeCol = "_change_type"
  val CommitSeqCol = "_commit_seq"
  val CommitIdCol = "_commit_snapshot_id"
  val VirtualCols: Set[String] = Set(ChangeTypeCol, CommitSeqCol, CommitIdCol)

  def withVirtual(base: StructType): StructType = StructType(base.fields ++ Seq(
    StructField(ChangeTypeCol, StringType, nullable = false),
    StructField(CommitSeqCol, LongType, nullable = false),
    StructField(CommitIdCol, StringType, nullable = false)))
}

/** One CDC micro-batch partition: a size-packed group of data files whose
  * every row is one change of `changeType` at the named commit.
  * `priorPos` (delete partitions only) carries the PARENT snapshot's
  * pending position-delete sidecar groups: rows those sidecars suppressed
  * were already emitted as deletes at their OWN commit, so a later
  * rewrite/drop of the file must not re-emit them. */
case class GraftCdcFilesPartition(
    files: Seq[(String, Long)], changeType: String,
    commitSeq: Long, commitId: String,
    priorPos: Seq[GraftDeleteGroupSpec] = Nil) extends InputPartition

/** The rows a position-delete commit deleted: `sidecars` are the commit's
  * NEW sidecar parquet files (`__graft_path`, `__graft_pos`); the reader
  * resolves each marked data file ON THE EXECUTOR and emits exactly the
  * marked rows as deletes — the driver never reads sidecar contents, so
  * a 10M-row positional delete plans in O(sidecar files). */
case class GraftCdcSidecarPartition(
    sidecars: Seq[(String, Long)],
    commitSeq: Long, commitId: String) extends InputPartition

/** Streaming CDC source over a catalog table (the Delta CDF
  * `readChangeFeed` analogue): each micro-batch covers whole commits of
  * one branch (same snapshot-anchored offsets, admission control, and
  * ancestry checks as [[GraftMicroBatchStream]]) and emits ROW-LEVEL
  * changes, classified per commit by the r13 snapshot operation tag:
  *
  *  - CONTENT-NEUTRAL commits ([[SnapshotOp.contentNeutral]]: data/
  *    manifest/sidecar compaction, z-order, partition rewrite, tombstone
  *    conversion, schema- and layout-only changes) are SKIPPED — a 100 TB compaction is changelog-silent instead of a
  *    full-table delete+insert storm.
  *  - Appends emit their added files as `insert` rows.
  *  - Copy-on-write DML emits removed files as `delete` and added files
  *    as `insert` — the per-commit TRANSACTION form: a rewritten file's
  *    carried survivors appear as a delete+insert PAIR (multiset-exact;
  *    apply deletes before inserts, or feed a signed fold where pairs
  *    cancel arithmetically). Rows already suppressed by the parent's
  *    pending position sidecars are excluded from the delete side (they
  *    were emitted at their own commit).
  *  - Position-delete commits (`write.delete.mode=merge-on-read`) emit
  *    EXACTLY the deleted rows: metadata-dropped files whole, boundary
  *    rows via their sidecars — zero false pairs, O(changed files).
  *  - EQUALITY-tombstone commits refuse loudly: enumerating their
  *    deleted rows costs O(covered files); route CDC-readable deletes
  *    through position sidecars or copy-on-write.
  *  - Pre-r13 commits (no op tag) are conservatively treated as
  *    content-changing.
  *
  * `graft.changes.initial=snapshot` backfills the stream-start snapshot
  * as chunked `insert` batches (the inherited initial-load machinery)
  * before the per-commit feed; the default starts at the current head.
  * Offsets are committed snapshots, so WAP isolation and exactly-once
  * replay carry over unchanged from the plain streaming source. */
class GraftCdcMicroBatchStream(
    spark: SparkSession, root: String, branch: String, tableName: String,
    baseSchema: StructType,
    /** The PRUNED output schema (base columns ∩ projection, plus the
      * projected virtual columns, in output order) — per-file reads open
      * only the base columns it names. */
    requiredOut: StructType,
    maxFilesPerTrigger: Option[Int],
    initialSnapshot: Boolean,
    /** Feed changes SINCE this committed snapshot (exclusive) instead of
      * starting at the current head — must still be in the branch's
      * ancestry (the usual loud failure otherwise). */
    startSnapshot: Option[String] = None)
  extends GraftMicroBatchStream(spark, root, branch, tableName,
    baseSchema, baseSchema, maxFilesPerTrigger, Nil) {

  override def initialOffset(): Offset =
    startSnapshot match {
      case Some(id) =>
        val s = GraftStreamOffset(id, cat.seqOfSnapshot(tableName, id))
        requireInAncestry(s, resolveHead())
        s
      case None =>
        if (initialSnapshot) GraftStreamOffset.start else resolveHead()
    }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset]
    val e = end.asInstanceOf[GraftStreamOffset]
    if (s == e) return Array.empty
    if (s.seq < 0 || e.idx >= 0 || (s.idx >= 0 && s.snapshotId == e.snapshotId)) {
      // initial-load slice of the anchor snapshot, delivered as inserts
      val all = initialFiles(e.snapshotId) // refuses tombstoned anchors
      val from = if (s.seq < 0 || s.idx < 0) 0 else s.idx.toInt
      val until = if (e.idx < 0) all.length else e.idx.toInt
      val anchorSeq = cat.seqOfSnapshot(tableName, e.snapshotId)
      GraftPartitions.packs(spark, Seq(all.slice(from, until))).head
        .map(fs => GraftCdcFilesPartition(fs, "insert", anchorSeq, e.snapshotId)
          : InputPartition).toArray
    } else {
      requireInAncestry(s, e)
      // the commits of (s, e], oldest first — changes are planned and
      // attributed PER COMMIT (an intermediate file added then removed
      // within the window still emits its insert and its delete)
      val chain = Iterator.iterate(cat.snapshotMetaOpt(tableName, e.snapshotId)) {
        case Some(snap) => snap.parentId.flatMap(cat.snapshotMetaOpt(tableName, _))
        case None => None
      }.takeWhile(_.isDefined).flatten
        .takeWhile(_.id != s.snapshotId).toVector.reverse
      var parent = cat.snapshotMetaOpt(tableName, s.snapshotId).getOrElse(sys.error(
        s"CDC start snapshot ${s.snapshotId} of $tableName has been expired — " +
          "restart the stream from a fresh checkpoint"))
      val changes = Vector.newBuilder[CommitChanges]
      for (commit <- chain) {
        changes ++= commitChanges(parent, commit)
        parent = commit
      }
      val all = changes.result()
      // one split budget over the whole batch: each commit's deletes and
      // inserts pack apart, against the size the batch's files set
      val packed = GraftPartitions.packs(spark, all.flatMap(ch => Seq(ch.deleted, ch.inserted)))
      all.zipWithIndex.flatMap { case (ch, i) =>
        val c = ch.commit
        packed(2 * i).map(fs => GraftCdcFilesPartition(fs, "delete", c.seq, c.id, ch.priors)) ++
          packed(2 * i + 1).map(fs => GraftCdcFilesPartition(fs, "insert", c.seq, c.id)) ++
          // each NEW sidecar file plans as its own partition: the driver
          // knows only the sidecar list; marked data files resolve on
          // the executor
          ch.sidecars.map(f => GraftCdcSidecarPartition(Seq(f), c.seq, c.id))
      }.toArray
    }
  }

  /** ONE commit's changes, before packing: the data files it deleted
    * (with the parent's pending sidecar groups), the ones it inserted,
    * and its new position-delete sidecars. */
  private case class CommitChanges(
      commit: Snapshot, deleted: Seq[(String, Long)], priors: Seq[GraftDeleteGroupSpec],
      inserted: Seq[(String, Long)], sidecars: Seq[(String, Long)])

  /** The changes of ONE commit — see the class doc for the per-operation
    * classification; None when the commit is content-neutral. Metadata
    * cost is O(manifests touched by the commit): untouched manifests are
    * never read. */
  private def commitChanges(p: Snapshot, c: Snapshot): Option[CommitChanges] = {
    if (SnapshotOp.contentNeutral(c.op)) return None
    val pDel = p.deleteManifests
    val newDel = c.deleteManifests.filterNot(m => pDel.exists(_.path == m.path))
    require(newDel.forall(_.posDelete),
      s"commit ${c.id} (op=${c.op}) of $tableName adds EQUALITY tombstones, whose " +
        "deleted rows cost O(covered files) to enumerate — CDC-readable tables " +
        "should delete through position sidecars (ALTER TABLE ... SET " +
        "TBLPROPERTIES('write.delete.mode'='merge-on-read')) or copy-on-write")
    val diff = cat.windowDiff(p, c)
    val (deleted, inserted) = (diff.removed, diff.added)
    val priors =
      if (deleted.isEmpty) Nil
      else {
        require(pDel.forall(_.posDelete),
          s"commit ${c.id} of $tableName removes files while EQUALITY tombstones " +
            "were pending — their suppressed rows cannot be excluded from the " +
            "delete feed; materialize with compactDataFiles first")
        pDel.filter(_.posDelete).map(toGroup)
      }
    Some(CommitChanges(c, deleted.map(f => f.path -> f.bytes), priors,
      inserted.map(f => f.path -> f.bytes),
      newDel.flatMap(m => cat.readManifest(m.path)).map(f => f.path -> f.bytes)))
  }

  private def toGroup(m: ManifestRef): GraftDeleteGroupSpec =
    GraftDeleteGroupSpec(m.path, m.keyCols,
      cat.readManifest(m.path).map(f => f.path -> f.bytes), positional = true)

  override def createReaderFactory(): PartitionReaderFactory = {
    val sidecarSchema = StructType(Seq(
      StructField(BranchCatalog.PosPathCol, StringType),
      StructField(BranchCatalog.PosIdxCol, LongType)))
    val prunedData = StructType(requiredOut.fields.filterNot(f =>
      GraftChangesTable.VirtualCols.contains(f.name)))
    new GraftCdcReaderFactory(
      Bridge.parquetReadFunc(spark, baseSchema, prunedData, Nil),
      Bridge.parquetReadFunc(spark, sidecarSchema, sidecarSchema, Nil),
      prunedData, requiredOut, Bridge.sharedHadoopConf(spark),
      s"changes $root/$tableName@$branch")
  }

  override def toString: String = s"GraftCdcMicroBatchStream($branch.$tableName @ $root)"
}

/** Reads CDC partitions: the PRUNED base columns of each file, projected
  * to the required output order with the projected virtual columns
  * (`_change_type` / `_commit_seq` / `_commit_snapshot_id`) as
  * constants. Delete partitions suppress rows the parent's pending
  * sidecars had already deleted (sequential row-index counting — the
  * reader runs unfiltered, so indexes line up with the recorded
  * `_metadata.row_index` values); sidecar partitions emit exactly the
  * marked rows of each referenced data file. */
private[sql] class GraftCdcReaderFactory(
    dataReadFunc: PartitionedFile => Iterator[InternalRow],
    delReadFunc: PartitionedFile => Iterator[InternalRow],
    /** What `dataReadFunc` yields: the required BASE columns. */
    prunedData: StructType,
    /** The output schema: `prunedData`'s columns plus whichever virtual
      * columns the query projected, in output order. */
    requiredOut: StructType,
    conf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration],
    /** The stream's [[GraftDeleteSets.Plan]] scope. */
    scope: String)
  extends PartitionReaderFactory {

  private def projection(changeType: String, seq: Long, id: String): UnsafeProjection =
    UnsafeProjection.create(
      requiredOut.fields.map { f =>
        (f.name match {
          case GraftChangesTable.ChangeTypeCol =>
            Literal(UTF8String.fromString(changeType), StringType)
          case GraftChangesTable.CommitSeqCol => Literal(seq, LongType)
          case GraftChangesTable.CommitIdCol =>
            Literal(UTF8String.fromString(id), StringType)
          case name =>
            BoundReference(prunedData.fieldIndex(name),
              prunedData(name).dataType, nullable = true)
        }): org.apache.spark.sql.catalyst.expressions.Expression
      }.toIndexedSeq)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case GraftCdcFilesPartition(files, ct, seq, id, priors) =>
        // commit sequences order a stream's plans: a later commit's
        // priors replace an earlier one's
        val plan = GraftDeleteSets.Plan(scope, seq, priors.map(_.id).toSet)
        val priorMaps = priors.map(g => GraftDeleteSets.positions(plan, g, delReadFunc))
        val proj = projection(ct, seq, id)
        GraftReaderFactory.reader(files.iterator.flatMap { case (p, l) =>
          val suppressed = priorMaps.flatMap(_.get(GraftDeleteSets.normPath(p)))
          val rows = Bridge.flattenBatches(dataReadFunc(Bridge.partitionedFile(p, l)))
          if (suppressed.isEmpty) rows
          else {
            var idx = -1L
            rows.filter { _ => idx += 1; !suppressed.exists(_.contains(idx)) }
          }
        }.map(proj))
      case GraftCdcSidecarPartition(sidecars, seq, id) =>
        // original recorded path -> marked row indexes (the original
        // string opens the file; normalization is only for identity)
        val marked = new java.util.LinkedHashMap[String, java.util.HashSet[java.lang.Long]]()
        sidecars.foreach { case (p, l) =>
          Bridge.flattenBatches(delReadFunc(Bridge.partitionedFile(p, l))).foreach { row =>
            val orig = row.getUTF8String(0).toString
            var set = marked.get(orig)
            if (set == null) { set = new java.util.HashSet[java.lang.Long](); marked.put(orig, set) }
            set.add(row.getLong(1))
          }
        }
        val proj = projection("delete", seq, id)
        GraftReaderFactory.reader(marked.entrySet().iterator().asScala.flatMap { e =>
          val path = new org.apache.hadoop.fs.Path(e.getKey)
          val len = path.getFileSystem(conf.value.value).getFileStatus(path).getLen
          var idx = -1L
          Bridge.flattenBatches(dataReadFunc(Bridge.partitionedFile(e.getKey, len)))
            .filter { _ => idx += 1; e.getValue.contains(idx) }
        }.map(proj))
      case other => sys.error(s"unexpected CDC partition shape $other")
    }
}
