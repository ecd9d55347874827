package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType

import graft.wap.BranchCatalog

/** Streaming offset: a committed snapshot of the table, plus an optional
  * position WITHIN the stream-start snapshot's file list while the
  * initial load is being delivered in chunks.
  *
  *  - `seq = -1` (sentinel): before anything — the next batch starts the
  *    initial load.
  *  - `idx >= 0`: the initial load over snapshot `snapshotId` has
  *    delivered its first `idx` files (path-sorted order) and is not
  *    done; the anchor snapshot stays FIXED until the load completes,
  *    however far the branch head advances meanwhile.
  *  - `idx = -1`: snapshot `snapshotId` fully delivered; later batches
  *    are per-commit file deltas.
  *
  * The sequence number orders offsets; the id resolves the snapshot. */
case class GraftStreamOffset(snapshotId: String, seq: Long, idx: Long = -1L) extends Offset {
  override def json(): String =
    s"""{"snapshotId":"$snapshotId","seq":$seq,"idx":$idx}"""
}

object GraftStreamOffset {
  val start: GraftStreamOffset = GraftStreamOffset("", -1L)
  def fromJson(json: String): GraftStreamOffset = {
    def field(name: String): Option[String] =
      (""""""" + name + """"\s*:\s*("([^"]*)"|-?\d+)""").r
        .findFirstMatchIn(json).map(m => Option(m.group(2)).getOrElse(m.group(1)))
    GraftStreamOffset(
      field("snapshotId").getOrElse(sys.error(s"bad graft offset: $json")),
      field("seq").map(_.toLong).getOrElse(sys.error(s"bad graft offset: $json")),
      field("idx").map(_.toLong).getOrElse(-1L))
  }
}

/** One micro-batch partition: a slice of the files one offset window
  * added. Plain paths+lengths — executors never touch catalog metadata. */
case class GraftFilesPartition(files: Seq[(String, Long)]) extends InputPartition

/** A bucket-keyed read partition for storage-partitioned joins (W45):
  * every file in it shares one bucket-transform value, exposed through
  * [[partitionKey]] so Spark's KeyGroupedPartitioning can co-locate
  * joins and aggregations on the bucket column without a shuffle. */
case class GraftKeyedFilesPartition(files: Seq[(String, Long)], bucket: Int)
  extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
}

/** One equality-delete group a MOR partition must anti-probe: key column
  * names plus the tombstone parquet files holding the deleted keys. `id`
  * keys the per-executor key-set cache AND the factory's delete read
  * funcs. */
case class GraftDeleteGroupSpec(
    id: String, keyCols: Seq[String], files: Seq[(String, Long)],
    /** Position-delete sidecar group: `files` hold `(__graft_path,
      * __graft_pos)` pairs and the reader suppresses rows by physical
      * (file, row-index) instead of key anti-probing. */
    positional: Boolean = false) extends Serializable

/** A batch-scan partition of a MOR coverage epoch: data files plus the
  * delete groups covering exactly THIS epoch (sequence semantics — a key
  * re-appended after its delete sits in a later epoch with fewer
  * covering groups, so it stays visible). */
case class GraftMorFilesPartition(
    files: Seq[(String, Long)], groups: Seq[GraftDeleteGroupSpec]) extends InputPartition

/** Structured Streaming source over a catalog table ("stream FROM the
  * lake" — the Delta/Iceberg streaming-read analogue, and the streaming
  * mirror of [[graft.wap.BranchCatalog.consumeIncremental]]):
  *
  * {{{
  *   spark.readStream
  *     .option("maxFilesPerTrigger", 64)       // optional admission control
  *     .table("lake.main.events_log")
  * }}}
  *
  * Per trigger the driver resolves the branch head (one refs + snapshot
  * read), plans the FILE diff against the last committed offset
  * (append-granular — exactly [[BranchCatalog.changedFilesBetween]]'s
  * semantics, including the MOR-tombstone refusal and the expired-start
  * error), and hands executors plain parquet file splits read through
  * Spark's own vectorized reader. Nothing unpublished is ever visible:
  * offsets are committed snapshots of ONE branch, so WAP isolation
  * extends to streaming readers for free. Exactly-once comes from the
  * deterministic offset -> file-set mapping (snapshots and manifests are
  * immutable).
  *
  * Admission control (`maxFilesPerTrigger`) is what makes a 100 TB
  * restart survivable: the INITIAL LOAD chunks through the stream-start
  * snapshot's path-sorted file list at most N files per batch (the
  * anchor stays fixed while the head advances), and steady-state
  * triggers deliver whole commits, stopping before the commit that would
  * exceed the budget (always at least one — a single oversized commit
  * still goes through, like the file-stream source). Estimation is
  * manifest-metadata only: no manifest JSON is read to pick an offset.
  * `Trigger.AvailableNow` pins the head at prepare time and drains up to
  * it in budgeted batches. */
class GraftMicroBatchStream(
    spark: SparkSession, root: String, branch: String, tableName: String,
    tableSchema: StructType, requiredSchema: StructType,
    maxFilesPerTrigger: Option[Int],
    /** Pushed INTO the per-file parquet readers (row-group/page
      * skipping) — a filtered stream reads only the row groups its
      * predicate admits. File sets per micro-batch stay commit-exact
      * (delta semantics); rows are re-checked by the residual filter. */
    pushed: Seq[org.apache.spark.sql.sources.Filter] = Nil)
  extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  protected def cat = new BranchCatalog(spark, root)

  /** Head pinned by Trigger.AvailableNow, else resolved per trigger. */
  @volatile protected var availableNowHead: Option[GraftStreamOffset] = None

  /** The initial-load anchor's path-sorted file list, resolved once per
    * stream lifetime (manifests are immutable, so this never goes
    * stale). */
  protected val anchorFiles =
    scala.collection.concurrent.TrieMap.empty[String, IndexedSeq[(String, Long)]]

  protected def resolveHead(): GraftStreamOffset = {
    val id = cat.snapshotIdOf(tableName, branch)
      .getOrElse(sys.error(s"no table $tableName on $branch"))
    GraftStreamOffset(id, cat.seqOfSnapshot(tableName, id))
  }

  protected def initialFiles(snapshotId: String): IndexedSeq[(String, Long)] =
    anchorFiles.getOrElseUpdate(snapshotId,
      cat.changedFilesBetween(tableName, None, snapshotId)
        .map(f => f.path -> f.bytes).sortBy(_._1).toIndexedSeq)

  override def initialOffset(): Offset = GraftStreamOffset.start

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowHead = Some(resolveHead())

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    sys.error("latestOffset(start, limit) should be called (SupportsAdmissionControl)")

  override def reportLatestOffset(): Offset = resolveHead()

  protected def fileBudget(limit: ReadLimit): Option[Int] = limit match {
    case f: ReadMaxFiles => Some(f.maxFiles())
    case _: ReadAllAvailable => None
    case c: CompositeReadLimit =>
      c.getReadLimits.collectFirst { case f: ReadMaxFiles => f.maxFiles() }
    case _ => None
  }

  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val start = startOffset.asInstanceOf[GraftStreamOffset]
    val head = availableNowHead.getOrElse(resolveHead())
    val budget = fileBudget(limit)
    start match {
      case s if s.seq < 0 => // begin the initial load over the current head
        budget match {
          case Some(n) if initialFiles(head.snapshotId).length > n =>
            head.copy(idx = n.toLong)
          case _ => head
        }
      case s if s.idx >= 0 => // continue the initial load over its anchor
        val total = initialFiles(s.snapshotId).length.toLong
        val next = budget.map(n => s.idx + n).getOrElse(total)
        if (next >= total) s.copy(idx = -1L) else s.copy(idx = next)
      case s if s.snapshotId == head.snapshotId => s // nothing new
      case s => // steady state: whole commits up to the file budget
        requireInAncestry(s, head)
        budget match {
          case None => head
          case Some(n) =>
            // parent-chain walk head -> s (newest first, excluding s);
            // per-commit file counts come from manifest REFS — no
            // manifest JSON is read to pick an offset
            val chain = Iterator.iterate(cat.snapshotMetaOpt(tableName, head.snapshotId)) {
              case Some(snap) => snap.parentId.flatMap(cat.snapshotMetaOpt(tableName, _))
              case None => None
            }.takeWhile(_.isDefined).flatten
              .takeWhile(_.id != s.snapshotId).toVector.reverse // oldest first
            var prevManifests = cat.snapshotMetaOpt(tableName, s.snapshotId)
              .map(_.manifests.map(m => m.path -> m.fileCount).toMap)
              .getOrElse(Map.empty[String, Long])
            var cum = 0L
            var chosen = s
            var stop = false
            for (snap <- chain if !stop) {
              val cur = snap.manifests.map(m => m.path -> m.fileCount).toMap
              cum += cur.collect { case (p, c) if !prevManifests.contains(p) => c }.sum
              prevManifests = cur
              if (chosen == s || cum <= n) // always deliver at least one commit
                chosen = GraftStreamOffset(snap.id, snap.seq)
              else stop = true
            }
            chosen
        }
    }
  }

  /** A committed offset must sit in the head's ancestry: after a
    * `rollbackTo` (or any branch rewrite) under a live checkpoint the
    * manifest set-diff would silently deliver a partial — or even
    * regressed — window, so fail LOUDLY instead. The walk is bounded by
    * the monotone snapshot sequence (ancestors older than the offset
    * cannot contain it). */
  protected def requireInAncestry(s: GraftStreamOffset, head: GraftStreamOffset): Unit = {
    val found = Iterator.iterate(cat.snapshotMetaOpt(tableName, head.snapshotId)) {
      case Some(snap) => snap.parentId.flatMap(cat.snapshotMetaOpt(tableName, _))
      case None => None
    }.takeWhile(_.isDefined).flatten
      .takeWhile(_.seq >= s.seq)
      .exists(_.id == s.snapshotId)
    if (!found)
      sys.error(s"stream offset ${s.snapshotId} is no longer in the ancestry " +
        s"of $branch.$tableName's head ${head.snapshotId}: the branch was " +
        "rewritten or rolled back — restart the stream from a fresh checkpoint")
  }

  override def deserializeOffset(json: String): Offset = GraftStreamOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset]
    val e = end.asInstanceOf[GraftStreamOffset]
    if (s == e) return Array.empty
    val files: Seq[(String, Long)] =
      if (e.idx >= 0 || (s.idx >= 0 && s.snapshotId == e.snapshotId)) {
        // a slice of the initial-load anchor's ordered file list
        val all = initialFiles(e.snapshotId)
        val from = if (s.seq < 0 || s.idx < 0) 0 else s.idx.toInt
        val until = if (e.idx < 0) all.length else e.idx.toInt
        all.slice(from, until)
      } else {
        cat.changedFilesBetween(tableName,
          if (s.seq < 0) None else Some(s.snapshotId), e.snapshotId)
          .map(f => f.path -> f.bytes)
      }
    GraftPartitions.binPack(spark, files)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(spark, tableSchema, requiredSchema, pushed)

  /** Checkpoint state lives with Spark; the only driver state to drop is
    * the initial-load anchor's cached file list — once the batch ending
    * at `idx = -1` is COMMITTED the load never replays, so the entry
    * (O(table files) of paths on exactly the 100 TB workload this source
    * targets) must not stay pinned for the stream's lifetime. A
    * steady-state offset's id is never a cache key — the remove is a
    * no-op there. */
  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[GraftStreamOffset]
    if (e.idx < 0) { anchorFiles.remove(e.snapshotId); () }
  }
  override def stop(): Unit = ()
  override def toString: String = s"GraftMicroBatchStream($branch.$tableName @ $root)"
}

/** Bin-packing of catalog files into read partitions, shared by the
  * micro-batch stream and the native batch scan. */
private[sql] object GraftPartitions {

  /** Pack `files` into partitions by byte size: one task per FILE would
    * launch millions of tiny tasks on a 100 TB table. The split budget is
    * Spark's own `FilePartition.maxSplitBytes` (maxPartitionBytes, shrunk
    * to total bytes over the default parallelism so a small table still
    * spreads over every core) and the packing rule is
    * `FilePartition.getFilePartitions`' (a partition closes when the next
    * file's bytes would overflow it; each file also costs the open cost),
    * so a catalog read plans as many tasks as a `spark.read.parquet` of
    * the same files. Files are never split, and order is preserved. A
    * recorded size of 0 (pre-r8 metadata) falls back to one
    * getFileStatus call. */
  def binPack(spark: SparkSession, files: Seq[(String, Long)]): Array[InputPartition] =
    packs(spark, Seq(files)).head.map(GraftFilesPartition(_): InputPartition).toArray

  /** The size-packed file groups of each of `groups`, for scans whose
    * partitions must not mix groups (MOR coverage epochs, the CDC
    * stream's per-commit deletes and inserts). The budget is sized ONCE
    * over the bytes of every group, so each group packs against the
    * split size a `spark.read.parquet` of all the files would use; a
    * group only adds the partition its own boundary cuts. */
  def packs(spark: SparkSession, groups: Seq[Seq[(String, Long)]]): Seq[Seq[Seq[(String, Long)]]] = {
    val openCost = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.filesOpenCostInBytes
    val sized = groups.map(_.map { case (path, bytes) =>
      path -> (if (bytes > 0) bytes else fileLength(spark, path))
    })
    val maxBytes = org.apache.spark.sql.execution.datasources.FilePartition
      .maxSplitBytes(spark, sized.flatten.map(_._2 + openCost).sum)
    sized.map { files =>
      val bins = Vector.newBuilder[Seq[(String, Long)]]
      var bin = Vector.newBuilder[(String, Long)]
      var binBytes = 0L
      var binEmpty = true
      for ((path, len) <- files) {
        if (!binEmpty && binBytes + len > maxBytes) {
          bins += bin.result()
          bin = Vector.newBuilder[(String, Long)]; binBytes = 0L; binEmpty = true
        }
        bin += (path -> len); binBytes += len + openCost; binEmpty = false
      }
      if (!binEmpty) bins += bin.result()
      bins.result()
    }
  }

  private def fileLength(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
  }
}

private[sql] class GraftReaderFactory(
    /** Right: partitions are read COLUMNAR — whole vectorized batches
      * cross the DSv2 boundary and Spark's codegen'd ColumnarToRow takes
      * over, no per-row iteration on this side. Left: rows, when the read
      * schema cannot batch (nested types). */
    read: Either[PartitionedFile => Iterator[InternalRow],
      PartitionedFile => Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]])
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = read.isRight

  private def filesOf(partition: InputPartition): Seq[(String, Long)] =
    partition match {
      case GraftFilesPartition(fs) => fs
      case GraftKeyedFilesPartition(fs, _) => fs
      case other => sys.error(s"unexpected partition shape $other")
    }

  override def createColumnarReader(partition: InputPartition): PartitionReader[
      org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val f = read.toOption.get
    GraftReaderFactory.reader(filesOf(partition).iterator.flatMap { case (path, len) =>
      f(Bridge.partitionedFile(path, len))
    })
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val f = read.swap.toOption.get
    GraftReaderFactory.reader(filesOf(partition).iterator.flatMap { case (path, len) =>
      Bridge.flattenBatches(f(Bridge.partitionedFile(path, len)))
    })
  }
}

private[sql] object GraftReaderFactory {
  /** Columnar when the read schema batches, else rows. Spark uses one
    * reader per scan, and building one broadcasts the hadoop conf, so
    * only that one is built. */
  def apply(spark: SparkSession, dataSchema: StructType, required: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter]): GraftReaderFactory =
    new GraftReaderFactory(Bridge.parquetBatchReadFunc(spark, dataSchema, required, filters)
      .toRight(Bridge.parquetReadFunc(spark, dataSchema, required, filters)))

  def reader[T](it: Iterator[T]): PartitionReader[T] =
    new PartitionReader[T] {
      private var current: T = _
      override def next(): Boolean = { val has = it.hasNext; if (has) current = it.next(); has }
      override def get(): T = current
      override def close(): Unit = ()
    }
}

/** The MOR batch-scan reader: vectorized parquet read of the data files
  * (same executor-side reader as [[GraftReaderFactory]] — no V1 RDD[Row]
  * boundary), then a hash anti-probe of each covering delete group, then
  * a projection from the widened read schema down to Spark's required
  * columns. The per-group key sets are built ONCE PER EXECUTOR from the
  * tombstone parquet files ([[GraftDeleteSets]] — the broadcast-hash-join
  * shape without a driver collect; [[graft.wap.BranchCatalog
  * .maxPendingTombstones]] + compaction cadence bound their size). */
private[sql] class GraftMorReaderFactory(
    /** reads `readAll` (required + any missing delete-key columns). */
    morReadFunc: PartitionedFile => Iterator[InternalRow],
    /** reads `required` directly — tombstone-free epochs pay nothing. */
    plainReadFunc: PartitionedFile => Iterator[InternalRow],
    readAll: StructType, required: StructType,
    /** per [[GraftDeleteGroupSpec.id]]: reads THE KEY COLUMNS (in
      * keyCols order) from that group's tombstone files. For a
      * POSITIONAL group that is `(__graft_path, __graft_pos)` — the
      * sidecar's own schema. */
    delReadFuncs: Map[String, PartitionedFile => Iterator[InternalRow]],
    /** reads `readAll` with NO reader-level filters: a file covered by
      * position deletes must deliver EVERY row so the sequential row
      * counter equals the recorded `_metadata.row_index` (row-group/
      * page skipping would shift it). Spark re-applies all filters
      * above the scan, so this is a per-file efficiency trade, not a
      * correctness one — and compaction materializes the sidecars,
      * restoring reader pushdown. */
    morReadFuncUnfiltered: PartitionedFile => Iterator[InternalRow],
    /** the scan's delete groups, for the executor's set cache. */
    plan: GraftDeleteSets.Plan)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val (files, groups) = partition match {
      case GraftMorFilesPartition(fs, gs) => (fs, gs)
      case GraftFilesPartition(fs) => (fs, Nil)
    }
    if (groups.isEmpty)
      return GraftReaderFactory.reader(files.iterator.flatMap { case (p, l) =>
        Bridge.flattenBatches(plainReadFunc(Bridge.partitionedFile(p, l)))
      })

    val (posGroups, eqGroups) = groups.partition(_.positional)
    val probes: Seq[(Array[Int], Array[org.apache.spark.sql.types.DataType], Set[Seq[Any]])] =
      eqGroups.map { g =>
        val ords = g.keyCols.map(c => readAll.fieldIndex(c)).toArray
        val types = ords.map(readAll(_).dataType)
        val keySet = GraftDeleteSets.get(plan, g, delReadFuncs(g.id), types)
        (ords, types, keySet)
      }
    // one per positional group: normalized data-file path -> deleted
    // row indexes (built once per executor, shared across tasks)
    val posMaps: Seq[Map[String, java.util.HashSet[java.lang.Long]]] =
      posGroups.map(g => GraftDeleteSets.positions(plan, g, delReadFuncs(g.id)))
    val project = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      required.fieldNames.map { c =>
        val i = readAll.fieldIndex(c)
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          i, readAll(i).dataType, nullable = true)
      }.toIndexedSeq)
    val rows = files.iterator.flatMap { case (p, l) =>
      val dels = posMaps.flatMap(_.get(GraftDeleteSets.normPath(p)))
      if (dels.isEmpty) {
        // no positions recorded against THIS file: the filtered reader
        // (row-group skipping intact) + key probes suffice
        Bridge.flattenBatches(morReadFunc(Bridge.partitionedFile(p, l))).filter { row =>
          probes.forall { case (ords, types, keys) =>
            !keys.contains(GraftDeleteSets.keyOf(row, ords, types))
          }
        }
      } else {
        var idx = -1L
        Bridge.flattenBatches(morReadFuncUnfiltered(Bridge.partitionedFile(p, l)))
          .filter { row =>
            idx += 1
            !dels.exists(_.contains(idx)) &&
              probes.forall { case (ords, types, keys) =>
                !keys.contains(GraftDeleteSets.keyOf(row, ords, types))
              }
          }
      }
    }.map(project)
    GraftReaderFactory.reader(rows)
  }
}

/** Executor-global cache of MOR delete sets: equality key sets and
  * position maps, keyed by delete-group id, built once per group per JVM
  * and shared by every task that reads the group. What it holds is bound
  * by what each scope's newest plan names ([[GraftDeleteSets.Plan]]): a
  * group id is its tombstone file list, so every new tombstone gives
  * every older epoch a new id, and without the bound a session reading a
  * table under a CDC stream would keep one dead set per epoch per read.
  * A restarted executor starts empty. */
private[sql] object GraftDeleteSets {
  /** The delete groups one read names: `scope` is one reader of one
    * table@branch, `seq` orders the scope's plans (higher is newer) and
    * `ids` are the group ids the read may ask for. A newer plan drops the
    * scope's sets it does not name; an older plan still reading (a time-
    * travel scan, a late task) adds the groups it asks for, until the
    * next newer plan. */
  final case class Plan(scope: String, seq: Long, ids: Set[String])

  private val planCount = new java.util.concurrent.atomic.AtomicLong

  /** A plan newer than every plan made before it in this JVM. */
  def newPlan(scope: String, ids: Iterable[String]): Plan =
    Plan(scope, planCount.incrementAndGet(), ids.toSet)

  /** One build per group: the first task to ask stores the holder under
    * the lock, and every task forces the same `value` outside it. */
  private final class Holder[V](build: => V) { lazy val value: V = build }

  private val scopes = scala.collection.mutable.HashMap.empty[String, Plan]
  private val keySets = scala.collection.mutable.HashMap.empty[String, Holder[Set[Seq[Any]]]]
  private val posMaps = scala.collection.mutable.HashMap
    .empty[String, Holder[Map[String, java.util.HashSet[java.lang.Long]]]]

  /** The group ids with a cached set. */
  private[sql] def cachedIds: Set[String] = synchronized(keySets.keySet.toSet ++ posMaps.keySet)

  private def held[V](plan: Plan, id: String,
      m: scala.collection.mutable.HashMap[String, Holder[V]])(build: => V): V =
    synchronized {
      require(plan.ids(id), s"delete group $id is not named by its plan")
      scopes.get(plan.scope) match {
        case Some(cur) if plan.seq < cur.seq =>
          if (!cur.ids(id)) scopes(plan.scope) = cur.copy(ids = cur.ids + id)
        case Some(cur) if plan.seq == cur.seq =>
        case prev =>
          scopes(plan.scope) = plan
          val live = scopes.valuesIterator.flatMap(_.ids).toSet
          prev.foreach(_.ids.filterNot(live).foreach { g => keySets.remove(g); posMaps.remove(g) })
      }
      m.getOrElseUpdate(id, new Holder(build))
    }.value

  /** Scheme-insensitive path identity: manifests record "file:/x" style
    * qualified paths while Spark's `_metadata.file_path` renders
    * "file:///x" — both normalize to the bare URI path, which is unique
    * within one table's filesystem. */
  def normPath(s: String): String = new org.apache.hadoop.fs.Path(s).toUri.getPath

  /** Position-delete sidecar build: normalized data-file path -> deleted
    * row indexes, once per executor per group while `plan`'s scope names
    * it. `readFunc` reads the sidecar schema in keyCols order:
    * (__graft_path, __graft_pos). */
  def positions(plan: Plan, g: GraftDeleteGroupSpec,
      readFunc: PartitionedFile => Iterator[InternalRow])
      : Map[String, java.util.HashSet[java.lang.Long]] =
    held(plan, g.id, posMaps) {
      val m = scala.collection.mutable.HashMap
        .empty[String, java.util.HashSet[java.lang.Long]]
      g.files.foreach { case (p, l) =>
        Bridge.flattenBatches(readFunc(Bridge.partitionedFile(p, l))).foreach { row =>
          m.getOrElseUpdate(normPath(row.getUTF8String(0).toString),
            new java.util.HashSet[java.lang.Long]).add(row.getLong(1))
        }
      }
      m.toMap
    }

  /** Equality key-set build, once per executor per group while `plan`'s
    * scope names it. */
  def get(plan: Plan, g: GraftDeleteGroupSpec,
      readFunc: PartitionedFile => Iterator[InternalRow],
      keyTypes: Array[org.apache.spark.sql.types.DataType]): Set[Seq[Any]] =
    held(plan, g.id, keySets) {
      val ords = Array.range(0, keyTypes.length) // delete read = key schema
      val b = Set.newBuilder[Seq[Any]]
      g.files.foreach { case (p, l) =>
        Bridge.flattenBatches(readFunc(Bridge.partitionedFile(p, l)))
          .foreach(row => b += keyOf(row, ords, keyTypes))
      }
      b.result()
    }

  /** One probe/build key: values normalized to immutable JVM objects
    * (the vectorized reader REUSES its row and UTF8String buffers — a
    * stored reference would mutate under the iterator). Null-safe by
    * construction: null elements compare equal inside Seq, matching the
    * `<=>` anti-join of the DataFrame MOR scan. */
  def keyOf(row: InternalRow, ords: Array[Int],
      types: Array[org.apache.spark.sql.types.DataType]): Seq[Any] = {
    val out = new Array[Any](ords.length)
    var i = 0
    while (i < ords.length) {
      out(i) = if (row.isNullAt(ords(i))) null else normalize(row.get(ords(i), types(i)))
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** Immutable + width-normalized: integrals to Long, floats to Double
    * (a delete key written as INT before a widening evolution must still
    * match a LONG probe), UTF8String copied out of the reused buffer. */
  private def normalize(v: Any): Any = v match {
    case u: org.apache.spark.unsafe.types.UTF8String => u.toString
    case i: java.lang.Integer => i.longValue()
    case s: java.lang.Short => s.longValue()
    case b: java.lang.Byte => b.longValue()
    case f: java.lang.Float => f.doubleValue()
    case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
    case b: Array[Byte] => b.toSeq
    case other => other
  }
}
