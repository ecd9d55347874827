package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge.
  *
  * Spark 4's `Column` wraps a `ColumnNode`, and the conversion helpers in
  * `org.apache.spark.sql.classic.ExpressionUtils` are `private[sql]`. This
  * object lives in the `org.apache.spark.sql` package so graft's native
  * Catalyst expressions (graft.functions.*) can be exposed as `Column`s —
  * the same access pattern Spark extension libraries use.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eager Column -> REAL catalyst tree. [[expression]] returns a lazy
    * `ColumnNodeExpression` wrapper whose children are `ColumnNode`s, so
    * catalyst `transform`s see a single opaque leaf; this converts the
    * node tree first (the same converter Dataset resolution uses) so the
    * caller can rewrite attributes before analysis. */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** V2 runtime-filter `Predicate` -> V1 `sources.Filter`, values
    * converted to external Scala types (`PredicateUtils` is
    * `private[sql]`). `BatchScanExec` delivers DPP runtime filters to
    * [[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]]
    * as V2 predicates (IN over the join key); graft's manifest pruner
    * speaks V1 filters. */
  def predicateToV1(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)

  /** Register a function builder on an EXISTING session's registry (the
    * runtime-equivalent of injecting through SparkSessionExtensions,
    * which only applies at session build time). */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** Spark's own executor-side parquet row reader, built on the driver
    * and serialized into [[org.apache.spark.sql.connector.read
    * .PartitionReaderFactory]] instances — the same `PartitionedFile =>
    * Iterator[InternalRow]` closure FileSourceScanExec ships (vectorized
    * reader, broadcast Hadoop conf). `buildReaderWithPartitionValues` is
    * `private[sql]`, hence this bridge. The returned iterator may smuggle
    * whole ColumnarBatches as InternalRow elements when the vectorized
    * reader decides to return batches — callers unwrap via
    * [[flattenBatches]]. */
  def parquetReadFunc(
      spark: org.apache.spark.sql.SparkSession,
      dataSchema: org.apache.spark.sql.types.StructType,
      requiredSchema: org.apache.spark.sql.types.StructType,
      /** Pushed down INTO the parquet reader: row-group stats skipping,
        * column-index page skipping, dictionary filtering — per FILE,
        * below graft's manifest-level pruning. Sound for scans only
        * (rows are re-checked by Spark's residual filter above); delete-
        * file readers must pass Seq.empty. Filters on columns a given
        * file lacks (schema evolution) are dropped per file by Spark's
        * ParquetFilters. */
      filters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .buildReaderWithPartitionValues(
        sparkSession = classic,
        dataSchema = dataSchema,
        partitionSchema = new org.apache.spark.sql.types.StructType(),
        requiredSchema = requiredSchema,
        filters = filters,
        // rows, never smuggled ColumnarBatches: the DSv2 PartitionReader
        // contract is one InternalRow per next()
        options = Map(
          org.apache.spark.sql.execution.datasources.FileFormat.OPTION_RETURNING_BATCH
            -> "false"),
        hadoopConf = classic.sessionState.newHadoopConfWithOptions(Map.empty))
  }

  /** COLUMNAR variant of [[parquetReadFunc]]: the same executor-side
    * vectorized reader asked to return whole ColumnarBatches, for a DSv2
    * `PartitionReader[ColumnarBatch]` — Spark then plans the scan
    * columnar and inserts a codegen'd ColumnarToRow above it, instead of
    * this side iterating rows out of each batch. None when the required
    * schema cannot be read vectorized-batched (nested types, or the
    * vectorized reader disabled) — callers fall back to the row func. */
  def parquetBatchReadFunc(
      spark: org.apache.spark.sql.SparkSession,
      dataSchema: org.apache.spark.sql.types.StructType,
      requiredSchema: org.apache.spark.sql.types.StructType,
      /** See [[parquetReadFunc]]: pushed into the reader for row-group /
        * page / dictionary skipping within each file. */
      filters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty)
      : Option[org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val fmt = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
    if (!fmt.supportBatch(classic, requiredSchema)) None
    else {
      val f = fmt.buildReaderWithPartitionValues(
        sparkSession = classic,
        dataSchema = dataSchema,
        partitionSchema = new org.apache.spark.sql.types.StructType(),
        requiredSchema = requiredSchema,
        filters = filters,
        options = Map(
          org.apache.spark.sql.execution.datasources.FileFormat.OPTION_RETURNING_BATCH
            -> "true"),
        hadoopConf = classic.sessionState.newHadoopConfWithOptions(Map.empty))
      // the iterator's element type is a lie when batches are returned
      // (same unchecked dance as [[flattenBatches]])
      Some(pf => f(pf).asInstanceOf[Iterator[AnyRef]].map {
        case b: org.apache.spark.sql.vectorized.ColumnarBatch => b
        case other => throw new IllegalStateException(
          s"vectorized reader returned ${other.getClass} despite batch mode")
      })
    }
  }

  /** Executor-side parquet writer factory: Spark's own parquet
    * `OutputWriter` (ParquetFileFormat.prepareWrite is `private[sql]`,
    * hence this bridge), serializable for shipping to write tasks — the
    * streaming sink's staged files and every catalog data file. This is
    * the writer FileFormatWriter tasks use: proper footers, the session
    * codec, field ids. `prepareWrite` runs against an EMPTY conf, so the
    * factory carries only the few entries it sets for this write (the
    * row schema, codec, timestamp flags); the session conf itself
    * travels once, as [[sharedHadoopConf]]. */
  def parquetStageWriterFactory(
      spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType): ParquetStageWriterFactory = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      new org.apache.hadoop.conf.Configuration(false))
    val factory = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(classic, job, Map.empty, schema)
    val entries = scala.jdk.CollectionConverters.IteratorHasAsScala(
      job.getConfiguration.iterator()).asScala.map(e => e.getKey -> e.getValue).toMap
    val extension = factory.getFileExtension(
      new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        job.getConfiguration, new org.apache.hadoop.mapreduce.TaskAttemptID()))
    new ParquetStageWriterFactory(factory, schema, sharedHadoopConf(spark), entries, extension)
  }

  private final class SharedConf(
      val sc: org.apache.spark.SparkContext,
      val entries: java.util.Map[String, String],
      val bc: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration])
  private var shared: SharedConf = _

  /** The session's Hadoop conf as ONE broadcast that every graft
    * executor closure shares (the data-file writer, the streaming sink's
    * stage writer, the CDC reader). Serialized, the conf is ~110 KB, and
    * a closure or factory that holds it directly pays its serialization
    * in every job. The broadcast is reused while the conf's entries stay
    * equal to the ones it was built from; when they change (a new
    * SparkContext, a `spark.conf.set`, a Hadoop conf edit) a fresh one
    * replaces it, and the old one is left to Spark's ContextCleaner,
    * which removes it once no in-flight task can still hold it. */
  def sharedHadoopConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = classic.sessionState.newHadoopConf()
    val entries = new java.util.HashMap[String, String]()
    conf.iterator().forEachRemaining(e => { entries.put(e.getKey, e.getValue); () })
    synchronized {
      val s = shared
      if (s != null && (s.sc eq classic.sparkContext) && !s.sc.isStopped &&
          s.entries.equals(entries)) s.bc
      else {
        val bc = classic.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(conf))
        shared = new SharedConf(classic.sparkContext, entries, bc)
        bc
      }
    }
  }

  /** Runs `task` over every partition of `df`'s physical rows in ONE
    * Spark job, inside a new SQL execution (as a `df.write` would be,
    * so SQL listeners and conf propagation see it); returns the tasks'
    * results in partition order. The rows are Spark's internal ones,
    * possibly reused between `next()` calls. */
  def runOnRows[T: scala.reflect.ClassTag](df: org.apache.spark.sql.DataFrame)(
      task: (org.apache.spark.TaskContext,
        Iterator[org.apache.spark.sql.catalyst.InternalRow]) => T): Array[T] = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("graft data-file write")) {
      qe.sparkSession.sparkContext.runJob(qe.toRdd, task)
    }
  }

  /** The schema of `df`'s optimized plan output: the frame's columns
    * with the nullability the optimizer proved (e.g. a folded cast), as
    * Spark's file writer declares them. */
  def optimizedSchema(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.optimizedPlan
        .output.map(a => org.apache.spark.sql.types.StructField(
          a.name, a.dataType, a.nullable, a.metadata)))

  /** A write task's output metrics (executor-side), as Spark's
    * `BasicWriteTaskStatsTracker` reports them for a `df.write`. */
  def reportOutput(bytes: Long, records: Long): Unit =
    Option(org.apache.spark.TaskContext.get()).foreach { ctx =>
      val m = ctx.taskMetrics().outputMetrics
      m.setBytesWritten(bytes)
      m.setRecordsWritten(records)
    }

  /** A DataFrame over an already-analyzed logical plan
    * (`Dataset.ofRows` is `private[sql]`) — lets eager DML commands
    * materialize their captured source plan. */
  def dataFrame(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The RDDs behind a `localCheckpoint()`ed frame: its LogicalRDD
    * leaves (none for a frame that is not checkpointed). Unlike the
    * frame, they do not hold its session. */
  def checkpointRdds(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Release the storage blocks of checkpoint RDDs ([[checkpointRdds]]).
    * A local checkpoint's blocks otherwise live until the RDD is GC'd
    * (ContextCleaner), so a long-lived session accumulates executor
    * storage across query runs; this frees them deterministically once
    * every consumer is done. */
  def releaseCheckpoint(rdds: Seq[org.apache.spark.rdd.RDD[_]]): Unit =
    rdds.foreach(_.unpersist(blocking = false))

  /** The config value a builder currently carries for `key`, if any.
    * `SparkSessionBuilder.options` is `protected` in Scala but its
    * accessor is public bytecode, so one reflective call reads it (no
    * setAccessible). Lets [[graft.GraftSession.configure]] APPEND to a
    * caller-set `spark.sql.extensions` instead of clobbering it; returns
    * None (configure then just sets) if Spark ever changes the field. */
  def builderOption(
      b: org.apache.spark.sql.SparkSession.Builder, key: String): Option[String] =
    scala.util.Try {
      classOf[org.apache.spark.sql.SparkSessionBuilder].getMethod("options")
        .invoke(b).asInstanceOf[scala.collection.mutable.HashMap[String, String]]
        .get(key)
    }.toOption.flatten

  /** Spark-visible schema of a parquet footer (executor-safe): the
    * embedded Spark row metadata when the file was written by Spark,
    * else Spark's own parquet->catalyst schema converter — both
    * `private[sql]`-package surfaces, hence this bridge. Used by the
    * metadata-only file import to verify each candidate file's schema
    * against the table without reading data. */
  def parquetFooterSchema(
      footer: org.apache.parquet.hadoop.metadata.FileMetaData,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
    Option(footer.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(j => scala.util.Try(
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption)
      .getOrElse(new ParquetToSparkSchemaConverter(conf).convert(footer.getSchema))
  }

  /** `DataType.asNullable` is `private[spark]`; the file-import schema
    * check needs nullability-insensitive type equality. */
  def asNullable(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    dt.asNullable

  def partitionedFile(
      path: String, length: Long): org.apache.spark.sql.execution.datasources.PartitionedFile =
    org.apache.spark.sql.execution.datasources.PartitionedFile(
      partitionValues = org.apache.spark.sql.catalyst.InternalRow.empty,
      filePath = org.apache.spark.paths.SparkPath.fromPathString(path),
      start = 0L, length = length, locations = Array.empty,
      modificationTime = 0L, fileSize = length)

  /** Unwrap vectorized-reader ColumnarBatches smuggled through an
    * InternalRow iterator (see [[parquetReadFunc]]). */
  def flattenBatches(
      it: Iterator[org.apache.spark.sql.catalyst.InternalRow])
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    // the element type is a lie when the vectorized reader returns
    // batches (Spark's own FileSourceScanExec does the same unchecked
    // dance), so match through AnyRef
    it.asInstanceOf[Iterator[AnyRef]].flatMap {
      case b: org.apache.spark.sql.vectorized.ColumnarBatch =>
        scala.jdk.CollectionConverters.IteratorHasAsScala(b.rowIterator()).asScala
      case r => Iterator.single(r.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
    }
}

/** Serializable wrapper over Spark's parquet [[org.apache.spark.sql
  * .execution.datasources.OutputWriterFactory]] (a `private[sql]`
  * surface) — see [[Bridge.parquetStageWriterFactory]]. */
class ParquetStageWriterFactory private[graft] (
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    schema: org.apache.spark.sql.types.StructType,
    shared: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration],
    entries: Map[String, String],
    /** The file-name suffix Spark gives this write's files
      * (`.snappy.parquet` under the default codec). */
    val extension: String) extends Serializable {
  /** The write's Hadoop conf: the shared session conf plus this write's
    * entries, built once per deserialized factory (once per task). */
  @transient private lazy val conf: org.apache.hadoop.mapred.JobConf = {
    val c = new org.apache.hadoop.mapred.JobConf(shared.value.value)
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }
  def create(path: String): ParquetStageWriter =
    new ParquetStageWriter(factory.newInstance(path, schema,
      new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf, new org.apache.hadoop.mapreduce.TaskAttemptID())))
  /** The write's Hadoop conf — lets executor-side code resolve the same
    * filesystem the writer used (footer read-back, cleanup). */
  def hadoopConf: org.apache.hadoop.conf.Configuration = conf
}

/** One open staged parquet file (executor-side). */
class ParquetStageWriter private[graft] (
    w: org.apache.spark.sql.execution.datasources.OutputWriter) {
  def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit = w.write(row)
  def close(): Unit = w.close()
}
