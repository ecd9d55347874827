package graft.wap

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.SparkSpecBase

/** The one data-file writer (`BranchCatalog.writeFiles`): executors
  * write each table data file in place and return its metadata. The
  * metadata equals a driver re-read of the file's footer, partitioned
  * layouts match Spark's own partitioned writer, an empty frame writes no
  * file, a data directory holds only the files its manifests name, and a
  * failed write leaves nothing that orphan sweep does not reclaim. */
class DataFileWriterSpec extends SparkSpecBase {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def freshCat(name: String): (BranchCatalog, String) = {
    val root = Files.createTempDirectory(name).toString
    (new BranchCatalog(spark, root), root)
  }

  /** The footer metadata of `path`, read on the driver. */
  private def reread(path: String): DataFileMeta = {
    val p = new Path(path)
    BranchCatalog.footerMetaOf(p.getFileSystem(conf).getFileStatus(p), conf)
  }

  /** Every file under `dir`, recursively, as qualified path strings. */
  private def filesUnder(dir: String): Seq[String] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) Nil
    else {
      val it = fs.listFiles(root, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString).toSeq
    }
  }

  /** The data files on disk, without the local filesystem's hidden
    * `.crc` checksum sidecars. */
  private def dataOnDisk(root: String, table: String): Set[String] = {
    val all = filesUnder(s"$root/tables/$table/data")
    val (hidden, files) = all.partition(p => new Path(p).getName.startsWith("."))
    hidden.foreach(h => assert(new Path(h).getName.endsWith(".crc"), h))
    files.toSet
  }

  private def referenced(cat: BranchCatalog, table: String): Set[String] = {
    val snap = cat.snapshotMeta(table, cat.snapshotIdOf(table).get)
    (snap.manifests ++ snap.deleteManifests).flatMap(m => cat.readManifest(m.path))
      .map(_.path).toSet
  }

  test("executor-built file metadata equals a footer re-read and the old writer's file") {
    val (cat, root) = freshCat("writer-meta")
    val df = spark.range(0, 60, 1, 1).select(
      col("id").cast("byte").as("b"),
      col("id").cast("short").as("sh"),
      (col("id") * 1000).cast("int").as("i"),
      (col("id") - 30).as("l"),
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("d"),
      (lit(1700000000000000L) + col("id") * 1000003L).cast("string").as("raw"),
      when(col("id") % 7 === 0, lit(null)).otherwise(concat(lit("s"), col("id"))).as("s"),
      (col("id") % 2 === 0).as("bo"),
      repeat(lit("x"), 5000).as("big"),
      when(col("id") === 1, lit(Float.NaN)).when(col("id") === 2, lit(-0.0f))
        .otherwise(col("id").cast("float")).as("f"),
      when(col("id") === 1, lit(Double.NaN)).when(col("id") === 2, lit(-0.0))
        .otherwise(col("id").cast("double")).as("db"),
      lit(null).cast("int").as("nul"))
      .withColumn("ts", timestamp_micros(col("raw").cast("long")))
      .withColumn("ntz", to_timestamp_ntz(col("ts").cast("string")))
      .drop("raw")
    cat.createTableIfNotExists("t", df.schema)
    cat.append("t", df)
    val files = cat.dataFiles("t")
    assert(files.size == 1)
    val m = files.head
    assert(reread(m.path) == m.copy(firstRowId = -1L))
    assert(m.rows == 60L && m.bytes == new java.io.File(new Path(m.path).toUri).length())
    // every exact stat type carries bounds, except a timestamp written as
    // Spark's default INT96, whose stats are never read; parquet drops
    // the bounds of strings over 4 KB; an all-NULL column has only its
    // null count
    assert(!m.lower.contains("ts"))
    Seq("b", "sh", "i", "l", "d", "ntz", "s", "bo").foreach { c =>
      assert(m.lower.contains(c) && m.upper.contains(c), c)
    }
    assert(!m.lower.contains("big") && !m.upper.contains("big"))
    assert(m.nullCounts("nul") == 60L && !m.lower.contains("nul"))
    assert(m.nullCounts("s") == 9L)
    // field ids reach the footer
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(m.path), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val ids = try reader.getFooter.getFileMetaData.getSchema.getFields.asScala
      .map(f => f.getName -> f.getId) finally reader.close()
    assert(ids.forall(_._2 != null), ids)

    // Spark's own writer, given the same field ids, writes the same file
    val snap = cat.snapshotMeta("t", cat.snapshotIdOf("t").get)
    val withIds = df.select(BranchCatalog.idSchema(df.schema, snap.evo.fieldIds).fields
      .map(f => col(f.name).as(f.name, f.metadata)).toIndexedSeq: _*)
    val refDir = Files.createTempDirectory("writer-ref").toString + "/out"
    withIds.write.parquet(refDir)
    val ref = filesUnder(refDir).filter(_.endsWith(".parquet")).map(reread)
    assert(ref.size == 1)
    assert(ref.head.copy(path = "") == m.copy(path = "", firstRowId = -1L))
  }

  test("partitioned writes match Spark's partitioned writer: directories, values, files") {
    val (cat, root) = freshCat("writer-parts")
    val keys = Seq("a b:c%", null, "", "x", "café")
    val df = spark.range(0, 100, 1, 2).select(col("id"),
      element_at(typedLit(keys.toArray), (col("id") % keys.size + 1).cast("int")).as("k"))
    val specs = Seq(IdentityPartition("k"), BucketPartition(2, "id"))
    cat.createTableIfNotExists("p", df.schema, "main", specs)
    cat.append("p", df)
    val files = cat.dataFiles("p")
    assert(files.forall(_.rows > 0))
    assert(cat.scan("p").count() == 100L)

    // the old writer: the same transform columns and rebalance,
    // partitioned by Spark
    val pv = specs.zipWithIndex.foldLeft(df) { case (acc, (sp, i)) =>
      acc.withColumn(s"__pv$i", Bridge.column(PathSafeEscapeExpr(
        Bridge.expression(sp.valueCol(df.schema(sp.column).dataType)))))
    }.hint("rebalance", col("__pv0"), col("__pv1"))
    val refDir = Files.createTempDirectory("writer-parts-ref").toString + "/out"
    pv.write.partitionBy("__pv0", "__pv1").parquet(refDir)
    def leafDir(path: String, base: String): String = {
      val parent = new Path(path).getParent.toString
      parent.substring(parent.indexOf(base) + base.length)
    }
    val refFiles = filesUnder(refDir).filter(_.endsWith(".parquet"))
    val refDirs = refFiles.map(leafDir(_, "/out/")).groupBy(identity).map { case (d, fs) => d -> fs.size }
    val ourDirs = files.map(f => leafDir(f.path, "/data/").split("/", 2)(1))
      .groupBy(identity).map { case (d, fs) => d -> fs.size }
    assert(ourDirs == refDirs)

    // each file's partition map is what the directory walk decoded
    val fields = cat.specsOf(cat.snapshotMeta("p", cat.snapshotIdOf("p").get).partitionSpec)
    files.foreach { f =>
      val levels = leafDir(f.path, "/data/").split("/").drop(1)
      val decoded = levels.zip(fields).flatMap { case (lv, field) =>
        val raw = lv.substring(lv.indexOf('=') + 1)
        if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None
        else Some(field.key -> PathSafeEscape.unescape(ExternalCatalogUtils.unescapePathName(raw)))
      }.toMap
      assert(f.partition == decoded, f.path)
    }
    // NULL and empty-string values record nothing; the others their true string
    assert(files.map(_.partition.get("pv")).toSet ==
      Set(None, Some("a b:c%"), Some("x"), Some("café")))
    assert(files.forall(_.partition.contains("pv1")))
    assert(cat.scan("p", filter = Some(col("k") === "a b:c%")).count() == 20L)
    assert(cat.scan("p", filter = Some(col("k") === "café")).count() == 20L)
  }

  test("a sorted compaction of a partitioned table writes one file per value") {
    val (cat, _) = freshCat("writer-sorted")
    val df = spark.range(0, 200, 1, 4).select(col("id"), (col("id") % 5).cast("string").as("k"))
    cat.createTableIfNotExists("p", df.schema, "main", Seq(IdentityPartition("k")))
    cat.append("p", df)
    cat.append("p", df)
    assert(cat.dataFiles("p").groupBy(_.partition).exists(_._2.size > 1))
    cat.compactDataFilesSorted("p", Seq("id"))
    val byValue = cat.dataFiles("p").groupBy(_.partition)
    assert(byValue.size == 5 && byValue.values.forall(_.size == 1), byValue.keys)
    assert(cat.scan("p").count() == 400L)
  }

  test("empty frames write no file: an append, tombstone keys, a position sidecar") {
    val (cat, root) = freshCat("writer-empty")
    val df = spark.range(0, 50, 1, 2).select(col("id"), (col("id") % 3).as("v"))
    cat.createTableIfNotExists("t", df.schema)
    cat.append("t", df)
    val before = dataOnDisk(root, "t")
    assert(before.nonEmpty && before == referenced(cat, "t"))
    cat.append("t", df.limit(0))
    assert(dataOnDisk(root, "t") == before)
    // stats cannot rule a modulo out, so the files are read and nothing is marked
    val del = cat.deleteWherePositional("t", col("id") % 100 === 77)
    assert(del.rowsDeleted == 0L)
    assert(dataOnDisk(root, "t") == before)
    cat.deleteKeysMOR("t", df.select("id").limit(0))
    assert(dataOnDisk(root, "t") == before)
    assert(cat.scan("t").count() == 50L)
  }

  test("an unpartitioned append runs one Spark job and leaves exactly its manifest's files") {
    val (cat, root) = freshCat("writer-jobs")
    val df = spark.range(0, 1000, 1, 3).select(col("id"), (col("id") % 7).as("v"))
    cat.createTableIfNotExists("t", df.schema)
    cat.append("t", df)
    val (_, jobs) = jobsDuring(cat.append("t", df))
    assert(jobs == 1)
    val onDisk = dataOnDisk(root, "t")
    assert(onDisk == referenced(cat, "t"))
    assert(onDisk.size == 6)
    assert(!onDisk.exists(p => p.contains("_temporary") || p.contains("_SUCCESS")))
    assert(cat.dataFiles("t").forall(_.rows > 0))
  }

  test("files roll over at spark.sql.files.maxRecordsPerFile, as a df.write's do") {
    val (cat, _) = freshCat("writer-roll")
    val df = spark.range(0, 25, 1, 1).select(col("id"), (col("id") % 2).as("v"))
    cat.createTableIfNotExists("t", df.schema)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "10")
    try cat.append("t", df) finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert(cat.dataFiles("t").map(_.rows).sorted == Seq(5L, 10L, 10L))
    assert(cat.scan("t").count() == 25L)
  }

  test("a task that fails mid-write commits nothing; orphan sweep leaves only referenced files") {
    val (cat, root) = freshCat("writer-fail")
    val df = spark.range(0, 20, 1, 1).select(col("id"), (col("id") % 3).as("v"))
    cat.createTableIfNotExists("t", df.schema)
    cat.append("t", df)
    val head = cat.snapshotIdOf("t")
    val failing = df.select(col("id"),
      when(col("id") === 10L, raise_error(lit("boom"))).otherwise(col("v")).cast("long").as("v"))
    val e = intercept[Exception](cat.append("t", failing))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")))
    assert(cat.snapshotIdOf("t") == head)
    assert(cat.scan("t").count() == 20L)
    // whatever the failed task left is unreferenced, and sweep reclaims it
    val refs = referenced(cat, "t")
    assert(refs.subsetOf(dataOnDisk(root, "t")))
    cat.removeOrphanFiles("t", System.currentTimeMillis() + 60000)
    assert(dataOnDisk(root, "t") == refs)
    assert(cat.scan("t").count() == 20L)
  }

  test("two attempts of one partition write distinct files: names carry the task attempt id") {
    val tmp = new Path(Files.createTempDirectory("writer-attempts").toString)
    val dir = tmp.getFileSystem(conf).makeQualified(tmp).toString
    val df = spark.range(0, 10, 1, 1).toDF("id")
    val schema = Bridge.optimizedSchema(df)
    val task = new BranchCatalog.FileWriteTask(
      Bridge.parquetStageWriterFactory(spark, schema), dir, schema, Nil, 0L)
    // each job runs partition 0 at attempt number 0, as a zombie attempt
    // and the attempt of a resubmitted stage both do
    val first = Bridge.runOnRows(df)(task).toSeq.flatten
    val second = Bridge.runOnRows(df)(task).toSeq.flatten
    assert(first.size == 1 && second.size == 1)
    assert(first.head.path != second.head.path)
    assert(filesUnder(dir).filterNot(p => new Path(p).getName.startsWith(".")).toSet ==
      Set(first.head.path, second.head.path))
    (first ++ second).foreach(m => assert(reread(m.path) == m))
  }

  test("the write reports its output bytes and records as task metrics") {
    val (cat, _) = freshCat("writer-metrics")
    val df = spark.range(0, 500, 1, 2).select(col("id"), (col("id") % 11).as("v"))
    cat.createTableIfNotExists("t", df.schema)
    val sc = spark.sparkContext
    val marker = s"writer-metrics-${java.util.UUID.randomUUID()}"
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val records = new java.util.concurrent.atomic.AtomicLong()
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var markerJob = -1
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          bytes.addAndGet(m.outputMetrics.bytesWritten)
          records.addAndGet(m.outputMetrics.recordsWritten)
        }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.marker") == marker))
          markerJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) done.countDown()
    }
    sc.addSparkListener(listener)
    try {
      cat.append("t", df)
      sc.setLocalProperty("graft.spec.marker", marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.spec.marker", null)
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    val files = cat.dataFiles("t")
    assert(records.get == 500L)
    assert(bytes.get == files.map(_.bytes).sum)
  }

  test("writes share one broadcast of the session's Hadoop conf until the conf changes") {
    val a = Bridge.sharedHadoopConf(spark)
    assert(Bridge.sharedHadoopConf(spark).id == a.id)
    val key = "graft.spec.conf-probe"
    val value = java.util.UUID.randomUUID().toString
    conf.set(key, value)
    try {
      val b = Bridge.sharedHadoopConf(spark)
      assert(b.id != a.id && b.value.value.get(key) == value)
      assert(Bridge.sharedHadoopConf(spark).id == b.id)
    } finally conf.unset(key)
    assert(Bridge.sharedHadoopConf(spark).value.value.get(key) == null)
  }
}
