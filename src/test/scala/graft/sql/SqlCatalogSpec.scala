package graft.sql

import java.nio.file.Files
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.{SparkSpecBase, Tables}
import graft.wap.BranchCatalog

class SqlCatalogSpec extends SparkSpecBase {

  private var n = 0
  /** A fresh catalog name + root per test (catalog instances are cached
    * by name per session, so a reused name would pin the first root). */
  private def register(): (String, BranchCatalog) = {
    n += 1
    val name = s"lakespec$n"
    val root = Files.createTempDirectory("sql-cat").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, new BranchCatalog(spark, root))
  }

  /** The graft batch scans in `df`'s physical plan, and how many data
    * files they planned. */
  private def graftScans(df: DataFrame): (Seq[BatchScanExec], Int) = {
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftBatchScan] => b
    }
    scans -> scans.flatMap(_.inputPartitions).map {
      case GraftFilesPartition(fs) => fs.size
      case GraftKeyedFilesPartition(fs, _) => fs.size
      case _ => 0
    }.sum
  }

  private def utc(ms: Long): String =
    DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss.SSS")
      .withZone(ZoneOffset.UTC).format(Instant.ofEpochMilli(ms))

  test("spark.sql reads a published table; filters reach the manifest pruner natively") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 64)
    cat.createTableIfNotExists("docs", docs.schema)
    // clustered appends -> tight per-file ranges -> point predicates prune
    cat.appendClustered("docs", docs, Seq("doc_id"), files = 8)
    val totalFiles = cat.dataFiles("docs").size
    assert(totalFiles >= 8)

    val q = spark.sql(s"SELECT doc_id, n_chars FROM $lake.main.docs WHERE doc_id = 33")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(33L))

    // the plan IS the graft batch scan reading vectorized batches, not a
    // per-row DSv2 boundary…
    val (scans, nFiles) = graftScans(q)
    assert(scans.nonEmpty && scans.forall(_.supportsColumnar),
      s"expected the columnar graft batch scan, got:\n${q.queryExecution.executedPlan}")
    // …its planned files were manifest-pruned…
    assert(nFiles < totalFiles, "the SQL predicate must reach the footer-stats pruner")
    // …and the filter + projection push into the scan's parquet readers
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("doc_id"))
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("doc_id", "n_chars"))
  }

  test("branch namespaces, SHOW TABLES/NAMESPACES, CREATE NAMESPACE") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 20)
    cat.createTableIfNotExists("d", docs.schema)
    cat.append("d", docs)
    cat.createBranch("audit")
    cat.append("d", docs.withColumn("doc_id", col("doc_id") + lit(1000L)), "audit")

    assert(spark.sql(s"SELECT count(*) AS c FROM $lake.main.d").head.getLong(0) == 20)
    assert(spark.sql(s"SELECT count(*) AS c FROM $lake.audit.d").head.getLong(0) == 40)
    // bare table name resolves through the default namespace (main)
    spark.sql(s"USE $lake")
    assert(spark.sql("SELECT count(*) FROM d").head.getLong(0) == 20)
    spark.sql("USE spark_catalog.default")

    val namespaces = spark.sql(s"SHOW NAMESPACES IN $lake").collect().map(_.getString(0))
    assert(namespaces.toSet == Set("main", "audit"))
    val tables = spark.sql(s"SHOW TABLES IN $lake.audit").collect().map(_.getString(1))
    assert(tables.toSeq == Seq("d"))

    // CREATE NAMESPACE = zero-copy branch of main (tables come along)
    spark.sql(s"CREATE NAMESPACE $lake.wip")
    assert(cat.listBranches().contains("wip"))
    assert(spark.sql(s"SELECT count(*) FROM $lake.wip.d").head.getLong(0) == 20)
    intercept[Exception] { spark.sql(s"DROP NAMESPACE $lake.wip") } // carries tables
    spark.sql(s"DROP NAMESPACE $lake.wip CASCADE")
    assert(!cat.listBranches().contains("wip"))
  }

  test("VERSION AS OF and TIMESTAMP AS OF time travel through SQL") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    val s1 = cat.append("t", docs.filter(col("doc_id") < 10))
    Thread.sleep(5)
    val s2 = cat.append("t", docs.filter(col("doc_id") >= 10 && col("doc_id") < 30))

    assert(spark.sql(s"SELECT count(*) FROM $lake.main.t").head.getLong(0) == 30)
    assert(spark.sql(
      s"SELECT count(*) FROM $lake.main.t VERSION AS OF '${s1.id}'").head.getLong(0) == 10)
    assert(spark.sql(
      s"SELECT count(*) FROM $lake.main.t TIMESTAMP AS OF '${utc(s1.committedAtMillis)}'")
      .head.getLong(0) == 10)
    assert(spark.sql(
      s"SELECT count(*) FROM $lake.main.t TIMESTAMP AS OF '${utc(s2.committedAtMillis)}'")
      .head.getLong(0) == 30)
  }

  test("SQL reads apply MOR tombstones (the scan plan comes along wholesale)") {
    import spark.implicits._
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 30))
    cat.deleteKeysMOR("t", Seq(5L, 17L).toDF("doc_id"))
    cat.append("t", docs.filter(col("doc_id") === 5L)) // re-appended key visible

    assert(spark.sql(s"SELECT count(*) FROM $lake.main.t").head.getLong(0) == 29)
    assert(spark.sql(
      s"SELECT count(*) FROM $lake.main.t WHERE doc_id IN (5, 17)").head.getLong(0) == 1)
  }

  test("a SQL read returns the rows catalog.scan returns for the same snapshot") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 40)
    cat.createTableIfNotExists("t", docs.schema)
    cat.appendClustered("t", docs, Seq("doc_id"), files = 4)
    val snap = cat.snapshotIdOf("t").get

    val viaSql = spark.sql(
      s"SELECT doc_id, n_chars FROM $lake.main.t WHERE doc_id >= 20 ORDER BY doc_id")
    assert(graftScans(viaSql)._1.nonEmpty, "the SQL read must plan the graft batch scan")
    val viaScan = cat.scanSnapshot("t", snap, Some(col("doc_id") >= 20))
      .select("doc_id", "n_chars").orderBy("doc_id")
    assert(viaSql.collect().map(_.toSeq).toSeq == viaScan.collect().map(_.toSeq).toSeq)
    assert(viaSql.count() == 20)
  }

  test("a many-small-file SQL read plans as many input partitions as spark.read.parquet") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 480)
    cat.createTableIfNotExists("t", docs.schema)
    cat.appendClustered("t", docs, Seq("doc_id"), files = 48)
    val paths = cat.dataFiles("t").map(_.path)
    assert(paths.size >= 40, s"expected many small files, got ${paths.size}")

    val (scans, nFiles) = graftScans(spark.sql(s"SELECT doc_id, n_chars FROM $lake.main.t"))
    assert(nFiles == paths.size)
    val viaSql = scans.head.inputPartitions.length
    val viaParquet = spark.read.parquet(paths: _*).select("doc_id", "n_chars")
      .rdd.getNumPartitions
    // Spark sizes splits from total bytes over the default parallelism,
    // so small files spread over every core instead of packing into one
    // maxPartitionBytes budget
    assert(viaSql == viaParquet,
      s"SQL read planned $viaSql input partitions, spark.read.parquet $viaParquet")
    assert(viaSql == spark.sparkContext.defaultParallelism)
  }

  test("the MOR delete-set cache holds what the newest plan names as tombstones stack up") {
    import spark.implicits._
    val (lake, cat) = register()
    val rows = spark.range(0, 4).select(col("id"), (col("id") * 3).as("v"))
    cat.createTableIfNotExists("t", rows.schema)
    def cached = GraftDeleteSets.cachedIds.count(_.contains(cat.root))
    // each append + delete adds one coverage epoch, and each delete gives
    // every older epoch a new group id: a cache that never drops a set
    // would hold N(N+1)/2 key sets after N rounds, and more per re-read
    val n = 12
    for (i <- 0 until n) {
      cat.append("t", rows.select((col("id") + i * 10).as("id"), col("v")))
      cat.deleteKeysMOR("t", Seq(i * 10L).toDF("id"))
      for (_ <- 0 until 2)
        assert(spark.sql(s"SELECT id FROM $lake.main.t").collect().length == 3 * (i + 1))
      // the newest plan names one group per epoch a tombstone covers
      assert(cached <= i + 1, s"$cached cached delete sets after ${i + 1} rounds")
    }
    assert(cached > 0, "the reads probe through the cache")
  }

  test("the delete-set cache builds each group once and drops what a newer plan leaves") {
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val read: org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] = { _ =>
      builds.incrementAndGet()
      Thread.sleep(50)
      Iterator.empty
    }
    val types = Array[org.apache.spark.sql.types.DataType](org.apache.spark.sql.types.LongType)
    def group(id: String) = GraftDeleteGroupSpec(id, Seq("id"), Seq(s"/nowhere/$id.parquet" -> 1L))
    val scope = s"spec ${java.util.UUID.randomUUID()}"
    val (g1, g2, g3) = (group(s"$scope/g1"), group(s"$scope/g2"), group(s"$scope/g3"))
    val older = GraftDeleteSets.newPlan(scope, Seq(g1.id, g2.id))
    val tasks = (1 to 4).map(_ => new Thread(() => GraftDeleteSets.get(older, g1, read, types)))
    tasks.foreach(_.start()); tasks.foreach(_.join())
    assert(builds.get == 1, "concurrent tasks share one build")
    GraftDeleteSets.get(older, g2, read, types)
    val newer = GraftDeleteSets.newPlan(scope, Seq(g2.id, g3.id))
    GraftDeleteSets.get(newer, g3, read, types)
    def ours = GraftDeleteSets.cachedIds.filter(_.startsWith(scope))
    assert(ours == Set(g2.id, g3.id), "the newer plan drops the group it does not name")
    assert(builds.get == 3)
    // a task of the older plan still reading rebuilds g1 once and keeps it
    // until the next newer plan
    GraftDeleteSets.get(older, g1, read, types)
    GraftDeleteSets.get(older, g1, read, types)
    assert(builds.get == 4 && ours == Set(g1.id, g2.id, g3.id))
    GraftDeleteSets.get(GraftDeleteSets.newPlan(scope, Seq(g3.id)), g3, read, types)
    assert(ours == Set(g3.id))
  }

  test("an MOR read over several epochs sizes its splits over the whole scan") {
    import spark.implicits._
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 480)
    cat.createTableIfNotExists("t", docs.schema)
    cat.appendClustered("t", docs.filter(col("doc_id") < 240), Seq("doc_id"), files = 24)
    cat.deleteKeysMOR("t", Seq(5L).toDF("doc_id"))
    // files appended after the tombstone form a second coverage epoch
    cat.appendClustered("t", docs.filter(col("doc_id") >= 240), Seq("doc_id"), files = 24)
    val paths = cat.dataFiles("t").map(_.path)
    assert(paths.size >= 40, s"expected many small files, got ${paths.size}")

    val parts = graftScans(spark.sql(s"SELECT doc_id, n_chars FROM $lake.main.t"))
      ._1.head.inputPartitions
    val epochs = parts.collect { case GraftMorFilesPartition(_, specs) => specs }.distinct.size +
      (if (parts.exists(_.isInstanceOf[GraftFilesPartition])) 1 else 0)
    assert(epochs == 2, s"expected two coverage epochs, got $epochs")
    val planned = parts.map {
      case GraftMorFilesPartition(fs, _) => fs.size
      case GraftFilesPartition(fs) => fs.size
      case _ => 0
    }.sum
    assert(planned == paths.size)
    val viaParquet = spark.read.parquet(paths: _*).select("doc_id", "n_chars")
      .rdd.getNumPartitions
    // a partition never spans two epochs, so each epoch boundary may cut
    // one more partition; sizing each epoch on its own bytes would cut
    // every epoch into about as many partitions as the whole table
    assert(parts.length <= viaParquet + epochs - 1,
      s"MOR read planned ${parts.length} input partitions over $epochs epochs, " +
        s"spark.read.parquet $viaParquet")
  }

  test("pending MOR tombstones read through the native batch scan (connector path)") {
    import spark.implicits._
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.appendClustered("t", docs.filter(col("doc_id") < 40), Seq("doc_id"), files = 4)
    cat.deleteKeysMOR("t", Seq(5L, 17L).toDF("doc_id"))
    cat.append("t", docs.filter(col("doc_id") === 5L)) // later epoch: visible again
    // a second generation with a DIFFERENT key schema — epochs (two) and
    // per-key-schema groups (two in the older epoch) both in play
    cat.deleteKeysMOR("t",
      docs.filter(col("doc_id") === 23).select("doc_id", "n_chars"))

    val viaScala = cat.scan("t").select("doc_id", "n_chars")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    val q = spark.sql(s"SELECT doc_id, n_chars FROM $lake.main.t ORDER BY doc_id")
    val rows = q.collect()
    // the whole point: NO per-row V1/RDD boundary between compactions —
    // the connector read is the native DSv2 batch scan
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), s"expected the native batch scan, got:\n$plan")
    assert(!plan.contains("ExistingRDD") && !plan.contains("RowDataSourceScan"),
      s"MOR-pending read must not drop to a per-row scan:\n$plan")
    assert(rows.map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString).toSeq ==
      viaScala.toSeq, "connector MOR read must equal the Scala scan")
    assert(rows.map(_.getLong(0)).count(_ == 5L) == 1, "re-appended key visible once")
    assert(!rows.map(_.getLong(0)).contains(17L) && !rows.map(_.getLong(0)).contains(23L))

    // required-column pruning still holds when the key columns are not
    // selected (the reader widens internally and projects back down)
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.t").head.getLong(0) ==
      viaScala.length.toLong)
    val texts = spark.sql(s"SELECT text FROM $lake.main.t WHERE doc_id = 5")
    assert(texts.collect().length == 1)
    // and pushed predicates keep pruning files under MOR
    val pruned = spark.sql(s"SELECT n_chars FROM $lake.main.t WHERE doc_id = 33")
    assert(pruned.collect().length == 1)
  }

  test("SQL DDL: CREATE TABLE / DROP TABLE; main writes are refused by design") {
    val (lake, cat) = register()
    spark.sql(s"CREATE TABLE $lake.main.fresh (id BIGINT, name STRING)")
    assert(cat.listTables().contains("fresh"))
    assert(spark.sql(s"SELECT * FROM $lake.main.fresh").count() == 0)
    // main only changes through write-audit-publish: direct SQL INSERT
    // into the main namespace is refused (branch namespaces accept it)
    intercept[Exception] {
      spark.sql(s"INSERT INTO $lake.main.fresh VALUES (1, 'x')")
    }
    import spark.implicits._
    cat.append("fresh", Seq((1L, "x")).toDF("id", "name"))
    assert(spark.sql(s"SELECT name FROM $lake.main.fresh WHERE id = 1").head.getString(0) == "x")
    spark.sql(s"DROP TABLE $lake.main.fresh")
    assert(!cat.listTables().contains("fresh"))
  }

  test("SQL writes: INSERT INTO a branch, publish via merge; main writes refused") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 20)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 10))

    // main is WAP-protected: the write must not land
    val err = intercept[Exception] {
      spark.sql(s"INSERT INTO $lake.main.t SELECT * FROM parquet.`$sfDir/documents.parquet` WHERE doc_id >= 10 AND doc_id < 20")
    }
    assert(err.getMessage.contains("write-audit-publish"))
    assert(cat.scan("t").count() == 10)

    // the branch route: INSERT INTO the namespace, then publish
    spark.sql(s"CREATE NAMESPACE $lake.ingest")
    spark.sql(s"INSERT INTO $lake.ingest.t SELECT * FROM parquet.`$sfDir/documents.parquet` WHERE doc_id >= 10 AND doc_id < 20")
    assert(cat.scan("t", "ingest").count() == 20)
    assert(cat.scan("t", "main").count() == 10, "branch write is isolated")
    cat.merge("ingest")
    assert(cat.scan("t", "main").count() == 20)

    // INSERT OVERWRITE replaces the branch content in one commit
    spark.sql(s"INSERT OVERWRITE $lake.ingest.t SELECT * FROM parquet.`$sfDir/documents.parquet` WHERE doc_id < 5")
    assert(cat.scan("t", "ingest").count() == 5)
    assert(cat.scan("t", "main").count() == 20, "overwrite stays on its branch")

    // time travel still reaches the pre-overwrite content
    val hist = cat.commitHistory("t", "ingest")
    assert(spark.sql(
      s"SELECT count(*) FROM $lake.ingest.t VERSION AS OF '${hist.init.last.snapshotId}'")
      .head.getLong(0) == 20)
  }

  test("CTAS into a branch namespace (create + insert through the connector)") {
    val (lake, cat) = register()
    spark.sql(s"CREATE NAMESPACE $lake.wip")
    spark.sql(
      s"CREATE TABLE $lake.wip.top AS SELECT doc_id, n_chars FROM parquet.`$sfDir/documents.parquet` WHERE doc_id < 30")
    assert(spark.sql(s"SELECT count(*) FROM $lake.wip.top").head.getLong(0) == 30)
    assert(cat.listTables("wip").contains("top"))
    // schema came from the query
    assert(cat.scan("top", "wip").columns.toSeq == Seq("doc_id", "n_chars"))
  }

  test("CTAS on main is refused atomically: no half-created table survives") {
    val (lake, cat) = register()
    // a published table so main exists and has content to protect
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 10)
    cat.createTableIfNotExists("base", docs.schema)
    cat.append("base", docs)

    val err = intercept[Exception] {
      spark.sql(s"CREATE TABLE $lake.main.residue AS SELECT * FROM $lake.main.base")
    }
    assert(err.getMessage.contains("write-audit-publish"),
      s"refusal must cite the policy, got: ${err.getMessage}")
    // the r8 behavior left a committed EMPTY table on main (create landed,
    // insert was refused); the staged create must leave nothing behind
    assert(!cat.tableExists("residue"),
      "a refused CTAS must not leave a created table on main")

    // CTAS still works on branches (SupportsTruncate path unchanged)
    spark.sql(s"CREATE NAMESPACE $lake.scratch")
    spark.sql(s"CREATE TABLE $lake.scratch.ok AS SELECT * FROM $lake.main.base")
    assert(cat.scan("ok", "scratch").count() == 10)
  }

  test("a rolled-back branch fails a live stream loudly (no offset regression)") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    val s1 = cat.append("t", docs.filter(col("doc_id") < 10))
    val ckpt = Files.createTempDirectory("rollback-ckpt").toString

    def drain(): Unit = {
      val q = spark.readStream.table(s"$lake.main.t")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => () }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drain() // commits an offset at s2's lineage
    cat.append("t", docs.filter(col("doc_id") >= 10 && col("doc_id") < 20))
    drain() // offset now at the second commit
    cat.rollbackTo("t", s1.id) // rewrite the branch under the checkpoint
    cat.append("t", docs.filter(col("doc_id") >= 20 && col("doc_id") < 30))

    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { drain() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(err).exists(m => m.contains("rolled back") || m.contains("rewritten")),
      s"must fail loudly on a rewritten branch, got: ${messages(err)}")
  }

  test("connector stats drop the row count under pending MOR tombstones") {
    import spark.implicits._
    val (_, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 30)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs)

    def scan(): org.apache.spark.sql.connector.read.Scan = {
      val id = cat.snapshotIdOf("t").get
      val t = GraftTable(cat.root, "main", "t", id, cat.schemaOfSnapshot("t", id))
      t.newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).build()
    }
    assert(scan().asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics().numRows().getAsLong == 30,
      "manifest-ref sums are exact pre-tombstone")
    // byte size comes from manifest-REF sums (O(manifests), uncapped)
    assert(scan().asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics().sizeInBytes().getAsLong ==
      cat.dataFiles("t").map(_.bytes).sum,
      "planner size must equal the manifest byte sums")

    // a key tombstone can suppress ANY number of matching rows: the scan
    // stays on the native batch path but reports NO row count — the
    // planner sees defaults rather than an inflated sum
    cat.deleteKeysMOR("t", Seq(5L).toDF("doc_id"))
    val morScan = scan()
    assert(morScan.isInstanceOf[org.apache.spark.sql.connector.read.Batch],
      "pending MOR tombstones must stay on the native batch scan")
    assert(morScan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics().numRows().isEmpty,
      "pending MOR tombstones make manifest row sums an overcount — report none")
  }

  test("streaming input partitions are bin-packed by byte size, not per-file") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    for (r <- 0 until 5)
      cat.append("t", docs.filter(col("doc_id") >= r * 10 && col("doc_id") < r * 10 + 10).coalesce(1))
    assert(cat.dataFiles("t").size == 5)

    val head = cat.snapshotIdOf("t").get
    val schema = cat.schemaOfSnapshot("t", head)
    val stream = new GraftMicroBatchStream(spark, cat.root, "main", "t", schema, schema, None)
    val end = GraftStreamOffset(head, cat.seqOfSnapshot("t", head))

    // 5 tiny files pack by Spark's own split size (total bytes over the
    // default parallelism, never below the 4 MB open cost): fewer tasks
    // than files (the r8 behavior — a million-file initial load would
    // have launched a million tasks), as many as spark.read.parquet plans
    val packed = stream.planInputPartitions(GraftStreamOffset.start, end)
    val viaParquet = spark.read.parquet(cat.dataFiles("t").map(_.path): _*)
      .rdd.getNumPartitions
    assert(packed.length < 5 && packed.length == viaParquet,
      s"tiny files must pack like spark.read.parquet ($viaParquet), got ${packed.length}")
    assert(packed.map(_.asInstanceOf[GraftFilesPartition].files.size).sum == 5)

    // a byte budget at the open cost splits again (per-file open cost
    // dominates)
    spark.conf.set("spark.sql.files.maxPartitionBytes", (4L * 1024 * 1024).toString)
    try {
      val split = stream.planInputPartitions(GraftStreamOffset.start, end)
      assert(split.length == 5, s"4 MB budget with 4 MB open cost -> one file per bin, got ${split.length}")
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("write.main=true opts a catalog into direct main writes") {
    import spark.implicits._
    val (lakeDefault, cat) = register()
    val root = cat.root
    val lake = s"${lakeDefault}rw"
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", root)
    spark.conf.set(s"spark.sql.catalog.$lake.write.main", "true")
    cat.createTableIfNotExists("t", Seq((1L, "a")).toDF("id", "v").schema)
    spark.sql(s"INSERT INTO $lake.main.t VALUES (1, 'a'), (2, 'b')")
    assert(cat.scan("t").count() == 2)
  }

  test("DELETE FROM lowers onto copy-on-write deleteWhere, branch-guarded") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 40)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs)
    cat.createBranch("fix")

    spark.sql(s"DELETE FROM $lake.fix.t WHERE doc_id < 10")
    assert(cat.scan("t", "fix").count() == 30)
    assert(cat.scan("t", "main").count() == 40, "delete is branch-isolated until merged")
    cat.merge("fix")
    assert(cat.scan("t", "main").count() == 30)

    val err = intercept[Exception] { spark.sql(s"DELETE FROM $lake.main.t WHERE doc_id < 20") }
    assert(err.getMessage.contains("write-audit-publish"))
    assert(cat.scan("t", "main").count() == 30)

    // a predicate with a non-convertible piece nested under OR must be
    // REFUSED whole, never silently weakened (a weakened delete predicate
    // over-deletes: (a AND unsupported) OR b must not become a OR b)
    val before = cat.scan("t", "fix").count()
    intercept[Exception] {
      spark.sql(s"DELETE FROM $lake.fix.t WHERE (doc_id > 10 AND text LIKE 'z%') OR doc_id = 12")
    }
    assert(cat.scan("t", "fix").count() == before, "refused delete must touch nothing")
  }

  test("SQL UPDATE lowers onto copy-on-write updateWhere, branch-guarded") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 40)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs)
    cat.createBranch("fix")

    spark.sql(s"UPDATE $lake.fix.t SET n_chars = n_chars + 1000 WHERE doc_id < 10")
    val bumped = cat.scan("t", "fix").filter(col("doc_id") < 10)
      .agg(sum("n_chars")).head.getLong(0)
    val original = cat.scan("t", "main").filter(col("doc_id") < 10)
      .agg(sum("n_chars")).head.getLong(0)
    assert(bumped == original + 10 * 1000, "SET arithmetic applied on the branch")
    assert(cat.scan("t", "main").agg(sum("n_chars")).head.getLong(0) !=
      cat.scan("t", "fix").agg(sum("n_chars")).head.getLong(0),
      "update is branch-isolated until merged")
    cat.merge("fix")
    assert(cat.scan("t", "main").filter(col("doc_id") < 10)
      .agg(sum("n_chars")).head.getLong(0) == bumped)

    // main refusal
    val err = intercept[Exception] {
      spark.sql(s"UPDATE $lake.main.t SET n_chars = 0 WHERE doc_id = 1")
    }
    assert(err.getMessage.contains("write-audit-publish"))

    // a subquery condition must be refused whole, never approximated
    intercept[Exception] {
      spark.sql(s"UPDATE $lake.fix.t SET n_chars = 0 WHERE doc_id IN " +
        s"(SELECT doc_id FROM $lake.fix.t WHERE n_chars > 100)")
    }
  }

  test("SQL MERGE INTO lowers onto the native conditional merge") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 30)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 20))
    cat.createBranch("up")

    // source: overlap 10..19 (update or delete), new 20..29 (insert)
    Tables.documents(spark, sfDir).filter(col("doc_id") >= 10 && col("doc_id") < 30)
      .createOrReplaceTempView("merge_src")

    spark.sql(
      s"""MERGE INTO $lake.up.t AS t USING merge_src AS s ON t.doc_id = s.doc_id
         |WHEN MATCHED AND t.doc_id % 2 = 0 THEN UPDATE SET n_chars = s.n_chars + 100
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED AND s.doc_id < 25 THEN INSERT *
         |""".stripMargin)

    val after = cat.scan("t", "up")
    // evens 10..18 updated (+100), odds 11..19 deleted, 20..24 inserted
    assert(after.filter(col("doc_id") >= 10 && col("doc_id") < 20 && col("doc_id") % 2 =!= 0)
      .count() == 0, "matched odds deleted")
    assert(after.filter(col("doc_id") >= 20).agg(count(lit(1))).head.getLong(0) == 5,
      "conditional insert stops at 25")
    val srcChars = Tables.documents(spark, sfDir)
      .filter(col("doc_id") === 12).agg(sum("n_chars")).head.getLong(0)
    assert(after.filter(col("doc_id") === 12).agg(sum("n_chars")).head.getLong(0) ==
      srcChars + 100, "matched evens take the source value + 100")
    assert(cat.scan("t", "main").count() == 20, "merge is branch-isolated")

    // main refusal
    val err = intercept[Exception] {
      spark.sql(s"MERGE INTO $lake.main.t AS t USING merge_src AS s ON t.doc_id = s.doc_id " +
        "WHEN MATCHED THEN DELETE")
    }
    assert(err.getMessage.contains("write-audit-publish"))

    // a non-equi ON must be refused, not weakened
    intercept[Exception] {
      spark.sql(s"MERGE INTO $lake.up.t AS t USING merge_src AS s ON t.doc_id > s.doc_id " +
        "WHEN MATCHED THEN DELETE")
    }
  }

  test("ALTER TABLE: ADD/DROP COLUMN and type widening through SQL; re-add guarded by seq") {
    val (lake, cat) = register()
    import spark.implicits._
    cat.createTableIfNotExists("t", Seq((1, "a")).toDF("id", "v").schema)
    cat.append("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))

    spark.sql(s"ALTER TABLE $lake.main.t ADD COLUMN score DOUBLE")
    spark.sql(s"ALTER TABLE $lake.main.t ALTER COLUMN id TYPE BIGINT")
    val schema = cat.scan("t").schema
    assert(schema("score").dataType == org.apache.spark.sql.types.DoubleType)
    assert(schema("id").dataType == org.apache.spark.sql.types.LongType)
    // old files read under the evolved schema (added col null, id widened)
    assert(spark.sql(s"SELECT sum(id) FROM $lake.main.t WHERE score IS NULL").head.getLong(0) == 3)

    // DROP COLUMN is metadata-only: reads stop requesting it, data
    // untouched, time travel unaffected
    val preDrop = cat.snapshotIdOf("t", "main").get
    spark.sql(s"ALTER TABLE $lake.main.t DROP COLUMN v")
    assert(cat.scan("t").columns.toSeq == Seq("id", "score"))
    assert(spark.sql(s"SELECT sum(id) FROM $lake.main.t").head.getLong(0) == 3)
    assert(cat.scanSnapshot("t", preDrop).columns.contains("v"),
      "time travel keeps the pre-drop schema")
    // re-adding the name refuses while pre-drop files remain (their old
    // values would resurrect under a name-based read) …
    val readd = intercept[Exception](spark.sql(s"ALTER TABLE $lake.main.t ADD COLUMN v STRING"))
    assert(readd.getMessage.contains("rewrite"), readd.getMessage)
    // … and is free again once every current file postdates the drop
    cat.compactDataFiles("t")
    spark.sql(s"ALTER TABLE $lake.main.t ADD COLUMN v STRING")
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.t WHERE v IS NULL").head.getLong(0) == 2,
      "the re-added column starts empty — old values must NOT resurrect")

    intercept[Exception] { spark.sql(s"ALTER TABLE $lake.main.t ALTER COLUMN id TYPE INT") }
    assert(cat.scan("t").columns.toSeq == Seq("id", "score", "v"))

    // the connector batch scan must read evolved files identically: old
    // int32 parquet under the widened long schema, added column as null
    // (a schema/reader mismatch here would be a runtime-only failure)
    assert(spark.sql(s"SELECT sum(id) FROM $lake.main.t WHERE score IS NULL")
      .head.getLong(0) == 3)
  }

  test("ALTER TABLE RENAME COLUMN through SQL: by-id reads, old name gone") {
    val (lake, cat) = register()
    import spark.implicits._
    cat.createTableIfNotExists("t", Seq((1L, "a")).toDF("id", "v").schema)
    cat.append("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val filesBefore = cat.dataFiles("t").map(_.path).toSet

    spark.sql(s"ALTER TABLE $lake.main.t RENAME COLUMN v TO label")
    assert(cat.dataFiles("t").map(_.path).toSet == filesBefore,
      "SQL RENAME COLUMN must be metadata-only")
    // pre-rename files serve the column by field id under the new name
    assert(spark.sql(s"SELECT label FROM $lake.main.t ORDER BY id")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b"))
    // the old name no longer resolves
    intercept[Exception](spark.sql(s"SELECT v FROM $lake.main.t").collect())
    // appends under the new name mix with pre-rename files
    cat.append("t", Seq((3L, "c")).toDF("id", "label"))
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.t WHERE label >= 'a'")
      .head.getLong(0) == 3)
    // a filtered read prunes and resolves by id too
    assert(spark.sql(s"SELECT label FROM $lake.main.t WHERE id = 1")
      .head.getString(0) == "a")
  }

  test("readStream.table streams the lake: initial load, per-commit deltas, WAP isolation") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 10))

    val q = spark.readStream.table(s"$lake.main.t")
      .writeStream.format("memory").queryName(s"lakestream$n").start()
    try {
      q.processAllAvailable()
      def seen(): Long = spark.sql(s"SELECT count(*) FROM lakestream$n").head.getLong(0)
      assert(seen() == 10, "first batch = full table (initial load)")

      cat.append("t", docs.filter(col("doc_id") >= 10 && col("doc_id") < 30))
      q.processAllAvailable()
      assert(seen() == 30, "each commit arrives exactly once")

      // WAP isolation: unpublished branch data must never stream
      cat.createBranch("staging")
      cat.append("t", docs.filter(col("doc_id") >= 100 && col("doc_id") < 120), "staging")
      q.processAllAvailable()
      assert(seen() == 30, "branch commits are invisible until published")
      cat.merge("staging")
      q.processAllAvailable()
      assert(seen() == 50, "publishing the branch delivers its rows")

      // values round-trip through the executor-side parquet reader
      val ids = spark.sql(s"SELECT doc_id FROM lakestream$n ORDER BY doc_id")
        .collect().map(_.getLong(0))
      assert(ids.toSeq == ((0L until 30L) ++ (100L until 120L)))
    } finally q.stop()
  }

  test("streaming restart resumes from the checkpoint; MOR tombstones refuse") {
    import spark.implicits._
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 10))
    val ckpt = Files.createTempDirectory("lakestream-ckpt").toString

    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def run(): Unit = {
      val q = spark.readStream.table(s"$lake.main.t")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          df.select(col("doc_id")).collect().foreach(r => got.add(r.getLong(0)))
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(got.size == 10)
    cat.append("t", docs.filter(col("doc_id") >= 10 && col("doc_id") < 25))
    run() // restart: only the new commit replays
    assert(got.size == 25, s"restart must deliver exactly the new rows, got ${got.size}")

    // a pending MOR tombstone makes append-granular streaming unsound -> fail loudly
    cat.deleteKeysMOR("t", Seq(3L).toDF("doc_id"))
    cat.append("t", docs.filter(col("doc_id") === 99L))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.table(s"$lake.main.t")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => () }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(err.getMessage.contains("tombstones") || err.getCause.getMessage.contains("tombstones"))
  }

  test("maxFilesPerTrigger chunks the initial load and paces commits") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    // 5 single-file commits before the stream starts
    for (r <- 0 until 5)
      cat.append("t", docs.filter(col("doc_id") >= r * 10 && col("doc_id") < r * 10 + 10).coalesce(1))
    assert(cat.dataFiles("t").size == 5)

    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def drain(): Unit = {
      val q = spark.readStream
        .option("maxFilesPerTrigger", 2)
        .table(s"$lake.main.t")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          batchSizes.add(id -> df.count()); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    val sizes = batchSizes.toArray(Array.empty[(Long, Long)]).toSeq.sortBy(_._1).map(_._2)
    // initial load: 5 files / 2 per trigger -> 20, 20, 10 rows
    assert(sizes == Seq(20L, 20L, 10L), s"got $sizes")
    assert(batchSizes.size == 3, "the 100 TB restart case: no single giant initial batch")

    // steady state: 3 one-file commits, budget 2 -> commits are paced,
    // never split, and everything arrives
    batchSizes.clear()
    for (r <- 5 until 8)
      cat.append("t", docs.filter(col("doc_id") >= r * 10 && col("doc_id") < r * 10 + 10).coalesce(1))
    val q2 = spark.readStream
      .option("maxFilesPerTrigger", 2)
      .table(s"$lake.main.t")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batchSizes.add(id -> df.count()); ()
      }.start()
    try q2.processAllAvailable() finally q2.stop()
    val sizes2 = batchSizes.toArray(Array.empty[(Long, Long)]).toSeq.sortBy(_._1).map(_._2)
    assert(sizes2.sum == 80L, s"fresh stream initial-loads all 8 files: $sizes2")
    assert(sizes2.forall(_ <= 20L), s"no batch exceeds the 2-file budget: $sizes2")
  }

  test("SQL metadata tables: t$snapshots, t$files, t$history") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 30)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 10).coalesce(1))
    cat.append("t", docs.filter(col("doc_id") >= 10).coalesce(1))

    val snaps = spark.sql(s"SELECT * FROM $lake.main.`t$$snapshots` ORDER BY seq").collect()
    assert(snaps.length == 3, "create + two appends")
    assert(snaps.last.getLong(7) == 30, "head snapshot reports cumulative rows")
    assert(snaps.map(_.getLong(2)).toSeq == Seq(0L, 1L, 2L), "monotone sequence")
    // r13: every commit carries its operation tag
    assert(snaps.map(_.getString(4)).toSeq == Seq("create", "append", "append"))
    // lineage: each row's parent is the previous row's id
    assert(snaps.sliding(2).forall(p => p(1).getString(1) == p(0).getString(0)))

    val files = spark.sql(
      s"SELECT count(*) AS n, CAST(sum(rows) AS BIGINT) AS r FROM $lake.main.`t$$files`").head
    assert(files.getLong(0) == 2 && files.getLong(1) == 30)
    // per-file footer stats are visible through SQL
    val bounds = spark.sql(
      s"SELECT path, lower['doc_id'], upper['doc_id'] FROM $lake.main.`t$$files`").collect()
    assert(bounds.forall(r => r.getString(1) != null && r.getString(2) != null))

    val hist = spark.sql(
      s"SELECT refs_version, snapshot_id, is_current FROM $lake.main.`t$$history` " +
        "WHERE snapshot_id IS NOT NULL ORDER BY refs_version").collect()
    assert(hist.length == 3, "three catalog commits carried the table")
    assert(hist.count(_.getBoolean(2)) == 1 && hist.last.getBoolean(2),
      "exactly the newest head is current")

    // t$manifests: the manifest-list tier's own view — one row per ref,
    // with the coverage-aware bound columns pruning consults
    val mans = spark.sql(
      s"SELECT n_files, n_rows, seq, stats_v, bounded_columns FROM $lake.main.`t$$manifests` ORDER BY seq")
      .collect()
    assert(mans.length == 2)
    assert(mans.forall(r => r.getLong(0) == 1 && r.getInt(3) >= 2))
    assert(mans.map(_.getLong(1)).sum == 30)
    assert(mans.forall(_.getString(4).contains("doc_id")))

    // unknown kinds and missing bases still error like missing tables
    intercept[Exception] { spark.sql(s"SELECT * FROM $lake.main.`t$$bogus`") }
    intercept[Exception] { spark.sql(s"SELECT * FROM $lake.main.`nope$$files`") }
    // time travel over a metadata table refuses CLEARLY (it would
    // otherwise die resolving tables/t$snapshots/meta/snap-<id>.json)
    val tt = intercept[Exception] {
      spark.sql(s"SELECT * FROM $lake.main.`t$$snapshots` VERSION AS OF '${snaps.head.getString(0)}'")
    }
    assert(tt.getMessage.contains("time travel"), s"got ${tt.getMessage}")
  }

  test("CALL lake.system.* runs catalog maintenance through SQL") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 64)
    cat.createTableIfNotExists("t", docs.schema)
    // interleaved appends: every file spans the id range -> 8 fat files
    for (r <- 0 until 8)
      cat.append("t", docs.filter(col("doc_id") % 8 === r).coalesce(1))
    assert(cat.dataFiles("t").size == 8)
    val before = cat.scan("t").agg(sum("n_chars")).head.getLong(0)

    // sort-clustered rewrite: fewer files, tight ranges, same content
    spark.sql(s"CALL $lake.system.rewrite_data_files('t', 'main', 4, 'doc_id')")
    assert(cat.dataFiles("t").size == 4)
    assert(cat.scan("t").agg(sum("n_chars")).head.getLong(0) == before,
      "maintenance is content-preserving")
    val afterRewrite = cat.dataFiles("t")
    assert(afterRewrite.forall(f => f.lower.contains("doc_id")), "files carry stats")

    // manifest folding: one manifest ref after
    spark.sql(s"CALL $lake.system.rewrite_manifests('t')")
    assert(cat.snapshotMeta("t", cat.snapshotIdOf("t").get).manifests.size == 1)

    // expire: history collapses to the live head, data intact
    val historyBefore = cat.commitHistory("t").size
    assert(historyBefore > 1)
    spark.sql(s"CALL $lake.system.expire_snapshots('t')")
    assert(cat.commitHistory("t").size == 1, "only the head survives expiry")
    assert(cat.scan("t").agg(sum("n_chars")).head.getLong(0) == before)

    // defaults resolve (branch/target_files/cluster_by omitted)
    spark.sql(s"CALL $lake.system.rewrite_data_files('t')")
    assert(cat.dataFiles("t").size == 4)

    // scoped rewrite: only the files the predicate admits fold
    for (r <- 0 until 3)
      cat.append("t", docs.filter(col("doc_id") < 8 && col("doc_id") % 3 === r)
        .withColumn("doc_id", col("doc_id") + 100).coalesce(1))
    val filesBefore = cat.dataFiles("t").size
    spark.sql(s"CALL $lake.system.rewrite_data_files('t', 'main', 1, '', 'doc_id >= 100')")
    assert(cat.dataFiles("t").size < filesBefore,
      "the three hot micro-files must fold into one")
    assert(cat.scan("t").agg(sum("n_chars")).head.getLong(0) > before,
      "content preserved incl. the appended rows")
    val conflict = intercept[Exception](spark.sql(
      s"CALL $lake.system.rewrite_data_files('t', 'main', 1, 'doc_id', 'doc_id < 8')"))
    assert(conflict.getMessage.contains("compose") ||
      Option(conflict.getCause).exists(_.getMessage.contains("compose")))

    // retention-aware expire through SQL: retain_last keeps an ancestor
    val head = cat.snapshotIdOf("t").get
    val parent = cat.snapshotMeta("t", head).parentId.get
    spark.sql(s"CALL $lake.system.expire_snapshots('t', 2)")
    assert(cat.scanSnapshot("t", parent).count() >= 1, "retain_last=2 keeps the parent")

    // z-order layout through the same procedure (alternative to cluster_by)
    spark.sql(s"CALL $lake.system.rewrite_data_files('t', 'main', 2, '', '', 'doc_id,n_chars')")
    val preCount = cat.scan("t").count()
    assert(cat.dataFiles("t").size == 2)

    // partition evolution through SQL: the layout changes, content and
    // pruning follow
    spark.sql(s"CALL $lake.system.rewrite_partitioned('t', 'bucket(4,doc_id)')")
    val evolved = cat.snapshotMeta("t", cat.snapshotIdOf("t").get)
    assert(evolved.partitionSpec.contains("bucket(4,doc_id)"))
    assert(cat.dataFiles("t").forall(_.partition.contains("pv")))

    // snapshot export through SQL: the engine-neutral artifacts land
    val exportDest = java.nio.file.Files.createTempDirectory("sql-export").toString
    spark.sql(s"CALL $lake.system.export_snapshot('t', '$exportDest')")
    assert(new java.io.File(exportDest, "manifest.json").exists())
    assert(new java.io.File(exportDest, "view.sql").exists())
    assert(spark.read.parquet(s"$exportDest/files.parquet").count() >= 1)

    // orphan sweep through SQL: plant residue, fence holds, cutoff reaps
    val orphanDir = new java.io.File(cat.root, "tables/t/data/crashed")
    orphanDir.mkdirs()
    val o = new java.io.File(orphanDir, "part-dead.parquet")
    java.nio.file.Files.write(o.toPath, Array[Byte](1, 2, 3))
    spark.sql(s"CALL $lake.system.remove_orphan_files('t')")
    assert(o.exists(), "the 3-day fence must keep fresh files")
    spark.sql(s"CALL $lake.system.remove_orphan_files('t', ${System.currentTimeMillis() + 60000}L)")
    assert(!o.exists())
    assert(cat.scan("t").count() == preCount)

    // incremental analyze through SQL: sketches land, stats served
    spark.sql(s"CALL $lake.system.analyze_table_incremental('t')")
    val ndv = cat.columnStatsOf("t", cat.snapshotIdOf("t").get)
    assert(ndv.exists(m => math.abs(m("doc_id") - 72L) <= 7),
      s"incremental NDV must approximate the 72 distinct ids (64 + 8 shifted), got $ndv")

    // bloom index through SQL: the same sidecars buildBloomIndex writes,
    // consulted by equality pruning (value absent everywhere -> 0 files)
    spark.sql(s"CALL $lake.system.build_bloom_index('t', 'doc_id')")
    assert(cat.prunedDataFiles("t", col("doc_id") === 9999L).isEmpty,
      "bloom must reject a key no file contains")
    assert(cat.scan("t", filter = Some(col("doc_id") === 7L)).count() == 1)

    intercept[Exception] { spark.sql(s"CALL $lake.system.no_such_proc('t')") }
  }

  test("writeStream.toTable CDC mode: graft.upsert.keys applies audited MOR upserts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val (lake, cat) = register()
    cat.createTableIfNotExists("t",
      Seq((0L, "s", 0L)).toDF("id", "v", "n").schema)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.SQLContext]
    val mem = MemoryStream[(Long, String, Long)]
    val ckpt = Files.createTempDirectory("cdc-ckpt").toString
    def drain(): Unit = {
      val q = mem.toDF.toDF("id", "v", "n")
        .writeStream
        .option("checkpointLocation", ckpt)
        .option("graft.wap", "true")
        .option("graft.checks", "not_null:v")
        .option("graft.upsert.keys", "id")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$lake.main.t")
      q.awaitTermination()
    }

    mem.addData((0L until 10L).map(i => (i, s"v$i", i)): _*)
    drain()
    assert(cat.scan("t").count() == 10)
    val filesAfterLoad = cat.dataFiles("t").size

    // epoch 2: re-delivered keys 5-9 with NEW values + fresh 10-14 —
    // upserted by key, ZERO files rewritten (MOR tombstones)
    mem.addData((5L until 15L).map(i => (i, s"w$i", i * 10)): _*)
    drain()
    assert(cat.scan("t").count() == 15, "replaced keys must not duplicate")
    assert(cat.scan("t").filter(col("id") === 7L).select("v").head.getString(0) == "w7",
      "the new version wins")
    assert(cat.scan("t").filter(col("id") === 2L).select("v").head.getString(0) == "v2",
      "untouched keys keep their rows")
    assert(cat.dataFiles("t").size > filesAfterLoad,
      "CDC applies as appends+tombstones — no rewrite shrank the file set")

    // a dirty batch quarantines; main's CDC state is untouched
    mem.addData((7L, null: String, 0L))
    drain()
    assert(cat.scan("t").filter(col("id") === 7L).select("v").head.getString(0) == "w7")
    assert(cat.listBranches().exists(_.startsWith("stream-t-")), "quarantine branch kept")
    // the epoch record advanced with the applying commits (exactly-once)
    val key = cat.currentRefs().streamEpochs.keys.find(_.endsWith("main.t"))
    assert(key.isDefined && cat.streamEpochOf(key.get).exists(_ >= 2L))
  }

  test("writeStream.toTable routes micro-batches through write-audit-publish") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 40)
      .select("doc_id", "text", "n_chars").as[(Long, String, Long)].collect()
    cat.createTableIfNotExists("t",
      Tables.documents(spark, sfDir).select("doc_id", "text", "n_chars").schema)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.SQLContext]
    val mem = MemoryStream[(Long, String, Long)]
    val ckpt = Files.createTempDirectory("sink-ckpt").toString
    def drain(): Unit = {
      val q = mem.toDF.toDF("doc_id", "text", "n_chars")
        .writeStream
        .option("checkpointLocation", ckpt)
        .option("graft.wap", "true")
        .option("graft.checks", "not_null:text")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$lake.main.t")
      q.awaitTermination()
    }

    mem.addData(docs.take(20).toIndexedSeq: _*)
    drain()
    assert(cat.scan("t").count() == 20, "clean batch published to main")

    // a dirty batch QUARANTINES (branch survives, main untouched), and
    // the stream keeps going
    mem.addData((900L, null: String, 1L), (901L, "ok", 2L))
    drain()
    assert(cat.scan("t").count() == 20, "failed audit leaves main untouched")
    val quarantine = cat.listBranches().filter(_.startsWith("stream-t-"))
    assert(quarantine.size == 1, s"quarantine branch kept: $quarantine")
    assert(cat.scan("t", quarantine.head).count() == 22, "batch inspectable on its branch")

    // stream continues: next clean batch publishes
    mem.addData(docs.slice(20, 40).toIndexedSeq: _*)
    drain()
    assert(cat.scan("t").count() == 40)

    // raw sink refusal for main: no graft.wap -> refused up front
    val mem2 = MemoryStream[(Long, String, Long)]
    mem2.addData((1L, "x", 1L))
    val err = intercept[Exception] {
      val q = mem2.toDF.toDF("doc_id", "text", "n_chars")
        .writeStream
        .option("checkpointLocation", Files.createTempDirectory("sink-raw").toString)
        .trigger(Trigger.AvailableNow())
        .toTable(s"$lake.main.t")
      q.awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(err).exists(_.contains("write-audit-publish")), s"got ${msgs(err)}")

    // graft.wap with NO checks is a vacuous audit -> refused up front
    val errVacuous = intercept[Exception] {
      val q = mem2.toDF.toDF("doc_id", "text", "n_chars")
        .writeStream
        .option("checkpointLocation", Files.createTempDirectory("sink-vac").toString)
        .option("graft.wap", "true")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$lake.main.t")
      q.awaitTermination()
    }
    assert(msgs(errVacuous).exists(_.contains("empty audit")), s"got ${msgs(errVacuous)}")

    // branch targets are raw staging appends (audit later), like INSERT —
    // and a table the stream CREATES lands on the TARGET branch, not main
    spark.sql(s"CREATE NAMESPACE $lake.ingest")
    val mem3 = MemoryStream[(Long, String, Long)]
    mem3.addData((500L, "staged", 6L))
    val q3 = mem3.toDF.toDF("doc_id", "text", "n_chars")
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("sink-br").toString)
      .trigger(Trigger.AvailableNow())
      .toTable(s"$lake.ingest.fresh_stream")
    q3.awaitTermination()
    assert(cat.scan("fresh_stream", "ingest").count() == 1)
    assert(!cat.tableExists("fresh_stream"),
      "a branch-targeted stream must not create its table on main")
    assert(cat.scan("t", "main").filter(col("doc_id") === 500L).count() == 0)
  }

  test("streaming sink is exactly-once: replayed epochs never duplicate") {
    import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriterCommitMessage}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val (lake, cat) = register()
    val sch = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, n_chars BIGINT")
    cat.createTableIfNotExists("t", sch)
    val root = spark.conf.get(s"spark.sql.catalog.$lake.root")

    // drive the StreamingWrite directly so each epoch can be RE-DELIVERED
    // (Spark replays the last epoch after any crash between the write
    // commit and the checkpoint advance — that is the window under test)
    def writeInfo(opts: Map[String, String]) = new LogicalWriteInfo {
      override def queryId(): String = "q-replay-test"
      override def schema(): org.apache.spark.sql.types.StructType = sch
      override def options(): CaseInsensitiveStringMap =
        new CaseInsensitiveStringMap(opts.asJava)
    }
    def stage(rows: Seq[(Long, String, Long)]): Array[WriterCommitMessage] = {
      val dir = Files.createTempDirectory("staged").toString
      rows.toDF("doc_id", "text", "n_chars").coalesce(1)
        .write.mode("overwrite").parquet(dir)
      Array(GraftStagedFiles(new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq))
    }
    val clean = (0 until 20).map(i => (i.toLong, s"doc $i", 6L))
    val t = GraftTable(root, "main", "t", cat.snapshotIdOf("t").get, sch)
    val w = new GraftStreamingWrite(t,
      writeInfo(Map("graft.wap" -> "true", "graft.checks" -> "not_null:text")))

    // epoch 0 publishes; the epoch id is recorded INSIDE the publishing
    // refs swap (same document version as the new main head)
    w.commit(0, stage(clean))
    assert(cat.scan("t").count() == 20)
    assert(cat.streamEpochOf("q-replay-test/main.t").contains(0L))

    // full replay of epoch 0 (crash after commit, before checkpoint):
    // freshly staged copies of the same batch must be discarded unread
    val replayed = stage(clean)
    w.commit(0, replayed)
    assert(cat.scan("t").count() == 20, "replayed epoch must not duplicate")
    assert(replayed.collect { case GraftStagedFiles(f) => f }.flatten
      .forall(p => !new java.io.File(p).exists()), "replayed stage files cleaned")

    // crash AFTER the branch fork but BEFORE the publishing merge: the
    // half-built audit branch is dropped and the epoch re-runs cleanly
    cat.createBranch("stream-t-1", from = "main")
    cat.append("t", Seq((100L, "partial", 7L)).toDF("doc_id", "text", "n_chars"), "stream-t-1")
    w.commit(1, stage((20 until 40).map(i => (i.toLong, s"doc $i", 6L))))
    assert(cat.scan("t").count() == 40)
    assert(!cat.listBranches().contains("stream-t-1"), "published audit branch dropped")

    // a FAILED audit quarantines and records its epoch; the replay must
    // neither touch main NOR drop the quarantine branch
    w.commit(2, stage(Seq((900L, null: String, 1L))))
    assert(cat.scan("t").count() == 40)
    assert(cat.streamEpochOf("q-replay-test/main.t").contains(2L))
    assert(cat.scan("t", "stream-t-2").count() == 41)
    w.commit(2, stage(Seq((900L, null: String, 1L))))
    assert(cat.scan("t").count() == 40)
    assert(cat.listBranches().contains("stream-t-2"), "quarantine survives replay")
    assert(cat.scan("t", "stream-t-2").count() == 41, "quarantine not duplicated")

    // branch-staging mode (no WAP): the append commit itself carries the
    // stamp — ONE refs version publishes the rows AND the record
    cat.createBranch("ingest", from = "main")
    val tb = GraftTable(root, "ingest", "t", cat.snapshotIdOf("t").get, sch)
    val wb = new GraftStreamingWrite(tb, writeInfo(Map.empty))
    val vBefore = cat.currentRefs().version
    wb.commit(0, stage(Seq((700L, "staged", 6L))))
    val refs = cat.currentRefs()
    assert(refs.version == vBefore + 1, "append + epoch record must be ONE commit")
    assert(refs.streamEpochs.get("q-replay-test/ingest.t").contains(0L))
    assert(cat.scan("t", "ingest").count() == 41)
    wb.commit(0, stage(Seq((700L, "staged", 6L))))
    assert(cat.scan("t", "ingest").count() == 41, "branch replay must not duplicate")
  }

  test("ANALYZE: NDV sketches reach connector column stats; joins broadcast unhinted") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("fact", docs.schema)
    cat.append("fact", docs) // 500 rows
    cat.createTableIfNotExists("dim",
      docs.select(col("source"), col("lang")).distinct().schema)
    cat.append("dim", docs.select(col("source"), col("lang")).distinct())

    spark.sql(s"CALL $lake.system.analyze_table('fact')")

    def stats() = {
      val id = cat.snapshotIdOf("fact").get
      GraftTable(cat.root, "main", "fact", id, cat.schemaOfSnapshot("fact", id))
        .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.emptyMap())).build()
        .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics()
    }
    val cs = stats().columnStats()
    val byName = cs.entrySet().toArray.map { e =>
      val kv = e.asInstanceOf[java.util.Map.Entry[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]]
      kv.getKey.fieldNames().mkString(".") -> kv.getValue
    }.toMap
    val exactDocs = docs.select(countDistinct("doc_id")).head.getLong(0)
    val ndv = byName("doc_id").distinctCount().getAsLong
    assert(math.abs(ndv - exactDocs).toDouble / exactDocs < 0.1,
      s"approx NDV $ndv vs exact $exactDocs")
    assert(byName("text").nullCount().isPresent, "exact null counts from manifests")

    // stats survive the table advancing (nearest-ancestor blob)
    cat.append("fact", docs.limit(5))
    assert(stats().columnStats().size() > 0, "nearest-ancestor analyze blob serves")

    // the small dim broadcasts with NO hint, from connector-reported
    // stats alone
    // the dim's optimized relation carries REAL stats (the native batch
    // scan reports them; the old V1ScanWrapper hid them from the planner)
    val dimPlan = spark.sql(s"SELECT * FROM $lake.main.dim").queryExecution.optimizedPlan
    assert(dimPlan.stats.sizeInBytes < (1L << 20),
      s"planner must see the dim's true size, got ${dimPlan.stats.sizeInBytes}")
    val q = spark.sql(
      s"SELECT f.doc_id, d.lang FROM $lake.main.fact f JOIN $lake.main.dim d ON f.source = d.source")
    assert(q.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "small dim must broadcast without a hint, from connector stats alone")
    assert(q.count() > 0)
  }

  test("the native batch scan prunes files from pushed filters (connector path)") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 64)
    cat.createTableIfNotExists("t", docs.schema)
    cat.appendClustered("t", docs, Seq("doc_id"), files = 8)
    assert(cat.dataFiles("t").size >= 8)

    val q = spark.sql(s"SELECT doc_id FROM $lake.main.t WHERE doc_id = 33")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(33L))
    // the physical scan is the NATIVE batch scan, and its input was
    // manifest-pruned to fewer splits than the table's file count
    val batchScans = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(batchScans.nonEmpty, "connector read must plan a DSv2 batch scan")
    val nFiles = batchScans.head.inputPartitions
      .map(_.asInstanceOf[GraftFilesPartition].files.size).sum
    assert(nFiles < 8, s"point predicate must prune clustered files, scanned $nFiles")
    // the scan hands over whole vectorized batches (atomic schema):
    // Spark plans it columnar and converts with codegen'd ColumnarToRow
    assert(batchScans.head.supportsColumnar,
      "atomic-schema connector reads must cross the DSv2 boundary columnar")
    assert(q.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "columnar scan must be consumed through ColumnarToRow")
  }

  test("CREATE TABLE PARTITIONED BY maps onto hidden partitioning; SQL inserts prune") {
    val (lake, cat) = register()
    spark.sql(s"CREATE NAMESPACE $lake.wip")
    spark.sql(s"CREATE TABLE $lake.wip.pt (doc_id BIGINT, n_chars BIGINT) " +
      "PARTITIONED BY (bucket(8, doc_id))")
    // the transform landed on the table's first snapshot
    val created = cat.snapshotMeta("pt", cat.snapshotIdOf("pt", "wip").get)
    assert(created.partitionSpec.contains("bucket(8,doc_id)"))
    // DESCRIBE surfaces the declared layout
    val desc = spark.sql(s"DESCRIBE TABLE $lake.wip.pt").collect().map(_.mkString("|"))
    assert(desc.exists(_.contains("bucket")), desc.mkString("\n"))

    // a plain SQL INSERT writes partition-VALUED files (no Scala API ever
    // touched) …
    spark.sql(s"INSERT INTO $lake.wip.pt " +
      s"SELECT doc_id, n_chars FROM parquet.`$sfDir/documents.parquet` WHERE doc_id < 64")
    val files = cat.dataFiles("pt", "wip")
    assert(files.size == 8 && files.forall(_.partition.contains("pv")),
      s"expected 8 bucket files with transform values, got ${files.size}")

    // … and a point predicate through SQL reads 1/8 of the files
    val q = spark.sql(s"SELECT n_chars FROM $lake.wip.pt WHERE doc_id = 33")
    val (scans, nFiles) = graftScans(q)
    assert(scans.nonEmpty, s"expected the graft batch scan, got:\n${q.queryExecution.executedPlan}")
    assert(nFiles == 1, "bucket transform must admit exactly one file for a point predicate")
    assert(q.collect().length == 1)

    // CTAS carries the transform too (staged create + partitioned write)
    spark.sql(s"CREATE TABLE $lake.wip.pt2 PARTITIONED BY (bucket(4, doc_id)) " +
      s"AS SELECT doc_id, n_chars FROM parquet.`$sfDir/documents.parquet` WHERE doc_id < 40")
    val ctas = cat.snapshotMeta("pt2", cat.snapshotIdOf("pt2", "wip").get)
    assert(ctas.partitionSpec.contains("bucket(4,doc_id)"))
    assert(cat.dataFiles("pt2", "wip").forall(_.partition.contains("pv")))
    assert(spark.sql(s"SELECT count(*) FROM $lake.wip.pt2").head.getLong(0) == 40)

    // time transform: days(ts) lowers onto day(ts)
    spark.sql(s"CREATE TABLE $lake.wip.evts (event_id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    assert(cat.snapshotMeta("evts", cat.snapshotIdOf("evts", "wip").get)
      .partitionSpec.contains("day(ts)"))

    // multi-transform layouts are first-class since r13
    // (MultiPartitionSpec); two transforms over ONE column still refuse
    // (a file would carry two conflicting values for the same source)
    val dupColumn = intercept[Exception] {
      spark.sql(s"CREATE TABLE $lake.wip.bad1 (a BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (days(ts), months(ts))")
    }
    assert(dupColumn.getMessage.contains("own source column"))
    // identity layout is first-class since r13 (string/numeric sources);
    // a TIMESTAMP identity still refuses (session-tz-dependent value)
    spark.sql(s"CREATE TABLE $lake.wip.idok (a BIGINT, s STRING) PARTITIONED BY (s)")
    assert(cat.snapshotMeta("idok", cat.snapshotIdOf("idok", "wip").get)
      .partitionSpec.contains("identity(s)"))
    val identityTs = intercept[Exception] {
      spark.sql(s"CREATE TABLE $lake.wip.bad2 (a BIGINT, ts2 TIMESTAMP) PARTITIONED BY (ts2)")
    }
    assert(identityTs.getMessage.contains("day/month/hour"))
    // Spark's own analysis catches the unknown column first; graft's
    // schema check (specOfTransforms) is the backstop for API callers
    val badCol = intercept[Exception] {
      spark.sql(s"CREATE TABLE $lake.wip.bad3 (a BIGINT) PARTITIONED BY (bucket(4, nope))")
    }
    assert(badCol.getMessage.contains("nope"))
    assert(!cat.tableExists("bad1", "wip") && !cat.tableExists("bad2", "wip") &&
      !cat.tableExists("bad3", "wip"))
  }

  test("one query pins one snapshot (analysis-time isolation)") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 10))
    // self-join through TWO references: both resolve to the same pinned
    // snapshot id, so the join is consistent even if a commit raced
    val j = spark.sql(
      s"SELECT count(*) FROM $lake.main.t a JOIN $lake.main.t b ON a.doc_id = b.doc_id")
    assert(j.head.getLong(0) == 10)
  }

  test("runtime (DPP) join-key filters re-prune the batch scan's splits") {
    // the full lifecycle the driver gate runs: e2e SQL join plants a
    // dynamicpruning filter on the connector scan AND the scan-level
    // filter() call shrinks the planned splits
    val row = GraftRuntimePrune.query(spark, sfDir).collect().head
    assert(row.getLong(0) == 4, "4 selective dim keys join 4 fact rows")
    assert(row.getLong(2) == 8, "bucket(8) fact table wrote 8 files")
    assert(row.getBoolean(3), "runtime IN filter must re-prune file splits")
    assert(row.getBoolean(4), "SQL join must plant a dynamicpruning runtime filter")

    // conservatism: a predicate the pruner cannot evaluate prunes NOTHING
    // (runtime filters are advisory — dropping a file wrongly loses rows)
    val (_, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 32)
      .select(col("doc_id"), col("text"))
    cat.createTableIfNotExists("t", docs.schema)
    cat.appendClustered("t", docs, Seq("doc_id"), files = 4)
    val tbl = GraftTable(cat.root, "main", "t",
      cat.snapshotIdOf("t", "main").get, docs.schema)
    val scan = new GraftScanBuilder(tbl).build().asInstanceOf[GraftBatchScan]
    val before = scan.planInputPartitions()
      .map { case GraftFilesPartition(fs) => fs.size case _ => 0 }.sum
    import org.apache.spark.sql.connector.expressions.{Expressions => E}
    scan.filter(Array(new org.apache.spark.sql.connector.expressions.filter.Predicate(
      "ENDS_WITH", Array[org.apache.spark.sql.connector.expressions.Expression](
        E.column("text"),
        E.literal(org.apache.spark.unsafe.types.UTF8String.fromString("xyz"))))))
    val after = scan.planInputPartitions()
      .map { case GraftFilesPartition(fs) => fs.size case _ => 0 }.sum
    assert(after == before, "unconvertible runtime predicates must not prune")
  }

  test("runtime DPP keys compose with the bloom index on unclustered files") {
    // the flagship 100 TB shape: the fact table is NOT clustered or
    // partitioned by the join key (ranges fully overlap), so neither
    // footer stats nor transform values prune — only the bloom sidecars
    // can reject files for the runtime key set
    val (_, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 64)
      .select(col("doc_id"), col("n_chars"))
    cat.createTableIfNotExists("fact", docs.schema)
    for (r <- 0 until 4)
      cat.appendClustered("fact", docs.filter(col("doc_id") % 4 === r), Seq("doc_id"), files = 1)
    cat.buildBloomIndex("fact", "doc_id", fpp = 0.001)
    val tbl = GraftTable(cat.root, "main", "fact",
      cat.snapshotIdOf("fact", "main").get, docs.schema)
    val scan = new GraftScanBuilder(tbl).build().asInstanceOf[GraftBatchScan]
    def nFiles = scan.planInputPartitions()
      .map { case GraftFilesPartition(fs) => fs.size case _ => 0 }.sum
    assert(nFiles == 4, "unclustered: static planning admits every file")
    import org.apache.spark.sql.connector.expressions.{Expressions => E}
    scan.filter(Array(new org.apache.spark.sql.connector.expressions.filter.Predicate(
      "IN", Array[org.apache.spark.sql.connector.expressions.Expression](
        E.column("doc_id"), E.literal(5L), E.literal(9L)))))
    // keys 5 and 9 both live in file r=1 — bloom rejects the other three
    assert(nFiles < 4, "runtime IN keys must prune via bloom sidecars")
    assert(nFiles >= 1, "the admitting file survives")
  }

  test("pushed filters reach INTO the parquet reader (row-group skipping)") {
    // one file, many row groups: a tiny block size makes the writer roll
    // groups as it checks memory, so footer stats can skip within-file
    val dir = Files.createTempDirectory("graft-rg").toString + "/t"
    spark.range(0, 20000).selectExpr("id AS doc_id", "id * 2 AS n_chars")
      .coalesce(1).sortWithinPartitions("doc_id")
      .write.option("parquet.block.size", 16 * 1024).parquet(dir)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("doc_id BIGINT, n_chars BIGINT")
    val bridge = org.apache.spark.sql.graft.Bridge
    def rows(filters: Seq[org.apache.spark.sql.sources.Filter]): Int =
      bridge.flattenBatches(bridge.parquetReadFunc(spark, schema, schema, filters)(
        bridge.partitionedFile(f.getAbsolutePath, f.length()))).size
    val all = rows(Seq.empty)
    assert(all == 20000)
    val filtered = rows(Seq(org.apache.spark.sql.sources.LessThan("doc_id", 100L)))
    assert(filtered < all, "reader-level pushdown must skip row groups")
    assert(filtered >= 100, "skipping must never drop matching rows")
  }

  test("CALL system.publish closes the SQL-only WAP cycle (audited merge)") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 40)
      .select("doc_id", "text", "n_chars")
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 20))

    // clean staged batch -> audited publish reaches main
    spark.sql(s"CREATE NAMESPACE $lake.wip")
    spark.sql(s"INSERT INTO $lake.wip.t SELECT doc_id, text, n_chars FROM " +
      s"parquet.`$sfDir/documents.parquet` WHERE doc_id >= 20 AND doc_id < 40")
    spark.sql(s"CALL $lake.system.publish('t', 'wip', 'not_null:text')")
    assert(cat.scan("t").count() == 40)
    // drop_branch=false by default: the namespace is still there
    assert(cat.listBranches().contains("wip"))

    // dirty staged batch -> the CALL throws, main untouched, branch kept
    spark.sql(s"CREATE NAMESPACE $lake.dirty")
    spark.sql(s"INSERT INTO $lake.dirty.t " +
      s"SELECT doc_id + 100, CAST(NULL AS STRING), n_chars FROM " +
      s"parquet.`$sfDir/documents.parquet` WHERE doc_id < 5")
    val e = intercept[Exception] {
      spark.sql(s"CALL $lake.system.publish('t', 'dirty', 'not_null:text')")
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    assert(msgs(e).contains("audit FAILED"), msgs(e))
    assert(cat.scan("t").count() == 40, "a failed audit must publish nothing")
    assert(cat.scan("t", "dirty").count() == 45, "branch kept for inspection")

    // an empty check list is an unaudited merge: refused
    val e2 = intercept[Exception] {
      spark.sql(s"CALL $lake.system.publish('t', 'dirty', '')")
    }
    assert(msgs(e2).contains("no checks"), msgs(e2))
  }

  test("t$partitions rolls up per-partition stats; rollback + audited cherry-pick procedures") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 40)
      .select(col("doc_id"), col("n_chars"))
    val spec = graft.wap.PartitionSpec.parse("bucket(4,doc_id)")
    cat.createTableIfNotExists("pt", docs.schema, spec = Some(spec))
    cat.appendPartitioned("pt", docs, spec)

    // $partitions: one row per bucket, distributed rollup, spec attached
    val parts = spark.sql(
      s"SELECT partition, n_files, n_rows, spec FROM $lake.main.`pt$$partitions`").collect()
    assert(parts.length == 4, s"bucket(4) table must roll up to 4 partitions, got ${parts.length}")
    assert(parts.map(_.getLong(2)).sum == 40)
    assert(parts.forall(_.getString(3) == "bucket(4,doc_id)"))
    // unpartitioned tables roll up under a NULL partition value
    cat.createTableIfNotExists("flat", docs.schema)
    cat.append("flat", docs)
    val flat = spark.sql(
      s"SELECT partition, n_rows FROM $lake.main.`flat$$partitions`").collect()
    assert(flat.length == 1 && flat.head.isNullAt(0) && flat.head.getLong(1) == 40)

    // cherry-pick: an append commit on a branch replays onto main ONLY
    // through a passing audit (the WAP contract holds for this publish
    // path too); idempotent on re-call
    cat.createBranch("wip")
    val snap = cat.append("flat", docs.withColumn("doc_id", col("doc_id") + 100), "wip")
    def msgs(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val unaudited = intercept[Exception](spark.sql(
      s"CALL $lake.system.cherrypick_snapshot('flat', '${snap.id}')"))
    assert(msgs(unaudited).contains("publish"), msgs(unaudited))
    spark.sql(s"CALL $lake.system.cherrypick_snapshot('flat', '${snap.id}', 'main', 'not_null:doc_id')")
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.flat").head.getLong(0) == 80)
    spark.sql(s"CALL $lake.system.cherrypick_snapshot('flat', '${snap.id}', 'main', 'not_null:doc_id')")
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.flat").head.getLong(0) == 80,
      "cherry-pick must be idempotent")

    // a failing audit publishes nothing
    val dirty = cat.append("flat",
      docs.withColumn("doc_id", when(col("doc_id") === 5, lit(null)).otherwise(col("doc_id") + 500)),
      "wip")
    val failed = intercept[Exception](spark.sql(
      s"CALL $lake.system.cherrypick_snapshot('flat', '${dirty.id}', 'main', 'not_null:doc_id')"))
    assert(msgs(failed).contains("audit FAILED"), msgs(failed))
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.flat").head.getLong(0) == 80)

    // rollback_table: main returns to the pre-cherry-pick ancestor;
    // non-ancestors refuse
    val firstId = cat.snapshotMeta("flat",
      cat.snapshotIdOf("flat", "main").get).parentId.get
    spark.sql(s"CALL $lake.system.rollback_table('flat', '$firstId')")
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.flat").head.getLong(0) == 40)
    val bogus = intercept[Exception](spark.sql(
      s"CALL $lake.system.rollback_table('flat', '${dirty.id}')"))
    assert(msgs(bogus).contains("ancestor"), msgs(bogus))
  }

  test("branch-versioned views: CREATE VIEW per branch, branch isolation, merge publishes") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 100)
      .select(col("doc_id"), col("n_chars"))
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 50))

    // a view created on main re-analyzes per read: it follows the data
    spark.sql(s"CREATE VIEW $lake.main.big AS " +
      s"SELECT doc_id FROM $lake.main.t WHERE n_chars > 0")
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.big").head.getLong(0) == 50)
    cat.append("t", docs.filter(col("doc_id") >= 50))
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.big").head.getLong(0) == 100,
      "view must track its table's live data")
    assert(spark.sql(s"SHOW VIEWS IN $lake.main").collect().map(_.getString(1)).contains("big"))

    // branch isolation: a view EDITED on a branch leaves main's intact;
    // merge publishes the branch's definition
    spark.sql(s"CREATE NAMESPACE $lake.dev")
    spark.sql(s"CREATE OR REPLACE VIEW $lake.dev.big AS " +
      s"SELECT doc_id FROM $lake.dev.t WHERE doc_id >= 90")
    assert(spark.sql(s"SELECT count(*) FROM $lake.dev.big").head.getLong(0) == 10)
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.big").head.getLong(0) == 100,
      "main's view must be untouched by the branch edit")
    cat.merge("dev")
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.big").head.getLong(0) == 10,
      "merge publishes the branch's view definition")

    // lifecycle: ALTER VIEW AS redefines, RENAME moves the name, DROP
    // removes it; table-name collisions refuse
    spark.sql(s"ALTER VIEW $lake.main.big AS " +
      s"SELECT doc_id FROM $lake.main.t WHERE doc_id >= 95")
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.big").head.getLong(0) == 5)
    spark.sql(s"ALTER VIEW $lake.main.big RENAME TO recent")
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.recent").head.getLong(0) == 5)
    intercept[Exception](spark.sql(s"CREATE VIEW $lake.main.t AS SELECT 1 AS x"))
    spark.sql(s"DROP VIEW $lake.main.recent")
    intercept[Exception](spark.sql(s"SELECT count(*) FROM $lake.main.recent").collect())
    // a bare name inside a view body resolves against the view's OWN
    // branch (creation-context capture)
    spark.sql(s"CREATE VIEW $lake.dev.bare AS SELECT doc_id FROM t WHERE doc_id < 5")
    assert(spark.sql(s"SELECT count(*) FROM $lake.dev.bare").head.getLong(0) == 5)
    // views over views expand transitively (incl. a bare inner reference)
    spark.sql(s"CREATE VIEW $lake.dev.nested AS SELECT * FROM bare WHERE doc_id >= 2")
    assert(spark.sql(s"SELECT count(*) FROM $lake.dev.nested").head.getLong(0) == 3)
    // a recursive definition fails loudly instead of looping the analyzer
    cat.createView("self",
      graft.wap.ViewDef(s"SELECT * FROM $lake.dev.self", lake, Seq("dev"), ""), "dev")
    val rec = intercept[Exception](spark.sql(s"SELECT * FROM $lake.dev.self").collect())
    def chain(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(chain(rec).contains("recursive"), chain(rec))
  }

  test("tags through SQL: read-only namespaces, VERSION AS OF by name, procedures") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 100)
      .select(col("doc_id"), col("n_chars"))
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 40))
    spark.sql(s"CALL $lake.system.create_tag('rel1')")
    cat.append("t", docs.filter(col("doc_id") >= 40))

    // a tag namespace reads the frozen state; the branch reads the head;
    // VERSION AS OF resolves the tag by NAME on the branch namespace
    assert(spark.sql(s"SELECT count(*) FROM $lake.rel1.t").head.getLong(0) == 40)
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.t").head.getLong(0) == 100)
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.t VERSION AS OF 'rel1'")
      .head.getLong(0) == 40)
    // SHOW NAMESPACES lists the tag; SHOW TABLES works inside it;
    // metadata tables resolve through it
    assert(spark.sql(s"SHOW NAMESPACES IN $lake").collect().map(_.getString(0)).contains("rel1"))
    assert(spark.sql(s"SHOW TABLES IN $lake.rel1").collect().map(_.getString(1)).contains("t"))
    assert(spark.sql(s"SELECT count(*) FROM $lake.rel1.`t$$files`").head.getLong(0) >= 1)
    // $refs surfaces the whole ref surface: every branch AND tag
    assert(spark.sql(s"SELECT ref, kind FROM $lake.main.`t$$refs`").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("main", "branch"), ("rel1", "tag")))

    def msgs(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    // every mutation path refuses the tag BY NAME
    val ins = intercept[Exception](
      spark.sql(s"INSERT INTO $lake.rel1.t VALUES (999, 1)"))
    assert(msgs(ins).contains("TAG"), msgs(ins))
    val upd = intercept[Exception](
      spark.sql(s"UPDATE $lake.rel1.t SET n_chars = 0 WHERE doc_id = 1"))
    assert(msgs(upd).contains("TAG"), msgs(upd))
    val del = intercept[Exception](
      spark.sql(s"DELETE FROM $lake.rel1.t WHERE doc_id = 1"))
    assert(msgs(del).contains("TAG"), msgs(del))
    val drop = intercept[Exception](spark.sql(s"DROP NAMESPACE $lake.rel1"))
    assert(msgs(drop).contains("drop_tag"), msgs(drop))
    val ddl = intercept[Exception](
      spark.sql(s"CREATE TABLE $lake.rel1.t2 (a BIGINT)"))
    assert(msgs(ddl).contains("TAG"), msgs(ddl))

    // expiry never reclaims what a tag pins, even after branch rewrites
    cat.deleteWhere("t", col("doc_id") < 20, "main")
    cat.expireSnapshots("t")
    assert(spark.sql(s"SELECT count(*) FROM $lake.rel1.t").head.getLong(0) == 40)

    // drop_tag releases the namespace
    spark.sql(s"CALL $lake.system.drop_tag('rel1')")
    assert(!spark.sql(s"SHOW NAMESPACES IN $lake").collect()
      .map(_.getString(0)).contains("rel1"))
    intercept[Exception](spark.sql(s"SELECT count(*) FROM $lake.rel1.t").collect())
  }

  test("multi-table transactions through SQL: one atomic publish; abort publishes nothing") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "n_chars").filter(col("doc_id") < 100)
    cat.createTableIfNotExists("facts", docs.schema)
    cat.createTableIfNotExists("audit", docs.schema)
    cat.append("facts", docs.filter(col("doc_id") < 50))

    docs.filter(col("doc_id") >= 50).createOrReplaceTempView("txn_facts_src")
    docs.filter(col("doc_id") < 10).createOrReplaceTempView("txn_audit_src")

    // staged writes are INVISIBLE until commit — both tables advance in
    // ONE refs swap
    spark.sql(s"CALL $lake.system.begin_transaction('t1')")
    spark.sql(s"CALL $lake.system.stage_append('t1', 'facts', 'txn_facts_src')")
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.facts").head.getLong(0) == 50L)
    spark.sql(s"CALL $lake.system.stage_append('t1', 'audit', 'txn_audit_src')")
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.audit").head.getLong(0) == 0L)
    spark.sql(s"CALL $lake.system.commit_transaction('t1')")
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.facts").head.getLong(0) == 100L)
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.audit").head.getLong(0) == 10L)
    // the handle is gone after commit
    def msgs(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append('|'); c = c.getCause }
      sb.toString
    }
    val gone = intercept[Exception](
      spark.sql(s"CALL $lake.system.commit_transaction('t1')"))
    assert(msgs(gone).contains("no open transaction"))

    // abort: stage against both tables, then walk away — nothing publishes
    spark.sql(s"CALL $lake.system.begin_transaction('t2')")
    spark.sql(s"CALL $lake.system.stage_append('t2', 'facts', 'txn_audit_src')")
    spark.sql(s"CALL $lake.system.stage_delete_keys('t2', 'audit', 'txn_audit_src')")
    spark.sql(s"CALL $lake.system.abort_transaction('t2')")
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.facts").head.getLong(0) == 100L)
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.audit").head.getLong(0) == 10L)

    // double-begin refuses; a delete staged through a txn applies MOR
    spark.sql(s"CALL $lake.system.begin_transaction('t3')")
    val dup = intercept[Exception](
      spark.sql(s"CALL $lake.system.begin_transaction('t3')"))
    assert(msgs(dup).contains("already open"))
    spark.sql(s"CALL $lake.system.stage_delete_keys('t3', 'facts', 'txn_audit_src')")
    spark.sql(s"CALL $lake.system.commit_transaction('t3')")
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.facts").head.getLong(0) == 90L)
  }

  test("commit claims the txn handle atomically; a failed commit re-registers it") {
    val (_, cat) = register()
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "n_chars").filter(col("doc_id") < 20)
    cat.createTableIfNotExists("facts", docs.schema)
    cat.beginTransaction("tr")
    cat.stageAppend("tr", "facts", docs)
    // make the publish fail AFTER the handle claim: the commit must put
    // the handle back so retry-or-explicit-abort still works (and a
    // SECOND concurrent commit could never double-publish — it would see
    // "no open transaction" the instant the first claimed the handle)
    cat.dropTable("facts")
    intercept[Exception](cat.commitTransaction("tr"))
    cat.abortTransaction("tr") // handle survived the failed commit
    val gone = intercept[Exception](cat.abortTransaction("tr"))
    assert(gone.getMessage.contains("no open transaction"))
  }
}
