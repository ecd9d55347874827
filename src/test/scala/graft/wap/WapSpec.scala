package graft.wap

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.{SparkSpecBase, Tables}
import graft.quality._
import graft.sources.DataGen

class WapSpec extends SparkSpecBase {

  private def freshCatalog() =
    new BranchCatalog(spark, Files.createTempDirectory("wap-spec").toString)

  test("a metadata write failing for any reason but an existing target surfaces its own I/O error") {
    val schema = StructType.fromDDL("id BIGINT")
    // a directory name past NAME_MAX cannot be created: the snapshot
    // write must report that, not claim the snapshot already exists
    val e1 = intercept[java.nio.file.FileSystemException] {
      freshCatalog().createTableIfNotExists("t" * 300, schema)
    }
    assert(!e1.getMessage.contains("already exists"))
    // the refs commit: an I/O error is not a lost race, so it neither
    // retries nor reports one
    val root = Files.createTempDirectory("wap-spec").resolve("r" * 300).toString
    val e2 = intercept[java.nio.file.FileSystemException] {
      new BranchCatalog(spark, root).createBranch("b")
    }
    assert(!e2.getMessage.contains("races"))
  }

  test("create table, append, scan round-trips rows") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 50)
    cat.createTableIfNotExists("t", docs.schema)
    assert(cat.listTables() == Seq("t"))
    cat.append("t", docs)
    assert(cat.scan("t").count() == 50)
    // second createIfNotExists is a no-op returning false (reference
    // app.py:125 returns False when the table exists)
    assert(!cat.createTableIfNotExists("t", docs.schema))
  }

  test("branch isolation: main never sees unpublished rows") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 10))
    cat.createBranch("b1")
    cat.append("t", docs.filter(col("doc_id") >= 10 && col("doc_id") < 30), "b1")
    assert(cat.scan("t", "main").count() == 10)
    assert(cat.scan("t", "b1").count() == 30)
    cat.merge("b1")
    assert(cat.scan("t", "main").count() == 30)
    cat.dropBranch("b1")
    assert(cat.listBranches() == Seq("main"))
  }

  test("merge is 3-way: concurrent appends on main are preserved") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 10))
    cat.createBranch("b1")
    cat.append("t", docs.filter(col("doc_id") >= 10 && col("doc_id") < 20), "b1")
    // concurrent publish directly on main while b1 is open
    cat.append("t", docs.filter(col("doc_id") >= 90 && col("doc_id") < 95), "main")
    cat.merge("b1")
    val ids = cat.scan("t", "main").select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids.length == 25)
    assert(ids.take(20).toSeq == (0L until 20L))
    assert(ids.drop(20).toSeq == (90L until 95L))
  }

  test("time travel: historical snapshot ids stay readable") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 10))
    val snap1 = cat.snapshotIdOf("t").get
    cat.append("t", docs.filter(col("doc_id") >= 10 && col("doc_id") < 30))
    assert(cat.scanSnapshot("t", snap1).count() == 10)
    assert(cat.scan("t").count() == 30)
  }

  test("full WAP: clean batch publishes, faulty batch stays on its branch and alerts") {
    val cat = freshCatalog()
    val alerter = new BufferAlerter
    val clean = DataGen.customerBatch(spark, 1000)
    val faulty = DataGen.customerBatch(spark, 500, injectNulls = true, nullEvery = 100)
    val checks = Seq(NotNull("my_col_1"))

    val r1 = Wap.run(cat, "customer_data_log", clean, checks, "up-1", alerter)
    assert(r1.published && alerter.alerts.isEmpty)
    assert(cat.scan("customer_data_log").count() == 1000)

    val r2 = Wap.run(cat, "customer_data_log", faulty, checks, "up-2", alerter)
    assert(!r2.published)
    assert(alerter.alerts.map(_._2) == Seq("up-2"))
    assert(r2.report.failed.head.violations == 5) // ids 0,100,200,300,400
    // main unchanged, failed branch kept for inspection
    assert(cat.scan("customer_data_log", "main").count() == 1000)
    assert(cat.scan("customer_data_log", "up-2").count() == 1500)
    assert(cat.listBranches().contains("up-2"))
  }

  test("cross checks gate publishing: drifting or orphaned batches quarantine like null violations") {
    val spark0 = spark
    import spark0.implicits._
    val cat = freshCatalog()
    val alerter = new BufferAlerter
    def batch(shift: Double, idBase: Long) =
      (0 until 500).map(i => (idBase + i, 50.0 + (i % 20) + shift)).toDF("id", "v")
    val drift = DriftCheck(() => cat.scan("m"), "v", maxPsi = 0.25)

    val r1 = Wap.run(cat, "m", batch(0.0, 0L), Seq(NotNull("v")), "b1", alerter,
      crossChecks = Seq(drift))
    assert(r1.published, "first batch: empty reference has nothing to drift from")
    val r2 = Wap.run(cat, "m", batch(0.5, 1000L), Seq(NotNull("v")), "b2", alerter,
      crossChecks = Seq(drift))
    assert(r2.published, s"similar distribution publishes: ${r2.report.failed}")
    val r3 = Wap.run(cat, "m", batch(200.0, 2000L), Seq(NotNull("v")), "b3", alerter,
      crossChecks = Seq(drift))
    assert(!r3.published, "a shifted distribution must quarantine")
    assert(r3.report.failed.head.name.startsWith("drift("))
    assert(alerter.alerts.map(_._2) == Seq("b3"))
    assert(cat.scan("m").count() == 1000, "main only holds the published batches")

    // referential integrity as a publish gate
    val dim = Seq(1L, 2L, 3L).toDF("pk")
    val ok = Wap.run(cat, "facts", Seq((1L, "a"), (2L, "b")).toDF("fk", "x"),
      Seq.empty, "f1", alerter,
      crossChecks = Seq(OrphanCheck(() => dim, "fk", "pk")))
    assert(ok.published)
    val bad = Wap.run(cat, "facts", Seq((9L, "z")).toDF("fk", "x"),
      Seq.empty, "f2", alerter,
      crossChecks = Seq(OrphanCheck(() => dim, "fk", "pk")))
    assert(!bad.published && bad.report.failed.head.violations == 1L)
    assert(cat.scan("facts").count() == 2)
  }

  test("commit history and append-rate anomalies come from metadata alone") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    // steady appends of 5 rows, then a 10x spike
    for (i <- 0 until 6)
      cat.append("t", docs.filter(col("doc_id") >= i * 5L && col("doc_id") < (i + 1) * 5L))
    cat.append("t", docs.filter(col("doc_id") >= 400L && col("doc_id") < 450L))

    val hist = cat.commitHistory("t")
    assert(hist.size == 8) // create + 7 appends
    assert(hist.head.rowsAdded == 0)
    assert(hist.last.rowsAdded == 50)
    assert(hist.last.cumulativeRows == 80)
    assert(hist.map(_.rowsAdded).sum == 80)

    val flagged = Metrics.appendAnomalies(spark, cat, "t")
      .collect().map(r => r.getLong(2) -> r.getBoolean(4))
    assert(flagged.count(_._2) == 1, s"exactly the spike flags: ${flagged.toSeq}")
    assert(flagged.find(_._2).get._1 == 50)
  }

  test("delta audit scans only branch-added data; full-table scope still available") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    // main already contains rows that would FAIL the check (pre-existing
    // nulls, audited under looser rules when they landed)
    val dirty = docs.filter(col("doc_id") < 10)
      .withColumn("lang", lit(null).cast("string"))
    cat.createTableIfNotExists("t", dirty.schema)
    cat.append("t", dirty)

    cat.createBranch("b1")
    val clean = docs.filter(col("doc_id") >= 10 && col("doc_id") < 25)
    cat.append("t", clean, "b1")
    // the delta is exactly the branch's new rows
    val delta = cat.scanBranchDelta("t", "b1")
    assert(delta.count() == 15)
    assert(delta.filter(col("doc_id") < 10).count() == 0)

    // delta-scope WAP: the clean batch publishes even though old data is dirty
    val alerter = new BufferAlerter
    val r = Wap.run(cat, "t", docs.filter(col("doc_id") >= 25 && col("doc_id") < 30),
      Seq(NotNull("lang")), "up-delta", alerter)
    assert(r.published && alerter.alerts.isEmpty)
    assert(r.report.rows == 5, s"delta audit must scan only the batch, saw ${r.report.rows}")

    // full-table scope: the same batch fails on the pre-existing dirt
    val r2 = Wap.run(cat, "t", docs.filter(col("doc_id") >= 30 && col("doc_id") < 35),
      Seq(NotNull("lang")), "up-full", alerter, auditScope = AuditScope.FullTable)
    assert(!r2.published)
    assert(r2.report.failed.head.violations == 10)
  }

  test("delta audit leaves out rows the branch deleted by position, then publishes") {
    val cat = freshCatalog()
    def rows(lo: Long, nulls: Long) = spark.range(lo, lo + 100, 1, 2).select(col("id"),
      when(col("id") < lo + nulls, lit(null).cast("string"))
        .otherwise(concat(lit("v"), col("id"))).as("x"))
    cat.createTableIfNotExists("t", rows(0, 0).schema)
    cat.append("t", rows(0, 0))
    cat.createBranch("b")
    cat.append("t", rows(100, 5), "b")
    // positional DML on the branch, audit, publish (W78)
    cat.deleteWherePositional("t", col("x").isNull, "b")
    assert(cat.scanBranchDelta("t", "b").count() == 95)
    val alerter = new BufferAlerter
    val r = Wap.auditAndPublish(cat, "t", "b", Seq(NotNull("x")), Nil,
      AuditScope.Delta, alerter, dropBranchOnPublish = true)
    assert(r.published && alerter.alerts.isEmpty, s"refused: ${r.report}")
    assert(r.report.rows == 95)
    assert(cat.scan("t").count() == 195)
    assert(cat.scan("t").filter(col("x").isNull).count() == 0)
  }

  test("audit suite passes a clean table and reports each failed check") {
    val orders = Tables.orders(spark, sfDir)
    val report = Audit.run(orders, Seq(
      NotNull("o_orderkey"),
      UniqueKey("o_orderkey"),
      ValueRange("o_totalprice", 0.0, 1000000.0),
      AcceptedValues("o_orderstatus", Seq("O", "F", "P")),
      RowCountMin(10),
      Freshness("o_orderdate", "1995-01-01 00:00:00")))
    assert(report.passed, report.failed.toString)
    assert(report.rows == orders.count())
    val bad = Audit.run(orders, Seq(RowCountMin(1000000000L), ValueRange("o_totalprice", 0.0, 10.0)))
    assert(!bad.passed && bad.failed.size == 2)
  }

  test("append metadata cost is O(commit): one new manifest per append, snapshots never rewrite old manifests") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    def manifestCount: Int = {
      val metaDir = new java.io.File(s"${cat.root}/tables/t/meta")
      metaDir.list().count(_.startsWith("manifest-"))
    }
    var lastSnapshotManifests = 0
    for (i <- 0 until 5) {
      val before = manifestCount
      val snap = cat.append("t", docs.filter(col("doc_id") === i.toLong))
      assert(manifestCount == before + 1, s"append $i must write exactly one manifest")
      assert(snap.manifests.length == lastSnapshotManifests + 1)
      lastSnapshotManifests = snap.manifests.length
    }
    assert(cat.scan("t").count() == 5)
  }

  test("stats pruning: a selective predicate scans fewer files than the snapshot lists") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    // three appends with disjoint doc_id ranges -> disjoint file stats
    cat.append("t", docs.filter(col("doc_id") < 20).coalesce(1))
    cat.append("t", docs.filter(col("doc_id") >= 20 && col("doc_id") < 40).coalesce(1))
    cat.append("t", docs.filter(col("doc_id") >= 40).coalesce(1))
    val all = cat.dataFiles("t")
    assert(all.size >= 3)
    assert(all.forall(f => f.lower.contains("doc_id") && f.upper.contains("doc_id")))

    val cond = col("doc_id") >= 25L && col("doc_id") < 30L
    val pruned = cat.prunedDataFiles("t", cond)
    assert(pruned.size < all.size, s"pruned ${pruned.size} of ${all.size}")
    assert(pruned.size == 1)
    // pruning is sound: the filtered scan still returns exactly the rows
    val expected = docs.filter(cond).count()
    assert(cat.scan("t", "main", Some(cond)).count() == expected)
    // string stats prune too
    val noLang = cat.prunedDataFiles("t", col("lang") === "zz-not-a-lang")
    assert(noLang.size <= all.size)
  }

  test("scanChangesBetween: append deltas by snapshot window, exact through manifest compaction") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    val s1 = cat.append("t", docs.filter(col("doc_id") < 20))
    val s2 = cat.append("t", docs.filter(col("doc_id") >= 20 && col("doc_id") < 40))
    val s3 = cat.append("t", docs.filter(col("doc_id") >= 40 && col("doc_id") < 60))

    // window deltas are exactly the appends that landed inside them
    assert(cat.scanChangesBetween("t", s1.id, s2.id).count() == 20)
    assert(cat.scanChangesBetween("t", s1.id, s3.id).count() == 40)
    assert(cat.scanChangesBetween("t", s2.id, s3.id)
      .agg(min(col("doc_id")), max(col("doc_id"))).collect().head.toSeq == Seq(40L, 59L))
    // empty window -> empty frame with the right schema
    val same = cat.scanChangesBetween("t", s3.id, s3.id)
    assert(same.count() == 0 && same.schema == docs.schema)

    // manifest compaction folds metadata WITHOUT new data files: the
    // incremental window across it must stay empty (file-level
    // subtraction), and a window over compaction + an append must report
    // only the append
    val s4 = cat.compactManifests("t")
    assert(cat.scanChangesBetween("t", s3.id, s4.id).count() == 0,
      "metadata-only compaction must not re-report old rows")
    val s5 = cat.append("t", docs.filter(col("doc_id") >= 60 && col("doc_id") < 65))
    assert(cat.scanChangesBetween("t", s3.id, s5.id).count() == 5)
  }

  test("deleteKeysMOR: tombstones suppress rows on read, survive expiry, materialize on compaction") {
    import spark.implicits._
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 30))
    val dataFilesBefore = cat.dataFiles("t").map(_.path).toSet
    val preDelete = cat.scan("t").count()

    val morSnap = cat.deleteKeysMOR("t", Seq(5L, 17L, 23L).toDF("doc_id"))
    // zero data files touched; rows suppressed on every read path
    assert(cat.dataFiles("t").map(_.path).toSet == dataFilesBefore,
      "MOR delete must not rewrite data files")
    assert(cat.scan("t").count() == preDelete - 3)
    assert(cat.scan("t", filter = Some(col("doc_id") === 17L)).count() == 0,
      "pruned scans apply tombstones too")
    // time travel to the pre-delete snapshot still sees the rows
    assert(cat.scanSnapshot("t", morSnap.parentId.get).count() == preDelete)

    // sequence semantics (Iceberg v2): the tombstone covers only data
    // committed at or before the delete — a re-appended key is VISIBLE
    cat.append("t", docs.filter(col("doc_id") === 5L))
    assert(cat.scan("t").count() == preDelete - 2)
    assert(cat.scan("t").filter(col("doc_id") === 5L).count() == 1)
    assert(cat.scan("t").filter(col("doc_id") === 17L).count() == 0,
      "non-reappended tombstoned keys stay suppressed")

    // MOR upsert: one commit = tombstones for the source keys + the new
    // rows; matching old rows replaced, nothing rewritten
    val upSrc = docs.filter(col("doc_id") >= 10 && col("doc_id") < 13)
      .withColumn("n_chars", col("n_chars") + lit(100000))
    val filesPreUpsert = cat.dataFiles("t").map(_.path).toSet
    cat.upsertKeysMOR("t", upSrc, Seq("doc_id"))
    assert(filesPreUpsert.subsetOf(cat.dataFiles("t").map(_.path).toSet),
      "MOR upsert must not rewrite existing files")
    assert(cat.scan("t").count() == preDelete - 2, "replace, not duplicate")
    assert(cat.scan("t").filter(col("doc_id") === 11L).select(col("n_chars"))
      .collect().head.getLong(0) > 100000L, "the new version wins")

    // CoW DML and merge refuse while tombstones are pending
    intercept[IllegalArgumentException] {
      cat.deleteWhere("t", col("doc_id") === 7L)
    }
    cat.createBranch("pub")
    cat.append("t", docs.filter(col("doc_id") >= 100 && col("doc_id") < 105), "pub")
    intercept[IllegalStateException] { cat.merge("pub") }

    // expiry must not reclaim live tombstone files NOR their asOf
    // anchors (coverage would degrade to suppress-everything)
    cat.dropBranch("pub")
    cat.expireSnapshots("t")
    assert(cat.scan("t").count() == preDelete - 2, "tombstones + anchors survive expiry GC")
    assert(cat.scan("t").filter(col("doc_id") === 5L).count() == 1,
      "sequence semantics survive expiry (anchor kept)")

    // compaction materializes: tombstone list cleared, content unchanged,
    // CoW DML usable again
    val compacted = cat.compactDataFiles("t", targetFiles = 2)
    assert(compacted.deleteManifests.isEmpty)
    assert(cat.scan("t").count() == preDelete - 2)
    assert(cat.scan("t").filter(col("doc_id").isin(17L, 23L)).count() == 0)
    assert(cat.scan("t").filter(col("doc_id") === 5L).count() == 1)
    cat.deleteWhere("t", col("doc_id") === 7L)
    assert(cat.scan("t").count() == preDelete - 3)
  }

  test("compactManifests with pending tombstones preserves MOR coverage (sequence folding)") {
    import spark.implicits._
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 30))
    val preDelete = cat.scan("t").count()

    cat.deleteKeysMOR("t", Seq(3L, 9L).toDF("doc_id"))
    // a key re-appended after the delete must stay visible THROUGH folding
    cat.append("t", docs.filter(col("doc_id") === 3L))
    assert(cat.scan("t").count() == preDelete - 1)

    // metadata-only manifest folding: deleted rows must NOT resurrect,
    // and the re-appended key must not get re-suppressed
    val folded = cat.compactManifests("t")
    assert(folded.deleteManifests.nonEmpty, "folding is metadata-only; tombstones remain")
    assert(folded.manifests.size == 2,
      "one folded manifest per coverage epoch (pre-delete vs post-delete)")
    assert(cat.scan("t").count() == preDelete - 1,
      "manifest folding must not resurrect MOR-deleted rows")
    assert(cat.scan("t").filter(col("doc_id") === 9L).count() == 0)
    assert(cat.scan("t").filter(col("doc_id") === 3L).count() == 1)

    // a delete committed AFTER folding covers the folded manifests
    cat.deleteKeysMOR("t", Seq(3L).toDF("doc_id"))
    assert(cat.scan("t").filter(col("doc_id") === 3L).count() == 0)

    // ... and repeated folding keeps working (nested signatures -> the
    // epoch count stays <= tombstones + 1, never exponential)
    val folded2 = cat.compactManifests("t")
    assert(folded2.manifests.size <= folded2.deleteManifests.size + 1)
    assert(cat.scan("t").count() == preDelete - 2)
  }

  test("MOR tombstones with different key schemas apply independently") {
    import spark.implicits._
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 40))
    val pre = cat.scan("t").count()

    // tombstone 1 keyed on doc_id, tombstone 2 keyed on (lang) — a
    // different column set; mixed-schema reads must not narrow either
    // tombstone to NULL-keyed rows
    cat.deleteKeysMOR("t", Seq(7L).toDF("doc_id"))
    val langOfDoc11 = docs.filter(col("doc_id") === 11L)
      .select(col("lang")).collect().head.getString(0)
    val langCount = cat.scan("t").filter(col("lang") === langOfDoc11).count()
    assert(langCount > 0)
    cat.deleteKeysMOR("t", Seq(langOfDoc11).toDF("lang"))
    assert(cat.scan("t").count() == pre - 1 - langCount,
      "both tombstones must apply on their own key columns")
    assert(cat.scan("t").filter(col("doc_id") === 7L).count() == 0)
    assert(cat.scan("t").filter(col("lang") === langOfDoc11).count() == 0)
  }

  test("MOR commits refuse past the pending-tombstone bound; compaction resets it") {
    import spark.implicits._
    val cat = new BranchCatalog(spark,
      Files.createTempDirectory("wap-spec").toString, maxPendingTombstones = 4)
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 30))
    (0 until 4).foreach(i => cat.deleteKeysMOR("t", Seq(i.toLong).toDF("doc_id")))
    val err = intercept[IllegalArgumentException] {
      cat.deleteKeysMOR("t", Seq(99L).toDF("doc_id"))
    }
    assert(err.getMessage.contains("compactDataFiles"))
    intercept[IllegalArgumentException] {
      cat.upsertKeysMOR("t", docs.filter(col("doc_id") === 5L), Seq("doc_id"))
    }
    // scan plan stays bounded: epochs <= tombstones + 1
    assert(cat.scan("t").count() == 26)
    cat.compactDataFiles("t", targetFiles = 2)
    cat.deleteKeysMOR("t", Seq(10L).toDF("doc_id")) // headroom restored
    assert(cat.scan("t").count() == 25)
  }

  test("MOR delete on a hidden-partitioned table keeps transform pruning") {
    import spark.implicits._
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 64)
    val spec = PartitionSpec.parse("bucket(4,doc_id)")
    cat.createTableIfNotExists("t", docs.schema, spec = Some(spec))
    cat.appendPartitioned("t", docs, spec)
    val totalFiles = cat.dataFiles("t").size
    assert(totalFiles >= 4)

    cat.deleteKeysMOR("t", Seq(5L, 17L).toDF("doc_id"))
    // partition pruning must still reach the epoch scan: a point lookup
    // reads ~1/4 of the files, not all of them
    val pruned = cat.prunedDataFiles("t", col("doc_id") === 33L)
    assert(pruned.size < totalFiles, "transform pruning survives pending tombstones")
    assert(cat.scan("t", filter = Some(col("doc_id") === 33L)).count() == 1)
    assert(cat.scan("t", filter = Some(col("doc_id") === 17L)).count() == 0,
      "tombstones apply within the pruned scan")
    // MOR upsert composes with the partitioned table too
    cat.upsertKeysMOR("t",
      docs.filter(col("doc_id") === 33L).withColumn("n_chars", lit(999999L)),
      Seq("doc_id"))
    val row = cat.scan("t", filter = Some(col("doc_id") === 33L)).collect()
    assert(row.length == 1 && row.head.getAs[Long]("n_chars") == 999999L)
  }

  test("consumeIncremental refuses while MOR tombstones are pending") {
    import spark.implicits._
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 10))
    cat.deleteKeysMOR("t", Seq(3L).toDF("doc_id"))
    val err = intercept[IllegalArgumentException] {
      cat.consumeIncremental("t", "c1")(_ => ())
    }
    assert(err.getMessage.contains("append-granular"))
    cat.compactDataFiles("t")
    assert(cat.consumeIncremental("t", "c1")(df => assert(df.count() == 9)).isDefined)
  }

  test("transaction: multi-table commit is atomic, retries races, aborts whole") {
    import spark.implicits._
    val root = Files.createTempDirectory("wap-txn").toString
    val cat = new BranchCatalog(spark, root)
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("facts", docs.schema)
    cat.createTableIfNotExists("audit", StructType.fromDDL("batch STRING, n BIGINT"))
    cat.append("facts", docs.filter(col("doc_id") < 10))

    // 1) two tables, one commit: both advance together, one refs version
    val v0 = cat.currentRefs().version
    val snaps = cat.transaction() { txn =>
      txn.append("facts", docs.filter(col("doc_id") >= 10 && col("doc_id") < 30))
      txn.append("audit", Seq(("b1", 20L)).toDF("batch", "n"))
    }
    assert(cat.currentRefs().version == v0 + 1, "one refs swap for the whole txn")
    assert(snaps.keySet == Set("facts", "audit"))
    assert(cat.snapshotIdOf("facts").contains(snaps("facts").id))
    assert(cat.snapshotIdOf("audit").contains(snaps("audit").id))
    assert(cat.scan("facts").count() == 30 && cat.scan("audit").count() == 1)

    // 2) a concurrent committer lands between stage and commit: the
    // transaction's optimistic commit re-parents onto the fresh state
    // (losing a race just retries) and BOTH writers survive
    val competitor = new BranchCatalog(spark, root)
    val txnResult = cat.transaction() { txn =>
      txn.append("facts", docs.filter(col("doc_id") >= 40 && col("doc_id") < 45))
      txn.append("audit", Seq(("b2", 5L)).toDF("batch", "n"))
      // lands BEFORE the txn's refs swap: the txn's first attempt reads
      // refs after this, or loses the race and retries — either way both
      // commits survive on top of each other
      competitor.append("facts", docs.filter(col("doc_id") >= 30 && col("doc_id") < 35))
    }
    assert(txnResult.size == 2)
    assert(cat.scan("facts").count() == 40, "competitor + txn rows all present")
    assert(cat.scan("audit").count() == 2)

    // 3) all-or-nothing: schema change mid-transaction aborts BOTH tables
    val factsHead = cat.snapshotIdOf("facts").get
    val auditHead = cat.snapshotIdOf("audit").get
    intercept[IllegalArgumentException] {
      cat.transaction() { txn =>
        txn.append("facts", docs.filter(col("doc_id") >= 50 && col("doc_id") < 55))
        txn.append("audit", Seq(("b3", 5L)).toDF("batch", "n"))
        cat.evolveSchema("audit", StructType.fromDDL("batch STRING, n BIGINT, extra STRING"))
      }
    }
    assert(cat.snapshotIdOf("facts").contains(factsHead), "facts must not advance")
    assert(cat.scan("facts").count() == 40)

    // 4) a throwing body commits nothing
    val before = cat.currentRefs().version
    intercept[RuntimeException] {
      cat.transaction() { txn =>
        txn.append("facts", docs.filter(col("doc_id") >= 60 && col("doc_id") < 65))
        sys.error("boom")
      }
    }
    assert(cat.currentRefs().version == before)
    assert(cat.scan("facts").count() == 40)

    // 5) staged MOR delete joins the same atomic commit
    cat.transaction() { txn =>
      txn.deleteKeys("facts", Seq(3L, 7L).toDF("doc_id"))
      txn.append("audit", Seq(("gdpr", 2L)).toDF("batch", "n"))
    }
    assert(cat.scan("facts").count() == 38)
    assert(cat.scan("audit").count() == 3)

    // 6) the tombstone bound counts pending + STAGED generations: one
    // transaction cannot blow past what single commits cannot
    val bounded = new BranchCatalog(spark, root, maxPendingTombstones = 3)
    intercept[IllegalArgumentException] {
      bounded.transaction() { txn =>
        (20 to 22).foreach(i => txn.deleteKeys("facts", Seq(i.toLong).toDF("doc_id")))
      }
    }
    assert(cat.scan("facts").count() == 38, "over-bound txn must commit nothing")
  }

  test("mergeInto: conditional WHEN MATCHED UPDATE/DELETE + NOT MATCHED INSERT") {
    import graft.wap.MergeClause._
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 40))          // ids 0..39
    cat.append("t", docs.filter(col("doc_id") >= 40 && col("doc_id") < 80))
    // outside the source key range: its files must survive by reference
    cat.append("t", docs.filter(col("doc_id") >= 100 && col("doc_id") < 140))

    // source overlaps 20..59 (matched) and brings 80..89 (not matched)
    val source = docs.filter(
      (col("doc_id") >= 20 && col("doc_id") < 60) ||
        (col("doc_id") >= 80 && col("doc_id") < 90))
    val res = cat.mergeInto("t", source, Seq("doc_id"), Seq(
      MatchedUpdate(Some(col("s.doc_id") % 2 === 0),
        Map("n_chars" -> (col("t.n_chars") + lit(1000L)))),
      MatchedDelete(Some(col("s.doc_id") % 3 === 0)),
      NotMatchedInsert(Some(col("s.doc_id") < 85))))

    // matched evens (20,22,...,58) -> updated: 20 rows
    assert(res.rowsUpdated == 20)
    // matched odd multiples of 3 in 20..59 (21,27,...,57) -> deleted: 7
    assert(res.rowsDeleted == 7)
    // 80..84 inserted; 85..89 fail the insert condition -> dropped
    assert(res.rowsInserted == 5)
    val out = cat.scan("t")
    assert(out.count() == 120 - 7 + 5)
    // the winning clause transformed exactly its rows
    val updated = out.filter(col("doc_id") >= 20 && col("doc_id") < 60 && col("doc_id") % 2 === 0)
    val origSum = docs.filter(col("doc_id") >= 20 && col("doc_id") < 60 && col("doc_id") % 2 === 0)
      .agg(sum(col("n_chars"))).head.getLong(0)
    assert(updated.agg(sum(col("n_chars"))).head.getLong(0) == origSum + 20 * 1000L)
    assert(out.filter(col("doc_id") === 21L).count() == 0, "delete clause fired")
    assert(out.filter(col("doc_id") === 23L).count() == 1, "unclaimed matched row survives")
    assert(out.filter(col("doc_id") === 87L).count() == 0, "conditional insert filtered")
    // first-match-wins: 24 is even AND %3 - update won, row still there
    assert(out.filter(col("doc_id") === 24L).count() == 1)
    // rows outside the source key range never rewritten
    assert(res.filesUntouched > 0)

    // empty-SET safety: merge with only a delete clause, no source match
    val res2 = cat.mergeInto("t",
      docs.filter(col("doc_id") >= 500 && col("doc_id") < 505),
      Seq("doc_id"), Seq(MatchedDelete(None)))
    assert(res2.rowsDeleted == 0 && res2.rowsInserted == 0)
  }

  test("transactions survive real concurrency: racing multi-table commits all land atomically") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTableIfNotExists("a", StructType.fromDDL("id BIGINT, who STRING"))
    cat.createTableIfNotExists("b", StructType.fromDDL("id BIGINT, who STRING"))
    val threads = 4
    val txnsEach = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val latch = new java.util.concurrent.CountDownLatch(threads)
    for (th <- 0 until threads) {
      pool.submit(new Runnable {
        def run(): Unit = {
          try {
            for (i <- 0 until txnsEach) {
              val rows = Seq((th * 100L + i, s"t$th")).toDF("id", "who")
              cat.transaction() { txn =>
                txn.append("a", rows)
                txn.append("b", rows)
              }
            }
          } catch { case _: Throwable => failures.incrementAndGet() }
          finally latch.countDown()
          ()
        }
      })
    }
    latch.await()
    pool.shutdown()
    assert(failures.get() == 0, "every racing transaction must eventually commit")
    assert(cat.scan("a").count() == threads * txnsEach)
    assert(cat.scan("b").count() == threads * txnsEach)
    // atomicity held at every intermediate version: walking the refs
    // history, a and b always advanced TOGETHER (same row count)
    val hist = cat.commitHistory("a").map(_.cumulativeRows)
      .zip(cat.commitHistory("b").map(_.cumulativeRows))
    assert(hist.forall { case (ra, rb) => ra == rb },
      s"a and b must never diverge: $hist")
  }

  test("scanAsOf + rollbackTo: timestamp time travel and pointer-swap rollback") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    Thread.sleep(5)
    val preFirstAppend = System.currentTimeMillis()
    Thread.sleep(5) // distinct commit timestamps throughout
    val s1 = cat.append("t", docs.filter(col("doc_id") < 10))
    Thread.sleep(5)
    val s2 = cat.append("t", docs.filter(col("doc_id") >= 10 && col("doc_id") < 30))

    // as-of between the two commits sees only the first
    assert(cat.scanAsOf("t", s1.committedAtMillis).count() == 10)
    assert(cat.scanAsOf("t", s2.committedAtMillis).count() == 30)
    assert(cat.scanAsOf("t", System.currentTimeMillis() + 1000).count() == 30)
    // between creation and the first append the table existed, empty
    assert(cat.scanAsOf("t", preFirstAppend).count() == 0)
    // before the table existed at all -> loud error
    intercept[RuntimeException] { cat.scanAsOf("t", 0L) }

    // rollback: main points at s1 again; the rolled-back snapshot stays
    // readable by id; re-append builds on the rolled-back head
    cat.rollbackTo("t", s1.id)
    assert(cat.scan("t").count() == 10)
    assert(cat.scanSnapshot("t", s2.id).count() == 30, "bad commit stays inspectable")
    intercept[IllegalArgumentException] {
      cat.rollbackTo("t", "not-an-ancestor")
    }
    cat.append("t", docs.filter(col("doc_id") >= 30 && col("doc_id") < 35))
    assert(cat.scan("t").count() == 15)
  }

  test("consumeIncremental: each appended row is processed exactly once per consumer") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 30))

    var seen = Vector.empty[Set[Long]]
    def drain(): Option[(String, String)] =
      cat.consumeIncremental("t", "reporter") { df =>
        seen :+= df.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      }

    // initial load = full table; nothing new -> None and f not invoked
    assert(drain().isDefined)
    assert(seen.head == (0L until 30L).toSet)
    assert(drain().isEmpty && seen.size == 1)

    // two commits land before the next drain: ONE delta covering both
    cat.append("t", docs.filter(col("doc_id") >= 30 && col("doc_id") < 40))
    cat.append("t", docs.filter(col("doc_id") >= 40 && col("doc_id") < 55))
    assert(drain().isDefined)
    assert(seen(1) == (30L until 55L).toSet, "one window must cover both commits")

    // an independent consumer has its own checkpoint: full table first
    var other = Set.empty[Long]
    cat.consumeIncremental("t", "auditor") { df =>
      other = df.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    }
    assert(other == (0L until 55L).toSet)

    // exactly-once across the union of drains, no overlap
    assert(seen.flatten.size == seen.map(_.size).sum, "windows must not overlap")
  }

  test("compactDataFilesSorted: sorted rewrite turns fat-ranged files into pruning-tight ones") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("messy", docs.schema)
    // four interleaved appends (doc_id % 4) — every file spans the whole
    // id domain, so stats pruning can skip nothing
    for (r <- 0 until 4)
      cat.append("messy", docs.filter(col("doc_id") % 4 === r).coalesce(1))
    val total = docs.count()
    val cond = col("doc_id") === (total / 2)
    assert(cat.prunedDataFiles("messy", cond).size == 4,
      "interleaved appends must be unprunable (the pathology under test)")

    // plain compaction fixes file count, not pruning
    cat.compactDataFiles("messy", targetFiles = 4)
    assert(cat.dataFiles("messy").size == 4)
    assert(cat.prunedDataFiles("messy", cond).size == 4,
      "hash-repartitioned compaction keeps every file fat-ranged")

    // sorted compaction fixes both
    val snap = cat.compactDataFilesSorted("messy", Seq("doc_id"), targetFiles = 4)
    assert(cat.dataFiles("messy").size == 4)
    assert(cat.prunedDataFiles("messy", cond).size == 1,
      "sorted rewrite must make the point predicate prune to one file")
    // rewrite preserves content exactly, and the pruned scan is sound
    assert(cat.scan("messy").count() == total)
    assert(cat.scan("messy", "main", Some(cond)).count() ==
      docs.filter(cond).count())
    // time travel to the pre-rewrite snapshot still works
    assert(snap.parentId.isDefined)
    assert(cat.scanSnapshot("messy", snap.parentId.get).count() == total)

    // partitioned tables keep their layout through the sorted rewrite
    cat.createTableIfNotExists("messy_part", docs.schema)
    cat.appendPartitioned("messy_part", docs, BucketPartition(4, "doc_id"))
    cat.compactDataFilesSorted("messy_part", Seq("n_chars"), targetFiles = 2)
    val afterFiles = cat.dataFiles("messy_part")
    assert(afterFiles.forall(_.partition.contains("pv")),
      "sorted rewrite of a partitioned table must keep partition metadata")
    assert(cat.scan("messy_part").count() == total)
    assert(cat.prunedDataFiles("messy_part", col("doc_id") === 7L).size <=
      afterFiles.size / 2, "partition pruning must survive the sorted rewrite")
  }

  test("compactDataFilesZOrder: pruning works on EVERY clustered column, not just the leading one") {
    val docs = Tables.documents(spark, sfDir)
    val total = docs.count()
    // the two predicates: a narrow slice on each dimension
    val idSlice = col("doc_id") >= 200L && col("doc_id") < 230L
    val charBounds = docs.agg(min(col("n_chars")).cast("long"),
      max(col("n_chars")).cast("long")).collect().head
    val (cLo, cHi) = (charBounds.getLong(0), charBounds.getLong(1))
    val cMid = cLo + (cHi - cLo) / 2
    val cSlice = col("n_chars") >= cMid && col("n_chars") < cMid + (cHi - cLo) / 16

    def freshTable(cat: BranchCatalog): Unit = {
      cat.createTableIfNotExists("t", docs.schema)
      for (r <- 0 until 4) // interleaved: every file spans both domains
        cat.append("t", docs.filter(col("doc_id") % 4 === r).coalesce(1))
    }
    val zcat = freshCatalog(); freshTable(zcat)
    zcat.compactDataFilesZOrder("t", Seq("doc_id", "n_chars"), targetFiles = 16)
    val scat = freshCatalog(); freshTable(scat)
    scat.compactDataFilesSorted("t", Seq("doc_id", "n_chars"), targetFiles = 16)

    val zFiles = zcat.dataFiles("t").size
    assert(zFiles == 16)
    val zId = zcat.prunedDataFiles("t", idSlice).size
    val zCh = zcat.prunedDataFiles("t", cSlice).size
    val sCh = scat.prunedDataFiles("t", cSlice).size
    // z-order prunes on BOTH dimensions...
    assert(zId < zFiles, s"z-order must prune the doc_id slice (planned $zId/$zFiles)")
    assert(zCh < zFiles, s"z-order must prune the n_chars slice (planned $zCh/$zFiles)")
    // ...where the lexicographic sort serves only its leading column
    assert(zCh < sCh,
      s"z-order must beat lexicographic on the trailing column ($zCh vs $sCh)")
    // rewrite preserves content; pruned scans stay sound
    assert(zcat.scan("t").count() == total)
    assert(zcat.scan("t", "main", Some(cSlice)).count() == docs.filter(cSlice).count())
    assert(zcat.scan("t", "main", Some(idSlice)).count() == docs.filter(idSlice).count())
  }

  test("appendClustered: range-clustered files make point predicates prune to one file") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("clustered", docs.schema)
    cat.appendClustered("clustered", docs, Seq("doc_id"), files = 5)
    cat.createTableIfNotExists("unclustered", docs.schema)
    cat.append("unclustered", docs.repartition(5))

    val all = cat.dataFiles("clustered")
    assert(all.size == 5)
    val total = docs.count()
    // disjoint ranges: the sum of per-file id spans ~ the id domain
    val cond = col("doc_id") === (total / 2)
    assert(cat.prunedDataFiles("clustered", cond).size == 1,
      "point predicate must hit exactly one clustered file")
    assert(cat.prunedDataFiles("unclustered", cond).size == 5,
      "random placement cannot prune (every file spans the domain)")
    // range predicate: narrow slice stays narrow
    val range = col("doc_id") >= total / 2 && col("doc_id") < total / 2 + 5
    assert(cat.prunedDataFiles("clustered", range).size <= 2)
    assert(cat.scan("clustered", "main", Some(range)).count() ==
      docs.filter(range).count())
  }

  test("merge is idempotent: re-merging a kept-alive branch never duplicates rows") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 10))
    cat.createBranch("b1")
    cat.append("t", docs.filter(col("doc_id") >= 10 && col("doc_id") < 20), "b1")
    cat.merge("b1")
    assert(cat.scan("t", "main").count() == 20)
    cat.merge("b1") // second publish of the same branch: no-op
    assert(cat.scan("t", "main").count() == 20, "double merge must not duplicate")
    // the branch can keep working after publish: it sees the merged state
    cat.append("t", docs.filter(col("doc_id") >= 20 && col("doc_id") < 25), "b1")
    cat.merge("b1")
    assert(cat.scan("t", "main").count() == 25)
    cat.merge("b1")
    assert(cat.scan("t", "main").count() == 25)
  }

  test("appendPartitioned day(ts): time-range scans skip other days' files on both planning paths") {
    val cat = freshCatalog()
    val spark0 = spark
    import spark0.implicits._
    // 5 days x 40 events
    val events = (0 until 200).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-03-${10 + i % 5}%02d 12:00:${i / 5}%02d"), i * 1.5)
    }.toDF("event_id", "ts", "value")
    cat.createTableIfNotExists("ev", events.schema)
    cat.appendPartitioned("ev", events, DayPartition("ts"))

    val total = cat.dataFiles("ev").size
    assert(total >= 5, "at least one file per day")
    assert(cat.dataFiles("ev").forall(_.partition.contains("pv")))

    val day = col("ts") >= lit("2024-03-12 00:00:00").cast("timestamp") &&
      col("ts") < lit("2024-03-13 00:00:00").cast("timestamp")
    val pruned = cat.prunedDataFiles("ev", day)
    assert(pruned.nonEmpty && pruned.size * 5 <= total + 4,
      s"one of 5 days must prune ~4/5 of $total files, kept ${pruned.size}")
    assert(pruned.forall(_.partition("pv") == "2024-03-12"))
    assert(cat.scan("ev", filter = Some(day)).count() == 40)
    // equality predicate prunes to a single day too
    val eq = cat.prunedDataFiles("ev",
      col("ts") === lit("2024-03-14 12:00:30").cast("timestamp"))
    assert(eq.forall(_.partition("pv") == "2024-03-14"))

    // distributed planning path agrees: a threshold-0 catalog plans the
    // same scan as a Spark job over the manifest entries
    val cat2 = new BranchCatalog(spark, cat.root, distributedMetaThreshold = 0L)
    val viaJob = cat2.scan("ev", filter = Some(day))
    assert(viaJob.count() == 40)
    assert(viaJob.inputFiles.length == pruned.size,
      s"distributed path kept ${viaJob.inputFiles.length} files, driver path ${pruned.size}")
  }

  test("appendPartitioned bucket(8, doc_id): point lookups read one bucket; plain appends stay unpruned") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("t", docs.schema)
    cat.appendPartitioned("t", docs, BucketPartition(8, "doc_id"))
    val total = cat.dataFiles("t").size
    assert(total >= 8, s"expected >= 8 bucket files, got $total")

    val pruned = cat.prunedDataFiles("t", col("doc_id") === 57L)
    assert(pruned.size * 8 <= total,
      s"a point lookup must read ~1/8 of $total files, read ${pruned.size}")
    assert(cat.scan("t", filter = Some(col("doc_id") === 57L)).count() == 1)
    // ranges don't align with buckets (partition pruning keeps all files;
    // footer min/max stats may still prune some) — result stays exact
    assert(cat.scan("t", filter = Some(col("doc_id") < 5L)).count() == 5)

    // a later PLAIN append mixes in unpartitioned files: they are never
    // partition-pruned, and the spec survives on the snapshot
    cat.append("t", Tables.documents(spark, sfDir)
      .filter(col("doc_id") >= 200 && col("doc_id") < 210))
    val afterMix = cat.prunedDataFiles("t", col("doc_id") === 57L)
    assert(cat.scan("t", filter = Some(col("doc_id") === 57L)).count() == 1)
    assert(afterMix.size < cat.dataFiles("t").size)
    // appending under a DIFFERENT spec is rejected
    assertThrows[IllegalArgumentException] {
      cat.appendPartitioned("t", Tables.documents(spark, sfDir)
        .filter(col("doc_id") >= 210 && col("doc_id") < 215), BucketPartition(4, "doc_id"))
    }
  }

  test("friendly branch names: valid, seeded-deterministic, usable as WAP branches") {
    val n = BranchNames.friendly(42L)
    assert(n == BranchNames.friendly(42L), "seeded form is deterministic")
    assert(n.matches("[a-z]+-[a-z]+-\\d{1,3}"), n)
    assert((0 until 50).map(i => BranchNames.friendly(i.toLong)).distinct.size > 40,
      "sequential seeds must not collide often")
    // usable end-to-end as a WAP branch name
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 10)
    val r = Wap.run(cat, "t", docs, Seq(NotNull("text")), BranchNames.friendly(7L))
    assert(r.published && r.branch == BranchNames.friendly(7L))
  }

  test("webhook alerter posts the failed report as JSON; unset URL and dead endpoints are safe no-ops") {
    val received = new java.util.concurrent.LinkedBlockingQueue[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/hook", { exchange =>
      val body = new String(exchange.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      received.put(body)
      exchange.sendResponseHeaders(200, -1)
      exchange.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/hook"
      val report = graft.quality.AuditReport(100L, Seq(
        graft.quality.CheckResult("not_null(text)", passed = false, violations = 7L),
        graft.quality.CheckResult("row_count_min(10)", passed = true, violations = 0L)))
      new HttpWebhookAlerter(Some(url)).alert("docs", "batch-9", report)
      val body = received.poll(5, java.util.concurrent.TimeUnit.SECONDS)
      assert(body != null, "webhook must receive the alert")
      assert(body.contains(""""table":"docs"""") && body.contains(""""branch":"batch-9""""))
      assert(body.contains("not_null(text)") && body.contains(""""violations":7"""))
      assert(!body.contains("row_count_min"), "only FAILED checks are reported")

      // no URL -> no request, no error (the reference's unset-token path)
      new HttpWebhookAlerter(None).alert("docs", "b", report)
      assert(received.poll(300, java.util.concurrent.TimeUnit.MILLISECONDS) == null)
      // dead endpoint -> logged, never thrown
      new HttpWebhookAlerter(Some("http://127.0.0.1:1/hook"), connectTimeoutMs = 200)
        .alert("docs", "b", report)
    } finally server.stop(0)
  }

  test("deleteWhere: stats-bounded copy-on-write; merge publishes the removal; expiry reclaims replaced files") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    // two appends with disjoint doc_id ranges -> disjoint footer stats,
    // so a delete on the first range must not touch the second's files
    cat.append("t", docs.filter(col("doc_id") < 100).repartition(2))
    cat.append("t", docs.filter(col("doc_id") >= 100 && col("doc_id") < 200).repartition(2))
    val preDeleteId = cat.snapshotIdOf("t").get

    cat.createBranch("del")
    val res = cat.deleteWhere("t", col("doc_id") < 50, "del")
    assert(res.rowsDeleted == 50, s"$res")
    assert(res.filesRewritten <= 2, s"stats must bound the rewrite to the first append: $res")
    assert(res.filesUntouched >= 2, s"$res")

    // the branch sees the delete; main does not (write-audit isolation)
    assert(cat.scan("t", "del").count() == 150)
    assert(cat.scan("t", "del").filter(col("doc_id") < 50).count() == 0)
    assert(cat.scan("t", "main").count() == 200)
    // time travel still shows the pre-delete state
    assert(cat.scanSnapshot("t", preDeleteId).count() == 200)

    // publish: merge carries the manifest removal, idempotently
    cat.merge("del")
    assert(cat.scan("t", "main").count() == 150)
    cat.merge("del")
    assert(cat.scan("t", "main").count() == 150, "double merge must not re-add or re-delete")
    cat.dropBranch("del")

    // expiry reclaims the replaced pre-delete files; the table is intact
    val exp = cat.expireSnapshots("t")
    assert(exp.dataFilesDeleted >= 1, s"replaced files must be GC'd: $exp")
    assert(cat.scan("t", "main").count() == 150)
    assert(cat.scan("t", "main").filter(col("doc_id") < 50).count() == 0)
    assert(cat.scan("t", "main").filter(col("doc_id") >= 50 && col("doc_id") < 100).count() == 50)
  }

  test("manifest-list pruning: excluded manifests are never read (corrupt-manifest proof)") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 150)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 50).repartition(1))
    cat.append("t", docs.filter(col("doc_id") >= 50 && col("doc_id") < 100).repartition(1))
    cat.append("t", docs.filter(col("doc_id") >= 100).repartition(1))

    // corrupt the FIRST range's manifest on disk: any plan that still
    // reads it will throw, so a passing selective scan PROVES the
    // manifest-list tier skipped it from its own bounds
    val snap = cat.snapshotMeta("t", cat.snapshotIdOf("t").get)
    val low = snap.manifests.find(_.upper.get("doc_id").exists(_.toLong < 50)).get
    assert(low.statsV >= 2, "coverage-aware manifest bounds are the r11 format")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      new java.net.URI(new org.apache.hadoop.fs.Path(low.path).toUri.toString) match {
        case u if u.getScheme == null => java.nio.file.Paths.get(low.path).toUri
        case u => u
      }), "NOT JSON")

    assert(cat.scan("t", filter = Some(col("doc_id") >= 100)).count() == 50)
    assert(cat.prunedDataFiles("t", col("doc_id") >= 100).map(_.path).size == 1)
    // DML planning skips it the same way: the excluded manifest carries
    // over by reference without a read
    val res = cat.deleteWhere("t", col("doc_id") >= 140)
    assert(res.filesRewritten == 1 && res.filesUntouched == 2, s"$res")
    assert(cat.scan("t", filter = Some(col("doc_id") >= 100)).count() == 40)
    // the corruption is real: an unfiltered scan must fail loudly
    intercept[Exception](cat.scan("t").count())
  }

  test("removeOrphanFiles deletes crashed-write residue, never referenced or fresh files") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 40)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 20).repartition(1))
    val preId = cat.snapshotIdOf("t").get
    cat.deleteWhere("t", col("doc_id") < 5) // historical files stay referenced

    // plant an orphan: a parquet file staged under the data dir that no
    // manifest ever pointed at (a crashed write's residue)
    val orphanDir = new java.io.File(cat.root, "tables/t/data/crashed-commit")
    orphanDir.mkdirs()
    val orphan = new java.io.File(orphanDir, "part-00000-dead.parquet")
    val stage = Files.createTempDirectory("orphan-stage").toString
    docs.limit(3).coalesce(1).write.mode("overwrite").parquet(stage)
    val src = new java.io.File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(src.toPath, orphan.toPath)

    // a fresh orphan survives the default 3-day fence …
    val fenced = cat.removeOrphanFiles("t")
    assert(fenced.filesDeleted == 0, s"$fenced")
    assert(orphan.exists())
    // … and dies past an explicit cutoff; referenced files are untouched
    val res = cat.removeOrphanFiles("t", System.currentTimeMillis() + 60000)
    assert(res.filesDeleted == 1 && res.bytesDeleted > 0, s"$res")
    assert(!orphan.exists())
    assert(cat.scan("t").count() == 15)
    assert(cat.scanSnapshot("t", preId).count() == 20,
      "historical snapshots' files are REFERENCED, not orphans")
    // idempotent: a second sweep finds nothing
    assert(cat.removeOrphanFiles("t", System.currentTimeMillis() + 60000).filesDeleted == 0)
  }

  test("compactDataFilesWhere folds only the files the predicate admits") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 100)
    cat.createTableIfNotExists("t", docs.schema)
    // four micro-batch files in the hot range, one in the cold range
    for (r <- 0 until 4)
      cat.append("t", docs.filter(col("doc_id") >= r * 10 && col("doc_id") < r * 10 + 10).repartition(1))
    cat.append("t", docs.filter(col("doc_id") >= 50).repartition(1))
    assert(cat.dataFiles("t").size == 5)

    val snap = cat.compactDataFilesWhere("t", col("doc_id") < 40, targetFiles = 1)
    assert(cat.dataFiles("t").size == 2, "4 hot files fold to 1; the cold file is untouched")
    // the cold manifest carried over BY REFERENCE (it keeps its old seq)
    assert(snap.manifests.count(_.seq < snap.seq) == 1)
    assert(cat.scan("t").count() == 90)
    assert(cat.scan("t").filter(col("doc_id") < 40).count() == 40)

    // a predicate admitting at most one file is a no-op commit
    val again = cat.compactDataFilesWhere("t", col("doc_id") >= 50)
    assert(again.id == snap.id, "nothing to fold -> no new snapshot")
  }

  test("expireSnapshots retention: retainLast keeps time travel; olderThan exempts fresh history") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 40)
    cat.createTableIfNotExists("t", docs.schema)
    val ids = (0 until 4).map { r =>
      cat.append("t", docs.filter(col("doc_id") >= r * 10 && col("doc_id") < r * 10 + 10)).id
    }

    // everything is fresh against a cutoff in the past: nothing expires
    val none = cat.expireSnapshots("t", olderThanMillis = Some(0L))
    assert(none.snapshotsDeleted == 0)

    // retainLast=3 keeps the head plus two ancestors readable
    cat.expireSnapshots("t", retainLast = 3)
    assert(cat.scanSnapshot("t", ids(1)).count() == 20)
    assert(cat.scanSnapshot("t", ids(2)).count() == 30)
    assert(cat.scanSnapshot("t", ids(3)).count() == 40)
    intercept[Exception](cat.scanSnapshot("t", ids(0)).count())

    // default (head-only) reclaims the rest; the table stays intact
    val rest = cat.expireSnapshots("t")
    assert(rest.snapshotsDeleted == 2)
    assert(cat.scan("t").count() == 40)
  }

  test("drop-column evolution guards: partition source and pending MOR keys refuse") {
    val cat = freshCatalog()
    val spark0 = spark
    import spark0.implicits._
    val df = (0L until 20L).map(i => (i, s"v$i", i.toDouble)).toDF("id", "v", "d")
    val spec = PartitionSpec.parse("bucket(4,id)")
    cat.createTableIfNotExists("pt", df.schema, spec = Some(spec))
    cat.appendPartitioned("pt", df, spec)
    val noId = org.apache.spark.sql.types.StructType(df.schema.fields.filterNot(_.name == "id"))
    val e = intercept[IllegalArgumentException](cat.evolveSchema("pt", noId))
    assert(e.getMessage.contains("hidden-partition source"), e.getMessage)

    cat.createTableIfNotExists("mt", df.schema)
    cat.append("mt", df)
    cat.deleteKeysMOR("mt", Seq(Tuple1(3L)).toDF("id"))
    val e2 = intercept[RuntimeException](cat.evolveSchema("mt", noId))
    assert(e2.getMessage.contains("tombstones"), e2.getMessage)
    // dropping a NON-key column under pending tombstones is fine
    val noV = org.apache.spark.sql.types.StructType(df.schema.fields.filterNot(_.name == "v"))
    cat.evolveSchema("mt", noV)
    assert(cat.scan("mt").columns.toSeq == Seq("id", "d"))
    assert(cat.scan("mt").count() == 19, "the MOR delete still applies after the drop")
  }

  test("cherrypickSnapshot: append deltas replay; rewrite/compaction commits refuse") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 100)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 50))
    cat.createBranch("wip")
    val appendSnap = cat.append("t", docs.filter(col("doc_id") >= 50), "wip")

    // main advances independently; the cherry-pick lands ON TOP of it
    cat.append("t", docs.filter(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + 1000))
    val picked = cat.cherrypickSnapshot("t", appendSnap.id)
    assert(cat.scan("t", "main").count() == 150)
    assert(cat.scan("t", "main").filter(col("doc_id") >= 50 && col("doc_id") < 100).count() == 50)
    // idempotent: replaying the same snapshot commits nothing new
    assert(cat.cherrypickSnapshot("t", appendSnap.id).id == picked.id)
    assert(cat.scan("t", "main").count() == 150)

    // a delete rewrite removes manifests relative to its parent: refuse
    val del = cat.deleteWhere("t", col("doc_id") < 10, "wip")
    val e = intercept[IllegalArgumentException](
      cat.cherrypickSnapshot("t", del.snapshot.id))
    assert(e.getMessage.contains("removed manifests"), e.getMessage)

    // a compaction rewrites layout, not content: refuse for the same reason
    cat.createBranch("cmp")
    val compacted = cat.compactDataFiles("t", "cmp", 1)
    val e2 = intercept[IllegalArgumentException](
      cat.cherrypickSnapshot("t", compacted.id))
    assert(e2.getMessage.contains("removed manifests"), e2.getMessage)
  }

  test("cherrypickSnapshot after a merge and a manifest fold commits nothing") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 100)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 50))
    cat.createBranch("wip")
    val picked = cat.append("t", docs.filter(col("doc_id") >= 50), "wip")
    cat.merge("wip")
    // the fold re-lists the picked files under a new manifest path
    val folded = cat.compactManifests("t")
    assert(cat.cherrypickSnapshot("t", picked.id).id == folded.id)
    assert(cat.scan("t").count() == 100)
    val files = cat.dataFiles("t").map(_.path)
    assert(files.size == files.distinct.size, "no data file may be listed twice")

    // a target holding only SOME of the picked files refuses: after the
    // merge, a delete on main rewrote one of the two picked files
    cat.createBranch("wip2")
    val two = cat.append("t", Tables.documents(spark, sfDir)
      .filter(col("doc_id") >= 100 && col("doc_id") < 140)
      .repartitionByRange(2, col("doc_id")), "wip2")
    assert(cat.snapshotMeta("t", two.id).manifests.last.fileCount == 2)
    cat.merge("wip2")
    cat.deleteWhere("t", col("doc_id") === 100)
    val e = intercept[IllegalArgumentException](cat.cherrypickSnapshot("t", two.id))
    assert(e.getMessage.contains("already on"), e.getMessage)
  }

  test("tags: immutable refs pin snapshots against expiry; names share the branch namespace") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 100)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 50))
    cat.createTag("v1")
    cat.append("t", docs.filter(col("doc_id") >= 50))
    cat.createTag("v2")
    cat.deleteWhere("t", col("doc_id") < 30)

    assert(cat.listTags() == Seq("v1", "v2"))
    assert(cat.scanTag("t", "v1").count() == 50)
    assert(cat.scanTag("t", "v2").count() == 100)
    assert(cat.scan("t").count() == 70)

    // one ref namespace: a tag name cannot become a branch or vice versa
    assert(intercept[IllegalArgumentException](cat.createBranch("v1"))
      .getMessage.contains("tag"))
    cat.createBranch("dev")
    assert(intercept[IllegalArgumentException](cat.createTag("dev"))
      .getMessage.contains("branch"))
    assert(intercept[IllegalArgumentException](cat.createTag("v1"))
      .getMessage.contains("exists"))

    // expiry keeps everything a tag pins: both tag reads survive intact
    cat.expireSnapshots("t")
    assert(cat.scanTag("t", "v1").count() == 50)
    assert(cat.scanTag("t", "v1").agg(max(col("doc_id"))).head.getLong(0) == 49L)
    assert(cat.scanTag("t", "v2").count() == 100)

    // dropping the tag releases the pin: the next expiry reclaims v1's
    // snapshot (it is on no branch head, fork base, or remaining tag)
    cat.dropTag("v1")
    cat.expireSnapshots("t")
    assert(cat.listTags() == Seq("v2"))
    assert(intercept[RuntimeException](cat.scanTag("t", "v1")).getMessage.contains("no tag"))
    assert(cat.scanTag("t", "v2").count() == 100, "remaining tag must stay readable")
    assert(cat.scan("t").count() == 70)
  }

  test("expireTags drops only tags older than the age bound; unstamped tags never age out") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 40)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs)
    cat.createTag("old")
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    cat.createTag("young")
    // age bound cutting between the two creations drops exactly "old"
    val dropped = cat.expireTags(
      maxAgeMs = System.currentTimeMillis() - mid,
      nowMillis = System.currentTimeMillis())
    assert(dropped == Seq("old"), s"got $dropped")
    assert(cat.listTags() == Seq("young"))
    assert(cat.scanTag("t", "young").count() == 40)
    // idempotent; a generous bound drops nothing
    assert(cat.expireTags(maxAgeMs = 24L * 3600 * 1000).isEmpty)
    assert(cat.listTags() == Seq("young"))
    intercept[IllegalArgumentException](cat.expireTags(0))
  }

  test("metadata-only delete: fully-covered files drop without a rewrite; boundary files still rewrite") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 150)
    cat.createTableIfNotExists("t", docs.schema)
    // three single-file appends with disjoint id ranges -> footer stats
    // prove range containment per file
    cat.append("t", docs.filter(col("doc_id") < 50).repartition(1))
    cat.append("t", docs.filter(col("doc_id") >= 50 && col("doc_id") < 100).repartition(1))
    cat.append("t", docs.filter(col("doc_id") >= 100).repartition(1))
    val preId = cat.snapshotIdOf("t").get

    cat.createBranch("gdpr")
    val res = cat.deleteWhere("t", col("doc_id") < 100, "gdpr")
    assert(res.filesDropped == 2, s"both fully-covered files must drop metadata-only: $res")
    assert(res.filesRewritten == 0, s"no file may be rewritten: $res")
    assert(res.rowsDeleted == 100, s"$res")
    // the delete wrote NO new manifests: rewrites stamp the new commit's
    // seq, so every surviving manifest must predate it (carried by ref)
    assert(res.snapshot.manifests.forall(_.seq < res.snapshot.seq),
      "a pure metadata delete must not write new manifests")
    // time travel unharmed (dropped files still on disk until expiry)
    assert(cat.scanSnapshot("t", preId).count() == 150)
    cat.merge("gdpr")
    assert(cat.scan("t", "main").count() == 50)
    assert(cat.scan("t", "main").agg(min(col("doc_id"))).head.getLong(0) == 100L)

    // boundary delete: one file provably covered, one partial -> mixed tiers
    val cat2 = freshCatalog()
    cat2.createTableIfNotExists("t", docs.schema)
    cat2.append("t", docs.filter(col("doc_id") < 50).repartition(1))
    cat2.append("t", docs.filter(col("doc_id") >= 50 && col("doc_id") < 100).repartition(1))
    cat2.append("t", docs.filter(col("doc_id") >= 100).repartition(1))
    val res2 = cat2.deleteWhere("t", col("doc_id") < 75)
    assert(res2.filesDropped == 1 && res2.filesRewritten == 1 && res2.rowsDeleted == 75, s"$res2")
    assert(cat2.scan("t").count() == 75)
    assert(cat2.scan("t").agg(min(col("doc_id"))).head.getLong(0) == 75L)
  }

  test("metadata-only delete soundness refusals: nulls, floats, IS NULL proof, string equality") {
    val cat = freshCatalog()
    val spark0 = spark
    import spark0.implicits._
    // file A: ids 0-9, v all 'a', d small, s has ONE null
    // file B: ids 10-19, v all 'b', d small, s non-null
    val a = (0L until 10L).map(i => (i, "a", 1.5, if (i == 3) null else s"s$i")).toDF("id", "v", "d", "s")
    val b = (10L until 20L).map(i => (i, "b", 2.5, s"s$i")).toDF("id", "v", "d", "s")
    cat.createTableIfNotExists("t", a.schema)
    cat.append("t", a.repartition(1))
    cat.append("t", b.repartition(1))

    // a column WITH nulls blocks the proof (NULL rows are KEPT by SQL
    // DELETE, so "all rows match s <= 'z'" is false however wide the bounds)
    val r1 = cat.deleteWhere("t", col("s") <= "zzz" && col("id") < 10)
    assert(r1.filesDropped == 0 && r1.filesRewritten == 1, s"$r1")
    assert(r1.rowsDeleted == 9, s"the null-s row must survive: $r1")
    assert(cat.scan("t").filter(col("id") < 10).count() == 1)

    // float/double bounds never prove all-match (NaN exclusion)
    val r2 = cat.deleteWhere("t", col("d") < 1e9)
    assert(r2.filesDropped == 0 && r2.filesRewritten >= 1, s"$r2")
    assert(cat.scan("t").count() == 0)

    // IS NULL proves all-match when nullCount == rows; string equality
    // proves all-match when lower == upper == the literal
    val cat2 = freshCatalog()
    val allNull = (0L until 5L).map(i => (i, Option.empty[String])).toDF("id", "v")
    val someV = (5L until 10L).map(i => (i, Option("x"))).toDF("id", "v")
    cat2.createTableIfNotExists("t", allNull.schema)
    cat2.append("t", allNull.repartition(1))
    cat2.append("t", someV.repartition(1))
    val r3 = cat2.deleteWhere("t", col("v").isNull)
    assert(r3.filesDropped == 1 && r3.filesRewritten == 0 && r3.rowsDeleted == 5, s"$r3")
    val r4 = cat2.deleteWhere("t", col("v") === "x")
    assert(r4.filesDropped == 1 && r4.filesRewritten == 0 && r4.rowsDeleted == 5, s"$r4")
    assert(cat2.scan("t").count() == 0)

    // integral widening through an analyzer cast: int column vs long
    // literal still proves; a truncate-style DELETE WHERE true drops
    // every file metadata-only
    val cat3 = freshCatalog()
    val ints = (0 until 20).map(i => (i, i.toString)).toDF("k", "w")
    cat3.createTableIfNotExists("t", ints.schema)
    cat3.append("t", ints.filter(col("k") < 10).repartition(1))
    cat3.append("t", ints.filter(col("k") >= 10).repartition(1))
    val r5 = cat3.deleteWhere("t", col("k") < 10L)
    assert(r5.filesDropped == 1 && r5.filesRewritten == 0, s"widening int->long must prove: $r5")
    val r6 = cat3.deleteWhere("t", lit(true))
    assert(r6.filesDropped == 1 && r6.filesRewritten == 0 && r6.rowsDeleted == 10, s"$r6")
    assert(cat3.scan("t").count() == 0)
  }

  test("metadata-only delete under NOT: lang <> 'en' drops the other partitions' files unread") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 150)
      .select("doc_id", "lang", "n_chars")
    cat.createTableIfNotExists("t", docs.schema, "main", Seq(IdentityPartition("lang")))
    cat.append("t", docs)
    val others = cat.dataFiles("t").count(f =>
      f.nullCounts.get("lang").contains(0L) && f.lower.get("lang").exists(_ != "en"))
    assert(others > 0)
    val res = cat.deleteWhere("t", col("lang") =!= "en")
    assert(res.filesDropped == others && res.filesRewritten == 0, s"$res")
    assert(res.rowsDeleted == docs.filter(col("lang") =!= "en").count(), s"$res")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "lang", "n_chars").collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    assert(rows(cat.scan("t")) == rows(docs.filter(col("lang") === "en")))
  }

  test("deleteWhere: NULL predicate keeps the row; out-of-range delete is a no-op; delete-all empties the table") {
    val cat = freshCatalog()
    val spark0 = spark
    import spark0.implicits._
    val df = Seq((1L, Option("a")), (2L, Option.empty[String]), (3L, Option("b")))
      .toDF("id", "v")
    cat.createTableIfNotExists("t", df.schema)
    cat.append("t", df)

    val res = cat.deleteWhere("t", col("v") === "a")
    assert(res.rowsDeleted == 1)
    val rows = cat.scan("t").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSet
    assert(rows == Set((2L, null), (3L, "b")), "the NULL-predicate row must be kept")

    // predicate provably false by stats: no rewrite, no new snapshot
    val head = cat.snapshotIdOf("t").get
    val noop = cat.deleteWhere("t", col("id") > 100)
    assert(noop.snapshot.id == head && noop.rowsDeleted == 0 && noop.filesRewritten == 0)

    // delete everything: table scans empty, schema preserved
    val all = cat.deleteWhere("t", lit(true))
    assert(all.rowsDeleted == 2)
    assert(cat.scan("t").count() == 0)
    assert(cat.scan("t").schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("merge conflict: both sides rewriting the same manifests fails loudly instead of duplicating") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 100))
    cat.createBranch("del")
    // both sides rewrite the SAME files: branch deletes some rows, main
    // deletes different rows — an append-only merge of the two rewrites
    // would duplicate every row untouched by both
    cat.deleteWhere("t", col("doc_id") < 10, "del")
    cat.deleteWhere("t", col("doc_id") >= 90, "main")
    val e = intercept[IllegalStateException](cat.merge("del"))
    assert(e.getMessage.contains("merge conflict"), e.getMessage)
    assert(cat.scan("t", "main").count() == 90, "main untouched by the failed merge")

    // rebase: re-fork from main and replay the delete -> publishes cleanly
    cat.dropBranch("del")
    cat.createBranch("del")
    cat.deleteWhere("t", col("doc_id") < 10, "del")
    cat.merge("del")
    assert(cat.scan("t", "main").count() == 80)
    assert(cat.scan("t", "main").select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      (10L until 90L))
    // concurrent compactions are the same conflict
    val cat2 = freshCatalog()
    cat2.createTableIfNotExists("t", docs.schema)
    for (i <- 0 until 3)
      cat2.append("t", docs.filter(col("doc_id") >= i * 10L && col("doc_id") < (i + 1) * 10L))
    cat2.createBranch("c")
    cat2.compactDataFiles("t", "c")
    cat2.compactDataFiles("t", "main")
    assert(intercept[IllegalStateException](cat2.merge("c"))
      .getMessage.contains("merge conflict"))
    assert(cat2.scan("t", "main").count() == 30, "no duplication")
  }

  test("hour/month/truncate transforms: range and prefix predicates prune") {
    val spark0 = spark
    import spark0.implicits._
    // hour(ts): 6 hours x 20 events
    val cat = freshCatalog()
    val events = (0 until 120).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-03-10 ${8 + i % 6}%02d:30:${i / 6}%02d"), i * 1.0)
    }.toDF("event_id", "ts", "value")
    cat.createTableIfNotExists("ev", events.schema)
    cat.appendPartitioned("ev", events, HourPartition("ts"))
    val hTotal = cat.dataFiles("ev").size
    assert(hTotal >= 6)
    val oneHour = col("ts") >= lit("2024-03-10 10:00:00").cast("timestamp") &&
      col("ts") < lit("2024-03-10 11:00:00").cast("timestamp")
    val hPruned = cat.prunedDataFiles("ev", oneHour)
    assert(hPruned.forall(_.partition("pv") == "2024-03-10 10"), s"$hPruned")
    assert(cat.scan("ev", filter = Some(oneHour)).count() == 20)

    // truncate(4, source): prefix groups; equality and range prune
    val cat2 = freshCatalog()
    val docs = (0 until 200).map(i => (i.toLong, s"src${i % 5}-shard${i % 3}"))
      .toDF("doc_id", "source")
    cat2.createTableIfNotExists("d", docs.schema)
    cat2.appendPartitioned("d", docs, TruncatePartition(4, "source"))
    val tTotal = cat2.dataFiles("d").size
    assert(tTotal >= 5)
    val eq = cat2.prunedDataFiles("d", col("source") === "src2-shard1")
    assert(eq.forall(_.partition("pv") == "src2"), s"$eq")
    assert(cat2.scan("d", filter = Some(col("source") === "src2-shard1")).count() > 0)
    assert(cat2.prunedDataFiles("d", col("source") >= "src3").forall(
      _.partition("pv") >= "src3"))

    // month parses round-trip
    assert(PartitionSpec.parse("month(ts)") == MonthPartition("ts"))
    assert(PartitionSpec.parse("hour(ts)") == HourPartition("ts"))
    assert(PartitionSpec.parse("truncate(4,source)") == TruncatePartition(4, "source"))
  }

  test("bucket pruning is type-coercion safe: a wider literal on a narrower key column still finds the row") {
    val spark0 = spark
    import spark0.implicits._
    val cat = freshCatalog()
    // INT key column: xxhash64 hashes int and long DIFFERENTLY, so the
    // literal must be evaluated in the column's own type
    val df = (0 until 200).map(i => (i, s"row-$i")).toDF("id", "v")
    cat.createTableIfNotExists("t", df.schema)
    cat.appendPartitioned("t", df, BucketPartition(8, "id"))
    // the comparison coerces the int column up to the long literal's type
    val got = cat.scan("t", filter = Some(col("id") === 57L)).collect()
    assert(got.length == 1 && got.head.getString(1) == "row-57",
      "cross-type point lookup must not prune away the matching bucket")
    // and it still PRUNES (the coerced literal hashes to the right bucket)
    val total = cat.dataFiles("t").size
    assert(cat.prunedDataFiles("t", col("id") === 57L).size * 4 <= total)
    // an unrepresentable literal matches nothing and prunes nothing (sound)
    assert(cat.scan("t", filter = Some(col("id") === 5000000000L)).count() == 0)
  }

  test("DML on a partitioned table preserves the hidden layout through rewrites") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("t", docs.schema)
    cat.appendPartitioned("t", docs, BucketPartition(8, "doc_id"))
    cat.deleteWhere("t", col("doc_id") === 57L)
    assert(cat.scan("t").count() == 199)
    // every surviving file still carries its transform value...
    assert(cat.dataFiles("t").forall(_.partition.contains("pv")),
      "delete rewrite must keep the bucket layout")
    // ...so point lookups still prune after the delete
    val total = cat.dataFiles("t").size
    assert(cat.prunedDataFiles("t", col("doc_id") === 58L).size * 4 <= total)
    assert(cat.scan("t", filter = Some(col("doc_id") === 58L)).count() == 1)

    cat.updateWhere("t", col("doc_id") === 58L, Map("n_chars" -> lit(7L)))
    assert(cat.dataFiles("t").forall(_.partition.contains("pv")),
      "update rewrite must keep the bucket layout")
    assert(cat.scan("t", filter = Some(col("doc_id") === 58L))
      .select("n_chars").head.getLong(0) == 7L)
  }

  test("updateWhere: stats-bounded rewrite, NULL cond rows untouched, branch publish via merge") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 100))
    cat.append("t", docs.filter(col("doc_id") >= 100 && col("doc_id") < 200))
    val before = cat.scan("t").select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val preId = cat.snapshotIdOf("t").get

    cat.createBranch("fix")
    val res = cat.updateWhere("t", col("doc_id") < 50,
      Map("n_chars" -> (col("n_chars") + lit(1000))), "fix")
    assert(res.rowsUpdated == 50, s"$res")
    assert(res.filesRewritten >= 1 && res.filesUntouched >= 1,
      s"the second append's files must not be rewritten: $res")

    val after = cat.scan("t", "fix").select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.size == 200, "UPDATE never changes row count")
    for ((id, n) <- after)
      assert(n == before(id) + (if (id < 50) 1000 else 0), s"doc $id")
    // isolation: main is untouched until merge; time travel sees pre-update
    val mainBefore = cat.scan("t", "main").select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mainBefore == before)
    assert(cat.scanSnapshot("t", preId).count() == 200)

    cat.merge("fix")
    val main = cat.scan("t", "main").select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(main == after, "merge publishes the update")
    cat.merge("fix")
    assert(cat.scan("t", "main").count() == 200, "idempotent")

    // rows where cond is NULL stay untouched
    val spark0 = spark
    import spark0.implicits._
    val cat2 = freshCatalog()
    val df = Seq((1L, Option("a"), 1.0), (2L, Option.empty[String], 1.0), (3L, Option("b"), 1.0))
      .toDF("id", "v", "x")
    cat2.createTableIfNotExists("u", df.schema)
    cat2.append("u", df)
    val r2 = cat2.updateWhere("u", col("v") === "a", Map("x" -> lit(9.0)))
    assert(r2.rowsUpdated == 1)
    val xs = cat2.scan("u").collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(xs == Map(1L -> 9.0, 2L -> 1.0, 3L -> 1.0), "NULL-cond row must not update")
    // unknown SET column is rejected before any write
    assertThrows[IllegalArgumentException] {
      cat2.updateWhere("u", col("id") === 1L, Map("nope" -> lit(1)))
    }
  }

  test("upsert: source rows replace matching keys and insert the rest, key-range bounded, one commit") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 100))
    cat.append("t", docs.filter(col("doc_id") >= 100 && col("doc_id") < 200))
    val preId = cat.snapshotIdOf("t").get

    // source: modified copies of 90..109 plus brand-new 200..204
    val source = docs.filter((col("doc_id") >= 90 && col("doc_id") < 110) ||
        (col("doc_id") >= 200 && col("doc_id") < 205))
      .withColumn("n_chars", col("n_chars") + lit(5000))
    val res = cat.upsert("t", source, Seq("doc_id"))
    assert(res.rowsReplaced == 20, s"$res")
    assert(res.rowsInserted == 5, s"$res")
    assert(res.filesRewritten >= 1 && res.filesRewritten + res.filesUntouched >= res.filesRewritten)

    val after = cat.scan("t").select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = docs.filter(col("doc_id") < 205).select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.size == 205, "200 original + 5 inserted")
    for ((id, n) <- after) {
      val want = before(id) +
        (if ((id >= 90 && id < 110) || (id >= 200 && id < 205)) 5000L else 0L)
      assert(n == want, s"doc $id: got $n want $want")
    }
    // time travel shows the pre-upsert state
    assert(cat.scanSnapshot("t", preId).count() == 200)
    assert(cat.scanSnapshot("t", preId).filter(col("n_chars") >= 5000).count() ==
      before.count(_._2 >= 5000L).toLong)

    // an empty source is a clean no-op (same snapshot)
    val head = cat.snapshotIdOf("t").get
    val noop = cat.upsert("t", docs.filter(lit(false)), Seq("doc_id"))
    assert(noop.snapshot.id == head && noop.rowsReplaced == 0 && noop.rowsInserted == 0)
  }

  test("rewritePartitioned retrofits (or changes) a partition layout; pruning works after") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs) // unpartitioned history
    assert(cat.prunedDataFiles("t", col("doc_id") === 57L).nonEmpty)

    val snap = cat.rewritePartitioned("t", BucketPartition(8, "doc_id"))
    assert(snap.partitionSpec.contains("bucket(8,doc_id)"))
    val total = cat.dataFiles("t").size
    assert(total >= 8)
    assert(cat.prunedDataFiles("t", col("doc_id") === 57L).size * 4 <= total)
    assert(cat.scan("t").count() == 200)
    assert(cat.scan("t", filter = Some(col("doc_id") === 57L)).count() == 1)
    // appendPartitioned under the SAME spec now works; a different one is rejected
    cat.appendPartitioned("t", Tables.documents(spark, sfDir)
      .filter(col("doc_id") >= 200 && col("doc_id") < 220), BucketPartition(8, "doc_id"))
    assert(cat.scan("t").count() == 220)
    // changing the layout again goes through another rewrite
    val snap2 = cat.rewritePartitioned("t", BucketPartition(4, "doc_id"))
    assert(snap2.partitionSpec.contains("bucket(4,doc_id)"))
    assert(cat.scan("t").count() == 220)
  }

  test("compaction folds manifests and rewrites small files; expiry reclaims orphans") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    // streaming-style ingest: 5 tiny commits -> 5 manifests, >= 5 files
    for (i <- 0 until 5)
      cat.append("t", docs.filter(col("doc_id") >= i * 10L && col("doc_id") < (i + 1) * 10L).coalesce(1))
    val before = cat.scan("t").select("doc_id").collect().map(_.getLong(0)).sorted
    assert(cat.dataFiles("t").size == 5)
    val preCompactId = cat.snapshotIdOf("t").get

    // metadata-only manifest fold: same data files, one manifest
    val pathsBefore = cat.dataFiles("t").map(_.path).sorted
    val folded = cat.compactManifests("t")
    assert(folded.manifests.size == 1)
    assert(cat.dataFiles("t").map(_.path).sorted == pathsBefore)
    assert(cat.scan("t").select("doc_id").collect().map(_.getLong(0)).sorted.sameElements(before))

    // data rewrite into one file
    val compacted = cat.compactDataFiles("t", targetFiles = 1)
    assert(compacted.manifests.size == 1)
    assert(cat.dataFiles("t").size == 1)
    assert(cat.scan("t").select("doc_id").collect().map(_.getLong(0)).sorted.sameElements(before))
    // pre-compaction snapshot still time-travels until expired
    assert(cat.scanSnapshot("t", preCompactId).count() == before.length.toLong)

    // expiry: only the branch head survives; orphaned files are deleted
    val res = cat.expireSnapshots("t")
    assert(res.snapshotsDeleted >= 6, s"$res") // 5 appends + 2 compactions - head, + create
    assert(res.dataFilesDeleted == 5, s"$res")
    assert(intercept[Exception](cat.scanSnapshot("t", preCompactId)) != null)
    assert(cat.scan("t").select("doc_id").collect().map(_.getLong(0)).sorted.sameElements(before))
    // the survivors' data files all still exist on disk
    assert(cat.dataFiles("t").forall(f => new java.io.File(new java.net.URI(f.path).getPath).exists() ||
      new java.io.File(f.path.stripPrefix("file:")).exists()))
  }

  test("expiry never reclaims files a live branch still references") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 10))
    cat.createBranch("keeper")
    // main moves on and compacts; keeper still points at the old snapshot
    cat.append("t", docs.filter(col("doc_id") >= 10 && col("doc_id") < 20))
    cat.compactDataFiles("t", targetFiles = 1)
    cat.expireSnapshots("t")
    assert(cat.scan("t", "keeper").count() == 10, "branch head must survive expiry")
    assert(cat.scan("t", "main").count() == 20)
  }

  test("distributed metadata: 1200-manifest scan plans with ZERO driver manifest reads") {
    val cat = new BranchCatalog(spark, Files.createTempDirectory("wap-dist").toString,
      distributedMetaThreshold = 10)
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 20)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs)
    assert(cat.scan("t").count() == 20)
    // synthesize a snapshot with 1200 single-file manifests whose stats
    // place them OUTSIDE the test predicate; their data paths do not even
    // exist, so a scan that fails to prune (or prunes without reading
    // stats) cannot pass this test
    val liveManifestRefs = Seq(cat.writeManifest("t", cat.dataFiles("t"), docs.schema))
    val ghostRefs = (0 until 1200).map { i =>
      cat.writeManifest("t", Seq(DataFileMeta(
        path = s"${cat.root}/tables/t/data/ghost/part-$i.parquet",
        rows = 1,
        lower = Map("doc_id" -> (1000L + i).toString),
        upper = Map("doc_id" -> (1000L + i).toString),
        nullCounts = Map("doc_id" -> 0L))), docs.schema)
    }
    val snap = Snapshot("synth-dist-scan", None,
      liveManifestRefs ++ ghostRefs, docs.schema.toDDL, 1L)
    cat.writeSnapshot("t", snap)

    cat.driverManifestReads.set(0L)
    val out = cat.scanSnapshot("t", snap.id, Some(col("doc_id") < 20))
    assert(out.count() == 20, "stats pruning must drop all 1200 ghost files")
    assert(out.filter(col("doc_id") === 7).count() == 1)
    assert(cat.driverManifestReads.get() == 0L,
      s"distributed scan read ${cat.driverManifestReads.get()} manifests on the driver")

    // parity: a driver-planned catalog over the SAME metadata agrees —
    // and the r11 manifest-list tier means even the DRIVER path reads
    // only the ONE manifest whose bounds admit the predicate, not 1201
    val driverCat = new BranchCatalog(spark, cat.root)
    val driverOut = driverCat.scanSnapshot("t", snap.id, Some(col("doc_id") < 20))
    assert(driverOut.count() == 20)
    assert(driverCat.driverManifestReads.get() == 1L,
      s"manifest-list pruning must skip all 1200 excluded manifests, " +
        s"read ${driverCat.driverManifestReads.get()}")
  }

  test("distributed expiry equals driver expiry on identical logical content") {
    val docs = Tables.documents(spark, sfDir)
    // identical logical content in two roots (metadata embeds absolute
    // paths, so a directory copy is NOT equivalent — build twice instead)
    def build(cat: BranchCatalog): Unit = {
      cat.createTableIfNotExists("t", docs.schema)
      for (i <- 0 until 3)
        cat.append("t", docs.filter(col("doc_id") >= i * 5L && col("doc_id") < (i + 1) * 5L))
      cat.createBranch("b1")
      cat.append("t", docs.filter(col("doc_id") >= 20 && col("doc_id") < 25), "b1")
      // drop the branch so the pre-compaction manifests + files orphan
      cat.merge("b1"); cat.dropBranch("b1")
      cat.compactDataFiles("t", targetFiles = 1)
    }
    val cat1 = new BranchCatalog(spark, Files.createTempDirectory("wap-exp1").toString)
    val cat2 = new BranchCatalog(spark, Files.createTempDirectory("wap-exp2").toString,
      distributedMetaThreshold = 0)
    build(cat1); build(cat2)

    val r1 = cat1.expireSnapshots("t")
    cat2.driverManifestReads.set(0L)
    val r2 = cat2.expireSnapshots("t")
    assert(r1 == r2, s"driver $r1 vs distributed $r2")
    assert(r1.dataFilesDeleted > 0, "test must actually reclaim data files")
    assert(cat2.driverManifestReads.get() == 0L,
      "distributed expiry must not parse manifests on the driver")
    assert(cat2.scan("t").count() == cat1.scan("t").count())
    assert(cat2.scan("t").count() == 20)
  }

  test("expiry keeps fork bases: history, branch delta and merge survive it") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 5))
    cat.append("t", docs.filter(col("doc_id") >= 5 && col("doc_id") < 10))
    cat.createBranch("audit") // fork base = main's current head snapshot
    cat.append("t", docs.filter(col("doc_id") >= 10 && col("doc_id") < 15), "audit")
    // main moves on, stranding intermediate snapshots behind the heads
    cat.append("t", docs.filter(col("doc_id") >= 15 && col("doc_id") < 20))
    val expired = cat.expireSnapshots("t")
    assert(expired.snapshotsDeleted > 0, "test must actually expire something")
    // commit history stops at the expiry horizon instead of throwing
    val hist = cat.commitHistory("t")
    assert(hist.nonEmpty)
    assert(hist.last.cumulativeRows == 15, "main rows: 0-10 and 15-20")
    // the branch's delta scope still loads its (kept-alive) fork base
    assert(cat.scanBranchDelta("t", "audit").count() == 5)
    // and a 3-way merge of the pre-expiry branch still publishes cleanly
    cat.merge("audit", "main")
    assert(cat.scan("t", "main").count() == 20)
  }

  test("append rejects schema-mismatched batches before writing anything") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 5))
    val bad = docs.withColumn("extra", lit(1))
    val e = intercept[IllegalArgumentException](cat.append("t", bad))
    assert(e.getMessage.contains("schema mismatch"))
    val wrongType = docs.withColumn("n_chars", col("n_chars").cast("string"))
    intercept[IllegalArgumentException](cat.append("t", wrongType))
    // catalog state untouched
    assert(cat.scan("t").count() == 5)
    assert(cat.dataFiles("t").size == cat.dataFiles("t").size)
  }

  test("optimistic commits survive real concurrency: racing appends all land") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    val versionBefore = cat.currentRefs().version
    val threads = 4
    val commitsEach = 5
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val latch = new java.util.concurrent.CountDownLatch(threads)
    for (th <- 0 until threads) {
      pool.submit(new Runnable {
        def run(): Unit = {
          try {
            for (i <- 0 until commitsEach) {
              val id = (th * commitsEach + i).toLong
              cat.append("t", docs.filter(col("doc_id") === id))
            }
          } catch { case e: Throwable => failures.incrementAndGet(); e.printStackTrace() }
          finally latch.countDown()
        }
      })
    }
    assert(latch.await(300, java.util.concurrent.TimeUnit.SECONDS), "append threads timed out")
    pool.shutdown()
    assert(failures.get() == 0, "no committer may lose all retries")
    // every commit landed exactly once: 20 rows, one refs version per commit
    assert(cat.scan("t").count() == (threads * commitsEach).toLong)
    assert(cat.scan("t").select("doc_id").distinct().count() == (threads * commitsEach).toLong)
    assert(cat.currentRefs().version == versionBefore + threads * commitsEach)
    assert(cat.dataFiles("t").map(_.rows).sum == (threads * commitsEach).toLong)
  }

  test("schema evolution: add-with-nulls and numeric widening; time travel keeps the old schema") {
    import org.apache.spark.sql.types._
    val cat = freshCatalog()
    val spark0 = spark
    import spark0.implicits._
    val oldBatch = Seq((1, "a"), (2, "b")).toDF("id", "name") // id is INT
    cat.createTableIfNotExists("t", oldBatch.schema)
    cat.append("t", oldBatch)
    val preEvolveSnap = cat.snapshotIdOf("t").get

    // widen id to LONG and add a nullable score column — metadata only
    val evolved = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("name", StringType, nullable = true),
      StructField("score", DoubleType, nullable = true)))
    cat.evolveSchema("t", evolved)

    // a pre-evolution writer's old-schema batch still appends (aligned:
    // id widened, score filled with nulls)
    cat.append("t", Seq((3, "c")).toDF("id", "name"))
    // and a new-schema batch appends values
    cat.append("t", Seq((4L, "d", 0.9)).toDF("id", "name", "score"))

    val out = cat.scan("t")
    assert(out.schema("id").dataType == LongType, "old files read under the widened type")
    assert(out.count() == 4)
    assert(out.filter(col("score").isNull).count() == 3, "pre-evolution rows read as null score")
    assert(out.filter(col("score") === 0.9).select("id").collect().map(_.getLong(0)).toSeq == Seq(4L))

    // time travel: the pre-evolution snapshot keeps its own schema
    val old = cat.scanSnapshot("t", preEvolveSnap)
    assert(old.schema.fieldNames.toSeq == Seq("id", "name"))
    assert(old.schema("id").dataType == IntegerType)
    assert(old.count() == 2)

    // the snapshot chain records the change points
    val hist = cat.schemaHistory("t")
    assert(hist.size == 2)
    assert(hist.last._2 == evolved.toDDL)

    // illegal evolutions are rejected loudly
    intercept[IllegalArgumentException](cat.evolveSchema("t", StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType),
      StructField("score", DoubleType))))) // narrowing id back
    intercept[IllegalArgumentException](cat.evolveSchema("t",
      evolved.add(StructField("strict", LongType, nullable = false))))

    // DROP COLUMN is legal metadata-only evolution (r11); re-adding the
    // name refuses while pre-drop files remain, and a rewrite frees it
    cat.evolveSchema("t", StructType(evolved.fields.filterNot(_.name == "name")))
    assert(cat.scan("t").columns.toSeq == Seq("id", "score"))
    val readd = intercept[IllegalArgumentException](cat.evolveSchema("t", evolved))
    assert(readd.getMessage.contains("rewrite"), readd.getMessage)
    cat.compactDataFiles("t")
    cat.evolveSchema("t", StructType(evolved.fields.filterNot(_.name == "name")).add(
      StructField("name", StringType, nullable = true)))
    assert(cat.scan("t").filter(col("name").isNotNull).count() == 0,
      "re-added column must start empty — old values never resurrect")
  }

  test("conditional-put refs backend: full catalog life cycle and racing commits") {
    // two catalog instances share ONE conditional-put object store (the
    // S3 If-None-Match model) and one data root — the refs pointer never
    // touches the filesystem, and every commit is one conditional put
    val store = new InMemoryObjectStore
    val root = Files.createTempDirectory("wap-condput").toString
    def newCat() = new BranchCatalog(spark, root,
      refsBackend = Some(new ConditionalPutRefsStore(store, s"$root/")))
    val cat = newCat()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 10))
    cat.createBranch("b1")
    cat.append("t", docs.filter(col("doc_id") >= 10 && col("doc_id") < 20), "b1")
    cat.merge("b1")
    assert(cat.scan("t").count() == 20)
    // refs live in the object store only
    assert(store.list(s"$root/").nonEmpty)
    assert(!new java.io.File(root).list().exists(_.startsWith("refs-")),
      "refs must not leak to the filesystem when a store backend is given")

    // racing committers from two separate catalog instances all land
    val other = newCat()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val latch = new java.util.concurrent.CountDownLatch(2)
    for ((c, base) <- Seq((cat, 100L), (other, 200L))) {
      pool.submit(new Runnable {
        def run(): Unit = {
          try for (i <- 0L until 5L) c.append("t", docs.filter(col("doc_id") === base + i))
          catch { case e: Throwable => failures.incrementAndGet(); e.printStackTrace() }
          finally latch.countDown()
        }
      })
    }
    assert(latch.await(300, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(failures.get() == 0)
    assert(cat.scan("t").count() == 30)
    assert(other.scan("t").select("doc_id").distinct().count() == 30)
  }

  test("concurrent full WAP cycles on separate branches all publish") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir)
    cat.createTableIfNotExists("t", docs.schema)
    val threads = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val published = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val latch = new java.util.concurrent.CountDownLatch(threads)
    for (th <- 0 until threads) {
      pool.submit(new Runnable {
        def run(): Unit = {
          try {
            val batch = docs.filter(col("doc_id") >= th * 10L && col("doc_id") < (th + 1) * 10L)
            val r = Wap.run(cat, "t", batch, Seq(NotNull("text")), s"up-$th")
            if (r.published) published.incrementAndGet()
          } catch { case e: Throwable => failures.incrementAndGet(); e.printStackTrace() }
          finally latch.countDown()
        }
      })
    }
    assert(latch.await(300, java.util.concurrent.TimeUnit.SECONDS), "WAP threads timed out")
    pool.shutdown()
    assert(failures.get() == 0)
    assert(published.get() == threads)
    val ids = cat.scan("t").select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids.length == threads * 10, s"got ${ids.length} rows")
    assert(ids.toSeq == (0L until threads * 10L))
    assert(cat.listBranches() == Seq("main"), "all upload branches dropped")
  }

  test("truncate partition values keep literal '+' and %XX-escaped chars verbatim") {
    // Spark escapes partition dir names Hive-style: ':' becomes %3A but a
    // literal '+' stays '+'. URL-decoding the dir name (the pre-r5 bug)
    // turned '+' into a space, so the file carried the wrong partition
    // value and equality pruning dropped it — silent missing results.
    val cat = freshCatalog()
    val spark0 = spark
    import spark0.implicits._
    val df = ((0 until 40).map(i => (i.toLong, s"a+b-${i % 2}")) ++
      (40 until 80).map(i => (i.toLong, s"x:y-$i"))).toDF("doc_id", "source")
    cat.createTableIfNotExists("d", df.schema)
    cat.appendPartitioned("d", df, TruncatePartition(3, "source"))
    val pvs = cat.dataFiles("d").flatMap(_.partition.get("pv")).toSet
    assert(pvs == Set("a+b", "x:y"), s"recorded partition values: $pvs")
    assert(cat.scan("d", filter = Some(col("source") === "a+b-1")).count() == 20)
    assert(cat.scan("d", filter = Some(col("source") === "x:y-40")).count() == 1)
    // and the pruning still actually prunes: equality keeps one prefix
    val kept = cat.prunedDataFiles("d", col("source") === "a+b-1")
    assert(kept.nonEmpty && kept.forall(_.partition("pv") == "a+b"))
  }

  test("time partitions write UTC values under a non-UTC session timezone") {
    // date_format renders in the session timezone while align() computes
    // units in UTC; pre-r5 a non-UTC session recorded local-day partition
    // values that disagreed with prune-time alignment (unsound pruning).
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val cat = freshCatalog()
      val spark0 = spark
      import spark0.implicits._
      // instants straddling UTC midnight (both are Mar 12 in LA local time)
      val t0 = java.time.Instant.parse("2024-03-12T23:30:00Z").toEpochMilli
      val t1 = java.time.Instant.parse("2024-03-13T00:30:00Z").toEpochMilli
      val rows = (0 until 20).map(i => (i.toLong, new java.sql.Timestamp(t0 + i * 1000L), 1.0)) ++
        (20 until 40).map(i => (i.toLong, new java.sql.Timestamp(t1 + i * 1000L), 1.0))
      val df = rows.toDF("event_id", "ts", "value")
      cat.createTableIfNotExists("ev", df.schema)
      cat.appendPartitioned("ev", df, DayPartition("ts"))
      val pvs = cat.dataFiles("ev").flatMap(_.partition.get("pv")).toSet
      assert(pvs == Set("2024-03-12", "2024-03-13"), s"partition values must be UTC days: $pvs")
      val cond = col("ts") >= lit(java.time.Instant.parse("2024-03-13T00:00:00Z"))
      assert(cat.scan("ev", filter = Some(cond)).count() == 20)
      val pruned = cat.prunedDataFiles("ev", cond)
      assert(pruned.nonEmpty && pruned.forall(_.partition("pv") == "2024-03-13"))
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("driver partition range pruning orders strings by UTF-8 bytes, matching Spark") {
    // U+E000 is 3 UTF-8 bytes, U+10000 (a surrogate pair in UTF-16) is 4:
    // Spark's binary ordering puts U+E000 < U+10000 while Java String
    // ordering puts the surrogate pair first. Pre-r5 the driver path used
    // String ordering and pruned the supplementary-char file on a range
    // predicate whose rows actually match (unsound prune).
    val cat = freshCatalog()
    val spark0 = spark
    import spark0.implicits._
    val hi = new String(Character.toChars(0x10000))
    val pe = "\uE000"
    val df = ((0 until 10).map(i => (i.toLong, s"$pe-a$i")) ++
      (10 until 20).map(i => (i.toLong, s"$hi-b$i"))).toDF("doc_id", "source")
    cat.createTableIfNotExists("d", df.schema)
    cat.appendPartitioned("d", df, TruncatePartition(1, "source"))
    assert(cat.dataFiles("d").flatMap(_.partition.get("pv")).toSet == Set(pe, hi))
    // >= U+E000 matches BOTH partitions under UTF-8 order
    assert(cat.scan("d", filter = Some(col("source") >= pe)).count() == 20)
    assert(cat.prunedDataFiles("d", col("source") >= pe)
      .flatMap(_.partition.get("pv")).toSet == Set(pe, hi))
    // >= U+10000 soundly prunes the U+E000 partition
    assert(cat.prunedDataFiles("d", col("source") >= hi)
      .flatMap(_.partition.get("pv")).toSet == Set(hi))
    assert(cat.scan("d", filter = Some(col("source") >= hi)).count() == 10)
  }

  test("non-ASCII partition values produce pure-ASCII directory names (locale-portable layout)") {
    // An ASCII-locale JVM (sun.jnu.encoding=ANSI_X3.4-1968) cannot create
    // directories with non-ASCII names — PathSafeEscape %XX-escapes them
    // at write so the physical layout survives any filesystem locale,
    // while the manifest keeps the TRUE string for pruning.
    val cat = freshCatalog()
    val spark0 = spark
    import spark0.implicits._
    val df = Seq((1L, "café"), (2L, "caf%"), (3L, "naïve"), (4L, "plain"))
      .toDF("doc_id", "source")
    cat.createTableIfNotExists("p", df.schema)
    cat.appendPartitioned("p", df, TruncatePartition(4, "source"))
    // manifest carries the true strings
    assert(cat.dataFiles("p").flatMap(_.partition.get("pv")).toSet ==
      Set("café", "caf%", "naïv", "plai"))
    // physical layout is pure ASCII
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        st.getPath.getName +: (if (st.isDirectory) walk(st.getPath) else Nil)
      }
    val names = walk(new org.apache.hadoop.fs.Path(cat.root, "tables/p/data"))
    val nonAscii = names.filter(_.exists(_ > 0x7f))
    assert(nonAscii.isEmpty, s"non-ASCII path components: $nonAscii")
    // scans and pruning still see the true values
    assert(cat.scan("p", filter = Some(col("source") === "café")).count() == 1)
    assert(cat.prunedDataFiles("p", col("source") === "caf%")
      .flatMap(_.partition.get("pv")).toSet == Set("caf%"))
    // PathSafeEscape round-trips, including legacy lenient cases
    assert(PathSafeEscape.unescape(
      PathSafeEscape.escape(org.apache.spark.unsafe.types.UTF8String
        .fromString("café 100% 𐀀")).toString) == "café 100% 𐀀")
    assert(PathSafeEscape.unescape("50%off") == "50%off") // non-hex '%' passes through
    assert(PathSafeEscape.unescape("trail%2") == "trail%2") // truncated suffix
  }

  test("branchStats reports per-branch rows/files/nulls from metadata alone") {
    val cat = freshCatalog()
    val spark0 = spark
    import spark0.implicits._
    val df = (0 until 100).map(i =>
      (i.toLong, if (i % 10 == 0) null else s"t$i")).toDF("doc_id", "text")
    cat.createTableIfNotExists("d", df.schema)
    cat.append("d", df.filter(col("doc_id") < 60))
    cat.createBranch("audit")
    cat.append("d", df.filter(col("doc_id") >= 60), "audit")
    val stats = cat.branchStats("d").collect()
      .map(r => r.getAs[String]("branch") -> r).toMap
    assert(stats.keySet == Set("main", "audit"))
    assert(stats("main").getAs[Long]("n_rows") == 60)
    assert(stats("audit").getAs[Long]("n_rows") == 100)
    assert(stats("main").getAs[Map[String, Long]]("null_counts")("text") == 6)
    assert(stats("audit").getAs[Map[String, Long]]("null_counts")("text") == 10)
    assert(stats("audit").getAs[Long]("n_files") >=
      stats("main").getAs[Long]("n_files"))
    assert(stats("main").getAs[String]("snapshot_id") ==
      cat.snapshotIdOf("d", "main").get)
    assert(stats("main").getAs[Long]("committed_at_ms") > 0L)
    // a branch not carrying the table simply contributes no row
    cat.createBranch("spare", from = "main")
    cat.dropTable("d", "spare")
    assert(cat.branchStats("d").count() == 2)
  }

  test("DataGen is deterministic and distributed-reproducible") {
    val a = DataGen.customerBatch(spark, 500).collect().map(_.toString).sorted
    val b = DataGen.customerBatch(spark, 500).repartition(7).collect().map(_.toString).sorted
    assert(a.sameElements(b))
    val withNulls = DataGen.customerBatch(spark, 500, injectNulls = true, nullEvery = 100)
    assert(withNulls.filter(col("my_col_1").isNull).count() == 5)
  }

  test("incremental ANALYZE folds per-manifest sketches; a refresh scans only the delta") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "source")
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 100))
    cat.append("t", docs.filter(col("doc_id") >= 100 && col("doc_id") < 200))
    cat.append("t", docs.filter(col("doc_id") >= 200 && col("doc_id") < 300))

    val (ndv1, sketched1) = cat.analyzeTableIncremental("t")
    assert(sketched1 == 3, "first pass sketches every manifest")
    assert(math.abs(ndv1("doc_id") - 300L) <= 30, s"NDV ${ndv1("doc_id")} vs exact 300")
    // the merged result serves through the SAME sidecar the connector reads
    assert(cat.columnStatsOf("t", cat.snapshotIdOf("t").get).contains(ndv1))

    // a new append re-sketches exactly ONE manifest, reading only its
    // rows — never the table (the 100 TB freshness contract)
    cat.append("t", docs.filter(col("doc_id") >= 300 && col("doc_id") < 400))
    val records = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) records.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val (ndv2, sketched2) =
      try {
        val r = cat.analyzeTableIncremental("t")
        // drain the async listener bus: poll until the counter is stable
        var last = -1L
        var spins = 0
        while (records.get() != last && spins < 25) {
          last = records.get(); Thread.sleep(200); spins += 1
        }
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(sketched2 == 1, "refresh sketches only the new manifest")
    assert(records.get() <= 150,
      s"refresh read ${records.get()} records — must scan only the 100-row delta")
    assert(math.abs(ndv2("doc_id") - 400L) <= 40, s"NDV ${ndv2("doc_id")} vs exact 400")

    // idempotent: nothing new, nothing scanned
    val (_, sketched3) = cat.analyzeTableIncremental("t")
    assert(sketched3 == 0)

    // string/source column survives the union too (low-cardinality)
    val exactSources = cat.scan("t").select("source").distinct().count()
    assert(math.abs(ndv2("source") - exactSources) <= math.max(1L, exactSources / 10))

    // pending MOR tombstones fall back to the exact scoped pass (raw
    // file sketches cannot see suppressed rows)
    import spark.implicits._
    cat.deleteKeysMOR("t", Seq(7L).toDF("doc_id"))
    val (ndvMor, sketchedMor) = cat.analyzeTableIncremental("t")
    assert(sketchedMor == 0 && ndvMor.contains("doc_id"))
  }

  test("manifest refs carry byte sums; folding preserves them") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 120)
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 60))
    cat.append("t", docs.filter(col("doc_id") >= 60))
    def refSum = cat.snapshotMeta("t", cat.snapshotIdOf("t").get).manifests.map(_.bytes).sum
    val exact = cat.dataFiles("t").map(_.bytes).sum
    assert(exact > 0 && refSum == exact,
      "ref byte sums must equal the per-file sums (planner sizes are O(manifests))")
    // manifest folding re-sums from the folded entries — nothing lost
    cat.compactManifests("t")
    assert(cat.snapshotMeta("t", cat.snapshotIdOf("t").get).manifests.size == 1)
    assert(refSum == exact, "folded manifest must carry the summed bytes")
  }

  test("bloom index: equality/IN pruning on unclustered files, incremental + GC'd") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 200)
    cat.createTableIfNotExists("t", docs.schema)
    // interleaved appends: every file spans the whole doc_id range, so
    // range stats admit all files for any point predicate
    for (r <- 0 until 4)
      cat.append("t", docs.filter(col("doc_id") % 4 === r).coalesce(1))
    val cond = col("doc_id") === 57L
    assert(cat.prunedDataFiles("t", cond).size == 4, "ranges overlap: nothing prunes")

    assert(cat.buildBloomIndex("t", "doc_id", fpp = 0.001) == 4,
      "one sidecar per manifest")
    val afterPoint = cat.prunedDataFiles("t", cond)
    assert(afterPoint.size < 4, "bloom must reject files without the key")
    // soundness: the pruned scan still returns exactly the key's rows
    assert(cat.scan("t", filter = Some(cond)).count() == 1)
    val inFiles = cat.prunedDataFiles("t", col("doc_id").isin(57L, 58L, 59L))
    assert(inFiles.size >= 1 && inFiles.size < 4,
      "an IN set prunes to the union of its keys' bloom-admitted files")
    // rebuild is a no-op (manifests immutable, sidecars reused)
    assert(cat.buildBloomIndex("t", "doc_id", fpp = 0.001) == 0)

    // a NEW append's manifest has no sidecar yet: its file is KEPT
    // (pruning declines, never drops), and an incremental rebuild
    // indexes only that one manifest
    cat.append("t", docs.filter(col("doc_id") >= 100 && col("doc_id") < 104).coalesce(1))
    val mixed = cat.prunedDataFiles("t", col("doc_id") === 101L)
    assert(mixed.exists(f => cat.dataFiles("t").takeRight(1).map(_.path).contains(f.path)),
      "unindexed new file must survive pruning")
    assert(cat.buildBloomIndex("t", "doc_id", fpp = 0.001) == 1,
      "only the new manifest gets indexed")

    // string columns probe through the same string-cast normalization
    cat.buildBloomIndex("t", "source", fpp = 0.001)
    val srcFiles = cat.prunedDataFiles("t", col("source") === "no_such_source")
    assert(srcFiles.isEmpty, "a value in no file's bloom prunes everything")

    // an EMPTY IN prunes everything without crashing, on both tiers
    assert(cat.prunedDataFiles("t", col("doc_id").isin()).isEmpty,
      "empty IN is false: driver tier prunes all files")

    // an empty commit's manifest indexes to an empty sidecar (no crash,
    // probes keep answering "might match" for its zero files)
    cat.append("t", docs.limit(0))
    assert(cat.buildBloomIndex("t", "doc_id", fpp = 0.001) == 1,
      "the empty manifest still gets its (empty) sidecar")

    // DISTRIBUTED planning tier: with the threshold forced low, manifest
    // pruning runs as a Spark job and executors load the sidecars
    // themselves (BloomSidecarCache) — same prune, no driver aggregation
    val dcat = new BranchCatalog(spark, cat.root, distributedMetaThreshold = 2)
    val dsnap = dcat.snapshotMeta("t", dcat.snapshotIdOf("t").get)
    val dschema = StructType.fromDDL(dsnap.schemaDdl)
    assert(dcat.distributedPrunedPaths(dsnap, Some(col("doc_id") === 57L), dschema).size < 4,
      "distributed tier must consult bloom sidecars")
    assert(dcat.scan("t", filter = Some(col("doc_id") === 57L)).count() == 1,
      "tiered scan stays sound under bloom pruning")
    assert(dcat.distributedPrunedPaths(dsnap, Some(col("doc_id").isin()), dschema).isEmpty,
      "empty IN is false on the distributed tier too (no reduce-on-Nil crash)")

    // a small-source UPSERT prunes its rewrite set through the bloom
    // index: the source keys' IN-list (not just their range, which spans
    // every interleaved file) bounds the files rewritten
    val up = cat.upsert("t",
      docs.filter(col("doc_id").isin(57L, 61L))
        .withColumn("n_chars", col("n_chars") + 1000), Seq("doc_id"))
    assert(up.rowsReplaced == 2 && up.rowsInserted == 0)
    assert(up.filesRewritten < 5,
      s"bloom + key IN-list must bound the rewrite set, rewrote ${up.filesRewritten}")
    assert(cat.scan("t", filter = Some(col("doc_id") === 57L))
      .head.getAs[Long]("n_chars") ==
      docs.filter(col("doc_id") === 57L).head.getAs[Long]("n_chars") + 1000)

    // timestamp normalization is SESSION-TZ-INDEPENDENT: build the index
    // under a non-UTC session TZ; probes (fixed-UTC rendering) must
    // still admit the matching file — a session-TZ build would render
    // "2024-.. 19:00 EST" while probes render UTC, silently dropping
    // files that DO match
    val tcat = freshCatalog()
    val evs = graft.Tables.eventsWithTs(spark, sfDir)
      .filter(col("event_id") < 40).select(col("event_id"), col("ts"))
    tcat.createTableIfNotExists("ev", evs.schema)
    for (r <- 0 until 2)
      tcat.append("ev", evs.filter(col("event_id") % 2 === r).coalesce(1))
    val probeTs = evs.filter(col("event_id") === 7L).head.getTimestamp(1)
    val savedTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      tcat.buildBloomIndex("ev", "ts", fpp = 0.001)
    } finally spark.conf.set("spark.sql.session.timeZone", savedTz)
    val tsHits = tcat.prunedDataFiles("ev", col("ts") === lit(probeTs))
    assert(tsHits.nonEmpty, "bloom built off-UTC must still admit a present timestamp")
    assert(tcat.scan("ev", filter = Some(col("ts") === lit(probeTs))).count() >= 1)
    assert(tcat.prunedDataFiles("ev",
      col("ts") === lit(java.sql.Timestamp.valueOf("1999-01-01 00:00:00"))).isEmpty,
      "an absent timestamp prunes everything")

    // compaction mints new manifests; expiry deletes the stale sidecars
    // with their manifests (glob cleanup)
    val metaDir = new org.apache.hadoop.fs.Path(cat.root, "tables/t/meta")
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sidecars() = fs.listStatus(metaDir).map(_.getPath.getName)
      .count(_.startsWith("bloom-"))
    val before = sidecars()
    assert(before >= 5, s"expected >=5 sidecars, got $before")
    // manifest FOLDING carries sidecars metadata-only (files unchanged,
    // maps merge — no data read), so pruning survives the fold
    cat.compactManifests("t")
    assert(cat.prunedDataFiles("t", col("doc_id") === 9999L).isEmpty,
      "bloom pruning must survive manifest folding without a rebuild")
    // data compaction re-indexes the previously-indexed columns itself
    cat.compactDataFiles("t")
    cat.expireSnapshots("t")
    assert(sidecars() < before, "expired manifests take their bloom sidecars along")
    assert(cat.prunedDataFiles("t", col("doc_id") === 9999L).isEmpty,
      "bloom pruning must survive data compaction without a rebuild")
    // and the compacted table reads intact
    assert(cat.scan("t").count() == 204)
  }

  /** A 4-file table of `keys` rows, bloom-indexed on `k`, rewritten
    * under identity(grp): an absent `k` must prune every file before and
    * after the rewrite. k = id * 37 mod 1000 spreads the keys over every
    * file's [min, max], so only a bloom sidecar can prune. */
  private def bloomAfterPartitionRewrite(keys: Int): Unit = {
    import spark.implicits._
    val cat = freshCatalog()
    val rows = spark.range(0, keys).select(col("id"), (col("id") % 4).as("grp"),
      (col("id") * 37 % 1000).as("k"))
    cat.createTableIfNotExists("t", rows.schema)
    for (r <- 0 until 4) cat.append("t", rows.filter(col("id") % 4 === r).coalesce(1))
    cat.buildBloomIndex("t", "k", fpp = 0.001)
    val present = rows.select("k").as[Long].collect().toSet
    val absent = (400L to 600L).find(v => !present(v)).get
    assert(cat.prunedDataFiles("t", col("k") === absent).isEmpty)

    cat.rewritePartitioned("t", IdentityPartition("grp"))
    assert(cat.dataFiles("t").size == 4)
    assert(cat.prunedDataFiles("t", col("k") === absent).isEmpty,
      "the rewrite must re-index the bloom-indexed column")
    assert(cat.scan("t", filter = Some(col("k") === 37L)).count() == 1)
  }

  test("bloom pruning must survive a partition rewrite") {
    // 40 keys: few enough that the file-name collision below still
    // rejects the absent key
    bloomAfterPartitionRewrite(40)
  }

  test("bloom pruning survives a partition rewrite at 200 keys") {
    // a partitioned write names its files alike in every value
    // directory: only filters keyed by path keep the four files apart
    bloomAfterPartitionRewrite(200)
  }

  test("bloom filters key by path, across escaped partition dirs; older-format sidecars rebuild") {
    import spark.implicits._
    // a catalog root and partition values Spark escapes in paths, '%' too
    val cat = new BranchCatalog(spark,
      Files.createTempDirectory("graft-bloom").resolve("a root%").toString)
    val rows = spark.range(0, 200).select(col("id"),
      concat(lit("a b:c%"), (col("id") % 4).cast("string")).as("grp"),
      (col("id") * 37 % 1000).as("k"))
    cat.createTableIfNotExists("t", rows.schema)
    cat.append("t", rows.coalesce(1))
    cat.rewritePartitioned("t", IdentityPartition("grp"))
    cat.buildBloomIndex("t", "k", fpp = 0.001)
    val present = rows.select("k").as[Long].collect().toSet
    val absent = (400L to 600L).find(v => !present(v)).get
    assert(cat.dataFiles("t").size == 4)
    assert(cat.prunedDataFiles("t", col("k") === absent).isEmpty)
    assert(cat.prunedDataFiles("t", col("k") === 37L).size == 1)
    val dcat = new BranchCatalog(spark, cat.root, distributedMetaThreshold = 0)
    val snap = dcat.snapshotMeta("t", dcat.snapshotIdOf("t").get)
    val schema = StructType.fromDDL(snap.schemaDdl)
    assert(dcat.distributedPrunedPaths(snap, Some(col("k") === absent), schema).isEmpty,
      "executor-side probes key files like the driver")

    // a sidecar of the file-name format declines to prune, and the next
    // build rewrites it
    val m = snap.manifests.head.path
    val sidecar = BranchCatalog.BloomSidecarCache.sidecarFor(m, "k")
    val fs = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val body = scala.io.Source.fromInputStream(fs.open(sidecar), "UTF-8").mkString
    val out = fs.create(sidecar, true)
    try out.write(body.replace("\"2-path\"", "\"1-utc\"").getBytes("UTF-8"))
    finally out.close()
    BranchCatalog.BloomSidecarCache.invalidate(m, "k")
    assert(cat.prunedDataFiles("t", col("k") === absent).size == 4)
    assert(cat.buildBloomIndex("t", "k", fpp = 0.001) == 1)
    assert(cat.prunedDataFiles("t", col("k") === absent).isEmpty)
  }

  test("rewritePartitioned refuses an empty spec list and commits nothing") {
    val cat = freshCatalog()
    val rows = spark.range(0, 8).select(col("id"), (col("id") % 2).as("grp"))
    cat.createTableIfNotExists("t", rows.schema)
    cat.append("t", rows)
    val head = cat.snapshotIdOf("t")
    val e = intercept[IllegalArgumentException](cat.rewritePartitioned("t", Nil))
    assert(e.getMessage.contains("at least one transform"))
    assert(cat.snapshotIdOf("t") == head)
    assert(cat.snapshotMeta("t", head.get).partitionSpec.isEmpty)
  }

  test("expireBranches drops only fully-merged, aged-out branches") {
    val cat = freshCatalog()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "n_chars")
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 50))

    cat.createBranch("stale-merged")          // mirrors main exactly
    cat.createBranch("diverged-data")
    cat.append("t", docs.filter(col("doc_id") >= 50 && col("doc_id") < 60), "diverged-data")
    cat.createBranch("diverged-view")
    cat.createView("v",
      ViewDef("SELECT 1 AS one", "spark_catalog", Nil, "one INT"), "diverged-view")
    cat.createBranch("diverged-props")
    cat.setTableProperties("t", Map("x" -> "1"), "diverged-props")
    Thread.sleep(10)

    // fence first: nothing young enough is dropped
    assert(cat.expireBranches(olderThanMillis = 0L).isEmpty)
    val dropped = cat.expireBranches(olderThanMillis = System.currentTimeMillis())
    assert(dropped == Seq("stale-merged"), s"got $dropped")
    assert(cat.listBranches().toSet ==
      Set("main", "diverged-data", "diverged-view", "diverged-props"))
    // content untouched everywhere
    assert(cat.scan("t").count() == 50)
    assert(cat.scan("t", "diverged-data").count() == 60)
    // a freshly re-merged branch becomes reclaimable once aged
    cat.merge("diverged-data")
    assert(cat.scan("t").count() == 60)
    Thread.sleep(5)
    val dropped2 = cat.expireBranches(olderThanMillis = System.currentTimeMillis())
    assert(dropped2 == Seq("diverged-data"))
  }
}
