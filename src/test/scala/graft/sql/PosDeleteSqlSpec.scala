package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpecBase, Tables}
import graft.wap.BranchCatalog

/** W55 over SQL: `ALTER TABLE ... SET TBLPROPERTIES('write.delete.mode'=
  * 'merge-on-read')` routes `DELETE FROM` through position sidecars
  * ([[BranchCatalog.deleteWherePositional]]) — no data file rewritten —
  * and the connector batch scan applies them natively (no per-row V1
  * boundary), exactly like equality tombstones. */
class PosDeleteSqlSpec extends SparkSpecBase {

  private var n = 0
  private def register(): (String, BranchCatalog) = {
    n += 1
    val name = s"posdelsql$n"
    val root = Files.createTempDirectory("posdel-sql").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    spark.conf.set(s"spark.sql.catalog.$name.write.main", "true")
    (name, new BranchCatalog(spark, root))
  }

  test("table properties: SET/UNSET TBLPROPERTIES round-trip; bad delete mode refused") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "n_chars")
    cat.createTableIfNotExists("t", docs.schema)
    spark.sql(s"ALTER TABLE $lake.main.t SET TBLPROPERTIES(" +
      "'write.delete.mode'='merge-on-read', 'team'='pipeline-a')")
    val props = spark.sql(s"SHOW TBLPROPERTIES $lake.main.t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("write.delete.mode").contains("merge-on-read"))
    assert(props.get("team").contains("pipeline-a"))
    spark.sql(s"ALTER TABLE $lake.main.t UNSET TBLPROPERTIES('team')")
    assert(cat.tableProperties("t") == Map("write.delete.mode" -> "merge-on-read"))
    val err = intercept[Exception](spark.sql(
      s"ALTER TABLE $lake.main.t SET TBLPROPERTIES('write.delete.mode'='sideways')"))
    assert(err.getMessage.contains("write.delete.mode"))
  }

  test("properties die with the table and follow a rename; mixed ALTER is atomic") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "n_chars")
    cat.createTableIfNotExists("t", docs.schema)
    cat.setTableProperties("t", Map("write.delete.mode" -> "merge-on-read"))
    // drop + recreate under the same name: the new table must NOT inherit
    // the old table's delete mode (or a stale mview definition)
    cat.dropTable("t")
    cat.createTableIfNotExists("t", docs.schema)
    assert(cat.tableProperties("t").isEmpty,
      "recreated table inherited the dropped table's properties")
    // rename moves the props entry with the table
    cat.setTableProperties("t", Map("team" -> "pipeline-b"))
    cat.renameTable("t", "t2")
    assert(cat.tableProperties("t2") == Map("team" -> "pipeline-b"))
    assert(cat.tableProperties("t").isEmpty)
    // one alterTable call mixing a property with an invalid schema change
    // (possible through the DSv2 catalog API) fails WITHOUT leaving the
    // property durably applied
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog, TableChange}
    val tc = spark.sessionState.catalogManager.catalog(lake).asInstanceOf[TableCatalog]
    val ident = Identifier.of(Array("main"), "t2")
    intercept[Exception](tc.alterTable(ident,
      TableChange.setProperty("x", "1"),
      TableChange.updateColumnType(Array("n_chars"),
        org.apache.spark.sql.types.StringType))) // narrowing: refused
    assert(!cat.tableProperties("t2").contains("x"),
      s"failed mixed ALTER left the property applied: ${cat.tableProperties("t2")}")
  }

  test("DELETE FROM under merge-on-read mode writes sidecars; connector scan applies them") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "n_chars")
    cat.createTableIfNotExists("t", docs.schema)
    cat.appendClustered("t", docs.filter(col("doc_id") < 80), Seq("doc_id"), files = 4)
    spark.sql(s"ALTER TABLE $lake.main.t SET TBLPROPERTIES('write.delete.mode'='merge-on-read')")
    val before = cat.filesOf(cat.snapshotMeta("t", cat.snapshotIdOf("t").get))
      .map(_.path).toSet

    // boundary delete: crosses one clustered file partially
    spark.sql(s"DELETE FROM $lake.main.t WHERE doc_id >= 10 AND doc_id < 15")
    val snap = cat.snapshotMeta("t", cat.snapshotIdOf("t").get)
    assert(snap.deleteManifests.nonEmpty && snap.deleteManifests.forall(_.posDelete),
      "merge-on-read DELETE must land as position sidecars")
    assert(cat.filesOf(snap).map(_.path).toSet.subsetOf(before),
      "no data file may be rewritten by a positional DELETE")

    val expect = docs.filter(col("doc_id") < 80 &&
      !(col("doc_id") >= 10 && col("doc_id") < 15))
    val q = spark.sql(s"SELECT doc_id, n_chars FROM $lake.main.t ORDER BY doc_id")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), s"expected the native batch scan, got:\n$plan")
    assert(!plan.contains("ExistingRDD") && !plan.contains("RowDataSourceScan"),
      s"positional-pending read must not drop to a per-row scan:\n$plan")
    assert(q.collect().map(_.getLong(0)).toSeq ==
      expect.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    // count(*), a selective predicate, and a projection that needs no
    // lineage columns all read through the same positional reader
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.t").head.getLong(0) ==
      expect.count())
    assert(spark.sql(s"SELECT lang FROM $lake.main.t WHERE doc_id = 12").collect().isEmpty)
    assert(spark.sql(s"SELECT lang FROM $lake.main.t WHERE doc_id = 20").collect().length == 1)

    // default mode (no property) stays copy-on-write: a second table
    val (lake2, cat2) = register()
    cat2.createTableIfNotExists("u", docs.schema)
    cat2.append("u", docs.filter(col("doc_id") < 40))
    spark.sql(s"DELETE FROM $lake2.main.u WHERE doc_id < 5")
    val snap2 = cat2.snapshotMeta("u", cat2.snapshotIdOf("u").get)
    assert(snap2.deleteManifests.isEmpty, "CoW DELETE must not leave sidecars")
  }

  test("UPDATE under merge-on-read mode appends versions + sidecars; CoW stays default") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "n_chars")
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 80))
    spark.sql(s"ALTER TABLE $lake.main.t SET TBLPROPERTIES('write.update.mode'='merge-on-read')")
    val before = cat.filesOf(cat.snapshotMeta("t", cat.snapshotIdOf("t").get))
      .map(_.path).toSet

    spark.sql(s"UPDATE $lake.main.t SET n_chars = n_chars + 1000 WHERE doc_id < 10")
    val snap = cat.snapshotMeta("t", cat.snapshotIdOf("t").get)
    assert(snap.deleteManifests.nonEmpty && snap.deleteManifests.forall(_.posDelete),
      "merge-on-read UPDATE must land as position sidecars + appended versions")
    assert(before.subsetOf(cat.filesOf(snap).map(_.path).toSet),
      "positional UPDATE must append, never rewrite")

    val expect = docs.filter(col("doc_id") < 80)
      .withColumn("n_chars",
        when(col("doc_id") < 10, col("n_chars") + 1000).otherwise(col("n_chars")))
    val got = spark.sql(s"SELECT doc_id, n_chars FROM $lake.main.t ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = expect.select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == want)

    // a typo'd update mode is refused at ALTER time
    val err = intercept[Exception](spark.sql(
      s"ALTER TABLE $lake.main.t SET TBLPROPERTIES('write.update.mode'='sideways')"))
    assert(err.getMessage.contains("write.update.mode"))

    // default mode (no property) stays copy-on-write
    val (lake2, cat2) = register()
    cat2.createTableIfNotExists("u", docs.schema)
    cat2.append("u", docs.filter(col("doc_id") < 40))
    spark.sql(s"UPDATE $lake2.main.u SET n_chars = n_chars + 1 WHERE doc_id < 5")
    val snap2 = cat2.snapshotMeta("u", cat2.snapshotIdOf("u").get)
    assert(snap2.deleteManifests.isEmpty, "CoW UPDATE must not leave sidecars")
  }

  test("write.merge.mode=merge-on-read routes MERGE INTO through sidecars; by-source stays CoW") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "n_chars")
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 40))
    val before = {
      val id = cat.snapshotIdOf("t").get
      cat.filesOf(cat.snapshotMeta("t", id).copy(deleteManifests = Nil)).map(_.path).toSet
    }
    spark.sql(s"ALTER TABLE $lake.main.t SET TBLPROPERTIES('write.merge.mode'='merge-on-read')")
    docs.filter(col("doc_id") >= 20 && col("doc_id") < 50)
      .createOrReplaceTempView("mor_merge_src")
    spark.sql(
      s"""MERGE INTO $lake.main.t AS t USING mor_merge_src AS s ON t.doc_id = s.doc_id
         |WHEN MATCHED AND s.doc_id % 2 = 0 THEN UPDATE SET n_chars = t.n_chars + 1000
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val snap = cat.snapshotMeta("t", cat.snapshotIdOf("t").get)
    assert(snap.op == "merge-pos", "property must route MERGE through the positional path")
    assert(snap.deleteManifests.size == 1 && snap.deleteManifests.head.posDelete)
    val id = cat.snapshotIdOf("t").get
    val after = cat.filesOf(cat.snapshotMeta("t", id).copy(deleteManifests = Nil)).map(_.path).toSet
    assert(before.subsetOf(after), "MOR merge must not rewrite any data file")
    val got = spark.sql(s"SELECT doc_id, n_chars FROM $lake.main.t ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = docs.filter(col("doc_id") < 50)
      .filter(!(col("doc_id") >= 20 && col("doc_id") < 40 && col("doc_id") % 2 =!= 0))
      .withColumn("n_chars",
        when(col("doc_id") >= 20 && col("doc_id") < 40 && col("doc_id") % 2 === 0,
          col("n_chars") + 1000L).otherwise(col("n_chars")))
      .select("doc_id", "n_chars").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    assert(got == want)

    // a by-source merge under the same property falls back to copy-on-write
    // (positional by-source would write O(table) sidecar entries); CoW DML
    // requires the pending sidecar materialized first
    cat.compactDataFiles("t")
    spark.sql(
      s"""MERGE INTO $lake.main.t AS t USING mor_merge_src AS s ON t.doc_id = s.doc_id
         |WHEN NOT MATCHED BY SOURCE AND t.doc_id < 5 THEN DELETE""".stripMargin)
    val snap2 = cat.snapshotMeta("t", cat.snapshotIdOf("t").get)
    assert(snap2.op == "merge", "by-source merge must stay copy-on-write")
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.t WHERE doc_id < 5").head.getLong(0) == 0)

    // a typo'd merge mode is refused at ALTER time
    val err = intercept[Exception](spark.sql(
      s"ALTER TABLE $lake.main.t SET TBLPROPERTIES('write.merge.mode'='sideways')"))
    assert(err.getMessage.contains("write.merge.mode"))
  }

  test("SQL read applies sidecars written through the Scala API") {
    val (lake, cat) = register()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "n_chars")
    cat.createTableIfNotExists("t", docs.schema)
    cat.append("t", docs.filter(col("doc_id") < 60))
    cat.deleteWherePositional("t", col("doc_id") % 4 === 1)
    val got = spark.sql(s"SELECT doc_id FROM $lake.main.t ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    val want = docs.filter(col("doc_id") < 60 && col("doc_id") % 4 =!= 1)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want)
  }
}
