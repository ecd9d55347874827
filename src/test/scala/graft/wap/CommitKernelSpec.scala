package graft.wap

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import graft.SparkSpecBase

/** The derivation rule every snapshot-producing commit follows: a child
  * of the branch head gets `parentId` = head, `seq` = head.seq + 1, the
  * head's partition spec, column-identity state ([[SchemaEvo]]) and row
  * lineage unless the operation changes them, advances the lineage
  * high-water mark by exactly the rows it freshly stamps, drops the sort
  * contracts (only a sorting rewrite can vouch for them), carries a
  * declared op tag, and lands in exactly one refs version. Every public
  * single-table commit runs once against a head that has row lineage on,
  * a partition field, a write default and a sort-compacted layout. */
class CommitKernelSpec extends SparkSpecBase {

  /** The op vocabulary a snapshot may carry. */
  private val declaredOps = Set(
    "create", "append", "add-files", "overwrite", "replace", "delete",
    "delete-pos", "delete-mor", "update", "update-pos", "upsert", "upsert-mor",
    "merge", "merge-pos", "publish", "cherrypick", "schema", "evolve-spec",
    "compact", "compact-manifests", "compact-sorted", "compact-zorder",
    "rewrite-partition", "convert-tombstones", "compact-pos-deletes")

  private def freshCat(): BranchCatalog =
    new BranchCatalog(spark, Files.createTempDirectory("kernel").toString)

  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(
      col("id"),
      when(col("id") % 2 === 0, "a").otherwise("b").as("grp"),
      (col("id") * 7 % 100).as("v"),
      lit("x").as("note"))

  private def head(cat: BranchCatalog, t: String, branch: String = "main"): Snapshot =
    cat.snapshotMeta(t, cat.snapshotIdOf(t, branch).get)

  /** A table with a partition field, a write default and a sort-compacted
    * head; row lineage on unless `lineage` is false. */
  private def richTable(cat: BranchCatalog, t: String, lineage: Boolean = true): Unit = {
    cat.createTableIfNotExists(t, rows(0, 1).schema, "main",
      Seq(IdentityPartition("grp"): PartitionSpec), Map("note" -> "'n/a'"))
    cat.append(t, rows(0, 40))
    cat.append(t, rows(40, 80))
    if (lineage) cat.enableRowLineage(t)
    cat.compactDataFilesSorted(t, Seq("v"))
    val h = head(cat, t)
    assert(h.partitionSpec.nonEmpty && h.evo.writeDefaults.contains("note"))
    assert(h.sortWithinPartitions == Seq("v") && h.lin.enabled == lineage)
  }

  /** Runs `run` against the current head of `t` and checks the rule's
    * common part; returns (parent, child) for the op-specific checks. */
  private def commit(cat: BranchCatalog, t: String, op: String,
      enablesLineage: Boolean = false)(run: => Any): (Snapshot, Snapshot) = {
    val parent = head(cat, t)
    val v0 = cat.currentRefs().version
    run
    val child = head(cat, t)
    assert(declaredOps(op) && child.op == op, s"op ${child.op}, expected $op")
    assert(child.parentId.contains(parent.id), s"$op: parent")
    assert(child.seq == parent.seq + 1, s"$op: seq")
    assert(cat.currentRefs().version == v0 + 1, s"$op: one refs version per commit")
    if (parent.lin.enabled) {
      val prior = parent.manifests.map(_.path).toSet
      val stamped = child.manifests
        .filter(m => !prior(m.path) && m.firstRowId >= parent.lin.next).map(_.rows).sum
      assert(child.lin == RowLin(enabled = true, next = parent.lin.next + stamped),
        s"$op: lineage advances by the stamped rows")
      assert(cat.currentRefs().rowIds.get(t).contains(child.lin.next), s"$op: counter")
    } else if (enablesLineage)
      assert(child.lin == RowLin(enabled = true, next = child.manifests.map(_.rows).sum))
    else assert(child.lin == parent.lin, s"$op: lineage carried")
    (parent, child)
  }

  private def carried(op: String, parent: Snapshot, child: Snapshot,
      spec: Boolean = true, evo: Boolean = true, sortCleared: Boolean = true): Unit = {
    if (spec) assert(child.partitionSpec == parent.partitionSpec, s"$op: partition spec")
    if (evo) assert(child.evo == parent.evo, s"$op: evo")
    if (sortCleared)
      assert(child.sortOrder.isEmpty && child.sortWithinPartitions.isEmpty, s"$op: sort")
  }

  test("every single-table commit derives its child from the head it lands on") {
    val cat = freshCat()
    richTable(cat, "t")
    var sortCol = "v"
    def resort(): Unit = { cat.compactDataFilesSorted("t", Seq(sortCol)); () }
    def simple(op: String)(run: => Any): Unit = {
      resort()
      val (p, c) = commit(cat, "t", op)(run)
      carried(op, p, c)
    }

    simple("append")(cat.append("t", rows(100, 110)))
    simple("append")(cat.appendPartitioned("t", rows(110, 120),
      Seq(IdentityPartition("grp"): PartitionSpec)))
    simple("append")(cat.appendClustered("t", rows(120, 130), Seq("v")))
    simple("overwrite")(cat.overwrite("t", rows(0, 90)))
    simple("delete")(cat.deleteWhere("t", col("id") === 3))
    simple("update")(cat.updateWhere("t", col("id") === 5, Map("v" -> lit(1L))))
    simple("upsert")(cat.upsert("t", rows(7, 8).withColumn("v", lit(2L)), Seq("id")))
    simple("merge")(cat.mergeInto("t", rows(9, 11).withColumn("v", lit(3L)), Seq("id"),
      Seq(MergeClause.MatchedUpdate(None, Map("v" -> col("s.v"))),
        MergeClause.NotMatchedInsert())))
    simple("update-pos")(cat.updateWherePositional("t", col("id") === 13,
      Map("v" -> lit(4L))))
    simple("merge-pos")(cat.mergeIntoMOR("t", rows(15, 17).withColumn("v", lit(5L)),
      Seq("id"), Seq(MergeClause.MatchedUpdate(None, Map("v" -> col("s.v"))),
        MergeClause.NotMatchedInsert())))
    simple("delete-pos")(cat.deleteWherePositional("t", col("id") === 19))
    // folds the sidecar the positional delete just left pending
    val (pp, pc) = commit(cat, "t", "compact-pos-deletes")(cat.compactPositionDeletes("t"))
    carried("compact-pos-deletes", pp, pc)
    simple("compact")(cat.compactDataFiles("t"))
    simple("compact")(cat.compactDataFilesWhere("t", col("id") >= 0))
    simple("compact")(cat.compactSmallFiles("t"))
    simple("compact-manifests")(cat.compactManifests("t"))

    val imports = Files.createTempDirectory("kernel-import").resolve("files").toString
    rows(300, 310).coalesce(1).write.parquet(imports)
    resort()
    val (ap, ac) = commit(cat, "t", "add-files")(cat.addDataFiles("t", imports))
    carried("add-files", ap, ac, evo = false)
    assert(ac.evo == ap.evo.copy(idlessFiles = true))

    cat.createBranch("cp")
    cat.append("t", rows(400, 405), "cp")
    val picked = cat.snapshotIdOf("t", "cp").get
    simple("cherrypick")(cat.cherrypickSnapshot("t", picked))

    resort()
    val (sp, sc) = commit(cat, "t", "compact-sorted")(
      cat.compactDataFilesSorted("t", Seq("id")))
    carried("compact-sorted", sp, sc, sortCleared = false)
    assert(sc.sortOrder.isEmpty && sc.sortWithinPartitions == Seq("id"))

    resort()
    val (dp, dc) = commit(cat, "t", "schema")(cat.setColumnDefault("t", "note", Some("'zz'")))
    carried("schema", dp, dc, evo = false)
    assert(dc.evo == dp.evo.withWriteDefault("note", Some("'zz'")))

    resort()
    val (rp, rc) = commit(cat, "t", "schema")(cat.renameColumn("t", "v", "w"))
    carried("schema", rp, rc, evo = false, sortCleared = false)
    assert(rc.evo == rp.evo.rename("v", "w"))
    assert(rc.sortOrder.isEmpty && rc.sortWithinPartitions == Seq("w"))
    sortCol = "w"

    resort()
    val (ep, ec) = commit(cat, "t", "schema")(cat.evolveSchema("t",
      StructType.fromDDL(head(cat, "t").schemaDdl).add("extra", StringType)))
    carried("schema", ep, ec, evo = false)
    assert(ec.evo.fieldIds.contains("extra") && ec.evo.fieldIdSeq == ep.evo.fieldIdSeq + 1)

    resort()
    val (fp, fc) = commit(cat, "t", "evolve-spec")(
      cat.addPartitionField("t", BucketPartition(2, "id")))
    carried("evolve-spec", fp, fc, spec = false)
    assert(fc.partitionSpec != fp.partitionSpec)
    resort()
    val (gp, gc) = commit(cat, "t", "evolve-spec")(
      cat.dropPartitionField("t", "bucket(2,id)"))
    carried("evolve-spec", gp, gc, spec = false)
    assert(gc.partitionSpec != gp.partitionSpec)

    resort()
    val (wp, wc) = commit(cat, "t", "rewrite-partition")(
      cat.rewritePartitioned("t", Seq(BucketPartition(2, "id"): PartitionSpec)))
    carried("rewrite-partition", wp, wc, spec = false)
    assert(wc.partitionSpec.contains(PartitionSpec.formatMulti(Seq(BucketPartition(2, "id")))))

    resort()
    val replacement = rows(500, 520).drop("note")
    val (xp, xc) = commit(cat, "t", "replace")(cat.replaceTable("t", replacement))
    carried("replace", xp, xc, spec = false, evo = false)
    assert(xc.partitionSpec.isEmpty && xc.evo == SchemaEvo.forSchema(replacement.schema))
  }

  test("a global sort order clears on z-order compaction") {
    val cat = freshCat()
    cat.createTableIfNotExists("z", rows(0, 1).schema, "main", Nil, Map("note" -> "'n/a'"))
    cat.append("z", rows(0, 40))
    cat.enableRowLineage("z")
    cat.compactDataFilesSorted("z", Seq("v"), targetFiles = 2)
    assert(head(cat, "z").sortOrder == Seq("v"))
    val (p, c) = commit(cat, "z", "compact-zorder")(
      cat.compactDataFilesZOrder("z", Seq("id", "v"), targetFiles = 2))
    carried("compact-zorder", p, c)
  }

  test("equality-tombstone commits and enableRowLineage follow the rule") {
    import spark.implicits._
    val cat = freshCat()
    richTable(cat, "m", lineage = false)
    def resort(): Unit = { cat.compactDataFilesSorted("m", Seq("v")); () }
    def simple(op: String)(run: => Any): Unit = {
      resort()
      val (p, c) = commit(cat, "m", op)(run)
      carried(op, p, c)
    }
    simple("delete-mor")(cat.deleteKeysMOR("m", Seq(1L).toDF("id")))
    simple("upsert-mor")(cat.upsertKeysMOR("m", rows(2, 4).withColumn("v", lit(6L)), Seq("id")))
    simple("upsert-mor")(cat.applyCdcMOR("m",
      rows(600, 602).withColumn("_change_type", lit("insert"))
        .unionByName(rows(4, 5).withColumn("_change_type", lit("delete"))), Seq("id")))
    resort()
    cat.deleteKeysMOR("m", Seq(6L).toDF("id"))
    val (tp, tc) = commit(cat, "m", "convert-tombstones")(
      cat.convertTombstonesToPositional("m"))
    carried("convert-tombstones", tp, tc)
    assert(tc.deleteManifests.forall(_.posDelete))

    resort()
    val (lp, lc) = commit(cat, "m", "schema", enablesLineage = true)(
      cat.enableRowLineage("m"))
    carried("schema", lp, lc, sortCleared = false)
    assert(lc.sortWithinPartitions == lp.sortWithinPartitions && lc.sortOrder == lp.sortOrder)
  }

  test("publish takes the max sequence over both parents; a transaction derives each child") {
    val cat = freshCat()
    richTable(cat, "t")
    richTable(cat, "u")
    cat.createBranch("b")
    cat.append("t", rows(100, 110), "b")
    cat.append("t", rows(110, 120), "b")
    cat.compactDataFilesSorted("t", Seq("v"))
    val src = head(cat, "t", "b")
    val dst = head(cat, "t")
    val v0 = cat.currentRefs().version
    cat.merge("b")
    val merged = head(cat, "t")
    assert(cat.currentRefs().version == v0 + 1)
    assert(merged.op == "publish" && merged.parentId.contains(dst.id))
    assert(merged.seq == math.max(src.seq, dst.seq) + 1)
    assert(merged.sortOrder.isEmpty && merged.sortWithinPartitions.isEmpty)
    assert(merged.partitionSpec == dst.partitionSpec && merged.lin.enabled)

    cat.compactDataFilesSorted("t", Seq("v"))
    cat.compactDataFilesSorted("u", Seq("v"))
    val parents = Seq("t", "u").map(t => t -> head(cat, t)).toMap
    val v1 = cat.currentRefs().version
    val out = cat.transaction() { txn =>
      txn.append("t", rows(200, 210))
      txn.append("u", rows(210, 230))
    }
    assert(cat.currentRefs().version == v1 + 1, "one refs swap for both tables")
    val counter = cat.currentRefs().rowIds
    for ((t, n) <- Seq("t" -> 10L, "u" -> 20L)) {
      val (p, c) = (parents(t), out(t))
      assert(head(cat, t) == c && c.op == "append")
      assert(c.parentId.contains(p.id) && c.seq == p.seq + 1)
      carried(s"transaction $t", p, c)
      assert(c.manifests.dropRight(1) == p.manifests)
      assert(c.lin == RowLin(enabled = true, next = p.lin.next + n))
      assert(counter.get(t).contains(c.lin.next))
    }
  }
}
