package graft.wap

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Copy-on-write and merge-on-read DML give the same results. Each case
  * runs the same MERGE clauses through [[BranchCatalog.mergeInto]] and
  * [[BranchCatalog.mergeIntoMOR]], or the same UPDATE through
  * [[BranchCatalog.updateWhere]] and [[BranchCatalog.updateWherePositional]],
  * on two catalogs with the same contents (ids 0-29 in three one-file
  * appends, so both number their rows alike; row lineage on), then
  * compares the rows over the data columns, the result counts, and the
  * `_row_id` of every row that existed before and still exists. A case that must fail fails in both
  * modes and commits nothing in either. */
class DmlParitySpec extends SparkSpecBase {
  import MergeClause._

  /** ids lo until hi: `v` = id * 7 % 100, `w` NULL on every fifth id. */
  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi, 1, 1).select(col("id"), (col("id") * 7 % 100).as("v"),
      when(col("id") % 5 =!= 0, col("id") % 3).as("w"))

  /** Source ids 20-39: 20-29 match, 30-39 are source-only. */
  private val source: DataFrame = rows(20, 40).withColumn("v", col("id") * 10)

  private def freshTable(setup: BranchCatalog => Any): BranchCatalog = {
    val cat = new BranchCatalog(spark, Files.createTempDirectory("dml-parity").toString)
    cat.createTableIfNotExists("t", rows(0, 1).schema)
    for (lo <- Seq(0L, 10L, 20L))
      cat.append("t", rows(lo, lo + 10))
    cat.enableRowLineage("t")
    setup(cat)
    cat
  }

  private sealed trait Op
  private case class Merge(clauses: Seq[MergeClause]) extends Op
  private case class Update(cond: Column, set: Map[String, Column]) extends Op

  private case class Case(name: String, op: Op, fails: Boolean = false,
      setup: BranchCatalog => Any = _ => ())

  /** (updated, deleted, inserted) of `op` in one mode. */
  private def run(cat: BranchCatalog, op: Op, mor: Boolean): (Long, Long, Long) = op match {
    case Merge(clauses) =>
      val r =
        if (mor) cat.mergeIntoMOR("t", source, Seq("id"), clauses)
        else cat.mergeInto("t", source, Seq("id"), clauses)
      (r.rowsUpdated, r.rowsDeleted, r.rowsInserted)
    case Update(cond, set) =>
      val r =
        if (mor) cat.updateWherePositional("t", cond, set)
        else cat.updateWhere("t", cond, set)
      (r.rowsUpdated, 0L, 0L)
  }

  private def contents(cat: BranchCatalog): Seq[String] =
    cat.scan("t").select("id", "v", "w").collect().map(_.mkString(",")).toSeq.sorted

  private def rowIds(cat: BranchCatalog): Map[Long, Long] =
    cat.scanLineage("t").select("id", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val cases = Seq(
    Case("a conditional update shields a later delete (first-match-wins)", Merge(Seq(
      MatchedUpdate(Some(col("s.id") % 2 === 0), Map("v" -> col("s.v"))),
      MatchedDelete()))),
    Case("a clause condition that evaluates to NULL does not fire", Merge(Seq(
      MatchedUpdate(Some(col("t.w") > 0), Map("v" -> lit(-1L))),
      MatchedDelete(Some(col("t.w").isNull))))),
    Case("a conditional insert", Merge(Seq(
      MatchedUpdate(None, Map("v" -> col("s.v"))),
      NotMatchedInsert(Some(col("s.id") < 35))))),
    Case("a matched row that no clause fires on stays", Merge(Seq(
      MatchedUpdate(Some(col("s.id") === 22), Map("v" -> col("s.v"))),
      MatchedDelete(Some(col("s.id") === 23)),
      NotMatchedInsert()))),
    Case("a SET that reads both t. and s.", Merge(Seq(
      MatchedUpdate(None, Map("v" -> (col("t.v") + col("s.v")),
        "w" -> coalesce(col("t.w"), col("s.id"))))))),
    Case("an UPDATE condition that evaluates to NULL does not fire",
      Update(col("w") > 0, Map("v" -> (col("v") + col("w"))))),
    Case("an UPDATE that SETs from the row it updates",
      Update(col("id") % 4 === 1, Map("w" -> (col("v") * 2), "v" -> col("id")))),
    Case("a CHECK constraint only a written MERGE row violates fails both modes",
      Merge(Seq(MatchedUpdate(Some(col("s.id") === 24), Map("v" -> lit(-1L))))),
      fails = true, setup = checkNonNegative),
    Case("a CHECK constraint only an UPDATE row violates fails both modes",
      Update(col("id") === 24, Map("v" -> lit(-1L))), fails = true, setup = checkNonNegative))

  /** A `v >= 0` constraint over history holding one violating row in the
    * file the failing cases touch: carried rows are exempt, so only the
    * row the statement writes trips it. */
  private def checkNonNegative(cat: BranchCatalog): Unit = {
    cat.updateWhere("t", col("id") === 21, Map("v" -> lit(-5L)))
    cat.setTableProperties("t", Map("graft.constraint.v_nonneg" -> "v >= 0"))
  }

  for (c <- cases) test(s"copy-on-write and merge-on-read agree: ${c.name}") {
    val (cow, mor) = (freshTable(c.setup), freshTable(c.setup))
    assert(contents(cow) == contents(mor))
    val before = rowIds(cow)
    assert(before == rowIds(mor))
    if (c.fails) {
      for ((cat, isMor) <- Seq(cow -> false, mor -> true)) {
        val head = cat.snapshotIdOf("t")
        val e = intercept[Exception](run(cat, c.op, isMor))
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains("CHECK constraint v_nonneg")))
        assert(cat.snapshotIdOf("t") == head, s"merge-on-read=$isMor committed")
      }
    } else {
      val counts = run(cow, c.op, mor = false)
      assert(counts == run(mor, c.op, mor = true))
      assert(counts != ((0L, 0L, 0L)), "the case changes something")
      assert(contents(cow) == contents(mor))
      val (afterCow, afterMor) = (rowIds(cow), rowIds(mor))
      val kept = before.keySet.intersect(afterCow.keySet)
      assert(kept == before.keySet.intersect(afterMor.keySet))
      assert(kept.forall(id => afterCow(id) == before(id) && afterMor(id) == before(id)),
        "updated and carried rows keep their row ids in both modes")
    }
  }
}
