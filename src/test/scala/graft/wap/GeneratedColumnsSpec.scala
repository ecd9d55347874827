package graft.wap

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpecBase, Tables}

/** W87 — GENERATED ALWAYS AS columns (the Delta generated-column
  * semantics): a writer omitting the column gets it COMPUTED from the
  * row; a writer providing it is VALIDATED row-level against the
  * generation (mismatch fails the write before any commit). Both ride
  * `alignToSchema`, so every row-writing surface enforces them. */
class GeneratedColumnsSpec extends SparkSpecBase {

  private var n = 0
  private def freshCat(): BranchCatalog = {
    n += 1
    new BranchCatalog(spark, Files.createTempDirectory(s"gencol$n").toString)
  }

  private def docs(lo: Long, hi: Long): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
      .select("doc_id", "lang", "n_chars")

  private val genSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("n_chars", LongType), StructField("kchars", LongType)))

  test("omitted generated column computes; provided values validate; mismatch commits nothing") {
    val cat = freshCat()
    assert(cat.createTableGenerated("t", genSchema,
      Map("kchars" -> "n_chars div 1000")))

    cat.append("t", docs(0, 50)) // no kchars in the batch -> computed
    val out = cat.scan("t")
    assert(out.count() == 50L)
    assert(out.filter(col("kchars") =!= col("n_chars") / lit(1000L)
      .cast("long")).where(col("kchars") =!= expr("n_chars div 1000")).count() == 0L)
    assert(out.where(col("kchars").isNull).count() == 0L)

    // provided AND correct: accepted
    cat.append("t", docs(50, 60).withColumn("kchars", expr("n_chars div 1000")))
    assert(cat.scan("t").count() == 60L)

    // provided and WRONG: the write fails, nothing commits
    val head = cat.snapshotIdOf("t")
    val e = intercept[Exception](
      cat.append("t", docs(60, 70).withColumn("kchars", lit(999999L))))
    def msgs(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append('|'); c = c.getCause }
      sb.toString
    }
    assert(msgs(e).contains("GENERATED column kchars"))
    assert(cat.snapshotIdOf("t") == head && cat.scan("t").count() == 60L)
  }

  test("generation guards: parse errors, unknown/generated references, rename and drop protection") {
    val cat = freshCat()
    intercept[IllegalArgumentException](cat.createTableGenerated("bad1",
      genSchema, Map("kchars" -> "n_chars div (")))
    intercept[IllegalArgumentException](cat.createTableGenerated("bad2",
      genSchema, Map("kchars" -> "no_such + 1")))
    intercept[IllegalArgumentException](cat.createTableGenerated("bad3",
      genSchema, Map("kchars" -> "n_chars div 1000", "n_chars" -> "kchars * 1000")))

    cat.createTableGenerated("t", genSchema, Map("kchars" -> "n_chars div 1000"))
    cat.append("t", docs(0, 10))
    // neither side of a generation renames; the SOURCE never drops
    intercept[IllegalArgumentException](cat.renameColumn("t", "n_chars", "nc"))
    intercept[IllegalArgumentException](cat.renameColumn("t", "kchars", "kc"))
    intercept[Exception](cat.evolveSchema("t",
      StructType(genSchema.fields.filterNot(_.name == "n_chars"))))
    // dropping the GENERATED column itself retires the generation
    cat.evolveSchema("t", StructType(genSchema.fields.filterNot(_.name == "kchars")))
    cat.append("t", docs(10, 20))
    assert(cat.scan("t").count() == 20L)
    assert(!cat.scan("t").columns.contains("kchars"))
  }

  test("MERGE paths compute omitted and validate provided generated columns") {
    import MergeClause._
    val cat = freshCat()
    cat.createTableGenerated("t", genSchema, Map("kchars" -> "n_chars div 1000"))
    cat.append("t", docs(0, 50))

    // CoW merge: INSERT branch omits kchars (NULL after align) -> COMPUTED;
    // MATCHED UPDATE bumps the dependency without setting kchars -> RECOMPUTED
    val src = docs(40, 60).select("doc_id",
      "lang", "n_chars").withColumn("n_chars", col("n_chars") + 5000L)
    val r = cat.mergeInto("t", src, Seq("doc_id"), Seq(
      MatchedUpdate(None, Map("n_chars" -> col("s.n_chars"))),
      NotMatchedInsert()))
    assert(r.rowsUpdated == 10L && r.rowsInserted == 10L)
    val out = cat.scan("t")
    assert(out.count() == 60L)
    assert(out.where(col("kchars").isNull ||
      col("kchars") =!= expr("n_chars div 1000")).count() == 0L)

    // an UPDATE explicitly SETTING the generated column to a WRONG value
    // fails the write and commits nothing
    val head = cat.snapshotIdOf("t")
    intercept[Exception](cat.mergeInto("t", docs(0, 5), Seq("doc_id"), Seq(
      MatchedUpdate(None, Map("kchars" -> lit(424242L))))))
    assert(cat.snapshotIdOf("t") == head)
    // ... while SETTING it to the CORRECT value passes validation
    val r2 = cat.mergeInto("t", docs(0, 5), Seq("doc_id"), Seq(
      MatchedUpdate(None, Map(
        "n_chars" -> (col("s.n_chars") + 1000L),
        "kchars" -> expr("(s.n_chars + 1000) div 1000")))))
    assert(r2.rowsUpdated == 5L)
    assert(cat.scan("t").where(col("kchars") =!=
      expr("n_chars div 1000")).count() == 0L)

    // MOR merge: same semantics, zero rewrites
    val cat2 = freshCat()
    cat2.createTableGenerated("t", genSchema, Map("kchars" -> "n_chars div 1000"))
    cat2.append("t", docs(0, 50))
    val m = cat2.mergeIntoMOR("t",
      docs(45, 55).withColumn("n_chars", col("n_chars") + 7000L),
      Seq("doc_id"), Seq(
        MatchedUpdate(None, Map("n_chars" -> col("s.n_chars"))),
        NotMatchedInsert()))
    assert(m.rowsUpdated == 5L && m.rowsInserted == 5L && m.filesRewritten == 0L)
    val out2 = cat2.scan("t")
    assert(out2.count() == 55L)
    assert(out2.where(col("kchars").isNull ||
      col("kchars") =!= expr("n_chars div 1000")).count() == 0L)
    val head2 = cat2.snapshotIdOf("t")
    intercept[Exception](cat2.mergeIntoMOR("t", docs(0, 3), Seq("doc_id"), Seq(
      MatchedUpdate(None, Map("kchars" -> lit(999999L))))))
    assert(cat2.snapshotIdOf("t") == head2)
  }

  test("UPDATE paths compute omitted and validate provided generated columns") {
    def mismatched(cat: BranchCatalog): Long = cat.scan("t")
      .where(col("kchars").isNull || col("kchars") =!= expr("n_chars div 1000")).count()
    def table(root: String): BranchCatalog = {
      val cat = new BranchCatalog(spark, root)
      cat.createTableGenerated("t", genSchema, Map("kchars" -> "n_chars div 1000"))
      cat.append("t", docs(0, 50))
      cat
    }
    // Scala: copy-on-write and merge-on-read
    for (positional <- Seq(false, true)) {
      val cat = freshCat()
      table(cat.root)
      def update(cond: Column, set: Map[String, Column]): UpdateResult =
        if (positional) cat.updateWherePositional("t", cond, set)
        else cat.updateWhere("t", cond, set)
      // SET on the dependency alone: the generated column RECOMPUTES
      val r = update(col("doc_id") < 10, Map("n_chars" -> (col("n_chars") + 7000L)))
      assert(r.rowsUpdated == 10L)
      assert(cat.scan("t").count() == 50L && mismatched(cat) == 0L, s"positional=$positional")
      // SETTING it to the CORRECT value passes validation
      update(col("doc_id") === 20L, Map("n_chars" -> lit(4321L), "kchars" -> lit(4L)))
      assert(cat.scan("t").where(col("doc_id") === 20L).select("kchars").head.getLong(0) == 4L)
      // a WRONG value fails the write and commits nothing
      val head = cat.snapshotIdOf("t")
      val e = intercept[Exception](update(col("doc_id") < 5, Map("kchars" -> lit(999999L))))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("GENERATED column kchars")))
      assert(cat.snapshotIdOf("t") == head, s"positional=$positional")
      assert(cat.scan("t").where(col("kchars") === 999999L).count() == 0L)
    }
    // SQL UPDATE under each write.update.mode
    for (mode <- Seq("copy-on-write", "merge-on-read")) {
      n += 1
      val name = s"genupd$n"
      val root = Files.createTempDirectory("gencol-upd").toString
      spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sql.GraftTableCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.root", root)
      spark.conf.set(s"spark.sql.catalog.$name.write.main", "true")
      val cat = table(root)
      spark.sql(s"ALTER TABLE $name.main.t SET TBLPROPERTIES('write.update.mode'='$mode')")
      spark.sql(s"UPDATE $name.main.t SET n_chars = n_chars + 7000 WHERE doc_id < 10")
      val snap = cat.snapshotMeta("t", cat.snapshotIdOf("t").get)
      assert(snap.deleteManifests.nonEmpty == (mode == "merge-on-read"), mode)
      assert(mismatched(cat) == 0L, mode)
      val head = cat.snapshotIdOf("t")
      val e = intercept[Exception](
        spark.sql(s"UPDATE $name.main.t SET kchars = 999999 WHERE doc_id < 5"))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("GENERATED column kchars")), mode)
      assert(cat.snapshotIdOf("t") == head, mode)
    }
  }

  test("SQL: CREATE TABLE with GENERATED ALWAYS AS; INSERT computes and validates") {
    n += 1
    val name = s"genlake$n"
    val root = Files.createTempDirectory("gencol-sql").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    spark.conf.set(s"spark.sql.catalog.$name.write.main", "true")
    spark.sql(s"CREATE TABLE $name.main.t (doc_id BIGINT, n_chars BIGINT, " +
      "kchars BIGINT GENERATED ALWAYS AS (n_chars div 1000))")
    docs(0, 30).select("doc_id", "n_chars").createOrReplaceTempView("gen_src")
    spark.sql(s"INSERT INTO $name.main.t (doc_id, n_chars) SELECT * FROM gen_src")
    val out = spark.sql(s"SELECT * FROM $name.main.t")
    assert(out.count() == 30L)
    assert(out.where(col("kchars") =!= expr("n_chars div 1000")).count() == 0L)
    // an INSERT providing a wrong explicit value fails
    intercept[Exception](spark.sql(
      s"INSERT INTO $name.main.t SELECT doc_id, n_chars, 12345 AS kchars FROM gen_src LIMIT 1"))
    assert(spark.sql(s"SELECT count(*) FROM $name.main.t").head.getLong(0) == 30L)
  }
}
