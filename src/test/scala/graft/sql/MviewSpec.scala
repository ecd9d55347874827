package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpecBase, Tables}
import graft.wap.BranchCatalog

/** W56 — materialized views with incremental refresh: a branch table
  * carrying its definition + source watermarks in table properties.
  * Refresh classifies the analyzed plan and runs the cheapest sound mode
  * (fresh / incremental append / incremental agg-fold / full recompute). */
class MviewSpec extends SparkSpecBase {

  private var n = 0
  private def register(): (String, BranchCatalog) = {
    n += 1
    val name = s"mview$n"
    val root = Files.createTempDirectory("mview").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, new BranchCatalog(spark, root))
  }

  private def docs(lo: Long, hi: Long): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
      .select("doc_id", "lang", "n_chars")

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  private def mk(lake: String, cat: BranchCatalog): Unit = {
    cat.createTableIfNotExists("src", docs(0, 1).schema)
    cat.append("src", docs(0, 100))
  }

  test("create materializes; unchanged sources refresh as 'fresh'") {
    val (lake, cat) = register()
    mk(lake, cat)
    val q = s"SELECT doc_id, n_chars FROM $lake.main.src WHERE n_chars > 300"
    GraftMaterializedViews.create(spark, cat, "mv", q, "main")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mv")) ==
      sortedRows(spark.sql(q)))
    assert(cat.tableProperties("mv").contains(GraftMaterializedViews.SqlKey))
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") == "fresh")
  }

  test("select/filter view refreshes incrementally: delta appended, old files kept") {
    val (lake, cat) = register()
    mk(lake, cat)
    val q = s"SELECT doc_id, n_chars FROM $lake.main.src WHERE n_chars > 300"
    GraftMaterializedViews.create(spark, cat, "mv", q, "main")
    val filesBefore = cat.dataFiles("mv").map(_.path).toSet

    cat.append("src", docs(100, 160))
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") == "incremental")
    // nothing rewritten: the old view files are all still there
    assert(filesBefore.subsetOf(cat.dataFiles("mv").map(_.path).toSet))
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mv")) ==
      sortedRows(spark.sql(q)))
    // and a second refresh with no new commits is free
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") == "fresh")
  }

  test("group-by view folds the delta: incremental_agg, content exact") {
    val (lake, cat) = register()
    mk(lake, cat)
    val q = s"SELECT lang, count(*) AS n, sum(n_chars) AS chars, " +
      s"min(doc_id) AS lo, max(doc_id) AS hi FROM $lake.main.src GROUP BY lang"
    GraftMaterializedViews.create(spark, cat, "mv", q, "main")
    cat.append("src", docs(100, 200))
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") == "incremental_agg")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mv")) ==
      sortedRows(spark.sql(q)))
  }

  test("global aggregate (no GROUP BY) folds too") {
    val (lake, cat) = register()
    mk(lake, cat)
    val q = s"SELECT count(*) AS n, sum(n_chars) AS chars FROM $lake.main.src"
    GraftMaterializedViews.create(spark, cat, "mv", q, "main")
    cat.append("src", docs(100, 140))
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") == "incremental_agg")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mv")) ==
      sortedRows(spark.sql(q)))
  }

  test("non-append window (CoW delete) and non-foldable shapes fall back to full") {
    val (lake, cat) = register()
    mk(lake, cat)
    val q = s"SELECT doc_id, n_chars FROM $lake.main.src WHERE n_chars > 300"
    GraftMaterializedViews.create(spark, cat, "mv", q, "main")
    cat.deleteWhere("src", col("doc_id") < 20)
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") == "full")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mv")) ==
      sortedRows(spark.sql(q)))

    // avg(DISTINCT) has no sound decomposition -> full even on append
    val qa = s"SELECT lang, avg(DISTINCT n_chars) AS a FROM $lake.main.src GROUP BY lang"
    GraftMaterializedViews.create(spark, cat, "mva", qa, "main")
    cat.append("src", docs(100, 130))
    assert(GraftMaterializedViews.refresh(spark, cat, "mva", "main") == "full")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mva")) ==
      sortedRows(spark.sql(qa)))
  }

  test("AVG folds incrementally via its (sum, count) companion columns") {
    val (lake, cat) = register()
    mk(lake, cat)
    val q = s"SELECT lang, avg(n_chars) AS mean, count(*) AS n " +
      s"FROM $lake.main.src GROUP BY lang"
    GraftMaterializedViews.create(spark, cat, "mv", q, "main")
    // the materialized table carries the companions, visible and recorded
    val cols = cat.schemaOfSnapshot("mv", cat.snapshotIdOf("mv").get).fieldNames.toSeq
    assert(cols == Seq("lang", "mean", "n", "__mean_sum", "__mean_cnt"))
    assert(cat.tableProperties("mv")(GraftMaterializedViews.CompanionsKey) ==
      "mean=avg:__mean_sum:__mean_cnt")

    cat.append("src", docs(100, 200))
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") == "incremental_agg")
    // values equal a full recompute (long sums are exact, so the ratio is
    // bit-identical to Spark's own AVG here)
    assert(sortedRows(spark.sql(
      s"SELECT lang, mean, n FROM $lake.main.mv")) == sortedRows(spark.sql(q)))
    // and the folded companions stay consistent with their own ratio
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.mv " +
      "WHERE abs(mean - __mean_sum / __mean_cnt) > 1e-9").head.getLong(0) == 0L)

    // a second append folds again from the folded state
    cat.append("src", docs(200, 260))
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") == "incremental_agg")
    assert(sortedRows(spark.sql(
      s"SELECT lang, mean, n FROM $lake.main.mv")) == sortedRows(spark.sql(q)))
  }

  test("STDDEV and VARIANCE fold via the parallel-variance identity") {
    val (lake, cat) = register()
    mk(lake, cat)
    val q = s"SELECT lang, stddev(n_chars) AS sd, var_samp(n_chars) AS vs, " +
      s"stddev_pop(n_chars) AS sp, var_pop(n_chars) AS vp, avg(n_chars) AS mean " +
      s"FROM $lake.main.src GROUP BY lang"
    GraftMaterializedViews.create(spark, cat, "mv", q, "main")
    cat.append("src", docs(100, 200))
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") == "incremental_agg")
    // folded moments equal a full recompute to fp tolerance (the fold
    // merges exact partial m2s; Welford's order differs only in rounding)
    val full = spark.sql(q).collect().map(r => r.getString(0) -> r).toMap
    val view = spark.sql(s"SELECT lang, sd, vs, sp, vp, mean FROM $lake.main.mv")
      .collect()
    assert(view.length == full.size)
    for (r <- view; f = full(r.getString(0)); i <- 1 to 5)
      assert(math.abs(r.getDouble(i) - f.getDouble(i)) <=
        1e-9 * math.max(1.0, math.abs(f.getDouble(i))),
        s"column $i of group ${r.getString(0)}: ${r.getDouble(i)} vs ${f.getDouble(i)}")
    // fold again from folded state
    cat.append("src", docs(200, 240))
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") == "incremental_agg")
    val full2 = spark.sql(q).collect().map(r => r.getString(0) -> r).toMap
    for (r <- spark.sql(s"SELECT lang, sd, vs, sp, vp, mean FROM $lake.main.mv").collect();
         f = full2(r.getString(0)); i <- 1 to 5)
      assert(math.abs(r.getDouble(i) - f.getDouble(i)) <=
        1e-9 * math.max(1.0, math.abs(f.getDouble(i))))
  }

  test("SUM/COUNT/AVG views fold through DELETE windows via the changelog") {
    val (lake, cat) = register()
    mk(lake, cat)
    val q = s"SELECT lang, count(*) AS n, sum(n_chars) AS chars, " +
      s"avg(n_chars) AS mean FROM $lake.main.src GROUP BY lang"
    GraftMaterializedViews.create(spark, cat, "mv", q, "main")

    // CoW delete breaks the append-only window; the signable aggregates
    // fold through the net changelog instead of recomputing
    cat.deleteWhere("src", col("doc_id") % 3 === 0)
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") ==
      "incremental_agg_dml")
    assert(sortedRows(spark.sql(s"SELECT lang, n, chars, mean FROM $lake.main.mv")) ==
      sortedRows(spark.sql(q)))

    // a mixed window (delete + append) folds too
    cat.deleteWhere("src", col("n_chars") < 250)
    cat.append("src", docs(100, 160))
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") ==
      "incremental_agg_dml")
    assert(sortedRows(spark.sql(s"SELECT lang, n, chars, mean FROM $lake.main.mv")) ==
      sortedRows(spark.sql(q)))

    // a group whose rows ALL depart vanishes, like a full recompute
    val victim = spark.sql(s"SELECT lang, n FROM $lake.main.mv ORDER BY n, lang")
      .head.getString(0)
    cat.deleteWhere("src", col("lang") === victim)
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") ==
      "incremental_agg_dml")
    assert(spark.sql(s"SELECT count(*) FROM $lake.main.mv WHERE lang = '$victim'")
      .head.getLong(0) == 0L, s"emptied group $victim must vanish from the view")
    assert(sortedRows(spark.sql(s"SELECT lang, n, chars, mean FROM $lake.main.mv")) ==
      sortedRows(spark.sql(q)))

    // MIN/MAX views fold delete windows too (r15: touched-group rescan)
    val qm = s"SELECT lang, count(*) AS n, max(doc_id) AS hi " +
      s"FROM $lake.main.src GROUP BY lang"
    GraftMaterializedViews.create(spark, cat, "mvm", qm, "main")
    cat.deleteWhere("src", col("doc_id") % 7 === 1)
    assert(GraftMaterializedViews.refresh(spark, cat, "mvm", "main") ==
      "incremental_agg_dml")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mvm")) ==
      sortedRows(spark.sql(qm)))
    // a signable view WITHOUT count(*) cannot detect emptied groups ->
    // full (the rescan path does not apply: no min/max/moment outputs)
    val qs = s"SELECT lang, sum(n_chars) AS chars FROM $lake.main.src GROUP BY lang"
    GraftMaterializedViews.create(spark, cat, "mvs", qs, "main")
    cat.deleteWhere("src", col("doc_id") % 5 === 2)
    assert(GraftMaterializedViews.refresh(spark, cat, "mvs", "main") == "full")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mvs")) ==
      sortedRows(spark.sql(qs)))
  }

  test("a pending equality tombstone on the source is not changelog-readable: refresh runs full") {
    val (lake, cat) = register()
    mk(lake, cat)
    val q = s"SELECT lang, count(*) AS n, sum(n_chars) AS chars FROM $lake.main.src GROUP BY lang"
    GraftMaterializedViews.create(spark, cat, "mv", q, "main")
    cat.deleteKeysMOR("src", docs(0, 10).select("doc_id"))
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") == "full")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mv")) ==
      sortedRows(spark.sql(q)))
  }

  test("MIN/MAX and moment views fold DELETE windows via touched-group rescan") {
    val (lake, cat) = register()
    mk(lake, cat)
    val q = s"SELECT lang, min(n_chars) AS lo, max(n_chars) AS hi, " +
      s"count(*) AS n FROM $lake.main.src GROUP BY lang"
    GraftMaterializedViews.create(spark, cat, "mv", q, "main")

    // deletes somewhere in the middle of most groups: untouched groups
    // fold, any bound-attaining group rescans — content must equal the
    // full recompute either way
    cat.deleteWhere("src", col("doc_id") % 4 === 1)
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") ==
      "incremental_agg_dml")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mv")) ==
      sortedRows(spark.sql(q)))

    // delete exactly the rows HOLDING every group's current max: each
    // group's bound must retreat to the true next value (rescan tier)
    val hiBound = spark.sql(s"SELECT min(hi) FROM $lake.main.mv").head.getLong(0)
    cat.deleteWhere("src", col("n_chars") >= hiBound)
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") ==
      "incremental_agg_dml")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mv")) ==
      sortedRows(spark.sql(q)))

    // a mixed window (delete + append) and an emptied group
    val victim = spark.sql(s"SELECT lang FROM $lake.main.mv ORDER BY n, lang")
      .head.getString(0)
    cat.deleteWhere("src", col("lang") === victim)
    cat.append("src", docs(100, 140))
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") ==
      "incremental_agg_dml")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mv")) ==
      sortedRows(spark.sql(q)))

    // moments through a delete window: every delete-group rescans (no
    // bound test exists), insert-only groups keep folding
    val qv = s"SELECT lang, stddev(n_chars) AS s, count(*) AS n " +
      s"FROM $lake.main.src GROUP BY lang"
    GraftMaterializedViews.create(spark, cat, "mvv", qv, "main")
    cat.deleteWhere("src", col("doc_id") % 5 === 2)
    cat.append("src", docs(140, 170))
    assert(GraftMaterializedViews.refresh(spark, cat, "mvv", "main") ==
      "incremental_agg_dml")
    val gotV = sortedRows(spark.sql(
      s"SELECT lang, round(s, 6) AS s, n FROM $lake.main.mvv"))
    val wantV = sortedRows(spark.sql(
      s"SELECT lang, round(stddev(n_chars), 6) AS s, count(*) AS n " +
        s"FROM $lake.main.src GROUP BY lang"))
    assert(gotV == wantV)

    // computed GROUP BY keys cannot semi-join the source -> full
    val qc = s"SELECT doc_id % 3 AS k, max(n_chars) AS hi " +
      s"FROM $lake.main.src GROUP BY doc_id % 3"
    GraftMaterializedViews.create(spark, cat, "mvc", qc, "main")
    cat.deleteWhere("src", col("doc_id") % 11 === 3)
    assert(GraftMaterializedViews.refresh(spark, cat, "mvc", "main") == "full")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mvc")) ==
      sortedRows(spark.sql(qc)))
  }

  test("MIN/MAX fold: NULL-keyed deletes bail to full (equality joins can't see them)") {
    val (lake, cat) = register()
    val src = docs(0, 100)
      .withColumn("lang", when(col("doc_id") % 3 === 0, lit(null)).otherwise(col("lang")))
    cat.createTableIfNotExists("src", src.schema)
    cat.append("src", src)
    val q = s"SELECT lang, min(n_chars) AS lo, max(n_chars) AS hi, " +
      s"count(*) AS n FROM $lake.main.src GROUP BY lang"
    GraftMaterializedViews.create(spark, cat, "mv", q, "main")

    // delete rows of the NULL-keyed group: the split fold's touched /
    // anti / semi joins are all plain equality, so the only sound mode
    // is a full recompute — and the content must come out exact (the
    // old bug kept the stale NULL-group bound alive)
    cat.deleteWhere("src", col("lang").isNull && col("doc_id") % 2 === 0)
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") == "full")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mv")) ==
      sortedRows(spark.sql(q)))

    // empty the NULL group entirely: its view row must disappear
    cat.deleteWhere("src", col("lang").isNull)
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") == "full")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mv")) ==
      sortedRows(spark.sql(q)))
    assert(spark.sql(s"SELECT * FROM $lake.main.mv WHERE lang IS NULL").count() == 0)

    // deletes that touch only NON-null groups still fold incrementally,
    // even while a NULL-keyed group exists in the view
    cat.deleteWhere("src", col("lang").isNotNull && col("doc_id") % 2 === 1)
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") ==
      "incremental_agg_dml")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mv")) ==
      sortedRows(spark.sql(q)))
  }

  test("GROUP BY with an unprojected key never folds (would collapse groups)") {
    val (lake, cat) = register()
    mk(lake, cat)
    // grouping key `lang` is NOT in the output: incremental_agg would
    // re-aggregate the delta∪view union keyless and collapse every group
    val q = s"SELECT count(*) AS n FROM $lake.main.src GROUP BY lang"
    GraftMaterializedViews.create(spark, cat, "mv", q, "main")
    // partial key projection (one of two keys) must fall back too
    val q2 = s"SELECT lang, count(*) AS n FROM $lake.main.src " +
      s"GROUP BY lang, n_chars % 2"
    GraftMaterializedViews.create(spark, cat, "mv2", q2, "main")
    cat.append("src", docs(100, 160))
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") == "full")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mv")) ==
      sortedRows(spark.sql(q)))
    assert(GraftMaterializedViews.refresh(spark, cat, "mv2", "main") == "full")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mv2")) ==
      sortedRows(spark.sql(q2)))
  }

  test("inner-join view refreshes via the IVM delta join: incremental_join") {
    val (lake, cat) = register()
    mk(lake, cat)
    cat.createTableIfNotExists("dim", docs(0, 1).select(col("lang")).distinct().schema)
    cat.append("dim", docs(0, 100).select("lang").distinct())
    val q = s"SELECT s.doc_id, s.n_chars, d.lang FROM $lake.main.src s " +
      s"JOIN $lake.main.dim d ON s.lang = d.lang WHERE s.n_chars > 200"
    GraftMaterializedViews.create(spark, cat, "mv", q, "main")
    val filesBefore = cat.dataFiles("mv").map(_.path).toSet

    // fact side moved (the 100 TB shape): Δsrc ⋈ dim appends
    cat.append("src", docs(100, 150))
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") == "incremental_join")
    assert(filesBefore.subsetOf(cat.dataFiles("mv").map(_.path).toSet),
      "incremental join refresh must append, never rewrite the view")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mv")) ==
      sortedRows(spark.sql(q)))

    // dim side moved: src ⋈ Δdim appends (new langs match rows the old
    // dim missed — inner join distributes over either side's union)
    cat.append("src", docs(150, 170)) // langs possibly unseen in dim
    GraftMaterializedViews.refresh(spark, cat, "mv", "main")
    val extraLangs = docs(150, 170).select("lang").distinct()
      .join(docs(0, 100).select("lang").distinct(), Seq("lang"), "left_anti")
    if (extraLangs.count() > 0) {
      cat.append("dim", extraLangs)
      assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") == "incremental_join")
    }
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mv")) ==
      sortedRows(spark.sql(q)))
  }

  test("GROUP BY over an inner join folds the delta join: incremental_agg") {
    val (lake, cat) = register()
    mk(lake, cat)
    cat.createTableIfNotExists("dim", docs(0, 1).select(col("lang")).distinct().schema)
    cat.append("dim", docs(0, 100).select("lang").distinct())
    val q = s"SELECT s.lang, count(*) AS n, sum(s.n_chars) AS chars " +
      s"FROM $lake.main.src s JOIN $lake.main.dim d ON s.lang = d.lang GROUP BY s.lang"
    GraftMaterializedViews.create(spark, cat, "mv", q, "main")
    cat.append("src", docs(100, 150))
    assert(GraftMaterializedViews.refresh(spark, cat, "mv", "main") == "incremental_agg")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mv")) ==
      sortedRows(spark.sql(q)))
  }

  test("join shapes that do NOT distribute fall back to full") {
    val (lake, cat) = register()
    mk(lake, cat)
    cat.createTableIfNotExists("dim", docs(0, 1).select(col("lang")).distinct().schema)
    cat.append("dim", docs(0, 100).select("lang").distinct())

    // LEFT join: a dim-side append can retro-match old null-extended rows
    val qLeft = s"SELECT s.doc_id, d.lang FROM $lake.main.src s " +
      s"LEFT JOIN $lake.main.dim d ON s.lang = d.lang"
    GraftMaterializedViews.create(spark, cat, "mvl", qLeft, "main")
    cat.append("src", docs(100, 130))
    assert(GraftMaterializedViews.refresh(spark, cat, "mvl", "main") == "full")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mvl")) ==
      sortedRows(spark.sql(qLeft)))

    // SELF join: the delta has cross terms the single-window rewrite misses
    val qSelf = s"SELECT a.doc_id FROM $lake.main.src a " +
      s"JOIN $lake.main.src b ON a.doc_id = b.doc_id + 1"
    GraftMaterializedViews.create(spark, cat, "mvs", qSelf, "main")
    cat.append("src", docs(130, 160))
    assert(GraftMaterializedViews.refresh(spark, cat, "mvs", "main") == "full")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mvs")) ==
      sortedRows(spark.sql(qSelf)))

    // BOTH sources stale: no single-delta rewrite
    val qBoth = s"SELECT s.doc_id, d.lang FROM $lake.main.src s " +
      s"JOIN $lake.main.dim d ON s.lang = d.lang"
    GraftMaterializedViews.create(spark, cat, "mvb", qBoth, "main")
    cat.append("src", docs(160, 180))
    cat.append("dim", docs(0, 1).select("lang").limit(1)
      .withColumn("lang", lit("zz-synthetic")))
    assert(GraftMaterializedViews.refresh(spark, cat, "mvb", "main") == "full")
    assert(sortedRows(spark.sql(s"SELECT * FROM $lake.main.mvb")) ==
      sortedRows(spark.sql(qBoth)))
  }

  test("SQL procedure surface: create/refresh/drop_mview; non-mview drop refused") {
    val (lake, cat) = register()
    mk(lake, cat)
    spark.sql(s"CALL $lake.system.create_mview('mv', " +
      s"'SELECT lang, count(*) AS n FROM $lake.main.src GROUP BY lang')")
    assert(spark.sql(s"SELECT sum(n) FROM $lake.main.mv").head.getLong(0) == 100L)
    cat.append("src", docs(100, 150))
    spark.sql(s"CALL $lake.system.refresh_mview('mv')")
    assert(spark.sql(s"SELECT sum(n) FROM $lake.main.mv").head.getLong(0) == 150L)
    spark.sql(s"CALL $lake.system.drop_mview('mv')")
    assert(!cat.tableExists("mv"))
    val err = intercept[Exception](spark.sql(s"CALL $lake.system.drop_mview('src')"))
    assert(err.getMessage.contains("not a materialized view"))
  }

  test("maintainContinuously advances the view on every source commit") {
    val (lake, cat) = register()
    cat.createTableIfNotExists("src", docs(0, 1).schema)
    cat.append("src", docs(0, 40))
    GraftMaterializedViews.create(spark, cat, "live",
      s"SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars " +
        s"FROM $lake.main.src GROUP BY lang", "main")
    cat.append("src", docs(40, 60)) // lands BEFORE maintenance starts
    val ckpt = Files.createTempDirectory("mview-live").toString
    val q = GraftMaterializedViews.maintainContinuously(
      spark, cat, "live", "main", lake, ckpt)
    try {
      q.processAllAvailable()
      def expected(hi: Long) = sortedRows(docs(0, hi)
        .groupBy("lang").agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("chars")))
      assert(sortedRows(cat.scan("live").select("lang", "n", "chars")) ==
        expected(60), "the startup catch-up covered the pre-stream commit")
      cat.append("src", docs(60, 90))
      q.processAllAvailable()
      assert(sortedRows(cat.scan("live").select("lang", "n", "chars")) ==
        expected(90), "an append commit triggers an incremental refresh")
      cat.deleteWhere("src", col("doc_id") < 10)
      q.processAllAvailable()
      assert(sortedRows(cat.scan("live").select("lang", "n", "chars")) ==
        sortedRows(docs(10, 90).groupBy("lang").agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("chars"))),
        "a delete commit triggers a sound (fold or full) refresh")
    } finally q.stop()
  }

  test("create refuses sources it cannot track (foreign files)") {
    val (lake, cat) = register()
    mk(lake, cat)
    val err = intercept[Exception](GraftMaterializedViews.create(spark, cat, "mv",
      s"SELECT count(*) AS n FROM parquet.`$sfDir/documents.parquet`", "main"))
    assert(err.getMessage.contains("reads no table") ||
      err.getMessage.contains("not a graft table"))
  }
}
