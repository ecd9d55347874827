package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._

import graft.{SparkSpecBase, Tables}
import graft.wap.BranchCatalog

/** Metadata-only aggregates (W44/W79/W80/W81): `SELECT count(*),
  * count(c), min(c), max(c) FROM t` answered from snapshot stats with
  * ZERO data-file IO — global and GROUP BY, unfiltered or under filters
  * file metadata proves exactly, all through the DSv2
  * `SupportsPushDownAggregates` route (the local [[GraftMetaAggScan]]) —
  * with every non-exact shape refused onto the ordinary batch scan, and
  * the exact filters themselves: complete where every kept file proves
  * them, residual everywhere else. */
class MetaAggSpec extends SparkSpecBase {

  private var n = 0
  private def register(): (String, String, BranchCatalog) = {
    n += 1
    val name = s"metaagg$n"
    val root = Files.createTempDirectory("meta-agg").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, root, new BranchCatalog(spark, root))
  }

  /** documents slice with a controlled null pattern and a date column. */
  private def docs(limit: Long): DataFrame =
    Tables.documents(spark, sfDir).filter(col("doc_id") < limit)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        when(col("doc_id") % 3 === 0, lit(null)).otherwise(col("source")).as("src"),
        date_add(lit("2020-01-01").cast("date"),
          (col("doc_id") % 100).cast("int")).as("d"),
        lit(null).cast("string").as("all_null"))

  /** The physical plan, looking THROUGH the AQE wrapper (aggregates
    * carry exchanges, so Spark wraps them in AdaptiveSparkPlanExec, which
    * `collect` treats as a leaf). */
  private def physical(df: DataFrame) = df.queryExecution.executedPlan match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      a.executedPlan
    case p => p
  }

  /** The graft batch scans of the physical plan. */
  private def scansOf(df: DataFrame): Seq[BatchScanExec] =
    physical(df).collect { case b: BatchScanExec if b.scan.isInstanceOf[GraftBatchScan] => b }

  /** Metadata-only: no batch scan, the answer is a local table scan. */
  private def assertMetaOnly(df: DataFrame): Unit =
    assert(scansOf(df).isEmpty && physical(df).collect { case l: LocalTableScanExec => l }.nonEmpty,
      s"expected a metadata-only plan, got:\n${df.queryExecution.executedPlan}")

  /** The aggregate was pushed whole into the scan builder: the optimized
    * plan reads the local [[GraftMetaAggScan]]. */
  private def pushedMeta(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.exists(_.isInstanceOf[GraftMetaAggScan])

  /** Spark still re-checks some filter row by row above the scan. */
  private def residualFilter(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.nonEmpty

  /** Rows as (doc_id, lang), sorted — for comparing a SQL read with the
    * DataFrame filter it must equal. */
  private def idLang(df: DataFrame): Seq[(Long, String)] =
    df.select("doc_id", "lang").collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq

  test("extension path: count/min/max answered from metadata, zero scans") {
    val (lake, root, cat) = register()
    val d = docs(200)
    cat.createTableIfNotExists("docs", d.schema)
    cat.append("docs", d.filter(col("doc_id") < 90))
    cat.append("docs", d.filter(col("doc_id") >= 90))

    val q = spark.sql(
      s"""SELECT count(*) AS n, count(src) AS n_src, count(all_null) AS n_an,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id,
         |  min(lang) AS min_lang, max(lang) AS max_lang,
         |  min(d) AS min_d, max(d) AS max_d,
         |  min(all_null) AS min_an, count(*) + 1 AS n1
         |FROM $lake.main.docs""".stripMargin)
    assertMetaOnly(q)
    assert(pushedMeta(q))
    val exp = d.agg(count(lit(1)), count(col("src")), count(col("all_null")),
      min(col("doc_id")), max(col("doc_id")), min(col("lang")), max(col("lang")),
      min(col("d")), max(col("d")), min(col("all_null")),
      count(lit(1)) + 1).collect().head
    val (got, jobs) = jobsDuring(q.collect().head)
    assert(got == exp)
    assert(jobs == 0, s"a metadata-answered aggregate must run no Spark job, ran $jobs")

    // ...and it truly reads nothing: data files gone, answers remain
    val dataDir = new java.io.File(s"$root/tables/docs/data")
    def wipe(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(wipe)); f.delete(); ()
    }
    wipe(dataDir)
    val q2 = spark.sql(s"SELECT count(*), min(doc_id), max(lang) FROM $lake.main.docs")
    assertMetaOnly(q2)
    val r2 = q2.collect().head
    assert(r2.getLong(0) == exp.getLong(0))
    assert(r2.getLong(1) == exp.getLong(3) && r2.getString(2) == exp.getString(6))
  }

  test("bounds and null sums survive manifest folding and schema-typed string order") {
    val (lake, _, cat) = register()
    // lang is a STRING column: folding its bounds numerically would
    // corrupt them; multiple appends then a fold exercise the path
    val d = docs(150)
    cat.createTableIfNotExists("docs", d.schema)
    for (r <- 0 until 3) cat.append("docs", d.filter(col("doc_id") % 3 === r))
    cat.compactManifests("docs")
    assert(cat.snapshotMeta("docs",
      cat.snapshotIdOf("docs").get).manifests.size == 1)
    val q = spark.sql(
      s"SELECT count(*) AS n, count(src) AS s, min(lang) AS a, max(lang) AS b, " +
        s"min(doc_id) AS c, max(doc_id) AS e FROM $lake.main.docs")
    assertMetaOnly(q)
    val exp = d.agg(count(lit(1)), count(col("src")), min(col("lang")),
      max(col("lang")), min(col("doc_id")), max(col("doc_id"))).collect().head
    assert(q.collect().head == exp)
  }

  test("empty table answers count 0 / NULL extrema without a scan") {
    val (lake, _, cat) = register()
    cat.createTableIfNotExists("docs", docs(10).schema)
    val q = spark.sql(
      s"SELECT count(*) AS n, count(lang) AS nl, min(doc_id) AS a FROM $lake.main.docs")
    assertMetaOnly(q)
    val r = q.collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L && r.isNullAt(2))
  }

  test("vanilla connector path: complete aggregate pushdown onto the one-row scan") {
    val (lake, _, cat) = register()
    val d = docs(120)
    cat.createTableIfNotExists("docs", d.schema)
    cat.append("docs", d)
    val q = spark.sql(
      s"SELECT count(*) AS n, count(src) AS s, min(lang) AS a, max(doc_id) AS b " +
        s"FROM $lake.main.docs")
    assert(pushedMeta(q),
      s"expected the metadata-aggregate scan, got:\n${q.queryExecution.optimizedPlan}")
    assertMetaOnly(q)
    val exp = d.agg(count(lit(1)), count(col("src")), min(col("lang")),
      max(col("doc_id"))).collect().head
    val (got, jobs) = jobsDuring(q.collect().head)
    assert(got == exp)
    assert(jobs == 0, s"the local metadata scan must run no Spark job, ran $jobs")

    // a filtered aggregate must NOT reach the metadata scan
    val qf = spark.sql(
      s"SELECT count(*) FROM $lake.main.docs WHERE doc_id < 50")
    assert(!pushedMeta(qf) && scansOf(qf).nonEmpty)
    assert(qf.collect().head.getLong(0) == d.filter(col("doc_id") < 50).count())
  }

  test("a projection the planner cannot evaluate is left to Spark's ProjectExec") {
    val (lake, _, cat) = register()
    val d = docs(120)
    cat.createTableIfNotExists("docs", d.schema)
    cat.append("docs", d)
    cat.createTableIfNotExists("other", d.schema)
    cat.append("other", d.filter(col("doc_id") < 40))

    // an uncorrelated scalar subquery is deterministic, but Spark plans
    // it only after the strategies run
    val q = spark.sql(
      s"SELECT count(*) AS n, (SELECT max(doc_id) FROM $lake.main.other) AS m " +
        s"FROM $lake.main.docs")
    assert(pushedMeta(q))
    val r = q.collect().head
    assert(r.getLong(0) == d.count())
    assert(r.getLong(1) == d.filter(col("doc_id") < 40).agg(max(col("doc_id"))).head.getLong(0))

    // an ANSI error in the projection surfaces when the query runs, not
    // when it is planned or explained
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val bad = spark.sql(s"SELECT count(*) div 0 AS x FROM $lake.main.docs")
    assert(pushedMeta(bad))
    assert(bad.queryExecution.executedPlan != null)
    val err = intercept[Exception](bad.collect())
    assert(err.getMessage.contains("DIVIDE_BY_ZERO"), err.getMessage)
  }

  test("non-exact shapes refuse onto the real scan and stay correct") {
    val (lake, _, cat) = register()
    val d = docs(100)
    cat.createTableIfNotExists("docs", d.schema)
    cat.append("docs", d)

    // WHERE below the aggregate
    val qw = spark.sql(s"SELECT count(*) FROM $lake.main.docs WHERE doc_id >= 40")
    assert(scansOf(qw).nonEmpty)
    assert(qw.collect().head.getLong(0) == d.filter(col("doc_id") >= 40).count())

    // DISTINCT, AVG, GROUP BY: not metadata-answerable
    for (sql <- Seq(
        s"SELECT count(DISTINCT lang) FROM $lake.main.docs",
        s"SELECT avg(n_chars) FROM $lake.main.docs",
        s"SELECT lang, count(*) FROM $lake.main.docs GROUP BY lang")) {
      assert(scansOf(spark.sql(sql)).nonEmpty, s"expected a real scan for: $sql")
    }
    assert(spark.sql(s"SELECT count(DISTINCT lang) FROM $lake.main.docs")
      .collect().head.getLong(0) == d.select("lang").distinct().count())

    // double extrema are refused (NaN makes footer bounds inexact);
    // count over the double column is still metadata-only
    val dd = d.withColumn("v", col("n_chars").cast("double"))
    cat.createTableIfNotExists("docs2", dd.schema)
    cat.append("docs2", dd)
    val qv = spark.sql(s"SELECT min(v) FROM $lake.main.docs2")
    assert(scansOf(qv).nonEmpty)
    assert(qv.collect().head.getDouble(0) == dd.agg(min("v")).collect().head.getDouble(0))
    assertMetaOnly(spark.sql(s"SELECT count(v) FROM $lake.main.docs2"))
  }

  test("W79: GROUP BY the identity-partition column is metadata-only on both paths") {
    val (lake, _, cat) = register()
    val d = docs(150)
    cat.createTableIfNotExists("docs", d.schema, "main",
      Seq(graft.wap.IdentityPartition("lang")))
    cat.append("docs", d) // auto-routed through the committed spec
    cat.append("docs", Tables.documents(spark, sfDir)
      .filter(col("doc_id") >= 150 && col("doc_id") < 260)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        when(col("doc_id") % 3 === 0, lit(null)).otherwise(col("source")).as("src"),
        date_add(lit("2020-01-01").cast("date"),
          (col("doc_id") % 100).cast("int")).as("d"),
        lit(null).cast("string").as("all_null")))
    val all = cat.scan("docs")
    val sql = s"SELECT lang, count(*) AS n, count(src) AS ns, " +
      s"min(doc_id) AS a, max(n_chars) AS b FROM $lake.main.docs GROUP BY lang"
    val exp = all.groupBy("lang").agg(count(lit(1)), count(col("src")),
      min(col("doc_id")), max(col("n_chars"))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq

    // SQL: complete GROUP BY pushdown onto the multi-row local scan
    val q = spark.sql(sql)
    assert(pushedMeta(q),
      s"expected the metadata-aggregate scan, got:\n${q.queryExecution.optimizedPlan}")
    assertMetaOnly(q)
    val got = q.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(got == exp)

    // the catalog API folds the same groups
    import graft.wap.MetaAgg._
    val byApi = cat.metaAggregateBy("docs", cat.snapshotIdOf("docs").get, Seq("lang"),
      Seq(CountStar, CountCol("src"), MinCol("doc_id"), MaxCol("n_chars"))).get
      .map(r => (r(0).toString, r(1), r(2), r(3), r(4))).sortBy(_._1).toSeq
    assert(byApi == exp)
  }

  test("W79: clustered appends prove homogeneity without a spec; null groups roll up") {
    val (lake, _, cat) = register()
    val base = docs(90).drop("lang")
    val d1 = base.filter(col("doc_id") < 30).withColumn("lang", lit("en"))
    val d2 = base.filter(col("doc_id") >= 30 && col("doc_id") < 60)
      .withColumn("lang", lit(null).cast("string"))
    val d3 = base.filter(col("doc_id") >= 60).withColumn("lang", lit("fr"))
    // lang must be NULLABLE in the table schema (lit("en") declares it
    // NOT NULL, and an all-null group cannot ride that — the rule then
    // correctly refuses instead of writing a null into a non-null row)
    cat.createTableIfNotExists("t", org.apache.spark.sql.types.StructType(
      base.schema.fields :+ org.apache.spark.sql.types.StructField(
        "lang", org.apache.spark.sql.types.StringType, nullable = true)))
    Seq(d1, d2, d3).foreach(cat.append("t", _))
    val q = spark.sql(
      s"SELECT lang, count(*) AS n, min(doc_id) AS a FROM $lake.main.t GROUP BY lang")
    assertMetaOnly(q)
    val got = q.collect().map(r =>
      (Option(r.getString(0)), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == Seq(
      (None, 30L, 30L), (Some("en"), 30L, 0L), (Some("fr"), 30L, 60L)))
  }

  test("W79: grouped refusals — heterogeneous files, tombstones, filters — fall back correct") {
    val (lake, _, cat) = register()
    val d = docs(120)
    cat.createTableIfNotExists("docs", d.schema, "main",
      Seq(graft.wap.IdentityPartition("lang")))
    cat.append("docs", d)
    // a filter below the grouped aggregate keeps the real scan
    val qf = spark.sql(s"SELECT lang, count(*) AS n FROM $lake.main.docs " +
      "WHERE doc_id < 50 GROUP BY lang")
    assert(scansOf(qf).nonEmpty)
    assert(qf.collect().map(_.getLong(1)).sum == 50L)
    // grouping by a NON-homogeneous column refuses
    val qh = spark.sql(s"SELECT src, count(*) AS n FROM $lake.main.docs GROUP BY src")
    assert(scansOf(qh).nonEmpty)
    assert(qh.collect().map(_.getLong(1)).sum == 120L)
    // a HAVING over the grouped result still folds (it sits above the agg)
    val qhav = spark.sql(s"SELECT lang, count(*) AS n FROM $lake.main.docs " +
      "GROUP BY lang HAVING count(*) > 0")
    assert(qhav.collect().map(_.getLong(1)).sum == 120L)
    // pending MOR tombstones refuse the grouped path too
    cat.deleteWherePositional("docs", col("doc_id") % 7 === 0)
    val qt = spark.sql(s"SELECT lang, count(*) AS n FROM $lake.main.docs GROUP BY lang")
    assert(scansOf(qt).nonEmpty)
    assert(qt.collect().map(_.getLong(1)).sum ==
      d.filter(col("doc_id") % 7 =!= 0).count())
  }

  test("W80: SUM/AVG from per-file sum sidecars, global and grouped, both paths") {
    val (lake, _, cat) = register()
    val d = docs(140)
    cat.createTableIfNotExists("docs", d.schema, "main",
      Seq(graft.wap.IdentityPartition("lang")))
    cat.append("docs", d.filter(col("doc_id") < 70))
    cat.append("docs", d.filter(col("doc_id") >= 70))
    assert(cat.ensureSumStats("docs") > 0)
    assert(cat.ensureSumStats("docs") == 0, "re-ensure must be a metadata no-op")

    val expSum = d.agg(sum(col("n_chars"))).head.getLong(0)
    val expCnt = d.count()
    val g = spark.sql(s"SELECT sum(n_chars) AS s, avg(n_chars) AS a, " +
      s"sum(doc_id) AS si FROM $lake.main.docs")
    assertMetaOnly(g)
    val gr = g.collect().head
    assert(gr.getLong(0) == expSum)
    assert(gr.getDouble(1) == expSum.toDouble / expCnt)
    assert(gr.getLong(2) == d.agg(sum(col("doc_id"))).head.getLong(0))

    val byLang = spark.sql(s"SELECT lang, sum(n_chars) AS s, avg(n_chars) AS a " +
      s"FROM $lake.main.docs GROUP BY lang")
    assertMetaOnly(byLang)
    val expBy = d.groupBy("lang")
      .agg(sum(col("n_chars")), count(col("n_chars"))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(1).toDouble / r.getLong(2)))
      .toMap
    val gotBy = byLang.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(gotBy == expBy)

    assert(pushedMeta(byLang))

    // the catalog API folds the same sums and averages
    import graft.wap.MetaAgg._
    val byApi = cat.metaAggregateBy("docs", cat.snapshotIdOf("docs").get, Seq("lang"),
      Seq(SumCol("n_chars"), AvgCol("n_chars"))).get
      .map(r => r(0).toString -> (r(1), r(2))).toMap
    assert(byApi == expBy)
  }

  test("W80: freshness gate — unsummed appends refuse; maintain re-sums; NULL and double shapes") {
    val (lake, _, cat) = register()
    val d = docs(80)
    cat.createTableIfNotExists("docs", d.schema)
    cat.append("docs", d.filter(col("doc_id") < 40))
    cat.ensureSumStats("docs")
    assertMetaOnly(spark.sql(s"SELECT sum(n_chars) FROM $lake.main.docs"))
    // an append the sidecars haven't seen refuses onto the real scan
    cat.append("docs", d.filter(col("doc_id") >= 40))
    val q = spark.sql(s"SELECT sum(n_chars) AS s FROM $lake.main.docs")
    assert(scansOf(q).nonEmpty, "stale sum sidecars must not serve")
    assert(q.collect().head.getLong(0) == d.agg(sum(col("n_chars"))).head.getLong(0))
    // policy-driven maintenance re-sums only the new manifest
    cat.setTableProperties("docs", Map("graft.maintain.sum-stats" -> "true"))
    val acts = GraftMaintenance.run(spark, cat, "docs")
    assert(acts.exists(_._1 == "sum-stats"), acts.toString)
    val q2 = spark.sql(s"SELECT sum(n_chars) AS s FROM $lake.main.docs")
    assertMetaOnly(q2)
    assert(q2.collect().head.getLong(0) == d.agg(sum(col("n_chars"))).head.getLong(0))

    // SQL NULL sum: an all-null integral column answers NULL metadata-only
    val dn = d.filter(col("doc_id") < 20)
      .withColumn("v", lit(null).cast("long"))
    cat.createTableIfNotExists("t2", org.apache.spark.sql.types.StructType(
      d.schema.fields :+ org.apache.spark.sql.types.StructField(
        "v", org.apache.spark.sql.types.LongType)))
    cat.append("t2", dn)
    cat.ensureSumStats("t2")
    val qn = spark.sql(s"SELECT sum(v) AS s, avg(v) AS a FROM $lake.main.t2")
    assertMetaOnly(qn)
    val rn = qn.collect().head
    assert(rn.isNullAt(0) && rn.isNullAt(1))

    // double sums are order-dependent — never metadata-served
    val dd = d.filter(col("doc_id") < 20).withColumn("w", col("n_chars").cast("double"))
    cat.createTableIfNotExists("t3", dd.schema)
    cat.append("t3", dd)
    cat.ensureSumStats("t3") // n_chars/doc_id only; w is not summable
    val qd = spark.sql(s"SELECT sum(w) FROM $lake.main.t3")
    assert(scansOf(qd).nonEmpty)
  }

  test("W81: filtered metadata aggregates on homogeneous predicates, global and grouped") {
    val (lake, _, cat) = register()
    val d = docs(160)
    cat.createTableIfNotExists("docs", d.schema, "main",
      Seq(graft.wap.IdentityPartition("lang")))
    cat.append("docs", d.filter(col("doc_id") < 80))
    cat.append("docs", d.filter(col("doc_id") >= 80))
    cat.ensureSumStats("docs")

    // global aggregate under a partition predicate: zero data IO
    val en = d.filter(col("lang") === "en")
    val q1 = spark.sql(s"SELECT count(*) AS n, sum(n_chars) AS s, " +
      s"min(doc_id) AS a, avg(n_chars) AS av FROM $lake.main.docs WHERE lang = 'en'")
    assertMetaOnly(q1)
    val r1 = q1.collect().head
    val enSum = en.agg(sum(col("n_chars"))).head.getLong(0)
    assert(r1.getLong(0) == en.count())
    assert(r1.getLong(1) == enSum)
    assert(r1.getLong(2) == en.agg(min(col("doc_id"))).head.getLong(0))
    assert(r1.getDouble(3) == enSum.toDouble / en.count())

    // an empty selection still yields the one SQL row (count 0, NULL sum)
    val q2 = spark.sql(
      s"SELECT count(*) AS n, sum(n_chars) AS s FROM $lake.main.docs WHERE lang = 'zz'")
    assertMetaOnly(q2)
    val r2 = q2.collect().head
    assert(r2.getLong(0) == 0L && r2.isNullAt(1))

    // grouped + filtered (negation and IN), still metadata-only
    val q3 = spark.sql(s"SELECT lang, count(*) AS n FROM $lake.main.docs " +
      "WHERE lang <> 'en' GROUP BY lang")
    assertMetaOnly(q3)
    val expBy = d.filter(col("lang") =!= "en").groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(q3.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == expBy)

    // a predicate on a NON-homogeneous column refuses onto the real scan
    val q4 = spark.sql(
      s"SELECT count(*) AS n FROM $lake.main.docs WHERE doc_id < 50")
    assert(scansOf(q4).nonEmpty)
    assert(q4.collect().head.getLong(0) == 50L)
  }

  test("pending MOR tombstones refuse metadata aggregates; compaction restores them") {
    val (lake, _, cat) = register()
    val d = docs(100)
    cat.createTableIfNotExists("docs", d.schema)
    cat.append("docs", d)
    cat.deleteKeysMOR("docs", d.filter(col("doc_id") % 5 === 0).select("doc_id"))
    val expected = d.filter(col("doc_id") % 5 =!= 0).count()
    val q = spark.sql(s"SELECT count(*) FROM $lake.main.docs")
    assert(scansOf(q).nonEmpty, "tombstoned counts must come from the real scan")
    assert(q.collect().head.getLong(0) == expected)
    cat.compactDataFiles("docs", targetFiles = 2)
    val q2 = spark.sql(s"SELECT count(*) FROM $lake.main.docs")
    assertMetaOnly(q2)
    assert(q2.collect().head.getLong(0) == expected)
  }

  test("a column added by evolution refuses min/max until files carry it") {
    val (lake, _, cat) = register()
    val d = docs(60).select("doc_id", "lang", "n_chars")
    cat.createTableIfNotExists("docs", d.schema)
    cat.append("docs", d)
    cat.evolveSchema("docs", org.apache.spark.sql.types.StructType(
      d.schema.fields :+ org.apache.spark.sql.types.StructField(
        "extra", org.apache.spark.sql.types.LongType)))
    // old files have no stats for `extra`; min(extra) must not claim one
    val q = spark.sql(s"SELECT min(extra) FROM $lake.main.docs")
    assert(scansOf(q).nonEmpty)
    assert(q.collect().head.isNullAt(0))
    // count(*) stays metadata-only through the evolution
    assertMetaOnly(spark.sql(s"SELECT count(*) FROM $lake.main.docs"))
  }

  test("wap_agg_pushdown lifecycle query passes its metadata-only and zero-IO gates") {
    val row = graft.operators.WapQueries.wapAggPushdown(spark, sfDir).collect().head
    for (c <- Seq("v2_pushed", "zero_data_io"))
      assert(row.getAs[Boolean](c), c)
    assert(row.getAs[Long]("n_rows") ==
      Tables.documents(spark, sfDir).filter(col("doc_id") < 200).count())
  }

  test("planner null counts skip columns not covered by every manifest") {
    val (_, root, cat) = register()
    val d = docs(40).select("doc_id", "lang")
    cat.createTableIfNotExists("t", d.schema)
    cat.append("t", d) // M1: no `extra` column at all
    cat.evolveSchema("t", org.apache.spark.sql.types.StructType(
      d.schema.fields :+ org.apache.spark.sql.types.StructField(
        "extra", org.apache.spark.sql.types.LongType)))
    cat.append("t", d.withColumn("extra",
      when(col("doc_id") % 2 === 0, col("doc_id")))) // M2 covers `extra`
    val id = cat.snapshotIdOf("t").get
    val stats = GraftStats.of(spark, GraftTable(root, "main", "t", id,
      cat.schemaOfSnapshot("t", id)))
    val nulls = stats.columnStats()
    val keys = nulls.keySet().toArray.map(_.toString).toSet
    // doc_id/lang covered by both manifests; `extra` only by M2 — a
    // partial sum would claim 20 nulls where the scan sees 60
    assert(keys.exists(_.contains("doc_id")))
    assert(!keys.exists(_.contains("extra")),
      s"partially-covered column must not report a null count, got $keys")
  }

  test("metaAggregate values match the scan across DML rewrites") {
    val (_, _, cat) = register()
    val d = docs(100)
    cat.createTableIfNotExists("docs", d.schema)
    cat.append("docs", d)
    cat.deleteWhere("docs", col("doc_id") >= 80)
    cat.updateWhere("docs", col("doc_id") < 10,
      Map("n_chars" -> (col("n_chars") + 1)))
    val id = cat.snapshotIdOf("docs").get
    import graft.wap.MetaAgg._
    val got = cat.metaAggregate("docs", id,
      Seq(CountStar, CountCol("src"), MinCol("doc_id"), MaxCol("doc_id"),
        MinCol("lang"), MaxCol("lang")))
    assert(got.isDefined, "post-DML snapshots must stay metadata-answerable")
    val s = cat.scan("docs")
    val exp = s.agg(count(lit(1)), count(col("src")), min(col("doc_id")),
      max(col("doc_id")), min(col("lang")), max(col("lang"))).collect().head
    val vals = got.get
    assert(vals(0) == exp.getLong(0) && vals(1) == exp.getLong(1))
    assert(vals(2) == exp.getLong(2) && vals(3) == exp.getLong(3))
    assert(vals(4).toString == exp.getString(4) && vals(5).toString == exp.getString(5))
  }

  test("filtered aggregates push into the scan: partition equality and NOT, zero jobs") {
    val (lake, _, cat) = register()
    val d = docs(160)
    cat.createTableIfNotExists("docs", d.schema, "main",
      Seq(graft.wap.IdentityPartition("lang")))
    cat.append("docs", d.filter(col("doc_id") < 80))
    cat.append("docs", d.filter(col("doc_id") >= 80))
    cat.ensureSumStats("docs")

    val en = d.filter(col("lang") === "en")
    val q1 = spark.sql(s"SELECT count(*) AS n, sum(n_chars) AS s, min(doc_id) AS a " +
      s"FROM $lake.main.docs WHERE lang = 'en'")
    assert(pushedMeta(q1), s"expected the metadata scan, got:\n${q1.queryExecution.optimizedPlan}")
    val (r1, jobs1) = jobsDuring(q1.collect().head)
    assert(jobs1 == 0, s"a filtered metadata aggregate must run no Spark job, ran $jobs1")
    assert(r1 == en.agg(count(lit(1)), sum(col("n_chars")), min(col("doc_id"))).head)

    val q2 = spark.sql(s"SELECT lang, count(*) AS n FROM $lake.main.docs " +
      "WHERE lang <> 'en' GROUP BY lang")
    assert(pushedMeta(q2), s"expected the metadata scan, got:\n${q2.queryExecution.optimizedPlan}")
    val (r2, jobs2) = jobsDuring(q2.collect())
    assert(jobs2 == 0, s"a filtered GROUP BY must run no Spark job, ran $jobs2")
    assert(r2.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      d.filter(col("lang") =!= "en").groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  test("a range-clustered filter answers count/sum/min from metadata") {
    val (lake, _, cat) = register()
    val d = docs(160)
    cat.createTableIfNotExists("docs", d.schema)
    cat.append("docs", d.filter(col("doc_id") < 80))
    cat.append("docs", d.filter(col("doc_id") >= 80))
    cat.ensureSumStats("docs")
    val q = spark.sql(s"SELECT count(*) AS n, sum(n_chars) AS s, min(lang) AS a " +
      s"FROM $lake.main.docs WHERE doc_id < 80")
    assert(pushedMeta(q), s"expected the metadata scan, got:\n${q.queryExecution.optimizedPlan}")
    assertMetaOnly(q)
    val lo = d.filter(col("doc_id") < 80)
    assert(q.collect().head ==
      lo.agg(count(lit(1)), sum(col("n_chars")), min(col("lang"))).head)
  }

  test("the publish check counts NULLs from metadata until a batch brings some") {
    val (lake, _, cat) = register()
    val d = docs(120)
    cat.createTableIfNotExists("docs", d.schema)
    cat.append("docs", d.filter(col("doc_id") < 60))
    cat.append("docs", d.filter(col("doc_id") >= 60))
    val check = s"SELECT count(*) FROM $lake.main.docs WHERE lang IS NULL"
    val q = spark.sql(check)
    assert(pushedMeta(q) && !residualFilter(q))
    val (n, jobs) = jobsDuring(q.collect().head.getLong(0))
    assert(n == 0L)
    assert(jobs == 0, s"the publish check over NULL-free files must run no Spark job, ran $jobs")

    // a batch with NULLs: the filter stays residual and the count exact
    cat.append("docs", docs(140).filter(col("doc_id") >= 120)
      .withColumn("lang", when(col("doc_id") % 2 === 0, lit(null)).otherwise(col("lang"))))
    val q2 = spark.sql(check)
    assert(!pushedMeta(q2) && residualFilter(q2) && scansOf(q2).nonEmpty)
    assert(q2.collect().head.getLong(0) == 10L)
  }

  test("exact filters drop their Filter only where every file decides them") {
    val (lake, _, cat) = register()
    val d = docs(160)
    cat.createTableIfNotExists("docs", d.schema, "main",
      Seq(graft.wap.IdentityPartition("lang")))
    cat.append("docs", d.filter(col("doc_id") < 80))
    cat.append("docs", d.filter(col("doc_id") >= 80))

    // NOT over the partition column: complete, no Filter over the scan
    val qn = spark.sql(s"SELECT doc_id, lang FROM $lake.main.docs WHERE lang <> 'en'")
    assert(!residualFilter(qn), s"expected no Filter, got:\n${qn.queryExecution.optimizedPlan}")
    assert(idLang(qn) == idLang(d.filter(col("lang") =!= "en")))
    // ...also when the scan no longer outputs the filtered column
    val qi = spark.sql(s"SELECT doc_id FROM $lake.main.docs WHERE lang <> 'en'")
    assert(!residualFilter(qi))
    assert(qi.collect().map(_.getLong(0)).sorted.toSeq ==
      d.filter(col("lang") =!= "en").collect().map(_.getAs[Long]("doc_id")).sorted.toSeq)

    // doc_id < 50 straddles the files of the first append: it stays residual
    val qs = spark.sql(s"SELECT doc_id, lang FROM $lake.main.docs WHERE doc_id < 50")
    assert(residualFilter(qs), s"expected a Filter, got:\n${qs.queryExecution.optimizedPlan}")
    assert(idLang(qs) == idLang(d.filter(col("doc_id") < 50)))
    // ...and in a conjunction only the decided filter is complete
    val qc = spark.sql(
      s"SELECT doc_id, lang FROM $lake.main.docs WHERE lang = 'en' AND doc_id < 50")
    assert(residualFilter(qc) && !pushedMeta(qc))
    assert(idLang(qc) == idLang(d.filter(col("lang") === "en" && col("doc_id") < 50)))
  }

  test("double predicates, changes windows and MOR tombstones keep every filter residual") {
    val (lake, _, cat) = register()
    val d = docs(160).withColumn("v", col("n_chars").cast("double"))
    cat.createTableIfNotExists("docs", d.schema, "main",
      Seq(graft.wap.IdentityPartition("lang")))
    cat.append("docs", d.filter(col("doc_id") < 80))
    val first = cat.snapshotIdOf("docs").get
    cat.append("docs", d.filter(col("doc_id") >= 80))

    // a double comparison is never proved (footer bounds exclude NaN)
    val qd = spark.sql(s"SELECT count(*) FROM $lake.main.docs WHERE v < 1e12")
    assert(residualFilter(qd) && !pushedMeta(qd))
    assert(qd.collect().head.getLong(0) == 160L)

    // a changes window reads the delta: its filters are never complete
    val w = spark.read.option("graft.changes.from", first)
      .table(s"$lake.main.docs").filter(col("lang") === "en")
    assert(residualFilter(w))
    assert(idLang(w) == idLang(d.filter(col("doc_id") >= 80 && col("lang") === "en")))
    val wn = w.agg(count(lit(1)))
    assert(!pushedMeta(wn))
    assert(wn.head.getLong(0) == d.filter(col("doc_id") >= 80 && col("lang") === "en").count())

    // pending MOR tombstones: the aggregate refuses, the rows are exact
    cat.deleteWherePositional("docs", col("doc_id") % 7 === 0)
    val live = d.filter(col("doc_id") % 7 =!= 0 && col("lang") === "en")
    val qt = spark.sql(s"SELECT count(*) FROM $lake.main.docs WHERE lang = 'en'")
    assert(residualFilter(qt) && !pushedMeta(qt) && scansOf(qt).nonEmpty)
    assert(qt.collect().head.getLong(0) == live.count())
    val rows = spark.sql(s"SELECT doc_id, lang FROM $lake.main.docs WHERE lang = 'en'")
    assert(residualFilter(rows))
    assert(idLang(rows) == idLang(live))
  }
}
