package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.{SparkSpecBase, Tables}
import graft.wap.{BranchCatalog, PartitionSpec}

/** Storage-partitioned joins (W45): two graft tables bucket-partitioned
  * on the join key report KeyGroupedPartitioning (per-bucket read
  * partitions + the catalog's `bucket` V2 function) and join with ZERO
  * shuffles on either side — the fact-fact join shape whose exchange is
  * the dominant cost at 100 TB. */
class SpjSpec extends SparkSpecBase {

  private var n = 0
  private def register(): (String, BranchCatalog) = {
    n += 1
    val name = s"spj$n"
    val root = Files.createTempDirectory("spj").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, new BranchCatalog(spark, root))
  }

  private def withSpjConfs[T](body: => T): T = {
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled" ->
        spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.enabled" -> spark.conf.getOption("spark.sql.adaptive.enabled"))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeLike] = {
    val root = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    root.collect { case s: ShuffleExchangeLike => s }
  }

  private def docs(hi: Long): DataFrame =
    Tables.documents(spark, sfDir).filter(col("doc_id") < hi)

  private def mkBucketed(cat: BranchCatalog, table: String, df: DataFrame): Unit = {
    val spec = PartitionSpec.parse(s"bucket(8,doc_id)")
    cat.createTableIfNotExists(table, df.schema, spec = Some(spec))
    // two appends -> multiple files per bucket, all carrying pv
    cat.appendPartitioned(table, df.filter(col("doc_id") % 2 === 0), spec)
    cat.appendPartitioned(table, df.filter(col("doc_id") % 2 =!= 0), spec)
  }

  test("co-bucketed tables join with zero shuffles; results exact") {
    val (lake, cat) = register()
    val d = docs(300)
    mkBucketed(cat, "a", d.select("doc_id", "n_chars"))
    mkBucketed(cat, "b", d.select("doc_id", "lang"))
    withSpjConfs {
      val q = spark.sql(
        s"SELECT a.doc_id, a.n_chars, b.lang FROM $lake.main.a a " +
          s"JOIN $lake.main.b b ON a.doc_id = b.doc_id")
      assert(shuffles(q.queryExecution.executedPlan).isEmpty,
        s"expected a shuffle-free storage-partitioned join:\n${q.queryExecution.executedPlan}")
      val got = q.collect()
      assert(got.length == d.count())
      val expected = d.select("doc_id", "n_chars", "lang").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(got.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet == expected)
    }
  }

  test("group-by on the bucket column aggregates without an exchange") {
    val (lake, cat) = register()
    mkBucketed(cat, "a", docs(200).select("doc_id", "n_chars"))
    withSpjConfs {
      val q = spark.sql(
        s"SELECT doc_id, sum(n_chars) AS s FROM $lake.main.a GROUP BY doc_id")
      assert(shuffles(q.queryExecution.executedPlan).isEmpty,
        s"expected an exchange-free aggregation:\n${q.queryExecution.executedPlan}")
      assert(q.count() == docs(200).count())
    }
  }

  test("bucketing off, or a file without a transform value, falls back to the shuffled plan") {
    val (lake, cat) = register()
    val d = docs(200)
    mkBucketed(cat, "a", d.select("doc_id", "n_chars"))
    mkBucketed(cat, "b", d.select("doc_id", "lang"))
    val sql = s"SELECT a.doc_id FROM $lake.main.a a JOIN $lake.main.b b ON a.doc_id = b.doc_id"
    withSpjConfs {
      // same query, bucketing disabled -> ordinary shuffled join, same rows
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val off = spark.sql(sql)
      assert(shuffles(off.queryExecution.executedPlan).nonEmpty)
      assert(off.count() == d.count())

      // a PLAIN append now auto-routes through the committed spec
      // (r11): the staged file carries its transform value, coverage
      // stays full, and the join KEEPS its shuffle-free plan — the
      // streaming-sink/Wap.run surfaces inherit pruning and SPJ without
      // knowing the layout
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      cat.append("a", d.filter(col("doc_id") === 0).select("doc_id", "n_chars"))
      val routed = spark.sql(sql)
      assert(shuffles(routed.queryExecution.executedPlan).isEmpty,
        "auto-routed appends must preserve full coverage (and so SPJ)")
      assert(routed.count() == d.count() + 1) // doc 0 now twice in a

      // files WITHOUT transform values (foreign/legacy metadata) still
      // fall back rather than misreport: a bucket-declared table over an
      // unpartitioned snapshot reports UnknownPartitioning
      cat.createTableIfNotExists("legacy", d.select("doc_id", "n_chars").schema)
      cat.append("legacy", d.select("doc_id", "n_chars"))
      val tbl = GraftTable(cat.root, "main", "legacy",
        cat.snapshotIdOf("legacy", "main").get, d.select("doc_id", "n_chars").schema,
        partitionSpecFmt = Some("bucket(8,doc_id)"))
      val scan = new GraftScanBuilder(tbl).build()
        .asInstanceOf[GraftBatchScan]
      assert(scan.outputPartitioning().isInstanceOf[
        org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning],
        "missing transform values must fall back, never misreport grouping")
    }
  }

  test("the catalog bucket function computes exactly the writer's transform") {
    import org.apache.spark.sql.types._
    val d = docs(100).select(col("doc_id"), col("lang"))
    val spec = PartitionSpec.parse("bucket(8,doc_id)")
    val written = d.withColumn("pv", expr("cast(pmod(xxhash64(doc_id), 8) as string)"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val f = GraftBucketBound(LongType)
    for ((id, pv) <- written)
      assert(f.produceResult(org.apache.spark.sql.catalyst.InternalRow(8, id)).toString == pv,
        s"doc $id")
    // string keys too (a different xxhash64 input type)
    val fs = GraftBucketBound(StringType)
    val langPv = d.withColumn("pv", expr("cast(pmod(xxhash64(lang), 8) as string)"))
      .collect().map(r => Option(r.getString(1)) -> r.getString(2)).toMap
    for ((lang, pv) <- langPv)
      assert(fs.produceResult(org.apache.spark.sql.catalyst.InternalRow(
        8, lang.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull)).toString == pv)
  }
}
