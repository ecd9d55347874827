package graft.wapbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.quality.{Metrics, NotNull}
import graft.wap.{BranchCatalog, Wap}

/** One timed client operation of the measured phase. */
final case class Sample(kind: String, name: String, client: String,
    startNs: Long, endNs: Long, ok: Boolean, traced: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One correctness check and its verdict. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A lake root with its catalog, its SQL catalog name and the books the
  * checks compare against. `traced` selects the [[TracedCatalog]]; an
  * untraced run uses the library's catalog as-is. */
final class Lake(val spark: SparkSession, val root: String, val sqlName: String,
    val traced: Boolean) {
  val catalog: BranchCatalog =
    if (traced) new TracedCatalog(spark, root) else new BranchCatalog(spark, root)
  val alerter = new RecordingAlerter
  spark.conf.set(s"spark.sql.catalog.$sqlName", classOf[graft.sql.GraftTableCatalog].getName)
  spark.conf.set(s"spark.sql.catalog.$sqlName.root", root)

  val samples = new ConcurrentLinkedQueue[Sample]()
  val checks = new ConcurrentLinkedQueue[Check]()
  /** Refused batches the workload handed in: each must leave one alert
    * and one unmerged branch behind. */
  val injectedSeen = new AtomicLong(0L)
  val rowsAudited = new AtomicLong(0L)
  val batchRowsAudited = new AtomicLong(0L)
  /** Pending tombstone epochs seen by every merge-on-read read of a traced
    * run, and planned-file ratios seen by traced audit scans. */
  val tombstonesSeen = new ConcurrentLinkedQueue[java.lang.Double]()
  val plannedRatios = new ConcurrentLinkedQueue[java.lang.Double]()

  def check(name: String, ok: Boolean, detail: => String): Unit =
    if (!ok) checks.add(Check(name, ok = false, detail))

  /** Runs one client operation, timing it and recording a failure instead
    * of letting it end the client. */
  def timed(kind: String, name: String, client: String, traced: Boolean)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val ok = try { Trace.op(spark.sparkContext, s"op.$name", traced)(body); true }
    catch {
      case e: Exception =>
        System.err.println(s"[wapbench] $client $name failed: $e")
        e.printStackTrace()
        false
    }
    samples.add(Sample(kind, name, client, t0, System.nanoTime(), ok, traced))
  }
}

/** An append-only table fed by WAP cycles, with the running totals of
  * what has been published to main. */
final class AppendTable(val lake: Lake, val name: String, val inputs: Inputs) {
  private var published = BatchStat.zero
  def state: BatchStat = synchronized(published)
  /** Snapshot id and published totals at the middle of set-up's history. */
  var midSnapshot: String = ""
  var midState: BatchStat = BatchStat.zero
  /** Rows on main when the measured phase starts, and how many WAP writers
    * may have a publish in flight while a concurrent read runs. */
  var startRows: Long = 0L
  var writers: Int = 1
  /** Distinct `my_col_1` values on main, from the inputs, when the table
    * is fixed after set-up; the dedup read checks against it. */
  var distinctTexts: Long = -1L
  private val checksOn = Seq(NotNull("my_col_1"))
  private def cat = lake.catalog

  /** Commit of batch `i` of `from` straight to main as `files` files;
    * set-up uses it to build history. */
  def prepopulate(from: Inputs, i: Int, files: Int): Unit = {
    cat.append(name, from.df(i).repartition(files))
    synchronized { published = published + from.stats(i) }
  }

  /** One write-audit-publish cycle of input batch `i` on branch `branch`. */
  def wap(i: Int, branch: String): Unit = {
    val res = Wap.run(cat, name, inputs.df(i), checksOn, branch, lake.alerter)
    lake.rowsAudited.addAndGet(res.report.rows)
    lake.batchRowsAudited.addAndGet(inputs.stats(i).rows)
    lake.check("wap.verdict", res.published == !inputs.injected(i),
      s"batch $i published=${res.published} injected=${inputs.injected(i)}")
    if (res.published) synchronized { published = published + inputs.stats(i) }
    else lake.injectedSeen.incrementAndGet()
  }

  private def rowsMatch(n: Long, expect: BatchStat, exact: Boolean): Boolean =
    if (exact) n == expect.rows
    // concurrent writers: main holds at least the rows it had when the
    // measured phase started, and no more than the books show once the read
    // ends plus one batch per writer whose publish is still returning
    else n >= startRows && n <= state.rows + writers * inputs.stats.map(_.rows).max

  /** Audit read: `IsNull(my_col_1)` on main. Published data holds no NULL,
    * so stats pruning should plan no file at all. */
  def readAudit(): Unit = {
    val cond = col("my_col_1").isNull
    val n = cat.scan(name, "main", Some(cond)).select("my_col_0").count()
    lake.check("read.audit", n == 0L, s"$name: $n NULL rows on main")
    if (Trace.active) {
      val all = cat.dataFiles(name).size
      if (all > 0) lake.plannedRatios.add(cat.prunedDataFiles(name, cond).size.toDouble / all)
    }
  }

  /** The analytical read through SQL on the graft catalog, with Catalyst
    * planning forced before execution so the two are timed apart. */
  def readSql(exact: Boolean): Unit = {
    val df = lake.spark.sql(
      s"SELECT SUM(my_col_0) AS s, AVG(my_col_2) AS a, COUNT(*) AS c FROM ${lake.sqlName}.main.$name")
    Trace.span("sql.plan")(df.queryExecution.executedPlan)
    val r = Trace.span("sql.exec")(df.collect()).head
    val expect = state
    val c = r.getLong(2)
    lake.check("read.sql.rows", rowsMatch(c, expect, exact), s"$name: count $c, expected ${expect.rows}")
    if (exact) {
      lake.check("read.sql.sum", r.getLong(0) == expect.sum0, s"$name: sum ${r.getLong(0)} vs ${expect.sum0}")
      lake.check("read.sql.avg", close(r.getDouble(1), expect.sum2 / expect.rows),
        s"$name: avg ${r.getDouble(1)} vs ${expect.sum2 / expect.rows}")
    }
  }

  /** Time travel to the snapshot set-up recorded mid-history. */
  def readTimeTravel(): Unit = {
    val r = cat.scanSnapshot(name, midSnapshot, None)
      .agg(count(lit(1)), sum(col("my_col_0").cast("long"))).collect().head
    lake.check("read.timetravel", r.getLong(0) == midState.rows && r.getLong(1) == midState.sum0,
      s"$name@$midSnapshot: ${r.getLong(0)}/${r.getLong(1)} vs ${midState.rows}/${midState.sum0}")
  }

  /** The quality dashboard: per-branch row counts and null counts per
    * column, both from metadata. */
  def readDashboard(exact: Boolean): Unit = {
    val stats = cat.branchStats(name).collect()
    val main = stats.find(_.getAs[String]("branch") == "main")
    lake.check("read.dashboard.rows",
      main.exists(r => rowsMatch(r.getAs[Long]("n_rows"), state, exact)),
      s"$name: main stats ${main.map(_.toString)} vs ${state.rows}")
    lake.check("read.dashboard.nulls",
      main.exists(r => r.getAs[scala.collection.Map[String, Long]]("null_counts").values.forall(_ == 0L)),
      s"$name: main null counts ${main.map(_.getAs[Any]("null_counts"))}")
  }

  /** The NULL audit as SQL on the graft catalog: stats pruning should
    * leave no file to read, however many files main holds. */
  def readSqlAudit(): Unit = {
    val df = lake.spark.sql(s"SELECT COUNT(*) FROM ${lake.sqlName}.main.$name WHERE my_col_1 IS NULL")
    Trace.span("sql.plan")(df.queryExecution.executedPlan)
    val n = Trace.span("sql.exec")(df.collect()).head.getLong(0)
    lake.check("read.sql_audit", n == 0L, s"$name: $n NULL rows on main through SQL")
  }

  /** The exact-dedup operator ([[Dedup.exactNormalized]], grouping on
    * graft.functions' normalized-text hash) over main: one survivor per
    * distinct `my_col_1`, whose copies add up to every row. */
  def readDedup(): Unit = {
    val r = Trace.span("operators.dedup") {
      Dedup.exactNormalized(cat.scan(name), "my_col_0", "my_col_1")
        .agg(count(lit(1)), sum(col("n_copies"))).collect().head
    }
    val expect = state
    lake.check("read.dedup", r.getLong(0) == distinctTexts && r.getLong(1) == expect.rows,
      s"$name: ${r.getLong(0)} survivors of ${r.getLong(1)} rows, inputs say $distinctTexts of ${expect.rows}")
  }

  /** The read requests of `lake_read`, by name, in rotation order. Each
    * plans over every manifest of main or of the mid-history snapshot. */
  def reads: IndexedSeq[(String, () => Unit)] = IndexedSeq(
    "audit_sql" -> (() => { readAudit(); readSql(exact = true) }),
    "time_travel" -> (() => readTimeTravel()),
    "dedup" -> (() => readDedup()))

  /** What a consumer checks after each publish: the NULL audit through
    * the catalog and through SQL. Stats pruning leaves neither a data file
    * to read, so their cost does not grow with the table. */
  def publishCheck(): Unit = {
    readAudit()
    readSqlAudit()
  }

  /** End-of-run verdicts, read through a fresh catalog over the same root. */
  def finalChecks(): Unit = {
    val fresh = new BranchCatalog(lake.spark, lake.root)
    val expect = state
    val r = fresh.scan(name).agg(count(lit(1)), sum(col("my_col_0").cast("long")),
      sum(col("my_col_2")), sum(when(col("my_col_1").isNull, 1L).otherwise(0L))).collect().head
    lake.checks.add(Check(s"final.$name.rows", r.getLong(0) == expect.rows,
      s"fresh catalog ${r.getLong(0)} rows, inputs say ${expect.rows}"))
    lake.checks.add(Check(s"final.$name.sums", r.getLong(1) == expect.sum0 && close(r.getDouble(2), expect.sum2),
      s"fresh catalog sums ${r.getLong(1)}/${r.getDouble(2)}, inputs say ${expect.sum0}/${expect.sum2}"))
    lake.checks.add(Check(s"final.$name.nulls", r.getLong(3) == 0L, s"${r.getLong(3)} NULLs in my_col_1 on main"))
    val sql = lake.spark.sql(s"SELECT COUNT(*), SUM(my_col_0) FROM ${lake.sqlName}.main.$name").collect().head
    lake.checks.add(Check(s"final.$name.sql", sql.getLong(0) == expect.rows && sql.getLong(1) == expect.sum0,
      s"SQL ${sql.getLong(0)}/${sql.getLong(1)}, inputs say ${expect.rows}/${expect.sum0}"))
  }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
}

/** A keyed table fed by audited merge-on-read upserts ([[Wap.runUpsertMOR]]),
  * compacted every few batches to stay under the tombstone cap. */
final class CdcTable(val lake: Lake, val name: String, val inputs: Inputs) {
  private val applied = scala.collection.mutable.ArrayBuffer.empty[Int]
  var midSnapshot: String = ""
  var midRows: Long = 0L
  private def cat = lake.catalog

  def load(i: Int): Unit = {
    cat.append(name, inputs.df(i))
    applied += i
  }

  def upsert(i: Int, quarantine: String): Unit = {
    val res = Wap.runUpsertMOR(cat, name, inputs.df(i), Seq("my_col_0"), Seq(NotNull("my_col_1")),
      quarantine, lake.alerter)
    lake.rowsAudited.addAndGet(res.report.rows)
    lake.batchRowsAudited.addAndGet(inputs.stats(i).rows)
    lake.check("cdc.verdict", res.published == !inputs.injected(i),
      s"cdc batch $i published=${res.published} injected=${inputs.injected(i)}")
    if (res.published) synchronized { applied += i } else lake.injectedSeen.incrementAndGet()
  }

  def compact(): Unit = { cat.compactDataFiles(name); () }

  def pendingTombstones(): Int =
    cat.snapshotIdOf(name).map(id => cat.snapshotMeta(name, id).deleteManifests.size).getOrElse(0)

  /** The read rotation on the keyed table: the NULL audit scan, the SQL
    * aggregate, time travel and the dashboard null counts; all pay for
    * every pending tombstone epoch. */
  def rotation(): Unit = {
    if (lake.traced) lake.tombstonesSeen.add(pendingTombstones().toDouble)
    val n = cat.scan(name, "main", Some(col("my_col_1").isNull)).count()
    lake.check("cdc.read.audit", n == 0L, s"$name: $n NULL rows")
    val df = lake.spark.sql(s"SELECT COUNT(*) AS c, COUNT(DISTINCT my_col_0) AS k " +
      s"FROM ${lake.sqlName}.main.$name")
    Trace.span("sql.plan")(df.queryExecution.executedPlan)
    val r = Trace.span("sql.exec")(df.collect()).head
    lake.check("cdc.read.sql", r.getLong(0) == r.getLong(1) && r.getLong(0) > 0,
      s"$name: ${r.getLong(0)} rows over ${r.getLong(1)} keys")
    val m = cat.scanSnapshot(name, midSnapshot, None).count()
    lake.check("cdc.read.timetravel", m == midRows, s"$name@$midSnapshot: $m vs $midRows")
    val nulls = Metrics.nullCounts(cat.scan(name), Seq("my_col_0", "my_col_1", "my_col_2")).collect()
    lake.check("cdc.read.dashboard", nulls.forall(r => r.getString(0) == "__rows" || r.getLong(1) == 0L),
      s"$name: null counts ${nulls.mkString(",")}")
  }

  /** The state the applied batches must leave: the latest row per key. */
  def expected(): Row = {
    val order = synchronized(applied.toList).zipWithIndex.groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).max }
    order.map { case (b, ord) => inputs.df(b).withColumn("ord", lit(ord)) }.reduce(_ unionByName _)
      .groupBy("my_col_0").agg(max_by(struct(col("my_col_1"), col("my_col_2")), col("ord")).as("r"))
      .agg(count(lit(1)), sum(col("my_col_0").cast("long")), sum(col("r.my_col_2")))
      .collect().head
  }

  def liveRows(): Long = synchronized(applied.nonEmpty) match {
    case false => 0L
    case true => expected().getLong(0)
  }

  def finalChecks(): Unit = {
    val e = expected()
    val fresh = new BranchCatalog(lake.spark, lake.root)
    val r = fresh.scan(name).agg(count(lit(1)), sum(col("my_col_0").cast("long")), sum(col("my_col_2")),
      countDistinct(col("my_col_0"))).collect().head
    lake.checks.add(Check(s"final.$name.rows", r.getLong(0) == e.getLong(0) && r.getLong(3) == e.getLong(0),
      s"fresh catalog ${r.getLong(0)} rows / ${r.getLong(3)} keys, inputs say ${e.getLong(0)}"))
    lake.checks.add(Check(s"final.$name.sums",
      r.getLong(1) == e.getLong(1) && math.abs(r.getDouble(2) - e.getDouble(2)) <= 1e-9 * math.abs(e.getDouble(2)),
      s"fresh catalog sums ${r.getLong(1)}/${r.getDouble(2)}, inputs say ${e.getLong(1)}/${e.getDouble(2)}"))
  }
}

object Lake {
  /** Bytes of every file under `root`, split into (data, metadata, files). */
  def usage(root: String): (Long, Long, Long) = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) return (0L, 0L, 0L)
    val s = java.nio.file.Files.walk(p)
    try {
      var data, meta, files = 0L
      s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).foreach { f =>
        val n = java.nio.file.Files.size(f)
        if (f.toString.endsWith(".parquet")) { data += n; files += 1 } else meta += n
      }
      (data, meta, files)
    } finally s.close()
  }
}
