package graft.wapbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from the spans, the catalog's call
  * counts, the Spark listener and a listing of the lake root. Timings are
  * medians over the traced calls; `_per_op` figures are means over traced
  * requests; counters cover the whole measured phase. */
object Layers {
  /** Catalog calls whose latency the per-layer table reports. */
  val timedCalls: Seq[String] = Seq("createBranch", "append", "scanBranchDelta", "merge",
    "dropBranch", "currentRefs", "upsertKeysMOR", "compactDataFiles", "branchStats")
  val catalogCalls: Seq[String] = (timedCalls ++ Seq("scan", "scanSnapshot")).map("catalog." + _)

  /** What changed over the measured phase. */
  final case class Deltas(calls: Map[String, Long], refsVersions: Long, metaParses: Long,
      metaParseMs: Double, metaBytes: Long, dataFiles: Long)

  def compute(samples: Seq[Sample], spans: Seq[Span], spark: Map[Long, OpSpark],
      lake: Lake, d: Deltas): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val roots = spans.filter(_.parent == 0L)
    val byName = spans.groupBy(_.name)
    def p50(name: String): Double =
      byName.get(name).map(ss => Stats.median(ss.map(_.durNs / 1e6))).getOrElse(Double.NaN)
    def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
    def ratio(a: Double, b: Double): Double = if (b == 0) Double.NaN else a / b

    val ops = samples.size.toDouble
    val writes = samples.count(_.kind == "write").toDouble
    val calls = d.calls
    val appends = Seq("append", "upsertKeysMOR", "compactDataFiles")
      .map(n => calls.getOrElse("catalog." + n, 0L)).sum

    // a scan's own latency: scan/scanSnapshot calls not nested in another
    def underScan(s: Span): Boolean = {
      var p = byId.get(s.parent)
      while (p.isDefined) {
        if (p.get.name.startsWith("catalog.scan")) return true
        p = byId.get(p.get.parent)
      }
      false
    }
    val scans = spans.filter(s => (s.name == "catalog.scan" || s.name == "catalog.scanSnapshot") && !underScan(s))

    // Spark per traced request; the driver gap is request time not covered
    // by any of its jobs
    val opStats = roots.map { r =>
      val sp = spark.getOrElse(r.id, OpSpark(0, 0.0, 0.0, 0.0, 0L, 0L, Nil))
      val s0 = r.startNs / 1000000L
      val e0 = r.endNs / 1000000L
      val covered = Stats.unionMs(sp.jobIntervals.map { case (a, b) => (math.max(a, s0), math.min(b, e0)) }
        .filter { case (a, b) => b > a })
      (r, sp, r.durNs / 1e6 - covered)
    }

    // self time per layer: a span's duration minus what its children cover
    val children = spans.groupBy(_.parent)
    def self(s: Span): Double =
      (s.durNs - Stats.unionMs(children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))).toLong) / 1e6
    def layer(s: Span): String =
      if (s.parent == 0L) "orchestrator" else s.name.takeWhile(_ != '.')
    val selfByLayer = spans.groupBy(layer).map { case (l, ss) =>
      s"self.${l}_ms_per_op" -> ratio(ss.map(self).sum, roots.size.toDouble)
    }

    // compared within each request name, since the traced and untraced
    // halves need not hold the same mix of requests
    def overhead(kind: String): Double = {
      val diffs = samples.filter(s => s.kind == kind && s.ok).groupBy(_.name).values.toSeq.flatMap { ss =>
        val (t, u) = ss.partition(_.traced)
        if (t.isEmpty || u.isEmpty) None
        else Some((Stats.median(t.map(_.ms)) - Stats.median(u.map(_.ms)), ss.size.toDouble))
      }
      ratio(diffs.map { case (d, n) => d * n }.sum, diffs.map(_._2).sum)
    }

    // one pair per operator family: the p50 of its span, and the Spark
    // jobs submitted inside each span
    val operators = byName.filter(_._1.startsWith("operators.")).toSeq.flatMap { case (n, ss) =>
      val jobs = ss.map { s =>
        val sp = spark.get(s.op).map(_.jobIntervals).getOrElse(Nil)
        sp.count { case (a, _) => a >= s.startNs / 1000000L && a <= s.endNs / 1000000L }.toDouble
      }
      Seq(s"${n}_s" -> Stats.median(ss.map(_.durNs / 1e9)), s"${n}_jobs" -> mean(jobs))
    }

    val timed = timedCalls.flatMap { n =>
      Seq(s"catalog.${n}_ms" -> p50("catalog." + n),
        s"catalog.${n}_calls" -> calls.getOrElse("catalog." + n, 0L).toDouble)
    }
    (timed ++ Seq(
      "catalog.currentRefs_per_commit" -> ratio(calls.getOrElse("catalog.currentRefs", 0L).toDouble, d.refsVersions.toDouble),
      "catalog.refs_versions_per_cycle" -> ratio(d.refsVersions.toDouble, writes),
      "catalog.meta_parse_count" -> ratio(d.metaParses.toDouble, ops),
      "catalog.meta_parse_ms" -> ratio(d.metaParseMs, ops),
      "catalog.meta_bytes_per_commit" -> ratio(d.metaBytes.toDouble, d.refsVersions.toDouble),
      "catalog.data_files_per_append" -> ratio(d.dataFiles.toDouble, appends.toDouble),
      "catalog.scan_ms" -> (if (scans.isEmpty) Double.NaN else Stats.median(scans.map(_.durNs / 1e6))),
      "catalog.files_planned_ratio" -> mean(lake.plannedRatios.asScala.map(_.doubleValue)),
      "catalog.tombstone_epochs" -> mean(lake.tombstonesSeen.asScala.map(_.doubleValue)),
      "catalog.compact_ms" -> p50("catalog.compactDataFiles"),
      "quality.audit_ms" -> p50("quality.audit"),
      "quality.rows_audited_per_batch_row" -> ratio(lake.rowsAudited.get().toDouble, lake.batchRowsAudited.get().toDouble),
      "sql.plan_ms" -> p50("sql.plan"),
      "sql.exec_ms" -> p50("sql.exec"),
      "spark.jobs_per_op" -> mean(opStats.map(_._2.jobs.toDouble)),
      "spark.job_wall_ms_per_op" -> mean(opStats.map(_._2.jobWallMs)),
      "spark.task_ms_per_op" -> mean(opStats.map(_._2.taskMs)),
      "spark.driver_gap_ms_per_op" -> mean(opStats.map(_._3)),
      "spark.slot_wait_ms_per_op" -> mean(opStats.map(_._2.slotWaitMs)),
      "spark.input_bytes_per_op" -> mean(opStats.map(_._2.inputBytes.toDouble)),
      "spark.output_bytes_per_op" -> mean(opStats.map(_._2.outputBytes.toDouble)),
      "trace.traced_ops" -> roots.size.toDouble,
      "trace.spans" -> spans.size.toDouble,
      "trace.write_overhead_ms" -> overhead("write"),
      "trace.read_overhead_ms" -> overhead("read")) ++ operators ++ selfByLayer).toMap
  }
}
