package graft.wapbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.wap.BranchCatalog

/** Runs one workload once and writes its result as JSON.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <scratch dir> --out <result.json> [--spans <spans.jsonl>]
  * }}}
  *
  * Set-up runs [[SetupRounds]] times, each into a fresh lake, and the last
  * lake is measured; `setup_s` is session start plus the median round.
  * The measured phase runs every client of the workload for `--seconds`
  * (a request in flight at the deadline completes and counts), and on a
  * host too slow for that, until the writes and the reads each hold
  * [[Stats.TailSamples]] samples, so both have a tail; every client keeps
  * going until then, so no request runs with fewer clients beside it than
  * the workload defines. With
  * `--trace 1` every other request is traced and the result carries the
  * per-layer metrics; the spans go to `--spans`. */
object Main {
  val SetupRounds = 3

  private val jvmStartNs = System.nanoTime()
  private def progress(msg: String): Unit =
    System.err.println(f"[wapbench] ${(System.nanoTime() - jvmStartNs) / 1e9}%7.2f s  $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    progress("session started")
    val sentinelsStart = Sentinels.measure()
    progress("sentinels measured")
    val listener = new SparkTrace
    if (trace) spark.sparkContext.addSparkListener(listener)

    val rounds = (0 until SetupRounds).map { r =>
      val dir = s"$work/setup$r"
      Workloads.phases.clear()
      val s0 = System.nanoTime()
      val p = Workloads.setup(workload, spark, dir, seed, r, trace)
      val dt = (System.nanoTime() - s0) / 1e9
      if (r < SetupRounds - 1) deleteTree(Paths.get(dir))
      progress(f"set-up round $r: $dt%.2f s")
      (p, dt, Workloads.phases.toMap)
    }
    val prepared = rounds.last._1
    val lake = prepared.lake
    val setupS = sessionS + Stats.median(rounds.map(_._2))

    // ---- measured phase --------------------------------------------------
    val parse0 = (BranchCatalog.metaParseCount.get(), BranchCatalog.metaParseNanos.get())
    val refs0 = lake.catalog.currentRefs().version
    val usage0 = Lake.usage(lake.root)
    val calls0 = callCounts(lake)
    // every run starts measuring from a collected heap, whatever set-up left
    System.gc()
    val m0 = System.nanoTime()
    val deadline = m0 + (seconds * 1e9).toLong
    def enough(kind: String): Boolean =
      lake.samples.asScala.count(s => s.kind == kind && s.ok) >= Stats.TailSamples
    val threads = prepared.clients.map { c =>
      val period = Workloads.period(workload, c.name)
      val th = new Thread(() => {
        var k = 0
        while (System.nanoTime() < deadline || !(enough("write") && enough("read"))) {
          c.step(k, Workloads.tracedStep(trace, k, period))
          k += 1
        }
      }, c.name)
      th.start(); th
    }
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - m0) / 1e9
    val parse1 = (BranchCatalog.metaParseCount.get(), BranchCatalog.metaParseNanos.get())
    val refs1 = lake.catalog.currentRefs().version
    val usage1 = Lake.usage(lake.root)
    val calls1 = callCounts(lake)
    val heapMb = liveHeapMb()
    progress("measured phase done")

    // ---- checks ----------------------------------------------------------
    prepared.finalChecks()
    val fresh = new BranchCatalog(spark, lake.root)
    val injected = lake.injectedSeen.get()
    lake.checks.add(Check("final.alerts", lake.alerter.alerts.get() == injected,
      s"${lake.alerter.alerts.get()} alerts for $injected refused batches"))
    val unmerged = fresh.listBranches().count(_ != "main")
    lake.checks.add(Check("final.unmerged_branches", unmerged == injected,
      s"$unmerged branches besides main for $injected refused batches"))
    val liveRows = prepared.liveRows()
    progress("checks done")
    val sentinelsEnd = Sentinels.measure()

    // ---- metrics ---------------------------------------------------------
    val samples = lake.samples.asScala.toSeq
    val attempted = samples.size
    val failed = samples.count(!_.ok)
    def oks(kind: String): Seq[Sample] = samples.filter(s => s.kind == kind && s.ok)
    // a tail needs Stats.TailSamples samples; with fewer it is NaN, which
    // fails the run
    def side(kind: String, p50: String, tail: String): (Map[String, Double], Map[String, Any]) = {
      val xs = oks(kind).map(_.ms)
      val (tv, tp) = if (xs.size >= Stats.TailSamples) Stats.tail(xs) else (Double.NaN, Double.NaN)
      val m = Map(p50 -> (if (xs.nonEmpty) Stats.median(xs) else Double.NaN), tail -> tv)
      val byName = oks(kind).groupBy(_.name).map { case (n, ss) =>
        n -> Map("n" -> ss.size, "p50_ms" -> Stats.median(ss.map(_.ms)))
      }
      (m, Map("n" -> xs.size, "per_s" -> xs.size / wallS, "tail_percentile" -> tp, "by_request" -> byName))
    }
    val (wm, wd) = side("write", "write_p50_ms", "write_tail_ms")
    val (rm, rd) = side("read", "read_p50_ms", "read_tail_ms")
    val (dataB, metaB, _) = usage1
    // one throughput: on the single-client workloads every round is one
    // write plus its reads, so a reads-per-second figure is a fixed
    // multiple of this one (it stays in the result as reads.per_s)
    val e2e = Map("setup_s" -> setupS, "lake_bytes_per_row" -> (dataB + metaB).toDouble / liveRows,
      "heap_live_mb" -> heapMb, "writes_per_s" -> oks("write").size / wallS) ++ wm ++ rm

    val perLayer: Map[String, Double] =
      if (!trace) Map.empty
      else {
        org.apache.spark.wapbench.ListenerBus.drain(spark.sparkContext)
        Layers.compute(samples, Trace.spans.asScala.toSeq, listener.byOp(), lake,
          Layers.Deltas(calls1.map { case (k, v) => k -> (v - calls0.getOrElse(k, 0L)) },
            refs1 - refs0, parse1._1 - parse0._1, (parse1._2 - parse0._2) / 1e6,
            usage1._2 - usage0._2, usage1._3 - usage0._3))
      }
    opt.get("spans").filter(_ => trace).foreach { p =>
      val lines = Trace.spans.asScala.toSeq.sortBy(_.startNs).map(s => Stats.json(Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      Files.write(Paths.get(p), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    }

    val checks = lake.checks.asScala.toSeq
    val result = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "measured_s" -> wallS,
      "correct" -> checks.forall(_.ok), "attempted" -> attempted, "failed" -> failed,
      "failed_ratio" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted),
      "end_to_end" -> e2e, "per_layer" -> perLayer,
      "writes" -> wd, "reads" -> rd,
      "compactions" -> samples.count(_.kind == "compact"),
      "setup" -> Map("session_s" -> sessionS, "rounds_s" -> rounds.map(_._2),
        "phases_s" -> rounds.map(_._3)),
      "lake" -> Map("data_bytes" -> dataB, "meta_bytes" -> metaB, "live_rows" -> liveRows,
        "refs_versions" -> refs1, "refused_batches" -> injected),
      "sentinels" -> Map("start" -> sentinelsStart, "end" -> sentinelsEnd),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "requests" -> samples.sortBy(_.startNs).map(s => Seq(s.client, s.name,
        (s.startNs - m0) / 1e6, s.ms, s.ok, s.traced)))
    Files.write(Paths.get(opt("out")), Stats.json(result).getBytes(StandardCharsets.UTF_8))
    progress("result written")
    spark.stop()
    progress("session stopped")
  }

  private def callCounts(lake: Lake): Map[String, Long] = lake.catalog match {
    case t: TracedCatalog => Layers.catalogCalls.map(n => n -> t.count(n)).toMap
    case _ => Map.empty
  }

  /** Heap in use right after a forced full collection, read from each heap
    * pool's after-collection usage, so what other threads allocate between
    * the collection and the read does not count. */
  private def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
  }

  private def deleteTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}

/** Fixed-work host-contention sentinels, as in `graft.Bench`: one core,
  * all cores, and memory bandwidth. The work is constant, so a slow
  * sentinel marks a run whose host was busy. */
object Sentinels {
  private val Iters = 20000000L

  private def fold(seed: Long): Long = {
    var h = 0x811c9dc5L ^ seed
    var i = 0L
    while (i < Iters) { h = (h ^ i) * 0x100000001b3L; i += 1 }
    h
  }

  private def timedThreads(n: Int)(body: Int => Long): Double = {
    val t0 = System.nanoTime()
    val sink = new java.util.concurrent.atomic.AtomicLong(0L)
    val ts = (0 until n).map { c => val t = new Thread(() => { sink.addAndGet(body(c)); () }); t.start(); t }
    ts.foreach(_.join())
    if (sink.get() == 42L) System.err.println(sink.get())
    (System.nanoTime() - t0) / 1e9
  }

  private def sweep(a: Array[Long]): Long = {
    var s = 0L
    var r = 0
    while (r < 3) { var i = 0; while (i < a.length) { s += a(i); i += 16 }; r += 1 }
    s
  }

  /** Seconds for each sentinel (best of two after one warm-up). The sweep
    * arrays (32 MB per core) are allocated outside the timed region and
    * dropped afterwards, so they never count in the run's live heap. */
  def measure(): Map[String, Double] = {
    val cores = Runtime.getRuntime.availableProcessors()
    val arrays = Array.fill(cores)(Array.tabulate(4 * 1024 * 1024)(_.toLong))
    def best(f: => Double): Double = { f; math.min(f, f) }
    Map(
      "cpu_s" -> best(timedThreads(1)(fold(_))),
      "all_cores_s" -> best(timedThreads(cores)(fold(_))),
      "memory_s" -> best(timedThreads(cores)(c => sweep(arrays(c)))))
  }
}
