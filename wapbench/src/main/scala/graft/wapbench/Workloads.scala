package graft.wapbench

import org.apache.spark.sql.SparkSession

/** One closed-loop client: `step(k, traced)` runs the client's k-th
  * round of requests and returns only when every reply is in. */
final case class Client(name: String, step: (Int, Boolean) => Unit)

/** A lake after set-up: its clients and its end-of-run verdicts. */
trait Prepared {
  def lake: Lake
  def clients: Seq[Client]
  /** Rows live on main across the lake's tables, as the inputs dictate. */
  def liveRows(): Long
  def finalChecks(): Unit
}

/** The benchmark's workloads. Each builds its inputs from the seed, sets up
  * a lake under `root` (set-up: input generation, table pre-population and
  * a warm-up pass of every request), and hands back closed-loop clients.
  * The sizes below are the workload definitions; changing them changes the
  * benchmark. */
object Workloads {
  val names: Seq[String] = Seq("wap_ingest", "lake_read", "mixed_contended")

  /** Whether a client's k-th round is traced in a traced run: every other
    * round, shifted by one on each pass over a rotation of `period`
    * rounds, so each request kind runs traced and untraced equally often
    * and the untraced half gives the overhead baseline. */
  def tracedStep(trace: Boolean, k: Int, period: Int): Boolean =
    trace && ((k % period) + (k / period)) % 2 == 0

  /** The rotation length of each client, for [[tracedStep]]. */
  def period(workload: String, client: String): Int = (workload, client) match {
    case ("lake_read", "reader") => 3
    case ("mixed_contended", "reader") => 5
    case _ => 1
  }

  def setup(name: String, spark: SparkSession, root: String, seed: Long, round: Int,
      trace: Boolean): Prepared = name match {
    case "wap_ingest" => wapIngest(spark, root, seed, round, trace)
    case "lake_read" => lakeRead(spark, root, seed, round, trace)
    case "mixed_contended" => mixedContended(spark, root, seed, round, trace)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Seconds spent in each set-up phase of the latest round. */
  val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  private def newLake(spark: SparkSession, root: String, round: Int, trace: Boolean): Lake =
    new Lake(spark, s"$root/lake", s"lake$round", trace)

  /** WAP input batches per workload; the writers cycle through them. */
  private val WapBatches = 10

  /** Warm-up requests per set-up round: three rounds of them bring the
    * JIT to the steady state the measured phase should see. */
  private val Warmup = 3

  /** Publishes batches `0 until appends` of the table's inputs straight to
    * main, `files` files per commit, and records the mid-history snapshot
    * for time travel. */
  private def history(t: AppendTable, appends: Int, files: Int): Unit = {
    val cat = t.lake.catalog
    cat.createTableIfNotExists(t.name, t.inputs.df(0).schema)
    phase("history")((0 until appends).foreach { i =>
      t.prepopulate(t.inputs, i, files)
      if (i == appends / 2 - 1) {
        t.midSnapshot = cat.snapshotIdOf(t.name).get
        t.midState = t.state
      }
    })
  }

  /** The reference workload: one writer runs WAP cycles back to back,
    * batches of about 5,000 rows into a table that starts empty (every
    * 10th batch is refused), and after each cycle checks main the way a
    * consumer would ([[AppendTable.publishCheck]]). History grows by one
    * commit per cycle. */
  def wapIngest(spark: SparkSession, root: String, seed: Long, round: Int, trace: Boolean): Prepared = {
    val lake = newLake(spark, root, round, trace)
    val in = phase("inputs")(Inputs.generate(spark, s"$root/in", seed, WapBatches, 5000L, 10))
    val t = new AppendTable(lake, "customers", in)
    val cycle = (k: Int) => k % WapBatches
    phase("warmup")((0 until Warmup).foreach { k =>
      t.wap(cycle(k), s"warm-$k")
      t.publishCheck()
    })
    new Prepared {
      val lake: Lake = t.lake
      val clients = Seq(Client("writer", (k, traced) => {
        lake.timed("write", "wap", "writer", traced)(t.wap(cycle(Warmup + k), s"ingest-$k"))
        lake.timed("read", "publish_check", "writer", traced)(t.publishCheck())
      }))
      def liveRows(): Long = t.state.rows
      def finalChecks(): Unit = t.finalChecks()
    }
  }

  /** Appends that build `lake_read`'s table, files per append and rows per
    * append: 16 commits of 3 files put 48 files and 16 manifests on main,
    * so the SQL aggregate and the dedup hand Spark more paths than its
    * 32-path parallel-listing threshold and pay for the distributed listing
    * job (time travel to mid-history reads 24 files, below it). An append
    * costs 0.15 s plus 0.03 s per file of set-up on 4 cores, and set-up
    * runs three times, so the history is 16 appends, not hundreds. */
  private val ReadHistory = 16
  private val ReadFilesPerAppend = 3
  private val ReadRowsPerAppend = 5000L

  /** Read-mostly: one client alternates a read of a fixed published table
    * (16 commits, 48 files, about 80,000 rows) with a WAP cycle of one of
    * the same input batches on a second table, so the read table never
    * changes and no read overlaps a write. The reads rotate through
    * [[AppendTable.reads]]: the audit scan plus the SQL aggregate, time
    * travel to mid-history, and the exact-dedup operator. */
  def lakeRead(spark: SparkSession, root: String, seed: Long, round: Int, trace: Boolean): Prepared = {
    val lake = newLake(spark, root, round, trace)
    val in = phase("inputs")(
      Inputs.generate(spark, s"$root/in", seed, ReadHistory, ReadRowsPerAppend, injectEvery = 0))
    val t = new AppendTable(lake, "customers", in)
    history(t, ReadHistory, ReadFilesPerAppend)
    t.distinctTexts = phase("history")(in.distinctTexts())
    val w = new AppendTable(lake, "arrivals", in)
    val reads = t.reads
    phase("warmup") {
      reads.foreach(_._2())
      w.wap(0, "warm")
    }
    new Prepared {
      val lake: Lake = t.lake
      val clients = Seq(Client("reader", (k, traced) => {
        val (name, read) = reads(k % reads.size)
        lake.timed("read", name, "reader", traced)(read())
        lake.timed("write", "wap", "reader", traced)(w.wap((1 + k) % ReadHistory, s"trickle-$k"))
      }))
      def liveRows(): Long = t.state.rows + w.state.rows
      def finalChecks(): Unit = { t.finalChecks(); w.finalChecks() }
    }
  }

  /** Writes beside reads on four driver threads: two WAP writers on their
    * own branches of one table, one audited merge-on-read CDC writer on a
    * second table (compacted every 8 batches, well under the 64-epoch
    * tombstone cap), and one reader rotating through the reads of the first
    * table one at a time, the merge-on-read reads of the second, and the
    * quality dashboard. */
  def mixedContended(spark: SparkSession, root: String, seed: Long, round: Int, trace: Boolean): Prepared = {
    val lake = newLake(spark, root, round, trace)
    val in = phase("inputs")(Inputs.generate(spark, s"$root/in-wap", seed, WapBatches, 2000L, 10))
    val a = new AppendTable(lake, "customers", in)
    val hist = 2
    history(a, hist, 17)
    val cdcIn = phase("inputs")(
      Inputs.generate(spark, s"$root/in-cdc", seed + 29L, WapBatches, 2000L, 10, keySpace = Some(8000)))
    val b = new CdcTable(lake, "accounts", cdcIn)
    val reads = IndexedSeq[(String, () => Unit)](
      "audit" -> (() => a.readAudit()),
      "sql" -> (() => a.readSql(exact = false)),
      "time_travel" -> (() => a.readTimeTravel()),
      "mor" -> (() => b.rotation()),
      "dashboard" -> (() => a.readDashboard(exact = false)))
    phase("warmup") {
      lake.catalog.createTableIfNotExists("accounts", cdcIn.df(0).schema)
      b.load(0)
      b.midSnapshot = lake.catalog.snapshotIdOf("accounts").get
      b.midRows = cdcIn.stats(0).rows
      a.wap(hist, "warm-a")
      b.upsert(1, "warm-q")
      b.compact()
      reads.foreach(_._2())
    }
    a.startRows = a.state.rows
    a.writers = 2
    new Prepared {
      val lake: Lake = a.lake
      private def writer(j: Int) = Client(s"writer-$j", (k, traced) =>
        lake.timed("write", "wap", s"writer-$j", traced)(
          a.wap(hist + 1 + (2 * k + j) % (WapBatches - hist - 1), s"w$j-$k")))
      val clients = Seq(
        writer(0), writer(1),
        Client("cdc", (k, traced) => {
          lake.timed("write", "cdc", "cdc", traced)(b.upsert(2 + k % (WapBatches - 2), s"cdc-q-$k"))
          if (k % 8 == 7) lake.timed("compact", "compact", "cdc", trace)(b.compact())
        }),
        Client("reader", (k, traced) => {
          val (name, read) = reads(k % reads.size)
          lake.timed("read", name, "reader", traced)(read())
        }))
      def liveRows(): Long = a.state.rows + b.liveRows()
      def finalChecks(): Unit = { a.finalChecks(); b.finalChecks() }
    }
  }
}
