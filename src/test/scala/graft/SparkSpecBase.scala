package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, reused session). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** DuckDB available to the host python3? Driver-side tooling — never a
    * library dependency — so foreign-engine round-trip tests skip cleanly
    * where absent. ONE probe per JVM, shared by every suite (the
    * detection condition must not drift between them). */
  protected lazy val duckdbAvailable: Boolean = SparkSpecBase.duckdb

  override def afterAll(): Unit = {} // shared session — never stop it

  /** Spark jobs submitted while `body` runs on this thread. Job events
    * reach the status tracker asynchronously, so a control job is run
    * last in the same group: once it shows, every earlier one has. */
  protected def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "job count", interruptOnCancel = false)
    try {
      val r = body
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (sc.statusTracker.getJobIdsForGroup(group).isEmpty && System.nanoTime() < deadline)
        Thread.sleep(10)
      val seen = sc.statusTracker.getJobIdsForGroup(group).length
      assert(seen >= 1, "the control job never reached the status tracker")
      (r, seen - 1)
    } finally sc.clearJobGroup()
  }
}

object SparkSpecBase {
  lazy val duckdb: Boolean =
    scala.util.Try(scala.sys.process.Process(
      Seq("python3", "-c", "import duckdb")).! == 0).getOrElse(false)

  lazy val session: SparkSession = {
    val s = GraftSession.configure(
      SparkSession.builder().master("local[4]").appName("graft-test"),
      shufflePartitions = 4
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
