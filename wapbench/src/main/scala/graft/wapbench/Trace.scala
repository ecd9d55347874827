package graft.wapbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. Times are epoch nanoseconds, so spans line up with
  * the millisecond timestamps Spark puts on its job and task events. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. A client thread opens an operation with
  * [[Trace.op]]; when that operation is traced, every [[Trace.span]] on the
  * same thread records a span whose parent is the innermost open span.
  * Untraced operations pay one thread-local read per span site. Spans are
  * only written out when the run ends. */
object Trace {
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs(): Long = System.nanoTime() + epochOffsetNs

  /** Local property that tags every Spark job with the operation that
    * submitted it; [[SparkTrace]] reads it back from the job-start event. */
  val OpProperty = "wapbench.op"

  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()

  private final class Ctx(val op: Long, var stack: List[Long], var auditStartNs: Long)
  private val ctx = new ThreadLocal[Ctx]

  def active: Boolean = ctx.get != null

  /** Runs one client operation. When `traced`, it becomes the root span
    * `name` and its Spark jobs carry its id. */
  def op[T](sc: SparkContext, name: String, traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      val id = ids.incrementAndGet()
      val c = new Ctx(id, List(id), 0L)
      ctx.set(c)
      sc.setLocalProperty(OpProperty, id.toString)
      val t0 = nowNs()
      try body
      finally {
        spans.add(Span(id, 0L, id, name, t0, nowNs()))
        sc.setLocalProperty(OpProperty, null)
        ctx.remove()
      }
    }

  def span[T](name: String)(body: => T): T = {
    val c = ctx.get
    if (c == null) body
    else {
      val id = ids.incrementAndGet()
      val parent = c.stack.head
      c.stack = id :: c.stack
      val t0 = nowNs()
      try body
      finally {
        spans.add(Span(id, parent, c.op, name, t0, nowNs()))
        c.stack = c.stack.tail
      }
    }
  }

  /** Opens the audit interval: the audit runs between the return of the
    * delta scan and the start of the publish (merge) or the alert. */
  def auditStarts(): Unit = {
    val c = ctx.get
    if (c != null) c.auditStartNs = nowNs()
  }

  def auditEnds(): Unit = {
    val c = ctx.get
    if (c != null && c.auditStartNs != 0L) {
      spans.add(Span(ids.incrementAndGet(), c.stack.head, c.op, "quality.audit",
        c.auditStartNs, nowNs()))
      c.auditStartNs = 0L
    }
  }
}

/** What Spark did for one traced operation. */
final case class OpSpark(jobs: Int, jobWallMs: Double, taskMs: Double,
    slotWaitMs: Double, inputBytes: Long, outputBytes: Long,
    jobIntervals: Seq[(Long, Long)])

/** Listener that collects job and task events per operation. Jobs are
  * matched to operations through [[Trace.OpProperty]]; jobs without it
  * (warm-up, checks, untraced operations) are ignored. */
final class SparkTrace extends SparkListener {
  private final class Job(val op: Long, val submitMs: Long, val stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
    @volatile var firstLaunchMs: Long = Long.MaxValue
  }
  private final class Acc {
    var taskMs = 0L
    var inBytes = 0L
    var outBytes = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val perOp = new ConcurrentHashMap[Long, Acc]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpProperty)))
    op.foreach { id =>
      val j = new Job(id.toLong, e.time, e.stageIds)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized { j.firstLaunchMs = math.min(j.firstLaunchMs, e.taskInfo.launchTime) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val a = perOp.computeIfAbsent(j.op, _ => new Acc)
      a.synchronized {
        if (e.taskInfo != null) a.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          a.inBytes += m.inputMetrics.bytesRead
          a.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  /** Per-operation totals; call after the listener bus has drained. */
  def byOp(): Map[Long, OpSpark] = {
    val js = jobs.values.asScala.toSeq.filter(_.endMs >= 0L).groupBy(_.op)
    js.map { case (op, ops) =>
      val a = Option(perOp.get(op)).getOrElse(new Acc)
      val intervals = ops.map(j => (j.submitMs, j.endMs))
      val wait = ops.map(j =>
        if (j.firstLaunchMs == Long.MaxValue) 0L else math.max(0L, j.firstLaunchMs - j.submitMs)).sum
      op -> OpSpark(ops.size, Stats.unionMs(intervals), a.taskMs.toDouble, wait.toDouble,
        a.inBytes, a.outBytes, intervals)
    }
  }
}
