package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel

/** Session-keyed registry for persisted intermediate frames that more
  * than one pass of an operator (or the driver's repeated query runs)
  * reuses — the same weak-key lifecycle as [[PipelineQueries]]'s shingle
  * projection cache: entries die with their session, stopped sessions
  * are purged on access, and [[clear]] is the explicit unpersist seam
  * (Bench calls it between query families).
  *
  * Safe as a cache: every registered frame is a deterministic function
  * of its key (operator + dataset dir), so a hit can never observe a
  * different value than a rebuild.
  */
object SessionCaches {
  private val frames =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, DataFrame]]()

  /** Get-or-build the frame for `key`, persisted MEMORY_AND_DISK. The
    * first ACTION on the returned frame materializes the cache; later
    * plans over it read InMemoryRelation instead of recomputing. */
  def cached(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    frames.synchronized {
      val it = frames.entrySet().iterator()
      while (it.hasNext) if (it.next().getKey.sparkContext.isStopped) it.remove()
      frames.computeIfAbsent(spark, _ => scala.collection.mutable.Map.empty)
        .getOrElseUpdate(key, build.persist(StorageLevel.MEMORY_AND_DISK))
    }

  /** The checkpoint RDDs each session registered. Values hold RDDs, not
    * frames: a frame holds its session, and a value that reaches its own
    * weak key keeps the entry alive for good. */
  private val ckpts = new java.util.WeakHashMap[
    SparkSession, scala.collection.mutable.Buffer[org.apache.spark.rdd.RDD[_]]]()

  /** `df.localCheckpoint()` with its storage blocks REGISTERED for
    * release: a local checkpoint's blocks otherwise live until the RDD
    * is GC'd, so a long-lived session (Verify's 148 queries, repeated
    * check runs) accumulates executor storage. [[clear]] — which Bench
    * and Verify call at family boundaries — frees them deterministically.
    * Within one query run the frame behaves exactly like a plain
    * localCheckpoint. */
  def checkpointed(df: DataFrame): DataFrame = track(df.localCheckpoint())

  /** `.trackedLocalCheckpoint()` — chain-position drop-in for
    * `.localCheckpoint()` that registers the blocks for [[clear]]. */
  implicit class CheckpointOps(private val df: DataFrame) extends AnyVal {
    def trackedLocalCheckpoint(): DataFrame = checkpointed(df)
  }

  /** Register an ALREADY-checkpointed frame for release at [[clear]]. */
  def track(cp: DataFrame): DataFrame = {
    ckpts.synchronized {
      ckpts.computeIfAbsent(cp.sparkSession,
        _ => scala.collection.mutable.Buffer.empty) ++= Bridge.checkpointRdds(cp)
    }
    cp
  }

  /** Drop (and unpersist) every frame cached for `spark`, and release
    * every tracked checkpoint's blocks. */
  def clear(spark: SparkSession): Unit = {
    frames.synchronized {
      Option(frames.remove(spark)).foreach { per =>
        if (!spark.sparkContext.isStopped) per.values.foreach(_.unpersist(false))
      }
    }
    ckpts.synchronized {
      Option(ckpts.remove(spark)).foreach { per =>
        if (!spark.sparkContext.isStopped)
          try Bridge.releaseCheckpoint(per.toSeq)
          catch { case _: Exception => () }
      }
    }
  }
}
