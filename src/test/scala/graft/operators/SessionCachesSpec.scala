package graft.operators

import java.lang.ref.WeakReference

import org.apache.spark.sql.SparkSession

import graft.SparkSpecBase

class SessionCachesSpec extends SparkSpecBase {

  /** A child session that registers one tracked checkpoint, handed back
    * only through a weak reference. Its plans hold no exchange: adaptive
    * execution's stage threads inherit the active session through an
    * inheritable thread-local and hold it until they idle out. */
  private def droppedSession(): WeakReference[SparkSession] = {
    import SessionCaches.CheckpointOps
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    assert(s.range(10).toDF().trackedLocalCheckpoint().collect().length == 10)
    new WeakReference(s)
  }

  test("a dropped session's tracked checkpoints do not keep it reachable") {
    val ref = droppedSession()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (ref.get() != null && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(50)
    }
    assert(ref.get() == null, "the checkpoint registry keeps a dropped session alive")
  }
}
