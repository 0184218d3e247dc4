package graft.operators

import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.rdd.RDD

/** One operator's pin: a persisted intermediate RDD owned by one call and
  * released by the next. The operator's result plan is lazy and reads
  * the pin after the call returns, so the pin cannot be released on
  * return; instead each call [[swap]]s its pin in and the previous one is
  * unpersisted. At most one pin per slot lives in the JVM.
  *
  * The pin is a PLAIN RDD, never a Dataset cache: a Dataset cache is
  * keyed by canonicalized plan, shared across concurrent same-input
  * calls, and releasing it while a sibling's retained InMemoryTableScan
  * can still execute strands an unreachable rebuilt copy
  * (CachedRDDBuilder re-persists after clearCache; the CacheManager
  * entry is gone, so no later unpersist finds it — caught by
  * ConcurrentHandoffSpec). An RDD persist is per-call-owned and its
  * unpersist terminal: a post-release recompute runs storage-free
  * instead of re-registering.
  */
private[graft] final class PinSlot {
  private val current = new AtomicReference[RDD[_]](null)

  /** Make `r` the current pin and unpersist the one it replaces. */
  def swap(r: RDD[_]): Unit = {
    val prev = current.getAndSet(r)
    if (prev ne r) PinSlot.unpersistQuietly(prev)
  }

  /** Eager release (tests, dump-all settles); a sequential caller
    * normally leaves it to the next call's swap.
    */
  def release(): Unit = PinSlot.unpersistQuietly(current.getAndSet(null))

  /** Release `r` only if it is still the current pin — a concurrent
    * call's swap has already released it otherwise.
    */
  def releaseIfCurrent(r: RDD[_]): Unit =
    if (r != null && current.compareAndSet(r, null)) PinSlot.unpersistQuietly(r)
}

private[graft] object PinSlot {
  /** Best-effort unpersist: `r` may belong to a STOPPED context (test
    * teardown, driver restart) whose block manager refuses the call — the
    * live context owes nothing to those blocks.
    */
  def unpersistQuietly(r: RDD[_]): Unit =
    if (r != null) {
      try r.unpersist(false) catch { case scala.util.control.NonFatal(_) => () }
    }
}
