package graft.streaming

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.scalatest.funsuite.AnyFunSuite

/** `StreamingFilter.firstWithinHorizon`, the state step both streaming
  * operators share, on one key with hand-computed generations. Covers
  * the path the end-to-end horizon test in StreamingSpec cannot reach:
  * there Spark's no-data batch times the key out before the late copy
  * arrives, so a key that receives data past its horizon is never seen.
  */
class HorizonStepSpec extends AnyFunSuite {
  private val H = StreamingFilter.DedupHorizonMs

  /** generation's first row id + newest event time */
  private final case class Gen(first: String, newestMs: Long)

  private def state(prior: Option[Gen], watermarkMs: Long, timedOut: Boolean = false) =
    TestGroupState.create[Gen](
      prior.fold(Optional.empty[Gen]())(Optional.of(_)),
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(watermarkMs), timedOut)

  /** One step with StreamingFilter's emit: (row id, dup rank). */
  private def step(st: TestGroupState[Gen], rows: (Long, String)*): Seq[(String, Int)] =
    StreamingFilter.firstWithinHorizon(rows.iterator, st,
        (r: (Long, String)) => r, (g: Gen) => g.newestMs) { (buf, current, newest) =>
      val first = current.fold(buf.head._2)(_.first)
      (Gen(first, newest),
        buf.iterator.zipWithIndex.map { case (r, i) => (r._2, if (i == 0 && current.isEmpty) 1 else 2) })
    }.toSeq

  private def timeout(st: TestGroupState[Gen]): Long =
    st.getTimeoutTimestampMs.get

  test("a new key: the earliest arrival wins; state and timeout follow the newest row") {
    val st = state(None, 0L)
    assert(step(st, (5L, "b"), (3L, "c"), (3L, "a")) == Seq("a" -> 1, "c" -> 2, "b" -> 2))
    assert(st.get == Gen("a", 5L))
    assert(timeout(st) == 5L + H)
  }

  test("within the horizon the generation continues") {
    val st = state(Some(Gen("a", 100L)), 100L + H) // at the horizon, not past it
    assert(step(st, (100L + H + 10, "d")) == Seq("d" -> 2))
    assert(st.get == Gen("a", 100L + H + 10))
    assert(timeout(st) == 100L + 2 * H + 10)
  }

  test("a key that gets data past its horizon opens a new generation") {
    val st = state(Some(Gen("a", 100L)), 100L + H + 1)
    assert(step(st, (200L + H, "e"), (300L + H, "f")) == Seq("e" -> 1, "f" -> 2))
    assert(st.get == Gen("e", 300L + H))
  }

  test("very late data: the timeout is clamped above the watermark") {
    val st = state(None, 10 * H)
    assert(step(st, (5L, "x")) == Seq("x" -> 1))
    assert(timeout(st) == 10 * H + 1)
  }

  test("a timed-out key is removed and emits nothing; no rows leave the state alone") {
    val expired = state(Some(Gen("a", 100L)), 100L + H + 1, timedOut = true)
    assert(step(expired).isEmpty)
    assert(expired.isRemoved)
    val idle = state(Some(Gen("a", 100L)), 200L)
    assert(step(idle).isEmpty)
    assert(!idle.isUpdated && !idle.isRemoved && idle.get == Gen("a", 100L))
  }
}
