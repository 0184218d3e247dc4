package graft.lang

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** LongCounter (the detector's per-size n-gram seen-set and the pipeline
  * kernel's word frequency) against a HashMap: counts since the last
  * clear(), through growth and epoch bumps.
  */
class LongCounterSpec extends AnyFunSuite {

  // keys whose mixed hashes share their low 10 bits: they collide on the
  // home slot in every table of up to 1024 slots, so they probe in chains
  private val collidingKeys: Seq[Long] =
    Iterator.from(1).map(_.toLong).filter(k => (NgramHash.mix(k) & 1023L) == 0L).take(24).toSeq

  test("counts equal a HashMap's across growth and several clear() calls") {
    val rnd = new scala.util.Random(20261017L)
    val special = Seq(0L, Long.MinValue, Long.MaxValue, -1L, NgramHash.ZeroRemap)
    val lowBitTwins = (0 until 32).map(i => i.toLong << 40) // equal low 40 bits
    val c = new LongCounter(16) // 32 slots: every round grows past them
    (1 to 6).foreach { round =>
      c.clear()
      val ref = mutable.HashMap.empty[Long, Int]
      val pool = (special ++ lowBitTwins ++ collidingKeys ++
        Seq.fill(50 * round * round)(rnd.nextLong())).toIndexedSeq
      (0 until pool.size * 3).foreach { _ =>
        val k = pool(rnd.nextInt(pool.size))
        val want = ref.getOrElse(k, 0) + 1
        ref(k) = want
        assert(c.increment(k) == want, s"round $round key $k")
      }
      // every key seen this round is counted; one new increment adds one
      ref.foreach { case (k, n) => assert(c.increment(k) == n + 1, s"round $round key $k") }
    }
  }

  test("an epoch wrap at Int.MaxValue forgets every earlier key") {
    val c = new LongCounter(16)
    collidingKeys.foreach(c.increment)
    // jump to the last epoch instead of clearing 2^31 times
    val f = classOf[LongCounter].getDeclaredField("epoch")
    f.setAccessible(true)
    f.setInt(c, Int.MaxValue - 1)
    c.clear() // → Int.MaxValue
    assert(c.increment(7L) == 1)
    c.clear() // wraps to epoch 1, the epoch the colliding keys were counted in
    collidingKeys.foreach(k => assert(c.increment(k) == 1, s"key $k"))
    assert(c.increment(7L) == 1)
  }
}
