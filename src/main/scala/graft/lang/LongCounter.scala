package graft.lang

/** Open-addressing Long → count table, reused across documents: the
  * detector's per-size n-gram dedup (a key is new when its count becomes
  * 1; the reference dedups each size's n-grams across the whole text,
  * src/ngrams.rs:34-43) and the pipeline kernel's word frequency.
  *
  * Slots are epoch-tagged: clear() bumps the epoch instead of zeroing the
  * (possibly grown) arrays, which cost more than the probes on short
  * texts. The epoch wraps at Int.MaxValue; the table grows at half load.
  */
private[graft] final class LongCounter(initialCap: Int) {
  private var cap = Integer.highestOneBit(math.max(16, initialCap) * 2)
  private var keys = new Array[Long](cap)
  private var counts = new Array[Int](cap)
  private var epochs = new Array[Int](cap)
  private var epoch = 1
  private var n = 0

  @inline private def slot(key: Long): Int = NgramHash.mix(key).toInt & (cap - 1)

  /** Counts one occurrence of `key`; returns its count since clear(). */
  def increment(key: Long): Int = {
    var i = slot(key)
    while (epochs(i) == epoch) {
      if (keys(i) == key) { counts(i) += 1; return counts(i) }
      i = (i + 1) & (cap - 1)
    }
    keys(i) = key; counts(i) = 1; epochs(i) = epoch
    n += 1
    if (n * 2 > cap) grow()
    1
  }

  def clear(): Unit = {
    n = 0
    if (epoch == Int.MaxValue) { java.util.Arrays.fill(epochs, 0); epoch = 1 }
    else epoch += 1
  }

  private def grow(): Unit = {
    val ok = keys; val oc = counts; val oe = epochs
    cap <<= 1
    keys = new Array[Long](cap); counts = new Array[Int](cap); epochs = new Array[Int](cap)
    var i = 0
    while (i < ok.length) {
      if (oe(i) == epoch) {
        var j = slot(ok(i))
        while (epochs(j) == epoch) j = (j + 1) & (cap - 1)
        keys(j) = ok(i); counts(j) = oc(i); epochs(j) = epoch
      }
      i += 1
    }
  }
}
