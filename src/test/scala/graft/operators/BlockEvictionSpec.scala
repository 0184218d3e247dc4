package graft.operators

import org.apache.spark.GraftChaosBridge
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.util.control.NonFatal

/** Chaos gate for the RDD-pinned intermediates (VERDICT r7 #3): the
  * recompute-after-eviction claims in PinSlot (the q19 pin) and
  * Relational's escalated-path vcRdd block were prose until this spec.
  * Two chaos flavors run against each pin MID-QUERY from a second
  * thread:
  *
  *  - TERMINAL: `RDD.unpersist(false)` — the pin is unregistered while
  *    consumers hold its plan; later reads must recompute STORAGE-FREE
  *    (an unpersisted RDD's storage level is NONE — nothing may
  *    re-register);
  *  - EXECUTOR-LOSS: `BlockManagerMaster.removeRdd` via
  *    GraftChaosBridge — blocks vanish but the persist registration
  *    stays, so reads recompute and may legitimately RE-persist; the
  *    owner's settle release must still leave zero registry entries.
  *
  * The contract under EVERY interleaving: results stay exactly equal
  * to the quiet-path oracle (the pins hold deterministic recomputes —
  * hash/range repartitions of deterministic maps — so block loss can
  * only cost time, never values), and after the settle release the
  * persistent-RDD registry returns to its pre-test state. At crawl
  * scale this is the executor-preemption story: a spot-instance loss
  * mid-join must never silently change the pair set.
  *
  * Determinism caveat the spec relies on: both pinned RDDs derive from
  * fixed-N hash/range repartitions over deterministic row transforms,
  * so a partial recompute re-produces identical partitions. An
  * order-dependent pin (e.g. one fed by a sample without a seed) would
  * fail this gate — which is the point.
  */
class BlockEvictionSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def persistedIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def newIdsSettled(before: Set[Int]): Set[Int] = {
    var left = persistedIds() -- before
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (left.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(100)
      left = persistedIds() -- before
    }
    left
  }

  /** Evict every pin that appears after `before`, continuously, until
    * stopped. `terminal` picks the unpersist flavor; the executor-loss
    * flavor re-removes blocks on every poll so a re-persisted read
    * loses them again.
    */
  private final class Chaos(before: Set[Int], terminal: Boolean) {
    @volatile private var stop = false
    @volatile var evictions = 0
    private val t = new Thread(() => {
      while (!stop) {
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!before.contains(id)) {
            try {
              if (terminal) rdd.unpersist(blocking = false)
              else GraftChaosBridge.removeRddBlocks(spark.sparkContext, id)
              evictions += 1
            } catch { case NonFatal(_) => () }
          }
        }
        Thread.sleep(2)
      }
    }, s"graft-chaos-${if (terminal) "terminal" else "blockloss"}")
    t.setDaemon(true)
    t.start()
    def shutdown(): Unit = { stop = true; t.join(10000) }
  }

  // ---- q19 distributed-path shingle pin --------------------------------

  private def corpus(n: Int): Seq[(String, Long, String)] =
    (0 until n).map { i =>
      val tail = f"t${i / 2}%03dx${if (i % 2 == 0) "a" else "b"}"
      ("web", i.toLong, s"BOILERPLT!$tail")
    }

  private def bruteJaccard(docs: Seq[(String, Long, String)], t: Double): Set[(Long, Long, Double)] = {
    val arr = docs.map { case (_, id, txt) =>
      (id, TextOps.shingleHashes(txt))
    }
    (for {
      i <- arr.indices.iterator
      j <- (i + 1) until arr.length
      jac = TextOps.exactJaccard(arr(i)._2, arr(j)._2)
      if jac >= t
    } yield (arr(i)._1, arr(j)._1, math.round(jac * 10000.0) / 10000.0)).toSet
  }

  private def pairRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("q19 distributed result stays exact while its shingle pin is evicted mid-query") {
    import spark.implicits._
    val docs = corpus(64)
    val expected = bruteJaccard(docs, 0.3)
    var sawEviction = false
    (0 until 6).foreach { round =>
      val before = persistedIds()
      val chaos = new Chaos(before, terminal = round % 2 == 0)
      try {
        val st = TextOps.q19StagesFromDocs(
          spark, docs.toDF("source", "doc_id", "text"), 0.3,
          hotGramDf = 8L, hotGramBlock = 8L)
        val rows = pairRows(st.distResult())
        assert(rows == expected,
          s"q19 diverged under ${if (round % 2 == 0) "terminal" else "block-loss"} chaos (round $round)")
      } finally {
        sawEviction ||= chaos.evictions > 0
        chaos.shutdown()
      }
      TextOps.releaseQ19Cache()
      val leaked = newIdsSettled(before)
      assert(leaked.isEmpty, s"stranded pins after chaos round $round: $leaked")
    }
    // the gate is vacuous if no eviction ever landed inside the window;
    // six rounds × a 2 ms poll over multi-job queries makes that
    // practically impossible — surface it rather than pass silently
    assert(sawEviction, "chaos thread never caught a live pin; gate did not exercise eviction")
  }

  test("q19 post-release re-execution recomputes storage-free and exact") {
    import spark.implicits._
    val docs = corpus(48)
    val st = TextOps.q19StagesFromDocs(
      spark, docs.toDF("source", "doc_id", "text"), 0.3,
      hotGramDf = 8L, hotGramBlock = 8L)
    val first = pairRows(st.distResult())
    assert(first == bruteJaccard(docs, 0.3))
    TextOps.releaseQ19Cache()
    val before = persistedIds()
    // the lazy plan still references the released RDD; re-collecting
    // must recompute with storage level NONE — never re-register
    val again = pairRows(st.distResult())
    assert(again == first, "post-release recompute changed the pair set")
    val reRegistered = persistedIds() -- before
    assert(reRegistered.isEmpty,
      s"terminal unpersist re-registered a pin on recompute: $reRegistered")
  }

  // ---- q32 range-partitioned prefix sum (pin-free) ----------------------

  private def writeLineitem(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(
        s"target/q32chaos-${java.util.UUID.randomUUID().toString.take(8)}"))
      .toAbsolutePath.toString
    val rnd = new scala.util.Random(4242)
    val flags = Array("A", "N", "R")
    val rows = (0 until 400).map { _ =>
      (flags(rnd.nextInt(3)), (rnd.nextInt(20000) + 1) / 4.0, (rnd.nextInt(50) + 1).toDouble)
    }
    rows.toDF("l_returnflag", "l_extendedprice", "l_quantity")
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("q32 escalated path stays exact under chaos and holds zero storage pins") {
    // r10: q32's value-counts pin is GONE by construction
    // (raw-row range shuffle; totals ride the offset broadcast), so the
    // old evict-the-pin race has nothing to catch. What remains worth
    // gating: the build+result sequence stays exact while the chaos
    // thread runs (it can still evict unrelated blocks / stress the
    // block manager), and the path registers NO persisted RDD at any
    // point — the strand class this spec exists for is now structurally
    // impossible rather than correctly-released.
    val dir = writeLineitem()
    try {
      val expected = Q32Oracle.percentiles(spark, dir)
      (0 until 6).foreach { round =>
        val before = persistedIds()
        val chaos = new Chaos(before, terminal = round % 2 == 0)
        try {
          assert(Q32Oracle.rows(Relational.q32Percentiles(spark, dir)) == expected,
            s"q32 escalated diverged under chaos (round $round)")
        } finally chaos.shutdown()
        val leaked = newIdsSettled(before)
        assert(leaked.isEmpty, s"q32 escalated registered a pin (round $round): $leaked")
      }
    } finally graft.TinyInputs.delete(dir)
  }

  // ---- trainer gram-count pin (VERDICT r8 #2) ----------------------------

  private def modelRows(df: org.apache.spark.sql.DataFrame): Set[(String, Int, String, Long, Long)] =
    df.collect().map(r =>
      (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4))).toSet

  test("trainer fractions stay exact while the gram-count pin is evicted mid-build") {
    // the one per-call RDD pin without mid-query eviction coverage until
    // this test: trainSparkFractions' countsRdd feeds five consumers
    // (broadcast-decision count, totals, uniAndWord, both lower joins) —
    // an eviction between any two must recompute the SAME counts (hash
    // agg of a deterministic flatMap; integer sums are partitioning-
    // invariant), never silently drop model rows
    import spark.implicits._
    val rng = new graft.train.FixtureCorpus.Rng(0x29c4a05L)
    def word(): String =
      (0 until (3 + rng.nextInt(5))).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    val vocab = Vector.fill(80)(word())
    val corpus = (0 until 240).map { i =>
      ("eng", (0 until 12).map(_ => vocab(rng.nextInt(vocab.length))).mkString(" "))
    }
    val corpusDf = corpus.toDF("lang", "line")
    val expected = modelRows(graft.train.Trainer.trainSparkFractions(spark, corpusDf))
    graft.train.Trainer.releaseTrainerCache()
    assert(expected.nonEmpty)
    var sawEviction = false
    (0 until 6).foreach { round =>
      val before = persistedIds()
      val chaos = new Chaos(before, terminal = round % 2 == 0)
      try {
        val got = modelRows(graft.train.Trainer.trainSparkFractions(spark, corpusDf))
        assert(got == expected,
          s"trainer diverged under ${if (round % 2 == 0) "terminal" else "block-loss"} chaos (round $round)")
      } finally {
        sawEviction ||= chaos.evictions > 0
        chaos.shutdown()
      }
      graft.train.Trainer.releaseTrainerCache()
      val leaked = newIdsSettled(before)
      assert(leaked.isEmpty, s"stranded trainer pins after chaos round $round: $leaked")
    }
    assert(sawEviction, "chaos thread never caught a live trainer pin; gate did not exercise eviction")
  }

  // ---- q39 star-forest pin (cluster resolution) --------------------------

  test("q39 components stay exact while iteration pins and the star pin are evicted") {
    // the connected-components loop persists THREE pin generations per
    // round (curr, largeStar, next) and hands the converged star forest
    // off lazily — chaos must never change a label: every transform in
    // the chain (min-reduce, hash-partitioned join, distinct) recomputes
    // identical contents, so eviction can only cost recompute time. The
    // chain shape forces ~8 alternation rounds = a long mid-query window.
    import spark.implicits._
    val edges = ((0L until 255L).map(i => (i, i + 1)) ++
      (for (i <- 300 until 310; j <- i + 1 until 310) yield (i.toLong, j.toLong))).toSeq
    val edgesDf = edges.toDF("u", "v")
    def labelsOf(): Map[Long, Long] =
      Clusters.connectedComponents(spark, edgesDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = labelsOf()
    Clusters.releaseQ39Cache()
    assert(expected.nonEmpty && expected.forall { case (n, l) => l == (if (n < 256) 0L else 300L) })
    var sawEviction = false
    (0 until 6).foreach { round =>
      val before = persistedIds()
      val chaos = new Chaos(before, terminal = round % 2 == 0)
      try {
        val got = labelsOf()
        assert(got == expected,
          s"q39 labels diverged under ${if (round % 2 == 0) "terminal" else "block-loss"} chaos (round $round)")
      } finally {
        sawEviction ||= chaos.evictions > 0
        chaos.shutdown()
      }
      Clusters.releaseQ39Cache()
      val leaked = newIdsSettled(before)
      assert(leaked.isEmpty, s"stranded q39 pins after chaos round $round: $leaked")
    }
    assert(sawEviction, "chaos thread never caught a live q39 pin; gate did not exercise eviction")
  }
}
