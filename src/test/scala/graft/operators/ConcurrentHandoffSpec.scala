package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Concurrent-call gate for the operators that pin intermediates
  * (q19's cross-call shingle-cache handoff; q32's prefix sum, which
  * once pinned its value-counts). The pins are PLAIN per-call-owned RDD persists,
  * never Dataset caches: a Dataset cache is keyed by canonicalized
  * plan, so concurrent SAME-INPUT calls share one CacheManager entry
  * and the first finisher's release strands a lazily re-persisted copy
  * no later unpersist can find — this gate caught exactly that. Any
  * interleaving of concurrent calls must (a) keep every call's result
  * exact — q19's sibling swap may release the cache a lazy plan was
  * built over, which is a recompute, never a value change — and
  * (b) strand nothing: q32 keeps ZERO cross-call state (no pin at
  * all), and q19's
  * getAndSet chain releases exactly what it replaced, so at most the
  * last swapped-in shingle cache survives until the settle release.
  * At crawl scale these operators run from long-lived multi-tenant
  * drivers (several jobs share one session); a stranded corpus-scale
  * cache is a slow executor-memory leak and a cross-call unpersist
  * crash kills an innocent query — nothing else in the suite drives
  * the operators from more than one thread.
  *
  * q32's futures deliberately REUSE input dirs (two calls per dir):
  * same-input calls are the shape whose plans canonicalize alike —
  * the one that exposed the Dataset-cache strand. q19's corpora stay
  * distinct per call so a divergence is attributable to its variant.
  */
class ConcurrentHandoffSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def persistedIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Cached-RDD ids added vs `before`, polled briefly: unpersist removes
    * the registry entry synchronously on the calling thread, but the
    * settle call's own unpersist may race this check by a beat.
    */
  private def newIdsSettled(before: Set[Int]): Set[Int] = {
    var left = persistedIds() -- before
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (left.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(100)
      left = persistedIds() -- before
    }
    left
  }

  private def withPool[A](n: Int)(body: ExecutionContext => A): A = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutor(pool))
    finally pool.shutdown()
  }

  // ---- q32: range-partitioned prefix sum -------------------------------

  private def writeLineitem(variant: Int): String = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(
        s"target/q32conc-$variant-${java.util.UUID.randomUUID().toString.take(8)}"))
      .toAbsolutePath.toString
    val rnd = new scala.util.Random(42 + variant)
    val flags = Array("A", "N", "R")
    val rows = (0 until 300).map { _ =>
      (flags(rnd.nextInt(3)), (rnd.nextInt(20000) + 1) / 4.0, (rnd.nextInt(50) + 1).toDouble)
    }
    rows.toDF("l_returnflag", "l_extendedprice", "l_quantity")
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("concurrent escalated q32 calls stay exact and strand no cache") {
    val dirs = (0 until 4).map(writeLineitem)
    try {
      // expected per dir from the driver-side brute force
      val expected = dirs.map(d => d -> Q32Oracle.percentiles(spark, d)).toMap
      val before = persistedIds()

      val got = withPool(4) { implicit ec =>
        val futs = (0 until 8).map { i =>
          val d = dirs(i % dirs.length)
          Future(d -> Q32Oracle.rows(Relational.q32Percentiles(spark, d)))
        }
        Await.result(Future.sequence(futs), 5.minutes)
      }
      got.foreach { case (d, rows) =>
        assert(rows == expected(d), s"concurrent escalated q32 diverged on $d")
      }

      // no settle call: q32 keeps ZERO cross-call state, so nothing may
      // remain persisted once the futures have all returned
      val leaked = newIdsSettled(before)
      assert(leaked.isEmpty, s"stranded q32 caches (RDD ids): $leaked")
    } finally dirs.foreach(graft.TinyInputs.delete)
  }

  // ---- q19: distributed-path shingle cache -----------------------------

  private def corpus(variant: Int): Seq[(String, Long, String)] = {
    val n = 48 + 4 * variant
    (0 until n).map { i =>
      val pair = i / 2
      // same planted-near-dup shape as JaccardSpec's boilerplate corpus;
      // the variant suffix keeps each thread's plan distinct
      val tail = f"v${variant}%dt${pair}%03dx${if (i % 2 == 0) "a" else "b"}"
      ("web", i.toLong, s"BOILERPLT!$tail")
    }
  }

  private def bruteJaccard(docs: Seq[(String, Long, String)], t: Double): Set[(Long, Long, Double)] = {
    val arr = docs.map { case (_, id, txt) =>
      (id, TextOps.shingleHashes(txt, TextOps.ShingleSize))
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

  test("concurrent distributed q19 calls stay exact and strand at most the settle cache") {
    import spark.implicits._
    val before = persistedIds()

    val got = withPool(3) { implicit ec =>
      val futs = (0 until 6).map { i =>
        val docs = corpus(i)
        Future {
          val st = TextOps.q19StagesFromDocs(
            spark, docs.toDF("source", "doc_id", "text"), 0.3,
            hotGramDf = 8L, hotGramBlock = 8L)
          (i, pairRows(st.distResult()))
        }
      }
      Await.result(Future.sequence(futs), 5.minutes)
    }
    got.foreach { case (i, rows) =>
      assert(rows == bruteJaccard(corpus(i), 0.3), s"concurrent distributed q19 diverged on variant $i")
    }

    // settle: one more distributed call swaps its own cache in (releasing
    // the race's survivor), then releases it via the registry — q19 keeps
    // no Nil-handoff path because a sequential caller's lazy result plan
    // still needs the last cache alive
    val st = TextOps.q19StagesFromDocs(
      spark, corpus(99).toDF("source", "doc_id", "text"), 0.3,
      hotGramDf = 8L, hotGramBlock = 8L)
    pairRows(st.distResult())
    TextOps.releaseQ19Cache()
    val leaked = newIdsSettled(before)
    assert(leaked.isEmpty, s"stranded q19 caches (RDD ids): $leaked")
  }

  // ---- q17: ContextCleaner-bounded verify broadcast ---------------------

  private def writeQ17Corpus(variant: Int): (String, Set[(Long, Long, Double)]) = {
    import spark.implicits._
    val rng = new graft.train.FixtureCorpus.Rng(0x17b0 + variant)
    def word(): String =
      (0 until 3 + rng.nextInt(6)).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    def doc(nWords: Int): String = (0 until nWords).map(_ => word()).mkString(" ")
    def mutate(base: String): String =
      base.split(" ").map(w => if (rng.nextInt(20) == 0) word() else w).mkString(" ")
    val buf = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    var id = 0L
    (0 until 20).foreach(_ => { buf += ((id, doc(1 + rng.nextInt(40)))); id += 1 })
    (2 to 4).foreach { k =>
      val base = doc(40 + rng.nextInt(30))
      (0 until k).foreach(_ => { buf += ((id, mutate(base))); id += 1 })
    }
    val dir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(
      s"target/q17conc-$variant-${java.util.UUID.randomUUID().toString.take(8)}"))
      .toAbsolutePath.toString
    buf.toSeq.toDF("doc_id", "text").repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val arr = buf.toSeq.map { case (i, t) => (i, TextOps.shingleHashes(t, TextOps.ShingleSize)) }
    val want = (for {
      i <- arr.indices.iterator
      j <- (i + 1) until arr.length
      jac = TextOps.exactJaccard(arr(i)._2, arr(j)._2)
      if jac >= 0.7
    } yield (arr(i)._1, arr(j)._1, math.round(jac * 10000.0) / 10000.0)).toSet
    (dir, want)
  }

  /** q17's broadcast-verify path deliberately does NOT destroy its
    * (pairs, shingle-map) broadcast — the returned plan is lazy, so the
    * broadcast's lifetime is delegated to the ContextCleaner
    * (TextOps q17 scaladoc). That prose becomes a gate here: under
    * concurrent same-input and distinct-input calls the results stay
    * exact, and once every result plan is dereferenced, a GC must
    * actually reap EVERY broadcast the calls created — the bounded-
    * lifetime claim a long-lived multi-tenant driver depends on (each
    * leaked verify broadcast pins up to ~128 MB of executor memory).
    */
  test("concurrent q17 calls stay exact and their verify broadcasts die with their plans") {
    val corpora = (0 until 3).map(writeQ17Corpus)
    try {
      val beforeBc = org.apache.spark.GraftChaosBridge
        .liveBroadcastIds(spark.sparkContext)

      // inner scope so no stack reference survives to pin a plan
      def runAll(): Unit = {
        val got = withPool(3) { implicit ec =>
          val futs = (0 until 6).map { i =>
            val (dir, want) = corpora(i % corpora.length)
            Future {
              val rows = TextOps.q17MinHashPairsImpl(spark, dir, 0.7, 4 << 20, 16L << 20)
                .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
              (dir, want, rows)
            }
          }
          Await.result(Future.sequence(futs), 5.minutes)
        }
        got.foreach { case (dir, want, rows) =>
          assert(rows == want, s"concurrent q17 diverged on $dir")
        }
      }
      runAll()

      // every broadcast born in the window must die once unreferenced:
      // poll with explicit GCs (the ContextCleaner triggers off weak
      // refs; its daemon processes the queue within a beat of the GC)
      var newBc = org.apache.spark.GraftChaosBridge
        .liveBroadcastIds(spark.sparkContext) -- beforeBc
      assert(newBc.nonEmpty, "q17 calls must have created verify broadcasts")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (newBc.nonEmpty && System.nanoTime() < deadline) {
        System.gc()
        Thread.sleep(250)
        newBc = org.apache.spark.GraftChaosBridge
          .liveBroadcastIds(spark.sparkContext) -- beforeBc
      }
      assert(newBc.isEmpty,
        s"verify broadcasts outlived their dereferenced plans (broadcast ids): $newBc")
    } finally corpora.foreach { case (dir, _) => graft.TinyInputs.delete(dir) }
  }

  // ---- q39: star-forest handoff pin -------------------------------------

  test("concurrent q39 component calls stay exact and strand at most the settle pin") {
    // q39 shares q19's handoff discipline and so its hazard: a sibling's
    // getAndSet swap may release the star pin a lazy result plan was
    // built over (→ storage-free recompute of the whole iteration chain,
    // never a value change), and same-graph calls canonicalize alike —
    // the Dataset-cache strand shape. Two futures per graph.
    import spark.implicits._
    def edges(variant: Int): Seq[(Long, Long)] = {
      val base = variant * 100000L
      ((0L until 120L).map(i => (base + i, base + i + 1)) ++
        (for (i <- 0 until 8; j <- i + 1 until 8) yield (base + 5000L + i, base + 5000L + j)))
    }
    def expectedOf(es: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((u, v) <- es; if u != v) {
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
      }
      es.iterator.flatMap { case (u, v) => Iterator(u, v) }
        .toSet[Long].iterator.map(n => n -> find(n)).toMap
    }
    val before = persistedIds()
    val got = withPool(4) { implicit ec =>
      val futs = (0 until 8).map { i =>
        val variant = i % 4
        Future {
          val labels = Clusters.connectedComponents(spark, edges(variant).toDF("u", "v"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          variant -> labels
        }
      }
      Await.result(Future.sequence(futs), 5.minutes)
    }
    got.foreach { case (variant, labels) =>
      assert(labels == expectedOf(edges(variant)), s"concurrent q39 diverged on variant $variant")
    }
    val live = persistedIds() -- before
    assert(live.size <= 1, s"more than the settle pin survived concurrent q39 calls: $live")
    Clusters.releaseQ39Cache()
    val leaked = newIdsSettled(before)
    assert(leaked.isEmpty, s"stranded q39 pins after settle release: $leaked")
  }
}
