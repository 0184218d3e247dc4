package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** q39 cluster resolution: the alternating large-star/small-star
  * components (Clusters.connectedComponents) must equal a driver
  * union-find on every graph shape — the DuckDB recursive-CTE oracle
  * covers the corpus path, this spec covers seeded hostile shapes the
  * corpus never produces (long chains that force multiple alternation
  * rounds, stars, sibling merges, extreme Long ids) plus the per-call
  * pin discipline.
  */
class ClustersSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Driver union-find: (node -> min reachable node) for every node
    * incident to an edge. Path-compressed, driver-scale, test-only.
    */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    for ((u, v) <- edges; if u != v) {
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { // union by MIN so the root IS the component min
        if (ru < rv) parent(rv) = ru else parent(ru) = rv
      }
      parent.getOrElseUpdate(u, find(u)); parent.getOrElseUpdate(v, find(v))
    }
    // self-loops carry no connectivity: the operator drops them, so a
    // node incident ONLY to a self-loop is a singleton (caller's join)
    val nodes = edges.iterator.filter(e => e._1 != e._2)
      .flatMap { case (u, v) => Iterator(u, v) }.toSet
    nodes.iterator.map(n => n -> find(n)).toMap
  }

  private def ccLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val df = edges.toDF("u", "v")
    Clusters.connectedComponents(spark, df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("connected components equal union-find on seeded hostile graph shapes") {
    val shapes: Seq[(String, Seq[(Long, Long)])] = Seq(
      "empty" -> Seq.empty,
      "one edge" -> Seq((5L, 3L)),
      "self loops only" -> Seq((7L, 7L)),
      // a long chain is the alternation's worst case (label propagation
      // would need diameter rounds; the stars must do it in O(log^2 n))
      "chain 256" -> (0L until 255L).map(i => (i, i + 1)),
      "reversed chain" -> (255L until 0L by -1).map(i => (i, i - 1)),
      "star hub max-id" -> (0L until 64L).map(i => (1000L, i)),
      "star hub min-id" -> (1L to 64L).map(i => (0L, i)),
      "two cliques + bridge" ->
        ((for (i <- 0 until 6; j <- i + 1 until 6) yield (i.toLong, j.toLong)) ++
         (for (i <- 10 until 16; j <- i + 1 until 16) yield (i.toLong, j.toLong)) ++
         Seq((5L, 10L))),
      "extreme ids" -> Seq(
        (Long.MinValue, 0L), (0L, Long.MaxValue), (-1L, 1L),
        (Long.MaxValue - 1, Long.MaxValue), (Long.MinValue + 1, -999999999999L))
    )
    for ((name, edges) <- shapes) {
      val want = unionFind(edges)
      val got = ccLabels(edges)
      assert(got == want, s"[$name] labels diverged: " +
        s"extra=${got.toSet diff want.toSet} missing=${want.toSet diff got.toSet}")
      assert(Clusters.lastRounds.get <= 20,
        s"[$name] alternation took ${Clusters.lastRounds.get} rounds")
      println(s"CLUSTERS [$name] rounds=${Clusters.lastRounds.get} nodes=${want.size}")
    }
  }

  test("connected components equal union-find on seeded random graphs") {
    for (seed <- Seq(11, 12, 13, 14)) {
      val rnd = new scala.util.Random(seed)
      val n = 400
      // sparse random graph: ~n*0.7 edges over sparse ids -> many small
      // components of varied shape, some merged late
      val edges = Seq.fill((n * 0.7).toInt) {
        (rnd.nextInt(n).toLong * 1000003L, rnd.nextInt(n).toLong * 1000003L)
      }
      val want = unionFind(edges)
      val got = ccLabels(edges)
      assert(got == want, s"[seed $seed] labels diverged")
    }
  }

  test("q39 over the fixture corpus: q17 components + singletons, keep = canonical") {
    val sf = "/root/testdata/sf0.001"
    val pairs = TextOps.q17MinHashPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val labels = unionFind(pairs)
    val docs = Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0))
    val want = docs.map { id =>
      val cid = labels.getOrElse(id, id)
      (id, cid, id == cid)
    }.toSet
    assert(pairs.nonEmpty, "fixture corpus must have near-dup pairs (vacuous otherwise)")
    val got = Clusters.q39NearDupClusters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == want, s"q39 diverged: extra=${got diff want} missing=${want diff got}")
    // exactly one keep=true row per distinct cluster (incl. singletons)
    val keeps = got.count(_._3)
    val clusters = got.map(_._2).toSet.size
    assert(keeps == clusters, s"keep rows ($keeps) != distinct clusters ($clusters)")
  }

  test("components compose with embedding near-dup pairs (operator-agnostic core)") {
    // connectedComponents is pair-source-agnostic: the same resolution
    // applies to Similarity.cosineNearDupPairs output (embedding-space
    // near-dups), not just q17's text-space pairs. Planted fixture =
    // SimilaritySpec's (20 noisy near-copies over 300 vectors).
    import spark.implicits._
    val rng = new graft.train.FixtureCorpus.Rng(0xced0c5L)
    def vec(): Array[Float] =
      Array.fill(64)((rng.nextLong() >>> 40).toFloat / (1L << 24) - 0.5f)
    val base = (0L until 300L).map(i => (i, vec()))
    val dups = (0 until 20).map { j =>
      val (srcId, v) = base(j * 7)
      val noisy = v.map(x => x + ((rng.nextLong() >>> 40).toFloat / (1L << 24) - 0.5f) * 0.02f)
      (1000L + srcId, noisy)
    }
    val emb = spark.createDataset(base ++ dups)
    val pairs = Similarity.cosineNearDupPairs(spark, emb, threshold = 0.95)
      .select($"doc_a".as("u"), $"doc_b".as("v"))
    val collected = pairs.as[(Long, Long)].collect().toSeq
    val want = unionFind(collected)
    val got = Clusters.connectedComponents(spark, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(want.nonEmpty && got == want,
      s"embedding-pair components diverged: extra=${got.toSet diff want.toSet}")
    // each planted copy clusters with (at least) its source, labeled by it
    assert((0 until 20).forall(j => got.get(1000L + j * 7).contains(got.getOrElse(j * 7L, j * 7L))),
      s"planted copies must share their source's cluster")
  }

  test("q40 keeps the longest member per cluster, doc_id tiebreak, q15 word-count semantics") {
    val sf = "/root/testdata/sf0.001"
    // driver recompute: q15's word count is split-on-single-space with
    // empties KEPT (java split limit -1, matching Spark SQL's split)
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), Option(r.getString(1))))
    val wcOf = docs.map { case (id, t) =>
      id -> t.map(_.split(" ", -1).length.toLong)
    }.toMap
    val pairs = TextOps.q17MinHashPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val labels = unionFind(pairs)
    val byCluster = docs.map(_._1).groupBy(id => labels.getOrElse(id, id))
    val winners = byCluster.map { case (cid, ids) =>
      cid -> ids.minBy(id => (wcOf(id).map(-_).getOrElse(Long.MaxValue), id))
    }
    val want: Set[(Long, Long, Option[Long], Boolean)] = docs.map { case (id, _) =>
      val cid = labels.getOrElse(id, id)
      (id, cid, wcOf(id), winners(cid) == id)
    }.toSet
    assert(byCluster.exists(_._2.length > 1), "fixture needs a multi-doc cluster (vacuous otherwise)")
    val got = Clusters.q40CanonicalKeep(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3))).toSet
    assert(got == want,
      s"q40 diverged: extra=${(got diff want).take(5)} missing=${(want diff got).take(5)}")
  }

  test("each alternation round runs four shuffle map stages: two sorted star passes, distinct, star check") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart, SparkListenerStageSubmitted}
    // per job, in job order: shuffle map stages actually submitted (a
    // stage whose output already exists is skipped, not submitted). A
    // job's result stage is created after its parents, so it has the
    // job's largest stage id; every other stage is a shuffle map stage.
    val jobOfMapStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val mapStages = new java.util.concurrent.ConcurrentSkipListMap[Int, Int]()
    val ended = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        mapStages.put(e.jobId, 0)
        e.stageIds.filter(_ != e.stageIds.max).foreach(s => jobOfMapStage.put(s, e.jobId))
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(jobOfMapStage.get(e.stageInfo.stageId))
          .foreach(j => mapStages.merge(j, 1, _ + _))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
    }
    // four disjoint 64-node chains: a fixed multi-round graph
    val edges = for (c <- 0L until 4L; i <- 0L until 63L) yield (c * 64 + i, c * 64 + i + 1)
    val df = edges.toDF("u", "v")
    spark.sparkContext.addSparkListener(listener)
    val rounds = try {
      Clusters.connectedComponents(spark, df)
      val r = Clusters.lastRounds.get
      // jobs: the sizing count, the first star check, then one per round
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (ended.get < r + 2 && System.nanoTime() < deadline) Thread.sleep(20)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val perRound = mapStages.values.asScala.toSeq.takeRight(rounds)
    println(s"CLUSTERS shuffle map stages per round: ${perRound.mkString(",")} (rounds=$rounds)")
    assert(rounds > 1, s"the chains must force several rounds, got $rounds")
    assert(ended.get == rounds + 2, s"expected ${rounds + 2} jobs, saw ${ended.get}")
    assert(perRound.forall(_ == 4), s"shuffle map stages per round: $perRound")
  }

  test("per-call pin discipline: one live handoff pin, settles to zero on release") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val edges = (0L until 100L).map(i => (i, i + 1))
    val a = Clusters.connectedComponents(spark, edges.toDF("u", "v"))
    a.count() // consume the lazy plan while pinned
    val b = Clusters.connectedComponents(spark, edges.toDF("u", "v"))
    b.count()
    val live = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(live.size <= 1, s"q39 stranded pins across calls: $live")
    Clusters.releaseQ39Cache()
    var left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (left.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(100)
      left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    }
    assert(left.isEmpty, s"q39 pin did not settle after release: $left")
    // released pin: the lazy plan still computes (storage-free recompute)
    assert(b.count() == a.count())
  }
}
