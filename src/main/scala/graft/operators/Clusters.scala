package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Near-duplicate CLUSTER RESOLUTION — the pairs → clusters → keep-one
  * stage a web-scale dedup pipeline runs after MinHash pair generation
  * (q17). The pair set is a graph; transitive closure decides what
  * "the same document" means (A≈B, B≈C ⇒ {A,B,C} is one cluster even
  * when A≉C directly), and one canonical representative per cluster
  * survives.
  *
  * No reference analog (langram is a single-process detector); the
  * algorithm is the alternating large-star / small-star connected
  * components of Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
  * "Connected Components in MapReduce and Beyond" (ACM SoCC 2014):
  * O(log² n) rounds, each round two key-partitioned shuffles bounded by
  * the CURRENT edge count (which never grows), no driver-side graph
  * state — the 100 TB shape, unlike label propagation whose round count
  * is the graph diameter (adversarial near-dup chains make that O(n)).
  *
  * Scale notes:
  *  - the shuffled payload is (Long, Long) edges only, never text;
  *  - edge count starts at |q17 pairs| (dup-pair bounded, NOT corpus
  *    bounded) and only shrinks toward one edge per clustered doc;
  *  - high-degree hubs (a million-copy boilerplate page) are exactly
  *    what large-star handles: each round re-points a hub's larger
  *    neighbors at the hub's min, so no reducer ever re-materializes a
  *    whole component as one group;
  *  - per-iteration state is a per-call-owned RDD pin (MEMORY_AND_DISK),
  *    previous iteration released as soon as the next is materialized —
  *    the q19 pin discipline (PinSlot scaladoc).
  */
object Clusters {

  /** Per-doc cluster assignment over the q17 near-dup pair graph:
    * (doc_id, cluster_id, keep) for EVERY document — cluster_id = min
    * doc_id reachable through pairs with jaccard ≥ threshold, keep =
    * (doc_id == cluster_id), so filtering keep=true is the dedup'd
    * corpus. Docs with no near-dup pair are singleton clusters
    * (cluster_id = own doc_id, keep = true).
    */
  def q39NearDupClusters(
      spark: SparkSession, sfDir: String, threshold: Double = 0.7): DataFrame =
    clusterLabels(spark, sfDir, threshold,
      derived = cid => Seq((col("doc_id") === cid).as("keep")))

  /** Quality-aware canonical selection over the q39 clusters: real
    * pipelines keep the BEST member of a near-dup cluster (the longest
    * variant of a boilerplate-templated page), not the smallest id.
    * keep = the cluster member with the highest word count (q15's
    * word-count definition), doc_id ascending as the tiebreak. One
    * row_number window keyed by cluster_id — a single shuffle whose
    * per-task sort is partition-wide (spill-safe), with the per-group
    * cost bounded by the largest cluster (dup-rate-, not corpus-,
    * bounded). A null-text singleton keeps itself (rank 1 of 1).
    *
    * The word count rides the SAME documents scan + left label join
    * that assigns cluster ids (the q39 label-attach shape with one
    * extra projected column) rather than a second documents scan
    * joined back on doc_id: doc_id is the table key, so attaching wc
    * via a second inner self-join is row-for-row the one-pass
    * projection — one full corpus scan and one corpus-sized join
    * where there were two of each.
    */
  def q40CanonicalKeep(
      spark: SparkSession, sfDir: String, threshold: Double = 0.7): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("word_count").desc_nulls_last, col("doc_id").asc)
    clusterLabels(spark, sfDir, threshold,
        docCols = Seq(size(split(col("text"), " ")).cast("long").as("word_count")))
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), col("word_count"),
        (col("rk") === 1).as("keep"))
  }

  /** (doc_id, cluster_id, docCols..., derived...) for EVERY document:
    * q17 near-dup pairs → connected components → left join onto the
    * documents scan, cluster_id = the component label, or the doc's own
    * id when it has no pair. `docCols` are projected off the SAME
    * documents scan, so per-doc attributes cost no second scan or join.
    * `derived` columns are built from the cluster-id expression inside
    * the same projection: Catalyst will not collapse a later projection
    * that references the (non-cheap) coalesce twice, so deriving them
    * afterwards would add a Project to the plan.
    */
  private def clusterLabels(
      spark: SparkSession, sfDir: String, threshold: Double,
      docCols: Seq[Column] = Nil,
      derived: Column => Seq[Column] = _ => Nil): DataFrame = {
    val pairs = TextOps.q17MinHashPairs(spark, sfDir, threshold)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    val labels = connectedComponents(spark, pairs)
    val docs = Tables.documents(spark, sfDir).select(col("doc_id") +: docCols: _*)
    val cid = coalesce(col("cid"), col("doc_id"))
    docs
      .join(
        labels.select(col("node").as("doc_id"), col("label").as("cid")),
        Seq("doc_id"), "left")
      .select(Seq(col("doc_id"), cid.as("cluster_id")) ++
        docs.columns.toSeq.tail.map(col) ++ derived(cid): _*)
  }

  /** q39's converged star-forest pin (see [[PinSlot]]): a post-release
    * recompute re-runs the iteration chain storage-free — correct, just
    * unpinned.
    */
  private val q39Pin = new PinSlot

  private[graft] def releaseQ39Cache(): Unit = q39Pin.release()

  /** Upper bound on alternation rounds before declaring non-convergence.
    * The paper's bound is O(log² n) — low single digits in practice
    * ([[lastRounds]] reports each call's count) — so 64 is a pure
    * infinite-loop backstop, not a tuning knob.
    */
  private[graft] final val MaxRounds = 64

  /** Alternation rounds of the last connectedComponents call (test/probe
    * observability, the lastQ17AutoEstimates pattern). */
  private[graft] val lastRounds = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Target edge count per round-shuffle partition: the alternation's
    * per-round shuffles are sized from the LIVE edge count, not the
    * session's shuffle-partition constant (guide §2 scale-adaptive
    * partitioning). A task comfortably handles 64k (Long, Long) edges;
    * a 25-edge sf0.1 pair graph previously paid ~15 fixed-32-task
    * shuffle stages of pure scheduler overhead per call (measured
    * ~1.3 s of q39's 2.6 s), while at real dup rates the ratio drives
    * the count straight back to the session constant.
    */
  private[graft] final val EdgesPerRoundPartition = 1L << 16

  /** Connected components over an undirected edge list (columns u, v:
    * castable to long): returns (node, label) for every node incident to
    * an edge, label = min node id of its component (component minima get
    * a self row). Alternating large-star / small-star; the loop exit
    * condition IS the postcondition — the edge set is a star forest
    * (every leaf has exactly one center and no center is a leaf), checked
    * distributedly each round, so a converged result is structurally
    * proven, not assumed. Both operators preserve the component
    * partition (each emitted edge connects two nodes already connected,
    * and every incident node stays incident), so the stars are exactly
    * the components of the INPUT graph; ClustersSpec gates this against
    * a driver union-find on seeded hostile shapes.
    */
  def connectedComponents(spark: SparkSession, edgesDf: DataFrame): DataFrame = {
    val nParts = spark.sessionState.conf.numShufflePartitions

    // canonical directed form (hi → lo); both star operators re-emit in
    // this form, so orientation is an invariant of the loop. The distinct
    // runs at the session's full width — it is the corpus-sized pass.
    val raw = edgesDf
      .select(col("u").cast("long"), col("v").cast("long"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .rdd
      .map { r => val u = r.getLong(0); val v = r.getLong(1); if (u > v) (u, v) else (v, u) }
      .distinct(nParts)

    var curr = raw.persist(StorageLevel.MEMORY_AND_DISK)
    var rounds = 0
    // per-round handles tracked outside the loop so the catch can release
    // a mid-round pin (ADVICE r9: a throw between the ls persist and the
    // next-swap stranded ls/next until ContextCleaner GC)
    var ls: RDD[(Long, Long)] = null
    var next: RDD[(Long, Long)] = null
    var roundParts = nParts
    try {
      // the count materializes the pin AND sizes the round partitioner:
      // edge count never grows across rounds, so one sizing read is an
      // upper bound for every round's shuffle (the r10 trade: one extra
      // driver job per call — a cheap pass over the pinned edges — buys
      // every round stage a partition count proportional to the data)
      val edgeCount = curr.count()
      roundParts = math.min(nParts.toLong,
        edgeCount / EdgesPerRoundPartition + 1L).toInt
      val part = new HashPartitioner(roundParts)
      var converged = isStarForest(curr, part)
      while (!converged) {
        rounds += 1
        require(rounds <= MaxRounds,
          s"connectedComponents: no convergence after $MaxRounds alternation rounds")
        ls = largeStar(curr, part).persist(StorageLevel.MEMORY_AND_DISK)
        next = smallStar(ls, part).persist(StorageLevel.MEMORY_AND_DISK)
        // ONE driver job per alternation round (the q30 job-folding
        // lesson): the count-based star check both decides convergence
        // AND materializes next's pin (its flatMap consumes every
        // partition) — the intermediate large-star pin is released only
        // after the check has run (small-star reads it twice inside that
        // single job)
        converged = isStarForest(next, part)
        ls.unpersist(false)
        ls = null
        val prev = curr
        curr = next
        next = null
        prev.unpersist(false)
      }
      lastRounds.set(rounds)
    } catch {
      case t: Throwable =>
        Seq(curr, ls, next).foreach(PinSlot.unpersistQuietly)
        throw t
    }

    // handoff: the converged star pin backs the lazy result plan; the
    // next q39 call's swap (or an eager release) retires it
    q39Pin.swap(curr)

    val pinned = curr
    // the centers distinct is bounded by the (converged) edge count, so it
    // rides the same edge-proportional partition count as the rounds
    val labels = pinned.union(pinned.map(_._2).distinct(roundParts).map(c => (c, c)))
    import spark.implicits._
    labels.toDF("node", "label")
  }

  /** Large-star: every node re-points its LARGER neighbors at the
    * minimum of its closed neighborhood. One edge emitted per input
    * undirected edge (from its smaller endpoint's group), always
    * (bigger, smaller) — hub groups shrink because the hub's leaves
    * leave for the hub's min.
    *
    * Memory bound (here and in [[smallStar]]): the `partitionBy(part)
    * .join(mins)` cogroup buffers ONE key's full adjacency in one task —
    * probed exact to a 4M-edge hub key (ScaleProbe, 20M-edge graph), and
    * large-star shrinks hubs across rounds, but a ~10⁸-edge boilerplate
    * hub on a real crawl would test task memory before the algorithm.
    * Known mitigation if a probe ever shows it binding: broadcast the
    * per-node minima above a degree cutoff (they are tiny) and re-point
    * hub leaves map-side, or salt the hub key for the min computation.
    */
  private def largeStar(e: RDD[(Long, Long)], part: HashPartitioner): RDD[(Long, Long)] = {
    val sym = e.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
    val mins = sym
      .reduceByKey(part, math.min(_: Long, _: Long))
      .mapPartitions(
        _.map { case (u, mv) => (u, math.min(u, mv)) },
        preservesPartitioning = true)
    sym.partitionBy(part)
      .join(mins) // co-partitioned: no extra shuffle
      .flatMap { case (u, (v, m)) => if (v > u) Iterator((v, m)) else Iterator.empty }
      .distinct(part.numPartitions)
  }

  /** Small-star: every node re-points its SMALLER neighbors (and itself)
    * at the minimum of those neighbors. Operates on the directed
    * (hi → lo) form as-is; emits exactly one edge per input edge.
    */
  private def smallStar(e: RDD[(Long, Long)], part: HashPartitioner): RDD[(Long, Long)] = {
    val mins = e.reduceByKey(part, math.min(_: Long, _: Long))
    e.partitionBy(part)
      .join(mins)
      .map { case (u, (v, m)) => if (v == m) (u, m) else (v, m) }
      .distinct(part.numPartitions)
  }

  /** Distributed star-forest check (the loop postcondition): no node is
    * both a leaf (hi side) and a center (lo side), and every leaf has
    * exactly one center. One bounded shuffle over the current edges.
    * count(), not isEmpty(): one job over all partitions (take(1)'s
    * incremental scan costs extra scheduler round-trips on the no-bad
    * converged case, which is every loop's last check) — and a full
    * scan is what lets the check double as the pin materialization.
    */
  private def isStarForest(e: RDD[(Long, Long)], part: HashPartitioner): Boolean =
    e.flatMap { case (l, c) => Iterator((l, (1, 1)), (c, (0, 2))) }
      .reduceByKey(part, (a: (Int, Int), b: (Int, Int)) => (a._1 + b._1, a._2 | b._2))
      .filter { case (_, (outDeg, roles)) => roles == 3 || outDeg > 1 }
      .count() == 0L
}
