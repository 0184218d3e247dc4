package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** VERDICT r7 #7: one order-of-magnitude scale probe beyond sf0.1 for the
  * three calibrated-threshold operators. Generates deterministic
  * distributed corpora (per-row splitmix64 — no cross-partition RNG
  * state, no driver materialization) and drives:
  *
  *  - q32 over 6M- and 60M-row lineitem twins (10×/100× sf0.1; the
  *    range-partitioned prefix sum, q32's only path). Exactness is
  *    checked OUT-OF-BAND by tools/scale_q32_oracle.py (DuckDB
  *    quantile_cont over the same parquet).
  *  - q17 (global 0.7) and q19 (within-source 0.3) over a 2.4M-doc
  *    corpus shaped to stress every cap calibrated at sf0.1:
  *      * ~24M DISTINCT shingles (every doc embeds its own id token) —
  *        past dfBroadcastMax (4M), so q19's approximate top-K df tier
  *        engages (usedApproxDfOrder must report true);
  *      * 8 boilerplate sentences on ~10% of docs — their shingles'
  *        df ≈ 30k >> HotGramDf (4096), so hot-gram 2D-blocking carries
  *        real load;
  *      * planted near-dup clusters (1% of docs, mutation of a cluster
  *        base) with cluster membership derivable from the doc id —
  *        the probe independently recomputes exact jaccard for every
  *        REPORTED pair (join back to text, shingle, intersect) and
  *        asserts reported == recomputed and >= threshold, plus a
  *        planted-recall count.
  *
  * Usage:
  *   sbt -batch "Test/runMain graft.scale.ScaleProbe gen <dir> <nDocs> <nLineitem>"
  *   sbt -batch "Test/runMain graft.scale.ScaleProbe q32|q17|q19 <dir>"
  *   sbt -batch "Test/runMain graft.scale.ScaleProbe q39cc|q39hub <dir> [edges...]"
  * Results are recorded in ROADMAP.md (round 8).
  */
object ScaleProbe {

  @inline private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  @inline private def rint(seed: Long, salt: Long, bound: Int): Int =
    (Math.floorMod(mix(seed ^ (salt * 0x100000001b3L)), bound.toLong)).toInt

  private val zipfRoots = Vector("web", "page", "data", "spark", "filter",
    "crawl", "quality", "text", "dedup", "model", "train", "corpus", "token",
    "shingle", "bucket", "probe", "index", "query", "score", "rank")
  private val ZipfForms = 200000L

  /** Log-uniform (Zipf-ish) draw over 200k word forms. A first attempt
    * used a 240-word vocabulary: every cross-word shingle then had
    * df ≈ 2000, the prefix region of EVERY doc was fat posting lists,
    * and the exact join's candidate set exploded — a corpus shape no
    * real crawl has (webtext is Zipfian: the prefix-region shingles of
    * a typical page are genuinely rare). Common forms (low rank) still
    * produce the hot grams the hot-gram blocking exists for.
    */
  private def zipfWord(seed: Long, salt: Long): String = {
    val u = (mix(seed ^ (salt * 0x100000001b3L)) >>> 11).toDouble / (1L << 53).toDouble
    val rank = math.min(math.pow(ZipfForms.toDouble, u).toLong, ZipfForms - 1)
    zipfRoots((rank % 20).toInt) + (rank / 20)
  }
  private val boilerplate: IndexedSeq[String] = (0 until 8).map(b =>
    s"all rights reserved boiler$b terms of service apply contact the webmaster")

  /** Cluster layout: docs with id % 100 < 4 form near-dup clusters of 4
    * (ids base..base+3 where base = id - id % 100; members mutate 3 of
    * the base's 50 words). Everything else is an independent doc.
    */
  private def clusterBase(id: Long): Long = if (id % 100 < 4) id - id % 100 else id

  private[scale] def docText(id: Long): String = {
    val base = clusterBase(id)
    val nWords = 50
    val sb = new java.lang.StringBuilder(360)
    var w = 0
    while (w < nWords) {
      // member docs replace 3 deterministic positions with their own draw
      val mutated = id != base && w == rint(id, 7001 + (id % 3), nWords) ||
        id != base && (w == rint(id, 7002, nWords) || w == rint(id, 7003, nWords))
      val word =
        if (mutated) zipfWord(id, 31L * w + 11)
        else zipfWord(base, 31L * w)
      if (w > 0) sb.append(' ')
      sb.append(word)
      w += 1
    }
    // unique id token → ~10 unique shingles per doc (24M distinct total)
    sb.append(" doc").append(base) // cluster-shared so mutations drive jaccard
    sb.append(" uid").append(id)
    if (rint(id, 501, 10) == 0) { sb.append(' '); sb.append(boilerplate(rint(id, 502, 8))) }
    sb.toString
  }

  def documentsDf(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long].mapPartitions { it =>
      it.map { id =>
        val text = docText(id)
        (id, text, "en", "src" + rint(clusterBase(id), 601, 20), text.length.toLong)
      }
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  def lineitemDf(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long].mapPartitions { it =>
      it.map { id =>
        val flag = Vector("A", "N", "R")(rint(id, 11, 3))
        val status = Vector("O", "F")(rint(id, 12, 2))
        // near-unique 2-decimal prices (the sf0.1 distinct-value density
        // that makes the per-group sort the bottleneck), exact in double
        val price = (rint(id, 13, 100000000).toLong + 1).toDouble / 100.0
        val qty = (1 + rint(id, 14, 50)).toDouble
        (id, flag, status, qty, price)
      }
    }.toDF("l_orderkey", "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
  }

  /** Exact jaccard of two texts' distinct 5-gram sets (independent
    * recompute path for asserting reported pairs). */
  private[scale] def jaccard5(a: String, b: String): Double = {
    def grams(s: String): collection.Set[String] =
      if (s.length < 5) Set.empty[String]
      else (0 to s.length - 5).map(i => s.substring(i, i + 5)).toSet
    val (ga, gb) = (grams(a), grams(b))
    if (ga.isEmpty && gb.isEmpty) 0.0
    else { val i = (ga & gb).size; i.toDouble / (ga.size + gb.size - i) }
  }

  // Shuffle goes to DISK by default, not /dev/shm: the 2.4M-doc q17
  // shuffle is multi-GB and tmpfs pages count against the container's
  // memory — the first 48g-heap + tmpfs-shuffle attempt was OOM-killed.
  private def session(name: String): SparkSession = SparkSession.builder()
    .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
    .appName(name)
    .config("spark.sql.shuffle.partitions",
      sys.env.getOrElse("GRAFT_PROBE_PARTITIONS", "128"))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir",
      sys.env.getOrElse("GRAFT_PROBE_LOCAL_DIR", "/tmp/graft-probe-shuffle"))
    .getOrCreate()

  /** Verify every reported pair's jaccard by independent recompute, and
    * count planted-cluster pairs recovered. Reported pair sets are small
    * (bounded by cluster structure), so the join-back is cheap. */
  private def auditPairs(spark: SparkSession, pairs: DataFrame, dir: String,
      threshold: Double, sameSourceOnly: Boolean): Unit = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text", $"source")
    val withText = pairs
      .join(docs.select($"doc_id".as("doc_a"), $"text".as("ta"), $"source".as("sa")), "doc_a")
      .join(docs.select($"doc_id".as("doc_b"), $"text".as("tb"), $"source".as("sb")), "doc_b")
      .select($"doc_a", $"doc_b", $"jaccard", $"ta", $"tb", $"sa", $"sb")
      .as[(Long, Long, Double, String, String, String, String)]
      .collect()
    var bad = 0
    withText.foreach { case (a, b, j, ta, tb, sa, sb) =>
      val jj = jaccard5(ta, tb)
      val okSrc = !sameSourceOnly || sa == sb
      if (math.abs(jj - j) > 5e-5 || jj < threshold || !okSrc) {
        bad += 1
        if (bad <= 5) println(s"PROBE BAD PAIR ($a,$b): reported $j recomputed $jj src $sa/$sb")
      }
    }
    println(s"PROBE audit: ${withText.length} reported pairs, $bad bad")
    // planted recall: cluster (base..base+3) pairs whose true jaccard
    // crosses the threshold must all be reported
    val reported = withText.map(t => (t._1, t._2)).toSet
    val nDocs = docs.count()
    var expected = 0L
    var missed = 0L
    var base = 0L
    while (base < nDocs) {
      val members = (0 until 4).map(base + _).filter(_ < nDocs)
      for (i <- members; k <- members if i < k) {
        val (ti, tk) = (docText(i), docText(k))
        val sameSrc = !sameSourceOnly // cluster members share source by construction
        val _ = sameSrc
        if (jaccard5(ti, tk) >= threshold) {
          expected += 1
          if (!reported((i, k)) && !reported((k, i))) {
            missed += 1
            if (missed <= 5) println(s"PROBE MISSED planted pair ($i,$k) j=${jaccard5(ti, tk)}")
          }
        }
      }
      base += 100
    }
    println(s"PROBE planted: $expected expected above threshold, $missed missed")
    assert(bad == 0 && missed == 0, s"audit failed: $bad bad, $missed missed")
  }

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val dir = args(1)
    val spark = session(s"scale-probe-$mode")
    spark.sparkContext.setLogLevel("WARN")
    try {
      mode match {
        case "gen" =>
          val nDocs = args(2).toLong
          val nLi = args(3).toLong
          documentsDf(spark, nDocs).write.mode("overwrite")
            .parquet(s"$dir/documents.parquet")
          lineitemDf(spark, nLi).write.mode("overwrite")
            .parquet(s"$dir/lineitem.parquet")
          println(s"PROBE gen done docs=$nDocs lineitem=$nLi")
        case "q32" =>
          val result = graft.operators.Relational.q32Percentiles(spark, dir)
          val t0 = System.nanoTime()
          val rows = result.collect()
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"PROBE q32 rows=${rows.length} wall=$dt%.2f s")
          rows.sortBy(r => Option(r.getString(0)).getOrElse("")).foreach(r => println(s"PROBE q32 ROW $r"))
          result.coalesce(1).write.mode("overwrite").parquet(s"$dir/q32_result.parquet")
        case "q17melt" | "q17ppj" | "q17auto" =>
          // beyond-cap fallback audits: caps zeroed so the chosen
          // fallback carries the whole result; exactness asserted the
          // same way as the public path. q17auto runs the estimate
          // passes at probe scale and must pick melt on this
          // fat-Zipf-head-shaped corpus (the r8 measurement).
          val t0 = System.nanoTime()
          val pairs = graft.operators.TextOps.q17MinHashPairsImpl(
            spark, dir, 0.7, candCap = 0, shingleLongsCap = 0L,
            fallback = mode match {
              case "q17ppj"  => graft.operators.TextOps.Q17Fallback.Ppjoin
              case "q17auto" => graft.operators.TextOps.Q17Fallback.Auto
              case _         => graft.operators.TextOps.Q17Fallback.Melt
            })
          val collected = pairs.cache()
          val n = collected.count()
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"PROBE $mode pairs=$n wall=$dt%.2f s")
          if (mode == "q17auto") {
            val est = graft.operators.TextOps.lastQ17AutoEstimates.get
            println(s"PROBE q17auto estimates=$est chosePpjoin=${est != null && est.usePpjoin}")
          }
          auditPairs(spark, collected, dir, 0.7, sameSourceOnly = false)
          collected.unpersist()
        case "q17" =>
          val t0 = System.nanoTime()
          val pairs = graft.operators.TextOps.q17MinHashPairs(spark, dir)
          val collected = pairs.cache()
          val n = collected.count()
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"PROBE q17 pairs=$n wall=$dt%.2f s")
          auditPairs(spark, collected, dir, 0.7, sameSourceOnly = false)
          collected.unpersist()
        case "q39" =>
          // cluster resolution at scale: the star alternation must label
          // every doc with its component min. Audit is a DRIVER
          // union-find over the collected q17 pair set (pair-bounded,
          // small even at 10x — and itself exactness-audited by the q17
          // mode) compared distributedly against the full output.
          import spark.implicits._
          val t0 = System.nanoTime()
          val out = graft.operators.Clusters.q39NearDupClusters(spark, dir)
            .as[(Long, Long, Boolean)].cache()
          val nDocs = out.count()
          val dt = (System.nanoTime() - t0) / 1e9
          val rounds = graft.operators.Clusters.lastRounds.get
          val pairs = graft.operators.TextOps.q17MinHashPairs(spark, dir)
            .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
          val parent = scala.collection.mutable.Map[Long, Long]()
          def find(x: Long): Long = {
            val p = parent.getOrElse(x, x)
            if (p == x) x else { val r = find(p); parent(x) = r; r }
          }
          for ((u, v) <- pairs) {
            val (ru, rv) = (find(u), find(v))
            if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
          }
          val expected = pairs.iterator.flatMap(p => Iterator(p._1, p._2))
            .toSet[Long].iterator.map(n => n -> find(n)).toMap
          val bc = spark.sparkContext.broadcast(expected)
          val bad = out.filter { case (id, cid, keep) =>
            bc.value.getOrElse(id, id) != cid || keep != (id == cid)
          }.count()
          val clustered = expected.size
          val clusters = expected.values.toSet.size
          println(f"PROBE q39 docs=$nDocs clusteredDocs=$clustered clusters=$clusters " +
            f"rounds=$rounds bad=$bad wall=$dt%.2f s")
          out.unpersist()
          require(bad == 0, s"q39 audit: $bad rows diverged from driver union-find")
          require(nDocs > 0 && clustered > 0, "q39 audit vacuous")
        case "q39cc" | "q39hub" =>
          // q39's OWN core (the star alternation) at 3-4 orders beyond
          // oracle scale, decoupled from the q17 substrate whose
          // cumulative-shuffle single-box ceiling is already
          // characterized (ROADMAP r8; q39-over-q17 at 50x re-hits it).
          // Synthetic edge set with CLOSED-FORM components so the audit
          // needs no driver graph: disjoint id regions of 64-node chains
          // (round-count stress: ~8 alternations), ONE mega-star (hub
          // skew), and mixed groups (spanning chain + seeded random
          // intra-group extras, incl. duplicate and self edges). Expected
          // label of any node derives from its id alone.
          //   q39cc <dir> [nEdges=2e7]: chains 40%, hub 20%, mixed 40%.
          //   q39hub <dir> [hubEdges=1e7] [otherEdges=hubEdges/5]: one
          //     hub of the given degree plus chains and mixed groups
          //     (half each). The chains are what make rounds run: a lone
          //     star is already a star forest and converges before any
          //     star step. Run it under a pinned heap (SPARK_DRIVER_MEM)
          //     to check that no task buffers the hub's adjacency.
          import spark.implicits._
          val K = 64L
          val (chainEdges, starEdges, mixEdges) =
            if (mode == "q39cc") {
              val n = if (args.length > 2) args(2).toLong else 20000000L
              ((n * 4) / 10, (n * 2) / 10, n - (n * 4) / 10 - (n * 2) / 10)
            } else {
              val hub = if (args.length > 2) args(2).toLong else 10000000L
              val rest = if (args.length > 3) args(3).toLong else hub / 5
              (rest / 2, hub, rest - rest / 2)
            }
          val nEdges = chainEdges + starEdges + mixEdges
          val StarBase = 1L << 40
          val MixBase  = 1L << 41
          val edges = spark.range(nEdges).as[Long].map { i =>
            if (i < chainEdges) {
              val c = i / (K - 1); val off = i % (K - 1)
              val b = c * K
              (b + off, b + off + 1)
            } else if (i < chainEdges + starEdges) {
              (StarBase, StarBase + 1 + (i - chainEdges))
            } else {
              val j = i - chainEdges - starEdges
              val g = j / (2 * (K - 1)); val off = j % (2 * (K - 1))
              val b = MixBase + g * K
              if (off < K - 1) (b + off, b + off + 1)
              else (b + Math.floorMod(mix(j ^ 0x5bd1e995L), K),
                    b + Math.floorMod(mix(j * 31 + 7), K))
            }
          }.toDF("u", "v")
          val t0 = System.nanoTime()
          val labels = graft.operators.Clusters.connectedComponents(spark, edges)
            .as[(Long, Long)].cache()
          val nNodes = labels.count()
          val dt = (System.nanoTime() - t0) / 1e9
          val rounds = graft.operators.Clusters.lastRounds.get
          val bad = labels.filter { case (n, l) =>
            val want = if (n >= StarBase && n < MixBase) StarBase else (n / K) * K
            l != want
          }.count()
          val nClusters = labels.map(_._2).distinct().count()
          // closed-form expectations
          val cFull = chainEdges / (K - 1); val cRem = chainEdges % (K - 1)
          val gFull = mixEdges / (2 * (K - 1)); val gRem = mixEdges % (2 * (K - 1))
          val expNodes = cFull * K + (if (cRem > 0) cRem + 1 else 0) +
            (starEdges + 1) +
            gFull * K + (if (gRem == 0) 0 else if (gRem <= K - 1) gRem + 1 else K)
          val expClusters = cFull + (if (cRem > 0) 1 else 0) + 1 +
            gFull + (if (gRem > 0) 1 else 0)
          println(f"PROBE $mode edges=$nEdges nodes=$nNodes (exp $expNodes) " +
            f"clusters=$nClusters (exp $expClusters) rounds=$rounds bad=$bad wall=$dt%.1f s")
          labels.unpersist()
          graft.operators.Clusters.releaseQ39Cache()
          if (mode == "q39hub") {
            // measured off the input, not the closed form: the largest
            // per-node degree the star steps had to stream
            val hubDegree = edges.select(explode(array($"u", $"v")).as("n"))
              .groupBy("n").count().agg(max("count")).head().getLong(0)
            println(s"PROBE q39hub hubDegree=$hubDegree (exp $starEdges) rounds=$rounds")
            require(hubDegree == starEdges, s"q39hub: hub degree $hubDegree != $starEdges")
          }
          require(bad == 0 && nNodes == expNodes && nClusters == expClusters,
            s"$mode audit failed: bad=$bad nodes=$nNodes/$expNodes clusters=$nClusters/$expClusters")
        case "q29" =>
          // distributed trainer at scale: groupBy-count with map-side
          // combine + prefix/suffix self-joins; exactness is gated at
          // oracle scales (DuckDB integer-exact) and by TrainerSparkSpec
          // (distributed ≡ local) — here the claim under test is the
          // SHUFFLE SHAPE: gram-count rows are bounded by the distinct
          // vocabulary, not the corpus, so wall and shuffle stay sane at
          // 480× the oracle corpus. The Zipf forms are root+digits and
          // the eng training filter drops digit-bearing words, which
          // would shrink the vocabulary to the 20 roots — map digits to
          // letters so the full 200k-form vocabulary (and its char-gram
          // expansion) actually reaches the counting shuffle.
          import spark.implicits._
          import org.apache.spark.sql.functions.{col, expr, translate}
          val corpus = spark.read.parquet(s"$dir/documents.parquet")
            .select(expr("'eng'").as("lang"),
              translate(col("text"), "0123456789", "abcdefghij").as("line"))
          val t0 = System.nanoTime()
          val model = graft.train.Trainer.trainSparkFractions(spark, corpus)
          val rows = model.count()
          val dt = (System.nanoTime() - t0) / 1e9
          val sizes = model.groupBy($"size").count().collect()
            .map(r => s"${r.get(0)}:${r.getLong(1)}").sorted.mkString(" ")
          println(f"PROBE q29 modelRows=$rows wall=$dt%.1f s sizes=[$sizes]")
        case "genann" =>
          // Planted-cluster embedding corpus (schema-exact twin of the
          // testdata embeddings table): center per (id % 4096) plus 0.25
          // noise — a crawl-like CLUSTERED geometry. The 500-vector
          // fixture is near-uniform, which is adversarial for any space
          // partitioning (see q30IvfAnn scaladoc); a real embedder
          // clusters, and at probe scale the clustered shape is the one
          // whose recall the IVF structure is supposed to deliver.
          import spark.implicits._
          val nVec = args(2).toLong
          val dim = 64
          val nClusters = 4096
          spark.range(nVec).as[Long].mapPartitions { it =>
            it.map { id =>
              val c = id % nClusters
              val v = new Array[Float](dim)
              var i = 0
              while (i < dim) {
                val ctr = ((mix(c * 7919L + i) >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
                val nz = ((mix(id ^ ((i + 1013L) * 0x9e3779b97f4a7c15L)) >>> 11)
                  .toDouble / (1L << 53).toDouble) * 2.0 - 1.0
                v(i) = (ctr + 0.25 * nz).toFloat
                i += 1
              }
              (id, v, c.toInt)
            }
          }.toDF("vec_id", "embedding", "label")
            .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
          println(s"PROBE genann done n=$nVec dim=$dim clusters=$nClusters")
        case "q30" =>
          // IVF ANN at 2000× the 500-vector fixture: auto sizing picks
          // k = ⌈√n⌉ centroids; the operator embeds its own exact
          // brute-force audit column (in_exact_top5), so recall@5 reads
          // straight off the output — wall INCLUDES the embedded exact
          // ground-truth pass over all n vectors per query.
          val t0 = System.nanoTime()
          val rs = graft.operators.Similarity.q30IvfAnn(spark, dir).collect()
          val dt = (System.nanoTime() - t0) / 1e9
          val hits = rs.count(_.getAs[Boolean]("in_exact_top5"))
          val recall = if (rs.isEmpty) 0.0 else hits.toDouble / rs.length
          println(f"PROBE q30 rows=${rs.length} recall@5=$recall%.3f wall=$dt%.1f s")
        case "q26" =>
          // LSH ANN at the same corpus: EVERY vector gets its bucketed
          // top-1 (n output rows — aggregate, don't collect); the
          // audited-recall column covers the ten q20 query vectors, the
          // same DuckDB-auditable construction the oracle checks.
          val t0 = System.nanoTime()
          val out = graft.operators.Similarity.q26LshAnn(spark, dir)
          val agg = out.agg(
            count("*").as("rows"),
            sum(when(col("ann_in_exact_top5"), 1L).otherwise(0L)).as("hits"),
            count(col("ann_in_exact_top5")).as("audited")).collect()(0)
          val dt = (System.nanoTime() - t0) / 1e9
          val audited = agg.getLong(2)
          val rec = if (audited == 0) 0.0 else agg.getLong(1).toDouble / audited
          println(f"PROBE q26 rows=${agg.getLong(0)} auditedRecall@5=$rec%.3f" +
            f" audited=$audited wall=$dt%.1f s")
        case "stats" =>
          // growth-curve cardinalities for the two q17-fallback designs:
          // banding candidate pairs (the retired melt join's driver) vs
          // the exact ppjoin's raw prefix co-occurrence pairs
          import spark.implicits._
          import graft.operators.TextOps
          val bandRows = TextOps.q17BandRows(
            spark, spark.read.parquet(s"$dir/documents.parquet"), 0.7)
          val t0 = System.nanoTime()
          val bandCands = bandRows.select($"bucket", $"doc_id".as("doc_a"), $"sz".as("sz_a"))
            .join(bandRows.select($"bucket", $"doc_id".as("doc_b"), $"sz".as("sz_b"))
              .hint("SHUFFLE_MERGE"), Seq("bucket"))
            .where($"doc_a" < $"doc_b" &&
              least($"sz_a", $"sz_b").cast("double") >= lit(0.7) * greatest($"sz_a", $"sz_b"))
            .count()
          val t1 = System.nanoTime()
          println(f"PROBE stats bandingCandidates=$bandCands wall=${(t1 - t0) / 1e9}%.1f s")
          val stages = TextOps.q19StagesFromDocs(
            spark, spark.read.parquet(s"$dir/documents.parquet")
              .select(lit("_all").as("source"), $"doc_id", $"text"),
            0.7, TextOps.HotGramDf, TextOps.HotGramBlock)
          val t2 = System.nanoTime()
          val raw = stages.distRawPairs().count()
          val t3 = System.nanoTime()
          println(f"PROBE stats ppjoinRawPairs=$raw wall=${(t3 - t2) / 1e9}%.1f s approx=${stages.usedApproxDfOrder()} tailDf=${stages.approxOrderTailDfBound()}")
          val cands = stages.distCandidates().count()
          println(f"PROBE stats ppjoinCandidates=$cands wall=${(System.nanoTime() - t3) / 1e9}%.1f s")
          // the approximate-df-order tier's candidate-count cost (the
          // documented q19 caveat: unmapped grams with df in
          // (1, dfK] are ordered as df = 1 and can land in prefixes) —
          // force the tier with a tiny broadcast cap and re-count
          val stagesApprox = TextOps.q19StagesFromDocs(
            spark, spark.read.parquet(s"$dir/documents.parquet")
              .select(lit("_all").as("source"), $"doc_id", $"text"),
            0.7, TextOps.HotGramDf, TextOps.HotGramBlock, dfBroadcastMax = 1 << 16)
          val t4 = System.nanoTime()
          val rawApprox = stagesApprox.distRawPairs().count()
          println(f"PROBE stats ppjoinRawPairsApproxTier=$rawApprox wall=${(System.nanoTime() - t4) / 1e9}%.1f s approx=${stagesApprox.usedApproxDfOrder()} tailDf=${stagesApprox.approxOrderTailDfBound()}")
        case "q19" =>
          val t0 = System.nanoTime()
          val stages = graft.operators.TextOps.q19Stages(spark, dir, 0.3)
          val collected = stages.result.cache()
          val n = collected.count()
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"PROBE q19 pairs=$n wall=$dt%.2f s localPlan=${stages.usedLocalPlan}")
          println(s"PROBE q19 approxDfOrder=${stages.usedApproxDfOrder()} tailDfBound=${stages.approxOrderTailDfBound()}")
          auditPairs(spark, collected, dir, 0.3, sameSourceOnly = true)
          collected.unpersist()
      }
    } finally spark.stop()
  }
}
