package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ANN quality gates: both approximate methods (hyperplane-LSH q26, IVF
  * q30) are measured against the EXACT cosine top-1/top-k — without a
  * recall number an ANN operator's correctness is unfalsifiable (the
  * driver's oracle can only row-count them).
  */
class SimilaritySpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.01"

  /** exact best neighbor (top-1 by cosine, ties → lower id) per vector */
  private lazy val exactBest: Map[Long, Long] = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    emb.as("a").join(emb.as("b"), expr("a.vec_id <> b.vec_id"))
      .select(
        col("a.vec_id").as("id"),
        col("b.vec_id").as("cand"),
        Similarity.cosineCol(col("a.v"), col("b.v")).as("cos"))
      .groupBy($"id")
      .agg(max_by($"cand", struct($"cos", -$"cand")).as("best"))
      .as[(Long, Long)].collect().toMap
  }

  test("q26 LSH ANN: recall@1 >= 0.9 vs exact top-1") {
    import spark.implicits._
    val ann = Similarity.q26LshAnn(spark, sf)
      .select($"vec_id", $"ann_vec_id")
      .as[(Long, Long)].collect().toMap
    // every vector must receive SOME answer (multiprobe guarantees mates)
    assert(ann.size == exactBest.size, s"${ann.size} answered of ${exactBest.size}")
    val hits = exactBest.count { case (id, best) => ann.get(id).contains(best) }
    val recall = hits.toDouble / exactBest.size
    info(s"LSH recall@1 = $recall ($hits/${exactBest.size})")
    assert(recall >= 0.9, s"LSH recall@1 $recall below floor")
  }

  test("q30 IVF ANN: recall@1 >= 0.9 of exact top-1 for the probed queries") {
    import spark.implicits._
    val ann = Similarity.q30IvfAnn(spark, sf)
      .filter($"rnk" === 1)
      .select($"query_id", $"vec_id")
      .as[(Long, Long)].collect().toMap
    assert(ann.nonEmpty)
    val hits = ann.count { case (q, got) => exactBest.get(q).contains(got) }
    val recall = hits.toDouble / ann.size
    info(s"IVF recall@1 = $recall ($hits/${ann.size})")
    assert(recall >= 0.9, s"IVF recall@1 $recall below floor")
  }

  test("ivfSizing: codebook cap binds past 2^44 rows, bumping nProbe boundedly") {
    // small n: rule of thumb untouched, nProbe passes through
    assert(Similarity.ivfSizing(500L, 0, 6, 4 << 20) == (23, 6))
    // explicit k under the cap: passes through
    assert(Similarity.ivfSizing(0L, 100, 6, 4 << 20) == (100, 6))
    // explicit k OVER the cap: clamped (the cap is a memory envelope,
    // not a default) and nProbe bumped by √ratio
    assert(Similarity.ivfSizing(0L, 16 << 20, 6, 4 << 20) == (4 << 20, 12))
    // auto sizing past 2^44 rows: √n = 2^23 > cap 2^22 → k clamps to the
    // cap; deficit ratio 2 → nProbe ⌈6·√2⌉ = 9
    assert(Similarity.ivfSizing(1L << 46, 0, 6, 4 << 20) == (4 << 20, 9))
    // extreme deficit: the bump saturates at 4× nProbe, never a scan
    assert(Similarity.ivfSizing(1L << 62, 0, 6, 4 << 20) == (4 << 20, 24))
    // tiny cap with tiny k: the bump can never exceed k lists
    assert(Similarity.ivfSizing(1L << 40, 0, 6, 4) == (4, 4))
  }

  test("q30 IVF ANN under a forced tiny codebook cap: recall holds") {
    // Force the cap to BIND at fixture scale (√500 ≈ 23 → k = 8): lists
    // get ~3× longer and nProbe is bumped — the capped structure must
    // still answer with recall@1 ≥ 0.9, evidencing the >2^44-row shape
    // end-to-end rather than only in the sizing arithmetic.
    import spark.implicits._
    val ann = Similarity.q30IvfAnn(spark, sf, maxCodebook0 = 8)
      .filter($"rnk" === 1)
      .select($"query_id", $"vec_id")
      .as[(Long, Long)].collect().toMap
    assert(ann.nonEmpty)
    val hits = ann.count { case (q, got) => exactBest.get(q).contains(got) }
    val recall = hits.toDouble / ann.size
    info(s"IVF capped-codebook recall@1 = $recall ($hits/${ann.size})")
    assert(recall >= 0.9, s"IVF capped-codebook recall@1 $recall below floor")
  }

  test("cosine near-dup pairs: LSH output equals the brute-force threshold set") {
    import spark.implicits._
    // planted corpus: 300 random unit-ish vectors + 20 noisy near-copies
    // (cos >= ~0.99); deterministic xorshift seed
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

    val found = Similarity.cosineNearDupPairs(spark, emb, threshold = 0.95)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet

    // brute-force oracle over the same data
    val df = emb.toDF("vec_id", "v").withColumn("v", col("v").cast("array<double>"))
    val exact = df.as("a").join(df.as("b"), expr("a.vec_id < b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.cosineCol(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= 0.95)
      .select(col("a.vec_id"), col("b.vec_id")).as[(Long, Long)].collect().toSet

    assert(exact.size >= 20, s"fixture must plant near-dups, got ${exact.size}")
    assert(found == exact,
      s"missing=${(exact -- found).take(5)} spurious=${(found -- exact).take(5)}")
  }

  test("k-means|| init is deterministic: identical centroids across runs") {
    // the init samples with hash-seeded uniforms and sorts every
    // collected set — two invocations over the same input must yield
    // bit-identical centroids (q30's output determinism rides on this)
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
    val a = Similarity.kmeansParInit(spark, emb, 24, rounds = 2, wCells = 4)
    val b = Similarity.kmeansParInit(spark, emb, 24, rounds = 2, wCells = 4)
    assert(a.length == 24 && b.length == 24)
    assert(a.indices.forall(i => java.util.Arrays.equals(a(i), b(i))),
      "k-means|| init must be deterministic per input")
  }

  test("distributed codebook build is bit-identical to the local build") {
    // the Spark-job build must reproduce buildCodebook's cells exactly:
    // same coarse picks, same fine → cell assignment, same fine-index
    // order within each cell. localThreshold = 0 forces the job path at
    // a test-sized k (600 seeded centroids → 25 cells of ~24).
    val rnd = new scala.util.Random(0xc0deb00c)
    val fine = Array.fill(600)(Array.fill(16)(rnd.nextGaussian()))
    val local = Similarity.buildCodebook(fine, 4)
    val dist = Similarity.buildCodebookDistributed(spark, fine, 4, localThreshold = 0)
    assert(dist.coarse.length == local.coarse.length &&
      dist.coarse.indices.forall(i => java.util.Arrays.equals(dist.coarse(i), local.coarse(i))))
    assert(dist.cells.length == local.cells.length)
    local.cells.indices.foreach { c =>
      assert(dist.cells(c).sameElements(local.cells(c)),
        s"cell $c: distributed ${dist.cells(c).mkString(",")} vs local ${local.cells(c).mkString(",")}")
    }
  }

  test("q26 bucket width scales with corpus size") {
    assert(Similarity.planesFor(64) == 2)
    assert(Similarity.planesFor(4096) == 6)
    // 100 TB-ish row counts: capped at MaxPlanes so the packed bucket key
    // never sign-extends and 1L << p never wraps (recall is tuned with
    // more tables beyond the cap, not more planes)
    assert(Similarity.planesFor(1L << 40) == Similarity.MaxPlanes)
  }

  test("corrupt embeddings (zero-norm, NaN-poisoned) score 0.0 and never displace genuine neighbors") {
    import spark.implicits._
    // Kernel convention: a NaN cosine (0/0 from a zero-norm vector, or a
    // NaN-poisoned element — both real failed-embedder artifacts at crawl
    // scale) maps to 0.0. Unguarded, Spark sorts NaN ABOVE every double,
    // so ONE failed embed would take rank 1 in every descending top-k.
    val probe = Seq(
      (1L, Array(1.0, 0.5)), (2L, Array(0.9, 0.4)),
      (900L, Array(0.0, 0.0)), (901L, Array(Double.NaN, 1.0)))
      .toDF("vec_id", "v")
    val sims = probe.as("a").join(probe.as("b"), expr("a.vec_id < b.vec_id"))
      .select(col("a.vec_id").as("ida"), col("b.vec_id").as("idb"),
        Similarity.cosineCol(col("a.v"), col("b.v")).as("cos"))
      .as[(Long, Long, Double)].collect()
    assert(sims.forall(s => !s._3.isNaN), s"kernel emitted NaN: ${sims.mkString(",")}")
    assert(sims.filter(s => s._1 >= 900L || s._2 >= 900L).forall(_._3 == 0.0),
      "corrupt vectors must score exactly 0.0 against everything")

    // End-to-end over all three ANN surfaces: genuine vectors all sit in
    // the positive orthant (every true pairwise cosine > 0), so a corrupt
    // vector's 0.0 can never legitimately enter a top-k — if one appears,
    // the guard regressed. IVF additionally exercises the normalize guard
    // (a NaN member in a Lloyd mean would poison its centroid's cell).
    val rng = new graft.train.FixtureCorpus.Rng(0xbadd0cL)
    def vec(): Array[Float] =
      Array.fill(16)(0.1f + (rng.nextLong() >>> 40).toFloat / (1L << 24) * 0.9f)
    val rows: Seq[(Long, Array[Float], Int)] =
      (0L until 40L).map(i => (i, vec(), 0)) ++ Seq(
        (900L, Array.fill(16)(0.0f), 0),
        (901L, { val v = vec(); v(3) = Float.NaN; v }, 0))
    val dir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(
      s"target/corrupt-emb-${java.util.UUID.randomUUID().toString.take(8)}"))
      .toAbsolutePath.toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
      val topk = Similarity.q20AnnBruteForce(spark, dir)
        .select($"query_id", $"vec_id", $"cos").as[(Long, Long, Double)].collect()
      assert(topk.nonEmpty && topk.forall(r => !r._3.isNaN))
      assert(topk.forall(_._2 < 900L),
        s"corrupt id in exact top-k: ${topk.filter(_._2 >= 900L).mkString(",")}")
      val lsh = Similarity.q26LshAnn(spark, dir)
        .select($"vec_id", $"ann_vec_id", $"cos").as[(Long, Long, Double)].collect()
      assert(lsh.nonEmpty && lsh.forall(r => !r._3.isNaN))
      assert(lsh.forall(_._2 < 900L), "corrupt id chosen as an LSH neighbor")
      val ivf = Similarity.q30IvfAnn(spark, dir)
        .select($"query_id", $"vec_id", $"cos").as[(Long, Long, Double)].collect()
      assert(ivf.nonEmpty && ivf.forall(r => !r._3.isNaN))
      assert(ivf.forall(_._2 < 900L), "corrupt id surfaced by IVF")
    } finally graft.TinyInputs.delete(dir)
  }
}
