package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** q17's banded-LSH candidate generation is calibrated so that a pair at
  * Jaccard ≥ 0.7 misses all 32 bands with probability ~1e-9 — the DuckDB
  * oracle asserts equality with the brute-force threshold set at sf0.01,
  * and this spec asserts it in-suite at sf0.001 AND sf0.01 so the
  * round-4 reshape (single shingle pass, in-bucket pair generation,
  * candidate-only verify) stays provably exact, not just
  * oracle-coincident.
  */
class MinHashSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def q17Pairs(sf: String): Set[(Long, Long, Double)] =
    TextOps.q17MinHashPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def brutePairs(sf: String, threshold: Double): Set[(Long, Long, Double)] = {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)]
      .collect()
      .map { case (id, t) => (id, TextOps.shingleHashes(t)) }
    (for {
      i <- docs.indices.iterator
      j <- (i + 1) until docs.length
      (a, sa) = docs(i)
      (b, sb) = docs(j)
      (lo, hi) = if (a < b) (a, b) else (b, a)
      (loSh, hiSh) = if (a < b) (sa, sb) else (sb, sa)
      jac = TextOps.exactJaccard(loSh, hiSh)
      if jac >= threshold
    } yield (lo, hi, math.round(jac * 10000.0) / 10000.0)).toSet
  }

  test("q17 equals the brute-force Jaccard >= 0.7 pair set") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val got = q17Pairs(sf)
      val want = brutePairs(sf, 0.7)
      assert(got == want,
        s"$sf: q17 ${got.size} vs brute ${want.size}; diff=${(got diff want) ++ (want diff got)}")
    }
  }

  test("q17 distributed fallbacks (probe caps forced to 0) equal the broadcast path") {
    // candCap = 0 forces pairsArr = null → the beyond-cap fallback; BOTH
    // designs (melt verify and the exact-ppjoin escalation — see the
    // q17MinHashPairsImpl scaladoc for the measured corpus-dependent
    // trade) must be identical to the fast path and the brute force
    val sf = "/root/testdata/sf0.01"
    val want = brutePairs(sf, 0.7)
    val melt = TextOps.q17MinHashPairsImpl(spark, sf, 0.7, candCap = 0, shingleLongsCap = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(melt == want, s"melt fallback diverged: ${(melt diff want) ++ (want diff melt)}")
    val ppj = TextOps.q17MinHashPairsImpl(spark, sf, 0.7, candCap = 0, shingleLongsCap = 0L,
        fallback = TextOps.Q17Fallback.Ppjoin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ppj == want, s"ppjoin fallback diverged: ${(ppj diff want) ++ (want diff ppj)}")
    // Auto (the public default) end-to-end: both estimate passes run,
    // a design is chosen, and the result still equals brute force
    val auto = TextOps.q17MinHashPairsImpl(spark, sf, 0.7, candCap = 0, shingleLongsCap = 0L,
        fallback = TextOps.Q17Fallback.Auto)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(auto == want, s"auto fallback diverged: ${(auto diff want) ++ (want diff auto)}")
    // the fixture corpus is driver-shaped (short docs, compact vocab →
    // fat posting lists flood the ppjoin prefixes): Auto must pick melt
    val est = TextOps.lastQ17AutoEstimates.get
    assert(est != null && !est.usePpjoin, s"fixture corpus must classify melt: $est")
  }

  test("q17 shingle-fetch overflow (pair cap ok, shingle cap 0) falls back correctly") {
    val sf = "/root/testdata/sf0.001"
    val fallback = TextOps.q17MinHashPairsImpl(spark, sf, 0.7, candCap = 4 << 20, shingleLongsCap = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fallback == brutePairs(sf, 0.7))
  }

  test("q17 on a seeded random corpus with planted dup clusters equals brute force, both paths") {
    // Shapes the fixture corpus never hands the banding: transitive dup
    // CLUSTERS (k mutual near-dups funnel C(k,2) pairs through shared
    // buckets), sub-shingle and very short docs, and unrelated random
    // docs whose pairwise J ≈ 0. Dups mutate ~5 % of words, landing the
    // true J well above the 0.7 threshold where the 32×4 banding miss
    // probability is negligible — and every hash here is deterministic,
    // so the gate is stable, not a per-run lottery.
    import spark.implicits._
    val rng = new graft.train.FixtureCorpus.Rng(0x17c0deL)
    def word(): String = {
      val len = 3 + rng.nextInt(6)
      (0 until len).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    }
    def doc(nWords: Int): String = (0 until nWords).map(_ => word()).mkString(" ")
    def mutate(base: String): String =
      base.split(" ").map(w => if (rng.nextInt(20) == 0) word() else w).mkString(" ")
    val buf = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    var id = 0L
    (0 until 60).foreach { _ => // unrelated docs, incl. sub-shingle lengths
      buf += ((id, doc(1 + rng.nextInt(60)))); id += 1
    }
    (2 to 7).foreach { k => // dup clusters of sizes 2..7
      val base = doc(40 + rng.nextInt(40))
      (0 until k).foreach { _ => buf += ((id, mutate(base))); id += 1 }
    }
    val dir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(
      s"target/q17rand-${java.util.UUID.randomUUID().toString.take(8)}"))
      .toAbsolutePath.toString
    buf.toSeq.toDF("doc_id", "text").repartition(3)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val docsArr = buf.toSeq.map { case (i, t) => (i, TextOps.shingleHashes(t)) }
      val want = (for {
        i <- docsArr.indices.iterator
        j <- (i + 1) until docsArr.length
        jac = TextOps.exactJaccard(docsArr(i)._2, docsArr(j)._2)
        if jac >= 0.7
      } yield (docsArr(i)._1, docsArr(j)._1, math.round(jac * 10000.0) / 10000.0)).toSet
      assert(want.size >= 20, s"corpus must plant cluster pairs, got ${want.size}")
      val got = TextOps.q17MinHashPairsImpl(spark, dir, 0.7, 4 << 20, 16L << 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want,
        s"broadcast path: q17 ${got.size} vs brute ${want.size}; diff=${(got diff want) ++ (want diff got)}")
      val fb = TextOps.q17MinHashPairsImpl(spark, dir, 0.7, candCap = 0, shingleLongsCap = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fb == want, s"melt fallback diverged: ${(fb diff want) ++ (want diff fb)}")
      val fbPpj = TextOps.q17MinHashPairsImpl(spark, dir, 0.7, candCap = 0, shingleLongsCap = 0L,
          fallback = TextOps.Q17Fallback.Ppjoin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fbPpj == want,
        s"ppjoin fallback diverged: ${(fbPpj diff want) ++ (want diff fbPpj)}")
    } finally graft.TinyInputs.delete(dir)
  }

  test("q17 Auto fallback observable classifies both ScaleProbe corpus shapes") {
    import spark.implicits._
    // The decision input is a RATIO of two same-quantity estimates, so the
    // classification is scale-free: the spec exercises it at ~2k docs on
    // the same two geometries the round-8 probe measured at 150k–2.4M
    // (ROADMAP round 8: melt ~200 GB on template-heavy, ppjoin 17× the
    // bytes on fat-Zipf-head).
    //
    // Shape 1 — fat-Zipf-head short docs (the driver-like geometry, the
    // probe's own generator): banding candidates ≪ prefix co-occurrence
    // pairs → melt.
    val zipf = graft.scale.ScaleProbe.documentsDf(spark, 2000L)
      .select($"doc_id", $"text")
    val eZipf = TextOps.q17FallbackEstimates(spark, zipf, 0.7)
    assert(!eZipf.usePpjoin,
      s"fat-Zipf-head shape must pick melt: $eZipf")
    assert(eZipf.meltVerifyBytes > 0 && eZipf.ppjoinVerifyBytes > 0, s"degenerate estimate: $eZipf")
    // Shape 2 — template-heavy: families sharing a long boilerplate tail
    // at pairwise J ≈ 0.5 (below threshold — pure spurious banding mass,
    // quadratic in family size), while every doc's PREFIX (its rarest
    // ~30% of grams) is private random words with df = 1 → the ppjoin
    // generates ~no candidates by construction.
    val rng = new graft.train.FixtureCorpus.Rng(0x17beefL)
    def word(): String =
      (0 until (4 + rng.nextInt(5))).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    val boiler = (0 until 4).map(_ => (0 until 60).map(_ => word()).mkString(" "))
    val tdocs = (0L until 600L).map { id =>
      if (id < 400) // 4 template families of 100
        (id, boiler((id % 4).toInt) + " " + (0 until 30).map(_ => word()).mkString(" "))
      else // independent random docs
        (id, (0 until 45).map(_ => word()).mkString(" "))
    }
    val eTmpl = TextOps.q17FallbackEstimates(
      spark, tdocs.toDF("doc_id", "text"), 0.7)
    assert(eTmpl.usePpjoin,
      s"template-heavy shape must pick ppjoin: $eTmpl")
  }
}
