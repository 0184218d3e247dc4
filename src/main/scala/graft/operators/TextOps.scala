package graft.operators

import graft.lang.NgramHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Text analysis + deduplication operators for a training-data pipeline
  * over the `documents` table: token stats, quality scores, PII scrub,
  * repetition ratio, exact/MinHash/SimHash/Jaccard dedup, fingerprints.
  *
  * Design rule: anything expressible with `org.apache.spark.sql.functions`
  * stays declarative (codegen + pushdown); only the per-document hashing
  * kernels (minhash/simhash/fingerprint) drop into typed maps, which remain
  * one-pass, allocation-light, and partition-local (no driver loops).
  */
object TextOps {

  /** Token counting: whitespace tokens + a BPE-ish subword proxy (runs of
    * letters vs digits vs punctuation). Declarative — whole-stage codegen.
    */
  def q14Tokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_computed"),
        (size(split(col("text"), "[a-z]+")) - 1).cast("long").as("n_letter_runs")
      )

  /** Quality scoring: word stats every web-scale filter computes
    * (length, distinct ratio, mean word length). All codegen'd.
    */
  def q15Quality(spark: SparkSession, sfDir: String): DataFrame = {
    val words = split(col("text"), " ")
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        size(words).cast("long").as("word_count"),
        size(array_distinct(words)).cast("long").as("distinct_words"),
        round(
          aggregate(transform(words, w => length(w)), lit(0), (acc, x) => acc + x)
            .cast("double") / size(words),
          4
        ).as("avg_word_len")
      )
  }

  /** Exact deduplication: hash-groupBy on md5(text) — one shuffle keyed by
    * digest; representative = min doc_id. The 100 TB path is identical:
    * shuffle carries (digest, doc_id) pairs only, never the text.
    */
  def q16DedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(md5(col("text").cast("binary")).as("text_hash"), col("doc_id"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** PII scrub: regex chain shared (same patterns, RE2-safe subset) with the
    * DuckDB oracle. The pipeline version (Pipeline.scala) also scrubs a
    * toxicity wordlist.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"
  val ipRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  def scrubCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailRe, "<EMAIL>"),
        ipRe, "<IP>"
      ),
      phoneRe, "<PHONE>"
    )

  def q22Scrub(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), scrubCol(col("text")).as("scrubbed_text"))

  /** Repetition ratio: top word frequency / word count — the window-aggregate
    * quality rule from the north_star. The aggregation is entirely
    * per-document (a doc's words never leave it), so it is a ZERO-SHUFFLE
    * typed map with a reused per-partition hash map — the round-4 shape
    * exploded every word into a (doc_id, word) row and paid two
    * corpus-sized exchanges for an aggregation that never needed one.
    * Tokenization matches the oracle exactly: split on single spaces,
    * empty tokens kept (`"a  b".split(" ", -1)` ≡ SQL `split`/
    * `string_split`), ratio rounded columnar like before.
    */
  def q25Repetition(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        val counts = new java.util.HashMap[String, Int](256)
        // null text emits no row — mirrors the old explode(split(...))
        // shape, which silently dropped null-text docs (ADVICE r5: the
        // typed path NPE'd on one null row instead)
        it.filter(_._2 != null).map { case (id, text) =>
          counts.clear()
          val words = text.split(" ", -1)
          var i = 0
          var maxC = 0
          while (i < words.length) {
            val c = counts.merge(words(i), 1, (a, b) => a + b)
            if (c > maxC) maxC = c
            i += 1
          }
          (id, maxC.toDouble / words.length, words.length.toLong)
        }
      }
      .toDF("doc_id", "ratio", "n_words")
      .select($"doc_id", round($"ratio", 4).as("repetition_ratio"), $"n_words")
  }

  // --- hashing kernels ----------------------------------------------------

  /** Sorted distinct hashes of a text's character `ShingleSize`-gram
    * shingles (codepoint-level, includes spaces — standard near-dup
    * shingling). Null text ≡ empty text: zero shingles — crawls contain
    * null rows and one used to NPE a whole banding pass.
    */
  def shingleHashes(text: String): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val cps = text.codePoints().toArray
    val n = ShingleSize
    if (cps.length < n) return Array.emptyLongArray
    val out = new Array[Long](cps.length - n + 1)
    var i = 0
    while (i + n <= cps.length) {
      out(i) = NgramHash.ofWindow(cps, i, n)
      i += 1
    }
    java.util.Arrays.sort(out)
    // distinct in place
    var w = 0
    var r = 0
    while (r < out.length) {
      if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    java.util.Arrays.copyOf(out, w)
  }

  @inline private[graft] def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** LSH calibration (measured on the synthetic corpus, BENCH.md): 5-char
    * shingles separate the planted near-dups (J ≥ 0.83) from the
    * tiny-vocab background (J ≤ 0.38, mean 0.17) — 3-char shingles do not
    * (8.3k pairs over threshold at sf0.01). 32 bands × 4 rows catches a
    * J = 0.83 pair with miss probability (1−0.83⁴)³² ≈ 1e-9, so the
    * banded candidate set provably covers every true pair and the
    * exact-Jaccard verify makes the output EQUAL to the brute-force
    * threshold set — which is what the DuckDB oracle computes.
    * Measured background candidates at sf0.1 (5k docs): 293k pairs, 196k
    * after the q17 length filter — the pair set dwarfs the corpus, which
    * is why q17 verifies from a broadcast instead of joining arrays.
    */
  final val MinHashPerms = 128
  final val Bands = 32
  final val RowsPerBand = MinHashPerms / Bands
  final val ShingleSize = 5
  private val permSeeds: Array[Long] =
    Array.tabulate(MinHashPerms)(i => mix(0x51_7c_c1_b7_27_22_0a_95L + i * 0x9e3779b97f4a7c15L))

  /** MinHash signature over the shingle set (one pass, no allocation per
    * shingle beyond the signature array).
    */
  def minHashSignature(shingles: Array[Long]): Array[Long] = {
    val sig = Array.fill(MinHashPerms)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val s = shingles(i)
      var p = 0
      while (p < MinHashPerms) {
        val h = mix(s ^ permSeeds(p))
        if (h < sig(p)) sig(p) = h
        p += 1
      }
      i += 1
    }
    sig
  }

  /** The `Bands` LSH band keys of a shingle set's MinHash signature, one
    * per band: the band index is folded into the hash seed, so one mixed
    * 64-bit key replaces the (band, hash) pair — a cross-band key
    * collision can only MERGE buckets, which adds candidates an exact
    * verify discards (never loses a pair). Shared by batch q17 and
    * StreamingNearDup, so both band identically.
    */
  def bandKeys(shingles: Array[Long]): Array[Long] = {
    val sig = minHashSignature(shingles)
    Array.tabulate(Bands) { b =>
      var h = 0x9e3779b97f4a7c15L ^ b
      var r = 0
      while (r < RowsPerBand) { h = mix(h ^ sig(b * RowsPerBand + r)); r += 1 }
      h
    }
  }

  def exactJaccard(a: Array[Long], b: Array[Long]): Double = {
    // both sorted distinct
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Beyond-cap fallback choice for q17 (see `q17MinHashPairsImpl` for the
    * measured trade). `Auto`, the only production choice, estimates BOTH
    * designs' verify-shuffle bytes from cheap sub-linear aggregations at
    * fallback time and picks the cheaper (ties → Melt); `Melt`/`Ppjoin`
    * force a design so specs and probes can check each against brute
    * force.
    */
  private[graft] sealed trait Q17Fallback
  private[graft] object Q17Fallback {
    case object Auto extends Q17Fallback
    case object Melt extends Q17Fallback
    case object Ppjoin extends Q17Fallback
  }

  /** Verify-shuffle byte estimates for the two q17 beyond-cap fallbacks —
    * the corpus-shape observable behind `Q17Fallback.Auto`. Both numbers
    * estimate the same quantity for their design: bytes of shingle arrays
    * shuffled to verify that design's candidate set (pairs × both sides'
    * array bytes). The RATIO is what classifies a corpus, so the rule is
    * scale-free and spec-testable at small n (MinHashSpec pins it on both
    * round-8 ScaleProbe shapes: template-heavy → Ppjoin, fat-Zipf-head
    * short docs → Melt).
    */
  private[graft] final case class Q17FallbackEstimates(
      meltVerifyBytes: Double, ppjoinVerifyBytes: Double) {
    def usePpjoin: Boolean = ppjoinVerifyBytes < meltVerifyBytes
  }

  /** Band-bucket rows (bucket, doc_id, sz) for the q17 banding — the
    * signature pass, extracted so the fallback estimator can re-derive the
    * bucket-population observable from the same kernel the query uses.
    * `docs` must carry (doc_id, text).
    */
  private[graft] def q17BandRows(
      spark: SparkSession, docs: DataFrame, threshold: Double): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val sh = shingleHashes(text)
          // zero-shingle docs can never reach J ≥ t > 0 (Jaccard with an
          // empty set is 0), but their all-MaxValue signatures would put
          // EVERY empty doc in the same 32 buckets — a mass-empty crawl
          // would pair them quadratically just to discard each pair at
          // verify. Skip banding them entirely; output unchanged.
          if (sh.isEmpty && threshold > 0) Iterator.empty
          else bandKeys(sh).iterator.map(h => (h, id, sh.length))
        }
      }
      .toDF("bucket", "doc_id", "sz")
  }

  /** Estimate both beyond-cap fallbacks' verify bytes WITHOUT running
    * either verify join — the `Q17Fallback.Auto` decision input:
    *
    *  - melt: Σ over band buckets of c·(c−1)/2 pairs, each weighted by
    *    2 × the bucket's mean shingle count × 8 B. One agg over the
    *    (bucket, count, mean sz) populations — no arrays move. Duplicate
    *    pairs (multi-band collisions) are counted once per shared bucket,
    *    a mild overestimate on exactly the corpora where the melt is
    *    already losing.
    *  - ppjoin: Σ over prefix posting keys of c·(c−1)/2 — the raw prefix
    *    co-occurrence pairs the exact join would enumerate — same byte
    *    weighting, read off the (gram, df-blocked) key populations of
    *    q19's OWN prefix stage without materializing the join. Costs the
    *    df TakeOrdered + one prefix pass (both vocabulary/corpus-linear);
    *    the stage's shingle pin is CAS-released before returning.
    *
    * Both estimates are upper-ish bounds of the same quantity for their
    * design, so comparing them is fair; at real fallback scale (the only
    * time Auto runs) the ~3 linear passes here are noise against the
    * hundreds of GB the wrong verify join shuffles (ROADMAP round 8:
    * melt ~200 GB on the template-heavy shape, ppjoin 17× the bytes on
    * the fat-Zipf-head shape).
    */
  private[graft] def q17FallbackEstimates(
      spark: SparkSession, docs: DataFrame, threshold: Double): Q17FallbackEstimates = {
    import spark.implicits._
    def pairBytes(keyed: DataFrame, keyCol: String, szCol: String): Double = {
      val r = keyed.groupBy(col(keyCol))
        .agg(count(lit(1)).as("c"), avg(col(szCol)).as("msz"))
        .agg(sum(($"c" * ($"c" - lit(1)) / lit(2)).cast("double") * $"msz" * lit(16.0)))
        .collect()(0)
      if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    }
    val meltBytes = pairBytes(q17BandRows(spark, docs, threshold), "bucket", "sz")
    val stages = q19StagesFromDocs(
      spark, docs.select(lit("_all").as("source"), col("doc_id"), col("text")),
      threshold, HotGramDf, HotGramBlock)
    val ppjBytes =
      try pairBytes(stages.distPrefixes(), "_1", "_3")
      finally stages.releaseOwnPin()
    Q17FallbackEstimates(meltBytes, ppjBytes)
  }

  /** Last Auto decision's estimates (test/probe observability, the
    * usedApproxDfOrder pattern): set only when a q17 call actually
    * reached the beyond-cap fallback with Q17Fallback.Auto.
    */
  private[graft] val lastQ17AutoEstimates =
    new java.util.concurrent.atomic.AtomicReference[Q17FallbackEstimates](null)

  /** q17: MinHash + LSH near-duplicate pairs with exact Jaccard ≥
    * `threshold` over 5-gram shingles.
    *
    * Plan (one pass over the corpus, no corpus-sized cache):
    *  1. text → shingles → 128-perm signature → 32 band-bucket rows per
    *     document (typed mapPartitions; shingle sets are never
    *     materialized into a column). The scan is repartitioned first —
    *     the parquet split count would otherwise cap the kernel's
    *     parallelism (q19 learned this in round 3).
    *  2. band-table SELF-JOIN on the bucket key → candidate pairs, with
    *     the EXACT length filter (J ≥ t ⇒ min(szA,szB) ≥ t·max) applied
    *     from shingle counts carried on the band rows (measured at
    *     sf0.1: 293k → 196k candidate rows).
    *  3. bounded candidate probe (q19's df-probe pattern): pair list and
    *     candidate shingle sets pulled once, under hard caps, then
    *     verified map-side from a broadcast — ZERO shuffle of shingle
    *     arrays. Past the caps the lazy distributed verify runs instead.
    *
    * Scale: the only corpus-sized movement is (bucket, doc_id, sz) rows —
    * 32 per document, never the text. Banding is calibrated (see
    * MinHashPerms) so the output equals the exact brute-force
    * J ≥ threshold pair set — the DuckDB oracle.
    *
    * Shape history, all measured at sf0.1 (5k docs / ~200k candidate
    * pairs — the pair set is ~40× larger than the corpus, which is what
    * makes broadcast-verify the right plan): round-3 band self-join +
    * two-sided shingle rejoin 2.5 s; round-4 corpus-wide shingle cache +
    * boxed groupByKey 3.4–3.8 s (the cache materialization cost more
    * than it saved — the r4 regression); round-5 alternatives: verify
    * joins that exchange array-laden rows 5–6 s, this shape ~1 s.
    *
    * Beyond the probe caps it picks the cheaper of two exact verify
    * designs from estimates taken at fallback time (`Q17Fallback.Auto`,
    * see `q17MinHashPairsImpl`).
    */
  def q17MinHashPairs(
      spark: SparkSession, sfDir: String, threshold: Double = 0.7): DataFrame =
    q17MinHashPairsImpl(spark, sfDir, threshold, 4 << 20, 16L << 20, Q17Fallback.Auto)

  /** q17 with injectable probe caps — MinHashSpec forces BOTH distributed
    * fallbacks (caps = 0) to keep each provably equal to the broadcast
    * path and to brute force.
    *
    * `fallback` picks the beyond-cap design (q17MinHashPairs always passes
    * Auto — see Q17Fallback/Q17FallbackEstimates; this Impl defaults to
    * Melt so cap-forcing specs pin one design). The round-8
    * scale probe measured the trade on two 100×-sf0.1-shaped corpora
    * (ROADMAP round 8), and NEITHER design dominates:
    *
    *  - pair-melt verify (default): shuffle ≈ 2·|banding candidates|·
    *    |shingle set|. Its candidate set is the banding's own (b=32,
    *    r=4 ⇒ S-curve midpoint J ≈ 0.42). On a TEMPLATE-HEAVY corpus
    *    (10% of 2.4M docs sharing 8 boilerplate tails, pairwise
    *    J ≈ 0.13 — far below threshold) collisions at 32·J⁴ ≈ 5e-3
    *    still banded ~30M spurious candidates → ~200 GB of array
    *    shuffle to verify-and-discard. Quadratic in template-family
    *    size: that shape needs the ppjoin.
    *  - exact-ppjoin escalation: immune to templates by construction
    *    (boilerplate grams are HOT; prefixes take the df-ascending,
    *    i.e. rare, end — template families generate no candidates).
    *    But on a fat-Zipf-head SHORT-DOC corpus (the driver's own
    *    ~45-word document shape), random pairs share enough mid-df
    *    grams that the prefix co-occurrence itself floods: measured
    *    405M raw prefix pairs → 354M distinct candidates at 150k docs
    *    vs banding's 21M — ~17× MORE array-verify bytes than the melt.
    *
    * Both are exact given their candidate sets; the choice is a bytes
    * question whose answer is corpus-dependent, so the public API
    * estimates both designs' bytes at fallback time and picks the
    * cheaper (Q17Fallback.Auto; ties and estimate failure → melt, the
    * operator's own banding semantics).
    */
  private[graft] def q17MinHashPairsImpl(
      spark: SparkSession, sfDir: String, threshold: Double,
      candCap: Int, shingleLongsCap: Long,
      fallback: Q17Fallback = Q17Fallback.Melt): DataFrame = {
    import spark.implicits._
    // fixed-N repartition: the one-file parquet split would otherwise cap
    // the signature pass's parallelism — and an N-less repartition(col)
    // is AQE-coalescible, which on a small corpus folds the CPU-heavy
    // signature stage back into ONE task (q19 measured the same effect:
    // 0.40 s single-task vs ~0.1 s across 32; AQE sizes by bytes and
    // cannot see the 128-perm CPU cost per row)
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
      .repartition(spark.sessionState.conf.numShufflePartitions, $"doc_id")

    // Band bucket rows (bandKeys); sz rides along for the length filter.
    // (Kernel extracted to q17BandRows so the Auto fallback estimator
    // observes the same bucket populations.)
    val bandRows = q17BandRows(spark, docs, threshold)

    // Candidate pairs from a band-table SELF-JOIN on the bucket key; the
    // length filter drops pairs no Jaccard ≥ t pair can violate, so the
    // output is unchanged. SHUFFLE_MERGE corrects a known-wrong
    // cardinality estimate rather than forcing a small-table plan: the
    // planner sizes this join from the parquet scan and cannot see the
    // 32× row blowup inside the typed signature pass, so it planned a
    // broadcast of the whole band table (measured slower at sf0.1,
    // driver-fatal at crawl scale). Pair blowup per bucket is O(b²) in
    // any formulation; bucket population is bounded by the calibration.
    val candidates = bandRows.select($"bucket", $"doc_id".as("doc_a"), $"sz".as("sz_a"))
      .join(
        bandRows.select($"bucket", $"doc_id".as("doc_b"), $"sz".as("sz_b"))
          .hint("SHUFFLE_MERGE"),
        Seq("bucket"))
      .where($"doc_a" < $"doc_b" &&
        least($"sz_a", $"sz_b").cast("double") >= lit(threshold) * greatest($"sz_a", $"sz_b"))
      .select($"doc_a", $"doc_b")

    // Bounded candidate probe (q19's df-probe pattern): ONE job pulls the
    // pair rows (duplicates included — a pair can collide in several
    // bands) under per-partition caps; dedup happens driver-side, so the
    // plan needs no distinct exchange on the fast path. A second
    // single-job bounded fetch pulls the candidate DOCS' shingle sets
    // (≤ 16M longs ≈ 128 MB total, per-partition capped) for a map-side
    // verify. Every structure pulled is hard-capped; past a cap the
    // distributed fallback below runs instead. Nothing is persisted — no
    // cache outlives the call (the r4 ADVICE item).
    val candRdd = candidates.as[(Long, Long)].rdd
    // Per-partition slice of the TOTAL cap, NOT a fat floor × partitions:
    // runJob materializes every partition's chunk on the driver before the
    // total check runs, so the real driver pull is Σ perPartCap — with the
    // old max(64k, cap/P·4) floor that was multi-GB at crawl-scale P even
    // when the totals would fail and fall back (ADVICE r5). Now
    // Σ perPartCap ≤ candCap + 64·P (an over-full partition returns an
    // empty chunk + sentinel, never its buffer), and the whole pull also
    // stays under spark.driver.maxResultSize instead of aborting the job.
    // Small-P skew headroom comes from candCap/P being huge there; at
    // large P a skewed partition now falls back — the safe direction.
    val perPartCap = math.max(64, candCap / math.max(1, candRdd.getNumPartitions))
    val chunks = spark.sparkContext.runJob(candRdd, (it: Iterator[(Long, Long)]) => {
      val buf = new ArrayBuffer[(Long, Long)](1024)
      var over = false
      while (it.hasNext && !over) {
        buf += it.next()
        if (buf.length > perPartCap) over = true
      }
      if (over) (true, Array.empty[(Long, Long)]) else (false, buf.toArray)
    })
    val pairsArr: Array[(Long, Long)] =
      if (chunks.exists(_._1) ||
          chunks.iterator.map(_._2.length.toLong).sum > candCap) null
      else {
        val seen = new java.util.HashSet[(Long, Long)](1 << 16)
        val out = new ArrayBuffer[(Long, Long)](1 << 16)
        chunks.foreach(_._2.foreach { p => if (seen.add(p)) out += p })
        out.toArray
      }

    val bcastPlan: Option[DataFrame] =
      if (pairsArr == null) None
      else {
        // distinct candidate doc ids, driver-side (≤ 2·candCap longs)
        val idSet = new java.util.HashSet[java.lang.Long](pairsArr.length * 2)
        pairsArr.foreach { case (a, b) => idSet.add(a); idSet.add(b) }
        val bcIds = spark.sparkContext.broadcast(idSet)
        val docsRdd = docs.as[(Long, String)].rdd
        // Per-partition slice of the total longs cap (same Σ-bounded
        // discipline as perPartCap above: the old 1M-long floor × 4 made
        // the driver pull P × floor at crawl-scale P); an overfull
        // partition emits a bare sentinel, not its buffer.
        val perPartLongs =
          math.max(1L << 12, shingleLongsCap / math.max(1, docsRdd.getNumPartitions))
        val shChunks = spark.sparkContext.runJob(docsRdd, (it: Iterator[(Long, String)]) => {
          val ids = bcIds.value
          val buf = new ArrayBuffer[(Long, Array[Long])](256)
          var longs = 0L
          var over = false
          while (it.hasNext && !over) {
            val (id, text) = it.next()
            if (ids.contains(id)) {
              // banding excludes null-text docs only when threshold > 0,
              // so a caller-supplied threshold ≤ 0 can put one here
              val sh = shingleHashes(text)
              longs += sh.length
              if (longs > perPartLongs) over = true else buf += ((id, sh))
            }
          }
          if (over) (true, Array.empty[(Long, Array[Long])]) else (false, buf.toArray)
        })
        bcIds.destroy()
        val totalLongs = shChunks.iterator.map(_._2.iterator.map(_._2.length.toLong).sum).sum
        if (shChunks.exists(_._1) || totalLongs > shingleLongsCap) None
        else {
          val shMap = new scala.collection.mutable.LongMap[Array[Long]](pairsArr.length * 2)
          shChunks.foreach(_._2.foreach { case (id, sh) => shMap(id) = sh })
          // DELIBERATELY not destroy()ed here: the returned plan is lazy,
          // so the broadcast must outlive this call; once the caller's
          // DataFrame is dereferenced the ContextCleaner GCs it. Lifetime
          // is bounded by the caps (≤ ~128 MB, one per live q17 result) —
          // do NOT add an eager destroy, it would break the lazy plan.
          val bc = spark.sparkContext.broadcast((pairsArr, shMap))
          // pairs stay DISTRIBUTED (they outnumber the docs ~40× at
          // sf0.1): each task verifies a slice against the broadcast
          val slices = spark.sparkContext.defaultParallelism * 2
          val verified = spark.createDataset(
            spark.sparkContext.range(0L, pairsArr.length.toLong, 1, slices))
            .mapPartitions { it =>
              val (ps, m) = bc.value
              it.flatMap { i =>
                val (a, b) = ps(i.toInt)
                val jac = exactJaccard(m(a), m(b))
                if (jac >= threshold) Iterator((a, b, jac)) else Iterator.empty
              }
            }
            .toDF("doc_a", "doc_b", "jaccard")
            .select($"doc_a", $"doc_b", round($"jaccard", 4).as("jaccard"))
          Some(verified)
        }
      }

    // Beyond-cap fallback — see the Impl scaladoc above for the measured
    // corpus-dependent trade between the two designs. Auto pays ~3 cheap
    // linear passes (bucket-population agg + df order + prefix agg) to
    // estimate both verify-shuffle byte counts before committing — at
    // the scales where the caps blow, the wrong choice costs hundreds of
    // GB of array shuffle (ROADMAP round 8).
    bcastPlan.getOrElse {
      val usePpjoin = fallback match {
        case Q17Fallback.Ppjoin => true
        case Q17Fallback.Melt   => false
        case Q17Fallback.Auto =>
          val est = q17FallbackEstimates(
            spark, Tables.documents(spark, sfDir).select($"doc_id", $"text"), threshold)
          lastQ17AutoEstimates.set(est)
          est.usePpjoin
      }
      if (usePpjoin)
        // exact prefix-filtered join (q19's engine, constant group):
        // the template-heavy-corpus shape
        q19StagesFromDocs(
          spark,
          Tables.documents(spark, sfDir)
            .select(lit("_all").as("source"), $"doc_id", $"text"),
          threshold, HotGramDf, HotGramBlock).result
      else {
        // pair-melt verify of the banding candidates: melt each pair
        // into its two (doc_id → pair) sides, map-side-join the
        // doc-unique shingle table, ONE exchange regroups by pair key.
        // Exact for the banding candidate set at any scale; the banding
        // subtree re-executes under the lazy reuse, trading time for
        // bounded driver memory.
        val candDf =
          if (pairsArr != null) spark.createDataset(pairsArr.toSeq).toDF("doc_a", "doc_b")
          else candidates.distinct()
        val candIds = candDf
          .select(explode(array($"doc_a", $"doc_b")).as("doc_id")).distinct()
        val candShingles = docs.join(candIds, "doc_id").as[(Long, String)]
          .map { case (id, text) => (id, shingleHashes(text)) }
          .toDF("doc_id", "shingles")
        val sides = candDf.select(
          $"doc_a", $"doc_b", explode(array($"doc_a", $"doc_b")).as("doc_id"))
        candShingles.join(sides, "doc_id")
          .select($"doc_a", $"doc_b", $"doc_id", $"shingles")
          .as[(Long, Long, Long, Array[Long])]
          .groupByKey { case (a, b, _, _) => (a, b) }
          .flatMapGroups { (key: (Long, Long), it: Iterator[(Long, Long, Long, Array[Long])]) =>
            var shA: Array[Long] = null
            var shB: Array[Long] = null
            it.foreach { case (_, _, id, sh) =>
              if (id == key._1) shA = sh else if (id == key._2) shB = sh
            }
            if (shA == null || shB == null) Iterator.empty
            else {
              val jac = exactJaccard(shA, shB)
              if (jac >= threshold) Iterator((key._1, key._2, jac)) else Iterator.empty
            }
          }
          .toDF("doc_a", "doc_b", "jaccard")
          .select($"doc_a", $"doc_b", round($"jaccard", 4).as("jaccard"))
      }
    }
  }

  /** SimHash (60-bit) per document over space-separated tokens:
    * near-identical docs differ in few bits. One typed map, zero shuffle.
    *
    * The per-token hash is the first 15 hex digits of md5 (60 bits — the
    * 61st..64th are skipped to keep the assembled value positive in a
    * BIGINT on both engines), making the whole operator reproducible in
    * ANSI SQL: the DuckDB oracle recomputes it from md5 hex digits.
    * Bit 4·k+j of the hash = bit j of hex digit k.
    */
  final val SimHashBits = 60

  def simHash60(md: java.security.MessageDigest, text: String): Long = {
    val acc = new Array[Int](SimHashBits)
    var start = 0
    val n = text.length
    var i = 0
    while (i <= n) {
      if (i == n || text.charAt(i) == ' ') {
        if (i > start) {
          md.reset()
          val dig = md.digest(
            text.substring(start, i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          var b = 0
          while (b < SimHashBits) {
            val hexIdx = b >> 2 // 0-based hex-digit index into the md5 hex string
            val by = dig(hexIdx >> 1)
            val d = if ((hexIdx & 1) == 0) (by >> 4) & 0xf else by & 0xf
            if (((d >> (b & 3)) & 1) == 1) acc(b) += 1 else acc(b) -= 1
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < SimHashBits) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def q18SimHash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        // null ≡ empty doc: zero tokens accumulate nothing → simhash 0,
        // exactly what simHash60 returns for "" (a null used to NPE)
        it.map { case (id, text) => (id, if (text == null) 0L else simHash60(md, text)) }
      }
      .toDF("doc_id", "simhash")
  }

  /** EXACT 5-gram-Jaccard similarity join within each `source` group,
    * computed ppjoin-style with PREFIX FILTERING — no all-pairs join
    * anywhere:
    *
    *  1. per document: distinct 5-gram shingle hashes (5-char shingles
    *     separate real near-dups from the tiny-vocab background — see
    *     MinHashPerms scaladoc);
    *  2. global document frequency per gram (one map-side-combined agg) —
    *     the global prefix order is (df asc, gram asc), so a document's
    *     prefix holds its RAREST grams;
    *  3. prefix filter (Chaudhuri/Xiao): two sets with J ≥ t must share a
    *     gram within each other's first |x| − ⌈t·|x|⌉ + 1 grams under any
    *     shared total order — candidates come from a self-join of prefix
    *     grams only, keyed by (source, gram), so hot grams (which df-order
    *     pushes OUT of prefixes) never explode the join;
    *  4. exact-Jaccard verify over the full shingle sets.
    *
    * Output = exactly the brute-force within-source J ≥ t pair set (the
    * DuckDB oracle), with candidate generation bounded by rare-gram
    * postings instead of group size².
    */
  def q19NgramJaccard(spark: SparkSession, sfDir: String, threshold: Double = 0.3): DataFrame =
    q19Stages(spark, sfDir, threshold).result

  /** q19's intermediate plans, exposed for the specs' stage-level checks
    * (the full call's cost is perfbench's `query.q19_ngram_jaccard.*`).
    * The distributed stages are thunks: when the small-group fast path
    * is chosen, constructing them — including the shingle cache (`docs`)
    * and the df broadcast probe job — is skipped entirely.
    * `usedApproxDfOrder` reports (after a distributed
    * stage has been forced) whether the prefix order came from the
    * top-K-hot approximate tier rather than the full exact df broadcast;
    * `approxOrderTailDfBound` is then dfK, the K-th hottest mapped df —
    * the proven upper bound on any UNMAPPED gram's true df (1 when the
    * order is exact everywhere).
    */
  private[graft] final case class JaccardStages(
      docs: () => DataFrame, distPrefixes: () => DataFrame, distRawPairs: () => DataFrame,
      distCandidates: () => DataFrame, distResult: () => DataFrame,
      result: DataFrame, usedLocalPlan: Boolean, usedApproxDfOrder: () => Boolean,
      approxOrderTailDfBound: () => Long,
      // release THIS call's shingle pin iff it is still the handoff-current
      // one (q19Pin.releaseIfCurrent — a concurrent call's swap already
      // released it). For callers that consume only intermediate stages
      // (the q17 Auto fallback estimator) and never execute `result`.
      releaseOwnPin: () => Unit)

  /** Fast-path bounds (per SOURCE group): the classic in-task ppjoin is
    * used only when every group fits one task's memory with margin —
    * mirroring Spark's own broadcast-vs-shuffle join decision. Beyond the
    * bounds (web-scale sources), the gram-parallel distributed plan runs.
    */
  final val SmallGroupMaxDocs = 8192
  final val SmallGroupMaxBytes = 64L << 20

  /** Per-source classic ppjoin, run inside ONE task per source group (the
    * q19 small-group fast path): local df order → probe/index prefixes →
    * inverted index with a candidate bitset (pairs deduped at generation,
    * no distinct shuffle) → inline sorted-array Jaccard verify. Exact:
    * the gram order only has to be shared WITHIN a source (pairs never
    * cross sources), and the candidate set provably covers every J ≥ t
    * pair by the same prefix-filter argument as the distributed plan.
    */
  private def localPPJoin(
      docsIt: Iterator[(String, Long, Array[Long])],
      threshold: Double
  ): Iterator[(Long, Long, Double)] = {
    val tf = threshold / (1 + threshold)
    // Zero-shingle docs (null/short text: < ShingleSize codepoints) can
    // never reach any positive threshold — and MUST be dropped here, not
    // just for speed: sz = 0 makes keepJ = 0 − 0 + 1 = 1, so the prefix
    // loops would index an EMPTY prefix array (one 4-char doc in a source
    // crashed the whole local plan). The distributed plan is naturally
    // safe (`take(keep)` over an empty iterator) and emits no prefix rows
    // for such docs — dropping them keeps the two plans' outputs equal,
    // spec-pinned by JaccardSpec's short/null-text case.
    val ds = docsIt.filter(_._3.nonEmpty).toArray
    val n = ds.length
    if (n < 2) return Iterator.empty
    // local document frequency per gram (shared order within the source)
    val df = new scala.collection.mutable.LongMap[Int](n * 64)
    ds.foreach { case (_, _, sh) =>
      var i = 0
      while (i < sh.length) { df(sh(i)) = df.getOrElse(sh(i), 0) + 1; i += 1 }
    }
    // ascending (sz, doc_id): record i of a pair (i, j<sorted) is smaller
    val ord = ds.sortBy { case (_, id, sh) => (sh.length, id) }
    // per doc: grams re-sorted by (df, gram); probe prefix = first keep
    val prefixes = ord.map { case (_, _, sh) =>
      val byDf = sh.clone()
      // sort by (df asc, gram asc) via packed comparator
      val boxed = byDf.map(g => (df(g).toLong, g))
      java.util.Arrays.sort(boxed, implicitly[Ordering[(Long, Long)]])
      boxed.map(_._2)
    }
    val index = new scala.collection.mutable.LongMap[ArrayBuffer[Int]](1 << 12)
    val cand = new java.util.BitSet(n)
    val out = new ArrayBuffer[(Long, Long, Double)]()
    var j = 0
    while (j < n) {
      val (_, idJ, shJ) = ord(j)
      val szJ = shJ.length
      val minszJ = math.ceil(szJ * threshold).toInt
      // cap at szJ: at threshold ≤ 0 the ppjoin bound is szJ + 1 (keep
      // everything); the distributed selectPrefix gets the same cap for
      // free from `take(keep)` on a length-szJ iterator
      val keepJ = math.min(szJ - minszJ + 1, szJ)
      val pj = prefixes(j)
      var g = 0
      while (g < keepJ) {
        index.get(pj(g)).foreach { lst =>
          var y = 0
          while (y < lst.length) { cand.set(lst(y)); y += 1 }
        }
        g += 1
      }
      var i = cand.nextSetBit(0)
      while (i >= 0) {
        val (_, idI, shI) = ord(i)
        if (shI.length >= minszJ) { // length filter (i ≤ j ⇒ szI ≤ szJ)
          val jac = exactJaccard(shI, shJ)
          if (jac >= threshold) {
            val a = math.min(idI, idJ); val b = math.max(idI, idJ)
            out += ((a, b, jac))
          }
        }
        i = cand.nextSetBit(i + 1)
      }
      cand.clear()
      // index only the INDEX prefix (asymmetric ppjoin bound)
      val idxKeepJ = math.min(szJ - math.ceil(2 * tf * szJ).toInt + 1, szJ)
      g = 0
      while (g < idxKeepJ) {
        index.getOrElseUpdate(pj(g), new ArrayBuffer[Int](4)) += j
        g += 1
      }
      j += 1
    }
    out.iterator
  }

  /** Hot-gram posting-list bound for the distributed q19 plan: a prefix
    * gram with df > HotGramDf is 2D-BLOCKED — its posting list is split
    * into ⌈df / HotGramBlock⌉ hash-blocks and each row is emitted once
    * per (ownBlock, otherBlock) pair key. Any two docs sharing the gram
    * then still share exactly one key (their block pair), so candidate
    * COVERAGE is unchanged — the exactness argument never weakens — while
    * a reducer buffers at most two blocks (≤ 2·HotGramBlock rows) instead
    * of the whole posting list. Duplicate pairs across keys die in the
    * existing distinct. (The sketch of "drop hot grams from prefixes"
    * was rejected: two docs whose prefixes intersect ONLY at hot grams —
    * mass-boilerplate pages — would lose their covering key.) Cost is
    * emission × ⌈df/block⌉ for hot rows, the price of keeping the
    * all-pairs semantics of a gram every document shares.
    */
  final val HotGramDf = 4096L
  final val HotGramBlock = 4096L

  /** q19's distributed-plan shingle pin (see [[PinSlot]]). */
  private val q19Pin = new PinSlot

  private[graft] def releaseQ19Cache(): Unit = q19Pin.release()

  private[graft] def q19Stages(spark: SparkSession, sfDir: String, threshold: Double): JaccardStages =
    q19StagesFromDocs(
      spark,
      Tables.documents(spark, sfDir).select(col("source"), col("doc_id"), col("text")),
      threshold, HotGramDf, HotGramBlock)

  /** q19 over an explicit (source, doc_id, text) DataFrame with
    * injectable hot-gram bounds — JaccardSpec drives a pathological
    * mass-boilerplate source through tiny bounds to prove the per-task
    * posting buffer stays bounded while the output equals brute force —
    * and an injectable df-broadcast cap forcing the approximate-order
    * tier.
    */
  private[graft] def q19StagesFromDocs(
      spark: SparkSession, docsIn: DataFrame, threshold: Double,
      hotGramDf: Long, hotGramBlock: Long,
      dfBroadcastMax: Int = 4 << 20 /* ~64 MB of (gram, df) pairs */): JaccardStages = {
    import spark.implicits._

    // Adaptive plan choice from CHEAP PRUNED AGGS over the raw input — no
    // shingle pass, no repartition, no cache: tier 1 reads ONLY the
    // `source` column (columnar scans never touch text); the text-length
    // tier runs just when the counts pass, i.e. exactly when the corpus is
    // small enough that a text scan is cheap. 8·chars ≥ 8·|distinct
    // grams|, so the byte check errs conservative (toward the distributed
    // plan). The round-5 shape derived the same stats from a shingled+
    // persisted corpus cache, which made the cache a cost of BOTH paths —
    // the local path (which never needs it) paid the repartition exchange,
    // the shingle pass, the persist write, and the cross-call cache
    // handoff before its single real job could start.
    val cnt = docsIn.groupBy($"source").agg(count(lit(1)).as("n"))
      .agg(max($"n")).collect()(0)
    val smallGroups = cnt.isNullAt(0) || (cnt.getLong(0) <= SmallGroupMaxDocs && {
      val by = docsIn.groupBy($"source").agg(sum(length($"text")).as("chars"))
        .agg(max($"chars") * 8L).collect()(0)
      by.isNullAt(0) || by.getLong(0) <= SmallGroupMaxBytes
    })

    // Local fast path: the WHOLE query is one exchange — raw (source,
    // doc_id, text) hash-partitioned by source with an EXPLICIT partition
    // count, sorted within partitions so each source's rows are
    // consecutive, then shingled + classic-ppjoined one group at a time.
    // NOT groupByKey/flatMapGroups: AQE coalesces that shuffle to ONE
    // partition on a small corpus (1.5 MB at sf0.1 is far under the
    // advisory size), which serializes every source's CPU-heavy ppjoin
    // into a single task — measured 2.1 s in one task vs ~0.3 s across 32.
    // A fixed-N repartition is exempt from AQE coalescing, and the
    // sort-based consecutive grouping buffers ONE group at a time (the
    // same discipline flatMapGroups has; a group is ≤ SmallGroupMaxBytes
    // by the stats gate). Null text shingles to empty and can never pair.
    lazy val localResult = {
      val nParts = spark.sessionState.conf.numShufflePartitions
      docsIn
        .repartition(nParts, $"source")
        .sortWithinPartitions($"source")
        .as[(String, Long, String)]
        .mapPartitions { it =>
          val rows = it.buffered
          new Iterator[Iterator[(Long, Long, Double)]] {
            def hasNext: Boolean = rows.hasNext
            def next(): Iterator[(Long, Long, Double)] = {
              val src = rows.head._1
              val group = new ArrayBuffer[(String, Long, Array[Long])](256)
              while (rows.hasNext && rows.head._1 == src) {
                val (s, id, text) = rows.next()
                group += ((s, id, shingleHashes(text)))
              }
              localPPJoin(group.iterator, threshold)
            }
          }.flatten
        }
        .toDF("doc_a", "doc_b", "jaccard")
        .select($"doc_a", $"doc_b", round($"jaccard", 4).as("jaccard"))
    }

    // ---- distributed path (web-scale sources) — everything below is
    // lazy and never constructed when the fast path carries the result.
    //
    // fixed-N repartition BEFORE shingling: the broadcast-df prefix plan
    // below has no exchange between the scan and the candidate join, so
    // the scan's split count caps parallelism for the whole chain (sf0.1
    // = one parquet file = one core without this; at 100 TB the scan
    // itself has the splits and this exchange coalesces nothing of
    // note). Fixed N because an N-less repartition(col) is
    // AQE-coalescible by BYTES, which folds the CPU-heavy shingle pass
    // to one task on a small corpus (the q17/q19-local lesson,
    // plan-asserted in PlanSpec).
    //
    // PERSISTED: four downstream consumers (df agg + probe, the prefix
    // pass, and both sides of the verify rejoin) would otherwise re-run
    // the scan+shingle chain — on a contended host every recomputation is
    // another window of interference exposure (the round-3 driver window
    // measured this query at 4× its quiet cost). At warehouse scale the
    // same reuse is a checkpointed intermediate table; the storage level
    // spills to disk so the cache never OOMs a task. The pin is a PLAIN
    // RDD behind a LogicalRDD barrier (see PinSlot): per-call-owned,
    // terminally releasable, safe against a concurrent sibling's swap.
    @volatile var ownPin: org.apache.spark.rdd.RDD[_] = null
    lazy val docs = {
      val r = docsIn
        .repartition(spark.sessionState.conf.numShufflePartitions, $"doc_id")
        .as[(String, Long, String)]
        .map { case (src, id, text) => (src, id, shingleHashes(text)) }
        .rdd
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ownPin = r
      // One cache may outlive this call (the returned plan is lazy), but
      // never more than one: each call releases the previous call's cache
      // (ADVICE r4 — Verify dumping all queries used to accumulate them).
      q19Pin.swap(r)
      spark.createDataset(r).toDF("source", "doc_id", "shingles")
    }

    lazy val grams = docs.select($"source", $"doc_id", explode($"shingles").as("gram"))
    lazy val df = grams.groupBy($"gram").agg(count(lit(1)).as("df"))

    // Per-doc prefix under the global (df, gram) order. CORRECTNESS only
    // needs a total order SHARED by all documents — any order yields the
    // exact J ≥ t pair set; (df asc, gram asc) is the heuristic that
    // minimizes candidates (rare grams land in prefixes). Two tiers, both
    // broadcast-shaped (prefixes are selected INSIDE the shingle pass,
    // zero extra shuffle):
    //
    //  - the df ≥ 2 gram set fits the broadcast cap (synthetic corpora;
    //    bounded real corpora): exact df order for EVERY gram — mapped
    //    grams carry their true df, and an unmapped gram really does
    //    have df = 1, with the same gram-hash tiebreak an explicit
    //    (1, gram) entry would get.
    //  - else (100 TB): APPROXIMATE order — the K hottest grams by EXACT
    //    df keep their true df, every unmapped gram is treated as df = 1
    //    and ordered by its hash. Output stays EXACT (the prefix filter
    //    needs any one total order SHARED by all docs — this is one);
    //    only the candidate count is heuristic. The honest posting-list
    //    bound (ADVICE r6): an unmapped gram's TRUE df is ≤ dfK, the
    //    K-th hottest multi-occurrence df (TakeOrdered is a global
    //    top-K), and dfK is NOT bounded by HotGramDf — an unmapped gram
    //    with df in (HotGramDf, dfK] is ordered as df = 1, can land in
    //    prefixes, and never triggers 2D blocking, so one reducer may
    //    buffer up to dfK posting rows for it. That is a CANDIDATE/
    //    MEMORY blowup risk only (never a correctness one), it requires
    //    > K distinct grams that each occur twice, and it is DETECTABLE
    //    AT BUILD TIME: dfK is in hand after the fetch (exposed as
    //    `approxOrderTailDfBound`), so a caller can compare it against
    //    HotGramDf and raise the cap when the tail runs hot. Hot-gram
    //    2D blocking keys off the SAME map, so blocking decisions agree
    //    across all docs sharing a gram.
    //
    // Neither tier sorts the corpus globally: the round-2 `row_number`
    // window shuffled AND fully sorted every (doc, gram, df) occurrence
    // twice (rank + size windows), the q19 regression (2.9 → 6.5 s at
    // sf0.1). The retired middle plan (hash-agg the (df, gram) pairs back
    // per doc via collect_list) paid two gram-table exchanges for an
    // order the top-K tier gets from one TakeOrdered.
    // Per record: sz = the doc's distinct-gram count; rem = sz − pos (the
    // positional filter's remaining-gram count); idx = whether the gram
    // also lies in the doc's shorter INDEX prefix (ppjoin's asymmetric
    // prefix, Xiao et al. 2008: a true pair must share a gram between the
    // larger doc's PROBING prefix — length sz − ⌈t·sz⌉ + 1 — and the
    // smaller doc's INDEX prefix — length sz − ⌈2t/(1+t)·sz⌉ + 1). Both
    // bounds are precomputed per ROW so pair generation below is pure
    // primitive compares.
    val tf = threshold / (1 + threshold)
    // Prefix rows are ALL-PRIMITIVE: the (source, gram) group key is
    // folded into one mixed 64-bit `key` (same collision envelope as the
    // 64-bit shingle hashes the whole operator's exactness already rides
    // on), `idx` is sign-packed into rem — so the exchange carries 4
    // longs/ints per row and encodes without a single object.
    def selectPrefix(srcHash: Long, id: Long, dg: Array[(Long, Long)]): Iterator[(Long, Long, Int, Int)] = {
      val sz = dg.length
      val minsz = math.ceil(sz * threshold).toInt
      val keep = sz - minsz + 1
      val idxMinRem = math.ceil(2 * tf * sz).toInt // rem ≥ this ⇔ in index prefix
      java.util.Arrays.sort(dg, implicitly[Ordering[(Long, Long)]])
      dg.iterator.take(keep).zipWithIndex
        .flatMap { case ((dfv, gram), pos) =>
          val rem = sz - pos
          // negative rem ⇔ gram also in the doc's INDEX prefix
          val remEnc = if (rem >= idxMinRem) -rem else rem
          val gk = mix(gram ^ srcHash)
          if (dfv <= hotGramDf) Iterator.single((gk, id, sz, remEnc))
          else {
            // hot gram: 2D-blocked keys (see HotGramDf scaladoc). Both
            // docs of any pair derive the same (lo, hi) block-pair key.
            val g = (((dfv - 1) / hotGramBlock) + 1).toInt
            val myBlk = ((mix(id) % g + g) % g).toInt
            (0 until g).iterator.map { other =>
              val lo = math.min(myBlk, other).toLong
              val hi = math.max(myBlk, other).toLong
              (mix(gk ^ (lo * 0x9e3779b97f4a7c15L + hi + 1L)), id, sz, remEnc)
            }
          }
        }
    }
    def sourceHash(src: String): Long =
      graft.functions.FnvHash64.hashUtf8(
        org.apache.spark.unsafe.types.UTF8String.fromString(src))
    @volatile var approxOrderUsed = false
    @volatile var approxTailDfBound = 0L
    lazy val prefixes: org.apache.spark.sql.Dataset[(Long, Long, Int, Int)] = {
      // ONE TakeOrdered job decides the tier AND fetches the order map.
      // df ≥ 2 prunes the singleton majority before the per-partition
      // top-K heaps (an unmapped singleton is ordered as df = 1 with the
      // gram-hash tiebreak — exactly what its explicit entry would say,
      // so pruning loses nothing); fetching K+1 rows makes truncation ⇔
      // the multi-occurrence set exceeds the cap ⇔ the order is
      // approximate past the K hottest grams. The r6 shape ran the df
      // agg subtree TWICE when the cap tripped (a plain limit-probe job
      // plus this TakeOrdered — at 100 TB the second pass is a full
      // corpus re-aggregation, VERDICT r6); the fold serves both tiers
      // and both outcomes from one job, at the price of per-partition
      // top-(K+1) heaps where the probe had none — heap entries are two
      // longs, ≤ 64 MB per task at the default cap.
      val fetched = df.filter($"df" >= 2L)
        .orderBy($"df".desc, $"gram".asc)
        .limit(dfBroadcastMax + 1)
        .as[(Long, Long)].collect()
      val truncated = fetched.length > dfBroadcastMax
      approxOrderUsed = truncated
      val kept = if (truncated) fetched.take(dfBroadcastMax) else fetched
      // dfK: every unmapped gram's true df is ≤ this (global top-K) —
      // the build-time observable behind the tail-boundedness caveat in
      // the tier comment above
      approxTailDfBound =
        if (truncated) kept.map(_._2).min
        else 1L
      val pairs = kept.sortBy(_._1)
      val gs = pairs.map(_._1)
      val ds = pairs.map(_._2)
      val bc = spark.sparkContext.broadcast((gs, ds))
      docs.as[(String, Long, Array[Long])].flatMap { case (src, id, sh) =>
        val (g, d) = bc.value
        selectPrefix(sourceHash(src), id, sh.map { x =>
          val i = java.util.Arrays.binarySearch(g, x)
          (if (i >= 0) d(i) else 1L, x)
        })
      }
    }

    // Candidate generation: group the prefix rows by (source, gram) and
    // enumerate pairs in a TIGHT PRIMITIVE LOOP per posting list. The
    // round-3 form expressed the same enumeration as a sort-merge
    // self-join; with hot keys (tiny synthetic vocabulary: ~2k distinct
    // grams, 19M raw combos at sf0.1) the join machinery paid ~300 ns of
    // row handling per combo — 6 s of the query's 7 s. Here a combo is a
    // few array reads and compares. Filters applied inside the loop, all
    // exact (output set unchanged):
    //  - length (J ≥ t ⇒ t·|A| ≤ |B|): sz-sorted postings + an advancing
    //    start pointer, so below-bound combos are never touched;
    //  - ppjoin positional: overlap c ≥ ⌈tf·(szA+szB)⌉ but c ≤
    //    min(remA, remB) at the shared gram (`int ≥ real` ⇔
    //    `int ≥ ceil(real)`: one multiply, no ceil);
    //  - asymmetric index prefix: the smaller record must hold the gram
    //    in its INDEX prefix (cuts combos ~38% at sf0.1).
    // Scale: the shuffle carries the same prefix rows the join shuffled;
    // one posting list is buffered per task (df-ordering pushes hot grams
    // OUT of prefixes, bounding lists — the same property the join's
    // per-key buffering relied on; a pathological key would need the
    // documented hot-gram cap). Pair dedup across keys stays in
    // `.distinct()`, fed by already-filtered pairs.
    lazy val rawPairs = prefixes
      .groupByKey(_._1)
      .flatMapGroups { (_: Long, it: Iterator[(Long, Long, Int, Int)]) =>
        val buf = new ArrayBuffer[(Long, Long, Int, Int)](64)
        it.foreach(buf += _)
        val n = buf.length
        if (n < 2) Iterator.empty
        else {
          // sort by (sz, doc_id): recs[i] is the "smaller" side of pair (i, j)
          val arr = buf.toArray
          java.util.Arrays.sort(arr, Ordering.by((r: (Long, Long, Int, Int)) => (r._3, r._2)))
          val ids = new Array[Long](n)
          val szs = new Array[Int](n)
          val rems = new Array[Int](n) // negative ⇔ index-prefix member
          var x = 0
          while (x < n) {
            val r = arr(x); ids(x) = r._2; szs(x) = r._3; rems(x) = r._4; x += 1
          }
          val out = new ArrayBuffer[(Long, Long)](n)
          var start = 0
          var j = 1
          while (j < n) {
            val szJ = szs(j)
            val remJ = math.abs(rems(j))
            val minszJ = math.ceil(szJ * threshold).toInt
            while (szs(start) < minszJ) start += 1 // monotone in j
            var i = start
            while (i < j) {
              if (rems(i) < 0) { // index-prefix member
                val remI = -rems(i)
                val m = if (remI < remJ) remI else remJ
                if (m >= (szs(i) + szJ) * tf) {
                  val a = ids(i); val b = ids(j)
                  out += (if (a < b) (a, b) else (b, a))
                }
              }
              i += 1
            }
            j += 1
          }
          out.iterator
        }
      }
      .toDF("doc_a", "doc_b")
    lazy val candidates = rawPairs.distinct()

    lazy val distResult = {
      // source carried into the verify: the folded 64-bit (source, gram)
      // key means a collision COULD merge groups across sources, so the
      // per-source contract is re-checked here where it costs one string
      // compare per candidate — collisions can only add verify work,
      // never wrong output (ADVICE r4).
      val sh = docs.select($"source", $"doc_id", $"shingles")
      candidates
        .join(sh.toDF("src_a", "doc_a", "sh_a"), "doc_a")
        .join(sh.toDF("src_b", "doc_b", "sh_b"), "doc_b")
        .filter($"src_a" === $"src_b")
        .select($"doc_a", $"doc_b", $"sh_a", $"sh_b")
        .as[(Long, Long, Array[Long], Array[Long])]
        .map { case (a, b, shA, shB) => (a, b, exactJaccard(shA, shB)) }
        .toDF("doc_a", "doc_b", "jaccard")
        .filter($"jaccard" >= threshold)
        .select($"doc_a", $"doc_b", round($"jaccard", 4).as("jaccard"))
    }

    JaccardStages(() => docs, () => prefixes.toDF(), () => rawPairs, () => candidates,
      () => distResult,
      if (smallGroups) localResult else distResult, usedLocalPlan = smallGroups,
      usedApproxDfOrder = () => approxOrderUsed,
      approxOrderTailDfBound = () => approxTailDfBound,
      releaseOwnPin = () => q19Pin.releaseIfCurrent(ownPin))
  }

  /** Document fingerprint, winnowing flavor: whole-content hash + the
    * minimum hash over the document's 5-char shingles (the standard
    * winnowing selection at window = whole document). Hashes are md5 so
    * the operator is reproducible in ANSI SQL (the DuckDB oracle). The
    * min is computed by the native `min_md5_shingle` expression — ONE
    * streaming pass, O(k) memory per row; the round-2 declarative
    * transform/array_min form materialized an O(|text|) array of md5
    * strings per row (13.7 s at sf0.1, OOM risk on long pages — see
    * MinMd5Shingle's scaladoc). The pipeline's 64-bit rolling NgramHash
    * variant of the same idea lives in FilterPipeline (text_hash) and
    * fnv_hash64.
    */
  def q24Fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        md5(col("text").cast("binary")).as("content_hash"),
        graft.functions.MinMd5Shingle(col("text"), 5).as("min_shingle"))
}
