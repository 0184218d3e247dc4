package graft

import graft.lang.{Detector, DetectorConfig}
import graft.operators.TextOps
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based fuzz gate over the detector and the typed text kernels
  * (VERDICT r6 #2): the r6 example-based crash sweep found 7 real crash
  * sites AFTER five rounds of green oracles — the oracle gate never sees
  * hostile inputs because the synthetic testdata is clean. This suite
  * generates the inputs a real crawl contains and the generator space the
  * reference's own invalid-input tests sample by hand
  * (reference: tests/detector.rs:256-260 — gibberish, digits, empty):
  * arbitrary Unicode including astral planes, unassigned code points,
  * noncharacters, combining-only runs, zero-length strings, and UNPAIRED
  * SURROGATES (valid Java strings, invalid UTF-16 — web text contains
  * them after naive truncation).
  *
  * Deterministic by construction: every sample comes from
  * `Gen.pureApply` with a fixed per-index seed — a failure reproduces by
  * index, no flaky shrinking, no wall-clock dependence.
  *
  * Contracts asserted, for every sample:
  *  - no crash (the only way any of these kernels may react to garbage
  *    is a well-formed result);
  *  - determinism: same input → same output, both on a REUSED kernel
  *    (scratch-state leakage between calls) and on a FRESH one
  *    (hidden-global leakage);
  *  - domain invariants: confidence ∈ [0, 1] and never NaN, shingles
  *    strictly ascending (sorted distinct), simhash confined to its 60
  *    bits, minhash signature exactly MinHashPerms wide;
  *  - null ≡ empty where the convention applies (detector).
  */
class FuzzSpec extends AnyFunSuite {

  private val Samples = 600

  /** Code-point classes a crawl actually serves, weighted toward the
    * hostile end. Every value in 0..0x10FFFF is a valid argument to
    * Character.toChars — including the surrogate range, which yields the
    * lone (unpaired) UTF-16 unit.
    */
  private val nastyCp: Gen[Int] = Gen.frequency(
    4 -> Gen.const(' '.toInt), // token boundaries for word-level kernels
    6 -> Gen.choose(0x21, 0x7e), // printable ASCII
    2 -> Gen.choose(0x00, 0x1f), // C0 controls (NUL included)
    3 -> Gen.choose(0xa0, 0x2ff), // Latin-1 / extended
    3 -> Gen.choose(0x300, 0x36f), // combining marks (combining-ONLY runs)
    2 -> Gen.oneOf(0x5d0, 0x631, 0x4e2d, 0x930, 0xe01, 0x10d0, 0xac00), // scripts
    2 -> Gen.choose(0x1f300, 0x1f9ff), // emoji (astral)
    1 -> Gen.choose(0x10400, 0x1044f), // Deseret (supplementary letters)
    1 -> Gen.oneOf(0xfdd0, 0xfffe, 0xffff, 0x1fffe, 0x10fffe), // noncharacters
    1 -> Gen.choose(0xe0100, 0xe01ef), // variation selectors (plane 14)
    1 -> Gen.choose(0x323b0, 0x3fffd), // unassigned plane-3 tail
    1 -> Gen.const(0x10ffff), // the last code point
    2 -> Gen.choose(0xd800, 0xdfff) // LONE SURROGATES (invalid UTF-16)
  )

  private val nastyString: Gen[String] = for {
    // length classes: empty, single cp, short, and LONG (the detector
    // switches to its word-gram plan past the maxTrigrams cutoff — both
    // plans must survive the same garbage)
    n <- Gen.frequency(1 -> Gen.const(0), 1 -> Gen.const(1),
      6 -> Gen.choose(2, 80), 2 -> Gen.choose(81, 400))
    cps <- Gen.listOfN(n, nastyCp)
  } yield {
    val sb = new java.lang.StringBuilder(n * 2)
    cps.foreach(cp => sb.append(Character.toChars(cp)))
    sb.toString
  }

  private def sample(i: Int): String =
    nastyString.pureApply(Gen.Parameters.default, Seed(0x5eed0000L + i))

  private lazy val inputs: Vector[String] = (0 until Samples).map(sample).toVector

  test("detector: no crash, deterministic, confidence in [0,1], null == empty") {
    val model = graft.train.FixtureCorpus.model
    val reused = new Detector(model, DetectorConfig.default)
    inputs.zipWithIndex.foreach { case (s, i) =>
      val a = reused.detectWithConfidence(s)
      val b = reused.detectWithConfidence(s) // scratch-state leakage
      val c = new Detector(model, DetectorConfig.default).detectWithConfidence(s)
      assert(a == b && a == c, s"sample $i not deterministic: $a / $b / $c")
      assert(a._1 != null && a._1.nonEmpty, s"sample $i: empty lang")
      assert(!a._2.isNaN && a._2 >= 0.0 && a._2 <= 1.0,
        s"sample $i: confidence ${a._2} out of range for lang ${a._1}")
    }
    assert(reused.detectWithConfidence(null) == reused.detectWithConfidence(""),
      "null text must behave exactly like the empty string")
  }

  test("shingleHashes: no crash, deterministic, strictly ascending, bounded length") {
    inputs.zipWithIndex.foreach { case (s, i) =>
      val a = TextOps.shingleHashes(s)
      val b = TextOps.shingleHashes(s)
      assert(java.util.Arrays.equals(a, b), s"sample $i not deterministic")
      val nCps = s.codePointCount(0, s.length)
      assert(a.length <= math.max(0, nCps - TextOps.ShingleSize + 1),
        s"sample $i: ${a.length} shingles from $nCps code points")
      var j = 1
      while (j < a.length) {
        assert(a(j - 1) < a(j), s"sample $i: shingles not sorted-distinct at $j")
        j += 1
      }
    }
  }

  test("simhash: no crash, deterministic, confined to its 60 bits") {
    val md = java.security.MessageDigest.getInstance("MD5")
    inputs.zipWithIndex.foreach { case (s, i) =>
      val a = TextOps.simHash60(md, s)
      val b = TextOps.simHash60(md, s)
      assert(a == b, s"sample $i not deterministic")
      assert((a & ~((1L << 60) - 1)) == 0L, s"sample $i: bits above 60 set in $a")
    }
  }

  test("minhash signature: no crash, deterministic, full width") {
    inputs.zipWithIndex.foreach { case (s, i) =>
      val sh = TextOps.shingleHashes(s)
      val a = TextOps.minHashSignature(sh)
      val b = TextOps.minHashSignature(sh)
      assert(a.length == TextOps.MinHashPerms, s"sample $i: width ${a.length}")
      assert(java.util.Arrays.equals(a, b), s"sample $i not deterministic")
    }
  }

  test("pipeline kernel: fused detect+quality+scrub survives the fuzz batch, deterministic") {
    import graft.pipeline.FilterPipeline
    val model = graft.train.FixtureCorpus.model
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def runAll(): Vector[FilterPipeline.DocResult] =
      FilterPipeline.processPartition(model, DetectorConfig.default,
        (inputs :+ null).zipWithIndex.iterator
          .map { case (s, i) => (s"https://h$i.example/p", ts, s) }).toVector
    val a = runAll()
    val b = runAll() // reused scratch state (wordFreq epochs, detector buffers)
    assert(a == b, "pipeline kernel not deterministic across partition replays")
    a.zipWithIndex.foreach { case (r, i) =>
      assert(r.scrubbed_text != null, s"sample $i: null scrubbed text")
      assert(!r.confidence.isNaN && r.confidence >= 0.0 && r.confidence <= 1.0,
        s"sample $i: confidence ${r.confidence}")
      assert(r.word_count >= 0 && r.n_lines >= 0 && r.max_line_len >= 0, s"sample $i: negative stat")
      assert(r.repetition_ratio >= 0.0 || r.word_count == 0,
        s"sample $i: repetition ${r.repetition_ratio} with ${r.word_count} words")
    }
  }

  test("extractText: arbitrary bytes (including invalid UTF-8) never crash") {
    import graft.pipeline.FilterPipeline
    val rawBytes: Gen[Array[Byte]] = for {
      n <- Gen.choose(0, 200)
      bs <- Gen.listOfN(n, Gen.choose(-128, 127).map(_.toByte))
    } yield bs.toArray
    (0 until 200).foreach { i =>
      val bytes = rawBytes.pureApply(Gen.Parameters.default, Seed(0xb17e5L + i))
      val a = FilterPipeline.extractText(bytes)
      assert(a != null && a == FilterPipeline.extractText(bytes), s"byte sample $i")
    }
    // and the UTF-8 encodings of the hostile strings, wrapped as pages
    inputs.take(150).zipWithIndex.foreach { case (s, i) =>
      val page = ("<html><p>" + s + "</p></html>")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val t = FilterPipeline.extractText(page)
      assert(t != null, s"page sample $i")
    }
  }

  test("scrubber: no crash and deterministic over the whole fuzz batch (plus null)") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    val df = (inputs.zipWithIndex.map { case (s, i) => (i.toLong, s) } :+
      ((Samples.toLong, null.asInstanceOf[String])))
      .toDF("doc_id", "text")
      .select($"doc_id", TextOps.scrubCol($"text").as("scrubbed"))
    val once = df.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val twice = df.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(once == twice, "scrub not deterministic across runs")
    assert(once(Samples.toLong) == null, "null text must scrub to null")
    assert(once.size == Samples + 1)
  }
}
