package graft.lang

import org.scalatest.funsuite.AnyFunSuite

/** Unit parity against the reference's mock-model oracle
  * (reference: src/detector/mock_tests.rs) — these give exact expected
  * values, the strongest parity check without the released model binary.
  */
class DetectorSpec extends AnyFunSuite {
  private val model = MockModels.englishAndGerman
  private val en = ScriptLang.id("eng")
  private val de = ScriptLang.id("deu")
  private def round2(x: Double): Double = math.round(x * 100.0) / 100.0

  private def detectorEnDe =
    new Detector(model, DetectorConfig.default.copy(languages = Set(en, de)))
  private def detectorAll = new Detector(model, DetectorConfig.default)

  test("mock model ngram lookup returns stored ln probabilities") {
    // reference: src/detector/mock_tests.rs:95-135
    val cases = Seq(
      (en, "a", 0.01), (en, "lt", 0.12), (en, "ter", 0.21), (en, "alte", 0.25),
      (en, "alter", 0.29), (de, "t", 0.08), (de, "er", 0.18), (de, "alt", 0.22),
      (de, "lter", 0.28), (de, "alter", 0.3)
    )
    cases.foreach { case (lang, ngram, expected) =>
      val table = model.charTables(ngram.length - 1)
      val slot = table.find(NgramHash.ofString(ngram))
      assert(slot >= 0, s"ngram $ngram not found")
      val st = table.starts(slot)
      val probs = (0 until table.lens(slot))
        .map(j => table.postLangs(st + j).toInt -> table.postProbs(st + j).toDouble)
        .toMap
      assert(math.abs(probs(lang) - math.log(expected)) < 1e-6, s"$ngram/$lang")
    }
  }

  test("floors: per-lang char floor ln(1/#uni) normalized, wordgram floor min*4") {
    // reference: src/bin_storage.rs:48-51,60,100-110
    val rawEn = math.log(1.0 / 7) // 7 English unigrams
    val rawDe = math.log(1.0 / 6)
    val norm = rawDe + 0.05 // max floor + 0.05
    assert(math.abs(model.charFloors(en) - (rawEn - norm)) < 1e-12)
    assert(math.abs(model.charFloors(de) - (rawDe - norm)) < 1e-12)
    assert(math.abs(model.wordgramFloor - math.log(0.29) * 4.0) < 1e-12)
    assert(model.wordgramFloor < 0.0 && !model.wordgramFloor.isNegInfinity)
  }

  test("probabilities_relative parity cases") {
    // reference: src/detector/mock_tests.rs:198-221
    val d = detectorEnDe
    def rel(text: String): Seq[(Int, Double)] =
      d.probabilitiesRelative(text).map(s => s.langId -> round2(s.prob)).toSeq

    assert(rel("groß") == Seq(de -> 1.0), "language detected by alphabet rules")
    assert(rel("Alter") == Seq(de -> 0.61, en -> 0.39), "known ngrams")
    assert(rel("k") == Seq(en -> 1.0), "english-only ngrams")
    assert(rel("o") == Seq(en -> 0.5, de -> 0.5), "unique ngrams, tie")
    assert(rel("проарплап") == Seq(), "unknown script filtered out")
  }

  test("no-model script falls back to prefilter-only uniform") {
    // reference: src/detector/mock_tests.rs:226-240 ("ꨕ" → Cham 0.5/0.5)
    val d = detectorAll
    val rel = d.probabilitiesRelative("ꨕ").map(s => ScriptLang.code(s.langId) -> round2(s.prob)).toSeq
    assert(rel == Seq("cja" -> 0.5, "cjm" -> 0.5))
  }

  test("detect_top_one_raw parity") {
    // reference: src/detector/mock_tests.rs:242-275
    assert(detectorEnDe.detectTopOneRaw("Alter") == Some(de))
    assert(detectorEnDe.detectTopOneRaw("проарплап") == None)
    assert(detectorAll.detectTopOneRaw("ꨕ") == Some(ScriptLang.id("cja")))
    assert(detectorAll.detectTopOneOrNone("ꨕ", 0.0) == None)
  }

  test("invalid inputs yield no result") {
    // reference: tests/detector.rs:256-260
    val d = detectorAll
    Seq("", " \n  \t;", "3<856%)§").foreach { t =>
      assert(d.detectTopOneRaw(t) == None, s"'$t'")
    }
    // null ≡ empty (crawl rows carry null text; q21's typed map passes
    // it through unchecked — every entry point must survive it)
    assert(d.detectTopOneRaw(null) == None)
    assert(d.detectWithConfidence(null) == (("und", 0.0)))
  }

  test("max_trigrams mode still detects short words") {
    // reference: tests/detector.rs:262-274
    val d = new Detector(model, DetectorConfig.default.copy(languages = Set(en, de)).maxTrigrams)
    assert(d.detectTopOneRaw("bed").isDefined)
    assert(d.detectTopOneRaw("be").isDefined)
    assert(d.detectTopOneRaw("b").isDefined)
    assert(d.detectTopOneRaw("").isEmpty)
  }

  test("ngram dedup per size: repeated ngrams counted once; wordgrams not deduped") {
    // reference: src/ngrams.rs:34-43 vs src/detector/mod.rs:290-296
    val d = detectorEnDe
    // "oo" → unigram 'o' deduped → one hit; wordgram "oo" absent
    val probsOnce = d.probabilities("o")
    val probsTwice = d.probabilities("o o o")
    // same mean (dedup for chars; wordgram "o" not in model, no extra count)
    assert(probsOnce.map(s => (s.langId, s.prob)) == probsTwice.map(s => (s.langId, s.prob)))
  }

  test("hit counts are 0 after a call that probed nothing") {
    val d = detectorEnDe
    d.detectInPlace("Alter")
    assert(d.lastHitCount(de) > 0)
    d.detectInPlace("groß") // single candidate: answered without probing
    assert(d.lastProbedCount == 0)
    assert(d.lastHitCount(de) == 0)
    d.detectInPlace("Alter")
    d.detectInPlace("")
    assert(d.lastHitCount(de) == 0 && d.lastHitCount(en) == 0)
  }

  test("tokenizer: combining marks dropped, case folded, punctuation splits") {
    val buf = new Tokenizer.TokenBuf
    Tokenizer.tokenizeInto("indi̇vi̇si̇bi̇li̇ty I'm 3<8%", buf)
    assert((0 until buf.nWords).map(buf.wordString) == Seq("indivisibility", "i", "m"))
  }

  test("determinism: repeated detection yields one answer") {
    // reference: tests/detector.rs:187-213
    val d = detectorEnDe
    val results = (1 to 100).map(_ => d.detectTopOneRaw("Alter")).toSet
    assert(results.size == 1)
  }

  test("builder: ngram-size set replace + sorted-unique merge") {
    // mirrors the reference's merge test (src/ngram_size.rs:60-85):
    // {Tri,Bi} merged with {Five,Uni,Bi,Quadri,Word} → all six, in order
    val base = DetectorConfig.default.longNgrams(2, 1)
    assert(base.longSizes.toSeq == Seq(1, 2))
    val merged = base.longNgramsAdd(4, 0, 1, 3, 5)
    assert(merged.longSizes.toSeq == Seq(0, 1, 2, 3, 4, 5))
    // replace semantics: shortNgrams discards the previous set
    assert(merged.shortNgrams(5, 2).shortSizes.toSeq == Seq(2, 5))
    // the merged config still detects (wordgrams-last invariant holds)
    val d = new Detector(model, merged.withLanguages("eng", "deu"))
    assert(d.detectTopOneRaw("Alter").map(ScriptLang.code).contains("deu"))
  }

  test("ProbTable per-slot language masks across word boundaries") {
    // postings whose lang ids straddle 64-bit mask words (63, 64, 129)
    // must each be reachable through anyLangIn; a candidate mask with
    // only unrelated bits set must report false for every slot
    val b = new ProbTable.Builder(nKeys = 2, nPostings = 3)
    b.add(NgramHash.ofString("xq"), Array(63, 64), Array(-1.0, -2.0))
    b.add(NgramHash.ofString("zw"), Array(129), Array(-3.0))
    val t = b.result()
    assert(t.maskWords == 3) // covers id 129
    def mk(ids: Int*): Array[Long] = {
      val m = new Array[Long](ScriptLang.MaskWords)
      ids.foreach(i => m(i >> 6) |= 1L << (i & 63))
      m
    }
    val sXq = t.find(NgramHash.ofString("xq"))
    val sZw = t.find(NgramHash.ofString("zw"))
    assert(sXq >= 0 && sZw >= 0)
    assert(t.anyLangIn(sXq, mk(63)))
    assert(t.anyLangIn(sXq, mk(64)))
    assert(t.anyLangIn(sZw, mk(129)))
    assert(!t.anyLangIn(sXq, mk(0, 62, 65, 129)))
    assert(!t.anyLangIn(sZw, mk(63, 64, 128, 130)))
    // a narrower candidate mask than the table's width is legal: ids
    // beyond its length simply cannot match
    assert(t.anyLangIn(sXq, Array(0L, 1L))) // bit 64
    assert(!t.anyLangIn(sZw, Array(-1L, -1L))) // id 129 beyond 2 words
  }
}
