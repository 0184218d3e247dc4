package graft.lang

import graft.train.{FixtureCorpus, GoldenFixtures}
import org.scalatest.funsuite.AnyFunSuite

/** The reference's softmax (src/detector/mod.rs:467-510), restated here
  * over the sorted raw `probabilities` list: the detector's one in-place
  * softmax must reproduce it through both `probabilitiesRelative` and
  * `confidenceOfInPlace`.
  */
class SoftmaxSpec extends AnyFunSuite {

  /** (special case taken, relative distribution) of a sorted raw list. */
  private def oracle(probs: Seq[Scored]): (String, Seq[(Int, Double)]) =
    if (probs.isEmpty) ("empty", Seq.empty)
    else if (probs.head.prob == 0.0) {
      val zeros = probs.takeWhile(_.prob == 0.0)
      ("zero top", zeros.map(s => s.langId -> 1.0 / zeros.size))
    } else if (probs.head.prob == Double.NegativeInfinity)
      ("-inf top", probs.map(s => s.langId -> 1.0 / probs.size))
    else {
      val exps = probs.map(s => s.langId -> math.exp(s.prob))
      val sum = exps.foldLeft(0.0)(_ + _._2)
      if (sum == 0.0) ("zero exp-sum", Seq(probs.head.langId -> 1.0))
      else ("softmax", exps.map { case (l, e) => l -> e / sum })
    }

  /** Checks one text; returns the special case it took. */
  private def check(det: Detector, text: String): String = {
    val raw = det.probabilities(text).toSeq
    val (kind, want) = oracle(raw)
    val got = det.probabilitiesRelative(text).map(s => s.langId -> s.prob).toSeq
    assert(got == want, s"'$text' ($kind)")
    // same in-place result: bit-identical per language, 0.0 off the list
    raw.foreach { s =>
      val p = want.collectFirst { case (l, p) if l == s.langId => p }.getOrElse(0.0)
      assert(det.confidenceOfInPlace(s.langId) == p, s"'$text' ${ScriptLang.code(s.langId)}")
    }
    // a fresh unsorted result sums the exp-sum in another order
    det.detectInPlace(text)
    want.foreach { case (l, p) =>
      assert(math.abs(det.confidenceOfInPlace(l) - p) <= 1e-12, s"'$text' fresh")
    }
    kind
  }

  test("golden texts: probabilitiesRelative and confidenceOfInPlace equal the oracle") {
    val det = new Detector(FixtureCorpus.model, DetectorConfig.default)
    val texts = GoldenFixtures.cases.map(_._2) ++ GoldenFixtures.determinismCases.map(_._1)
    val kinds = texts.map(check(det, _)).toSet
    assert(kinds.contains("softmax") && kinds.contains("zero top"), kinds)
  }

  test("every special case, on the mock model and a model deep enough to underflow exp") {
    val mock = MockModels.englishAndGerman
    val enDe = DetectorConfig.default.withLanguages("eng", "deu")
    val mockEnDe = new Detector(mock, enDe)
    assert(check(mockEnDe, "Alter") == "softmax")
    assert(check(mockEnDe, "groß") == "zero top")
    assert(check(mockEnDe, "проарплап") == "empty")
    assert(check(new Detector(mock, DetectorConfig.default), "ꨕ") == "-inf top")
    // mean ln-probs near −800: every exp() is 0.0
    def deep(lnProb: Double): Array[Map[String, Double]] =
      Map("a" -> lnProb) +: Array.fill(5)(Map.empty[String, Double])
    val underflow = PackedModel.fromModels(Seq(
      ScriptLang.id("eng") -> deep(-800.0), ScriptLang.id("deu") -> deep(-801.0)))
    assert(check(new Detector(underflow, enDe), "a") == "zero exp-sum")
  }
}
