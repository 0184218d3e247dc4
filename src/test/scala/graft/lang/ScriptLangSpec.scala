package graft.lang

import graft.train.{FixtureCorpus, GoldenFixtures, Trainer}
import org.scalatest.funsuite.AnyFunSuite

/** Registry + fixture-vocabulary invariants. The vocabularies are authored
  * from orthography knowledge, and the trainer SILENTLY drops any word with
  * a char outside its language's declared alphabet — a typo in either the
  * alphabet or a word would quietly shrink that language's model. This spec
  * makes those drops loud.
  */
class ScriptLangSpec extends AnyFunSuite {

  test("registry: unique codes, valid script names, lowercase alphabets") {
    val codes = ScriptLang.all.map(_.code)
    assert(codes.distinct.size == codes.size, "duplicate language codes")
    assert(ScriptLang.MaskWords == (ScriptLang.count + 63) / 64, "mask width follows registry size")
    ScriptLang.all.foreach { l =>
      assert(l.scripts.nonEmpty, s"${l.code}: no scripts")
      l.scripts.foreach { s =>
        // must be a real Character.UnicodeScript name (throws otherwise)
        Character.UnicodeScript.valueOf(s)
      }
      l.alphabet.foreach { cp =>
        assert(Character.toLowerCase(cp) == cp, s"${l.code}: non-lowercase U+${cp.toHexString}")
      }
    }
  }

  test("every golden language is registered; every golden word trains in its language") {
    GoldenFixtures.cases.foreach { case (lang, text, _) =>
      assert(ScriptLang.all.exists(_.code == lang), s"golden lang $lang unregistered")
    }
    // a raw golden case for a MODELED language must contribute at least one
    // training word under its own language's filter (otherwise the case
    // passes/fails on other languages' models only)
    val modeled = FixtureCorpus.vocab.keySet
    val buf = new Tokenizer.TokenBuf
    def words(text: String): Seq[String] = {
      Tokenizer.tokenizeInto(text, buf)
      (0 until buf.nWords).map(buf.wordString)
    }
    GoldenFixtures.cases.filter(c => modeled(c._1)).foreach { case (lang, text, _) =>
      val id = ScriptLang.id(lang)
      val inVocab = FixtureCorpus.vocab(lang).exists { w =>
        words(text.toLowerCase).contains(w)
      }
      if (inVocab) {
        val kept = words(text).exists(w =>
          w.codePoints().allMatch(cp => ScriptLang.belongs(id, cp)) ||
            ScriptLang.all(id).scripts == Set("HAN"))
        assert(kept, s"$lang golden '$text' is dropped by its own alphabet filter")
      }
    }
  }

  test("authored vocabularies survive their own alphabet filter (>= 95% per language)") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val buf = new Tokenizer.TokenBuf
    FixtureCorpus.vocab.foreach { case (lang, words) =>
      val id = ScriptLang.id(lang)
      val dropped = words.filter(w => Trainer.trainingWords(id, w, buf).isEmpty)
      val kept = words.size - dropped.size
      val frac = kept.toDouble / words.size
      if (frac < 0.95)
        failures += f"$lang: only $kept/${words.size} ($frac%.2f) words pass the filter: " +
          dropped.take(5).mkString(",")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("supplementary-plane block cache matches the declarative membership definition") {
    // one representative letter per supplementary-plane script in the
    // registry, plus block-boundary and non-letter neighbours; query each
    // TWICE so the second read exercises the cached path
    val samples = Seq(
      0x10400, 0x10450, 0x104B0, 0x10C00, 0x10C80, 0x10E80, 0x11003, 0x11183,
      0x11200, 0x11400, 0x11600, 0x11700, 0x11800, 0x11AC0, 0x11D60, 0x13000,
      0x16A40, 0x16B00, 0x16E40, 0x17000, 0x18B00, 0x1E2C0, 0x1E900, // letters
      0x104FF, 0x11FFF, 0x10FFFF,                                    // boundaries
      0x1F600                                                        // emoji (non-letter)
    )
    for (round <- 1 to 2; cp <- samples; l <- ScriptLang.all) {
      val expected = Character.isLetter(cp) && (
        if (l.alphabet.nonEmpty) l.alphabet.contains(cp)
        else l.scripts.contains(ScriptLang.scriptOf(cp)))
      assert(ScriptLang.belongs(l.id, cp) == expected,
        s"round $round: ${l.code} vs U+${cp.toHexString}")
    }
  }

  test("shared-script no-model variants join candidates without displacing modeled langs") {
    // batch-13 contract (the reference's "scripts with no models"
    // bucket): a secondary-script registration is reachable through the
    // prefilter for text of its script, and a modeled language still
    // wins detection on its own golden text
    val det = new Detector(FixtureCorpus.model, DetectorConfig.default)

    def candidatesOf(text: String): Set[String] = {
      val buf = new Tokenizer.TokenBuf
      Tokenizer.tokenizeInto(text, buf)
      val counts = new Array[Long](ScriptLang.count)
      val cand = new Array[Int](ScriptLang.count)
      val n = Tokenizer.prefilterInto(buf, counts, cand, 95, new Tokenizer.MaskScratch)
      (0 until n).map(i => ScriptLang.code(cand(i))).toSet
    }

    val arabic = candidatesOf("والموضوع")
    assert(Set("kas", "kaz_Arab", "uzn_Arab").subsetOf(arabic), arabic)
    assert(det.detectTopOneRaw("والموضوع").map(ScriptLang.code).contains("arb"))

    val han = candidatesOf("經濟")
    assert(Set("wuu", "nan", "hak").subsetOf(han), han)
    assert(det.detectTopOneRaw("經濟").map(ScriptLang.code).contains("cmn_Hant"))

    val deva = candidatesOf("नमस्ते दुनिया")
    assert(Set("snd_Deva", "kas_Deva", "sat_Deva").subsetOf(deva), deva)

    // Cyrillic variant with an explicit alphabet participates only when
    // its alphabet covers the text
    val srbish = candidatesOf("љепота џеп")
    assert(srbish.contains("bos_Cyrl"), srbish)
  }
}
