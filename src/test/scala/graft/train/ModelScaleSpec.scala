package graft.train

import graft.lang.{Detector, DetectorConfig, ScriptLang}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Model-scale realism (ROADMAP item 4): fixture models are tiny, so this
  * spec trains a 10× corpus across every vocabulary language and reports
  * the broadcast footprint, walks ModelIO.prune's size/accuracy curve —
  * the knob a 188-language deployment turns to fit the executor-side
  * model budget — and packs a Han model whose empty sizes exercise
  * zero-size table builders in ModelIO.packDistributed. Streaming
  * packDistributed at 240k entries is ModelIOSpec's job.
  */
class ModelScaleSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // 10× the fixture corpus, all vocabulary languages
  private lazy val bigModel =
    ModelIO.trainPacked(FixtureCorpus.corpus(nLinesPerLang = 2000))

  test("10x corpus: broadcast footprint stays executor-friendly, detection holds") {
    val mb = bigModel.footprintBytes / 1e6
    val langs = bigModel.charFloors.count(_ != Double.NegativeInfinity)
    info(f"languages=$langs entries=${bigModel.entryCount} footprint=$mb%.1f MB")
    // vocab-bounded fixtures plateau well under real-model footprints, but
    // the measurement machinery (and its growth vs the 200-line model) is
    // what future larger corpora will reuse
    assert(bigModel.footprintBytes > ModelIO.trainPacked(FixtureCorpus.corpus()).footprintBytes)
    val det = new Detector(bigModel, DetectorConfig.default)
    def top(text: String): String =
      det.detectTopOneReordered(text).map(ScriptLang.code).getOrElse("und")
    assert(top("the people know the world") == "eng")
    assert(top("das wasser ist gut für die leute") == "deu")
    assert(top("kufanya kazi kuhusu watu wengi") == "swh")
  }

  test("prune curve: entries shrink monotonically, accuracy degrades gracefully") {
    import spark.implicits._
    val langs = Seq("eng", "deu", "fra", "spa")
    val corpus = FixtureCorpus.corpus(nLinesPerLang = 300, langs = langs)
      .flatMap { case (l, ls) => ls.map(x => (l, x)) }.toDF("lang", "line")
    val modelDf = Trainer.trainSpark(spark, corpus).cache()

    // held-out phrases: fresh seed → different word draws than training
    val heldOut = langs.flatMap { l =>
      FixtureCorpus.lines(l, 25, seed = 0xbeefL).map(t => (l, t))
    }

    def accuracyAndEntries(topK: Option[Int]): (Double, Long) = {
      val df = topK.map(k => ModelIO.prune(modelDf, k)).getOrElse(modelDf)
      val packed = ModelIO.fromRows(
        df.select($"lang", $"size", $"ngram", $"logprob")
          .as[(String, Int, String, Double)].collect())
      val det = new Detector(packed,
        DetectorConfig.default.copy(languages = langs.map(ScriptLang.id).toSet))
      val ok = heldOut.count { case (l, t) =>
        det.detectTopOneReordered(t).map(ScriptLang.code).contains(l)
      }
      (ok.toDouble / heldOut.size, packed.entryCount)
    }

    val (accFull, nFull) = accuracyAndEntries(None)
    val (acc200, n200) = accuracyAndEntries(Some(200))
    val (acc50, n50) = accuracyAndEntries(Some(50))
    info(f"full: acc=$accFull%.3f entries=$nFull; top200: acc=$acc200%.3f entries=$n200; top50: acc=$acc50%.3f entries=$n50")
    assert(n50 < n200 && n200 < nFull, "prune must shrink the model monotonically")
    assert(accFull >= 0.95, s"unpruned accuracy $accFull")
    assert(acc200 >= 0.9, s"top-200 accuracy $acc200 — prune curve collapsed")
    modelDf.unpersist()
  }

  test("packDistributed handles empty sizes (Han: no wordgrams, bigram max)") {
    import spark.implicits._
    val corpus = FixtureCorpus.corpus(nLinesPerLang = 30, langs = Seq("cmn_Hans"))
      .flatMap { case (l, ls) => ls.map(x => (l, x)) }.toDF("lang", "line")
    // the zero-key, zero-posting builders of sizes 0 and 3..5 must still
    // yield empty, probe-able tables
    val m = ModelIO.packDistributed(spark, Trainer.trainSpark(spark, corpus))
    assert(m.wordTable.size == 0, "Han trains no wordgrams")
    assert(m.charTables(0).size > 0 && m.charTables(1).size > 0)
    assert((2 to 4).forall(m.charTables(_).size == 0), "Han caps at bigrams")
    assert(m.wordTable.find(graft.lang.NgramHash.ofString("x")) == -1)
  }
}
