package graft.train

import graft.lang.{Detector, DetectorConfig, ScriptLang}
import graft.operators.LangOps
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ModelIOSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("model parquet round-trip preserves detection results") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-model").toString
    val corpus = FixtureCorpus
      .corpus(nLinesPerLang = 80, langs = Seq("eng", "deu", "fra"))
      .flatMap { case (l, ls) => ls.map(x => (l, x)) }
      .toDF("lang", "line")
    ModelIO.write(Trainer.trainSpark(spark, corpus), s"$tmp/model")
    val loaded = ModelIO.load(spark, s"$tmp/model")

    val direct = ModelIO.trainPacked(
      FixtureCorpus.corpus(nLinesPerLang = 80, langs = Seq("eng", "deu", "fra")))

    val cfg = DetectorConfig.default.copy(
      languages = Set("eng", "deu", "fra").map(ScriptLang.id))
    val dLoaded = new Detector(loaded, cfg)
    val dDirect = new Detector(direct, cfg)
    val texts = Seq(
      "the world is good", "das wasser ist gut", "la maison est bon",
      "to know the people and the time", "über die straße")
    texts.foreach { t =>
      assert(
        dLoaded.probabilities(t).toList == dDirect.probabilities(t).toList,
        s"round-trip drift on '$t'")
    }
    // both packers end in the same finalizeModel: floors, stopword sets
    // and schema hash agree
    assert(loaded.schemaHash == direct.schemaHash)
    assert(loaded.wordgramFloor == direct.wordgramFloor)
    assert(loaded.charFloors.toSeq == direct.charFloors.toSeq)
    assert(loaded.stopwordHashes.map(_.toSeq).toSeq == direct.stopwordHashes.map(_.toSeq).toSeq)
  }

  test("pruned model keeps topK per (lang,size) and still detects") {
    import spark.implicits._
    val corpus = FixtureCorpus
      .corpus(nLinesPerLang = 80, langs = Seq("eng", "deu"))
      .flatMap { case (l, ls) => ls.map(x => (l, x)) }
      .toDF("lang", "line")
    val full = Trainer.trainSpark(spark, corpus)
    val pruned = ModelIO.prune(full, topK = 150)
    val counts = pruned.groupBy("lang", "size").count().as[(String, Int, Long)].collect()
    assert(counts.forall(_._3 <= 150))
    assert(pruned.count() < full.count())
    val packed = ModelIO.fromRows(
      pruned.as[(String, Int, String, Double)].collect())
    val det = new Detector(packed, DetectorConfig.default.copy(
      languages = Set("eng", "deu").map(ScriptLang.id)))
    assert(det.detectTopOneReordered("the world is good and the people know")
      .map(ScriptLang.code).contains("eng"))
    assert(det.detectTopOneReordered("das wasser ist gut für die leute")
      .map(ScriptLang.code).contains("deu"))
  }

  test("packDistributed streams a 1e5-entries-per-lang model through load") {
    import spark.implicits._
    // Synthetic model far beyond fixture scale: 120k distinct ngrams per
    // language across all 6 sizes. The point is the LOAD PATH SHAPE —
    // postings aggregated in Spark, streamed into pre-sized builders via
    // toLocalIterator; the driver never materializes the row set or the
    // ngram strings (the round-2 collect()-pack did both).
    val n = 120000L
    val langs = Seq("eng", "deu")
    def enc(x: Long): String = {
      val sb = new StringBuilder
      var v = x
      (0 until 5).foreach { _ => sb.append(('a' + (v % 26)).toChar); v /= 26 }
      sb.toString
    }
    val rows = spark.range(n).flatMap { i =>
      val size = (i % 6).toInt
      langs.map(l => (l, size, s"$l${enc(i)}", -1.0 - (i % 97).toDouble / 97.0))
    }.toDF("lang", "size", "ngram", "logprob")

    val tmp = java.nio.file.Files.createTempDirectory("graft-model-scale").toString
    ModelIO.write(rows, s"$tmp/model")
    val loaded = ModelIO.load(spark, s"$tmp/model")
    // ngram strings are lang-prefixed → every (lang, size, ngram) is its
    // own key with a single posting
    assert(loaded.entryCount == 2L * n, s"entryCount=${loaded.entryCount}")

    // equivalence vs the in-memory reference pack on the same rows
    val direct = ModelIO.fromRows(
      rows.as[(String, Int, String, Double)].collect())
    assert(loaded.wordgramFloor == direct.wordgramFloor)
    assert(loaded.charFloors.toSeq == direct.charFloors.toSeq)
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val i = rnd.nextLong(n)
      val size = (i % 6).toInt
      val key = graft.lang.NgramHash.ofString(s"eng${enc(i)}")
      def probe(m: graft.lang.PackedModel): (Short, Float) = {
        val t = if (size == 0) m.wordTable else m.charTables(size - 1)
        val s = t.find(key)
        assert(s >= 0, s"missing key for i=$i size=$size")
        (t.postLangs(t.starts(s)), t.postProbs(t.starts(s)))
      }
      assert(probe(loaded) == probe(direct), s"posting drift at i=$i")
    }
  }

  test("detect_lang SQL function over the broadcast model") {
    LangOps.registerSql(spark)
    val r = spark.sql(
      "SELECT detect_lang('das wasser ist gut für die leute') AS d").head()
    val s = r.getStruct(0)
    assert(s.getString(0) == "deu")
    assert(s.getDouble(1) > 0.5)
  }
}
