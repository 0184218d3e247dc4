package graft.train

import graft.lang.{Detector, DetectorConfig, PackedModel, ProbTable, ScriptLang}
import org.scalatest.funsuite.AnyFunSuite

/** Whole-model pins on the driver-side pack (`PackedModel.fromModels`):
  * the fixture model is reproduced bit for bit, and a language whose
  * corpus keeps no word cannot disturb the others' floors or scores.
  */
class ModelPackSpec extends AnyFunSuite {

  /** SHA-256 over every table's occupied slots in key order (so the digest
    * does not depend on which slot a key landed in), each with its
    * langId-ordered (postLang, floatBits(postProb)) postings, then the
    * char floors, the wordgram floor and the stopword sets.
    */
  private def digest(m: PackedModel): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(8)
    def long(x: Long): Unit = { bb.clear(); bb.putLong(x); md.update(bb.array()) }
    def table(t: ProbTable): Unit = {
      val slots = t.keys.indices.filter(t.keys(_) != 0L).sortBy(t.keys(_))
      long(slots.size.toLong)
      slots.foreach { i =>
        long(t.keys(i))
        long(t.lens(i).toLong)
        (t.starts(i) until t.starts(i) + t.lens(i)).foreach { p =>
          long(t.postLangs(p).toLong)
          long(java.lang.Float.floatToIntBits(t.postProbs(p)).toLong)
        }
      }
    }
    (m.charTables :+ m.wordTable).foreach(table)
    m.charFloors.foreach(f => long(java.lang.Double.doubleToLongBits(f)))
    long(java.lang.Double.doubleToLongBits(m.wordgramFloor))
    m.stopwordHashes.foreach { hs => long(hs.length.toLong); hs.foreach(long) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  test("fixture model digest is pinned") {
    val d = digest(FixtureCorpus.model)
    info(s"FixtureCorpus.model digest $d")
    assert(d == "40a2e1f9f55a773d1cb58afe3c249ab76c7068cbebc7213c0cea3799a3906ec4")
  }

  test("a language that keeps no training word leaves the others untouched") {
    def local(code: String, lines: Seq[String]) =
      ScriptLang.id(code) -> Trainer.trainLocal(ScriptLang.id(code), lines)
    val eng = local("eng", FixtureCorpus.lines("eng", 200))
    val deu = local("deu", FixtureCorpus.lines("deu", 200))
    // Cyrillic words fail fra's alphabet filter and digits are no word
    val fra = local("fra", Seq("привет мир 123"))
    assert(fra._2.forall(_.isEmpty))

    val without = PackedModel.fromModels(Seq(eng, deu))
    val withEmpty = PackedModel.fromModels(Seq(eng, deu, fra))
    Seq("eng", "deu").map(ScriptLang.id).foreach { id =>
      assert(withEmpty.charFloors(id) == without.charFloors(id))
    }
    assert(withEmpty.charFloors(ScriptLang.id("fra")) == Double.NegativeInfinity)
    assert(withEmpty.wordgramFloor == without.wordgramFloor)

    val a = new Detector(without, DetectorConfig.default)
    val b = new Detector(withEmpty, DetectorConfig.default)
    Seq("the people know the world", "das wasser ist gut für die leute").foreach { t =>
      assert(b.probabilities(t).toList == a.probabilities(t).toList, t)
      val (lang, conf) = b.detectWithConfidence(t)
      assert(!conf.isNaN, t)
      assert((lang, conf) == a.detectWithConfidence(t), t)
    }
  }
}
