package perfbench

import graft.pipeline.PagesGen
import graft.train.FixtureCorpus
import org.apache.spark.sql.SparkSession

import java.sql.Timestamp
import java.util.SplittableRandom

/** One generated page and its label, both known by construction. `root`
  * is the index of the original a copy duplicates (-1 for an original).
  */
final case class GenPage(
    url: String, host: Int, tsMs: Long, text: String, lang: String,
    defect: String, refKeep: Boolean, refScrubbed: String, root: Int) {
  def day: String = PagesInput.dayOf(tsMs)
}

/** Row shape of the input table (`RunPipeline`'s pages schema). */
final case class PageRow(url: String, warc_ts: Timestamp, html: Array[Byte], text: String,
    lang: String, p_date: String)

/** The seeded pages corpus of the crawl workload, with the defect mix of
  * the engine's own fixture generator: clean pages, gibberish, too-short
  * and repetitive pages, and 7% exact same-host copies of one of the
  * previous eight pages, plus PII and toxic words whose scrubbed form is
  * known by construction. Hosts are Zipf-skewed (min of three uniforms
  * over 24); pages span 3 days. A copy takes its timestamp from its own
  * draw but no earlier than one second after its source, so a copy can
  * fall on a later day than its source, as in the engine's generator.
  */
object PagesInput {
  private val days = 3
  private val copyPct = 7
  val langs: Vector[String] = PagesGen.pipelineLangs
  private val nHosts = 24
  private val toxicWords = Vector("idiot", "stupid", "moron", "scum")
  private val day0 = java.time.LocalDate.of(2025, 6, 1)
  private val dayFmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE

  def dayOf(tsMs: Long): String =
    java.time.Instant.ofEpochMilli(tsMs).atZone(java.time.ZoneOffset.UTC).toLocalDate.format(dayFmt)

  private def words(r: SplittableRandom, lang: String, n: Int): String = {
    val v = FixtureCorpus.vocab(lang)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(if (i % 10 == 0) '\n' else ' ')
      sb.append(v(r.nextInt(v.size)))
      i += 1
    }
    sb.toString
  }

  private def gibberish(r: SplittableRandom, n: Int): String = {
    val cons = "bcdfghjklmnpqrstvwxz"
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      val len = 4 + r.nextInt(8)
      var j = 0
      while (j < len) { sb.append(cons.charAt(r.nextInt(cons.length))); j += 1 }
      i += 1
    }
    sb.toString
  }

  private def host(r: SplittableRandom): Int =
    math.min(r.nextInt(nHosts), math.min(r.nextInt(nHosts), r.nextInt(nHosts)))

  def generate(seed: Long, n: Int): Array[GenPage] = {
    val r = new SplittableRandom(seed).split()
    val pages = new Array[GenPage](n)
    val dayMs = 86400L * 1000
    val startMs = day0.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    var i = 0
    while (i < n) {
      val ownTs = startMs + r.nextInt(days) * dayMs + r.nextInt(86400) * 1000L
      if (i > 0 && r.nextInt(100) < copyPct) {
        val src = i - 1 - r.nextInt(math.min(i, 8))
        val s = pages(src)
        val root = if (s.root >= 0) s.root else src
        val o = pages(root)
        pages(i) = GenPage(s"https://host${o.host}.example.org/p$i", o.host,
          math.max(ownTs, s.tsMs + 1000), o.text, o.lang, "dup_copy", refKeep = false,
          o.refScrubbed, root)
      } else {
        val h = host(r)
        val lang = langs(r.nextInt(langs.size))
        val roll = r.nextInt(93)
        val (defect, body) =
          if (roll < 72) ("clean", words(r, lang, 30 + r.nextInt(50)))
          else if (roll < 79) ("gibberish", gibberish(r, 30 + r.nextInt(30)))
          else if (roll < 86) ("too_short", words(r, lang, 3 + r.nextInt(10)))
          else {
            val v = FixtureCorpus.vocab(lang)
            val w = v(r.nextInt(v.size))
            ("repetition", words(r, lang, 20 + r.nextInt(10)) + (" " + w) * 30)
          }
        var text = body
        var scrubbed = body
        val pii = r.nextInt(100)
        if (pii < 10) {
          text += s" contact user$i@mail$h.example.com"; scrubbed += " contact <EMAIL>"
        } else if (pii < 18) {
          text += s" call +1 (${200 + r.nextInt(700)}) 555-${1000 + r.nextInt(9000)}"
          scrubbed += " call <PHONE>"
        } else if (pii < 25) {
          text += s" from ${10 + r.nextInt(240)}.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(250)}"
          scrubbed += " from <IP>"
        }
        if (r.nextInt(100) < 8) {
          text += " you " + toxicWords(r.nextInt(toxicWords.size)); scrubbed += " you <TOX>"
        }
        pages(i) = GenPage(s"https://host$h.example.org/p$i", h, ownTs, text, lang, defect,
          refKeep = defect == "clean", scrubbed, -1)
      }
      i += 1
    }
    pages
  }

  /** Write the pages as a `p_date=` partitioned parquet table. */
  def write(spark: SparkSession, pages: Array[GenPage], path: String): Unit = {
    import spark.implicits._
    val sc = spark.sparkContext
    // rows are encoded in parallel tasks, not on the driver thread
    val rows = sc.parallelize(pages.toSeq, sc.defaultParallelism * 4).map { p =>
      PageRow(p.url, new Timestamp(p.tsMs), PagesGen.wrapHtml(p.url, p.text), p.text, p.lang, p.day)
    }
    spark.createDataset(rows).repartition($"p_date")
      .write.mode("overwrite").partitionBy("p_date").parquet(path)
  }

  /** Indices of copies that are the earliest of their (host, text) within
    * their own day while their original lies on an earlier day. Dedup
    * scoped to a day partition keeps these; dedup over the whole table
    * drops them. Either verdict is accepted for them.
    */
  def crossDayFirstCopies(pages: Array[GenPage]): Set[Int] = {
    val first = scala.collection.mutable.HashMap.empty[(Int, String, String), Int]
    pages.indices.foreach { i =>
      val p = pages(i)
      val k = (p.host, p.day, p.text)
      first.get(k) match {
        case Some(j) =>
          val q = pages(j)
          if (p.tsMs < q.tsMs || (p.tsMs == q.tsMs && p.url < q.url)) first(k) = i
        case None => first(k) = i
      }
    }
    first.values.filter(i => pages(i).root >= 0).toSet
  }
}
