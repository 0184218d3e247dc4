package graft.pipeline

import graft.train.FixtureCorpus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic Common-Crawl-style pages corpus (FIXTURES.md F4) with the
  * BASELINE.json input_hint shape:
  * `pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)`.
  *
  * The generator injects labeled defects so the reference keep/drop label is
  * known BY CONSTRUCTION (not by running our own detector — that would make
  * the F1 ≥ 0.99 target circular):
  *
  *  - `clean`      → ref_keep = true
  *  - `gibberish`  → ref_keep = false (fails confidence + perplexity gates)
  *  - `too_short`  → ref_keep = false (fails min word count)
  *  - `repetition` → ref_keep = false (fails repetition-ratio gate)
  *  - `dup_copy`   → ref_keep = false (exact duplicate of an earlier page on
  *                   the same host; caught by the host-window dedup rule)
  *
  * PII (emails/phones/IPs) and toxicity words are injected orthogonally; the
  * expected scrubbed text is built by inserting the placeholder where the
  * generator inserted the PII — exact-match oracle for the scrubber.
  *
  * Hosts are Zipf-skewed so the pipeline's exchange, keyed by content hash
  * within host, has real host skew to spread (SkewSpec).
  */
object PagesGen {

  final case class Page(
      url: String, warc_ts: java.sql.Timestamp, html: Array[Byte],
      text: String, lang: String)

  final case class PageLabel(
      url: String, ref_lang: String, ref_keep: Boolean,
      ref_defect: String, ref_scrubbed_text: String)

  val pipelineLangs: Vector[String] =
    Vector("eng", "deu", "fra", "spa", "por", "ita", "nld", "rus")

  /** Deterministic html wrapper; extraction (FilterPipeline.extractText)
    * must invert it byte-identically.
    */
  def wrapHtml(title: String, body: String): Array[Byte] =
    s"<html><head><title>$title</title></head><body><p>$body</p></body></html>"
      .getBytes("UTF-8")

  private val toxicWords = Vector("idiot", "stupid", "moron", "scum")

  private def genText(rng: FixtureCorpus.Rng, lang: String, nWords: Int): String = {
    val v = FixtureCorpus.vocab(lang)
    val sb = new StringBuilder
    var i = 0
    while (i < nWords) {
      // newline every 10th word (index-based, NOT an rng draw — extra draws
      // would shift every downstream deterministic label)
      if (i > 0) sb.append(if (i % 10 == 0) '\n' else ' ')
      // uniform draw: page text samples the full vocabulary (the shared
      // high-rank articles alone do not separate Romance languages)
      sb.append(v(rng.nextInt(v.size)))
      i += 1
    }
    sb.toString
  }

  private def genGibberish(rng: FixtureCorpus.Rng, nWords: Int): String = {
    val cons = "bcdfghjklmnpqrstvwxz"
    val sb = new StringBuilder
    var i = 0
    while (i < nWords) {
      if (i > 0) sb.append(' ')
      val len = 4 + rng.nextInt(8)
      var j = 0
      while (j < len) { sb.append(cons.charAt(rng.nextInt(cons.length))); j += 1 }
      i += 1
    }
    sb.toString
  }

  /** One deterministic page + its reference label. `dupOf` carries the text
    * of the page this one duplicates (host-local exact dup).
    */
  private def genOne(idx: Long, nHosts: Int): (Page, PageLabel, Option[Long]) = {
    val rng = new FixtureCorpus.Rng(0xABCDEF ^ (idx * 0x9e3779b97f4a7c15L))
    // Zipf-ish host skew: min of three uniforms → host 0 is very hot
    val h = {
      val a = rng.nextInt(nHosts); val b = rng.nextInt(nHosts); val c = rng.nextInt(nHosts)
      math.min(a, math.min(b, c))
    }
    val host = s"host$h.example.org"
    val lang = pipelineLangs(rng.nextInt(pipelineLangs.size))
    val day = rng.nextInt(3) // 3 warc_ts days → partition lineage + resume test
    val secs = rng.nextInt(86400)
    val ts = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2025, 6, 1 + day, 0, 0, 0).plusSeconds(secs))

    val roll = rng.nextInt(100)
    val defect0 =
      if (roll < 72) "clean"
      else if (roll < 79) "gibberish"
      else if (roll < 86) "too_short"
      else if (roll < 93) "repetition"
      else "dup_copy"
    // the first few pages cannot duplicate an earlier one
    val defect = if (defect0 == "dup_copy" && idx < 8) "clean" else defect0

    // dup_copy: duplicate an earlier page (idx - delta) on the SAME host —
    // resolved by the caller, which regenerates that page's text.
    if (defect == "dup_copy" && idx >= 8) {
      val src = idx - 1 - rng.nextInt(math.min(idx, 8L).toInt)
      return (
        Page(s"https://$host/p$idx", ts, Array.emptyByteArray, "", lang),
        PageLabel(s"https://$host/p$idx", lang, ref_keep = false, "dup_copy", ""),
        Some(src)
      )
    }

    val (body, keep) = defect match {
      case "gibberish"  => (genGibberish(rng, 30 + rng.nextInt(30)), false)
      case "too_short"  => (genText(rng, lang, 3 + rng.nextInt(10)), false)
      case "repetition" =>
        val word = FixtureCorpus.vocab(lang)(rng.nextInt(FixtureCorpus.vocab(lang).size))
        val base = genText(rng, lang, 20 + rng.nextInt(10))
        (base + (" " + word) * 30, false)
      case _ => (genText(rng, lang, 30 + rng.nextInt(50)), true)
    }

    // PII / toxicity injection (on ~25% of pages), scrub oracle by construction
    var text = body
    var scrubbed = body
    val pii = rng.nextInt(100)
    if (pii < 10) {
      val email = s"user$idx@mail$h.example.com"
      text = text + " contact " + email
      scrubbed = scrubbed + " contact <EMAIL>"
    } else if (pii < 18) {
      val phone = s"+1 (${200 + rng.nextInt(700)}) 555-${1000 + rng.nextInt(9000)}"
      text = text + " call " + phone
      scrubbed = scrubbed + " call <PHONE>"
    } else if (pii < 25) {
      val ip = s"${10 + rng.nextInt(240)}.${rng.nextInt(256)}.${rng.nextInt(256)}.${1 + rng.nextInt(250)}"
      text = text + " from " + ip
      scrubbed = scrubbed + " from <IP>"
    }
    if (rng.nextInt(100) < 8) {
      val tox = toxicWords(rng.nextInt(toxicWords.size))
      text = text + " you " + tox
      scrubbed = scrubbed + " you <TOX>"
    }

    val url = s"https://$host/p$idx"
    (
      Page(url, ts, wrapHtml(s"page $idx", text), text, lang),
      PageLabel(url, lang, keep, defect, scrubbed),
      None
    )
  }

  /** Resolve one page index to its final (page, label), following dup_copy
    * chains iteratively (each hop strictly decreases the index). Pure
    * function of (idx, nHosts) — safe to call from any executor, so the
    * corpus can be generated DISTRIBUTED with identical results.
    */
  def resolve(idx: Long, nHosts: Int): (Page, PageLabel) = {
    val (p0, l0, dup0) = genOne(idx, nHosts)
    dup0 match {
      case None => (p0, l0)
      case Some(src0) =>
        // recursion strictly decreases the index; expected chain length ~1
        val (resolvedSrc, resolvedLabel) = resolve(src0, nHosts)
        // same-host duplicate: copy source text/html, keep this page's url;
        // force ts strictly later than the source so "first wins" is stable
        val laterTs = new java.sql.Timestamp(
          math.max(p0.warc_ts.getTime, resolvedSrc.warc_ts.getTime + 1000))
        val srcHost = resolvedSrc.url.stripPrefix("https://").takeWhile(_ != '/')
        val url = s"https://$srcHost/p$idx"
        (
          Page(url, laterTs, resolvedSrc.html.clone(), resolvedSrc.text, resolvedSrc.lang),
          PageLabel(url, resolvedLabel.ref_lang, ref_keep = false, "dup_copy",
            resolvedLabel.ref_scrubbed_text)
        )
    }
  }

  /** Materialize n pages + labels on the driver. */
  def generate(n: Int, nHosts: Int = 24): (Vector[Page], Vector[PageLabel]) = {
    val resolved = Vector.tabulate(n)(i => resolve(i.toLong, nHosts))
    (resolved.map(_._1), resolved.map(_._2))
  }

  /** Distributed generation: `spark.range(n)` → per-partition resolve. The
    * corpus never exists on the driver — this is how the bench scales the
    * input without I/O bottlenecks.
    */
  def pagesDfDistributed(spark: SparkSession, n: Long, nHosts: Int = 24): DataFrame = {
    import spark.implicits._
    spark.range(n).mapPartitions(_.map(i => resolve(i, nHosts)._1)).toDF()
  }

  def pagesDf(spark: SparkSession, n: Int, nHosts: Int = 24): DataFrame = {
    import spark.implicits._
    val (pages, _) = generate(n, nHosts)
    spark.createDataset(pages).toDF()
  }

  def labelsDf(spark: SparkSession, n: Int, nHosts: Int = 24): DataFrame = {
    import spark.implicits._
    val (_, labels) = generate(n, nHosts)
    spark.createDataset(labels).toDF()
  }

  /** Write the pages corpus as a day-partitioned parquet table (hidden
    * partitioning on warc_ts emulated as `p_date=` directories — no Iceberg
    * jar in this sandbox, SURVEY.md §7).
    */
  def writePartitioned(spark: SparkSession, n: Int, path: String): Unit = {
    import org.apache.spark.sql.functions._
    pagesDf(spark, n)
      .withColumn("p_date", date_format(col("warc_ts"), "yyyy-MM-dd"))
      .repartition(col("p_date"))
      .write.mode("overwrite").partitionBy("p_date").parquet(path)
  }
}
