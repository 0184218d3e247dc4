package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Path

/** Output check of one pipeline pass against the generator's labels. */
final case class PipelineCheck(
    correct: Boolean, keepF1: Double, textMismatches: Long, dupShare: Double, problems: Seq[String])

object Check {

  /** Reads the pass's committed data and compares it with the labels:
    *  - every input url appears exactly once;
    *  - every kept page's `scrubbed_text` is byte-equal to the scrub known
    *    by construction (`text_mismatches`);
    *  - `keep` equals the label, except for copies whose original lies on
    *    an earlier day and which are the first of their content in their
    *    own day: dedup scoped to a day partition keeps them, so either
    *    verdict is accepted for them.
    * `keep_f1` scores `keep` against the label for every page, those
    * copies included, so it shows the cost of day-scoped dedup.
    */
  def pipeline(spark: SparkSession, pages: Array[GenPage], root: Path): PipelineCheck = {
    val index = new java.util.HashMap[String, Integer](pages.length * 2)
    pages.indices.foreach(i => index.put(pages(i).url, i))
    val crossDay = PagesInput.crossDayFirstCopies(pages)
    val seen = new Array[Boolean](pages.length)
    var tp, fp, fn, mismatches, dups, rows = 0L
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    def problem(s: String): Unit = if (problems.size < 5) problems += s else problems += "..."

    val it = spark.read.parquet(root.resolve("data").toString)
      .select("url", "keep", "is_dup", "scrubbed_text").toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      rows += 1
      val url = r.getString(0)
      val keep = r.getBoolean(1)
      if (r.getBoolean(2)) dups += 1
      val i = index.get(url)
      if (i == null) problem(s"unknown url $url")
      else if (seen(i)) problem(s"url twice: $url")
      else {
        seen(i) = true
        val p = pages(i)
        if (keep && p.refKeep) tp += 1
        if (keep && !p.refKeep) fp += 1
        if (!keep && p.refKeep) fn += 1
        if (keep && r.getString(3) != p.refScrubbed) {
          mismatches += 1
          problem(s"scrubbed text differs for $url")
        }
        if (keep != p.refKeep && !crossDay.contains(i))
          problem(s"keep=$keep for $url labelled ${p.defect}")
      }
    }
    val missing = seen.count(!_)
    if (missing > 0) problem(s"$missing input pages missing from the output")
    val f1 = if (tp == 0) 0.0 else 2.0 * tp / (2.0 * tp + fp + fn)
    PipelineCheck(problems.isEmpty, f1, mismatches, dups.toDouble / math.max(1L, rows),
      problems.distinct.toSeq)
  }
}
