package perfbench

import graft.lang.{Detector, DetectorConfig}
import graft.pipeline.FilterPipeline

/** Single-thread timings of the `lang` and `kernel` layers over a fixed
  * sample of the workload's own texts, taken in the traced run after the
  * measured loop. Each figure is the median of several sweeps after
  * warm-up sweeps.
  */
object Probes {
  private val WarmSweeps = 3
  private val Sweeps = 7

  private def medianSweep(n: Int)(sweep: => Long): Double = {
    (1 to WarmSweeps).foreach(_ => sweep)
    Stats.median((1 to Sweeps).map(_ => sweep.toDouble)) / 1e3 / n
  }

  /** Records the `lang` and `kernel` figures in `m`; returns the kernel's
    * microseconds per document.
    */
  def run(ctx: Ctx, texts: IndexedSeq[String], langConfig: DetectorConfig, m: Metrics): Double = {
    val n = texts.length
    val det = new Detector(ctx.model, langConfig)
    var sink = 0L

    // lang: detection, then the reordered pick and its confidence, timed apart
    val detectUs = medianSweep(n) {
      var t = 0L
      var i = 0
      while (i < n) {
        val a = System.nanoTime()
        sink += det.detectInPlace(texts(i))
        t += System.nanoTime() - a
        i += 1
      }
      t
    }
    val pickUs = medianSweep(n)(pickOnly(det, texts))
    var probed = 0L; var hits = 0L; var ranked = 0L
    texts.foreach { s =>
      val k = det.detectInPlace(s)
      ranked += k
      probed += det.lastProbedCount
      if (k > 0) hits += det.lastHitCount(det.reorderPickInPlace(det.defaultReorderDistance))
    }
    m("lang.detect_us_per_doc", "us", detectUs)
    m("lang.pick_conf_us_per_doc", "us", pickUs)
    m("lang.ngrams_probed_per_doc", "count", probed.toDouble / n)
    m("lang.hit_ratio", "ratio", if (probed == 0) 0.0 else hits.toDouble / probed)
    m("lang.ranked_per_doc", "count", ranked.toDouble / n)

    // kernel: the fused per-document map with the pipeline's config, and scrub alone
    val ts = new java.sql.Timestamp(0L)
    val rows = texts.zipWithIndex.map { case (s, i) => (s"https://h.example.org/p$i", ts, s) }
    val kernelUs = medianSweep(n) {
      val a = System.nanoTime()
      FilterPipeline.processPartition(ctx.model, ctx.pipelineConfig, rows.iterator)
        .foreach(d => sink += d.word_count)
      System.nanoTime() - a
    }
    val scrubUs = medianSweep(n) {
      val a = System.nanoTime()
      texts.foreach(s => sink += FilterPipeline.scrub(s).length)
      System.nanoTime() - a
    }
    val triggers = texts.count { s =>
      s.indexOf('@') >= 0 || s.exists(c => c >= '0' && c <= '9') ||
        Seq("idiot", "stupid", "moron", "scum").exists(s.contains)
    }
    m("kernel.us_per_doc", "us", kernelUs)
    m("kernel.scrub_us_per_doc", "us", scrubUs)
    m("kernel.scrub_trigger_share", "ratio", triggers.toDouble / n)
    if (sink == 42L) println()
    kernelUs
  }

  /** Time of the reordered pick plus confidence alone (detection untimed). */
  private def pickOnly(det: Detector, texts: IndexedSeq[String]): Long = {
    var t = 0L
    var i = 0
    while (i < texts.length) {
      if (det.detectInPlace(texts(i)) > 0) {
        val a = System.nanoTime()
        det.confidenceOfInPlace(det.reorderPickInPlace(det.defaultReorderDistance))
        t += System.nanoTime() - a
      }
      i += 1
    }
    t
  }
}
