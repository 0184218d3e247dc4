package perfbench

import graft.pipeline.SnapshotStore

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** crawl: `SnapshotStore.runResumable` over a generated `p_date=` pages
  * table into a fresh root per pass, one pass at a time, with the session
  * configured the way `RunPipeline` configures it.
  */
object PipelineWorkload {
  /** Large enough that the kernel's share of a pass is well above its
    * share at 100,000 pages; small enough that a run fits its time
    * (README, "Sizing").
    */
  val Pages = 200000

  /** A finished pass: its span, wall seconds, the span of each committed
    * partition with its commit time, and JVM GC seconds during it.
    */
  final case class Pass(span: Span, seconds: Double, partitions: Seq[Span],
      commitUs: Seq[Long], gcS: Double)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def run(ctx: Ctx): Outcome = {
    val o = ctx.opts
    val spark = ctx.spark
    val sc = spark.sparkContext
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", (sc.defaultParallelism * 4).toString)

    val n = Pages
    val g0 = System.nanoTime()
    val pages = PagesInput.generate(o.seed, n)
    val g1 = System.nanoTime()
    // written on every run, so the table always matches the labels checked
    val input = o.work.resolve("pages")
    PagesInput.write(spark, pages, input.toString)
    val g2 = System.nanoTime()
    val days = pages.map(_.day).distinct.sorted.toSeq
    val outs = o.work.resolve("out")
    deleteTree(outs)

    var failed = 0L
    var passNo = 0
    /** One pass into a fresh root; None if it threw. */
    def pass(): Option[Pass] = {
      passNo += 1
      val root = outs.resolve(s"pass-$passNo")
      val ps = ctx.spans.open(s"pass:$passNo", 0)
      val parts = ArrayBuffer.empty[Span]
      val commits = ArrayBuffer.empty[Long]
      var cur = ctx.spans.open("partition", ps.id)
      val gc0 = ctx.gcSeconds()
      val t0 = System.nanoTime()
      val res = try {
        EngineListener.within(sc, cur) {
          val done = SnapshotStore.runResumable(spark, input.toString, root.toString, ctx.bc,
            onPartitionCommitted = { _ =>
              ctx.spans.close(cur)
              commits += ctx.spans.nowUs
              parts += cur
              cur = ctx.spans.open("partition", ps.id)
              sc.setLocalProperty(EngineListener.SpanProp, cur.id.toString)
            })
          require(done.sorted == days, s"pass committed ${done.size} of ${days.size} partitions")
        }
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] pass $passNo failed: $e")
        failed += 1
        None
      }
      ctx.spans.close(cur)
      ctx.spans.close(ps)
      val gc = ctx.gcSeconds() - gc0
      res.map(s => Pass(ps, s, parts.toSeq, commits.toSeq, gc))
    }

    // untimed warm-up pass over the same table, its output the one checked.
    // A warm-up over fewer pages leaves the first timed pass 10-20% slower.
    val w0 = System.nanoTime()
    val checkPass = pass()
    val warmupS = (System.nanoTime() - w0) / 1e9
    val checkRoot = outs.resolve(s"pass-$passNo")
    val timed = ctx.loop { _ =>
      val p = pass()
      deleteTree(outs.resolve(s"pass-$passNo"))
      p
    }
    val ok = timed.collect { case (t, Some(p)) => (t, p) }
    val attempted = passNo.toLong

    // a failed warm-up pass leaves nothing to check: the run is incorrect
    val check = if (checkPass.isEmpty) PipelineCheck(false, 0.0, 0L, 0.0, Seq("warm-up pass failed"))
      else Check.pipeline(spark, pages, checkRoot)
    check.problems.foreach(p => System.err.println(s"[perfbench] check: $p"))
    val correct = check.correct
    // every pass ran the same code on the same input, so an output that
    // fails its check fails every pass
    if (!correct) failed = attempted
    val passS = ok.filterNot(_._1).map(_._2.seconds)
    println(f"timed passes (s): ${passS.map(x => f"$x%.3f").mkString(", ")}")
    val e2e = new Metrics
    val info = new Metrics
    val medianPass = if (passS.isEmpty) Double.NaN else Stats.median(passS)
    e2e("items_per_s", "1/s", n / medianPass)
    // one request is one pass
    e2e("latency_ms.geomean", "ms", medianPass * 1e3)
    e2e("quality", "ratio", check.keepF1)
    e2e("success_rate", "ratio", 1.0 - failed.toDouble / attempted)
    info("docs_per_s", "docs/s", n / medianPass)
    info("keep_f1", "ratio", check.keepF1)
    info("text_mismatches", "count", check.textMismatches.toDouble)
    info("error_rate", "ratio", failed.toDouble / attempted)
    info("pass_s.p50", "s", medianPass)
    info("passes", "count", passS.size.toDouble)
    info("pages", "count", n.toDouble)
    info("partitions", "count", days.size.toDouble)
    info("input_gen_s", "s", (g1 - g0) / 1e9)
    info("input_write_s", "s", (g2 - g1) / 1e9)
    info("warmup_s", "s", warmupS)

    val layers = new Metrics
    if (o.trace) {
      SparkLayers.zeros(layers)
      val tr = ok.filter(_._1).map(_._2)
      val sl = new SparkLayers(ctx, tr.map(_.span))
      sl.sparkLayer(layers, tr.map(_.gcS).sum / tr.size)
      pipelineLayers(ctx, sl, tr, layers)
      layers("kernel.skipped_share", "ratio", check.dupShare)
      val sample = pages.iterator.filter(_.root < 0).take(2000).map(_.text).toIndexedSeq
      val kernelUs = Probes.run(ctx, sample, ctx.pipelineConfig, layers)
      // the kernel's single-thread time for a pass's non-duplicate pages,
      // spread over the cores, as a share of the median untraced pass
      layers("kernel.pass_share", "ratio",
        kernelUs * 1e-6 * n * (1 - check.dupShare) / o.cores / medianPass)
      val plain = ok.filterNot(_._1).map(_._2.seconds)
      val traced = tr.map(_.seconds)
      println(f"tracing overhead: traced pass median ${Stats.median(traced)}%.3f s over " +
        f"${traced.size} passes vs untraced ${Stats.median(plain)}%.3f s over ${plain.size} " +
        f"passes (${(Stats.median(traced) / Stats.median(plain) - 1) * 100}%+.1f%%)")
    }
    deleteTree(outs)
    Outcome(attempted, failed, correct, e2e, layers, info)
  }

  /** scan / dedup / reduce / snapshot figures, means per traced pass. */
  private def pipelineLayers(ctx: Ctx, sl: SparkLayers, passes: Seq[Pass], m: Metrics): Unit = {
    var scanS, inBytes, inRows, shuffle, spill, reduceS, readback, written = 0.0
    var jobs = 0.0
    val skews = ArrayBuffer.empty[Double]
    val partS = ArrayBuffer.empty[Double]
    passes.foreach { p =>
      p.partitions.zip(p.commitUs).foreach { case (part, commitUs) =>
        partS += (part.endUs - part.startUs) / 1e6
        val js = sl.jobsOf(part).sortBy(_.jobId)
        jobs += js.size
        val st = sl.stagesOf(js)
        written += st.map(_.outputBytes).sum
        // the write job is the first that wrote files; the scan + exchange
        // map stage ran in the last job before it that read input and
        // wrote shuffle output (adaptive execution submits it on its own)
        val w = js.indexWhere(j => st.exists(s => s.jobId == j.jobId && s.outputBytes > 0))
        if (w >= 0) {
          js.take(w).flatMap(j => st.filter(_.jobId == j.jobId))
            .filter(s => s.inputRows > 0 && s.shuffleWrite > 0).lastOption.foreach { s =>
              scanS += (s.endMs - s.startMs) / 1e3
              inBytes += s.inputBytes; inRows += s.inputRows
              shuffle += s.shuffleWrite; spill += s.spillDisk
            }
          st.filter(s => s.jobId == js(w).jobId && s.shuffleRead > 0).foreach { s =>
            reduceS += s.runMs / 1e3
            spill += s.spillDisk
            val reads = s.taskShuffleRead.map(_.toDouble).toSeq
            val med = Stats.median(reads)
            if (med > 0) skews += reads.max / med
          }
          readback += math.max(0L, commitUs - ctx.spans.fromEpochMs(js(w).endMs)) / 1e6
        }
      }
    }
    val np = passes.size.toDouble
    val nParts = partS.size.toDouble
    m("scan.stage_s", "s", scanS / np)
    m("scan.input_bytes", "bytes", inBytes / np)
    m("scan.rows", "count", inRows / np)
    m("dedup.shuffle_bytes", "bytes", shuffle / np)
    m("dedup.spill_bytes", "bytes", spill / np)
    m("dedup.task_skew", "ratio", if (skews.isEmpty) 0.0 else Stats.median(skews.toSeq))
    m("reduce.stage_s", "s", reduceS / np)
    m("snapshot.partitions", "count", nParts / np)
    m("snapshot.partition_s.p50", "s", Stats.median(partS.toSeq))
    m("snapshot.partition_s.max", "s", partS.max)
    m("snapshot.jobs_per_partition", "count", jobs / nParts)
    m("snapshot.readback_s", "s", readback / np)
    m("snapshot.write_bytes", "bytes", written / np)
  }
}
