package perfbench

/** Listener figures for a set of benchmark spans (passes, queries):
  * the jobs those spans submitted and the stages those jobs ran.
  */
final class SparkLayers(ctx: Ctx, units: Seq[Span]) {
  ctx.drain()
  private val l = ctx.listener
  private val byParent: Map[Long, Seq[Span]] = ctx.spans.synchronized(ctx.spans.spans.toList).groupBy(_.parent)

  /** The span and every benchmark span below it. */
  def subtree(s: Span): Seq[Span] = s +: byParent.getOrElse(s.id, Nil).flatMap(subtree)

  def jobsOf(s: Span): Seq[JobRec] = l.synchronized {
    val ids = subtree(s).map(_.id).toSet
    l.jobs.values.filter(j => ids.contains(j.span)).toList
  }

  /** Stages first submitted under one of `jobs` that ran tasks. */
  def stagesOf(jobs: Seq[JobRec]): Seq[StageRec] = l.synchronized {
    val ids = jobs.map(_.jobId).toSet
    l.stages.values.filter(st => ids.contains(st.jobId) && st.tasks > 0).toList
  }

  /** Part of `s` (in seconds) that no stage interval covers. */
  def unattributed(s: Span, stages: Seq[StageRec]): Double = {
    val ivs = stages.map(st => (ctx.spans.fromEpochMs(st.startMs), ctx.spans.fromEpochMs(st.endMs)))
      .map { case (a, b) => (math.max(a, s.startUs), math.min(b, s.endUs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, s.endUs - s.startUs - covered) / 1e6
  }

  /** Emit the `spark.*` layer as means per unit, plus job spans and stage
    * spans into the recorder for the written trace.
    */
  def sparkLayer(m: Metrics, gcPerUnit: Double): Unit = {
    val per = units.map { u =>
      val jobs = jobsOf(u)
      val st = stagesOf(jobs)
      jobs.foreach { j =>
        val js = ctx.spans.add(s"job:${j.jobId}", j.span,
          ctx.spans.fromEpochMs(j.startMs), ctx.spans.fromEpochMs(j.endMs))
        st.filter(_.jobId == j.jobId).foreach { x =>
          ctx.spans.add(s"stage:${x.stageId}", js.id,
            ctx.spans.fromEpochMs(x.startMs), ctx.spans.fromEpochMs(x.endMs))
        }
      }
      (jobs.size.toDouble, st.size.toDouble, st.map(_.tasks).sum.toDouble,
        st.map(_.runMs).sum / 1e3, st.map(_.gcMs).sum / 1e3, unattributed(u, st))
    }
    def mean(f: ((Double, Double, Double, Double, Double, Double)) => Double): Double =
      if (per.isEmpty) 0.0 else per.map(f).sum / per.size
    m("spark.jobs", "count", mean(_._1))
    m("spark.stages", "count", mean(_._2))
    m("spark.tasks", "count", mean(_._3))
    m("spark.executor_run_s", "s", mean(_._4))
    m("spark.unattributed_s", "s", mean(_._6))
    m("spark.task_gc_s", "s", mean(_._5))
    m("jvm.gc_s", "s", gcPerUnit)
  }
}

object SparkLayers {
  /** Every listener-derived layer of the table, zero where the workload
    * does not exercise it; workloads overwrite the ones they measure.
    */
  def zeros(m: Metrics): Unit = {
    Seq("scan.stage_s" -> "s", "scan.input_bytes" -> "bytes", "scan.rows" -> "count",
      "dedup.shuffle_bytes" -> "bytes", "dedup.spill_bytes" -> "bytes", "dedup.task_skew" -> "ratio",
      "reduce.stage_s" -> "s", "kernel.skipped_share" -> "ratio",
      "kernel.pass_share" -> "ratio",
      "snapshot.partitions" -> "count", "snapshot.partition_s.p50" -> "s",
      "snapshot.partition_s.max" -> "s", "snapshot.jobs_per_partition" -> "count",
      "snapshot.readback_s" -> "s", "snapshot.write_bytes" -> "bytes",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.executor_run_s" -> "s", "spark.unattributed_s" -> "s", "spark.task_gc_s" -> "s",
      "jvm.gc_s" -> "s",
      "operators.shuffle_bytes" -> "bytes", "operators.spill_bytes" -> "bytes",
      "operators.driver_result_bytes" -> "bytes", "operators.scans" -> "count",
      "operators.exchanges" -> "count")
      .foreach { case (k, u) => m(k, u, 0.0) }
    QueriesWorkload.names.foreach(q => m(s"query.$q.s", "s", 0.0))
    QueriesWorkload.heavy.foreach { q =>
      m(s"query.$q.jobs", "count", 0.0)
      m(s"query.$q.shuffle_bytes", "bytes", 0.0)
    }
  }
}
