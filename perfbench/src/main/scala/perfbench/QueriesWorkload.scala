package perfbench

import graft.SparkEntry

import java.nio.file.{Files, Path}
import java.util.concurrent.Executors

import scala.collection.mutable

/** queries: every registered `SparkEntry.queries` entry over the fixed
  * test tables, in name order, each forced through a noop write. The
  * untimed first round runs every query once and writes the results that
  * run.py compares with the DuckDB oracles.
  */
object QueriesWorkload {
  lazy val names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
  /** Client threads of the untimed warm-up (no more than the cores in use). */
  val WarmupThreads = 3
  /** The queries that take about half of the suite's time. */
  lazy val heavy: Seq[String] =
    names.filter(n => Set("q17", "q19", "q29", "q30", "q32", "q39", "q40").contains(n.take(3)))

  /** Untimed warm-up that also produces the checked outputs: every query's
    * result as parquet under `dir/<query>`, plus `oracle_sql.json` with the
    * dump directory substituted, in the layout of `graft.Verify`. Queries
    * run `WarmupThreads` at a time; returns the ones that threw.
    */
  private def dump(ctx: Ctx, dir: Path): Map[String, String] = {
    val spark = ctx.spark
    Files.createDirectories(dir)
    val pool = Executors.newFixedThreadPool(WarmupThreads)
    val futures = names.map { q =>
      q -> pool.submit[Option[String]](() =>
        try {
          SparkEntry.queries(q)(spark, ctx.opts.dataDir).coalesce(1).write.mode("overwrite")
            .parquet(dir.resolve(q).toString)
          None
        } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName} ${e.getMessage}") })
    }
    val failures = futures.flatMap { case (q, f) => f.get().map(q -> _) }.toMap
    pool.shutdown()
    val abs = dir.toAbsolutePath.toString
    Files.writeString(dir.resolve("oracle_sql.json"), Json.obj(SparkEntry.oracleSql.toSeq.map {
      case (k, v) => k -> Json.str(v.replace("__OUT_DIR__", abs))
    }))
    failures
  }

  def run(ctx: Ctx): Outcome = {
    val o = ctx.opts
    val spark = ctx.spark
    val sc = spark.sparkContext
    require(o.dataDir.nonEmpty && new java.io.File(o.dataDir, "lineitem.parquet").exists,
      s"no test tables at '${o.dataDir}'")
    spark.conf.set("spark.sql.shuffle.partitions", o.cores.toString)
    val queries = SparkEntry.queries

    val dumpDir = o.work.resolve("verify")
    val w0 = System.nanoTime()
    val dumpFailures = dump(ctx, dumpDir)
    dumpFailures.foreach { case (q, msg) => System.err.println(s"[perfbench] $q failed: $msg") }
    val warmupS = (System.nanoTime() - w0) / 1e9

    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Boolean, Double)]]
    val failures = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    names.foreach(q => times(q) = mutable.ArrayBuffer.empty)
    var rep = 0
    val reps = ctx.loop { traced =>
      rep += 1
      val rs = ctx.spans.open(s"suite:$rep", 0)
      val gc0 = ctx.gcSeconds()
      val qs = names.map { q =>
        val span = ctx.spans.open(s"query:$q", rs.id)
        ctx.plans.current = span.id
        val t0 = System.nanoTime()
        try {
          EngineListener.within(sc, span) {
            queries(q)(spark, o.dataDir).write.format("noop").mode("overwrite").save()
          }
          times(q) += traced -> (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          failures(q) += 1
          System.err.println(s"[perfbench] $q failed: $e")
        }
        ctx.spans.close(span)
        if (traced) ctx.drain()
        q -> span
      }
      ctx.spans.close(rs)
      (rs, qs, ctx.gcSeconds() - gc0)
    }

    val medians = names.flatMap { q =>
      val xs = times(q).filterNot(_._1).map(_._2)
      if (xs.isEmpty) None else Some(q -> Stats.median(xs.toSeq))
    }.toMap
    val suiteS = medians.values.sum
    val geomean = if (medians.isEmpty) Double.NaN else Stats.geomean(medians.values.toSeq)
    val attempted = reps.size.toLong * names.size
    val e2e = new Metrics
    e2e("items_per_s", "1/s", names.size / suiteS)
    e2e("latency_ms.geomean", "ms", geomean * 1e3)
    val info = new Metrics
    info("suite_s", "s", suiteS)
    info("query_geomean_s", "s", geomean)
    info("suite_reps", "count", reps.count(!_._1).toDouble)
    info("warmup_s", "s", warmupS)

    val layers = new Metrics
    if (o.trace) {
      SparkLayers.zeros(layers)
      val traced = reps.filter(_._1).map(_._2)
      val sl = new SparkLayers(ctx, traced.map(_._1))
      sl.sparkLayer(layers, traced.map(_._3).sum / traced.size)
      names.foreach { q =>
        val xs = times(q).map(_._2)
        if (xs.nonEmpty) layers(s"query.$q.s", "s", Stats.median(xs.toSeq))
      }
      val nReps = traced.size.toDouble
      val allStages = traced.flatMap(r => sl.stagesOf(sl.jobsOf(r._1)))
      val scanStages = allStages.filter(_.inputBytes > 0)
      layers("scan.stage_s", "s", scanStages.map(s => (s.endMs - s.startMs) / 1e3).sum / nReps)
      layers("scan.input_bytes", "bytes", scanStages.map(_.inputBytes).sum / nReps)
      layers("scan.rows", "count", scanStages.map(_.inputRows).sum / nReps)
      layers("operators.shuffle_bytes", "bytes", allStages.map(_.shuffleWrite).sum / nReps)
      layers("operators.spill_bytes", "bytes", allStages.map(_.spillDisk).sum / nReps)
      layers("operators.driver_result_bytes", "bytes", allStages.map(_.resultBytes).sum / nReps)
      val spanIds = traced.flatMap(_._2.map(_._2.id)).toSet
      val plans = ctx.plans.records.filter(r => spanIds.contains(r.span))
      layers("operators.scans", "count", plans.map(_.scans).sum / nReps)
      layers("operators.exchanges", "count", plans.map(_.exchanges).sum / nReps)
      heavy.foreach { q =>
        val execs = traced.flatMap(_._2.filter(_._1 == q).map(_._2))
        val jobs = execs.map(sl.jobsOf)
        layers(s"query.$q.jobs", "count", jobs.map(_.size).sum.toDouble / execs.size)
        layers(s"query.$q.shuffle_bytes", "bytes",
          jobs.map(js => sl.stagesOf(js).map(_.shuffleWrite).sum).sum.toDouble / execs.size)
      }
      val texts = spark.read.parquet(s"${o.dataDir}/documents.parquet").select("text")
        .limit(2000).collect().map(r => Option(r.getString(0)).getOrElse("")).toIndexedSeq
      Probes.run(ctx, texts, graft.lang.DetectorConfig.default, layers)
      val tracedSuite = traced.map(_._1).map(s => (s.endUs - s.startUs) / 1e6)
      val plainSuite = reps.filterNot(_._1).map(r => (r._2._1.endUs - r._2._1.startUs) / 1e6)
      println(f"tracing overhead: traced suite median ${Stats.median(tracedSuite)}%.3f s over " +
        f"${tracedSuite.size} reps vs untraced ${Stats.median(plainSuite)}%.3f s over " +
        f"${plainSuite.size} reps (${(Stats.median(tracedSuite) / Stats.median(plainSuite) - 1) * 100}%+.1f%%)")
    }

    // per query: timed runs and failures, for run.py's oracle accounting
    val perQuery = Json.obj(names.map { q =>
      q -> Json.obj(Seq(
        "runs" -> (times(q).size + failures(q)).toString,
        "failed" -> failures(q).toString,
        "dump_error" -> dumpFailures.get(q).map(Json.str).getOrElse("null")))
    })
    val failed = failures.values.sum.toLong
    Outcome(attempted, failed, dumpFailures.isEmpty && failed == 0, e2e, layers, info,
      Seq("queries" -> perQuery, "verify_dir" -> Json.str(dumpDir.toString)))
  }
}
