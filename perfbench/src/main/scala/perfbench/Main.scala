package perfbench

import graft.lang.{Detector, DetectorConfig, PackedModel, ScriptLang}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** Options of one measuring JVM (parsed from `--name value` pairs). */
final case class Opts(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, dataDir: String, setupOnly: Boolean, cores: Int)

/** Everything the workloads share once set-up is done. */
final class Ctx(val opts: Opts, val spark: SparkSession, val model: PackedModel,
    val bc: Broadcast[PackedModel]) {
  val spans = new SpanRecorder
  val listener = new EngineListener
  val plans = new PlanListener
  if (opts.trace) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(plans)
  }
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  val pipelineConfig: DetectorConfig = DetectorConfig.default.copy(
    languages = graft.pipeline.PagesGen.pipelineLangs.map(ScriptLang.id).toSet)

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }

  /** Run `f` for at least `seconds` (and at least once), alternating
    * plain and traced iterations in a traced run. Returns per-iteration
    * (traced?, result).
    */
  def loop[T](f: Boolean => T): Seq[(Boolean, T)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Boolean, T)]
    val t0 = System.nanoTime()
    var i = 0
    while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < opts.seconds ||
        (opts.trace && out.count(_._1) < 1)) {
      val traced = opts.trace && i % 2 == 1
      spans.enabled = traced
      out += traced -> f(traced)
      spans.enabled = false
      i += 1
    }
    out.toSeq
  }
}

/** What a workload reports back. `info` holds the workload's own
  * end-to-end figures under their usual names (docs_per_s, suite_s, ...).
  */
final case class Outcome(
    attempted: Long, failed: Long, correct: Boolean,
    e2e: Metrics, layers: Metrics, info: Metrics, extra: Seq[(String, String)] = Nil)

object Main {
  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(
      workload = kv("workload"),
      seed = kv("seed").toLong,
      seconds = kv("seconds").toDouble,
      trace = kv.get("trace").contains("1"),
      work = Paths.get(kv("work")).toAbsolutePath,
      dataDir = kv.getOrElse("data", ""),
      setupOnly = kv.get("setup-only").contains("1"),
      cores = kv.getOrElse("cores", "4").toInt)
  }

  /** Fresh JVM to ready: Spark session, fixture model trained and
    * broadcast, an all-language Detector built.
    */
  def setUp(o: Opts): (SparkSession, PackedModel, Broadcast[PackedModel], Metrics) = {
    val m = new Metrics
    val jvmS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    var t = System.nanoTime()
    def lap(): Double = { val n = System.nanoTime(); val d = (n - t) / 1e9; t = n; d }
    val local = o.work.resolve("spark-local")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = lap()
    val model = graft.train.FixtureCorpus.model
    val modelS = lap()
    val bc = graft.operators.LangOps.broadcastModel(spark)
    val broadcastS = lap()
    new Detector(model, DetectorConfig.default)
    val detectorS = lap()
    m("jvm.start_s", "s", jvmS)
    m("spark.session_s", "s", sessionS)
    m("train.model_s", "s", modelS)
    m("spark.broadcast_s", "s", broadcastS)
    m("lang.detector_build_s", "s", detectorS)
    (spark, model, bc, m)
  }

  /** Heap in use after a full collection, in MB: what the run retains. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val (spark, model, bc, setup) = setUp(o)
    println("READY " + setup.toJson)
    System.out.flush()
    // a set-up sample ends at READY; halt skips Spark's shutdown work
    if (o.setupOnly) Runtime.getRuntime.halt(0)

    val ctx = new Ctx(o, spark, model, bc)
    val outcome = o.workload match {
      case "crawl" => PipelineWorkload.run(ctx)
      case "queries" => QueriesWorkload.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    outcome.e2e("live_heap_mb", "MB", liveHeapMb())
    outcome.info("peak_rss_mb", "MB", peakRssMb())
    val layers = new Metrics
    if (o.trace) {
      layers ++= setup
      layers("train.model_bytes", "bytes",
        org.apache.spark.util.SizeEstimator.estimate(model).toDouble)
      layers ++= outcome.layers
      ctx.spans.writeJsonLines(o.work.resolve("spans.jsonl"))
      println("self time by span (count, total s, self s):")
      ctx.spans.selfTimes().foreach { case (name, n, tot, self) =>
        println(f"  $name%-12s $n%6d $tot%10.3f $self%10.3f")
      }
    }
    println("RESULT " + Json.obj(Seq(
      "correct" -> outcome.correct.toString,
      "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString,
      "e2e" -> outcome.e2e.toJson,
      "layers" -> layers.toJson,
      "info" -> outcome.info.toJson) ++ outcome.extra))
    System.out.flush()
    spark.stop()
  }
}
