package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.DataSourceScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One recorded interval. Times are microseconds since the recorder's
  * epoch. `parent` is the id of the span that caused it (0 = root).
  */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, var endUs: Long)

/** In-memory span recorder, written out once at the end of a run. Spans
  * from the benchmark's own code (pass, partition, query) are opened and
  * closed on the driver thread; job and stage spans come from the
  * listener, parented through the `perfbench.span` local property that
  * is set on the driver thread before each call into the engine.
  */
final class SpanRecorder {
  private val epochMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  /** Off outside traced iterations: `open` then hands out a span that is
    * not kept (id 0, so jobs under it stay unattributed).
    */
  @volatile var enabled = false

  def nowUs: Long = (System.nanoTime() - baseNs) / 1000
  /** A wall-clock millisecond from a Spark event, on the recorder's scale. */
  def fromEpochMs(ms: Long): Long = (ms - epochMs) * 1000

  def open(name: String, parent: Long): Span = synchronized {
    if (!enabled) return Span(0, parent, name, nowUs, -1)
    val s = Span(nextId.getAndIncrement(), parent, name, nowUs, -1)
    spans += s
    s
  }
  def close(s: Span): Unit = synchronized { s.endUs = nowUs }
  def add(name: String, parent: Long, startUs: Long, endUs: Long): Span = synchronized {
    val s = Span(nextId.getAndIncrement(), parent, name, startUs, endUs)
    spans += s
    s
  }

  /** Self time per span name: each span's duration minus the union of its
    * children's intervals clipped to it. Returns name -> (count, total s, self s).
    */
  def selfTimes(): Seq[(String, Int, Double, Double)] = synchronized {
    val done = spans.filter(_.endUs >= 0)
    val kids = done.groupBy(_.parent)
    val agg = mutable.LinkedHashMap.empty[String, (Int, Double, Double)]
    done.foreach { s =>
      val dur = s.endUs - s.startUs
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      ivs.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      val key = s.name.takeWhile(_ != ':')
      val (n, t, self) = agg.getOrElse(key, (0, 0.0, 0.0))
      agg(key) = (n + 1, t + dur / 1e6, self + math.max(0L, dur - covered) / 1e6)
    }
    agg.toSeq.map { case (k, (n, t, s)) => (k, n, t, s) }
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = synchronized {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""")
      sb.append(s""""start_us":${s.startUs},"end_us":${s.endUs}}""").append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** What the listener keeps per stage. */
final class StageRec(val stageId: Int, val jobId: Int) {
  var startMs = 0L; var endMs = 0L; var tasks = 0
  var runMs = 0L; var gcMs = 0L
  var inputBytes = 0L; var inputRows = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L
  var spillDisk = 0L; var resultBytes = 0L; var outputBytes = 0L
  val taskShuffleRead: ArrayBuffer[Long] = ArrayBuffer.empty
}

final class JobRec(val jobId: Int, val span: Long, val startMs: Long) {
  var endMs = 0L
}

/** The benchmark's SparkListener: jobs, stages and task metrics, kept in
  * memory and attributed to the benchmark span that submitted them.
  */
final class EngineListener extends SparkListener {
  val jobs: mutable.LinkedHashMap[Int, JobRec] = mutable.LinkedHashMap.empty
  val stages: mutable.LinkedHashMap[Int, StageRec] = mutable.LinkedHashMap.empty
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(EngineListener.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    val j = new JobRec(e.jobId, span, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    jobs(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    val r = stages.getOrElseUpdate(si.stageId,
      new StageRec(si.stageId, stageJob.getOrElse(si.stageId, -1)))
    r.startMs = si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) return
    val r = stages.getOrElseUpdate(e.stageId,
      new StageRec(e.stageId, stageJob.getOrElse(e.stageId, -1)))
    r.tasks += 1
    r.runMs += m.executorRunTime
    r.gcMs += m.jvmGCTime
    r.inputBytes += m.inputMetrics.bytesRead
    r.inputRows += m.inputMetrics.recordsRead
    val sr = m.shuffleReadMetrics.totalBytesRead
    r.shuffleRead += sr
    r.taskShuffleRead += sr
    r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    r.spillDisk += m.diskBytesSpilled
    r.resultBytes += m.resultSize
    r.outputBytes += m.outputMetrics.bytesWritten
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stages.get(si.stageId).foreach { r =>
      r.endMs = si.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

}

object EngineListener {
  val SpanProp = "perfbench.span"

  /** Run `f` with jobs attributed to `span`. */
  def within[T](sc: SparkContext, span: Span)(f: => T): T = {
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, span.id.toString)
    try f finally sc.setLocalProperty(SpanProp, prev)
  }
}

final case class PlanRec(span: Long, scans: Int, exchanges: Int)

/** Counts scan and exchange nodes in the final (adaptive) plan of every
  * action. Events arrive on the listener bus thread, so they are
  * attributed to `current`, which the driver thread sets before a call and keeps
  * until it has drained the bus after it.
  */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  @volatile var current: Long = 0L
  val records: ArrayBuffer[PlanRec] = ArrayBuffer.empty

  private def count(plan: SparkPlan): (Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    val scans = nodes.count {
      case _: DataSourceScanExec | _: BatchScanExec => true
      case _ => false
    }
    val exchanges = nodes.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }
    (scans, exchanges)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val span = current
    val (s, x) = try count(qe.executedPlan) catch { case _: Throwable => (0, 0) }
    synchronized { records += PlanRec(span, s, x) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

}
