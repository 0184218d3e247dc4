package graft.pipeline

import graft.operators.LangOps
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/** Fails the first attempt of task 0 in `commitTask`, after the task has
  * written (and counted) all of its rows.
  */
class FailFirstCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitTask(taskContext: TaskAttemptContext): TaskCommitMessage = {
    val tc = TaskContext.get()
    if (tc.partitionId() == 0 && tc.attemptNumber() == 0) {
      FailFirstCommitProtocol.injected.incrementAndGet()
      throw new RuntimeException("injected commitTask failure")
    }
    super.commitTask(taskContext)
  }
}

object FailFirstCommitProtocol {
  val injected = new AtomicInteger()
}

/** The manifest counts are observed during the write, and observed
  * metrics are accumulators. A task that fails after counting its rows
  * and is retried must not be counted twice.
  */
class SnapshotRetrySpec extends AnyFunSuite {

  test("manifests equal a recount of the data when a write task is retried") {
    // this suite owns the session lifecycle (the CrossContextPoolSpec
    // pattern): a retry needs a local[N,maxFailures] master
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    val spark = SparkSession.builder()
      .master("local[4,2]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft-snap-retry").toString
      PagesGen.writePartitioned(spark, 600, s"$tmp/pages")
      val bc = LangOps.broadcastModel(spark)
      spark.conf.set("spark.sql.sources.commitProtocolClass",
        classOf[FailFirstCommitProtocol].getName)
      val processed = SnapshotStore.runResumable(spark, s"$tmp/pages", s"$tmp/out", bc)
      spark.conf.unset("spark.sql.sources.commitProtocolClass")

      assert(FailFirstCommitProtocol.injected.get() == 1, "one task attempt failed and was retried")
      assert(processed.length == 3)
      val manifest = ManifestRecount.manifest(s"$tmp/out")
      assert(manifest == ManifestRecount.recount(spark, s"$tmp/out"))
      assert(manifest.values.map(_._1).sum == 600L)
      assert(ManifestRecount.langsCoverKernelRows(manifest), s"langs must count every non-dup row: $manifest")
    } finally spark.stop()
  }
}
