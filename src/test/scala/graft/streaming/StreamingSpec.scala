package graft.streaming

import graft.operators.LangOps
import graft.pipeline.PagesGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with BothStateStores {
  protected lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  streamingTest("streaming filter matches the batch pipeline keep decisions") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val pagesDir = s"$tmp/pages"
    val n = 800
    val generated = PagesGen.pagesDf(spark, n)
    // two pages with one kept page's text on different hosts, both linking
    // the same embedded `://` target: neither is the other's same-host
    // duplicate, in batch or in streaming. The latest event time keeps
    // them from arriving late in whichever micro-batch reads them.
    val (text, lang) = generated
      .join(PagesGen.labelsDf(spark, n).filter($"ref_keep"), "url")
      .orderBy($"url").select($"text", $"lang").as[(String, String)].head()
    val lastTs = generated.agg(max($"warc_ts")).as[java.sql.Timestamp].head()
    val sharedText = Seq(
      "https://a.example/r?u=http://t.example/x",
      "https://b.example/r?u=http://t.example/x")
    val extra = sharedText.map(u => PagesGen.Page(u, lastTs, PagesGen.wrapHtml(u, text), text, lang))
    generated.unionByName(spark.createDataset(extra).toDF()).write.parquet(pagesDir)
    val bc = LangOps.broadcastModel(spark)

    val q = StreamingFilter.start(spark, pagesDir, bc, "stream_out", s"$tmp/ckpt")
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("stream_out").select(col("url"), col("keep").as("s_keep"))
    assert(streamed.count() == n + 2L)

    val batch = graft.pipeline.FilterPipeline
      .run(spark, spark.read.parquet(pagesDir), bc)
      .select(col("url"), col("keep").as("b_keep"))

    val diff = streamed.join(batch, "url")
      .filter(col("s_keep") =!= col("b_keep"))
      .count()
    assert(diff == 0L, s"$diff keep-decision mismatches between streaming and batch")
    val sharedKept = streamed.join(batch, "url")
      .filter(col("url").isin(sharedText: _*) && col("s_keep") && col("b_keep"))
      .count()
    assert(sharedKept == 2L, "both same-text pages on different hosts must be kept")
  }

  streamingTest("dedup state expires on the event-time horizon (bounded state store)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-t").toString
    val pagesDir = s"$tmp/pages"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(pagesDir))
    val bc = LangOps.broadcastModel(spark)

    def page(url: String, day: Int, text: String) = PagesGen.Page(
      url, java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2025, 6, day, 0, 0, 0)),
      PagesGen.wrapHtml(url, text), text, "eng")
    val body = ("the house of water and world people time year good know " * 5).trim

    // batch 1: the original page
    spark.createDataset(Seq(page("https://h.example.org/a", 1, body)))
      .write.mode("append").parquet(pagesDir)
    val q = StreamingFilter.start(spark, pagesDir, bc, "stream_ttl", s"$tmp/ckpt")
    q.processAllAvailable()
    // batch 2: far-future traffic pushes the watermark past day1 + horizon
    spark.createDataset(Seq(page("https://h.example.org/later", 28, body + " later")))
      .write.mode("append").parquet(pagesDir)
    q.processAllAvailable()
    // batch 3: an exact duplicate of the day-1 page, arriving after expiry —
    // bounded-dedup contract: it is treated as NEW content, not a dup
    spark.createDataset(Seq(page("https://h.example.org/b", 27, body)))
      .write.mode("append").parquet(pagesDir)
    q.processAllAvailable()
    q.stop()

    val out = spark.table("stream_ttl")
      .select($"url", $"drop_reason").as[(String, String)].collect().toMap
    assert(out.size == 3)
    assert(out("https://h.example.org/a") == null)
    assert(out("https://h.example.org/b") != "dup",
      s"expired (host, hash) state must not mark later copies dup: $out")
  }

  streamingTest("checkpoint-restart: a restarted query resumes without reprocessing") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-r").toString
    val pagesDir = s"$tmp/pages"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(pagesDir))
    val bc = LangOps.broadcastModel(spark)

    val outDir = s"$tmp/out"
    def startQuery() =
      StreamingFilter.filtered(spark, pagesDir, bc)
        .writeStream
        .outputMode("append")
        .format("parquet") // file sink: supports checkpoint recovery
        .option("path", outDir)
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()

    PagesGen.pagesDf(spark, 200).write.mode("append").parquet(pagesDir)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(outDir).count() == 200L)

    // second corpus slice (fresh page indexes) lands while the query is
    // DOWN; its event times shift 3 days forward so none of it is LATE
    // relative to the checkpointed watermark (late rows are correctly
    // dropped by the stateful dedup — that semantics is not under test here)
    import spark.implicits._
    spark.createDataset((200 until 350).map(i => PagesGen.resolve(i.toLong, 24)._1))
      .toDF()
      .withColumn("warc_ts", org.apache.spark.sql.functions.expr("warc_ts + INTERVAL 3 DAYS"))
      .write.mode("append").parquet(pagesDir)

    // restart from the same checkpoint: the batch ids recorded in the
    // checkpoint are skipped, only the 150 new rows are appended
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val resumed = spark.read.parquet(outDir).count()
    assert(resumed == 350L,
      s"restart must append exactly the 150 new rows (350 total), got $resumed")
    val urls = spark.read.parquet(outDir).select($"url").distinct().count()
    assert(urls == 350L, s"duplicate reprocessing detected: $urls distinct of $resumed")
  }
}
