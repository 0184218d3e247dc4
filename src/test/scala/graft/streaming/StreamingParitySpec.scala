package graft.streaming

import graft.operators.LangOps
import graft.pipeline.{FilterPipeline, PagesGen}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.operators.stateful.flatmapgroupswithstate.FlatMapGroupsWithStateExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** Batch `FilterPipeline.run` and `StreamingFilter` apply one dup rule
  * with one content key and one post-dedup step, so on input that one
  * micro-batch reads they emit the same rows, every column, and streaming
  * observes batch's quality counts. (Over several micro-batches first
  * arrival and earliest (warc_ts, url) can differ.)
  */
class StreamingParitySpec extends AnyFunSuite with BothStateStores {
  protected lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(s: String) = java.sql.Timestamp.valueOf(s"2025-06-01 $s")

  /** One day of PagesGen pages (same-host copies included) plus hostile
    * rows, written as one file so that one micro-batch reads it all.
    */
  private def writeFixture(pagesDir: String): Unit = {
    import spark.implicits._
    val day = PagesGen.pagesDf(spark, 1800).filter($"warc_ts" < lit(ts("00:00:00")) + expr("INTERVAL 1 DAY"))
    val text = day.join(PagesGen.labelsDf(spark, 1800).filter($"ref_keep"), "url")
      .orderBy($"url").select($"text").as[String].head()
    def page(url: String, at: String, body: String) =
      PagesGen.Page(url, ts(at), Array.emptyByteArray, body, "eng")
    val hostile = Seq(
      // a null url, copied by the empty url: both are host ""
      page(null, "12:00:00", text),
      page("", "12:00:01", text),
      // same-host null and "" texts are different content
      page("https://nt.example/a", "12:00:02", null),
      page("https://nt.example/b", "12:00:03", ""),
      // a warc_ts tie is broken by url: /a wins though /b comes first
      page("https://tie.example/b", "12:00:04", text),
      page("https://tie.example/a", "12:00:04", text),
      // within one millisecond the earlier microsecond wins, not the url
      page("https://us.example/a", "12:00:05.000002", text),
      page("https://us.example/b", "12:00:05.000001", text))
    day.unionByName(spark.createDataset(hostile).toDF())
      .coalesce(1).write.parquet(pagesDir)
  }

  streamingTest("batch run and streaming emit identical rows, every column, on one micro-batch") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-parity").toString
    val pagesDir = s"$tmp/pages"
    writeFixture(pagesDir)
    val bc = LangOps.broadcastModel(spark)

    val q = StreamingFilter.start(spark, pagesDir, bc, "stream_parity", s"$tmp/ckpt")
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_parity").cache()
    val batch = FilterPipeline.run(spark, spark.read.parquet(pagesDir), bc).cache()

    // the fixture exercises what it claims, on the batch side
    val dupUrls = batch.filter($"is_dup").select($"url").as[String].collect().toSet
    assert(dupUrls.size >= 10, s"too few same-host copies: $dupUrls")
    assert(Set("", "https://tie.example/b", "https://us.example/a").subsetOf(dupUrls), dupUrls)
    assert(!dupUrls("https://nt.example/b"), "a null text and an empty text are different content")

    val problems = Seq.newBuilder[String]
    val missing = batch.columns.filterNot(streamed.columns.contains)
    val extra = streamed.columns.filterNot(batch.columns.contains)
    if (missing.nonEmpty || extra.nonEmpty)
      problems += s"columns differ: streaming lacks ${missing.mkString(",")}; " +
        s"streaming adds ${extra.mkString(",")}"
    val shared = batch.columns.filter(streamed.columns.contains).map(col).toSeq
    val b = batch.select(shared: _*)
    val s = streamed.select(shared: _*)
    if (b.count() != s.count()) problems += s"row counts differ: batch ${b.count()}, streaming ${s.count()}"
    val onlyBatch = b.except(s).collect()
    val onlyStream = s.except(b).collect()
    if (onlyBatch.nonEmpty) problems += s"${onlyBatch.length} rows only in batch, e.g. ${onlyBatch.take(3).mkString("; ")}"
    if (onlyStream.nonEmpty) problems += s"${onlyStream.length} rows only in streaming, e.g. ${onlyStream.take(3).mkString("; ")}"
    // the quality counts streaming observes, summed over its micro-batches,
    // are batch's over the same rows
    val quality = FilterPipeline.metrics(lit(true), "")
    val want = batch.agg(quality.head, quality.tail: _*).head()
    val observed = q.recentProgress.toSeq.flatMap(p => Option(p.observedMetrics.get("quality")))
    if (observed.isEmpty) problems += "no micro-batch reported the observed metrics `quality`"
    val names = want.schema.fieldNames.toSeq
    val got = names.map(n => n -> observed.map(_.getAs[Long](n)).sum).toMap
    val expected = names.map(n => n -> want.getAs[Long](n)).toMap
    if (got != expected)
      problems += s"observed quality counts differ: streaming ${got.filter(kv => expected(kv._1) != kv._2)}, " +
        s"batch ${expected.filter(kv => got(kv._1) != kv._2)}"
    // the language counts take each kernel row once; a duplicate is not one
    val kernelLangs = batch.filter(!$"is_dup").groupBy($"lang").count().as[(String, Long)].collect().toMap
    val observedLangs = got.collect { case (n, v) if n.startsWith("lang_") && v > 0 => n.stripPrefix("lang_") -> v }
    if (observedLangs != kernelLangs)
      problems += s"observed language counts $observedLangs are not the kernel rows' $kernelLangs"
    streamed.unpersist(); batch.unpersist()
    val found = problems.result()
    assert(found.isEmpty, found.mkString("\n"))
  }

  streamingTest("the exchange into the dedup state carries the narrow rows and the key, no kernel column") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-parity-plan").toString
    val pagesDir = s"$tmp/pages"
    PagesGen.pagesDf(spark, 100).coalesce(1).write.parquet(pagesDir)
    val bc = LangOps.broadcastModel(spark)

    val q = StreamingFilter.start(spark, pagesDir, bc, "stream_plan", s"$tmp/ckpt")
    val execution =
      try { q.processAllAvailable(); q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution }
      finally q.stop()
    assert(execution.offsetSeqMetadata.conf.get(ProviderKey) == spark.conf.getOption(ProviderKey),
      "the query must run under the session's state-store provider")
    val plan = execution.executedPlan
    val exchange = plan.collectFirst { case f: FlatMapGroupsWithStateExec => f }
      .flatMap(_.collectFirst { case e: ShuffleExchangeExec => e })
    assert(exchange.isDefined, s"no exchange feeds the state operator:\n$plan")
    val fields = exchange.get.output.map(a => a.name -> a.dataType)
    val kernelCols =
      Encoders.product[FilterPipeline.DocResult].schema.fieldNames.toSet -- Set("url", "warc_ts")
    assert(!fields.exists(f => kernelCols(f._1)), s"kernel columns cross the exchange: $fields")
    assert(fields.filterNot(f => Set("url", "warc_ts", "text")(f._1)).forall(_._2 == LongType),
      s"besides the narrow rows only the two-long key crosses: $fields")
  }
}
