package graft.streaming

import graft.lang.PackedModel
import graft.pipeline.FilterPipeline
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming variant of the quality filter: the same fused
  * per-document kernel over `readStream`, with the host-scoped exact-dup
  * rule expressed as keyed state (`flatMapGroupsWithState`) instead of a
  * batch window — first arrival per (host, text_hash) survives; later
  * arrivals drop. The detector configuration, host parse and keep/drop
  * gate are FilterPipeline's. Windowed keep-rate metrics run as a
  * watermarked aggregation.
  */
object StreamingFilter {

  /** Per-(host,text_hash) dedup state: first emitted copy + newest copy's
    * event time (staleness bound for the horizon check).
    */
  final case class SeenState(firstUrl: String, newestMs: Long)

  /** How long past its newest copy a (host, text_hash) entry is kept. */
  private[streaming] final val DedupHorizonMs = 7L * 86400000L

  def docStream(
      spark: SparkSession,
      pagesDir: String,
      model: Broadcast[PackedModel]
  ): Dataset[FilterPipeline.DocResult] = {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("url", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("warc_ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("html", org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType)
    ))
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "8")
      .parquet(pagesDir)
      .select($"url", $"warc_ts", $"text")
      // a crawl row with no event time cannot participate in watermarked
      // semantics: the dedup state's staleness/expiry arithmetic is all
      // warc_ts-driven (getTime on every group row). Dropped HERE, the one
      // ingestion choke point, rather than NPE-ing the state function —
      // the batch pipeline keeps such rows (it needs no event time).
      .filter($"warc_ts".isNotNull)
      .as[(String, java.sql.Timestamp, String)]
      .mapPartitions(it =>
        FilterPipeline.processPartition(model.value, FilterPipeline.detectorConfig, it))
  }

  /** Stateful first-wins dedup + gates; Append-mode output with the same
    * columns as the batch pipeline (dup detection via GroupState instead of
    * a window function).
    *
    * State is BOUNDED by an event-time timeout: a (host, text_hash) entry
    * expires `DedupHorizonMs` past its newest copy's event time (driven by
    * the `warc_ts` watermark) — without it, one state entry per distinct
    * page lives forever and the state store grows without bound at crawl
    * scale. A duplicate arriving later than the horizon is treated as new
    * content (the standard bounded-dedup contract, cf.
    * dropDuplicatesWithinWatermark).
    */
  def filtered(docs: Dataset[FilterPipeline.DocResult]): DataFrame = {
    import docs.sparkSession.implicits._

    val deduped = docs
      .withWatermark("warc_ts", "2 days")
      .groupByKey(d => (d.host, d.text_hash))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: (String, Long), rows: Iterator[FilterPipeline.DocResult],
         state: GroupState[SeenState]) => {
          if (state.hasTimedOut) {
            // idle key: the watermark passed newest + horizon with no data
            state.remove()
            Iterator.empty
          } else {
            val buf = rows.toSeq.sortBy(d => (d.warc_ts.getTime, d.url))
            if (buf.isEmpty) Iterator.empty
            else {
              // EventTimeTimeout only fires for keys with NO data in the
              // batch — a key receiving data past its horizon must detect
              // its own staleness and start a fresh dedup generation
              val stale = state.getOption.exists(s =>
                state.getCurrentWatermarkMs() > s.newestMs + DedupHorizonMs)
              if (stale) state.remove()
              val newest = math.max(
                buf.map(_.warc_ts.getTime).max,
                state.getOption.map(_.newestMs).getOrElse(Long.MinValue))
              val out =
                if (state.exists) {
                  state.update(state.get.copy(newestMs = newest))
                  buf.iterator.map(d => (d, 2))
                } else {
                  state.update(SeenState(buf.head.url, newest))
                  Iterator.single((buf.head, 1)) ++ buf.tail.iterator.map(d => (d, 2))
                }
              // keep the entry alive until horizon past the newest copy
              // (clamped above the watermark: very-late data would otherwise
              // set an already-passed timeout, which Spark rejects)
              state.setTimeoutTimestamp(
                math.max(newest + DedupHorizonMs, state.getCurrentWatermarkMs() + 1))
              out
            }
          }
        }
      )
      .toDF("doc", "dup_rank")
      .select($"doc.*", $"dup_rank")

    FilterPipeline.gate(deduped, $"dup_rank" > 1).drop("dup_rank")
  }

  /** Start the doc-level filter into an in-memory sink (tests/demo). */
  def start(
      spark: SparkSession,
      pagesDir: String,
      model: Broadcast[PackedModel],
      queryName: String,
      checkpoint: String
  ): StreamingQuery =
    filtered(docStream(spark, pagesDir, model)).writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()

  /** Watermarked per-day language/keep metrics stream. */
  def startMetrics(
      spark: SparkSession,
      pagesDir: String,
      model: Broadcast[PackedModel],
      queryName: String,
      checkpoint: String
  ): StreamingQuery = {
    val docs = docStream(spark, pagesDir, model).toDF()
    val agg = docs
      .withWatermark("warc_ts", "2 days")
      .groupBy(window(col("warc_ts"), "1 day"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        avg(col("confidence")).as("avg_conf")
      )
    agg.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
  }
}
