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

  /** Per-(host,text_hash) dedup state: the newest copy's event time
    * (staleness bound for the horizon check).
    */
  final case class SeenState(newestMs: Long)

  /** How long past its newest copy a (host, text_hash) entry is kept. */
  private[streaming] final val DedupHorizonMs = 7L * 86400000L

  /** The first-arrival-within-horizon step of both streaming operators, for
    * one key's micro-batch: a row arriving within `DedupHorizonMs` of the
    * key's newest arrival belongs to the current generation, whose first
    * arrival wins (the "item batch" rule of Clock-Sketch, PAPERS.md).
    *
    * `arrival` orders the rows: event time in ms, then a tie-break. `emit`
    * gets the batch's rows in that order, the generation's state before
    * this batch (None: the first row opens a new generation) and the
    * newest event time, and returns the state to keep and the rows to
    * emit. The entry expires `DedupHorizonMs` past its newest arrival
    * (event-time timeout, watermark-driven).
    */
  private[streaming] def firstWithinHorizon[R, T: Ordering, S, O](
      rows: Iterator[R],
      state: GroupState[S],
      arrival: R => (Long, T),
      newestMs: S => Long
  )(emit: (Seq[R], Option[S], Long) => (S, Iterator[O])): Iterator[O] = {
    if (state.hasTimedOut) {
      // idle key: the watermark passed newest + horizon with no data
      state.remove()
      return Iterator.empty
    }
    val buf = rows.toSeq.sortBy(arrival)
    if (buf.isEmpty) return Iterator.empty
    val watermark = state.getCurrentWatermarkMs()
    // EventTimeTimeout only fires for keys with NO data in the batch — a
    // key receiving data past its horizon must detect its own staleness
    // and start a fresh generation
    val current = state.getOption.filter(s => watermark <= newestMs(s) + DedupHorizonMs)
    val newest = math.max(buf.iterator.map(arrival(_)._1).max,
      current.fold(Long.MinValue)(newestMs))
    val (next, out) = emit(buf, current, newest)
    state.update(next)
    // clamped above the watermark: very-late data would otherwise set an
    // already-passed timeout, which Spark rejects
    state.setTimeoutTimestamp(math.max(newest + DedupHorizonMs, watermark + 1))
    out
  }

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
    * a window function): the first copy of a `firstWithinHorizon`
    * generation gets dup rank 1, every other copy 2.
    *
    * State is BOUNDED by the event-time timeout of `firstWithinHorizon` —
    * without it, one state entry per distinct page lives forever and the
    * state store grows without bound at crawl scale. A duplicate arriving
    * later than the horizon is treated as new content (the standard
    * bounded-dedup contract, cf. dropDuplicatesWithinWatermark).
    */
  def filtered(docs: Dataset[FilterPipeline.DocResult]): DataFrame = {
    import docs.sparkSession.implicits._

    val deduped = docs
      .withWatermark("warc_ts", "2 days")
      .groupByKey(d => (d.host, d.text_hash))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: (String, Long), rows: Iterator[FilterPipeline.DocResult],
         state: GroupState[SeenState]) =>
          firstWithinHorizon(rows, state,
              (d: FilterPipeline.DocResult) => (d.warc_ts.getTime, d.url),
              (s: SeenState) => s.newestMs) { (buf, current, newest) =>
            val ranks = buf.iterator.zipWithIndex.map { case (d, i) =>
              (d, if (i == 0 && current.isEmpty) 1 else 2)
            }
            (SeenState(newest), ranks)
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
