package graft.streaming

import graft.lang.PackedModel
import graft.pipeline.FilterPipeline
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming variant of the quality filter: the host-scoped
  * exact-dup rule expressed as keyed state (`flatMapGroupsWithState`)
  * instead of a batch window — first arrival per `FilterPipeline.contentKey`
  * survives; later arrivals drop. Like the batch pipeline it deduplicates
  * the narrow (url, warc_ts, text) rows first, then runs FilterPipeline's
  * post-dedup step (kernel or duplicate placeholder, then the gate), so
  * its rows have exactly batch's columns. Every sink of `filtered`
  * reports batch's quality counts (`FilterPipeline.metrics`) per
  * micro-batch, as the observed metrics named `quality` of its
  * `StreamingQueryProgress`.
  */
object StreamingFilter {

  /** Per-content-key dedup state: the newest copy's event time
    * (staleness bound for the horizon check).
    */
  final case class SeenState(newestMs: Long)

  /** How long past its newest copy a content key's entry is kept. */
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

  private type Narrow = (String, java.sql.Timestamp, String)

  /** The crawl's narrow (url, warc_ts, text) rows as a stream. A null url
    * becomes the empty url here, as the kernel and `dupDoc` map it, so
    * `firstWithinHorizon`'s (ts, url) order never compares a null.
    */
  private def pageStream(spark: SparkSession, pagesDir: String): DataFrame =
    spark.readStream
      .schema("url STRING, warc_ts TIMESTAMP, text STRING")
      .option("maxFilesPerTrigger", "8")
      .parquet(pagesDir)
      // a crawl row with no event time cannot participate in watermarked
      // semantics: the dedup state's staleness/expiry arithmetic is all
      // warc_ts-driven (getTime on every group row). Dropped HERE, the one
      // ingestion choke point, rather than NPE-ing the state function —
      // the batch pipeline keeps such rows (it needs no event time).
      .filter(col("warc_ts").isNotNull)
      .select(coalesce(col("url"), lit("")).as("url"), col("warc_ts"), col("text"))

  /** Stateful first-wins dedup, then the post-dedup step; Append-mode
    * output with the same columns as the batch pipeline (dup detection via
    * GroupState instead of a window function): the first copy of a
    * `firstWithinHorizon` generation is kept, every other copy is a dup.
    * The output observes `FilterPipeline.metrics` as `quality`.
    * Arrival order is batch's (warc_ts, url), with warc_ts to the
    * microsecond. Only the narrow rows and the two-long key cross the
    * exchange into the state operator.
    *
    * State is BOUNDED by the event-time timeout of `firstWithinHorizon` —
    * without it, one state entry per distinct page lives forever and the
    * state store grows without bound at crawl scale. A duplicate arriving
    * later than the horizon is treated as new content (the standard
    * bounded-dedup contract, cf. dropDuplicatesWithinWatermark).
    */
  def filtered(spark: SparkSession, pagesDir: String, model: Broadcast[PackedModel]): DataFrame = {
    import spark.implicits._
    val (keyHost, keyText) = FilterPipeline.contentKey($"url", $"text")
    val flagged = pageStream(spark, pagesDir)
      .withWatermark("warc_ts", "2 days")
      .groupBy(keyHost, keyText)
      .as[(Long, Long), Narrow]
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: (Long, Long), rows: Iterator[Narrow], state: GroupState[SeenState]) =>
          firstWithinHorizon(rows, state,
              (r: Narrow) => (r._2.getTime, (r._2.getNanos, r._1)),
              (s: SeenState) => s.newestMs) { (buf, current, newest) =>
            val flags = buf.iterator.zipWithIndex.map { case ((url, ts, text), i) =>
              (url, ts, text, i > 0 || current.isDefined)
            }
            (SeenState(newest), flags)
          }
      )
      .toDF("url", "warc_ts", "text", "is_dup")
    val quality = FilterPipeline.metrics(lit(true), "")
    FilterPipeline.kernelOrDup(flagged, model).observe("quality", quality.head, quality.tail: _*)
  }

  /** Start the doc-level filter into an in-memory sink (tests/demo). */
  def start(
      spark: SparkSession,
      pagesDir: String,
      model: Broadcast[PackedModel],
      queryName: String,
      checkpoint: String
  ): StreamingQuery =
    filtered(spark, pagesDir, model).writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
}
