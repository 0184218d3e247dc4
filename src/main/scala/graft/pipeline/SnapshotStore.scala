package graft.pipeline

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Checkpoint-resumable snapshot writes with per-partition lineage +
  * metrics, emulating Iceberg's atomic snapshot commit (no Iceberg jar in
  * the sandbox — SURVEY.md §7): data files land under `data/`, then a new
  * `manifest-N.json` listing processed input partitions and their metrics
  * is moved into `snapshots/` atomically (write-temp + ATOMIC_MOVE), and
  * `CURRENT` is repointed. A crashed run leaves no visible manifest, so
  * re-running reprocesses only input partitions absent from the current
  * manifest — the north_rule's checkpoint/resume contract.
  */
final class SnapshotStore(root: String) {
  private val dataDir = Paths.get(root, "data")
  private val snapDir = Paths.get(root, "snapshots")
  private val currentPtr = Paths.get(root, "CURRENT")

  Files.createDirectories(dataDir)
  Files.createDirectories(snapDir)

  final case class PartitionEntry(
      partition: String, rows: Long, kept: Long, dataPath: String,
      dropReasons: Map[String, Long] = Map.empty, langs: Map[String, Long] = Map.empty)

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  // Manifests are parsed with a real JSON parser (jackson ships with Spark).
  // The earlier regex scan (`\{"partition":[^}]*\}`) silently truncated
  // entries at the first `}` of the nested drop_reasons object, corrupting
  // every carried-forward manifest from the second commit on.
  @transient private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def currentManifest(): Option[Path] = {
    if (!Files.exists(currentPtr)) return None
    val m = Paths.get(root, Files.readString(currentPtr).trim)
    if (Files.exists(m)) Some(m) else None
  }

  /** Parse a manifest's `entries` array back into PartitionEntry values.
    * A missing count object (`langs` in a manifest written before it
    * existed) reads as empty.
    */
  private def readEntries(manifest: Path): Seq[PartitionEntry] = {
    val node = mapper.readTree(Files.readString(manifest))
    val entries = node.get("entries")
    if (entries == null || !entries.isArray) return Seq.empty
    (0 until entries.size()).map { i =>
      val e = entries.get(i)
      def counts(key: String) = Option(e.get(key)).filter(_.isObject).map { d =>
        d.properties().asScala.map(kv => kv.getKey -> kv.getValue.asLong()).toMap
      }.getOrElse(Map.empty[String, Long])
      PartitionEntry(
        e.get("partition").asText(), e.get("rows").asLong(), e.get("kept").asLong(),
        e.get("data_path").asText(), counts("drop_reasons"), counts("langs"))
    }
  }

  /** The entries of the current snapshot, in commit order. */
  def committedEntries(): Seq[PartitionEntry] =
    currentManifest().map(readEntries).getOrElse(Seq.empty)

  /** Input partitions already committed in the current snapshot. */
  def committedPartitions(): Set[String] = committedEntries().map(_.partition).toSet

  private val manifestNameRe = """manifest-(\d+)\.json""".r

  private def nextSnapshotId(): Int = {
    // match only manifest-<digits>.json: a stale temp file left by a crash
    // between createTempFile and ATOMIC_MOVE must not wedge future commits
    val stream = Files.list(snapDir)
    val existing =
      try stream.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case manifestNameRe(n) => n.toInt }
        .toSeq
      finally stream.close()
    if (existing.isEmpty) 1 else existing.max + 1
  }

  private def entryJson(e: PartitionEntry): String = {
    def counts(m: Map[String, Long]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    s"""{"partition":${q(e.partition)},"rows":${e.rows},"kept":${e.kept},""" +
      s""""drop_reasons":${counts(e.dropReasons)},"langs":${counts(e.langs)},""" +
      s""""data_path":${q(e.dataPath)}}"""
  }

  /** Commit new partitions atomically: carries forward the previous
    * manifest's entries, appends the new ones, writes manifest to a temp
    * file and ATOMIC_MOVEs it in, then repoints CURRENT.
    */
  def commit(newEntries: Seq[PartitionEntry], metrics: Map[String, String]): Path = {
    val prev = currentManifest().map(readEntries).getOrElse(Seq.empty)
    val entriesJson = (prev ++ newEntries).map(entryJson)
    val id = nextSnapshotId()
    val metricsJson = metrics.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    val json =
      s"""{"snapshot_id":$id,"entries":[${entriesJson.mkString(",")}],"metrics":$metricsJson}"""

    val tmp = Files.createTempFile(snapDir, "tmp-", ".tmp")
    Files.writeString(tmp, json)
    val target = snapDir.resolve(s"manifest-$id.json")
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)

    val ptrTmp = Files.createTempFile(Paths.get(root), "CURRENT-", ".tmp")
    Files.writeString(ptrTmp, s"snapshots/manifest-$id.json")
    Files.move(ptrTmp, currentPtr, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    target
  }

  def dataPath(partition: String): String =
    dataDir.resolve(s"p_date=$partition").toString
}

object SnapshotStore {

  /** Pending days in date order, cut into batches: a batch takes days
    * while `bytesOf` its days fits one scan wave, and holds at least one
    * day.
    */
  private def batches(days: Seq[String], bytesOf: Seq[String] => Long, wave: Long): Seq[Seq[String]] =
    days.foldLeft(Vector.empty[Vector[String]]) {
      case (done :+ cur, day) if bytesOf(cur :+ day) <= wave => done :+ (cur :+ day)
      case (done, day) => done :+ Vector(day)
    }

  /** The input bytes of each day of a `p_date=` table, from its file
    * index: listing the files runs no Spark job.
    */
  private def dayBytes(index: HadoopFsRelation): Map[String, Long] = {
    val i = index.partitionSchema.fieldIndex("p_date")
    index.location.listFiles(Nil, Nil)
      .map(d => d.values.getUTF8String(i).toString -> d.files.map(_.getLen).sum)
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Run the filter pipeline over a day-partitioned pages table with
    * resume: days already in the current manifest are skipped, and each
    * processed day is committed on its own (one atomic manifest move per
    * day, carrying forward all prior entries).
    *
    * Pending days run in batches, each ONE scan and ONE write:
    *  - a batch takes pending days in date order while their input bytes
    *    fit one scan wave, `defaultParallelism ×
    *    spark.sql.files.maxPartitionBytes`, and holds at least one day. A
    *    few small days then scan in parallel in one job; a day that fills
    *    a wave runs alone;
    *  - `FilterPipeline.run` is scoped by `p_date`, so each day of a batch
    *    is deduplicated exactly as it would be alone;
    *  - the batch is written with `partitionBy("p_date")` into `data/` and
    *    dynamic partition overwrite, which replaces only the batch's days:
    *    committed days are never touched, and a day left behind by a crash
    *    is replaced on resume;
    *  - each day's manifest counts (`FilterPipeline.metrics`: rows, kept,
    *    rows per drop reason, kernel rows per language) are observed
    *    while the batch is written, not read back. After the
    *    write the days are committed in date order, with
    *    `onPartitionCommitted` after each commit.
    *
    * A crash therefore loses at most the uncommitted days of the in-flight
    * batch, and a resume redoes exactly those days.
    *
    * A physical `p_date=` table lists its days and their bytes from the
    * file index. Any other table stands in for Iceberg's hidden
    * partitioning (`days(warc_ts)`): its p_date is derived from `warc_ts`,
    * one `distinct` job lists the days, and every batch scans the whole
    * table.
    *
    * Returns the days processed in THIS run.
    */
  def runResumable(
      spark: SparkSession,
      pagesPath: String,
      outRoot: String,
      model: org.apache.spark.broadcast.Broadcast[graft.lang.PackedModel],
      /** invoked after each partition's commit — crash-injection seam for
        * the kill-after-k resume test (PipelineSpec); a production caller
        * can hook progress reporting here.
        */
      onPartitionCommitted: String => Unit = _ => ()
  ): Seq[String] = {
    import spark.implicits._
    val store = new SnapshotStore(outRoot)
    val done = store.committedPartitions()

    // the columns the pipeline reads, declared: inferring the schema from
    // the files would cost a Spark job. A `p_date=` directory value reads
    // as the declared string, not as an inferred date.
    val raw = spark.read.schema("url STRING, warc_ts TIMESTAMP, text STRING, p_date STRING")
      .parquet(pagesPath)
    val index = raw.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case fs: HadoopFsRelation => fs }.get
    val (pages, allDays, bytesOf) =
      if (index.partitionSchema.fieldNames.contains("p_date")) {
        val bytes = dayBytes(index)
        (raw, bytes.keys.toSeq, (days: Seq[String]) => days.map(bytes).sum)
      } else {
        val derived = raw.withColumn("p_date", date_format($"warc_ts", "yyyy-MM-dd"))
        (derived, derived.select($"p_date").distinct().as[String].collect().toSeq,
          (_: Seq[String]) => index.location.sizeInBytes)
      }
    val todo = allDays.sorted.filterNot(done)
    if (todo.isEmpty) return Seq.empty

    val wave = spark.sparkContext.defaultParallelism.toLong *
      spark.sessionState.conf.filesMaxPartitionBytes
    var committed = 0
    batches(todo, bytesOf, wave).foreach { batch =>
      val day = $"p_date"
      val result = FilterPipeline.run(spark, pages.filter(day.isin(batch: _*)), model, Some("p_date"))
      val counts = batch.flatMap(d => FilterPipeline.metrics(day === d, s"$d "))
      val observed = Observation()
      result.observe(observed, counts.head, counts.tail: _*)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("p_date").parquet(store.dataDir.toString)
      val metrics = observed.get
      batch.foreach { d =>
        def n(name: String): Long = metrics(s"$d $name").asInstanceOf[Long]
        def nonZero(keys: Seq[String], name: String => String) =
          keys.map(k => k -> n(name(k))).filter(_._2 > 0).toMap
        committed += 1
        store.commit(
          Seq(store.PartitionEntry(d, n("rows"), n("kept"), store.dataPath(d),
            nonZero(FilterPipeline.dropReasons, identity),
            nonZero(FilterPipeline.langs, l => s"lang_$l"))),
          Map(
            "job" -> "quality_filter",
            "model_hash" -> graft.lang.PackedModel.registryHash.toString,
            "partitions_in_run" -> todo.length.toString,
            "partition_in_run" -> committed.toString
          )
        )
        onPartitionCommitted(d)
      }
    }
    todo
  }
}
