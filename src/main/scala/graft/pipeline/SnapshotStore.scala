package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
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
      dropReasons: Map[String, Long] = Map.empty)

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

  /** Parse a manifest's `entries` array back into PartitionEntry values. */
  private def readEntries(manifest: Path): Seq[PartitionEntry] = {
    val node = mapper.readTree(Files.readString(manifest))
    val entries = node.get("entries")
    if (entries == null || !entries.isArray) return Seq.empty
    (0 until entries.size()).map { i =>
      val e = entries.get(i)
      val drops = Option(e.get("drop_reasons")).filter(_.isObject).map { d =>
        d.properties().asScala.map(kv => kv.getKey -> kv.getValue.asLong()).toMap
      }.getOrElse(Map.empty[String, Long])
      PartitionEntry(
        e.get("partition").asText(), e.get("rows").asLong(), e.get("kept").asLong(),
        e.get("data_path").asText(), drops)
    }
  }

  /** Input partitions already committed in the current snapshot. */
  def committedPartitions(): Set[String] =
    currentManifest().map(readEntries(_).map(_.partition).toSet).getOrElse(Set.empty)

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
    val drops = e.dropReasons.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    s"""{"partition":${q(e.partition)},"rows":${e.rows},"kept":${e.kept},""" +
      s""""drop_reasons":$drops,"data_path":${q(e.dataPath)}}"""
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

  /** Run the filter pipeline over a day-partitioned pages table with
    * resume: input partitions already in the current manifest are skipped;
    * each processed partition's output is written under `data/p_date=…`
    * and committed IMMEDIATELY (one atomic manifest move per partition,
    * carrying forward all prior entries) — a crash mid-run loses at most
    * the in-flight partition's lineage; everything committed before it
    * resumes for free. The round-2 shape committed once at the END of the
    * run, so a crash at partition k of n redid all k−1 finished
    * partitions.
    *
    * Returns the list of partitions processed in THIS run.
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

    val raw = spark.read.parquet(pagesPath)
    // hidden-partitioning stand-in: accept either a physical p_date= layout
    // or a raw table (partition derived from warc_ts, like Iceberg's
    // days(warc_ts) transform)
    val pages =
      if (raw.columns.contains("p_date")) raw
      else raw.withColumn("p_date", date_format($"warc_ts", "yyyy-MM-dd"))
    val allParts = pages.select($"p_date").distinct().as[String].collect().sorted
    val todo = allParts.filterNot(done)
    if (todo.isEmpty) return Seq.empty

    todo.zipWithIndex.foreach { case (part, idx) =>
      val slice = pages.filter($"p_date" === part)
      val result = FilterPipeline.run(spark, slice, model)
      val out = store.dataPath(part)
      result.write.mode("overwrite").parquet(out)
      // metrics from the written snapshot (read back: single source of
      // truth) in ONE job: keep ⇔ drop_reason IS NULL, so the null group
      // is the kept count
      val byReason = spark.read.parquet(out)
        .groupBy($"drop_reason").count()
        .as[(String, Long)].collect()
      val kept = byReason.collectFirst { case (null, n) => n }.getOrElse(0L)
      val drops = byReason.filter(_._1 != null).toMap
      store.commit(
        Seq(store.PartitionEntry(part, byReason.map(_._2).sum, kept, out, drops)),
        Map(
          "job" -> "quality_filter",
          "model_hash" -> graft.lang.PackedModel.registryHash.toString,
          "partitions_in_run" -> todo.length.toString,
          "partition_in_run" -> (idx + 1).toString
        )
      )
      onPartitionCommitted(part)
    }
    todo.toSeq
  }
}
