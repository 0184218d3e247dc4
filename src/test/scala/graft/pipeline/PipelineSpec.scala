package graft.pipeline

import graft.operators.LangOps
import graft.pipeline.ManifestRecount.DayCounts
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** North-rule gates: keep/drop F1 ≥ 0.99 vs the generator's reference
  * labels, exact scrubbed text, byte-identical extracted text per url, and
  * checkpoint-resume (BASELINE.json, FIXTURES.md F4).
  */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val N = 2000

  private lazy val result = {
    val bc = LangOps.broadcastModel(spark)
    FilterPipeline.run(spark, PagesGen.pagesDf(spark, N), bc).cache()
  }
  private lazy val labels = PagesGen.labelsDf(spark, N)

  test("keep/drop F1 >= 0.99 vs reference labels") {
    val joined = result.select(col("url"), col("keep"))
      .join(labels.select(col("url"), col("ref_keep"), col("ref_defect")), "url")
      .cache()
    assert(joined.count() == N.toLong)
    val tp = joined.filter(col("keep") && col("ref_keep")).count().toDouble
    val fp = joined.filter(col("keep") && !col("ref_keep")).count().toDouble
    val fn = joined.filter(!col("keep") && col("ref_keep")).count().toDouble
    val precision = tp / (tp + fp)
    val recall = tp / (tp + fn)
    val f1 = 2 * precision * recall / (precision + recall)
    val mism = joined.filter(col("keep") =!= col("ref_keep"))
      .groupBy(col("ref_defect"), col("keep")).count().collect()
    info(s"precision=$precision recall=$recall f1=$f1 mismatches=${mism.mkString(";")}")
    assert(f1 >= 0.99, s"F1 $f1 below target; mismatch profile: ${mism.mkString("; ")}")
    joined.unpersist()
  }

  test("null-text pages flow through the full pipeline and are dropped") {
    import spark.implicits._
    val bc = LangOps.broadcastModel(spark)
    val pages = PagesGen.pagesDf(spark, 50).limit(20)
      .unionByName(spark.createDataset(Seq(
        PagesGen.Page("https://null.example/p1",
          java.sql.Timestamp.valueOf("2025-06-01 00:00:00"),
          Array.emptyByteArray, null, "und"))).toDF())
    val out = FilterPipeline.run(spark, pages, bc)
    val nullRow = out.filter(col("url") === "https://null.example/p1")
      .select(col("keep"), col("lang"), col("word_count")).collect()
    assert(nullRow.length == 1, "the null page must not crash or vanish")
    assert(!nullRow(0).getBoolean(0), "an empty page can never be kept")
    assert(nullRow(0).getString(1) == "und" && nullRow(0).getInt(2) == 0)
  }

  test("host parse: the dedup key and DocResult.host agree on every url shape") {
    import spark.implicits._
    val bc = LangOps.broadcastModel(spark)
    val expected = Seq(
      "https://a.example/r?u=http://b.example/x" -> "a.example", // embedded ://
      "HTTPS://a.example/x" -> "a.example",                      // uppercase scheme
      "ftp://files.example/pub" -> "files.example",
      "no-scheme-host/path" -> "no-scheme-host",
      "https://a.example" -> "a.example",
      "" -> "",
      (null: String) -> "")
    val keyHosts = expected.map(_._1).toDF("url")
      .select(FilterPipeline.hostCol($"url")).as[String].collect().toSeq
    assert(keyHosts == expected.map(_._2))
    // two copies of each page: the later one is the dup placeholder row,
    // the earlier one comes out of the fused kernel
    val pages = expected.zipWithIndex.flatMap { case ((url, _), i) =>
      Seq(0, 1).map(d => PagesGen.Page(url,
        java.sql.Timestamp.valueOf(s"2025-06-0${1 + d} 00:00:00"),
        Array.emptyByteArray, s"page $i of the host table", "eng"))
    }
    val out = FilterPipeline.run(spark, spark.createDataset(pages).toDF(), bc)
      .select($"url", $"host", FilterPipeline.hostCol($"url").as("key_host"), $"is_dup")
      .as[(String, String, String, Boolean)].collect()
    assert(out.length == pages.length)
    // a null url comes out as the empty url
    val want = expected.map { case (u, h) => (if (u == null) "" else u) -> h }.toMap
    out.foreach { case (url, host, keyHost, _) =>
      assert(host == want(url), s"DocResult.host of '$url'")
      assert(keyHost == host, s"key host of '$url'")
    }
    assert(out.count(_._4) == expected.length, "each page's second copy is its same-host dup")
  }

  test("scrubbed text matches the reference scrub exactly") {
    val joined = result.select(col("url"), col("scrubbed_text"))
      .join(labels.filter(col("ref_defect") =!= "dup_copy")
        .select(col("url"), col("ref_scrubbed_text")), "url")
    val bad = joined.filter(col("scrubbed_text") =!= col("ref_scrubbed_text"))
    val n = bad.count()
    if (n > 0) info("example mismatch: " + bad.head().toString)
    assert(n == 0, s"$n scrub mismatches")
  }

  test("per-row invariant: byte-identical extracted text per url") {
    import spark.implicits._
    val pages = PagesGen.pagesDf(spark, 500)
    val bad = pages.select($"url", $"html", $"text")
      .as[(String, Array[Byte], String)]
      .map { case (url, html, text) =>
        (url, FilterPipeline.extractText(html) == text)
      }
      .filter(!_._2)
      .count()
    assert(bad == 0L, s"$bad pages where extractText(html) != text")
  }

  test("detected language matches generator lang on kept pages (>= 99%)") {
    val joined = result.filter(col("keep"))
      .select(col("url"), col("lang"))
      .join(labels.select(col("url"), col("ref_lang")), "url")
    val total = joined.count().toDouble
    val ok = joined.filter(col("lang") === col("ref_lang")).count().toDouble
    info(s"lang accuracy on kept pages: ${ok / total} ($ok/$total)")
    assert(ok / total >= 0.99)
  }

  test("checkpoint-resume: second run processes only missing partitions") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val pagesPath = s"$tmp/pages"
    val outRoot = s"$tmp/out"
    PagesGen.writePartitioned(spark, 600, pagesPath)
    val bc = LangOps.broadcastModel(spark)

    // first run: only two of the three day-partitions visible
    import spark.implicits._
    val allParts = spark.read.parquet(pagesPath)
      .select($"p_date").distinct().as[String].collect().sorted
    assert(allParts.length == 3, s"expected 3 day partitions, got ${allParts.toSeq}")

    // simulate partial availability by copying two partitions
    val partialPath = s"$tmp/pages_partial"
    spark.read.parquet(pagesPath)
      .filter($"p_date" =!= allParts.last)
      .write.partitionBy("p_date").parquet(partialPath)

    val run1 = SnapshotStore.runResumable(spark, partialPath, outRoot, bc)
    assert(run1.sorted == allParts.dropRight(1).toSeq)

    // second run over the full table: resumes, processes ONLY the last day
    val run2 = SnapshotStore.runResumable(spark, pagesPath, outRoot, bc)
    assert(run2 == Seq(allParts.last), s"expected resume to process only ${allParts.last}, got $run2")

    // third run: nothing to do
    val run3 = SnapshotStore.runResumable(spark, pagesPath, outRoot, bc)
    assert(run3.isEmpty)

    // lineage: manifest rows match the data
    val store = new SnapshotStore(outRoot)
    assert(store.committedPartitions() == allParts.toSet)
    val outRows = spark.read.parquet(s"$outRoot/data").count()
    assert(outRows == 600L)

    // the RESUMED (second-commit) manifest must be well-formed JSON with all
    // carried-forward entries intact — full drop_reasons lineage included
    // (regression: a regex carry-forward truncated nested objects)
    val currentRel = java.nio.file.Files.readString(
      java.nio.file.Paths.get(outRoot, "CURRENT")).trim
    val manifestJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(outRoot, currentRel))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(manifestJson)
    // one commit PER PARTITION: run1 = manifests 1,2; run2 = manifest 3
    assert(node.get("snapshot_id").asInt() == 3)
    val entries = node.get("entries")
    assert(entries.isArray && entries.size() == 3, s"expected 3 entries: $manifestJson")
    (0 until entries.size()).foreach { i =>
      val e = entries.get(i)
      assert(e.get("data_path").asText().nonEmpty)
      assert(e.get("drop_reasons").isObject)
      assert(e.get("rows").asLong() > 0L)
    }
    // a stale temp file must not wedge snapshot-id derivation
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outRoot, "snapshots", "manifest-oops.tmp"), "{}")
    store.commit(Seq.empty, Map("noop" -> "true"))
    assert(store.committedPartitions() == allParts.toSet)
  }

  /** (url, keep, drop_reason, scrubbed_text) of every row under `data/`. */
  private def outputRows(outRoot: String): Seq[(String, Boolean, String, String)] = {
    import spark.implicits._
    spark.read.parquet(s"$outRoot/data")
      .select($"url", $"keep", $"drop_reason", $"scrubbed_text")
      .as[(String, Boolean, String, String)].collect().toSeq.sortBy(_._1)
  }

  /** Every file under the given day directories of `data/`, with its size
    * and modification time.
    */
  private def dayFiles(outRoot: String, days: Set[String]): Set[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    days.flatMap { d =>
      val dir = java.nio.file.Paths.get(outRoot, "data", s"p_date=$d")
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala.map { f =>
        (f.toString, java.nio.file.Files.size(f), java.nio.file.Files.getLastModifiedTime(f).toMillis)
      }.toSet
      finally s.close()
    }
  }

  test("manifests equal a recount of the written data; dedup is scoped to a day") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-snap-recount").toString
    val pagesPath = s"$tmp/pages"
    val outRoot = s"$tmp/out"
    PagesGen.writePartitioned(spark, 600, pagesPath)
    // one kept text on copy.example: its original on the first day, a
    // same-day copy an hour later, and a copy two days later
    val (fixture, labels) = PagesGen.generate(600)
    val text = fixture.zip(labels).collectFirst { case (p, l) if l.ref_defect == "clean" => p.text }.get
    val copies = Seq(
      "https://copy.example/original" -> "2025-06-01 10:00:00",
      "https://copy.example/same-day" -> "2025-06-01 11:00:00",
      "https://copy.example/later-day" -> "2025-06-03 10:00:00")
    spark.createDataset(copies.map { case (url, ts) =>
      PagesGen.Page(url, java.sql.Timestamp.valueOf(ts), PagesGen.wrapHtml(url, text), text, "eng")
    }).withColumn("p_date", date_format($"warc_ts", "yyyy-MM-dd"))
      .write.mode("append").partitionBy("p_date").parquet(pagesPath)

    val bc = LangOps.broadcastModel(spark)
    val processed = SnapshotStore.runResumable(spark, pagesPath, outRoot, bc)
    assert(processed == Seq("2025-06-01", "2025-06-02", "2025-06-03"))

    val manifest = ManifestRecount.manifest(outRoot)
    assert(manifest == ManifestRecount.recount(spark, outRoot))
    assert(manifest.values.map(_._1).sum == 603L)
    assert(ManifestRecount.langsCoverKernelRows(manifest), s"langs must count every non-dup row: $manifest")

    val out = spark.read.parquet(s"$outRoot/data")
      .filter($"url".startsWith("https://copy.example/"))
      .select($"url", $"keep", $"drop_reason").as[(String, Boolean, String)].collect()
      .map(r => r._1.stripPrefix("https://copy.example/") -> (r._2, r._3)).toMap
    assert(out("original") == ((true, null)))
    assert(out("same-day") == ((false, "dup")))
    assert(out("later-day") == ((true, null)), "dedup is per day: a later day's first copy is kept")
  }

  test("a raw table (p_date derived from warc_ts) commits the same days and rows as a p_date= table") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-snap-raw").toString
    PagesGen.writePartitioned(spark, 600, s"$tmp/pages")
    PagesGen.pagesDf(spark, 600).write.parquet(s"$tmp/raw")
    val bc = LangOps.broadcastModel(spark)
    val fromDays = SnapshotStore.runResumable(spark, s"$tmp/pages", s"$tmp/out", bc)
    val fromRaw = SnapshotStore.runResumable(spark, s"$tmp/raw", s"$tmp/out_raw", bc)
    assert(fromRaw == fromDays && fromRaw.length == 3)
    assert(ManifestRecount.manifest(s"$tmp/out_raw") == ManifestRecount.manifest(s"$tmp/out"))
    assert(outputRows(s"$tmp/out_raw") == outputRows(s"$tmp/out"))
  }

  test("crash after k of n partition commits loses at most the in-flight work") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-snap-crash").toString
    val pagesPath = s"$tmp/pages"
    val outRoot = s"$tmp/out"
    PagesGen.writePartitioned(spark, 600, pagesPath) // 3 day-partitions
    val bc = LangOps.broadcastModel(spark)

    // crash injected right after the SECOND partition's commit
    var committed = 0
    val crash = intercept[RuntimeException] {
      SnapshotStore.runResumable(spark, pagesPath, outRoot, bc,
        onPartitionCommitted = _ => {
          committed += 1
          if (committed == 2) throw new RuntimeException("injected crash")
        })
    }
    assert(crash.getMessage == "injected crash")

    // the two finished partitions ARE committed (per-partition manifests)
    val store = new SnapshotStore(outRoot)
    val before = store.committedPartitions()
    assert(before.size == 2)
    val committedFiles = dayFiles(outRoot, before)

    // resume reprocesses ONLY the one partition the crash preempted
    val resumed = SnapshotStore.runResumable(spark, pagesPath, outRoot, bc)
    assert(resumed.length == 1, s"expected 1 reprocessed partition, got $resumed")
    assert(store.committedPartitions().size == 3)
    assert(spark.read.parquet(s"$outRoot/data").count() == 600L)

    // the resume replaced only the uncommitted day: the committed days'
    // files are the ones the crashed run wrote, and the output is row for
    // row that of an uninterrupted run
    assert(dayFiles(outRoot, before) == committedFiles)
    SnapshotStore.runResumable(spark, pagesPath, s"$tmp/uninterrupted", bc)
    assert(outputRows(outRoot) == outputRows(s"$tmp/uninterrupted"))
    assert(ManifestRecount.manifest(outRoot) == ManifestRecount.recount(spark, outRoot))
  }

  test("a manifest written before `langs` existed resumes and carries its entries forward unchanged") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-snap-old").toString
    val pagesPath = s"$tmp/pages"
    val partialPath = s"$tmp/pages_partial"
    val outRoot = s"$tmp/out"
    PagesGen.writePartitioned(spark, 600, pagesPath)
    val days = spark.read.parquet(pagesPath).select($"p_date".cast("string")).distinct()
      .as[String].collect().sorted.toSeq
    spark.read.parquet(pagesPath).filter($"p_date" =!= days.last)
      .write.partitionBy("p_date").parquet(partialPath)
    val bc = LangOps.broadcastModel(spark)
    SnapshotStore.runResumable(spark, partialPath, outRoot, bc)

    // rewrite the current manifest as one written before `langs` existed
    val current = java.nio.file.Paths.get(outRoot,
      java.nio.file.Files.readString(java.nio.file.Paths.get(outRoot, "CURRENT")).trim)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(java.nio.file.Files.readString(current))
    node.get("entries").forEach(e =>
      e.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].remove("langs"))
    java.nio.file.Files.writeString(current, mapper.writeValueAsString(node))
    assert(!java.nio.file.Files.readString(current).contains("langs"))

    val store = new SnapshotStore(outRoot)
    val old = store.committedEntries()
    assert(old.map(_.partition) == days.init)
    assert(old.forall(e => e.langs.isEmpty && e.rows > 0 && e.dropReasons.nonEmpty))

    assert(SnapshotStore.runResumable(spark, pagesPath, outRoot, bc) == Seq(days.last))
    val entries = store.committedEntries()
    assert(entries.init == old, "the old entries are carried forward unchanged")
    val last = days.last
    val recounted = ManifestRecount.recount(spark, outRoot)
    assert(ManifestRecount.manifest(outRoot)(last) == recounted(last))
    assert(ManifestRecount.langsCoverKernelRows(Map(last -> recounted(last))))
  }

  test("a day of injected gibberish shows as a rise of langs.und and low_coverage in the manifests") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-snap-und").toString
    val pagesPath = s"$tmp/pages"
    val outRoot = s"$tmp/out"
    val (pages, labels) = PagesGen.generate(900)
    val gibberish = pages.zip(labels).collect { case (p, l) if l.ref_defect == "gibberish" => p.text }
    // the same consonant words in Greek letters: a script none of the
    // detector's languages is written in, so the kernel finds no candidate
    val latin = "bcdfghjklmnpqrstvwxz"
    val greek = "βγδφχηξκλμνπθρστωψζς"
    def page(host: String, i: Int, text: String) = {
      val url = s"https://$host.example/g$i"
      val ts = java.sql.Timestamp.valueOf(s"2025-06-02 ${10 + i % 10}:00:00")
      PagesGen.Page(url, ts, PagesGen.wrapHtml(url, text), text, "und")
    }
    val injected = gibberish.zipWithIndex.flatMap { case (t, i) =>
      Seq(page("latin", i, t), page("greek", i, t.map(c => latin.indexOf(c) match {
        case -1 => c
        case k => greek(k)
      })))
    }
    assert(gibberish.length >= 40, s"too little gibberish: ${gibberish.length}")
    pages.filter(_.warc_ts.before(java.sql.Timestamp.valueOf("2025-06-03 00:00:00")))
      .toDF().unionByName(spark.createDataset(injected).toDF())
      .withColumn("p_date", date_format($"warc_ts", "yyyy-MM-dd"))
      .write.partitionBy("p_date").parquet(pagesPath)

    val bc = LangOps.broadcastModel(spark)
    assert(SnapshotStore.runResumable(spark, pagesPath, outRoot, bc) == Seq("2025-06-01", "2025-06-02"))
    val manifest = ManifestRecount.manifest(outRoot)
    assert(manifest == ManifestRecount.recount(spark, outRoot))

    def rate(day: String, counts: DayCounts => Map[String, Long], key: String): Double =
      counts(manifest(day)).getOrElse(key, 0L).toDouble / manifest(day)._1
    val und = (rate("2025-06-01", _._4, "und"), rate("2025-06-02", _._4, "und"))
    val lowCoverage = (rate("2025-06-01", _._3, "low_coverage"), rate("2025-06-02", _._3, "low_coverage"))
    info(s"und rate $und, low_coverage rate $lowCoverage")
    assert(und._2 >= und._1 + 0.1, s"langs.und must rise on the gibberish day: $und")
    assert(lowCoverage._2 >= lowCoverage._1 + 0.05, s"low_coverage must rise on the gibberish day: $lowCoverage")
  }
}
