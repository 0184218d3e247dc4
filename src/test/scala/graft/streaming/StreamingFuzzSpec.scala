package graft.streaming

import graft.fuzz.FuzzTables
import graft.operators.LangOps
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Hostile-input fuzz gate for the STREAMING surfaces (VERDICT r8 #3):
  * RelationalFuzzSpec covers the batch registry only, and the r6/r8
  * lesson — clean inputs keep green gates blind — applies verbatim to
  * the state-store paths. Both streaming operators are driven with
  * FuzzTables.Full-grade micro-batches (null url/ts/text/html, hostile
  * Unicode incl. lone surrogates and NUL, sub-shingle text, negative-
  * epoch timestamps, duplicate keys), including a RESTART between two
  * hostile batches, twice with the same seed:
  *
  *  - no crash: a poison row must never kill the query (the q17/q19
  *    batch kernels learned this in r6; the streaming state functions
  *    additionally do event-time arithmetic on every group row, so null
  *    timestamps are their own hazard class — dropped at the ingestion
  *    choke points, see StreamingFilter.filtered / StreamingNearDup);
  *  - determinism: two identical two-phase runs (same seed, same batch
  *    boundaries, fresh checkpoints) emit the same multiset;
  *  - planted signal survives the hostility: an exact-dup pair still
  *    dedups, a near-dup pair still pairs across the restart, and
  *    poison rows (null/short text, null ts) never surface.
  *
  * Timestamps are generated so phase-2 rows are never late against the
  * phase-1 watermark (lateness semantics are gated in StreamingSpec;
  * here late-vs-not must not depend on generator luck), EXCEPT the
  * deliberately planted negative-epoch rows, whose deterministic drop
  * is part of the hostile contract.
  */
class StreamingFuzzSpec extends AnyFunSuite with BothStateStores {
  protected lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val DayMs = 86400000L
  private val TsBase = java.sql.Timestamp.valueOf("2025-06-01 00:00:00").getTime

  private def ts(day: Int, offMs: Long = 0L): java.sql.Timestamp =
    new java.sql.Timestamp(TsBase + day * DayMs + offMs)

  private def hostileUrl(r: Random): String = r.nextInt(10) match {
    case 0 => null
    case 1 => ""
    case 2 => "https://" + FuzzTables.unicodeText(r).take(12) + ".example/u"
    case 3 => "no-scheme-host/path"
    case 4 => "https:///empty-host"
    case _ => s"https://h${r.nextInt(6)}.example.org/p${r.nextInt(1000)}"
  }

  private def hostileText(r: Random): String = r.nextInt(10) match {
    case 0 => null
    case 1 | 2 => FuzzTables.unicodeText(r) // lone surrogates, NUL, astral
    case 3 => "ab" // sub-shingle
    case _ => FuzzTables.asciiText(r)
  }

  /** Hostile ts for phase `dayLo..dayHi`: ~10% null, ~5% negative epoch
    * (1900 — deterministically late from phase 2 on), bulk in-range.
    */
  private def hostileTsIn(r: Random, dayLo: Int, dayHi: Int): java.sql.Timestamp =
    r.nextInt(20) match {
      case 0 | 1 => null
      case 2 => java.sql.Timestamp.valueOf("1900-01-01 00:00:00")
      case _ => ts(dayLo + r.nextInt(dayHi - dayLo + 1), r.nextInt(DayMs.toInt).toLong)
    }

  // ---- StreamingFilter ---------------------------------------------------

  private val pageSchema = StructType(Seq(
    StructField("url", StringType), StructField("warc_ts", TimestampType),
    StructField("html", BinaryType), StructField("text", StringType),
    StructField("lang", StringType)))

  private def hostilePages(seed: Long, phase: Int, n: Int): Seq[Row] = {
    val r = new Random(seed * 7919L + phase)
    val (lo, hi) = if (phase == 1) (0, 2) else (3, 5)
    (0 until n).map { _ =>
      val html: Array[Byte] =
        if (r.nextInt(5) == 0) null else Array.fill(r.nextInt(24))(r.nextInt().toByte)
      Row(hostileUrl(r), hostileTsIn(r, lo, hi), html, hostileText(r),
        if (r.nextInt(6) == 0) null else FuzzTables.unicodeText(r).take(3))
    }
  }

  /** One full two-phase (restart-mid-hostile) StreamingFilter run; returns
    * the output multiset on the comparison columns.
    */
  private def runFilter(seed: Long, tag: String): Map[(String, String, String, Boolean, Long), Int] = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory(s"graft-sfz-$tag").toString
    val pagesDir = s"$tmp/pages"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(pagesDir))
    val outDir = s"$tmp/out"
    val bc = LangOps.broadcastModel(spark)
    val dupText = "the house of water and world people time year good know " * 4

    def write(rows: Seq[Row]): Unit =
      spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        pageSchema)
        .coalesce(1) // one file per phase → one trigger → batch boundaries
        .write.mode("append").parquet(pagesDir) //   identical across runs

    def startQuery() =
      StreamingFilter.filtered(spark, pagesDir, bc)
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()

    // phase 1: hostile batch + a planted same-host exact-dup pair
    write(hostilePages(seed, 1, 120) ++ Seq(
      Row("https://dup.example.org/a", ts(0), null, dupText, "eng"),
      Row("https://dup.example.org/b", ts(1), null, dupText, "eng")))
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally q1.stop()

    // phase 2 lands while the query is DOWN (restart-mid-hostile)
    write(hostilePages(seed, 2, 120) :+
      Row("https://fresh.example.org/new", ts(5), null, dupText + " fresh", "eng"))
    val q2 = startQuery()
    try { q2.processAllAvailable() } finally q2.stop()

    val out = spark.read.parquet(outDir)
      .select($"url", $"lang", $"drop_reason", $"keep", $"text_hash")
      .as[(String, String, String, Boolean, Long)].collect()
    // planted invariants inside the run
    val byUrl = out.groupBy(_._1)
    assert(byUrl("https://dup.example.org/b").head._3 == "dup",
      "planted same-host exact duplicate must be marked dup")
    assert(byUrl("https://dup.example.org/a").head._3 != "dup",
      "first copy must not be the dup")
    assert(byUrl.contains("https://fresh.example.org/new"),
      "post-restart row with fresh event time must be processed")
    assert(out.forall(_._1 != null), "null url must be coerced, never emitted as null")
    out.groupBy(identity).map { case (k, v) => (k, v.length) }
  }

  streamingTest("streaming filter survives two hostile micro-batches with a restart, deterministically") {
    val a = runFilter(0xfeed5eedL, "a")
    val b = runFilter(0xfeed5eedL, "b")
    assert(a == b, {
      val extra = (a.toSet diff b.toSet) ++ (b.toSet diff a.toSet)
      s"two identical hostile runs diverged; ${extra.take(5)}"
    })
    assert(a.values.sum > 100, s"suspiciously few output rows: ${a.values.sum}")
  }

  // ---- StreamingNearDup ----------------------------------------------------

  private def runNearDup(seed: Long, tag: String): Set[(Long, Long)] = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory(s"graft-nfz-$tag").toString
    val docsDir = s"$tmp/docs"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(docsDir))
    val outDir = s"$tmp/out"
    val r = new Random(seed)
    val base = ("the house of water and world people time year good know " * 6).trim

    // poison ids (null/short/null-ts rows) must never surface as candidates
    val poison = scala.collection.mutable.Set[Long]()
    def hostileDocs(phase: Int, n: Int, idBase: Long): Seq[(Long, java.sql.Timestamp, String)] = {
      val (lo, hi) = if (phase == 1) (0, 2) else (3, 5)
      (0 until n).map { i =>
        val id = idBase + i
        val t = hostileText(r)
        val tstamp = hostileTsIn(r, lo, hi)
        if (tstamp == null || t == null ||
            graft.operators.TextOps.shingleHashes(t).isEmpty)
          poison += id
        (id, tstamp, t)
      }
    }

    def startQuery() = {
      val stream = spark.readStream
        .schema("doc_id LONG, ts TIMESTAMP, text STRING")
        .parquet(docsDir)
        .as[(Long, java.sql.Timestamp, String)]
      StreamingNearDup.candidates(stream)
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
    }

    // phase 1: hostile rows + planted owner (1) and near-copy (2)
    (hostileDocs(1, 150, 1000L) ++ Seq(
      (1L, ts(0), base), (2L, ts(1), base + " extra")))
      .toDF("doc_id", "ts", "text").coalesce(1)
      .write.mode("append").parquet(docsDir)
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally q1.stop()

    // phase 2 while DOWN: more hostility + a third near-copy that must hit
    // doc 1's checkpointed buckets after the restart
    (hostileDocs(2, 150, 2000L) :+ ((3L, ts(4), base + " other")))
      .toDF("doc_id", "ts", "text").coalesce(1)
      .write.mode("append").parquet(docsDir)
    val q2 = startQuery()
    try { q2.processAllAvailable() } finally q2.stop()

    val edges = spark.read.parquet(outDir)
      .select($"doc_id", $"owner_id").as[(Long, Long)].collect().toSet
    assert(edges.contains((2L, 1L)), s"planted near-dup (2,1) lost among hostile rows: $edges")
    assert(edges.contains((3L, 1L)), s"post-restart near-dup (3,1) lost: $edges")
    assert(edges.forall { case (d, o) => !poison.contains(d) && !poison.contains(o) },
      s"poison row surfaced as candidate: ${edges.filter(e => poison(e._1) || poison(e._2))}")
    assert(edges.forall { case (d, o) => d != o }, "no self-candidates")
    edges
  }

  streamingTest("streaming near-dup survives two hostile micro-batches with a restart, deterministically") {
    val a = runNearDup(0xdecafL, "a")
    val b = runNearDup(0xdecafL, "b")
    assert(a == b, s"two identical hostile runs diverged: ${(a diff b) ++ (b diff a)}")
  }
}
