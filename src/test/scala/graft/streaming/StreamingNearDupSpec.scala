package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The streaming banding shares q17's calibration, so every batch
  * exact-verified near-dup pair must land in the same streaming near-dup
  * CLUSTER (connected through bucket owners — first-wins ownership means a
  * pair can be connected via a shared owner rather than by a direct edge).
  */
class StreamingNearDupSpec extends AnyFunSuite with BothStateStores {
  protected lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  streamingTest("streaming candidates cluster every batch q17 pair; state rows stay per-bucket") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-neardup").toString
    val sf = "/root/testdata/sf0.001"

    // same corpus as batch q17, with a constant event time added
    val ts = java.sql.Timestamp.valueOf("2025-06-01 00:00:00")
    graft.operators.Tables.documents(spark, sf)
      .select($"doc_id", lit(ts).as("ts"), $"text")
      // poison rows: a null and a sub-shingle text used to NPE the
      // banding flatMap and kill the whole streaming query; they must
      // instead band to nothing and never appear as candidates
      .unionByName(Seq(
        (999901L, ts, null.asInstanceOf[String]),
        (999902L, ts, "ab")).toDF("doc_id", "ts", "text"))
      .write.parquet(s"$tmp/docs")

    val stream = spark.readStream
      .schema("doc_id LONG, ts TIMESTAMP, text STRING")
      .parquet(s"$tmp/docs")
      .as[(Long, java.sql.Timestamp, String)]
    val q = StreamingNearDup.candidates(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    q.processAllAvailable()
    q.stop()

    // the cross-band dedup stage must leave ONE row per (doc, owner) —
    // consumers no longer pay up to Bands× per pair
    val dupCounts = spark.table("neardup_out")
      .groupBy($"doc_id", $"owner_id").count()
      .agg(max($"count")).as[Long].collect()(0)
    assert(dupCounts == 1L, s"expected one candidate row per (doc, owner), max was $dupCounts")

    val edges = spark.table("neardup_out")
      .select($"doc_id", $"owner_id").distinct()
      .as[(Long, Long)].collect()
    assert(edges.nonEmpty)
    assert(edges.forall { case (d, o) => d != o }, "no self-candidates")
    assert(edges.forall { case (d, o) => d < 999901L && o < 999901L },
      "null/sub-shingle poison docs must never surface as candidates")

    // union-find over candidate edges
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }

    val batchPairs = graft.operators.TextOps.q17MinHashPairs(spark, sf)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    assert(batchPairs.nonEmpty, "fixture corpus should contain planted near-dups")
    batchPairs.foreach { case (a, b) =>
      assert(find(a) == find(b),
        s"batch near-dup pair ($a,$b) not connected in the streaming candidate graph")
    }
  }

  streamingTest("bucket-ownership state survives a checkpoint restart") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-neardup-r").toString
    val docsDir = s"$tmp/docs"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(docsDir))
    val outDir = s"$tmp/out"

    val ts = java.sql.Timestamp.valueOf("2025-06-01 00:00:00")
    val base = ("the house of water and world people time year good know " * 6).trim

    def startQuery() = {
      val stream = spark.readStream
        .schema("doc_id LONG, ts TIMESTAMP, text STRING")
        .parquet(docsDir)
        .as[(Long, java.sql.Timestamp, String)]
      StreamingNearDup.candidates(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
    }

    // phase 1: owner (doc 1) + near-copy (doc 2)
    Seq((1L, ts, base), (2L, ts, base + " extra")).toDF("doc_id", "ts", "text")
      .write.mode("append").parquet(docsDir)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    val phase1 = spark.read.parquet(outDir)
      .select($"doc_id", $"owner_id").distinct().as[(Long, Long)].collect().toSet
    assert(phase1 == Set((2L, 1L)), s"doc 2 should be a candidate of owner 1: $phase1")

    // phase 2 (query DOWN): another near-copy lands
    Seq((3L, ts, base + " other")).toDF("doc_id", "ts", "text")
      .write.mode("append").parquet(docsDir)

    // restart: doc 3 must hit doc 1's CHECKPOINTED buckets — if the
    // ownership state were lost, doc 3 would claim fresh buckets and
    // emit nothing
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val all = spark.read.parquet(outDir)
      .select($"doc_id", $"owner_id").distinct().as[(Long, Long)].collect().toSet
    assert(all == Set((2L, 1L), (3L, 1L)),
      s"restart must resume bucket ownership (expected (3,1) added): $all")
  }
}
