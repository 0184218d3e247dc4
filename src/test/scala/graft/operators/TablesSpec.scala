package graft.operators

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{BinaryType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` infers a table file's schema once: a re-read starts no Spark
  * job, and the memo is never stale — a rewritten table, a changed parquet
  * setting and concurrent first reads all get Spark's own inferred schema.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private val sf = "/root/testdata/sf0.001"
  private val Tag = "graft.tablesSpec"

  /** Jobs started by `body` on this thread and the threads it creates. A
    * marker job follows `body`: the listener bus delivers events in order,
    * so once the marker's start is seen, every earlier start is counted.
    */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = UUID.randomUUID().toString
    val started = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Tag)).orNull match {
          case `tag` => started.incrementAndGet()
          case t if t == s"$tag-marker" => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, tag)
      body
      sc.setLocalProperty(Tag, s"$tag-marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(30, TimeUnit.SECONDS), "the marker job's start never arrived")
      started.get
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }

  private def freshDir(): String = Files.createTempDirectory("graft-tables").toString

  test("a table file's first read starts at most one job, a re-read none") {
    for (name <- Seq("lineitem", "documents")) {
      val first = jobsStartedBy(Tables(spark, sf, name).queryExecution.analyzed)
      assert(first <= 1, s"first read of $name started $first jobs")
      val again = jobsStartedBy(Tables(spark, sf, name).queryExecution.analyzed)
      assert(again == 0, s"re-read of $name started $again jobs")
    }
  }

  test("a table rewritten at the same path with a column added is read with the new schema") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    Seq((2L, "b", 3.5)).toDF("k", "v", "w").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables(spark, dir, "t")
    assert(again.columns.toSeq == Seq("k", "v", "w"))
    assert(again.collect().map(_.toSeq).toSeq == Seq(Seq(2L, "b", 3.5)))
  }

  test("a binary column gets Spark's own inferred type under each binaryAsString setting") {
    // written without Spark's schema metadata, which inference would prefer
    // over the parquet types and so over the setting
    val dir = freshDir()
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/bin.parquet")).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("b", "hi"))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    val saved = spark.conf.getOption(key)
    try {
      for ((setting, want) <- Seq("false" -> BinaryType, "true" -> StringType)) {
        spark.conf.set(key, setting)
        val got = Tables(spark, dir, "bin")
        assert(got.schema == spark.read.parquet(s"$dir/bin.parquet").schema)
        assert(got.schema("b").dataType == want, s"binaryAsString=$setting")
      }
      assert(Tables(spark, dir, "bin").head().getString(0) == "hi")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("three threads reading a fresh table at once get equal schemas from at most one job") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1, "x", 2.0)).toDF("i", "s", "d").write.parquet(s"$dir/c.parquet")
    val barrier = new CyclicBarrier(3)
    val got = new ConcurrentLinkedQueue[StructType]()
    val jobs = jobsStartedBy {
      val threads = Seq.fill(3)(new Thread(() => {
        barrier.await()
        got.add(Tables(spark, dir, "c").schema)
      }))
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    import scala.jdk.CollectionConverters._
    val schemas = got.asScala.toSeq
    assert(schemas.size == 3)
    assert(schemas.distinct.size == 1, schemas.mkString("\n"))
    assert(schemas.head == spark.read.parquet(s"$dir/c.parquet").schema)
    assert(jobs <= 1, s"three first reads started $jobs jobs")
  }
}
