package graft.pipeline

import graft.operators.LangOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Host/domain skew handling (north_rule): partitioning crawl pages by host
  * concentrates the Zipf-hot hosts into few tasks; the pipeline's one
  * exchange, keyed by (host, content hash) -- the host key salted by the
  * content hash -- spreads them evenly.
  */
class SkewSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "16")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("salted repartition flattens Zipf host skew; host partitioning does not") {
    // as RunPipeline configures it: 16 shuffle partitions, AQE coalescing
    // off (coalescing would fold the exchange's partitions by size)
    val conf = Seq(
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val pages = PagesGen.pagesDf(spark, 4000)

      def partitionSizes(df: org.apache.spark.sql.DataFrame): Array[Long] =
        df.withColumn("pid", spark_partition_id())
          .groupBy("pid").count()
          .collect().map(_.getLong(1))

      val byHost = partitionSizes(pages.repartition(16, FilterPipeline.hostCol(col("url"))))
      val exchanged = partitionSizes(
        FilterPipeline.run(spark, pages, LangOps.broadcastModel(spark)))

      val mean = 4000.0 / 16
      val hostMax = byHost.max / mean
      val runMax = exchanged.max / mean
      info(s"max/mean partition load: by-host=$hostMax run=$runMax")
      assert(hostMax > 2.0, s"fixture not skewed enough (by-host max/mean $hostMax)")
      assert(runMax < 1.5, s"run's exchange still skewed (max/mean $runMax)")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
