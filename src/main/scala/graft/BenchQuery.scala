package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: time individual SparkEntry queries at a given sf dir.
  * `runMain graft.BenchQuery <sfDir> <query>[,<query>...] [reps]`
  * Prints `QTIME <name> <t1> <t2> ...` (seconds, noop sink, after a
  * sf0.001 warmup).
  */
object BenchQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      noop(fn(spark, "/root/testdata/sf0.001"))
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        noop(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      println(s"QTIME $name ${ts.map(t => f"$t%.3f").mkString(" ")}")
    }
    spark.stop()
  }
}
