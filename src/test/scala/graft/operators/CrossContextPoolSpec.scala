package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** detect_lang across successive SparkContexts in one JVM (local mode,
  * notebooks, test suites). Broadcast ids restart per context, so nothing
  * the UDF keeps between calls may be keyed by them. Its per-thread
  * Detector is checked against the model object it was built over
  * (LangOpsSpec pins that rule), so each context labels with its own
  * broadcast model whatever its predecessor left behind.
  */
class CrossContextPoolSpec extends AnyFunSuite {

  private def detectOne(spark: SparkSession, text: String): String = {
    import spark.implicits._
    // a 2-partition column query (not a constant) so the detector is
    // reached from task threads, the production shape
    Seq(text, text).toDF("text").repartition(2)
      .selectExpr("detect_lang(text)._1 AS lang")
      .collect().map(_.getString(0)).distinct.mkString(",")
  }

  test("detect_lang is correct in each of two sequential SparkContexts") {
    // this suite owns the session lifecycle (the GraftExtensionsSpec
    // pattern): stop whatever session the previous suite left so the
    // two-context story is real
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())

    Seq("graft-ctx-a", "graft-ctx-b").foreach { name =>
      val spark = SparkSession.builder()
        .master("local[4]")
        .appName(name)
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      try {
        LangOps.registerSql(spark)
        assert(detectOne(spark, "the house of the people") == "eng", name)
        assert(detectOne(spark, "хороший день сегодня") == "rus", name)
      } finally spark.stop()
    }
  }
}
