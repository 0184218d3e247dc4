package graft.operators

import graft.lang.{Detector, DetectorConfig, PackedModel}
import graft.train.FixtureCorpus
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Language-ID over document tables: the langram-equivalent detector over
  * one broadcast model — the north_star shape ("language-model tables
  * broadcast rather than joined"). Two surfaces apply it to rows: a typed
  * partition map (q21, one Detector per partition) and the `detect_lang`
  * SQL UDF (one Detector per executor thread).
  */
object LangOps {

  @transient private var cached: Broadcast[PackedModel] = _
  @transient private var cachedCtx: org.apache.spark.SparkContext = _

  /** Broadcast the deterministic fixture model once per SparkContext (a
    * cached broadcast from a stopped context must not be reused).
    */
  def broadcastModel(spark: SparkSession): Broadcast[PackedModel] = synchronized {
    val ctx = spark.sparkContext
    if (cached == null || (cachedCtx ne ctx) || ctx.isStopped) {
      cached = ctx.broadcast(FixtureCorpus.model)
      cachedCtx = ctx
    }
    cached
  }

  /** Per-document (lang, confidence): one Detector per partition (reusing
    * its scratch buffers), model shared via broadcast — one copy per
    * executor, exactly like the reference's mmap-shared model
    * (reference: README.md:16-17 → SURVEY.md §4).
    */
  def q21LangId(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bc = broadcastModel(spark)
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        val det = new Detector(bc.value, DetectorConfig.default)
        it.map { case (id, text) =>
          val (lang, conf) = det.detectWithConfidence(text)
          (id, lang, math.round(conf * 10000.0) / 10000.0)
        }
      }
      .toDF("doc_id", "lang_detected", "confidence")
  }

  /** The calling thread's detect_lang Detector. A Detector carries
    * registry-sized scratch arrays, so the UDF keeps one per executor
    * thread rather than building one per row or per task. It is reused
    * while it was built over `model` (object identity) and rebuilt
    * otherwise. Within one executor, `bc.value` is the one
    * block-manager-cached model for every task, so steady state is
    * O(threads) constructions (LangOpsSpec bounds it). A new broadcast, a
    * new SparkContext or a re-read evicted block hands in a different
    * object and costs one rebuild. A detector is only ever used with the
    * model object it was built over, so broadcast ids, which restart per
    * SparkContext, can never alias it onto another model.
    */
  private val detectors = new ThreadLocal[Detector]

  private[graft] def detectorFor(model: PackedModel): Detector = {
    val det = detectors.get()
    if (det != null && (det.model eq model)) det
    else {
      val fresh = new Detector(model, DetectorConfig.default)
      detectors.set(fresh)
      fresh
    }
  }

  /** Register `detect_lang(text)` for SQL access, returning
    * STRUCT<lang STRING, confidence DOUBLE> (SURVEY.md §2.2 UDF surface).
    * The typed-map path (q21LangId) stays the hot path; this is the
    * SQL-ergonomics wrapper over the same broadcast model.
    */
  def registerSql(spark: SparkSession): Unit = {
    val bc = broadcastModel(spark)
    val f = org.apache.spark.sql.functions.udf { (text: String) =>
      detectorFor(bc.value).detectWithConfidence(text)
    }
    spark.udf.register("detect_lang", f)
  }

  /** Corpus language profile: detected-language histogram. Confidence is
    * aggregated as an e4 FIXED-POINT SUM (q21 already rounds confidence to
    * 1e-4, so `round(confidence·10⁴)` is an exact integer in any engine):
    * the profile is integer-exact and therefore DuckDB-oracle-able over
    * the dumped q21 output — `round(avg(...), 4)` could flip its last
    * digit across engines on representational ties. avg_conf =
    * conf_sum_e4 / (n_docs·10⁴) when a reader wants it.
    */
  def q23LangProfile(spark: SparkSession, sfDir: String): DataFrame =
    q21LangId(spark, sfDir)
      .groupBy(col("lang_detected"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(round(col("confidence") * 10000).cast("long")).as("conf_sum_e4"))
      .orderBy(col("lang_detected"))
}
