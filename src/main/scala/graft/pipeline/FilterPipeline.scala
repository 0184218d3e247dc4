package graft.pipeline

import graft.lang.{Detector, DetectorConfig, LongCounter, PackedModel, ScriptLang}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The web-scale quality-filter pipeline (BASELINE.json north_star):
  * Common-Crawl-style pages → host-scoped exact-dup rule (first copy by
  * (warc_ts, url) wins, a `row_number` window over the content key) →
  * language-ID (broadcast langram-equivalent model inside ONE fused typed
  * partition map, which also computes the perplexity proxy, OOV coverage,
  * heuristic quality features, and the PII/toxicity scrub) → keep/drop
  * gate.
  *
  * The batch path (`run`) and the streaming path
  * (graft.streaming.StreamingFilter) share every part of the rule defined
  * here: the detector configuration, the content key, and the post-dedup
  * step (fused kernel or duplicate placeholder, then the keep/drop gate),
  * and the quality counts both observe (`metrics`).
  * Both deduplicate the narrow (url, warc_ts, text) rows before the
  * kernel. Only how the first copy is found differs (a window here, keyed
  * state there), so the two emit the same columns and, on one micro-batch,
  * the same rows (StreamingParitySpec).
  *
  * Scale choices (SURVEY.md §4):
  *  - `html` is never read on this path (column pruning reaches the scan;
  *    asserted in PlanSpec);
  *  - the model is a broadcast variable, not a join;
  *  - ONE wide exchange total, keyed by `contentKey`, after the day
  *    column when a run is scoped to days:
  *    the content hash spreads a Zipf-hot host uniformly (the skew
  *    defense, measured by SkewSpec) while co-locating exact duplicates
  *    for the dedup window; the fused kernel runs downstream shuffle-free;
  *  - the only sort is the dedup window's per-reduce-partition sort on
  *    two longs + (ts, url) — a measured tie against the sort-free
  *    min-aggregate + join variant, kept for one-scan exactness (see
  *    `run`'s scaladoc for the measured alternatives);
  *  - duplicates skip the detection kernel entirely.
  */
object FilterPipeline {

  /** Deterministic extraction inverse of PagesGen.wrapHtml. The per-row
    * invariant "byte-identical extracted text per url" is tested against
    * the `text` column (input_hint).
    */
  def extractText(html: Array[Byte]): String = {
    val s = new String(html, "UTF-8")
    val start = s.indexOf("<p>")
    val end = s.lastIndexOf("</p>")
    if (start < 0 || end < 0 || end < start) "" else s.substring(start + 3, end)
  }

  /** Detector configuration of both pipelines: candidates restricted to
    * the languages the crawl carries.
    */
  val detectorConfig: DetectorConfig = DetectorConfig.default.copy(
    languages = PagesGen.pipelineLangs.map(ScriptLang.id).toSet)

  /** The host a page is deduplicated under: the text after the FIRST
    * `://` (the whole url when there is none), up to the first `/`; a null
    * url is the empty url. `hostCol` is the same parse as a Column for the
    * dedup key; PipelineSpec pins the two equal.
    */
  def host(url: String): String = {
    val u = if (url == null) "" else url
    val i = u.indexOf("://")
    val rest = if (i < 0) u else u.substring(i + 3)
    val j = rest.indexOf('/')
    if (j < 0) rest else rest.substring(0, j)
  }

  def hostCol(url: Column): Column = {
    val u = coalesce(url, lit(""))
    val i = locate("://", u)
    substring_index(u.substr(when(i > 0, i + 3).otherwise(1), length(u)), "/", 1)
  }

  /** The content key of the host-scoped exact-dup rule, as two long
    * columns: (xxhash64(host), xxhash64(text)). Batch's dedup window and
    * exchange and streaming's state key are both this key, so grouping
    * equality holds within 64-bit collision bounds and every shuffle runs
    * on two longs, never on host/text strings. A null text hashes to the
    * seed, so it is a different key from "".
    */
  def contentKey(url: Column, text: Column): (Column, Column) =
    (xxhash64(hostCol(url)), xxhash64(text))

  /** The gate's rules in the order it applies them: a drop reason and
    * the condition under which a row fails it.
    */
  private def dropRules: Seq[(String, Column)] = Seq(
    "dup" -> col("is_dup"),
    "too_short" -> (col("word_count") < 20),
    "repetition" -> (col("repetition_ratio") > 0.3),
    "low_confidence" -> (col("confidence") < 0.5),
    // fraction of probed n-grams that hit the model for the detected
    // language: catches gibberish whose n-grams are absent from every
    // model (absent n-grams carry no floor penalty, reference:
    // src/detector/mod.rs:110-113)
    "low_coverage" -> (col("coverage") < 0.2),
    "high_perplexity" -> (col("perplexity") > 1e4))

  /** Every `drop_reason` the gate can emit, in rule order. The snapshot
    * manifests count rows per entry of this list.
    */
  val dropReasons: Seq[String] = dropRules.map(_._1)

  /** Every language the kernel can emit: `detectorConfig`'s, plus `und`
    * for a page with no candidate.
    */
  val langs: Seq[String] = (detectorConfig.languages.toSeq.map(ScriptLang.code) :+ "und").sorted

  /** The pipeline's quality counts over the output rows where `inScope`
    * holds, each named `prefix` + `rows`, `kept`, a drop reason, or
    * `lang_` + a language of `langs` (kernel rows only: a duplicate is
    * counted by the `dup` reason). Batch manifests observe them per day,
    * streaming per micro-batch. Only `count(when(...))`, which cannot
    * throw: an observed aggregate that fails leaves `Observation.get`
    * waiting.
    */
  def metrics(inScope: Column, prefix: String): Seq[Column] = {
    def n(cond: Column, name: String) = count(when(cond, 1)).as(prefix + name)
    Seq(n(inScope, "rows"), n(inScope && col("keep"), "kept")) ++
      dropReasons.map(r => n(inScope && col("drop_reason") === r, r)) ++
      langs.map(l => n(inScope && !col("is_dup") && col("lang") === l, s"lang_$l"))
  }

  /** The keep/drop gate: `drop_reason` is the first rule a row fails (null
    * when it passes all) and `keep ⇔ drop_reason IS NULL`. `is_dup` marks a
    * row that lost the host-scoped exact-dup rule.
    */
  private def gate(docs: DataFrame): DataFrame = {
    val (first, firstCond) :: rest = dropRules.toList: @unchecked
    val reason = rest.foldLeft(when(firstCond, first)) { case (c, (r, cond)) => c.when(cond, r) }
    docs
      .withColumn("drop_reason", reason.otherwise(lit(null).cast("string")))
      .withColumn("keep", col("drop_reason").isNull)
  }

  val toxicityRe = "\\b(idiot|stupid|moron|scum)\\b"

  // Precompiled once per JVM: compiling per document was the dominant cost
  // of the scrub stage (java.util.regex.Pattern.compile per call).
  @transient private lazy val emailP = java.util.regex.Pattern.compile(graft.operators.TextOps.emailRe)
  @transient private lazy val ipP = java.util.regex.Pattern.compile(graft.operators.TextOps.ipRe)
  @transient private lazy val phoneP = java.util.regex.Pattern.compile(graft.operators.TextOps.phoneRe)
  @transient private lazy val toxP = java.util.regex.Pattern.compile(toxicityRe)

  def scrub(text: String): String = {
    // fast path: the regex engine only runs when a trigger char is present
    var out = text
    if (out.indexOf('@') >= 0) out = emailP.matcher(out).replaceAll("<EMAIL>")
    var hasDigit = false
    var i = 0
    while (i < out.length && !hasDigit) {
      val c = out.charAt(i); if (c >= '0' && c <= '9') hasDigit = true; i += 1
    }
    if (hasDigit) {
      out = ipP.matcher(out).replaceAll("<IP>")
      out = phoneP.matcher(out).replaceAll("<PHONE>")
    }
    // toxicity gate: the alternation regex scans every char of every doc,
    // and it was the kernel's one unconditional regex pass (~30% of scrub
    // time measured at 2.4M docs in r10; perfbench's crawl trace reports
    // the scrub cost as `kernel.scrub_us_per_doc`). indexOf of the
    // four literals is JIT-intrinsified and a STRICT SUPERSET of the
    // \b-bounded matches, so skipping on miss is byte-exact. The guards
    // must track `toxicityRe`'s word list.
    if (out.indexOf("idiot") >= 0 || out.indexOf("stupid") >= 0 ||
        out.indexOf("moron") >= 0 || out.indexOf("scum") >= 0)
      toxP.matcher(out).replaceAll("<TOX>")
    else out
  }

  /** Per-document result of the fused map. */
  final case class DocResult(
      url: String, warc_ts: java.sql.Timestamp, host: String,
      lang: String, confidence: Double, perplexity: Double, coverage: Double,
      word_count: Int, repetition_ratio: Double, avg_word_len: Double,
      stopword_ratio: Double, n_lines: Int, max_line_len: Int,
      text_hash: Long, scrubbed_text: String)

  /** The fused per-document kernel: ONE pass computes language + confidence
    * + perplexity proxy (exp(−mean log-prob) of the top candidate —
    * the langram score IS an n-gram LM) + quality features + scrub.
    * Detector scratch buffers are reused across the partition.
    */
  def processPartition(
      model: PackedModel,
      config: DetectorConfig,
      it: Iterator[(String, java.sql.Timestamp, String)]
  ): Iterator[DocResult] = {
    val doc = partitionKernel(model, config)
    it.map { case (url, ts, text) => doc(url, ts, text) }
  }

  /** Per-partition kernel setup: one Detector and word counter, reused by
    * every document of the partition.
    */
  private def partitionKernel(
      model: PackedModel,
      config: DetectorConfig
  ): (String, java.sql.Timestamp, String) => DocResult = {
    val det = new Detector(model, config)
    val wordFreq = new LongCounter(512)
    (url, ts, text) => processDoc(model, det, wordFreq, url, ts, text)
  }

  /** The post-dedup step of both pipelines. Input rows carry (url,
    * warc_ts, text, is_dup) and, with a `scope`, that string column. A row
    * that won the dup rule runs the fused kernel; a duplicate is dropped
    * unconditionally, so it skips the detection/quality/scrub kernel and
    * carries `dupDoc` instead (its winner carries the processed copy). The
    * output is DocResult's columns, `is_dup` and the scope column, gated.
    *
    * `is_dup` stays in the output: it is per-partition lineage (dup counts
    * by source partition) and lets the q28 gate-logic oracle recompute
    * drop_reason/keep from the row itself.
    */
  def kernelOrDup(
      flagged: DataFrame,
      model: Broadcast[PackedModel],
      scope: Option[String] = None
  ): DataFrame = {
    import flagged.sparkSession.implicits._
    val k = scope.getOrElse("scope")
    val mapped = flagged
      .select($"url", $"warc_ts", $"text", $"is_dup", scope.fold(lit(null).cast("string"))(col))
      .as[(String, java.sql.Timestamp, String, Boolean, String)]
      .mapPartitions { it =>
        val doc = partitionKernel(model.value, detectorConfig)
        it.map { case (url, ts, text, isDup, s) =>
          (if (isDup) dupDoc(url, ts, text) else doc(url, ts, text), isDup, s)
        }
      }
      .toDF("doc", "is_dup", k)
      .select(Seq($"doc.*", $"is_dup") ++ scope.map(col): _*)
    gate(mapped)
  }

  /** The row a duplicate carries instead of the kernel's output: it is
    * dropped unconditionally, so only its identity columns are real.
    */
  private def dupDoc(url: String, ts: java.sql.Timestamp, text: String): DocResult =
    DocResult(if (url == null) "" else url, ts, host(url), "und", 0.0, Double.MaxValue,
      0.0, 0, 1.0, 0.0, 0.0, 0, 0,
      graft.lang.NgramHash.ofString(if (text == null) "" else text), "")

  private def processDoc(
      model: PackedModel,
      det: Detector,
      wordFreq: LongCounter,
      url: String,
      ts: java.sql.Timestamp,
      text0: String
  ): DocResult = {
    {
      // null ≡ empty page: the detector guards null itself, but the
      // line-length loop and scrub below index the string directly
      val text = if (text0 == null) "" else text0
      // null url ≡ empty url (same convention as dupDoc and the streaming
      // ingestion)
      val u = if (url == null) "" else url
      val nRanked = det.detectInPlace(text) // allocation-free result arrays
      val toks = det.tokens // valid until the next detection call
      // language + confidence: reordered pick + softmax relative probability
      var lang = "und"
      var conf = 0.0
      var perplexity = Double.MaxValue
      var coverage = 0.0
      if (nRanked > 0) {
        val best = det.reorderPickInPlace(det.defaultReorderDistance)
        lang = ScriptLang.code(best)
        // softmax relative prob (Detector owns the softmax special cases)
        conf = det.confidenceOfInPlace(best)
        val first = det.topProb // results are unsorted; topProb is rank-1
        perplexity =
          if (first == Double.NegativeInfinity) Double.MaxValue
          else math.exp(-first)
        coverage =
          if (det.lastProbedCount == 0) {
            // no model probes at all: single-candidate shortcut (full trust)
            // distinguishable from "no words survived" by first == 0.0
            if (first == 0.0) 1.0 else 0.0
          } else det.lastHitCount(best).toDouble / det.lastProbedCount
      }

      // quality features over the shared token buffer (one tokenize pass,
      // zero word allocation); word frequency counted on 64-bit word hashes
      val wc = toks.nWords
      val charSum = toks.totalCps.toLong
      wordFreq.clear()
      var maxFreq = 0
      var stop = 0
      val lid = if (lang == "und") -1 else ScriptLang.id(lang)
      val hasStops = lid >= 0 && lid < model.stopwordHashes.length &&
        model.stopwordHashes(lid).nonEmpty
      var i = 0
      while (i < wc) {
        val h = graft.lang.NgramHash.ofWindow(toks.cps, toks.start(i), toks.len(i))
        val c = wordFreq.increment(h)
        if (c > maxFreq) maxFreq = c
        if (hasStops && model.isStopword(lid, h)) stop += 1
        i += 1
      }
      val repRatio = if (wc == 0) 1.0 else maxFreq.toDouble / wc
      val avgLen = if (wc == 0) 0.0 else charSum.toDouble / wc
      // stopword density: fraction of words in the detected language's
      // model-derived stopword set (wordgram freq >= 1%)
      val stopwordRatio = if (hasStops && wc > 0) stop.toDouble / wc else 0.0

      // line-length stats (north_star heuristic rule family)
      var nLines = 1
      var maxLine = 0
      var lineStart = 0
      i = 0
      while (i <= text.length) {
        if (i == text.length || text.charAt(i) == '\n') {
          val len = i - lineStart
          if (len > maxLine) maxLine = len
          if (i < text.length) { nLines += 1; lineStart = i + 1 }
        }
        i += 1
      }

      // PII + toxicity scrub (north_star regex scrubber)
      val scrubbed = scrub(text)

      DocResult(
        u, ts, host(u), lang, conf, perplexity, coverage, wc, repRatio, avgLen,
        stopwordRatio, nLines, maxLine,
        graft.lang.NgramHash.ofString(text), scrubbed)
    }
  }

  /** Run the pipeline over a pages DataFrame. Output adds `keep` and
    * `drop_reason`.
    *
    * ONE scan, ONE exchange: the host-scoped exact-dup rule ("first copy
    * by (warc_ts, url) survives") runs FIRST, on the raw
    * (url, warc_ts, text) rows, keyed by `contentKey` — that partitioning
    * is simultaneously the skew defense (a Zipf-hot host's pages spread
    * uniformly by content hash) and the dedup co-location. `kernelOrDup`
    * runs downstream with no further shuffle, and SKIPS duplicate rows'
    * kernel entirely.
    *
    * `scope` names a column that splits the dup rule: a copy is a
    * duplicate only of an earlier copy with the same scope value. The
    * window and its exchange are then keyed by (scope, host, content
    * hash), and the scope column is carried to the output as a string, so
    * one run over several day partitions deduplicates each day exactly as
    * a run over that day alone would (SnapshotStore.runResumable batches
    * days this way). With no scope the rule spans the whole input, and the
    * plan has no scope column at all.
    *
    * Plan-shape notes from measured alternatives (BENCH.md):
    *  - row_number window vs min-aggregate + shuffled-hash join: the
    *    aggregate variant was built and measured — `min(struct(ts, url))`
    *    plans as SortAggregate (struct buffers are not hash-aggregable),
    *    a packed numeric ordinal stays in HashAggregate but needs a
    *    second scan (or second shuffle read) for the probe side and an
    *    inexact 20-bit url tiebreak. At equal measured cost (~1 s at
    *    1.2M docs, both variants) the window wins: one scan, exact
    *    (warc_ts, url) semantics, and its per-partition sort keys are two
    *    longs (radix-friendly). At 100 TB the sort is bounded per reduce
    *    partition (size the shuffle so partitions fit memory).
    *  - The REAL round-1 scaling killer was AQE partition coalescing
    *    folding the CPU-bound kernel stage to ~19 tasks (64 MB advisory
    *    target) regardless of width — callers must size
    *    spark.sql.shuffle.partitions to cluster width and disable
    *    spark.sql.adaptive.coalescePartitions (see BenchPipelineRun).
    *  - The earlier two-exchange shape (salted repartition → kernel →
    *    window over the WIDE kernel output) shuffled the scrubbed text a
    *    second time and capped scaling at ~0.5.
    */
  def run(
      spark: SparkSession,
      pages: DataFrame,
      model: Broadcast[PackedModel],
      scope: Option[String] = None
  ): DataFrame = {
    import spark.implicits._

    val (keyHost, keyText) = contentKey($"url", $"text")
    val keyed = pages
      .select(Seq($"url", $"warc_ts", $"text") ++ scope.toSeq.map(s => col(s).cast("string").as(s)): _*)
      .withColumn("w_host", keyHost)
      .withColumn("w_hash", keyText)

    // cross-row rule: first (by warc_ts, url) copy per (scope, content key)
    // wins
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(scope.toSeq.map(col) ++ Seq($"w_host", $"w_hash"): _*)
      .orderBy($"warc_ts", $"url")
    kernelOrDup(keyed.withColumn("is_dup", row_number().over(w) > 1), model, scope)
  }

  /** Convenience: pipeline over a freshly generated corpus with the fixture
    * model (SparkEntry's q28).
    */
  def runGenerated(spark: SparkSession, n: Int): DataFrame = {
    val bc = graft.operators.LangOps.broadcastModel(spark)
    run(spark, PagesGen.pagesDf(spark, n), bc)
  }
}
