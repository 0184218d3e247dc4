package graft.train

import graft.lang.{PackedModel, ProbTable, ScriptLang}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model persistence: Parquet instead of the reference's bespoke
  * brotli/encom/rkyv formats (reference: train/src/writer.rs:18-28,
  * src/bin_storage.rs:113-116). Schema:
  *
  * `model(lang STRING, size INT, ngram STRING, logprob DOUBLE)` where size
  * 1..5 = char n-gram length and 0 = wordgram, plus a `schema_hash` column
  * checked at load (the reference's layout-hash check,
  * src/detector/storage.rs:124-126).
  */
object ModelIO {

  /** One output file per (lang, size): `repartition` on the partition
    * columns keeps writes parallel across languages (the old
    * `repartition(1)` funneled the whole model through a single task —
    * fine for fixtures, a serial choke at 188-language scale) while still
    * producing one file per lang directory instead of one per shuffle
    * partition.
    */
  def write(model: DataFrame, path: String): Unit =
    model
      .withColumn("schema_hash", lit(PackedModel.registryHash))
      .repartition(col("lang"), col("size"))
      .write.mode("overwrite")
      .partitionBy("lang")
      .parquet(path)

  /** Load model rows and pack into the broadcast-ready runtime model. */
  def load(spark: SparkSession, path: String): PackedModel = {
    import spark.implicits._
    val df = spark.read.parquet(path)
    val hashes = df.select($"schema_hash").distinct().as[Long].collect()
    require(
      hashes.forall(_ == PackedModel.registryHash),
      s"model schema hash mismatch: ${hashes.mkString(",")} vs ${PackedModel.registryHash}"
    )
    packDistributed(spark, df.select($"lang", $"size", $"ngram", $"logprob"))
  }

  /** Distributed model pack: the postings aggregation — hash each ngram,
    * group by (size, hash), langId-sort, collision-check — runs IN SPARK;
    * the driver streams the finished (size, hash, postings) entries
    * through `toLocalIterator` into pre-sized ProbTable builders. At no
    * point does the driver hold the model ROWS or the ngram STRINGS — its
    * peak footprint is the final primitive arrays (the broadcast payload
    * itself) plus one in-flight partition; collecting the rows instead
    * would make the driver the chokepoint of O20/O26/O27 at 188-language
    * scale (GBs of postings plus a string per ngram) (reference:
    * src/detector/storage.rs:40-135 loads via mmap;
    * broadcast-from-aggregated-parquet is the Spark shape of the same
    * step). The floors and stopword sets come from three small
    * aggregations and go through the same `PackedModel.finalizeModel` as
    * the driver-side `fromModels`.
    */
  def packDistributed(spark: SparkSession, rows: DataFrame): PackedModel = {
    import spark.implicits._
    val hashed = rows
      .as[(String, Int, String, Double)]
      .map { case (lang, size, ngram, prob) =>
        // finalizeModel's table order: char sizes 1..5, then wordgrams
        val table = if (size == 0) 5 else size - 1
        (table, graft.lang.NgramHash.ofString(ngram), ScriptLang.id(lang), prob, ngram)
      }
      .toDF("table", "hash", "lang_id", "prob", "ngram")

    // postings per (table, hash), langId-sorted (array_sort on the struct
    // orders by lang_id first); countDistinct(ngram) ≠ 1 ⇔ hash collision
    val postings = hashed
      .groupBy($"table", $"hash")
      .agg(
        countDistinct($"ngram").as("n_distinct"),
        array_sort(collect_list(struct($"lang_id", $"prob"))).as("posts"))

    // per-table dimensions for exact pre-allocation (tiny agg)
    val dims = postings
      .groupBy($"table")
      .agg(count(lit(1)).as("n_keys"), sum(size($"posts")).as("n_posts"))
      .as[(Int, Long, Long)].collect()
      .map { case (s, k, p) => s -> ((k.toInt, p.toInt)) }.toMap
    val builders = Array.tabulate(6) { t =>
      val (k, p) = dims.getOrElse(t, (0, 0))
      new ProbTable.Builder(k, p)
    }

    // stream: one partition in driver memory at a time
    val it = postings
      .select($"table", $"hash", $"n_distinct", $"posts")
      .as[(Int, Long, Long, Array[(Int, Double)])]
      .toLocalIterator()
    while (it.hasNext) {
      val (t, h, nDistinct, posts) = it.next()
      require(nDistinct == 1L, s"ngram hash collision on key $h (table $t)")
      builders(t).add(h, posts.map(_._1), posts.map(_._2))
    }

    val uniCounts = new Array[Long](ScriptLang.count)
    hashed.filter($"table" === 0)
      .groupBy($"lang_id").agg(count(lit(1)))
      .as[(Int, Long)].collect()
      .foreach { case (lid, c) => uniCounts(lid) = c }

    val minWordRow = hashed.filter($"table" === 5).agg(min($"prob")).head()
    val minWord = if (minWordRow.isNullAt(0)) Double.PositiveInfinity else minWordRow.getDouble(0)

    val stopwords = Array.fill(ScriptLang.count)(Array.emptyLongArray)
    hashed.filter($"table" === 5 && $"prob" >= PackedModel.StopwordMinLogProb)
      .groupBy($"lang_id").agg(collect_list($"hash"))
      .as[(Int, Array[Long])].collect()
      .foreach { case (lid, hs) => stopwords(lid) = hs }

    PackedModel.finalizeModel(uniCounts, minWord, stopwords, builders.map(_.result()))
  }

  /** Pack (lang, size∈{0..5}, ngram, logprob) rows; size 0 = wordgram. */
  def fromRows(rows: Array[(String, Int, String, Double)]): PackedModel = {
    val byLang = rows.groupBy(_._1)
    val models = byLang.toSeq.sortBy(_._1).map { case (lang, rs) =>
      val sizes = Array.fill(6)(Map.empty[String, Double])
      rs.groupBy(_._2).foreach { case (size, group) =>
        val idx = if (size == 0) 5 else size - 1
        sizes(idx) = group.map(r => r._3 -> r._4).toMap
      }
      ScriptLang.id(lang) -> sizes
    }
    PackedModel.fromModels(models)
  }

  /** Prune a model DataFrame: keep the top `topK` n-grams per
    * (lang, size) by probability. The Spark analog of langram_models'
    * "remove model ngrams and recompile so the binary is lighter"
    * (reference: README.md:33) — shrinks the broadcast footprint at a
    * controlled accuracy cost. Window-rank per group, one shuffle.
    */
  def prune(model: DataFrame, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"), col("size"))
      .orderBy(col("logprob").desc, col("ngram"))
    model
      .withColumn("rank_in_group", row_number().over(w))
      .filter(col("rank_in_group") <= topK)
      .drop("rank_in_group")
  }

  /** Train from a fixture corpus entirely on the driver (fast path for
    * tests and for SparkEntry queries that need a deterministic model).
    */
  def trainPacked(corpus: Seq[(String, Seq[String])]): PackedModel =
    PackedModel.fromModels(corpus.map { case (code, lines) =>
      ScriptLang.id(code) -> Trainer.trainLocal(ScriptLang.id(code), lines)
    })
}
