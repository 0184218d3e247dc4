package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational operator inventory (SURVEY.md §2.2): scans, filters,
  * broadcast + shuffle joins, hash aggregation, distinct, window functions,
  * top-k, set ops, rollup, semi/anti joins — each as a declarative
  * DataFrame plan so Catalyst gets pushdown/pruning/AQE for free.
  *
  * Scale notes are in each scaladoc; every double output is rounded so the
  * DuckDB oracle hash-compares exactly.
  */
object Relational {

  /** Hash aggregation with partial (map-side) combine — the Spark analog of
    * the reference's per-language (Σ, cnt) partial+final aggregation
    * (reference: src/detector/mod.rs:23-33, 202-220). At 100 TB this is a
    * single shuffle of ~|groups| rows per partition.
    */
  def q01PricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Filter + projection with parquet pushdown: the scan must read only the
    * projected columns and skip row groups via PushedFilters.
    */
  def q02FilterPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    li.filter(
        col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24
      )
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"),
        round(col("l_extendedprice") * col("l_discount"), 4).as("disc_revenue")
      )
  }

  /** Dimension joins: nation and region are tiny → broadcast hash joins, no
    * shuffle of the fact side. At 1000 executors the customer scan streams
    * through two broadcast joins with zero exchange.
    */
  def q03BroadcastJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("total_acctbal")
      )
      .orderBy(col("r_name"))
  }

  /** Fact-to-fact equi join: shuffle hash / sort-merge on the join key, with
    * AQE free to pick and to split skewed partitions. The aggregation's
    * partial combine keeps the post-join shuffle small.
    */
  def q04ShuffleJoinAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines")
      )
      .orderBy(col("o_orderpriority"))
  }

  /** Global top-k: `orderBy + limit` compiles to TakeOrderedAndProject —
    * per-partition heaps then a driver merge of k rows, no full sort.
    */
  def q05TopK(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("total"))
      .orderBy(col("total").desc, col("o_orderkey"))
      .limit(10)

  /** Windowed top-n per group (the reference's per-document result ranking
    * is window-shaped — SURVEY.md §2.2 "window functions").
    */
  def q06WindowRank(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("total"), col("rn"))
  }

  /** Exact distinct aggregation (expands to a two-phase aggregate). */
  def q07DistinctAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows")
      )
      .orderBy(col("l_returnflag"))

  /** Left-semi and left-anti joins (EXISTS / NOT EXISTS).
    *
    * A one-pass variant (single left join against the distinct order
    * keys, both counts from one aggregate row — the q09 fold shape) was
    * built and measured in r10: consistently SLOWER here (warm 0.55-0.58
    * → 0.60-0.65 s interleaved) — the added distinct exchange over
    * orders costs more than the second broadcast-semi scan it removes,
    * at every measured size the bench runs. Reverted; the two-branch
    * shape stands.
    */
  def q08SemiAnti(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir).select(col("o_custkey"))
    val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n")).withColumn("kind", lit("with_orders"))
    val withoutOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n")).withColumn("kind", lit("without_orders"))
    withOrders.unionByName(withoutOrders).select(col("kind"), col("n"))
  }

  /** Relational set operations — all three counts from ONE null-safe
    * full-outer join of the two DISTINCT key sets. INTERSECT / EXCEPT /
    * UNION are distinct-set operations with null-safe equality in both
    * engines (NULL keys compare equal), which is exactly `<=>` over the
    * per-side distincts: in-both ⇔ intersect member, p-only ⇔ except
    * member, every join row ⇔ one distinct union member. The
    * three-branch shape scanned lineitem and part three times each and
    * ran three distinct-shuffles; this is one scan + two exchanges per
    * side: the distinct hashes on k, and the null-safe join re-hashes
    * on (coalesce(k, 0), isnull(k)) — Catalyst's rewrite of `<=>` into
    * an equi-join key — so it cannot reuse the distinct's partitioning
    * (plans/r10/q09_set_ops_after.txt). The three output rows are
    * unpivoted from the single aggregate row. Distinct sides make the
    * join 1:1, so no multiplicity is introduced.
    */
  def q09SetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val liD = Tables.lineitem(spark, sfDir).select(col("l_partkey").as("k"))
      .distinct().withColumn("in_li", lit(1))
    val pD = Tables.part(spark, sfDir).select(col("p_partkey").as("k"))
      .distinct().withColumn("in_p", lit(1))
    liD.join(pD, liD("k") <=> pD("k"), "full_outer")
      .agg(
        count(when(col("in_li").isNotNull && col("in_p").isNotNull, 1)).as("both_n"),
        count(when(col("in_p").isNotNull && col("in_li").isNull, 1)).as("only_p_n"),
        count(lit(1)).as("union_n"))
      .select(explode(array(
        struct(lit("intersect").as("op"), col("both_n").as("n")),
        struct(lit("except").as("op"), col("only_p_n").as("n")),
        struct(lit("union_distinct").as("op"), col("union_n").as("n")))).as("r"))
      .select(col("r.op").as("op"), col("r.n").as("n"))
  }

  /** Sessionization over the event stream: lag + conditional cumulative sum,
    * the canonical two-window composition. Partitioned by user — scales as
    * one shuffle by user_id.
    */
  def q10Sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn(
        "new_session",
        when(
          col("prev_ts").isNull ||
            col("ts").cast("timestamp").cast("long") -
            col("prev_ts").cast("timestamp").cast("long") > 1800,
          1L
        ).otherwise(0L)
      )
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events")
      )
  }

  /** Hierarchical aggregate: ROLLUP with explicit null-marker columns so the
    * oracle hash matches (grouping() instead of raw NULLs).
    */
  def q11Rollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n")
      )

  /** Correlated-EXISTS-shaped: orders having any high-quantity line. */
  def q12ExistsSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val bigLines = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 45).select(col("l_orderkey"))
    o.join(bigLines, o("o_orderkey") === bigLines("l_orderkey"), "left_semi")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** Scalar (grand) aggregate — single row, fully map-side combined. */
  def q13ScalarAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir).agg(
      count(lit(1)).as("n_rows"),
      round(sum(col("l_extendedprice")), 2).as("sum_price"),
      round(min(col("l_extendedprice")), 2).as("min_price"),
      round(max(col("l_extendedprice")), 2).as("max_price"),
      countDistinct(col("l_orderkey")).as("n_orders")
    )

  /** As-of join — an operator Spark lacks natively, composed from built-ins
    * (preference (a) of the custom-operator ladder): union both event
    * streams, window `last(..., ignoreNulls)` per user over event time, so
    * each click picks the most recent view at-or-before it. One shuffle by
    * user; the DuckDB oracle is a literal ASOF JOIN.
    */
  def q31AsofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), lit(1).as("kind_rank"),
        lit(null).cast("long").as("view_event_id"))
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"), lit(0).as("kind_rank"),
        col("event_id").as("view_event_id"))
    // at equal ts a view sorts before a click (>= semantics of ASOF)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind_rank"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(views)
      .withColumn("matched_view", last(col("view_event_id"), ignoreNulls = true).over(w))
      .filter(col("kind_rank") === 1 && col("matched_view").isNotNull)
      .select(col("event_id"), col("user_id"), col("matched_view").as("view_event_id"))
  }

  /** Exact interpolated percentiles per group — the scale-safe
    * replacement for Spark's `percentile` TypedImperativeAggregate (which
    * buffers every value of a group in one reducer's memory: with 3
    * groups, 3 tasks each hold a third of lineitem — an executor OOM at
    * 100 TB, and 47 s at sf0.1).
    *
    * Shape: a RANGE-PARTITIONED PREFIX SUM over the unpivoted rows. The
    * (g, tag, v) rows are range-partitioned on (g, tag, v) (sampled
    * boundaries — every partition holds a contiguous value slice, so
    * parallelism = N regardless of group count and a near-unique
    * continuous measure never serializes on one reducer per group).
    * Per-partition per-(g, tag) subtotals are collected to the driver
    * (≤ N·|groups·measures| longs); their exclusive prefix offsets and
    * per-(g, tag) totals are broadcast back. A sorted STREAMING pass then
    * assigns cumulative ranks seeded at each group's offset, with O(1)
    * state per group, and emits ONLY the rows whose rank is a target
    * (≤ 6 per group/measure); each target quantile interpolates between
    * its two bracketing values — rank (n−1)·q+1, exactly DuckDB's
    * quantile_cont. PlanSpec asserts the range exchange and that a
    * group's values really span partitions; PercentileEdgeSpec checks
    * every edge shape against a driver-side sort-based brute force.
    *
    * CONSTRUCTION IS EAGER (ADVICE r7): unlike every other constructor in
    * the registry, building this DataFrame runs two Spark jobs up front
    * (range-boundary sampling and the subtotal collect — the driver
    * prefix must exist before the result plan can reference its
    * broadcast), so a failure over a bad input surfaces at BUILD time,
    * not action time, and plan-only tooling (explain, dry-run
    * registries) pays those two jobs. Deferring them into the closure
    * would push the collect onto an executor; keeping them eager is the
    * correct trade — documented so callers don't assume lazy
    * construction.
    */
  def q32Percentiles(spark: SparkSession, sfDir: String): DataFrame =
    q32Stages(spark, sfDir).result

  /** q32 with its range-partitioned input exposed — see q32Percentiles.
    * `ranged` is the UNPERSISTED range-partitioned unpivoted-rows plan
    * (PlanSpec asserts its exchange shape). Because nothing pins it,
    * re-executing `ranged` re-samples its range boundaries: the pid ↔
    * value-slice layout a test observes is a fresh instance, not the
    * one the run's broadcast offsets were computed over (those were
    * pinned by the shared ShuffleDependency inside the call — see the
    * rrdd block). Test authors asserting partitioning properties get
    * the SHAPE guarantees (range exchange, contiguous slices), never
    * the run's concrete boundary values.
    */
  private[graft] final case class PercentileStages(result: DataFrame, ranged: DataFrame)

  private[graft] def q32Stages(spark: SparkSession, sfDir: String): PercentileStages = {
    val li = Tables.lineitem(spark, sfDir)

    // Exact quantile_cont for BOTH measure columns in ONE pass: unpivot
    // (tag, v) with stack (codegen'd, no shuffle), cumulative ranks per
    // (grp, tag), then conditional interpolation aggregates — one scan +
    // one range exchange for both measures, not one per measure column.
    val unp = li.select(
      col("l_returnflag").as("g"),
      expr("stack(2, 'price', cast(l_extendedprice as double), " +
        "'qty', cast(l_quantity as double)) as (tag, v)"))
      // quantile_cont skips NULL measures (both engines); dropping them
      // here keeps the typed (String,String,Double) rows primitive.
      // Groups they belonged to are preserved by the group-universe left
      // join below (an all-null group must still emit a row with NULL
      // percentiles — fuzz-gate find).
      .where(col("v").isNotNull)

    // the quantiles wanted, grouped by measure tag — ONE definition shared
    // by the streaming bracketing pass and the interpolation aggregates so
    // their rank arithmetic can never diverge
    val quantiles = Seq(("price", 0.5, "p50_raw"), ("price", 0.95, "p95_raw"),
      ("qty", 0.25, "qty_p25_raw"))
    val targetsByTag: Map[String, Array[Double]] =
      quantiles.groupBy(_._1).map { case (t, qs) => t -> qs.map(_._2).toArray }

    // Range-partitioned prefix sum over the RAW unpivoted rows: every
    // partition holds a CONTIGUOUS (g, tag, v) slice (sampled
    // boundaries), so cumulative ranks = per-partition local cumsum +
    // a per-(partition, group) offset from the driver prefix of the
    // ≤ nParts·|groups·measures| subtotals.
    //
    // The range shuffle carries raw rows (cnt = 1 each), not
    // per-(g, tag, v) value-counts: at crawl scale a value-count agg
    // saves nothing unless values repeat heavily, while its exchange is
    // a full extra pass over the same bytes, and the subtotal collect
    // already yields BOTH the prefix offsets and the per-(g, tag) totals,
    // so n rides the same broadcast as the offsets (measured at sf0.1,
    // 2.4M stacked rows, local[32]: 2.6–4.5 s with the agg → ~1.6 s).
    import spark.implicits._
    val nParts = spark.sessionState.conf.numShufflePartitions
    val ranged = unp
      .repartitionByRange(nParts, col("g"), col("tag"), col("v"))
      .sortWithinPartitions(col("g"), col("tag"), col("v"))
      .as[(String, String, Double)]
    // `ranged` is deliberately NOT persisted: the subtotal and
    // bracketing passes share ONE RDD instance (rrdd below), so the
    // range boundaries are sampled once and the shuffle files are
    // reused across both — the pid ↔ value-slice mapping is pinned by
    // the shared ShuffleDependency, not by a cache. The second pass
    // pays a shuffle read plus an in-partition re-sort; in exchange
    // the operator keeps ZERO cross-call state and no storage pin.
    val rrdd = ranged.rdd // one RDD instance: both passes share pids
    val partials: Array[((Int, String, String), Long)] = rrdd
      .mapPartitionsWithIndex { (pid, it) =>
        val m = scala.collection.mutable.LinkedHashMap.empty[(String, String), Long]
        it.foreach { case (g, tag, _) =>
          m.updateWith((g, tag))(s => Some(s.getOrElse(0L) + 1L))
        }
        m.iterator.map { case ((g, tag), s) => ((pid, g, tag), s) }
      }
      .collect() // ≤ nParts · |groups·measures| rows — driver-bounded
    val byGroup = partials.groupBy { case ((_, g, tag), _) => (g, tag) }
    val offsets: Map[(Int, String, String), Long] = byGroup
      .flatMap { case ((g, tag), arr) =>
        var acc = 0L
        arr.sortBy(_._1._1).map { case ((pid, _, _), s) =>
          val off = acc
          acc += s
          ((pid, g, tag), off)
        }
      }
    // per-(g, tag) total n is the grand sum of the same subtotals
    val totals: Map[(String, String), Long] =
      byGroup.map { case (k, arr) => k -> arr.map(_._2).sum }
    val bcOff = spark.sparkContext.broadcast((offsets, totals))

    // Cumulative ranks via a STREAMING per-group pass, not WindowExec: a
    // window buffers every partition's rows in an UnsafeRowArray (spill
    // past task memory at scale) and hands every ranked row to the
    // interpolation aggregate — for ≤ 6 bracketing rows per (g, tag).
    // With n and the group's offset known INSIDE the pass, it emits only
    // rows whose rank is a target — O(1) memory per group, and the final
    // aggregate reads ~18 rows instead of the full value set. Output
    // keeps the (g, tag, v, cnt, n, cum) bracketing-row shape qAgg reads.
    val bracketed = spark.createDataset(
      rrdd.mapPartitionsWithIndex { (pid, it) =>
        val (offs, tots) = bcOff.value
        var curG: String = null
        var curTag: String = null
        var cum = 0L
        var n = 0L
        var ranks: Array[Long] = Array.emptyLongArray
        it.flatMap { case (g, tag, v) =>
          if (g != curG || tag != curTag) {
            curG = g; curTag = tag
            cum = offs.getOrElse((pid, g, tag), 0L)
            n = tots((g, tag))
            // same arithmetic as qAgg below: pos = (n−1)·q, ranks
            // floor(pos)+1 and ceil(pos)+1 (Catalyst floor/ceil on a
            // double yield BIGINT, matched by toLong here)
            ranks = targetsByTag(tag).flatMap { q =>
              val pos = (n - 1) * q
              Array(math.floor(pos).toLong + 1, math.ceil(pos).toLong + 1)
            }
          }
          cum += 1
          if (ranks.contains(cum)) Iterator.single((g, tag, v, 1L, n, cum))
          else Iterator.empty
        }
      })
      .toDF("g", "tag", "v", "cnt", "n", "cum")

    // 1-based continuous rank: pos = (n-1)*q + 1; the quantile sits
    // between the values at ranks floor(pos) and ceil(pos)
    def qAgg(tag: String, q: Double, name: String) = {
      val isTag = col("tag") === lit(tag)
      val pos = (col("n") - 1) * lit(q)
      val loRank = floor(pos) + 1
      val hiRank = ceil(pos) + 1
      val loVal = max(when(isTag && col("cum") - col("cnt") < loRank && col("cum") >= loRank, col("v")))
      val hiVal = max(when(isTag && col("cum") - col("cnt") < hiRank && col("cum") >= hiRank, col("v")))
      val fr = max(when(isTag, pos - floor(pos))) // frac depends only on n: constant per (group, tag)
      (loVal + (hiVal - loVal) * fr).as(name)
    }
    val agg = bracketed
      .groupBy(col("g"))
      .agg(
        qAgg("price", 0.5, "p50_raw"),
        qAgg("price", 0.95, "p95_raw"),
        qAgg("qty", 0.25, "qty_p25_raw"))
    // group universe from the RAW scan: a group whose measures are all
    // NULL has no bracketing rows but still owns an output row (with
    // NULL percentiles — exactly what GROUP BY + quantile_cont yields).
    // Column-pruned single-column distinct, broadcast onto ≤ |groups|
    // aggregate rows: negligible at any scale. <=> join: NULL is itself
    // a group key (GROUP BY keeps it; an equi-join would silently drop
    // the null-flag group's percentiles).
    val universe = li.select(col("l_returnflag").as("g")).distinct()
    val result = universe.join(broadcast(agg), universe("g") <=> agg("g"), "left")
      .select(
        universe("g").as("l_returnflag"),
        round(col("p50_raw"), 2).as("p50"),
        round(col("p95_raw"), 2).as("p95"),
        round(col("qty_p25_raw"), 2).as("qty_p25"))
      .orderBy(col("l_returnflag"))
    PercentileStages(result, ranged.toDF())
  }

  /** Scalar string function suite (all codegen'd builtins). */
  def q33Strings(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        substring(col("p_type"), 1, 5).as("t5"),
        concat(col("p_brand"), lit("-"), col("p_type")).as("label"),
        length(col("p_name")).cast("long").as("name_len"),
        levenshtein(col("p_brand"), col("p_type")).cast("long").as("lev")
      )

  /** Full CUBE over two dimensions (grouping-set expansion). */
  def q35Cube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total")
      )

  /** Tumbling event-time buckets: a grouped aggregation over
    * `window(ts, "6 hours")` starts.
    */
  def q36TimeBuckets(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(
        window(col("ts"), "6 hours").getField("start").as("bucket"),
        col("event_type")
      )
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))

  /** Date/time functions: truncation + extraction + grouped agg. */
  def q34Dates(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(
        date_trunc("month", col("o_orderdate")).as("m"),
        year(col("o_orderdate")).cast("long").as("y")
      )
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
}
