package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the scale-critical plan properties must hold
  * structurally, not by luck — filter/column pushdown into the parquet
  * scan, broadcast joins for small dims, TakeOrdered for top-k,
  * whole-stage codegen on the hot aggregation path, and no `html` column
  * on the pipeline read path.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02: filters and column pruning reach the parquet scan") {
    val p = plan(Relational.q02FilterPushdown(spark, sf))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("l_shipdate"), p)
    // pruned read schema: no returnflag/linestatus columns read
    assert(!p.contains("l_returnflag"), "scan should not read l_returnflag\n" + p)
  }

  test("q03: dimension joins are broadcast, not shuffled") {
    val p = plan(Relational.q03BroadcastJoin(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q05: global top-k compiles to TakeOrderedAndProject (no full sort)") {
    val p = plan(Relational.q05TopK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q01: aggregation runs inside whole-stage codegen with partial agg") {
    val df = Relational.q01PricingSummary(spark, sf)
    df.collect() // finalize the adaptive plan so codegen wrapping is visible
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" is the WholeStageCodegen marker in the compact plan string
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p)
    assert(p.contains("HashAggregate"), p)
    // partial + final pair
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("pipeline read path never touches the html column") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-plan").toString
    graft.pipeline.PagesGen.pagesDf(spark, 200).write.parquet(s"$tmp/pages")
    val bc = LangOps.broadcastModel(spark)
    val out = graft.pipeline.FilterPipeline.run(spark, spark.read.parquet(s"$tmp/pages"), bc)
    val scans = out.queryExecution.executedPlan.collectLeaves().mkString("\n")
    assert(scans.contains("url"), scans)
    assert(!scans.contains("html"), "html must be pruned from the scan:\n" + scans)
    // ONE exchange total: the dedup window's (host, content-hash) shuffle is
    // also the skew defense; the kernel runs downstream with no shuffle
    val nExchanges = "Exchange hashpartitioning".r
      .findAllIn(out.queryExecution.executedPlan.toString).size
    assert(nExchanges == 1, s"expected exactly 1 exchange, got $nExchanges")
  }

  test("day-scoped pipeline: one exchange, keyed on (p_date, host, content hash)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-plan-days").toString
    graft.pipeline.PagesGen.writePartitioned(spark, 200, s"$tmp/pages")
    val bc = LangOps.broadcastModel(spark)
    val out = graft.pipeline.FilterPipeline.run(
      spark, spark.read.parquet(s"$tmp/pages"), bc, Some("p_date"))
    val p = plan(out)
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.size == 1, p)
    assert(exchanges.head.matches("p_date#\\d+, w_host#\\d+L, w_hash#\\d+L, \\d+"), p)
    assert(out.columns.contains("p_date"))
  }

  test("q20: ANN corpus side joins against a broadcast query set") {
    val p = plan(Similarity.q20AnnBruteForce(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q32: percentiles plan has no whole-group-buffering aggregate") {
    // the rank-interpolation rewrite must never reintroduce Spark's
    // Percentile TypedImperativeAggregate (ObjectHashAggregate /
    // SortAggregate over a per-group value buffer — an OOM at 100 TB).
    // The plan is the range-partitioned prefix sum at every size: the
    // bracketing pass runs eagerly on the shared range-shuffle RDD, so
    // the result plan reads an ExistingRDD of bracketing rows (≤ 6 per
    // group/measure) and scans parquet exactly once (the group-universe
    // branch).
    val df = Relational.q32Percentiles(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("percentile"), p)
    assert(!p.contains("ObjectHashAggregate"), p)
    assert(p.contains("HashAggregate"), p) // the interpolation aggregate
    // cumulative ranks come from the streaming bracketing pass (O(1)
    // state per group), NOT WindowExec — whose row array buffers each
    // partition's full distinct-value set (the spill this spec guards out)
    assert(!p.contains("Window"), "no whole-partition-buffering window\n" + p)
    assert(p.contains("Scan ExistingRDD") || p.contains("Scan[obj#"),
      "result must read the eager bracketing rows\n" + p)
    // count in the FINAL adaptive section only (the string renders the
    // initial plan too, which would double-count the universe's scan)
    assert("Scan parquet".r.findAllIn(p.split("== Initial Plan ==")(0)).size == 1,
      "only the group-universe branch may rescan lineitem\n" + p)
  }

  test("q32 escalated: cumulative ranks ride a range exchange, not a per-group sort") {
    // The prefix sum exists to kill a single-reducer-per-group cumsum.
    // Two gates, one structural, one behavioral:
    //  (a) the cumsum input is built over an `Exchange rangepartitioning`
    //      on (g, tag, v) — contiguous value slices, parallelism = N;
    //  (b) at least one (g, tag) group's values actually SPAN multiple
    //      partitions — what a per-group hash shuffle can never satisfy,
    //      and robust to plan-string rendering.
    val st = Relational.q32Stages(spark, sf)
    val rangedPlan = st.ranged.queryExecution.executedPlan.toString
    assert(rangedPlan.contains("Exchange rangepartitioning"),
      "q32's cumsum input must be range-partitioned\n" + rangedPlan)
    val groupSpread = st.ranged.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        it.map(r => ((r.getString(0), r.getString(1)), pid))
      }
      .distinct().collect()
      .groupBy(_._1).map(_._2.length)
    assert(groupSpread.max >= 2,
      s"no (g, tag) group spans >1 partition — the cumsum is still single-reducer " +
        s"per group (spreads: ${groupSpread.toSeq.sorted.mkString(",")})")
    // the bracketing pass reads the eager bracketing rows, and the whole
    // plan must also run
    val resultPlan = st.result.queryExecution.executedPlan.toString
    assert(resultPlan.contains("Scan[obj#") || resultPlan.contains("Scan ExistingRDD") ||
      resultPlan.contains("InMemoryTableScan"), resultPlan)
    assert(st.result.collect().length == 3)
  }

  test("trainer: (n-1)-gram denominator side joins as broadcast below threshold") {
    // At real model scale the lower-gram side exceeds
    // autoBroadcastJoinThreshold, so WITHOUT the explicit hint Catalyst
    // plans a shuffle join of the much larger n-gram side — simulate
    // that regime by disabling auto-broadcast: only the row-count-gated
    // hint can produce the broadcast then.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    val corpus = graft.train.FixtureCorpus.corpus(nLinesPerLang = 20, langs = Seq("eng"))
      .flatMap { case (l, ls) => ls.map(x => (l, x)) }.toDF("lang", "line")
    val p = graft.train.Trainer.trainSparkFractions(s2, corpus)
      .queryExecution.sparkPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "prefix and suffix denominator joins should both broadcast the lower-gram side\n" + p)
    val p2 = graft.train.Trainer
      .trainSparkFractions(s2, corpus, lowerBroadcastMaxRows = 0L)
      .queryExecution.sparkPlan.toString
    assert(p2.contains("SortMergeJoin") || p2.contains("ShuffledHashJoin"),
      "above-threshold fallback should plan the shuffle join\n" + p2)
  }

  test("q17/q19 CPU-heavy passes ride fixed-N repartitions (AQE cannot fold them)") {
    // AQE sizes shuffle partitions by BYTES; the signature/ppjoin stages
    // are CPU-bound over tiny bytes, so an N-less repartition(col) gets
    // coalesced to a single task on any small corpus — measured on q19:
    // 2.1 s with every source's ppjoin serialized into one task vs
    // ~0.3 s across 32. A fixed-N repartition plans as REPARTITION_BY_NUM,
    // which AQE must respect; this pins both queries to that origin.
    val q17p = TextOps.q17MinHashPairsImpl(spark, sf, 0.7, 0, 0L)
      .queryExecution.executedPlan.toString
    assert(q17p.contains("REPARTITION_BY_NUM"),
      "q17 banding must pin its partition count\n" + q17p)
    val st = TextOps.q19Stages(spark, sf, 0.3)
    assert(st.usedLocalPlan, "sf0.001 must choose the local ppjoin plan")
    val q19p = st.result.queryExecution.executedPlan.toString
    assert(q19p.contains("REPARTITION_BY_NUM"),
      "q19 local ppjoin must pin its partition count\n" + q19p)
  }

  test("q17: broadcast-verify plan is shuffle- and join-free (pairs vs broadcast shingles)") {
    // within the probe caps the verify is a mapPartitions over a
    // parallelized pair range against broadcast shingle sets — the plan
    // the query RETURNS must contain no exchange, no join, and no cache:
    // all corpus-sized movement happened in the (already executed)
    // banding jobs, and nothing stays pinned between calls (ADVICE r4)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val df = TextOps.q17MinHashPairs(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "verify plan must not shuffle\n" + p)
    assert(!p.contains("Join"), "verify plan must not join\n" + p)
    assert(!p.contains("InMemoryTableScan") && !p.contains("TableCacheQueryStage"),
      "q17 must not pin a cache (the r4 regression)\n" + p)
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore,
      "no cache may outlive the q17 call")
  }

  test("q39: result plan scans doc_id only and shuffles bare keys, never text") {
    // the iterative star jobs already ran when q39 returns; the RESULT
    // plan is documents ⟕ labels. Its parquet scan must prune to the
    // doc_id column (the text column moved only inside q17's own jobs),
    // so the join shuffles 8-byte keys — the 100 TB-safe shape for a
    // label side whose size is dup-rate-, not corpus-, bounded
    val df = Clusters.q39NearDupClusters(spark, sf)
    val scans = df.queryExecution.executedPlan.collectLeaves().mkString("\n")
    assert(scans.contains("documents.parquet"), scans)
    assert(!scans.contains("text"), "q39 result scan must not read text\n" + scans)
    Clusters.releaseQ39Cache()
  }
}
