package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** q32's range-partitioned prefix sum on the shapes the sf oracle can't
  * pin, each checked against the driver-side sort-based brute force in
  * [[Q32Oracle]]: n = 1 (both bracket ranks collapse to 1 and the
  * interpolation fraction is 0), n = 2 with a fractional 0.95 position,
  * duplicate values whose run covers both bracket ranks, degenerate
  * range boundaries, more groups than partitions, skew, non-finite
  * measures, seeded-random tables and real sf0.001 data.
  */
class PercentileEdgeSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def table(rows: Seq[(String, Double, Double)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(
        s"target/q32edge-${java.util.UUID.randomUUID().toString.take(8)}"))
      .toAbsolutePath.toString
    rows.toDF("l_returnflag", "l_extendedprice", "l_quantity")
      .repartition(3).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  private val edgeRows = Seq(
    // group X: n = 1 -> every quantile is the value itself
    ("X", 10.0, 5.0),
    // group Y: n = 2 -> p50 midpoint, p95 = lo + 0.95*(hi-lo)
    ("Y", 10.0, 1.0), ("Y", 20.0, 3.0),
    // group Z: duplicates -> p50 ranks (2,3) land inside the 3-row run
    // of value 5
    ("Z", 5.0, 2.0), ("Z", 5.0, 2.0), ("Z", 5.0, 4.0), ("Z", 7.0, 4.0))

  private val want = List(
    ("X", 10.0, 10.0, 5.0),
    ("Y", 15.0, 19.5, 1.5),
    // Z prices [5,5,5,7]: p50 pos=1.5 -> both ranks in the 5-run;
    // p95 pos=2.85 -> 5 + 0.85*2 = 6.7; qty [2,2,4,4]: p25 pos=0.75
    // -> ranks (1,2) both value 2
    ("Z", 5.0, 6.7, 2.0))

  test("q32 exact percentiles: single-row, two-row, and duplicate-value groups") {
    // the hand-computed values pin the brute force itself, then the operator
    assert(Q32Oracle.percentiles(edgeRows) == want)
    val dir = table(edgeRows)
    try {
      val got = Q32Oracle.rows(Relational.q32Percentiles(spark, dir))
      assert(got == want, s"got $got")
    } finally graft.TinyInputs.delete(dir)
  }

  test("q32 escalated prefix-sum path: same edge cases, group runs split across range partitions") {
    // with 8 shuffle partitions and 14 stacked (g, tag, v) rows the
    // sampled boundaries place parts of one group's value run in
    // different partitions, so the bracketing pass MUST consume the
    // broadcast offsets to rank correctly (a zero-offset regression
    // returns wrong quantiles here, not a crash). The split is asserted,
    // not assumed.
    val dir = table(edgeRows)
    try {
      val st = Relational.q32Stages(spark, dir)
      val spread = st.ranged.rdd
        .mapPartitionsWithIndex((pid, it) => it.map(r => ((r.getString(0), r.getString(1)), pid)))
        .distinct().collect()
        .groupBy(_._1).map(_._2.length)
      assert(spread.max >= 2, s"no group run spans two partitions: $spread")
      val got = Q32Oracle.rows(st.result)
      assert(got == Q32Oracle.percentiles(spark, dir), s"got $got")
    } finally graft.TinyInputs.delete(dir)
  }

  test("q32 equals the brute-force oracle on real sf0.001 data") {
    val sf = s"${sys.props("user.home")}/testdata/sf0.001" // TESTDATA.md
    assert(Q32Oracle.rows(Relational.q32Percentiles(spark, sf)) ==
      Q32Oracle.percentiles(spark, sf))
  }

  test("q32 equals the brute-force oracle on degenerate, skewed and non-finite shapes") {
    // Shapes the oracle corpus and the edge table never hand the prefix
    // sum: an all-equal table (boundary sampling degenerates to one key —
    // every range partition but one is empty, offsets must still rank),
    // more groups than shuffle partitions (many groups per value slice in
    // the per-(partition, group) subtotals), duplicate skew where one
    // value carries ~90% of a group's count, and a seeded-random mixture
    // with negative prices.
    val rnd = new scala.util.Random(7)
    val shapes: Seq[(String, Seq[(String, Double, Double)])] = Seq(
      "all-equal" -> Seq.fill(64)(("A", 5.0, 2.0)),
      "groups>partitions" -> (0 until 40).flatMap(g =>
        Seq((f"g$g%02d", g + 1.0, 1.0), (f"g$g%02d", g + 3.0, 3.0),
          (f"g$g%02d", g + 9.0, 5.0))),
      "skew" -> (Seq.fill(90)(("A", 1.0, 1.0)) ++
        (1 to 10).map(i => ("A", 1.0 + i, 2.0)) ++
        Seq.fill(20)(("B", -3.5, 4.0))),
      "random" -> (0 until 500).map(_ =>
        (Seq("A", "N", "R")(rnd.nextInt(3)),
          (rnd.nextInt(4000) - 2000) / 4.0, (rnd.nextInt(40) + 1).toDouble)),
      // Non-finite measures (a crawl-scale quality score that divided by
      // zero): NaN sorts ABOVE +Inf in Spark's double ordering, so NaN
      // rows land at the top ranks and an interpolation whose bracket
      // touches one goes NaN; an Inf bracket interpolates to Inf. The
      // range boundaries are sampled over NaN keys too. -0.0 probes the
      // ordering's -0.0 == 0.0 rule.
      "non-finite" -> (Seq.fill(30)(("A", 2.0, 1.0)) ++ Seq(
        ("A", Double.NaN, 1.0), ("A", Double.PositiveInfinity, 2.0),
        ("A", Double.NegativeInfinity, 3.0), ("A", -0.0, Double.NaN),
        ("B", Double.NaN, Double.NaN)) ++
        (1 to 10).map(i => ("B", i.toDouble, 1.0))))
    shapes.foreach { case (name, rowsIn) =>
      val dir = table(rowsIn)
      try {
        val got = Q32Oracle.rows(Relational.q32Percentiles(spark, dir))
        val want = Q32Oracle.percentiles(rowsIn)
        assert(Q32Oracle.bits(got) == Q32Oracle.bits(want),
          s"oracle divergence on shape $name: got=$got want=$want")
      } finally graft.TinyInputs.delete(dir)
    }
  }

  test("q32 escalated path survives an empty table") {
    val dir = table(Seq.empty)
    try assert(Relational.q32Percentiles(spark, dir).collect().isEmpty)
    finally graft.TinyInputs.delete(dir)
  }

  test("q32 equals a sort-based brute-force quantile_cont on seeded random tables") {
    // Values are quarter-grid so sums/differences stay representable;
    // duplicates and 1-row groups arise naturally from the small value
    // ranges.
    val rnd = new scala.util.Random(0x5eed32)
    (0 until 8).foreach { t =>
      val nGroups = 1 + rnd.nextInt(5)
      val rows = (0 until (1 + rnd.nextInt(400))).map { _ =>
        (s"G${rnd.nextInt(nGroups)}",
          (rnd.nextInt(8000) - 4000) / 4.0, (rnd.nextInt(200) + 1) / 4.0)
      }
      val dir = table(rows)
      try {
        val got = Q32Oracle.rows(Relational.q32Percentiles(spark, dir))
        val want = Q32Oracle.percentiles(rows)
        assert(got == want, s"table $t: got $got want $want")
      } finally graft.TinyInputs.delete(dir)
    }
  }
}
