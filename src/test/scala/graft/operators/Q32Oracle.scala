package graft.operators

import org.apache.spark.sql.SparkSession

/** Driver-side brute force for q32 (exact interpolated percentiles per
  * l_returnflag): sort each group's measure values and interpolate with
  * quantile_cont's formula — pos = (n−1)·q, lo + (hi−lo)·frac, then
  * round(_, 2). IEEE ops in the same order as the operator's Catalyst
  * aggregate are bit-identical across codegen and Scala, so callers
  * compare with equality (`bits` when NaN may appear), never a
  * tolerance. Shares nothing with Relational.q32Stages: no range
  * partitioning, no prefix offsets, no streaming bracketing pass.
  *
  * Scope: non-null group keys and measures (the spec tables). NULL
  * semantics are gated against DuckDB by the Verify and fuzz gates.
  */
object Q32Oracle {
  type Row = (String, Double, Double, Double)

  /** Spark's double sort order: NaN above +Inf, -0.0 equal to 0.0. */
  private val sparkOrder: Ordering[Double] =
    (a, b) => if (a == b) 0 else java.lang.Double.compare(a, b)

  /** round(_, 2) as Spark's Round evaluates a double: NaN and ±Inf pass
    * through unchanged (BigDecimal.valueOf would throw on them), finite
    * values round HALF_UP from their shortest decimal representation.
    */
  def round2(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue

  /** quantile_cont over values already in Spark's sort order. */
  def quantileCont(sorted: Array[Double], q: Double): Double = {
    val pos = (sorted.length - 1) * q
    val lo = sorted(math.floor(pos).toInt)
    val hi = sorted(math.ceil(pos).toInt)
    lo + (hi - lo) * (pos - math.floor(pos))
  }

  /** (l_returnflag, p50, p95, qty_p25) per group, ordered by group. */
  def percentiles(rows: Seq[(String, Double, Double)]): List[Row] =
    rows.groupBy(_._1).toList.sortBy(_._1).map { case (g, rs) =>
      val prices = rs.map(_._2).sorted(sparkOrder).toArray
      val qtys = rs.map(_._3).sorted(sparkOrder).toArray
      (g, round2(quantileCont(prices, 0.5)), round2(quantileCont(prices, 0.95)),
        round2(quantileCont(qtys, 0.25)))
    }

  /** The oracle over `dir/lineitem.parquet`, collected to the driver. */
  def percentiles(spark: SparkSession, dir: String): List[Row] =
    percentiles(spark.read.parquet(s"$dir/lineitem.parquet")
      .selectExpr("l_returnflag", "cast(l_extendedprice as double)",
        "cast(l_quantity as double)")
      .collect().toSeq
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))))

  /** q32's output rows in the oracle's shape, ordered by group. */
  def rows(df: org.apache.spark.sql.DataFrame): List[Row] = df.collect()
    .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    .sortBy(_._1).toList

  /** Bit-canonical rows: tuple == is false for (NaN, NaN) even when both
    * sides agree; doubleToLongBits folds every NaN to one pattern and
    * still distinguishes -0.0 from 0.0.
    */
  def bits(l: List[Row]): List[(String, Long, Long, Long)] = l.map { case (g, a, b, c) =>
    (g, java.lang.Double.doubleToLongBits(a),
      java.lang.Double.doubleToLongBits(b), java.lang.Double.doubleToLongBits(c))
  }
}
