package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** A snapshot's manifests against its data: per day, (rows, kept, rows per
  * drop reason) as the current manifest states them and as a
  * `groupBy(p_date, drop_reason, keep)` over `data/` recounts them.
  */
object ManifestRecount {
  type DayCounts = (Long, Long, Map[String, Long])

  def manifest(outRoot: String): Map[String, DayCounts] =
    new SnapshotStore(outRoot).committedEntries()
      .map(e => e.partition -> (e.rows, e.kept, e.dropReasons)).toMap

  def recount(spark: SparkSession, outRoot: String): Map[String, DayCounts] =
    spark.read.parquet(s"$outRoot/data")
      .groupBy(col("p_date").cast("string"), col("drop_reason"), col("keep")).count()
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getBoolean(2), r.getLong(3)))
      .groupBy(_._1)
      .map { case (day, cs) =>
        day -> ((cs.map(_._4).sum, cs.filter(_._3).map(_._4).sum,
          cs.collect { case (_, Some(reason), _, n) => reason -> n }.toMap))
      }
}
