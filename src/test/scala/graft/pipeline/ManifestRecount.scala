package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** A snapshot's manifests against its data: per day, (rows, kept, rows per
  * drop reason, kernel rows per language) as the current manifest states
  * them and as groupBys over `data/` recount them:
  * `groupBy(p_date, drop_reason, keep)` for the first three, and
  * `groupBy(p_date, lang)` over the rows that are not duplicates for the
  * languages.
  */
object ManifestRecount {
  type DayCounts = (Long, Long, Map[String, Long], Map[String, Long])

  /** Every day's `langs` is present and counts each row that is not a
    * duplicate exactly once.
    */
  def langsCoverKernelRows(days: Map[String, DayCounts]): Boolean =
    days.values.forall { case (rows, _, drops, langs) =>
      langs.nonEmpty && langs.values.sum == rows - drops.getOrElse("dup", 0L)
    }

  def manifest(outRoot: String): Map[String, DayCounts] =
    new SnapshotStore(outRoot).committedEntries()
      .map(e => e.partition -> (e.rows, e.kept, e.dropReasons, e.langs)).toMap

  def recount(spark: SparkSession, outRoot: String): Map[String, DayCounts] = {
    val data = spark.read.parquet(s"$outRoot/data")
    val langs = data.filter(!col("is_dup"))
      .groupBy(col("p_date").cast("string"), col("lang")).count()
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (day, cs) => day -> cs.map(c => c._2 -> c._3).toMap }
    data
      .groupBy(col("p_date").cast("string"), col("drop_reason"), col("keep")).count()
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getBoolean(2), r.getLong(3)))
      .groupBy(_._1)
      .map { case (day, cs) =>
        day -> ((cs.map(_._4).sum, cs.filter(_._3).map(_._4).sum,
          cs.collect { case (_, Some(reason), _, n) => reason -> n }.toMap,
          langs.getOrElse(day, Map.empty[String, Long])))
      }
  }
}
