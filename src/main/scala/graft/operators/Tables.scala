package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table access for the driver testdata (TESTDATA.md). Column
  * pruning and predicate pushdown reach the scan because these are plain
  * declarative reads (verify with `.explain`: PushedFilters / ReadSchema).
  *
  * A parquet read without a declared schema infers it from the file footers
  * with a one-task Spark job on every call, and every registered query
  * starts from such reads. So a table's schema is inferred once per
  * table-file version, and every read declares it. `schemas` holds only the
  * `StructType`, filled by the undeclared read, so it is Spark's own
  * inference. Its key holds everything that decides that schema:
  *  - the qualified table path, and the path, length and modification time
  *    of every file under it (a table is one file or a directory of part
  *    files, and a directory's own time does not move when a file in it is
  *    rewritten in place), so a rewritten table is inferred again;
  *  - the session's values of `InferenceConfs`, the settings that change the
  *    inferred types, so a changed setting is inferred again.
  * The map needs no eviction: it holds one small entry per table-file
  * version and setting that the JVM reads, ten for one test-data directory.
  */
object Tables {
  private val InferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.legacy.parquet.nanosAsLong")

  private final case class Key(table: String, files: Seq[(String, Long, Long)], confs: Seq[String])

  private val schemas = new ConcurrentHashMap[Key, StructType]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing = fs.listFiles(p, true)
    val files = Vector.newBuilder[(String, Long, Long)]
    while (listing.hasNext) {
      val f = listing.next()
      files += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    val key = Key(fs.makeQualified(p).toString, files.result().sorted, InferenceConfs.map(spark.conf.get))
    schemas.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "region")
  def events(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "events")
  def documents(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "embeddings")
}
