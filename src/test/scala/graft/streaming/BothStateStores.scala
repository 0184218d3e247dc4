package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Registers a streaming test once per state-store provider: under
  * Spark's default (HDFS-backed: every key's state in executor heap) with
  * its own name, and under RocksDB (state in native RocksDB instances)
  * with a " [RocksDB]" suffix. The provider is a session conf read when a
  * query starts, and the specs share one session in the forked test JVM,
  * so the RocksDB variant sets it and restores the prior value.
  */
trait BothStateStores { self: AnyFunSuite =>
  protected def spark: SparkSession

  protected val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  protected def streamingTest(name: String)(body: => Any): Unit = {
    test(name)(body)
    test(s"$name [RocksDB]") {
      val prior = spark.conf.getOption(ProviderKey)
      spark.conf.set(ProviderKey, RocksDB)
      try body finally prior.fold(spark.conf.unset(ProviderKey))(spark.conf.set(ProviderKey, _))
    }
  }
}
