package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one local session reused across all suites (tests
  * fork a single JVM, so `getOrCreate` returns the same session).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4, appName = "graft-test")
  val sfDir = "/root/testdata/sf0.001"

  /** Run `body` with session conf `key` set to `value`, then restore the
    * previous value (or its absence), also when `body` throws.
    */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Run `body` on the RocksDB state store provider. */
  def withRocksDb[T](body: => T): T =
    withConf("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)
}
