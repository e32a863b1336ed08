package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Shared single-session base for all specs (one JVM-wide session; suites
  * run sequentially under sbt's default test execution).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Run `body` on the RocksDB state store (transformWithState needs it). */
  def withRocksDb[A](body: => A): A =
    GraftSession.withConfs(spark, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local("graft-test", cores = 4)
}
