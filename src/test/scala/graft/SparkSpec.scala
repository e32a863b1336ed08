package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Shared single-session base for all specs (one JVM-wide session; suites
  * run sequentially under sbt's default test execution).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** The result of `body` and the number of Spark jobs it started. */
  def jobsIn[A](body: => A): (A, Int) = {
    val (a, tasks) = resultTasksIn(body)
    (a, tasks.size)
  }

  /** The result of `body` and, for each Spark job it started in start
    * order, the task count of the job's result stage, counted by a
    * listener under a job group of its own.
    */
  def resultTasksIn[A](body: => A): (A, Seq[Int]) = {
    val sc = spark.sparkContext
    val group = s"jobs-in-${System.nanoTime()}"
    val jobs = new ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""),
          // a job's result stage is created after its parents
          e.stageInfos.maxBy(_.stageId).numTasks))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val a = try body finally sc.clearJobGroup()
      // listener events arrive in order: once a later job's start is
      // seen, every job of `body` has been delivered
      val marker = s"$group-marker"
      sc.setJobGroup(marker, "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30.seconds.toNanos
      def seen = jobs.asScala.exists(_._1 == marker)
      while (!seen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen, "listener never saw the marker job")
      (a, jobs.asScala.collect { case (`group`, n) => n }.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Run `body` on the RocksDB state store (transformWithState needs it). */
  def withRocksDb[A](body: => A): A =
    GraftSession.withConfs(spark, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local("graft-test", cores = 4)
}
