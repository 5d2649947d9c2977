package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{GraftTestHooks, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (one per JVM; sbt runs suites
  * in a single forked JVM so every suite reuses this session).
  */
object SparkTestSession {
  lazy val spark: SparkSession = graft.spark.Sessions.build("local[4]", "graft-test")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Plans registered in the session's cache manager, materialized or
    * not — a leaked `cache()` shows here.
    */
  def cachedPlans: Int = GraftTestHooks.cachedPlans(spark)

  /** Runs `body` and counts the Spark jobs it started. */
  def jobsDuring[A](body: => A): (A, Int) =
    eventsDuring(body) { case _: SparkListenerJobStart => true }

  /** Runs `body` and counts the root SQL executions it started — one
    * per action, however many jobs AQE splits it into.
    */
  def rootExecutionsDuring[A](body: => A): (A, Int) =
    eventsDuring(body) { case e: SparkListenerSQLExecutionStart => e.rootExecutionId.forall(_ == e.executionId) }

  private def eventsDuring[A](body: => A)(counted: PartialFunction[SparkListenerEvent, Boolean]): (A, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      private def see(e: SparkListenerEvent): Unit = if (counted.applyOrElse(e, (_: SparkListenerEvent) => false)) n.incrementAndGet()
      override def onJobStart(e: SparkListenerJobStart): Unit = see(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = see(e)
    }
    GraftTestHooks.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      GraftTestHooks.drain(sc)
      (a, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
