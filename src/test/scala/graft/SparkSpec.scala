package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{GraftTestHooks, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

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
  def jobsDuring[A](body: => A): (A, Int) = {
    val (a, jobs) = jobStartsDuring(body)
    (a, jobs.size)
  }

  /** Runs `body` and returns the start events of the Spark jobs it
    * started, in order.
    */
  def jobStartsDuring[A](body: => A): (A, Seq[SparkListenerJobStart]) = {
    val (a, events) = eventsDuring(body) { case _: SparkListenerJobStart => true }
    (a, events.collect { case j: SparkListenerJobStart => j })
  }

  /** True for a job started outside any SQL execution: a read-time
    * schema-inference (footer) or file-listing job, which moves no
    * table data.
    */
  def outsideSqlExecution(job: SparkListenerJobStart): Boolean =
    Option(job.properties).forall(_.getProperty("spark.sql.execution.id") == null)

  /** Runs `body` and counts the root SQL executions it started — one
    * per action, however many jobs AQE splits it into.
    */
  def rootExecutionsDuring[A](body: => A): (A, Int) = {
    val (a, events) =
      eventsDuring(body) { case e: SparkListenerSQLExecutionStart => e.rootExecutionId.forall(_ == e.executionId) }
    (a, events.size)
  }

  private def eventsDuring[A](body: => A)(
      counted: PartialFunction[SparkListenerEvent, Boolean]
  ): (A, Seq[SparkListenerEvent]) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[SparkListenerEvent]
    val listener = new SparkListener {
      private def see(e: SparkListenerEvent): Unit = if (counted.applyOrElse(e, (_: SparkListenerEvent) => false)) seen.add(e)
      override def onJobStart(e: SparkListenerJobStart): Unit = see(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = see(e)
    }
    GraftTestHooks.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      GraftTestHooks.drain(sc)
      (a, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
