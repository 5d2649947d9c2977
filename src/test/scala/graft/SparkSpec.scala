package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftTestHooks, SparkSession}
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
  def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftTestHooks.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      GraftTestHooks.drain(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
