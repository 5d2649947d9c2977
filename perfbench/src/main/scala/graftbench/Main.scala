package graftbench

import graft.spark.Sessions
import graftbench.Common._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark JVM, started by `run.py`:
  *
  *   graftbench.Main <workload> <seed> <seconds> <trace 0|1> <scratch dir> <cores>
  *   graftbench.Main self-test <scratch dir> <cores>
  *
  * Prints one line `GRAFTBENCH_RESULT {json}` (see `Report`).
  */
object Main {

  val Workloads: Map[String, Ctx => Unit] = Map("backfill" -> Backfill.run, "continuous" -> Continuous.run)

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("self-test")) selfTest(args(1), args(2).toInt)
    else {
      val Array(workload, seed, secs, trace, dir, cores) = args
      val body = Workloads.getOrElse(workload, sys.error(s"unknown workload '$workload'"))
      val report = new Report(workload)
      val (spark, sessionS) = seconds(Sessions.build(s"local[$cores]", s"graftbench-$workload"))
      report.sessionS = sessionS
      body(new Ctx(spark, report, seed.toInt, secs.toInt, trace == "1", dir, cores.toInt))
      println("GRAFTBENCH_RESULT " + report.json)
      SparkSession.getActiveSession.foreach(_.stop())
    }
  }

  val SelfTestPages: Long = 20000L

  /** Checks the benchmark's own statistics and output checks: the
    * median against hand-worked values, and a backfill pass whose 1m
    * tier then gets one corrupted row, which the check must reject.
    */
  def selfTest(dir: String, cores: Int): Unit = {
    require(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    require(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    val t = new SpanTotals
    t.stageTaskS(0) = scala.collection.mutable.ArrayBuffer(1.0, 1.0, 4.0)
    require(t.taskSkew == 4.0)

    val spark = Sessions.build(s"local[$cores]", "graftbench-self-test")
    val seed = 7
    val input = s"$dir/input"
    Backfill.writeInput(spark, seed, SelfTestPages, input)
    val out = s"$dir/out"
    Backfill.pass(spark, new Tracer(spark, traced = false), input, out)
    val good = new Report("self-test")
    require(Backfill.checkPasses(spark, seed, SelfTestPages, input, Seq(out), good).isEmpty, s"an intact pass failed: ${good.checks}")

    // one 1m row gets one extra point
    val tier = spark.read.parquet(s"$out/tier_1m")
    val victim = tier.orderBy("domain", "lang", "bucket_ts").limit(1)
    val bad = tier
      .join(victim.select(col("domain"), col("lang"), col("bucket_ts"), lit(true).as("__hit")), Seq("domain", "lang", "bucket_ts"), "left")
      .withColumn("point_count", when(col("__hit"), col("point_count") + 1).otherwise(col("point_count")))
      .drop("__hit")
    bad.write.parquet(s"$out/tier_1m_bad")
    delete(s"$out/tier_1m")
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$out/tier_1m_bad"), java.nio.file.Paths.get(s"$out/tier_1m"))
    val caught = new Report("self-test")
    require(Backfill.checkPasses(spark, seed, SelfTestPages, input, Seq(out), caught) == Seq(out), "a corrupted 1m tier row passed")
    require(caught.checks.filterNot(_._2).keySet == Set("backfill.tier_1m") && caught.checks.size == 6,
      s"unexpected checks ${caught.checks}")
    println("GRAFTBENCH_SELF_TEST ok")
    spark.stop()
  }
}
