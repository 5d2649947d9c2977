package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Task totals of one span (a Spark job group). */
final class SpanTotals {
  var wallS = 0.0
  var jobs = 0L
  var tasks = 0L
  var taskS = 0.0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
  /** Task run times (s) per stage, for the skew of the dominant stage. */
  val stageTaskS = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]

  /** Max over median task time of the stage with the most task time
    * (stages of one task carry no skew and are skipped); 1.0 when no
    * stage has two tasks.
    */
  def taskSkew: Double = {
    val multi = stageTaskS.values.filter(_.size >= 2)
    if (multi.isEmpty) 1.0
    else {
      val ts = multi.maxBy(_.sum).sorted
      val med = Stats.median(ts.toSeq)
      if (med <= 0) 1.0 else ts.last / med
    }
  }

  def coreBusyShare(cores: Int): Double = if (wallS <= 0) 0.0 else taskS / (wallS * cores)

  def add(o: SpanTotals): Unit = {
    wallS += o.wallS; jobs += o.jobs; tasks += o.tasks; taskS += o.taskS
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes; inputRecords += o.inputRecords
    o.stageTaskS.foreach { case (k, v) => stageTaskS.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
  }
}

/** Per-span task metrics, registered by the benchmark itself: each
  * span sets a Spark job group around a call into the library, and
  * this listener sums the task metrics of every job in that group.
  * Only the traced run registers it.
  */
final class SpanListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  val totals = mutable.Map.empty[String, SpanTotals]

  private def of(group: String): SpanTotals = totals.getOrElseUpdate(group, new SpanTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.foreach { g =>
      of(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = of(g)
      val runS = m.executorRunTime / 1e3
      t.tasks += 1
      t.taskS += runS
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputRecords += m.inputMetrics.recordsRead
      t.stageTaskS.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += runS
    }
  }
}

/** Spans around calls into the library. Untraced (no listener), a
  * span only times its body; traced, it also names the job group the
  * listener sums by.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val listener: Option[SpanListener] = if (traced) Some(new SpanListener) else None

  /** Attaches the listener for `body` only, so untraced operations
    * interleaved with traced ones run without it.
    */
  def on[A](body: => A): A = listener match {
    case None => body
    case Some(l) =>
      spark.sparkContext.addSparkListener(l)
      try body
      finally {
        org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
      }
  }

  /** Wall seconds of every completed span, by name, in call order. */
  val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def span[A](name: String)(body: => A): A = {
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val s = (System.nanoTime() - t0) / 1e9
      if (traced) sc.clearJobGroup()
      walls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
    }
  }

  /** Totals of every span whose name satisfies `p`, with wall time
    * taken from the spans' own clocks.
    */
  def totals(p: String => Boolean): SpanTotals = {
    val out = new SpanTotals
    listener.foreach(l => l.synchronized(l.totals.filter(kv => p(kv._1)).values.foreach(out.add)))
    out.wallS = walls.filter(kv => p(kv._1)).values.flatten.sum
    out
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
