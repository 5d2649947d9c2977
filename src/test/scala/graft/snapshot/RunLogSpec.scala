package graft.snapshot

import graft.SparkSpec
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import scala.jdk.CollectionConverters._

/** The run log reads back without a warning: a read of the `_`-prefixed
  * `_runlog` directory by name trips Spark's hidden-path check, and a
  * single glob path trips `FileStreamSink`'s metadata probe.
  */
class RunLogSpec extends SparkSpec {

  /** Runs `body` and returns the WARN-or-worse messages that Spark's
    * file-source resolution (`DataSource`, `FileStreamSink`) logged
    * meanwhile.
    */
  private def readWarningsDuring[A](body: => A): (A, Seq[String]) = {
    val loggers = Seq(
      "org.apache.spark.sql.execution.datasources.DataSource",
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink"
    ).map(LogManager.getLogger(_).asInstanceOf[Logger])
    val seen = new ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("run-log-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    loggers.foreach(_.addAppender(appender))
    try {
      val a = body
      (a, seen.asScala.toSeq)
    } finally {
      loggers.foreach(_.removeAppender(appender))
      appender.stop()
    }
  }

  test("readLineage and readMetrics log no warning and return every row") {
    val tiers = Files.createTempDirectory("runlog").toString
    def batch(snap: Long) = Seq(
      RunLogRow("lineage", "1m", s"(${snap - 1},$snap]", rows_out = 10L * snap, partitions_touched = 2L,
        applied_snapshot = snap),
      RunLogRow("metrics", applied_snapshot = snap, update_seconds = 0.5, wall_clock = s"t$snap",
        source_dirs_read = snap, source_dirs_total = 4L)
    )
    RunLog.append(spark, tiers, batch(1L))
    RunLog.append(spark, tiers, batch(2L))

    val ((lineage, metrics), warnings) = readWarningsDuring {
      (
        ContinuousRollup.readLineage(spark, tiers).collect().toSeq,
        ContinuousRollup.readMetrics(spark, tiers).collect().toSeq
      )
    }
    assert(warnings.isEmpty, s"the run-log reads warned: $warnings")
    val l = lineage.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(l.sortBy(_._5) == Seq(("1m", "(0,1]", 10L, 2L, 1L), ("1m", "(1,2]", 20L, 2L, 2L)))
    val m = metrics.map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getInt(3), r.getInt(4), r.getLong(5)))
    assert(m.sortBy(_._1) == Seq((1L, 0.5, "t1", 1, 4, 0L), (2L, 0.5, "t2", 2, 4, 0L)))
  }
}
