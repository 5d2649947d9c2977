package graft

import graft.pages.{PageGen, PagePipeline}
import graft.snapshot.{ContinuousRollup, SnapshotStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** spark-submit entry point (the reference's `entrypoint.py` driver,
  * SURVEY.md §3.2, re-expressed): one job per invocation, configured by
  * simple `key=value` args, appending a row to a metrics table per run.
  *
  *   spark-submit --class graft.Main <jar> job=<name> [key=value...]
  *
  * Jobs:
  *   ingest     pages=N domains=D root=<snapshot table root>
  *              — synthesize+corrupt N pages, append as a new snapshot
  *   update     root=<source root> tiers=<tier root>
  *              — continuous rollup: fold unapplied snapshots into all
  *                retention tiers (resumable: reads the `_applied`
  *                marker, idempotent partition recompute)
  *   compact    root=<source root> [upTo=<snapshot id>] [tiers=<root>,..]
  *              — consolidate history files per day (small-files
  *                maintenance). Pass the consumers' tier roots: the
  *                rebase refuses to pass any `_applied` marker (and
  *                the default upTo is capped at the slowest consumer)
  *   repair     root=<source root> out=<parquet dir>
  *              — repair the full table at the current snapshot
  *
  * Measurement lives elsewhere: `graft.Bench` (headline and
  * subcommands) and the repo benchmark `perfbench/`, whose
  * `continuous` workload times this ingest -> update path.
  *
  * The session comes from the spark-submit conf (no master hardcoded);
  * local runs fall back to local[*]. Like every graft session it
  * carries `Sessions.FileSystemConf` (the fork-free `file:` filesystem).
  */
object Main {

  /** `key=value` arguments as a map: the argument syntax of every graft main. */
  def keyValues(args: Seq[String]): Map[String, String] =
    args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap

  def main(args: Array[String]): Unit = {
    val kv = keyValues(args)
    val job = kv.getOrElse("job", sys.error("missing job=<ingest|update|compact|repair>"))

    val hadSession = SparkSession.getActiveSession.isDefined
    val spark = SparkSession
      .builder()
      .appName(s"graft-$job")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.spark.Sessions.FileSystemConf)
      .getOrCreate()

    val t0 = System.nanoTime()
    val metrics: Map[String, String] = job match {
      case "ingest" =>
        val n = kv("pages").toLong
        val root = kv("root")
        val dirty = PageGen.corrupt(PageGen.clean(spark, n, kv.getOrElse("domains", "50").toInt))
        val id = SnapshotStore.append(root, dirty, tsCol = Some("warc_ts"))
        Map("snapshot_id" -> id.toString, "pages" -> n.toString)
      case "update" =>
        val root = kv("root")
        val tiersRoot = kv("tiers")
        val from = ContinuousRollup.lastApplied(tiersRoot)
        val to = SnapshotStore.currentSnapshotId(root)
        val applied =
          if (to <= from) from
          else {
            // roll the lang-count model forward from the new batch only
            // (sum-mergeable counts == full-table counts), so the pruned
            // partition recompute still repairs with full-table context
            val model = graft.pages.PageModel.update(spark, root, tiersRoot, from, to)
            ContinuousRollup.update(
              spark,
              root,
              tiersRoot,
              Seq("domain", "lang"),
              "warc_ts",
              length(col("html")).cast("long"),
              prepare =
                df => PagePipeline.repairWithCounts(df, model).withColumn("domain", PageGen.domainOf("url"))
            )
          }
        Map("applied_snapshot" -> applied.toString)
      case "compact" =>
        val root = kv("root")
        // consumers' tier roots (comma-separated): compaction never
        // rebases past their applied markers — the default upTo is
        // capped at the slowest consumer, an explicit upTo beyond a
        // marker is refused inside `compact`
        val consumers = kv.get("tiers").map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
        // never-updated consumers (marker 0) don't cap the default:
        // they re-fold from the compacted base safely
        val markerCap =
          consumers.map(ContinuousRollup.lastApplied).filter(_ > 0L).minOption.getOrElse(Long.MaxValue)
        val upTo = kv
          .get("upTo")
          .map(_.toLong)
          .getOrElse(math.min(SnapshotStore.currentSnapshotId(root), markerCap))
        SnapshotStore.compact(spark, root, upTo, consumers)
        Map("compacted_through" -> upTo.toString)
      case "repair" =>
        val out = kv("out")
        PagePipeline
          .repair(SnapshotStore.read(spark, kv("root")))
          .write
          .mode("overwrite")
          .parquet(out)
        Map("out" -> out)
      case other => sys.error(s"unknown job '$other'")
    }
    val sec = (System.nanoTime() - t0) / 1e9

    kv.get("metrics").foreach { metricsPath =>
      import spark.implicits._
      Seq((job, f"$sec%.3f", metrics.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(";")))
        .toDF("job", "seconds", "detail")
        .write
        .mode("append")
        .parquet(metricsPath)
    }
    println(s"""{"job":"$job","seconds":$sec,${metrics.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")}}""")
    if (!hadSession) spark.stop() // leave an externally owned session (tests) alive
  }
}
