package graft.snapshot

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import org.apache.spark.sql.functions._

class RetentionSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val events =
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").cache()

  private def buildTiers(): (String, String) = {
    val root = tmpDir("ret_src")
    val tiers = tmpDir("ret_tiers")
    SnapshotStore.append(root, events, tsCol = Some("ts"))
    ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(0L))
    (root, tiers)
  }

  private def partDays(tiers: String, tier: String): Set[String] = {
    val dir = Paths.get(tiers, s"tier_$tier")
    val s = Files.list(dir)
    try
      s.iterator()
        .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        .asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith("part_key="))
        .map(_.stripPrefix("part_key="))
        .toSet
    finally s.close()
  }

  private implicit class RichIter[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }

  test("archival retention: expired partitions MOVE to the cold root; hot survivors intact; collision raises") {
    val (_, tiers) = buildTiers()
    val cold = tmpDir("ret_cold")
    val asOf = LocalDate.parse(partDays(tiers, "1h").max)
    val before = partDays(tiers, "1h")
    val res = Retention
      .enforce(spark, tiers, Map("1h" -> 10), asOf, archiveRoot = Some(cold))
      .head
    val hot = partDays(tiers, "1h")
    val archived = partDays(cold, "1h")
    assert(hot == before.filter(d => !LocalDate.parse(d).isBefore(asOf.minusDays(9))))
    assert(archived == before -- hot) // every expired day is in the cold store, none lost
    assert(res.partsDropped == archived.size)
    // the cold copy reads back as exactly the expired slice
    val coldRows = spark.read
      .option("basePath", s"$cold/tier_1h")
      .parquet(s"$cold/tier_1h")
    assert(coldRows.count() > 0)
    assert(
      coldRows.filter(to_date(col("bucket_ts")) >= lit(java.sql.Date.valueOf(asOf.minusDays(9)))).count() == 0)
    // re-expiry of a recreated day collides loudly instead of double-counting
    val recreated = Paths.get(tiers, "tier_1h", s"part_key=${archived.head}")
    Files.createDirectories(recreated)
    val e = intercept[IllegalArgumentException](
      Retention.enforce(spark, tiers, Map("1h" -> 10), asOf, archiveRoot = Some(cold)))
    assert(e.getMessage.contains("archive collision"))
  }

  test("expired partition dirs drop; survivors and other tiers are untouched; reads stay consistent") {
    val (_, tiers) = buildTiers()
    val asOf = LocalDate.parse(partDays(tiers, "1m").max)
    val before1h = partDays(tiers, "1h")
    val before1d = partDays(tiers, "1d")
    val res = Retention
      .enforce(spark, tiers, Map("1m" -> 5, "1h" -> 10), asOf)
      .map(r => r.tier -> r)
      .toMap

    val keep1m = partDays(tiers, "1m")
    assert(keep1m == before1h.filter(d => !LocalDate.parse(d).isBefore(asOf.minusDays(4))))
    assert(partDays(tiers, "1h") == before1h.filter(d => !LocalDate.parse(d).isBefore(asOf.minusDays(9))))
    assert(partDays(tiers, "1d") == before1d) // no policy -> untouched
    assert(res("1m").partsDropped == before1h.size - keep1m.size)
    assert(res("1m").partsBefore == before1h.size)

    // the tier still reads, and equals a recompute over the kept range
    val kept = ContinuousRollup
      .readTier(spark, tiers, "1h")
      .select("event_type", "bucket_ts", "point_count")
    val expect = graft.rollup.Rollup
      .fromRaw(
        events.filter(to_date(col("ts")) >= lit(asOf.minusDays(9).toString)),
        Seq("event_type"),
        "ts",
        "1h",
        lit(0L)
      )
      .select("event_type", "bucket_ts", "point_count")
    assert(kept.exceptAll(expect).isEmpty && expect.exceptAll(kept).isEmpty)
  }

  test("idempotent: a second enforce with the same policy drops nothing") {
    val (_, tiers) = buildTiers()
    val asOf = LocalDate.parse(partDays(tiers, "1m").max)
    Retention.enforce(spark, tiers, Map("1m" -> 7), asOf)
    val again = Retention.enforce(spark, tiers, Map("1m" -> 7), asOf)
    assert(again.head.partsDropped == 0L)
  }

  test("update and retention rows share one _runlog: lineage and metrics read back, older int files too") {
    val (root, tiers) = buildTiers()
    val asOf = LocalDate.parse(partDays(tiers, "1m").max)
    Retention.enforce(spark, tiers, Map("1h" -> 3), asOf)
    // files as older writers left them: the update stored the dir
    // counters as int, retention the violation count as int. The old
    // retention file is named to sort first: a read without a schema
    // infers it from the first file by path.
    import spark.implicits._
    val cols = Seq(
      "kind", "tier", "snapshot_range", "rows_out", "partitions_touched", "applied_snapshot",
      "update_seconds", "wall_clock", "source_dirs_read", "source_dirs_total", "contract_violations")
    Seq(("metrics", "", "", 0L, 0L, 7L, 1.5, "old", 3, 30, 0L))
      .toDF(cols: _*)
      .write
      .mode("append")
      .parquet(s"$tiers/_runlog")
    val oldRetention = tmpDir("ret_old_runlog")
    Seq(("retention", "1d", "keep>=2024-01-01", 2L, 5L, -1L, 0.1, "old", 0L, 0L, 0))
      .toDF(cols: _*)
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(oldRetention)
    val part = Files.list(Paths.get(oldRetention))
    try
      part
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .forEach(p => Files.move(p, Paths.get(tiers, "_runlog", "part-0-old-retention.snappy.parquet")))
    finally part.close()

    val dirs = SnapshotStore.resolveDirs(root, 0L, 1L).size
    val metrics = ContinuousRollup
      .readMetrics(spark, tiers)
      .orderBy("applied_snapshot")
      .collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getInt(4), r.getLong(5)))
      .toSeq
    assert(metrics == Seq((1L, dirs, dirs, 0L), (7L, 3, 30, 0L)), s"metrics: $metrics")
    val lineage = ContinuousRollup.readLineage(spark, tiers).collect()
    assert(lineage.map(_.getString(0)).sorted.toSeq == graft.rollup.Tiers.All.sorted)
    assert(lineage.forall(r => r.getLong(4) == 1L && r.getLong(3) > 0L))
    val audit = RunLog
      .read(spark, tiers)
      .filter(col("kind") === "retention")
      .select("tier", "contract_violations")
      .as[(String, Long)]
      .collect()
      .toSet
    assert(audit == Set("1h" -> 0L, "1d" -> 0L))
  }

  test("audit rows land in _runlog; absent tier dirs and unknown tiers handled") {
    val (_, tiers) = buildTiers()
    val asOf = LocalDate.parse(partDays(tiers, "1m").max)
    Retention.enforce(spark, tiers, Map("1h" -> 3), asOf)
    val log = spark.read
      .parquet(s"$tiers/_runlog")
      .filter(col("kind") === "retention")
      .select("tier", "rows_out", "partitions_touched", "snapshot_range")
      .collect()
    assert(log.length == 1)
    assert(log(0).getString(0) == "1h")
    assert(log(0).getString(3) == s"keep>=${asOf.minusDays(2)}")

    // policy naming a valid tier with no directory: no-op result
    val r = Retention.enforce(spark, tmpDir("ret_empty"), Map("30d" -> 2), asOf)
    assert(r.head.partsBefore == 0L && r.head.partsDropped == 0L)

    intercept[IllegalArgumentException] {
      Retention.enforce(spark, tiers, Map("5m" -> 2), asOf)
    }
    intercept[IllegalArgumentException] {
      Retention.enforce(spark, tiers, Map("1h" -> 0), asOf)
    }
  }
}
