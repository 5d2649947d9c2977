package graft.snapshot

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Retention enforcement over the tier store — the "retention" leg of
  * the rollup/downsample/retention engine: each tier keeps its last
  * `keepDays` days of partitions (fine tiers short, coarse tiers long —
  * the classic telemetry layout: raw minutes for a week, hours for a
  * quarter, days/months forever), and everything older is DROPPED AT
  * THE PARTITION DIRECTORY LEVEL.
  *
  * This is deliberately a metadata-only operation: tier data is laid
  * out as `tier_<t>/part_key=<day>/` (the day of the bucket; the
  * window-start day for 30d), so expiry never reads, rewrites, or
  * shuffles a row — exactly how a table format drops expired
  * partitions at 100 TB. Idempotent (a second enforce with the same
  * policy deletes nothing), auditable (one `RunLogRow` per enforced
  * tier, appended to the `_runlog` table the update lineage and
  * metrics rows ride), and safe to interleave with updates:
  * `ContinuousRollup.update` recreates a dropped day only if new raw
  * rows for that day arrive, which the policy owner handles by
  * aligning retention with the source's late-data horizon.
  *
  * The retention boundary is date-based, not count-based: `keepDays =
  * k` retains partition days `>= asOf - (k-1)` (the `asOf` day plus
  * the k-1 before it), regardless of which days actually exist.
  */
object Retention {

  /** One enforced tier's outcome (partition counts, not rows — expiry
    * never looks inside a partition).
    */
  final case class TierRetention(tier: String, partsBefore: Long, partsDropped: Long, cutoff: LocalDate)

  private val PartRe = "part_key=([0-9]{4}-[0-9]{2}-[0-9]{2})".r

  /** Enforce `keepDays` per tier as of `asOf`. Tiers without a policy
    * entry are untouched; policy entries for absent tier dirs are
    * no-ops (partsBefore 0). Returns per-tier outcomes in policy-key
    * sorted order and appends one `_runlog` row per enforced tier.
    */
  def enforce(
      spark: SparkSession,
      tiersRoot: String,
      keepDays: Map[String, Int],
      asOf: LocalDate,
      archiveRoot: Option[String] = None
  ): Seq[TierRetention] = {
    keepDays.foreach { case (tier, k) =>
      require(graft.rollup.Tiers.All.contains(tier), s"unknown tier '$tier'")
      require(k >= 1, s"keepDays for tier $tier must be >= 1, got $k")
    }
    val t0 = System.nanoTime()
    val results = keepDays.toSeq.sortBy(_._1).map { case (tier, k) =>
      val cutoff = asOf.minusDays(k.toLong - 1)
      val tierDir = Paths.get(tiersRoot, s"tier_$tier")
      if (!Files.exists(tierDir)) TierRetention(tier, 0L, 0L, cutoff)
      else {
        val parts = {
          val stream = Files.list(tierDir)
          try
            stream
              .iterator()
              .asScala
              .flatMap { p =>
                p.getFileName.toString match {
                  case PartRe(day) => Some(p -> LocalDate.parse(day))
                  case _           => None // _SUCCESS etc.
                }
              }
              .toVector
          finally stream.close()
        }
        val expired = parts.filter(_._2.isBefore(cutoff))
        expired.foreach { case (p, _) =>
          archiveRoot match {
            case None => SnapshotStore.deleteRecursively(p.toString)
            case Some(ar) =>
              // tiered storage: the expired partition MOVES to the cold
              // root — an atomic directory rename, still metadata-only
              // (same-filesystem here; the object-store analog is a
              // manifest rewrite pointing at cold storage, equally
              // row-free). A pre-existing cold partition for the same
              // day means late data recreated and re-expired it —
              // merging histories silently would double-count, so raise.
              val target = Paths.get(ar, s"tier_$tier", p.getFileName.toString)
              Files.createDirectories(target.getParent)
              require(
                !Files.exists(target),
                s"archive collision: $target already holds an earlier expiry of this partition " +
                  "(late data recreated the day after archival) — reconcile the cold copy first"
              )
              Files.move(p, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
        }
        TierRetention(tier, parts.size.toLong, expired.size.toLong, cutoff)
      }
    }
    // audit rows ride the same _runlog table as update lineage/metrics
    val kind = if (archiveRoot.isDefined) "retention_archive" else "retention"
    val seconds = (System.nanoTime() - t0) / 1e9
    val now = java.time.Instant.now.toString
    RunLog.append(
      spark,
      tiersRoot,
      results.map(r =>
        RunLogRow(kind, r.tier, s"keep>=${r.cutoff}", r.partsDropped, r.partsBefore, -1L, seconds, now))
    )
    results
  }
}
