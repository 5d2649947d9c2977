package graft.snapshot

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of a materialized JOIN view — the
  * lakehouse complement of [[ContinuousRollup]] (which maintains
  * aggregates): the view `V = A ⋈ B` (inner equi-join) is kept as its
  * own snapshot store, advanced per update by the classic delta-join
  * decomposition
  *
  *   ΔV = ΔA ⋈ B_new  ∪  A_old ⋈ ΔB
  *
  * (the ΔA ⋈ ΔB cross term is inside the first factor because
  * `B_new = B_old + ΔB`). Appends-only sources: with A and B
  * append-only snapshot stores, ΔV is itself append-only, so the view
  * advances by pure snapshot appends — no merge, no rewrite, and every
  * view snapshot is a consistent join of a (aId, bId) source pair.
  *
  * Scale shape: each update reads ONLY the delta snapshots of each
  * side (metadata-pruned, usually a day's worth) joined against the
  * other side; when one side is dimension-sized the join broadcasts.
  * At 100 TB this is the difference between re-joining the full fact
  * table per batch and joining just the batch.
  *
  * Exactly-once: the applied (aId, bId) watermark pair is encoded into
  * the view append's `streamBatchId` (aId * 2^31 + bId — monotone
  * because source snapshot ids only grow), so a crash-retry of the
  * same update is a no-op, the same idempotence contract as
  * [[graft.streaming.SnapshotSink]]. Lifetime cap of the encoding:
  * each source may accumulate at most 2^31 (~2.1 billion) snapshots
  * over the VIEW'S LIFE — beyond minutely micro-batches for four
  * millennia; `mark` fails loudly (never wraps) if a store ever gets
  * there. The encoding is versioned in the view manifest
  * (`_joinview.json`, `watermarkShiftBits`), written before the first
  * view append. A view with watermarks but no manifest was written by
  * an older build with the 2^20 encoding; reading it fails instead of
  * decoding its watermark as (0, m) and re-joining all of A.
  */
object JoinView {

  private val ShiftBits = 31
  private val Shift = 1L << ShiftBits

  private def mark(aId: Long, bId: Long): Long = {
    require(
      bId < Shift && aId < Shift,
      s"source snapshot ids ($aId, $bId) exceed the 2^31 watermark encoding — " +
        "this view has outlived its id budget; rebuild it against a compacted store"
    )
    aId * Shift + bId
  }

  private def viewManifest(viewRoot: String) = Paths.get(viewRoot, "_joinview.json")

  /** Last applied (aId, bId) source watermark of the view. */
  def appliedSources(viewRoot: String): (Long, Long) = {
    val m = SnapshotStore.lastStreamBatchId(viewRoot)
    if (m < 0) return (0L, 0L)
    val p = viewManifest(viewRoot)
    if (!Files.exists(p))
      throw new IllegalStateException(
        s"JoinView $viewRoot has watermarks but no view manifest: an older build encoded them as " +
          "aId * 2^20 + bId, which this build cannot decode; rebuild the view from empty"
      )
    val bits = new ObjectMapper().readTree(Files.readAllBytes(p)).path("watermarkShiftBits").asInt(-1)
    require(bits == ShiftBits, s"JoinView $viewRoot encodes watermarks as 2^$bits; this build reads 2^$ShiftBits")
    (m / Shift, m % Shift)
  }

  /** Advance the view to the sources' current heads; returns the new
    * view snapshot id, or None when already current (or re-delivered).
    */
  def update(
      spark: SparkSession,
      viewRoot: String,
      aRoot: String,
      bRoot: String,
      joinKeys: Seq[String],
      broadcastB: Boolean = true
  ): Option[Long] = {
    val (aOld, bOld) = appliedSources(viewRoot)
    val aNew = SnapshotStore.currentSnapshotId(aRoot)
    val bNew = SnapshotStore.currentSnapshotId(bRoot)
    // an empty side means an empty inner join: nothing to materialize
    // yet, and holding the watermark back keeps the first real update
    // exact (it will join from snapshot 0)
    if ((aNew == aOld && bNew == bOld) || aNew == 0L || bNew == 0L) return None

    val bc: DataFrame => DataFrame = if (broadcastB) broadcast else identity
    val parts = Seq.newBuilder[DataFrame]
    if (aNew > aOld)
      parts += SnapshotStore
        .readRange(spark, aRoot, aOld, aNew)
        .join(bc(SnapshotStore.readRange(spark, bRoot, 0L, bNew)), joinKeys)
    if (bNew > bOld && aOld > 0L)
      parts += SnapshotStore
        .readRange(spark, aRoot, 0L, aOld)
        .join(bc(SnapshotStore.readRange(spark, bRoot, bOld, bNew)), joinKeys)
    val delta = parts.result().reduce(_.unionByName(_))
    if (!Files.exists(viewManifest(viewRoot)))
      SnapshotStore.atomicWrite(viewManifest(viewRoot), s"""{"watermarkShiftBits":$ShiftBits}""")
    Some(SnapshotStore.append(viewRoot, delta, streamBatchId = Some(mark(aNew, bNew))))
  }

  def read(spark: SparkSession, viewRoot: String): DataFrame =
    SnapshotStore.read(spark, viewRoot)
}
