package graft.snapshot

import graft.SparkSpec
import java.nio.file.attribute.FileTime
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Table maintenance: orphan-file vacuum (age-gated, never touches
  * referenced or fresh dirs, nor anything outside `data/`).
  */
class MaintenanceSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val events =
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").cache()

  private def ageDir(path: String): Unit =
    Files.setLastModifiedTime(Paths.get(path), FileTime.fromMillis(1L))

  test("vacuum removes only aged orphan dirs; referenced and fresh dirs survive; reads unchanged") {
    val root = tmpDir("vac")
    SnapshotStore.append(root, events.filter(col("event_id") % 2 === 0))
    SnapshotStore.append(root, events.filter(col("event_id") % 2 === 1))

    // a crashed append: fully written data, no manifest
    val orphanOld = s"$root/data/s99"
    val orphanFresh = s"$root/data/s98"
    events.limit(10).write.parquet(orphanOld)
    events.limit(10).write.parquet(orphanFresh)
    ageDir(orphanOld)
    // age the REFERENCED dirs too — age alone must never doom a dir
    ageDir(s"$root/data/s1")
    ageDir(s"$root/data/s2")

    val removed = SnapshotStore.vacuum(root)
    assert(removed == Seq(orphanOld))
    assert(!Files.exists(Paths.get(orphanOld)))
    assert(Files.exists(Paths.get(orphanFresh))) // may be a live writer
    assert(SnapshotStore.read(spark, root).count() == events.count())

    // second pass with the threshold at zero collects the fresh one
    ageDir(orphanFresh)
    assert(SnapshotStore.vacuum(root, olderThanMillis = 0L) == Seq(orphanFresh))
    assert(SnapshotStore.vacuum(root).isEmpty) // idempotent when clean
  }

  test("vacuum never touches an unpublished WAP branch (staged data lives outside data/)") {
    val root = tmpDir("vacwap")
    SnapshotStore.append(root, events.filter(col("event_id") % 2 === 0))
    // older builds staged write-audit-publish batches under
    // root/_wap/<branch>/k<k>, outside data/ and named by no manifest
    val staged = s"$root/_wap/pending/k0"
    events.filter(col("event_id") % 2 === 1).write.parquet(staged)
    ageDir(staged)
    ageDir(s"$root/_wap/pending")
    ageDir(s"$root/_wap")
    assert(SnapshotStore.vacuum(root, olderThanMillis = 0L).isEmpty)
    assert(spark.read.parquet(staged).count() == events.filter(col("event_id") % 2 === 1).count())
    assert(SnapshotStore.read(spark, root).count() == events.filter(col("event_id") % 2 === 0).count())
  }
}
