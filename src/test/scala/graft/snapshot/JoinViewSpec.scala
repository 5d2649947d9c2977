package graft.snapshot

import graft.SparkSpec
import java.nio.file.Files

class JoinViewSpec extends SparkSpec {
  import spark.implicits._

  private def roots(): (String, String, String) = {
    val base = Files.createTempDirectory("jv").toString
    (s"$base/a", s"$base/b", s"$base/v")
  }

  private def facts(ids: (Long, Long)*) = ids.map { case (i, u) => (i, u) }.toDF("id", "uid")
  private def dims(us: Long*) = us.map(u => (u, s"d$u")).toDF("uid", "tag")

  private def viewRows(vRoot: String): Seq[(Long, Long, String)] =
    JoinView.read(spark, vRoot).select("id", "uid", "tag").as[(Long, Long, String)].collect().sorted.toSeq

  test("delta decomposition: both sides advancing lands exactly the full join") {
    val (a, b, v) = roots()
    SnapshotStore.append(a, facts(1L -> 10L, 2L -> 20L))
    SnapshotStore.append(b, dims(10L))
    assert(JoinView.update(spark, v, a, b, Seq("uid")).contains(1L))
    assert(viewRows(v) == Seq((1L, 10L, "d10")))
    // A gains a fact for an OLD dim and a NEW dim; B gains the new dim
    SnapshotStore.append(a, facts(3L -> 10L, 4L -> 20L))
    SnapshotStore.append(b, dims(20L))
    assert(JoinView.update(spark, v, a, b, Seq("uid")).contains(2L))
    // old fact x new dim (2,20), new fact x old dim (3,10), new x new (4,20)
    assert(viewRows(v) == Seq((1L, 10L, "d10"), (2L, 20L, "d20"), (3L, 10L, "d10"), (4L, 20L, "d20")))
  }

  test("idempotence: already-current and crash-retry updates are no-ops") {
    val (a, b, v) = roots()
    SnapshotStore.append(a, facts(1L -> 10L))
    SnapshotStore.append(b, dims(10L))
    assert(JoinView.update(spark, v, a, b, Seq("uid")).isDefined)
    assert(JoinView.update(spark, v, a, b, Seq("uid")).isEmpty) // nothing new
    assert(JoinView.appliedSources(v) == (1L, 1L))
    assert(viewRows(v).size == 1)
  }

  test("empty side: watermark holds back so the first real update is exact") {
    val (a, b, v) = roots()
    SnapshotStore.append(a, facts(1L -> 10L))
    assert(JoinView.update(spark, v, a, b, Seq("uid")).isEmpty) // B empty
    assert(JoinView.appliedSources(v) == (0L, 0L))
    SnapshotStore.append(b, dims(10L))
    assert(JoinView.update(spark, v, a, b, Seq("uid")).isDefined)
    assert(viewRows(v) == Seq((1L, 10L, "d10")))
  }

  test("B-only advance joins only old A against the dim delta") {
    val (a, b, v) = roots()
    SnapshotStore.append(a, facts(1L -> 10L, 2L -> 20L))
    SnapshotStore.append(b, dims(10L))
    JoinView.update(spark, v, a, b, Seq("uid"))
    SnapshotStore.append(b, dims(20L))
    assert(JoinView.update(spark, v, a, b, Seq("uid")).isDefined)
    assert(viewRows(v) == Seq((1L, 10L, "d10"), (2L, 20L, "d20")))
    assert(JoinView.appliedSources(v) == (1L, 2L))
  }

  test("the view manifest versions the watermark encoding") {
    val (a, b, v) = roots()
    SnapshotStore.append(a, facts(1L -> 10L))
    SnapshotStore.append(b, dims(10L))
    assert(JoinView.update(spark, v, a, b, Seq("uid")).isDefined)
    val manifest = new String(Files.readAllBytes(java.nio.file.Paths.get(v, "_joinview.json")), "UTF-8")
    assert(manifest == """{"watermarkShiftBits":31}""")
    assert(JoinView.appliedSources(v) == (1L, 1L))
  }

  test("an unversioned view from the 2^20 encoding fails loudly instead of re-joining all of A") {
    val (a, b, v) = roots()
    SnapshotStore.append(a, facts(1L -> 10L))
    SnapshotStore.append(b, dims(10L))
    // a view written by the older build: (aId, bId) = (1, 1) encoded
    // as 1 * 2^20 + 1, with no view manifest
    SnapshotStore.append(v, facts(1L -> 10L).join(dims(10L), "uid"), streamBatchId = Some((1L << 20) + 1L))
    val e = intercept[IllegalStateException](JoinView.appliedSources(v))
    assert(e.getMessage.contains("2^20"), e.getMessage)
    SnapshotStore.append(a, facts(2L -> 10L))
    intercept[IllegalStateException](JoinView.update(spark, v, a, b, Seq("uid")))
    assert(SnapshotStore.currentSnapshotId(v) == 1L)
    assert(viewRows(v) == Seq((1L, 10L, "d10")))
  }
}
