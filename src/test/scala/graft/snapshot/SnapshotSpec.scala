package graft.snapshot

import graft.SparkSpec
import graft.rollup.Rollup
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iceberg-lite snapshot store + continuous aggregate tests:
  * incremental tier updates over two appends must equal a one-pass
  * recompute; updates are resumable/idempotent after a simulated crash
  * (lost `_applied` marker); late data re-touches old partitions.
  */
class SnapshotSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val events =
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").cache()

  private def fullTier(df: DataFrame, tier: String): DataFrame =
    Rollup.fromRaw(df, Seq("event_type"), "ts", tier, lit(1L))

  test("append/read roundtrip with snapshot ids and incremental range reads") {
    val root = tmpDir("snap")
    val b1 = events.filter(col("ts") < "2024-01-15")
    val b2 = events.filter(col("ts") >= "2024-01-15")
    val id1 = SnapshotStore.append(root, b1)
    val id2 = SnapshotStore.append(root, b2)
    assert(id1 == 1L && id2 == 2L && SnapshotStore.currentSnapshotId(root) == 2L)
    assert(SnapshotStore.read(spark, root).count() == events.count())
    assert(SnapshotStore.readRange(spark, root, 1L, 2L).count() == b2.count())
  }

  test("schema evolution: added columns read back null for old snapshots, type changes raise") {
    val root = tmpDir("snapevo")
    val b1 = events.filter(col("event_id") < 100).select("event_id", "ts", "event_type")
    val b2 = events
      .filter(col("event_id") >= 100 && col("event_id") < 200)
      .select("event_id", "ts", "event_type", "value")
    SnapshotStore.append(root, b1, tsCol = Some("ts"))
    SnapshotStore.append(root, b2, tsCol = Some("ts"))
    val got = SnapshotStore.read(spark, root)
    // union schema in first-seen order, from manifest metadata alone
    assert(got.columns.toSeq == Seq("event_id", "ts", "event_type", "value"))
    assert(got.count() == b1.count() + b2.count())
    assert(got.filter(col("value").isNull).count() == b1.count())
    assert(got.filter(col("value").isNotNull).count() == b2.count())
    // a range read that predates the evolution serves the old schema
    assert(SnapshotStore.readRange(spark, root, 0L, 1L).columns.toSeq ==
      Seq("event_id", "ts", "event_type"))
    // ADD-only: a type change is a loud error, never a silent coercion
    val b3 = events
      .filter(col("event_id") >= 200 && col("event_id") < 210)
      .select(col("event_id"), col("ts"), col("event_type"), col("value").cast("string"))
    SnapshotStore.append(root, b3, tsCol = Some("ts"))
    val e = intercept[IllegalArgumentException](SnapshotStore.read(spark, root).collect())
    assert(e.getMessage.contains("ADDING columns only"))
  }

  test("optimistic concurrency: a racing append fails its manifest CAS instead of overwriting") {
    val root = tmpDir("snapcas")
    val ev = events.select("event_id", "event_type").limit(10)
    SnapshotStore.append(root, ev)
    // another writer commits snapshot 2 between our id computation and
    // our manifest move: simulate by pre-placing its manifest
    Files.write(Paths.get(root, "_snapshots", "v2.json"), "{\"snapshotId\":2}".getBytes)
    intercept[java.util.ConcurrentModificationException](SnapshotStore.append(root, ev))
    // CURRENT still points at the winner's lineage; no manifest was replaced
    assert(new String(Files.readAllBytes(Paths.get(root, "_snapshots", "v2.json"))).contains("\"snapshotId\":2}"))
  }

  test("merge-on-read deletes: ordering semantics, loud incremental/dir guards, compaction materializes") {
    val root = tmpDir("snapdel")
    val ev = events.select("event_id", "user_id", "ts", "event_type")
    SnapshotStore.append(root, ev.filter(col("event_id") < 100), tsCol = Some("ts")) // s1
    SnapshotStore.appendDeletes(root, ev.filter(col("event_id") < 10).select("event_id")) // s2
    SnapshotStore.append(root, ev.filter(col("event_id") < 5), tsCol = Some("ts")) // s3: re-insert subset
    val got = SnapshotStore.read(spark, root)
    // ids 5-9 deleted; 0-4 re-inserted AFTER the delete and survive
    assert(got.count() == 95)
    assert(got.filter(col("event_id") >= 5 && col("event_id") < 10).count() == 0)
    assert(got.filter(col("event_id") < 5).count() == 5)
    // a diff read over pending deletes cannot express removal — loud
    val e1 = intercept[IllegalArgumentException](SnapshotStore.readRange(spark, root, 1L, 3L))
    assert(e1.getMessage.contains("merge-on-read deletes"))
    // dir-level consumers (tier updates) must not fold deleted rows — loud
    val e2 = intercept[IllegalArgumentException](SnapshotStore.resolveDirs(root, 0L, 3L))
    assert(e2.getMessage.contains("merge-on-read deletes"))
    // compaction materializes: same rows, delete manifests gone, dir reads legal again
    SnapshotStore.compact(spark, root, 3L)
    assert(SnapshotStore.read(spark, root).count() == 95)
    assert(SnapshotStore.resolveDirs(root, 0L, 3L).nonEmpty)
  }

  test("incremental tier update over two snapshots == one-pass recompute") {
    val root = tmpDir("snap_src")
    val tiers = tmpDir("snap_tiers")
    // overlapping days across the two batches -> second update
    // re-touches partitions written by the first (late data path)
    val b1 = events.filter(col("event_id") % 2 === 0)
    val b2 = events.filter(col("event_id") % 2 === 1)

    SnapshotStore.append(root, b1)
    val a1 = ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L))
    assert(a1 == 1L)

    SnapshotStore.append(root, b2)
    val a2 = ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L))
    assert(a2 == 2L)

    for (t <- Seq("1m", "1h", "1d", "30d")) {
      val got = ContinuousRollup.readTier(spark, tiers, t)
      val want = fullTier(events, t)
      assert(got.except(want).isEmpty && want.except(got).isEmpty, s"tier $t mismatch")
    }

    // lineage + metrics recorded
    val lineage = ContinuousRollup.readLineage(spark, tiers)
    assert(lineage.count() == 8) // 4 tiers x 2 updates
    assert(ContinuousRollup.readMetrics(spark, tiers).count() == 2)
  }

  test("incremental update with a lang histogram == one-shot, all 4 tiers (hist through the cascade)") {
    // the 1h/1d tiers re-rollup the cached finer output IN MEMORY —
    // this pins that path through the two-branch lang_hist aggregation
    // (measures + histogram join), cross-checked against fromRaw
    val root = tmpDir("snap_hist_src")
    val tiers = tmpDir("snap_hist_tiers")
    val pages = graft.pages.PageGen.clean(spark, 4000).cache()
    val keyed = pages.withColumn("domain", graft.pages.PageGen.domainOf("url"))
    val b1 = pages.filter(xxhash64(col("url")) % 2 === 0)
    val b2 = pages.filter(xxhash64(col("url")) % 2 =!= 0)
    def mapFree(df: DataFrame): DataFrame =
      df.withColumn("lang_hist", array_sort(map_entries(col("lang_hist"))))

    SnapshotStore.append(root, b1, tsCol = Some("warc_ts"))
    ContinuousRollup.update(
      spark, root, tiers, Seq("domain"), "warc_ts",
      length(col("html")).cast("long"), langCol = Some("lang"),
      prepare = df => df.withColumn("domain", graft.pages.PageGen.domainOf("url"))
    )
    SnapshotStore.append(root, b2, tsCol = Some("warc_ts"))
    ContinuousRollup.update(
      spark, root, tiers, Seq("domain"), "warc_ts",
      length(col("html")).cast("long"), langCol = Some("lang"),
      prepare = df => df.withColumn("domain", graft.pages.PageGen.domainOf("url"))
    )
    for (t <- Seq("1m", "1h", "1d", "30d")) {
      val got = mapFree(ContinuousRollup.readTier(spark, tiers, t))
      val want = mapFree(
        Rollup.fromRaw(keyed, Seq("domain"), "warc_ts", t, length(col("html")).cast("long"), langCol = Some("lang"))
      )
      assert(got.except(want).isEmpty && want.except(got).isEmpty, s"hist tier $t mismatch")
    }
    pages.unpersist()
  }

  test("day-partitioned appends prune incremental update I/O to touched partitions") {
    val root = tmpDir("snap_src3")
    val tiers = tmpDir("snap_tiers3")
    // batch 1: the whole month; batch 2: one single day
    val b1 = events.filter(to_date(col("ts")) =!= "2024-01-28")
    val b2 = events.filter(to_date(col("ts")) === "2024-01-28")
    assert(b2.count() > 0)

    SnapshotStore.append(root, b1, tsCol = Some("ts"))
    ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L))
    SnapshotStore.append(root, b2, tsCol = Some("ts"))
    ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L))

    // the second update reads EXACTLY the touched day's raw files —
    // no 30d-window fan-out: the 30d tier re-rolls up from the 1d
    // tier, never from raw days outside the batch. Snapshot 1 has no
    // part_day=2024-01-28 dir (b1 excluded it), so exactly ONE raw
    // dir is opened out of 30.
    val m = ContinuousRollup
      .readMetrics(spark, tiers)
      .filter(col("applied_snapshot") === 2)
      .select("source_dirs_read", "source_dirs_total")
      .head()
    assert(m.getInt(0) == 1, s"expected exactly the touched day, read ${m.getInt(0)}/${m.getInt(1)} dirs")
    assert(m.getInt(1) == 30, s"expected 30 total dirs, got ${m.getInt(1)}")
    // exact file listing: the update's needed set is just {01-28}
    val dirs = SnapshotStore.resolveDirs(root, 0L, 2L, Some(Set("2024-01-28")), ContinuousRollup.defaultSuspectDay)
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val day = d.substring(d.lastIndexOf("part_day=") + "part_day=".length)
      assert(day == "2024-01-28", s"unexpected dir read: $d")
    }

    // and the tiers must still equal the one-shot recompute exactly
    for (t <- Seq("1m", "1h", "1d", "30d")) {
      val got = ContinuousRollup.readTier(spark, tiers, t)
      val want = fullTier(events, t)
      assert(got.except(want).isEmpty && want.except(got).isEmpty, s"tier $t mismatch")
    }
  }

  test("late data: a month-old batch re-touches only old partitions") {
    val root = tmpDir("snap_src4")
    val tiers = tmpDir("snap_tiers4")
    // batch 1: the recent 30d window (days 01-18..01-30); batch 2
    // arrives later carrying only OLD timestamps (days 01-01..01-17,
    // all inside the 30d window 2023-12-19..2024-01-17)
    val b1 = events.filter(to_date(col("ts")) >= "2024-01-18")
    val late = events.filter(to_date(col("ts")) < "2024-01-18")
    assert(b1.count() > 0 && late.count() > 0)

    SnapshotStore.append(root, b1, tsCol = Some("ts"))
    ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L))
    SnapshotStore.append(root, late, tsCol = Some("ts"))
    ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L))

    // the late update recomputed exactly the 17 old day-partitions (1d
    // tier) and exactly 1 old 30d window; none of batch 1's days
    val lineage = ContinuousRollup
      .readLineage(spark, tiers)
      .filter(col("applied_snapshot") === 2)
      .select("tier", "partitions_touched")
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(lineage("1d") == 17L, s"late 1d partitions: ${lineage("1d")}")
    assert(lineage("30d") == 1L, s"late 30d partitions: ${lineage("30d")}")
    // file pruning: the late update never opened batch 1's files
    val m = ContinuousRollup
      .readMetrics(spark, tiers)
      .filter(col("applied_snapshot") === 2)
      .head()
    assert(m.getAs[Int]("source_dirs_read") == 17 && m.getAs[Int]("source_dirs_total") == 30)

    for (t <- Seq("1m", "1h", "1d", "30d")) {
      val got = ContinuousRollup.readTier(spark, tiers, t)
      val want = fullTier(events, t)
      assert(got.except(want).isEmpty && want.except(got).isEmpty, s"late tier $t mismatch")
    }
  }

  test("a prepare that moves rows off their stored day fails loudly (exact guard)") {
    val root = tmpDir("snap_contract_a")
    val tiers = tmpDir("snap_contract_a_tiers")
    SnapshotStore.append(root, events, tsCol = Some("ts"))
    // withColumn-style prepare keeps unknown columns -> the stored-day
    // column survives and the per-row exact guard fires
    val shift: DataFrame => DataFrame =
      df => df.withColumn("ts", col("ts") + expr("interval 1 day"))
    val before = cachedPlans
    val e = intercept[IllegalStateException] {
      ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L), prepare = shift)
    }
    assert(e.getMessage.contains("prepare-contract violation"))
    // nothing was applied or written, and the 1m output is not left cached
    assert(ContinuousRollup.lastApplied(tiers) == 0L)
    assert(!Files.exists(Paths.get(tiers, "tier_1h")))
    assert(cachedPlans <= before, s"cache manager grew from $before to $cachedPlans entries")
  }

  test("a tier write that fails after 1m is written still releases the cached 1m output") {
    val root = tmpDir("snap_leak")
    val tiers = tmpDir("snap_leak_tiers")
    SnapshotStore.append(root, events, tsCol = Some("ts"))
    // a regular file where the 1h tier's directory goes: the 1m write
    // succeeds, the 1h write cannot create its partition dirs
    Files.write(Paths.get(tiers, "tier_1h"), Array[Byte](1))
    val before = cachedPlans
    intercept[Exception] {
      ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L))
    }
    assert(Files.isDirectory(Paths.get(tiers, "tier_1m")), "the 1m tier should be written before 1h fails")
    assert(ContinuousRollup.lastApplied(tiers) == 0L)
    assert(cachedPlans <= before, s"cache manager grew from $before to $cachedPlans entries")
  }

  test("a prepare that drops the stored-day column fails before any Spark job") {
    val root = tmpDir("snap_contract_b")
    val tiers = tmpDir("snap_contract_b_tiers")
    val cols = events.columns.map(col).toSeq
    SnapshotStore.append(root, events, tsCol = Some("ts"))
    // projecting to the table's own columns drops __graft_stored_day,
    // which the exact guard compares per row: refused at plan time
    val project: DataFrame => DataFrame = df => df.select(cols: _*)
    val (e, jobs) = jobStartsDuring(intercept[IllegalArgumentException] {
      ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L), prepare = project)
    })
    assert(e.getMessage.contains("__graft_stored_day"), e.getMessage)
    assert(jobs.isEmpty, s"${jobs.size} Spark jobs ran before the rejection")
    assert(ContinuousRollup.lastApplied(tiers) == 0L)
    val written = Files.list(Paths.get(tiers))
    try assert(written.noneMatch(_.getFileName.toString.startsWith("tier_")))
    finally written.close()
    // a prepare passing the column through folds the same table exactly
    ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L), prepare = _.select("*"))
    val got = ContinuousRollup.readTier(spark, tiers, "1h")
    val want = fullTier(events, "1h")
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("a table with flat and day-partitioned snapshots prunes its day-partitioned dirs") {
    val root = tmpDir("snap_mixed")
    val tiers = tmpDir("snap_mixed_tiers")
    // snapshot 1 is flat (no day list); snapshot 2 is day-partitioned
    // over every day but 01-28, snapshot 3 over 01-28 alone
    val odd = events.filter(col("event_id") % 2 === 1)
    val batches = Seq(
      (events.filter(col("event_id") % 2 === 0), None),
      (odd.filter(to_date(col("ts")) =!= "2024-01-28"), Some("ts")),
      (odd.filter(to_date(col("ts")) === "2024-01-28"), Some("ts"))
    )
    for ((b, tsCol) <- batches) {
      SnapshotStore.append(root, b, tsCol = tsCol)
      ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L))
    }
    for (t <- Seq("1m", "1h", "1d", "30d")) {
      val got = ContinuousRollup.readTier(spark, tiers, t)
      val want = fullTier(events, t)
      assert(got.except(want).isEmpty && want.except(got).isEmpty, s"tier $t mismatch")
    }
    // the last update reads the flat dir whole and, of the
    // day-partitioned snapshots, only 01-28's one dir
    val m = ContinuousRollup
      .readMetrics(spark, tiers)
      .filter(col("applied_snapshot") === 3)
      .head()
    val (read, total) = (m.getAs[Int]("source_dirs_read"), m.getAs[Int]("source_dirs_total"))
    assert(read == 2 && read < total, s"read $read of $total dirs")
  }

  test("schema-sensitive prepare sees ONE schema across batch, pruned, and unpruned invocations") {
    // melt-style prepare: rebuilds the frame by iterating df.columns
    // and bakes the column COUNT into the measure — any schema fork
    // between the prepare invocations of one update (batch-side scan,
    // pruned scan, unpruned scan) would change tier sums. It also
    // records every input schema it sees.
    val seen = scala.collection.mutable.ArrayBuffer[Seq[String]]()
    val sensitive: DataFrame => DataFrame = { df =>
      seen.synchronized { seen += df.columns.toSeq }
      df.select(df.columns.map(col): _*).withColumn("value", lit(df.columns.length.toDouble))
    }
    val measure = col("value").cast("long")

    // pruned path: day-partitioned source
    val rootP = tmpDir("snap_schema_p")
    val tiersP = tmpDir("snap_schema_p_tiers")
    SnapshotStore.append(rootP, events, tsCol = Some("ts"))
    ContinuousRollup.update(spark, rootP, tiersP, Seq("event_type"), "ts", measure, prepare = sensitive)

    // unpruned path: flat source (no day manifests)
    val rootU = tmpDir("snap_schema_u")
    val tiersU = tmpDir("snap_schema_u_tiers")
    SnapshotStore.append(rootU, events)
    ContinuousRollup.update(spark, rootU, tiersU, Seq("event_type"), "ts", measure, prepare = sensitive)

    // every invocation, both updates, saw the identical column set
    assert(seen.nonEmpty && seen.distinct.size == 1, s"schemas diverged: ${seen.distinct}")
    assert(seen.head.contains("__graft_stored_day"))

    // identical tier results across branches, and equal to a one-shot
    // with the same column count (data cols + the one synthetic col)
    val ncols = events.columns.length + 1
    for (t <- Seq("1m", "1h", "1d", "30d")) {
      val gotP = ContinuousRollup.readTier(spark, tiersP, t)
      val gotU = ContinuousRollup.readTier(spark, tiersU, t)
      assert(gotP.except(gotU).isEmpty && gotU.except(gotP).isEmpty, s"tier $t pruned/unpruned fork")
      val want =
        Rollup.fromRaw(events.withColumn("value", lit(ncols.toDouble)), Seq("event_type"), "ts", t, measure)
      assert(gotP.except(want).isEmpty && want.except(gotP).isEmpty, s"tier $t mismatch vs one-shot")
    }
  }

  test("compaction consolidates day files, preserves rows, and later diffs keep working") {
    val root = tmpDir("snap_compact")
    val tiers = tmpDir("snap_compact_tiers")
    // three appends that each touch the SAME days -> 3 file sets per day
    val parts = Seq(0, 1, 2).map(i => events.filter(col("event_id") % 3 === i))
    parts.foreach(b => SnapshotStore.append(root, b, tsCol = Some("ts")))
    ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L))
    val before = SnapshotStore.read(spark, root)
    val rowsBefore = before.count()
    val filesBefore = before.inputFiles.length

    SnapshotStore.compact(spark, root, upTo = 3L)

    val after = SnapshotStore.read(spark, root)
    assert(after.count() == rowsBefore)
    assert(after.inputFiles.length < filesBefore, s"${after.inputFiles.length} vs $filesBefore files")
    // exactly one data file set remains, under the compacted dir
    assert(after.inputFiles.forall(_.contains("/data/c3/")))
    // day manifests survive compaction -> pruned reads still work
    assert(SnapshotStore.hasDayInfo(root, 0L, 3L))

    // a later append + incremental update continues from the marker
    // over the compacted base and stays exact
    val extra = events.filter(col("event_id") % 3 === 0).withColumn("event_id", col("event_id") + 1000000)
    SnapshotStore.append(root, extra, tsCol = Some("ts"))
    ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L))
    for (t <- Seq("1h", "30d")) {
      val got = ContinuousRollup.readTier(spark, tiers, t)
      val want = fullTier(events.unionByName(extra), t)
      assert(got.except(want).isEmpty && want.except(got).isEmpty, s"tier $t mismatch after compaction")
    }
  }

  test("compaction refuses to rebase past a consumer's applied marker") {
    val root = tmpDir("snap_compact_guard")
    val tiers = tmpDir("snap_compact_guard_tiers")
    SnapshotStore.append(root, events.filter(col("event_id") % 2 === 0), tsCol = Some("ts"))
    ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L)) // marker = 1
    SnapshotStore.append(root, events.filter(col("event_id") % 2 === 1), tsCol = Some("ts")) // current = 2
    // rebasing through 2 would erase the diff the consumer still needs
    intercept[IllegalArgumentException] {
      SnapshotStore.compact(spark, root, 2L, consumerTiersRoots = Seq(tiers))
    }
    // after the consumer catches up, the same compaction goes through
    ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L))
    SnapshotStore.compact(spark, root, 2L, consumerTiersRoots = Seq(tiers))
    assert(ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L)) == 2L)
  }

  test("compaction proceeds for a registered-but-never-updated consumer, which then folds from the base") {
    val root = tmpDir("snap_compact_fresh")
    val tiers = tmpDir("snap_compact_fresh_tiers") // marker = 0: no update yet
    SnapshotStore.append(root, events.filter(col("event_id") % 2 === 0), tsCol = Some("ts"))
    SnapshotStore.append(root, events.filter(col("event_id") % 2 === 1), tsCol = Some("ts"))
    // a fresh consumer (applied = 0) reads (0, to] from the compacted
    // base safely — it must not block maintenance
    SnapshotStore.compact(spark, root, 2L, consumerTiersRoots = Seq(tiers))
    assert(ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L)) == 2L)
    val got = ContinuousRollup.readTier(spark, tiers, "1h")
    val want = fullTier(events, "1h")
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("a stale manifest surviving a compaction crash never double-counts") {
    val root = tmpDir("snap_crash")
    SnapshotStore.append(root, events.filter(col("event_id") % 2 === 0), tsCol = Some("ts"))
    SnapshotStore.append(root, events.filter(col("event_id") % 2 === 1), tsCol = Some("ts"))
    val total = SnapshotStore.read(spark, root).count()
    // simulate a crash after the replacement manifest swap but before
    // cleanup: compact, then resurrect snapshot 1's manifest
    val v1 = java.nio.file.Paths.get(root, "_snapshots", "v1.json")
    val saved = java.nio.file.Files.readAllBytes(v1)
    SnapshotStore.compact(spark, root, 2L)
    java.nio.file.Files.write(v1, saved)
    // readers must ignore the superseded manifest entirely
    assert(SnapshotStore.read(spark, root).count() == total)
    // and an incremental read needing erased diff granularity refuses
    intercept[IllegalArgumentException] {
      SnapshotStore.resolveDirs(root, 1L, 2L)
    }
  }

  test("an empty day-partitioned append leaves the next update a clean no-op") {
    val root = tmpDir("snap_empty")
    val tiers = tmpDir("snap_empty_tiers")
    SnapshotStore.append(root, events, tsCol = Some("ts"))
    ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L))
    val before = ContinuousRollup.readTier(spark, tiers, "1h").collect().toSet
    // zero-row batch: commits a manifest with no partition dirs
    SnapshotStore.append(root, events.filter(lit(false)), tsCol = Some("ts"))
    val applied = ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L))
    assert(applied == 2L && ContinuousRollup.lastApplied(tiers) == 2L)
    assert(ContinuousRollup.readTier(spark, tiers, "1h").collect().toSet == before)
  }

  test("update is a no-op when nothing is new, and resumes after a lost marker") {
    val root = tmpDir("snap_src2")
    val tiers = tmpDir("snap_tiers2")
    SnapshotStore.append(root, events)
    ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L))
    val before = ContinuousRollup.readTier(spark, tiers, "1h").collect().toSet

    // no-op
    assert(ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L)) == 1L)

    // simulated crash: marker lost after tier writes -> re-run must be
    // idempotent and restore the marker
    Files.delete(Paths.get(tiers, "_applied"))
    assert(ContinuousRollup.lastApplied(tiers) == 0L)
    ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L))
    assert(ContinuousRollup.lastApplied(tiers) == 1L)
    val after = ContinuousRollup.readTier(spark, tiers, "1h").collect().toSet
    assert(after == before)
  }

  test("update leaves the session's partition overwrite mode alone: a later static overwrite replaces the dir") {
    import spark.implicits._
    val key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)
    val mode = spark.conf.get(key)
    val root = tmpDir("snap_owmode")
    val tiers = tmpDir("snap_owmode_tiers")
    SnapshotStore.append(root, events, tsCol = Some("ts"))
    ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L))
    assert(spark.conf.get(key) == mode)

    val out = s"${tmpDir("snap_owmode_out")}/t"
    Seq((1, "a"), (2, "b")).toDF("v", "p").write.partitionBy("p").parquet(out)
    Seq((3, "a")).toDF("v", "p").write.mode("overwrite").partitionBy("p").parquet(out)
    assert(spark.read.parquet(out).as[(Int, String)].collect().toSeq == Seq((3, "a")))
  }

  test("readTier reads the stored schema without a Spark job") {
    val root = tmpDir("snap_readtier")
    val tiers = tmpDir("snap_readtier_tiers")
    SnapshotStore.append(root, events, tsCol = Some("ts"))
    ContinuousRollup.update(spark, root, tiers, Seq("event_type"), "ts", lit(1L), langCol = Some("event_type"))
    for (t <- Seq("1m", "1h", "1d", "30d")) {
      val (schema, jobs) = jobStartsDuring(ContinuousRollup.readTier(spark, tiers, t).schema)
      assert(jobs.isEmpty, s"tier $t: ${jobs.size} jobs, ${jobs.count(outsideSqlExecution)} outside any SQL execution")
      val inferred = spark.read.parquet(s"$tiers/tier_$t").drop("part_key")
      assert(schema == inferred.schema, s"tier $t")
      def rows(df: DataFrame) = df.withColumn("lang_hist", array_sort(map_entries(col("lang_hist"))))
      val got = rows(ContinuousRollup.readTier(spark, tiers, t))
      assert(got.exceptAll(rows(inferred)).isEmpty && rows(inferred).exceptAll(got).isEmpty, s"tier $t rows")
    }
  }

  test("as-of-timestamp reads resolve to the newest snapshot at or before the stamp") {
    val root = tmpDir("asof") + "/tbl"
    val evens = events.filter(pmod(col("event_id"), lit(2)) === 0)
    val odds = events.filter(pmod(col("event_id"), lit(2)) === 1)
    val before = System.currentTimeMillis() - 1
    SnapshotStore.append(root, evens, tsCol = Some("ts"))
    val t1 = SnapshotStore.commitMillis(root, 1L).get
    // guarantee commit2 lands on a LATER millisecond than commit1
    while (System.currentTimeMillis() <= t1) Thread.sleep(1)
    SnapshotStore.append(root, odds, tsCol = Some("ts"))
    val t2 = SnapshotStore.commitMillis(root, 2L).get
    assert(t2 > t1)

    assert(SnapshotStore.snapshotAsOf(root, before) == 0L, "predates the table")
    assert(SnapshotStore.snapshotAsOf(root, t1) == 1L)
    assert(SnapshotStore.snapshotAsOf(root, t2 - 1) == 1L)
    assert(SnapshotStore.snapshotAsOf(root, t2) == 2L)
    assert(SnapshotStore.snapshotAsOf(root, System.currentTimeMillis()) == 2L)

    assert(SnapshotStore.readAsOf(spark, root, t1).count() == evens.count())
    assert(SnapshotStore.readAsOf(spark, root, t2).count() == events.count())
  }

  test("compaction keeps the rebase point's commit stamp so as-of reads at it still resolve") {
    val root = tmpDir("asofcomp") + "/tbl"
    SnapshotStore.append(root, events.limit(50), tsCol = Some("ts"))
    val t1 = SnapshotStore.commitMillis(root, 1L).get
    while (System.currentTimeMillis() <= t1) Thread.sleep(1)
    SnapshotStore.append(root, events.limit(80).except(events.limit(50)), tsCol = Some("ts"))
    val t2 = SnapshotStore.commitMillis(root, 2L).get
    val n = SnapshotStore.read(spark, root).count()
    SnapshotStore.compact(spark, root, upTo = 2L)
    assert(SnapshotStore.commitMillis(root, 2L).contains(t2))
    assert(SnapshotStore.snapshotAsOf(root, t2) == 2L)
    assert(SnapshotStore.readAsOf(spark, root, t2).count() == n)
  }

  test("a manifest still carrying an old streamBatchId field reads, appends, compacts and updates as one without it") {
    def same(a: DataFrame, b: DataFrame): Boolean = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val halves = Seq(0, 1).map(i => events.filter(col("event_id") % 2 === i))
    val extra = events.filter(col("event_id") % 3 === 0).withColumn("event_id", col("event_id") + 1000000)
    val roots @ Seq(legacy, plain) = Seq("snap_legacy", "snap_plain").map(tmpDir)
    val tiers = roots.map(r => s"$r-tiers")
    roots.foreach(r => SnapshotStore.append(r, halves(0), tsCol = Some("ts")))
    // earlier builds wrote a per-batch stream id into the manifest JSON
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val v1 = Paths.get(legacy, "_snapshots", "v1.json")
    val m = mapper.readTree(Files.readAllBytes(v1)).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    m.put("streamBatchId", 7L)
    Files.write(v1, mapper.writeValueAsBytes(m))
    assert(SnapshotStore.manifest(legacy, 1L).get("streamBatchId").asLong() == 7L)

    def update(): Unit = roots.zip(tiers).foreach { case (r, t) =>
      ContinuousRollup.update(spark, r, t, Seq("event_type"), "ts", lit(1L))
    }
    def sameTiers(): Unit = for (t <- Seq("1m", "1h", "1d", "30d"))
      assert(same(ContinuousRollup.readTier(spark, tiers(0), t), ContinuousRollup.readTier(spark, tiers(1), t)), s"tier $t")

    assert(same(SnapshotStore.read(spark, legacy), SnapshotStore.read(spark, plain)))
    roots.foreach(r => SnapshotStore.append(r, halves(1), tsCol = Some("ts")))
    assert(same(SnapshotStore.read(spark, legacy), SnapshotStore.read(spark, plain)))
    update()
    sameTiers()
    roots.zip(tiers).foreach { case (r, t) => SnapshotStore.compact(spark, r, upTo = 2L, consumerTiersRoots = Seq(t)) }
    assert(same(SnapshotStore.read(spark, legacy), SnapshotStore.read(spark, plain)))
    roots.foreach(r => SnapshotStore.append(r, extra, tsCol = Some("ts")))
    update()
    sameTiers()
    assert(same(ContinuousRollup.readTier(spark, tiers(0), "1h"), fullTier(events.unionByName(extra), "1h")))
  }
}
