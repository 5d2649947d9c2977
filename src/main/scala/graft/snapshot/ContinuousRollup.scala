package graft.snapshot

import graft.rollup.{Rollup, Tiers}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous aggregates over an Iceberg-lite snapshot table
  * (SURVEY.md §2.10): tier tables are kept up to date by recomputing
  * ONLY the tier partitions touched by rows added since the last
  * applied snapshot (the snapshot manifest diff), via dynamic
  * partition overwrite.
  *
  * Partitioning: 1m/1h/1d tiers partition by the point day (`part_key`
  * = bucket day); the 30d tier partitions by its window start. A
  * touched partition is recomputed WHOLE from the source restricted to
  * that partition's time range — so the update is a pure function of
  * (source ≤ snapshot N), which makes it:
  *   - idempotent: a crash between tier writes and the `_applied`
  *     marker re-runs the same recompute and overwrites identical
  *     bytes;
  *   - late-data-safe: pages with old `warc_ts` in a new snapshot
  *     re-touch old partitions through the same path (no watermark
  *     drop).
  *
  * Scale notes: the 1m recompute keeps the touched days through a
  * literal day predicate, and on a day-partitioned source the scan
  * opens only the touched days' files. Only new
  * files decide WHAT to recompute — manifests are directory-level, so
  * the diff never scans data.
  *
  * Per-partition lineage rows + per-run metrics append to the
  * `tiersRoot/_runlog` table (read back via `readLineage` /
  * `readMetrics`).
  */
object ContinuousRollup {

  private def appliedPath(tiersRoot: String) = Paths.get(tiersRoot, "_applied")

  def lastApplied(tiersRoot: String): Long = {
    val p = appliedPath(tiersRoot)
    if (Files.exists(p)) new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong else 0L
  }

  private def writeApplied(tiersRoot: String, id: Long): Unit = {
    Files.createDirectories(Paths.get(tiersRoot))
    val tmp = Files.createTempFile(Paths.get(tiersRoot), ".tmp", ".marker")
    Files.write(tmp, id.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(
      tmp,
      appliedPath(tiersRoot),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING
    )
  }

  private def tierPath(tiersRoot: String, tier: String) = s"$tiersRoot/tier_$tier"

  /** Below this output size a tier write skips the clustering shuffle
    * (see the write-layout branch in `update`).
    */
  private val SmallTierRows = 5000L

  def readTier(spark: SparkSession, tiersRoot: String, tier: String): DataFrame =
    spark.read.parquet(tierPath(tiersRoot, tier)).drop("part_key")

  /** Partition key of a raw point: its day. Only the 1m tier reads raw
    * points, from exactly the touched days; the coarser tiers re-roll
    * up from the finer tier (counts/sums/HLL are associative), so no
    * tier ever reads raw data outside the touched days.
    */
  private def partKeyOfPoint(tsCol: String): Column = to_date(date_trunc("day", col(tsCol)))

  private def partKeyOfBucket(tier: String): Column = tier match {
    case "30d" => to_date(col("bucket_ts"))
    case _     => to_date(date_trunc("day", col("bucket_ts")))
  }

  /** Days whose stored `part_day` cannot be trusted to equal the
    * prepared row's day: corrupt-timestamp sentinels (at/under the
    * epoch) that `prepare` may repair into any real day. Such
    * partitions are always read by pruned updates.
    */
  def defaultSuspectDay(dayToken: String): Boolean =
    dayToken <= "1970-01-02" // ISO dates compare lexicographically

  /** Fold all snapshots newer than the applied marker into every tier.
    * Returns the new applied snapshot id (unchanged if nothing new).
    *
    * `prepare` runs on the raw source rows BEFORE partition keys are
    * derived (e.g. the pages repair stage: corrupted `warc_ts` must be
    * repaired first, because the repaired timestamp decides which tier
    * partitions a row touches). Contract for incremental correctness:
    * repairs of the partition-deciding timestamp must be row-local
    * (the pages pipeline re-parses it from the row's own html);
    * model-based repairs of other columns see exactly the rows of the
    * partitions being recomputed, so pass a prepare whose models are
    * either maintained externally (see `graft.Main`'s incremental
    * lang-count model) or per-partition-stable.
    *
    * I/O is incremental, not just compute: when the source snapshots
    * were appended with a `tsCol` (day-partitioned data + manifest day
    * lists), the full-range scan is pruned at FILE level to exactly
    * the days touched by the new batch plus suspect-day partitions —
    * nothing else is opened. Coarse tiers never widen the raw read:
    * 1d re-rolls up the freshly written 1h partitions and 30d the 1d
    * partitions of its touched windows (associative measures, exact
    * by RollupSpec/q50), so a daily update reads the touched days of
    * raw plus a handful of tiny tier partitions — not 30 days of raw.
    * Without day manifests it falls back to the full-range scan.
    *
    * NOTE (prepare contract, schema): EVERY `prepare` invocation of an
    * update — the batch-side scan, then the pruned or the unpruned
    * table scan, plus the suspect-dir probe under the membership guard
    * — reads the table's manifest-merged schema
    * (`SnapshotStore.readDirs`) and receives the same one extra
    * synthetic column, `__graft_stored_day: string`. On the pruned
    * branch it carries the partition day the row's file was stored
    * under (feeding the exact guard below); on the other invocations
    * its value is the empty string (stored day unknown/untrusted
    * there, and the guard never reads it). Because the column is part
    * of the prepare input schema everywhere, a schema-sensitive
    * prepare (iterating `df.columns`, melting, positional unions)
    * sees ONE shape across all invocations of one update — it may
    * treat `__graft_stored_day` like any other column. A
    * schema-agnostic prepare (column-wise maps, filters, withColumn,
    * the pages repair) passes it through and gets the exact guard; a
    * prepare that projects to a fixed schema drops it and gets the
    * weaker membership guard. The column is dropped again before any
    * tier aggregation, so it never reaches tier outputs.
    *
    * The `prepare` contract is enforced at runtime on the pruned
    * branch: any row stored under a real (non-suspect) `part_day`
    * whose post-prepare day differs from its stored day would silently
    * fall out of every future recompute of its new day, so the update
    * counts such rows and fails loudly instead of diverging; the count
    * is also recorded in `_metrics.contract_violations`. Two guard
    * tiers, both riding the 1m output's materialization pass as an
    * `observe` metric (no second read of the pruned data), which runs
    * before any tier write:
    *   - exact: the stored day is attached AT the scan (the one place
    *     `input_file_name` is legal) and compared per row after
    *     `prepare`, whenever `prepare` passes unknown columns through;
    *   - membership: prepares that project to a fixed schema drop the
    *     column, so the guard degrades to "every post-prepare day must
    *     be a needed day or a day that suspect-partition rows land
    *     on" (the latter probed by preparing the suspect dirs alone —
    *     tiny by construction). This tier cannot see moves BETWEEN
    *     needed days, only escapes from the needed set.
    */
  def update(
      spark: SparkSession,
      sourceRoot: String,
      tiersRoot: String,
      series: Seq[String],
      tsCol: String,
      sizeCol: Column,
      langCol: Option[String] = None,
      prepare: DataFrame => DataFrame = identity,
      suspectDay: String => Boolean = defaultSuspectDay
  ): Long = {
    val from = lastApplied(tiersRoot)
    val to = SnapshotStore.currentSnapshotId(sourceRoot)
    if (to <= from) return from

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    // an empty day-partitioned append commits a manifest with no data
    // dirs at all — nothing to fold, mark applied and return
    val newDirs = SnapshotStore.resolveDirs(sourceRoot, from, to)
    if (newDirs.isEmpty) {
      writeApplied(tiersRoot, to)
      return to
    }
    // the driver derives each touched day's 30d window; that is exact
    // only where days are UTC days
    val sessionZone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    require(
      sessionZone.normalized() == java.time.ZoneOffset.UTC,
      s"ContinuousRollup needs a UTC session time zone (spark.sql.session.timeZone), got $sessionZone"
    )

    val StoredDayCol = "__graft_stored_day"
    val dayRe = "part_day=([0-9]{4}-[0-9]{2}-[0-9]{2})"
    // every scan of this update reads the table's manifest schema: one
    // shape for every prepare invocation, and no schema-inference job
    def scan(dirs: Seq[String]): DataFrame = SnapshotStore.readDirs(spark, sourceRoot, to, dirs)

    // one tiny action over the prepared batch (its only consumer — no
    // cache): the days its points land on (post-repair). Days decide
    // the pruned raw read and the 1m/1h/1d recomputes; their 30d
    // windows, derived on the driver, decide which 30d partitions
    // re-roll up from the 1d tier. The query reads only the
    // partition-deciding timestamp, so a prepare's model lookups for
    // other columns drop out of its plan. The synthetic stored-day
    // column is attached as "" (value unused here) so prepare sees the
    // same schema as on the tier-feeding scans below.
    val newRows = prepare(scan(newDirs).withColumn(StoredDayCol, lit("")))
    val days = newRows
      .select(to_date(col(tsCol)).as("d"))
      .distinct()
      .collect()
      .iterator
      .filterNot(_.isNullAt(0))
      .map(_.getDate(0).toLocalDate)
      .toSet
    val windows = days.map(Tiers.window30dOf)
    if (days.isEmpty) {
      // every prepared row has a null timestamp: nothing lands in any
      // tier partition — same clean no-op as an empty append
      writeApplied(tiersRoot, to)
      return to
    }
    val canPrune = SnapshotStore.hasDayInfo(sourceRoot, 0L, to)

    // Why suspect-row landing days need no special recompute handling:
    // a suspect row's landing day was touched by the update that first
    // folded it (its own batch's day set includes the landing day), so
    // its tier partitions exist and stay correct as long as the repair
    // is row-local — i.e. the SAME row always lands on the SAME day.
    // That stability requirement is part of the prepare contract for
    // ALL partition-deciding repairs, suspect rows included: a repair
    // whose landing day drifts between updates leaves the old day's
    // partitions stale (in the 1m/1h/1d tiers under every version of
    // this design), which no pruned incremental scheme can detect
    // without re-reading history. The guards below bless suspect rows
    // landing on non-needed days precisely because, under the
    // contract, those days' partitions were already computed.
    val neededDays: Set[String] = days.map(_.toString)
    val (prepared, readDirs, dirsTotal) =
      if (!canPrune) {
        val dirs = SnapshotStore.resolveDirs(sourceRoot, 0L, to)
        (prepare(scan(dirs).withColumn(StoredDayCol, lit(""))), dirs, dirs.size)
      } else {
        val dirs = SnapshotStore.resolveDirs(sourceRoot, 0L, to, Some(neededDays), suspectDay)
        val total = SnapshotStore.resolveDirs(sourceRoot, 0L, to)
        if (dirs.isEmpty)
          throw new IllegalStateException(
            s"ContinuousRollup prepare-contract violation: the prepared batch lands on days $neededDays " +
              "but no stored partition carries any of them (and no suspect partitions exist) — `prepare` " +
              "moved rows off their stored days. Partition-deciding timestamp repairs are only allowed " +
              "for rows stored under suspect days (see `suspectDay`)."
          )
        // attach the stored day at the scan — the only plan position
        // where input_file_name is legal when `prepare` adds more file
        // sources (count models etc.); from here on it is a plain data
        // column that survives shuffles and joins
        (prepare(scan(dirs).withColumn(StoredDayCol, regexp_extract(input_file_name(), dayRe, 1))), dirs, total.size)
      }
    val dirsRead = readDirs.size

    // prepare-contract guard (pruned branch): a row stored under a
    // real part_day must keep that day through prepare — otherwise
    // recomputes of its post-prepare day never read its file and the
    // tiers silently diverge from the one-shot result. Suspect-day and
    // null-partition rows are exempt (they are read by EVERY pruned
    // update precisely because their stored day is untrusted).
    val realStoredDays: Seq[String] = readDirs
      .map(d => d.substring(d.lastIndexOf("part_day=") + "part_day=".length))
      .filter(d => d.matches("[0-9]{4}-[0-9]{2}-[0-9]{2}") && !suspectDay(d))
      .distinct
    val guardObs = Observation(s"graft_prepare_contract_${tiersRoot.hashCode.toHexString}_$to")
    val exactGuard = canPrune && realStoredDays.nonEmpty && prepared.columns.contains(StoredDayCol)
    val memberGuard = canPrune && realStoredDays.nonEmpty && !exactGuard
    val dayStr = to_date(col(tsCol)).cast("string")
    val allRows =
      if (exactGuard) {
        // exact tier: per-row comparison of post-prepare day vs the
        // day the row's file was stored under
        val violation = col(StoredDayCol).isin(realStoredDays: _*) &&
          (dayStr =!= col(StoredDayCol) || col(tsCol).isNull)
        prepared.observe(guardObs, count(when(violation, lit(1))).as("violations"))
      } else if (memberGuard) {
        // membership tier: `prepare` dropped the stored-day column, so
        // fall back to set membership. Days that suspect/null-partition
        // rows legitimately land on are probed by preparing those dirs
        // alone — exact iff the partition-deciding repair is row-local,
        // which is itself the contract being checked.
        val suspectDirs = SnapshotStore.resolveDirs(sourceRoot, 0L, to, Some(Set.empty), suspectDay)
        val landedDays: Set[String] =
          if (suspectDirs.isEmpty) Set.empty
          else
            prepare(scan(suspectDirs).withColumn(StoredDayCol, lit("")))
              .select(dayStr.as("d"))
              .filter(col("d").isNotNull)
              .distinct()
              .collect()
              .map(_.getString(0))
              .toSet
        val allowed = (neededDays ++ landedDays).toSeq
        val violation = col(tsCol).isNotNull && !dayStr.isin(allowed: _*)
        prepared.observe(guardObs, count(when(violation, lit(1))).as("violations"))
      } else prepared.observe(guardObs, lit(0L).as("violations"))

    val lineageRows = scala.collection.mutable.ArrayBuffer[(String, String, Long, Long, Long)]()
    val t0 = System.nanoTime()

    def outputOf(tier: String, recomputed: DataFrame): DataFrame =
      recomputed.withColumn("part_key", partKeyOfBucket(tier))

    // the single raw aggregation of the update. 1h and 1d both re-roll
    // up this output IN MEMORY (associative measures: 1m -> 1d equals
    // 1m -> 1h -> 1d; RollupSpec pins fromRaw == reRollup): it covers
    // the touched days completely (ALL raw rows of those days, not
    // just the batch), so it equals the freshly written 1m partitions
    // without a file read-back. It is the one cached tier output —
    // each cache costs its own materialization job, and 1h, 1d and
    // 30d are read by nothing else in the update (30d reads the 1d
    // FILES: its windows span days written by earlier updates).
    // Touched days are a driver-side literal, pushable to the scan; the
    // synthetic column never reaches a tier aggregation.
    val touchedDays = days.toSeq.sorted.map(java.sql.Date.valueOf)
    val affected = allRows
      .drop(StoredDayCol)
      .withColumn("part_key", partKeyOfPoint(tsCol))
      .filter(col("part_key").isin(touchedDays: _*))
    val out1m = outputOf("1m", Rollup.fromRaw(affected, series, tsCol, "1m", sizeCol, langCol = langCol)).cache()
    // ONE action over the pruned scan, before any tier write: a no-op
    // write materializes the cached 1m output AND fires the contract
    // guard and the 1m row count (the 1m write-layout bound), observed
    // on the same pass — unlike `count()`, with no aggregation stage
    val rows1mObs = Observation(s"graft_rows_1m_${tiersRoot.hashCode.toHexString}_$to")
    out1m.observe(rows1mObs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    val rows1m = rows1mObs.get("rows").asInstanceOf[Long]
    val contractViolations: Long =
      if (exactGuard || memberGuard) guardObs.get("violations").asInstanceOf[Long] else 0L
    if (contractViolations > 0) {
      out1m.unpersist()
      val guardScope =
        if (exactGuard) "exact guard: per-row stored-day comparison"
        else
          "membership guard: detects only escapes from the needed-day set — a schema-projecting " +
            "prepare that moves rows BETWEEN needed days is beyond this tier's sight (pass " +
            "__graft_stored_day through for the exact guard)"
      throw new IllegalStateException(
        s"ContinuousRollup prepare-contract violation ($guardScope): $contractViolations rows stored " +
          "under a real part_day changed their partition-deciding day in prepare; their new day's " +
          "partitions would silently recompute without them. Repair partition-deciding timestamps only " +
          "for rows stored under suspect days (see `suspectDay`), or maintain those repairs externally."
      )
    }
    // output-size bound for each tier's write-layout branch: the 1m
    // output's exact count, then, as aggregation only shrinks, the
    // finer tier's observed output rows (30d scales 1d's by its
    // window-span ratio — a layout heuristic only, never correctness)
    var finerRowsOut: Long = rows1m

    def runTier(tier: String): (String, String, Long, Long, Long) = {
      val out = tier match {
        case "1m" => out1m
        case "1h" | "1d" => outputOf(tier, Rollup.reRollup(out1m.drop("part_key"), series, "1m" -> tier))
        case "30d" =>
          // a touched 30d window re-rolls up its day span from the 1d
          // TIER (days outside this batch were written by earlier
          // updates) — the raw read stays pruned to the touched days.
          // Each window reads only its existing 1d day dirs (at most
          // 30, within Spark's serial-listing threshold of 32) in the
          // 1d output's schema: no listing job, no schema-inference
          // job, however long the tier's history
          val daySchema = Rollup.reRollup(out1m.drop("part_key"), series, "1m" -> "1d").schema
          val finer = windows.toSeq.sorted
            .map { w =>
              val dirs = (0 until 30)
                .map(i => s"${tierPath(tiersRoot, "1d")}/part_key=${w.plusDays(i.toLong)}")
                .filter(d => Files.exists(Paths.get(d)))
              spark.read.schema(daySchema).parquet(dirs: _*)
            }
            .reduce(_ unionByName _)
          outputOf(tier, Rollup.reRollup(finer, series, "1d" -> "30d"))
      }
      // cluster rows by their output partition before the partitioned
      // write: otherwise every shuffle task holds rows of every
      // part_key and the write fans out |tasks| × |partitions| tiny
      // files. The fine tiers range-partition on (part_key, series):
      // clustering plus hot-partition splitting by series range (one
      // Zipf-hot day never bottlenecks a single writer). The coarse
      // tiers (1d/30d) are re-rollups of already-tiny tier rows, where
      // range-partitioning's sampling job costs more than the write —
      // hash-cluster those on part_key instead.
      // explicit partition count: AQE has the tier output's accurate
      // (tiny-at-test-scale) size stats and would coalesce an
      // unnumbered range shuffle to ONE task, serializing the hot-day
      // write the range layout exists to parallelize
      val nWrite = spark.conf.get("spark.sql.shuffle.partitions").toInt
      // write layout branches on the CONSERVATIVE row bound (finer
      // tier's observed output; the exact count for 1m) instead of a
      // dedicated count job: below the threshold the clustering shuffle
      // costs more than it saves — one writer task emits one file per
      // part_key dir with no exchange and a single task-commit round.
      // Misclassifying small-as-large costs one tiny shuffle, never
      // correctness. Exact rows_out rides the write as an observed
      // metric; partitions written are driver-known by construction
      // (every touched day/window carries at least one batch row).
      val bound = tier match {
        case "30d" => finerRowsOut / math.max(days.size, 1) * windows.size * 30 + 1
        case _     => finerRowsOut
      }
      val clustered =
        if (bound <= SmallTierRows) out.coalesce(1)
        else
          tier match {
            case "1m" | "1h" => out.repartitionByRange(nWrite, (col("part_key") +: series.map(col)): _*)
            case _           => out.repartition(col("part_key"))
          }
      // observe sits ABOVE the clustering exchange: the range
      // partitioner's sampling pass re-executes the exchange CHILD, so
      // a metric below it would double-count
      val rowsObs = Observation(s"graft_tier_rows_${tier}_${tiersRoot.hashCode.toHexString}_$to")
      val path = tierPath(tiersRoot, tier)
      val exists = Files.exists(Paths.get(path))
      clustered
        .observe(rowsObs, count(lit(1)).as("rows_out"))
        .write
        .mode(if (exists) "overwrite" else "errorifexists")
        .partitionBy("part_key")
        .parquet(path)
      val rowsOut = rowsObs.get("rows_out").asInstanceOf[Long]
      val partsOut = if (tier == "30d") windows.size.toLong else days.size.toLong
      finerRowsOut = rowsOut
      (tier, s"($from,$to]", rowsOut, partsOut, to)
    }

    // Tiers run sequentially — the fine tiers are full-width
    // shuffle+write jobs that already use every core (overlapping
    // 1m/1h was measured SLOWER at sf0.1: cache/shuffle contention).
    Tiers.All.foreach(t => lineageRows += runTier(t))
    out1m.unpersist()

    // one run-log append carries BOTH the per-tier lineage rows and the
    // run metrics row (kind column discriminates) — a single tiny write
    // job instead of two; `readLineage`/`readMetrics` project the
    // classic shapes back out
    import spark.implicits._
    val lineagePart = lineageRows.toSeq.map { case (tier, range, rows, parts, snap) =>
      (
        "lineage",
        tier,
        range,
        rows,
        parts,
        snap,
        0.0,
        "",
        0,
        0,
        0L
      )
    }
    val metricsPart = Seq(
      (
        "metrics",
        "",
        "",
        0L,
        0L,
        to,
        (System.nanoTime() - t0) / 1e9,
        java.time.Instant.now.toString,
        dirsRead,
        dirsTotal,
        contractViolations
      )
    )
    (lineagePart ++ metricsPart)
      .toDF(
        "kind",
        "tier",
        "snapshot_range",
        "rows_out",
        "partitions_touched",
        "applied_snapshot",
        "update_seconds",
        "wall_clock",
        "source_dirs_read",
        "source_dirs_total",
        "contract_violations"
      )
      .coalesce(1)
      .write
      .mode("append")
      .parquet(s"$tiersRoot/_runlog")

    writeApplied(tiersRoot, to)
    to
  }

  /** Per-partition lineage rows of every applied update (tier,
    * snapshot_range, rows_out, partitions_touched, applied_snapshot).
    */
  def readLineage(spark: SparkSession, tiersRoot: String): DataFrame =
    spark.read
      .parquet(s"$tiersRoot/_runlog")
      .filter(col("kind") === "lineage")
      .select("tier", "snapshot_range", "rows_out", "partitions_touched", "applied_snapshot")

  /** One metrics row per applied update (applied_snapshot,
    * update_seconds, wall_clock, source_dirs_read, source_dirs_total,
    * contract_violations).
    */
  def readMetrics(spark: SparkSession, tiersRoot: String): DataFrame =
    spark.read
      .parquet(s"$tiersRoot/_runlog")
      .filter(col("kind") === "metrics")
      .select(
        "applied_snapshot",
        "update_seconds",
        "wall_clock",
        "source_dirs_read",
        "source_dirs_total",
        "contract_violations"
      )
}
