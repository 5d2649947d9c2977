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
  * Scale notes: `allRows` below prunes to touched partitions via a
  * broadcast semi-join on the partition key; on a partitioned source
  * table that predicate is partition pruning at the scan. Only new
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

  /** Partition key of a raw point for a tier: the day (1m/1h/1d) or
    * the 30d window start. The day tiers recompute their touched
    * partitions from raw rows carrying exactly that day; the 30d tier
    * re-rolls up from the 1d tier (counts/sums/HLL are associative),
    * so no tier ever reads raw data outside the touched days.
    */
  private def partKeyOfPoint(tsCol: String, tier: String): Column = tier match {
    case "30d" => to_date(Tiers.bucket(col(tsCol), "30d"))
    case _     => to_date(date_trunc("day", col(tsCol)))
  }

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
    * update — the batch-side scan, the pruned branch, the unpruned
    * branch, and the suspect-dir probe — receives the same one extra
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
    * tiers, both riding the batch's cache-materialization pass as an
    * `observe` metric (no second read of the pruned data):
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
    if (SnapshotStore.resolveDirs(sourceRoot, from, to).isEmpty) {
      writeApplied(tiersRoot, to)
      return to
    }

    val StoredDayCol = "__graft_stored_day"
    val dayRe = "part_day=([0-9]{4}-[0-9]{2}-[0-9]{2})"

    // one tiny job over the prepared batch (its only consumer — no
    // cache): the days its points land on (post-repair) and the 30d
    // windows they touch. Days decide both the pruned raw read and the
    // 1m/1h/1d recomputes; windows decide which 30d partitions re-roll
    // up from the 1d tier. The synthetic stored-day column is attached
    // as "" (value unused here) so prepare sees the same schema as on
    // the tier-feeding scans below.
    val newRows =
      prepare(SnapshotStore.readRange(spark, sourceRoot, from, to).withColumn(StoredDayCol, lit("")))
    val touchedKeys = newRows
      .select(
        to_date(col(tsCol)).as("d"),
        to_date(Tiers.bucket(col(tsCol), "30d")).as("w")
      )
      .distinct()
      .collect()
    val days = touchedKeys.iterator.filterNot(_.isNullAt(0)).map(_.getDate(0).toLocalDate).toSet
    val windows = touchedKeys.iterator.filterNot(_.isNullAt(1)).map(_.getDate(1).toLocalDate).toSet
    if (days.isEmpty && windows.isEmpty) {
      // every prepared row has a null timestamp: nothing lands in any
      // tier partition — same clean no-op as an empty append
      writeApplied(tiersRoot, to)
      return to
    }
    // full day span of every touched 30d window — 1d TIER partitions
    // the 30d re-rollup reads (never raw files)
    val windowSpanDays: Seq[java.time.LocalDate] =
      windows.toSeq.flatMap(w => (0 until 30).map(i => w.plusDays(i.toLong))).distinct.sorted

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
        (prepare(spark.read.parquet(dirs: _*).withColumn(StoredDayCol, lit(""))), dirs, dirs.size)
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
        val scan = spark.read
          .parquet(dirs: _*)
          .withColumn(StoredDayCol, regexp_extract(input_file_name(), dayRe, 1))
        (prepare(scan), dirs, total.size)
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
    // rows landing on this update's touched days — observed on the same
    // cache-materialization pass as the guard; an upper bound on the 1m
    // tier output that drives its write-layout branch with no extra job
    val touchedRowsAgg = count(when(dayStr.isin(neededDays.toSeq: _*), lit(1))).as("touched_rows")
    val allRows =
      if (exactGuard) {
        // exact tier: per-row comparison of post-prepare day vs the
        // day the row's file was stored under
        val violation = col(StoredDayCol).isin(realStoredDays: _*) &&
          (dayStr =!= col(StoredDayCol) || col(tsCol).isNull)
        prepared.observe(guardObs, count(when(violation, lit(1))).as("violations"), touchedRowsAgg)
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
            prepare(spark.read.parquet(suspectDirs: _*).withColumn(StoredDayCol, lit("")))
              .select(dayStr.as("d"))
              .filter(col("d").isNotNull)
              .distinct()
              .collect()
              .map(_.getString(0))
              .toSet
        val allowed = (neededDays ++ landedDays).toSeq
        val violation = col(tsCol).isNotNull && !dayStr.isin(allowed: _*)
        prepared.observe(guardObs, count(when(violation, lit(1))).as("violations"), touchedRowsAgg)
      } else prepared.observe(guardObs, lit(0L).as("violations"), touchedRowsAgg)

    val lineageRows = scala.collection.mutable.ArrayBuffer[(String, String, Long, Long, Long)]()
    val t0 = System.nanoTime()

    // ONE action over the pruned scan: materializes the shared cache
    // that feeds every tier recompute AND fires the contract guard and
    // the touched-row count as observed metrics of the same pass
    allRows.cache()
    allRows.count()
    val contractViolations: Long =
      if (exactGuard || memberGuard) guardObs.get("violations").asInstanceOf[Long] else 0L
    val touchedRows: Long = guardObs.get("touched_rows").asInstanceOf[Long]
    if (contractViolations > 0) {
      allRows.unpersist()
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
    // the synthetic column (whichever branch attached it, if prepare
    // passed it through) never reaches a tier aggregation
    val tierRows = allRows.drop(StoredDayCol)

    // cascade state: the still-cached recomputed output of the
    // previous (finer) tier. 1h and 1d re-rollup from it IN MEMORY —
    // the touched 1m/1h/1d part keys are all the same day set, and the
    // finer output covers those days completely (it was aggregated
    // from ALL raw rows of the touched days, not just the batch), so
    // the cached frame equals the freshly written tier partitions
    // without a file read-back. Only 30d goes to the 1d tier FILES:
    // its window span includes days written by earlier updates.
    var finerOut: Option[DataFrame] = None
    // conservative output-size bound for each tier's write-layout
    // branch: aggregation only shrinks, so the 1m output is bounded by
    // the touched-day row count observed above, and each coarser tier
    // by the finer tier's observed output rows (30d scales 1d's by its
    // window-span ratio — a layout heuristic only, never correctness)
    var finerRowsOut: Long = touchedRows

    def runTier(tier: String): (String, String, Long, Long, Long) = {
      val recomputed0 = tier match {
        case "1m" =>
          // the single raw aggregation of the update: every coarser
          // tier re-rolls up from this result (associative measures;
          // RollupSpec pins fromRaw == reRollup). Touched days are a
          // driver-side literal — a plain pushable predicate at the
          // scan, cheaper than the former broadcast semi-join.
          val touchedDays = days.toSeq.sorted.map(java.sql.Date.valueOf)
          val affected = tierRows
            .withColumn("part_key", partKeyOfPoint(tsCol, tier))
            .filter(col("part_key").isin(touchedDays: _*))
          Rollup.fromRaw(affected, series, tsCol, tier, sizeCol, langCol = langCol)
        case "1h" =>
          Rollup.reRollup(finerOut.get.drop("part_key"), series, "1m" -> "1h")
        case "1d" =>
          Rollup.reRollup(finerOut.get.drop("part_key"), series, "1h" -> "1d")
        case "30d" =>
          // a touched 30d window re-rolls up its day span from the 1d
          // TIER (days outside this batch were written by earlier
          // updates) — the raw read stays pruned to the touched days.
          // Literal day list => static partition pruning at the scan.
          val finer = spark.read
            .parquet(tierPath(tiersRoot, "1d"))
            .filter(col("part_key").isin(windowSpanDays.map(java.sql.Date.valueOf): _*))
            .drop("part_key")
          Rollup.reRollup(finer, series, "1d" -> "30d")
      }
      // cache the ROLLUP OUTPUT (tiny) before clustering: the range
      // partitioner's sampling pass and the write would otherwise each
      // re-execute the whole tier aggregation
      val out = recomputed0.withColumn("part_key", partKeyOfBucket(tier)).cache()
      // cluster rows by their output partition before the partitioned
      // write: otherwise every shuffle task holds rows of every
      // part_key and the write fans out |tasks| × |partitions| tiny
      // files. The fine tiers range-partition on (part_key, series):
      // clustering plus hot-partition splitting by series range (one
      // Zipf-hot day never bottlenecks a single writer). The coarse
      // tiers (1d/30d) are re-rollups of already-tiny tier rows, where
      // range-partitioning's sampling job costs more than the write —
      // hash-cluster those on part_key instead.
      // explicit partition count: with the child cached, AQE has
      // accurate (tiny-at-test-scale) size stats and would coalesce an
      // unnumbered range shuffle to ONE task, serializing the hot-day
      // write the range layout exists to parallelize
      val nWrite = spark.conf.get("spark.sql.shuffle.partitions").toInt
      // write layout branches on the CONSERVATIVE row bound (finer
      // tier's observed output; touched raw rows for 1m) instead of a
      // dedicated count job: below the threshold the clustering shuffle
      // costs more than it saves — one writer task emits one file per
      // part_key dir with no exchange and a single task-commit round.
      // Misclassifying small-as-large costs one tiny shuffle, never
      // correctness. Exact rows_out rides the write as an observed
      // metric; partitions written are driver-known by construction
      // (every touched day/window carries at least one batch row).
      val bound = tier match {
        case "30d" => finerRowsOut / math.max(days.size, 1) * windowSpanDays.size + 1
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
      // hand the cached output to the next (coarser) tier's re-rollup
      // and release the previous one
      finerOut.foreach(_.unpersist())
      finerOut = Some(out)
      finerRowsOut = rowsOut
      (tier, s"($from,$to]", rowsOut, partsOut, to)
    }

    // Tiers run sequentially — each re-rolls up the cached output of
    // the previous one, and the fine tiers are full-width
    // shuffle+write jobs that already use every core (overlapping
    // 1m/1h was measured SLOWER at sf0.1: cache/shuffle contention).
    Tiers.All.foreach(t => lineageRows += runTier(t))
    finerOut.foreach(_.unpersist())

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

    allRows.unpersist()
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
