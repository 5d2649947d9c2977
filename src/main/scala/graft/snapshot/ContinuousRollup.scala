package graft.snapshot

import graft.rollup.{Rollup, Tiers}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, StructType}
import scala.jdk.OptionConverters._

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
  * `tiersRoot/_runlog` table as `RunLogRow`s (read back via
  * `readLineage` / `readMetrics`).
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

  /** Below this output size a tier re-rolls up and writes in one task,
    * with no shuffle (see the write-layout branch in `update`).
    */
  private val SmallTierRows = 5000L

  /** A tier's rows. The schema is the one Spark stored in the footer
    * of one of the tier's data files, read on the driver: building the
    * frame runs no schema-inference job. (A tier of more than 32
    * partitions still pays Spark's parallel listing job.)
    */
  def readTier(spark: SparkSession, tiersRoot: String, tier: String): DataFrame = {
    val path = tierPath(tiersRoot, tier)
    val reader = storedSchema(path).fold(spark.read)(s => spark.read.schema(s.add("part_key", DateType)))
    reader.parquet(path).drop("part_key")
  }

  /** The Spark schema in the footer of the first data file found under
    * `path`'s partition dirs; None when there is none (the read then
    * infers, or fails on a missing path, as before).
    */
  private def storedSchema(path: String): Option[StructType] = {
    val root = Paths.get(path)
    if (!Files.isDirectory(root)) return None
    val files = Files.find(
      root,
      2,
      (p, attrs) =>
        attrs.isRegularFile && p.getFileName.toString.endsWith(".parquet") &&
          p.getParent.getFileName.toString.startsWith("part_key=")
    )
    try
      files.findFirst().toScala.flatMap { f =>
        val reader = ParquetFileReader.open(new LocalInputFile(f))
        try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
        finally reader.close()
      }.map(json => DataType.fromJson(json).asInstanceOf[StructType])
    finally files.close()
  }

  /** The footer key under which Spark's parquet writer stores the row schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

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
    * I/O is incremental, not just compute: the table scan is pruned at
    * FILE level to the days touched by the new batch plus suspect-day
    * partitions (`defaultSuspectDay`); snapshots appended without a
    * `tsCol` have no day lists and are read whole. Coarse tiers never
    * widen the raw read: 1h and 1d both re-roll up the cached 1m
    * output, and 30d reads the 1d partitions of its touched windows
    * (associative measures, exact by RollupSpec/q50), so a daily
    * update reads the touched days of raw plus a handful of tiny tier
    * partitions — not 30 days of raw.
    *
    * The prepare contract is checked, not trusted. Both `prepare`
    * invocations of an update (the batch-side scan and the pruned table
    * scan) read the table's manifest-merged schema
    * (`SnapshotStore.readDirs`) plus one synthetic column,
    * `__graft_stored_day: string`: the day the row's file is stored
    * under, `""` for files without one. A schema-sensitive prepare sees
    * one shape in both, and `prepare` must pass the column through
    * (`require`d before any Spark job). A row stored under a real
    * `part_day` whose post-prepare day differs would silently fall out
    * of every future recompute of its new day, so the 1m output's
    * materialization pass counts such rows per row (an `observe`
    * metric, before any tier write) and the update fails loudly on any;
    * the count is also recorded in the metrics' `contract_violations`.
    * The column is dropped before any tier aggregation.
    */
  def update(
      spark: SparkSession,
      sourceRoot: String,
      tiersRoot: String,
      series: Seq[String],
      tsCol: String,
      sizeCol: Column,
      langCol: Option[String] = None,
      prepare: DataFrame => DataFrame = identity
  ): Long = {
    val from = lastApplied(tiersRoot)
    val to = SnapshotStore.currentSnapshotId(sourceRoot)
    if (to <= from) return from

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
    // every scan reads the table's manifest schema (one shape for every
    // prepare invocation, no schema-inference job) and attaches the
    // stored day at the scan — the only plan position where
    // input_file_name is legal when `prepare` adds more file sources;
    // from there on it is a plain data column
    def prepared(dirs: Seq[String]): DataFrame =
      prepare(
        SnapshotStore
          .readDirs(spark, sourceRoot, to, dirs)
          .withColumn(StoredDayCol, regexp_extract(input_file_name(), dayRe, 1))
      )

    // one tiny action over the prepared batch (its only consumer — no
    // cache): the days its points land on (post-repair), observed as a
    // set on a no-op write of the one-column projection, so the pass is
    // a single job with no aggregation stage (`collect_set` drops null
    // timestamps). Days decide the pruned raw read and the 1m/1h/1d
    // recomputes; their 30d windows, derived without a Spark job, decide
    // which 30d partitions re-roll up from the 1d tier. The pass reads
    // only the partition-deciding timestamp, so a prepare's model
    // lookups for other columns drop out of its plan.
    val newRows = prepared(newDirs)
    require(
      newRows.columns.contains(StoredDayCol),
      s"ContinuousRollup: `prepare` must pass the $StoredDayCol column through (the prepare-contract " +
        s"guard compares it per row); it returned ${newRows.columns.mkString("[", ", ", "]")}"
    )
    val daysObs = Observation(s"graft_touched_days_${tiersRoot.hashCode.toHexString}_$to")
    newRows
      .select(to_date(col(tsCol)).as("d"))
      .observe(daysObs, collect_set(col("d")).as("days"))
      .write
      .format("noop")
      .mode("overwrite")
      .save()
    val days: Set[LocalDate] = daysObs
      .get("days")
      .asInstanceOf[scala.collection.Seq[Any]]
      .iterator
      .map {
        case d: java.sql.Date => d.toLocalDate
        case d: LocalDate     => d
      }
      .toSet
    val windows = days.map(Tiers.window30dOf)
    if (days.isEmpty) {
      // every prepared row has a null timestamp: nothing lands in any
      // tier partition — same clean no-op as an empty append
      writeApplied(tiersRoot, to)
      return to
    }

    // Why suspect-row landing days need no special recompute handling:
    // a suspect row's landing day was touched by the update that first
    // folded it (its own batch's day set includes the landing day), so
    // its tier partitions exist and stay correct as long as the repair
    // is row-local — i.e. the SAME row always lands on the SAME day.
    // A repair whose landing day drifts between updates leaves the old
    // day's partitions stale, which no pruned incremental scheme can
    // detect without re-reading history.
    val neededDays: Set[String] = days.map(_.toString)
    val readDirs = SnapshotStore.resolveDirs(sourceRoot, 0L, to, Some(neededDays), defaultSuspectDay)
    val dirsTotal = SnapshotStore.resolveDirs(sourceRoot, 0L, to).size
    if (readDirs.isEmpty)
      throw new IllegalStateException(
        s"ContinuousRollup prepare-contract violation: the prepared batch lands on days $neededDays " +
          "but no stored partition carries any of them (and no suspect partitions exist) — `prepare` " +
          "moved rows off their stored days."
      )

    // the exact guard: a row stored under a real (non-suspect) day must
    // keep that day through prepare. Suspect-day, null-partition and
    // flat-dir rows are exempt: every pruned update reads them.
    val realStoredDays = readDirs
      .flatMap(d => dayRe.r.findFirstMatchIn(d).map(_.group(1)))
      .filterNot(defaultSuspectDay)
      .distinct
    val violation = col(StoredDayCol).isin(realStoredDays: _*) &&
      (to_date(col(tsCol)).cast("string") =!= col(StoredDayCol) || col(tsCol).isNull)
    val guardObs = Observation(s"graft_prepare_contract_${tiersRoot.hashCode.toHexString}_$to")
    val allRows = prepared(readDirs).observe(guardObs, count(when(violation, lit(1))).as("violations"))

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
    // every exit from here on releases the cached 1m output: a failed
    // guard, 30d day-dir read or tier write must not leave it cached
    // in the caller's session
    val (contractViolations, lineage) = try {
      // ONE action over the pruned scan, before any tier write: a no-op
      // write materializes the cached 1m output AND fires the contract
      // guard and the 1m row count (the 1m write-layout bound), observed
      // on the same pass — unlike `count()`, with no aggregation stage
      val rows1mObs = Observation(s"graft_rows_1m_${tiersRoot.hashCode.toHexString}_$to")
      out1m.observe(rows1mObs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
      val rows1m = rows1mObs.get("rows").asInstanceOf[Long]
      val contractViolations = guardObs.get("violations").asInstanceOf[Long]
      if (contractViolations > 0) {
        throw new IllegalStateException(
          s"ContinuousRollup prepare-contract violation (exact guard: per-row stored-day comparison): " +
            s"$contractViolations rows stored under a real part_day changed their partition-deciding day in " +
            "prepare; their new day's partitions would silently recompute without them. Repair " +
            "partition-deciding timestamps only for rows stored under suspect days (see `defaultSuspectDay`), " +
            "or maintain those repairs externally."
        )
      }
      // output-size bound for each tier's write-layout branch: the 1m
      // output's exact count, then, as aggregation only shrinks, the
      // finer tier's observed output rows (30d scales 1d's by its
      // window-span ratio — a layout heuristic only, never correctness)
      var finerRowsOut: Long = rows1m

      def runTier(tier: String): RunLogRow = {
        // write layout branches on the CONSERVATIVE row bound (finer
        // tier's observed output; the exact count for 1m) instead of a
        // dedicated count job: below the threshold a shuffle costs more
        // than it saves. A small tier re-rolls up ONE partition of its
        // input, so its aggregate plans no exchange and one writer task
        // emits one file per part_key dir in a single job with a single
        // task-commit round. Misclassifying small-as-large costs one
        // tiny shuffle, never correctness. Exact rows_out rides the
        // write as an observed metric; partitions written are known
        // by construction (every touched day/window carries at least
        // one batch row).
        val bound = tier match {
          case "30d" => finerRowsOut / math.max(days.size, 1) * windows.size * 30 + 1
          case _     => finerRowsOut
        }
        val small = bound <= SmallTierRows
        def input(df: DataFrame): DataFrame = if (small) df.coalesce(1) else df
        val out = tier match {
          case "1m" => out1m
          case "1h" | "1d" => outputOf(tier, Rollup.reRollup(input(out1m.drop("part_key")), series, "1m" -> tier))
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
            outputOf(tier, Rollup.reRollup(input(finer), series, "1d" -> "30d"))
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
        val clustered =
          if (small) out.coalesce(1)
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
          .option("partitionOverwriteMode", "dynamic") // this write's mode; the session's stays the caller's
          .partitionBy("part_key")
          .parquet(path)
        val rowsOut = rowsObs.get("rows_out").asInstanceOf[Long]
        val partsOut = if (tier == "30d") windows.size.toLong else days.size.toLong
        finerRowsOut = rowsOut
        RunLogRow("lineage", tier, s"($from,$to]", rowsOut, partsOut, to)
      }

      // Tiers run sequentially — the fine tiers are full-width
      // shuffle+write jobs that already use every core (overlapping
      // 1m/1h was measured SLOWER at sf0.1: cache/shuffle contention).
      (contractViolations, Tiers.All.map(runTier))
    } finally out1m.unpersist()

    // one run-log append carries BOTH the per-tier lineage rows and the
    // run metrics row (kind column discriminates) — a single tiny write
    // job instead of two; `readLineage`/`readMetrics` project the
    // classic shapes back out
    val metrics = RunLogRow(
      "metrics",
      applied_snapshot = to,
      update_seconds = (System.nanoTime() - t0) / 1e9,
      wall_clock = java.time.Instant.now.toString,
      source_dirs_read = readDirs.size.toLong,
      source_dirs_total = dirsTotal.toLong,
      contract_violations = contractViolations
    )
    RunLog.append(spark, tiersRoot, lineage :+ metrics)

    writeApplied(tiersRoot, to)
    to
  }

  /** Per-partition lineage rows of every applied update (tier,
    * snapshot_range, rows_out, partitions_touched, applied_snapshot).
    */
  def readLineage(spark: SparkSession, tiersRoot: String): DataFrame =
    RunLog
      .read(spark, tiersRoot)
      .filter(col("kind") === "lineage")
      .select("tier", "snapshot_range", "rows_out", "partitions_touched", "applied_snapshot")

  /** One metrics row per applied update (applied_snapshot,
    * update_seconds, wall_clock, source_dirs_read and source_dirs_total
    * as int, contract_violations).
    */
  def readMetrics(spark: SparkSession, tiersRoot: String): DataFrame =
    RunLog
      .read(spark, tiersRoot)
      .filter(col("kind") === "metrics")
      .select(
        col("applied_snapshot"),
        col("update_seconds"),
        col("wall_clock"),
        col("source_dirs_read").cast("int").as("source_dirs_read"),
        col("source_dirs_total").cast("int").as("source_dirs_total"),
        col("contract_violations")
      )
}
