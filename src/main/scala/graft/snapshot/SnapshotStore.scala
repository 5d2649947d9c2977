package graft.snapshot

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Iceberg-lite snapshot table (SURVEY.md §7): Parquet data files +
  * JSON snapshot manifests, committed atomically via temp-file +
  * rename. Gives snapshot IDs, parent lineage, incremental diffs
  * (which files/partitions a snapshot added) and resumability without
  * the Iceberg runtime (no Iceberg jars exist in /opt/spark/jars).
  *
  * Layout:
  *   root/data/s<id>/...                      parquet written by snapshot <id>
  *   root/data/s<id>/part_day=<d>/...         when appended with a tsCol
  *   root/_snapshots/v<id>.json               manifest {id, parent, rows, dirs, days}
  *   root/_snapshots/CURRENT                  current snapshot id (atomic rename)
  *
  * Scale notes: manifests store directory-level entries — one per
  * snapshot append, plus one per day partition when the append is
  * time-partitioned — never per-row anything. Readers prune twice
  * without touching data:
  *   - snapshot range -> only dirs of snapshots in (from, to]
  *     (the continuous-aggregate incremental-read property);
  *   - day set -> only `part_day=` leaf dirs whose day is wanted
  *     (the continuous-aggregate partition-recompute property: an
  *     incremental update reads only the files of the tier partitions
  *     it recomputes, not the full history).
  * Row counts come from an `Observation` on the write job itself, so
  * an append is exactly one pass over the batch.
  */
object SnapshotStore {

  /** Day token Spark uses for a null partition value. */
  val NullDayToken = "__HIVE_DEFAULT_PARTITION__"

  private val mapper = new ObjectMapper()

  private[snapshot] def snapDir(root: String): Path = Paths.get(root, "_snapshots")

  /** The current snapshot id. The manifest link is an append's commit
    * point and `CURRENT` only a hint written after it, so the id rolls
    * forward from `CURRENT` over every committed successor manifest: a
    * crash between the link and the `CURRENT` write loses nothing, and
    * the next append takes the next free id. (`compact` rewrites only
    * ids at or below the current one, so it never looks newer.)
    */
  def currentSnapshotId(root: String): Long = {
    val cur = snapDir(root).resolve("CURRENT")
    var id =
      if (Files.exists(cur)) new String(Files.readAllBytes(cur), StandardCharsets.UTF_8).trim.toLong
      else 0L
    while (Files.exists(snapDir(root).resolve(s"v${id + 1}.json"))) id += 1
    id
  }

  private[snapshot] def snapshotIds(root: String): Seq[Long] =
    if (!Files.exists(snapDir(root))) Seq.empty
    else
      Files
        .list(snapDir(root))
        .iterator()
        .asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("v") && s.endsWith(".json") => s.stripPrefix("v").stripSuffix(".json").toLong }
        .toSeq
        .sorted

  private[snapshot] def manifest(root: String, id: Long): JsonNode =
    mapper.readTree(Files.readAllBytes(snapDir(root).resolve(s"v$id.json")))

  /** Atomic write: temp file in the same directory + ATOMIC_MOVE.
    * With `replace = false` the move is the COMMIT of an optimistic-
    * concurrency protocol (the Iceberg CAS in miniature): if another
    * writer committed the same snapshot id first, the move fails and
    * we raise — a silent REPLACE would orphan the winner's data dir
    * and lose its rows.
    */
  private[snapshot] def atomicWrite(target: Path, content: String, replace: Boolean = true): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent, ".tmp", ".json")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    if (replace)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    else {
      // ATOMIC_MOVE maps to rename(2), which silently REPLACES an
      // existing target on POSIX — useless as a CAS. link(2) is the
      // atomic create-if-absent: the target appears fully written or
      // the call fails with EEXIST.
      try Files.createLink(target, tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp)
          throw new java.util.ConcurrentModificationException(
            s"concurrent append: snapshot manifest $target was committed by another writer — " +
              "re-read the current snapshot id and retry the append"
          )
      }
      Files.deleteIfExists(tmp)
    }
  }

  /** Append `df` as a new snapshot; returns the new snapshot id.
    * The data write happens before the manifest commit — a crash
    * between the two leaves an uncommitted orphan dir that readers
    * never see (manifest-driven reads), which is the Iceberg commit
    * protocol in miniature.
    */
  def append(root: String, df: DataFrame, tsCol: Option[String] = None): Long = {
    val parent = currentSnapshotId(root)
    val id = parent + 1
    val m = writeData(df, s"$root/data/s$id", id, parent, tsCol, s"graft_append_s$id")
    atomicWrite(snapDir(root).resolve(s"v$id.json"), mapper.writeValueAsString(m), replace = false)
    atomicWrite(snapDir(root).resolve("CURRENT"), id.toString)
    id
  }

  /** Write `df` as the data of snapshot `id` under `dataDir` and return
    * its uncommitted manifest {snapshotId, parentId, rows, schemaJson,
    * dataDirs, tsCol, days}. The row count comes from an `Observation`
    * on the write job itself, so the write is exactly one pass.
    *
    * With `tsCol` set, data is written partitioned by the timestamp's
    * day (`part_day=<date>` leaf dirs; null timestamps land in the
    * hive default partition) and the manifest records the day list —
    * the metadata incremental readers prune on. The batch is
    * range-clustered on (day, ts) first so each writer task covers a
    * narrow day range: parallel writers per day, no
    * tasks×partitions small-file fan-out, and the time-range file
    * layout the rollup scan wants.
    */
  private def writeData(
      df: DataFrame,
      dataDir: String,
      id: Long,
      parent: Long,
      tsCol: Option[String],
      obsName: String
  ): ObjectNode = {
    val obs = Observation(obsName)
    val rows = count(lit(1)).as("rows")
    tsCol match {
      case Some(ts) =>
        df.withColumn("part_day", to_date(col(ts)))
          .repartitionByRange(col("part_day"), col(ts))
          .observe(obs, rows)
          .write
          .mode("errorifexists")
          .partitionBy("part_day")
          .parquet(dataDir)
      case None =>
        df.observe(obs, rows).write.mode("errorifexists").parquet(dataDir)
    }
    val m: ObjectNode = mapper.createObjectNode()
    m.put("snapshotId", id)
    m.put("parentId", parent)
    m.put("rows", obs.get("rows").asInstanceOf[Long])
    // the FILE schema (part_day is a partition path token, never a
    // file column) — recorded per snapshot so readers can evolve the
    // table schema from METADATA alone (the Iceberg model), instead of
    // a mergeSchema footer scan of every file at 100 TB
    m.put("schemaJson", df.schema.json)
    m.putArray("dataDirs").add(dataDir)
    tsCol.foreach { ts =>
      m.put("tsCol", ts)
      val days: ArrayNode = m.putArray("days")
      listDayTokens(dataDir).foreach(days.add)
    }
    m
  }

  /** Compact the history (0, upTo] into ONE rebased snapshot: every
    * day's files across those snapshots rewrite into a single
    * consolidated day dir, the manifest for `upTo` is replaced by one
    * covering the whole compacted range, and the older manifests +
    * data dirs are dropped. Continuous ingest otherwise grows file
    * counts as appends × days — the classic small-files failure at
    * scale; compaction restores one-file-set-per-day while later
    * snapshots and their incremental diffs stay untouched
    * (`readRange(upTo, to]` is unchanged).
    *
    * Single-writer maintenance operation (the Iceberg analog is
    * rewrite-data-files + expire-snapshots): run it like a tier
    * update, never concurrently with readers of ranges that start
    * below `upTo` — incremental consumers must have their applied
    * marker at `upTo` or later, since per-snapshot diff granularity
    * below the rebase point is gone afterwards. That precondition is
    * ENFORCED when the consumers' tier roots are passed: compaction
    * refuses to rebase past any consumer's `_applied` marker (a
    * violated consumer would hit the erased-diff `require` on every
    * future update with no recovery short of rebuilding its tiers).
    */
  def compact(spark: SparkSession, root: String, upTo: Long, consumerTiersRoots: Seq[String] = Nil): Unit = {
    require(
      upTo <= currentSnapshotId(root),
      s"cannot compact through snapshot $upTo: current is ${currentSnapshotId(root)}"
    )
    consumerTiersRoots.foreach { tr =>
      val applied = ContinuousRollup.lastApplied(tr)
      // applied == 0 (never updated, or marker lost) is SAFE past a
      // rebase: the next update reads (0, to], and resolveDirs serves
      // fromExclusive == 0 from the compacted base — a from-scratch
      // fold recomputes every partition, which is the idempotent path
      require(
        applied == 0L || applied >= upTo,
        s"cannot compact through snapshot $upTo: consumer '$tr' has only applied $applied — " +
          "its next update would need diff granularity the rebase erases. Run its update first " +
          "or compact to a smaller upTo."
      )
    }
    val ids = snapshotIds(root).filter(id => id > 0 && id <= upTo)
    require(ids.nonEmpty, s"nothing to compact up to snapshot $upTo in $root")
    // crash leftover from a previous attempt: the compacted dir only
    // becomes visible through the replacement manifest, so an orphan
    // is safe to rebuild
    deleteRecursively(s"$root/data/c$upTo")
    val tsCols = ids.flatMap(id => Option(manifest(root, id).get("tsCol")).map(_.asText())).distinct
    require(tsCols.size <= 1, s"inconsistent tsCol across snapshots: $tsCols")
    val oldDirs = ids.flatMap(id => manifest(root, id).get("dataDirs").elements().asScala.map(_.asText()).toSeq)

    // the compacted rewrite materializes the merged schema: every file
    // below the rebase point now carries the union schema
    val m = writeData(
      readRange(spark, root, 0L, upTo), s"$root/data/c$upTo", upTo, 0L, tsCols.headOption, s"graft_compact_$upTo")
    m.put("compacted", true)
    // commit = the atomic manifest swap. Readers treat a compacted
    // manifest as superseding every earlier snapshot (`resolveDirs`
    // drops ids below the newest compacted id), so a crash between
    // the swap and the cleanup below can never double-count — the
    // stale manifests and data dirs are garbage, removed here and
    // harmless if they briefly survive.
    atomicWrite(snapDir(root).resolve(s"v$upTo.json"), mapper.writeValueAsString(m))
    ids.filter(_ < upTo).foreach(id => Files.deleteIfExists(snapDir(root).resolve(s"v$id.json")))
    oldDirs.foreach(deleteRecursively)
  }

  private[snapshot] def listDayTokens(dataDir: String): Seq[String] = {
    val stream = Files.list(Paths.get(dataDir))
    try
      stream
        .iterator()
        .asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("part_day=") => s.stripPrefix("part_day=") }
        .toSeq
        .sorted
    finally stream.close()
  }

  /** Recursive local-FS delete of the file or directory tree at
    * `root`; a missing path is a no-op. Production callers rely on it
    * to remove data for good: `compact` drops superseded data dirs and
    * its own crash leftover, `vacuum` drops aged orphan dirs, and
    * `Retention.enforce` drops expired tier partitions. Queries and
    * specs also use it to clear their scratch roots.
    */
  def deleteRecursively(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally walk.close()
    }
  }

  /** Remove ORPHAN data dirs — dirs under `root/data` no manifest
    * references. The commit protocol makes them inevitable: a crash
    * between the data write and the manifest commit leaves a fully
    * written dir no reader will ever see (that is what makes the
    * crash safe), and they accumulate forever unless collected. This
    * is the Iceberg `remove_orphan_files` maintenance action:
    * metadata-only (manifest set vs directory listing — never reads a
    * row), and age-gated, because a dir younger than `olderThanMillis`
    * may be an append IN FLIGHT whose manifest simply hasn't committed
    * yet — deleting it would corrupt a live writer. Returns the dirs
    * removed.
    */
  def vacuum(root: String, olderThanMillis: Long = 24L * 3600 * 1000): Seq[String] = {
    val dataRoot = Paths.get(root, "data")
    if (!Files.exists(dataRoot)) return Seq.empty
    val referenced: Set[Path] = snapshotIds(root)
      .flatMap(id =>
        manifest(root, id).get("dataDirs").elements().asScala.map(d =>
          Paths.get(d.asText()).toAbsolutePath.normalize))
      .toSet
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val stream = Files.list(dataRoot)
    val candidates =
      try stream.iterator().asScala.toSeq
      finally stream.close()
    val orphans = candidates
      .filter(p => !referenced.contains(p.toAbsolutePath.normalize))
      .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
      .sortBy(_.getFileName.toString)
    orphans.foreach(p => deleteRecursively(p.toString))
    orphans.map(_.toString)
  }

  /** Full-table read at the current snapshot. */
  def read(spark: SparkSession, root: String): DataFrame =
    readRange(spark, root, 0L, currentSnapshotId(root))

  /** Data dirs of snapshots in (from, to], pruned to `wantedDays` when
    * given (a day is kept when its ISO-date token is wanted, the
    * caller's `alwaysInclude` predicate says so, or it is the null
    * partition). Time-partitioned snapshots resolve to `part_day=`
    * LEAF dirs (uniform schema with legacy unpartitioned dirs — the
    * partition value is never a data column); legacy dirs resolve
    * whole.
    */
  def resolveDirs(
      root: String,
      fromExclusive: Long,
      toInclusive: Long,
      wantedDays: Option[Set[String]] = None,
      alwaysInclude: String => Boolean = _ => false
  ): Seq[String] =
    expandDataDirs(root, effectiveIds(root, fromExclusive, toInclusive), wantedDays, alwaysInclude)

  /** Data-dir expansion for already-filtered snapshot ids. Older
    * builds could commit merge-on-read delete snapshots (a
    * `deleteKeyCols` manifest whose dir holds key files, not rows);
    * this build cannot apply them, so any read that reaches one
    * refuses instead of serving the deleted rows again.
    */
  private def expandDataDirs(
      root: String,
      ids: Seq[Long],
      wantedDays: Option[Set[String]],
      alwaysInclude: String => Boolean
  ): Seq[String] =
    ids.flatMap { id =>
      val m = manifest(root, id)
      require(
        !m.has("deleteKeyCols"),
        s"snapshot $id of $root carries merge-on-read deletes written by an older build, which this " +
          "build cannot apply: rebuild the table from its source rows"
      )
      val dataDirs = m.get("dataDirs").elements().asScala.map(_.asText()).toSeq
      if (!m.has("days")) dataDirs
      else {
        val days = m.get("days").elements().asScala.map(_.asText()).toSeq
        val kept = wantedDays match {
          case None => days
          case Some(w) =>
            days.filter(d => w.contains(d) || d == NullDayToken || alwaysInclude(d))
        }
        for (dir <- dataDirs; d <- kept) yield s"$dir/part_day=$d"
      }
    }

  /** Snapshot ids a range read actually serves: in-range ids with
    * everything below the newest compacted rebase dropped (the same
    * supersede rule `resolveDirs` applies to data dirs).
    */
  private def effectiveIds(root: String, fromExclusive: Long, toInclusive: Long): Seq[Long] = {
    val inRange = snapshotIds(root).filter(id => id > fromExclusive && id <= toInclusive)
    // a compacted manifest supersedes every earlier snapshot: ignore
    // ids below the newest compacted id even if their manifests still
    // exist (crash-window leftovers must never double-count), and
    // refuse diff reads that would need the erased granularity
    val compactedMax = inRange.filter(id => manifest(root, id).has("compacted")).maxOption
    compactedMax.foreach { c =>
      require(
        fromExclusive == 0L || fromExclusive >= c,
        s"snapshots up to $c were compacted: incremental reads from $fromExclusive are gone"
      )
    }
    inRange.filter(id => compactedMax.forall(id >= _))
  }

  /** Union of the per-snapshot manifest schemas, in first-seen column
    * order. ADD-only evolution: a column may appear in later snapshots
    * (older files read it as null), but a type change raises — silent
    * coercion would corrupt downstream aggregates. All fields read as
    * nullable (pre-evolution files have no values for added columns).
    */
  private def mergeSchemas(schemas: Seq[StructType]): StructType = {
    val out = scala.collection.mutable.LinkedHashMap[String, StructField]()
    for (s <- schemas; f <- s.fields) out.get(f.name) match {
      case None => out(f.name) = f.copy(nullable = true)
      case Some(prev) =>
        require(
          prev.dataType == f.dataType,
          s"schema evolution supports ADDING columns only: column '${f.name}' changes type " +
            s"${prev.dataType.simpleString} -> ${f.dataType.simpleString}"
        )
    }
    StructType(out.values.toSeq)
  }

  /** Incremental read: rows added by snapshots in (from, to].
    *
    * Schema evolution (ADD-only): when every data snapshot in the
    * range recorded its schema, the read uses the METADATA-merged
    * union schema — files from snapshots predating an added column
    * return null for it, with zero footer scans (`mergeSchema` would
    * read every file's footer, a non-starter at 100 TB). Legacy
    * manifests without a recorded schema fall back to plain inference.
    */
  def readRange(spark: SparkSession, root: String, fromExclusive: Long, toInclusive: Long): DataFrame = {
    val ids = effectiveIds(root, fromExclusive, toInclusive)
    val dirs = expandDataDirs(root, ids, None, _ => false)
    require(dirs.nonEmpty, s"no data dirs in snapshots ${ids.mkString("{", ",", "}")} of $root")
    readDataDirs(spark, root, ids, dirs)
  }

  /** Parquet read of `dirs`, data dirs of the snapshots `dataIds`, with
    * their metadata-merged schema when every one recorded it. A read
    * without a schema runs a footer-inference Spark job before any
    * data moves; legacy manifests without a recorded schema fall back
    * to it.
    */
  private def readDataDirs(spark: SparkSession, root: String, dataIds: Seq[Long], dirs: Seq[String]): DataFrame = {
    val schemas = dataIds.map(id => Option(manifest(root, id).get("schemaJson")).map(_.asText()))
    if (schemas.nonEmpty && schemas.forall(_.isDefined)) {
      val merged = mergeSchemas(schemas.flatten.map(j => DataType.fromJson(j).asInstanceOf[StructType]))
      spark.read.schema(merged).parquet(dirs: _*)
    } else spark.read.parquet(dirs: _*)
  }

  /** Parquet read of `dirs` — data dirs that [[resolveDirs]] returned
    * for a range ending at `toInclusive` — in the schema of the whole
    * table (0, `toInclusive`], so every pruned subset of one update
    * reads one shape and runs no schema-inference job.
    */
  private[snapshot] def readDirs(spark: SparkSession, root: String, toInclusive: Long, dirs: Seq[String]): DataFrame =
    readDataDirs(spark, root, effectiveIds(root, 0L, toInclusive), dirs)

}
