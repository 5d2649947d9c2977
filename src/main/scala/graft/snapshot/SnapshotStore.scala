package graft.snapshot

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
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

  def currentSnapshotId(root: String): Long = {
    val cur = snapDir(root).resolve("CURRENT")
    if (Files.exists(cur)) new String(Files.readAllBytes(cur), StandardCharsets.UTF_8).trim.toLong
    else 0L
  }

  def snapshotIds(root: String): Seq[Long] =
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
  def append(
      root: String,
      df: DataFrame,
      tsCol: Option[String] = None,
      streamBatchId: Option[Long] = None,
      statsCols: Seq[String] = Nil
  ): Long = {
    val parent = currentSnapshotId(root)
    val id = parent + 1
    val dataDir = s"$root/data/s$id"
    val obs = Observation(s"graft_append_s$id")

    // per-snapshot column min/max (the Iceberg manifest-stats model,
    // at snapshot granularity) RIDE the write's observe — zero extra
    // scan; readWhere prunes on them from metadata alone
    statsCols.foreach { c =>
      val dt = df.schema(c).dataType
      require(
        dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
          dt == org.apache.spark.sql.types.StringType,
        s"stats column '$c' must be numeric or string, got ${dt.simpleString}"
      )
    }
    val statAggs = statsCols.flatMap(c => Seq(min(col(c)).as(s"min__$c"), max(col(c)).as(s"max__$c")))
    val aggs = count(lit(1)).as("rows") +: statAggs

    tsCol match {
      case Some(ts) =>
        df.withColumn("part_day", to_date(col(ts)))
          .repartitionByRange(col("part_day"), col(ts))
          .observe(obs, aggs.head, aggs.tail: _*)
          .write
          .mode("errorifexists")
          .partitionBy("part_day")
          .parquet(dataDir)
      case None =>
        df.observe(obs, aggs.head, aggs.tail: _*)
          .write
          .mode("errorifexists")
          .parquet(dataDir)
    }
    val rows = obs.get("rows").asInstanceOf[Long]

    val m: ObjectNode = mapper.createObjectNode()
    m.put("snapshotId", id)
    m.put("parentId", parent)
    m.put("rows", rows)
    // the FILE schema (part_day is a partition path token, never a
    // file column) — recorded per snapshot so readers can evolve the
    // table schema from METADATA alone (the Iceberg model), instead of
    // a mergeSchema footer scan of every file at 100 TB
    m.put("schemaJson", df.schema.json)
    m.put("commitMillis", System.currentTimeMillis())
    streamBatchId.foreach(b => m.put("streamBatchId", b))
    if (statsCols.nonEmpty) {
      val st: ObjectNode = m.putObject("stats")
      statsCols.foreach { c =>
        val node: ObjectNode = st.putObject(c)
        val (lo, hi) = (obs.get(s"min__$c"), obs.get(s"max__$c"))
        node.put("numeric", df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
        if (lo == null || hi == null) node.put("allNull", true)
        else { node.put("min", lo.toString); node.put("max", hi.toString) }
      }
    }
    val dirs: ArrayNode = m.putArray("dataDirs")
    dirs.add(dataDir)
    tsCol.foreach { ts =>
      m.put("tsCol", ts)
      val days: ArrayNode = m.putArray("days")
      listDayTokens(dataDir).foreach(days.add)
    }
    atomicWrite(snapDir(root).resolve(s"v$id.json"), mapper.writeValueAsString(m), replace = false)
    atomicWrite(snapDir(root).resolve("CURRENT"), id.toString)
    id
  }

  /** Commit wall-clock of snapshot `id` (absent on legacy manifests). */
  def commitMillis(root: String, id: Long): Option[Long] =
    Option(manifest(root, id).get("commitMillis")).map(_.asLong())

  /** Highest streaming batch id committed into this table, -1 when
    * none — the exactly-once marker `streaming.SnapshotSink` keys on.
    */
  def lastStreamBatchId(root: String): Long =
    snapshotIds(root)
      .flatMap(id => Option(manifest(root, id).get("streamBatchId")).map(_.asLong()))
      .maxOption
      .getOrElse(-1L)

  /** AS-OF-TIMESTAMP time travel (the Iceberg `as-of-timestamp` read):
    * the newest snapshot committed at or before `millis`, 0 when the
    * table didn't exist yet. Resolution is manifest metadata only.
    */
  def snapshotAsOf(root: String, millis: Long): Long =
    snapshotIds(root)
      .filter(id => commitMillis(root, id).exists(_ <= millis))
      .maxOption
      .getOrElse(0L)

  /** Read the table as it was at wall-clock `millis`. Raises (via
    * [[readRange]]'s empty-range guard) when the table had no data yet.
    */
  def readAsOf(spark: SparkSession, root: String, millis: Long): DataFrame =
    readRange(spark, root, 0L, snapshotAsOf(root, millis))

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

    val df = readRange(spark, root, 0L, upTo)
    val compactDir = s"$root/data/c$upTo"
    val obs = Observation(s"graft_compact_$upTo")
    tsCols.headOption match {
      case Some(ts) =>
        df.withColumn("part_day", to_date(col(ts)))
          .repartitionByRange(col("part_day"), col(ts))
          .observe(obs, count(lit(1)).as("rows"))
          .write
          .mode("errorifexists")
          .partitionBy("part_day")
          .parquet(compactDir)
      case None =>
        df.observe(obs, count(lit(1)).as("rows")).write.mode("errorifexists").parquet(compactDir)
    }
    val rows = obs.get("rows").asInstanceOf[Long]

    val m: ObjectNode = mapper.createObjectNode()
    m.put("snapshotId", upTo)
    m.put("parentId", 0L)
    m.put("rows", rows)
    m.put("compacted", true)
    // the rebase REPRESENTS history up to upTo: it keeps upTo's commit
    // stamp, so as-of-timestamp reads at or after that commit still
    // resolve (time travel BELOW upTo is erased either way)
    commitMillis(root, upTo).foreach(t => m.put("commitMillis", t))
    // the compacted rewrite materializes the merged schema: every file
    // below the rebase point now carries the union schema
    m.put("schemaJson", df.schema.json)
    val dirs: ArrayNode = m.putArray("dataDirs")
    dirs.add(compactDir)
    tsCols.headOption.foreach { ts =>
      m.put("tsCol", ts)
      val days: ArrayNode = m.putArray("days")
      listDayTokens(compactDir).foreach(days.add)
    }
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

  /** Recursive local-FS delete (test/fixture helper — production
    * tables are append-only and never deleted through this).
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

  /** ROLLBACK the table to an earlier snapshot: snapshots above `to`
    * leave the live history (manifests AND data dirs move under
    * `root/_rolledback/r<n>/`, kept for audit/reconciliation — rollback
    * un-publishes rows, it must not destroy them), CURRENT drops to
    * `to`, and the next append takes id `to`+1 afresh. Metadata-only:
    * two directory renames per rolled-back snapshot, zero rows read —
    * how a table format rolls back a bad ingest at 100 TB. Moving the
    * data dir aside (not just the manifest) is what frees the
    * `data/s<id>` slot: a later re-append at the same id would
    * otherwise collide with the dead writer's files.
    */
  def rollback(root: String, to: Long): Seq[Long] = {
    val current = currentSnapshotId(root)
    require(to >= 0 && to <= current, s"cannot roll back to $to: current snapshot is $current")
    val ids = snapshotIds(root).filter(_ > to)
    ids.foreach { id =>
      require(
        !manifest(root, id).has("compacted"),
        s"snapshot $id is a compacted rebase of history at or below it — rolling it back would " +
          s"lose rows that were never above the rollback point; roll back to >= $id or rebuild"
      )
    }
    // one numbered bin per rollback call, so repeated rollbacks that
    // reuse snapshot ids never collide in the audit area
    val binRoot = Paths.get(root, "_rolledback")
    Files.createDirectories(binRoot)
    val existing = {
      val s = Files.list(binRoot)
      try s.iterator().asScala.size
      finally s.close()
    }
    val bin = binRoot.resolve(s"r$existing")
    Files.createDirectories(bin)
    ids.sorted.foreach { id =>
      val m = manifest(root, id)
      m.get("dataDirs").elements().asScala.map(_.asText()).foreach { d =>
        val src = Paths.get(d)
        if (Files.exists(src))
          Files.move(src, bin.resolve(src.getFileName), StandardCopyOption.ATOMIC_MOVE)
      }
      Files.move(
        snapDir(root).resolve(s"v$id.json"),
        bin.resolve(s"v$id.json"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    atomicWrite(snapDir(root).resolve("CURRENT"), to.toString)
    ids.sorted
  }

  /** Full-table read at the current snapshot. */
  def read(spark: SparkSession, root: String): DataFrame =
    readRange(spark, root, 0L, currentSnapshotId(root))

  /** True when every snapshot in (from, to] recorded a day list — the
    * precondition for metadata day pruning.
    */
  def hasDayInfo(root: String, fromExclusive: Long, toInclusive: Long): Boolean = {
    val ids = snapshotIds(root).filter(id => id > fromExclusive && id <= toInclusive)
    ids.nonEmpty && ids.forall(id => manifest(root, id).has("days"))
  }

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
  ): Seq[String] = {
    val ids = effectiveIds(root, fromExclusive, toInclusive)
    // dir-level consumers (the continuous rollup's pruned scans) fold
    // data files directly and would aggregate deleted rows as live —
    // they must not run over a merge-on-read store until the deletes
    // are materialized
    val delIds = ids.filter(id => manifest(root, id).has("deleteKeyCols"))
    require(
      delIds.isEmpty,
      s"snapshots ${delIds.mkString(", ")} carry merge-on-read deletes: directory-level reads " +
        "cannot apply them — read through readRange (delete-aware) or compact() to materialize first"
    )
    expandDataDirs(root, ids, wantedDays, alwaysInclude)
  }

  /** Data-dir expansion for already-filtered snapshot ids (delete
    * manifests' key files are NOT data and are skipped).
    */
  private def expandDataDirs(
      root: String,
      ids: Seq[Long],
      wantedDays: Option[Set[String]],
      alwaysInclude: String => Boolean
  ): Seq[String] =
    ids
      .filterNot(id => manifest(root, id).has("deleteKeyCols"))
      .flatMap { id =>
        val m = manifest(root, id)
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
  private def mergeSchemas(schemas: Seq[org.apache.spark.sql.types.StructType]): org.apache.spark.sql.types.StructType = {
    val out = scala.collection.mutable.LinkedHashMap[String, org.apache.spark.sql.types.StructField]()
    for (s <- schemas; f <- s.fields) out.get(f.name) match {
      case None => out(f.name) = f.copy(nullable = true)
      case Some(prev) =>
        require(
          prev.dataType == f.dataType,
          s"schema evolution supports ADDING columns only: column '${f.name}' changes type " +
            s"${prev.dataType.simpleString} -> ${f.dataType.simpleString}"
        )
    }
    org.apache.spark.sql.types.StructType(out.values.toSeq)
  }

  /** Merge-on-read EQUALITY DELETES (the Iceberg v2 shape): the keys
    * to delete are appended as their own snapshot — no data file is
    * rewritten (a GDPR url purge over 100 TB must not rewrite 100 TB).
    * Readers apply the delete as an anti-join; a delete erases only
    * rows written BEFORE it (a later re-insert of the same key
    * survives — true MERGE-ON-READ ordering, via each row's snapshot
    * id recovered from its file path). `compact()` materializes
    * deletes into rewritten files and drops the delete manifests.
    *
    * Consumers that fold data DIRS directly (the continuous rollup's
    * pruned incremental scans) cannot apply anti-joins — `resolveDirs`
    * raises while unmaterialized deletes exist, so a tier update over
    * a merge-on-read store fails loudly instead of resurrecting
    * deleted rows. Incremental diff reads are likewise undefined over
    * pending deletes (a diff cannot express "remove") and raise.
    */
  def appendDeletes(root: String, keys: DataFrame): Long = {
    val parent = currentSnapshotId(root)
    val id = parent + 1
    val dataDir = s"$root/data/s$id"
    val obs = Observation(s"graft_delete_s$id")
    keys.observe(obs, count(lit(1)).as("rows")).write.mode("errorifexists").parquet(dataDir)
    val rows = obs.get("rows").asInstanceOf[Long]
    val m: ObjectNode = mapper.createObjectNode()
    m.put("snapshotId", id)
    m.put("parentId", parent)
    m.put("rows", rows)
    val kc: ArrayNode = m.putArray("deleteKeyCols")
    keys.columns.foreach(kc.add)
    val dirs: ArrayNode = m.putArray("dataDirs")
    dirs.add(dataDir)
    atomicWrite(snapDir(root).resolve(s"v$id.json"), mapper.writeValueAsString(m), replace = false)
    atomicWrite(snapDir(root).resolve("CURRENT"), id.toString)
    id
  }

  /** Incremental read: rows added by snapshots in (from, to].
    *
    * Schema evolution (ADD-only): when every data snapshot in the
    * range recorded its schema, the read uses the METADATA-merged
    * union schema — files from snapshots predating an added column
    * return null for it, with zero footer scans (`mergeSchema` would
    * read every file's footer, a non-starter at 100 TB). Legacy
    * manifests without a recorded schema fall back to plain inference.
    *
    * Merge-on-read deletes (see [[appendDeletes]]): full reads
    * anti-join the delete keys with snapshot-ordering semantics;
    * incremental reads over pending deletes raise.
    */
  def readRange(spark: SparkSession, root: String, fromExclusive: Long, toInclusive: Long): DataFrame =
    readIds(spark, root, effectiveIds(root, fromExclusive, toInclusive), fromExclusive)

  /** True when snapshot `id`'s recorded stats admit rows with `column`
    * in [lo, hi] — or when no stats exist for it (no stats = must
    * scan; skipping is only ever justified by positive evidence).
    */
  private[snapshot] def statsAdmit(root: String, id: Long, column: String, lo: Any, hi: Any): Boolean = {
    val node = Option(manifest(root, id).get("stats")).flatMap(s => Option(s.get(column)))
    node.forall { n =>
      if (n.has("allNull")) false // a range predicate never matches null
      else {
        val (mn, mx) = (n.get("min").asText(), n.get("max").asText())
        if (n.get("numeric").asBoolean()) !(BigDecimal(mx) < BigDecimal(lo.toString) || BigDecimal(mn) > BigDecimal(hi.toString))
        else !(mx < lo.toString || mn > hi.toString)
      }
    }
  }

  /** Range-predicate read with MANIFEST-STATS data skipping (the
    * Iceberg min/max pruning model at snapshot granularity): snapshots
    * whose recorded [min, max] for `column` cannot intersect [lo, hi]
    * are never opened — the residual filter still runs on the
    * survivors (stats prune FILES, the predicate prunes ROWS), so the
    * result is exact whether or not any snapshot recorded stats.
    * Delete snapshots always survive pruning (their anti-join applies
    * to whatever data remains). Returns an empty relation in the
    * table's metadata-merged schema when everything is skippable.
    */
  def readWhere(spark: SparkSession, root: String, column: String, lo: Any, hi: Any): DataFrame = {
    val ids = effectiveIds(root, 0L, currentSnapshotId(root))
    val kept = ids.filter { id =>
      manifest(root, id).has("deleteKeyCols") || statsAdmit(root, id, column, lo, hi)
    }
    val pred = col(column) >= lit(lo) && col(column) <= lit(hi)
    if (kept.forall(id => manifest(root, id).has("deleteKeyCols"))) {
      val schemas = ids
        .filterNot(id => manifest(root, id).has("deleteKeyCols"))
        .flatMap(id => Option(manifest(root, id).get("schemaJson")).map(_.asText()))
        .map(j => org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[org.apache.spark.sql.types.StructType])
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        mergeSchemas(schemas))
    } else readIds(spark, root, kept, 0L).filter(pred)
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
      val merged = mergeSchemas(
        schemas.flatten.map(j =>
          org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[org.apache.spark.sql.types.StructType])
      )
      spark.read.schema(merged).parquet(dirs: _*)
    } else spark.read.parquet(dirs: _*)
  }

  /** Parquet read of `dirs` — data dirs that [[resolveDirs]] returned
    * for a range ending at `toInclusive` — in the schema of the whole
    * table (0, `toInclusive`], so every pruned subset of one update
    * reads one shape and runs no schema-inference job.
    */
  private[snapshot] def readDirs(spark: SparkSession, root: String, toInclusive: Long, dirs: Seq[String]): DataFrame =
    readDataDirs(
      spark,
      root,
      effectiveIds(root, 0L, toInclusive).filterNot(id => manifest(root, id).has("deleteKeyCols")),
      dirs
    )

  private def readIds(spark: SparkSession, root: String, ids: Seq[Long], fromExclusive: Long): DataFrame = {
    val (delIds, dataIds) = ids.partition(id => manifest(root, id).has("deleteKeyCols"))
    require(
      delIds.isEmpty || fromExclusive == 0L,
      s"snapshots ${delIds.mkString(", ")} carry merge-on-read deletes: an incremental diff " +
        "cannot express row removal — read from snapshot 0 or compact() to materialize first"
    )
    val dirs = expandDataDirs(root, dataIds, None, _ => false)
    require(dirs.nonEmpty, s"no data dirs in snapshots ${ids.mkString("{", ",", "}")} of $root")
    val data = readDataDirs(spark, root, dataIds, dirs)
    if (delIds.isEmpty) data
    else {
      val keyColsPer = delIds.map(id =>
        manifest(root, id).get("deleteKeyCols").elements().asScala.map(_.asText()).toSeq)
      require(
        keyColsPer.distinct.size == 1,
        s"merge-on-read deletes disagree on key columns: ${keyColsPer.distinct.mkString(" vs ")}"
      )
      val keyCols = keyColsPer.head
      // each data row's writing snapshot, from its file path
      // (data/s<id>/ or a compacted base data/c<id>/) — a delete only
      // applies to rows written before it
      val withSnap = data.withColumn(
        "__graft_row_snap",
        regexp_extract(input_file_name(), "/data/[sc](\\d+)/", 1).cast("long"))
      val deletes = delIds
        .map { id =>
          val dir = manifest(root, id).get("dataDirs").elements().asScala.map(_.asText()).toSeq
          spark.read
            .parquet(dir: _*)
            .select(keyCols.map(col): _*)
            .withColumn("__graft_del_snap", lit(id))
        }
        .reduce(_ unionByName _)
      val d = withSnap.alias("d")
      val x = deletes.alias("x")
      val cond = keyCols
        .map(k => col(s"d.$k") <=> col(s"x.$k"))
        .reduce(_ && _) && col("x.__graft_del_snap") > col("d.__graft_row_snap")
      d.join(x, cond, "left_anti").drop("__graft_row_snap")
    }
  }

}
