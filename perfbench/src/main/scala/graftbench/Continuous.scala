package graftbench

import graft.pages.{PageGen, PageModel, PagePipeline}
import graft.rollup.Rollup
import graft.snapshot.{ContinuousRollup, SnapshotStore}
import graftbench.Common._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `continuous`: `Main`'s ingest/update path under a closed loop with
  * one client. Set-up appends the first 28 days of a corrupted corpus
  * as one snapshot (`SnapshotStore.append(tsCol = warc_ts)`) and
  * applies one update (set-up); then each batch is the next 280 pages
  * of the corpus (about 6 hours) in order of the html-embedded true
  * timestamp, so rows with a corrupt timestamp arrive with their batch
  * and every batch has the same size. A batch runs
  * `SnapshotStore.append` -> `PageModel.update` ->
  * `ContinuousRollup.update`. The next batch starts only after the
  * update has committed `_applied`. Per-update fixed cost dominates:
  * manifest resolution, many small jobs, partition overwrites and
  * run-log writes.
  */
object Continuous {

  val Pages: Long = 40000L
  val Domains: Int = 50
  val Fraction: Double = 0.05
  val BaseDays: Int = 28
  /** Pages per batch: about 6 hours of the corpus. */
  val BatchPages: Int = 280
  /** Full batches after the base history. */
  val Slices: Int = 25

  val Series: Seq[String] = Seq("domain", "lang")
  private def sizeCol = length(col("html")).cast("long")
  private def withDomain(df: DataFrame): DataFrame = df.withColumn("domain", PageGen.domainOf("url"))

  /** The corpus as parquet partitioned by `slice`: -1 is the base
    * history, then batch k holds the pages ranked k * BatchPages
    * onwards in true-timestamp order. Returns the rows of each slice.
    */
  def writeInput(spark: SparkSession, seed: Int, path: String): Map[Int, Long] = {
    val isBase = col("true_offset") < BaseDays.toLong * 86400
    val rank = row_number().over(Window.partitionBy(isBase).orderBy(col("true_offset"), col("url")))
    Gen
      .corrupt(Gen.pages(spark, Pages, Domains, seed), Fraction, seed)
      .withColumn("slice", when(isBase, lit(-1)).otherwise(floor((rank - 1) / BatchPages).cast("int")))
      .drop("true_offset")
      .repartition(col("slice"))
      .write
      .partitionBy("slice")
      .parquet(path)
    val rows = spark.read
      .parquet(path)
      .groupBy("slice")
      .count()
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .toMap
    checkInput(path, Pages, rows.values.sum)
    rows
  }

  /** `Main job=update`: roll the lang-count model forward, then fold
    * the new snapshots into every tier. Returns the applied snapshot.
    */
  def update(spark: SparkSession, tr: Tracer, root: String, tiers: String): Long = {
    val from = ContinuousRollup.lastApplied(tiers)
    val to = SnapshotStore.currentSnapshotId(root)
    if (to <= from) from
    else {
      val model = tr.span("continuous.model_update")(PageModel.update(spark, root, tiers, from, to))
      tr.span("continuous.update") {
        ContinuousRollup.update(
          spark,
          root,
          tiers,
          Series,
          "warc_ts",
          sizeCol,
          prepare = df => withDomain(PagePipeline.repairWithCounts(df, model))
        )
      }
    }
  }

  /** One batch: append the slice, update, confirm `_applied` covers it.
    * Returns (freshness seconds, append seconds).
    */
  def batch(spark: SparkSession, tr: Tracer, input: String, slice: Int, root: String, tiers: String): (Double, Double) = {
    val t0 = System.nanoTime()
    val id = tr.span("continuous.append") {
      SnapshotStore.append(root, spark.read.parquet(s"$input/slice=$slice"), tsCol = Some("warc_ts"))
    }
    val appendS = (System.nanoTime() - t0) / 1e9
    update(spark, tr, root, tiers)
    require(ContinuousRollup.lastApplied(tiers) == id, s"_applied does not cover snapshot $id")
    ((System.nanoTime() - t0) / 1e9, appendS)
  }

  /** Every tier equals a batch correct-then-aggregate over the table
    * as `SnapshotStore.read` returns it.
    */
  def checkTiers(spark: SparkSession, root: String, tiers: String, report: Report): Boolean = {
    // repaired once for the four reference tiers
    val repaired = withDomain(PagePipeline.repair(SnapshotStore.read(spark, root))).cache()
    val fps = fingerprints(graft.rollup.Tiers.All.flatMap { t =>
      Seq(s"want_$t" -> Rollup.fromRaw(repaired, Series, "warc_ts", t, sizeCol),
        s"got_$t" -> ContinuousRollup.readTier(spark, tiers, t))
    })
    repaired.unpersist()
    graft.rollup.Tiers.All.map(t => report.check(s"continuous.tier_$t", fps(s"got_$t") == fps(s"want_$t"))).forall(identity)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val report = ctx.report
    val input = s"${ctx.dir}/input"
    val (sliceRows, inputS) = seconds(writeInput(spark, ctx.seed, input))
    report.inputS = inputS
    val root = s"${ctx.dir}/pages"
    val tiers = s"${ctx.dir}/tiers"
    val plain = new Tracer(spark, traced = false)

    // base history: its append and full update also warm the code
    // paths every batch runs
    report.baseS = seconds {
      report.attempt("continuous base append") {
        SnapshotStore.append(root, spark.read.parquet(s"$input/slice=-1"), tsCol = Some("warc_ts")) == 1L
      }
      report.attempt("continuous base update")(update(spark, plain, root, tiers) == 1L)
    }._2

    var next = 0
    /** Runs the next batch; returns its freshness and ingest rate if it
      * succeeded.
      */
    def timedBatch(tr: Tracer): Option[(Double, Double)] = {
      val slice = next
      next += 1
      spark.catalog.clearCache()
      var r = (0.0, 0.0)
      // a batch is two operations, the append and the update
      report.attempted += 1
      if (report.attempt(s"continuous batch $slice") { r = batch(spark, tr, input, slice, root, tiers); true }) {
        val pages = sliceRows.getOrElse(slice, 0L).toDouble
        report.ops += r._1
        report.itemRates += pages / r._2
        Some((r._1, pages / r._2))
      } else { report.failed += 1; None }
    }

    if (!ctx.traced) ctx.loop(() => { timedBatch(plain); next < Slices })
    else {
      val L = report.layers
      // pairs of an untraced and a traced batch, in turns of order,
      // so drift and order hit both sides alike; each pair is followed
      // by the same-window control
      val tr = new Tracer(spark, traced = true)
      val controls = scala.collection.mutable.ArrayBuffer.empty[Double]
      val tracedSlices = scala.collection.mutable.ArrayBuffer.empty[Int]
      def tracedBatch() = { tracedSlices += next; tr.on(timedBatch(tr)) }
      val pairs = (1 to TracedBatches).map { i =>
        val (u, t) =
          if (i % 2 == 1) { val u = timedBatch(plain); (u, tracedBatch()) }
          else { val t = tracedBatch(); (timedBatch(plain), t) }
        controls += sha2RowsPerS(spark, Backfill.ControlRows)
        (u, t)
      }
      val untraced = pairs.flatMap(_._1).map(_._1)
      val tracedFresh = pairs.flatMap(_._2).map(_._1)
      val n = tracedFresh.size.toDouble
      val all = tr.totals(_.startsWith("continuous."))
      SparkLayer.put(L, all, 1.0 / n, ctx.cores)
      val app = tr.totals(_ == "continuous.append")
      val upd = tr.totals(_ == "continuous.update")
      L("freshness_p50_s") = Stats.median(untraced)
      L("freshness_max_s") = untraced.max
      L("ingest_pages_per_s") = Stats.median(pairs.flatMap(_._1).map(_._2))
      L("snapshot.append.s") = Stats.median(tr.walls("continuous.append").toSeq)
      L("snapshot.append.jobs") = app.jobs / n
      // snapshot id of a batch: the base is 1, slice k is k + 2
      val tracedIds = tracedSlices.map(_ + 2L).toSeq
      L("snapshot.append.files") = tracedIds.map(id => dataFiles(s"$root/data/s$id")._2).sum / n
      L("pages.model_update.s") = Stats.median(tr.walls("continuous.model_update").toSeq)
      L("snapshot.update.s") = Stats.median(tr.walls("continuous.update").toSeq)
      L("snapshot.update.jobs") = upd.jobs / n
      L("snapshot.update.core_busy_share") = upd.coreBusyShare(ctx.cores)
      val batchRows = tracedSlices.map(s => sliceRows.getOrElse(s, 0L)).sum
      L("snapshot.update.recompute_amplification") = upd.inputRecords.toDouble / batchRows
      val metrics = ContinuousRollup
        .readMetrics(spark, tiers)
        .filter(col("applied_snapshot").isin(tracedIds: _*))
        .agg(sum("source_dirs_read"), sum("source_dirs_total"))
        .head()
      L("snapshot.update.dirs_read_share") = metrics.getLong(0).toDouble / metrics.getLong(1)
      val lineage = ContinuousRollup
        .readLineage(spark, tiers)
        .filter(col("applied_snapshot").isin(tracedIds: _*))
        .groupBy("tier")
        .agg(sum("rows_out"), sum("partitions_touched"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      graft.rollup.Tiers.All.foreach(t => L(s"snapshot.update.rows_out.$t") = lineage.get(t).map(_._1).getOrElse(0L) / n)
      L("snapshot.update.partitions_touched") = lineage.values.map(_._2).sum / n
      L("control.sha2_rows_per_s") = Stats.median(controls.toSeq)
      val tracedP50 = Stats.median(tracedFresh)
      L("trace.overhead_share") = tracedP50 / Stats.median(untraced) - 1.0
      L("trace.layers_sum_s") = (L("snapshot.append.s") + L("pages.model_update.s") + L("snapshot.update.s"))
      L("trace.untraced_op_s") = Stats.median(untraced)
      L("trace.unaccounted_share") = 1.0 - L("trace.layers_sum_s") / L("trace.untraced_op_s")
    }
    // checked after the last batch; a wrong tier fails that batch's update
    if (!report.phase("tier check")(checkTiers(spark, root, tiers, report))) report.failed += 1
    // the correct layer, measured in this traced run (see Ensemble)
    if (ctx.traced) Ensemble.traced(ctx)
  }

  val TracedBatches: Int = 2
}
