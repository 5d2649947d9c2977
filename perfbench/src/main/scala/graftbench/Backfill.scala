package graftbench

import graft.pages.{PageGen, PagePipeline}
import graft.rollup.{BlockOps, Rollup}
import graft.spark.Sessions
import graftbench.Common._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `backfill`: a corrupted page corpus, written once per set-up as
  * `warc_ts`-range-clustered parquet, rolled up from scratch to tier
  * files on disk. One operation is one pass: parquet scan ->
  * `PagePipeline.repair` -> `Rollup.fromRaw` 1m -> `reRollup`
  * 1h/1d/30d -> `BlockOps.buildBlocks` 1h, every table written as
  * parquet. At this size most of a pass is fixed cost; the per-row
  * work of repair, aggregation, block encoding and writes is about a
  * quarter of it. Snapshot manifests and `Cleaning.run` are never
  * touched.
  */
object Backfill {

  val Pages: Long = 200000L
  val Domains: Int = 50
  val Fraction: Double = 0.05
  val InputFiles: Int = 16

  val Series: Seq[String] = Seq("domain", "lang")
  val Tiers: Seq[String] = Seq("1m", "1h", "1d", "30d")
  val Edges: Seq[(String, String)] = Seq("1m" -> "1h", "1h" -> "1d", "1d" -> "30d")

  private def sizeCol = length(col("html")).cast("long")
  private def withDomain(df: DataFrame): DataFrame = df.withColumn("domain", PageGen.domainOf("url"))

  /** The uncorrupted corpus of `pages` pages. */
  def clean(spark: SparkSession, seed: Int, pages: Long): DataFrame =
    Gen.pages(spark, pages, Domains, seed).drop("true_offset")

  def writeInput(spark: SparkSession, seed: Int, pages: Long, path: String): Unit = {
    Gen
      .corrupt(clean(spark, seed, pages), Fraction, seed)
      .repartitionByRange(InputFiles, col("warc_ts"))
      .write
      .parquet(path)
    checkInput(path, pages, spark.read.parquet(path).count())
  }

  /** One backfill pass from `input` to tier and block tables under
    * `out`. Each finer tier is read back from its file, as a later
    * job over the tier store would.
    */
  def pass(spark: SparkSession, tr: Tracer, input: String, out: String): Unit = {
    tr.span("backfill.tier_1m") {
      Rollup
        .fromRaw(withDomain(PagePipeline.repair(spark.read.parquet(input))), Series, "warc_ts", "1m", sizeCol)
        .write
        .parquet(s"$out/tier_1m")
    }
    tr.span("backfill.cascade") {
      Edges.foreach { case (from, to) =>
        Rollup.reRollup(spark.read.parquet(s"$out/tier_$from"), Series, from -> to).write.parquet(s"$out/tier_$to")
      }
    }
    tr.span("backfill.blocks") {
      BlockOps.buildBlocks(spark.read.parquet(s"$out/tier_1m"), Series, "1h", "byte_size").write.parquet(s"$out/blocks_1h")
    }
  }

  /** Rows of every tier and of the block table that each pass in
    * `outs` wrote, counted in one job.
    */
  def points(spark: SparkSession, outs: Seq[String]): Map[String, Map[String, Long]] = {
    val tables = (Tiers.map(t => t -> s"tier_$t") :+ ("blocks" -> "blocks_1h")).toMap
    val counts = outs
      .flatMap(o => tables.map { case (k, t) => spark.read.parquet(s"$o/$t").select(lit(o).as("o"), lit(k).as("k")) })
      .reduce(_ unionByName _)
      .groupBy("o", "k")
      .count()
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    outs.map(o => o -> tables.keys.map(k => k -> counts.getOrElse((o, k), 0L)).toMap).toMap
  }

  /** The tables of a pass, and the pages repaired from `input`, in
    * the shapes the reference side gives them: blocks decoded back to
    * points, text compared as bytes.
    */
  private def outputTables(spark: SparkSession, out: String): Seq[(String, DataFrame)] =
    Tiers.map(t => s"tier_$t" -> spark.read.parquet(s"$out/tier_$t")) :+
      ("blocks_1h" -> BlockOps
        .explodeBlocks(spark.read.parquet(s"$out/blocks_1h"), Series)
        .select(col("domain"), col("lang"), col("point_ts").as("bucket_ts"), col("value").as("byte_size")))

  private def pageKey(pages: DataFrame): DataFrame =
    pages.select(col("url"), encode(col("text"), "UTF-8").as("text"), col("warc_ts"), col("lang"))

  /** Reference tables a correct run must reproduce: every tier from
    * `Rollup.fromRaw` over the uncorrupted corpus, the 1h blocks
    * decoding back to its 1m points, and the repaired pages equal to
    * the clean ones per url (text byte-identical).
    */
  def expected(spark: SparkSession, seed: Int, pages: Long): Seq[(String, DataFrame)] = {
    // generated once for the six reference tables
    val cleanPages = clean(spark, seed, pages).cache()
    val dom = withDomain(cleanPages)
    Tiers.map(t => s"tier_$t" -> Rollup.fromRaw(dom, Series, "warc_ts", t, sizeCol)) ++ Seq(
      "blocks_1h" -> Rollup
        .fromRaw(dom, Series, "warc_ts", "1m", sizeCol)
        .select(col("domain"), col("lang"), col("bucket_ts"), col("byte_size").cast("double").as("byte_size")),
      "repaired_pages" -> pageKey(cleanPages)
    )
  }

  /** Checks the output of every pass in `outs`, and the pages repaired
    * from `input`, against the reference in one job. Returns the
    * passes whose output differs.
    */
  def checkPasses(
      spark: SparkSession,
      seed: Int,
      pages: Long,
      input: String,
      outs: Seq[String],
      report: Report
  ): Seq[String] = {
    val exp = expected(spark, seed, pages).map { case (n, df) => s"want/$n" -> df }
    val got = outs.flatMap(o => outputTables(spark, o).map { case (n, df) => s"$o/$n" -> df }) :+
      ("got/repaired_pages" -> pageKey(PagePipeline.repair(spark.read.parquet(input))))
    val fp = fingerprints(exp ++ got)
    spark.catalog.clearCache()
    report.check("backfill.repaired_pages", fp("got/repaired_pages") == fp("want/repaired_pages"))
    outs.filterNot { o =>
      outputTables(spark, o).map(_._1).map(n => report.check(s"backfill.$n", fp(s"$o/$n") == fp(s"want/$n"))).forall(identity)
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val report = ctx.report
    val input = s"${ctx.dir}/input"
    report.inputS = seconds(writeInput(spark, ctx.seed, Pages, input))._2
    var passNo = 0
    val outs = scala.collection.mutable.ArrayBuffer.empty[String]
    val plain = new Tracer(spark, traced = false)

    // warm-up: one pass over a quarter of the input files, which runs
    // every plan of a pass for JIT and codegen; part of set-up
    report.baseS = seconds {
      val warmOut = s"${ctx.dir}/out_warm"
      report.attempt("backfill warm-up pass") { pass(spark, plain, s"$input/part-0000[0-3]-*", warmOut); true }
      delete(warmOut)
    }._2

    // one pass into a fresh directory, its output checked after the
    // timed section; leaked library caches are cleared first so each
    // pass pays for its own model scan, as a fresh job would
    def timedPass(tr: Tracer): Option[(Double, String)] = {
      passNo += 1
      val o = s"${ctx.dir}/out_$passNo"
      spark.catalog.clearCache()
      var s = 0.0
      val ok = report.attempt(s"backfill pass $passNo") { s = seconds(pass(spark, tr, input, o))._2; true }
      if (ok) { outs += o; Some((s, o)) }
      else None
    }

    // rows per table of every pass, read after the timed section
    lazy val counts = report.phase("row counts")(points(spark, outs.toSeq))
    lazy val pts = counts(outs.head)
    def plainPass(): Unit = timedPass(plain).foreach { case (s, _) => report.ops += s }
    if (!ctx.traced) ctx.loop { () => plainPass(); true }
    else traced(ctx, input, pts, () => plainPass(), timedPass)
    if (outs.nonEmpty) report.itemRates ++= report.ops.map(pts.values.sum / _)

    // the last pass is checked in full; every pass is checked for its
    // row counts against the first, which are cheap to read
    val counted = outs.filter(o => counts(o) != pts)
    counted.foreach(o => System.err.println(s"[graftbench] row counts differ in $o"))
    val wrong = report.phase("output checks")(checkPasses(spark, ctx.seed, Pages, input, outs.takeRight(1).toSeq, report))
    report.check("backfill.row_counts", counted.isEmpty)
    report.failed += (counted ++ wrong).distinct.size
    outs.foreach(delete)
    if (ctx.traced) scaling(ctx, input)
  }

  val ControlRows: Long = 2000000L
  val TracedReps: Int = 2

  private def traced(
      ctx: Ctx,
      input: String,
      pts: => Map[String, Long],
      plainPass: () => Unit,
      timedPass: Tracer => Option[(Double, String)]
  ): Unit = {
    val spark = ctx.spark
    val L = ctx.report.layers

    // one more untimed pass, since the first full-size pass after the
    // warm-up is still slow; then pairs of an untraced and a traced
    // pass, in turns of order, each pair followed by the same-window
    // control, so drift and order hit both sides alike
    timedPass(new Tracer(spark, traced = false))
    val tr = new Tracer(spark, traced = true)
    val controls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedRuns = (1 to TracedReps).flatMap { i =>
      if (i % 2 == 1) plainPass()
      val r = tr.on(timedPass(tr))
      if (i % 2 == 0) plainPass()
      controls += sha2RowsPerS(spark, ControlRows)
      r
    }
    val untraced = Stats.median(ctx.report.ops.toSeq)
    val tracedS = Stats.median(tracedRuns.map(_._1))
    val lastOut = tracedRuns.last._2
    val tot = tr.totals(_.startsWith("backfill."))
    SparkLayer.put(L, tot, 1.0 / tracedRuns.size, ctx.cores)

    // layer self times: each layer runs to a noop sink on the cached
    // output of the layer before it, so no layer's time includes
    // another's; then every table is written from its cache, which
    // times encoding, file writes and commits on their own
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def layerTimes(i: Int): Map[String, Double] = {
      spark.catalog.clearCache()
      val times = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      def layer(name: String, df: DataFrame): DataFrame = {
        times += name -> seconds(noop(df))._2
        val c = df.cache()
        c.count()
        c
      }
      val scan = layer("floor.scan_s", spark.read.parquet(input).select("url", "warc_ts", "html", "text", "lang"))
      val repaired = layer("pages.repair.s", withDomain(PagePipeline.repair(scan)))
      val m1 = layer("rollup.tier_1m.s", Rollup.fromRaw(repaired, Series, "warc_ts", "1m", sizeCol))
      val tiers = Edges.scanLeft("1m" -> m1) { case ((_, df), (f, t)) =>
        t -> layer("rollup.cascade.s", Rollup.reRollup(df, Series, f -> t))
      }
      val blocks = layer("rollup.blocks.s", BlockOps.buildBlocks(m1, Series, "1h", "byte_size"))
      val dir = s"${ctx.dir}/writes_$i"
      (tiers.map { case (t, df) => s"tier_$t" -> df } :+ ("blocks_1h" -> blocks)).foreach { case (n, df) =>
        times += "rollup.write.s" -> seconds(df.write.parquet(s"$dir/$n"))._2
      }
      spark.catalog.clearCache()
      delete(dir)
      times.groupMapReduce(_._1)(_._2)(_ + _)
    }
    val reps = (1 to TracedReps).map(layerTimes)
    val layerNames = reps.head.keys.toSeq
    layerNames.foreach(n => L(n) = Stats.median(reps.map(_(n))))
    val (bytes, files) = dataFiles(lastOut)
    L("rollup.write.bytes") = bytes.toDouble
    L("rollup.write.files") = files.toDouble
    Tiers.foreach(t => L(s"rollup.points.$t") = pts(t).toDouble)
    L("rollup.blocks.rows") = pts("blocks").toDouble
    L("rollup_points_per_s") = pts.values.sum / untraced

    val b = spark.read
      .parquet(s"$lastOut/blocks_1h")
      .agg(sum(length(col("ts_block"))), sum(length(col("val_block"))), sum(col("block_points")))
      .head()
    val (tsBytes, valBytes, blockPoints) = (b.getLong(0), b.getLong(1), b.getLong(2).toDouble)
    L("core.blocks.ts_bits_per_point") = tsBytes * 8 / blockPoints
    L("core.blocks.val_bits_per_point") = valBytes * 8 / blockPoints
    L("block_bits_per_point") = (tsBytes + valBytes) * 8 / blockPoints

    val dirty = spark.read.parquet(input)
    val repaired = PagePipeline.repair(dirty)
    L("pages.repair.cells_fixed") = dirty
      .select(col("url"), col("warc_ts").as("dts"), col("text").as("dtext"), col("lang").as("dlang"))
      .join(repaired, "url")
      .select(
        (when(!(col("dts") <=> col("warc_ts")), 1).otherwise(0) +
          when(!(col("dtext") <=> col("text")), 1).otherwise(0) +
          when(!(col("dlang") <=> col("lang")), 1).otherwise(0)).as("n")
      )
      .agg(sum("n"))
      .head()
      .getLong(0)
      .toDouble

    L("control.sha2_rows_per_s") = Stats.median(controls.toSeq)
    L("trace.overhead_share") = tracedS / untraced - 1.0
    // every layer measured on its own; what the untraced pass spends
    // beyond their sum is tier read-back, running the layers fused
    // rather than from caches, job scheduling between them, and noise
    L("trace.layers_sum_s") = layerNames.map(L).sum
    L("trace.untraced_op_s") = untraced
    L("trace.unaccounted_share") = 1.0 - L("trace.layers_sum_s") / untraced
  }

  /** local[1] against local[N]: one pass and the control at both
    * widths. Runs last, since it replaces the session.
    */
  private def scaling(ctx: Ctx, input: String): Unit = {
    val L = ctx.report.layers
    val controlN = L("control.sha2_rows_per_s")
    val one = Sessions.rebuild("local[1]", "graftbench-1")
    val oneOut = s"${ctx.dir}/out_local1"
    val (_, s1) = seconds(pass(one, new Tracer(one, traced = false), input, oneOut))
    val control1 = sha2RowsPerS(one, ControlRows)
    L("scaling.efficiency_1_to_N") = s1 / (ctx.cores * L("trace.untraced_op_s"))
    L("scaling.control_efficiency_1_to_N") = controlN / (ctx.cores * control1)
    delete(oneOut)
  }
}
