package graft

import graft.correct._
import graft.graph.{Bfs, LabelProp, PageRank, Triangles}
import graft.pages.{PageGen, PagePipeline}
import graft.rollup.{BlockOps, Rollup}
import graft.spark.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The measurement main. Every mode runs on `Sessions.build` at
  * `local[$SPARK_GRAFT_CPUS]` and prints JSON lines:
  *
  *   runMain graft.Bench                               headline (below)
  *   runMain graft.Bench queries q=<name>[,<name>...] [reps=N]
  *   runMain graft.Bench graph [nodes=N]
  *   runMain graft.Bench cleaning [rows=a,b,c]
  *
  * With no arguments it prints ONE JSON line:
  * {"metric":"rollup_points_per_sec_per_executor","value":N,
  *  "unit":"points/sec","queries":{...per-query sec...},
  *  "pages":n,"rollup_sec":s,"sf":dir}
  *
  * The headline metric is the north-rule one: rolled-up points/sec for
  * the pages correct-then-rollup pipeline (4 retention tiers) on the
  * deterministic synthetic page table; local mode = one executor.
  * Query timings use a noop sink so every column is actually computed
  * (a count() would let Catalyst prune the interesting work).
  * Env: SPARK_GRAFT_SF_DIR (queries), SPARK_GRAFT_BENCH_PAGES,
  * SPARK_GRAFT_BENCH_10X.
  *
  * Scaling efficiency with its sha2 control, per-stage task time and
  * skew, and the on-disk ingest -> update path are measured by the
  * repo benchmark (`python3 perfbench/run.py --workload backfill
  * --trace 1`). Per-job wall times come from Spark's own event log
  * (`-Dspark.eventLog.enabled=true`).
  */
object Bench {

  def noopRun(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The value of `f` and its wall seconds. */
  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Domains in the bench corpus. */
  val BenchDomains = 50

  /** Materialize the bench corpus in the engine's canonical layout and
    * return its path. Two properties matter for honest scaling
    * numbers:
    *  - split-rich: a real 100 TB table has thousands of row groups, so
    *    the scan here must too (256 files) — a handful of
    *    single-row-group files would serialize every map stage;
    *  - time-range partitioned (`repartitionByRange(warc_ts)`): the
    *    north-rule storage layout. Each scan split then covers a
    *    narrow time window, so the 1m-tier partial aggregation
    *    collapses rows map-side before the exchange — with randomly
    *    time-shuffled input every task spans all buckets and the
    *    "partial" aggregate reduces nothing.
    */
  def ensureBenchInput(spark: SparkSession, nPages: Long): String = {
    val path = s"/tmp/graft_bench_pages_${nPages}_$BenchDomains"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) {
      PageGen
        .corrupt(PageGen.clean(spark, nPages, BenchDomains))
        .repartitionByRange(256, col("warc_ts"))
        .write
        .mode("overwrite")
        .parquet(path)
    }
    path
  }

  /** Pages pipeline benchmark: corrupt pages are materialized to
    * parquet once (untimed — input generation is not pipeline work),
    * then the timed section is the real storage-to-rollup path:
    * parquet scan -> repair -> 4 tier tables.
    * Returns (tierPoints, blockRows, tiersSec, blocksSec). The headline
    * metric is (tierPoints + blockRows) / (tiersSec + blocksSec) — the
    * definition recorded since end of round 1 (block stage included);
    * the split is reported alongside so tier-only throughput stays
    * comparable across rounds too.
    */
  def rollupBench(spark: SparkSession, nPages: Long): (Long, Long, Double, Double) = {
    val dirty = spark.read.parquet(ensureBenchInput(spark, nPages))
    val t0 = System.nanoTime()
    val repaired = PagePipeline.repair(dirty)
    // long-form tiers: lang rides as a series key, so every tier is
    // exactly ONE partial+final hash aggregate (the scale
    // representation; the lang-histogram map is a presentation-time
    // fold over these rows — `Rollup.fromRaw(langCol=...)`)
    val series = Seq("domain", "lang")
    // persist each tier so the chain computes once (the production
    // path writes each tier table; persist is its bench stand-in)
    val t1m = Rollup
      .fromRaw(
        repaired.withColumn("domain", PageGen.domainOf("url")),
        series,
        "warc_ts",
        "1m",
        length(col("html")).cast("long")
      )
      .persist()
    val t1h = Rollup.reRollup(t1m, series, "1m" -> "1h").persist()
    val t1d = Rollup.reRollup(t1h, series, "1h" -> "1d").persist()
    val t30 = Rollup.reRollup(t1d, series, "1d" -> "30d")
    val tierPoints = t1m.count() + t1h.count() + t1d.count() + t30.count()
    val tiersSec = (System.nanoTime() - t0) / 1e9
    // north-rule block stage: Gorilla-XOR values + delta-of-delta
    // timestamps per (series, hour) — the compressed columnar structs
    // the tier store persists
    val (blockRows, blocksSec) = seconds(BlockOps.buildBlocks(t1m, series, "1h", "byte_size").count())
    Seq(t1m, t1h, t1d).foreach(_.unpersist())
    (tierPoints, blockRows, tiersSec, blocksSec)
  }

  /** Same-window pure-codegen control: an allocation-free sha2 chain
    * over range() — no input, no shuffle — measuring the CPU actually
    * available in THIS wall-clock window. BASELINE.md documents an
    * honest 82k–208k points/s swing across IDENTICAL code on this
    * co-tenant box; dividing the headline by (control / reference)
    * removes that window factor, so cross-round comparisons track the
    * pipeline, not the neighbors. Returns rows/sec, best of `reps`.
    */
  def controlRowsPerSec(spark: SparkSession, rows: Long, reps: Int = 3): Double = {
    def run(n: Long): Long =
      spark
        .range(n)
        .select(
          sha2(concat(lit("k"), col("id"), sha2(concat(col("id") * 7, lit("x")).cast("string"), 256)).cast("string"), 256)
            .as("h")
        )
        .select(count(when(substring(col("h"), 1, 1) === "a", 1)).as("c"))
        .head()
        .getLong(0)
    run(rows / 100) // warm codegen
    (1 to reps).map(_ => rows / seconds(run(rows))._2).max
  }

  /** Reference control throughput (rows/sec at local[32]) measured in
    * a clean window on 2026-08-21 (34.7M / 34.2M over two fresh JVMs);
    * `control_normalized_points_per_sec` = headline × ref / control.
    * Defined for the driver protocol (local[32]) ONLY — at other core
    * counts the control shifts with per-core memory bandwidth and the
    * normalized figure is not cross-comparable, so it is `null` there
    * (the raw control is still reported for the record).
    */
  val RefControlRowsPerSec: Double = 3.44e7

  /** Compute one driver query through the noop sink; a cached result
    * (lifecycle, LSH paths) is released before the next timing starts.
    */
  def runQuery(spark: SparkSession, sfDir: String, name: String): Unit = {
    val out = SparkEntry.queries(name)(spark, sfDir)
    noopRun(out)
    out.unpersist()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val kv = Main.keyValues(args.drop(1))
    val run: SparkSession => Seq[String] = args.headOption match {
      case None => spark => Seq(headline(spark, sfDir))
      case Some("queries") =>
        val names = kv.getOrElse("q", sys.error("queries needs q=<name>[,<name>...]")).split(',').toSeq
        spark => Seq(queries(spark, sfDir, names, kv.getOrElse("reps", "2").toInt))
      case Some("graph") => spark => Seq(graph(spark, kv.getOrElse("nodes", "2000000").toLong))
      case Some("cleaning") =>
        val rows = kv.getOrElse("rows", "5000,10000,25000").split(',').toSeq.map(_.trim.toLong)
        spark => cleaning(spark, rows)
      case Some(other) => sys.error(s"unknown mode '$other' (expected queries, graph or cleaning)")
    }
    val spark = Sessions.build(Sessions.localMaster, s"graft-bench${args.headOption.fold("")("-" + _)}")
    spark.sparkContext.setLogLevel("WARN")
    try run(spark).foreach(println)
    finally spark.stop()
  }

  def headline(spark: SparkSession, sfDir: String): String = {
    val nPages = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAGES", "1000000").toLong
    def normalized(pointsPerSec: Double, control: Double): String =
      if (Sessions.coresOf(spark.sparkContext.master) == 32) f"${pointsPerSec * RefControlRowsPerSec / control}%.1f"
      else "null"

    // warm the JVM/codegen paths once at tiny scale
    rollupBench(spark, 10000L)

    // headline measurement FIRST (input just materialized -> page
    // cache warm, no interference from the query suite), best of 3
    // trials — single-trial numbers swung 2x with cache/GC state,
    // which is run noise, not pipeline speed
    val trials = (1 to 3).map(_ => rollupBench(spark, nPages))
    val (tierPoints, blockRows, tiersSec, blocksSec) = trials.minBy(t => t._3 + t._4)
    val points = tierPoints + blockRows
    val rollupSec = tiersSec + blocksSec
    val pointsPerSec = points / rollupSec
    val trialsJson = trials.map(t => f"${t._3 + t._4}%.2f").mkString("[", ",", "]")
    // control rides the SAME window as the headline trials it normalizes
    val control = controlRowsPerSec(spark, 60000000L)
    val normalizedJson = normalized(pointsPerSec, control)

    val results = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      name -> seconds {
        try runQuery(spark, sfDir, name)
        catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}") }
      }._2
    }
    val qs = results
      .map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum

    // scale-stress: the same pipeline at 10x pages, one trial — pins
    // that the headline story is fixed-overhead + linear data work, not
    // an artifact of the 1M-row working set (input generation untimed)
    val scale10x =
      if (sys.env.getOrElse("SPARK_GRAFT_BENCH_10X", "1") == "1") {
        try {
          val (tp10, br10, ts10, bs10) = rollupBench(spark, nPages * 10)
          val pps10 = (tp10 + br10) / (ts10 + bs10)
          // the 10x stage runs minutes after the headline — its own
          // in-window control keeps the row comparable too
          val c10 = controlRowsPerSec(spark, 60000000L, reps = 2)
          f""","scale10x":{"pages":${nPages * 10},"points":${tp10 + br10},"rollup_sec":${ts10 + bs10}%.2f,"points_per_sec":$pps10%.1f,"control_rows_per_sec":$c10%.0f,"control_normalized_points_per_sec":${normalized(pps10, c10)}}"""
        } catch { case e: Throwable => System.err.println(s"[bench] 10x stage failed: ${e.getMessage}"); "" }
      } else ""

    f"""{"metric":"rollup_points_per_sec_per_executor","value":$pointsPerSec%.1f,"unit":"points/sec","metric_def":"(tier points + block rows) / (repair+tiers sec + block-build sec), best of 3 trials pre-suite; formula unchanged since round 1, but measurement protocol differs from round 1 (single trial post-suite) — cross-round comparisons carry protocol variance","trials_sec":$trialsJson,"control_rows_per_sec":$control%.0f,"control_ref_rows_per_sec":$RefControlRowsPerSec%.0f,"control_normalized_points_per_sec":$normalizedJson,"queries":$qs,"queries_total_sec":$total%.2f,"pages":$nPages,"rollup_points":$points,"rollup_sec":$rollupSec%.2f,"tier_points":$tierPoints,"tiers_sec":$tiersSec%.2f,"block_rows":$blockRows,"blocks_sec":$blocksSec%.2f$scale10x,"sf":"$sfDir"}"""
  }

  /** Seconds per repetition of each named driver query. */
  def queries(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int): String = {
    val qs = names.map { name =>
      val secs = (1 to reps).map(_ => seconds(runQuery(spark, sfDir, name))._2)
      "\"" + name + "\":" + secs.map(s => f"$s%.3f").mkString("[", ",", "]")
    }
    s"""{"metric":"query_sec","reps":$reps,"queries":${qs.mkString("{", ",", "}")},"sf":"$sfDir"}"""
  }

  /** The graph operators on a synthetic graph of `n` nodes with 3
    * out-edges each (pure-codegen `range()` generation, so no I/O in
    * the measurement); the driver fixtures only run the 500-doc table.
    */
  def graph(spark: SparkSession, n: Long): String = {
    val edges = spark
      .range(n)
      .select(col("id").as("src"), explode(array(lit(1), lit(2), lit(3))).as("j"))
      .select(col("src"), pmod(col("src") * 7 + col("j") * 13, lit(n)).as("dst"))
    val seeds = spark.range(n).filter(pmod(col("id"), lit(1999)) === 0).select(col("id").as("v"))
    val prSec = seconds(noopRun(PageRank.ranks(edges, "src", "dst", iters = 8)))._2
    val triSec = seconds(noopRun(Triangles.perNode(edges, "src", "dst")))._2
    val bfsSec = seconds(noopRun(Bfs.levels(edges, "src", "dst", seeds, "v", maxDepth = 3)))._2
    val lpSec = seconds(noopRun(LabelProp.communities(edges, "src", "dst", iters = 3)))._2
    val e = 3L * n
    f"""{"metric":"graph_bench","nodes":$n,"edges":$e,"pagerank8_sec":$prSec%.2f,"pagerank_edge_traversals_per_sec":${(e * 8 / prSec).toLong},"triangles_sec":$triSec%.2f,"bfs3_sec":$bfsSec%.2f,"labelprop3_sec":$lpSec%.2f}"""
  }

  /** ncvoters-shaped synthetic table (FIXTURES.md §3 archetype). */
  def voters(spark: SparkSession, n: Long): DataFrame = {
    val h = xxhash64(col("id"), lit(7))
    def pick(seed: Int, vals: Seq[String]) =
      element_at(array(vals.map(lit): _*), (pmod(xxhash64(col("id"), lit(seed)), lit(vals.size.toLong)) + 1).cast("int"))
    val zip = concat(lit("2"), pmod(h, lit(70L)) + 100) // 70 zips
    spark
      .range(n)
      .select(
        col("id").as("row_id"),
        concat(lit("fn"), pmod(h, lit(997L))).as("first_name"),
        concat(lit("mn"), pmod(h, lit(97L))).as("middle_name"),
        concat(lit("ln"), pmod(h, lit(797L))).as("last_name"),
        (pmod(h, lit(70L)) + 18).cast("string").as("age"),
        pick(11, Seq("m", "f", "u")).as("gender"),
        pick(12, Seq("w", "b", "a", "i", "o")).as("race"),
        pick(13, Seq("dem", "rep", "una", "lib")).as("party"),
        concat(pmod(h, lit(9999L)), lit(" main st")).as("street_address"),
        // zip functionally determines city and state: the FDs the
        // corrector ensemble exploits (ncvoters' zip_code -> res_city)
        zip.as("zip_code"),
        concat(lit("city"), zip).as("city"),
        concat(lit("st"), pmod(zip.cast("long"), lit(5L))).as("state"),
        concat(lit("area"), pmod(h, lit(30L))).as("area_code"),
        concat(lit("ph"), pmod(h, lit(9999L))).as("phone_number"),
        pick(14, Seq("active", "inactive", "denied")).as("status"),
        concat(lit("p"), pmod(h, lit(20L))).as("precinct"),
        concat(lit("m"), pmod(h, lit(12L))).as("municipality"),
        concat(lit("w"), pmod(h, lit(8L))).as("ward"),
        concat(lit("d"), pmod(h, lit(13L))).as("district")
      )
  }

  /** The reference's scalability experiment (BASELINE.md: ncvoters, 19
    * string columns, simple_mcar ef=2, runtimes 1017 s @ 5k rows to
    * 1945 s @ 25k rows single-node) re-run against this engine: the
    * `voters` table (zip->city/state FDs), 2% MCAR cell corruption,
    * perfect detection, 20-tuple Baran budget, the full deterministic
    * ensemble. One JSON line per row count.
    */
  def cleaning(spark: SparkSession, rowCounts: Seq[Long]): Seq[String] = {
    val cols = voters(spark, 1).columns.filterNot(_ == "row_id").toSeq
    rowCounts.map { n =>
      val clean = voters(spark, n).cache()
      // simple_mcar ef=2: ~2% of cells blanked, spread over all columns
      val dirty = cols.foldLeft(clean) { (df, c) =>
        df.withColumn(c, when(pmod(xxhash64(col("row_id"), lit(c)), lit(100L)) < 2, lit("")).otherwise(col(c)))
      }
      val diff = Cells.cellDiff(dirty, clean, "row_id", cols).cache()
      val detected = diff.select(col("row_id"), col("col"), col("dirty_value").as("error_value"))
      val actual = diff.select(col("row_id"), col("col"), col("clean_value"))
      val labels = actual.filter(col("row_id").isin(Correctors.baranSample(detected, 20): _*))
      val (m, sec) = seconds {
        val corrections =
          Cleaning.run(dirty, "row_id", cols, detected, labels, CleaningConfig(usePdepVicinity = true))
        Correctors.evaluate(corrections, actual)
      }
      val line =
        f"""{"metric":"cleaning_scalability","rows":$n,"n_errors":${detected.count()},"seconds":$sec%.1f,"ec_f":${m("ec_f")}%.4f,"rows_per_sec":${n / sec}%.0f}"""
      clean.unpersist(); diff.unpersist()
      line
    }
  }
}
