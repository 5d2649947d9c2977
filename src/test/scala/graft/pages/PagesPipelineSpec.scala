package graft.pages

import graft.SparkSpec
import graft.correct.Cells
import graft.rollup.Rollup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** North-rule E2E gate: corrupt -> detect -> repair must restore the
  * clean table exactly (byte-identical `text` per url), and tier
  * rollups of the repaired table must equal the correct-then-aggregate
  * oracle computed from the clean table in one pass.
  */
class PagesPipelineSpec extends SparkSpec {

  private val N = 4000L

  private lazy val clean = PageGen.clean(spark, N).cache()
  private lazy val dirty = PageGen.corrupt(clean, fraction = 0.05).cache()
  private lazy val repaired = PagePipeline.repair(dirty).cache()

  private def comparable(df: DataFrame): DataFrame =
    df.select(
      col("url"),
      col("warc_ts"),
      md5(col("html")).as("html_md5"),
      col("text"),
      col("lang")
    )

  /** `Main job=update`: roll the lang-count model forward, then fold
    * the new snapshots into every tier with the model-based repair.
    */
  private def pagesUpdate(root: String, tiers: String): Long = {
    import graft.snapshot.{ContinuousRollup, SnapshotStore}
    val from = ContinuousRollup.lastApplied(tiers)
    val to = SnapshotStore.currentSnapshotId(root)
    val model = PageModel.update(spark, root, tiers, from, to)
    ContinuousRollup.update(
      spark, root, tiers, Seq("domain", "lang"), "warc_ts",
      length(col("html")).cast("long"),
      prepare = df => PagePipeline.repairWithCounts(df, model).withColumn("domain", PageGen.domainOf("url"))
    )
  }

  private def mapFree(df: DataFrame): DataFrame =
    if (df.columns.contains("lang_hist"))
      df.withColumn("lang_hist", array_sort(map_entries(col("lang_hist"))))
    else df

  test("corruption actually dirties cells of all three classes") {
    val diff = Cells.cellDiff(
      PageGen.withRowId(dirty).withColumn("warc_ts", col("warc_ts").cast("string")),
      PageGen.withRowId(clean).withColumn("warc_ts", col("warc_ts").cast("string")),
      "row_id",
      Seq("warc_ts", "text", "lang")
    )
    val byCol = diff.groupBy("col").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byCol.keySet == Set("warc_ts", "text", "lang"), s"got $byCol")
    assert(byCol.values.forall(_ > 50), s"got $byCol")
  }

  test("repair restores the clean table exactly (incl. byte-identical text per url)") {
    val a = comparable(repaired)
    val b = comparable(clean)
    assert(a.except(b).isEmpty && b.except(a).isEmpty)

    // explicit per-url text byte-identity vs the clean (reference
    // corrector) values
    val mismatch = repaired
      .select(col("url"), col("text").as("t1"))
      .join(clean.select(col("url"), col("text").as("t2")), "url")
      .filter(col("t1") =!= col("t2"))
      .count()
    assert(mismatch == 0L)
  }

  test("tier rollups of repaired == correct-then-aggregate oracle, all 4 tiers") {
    def tiers(df: DataFrame) = Rollup.allTiers(
      df.withColumn("domain", PageGen.domainOf("url")),
      Seq("domain"),
      "warc_ts",
      length(col("html")).cast("long"),
      langCol = Some("lang")
    )
    val got = tiers(repaired)
    val want = tiers(clean)
    for (t <- Seq("1m", "1h", "1d", "30d")) {
      val g = mapFree(got(t))
      val w = mapFree(want(t))
      assert(g.except(w).isEmpty && w.except(g).isEmpty, s"tier $t mismatch")
    }
    // 30d tier really has >= 2 buckets (35-day span)
    assert(want("30d").select("bucket_ts").distinct().count() >= 2)
  }

  test("generator is parallelism-invariant (seed-stable)") {
    import graft.spark.Sessions
    val a = PageGen.clean(spark, 500L).repartition(1)
    val b = PageGen.clean(spark, 500L).repartition(7)
    val ca = comparable(a)
    val cb = comparable(b)
    assert(ca.except(cb).isEmpty && cb.except(ca).isEmpty)
  }

  test("detection finds exactly the corrupted cells on this fixture") {
    val detected = PagePipeline.detectErrors(dirty)
    val actual = Cells.cellDiff(
      PageGen.withRowId(dirty).withColumn("warc_ts", col("warc_ts").cast("string")),
      PageGen.withRowId(clean).withColumn("warc_ts", col("warc_ts").cast("string")),
      "row_id",
      Seq("warc_ts", "text", "lang")
    )
    val d = detected.select("row_id", "col")
    val a = actual.select("row_id", "col")
    assert(d.except(a).isEmpty, "false positives")
    assert(a.except(d).isEmpty, "missed errors")
  }

  test("incremental model + file-pruned updates == one-shot repair rollup, exactly") {
    import graft.snapshot.{ContinuousRollup, SnapshotStore}
    val base = java.nio.file.Files.createTempDirectory("pages_incr").toString
    val root = s"$base/src"
    val tiers = s"$base/tiers"
    // batch 2 is a crawl of the LAST few days only: its corrupted
    // timestamps (epoch-0 sentinels) repair back into that window, so
    // the second update recomputes only recent partitions
    val b1 = PageGen.corrupt(clean.filter(col("warc_ts") < "2024-02-01"))
    val b2 = PageGen.corrupt(clean.filter(col("warc_ts") >= "2024-02-01"))

    SnapshotStore.append(root, b1, tsCol = Some("warc_ts"))
    pagesUpdate(root, tiers)
    SnapshotStore.append(root, b2, tsCol = Some("warc_ts"))
    pagesUpdate(root, tiers)

    // the second update pruned: days 01-01..01-16 (previous 30d
    // window, untouched by a February crawl) were never opened
    val m = graft.snapshot.ContinuousRollup
      .readMetrics(spark, tiers)
      .filter(col("applied_snapshot") === 2)
      .head()
    assert(
      m.getAs[Int]("source_dirs_read") < m.getAs[Int]("source_dirs_total"),
      s"expected pruning: ${m.getAs[Int]("source_dirs_read")}/${m.getAs[Int]("source_dirs_total")}"
    )

    // bit-exact vs the one-shot repair-then-rollup of the full table
    val oneShot = PagePipeline.repair(dirty).withColumn("domain", PageGen.domainOf("url"))
    for (t <- Seq("1h", "1d", "30d")) {
      val got = ContinuousRollup.readTier(spark, tiers, t)
      val want = Rollup.fromRaw(oneShot, Seq("domain", "lang"), "warc_ts", t, length(col("html")).cast("long"))
      assert(got.except(want).isEmpty && want.except(got).isEmpty, s"tier $t mismatch")
    }
  }

  test("updates on both write-layout branches == one-shot repair rollup, all 4 tiers") {
    import graft.snapshot.{ContinuousRollup, SnapshotStore}
    val base = java.nio.file.Files.createTempDirectory("pages_layout").toString
    val (root, tiers) = (s"$base/src", s"$base/tiers")
    // the first update folds about 10k pages into more 1m rows than the
    // small-tier bound (5,000), so its fine tiers take the clustered
    // layout; the second, a 4-day crawl, stays under it
    val big = PageGen.clean(spark, 12000L)
    SnapshotStore.append(root, PageGen.corrupt(big.filter(col("warc_ts") < "2024-02-01")), tsCol = Some("warc_ts"))
    assert(pagesUpdate(root, tiers) == 1L)
    SnapshotStore.append(root, PageGen.corrupt(big.filter(col("warc_ts") >= "2024-02-01")), tsCol = Some("warc_ts"))
    assert(pagesUpdate(root, tiers) == 2L)

    val rows1m = ContinuousRollup
      .readLineage(spark, tiers)
      .filter(col("tier") === "1m")
      .select("applied_snapshot", "rows_out")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(rows1m(1L) > 5000L && rows1m(2L) < 5000L, s"1m rows per update: $rows1m")

    val oneShot = PagePipeline.repair(PageGen.corrupt(big)).withColumn("domain", PageGen.domainOf("url"))
    for (t <- Seq("1m", "1h", "1d", "30d")) {
      val got = ContinuousRollup.readTier(spark, tiers, t)
      val want = Rollup.fromRaw(oneShot, Seq("domain", "lang"), "warc_ts", t, length(col("html")).cast("long"))
      assert(got.except(want).isEmpty && want.except(got).isEmpty, s"tier $t mismatch")
    }
  }

  test("building a repaired frame runs no Spark job") {
    val pages = dirty
    val model = PagePipeline.langCounts(pages)
    val (built, jobs) = jobsDuring(PagePipeline.repairWithCounts(pages, model))
    assert(jobs == 0, s"$jobs jobs ran while the repair plan was built")
    assert(built.columns.toSeq == PagePipeline.PageCols)
  }

  test("repair passes extra input columns through unchanged, after the page columns") {
    val withExtra = dirty.withColumn("extra", concat(lit("x:"), col("url")))
    val out = PagePipeline.repair(withExtra)
    assert(out.columns.toSeq == PagePipeline.PageCols :+ "extra")
    assert(out.filter(col("extra") =!= concat(lit("x:"), col("url"))).isEmpty)
    assert(comparable(out).except(comparable(repaired)).isEmpty)
  }

  test("lang repair is the domain majority: lexicographic tie-break, null majority keeps the lang") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    def url(domain: String, id: Int) = s"https://$domain.example/p/$id"
    def page(domain: String, id: Int, lang: String) =
      (url(domain, id), ts, s"<html><body>t$id</body></html>".getBytes("UTF-8"), s"t$id", lang)
    val pages = Seq(
      // majority en (3 of 4): the de row is repaired
      page("a", 1, "en"), page("a", 2, "en"), page("a", 3, "en"), page("a", 4, "de"),
      // de and fr tie at 2: the lexicographically smaller de wins
      page("b", 5, "fr"), page("b", 6, "de"), page("b", 7, "fr"), page("b", 8, "de"),
      // null is the majority: no repair, the fr row keeps its lang
      page("c", 9, null), page("c", 10, null), page("c", 11, "fr"),
      // null and de tie at 2: null sorts first and wins, so the fr row
      // keeps its lang (a de majority would repair it to de)
      page("d", 12, null), page("d", 13, "de"), page("d", 14, null), page("d", 15, "de"), page("d", 16, "fr")
    ).toDF(PagePipeline.PageCols: _*)
    val got = PagePipeline
      .repair(pages)
      .select("url", "lang")
      .as[(String, String)]
      .collect()
      .toMap
    val want = Map(
      url("a", 1) -> "en", url("a", 2) -> "en", url("a", 3) -> "en", url("a", 4) -> "en",
      url("b", 5) -> "de", url("b", 6) -> "de", url("b", 7) -> "de", url("b", 8) -> "de",
      url("c", 9) -> null, url("c", 10) -> null, url("c", 11) -> "fr",
      url("d", 12) -> null, url("d", 13) -> "de", url("d", 14) -> null, url("d", 15) -> "de", url("d", 16) -> "fr"
    )
    assert(got == want)
  }

  test("pages update: a prepare moving a real-day row to another needed day fails the exact guard") {
    import graft.snapshot.{ContinuousRollup, SnapshotStore}
    val base = java.nio.file.Files.createTempDirectory("pages_guard").toString
    val (root, tiers) = (s"$base/src", s"$base/tiers")
    val batch = PageGen.corrupt(clean.filter(col("warc_ts") >= "2024-02-01"))
    SnapshotStore.append(root, batch, tsCol = Some("warc_ts"))
    // a row stored under 2024-02-01; the batch also lands on 02-02
    val victim = batch
      .filter(col("warc_ts") >= "2024-02-01" && col("warc_ts") < "2024-02-02")
      .agg(min("url"))
      .head()
      .getString(0)
    val model = PageModel.update(spark, root, tiers, 0L, 1L)
    val moveVictim = (df: DataFrame) =>
      df.withColumn(
        "warc_ts",
        when(col("url") === victim, col("warc_ts") + expr("INTERVAL 1 DAY")).otherwise(col("warc_ts"))
      )
    val e = intercept[IllegalStateException](
      ContinuousRollup.update(
        spark, root, tiers, Seq("domain", "lang"), "warc_ts",
        length(col("html")).cast("long"),
        prepare = df => moveVictim(PagePipeline.repairWithCounts(df, model)).withColumn("domain", PageGen.domainOf("url"))
      )
    )
    assert(e.getMessage.contains("prepare-contract violation (exact guard"), e.getMessage)
    assert(e.getMessage.contains(": 1 rows stored"), e.getMessage)
    assert(ContinuousRollup.lastApplied(tiers) == 0L)
  }

  test("a pages update leaves the cache manager no larger than before") {
    import graft.snapshot.SnapshotStore
    val base = java.nio.file.Files.createTempDirectory("pages_cache").toString
    val (root, tiers) = (s"$base/src", s"$base/tiers")
    clean.count() // the spec's own cached fixture
    val before = cachedPlans
    SnapshotStore.append(root, PageGen.corrupt(clean.filter(col("warc_ts") < "2024-02-01")), tsCol = Some("warc_ts"))
    assert(pagesUpdate(root, tiers) == 1L)
    SnapshotStore.append(root, PageGen.corrupt(clean.filter(col("warc_ts") >= "2024-02-01")), tsCol = Some("warc_ts"))
    assert(pagesUpdate(root, tiers) == 2L)
    assert(cachedPlans <= before, s"cache manager grew from $before to $cachedPlans entries")
  }

  test("a second pages update runs only data jobs, within its job budget") {
    import graft.snapshot.SnapshotStore
    val base = java.nio.file.Files.createTempDirectory("pages_jobs").toString
    val (root, tiers) = (s"$base/src", s"$base/tiers")
    SnapshotStore.append(root, PageGen.corrupt(clean.filter(col("warc_ts") < "2024-02-01")), tsCol = Some("warc_ts"))
    assert(pagesUpdate(root, tiers) == 1L)
    SnapshotStore.append(root, PageGen.corrupt(clean.filter(col("warc_ts") >= "2024-02-01")), tsCol = Some("warc_ts"))
    val (applied, jobs) = jobStartsDuring(pagesUpdate(root, tiers))
    assert(applied == 2L)
    def described(js: Seq[org.apache.spark.scheduler.SparkListenerJobStart]) =
      js.map(j => j.stageInfos.map(_.name).mkString("+")).mkString("; ")
    // model: merge + write (2); touched days (1: the observed no-op
    // write); 1m output with the contract guard (4: majority broadcast,
    // aggregate, cache, no-op write); tier writes 1m, 1h, 1d and 30d
    // (1 each: small tiers re-roll up one partition, no exchange); run
    // log (1)
    assert(jobs.size <= 12, s"${jobs.size} jobs: ${described(jobs)}")
    val inference = jobs.filter(outsideSqlExecution)
    assert(inference.isEmpty, s"schema-inference or listing jobs ran: ${described(inference)}")
  }

  test("pages the model does not cover pass through: lang kept, timestamp and text still repaired") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val epoch = new java.sql.Timestamp(0L)
    def html(id: Int) = s"<!--warc_ts:${ts.getTime / 1000}--><html><body>t$id</body></html>".getBytes("UTF-8")
    def page(url: String, id: Int, lang: String, corrupt: Boolean) =
      (url, if (corrupt) epoch else ts, html(id), if (corrupt) "" else s"t$id", lang)
    val pages = Seq(
      // covered: the de row is repaired to the majority en
      page("https://a.example/p/1", 1, "en", corrupt = false),
      page("https://a.example/p/2", 2, "de", corrupt = false),
      // a domain the model lacks, and a null url: lang kept, the
      // corrupt timestamp and emptied text repaired from the html
      page("https://z.example/p/3", 3, "fr", corrupt = true),
      page(null, 4, "de", corrupt = true)
    ).toDF(PagePipeline.PageCols: _*)
    val model = Seq(("a.example", "en", 2L), ("a.example", "de", 1L)).toDF("domain", "lang", "cnt")
    val got = PagePipeline
      .repairWithCounts(pages, model)
      .select("url", "warc_ts", "text", "lang")
      .as[(String, java.sql.Timestamp, String, String)]
      .collect()
      .sortBy(_._3)
      .toSeq
    assert(
      got == Seq(
        ("https://a.example/p/1", ts, "t1", "en"),
        ("https://a.example/p/2", ts, "t2", "en"),
        ("https://z.example/p/3", ts, "t3", "fr"),
        (null, ts, "t4", "de")
      )
    )
  }
}
