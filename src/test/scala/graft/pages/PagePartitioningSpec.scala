package graft.pages

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PagePartitioningSpec extends SparkSpec {
  import spark.implicits._

  private lazy val skewed = {
    // key "hot" carries 90% of rows
    spark
      .range(1000)
      .select(
        col("id"),
        when(col("id") % 10 < 9, "hot").otherwise(concat(lit("cold"), col("id") % 7)).as("k"),
        (col("id") % 13).cast("double").as("v")
      )
  }

  test("hotKeys finds the heavy hitters deterministically") {
    val hot = PagePartitioning.hotKeys(skewed, "k", topK = 1)
    assert(hot == Seq("hot"))
  }

  test("saltedAgg equals the unsalted aggregate exactly") {
    val hot = PagePartitioning.hotKeys(skewed, "k", topK = 1)
    val salted = PagePartitioning
      .saltedAgg(
        skewed,
        "k",
        "id",
        Map("n" -> count(lit(1)), "s" -> sum(col("v").cast("decimal(28,6)"))),
        hot,
        saltFactor = 8
      )
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDecimal(2).doubleValue())))
      .toMap
    val plain = skewed
      .groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("v").cast("decimal(28,6)")).as("s"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDecimal(2).doubleValue())))
      .toMap
    assert(salted == plain)
  }

  test("only hot keys fan out over salts") {
    val salts = skewed
      .withColumn("__salt", PagePartitioning.saltFor(col("k"), col("id"), Seq("hot"), 8))
      .groupBy("k")
      .agg(countDistinct("__salt").as("d"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toMap
    assert(salts("hot") > 1)
    assert(salts.filterNot(_._1 == "hot").values.forall(_ == 1L))
  }

  test("canonical layout keeps all rows and adds the bucket column") {
    val pages = PageGen.clean(spark, 2000)
    val laid = PagePartitioning.canonicalLayout(pages, files = 8, buckets = 32)
    assert(laid.count() == 2000)
    assert(laid.columns.contains("domain_bucket"))
    assert(laid.select(max("domain_bucket")).head().getLong(0) < 32)
  }

  test("tier writes split a hot partition across multiple writer tasks") {
    import graft.snapshot.{ContinuousRollup, SnapshotStore}
    val base = java.nio.file.Files.createTempDirectory("tier_skew").toString
    val root = s"$base/src"
    val tiers = s"$base/tiers"
    // every point in ONE day, Zipf-hot domain 0: the worst case for a
    // one-writer-per-partition layout
    val pages = PageGen
      .clean(spark, 30000, nDomains = 10)
      .withColumn("warc_ts", timestamp_seconds(lit(PageGen.BaseEpoch) + pmod(xxhash64(col("url")), lit(86400L))))
    SnapshotStore.append(root, pages, tsCol = Some("warc_ts"))
    ContinuousRollup.update(
      spark, root, tiers, Seq("domain", "lang"), "warc_ts",
      length(col("html")).cast("long"),
      prepare = df => df.withColumn("domain", PageGen.domainOf("url"))
    )
    // the hot day's partition dir was written by >1 range bucket
    val hotDir = java.nio.file.Paths.get(s"$tiers/tier_1m/part_key=2024-01-01")
    assert(java.nio.file.Files.exists(hotDir), "expected the single-day partition")
    val files = java.nio.file.Files
      .list(hotDir)
      .iterator()
      .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var n = 0
    while (files.hasNext) { if (files.next().getFileName.toString.endsWith(".parquet")) n += 1 }
    assert(n > 1, s"hot partition written by $n writer task(s) — expected parallel writers")
    // and the result still equals the one-shot rollup exactly
    val got = ContinuousRollup.readTier(spark, tiers, "1m")
    val want = graft.rollup.Rollup.fromRaw(
      pages.withColumn("domain", PageGen.domainOf("url")),
      Seq("domain", "lang"), "warc_ts", "1m", length(col("html")).cast("long")
    )
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }
}
