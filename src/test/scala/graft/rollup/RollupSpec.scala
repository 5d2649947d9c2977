package graft.rollup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RollupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val events =
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").cache()

  test("tier hierarchy invariant: sums are preserved 1m -> 1h -> 1d -> 30d") {
    val tiers = Rollup.allTiers(
      events,
      Seq("event_type"),
      "ts",
      lit(1L),
      Map("vsum" -> round(col("value"), 6).cast("decimal(28,6)"))
    )
    val raw = events.count()
    for (t <- Seq("1m", "1h", "1d", "30d")) {
      val total = tiers(t).agg(sum("point_count")).head().getLong(0)
      assert(total == raw, s"tier $t total $total != $raw")
    }
    val v1m = tiers("1m").agg(sum("vsum")).head().getDecimal(0)
    val v30 = tiers("30d").agg(sum("vsum")).head().getDecimal(0)
    assert(v1m.compareTo(v30) == 0)
  }

  test("gap-fill zero: spine is dense per series and fills with 0") {
    val hourly = Seq(
      ("a", ts("2024-01-01 00:00:00"), 5L),
      ("a", ts("2024-01-01 03:00:00"), 7L),
      ("b", ts("2024-01-01 01:00:00"), 1L)
    ).toDF("s", "bucket_ts", "point_count")
    val filled = GapFill
      .zeroFill(hourly, Seq("s"), "1h", Seq("point_count"))
      .orderBy("s", "bucket_ts")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getLong(2)))
    assert(
      filled.toSeq == Seq(
        ("a", "2024-01-01 00:00:00.0", 5L),
        ("a", "2024-01-01 01:00:00.0", 0L),
        ("a", "2024-01-01 02:00:00.0", 0L),
        ("a", "2024-01-01 03:00:00.0", 7L),
        ("b", "2024-01-01 01:00:00.0", 1L)
      )
    )
  }

  test("gap-fill LOCF and linear interpolation") {
    val hourly = Seq(
      ("a", ts("2024-01-01 00:00:00"), Some(10.0)),
      ("a", ts("2024-01-01 04:00:00"), Some(18.0))
    ).toDF("s", "bucket_ts", "v")
    val spined = GapFill.withSpine(hourly, Seq("s"), "1h")

    val locf = GapFill
      .locf(spined, Seq("s"), "v")
      .orderBy("bucket_ts")
      .select("v")
      .as[Double]
      .collect()
      .toSeq
    assert(locf == Seq(10.0, 10.0, 10.0, 10.0, 18.0))

    val interp = GapFill
      .interpolate(spined, Seq("s"), "v")
      .orderBy("bucket_ts")
      .select("v")
      .as[Double]
      .collect()
      .toSeq
    assert(interp == Seq(10.0, 12.0, 14.0, 16.0, 18.0))
  }

  test("blocks round-trip: decoded points equal the finer tier") {
    val t1m = Rollup
      .fromRaw(events, Seq("event_type"), "ts", "1m", lit(0L),
        Map("value_sum" -> round(col("value"), 6).cast("decimal(28,6)")))
      .select(col("event_type"), col("bucket_ts"), col("value_sum").cast("double").as("value_sum"))
      .cache()
    val blocks = BlockOps.buildBlocks(t1m, Seq("event_type"), "1h", "value_sum")
    val decoded = BlockOps
      .explodeBlocks(blocks, Seq("event_type"))
      .select(col("event_type"), col("point_ts").as("bucket_ts"), col("value").as("value_sum"))
    assert(decoded.except(t1m).isEmpty && t1m.except(decoded).isEmpty)
  }

  test("blocks compress dense regular series far below 8 bytes/point") {
    // 2 days of dense minutely points for one series
    val dense = spark
      .range(2880)
      .select(
        lit("s").as("series"),
        timestamp_seconds(lit(1704067200L) + col("id") * 60).as("bucket_ts"),
        (lit(100.0) + (col("id") % 7).cast("double")).as("v")
      )
    val blocks = BlockOps.buildBlocks(dense, Seq("series"), "1d", "v")
    val stats = blocks
      .agg(
        (sum(length(col("ts_block"))).cast("double") / sum("block_points")).as("ts_bpp"),
        (sum(length(col("val_block"))).cast("double") / sum("block_points")).as("val_bpp")
      )
      .head()
    info(f"bytes/point: ts=${stats.getDouble(0)}%.2f val=${stats.getDouble(1)}%.2f")
    assert(stats.getDouble(0) < 1.0) // delta-of-delta: regular ts ~ 1 bit/pt
    assert(stats.getDouble(1) < 8.0) // Gorilla beats raw doubles
    val decoded = BlockOps
      .explodeBlocks(blocks, Seq("series"))
      .select(col("series"), col("point_ts").as("bucket_ts"), col("value").as("v"))
    assert(decoded.except(dense).isEmpty && dense.except(decoded).isEmpty)
  }

  test("30d bucket is epoch-anchored and fixed width") {
    val b = Seq(Tuple1(ts("2024-01-05 10:30:00"))).toDF("t")
      .select(Tiers.bucket(col("t"), "30d").cast("string"))
      .head().getString(0)
    assert(b == "2023-12-19 00:00:00") // floor(1704449400/2592000)*2592000 = 1702944000
  }

  test("the driver-side 30d window of a day equals to_date(bucket(ts, 30d)) across window edges") {
    val edges = Seq(-60L, -30L, 0L, 30L, 19710L).map(d => java.time.Instant.ofEpochSecond(d * 86400L))
    val offsets = Seq(
      java.time.Duration.ofNanos(-1000L),
      java.time.Duration.ZERO,
      java.time.Duration.ofSeconds(1L),
      java.time.Duration.ofHours(12L),
      java.time.Duration.ofDays(1L).minusNanos(1000L)
    )
    val stamps = for (e <- edges; o <- offsets) yield java.sql.Timestamp.from(e.plus(o))
    val rows = stamps
      .map(Tuple1(_))
      .toDF("t")
      .select(to_date(col("t")).as("d"), to_date(Tiers.bucket(col("t"), "30d")).as("w"))
      .collect()
      .map(r => (r.getDate(0).toLocalDate, r.getDate(1).toLocalDate))
    assert(rows.length == stamps.size)
    rows.foreach { case (d, w) => assert(Tiers.window30dOf(d) == w, s"day $d: driver ${Tiers.window30dOf(d)}, Spark $w") }
    // both sides of the epoch, and 1970-01-01 itself (the unrepaired
    // sentinel day) in the window that starts on it
    val days = rows.map(_._1).toSet
    assert(days.contains(java.time.LocalDate.parse("1969-12-31")) && days.contains(java.time.LocalDate.parse("1970-01-01")))
    assert(Tiers.window30dOf(java.time.LocalDate.parse("1969-12-31")) == java.time.LocalDate.parse("1969-12-02"))
    assert(Tiers.window30dOf(java.time.LocalDate.parse("1970-01-01")) == java.time.LocalDate.parse("1970-01-01"))
  }

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}
