package graft

import graft.correct.{Cells, Correctors, Fd, Pdep}
import graft.pages.PagePipeline
import graft.rollup.{BlockOps, GapFill, Rollup}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB-runnable oracle in `oracleSql`
  * where SQL-expressible.
  *
  * Determinism rules used throughout (so the driver's hash compare is
  * exact): double sums go through `round(x, 6)` + decimal cast before
  * aggregation and back to double at the end (order-free exact
  * arithmetic); ranks/ids/counts are integers; ties always break on an
  * id or lexicographic key.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** round->decimal->sum->double: exact, order-independent sum of a
    * double column, reproducible bit-for-bit in DuckDB.
    */
  private def dsum(c: Column): Column =
    sum(round(c, 6).cast("decimal(28,6)")).cast("double")

  private val dsumSql: String => String =
    c => s"CAST(sum(CAST(round($c, 6) AS DECIMAL(28,6))) AS DOUBLE)"

  /** Flagship: the pages correct-then-rollup pipeline at smoke scale. */
  def entry(spark: SparkSession): DataFrame =
    PagePipeline.hourlyRollupFixed(spark, nPages = 2000)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans / aggregates (S1/S2, A1/A2) ----
    "q01_lineitem_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n_rows"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue")
        )
    }),

    // ---- joins (J2-style equi-join + agg; broadcast dim) ----
    "q02_join_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = broadcast(t(s, dir, "customer"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
    }),

    // ---- anti-join (P2/U2) ----
    "q03_antijoin" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
    }),

    // ---- window top-k (W1/W3/W4) ----
    "q04_window_topk" -> ((s, dir) => {
      val w = Window
        .partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    }),

    // ---- melt / cell addressing (J1 substrate) ----
    "q05_melt" -> ((s, dir) => {
      Cells.melt(t(s, dir, "part"), "p_partkey", Seq("p_brand", "p_type", "p_name"))
    }),

    // ---- pdep conditional counts (A2: counts + lhs marginals) ----
    "q06_pdep_counts" -> ((s, dir) => {
      import s.implicits._
      val noErr = s.emptyDataset[graft.correct.ErrorCell].toDF()
      Pdep
        .fdCounts(t(s, dir, "customer"), noErr, "c_custkey", Fd(Seq("c_nationkey"), "c_mktsegment"))
        .select(
          col("c_nationkey").as("lhs_val"),
          col("c_mktsegment").as("rhs_val"),
          col("cnt"),
          col("lhs_cnt")
        )
    }),

    // ---- deterministic corruption + vicinity correction (S8+M3+A13+J6) ----
    "q07_correct_fd" -> ((s, dir) => {
      val base = t(s, dir, "customer").select(
        col("c_custkey").as("row_id"),
        col("c_nationkey").cast("string").as("nation"),
        when(col("c_custkey") % 17 === 3, lit("__CORRUPT__"))
          .otherwise(col("c_mktsegment"))
          .as("segment")
      )
      val errors = base
        .filter(col("segment") === "__CORRUPT__")
        .select(col("row_id"), lit("segment").as("col"), col("segment").as("error_value"))
      val sugg = Correctors.vicinityCorrectorOrder1(base, errors, "row_id", Seq("nation", "segment"))
      val decided = Correctors.decide(sugg)
      Cells
        .applyCorrections(base, decided, "row_id", Seq("nation", "segment"))
        .select("row_id", "segment")
    }),

    // ---- tier rollup from raw (north rule 1h) ----
    "q08_rollup_1h" -> ((s, dir) => {
      Rollup
        .fromRaw(
          t(s, dir, "events"),
          Seq("event_type"),
          "ts",
          "1h",
          lit(0L),
          Map("value_sum" -> round(col("value"), 6).cast("decimal(28,6)"))
        )
        .select(
          col("event_type"),
          col("bucket_ts"),
          col("point_count"),
          col("value_sum").cast("double").as("value_sum")
        )
    }),

    // ---- hierarchical re-aggregation 1m -> 1h -> 1d ----
    "q09_rollup_tiers" -> ((s, dir) => {
      val t1m = Rollup.fromRaw(
        t(s, dir, "events"),
        Seq("event_type"),
        "ts",
        "1m",
        lit(0L),
        Map("value_sum" -> round(col("value"), 6).cast("decimal(28,6)"))
      )
      val t1h = Rollup.reRollup(t1m, Seq("event_type"), "1m" -> "1h")
      val t1d = Rollup.reRollup(t1h, Seq("event_type"), "1h" -> "1d")
      t1d.select(
        col("event_type"),
        col("bucket_ts"),
        col("point_count"),
        col("value_sum").cast("double").as("value_sum")
      )
    }),

    // ---- 30d fixed-window tier (epoch-anchored bucket) ----
    "q10_rollup_30d" -> ((s, dir) => {
      val t1m = Rollup.fromRaw(t(s, dir, "events"), Seq("event_type"), "ts", "1m", lit(0L))
      val t1h = Rollup.reRollup(t1m, Seq("event_type"), "1m" -> "1h")
      val t1d = Rollup.reRollup(t1h, Seq("event_type"), "1h" -> "1d")
      val t30 = Rollup.reRollup(t1d, Seq("event_type"), "1d" -> "30d")
      t30.select(col("event_type"), col("bucket_ts"), col("point_count"))
    }),

    // ---- gap fill: zero-filled dense spine (per-series bounds) ----
    "q11_gapfill_zero" -> ((s, dir) => {
      val hourly = Rollup
        .fromRaw(t(s, dir, "events"), Seq("event_type"), "ts", "1h", lit(0L))
        .select("event_type", "bucket_ts", "point_count")
      GapFill
        .zeroFill(hourly, Seq("event_type"), "1h", Seq("point_count"))
        .select("event_type", "bucket_ts", "point_count")
    }),

    // ---- gap fill: LOCF over the spine ----
    "q12_gapfill_locf" -> ((s, dir) => {
      val hourly = Rollup
        .fromRaw(
          t(s, dir, "events"),
          Seq("event_type"),
          "ts",
          "1h",
          lit(0L),
          Map("value_sum" -> round(col("value"), 6).cast("decimal(28,6)"))
        )
        .select(col("event_type"), col("bucket_ts"), col("value_sum").cast("double").as("value_sum"))
      val spined = GapFill.withSpine(hourly, Seq("event_type"), "1h")
      GapFill
        .locf(spined, Seq("event_type"), "value_sum")
        .select("event_type", "bucket_ts", "value_sum")
    }),

    // ---- Gorilla/delta-of-delta blocks: oracle checked THROUGH the
    //      codec (block built from 1m tier, decoded, points re-counted)
    "q19_blocks_roundtrip" -> ((s, dir) => {
      val t1m = Rollup
        .fromRaw(
          t(s, dir, "events"),
          Seq("event_type"),
          "ts",
          "1m",
          lit(0L),
          Map("value_sum" -> round(col("value"), 6).cast("decimal(28,6)"))
        )
        .select(col("event_type"), col("bucket_ts"), col("value_sum").cast("double").as("value_sum"))
      val blocks = BlockOps.buildBlocks(t1m, Seq("event_type"), "1h", "value_sum")
      BlockOps
        .explodeBlocks(blocks, Seq("event_type", "bucket_ts"))
        .groupBy("event_type", "bucket_ts")
        .agg(count(lit(1)).as("n_points"), dsum(col("value")).as("value_sum"))
    }),

    // ---- salting: two-phase skew-safe aggregation (explicit top-k
    //      hot-key salting via PagePartitioning) ----
    "q20_salted_agg" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val hot = graft.pages.PagePartitioning.hotKeys(ev, "event_type", topK = 2)
      graft.pages.PagePartitioning
        .saltedAgg(
          ev,
          "event_type",
          "event_id",
          Map(
            "n_events" -> count(lit(1)),
            "value_sum" -> sum(round(col("value"), 6).cast("decimal(28,6)"))
          ),
          hot
        )
        .withColumn("value_sum", col("value_sum").cast("double"))
    }),

    // ---- map histogram build + explode roundtrip ----
    "q21_lang_hist" -> ((s, dir) => {
      val perLang = t(s, dir, "documents").groupBy("source", "lang").agg(count(lit(1)).as("cnt"))
      val asMap = perLang
        .groupBy("source")
        .agg(map_from_entries(array_sort(collect_list(struct(col("lang"), col("cnt"))))).as("hist"))
      asMap
        .select(col("source"), explode(col("hist")).as(Seq("lang", "cnt")))
    }),

    // ---- cross-series Pearson correlation: which metric series move
    //      together — hourly fixed-point bucket sums, pair co-moments
    //      in decimal(38,0), the final corr the only float step (all
    //      its inputs exact integers, so bit-reproducible) ----
    "q86_metric_corr" -> ((s, dir) => {
      graft.rollup.Correlate
        .pairwisePearson(t(s, dir, "events"), "event_type", "ts", "value", "hour")
    }),

    // ---- fixed-width value histogram with Prometheus-style cumulative
    //      counts: one partial-aggregated exchange on (series, bin),
    //      then a per-series window over the handful of occupied bins —
    //      all-integer, hash-exact ----
    "q87_value_histogram" -> ((s, dir) => {
      graft.rollup.Histogram.fixedWidth(t(s, dir, "events"), "event_type", "value", 50.0)
    }),

    // ---- bounded-lookback EWMA smoothing: Horner fold over each
    //      sample's previous-8 window at alpha=0.5 (every decay step an
    //      exact exponent shift, so the fold is bit-reproducible) ----
    "q88_ewma" -> ((s, dir) => {
      graft.rollup.Smooth
        .ewma(t(s, dir, "events"), Seq("event_type"), "ts", "value", "event_id", lookback = 8)
        .select("event_id", "event_type", "ts", "value", "ewma", "n_window")
    }),

    // ---- threshold alert with hold duration (Prometheus `for:`):
    //      gaps-and-islands runs of above-threshold samples; a run
    //      fires only when it spans >= 10 minutes ----
    "q89_alert_for" -> ((s, dir) => {
      graft.rollup.Alerts.thresholdFor(
        t(s, dir, "events"),
        Seq("event_type"),
        "ts",
        "value",
        threshold = 250.0,
        forMicros = 600000000L,
        tieBreak = "event_id"
      )
    }),

    // ---- histogram_quantile: p95 from q87's cumulative fixed-width
    //      buckets, rank-interpolated inside the first covering bin ----
    "q90_histogram_quantile" -> ((s, dir) => {
      graft.rollup.Histogram
        .histogramQuantile(t(s, dir, "events"), "event_type", "value", width = 50.0, q = 0.95)
    }),

    // ---- pairwise audience overlap per day: exact distinct
    //      intersection + Jaccard between segments — distinct first
    //      (collapses repeat activity), member-keyed self-join carries
    //      member-segment rows, never raw events ----
    "q93_audience_overlap" -> ((s, dir) => {
      graft.rollup.Overlap.pairwise(t(s, dir, "events"), "event_type", "user_id", "ts", "day")
    }),

    // ---- ordered funnel: first in-order time each stage was reached
    //      per user — one shared-spec window chain (one exchange +
    //      sort) + a per-member reduce; stage k counts only after a
    //      qualifying stage k-1 strictly earlier in (ts, id) order ----
    "q94_funnel" -> ((s, dir) => {
      graft.rollup.Funnel.ordered(
        t(s, dir, "events"),
        "user_id",
        "ts",
        "event_type",
        Seq("view", "click", "purchase"),
        "event_id")
    }),

    // ---- cohort retention matrix: members by first-activity day,
    //      counted at each later activity offset — distinct first,
    //      member-keyed cohort join, tiny (#days^2) output ----
    "q95_cohort_retention" -> ((s, dir) => {
      graft.rollup.Cohort.retention(t(s, dir, "events"), "user_id", "ts")
    }),

    // ---- Spark-native sliding (hopping) windows pinned against a SQL
    //      oracle: every event lands in exactly span/slide = 4
    //      epoch-aligned windows; counts + exact decimal sums ----
    "q96_hopping_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(
          col("w.start").as("win_start"),
          col("w.end").as("win_end"),
          col("event_type"),
          col("n_events"),
          col("sum_value"))
    }),

    // ---- multiwindow SLO burn rate (SRE error-budget alerting):
    //      hour + day error-rate windows, alert only when BOTH burn
    //      thresholds trip — exact count ratios, tiny day-side join ----
    "q97_slo_burn" -> ((s, dir) => {
      graft.rollup.Slo.burnRate(
        t(s, dir, "events").withColumn("is_err", col("event_type") === "error"),
        "ts",
        "is_err",
        budgetRate = 0.25,
        shortThreshold = 1.5,
        longThreshold = 1.2)
    }),

    // ---- Spark-native pivot pinned against a SQL oracle: daily
    //      event-type count matrix with an EXPLICIT value list (no
    //      driver-side distinct scan — the scale-correct pivot form) ----
    "q98_pivot_daily" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).as("bucket_ts"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na
        .fill(0L)
    }),

    // ---- seasonal hour-of-week baselines: per-series expected value
    //      at each of the 168 weekly hours — pure epoch integer
    //      arithmetic (no calendar/locale), one exchange, #series x
    //      168 output at any corpus size ----
    "q99_seasonal_baseline" -> ((s, dir) => {
      graft.rollup.Seasonal.baseline(t(s, dir, "events"), "event_type", "ts", "value")
    }),

    // ---- time-decayed heavy hitters: 1-day half-life leaderboard —
    //      every weight an exact power of two, accumulated in integer
    //      units of 2^-30 (no pow anywhere), as-of day broadcast ----
    "q100_decayed_topk" -> ((s, dir) => {
      graft.rollup.Decay.decayedCounts(t(s, dir, "events"), Seq("event_type"), "ts", horizonDays = 30)
    }),

    // ---- predict_linear: per-series least-squares forecast one hour
    //      past the last observation — exact decimal co-moments, the
    //      fit a per-series float epilogue (Prometheus alerting
    //      primitive) ----
    "q104_predict_linear" -> ((s, dir) => {
      graft.rollup.Forecast
        .predictLinear(t(s, dir, "events"), "event_type", "ts", "value", horizonSec = 3600L)
    }),

    // ---- ingestion integrity: duplicate + dropped sequence ids over
    //      a deterministically corrupted replay of the event stream ----
    "q108_integrity" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val corrupted = ev
        .filter(col("event_id") % 97 =!= 13)
        .unionByName(ev.filter(col("event_id") % 101 === 7))
      graft.rollup.Integrity.sequenceAnomalies(corrupted, "event_id")
    }),

    // ---- CUSUM changepoint detection: per-series drift accumulator
    //      closed to two stacked windows (running sum + running min),
    //      all micro-unit integers ----
    "q109_cusum" -> ((s, dir) => {
      graft.rollup.Changepoint.cusum(
        t(s, dir, "events"),
        "event_type",
        "ts",
        "event_id",
        "value",
        targetMicro = 60000000L,
        hMicro = 500000000L
      )
    }),

    // ---- robust MAD outliers: lower-median / lower-MAD per series,
    //      exact integer rank arithmetic (no interpolated quantiles) ----
    "q110_mad_outliers" -> ((s, dir) => {
      graft.rollup.Robust.madOutliers(t(s, dir, "events"), "event_type", "ts", "event_id", "value", k = 3)
    }),

    // ---- interval-union coverage: merge overlapping per-series
    //      intervals (gaps-and-islands), exact covered seconds — the
    //      no-double-count uptime/SLA primitive ----
    "q111_interval_union" -> ((s, dir) => {
      val iv = t(s, dir, "events").select(
        col("event_type").as("series"),
        unix_timestamp(col("ts")).as("s"),
        (unix_timestamp(col("ts")) + floor(col("value")).cast("long") * 60).as("e")
      )
      graft.rollup.Intervals.unionCoverage(iv, "series", "s", "e")
    }),

    // ---- sliding-window rate limiting audit: trailing-hour count per
    //      user via an exact integer RANGE frame, breach at > 2 ----
    "q112_rate_limit" -> ((s, dir) => {
      graft.rollup.RateLimit
        .audit(t(s, dir, "events"), "user_id", "ts", windowSec = 3600L, limit = 2L)
        .select("event_id", "user_id", "ts", "n_in_window", "breach")
    }),

    // ---- per-group ECDF normalization: exact max-rank rationals plus
    //      the one float division both engines share ----
    "q113_ecdf" -> ((s, dir) => {
      graft.rollup.Ecdf
        .normalize(t(s, dir, "events"), "event_type", "value")
        .select("event_id", "event_type", "value", "ecdf_num", "ecdf_den", "ecdf")
    }),

    // ---- Holt double exponential smoothing (level + trend) at
    //      alpha = beta = 1/2: exact pre-scaled integer fold, shifts
    //      only; level/trend/forecast the sole float steps ----
    "q114_holt_smooth" -> ((s, dir) => {
      graft.rollup.DoubleSmooth
        .holt(t(s, dir, "events"), Seq("event_type"), "ts", "value", tieBreak = "event_id")
        .select("event_id", "event_type", "ts", "value", "level", "trend", "forecast", "n_window")
    }),

    // ---- Spark-native ROLLUP grouping sets pinned to the oracle's
    //      GROUP BY ROLLUP: multi-level aggregates in ONE pass (no
    //      union of re-scans), NULL group markers + grouping level ----
    "q115_rollup_sets" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // quantities are integral doubles: cast-then-sum is exact
          // and order-free (float sum would be order-sensitive)
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id().as("gid")
        )
    }),

    // ---- calendar-month presentation tier: re-rolled from the 1d
    //      retention tier (one raw scan feeds the whole cascade) ----
    "q116_month_rollup" -> ((s, dir) => {
      val t1d = Rollup.fromRaw(
        t(s, dir, "events"),
        Seq("event_type"),
        "ts",
        "1d",
        lit(0L),
        Map("value_sum" -> round(col("value"), 6).cast("decimal(28,6)"))
      )
      Rollup
        .reRollup(t1d, Seq("event_type"), "1d" -> "month")
        .select(
          col("event_type"),
          col("bucket_ts"),
          col("point_count"),
          col("value_sum").cast("double").as("value_sum")
        )
    }),

    // ---- staleness: which (user, type) series stopped reporting,
    //      anchored at the corpus max ts (no wall clock) ----
    "q117_staleness" -> ((s, dir) => {
      graft.rollup.Staleness
        .check(t(s, dir, "events"), Seq("user_id", "event_type"), "ts", staleAfterSec = 86400L)
    }),

    // ---- flap detection: per-series count of threshold crossings ----
    "q118_flap_detect" -> ((s, dir) => {
      graft.rollup.Flap.transitions(
        t(s, dir, "events"),
        Seq("event_type"),
        "ts",
        "event_id",
        state = col("value") > 100.0,
        flapThreshold = 50L
      )
    }),

    // ---- cross-series ratio: errors per click per hour, aligned on
    //      the union of both series' buckets (full outer, 0-filled) ----
    "q119_series_ratio" -> ((s, dir) => {
      graft.rollup.SeriesMath
        .alignRatio(t(s, dir, "events"), "event_type", "ts", "1h", "error", "click")
    }),

    // ---- deterministic shard routing audit: per-shard row/weight
    //      totals under the portable md5 hash ----
    "q120_shard_balance" -> ((s, dir) => {
      graft.operators.Sharding
        .balance(t(s, dir, "documents"), "doc_id", "n_chars", nShards = 16, salt = "r4")
    }),

    // ---- biggest movers: series activity delta across the data's own
    //      midpoint, deterministic top-20 ----
    "q123_top_movers" -> ((s, dir) => {
      graft.rollup.Movers
        .topMovers(t(s, dir, "events"), Seq("event_type", "user_id"), "ts", k = 20)
    }),

    // ---- per-bucket variance from exact decimal co-moments ----
    "q125_bucket_variance" -> ((s, dir) => {
      graft.rollup.Moments
        .bucketVariance(t(s, dir, "events"), Seq("event_type"), "ts", "1d", "value")
    }),

    // ---- per-day Simpson diversity of the event-type mix ----
    "q126_diversity" -> ((s, dir) => {
      graft.rollup.Diversity.simpson(t(s, dir, "events"), "ts", "1d", "event_type")
    }),

    // ---- SCD-2 history: per-user change log -> validity intervals ----
    "q127_scd2_history" -> ((s, dir) => {
      graft.operators.Scd2
        .history(
          t(s, dir, "events").select("event_id", "user_id", "ts", "event_type"),
          Seq("user_id"),
          "ts",
          "event_id"
        )
    }),

    // ---- exponential (log2 / native-histogram) value buckets via
    //      exact bit-length bucketing ----
    "q128_log_histogram" -> ((s, dir) => {
      graft.rollup.Histogram.logBuckets(t(s, dir, "events"), "event_type", "value")
    }),

    // ---- seasonal anomalies: each point vs its own hour-of-week
    //      baseline, broadcast join, fixed residual threshold ----
    "q129_seasonal_anomaly" -> ((s, dir) => {
      graft.rollup.Seasonal
        .anomalies(t(s, dir, "events"), "event_type", "ts", "value", threshold = 80.0)
        .select("event_id", "event_type", "ts", "value", "hour_of_week", "expected", "residual")
    }),

    // ---- count-min sketch tiers: hourly sketches merged to days by
    //      elementwise vector sum, point-estimated per user ----
    "q132_cms_tiers" -> ((s, dir) => {
      val d = 3; val w = 64
      val ev = t(s, dir, "events")
      val hourly = ev.groupBy(
        col("event_type"),
        date_trunc("hour", col("ts")).as("__h")
      ).agg(graft.rollup.Cms.sketch(col("user_id"), d, w).as("cms"))
      val daily = hourly
        .groupBy(col("event_type"), date_trunc("day", col("__h")).as("day"))
        .agg(graft.rollup.Cms.mergeSketch(col("cms"), d, w).as("cms"))
      val truth = ev
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"), col("user_id"))
        .agg(count(lit(1)).as("true_n"))
      truth
        .join(broadcast(daily), Seq("event_type", "day"))
        .select(
          col("event_type"),
          col("day"),
          col("user_id"),
          graft.rollup.Cms.estimate(col("cms"), col("user_id"), d, w).as("est"),
          col("true_n")
        )
    }),

    // ---- token-bucket limiter audit: burst cap 3 tokens, refill
    //      0.5 token/s — the online limiter's semantics replayed via
    //      the CUSUM-style closed form (no sequential fold) ----
    "q133_token_bucket" -> ((s, dir) => {
      graft.rollup.TokenBucket.audit(
        t(s, dir, "events"),
        "user_id",
        "ts",
        "event_id",
        ratePerSecMicro = 500000L,
        capMicro = 3000000L
      )
    }),

    // ---- tier reconciliation: hourly tier vs a drifted rebuild
    //      (simulated incremental loss) — only disagreements emit ----
    "q134_tier_reconcile" -> ((s, dir) => {
      def hourly(src: org.apache.spark.sql.DataFrame) =
        src
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket_ts"))
          .agg(
            count(lit(1)).as("point_count"),
            sum(col("value").cast("long")).as("vsum")
          )
      val ev = t(s, dir, "events")
      graft.rollup.Reconcile.diff(
        hourly(ev),
        hourly(ev.filter(pmod(col("event_id"), lit(97)) =!= 0)),
        Seq("event_type", "bucket_ts"),
        Seq("point_count", "vsum")
      )
    }),

    // ---- semi-structured props: JSON field extraction (codegen
    //      get_json_object path) feeding an exact aggregate ----
    "q135_json_props" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"),
          max(col("k")).as("k_max"),
          sum(when(col("k") > 50, 1L).otherwise(0L)).as("n_k_over_50")
        )
    }),

    // ---- stream-disorder audit: the measurement that sizes a
    //      watermark (arrival order = event_id) ----
    "q136_disorder" -> ((s, dir) => {
      graft.rollup.Disorder.audit(t(s, dir, "events"), Seq("user_id"), "ts", "event_id")
    }),

    // ---- snapshot time travel: read the table AS OF snapshot 1
    //      after a second append — the Iceberg read semantic ----
    "q137_time_travel" -> ((s, dir) => {
      val root = "/tmp/graft_q137/src"
      graft.snapshot.SnapshotStore.deleteRecursively("/tmp/graft_q137")
      val ev = t(s, dir, "events").select("event_id", "user_id", "ts", "event_type")
      graft.snapshot.SnapshotStore.append(root, ev.filter(pmod(col("event_id"), lit(2)) === 0), tsCol = Some("ts"))
      graft.snapshot.SnapshotStore.append(root, ev.filter(pmod(col("event_id"), lit(2)) === 1), tsCol = Some("ts"))
      graft.snapshot.SnapshotStore.readRange(s, root, 0L, 1L)
        .select("event_id", "user_id", "ts", "event_type")
    }),

    // ---- snapshot incremental (CDC) read: exactly the rows snapshot 2
    //      added, none of snapshot 1's — the consumer-diff semantic the
    //      continuous rollup builds on ----
    "q138_incremental_read" -> ((s, dir) => {
      val root = "/tmp/graft_q138/src"
      graft.snapshot.SnapshotStore.deleteRecursively("/tmp/graft_q138")
      val ev = t(s, dir, "events").select("event_id", "user_id", "ts", "event_type")
      graft.snapshot.SnapshotStore.append(root, ev.filter(pmod(col("event_id"), lit(2)) === 0), tsCol = Some("ts"))
      graft.snapshot.SnapshotStore.append(root, ev.filter(pmod(col("event_id"), lit(2)) === 1), tsCol = Some("ts"))
      graft.snapshot.SnapshotStore.readRange(s, root, 1L, 2L)
        .select("event_id", "user_id", "ts", "event_type")
    }),

    // ---- snapshot schema evolution: a later snapshot ADDS a column;
    //      the range read serves the union schema from manifest
    //      METADATA alone (no footer scans), older files returning
    //      null for the added column ----
    "q141_schema_evolution" -> ((s, dir) => {
      val root = "/tmp/graft_q141/src"
      graft.snapshot.SnapshotStore.deleteRecursively("/tmp/graft_q141")
      val ev = t(s, dir, "events")
      graft.snapshot.SnapshotStore.append(
        root,
        ev.filter(pmod(col("event_id"), lit(2)) === 0).select("event_id", "user_id", "ts", "event_type"),
        tsCol = Some("ts"))
      graft.snapshot.SnapshotStore.append(
        root,
        ev.filter(pmod(col("event_id"), lit(2)) === 1)
          .select("event_id", "user_id", "ts", "event_type", "value"),
        tsCol = Some("ts"))
      graft.snapshot.SnapshotStore
        .read(s, root)
        .select("event_id", "user_id", "ts", "event_type", "value")
    }),

    // ---- audience overlap, sketch path: HLL inclusion-exclusion over
    //      per-(bucket, segment) sketches — the pair join runs on the
    //      aggregated sketch relation (buckets x segments rows,
    //      independent of member cardinality), where q93's exact path
    //      ships a wire row per member-segment. Exact-mode sketches at
    //      this cardinality => must equal q93's exact counts. ----
    "q142_overlap_sketch" -> ((s, dir) => {
      graft.rollup.Overlap.pairwiseSketch(t(s, dir, "events"), "event_type", "user_id", "ts", "day")
    }),

    // ---- archival retention (tiered storage): expired tier
    //      partitions MOVE to a cold root — an atomic directory
    //      rename, metadata-only like plain expiry; the cold store
    //      must read back as exactly the expired slice ----
    "q146_retention_archive" -> ((s, dir) => {
      val root = "/tmp/graft_q146/src"
      val tiers = "/tmp/graft_q146/tiers"
      val cold = "/tmp/graft_q146/cold"
      graft.snapshot.SnapshotStore.deleteRecursively("/tmp/graft_q146")
      val ev = t(s, dir, "events")
      graft.snapshot.SnapshotStore.append(root, ev, tsCol = Some("ts"))
      graft.snapshot.ContinuousRollup.update(s, root, tiers, Seq("event_type"), "ts", lit(0L))
      val asOf = ev.agg(max(to_date(col("ts")))).collect()(0).getDate(0).toLocalDate
      graft.snapshot.Retention.enforce(s, tiers, Map("1h" -> 20), asOf, archiveRoot = Some(cold))
      s.read
        .option("basePath", s"$cold/tier_1h")
        .parquet(s"$cold/tier_1h")
        .select(col("event_type"), col("bucket_ts"), col("point_count"))
    }),

    // ---- orphan-file vacuum: a crashed append leaves a fully
    //      written data dir no manifest references (that is what makes
    //      the commit protocol crash-safe) — vacuum collects it,
    //      age-gated so an append IN FLIGHT is never mistaken for
    //      garbage; metadata-only (manifest set vs dir listing) ----
    "q147_vacuum" -> ((s, dir) => {
      val root = "/tmp/graft_q147/src"
      graft.snapshot.SnapshotStore.deleteRecursively("/tmp/graft_q147")
      val ev = t(s, dir, "events").select("event_id", "user_id", "ts", "event_type")
      graft.snapshot.SnapshotStore.append(root, ev.filter(pmod(col("event_id"), lit(2)) === 0), tsCol = Some("ts"))
      graft.snapshot.SnapshotStore.append(root, ev.filter(pmod(col("event_id"), lit(2)) === 1), tsCol = Some("ts"))
      // the crashed append: data fully written, manifest never committed
      ev.limit(100).write.parquet(s"$root/data/s99")
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(s"$root/data/s99"),
        java.nio.file.attribute.FileTime.fromMillis(1L))
      val removed = graft.snapshot.SnapshotStore.vacuum(root)
      graft.snapshot.SnapshotStore
        .read(s, root)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), countDistinct("user_id").as("n_users"))
        .withColumn("orphans_removed", lit(removed.size.toLong))
    }),

    // ---- LTTB visual downsample (fixed-anchor parallel variant):
    //      ONE representative point per (series, hour) — the point
    //      forming the largest triangle against the previous bucket's
    //      last / next bucket's first point, areas as exact integer
    //      cross products so both engines pick identical points ----
    "q165_lttb_downsample" -> ((s, dir) => {
      graft.rollup.Downsample
        .lttb(t(s, dir, "events"), Seq("event_type"), "ts", "value", "1h", "event_id")
        .select("event_type", "bucket_ts", "sel_ts", "event_id", "sel_v", "area2", "n_points")
    }),

    // ---- lagged cross-correlation: does series B LEAD series A?
    //      Pearson over (x_t, y_{t-k}) per hour for k in -2..2 —
    //      integer micro-unit co-moments, epoch-second lag alignment,
    //      one final IEEE float chain (q86's contract, lag-indexed) ----
    "q171_lag_correlation" -> ((s, dir) => {
      graft.rollup.Correlate
        .laggedPearson(t(s, dir, "events"), "event_type", "ts", "value", "hour", Seq(-2, -1, 0, 1, 2))
    }),

    // ---- KMV distinct sketch: per-series distinct-user estimate as
    //      the k smallest distinct 60-bit hashes — the simplest
    //      MERGEABLE distinct sketch (union + min-k re-rolls through
    //      tiers); estimate (k-1)·2^60/θ, exact below k ----
    "q173_kmv_distinct" -> ((s, dir) => {
      graft.rollup.Kmv.distinctEstimate(t(s, dir, "events"), Seq("event_type"), "user_id", k = 64)
    }),

    // ---- behavioral transition matrix: first-order Markov counts of
    //      per-user event-type sequences — P(next|current) for funnel
    //      design and transition-drift alerts ----
    "q179_transition_matrix" -> ((s, dir) => {
      graft.operators.Transitions.matrix(t(s, dir, "events"), Seq("user_id"), "ts", "event_id", "event_type")
    }),

    // ---- order-3 vicinity corrector (q47 one order up; reference
    //      mine_all_counts takes arbitrary order): candidate pr
    //      conditioned on an lhs column TRIPLE. With errors on
    //      `segment`, the only surviving triple is
    //      {decile, nation, parity} ----
    "q181_vicinity_order3" -> ((s, dir) => {
      val base = corruptible(s, dir, corrupt = true)
        .withColumn("parity", pmod(col("row_id"), lit(2)).cast("string"))
      val errors = base
        .filter(col("segment") === "__CORRUPT__")
        .select(col("row_id"), lit("segment").as("col"), col("segment").as("error_value"))
      Correctors
        .vicinityCorrectorOrderN(base, errors, "row_id", Seq("nation", "decile", "segment", "parity"), 3)
        .select(col("row_id"), col("corrector"), col("candidate"), round(col("score"), 6).as("score"))
    }),

    // ---- one-pass column profiling (ingestion QA / optimizer stats):
    //      melt the profiled columns in the single scan, then the
    //      two-level (col, value) -> col aggregate — both exchanges
    //      partial-aggregated and key-partitioned, where C separate
    //      count(distinct)s would plan as one EXPAND with a
    //      driver-bottlenecked final reduce ----
    "q157_profile" -> ((s, dir) => {
      graft.operators.Profile.profile(
        t(s, dir, "events"),
        Seq("event_id", "user_id", "event_type"))
    }),

    // ---- tier router: the QUERY side of the cascade — a (range,
    //      step) request is served from the COARSEST stored tier whose
    //      width divides the step (epoch-anchored floors nest exactly),
    //      range-pruned and re-summed to the step; raw data is never
    //      touched. A 2h step must route to the 1h tier. ----
    "q143_tier_router" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def tierOf(tier: String) = graft.rollup.Rollup
        .fromRaw(ev, Seq("event_type"), "ts", tier, col("value").cast("long"))
      val (tier, served) = graft.rollup.TierRouter.serve(
        tierOf,
        Seq("event_type"),
        stepSeconds = 7200L,
        fromInclusive = java.sql.Timestamp.valueOf("2024-01-02 00:00:00"),
        toExclusive = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
      )
      require(tier == "1h", s"router must serve a 2h step from the 1h tier, chose $tier")
      served
    }),

    // ---- pages pipeline: correct -> tiered rollup (rows-only; full
    //      oracle lives in PagesPipelineSpec against in-Spark oracle)
    "q25_pages_pipeline" -> ((s, _) => {
      PagePipeline.hourlyRollupFixed(s, nPages = 2000)
    }),

    // ---- pdep/gpdep statistics (A4-A8) as a relation ----
    "q29_pdep_stats" -> ((s, dir) => {
      import s.implicits._
      val base = corruptible(s, dir, corrupt = false)
      val noErr = s.emptyDataset[graft.correct.ErrorCell].toDF()
      Pdep.statsDF(base, noErr, "row_id", Seq(Fd(Seq("nation"), "segment"), Fd(Seq("decile"), "segment")))
    }),

    // ---- FD corrector with gpdep-weighted scores (M2: J2+A10) ----
    "q30_fd_corrector" -> ((s, dir) => {
      val base = corruptible(s, dir, corrupt = true)
      val errors = base
        .filter(col("segment") === "__CORRUPT__")
        .select(col("row_id"), lit("segment").as("col"), col("segment").as("error_value"))
      val fds = Seq(Fd(Seq("nation"), "segment"), Fd(Seq("decile"), "segment"))
      val gp = Pdep.gpdepTable(base, errors, "row_id", fds)
      Correctors
        .fdCorrector(base, errors, "row_id", gp, fds)
        .select(col("row_id"), col("candidate"), round(col("score"), 6).as("score"))
    }),

    // ---- count-based frequency imputer (M1 replacement, P5 filters) ----
    "q31_imputer" -> ((s, dir) => {
      val base = corruptible(s, dir, corrupt = true).drop("decile")
      val errors = base
        .filter(col("segment") === "__CORRUPT__")
        .select(col("row_id"), lit("segment").as("col"), col("segment").as("error_value"))
      Correctors
        .frequencyImputer(base, errors, "row_id", Seq("nation", "segment"))
        .select(col("row_id"), col("candidate"), round(col("score"), 6).as("score"))
    }),

    // ---- user-label overlay (J5: combine_first ≡ COALESCE) ----
    "q32_user_overlay" -> ((s, dir) => {
      val base = corruptible(s, dir, corrupt = true).drop("decile")
      val errors = base
        .filter(col("segment") === "__CORRUPT__")
        .select(col("row_id"), lit("segment").as("col"), col("segment").as("error_value"))
      val decided = Correctors.decide(
        Correctors.vicinityCorrectorOrder1(base, errors, "row_id", Seq("nation", "segment"))
      )
      val user = base
        .filter(pmod(col("row_id"), lit(51)) === 9)
        .select(col("row_id"), lit("segment").as("col"), lit("USER_FIX").as("value"))
      Correctors.overlayUserLabels(decided, user)
    }),

    // ---- cell-exact evaluation P/R/F1 (J7+A12), imperfect detection ----
    "q33_evaluate" -> ((s, dir) => {
      val base = corruptible(s, dir, corrupt = true).drop("decile")
      val detected = base
        .filter(col("segment") === "__CORRUPT__" || pmod(col("row_id"), lit(29)) === 11)
        .select(col("row_id"), lit("segment").as("col"), col("segment").as("error_value"))
      val decided = Correctors.decide(
        Correctors.vicinityCorrectorOrder1(base, detected, "row_id", Seq("nation", "segment"))
      )
      val actual = t(s, dir, "customer")
        .filter(col("c_custkey") % 17 === 3)
        .select(col("c_custkey").as("row_id"), lit("segment").as("col"), col("c_mktsegment").as("clean_value"))
      Correctors.evaluateDF(decided, actual)
    }),

    // ---- gap fill: linear interpolation over the spine ----
    "q34_gapfill_interp" -> ((s, dir) => {
      val hourly = Rollup
        .fromRaw(
          t(s, dir, "events"),
          Seq("event_type"),
          "ts",
          "1h",
          lit(0L),
          Map("value_sum" -> round(col("value"), 6).cast("decimal(28,6)"))
        )
        .select(col("event_type"), col("bucket_ts"), col("value_sum").cast("double").as("value_sum"))
      val gappy = hourly.filter(hour(col("bucket_ts")) % 4 =!= 1)
      val spined = GapFill.withSpine(gappy, Seq("event_type"), "1h")
      GapFill
        .interpolate(spined, Seq("event_type"), "value_sum")
        .select(col("event_type"), col("bucket_ts"), round(col("value_sum"), 6).as("value_sum"))
    }),

    // ---- value corrector: difflib transformation replay (M7/V1-V3) ----
    "q36_value_corrector" -> ((s, dir) => {
      val base = t(s, dir, "customer")
        .select(col("c_custkey").as("row_id"), col("c_mktsegment").as("segment"))
      val errors = base
        .filter(pmod(col("row_id"), lit(23)) === 7)
        .select(col("row_id"), lit("segment").as("col"), concat(lit("XX"), col("segment")).as("error_value"))
      val pairs = Map("segment" -> Seq(("XXBUILDING", "BUILDING"), ("XXAUTOMOBILE", "AUTOMOBILE")))
      Correctors
        .valueCorrector(errors, pairs)
        .select(col("row_id"), col("corrector"), col("candidate"), round(col("score"), 6).as("score"))
    }),

    // ---- continuous aggregate: two snapshot appends folded
    //      incrementally must equal the one-shot rollup oracle ----
    "q37_continuous_rollup" -> ((s, dir) => {
      val root = "/tmp/graft_q37/src"
      val tiers = "/tmp/graft_q37/tiers"
      graft.snapshot.SnapshotStore.deleteRecursively("/tmp/graft_q37")
      val ev = t(s, dir, "events")
      graft.snapshot.SnapshotStore.append(root, ev.filter(pmod(col("event_id"), lit(2)) === 0), tsCol = Some("ts"))
      graft.snapshot.ContinuousRollup.update(s, root, tiers, Seq("event_type"), "ts", lit(0L))
      graft.snapshot.SnapshotStore.append(root, ev.filter(pmod(col("event_id"), lit(2)) === 1), tsCol = Some("ts"))
      graft.snapshot.ContinuousRollup.update(s, root, tiers, Seq("event_type"), "ts", lit(0L))
      graft.snapshot.ContinuousRollup
        .readTier(s, tiers, "1h")
        .select(col("event_type"), col("bucket_ts"), col("point_count"))
    }),

    // ---- A3 all-combination counts, order 1, cell-masked ----
    "q38_all_counts" -> ((s, dir) => {
      val base = corruptible(s, dir, corrupt = false)
      val errors = base
        .filter(pmod(col("row_id"), lit(13)) === 4)
        .select(col("row_id"), lit("segment").as("col"), col("segment").as("error_value"))
      Correctors
        .allCountsOrderN(base, errors, "row_id", Seq("nation", "decile", "segment"), 1)
        .select(
          col("lhs_col_1").as("lhs_col"),
          col("rhs_col"),
          col("lhs_val_1").as("lhs_val"),
          col("candidate"),
          col("cnt")
        )
    }),

    // ---- frozen LLM-cache corrector (S5+J4, M5/M6 cache join) ----
    "q39_cache_corrector" -> ((s, dir) => {
      val base = corruptible(s, dir, corrupt = true).drop("decile")
      val errors = base
        .filter(col("segment") === "__CORRUPT__")
        .select(col("row_id"), lit("segment").as("col"), col("segment").as("error_value"))
      val cache = t(s, dir, "customer")
        .filter(col("c_custkey") % 17 === 3 || col("c_custkey") % 17 === 5)
        .select(
          col("c_custkey").as("row_id"),
          lit("segment").as("col"),
          lit("llm_correction").as("corrector"),
          col("c_mktsegment").as("candidate"),
          lit(0.9).as("score")
        )
      Correctors.cacheCorrector(errors, cache)
    }),

    // ---- unsupervised Narayan baseline (M11: J4 + W4 top-1) ----
    "q40_narayan" -> ((s, dir) => {
      val err = t(s, dir, "customer")
        .filter(col("c_custkey") % 17 === 3)
        .select(col("c_custkey").as("row_id"), col("c_mktsegment").as("truth"))
      val cache = err
        .select(col("row_id"), col("truth").as("candidate"), lit(0.8).as("score"))
        .unionByName(err.select(col("row_id"), lit("MACHINERY").as("candidate"), lit(0.3).as("score")))
      val w = Window.partitionBy("row_id").orderBy(col("score").desc, col("candidate").asc)
      cache
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("row_id"), col("candidate").as("value"))
    }),

    // ---- in-engine FD mining (S6 replacement) ----
    "q41_fd_mining" -> ((s, dir) => {
      import s.implicits._
      val base = corruptible(s, dir, corrupt = false).withColumn("natcopy", col("nation"))
      val noErr = s.emptyDataset[graft.correct.ErrorCell].toDF()
      Pdep.mineFds(base, noErr, "row_id", Seq("nation", "decile", "segment", "natcopy"))
    }),

    // ---- cell-wise table diff (J1: the error-detection oracle) ----
    "q42_cell_diff" -> ((s, dir) => {
      val dirty = corruptible(s, dir, corrupt = true).drop("decile")
      val clean = corruptible(s, dir, corrupt = false).drop("decile")
      Cells.cellDiff(dirty, clean, "row_id", Seq("nation", "segment"))
    }),

    // ---- W1 greedy labeling sample (top-k rows by error count) ----
    "q43_sampling" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val errors = c
        .filter(col("c_custkey") % 17 === 3)
        .select(col("c_custkey").as("row_id"), lit("segment").as("col"), lit("x").as("error_value"))
        .unionByName(
          c.filter(col("c_custkey") % 23 === 5)
            .select(col("c_custkey").as("row_id"), lit("nation").as("col"), lit("y").as("error_value"))
        )
      Correctors.greedySample(errors, 20)
    }),

    // ---- W2 Baran iterative sample (rows-only check) ----
    "q44_baran_sample" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val errors = c
        .filter(col("c_custkey") % 17 === 3)
        .select(col("c_custkey").as("row_id"), lit("segment").as("col"), col("c_mktsegment").as("error_value"))
        .unionByName(
          c.filter(col("c_custkey") % 23 === 5)
            .select(col("c_custkey").as("row_id"), lit("nation").as("col"), col("c_nationkey").cast("string").as("error_value"))
        )
      Correctors
        .baranSample(errors, 20)
        .zipWithIndex
        .map { case (r, i) => (i.toLong + 1, r) }
        .toDF("rank", "row_id")
    }),

    // ---- M8 meta-learner: per-column GBT over pair features,
    //      A13 fallback under the A14 guard (rows-only check) ----
    "q45_meta_learner" -> ((s, dir) => {
      val base = corruptible(s, dir, corrupt = true).drop("decile")
      val errors = base
        .filter(col("segment") === "__CORRUPT__")
        .select(col("row_id"), lit("segment").as("col"), col("segment").as("error_value"))
      val sugg = Correctors
        .vicinityCorrectorOrder1(base, errors, "row_id", Seq("nation", "segment"))
        .unionByName(Correctors.frequencyImputer(base, errors, "row_id", Seq("nation", "segment")))
      val correctors = sugg.select("corrector").distinct().collect().map(_.getString(0)).sorted.toSeq
      val features = graft.correct.MetaLearner.pairFeatures(sugg, correctors)
      val labeled = t(s, dir, "customer")
        .filter(col("c_custkey") % 17 === 3 && col("c_custkey") % 5 === 0)
        .select(col("c_custkey").as("row_id"), lit("segment").as("col"), col("c_mktsegment").as("clean_value"))
      graft.correct.MetaLearner.trainPredict(features, correctors, labeled)
    }),

    // ---- hpo: the CV-estimator form of the meta-learner (reference
    //      CLASSIFICATION_MODEL=CV, GridSearchCV analog) on the q45
    //      fixture capped at 1500 rows — in the lifecycle the CV grid
    //      trains on budget-bounded labeled pairs, so the model-
    //      selection surface is pinned at that shape (an uncapped
    //      standalone run would grid-search 18 fold-fits over an
    //      unrealistically large training relation); the cap also
    //      bounds the grid cost when the bench runs this at sf0.1+
    //      (goldens exist for the verified SFs, 0.001 and 0.01, where
    //      the cap is a no-op: row_id covers all customers there) ----
    "q62_meta_learner_cv" -> ((s, dir) => {
      val base = corruptible(s, dir, corrupt = true).drop("decile").filter(col("row_id") <= 1500)
      val errors = base
        .filter(col("segment") === "__CORRUPT__")
        .select(col("row_id"), lit("segment").as("col"), col("segment").as("error_value"))
      val sugg = Correctors
        .vicinityCorrectorOrder1(base, errors, "row_id", Seq("nation", "segment"))
        .unionByName(Correctors.frequencyImputer(base, errors, "row_id", Seq("nation", "segment")))
      val correctors = sugg.select("corrector").distinct().collect().map(_.getString(0)).sorted.toSeq
      val features = graft.correct.MetaLearner.pairFeatures(sugg, correctors)
      val labeled = t(s, dir, "customer")
        .filter(col("c_custkey") <= 1500 && col("c_custkey") % 17 === 3 && col("c_custkey") % 5 === 0)
        .select(col("c_custkey").as("row_id"), lit("segment").as("col"), col("c_mktsegment").as("clean_value"))
      graft.correct.MetaLearner.trainPredict(features, correctors, labeled, classifier = "CV")
    }),

    // ---- q62's grid scored by the reference's exact criterion
    //      (hpo.py scoring="precision"): positive-label precision over
    //      hard predictions picks the model ----
    "q182_meta_learner_cv_precision" -> ((s, dir) => {
      val base = corruptible(s, dir, corrupt = true).drop("decile").filter(col("row_id") <= 1500)
      val errors = base
        .filter(col("segment") === "__CORRUPT__")
        .select(col("row_id"), lit("segment").as("col"), col("segment").as("error_value"))
      val sugg = Correctors
        .vicinityCorrectorOrder1(base, errors, "row_id", Seq("nation", "segment"))
        .unionByName(Correctors.frequencyImputer(base, errors, "row_id", Seq("nation", "segment")))
      val correctors = sugg.select("corrector").distinct().collect().map(_.getString(0)).sorted.toSeq
      val features = graft.correct.MetaLearner.pairFeatures(sugg, correctors)
      val labeled = t(s, dir, "customer")
        .filter(col("c_custkey") <= 1500 && col("c_custkey") % 17 === 3 && col("c_custkey") % 5 === 0)
        .select(col("c_custkey").as("row_id"), lit("segment").as("col"), col("c_mktsegment").as("clean_value"))
      graft.correct.MetaLearner.trainPredict(features, correctors, labeled, classifier = "CV_PRECISION")
    }),

    // ---- as-of join: purchases pick up the most recent prior-or-equal
    //      signup snapshot of the same user — ONE shared hash exchange
    //      plus an in-partition sort (sort-merge shape), never the
    //      per-key-cartesian range join; oracle is DuckDB's native
    //      ASOF LEFT JOIN over the identical inputs ----
    "q73_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val signups = ev
        .filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("signup_ts"), col("value"))
        .groupBy("user_id", "signup_ts")
        .agg(max("value").as("signup_value"))
      graft.operators.AsofJoin.asof(purchases, signups, Seq("user_id"), "ts", "signup_ts")
    }),

    // ---- gap-based sessionization (30-min inactivity): lag-diff flags
    //      session starts, a running sum numbers them — both windows
    //      share one exchange+sort on user_id — then per-session
    //      start/end/count/value reduce ----
    "q74_sessionize" -> ((s, dir) => {
      graft.operators.Sessionize.sessions(
        t(s, dir, "events"),
        Seq("user_id"),
        "ts",
        gapMicros = 30L * 60 * 1000000,
        tieBreak = "event_id",
        extraAggs = Seq(dsum(col("value")).as("value_sum"))
      )
    }),

    // ---- mergeable quantile tier sketch: p50/p95 of event value per
    //      (event_type, day), computed through the 1m -> 1h -> 1d
    //      cascade (states merge like counts — raw scanned once); at
    //      these per-bucket cardinalities the sketch is in exact mode,
    //      so DuckDB's exact weighted-quantile replay must match ----
    "q75_quantile_tiers" -> ((s, dir) => {
      import graft.rollup.QuantileSketch
      val t1m = Rollup.fromRaw(
        t(s, dir, "events"),
        Seq("event_type"),
        "ts",
        "1m",
        lit(0L),
        quantiles = Map("qs" -> col("value"))
      )
      val t1h = Rollup.reRollup(t1m, Seq("event_type"), "1m" -> "1h", quantileCols = Seq("qs"))
      val t1d = Rollup.reRollup(t1h, Seq("event_type"), "1h" -> "1d", quantileCols = Seq("qs"))
      t1d.select(
        col("event_type"),
        col("bucket_ts"),
        QuantileSketch.quantile(col("qs"), 0.5).as("p50"),
        QuantileSketch.quantile(col("qs"), 0.95).as("p95")
      )
    }),

    // ---- counter increase/rate (Prometheus reset semantics): per
    //      (user, day) sum of the positive counter deltas, a drop
    //      restarting the count — one exchange on user_id; the bucket
    //      reduce reuses that clustering (no second shuffle) ----
    "q76_counter_rate" -> ((s, dir) => {
      graft.rollup.RateOps.increase(
        t(s, dir, "events"),
        Seq("user_id"),
        "ts",
        "value",
        "1d",
        tieBreak = "event_id"
      )
    }),

    // ---- time-weighted average per (event_type, hour): each sample
    //      LOCF-holds to the next in its bucket, the last to the
    //      bucket end; fixed-point value x micros products make the
    //      weighted sum merge-order-free (hash-exact in DuckDB) ----
    "q77_time_weighted_avg" -> ((s, dir) => {
      graft.rollup.RateOps.timeWeightedAvg(
        t(s, dir, "events"),
        Seq("event_type"),
        "ts",
        "value",
        "1h",
        tieBreak = "event_id"
      )
    }),

    // ---- retention enforcement: the fine tiers keep a short date
    //      window (1m: 10 days, 1h: 20 days as of the newest event
    //      day), expired PARTITION DIRS drop without reading a row,
    //      the kept range still reads consistently ----
    "q78_retention" -> ((s, dir) => {
      val root = "/tmp/graft_q78/src"
      val tiers = "/tmp/graft_q78/tiers"
      graft.snapshot.SnapshotStore.deleteRecursively("/tmp/graft_q78")
      val ev = t(s, dir, "events")
      graft.snapshot.SnapshotStore.append(root, ev, tsCol = Some("ts"))
      graft.snapshot.ContinuousRollup.update(s, root, tiers, Seq("event_type"), "ts", lit(0L))
      val asOf = ev.agg(max(to_date(col("ts")))).collect()(0).getDate(0).toLocalDate
      val res = graft.snapshot.Retention
        .enforce(s, tiers, Map("1m" -> 10, "1h" -> 20), asOf)
        .map(r => r.tier -> r.partsDropped)
        .toMap
      graft.snapshot.ContinuousRollup
        .readTier(s, tiers, "1h")
        .select(col("event_type"), col("bucket_ts"), col("point_count"))
        .withColumn("parts_dropped_1m", lit(res("1m")))
        .withColumn("parts_dropped_1h", lit(res("1h")))
    }),

    // ---- M4 visual downsample (VLDB'14): per (event_type, hour) the
    //      four points line rendering needs — first/last by time,
    //      argmin/argmax by value with lexicographic tie rules — as a
    //      single partial-aggregated struct min/max groupBy ----
    "q79_m4_downsample" -> ((s, dir) => {
      graft.rollup.Downsample.m4(
        t(s, dir, "events"),
        Seq("event_type"),
        "ts",
        "value",
        "1h",
        tieBreak = "event_id"
      )
    }),

    // ---- rolling z-score anomaly scoring: each event scored against
    //      the exact fixed-point moments of its series' previous 20
    //      points — one exchange + sort, bit-reproducible double tree
    //      over exact decimal sums ----
    "q80_rolling_zscore" -> ((s, dir) => {
      graft.rollup.Anomaly
        .rollingZ(
          t(s, dir, "events"),
          Seq("event_type"),
          "ts",
          "value",
          tieBreak = "event_id",
          lookback = 20,
          minPoints = 10,
          threshold = 3.0
        )
        .select("event_id", "event_type", "ts", "value", "z", "is_anomaly")
    }),

    // ---- interval-point overlap join: purchase sessions (q74's
    //      operator) pick up the clicks they contain — replicated into
    //      1h epochs, EQUI-joined on (user, epoch), residual-filtered;
    //      never the per-key cartesian Spark would otherwise plan ----
    "q81_interval_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val sess = graft.operators.Sessionize
        .sessions(
          ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
          Seq("user_id"),
          "ts",
          gapMicros = 30L * 60 * 1000000,
          tieBreak = "event_id"
        )
        // ±6h attribution window around each purchase session
        .select(
          col("user_id"),
          col("session_idx"),
          (col("session_start") - expr("interval 6 hours")).as("win_start"),
          (col("session_end") + expr("interval 6 hours")).as("win_end")
        )
      val clicks = ev
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.operators.IntervalJoin
        .overlap(sess, clicks, Seq("user_id"), "win_start", "win_end", "ts", epochSeconds = 3600)
    }),

    // ---- deterministic stratified hash sampling: per-language
    //      balancing of the crawl corpus (en down to 10%, others 60%)
    //      via the portable md5 threshold — stable under partitioning,
    //      retries, and AQE, so the oracle replays it exactly ----
    "q82_stratified_sample" -> ((s, dir) => {
      graft.operators.Sampling
        .stratifiedSampleBy(
          t(s, dir, "documents"),
          "doc_id",
          "lang",
          Map("en" -> 0.1),
          defaultFraction = 0.6,
          salt = "graft"
        )
        .select("doc_id", "lang", "n_chars")
    }),

    // ---- Spark-native session_window (batch form of the streaming
    //      session operator): windows merge while events fall STRICTLY
    //      inside gap (split at diff >= gap — one boundary tighter
    //      than q74's lag-diff operator, which splits at > gap), and
    //      window end = last event + gap ----
    "q83_session_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          col("user_id"),
          col("sw.start").as("session_start"),
          col("sw.end").as("session_end"),
          col("n_events")
        )
    }),

    // ---- §2.10: mergeable top-k (heavy hitters) tier measure — the
    //      SpaceSaving sketch rides fromRaw like counts/HLL and the 1h
    //      states re-roll to 1d through the same merge the coarser
    //      tiers use. The query runs in EXACT mode (max 67 distinct
    //      users per day at sf0.01 << capacity 128), so the oracle is
    //      the exact per-day top-5 with the same tie-break ----
    "q65_topk_tiers" -> ((s, dir) => {
      val t1h = Rollup.fromRaw(
        t(s, dir, "events"),
        Seq("event_type"),
        "ts",
        "1h",
        lit(0L),
        topk = Map("top_users" -> col("user_id").cast("string"))
      )
      val t1d = Rollup.reRollup(t1h, Seq("event_type"), "1h" -> "1d", topkCols = Seq("top_users"))
      t1d.select(
        col("event_type"),
        col("bucket_ts"),
        col("point_count"),
        graft.rollup.TopK.present(col("top_users"), 5).as("top5_users")
      )
    }),

    // ---- M4 pdep-ranked vicinity corrector (W3 n-best deps, pr feature) ----
    "q46_vicinity_pdep" -> ((s, dir) => {
      val base = corruptible(s, dir, corrupt = true)
      val errors = base
        .filter(col("segment") === "__CORRUPT__")
        .select(col("row_id"), lit("segment").as("col"), col("segment").as("error_value"))
      Correctors
        .vicinityCorrectorPdep(base, errors, "row_id", Seq("nation", "decile", "segment"), nBest = 2)
        .select(col("row_id"), col("corrector"), col("candidate"), round(col("score"), 6).as("score"))
    }),

    // ---- M3 order-2 vicinity corrector (A3 order-2 count model) ----
    "q47_vicinity_order2" -> ((s, dir) => {
      val base = corruptible(s, dir, corrupt = true)
      val errors = base
        .filter(col("segment") === "__CORRUPT__")
        .select(col("row_id"), lit("segment").as("col"), col("segment").as("error_value"))
      Correctors
        .vicinityCorrectorOrderN(base, errors, "row_id", Seq("nation", "decile", "segment"), 2)
        .select(col("row_id"), col("corrector"), col("candidate"), round(col("score"), 6).as("score"))
    }),

    // ---- full correction lifecycle (reference Cleaning.run, §3.1):
    //      FD mining -> ensemble -> A13 -> overlay (rows-only; the
    //      stages are individually oracle-checked in q29-q33/q46-q47,
    //      and CleaningSpec pins the E2E goldens on the reference's
    //      own debug fixtures) ----
    "q48_cleaning" -> ((s, dir) => {
      val base = corruptible(s, dir, corrupt = true)
      val detected = base
        .filter(col("segment") === "__CORRUPT__")
        .select(col("row_id"), lit("segment").as("col"), col("segment").as("error_value"))
      val labels = t(s, dir, "customer")
        .filter(col("c_custkey") % 17 === 3 && col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("row_id"), lit("segment").as("col"), col("c_mktsegment").as("clean_value"))
      // useValue=false keeps the ensemble SQL-expressible (vicinity1 +
      // imputer + A13 + overlay; no FD mines on this fixture) so the
      // whole lifecycle gets a DuckDB oracle; the value corrector is
      // verified separately by q36
      graft.correct.Cleaning
        .run(
          base,
          "row_id",
          Seq("nation", "decile", "segment"),
          detected,
          labels,
          graft.correct.CleaningConfig(useValue = false)
        )
    }),

    // ---- exact distinct aggregation (two-phase expand) ----
    "q49_distinct_exact" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // ---- mergeable HLL distinct sketches riding the tier hierarchy
    //      (1m sketches -> union to 1h -> 1d; estimate at read;
    //      rows-only — estimates are engine-specific; the merge-equals-
    //      direct and accuracy invariants live in RollupSketchSpec) ----
    "q50_hll_tiers" -> ((s, dir) => {
      val sk = Seq("users_hll")
      val t1m = Rollup.fromRaw(
        t(s, dir, "events"),
        Seq("event_type"),
        "ts",
        "1m",
        lit(0L),
        sketches = Map("users_hll" -> col("user_id"))
      )
      val t1h = Rollup.reRollup(t1m, Seq("event_type"), "1m" -> "1h", sketchCols = sk)
      val t1d = Rollup.reRollup(t1h, Seq("event_type"), "1h" -> "1d", sketchCols = sk)
      t1d.select(
        col("event_type"),
        col("bucket_ts"),
        col("point_count"),
        hll_sketch_estimate(col("users_hll")).as("distinct_users_est")
      )
    }),

    // ---- cleaning lifecycle with synthetic training tuples (steps
    //      5+8 + M9/M10 gates; GBT decision -> rows-only check,
    //      gate/flip semantics pinned in EnsembleSpec/CleaningSpec) ----
    "q52_cleaning_synth" -> ((s, dir) => {
      val base = corruptible(s, dir, corrupt = true)
      val detected = base
        .filter(col("segment") === "__CORRUPT__")
        .select(col("row_id"), lit("segment").as("col"), col("segment").as("error_value"))
      val labels = t(s, dir, "customer")
        .filter(col("c_custkey") % 17 === 3 && col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("row_id"), lit("segment").as("col"), col("c_mktsegment").as("clean_value"))
      graft.correct.Cleaning.run(
        base,
        "row_id",
        Seq("nation", "decile", "segment"),
        detected,
        labels,
        graft.correct.CleaningConfig(useMetaLearner = true, synthTuples = 20)
      )
    }),

    // ---- S7 imperfect-detection source: externally produced JSON
    //      error mask -> standard error-cell relation ----
    "q53_detection_mask" -> ((s, dir) => {
      val base = corruptible(s, dir, corrupt = true)
      // simulated detector output: misses every 5th true error, adds
      // %29 false positives; positions are (row_id, column index)
      val positions = base
        .filter(
          (col("row_id") % 17 === 3 && col("row_id") % 5 =!= 0) || col("row_id") % 29 === 11
        )
        .select(col("row_id"))
        .distinct()
        .collect()
        .map(r => (r.getLong(0), 2)) // segment is column 2 of (nation, decile, segment)
        .toSeq
        .sortBy(_._1)
      val maskDir = "/tmp/graft_q53_masks"
      graft.snapshot.SnapshotStore.deleteRecursively(maskDir)
      graft.sources.DetectionMasks.write(maskDir, "customer", 1L, positions)
      graft.sources.DetectionMasks
        .read(s, maskDir, "customer", 1L, base, "row_id", Seq("nation", "decile", "segment"))
    }),

    // ---- label-noise knob: ground-truth labeling with simulated
    //      defective user input ----
    "q54_label_noise" -> ((s, dir) => {
      val base = corruptible(s, dir, corrupt = false)
      val rows = base
        .filter(col("row_id") % 13 === 1)
        .select("row_id")
        .collect()
        .map(_.getLong(0))
        .toSeq
      graft.correct.Labeling
        .labelWithGroundTruth(base, "row_id", Seq("nation", "decile", "segment"), rows, noisePct = 0.2, seed = 7L)
    }),

    // ---- S1/S3: all-string CSV sink + source round-trip. The engine
    //      WRITES customer-derived rows (with planted empty strings)
    //      through the CSV sink and reads them back; the oracle
    //      computes the same relation straight from parquet — so a
    //      hash match proves `""` survives the round-trip as the empty
    //      string (null would print and hash differently) ----
    "q56_csv_roundtrip" -> ((s, dir) => {
      val out = "/tmp/graft_q56/csv"
      graft.snapshot.SnapshotStore.deleteRecursively("/tmp/graft_q56")
      val src = t(s, dir, "customer").select(
        col("c_custkey").cast("string").as("row_id"),
        col("c_name").as("name"),
        when(col("c_custkey") % 7 === 0, lit("")).otherwise(col("c_mktsegment")).as("segment")
      )
      graft.sources.StringCsv.write(src, out)
      graft.sources.StringCsv
        .read(s, out, Seq("row_id", "name", "segment"))
        .withColumn("row_id", col("row_id").cast("long"))
    }),

    // ---- snapshot compaction: three appends folded + compacted to a
    //      single base; the tier table read AFTER the rebase must hash
    //      to the one-shot rollup of all events, and the data-dir
    //      count must have dropped to 1 (files_reduced) ----
    "q57_compaction" -> ((s, dir) => {
      val root = "/tmp/graft_q57/src"
      val tiers = "/tmp/graft_q57/tiers"
      graft.snapshot.SnapshotStore.deleteRecursively("/tmp/graft_q57")
      val ev = t(s, dir, "events")
      (0 to 2).foreach { i =>
        graft.snapshot.SnapshotStore.append(root, ev.filter(pmod(col("event_id"), lit(3)) === i), tsCol = Some("ts"))
      }
      graft.snapshot.ContinuousRollup.update(s, root, tiers, Seq("event_type"), "ts", lit(0L))
      val dirsBefore = graft.snapshot.SnapshotStore.resolveDirs(root, 0L, 3L).size
      graft.snapshot.SnapshotStore.compact(s, root, upTo = 3L, consumerTiersRoots = Seq(tiers))
      val dirsAfter = graft.snapshot.SnapshotStore.resolveDirs(root, 0L, 3L).size
      graft.snapshot.ContinuousRollup
        .readTier(s, tiers, "1d")
        .select(col("event_type"), col("bucket_ts"), col("point_count"))
        // resolveDirs lists day-level dirs: three appends each carry
        // the full day set, the compacted base carries it once
        .withColumn("files_reduced", lit(dirsAfter < dirsBefore))
    }),

    // ---- cross-row entity/token corrector (the deterministic in-table
    //      share of llm_master): per-(token, column) conditional value
    //      distributions over trusted cells; the oracle re-runs the
    //      identical algorithm in SQL (decimal pr sums -> order-free) ----
    "q59_entity_corrector" -> ((s, dir) => {
      val base = corruptible(s, dir, corrupt = false)
      val errors = base
        .filter(pmod(col("row_id"), lit(13)) === 4)
        .select(col("row_id"), lit("segment").as("col"), col("segment").as("error_value"))
      Correctors
        .entityCorrector(base, errors, "row_id", Seq("nation", "decile", "segment"))
        .select(col("row_id"), col("candidate"), round(col("score"), 6).as("score"))
    }),

    // ---- V4-V7 token-function family: MV codec round-trip, prompt
    //      key serialization (<Error> mask), logprob -> score, value
    //      length guard — all pure codegen'd expressions ----
    "q60_token_functions" -> ((s, dir) => {
      val base = corruptible(s, dir, corrupt = false)
      val planted = when(pmod(col("row_id"), lit(7)) === 0, lit("")).otherwise(col("segment"))
      val enc = graft.correct.Tokens.mvEncode(planted)
      base.select(
        col("row_id"),
        enc.as("mv_encoded"),
        graft.correct.Tokens.mvDecode(enc).as("mv_roundtrip"),
        graft.correct.Tokens
          .promptKey(Seq(col("nation"), col("decile"), col("segment")), errorIdx = 1)
          .as("prompt_key"),
        round(
          graft.correct.Tokens
            .logprobScore(array(lit(-0.1), (pmod(col("row_id"), lit(5))).cast("double") * lit(-0.2))),
          6
        ).as("lp_score"),
        graft.correct.Tokens.withinValueLength(col("segment")).as("within_len")
      )
    }),

    // ---- §3.2 experiment grid: a config/ranges document expands to
    //      the cross product (reference combine_configs) and every
    //      combination runs the lifecycle end-to-end; budget 0 keeps
    //      both runs label-free so the oracle can replay each A13
    //      lifecycle (± imputer member) and its P/R/F1 in SQL ----
    "q61_experiment_grid" -> ((s, dir) => {
      import s.implicits._
      val root = "/tmp/graft_q61"
      graft.snapshot.SnapshotStore.deleteRecursively(root)
      val toCsv = (d: DataFrame) =>
        d.select(col("row_id").cast("string").as("row_id"), col("nation"), col("decile"), col("segment"))
      graft.sources.StringCsv.write(toCsv(corruptible(s, dir, corrupt = true)), s"$root/dirty")
      graft.sources.StringCsv.write(toCsv(corruptible(s, dir, corrupt = false)), s"$root/clean")
      val doc = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        s"""{"runs": 1,
             "config_grid": {"dirty_path": "$root/dirty", "clean_path": "$root/clean",
                             "id_col": "row_id", "labeling_budget": 0,
                             "use_fd": false, "use_value": false, "use_vicinity1": true},
             "ranges_grid": {"use_imputer": [false, true]}}"""
      )
      val rows = graft.Experiments.expand(doc).map { c =>
        val (f1, p, r, n) = graft.Experiments.runOne(s, c)
        (c("use_imputer").asBoolean, p, r, f1, n)
      }
      rows
        .toDF("use_imputer", "p", "r", "f", "n_errors")
        .select(
          col("use_imputer"),
          round(col("p"), 6).as("ec_p"),
          round(col("r"), 6).as("ec_r"),
          round(col("f"), 6).as("ec_f"),
          col("n_errors")
        )
    })
  )

  /** Shared fixture base for the corrector queries: customer with a
    * string nation, a derived decile column, and (optionally) a
    * deterministic S8-style corruption of the segment column.
    */
  private def corruptible(s: SparkSession, dir: String, corrupt: Boolean): DataFrame = {
    val seg =
      if (corrupt)
        when(col("c_custkey") % 17 === 3, lit("__CORRUPT__")).otherwise(col("c_mktsegment"))
      else col("c_mktsegment")
    t(s, dir, "customer").select(
      col("c_custkey").as("row_id"),
      col("c_nationkey").cast("string").as("nation"),
      pmod(col("c_custkey"), lit(10)).cast("string").as("decile"),
      seg.as("segment")
    )
  }

  def oracleSql: Map[String, String] = Map(
    "q01_lineitem_agg" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
            ${dsumSql("l_quantity")} AS sum_qty,
            ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
          FROM lineitem GROUP BY 1, 2""",
    "q02_join_agg" ->
      s"""SELECT c_nationkey, count(*) AS n_orders, ${dsumSql("o_totalprice")} AS total_price
          FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1""",
    "q03_antijoin" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY 1""",
    "q04_window_topk" ->
      """SELECT o_custkey, o_orderkey, rnk FROM (
           SELECT o_custkey, o_orderkey,
                  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
           FROM orders) WHERE rnk <= 3""",
    "q05_melt" ->
      """SELECT p_partkey AS row_id, 'p_brand' AS col, p_brand AS value FROM part
         UNION ALL SELECT p_partkey, 'p_type', p_type FROM part
         UNION ALL SELECT p_partkey, 'p_name', p_name FROM part""",
    "q06_pdep_counts" ->
      """SELECT c_nationkey AS lhs_val, c_mktsegment AS rhs_val, count(*) AS cnt,
                CAST(sum(count(*)) OVER (PARTITION BY c_nationkey) AS BIGINT) AS lhs_cnt
         FROM customer GROUP BY 1, 2""",
    "q07_correct_fd" ->
      """WITH corrupted AS (
           SELECT c_custkey AS row_id, CAST(c_nationkey AS VARCHAR) AS nation,
                  CASE WHEN c_custkey % 17 = 3 THEN '__CORRUPT__' ELSE c_mktsegment END AS segment
           FROM customer),
         counts AS (
           SELECT nation, segment AS seg, count(*) AS cnt FROM corrupted
           WHERE segment <> '__CORRUPT__' GROUP BY 1, 2),
         best AS (
           SELECT nation, seg, row_number() OVER (PARTITION BY nation ORDER BY cnt DESC, seg ASC) AS rn
           FROM counts)
         SELECT c.row_id,
                CASE WHEN c.segment = '__CORRUPT__' THEN coalesce(b.seg, '__CORRUPT__') ELSE c.segment END AS segment
         FROM corrupted c LEFT JOIN (SELECT nation, seg FROM best WHERE rn = 1) b ON c.nation = b.nation""",
    "q08_rollup_1h" ->
      s"""SELECT event_type, date_trunc('hour', ts) AS bucket_ts, count(*) AS point_count,
            ${dsumSql("value")} AS value_sum
          FROM events GROUP BY 1, 2""",
    "q09_rollup_tiers" ->
      s"""SELECT event_type, date_trunc('day', ts) AS bucket_ts, count(*) AS point_count,
            ${dsumSql("value")} AS value_sum
          FROM events GROUP BY 1, 2""",
    "q10_rollup_30d" ->
      """SELECT event_type,
                make_timestamp(CAST(floor(epoch(ts) / 2592000) * 2592000 * 1000000 AS BIGINT)) AS bucket_ts,
                count(*) AS point_count
         FROM events GROUP BY 1, 2""",
    "q11_gapfill_zero" ->
      """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts) AS bucket_ts, count(*) AS point_count
           FROM events GROUP BY 1, 2),
         nums AS (SELECT unnest(generate_series(0, 100000)) AS i),
         bounds AS (SELECT event_type, min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM hourly GROUP BY 1),
         spine AS (SELECT b.event_type, b.lo + to_hours(n.i) AS bucket_ts
                   FROM bounds b JOIN nums n ON b.lo + to_hours(n.i) <= b.hi)
         SELECT s.event_type, s.bucket_ts, coalesce(h.point_count, 0) AS point_count
         FROM spine s LEFT JOIN hourly h ON s.event_type = h.event_type AND s.bucket_ts = h.bucket_ts""",
    "q12_gapfill_locf" ->
      s"""WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
                   ${dsumSql("value")} AS value_sum
            FROM events GROUP BY 1, 2),
          nums AS (SELECT unnest(generate_series(0, 100000)) AS i),
          bounds AS (SELECT event_type, min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM hourly GROUP BY 1),
          spine AS (SELECT b.event_type, b.lo + to_hours(n.i) AS bucket_ts
                    FROM bounds b JOIN nums n ON b.lo + to_hours(n.i) <= b.hi),
          j AS (SELECT s.event_type, s.bucket_ts, h.value_sum
                FROM spine s LEFT JOIN hourly h ON s.event_type = h.event_type AND s.bucket_ts = h.bucket_ts)
          SELECT event_type, bucket_ts,
                 last_value(value_sum IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY bucket_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_sum
          FROM j""",
    "q19_blocks_roundtrip" ->
      s"""WITH minutely AS (
            SELECT event_type, date_trunc('minute', ts) AS mts, ${dsumSql("value")} AS vs
            FROM events GROUP BY 1, 2)
          SELECT event_type, date_trunc('hour', mts) AS bucket_ts, count(*) AS n_points,
                 ${dsumSql("vs")} AS value_sum
          FROM minutely GROUP BY 1, 2""",
    "q20_salted_agg" ->
      s"""SELECT event_type, count(*) AS n_events, ${dsumSql("value")} AS value_sum
          FROM events GROUP BY 1""",
    "q21_lang_hist" ->
      """SELECT source, lang, count(*) AS cnt FROM documents GROUP BY 1, 2""",
    "q29_pdep_stats" ->
      """WITH base AS (SELECT c_custkey AS row_id, CAST(c_nationkey AS VARCHAR) AS nation,
             CAST(c_custkey % 10 AS VARCHAR) AS decile, c_mktsegment AS segment FROM customer),
         nn AS (SELECT count(*) AS n FROM base),
         pb AS (SELECT sum(c * c) AS ss FROM (SELECT count(*) * 1.0 AS c FROM base GROUP BY segment)),
         c1 AS (SELECT nation AS lhs, segment, count(*) * 1.0 AS cnt FROM base GROUP BY 1, 2),
         m1 AS (SELECT lhs, sum(cnt) AS lhs_cnt FROM c1 GROUP BY 1),
         s1 AS (SELECT sum(c1.cnt * c1.cnt / m1.lhs_cnt) AS sp, count(DISTINCT c1.lhs) AS da FROM c1 JOIN m1 USING (lhs)),
         c2 AS (SELECT decile AS lhs, segment, count(*) * 1.0 AS cnt FROM base GROUP BY 1, 2),
         m2 AS (SELECT lhs, sum(cnt) AS lhs_cnt FROM c2 GROUP BY 1),
         s2 AS (SELECT sum(c2.cnt * c2.cnt / m2.lhs_cnt) AS sp, count(DISTINCT c2.lhs) AS da FROM c2 JOIN m2 USING (lhs)),
         stats AS (
           SELECT 'nation->segment' AS fd_key, nn.n AS n,
                  pb.ss / (nn.n * 1.0 * nn.n) AS pdep_b, s1.sp / nn.n AS pdep_ab, s1.da AS da
           FROM nn, pb, s1
           UNION ALL
           SELECT 'decile->segment', nn.n, pb.ss / (nn.n * 1.0 * nn.n), s2.sp / nn.n, s2.da FROM nn, pb, s2),
         fs AS (
           SELECT fd_key, n, pdep_b, pdep_ab,
                  pdep_b + (da - 1) * 1.0 / (n - 1) * (1 - pdep_b) AS epdep,
                  pdep_ab - (pdep_b + (da - 1) * 1.0 / (n - 1) * (1 - pdep_b)) AS gpdep
           FROM stats)
         SELECT fd_key, n, round(pdep_b, 6) AS pdep_b, round(pdep_ab, 6) AS pdep_ab,
                round(epdep, 6) AS epdep, round(gpdep, 6) AS gpdep,
                round(CASE WHEN (SELECT sum(gpdep) FROM fs) > 0
                           THEN gpdep / (SELECT sum(gpdep) FROM fs) ELSE 0 END, 6) AS norm_gpdep
         FROM fs""",
    "q30_fd_corrector" ->
      """WITH corrupted AS (SELECT c_custkey AS row_id, CAST(c_nationkey AS VARCHAR) AS nation,
             CAST(c_custkey % 10 AS VARCHAR) AS decile,
             CASE WHEN c_custkey % 17 = 3 THEN '__CORRUPT__' ELSE c_mktsegment END AS segment FROM customer),
         masked AS (SELECT * FROM corrupted WHERE segment <> '__CORRUPT__'),
         nn AS (SELECT count(*) AS n FROM masked),
         pb AS (SELECT sum(c * c) AS ss FROM (SELECT count(*) * 1.0 AS c FROM masked GROUP BY segment)),
         c1 AS (SELECT nation AS lhs, segment AS candidate, count(*) * 1.0 AS cnt FROM masked GROUP BY 1, 2),
         m1 AS (SELECT lhs, sum(cnt) AS lhs_cnt FROM c1 GROUP BY 1),
         s1 AS (SELECT sum(c1.cnt * c1.cnt / m1.lhs_cnt) AS sp, count(DISTINCT c1.lhs) AS da FROM c1 JOIN m1 USING (lhs)),
         c2 AS (SELECT decile AS lhs, segment AS candidate, count(*) * 1.0 AS cnt FROM masked GROUP BY 1, 2),
         m2 AS (SELECT lhs, sum(cnt) AS lhs_cnt FROM c2 GROUP BY 1),
         s2 AS (SELECT sum(c2.cnt * c2.cnt / m2.lhs_cnt) AS sp, count(DISTINCT c2.lhs) AS da FROM c2 JOIN m2 USING (lhs)),
         fs AS (
           SELECT 'f1' AS f, pb.ss / (nn.n * 1.0 * nn.n) AS pdep_b, s1.sp / nn.n AS pdep_ab, s1.da AS da, nn.n AS n
           FROM nn, pb, s1
           UNION ALL
           SELECT 'f2', pb.ss / (nn.n * 1.0 * nn.n), s2.sp / nn.n, s2.da, nn.n FROM nn, pb, s2),
         g AS (SELECT f, pdep_ab - (pdep_b + (da - 1) * 1.0 / (n - 1) * (1 - pdep_b)) AS gpdep FROM fs),
         ng AS (SELECT f, CASE WHEN (SELECT sum(gpdep) FROM g) > 0
                               THEN gpdep / (SELECT sum(gpdep) FROM g) ELSE 0 END AS ng FROM g),
         err AS (SELECT row_id, nation, decile FROM corrupted WHERE segment = '__CORRUPT__'),
         sugg AS (
           SELECT e.row_id, c1.candidate, (SELECT ng FROM ng WHERE f = 'f1') AS score
           FROM err e JOIN c1 ON e.nation = c1.lhs
           UNION ALL
           SELECT e.row_id, c2.candidate, (SELECT ng FROM ng WHERE f = 'f2')
           FROM err e JOIN c2 ON e.decile = c2.lhs)
         SELECT row_id, candidate, round(sum(score), 6) AS score FROM sugg GROUP BY 1, 2""",
    "q31_imputer" ->
      """WITH corrupted AS (SELECT c_custkey AS row_id,
             CASE WHEN c_custkey % 17 = 3 THEN '__CORRUPT__' ELSE c_mktsegment END AS segment FROM customer),
         freq AS (SELECT segment AS candidate, count(*) AS cnt FROM corrupted
                  WHERE segment <> '__CORRUPT__' GROUP BY 1),
         tot AS (SELECT sum(cnt) * 1.0 AS s FROM freq)
         SELECT e.row_id, f.candidate, round(f.cnt / t.s, 6) AS score
         FROM (SELECT row_id FROM corrupted WHERE segment = '__CORRUPT__') e
         CROSS JOIN freq f CROSS JOIN tot t
         WHERE f.cnt / t.s >= 0.001 AND f.candidate <> '__CORRUPT__'""",
    "q32_user_overlay" ->
      """WITH corrupted AS (SELECT c_custkey AS row_id, CAST(c_nationkey AS VARCHAR) AS nation,
             CASE WHEN c_custkey % 17 = 3 THEN '__CORRUPT__' ELSE c_mktsegment END AS segment FROM customer),
         counts AS (SELECT nation, segment AS seg, count(*) AS cnt FROM corrupted
                    WHERE segment <> '__CORRUPT__' GROUP BY 1, 2),
         best AS (SELECT nation, seg, row_number() OVER (PARTITION BY nation ORDER BY cnt DESC, seg ASC) AS rn
                  FROM counts),
         decided AS (SELECT c.row_id, 'segment' AS col, b.seg AS value
                     FROM corrupted c JOIN best b ON c.nation = b.nation AND b.rn = 1
                     WHERE c.segment = '__CORRUPT__'),
         usr AS (SELECT c_custkey AS row_id, 'segment' AS col, 'USER_FIX' AS value
                 FROM customer WHERE c_custkey % 51 = 9)
         SELECT coalesce(d.row_id, u.row_id) AS row_id, coalesce(d.col, u.col) AS col,
                coalesce(u.value, d.value) AS value
         FROM decided d FULL OUTER JOIN usr u ON d.row_id = u.row_id AND d.col = u.col""",
    "q33_evaluate" ->
      """WITH corrupted AS (SELECT c_custkey AS row_id, CAST(c_nationkey AS VARCHAR) AS nation,
             CASE WHEN c_custkey % 17 = 3 THEN '__CORRUPT__' ELSE c_mktsegment END AS segment FROM customer),
         detected AS (SELECT row_id, nation FROM corrupted WHERE segment = '__CORRUPT__' OR row_id % 29 = 11),
         counts AS (SELECT nation, segment AS seg, count(*) AS cnt FROM corrupted c
                    WHERE NOT EXISTS (SELECT 1 FROM detected d WHERE d.row_id = c.row_id) GROUP BY 1, 2),
         best AS (SELECT nation, seg, row_number() OVER (PARTITION BY nation ORDER BY cnt DESC, seg ASC) AS rn
                  FROM counts),
         decided AS (SELECT d.row_id, b.seg AS value FROM detected d JOIN best b ON d.nation = b.nation AND b.rn = 1),
         actual AS (SELECT c_custkey AS row_id, c_mktsegment AS clean_value FROM customer WHERE c_custkey % 17 = 3),
         j AS (SELECT d.row_id, d.value, a.clean_value FROM decided d LEFT JOIN actual a USING (row_id)),
         agg AS (SELECT CAST(count(*) AS BIGINT) AS output_size,
                        CAST(coalesce(sum(CASE WHEN clean_value IS NOT NULL THEN 1 END), 0) AS BIGINT) AS ed_tp,
                        CAST(coalesce(sum(CASE WHEN clean_value = value THEN 1 END), 0) AS BIGINT) AS ec_tp
                 FROM j),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n_actual FROM actual),
         pr AS (SELECT output_size, n_actual, ed_tp, ec_tp,
                       CASE WHEN output_size = 0 THEN 0.0 ELSE ed_tp * 1.0 / output_size END AS ed_p,
                       CASE WHEN n_actual = 0 THEN 0.0 ELSE ed_tp * 1.0 / n_actual END AS ed_r,
                       CASE WHEN output_size = 0 THEN 0.0 ELSE ec_tp * 1.0 / output_size END AS ec_p,
                       CASE WHEN n_actual = 0 THEN 0.0 ELSE ec_tp * 1.0 / n_actual END AS ec_r
                FROM agg, nn)
         SELECT output_size, n_actual, ed_tp, ec_tp,
                round(ed_p, 6) AS ed_p, round(ed_r, 6) AS ed_r,
                round(CASE WHEN ed_p + ed_r = 0 THEN 0.0 ELSE 2 * ed_p * ed_r / (ed_p + ed_r) END, 6) AS ed_f,
                round(ec_p, 6) AS ec_p, round(ec_r, 6) AS ec_r,
                round(CASE WHEN ec_p + ec_r = 0 THEN 0.0 ELSE 2 * ec_p * ec_r / (ec_p + ec_r) END, 6) AS ec_f
         FROM pr""",
    "q34_gapfill_interp" ->
      s"""WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS bucket_ts, ${dsumSql("value")} AS value_sum
            FROM events GROUP BY 1, 2),
          gappy AS (SELECT * FROM hourly WHERE hour(bucket_ts) % 4 <> 1),
          nums AS (SELECT unnest(generate_series(0, 100000)) AS i),
          bounds AS (SELECT event_type, min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM gappy GROUP BY 1),
          spine AS (SELECT b.event_type, b.lo + to_hours(n.i) AS bucket_ts
                    FROM bounds b JOIN nums n ON b.lo + to_hours(n.i) <= b.hi),
          j AS (SELECT s.event_type, s.bucket_ts, g.value_sum
                FROM spine s LEFT JOIN gappy g ON s.event_type = g.event_type AND s.bucket_ts = g.bucket_ts),
          w AS (SELECT event_type, bucket_ts, value_sum, epoch(bucket_ts) AS ts_d,
                       last_value(value_sum IGNORE NULLS) OVER wa AS prev_v,
                       last_value(CASE WHEN value_sum IS NOT NULL THEN epoch(bucket_ts) END IGNORE NULLS) OVER wa AS prev_t,
                       first_value(value_sum IGNORE NULLS) OVER wd AS next_v,
                       first_value(CASE WHEN value_sum IS NOT NULL THEN epoch(bucket_ts) END IGNORE NULLS) OVER wd AS next_t
                FROM j
                WINDOW wa AS (PARTITION BY event_type ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       wd AS (PARTITION BY event_type ORDER BY bucket_ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
          SELECT event_type, bucket_ts,
                 round(CASE WHEN value_sum IS NOT NULL THEN value_sum
                            WHEN prev_v IS NULL THEN next_v
                            WHEN next_v IS NULL THEN prev_v
                            WHEN next_t = prev_t THEN prev_v
                            ELSE prev_v + (next_v - prev_v) * (ts_d - prev_t) / (next_t - prev_t) END, 6) AS value_sum
          FROM w""",
    "q36_value_corrector" ->
      """SELECT e.row_id, t.corrector, e.seg AS candidate, CAST(1.0 AS DOUBLE) AS score
         FROM (SELECT c_custkey AS row_id, c_mktsegment AS seg FROM customer
               WHERE c_custkey % 23 = 7 AND c_mktsegment IN ('BUILDING', 'AUTOMOBILE')) e
         CROSS JOIN (VALUES ('value_remover_identity'), ('value_remover_unicode'),
                            ('value_swapper_identity'), ('value_swapper_unicode')) AS t(corrector)""",
    "q37_continuous_rollup" ->
      """SELECT event_type, date_trunc('hour', ts) AS bucket_ts, count(*) AS point_count
         FROM events GROUP BY 1, 2""",
    "q38_all_counts" ->
      """WITH base AS (SELECT c_custkey AS row_id, CAST(c_nationkey AS VARCHAR) AS nation,
             CAST(c_custkey % 10 AS VARCHAR) AS decile, c_mktsegment AS segment FROM customer),
         cells AS (
           SELECT row_id, 'nation' AS col, nation AS value FROM base
           UNION ALL SELECT row_id, 'decile', decile FROM base
           UNION ALL SELECT row_id, 'segment', segment FROM base),
         masked AS (SELECT * FROM cells WHERE NOT (col = 'segment' AND row_id % 13 = 4))
         SELECT a.col AS lhs_col, b.col AS rhs_col, a.value AS lhs_val, b.value AS candidate,
                count(*) AS cnt
         FROM masked a JOIN masked b ON a.row_id = b.row_id AND a.col <> b.col
         GROUP BY 1, 2, 3, 4""",
    "q39_cache_corrector" ->
      """SELECT c_custkey AS row_id, 'segment' AS col, 'llm_correction' AS corrector,
                c_mktsegment AS candidate, CAST(0.9 AS DOUBLE) AS score
         FROM customer WHERE c_custkey % 17 = 3""",
    "q40_narayan" ->
      """WITH err AS (SELECT c_custkey AS row_id, c_mktsegment AS truth FROM customer WHERE c_custkey % 17 = 3),
         cache AS (SELECT row_id, truth AS candidate, 0.8 AS score FROM err
                   UNION ALL SELECT row_id, 'MACHINERY', 0.3 FROM err),
         r AS (SELECT row_id, candidate,
                      row_number() OVER (PARTITION BY row_id ORDER BY score DESC, candidate ASC) AS rn
               FROM cache)
         SELECT row_id, candidate AS value FROM r WHERE rn = 1""",
    "q41_fd_mining" ->
      """WITH base AS (SELECT c_custkey AS row_id, CAST(c_nationkey AS VARCHAR) AS nation,
             CAST(c_custkey % 10 AS VARCHAR) AS decile, c_mktsegment AS segment,
             CAST(c_nationkey AS VARCHAR) AS natcopy FROM customer),
         cells AS (
           SELECT row_id, 'nation' AS col, nation AS value FROM base
           UNION ALL SELECT row_id, 'decile', decile FROM base
           UNION ALL SELECT row_id, 'segment', segment FROM base
           UNION ALL SELECT row_id, 'natcopy', natcopy FROM base),
         pairs AS (SELECT a.col AS lhs, b.col AS rhs, a.value AS lv, b.value AS rv
                   FROM cells a JOIN cells b ON a.row_id = b.row_id AND a.col <> b.col),
         g AS (SELECT lhs, rhs, lv, count(*) AS n, count(DISTINCT rv) AS d FROM pairs GROUP BY 1, 2, 3),
         f AS (SELECT lhs, rhs, CAST(sum(n) AS BIGINT) AS n_rows,
                      CAST(sum(CASE WHEN d > 1 THEN n ELSE 0 END) AS BIGINT) AS violating_rows
               FROM g GROUP BY 1, 2)
         SELECT lhs, rhs, n_rows, violating_rows FROM f WHERE violating_rows = 0""",
    "q42_cell_diff" ->
      """SELECT c_custkey AS row_id, 'segment' AS col, '__CORRUPT__' AS dirty_value,
                c_mktsegment AS clean_value
         FROM customer WHERE c_custkey % 17 = 3""",
    "q43_sampling" ->
      """WITH e AS (SELECT c_custkey AS row_id FROM customer WHERE c_custkey % 17 = 3
                    UNION ALL SELECT c_custkey FROM customer WHERE c_custkey % 23 = 5),
         g AS (SELECT row_id, CAST(count(*) AS BIGINT) AS err_cnt FROM e GROUP BY 1)
         SELECT row_id, err_cnt FROM g ORDER BY err_cnt DESC, row_id ASC LIMIT 20""",
    "q46_vicinity_pdep" ->
      """WITH corrupted AS (SELECT c_custkey AS row_id, CAST(c_nationkey AS VARCHAR) AS nation,
             CAST(c_custkey % 10 AS VARCHAR) AS decile,
             CASE WHEN c_custkey % 17 = 3 THEN '__CORRUPT__' ELSE c_mktsegment END AS segment FROM customer),
         err AS (SELECT row_id, nation, decile FROM corrupted WHERE segment = '__CORRUPT__'),
         c1 AS (SELECT nation, segment AS candidate, count(*) AS cnt FROM corrupted
                WHERE segment <> '__CORRUPT__' GROUP BY 1, 2),
         p1 AS (SELECT nation, candidate, cnt * 1.0 / sum(cnt) OVER (PARTITION BY nation) AS pr FROM c1),
         c2 AS (SELECT decile, segment AS candidate, count(*) AS cnt FROM corrupted
                WHERE segment <> '__CORRUPT__' GROUP BY 1, 2),
         p2 AS (SELECT decile, candidate, cnt * 1.0 / sum(cnt) OVER (PARTITION BY decile) AS pr FROM c2)
         SELECT e.row_id, 'vicinity_pdep_nation' AS corrector, p1.candidate, round(p1.pr, 6) AS score
         FROM err e JOIN p1 ON e.nation = p1.nation
         UNION ALL
         SELECT e.row_id, 'vicinity_pdep_decile', p2.candidate, round(p2.pr, 6)
         FROM err e JOIN p2 ON e.decile = p2.decile""",
    "q47_vicinity_order2" ->
      """WITH corrupted AS (SELECT c_custkey AS row_id, CAST(c_nationkey AS VARCHAR) AS nation,
             CAST(c_custkey % 10 AS VARCHAR) AS decile,
             CASE WHEN c_custkey % 17 = 3 THEN '__CORRUPT__' ELSE c_mktsegment END AS segment FROM customer),
         err AS (SELECT row_id, nation, decile FROM corrupted WHERE segment = '__CORRUPT__'),
         c AS (SELECT decile, nation, segment AS candidate, count(*) AS cnt FROM corrupted
               WHERE segment <> '__CORRUPT__' GROUP BY 1, 2, 3),
         p AS (SELECT decile, nation, candidate,
                      cnt * 1.0 / sum(cnt) OVER (PARTITION BY decile, nation) AS pr FROM c)
         SELECT e.row_id, 'vicinity_2_decile_nation' AS corrector, p.candidate, round(p.pr, 6) AS score
         FROM err e JOIN p ON e.nation = p.nation AND e.decile = p.decile""",
    "q49_distinct_exact" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events GROUP BY 1""",
    // Exact-mode oracle: below the sketch capacity the SpaceSaving
    // counters ARE the exact per-item counts, so the exact top-5 with
    // the identical (count desc, item asc) tie-break must match.
    "q65_topk_tiers" ->
      """WITH cnt AS (SELECT event_type, date_trunc('day', ts) AS bucket_ts,
                             CAST(user_id AS VARCHAR) AS u, count(*) AS c
                      FROM events GROUP BY 1, 2, 3),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY event_type, bucket_ts
                                                 ORDER BY c DESC, u ASC) AS r FROM cnt),
         tops AS (SELECT event_type, bucket_ts,
                         string_agg(u || ':' || CAST(c AS VARCHAR), ',' ORDER BY c DESC, u ASC) AS top5_users
                  FROM ranked WHERE r <= 5 GROUP BY 1, 2),
         pc AS (SELECT event_type, date_trunc('day', ts) AS bucket_ts, count(*) AS point_count
                FROM events GROUP BY 1, 2)
         SELECT pc.event_type, pc.bucket_ts, pc.point_count, tops.top5_users
         FROM pc JOIN tops USING (event_type, bucket_ts)""",
    // Full A13 lifecycle oracle: vicinity1 (both lhs columns, masked
    // conditional probabilities) + frequency imputer, feature-sum
    // argmax with candidate tie-break, user-label overlay.
    "q48_cleaning" ->
      """WITH corrupted AS (SELECT c_custkey AS row_id, CAST(c_nationkey AS VARCHAR) AS nation,
             CAST(c_custkey % 10 AS VARCHAR) AS decile,
             CASE WHEN c_custkey % 17 = 3 THEN '__CORRUPT__' ELSE c_mktsegment END AS segment FROM customer),
         err AS (SELECT row_id, nation, decile, segment AS error_value FROM corrupted WHERE segment = '__CORRUPT__'),
         c1 AS (SELECT nation, segment AS candidate, count(*) AS cnt FROM corrupted
                WHERE segment <> '__CORRUPT__' GROUP BY 1, 2),
         p1 AS (SELECT nation, candidate, cnt * 1.0 / sum(cnt) OVER (PARTITION BY nation) AS pr FROM c1),
         c2 AS (SELECT decile, segment AS candidate, count(*) AS cnt FROM corrupted
                WHERE segment <> '__CORRUPT__' GROUP BY 1, 2),
         p2 AS (SELECT decile, candidate, cnt * 1.0 / sum(cnt) OVER (PARTITION BY decile) AS pr FROM c2),
         imp AS (SELECT segment AS candidate, count(*) AS cnt FROM corrupted
                 WHERE segment <> '__CORRUPT__' GROUP BY 1),
         impr AS (SELECT candidate, cnt * 1.0 / (SELECT sum(cnt) FROM imp) AS score FROM imp),
         sugg AS (
           SELECT e.row_id, p1.candidate, p1.pr AS score FROM err e JOIN p1 ON e.nation = p1.nation
           UNION ALL
           SELECT e.row_id, p2.candidate, p2.pr FROM err e JOIN p2 ON e.decile = p2.decile
           UNION ALL
           SELECT e.row_id, i.candidate, i.score FROM err e CROSS JOIN impr i
           WHERE i.score >= 0.001 AND i.candidate <> e.error_value),
         summed AS (SELECT row_id, candidate, sum(score) AS fs FROM sugg GROUP BY 1, 2),
         decided AS (SELECT row_id, candidate AS value FROM
                      (SELECT *, row_number() OVER (PARTITION BY row_id ORDER BY fs DESC, candidate ASC) AS rn
                       FROM summed) WHERE rn = 1),
         labels AS (SELECT c_custkey AS row_id, c_mktsegment AS user_value FROM customer
                    WHERE c_custkey % 17 = 3 AND c_custkey % 3 = 0)
         SELECT coalesce(d.row_id, l.row_id) AS row_id, 'segment' AS col,
                coalesce(l.user_value, d.value) AS value
         FROM decided d FULL OUTER JOIN labels l ON d.row_id = l.row_id""",
    // Golden oracle for the deterministic W2 Baran draw: the expected
    // draw per scale factor (distinguished by the customer row count),
    // pinned from the algorithm's output; determinism across
    // parallelism is what the check verifies.
    "q44_baran_sample" -> {
      val g001 = Seq(37, 3, 54, 74, 88, 120, 5, 20, 28, 51, 71, 97, 105, 122, 139, 143)
      val g01 = Seq(258, 649, 1431, 3, 1040, 37, 71, 54, 105, 156, 88, 190, 207, 20, 241, 275, 445, 122, 326, 377)
      def values(g: Seq[Int]) =
        g.zipWithIndex.map { case (r, i) => s"(${i + 1}, $r)" }.mkString(", ")
      s"""WITH pick AS (
           SELECT * FROM (VALUES ${values(g01)}) AS g01(rank, row_id)
           WHERE (SELECT count(*) FROM customer) = 1500
           UNION ALL
           SELECT * FROM (VALUES ${values(g001)}) AS g001(rank, row_id)
           WHERE (SELECT count(*) FROM customer) = 150)
         SELECT CAST(rank AS BIGINT) AS rank, CAST(row_id AS BIGINT) AS row_id FROM pick"""
    },
    // Golden oracle for the flagship pages pipeline (see Q25Golden —
    // SF- and parallelism-independent end-to-end repair semantics).
    "q25_pages_pipeline" -> Goldens("q25_pages_pipeline"),
    // Golden oracles for the GBT decision paths (seeded, SF- and
    // parallelism-independent — see GbtGoldens): the meta-learner
    // decisions and the synth-lifecycle corrections as pinned tables.
    "q45_meta_learner" -> Goldens("q45_meta_learner"),
    "q62_meta_learner_cv" -> Goldens("q62_meta_learner_cv"),
    "q182_meta_learner_cv_precision" -> Goldens("q182_meta_learner_cv_precision"),
    "q52_cleaning_synth" -> Goldens("q52_cleaning_synth"),
    // As-of join: DuckDB's native ASOF LEFT JOIN is the oracle — the
    // engine's union+window plan must reproduce it row for row,
    // including unmatched lefts and the exact-timestamp-tie match.
    "q73_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
         s AS (SELECT user_id, ts AS signup_ts, max(value) AS signup_value
               FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
         SELECT p.event_id, p.user_id, p.ts, p.value, s.signup_ts, s.signup_value
         FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.signup_ts""",
    // Sessionization: identical lag-diff + running-sum replay; the
    // 30-minute gap is 1_800_000_000 us on both sides.
    "q74_sessionize" ->
      """WITH o AS (SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS ns
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         x AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM o)
         SELECT user_id, session_idx, min(ts) AS session_start, max(ts) AS session_end,
                count(*) AS n_events,
                CAST(sum(CAST(round(value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS value_sum
         FROM x GROUP BY 1, 2""",
    // Quantile tier sketch in exact mode: the state is the exact
    // weighted value histogram, so the quantile rule (smallest value
    // whose ascending cumulative weight reaches q x total) replays
    // exactly. 0.5e0/0.95e0 force DOUBLE multiplication on the DuckDB
    // side — the engine compares in double, and DuckDB would otherwise
    // use exact DECIMAL literals at the cum == q x total boundary.
    "q75_quantile_tiers" ->
      """WITH g AS (SELECT event_type, date_trunc('day', ts) AS bucket_ts, value AS v, count(*) AS w
                    FROM events GROUP BY 1, 2, 3),
         c AS (SELECT event_type, bucket_ts, v,
                 sum(w) OVER (PARTITION BY event_type, bucket_ts ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(w) OVER (PARTITION BY event_type, bucket_ts) AS tot
               FROM g)
         SELECT event_type, bucket_ts,
                min(CASE WHEN CAST(cum AS DOUBLE) >= 0.5e0 * CAST(tot AS DOUBLE) THEN v END) AS p50,
                min(CASE WHEN CAST(cum AS DOUBLE) >= 0.95e0 * CAST(tot AS DOUBLE) THEN v END) AS p95
         FROM c GROUP BY 1, 2""",
    // Counter increase (Prometheus reset rule) replayed with the same
    // lag + conditional: double subtraction is bit-deterministic per
    // row, the per-bucket sum runs in fixed point on both sides, and
    // rate divides by the same double literal.
    "q76_counter_rate" ->
      """WITH d AS (SELECT user_id, ts, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         c AS (SELECT user_id, date_trunc('day', ts) AS bucket_ts,
                 CASE WHEN prev IS NULL THEN NULL
                      WHEN value >= prev THEN value - prev
                      ELSE value END AS delta
               FROM d)
         SELECT user_id, bucket_ts,
                CAST(coalesce(sum(CAST(round(delta, 6) AS DECIMAL(28,6))), 0) AS DOUBLE) AS increase,
                CAST(coalesce(sum(CAST(round(delta, 6) AS DECIMAL(28,6))), 0) AS DOUBLE) / 86400e0 AS rate_per_sec,
                count(delta) AS n_deltas
         FROM c GROUP BY 1, 2""",
    // Time-weighted average: identical LOCF weights (lead within the
    // bucket, else bucket end) and the identical decimal(16,6) x
    // decimal(14,0) fixed-point products, so the weighted sum is
    // hash-exact despite double outputs. The numerator goes
    // decimal -> VARCHAR -> DOUBLE: above 2^53 DuckDB's direct
    // decimal->double cast is off by an ulp (int128 * 1e-6 in double),
    // while string parsing — like Spark's BigDecimal cast — rounds
    // correctly.
    "q77_time_weighted_avg" ->
      """WITH b AS (SELECT event_type, ts, event_id, value, date_trunc('hour', ts) AS bucket_ts
                    FROM events),
         w AS (SELECT *, coalesce(
                   epoch_us(lead(ts) OVER (PARTITION BY event_type, bucket_ts ORDER BY ts, event_id)),
                   epoch_us(bucket_ts + INTERVAL 1 HOUR)) - epoch_us(ts) AS w_us
               FROM b)
         SELECT event_type, bucket_ts,
                CAST(CAST(sum(CAST(round(value, 6) AS DECIMAL(16,6)) * CAST(w_us AS DECIMAL(14,0))) AS VARCHAR) AS DOUBLE)
                  / CAST(sum(w_us) AS DOUBLE) AS twa,
                CAST(sum(w_us) AS BIGINT) AS covered_us
         FROM w GROUP BY 1, 2""",
    // Retention: the kept 1h range is a date filter (newest event day
    // minus 19), the dropped-partition counts are the distinct event
    // days older than each tier's cutoff — both pure SQL over events.
    "q78_retention" ->
      """WITH mx AS (SELECT max(CAST(ts AS DATE)) AS d FROM events),
         d1m AS (SELECT count(DISTINCT CAST(ts AS DATE)) AS n FROM events, mx
                 WHERE CAST(ts AS DATE) < mx.d - 9),
         d1h AS (SELECT count(DISTINCT CAST(ts AS DATE)) AS n FROM events, mx
                 WHERE CAST(ts AS DATE) < mx.d - 19)
         SELECT event_type, date_trunc('hour', ts) AS bucket_ts, count(*) AS point_count,
                d1m.n AS parts_dropped_1m, d1h.n AS parts_dropped_1h
         FROM events, mx, d1m, d1h
         WHERE CAST(ts AS DATE) >= mx.d - 19
         GROUP BY 1, 2, 4, 5""",
    // M4 replay: each extremum is the row_number()=1 row under the
    // operator's exact lexicographic tie order (min/first break ties
    // earliest, max/last latest).
    "q79_m4_downsample" ->
      """WITH b AS (SELECT event_type, ts, event_id, value, date_trunc('hour', ts) AS bucket_ts
                    FROM events),
         r AS (SELECT *,
             row_number() OVER (PARTITION BY event_type, bucket_ts ORDER BY ts, event_id) AS rf,
             row_number() OVER (PARTITION BY event_type, bucket_ts ORDER BY ts DESC, event_id DESC) AS rl,
             row_number() OVER (PARTITION BY event_type, bucket_ts ORDER BY value, ts, event_id) AS rmin,
             row_number() OVER (PARTITION BY event_type, bucket_ts ORDER BY value DESC, ts DESC, event_id DESC) AS rmax
           FROM b)
         SELECT event_type, bucket_ts,
                max(CASE WHEN rf = 1 THEN ts END) AS first_ts,
                max(CASE WHEN rf = 1 THEN value END) AS first_v,
                max(CASE WHEN rmin = 1 THEN ts END) AS min_ts,
                max(CASE WHEN rmin = 1 THEN value END) AS min_v,
                max(CASE WHEN rmax = 1 THEN ts END) AS max_ts,
                max(CASE WHEN rmax = 1 THEN value END) AS max_v,
                max(CASE WHEN rl = 1 THEN ts END) AS last_ts,
                max(CASE WHEN rl = 1 THEN value END) AS last_v,
                count(*) AS n_points
         FROM r GROUP BY 1, 2""",
    // Rolling z-score: the window moments are exact decimals (VARCHAR-
    // mediated double casts — see q77), and the z expression tree is
    // replayed with identical operation order, so doubles match
    // bit-for-bit.
    "q80_rolling_zscore" ->
      """WITH w AS (SELECT event_id, event_type, ts, value,
             count(value) OVER win AS cnt,
             CAST(CAST(sum(CAST(round(value, 6) AS DECIMAL(16,6))) OVER win AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(sum(CAST(CAST(round(value, 6) AS DECIMAL(16,6)) * CAST(round(value, 6) AS DECIMAL(16,6)) AS DECIMAL(33,12))) OVER win AS VARCHAR) AS DOUBLE) AS s2
           FROM events
           WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                          ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
         z AS (SELECT event_id, event_type, ts, value,
                 CASE WHEN cnt >= 10 AND (s2 - s1 * s1 / CAST(cnt AS DOUBLE)) / CAST(cnt AS DOUBLE) > 0
                      THEN (value - s1 / CAST(cnt AS DOUBLE))
                             / sqrt((s2 - s1 * s1 / CAST(cnt AS DOUBLE)) / CAST(cnt AS DOUBLE))
                 END AS z
               FROM w)
         SELECT event_id, event_type, ts, value, z,
                CASE WHEN z IS NOT NULL THEN abs(z) > 3e0 END AS is_anomaly
         FROM z""",
    // Interval join: q74's sessionization replay builds the purchase
    // sessions, then a plain SQL range join — the engine's epoch
    // replication + residual filter must reproduce it pair for pair.
    "q81_interval_join" ->
      """WITH o AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
         n AS (SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS ns
           FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         x AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM n),
         sess AS (SELECT user_id, session_idx,
                    min(ts) - INTERVAL 6 HOUR AS win_start,
                    max(ts) + INTERVAL 6 HOUR AS win_end
                  FROM x GROUP BY 1, 2)
         SELECT s.user_id, s.session_idx, s.win_start, s.win_end, c.event_id, c.ts
         FROM sess s JOIN events c
           ON c.event_type = 'click' AND c.user_id = s.user_id
          AND c.ts BETWEEN s.win_start AND s.win_end""",
    // Stratified hash sample: the identical md5-threshold draw (u =
    // first 15 md5 hex digits / 16^15, compared in double) with the
    // identical per-stratum fraction ladder.
    "q82_stratified_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|graft'), 1, 15)) AS BIGINT) AS DOUBLE)
                 / 1152921504606846976e0
               < CASE WHEN lang = 'en' THEN 0.1e0 ELSE 0.6e0 END""",
    // session_window replay: split at diff >= gap (the native
    // operator's boundary — strict-overlap window merging), end =
    // last event + gap.
    "q83_session_window" ->
      """WITH o AS (SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS ns
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         x AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sidx FROM o)
         SELECT user_id, min(ts) AS session_start,
                max(ts) + INTERVAL 30 MINUTE AS session_end,
                count(*) AS n_events
         FROM x GROUP BY user_id, sidx""",
    // Pearson replay: identical micro-unit bucket sums, identical
    // integer co-moments (HUGEINT here, decimal(38,0) in the engine),
    // and the identical double formula over them. The three co-moment
    // combinations go int -> VARCHAR -> DOUBLE (DuckDB's direct
    // int128->double cast misrounds above 2^53; string parse rounds
    // correctly, like Spark's BigDecimal cast).
    "q86_metric_corr" ->
      """WITH h AS (SELECT event_type AS series, date_trunc('hour', ts) AS bucket_ts,
                sum(CAST(CAST(round(value, 6) AS DECIMAL(16,6)) * 1000000 AS BIGINT)) AS vi
              FROM events GROUP BY 1, 2),
         p AS (SELECT a.series AS type_a, b.series AS type_b,
                 CAST(a.vi AS HUGEINT) AS x, CAST(b.vi AS HUGEINT) AS y
               FROM h a JOIN h b USING (bucket_ts)
               WHERE a.series < b.series),
         s AS (SELECT type_a, type_b, count(*) AS n_buckets,
                 sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
               FROM p GROUP BY 1, 2)
         SELECT type_a, type_b, n_buckets,
                CASE WHEN (n_buckets*sxx - sx*sx) > 0 AND (n_buckets*syy - sy*sy) > 0
                     THEN CAST(CAST(n_buckets*sxy - sx*sy AS VARCHAR) AS DOUBLE)
                          / (sqrt(CAST(CAST(n_buckets*sxx - sx*sx AS VARCHAR) AS DOUBLE))
                             * sqrt(CAST(CAST(n_buckets*syy - sy*sy AS VARCHAR) AS DOUBLE)))
                     END AS corr
         FROM s WHERE n_buckets >= 2""",
    // Histogram replay: floor(value / width) over doubles is IEEE
    // bit-identical, everything else is integer counts.
    "q87_value_histogram" ->
      """WITH c AS (SELECT event_type AS series, CAST(floor(value / 50e0) AS BIGINT) AS bin,
                count(*) AS n
              FROM events GROUP BY 1, 2)
         SELECT series, bin, CAST(bin AS DOUBLE) * 50e0 AS bin_lo,
                CAST(bin + 1 AS DOUBLE) * 50e0 AS bin_hi, n,
                CAST(sum(n) OVER (PARTITION BY series ORDER BY bin
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
         FROM c""",
    // EWMA replay: DuckDB's window list() collects in frame order and
    // list_reduce seeds with the first element — exactly the engine's
    // first-element-init Horner fold; at alpha=0.5 both folds are
    // bit-identical (decay multiplies are exponent shifts).
    "q88_ewma" ->
      """WITH w AS (SELECT event_id, event_type, ts, value,
                list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                  ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS vals
              FROM events)
         SELECT event_id, event_type, ts, value,
                list_reduce(vals, (acc, x) -> acc * 0.5e0 + x)
                  / list_reduce(list_transform(vals, x -> 1e0), (acc, x) -> acc * 0.5e0 + 1e0) AS ewma,
                CAST(len(vals) AS BIGINT) AS n_window
         FROM w""",
    // Alert replay: identical lag-based run starts, running-sum run
    // ids, and the integer span test — all exact arithmetic.
    "q89_alert_for" ->
      """WITH o AS (SELECT event_type, ts, event_id, value,
                CASE WHEN value > 250e0 THEN 1 ELSE 0 END AS c,
                CASE WHEN value > 250e0 AND coalesce(lag(value > 250e0) OVER (
                       PARTITION BY event_type ORDER BY ts, event_id), false) = false
                     THEN 1 ELSE 0 END AS st
              FROM events),
         r AS (SELECT *, CAST(sum(st) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
               FROM o)
         SELECT event_type, run_id, min(ts) AS run_start, max(ts) AS run_end,
                count(*) AS n_samples,
                (epoch_us(max(ts)) - epoch_us(min(ts))) >= 600000000 AS fired
         FROM r WHERE c = 1 GROUP BY 1, 2""",
    // histogram_quantile replay: q87's buckets + the identical one-
    // product target and four-op interpolation; first covering bin via
    // row_number over the bin order (= the engine's struct-min).
    "q90_histogram_quantile" ->
      """WITH c AS (SELECT event_type AS series, CAST(floor(value / 50e0) AS BIGINT) AS bin,
                count(*) AS n
              FROM events GROUP BY 1, 2),
         h AS (SELECT series, bin, CAST(bin AS DOUBLE) * 50e0 AS bin_lo, n,
                 CAST(sum(n) OVER (PARTITION BY series ORDER BY bin
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
               FROM c),
         t AS (SELECT *, CAST(max(cum_n) OVER (PARTITION BY series) AS BIGINT) AS total_n FROM h),
         p AS (SELECT *, 0.95e0 * CAST(total_n AS DOUBLE) AS target,
                 row_number() OVER (PARTITION BY series ORDER BY bin) AS rn
               FROM t WHERE CAST(cum_n AS DOUBLE) >= 0.95e0 * CAST(total_n AS DOUBLE))
         SELECT series, total_n, bin,
                bin_lo + 50e0 * (target - CAST(cum_n - n AS DOUBLE)) / CAST(n AS DOUBLE) AS quantile_est
         FROM p WHERE rn = 1""",
    // Overlap replay: distinct member-segment rows, self-join, exact
    // counts; jaccard is one double division over exact integers.
    "q93_audience_overlap" ->
      """WITH m AS (SELECT DISTINCT date_trunc('day', ts) AS bucket_ts, event_type AS seg, user_id AS member
              FROM events),
         s AS (SELECT bucket_ts, seg, count(*) AS n FROM m GROUP BY 1, 2),
         b AS (SELECT a.bucket_ts, a.seg AS seg_a, bb.seg AS seg_b, count(*) AS n_both
               FROM m a JOIN m bb ON a.bucket_ts = bb.bucket_ts AND a.member = bb.member
               WHERE a.seg < bb.seg GROUP BY 1, 2, 3)
         SELECT b.bucket_ts, seg_a, seg_b,
                CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
                CAST(n_both AS BIGINT) AS n_both,
                CAST(n_both AS DOUBLE) / CAST(sa.n + sb.n - n_both AS DOUBLE) AS jaccard
         FROM b JOIN s sa ON sa.bucket_ts = b.bucket_ts AND sa.seg = seg_a
                JOIN s sb ON sb.bucket_ts = b.bucket_ts AND sb.seg = seg_b""",
    // Funnel replay: the identical shared-spec window chain (strictly-
    // preceding frames) and per-user minima — pure timestamp/boolean
    // arithmetic.
    "q94_funnel" ->
      """WITH o AS (SELECT user_id, ts, event_id, event_type, (event_type = 'view') AS q0 FROM events),
         s1 AS (SELECT *, min(CASE WHEN q0 THEN ts END) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen0 FROM o),
         s2 AS (SELECT *, (event_type = 'click' AND seen0 IS NOT NULL) AS q1 FROM s1),
         s3 AS (SELECT *, min(CASE WHEN q1 THEN ts END) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen1 FROM s2),
         s4 AS (SELECT *, (event_type = 'purchase' AND seen1 IS NOT NULL) AS q2 FROM s3),
         g AS (SELECT user_id,
                 min(CASE WHEN q0 THEN ts END) AS t_view,
                 min(CASE WHEN q1 THEN ts END) AS t_click,
                 min(CASE WHEN q2 THEN ts END) AS t_purchase
               FROM s4 GROUP BY 1)
         SELECT user_id, t_view, t_click, t_purchase,
                CAST((t_view IS NOT NULL)::int + (t_click IS NOT NULL)::int
                     + (t_purchase IS NOT NULL)::int AS BIGINT) AS stages_completed
         FROM g""",
    // Cohort replay: distinct member-days, min-day cohorts, the join
    // back, and integer day offsets — the rate is one double division.
    "q95_cohort_retention" ->
      """WITH a AS (SELECT DISTINCT user_id AS member, date_trunc('day', ts) AS activity_ts FROM events),
         c AS (SELECT member, min(activity_ts) AS cohort_ts FROM a GROUP BY 1),
         n AS (SELECT cohort_ts, date_diff('day', cohort_ts, activity_ts) AS day_offset,
                 count(*) AS n_members
               FROM a JOIN c USING (member) GROUP BY 1, 2)
         SELECT cohort_ts, CAST(day_offset AS BIGINT) AS day_offset,
                CAST(n_members AS BIGINT) AS n_members,
                CAST(max(CASE WHEN day_offset = 0 THEN n_members END)
                     OVER (PARTITION BY cohort_ts) AS BIGINT) AS cohort_size,
                CAST(n_members AS DOUBLE)
                  / CAST(max(CASE WHEN day_offset = 0 THEN n_members END)
                         OVER (PARTITION BY cohort_ts) AS DOUBLE) AS retention
         FROM n""",
    // Hopping-window replay: each event belongs to exactly 4 epoch-
    // aligned 15-minute-slide windows; integer micro arithmetic
    // reconstructs the window bounds, sums ride the dsum recipe.
    "q96_hopping_window" ->
      s"""WITH e AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
         w AS (SELECT event_type, value,
                 (us // 900000000) * 900000000 - j * 900000000 AS win_us
               FROM e, (SELECT unnest(generate_series(0, 3)) AS j)),
         g AS (SELECT win_us, event_type, count(*) AS n_events,
                 ${dsumSql("value")} AS sum_value
               FROM w GROUP BY 1, 2)
         SELECT make_timestamp(win_us) AS win_start,
                make_timestamp(win_us + 3600000000) AS win_end,
                event_type, n_events, sum_value
         FROM g""",
    // Burn-rate replay: the identical hour/day ratios and the identical
    // left-associated divide chain — exact integers until the last step.
    "q97_slo_burn" ->
      """WITH f AS (SELECT date_trunc('hour', ts) AS bucket_ts, date_trunc('day', ts) AS day_ts,
                CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err FROM events),
         h AS (SELECT bucket_ts, day_ts, CAST(sum(is_err) AS BIGINT) AS n_errors, count(*) AS n_total
               FROM f GROUP BY 1, 2),
         d AS (SELECT day_ts, CAST(sum(is_err) AS BIGINT) AS d_errors, count(*) AS d_total
               FROM f GROUP BY 1)
         SELECT bucket_ts, n_errors, n_total,
                CAST(n_errors AS DOUBLE) / CAST(n_total AS DOUBLE) / 0.25e0 AS burn_short,
                CAST(d_errors AS DOUBLE) / CAST(d_total AS DOUBLE) / 0.25e0 AS burn_long,
                (CAST(n_errors AS DOUBLE) / CAST(n_total AS DOUBLE) / 0.25e0 >= 1.5e0
                 AND CAST(d_errors AS DOUBLE) / CAST(d_total AS DOUBLE) / 0.25e0 >= 1.2e0) AS alert
         FROM h JOIN d USING (day_ts)""",
    // Pivot replay: filtered counts per explicit value — count over an
    // empty filter is 0, matching the engine's na.fill(0).
    "q98_pivot_daily" ->
      """SELECT date_trunc('day', ts) AS bucket_ts,
                count(*) FILTER (event_type = 'click') AS click,
                count(*) FILTER (event_type = 'view') AS view,
                count(*) FILTER (event_type = 'purchase') AS purchase,
                count(*) FILTER (event_type = 'signup') AS signup,
                count(*) FILTER (event_type = 'error') AS error
         FROM events GROUP BY 1""",
    // Seasonal replay: the identical epoch hour-of-week index in
    // integer micros and the identical dsum/count mean.
    "q99_seasonal_baseline" ->
      s"""WITH e AS (SELECT event_type AS series,
                 (epoch_us(ts) // 3600000000) % 168 AS hour_of_week, value
               FROM events)
         SELECT series, CAST(hour_of_week AS BIGINT) AS hour_of_week, count(*) AS n,
                ${dsumSql("value")} / CAST(count(*) AS DOUBLE) AS mean_value
         FROM e GROUP BY 1, 2""",
    // Decay replay: identical integer day ages, identical power-of-two
    // unit weights via bigint shifts, one double division at the end
    // (unit sums < 2^53 here, so the direct cast is exact).
    "q100_decayed_topk" ->
      """WITH mx AS (SELECT max(date_trunc('day', ts)) AS as_of FROM events),
         a AS (SELECT event_type, date_diff('day', date_trunc('day', ts), as_of) AS age
               FROM events, mx
               WHERE date_diff('day', date_trunc('day', ts), as_of) <= 30)
         SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(1 AS BIGINT) << (30 - age)) AS BIGINT) AS decayed_units,
                CAST(sum(CAST(1 AS BIGINT) << (30 - age)) AS DOUBLE) / 1073741824e0 AS decayed_score
         FROM a GROUP BY 1""",
    // predict_linear replay: identical epoch-second x / micro-unit y,
    // identical exact co-moments (HUGEINT here, decimal(38,0) in the
    // engine; int128 -> VARCHAR -> DOUBLE like q86), identical float
    // op order: slope = num/den, intercept = (sy - slope*sx)/n,
    // predicted = slope*x_pred + intercept, both scaled by 1e6 last.
    "q104_predict_linear" ->
      """WITH e AS (SELECT event_type AS series, CAST(epoch(date_trunc('second', ts)) AS HUGEINT) AS x,
                CAST(CAST(CAST(round(value, 6) AS DECIMAL(16,6)) * 1000000 AS BIGINT) AS HUGEINT) AS y
              FROM events),
         s AS (SELECT series, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                      sum(x*y) AS sxy, sum(x*x) AS sxx, max(x) AS x_max
               FROM e GROUP BY 1)
         SELECT series, n AS n_points,
                CASE WHEN CAST(CAST(n*sxx - sx*sx AS VARCHAR) AS DOUBLE) > 0 THEN
                  (CAST(CAST(n*sxy - sx*sy AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(n*sxx - sx*sx AS VARCHAR) AS DOUBLE)) / 1000000e0
                END AS slope,
                CASE WHEN CAST(CAST(n*sxx - sx*sx AS VARCHAR) AS DOUBLE) > 0 THEN
                  ((CAST(CAST(n*sxy - sx*sy AS VARCHAR) AS DOUBLE)
                      / CAST(CAST(n*sxx - sx*sx AS VARCHAR) AS DOUBLE))
                     * CAST(CAST(x_max + 3600 AS VARCHAR) AS DOUBLE)
                   + (CAST(CAST(sy AS VARCHAR) AS DOUBLE)
                        - (CAST(CAST(n*sxy - sx*sy AS VARCHAR) AS DOUBLE)
                             / CAST(CAST(n*sxx - sx*sx AS VARCHAR) AS DOUBLE))
                          * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
                     / CAST(n AS DOUBLE)) / 1000000e0
                END AS predicted
         FROM s WHERE n >= 2""",
    // Interval-union replay: identical epoch-second intervals,
    // identical prior-rows running-max island breaks, identical
    // island aggregates.
    "q111_interval_union" ->
      """WITH b AS (SELECT event_type AS series, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) + CAST(floor(value) AS BIGINT) * 60 AS e
              FROM events),
         f AS (SELECT * FROM b WHERE e > s),
         p AS (SELECT *, max(e) OVER (PARTITION BY series ORDER BY s, e
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
               FROM f),
         i AS (SELECT *, CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS ni FROM p),
         x AS (SELECT *, sum(ni) OVER (PARTITION BY series ORDER BY s, e
                                       ROWS UNBOUNDED PRECEDING) AS island FROM i)
         SELECT series, min(s) AS island_start, max(e) AS island_end,
                max(e) - min(s) AS covered_sec, count(*) AS n_intervals
         FROM x GROUP BY series, island""",
    // Rate-limit replay: identical integer epoch seconds and the
    // identical inclusive RANGE frame (3599 preceding .. current).
    "q112_rate_limit" ->
      """WITH e AS (SELECT event_id, user_id, ts,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es FROM events)
         SELECT event_id, user_id, ts,
                count(*) OVER (PARTITION BY user_id ORDER BY es
                               RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS n_in_window,
                (count(*) OVER (PARTITION BY user_id ORDER BY es
                                RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) > 2) AS breach
         FROM e""",
    // ECDF replay: identical max-rank tie handling via the identical
    // value-RANGE counting frame, identical rational and division.
    "q113_ecdf" ->
      """SELECT event_id, event_type, value,
                count(*) OVER (PARTITION BY event_type ORDER BY value
                               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ecdf_num,
                count(*) OVER (PARTITION BY event_type) AS ecdf_den,
                CAST(count(*) OVER (PARTITION BY event_type ORDER BY value
                                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                  / CAST(count(*) OVER (PARTITION BY event_type) AS DOUBLE) AS ecdf
         FROM events""",
    // Holt replay via the CLOSED FORM: the alpha=beta=1/2 recursion is
    // linear, so l_k/b_k are exact integer dot products of the window
    // with precomputed dyadic weight rows (scaled by 4^7; row k has k
    // entries; derived from l_k = (x_k + l + b)/2, b_k = (x_k - l +
    // 3b)/4 from l_1 = x_1, b_1 = 0). Deliberately NOT the engine's
    // fold formulation — an independent derivation of the same exact
    // integers (DuckDB 1.0 list_reduce mutates the accumulator struct
    // field-by-field, so a literal fold replay silently diverges).
    "q114_holt_smooth" ->
      """WITH w AS (SELECT event_id, event_type, ts, value,
                list(CAST(CAST(round(value, 6) AS DECIMAL(16,6)) * 1000000 AS BIGINT))
                  OVER (PARTITION BY event_type ORDER BY ts, event_id
                        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS vals
              FROM events),
         f AS (SELECT *,
                CAST(list_sum(list_transform(list_zip(vals,
                  ([[16384],[8192,8192],[2048,6144,8192],[-1536,3584,6144,8192],
                    [-2944,1408,3584,6144,8192],[-2912,-32,1408,3584,6144,8192],
                    [-2168,-744,-32,1408,3584,6144,8192],
                    [-1254,-914,-744,-32,1408,3584,6144,8192]])[len(vals)]),
                  p -> p[1] * p[2])) AS BIGINT) AS sl,
                CAST(list_sum(list_transform(list_zip(vals,
                  ([[0],[-4096,4096],[-5120,1024,4096],[-4352,-768,1024,4096],
                    [-2880,-1472,-768,1024,4096],[-1424,-1456,-1472,-768,1024,4096],
                    [-340,-1084,-1456,-1472,-768,1024,4096],
                    [287,-627,-1084,-1456,-1472,-768,1024,4096]])[len(vals)]),
                  p -> p[1] * p[2])) AS BIGINT) AS sb
               FROM w)
         SELECT event_id, event_type, ts, value,
                CAST(sl AS DOUBLE) / 16384000000e0 AS level,
                CAST(sb AS DOUBLE) / 16384000000e0 AS trend,
                CAST(sl + sb AS DOUBLE) / 16384000000e0 AS forecast,
                CAST(len(vals) AS BIGINT) AS n_window
         FROM f""",
    // ROLLUP replay: the same grouping sets, NULL markers, and
    // grouping bitmask; quantities cast to integers before summing so
    // both engines aggregate exactly.
    "q115_rollup_sets" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, count(*) AS n,
                CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    // Month replay: calendar truncation on the raw rows — the engine's
    // 1d -> month re-roll must be invisible (decimal sums re-sum
    // exactly).
    "q116_month_rollup" ->
      s"""SELECT event_type, date_trunc('month', ts) AS bucket_ts, count(*) AS point_count,
             ${dsumSql("value")} AS value_sum
          FROM events GROUP BY 1, 2""",
    // Staleness replay: identical per-series max epoch second and the
    // identical corpus-wide anchor.
    "q117_staleness" ->
      """WITH p AS (SELECT user_id, event_type,
                max(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS last_epoch_s,
                count(*) AS n_points
              FROM events GROUP BY 1, 2),
         a AS (SELECT max(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS anchor_s FROM events)
         SELECT user_id, event_type, last_epoch_s, n_points,
                a.anchor_s - last_epoch_s AS age_sec,
                (a.anchor_s - last_epoch_s) > 86400 AS stale
         FROM p, a""",
    // Flap replay: identical (ts, event_id) ordering, identical
    // lag-based transition counting (first row is not a transition).
    "q118_flap_detect" ->
      """WITH s AS (SELECT event_type, (value > 100.0) AS st,
                lag(value > 100.0) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS pst
              FROM events)
         SELECT event_type, count(*) AS n_points,
                CAST(sum(CASE WHEN pst IS NOT NULL AND pst <> st THEN 1 ELSE 0 END) AS BIGINT) AS n_transitions,
                sum(CASE WHEN pst IS NOT NULL AND pst <> st THEN 1 ELSE 0 END) > 50 AS flapping
         FROM s GROUP BY 1""",
    // Ratio replay: identical hour buckets, full-outer alignment with
    // zero fill, null ratio on empty denominator.
    "q119_series_ratio" ->
      """WITH n AS (SELECT date_trunc('hour', ts) AS bucket_ts, count(*) AS n_num
              FROM events WHERE event_type = 'error' GROUP BY 1),
         d AS (SELECT date_trunc('hour', ts) AS bucket_ts, count(*) AS n_den
              FROM events WHERE event_type = 'click' GROUP BY 1)
         SELECT COALESCE(n.bucket_ts, d.bucket_ts) AS bucket_ts,
                COALESCE(n_num, 0) AS n_num, COALESCE(n_den, 0) AS n_den,
                CASE WHEN COALESCE(n_den, 0) > 0
                     THEN CAST(COALESCE(n_num, 0) AS DOUBLE) / CAST(n_den AS DOUBLE) END AS ratio
         FROM n FULL OUTER JOIN d ON n.bucket_ts = d.bucket_ts""",
    // Shard replay: identical md5-prefix hash mod 16 and identical
    // integer totals.
    "q120_shard_balance" ->
      """SELECT CAST(('0x' || substr(md5(doc_id || '|r4'), 1, 15)) AS BIGINT) % 16 AS shard,
                count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS weight_sum
         FROM documents GROUP BY 1""",
    // Movers replay: identical integer midpoint anchor, identical
    // conditional counts, identical (abs_delta desc, series asc)
    // total order for the top 20.
    "q123_top_movers" ->
      """WITH a AS (SELECT (min(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
                          + max(CAST(epoch(date_trunc('second', ts)) AS BIGINT))) // 2 AS mid_s
                    FROM events),
         c AS (SELECT event_type, user_id,
                CAST(sum(CASE WHEN CAST(epoch(date_trunc('second', ts)) AS BIGINT) <= a.mid_s
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
                CAST(sum(CASE WHEN CAST(epoch(date_trunc('second', ts)) AS BIGINT) > a.mid_s
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_after
               FROM events, a GROUP BY 1, 2)
         SELECT event_type, user_id, n_before, n_after,
                n_after - n_before AS delta, abs(n_after - n_before) AS abs_delta
         FROM c
         ORDER BY abs_delta DESC, event_type ASC, user_id ASC LIMIT 20""",
    // Variance replay: identical exact decimal co-moments, identical
    // float epilogue expression.
    "q125_bucket_variance" ->
      """WITH m AS (SELECT event_type, date_trunc('day', ts) AS bucket_ts, count(*) AS n,
                sum(CAST(round(value, 6) AS DECIMAL(16,6))) AS sx_d,
                sum(CAST(round(value, 6) AS DECIMAL(16,6)) * CAST(round(value, 6) AS DECIMAL(16,6))) AS sxx_d
              FROM events GROUP BY 1, 2)
         SELECT event_type, bucket_ts, n,
                CAST(sx_d AS DOUBLE) AS sx, CAST(sxx_d AS DOUBLE) AS sxx,
                (CAST(n AS DOUBLE) * CAST(sxx_d AS DOUBLE)
                   - CAST(sx_d AS DOUBLE) * CAST(sx_d AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS var_pop
         FROM m""",
    // Simpson replay: identical per-category counts, identical integer
    // sum of squares, identical single division.
    "q126_diversity" ->
      """WITH c AS (SELECT date_trunc('day', ts) AS bucket_ts, event_type, count(*) AS n
              FROM events GROUP BY 1, 2)
         SELECT bucket_ts, CAST(sum(n) AS BIGINT) AS n_total,
                CAST(sum(n * n) AS BIGINT) AS sum_sq,
                1.0 - CAST(sum(n * n) AS DOUBLE)
                    / (CAST(sum(n) AS DOUBLE) * CAST(sum(n) AS DOUBLE)) AS simpson
         FROM c GROUP BY 1""",
    // SCD-2 replay: identical (ts, event_id) ordering per user,
    // identical epoch-second interval bounds, open row marked current.
    "q127_scd2_history" ->
      """SELECT event_id, user_id, ts, event_type,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS effective_from_s,
                lead(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS effective_to_s,
                lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
         FROM events""",
    // Log-bucket replay: identical micro units, identical bit-length
    // bucket ids, identical shift bounds.
    "q128_log_histogram" ->
      """WITH m AS (SELECT event_type,
                CAST(CAST(round(value, 6) AS DECIMAL(16,6)) * 1000000 AS BIGINT) AS micro
              FROM events),
         b AS (SELECT event_type,
                CAST(CASE WHEN micro <= 0 THEN 0 ELSE length(bin(micro)) END AS BIGINT) AS bucket
               FROM m)
         SELECT event_type AS series, bucket,
                CASE WHEN bucket = 0 THEN NULL
                     ELSE (CAST(1 AS BIGINT) << CAST(bucket - 1 AS INTEGER)) END AS lo_micro,
                CASE WHEN bucket = 0 THEN CAST(0 AS BIGINT)
                     ELSE (CAST(1 AS BIGINT) << CAST(bucket AS INTEGER)) END AS hi_micro,
                count(*) AS n
         FROM b GROUP BY 1, 2""",
    // Seasonal-anomaly replay: identical hour-of-week index, identical
    // decimal-mean baseline, identical residual chain and threshold.
    "q129_seasonal_anomaly" ->
      s"""WITH e AS (SELECT event_id, event_type, ts, value,
                 (epoch_us(ts) // 3600000000) % 168 AS hour_of_week
               FROM events),
         b AS (SELECT event_type, hour_of_week,
                 ${dsumSql("value")} / CAST(count(*) AS DOUBLE) AS expected
               FROM e GROUP BY 1, 2)
         SELECT e.event_id, e.event_type, e.ts, e.value,
                CAST(e.hour_of_week AS BIGINT) AS hour_of_week,
                b.expected, e.value - b.expected AS residual
         FROM e JOIN b USING (event_type, hour_of_week)
         WHERE abs(e.value - b.expected) > 80.0""",
    // CMS replay: identical salted md5 buckets; each estimate is the
    // min over d rows of that (type, day, row, bucket) cell count —
    // computed directly from the raw events, no sketch structure
    // needed (an independent derivation of the identical integers).
    "q132_cms_tiers" ->
      """WITH b AS (SELECT event_type, date_trunc('day', ts) AS day, user_id FROM events),
         ks AS (SELECT j FROM generate_series(0, 2) g(j)),
         cells AS (SELECT event_type, day, j,
                    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|cms|' || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 64 AS bucket,
                    count(*) AS c
                   FROM b, ks GROUP BY 1, 2, 3, 4),
         q AS (SELECT event_type, day, user_id, count(*) AS true_n FROM b GROUP BY 1, 2, 3),
         qc AS (SELECT q.*, ks.j,
                 CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|cms|' || CAST(ks.j AS VARCHAR)), 1, 15)) AS BIGINT) % 64 AS bucket
                FROM q, ks)
         SELECT qc.event_type, qc.day, qc.user_id,
                CAST(min(cells.c) AS BIGINT) AS est, qc.true_n
         FROM qc JOIN cells USING (event_type, day, j, bucket)
         GROUP BY 1, 2, 3, 5""",
    // Token-bucket replay: identical per-key ordering, identical
    // integer micro-token increments, identical prefix-sum minus
    // running-min closed form.
    "q133_token_bucket" ->
      """WITH e AS (SELECT user_id AS series, ts, event_id AS order_id,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es FROM events),
         g AS (SELECT series, ts, order_id,
                1000000 - 500000 * (es - COALESCE(lag(es) OVER (PARTITION BY series ORDER BY ts, order_id), es)) AS gi
               FROM e),
         s AS (SELECT series, ts, order_id,
                CAST(sum(gi) OVER (PARTITION BY series ORDER BY ts, order_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS si
               FROM g),
         m AS (SELECT series, ts, order_id, si,
                min(si) OVER (PARTITION BY series ORDER BY ts, order_id
                              ROWS UNBOUNDED PRECEDING) AS mn
               FROM s)
         SELECT series, ts, order_id,
                1000000 + si - mn AS deficit_micro,
                (1000000 + si - mn) <= 3000000 AS allowed
         FROM m""",
    // Reconcile replay: identical hourly aggregates on both sides,
    // identical IS-DISTINCT-FROM full-outer diff.
    "q134_tier_reconcile" ->
      """WITH a AS (SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
                count(*) AS point_count, CAST(sum(CAST(trunc(value) AS BIGINT)) AS BIGINT) AS vsum
              FROM events GROUP BY 1, 2),
         b AS (SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
                count(*) AS point_count, CAST(sum(CAST(trunc(value) AS BIGINT)) AS BIGINT) AS vsum
              FROM events WHERE event_id % 97 <> 0 GROUP BY 1, 2)
         SELECT COALESCE(a.event_type, b.event_type) AS event_type,
                COALESCE(a.bucket_ts, b.bucket_ts) AS bucket_ts,
                a.point_count AS a_point_count, a.vsum AS a_vsum,
                b.point_count AS b_point_count, b.vsum AS b_vsum,
                CASE WHEN a.event_type IS NULL AND a.bucket_ts IS NULL THEN 'missing_a'
                     WHEN b.event_type IS NULL AND b.bucket_ts IS NULL THEN 'missing_b'
                     ELSE 'mismatch' END AS status
         FROM a FULL OUTER JOIN b
           ON a.event_type = b.event_type AND a.bucket_ts = b.bucket_ts
         WHERE a.event_type IS NULL OR b.event_type IS NULL
            OR (a.point_count IS DISTINCT FROM b.point_count)
            OR (a.vsum IS DISTINCT FROM b.vsum)""",
    // JSON replay: identical path extraction and integer aggregates
    // (DuckDB's json extension autoloads for json_extract_string).
    "q135_json_props" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
                min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
                max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
                CAST(sum(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_k_over_50
         FROM events GROUP BY 1""",
    // Disorder replay: identical arrival-order running max (prior rows
    // only), identical lateness integers and counts.
    "q136_disorder" ->
      """WITH e AS (SELECT user_id, event_id,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es FROM events),
         h AS (SELECT *, max(es) OVER (PARTITION BY user_id ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
               FROM e),
         l AS (SELECT user_id,
                CASE WHEN hwm IS NOT NULL AND es < hwm THEN hwm - es ELSE 0 END AS late
               FROM h)
         SELECT user_id, count(*) AS n_events,
                CAST(sum(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_order,
                max(late) AS max_lateness_sec,
                CAST(sum(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS p_ooo
         FROM l GROUP BY 1""",
    // Time-travel replay: the as-of-snapshot-1 read is exactly the
    // first append's rows.
    "q137_time_travel" ->
      "SELECT event_id, user_id, ts, event_type FROM events WHERE event_id % 2 = 0",
    // Incremental replay: the (1, 2] diff is exactly the second
    // append's rows.
    "q138_incremental_read" ->
      "SELECT event_id, user_id, ts, event_type FROM events WHERE event_id % 2 = 1",
    // Schema-evolution replay: snapshot 1's rows (even ids) predate the
    // added column and read back null; snapshot 2's carry it.
    "q141_schema_evolution" ->
      """SELECT event_id, user_id, ts, event_type, CAST(NULL AS DOUBLE) AS value
         FROM events WHERE event_id % 2 = 0
         UNION ALL
         SELECT event_id, user_id, ts, event_type, value
         FROM events WHERE event_id % 2 = 1""",
    // Archive replay: the cold store holds exactly the hourly buckets
    // of days older than the keep-20 cutoff (q78's complement slice).
    "q146_retention_archive" ->
      """WITH mx AS (SELECT max(CAST(ts AS DATE)) AS d FROM events)
         SELECT event_type, date_trunc('hour', ts) AS bucket_ts, count(*) AS point_count
         FROM events, mx WHERE CAST(ts AS DATE) < mx.d - 19
         GROUP BY 1, 2""",
    // Vacuum replay: the committed table is untouched (vacuum removes
    // only the unreferenced orphan), and exactly one orphan went.
    "q147_vacuum" ->
      """SELECT event_type, count(*) AS n_events,
                count(DISTINCT user_id) AS n_users,
                CAST(1 AS BIGINT) AS orphans_removed
         FROM events GROUP BY 1""",
    // LTTB replay: identical integer coordinates (epoch seconds,
    // value micros), identical bucket-boundary anchors via lag/lead
    // over per-bucket ordered first/last, identical doubled-area
    // cross product, ties toward the earliest (x, event_id).
    "q165_lttb_downsample" ->
      """WITH p AS (
           SELECT event_type, date_trunc('hour', ts) AS bucket_ts, ts, event_id, value,
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS x,
                  CAST(CAST(round(value, 6) AS DECIMAL(16,6)) * 1000000 AS BIGINT) AS y
           FROM events),
         fl AS (
           SELECT event_type, bucket_ts,
                  first(x ORDER BY ts, event_id) AS fx, first(y ORDER BY ts, event_id) AS fy,
                  last(x ORDER BY ts, event_id) AS lx, last(y ORDER BY ts, event_id) AS ly
           FROM p GROUP BY 1, 2),
         an AS (
           SELECT event_type, bucket_ts,
                  COALESCE(lag(lx) OVER w, fx) AS ax, COALESCE(lag(ly) OVER w, fy) AS ay,
                  COALESCE(lead(fx) OVER w, lx) AS cx, COALESCE(lead(fy) OVER w, ly) AS cy
           FROM fl WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts)),
         r AS (
           SELECT p.event_type, p.bucket_ts, p.ts, p.event_id, p.value,
                  CAST(abs((p.x - an.ax)*(an.cy - an.ay) - (an.cx - an.ax)*(p.y - an.ay)) AS BIGINT) AS area2,
                  row_number() OVER (
                    PARTITION BY p.event_type, p.bucket_ts
                    ORDER BY abs((p.x - an.ax)*(an.cy - an.ay) - (an.cx - an.ax)*(p.y - an.ay)) DESC,
                             p.x, p.event_id) AS rn,
                  count(*) OVER (PARTITION BY p.event_type, p.bucket_ts) AS n_points
           FROM p JOIN an USING (event_type, bucket_ts))
         SELECT event_type, bucket_ts, ts AS sel_ts, event_id, value AS sel_v, area2,
                CAST(n_points AS BIGINT) AS n_points
         FROM r WHERE rn = 1""",
    // Lagged-correlation replay: q86's exact co-moment contract with
    // the epoch-second lag alignment and the lag in the group key.
    "q171_lag_correlation" ->
      """WITH h AS (SELECT event_type AS series, date_trunc('hour', ts) AS bucket_ts,
                sum(CAST(CAST(round(value, 6) AS DECIMAL(16,6)) * 1000000 AS BIGINT)) AS vi
              FROM events GROUP BY 1, 2),
         l AS (SELECT * FROM (VALUES (-2),(-1),(0),(1),(2)) AS t(lag)),
         p AS (SELECT a.series AS type_a, b.series AS type_b, l.lag,
                 CAST(a.vi AS HUGEINT) AS x, CAST(b.vi AS HUGEINT) AS y
               FROM h a, l, h b
               WHERE CAST(epoch(a.bucket_ts) AS BIGINT) = CAST(epoch(b.bucket_ts) AS BIGINT) + l.lag * 3600
                 AND a.series < b.series),
         s AS (SELECT type_a, type_b, lag, count(*) AS n_buckets,
                 sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
               FROM p GROUP BY 1, 2, 3)
         SELECT type_a, type_b, lag, n_buckets,
                CASE WHEN (n_buckets*sxx - sx*sx) > 0 AND (n_buckets*syy - sy*sy) > 0
                     THEN CAST(CAST(n_buckets*sxy - sx*sy AS VARCHAR) AS DOUBLE)
                          / (sqrt(CAST(CAST(n_buckets*sxx - sx*sx AS VARCHAR) AS DOUBLE))
                             * sqrt(CAST(CAST(n_buckets*syy - sy*sy AS VARCHAR) AS DOUBLE)))
                     END AS corr
         FROM s WHERE n_buckets >= 2""",
    // KMV replay: identical 60-bit hashes, identical min-k rank
    // filter, identical (k-1)·2^60/θ float division.
    "q173_kmv_distinct" ->
      """WITH d AS (SELECT DISTINCT event_type,
                CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
              FROM events),
         r AS (SELECT event_type, h,
                row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
              FROM d)
         SELECT event_type, count(*) AS k_used, max(h) AS kth_hash,
                CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                     ELSE 63e0 * 1152921504606846976e0 / CAST(max(h) AS DOUBLE) END AS est_distinct
         FROM r WHERE rk <= 64 GROUP BY 1""",
    "q181_vicinity_order3" ->
      """WITH corrupted AS (SELECT c_custkey AS row_id, CAST(c_nationkey AS VARCHAR) AS nation,
             CAST(c_custkey % 10 AS VARCHAR) AS decile,
             CAST(c_custkey % 2 AS VARCHAR) AS parity,
             CASE WHEN c_custkey % 17 = 3 THEN '__CORRUPT__' ELSE c_mktsegment END AS segment FROM customer),
         err AS (SELECT row_id, nation, decile, parity FROM corrupted WHERE segment = '__CORRUPT__'),
         c AS (SELECT decile, nation, parity, segment AS candidate, count(*) AS cnt FROM corrupted
               WHERE segment <> '__CORRUPT__' GROUP BY 1, 2, 3, 4),
         p AS (SELECT decile, nation, parity, candidate,
                      cnt * 1.0 / sum(cnt) OVER (PARTITION BY decile, nation, parity) AS pr FROM c)
         SELECT e.row_id, 'vicinity_3_decile_nation_parity' AS corrector, p.candidate, round(p.pr, 6) AS score
         FROM err e JOIN p ON e.nation = p.nation AND e.decile = p.decile AND e.parity = p.parity""",
    // Transition replay: identical (ts, event_id) lag pairing, exact
    // integer counts, one float normalization per from_state.
    "q179_transition_matrix" ->
      """WITH s AS (SELECT event_type AS to_state,
                lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_state
              FROM events),
         c AS (SELECT from_state, to_state, count(*) AS n FROM s
               WHERE from_state IS NOT NULL GROUP BY 1, 2)
         SELECT from_state, to_state, n,
                CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_state) AS DOUBLE) AS prob
         FROM c""",
    // Profile replay: per column, the same counts and LEXICOGRAPHIC
    // string-cast extrema (the operator's documented contract).
    "q157_profile" ->
      """SELECT 'event_id' AS col_name, count(*) AS n_rows,
                count(*) - count(event_id) AS n_null,
                count(DISTINCT event_id) AS n_distinct,
                min(CAST(event_id AS VARCHAR)) AS min_s,
                max(CAST(event_id AS VARCHAR)) AS max_s
         FROM events
         UNION ALL
         SELECT 'user_id', count(*), count(*) - count(user_id),
                count(DISTINCT user_id),
                min(CAST(user_id AS VARCHAR)), max(CAST(user_id AS VARCHAR))
         FROM events
         UNION ALL
         SELECT 'event_type', count(*), count(*) - count(event_type),
                count(DISTINCT event_type),
                min(event_type), max(event_type)
         FROM events""",
    // Tier-router replay: serving a 2h step from the 1h tier and
    // re-summing must equal bucketing RAW data at the step directly
    // (epoch-anchored floors nest) — the oracle computes from raw; the
    // [from, to) bounds are step-aligned so the tier-bucket range
    // filter equals the raw ts range filter.
    "q143_tier_router" ->
      """SELECT event_type,
                make_timestamp(CAST(floor(epoch(ts) / 7200) * 7200 * 1000000 AS BIGINT)) AS bucket_ts,
                count(*) AS point_count,
                CAST(sum(CAST(trunc(value) AS BIGINT)) AS BIGINT) AS byte_size
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' AND ts < TIMESTAMP '2024-01-05 00:00:00'
         GROUP BY 1, 2""",
    // Sketch-overlap replay: exact-mode HLL estimates equal true
    // distinct counts at this cardinality, so the oracle is the exact
    // intersection (q93's SQL verbatim).
    "q142_overlap_sketch" ->
      """WITH m AS (SELECT DISTINCT date_trunc('day', ts) AS bucket_ts, event_type AS seg, user_id AS member
              FROM events),
         s AS (SELECT bucket_ts, seg, count(*) AS n FROM m GROUP BY 1, 2),
         b AS (SELECT a.bucket_ts, a.seg AS seg_a, bb.seg AS seg_b, count(*) AS n_both
               FROM m a JOIN m bb ON a.bucket_ts = bb.bucket_ts AND a.member = bb.member
               WHERE a.seg < bb.seg GROUP BY 1, 2, 3)
         SELECT b.bucket_ts, seg_a, seg_b,
                CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
                CAST(n_both AS BIGINT) AS n_both,
                CAST(n_both AS DOUBLE) / CAST(sa.n + sb.n - n_both AS DOUBLE) AS jaccard
         FROM b JOIN s sa ON sa.bucket_ts = b.bucket_ts AND sa.seg = seg_a
                JOIN s sb ON sb.bucket_ts = b.bucket_ts AND sb.seg = seg_b""",
    // Integrity replay: the identical deterministic corruption (drop
    // id % 97 = 13, replay id % 101 = 7), then dup counts and
    // lag-difference gap runs.
    "q108_integrity" ->
      """WITH s AS (SELECT event_id FROM events WHERE event_id % 97 <> 13
                    UNION ALL SELECT event_id FROM events WHERE event_id % 101 = 7),
         ids AS (SELECT CAST(event_id AS BIGINT) AS id FROM s),
         dups AS (SELECT 'dup' AS kind, id AS at_id, count(*) AS n
                  FROM ids GROUP BY id HAVING count(*) > 1),
         d AS (SELECT DISTINCT id FROM ids),
         gaps AS (SELECT 'gap' AS kind, prev + 1 AS at_id, id - prev - 1 AS n
                  FROM (SELECT id, lag(id) OVER (ORDER BY id) AS prev FROM d)
                  WHERE prev IS NOT NULL AND id - prev > 1)
         SELECT * FROM dups UNION ALL SELECT * FROM gaps""",
    // CUSUM replay: identical micro-unit drifts and the identical
    // prefix-sum/prefix-min closed form of the max(0, ...) recursion.
    "q109_cusum" ->
      """WITH e AS (SELECT event_type AS series, ts, event_id AS order_id, value,
                CAST(CAST(round(value, 6) AS DECIMAL(16,6)) * 1000000 AS BIGINT) - 60000000 AS d
              FROM events),
         c AS (SELECT *, CAST(sum(d) OVER w AS BIGINT) AS c FROM e
               WINDOW w AS (PARTITION BY series ORDER BY ts, order_id ROWS UNBOUNDED PRECEDING)),
         f AS (SELECT *, least(CAST(0 AS BIGINT), CAST(min(c) OVER w AS BIGINT)) AS fl FROM c
               WINDOW w AS (PARTITION BY series ORDER BY ts, order_id ROWS UNBOUNDED PRECEDING))
         SELECT series, ts, order_id, value, c - fl AS cusum_micro,
                (c - fl >= 500000000) AS alarm
         FROM f""",
    // MAD replay: identical lower-median rank arithmetic for both the
    // per-series median and the deviation median.
    "q110_mad_outliers" ->
      """WITH b AS (SELECT event_type AS series, ts, event_id AS order_id, value,
                CAST(CAST(round(value, 6) AS DECIMAL(16,6)) * 1000000 AS BIGINT) AS x
              FROM events),
         m AS (SELECT series, x AS med_micro FROM
                 (SELECT series, x, order_id,
                         row_number() OVER (PARTITION BY series ORDER BY x, order_id) AS rn,
                         count(*) OVER (PARTITION BY series) AS n FROM b)
               WHERE rn = (n + 1) // 2),
         wd AS (SELECT b.*, med_micro, abs(x - med_micro) AS dev_micro FROM b JOIN m USING (series)),
         md AS (SELECT series, dev_micro AS mad_micro FROM
                 (SELECT series, dev_micro, order_id,
                         row_number() OVER (PARTITION BY series ORDER BY dev_micro, order_id) AS rn,
                         count(*) OVER (PARTITION BY series) AS n FROM wd)
               WHERE rn = (n + 1) // 2),
         j AS (SELECT wd.*, mad_micro FROM wd JOIN md USING (series))
         SELECT series, ts, order_id, value, med_micro, mad_micro, dev_micro,
                (dev_micro > mad_micro * 3) AS outlier
         FROM j""",
    // Exact oracle for the tier-merged HLL path: at these per-bucket
    // cardinalities the datasketches HLL sketch is still in its
    // exact (sparse) mode, so the estimate after two re-rollup merges
    // MUST equal the true distinct count — verifying sketch build,
    // tier merges, and estimate end-to-end. (At cardinalities beyond
    // the sketch's exact region this becomes a tolerance check —
    // RollupSketchSpec pins the 5% bound there.)
    "q50_hll_tiers" ->
      """SELECT event_type, date_trunc('day', ts) AS bucket_ts, count(*) AS point_count,
                CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users_est
         FROM events GROUP BY 1, 2""",
    // The mask lists exactly these positions; the oracle re-derives
    // them from the generation rule, independently of the JSON file.
    "q53_detection_mask" ->
      """WITH corrupted AS (SELECT c_custkey AS row_id,
             CASE WHEN c_custkey % 17 = 3 THEN '__CORRUPT__' ELSE c_mktsegment END AS segment FROM customer)
         SELECT row_id, 'segment' AS col, segment AS error_value FROM corrupted
         WHERE (row_id % 17 = 3 AND row_id % 5 <> 0) OR row_id % 29 = 11""",
    // Algorithm-parity oracle: identical md5 slip draw + cyclic
    // next-distinct-value pick in SQL.
    "q54_label_noise" ->
      """WITH base AS (SELECT c_custkey AS row_id, CAST(c_nationkey AS VARCHAR) AS nation,
             CAST(c_custkey % 10 AS VARCHAR) AS decile, c_mktsegment AS segment FROM customer),
         cells AS (
           SELECT row_id, 'nation' AS col, nation AS value FROM base
           UNION ALL SELECT row_id, 'decile', decile FROM base
           UNION ALL SELECT row_id, 'segment', segment FROM base),
         dv AS (SELECT DISTINCT col, value FROM cells),
         dvr AS (SELECT col, value,
                        row_number() OVER (PARTITION BY col ORDER BY value) AS rk,
                        count(*) OVER (PARTITION BY col) AS n
                 FROM dv),
         succ AS (SELECT a.col, a.value, b.value AS next_value, a.n
                  FROM dvr a JOIN dvr b ON a.col = b.col AND b.rk = a.rk % a.n + 1),
         lab AS (SELECT * FROM cells WHERE row_id % 13 = 1)
         SELECT c.row_id, c.col,
                CASE WHEN CAST(('0x' || substr(md5(CAST(c.row_id AS VARCHAR) || '|' || c.col || '|' || '7'), 1, 15)) AS BIGINT) % 10000 < 2000
                          AND s.n > 1
                     THEN s.next_value ELSE c.value END AS clean_value
         FROM lab c JOIN succ s ON s.col = c.col AND s.value = c.value""",
    // The engine side went through the CSV sink + source; the oracle is
    // the same relation straight from parquet. Hash equality proves ""
    // round-trips as the empty string.
    "q56_csv_roundtrip" ->
      """SELECT c_custkey AS row_id, c_name AS name,
                CASE WHEN c_custkey % 7 = 0 THEN '' ELSE c_mktsegment END AS segment
         FROM customer""",
    // One-shot daily rollup over ALL events == the tier table surviving
    // the compaction rebase; files_reduced is asserted engine-side.
    "q57_compaction" ->
      """SELECT event_type, date_trunc('day', ts) AS bucket_ts,
                count(*) AS point_count, TRUE AS files_reduced
         FROM events GROUP BY 1, 2""",
    // The identical entity/token-corrector algorithm in SQL: trusted
    // cells -> row tokens (len >= 2, df in [2, n/2]) -> (token, col,
    // value) conditional counts (kept if cnt >= 2 or df <= 8, top-5 per
    // (token, col)) -> per-cell candidate scores normalized from
    // decimal pr sums.
    "q59_entity_corrector" ->
      """WITH base AS (SELECT c_custkey AS row_id, CAST(c_nationkey AS VARCHAR) AS nation,
                              CAST(c_custkey % 10 AS VARCHAR) AS decile, c_mktsegment AS segment
                       FROM customer),
         nr AS (SELECT count(*) AS n FROM base),
         cells AS (SELECT row_id, 'nation' AS col, nation AS value FROM base
                   UNION ALL SELECT row_id, 'decile', decile FROM base
                   UNION ALL SELECT row_id, 'segment', segment FROM base),
         errors AS (SELECT row_id, 'segment' AS col FROM base WHERE row_id % 13 = 4),
         trusted AS (SELECT c.row_id, c.col, c.value FROM cells c
                     LEFT JOIN errors e ON c.row_id = e.row_id AND c.col = e.col
                     WHERE e.row_id IS NULL AND c.value IS NOT NULL AND c.value <> ''),
         rowtok AS (SELECT DISTINCT row_id, t.token
                    FROM trusted, unnest(string_split_regex(lower(value), '[^a-z0-9]+')) AS t(token)
                    WHERE length(t.token) >= 2),
         dfc AS (SELECT token, count(*) AS df FROM rowtok GROUP BY 1
                 HAVING count(*) >= 2 AND count(*) <= (SELECT n // 2 FROM nr)),
         kept AS (SELECT r.row_id, r.token, d.df FROM rowtok r JOIN dfc d USING (token)),
         pairs AS (SELECT k.token, k.df, t.col, t.value AS candidate, count(*) AS cnt
                   FROM kept k JOIN trusted t ON t.row_id = k.row_id
                   GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2 OR k.df <= 8),
         model AS (SELECT token, col, candidate, cnt,
                          CAST(round(cnt * 1.0 / sum(cnt) OVER (PARTITION BY token, col), 9) AS DECIMAL(28,9)) AS pr,
                          row_number() OVER (PARTITION BY token, col ORDER BY cnt DESC, candidate ASC) AS rk
                   FROM pairs),
         errtok AS (SELECT e.row_id, e.col, r.token FROM errors e JOIN rowtok r USING (row_id)),
         summed AS (SELECT et.row_id, et.col, m.candidate, sum(m.pr) AS s
                    FROM errtok et JOIN model m ON m.token = et.token AND m.col = et.col AND m.rk <= 5
                    GROUP BY 1, 2, 3)
         SELECT row_id, candidate,
                round(CAST(s AS DOUBLE) / CAST(sum(s) OVER (PARTITION BY row_id, col) AS DOUBLE), 6) AS score
         FROM summed""",
    "q60_token_functions" ->
      """WITH base AS (SELECT c_custkey AS row_id, CAST(c_nationkey AS VARCHAR) AS nation,
                              CAST(c_custkey % 10 AS VARCHAR) AS decile, c_mktsegment AS segment
                       FROM customer),
         enc AS (SELECT *, CASE WHEN (CASE WHEN row_id % 7 = 0 THEN '' ELSE segment END) = ''
                                THEN '<MV>' ELSE segment END AS mv_encoded
                 FROM base)
         SELECT row_id, mv_encoded,
                CASE WHEN mv_encoded = '<MV>' THEN '' ELSE mv_encoded END AS mv_roundtrip,
                concat_ws(',', nation, '<Error>', segment) AS prompt_key,
                round(exp(-0.1 + -0.2 * (row_id % 5)), 6) AS lp_score,
                length(segment) <= 50 AS within_len
         FROM enc""",
    // Replays BOTH grid combinations (vicinity-only A13, vicinity +
    // frequency imputer) and evaluates each against the clean table —
    // the same lifecycle SQL as q48 minus the (budget-0) user overlay.
    "q61_experiment_grid" ->
      """WITH corrupted AS (SELECT c_custkey AS row_id, CAST(c_nationkey AS VARCHAR) AS nation,
             CAST(c_custkey % 10 AS VARCHAR) AS decile,
             CASE WHEN c_custkey % 17 = 3 THEN '__CORRUPT__' ELSE c_mktsegment END AS segment FROM customer),
         err AS (SELECT row_id, nation, decile, segment AS error_value FROM corrupted WHERE segment = '__CORRUPT__'),
         truth AS (SELECT c_custkey AS row_id, c_mktsegment AS clean_value FROM customer WHERE c_custkey % 17 = 3),
         c1 AS (SELECT nation, segment AS candidate, count(*) AS cnt FROM corrupted
                WHERE segment <> '__CORRUPT__' GROUP BY 1, 2),
         p1 AS (SELECT nation, candidate, cnt * 1.0 / sum(cnt) OVER (PARTITION BY nation) AS pr FROM c1),
         c2 AS (SELECT decile, segment AS candidate, count(*) AS cnt FROM corrupted
                WHERE segment <> '__CORRUPT__' GROUP BY 1, 2),
         p2 AS (SELECT decile, candidate, cnt * 1.0 / sum(cnt) OVER (PARTITION BY decile) AS pr FROM c2),
         imp AS (SELECT segment AS candidate, count(*) AS cnt FROM corrupted
                 WHERE segment <> '__CORRUPT__' GROUP BY 1),
         impr AS (SELECT candidate, cnt * 1.0 / (SELECT sum(cnt) FROM imp) AS score FROM imp),
         vic AS (SELECT e.row_id, p1.candidate, p1.pr AS score FROM err e JOIN p1 ON e.nation = p1.nation
                 UNION ALL
                 SELECT e.row_id, p2.candidate, p2.pr FROM err e JOIN p2 ON e.decile = p2.decile),
         impsugg AS (SELECT e.row_id, i.candidate, i.score FROM err e CROSS JOIN impr i
                     WHERE i.score >= 0.001 AND i.candidate <> e.error_value),
         sugg AS (SELECT FALSE AS use_imputer, * FROM vic
                  UNION ALL SELECT TRUE, * FROM vic
                  UNION ALL SELECT TRUE, * FROM impsugg),
         summed AS (SELECT use_imputer, row_id, candidate, sum(score) AS fs FROM sugg GROUP BY 1, 2, 3),
         decided AS (SELECT use_imputer, row_id, candidate AS value FROM
                      (SELECT *, row_number() OVER (PARTITION BY use_imputer, row_id ORDER BY fs DESC, candidate ASC) AS rn
                       FROM summed) WHERE rn = 1),
         m AS (SELECT d.use_imputer, count(*) AS output_size,
                      sum(CASE WHEN t.clean_value = d.value THEN 1 ELSE 0 END) AS tp
               FROM decided d LEFT JOIN truth t ON d.row_id = t.row_id GROUP BY 1),
         pr AS (SELECT use_imputer,
                       CASE WHEN output_size = 0 THEN 0.0 ELSE tp * 1.0 / output_size END AS p,
                       CASE WHEN (SELECT count(*) FROM err) = 0 THEN 0.0
                            ELSE tp * 1.0 / (SELECT count(*) FROM err) END AS r
                FROM m)
         SELECT use_imputer, round(p, 6) AS ec_p, round(r, 6) AS ec_r,
                round(CASE WHEN p + r = 0 THEN 0.0 ELSE 2 * p * r / (p + r) END, 6) AS ec_f,
                (SELECT count(*) FROM err) AS n_errors
         FROM pr"""
  )
}
