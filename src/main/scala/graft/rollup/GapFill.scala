package graft.rollup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-fill for tier tables: a generated time spine per series
  * (`explode(sequence(lo, hi, step))` — built-in generator, no UDTF),
  * left-joined against the tier rows, then zero-fill / LOCF / linear
  * interpolation (SURVEY.md §2.10).
  *
  * Scale notes: the spine is generated per series from that series'
  * own [min, max] bucket range (no global cross join), so spine size is
  * O(series × buckets-in-range) and the join is an equi-join on
  * `(series, bucket_ts)` that AQE plans like any other; the window
  * functions for LOCF/interp partition by series, which matches the
  * natural output partitioning of the spine join (one shuffle total).
  */
object GapFill {

  /** Per-series dense spine joined with the tier rows; missing buckets
    * appear with nulls in every measure column.
    */
  def withSpine(tierDf: DataFrame, series: Seq[String], tier: String): DataFrame = {
    val bounds = tierDf
      .groupBy(series.map(col): _*)
      .agg(min("bucket_ts").as("__lo"), max("bucket_ts").as("__hi"))
    val spine = bounds.select(
      series.map(col) :+
        explode(sequence(col("__lo"), col("__hi"), expr(Tiers.interval(tier)))).as("bucket_ts"): _*
    )
    spine.join(tierDf, series :+ "bucket_ts", "left")
  }

  /** Gap-fill with zeros for count-like measures. */
  def zeroFill(tierDf: DataFrame, series: Seq[String], tier: String, measures: Seq[String]): DataFrame = {
    val j = withSpine(tierDf, series, tier)
    measures.foldLeft(j)((acc, m) => acc.withColumn(m, coalesce(col(m), lit(0L))))
  }

  /** Last-observation-carried-forward over the spine for `valueCol`
    * (frame `rowsBetween(unboundedPreceding, 0)` + `last(ignoreNulls)`).
    */
  def locf(spined: DataFrame, series: Seq[String], valueCol: String): DataFrame = {
    val w = Window
      .partitionBy(series.map(col): _*)
      .orderBy(col("bucket_ts"))
      .rowsBetween(Window.unboundedPreceding, 0)
    spined.withColumn(valueCol, last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** Linear interpolation between the previous and next non-null
    * observation of `valueCol`; endpoints fall back to LOCF /
    * next-observation-carried-backward.
    */
  def interpolate(spined: DataFrame, series: Seq[String], valueCol: String): DataFrame = {
    val wAsc = Window
      .partitionBy(series.map(col): _*)
      .orderBy(col("bucket_ts"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wDesc = Window
      .partitionBy(series.map(col): _*)
      .orderBy(col("bucket_ts"))
      .rowsBetween(0, Window.unboundedFollowing)

    val tsLong = unix_timestamp(col("bucket_ts")).cast("double")
    val obsTs = when(col(valueCol).isNotNull, tsLong)

    val prevV = last(col(valueCol), ignoreNulls = true).over(wAsc)
    val prevT = last(obsTs, ignoreNulls = true).over(wAsc)
    val nextV = first(col(valueCol), ignoreNulls = true).over(wDesc)
    val nextT = first(obsTs, ignoreNulls = true).over(wDesc)

    val interp = when(col(valueCol).isNotNull, col(valueCol))
      .when(prevV.isNull, nextV)
      .when(nextV.isNull, prevV)
      .when(nextT === prevT, prevV)
      .otherwise(
        prevV + (nextV - prevV) * (tsLong - prevT) / (nextT - prevT)
      )
    spined.withColumn(valueCol, interp)
  }
}
