package graft.rollup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stream-disorder audit: how out-of-order do events ARRIVE relative
  * to event time? This is the measurement that SIZES a watermark — a
  * streaming `withWatermark` horizon and the batch snapshot's
  * late-data re-touch window are both policies over exactly this
  * distribution.
  *
  * An event is out-of-order when its event time is behind the maximum
  * event time already arrived on its key (arrival order = the caller's
  * monotonic arrival column); its lateness is that deficit in seconds.
  * Exact integers.
  *
  * Scale shape: one exchange keyed by the stream key, one in-partition
  * running-max window, one partial-aggregated groupBy to #keys rows.
  */
object Disorder {

  /** @param arrivalCol monotonic arrival-order column (ingest sequence)
    * @return one row per key: (key..., n_events, n_out_of_order,
    *         max_lateness_sec, p_ooo)
    */
  def audit(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      arrivalCol: String
  ): DataFrame = {
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(arrivalCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__es", unix_timestamp(col(tsCol)))
      .withColumn("__hwm", max(col("__es")).over(w))
      .withColumn(
        "__late",
        when(col("__hwm").isNotNull && col("__es") < col("__hwm"), col("__hwm") - col("__es"))
          .otherwise(0L)
      )
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("__late") > 0, 1L).otherwise(0L)).as("n_out_of_order"),
        max(col("__late")).as("max_lateness_sec")
      )
      .withColumn(
        "p_ooo",
        col("n_out_of_order").cast("double") / col("n_events").cast("double")
      )
  }
}
