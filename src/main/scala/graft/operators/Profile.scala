package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-pass column profiling — the stats backbone of ingestion QA and
  * optimizer statistics at 100 TB: per column, row count, null count,
  * distinct count, min and max, in ONE job.
  *
  * Shape: MELT the projected columns to (col_name, value_s) — a
  * zero-shuffle stack (the scan is read once; width multiplies rows
  * by #profiled columns, which is why `cols` is explicit, not
  * all-columns-by-default) — then one partial-aggregated groupBy on
  * col_name. Distinct counts go through the two-level
  * (col, value)-then-col aggregate rather than C separate
  * `count(distinct)` aggregates: Spark plans multi-distinct as an
  * EXPAND (rows × distinct-aggs) with a single final reduce, where
  * the two-level form keeps both exchanges partial-aggregated and
  * key-partitioned — the difference between a driver-bottlenecked
  * reduce and a parallel one at corpus scale.
  *
  * Values profile as STRINGS (min/max lexicographic on the cast):
  * this operator's job is the uniform any-schema profile a
  * data-quality dashboard reads, not type-faithful extrema.
  */
object Profile {

  /** @return (col_name, n_rows, n_null, n_distinct, min_s, max_s),
    *         one row per profiled column.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val melted = df.select(
      explode(array(cols.map(c => struct(lit(c).as("col_name"), col(c).cast("string").as("value_s"))): _*)).as("kv"))
      .select(col("kv.col_name").as("col_name"), col("kv.value_s").as("value_s"))
    melted
      .groupBy("col_name", "value_s")
      .agg(count(lit(1)).as("n"))
      .groupBy("col_name")
      .agg(
        sum(col("n")).as("n_rows"),
        coalesce(sum(when(col("value_s").isNull, col("n"))), lit(0L)).as("n_null"),
        count(col("value_s")).as("n_distinct"),
        min(col("value_s")).as("min_s"),
        max(col("value_s")).as("max_s"))
  }
}
