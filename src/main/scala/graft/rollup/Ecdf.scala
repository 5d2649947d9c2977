package graft.rollup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-group empirical-CDF normalization: map every value to its exact
  * rank fraction within its group — the scale-free score normalizer
  * used to make quality/importance scores comparable across strata
  * before corpus packing or mixing.
  *
  * Exactness contract: the ECDF is emitted as an exact integer
  * rational — `ecdf_num = rank(value)` (ties share the MAX rank:
  * P[X <= x], the textbook ECDF) over `ecdf_den = n` — plus the one
  * float division both engines perform identically on those exact
  * integers. percent_rank-style interpolation is deliberately NOT
  * used (engines disagree on its edge cases).
  *
  * Scale shape: one exchange keyed by group, one in-partition sort
  * shared by the two rank windows (same ordering), plus the unordered
  * count — per-group sequential semantics, no joins, no UDFs.
  */
object Ecdf {

  def normalize(
      df: DataFrame,
      groupCol: String,
      valueCol: String
  ): DataFrame = {
    val byGroup = Window.partitionBy(col(groupCol))
    // max rank among ties = count of rows with value <= this one:
    // rank() gives the MIN rank of the tie run; cume_dist would be a
    // float — instead count rows via a RANGE frame up to current value
    val w = byGroup
      .orderBy(col(valueCol))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)

    df.withColumn("ecdf_num", count(lit(1)).over(w))
      .withColumn("ecdf_den", count(lit(1)).over(byGroup))
      .withColumn(
        "ecdf",
        col("ecdf_num").cast("double") / col("ecdf_den").cast("double")
      )
  }
}
