package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD-2 history construction: turn a change-event log (one row per
  * observed state of a key) into slowly-changing-dimension validity
  * intervals — each row becomes `[effective_from, effective_to)` with
  * the open current row marked. Where a latest-wins merge keeps only
  * the final state, this keeps the full queryable history (join fact
  * rows by `fact.ts >= from AND fact.ts < to` — the epoch-bucketed
  * interval join of q81 is the scale path for that probe).
  *
  * Exact: epoch-second integers; ties on ts broken by the caller's
  * total-order column, so intervals are deterministic.
  *
  * Scale shape: one exchange keyed by the dimension key, one
  * in-partition lead window — per-key sequential semantics, the
  * inherent layout of history building.
  */
object Scd2 {

  /** @return input rows + (effective_from_s, effective_to_s, is_current);
    *         effective_to_s is null on the open interval
    */
  def history(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      tieBreak: String
  ): DataFrame = {
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieBreak))
    df.withColumn("effective_from_s", unix_timestamp(col(tsCol)))
      .withColumn("effective_to_s", lead(unix_timestamp(col(tsCol)), 1).over(w))
      .withColumn("is_current", col("effective_to_s").isNull)
  }
}
