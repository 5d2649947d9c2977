package graft.rollup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bounded-lookback exponential smoothing (the batch form of PromQL's
  * EWMA-style smoothing): each sample is smoothed against its series'
  * previous `lookback` samples with geometrically decaying weights,
  *
  *   ewma_t = sum_i (1-alpha)^i * v_{t-i} / sum_i (1-alpha)^i,  i < n
  *
  * computed as a left Horner fold over the window's value list
  * (`acc * (1-alpha) + v`, oldest to newest) — no `pow`, whose last-ulp
  * freedom differs across engines. At alpha = 0.5 every decay multiply
  * is an exact exponent shift, so the whole fold is bit-reproducible
  * in any IEEE engine evaluating the same order (the DuckDB oracle
  * replays the identical fold with `list_reduce`); other alphas stay
  * deterministic within one engine but may drift an ulp across them.
  *
  * Scale shape: one exchange + sort on the series key, then a pure
  * per-row fold over a bounded (`lookback`) list — no second shuffle,
  * state bounded by the lookback, never by series length.
  */
object Smooth {

  /** @return input rows + `ewma` + `n_window` (samples in the fold). */
  def ewma(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      tieBreak: String,
      lookback: Int,
      alpha: Double = 0.5): DataFrame = {
    require(lookback >= 1, s"lookback must be >= 1, got $lookback")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieBreak))
      .rowsBetween(-(lookback - 1), Window.currentRow)
    val decay = lit(1.0 - alpha)
    // frame order = oldest -> newest; Horner fold gives weight
    // (1-alpha)^(n-1-j) to position j, i.e. newest weighs 1.
    val vals = collect_list(col(valueCol)).over(w)
    val tail = slice(col("__vals"), lit(2), size(col("__vals")) - 1)
    val num = aggregate(tail, element_at(col("__vals"), 1), (acc, x) => acc * decay + x)
    val den = aggregate(tail, lit(1.0), (acc, _) => acc * decay + lit(1.0))
    df.withColumn("__vals", vals)
      .withColumn("ewma", num / den)
      .withColumn("n_window", size(col("__vals")).cast("long"))
      .drop("__vals")
  }
}
