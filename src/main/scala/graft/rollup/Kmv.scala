package graft.rollup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al.
  * 2002) — the third distinct sketch next to [[graft.rollup]]'s HLL
  * (q50) and CMS (q132), and the one with the simplest MERGE: a
  * sketch is just the k smallest distinct hash values, so merging
  * tiers is "union, keep the k smallest" — an associative min-k that
  * re-rolls through the 1h→1d→30d cascade like any other aggregate.
  * Estimate: with the hash space normalized to [0,1), the kth
  * smallest value θ estimates k/n̂, so n̂ = (k-1)/θ (the unbiased
  * form); below k distinct values the sketch IS the exact set.
  *
  * Determinism: rows hash through the engine-portable 60-bit
  * md5 prefix (the first 15 hex digits of the md5 of the value's
  * string form), the min-k is an integer rank-filter, and the
  * estimate is ONE float division of exact integers —
  * hash-identical in any engine.
  *
  * Scale shape: a distinct-aggregation on (group, hash) collapses
  * duplicates map-side, then the rank window runs over DISTINCT
  * hashes only, partitioned by group. (A custom bounded-heap UDAF
  * would skip the window's sort at the cost of codegen opacity; the
  * distinct relation is the right trade until |distinct per group|
  * rivals the group's row count.)
  */
object Kmv {

  val HashSpace: Double = 1152921504606846976.0 // 2^60, exclusive hash bound

  /** Per-group KMV distinct estimate of `valueCol`:
    * (groups..., k_used, kth_hash, est_distinct).
    */
  def distinctEstimate(df: DataFrame, groups: Seq[String], valueCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(col(valueCol).cast("string")), 1, 15), 16, 10).cast("long")
    val distinctHashes = df
      .select((groups.map(col) :+ h.as("__h")): _*)
      .distinct()
    val w = Window.partitionBy(groups.map(col): _*).orderBy(col("__h"))
    distinctHashes
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("k_used"), max(col("__h")).as("kth_hash"))
      .withColumn(
        "est_distinct",
        when(col("k_used") < k, col("k_used").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(HashSpace) / col("kth_hash").cast("double"))
      )
  }
}
