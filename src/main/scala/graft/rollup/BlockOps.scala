package graft.rollup

import graft.core.{DeltaCodec, GorillaCodec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Compressed columnar block structs for rollup rows (north rule):
  * per `(series, coarse bucket)`, the finer-tier points are packed into
  *   `ts_block : binary` — delta-of-delta encoded bucket timestamps
  *   `val_block: binary` — Gorilla-XOR encoded values
  * plus `block_points` for quick pruning.
  *
  * Plan shape: `sort_array(collect_list(struct(ts, v)))` keeps the
  * whole pipeline in built-in aggregates (deterministic order via the
  * struct sort on ts-first), then a single scalar UDF encodes the
  * sorted array. Group sizes are bounded by the tier fan-in (60 for
  * 1m->1h, 24 for 1h->1d, 30 for 1d->30d), so the collected arrays are
  * tiny and never spill; raw rows are never collected — only
  * already-aggregated finer-tier points. (SURVEY.md §2.9.)
  */
object BlockOps {

  private val encodePairs = udf { (pairs: Seq[org.apache.spark.sql.Row]) =>
    val ts = pairs.map(_.getAs[java.sql.Timestamp](0).getTime).toArray
    val vs = pairs.map(_.getDouble(1)).toArray
    (DeltaCodec.encode(ts), GorillaCodec.encode(vs))
  }

  val decodeTs = udf { (block: Array[Byte]) => DeltaCodec.decode(block) }
  val decodeVals = udf { (block: Array[Byte]) => GorillaCodec.decode(block) }

  /** Build blocks for one tier edge: `finer` is a tier table with
    * `(series..., bucket_ts, <valueCol>)`; output is one row per
    * `(series..., coarse bucket_ts)` with ts/val blocks over the finer
    * points.
    */
  def buildBlocks(
      finer: DataFrame,
      series: Seq[String],
      toTier: String,
      valueCol: String
  ): DataFrame = {
    val keys = series.map(col) :+ Tiers.bucket(col("bucket_ts"), toTier).as("bucket_ts")
    finer
      .groupBy(keys: _*)
      .agg(
        count(lit(1)).as("block_points"),
        sort_array(collect_list(struct(col("bucket_ts").as("ts"), col(valueCol).cast("double").as("v"))))
          .as("__pairs")
      )
      .withColumn("__enc", encodePairs(col("__pairs")))
      .select(
        series.map(col) :+ col("bucket_ts") :+ col("block_points") :+
          col("__enc._1").as("ts_block") :+ col("__enc._2").as("val_block"): _*
      )
  }

  /** Decode a block table back to points (round-trip verification and
    * late-read paths).
    */
  def explodeBlocks(blocks: DataFrame, series: Seq[String]): DataFrame = {
    blocks
      .withColumn("__ts", decodeTs(col("ts_block")))
      .withColumn("__vs", decodeVals(col("val_block")))
      .withColumn("__pt", explode(arrays_zip(col("__ts"), col("__vs"))))
      .select(
        series.map(col) :+
          timestamp_millis(col("__pt.__ts")).as("point_ts") :+
          col("__pt.__vs").as("value"): _*
      )
  }
}
