package graft.pages

import graft.snapshot.SnapshotStore
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Incrementally maintained repair models for the pages pipeline.
  *
  * The lang model is the (domain, lang) count relation over RAW rows.
  * It is sum-mergeable, so rolling it forward costs one aggregate over
  * the NEW batch only:
  *
  *   model(to) = model(from) ⊕ counts(rows added in (from, to])
  *
  * — exactly equal to counting the full table at snapshot `to`, with
  * no full-table rescan. Combined with `SnapshotStore.resolveDirs`
  * file pruning, a continuous-rollup update therefore touches only
  * (a) the new batch and (b) the files of the tier partitions it
  * recomputes, while repair decisions still use full-table counts —
  * the property that keeps incremental updates bit-identical to a
  * one-shot repair-then-rollup.
  *
  * Models are versioned by applied snapshot id (`lang_counts_s<id>`)
  * and written with overwrite, so a crashed update re-runs
  * idempotently; old versions are model-sized (≤ domains × langs
  * rows) and double as lineage.
  */
object PageModel {

  private def path(tiersRoot: String, id: Long) = s"$tiersRoot/_model/lang_counts_s$id"

  /** The model's fixed (domain, lang, cnt) schema: reads pass it, so
    * no read runs a schema-inference job.
    */
  private val Schema: StructType = StructType(
    Seq(StructField("domain", StringType), StructField("lang", StringType), StructField("cnt", LongType))
  )

  def exists(tiersRoot: String, id: Long): Boolean =
    Files.exists(Paths.get(path(tiersRoot, id)))

  def read(spark: SparkSession, tiersRoot: String, id: Long): DataFrame =
    spark.read.schema(Schema).parquet(path(tiersRoot, id))

  /** Roll the lang-count model forward from snapshot `from` to `to`
    * and return the new model. The old model's rows and the new
    * batch's rows (each counting 1) meet under ONE aggregate. Falls
    * back to a full-range count when no model exists for `from`
    * (first update, or a tiers table created before model
    * maintenance existed).
    */
  def update(spark: SparkSession, sourceRoot: String, tiersRoot: String, from: Long, to: Long): DataFrame = {
    val merged =
      if (from > 0 && exists(tiersRoot, from)) {
        val batch = SnapshotStore
          .readRange(spark, sourceRoot, from, to)
          .select(PageGen.domainOf("url").as("domain"), col("lang"), lit(1L).as("cnt"))
        read(spark, tiersRoot, from)
          .unionByName(batch)
          .groupBy("domain", "lang")
          .agg(sum("cnt").as("cnt"))
      } else
        PagePipeline.langCounts(SnapshotStore.readRange(spark, sourceRoot, 0L, to))
    merged.write.mode("overwrite").parquet(path(tiersRoot, to))
    read(spark, tiersRoot, to)
  }
}
