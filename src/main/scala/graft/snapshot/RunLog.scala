package graft.snapshot

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import scala.jdk.CollectionConverters._

/** One row of a tiers root's `_runlog` table: `ContinuousRollup.update`
  * appends lineage and metrics rows, `Retention.enforce` audit rows;
  * `kind` tells them apart. Field names are the column names, and every
  * counter is a `Long`, so the files of both writers share one schema.
  */
final case class RunLogRow(
    kind: String,
    tier: String = "",
    snapshot_range: String = "",
    rows_out: Long = 0L,
    partitions_touched: Long = 0L,
    applied_snapshot: Long = 0L,
    update_seconds: Double = 0.0,
    wall_clock: String = "",
    source_dirs_read: Long = 0L,
    source_dirs_total: Long = 0L,
    contract_violations: Long = 0L
)

object RunLog {

  private def path(tiersRoot: String) = s"$tiersRoot/_runlog"

  private val Schema = Encoders.product[RunLogRow].schema

  /** Appends `rows` to the run log as one file. */
  def append(spark: SparkSession, tiersRoot: String, rows: Seq[RunLogRow]): Unit =
    spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(path(tiersRoot))

  /** The whole run log in the fixed schema: no schema-inference job, and
    * files that stored a counter as int (older writers) read as `Long`.
    * The read names the data files, not the `_`-prefixed directory,
    * which Spark's hidden-path check would warn about on every read.
    * (Past 32 files, naming them costs Spark's parallel listing job.)
    */
  def read(spark: SparkSession, tiersRoot: String): DataFrame = {
    val stream = Files.newDirectoryStream(Paths.get(path(tiersRoot)), "*.parquet")
    val files = try stream.asScala.map(_.toString).toVector finally stream.close()
    spark.read.schema(Schema).parquet(files: _*)
  }
}
