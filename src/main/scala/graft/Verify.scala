package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.spark.Sessions
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import scala.jdk.CollectionConverters._

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Runs on
  * `Sessions.build` at `local[$SPARK_GRAFT_CPUS]`, the session config
  * the tests pin.
  *
  *   runMain graft.Verify <sfDir> <outDir> [<query>,<query>...]
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg: comma-separated query-name filter (local
    // iteration only; the driver always invokes with exactly two args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Sessions.build(Sessions.localMaster, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        // TimestampType -> TIMESTAMP_NTZ (identity under the UTC session
        // TZ): the parquet dump then reads back tz-naive microseconds,
        // exactly like the DuckDB oracle's timestamps.
        try {
          val out = fn(spark, sfDir)
          val cast = out.schema.fields
            .filter(_.dataType == TimestampType)
            .foldLeft(out)((a, f) => a.withColumn(f.name, col(f.name).cast(TimestampNTZType)))
          cast.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          // queries that return a cached result (lifecycle)
          // must not accumulate storage across the sweep; no-op for
          // uncached results
          out.unpersist()
        } catch {
          case e: Throwable => System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // Jackson escapes quotes, backslashes and every control char, so a
    // tab or CR in builder-authored SQL cannot break the driver's json.load
    Files.writeString(
      Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().writeValueAsString(SparkEntry.oracleSql.asJava)
    )
    spark.stop()
  }
}
