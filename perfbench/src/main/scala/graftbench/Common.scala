package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

object Common {

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Order-independent content fingerprints of several tables in one
    * job: per table, the row count plus the sum of a 64-bit row hash
    * folded below 2^31, over the columns in name order. Equal tables
    * give equal fingerprints; one changed cell changes the sum with
    * overwhelming probability.
    */
  def fingerprints(tables: Seq[(String, DataFrame)]): Map[String, (Long, Long)] = {
    val hashed = tables.map { case (name, df) =>
      df.select(lit(name).as("t"), pmod(xxhash64(df.columns.sorted.toIndexedSeq.map(df(_)): _*), lit(2147483647L)).as("h"))
    }
    val got = hashed
      .reduce(_ unionByName _)
      .groupBy("t")
      .agg(count(lit(1)), sum("h"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    tables.map { case (name, _) => name -> got.getOrElse(name, (0L, 0L)) }.toMap
  }

  /** An input directory is complete when Spark's `_SUCCESS` marker is
    * there and it holds exactly the rows that were written (`found`,
    * counted by the caller from the files).
    */
  def checkInput(path: String, rows: Long, found: Long): Unit = {
    require(Files.exists(Paths.get(path, "_SUCCESS")), s"$path has no _SUCCESS marker")
    require(found == rows, s"$path holds $found rows, expected $rows")
  }

  private def walk(path: String): Seq[Path] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
  }

  /** (bytes, files) of the parquet data files under `path`. */
  def dataFiles(path: String): (Long, Long) = {
    val parts = walk(path).filter(_.getFileName.toString.endsWith(".parquet"))
    (parts.map(Files.size).sum, parts.size.toLong)
  }

  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  /** Same-window CPU control: an allocation-free sha2 chain over
    * `range()`, no input and no shuffle. A floor reported beside the
    * layers, never used to normalise a gated metric. Returns rows/s.
    */
  def sha2RowsPerS(spark: SparkSession, rows: Long): Double = {
    val (_, s) = seconds {
      spark
        .range(rows)
        .select(
          sha2(concat(lit("k"), col("id"), sha2(concat(col("id") * 7, lit("x")).cast("string"), 256)), 256).as("h")
        )
        .select(count(when(substring(col("h"), 1, 1) === "a", 1)))
        .head()
    }
    rows / s
  }
}
