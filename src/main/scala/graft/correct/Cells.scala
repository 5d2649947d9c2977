package graft.correct

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A detected error cell: the universal address of the reference's
  * correction machinery (`Dict[(row,col) -> error_value]`,
  * reference `src/dataset.py:202-235`), re-expressed as a relation.
  *
  * Rows are addressed by an explicit, input-derived `row_id` column —
  * never `monotonically_increasing_id`, which is partitioning-dependent
  * and would break cell addressing across shuffles (SURVEY.md §7).
  */
case class ErrorCell(row_id: Long, col: String, error_value: String)

/** A correction candidate emitted by one corrector, in long/tall form
  * (the reference's nested per-corrector dicts,
  * `src/helpers.py:75-138`, are a local-memory pivot of this relation).
  */
case class Suggestion(row_id: Long, col: String, corrector: String, candidate: String, score: Double)

/** Final chosen correction per cell. */
case class Correction(row_id: Long, col: String, value: String)

object Cells {

  /** Melt a wide table `(row_id, c1..cn)` into the long cell relation
    * `(row_id, col, value)`.
    *
    * This is the Spark form of the reference's elementwise dataframe
    * diff (`src/dataset.py:162-180`): melt both sides, equi-join on
    * (row_id, col), filter dirty =!= clean. Implemented with the
    * `stack` generator so it stays inside whole-stage codegen — no
    * UDF, no explode of built structs.
    */
  def melt(df: DataFrame, rowId: String, cols: Seq[String]): DataFrame = {
    val stackArgs = cols
      .map(c => s"'$c', cast(`$c` as string)")
      .mkString(", ")
    df.selectExpr(
      s"`$rowId` as row_id",
      s"stack(${cols.size}, $stackArgs) as (col, value)"
    )
  }

  /** Cell-wise diff of two same-schema tables joined on row_id:
    * returns `(row_id, col, dirty_value, clean_value)` for every cell
    * whose values differ (null-safe). The error-detection oracle (J1)
    * and the evaluation join both derive from this.
    */
  def cellDiff(dirty: DataFrame, clean: DataFrame, rowId: String, cols: Seq[String]): DataFrame = {
    val d = melt(dirty, rowId, cols).withColumnRenamed("value", "dirty_value")
    val c = melt(clean, rowId, cols).withColumnRenamed("value", "clean_value")
    d.join(c, Seq("row_id", "col"))
      .filter(!(col("dirty_value") <=> col("clean_value")))
  }

  /** Apply a correction relation back onto the wide table: left join
    * on row_id, then per data column `coalesce(correction, original)`.
    * Equivalent of the reference's `repaired.iloc[cell] = value` loop
    * (`src/dataset.py:182-188`) as one shuffle-free-on-the-left join.
    */
  def applyCorrections(
      df: DataFrame,
      corrections: DataFrame, // (row_id, col, value)
      rowId: String,
      cols: Seq[String]
  ): DataFrame = {
    // pivot corrections to wide (error-fraction-sized; AQE picks
    // broadcast vs. shuffle join at runtime)
    val wide0 = corrections
      .groupBy(col("row_id"))
      .pivot("col", cols)
      .agg(first(col("value")))
    val wide = cols
      .foldLeft(wide0)((a, c) => a.withColumnRenamed(c, s"__corr_$c"))
      .withColumnRenamed("row_id", "__corr_row_id")
    val joined = df.join(wide, col(rowId) === col("__corr_row_id"), "left")
    val out = cols.foldLeft(joined) { (acc, c) =>
      val dt = df.schema(c).dataType
      acc.withColumn(c, coalesce(col(s"__corr_$c").cast(dt), col(c)))
    }
    out.drop("__corr_row_id" +: cols.map(c => s"__corr_$c"): _*)
  }

  /** row_ids having at least one error in any of `cols`. */
  def rowsWithErrorIn(errors: DataFrame, cols: Seq[String]): DataFrame =
    errors
      .filter(col("col").isin(cols: _*))
      .select("row_id")
      .distinct()

  /** Drop every row that has a detected error in any of `cols`
    * (reference `src/pdep.py:36-42` / `src/auto_instance.py:136-149`):
    * a left anti-join, the Spark-native "NOT EXISTS".
    */
  def dropRowsWithErrorIn(df: DataFrame, errors: DataFrame, rowId: String, cols: Seq[String]): DataFrame =
    df.join(
      rowsWithErrorIn(errors, cols).withColumnRenamed("row_id", rowId),
      Seq(rowId),
      "left_anti"
    )
}
