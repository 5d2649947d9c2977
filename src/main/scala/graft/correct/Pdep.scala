package graft.correct

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A functional-dependency candidate lhs -> rhs over named columns
  * (reference `FDTuple`, `src/pdep.py:12`).
  */
case class Fd(lhs: Seq[String], rhs: String) {
  def cols: Seq[String] = lhs :+ rhs
  def key: String = lhs.mkString(",") + "->" + rhs
}

/** pdep / gpdep statistics per FD. `None` fields mirror the
  * reference's `None` returns when every row is masked by errors.
  */
case class PdepStats(
    fd: Fd,
    n: Long, // error-corrected row count
    pdepB: Option[Double],
    pdepAB: Option[Double],
    epdep: Option[Double],
    gpdep: Option[Double]
)

/** Probabilistic functional-dependency statistics on Spark.
  *
  * Re-derivation of the reference's pdep machinery
  * (`src/pdep.py:160-290`) as DataFrame aggregations:
  *
  *   pdep(B)    = sum_b count(b)^2 / N^2           (pdep_0, :215-235)
  *   pdep(A,B)  = (sum_{a,b} count(a,b)^2 / count(a)) / N   (:238-263)
  *   E[pdep]    = pdep(B) + (dA-1)/(N-1) * (1-pdep(B))      (:160-185)
  *   gpdep      = pdep(A,B) - E[pdep(A,B)]                  (:266-289)
  *
  * with N = rows that contain no detected error in lhs ∪ rhs
  * (`error_corrected_row_count`, :188-211); all counts computed over
  * the same masked row set (`fast_fd_counts`, :24-52).
  *
  * Each FD costs one `groupBy(lhs :+ rhs).count()` — a single partial+
  * final hash aggregate over only the projected columns, so the scan
  * prunes to the FD's columns and the shuffle carries the (tiny)
  * distinct-combination relation, not rows.
  */
object Pdep {

  /** Conditional counts for one FD over the error-masked rows:
    * columns `lhs..., rhs, cnt, lhs_cnt` where `lhs_cnt` is the
    * marginal count of the lhs value combination.
    */
  def fdCounts(df: DataFrame, errors: DataFrame, rowId: String, fd: Fd): DataFrame = {
    val masked = Cells.dropRowsWithErrorIn(df, errors, rowId, fd.cols)
    val c = masked.groupBy(fd.cols.map(col): _*).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(fd.lhs.map(col): _*)
    c.withColumn("lhs_cnt", sum(col("cnt")).over(w))
  }

  /** All four statistics for one FD: the single-FD view of
    * [[statsAll]].
    */
  def stats(df: DataFrame, errors: DataFrame, rowId: String, fd: Fd): PdepStats =
    statsAll(df, errors, rowId, Seq(fd)).head

  /** The statistics of every FD from ONE Spark action, caching nothing.
    * Each FD's counts relation (one scan, see [[fdCounts]]) reduces to
    * a one-row aggregate of its scalars; the rows are unioned and
    * collected together. Over the counts rows of one FD:
    *
    *   N                 = sum(cnt)  (mined over exactly the masked rows)
    *   sum_b count(b)^2  = sum(cnt * rhs_cnt)   (exact, in longs)
    *   pdep(A,B) * N     = sum(cnt^2 / lhs_cnt)
    *   dA                = distinct lhs value combinations
    */
  private def statsAll(df: DataFrame, errors: DataFrame, rowId: String, fds: Seq[Fd]): Seq[PdepStats] = {
    if (fds.isEmpty) return Seq.empty
    val scalars = fds.zipWithIndex
      .map { case (fd, i) =>
        fdCounts(df, errors, rowId, fd)
          .withColumn("rhs_cnt", sum(col("cnt")).over(Window.partitionBy(col(fd.rhs))))
          .agg(
            sum(col("cnt")).as("n"),
            sum(col("cnt") * col("rhs_cnt")).as("rhs_sq"),
            sum(pow(col("cnt"), 2) / col("lhs_cnt")).as("pab_n"),
            countDistinct(struct(fd.lhs.map(col): _*)).as("da")
          )
          .select(lit(i).as("i"), col("n"), col("rhs_sq"), col("pab_n"), col("da"))
      }
      .reduce(_ unionByName _)
      .collect()
      .map(r => r.getInt(0) -> r)
      .toMap
    fds.zipWithIndex.map { case (fd, i) =>
      val r = scalars(i)
      val n = if (r.isNullAt(1)) 0L else r.getLong(1)
      if (n == 0L) PdepStats(fd, 0L, None, None, None, None)
      else {
        val pdepBVal = r.getLong(2).toDouble / (n.toDouble * n)
        val pdepABVal = r.getDouble(3) / n.toDouble
        val dA = r.getLong(4)
        val epdepVal: Option[Double] =
          if (pdepBVal == 1.0) None // reference: division-by-zero guard, pdep.py:172-173
          else if (n == 1L) Some(0.0)
          else Some(pdepBVal + (dA - 1).toDouble / (n - 1).toDouble * (1 - pdepBVal))
        val gpdepVal = epdepVal.map(e => pdepABVal - e)
        PdepStats(fd, n, Some(pdepBVal), Some(pdepABVal), epdepVal, gpdepVal)
      }
    }
  }

  /** In-engine FD search (replacement for the reference's external
    * HyFD JAR, `src/pdep.py:513-573`, per SURVEY.md §2.1 S6): validate
    * every order-1 candidate `lhs -> rhs` over the error-masked rows
    * with one aggregation per lhs column. An FD holds iff every lhs
    * value maps to exactly one rhs value (`max(countDistinct(rhs))
    * == 1`); `maxViolationFrac` relaxes to approximate FDs (fraction
    * of rows in violating lhs groups).
    *
    * Scale: one `groupBy(lhs)` per (lhs, rhs) pair over only the two
    * projected columns — column-pruned scans, partial aggregation, and
    * the per-pair result is a single scalar row.
    */
  def mineFds(
      df: DataFrame,
      errors: DataFrame,
      rowId: String,
      cols: Seq[String],
      maxViolationFrac: Double = 0.0
  ): DataFrame = {
    // cell-level masking of a (lhs,rhs) pair ≡ the reference's
    // row-level masking restricted to that pair's two columns
    val counts = Correctors.allCountsOrderN(df, errors, rowId, cols, 1)
    counts
      .groupBy("lhs_col_1", "rhs_col", "lhs_val_1")
      .agg(sum("cnt").as("n"), count(lit(1)).as("d"))
      .groupBy("lhs_col_1", "rhs_col")
      .agg(
        sum("n").as("n_rows"),
        sum(when(col("d") > 1, col("n")).otherwise(0L)).as("violating_rows")
      )
      .filter(col("violating_rows") <= col("n_rows") * lit(maxViolationFrac))
      .select(col("lhs_col_1").as("lhs"), col("rhs_col").as("rhs"), col("n_rows"), col("violating_rows"))
  }

  /** The gpdep table as a DataFrame: one row per FD with all four
    * statistics plus the per-rhs normalized gpdep, doubles rounded to 6
    * for oracle-stable output. The per-FD aggregates run as one Spark
    * action (model-sized results); the assembled relation is tiny by
    * construction (|FDs| rows).
    */
  def statsDF(df: DataFrame, errors: DataFrame, rowId: String, fds: Seq[Fd]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    gpdepTable(df, errors, rowId, fds).toSeq
      .sortBy(_._1)
      .map { case (k, (s, ng)) => (k, s.n, s.pdepB, s.pdepAB, s.epdep, s.gpdep, ng) }
      .toDF("fd_key", "n", "pdep_b", "pdep_ab", "epdep", "gpdep", "norm_gpdep")
      .select(
        col("fd_key") +: col("n") +:
          Seq("pdep_b", "pdep_ab", "epdep", "gpdep", "norm_gpdep").map(c => round(col(c), 6).as(c)): _*
      )
  }

  /** gpdep for a set of FDs, plus per-rhs normalization
    * (`norm_gpdep = gpdep / sum(gpdep over lhs for this rhs)` when the
    * sum is positive — reference `src/correction.py:541-553`).
    * Returns `(fd, stats, normGpdep)` keyed by `fd.key`; every FD's
    * statistics come from one Spark action ([[statsAll]]).
    */
  def gpdepTable(
      df: DataFrame,
      errors: DataFrame,
      rowId: String,
      fds: Seq[Fd]
  ): Map[String, (PdepStats, Double)] =
    normalized(statsAll(df, errors, rowId, fds))

  /** The gpdep table of `fds` out of `table`, a gpdep table built over
    * a superset of them. The statistics are per FD and carry over;
    * only the per-rhs normalization is redone, over `fds`. Runs no
    * Spark job.
    */
  def restrict(table: Map[String, (PdepStats, Double)], fds: Seq[Fd]): Map[String, (PdepStats, Double)] =
    normalized(fds.map(fd => table(fd.key)._1))

  private def normalized(stats: Seq[PdepStats]): Map[String, (PdepStats, Double)] = {
    val all = stats.map(s => s.fd.key -> s).toMap
    val byRhs = all.values.groupBy(_.fd.rhs)
    val norm: Map[String, Double] = byRhs.flatMap { case (_, ss) =>
      val normSum = ss.flatMap(_.gpdep).sum
      ss.map { s =>
        val ng = if (normSum > 0) s.gpdep.map(_ / normSum).getOrElse(0.0) else 0.0
        s.fd.key -> ng
      }
    }.toMap
    all.map { case (k, s) => k -> (s, norm(k)) }
  }
}
