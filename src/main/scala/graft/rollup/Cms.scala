package graft.rollup

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Count-min sketch (Cormode & Muthukrishnan 2005) as a tier measure:
  * point-frequency estimates for UNBOUNDED key domains in fixed memory
  * — the fourth mergeable sketch next to HLL (distincts), SpaceSaving
  * (top-k), and the quantile histogram. Where TopK keeps only the
  * head, CMS answers "how often did THIS key appear" for any key, with
  * one-sided error: estimates never undercount, overcount ≤ εN with
  * probability 1−δ (d rows, w columns ⇒ ε = e/w, δ = e^−d).
  *
  * Determinism is stronger than TopK's: the state is a d×w integer
  * matrix and merge is ELEMENTWISE ADDITION — commutative and
  * associative — so the sketch is bit-identical under ANY partitioning
  * or merge order, with no truncation boundary. Hashes are the
  * portable salted md5-prefix scheme, so an oracle reproduces the
  * exact cells.
  *
  * Scale shape: rides `Rollup`-style groupBys as one UDAF column;
  * state is d·w longs regardless of input size; coarser tiers merge by
  * vector addition.
  */
object Cms {

  /** Hash of `key` into row j's buckets (0-based, < w). */
  def bucketOf(key: Column, j: Int, w: Int): Column =
    pmod(
      conv(substring(md5(concat(key.cast("string"), lit(s"|cms|$j"))), 1, 15), 16, 10)
        .cast("bigint"),
      lit(w.toLong)
    )

  private def checkArgs(d: Int, w: Int): Unit = {
    require(d >= 1 && d <= 8, s"d must be in [1,8], got $d")
    require(w >= 2 && w <= (1 << 20), s"w must be in [2, 2^20], got $w")
  }

  private class SketchAgg(d: Int, w: Int) extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
    def zero: Array[Long] = new Array[Long](d * w)
    def reduce(b: Array[Long], buckets: Seq[Long]): Array[Long] = {
      if (buckets != null) {
        var j = 0
        while (j < d) { b(j * w + buckets(j).toInt) += 1; j += 1 }
      }
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def finish(r: Array[Long]): Seq[Long] = r.toIndexedSeq
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  }

  private class MergeAgg(d: Int, w: Int) extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
    def zero: Array[Long] = new Array[Long](d * w)
    def reduce(b: Array[Long], state: Seq[Long]): Array[Long] = {
      if (state != null) { var i = 0; while (i < b.length) { b(i) += state(i); i += 1 } }
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def finish(r: Array[Long]): Seq[Long] = r.toIndexedSeq
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  }

  /** Raw keys -> sketch state (`array<bigint>` of length d*w). */
  def sketch(key: Column, d: Int, w: Int): Column = {
    checkArgs(d, w)
    val buckets = array((0 until d).map(j => bucketOf(key, j, w)): _*)
    udaf(new SketchAgg(d, w), ExpressionEncoder[Seq[Long]]()).apply(buckets)
  }

  /** Finer-tier states -> coarser-tier state (elementwise vector sum). */
  def mergeSketch(state: Column, d: Int, w: Int): Column = {
    checkArgs(d, w)
    udaf(new MergeAgg(d, w), ExpressionEncoder[Seq[Long]]()).apply(state)
  }

  /** Point estimate of `key`'s frequency from a sketch column:
    * min over the d rows of the key's cell (pure HOF read-out).
    */
  def estimate(state: Column, key: Column, d: Int, w: Int): Column = {
    checkArgs(d, w)
    val cells = array((0 until d).map(j =>
      element_at(state, (bucketOf(key, j, w) + lit(j.toLong * w) + 1L).cast("int"))): _*)
    array_min(cells)
  }
}
