package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One run: its session, report, seed, measuring window and scratch
  * directory.
  */
final class Ctx(
    val spark: SparkSession,
    val report: Report,
    val seed: Int,
    val seconds: Int,
    val traced: Boolean,
    val dir: String,
    val cores: Int
) {

  /** Runs `op` until the window has passed and at least `MinOps` times
    * (at most `MaxOps`), or until `op` returns false.
    */
  def loop(op: () => Boolean): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    var more = true
    while (more && n < Ctx.MaxOps && (n < Ctx.MinOps || (System.nanoTime() - t0) / 1e9 < seconds)) {
      more = op()
      n += 1
    }
  }
}

object Ctx {
  /** Three at least, so that a run's median is a middle value that one
    * slow operation does not move.
    */
  val MinOps = 3
  val MaxOps = 40
}

/** The `spark.*` per-layer metrics of a span total, per operation. */
object SparkLayer {
  def put(l: mutable.Map[String, Double], t: SpanTotals, perOp: Double, cores: Int): Unit = {
    l("spark.jobs") = t.jobs * perOp
    l("spark.tasks") = t.tasks * perOp
    l("spark.task_s") = t.taskS * perOp
    l("spark.core_busy_share") = t.coreBusyShare(cores)
    l("spark.shuffle_write_bytes") = t.shuffleWriteBytes * perOp
    l("spark.spill_bytes") = t.spillBytes * perOp
    l("spark.input_records") = t.inputRecords * perOp
    l("spark.task_skew") = t.taskSkew
  }
}
