package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Crawl politeness scheduling — the fetch-planner half of the
  * [[Robots]] gate: RFC 9309's `Crawl-delay` says a host may be hit
  * at most once per `delay` seconds, so a frontier of permitted URLs
  * becomes a per-host serialized schedule: order by priority, fetch
  * slot i at offset `i * delay`. The output (slot, offset) pair is
  * what a fetch fleet shards on — workers pull (host, slot) ranges
  * and the per-host rate cap holds globally without coordination.
  *
  * Scale shape: ONE window partitioned by host — the inherent
  * parallelism of politeness (hosts are independent; within a host
  * the schedule is definitionally sequential). Hot hosts with
  * millions of URLs sort within their partition only; there is no
  * global order and no driver involvement.
  */
object Politeness {

  /** Largest accepted crawl delay: one day, in seconds. */
  val MaxDelaySec: Long = 86400L

  /** @param priority higher fetches first; ties break on `tieBreak` asc
    * @param delaySec per-row host crawl delay (seconds). The schedule
    *        uses the MAX of `delaySec` over each host's rows: if rows
    *        of one host disagree (e.g. robots re-fetched mid-frontier),
    *        per-row delays could interleave slot offsets (slot 2 of a
    *        1 s row fires at 2 s inside slot 1 of a 5 s row's window)
    *        and silently break the per-host rate cap — the max is the
    *        only per-row-derivable spacing that honors every row's cap.
    *        A negative delay, or one above `MaxDelaySec`, raises: one
    *        corrupt robots value would otherwise stretch the host's
    *        whole schedule. A null delay states no cap and is left out
    *        of the max; a host whose delays are all null gets a null
    *        `fetch_offset_s`.
    * @return input plus (slot, fetch_offset_s): slot = per-host fetch
    *         index (0-based), offset = slot * max-host-delay
    */
  def schedule(
      urls: DataFrame,
      hostCol: String,
      priority: Column,
      tieBreak: String,
      delaySec: Column
  ): DataFrame = {
    val w = Window.partitionBy(col(hostCol)).orderBy(priority.desc, col(tieBreak).asc)
    // same partitioning as the ranking window -> one shuffle serves both
    val raw = delaySec.cast("double")
    val bad = raise_error(concat(lit(s"crawl delay out of [0, $MaxDelaySec] s: "), raw.cast("string")))
    val checked = when(raw < 0 || raw > MaxDelaySec, bad).otherwise(delaySec.cast("long"))
    val hostDelay = max(checked).over(Window.partitionBy(col(hostCol)))
    urls
      .withColumn("slot", (row_number().over(w) - 1).cast("long"))
      .withColumn("fetch_offset_s", col("slot") * hostDelay)
  }
}
