package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import scala.collection.mutable

/** What one run measured, handed to `run.py` as one JSON line
  * prefixed `GRAFTBENCH_RESULT `. Raw samples go out unreduced, so
  * `run.py` owns the statistics of the end-to-end metrics; the traced
  * run's per-layer values are reduced here, where the spans are.
  */
final class Report(val workload: String) {
  var sessionS = 0.0
  /** Seconds of input generation and input checks. */
  var inputS = 0.0
  /** Seconds of the base history and warm-up that follow the inputs. */
  var baseS = 0.0
  /** Seconds of each timed operation. */
  val ops = mutable.ArrayBuffer.empty[Double]
  /** Work items per second of each timed operation's throughput part. */
  val itemRates = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  /** Output checks: name -> passed. */
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val layers = mutable.LinkedHashMap.empty[String, Double]

  /** Runs `op`, counting it as attempted, and as failed if it throws
    * or returns false.
    */
  def attempt(name: String)(op: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try op
      catch {
        case e: Exception =>
          System.err.println(s"[graftbench] $name failed: $e")
          false
      }
    if (!ok) failed += 1
    ok
  }

  /** Untimed work (checks, reference results) with its duration on
    * stderr, so the cost of a run outside its metrics stays visible.
    */
  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[graftbench] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  def check(name: String, ok: Boolean): Boolean = {
    checks(name) = checks.getOrElse(name, true) && ok
    if (!ok) System.err.println(s"[graftbench] output check failed: $name")
    ok
  }

  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def json: String = {
    val m = new ObjectMapper()
    val o: ObjectNode = m.createObjectNode()
    o.put("workload", workload)
    o.put("session_s", sessionS)
    o.put("input_s", inputS)
    o.put("base_s", baseS)
    val os = o.putArray("op_s"); ops.foreach(os.add(_))
    val rs = o.putArray("item_rates"); itemRates.foreach(rs.add(_))
    o.put("attempted", attempted)
    o.put("failed", failed)
    o.put("peak_rss_mb", peakRssMb)
    val c = o.putObject("checks"); checks.foreach { case (k, v) => c.put(k, v) }
    val l = o.putObject("layers"); layers.foreach { case (k, v) => l.put(k, v) }
    m.writeValueAsString(o)
  }
}
