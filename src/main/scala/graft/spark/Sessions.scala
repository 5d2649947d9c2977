package graft.spark

import org.apache.spark.sql.SparkSession

/** SparkSession factory used by the tests, the repo benchmark
  * (`perfbench/`) and the three entry mains `Bench`, `Verify` and
  * `QDump`, so the driver's correctness dump and the bench run under
  * the session config the tests pin.
  *
  * Local-mode settings tuned per the build constraints: shuffle
  * partitions sized to the core count (not the 200 default), AQE on
  * (skew-join handling for hot-domain keys), UTC session timezone for
  * oracle parity with DuckDB.
  *
  * Every session, `graft.Main`'s too, carries `FileSystemConf`: the
  * `file:` scheme maps to `InProcessLocalFileSystem`, which sets the
  * permission bits of what a write creates in-process. Hadoop's own
  * local filesystem, without the native `libhadoop`, forks a `chmod`
  * process per file, `.crc` sidecar and directory, a fixed cost under
  * every write of a continuous update.
  */
object Sessions {

  /** Hadoop settings every graft session builder applies. */
  val FileSystemConf: Map[String, Any] =
    Map("spark.hadoop.fs.file.impl" -> classOf[InProcessLocalFileSystem].getName)

  /** Cores implied by a `local[N]` master string; 4 as a fallback. */
  def coresOf(master: String): Int = {
    val m = "local\\[(\\d+)\\]".r
    master match {
      case m(n) => n.toInt
      case _    => Runtime.getRuntime.availableProcessors().min(4)
    }
  }

  /** `local[$SPARK_GRAFT_CPUS]` (4 when unset): the master of `Bench`,
    * `Verify` and `QDump`.
    */
  def localMaster: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"

  def build(master: String, appName: String = "graft"): SparkSession = {
    val cores = coresOf(master)
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      // sandbox-scale stand-in for a split-rich 100 TB layout: test
      // inputs are only 10s-100s of MB, so the 128 MB default would
      // pack the whole table into one or two scan partitions and
      // serialize every map stage; at production scale this stays at
      // the default (plentiful 128 MB splits)
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // deep-lineage plans (per-column model fits over a pivoted
      // suggestion union) can render multi-GB explain strings — the
      // default cap is ~2^31 chars, which is an OOM, not a cap. 32 MB
      // keeps any plan render bounded; execution is unaffected
      .config("spark.sql.maxPlanStringLength", (32 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config(FileSystemConf)
      .getOrCreate()
  }

  /** Stop any active session, then build a fresh one (used by the
    * repo benchmark to re-run the same job at a second parallelism
    * level within one JVM).
    */
  def rebuild(master: String, appName: String = "graft"): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    build(master, appName)
  }
}
