package graft.spark

import org.apache.spark.sql.DataFrame

/** Partition-count guard for CPU-heavy per-row passes (MinHash
  * signatures, shingle fan-outs): a small parquet input often arrives
  * as ONE scan partition, which serializes the whole pass onto a
  * single core. Spreading to the default parallelism costs one tiny
  * shuffle of the (small) input; at real scale inputs
  * already carry at least that many partitions and this is a no-op —
  * it never repartitions an input that is already parallel.
  */
object Spread {

  def cpu(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
