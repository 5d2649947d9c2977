package graft

import graft.spark.Sessions
import org.apache.spark.sql.functions.col

/** Single-query row dump (golden regeneration):
  * `runMain graft.QDump q62_meta_learner_cv` prints every row sorted;
  * `--ivf-centroids` prints the trained IVF quantizer as DuckDB VALUES
  * rows and `--pq-codebook` the flattened PQ codebook list — the per-SF
  * model literals pinned in resources/graft/goldens (q63/q66/q69). Run once per SF
  * via SPARK_GRAFT_SF_DIR, on `Sessions.build` at `local[$SPARK_GRAFT_CPUS]`.
  */
object QDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.build(Sessions.localMaster, "graft-qdump")
    spark.sparkContext.setLogLevel("WARN")
    lazy val emb = spark.read
      .parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    // java.lang.Double.toString is the shortest exact round-trip repr,
    // so the SQL literal parses back to the identical double
    def lst(xs: Array[Double]): String = xs.map(java.lang.Double.toString).mkString(", ")
    args.foreach {
      case "--ivf-centroids" =>
        graft.ann.Ann.trainCentroids(emb, nCentroids = 8).zipWithIndex.foreach { case (c, i) =>
          println(s"[qdump] centroid ($i, [${lst(c)}]),")
        }
      case "--pq-codebook" =>
        println(s"[qdump] pq-codebook [${lst(graft.ann.Ann.trainPq(emb))}]")
      case name =>
        val out = SparkEntry.queries(name)(spark, sfDir)
        val cols = out.columns.sorted
        out
          .selectExpr(cols: _*)
          .collect()
          .map(_.toSeq.map(String.valueOf).mkString("|"))
          .sorted
          .foreach(r => println(s"[qdump] $name $r"))
        out.unpersist()
    }
    spark.stop()
  }
}
