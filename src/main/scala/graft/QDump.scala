package graft

import graft.spark.Sessions

/** Single-query row dump (golden regeneration):
  * `runMain graft.QDump q62_meta_learner_cv` prints every row sorted.
  * Run once per SF via SPARK_GRAFT_SF_DIR, on `Sessions.build` at
  * `local[$SPARK_GRAFT_CPUS]`.
  */
object QDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.build(Sessions.localMaster, "graft-qdump")
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { name =>
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
