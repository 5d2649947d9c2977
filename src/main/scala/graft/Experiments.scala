package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import graft.correct._
import graft.sources.StringCsv
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Experiment grid driver (reference `src/entrypoint.py:66-140`
  * recast): a config document holds pairs of `config_<name>` (static
  * parameters) and `ranges_<name>` (parameter -> list of values);
  * every experiment expands to the cross product of its ranges (plus
  * a `run` repetition index), merged over the static config — the
  * reference's `combine_configs` exactly. Each combination runs the
  * cleaning lifecycle end-to-end and appends one row to a results
  * table.
  *
  * Recast notes: JSON instead of YAML (no YAML parser among the
  * sanctioned deps; the structure is identical), and results go to a
  * parquet table instead of per-job JSON files — the experiment
  * "cluster" is the Spark scheduler itself, so one spark-submit runs
  * the whole grid:
  *
  *   spark-submit --class graft.Experiments <jar> config=<json> out=<dir>
  *
  * Config keys per combination (all optional unless marked):
  *   dirty_path*, clean_path*, id_col*, dataset_name,
  *   labeling_budget (default 20), label_noise_pct (default 0),
  *   use_fd / use_vicinity1 / use_vicinity2 / use_pdep_vicinity /
  *   use_imputer / use_value (booleans), n_best_pdeps,
  *   use_meta_learner, synth_tuples, classification_model (GBT|CV).
  */
object Experiments {

  private val mapper = new ObjectMapper()

  /** The reference's `combine_configs`: cross product of ranges
    * (+ run index), merged over the static config. Values are raw
    * JsonNodes so booleans/ints/strings survive untyped.
    */
  def combineConfigs(ranges: JsonNode, config: JsonNode, runs: Int): Seq[Map[String, JsonNode]] = {
    val static = config.properties().asScala.map(e => e.getKey -> e.getValue).toMap
    val rangeKeys = ranges.fieldNames().asScala.toSeq
    val rangeVals: Seq[Seq[JsonNode]] =
      rangeKeys.map(k => ranges.get(k).elements().asScala.toSeq) :+
        (0 until runs).map(i => mapper.getNodeFactory.numberNode(i): JsonNode)
    val keys = rangeKeys :+ "run"
    rangeVals
      .foldLeft(Seq(Seq.empty[JsonNode]))((acc, vs) => acc.flatMap(prefix => vs.map(prefix :+ _)))
      .map(combo => static ++ keys.zip(combo).toMap)
  }

  /** Expand every `config_X`/`ranges_X` experiment pair in the
    * document (reference `extract_experiments` + `load_dedicated_
    * experiments`).
    */
  def expand(doc: JsonNode): Seq[Map[String, JsonNode]] = {
    val runs = if (doc.has("runs")) doc.get("runs").asInt() else 1
    val names = doc.fieldNames().asScala.filter(_.startsWith("ranges_")).map(_.stripPrefix("ranges_")).toSeq
    names.flatMap { n =>
      require(doc.has(s"config_$n"), s"range ranges_$n has no config_$n")
      combineConfigs(doc.get(s"ranges_$n"), doc.get(s"config_$n"), runs)
    }
  }

  private def b(c: Map[String, JsonNode], k: String, dflt: Boolean) = c.get(k).map(_.asBoolean).getOrElse(dflt)
  private def i(c: Map[String, JsonNode], k: String, dflt: Int) = c.get(k).map(_.asInt).getOrElse(dflt)
  private def s(c: Map[String, JsonNode], k: String): String = c(k).asText()

  /** Run one combination; returns (f1, precision, recall, nErrors). */
  def runOne(spark: SparkSession, c: Map[String, JsonNode]): (Double, Double, Double, Long) = {
    val idCol = s(c, "id_col")
    def load(p: String): DataFrame = {
      val withId = StringCsv.read(spark, p).na.fill("").withColumn("row_id", col(idCol).cast("long"))
      if (idCol == "row_id") withId else withId.drop(idCol)
    }
    val dirty = load(s(c, "dirty_path"))
    val clean = load(s(c, "clean_path"))
    val cols = clean.columns.filterNot(_ == "row_id").toSeq

    val diff = Cells.cellDiff(dirty, clean, "row_id", cols).cache()
    val detected = diff.select(col("row_id"), col("col"), col("dirty_value").as("error_value"))
    val actual = diff.select(col("row_id"), col("col"), col("clean_value"))

    val budget = i(c, "labeling_budget", 20)
    val rows = if (budget <= 0) Seq.empty else Correctors.baranSample(detected, budget)
    val noise = c.get("label_noise_pct").map(_.asDouble).getOrElse(0.0)
    val labels =
      if (rows.isEmpty) actual.filter(lit(false))
      else if (noise <= 0) actual.filter(col("row_id").isin(rows: _*))
      else
        Labeling
          .labelWithGroundTruth(clean, "row_id", cols, rows, noise)
          .join(detected.select("row_id", "col"), Seq("row_id", "col"), "left_semi")

    val cfg = CleaningConfig(
      useFd = b(c, "use_fd", true),
      useVicinity1 = b(c, "use_vicinity1", true),
      useVicinity2 = b(c, "use_vicinity2", false),
      usePdepVicinity = b(c, "use_pdep_vicinity", false),
      useImputer = b(c, "use_imputer", true),
      useValue = b(c, "use_value", true),
      nBestPdeps = i(c, "n_best_pdeps", 3),
      useMetaLearner = b(c, "use_meta_learner", false),
      synthTuples = i(c, "synth_tuples", 0),
      metaClassifier = c.get("classification_model").map(_.asText).getOrElse("GBT")
    )
    val corrections = Cleaning.run(dirty, "row_id", cols, detected, labels, cfg)
    val m = Correctors.evaluate(corrections, actual)
    val n = detected.count()
    diff.unpersist()
    // the run's result cache must not accumulate across a grid sweep
    corrections.unpersist()
    (m("ec_f"), m("ec_p"), m("ec_r"), n)
  }

  def main(args: Array[String]): Unit = {
    val kv = Main.keyValues(args)
    val spark = SparkSession.getActiveSession.getOrElse(
      graft.spark.Sessions.build(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"), "graft-experiments")
    )
    val doc = mapper.readTree(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(kv("config"))))
    val combos = expand(doc)

    import spark.implicits._
    val results = combos.map { c =>
      val t0 = System.nanoTime()
      val (f1, p, r, n) = runOne(spark, c)
      val sec = (System.nanoTime() - t0) / 1e9
      (
        c.get("dataset_name").map(_.asText).getOrElse(s(c, "dirty_path")),
        c.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v.asText}" }.mkString(";"),
        f1, p, r, n, sec
      )
    }
    val out = results.toDF("dataset", "config", "ec_f", "ec_p", "ec_r", "n_errors", "seconds")
    out.write.mode("append").parquet(kv("out"))
    println(s"""{"experiments":${combos.size},"out":"${kv("out")}"}""")
  }
}
