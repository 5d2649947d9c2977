package graft

import graft.sources.StringCsv
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Experiment grid driver contract (reference `entrypoint.py`): a
  * config document with `config_X`/`ranges_X` pairs expands to the
  * cross product of ranges × runs, each combination runs the
  * lifecycle E2E, and one results row lands per combination.
  */
class ExperimentsSpec extends SparkSpec {
  import spark.implicits._

  test("grid expansion is the cross product of ranges plus the run index") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val doc = mapper.readTree(
      """{"runs": 2,
          "config_a": {"labeling_budget": 20, "use_value": true},
          "ranges_a": {"use_meta_learner": [false, true], "synth_tuples": [0, 10, 20]}}"""
    )
    val combos = Experiments.expand(doc)
    assert(combos.size == 2 * 3 * 2) // meta x synth x runs
    assert(combos.forall(c => c("labeling_budget").asInt == 20))
    assert(combos.map(c => (c("use_meta_learner").asBoolean, c("synth_tuples").asInt, c("run").asInt)).distinct.size == 12)
  }

  test("use_vicinity1 / use_vicinity2 map onto vicinityOrders") {
    val f = com.fasterxml.jackson.databind.node.BooleanNode.FALSE
    val t = com.fasterxml.jackson.databind.node.BooleanNode.TRUE
    assert(Experiments.cleaningConfig(Map("use_vicinity1" -> f, "use_vicinity2" -> t)).vicinityOrders == Seq(2))
    assert(Experiments.cleaningConfig(Map("use_vicinity2" -> t)).vicinityOrders == Seq(1, 2))
    assert(Experiments.cleaningConfig(Map.empty).vicinityOrders == Seq(1))
    assert(Experiments.cleaningConfig(Map("use_vicinity1" -> f)).vicinityOrders.isEmpty)
  }

  test("the grid runs E2E and appends one results row per combination") {
    val base = Files.createTempDirectory("graft_exp").toString
    // debug fixture as CSVs (the reference's datasets/debug shape)
    val cols = Seq("ID", "Tier", "Sprache", "Sagt")
    val clean = Seq(
      ("1", "1", "Hund", "Deutsch", "wau"),
      ("2", "2", "Katze", "Deutsch", "miau"),
      ("3", "3", "Kuh", "Deutsch", "muh"),
      ("4", "4", "Hund", "Deutsch", "wau"),
      ("5", "5", "Katze", "Deutsch", "miau"),
      ("6", "6", "Katze", "Deutsch", "miau")
    ).toDF("row_id" +: cols: _*)
    val dirty = clean.withColumn(
      "Sagt",
      when(col("row_id").isin("2", "4"), lit("?")).otherwise(col("Sagt"))
    )
    StringCsv.write(clean, s"$base/clean")
    StringCsv.write(dirty, s"$base/dirty")
    val cleanCsv = Files.list(Paths.get(s"$base/clean")).iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    val config =
      s"""{"runs": 1,
           "config_debug": {
             "dataset_name": "debug",
             "dirty_path": "$base/dirty",
             "clean_path": "$base/clean",
             "id_col": "row_id",
             "labeling_budget": 0
           },
           "ranges_debug": {"use_value": [false, true], "use_vicinity2": [false, true]}}"""
    Files.write(Paths.get(base, "config.json"), config.getBytes(StandardCharsets.UTF_8))

    Experiments.main(Array(s"config=$base/config.json", s"out=$base/results"))

    val results = spark.read.parquet(s"$base/results")
    assert(results.count() == 4)
    assert(results.columns.toSet == Set("dataset", "config", "ec_f", "ec_p", "ec_r", "n_errors", "seconds"))
    // the debug fixture repairs perfectly under every combination
    assert(results.filter(col("ec_f") === 1.0).count() == 4)
    assert(results.select("config").distinct().count() == 4)
  }
}
