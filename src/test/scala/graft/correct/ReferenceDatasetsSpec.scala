package graft.correct

import graft.SparkSpec
import graft.sources.StringCsv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** E2E F1 parity on the reference's own benchmark datasets
  * (`/root/reference/datasets/{beers,flights,hospital}` — the §5 test
  * strategy): perfect-oracle detection, a 20-tuple labeling budget
  * drawn with the W2 Baran sampler, the deterministic ensemble
  * (fd + vicinity + pdep-vicinity + imputer + value), A13 decision,
  * user-label overlay — then cell-exact correction F1 against the
  * clean table.
  *
  * Reference figures (BASELINE.md): beers 0.959, flights 0.657,
  * hospital 0.960 — measured WITH the GPT-backed correctors. Floors
  * below pin what this engine reaches on the same data — measured
  * 2026-08-17: beers 0.544 LLM-free / 0.926 with the deterministic
  * pseudo-LLM cache (A13) / 0.999 cache+meta-learner (ABOVE the
  * reference's 0.959); flights 0.929 (ABOVE the reference's 0.657);
  * hospital 0.916. Full numbers in BASELINE.md "Reference-dataset F1
  * parity".
  */
class ReferenceDatasetsSpec extends SparkSpec {

  private val root = "/root/reference/datasets"

  /** Load a dataset as (dirty, clean, rowId, valueCols). */
  private def load(name: String, idCol: String): (DataFrame, DataFrame, Seq[String]) = {
    val clean = StringCsv.read(spark, s"$root/$name/clean.csv")
    val dirty = StringCsv.read(spark, s"$root/$name/dirty.csv")
    val cols = clean.columns.filterNot(_ == idCol).toSeq
    // the reference's dataframes hold missing values as "" — CSV rows
    // with absent trailing fields parse as null, so normalize
    def withId(df: DataFrame) =
      df.na.fill("").withColumn("row_id", col(idCol).cast("long")).drop(idCol)
    (withId(dirty), withId(clean), cols)
  }

  private def runEnsemble(
      name: String,
      idCol: String,
      budget: Int = 20,
      withCache: Boolean = false,
      metaLearner: Boolean = false
  ): Double = {
    val (dirty, clean, cols) = load(name, idCol)
    val diff = Cells.cellDiff(dirty, clean, "row_id", cols).cache()
    val detected = diff.select(col("row_id"), col("col"), col("dirty_value").as("error_value"))
    val actual = diff.select(col("row_id"), col("col"), col("clean_value"))

    // 20-tuple labeling budget, W2 Baran draw; labels = clean values
    // of every error cell in the drawn rows (the reference labels
    // whole tuples)
    val rows = Correctors.baranSample(detected, budget)
    val labels = actual.filter(col("row_id").isin(rows: _*))

    // frozen pseudo-LLM cache (M5/M6): deterministically induced from
    // the same labeled pairs + example rows the reference's prompts
    // carry — the functional stand-in for its GPT-populated sqlite
    val cache =
      if (withCache) Some(PseudoLlm.cache(dirty, "row_id", cols, detected, labels))
      else None

    val cfg =
      CleaningConfig(usePdepVicinity = true, useMetaLearner = metaLearner)
    val corrections = Cleaning.run(dirty, "row_id", cols, detected, labels, cfg, cache = cache)
    val f1 = Correctors.evaluate(corrections, actual)("ec_f")
    val tag =
      (if (withCache) "ensemble+cache" else "deterministic-ensemble") +
        (if (metaLearner) "+meta" else "")
    info(s"$name $tag F1 = $f1 (budget $budget)")
    f1
  }

  test("beers: deterministic ensemble F1 at its pinned level") {
    assert(runEnsemble("beers", "index") >= 0.50)
  }

  test("beers with the frozen pseudo-LLM cache closes the LLM-member gap") {
    // measured 0.926 (A13 decision); was 0.544 without the cache
    assert(runEnsemble("beers", "index", withCache = true) >= 0.90)
  }

  test("beers cache + meta-learner beats the reference's published 0.959") {
    // the reference's actual config: per-column meta-learner over the
    // pair features, which learns to trust the LLM member on this
    // dataset. Measured 0.999 vs the reference's 0.959.
    assert(runEnsemble("beers", "index", withCache = true, metaLearner = true) >= 0.959)
  }

  test("flights: deterministic ensemble F1 beats the reference figure") {
    assert(runEnsemble("flights", "tuple_id") >= 0.657)
  }

  test("hospital: deterministic ensemble F1 within 0.05 of the reference") {
    assert(runEnsemble("hospital", "index") >= 0.90)
  }

  test("hospital under the reference's own member set + frozen cache reaches 0.95") {
    // the reference's hospital config (global-performance.yaml
    // config_baran: feature_generators = [auto_instance, fd,
    // llm_correction, llm_master] — no vicinity members, no frequency
    // imputer). With the token-repair cache rung recovering the
    // structurally-recoverable typo cells ("619 paxienxs" ->
    // "619 patients", "95x" -> "95%"), measured 0.9528 vs the
    // reference's GPT-backed 0.960 — the residual misses are the
    // digit-damaged cells ("3x patients") no engine can recover.
    val (dirty, clean, cols) = load("hospital", "index")
    val r = EnsembleHarness.run(dirty, clean, cols, withCache = true, referenceMembers = true)
    info(f"hospital reference-members+cache F1 = ${r.f1}%.4f")
    assert(r.f1 >= 0.95)
  }
}
