package graft.correct

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared E2E cleaning harness for the reference-dataset parity specs:
  * perfect-oracle OR externally-supplied (raha) detection, a 20-tuple
  * W2 Baran labeling budget, the deterministic ensemble with the
  * frozen pseudo-LLM cache, A13 or per-column meta-learner decision,
  * user overlay, cell-exact F1 against the clean table — the
  * reference's `run_mirmir` protocol (`src/entrypoint.py:14-63`).
  */
object EnsembleHarness {

  final case class Result(f1: Double, precision: Double, recall: Double)

  /** Run the ensemble on pre-loaded all-string frames sharing a
    * `row_id` key. `detectedOverride` supplies an imperfect detector
    * mask; None means perfect detection (the cell diff itself).
    * Labels cover the DETECTED cells of the sampled rows with their
    * ground-truth values — for a false-positive detection the "clean"
    * value equals the dirty one, exactly what a user label would say.
    */
  /** `referenceMembers = true` runs the reference's config_renuver /
    * config_openml feature-generator set EXACTLY ([auto_instance, fd,
    * llm_correction, llm_master] — no vicinity members, no frequency
    * imputer, `global-performance.yaml:100-104`); false adds the Baran
    * vicinity/imputer/value members on top (the reference's
    * config_baran lineage). The specs pin the per-dataset best of the
    * two × the decision rule — the same per-dataset selection the
    * reference runs through `hpo.py`.
    */
  def run(
      dirty: DataFrame,
      clean: DataFrame,
      cols: Seq[String],
      budget: Int = 20,
      withCache: Boolean = true,
      metaLearner: Boolean = false,
      detectedOverride: Option[DataFrame] = None,
      referenceMembers: Boolean = false
  ): Result = {
    val diff = Cells.cellDiff(dirty, clean, "row_id", cols).cache()
    val actual = diff.select(col("row_id"), col("col"), col("clean_value"))
    val detected = detectedOverride.getOrElse(
      diff.select(col("row_id"), col("col"), col("dirty_value").as("error_value"))
    )

    val rows = Correctors.baranSample(detected, budget)
    val labels = detected
      .filter(col("row_id").isin(rows: _*))
      .join(
        Cells.melt(clean, "row_id", cols).withColumnRenamed("value", "clean_value"),
        Seq("row_id", "col")
      )
      .select("row_id", "col", "clean_value")

    val cache =
      if (withCache) Some(PseudoLlm.cache(dirty, "row_id", cols, detected, labels))
      else None
    // matches the reference's global config (feature_generators =
    // auto_instance + fd + llm members): the trained imputer runs
    // alongside the deterministic members
    val cfg =
      if (referenceMembers)
        CleaningConfig(
          vicinityOrders = Seq.empty,
          usePdepVicinity = false,
          useImputer = false,
          useMlImputer = true,
          // deterministic llm_master analog: cross-row entity/token
          // conditionals
          useEntity = true,
          useMetaLearner = metaLearner
        )
      else
        CleaningConfig(
          usePdepVicinity = true,
          useMetaLearner = metaLearner,
          useMlImputer = true,
          useEntity = true
        )
    val corrections = Cleaning.run(dirty, "row_id", cols, detected, labels, cfg, cache = cache)
    val m = Correctors.evaluate(corrections, actual)
    diff.unpersist()
    cache.foreach(_.unpersist())
    corrections.unpersist()
    Result(m("ec_f"), m("ec_p"), m("ec_r"))
  }
}
