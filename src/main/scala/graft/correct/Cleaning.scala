package graft.correct

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Feature flags of the correction lifecycle, mirroring the
  * reference's `Cleaning.__init__` knobs (`src/correction.py:60-130`):
  * which ensemble members run, the W3 dep budget, and whether the
  * decision uses the per-column meta-learner or the A13 feature-sum
  * rule (the deterministic golden path, SURVEY.md §7).
  */
case class CleaningConfig(
    useFd: Boolean = true,
    // reference `vicinity_orders` (e.g. [1], [1,2], [1,2,3]): one naive
    // vicinity member per order, each the order-n corrector; empty
    // turns the naive vicinity members off
    vicinityOrders: Seq[Int] = Seq(1),
    usePdepVicinity: Boolean = false,
    useImputer: Boolean = true,
    // M1's TRAINED form (auto_instance): per-column seeded
    // RandomForest over the error-free rows — see MlImputer
    useMlImputer: Boolean = false,
    // MlImputer model knobs (the deterministic analogue of the
    // reference's AutoGluon per-dataset auto-tuning)
    mlImputerTrees: Int = 50,
    mlImputerDepth: Int = 14,
    mlImputerSubset: String = "auto",
    // cross-row entity-match corrector — the deterministic in-table
    // share of the reference's llm_master member (Correctors.entityCorrector)
    useEntity: Boolean = false,
    entityMaxTokenDf: Int = 8,
    useValue: Boolean = true,
    nBestPdeps: Int = 3,
    useMetaLearner: Boolean = false,
    metaMinLabels: Int = 10,
    // reference steps 5+8: synthetic training cells drawn from
    // error-free rows (0 = off), accepted per column by the M9/M10
    // gates (`correction.py:474-493`, `:859-871`)
    synthTuples: Int = 0,
    synthGateThreshold: Double = 0.9,
    synthSeed: Long = 42L,
    // "GBT", "CV" (areaUnderPR), or "CV_PRECISION" (the reference's
    // exact scoring="precision") (reference CLASSIFICATION_MODEL ABC|CV,
    // `hpo.cross_validated_estimator`)
    metaClassifier: String = "GBT"
)

/** The reference's main entry point (`Cleaning.run`,
  * `src/correction.py:962-997`, lifecycle §3.1) as one orchestrated
  * Spark job graph:
  *
  *   detected errors + user labels
  *     -> value-model mining from labeled pairs (driver-side, budget-
  *        bounded — reference step 4)
  *     -> FD mining + gpdep weighting (steps 6)
  *     -> per-corrector suggestion fan-out into the long Suggestion
  *        relation (step 7)
  *     -> decision: A13 feature-sum argmax, or per-column GBT
  *        meta-learner over pivoted pair features (step 9)
  *     -> user-label overlay always wins (step 10)
  *
  * Scale shape: every corrector is a broadcast join of the error-cell
  * relation against a `groupBy().count()`-reduced model; the only
  * full-table scans are the count-model builds; the driver only ever
  * holds labeled pairs (≤ labeling budget) and FD statistics.
  */
object Cleaning {

  /** Reference step 5 (`draw_synth_error_positions`,
    * `correction.py:474-493`): pick `n` rows WITHOUT any detected
    * error and emit every cell of those rows as a synthetic error
    * cell whose truth is the row's own (trusted) value. The
    * reference uses `random.sample`; here the sample is a seeded
    * xxhash64 rank — deterministic at any parallelism (SURVEY.md §7).
    */
  def drawSynthCells(
      df: DataFrame,
      rowId: String,
      cols: Seq[String],
      detected: DataFrame,
      n: Int,
      seed: Long = 42L
  ): DataFrame = {
    val errorRows = detected.select("row_id").distinct()
    val picked = df
      .select(col(rowId).as("row_id"))
      .join(errorRows, Seq("row_id"), "left_anti")
      .orderBy(xxhash64(col("row_id"), lit(seed)), col("row_id"))
      .limit(n)
    Cells
      .melt(df, rowId, cols)
      .join(broadcast(picked), "row_id")
      .select(col("row_id"), col("col"), col("value").as("clean_value"))
  }

  /** Run the lifecycle; returns chosen corrections (row_id, col,
    * value) with user labels overlaid.
    *
    * @param df        the dirty table (rowId + string-typed cols)
    * @param detected  error cells (row_id, col, error_value)
    * @param userLabels labeled clean values (row_id, col, clean_value)
    */
  def run(
      df: DataFrame,
      rowId: String,
      cols: Seq[String],
      detected: DataFrame,
      userLabels: DataFrame,
      cfg: CleaningConfig = CleaningConfig(),
      cache: Option[DataFrame] = None
  ): DataFrame = {
    val spark = df.sparkSession

    // step 5: synthetic error cells from error-free rows. They ride
    // the SAME corrector pass as the real errors (masked like errors
    // — stricter than the reference, which lets a synthetic cell see
    // its own value in the count models), and their suggestions are
    // split off below as extra training pairs.
    // synthetic pairs feed ONLY the meta-learner; without it they
    // would still perturb the corrector count models (synth cells are
    // masked like errors) while their suggestions go unused — so an
    // A13 run must be identical with or without synthTuples
    val synthCells =
      if (cfg.synthTuples <= 0 || !cfg.useMetaLearner) None
      else Some(drawSynthCells(df, rowId, cols, detected, cfg.synthTuples, cfg.synthSeed).cache())
    val correctorErrors = synthCells match {
      case Some(sc) =>
        detected.unionByName(sc.select(col("row_id"), col("col"), col("clean_value").as("error_value")))
      case None => detected
    }

    // step 4: value models from labeled (error, correction) pairs
    val labeledPairs: Map[String, Seq[(String, String)]] =
      if (!cfg.useValue) Map.empty
      else
        detected
          .join(userLabels, Seq("row_id", "col"))
          .filter(Tokens.withinValueLength(col("error_value")))
          .select("col", "error_value", "clean_value")
          .collect()
          .map(r =>
            (r.getString(0), (Option(r.getString(1)).getOrElse(""), Option(r.getString(2)).getOrElse("")))
          )
          .groupBy(_._1)
          .map { case (c, xs) => c -> xs.map(_._2).toSeq }

    // step 6: in-engine FD mining + gpdep weights. ONE gpdep table
    // serves the fd member's mined FDs and the pdep-vicinity member's
    // dependencies: gpdep is per FD, and the fd member re-normalizes
    // over its own FDs
    val cacheSuggestions = cache.map(c => Correctors.cacheCorrector(detected, c))
    val mined: Seq[Fd] =
      if (!cfg.useFd) Nil
      else
        Pdep
          .mineFds(df, correctorErrors, rowId, cols)
          .collect()
          .map(r => Fd(Seq(r.getString(0)), r.getString(1)))
          .toSeq
    val pdepFds = if (cfg.usePdepVicinity) Correctors.pdepVicinityFds(correctorErrors, cols) else Nil
    val gp = Pdep.gpdepTable(df, correctorErrors, rowId, (mined ++ pdepFds).distinct)
    val fdMember =
      if (mined.isEmpty) None
      else Some(Correctors.fdCorrector(df, correctorErrors, rowId, Pdep.restrict(gp, mined), mined))
    val vicinityMembers = cfg.vicinityOrders.distinct.sorted.map { n =>
      Option(Correctors.vicinityCorrectorOrderN(df, correctorErrors, rowId, cols, n))
    }
    val suggestions = (((fdMember +: vicinityMembers) ++ Seq(
      if (cfg.usePdepVicinity)
        Some(Correctors.vicinityCorrectorPdep(df, correctorErrors, rowId, cols, cfg.nBestPdeps, Some(gp)))
      else None,
      if (cfg.useImputer) Some(Correctors.frequencyImputer(df, correctorErrors, rowId, cols)) else None,
      if (cfg.useMlImputer)
        Some(
          MlImputer.suggest(
            df,
            rowId,
            cols,
            correctorErrors,
            numTrees = cfg.mlImputerTrees,
            maxDepth = cfg.mlImputerDepth,
            featureSubsetStrategy = cfg.mlImputerSubset
          )
        )
      else None,
      if (cfg.useEntity)
        Some(Correctors.entityCorrector(df, correctorErrors, rowId, cols, cfg.entityMaxTokenDf))
      else None,
      if (cfg.useValue && labeledPairs.nonEmpty) Some(Correctors.valueCorrector(detected, labeledPairs))
      else None
    )).flatten ++ cacheSuggestions) match {
      case Nil => Correctors.emptySuggestions(spark)
      case xs  => xs.reduce(_ unionByName _)
    }

    // the suggestion union feeds several consumers (corrector-name
    // scan, pivot, A13) — cache it once
    suggestions.cache()

    // synthetic-cell suggestions are training data, never output
    val realSuggestions = synthCells match {
      case Some(sc) => suggestions.join(sc.select("row_id", "col"), Seq("row_id", "col"), "left_anti")
      case None     => suggestions
    }

    // step 9: decision
    val decided =
      if (!cfg.useMetaLearner) Correctors.decide(realSuggestions)
      else {
        val correctorNames =
          suggestions.select("corrector").distinct().collect().map(_.getString(0)).sorted.toSeq
        // M10 ET gate: columns where the cache corrector already hit a
        // user label exclude synthetic pairs
        val etCols = cacheSuggestions
          .map(cs => MetaLearner.etGateColumns(cs, userLabels))
          .getOrElse(Seq.empty)
        MetaLearner.trainPredict(
          MetaLearner.pairFeatures(suggestions, correctorNames),
          correctorNames,
          userLabels,
          cfg.metaMinLabels,
          synthLabeled = synthCells,
          synthGateThreshold = cfg.synthGateThreshold,
          etColumns = etCols,
          classifier = cfg.metaClassifier
        )
      }

    // step 10: user labels always win
    val out = Correctors
      .overlayUserLabels(decided, userLabels.withColumnRenamed("clean_value", "value"))
      .cache()
    out.count() // materialize so the working caches can release
    suggestions.unpersist()
    synthCells.foreach(_.unpersist())
    out
  }

  /** Convenience: run + apply back onto the wide table. */
  def repaired(
      df: DataFrame,
      rowId: String,
      cols: Seq[String],
      detected: DataFrame,
      userLabels: DataFrame,
      cfg: CleaningConfig = CleaningConfig()
  ): DataFrame =
    Cells.applyCorrections(df, run(df, rowId, cols, detected, userLabels, cfg), rowId, cols)
}
