package graft.correct

import graft.core.ValueModels
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The corrector ensemble, re-expressed as Spark jobs that each emit a
  * long-form `Suggestion(row_id, col, corrector, candidate, score)`
  * relation. The reference's per-corrector nested dicts
  * (`src/helpers.py:75-138`) are a single-machine pivot of this.
  *
  * Scale notes: every corrector is a join of the (error-fraction-sized)
  * error-cell relation against a counts model that has already been
  * reduced by `groupBy().count()` — the count models are broadcast-
  * joined, the big table is scanned once per model build, and nothing
  * ever iterates cells on the driver.
  */
object Correctors {

  /** FD corrector (reference `fd_based_corrector`, `src/pdep.py:398-447`,
    * feature = norm_gpdep): for each FD whose rhs is the error column,
    * look up the error row's lhs values in the masked conditional-count
    * model and emit every co-occurring rhs value, scored by the FD's
    * norm_gpdep; scores for the same candidate from different FDs sum
    * (A10).
    */
  def fdCorrector(
      df: DataFrame,
      errors: DataFrame,
      rowId: String,
      gpdeps: Map[String, (PdepStats, Double)],
      fds: Seq[Fd]
  ): DataFrame = {
    val spark = df.sparkSession
    val perFd: Seq[DataFrame] = fds.flatMap { fd =>
      val normGpdep = gpdeps.get(fd.key).map(_._2).getOrElse(0.0)
      val errRowIds = errors
        .filter(col("col") === fd.rhs)
        .select(col("row_id").as(rowId))
      if (fd.lhs.contains(fd.rhs)) None
      else {
        val errRows = df
          .join(errRowIds, Seq(rowId))
          .select(col(rowId).as("row_id") +: fd.lhs.map(col): _*)
        val counts = Pdep
          .fdCounts(df, errors, rowId, fd)
          .withColumnRenamed(fd.rhs, "candidate")
        val sugg = errRows
          .join(broadcast(counts.drop("lhs_cnt")), fd.lhs)
          .select(
            col("row_id"),
            lit(fd.rhs).as("col"),
            lit("fd").as("corrector"),
            col("candidate"),
            lit(normGpdep).as("score")
          )
        Some(sugg)
      }
    }
    if (perFd.isEmpty) emptySuggestions(spark)
    else
      perFd
        .reduce(_ unionByName _)
        .groupBy("row_id", "col", "corrector", "candidate")
        .agg(sum("score").as("score"))
  }

  /** Order-1 naive vicinity corrector: [[vicinityCorrectorOrderN]] at
    * n=1, one corrector name per lhs column (`vicinity_1_<lhs>`).
    */
  def vicinityCorrectorOrder1(df: DataFrame, errors: DataFrame, rowId: String, cols: Seq[String]): DataFrame =
    vicinityCorrectorOrderN(df, errors, rowId, cols, 1)

  /** The (lhs -> rhs) dependencies the pdep-ranked vicinity corrector
    * ranks: every other column against each column holding an error
    * (one small Spark job over `errors`).
    */
  def pdepVicinityFds(errors: DataFrame, cols: Seq[String]): Seq[Fd] = {
    val errorCols = errors.select("col").distinct().collect().map(_.getString(0)).toSeq.sorted
    for { rhs <- errorCols; lhs <- cols if lhs != rhs } yield Fd(Seq(lhs), rhs)
  }

  /** Pdep-ranked vicinity corrector, order 1 (reference M4,
    * `src/pdep.py:450-499`): the order-1 vicinity join, restricted to
    * the `nBest` dependencies per error column, ranked by gpdep
    * descending (W3 top-k; deterministic lhs tie-break). The emitted
    * feature is the conditional probability of the candidate (the
    * reference's default `pdep_features=['pr']`). One corrector name
    * per surviving (lhs -> rhs) dependency (`vicinity_pdep_<lhs>`).
    *
    * `gpdeps`, when given, is a gpdep table built over at least
    * [[pdepVicinityFds]] (as `Cleaning.run` shares one with the fd
    * member); its entries whose rhs holds no error match no error cell
    * and emit nothing. Without it the member builds its own.
    */
  def vicinityCorrectorPdep(
      df: DataFrame,
      errors: DataFrame,
      rowId: String,
      cols: Seq[String],
      nBest: Int = 3,
      gpdeps: Option[Map[String, (PdepStats, Double)]] = None
  ): DataFrame = {
    val gp = gpdeps.getOrElse {
      val fds = pdepVicinityFds(errors, cols)
      if (fds.isEmpty) return emptySuggestions(df.sparkSession)
      Pdep.gpdepTable(df, errors, rowId, fds)
    }
    val surviving: Set[String] = gp.toSeq
      .groupBy(_._2._1.fd.rhs)
      .flatMap { case (_, deps) =>
        deps
          .sortBy { case (key, (s, _)) => (-s.gpdep.getOrElse(Double.NegativeInfinity), key) }
          .take(nBest)
          .map(_._1)
      }
      .toSet
    vicinityScores(df, errors, rowId, cols, 1)
      .filter(concat(col("lhs_col_1"), lit("->"), col("rhs_col")).isin(surviving.toSeq: _*))
      .select(
        col("row_id"),
        col("rhs_col").as("col"),
        concat(lit("vicinity_pdep_"), col("lhs_col_1")).as("corrector"),
        col("candidate"),
        col("pr").as("score")
      )
  }

  /** A3 all-combination count model of order n (reference
    * `mine_all_counts`, `src/pdep.py:101-158`): cell-masked counts
    * keyed by an UNORDERED n-set of lhs columns plus a rhs column. One
    * melt + an (n+1)-way self-join on row_id + one hash aggregate;
    * `lhs_col_1 < … < lhs_col_n` de-duplicates combinations. Error
    * cells are excluded at cell granularity (any side), matching the
    * reference's per-cell masking. Output schema: `lhs_col_1..n,
    * rhs_col, lhs_val_1..n, candidate, cnt`.
    *
    * SCALE BOUNDARY: the self-join materializes O(rows x cols^(n+1))
    * pairs — sized for correction tables (the reference's are <= 20
    * columns x 10^4..10^6 rows), NOT for the web-page table. Wide or
    * web-scale inputs must use a projected per-FD count model
    * (`Pdep.fdCounts`) or the single-scan page model
    * (`PagePipeline.repair`). The guard makes the boundary explicit:
    * at most 64 columns at order 1, 32 at order 2, and
    * cols^(n+1) <= 64^2 beyond (8 columns at order 3).
    */
  def allCountsOrderN(df: DataFrame, errors: DataFrame, rowId: String, cols: Seq[String], order: Int): DataFrame = {
    require(order >= 1, s"order must be >= 1, got $order")
    val budget = if (order == 2) math.pow(32.0, 3.0) else math.pow(64.0, 2.0)
    require(
      math.pow(cols.size.toDouble, (order + 1).toDouble) <= budget,
      s"allCountsOrderN is O(rows*cols^${order + 1}) by design (correction-table sized); " +
        s"${cols.size} columns at order $order exceed its budget — " +
        "use Pdep.fdCounts projections or the pages single-scan model at this width"
    )
    val masked = Cells
      .melt(df, rowId, cols)
      .join(errors.select("row_id", "col"), Seq("row_id", "col"), "left_anti")
    val lhs = (1 to order)
      .map(i => masked.select(col("row_id"), col("col").as(s"lhs_col_$i"), col("value").as(s"lhs_val_$i")))
      .reduceLeft(_.join(_, "row_id"))
    val r = masked.select(col("row_id"), col("col").as("rhs_col"), col("value").as("candidate"))
    lhs
      .join(r, "row_id")
      .filter(lhsSetOf(order))
      .groupBy((countKey(order) :+ "candidate").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** An order-n row pairing counts once: lhs columns strictly ascending
    * (`lhs_col_1 < … < lhs_col_n`), none of them the rhs column.
    */
  private def lhsSetOf(order: Int): Column =
    ((2 to order).map(i => col(s"lhs_col_${i - 1}") < col(s"lhs_col_$i")) ++
      (1 to order).map(i => col("rhs_col") =!= col(s"lhs_col_$i"))).reduce(_ && _)

  /** `lhs_col_1..n, rhs_col, lhs_val_1..n`: the condition of an order-n count. */
  private def countKey(order: Int): Seq[String] =
    (1 to order).map(i => s"lhs_col_$i") ++ Seq("rhs_col") ++ (1 to order).map(i => s"lhs_val_$i")

  /** Naive vicinity corrector of order n (reference
    * `vicinity_based_corrector_order_n`, `src/pdep.py:292-321`): the
    * conditional probability of each rhs candidate given the error
    * row's values in an lhs column n-SET, from the cell-masked count
    * model [[allCountsOrderN]]. One corrector name per set
    * (`vicinity_<n>_<c1>_…_<cn>`, columns ascending).
    */
  def vicinityCorrectorOrderN(
      df: DataFrame,
      errors: DataFrame,
      rowId: String,
      cols: Seq[String],
      order: Int
  ): DataFrame = {
    vicinityScores(df, errors, rowId, cols, order)
      .select(
        col("row_id"),
        col("rhs_col").as("col"),
        concat_ws("_", lit(s"vicinity_$order") +: (1 to order).map(i => col(s"lhs_col_$i")): _*).as("corrector"),
        col("candidate"),
        col("pr").as("score")
      )
  }

  /** Error cells paired with their row's lhs n-sets — current values,
    * errors included (the reference's `ed["vicinity"]` is the raw row)
    * — joined to the broadcast count model with each candidate's
    * conditional probability `pr`. Columns: `lhs_col_1..n, rhs_col,
    * lhs_val_1..n, row_id, candidate, cnt, pr`.
    */
  private def vicinityScores(
      df: DataFrame,
      errors: DataFrame,
      rowId: String,
      cols: Seq[String],
      order: Int
  ): DataFrame = {
    val cells = Cells.melt(df, rowId, cols)
    val key = countKey(order)
    val countsPr = allCountsOrderN(df, errors, rowId, cols, order)
      .withColumn("pr", col("cnt") / sum("cnt").over(Window.partitionBy(key.map(col): _*)))
    val errLhs = (1 to order)
      .map(i => cells.toDF("row_id", s"lhs_col_$i", s"lhs_val_$i"))
      .foldLeft(errors.select(col("row_id"), col("col").as("rhs_col")))(_.join(_, "row_id"))
      .filter(lhsSetOf(order))
    errLhs.join(broadcast(countsPr), key)
  }

  /** Value corrector (reference `src/correction.py:148-219`): value
    * models mined from the labeled (error, correction) pairs on the
    * driver (bounded by the labeling budget, ~20 rows), broadcast, and
    * replayed over every error cell of the same column.
    */
  def valueCorrector(
      errors: DataFrame,
      labeledPairs: Map[String, Seq[(String, String)]] // col -> (old,new) pairs
  ): DataFrame = {
    val spark = errors.sparkSession
    import spark.implicits._
    val models: Map[String, ValueModels] =
      labeledPairs.map { case (c, pairs) => c -> ValueModels.fromPairs(pairs) }
    val bc = spark.sparkContext.broadcast(models)
    errors
      .select("row_id", "col", "error_value")
      .as[(Long, String, String)]
      .flatMap { case (rid, c, errVal) =>
        bc.value.get(c) match {
          case None => Iterator.empty
          case Some(m) =>
            for {
              (corrector, sugg) <- m.suggest(errVal).iterator
              (candidate, pr) <- sugg.iterator
            } yield Suggestion(rid, c, corrector, candidate, pr)
        }
      }
      .toDF()
  }

  /** Count-based conditional imputer — the deterministic replacement for
    * the reference's AutoGluon `auto_instance` model (SURVEY.md §2.8 M1):
    * P(candidate | no context) = global frequency of the candidate in
    * the error column among non-error cells, with the P5 filters of the
    * reference applied (score >= 0.001, candidate != error value,
    * `src/correctors.py:91-95`).
    */
  def frequencyImputer(df: DataFrame, errors: DataFrame, rowId: String, cols: Seq[String]): DataFrame = {
    val cells = Cells.melt(df, rowId, cols)
    val masked = cells.join(errors.select("row_id", "col"), Seq("row_id", "col"), "left_anti")
    val freq = masked
      .groupBy(col("col"), col("value").as("candidate"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("col")
    val pr = freq.withColumn("score", col("cnt") / sum("cnt").over(w)).drop("cnt")
    errors
      .join(broadcast(pr), Seq("col"))
      .filter(col("score") >= 0.001 && col("candidate") =!= col("error_value"))
      .select(col("row_id"), col("col"), lit("imputer").as("corrector"), col("candidate"), col("score"))
  }

  /** Frozen LLM-cache corrector (reference M5/M6: the sqlite cache of
    * pre-fetched answers, `src/helpers.py:141-313`, becomes a static
    * lookup table; no network ever). `cache` columns:
    * (row_id, col, candidate, score, corrector).
    */
  def cacheCorrector(errors: DataFrame, cache: DataFrame): DataFrame =
    errors
      .select("row_id", "col")
      .join(cache, Seq("row_id", "col"))
      .select("row_id", "col", "corrector", "candidate", "score")

  /** Cross-row entity-match corrector — the deterministic, within-table
    * share of the reference's llm_master member (`src/helpers.py:357-373`):
    * where llm_master serializes the error row and lets a GPT recall the
    * masked value (world knowledge, unreproducible offline), this
    * corrector mines what the table itself knows about the error row's
    * identity tokens. Every trusted cell tokenizes into lowercase
    * alphanumeric runs; for each (token, column) the corrector keeps the
    * conditional distribution of trusted values among rows carrying the
    * token. An error cell then scores each candidate by the sum over
    * the row's tokens of P(candidate | token), normalized per cell.
    * This one formulation covers both powers of llm_master:
    *   - duplicate records: a near-unique token (df=2..k) shared with
    *     the entity's other record yields P = 1 for that record's value;
    *   - identity prefixes: a hot token like a phone area code yields
    *     the city majority among its rows (the "310 -> los angeles"
    *     inference GPT does from world knowledge).
    *
    * Scale shape: everything reduces by key BEFORE any join — token df
    * is one hash aggregation, the conditional model is a (token, col,
    * value) count. No row-pair relation ever forms, so there is no
    * quadratic path for ANY token frequency (unlike rare-token pair
    * blocking). Guards on the model size: tokens above `maxDfFrac` of
    * rows are stopwords and dropped; a (token, col, value) entry
    * survives only with count >= 2 (a repeated, informative pairing) or
    * token df <= maxRareDf (the duplicate-record path) — this bounds
    * the per-(token, col) group for near-unique columns under hot
    * tokens; finally only the `topK` values per (token, col) join back
    * to error cells, bounding the fan-out per error token.
    */
  def entityCorrector(
      df: DataFrame,
      errors: DataFrame,
      rowId: String,
      cols: Seq[String],
      maxRareDf: Int = 8,
      minTokenLen: Int = 2,
      topK: Int = 5,
      maxDfFrac: Double = 0.5
  ): DataFrame = {
    val nRows = df.count()
    val cells = Cells.melt(df, rowId, cols)
    // error cells are untrusted: they contribute neither identity
    // tokens nor conditional evidence
    val trusted = cells
      .join(errors.select("row_id", "col"), Seq("row_id", "col"), "left_anti")
      .filter(col("value").isNotNull && col("value") =!= "")
    val rowTokens = trusted
      .select(col("row_id"), explode(split(lower(col("value")), "[^a-z0-9]+")).as("token"))
      .filter(length(col("token")) >= minTokenLen)
      .distinct()
    val dfCounts = rowTokens
      .groupBy("token")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= lit((nRows * maxDfFrac).toLong))
    val keptTokens = rowTokens.join(dfCounts, "token")
    // conditional model: P(value | token) per column, over trusted cells
    val pairs = keptTokens
      .join(trusted.withColumnRenamed("value", "candidate"), "row_id")
      .groupBy("token", "df", "col", "candidate")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2 || col("df") <= maxRareDf)
    val wTokCol = Window.partitionBy("token", "col")
    val wTokColRank = wTokCol.orderBy(col("cnt").desc, col("candidate").asc)
    // per-token pr is rounded into a decimal before the sums so every
    // aggregate is order-free — bit-identical across partitionings and
    // engines (the q59 oracle recomputes the same algorithm in DuckDB)
    val model = pairs
      .withColumn("tot", sum("cnt").over(wTokCol))
      .withColumn("rk", row_number().over(wTokColRank))
      .filter(col("rk") <= topK)
      .select(
        col("token"),
        col("col"),
        col("candidate"),
        round(col("cnt") / col("tot"), 9).cast("decimal(28,9)").as("pr")
      )
    val errTokens = errors
      .select(col("row_id"), col("col"))
      .join(rowTokens, "row_id")
    val summed = errTokens
      .join(model, Seq("token", "col"))
      .groupBy("row_id", "col", "candidate")
      .agg(sum("pr").as("s"))
    val wCell = Window.partitionBy("row_id", "col")
    summed
      .withColumn("score", col("s").cast("double") / sum("s").over(wCell).cast("double"))
      .select(
        col("row_id"),
        col("col"),
        lit("entity").as("corrector"),
        col("candidate"),
        col("score")
      )
  }

  def emptySuggestions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[Suggestion].toDF()
  }

  /** A13 decision rule (reference fallback `src/correction.py:903-910`
    * + tie-break `src/ml_helpers.py:63-74`, standardized per SURVEY.md
    * §7): per cell, pick the candidate maximizing the sum of corrector
    * scores; ties break lexicographically on the candidate.
    */
  def decide(suggestions: DataFrame): DataFrame =
    decideBy(suggestions, Seq("row_id", "col"))
      .select(col("row_id"), col("col"), col("candidate").as("value"))

  /** A13 generalized over arbitrary key columns. When every cell with
    * the same lhs value receives identical suggestions (single-FD
    * correction), deciding once per lhs value and broadcast-joining
    * back is equivalent and avoids the per-cell window.
    */
  def decideBy(suggestions: DataFrame, keys: Seq[String]): DataFrame = {
    val summed = suggestions
      .groupBy((keys :+ "candidate").map(col): _*)
      .agg(sum("score").as("feature_sum"))
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("feature_sum").desc, col("candidate").asc)
    summed
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "feature_sum")
  }

  /** W1 greedy labeling sample (reference `src/correction.py:295-301`):
    * rows ranked by detected-error count descending, deterministic
    * ascending row_id tie-break (the reference shuffles to break index
    * order; a keyed tie-break is the reproducible analog), take the
    * labeling budget k. Returns (row_id, err_cnt).
    */
  def greedySample(errors: DataFrame, k: Int): DataFrame =
    errors
      .groupBy("row_id")
      .agg(count(lit(1)).as("err_cnt"))
      .orderBy(col("err_cnt").desc, col("row_id").asc)
      .limit(k)

  /** W2 Baran-style labeling sample (reference
    * `src/correction.py:303-346`): iterative draw where each remaining
    * row scores the product over its error cells of
    * exp(freq(value in its column among remaining error cells) /
    * n_remaining_cells); the argmax row (ties: smaller row_id) is
    * drawn and its cells leave the pool. The loop is inherently
    * sequential and k is the labeling budget (~20), so the draw runs
    * on the driver over a capped candidate set: the `candidateCap`
    * rows with the most errors (W1 order) — error cells outside the
    * cap can never beat cap members under this monotone score.
    */
  def baranSample(errors: DataFrame, k: Int, candidateCap: Int = 10000): Seq[Long] = {
    val top = greedySample(errors, candidateCap).select("row_id")
    val cells = errors
      .join(top, "row_id")
      .select("row_id", "col", "error_value")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)).getOrElse("")))
    val byRow = cells.groupBy(_._1)
    val freq = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    cells.foreach { case (_, c, v) => freq((c, v)) += 1 }
    var remainingCells = cells.length.toLong
    val remainingRows = scala.collection.mutable.SortedSet(byRow.keys.toSeq: _*)
    val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (picked.length < k && remainingRows.nonEmpty) {
      var bestRow = -1L
      var bestScore = Double.NegativeInfinity
      for (r <- remainingRows) {
        // log-space product: sum of freq/remaining over the row's cells
        val s = byRow(r).iterator.map { case (_, c, v) => freq((c, v)).toDouble / remainingCells }.sum
        if (s > bestScore || (s == bestScore && r < bestRow)) { bestScore = s; bestRow = r }
      }
      picked += bestRow
      remainingRows -= bestRow
      byRow(bestRow).foreach { case (_, c, v) => freq((c, v)) -= 1; remainingCells -= 1 }
      if (remainingCells == 0) remainingCells = 1
    }
    picked.toSeq
  }

  /** User-label overlay: labeled corrections always win
    * (`clean_with_user_input`, `src/correction.py:940-951`).
    */
  def overlayUserLabels(decided: DataFrame, userLabels: DataFrame): DataFrame = {
    val u = userLabels.select(col("row_id"), col("col"), col("value").as("user_value"))
    decided
      .join(u, Seq("row_id", "col"), "full_outer")
      .select(col("row_id"), col("col"), coalesce(col("user_value"), col("value")).as("value"))
  }

  /** Cell-exact evaluation as a one-row DataFrame (reference
    * `src/dataset.py:249-272`): the raw TP/size counters and the
    * detection & correction P/R/F1, rounded to 6 digits (see
    * [[evaluation]]).
    */
  def evaluateDF(corrections: DataFrame, actualErrors: DataFrame): DataFrame =
    evaluation(corrections, actualErrors).select(
      Seq("output_size", "n_actual", "ed_tp", "ec_tp").map(col) ++ Ratios.map(r => round(col(r), 6).as(r)): _*
    )

  /** Cell-exact evaluation (reference `src/dataset.py:249-272`): the
    * six unrounded detection & correction P/R/F1 ratios of
    * [[evaluation]], read with one action.
    */
  def evaluate(corrections: DataFrame, actualErrors: DataFrame): Map[String, Double] = {
    val row = evaluation(corrections, actualErrors).select(Ratios.map(col): _*).head()
    Ratios.zipWithIndex.map { case (r, i) => r -> row.getDouble(i) }.toMap
  }

  private val Ratios = Seq("ed_p", "ed_r", "ed_f", "ec_p", "ec_r", "ec_f")

  /** One left join of the emitted corrections against the actual-error
    * cells, reduced by a single aggregate to the counters (output
    * size, actual errors, detection and correction TPs, each 0 on an
    * empty side) and the six unrounded ratios. Fully declarative: no
    * driver loop over the (error-fraction-sized) join.
    */
  private def evaluation(corrections: DataFrame, actualErrors: DataFrame): DataFrame = {
    val a = actualErrors.select(col("row_id"), col("col"), col("clean_value"))
    val c = corrections.select(col("row_id"), col("col"), col("value"))
    val nActual = actualErrors.select(count(lit(1)).as("n_actual"))
    val agg = c
      .join(a, Seq("row_id", "col"), "left")
      .agg(
        count(lit(1)).as("output_size"),
        coalesce(sum(when(col("clean_value").isNotNull, 1L)), lit(0L)).as("ed_tp"),
        coalesce(sum(when(col("clean_value") === col("value"), 1L)), lit(0L)).as("ec_tp")
      )
    def prf(tp: Column, prefix: String): Seq[Column] = {
      val p = when(col("output_size") === 0, 0.0).otherwise(tp / col("output_size"))
      val r = when(col("n_actual") === 0, 0.0).otherwise(tp / col("n_actual"))
      val f = when(p + r === 0.0, 0.0).otherwise(lit(2.0) * p * r / (p + r))
      Seq(p.as(s"${prefix}_p"), r.as(s"${prefix}_r"), f.as(s"${prefix}_f"))
    }
    agg
      .crossJoin(nActual)
      .select(
        col("output_size") +: col("n_actual") +: col("ed_tp") +: col("ec_tp") +:
          (prf(col("ed_tp"), "ed") ++ prf(col("ec_tp"), "ec")): _*
      )
  }
}
