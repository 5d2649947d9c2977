package graft.correct

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic frozen-LLM-cache builder (SURVEY.md §2.8 M5/M6).
  *
  * The reference's LLM ensemble members answer every error cell from a
  * sqlite cache keyed by cell (`src/helpers.py:152-213`); the cached
  * answers were produced once by an LLM from two prompt families:
  *
  *   - llm_correction (`src/helpers.py:341-356`): up to 10 labeled
  *     (error, correction) pairs of the SAME column, then the error
  *     value — the model induces the column's transformation pattern
  *     and replays it;
  *   - llm_master (`src/helpers.py:358-373`): 5 serialized example
  *     rows from the user-corrected error-free subset, then the error
  *     row with an `<Error>` mask — the model fills the masked value
  *     from row context;
  *
  * parsed by `llm_response_to_corrections` (`src/helpers.py:316-321`)
  * into `{answer: exp(sum token_logprobs)}`, `<MV>` decoding to the
  * empty string and `<NULL>` to no suggestion.
  *
  * This object populates the same cache relation DETERMINISTICALLY
  * from exactly the information those prompts carry — nothing else,
  * and no network:
  *
  *   - llm_correction becomes per-column PROGRAM INDUCTION over the
  *     labeled pairs: a FlashFill-style rule ladder (strip constant
  *     suffix/prefix, drop the trailing token, normalize the leading
  *     number, whole-value map) scored by how many labeled pairs the
  *     program reproduces; the winning program compiles to a pure
  *     Catalyst expression applied to every non-empty error value of
  *     the column (the reference skips '' errors the same way,
  *     `src/correction.py:612-613`).
  *   - llm_master becomes SHAPE-GUIDED TOKEN FILL: the example rows
  *     give each column a majority character-shape; an error cell is
  *     answered when exactly one whitespace token elsewhere in its own
  *     (dirty) row carries that shape. Scope is restricted to cells
  *     whose error value is empty — the genuinely-missing case where
  *     row context is the only signal; transformation cells are
  *     llm_correction's job.
  *
  * The induced confidence (fraction of labeled pairs reproduced /
  * majority-shape frequency) stands in for `exp(sum token_logprobs)`.
  *
  * Scale shape: induction sees only the labeled pairs (≤ labeling
  * budget × columns — driver-side by construction, like the
  * reference's prompt assembly); application is pure Catalyst over the
  * error-cell relation. llm_master's example table is ≤ `maxExamples`
  * rows (broadcast), and the token fan-out is |empty-error cells| ×
  * row width — proportional to errors, never to the table.
  */
object PseudoLlm {

  /** One induced string-transformation program: `apply` is the Scala
    * twin used to score induction consistency on the driver, `expr`
    * the Catalyst compilation applied to the error-cell relation.
    * Both must agree (PseudoLlmSpec pins parity).
    */
  sealed trait Program {
    def apply(s: String): Option[String]
    def expr(c: Column): Column
  }

  /** error = correction + s for every labeled pair. */
  final case class StripSuffix(s: String) extends Program {
    def apply(v: String): Option[String] =
      if (v.endsWith(s) && v.length > 0) Some(v.dropRight(s.length)) else None
    def expr(c: Column): Column =
      when(c.endsWith(s), c.substr(lit(1), length(c) - s.length))
  }

  /** error = s + correction for every labeled pair. */
  final case class StripPrefix(s: String) extends Program {
    def apply(v: String): Option[String] =
      if (v.startsWith(s) && v.length > 0) Some(v.drop(s.length)) else None
    def expr(c: Column): Column =
      when(c.startsWith(s), c.substr(lit(1 + s.length), length(c)))
  }

  /** correction = error minus its trailing whitespace-separated token
    * (the "city NC" -> "city" family).
    */
  case object DropLastToken extends Program {
    private val re = "\\s+\\S+$"
    def apply(v: String): Option[String] = {
      val out = v.replaceAll(re, "")
      if (out != v && out.nonEmpty) Some(out) else None
    }
    def expr(c: Column): Column = {
      val out = regexp_replace(c, re, "")
      when(out =!= c && out =!= "", out)
    }
  }

  private def stripZerosScala(n: String): String =
    if (n.contains('.')) n.replaceAll("0+$", "").replaceAll("\\.$", "") else n

  private def stripZerosExpr(n: Column): Column =
    when(n.contains("."), regexp_replace(regexp_replace(n, "0+$", ""), "\\.$", "")).otherwise(n)

  private val LeadingNumber = "^([0-9]+(\\.[0-9]+)?)"

  private def leadingNumber(v: String): Option[String] = {
    val m = java.util.regex.Pattern.compile(LeadingNumber).matcher(v)
    if (m.find() && m.group(1).nonEmpty) Some(m.group(1)) else None
  }

  /** correction = the error's leading decimal number with trailing
    * fractional zeros (and a bare trailing dot) dropped — the
    * "12.0 oz" -> "12", "8.4 ounce" -> "8.4" family.
    */
  case object NumericNormalize extends Program {
    def apply(v: String): Option[String] = leadingNumber(v).map(stripZerosScala)
    def expr(c: Column): Column = {
      val n = regexp_extract(c, LeadingNumber, 1)
      when(n =!= "", stripZerosExpr(n))
    }
  }

  /** correction = the error's leading decimal number rounded
    * (HALF_UP) to `k` decimals, zeros stripped — the float-repr-noise
    * family ("0.052000000000000005%" -> "0.052"); `k` is induced as
    * the max decimal places over the numeric labeled corrections, the
    * way an LLM mimics its examples' output precision. Values with
    * > 20 integer digits fall through (the Catalyst twin computes in
    * decimal(38,18); parity demands the same refusal).
    */
  final case class RoundToDecimals(k: Int) extends Program {
    def apply(v: String): Option[String] =
      leadingNumber(v).filter(n => n.takeWhile(_ != '.').length <= 20).map { n =>
        val bd = new java.math.BigDecimal(n)
          .setScale(18, java.math.RoundingMode.HALF_UP)
          .setScale(k, java.math.RoundingMode.HALF_UP)
        stripZerosScala(bd.toPlainString)
      }
    def expr(c: Column): Column = {
      val n = regexp_extract(c, LeadingNumber, 1)
      val ok = n =!= "" && length(regexp_extract(n, "^([0-9]+)", 1)) <= 20
      val rounded = round(n.cast(org.apache.spark.sql.types.DecimalType(38, 18)), k).cast("string")
      when(ok, stripZerosExpr(rounded))
    }
  }

  /** correction = the error's leading decimal number formatted to
    * EXACTLY `k` decimals (HALF_UP, trailing zeros kept) — the
    * decimal-padding family ("1.5175" -> "1.51750"); induced when
    * every numeric labeled correction shares the same scale `k`, the
    * way an LLM mimics a uniform fixed-point output format.
    */
  final case class FormatDecimals(k: Int) extends Program {
    def apply(v: String): Option[String] =
      leadingNumber(v).filter(n => n.takeWhile(_ != '.').length <= 20).map { n =>
        new java.math.BigDecimal(n).setScale(k, java.math.RoundingMode.HALF_UP).toPlainString
      }
    def expr(c: Column): Column = {
      val n = regexp_extract(c, LeadingNumber, 1)
      val ok = n =!= "" && length(regexp_extract(n, "^([0-9]+)", 1)) <= 20
      // decimal cast rounds HALF_UP and keeps trailing zeros on the
      // way back to string — parity with setScale above
      when(ok, n.cast(org.apache.spark.sql.types.DecimalType(38, k)).cast("string"))
    }
  }

  /** correction = error with every non-ASCII character deleted — the
    * mojibake-scrub family ("G?riatrie" with combining marks ->
    * "Griatrie"). Answers only when it changes the value.
    */
  case object StripNonAscii extends Program {
    private val re = "[^\\x00-\\x7F]"
    def apply(v: String): Option[String] = {
      val out = v.replaceAll(re, "")
      if (out != v) Some(out) else None
    }
    def expr(c: Column): Column = {
      val out = regexp_replace(c, re, "")
      when(out =!= c, out)
    }
  }

  /** correction = the error's `sep`-separated tokens permuted and
    * reformatted: output slot j takes input slot `outMap(j)._1` under
    * format `outMap(j)._2` (0 = as-is, 1 = left-pad to 2 with '0',
    * 2 = strip leading zeros). Induced from labeled pairs where the
    * same (slot source, format) reproduces every pair — the
    * rotated-date family ("4/2/15" -> "2/15/04" = slot1 as-is,
    * slot2 unpadded, slot0 padded) and the swapped-token family
    * ("Mar-22" -> "22-Mar").
    */
  private def fmtToken(s: String, f: Int): String = f match {
    case 1 => if (s.length < 2) "0" + s else s
    case 2 => s.replaceFirst("^0+(.)", "$1")
    case _ => s
  }

  final case class TokenPermute(sep: String, n: Int, outMap: Seq[(Int, Int)]) extends Program {
    def apply(v: String): Option[String] = {
      val parts = v.split(java.util.regex.Pattern.quote(sep), -1)
      if (parts.length != n) None
      else Some(outMap.map { case (i, f) => fmtToken(parts(i), f) }.mkString(sep))
    }
    def expr(c: Column): Column = {
      val parts = split(c, java.util.regex.Pattern.quote(sep), -1)
      def slot(i: Int, f: Int): Column = {
        val x = element_at(parts, i + 1)
        f match {
          case 1 => when(length(x) < 2, concat(lit("0"), x)).otherwise(x)
          case 2 => regexp_replace(x, "^0+(.)", "$1")
          case _ => x
        }
      }
      val out = concat_ws(sep, outMap.map { case (i, f) => slot(i, f) }: _*)
      when(size(parts) === n, out)
    }
  }

  /** Induce TokenPermute programs for one separator: take the most
    * common (error parts, correction parts) shape with >= 2 input
    * tokens, then for every output slot find the first input slot and
    * format that reproduce ALL shape-conforming pairs.
    */
  private[correct] def inducePermute(pairs: Seq[(String, String)], sep: String): Option[TokenPermute] = {
    val q = java.util.regex.Pattern.quote(sep)
    val split2 = pairs.map { case (e, c) => (e.split(q, -1).toSeq, c.split(q, -1).toSeq) }
    val shapes = split2.map { case (e, c) => (e.length, c.length) }.filter(_._1 >= 2)
    if (shapes.isEmpty) return None
    val (n, m) = shapes.groupBy(identity).view.mapValues(_.length).toSeq.maxBy { case (s, cnt) => (cnt, s) }._1
    val conforming = split2.filter { case (e, c) => e.length == n && c.length == m }
    val outMap = (0 until m).map { j =>
      (for {
        i <- (0 until n).iterator
        f <- Iterator(0, 1, 2)
        if conforming.forall { case (e, c) => fmtToken(e(i), f) == c(j) }
      } yield (i, f)).nextOption()
    }
    if (outMap.exists(_.isEmpty)) None else Some(TokenPermute(sep, n, outMap.map(_.get)))
  }

  /** Fallback: replay exact labeled errors (the LLM always reproduces
    * an example it was shown verbatim).
    */
  final case class WholeValueMap(m: Map[String, String]) extends Program {
    def apply(v: String): Option[String] = m.get(v)
    def expr(c: Column): Column =
      m.toSeq.sortBy(_._1).foldLeft(lit(null).cast("string")) { case (acc, (k, v)) =>
        when(c === k, lit(v)).otherwise(acc)
      }
  }

  /** Induce programs for one column's labeled pairs: the rule ladder
    * above, scored by the fraction of pairs reproduced, kept when the
    * ratio reaches `minRatio`, and ordered by (ratio desc, ladder).
    * The ladder puts the semantic normalizer before the constant
    * suffix/prefix strippers ON PURPOSE: when both explain every
    * labeled pair (beers' "0.045%" -> "0.045"), the general program is
    * what the LLM induces — a constant stripper silently emits
    * "0.070" where the answer is "0.07" and covers none of the unit
    * variants the labels didn't sample ("16.0 ounce" vs ".0 oz").
    */
  def induceAll(pairs: Seq[(String, String)], minRatio: Double = 0.5): Seq[(Program, Double)] = {
    val usable = pairs.filter(_._1.nonEmpty).distinct
    if (usable.isEmpty) return Nil
    val suffixes = usable.collect {
      case (e, c) if e.startsWith(c) && e.length > c.length => e.substring(c.length)
    }.distinct.sorted
    val prefixes = usable.collect {
      case (e, c) if e.endsWith(c) && e.length > c.length => e.substring(0, e.length - c.length)
    }.distinct.sorted
    // rounding precision mimicked from the numeric corrections, like
    // the LLM mimics its examples' output format. A precise decimal
    // format (k >= 2, beers' "0.045") indicates fixed precision, so
    // rounding outranks plain normalization on ties — that is what
    // repairs float-repr noise ("0.052000000000000005%" -> "0.052")
    // the clean labeled sample never showed. Integer/one-decimal
    // corrections carry no such signal; there plain normalization
    // ranks first and rounding only catches its fall-through.
    val numericCorrections = usable.map(_._2).filter(_.matches("[0-9]+(\\.[0-9]+)?"))
    val roundProgram = numericCorrections match {
      case Nil => Nil
      case cs  => Seq(RoundToDecimals(cs.map(c => c.dropWhile(_ != '.').drop(1).length).max))
    }
    val numericLadder =
      if (roundProgram.exists { case RoundToDecimals(k) => k >= 2; case _ => false })
        roundProgram ++ Seq(NumericNormalize)
      else Seq(NumericNormalize) ++ roundProgram
    // uniform correction scale (all numeric corrections share k >= 1
    // decimals) indicates a FIXED-POINT output format: formatting
    // (zeros kept) outranks the zero-stripping programs on ties
    val scales = numericCorrections.map(c => c.dropWhile(_ != '.').drop(1).length)
    val formatProgram =
      if (scales.nonEmpty && scales.distinct.size == 1 && scales.head >= 1)
        Seq(FormatDecimals(scales.head))
      else Nil
    val permutes = Seq("/", "-", " ").flatMap(sep => inducePermute(usable, sep))
    val ladder: Seq[Program] =
      formatProgram ++ numericLadder ++ permutes ++
        suffixes.map(StripSuffix) ++ prefixes.map(StripPrefix) ++
        Seq(DropLastToken, StripNonAscii, WholeValueMap(usable.toMap))
    val scored = ladder.zipWithIndex.map { case (p, i) =>
      (p, usable.count { case (e, c) => p(e).contains(c) }.toDouble / usable.size, i)
    }
    scored
      .filter(_._2 >= math.max(minRatio, 1e-9))
      .sortBy { case (_, ratio, i) => (-ratio, i) }
      .map { case (p, ratio, _) => (p, ratio) }
  }

  /** The single best induced program (head of `induceAll`). */
  def induce(pairs: Seq[(String, String)]): Option[(Program, Double)] =
    induceAll(pairs).headOption

  /** Labeled (error, correction) pairs per column, exactly as the
    * reference assembles them (`src/correction.py:592-608`): a cell
    * contributes iff it is both detected and labeled and its error
    * value is non-empty.
    */
  def labeledPairsByColumn(
      detected: DataFrame,
      userLabels: DataFrame,
      includeEmpty: Boolean = false
  ): Map[String, Seq[(String, String)]] =
    detected
      .join(userLabels, Seq("row_id", "col"))
      .select("col", "error_value", "clean_value")
      .collect()
      .map(r =>
        (r.getString(0), (Option(r.getString(1)).getOrElse(""), Option(r.getString(2)).getOrElse("")))
      )
      .filter(includeEmpty || _._2._1.nonEmpty)
      .groupBy(_._1)
      .map { case (c, xs) => c -> xs.map(_._2).toSeq.sortBy(p => (p._1, p._2)) }

  /** The llm_correction member of the frozen cache: per-column induced
    * programs replayed over every non-empty error value. Returns the
    * cache relation (row_id, col, corrector, candidate, score).
    */
  def llmCorrectionCache(
      detected: DataFrame,
      userLabels: DataFrame,
      skipColumns: Set[String] = Set.empty
  ): DataFrame = {
    val programs: Map[String, Seq[(Program, Double)]] =
      labeledPairsByColumn(detected, userLabels).flatMap { case (c, pairs) =>
        val ps = if (skipColumns(c)) Nil else induceAll(pairs)
        if (ps.isEmpty) None else Some(c -> ps)
      }
    val errVal = coalesce(col("error_value"), lit(""))
    // per cell: the first applicable program in (ratio desc, ladder)
    // order answers — an LLM answers every prompt it can, so a value
    // the top program doesn't match falls through to the next.
    // One when/coalesce chain over the bounded column set — a single
    // codegen'd projection, no UDF
    def colAnswer(ps: Seq[(Program, Double)]): Column =
      coalesce(ps.map { case (p, _) => p.expr(errVal) }: _*)
    def colScore(ps: Seq[(Program, Double)]): Column =
      coalesce(ps.map { case (p, ratio) => when(p.expr(errVal).isNotNull, lit(ratio)) }: _*)
    val answer = programs.toSeq.sortBy(_._1).foldLeft(lit(null).cast("string")) {
      case (acc, (c, ps)) => when(col("col") === c, colAnswer(ps)).otherwise(acc)
    }
    val score = programs.toSeq.sortBy(_._1).foldLeft(lit(null).cast("double")) {
      case (acc, (c, ps)) => when(col("col") === c, colScore(ps)).otherwise(acc)
    }
    detected
      .filter(errVal =!= "")
      .select(
        col("row_id"),
        col("col"),
        lit("llm_correction").as("corrector"),
        answer.as("candidate"),
        score.as("score")
      )
      .filter(col("candidate").isNotNull && col("candidate") =!= errVal)
  }

  /** Character shape of a value: uppercase -> U, lowercase -> l,
    * digit -> d, everything else verbatim. Length-sensitive on
    * purpose ("NC" and "IPA" differ).
    */
  private def shapeOf(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c, "[A-Z]", "U"), "[a-z]", "l"), "[0-9]", "d")

  /** The llm_master member of the frozen cache: shape-guided token
    * fill for cells whose error value is empty. Example rows = rows
    * without any detected error plus the labeled rows with their
    * labels applied (the reference's user-corrected clean subset,
    * `src/correction.py:562-567`), capped deterministically at
    * `maxExamples`.
    */
  def llmMasterCache(
      df: DataFrame,
      rowId: String,
      cols: Seq[String],
      detected: DataFrame,
      userLabels: DataFrame,
      maxExamples: Int = 100,
      missingTokens: Map[String, String] = Map.empty,
      fillConstants: Map[String, (String, Double)] = Map.empty
  ): DataFrame = {
    val errorRows = detected.select("row_id").distinct()
    val labeledRows = userLabels.select("row_id").distinct()
    val base = df.select(col(rowId).as("row_id") +: cols.map(col): _*)
    val cleanRows = base.join(errorRows, Seq("row_id"), "left_anti")
    val corrected = Cells.applyCorrections(
      base.join(labeledRows, Seq("row_id")),
      userLabels.select(col("row_id"), col("col"), col("clean_value").as("value")),
      "row_id",
      cols
    )
    val examples = cleanRows
      .unionByName(corrected)
      .orderBy(xxhash64(col("row_id")), col("row_id"))
      .limit(maxExamples)

    // per-column example VALUES (for majority-constant fill) and
    // majority shapes (for shape-guided token fill)
    val exValues = examples
      .select(cols.map(c => coalesce(col(c), lit("")).as(c)): _*)
      .collect()
    if (exValues.isEmpty) return Correctors.emptySuggestions(df.sparkSession)
    def majorityBy(i: Int, xform: String => String): Option[(String, Double)] = {
      val xs = exValues.map(r => xform(r.getString(i))).filter(_.nonEmpty)
      if (xs.isEmpty) None
      else {
        val (v, cnt) = xs.groupBy(identity).view.mapValues(_.length).toSeq.maxBy { case (s, n) => (n, s) }
        Some((v, cnt.toDouble / xs.length))
      }
    }
    // constant fill per column, two sources in precedence order:
    // (1) the labeled fill-style pairs all carry ONE correction (the
    //     "every '' jvolumn label said -1" case) — `fillConstants`,
    //     induced by `cache()` from the labels;
    // (2) a column STRICTLY dominated by one example value gets that
    //     value. Others fall back to shape fill.
    val constFill: Map[String, (String, Double)] =
      cols.zipWithIndex.flatMap { case (c, i) =>
        majorityBy(i, identity).filter(_._2 > 0.5).map(c -> _)
      }.toMap ++ fillConstants
    val majority: Map[String, (String, Double)] = cols.zipWithIndex.flatMap { case (c, i) =>
      majorityBy(i, s => shapeOfScala(s)).map(c -> _)
    }.toMap

    // fill targets: cells whose error value is empty, or equals the
    // column's constant missing-token ("?"-style markers — all labeled
    // errors of the column carry the same token)
    val errVal = coalesce(col("error_value"), lit(""))
    val isMissing = missingTokens.foldLeft(errVal === "") { case (acc, (c, t)) =>
      acc || (col("col") === c && errVal === t)
    }
    val fillTargets = detected.filter(isMissing).select("row_id", "col")
    val constCols = constFill.keySet
    val constRows = constFill.toSeq.sorted.map { case (c, (v, r)) => (c, v, r) }
    val constAnswers =
      if (constRows.isEmpty) Correctors.emptySuggestions(df.sparkSession)
      else
        fillTargets
          .join(
            broadcast(df.sparkSession.createDataFrame(constRows).toDF("col", "candidate", "score")),
            Seq("col")
          )
          .select(
            col("row_id"),
            col("col"),
            lit("llm_master").as("corrector"),
            col("candidate"),
            col("score")
          )
    val emptyErrors =
      if (constCols.isEmpty) fillTargets
      else fillTargets.filter(!col("col").isin(constCols.toSeq: _*))
    val rowTokens = base
      .join(emptyErrors.select("row_id").distinct(), Seq("row_id"))
      .select(
        col("row_id"),
        explode(
          array(cols.map(c => struct(lit(c).as("src_col"), coalesce(col(c), lit("")).as("value"))): _*)
        ).as("cell")
      )
      .select(col("row_id"), col("cell.src_col").as("src_col"), explode(split(col("cell.value"), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .withColumn("token_shape", shapeOf(col("token")))
    val shapeRows = majority.toSeq.sortBy(_._1).map { case (c, (s, r)) => (c, s, r) }
    val shapesDf = df.sparkSession
      .createDataFrame(shapeRows)
      .toDF("col", "majority_shape", "shape_ratio")
    val shapeAnswers = emptyErrors
      .join(broadcast(shapesDf), Seq("col"))
      .join(rowTokens, Seq("row_id"))
      .filter(col("src_col") =!= col("col") && col("token_shape") === col("majority_shape"))
      .groupBy("row_id", "col", "shape_ratio")
      .agg(collect_set(col("token")).as("cands"))
      .filter(size(col("cands")) === 1)
      .select(
        col("row_id"),
        col("col"),
        lit("llm_master").as("corrector"),
        element_at(col("cands"), 1).as("candidate"),
        col("shape_ratio").as("score")
      )
    constAnswers.unionByName(shapeAnswers)
  }

  /** Scala twin of [[shapeOf]] for driver-side induction. */
  private def shapeOfScala(s: String): String =
    s.replaceAll("[A-Z]", "U").replaceAll("[a-z]", "l").replaceAll("[0-9]", "d")

  /** Per-column constant missing-token: every labeled error of the
    * column carries the SAME non-empty token while the corrections
    * vary — a "?"-style marker. Those columns are llm_master's job
    * (context fill), not a transformation to induce; the reference's
    * llm_correction would only learn noise from them.
    */
  def missingTokensOf(pairsByCol: Map[String, Seq[(String, String)]]): Map[String, String] =
    pairsByCol.flatMap { case (c, pairs) =>
      val errs = pairs.map(_._1).distinct
      val corrs = pairs.map(_._2).distinct
      if (errs.size == 1 && pairs.size >= 2 && corrs.size > 1) Some(c -> errs.head) else None
    }

  /** TOKEN-DOMAIN TYPO REPAIR — the third cache rung: the share of
    * llm_correction an LLM performs from the column vocabulary its
    * prompt examples expose (typo-class errors: "619 paxienxs" ->
    * "619 patients", "95x" -> "95%"). Each whitespace token of an
    * error value that is absent from the column's TRUSTED token
    * vocabulary is repaired when it resolves UNIQUELY, in ladder
    * order:
    *
    *   1. a vocabulary token at edit distance 1 (<= 2 for tokens of
    *      length >= 5) — matched via FastSS deletion signatures, so
    *      candidate generation is a key join, never all-pairs;
    *   2. a single split (one character replaced by a space) whose
    *      halves are vocabulary tokens, or one vocabulary token plus
    *      one shape-frequent token ("6xpatients" -> "6 patients");
    *
    * distance-1 repairs outrank distance-2; ANY ambiguity at the
    * minimal distance fails the token, and splits never land inside a
    * digit run ("619" is one number, not "6 9"). Unknown tokens with
    * no unique repair survive as-is iff their character shape is
    * frequent in the vocabulary (the intact row-specific number in
    * "82 patientx"); otherwise the cell produces no answer —
    * digit-damaged tokens ("3x patients", "x7%") match many
    * vocabulary tokens and are correctly unanswerable, exactly the
    * cells the reference's GPT also cannot recover.
    *
    * INDUCTION GATE (self-validating, stricter than the program
    * ladder's ratio): the repair is applied to the labeled (error,
    * correction) pairs first; the member activates only when it
    * reproduces >= `minSupport` labeled corrections and contradicts
    * NONE. A table whose labels show no typo-class errors — or a
    * different damage process — never activates the member.
    *
    * Scale shape: vocabulary and signatures reduce by (col, token)
    * key before any join; error-side work is proportional to detected
    * cells; a column whose vocabulary exceeds `maxVocabPerCol` is
    * skipped (free-text columns are not token-domain repairable).
    * Returned cached and materialized; the caller unpersists it.
    */
  def tokenRepairCache(
      df: DataFrame,
      rowId: String,
      cols: Seq[String],
      detected: DataFrame,
      userLabels: DataFrame,
      maxVocabPerCol: Long = 100000L,
      minSupport: Int = 2,
      minShapeTokens: Int = 3
  ): DataFrame = {
    val spark = df.sparkSession
    val errVal = coalesce(col("error_value"), lit(""))

    val cells = Cells.melt(df, rowId, cols)
    val trusted = cells
      .join(detected.select("row_id", "col"), Seq("row_id", "col"), "left_anti")
      .filter(col("value").isNotNull && col("value") =!= "")
    val vocab0 = trusted
      .select(col("col"), explode(split(col("value"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("col", "token")
      .agg(count(lit(1)).as("cnt"))
    val vocabSizes = vocab0
      .groupBy("col")
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val okCols = cols.filter(c => vocabSizes.getOrElse(c, 0L) <= maxVocabPerCol)
    if (okCols.isEmpty) return Correctors.emptySuggestions(spark)
    val vocab = vocab0.filter(col("col").isin(okCols: _*)).select("col", "token").cache()

    val freqShapes = vocab
      .withColumn("shape", shapeOf(col("token")))
      .groupBy("col", "shape")
      .agg(count(lit(1)).as("nt"))
      .filter(col("nt") >= minShapeTokens)
      .select("col", "shape")

    // FastSS deletion neighborhood of a token column: the token, its
    // single-deletion variants, and (length >= 5) double deletions —
    // two tokens within edit distance k share a signature when both
    // neighborhoods use up to k deletions
    def sigsOf(t: String): Column = {
      val d1 = s"transform(sequence(1, length($t)), i -> concat(substr($t, 1, i - 1), substr($t, i + 1, length($t))))"
      val d2 = s"flatten(transform($d1, x -> transform(sequence(1, length(x)), j -> concat(substr(x, 1, j - 1), substr(x, j + 1, length(x))))))"
      when(length(col(t)) >= 5, array_distinct(concat(array(col(t)), expr(d1), expr(d2))))
        .otherwise(array_distinct(concat(array(col(t)), expr(d1))))
    }

    val errCells = detected
      .filter(errVal =!= "" && col("col").isin(okCols: _*))
      .select(col("row_id"), col("col"), errVal.as("ev"))
    val toks = errCells
      .select(col("row_id"), col("col"), col("ev"), posexplode(split(col("ev"), " ")).as(Seq("pos", "tok")))
    val toksV = toks
      .join(
        vocab.select(col("col"), col("token").as("tok"), lit(true).as("in_vocab")),
        Seq("col", "tok"),
        "left"
      )
      .withColumn("in_vocab", coalesce(col("in_vocab"), lit(false)) || col("tok") === "")
      .withColumn("shape", shapeOf(col("tok")))
      .join(
        freqShapes.select(col("col"), col("shape"), lit(true).as("shape_ok")),
        Seq("col", "shape"),
        "left"
      )
      .withColumn("shape_ok", coalesce(col("shape_ok"), lit(false)))
      .cache()
    val unknown = toksV.filter(!col("in_vocab")).select("row_id", "col", "pos", "tok")

    // rung 1: whole-token vocabulary match within the length-scaled
    // edit-distance cap
    val unkSig = unknown.withColumn("sig", explode(sigsOf("tok")))
    val vocSig = vocab.withColumn("sig", explode(sigsOf("token")))
    val wholeCand = unkSig
      .join(vocSig, Seq("col", "sig"))
      .select("row_id", "col", "pos", "tok", "token")
      .distinct()
      .withColumn("lev", levenshtein(col("tok"), col("token")))
      .filter(col("lev") <= when(length(col("tok")) >= 5, 2).otherwise(1))
      .select(col("row_id"), col("col"), col("pos"), col("tok"), col("token").as("cand"), col("lev").as("dist"))

    // rung 2: one character became a space — both halves must resolve
    // (vocabulary, or shape-frequent next to a vocabulary half)
    val splitCand = unknown
      .filter(length(col("tok")) >= 3)
      .withColumn("i", explode(expr("sequence(2, length(tok) - 1)")))
      .withColumn("lhs", expr("substr(tok, 1, i - 1)"))
      .withColumn("rhs", expr("substr(tok, i + 1, length(tok))"))
      .join(vocab.select(col("col"), col("token").as("lhs"), lit(true).as("lv")), Seq("col", "lhs"), "left")
      .join(vocab.select(col("col"), col("token").as("rhs"), lit(true).as("rv")), Seq("col", "rhs"), "left")
      .withColumn("lshape", shapeOf(col("lhs")))
      .withColumn("rshape", shapeOf(col("rhs")))
      .join(
        freqShapes.select(col("col"), col("shape").as("lshape"), lit(true).as("ls")),
        Seq("col", "lshape"),
        "left"
      )
      .join(
        freqShapes.select(col("col"), col("shape").as("rshape"), lit(true).as("rs")),
        Seq("col", "rshape"),
        "left"
      )
      .filter(
        (coalesce(col("lv"), lit(false)) && (coalesce(col("rv"), lit(false)) || coalesce(col("rs"), lit(false)))) ||
          (coalesce(col("rv"), lit(false)) && (coalesce(col("lv"), lit(false)) || coalesce(col("ls"), lit(false))))
      )
      // a space INSIDE a digit run is not a plausible typo reading —
      // "619" must never split into "6 9"; real split repairs replace
      // a letter at a class boundary ("6xpatients" -> "6 patients")
      .filter(!(col("lhs").rlike("^[0-9]+$") && col("rhs").rlike("^[0-9]+$")))
      .select(
        col("row_id"),
        col("col"),
        col("pos"),
        col("tok"),
        concat(col("lhs"), lit(" "), col("rhs")).as("cand"),
        lit(1).as("dist")
      )

    val wBest = org.apache.spark.sql.expressions.Window.partitionBy("row_id", "col", "pos")
    val best = wholeCand
      .unionByName(splitCand)
      .withColumn("mind", min("dist").over(wBest))
      .filter(col("dist") === col("mind"))
      .groupBy("row_id", "col", "pos")
      .agg(collect_set("cand").as("cands"))
      .filter(size(col("cands")) === 1)
      .select(col("row_id"), col("col"), col("pos"), element_at(col("cands"), 1).as("rep"))

    val outToks = toksV
      .join(best, Seq("row_id", "col", "pos"), "left")
      .withColumn("out", coalesce(col("rep"), col("tok")))
      .withColumn("is_rep", col("rep").isNotNull)
      .withColumn("fail", !col("in_vocab") && !col("shape_ok") && col("rep").isNull)
    val repaired = outToks
      .groupBy("row_id", "col", "ev")
      .agg(
        max(col("fail").cast("int")).as("anyfail"),
        sum(col("is_rep").cast("int")).as("nrep"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("out")))), x => x.getField("out")),
          " "
        ).as("candidate")
      )
      .filter(col("anyfail") === 0 && col("nrep") >= 1 && col("candidate") =!= col("ev"))
      .select("row_id", "col", "candidate")
      .cache()

    // induction gate: the member activates only if the repair
    // reproduces labeled corrections and contradicts none
    val checks = repaired
      .join(
        detected.join(userLabels, Seq("row_id", "col")).select("row_id", "col", "clean_value"),
        Seq("row_id", "col")
      )
      .select((col("candidate") === col("clean_value")).as("ok"))
      .collect()
    val support = checks.count(_.getBoolean(0))
    val contradictions = checks.length - support
    val out =
      if (support < minSupport || contradictions > 0) Correctors.emptySuggestions(spark)
      else
        repaired.select(
          col("row_id"),
          col("col"),
          lit("token_repair").as("corrector"),
          col("candidate"),
          lit(1.0).as("score")
        )
    val materialized = out.cache()
    materialized.count()
    repaired.unpersist()
    toksV.unpersist()
    vocab.unpersist()
    materialized
  }

  /** Every cache member, union'd — the frozen cache table to route
    * through `Cleaning.run(cache = ...)`, cached and materialized.
    */
  def cache(
      df: DataFrame,
      rowId: String,
      cols: Seq[String],
      detected: DataFrame,
      userLabels: DataFrame
  ): DataFrame = {
    val pairsAll = labeledPairsByColumn(detected, userLabels, includeEmpty = true)
    val tokens = missingTokensOf(pairsAll.map { case (c, ps) => c -> ps.filter(_._1.nonEmpty) })
    // fill-style labeled pairs ('' errors, or the column's constant
    // missing token) that all agree on ONE correction: the fill answer
    val fillConstants: Map[String, (String, Double)] = pairsAll.flatMap { case (c, ps) =>
      val fillPairs = ps.filter(p => p._1.isEmpty || tokens.get(c).contains(p._1))
      val corrs = fillPairs.map(_._2).distinct
      if (fillPairs.nonEmpty && corrs.size == 1) Some(c -> (corrs.head, 1.0)) else None
    }
    val tokenRepair = tokenRepairCache(df, rowId, cols, detected, userLabels)
    val frozen = llmCorrectionCache(detected, userLabels, skipColumns = tokens.keySet)
      .unionByName(
        llmMasterCache(
          df,
          rowId,
          cols,
          detected,
          userLabels,
          missingTokens = tokens,
          fillConstants = fillConstants
        )
      )
      .unionByName(tokenRepair)
      .cache()
    frozen.count()
    tokenRepair.unpersist()
    frozen
  }
}
