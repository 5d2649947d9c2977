package graftbench

import graft.correct._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The correct layer: `Cleaning.run` with the default deterministic
  * members plus `usePdepVicinity` (fd, vicinity-1, pdep-vicinity,
  * imputer, value; A13 decision) over an ncvoters-shaped table with 2%
  * MCAR blanks, perfect detection and Baran-sampled labels for 20
  * tuples. The work is bound by job planning and scheduling: hundreds of small
  * jobs whose count grows with the column count, not the row count.
  * It runs inside the traced `continuous` run, so it reports per-layer
  * figures only.
  */
object Ensemble {

  val Rows: Long = 1000L
  /** The zip_code -> city/state FD block. */
  val Cols: Seq[String] = Seq("zip_code", "city", "state")
  val BlankPercent: Int = 2
  val LabeledTuples: Int = 20
  val Cfg: CleaningConfig = CleaningConfig(usePdepVicinity = true)

  final class Inputs(ctx: Ctx) {
    private val spark = ctx.spark
    val clean: DataFrame = Gen.voters(spark, Rows, ctx.seed).select("row_id", Cols: _*).cache()
    val dirty: DataFrame = Gen.blank(clean, Cols, BlankPercent, ctx.seed).cache()
    private val diff = Cells.cellDiff(dirty, clean, "row_id", Cols).cache()
    val detected: DataFrame = diff.select(col("row_id"), col("col"), col("dirty_value").as("error_value")).cache()
    val actual: DataFrame = diff.select(col("row_id"), col("col"), col("clean_value")).cache()
    private val sampled = Correctors.baranSample(detected, LabeledTuples)
    val labels: DataFrame = actual.filter(col("row_id").isin(sampled: _*)).cache()
    val nErrors: Long = detected.count()
    labels.count()
  }

  def run(in: Inputs): DataFrame = Cleaning.run(in.dirty, "row_id", Cols, in.detected, in.labels, Cfg)

  /** Each member called as `Cleaning.run` calls it (same arguments and
    * member switches), returning its suggestions.
    */
  def members(in: Inputs): Seq[(String, () => DataFrame)] = Seq(
    "fd" -> (() => {
      val mined = Pdep
        .mineFds(in.dirty, in.detected, "row_id", Cols)
        .collect()
        .map(r => Fd(Seq(r.getString(0)), r.getString(1)))
        .toSeq
      if (mined.isEmpty) Correctors.emptySuggestions(in.dirty.sparkSession)
      else
        Correctors.fdCorrector(in.dirty, in.detected, "row_id", Pdep.gpdepTable(in.dirty, in.detected, "row_id", mined), mined)
    }),
    "vicinity1" -> (() => Correctors.vicinityCorrectorOrder1(in.dirty, in.detected, "row_id", Cols)),
    "pdep_vicinity" -> (() => Correctors.vicinityCorrectorPdep(in.dirty, in.detected, "row_id", Cols, Cfg.nBestPdeps)),
    "imputer" -> (() => Correctors.frequencyImputer(in.dirty, in.detected, "row_id", Cols)),
    "value" -> (() => {
      val pairs = in.detected
        .join(in.labels, Seq("row_id", "col"))
        .filter(Tokens.withinValueLength(col("error_value")))
        .select("col", "error_value", "clean_value")
        .collect()
        .map(r => (r.getString(0), (Option(r.getString(1)).getOrElse(""), Option(r.getString(2)).getOrElse(""))))
        .groupBy(_._1)
        .map { case (c, xs) => c -> xs.map(_._2).toSeq }
      if (pairs.isEmpty) Correctors.emptySuggestions(in.dirty.sparkSession)
      else Correctors.valueCorrector(in.detected, pairs)
    })
  )

  private def suggestions(member: () => DataFrame): DataFrame =
    member().select(col("row_id"), col("col"), col("candidate"), col("score"))

  /** Per-member and whole-run figures of the correct layer. One
    * untimed round of the members and the decision goes first, so
    * that no timed call carries the JIT, codegen and first-call costs;
    * the members then also warm the `Cleaning.run` timed after them.
    */
  def traced(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val L = ctx.report.layers
    val in = new Inputs(ctx)
    ctx.report.phase("correct warm-up") {
      Correctors.decide(members(in).map { case (_, m) => suggestions(m) }.reduce(_ unionByName _)).count()
    }
    val tr = new Tracer(spark, traced = true)
    val (sugg, union, decided, out) = tr.on {
      val sugg = members(in).map { case (name, member) =>
        name -> tr.span(s"correct.$name") {
          val df = suggestions(member).cache()
          df.count()
          df
        }
      }
      val union = sugg.map { case (n, s) => s.withColumn("member", lit(n)) }.reduce(_ unionByName _).cache()
      val decided = tr.span("correct.decide") {
        val d = Correctors.decide(union.drop("member")).cache()
        d.count()
        d
      }
      (sugg, union, decided, tr.span("correct.run")(run(in)))
    }
    val f1 = Correctors.evaluate(out, in.actual)("ec_f")
    out.unpersist()
    // the members, decided and overlaid with the labels, reproduce the
    // library's own lifecycle
    val labels = in.labels.withColumnRenamed("clean_value", "value")
    val membersF1 = Correctors.evaluate(Correctors.overlayUserLabels(decided, labels), in.actual)("ec_f")
    ctx.report.check("correct.members_reproduce_run", f1 == membersF1)
    ctx.report.check("correct.f1_floor", f1 >= F1Floor)
    L("cleaning_s") = tr.walls("correct.run").head
    L("cleaning_f1") = f1
    val runTot = tr.totals(_ == "correct.run")
    L("correct.jobs") = runTot.jobs.toDouble
    L("correct.core_busy_share") = runTot.coreBusyShare(ctx.cores)

    val truth = in.actual.select(col("row_id"), col("col"), col("clean_value"))
    val perMember = union
      .join(decided.withColumnRenamed("value", "chosen"), Seq("row_id", "col"), "left")
      .join(truth, Seq("row_id", "col"), "left")
      .groupBy("member")
      .agg(
        count(lit(1)).as("suggestions"),
        countDistinct(when(col("candidate") === col("chosen"), struct(col("row_id"), col("col")))).as("wins"),
        count(when(col("candidate") === col("clean_value"), 1)).as("correct")
      )
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    (sugg.map(_._1) :+ "decide").foreach { m =>
      L(s"correct.$m.s") = tr.walls(s"correct.$m").sum
    }
    sugg.map(_._1).foreach { m =>
      val (n, wins, good) = perMember.getOrElse(m, (0L, 0L, 0L))
      L(s"correct.$m.suggestions") = n.toDouble
      L(s"correct.$m.wins") = wins.toDouble
      L(s"correct.$m.precision") = if (n == 0) 0.0 else good.toDouble / n
    }
    L("correct.decide.cells") = decided.count().toDouble
    L("correct.errors") = in.nErrors.toDouble
    (sugg.map(_._2) :+ union :+ decided).foreach(_.unpersist())
  }

  /** Lowest correction F1 accepted on this table shape. */
  val F1Floor: Double = 0.5
}
