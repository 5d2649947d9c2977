package graft.correct

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Program-induction + cache-builder tests for the deterministic
  * pseudo-LLM (M5/M6 frozen-cache population). Pin: (a) the rule
  * ladder induces the expected program per beers-shaped column,
  * (b) the Scala twin and the Catalyst compilation agree on every
  * program, (c) the shape-guided llm_master fill answers exactly the
  * unambiguous empty-error cells.
  */
class PseudoLlmSpec extends SparkSpec {

  import PseudoLlm._

  test("induction ladder: beers-shaped columns get the right program at ratio 1.0") {
    // abv: '%' suffix, numeric normalization AND precision rounding
    // all explain the pairs; the precise-decimal format (k=3) makes
    // rounding win, which is what repairs float-repr noise the
    // labeled sample never showed
    val abv = induce(Seq(("0.045%", "0.045"), ("0.07%", "0.07"), ("0.09%", "0.09"))).get
    assert(abv._1 == RoundToDecimals(3) && abv._2 == 1.0)
    assert(abv._1("0.052000000000000005%").contains("0.052"))
    assert(induceAll(Seq(("0.045%", "0.045"), ("0.07%", "0.07"))).map(_._1).contains(StripSuffix("%")))
    // ounces: varied unit suffixes -> numeric normalization wins
    val oz = induce(Seq(("12.0 oz", "12"), ("16.0 ounce", "16"), ("8.4 ounce", "8.4"), ("12.0 OZ.", "12"))).get
    assert(oz._1 == NumericNormalize && oz._2 == 1.0)
    // city: trailing state token
    val city = induce(Seq(("Asheville NC", "Asheville"), ("Denton TX", "Denton"), ("Saint Louis MO", "Saint Louis"))).get
    assert(city._1 == DropLastToken && city._2 == 1.0)
    // ibu: constant error value to missing
    val ibu = induce(Seq(("N/A", ""), ("N/A", ""))).get
    assert(ibu._1(("N/A")).contains("") && ibu._2 == 1.0)
    // empty errors contribute nothing
    assert(induce(Seq(("", "CA"))).isEmpty)
  }

  test("induction ladder: glass-shaped decimal padding gets FormatDecimals") {
    // corrections share scale 5 -> fixed-point formatting, zeros KEPT
    val ri = induce(Seq(("1.5175", "1.51750"), ("1.519", "1.51900"), ("1.5232", "1.52320"))).get
    assert(ri._1 == FormatDecimals(5) && ri._2 == 1.0)
    assert(ri._1("1.5221").contains("1.52210"))
    // mixed scales (beers abv) do NOT induce formatting
    assert(!induceAll(Seq(("0.045%", "0.045"), ("0.07%", "0.07"))).map(_._1).exists(_.isInstanceOf[FormatDecimals]))
  }

  test("induction ladder: rayyan-shaped token rotations get TokenPermute") {
    // the rotated-date family: (a,b,c) -> (b, unpad(c), pad2(a))
    val pairs = Seq(
      ("4/2/15", "2/15/04"),
      ("12/1/06", "1/6/12"),
      ("1/1/13", "1/13/01"),
      ("10/1/15", "1/15/10")
    )
    val p = induce(pairs).get
    assert(p._2 == 1.0, s"got $p")
    assert(p._1("1/1/09").contains("1/9/01"))
    assert(p._1("6/30/11").contains("30/11/06"))
    assert(p._1("no slashes").isEmpty)
    // the swapped-token family around '-'
    val swap = induce(Seq(("Mar-22", "22-Mar"), ("Feb-14", "14-Feb"))).get
    assert(swap._2 == 1.0 && swap._1("Jan-15").contains("15-Jan"))
  }

  test("induction ladder: mojibake deletion gets StripNonAscii") {
    val pairs = Seq(
      ("G̩riatrie et Psychologie", "Griatrie et Psychologie"),
      ("nab���-paclitaxel", "nab-paclitaxel"),
      ("Bjɦrkelund", "Bjrkelund")
    )
    val p = induce(pairs).get
    assert(p._1 == StripNonAscii && p._2 == 1.0)
    assert(p._1("plain ascii").isEmpty) // unchanged -> no answer
  }

  test("cache routing: constant missing-token columns skip induction; fill constants answer '' errors") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", "5"),
      (2L, "b", ""),
      (3L, "c", ""),
      (4L, "d", "7")
    ).toDF("row_id", "name", "vol")
    val detected = Seq(
      (2L, "vol", ""),
      (3L, "vol", "")
    ).toDF("row_id", "col", "error_value")
    val labels = Seq((2L, "vol", "-1")).toDF("row_id", "col", "clean_value")
    val out = cache(df, "row_id", Seq("name", "vol"), detected, labels)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getString(2), r.getString(3)))
      .toMap
    // the unlabeled '' cell gets the labeled constant correction
    assert(out((3L, "vol")) == ("llm_master", "-1"))
  }

  test("program Scala twin == Catalyst compilation on a value grid") {
    val programs: Seq[Program] = Seq(
      StripSuffix("%"),
      StripSuffix(" oz"),
      StripPrefix("$"),
      DropLastToken,
      NumericNormalize,
      RoundToDecimals(0),
      RoundToDecimals(3),
      FormatDecimals(5),
      FormatDecimals(1),
      StripNonAscii,
      TokenPermute("/", 3, Seq((1, 0), (2, 2), (0, 1))),
      TokenPermute("-", 2, Seq((1, 0), (0, 0))),
      WholeValueMap(Map("N/A" -> "", "?" -> "unknown"))
    )
    val values =
      Seq("0.045%", "12.0 oz", "$5", "Asheville NC", "12.0", "19.20", "0.045", "N/A", "?", "x", "", "12.", "a b c", "  ", "%", "0.052000000000000005%", "7.5 ml", "123456789012345678901.5", "4/2/15", "12/1/06", "0/0/00", "Mar-22", "a-b-c", "G̩riatrie", "café", "1.5175", "//", "--")
    val df = spark.createDataFrame(values.map(Tuple1(_))).toDF("v")
    for (p <- programs) {
      val got = df
        .select(col("v"), p.expr(col("v")).as("out"))
        .collect()
        .map(r => r.getString(0) -> Option(r.getString(1)))
        .toMap
      for (v <- values)
        assert(got(v) == p(v), s"$p on '$v': catalyst ${got(v)} vs scala ${p(v)}")
    }
  }

  test("llm_correction cache replays the induced program over unlabeled errors") {
    import spark.implicits._
    val detected = Seq(
      (1L, "price", "12.0 oz"),
      (2L, "price", "16.0 ounce"),
      (3L, "price", "8.4 oz."),
      (4L, "price", ""), // empty error value: never prompted
      (1L, "tag", "N/A")
    ).toDF("row_id", "col", "error_value")
    val labels = Seq(
      (1L, "price", "12"),
      (2L, "price", "16"),
      (1L, "tag", "")
    ).toDF("row_id", "col", "clean_value")
    val cache = llmCorrectionCache(detected, labels)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getString(3), r.getDouble(4)))
      .toMap
    assert(cache((3L, "price")) == ("8.4", 1.0)) // unlabeled cell answered by induction
    assert(cache((1L, "tag")) == ("", 1.0)) // missing-value decode
    assert(!cache.contains((4L, "price")))
  }

  test("program chaining: a cell the top program cannot answer falls through to the next") {
    import spark.implicits._
    // pairs induce NumericNormalize (1.0); "N/A" has no leading number
    // but the whole-value map (also 1.0, later in the ladder) knows it
    val detected = Seq(
      (1L, "x", "12.0 oz"),
      (2L, "x", "N/A"),
      (3L, "x", "7.5 ml")
    ).toDF("row_id", "col", "error_value")
    val labels = Seq((1L, "x", "12"), (2L, "x", "N/A2")).toDF("row_id", "col", "clean_value")
    val cache = llmCorrectionCache(detected, labels)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getString(3))
      .toMap
    assert(cache((3L, "x")) == "7.5")
    assert(cache((2L, "x")) == "N/A2")
  }

  test("llm_master shape fill answers exactly the unambiguous empty-error cells") {
    import spark.implicits._
    val df = Seq(
      (1L, "Bend", "OR", "a"),
      (2L, "Gary", "IN", "b"),
      (3L, "Asheville NC", "", "c"), // state missing, city holds the token
      (4L, "Denton TX Y", "", "d") // ambiguous: no 2-letter uppercase... TX and Y -> Y is 1 letter, unambiguous TX
    ).toDF("row_id", "city", "state", "misc")
    val detected = Seq(
      (3L, "state", ""),
      (4L, "state", "")
    ).toDF("row_id", "col", "error_value")
    val labels = Seq.empty[(Long, String, String)].toDF("row_id", "col", "clean_value")
    val out = llmMasterCache(df, "row_id", Seq("city", "state", "misc"), detected, labels)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getString(3))
      .toMap
    assert(out((3L, "state")) == "NC")
    assert(out((4L, "state")) == "TX")
  }

  /** Typo-class fixture: trusted rows carry the vocabulary
    * ("patients", percent scores, row-specific numbers); labels
    * validate the token-repair member with two reproduced corrections.
    */
  private def tokenFixture() = {
    import spark.implicits._
    val dirty = Seq(
      (1L, "10 patients", "95%"),
      (2L, "223 patients", "87%"),
      (3L, "31 patients", "62%"),
      (4L, "40 patients", "33%"),
      (5L, "619 paxienxs", "95x"), // both repairable: unique token/edit
      (6L, "3x patients", "9x%"), // digit-damaged: ambiguous, no answer
      (7L, "6xpatients", "44%"), // split repair: x became a space
      (8L, "150 patients", "71%"),
      (9L, "301 patients", "88%"),
      (10L, "4 patients", "20%"),
      (11L, "7 patients", "15%"),
      (12L, "9 patients", "55%"),
      // density: digit-damaged tokens ("3x", "9x%") must be ambiguous
      // here like in a real corpus, never uniquely repairable
      (13L, "34 patients", "98%")
    ).toDF("row_id", "sample", "score")
    val detected = Seq(
      (5L, "sample", "619 paxienxs"),
      (5L, "score", "95x"),
      (6L, "sample", "3x patients"),
      (6L, "score", "9x%"),
      (7L, "sample", "6xpatients")
    ).toDF("row_id", "col", "error_value")
    // labels validate the member: two typo-class corrections reproduced
    val labels = Seq(
      (5L, "sample", "619 patients"),
      (5L, "score", "95%")
    ).toDF("row_id", "col", "clean_value")
    (dirty, detected, labels)
  }

  test("token repair: unique in-vocab edit fixes typo tokens, digit damage stays unanswered") {
    val (dirty, detected, labels) = tokenFixture()
    val member = PseudoLlm.tokenRepairCache(dirty, "row_id", Seq("sample", "score"), detected, labels)
    val got = member
      .collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getString(3)))
      .toMap
    member.unpersist()
    assert(got((5L, "sample")) == "619 patients")
    assert(got((5L, "score")) == "95%")
    assert(got((7L, "sample")) == "6 patients")
    // digit-damaged cells match many vocabulary tokens -> no answer
    assert(!got.contains((6L, "sample")) && !got.contains((6L, "score")))
  }

  test("token repair gate: a contradicted or unsupported induction never activates") {
    import spark.implicits._
    val dirty = Seq(
      (1L, "10 patients"),
      (2L, "223 patients"),
      (3L, "31 patients"),
      (5L, "619 paxienxs")
    ).toDF("row_id", "sample")
    val detected = Seq((5L, "sample", "619 paxienxs")).toDF("row_id", "col", "error_value")
    // contradiction: the label says the damage was NOT a typo repair
    val badLabels = Seq((5L, "sample", "619 participants")).toDF("row_id", "col", "clean_value")
    assert(
      PseudoLlm.tokenRepairCache(dirty, "row_id", Seq("sample"), detected, badLabels).isEmpty
    )
    // support below minSupport: one reproduced label is not enough
    val oneLabel = Seq((5L, "sample", "619 patients")).toDF("row_id", "col", "clean_value")
    assert(
      PseudoLlm.tokenRepairCache(dirty, "row_id", Seq("sample"), detected, oneLabel).isEmpty
    )
  }

  test("Cleaning.run with the token-repair member leaves the cache manager no larger") {
    import spark.implicits._
    val (dirty, detected, labels) = tokenFixture()
    val cols = Seq("sample", "score")
    val before = cachedPlans
    val member = PseudoLlm.cache(dirty, "row_id", cols, detected, labels)
    assert(member.filter(col("corrector") === "token_repair").count() == 3L)
    val out = Cleaning.run(dirty, "row_id", cols, detected, labels, cache = Some(member))
    assert(out.filter(col("row_id") === 7L).select("value").as[String].collect().toSeq == Seq("6 patients"))
    out.unpersist()
    member.unpersist()
    assert(cachedPlans <= before, s"cache manager grew from $before to $cachedPlans entries")
  }
}
