package graft.correct

import graft.SparkSpec
import graft.ann.Ann
import org.apache.spark.sql.functions._

/** Specs for the corrector-ensemble operators added around the q29-q38
  * query set: the A3 all-combination count model, the cell-exact
  * evaluator, the FD corrector with gpdep weighting, and the
  * embedding-cosine near-dup pairs.
  */
class EnsembleSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tbl = Seq(
    (1L, "a", "x"),
    (2L, "a", "x"),
    (3L, "a", "y"),
    (4L, "b", "z")
  ).toDF("row_id", "l", "r")

  test("allCounts masks error cells on either side of the pair") {
    val errors = Seq(ErrorCell(3L, "r", "y")).toDF()
    val counts = Correctors
      .allCounts(tbl, errors, "row_id", Seq("l", "r"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSet
    // row 3 contributes no (l,r) or (r,l) pair: its r-cell is masked
    assert(
      counts == Set(
        ("l", "r", "a", "x", 2L),
        ("l", "r", "b", "z", 1L),
        ("r", "l", "x", "a", 2L),
        ("r", "l", "z", "b", 1L)
      )
    )
  }

  test("evaluateDF computes detection and correction P/R/F1") {
    // 2 corrections emitted; 1 lands on an actual error cell and fixes it;
    // 2 actual errors exist -> ed: p=0.5 r=0.5 f=0.5; ec: same
    val corrections = Seq(
      Correction(1L, "r", "y"), // actual error, corrected right
      Correction(2L, "r", "q") // false positive
    ).toDF()
    val actual = Seq(
      (1L, "r", "y"),
      (3L, "r", "w")
    ).toDF("row_id", "col", "clean_value")
    val row = Correctors.evaluateDF(corrections, actual).head()
    assert(row.getAs[Long]("output_size") == 2L)
    assert(row.getAs[Long]("n_actual") == 2L)
    assert(row.getAs[Long]("ed_tp") == 1L)
    assert(row.getAs[Long]("ec_tp") == 1L)
    assert(row.getAs[Double]("ed_f") == 0.5)
    assert(row.getAs[Double]("ec_f") == 0.5)
  }

  test("fdCorrector weights candidates by norm_gpdep and sums across FDs") {
    val df = Seq(
      (1L, "a", "p", "x"),
      (2L, "a", "p", "x"),
      (3L, "a", "q", "x"),
      (4L, "b", "q", "y"),
      (5L, "b", "q", "BAD")
    ).toDF("row_id", "l1", "l2", "r")
    val errors = Seq(ErrorCell(5L, "r", "BAD")).toDF()
    val fds = Seq(Fd(Seq("l1"), "r"), Fd(Seq("l2"), "r"))
    val gp = Pdep.gpdepTable(df, errors, "row_id", fds)
    val sugg = Correctors
      .fdCorrector(df, errors, "row_id", gp, fds)
      .collect()
      .map(r => (r.getAs[Long]("row_id"), r.getAs[String]("candidate"), r.getAs[Double]("score")))
    // error row 5 has l1=b -> candidate y (from masked counts), l2=q ->
    // candidates x and y; norm_gpdeps sum to 1 across the two FDs
    val cands = sugg.map(_._2).toSet
    assert(sugg.forall(_._1 == 5L))
    assert(cands == Set("x", "y"))
    val total = gp.values.map(_._2).sum
    assert(math.abs(total - 1.0) < 1e-9)
    // y is supported by both FDs: its score is the sum of both norm_gpdeps
    val yScore = sugg.filter(_._2 == "y").map(_._3).sum
    assert(math.abs(yScore - 1.0) < 1e-9)
  }

  test("cosineNearDupPairs finds exactly the high-cosine pairs") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.999f, 0.01f)), // near-dup of 1
      (3L, Array(0.0f, 1.0f))
    ).toDF("id", "embedding")
    val pairs = Ann
      .cosineNearDupPairs(emb, threshold = 0.99)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("mineFds finds exactly the held FDs, error cells masked") {
    val df = Seq(
      (1L, "a", "x", "k1"),
      (2L, "a", "x", "k2"),
      (3L, "b", "y", "k3"),
      (4L, "b", "BAD", "k4") // b->? violation, but the cell is an error
    ).toDF("row_id", "l", "r", "u")
    val errors = Seq(ErrorCell(4L, "r", "BAD")).toDF()
    val fds = Pdep
      .mineFds(df, errors, "row_id", Seq("l", "r", "u"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet
    // with the error masked: l->r holds; r->l holds; u->everything holds
    // (u unique); nothing -> u except... r->u fails (x maps k1,k2)
    assert(fds.contains(("l", "r")))
    assert(fds.contains(("r", "l")))
    assert(fds.contains(("u", "l")))
    assert(fds.contains(("u", "r")))
    assert(!fds.contains(("r", "u")))
    assert(!fds.contains(("l", "u")))
  }

  test("greedySample ranks rows by error count with id tie-break") {
    val errors = Seq(
      ErrorCell(1L, "a", "x"),
      ErrorCell(2L, "a", "x"),
      ErrorCell(2L, "b", "y"),
      ErrorCell(3L, "a", "x")
    ).toDF()
    val got = Correctors
      .greedySample(errors, 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((2L, 2L), (1L, 1L)))
  }

  test("baranSample draws the highest-frequency-value rows first") {
    // value 'x' in column a appears 3 times; rows carrying it outrank
    // the row with the rare value; ties resolve to the smaller row_id
    val errors = Seq(
      ErrorCell(1L, "a", "x"),
      ErrorCell(2L, "a", "x"),
      ErrorCell(3L, "a", "x"),
      ErrorCell(4L, "a", "rare")
    ).toDF()
    val picked = Correctors.baranSample(errors, 2)
    assert(picked == Seq(1L, 2L))
  }

  test("meta-learner GBT path learns to trust the reliable corrector") {
    // two correctors: c_good scores the true candidate 0.9, c_bad
    // scores a wrong candidate 0.9; labels reveal c_good is right.
    // The learner must pick the c_good candidate on unlabeled cells
    // even though A13's feature-sum would tie.
    val cells = (1L to 30L)
    val sugg = cells.flatMap { r =>
      Seq(
        Suggestion(r, "seg", "c_good", s"T$r", 0.9),
        Suggestion(r, "seg", "c_bad", s"F$r", 0.9)
      )
    }.toDF()
    val features = MetaLearner.pairFeatures(sugg, Seq("c_bad", "c_good"))
    val labeled = (1L to 20L).map(r => (r, "seg", s"T$r")).toDF("row_id", "col", "clean_value")
    val out = MetaLearner
      .trainPredict(features, Seq("c_bad", "c_good"), labeled, minLabels = 10)
      .collect()
      .map(r => (r.getLong(0), r.getString(2)))
      .toMap
    assert(out.keySet == (21L to 30L).toSet)
    assert((21L to 30L).forall(r => out(r) == s"T$r"))
  }

  test("cross-validated classifier (CV mode) reaches the same decisions on a clear-cut problem") {
    val cells = (1L to 30L)
    val sugg = cells.flatMap { r =>
      Seq(
        Suggestion(r, "seg", "c_good", s"T$r", 0.9),
        Suggestion(r, "seg", "c_bad", s"F$r", 0.9)
      )
    }.toDF()
    val features = MetaLearner.pairFeatures(sugg, Seq("c_bad", "c_good"))
    val labeled = (1L to 20L).map(r => (r, "seg", s"T$r")).toDF("row_id", "col", "clean_value")
    val out = MetaLearner
      .trainPredict(features, Seq("c_bad", "c_good"), labeled, minLabels = 10, classifier = "CV")
      .collect()
      .map(r => (r.getLong(0), r.getString(2)))
      .toMap
    assert(out.keySet == (21L to 30L).toSet)
    assert((21L to 30L).forall(r => out(r) == s"T$r"))
  }

  test("CV_PRECISION mode scores the grid by positive-label precision and still cleans the clear-cut problem") {
    // the reference's exact scoring="precision" criterion (hpo.py):
    // same fixture as the CV case — decisions must come out right
    // through the precision-scored selection path too (its per-SF
    // real-data decisions are pinned by the q182 golden oracle)
    val cells = (1L to 30L)
    val sugg = cells.flatMap { r =>
      Seq(
        Suggestion(r, "seg", "c_good", s"T$r", 0.9),
        Suggestion(r, "seg", "c_bad", s"F$r", 0.9)
      )
    }.toDF()
    val features = MetaLearner.pairFeatures(sugg, Seq("c_bad", "c_good"))
    val labeled = (1L to 20L).map(r => (r, "seg", s"T$r")).toDF("row_id", "col", "clean_value")
    val out = MetaLearner
      .trainPredict(features, Seq("c_bad", "c_good"), labeled, minLabels = 10, classifier = "CV_PRECISION")
      .collect()
      .map(r => (r.getLong(0), r.getString(2)))
      .toMap
    assert(out.keySet == (21L to 30L).toSet)
    assert((21L to 30L).forall(r => out(r) == s"T$r"))
  }

  /** Pair-classifier training rows: `pos` positives and `neg` negatives. */
  private def cvTrain(pos: Int, neg: Int) = {
    import org.apache.spark.ml.linalg.Vectors
    ((1 to pos).map(i => (i.toLong, s"c$i", Vectors.dense(i.toDouble, 1.0), 1.0)) ++
      (1 to neg).map(i => (100L + i, s"n$i", Vectors.dense(-i.toDouble, 0.0), 0.0)))
      .toDF("row_id", "candidate", "fvec", "label")
  }

  test("CV falls back to the plain model only when a fold is empty") {
    // 5 pairs leave fold 2 without validation rows: Spark's
    // CrossValidator rejects that fold and the plain GBT is fitted
    val model = MetaLearner.fitClassifier(cvTrain(3, 2), "CV", 3L, 42L)
    assert(model.getNumTrees == 10)
  }

  test("a CV failure other than an empty fold surfaces instead of falling back") {
    // the extra column is computed only when the fold relation is
    // cached, so the failure hits the CV fits alone; the plain-model
    // fallback prunes the column and would succeed. The repartition
    // keeps the optimizer from folding the column into the local rows.
    val boom = udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("injected CV failure")
      id
    }
    val train = cvTrain(8, 5).repartition(2).withColumn("boom", boom(col("row_id")))
    assert(MetaLearner.fitClassifier(train.drop("boom"), "CV", 8L, 42L).getNumTrees > 0)
    val e = intercept[org.apache.spark.SparkException](MetaLearner.fitClassifier(train, "CV", 8L, 42L))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(_.getMessage.contains("injected CV failure")))
  }

  test("meta-learner falls back to A13 under the label-count guard") {
    val sugg = (1L to 5L).flatMap { r =>
      Seq(
        Suggestion(r, "seg", "c1", "good", 0.8),
        Suggestion(r, "seg", "c2", "bad", 0.3)
      )
    }.toDF()
    val features = MetaLearner.pairFeatures(sugg, Seq("c1", "c2"))
    val labeled = Seq((1L, "seg", "good")).toDF("row_id", "col", "clean_value")
    val out = MetaLearner
      .trainPredict(features, Seq("c1", "c2"), labeled, minLabels = 10)
      .collect()
      .map(r => (r.getLong(0), r.getString(2)))
      .toMap
    // rows 2-5 decided by feature sum -> "good"
    assert(out.keySet == (2L to 5L).toSet)
    assert(out.values.forall(_ == "good"))
  }

  test("M9 synth gate: accepted synthetic pairs flip the decision past the label guard") {
    // real error cells 1..10: c_bad scores a wrong candidate 0.9,
    // c_good scores the true candidate 0.6 -> A13 feature-sum picks
    // wrong. Only 4 user labels (8 pairs < minLabels) -> without
    // synthetic data the guard forces A13. The 20 synthetic rows
    // repeat the pattern with known truths; a model trained on them
    // reproduces the user pairs (gate F1 = 1.0 >= 0.9), so they are
    // accepted, the guard passes, and the learner flips to c_good.
    def pairs(rs: Range) = rs.flatMap { r =>
      Seq(
        Suggestion(r.toLong, "seg", "c_good", s"T$r", 0.6),
        Suggestion(r.toLong, "seg", "c_bad", s"F$r", 0.9)
      )
    }
    val realSugg = pairs(1 to 10).toDF()
    val allSugg = (pairs(1 to 10) ++ pairs(101 to 120)).toDF()
    val labeled = (1 to 4).map(r => (r.toLong, "seg", s"T$r")).toDF("row_id", "col", "clean_value")
    val synthTrue = (101 to 120).map(r => (r.toLong, "seg", s"T$r")).toDF("row_id", "col", "clean_value")

    val without = MetaLearner
      .trainPredict(MetaLearner.pairFeatures(realSugg, Seq("c_bad", "c_good")), Seq("c_bad", "c_good"), labeled, minLabels = 10)
      .collect()
      .map(r => (r.getLong(0), r.getString(2)))
      .toMap
    assert((5L to 10L).forall(r => without(r) == s"F$r"), s"expected A13 fallback, got $without")

    val withSynth = MetaLearner
      .trainPredict(
        MetaLearner.pairFeatures(allSugg, Seq("c_bad", "c_good")),
        Seq("c_bad", "c_good"),
        labeled,
        minLabels = 10,
        synthLabeled = Some(synthTrue)
      )
      .collect()
      .map(r => (r.getLong(0), r.getString(2)))
      .toMap
    assert(withSynth.keySet == (5L to 10L).toSet, "synthetic cells must never receive corrections")
    assert((5L to 10L).forall(r => withSynth(r) == s"T$r"), s"expected synth-trained flip, got $withSynth")
  }

  test("M9 synth gate rejects distribution-mismatched synthetic pairs") {
    // identical features, but the synthetic truths are INVERTED: a
    // model trained on them contradicts the user labels (gate F1 = 0)
    // -> synth rejected -> label guard falls back to A13 (wrong
    // candidate), proving the gate, not the extra data volume, made
    // the difference in the accept case.
    def pairs(rs: Range) = rs.flatMap { r =>
      Seq(
        Suggestion(r.toLong, "seg", "c_good", s"T$r", 0.6),
        Suggestion(r.toLong, "seg", "c_bad", s"F$r", 0.9)
      )
    }
    val allSugg = (pairs(1 to 10) ++ pairs(101 to 120)).toDF()
    val labeled = (1 to 4).map(r => (r.toLong, "seg", s"T$r")).toDF("row_id", "col", "clean_value")
    val synthInverted = (101 to 120).map(r => (r.toLong, "seg", s"F$r")).toDF("row_id", "col", "clean_value")
    val out = MetaLearner
      .trainPredict(
        MetaLearner.pairFeatures(allSugg, Seq("c_bad", "c_good")),
        Seq("c_bad", "c_good"),
        labeled,
        minLabels = 10,
        synthLabeled = Some(synthInverted)
      )
      .collect()
      .map(r => (r.getLong(0), r.getString(2)))
      .toMap
    assert(out.keySet == (5L to 10L).toSet)
    assert((5L to 10L).forall(r => out(r) == s"F$r"), s"expected gate rejection + A13, got $out")
  }

  test("M10 ET gate drops synthetic pairs for columns the cache corrector already solved") {
    // same accept-ready synthetic data, but the column is ET-gated ->
    // synth dropped -> A13 fallback again
    def pairs(rs: Range) = rs.flatMap { r =>
      Seq(
        Suggestion(r.toLong, "seg", "c_good", s"T$r", 0.6),
        Suggestion(r.toLong, "seg", "c_bad", s"F$r", 0.9)
      )
    }
    val allSugg = (pairs(1 to 10) ++ pairs(101 to 120)).toDF()
    val labeled = (1 to 4).map(r => (r.toLong, "seg", s"T$r")).toDF("row_id", "col", "clean_value")
    val synthTrue = (101 to 120).map(r => (r.toLong, "seg", s"T$r")).toDF("row_id", "col", "clean_value")
    val out = MetaLearner
      .trainPredict(
        MetaLearner.pairFeatures(allSugg, Seq("c_bad", "c_good")),
        Seq("c_bad", "c_good"),
        labeled,
        minLabels = 10,
        synthLabeled = Some(synthTrue),
        etColumns = Seq("seg")
      )
      .collect()
      .map(r => (r.getLong(0), r.getString(2)))
      .toMap
    assert((5L to 10L).forall(r => out(r) == s"F$r"), s"expected ET-gated A13, got $out")
  }

  test("etGateColumns flags exactly the columns where cache suggestions hit user labels") {
    val cacheSugg = Seq(
      Suggestion(1L, "seg", "llm_correction", "GOOD", 0.9),
      Suggestion(2L, "other", "llm_correction", "X", 0.9)
    ).toDF()
    val labeled = Seq((1L, "seg", "GOOD"), (2L, "other", "Y")).toDF("row_id", "col", "clean_value")
    assert(MetaLearner.etGateColumns(cacheSugg, labeled) == Seq("seg"))
  }

  test("vicinityCorrectorPdep keeps only the n-best gpdep deps") {
    // l1 determines r perfectly (high gpdep); l2 is constant (no
    // dependency) — with nBest=1 only l1 survives
    val df = Seq(
      (1L, "a", "k", "x"),
      (2L, "a", "k", "x"),
      (3L, "b", "k", "y"),
      (4L, "b", "k", "y"),
      (5L, "a", "k", "BAD")
    ).toDF("row_id", "l1", "l2", "r")
    val errors = Seq(ErrorCell(5L, "r", "BAD")).toDF()
    val sugg = Correctors
      .vicinityCorrectorPdep(df, errors, "row_id", Seq("l1", "l2", "r"), nBest = 1)
      .collect()
      .map(r => (r.getAs[String]("corrector"), r.getAs[String]("candidate"), r.getAs[Double]("score")))
    assert(sugg.forall(_._1 == "vicinity_pdep_l1"))
    assert(sugg.toSet == Set(("vicinity_pdep_l1", "x", 1.0)))
  }

  test("order-2 vicinity counts key by unordered lhs pairs, masked") {
    val df = Seq(
      (1L, "a", "p", "x"),
      (2L, "a", "p", "x"),
      (3L, "a", "q", "y"),
      (4L, "a", "p", "BAD")
    ).toDF("row_id", "l1", "l2", "r")
    val errors = Seq(ErrorCell(4L, "r", "BAD")).toDF()
    val counts = Correctors
      .allCountsOrder2(df, errors, "row_id", Seq("l1", "l2", "r"))
      .filter(col("rhs_col") === "r")
      .collect()
      .map(r => (r.getString(3), r.getString(4), r.getString(5), r.getLong(6)))
      .toSet
    assert(counts == Set(("a", "p", "x", 2L), ("a", "q", "y", 1L)))

    val sugg = Correctors
      .vicinityCorrectorOrder2(df, errors, "row_id", Seq("l1", "l2", "r"))
      .collect()
      .map(r => (r.getAs[String]("corrector"), r.getAs[String]("candidate"), r.getAs[Double]("score")))
      .toSet
    // error row 4 has (l1,l2)=(a,p) -> candidate x with pr 1.0
    assert(sugg == Set(("vicinity_2_l1_l2", "x", 1.0)))
  }

  test("order-n vicinity generalizes: n=2 equals the dedicated path, n=3 conditions on triples") {
    val df = Seq(
      (1L, "a", "p", "u", "x"),
      (2L, "a", "p", "u", "x"),
      (3L, "a", "p", "v", "y"),
      (4L, "a", "q", "u", "y"),
      (5L, "a", "p", "u", "BAD")
    ).toDF("row_id", "l1", "l2", "l3", "r")
    val errors = Seq(ErrorCell(5L, "r", "BAD")).toDF()
    val cols = Seq("l1", "l2", "l3", "r")

    // n=2 through the generic path == the dedicated order-2 corrector
    // (same corrector names, candidates, and scores)
    val gen2 = Correctors
      .vicinityCorrectorOrderN(df, errors, "row_id", cols, 2)
      .select("row_id", "col", "corrector", "candidate", "score")
    val ded2 = Correctors
      .vicinityCorrectorOrder2(df, errors, "row_id", cols)
      .select("row_id", "col", "corrector", "candidate", "score")
    assert(gen2.except(ded2).isEmpty && ded2.except(gen2).isEmpty)

    // n=3: the error row's triple (l1,l2,l3)=(a,p,u) has clean
    // completions x,x (rows 1,2) -> pr 1.0 for x; order-2's pair
    // (l2,l3)=(p,u) would have admitted y via row 4? no — (p,u) rows
    // are 1,2 only; pair (l1,l3)=(a,u) admits y via row 4. The triple
    // is strictly sharper.
    val sugg3 = Correctors
      .vicinityCorrectorOrderN(df, errors, "row_id", cols, 3)
      .collect()
      .map(r => (r.getAs[String]("corrector"), r.getAs[String]("candidate"), r.getAs[Double]("score")))
      .toSet
    assert(sugg3 == Set(("vicinity_3_l1_l2_l3", "x", 1.0)))

    // masked: the error cell never contributes a candidate count
    val c3 = Correctors
      .allCountsOrder3(df, errors, "row_id", cols)
      .filter(col("rhs_col") === "r" && col("candidate") === "BAD")
    assert(c3.isEmpty)

    // lifecycle wiring: vicinityOrders=[3] runs the generic corrector
    val noLabels = Seq.empty[(Long, String, String)].toDF("row_id", "col", "clean_value")
    val corrections = Cleaning.run(
      df,
      "row_id",
      cols,
      errors.toDF(),
      noLabels,
      cfg = CleaningConfig(
        useFd = false,
        useVicinity1 = false,
        useVicinity2 = false,
        vicinityOrders = Seq(3),
        useImputer = false,
        useValue = false
      )
    )
    val got = corrections.collect().map(r => ((r.getLong(0), r.getString(1)), r.getString(2))).toMap
    assert(got == Map((5L, "r") -> "x"))
  }

  test("statsDF emits one row per FD with rounded stats") {
    val noErr = spark.emptyDataset[ErrorCell].toDF()
    val out = Pdep
      .statsDF(tbl, noErr, "row_id", Seq(Fd(Seq("l"), "r")))
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("fd_key") == "l->r")
    assert(r.getAs[Long]("n") == 4L)
    // pdep(l->r) = (2^2/3 + 1/3 + 1/1) / 4 = (4/3 + 1/3 + 1) / 4 = 2/3
    assert(math.abs(r.getAs[Double]("pdep_ab") - 0.666667) < 1e-9)
  }
}
