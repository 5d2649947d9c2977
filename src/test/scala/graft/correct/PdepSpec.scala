package graft.correct

import graft.SparkSpec

/** Golden values from the reference's only automated test module,
  * `src/test_pdep.py` (people 7-row table, small 4-row table with
  * error masking). Numbers: pdep(city)=0.43, pdep(zip->city)=0.81,
  * pdep((name,zip)->city)=1.0, E[pdep(zip->city)]=0.62; masking:
  * 0.33 / 1 / 1 / None / None.
  */
class PdepSpec extends SparkSpec {
  import spark.implicits._

  private lazy val people = Seq(
    (1L, "Natalie", "14193", "Berlin"),
    (2L, "Alice", "14193", "Berlin"),
    (3L, "Tim", "14880", "Potsdam"),
    (4L, "Bob", "14882", "Potsdam"),
    (5L, "Bob", "14882", "Potsdam"),
    (6L, "Alice", "14880", "Potsdam"),
    (7L, "Bob", "14193", "Berln")
  ).toDF("row_id", "name", "zip", "city")

  private lazy val noErrors = spark.emptyDataset[ErrorCell].toDF()

  // 4-row table for the error-masking goldens (test_pdep.py:80-85)
  private lazy val small = Seq(
    (0L, "1", "Natalie"),
    (1L, "2", "Alice"),
    (2L, "3", "Tim"),
    (3L, "4", "Bob")
  ).toDF("row_id", "id", "name")

  private def round2(x: Double) = math.round(x * 100) / 100.0

  test("pdep(city) = 0.43") {
    // lhs irrelevant for pdep(B) with no errors; reference uses id->city context
    val s = Pdep.stats(people, noErrors, "row_id", Fd(Seq("name"), "city"))
    assert(round2(s.pdepB.get) == 0.43)
    assert(s.n == 7)
  }

  test("pdep(zip -> city) = 0.81") {
    val s = Pdep.stats(people, noErrors, "row_id", Fd(Seq("zip"), "city"))
    assert(round2(s.pdepAB.get) == 0.81)
  }

  test("pdep((name, zip) -> city) = 1.0") {
    val s = Pdep.stats(people, noErrors, "row_id", Fd(Seq("name", "zip"), "city"))
    assert(round2(s.pdepAB.get) == 1.0)
  }

  test("E[pdep(zip -> city)] = 0.62") {
    val s = Pdep.stats(people, noErrors, "row_id", Fd(Seq("zip"), "city"))
    assert(round2(s.epdep.get) == 0.62)
  }

  test("masking: one lhs error -> pdep(id)=0.33 in context name->id") {
    val errors = Seq(ErrorCell(0L, "id", "0")).toDF()
    val s = Pdep.stats(small, errors, "row_id", Fd(Seq("name"), "id"))
    assert(s.n == 3)
    assert(round2(s.pdepB.get) == 0.33)
  }

  test("masking: all lhs errors -> None") {
    val errors = (0L to 3L).map(r => ErrorCell(r, "id", r.toString)).toDF()
    val s = Pdep.stats(small, errors, "row_id", Fd(Seq("name"), "id"))
    assert(s.n == 0 && s.pdepB.isEmpty && s.pdepAB.isEmpty && s.gpdep.isEmpty)
  }

  test("masking: two lhs errors -> pdep(id->name)=1") {
    val errors = Seq(ErrorCell(0L, "id", "0"), ErrorCell(1L, "id", "1")).toDF()
    val s = Pdep.stats(small, errors, "row_id", Fd(Seq("id"), "name"))
    assert(s.n == 2)
    assert(round2(s.pdepAB.get) == 1.0)
  }

  test("masking: two rhs errors -> pdep(id->name)=1") {
    val errors = Seq(ErrorCell(0L, "name", "Otto"), ErrorCell(1L, "name", "Hanna")).toDF()
    val s = Pdep.stats(small, errors, "row_id", Fd(Seq("id"), "name"))
    assert(s.n == 2)
    assert(round2(s.pdepAB.get) == 1.0)
  }

  test("masking: all rhs errors -> None") {
    val errors = (0L to 3L).map(r => ErrorCell(r, "name", "x")).toDF()
    val s = Pdep.stats(small, errors, "row_id", Fd(Seq("id"), "name"))
    assert(s.n == 0 && s.pdepAB.isEmpty)
  }

  test("gpdepTable runs one root SQL execution for 1 and for 6 FDs and caches nothing") {
    val errors = Seq(ErrorCell(7L, "city", "Berln")).toDF()
    val cols = Seq("name", "zip", "city")
    val six = for { lhs <- cols; rhs <- cols if lhs != rhs } yield Fd(Seq(lhs), rhs)
    for (fds <- Seq(six.take(1), six)) {
      val before = cachedPlans
      val (gp, executions) = rootExecutionsDuring(Pdep.gpdepTable(people, errors, "row_id", fds))
      assert(executions == 1, s"${fds.size} FDs")
      assert(gp.keySet == fds.map(_.key).toSet)
      assert(cachedPlans <= before)
    }
    // the one-action table agrees with the single-FD view
    val gp = Pdep.gpdepTable(people, noErrors, "row_id", six)
    def rounded(s: PdepStats) =
      (s.n, Seq(s.pdepB, s.pdepAB, s.epdep, s.gpdep).map(_.map(x => math.round(x * 1e9))))
    six.foreach(fd => assert(rounded(gp(fd.key)._1) == rounded(Pdep.stats(people, noErrors, "row_id", fd))))
  }

  test("cell diff finds exactly the differing cells") {
    val dirty = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("row_id", "c1", "c2")
    val clean = Seq((1L, "a", "X"), (2L, "B", "y")).toDF("row_id", "c1", "c2")
    val diff = Cells.cellDiff(dirty, clean, "row_id", Seq("c1", "c2")).collect()
    assert(diff.length == 2)
    val got = diff.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(got == Set((1L, "c2", "x", "X"), (2L, "c1", "b", "B")))
  }

  test("applyCorrections overlays cell values") {
    val df = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("row_id", "c1", "c2")
    val corr = Seq(Correction(1L, "c2", "X"), Correction(2L, "c1", "B")).toDF()
    val out = Cells
      .applyCorrections(df, corr, "row_id", Seq("c1", "c2"))
      .orderBy("row_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.toSeq == Seq((1L, "a", "X"), (2L, "B", "y")))
  }
}
