package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PolitenessSpec extends SparkSpec {
  import spark.implicits._

  test("per-host slots are priority-ordered, 0-based, and delay-scaled") {
    val urls = Seq(
      ("h1", 1L, 10L), ("h1", 2L, 30L), ("h1", 3L, 20L),
      ("h2", 4L, 5L)
    ).toDF("host", "id", "prio")
    val got = Politeness
      .schedule(urls, "host", priority = col("prio"), tieBreak = "id", delaySec = lit(7))
      .select("id", "slot", "fetch_offset_s")
      .as[(Long, Long, Long)]
      .collect()
      .map(r => r._1 -> (r._2, r._3))
      .toMap
    assert(got(2L) == (0L, 0L)) // highest priority first
    assert(got(3L) == (1L, 7L))
    assert(got(1L) == (2L, 14L))
    assert(got(4L) == (0L, 0L)) // hosts schedule independently
  }

  test("priority ties break on the tie-break column, ascending") {
    val urls = Seq(("h", 9L, 1L), ("h", 3L, 1L)).toDF("host", "id", "prio")
    val got = Politeness
      .schedule(urls, "host", priority = col("prio"), tieBreak = "id", delaySec = lit(2))
      .select("id", "slot")
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(got(3L) == 0L && got(9L) == 1L)
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" / ")

  test("a negative delay or one above a day raises; exactly a day is accepted") {
    val urls = Seq(("h", 1L, 1L), ("h", 2L, 2L)).toDF("host", "id", "prio")
    def offsets(delay: org.apache.spark.sql.Column) =
      Politeness
        .schedule(urls, "host", priority = col("prio"), tieBreak = "id", delaySec = delay)
        .select("fetch_offset_s")
        .as[Long]
        .collect()
        .sorted
        .toSeq
    assert(offsets(lit(Politeness.MaxDelaySec)) == Seq(0L, Politeness.MaxDelaySec))
    for (bad <- Seq(lit(-1), lit(Politeness.MaxDelaySec + 1), when(col("id") === 2L, lit(-0.5)).otherwise(lit(3)))) {
      val e = intercept[Exception](offsets(bad))
      assert(messages(e).contains("crawl delay out of [0, 86400] s"), messages(e))
    }
  }

  test("null delays are left out of the host max; an all-null host gets a null offset") {
    val urls = Seq(
      ("h1", 1L, 3L, Some(5L)), ("h1", 2L, 2L, None), ("h1", 3L, 1L, None),
      ("h2", 4L, 1L, None), ("h2", 5L, 0L, None)
    ).toDF("host", "id", "prio", "delay")
    val got = Politeness
      .schedule(urls, "host", priority = col("prio"), tieBreak = "id", delaySec = col("delay"))
      .select("id", "fetch_offset_s")
      .collect()
      .map(r => r.getLong(0) -> Option(r.get(1)))
      .toMap
    assert(got == Map(1L -> Some(0L), 2L -> Some(5L), 3L -> Some(10L), 4L -> None, 5L -> None))
  }
}
