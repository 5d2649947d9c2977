package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Registry consistency: every driver query has exactly one oracle, and
  * every golden resource is the oracle of a registered query, so
  * dropping a query cannot leave a dangling oracle or an orphan golden.
  */
class OracleParitySpec extends AnyFunSuite {

  test("queries and oracles share one key set; every golden names a kept query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql
    assert(queries -- oracles.keySet == Set.empty, "queries without an oracle")
    assert(oracles.keySet -- queries == Set.empty, "oracles without a query")

    val dir = Paths.get(getClass.getResource("/graft/goldens").toURI)
    val goldens = Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    assert(goldens.nonEmpty)
    for (file <- goldens) {
      assert(file.endsWith(".sql"), s"unexpected golden resource $file")
      val name = file.stripSuffix(".sql")
      assert(queries.contains(name), s"golden $file names no registered query")
      assert(oracles(name) == Goldens(name), s"golden $file is not the oracle of $name")
    }
  }
}
