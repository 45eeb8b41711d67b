package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.queries.QuerySpec

/** The query registry: each name is declared once, and every query the
  * sf1eq oracle pass selects by name is registered (`Verify` filters by
  * name, so a renamed query would silently drop out of that pass). */
class QueryRegistrySpec extends AnyFlatSpec with Matchers {

  private def spec(name: String): QuerySpec =
    QuerySpec(name, (s, _) => s.emptyDataFrame, "SELECT 1")

  "QuerySpec.registry" should "reject a query name declared twice" in {
    val e = intercept[IllegalArgumentException] {
      QuerySpec.registry(Seq(spec("q_a"), spec("q_b"), spec("q_a")))
    }
    e.getMessage should include("q_a")
    e.getMessage should not include "q_b"
  }

  it should "index distinct names" in {
    QuerySpec.registry(Seq(spec("q_a"), spec("q_b"))).keySet shouldBe
      Set("q_a", "q_b")
  }

  "SparkEntry" should "register every query the sf1eq oracle pass names" in {
    val script = java.nio.file.Files.readString(
      java.nio.file.Paths.get("tools/sf1eq_oracle_pass.sh"),
      java.nio.charset.StandardCharsets.UTF_8)
    val names = script.linesIterator.collectFirst {
      case l if l.startsWith("QUERIES=") => l.stripPrefix("QUERIES=").split(',').toSeq
    }.getOrElse(fail("no QUERIES= line in tools/sf1eq_oracle_pass.sh"))
    names should not be empty
    names.filterNot(SparkEntry.queries.contains) shouldBe empty
  }
}
