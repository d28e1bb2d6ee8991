package graft

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Counts README.md states must match the code they describe. */
class DocCountsSpec extends AnyFunSuite with Matchers {

  private lazy val readme = {
    val src = Source.fromFile("README.md", "UTF-8")
    try src.mkString finally src.close()
  }

  test("README's named-query count is SparkEntry.queries.size") {
    val stated = """`SparkEntry.queries` — (\d+) named queries""".r
      .findFirstMatchIn(readme).map(_.group(1).toInt)
    stated shouldBe Some(SparkEntry.queries.size)
    """carries DuckDB SQL for ALL (\d+)""".r.findFirstMatchIn(readme)
      .map(_.group(1).toInt) shouldBe Some(SparkEntry.oracleSql.size)
    SparkEntry.oracleSql.keySet shouldBe SparkEntry.queries.keySet
  }
}
