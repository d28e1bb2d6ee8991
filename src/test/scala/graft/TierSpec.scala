package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Pins [[Tier]], the one fail-closed tier predicate, and keeps its policy
  * from being copied back into the callers. */
class TierSpec extends SparkSpec {

  private def est(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** A LogicalRDD frame: Catalyst has no size stats for it. */
  private def statsLess(): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L), Row(2L)), 1),
      StructType(Seq(StructField("x", LongType))))

  private def optimized(df: DataFrame): Boolean =
    df.queryExecution.tracker.phases.contains(QueryPlanningTracker.OPTIMIZATION)

  test("a cap of 0 returns false without optimizing any input") {
    val df = spark.range(10).selectExpr("id * 2 AS v")
    Tier.fits(0L, df) shouldBe false
    optimized(df) shouldBe false
    // Non-vacuous: a positive cap does reach the optimizer.
    Tier.fits(Tier.LocalBytes, df) shouldBe true
    optimized(df) shouldBe true
  }

  test("the summed estimate fits a cap exactly at it, not one byte under") {
    val a = spark.range(100).toDF()
    val b = spark.range(7).selectExpr("id", "id + 1 AS w")
    val sum = est(a) + est(b)
    sum should be > BigInt(0)
    Tier.fits(sum.toLong, a, b) shouldBe true
    Tier.fits(sum.toLong - 1, a, b) shouldBe false
  }

  test("an input without size stats fails closed") {
    val df = statsLess()
    est(df) shouldBe BigInt(Long.MaxValue)
    Tier.fits(Tier.LocalBytes, df) shouldBe false
  }

  test("the sum is a BigInt: two Long.MaxValue estimates do not wrap") {
    Tier.fits(Long.MaxValue, statsLess(), statsLess()) shouldBe false
  }

  test("no file under src/main but Tier.scala restates the tier policy") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p)).toSeq
    def text(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")
    val (tier, rest) =
      files.partition(_.toString.replace('\\', '/') == "src/main/scala/graft/Tier.scala")
    tier should have size 1
    rest should not be empty
    for (needle <- Seq("sizeInBytes", "64L << 20")) {
      text(tier.head) should include(needle)
      rest.filter(p => text(p).contains(needle)).map(_.toString) shouldBe empty
    }
  }
}
