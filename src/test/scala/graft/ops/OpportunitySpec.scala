package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The round-17 windowed-priority fusion vs the reference CTE shape
  * (`aact_gold_layer.sql:264-290`: aggregate lineitem → left-join orders
  * → filter → RE-join lineitem): best_priority is constant across an
  * order's lines, so filtering lines by the windowed min must keep
  * exactly the qualifying orders' full line sets. The q17 DuckDB oracle
  * replays the reference shape over the whole corpus; this spec pins the
  * same equality on hand-checkable edge cases — an order with no lines,
  * an all-priority-3 order, a non-F order, and mixed-priority line sets
  * whose non-R lines must still ride. */
class OpportunitySpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  // Orders: 1 = F, mixed-priority 11-line set (kept — has an R line; its
  // N lines must ride too), 2 = F but every line priority 3 (dropped),
  // 3 = F with NO lines (dropped either shape), 4 = O status with an R
  // line (dropped), 5 = F with an A line (kept via priority 2), 6 = F
  // with a NULL custkey and an R line (KEPT — the reference shape's
  // customer join is downstream and LEFT, so a null-key order still
  // counts in total/recent/older; a presence proxy keyed on custkey
  // would silently drop it — ADVICE r17).
  private def orders = df(
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_orderdate TIMESTAMP",
    Seq(
      Row(1L, 10L, "F", ts("1997-06-01 00:00:00")),
      Row(2L, 11L, "F", ts("1997-06-01 00:00:00")),
      Row(3L, 12L, "F", ts("1997-06-01 00:00:00")),
      Row(4L, 13L, "O", ts("1997-06-01 00:00:00")),
      Row(5L, 14L, "F", ts("1995-06-01 00:00:00")),
      Row(6L, null, "F", ts("1997-07-01 00:00:00"))))

  private def lineitem = df(
    "l_orderkey BIGINT, l_partkey BIGINT, l_quantity BIGINT, l_returnflag STRING",
    (Row(1L, 100L, 40L, "R") +:
      (101L to 110L).map(k => Row(1L, k, (k - 70L), "N"))) ++ // 31..40 ≥ 30 mostly
      Seq(
        Row(2L, 100L, 35L, "N"), Row(2L, 102L, 5L, "N"),
        Row(4L, 100L, 50L, "R"),
        Row(5L, 101L, 31L, "A"), Row(5L, 101L, 2L, "N"),
        Row(6L, 100L, 33L, "R"), Row(6L, 103L, 4L, "N")))

  // One shared name: the qualifying fan-out (11 + 2 lines) clears the
  // >10-trials floor as a single group.
  private def part = df("p_partkey BIGINT, p_name STRING",
    (100L to 111L).map(k => Row(k, "shared metal")))

  private def customer = df("c_custkey BIGINT, c_mktsegment STRING",
    Seq(Row(10L, "BUILDING"), Row(11L, "AUTOMOBILE"), Row(14L, "BUILDING")))

  /** The reference CTE shape, verbatim: aggregate → left join → filter →
    * re-join (the exact formulation opportunityRank round-17 fused into
    * the window filter). */
  private def referenceFanout: DataFrame = {
    val priority = lineitem.groupBy(col("l_orderkey").as("tp_orderkey"))
      .agg(min(when(col("l_returnflag") === "R", 1)
        .when(col("l_returnflag") === "A", 2).otherwise(3)).as("bp"))
    orders
      .join(priority, col("o_orderkey") === col("tp_orderkey"), "left")
      .filter(coalesce(col("bp"), lit(99)) <= 2 && col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .join(lineitem.select(col("l_orderkey"), col("l_partkey"), col("l_quantity")),
        col("o_orderkey") === col("l_orderkey"))
  }

  test("windowed priority filter keeps exactly the reference shape's fan-out rows") {
    val rows = referenceFanout.collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5))).toSet
    // orders 1, 5 and 6 only, with ALL their lines (incl. every N line)
    rows.map(_._1) shouldBe Set(1L, 5L, 6L)
    rows.size shouldBe 15
    rows should contain((1L, 101L, 31L)) // an N line of the R order rides
    rows should contain((5L, 101L, 2L))  // the N line of the A order rides
    rows should contain((6L, 103L, 4L))  // the null-custkey order's lines ride
  }

  test("opportunityRank output matches the reference-shaped derivation end to end") {
    // The reference tail over referenceFanout — an independent plan shape
    // (agg + rejoin vs window fusion) deriving the same output.
    val expected = referenceFanout
      .join(part, col("l_partkey") === col("p_partkey"))
      .join(customer.filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("p_name"))
      .agg(
        count(lit(1)).as("total_trials"),
        sum(when(col("l_quantity") >= 30, 1).otherwise(0)).as("late_phase_count"),
        sum(when(col("o_orderdate").between(
          to_timestamp(lit("1997-01-01 00:00:00")),
          to_timestamp(lit("1998-08-01 00:00:00"))), 1).otherwise(0)).as("recent_trials"),
        sum(when(col("o_orderdate") < to_timestamp(lit("1996-01-01 00:00:00")), 1)
          .otherwise(0)).as("older_trials"),
        countDistinct(col("c_custkey")).as("industry_sponsors"))
      .filter(col("total_trials") > 10 && !Categorize.ilike(col("p_name"), "%old%"))
      .withColumn("opportunity_score", round(
        lit(0.4) * col("late_phase_count") / col("total_trials") +
          lit(0.3) * col("recent_trials") / col("total_trials") +
          lit(0.2) / (lit(1.0) + col("industry_sponsors")) +
          lit(0.1) * col("recent_trials") / (col("older_trials") + lit(1.0)), 6))
      .withColumn("opportunity_rank",
        row_number().over(Window.orderBy(col("opportunity_score").desc, col("p_name"))))
      .select(col("p_name"), col("total_trials"), col("late_phase_count"),
        col("recent_trials"), col("older_trials"), col("industry_sponsors"),
        col("opportunity_score"), col("opportunity_rank"))
      .collect().map(_.toSeq).sortBy(_.toString)

    val got = Opportunity.opportunityRank(orders, lineitem, part, customer)
      .collect().map(_.toSeq).sortBy(_.toString)
    got should not be empty // the 13-row group cleared the >10 floor
    got shouldBe expected
  }

  /** The same rows as a LocalRelation, which (unlike df()'s LogicalRDD)
    * carries Catalyst size stats, so the [[graft.Tier]] guards can admit
    * it. */
  private def sized(d: DataFrame): DataFrame =
    spark.createDataFrame(d.collectAsList(), d.schema)

  private def rows(d: DataFrame): Seq[Seq[Any]] =
    d.collect().map(_.toSeq).toSeq.sortBy(_.toString)

  private val shuffle =
    """.*\bExchange (hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning).*""".r

  test("rank tiers identical: guarded global window ≡ distributed prefix count") {
    // df() frames carry no Catalyst stats (LogicalRDD → Long.Max), so the
    // default guards fail CLOSED to the distributed rank — the end-to-end
    // test above therefore covers that tier. The guarded global window
    // needs inputs with stats; both tiers run distributed scores here
    // (one-task tier off) and must agree row-for-row (the r20
    // window-audit conversion: ascending (-score, p_name) prefix count ≡
    // (score DESC, p_name) row_number).
    val dist = Opportunity.opportunityRank(orders, lineitem, part, customer,
      maxGlobalRankBytes = 0L, oneTaskBytes = 0L)
    val global = Opportunity.opportunityRank(sized(orders), sized(lineitem),
      sized(part), sized(customer), oneTaskBytes = 0L)
    val globalPlan = global.queryExecution.executedPlan.toString
    globalPlan should include("row_number()")
    globalPlan.split("\n").count(l => shuffle.matches(l)) should be > 0
    rows(dist) should not be empty
    rows(dist) shouldBe rows(global)
  }

  test("one-task rank: no shuffle, same rows as both distributed regimes") {
    val oneTask = Opportunity.opportunityRank(sized(orders), sized(lineitem),
      sized(part), sized(customer))
    val plan = oneTask.queryExecution.executedPlan.toString
    plan should include("Coalesce 1")
    plan should include("row_number()")
    plan.split("\n").filter(l => shuffle.matches(l)) shouldBe empty
    val dist = Opportunity.opportunityRank(orders, lineitem, part, customer,
      maxGlobalRankBytes = 0L, oneTaskBytes = 0L)
    rows(oneTask) should not be empty
    rows(oneTask) shouldBe rows(dist)
    rows(oneTask) shouldBe rows(Opportunity.opportunityRank(sized(orders),
      sized(lineitem), sized(part), sized(customer), oneTaskBytes = 0L))
  }
}
