package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Flagship analytical dataflow — a faithful structural clone of
  * `gold.opportunity_rank` (`aact_gold_layer.sql:260-349`) over the testdata
  * star schema (SURVEY §7.3 mapping: orders=trials, lineitem=interventions,
  * part=conditions, customer=sponsors).
  *
  * Reference dataflow (4 CTEs):
  *   trial_priority    := GroupBy(orderkey) min(CASE returnflag)       (:264-275)
  *   relevant_trials   := Filter(coalesce(bp,99)<=2 AND status='F')
  *                          (orders LEFT JOIN trial_priority)          (:278-290)
  *   condition_metrics := GroupBy(name) count + 3×sum(CASE)            (:293-308)
  *   condition_sponsors:= GroupBy(name) count(DISTINCT sponsor)        (:311-325)
  *   final             := weighted score over metrics ⟕ sponsors       (:328-349)
  *
  * We fuse condition_metrics and condition_sponsors into ONE aggregation:
  * the sponsor count is `COUNT(DISTINCT sponsor) FILTER (industry)`, which a
  * left join to the pre-filtered sponsor dim followed by
  * `countDistinct(c_custkey)` computes exactly (nulls never count, so
  * no-industry groups get 0 — same as the reference's COALESCE(...,0) on the
  * left join). Semantically identical, and it halves the plan: the reference
  * shape made Catalyst execute the whole relevant⋈items⋈part subtree TWICE
  * (once per aggregate) — at 100 TB that is two full fact scans instead of
  * one, plus an extra shuffle for the metrics⟕sponsors join.
  *
  * Pre-aggregation BEFORE joining the per-condition results back to anything
  * wider remains semantic, not stylistic — aggregating after a further
  * fan-out join would double-count (SURVEY §4.1).
  */
object Opportunity {

  /** @param excludePattern NOT-ILIKE exclusion over the condition name,
    *                       mirroring `name NOT ILIKE '%healthy%'`
    *                       (aact_gold_layer.sql:349). Matched
    *                       case-insensitively on BOTH sides, so
    *                       '%Healthy%' and '%healthy%' behave identically. */
  def opportunityRank(orders: DataFrame, lineitem: DataFrame,
                      part: DataFrame, customer: DataFrame,
                      excludePattern: String = "%old%",
                      maxGlobalRankBytes: Long = graft.Tier.LocalBytes,
                      oneTaskBytes: Long = graft.Tier.OneTaskBytes): DataFrame = {
    // TIERED global rank (r20, the window-audit item): the rank's input
    // was the one partition-less window frame in the engine that GROWS
    // with the corpus (qualifying conditions ∝ the part dimension ∝ SF
    // — every other global frame is bounded by a constant or a config
    // knob), so the unconditional SinglePartition rank was the audit's
    // lone scale-killer candidate. Inputs [[graft.Tier]] admits under
    // `maxGlobalRankBytes` keep the reference-exact single-window rank;
    // the rest rank via [[SurrogateKeys.denseRankKey]] over ascending
    // (-score, p_name) — the range-exchange + per-partition row_number
    // + broadcast-offsets two-phase — which yields the IDENTICAL dense
    // 1..N rank (negation reverses the IEEE order for every non-NaN
    // pair; scores are finite by construction). OpportunitySpec pins
    // tier equality; PlanSpec pins that the forced tier carries no
    // partition-less window. The guard sums the RAW input stats —
    // post-aggregation the frame only shrinks, so the estimate is an
    // upper bound.
    //
    // Inputs that fit `oneTaskBytes` are first coalesced to one
    // partition: the per-order window, the aggregation and the rank then
    // plan with no Exchange (broadcasts stay), so the whole rank is one
    // task instead of a stage chain whose fixed cost dwarfs MB-sized
    // inputs. `0L` keeps the distributed scores; OpportunitySpec pins
    // the three regimes equal.
    val oneTask = graft.Tier.fits(oneTaskBytes, orders, lineitem, part, customer)
    val Seq(o, l, p, c) = Seq(orders, lineitem, part, customer)
      .map(d => if (oneTask) d.coalesce(1) else d)
    val scores = opportunityScores(o, l, p, c, excludePattern)
    val small = graft.Tier.fits(maxGlobalRankBytes,
      orders, lineitem, part, customer)
    val ranked =
      if (small)
        scores.withColumn("opportunity_rank",
          row_number().over(
            Window.orderBy(col("opportunity_score").desc, col("p_name"))))
      else
        SurrogateKeys.denseRankKey(
            scores.withColumn("_negscore", -col("opportunity_score")),
            "opportunity_rank", Seq("_negscore", "p_name"))
          .withColumn("opportunity_rank", col("opportunity_rank").cast("int"))
    ranked.select(
      col("p_name"), col("total_trials"), col("late_phase_count"),
      col("recent_trials"), col("older_trials"), col("industry_sponsors"),
      col("opportunity_score"), col("opportunity_rank"))
  }

  /** The rank's input: per-condition metrics + weighted score, the
    * whole single-pass dataflow minus the global rank itself. Public so
    * the plan pins (scan-once, broadcast dims, exchange budget) assert
    * on a frame whose plan is not truncated by the rank's checkpoint. */
  def opportunityScores(orders: DataFrame, lineitem: DataFrame,
                        part: DataFrame, customer: DataFrame,
                        excludePattern: String = "%old%"): DataFrame = {
    // trial_priority + relevant_trials + the fan-out re-join
    // (aact_gold_layer.sql:264-305: A4 min-CASE best-of, J5 left join +
    // fallback filter, J6 M:N re-join) — fused into ONE co-partitioned
    // exchange (round 17; round 18 swapped the per-order collect_list
    // aggregate for a WINDOW over the same union). The reference shape
    // aggregates lineitem, joins orders, then joins lineitem AGAIN: at
    // any scale that is a fact-sized aggregation exchange plus a
    // fact⋈fact join shuffle PAIR (and at bench scale, 3-4 serialized
    // stage boundaries of pure latency — the cell sat on the 1 s weak
    // line from r15 on). Both facts key on orderkey, so ONE tagged
    // union co-locates them, and partition-local window functions per
    // order compute: the best priority (min over its line rows) and the
    // order attributes (max over the single order row — F-filtered
    // before the union, with an EXPLICIT presence marker `_ord` so a
    // surviving group is kept iff its order row exists; keying presence
    // off o_custkey would silently drop an F-status order whose custkey
    // is null, where the reference shape — left join + bp filter, then
    // re-join; the customer join is downstream and LEFT — keeps its
    // fan-out rows in every count). A surviving order's LINE rows are
    // then the reference re-join's fan-out set verbatim — no second
    // lineitem pass, and (vs the r17 formulation) no ObjectHashAggregate
    // materializing a per-order struct array only for explode to flatten
    // it back: the window sorts each shuffle partition once and streams
    // (~0.35 s off the cell's standalone floor at sf0.1).
    // (OpportunitySpec pins the equality against the reference-shaped
    // agg+rejoin on the no-lines / all-priority-3 / non-F / null-custkey
    // / mixed-line edge cases; the q17 oracle replays the reference CTE
    // structure wholesale.)
    val lineLeg = lineitem.select(col("l_orderkey").as("_ok"),
      when(col("l_returnflag") === "R", 1)
        .when(col("l_returnflag") === "A", 2)
        .otherwise(3).as("_pri"),
      lit(null).cast("long").as("_ck"),
      lit(null).cast("timestamp").as("_od"),
      lit(null).cast("int").as("_ord"),
      col("l_partkey"), col("l_quantity"))
    val orderLeg = orders.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("_ok"),
        lit(null).cast("int").as("_pri"),
        col("o_custkey").as("_ck"),
        col("o_orderdate").as("_od"),
        lit(1).as("_ord"),
        lit(null).cast(lineitem.schema("l_partkey").dataType).as("l_partkey"),
        lit(null).cast(lineitem.schema("l_quantity").dataType).as("l_quantity"))
    val w = Window.partitionBy(col("_ok"))
    val fanout = lineLeg.unionByName(orderLeg)
      .select(col("_pri"), col("l_partkey"), col("l_quantity"),
        min(col("_pri")).over(w).as("best_priority"),
        max(col("_ck")).over(w).as("o_custkey"),
        max(col("_od")).over(w).as("o_orderdate"),
        max(col("_ord")).over(w).as("_ordp"))
      // null best_priority (an order with NO lines) fails <= exactly as
      // coalesce(bp, 99) does; null _ordp = no order row; _pri NOT null
      // selects the LINE rows — which, for a surviving order, ARE the
      // reference re-join's fan-out rows (aact_gold_layer.sql:302-305,
      // J6), already carrying the order attributes via the window.
      .filter(col("best_priority") <= 2 && col("_ordp").isNotNull &&
        col("_pri").isNotNull)
      .select(col("o_custkey"), col("o_orderdate"),
        col("l_partkey"), col("l_quantity"))
      .join(part.select(col("p_partkey"), col("p_name")),
        col("l_partkey") === col("p_partkey"))

    // Industry-sponsor lookup: pre-filtered, single unique-key column, so the
    // left join below is row-preserving (c_custkey is unique) and broadcast.
    val industry = customer
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))

    // condition_metrics + condition_sponsors fused — aact_gold_layer.sql:
    // 293-325 (A1-A3 + A5) in one shuffle; countDistinct ignores the nulls
    // the left join leaves for non-industry rows.
    val joined = fanout
      .join(broadcast(industry), col("o_custkey") === col("c_custkey"), "left")
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
      .filter(col("total_trials") > 10 && !Categorize.ilike(col("p_name"), excludePattern))

    val relevance = col("late_phase_count").cast("double") / col("total_trials").cast("double")
    val density = col("recent_trials").cast("double") / col("total_trials").cast("double")
    val saturation = lit(1.0) / (lit(1.0) + col("industry_sponsors").cast("double"))
    val momentum = col("recent_trials").cast("double") / (col("older_trials").cast("double") + lit(1.0))
    val score = lit(0.4) * relevance + lit(0.3) * density + lit(0.2) * saturation + lit(0.1) * momentum

    joined.withColumn("opportunity_score", round(score, 6))
  }
}
