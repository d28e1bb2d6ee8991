package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Categorize, Cleaning, Duration}

/** Silver layer — cleanse/conform/enrich (`aact_silver_layer.sql:13-408`):
  * one wide projection per entity built from the cleaning combinators; a
  * narrow, shuffle-free map stage (zero joins except broadcast mapping
  * enrichment), exactly the reference's one-CTE-per-entity CTAS shape.
  *
  * [[run]] reads bronze through [[Tables.read]] (footer schema, no
  * inference job) and writes its four entities as one concurrent
  * [[Layer.wave]].
  */
object Silver {

  /** silver.orders — sentinel fills, status recode, value banding, date
    * imputation with provenance flags (the silver.studies pattern,
    * `aact_silver_layer.sql:18-360`). `asOf` parameterizes CURRENT_DATE
    * (F11) so rebuilds are reproducible. */
  def cleanOrders(orders: DataFrame, asOf: String = "1998-08-01"): DataFrame = {
    val asOfD = to_date(lit(asOf))
    val od = col("o_orderdate").cast("date")
    orders.select(
      col("o_orderkey"), col("o_custkey"),
      Cleaning.fillSentinel(col("o_orderpriority"), "Not specified").as("priority"),
      when(col("o_orderstatus") === "O", lit("Open"))
        .when(col("o_orderstatus") === "F", lit("Finished"))
        .when(col("o_orderstatus") === "P", lit("Pending"))
        .otherwise(lit("Unknown")).as("status_desc"),
      col("o_totalprice"),
      Cleaning.imputeFutureDate(od, asOfD, asOfD).as("order_date"),
      Cleaning.imputeFlag(od, asOfD).as("order_date_type"))
  }

  /** The 16-branch why_stopped categorizer at full reference width
    * (`aact_silver_layer.sql:195-210`): 16 ordered first-match-wins branches
    * over free-text stop reasons. Branch ORDER is semantics — a reason
    * mentioning both "recruitment" and "safety" is 'Recruitment Issues'. */
  val WhyStoppedBranches: Seq[(Seq[String], String)] = Seq(
    Seq("%recruit%", "%enroll%") -> "Recruitment Issues",
    Seq("%funding%", "%budget%") -> "Funding Issues",
    Seq("%adverse%", "%safety%", "%toxicity%") -> "Safety Concerns",
    Seq("%efficacy%", "%futility%") -> "Efficacy Issues",
    Seq("%business%", "%strategic%") -> "Business Decision",
    Seq("%investigator%") -> "PI Departure",
    Seq("%completed%") -> "Completed Early",
    Seq("%covid%", "%pandemic%") -> "COVID-19",
    Seq("%regulatory%", "%fda%") -> "Regulatory Hold",
    Seq("%supply%", "%shortage%") -> "Supply Issues",
    Seq("%ethics%", "%irb%") -> "Ethics Committee",
    Seq("%sponsor%") -> "Sponsor Decision",
    Seq("%interim%") -> "Interim Analysis",
    Seq("%dsmb%", "%monitoring%") -> "DSMB Decision",
    Seq("%hold%") -> "On Hold",
    Seq("%withdrawn%", "%withdrew%") -> "Withdrawn")

  /** Full-reference-width silver entity: a ~58-column cleaned projection in
    * ONE narrow map stage — the silver.studies shape at its real width
    * (`aact_silver_layer.sql:14-362`: 58 cleaned columns from 71 raw), with
    * every cleaning family represented: sentinel fills, status/phase recodes
    * (incl. the NULL-in-IN quirk), t/f→Yes/No, date imputation + provenance
    * flags, numeric caps + flags, COALESCE fallback chains, the free-text
    * duration parser (F7 `SPLIT_PART` exact form included via
    * `substring_index`), the 16-branch why_stopped categorizer, date-part
    * derivations, string cleans (REPLACE/STRPOS/SUBSTRING), and the weighted
    * per-row score arithmetic.
    *
    * The testdata `orders` table is only 6 columns wide, so the missing raw
    * inputs are synthesized deterministically from `o_orderkey` (identically
    * in the DuckDB oracle) — the POINT is the 60-expression projection
    * itself: it must stay inside whole-stage codegen and plan as
    * Scan→Project with zero shuffles (asserted in PlanSpec). */
  def fullWidthOrders(orders: DataFrame, asOf: String = "1998-08-01"): DataFrame = {
    val asOfD = to_date(lit(asOf))
    val k = col("o_orderkey")
    val od = col("o_orderdate").cast("date")

    // deterministic nullable synth of the raw columns the 6-wide testdata
    // table lacks (bronze.studies has 71) — same formulas in the oracle
    val enrollRaw = when(k % 13 === 0, lit(null).cast("int"))
      .otherwise(floor(col("o_totalprice") / lit(100.0)).cast("int"))
    val arms = when(k % 4 === 0, lit(null).cast("int")).otherwise((k % 4).cast("int"))
    val groups = when(k % 6 === 0, (k % 7).cast("int")).otherwise(lit(null).cast("int"))
    val tfDmc = when(k % 3 === 0, lit("t")).when(k % 3 === 1, lit("f"))
    val tfFda = when(k % 5 === 0, lit("t")).when(k % 5 === 2, lit("f"))
    val tfExp = when(k % 4 === 0, lit("t")).when(k % 4 === 1, lit("f"))
    val complRaw = when(k % 10 === 0, lit(null).cast("date"))
      .otherwise(date_add(od, (k % 200).cast("int")))
    val verifRaw = when(k % 9 === 0, lit(null).cast("date"))
      .otherwise(date_add(od, lit(30)))
    val unit = when(k % 5 === 0, lit("Days")).when(k % 5 === 1, lit("Weeks"))
      .when(k % 5 === 2, lit("Months")).when(k % 5 === 3, lit("Years"))
      .otherwise(lit(""))
    val durTxt = when(k % 7 === 0, lit(null).cast("string"))
      .otherwise(concat((k % 40).cast("string"), lit(" "), unit))
    val whyIdx = k % 17
    val whyStopped = when(whyIdx === 1, lit("terminated due to slow recruitment and safety concerns"))
      .when(whyIdx === 2, lit("funding was withdrawn by the sponsor"))
      .when(whyIdx === 3, lit("serious adverse events observed"))
      .when(whyIdx === 4, lit("futility declared for the primary endpoint"))
      .when(whyIdx === 5, lit("strategic reprioritization of the portfolio"))
      .when(whyIdx === 6, lit("principal investigator left the institution"))
      .when(whyIdx === 7, lit("study completed ahead of schedule"))
      .when(whyIdx === 8, lit("covid-19 pandemic restrictions"))
      .when(whyIdx === 9, lit("regulatory review imposed by the fda"))
      .when(whyIdx === 10, lit("drug supply shortage at sites"))
      .when(whyIdx === 11, lit("ethics committee raised objections"))
      .when(whyIdx === 12, lit("sponsor elected to discontinue the study"))
      .when(whyIdx === 13, lit("interim analysis scheduled review"))
      .when(whyIdx === 14, lit("dsmb recommended closure"))
      .when(whyIdx === 15, lit("study placed on administrative hold"))
      .when(whyIdx === 16, lit("site agreement withdrawn"))
    val acronym = when(k % 5 === 0, lit(null).cast("string"))
      .otherwise(concat(lit("ACR"), (k % 100).cast("string")))
    val rawTitle = when(k % 8 === 0, lit(null).cast("string"))
      .otherwise(concat(lit("Trial of "), col("o_orderpriority")))
    val priceRaw = when(k % 11 === 0, lit(null).cast("double"))
      .otherwise(col("o_totalprice"))
    val orgName = concat(col("o_orderpriority"), lit(", "), col("o_orderstatus"))
    val phase = nullif(col("o_orderpriority"), lit("3-MEDIUM"))
    val studyType = when(k % 2 === 0, lit("INTERVENTIONAL")).otherwise(lit("OBSERVATIONAL"))

    val odClean = Cleaning.imputeFutureDate(od, asOfD, asOfD)
    val enrollCapped = Cleaning.capped(enrollRaw, lit(2000))
    val armsCount: Column = coalesce(arms, groups, lit(0)).cast("int")
    val priceCapped = Cleaning.capped(priceRaw, lit(200000.0))
    val isRecent = odClean >= to_date(lit("1997-01-01"))

    orders.select(
      k.as("o_orderkey"),
      col("o_custkey"),
      when(col("o_orderstatus") === "O", lit("Open"))
        .when(col("o_orderstatus") === "F", lit("Finished"))
        .when(col("o_orderstatus") === "P", lit("Pending"))
        .otherwise(lit("Unknown")).as("status_desc"),
      Cleaning.fillSentinel(nullif(col("o_orderpriority"), lit("5-LOW")), "Not specified")
        .as("priority_clean"),
      phase.as("phase"),
      when(phase.isin("1-URGENT", "2-HIGH"), lit("High"))
        .when(phase.isin("4-NOT SPECIFIED"), lit("Not applicable"))
        .otherwise(lit("Other")).as("phase_recode"),
      when(col("o_totalprice") > 200000, lit("High"))
        .when(col("o_totalprice") > 100000, lit("Medium"))
        .otherwise(lit("Low")).as("value_band"),
      enrollRaw.as("enrollment"),
      enrollCapped.as("enrollment_capped"),
      Cleaning.cappedFlag(enrollRaw, lit(2000)).as("enrollment_flag"),
      armsCount.as("arms_count"),
      Cleaning.boolTfToYesNo(tfDmc).as("has_dmc"),
      Cleaning.boolTfToYesNo(tfFda).as("is_fda_regulated"),
      Cleaning.boolTfToYesNo(tfExp).as("expanded_access"),
      odClean.as("order_date_clean"),
      Cleaning.imputeFlag(od, asOfD).as("order_date_type"),
      Cleaning.imputeFutureDate(complRaw, asOfD, asOfD).as("completion_date_clean"),
      Cleaning.imputeFlag(complRaw, asOfD).as("completion_date_type"),
      Cleaning.imputeFutureDate(verifRaw, asOfD, asOfD).as("verification_date_clean"),
      Cleaning.imputeFlag(verifRaw, asOfD).as("verification_date_type"),
      durTxt.as("target_duration"),
      Duration.durationDaysCapped(durTxt).as("duration_days"),
      Duration.durationFlag(durTxt).as("duration_flag"),
      substring_index(durTxt, " ", 1).as("duration_first_token"),
      whyStopped.as("why_stopped"),
      when(whyStopped.isNull, lit("Not Stopped"))
        .otherwise(Categorize.categorize(whyStopped, WhyStoppedBranches, "Other"))
        .as("why_stopped_category"),
      year(odClean).as("order_year"),
      quarter(odClean).as("order_quarter"),
      month(odClean).as("order_month"),
      date_format(odClean, "MMMM").as("order_month_name"),
      date_format(odClean, "EEEE").as("order_day_name"),
      (dayofweek(odClean) - 1).as("order_dow"),
      dayofweek(odClean).isin(1, 7).as("is_weekend"),
      weekofyear(odClean).as("week_of_year"),
      date_format(odClean, "yyyyMMdd").cast("int").as("date_key"),
      trunc(odClean, "month").as("month_start"),
      datediff(odClean, to_date(lit("1995-01-01"))).as("days_from_epoch"),
      concat(lit("Q"), quarter(odClean).cast("string"), lit("-"),
        year(odClean).cast("string")).as("quarter_label"),
      Cleaning.fillSentinel(acronym, "[No Acronym defined]").as("acronym_clean"),
      Cleaning.fillSentinel(rawTitle, "[Not Defined]").as("title_clean"),
      lower(trim(coalesce(rawTitle, lit("untitled")))).as("brief_title_lower"),
      Cleaning.fillSentinel(nullif(col("o_orderstatus"), lit("P")), "Unknown")
        .as("source_name"),
      replace(concat(lit("CLASS_"), col("o_orderstatus")), lit("_"), lit(" "))
        .as("source_class"),
      orgName.as("org_name"),
      when(locate(",", orgName) > 0, substring(orgName, lit(1), locate(",", orgName) - 1))
        .otherwise(orgName).as("org_before_comma"),
      locate(",", orgName).as("comma_pos"),
      lower(trim(concat(lit("  Sponsor "), (k % 50).cast("string"), lit("  "))))
        .as("lead_sponsor_clean"),
      studyType.as("study_type"),
      (studyType === "INTERVENTIONAL").as("is_interventional"),
      priceCapped.as("price_capped"),
      Cleaning.cappedFlag(priceRaw, lit(200000.0)).as("price_flag"),
      (col("o_totalprice") / (enrollCapped + 1).cast("double")).as("price_per_enroll"),
      round(
        lit(0.4) * least(lit(1.0), enrollCapped.cast("double") / lit(1000.0)) +
        lit(0.3) * (priceCapped / lit(200000.0)) +
        lit(0.2) * (lit(1.0) / (lit(1.0) + armsCount.cast("double"))) +
        lit(0.1) * when(isRecent, lit(1.0)).otherwise(lit(0.0)), 6).as("weighted_score"),
      ((k % 10).cast("double") / ((k % 7).cast("double") + lit(1.0))).as("momentum_ratio"),
      when(col("o_orderpriority") === "1-URGENT", 1)
        .when(col("o_orderpriority") === "2-HIGH", 2)
        .when(col("o_orderpriority") === "3-MEDIUM", 3)
        .when(col("o_orderpriority") === "4-NOT SPECIFIED", 4)
        .when(col("o_orderpriority") === "5-LOW", 5)
        .otherwise(0).as("priority_rank"),
      isRecent.as("is_recent"),
      (col("o_orderstatus") === "F").as("status_is_final"),
      concat(lit("NCT"), lpad(k.cast("string"), 9, "0")).as("nct_like_id"))
  }

  /** silver.lineitem — quantity cap + flag (enrollment-cap pattern,
    * `aact_silver_layer.sql:162-165`) and the best-priority recode input. */
  def cleanLineitem(lineitem: DataFrame, qtyCap: Int = 45): DataFrame =
    lineitem.select(
      col("l_orderkey"), col("l_partkey"), col("l_quantity"),
      Cleaning.capped(col("l_quantity"), lit(qtyCap)).as("quantity_capped"),
      Cleaning.cappedFlag(col("l_quantity"), lit(qtyCap)).as("quantity_flag"),
      col("l_returnflag"))

  /** silver.part — therapeutic-area-style categorizer over the name
    * (`aact_silver_layer.sql:454-500`). */
  def cleanPart(part: DataFrame): DataFrame =
    part.select(
      col("p_partkey"), col("p_name"), col("p_brand"),
      Categorize.categorize(
        col("p_name"),
        Seq(
          Seq("%red%", "%hot%") -> "Warm",
          Seq("%blue%", "%cold%", "%small%") -> "Cool",
          Seq("%gizmo%", "%widget%", "%gear%") -> "Mechanical"),
        default = "Other").as("category"))

  def run(spark: SparkSession, outDir: String): Unit = {
    val b = (n: String) => Tables.read(spark, s"$outDir/bronze/$n")
    val w = (n: String) => s"$outDir/silver/$n"
    Layer.wave(
      // orders partitioned by year: queries with an order_year predicate
      // prune whole directories at the file-index level — at 100 TB this is
      // the difference between scanning one year and scanning the decade.
      () => cleanOrders(b("orders"))
        .withColumn("order_year", year(col("order_date")))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("order_year")
        .parquet(w("orders")),
      () => cleanLineitem(b("lineitem")).write.mode(SaveMode.Overwrite).parquet(w("lineitem")),
      () => cleanPart(b("part")).write.mode(SaveMode.Overwrite).parquet(w("part")),
      () => b("customer").write.mode(SaveMode.Overwrite).parquet(w("customer")))
  }
}
