package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed as-of join — the classic time-series operator Spark's join
  * surface lacks (pandas `merge_asof`, DuckDB `ASOF JOIN`, kdb `aj`): for
  * every left row, attach the single right row with the LARGEST right time
  * `<=` the left time (backward, inclusive) within the same partition keys —
  * or the SMALLEST right time `>=` for forward mode.
  *
  * Spark-first formulation: NOT a theta join (a join-based as-of either
  * range-explodes to O(|L|·|R|) candidates per key or falls to a
  * broadcast nested-loop). Both sides union and the right payload is
  * carried in time order — but NOT with the textbook
  * `Window.partitionBy(keys)`, which is the one skew shape AQE cannot
  * mitigate: a window partition needs every row of a key in ONE task,
  * so the mega-key every real event log has (the top user/domain)
  * serializes — and can OOM — one core. Rewritten round 14 to the
  * [[SurrogateKeys.prefixSum]] pattern: ONE range exchange on
  * (keys, time, side) makes each key's timeline contiguous ACROSS
  * partitions, a (partition, keys)-scoped window carries the local
  * last-known payload (bounded by partition size, never key size), and
  * a summary frame of ≈ one row per (partition, key-run) — #keys +
  * #partitions rows, not data-sized — carries the boundary payload
  * forward with one tiny per-key window. A mega-key spans many range
  * partitions and parallelizes; the result is independent of the
  * partition count (spec-asserted). The ranged frame is eagerly
  * localCheckpoint-ed so `_pid` means ONE physical layout to both its
  * readers (prefixSum's read-consistency lesson).
  *
  * Tie discipline: right rows must be unique per (keys, time) — enforce
  * upstream with an argmax pre-aggregation (see `latestPerKeyTime`) —
  * otherwise which duplicate wins is nondeterministic in any engine.
  */
object AsOf {

  /** Backward (default) or forward match direction. */
  sealed trait Direction
  case object Backward extends Direction
  case object Forward extends Direction

  /** Reduce `right` to one row per (keys, timeCol), keeping per group the
    * row with the greatest `tieCol` — the deterministic-tie-break
    * preparation for [[joinAsOf]]. One partial-aggregating shuffle. */
  def latestPerKeyTime(right: DataFrame, keys: Seq[String], timeCol: String,
                       tieCol: String, payload: Seq[String]): DataFrame = {
    val ordered = struct((tieCol +: payload.filterNot(_ == tieCol)).map(col): _*)
    right.groupBy((keys :+ timeCol).map(col): _*)
      .agg(max(ordered).as("_best"))
      .select((keys :+ timeCol).map(col) ++
        (tieCol +: payload.filterNot(_ == tieCol)).map(c => col(s"_best.$c").as(c)): _*)
  }

  /** As-of join `left` ← `right` on equal `keys` and time proximity.
    *
    * Every left row and column survives (left-outer semantics); matched
    * right `payload` columns are appended as `prefix + name` (right time
    * included automatically as `prefix + rightTime`), NULL when no right
    * row qualifies. `tolerance`: optional predicate `(leftT, rightT) =>
    * keep` applied AFTER the nearest match is found (pandas-`tolerance`
    * semantics: a too-old match becomes NULL, it does not fall back to an
    * older one).
    *
    * INPUT CONTRACT (ADVICE r15): `right` must be unique per (keys,
    * rightTime). When duplicates share the winning instant, the small
    * tier's window `last(_p)` and the distributed tier's `max_by`/
    * `min_by` carry each break the tie arbitrarily — and can disagree —
    * so the tier guard would become result-visible. Pre-aggregate with
    * [[latestPerKeyTime]] (all registered callers do: q60/q164/q168
    * feed argmax/groupBy views).
    *
    * SMALL-INPUT TIER (VERDICT r14 ask #1b): when Catalyst's size
    * estimate for both inputs together is at most `smallInputMaxBytes`,
    * the textbook single-window formulation runs instead — union, ONE
    * hash exchange on the keys, one sort, one running `last(payload)`
    * window — because at that size the distributed machinery's range
    * exchange + eager checkpoint + carry join are pure stage latency
    * (the sf0.1 cell paid ~15 stages for 2 MB of events) and the
    * mega-key hazard the range formulation exists for is bounded by the
    * input bound itself. Semantically identical (AsOfSpec asserts tier
    * equality incl. both directions, null keys/times and tolerance);
    * [[graft.Tier]] decides, and inputs it does not admit take the
    * scale-proof range-exchange path (specs pin the distributed shape
    * with `smallInputMaxBytes = 0`). */
  def joinAsOf(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String, payload: Seq[String],
               direction: Direction = Backward, prefix: String = "asof_",
               tolerance: Option[(Column, Column) => Column] = None,
               smallInputMaxBytes: Long = graft.Tier.LocalBytes): DataFrame = {
    require(keys.nonEmpty, "as-of join needs at least one partition key")
    val payloadAll = (rightTime +: payload.filterNot(_ == rightTime)).distinct

    // Union schema: keys, _t, left-row struct, right-payload struct, side.
    // Nulls need explicit casts to the OTHER side's struct type.
    val lStructT = left.select(struct(left.columns.map(col): _*).as("s")).schema("s").dataType
    val pStructT = right.select(struct(payloadAll.map(col): _*).as("s")).schema("s").dataType
    val lSide = left.select(
      keys.map(col) ++ Seq(
        col(leftTime).as("_t"),
        struct(left.columns.map(col): _*).as("_l"),
        lit(null).cast(pStructT).as("_p"),
        lit(1).as("_side")): _*)
    // SQL comparison semantics for NULLs (DuckDB-ASOF parity): a right
    // row with a null key or time can never be anyone's match — drop it
    // here (left rows with nulls stay, unmatched, via the left-outer
    // contract below).
    val rSide = right
      .filter(keys.map(col(_).isNotNull).reduce(_ && _) &&
        col(rightTime).isNotNull)
      .select(
        keys.map(col) ++ Seq(
          col(rightTime).as("_t"),
          lit(null).cast(lStructT).as("_l"),
          struct(payloadAll.map(col): _*).as("_p"),
          lit(0).as("_side")): _*)

    // Within a key, time order (reversed for forward) with right rows
    // (side 0) before left rows at EQUAL time → inclusive match. The
    // range exchange puts the keys' timelines contiguously across
    // partitions; everything downstream is (partition, keys)-scoped.
    val spark = left.sparkSession
    val timeOrd = direction match {
      case Backward => col("_t").asc
      case Forward  => col("_t").desc
    }
    // Tier pick ([[graft.Tier]]): driver-side plan arithmetic, zero
    // jobs, and no optimizer work when smallInputMaxBytes = 0.
    val matched: DataFrame = if (graft.Tier.fits(smallInputMaxBytes, left, right)) {
      // Textbook tier: one per-key running-last window. Null semantics
      // line up with the distributed path for free: right null rows are
      // already dropped; a null-KEYED left row's window partition holds
      // only left rows (all _p null → no match); a null-TIME left row
      // sorts before every right row under Backward (asc nulls-first)
      // and the explicit _t guard covers Forward (desc nulls-last would
      // otherwise hand it the running match).
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(timeOrd, col("_side").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      lSide.unionByName(rSide)
        .withColumn("_loc", last(col("_p"), ignoreNulls = true).over(w))
        .filter(col("_side") === 1)
        .withColumn("_m", when(col("_t").isNotNull, col("_loc")))
    } else {
    val ranged = lSide.unionByName(rSide)
      .repartitionByRange(
        spark.sessionState.conf.numShufflePartitions,
        keys.map(col(_).asc) ++ Seq(timeOrd, col("_side").asc): _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint()
    // Local carry: last right payload within (partition, keys) — window
    // size bounded by the partition, never by the key.
    val w = Window.partitionBy((col("_pid") +: keys.map(col)): _*)
      .orderBy(timeOrd, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ranged
      .withColumn("_loc", last(col("_p"), ignoreNulls = true).over(w))
    // Boundary carry: per (partition, keys) the final right payload in
    // time order, then for each (partition, keys) the latest payload
    // from any EARLIER partition — a frame of ~(#keys + #partitions)
    // rows (keys are contiguous in range order), so the per-key window
    // here is over a handful of rows no matter how hot the key is.
    val lastAgg = direction match {
      case Backward => max_by(col("_p"), col("_t"))
      case Forward  => min_by(col("_p"), col("_t"))
    }
    val summary = ranged.filter(col("_side") === 0)
      .groupBy((col("_pid") +: keys.map(col)): _*)
      .agg(lastAgg.as("_lastpl"))
    val allPk = ranged.select((col("_pid") +: keys.map(col)): _*).distinct()
    val carryW = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = allPk.join(summary, "_pid" +: keys, "left")
      .withColumn("_cin", last(col("_lastpl"), ignoreNulls = true).over(carryW))
      .select((col("_pid") +: keys.map(col)) :+ col("_cin"): _*)
    // LEFT join: null-keyed left rows fail the null-unsafe carry-join
    // equality even though their (pid, keys) row exists in `allPk` — an
    // inner join would silently drop them, violating the left-outer
    // contract. A left row with a null key or time matches nothing
    // (rights with nulls were dropped above; the explicit _t guard
    // covers the forward direction, where nulls-last ordering would
    // otherwise put a null-time left row AFTER every right row and
    // hand it a bogus running match).
    local
      .join(carry, "_pid" +: keys, "left")
      .filter(col("_side") === 1)
      .withColumn("_m",
        when(col("_t").isNotNull, coalesce(col("_loc"), col("_cin"))))
    }
    val kept = tolerance match {
      case Some(keep) => matched.withColumn("_m",
        when(col("_m").isNotNull &&
          keep(col("_t"), col(s"_m.$rightTime")), col("_m")))
      case None => matched
    }
    kept.select(
      left.columns.map(c => col(s"_l.$c").as(c)) ++
        payloadAll.map(c => col(s"_m.$c").as(prefix + c)): _*)
  }
}
