package graft

import org.apache.spark.sql.DataFrame

/** The engine's one tier predicate: whether a cell's inputs are small
  * enough for its one-task local kernel, or must take the distributed
  * chain. Every tiered cell and operator asks this object, so the policy
  * lives here once:
  *  - the estimate is Catalyst's `optimizedPlan.stats.sizeInBytes`,
  *    summed as a BigInt over EVERY input the local kernel reads (stored
  *    artifacts and models included — an unexpectedly large one must not
  *    slip past the guard);
  *  - it fails CLOSED: missing stats default to Long.MaxValue and read as
  *    too large, so an unknown size takes the distributed chain;
  *  - a cap of 0 forces the distributed chain, and is checked before any
  *    plan is touched, so a forced build does no optimizer work here;
  *  - [[LocalBytes]] is the default budget every tiered entry point uses;
  *    [[OneTaskBytes]] is the smaller budget under which the medallion
  *    build coalesces its inputs so a whole Spark plan runs as one task.
  *
  * Each caller keeps its own reason for being tiered and the spec that
  * pins its two tiers equal; TierSpec pins this predicate. */
object Tier {

  /** Default local-tier budget: 64 MB of estimated input. */
  val LocalBytes: Long = 64L << 20

  /** One-task budget: 4 MB of estimated input. Under it the medallion
    * build's gold tables and the opportunity rank coalesce their inputs
    * to one partition, so every aggregate and window plans with no
    * Exchange and a whole table is one job of one task. Kept apart from
    * [[LocalBytes]] because a single task stops paying well before 64 MB.
    * Median of 10 alternating runs each, `local[4]` on a 4-core VM, one
    * task vs distributed, over sf0.01, sf0.1 and two sf0.1 cuts
    * (orders and lineitem kept to the lowest quarter and half of order
    * keys):
    *  - `Gold.run` at 0.61 / 1.94 / 3.85 / 7.32 MB of silver:
    *    1.11 vs 1.34 s, 1.29 vs 1.50, 1.72 vs 1.72, 2.38 vs 1.78;
    *  - the rank at 1.32 / 3.42 / 6.60 / 13.39 MB of bronze:
    *    0.78 vs 0.87 s, 0.84 vs 0.87, 0.89 vs 0.87, 1.19 vs 1.12.
    * Both cross over between about 3.5 and 6.5 MB; 4 MB sits at gold's
    * break-even and below the rank's. */
  val OneTaskBytes: Long = 4L << 20

  /** True iff `capBytes > 0` and the inputs' summed size estimate is at
    * most `capBytes`. */
  def fits(capBytes: Long, inputs: DataFrame*): Boolean =
    capBytes > 0 &&
      inputs.map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum <=
        BigInt(capBytes)
}
