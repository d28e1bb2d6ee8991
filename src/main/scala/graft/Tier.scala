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
  *  - [[LocalBytes]] is the default budget every tiered entry point uses.
  *
  * Each caller keeps its own reason for being tiered and the spec that
  * pins its two tiers equal; TierSpec pins this predicate. */
object Tier {

  /** Default local-tier budget: 64 MB of estimated input. */
  val LocalBytes: Long = 64L << 20

  /** True iff `capBytes > 0` and the inputs' summed size estimate is at
    * most `capBytes`. */
  def fits(capBytes: Long, inputs: DataFrame*): Boolean =
    capBytes > 0 &&
      inputs.map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum <=
        BigInt(capBytes)
}
