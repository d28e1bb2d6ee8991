package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer
import scala.util.DynamicVariable

/** Scoped cache lifetime for multi-consumer frames (VERDICT r12 ask #7).
  *
  * Operators like [[ops.Bpe.trainFromWordFreq]] persist intermediate
  * frames that feed multiple consumers of a LAZY result — they cannot
  * unpersist eagerly (no action has run yet; an unmarked frame would be
  * recomputed once per downstream consumer when the caller finally
  * acts), so the frames outlive the call. Bench and Verify release them
  * with `spark.catalog.clearCache()`, but a long-lived session running
  * e.g. [[Tables.artifact]] builds would accumulate
  * MEMORY_AND_DISK blocks across builds.
  *
  * `withCachedFrames { ... }` fixes the lifetime: persists registered
  * during the block (via [[CacheScope.persist]], which operators call
  * through [[CacheScope.scopedPersist]]) are unpersisted when the block
  * exits — the right wrapper for any build whose terminal ACTION runs
  * inside the block, which is exactly the artifact shape (the
  * parquet write completes before the block returns, so nothing lazy
  * escapes). Outside any scope, `scopedPersist` degrades to a plain
  * `persist` and the session-wide clearCache contract applies
  * unchanged — no behavior change for existing callers.
  *
  * The scope also tracks [[CacheScope.released]] local-checkpoint RDD
  * blocks (iterative trainers truncate lineage per block of rounds;
  * the superseded checkpoints are release-ON-SUPERSESSION inside the
  * operator itself, but the FINAL checkpoint backs the returned frame
  * and must live until the caller's action — in a scope it is freed on
  * exit with everything else).
  */
object CacheScope {

  private val active = new DynamicVariable[Option[CacheScope]](None)

  /** Run `body` with a fresh ambient scope; unpersist everything the
    * scope collected when the body exits (success or failure). The
    * scope is thread-local (DynamicVariable): concurrent builds on
    * other threads keep their own scopes. */
  def withCachedFrames[T](body: => T): T = {
    val scope = new CacheScope
    try active.withValue(Some(scope))(body)
    finally scope.releaseAll()
  }

  /** Persist `df` at `lvl`, registering it with the ambient scope when
    * one is active (its blocks are then freed when the scope exits);
    * identical to a plain `persist` otherwise. Operators with
    * multi-consumer lazy intermediates should prefer this over raw
    * `.persist`. */
  def scopedPersist[T](df: Dataset[T], lvl: StorageLevel): Dataset[T] = {
    df.persist(lvl)
    active.value.foreach(_.register(df))
    df
  }

  /** Free the storage behind an EAGER `localCheckpoint()` result the
    * caller can prove is no longer referenced (e.g. a loop-state
    * checkpoint superseded by the next one — every consumer of the old
    * blocks has itself been materialized). Lineage was truncated at
    * checkpoint time, so the data is unrecoverable after this: callers
    * must only release frames nothing will read again. No-op when the
    * plan is not the single-LogicalRDD shape localCheckpoint builds. */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Register a localCheckpoint whose blocks back the RETURNED lazy
    * result (so it cannot be released on supersession): freed on scope
    * exit when a scope is active, left to the session clearCache
    * contract otherwise. */
  def scopedCheckpoint(df: DataFrame): DataFrame = {
    active.value.foreach(_.registerCheckpoint(df))
    df
  }
}

/** Mutable collection of frames a [[CacheScope.withCachedFrames]] block
  * persisted; unpersisted together on scope exit. */
final class CacheScope {
  private val frames = ArrayBuffer[Dataset[_]]()
  private val checkpoints = ArrayBuffer[DataFrame]()

  private[graft] def register(df: Dataset[_]): Unit =
    frames.synchronized { frames += df }

  private[graft] def registerCheckpoint(df: DataFrame): Unit =
    frames.synchronized { checkpoints += df }

  private[graft] def releaseAll(): Unit = frames.synchronized {
    frames.foreach { df =>
      try df.unpersist(blocking = false)
      catch { case _: Throwable => () } // a stopped session has no blocks
    }
    frames.clear()
    checkpoints.foreach { df =>
      try CacheScope.releaseCheckpoint(df)
      catch { case _: Throwable => () }
    }
    checkpoints.clear()
  }
}
