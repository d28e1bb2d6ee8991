package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus snapshot DIFF — the incremental-ingest planning step a
  * production pipeline runs between crawls: compare the previous
  * snapshot to the new one by content hash and emit a per-document
  * disposition manifest (added / removed / changed / unchanged) plus
  * the `needs_processing` work set, so the expensive downstream stages
  * (dedup, decontamination, tokenization) run on the DELTA, not the
  * whole corpus. Complements [[graft.Queries.q105IncrementalDedup]]
  * (batch-vs-corpus shingle dedup): this is the upstream gate that
  * decides which documents even enter that pass.
  *
  * Scale shape: ONE full-outer equi-join hash-partitioned on the id —
  * both sides reduced to (id, content_hash) by a narrow codegen map
  * first, so the shuffle carries 2 columns, never the text. Content
  * hash is [[TextStats.contentHash]] (md5 of normalized text), the
  * same fingerprint the exact-dedup family keys on — a doc whose text
  * changed only in whitespace runs reads `unchanged`, by design.
  *
  * Snapshots are keyed by `idCol`: one row per id. A snapshot carrying
  * duplicate ids fans out through the full-outer join (m×n rows for
  * that id) — run the exact-dedup pass first if ids can repeat.
  */
object SnapshotDelta {

  def diff(oldSnap: DataFrame, newSnap: DataFrame,
           idCol: String, textCol: String): DataFrame = {
    def hashed(df: DataFrame): DataFrame =
      df.select(col(idCol).cast("long").as("doc_id"),
        TextStats.contentHash(col(textCol)).as("content_hash"))
    diffHashed(hashed(oldSnap), hashed(newSnap))
  }

  /** [[diff]] over pre-hashed snapshot fingerprint tables (doc_id,
    * content_hash) — the production shape: an ingest layer persists each
    * crawl's fingerprint table, so the NEXT crawl's delta never re-reads
    * (or re-hashes) the previous snapshot's text at all — the old side
    * is a stored-artifact scan of two skinny columns. Same output
    * contract as [[diff]].
    *
    * Presence is an explicit per-side marker, never the hash: a
    * null-text document hashes to null, and reading that as "absent"
    * would call a null-text document present in both snapshots "added"
    * (maintenance then keeps its stored row AND recomputes it). Hashes
    * compare null-safely, so null→null is unchanged and null↔text is
    * changed. */
  def diffHashed(oldHashes: DataFrame, newHashes: DataFrame): DataFrame = {
    def side(df: DataFrame, as: String, mark: String): DataFrame =
      df.select(col("doc_id").cast("long").as("doc_id"),
        col("content_hash").as(as), lit(true).as(mark))
    side(oldHashes, "old_hash", "_in_old")
      .join(side(newHashes, "new_hash", "_in_new"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("old_hash"), col("new_hash"),
        when(col("_in_old").isNull, "added")
          .when(col("_in_new").isNull, "removed")
          .when(!(col("old_hash") <=> col("new_hash")), "changed")
          .otherwise("unchanged").as("status"))
      .withColumn("needs_processing",
        col("status").isin("added", "changed"))
  }
}
