package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Machine-checked IO evidence for the incremental-maintenance family
  * (VERDICT r13 ask #2): the 100 TB argument for q148/q153 is that the
  * expensive stages touch DELTA-sized data while a rebuild's touch the
  * whole corpus — prose until now. This helper sums Spark's own task
  * metrics (parquet bytes/records read, shuffle bytes written) across
  * one full execution, so the claim becomes a published ratio
  * (Bench's sf1 `io` field) and a spec assertion (IncrementalIoSpec)
  * instead of a README sentence.
  *
  * What each number means here:
  *   - `shuffleWrite` is the honest proxy for stage volume in the
  *     EXCHANGE-BOUND family (q148/q153/q159): the shingle→signature,
  *     CC-iteration and vector-assignment exchanges are where a
  *     rebuild pays corpus-sized cost, and maintenance delta-sized
  *     cost. This is the ratio that family's claim lives on.
  *   - `cpuNs` (executor CPU summed over tasks) carries the claim for
  *     the MAP-SIDE-COMBINED MODEL family (q145/q155/q160): their
  *     rebuilds' partial aggregation collapses to MODEL-sized shuffle
  *     output (≤4096 buckets / bigram vocab) no matter the corpus, so
  *     a maintenance pass — which must move at least one stored model
  *     through an exchange — can never undercut it on shuffle bytes;
  *     what maintenance actually saves is the full-corpus
  *     re-featurization, which is compute. Both ratios are published
  *     per pair so neither regime hides behind the other's metric.
  *   - `bytesRead`/`recordsRead` are the scan side. NOTE: in this
  *     harness the snapshot delta is DERIVED in-plan (the new crawl is
  *     hashed to diff it against the stored manifest), so maintenance
  *     still scans the new snapshot once — in deployment the crawler
  *     hands over the delta and that scan disappears. The scan ratio
  *     is therefore ~1; the model family's measured maintenance halves
  *     consume the STORED delta artifact (Queries.servedSnapshotDelta)
  *     for exactly this reason.
  */
object IoEvidence {

  final case class Io(bytesRead: Long, recordsRead: Long, shuffleWrite: Long,
                      cpuNs: Long) {
    def json: String =
      s"""{"read_mb":${bytesRead / 1000000.0},"records":$recordsRead,""" +
        s""""shuffle_mb":${shuffleWrite / 1000000.0},""" +
        s""""cpu_ms":${cpuNs / 1000000L}}"""
  }

  /** Sums task input + shuffle-write metrics over one full execution of
    * `df` (noop sink — every projected column computed). `df` is
    * BY-NAME and built inside the listener window: the iterative
    * operators (incrementalClusters' CC loop, the doubling rounds) run
    * jobs during DataFrame BUILD, and those jobs are part of the cost
    * being measured. The cache is cleared first so persisted frames
    * can't hide re-reads. Caller must ensure nothing else runs jobs on
    * the session concurrently (Bench and forked-sequential specs: true
    * by construction). */
  def measure(spark: SparkSession, df: => DataFrame): Io = {
    spark.catalog.clearCache()
    val (_, rec) = Probe.run(spark)(df.write.format("noop").mode("overwrite").save())
    spark.catalog.clearCache()
    rec.io
  }
}
