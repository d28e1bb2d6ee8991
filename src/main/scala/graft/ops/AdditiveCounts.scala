package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared combine for ADDITIVE (abelian-group) count-model maintenance —
  * the single-shuffle core of [[LmScore.maintainCounts]] (bigram LM) and
  * [[Dsir.maintainBucketCounts]] (hashed-feature histograms): the stored
  * model's (key, cnt) rows union with raw ±1 occurrence streams and ONE
  * map-side-combined sum produces the new model, zero-count rows dropped
  * (a full retrain never emits them). Correctness is the group axioms:
  * per-key sums commute and have inverses, so
  * prev − removed-occurrences + added-occurrences IS the full retrain.
  * Pre-aggregating the legs separately would pay extra key shuffles for
  * frames the final sum re-aggregates anyway (measured on q155: 3
  * shuffles → 1, 2.3 s → 0.94 s). */
private[graft] object AdditiveCounts {

  /** `prevModel`: (keyCol, cnt). `minusKeys`/`plusKeys`: one row per
    * REMOVED/ADDED occurrence (multiplicity = row count). */
  def maintain(prevModel: DataFrame, keyCol: String,
               minusKeys: DataFrame, plusKeys: DataFrame): DataFrame =
    maintain(prevModel, Seq(keyCol), minusKeys, plusKeys)

  /** Composite-key flavor (the CMS cell table's (i, bucket) — q180). */
  def maintain(prevModel: DataFrame, keyCols: Seq[String],
               minusKeys: DataFrame, plusKeys: DataFrame): DataFrame =
    prevModel.select(keyCols.map(col) :+ col("cnt").as("d"): _*)
      .unionByName(minusKeys.select(keyCols.map(col) :+ lit(-1L).as("d"): _*))
      .unionByName(plusKeys.select(keyCols.map(col) :+ lit(1L).as("d"): _*))
      .groupBy(keyCols.map(col): _*).agg(sum(col("d")).as("cnt"))
      .filter(col("cnt") > 0)

  /** GENERIC one-task chain tier for any string-keyed additive model
    * whose ± legs are a pure per-document key stream (round 18 — the
    * [[graft.ops.Cms.maintainServeChainLocal]] shape extracted once
    * instead of re-written per artifact): `prevModel` (keyCol, cnt) is
    * the stored artifact over `snapshots.head`; each later snapshot
    * folds as one maintenance step against its predecessor, statuses
    * re-derived per doc from [[LocalText.contentHash]] (the same
    * comparison [[SnapshotDelta.diffHashed]] makes), `keysOf(text)`
    * supplying the per-occurrence key stream both legs share. Signed
    * partials carry ACROSS steps and drop non-positives once at the
    * end — equivalent to the per-step drop because with true snapshot
    * deltas the running value equals each intermediate model's true
    * count. Callers guard fail-CLOSED on Catalyst size stats (the
    * family contract); output (keyCol, cnt).
    *
    * The task never builds a model-sized hash map (the
    * [[Bpe.maintainVocabServeLocal]] discipline): stored rows buffer
    * once (append-only, no string hashing), the fold runs over a SMALL
    * map keyed only by the delta documents' keys, and the merged model
    * streams out in one pass — consumed delta keys removed so the
    * leftovers are the genuinely-new keys.
    *
    * @param changedKeys optional SIGNED pairwise delta for a changed
    *                    document — must equal `keysOf(old)→−1 ∪
    *                    keysOf(new)→+1` as a multiset sum (an
    *                    implementation may skip provably-canceling
    *                    pairs, e.g. [[Bpe.localUnitWindowsDelta]]'s
    *                    common-prefix windows); None folds both legs
    *                    in full.
    * @param cap when > 0, emit only the top-`cap` rows by (cnt desc,
    *            key asc) — the release-table contract — through a
    *            bounded heap instead of materializing the full model
    *            downstream. */
  def maintainChainLocal(prevModel: DataFrame, keyCol: String,
                         snapshots: Seq[DataFrame], idCol: String,
                         textCol: String,
                         keysOf: String => Iterator[String],
                         changedKeys: Option[(String, String) => Iterator[(String, Long)]] = None,
                         cap: Int = 0): DataFrame = {
    require(snapshots.size >= 2, "maintainChainLocal needs >= 2 snapshots")
    val spark = prevModel.sparkSession
    import spark.implicits._
    val nullL = lit(null).cast("long")
    val nullS = lit(null).cast("string")
    val nSnaps = snapshots.size
    val capG = cap
    val modelRows = prevModel.select(lit(-1).as("_snap"),
      col(keyCol).as("_k"), col("cnt").cast("long").as("_cnt"),
      nullL.as("_id"), nullS.as("_s"))
    val snapRows = snapshots.zipWithIndex.map { case (df, k) =>
      df.select(lit(k).as("_snap"), nullS.as("_k"), nullL.as("_cnt"),
        col(idCol).cast("long").as("_id"), col(textCol).as("_s"))
    }.reduce(_ unionByName _)
    val out = modelRows.unionByName(snapRows).coalesce(1).mapPartitions { it =>
      import scala.collection.mutable
      val stored = mutable.ArrayBuffer.empty[(String, Long)]
      val delta = mutable.HashMap.empty[String, Long]
      val snaps = Array.fill(nSnaps)(mutable.HashMap.empty[Long, String])
      it.foreach { row =>
        val tag = row.getInt(0)
        if (tag < 0) stored += ((row.getString(1), row.getLong(2)))
        else snaps(tag).update(row.getLong(3),
          if (row.isNullAt(4)) null else row.getString(4))
      }
      def add(key: String, d: Long): Unit =
        delta.update(key, delta.getOrElse(key, 0L) + d)
      // NULL text contributes nothing, mirroring the distributed chain:
      // the occurrence legs' tokenizers drop null rows, so a null-text
      // doc never moves a count there — coercing null to "" here used to
      // fold the EMPTY-STRING key's legs instead (a real divergence for
      // q183's df, where empty text is a counted term but null drops).
      def fold(text: String, sign: Long): Unit =
        if (text != null) keysOf(text).foreach(add(_, sign))
      var k = 0
      while (k < nSnaps - 1) {
        val old = snaps(k); val neu = snaps(k + 1)
        neu.foreach { case (id, t) =>
          old.get(id) match {
            case None => fold(t, 1L) // added
            case Some(ot) =>
              // NULL-involving transitions first (distributed mirror:
              // diffHashed reads null↔text as "changed", so text→null
              // subtracts the old terms, null→text adds the new, and
              // null→null is unchanged). The changedKeys fast path is a
              // text→text contract — null pairs take the plain legs,
              // where fold's null guard gives the exact distributed
              // outcome.
              if ((ot == null) != (t == null)) {
                fold(ot, -1L); fold(t, 1L)
              } else if (ot != null && t != null &&
                  // Raw equality short-circuits the hash: equal strings
                  // have equal content hashes by definition, so only
                  // docs whose raw text differs (the delta) ever pay an
                  // md5 — the UNCHANGED majority is one string compare
                  // per step. The hash comparison stays for raw-unequal
                  // pairs: diffHashed treats normalize-equal texts
                  // (case/whitespace-only edits) as unchanged, and so
                  // must the tier.
                  ot != t &&
                  LocalText.contentHash(ot) != LocalText.contentHash(t)) {
                changedKeys match { // changed
                  case Some(f) => f(ot, t).foreach { case (key, d) =>
                    add(key, d) }
                  case None => fold(ot, -1L); fold(t, 1L)
                }
              }
          }
        }
        old.foreach { case (id, t) =>
          if (!neu.contains(id)) fold(t, -1L) } // removed
        k += 1
      }
      // One merged pass: stored count + consumed delta, then the
      // leftover delta keys (genuinely new), non-positives dropped.
      val merged = stored.iterator.map { case (key, n) =>
        (key, n + delta.remove(key).getOrElse(0L))
      } ++ delta.iterator
      val live = merged.filter(_._2 > 0L)
      if (capG <= 0) live
      else {
        // head = the WORST kept entry under (cnt desc, key asc) — a
        // total order, so the top-cap set is unique.
        val worstFirst: Ordering[(String, Long)] =
          Ordering.by { case (w, n) => (-n, w) }
        val pq = mutable.PriorityQueue.empty[(String, Long)](worstFirst)
        live.foreach { e =>
          if (pq.size < capG) pq.enqueue(e)
          else if (worstFirst.lt(e, pq.head)) { pq.dequeue(); pq.enqueue(e) }
        }
        pq.iterator
      }
    }
    out.toDF(keyCol, "cnt")
  }
}
