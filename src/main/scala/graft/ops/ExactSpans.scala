package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Exact duplicated-SPAN deduplication — the "Deduplicating Training Data
  * Makes Language Models Better" (Lee et al. 2022) operation: find every
  * length-L token window that occurs more than once ANYWHERE in the
  * corpus (stride 1 — sliding, unlike [[graft.Queries.q69ChunkDedup]]'s
  * non-overlapping tiles), keep one canonical occurrence, and REWRITE
  * every document with the other occurrences' tokens cut out. The paper
  * builds suffix arrays for all-lengths exactness; the fixed-L sliding
  * anchor is the standard distributed compromise (one row per token, so
  * the whole pass is linear in corpus size).
  *
  * Scale shape: window extraction is a narrow map + explode (n_tokens
  * rows); duplicate detection is ONE map-side-combined groupBy over the
  * window key — deliberately `min`-based, NOT a per-key row_number (a
  * stop-phrase window can repeat millions of times at 100 TB, and a
  * window-function canonical would serialize that key on one core — the
  * same skew lesson as [[TopN]]); the marked-occurrence join is a pure
  * equi-join (one occ row per key — fan-out is the occurrence count,
  * linear, never quadratic); the rewrite is a per-document interval
  * merge + gap sweep, O(tokens + spans) per document ([[keptIdx]]).
  *
  * The canonical occurrence is the globally smallest (doc_id, position),
  * encoded as doc_id·PosRange + position for the min aggregate — exactly
  * lexicographic because positions stay in [0, PosRange). Documents
  * longer than PosRange (10^6) tokens are OUTSIDE the dedup domain:
  * they contribute no windows and pass through unrewritten (an explicit
  * bound, not a silent truncation — a corpus with multi-million-token
  * documents should use [[dedupSpansChunked]], which removes the bound
  * entirely via overlapping chunks with exactly-once window ownership,
  * or raise PosRange together with the oracle's encoding constant).
  * All strings and integers — the oracle replays every stage exactly,
  * including the rewritten text.
  *
  * KEEP-ONE-CANONICAL in [[dedupSpans]] is per WINDOW, not absolute per
  * span content: when a DIFFERENT duplicated window's non-canonical
  * occurrence overlaps a canonical occurrence, the canonical's tokens
  * can still be partially cut — under heavy overlapping duplication a
  * span's content can vanish from every document. [[dedupSpansAll]]
  * removes both limitations: its single detection length is an exact
  * all-lengths THRESHOLD (coverage theorem in its doc), and its
  * coverage-level canonical protection guarantees every duplicated
  * span's content survives somewhere. The per-window semantics here are
  * kept as the simpler primitive; each flavor's oracle replays its own
  * semantics, so both engines agree either way.
  */
object ExactSpans {

  val PosRange = 1000000L

  /** Kept 1-based token indices after cutting every length-`L` span
    * whose 0-based start is in `starts` (sorted ascending, distinct)
    * from a document of `nTokens` tokens — O(tokens + spans) per
    * document: the covered ranges [s+1, s+L] are merged into disjoint
    * intervals declaratively (all spans share length L, so a start
    * opens a new interval iff its gap to the previous start exceeds L,
    * and an interval's end is the last start of its run + L — no
    * running-max fold needed), then the kept indices are the flattened
    * gap ranges between consecutive intervals. The previous
    * formulation — `filter(sequence(1,n), t => !exists(starts, …))` —
    * was O(tokens × starts) per document: correct, but a pathological
    * boilerplate-heavy document with thousands of marked spans made one
    * row quadratic. */
  private[ops] def keptIdx(starts: Column, nTokens: Column, L: Int): Column = {
    val n = nTokens.cast("long")
    val (los, his) = coveredBounds(starts, L)
    // kept = the gaps: [1, lo1-1], [hi1+1, lo2-1], …, [hiK+1, nTokens]
    val gapLo = concat(array(lit(1L)), transform(his, h => h + 1))
    val gapHi = concat(transform(los, l => l - 1), array(n))
    when(size(starts) === 0, sequence(lit(1L), n))
      .otherwise(flatten(zip_with(gapLo, gapHi,
        (a, b) => when(a <= b, sequence(a, b))
          .otherwise(array().cast("array<bigint>")))))
  }

  /** Merged covered-interval bounds for length-`L` spans at the sorted
    * distinct 0-based `starts`: (los, his), the k-th lo pairing with the
    * k-th hi, both 1-based inclusive token indices. Shared by the kept-
    * gap sweep ([[keptIdx]]) and the cover flattening ([[coverIdx]]). */
  private[ops] def coveredBounds(starts: Column, L: Int): (Column, Column) = {
    // starts shifted right/left, with sentinels that always break a run:
    // prev sentinel -(L+1) makes s0-prev > L; next sentinel MaxValue-L
    // makes next-sLast > L without overflow (s >= 0).
    val sPrev = concat(array(lit(-(L + 1).toLong)),
      slice(starts, lit(1), size(starts) - 1))
    val sNext = concat(slice(starts, lit(2), size(starts) - 1),
      array(lit(Long.MaxValue - L)))
    // interval bounds: lo = s+1 where the gap to the previous start
    // exceeds L (run opener), hi = s+L where the gap to the next start
    // exceeds L (run closer); the k-th lo pairs with the k-th hi
    // because runs are contiguous in the sorted start list
    val los = filter(zip_with(starts, sPrev, (s, p) => when(s - p > L, s + 1)),
      x => x.isNotNull)
    val his = filter(zip_with(starts, sNext, (s, nx) => when(nx - s > L, s + L)),
      x => x.isNotNull)
    (los, his)
  }

  /** The sorted 1-based token indices COVERED by length-`L` spans at the
    * sorted distinct 0-based `starts` — [[keptIdx]]'s complement, same
    * O(tokens + spans) interval merge. */
  private[ops] def coverIdx(starts: Column, L: Int): Column = {
    val (los, his) = coveredBounds(starts, L)
    when(size(starts) === 0, array().cast("array<bigint>"))
      .otherwise(flatten(zip_with(los, his, (a, b) => sequence(a, b))))
  }

  /** Per-document span-dedup manifest: (doc_id, n_tokens, n_removed,
    * deduped_text). Tokens are the lowercased whitespace tokenization
    * (same formula as the chunk/fingerprint family); documents shorter
    * than `spanLen` tokens pass through untouched. */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
                 spanLen: Int): DataFrame =
    dedupSpans(docs, idCol, textCol, spanLen, PosRange)

  /** [[dedupSpans]] with an explicit position-encoding bound — raise it
    * together with the oracle's constant for corpora with longer
    * documents; the spec drives a small bound to pin the
    * outside-the-domain pass-through without building million-token
    * strings. */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
                 spanLen: Int, posRange: Long): DataFrame = {
    require(spanLen >= 2, s"spanLen must be >= 2; got $spanLen")
    require(posRange >= spanLen,
      s"posRange must be >= spanLen ($spanLen) — a smaller bound would " +
        s"silently exclude every document from the dedup domain; got $posRange")
    // The rewrite indexes tokens via element_at(ws, idx.cast(int)): a
    // posRange past Int.MaxValue would admit documents whose 1-based
    // token indices overflow that cast (runtime error or corrupt
    // deduped_text). Documents longer than ~2^31 tokens need upstream
    // chunking, not a larger posRange.
    require(posRange <= Int.MaxValue,
      s"posRange must be <= Int.MaxValue (token indices are materialized " +
        s"as ints in the rewrite); got $posRange — chunk longer documents " +
        "upstream instead")
    val tok = docs.select(col(idCol).cast("long").as("doc_id"),
      TextStats.words(lower(col(textCol))).as("ws"))
    rewrite(tok, markedStarts(tok, spanLen, posRange), spanLen)
  }

  /** ALL-LENGTHS exact-substring dedup — the suffix-array semantics of
    * Lee et al. 2022 without the suffix array, in two linear passes.
    *
    * COVERAGE THEOREM (what makes the fixed-window pass exact): a token
    * position lies inside some occurrence of a duplicated substring of
    * length >= L  ⇔  it is covered by a duplicated length-L window.
    * (⇐: a duplicated L-window IS a duplicated substring of length >= L.
    * ⇒: an occurrence of a duplicated substring of length m >= L has an
    * L-window starting at every offset 0..m−L, each duplicated because
    * the matching occurrence contains the same L tokens at the same
    * offset, and together they cover all m positions.) So the UNION of
    * duplicated-L-window occurrences equals the suffix-array removal set
    * for every duplicated substring of length >= L — including lengths
    * 5, 17, 1000: the single detection length is a THRESHOLD, not a
    * sampled span size the way [[dedupSpansMulti]]'s fixed list is.
    *
    * KEEP-ONE is promoted from per-window to COVERAGE level: a covered
    * token is kept iff some occurrence covering it is CANONICAL (the
    * globally smallest (doc_id, position) of its window key). This fixes
    * the documented [[dedupSpans]] flaw where overlapping foreign marks
    * could shred a canonical occurrence until a span's content vanished
    * from every document: here canonical occurrences are immune to cuts,
    * so every duplicated window's content survives verbatim somewhere,
    * while every fully-non-canonical occurrence region is cut whole.
    *
    * Scale shape identical to [[dedupSpans]]: window explode (one row
    * per token), ONE map-side-combined groupBy on the window key with a
    * min-encoded canonical (no per-key windows — the [[TopN]] skew
    * lesson), one equi-join back, one per-doc aggregation collecting the
    * marked AND canonical start lists together (conditional collect_set,
    * single shuffle), then the O(tokens + spans) interval sweep: kept =
    * gaps(marked) ∪ cover(canonical). Output the family manifest:
    * (doc_id, n_tokens, n_removed, deduped_text).
    *
    * Inputs [[graft.Tier]] admits under `maxLocalBytes` take a ONE-TASK
    * tier instead ([[dedupSpansAllLocal]]): at serving scale the chain
    * above is five stages of scheduling and AQE replanning around well
    * under a second of work. Its default cap is [[LocalAllBytes]], not
    * [[graft.Tier.LocalBytes]] — see there for why. `maxLocalBytes = 0`
    * forces the distributed chain (ExactSpansSpec runs every all-lengths
    * case on both tiers and asserts equal rows). */
  def dedupSpansAll(docs: DataFrame, idCol: String, textCol: String,
                    minLen: Int, posRange: Long = PosRange,
                    maxLocalBytes: Long = LocalAllBytes): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2; got $minLen")
    require(posRange >= minLen,
      s"posRange must be >= minLen ($minLen); got $posRange")
    require(posRange <= Int.MaxValue,
      s"posRange must be <= Int.MaxValue; got $posRange — chunk longer " +
        "documents upstream instead")
    if (graft.Tier.fits(maxLocalBytes, docs))
      return dedupSpansAllLocal(docs, idCol, textCol, minLen, posRange)
    val L = minLen
    val tok = tokens(docs, idCol, textCol)
    val win = windows(tok, L, posRange)
    finishAll(tok, startsFor(win, spanOcc(win, posRange), posRange), L)
  }

  /** [[dedupSpansAll]]'s local-tier cap: [[graft.Tier.LocalBytes]] / 16
    * (4 MB of estimated input). The one-task kernel holds every token
    * (one String each) and a hash table of two to four slots per window
    * in the task's heap: tens of bytes of heap per byte of Catalyst's
    * `documents` estimate. On the 10× corpus (a 626 KB estimate, about
    * 272k tokens) that is about 14 MB of tokens plus 21 MB of table
    * arrays, 56 B per byte; a per-window-map prototype measured 67 B per
    * byte. At the shared 64 MB budget that rate needs about 4.3 GB, past
    * a 4 GB driver; at 4 MB it needs about 270 MB. */
  val LocalAllBytes: Long = graft.Tier.LocalBytes / 16

  /** [[dedupSpansAll]]'s ONE-TASK tier: the whole manifest in a single
    * `mapPartitions` task over (id, text). Each document is tokenized
    * once (the [[LocalText]] replica of [[TextStats.words]] over
    * `lower`); one open-addressing table keyed BY REFERENCE — (document,
    * start) into the token arrays, a content hash over the window's L
    * token hashes, token-by-token equality — holds each distinct
    * window's (count, min-encoded canonical occurrence), so no per-window
    * string is ever built; then every document is rewritten by
    * [[KeepSweep]], the sweep the maintenance kernel shares.
    *
    * The distributed chain's edge cases hold exactly: null text emits
    * (id, null, null, null); documents shorter than L or longer than
    * `posRange` tokens pass through (tokens re-joined by single spaces);
    * a null-id document's windows count toward duplication but never
    * own a canonical, and it is never rewritten (its null key joins no
    * start list). Documents are keyed by id, one row per id — the
    * family's snapshot contract. */
  private def dedupSpansAllLocal(docs: DataFrame, idCol: String,
                                 textCol: String, L: Int,
                                 posRange: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).coalesce(1)
      .mapPartitions { rows =>
        val ids = mutable.ArrayBuffer.empty[java.lang.Long]
        val toks = mutable.ArrayBuffer.empty[Array[String]]
        rows.foreach { r =>
          ids += (if (r.isNullAt(0)) null else r.getLong(0))
          toks += (if (r.isNullAt(1)) null
            else LocalText.words(r.getString(1).toLowerCase()))
        }
        def inDomain(ws: Array[String]): Boolean =
          ws != null && ws.length >= L && ws.length <= posRange
        // off(d): document d's first window in the flat window order.
        val off = new Array[Int](toks.length + 1)
        var d = 0
        while (d < toks.length) {
          val ws = toks(d)
          val nw = if (inDomain(ws)) ws.length - L + 1L else 0L
          require(off(d) + nw <= (1 << 29),
            "too many windows for the one-task tier; lower maxLocalBytes")
          off(d + 1) = off(d) + nw.toInt
          d += 1
        }
        var cap = 2
        while (cap < 2L * off(toks.length)) cap <<= 1
        val mask = cap - 1
        val ref = Array.fill(cap)(-1L) // (document << 32) | start
        val cnt = new Array[Int](cap)
        val canon = Array.fill(cap)(Long.MaxValue)
        val slot = new Array[Int](off(toks.length))
        def sameWindow(r: Long, ws: Array[String], p: Int): Boolean = {
          val os = toks((r >>> 32).toInt)
          val op = (r & 0xffffffffL).toInt
          var j = 0
          while (j < L && os(op + j) == ws(p + j)) j += 1
          j == L
        }
        d = 0
        while (d < toks.length) {
          val ws = toks(d)
          val hasId = ids(d) != null
          val base = if (hasId) Math.multiplyExact(ids(d).longValue, posRange)
            else 0L
          var p = 0
          while (p < off(d + 1) - off(d)) {
            var h = 1
            var j = 0
            while (j < L) { h = 31 * h + ws(p + j).hashCode; j += 1 }
            var s = scala.util.hashing.MurmurHash3.finalizeHash(h, L) & mask
            while (ref(s) != -1L && !sameWindow(ref(s), ws, p)) s = (s + 1) & mask
            if (ref(s) == -1L) ref(s) = (d.toLong << 32) | p
            cnt(s) += 1
            if (hasId) canon(s) = math.min(canon(s), Math.addExact(base, p.toLong))
            slot(off(d) + p) = s
            p += 1
          }
          d += 1
        }
        Iterator.tabulate[ManifestRow](toks.length) { d =>
          val ws = toks(d)
          if (ws == null) (ids(d), null, null, null)
          else {
            val sweep = new KeepSweep(ws, L)
            if (ids(d) != null) {
              val base = ids(d).longValue * posRange
              var p = 0
              while (p < off(d + 1) - off(d)) {
                val s = slot(off(d) + p)
                if (cnt(s) >= 2) sweep.stamp(p, base + p == canon(s))
                p += 1
              }
            }
            sweep.row(ids(d))
          }
        }
      }.toDF("doc_id", "n_tokens", "n_removed", "deduped_text")
  }

  /** A manifest row in the one-task kernels, boxed so that null text
    * keeps the distributed chain's (id, null, null, null). */
  private type ManifestRow =
    (java.lang.Long, java.lang.Long, java.lang.Long, String)

  /** One document's all-lengths rewrite in the one-task kernels
    * ([[dedupSpansAllLocal]], [[maintainSpanDedupAllLocal]]): [[stamp]]
    * each duplicated-window occurrence, then [[row]] sweeps the tokens
    * once — a token is kept iff no marked occurrence covers it or a
    * canonical one does (diff-array interval stamping, O(tokens +
    * spans); [[finishAll]]'s gaps(marked) ∪ cover(canonical)). */
  private final class KeepSweep(ws: Array[String], L: Int) {
    private val n = ws.length
    private val marked = new Array[Int](n + 1)
    private val canonical = new Array[Int](n + 1)

    /** Covers tokens [p, p + L) as a marked or a canonical occurrence. */
    def stamp(p: Int, isCanonical: Boolean): Unit = {
      val diff = if (isCanonical) canonical else marked
      diff(p) += 1
      diff(math.min(n, p + L)) -= 1
    }

    /** The manifest row: (doc_id, n_tokens, n_removed, deduped_text). */
    def row(id: java.lang.Long): ManifestRow = {
      val sb = new java.lang.StringBuilder
      var kept = 0L
      var mc = 0; var cc = 0; var i = 0
      while (i < n) {
        mc += marked(i); cc += canonical(i)
        if (mc == 0 || cc > 0) {
          if (kept > 0) sb.append(' ')
          sb.append(ws(i)); kept += 1
        }
        i += 1
      }
      (id, n.toLong, n - kept, sb.toString)
    }
  }

  /** The dup-key SUMMARY over a window index: (key, n, canon
    * [min-encoded canonical occurrence]) for every key occurring twice
    * or more — [[dedupSpansAll]]'s detection aggregate, exposed because
    * it is the SECOND stored artifact of the incremental pair: the
    * old-side status [[maintainSpanDedupAll]] reads instead of ever
    * re-aggregating the stored index, and [[maintainSpanOcc]] maintains
    * for the next crawl. */
  def spanOcc(index: DataFrame, posRange: Long = PosRange): DataFrame =
    index.groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        min(col("doc_id") * posRange + col("p")).as("canon"))
      .filter(col("n") >= 2)

  /** Shared tokenization of the span-dedup family: (doc_id, ws). */
  private def tokens(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      TextStats.words(lower(col(textCol))).as("ws"))

  /** All stride-1 length-`L` windows of in-domain documents:
    * (doc_id, p [0-based], key) — [[dedupSpansAll]]'s detection rows and
    * the STORED-INDEX row format [[spanIndex]] materializes. */
  private def windows(tok: DataFrame, L: Int, posRange: Long): DataFrame =
    tok.filter(size(col("ws")) >= L && size(col("ws")) <= lit(posRange))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - L)).as("p"))
      .select(col("doc_id"), col("p"),
        array_join(slice(col("ws"), col("p") + 1, lit(L)), " ").as("key"))

  /** ONE per-doc pass collecting both start lists from the duplicated-
    * window join (collect_set skips the nulls the when() leaves on the
    * other branch's rows): (doc_id, _ms [non-canonical starts],
    * _cs [canonical starts]). `occ` must already be filtered to n >= 2. */
  private def startsFor(win: DataFrame, occ: DataFrame,
                        posRange: Long): DataFrame = {
    val enc = col("doc_id") * posRange + col("p")
    win.join(occ, "key")
      .groupBy(col("doc_id"))
      .agg(
        sort_array(collect_set(when(enc =!= col("canon"), col("p").cast("long"))))
          .as("_ms"),
        sort_array(collect_set(when(enc === col("canon"), col("p").cast("long"))))
          .as("_cs"))
  }

  /** The all-lengths finishing sweep: kept = gaps(marked) ∪
    * cover(canonical), then the manifest row per document (docs without
    * start lists pass through whole). */
  private def finishAll(tok: DataFrame, starts: DataFrame, L: Int): DataFrame = {
    val kept = sort_array(array_union(
      keptIdx(col("_ms"), size(col("ws")), L), coverIdx(col("_cs"), L)))
    tok.join(starts, Seq("doc_id"), "left")
      .withColumn("_ms", coalesce(col("_ms"), array().cast("array<long>")))
      .withColumn("_cs", coalesce(col("_cs"), array().cast("array<long>")))
      .withColumn("_kept", kept)
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        (size(col("ws")) - size(col("_kept"))).cast("long").as("n_removed"),
        array_join(transform(col("_kept"),
          t => element_at(col("ws"), t.cast("int"))), " ").as("deduped_text"))
  }

  /** The window-occurrence INDEX over a corpus snapshot — the stored
    * artifact that makes exact-substring dedup INCREMENTAL: one row per
    * stride-1 length-`minLen` window of every in-domain document,
    * (doc_id, p [0-based start], key [the window's token string]). This
    * is the fingerprint table a Lee-et-al-style dedup service keeps
    * (O(corpus tokens) rows — the same size class as the corpus, which
    * is exactly why a deployment stores it once and maintains it instead
    * of re-windowing 100 TB per crawl). [[maintainSpanDedupAll]] consumes
    * and reproduces it. */
  def spanIndex(docs: DataFrame, idCol: String, textCol: String,
                minLen: Int, posRange: Long = PosRange): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2; got $minLen")
    require(posRange >= minLen && posRange <= Int.MaxValue,
      s"posRange must be in [$minLen, Int.MaxValue]; got $posRange")
    windows(tokens(docs, idCol, textCol), minLen, posRange)
  }

  /** The maintained window index for the NEXT crawl: stored rows minus
    * the delta docs' old rows plus the delta docs' re-windowed new text —
    * bit-equal to `spanIndex(newDocs, …)` (unchanged text re-windows to
    * identical rows, so reuse is exact). [[maintainSpanDedupAll]] builds
    * the same union internally; this entry point is what a deployment
    * persists (log-structured: tombstones for the anti-join, appends for
    * the union — a delta-sized write). */
  def maintainSpanIndex(prevIndex: DataFrame, newDocs: DataFrame,
                        idCol: String, textCol: String, delta: DataFrame,
                        minLen: Int, posRange: Long = PosRange): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2; got $minLen")
    require(posRange >= minLen && posRange <= Int.MaxValue,
      s"posRange must be in [$minLen, Int.MaxValue]; got $posRange")
    val del = delta.select(col("doc_id").cast("long").as("doc_id"),
      col("status"))
    prevIndex
      .join(del.filter(col("status").isin("removed", "changed"))
        .select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(windows(
        tokens(newDocs, idCol, textCol)
          .join(del.filter(col("status").isin("added", "changed"))
            .select("doc_id"), Seq("doc_id"), "left_semi"),
        minLen, posRange))
  }

  /** INCREMENTAL all-lengths exact-substring dedup — [[dedupSpansAll]]'s
    * manifest maintained across corpus snapshots from the stored window
    * index + the stored dup-key summary + the stored manifest + the
    * snapshot delta, never re-windowing or re-aggregating unchanged
    * text. The q145/q148/q153 pattern at the EXACT-SUBSTRING layer,
    * which is the subtlest member of the family because duplication is
    * a GLOBAL property: a delta-only change can flip windows of
    * UNTOUCHED documents between unique and duplicated, or move a
    * window's canonical occurrence — so verbatim reuse needs an
    * affected-document closure, not just a delta filter.
    *
    * Correctness argument (what the full-recompute oracle certifies):
    * a document's manifest row is a pure function of (its token list,
    * the (duplicated?, canonical-occurrence) status of each of its
    * windows). The maintenance recomputes exactly the documents where
    * either input can have changed:
    *
    *   1. INDEX: new index = stored index − delta docs' rows + re-windowed
    *      delta text (unchanged docs' window rows reuse verbatim — their
    *      text is byte-identical, so re-windowing would reproduce them).
    *   2. AFFECTED KEYS: only keys whose occurrence multiset changed can
    *      change status — precisely the keys in the delta docs' OLD rows
    *      (from the stored index) or NEW rows. The new-side (count,
    *      min-encoded canonical) aggregate runs over those keys'
    *      surviving + added occurrences ONLY; the old side never
    *      re-aggregates at all — it reads the stored [[spanOcc]] summary.
    *   3. CHANGED KEYS: a key matters iff its dup flag flipped, or it is
    *      duplicated on both sides with a MOVED canonical (a removed
    *      canonical occurrence hands ownership to the next-smallest —
    *      the flip that forces a recompute of an untouched partner doc).
    *   4. CLOSURE: recompute = delta (added ∪ changed) docs ∪ untouched
    *      docs holding a changed key. Every other document's inputs are
    *      untouched (its keys are either outside the affected set or
    *      status-stable), so its stored manifest row reuses VERBATIM.
    *
    * The recompute set's window rows join the MAINTAINED summary
    * ([[maintainSpanOcc]]'s union — stored rows for untouched keys, the
    * delta-adjacent aggregate for affected ones), so no index-wide
    * aggregate exists anywhere in the maintenance: the corpus-sized
    * index is only SCANNED (the anti-join and two broadcast-probed
    * semi-joins), every shuffle is delta-adjacent, and text is only
    * re-tokenized for recompute-set documents. A deployment stores the
    * maintained index log-structured (tombstones + appends), so the
    * index write is delta-sized too.
    *
    * `delta` is [[SnapshotDelta.diffHashed]] output (doc_id, status);
    * `newDocs` is the new snapshot; `prevIndex`/`prevOcc`/`prevManifest`
    * are [[spanIndex]]/[[spanOcc]]/[[dedupSpansAll]] over the previous
    * snapshot with the same (minLen, posRange). Returns the new
    * snapshot's manifest, bit-equal to `dedupSpansAll(newDocs, …)`. */
  def maintainSpanDedupAll(prevIndex: DataFrame, prevOcc: DataFrame,
                           prevManifest: DataFrame, newDocs: DataFrame,
                           idCol: String, textCol: String,
                           delta: DataFrame, minLen: Int,
                           posRange: Long = PosRange): DataFrame = {
    val P = spanMaintCore(prevIndex, prevOcc, newDocs, idCol, textCol,
      delta, minLen, posRange)
    val rWin = P.newIndex.join(P.recompute, Seq("doc_id"), "left_semi")
    val recomputed = finishAll(
      P.newTok.join(P.recompute, Seq("doc_id"), "left_semi"),
      startsFor(rWin, P.newOcc, posRange), minLen)
    prevManifest.join(P.outIds, Seq("doc_id"), "left_anti")
      .join(P.affDocs, Seq("doc_id"), "left_anti")
      .unionByName(recomputed)
  }

  /** The maintained dup-key summary for the NEXT crawl — bit-equal to
    * `spanOcc(spanIndex(newDocs, …))`: stored rows reuse verbatim for
    * every key outside the affected set (their occurrence multisets are
    * untouched), affected keys re-aggregate from their surviving + added
    * occurrences only. */
  def maintainSpanOcc(prevIndex: DataFrame, prevOcc: DataFrame,
                      newDocs: DataFrame, idCol: String, textCol: String,
                      delta: DataFrame, minLen: Int,
                      posRange: Long = PosRange): DataFrame =
    spanMaintCore(prevIndex, prevOcc, newDocs, idCol, textCol,
      delta, minLen, posRange).newOcc

  /** [[maintainSpanDedupAll]]'s guarded ONE-TASK tier — the q153/q145
    * treatment at the exact-substring layer. The distributed maintenance
    * is ~20 small stages (hash diff, delta windows, affected-key
    * aggregate, closure semi-joins, rewrite, manifest union) whose every
    * input at serving scale is megabytes: pure scheduling/AQE-replan
    * latency (measured ~13-18 s at sf0.1 against a 1.4 s full rebuild —
    * no single stage over 2 s). The five stored inputs ride a tagged
    * union (no driver collect) into a single `mapPartitions` task that
    * mirrors the distributed chain step for step, including the hash
    * diff itself ([[LocalText.contentHash]] — Spark trim/lower/ws
    * semantics bit-for-bit) and VERBATIM manifest-row reuse outside the
    * affected closure (the whitebox corruption spec pins both tiers).
    * Callers guard fail-CLOSED on Catalyst size stats — see the q176
    * cell. */
  def maintainSpanDedupAllLocal(newDocs: DataFrame, prevHashes: DataFrame,
                                prevIndex: DataFrame, prevOcc: DataFrame,
                                prevManifest: DataFrame, idCol: String,
                                textCol: String, minLen: Int,
                                posRange: Long = PosRange): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2; got $minLen")
    require(posRange >= minLen && posRange <= Int.MaxValue,
      s"posRange must be in [$minLen, Int.MaxValue]; got $posRange")
    val L = minLen
    val spark = newDocs.sparkSession
    import spark.implicits._
    val nullS = lit(null).cast("string")
    val nullL = lit(null).cast("long")
    val tagged = newDocs
      .select(lit("d").as("_t"), col(idCol).cast("long").as("_id"),
        col(textCol).as("_s"), nullL.as("_p"), nullL.as("_l1"),
        nullL.as("_l2"))
      .unionByName(prevHashes.select(lit("h").as("_t"),
        col("doc_id").cast("long").as("_id"), col("content_hash").as("_s"),
        nullL.as("_p"), nullL.as("_l1"), nullL.as("_l2")))
      .unionByName(prevIndex.select(lit("i").as("_t"),
        col("doc_id").cast("long").as("_id"), col("key").as("_s"),
        col("p").cast("long").as("_p"), nullL.as("_l1"), nullL.as("_l2")))
      .unionByName(prevOcc.select(lit("o").as("_t"), nullL.as("_id"),
        col("key").as("_s"), nullL.as("_p"), col("n").cast("long").as("_l1"),
        col("canon").cast("long").as("_l2")))
      .unionByName(prevManifest.select(lit("m").as("_t"),
        col("doc_id").cast("long").as("_id"), col("deduped_text").as("_s"),
        nullL.as("_p"), col("n_tokens").cast("long").as("_l1"),
        col("n_removed").cast("long").as("_l2")))
    tagged.coalesce(1).mapPartitions { it =>
      // Null text, hash and manifest fields stay null, as in the
      // distributed chain: a null-text document hashes to null, has no
      // windows, and its manifest row is (id, null, null, null).
      val newText = mutable.HashMap.empty[Long, String]
      val prevHash = mutable.HashMap.empty[Long, String]
      val idxRows = mutable.ArrayBuffer.empty[(Long, Long, String)]
      val occ = mutable.HashMap.empty[String, (Long, Long)]
      val man = mutable.HashMap.empty[Long, ManifestRow]
      def boxed(row: org.apache.spark.sql.Row, i: Int): java.lang.Long =
        if (row.isNullAt(i)) null else row.getLong(i)
      it.foreach { row =>
        row.getString(0) match {
          case "d" => newText.update(row.getLong(1), row.getString(2))
          case "h" => prevHash.update(row.getLong(1), row.getString(2))
          case "i" => idxRows += ((row.getLong(1), row.getLong(3),
            row.getString(2)))
          case "o" => occ.update(row.getString(2),
            (row.getLong(4), row.getLong(5)))
          case _ => man.update(row.getLong(1),
            (row.getLong(1), boxed(row, 4), boxed(row, 5), row.getString(2)))
        }
      }
      // Hash diff (LocalText.contentHash = Spark's md5/trim/lower chain),
      // null-safe like SnapshotDelta.diffHashed.
      val inIds = mutable.HashSet.empty[Long]
      val outIds = mutable.HashSet.empty[Long]
      newText.foreach { case (id, t) =>
        prevHash.get(id) match {
          case None => inIds += id
          case Some(h) =>
            val nh = if (t == null) null else LocalText.contentHash(t)
            if (h != nh) { inIds += id; outIds += id }
        }
      }
      prevHash.keysIterator.foreach(id =>
        if (!newText.contains(id)) outIds += id)
      // Delta docs' re-windowed text (null for null text).
      def wordsOf(id: Long): Array[String] =
        Option(newText(id)).map(t => LocalText.words(t.toLowerCase())).orNull
      val addWin = mutable.ArrayBuffer.empty[(Long, Long, String)]
      inIds.foreach { id =>
        val ws = wordsOf(id)
        if (ws != null && ws.length >= L && ws.length <= posRange) {
          var p = 0
          while (p <= ws.length - L) {
            val sb = new java.lang.StringBuilder(ws(p))
            var j = 1
            while (j < L) { sb.append(' ').append(ws(p + j)); j += 1 }
            addWin += ((id, p.toLong, sb.toString))
            p += 1
          }
        }
      }
      // Affected keys + the new-side aggregate over their surviving +
      // added occurrences (the distributed newAggA, as hash maps).
      val aKeys = mutable.HashSet.empty[String]
      idxRows.foreach { case (d, _, k) => if (outIds.contains(d)) aKeys += k }
      addWin.foreach { case (_, _, k) => aKeys += k }
      val agg = mutable.HashMap.empty[String, (Long, Long)]
      def aggAdd(k: String, e: Long): Unit = agg.get(k) match {
        case None => agg.update(k, (1L, e))
        case Some((n, c)) => agg.update(k, (n + 1L, math.min(c, e)))
      }
      def eachNewIndexRow(f: (Long, Long, String) => Unit): Unit = {
        idxRows.foreach { case (d, p, k) => if (!outIds.contains(d)) f(d, p, k) }
        addWin.foreach { case (d, p, k) => f(d, p, k) }
      }
      eachNewIndexRow((d, p, k) =>
        if (aKeys.contains(k)) aggAdd(k, d * posRange + p))
      // Changed-status keys (dup flag flipped, or canonical moved).
      val changed = mutable.HashSet.empty[String]
      aKeys.foreach { k =>
        val o = occ.get(k)
        val a = agg.get(k)
        val dupN = a.exists(_._1 >= 2)
        if (o.isDefined != dupN ||
          (o.isDefined && dupN && o.get._2 != a.get._2)) changed += k
      }
      // Maintained summary: untouched keys verbatim, affected re-derived.
      val newOcc = mutable.HashMap.empty[String, Long]
      occ.foreach { case (k, (_, c)) => if (!aKeys.contains(k)) newOcc.update(k, c) }
      agg.foreach { case (k, (n, c)) => if (n >= 2) newOcc.update(k, c) }
      // Affected-document closure + per-recompute-doc window rows.
      val aff = mutable.HashSet.empty[Long]
      eachNewIndexRow((d, _, k) =>
        if (!inIds.contains(d) && changed.contains(k)) aff += d)
      val byDoc = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Long, String)]]
      eachNewIndexRow((d, p, k) =>
        if (inIds.contains(d) || aff.contains(d))
          byDoc.getOrElseUpdate(d, mutable.ArrayBuffer.empty) += ((p, k)))
      // Rewrite one recompute doc.
      def rewrite(id: Long): ManifestRow = {
        val ws = wordsOf(id)
        if (ws == null) (id, null, null, null)
        else {
          val sweep = new KeepSweep(ws, L)
          byDoc.get(id).foreach(_.foreach { case (p, k) =>
            newOcc.get(k).foreach(canon =>
              sweep.stamp(p.toInt, id * posRange + p == canon))
          })
          sweep.row(id)
        }
      }
      newText.keysIterator.map(id =>
        if (inIds.contains(id) || aff.contains(id)) rewrite(id) else man(id))
    }.toDF("doc_id", "n_tokens", "n_removed", "deduped_text")
  }

  private final case class SpanMaint(outIds: DataFrame, inIds: DataFrame,
      newTok: DataFrame, newIndex: DataFrame, newOcc: DataFrame,
      affDocs: DataFrame, recompute: DataFrame)

  /** The shared maintenance core — see [[maintainSpanDedupAll]]'s
    * scaladoc for the correctness argument each frame implements. */
  private def spanMaintCore(prevIndex: DataFrame, prevOcc: DataFrame,
                            newDocs: DataFrame, idCol: String,
                            textCol: String, delta: DataFrame, minLen: Int,
                            posRange: Long): SpanMaint = {
    require(minLen >= 2, s"minLen must be >= 2; got $minLen")
    require(posRange >= minLen && posRange <= Int.MaxValue,
      s"posRange must be in [$minLen, Int.MaxValue]; got $posRange")
    val L = minLen
    val lvl = StorageLevel.MEMORY_AND_DISK
    val del = delta.select(col("doc_id").cast("long").as("doc_id"),
      col("status"))
    // Tiny per-crawl id sets, each feeding 2-3 broadcast joins.
    val outIds = graft.CacheScope.scopedPersist(
      del.filter(col("status").isin("removed", "changed")).select("doc_id"), lvl)
    val inIds = graft.CacheScope.scopedPersist(
      del.filter(col("status").isin("added", "changed")).select("doc_id"), lvl)
    val newTok = tokens(newDocs, idCol, textCol)
    // Delta docs' re-windowed text: feeds the index union, the affected
    // keys, and the new-side aggregate → persisted.
    val addWin = graft.CacheScope.scopedPersist(
      windows(newTok.join(inIds, Seq("doc_id"), "left_semi"), L, posRange),
      lvl)
    // (1) index maintenance. Deliberately NOT persisted: its consumers
    // are broadcast-probed scans (caching a corpus-sized frame to save
    // re-reading stored parquet is a net loss at scale).
    val newIndex = prevIndex.join(outIds, Seq("doc_id"), "left_anti")
      .unionByName(addWin)
    // (2) affected keys: every key whose occurrence multiset could differ.
    val aKeys = graft.CacheScope.scopedPersist(
      prevIndex.join(outIds, Seq("doc_id"), "left_semi").select("key")
        .unionByName(addWin.select("key")).distinct(), lvl)
    val enc = col("doc_id") * posRange + col("p")
    // New-side status of the affected keys: ONE aggregate over their
    // surviving (non-delta) + added occurrences.
    val newAggA = prevIndex.join(aKeys, Seq("key"), "left_semi")
      .join(outIds, Seq("doc_id"), "left_anti")
      .unionByName(addWin)
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"), min(enc).as("canon"))
    // (3) keys whose (dup?, canonical) status changed — old status reads
    // the STORED summary (a key absent there was not duplicated).
    val changedKeys = prevOcc.join(aKeys, Seq("key"), "left_semi")
      .select(col("key"), lit(true).as("dup_o"), col("canon").as("can_o"))
      .join(newAggA.select(col("key"), (col("n") >= 2).as("dup_n"),
        when(col("n") >= 2, col("canon")).as("can_n")),
        Seq("key"), "full_outer")
      .filter(
        coalesce(col("dup_o"), lit(false)) =!= coalesce(col("dup_n"), lit(false))
          || (coalesce(col("dup_o"), lit(false))
            && coalesce(col("dup_n"), lit(false))
            && col("can_o") =!= col("can_n")))
      .select("key")
    // The maintained summary: untouched keys verbatim, affected keys
    // from the fresh aggregate. Feeds the recompute rewrite AND is the
    // next crawl's stored artifact.
    val newOcc = graft.CacheScope.scopedPersist(
      prevOcc.join(aKeys, Seq("key"), "left_anti")
        .unionByName(newAggA.filter(col("n") >= 2)), lvl)
    // (4) the affected-document closure: untouched docs holding a
    // changed key recompute; everything else reuses verbatim.
    val affDocs = graft.CacheScope.scopedPersist(
      newIndex.join(changedKeys, Seq("key"), "left_semi")
        .select("doc_id").distinct()
        .join(inIds, Seq("doc_id"), "left_anti"), lvl)
    val recompute = graft.CacheScope.scopedPersist(
      inIds.unionByName(affDocs.select("doc_id")).distinct(), lvl)
    SpanMaint(outIds, inIds, newTok, newIndex, newOcc, affDocs, recompute)
  }

  /** MAXIMAL duplicated-span INVENTORY — the reporting view a suffix
    * array gives ("every maximal duplicated substring of length >= L,
    * with its location"), over the same linear window pass as
    * [[dedupSpansAll]]: per document, maximal RUNS of consecutive
    * (step-1) duplicated L-window starts are merged by a gaps-and-
    * islands sweep; a run [a..b] reports the span (start a, length
    * b−a+L). ALL occurrences are inventoried (canonical included —
    * this is analytics, not removal).
    *
    * SEMANTICS: this is the CHEAP TIER — an upper envelope, one linear
    * window pass. A run certifies every L-window inside it is
    * duplicated SOMEWHERE, not that the whole run's text occurs twice
    * as one contiguous string — two different partners can each match
    * half of a run (chaining). Every true maximal duplicated substring
    * of length >= L is contained in exactly one reported run, so the
    * inventory never misses or splits one; it can only weld two
    * abutting ones. For EXACT reporting use [[Suffix.maximalSpansExact]]
    * (distributed prefix-doubling suffix ranks + neighbor LCP — what
    * q146 serves since round 13; O(log maxDocLen) rounds instead of
    * one pass). The removal-set queries ([[dedupSpansAll]]) are
    * unaffected — coverage is exact there.
    *
    * Output: (doc_id, span_start [0-based token], span_len [tokens],
    * span_text) — one row per maximal run; span-free documents emit
    * nothing. */
  def maximalSpans(docs: DataFrame, idCol: String, textCol: String,
                   minLen: Int): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2; got $minLen")
    val L = minLen
    val tok = docs.select(col(idCol).cast("long").as("doc_id"),
      TextStats.words(lower(col(textCol))).as("ws"))
    // Persisted: the exploded window table feeds the duplicate-key
    // aggregation AND the join back — unpersisted, the explode (with
    // its per-window key-string build, the pass's dominant cost) runs
    // twice. Caching contract as the rest of the family: release with
    // `spark.catalog.clearCache()`. At production scale this frame is
    // the corpusShingles-style materialized artifact instead.
    val win = tok
      .filter(size(col("ws")) >= L && size(col("ws")) <= lit(PosRange))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - L)).as("p"))
      .select(col("doc_id"), col("p"),
        array_join(slice(col("ws"), col("p") + 1, lit(L)), " ").as("key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupKeys = win.groupBy(col("key"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2).select(col("key"))
    val starts = win.join(dupKeys, "key")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("p").cast("long"))).as("_ss"))
    // gaps-and-islands on the sorted start list: a start opens a run
    // iff its gap to the previous start exceeds 1, closes one iff the
    // next start is more than 1 away — the coveredBounds sweep at
    // run-distance 1 instead of L
    val ss = col("_ss")
    val sPrev = concat(array(lit(-2L)), slice(ss, lit(1), size(ss) - 1))
    val sNext = concat(slice(ss, lit(2), size(ss) - 1),
      array(lit(Long.MaxValue - 1)))
    val los = filter(zip_with(ss, sPrev, (s, p) => when(s - p > 1, s)),
      x => x.isNotNull)
    val his = filter(zip_with(ss, sNext, (s, nx) => when(nx - s > 1, s)),
      x => x.isNotNull)
    starts.join(tok, Seq("doc_id"))
      .select(col("doc_id"), col("ws"),
        explode(zip_with(los, his,
          (a, b) => struct(a.as("s"), (b - a + L).as("l")))).as("sp"))
      .select(col("doc_id"),
        col("sp.s").as("span_start"),
        col("sp.l").as("span_len"),
        array_join(transform(
          sequence(col("sp.s") + 1, col("sp.s") + col("sp.l")),
          t => element_at(col("ws"), t.cast("int"))), " ").as("span_text"))
  }

  /** MULTI-length span dedup — toward the paper's all-lengths exactness
    * without the suffix array: run the length-L detection at each of
    * `spanLens` independently (each length picks its own canonical
    * occurrences) and UNION the cut masks, so a token survives only if
    * NO length marks it. Catches both the short boilerplate a long
    * window straddles and the long near-template runs a short window
    * under-reports.
    *
    * TAGGED-UNION shape (r19, guide §2.3/§2.4 — the q17 window-fusion
    * trick applied to window DETECTION): all lengths' windows ride ONE
    * explode tagged with `_l`, so detection is a single corpus pass +
    * ONE map-side-combined groupBy on (_l, key) + one probe join, and
    * the per-(doc, length) start lists come out of ONE per-doc
    * aggregation with |spanLens| conditional collect_sets — replacing
    * |spanLens| independent explode+groupBy+join+doc-join chains
    * (2·|lengths|+1 corpus passes → 3, 2·|lengths|+1 exchanges of
    * corpus-sized rows → 3). Per-length semantics are UNCHANGED:
    * (_l, key) grouping cannot merge windows of different lengths (a
    * space-joined L-token window has exactly L−1 separators and tokens
    * carry no spaces), each length's canonical is still the min-encoded
    * (doc_id, p), and a length that never marks a document contributes
    * the same empty start list the old left joins coalesced to
    * (ExactSpansSpec pins fused ≡ per-length composition). */
  def dedupSpansMulti(docs: DataFrame, idCol: String, textCol: String,
                      spanLens: Seq[Int]): DataFrame = {
    require(spanLens.nonEmpty && spanLens.forall(_ >= 2),
      s"spanLens must be non-empty, each >= 2; got $spanLens")
    require(spanLens.distinct.size == spanLens.size,
      s"spanLens must be distinct; got $spanLens")
    val tok = docs.select(col(idCol).cast("long").as("doc_id"),
      TextStats.words(lower(col(textCol))).as("ws"))
    // One window table for ALL lengths: explode the (tiny, literal)
    // length array first, then the per-length start range — both
    // generators codegen, and the per-length domain filter
    // (L <= |ws| <= posRange) matches markedStarts' exactly.
    val win = tok
      .select(col("doc_id"), col("ws"),
        explode(array(spanLens.map(l => lit(l)): _*)).as("_l"))
      .filter(size(col("ws")) >= col("_l") &&
        size(col("ws")) <= lit(PosRange))
      .select(col("doc_id"), col("_l"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - col("_l"))).as("p"))
      .select(col("doc_id"), col("_l"), col("p"),
        array_join(slice(col("ws"), col("p") + 1, col("_l")), " ").as("key"))
    val enc = col("doc_id") * PosRange + col("p")
    val occ = win.groupBy(col("_l"), col("key"))
      .agg(count(lit(1)).as("n"), min(enc).as("canon"))
      .filter(col("n") >= 2)
    val startAggs = spanLens.zipWithIndex.map { case (l, i) =>
      sort_array(collect_set(when(col("_l") === l, col("p").cast("long"))))
        .as(s"_st$i")
    }
    val starts = win.join(occ, Seq("_l", "key"))
      .filter(enc =!= col("canon"))
      .groupBy(col("doc_id"))
      .agg(startAggs.head, startAggs.tail: _*)
    val joined = tok.join(starts, Seq("doc_id"), "left")
    val kept = spanLens.zipWithIndex.map { case (l, i) =>
      keptIdx(coalesce(col(s"_st$i"), array().cast("array<long>")),
        size(col("ws")), l)
    }.reduce(array_intersect(_, _)) // sorted ∩ sorted keeps left order
    joined.select(col("doc_id"),
      size(col("ws")).cast("long").as("n_tokens"),
      (size(col("ws")) - size(kept)).cast("long").as("n_removed"),
      array_join(transform(kept,
        t => element_at(col("ws"), t.cast("int"))), " ").as("deduped_text"))
  }

  /** Detection at one length: (doc_id, starts) — the sorted distinct
    * 0-based starts of every NON-canonical occurrence of a duplicated
    * length-L window. */
  /** [[dedupSpans]] WITHOUT the document-length domain bound — the
    * chunk + boundary-overlap + reassemble formulation (VERDICT r12
    * ask #8): documents of ANY token count are processed, because no
    * per-document row ever carries more than `chunkLen` tokens past
    * the initial tokenize+explode map and no position is ever encoded
    * into a bounded integer.
    *
    * Construction (exactly-once window ownership):
    *   - chunks start every `step = chunkLen − spanLen + 1` tokens and
    *     carry `chunkLen` tokens, so consecutive chunks OVERLAP by
    *     spanLen − 1 — every global L-window [g, g+L) lies whole inside
    *     the chunk starting at floor(g/step)·step (g mod step ≤
    *     chunkLen − L by construction), and emitting from each chunk
    *     only the windows whose local offset is < step yields every
    *     global window EXACTLY ONCE with its global position;
    *   - the canonical occurrence is min(struct(doc_id, g)) — the same
    *     lexicographic (doc_id, position) order as [[dedupSpans]]'
    *     min-encoding, with no posRange constant to outgrow;
    *   - each chunk OWNS global token positions [cs+1, cs+step]
    *     (clipped to the document) — disjoint, exhaustive — and a
    *     marked span's cut is routed to EVERY chunk whose owned range
    *     it touches, i.e. owner indices g div step through
    *     (g+L−1) div step inclusive. When chunkLen ≥ 2·spanLen − 1
    *     that is at most 2 owners, but small chunkLen (step < L)
    *     legitimately puts a span across ≥3 owners — routing only to
    *     the first and last would silently keep the middle owners'
    *     tokens, so the full owner sequence is exploded (still O(1)
    *     amortized per marked token); the per-chunk rewrite is
    *     [[coveredBounds]]' interval sweep clipped to the owned
    *     range, O(chunk tokens + chunk spans);
    *   - reassembly concatenates each document's per-chunk kept token
    *     lists in chunk order — one per-doc aggregation whose rows are
    *     chunk-sized, never document-sized.
    *
    * Output and semantics are [[dedupSpans]]' EXACTLY for in-domain
    * corpora (ExactSpansSpec asserts frame equality with chunk
    * boundaries forced through spans; q149's oracle is q132's replay
    * verbatim, so the driver's hash match proves chunked ≡ direct each
    * round). The one divergence is the point of the operator: documents
    * longer than [[dedupSpans]]' posRange are deduplicated here instead
    * of passing through unrewritten. */
  def dedupSpansChunked(docs: DataFrame, idCol: String, textCol: String,
                        spanLen: Int, chunkLen: Int): DataFrame = {
    require(spanLen >= 2, s"spanLen must be >= 2; got $spanLen")
    require(chunkLen >= spanLen,
      s"chunkLen ($chunkLen) must be >= spanLen ($spanLen)")
    require(chunkLen <= Int.MaxValue / 2, s"chunkLen too large: $chunkLen")
    val L = spanLen
    val step = chunkLen - L + 1
    val tok = docs.select(col(idCol).cast("long").as("doc_id"),
      TextStats.words(lower(col(textCol))).as("ws"))
    // Persisted: the chunk table feeds window extraction AND the final
    // reassembly join (scope-released in artifact builds).
    val chunks = graft.CacheScope.scopedPersist(tok
      .select(col("doc_id"), size(col("ws")).cast("long").as("n"),
        explode(sequence(lit(0L), size(col("ws")).cast("long") - 1,
          lit(step.toLong))).as("cs"), col("ws"))
      .select(col("doc_id"), col("n"), col("cs"),
        slice(col("ws"), col("cs").cast("int") + 1, lit(chunkLen)).as("cws")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wins = chunks
      .filter(size(col("cws")) >= L)
      .select(col("doc_id"), col("cs"), col("cws"),
        explode(sequence(lit(0),
          least(lit(step - 1), size(col("cws")) - L))).as("p"))
      .select(col("doc_id"), (col("cs") + col("p")).as("g"),
        array_join(slice(col("cws"), col("p") + 1, lit(L)), " ").as("key"))
    val occ = wins.groupBy(col("key"))
      .agg(count(lit(1)).as("_cnt"),
        min(struct(col("doc_id").as("d"), col("g").as("g"))).as("canon"))
      .filter(col("_cnt") >= 2)
    val marked = wins.join(occ, "key")
      .filter(!(col("doc_id") === col("canon.d") && col("g") === col("canon.g")))
      .select(col("doc_id"), col("g"))
    // Route each cut to EVERY chunk whose OWNED token range
    // [c*step+1, c*step+step] it covers: owner indices g div step
    // through (g+L-1) div step inclusive (exact BIGINT division —
    // floor(g/step) would round-trip through DOUBLE). With step < L a
    // span covers >= 3 owners; first+last-only routing would leave the
    // middle owners' tokens uncut.
    val spanChunks = marked
      .select(col("doc_id"), col("g"),
        explode(sequence(expr(s"g div ${step}L"),
          expr(s"(g + ${L - 1}L) div ${step}L"))).as("ci"))
      .select(col("doc_id"), (col("ci") * step).as("cs"), col("g"))
      .groupBy(col("doc_id"), col("cs"))
      .agg(sort_array(collect_set(col("g"))).as("starts"))
    val ownLo = col("cs") + 1
    val ownHi = least(col("cs") + step, col("n"))
    val (los, his) = coveredBounds(col("starts"), L)
    val clipped = filter(
      zip_with(los, his, (a, b) => struct(a.as("lo"), b.as("hi"))),
      pr => pr.getField("lo") <= ownHi && pr.getField("hi") >= ownLo)
    val gapLo = concat(array(ownLo.cast("long")),
      transform(clipped, pr => least(pr.getField("hi"), ownHi) + 1))
    val gapHi = concat(
      transform(clipped, pr => greatest(pr.getField("lo"), ownLo) - 1),
      array(ownHi.cast("long")))
    val keptG = when(coalesce(size(col("starts")), lit(0)) === 0,
        sequence(ownLo.cast("long"), ownHi.cast("long")))
      .otherwise(flatten(zip_with(gapLo, gapHi,
        (a, b) => when(a <= b, sequence(a, b))
          .otherwise(array().cast("array<bigint>")))))
    val chunkKept = chunks.join(spanChunks, Seq("doc_id", "cs"), "left")
      .withColumn("_kt", transform(keptG,
        t => element_at(col("cws"), (t - col("cs")).cast("int"))))
      .select(col("doc_id"), col("n"), col("cs"), col("_kt"))
    chunkKept.groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_tokens"),
        (max(col("n")) - sum(size(col("_kt")))).as("n_removed"),
        array_join(flatten(transform(
          sort_array(collect_list(struct(col("cs"), col("_kt").as("kt")))),
          s => s.getField("kt"))), " ").as("deduped_text"))
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        col("deduped_text"))
  }

  private def markedStarts(tok: DataFrame, L: Int,
                           posRange: Long = PosRange): DataFrame = {
    // All stride-1 windows of length L: (doc_id, p [0-based], key).
    val win = tok
      .filter(size(col("ws")) >= L && size(col("ws")) <= lit(posRange))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - L)).as("p"))
      .select(col("doc_id"), col("p"),
        array_join(slice(col("ws"), col("p") + 1, lit(L)), " ").as("key"))

    // Duplicated windows with their canonical (min-encoded) occurrence.
    val occ = win
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        min(col("doc_id") * posRange + col("p")).as("canon"))
      .filter(col("n") >= 2)

    // Every NON-canonical occurrence of a duplicated window.
    win.join(occ, "key")
      .filter(col("doc_id") * posRange + col("p") =!= col("canon"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("p").cast("long"))).as("starts"))
  }

  /** The shared cut-marked-spans rewrite: `tok` = (doc_id, ws), `marked`
    * = (doc_id, starts [sorted distinct 0-based span starts]); emits
    * (doc_id, n_tokens, n_removed, deduped_text) for EVERY document
    * (unmarked docs pass through whole). One left equi-join + a per-doc
    * O(tokens + spans) interval sweep — also the removal half of
    * eval-set decontamination ([[Decontaminate]]). */
  private[ops] def rewrite(tok: DataFrame, marked: DataFrame,
                           L: Int): DataFrame =
    tok.join(marked, Seq("doc_id"), "left")
      .withColumn("_starts",
        coalesce(col("starts"), array().cast("array<long>")))
      .withColumn("_kept", keptIdx(col("_starts"), size(col("ws")), L))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        (size(col("ws")) - size(col("_kept"))).cast("long").as("n_removed"),
        array_join(transform(col("_kept"),
          t => element_at(col("ws"), t.cast("int"))), " ").as("deduped_text"))
}
