package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec

class ExactSpansSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, t) => Row(i, t) }, 2), schema)
  }

  private def run(rows: (Long, String)*) =
    ExactSpans.dedupSpans(docs(rows: _*), "doc_id", "text", spanLen = 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap

  test("cross-document span keeps the globally-first occurrence, cuts the rest") {
    val out = run(
      1L -> "a b c d e f",
      2L -> "x a b c d e")
    out(1L) shouldBe ((6L, 0L, "a b c d e f")) // canonical: untouched
    out(2L) shouldBe ((6L, 5L, "x"))           // span cut, prefix survives
  }

  test("in-document repetition self-dedups: second run of the span is removed") {
    val out = run(3L -> "a b c d e a b c d e")
    out(3L) shouldBe ((10L, 5L, "a b c d e"))
  }

  test("overlapping marked spans union through the mask (can empty a doc)") {
    // doc 3 carries BOTH 5-spans whose canonicals live in docs 1 and 2;
    // their covered ranges 1..5 and 2..6 union to all six tokens.
    val out = run(
      1L -> "p q r s t",
      2L -> "q r s t u",
      3L -> "p q r s t u")
    out(1L) shouldBe ((5L, 0L, "p q r s t"))
    out(2L) shouldBe ((5L, 0L, "q r s t u"))
    out(3L) shouldBe ((6L, 6L, ""))
  }

  test("documents shorter than the span length pass through untouched") {
    val out = run(4L -> "a b c", 5L -> "a b c")
    out(4L) shouldBe ((3L, 0L, "a b c"))
    out(5L) shouldBe ((3L, 0L, "a b c"))
  }

  test("heavily-marked doc (~1500 overlapping spans) stays linear and exact") {
    // A 1500-token run of one repeated token: every 5-window is the same
    // key, the canonical is p=0, and positions 1..1495 are ALL marked —
    // the O(tokens × starts) shape this rewrite replaced would do ~2.2M
    // exists() probes on this one row; the interval sweep merges the
    // 1495 overlapping spans into ONE covered interval [2,1500] in a
    // single O(spans) pass and keeps exactly the first token.
    val out = run(7L -> Array.fill(1500)("t").mkString(" "))
    out(7L) shouldBe ((1500L, 1499L, "t"))
  }

  test("separated marked regions keep interior and trailing gaps intact") {
    val out = run(
      0L -> "a b c d e",
      1L -> "i j k l m",
      5L -> "a b c d e x1 x2 x3 i j k l m y1 y2")
    // doc 5 marked at p=0 (covers 1..5) and p=8 (covers 9..13):
    // kept = interior gap 6..8 plus trailing gap 14..15
    out(5L) shouldBe ((15L, 10L, "x1 x2 x3 y1 y2"))
  }

  test("documents past the position-encoding bound pass through untouched") {
    // posRange=10: the 12-token doc is OUTSIDE the dedup domain — it
    // contributes no windows (so the 5-token doc's span has no second
    // occurrence and survives everywhere) and passes through whole;
    // the 10-token doc sits exactly ON the bound and IS deduped.
    val out = ExactSpans.dedupSpans(docs(
      1L -> "a b c d e",
      2L -> "a b c d e x1 x2 x3 x4 x5 x6 x7",
      3L -> "a b c d e a b c d e"),
      "doc_id", "text", spanLen = 5, posRange = 10L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    out(2L) shouldBe ((12L, 0L, "a b c d e x1 x2 x3 x4 x5 x6 x7"))
    // doc 3 is on the bound and in-domain: both its occurrences are
    // non-canonical (doc 1 holds the canonical) and both are cut
    out(3L) shouldBe ((10L, 10L, ""))
    out(1L) shouldBe ((5L, 0L, "a b c d e"))
  }

  test("multi-length dedup unions the masks across window lengths") {
    val out = ExactSpans.dedupSpansMulti(docs(
      100L -> "a b c d",
      101L -> "p q r s t u v w x",
      102L -> "a b c d z1 z2 p q r s t u v w x z3"),
      "doc_id", "text", spanLens = Seq(4, 6, 9))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // canonicals (lowest doc) untouched; doc 102 loses the 4-span dup
    // (tokens 1..4) AND the 9-span dup (tokens 7..15) — the 6-length
    // sub-window marks are subsumed — keeping exactly the glue tokens
    out(100L) shouldBe ((4L, 0L, "a b c d"))
    out(101L) shouldBe ((9L, 0L, "p q r s t u v w x"))
    out(102L) shouldBe ((16L, 13L, "z1 z2 z3"))
  }

  test("fused multi-length detection equals the single-length operator " +
    "at each length (r19 tagged-union reshape)") {
    // Corpus exercising the fused pass's edge cases: docs in-domain for
    // the short length but below the long one (5-token doc vs L=6),
    // cross-doc and in-doc duplicates at both lengths, a doc marked at
    // one length only, and an untouched doc.
    val corpus = docs(
      1L -> "a b c d e",
      2L -> "x a b c d e y",
      3L -> "p q r s t u p q r s t u",
      4L -> "a b c d e p q r s t u",
      5L -> "lone tokens only here none repeat")
    Seq(4, 6).foreach { l =>
      val single = ExactSpans.dedupSpans(corpus, "doc_id", "text", l)
        .orderBy("doc_id").collect().toSeq
      val fused = ExactSpans.dedupSpansMulti(corpus, "doc_id", "text", Seq(l))
        .orderBy("doc_id").collect().toSeq
      withClue(s"L=$l: ") { fused shouldBe single }
    }
  }

  test("keptIdx gap arithmetic matches brute force across boundary shapes") {
    import org.apache.spark.sql.functions._
    val L = 5
    val n = 15
    val cases: Seq[Seq[Long]] = Seq(
      Seq(), Seq(0L), Seq(10L), Seq(3L), Seq(0L, 2L), Seq(0L, 5L),
      Seq(0L, 6L), Seq(2L, 3L, 9L), Seq(0L, 5L, 10L), (0L to 10L))
    cases.foreach { starts =>
      val brute = (1 to n).filter(t =>
        !starts.exists(s => s + 1 <= t && t <= s + L)).map(_.toLong)
      val df = spark.range(1).select(
        ExactSpans.keptIdx(
          typedLit(starts), lit(n), L).as("kept"))
      withClue(s"starts=$starts: ") {
        df.collect().head.getSeq[Long](0) shouldBe brute
      }
    }
  }

  test("coverIdx is keptIdx's exact complement across boundary shapes") {
    import org.apache.spark.sql.functions._
    val L = 5
    val n = 15
    val cases: Seq[Seq[Long]] = Seq(
      Seq(), Seq(0L), Seq(10L), Seq(0L, 2L), Seq(0L, 6L), Seq(2L, 3L, 9L))
    cases.foreach { starts =>
      val brute = (1 to n).filter(t =>
        starts.exists(s => s + 1 <= t && t <= s + L)).map(_.toLong)
      val df = spark.range(1).select(
        ExactSpans.coverIdx(typedLit(starts), L).as("cov"))
      withClue(s"starts=$starts: ") {
        df.collect().head.getSeq[Long](0) shouldBe brute
      }
    }
  }

  /** dedupSpansAll's rows on BOTH tiers: the default tier over a
    * stats-carrying local relation (one task — asserted from the plan)
    * and the forced distributed chain over the two-partition RDD frame;
    * the rows must be equal. */
  private def dedupSpansAll(minLen: Int, posRange: Long, rows: Row*): Seq[Row] = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val localF = ExactSpans.dedupSpansAll(
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
      "doc_id", "text", minLen, posRange)
    val distF = ExactSpans.dedupSpansAll(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema),
      "doc_id", "text", minLen, posRange, maxLocalBytes = 0L)
    localF.queryExecution.executedPlan.toString should include("MapPartitions")
    distF.queryExecution.executedPlan.toString should not include "MapPartitions"
    val local = localF.collect().toSeq.sortBy(_.toString)
    local shouldBe distF.collect().toSeq.sortBy(_.toString)
    local
  }

  private def runAll(minLen: Int, rows: (Long, String)*) =
    dedupSpansAll(minLen, ExactSpans.PosRange,
        rows.map { case (i, t) => Row(i, t) }: _*)
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap

  test("all-lengths: a 7-token duplicate is cut whole at minLen=4 (coverage theorem)") {
    // "a b c d e f g" (7 tokens > L) duplicated across docs 1/2: every
    // internal 4-window is duplicated, all canonical in doc 1 — so doc 1
    // is untouched and doc 2 loses the ENTIRE 7-token occurrence, the
    // suffix-array all-lengths removal set, not just one fixed window.
    val out = runAll(4,
      1L -> "a b c d e f g x1 x2",
      2L -> "z1 a b c d e f g z2")
    out(1L) shouldBe ((9L, 0L, "a b c d e f g x1 x2"))
    out(2L) shouldBe ((9L, 7L, "z1 z2"))
  }

  test("canonical occurrences are cut-immune (the dedupSpans shredding case)") {
    // doc 3's canonical "p q r s" overlaps a marked occurrence of
    // "s t u v" (canonical in doc 0): per-window dedupSpans cuts tokens
    // 4..7 of doc 3 — shredding the canonical to "p q r" — while the
    // coverage-level rule protects it.
    val rows = Seq(
      0L -> "x s t u v y",
      3L -> "p q r s t u v",
      4L -> "m n p q r s w")
    val all = runAll(4, rows: _*)
    all(0L) shouldBe ((6L, 0L, "x s t u v y"))
    all(3L) shouldBe ((7L, 3L, "p q r s")) // canonical span intact
    all(4L) shouldBe ((7L, 4L, "m n w"))
    // the divergence this operator exists for: per-window semantics
    // shred the canonical
    val old = ExactSpans.dedupSpans(docs(rows: _*), "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    old(3L) shouldBe "p q r"
    // every duplicated window's content survives somewhere under ALL
    val survivors = all.values.map(_._3).mkString(" | ")
    survivors should include("p q r s")
    survivors should include("s t u v")
  }

  test("maximalSpans: locates full-length duplicated spans in every occurrence") {
    val spans = ExactSpans.maximalSpans(docs(
      1L -> "a b c d e f g x1 x2",
      2L -> "z1 a b c d e f g z2"), "doc_id", "text", minLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    spans shouldBe Set(
      (1L, 0L, 7L, "a b c d e f g"),
      (2L, 1L, 7L, "a b c d e f g"))
  }

  test("maximalSpans welds where the exact suffix inventory splits (tier contract)") {
    // doc 12's two duplicated windows have different partners (10 and
    // 11); the cheap envelope tier welds their step-1 starts into one
    // 5-token run even though that 5-token string occurs nowhere else —
    // still pinned, because the tier's documented contract is exactly
    // this upper envelope. The EXACT tier (Suffix.maximalSpansExact,
    // round 13 — what q146 now serves) must SPLIT the weld into the two
    // true maximal spans on the same corpus: every reported span's text
    // genuinely occurs twice as one contiguous string.
    val corpus = docs(
      10L -> "x1 p q r s y1",
      11L -> "x2 q r s t y2",
      12L -> "p q r s t")
    val envelope = ExactSpans.maximalSpans(corpus, "doc_id", "text", minLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    envelope shouldBe Set(
      (10L, 1L, 4L, "p q r s"),
      (11L, 1L, 4L, "q r s t"),
      (12L, 0L, 5L, "p q r s t")) // the weld: "p q r s t" occurs once
    val exact = Suffix.maximalSpansExact(corpus, "doc_id", "text", minLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    exact shouldBe Set(
      (10L, 1L, 4L, "p q r s"),
      (11L, 1L, 4L, "q r s t"),
      (12L, 0L, 4L, "p q r s"),
      (12L, 1L, 4L, "q r s t")) // split: both halves, each truly duplicated
    spark.catalog.clearCache()
  }

  test("dedupSpansChunked ≡ dedupSpans with chunk boundaries forced through spans") {
    // chunkLen barely above spanLen => step 2, many chunks, and the
    // duplicated spans straddle owner boundaries — the routing, the
    // clipped interval sweep and the reassembly all exercised. A second
    // corpus with overlapping duplicated windows exercises the interval
    // merge across chunk routes.
    val corpora = Seq(
      docs(
        1L -> "a b c d e f g h i j k l m",
        2L -> "x c d e f g y z w q r s t",
        3L -> "m n o p q c d e f g h u v"),
      docs(
        1L -> "p q r p q r p q r p q r",
        2L -> "z p q r p q r z z z z z"))
    for (corpus <- corpora; l <- Seq(3, 4); cl <- Seq(l + 1, l + 3, 16)) {
      val direct = ExactSpans.dedupSpans(corpus, "doc_id", "text", l)
      val chunked = ExactSpans.dedupSpansChunked(corpus, "doc_id", "text",
        l, chunkLen = cl)
      withClue(s"L=$l chunkLen=$cl: ") {
        chunked.exceptAll(direct).count() shouldBe 0L
        direct.exceptAll(chunked).count() shouldBe 0L
      }
    }
    spark.catalog.clearCache()
  }

  test("dedupSpansChunked routes cuts through MIDDLE owner chunks (step < spanLen)") {
    // spanLen=4, chunkLen=5 → step=2: doc 2's marked span at g=1 covers
    // owner chunks 0..2 (three owners). Routing only to the first and
    // last owner left chunk 1's owned tokens ("d e") silently kept —
    // the round-13 regression this pins.
    val corpus = docs(
      1L -> "c d e f y y y y",
      2L -> "z c d e f w w w")
    val direct = ExactSpans.dedupSpans(corpus, "doc_id", "text", 4)
    val chunked = ExactSpans.dedupSpansChunked(corpus, "doc_id", "text", 4,
      chunkLen = 5)
    chunked.exceptAll(direct).count() shouldBe 0L
    direct.exceptAll(chunked).count() shouldBe 0L
    val out = chunked.collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    out(1L) shouldBe "c d e f y y y y" // canonical occurrence survives
    out(2L) shouldBe "z w w w"         // the whole span cut, middle included
    spark.catalog.clearCache()
  }

  test("dedupSpansChunked processes docs past dedupSpans' position bound") {
    // with a tiny posRange, dedupSpans passes the long doc through
    // unrewritten; the chunked flavor (no position encoding) dedups it
    val corpus = docs(
      1L -> "a b c d e f g h i j",
      2L -> "z z a b c d z z z z")
    val bounded = ExactSpans.dedupSpans(corpus, "doc_id", "text", 4,
        posRange = 8) // doc 1 (10 tokens) is out of the bounded domain
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    bounded(1L) shouldBe 0L // passed through
    bounded(2L) shouldBe 0L // its partner lost, nothing duplicated
    val chunked = ExactSpans.dedupSpansChunked(corpus, "doc_id", "text", 4,
        chunkLen = 6)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    chunked.toSet shouldBe Set(
      (1L, 0L, "a b c d e f g h i j"),   // canonical survives
      (2L, 4L, "z z z z z z"))           // non-canonical occurrence cut
    spark.catalog.clearCache()
  }

  test("dedupSpansAll: null, empty, short, over-posRange and null-id docs match on both tiers") {
    // posRange=8: doc 5 (10 tokens) is outside the domain — it passes
    // through re-joined, and its "b c d e" window does not count. The
    // null-id docs' windows DO count (doc 8's only occurrence of
    // "q r s t" is duplicated through one) but never own a canonical,
    // so doc 8 keeps it; the null-id docs themselves pass through.
    val out = dedupSpansAll(4, 8L,
      Row(1L, null),
      Row(2L, ""),
      Row(3L, "a b c"),
      Row(5L, "A  b c d e f g h i j"),
      Row(6L, "x b c d e"),
      Row(7L, "b c d e y"),
      Row(8L, "q r s t u"),
      Row(null, "z b c d e"),
      Row(null, "q r s t"))
    out.toSet shouldBe Set(
      Row(1L, null, null, null),
      Row(2L, 1L, 0L, ""),
      Row(3L, 3L, 0L, "a b c"),
      Row(5L, 10L, 0L, "a b c d e f g h i j"),
      Row(6L, 5L, 0L, "x b c d e"),
      Row(7L, 5L, 4L, "y"),
      Row(8L, 5L, 0L, "q r s t u"),
      Row(null, 5L, 0L, "z b c d e"),
      Row(null, 4L, 0L, "q r s t"))
  }

  test("dedupSpansAll: short docs pass through; bounds validated") {
    val out = runAll(4, 5L -> "a b c", 6L -> "a b c")
    out(5L) shouldBe ((3L, 0L, "a b c"))
    out(6L) shouldBe ((3L, 0L, "a b c"))
    an[IllegalArgumentException] should be thrownBy
      ExactSpans.dedupSpansAll(docs(5L -> "a b c"), "doc_id", "text", 1)
    an[IllegalArgumentException] should be thrownBy
      ExactSpans.dedupSpansAll(docs(5L -> "a b c"), "doc_id", "text", 4,
        posRange = Int.MaxValue.toLong + 1)
  }

  // ------------------------------------------- incremental maintenance

  // OLD corpus: "a b c d" occurs in d1 (canonical), d2, d7; "e f g h"
  // and "p q r s" are unique; d6 is below the window length.
  private val oldCorpus = Seq(
    1L -> "a b c d x1 x2",
    2L -> "y1 a b c d y2",
    3L -> "p q r s t",
    4L -> "m n o w z",
    5L -> "e f g h",
    6L -> "k l m",
    7L -> "z1 z2 a b c d",
    10L -> "g1 g2 g3 g4 h1",
    11L -> "z9 g1 g2 g3 g4",
    9L -> null)
  // DELTA: d1 removed (canonical of "a b c d" moves to d2 — an UNTOUCHED
  // doc regains its text), d4 changed, d0 added (duplicates d5's whole
  // text with a SMALLER id — an untouched doc becomes fully cut), d8
  // added (duplicates d3's prefix — d3 turns canonical, d8 is cut), d12
  // added (a THIRD occurrence of d10/d11's key: count changes, canonical
  // does not — its holders reuse verbatim while the summary row updates).
  // d9 has null text in both snapshots: unchanged, so its stored
  // (id, null, null, null) row is reused once.
  private val newCorpus = Seq(
    0L -> "e f g h",
    2L -> "y1 a b c d y2",
    3L -> "p q r s t",
    4L -> "m n o w z q2 q3",
    5L -> "e f g h",
    6L -> "k l m",
    7L -> "z1 z2 a b c d",
    8L -> "p q r s v",
    10L -> "g1 g2 g3 g4 h1",
    11L -> "z9 g1 g2 g3 g4",
    12L -> "x9 x8 g1 g2 g3 g4",
    9L -> null)

  private def hashes(rows: Seq[(Long, String)]) =
    docs(rows: _*).select(org.apache.spark.sql.functions.col("doc_id"),
      TextStats.contentHash(org.apache.spark.sql.functions.col("text"))
        .as("content_hash"))

  private def oldIndex() =
    ExactSpans.spanIndex(docs(oldCorpus: _*), "doc_id", "text", 4)

  private def maintained() = {
    val delta = SnapshotDelta.diffHashed(hashes(oldCorpus), hashes(newCorpus))
    ExactSpans.maintainSpanDedupAll(
      oldIndex(), ExactSpans.spanOcc(oldIndex()),
      ExactSpans.dedupSpansAll(docs(oldCorpus: _*), "doc_id", "text", 4),
      docs(newCorpus: _*), "doc_id", "text", delta, 4)
  }

  test("maintainSpanDedupAll ≡ dedupSpansAll over the new snapshot (batch≡incremental)") {
    val inc = maintained()
    val full = ExactSpans.dedupSpansAll(docs(newCorpus: _*), "doc_id", "text", 4)
    inc.exceptAll(full).count() shouldBe 0L
    full.exceptAll(inc).count() shouldBe 0L
  }

  test("maintenance recomputes UNTOUCHED docs whose windows flipped status") {
    val out = maintained().collect()
      .map(r => r.getLong(0) -> ((r.getAs[java.lang.Long](2), r.getString(3))))
      .toMap
    // d2: was cut under d1's canonical; d1's removal hands it ownership
    out(2L) shouldBe ((0L, "y1 a b c d y2"))
    // d5: untouched text, but the added d0 (smaller id) steals canonical
    // for its whole text — fully cut
    out(5L) shouldBe ((4L, ""))
    // d7: canonical MOVED (d1→d2) while staying duplicated — recomputed,
    // still cut
    out(7L) shouldBe ((4L, "z1 z2"))
    // d8: added duplicate of d3's prefix — cut, suffix survives
    out(8L) shouldBe ((4L, "v"))
    out(3L) shouldBe ((0L, "p q r s t")) // turned canonical: kept whole
    out.contains(1L) shouldBe false      // removed doc leaves the manifest
    // d12: third occurrence of d10's canonical key — cut, prefix survives;
    // the untouched holders d10/d11 keep their rows (reuse, asserted
    // corruption-proof in the whitebox test)
    out(12L) shouldBe ((4L, "x9 x8"))
    out(11L) shouldBe ((4L, "z9"))
    out(9L) shouldBe ((null, null)) // null text stays null
  }

  test("untouched docs outside the closure reuse their manifest rows VERBATIM") {
    import org.apache.spark.sql.functions._
    val delta = SnapshotDelta.diffHashed(hashes(oldCorpus), hashes(newCorpus))
    val corrupted = ExactSpans
      .dedupSpansAll(docs(oldCorpus: _*), "doc_id", "text", 4)
      .withColumn("deduped_text",
        when(col("doc_id").isin(6L, 11L), lit("CORRUPT-REUSED"))
          .otherwise(col("deduped_text")))
    val out = ExactSpans.maintainSpanDedupAll(oldIndex(),
        ExactSpans.spanOcc(oldIndex()), corrupted,
        docs(newCorpus: _*), "doc_id", "text", delta, 4)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    // d6 (short, untouched, no affected keys): the corrupted row SURVIVES
    // — proof the maintenance never recomputed it
    out(6L) shouldBe "CORRUPT-REUSED"
    // d11 holds a key whose COUNT changed but whose (dup, canonical)
    // status did not — still outside the closure, still verbatim
    out(11L) shouldBe "CORRUPT-REUSED"
    // d2 is inside the affected closure: recomputed, corruption-immune
    out(2L) shouldBe "y1 a b c d y2"
  }

  test("maintainSpanIndex ≡ spanIndex over the new snapshot") {
    val delta = SnapshotDelta.diffHashed(hashes(oldCorpus), hashes(newCorpus))
    val inc = ExactSpans.maintainSpanIndex(oldIndex(),
      docs(newCorpus: _*), "doc_id", "text", delta, 4)
    val full = ExactSpans.spanIndex(docs(newCorpus: _*), "doc_id", "text", 4)
    inc.exceptAll(full).count() shouldBe 0L
    full.exceptAll(inc).count() shouldBe 0L
  }

  test("one-task tier ≡ the distributed maintenance chain, row for row") {
    val localF = ExactSpans.maintainSpanDedupAllLocal(docs(newCorpus: _*),
      hashes(oldCorpus), oldIndex(), ExactSpans.spanOcc(oldIndex()),
      ExactSpans.dedupSpansAll(docs(oldCorpus: _*), "doc_id", "text", 4),
      "doc_id", "text", 4)
    localF.queryExecution.executedPlan.toString should include("MapPartitions")
    val distF = maintained()
    distF.queryExecution.executedPlan.toString should not include "MapPartitions"
    val local = localF.collect().map(_.toSeq).sortBy(_.toString)
    val dist = distF.collect().map(_.toSeq).sortBy(_.toString)
    local should not be empty
    local shouldBe dist
  }

  test("one-task tier reuses untouched manifest rows VERBATIM too") {
    import org.apache.spark.sql.functions._
    val corrupted = ExactSpans
      .dedupSpansAll(docs(oldCorpus: _*), "doc_id", "text", 4)
      .withColumn("deduped_text",
        when(col("doc_id").isin(6L, 11L), lit("CORRUPT-REUSED"))
          .otherwise(col("deduped_text")))
    val out = ExactSpans.maintainSpanDedupAllLocal(docs(newCorpus: _*),
        hashes(oldCorpus), oldIndex(), ExactSpans.spanOcc(oldIndex()),
        corrupted, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    out(6L) shouldBe "CORRUPT-REUSED"
    out(11L) shouldBe "CORRUPT-REUSED"
    out(2L) shouldBe "y1 a b c d y2" // closure member: recomputed
  }

  test("maintainSpanOcc ≡ spanOcc over the new snapshot (incl. count-only changes)") {
    val delta = SnapshotDelta.diffHashed(hashes(oldCorpus), hashes(newCorpus))
    val inc = ExactSpans.maintainSpanOcc(oldIndex(),
      ExactSpans.spanOcc(oldIndex()),
      docs(newCorpus: _*), "doc_id", "text", delta, 4)
    val full = ExactSpans.spanOcc(
      ExactSpans.spanIndex(docs(newCorpus: _*), "doc_id", "text", 4))
    inc.exceptAll(full).count() shouldBe 0L
    full.exceptAll(inc).count() shouldBe 0L
  }
}
