package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis combinators for the LLM-data-pipeline extension (SURVEY
  * §7.5; BASELINE.json north star) — language-ID, quality scoring, token
  * counting, fingerprinting over the `documents` table.
  *
  * Everything is pure `Column` composition (split/transform/aggregate/filter
  * higher-order functions — all codegen-friendly builtins, zero UDFs), so at
  * 100 TB these are narrow, shuffle-free map stages that stay inside
  * whole-stage codegen and vectorized parquet scans.
  */
object TextStats {

  /** Canonical text form for hashing/dedup: lowercase, trimmed, runs of
    * whitespace collapsed to single spaces. */
  def normalize(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Whitespace tokenization (trim first so boundary whitespace doesn't
    * produce empty tokens). */
  def words(c: Column): Column =
    split(trim(c), "\\s+")

  def wordCount(c: Column): Column = size(words(c))

  def charCount(c: Column): Column = length(c)

  /** Mean token length = sum(token lengths) / token count. */
  def avgWordLen(c: Column): Column = {
    val w = words(c)
    val totalLen = aggregate(
      transform(w, t => length(t).cast("long")), lit(0L), (acc, v) => acc + v)
    totalLen.cast("double") / size(w).cast("double")
  }

  /** Fraction of characters that are ASCII punctuation. */
  def punctRatio(c: Column): Column =
    length(regexp_replace(c, "[^\\p{Punct}]", "")).cast("double") /
      length(c).cast("double")

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "is", "in")

  /** Fraction of tokens that are stopwords — a standard fluency signal in
    * LLM corpus quality filters. */
  def stopwordRatio(c: Column): Column = {
    val w = words(c)
    size(filter(w, t => t.isin(Stopwords: _*))).cast("double") /
      size(w).cast("double")
  }

  /** BPE-ish token-count estimate: lex into word / digit / punct runs, each
    * run contributing ceil(len/4) tokens (≈4 chars per BPE token). One
    * static call of [[graft.functions.TokenEstimate.estimate]] per row
    * inside whole-stage codegen (`graft_token_estimate` — requires
    * GraftExtensions on the session, as all graft entry points install);
    * [[tokenEstimateHof]] is the extension-free equivalent. */
  def tokenEstimate(c: Column): Column =
    call_function("graft_token_estimate", c)

  /** Builtin-only token estimate (regex lex + two lambda folds) — same
    * values as [[tokenEstimate]], no session extension needed, but
    * CodegenFallback per token: keep it off full-corpus scans. */
  def tokenEstimateHof(c: Column): Column =
    aggregate(
      transform(
        regexp_extract_all(c, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)),
        t => ceil(length(t) / lit(4.0))),
      lit(0L), (acc, v) => acc + v)

  /** Composite document-quality score in [0,1]: length signal, punctuation
    * penalty, stopword fluency — the shape of a pre-training quality filter.
    * Arithmetic order is fixed (left-to-right) for cross-engine equality. */
  def qualityScore(c: Column): Column = {
    val lenScore = least(lit(1.0), wordCount(c).cast("double") / lit(100.0))
    val fluency = least(lit(1.0), stopwordRatio(c) * lit(5.0))
    lit(0.4) * lenScore + lit(0.3) * (lit(1.0) - punctRatio(c)) + lit(0.3) * fluency
  }

  /** Stopword-marker lists per language for the n-gram-free language-ID
    * heuristic. Priority order breaks ties (first wins). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "fr" -> Seq("le", "les", "et", "est", "des"))

  /** Marker-hit count for one language. */
  def langScore(c: Column, markers: Seq[String]): Column =
    size(filter(words(c), t => t.isin(markers: _*)))

  /** Argmax over per-language score columns: first language whose score is
    * positive and >= every LATER language's score ([[LangMarkers]] order
    * breaks ties); all zero → 'und'. */
  private def langArgmax(scores: Seq[(String, Column)]): Column = {
    val branches = scores.zipWithIndex.map { case ((lang, s), i) =>
      val laterScores = scores.drop(i + 1).map(_._2)
      val beatsLater = laterScores.foldLeft(s > 0) { (acc, o) => acc && s >= o }
      (beatsLater, lang)
    }
    branches.tail
      .foldLeft(when(branches.head._1, lit(branches.head._2))) {
        case (acc, (cond, lang)) => acc.when(cond, lit(lang))
      }
      .otherwise(lit("und"))
  }

  /** Heuristic language-ID: argmax of marker-hit counts, ties broken by
    * [[LangMarkers]] order, no hits at all → 'und'.
    *
    * Convenience form for small/ad-hoc frames: the HOF filters are
    * CodegenFallback (interpreted per reference — and the argmax
    * references each score up to 4×). On corpus scans use
    * [[langScoresById]] + [[langIdFromScores]] instead (see q23 in
    * [[graft.Queries]]): measured ~20× faster at sf0.1. */
  def langId(c: Column): Column =
    langArgmax(LangMarkers.map { case (lang, m) => lang -> langScore(c, m) })

  /** Corpus-scale language scores: explode tokens, conditional-sum one
    * `_s_<lang>` column per language grouped by `idCols` — fully
    * whole-stage-codegen'd (split/explode/hash-agg, map-side partial, one
    * shuffle on the id) where the HOF form interprets per row. Same counts
    * as [[langScore]] (multiplicity included). */
  def langScoresById(docs: org.apache.spark.sql.DataFrame,
                     idCols: Seq[String], textCol: String): org.apache.spark.sql.DataFrame = {
    val scoreCols = LangMarkers.map { case (lang, m) =>
      sum(when(col("_w").isin(m: _*), 1L).otherwise(0L)).as(s"_s_$lang")
    }
    docs.select(idCols.map(col) :+ explode(words(col(textCol))).as("_w"): _*)
      .groupBy(idCols.map(col): _*)
      .agg(scoreCols.head, scoreCols.tail: _*)
  }

  /** The [[langId]] argmax applied to [[langScoresById]] output columns. */
  def langIdFromScores: Column =
    langArgmax(LangMarkers.map { case (lang, _) => lang -> col(s"_s_$lang") })

  /** Fraction of repeated word n-grams in the document — the Gopher-style
    * within-document repetition signal (high ⇒ boilerplate/looping text).
    * 0 for documents too short to have an n-gram.
    *
    * Convenience form for small/ad-hoc frames: the shingle array is an
    * interpreted HOF evaluated per reference — on corpus scans compute the
    * same ratio from [[Dedup.shingleSet]] distinct counts instead (see
    * q39 in [[graft.Queries]]). */
  def repetitionRatio(c: Column, n: Int = 3): Column = {
    val sh = Dedup.shingleArray(words(c), n)
    when(size(sh) === 0, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(sh)).cast("double") / size(sh).cast("double"))
  }

  /** PII patterns for corpus scrubbing — deliberately in the portable
    * common subset of Java regex and RE2 (no lookarounds, no backrefs), so
    * the DuckDB oracle applies the identical expressions. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+1-555-[0-9]{4}"

  /** PII scrub: emails then phone numbers replaced with typed placeholder
    * tokens — the standard pre-training corpus redaction pass (C4/CCNet
    * shape). Order fixed: emails first, so a phone inside a local-part is
    * redacted as part of the email. */
  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  /** Content fingerprint: md5 of the normalized text (engine-portable). */
  def contentHash(c: Column): Column = md5(normalize(c))

  /** Polynomial rolling hash over the normalized text's code points:
    * acc = (acc*31 + codepoint) mod 1e9+7 — the classic Rabin-Karp
    * fingerprint, left-folded so any engine reproduces it exactly.
    * One static call of [[graft.functions.RollingHash.hash]] per row
    * inside whole-stage codegen (`graft_rolling_hash` — requires
    * `graft.functions.GraftExtensions` on the session, as all graft entry
    * points install); [[rollingHashHof]] is the extension-free
    * equivalent. */
  def rollingHash(c: Column): Column =
    call_function("graft_rolling_hash", normalize(c))

  /** Builtin-only rolling hash (split/transform/aggregate fold) — same
    * values as [[rollingHash]] for BMP text (split("") yields UTF-16 code
    * units, so lone surrogate halves of non-BMP chars would fold
    * differently than the native code-point loop), usable without session
    * extensions, but three nested CodegenFallback lambdas evaluated per
    * character: keep it off full-corpus scans. */
  def rollingHashHof(c: Column): Column =
    aggregate(
      transform(split(normalize(c), ""), ch => ascii(ch).cast("long")),
      lit(0L),
      (acc, code) => (acc * lit(31L) + code) % lit(1000000007L))
}
