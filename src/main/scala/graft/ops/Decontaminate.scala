package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Eval-set DEcontamination with REMOVAL — the step an actual
  * pretraining pipeline runs AFTER the contamination audit
  * ([[graft.Queries.q62ContaminationCheck]] detects n-gram overlap;
  * this operator acts on it): every length-L token window of a TRAINING
  * document that occurs anywhere in the held-out eval set is cut out of
  * the training text (GPT-3/PaLM-style n-gram decontamination), and a
  * per-document disposition manifest is emitted so the pipeline has
  * lineage for every survivor, rewrite, and drop.
  *
  * Unlike [[ExactSpans.dedupSpans]] there is NO canonical occurrence:
  * eval content must not survive in the training corpus at all, so
  * every matching occurrence is removed. Documents whose removal
  * fraction exceeds `dropPct`% are DROPPED rather than shredded (a doc
  * that is mostly eval content is a leaked copy, and a rewrite would
  * leave disconnected fragments) — the keep-vs-drop rule every
  * production decontamination run applies, kept integer-exact
  * (n_removed·100 ≤ n_tokens·dropPct) so the oracle replays it.
  *
  * Scale shape: window extraction is the linear explode both span
  * operators use; the eval window set is SMALL by construction (eval
  * sets are ~1k docs at any corpus scale — same argument as q62) and
  * broadcast into an equi-join against the training windows, so the
  * corpus is never joined to itself and never shuffled on content; the
  * rewrite is [[ExactSpans.rewrite]]'s O(tokens + spans) interval
  * sweep behind one doc_id equi-join.
  *
  * Output, one row per TRAINING document (eval docs are not part of
  * the served corpus): (doc_id, n_tokens, n_removed, contaminated,
  * keep, decon_text) — decon_text is the rewritten text for kept docs
  * and '' for dropped ones.
  */
object Decontaminate {

  /** `maxEvalWindows` is an EXPLICIT misuse guard in the
    * [[Similarity.cosineNearDupPairs]] style, not a tuning knob: the
    * operator broadcasts the distinct eval window set on the documented
    * "eval sets are small" contract, and a mis-scoped `evalPred` that
    * selects half the corpus would OOM the driver through that broadcast.
    * The guard counts the distinct windows up front (one aggregation over
    * the — persisted — eval frame, the same metadata-sized action as the
    * exact-kernel row guard) and fails fast with the remedy instead. The
    * default bound (10M windows ≈ a few hundred MB broadcast) is far above
    * any real eval suite and far below a corpus-sized leak. */
  def removeEvalSpans(docs: DataFrame, idCol: String, textCol: String,
                      evalPred: Column, spanLen: Int,
                      dropPct: Int,
                      maxEvalWindows: Long = 10000000L): DataFrame = {
    require(spanLen >= 2, s"spanLen must be >= 2; got $spanLen")
    require(dropPct >= 0 && dropPct <= 100,
      s"dropPct must be in [0,100]; got $dropPct")
    require(maxEvalWindows >= 1,
      s"maxEvalWindows must be >= 1; got $maxEvalWindows")
    val L = spanLen
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      evalPred.as("_eval"),
      TextStats.words(lower(col(textCol))).as("ws"))

    def wins(df: DataFrame): DataFrame = df
      .filter(size(col("ws")) >= L)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - L)).as("p"))
      .select(col("doc_id"), col("p"),
        array_join(slice(col("ws"), col("p") + 1, lit(L)), " ").as("key"))

    // Persisted: the window set feeds the size guard's aggregate AND the
    // broadcast join build (caching contract — callers release with
    // `spark.catalog.clearCache()`, what Bench/Verify do).
    val evalKeys = wins(base.filter(col("_eval")))
      .select(col("key")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The guard is LAZY — assert_true over a 1-row count aggregate that
    // rides the plan (an earlier revision ran evalKeys.count() eagerly,
    // which launched a Spark job inside every caller's DataFrame BUILD
    // and put ~1 s of driver-blocking work on the q137/q143/q145 plan
    // path). The tiny assert frame cross-joins into the broadcast side,
    // so an oversized window set still fails the query loudly before
    // the corpus-side join does any work.
    val nEval = evalKeys.agg(count(lit(1)).as("_n"))
    // assert_true inside a FILTER (not a pruned-away projection): the
    // predicate references the count, so column pruning must keep it,
    // and the assertion evaluates before any key can flow into the
    // broadcast build.
    val guardedKeys = evalKeys.crossJoin(broadcast(nEval))
      .filter(assert_true(col("_n") <= maxEvalWindows,
        concat(lit("removeEvalSpans broadcasts the eval window set: "),
          col("_n"),
          lit(s" distinct windows > maxEvalWindows=$maxEvalWindows. The " +
            "evalPred is selecting a corpus-sized set, not an eval suite " +
            "— fix its scope, or raise maxEvalWindows if the eval set is " +
            "genuinely this large (the join then belongs on a shuffle, " +
            "not a broadcast)."))).isNull)
      .select(col("key"))
    removeSpansOfKeys(base.filter(!col("_eval")).select(col("doc_id"), col("ws")),
      guardedKeys, L, dropPct)
  }

  /** The removal half against a CALLER-SUPPLIED distinct window-key set
    * (column `key`, space-joined lowercased L-token windows) — for
    * pipelines that store the eval suite's window set as a build-once
    * artifact (the eval suite is a release constant, so extracting and
    * distinct-ing its windows on every decontamination call is exactly
    * the recomputation [[graft.Tables.artifact]] amortizes
    * elsewhere; q143/q145 serve it stored, q137 times the live
    * extraction). `spanLen` must match the keys' window length — keys
    * of a different token count simply never match. Output contract
    * identical to [[removeEvalSpans]]. */
  def removeEvalSpansWithKeys(docs: DataFrame, idCol: String,
                              textCol: String, keys: DataFrame,
                              spanLen: Int, dropPct: Int): DataFrame = {
    require(spanLen >= 2, s"spanLen must be >= 2; got $spanLen")
    require(dropPct >= 0 && dropPct <= 100,
      s"dropPct must be in [0,100]; got $dropPct")
    removeSpansOfKeys(
      docs.select(col(idCol).cast("long").as("doc_id"),
        TextStats.words(lower(col(textCol))).as("ws")),
      keys.select(col("key")), spanLen, dropPct)
  }

  /** Shared removal core: `train` = (doc_id, ws), `keys` = distinct
    * window keys (broadcast); marks ALL matching occurrences — no
    * canonical survivor — and applies the keep-vs-drop rule. */
  private def removeSpansOfKeys(train: DataFrame, keys: DataFrame,
                                L: Int, dropPct: Int): DataFrame = {
    val wins = train
      .filter(size(col("ws")) >= L)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - L)).as("p"))
      .select(col("doc_id"), col("p"),
        array_join(slice(col("ws"), col("p") + 1, lit(L)), " ").as("key"))
    val marked = wins
      .join(broadcast(keys), Seq("key"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("p").cast("long"))).as("starts"))

    val keepRule = col("n_removed") * 100 <= col("n_tokens") * dropPct
    ExactSpans.rewrite(train, marked, L)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        (col("n_removed") > 0).as("contaminated"),
        keepRule.as("keep"),
        when(keepRule, col("deduped_text")).otherwise(lit(""))
          .as("decon_text"))
  }
}
