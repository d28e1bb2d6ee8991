package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training — the merge-pair loop every LLM
  * tokenizer pipeline runs over its corpus sample, shaped for scale the
  * way [[Cluster.train]] shapes Lloyd iterations: the ONE corpus-sized
  * pass is the word-frequency aggregation; every merge round after that
  * works on the vocabulary table (distinct words × counts — vocabulary-
  * sized, not corpus-sized), picks its top pair with an in-plan
  * `orderBy.limit(1)` broadcast back (no driver action), and applies the
  * merge as a per-word array rewrite. Small budgets (≤6 rounds) unroll
  * into one lazy plan; production budgets run the lineage-truncated
  * iteration ([[trainIterative]] — localCheckpoint cadence, CC-style),
  * so the merge count is bounded by the corpus, not the planner.
  *
  * Merge semantics are EXACT BPE with one documented restriction:
  * self-pairs (a, a) are excluded from selection. For a ≠ b adjacent
  * matches can never overlap, so replacing ALL matches simultaneously
  * equals the reference greedy left-to-right merge — which is what makes
  * the round a pure per-row array map both engines reproduce
  * bit-for-bit (the q129 oracle replays every round; self-pair runs
  * like "a a a" would need sequential run-length tie-breaking that no
  * declarative one-pass map expresses).
  *
  * RESTRICTION vs. HuggingFace `tokenizers` and SentencePiece (BPE
  * mode): both reference trainers DO count and can select self-pairs —
  * on a corpus dominated by single-character runs (e.g. "aaaa" → HF
  * merges (a,a)→"aa" first) this trainer picks the best a≠b pair
  * instead, so the learned merge lists diverge from round 1 on such
  * corpora. On natural-language text self-pairs essentially never win
  * a round, so the lists agree; a user training a production tokenizer
  * on run-heavy data (DNA, ASCII art, padded logs) should not use this
  * trainer as a drop-in HF/SentencePiece replacement. BpeSpec pins the
  * divergence with an explicit run-corpus case.
  *
  * Words are lowercase latin tokens (`^[a-z]+$`) of the corpus'
  * whitespace tokenization; symbols travel space-joined, so a pair is
  * "a b" and its merge "ab".
  */
object Bpe {

  /** The corpus word-frequency table: (word, n). The only corpus-sized
    * pass in BPE training. */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextStats.words(col(textCol))).as("_w"))
      .select(lower(col("_w")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** 12-gram boundary-marked window stream — ONE ROW PER OCCURRENCE
    * (column `word`) — the training unit the q169/q173/q184 family
    * counts: every 12 consecutive lowercased words joined by '_',
    * alphabetic windows only. The ± occurrence leg of every unit-count
    * maintenance fold ([[maintainUnitCounts]], [[graft.streaming
    * .MaintainStream.bpeUnitLegs]]'s micro-batches). */
  def unitWindows(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(TextStats.words(lower(col(textCol))).as("ws"))
      .filter(size(col("ws")) >= 12)
      .select(explode(transform(sequence(lit(1), size(col("ws")) - 11),
        i => concat_ws("_", slice(col("ws"), i, lit(12))))).as("word"))
      .filter(col("word").rlike("^[a-z]+(_[a-z]+){11}$"))

  /** `^[a-z]+$` per word — a 12-window's joined string matches
    * `^[a-z]+(_[a-z]+){11}$` iff EVERY word in it is a nonempty
    * all-[a-z] token: the join contributes exactly 11 underscores, the
    * pattern admits exactly 11, so a word carrying its own '_' (or any
    * other char, or emptiness) disqualifies the window. Checking words
    * once beats regexing every window (each word sits in up to 12). */
  private def allLowerAlpha(w: String): Boolean = {
    if (w.isEmpty) return false
    var i = 0
    while (i < w.length) {
      val c = w.charAt(i)
      if (c < 'a' || c > 'z') return false
      i += 1
    }
    true
  }

  /** The qualifying window stream of `ws` from window index `from` —
    * shared by [[localUnitWindows]] and [[localUnitWindowsDelta]]. */
  private def winStream(ws: Array[String], from: Int): Iterator[String] = {
    val ok = ws.map(allLowerAlpha)
    (math.max(0, from) to ws.length - 12).iterator
      .filter { i =>
        var j = i; var good = true
        while (good && j < i + 12) { good = ok(j); j += 1 }
        good
      }
      .map(i => ws.slice(i, i + 12).mkString("_"))
  }

  /** JVM replica of [[unitWindows]]'s per-document window stream (the
    * [[LocalText]] contract; the per-word [[allLowerAlpha]] test is
    * exactly the anchored `rlike` on the joined string — see its
    * scaladoc). */
  def localUnitWindows(text: String): Iterator[String] =
    if (text == null) Iterator.empty
    else winStream(LocalText.words(text.toLowerCase()), 0)

  /** SIGNED pairwise window delta for a CHANGED document — the ± legs
    * `fold(old, -1) ∪ fold(new, +1)` minus the provably-canceling pairs:
    * a window lying entirely inside the texts' common word PREFIX (and
    * inside both windowable ranges) produces the identical key in both
    * legs, so skipping it from both leaves the group sum unchanged (the
    * abelian cancellation, applied before the strings are ever built).
    * For the dominant real-world edit — a suffix append/trim — this
    * folds ~12 windows instead of two full documents. */
  def localUnitWindowsDelta(oldText: String, newText: String): Iterator[(String, Long)] = {
    val ow = if (oldText == null) Array.empty[String]
      else LocalText.words(oldText.toLowerCase())
    val nw = if (newText == null) Array.empty[String]
      else LocalText.words(newText.toLowerCase())
    val minLen = math.min(ow.length, nw.length)
    var p = 0
    while (p < minLen && ow(p) == nw(p)) p += 1
    // windows i < skip are valid in BOTH texts and word-identical
    val skip = math.max(0, math.min(p - 11, minLen - 11))
    winStream(ow, skip).map((_, -1L)) ++ winStream(nw, skip).map((_, 1L))
  }

  /** INCREMENTAL trainer-unit-count maintenance (VERDICT r15 ask #6 —
    * the tokenizer-release refresh policy's model half): the unit
    * frequency model a BPE trainer consumes is an abelian-group count
    * (one unit per extracted window occurrence), so the new crawl's
    * model is prev − removed/changed-old windows + added/changed-new
    * windows ([[AdditiveCounts.maintain]], the q155/q160/q171
    * backbone), zero-count units dropped. `prevModel`: (word, n);
    * `minusWords`/`plusWords`: one row per removed/added window
    * occurrence (column `word`). The RELEASE table (top-k cap) and the
    * retrain trigger derive from the maintained model — see the q173
    * cell. */
  def maintainUnitCounts(prevModel: DataFrame, minusWords: DataFrame,
                         plusWords: DataFrame): DataFrame =
    AdditiveCounts.maintain(
        prevModel.select(col("word"), col("n").as("cnt")), "word",
        minusWords.select(col("word")), plusWords.select(col("word")))
      .select(col("word"), col("cnt").as("n"))

  /** The q173 maintain-and-serve chain as ONE guarded task (the
    * q148/q153/q171/q180 treatment at the tokenizer-release layer): the
    * distributed chain (hash diff, two 12-gram window legs, the model
    * combine, two TakeOrdered caps, a two-`except` policy diff) is ~12
    * delta-sized stages of scheduling latency at serving scale
    * (measured 1.3-1.9 s standalone at sf0.1 against a 0.38 s twin).
    * The four stored inputs ride a tagged union into one
    * `mapPartitions` task mirroring it step for step:
    * [[graft.ops.LocalText.contentHash]] statuses, the exact window
    * stream (lowercased Spark-split words, every 12-window joined by
    * '_', the `^[a-z]+(_[a-z]+){11}$` full-match — `rlike`'s anchored
    * pattern on newline-free strings equals Java `matches`), the
    * signed fold with non-positives dropped at the end
    * ([[AdditiveCounts]] true-delta equivalence), both release tables
    * by (n desc, word) capped at `cap`, and the (word, n)-pair
    * symmetric-difference policy count. Callers guard fail-CLOSED on
    * Catalyst size stats; `maxLocalBytes = 0` on the cell forces the
    * distributed chain (spec-pinned tier equality). Output: the q173
    * kind-tagged union — ('unit', word, n) rows for the new release
    * table, ('policy_changed', null, |Δ|), ('policy_retrain', null,
    * 0/1). */
  def maintainVocabServeLocal(prevModel: DataFrame, prevHashes: DataFrame,
                              oldDocs: DataFrame, newDocs: DataFrame,
                              idCol: String, textCol: String,
                              cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1; got $cap")
    val spark = prevModel.sparkSession
    import spark.implicits._
    val nullL = lit(null).cast("long")
    val tagged = prevModel.select(lit("m").as("_t"), col("word").as("_s"),
        col("n").cast("long").as("_l"), nullL.as("_id"))
      .unionByName(prevHashes.select(lit("h").as("_t"),
        col("content_hash").as("_s"), nullL.as("_l"),
        col("doc_id").cast("long").as("_id")))
      .unionByName(oldDocs.select(lit("o").as("_t"), col(textCol).as("_s"),
        nullL.as("_l"), col(idCol).cast("long").as("_id")))
      .unionByName(newDocs.select(lit("n").as("_t"), col(textCol).as("_s"),
        nullL.as("_l"), col(idCol).cast("long").as("_id")))
    val capG = cap
    // coalesce(1) (the family funnel): measured equal to a
    // repartition(1) exchange here — the model decode dominates either
    // way and the zero-shuffle funnel skips the extra 194k-row
    // write+read.
    tagged.coalesce(1).mapPartitions { it =>
      import scala.collection.mutable
      // The model is corpus-VOCABULARY-sized (hundreds of thousands of
      // 12-gram strings), so the task never builds a model-sized hash
      // map or sorts the model: rows buffer once (append-only), the
      // delta fold runs over a SMALL map keyed only by the delta docs'
      // windows, and both release tables come from ONE streaming pass
      // over the buffer through bounded (cap-sized) heaps — O(model)
      // scan, O(model log cap) compares, no O(model log model) sort and
      // no model-sized string hashing.
      val modelRows = mutable.ArrayBuffer.empty[(String, Long)]
      val prevHash = mutable.HashMap.empty[Long, String]
      val oldText = mutable.HashMap.empty[Long, String]
      val newText = mutable.HashMap.empty[Long, String]
      it.foreach { row =>
        row.getString(0) match {
          case "m" => modelRows += ((row.getString(1), row.getLong(2)))
          case "h" => prevHash.update(row.getLong(3), row.getString(1))
          case "o" => oldText.update(row.getLong(3),
            if (row.isNullAt(1)) "" else row.getString(1))
          case _ => newText.update(row.getLong(3),
            if (row.isNullAt(1)) "" else row.getString(1))
        }
      }
      val unitRe = java.util.regex.Pattern.compile("^[a-z]+(_[a-z]+){11}$")
      val delta = mutable.HashMap.empty[String, Long]
      def fold(text: String, sign: Long): Unit = {
        val ws = LocalText.words(text.toLowerCase())
        var i = 0
        while (i <= ws.length - 12) {
          val w = ws.slice(i, i + 12).mkString("_")
          if (unitRe.matcher(w).matches())
            delta.update(w, delta.getOrElse(w, 0L) + sign)
          i += 1
        }
      }
      newText.foreach { case (id, t) =>
        prevHash.get(id) match {
          case None => fold(t, 1L) // added
          case Some(h) =>
            if (h != LocalText.contentHash(t)) { // changed
              fold(oldText.getOrElse(id, ""), -1L); fold(t, 1L)
            }
        }
      }
      prevHash.keysIterator.foreach(id =>
        if (!newText.contains(id)) fold(oldText.getOrElse(id, ""), -1L))
      // Bounded release-table heap: head = the WORST kept entry under
      // (n desc, word asc) — a total order, so top-cap is a unique set.
      val worstFirst: Ordering[(String, Long)] =
        Ordering.by { case (w, n) => (-n, w) }
      class TopCap {
        val pq = mutable.PriorityQueue.empty[(String, Long)](worstFirst)
        def add(w: String, n: Long): Unit = {
          if (pq.size < capG) pq.enqueue((w, n))
          else if (worstFirst.lt((w, n), pq.head)) {
            pq.dequeue(); pq.enqueue((w, n))
          }
        }
        def result(): Set[(String, Long)] = pq.toSet
      }
      val oldTop = new TopCap
      val newTop = new TopCap
      // One streaming pass: the stored count feeds the OLD release
      // table (pre-fold state — exactly the distributed cell's
      // TakeOrdered over the artifact), the delta-adjusted count the
      // NEW one; consumed delta keys are removed so the leftovers are
      // exactly the brand-new units.
      modelRows.foreach { case (w, n) =>
        oldTop.add(w, n)
        val nn = n + delta.remove(w).getOrElse(0L)
        if (nn > 0) newTop.add(w, nn)
      }
      delta.foreach { case (w, d) => if (d > 0) newTop.add(w, d) }
      val oldSet = oldTop.result()
      val newSet = newTop.result()
      val changed =
        (newSet.diff(oldSet).size + oldSet.diff(newSet).size).toLong
      newSet.iterator.map { case (w, n) => ("unit", w, n) } ++
        Iterator(("policy_changed", null: String, changed),
          ("policy_retrain", null: String, if (changed > 0) 1L else 0L))
    }.toDF("kind", "unit", "n")
  }

  /** Adjacent-pair counts over the weighted vocab (self-pairs excluded —
    * see the object doc). */
  private def pairCounts(v: DataFrame): DataFrame = {
    val arr = split(col("sym"), " ")
    v.select(col("n"),
        explode(zip_with(slice(arr, lit(1), size(arr) - 1),
          slice(arr, lit(2), size(arr) - 1),
          (a, b) => concat_ws(" ", a, b))).as("pair"))
      .withColumn("_parts", split(col("pair"), " "))
      .filter(element_at(col("_parts"), 1) =!= element_at(col("_parts"), 2))
      .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
  }

  /** One merge round: top pair by (count desc, pair asc), applied as the
    * exact array rewrite — position p is dropped when (p−1, p) matched,
    * rewritten to the merged symbol when (p, p+1) matched. Returns the
    * rewritten vocab and the 1-row merge record (iteration, pair,
    * merged, cnt). */
  private def mergeRound(v: DataFrame, iter: Int): (DataFrame, DataFrame) = {
    val top = pairCounts(v)
      .orderBy(col("cnt").desc, col("pair"))
      .limit(1)
      .select(lit(iter).as("iteration"), col("pair"),
        concat_ws("", split(col("pair"), " ")).as("merged"), col("cnt"))
    val nv = applyMerge(v, top.select(
      split(col("pair"), " ").getItem(0).as("_a"),
      split(col("pair"), " ").getItem(1).as("_b"),
      concat_ws("", split(col("pair"), " ")).as("_m")))
    (nv, top)
  }

  /** Apply ONE merge (the ≤1-row frame `m` with columns _a, _b, _m) to
    * every `sym` in `v`, preserving v's other columns — the exact array
    * rewrite shared by training rounds and [[encode]]: position p drops
    * when (p−1, p) matched, rewrites to the merged symbol when (p, p+1)
    * matched.
    *
    * Joined on a constant key, NOT a crossJoin: a degenerate round (no
    * countable pairs left — e.g. a corpus of single-character words, or
    * encoding with fewer trained merges than requested) yields an EMPTY
    * merge frame, and a crossJoin with an empty side would silently
    * annihilate the whole vocabulary. With the left join the pair
    * columns come back null and the word passes through unrewritten, so
    * exhausted rounds are a graceful no-op. */
  private def applyMerge(v: DataFrame, m: DataFrame): DataFrame = {
    val cols = v.columns.toSeq
    val withTop = v.withColumn("_one", lit(1))
      .join(broadcast(m.select(lit(1).as("_one"), col("_a"), col("_b"),
        col("_m"))), Seq("_one"), "left")
      .drop("_one")
    def arr: Column = split(col("sym"), " ")
    def el(p: Column): Column = element_at(arr, p)
    val kept = filter(sequence(lit(1), size(arr)),
      p => !(p >= 2 && el(p - 1) === col("_a") && el(p) === col("_b")))
    val rewritten = transform(kept,
      p => when(p < size(arr) && el(p) === col("_a") && el(p + 1) === col("_b"),
        col("_m")).otherwise(el(p)))
    withTop
      .withColumn("sym", when(col("_a").isNull, col("sym"))
        .otherwise(array_join(rewritten, " ")))
      .select(cols.map(col): _*)
  }

  /** Train `rounds` BPE merges and report them alongside the final
    * segmentation of the `topWords` most frequent words: rows
    * (kind, key, value, weight) — kind 'merge' carries (pair, merged,
    * selection count) per round; kind 'word' carries (word, final
    * space-joined segmentation, corpus count). */
  def train(docs: DataFrame, textCol: String, rounds: Int,
            topWords: Int): DataFrame =
    trainFromWordFreq(wordFreq(docs, textCol), rounds, topWords)

  /** [[train]] over a caller-supplied word-frequency table (word, n) —
    * the [[graft.ops.Dedup.minHashNearDupPairsFromShingles]] split: the
    * word count is the ONLY corpus-sized stage of BPE training, and in a
    * production pipeline it is a silver artifact written once per corpus
    * snapshot (the same table feeds vocab-growth diagnostics, quality
    * stats, and every tokenizer retrain at a new merge budget). Callers
    * that serve it from a stored artifact pay the corpus scan once and
    * re-train at any `rounds`/`topWords` for vocabulary-sized cost. */
  def trainFromWordFreq(wf: DataFrame, rounds: Int,
                        topWords: Int,
                        maxLocalWords: Long = 200000L): DataFrame = {
    require(rounds >= 1 && rounds <= 65536,
      s"rounds must be in [1,65536]; got $rounds")
    require(topWords >= 1, s"topWords must be >= 1; got $topWords")
    // ONE-TASK tier at SMALL budgets too (round 18): a 3-round unrolled
    // plan is still ~20 vocabulary-sized stages of scheduler latency
    // when the vocabulary is KB-scale (q129 measured 0.6-1.5 s of pure
    // stage latency against a 0.19 s twin). Guarded on Catalyst size
    // stats — NOT a count() — so the unrolled path's zero-actions-
    // inside-train contract is untouched; the byte half is
    // [[graft.Tier]] under the derived `byteCap`. The caller's numeric
    // cap is honored through the same stats: when the optimizer knows a
    // row count it must sit under `maxLocalWords` (the deep tier's count()
    // contract); when it doesn't (ADVICE r18 — Catalyst rarely carries
    // rowCount for parquet scans), the byte bound TIGHTENS to
    // maxLocalWords × 12 bytes — a conservative floor on one (word, n)
    // row's width (8-byte count + ≥4 bytes of string payload/overhead)
    // — so a frame under 8 MB can never smuggle more than ~maxLocalWords
    // minimum-width rows past the numeric cap.
    // `maxLocalWords = 0` forces the distributed/unrolled shape (spec +
    // q147 coverage); tier equality is BpeSpec-pinned at shared budgets.
    if (rounds <= UnrollLimit) {
      val st = wf.queryExecution.optimizedPlan.stats
      val byteCap = BigInt(8L << 20)
        .min(if (st.rowCount.isDefined) BigInt(8L << 20)
             else BigInt(12L * maxLocalWords))
      if (maxLocalWords > 0 &&
          st.rowCount.forall(_ <= BigInt(maxLocalWords)) &&
          graft.Tier.fits(byteCap.toLong, wf))
        return trainLocal(wf, rounds, topWords)
    } else {
      // ONE-TASK TIER for deep budgets over one-task vocabularies (the
      // q153 union-find / Suffix local-sort pattern): the distributed
      // loop costs one vocab-sized aggregation JOB per round — 512
      // rounds is 512 driver barriers on data measured in megabytes.
      // When the vocabulary fits one task, the whole merge loop runs
      // in-memory in ONE job with bit-identical semantics (BpeSpec
      // asserts tier equality; self-pair filter, (cnt desc, pair asc)
      // tie-break, and the simultaneous a≠b rewrite all replicated).
      // Guard fails closed to the scale-proof iterative loop;
      // maxLocalWords = 0 forces it (q147 pins the distributed tier in
      // a gated cell, and specs use it for coverage). The word-freq
      // plan can be expensive (q163's unit derivation is a corpus scan
      // + 4-gram explode + top-4096) — persist it so the guard's count
      // and the trainer read one materialization, not two derivations.
      val wfP = graft.CacheScope.scopedPersist(wf,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (maxLocalWords > 0 && wfP.count() <= maxLocalWords)
        return trainLocal(wfP, rounds, topWords)
      return trainIterative(wfP, rounds, topWords)
    }
    // CACHING CONTRACT (the [[Similarity.ivfAssignment]] discipline):
    // every round's vocab frame feeds MULTIPLE consumers — the next
    // round's pair aggregation, and transitively every later merge
    // report plus the final word rows. Unpersisted, each consumer
    // re-derives the whole chain from the corpus scan (round r's
    // rewrite would run rounds−r+1 times and the corpus-sized wordFreq
    // once per branch); persisted, the corpus is scanned once and each
    // vocabulary-sized rewrite runs once. An EAGER per-round unpersist
    // here would be wrong (no action runs inside train() on this path,
    // so an unmarked round-r frame would be recomputed once per
    // downstream consumer when the caller finally acts) — so the
    // rounds+1 frames are registered via CacheScope.scopedPersist:
    // inside a withCachedFrames block (every artifact build) they
    // are released when the block's action completes; outside one the
    // session clearCache contract applies (Bench/Verify). Storage is
    // vocabulary-sized (not corpus-sized) per frame, and
    // MEMORY_AND_DISK evicts under pressure rather than OOM.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var vocab = graft.CacheScope.scopedPersist(wf
      .withColumn("sym", concat_ws(" ", split(col("word"), "")))
      .select(col("word"), col("sym"), col("n")), lvl)
    var merges: Seq[DataFrame] = Nil
    for (r <- 1 to rounds) {
      val (nv, m) = mergeRound(vocab, r)
      vocab = graft.CacheScope.scopedPersist(nv, lvl)
      merges = merges :+ m
    }
    report(merges, vocab, topWords)
  }

  /** Plan-depth boundary between the two trainer shapes: budgets up to
    * this many rounds unroll into ONE lazy plan (zero actions inside
    * train — the original contract q129/q133 time); larger budgets run
    * [[trainIterative]]. */
  private val UnrollLimit = 6

  /** Rounds between lineage truncations in [[trainIterative]] — the
    * [[Dedup.nearDupClustersFromPairs]] barrier-economy trade: larger
    * blocks mean fewer driver barriers but deeper un-truncated rewrite
    * chains inside each checkpoint job (and a lost-executor recompute
    * re-runs at most one block, never the whole training run). */
  private val CheckpointEvery = 8

  /** The merge loop for PRODUCTION merge budgets (rounds >
    * [[UnrollLimit]]) — a real tokenizer trains thousands of merges, and
    * one lazy plan cannot unroll them (analysis cost and plan depth grow
    * per round; the round-12 trainer simply refused budgets over 6).
    * Same semantics as the unrolled path bit-for-bit (BpeSpec asserts
    * equality on a shared budget), different engine shape — the
    * [[Dedup.nearDupClustersFromPairs]] iteration pattern:
    *
    *   - each round's top-pair frame is EAGERLY localCheckpoint-ed
    *     (1 row, one vocabulary-sized aggregation job): the selection
    *     stops being an in-plan subquery and becomes loop state, so the
    *     next rewrite broadcasts materialized data and the final merge
    *     report reads 32 one-row RDD-backed leaves, not 32 re-run
    *     aggregations;
    *   - the vocab frame's lineage is truncated every
    *     [[CheckpointEvery]] rounds (each rewrite layer is a narrow
    *     broadcast-join map, so a block executes as one shallow job);
    *   - a SUPERSEDED vocab checkpoint is released immediately
    *     ([[graft.CacheScope.releaseCheckpoint]]): every consumer of
    *     its blocks (the block's top frames and the successor
    *     checkpoint) has itself been materialized, so peak storage is
    *     two vocabulary-sized snapshots regardless of budget;
    *   - loop-state width follows the CC economy: the vocab is
    *     coalesced so a round costs a handful of tasks on a toy corpus
    *     while still scaling partitions with vocabulary size.
    *
    * CONTRACT DIFFERENCE vs the unrolled path: this shape RUNS JOBS
    * inside train (the checkpoints are eager) — callers get a cheap
    * lazy result (a union of materialized 1-row leaves plus one
    * checkpointed vocab scan), which is why the big-budget trainer
    * belongs behind a [[graft.Tables.artifact]] build (q147
    * serves it) rather than on a per-query hot path. */
  private[graft] def trainIterative(wf: DataFrame, rounds: Int,
                             topWords: Int): DataFrame = {
    val spark = wf.sparkSession
    var vocab = wf
      .withColumn("sym", concat_ws(" ", split(col("word"), "")))
      .select(col("word"), col("sym"), col("n"))
      .localCheckpoint()
    // Loop-state sizing off the already-materialized checkpoint (the
    // count reads cached blocks): ~10k words per task, never more than
    // the session's parallelism, ONE for toy vocabularies.
    val nWords = vocab.count()
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, nWords / 10000L)).toInt
    val sized = vocab.coalesce(parts).localCheckpoint()
    graft.CacheScope.releaseCheckpoint(vocab)
    vocab = sized
    var lastBlock = vocab // superseded at each truncation
    var merges: Seq[DataFrame] = Nil
    for (r <- 1 to rounds) {
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1)
        .select(lit(r).as("iteration"), col("pair"),
          concat_ws("", split(col("pair"), " ")).as("merged"), col("cnt"))
        .localCheckpoint() // eager: ≤1 row, one vocab-sized agg job
      merges = merges :+ top
      vocab = applyMerge(vocab, top.select(
        split(col("pair"), " ").getItem(0).as("_a"),
        split(col("pair"), " ").getItem(1).as("_b"),
        concat_ws("", split(col("pair"), " ")).as("_m")))
      if (r % CheckpointEvery == 0 || r == rounds) {
        vocab = vocab.localCheckpoint()
        graft.CacheScope.releaseCheckpoint(lastBlock)
        lastBlock = vocab
      }
    }
    // The result's backing blocks (final vocab + the 1-row tops) are
    // freed by the ambient scope on exit when one is active (the
    // artifact shape), else by the session clearCache contract.
    graft.CacheScope.scopedCheckpoint(vocab)
    merges.foreach(graft.CacheScope.scopedCheckpoint)
    report(merges, vocab, topWords)
  }

  /** The one-task trainer tier: the full merge loop in memory, emitting
    * [[report]]'s exact row shape. O(rounds × total symbols) — a naive
    * full recount per round, which at the guard bound (200k words) is
    * well under a second per hundred rounds; the point is ONE job
    * versus one job per round. Exhaustion (no countable pair left)
    * stops the loop — the distributed path's no-op rounds emit no rows
    * either, so the outputs agree. */
  /** UTF-8 byte order — Spark compares strings as UTF8String binary
    * (code points), while Java String.compareTo is UTF-16 code-unit
    * order; the two DISAGREE between [U+E000, U+FFFF] and
    * supplementary-plane characters, so a tie broken with compareTo
    * could pick a different merge than the distributed tier. */
  private def utf8Less(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  private[ops] def trainLocal(wf: DataFrame, rounds: Int,
                              topWords: Int): DataFrame = {
    val spark = wf.sparkSession
    import spark.implicits._
    wf.select(col("word"), col("n").cast("long")).as[(String, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val entries = it.toArray
        val words = entries.map(_._1)
        val ns = entries.map(_._2)
        // Code-POINT split, not code units: the distributed tier's
        // split(word, '') advances by code point (Java regex zero-width
        // matches), so a UTF-16 `w.map(_.toString)` here would hand a
        // supplementary-plane word (emoji, rare CJK) a DIFFERENT initial
        // symbol sequence — and which tier runs is picked silently by
        // the word-count guard (ADVICE r14 #1).
        val syms: Array[Array[String]] =
          words.map(w => w.codePoints().toArray
            .map(cp => new String(Character.toChars(cp))))
        val out =
          scala.collection.mutable.ArrayBuffer.empty[(String, String, String, Long, Int)]
        var r = 1
        var exhausted = false
        while (r <= rounds && !exhausted) {
          val cnt = new java.util.HashMap[String, java.lang.Long]()
          var wi = 0
          while (wi < syms.length) {
            val s = syms(wi); val n = ns(wi)
            var i = 0
            while (i < s.length - 1) {
              if (s(i) != s(i + 1)) {
                val key = s(i) + " " + s(i + 1)
                val cur = cnt.get(key)
                cnt.put(key, if (cur == null) n else cur + n)
              }
              i += 1
            }
            wi += 1
          }
          if (cnt.isEmpty) exhausted = true
          else {
            var bestPair: String = null
            var bestCnt = -1L
            val itr = cnt.entrySet().iterator()
            while (itr.hasNext) {
              val e = itr.next()
              val c = e.getValue.longValue()
              if (c > bestCnt ||
                  (c == bestCnt && utf8Less(e.getKey, bestPair))) {
                bestPair = e.getKey; bestCnt = c
              }
            }
            val sp = bestPair.split(" ", 2)
            val a = sp(0); val b = sp(1)
            val merged = a + b
            out += (("merge", bestPair, merged, bestCnt, r))
            wi = 0
            while (wi < syms.length) {
              val s = syms(wi)
              var has = false
              var i = 0
              while (!has && i < s.length - 1) {
                has = s(i) == a && s(i + 1) == b; i += 1
              }
              if (has) {
                val nb = scala.collection.mutable.ArrayBuffer.empty[String]
                i = 0
                while (i < s.length) {
                  if (i < s.length - 1 && s(i) == a && s(i + 1) == b) {
                    nb += merged; i += 2
                  } else { nb += s(i); i += 1 }
                }
                syms(wi) = nb.toArray
              }
              wi += 1
            }
          }
          r += 1
        }
        val top = entries.indices
          .sortWith((x, y) => ns(x) > ns(y) ||
            (ns(x) == ns(y) && utf8Less(words(x), words(y))))
          .take(topWords)
        top.foreach(i => out += (("word", words(i), syms(i).mkString(" "),
          ns(i), 0)))
        out.iterator
      }
      .toDF("kind", "key", "value", "weight", "ord")
  }

  /** Shared result shape: merge rows (one per round) + the `topWords`
    * most frequent words' final segmentation. */
  private def report(merges: Seq[DataFrame], vocab: DataFrame,
                     topWords: Int): DataFrame = {
    val mergeRows = merges.reduce(_.unionByName(_))
      .select(lit("merge").as("kind"), col("pair").as("key"),
        col("merged").as("value"), col("cnt").as("weight"),
        col("iteration").as("ord"))
    val wordRows = vocab.orderBy(col("n").desc, col("word")).limit(topWords)
      .select(lit("word").as("kind"), col("word").as("key"),
        col("sym").as("value"), col("n").as("weight"),
        lit(0).as("ord"))
    mergeRows.unionByName(wordRows)
      .select(col("kind"), col("key"), col("value"), col("weight"), col("ord"))
  }

  /** ENCODE the corpus with a trained merge list — the serving half of
    * the tokenizer: apply the merges in learned order (rank 1 first,
    * each globally within every word — for a≠b pairs this equals the
    * reference greedy application) and emit the per-document token
    * accounting every pretraining data pipeline runs: (doc_id, n_words,
    * n_bpe_tokens, encoded), where `encoded` joins each word's final
    * symbols with spaces and words with " | ".
    *
    * Scale shape: the rewrite runs on the DISTINCT-word vocabulary
    * (vocabulary-sized per merge, like training), then one equi-join
    * maps corpus word occurrences to their segmentation and a per-doc
    * aggregation reassembles order via sort_array(collect_list(struct)).
    * `merges` is the train() output filtered to kind='merge' (columns
    * key=pair, value=merged, ord=rank); a rank with no trained merge
    * (training exhausted early) no-ops via [[applyMerge]]'s guard.
    * Non-latin tokens are outside the trained domain and are skipped
    * (documented restriction, same domain as [[wordFreq]]). */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             merges: DataFrame, nMerges: Int): DataFrame =
    encodeWith(docs, idCol, textCol,
      encodeVocab(docs, textCol, merges, nMerges))

  /** The fully-ENCODED vocabulary: every distinct latin word of the
    * corpus mapped to its final space-joined segmentation after
    * `nMerges` trained merges — (word, sym). This is the table worth
    * SNAPSHOTTING: the per-merge rewrite chain (nMerges unrolled
    * left-joins) runs once here at artifact-build time, and every
    * encode/pack consumer afterwards is one equi-join + one aggregation
    * ([[encodeWith]]) instead of re-deriving the segmentation per query
    * — the same train-once/serve-many contract as the merge table
    * itself, one composition deeper. */
  def encodeVocab(docs: DataFrame, textCol: String,
                  merges: DataFrame, nMerges: Int): DataFrame = {
    require(nMerges >= 1 && nMerges <= 65536,
      s"nMerges must be in [1,65536]; got $nMerges")
    var vocab = docs
      .select(explode(TextStats.words(col(textCol))).as("_w"))
      .select(lower(col("_w")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .distinct()
      .withColumn("sym", concat_ws(" ", split(col("word"), "")))
    var lastCp: Option[DataFrame] = None
    for (r <- 1 to nMerges) {
      vocab = applyMerge(vocab, merges.filter(col("ord") === r).select(
        split(col("key"), " ").getItem(0).as("_a"),
        split(col("key"), " ").getItem(1).as("_b"),
        col("value").as("_m")))
      // Same plan-depth bound as training: beyond UnrollLimit the
      // rewrite chain is lineage-truncated every CheckpointEvery merges
      // (each block executes as one shallow job of narrow broadcast-join
      // maps); superseded checkpoints are released immediately, the
      // final one backs the returned frame and is scope-released (this
      // runs at artifact-build time — q133/q136/q148 serve the
      // snapshot).
      if (nMerges > UnrollLimit &&
          (r % CheckpointEvery == 0 || r == nMerges)) {
        vocab = vocab.localCheckpoint()
        lastCp.foreach(graft.CacheScope.releaseCheckpoint)
        lastCp = Some(vocab)
      }
    }
    lastCp.foreach(graft.CacheScope.scopedCheckpoint)
    vocab.select(col("word"), col("sym"))
  }

  /** Apply a pre-encoded vocabulary ((word, sym) — [[encodeVocab]], or
    * its stored snapshot) to the corpus: ONE equi-join mapping word
    * occurrences to their segmentation plus one per-doc reassembly
    * aggregation — the whole serving path, no per-merge work.
    *
    * OUT-OF-VOCABULARY words (possible when a stored snapshot built
    * from corpus A serves corpus B — never when the vocab derives from
    * `docs` itself) fall back to their CHARACTER segmentation via a
    * left join, the standard OOV behavior of a served tokenizer
    * snapshot. Note the fallback applies no merges — a word the
    * trained merge list WOULD have rewritten still counts one token
    * per character; re-derive the vocab against the new corpus
    * ([[encodeVocab]]) when exact parity with a live [[encode]]
    * matters. An inner join here would silently DROP unseen words
    * from n_words/n_bpe_tokens/encoded — undercounted token budgets
    * flowing straight into sequence packing. */
  def encodeWith(docs: DataFrame, idCol: String, textCol: String,
                 vocab: DataFrame): DataFrame = {
    val dw = docs
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(TextStats.words(col(textCol))).as(Seq("pos", "_w")))
      .select(col("doc_id"), col("pos"), lower(col("_w")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
    val enc = dw.join(vocab, Seq("word"), "left")
      .withColumn("sym", coalesce(col("sym"),
        concat_ws(" ", split(col("word"), ""))))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(size(split(col("sym"), " ")).cast("long")).as("n_bpe_tokens"),
        array_join(
          transform(sort_array(collect_list(struct(col("pos"), col("sym")))),
            s => s.getField("sym")), " | ").as("encoded"))
    docs.select(col(idCol).cast("long").as("doc_id")).join(enc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
        coalesce(col("encoded"), lit("")).as("encoded"))
  }
}
