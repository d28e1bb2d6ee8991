package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The weak-cell decision rules, extracted so the q153-profile drill is a
  * deterministic unit test (BenchWeakSpec) instead of an unmanufacturable
  * integration run: the straddle signal fires only on genuine
  * bimodality (published best sample under 1 s, reproducible floor over
  * it), which a live drill cannot plant on demand — but the rule can be
  * fed the exact r15 q153 numbers and must flag them. */
private[graft] object WeakRule {
  /** The straddle band (VERDICT r15 ask #4): a baseline cell whose
    * published best sample lands here gets a FRESH min-of-3 confirm
    * under the main config no matter which side of 1 s it landed on. */
  val StraddleLo = 0.8
  val StraddleHi = 1.2

  /** The publication rule all three signals share: reproducibly past
    * BOTH thresholds (>1 s absolute, >2x the DuckDB baseline cell) on a
    * clean (unstalled, unerrored) measurement. */
  def isWeak(sec: Double, stallFlag: Boolean, err: Boolean,
             baseline: Double): Boolean =
    !stallFlag && !err && baseline > 0 && sec > 1.0 && sec / baseline > 2.0

  /** Straddle candidacy: the published best sample sits in the band,
    * the cell has a baseline to compare against, AND the baseline is
    * small enough that a floor in the band's reach could actually
    * flag — weak needs BOTH c > 1 s and c > 2·baseline, so for
    * baseline ≥ hi/2 the convicting floor sits above the band's top
    * and belongs to the main signal's territory, making the fresh
    * confirm pure measurement churn (q19/q22/q44/q173 land in the
    * band every run with 1.1-3.0 s twins and can never flag there). */
  def straddleCandidate(bestSec: Double, baseline: Double,
                        lo: Double = StraddleLo,
                        hi: Double = StraddleHi): Boolean =
    baseline > 0 && baseline < hi / 2 && bestSec >= lo && bestSec <= hi

  /** Gate-base candidacy (the r14 second signal): the sf1 block's
    * min-of-3 sf0.1 base — measured under the SCALE config — is past
    * both thresholds even though the main pass's best sample may not
    * be. Candidates are confirmed under the main config before
    * publishing. */
  def gateCandidate(baseSec: Double, stallFlag: Boolean, err: Boolean,
                    baseline: Double): Boolean =
    !stallFlag && !err && baseline > 0 && baseSec > 1.0 &&
      baseSec / baseline > 2.0

  /** Pre-warm-band candidacy — the FOURTH signal (VERDICT r16 ask #5,
    * the q179-profile hole): the sweep measures cells in an order that
    * pre-warms shared artifacts/subtrees, so a cell whose in-sweep best
    * sample lands just UNDER the 2x line (but over 1 s and over 1.5x)
    * can hide a standalone floor well past it (r16's q179: in-sweep
    * best 1.394 s vs a 0.697 s twin = 2.0x published clean; standalone
    * min-of-3 1.96 s = 2.8x). Any such cell is re-measured FRESH
    * min-of-3 under the main config and the weak rule applied to the
    * fresh floor — the straddle machinery with a RATIO band instead of
    * a seconds band (cells >2x && >1 s are the main signal's; the band
    * is half-open so the boundary sample 2.0x lands here, not nowhere). */
  def prewarmCandidate(sec: Double, baseline: Double): Boolean =
    baseline > 0 && sec > 1.0 && sec / baseline > 1.5 && sec / baseline <= 2.0
}

/** Benchmark main. Prints the per-query JSON record line (every query's
  * wall seconds) as soon as the gate-relevant passes finish, then — after
  * the optional 10x scale block — ONE short summary JSON line
  * (`{"total_sec":…,"n":…,"stalled":…,"canary":…,"sf1":…}`) so a tail
  * capture of stdout always retains the headline number and the scale
  * evidence even though the full record line is longer than the capture.
  * The session is [[GraftSession]]'s config with 8 shuffle partitions.
  *
  * Every cell is the MIN OF TWO full measurements — the same protocol the
  * DuckDB baseline uses (BASELINE_DUCKDB.json is "min of 2 passes" in one
  * warm process), so the comparison is symmetric: the second pass reuses
  * the JVM's codegen cache exactly as DuckDB's second pass reuses its
  * compiled pipelines, and a single-sample compile/JIT artifact (a
  * 12-branch regex categorizer costs ~1 s to codegen once, 8 ms to run)
  * never lands in the reported number.
  *
  * This host's vCPU stalls can also inflate a single measurement 10-30x
  * (the same query has measured 4.8 s and 156 s with identical code), so
  * on top of min-of-2:
  *
  *   1. A fixed CANARY job (constant work, no IO) is timed between every
  *      measurement. Its cost is flat on a healthy host; a spike means the
  *      host stalled in that window, so the adjacent query cell is marked
  *      a stall suspect rather than believed.
  *   2. The second pass runs in REVERSE order — a stall window covers
  *      consecutive cells, so reversing decorrelates the two samples of
  *      any one query; the per-query min is kept (a stall never makes a
  *      query faster).
  *   3. A cell whose min is still >3 s AND whose samples were BOTH
  *      canary-flagged gets one final third sample.
  *
  * The JSON carries `canary` stats and the `stalled` list so a reader can
  * tell measurement artifacts from real regressions without re-running.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame
  /** One measurement or merged cell: (seconds, stall-flagged, errored). */
  type Sample = (Double, Boolean, Boolean)

  /** The 10x scale cells in run order, each with its declared growth
    * bound — the REGRESSION GATE: any breach turns the run red (rc 3)
    * after all JSON lines print. Two regimes, calibrated over
    * consecutive full runs (which showed up to 2x run-to-run variance on
    * multi-second sf1 join cells from shared-box/JVM state — the gate
    * must catch STRUCTURE, not noise): fixed-cost-amortizing plans
    * (dedup, clustering, BPE, curation — scheduling/codegen/model costs
    * dominate their sf0.1 cells; observed 0.9-3.0x) get tight 4-6x
    * bounds, while plans whose work is LINEAR in the corpus by design
    * (scan-bound codecs/text, the DF-capped shingle join whose pair
    * count grows with copies; observed 4-9x) get bounds just above the
    * data growth (12-15x) so only a superlinear shape — an uncapped
    * shingle join reads >>15x — trips them. Calibration anchor for the
    * tight regime: the retired seed-stride IVF read 5.4x (and climbing
    * with corpus size) where the fixed formulation reads 1.5-3.0x —
    * q59's bound of 5 turns exactly that regression red. */
  private[graft] val ScaleCells: Seq[(String, Double)] = Seq(
    "q18_exact_dedup"           -> 5.0,
    "q21_ngram_jaccard"         -> 15.0,
    "q40_neardup_clusters"      -> 4.0,
    "q59_embedding_neardup_ivf" -> 5.0,
    // q101's base is its own smallest cell (0.1-0.5 s across runs)
    // and read 5.5x in one loaded window — bound sits above that
    // noise ceiling; the k-means anchor for real regressions is
    // the broadcast-assignment plan shape asserted in PlanSpec
    "q101_kmeans_cluster"       -> 8.0,
    // ANN serving: coarse route + compressed ADC scan at 10x corpus
    // (the candidate volume is list-occupancy-bounded, so growth
    // should track the corpus, not its square)
    "q117_ivfpq_topk"           -> 6.0,
    // the headline end-to-end curation pipeline (quality gate +
    // exact dedup + near-dup survivor manifest off the served pair
    // table) and the per-source quota window at 10x
    "q109_curation_pipeline"    -> 4.0,
    "q124_source_caps"          -> 5.0,
    // BPE training: the word-count pass is the only corpus-sized
    // stage; the merge rounds are vocabulary-sized, so total time
    // should grow far below 10x
    "q129_bpe_merges"           -> 4.0,
    // the 32-merge production budget: a served artifact read (the
    // iterative trainer runs once at build time) — the cell must
    // stay flat at 10x like every artifact-serving plan
    "q147_bpe_train32"          -> 4.0,
    // the perceptron trainer: per-round cost is one map-side-combined
    // aggregate over the checkpointed feature table — fixed job
    // overhead dominates small cells and must amortize at 10x
    "q131_quality_perceptron"   -> 4.0,
    // scan-bound families: codec + text + feature-extraction
    // throughput should grow ~linearly in data and amortize fixed
    // cost (growth << 10x)
    "q112_png_decode"           -> 10.0,
    "q20_text_stats"            -> 15.0,
    // the compressed-video decode (JPEG per frame) — the heaviest
    // per-byte codec work in the suite; must stay scan-bound
    "q130_mjpeg_frames"         -> 12.0,
    // exact-span dedup: one window row per token + equi-join —
    // linear by construction; a superlinear reading means the
    // occurrence join degenerated
    "q132_span_dedup"           -> 15.0,
    // its round-11 siblings: eval-overlap removal (same window
    // pass + broadcast probe) and the three-length mask union
    // (3x the linear pass — growth must still track the corpus)
    "q137_decontaminate"        -> 15.0,
    "q139_multi_span_dedup"     -> 15.0,
    // the all-lengths (suffix-array-semantics) pass: ONE window
    // explode + one keyed groupBy like q132 — linear by
    // construction; superlinear growth means the occurrence join
    // or the coverage union degenerated
    "q144_all_span_dedup"       -> 15.0,
    // the chunked formulation: same linear window pass through
    // chunk-local rows plus the reassembly aggregation — growth
    // must track q132's
    "q149_chunked_span_dedup"   -> 15.0,
    // the 68-feature trainer: featurization is artifact-built in
    // sample 1; the per-round aggregate carries 68 partial sums
    // over 10x rows and must amortize like q131's k=4
    "q138_quality_ngram_perceptron" -> 6.0,
    // the flagship end-to-end corpus build: every stage is an
    // amortizing family already gated above (LM model + decon window
    // set artifact-/broadcast-bounded, manifest joins keyed on
    // doc_id). r19: the one-task build tier serves at BOTH scales (the
    // guard admits the 10x documents table), so the cell moved from
    // the amortizing regime to single-task LINEAR work that tracks
    // data growth with no multi-core amortization — the same
    // reclassification q145/q148 got in r15 when their tiers landed;
    // only a superlinear shape should trip it
    "q143_corpus_build"         -> 15.0,
    // the incremental rebuild: at sf0.1 its machinery (delta diff,
    // hash-table canon recompute, reuse joins) costs more than the
    // toy-scale full rebuild it replaces — only the delta's text is
    // re-read at 10x. Round 15: the one-task tiers moved this cell
    // and q148 from the amortizing regime (stage-floor-dominated) to
    // LINEAR single-task work (hash+sign/decon/LM verify scale with
    // the corpus; q148 observed 5.2-8.1x and q145 3.0-5.2x at 10x
    // across runs as the fixed artifact-read floor amortizes) — the
    // standard linear-regime bound: only a superlinear shape trips it
    "q145_incremental_corpus"   -> 12.0,
    // the incremental MinHash index: delta-only re-signing +
    // maintained-index banding — the reused majority is an artifact
    // read (round-15 reclassification as for q145)
    "q148_incremental_minhash"  -> 12.0,
    // cohesion diagnostics over the served pair/cluster artifacts:
    // the 10x corpus is 10 disjoint shingle-spaces (per-copy word
    // suffixes), so pairs/triangles grow exactly linearly and the
    // degree-oriented wedge join must track them
    "q150_dup_cohesion"         -> 6.0,
    // systematic sampling: one range exchange over 10x rows plus
    // fixed broadcast machinery — linear, amortizing
    "q151_systematic_sample"    -> 6.0,
    // bipartite projection: the fan guard makes join output linear
    // in the incidence (≤ C(maxFan,2)/maxFan · rows), so the pair
    // count grows with the data and the cell sits in the linear
    // regime — a superlinear reading means the guard stopped
    // bounding the self-join
    "q152_copurchase_project"   -> 15.0,
    // incremental cluster maintenance: delta diff + affected-cluster
    // closure + recompute on the delta subgraph — at 10x the reused
    // majority is a manifest read, so growth must stay far below a
    // full re-cluster's
    "q153_incremental_clusters" -> 6.0,
    // DSIR scoring: one explode pass + two fixed-size broadcast
    // model joins + per-doc agg + salted top-N — linear in the
    // corpus by design; superlinear growth means a model join
    // stopped broadcasting or the top-N salt stopped spreading
    "q154_dsir_select"          -> 15.0,
    // incremental LM maintenance: delta-only bigram extraction +
    // one model-sized combine; the combine grows with the corpus's
    // distinct bigrams (linear in this synthetic corpus's copies), so
    // the cell sits in the linear regime, not the amortizing one
    "q155_incremental_lm"       -> 15.0,
    // CMS heavy hitters: the sketch build is one explode + a
    // combine into <=16384 cells — linear in the token stream by
    // construction; superlinear growth means the estimate join
    // stopped broadcasting
    "q157_cms_heavy_hitters"    -> 15.0,
    // stratified sampling: q151's machinery per key — one range
    // exchange + per-key agg join, fixed broadcast machinery
    "q158_stratified_systematic" -> 6.0,
    // incremental IVF: presence joins + delta-only assignment +
    // a FIXED standing query panel probing the maintained lists —
    // maintenance is delta-sized, serving is linear in list size
    // under the frozen k-centroid model (candidates/query ∝ N),
    // so the cell sits in the LINEAR regime; the round-13 gate
    // caught the earlier corpus-growing panel reading 6.3×
    // (quadratic drill shape, not an algorithm regression)
    "q159_incremental_ivf"      -> 15.0,
    // incremental DSIR models: delta-only feature extraction +
    // one fixed-size (≤4096-bucket) combine per model
    "q160_incremental_dsir"     -> 6.0,
    // weighted percentile: one range exchange + per-key agg join,
    // same amortizing machinery as q158
    "q161_weighted_median_len"  -> 6.0,
    // the suffix-artifact REBUILD policy cell (full live
    // construction on a fixed corpus slice): positions grow with
    // the data, round count is pinned by document length, but ~40
    // fixed-latency stages dominate the sf0.1 cell so amortization
    // pulls growth DOWN while data pushes it up — the linear-regime
    // bound catches a superlinear rank blowup
    "q162_suffix_rebuild"       -> 12.0,
    // deep-budget BPE (512 merges, one-task trainer tier):
    // artifact-serving cell plus the tiny check-row echo —
    // amortizing regime (the training runs ONCE at build, off the
    // timed path), must stay flat at 10x like q147
    "q163_bpe_train512"         -> 4.0,
    // production-depth BPE (8192 merges): same artifact-serving
    // shape; the capped unit table keeps trainer input fixed at
    // any corpus scale, so the cell must stay flat too
    "q169_bpe_train8k"          -> 4.0,
    // as-of join: one range exchange + partition-local windows +
    // a (#keys+#partitions)-row carry — linear regime (the ranged
    // union is 10x rows at 10x data); superlinear growth means the
    // carry frame or a per-key window went data-sized
    "q164_asof_join"            -> 12.0,
    // forward+tolerance flavor: same union+window machinery on
    // the error/view split — must track q164's linearity
    "q168_asof_forward_tolerance" -> 12.0,
    // BM25 retrieval: postings build + stats + query-join +
    // salted top-k — scan-bound linear in the token stream
    "q165_bm25_topk"            -> 15.0,
    // whole-query scoring over the same stored index: one
    // broadcast-probe pass + per-(query, doc) sum — must stay
    // index-serving-shaped like q165
    "q167_bm25_query_score"     -> 15.0,
    // incremental SemDeDup manifest: one-task tier over the
    // stored lists/manifest/points + frozen occupancy-16 model —
    // delta-sized assignment + affected-cluster dominance; the
    // single-task scan grows with the corpus (linear regime: the
    // occupancy-16 model keeps the dominance join linear by
    // construction)
    "q174_incremental_semdedup" -> 12.0,
    // tokenizer-vocab maintenance: hash pass + delta-only window
    // extraction + model-sized combine + top-2048 cap — the
    // q155 shape over 12-gram units, linear in the corpus
    "q173_vocab_maintain"       -> 15.0,
    // incremental BM25 index maintenance + serving: one-task tier
    // over (stored postings, stored hashes, new snapshot) — the
    // hash+re-tokenize work scales with the corpus like q148's
    // while the fixed artifact-read floor amortizes, so the
    // linear-regime bound catches only a superlinear shape
    "q171_incremental_bm25"     -> 12.0,
    // hybrid RRF: the q167 probe + the IVF-served semantic leg
    // (4 probes vs broadcast centroids + stored-list candidate
    // join, list-occupancy-bounded) + tiny-list fusion — linear
    // regime (candidates/query ∝ N under the frozen quantizer)
    "q170_hybrid_rrf"           -> 15.0,
    // interval lookback join: 2-bucket equi-join probes per left
    // row — linear in events; superlinear means the binning
    // degenerated into a per-key cross
    "q166_lookback_join"        -> 12.0,
    // chained LM maintenance: three hash-diff passes over the
    // corpus + delta-sized bigram legs + model-sized combines —
    // q155's linear regime, three-fold
    "q175_stream_lm_chain"      -> 15.0,
    // incremental span dedup: stored-index scans + delta-restricted
    // window aggregates — q148's linear regime (the index grows
    // with the corpus; the aggregates stay delta-keyed). The
    // one-task tier serves at BOTH scales (guard admits the 10x
    // artifacts), so the cell is single-task LINEAR work with no
    // multi-core amortization — measured 8.99x and 10.65x across
    // closing runs; the span family's bound applies, and only a
    // superlinear closure blowup should trip it
    "q176_incremental_span_dedup" -> 15.0,
    // IVF-PQ from maintained lists + codes: q117/q159's serving
    // regime (fixed panel, list-occupancy-bounded candidates)
    "q179_incremental_ivfpq"    -> 15.0,
    // maintained CMS cells + fixed probe panel: the hash-diff +
    // delta tokenization is linear in the corpus (q155's regime);
    // the sketch itself is cell-bounded at any scale
    "q180_incremental_cms"      -> 15.0,
    // chained CMS maintenance: three q180-shaped folds in one
    // plan — q175's linear regime at the sketch layer
    "q181_stream_cms_chain"     -> 15.0,
    // chained DSIR maintenance: three fused split combines —
    // q160's linear regime, three-fold
    "q182_stream_dsir_chain"    -> 15.0,
    // chained BM25-df / tokenizer-unit maintenance: three
    // AdditiveCounts folds over delta-restricted term/window legs
    // — q175's linear regime at the index-df and tokenizer layers
    "q183_stream_bm25df_chain"  -> 15.0,
    "q184_stream_bpe_units_chain" -> 15.0,
    "q122_audio_frames"         -> 15.0)

  /** A tiered cell forced onto its distributed chain (`maxLocalBytes = 0`). */
  private def forced(q: (SparkSession, String, Long) => DataFrame): Query = q(_, _, 0L)

  /** The forced-distributed timing lane: the one-task tiers serve the
    * registered cells at both measured scales, so the DISTRIBUTED
    * chains — the actual 100 TB shapes — were exercised only by
    * spec/plan pins at toy sizes. Each is timed once per run at both
    * scale factors. Observational (no gate): at serving scale these
    * chains are scheduler-latency-bound by design — that is why the
    * tiers exist — so the value is the recorded floor table and its
    * round-over-round drift, not a threshold. */
  private[graft] val DistCells: Seq[(String, Query)] = Seq(
    "q52_ann_ivf_topk" -> forced(Queries.q52AnnIvfTopk),
    "q103_trained_ivf_topk" -> forced(Queries.q103TrainedIvfTopk),
    "q116_pq_topk" -> forced(Queries.q116PqTopk),
    "q117_ivfpq_topk" -> forced(Queries.q117IvfpqTopk),
    "q143_corpus_build" -> forced(Queries.q143CorpusBuild),
    "q144_all_span_dedup" -> forced(Queries.q144AllSpanDedup),
    "q145_incremental_corpus" -> forced(Queries.q145IncrementalCorpusBuild),
    "q148_incremental_minhash" -> forced(Queries.q148IncrementalMinhash),
    "q170_hybrid_rrf" -> forced(Queries.q170HybridRrf),
    "q171_incremental_bm25" -> forced(Queries.q171IncrementalBm25),
    "q173_vocab_maintain" -> forced(Queries.q173VocabMaintain),
    "q174_incremental_semdedup" -> forced(Queries.q174IncrementalSemdedup),
    "q175_stream_lm_chain" -> forced(Queries.q175StreamLmChain),
    "q176_incremental_span_dedup" -> forced(Queries.q176IncrementalSpanDedup),
    "q179_incremental_ivfpq" -> forced(Queries.q179IncrementalIvfpq),
    "q180_incremental_cms" -> forced(Queries.q180IncrementalCms),
    "q181_stream_cms_chain" -> forced(Queries.q181StreamCmsChain),
    "q182_stream_dsir_chain" -> forced(Queries.q182StreamDsirChain),
    "q183_stream_bm25df_chain" -> forced(Queries.q183StreamBm25DfChain),
    "q184_stream_bpe_units_chain" -> forced(Queries.q184StreamBpeUnitsChain))

  /** Drill/iteration hook: a comma list in `key` restricts the cells run.
    * NEVER set on recorded runs — totals are only comparable full-sweep. */
  private def envFilter(key: String): String => Boolean =
    sys.env.get(key).map(_.split(',').map(_.trim).toSet)
      .map(s => (n: String) => s.contains(n))
      .getOrElse(_ => true)

  // Merge samples of one cell: the min time of the SUCCESSFUL samples
  // (an errored run aborts in ~0 s — taking its min would publish a
  // bogus time); err only if every sample errored.
  private def mergeSamples(ss: Seq[Sample]): Sample = {
    val ok = ss.filterNot(_._3)
    if (ok.nonEmpty) ok.minBy(_._1) else ss.minBy(_._1)
  }

  private def r3(x: Double): String = (math.rint(x * 1000) / 1000).toString
  private def jsonNames(ns: Seq[String]): String = ns.map("\"" + _ + "\"").mkString("[", ",", "]")
  private def canaryJson(canaries: Seq[Double]): String = {
    val cs = canaries.sorted
    if (cs.isEmpty) "{}"
    else s"""{"n":${cs.size},"median_sec":${cs(cs.size / 2)},"max_sec":${cs.last}}"""
  }

  // Every JSON line is ALSO persisted to a core-count-stamped file
  // (r19): the recorded stdout capture lost both rounds'
  // per-query tables to the sbt `[info]` prefix, and its 32-core
  // bench_cells.json was clobbered by the subsequent 8-core run. A
  // `_c<cpus>` stamp makes runs at different core counts land in
  // different files, so the main-config evidence survives the scaling
  // run; within one config, a round's runs are separated by commits.
  private def writeFile(path: String, text: String): Unit =
    try {
      val pw = new java.io.PrintWriter(path, "UTF-8")
      pw.println(text); pw.close()
    } catch { case e: Throwable => System.err.println(s"[bench] write $path: $e") }

  def main(args: Array[String]): Unit = {
    // Fail closed: a renamed cell must never silently drop out of the
    // 10x growth gate or the forced-distributed lane.
    val unregistered = (ScaleCells.map(_._1) ++ DistCells.map(_._1))
      .filterNot(SparkEntry.queries.contains)
    require(unregistered.isEmpty,
      s"Bench tables name unregistered queries: ${unregistered.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.build(8)
    import org.apache.spark.sql.functions.sum

    // Canary: fixed in-memory aggregate — no parquet, no cache interaction;
    // ~100 ms healthy. Threshold is generous (5x warmed median, floor 2 s)
    // so only genuine multi-second stalls flag.
    def canaryOnce(): Double = {
      val t0 = System.nanoTime()
      try {
        spark.range(0, 2000000, 1, 4).agg(sum("id"))
          .write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable => System.err.println(s"[bench] canary: $e") }
      (System.nanoTime() - t0) / 1e9
    }

    GraftSession.warmUp(spark, sfDir)
    canaryOnce(); canaryOnce() // canary's own JIT

    val canaries = scala.collection.mutable.ArrayBuffer.empty[Double]
    def canary(): Double = { val c = canaryOnce(); canaries += c; c }
    def canaryMedian: Double = {
      val s = canaries.toSeq.sorted; if (s.isEmpty) 0.1 else s(s.size / 2)
    }
    def stallThreshold: Double = math.max(2.0, canaryMedian * 5)

    // noop sink: fully executes the query (every projected column computed)
    // without count()'s column pruning, which would reduce map-shaped
    // queries to a bare scan benchmark. Returns (seconds, errored): a
    // Throwable is swallowed so the sweep continues, but the ERROR FLAG
    // rides the result — a crashing cell finishes in ~0 s and, flagless,
    // would publish growth ≈ 0 and silently PASS the 10x gate (the
    // round-13 q152 hole: the scale corpus lacked the table the query
    // reads, the read threw in 0.2 ms, and the gate counted it green).
    def timeOne(name: String, fn: Query): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); false }
        catch { case e: Throwable => System.err.println(s"[bench] $name: $e"); true }
      val dt = (System.nanoTime() - t0) / 1e9
      // drop frames persisted inside operators (LSH signature/shingle
      // caches) so later queries aren't taxed by earlier queries' memory
      spark.catalog.clearCache()
      (dt, err)
    }
    // One measurement = canary, query, canary: a stall overlapping the query
    // almost always overlaps a bracket too. A bracket past the threshold
    // is also NAMED on stderr (the r19 canary chase):
    // `canary_stalled` in the summary says a stall happened somewhere in
    // 800+ canaries; this line says next to WHICH cell, so the starving
    // job is findable without a re-run.
    def measure(name: String, fn: Query): Sample = {
      val before = canary()
      val (dt, err) = timeOne(name, fn)
      val after = canary()
      val flagged = math.max(before, after) > stallThreshold
      if (flagged) System.err.println(
        f"[bench] canary stall adjacent to $name (before=$before%.3f s, " +
          f"after=$after%.3f s, threshold=$stallThreshold%.3f s)")
      (dt, flagged, err)
    }

    val names = SparkEntry.queries.keys.toSeq.filter(envFilter("SPARK_GRAFT_ONLY")).sorted
    val pass1 = names.map { n => n -> measure(n, SparkEntry.queries(n)) }.toMap
    // Second full pass, reverse order: a stall window that covered
    // q40..q44 in pass 1 would, re-run forward, plausibly cover them
    // again; reversed, the slow tail runs first while the window (if any)
    // sits elsewhere.
    val pass2 = names.reverse.map { n => n -> measure(n, SparkEntry.queries(n)) }.toMap

    val merged: Map[String, Sample] = names.map { n =>
      n -> mergeSamples(Seq(pass1.get(n), pass2.get(n)).flatten)
    }.toMap
    // Third sample on two conditions (VERDICT r13 ask #7 — publish-side
    // flicker control): (a) both measurements canary-flagged and slow —
    // the original stall rule; (b) the two samples DISAGREE by more
    // than 2x on a cell big enough to matter (>0.4 s min) — this box's
    // documented 2-5x sub-second variance makes single-sample floor-
    // straddlers (q154/q159/q160/q161) oscillate across driver records;
    // one extra sample and min-of-3 keeps the published cell on the
    // quiet-box band without re-running the whole table.
    val finalResults: Map[String, Sample] = names.map { n =>
      val cur @ (t, _, _) = merged(n)
      val bothFlagged = pass2.contains(n) && pass1(n)._2 && pass2(n)._2
      val disagree = pass2.contains(n) && !pass1(n)._3 && !pass2(n)._3 &&
        math.max(pass1(n)._1, pass2(n)._1) >
          2.0 * math.min(pass1(n)._1, pass2(n)._1) && t > 0.4
      if ((t > 3.0 && bothFlagged) || disagree)
        n -> mergeSamples(Seq(cur, measure(n, SparkEntry.queries(n))))
      else n -> cur
    }.toMap

    // Baseline cells are sf0.1 measurements, so the ratios only mean
    // something when this run IS sf0.1 — matched on the trailing path
    // segment EXACTLY (a dir named sf0.15 or .../sf0.1-old must not be
    // compared against sf0.1 baselines and emit bogus weak entries).
    val isSf01 = sfDir.stripSuffix("/").split('/').last == "sf0.1"

    // Per-cell ratio vs the recorded DuckDB baseline: the weak-cell
    // determination (>1 s AND >2x baseline) used to be judge-side
    // arithmetic; emitting it per run makes drift visible — and
    // gateable — without a judge. Observational for now: no red exit
    // criteria attached.
    val baselines: Map[String, Double] =
      try {
        val f = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_BASELINE",
          "BASELINE_DUCKDB.json"))
        if (!f.exists && isSf01)
          // loud, not silent: an empty ratio set must never read as a
          // passing weak-cell check (the summary emits weak:null below)
          System.err.println(s"[bench] baseline file ${f.getAbsolutePath} " +
            "not found (run from the repo root or set SPARK_GRAFT_BASELINE) " +
            "— ratio_vs_baseline and the weak list will NOT be computed")
        if (!f.exists || !isSf01) Map.empty
        else {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val q = om.readTree(f).path("queries")
          import scala.jdk.CollectionConverters._
          q.fieldNames().asScala.map(n => n -> q.path(n).asDouble()).toMap
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] baseline load: $e"); Map.empty }

    // CONFIRM BEFORE FLAGGING WEAK — the same reproduce-before-red
    // protocol the sf1 growth gate uses, applied to the weak rule: both
    // round-11 weak entries (q106 64.9x, q129 5.5x) sat at the 1 s
    // boundary on a box with documented 2-5x sub-second variance, and a
    // single boundary sample must not publish a weak flag the README
    // then has to argue with. Any cell the min-of-2 protocol would flag
    // (>1 s AND >2x its baseline) is re-measured fresh min-of-3; the
    // published cell is the best sample seen (a stall never makes a
    // query faster), so only a cell that is REPRODUCIBLY past both
    // thresholds lands in `weak`.
    val weakCandidates = names.filter { n =>
      baselines.get(n).exists(b =>
        b > 0 && finalResults(n)._1 > 1.0 && finalResults(n)._1 / b > 2.0)
    }
    val results: Map[String, Sample] =
      finalResults ++ weakCandidates.map { n =>
        System.err.println(
          s"[bench] weak candidate $n (${finalResults(n)._1} s) — " +
            "re-measuring (min of 3) to confirm")
        n -> mergeSamples(
          finalResults(n) +: (1 to 3).map(_ => measure(n, SparkEntry.queries(n))))
      }

    val qs = names.map { k => s"\"" + k + "\":" + results(k)._1 }
      .mkString("{", ",", "}")
    val stalled = jsonNames(names.filter(results(_)._2))
    // Cells whose every sample threw: their published seconds measure an
    // abort, not the query — surfaced on both JSON lines so a reader (or
    // the driver) never mistakes them for fast cells.
    val erroredJson = jsonNames(names.filter(results(_)._3))
    val total = names.map(results(_)._1).sum

    val ratios: Seq[(String, Double)] = names.flatMap { n =>
      baselines.get(n).filter(_ > 0).map(b => n -> results(n)._1 / b) }
    val ratioJson = ratios
      .map { case (n, r) => "\"" + n + "\":" + r3(r) }.mkString("{", ",", "}")
    // weak is NULL (not []) when no baseline cells were compared — an
    // absent baseline file must be distinguishable from a clean pass;
    // serialization happens after the sf1 block (see weakAllJson).
    val weak = ratios.filter { case (n, r) => r > 2.0 && results(n)._1 > 1.0 }

    // The gate-relevant line prints BEFORE the sf1 block runs: a driver
    // timeout during the scale pass must never lose the headline number.
    val metricLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","canary":${canaryJson(canaries.toSeq)},"stalled":$stalled,"errors":$erroredJson,"ratio_vs_baseline":$ratioJson,"sf1":"see_sf1_line"}"""
    println(metricLine)
    writeFile(s"bench_metric_c$cpus.json", metricLine)
    System.out.flush()

    // The sf1 block retunes the session (shuffle partitions sized to
    // the 10x data, AQE re-pinned on); the weak rule's thresholds are
    // calibrated on the MAIN protocol's config, so the confirm loop
    // below restores BOTH knobs first (an SPARK_GRAFT_CONF AQE
    // experiment included).
    val mainShufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    val mainAqe = spark.conf.get("spark.sql.adaptive.enabled")
    // Off by default at non-sf0.1 dirs and switchable off via
    // SPARK_GRAFT_SF1=0. A scale cell that breaches its declared growth
    // bound turns the whole run red (rc 3) after all JSON lines have
    // printed — the harness, not a human reading the JSON, catches the
    // next quadratic.
    val (sf1Json, growthViolations, gateBases) =
      if (sys.env.getOrElse("SPARK_GRAFT_SF1", "1") == "0" || !isSf01)
        ("null", Nil, Map.empty[String, Sample])
      else scaleBlock(spark, sfDir, measure)

    // The driver archives only the last ~2000 chars of stdout. Round 8's
    // combined summary line proved the sf1 json alone can exceed that and
    // push the headline out of the capture window — so the sf1 evidence
    // gets its own line, and the LAST line is a tiny fixed-size summary
    // that always fits. Key names deliberately differ from the main
    // line's so no parser mistakes either for the per-query record.
    println(s"""{"sf1":$sf1Json}""")
    writeFile(s"bench_sf1_c$cpus.json", s"""{"sf1":$sf1Json}""")

    // Shared confirm for the gate-base/straddle/prewarm signals: fresh
    // min-of-3 under the main config, and — when that floor is about to
    // PUBLISH a weak flag — two more samples before it may (round 17:
    // the r17 interim closing run's confirms landed in a contention
    // window the 2 s-absolute stall floor ignores — canary brackets at
    // 1.0 s = 25x median read as clean — and three cells with
    // fresh-JVM floors of 0.5-1.0 s published weak at 1.3-1.6 s;
    // min-of-5-on-flag makes a false flag need FIVE inflated samples,
    // while a genuinely slow cell just reconfirms. The min is kept
    // either way — a stall never makes a query faster).
    def confirmWeakFloor(n: String): Option[Double] = {
      val first = (1 to 3).map(_ => measure(n, SparkEntry.queries(n)))
      val (c, cFlag, cErr) = mergeSamples(first)
      if (!WeakRule.isWeak(c, cFlag, cErr, baselines(n))) None
      else {
        System.err.println(
          s"[bench] $n min-of-3 floor $c s is over both thresholds — " +
            "buying 2 more samples before publishing")
        val (c5, f5, e5) =
          mergeSamples(first ++ (1 to 2).map(_ => measure(n, SparkEntry.queries(n))))
        if (WeakRule.isWeak(c5, f5, e5, baselines(n))) Some(c5) else None
      }
    }
    // Band override for drills: SPARK_GRAFT_STRADDLE="lo,hi" (e.g.
    // "0,99" widens it so a planted-baseline drill can prove the flag
    // fires on any cell — README's weak-protocol paragraph notes the
    // recipe).
    val (straddleLo, straddleHi) =
      sys.env.get("SPARK_GRAFT_STRADDLE").map(_.split(',')) match {
        case Some(Array(lo, hi)) => (lo.trim.toDouble, hi.trim.toDouble)
        case _ => (WeakRule.StraddleLo, WeakRule.StraddleHi)
      }
    def base(n: String): Double = baselines.getOrElse(n, 0.0)
    // The three confirmed signals, in publication order, each a list of
    // (cell, stderr reason). Every candidate is re-measured FRESH under
    // the main config and the weak rule applied to that floor — the
    // historical sample does NOT vote (it is exactly the lucky dip
    // under test). A cell an earlier signal already flagged is skipped.
    val signals: Seq[(String, Seq[(String, String)])] = Seq(
      // GATE BASE — the second signal (r14): the sf1 block's
      // min-of-3 sf0.1 base, immune to the best-sample lucky-dip blind
      // spot (the main table publishes the best of up to 5 samples, so
      // one sub-threshold dip permanently cleared q164/q165 in r14).
      // Gate bases are measured under the SCALE config (~4x per-stage
      // overhead on megabyte cells), so a candidate is CONFIRMED under
      // the restored main config before it may publish: a genuinely
      // slow cell confirms at either width, a config-sensitive small
      // cell like q59 clears. Stall-flagged or errored bases never flag.
      "gate_base" -> gateBases.toSeq.sortBy(_._1).collect {
        case (n, (b, bf, err)) if WeakRule.gateCandidate(b, bf, err, base(n)) =>
          n -> (s"gate-base weak candidate $n ($b s at scale config) — " +
            "confirming (min of 3) under the main config")
      },
      // STRADDLE BAND — the third signal (r15, the q153-profile
      // hole): a cell whose sf1-config base dips under 1 s but whose
      // MAIN-config floor sits above it clears both signals above (r15's
      // q153: standalone min-of-3 >=1.0 s in two sessions while both read
      // clean). Any baseline cell whose published best sample lands in
      // [0.8 s, 1.2 s] is confirmed whichever side of 1 s it landed on.
      "straddle" -> names.filter(n =>
        WeakRule.straddleCandidate(results(n)._1, base(n), straddleLo, straddleHi)).map(n =>
        n -> (s"straddle-band cell $n (best sample ${results(n)._1} s) — " +
          "confirming floor (fresh min of 3) under the main config")),
      // PRE-WARM BAND — the fourth signal (r16, the q179-profile
      // hole): ratio in (1.5x, 2x] AND sec > 1 s — an in-sweep best
      // sample that cleared the 2x line only because the sweep
      // pre-warmed its shared subtrees. See [[WeakRule.prewarmCandidate]].
      "prewarm" -> names.filter(n => WeakRule.prewarmCandidate(results(n)._1, base(n))).map(n =>
        n -> (s"pre-warm-band cell $n (best sample ${results(n)._1} s, " +
          s"ratio ${r3(results(n)._1 / baselines(n))}) — " +
          "confirming standalone floor (fresh min of 3) under the main config")))
    spark.conf.set("spark.sql.shuffle.partitions", mainShufflePartitions)
    spark.conf.set("spark.sql.adaptive.enabled", mainAqe)
    // Clean state for the confirms: no frame or garbage the sf1 block
    // left behind may tax them (ROADMAP carry-over 1).
    spark.catalog.clearCache()
    System.gc()
    val flagged = scala.collection.mutable.Set(weak.map(_._1): _*)
    val confirmedWeak = signals.flatMap { case (src, candidates) =>
      candidates.filterNot(c => flagged(c._1)).flatMap { case (n, why) =>
        System.err.println(s"[bench] $why")
        confirmWeakFloor(n).map { c =>
          flagged += n
          s"""{"q":"$n","sec":$c,"ratio":${r3(c / baselines(n))},"src":"$src"}"""
        }
      }
    }
    // null (not []) only when NO signal had baseline cells to compare —
    // an absent baseline file must be distinguishable from a clean pass,
    // but a gate-base finding must never be discarded just because the
    // main sweep's cells lacked baselines.
    val weakAllJson =
      if (ratios.isEmpty && confirmedWeak.isEmpty) "null"
      else (weak.map { case (n, r) =>
        s"""{"q":"$n","sec":${results(n)._1},"ratio":${r3(r)},"src":"main"}"""
      } ++ confirmedWeak).mkString("[", ",", "]")
    // Canary verdict (VERDICT r16 ask #4): a contended host run must be
    // LEGIBLE as such from the summary alone — r16's driver record read
    // 82.99 s against a quiet-box 58.20 s on the same tree, and the only
    // tell was canary max 4.62 s vs 0.061 s median buried in the canary
    // object. max > 20x median is far past this box's healthy jitter.
    // Recomputed over ALL canaries (the sf1 block + confirm passes ran
    // since the record line's snapshot) so the verdict covers the run —
    // and the summary's canary OBJECT is the same full-run set, so the
    // printed max is the one the verdict judged (the record line keeps
    // its main-pass snapshot).
    val csF = canaries.toSeq.sorted
    val canaryStalled = csF.nonEmpty && csF.last > 20 * csF(csF.size / 2)
    // Per-cell record file (VERDICT r16 ask #4): the full per-query line
    // above outlives the driver's stdout tail capture only sometimes, so
    // round-over-round per-cell regressions weren't diffable without a
    // re-run. One sorted line per cell, written into the repo (the
    // driver commits it with the round) — stable key order, 3-decimal
    // ratios, so a git diff shows exactly which cells moved. A stamped
    // twin beside the default (r19): the scaling run
    // (different SPARK_GRAFT_CPUS) overwrote the main config's per-cell
    // file in r19; `_c<cpus>` keeps both.
    val cellsPath = sys.env.getOrElse("SPARK_GRAFT_CELLS_OUT", "bench_cells.json")
    val cellsPaths =
      if (sys.env.contains("SPARK_GRAFT_CELLS_OUT")) Seq(cellsPath)
      else Seq(cellsPath, s"bench_cells_c$cpus.json")
    val cellLines = names.map { n =>
      val ratio = baselines.get(n).filter(_ > 0)
        .map(b => r3(results(n)._1 / b)).getOrElse("null")
      s"""{"q":"$n","sec":${r3(results(n)._1)},"ratio":$ratio}"""
    }
    cellsPaths.foreach(writeFile(_, cellLines.mkString("[\n", ",\n", "\n]")))
    val summaryLine = s"""{"total_sec":$total,"n":${names.size},"stalled":$stalled,"errors":$erroredJson,"canary":${canaryJson(csF)},"canary_stalled":$canaryStalled,"cells":"$cellsPath","baseline_cells":${ratios.size},"weak":$weakAllJson}"""
    writeFile(s"bench_summary_c$cpus.json", summaryLine)
    println(summaryLine)
    spark.stop()
    if (growthViolations.nonEmpty) {
      System.err.println(
        s"[bench] GROWTH BOUND VIOLATED at 10x data: ${growthViolations.mkString(", ")}")
      sys.exit(3)
    }
  }

  /** Scale evidence: the dedup/clustering family at 10x documents. Every
    * 100 TB argument in this repo is from plan shape; this block adds
    * MEASUREMENT: the same queries on a synthesized 10x corpus. Per-query
    * fixed cost (scheduling, codegen, persist barriers) dominates the
    * sf0.1 cells, so time should grow far less than 10x — the
    * amortization claim made with data. Returns the `sf1` JSON, the
    * cells that breached the growth gate, and each scale cell's sf0.1
    * gate base (min-of-3 under the scale config) for the weak rule. */
  private def scaleBlock(spark: SparkSession, sfDir: String,
                         measure: (String, Query) => Sample)
      : (String, Seq[String], Map[String, Sample]) = try {
    // AQE explicitly (re-)pinned ON for the scale pass regardless of
    // any SPARK_GRAFT_CONF experiment on the main table: at 10x data
    // the runtime machinery (skew-join split above all — the shingle
    // self-join is skew-prone) is what a production run relies on.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // Shuffle partitions sized to the DATA for the scale pass — the
    // operators deliberately leave their data exchanges advisory so
    // the session knob (not a pinned count) sets their width, which
    // is exactly how a production job scales; 8 initial partitions
    // are the small-cell tuning and would cap the 10x corpus at a
    // quarter of the cores (AQE coalesces, it never widens).
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toString)
    val sf1Dir = ScaleCorpus.ensure(spark, sfDir, copies = 10)
    // Heap hygiene between the full-query sweep and the scale cells:
    // carried-over garbage skews the first multi-second sf1 joins.
    spark.catalog.clearCache()
    System.gc()
    // Drill/iteration hook for the SCALE list; like SPARK_GRAFT_ONLY,
    // never set on recorded runs.
    val scaleFilter = envFilter("SPARK_GRAFT_SCALEQS")
    // Min-of-3 for BOTH sides of the ratio, measured back-to-back in
    // the SAME session config: round 9's q122 growth read 4.6x on one
    // run and 13x on another because the denominator came from the
    // main table (different shuffle-partition config, ~80 ms base,
    // min-of-2) — noise the growth division amplifies. Three samples
    // each way and a same-config base make the published factor
    // reproducible.
    def minOf3(n: String, dir: String): Sample =
      mergeSamples(
        (1 to 3).map(_ => measure(n, (sp, _) => SparkEntry.queries(n)(sp, dir))))
    // Override for drills: SPARK_GRAFT_GROWTH_BOUND replaces ALL
    // bounds (e.g. =0.1 forces a red run to prove the gate fires).
    val boundFor: String => Double =
      sys.env.get("SPARK_GRAFT_GROWTH_BOUND").map(_.toDouble) match {
        case Some(o) => _ => o
        case None    => ScaleCells.toMap
      }
    // Noise guard: a bound verdict needs a base the clock can resolve;
    // cells faster than this at sf0.1 get measured + published but
    // never gate (their growth factor divides by scheduler jitter).
    val minGateBase = 0.05
    val firstPass = ScaleCells.map(_._1).filter(scaleFilter).map { n =>
      val (base, bFlag, bErr) = minOf3(n, sfDir)
      val (t, tFlag, tErr) = minOf3(n, sf1Dir)
      (n, base, bFlag, t, tFlag, bErr || tErr)
    }
    // ABSOLUTE sf1 wall-time caps backing the widest ratio bands
    // (ADVICE r19): q143's band moved 6 -> 15 when its one-task tier
    // reclassified the cell as single-task LINEAR work, so a 7-14x
    // superlinear regression would now pass the ratio gate. The
    // recorded 10x floor is 2.8 s (r19, reconfirmed by the r20
    // forced-tier lane below); 8 s ≈ 3x that floor tolerates box
    // noise (the confirm-before-red re-measure absorbs transients)
    // while a genuinely superlinear build (>20 s at 10x) goes red.
    val absoluteCaps: Map[String, Double] = Map(
      "q143_corpus_build" -> 8.0)
    def breaches(n: String, base: Double, bFlag: Boolean,
                 t: Double, tFlag: Boolean): Boolean =
      !bFlag && !tFlag &&
        ((base >= minGateBase && t / base > boundFor(n)) ||
          absoluteCaps.get(n).exists(t > _))
    // UNMEASURED = RED: a cell whose samples all THREW on either side,
    // or whose sf1 time is below the clock floor while its base is
    // measurable (a real query on 10x data is never faster than the
    // resolvable sf0.1 floor — a near-zero sf1 reading means the cell
    // aborted without throwing). The round-13 hole was exactly this:
    // q152's sf1 table was missing, the read threw in 0.2 ms, and
    // growth ≈ 0 sailed under every bound. The gate's whole value is
    // that it cannot be passed silently — an unmeasured cell fails it.
    def unmeasured(base: Double, t: Double, err: Boolean): Boolean =
      err || (base >= minGateBase && t < minGateBase)
    // CONFIRM BEFORE RED: wall-clock cells this small carry 2-5x
    // run-to-run variance under unseen box load (observed across
    // consecutive calibration runs — one run's q20 base read 0.28 s
    // against 0.06 s on the runs beside it, same code). A transient
    // almost never survives a fresh min-of-3 re-measure of both
    // sides; a structural superlinearity always does. Only a
    // REPRODUCED breach goes red; the published cell is the better
    // (second) measurement so the JSON reflects what was gated on.
    val measured = firstPass.map {
      case (n, base, bFlag, t, tFlag, err)
          if breaches(n, base, bFlag, t, tFlag) || unmeasured(base, t, err) =>
        System.err.println(
          s"[bench] growth gate suspect on $n " +
            s"(${if (unmeasured(base, t, err)) "unmeasured" else s"${t / base}x"}) " +
            "— re-measuring to confirm")
        System.gc()
        val (b2, bf2, be2) = minOf3(n, sfDir)
        val (t2, tf2, te2) = minOf3(n, sf1Dir)
        (n, b2, bf2, t2, tf2, be2 || te2)
      case c => c
    }
    val violations = measured.collect {
      case (n, base, bFlag, t, tFlag, err)
          if breaches(n, base, bFlag, t, tFlag) || unmeasured(base, t, err) => n
    }
    val cells = measured.map { case (n, base, bFlag, t, tFlag, err) =>
      // A missing/zero base would interpolate NaN/Infinity — not valid
      // JSON; emit null so a reader sees "no growth factor" instead of
      // a JSON parser rejecting the whole line. An errored
      // cell's growth is null too: its seconds measure an abort.
      val baseJson = if (base.isNaN || base <= 0.0) "null" else base.toString
      val growthJson =
        if (base.isNaN || base <= 0.0 || err) "null" else (t / base).toString
      s""""$n":{"sec":$t,"sf01_sec":$baseJson,"growth_x":$growthJson,"bound_x":${boundFor(n)},"stall_suspect":${bFlag || tFlag},"err":$err}"""
    }
    val gateBases = measured.map { case (n, base, bFlag, _, _, err) =>
      n -> (base, bFlag, err)
    }.toMap
    // ---- IO evidence for the incremental family (r13):
    // maintenance vs full-rebuild task metrics at BOTH scales.
    // The claim under measurement is stage volume — maintenance
    // shuffles delta-sized data where the rebuild shuffles the
    // corpus — so `shuffle_ratio` (maint/rebuild, ~delta fraction)
    // is the headline; scan-side bytes/records ride along (see
    // IoEvidence's scaladoc for why the scan ratio is ~1 in this
    // harness). Artifacts are already built by the growth cells
    // above, so these runs measure serving+maintenance, not setup.
    val ioCells =
      if (sys.env.getOrElse("SPARK_GRAFT_IO", "1") == "0") Nil
      else {
        def fmtPair(maint: Query, rebuild: Query, dir: String): String = {
          // Warm the maintenance side UNTIMED first (the spec's
          // protocol): the model family's measured halves read the
          // stored delta artifact, which no growth cell builds —
          // on a fresh corpus tag its one-time build (full
          // re-hash + diff + parquet write) would otherwise land
          // inside the metered window and inflate the published
          // ratios on exactly the first recorded run.
          try {
            maint(spark, dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
          } catch { case e: Throwable =>
            System.err.println(s"[bench] io warm: $e") }
          val m = IoEvidence.measure(spark, maint(spark, dir))
          val r = IoEvidence.measure(spark, rebuild(spark, dir))
          val ratio =
            if (r.shuffleWrite > 0) r3(m.shuffleWrite.toDouble / r.shuffleWrite)
            else "null"
          val cpuRatio =
            if (r.cpuNs > 0) r3(m.cpuNs.toDouble / r.cpuNs) else "null"
          s"""{"maint":${m.json},"rebuild":${r.json},""" +
            s""""shuffle_ratio":$ratio,"cpu_ratio":$cpuRatio}"""
        }
        Seq[(String, Query, Query)](
          // All six theorems measured (r14). Two
          // regimes, two headline ratios:
          //  - EXCHANGE-BOUND family (q148/q153): the rebuild
          //    shuffles corpus-sized data (shingle signing, CC
          //    rounds), so `shuffle_ratio` carries the claim.
          //    Measured on the index/maintenance halves where
          //    serving is shared and corpus-sized. (q159 left this
          //    family in r18: the fold assignment removed the
          //    corpus exchange from BOTH sides, so its
          //    shuffle_ratio reads ~1 over the shared k-row
          //    centroid-fold constant — IncrementalIoSpec pins
          //    that neither side shuffles the corpus.)
          //  - MAP-SIDE-COMBINED MODEL family (q145/q155/q160): the
          //    rebuild's shuffle is MODEL-sized by construction
          //    (4096-bucket / bigram-vocab partial aggregation), so
          //    maintenance — which must shuffle at least one stored
          //    model — can never win on exchange bytes; the claim
          //    lives in `cpu_ratio` (delta-only tokenization/
          //    featurization vs a full-corpus re-featurize).
          //    Measured from the STORED delta artifact (deployment
          //    handoff shape — see Queries.servedSnapshotDelta).
          ("q145_incremental_corpus",
            Queries.q145MaintainedManifest _, Queries.q145FullRebuild _),
          ("q148_incremental_minhash",
            Queries.q148MaintainedIndex _, Queries.q148FullIndex _),
          ("q153_incremental_clusters",
            Queries.q153IncrementalClusters _, Queries.q153FullRecompute _),
          ("q155_incremental_lm",
            Queries.q155MaintainedModel _, Queries.q155FullRetrain _),
          ("q159_incremental_ivf",
            Queries.q159MaintainedLists _, Queries.q159FullAssign _),
          // q171 joins the EXCHANGE-BOUND family (measured 0.137 at
          // sf0.01): the rebuild shuffles index-sized combined
          // postings partials; the maintenance broadcasts the
          // delta-sized id sets into the stored-postings scan and
          // shuffles only the delta's fresh postings. cpu_ratio
          // (delta-only tokenization, ~0.78) rides along.
          ("q171_incremental_bm25",
            Queries.q171MaintainedPostings _, Queries.q171FullPostings _),
          ("q160_incremental_dsir",
            Queries.q160MaintainedModels _, Queries.q160FullRetrain _),
          // q174 mirrors q153's regime: the registered cell's
          // one-task tier moves nothing through an exchange
          // (shuffle_ratio ~0) while the full recompute pays the
          // corpus-sized assignment + dominance exchanges.
          ("q174_incremental_semdedup",
            Queries.q174IncrementalSemdedup(_, _), Queries.q174FullRecompute _),
          // q176 joins the EXCHANGE-BOUND family: the rebuild
          // shuffles corpus-sized window rows (occ groupBy + per-doc
          // start collection) where the maintenance broadcasts
          // delta-sized id/key sets into the stored-index scan and
          // shuffles only delta-adjacent keys' occurrences.
          ("q176_incremental_span_dedup",
            Queries.q176IncrementalSpanDedup(_, _), Queries.q176FullRecompute _),
          // q179's code-table halves (q159's regime, incl. its r18
          // shift): the rebuild re-computes the per-(id, subspace)
          // argmin over the whole snapshot — since r18 as an
          // in-place fold, no N×M exchange — while the maintenance's
          // reuse leg is one stored-table semi-join and only ADDED
          // ids pay the argmin; shuffle_ratio reads ~constant-over-
          // constant, the compute claim lives in cpu_ratio.
          ("q179_incremental_ivfpq",
            Queries.q179MaintainedCodes _, Queries.q179FullEncode _),
          // q180 sits in the MODEL family (q155/q160's regime): both
          // sides' shuffles are cell-bounded (≤ Depth·4096 rows) by
          // the sketch's construction, so the claim lives in
          // cpu_ratio — delta-only tokenization + hashing vs the
          // full-corpus re-sketch.
          ("q180_incremental_cms",
            Queries.q180IncrementalCms(_, _), Queries.q180FullRecompute _))
          .filter(p => scaleFilter(p._1))
          .map { case (n, m, r) =>
            try s""""$n":{"sf01":${fmtPair(m, r, sfDir)},"sf1":${fmtPair(m, r, sf1Dir)}}"""
            catch { case e: Throwable =>
              System.err.println(s"[bench] io evidence $n: $e")
              s""""$n":null""" }
          }
      }
    // Forced-distributed lane (see [[DistCells]]); skippable for drills
    // via SPARK_GRAFT_DIST=0.
    val distCells =
      if (sys.env.getOrElse("SPARK_GRAFT_DIST", "1") == "0") Nil
      else DistCells.filter(p => scaleFilter(p._1)).map { case (n, fn) =>
        val (b, bFlag, bErr) = measure(s"dist:$n", (sp, _) => fn(sp, sfDir))
        val (t, tFlag, tErr) = measure(s"dist:$n", (sp, _) => fn(sp, sf1Dir))
        s""""$n":{"sf01_sec":$b,"sec":$t,""" +
          s""""stall_suspect":${bFlag || tFlag},"err":${bErr || tErr}}"""
      }
    (s"""{"copies":10,"dir":"$sf1Dir",""" +
      s""""growth_violations":${jsonNames(violations)},""" +
      s""""io":${ioCells.mkString("{", ",", "}")},""" +
      s""""dist":${distCells.mkString("{", ",", "}")},""" +
      s""""queries":${cells.mkString("{", ",", "}")}}""",
      violations, gateBases)
  } catch {
    case e: Throwable =>
      System.err.println(s"[bench] sf1 block skipped: $e")
      ("null", Nil, Map.empty)
  }
}

/** Synthesizes the 10x-documents scale corpus the `sf1` bench block runs
  * on. Each copy k re-skins the source corpus by suffixing every word
  * with `_k` (embeddings: a per-copy affine nudge), so intra-copy
  * duplicate/near-dup structure is preserved exactly while cross-copy
  * shingles never collide — pair counts scale LINEARLY with the copy
  * count, the way a real corpus grows, instead of quadratically the way
  * naive replication would. `lineitem` rides along for the graph-family
  * cells (q152 reads order→part incidence): copy k salts BOTH
  * `l_orderkey` and `l_partkey` by k·idStep, so every copy preserves
  * the per-order fan distribution exactly (the fan-guard theorem is
  * exercised at 10x incidence) while cross-copy orders/parts never
  * collide — incidence and co-occurrence pairs grow linearly.
  * Built once per scratch dir via [[Tables.writePathIfAbsent]]. */
object ScaleCorpus {
  def ensure(spark: SparkSession, srcDir: String, copies: Int): String = {
    import org.apache.spark.sql.functions._
    // Path salted with the SOURCE corpus identity (size+mtime, the
    // Tables.corpusTag contract): regenerated testdata must rebuild the
    // scale corpus, not benchmark a stale copy and publish bogus growth.
    // _v4: lineitem added round 14 (the q152 gate measured nothing
    // against _v3 dirs, which held only documents+embeddings);
    // _v5: events added for the as-of-join cell (q164) — copy k salts
    // event_id AND user_id, preserving each user's event-per-user
    // timeline shape while cross-copy users never collide.
    val out = s"${Tables.scratchDir(spark)}/scale10x_v5/" +
      s"${Tables.corpusTag(spark, srcDir, "documents")}__" +
      s"${Tables.corpusTag(spark, srcDir, "embeddings")}__" +
      s"${Tables.corpusTag(spark, srcDir, "lineitem")}__" +
      Tables.corpusTag(spark, srcDir, "events")
    val idStep = 10L * 1000 * 1000
    Tables.writePathIfAbsent(spark, s"$out/documents.parquet") {
      val src = spark.read.parquet(s"$srcDir/documents.parquet")
      (0 until copies).map { k =>
        if (k == 0) src
        else src.select(
          (col("doc_id") + lit(k * idStep)).as("doc_id"),
          concat_ws(" ", transform(split(col("text"), " "),
            w => concat(w, lit(s"_$k")))).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_.unionByName(_))
        .repartition(8)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }
    Tables.writePathIfAbsent(spark, s"$out/embeddings.parquet") {
      val src = spark.read.parquet(s"$srcDir/embeddings.parquet")
      (0 until copies).map { k =>
        if (k == 0) src
        else {
          // Circular component rotation: preserves every norm and the
          // pairwise-distance DISTRIBUTION within a copy, while pointing
          // cross-copy vectors in genuinely different directions — an
          // affine nudge would drift all copies toward one corner and
          // overfill a few IVF buckets (superlinear candidate growth
          // that says nothing about real corpus scaling).
          val d = size(col("embedding"))
          val r = lit(k) % d
          src.select(
            (col("vec_id") + lit(k * idStep)).as("vec_id"),
            concat(slice(col("embedding"), r + 1, d - r),
              slice(col("embedding"), lit(1), r)).as("embedding"),
            col("label"))
        }
      }.reduce(_.unionByName(_))
        .repartition(8)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }
    Tables.writePathIfAbsent(spark, s"$out/events.parquet") {
      val src = spark.read.parquet(s"$srcDir/events.parquet")
      (0 until copies).map { k =>
        if (k == 0) src
        else src
          .withColumn("event_id", col("event_id") + lit(k * idStep))
          .withColumn("user_id", col("user_id") + lit(k * idStep))
      }.reduce(_.unionByName(_))
        .repartition(8)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }
    Tables.writePathIfAbsent(spark, s"$out/lineitem.parquet") {
      val src = spark.read.parquet(s"$srcDir/lineitem.parquet")
      (0 until copies).map { k =>
        if (k == 0) src
        else src
          .withColumn("l_orderkey", col("l_orderkey") + lit(k * idStep))
          .withColumn("l_partkey", col("l_partkey") + lit(k * idStep))
      }.reduce(_.unionByName(_))
        .repartition(8)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    }
    out
  }
}
