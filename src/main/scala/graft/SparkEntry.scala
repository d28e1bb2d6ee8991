package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query cell: the `name -> build` pair [[SparkEntry.queries]]
  * serves, plus every per-cell fact a main reads. A fact a cell does not
  * have is `None`/`false`.
  *
  * @param bound the 10× growth bound of [[Bench]]'s scale block — the
  *   REGRESSION GATE: any breach turns the run red (rc 3) after all JSON
  *   lines print. Two regimes, calibrated over consecutive full runs
  *   (which showed up to 2x run-to-run variance on multi-second sf1 join
  *   cells from shared-box/JVM state — the gate must catch STRUCTURE, not
  *   noise): fixed-cost-amortizing plans (dedup, clustering, BPE,
  *   curation — scheduling/codegen/model costs dominate their sf0.1
  *   cells; observed 0.9-3.0x) get tight 4-6x bounds, while plans whose
  *   work is LINEAR in the corpus by design (scan-bound codecs/text, the
  *   DF-capped shingle join whose pair count grows with copies; observed
  *   4-9x) get bounds just above the data growth (12-15x) so only a
  *   superlinear shape — an uncapped shingle join reads >>15x — trips
  *   them. Calibration anchor for the tight regime: the retired
  *   seed-stride IVF read 5.4x (and climbing with corpus size) where the
  *   fixed formulation reads 1.5-3.0x — q59's bound of 5 turns exactly
  *   that regression red. The block runs these cells in table order.
  * @param capSec an ABSOLUTE 10× wall-time cap (seconds) backing the
  *   widest ratio bands: a breach is red like a bound breach.
  * @param forced the tiered build forced onto its distributed chain
  *   (`maxLocalBytes = 0`), timed once per run at both scale factors by
  *   Bench's dist lane: the one-task tiers serve the registered cells at
  *   both measured scales, so the DISTRIBUTED chains — the actual 100 TB
  *   shapes — were exercised only by spec/plan pins at toy sizes.
  *   Observational (no gate): at serving scale these chains are
  *   scheduler-latency-bound by design — that is why the tiers exist —
  *   so the value is the recorded floor table and its round-over-round
  *   drift, not a threshold.
  * @param io the (maintenance, full rebuild) pair whose task metrics
  *   Bench's IO block records at both scales. Two regimes, two headline
  *   ratios:
  *    - EXCHANGE-BOUND family (q148/q153): the rebuild shuffles
  *      corpus-sized data (shingle signing, CC rounds), so
  *      `shuffle_ratio` carries the claim. Measured on the
  *      index/maintenance halves where serving is shared and
  *      corpus-sized. (q159 left this family in r18: the fold
  *      assignment removed the corpus exchange from BOTH sides, so its
  *      shuffle_ratio reads ~1 over the shared k-row centroid-fold
  *      constant — IncrementalIoSpec pins that neither side shuffles
  *      the corpus.)
  *    - MAP-SIDE-COMBINED MODEL family (q145/q155/q160): the rebuild's
  *      shuffle is MODEL-sized by construction (4096-bucket /
  *      bigram-vocab partial aggregation), so maintenance — which must
  *      shuffle at least one stored model — can never win on exchange
  *      bytes; the claim lives in `cpu_ratio` (delta-only
  *      tokenization/featurization vs a full-corpus re-featurize).
  *      Measured from the STORED delta artifact (deployment handoff
  *      shape — see Queries.servedSnapshotDelta).
  * @param scaleChecked [[VerifyScale]] hash-checks the cell at the 10×
  *   corpus. The incremental/maintenance cells whose batch≡incremental
  *   oracles are worth re-proving at 10× density (r17 named the first
  *   twelve; the q181–q184 chains share the same machinery), plus
  *   — since the round-18 narrow-assignment reshape — the ANN family
  *   whose physical paths changed wholesale (fold argmin, bounded
  *   in-task ranking, carried vectors, no pair distinct): tie-break and
  *   cap arithmetic are exactly the kind of logic whose bugs are
  *   density-dependent (more centroids at 10× ⇒ more near-ties, a
  *   frac-path cap that rounds differently, a slice bound that clips a
  *   rank the filter wanted), so each reshaped cell's full-replay oracle
  *   is re-proved at the 10× corpus too. The r19 extension adds the remaining density-sensitive families, previously
  *   only growth-TIMED at 10×: span dedup (the family whose L=4 closure
  *   phenomenon motivated this gate; ExactSpans tokenizes by whitespace,
  *   no alpha filter, so the salted copies DO grow the qualifying-window
  *   population linearly and the 10× regime is a real density change);
  *   retrieval (stored-index serving over the 10× postings — df, N,
  *   avgdl and the candidate sets all shift with density); sketches (CMS
  *   width is fixed by construction, so 10× the vocabulary is 10× the
  *   collision pressure per cell); banded near-dup (bucket occupancy and
  *   band-collision counts are the density-dependent arithmetic).
  *   COVERAGE CAVEAT (r18): [[ScaleCorpus]] salts copied
  *   words with a `_k` suffix, which the all-lowercase 12-gram window
  *   filter rejects — so for the window-unit cells (q173, q184) this gate
  *   re-proves the maintenance arithmetic over 10× the DOCUMENTS, but the
  *   qualifying-window population (and hence window DENSITY) is unchanged
  *   from 1×. The density-dependent closure class is still covered for
  *   the span family by q176, whose window keys tokenize without the
  *   alpha filter and do grow here (its 10× oracle is a minutes-long
  *   recompute); a q173-family density regime would need salted words
  *   that stay all-lowercase — noted rather than silently claimed.
  * @param sidecar the cell's oracle inlines a sidecar its build writes at
  *   a fixed path (any invocation — a spec run at sf0.001 included —
  *   overwrites it), so the oracle dump rebuilds the cell right before it
  *   reads [[SparkEntry.oracleSql]]. */
final case class Cell(
    entry: (String, SparkEntry.Query),
    bound: Option[Double] = None,
    capSec: Option[Double] = None,
    forced: Option[SparkEntry.Query] = None,
    io: Option[(SparkEntry.Query, SparkEntry.Query)] = None,
    scaleChecked: Boolean = false,
    sidecar: Boolean = false) {
  def name: String = entry._1
  def build: SparkEntry.Query = entry._2
}

/** The entry-point contract — see SURVEY.md §7.
  *
  * `queries` maps operator-inventory keys (SURVEY §2 / §7.4) to Spark
  * implementations; `oracleSql` carries the mirrored DuckDB SQL the driver
  * hash-compares against at sf0.01. Keys without oracle SQL get the weaker
  * rows-only check (non-SQL-expressible ops, e.g. hash-dependent sketches).
  * `queries` is a view of [[cells]], the one table of per-cell facts.
  */
object SparkEntry {
  type Query = (SparkSession, String) => DataFrame

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q17OpportunityScore(spark, "/root/testdata/sf0.001")

  def queries: Map[String, Query] = cells.map(_.entry).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. A `def`:
    * the q163/q169 entries read their sidecars at each access. */
  def oracleSql: Map[String, String] = Oracles.parity

  /** One row per implemented operator from SURVEY.md §2. A tiered cell's
    * build keeps its method's own default cap; its `forced` build passes
    * `0L`. */
  val cells: Seq[Cell] = Seq(
    Cell("q01_scan_filter_project" -> (Queries.q01ScanFilterProject(_, _))),
    Cell("q02_sentinel_cleaning" -> (Queries.q02SentinelCleaning(_, _))),
    Cell("q03_null_in_list_recode" -> (Queries.q03NullInListRecode(_, _))),
    Cell("q04_ilike_any_categorize" -> (Queries.q04IlikeAnyCategorize(_, _))),
    Cell("q05_duration_parse" -> (Queries.q05DurationParse(_, _))),
    Cell("q06_mapping_join_coalesce" -> (Queries.q06MappingJoinCoalesce(_, _))),
    Cell("q07_date_dim" -> (Queries.q07DateDim(_, _))),
    Cell("q08_surrogate_dim" -> (Queries.q08SurrogateDim(_, _))),
    Cell("q09_bridge_join" -> (Queries.q09BridgeJoin(_, _))),
    Cell("q10_fact_star_join" -> (Queries.q10FactStarJoin(_, _))),
    Cell("q11_conditional_agg" -> (Queries.q11ConditionalAgg(_, _))),
    Cell("q12_min_case_priority" -> (Queries.q12MinCasePriority(_, _))),
    Cell("q13_count_distinct" -> (Queries.q13CountDistinct(_, _))),
    Cell("q14_percentile_cap" -> (Queries.q14PercentileCap(_, _))),
    Cell("q15_having_dup_audit" -> (Queries.q15HavingDupAudit(_, _))),
    Cell("q16_topk" -> (Queries.q16TopK(_, _))),
    Cell("q17_opportunity_score" -> (Queries.q17OpportunityScore(_, _))),
    // LLM-data-pipeline extension (every cell oracle-hash-checked since
    // r12: q19/q22/q25 run portable seeded-md5 sketch flavors a second
    // engine replays bit-for-bit; the xxhash64 flavors remain the
    // declared scale tier behind the q83 recall gates)
    Cell("q18_exact_dedup" -> (Queries.q18ExactDedup(_, _)), bound = Some(5.0)),
    Cell("q19_minhash_neardup" -> (Queries.q19MinhashNeardup(_, _)), scaleChecked = true),
    Cell("q20_text_stats" -> (Queries.q20TextStats(_, _)), bound = Some(15.0)),
    Cell("q21_ngram_jaccard" -> (Queries.q21NgramJaccard(_, _)), bound = Some(15.0),
      forced = Some(Queries.q21NgramJaccard(_, _, 0L)), scaleChecked = true),
    Cell("q22_simhash_neardup" -> (Queries.q22SimhashNeardup(_, _)), scaleChecked = true),
    Cell("q23_lang_id" -> (Queries.q23LangId(_, _))),
    Cell("q24_ann_cosine_topk" -> (Queries.q24AnnCosineTopk(_, _))),
    Cell("q25_ann_lsh_topk" -> (Queries.q25AnnLshTopk(_, _))),
    Cell("q26_doc_fingerprint" -> (Queries.q26DocFingerprint(_, _))),
    Cell("q27_csv_roundtrip" -> (Queries.q27CsvRoundtrip(_, _))),
    Cell("q28_star_pipeline" -> (Queries.q28StarPipeline(_, _))),
    Cell("q29_string_clean" -> (Queries.q29StringClean(_, _))),
    Cell("q30_impute_cap" -> (Queries.q30ImputeCap(_, _))),
    Cell("q31_minmax_avg" -> (Queries.q31MinMaxAvg(_, _))),
    Cell("q32_dup_audit_window" -> (Queries.q32DupAuditWindow(_, _))),
    Cell("q33_dense_key_scale" -> (Queries.q33DenseKeyScale(_, _))),
    // Streaming + multimodal extension
    Cell("q34_event_window_agg" -> (Queries.q34EventWindowAgg(_, _))),
    Cell("q35_sessionize" -> (Queries.q35Sessionize(_, _))),
    Cell("q36_multimodal" -> (Queries.q36Multimodal(_, _))),
    Cell("q37_percentile_continuous" -> (Queries.q37PercentileContinuous(_, _))),
    Cell("q38_categorize_full" -> (Queries.q38CategorizeFull(_, _))),
    Cell("q39_quality_filter" -> (Queries.q39QualityFilter(_, _))),
    Cell("q40_neardup_clusters" -> (Queries.q40NeardupClusters(_, _)), bound = Some(4.0)),
    Cell("q41_embedding_neardup" -> (Queries.q41EmbeddingNeardup(_, _))),
    Cell("q42_region_rollup" -> (Queries.q42RegionRollup(_, _))),
    Cell("q43_json_extract" -> (Queries.q43JsonExtract(_, _))),
    Cell("q44_full_width_silver" -> (Queries.q44FullWidthSilver(_, _))),
    Cell("q45_dim_dates_append" -> (Queries.q45DimDatesAppend(_, _))),
    Cell("q46_bucketed_join" -> (Queries.q46BucketedJoin(_, _))),
    Cell("q47_salted_join" -> (Queries.q47SaltedJoin(_, _))),
    Cell("q48_vocab_topk" -> (Queries.q48VocabTopk(_, _))),
    Cell("q49_pii_redact" -> (Queries.q49PiiRedact(_, _))),
    Cell("q50_hash_split" -> (Queries.q50HashSplit(_, _))),
    Cell("q51_jsonl_roundtrip" -> (Queries.q51JsonlRoundtrip(_, _))),
    Cell("q52_ann_ivf_topk" -> (Queries.q52AnnIvfTopk(_, _)),
      forced = Some(Queries.q52AnnIvfTopk(_, _, 0L)), scaleChecked = true),
    Cell("q53_rollup_revenue" -> (Queries.q53RollupRevenue(_, _))),
    Cell("q54_moving_window" -> (Queries.q54MovingWindow(_, _))),
    Cell("q55_set_ops" -> (Queries.q55SetOps(_, _))),
    Cell("q56_semi_anti" -> (Queries.q56SemiAnti(_, _))),
    Cell("q57_pivot_revenue" -> (Queries.q57PivotRevenue(_, _))),
    Cell("q58_orc_roundtrip" -> (Queries.q58OrcRoundtrip(_, _))),
    Cell("q59_embedding_neardup_ivf" -> (Queries.q59EmbeddingNeardupIvf(_, _)), bound = Some(5.0),
      scaleChecked = true),
    Cell("q60_asof_join" -> (Queries.q60AsofJoin(_, _))),
    Cell("q61_range_join" -> (Queries.q61RangeJoin(_, _))),
    Cell("q62_contamination_check" -> (Queries.q62ContaminationCheck(_, _))),
    Cell("q63_cube_revenue" -> (Queries.q63CubeRevenue(_, _))),
    Cell("q64_rank_functions" -> (Queries.q64RankFunctions(_, _))),
    Cell("q65_stream_join_batch" -> (Queries.q65StreamJoinBatch(_, _))),
    Cell("q66_unpivot" -> (Queries.q66Unpivot(_, _))),
    Cell("q67_tfidf_topterms" -> (Queries.q67TfidfTopterms(_, _))),
    Cell("q68_stratified_sample" -> (Queries.q68StratifiedSample(_, _))),
    Cell("q69_chunk_dedup" -> (Queries.q69ChunkDedup(_, _))),
    Cell("q70_desc_stats" -> (Queries.q70DescStats(_, _))),
    Cell("q71_grouping_sets" -> (Queries.q71GroupingSets(_, _))),
    Cell("q72_inverted_index" -> (Queries.q72InvertedIndex(_, _))),
    Cell("q73_histogram" -> (Queries.q73Histogram(_, _))),
    Cell("q74_ntile_quartiles" -> (Queries.q74NtileQuartiles(_, _))),
    Cell("q75_scd2_upsert" -> (Queries.q75Scd2Upsert(_, _))),
    Cell("q76_dedup_keep_best" -> (Queries.q76DedupKeepBest(_, _))),
    Cell("q77_funnel_stages" -> (Queries.q77FunnelStages(_, _))),
    Cell("q78_retention_cohorts" -> (Queries.q78RetentionCohorts(_, _))),
    Cell("q79_quality_checks" -> (Queries.q79QualityChecks(_, _))),
    Cell("q80_value_windows" -> (Queries.q80ValueWindows(_, _))),
    Cell("q81_sequence_packing" -> (Queries.q81SequencePacking(_, _))),
    Cell("q82_mixture_resample" -> (Queries.q82MixtureResample(_, _))),
    Cell("q83a_minhash_recall" -> (Queries.q83aMinhashRecall(_, _))),
    Cell("q83b_simhash_exact" -> (Queries.q83bSimhashExact(_, _))),
    Cell("q83c_ann_lsh_recall" -> (Queries.q83cAnnLshRecall(_, _))),
    Cell("q83d_ivf_recall" -> (Queries.q83dIvfRecall(_, _)), scaleChecked = true),
    // scale-checked again since r19: the r18 10x
    // check caught q117's fixed 320-row ADC shortlist decaying recall
    // through the 0.3 floor at 10x density (a corpus-independent
    // shortlist's candidate share drops with N). q117 now derives the
    // shortlist bound in-plan as max(320, ceil(N·16/100)) — q83d's
    // constant-probed-fraction doctrine applied to the fine quantizer —
    // so at the base corpus the bound (and every recorded hash) is
    // unchanged bit-for-bit while at 10x the shortlist holds its 16%
    // corpus share and the gate passes at BOTH densities with the same
    // 3-bit codebooks. The oracle replays the derived bound from its
    // own count; PqSpec pins floor-binding equality and the above-floor
    // collapse to the exhaustive shortlist.
    Cell("q83e_pq_recall" -> (Queries.q83ePqRecall(_, _)), scaleChecked = true),
    Cell("q84_approx_checks" -> (Queries.q84ApproxChecks(_, _))),
    Cell("q85_repetition_ratio" -> (Queries.q85RepetitionRatio(_, _))),
    Cell("q86_pagerank" -> (Queries.q86Pagerank(_, _))),
    Cell("q87_dpp_prune" -> (Queries.q87DppPrune(_, _))),
    Cell("q88_bloom_prefilter" -> (Queries.q88BloomPrefilter(_, _))),
    Cell("q89_incremental_agg" -> (Queries.q89IncrementalAgg(_, _))),
    Cell("q90_variant_extract" -> (Queries.q90VariantExtract(_, _))),
    Cell("q91_range_clustered" -> (Queries.q91RangeClustered(_, _))),
    Cell("q92_gap_fill" -> (Queries.q92GapFill(_, _))),
    Cell("q93_schema_evolution" -> (Queries.q93SchemaEvolution(_, _))),
    Cell("q94_null_safe_join" -> (Queries.q94NullSafeJoin(_, _))),
    Cell("q95_boilerplate_scrub" -> (Queries.q95BoilerplateScrub(_, _))),
    Cell("q96_try_parse" -> (Queries.q96TryParse(_, _))),
    Cell("q97_bmp_decode" -> (Queries.q97BmpDecode(_, _))),
    Cell("q98_wav_decode" -> (Queries.q98WavDecode(_, _))),
    Cell("q99_bmp_resize" -> (Queries.q99BmpResize(_, _))),
    Cell("q100_wav_downsample" -> (Queries.q100WavDownsample(_, _))),
    // q101's base is its own smallest cell (0.1-0.5 s across runs)
    // and read 5.5x in one loaded window — bound sits above that
    // noise ceiling; the k-means anchor for real regressions is
    // the broadcast-assignment plan shape asserted in PlanSpec
    Cell("q101_kmeans_cluster" -> (Queries.q101KmeansCluster(_, _)), bound = Some(8.0),
      scaleChecked = true),
    Cell("q102_semantic_dedup" -> (Queries.q102SemanticDedup(_, _)), scaleChecked = true),
    Cell("q103_trained_ivf_topk" -> (Queries.q103TrainedIvfTopk(_, _)),
      forced = Some(Queries.q103TrainedIvfTopk(_, _, 0L)), scaleChecked = true),
    Cell("q104_chunk_windows" -> (Queries.q104ChunkWindows(_, _))),
    Cell("q105_incremental_dedup" -> (Queries.q105IncrementalDedup(_, _))),
    Cell("q106_zorder_layout" -> (Queries.q106ZorderLayout(_, _))),
    Cell("q107_pagerank_full" -> (Queries.q107PagerankFull(_, _))),
    Cell("q108_containment_dedup" -> (Queries.q108ContainmentDedup(_, _))),
    // the headline end-to-end curation pipeline (quality gate +
    // exact dedup + near-dup survivor manifest off the served pair
    // table) and the per-source quota window at 10x
    Cell("q109_curation_pipeline" -> (Queries.q109CurationPipeline(_, _)), bound = Some(4.0)),
    Cell("q110_scd2_pointintime" -> (Queries.q110Scd2Pointintime(_, _))),
    Cell("q111_vocab_growth" -> (Queries.q111VocabGrowth(_, _))),
    // scan-bound families: codec + text + feature-extraction
    // throughput should grow ~linearly in data and amortize fixed
    // cost (growth << 10x)
    Cell("q112_png_decode" -> (Queries.q112PngDecode(_, _)), bound = Some(10.0)),
    Cell("q113_stream_ingest_dedup" -> (Queries.q113StreamIngestDedup(_, _))),
    Cell("q114_png_resize" -> (Queries.q114PngResize(_, _))),
    Cell("q115_jpeg_decode" -> (Queries.q115JpegDecode(_, _))),
    Cell("q116_pq_topk" -> (Queries.q116PqTopk(_, _)), forced = Some(Queries.q116PqTopk(_, _, 0L)),
      scaleChecked = true),
    // ANN serving: coarse route + compressed ADC scan at 10x corpus
    // (the candidate volume is list-occupancy-bounded, so growth
    // should track the corpus, not its square)
    Cell("q117_ivfpq_topk" -> (Queries.q117IvfpqTopk(_, _)), bound = Some(6.0),
      forced = Some(Queries.q117IvfpqTopk(_, _, 0L)), scaleChecked = true),
    Cell("q118_ulaw_decode" -> (Queries.q118UlawDecode(_, _))),
    Cell("q119_alaw_decode" -> (Queries.q119AlawDecode(_, _))),
    Cell("q120_knn_classify" -> (Queries.q120KnnClassify(_, _))),
    Cell("q121_ima_adpcm_decode" -> (Queries.q121ImaAdpcmDecode(_, _))),
    Cell("q122_audio_frames" -> (Queries.q122AudioFrames(_, _)), bound = Some(15.0)),
    Cell("q123_image_patches" -> (Queries.q123ImagePatches(_, _))),
    Cell("q124_source_caps" -> (Queries.q124SourceCaps(_, _)), bound = Some(5.0)),
    Cell("q125_jsonl_quarantine" -> (Queries.q125JsonlQuarantine(_, _))),
    Cell("q126_csv_quarantine" -> (Queries.q126CsvQuarantine(_, _))),
    Cell("q127_avi_frames" -> (Queries.q127AviFrames(_, _))),
    Cell("q128_scene_deltas" -> (Queries.q128SceneDeltas(_, _))),
    // BPE training: the word-count pass is the only corpus-sized
    // stage; the merge rounds are vocabulary-sized, so total time
    // should grow far below 10x
    Cell("q129_bpe_merges" -> (Queries.q129BpeMerges(_, _)), bound = Some(4.0)),
    // the compressed-video decode (JPEG per frame) — the heaviest
    // per-byte codec work in the suite; must stay scan-bound
    Cell("q130_mjpeg_frames" -> (Queries.q130MjpegFrames(_, _)), bound = Some(12.0)),
    // the perceptron trainer: per-round cost is one map-side-combined
    // aggregate over the checkpointed feature table — fixed job
    // overhead dominates small cells and must amortize at 10x
    Cell("q131_quality_perceptron" -> (Queries.q131QualityPerceptron(_, _)), bound = Some(4.0)),
    // exact-span dedup: one window row per token + equi-join —
    // linear by construction; a superlinear reading means the
    // occurrence join degenerated
    Cell("q132_span_dedup" -> (Queries.q132SpanDedup(_, _)), bound = Some(15.0),
      scaleChecked = true),
    Cell("q133_bpe_encode" -> (Queries.q133BpeEncode(_, _))),
    Cell("q134_compress_quality" -> (Queries.q134CompressQuality(_, _))),
    Cell("q135_vlm_pair_manifest" -> (Queries.q135VlmPairManifest(_, _))),
    Cell("q136_bpe_token_packing" -> (Queries.q136BpeTokenPacking(_, _))),
    // its round-11 siblings: eval-overlap removal (same window
    // pass + broadcast probe) and the three-length mask union
    // (3x the linear pass — growth must still track the corpus)
    Cell("q137_decontaminate" -> (Queries.q137Decontaminate(_, _)), bound = Some(15.0)),
    // the 68-feature trainer: featurization is artifact-built in
    // sample 1; the per-round aggregate carries 68 partial sums
    // over 10x rows and must amortize like q131's k=4
    Cell("q138_quality_ngram_perceptron" -> (Queries.q138QualityNgramPerceptron(_, _)),
      bound = Some(6.0)),
    Cell("q139_multi_span_dedup" -> (Queries.q139MultiSpanDedup(_, _)), bound = Some(15.0),
      scaleChecked = true),
    Cell("q140_snapshot_delta" -> (Queries.q140SnapshotDelta(_, _))),
    Cell("q141_lm_score" -> (Queries.q141LmScore(_, _))),
    Cell("q142_mixture_weights" -> (Queries.q142MixtureWeights(_, _))),
    // the flagship end-to-end corpus build: every stage is an
    // amortizing family already gated above (LM model + decon window
    // set artifact-/broadcast-bounded, manifest joins keyed on
    // doc_id). r19: the one-task build tier serves at BOTH scales (the
    // guard admits the 10x documents table), so the cell moved from
    // the amortizing regime to single-task LINEAR work that tracks
    // data growth with no multi-core amortization — the same
    // reclassification q145/q148 got in r15 when their tiers landed;
    // only a superlinear shape should trip it. So a 7-14x superlinear
    // regression would pass the ratio band: the 8 s absolute cap backs
    // it (r19). The recorded 10x floor is 2.8 s (r19, reconfirmed
    // by the r20 forced-tier lane); 8 s ≈ 3x that floor tolerates box
    // noise (the confirm-before-red re-measure absorbs transients) while
    // a genuinely superlinear build (>20 s at 10x) goes red.
    Cell("q143_corpus_build" -> (Queries.q143CorpusBuild(_, _)), bound = Some(15.0),
      capSec = Some(8.0), forced = Some(Queries.q143CorpusBuild(_, _, 0L))),
    // the all-lengths (suffix-array-semantics) pass: ONE window
    // explode + one keyed groupBy like q132 — linear by
    // construction; superlinear growth means the occurrence join
    // or the coverage union degenerated
    Cell("q144_all_span_dedup" -> (Queries.q144AllSpanDedup(_, _)), bound = Some(15.0),
      forced = Some(Queries.q144AllSpanDedup(_, _, 0L)), scaleChecked = true),
    // the incremental rebuild: at sf0.1 its machinery (delta diff,
    // hash-table canon recompute, reuse joins) costs more than the
    // toy-scale full rebuild it replaces — only the delta's text is
    // re-read at 10x. Round 15: the one-task tiers moved this cell
    // and q148 from the amortizing regime (stage-floor-dominated) to
    // LINEAR single-task work (hash+sign/decon/LM verify scale with
    // the corpus; q148 observed 5.2-8.1x and q145 3.0-5.2x at 10x
    // across runs as the fixed artifact-read floor amortizes) — the
    // standard linear-regime bound: only a superlinear shape trips it
    Cell("q145_incremental_corpus" -> (Queries.q145IncrementalCorpusBuild(_, _)),
      bound = Some(12.0), forced = Some(Queries.q145IncrementalCorpusBuild(_, _, 0L)),
      io = Some((Queries.q145MaintainedManifest _, Queries.q145FullRebuild _)),
      scaleChecked = true),
    Cell("q146_maximal_spans" -> (Queries.q146MaximalSpans(_, _)), scaleChecked = true),
    // the 32-merge production budget: a served artifact read (the
    // iterative trainer runs once at build time) — the cell must
    // stay flat at 10x like every artifact-serving plan
    Cell("q147_bpe_train32" -> (Queries.q147BpeTrain32(_, _)), bound = Some(4.0)),
    // the incremental MinHash index: delta-only re-signing +
    // maintained-index banding — the reused majority is an artifact
    // read (round-15 reclassification as for q145)
    Cell("q148_incremental_minhash" -> (Queries.q148IncrementalMinhash(_, _)), bound = Some(12.0),
      forced = Some(Queries.q148IncrementalMinhash(_, _, 0L)),
      io = Some((Queries.q148MaintainedIndex _, Queries.q148FullIndex _)), scaleChecked = true),
    // the chunked formulation: same linear window pass through
    // chunk-local rows plus the reassembly aggregation — growth
    // must track q132's
    Cell("q149_chunked_span_dedup" -> (Queries.q149ChunkedSpanDedup(_, _)), bound = Some(15.0),
      scaleChecked = true),
    // cohesion diagnostics over the served pair/cluster artifacts:
    // the 10x corpus is 10 disjoint shingle-spaces (per-copy word
    // suffixes), so pairs/triangles grow exactly linearly and the
    // degree-oriented wedge join must track them
    Cell("q150_dup_cohesion" -> (Queries.q150DupCohesion(_, _)), bound = Some(6.0)),
    // systematic sampling: one range exchange over 10x rows plus
    // fixed broadcast machinery — linear, amortizing
    Cell("q151_systematic_sample" -> (Queries.q151SystematicSample(_, _)), bound = Some(6.0)),
    // bipartite projection: the fan guard makes join output linear
    // in the incidence (≤ C(maxFan,2)/maxFan · rows), so the pair
    // count grows with the data and the cell sits in the linear
    // regime — a superlinear reading means the guard stopped
    // bounding the self-join
    Cell("q152_copurchase_project" -> (Queries.q152CopurchaseProject(_, _)), bound = Some(15.0)),
    // incremental cluster maintenance: delta diff + affected-cluster
    // closure + recompute on the delta subgraph — at 10x the reused
    // majority is a manifest read, so growth must stay far below a
    // full re-cluster's
    Cell("q153_incremental_clusters" -> (Queries.q153IncrementalClusters(_, _)), bound = Some(6.0),
      io = Some((Queries.q153IncrementalClusters _, Queries.q153FullRecompute _)),
      scaleChecked = true),
    // DSIR scoring: one explode pass + two fixed-size broadcast
    // model joins + per-doc agg + salted top-N — linear in the
    // corpus by design; superlinear growth means a model join
    // stopped broadcasting or the top-N salt stopped spreading
    Cell("q154_dsir_select" -> (Queries.q154DsirSelect(_, _)), bound = Some(15.0)),
    // incremental LM maintenance: delta-only bigram extraction +
    // one model-sized combine; the combine grows with the corpus's
    // distinct bigrams (linear in this synthetic corpus's copies), so
    // the cell sits in the linear regime, not the amortizing one
    Cell("q155_incremental_lm" -> (Queries.q155IncrementalLm(_, _)), bound = Some(15.0),
      io = Some((Queries.q155MaintainedModel _, Queries.q155FullRetrain _)), scaleChecked = true),
    Cell("q156_xml_roundtrip" -> (Queries.q156XmlRoundtrip(_, _))),
    // CMS heavy hitters: the sketch build is one explode + a
    // combine into <=16384 cells — linear in the token stream by
    // construction; superlinear growth means the estimate join
    // stopped broadcasting. Scale-checked: at 10x the salted corpus
    // has NO heavy hitters (every word's count is flat while n grows
    // 10x), so the hash match is 0 ≡ 0 rows — a one-sided check that
    // still trips any false POSITIVE (a sketch overestimate crossing
    // n/200 on one engine only), while the sketch-cell arithmetic itself
    // is hash-proved at 10x with real rows by q180/q181's outputs.
    Cell("q157_cms_heavy_hitters" -> (Queries.q157CmsHeavyHitters(_, _)), bound = Some(15.0),
      scaleChecked = true),
    // stratified sampling: q151's machinery per key — one range
    // exchange + per-key agg join, fixed broadcast machinery
    Cell("q158_stratified_systematic" -> (Queries.q158StratifiedSystematic(_, _)),
      bound = Some(6.0)),
    // incremental IVF: presence joins + delta-only assignment +
    // a FIXED standing query panel probing the maintained lists —
    // maintenance is delta-sized, serving is linear in list size
    // under the frozen k-centroid model (candidates/query ∝ N),
    // so the cell sits in the LINEAR regime; the round-13 gate
    // caught the earlier corpus-growing panel reading 6.3×
    // (quadratic drill shape, not an algorithm regression)
    Cell("q159_incremental_ivf" -> (Queries.q159IncrementalIvf(_, _)), bound = Some(15.0),
      io = Some((Queries.q159MaintainedLists _, Queries.q159FullAssign _)), scaleChecked = true),
    // incremental DSIR models: delta-only feature extraction +
    // one fixed-size (≤4096-bucket) combine per model
    Cell("q160_incremental_dsir" -> (Queries.q160IncrementalDsir(_, _)), bound = Some(6.0),
      io = Some((Queries.q160MaintainedModels _, Queries.q160FullRetrain _)), scaleChecked = true),
    // weighted percentile: one range exchange + per-key agg join,
    // same amortizing machinery as q158
    Cell("q161_weighted_median_len" -> (Queries.q161WeightedMedianLen(_, _)), bound = Some(6.0)),
    // the suffix-artifact REBUILD policy cell (full live
    // construction on a fixed corpus slice): positions grow with
    // the data, round count is pinned by document length, but ~40
    // fixed-latency stages dominate the sf0.1 cell so amortization
    // pulls growth DOWN while data pushes it up — the linear-regime
    // bound catches a superlinear rank blowup
    Cell("q162_suffix_rebuild" -> (Queries.q162SuffixRebuild(_, _)), bound = Some(12.0)),
    // deep-budget BPE (512 merges, one-task trainer tier):
    // artifact-serving cell plus the tiny check-row echo —
    // amortizing regime (the training runs ONCE at build, off the
    // timed path), must stay flat at 10x like q147
    Cell("q163_bpe_train512" -> (Queries.q163BpeTrain512(_, _)), bound = Some(4.0), sidecar = true),
    // as-of join: one range exchange + partition-local windows +
    // a (#keys+#partitions)-row carry — linear regime (the ranged
    // union is 10x rows at 10x data); superlinear growth means the
    // carry frame or a per-key window went data-sized
    Cell("q164_asof_join" -> (Queries.q164AsofJoin(_, _)), bound = Some(12.0)),
    // BM25 retrieval: postings build + stats + query-join +
    // salted top-k — scan-bound linear in the token stream
    Cell("q165_bm25_topk" -> (Queries.q165Bm25TopK(_, _)), bound = Some(15.0), scaleChecked = true),
    // interval lookback join: 2-bucket equi-join probes per left
    // row — linear in events; superlinear means the binning
    // degenerated into a per-key cross
    Cell("q166_lookback_join" -> (Queries.q166LookbackJoin(_, _)), bound = Some(12.0)),
    // whole-query scoring over the same stored index: one
    // broadcast-probe pass + per-(query, doc) sum — must stay
    // index-serving-shaped like q165
    Cell("q167_bm25_query_score" -> (Queries.q167Bm25QueryScore(_, _)), bound = Some(15.0),
      scaleChecked = true),
    // forward+tolerance flavor: same union+window machinery on
    // the error/view split — must track q164's linearity
    Cell("q168_asof_forward_tolerance" -> (Queries.q168AsofForwardTolerance(_, _)),
      bound = Some(12.0)),
    // production-depth BPE (8192 merges): same artifact-serving
    // shape; the capped unit table keeps trainer input fixed at
    // any corpus scale, so the cell must stay flat too
    Cell("q169_bpe_train8k" -> (Queries.q169BpeTrain8k(_, _)), bound = Some(4.0), sidecar = true),
    // hybrid RRF: the q167 probe + the IVF-served semantic leg
    // (4 probes vs broadcast centroids + stored-list candidate
    // join, list-occupancy-bounded) + tiny-list fusion — linear
    // regime (candidates/query ∝ N under the frozen quantizer)
    Cell("q170_hybrid_rrf" -> (Queries.q170HybridRrf(_, _)), bound = Some(15.0),
      forced = Some(Queries.q170HybridRrf(_, _, 0L)), scaleChecked = true),
    // incremental BM25 index maintenance + serving: one-task tier
    // over (stored postings, stored hashes, new snapshot) — the
    // hash+re-tokenize work scales with the corpus like q148's
    // while the fixed artifact-read floor amortizes, so the
    // linear-regime bound catches only a superlinear shape. IO: the
    // EXCHANGE-BOUND family (measured 0.137 at sf0.01) — the rebuild
    // shuffles index-sized combined postings partials; the maintenance
    // broadcasts the delta-sized id sets into the stored-postings scan
    // and shuffles only the delta's fresh postings. cpu_ratio
    // (delta-only tokenization, ~0.78) rides along.
    Cell("q171_incremental_bm25" -> (Queries.q171IncrementalBm25(_, _)), bound = Some(12.0),
      forced = Some(Queries.q171IncrementalBm25(_, _, 0L)),
      io = Some((Queries.q171MaintainedPostings _, Queries.q171FullPostings _)),
      scaleChecked = true),
    Cell("q172_hybrid_recall" -> (Queries.q172HybridRecall(_, _)), scaleChecked = true),
    // tokenizer-vocab maintenance: hash pass + delta-only window
    // extraction + model-sized combine + top-2048 cap — the
    // q155 shape over 12-gram units, linear in the corpus
    Cell("q173_vocab_maintain" -> (Queries.q173VocabMaintain(_, _)), bound = Some(15.0),
      forced = Some(Queries.q173VocabMaintain(_, _, 0L)), scaleChecked = true),
    // incremental SemDeDup manifest: one-task tier over the
    // stored lists/manifest/points + frozen occupancy-16 model —
    // delta-sized assignment + affected-cluster dominance; the
    // single-task scan grows with the corpus (linear regime: the
    // occupancy-16 model keeps the dominance join linear by
    // construction). IO mirrors q153's regime: the registered cell's
    // one-task tier moves nothing through an exchange (shuffle_ratio
    // ~0) while the full recompute pays the corpus-sized assignment +
    // dominance exchanges.
    Cell("q174_incremental_semdedup" -> (Queries.q174IncrementalSemdedup(_, _)),
      bound = Some(12.0), forced = Some(Queries.q174IncrementalSemdedup(_, _, 0L)),
      io = Some((Queries.q174IncrementalSemdedup(_, _), Queries.q174FullRecompute _)),
      scaleChecked = true),
    // chained LM maintenance: three hash-diff passes over the
    // corpus + delta-sized bigram legs + model-sized combines —
    // q155's linear regime, three-fold
    Cell("q175_stream_lm_chain" -> (Queries.q175StreamLmChain(_, _)), bound = Some(15.0),
      forced = Some(Queries.q175StreamLmChain(_, _, 0L))),
    // incremental span dedup: stored-index scans + delta-restricted
    // window aggregates — q148's linear regime (the index grows
    // with the corpus; the aggregates stay delta-keyed). The
    // one-task tier serves at BOTH scales (guard admits the 10x
    // artifacts), so the cell is single-task LINEAR work with no
    // multi-core amortization — measured 8.99x and 10.65x across
    // closing runs; the span family's bound applies, and only a
    // superlinear closure blowup should trip it. IO joins the
    // EXCHANGE-BOUND family: the rebuild shuffles corpus-sized window
    // rows (occ groupBy + per-doc start collection) where the
    // maintenance broadcasts delta-sized id/key sets into the
    // stored-index scan and shuffles only delta-adjacent keys'
    // occurrences.
    Cell("q176_incremental_span_dedup" -> (Queries.q176IncrementalSpanDedup(_, _)),
      bound = Some(15.0), forced = Some(Queries.q176IncrementalSpanDedup(_, _, 0L)),
      io = Some((Queries.q176IncrementalSpanDedup(_, _), Queries.q176FullRecompute _)),
      scaleChecked = true),
    Cell("q177_interval_overlap_join" -> (Queries.q177IntervalOverlapJoin(_, _))),
    Cell("q178_cross_format_media_dedup" -> (Queries.q178CrossFormatMediaDedup(_, _))),
    // IVF-PQ from maintained lists + codes: q117/q159's serving
    // regime (fixed panel, list-occupancy-bounded candidates). IO: the
    // code-table halves (q159's regime, incl. its r18 shift) — the
    // rebuild re-computes the per-(id, subspace) argmin over the whole
    // snapshot (since r18 as an in-place fold, no N×M exchange) while
    // the maintenance's reuse leg is one stored-table semi-join and only
    // ADDED ids pay the argmin; shuffle_ratio reads ~constant-over-
    // constant, the compute claim lives in cpu_ratio.
    Cell("q179_incremental_ivfpq" -> (Queries.q179IncrementalIvfpq(_, _)), bound = Some(15.0),
      forced = Some(Queries.q179IncrementalIvfpq(_, _, 0L)),
      io = Some((Queries.q179MaintainedCodes _, Queries.q179FullEncode _)), scaleChecked = true),
    // maintained CMS cells + fixed probe panel: the hash-diff +
    // delta tokenization is linear in the corpus (q155's regime);
    // the sketch itself is cell-bounded at any scale. IO sits in the
    // MODEL family (q155/q160's regime): both sides' shuffles are
    // cell-bounded (≤ Depth·4096 rows) by the sketch's construction, so
    // the claim lives in cpu_ratio — delta-only tokenization + hashing
    // vs the full-corpus re-sketch.
    Cell("q180_incremental_cms" -> (Queries.q180IncrementalCms(_, _)), bound = Some(15.0),
      forced = Some(Queries.q180IncrementalCms(_, _, 0L)),
      io = Some((Queries.q180IncrementalCms(_, _), Queries.q180FullRecompute _)),
      scaleChecked = true),
    // chained CMS maintenance: three q180-shaped folds in one
    // plan — q175's linear regime at the sketch layer
    Cell("q181_stream_cms_chain" -> (Queries.q181StreamCmsChain(_, _)), bound = Some(15.0),
      forced = Some(Queries.q181StreamCmsChain(_, _, 0L)), scaleChecked = true),
    // chained DSIR maintenance: three fused split combines —
    // q160's linear regime, three-fold
    Cell("q182_stream_dsir_chain" -> (Queries.q182StreamDsirChain(_, _)), bound = Some(15.0),
      forced = Some(Queries.q182StreamDsirChain(_, _, 0L)), scaleChecked = true),
    // chained BM25-df maintenance: three AdditiveCounts folds over
    // delta-restricted term legs — q175's linear regime at the
    // index-df layer
    Cell("q183_stream_bm25df_chain" -> (Queries.q183StreamBm25DfChain(_, _)), bound = Some(15.0),
      forced = Some(Queries.q183StreamBm25DfChain(_, _, 0L)), scaleChecked = true),
    // chained tokenizer-unit maintenance: q183's three folds over
    // delta-restricted window legs — q175's linear regime at the
    // tokenizer layer
    Cell("q184_stream_bpe_units_chain" -> (Queries.q184StreamBpeUnitsChain(_, _)),
      bound = Some(15.0), forced = Some(Queries.q184StreamBpeUnitsChain(_, _, 0L)),
      scaleChecked = true),
  )
}
