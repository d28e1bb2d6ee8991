package graft

/** Plan-shape regression tests: the scale properties this engine claims
  * (pushdown, pruning, broadcast, true top-k, no stray fan-out recompute)
  * asserted against the actual physical plans, so a refactor that silently
  * degrades a plan fails CI rather than a 100 TB run.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(q: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): String =
    q(spark, dir).queryExecution.executedPlan.toString

  /** Plan lines scanning `table` — matches both the raw single-file layout
    * (`<dir>/orders.parquet`) and the compacted wide artifact
    * (`<scratch>/wide/orders.parquet/<tag>`). */
  private def scans(p: String, table: String): Int =
    p.split("\n").count(_.contains(s"/$table.parquet"))

  /** Shuffle-exchange lines, matched on the PHYSICAL OPERATOR NAME, not a
    * bare "Exchange" substring (ADVICE r18): `\bExchange <partitioning>`
    * matches exactly the shuffle nodes (hashpartitioning /
    * rangepartitioning / SinglePartition / rebalance), while
    * `ReusedExchange`, `BroadcastExchange`, and any AQE wrapper line
    * (`AQEShuffleRead`, `ShuffleQueryStage`) fall outside the word
    * boundary — so an AQE marker or a Spark version renaming a wrapper
    * can't flake the exchange budgets without a real plan change. */
  private val ShuffleNode =
    """.*\bExchange (hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning).*""".r
  private def shuffles(p: String): Int =
    p.split("\n").count(l => ShuffleNode.matches(l) && !l.contains("ReusedExchange"))

  test("q01: filters and column pruning reach the parquet scan") {
    val p = plan(Queries.q01ScanFilterProject)
    p should include("PushedFilters: [IsNotNull(l_shipdate)")
    p should not include "l_suppkey" // pruned column must not be read
  }

  test("q16: top-k plans as TakeOrderedAndProject, not a full sort") {
    plan(Queries.q16TopK) should include("TakeOrderedAndProject")
  }

  test("q17: single-pass — each base table scanned once, dims broadcast, 3 shuffles") {
    // Pinned on the SCORES frame (everything minus the global rank):
    // the r20 distributed rank localCheckpoints its input, which would
    // hide this subtree behind an ExistingRDD in the full q17 plan.
    val p = plan((s, d) => graft.ops.Opportunity.opportunityScores(
      Tables.wide(s, d, "orders"), Tables.wide(s, d, "lineitem"),
      Tables.wide(s, d, "part"), Tables.wide(s, d, "customer")))
    // The r18 window fusion reads each fact exactly once (the reference
    // CTE shape re-joined lineitem — 2 scans; the pre-r17 double
    // aggregation read it four times).
    scans(p, "lineitem") shouldBe 1
    scans(p, "orders") shouldBe 1
    scans(p, "part") shouldBe 1
    p should include("BroadcastHashJoin")
    // Exchange budget (VERDICT r17 ask #4): the scores dataflow is THREE
    // shuffles — union→per-order window, the countDistinct expand pair
    // (p_name, c_custkey) + (p_name). Re-introducing the fact⋈fact join
    // pair (or un-fusing the two gold aggregations) adds shuffles and
    // must trip here, not in a bench round.
    shuffles(p) should be <= 3
    p.split("\n").count(_.contains("BroadcastExchange")) shouldBe 2
    // The FORCED distributed-rank tier (the 100 TB shape — the audit's
    // one SF-growing global frame) must carry NO partition-less window:
    // every Window node is per-partition (_pid-keyed or the per-order
    // fusion window, which partitions by _ok).
    val forced = plan((s, d) =>
      Queries.q17OpportunityScore(s, d, maxGlobalRankBytes = 0L, oneTaskBytes = 0L))
    forced.split("\n").filter(_.contains("Window ")).foreach { l =>
      withClue(l) { (l.contains("_pid") || l.contains("_ok")) shouldBe true }
    }
    // The registered cell under the stats guard keeps the reference-
    // exact single-window rank (the frame is report-sized at guarded
    // input sizes; OpportunitySpec pins tier equality).
    val guarded = plan(Queries.q17OpportunityScore(_, _))
    guarded should include("row_number()")
    // ...and at sf0.001 its inputs fit Tier.OneTaskBytes: one partition
    // each, so the window, the aggregation and the rank need no shuffle.
    guarded should include("Coalesce 1")
    shuffles(guarded) shouldBe 0
  }

  test("q28: all three dims broadcast into the fact build") {
    plan(Queries.q28StarPipeline).split("\n")
      .count(_.contains("BroadcastHashJoin")) should be >= 3
  }

  test("q12/q11: aggregations are partial+final hash aggregates (map-side combine)") {
    val p = plan(Queries.q12MinCasePriority)
    p should include("partial_min")
    plan(Queries.q11ConditionalAgg) should include("partial_sum")
  }

  test("q44: the 58-column silver projection is one codegen'd map stage — no shuffle") {
    val p = plan(Queries.q44FullWidthSilver)
    p should not include "Exchange"   // narrow map: Scan → Project only
    // the whole 60-expression projection must not fall back to interpreted
    // evaluation: toString marks codegen membership with a "*(stage)"
    // prefix — Project and the scan's ColumnarToRow must share ONE span
    p should include("*(1) Project")
    p should include("*(1) ColumnarToRow")
  }

  test("q46: bucketed join + same-key agg plan with ZERO Exchange of any kind") {
    plan(Queries.q46BucketedJoin) should not include "Exchange"
  }

  test("q46 in a new JVM registers its bucketed tables over the files: no job") {
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toString).sorted.toSeq
    val before = rows(Queries.q46BucketedJoin(spark, dir))
    // A new JVM's in-memory catalog has no entry; the files stay on disk.
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_bkt_")).foreach(t => spark.sql(s"DROP TABLE `$t`"))
    var rebuilt: org.apache.spark.sql.DataFrame = null
    jobsDuring { rebuilt = Queries.q46BucketedJoin(spark, dir) } shouldBe 0
    rows(rebuilt) shouldBe before
    plan(Queries.q46BucketedJoin) should not include "Exchange"
  }

  test("q48: vocabulary top-k is map-side-combined and TakeOrderedAndProject") {
    val p = plan(Queries.q48VocabTopk)
    p should include("partial_count")       // combine before the |vocab| shuffle
    p should include("TakeOrderedAndProject") // top-100, not a full sort
  }

  test("q52: IVF assignment broadcasts the centroids (never shuffles N against C)") {
    // The distributed chain (the 100 TB shape), forced past the r20
    // one-task serving guard.
    val p = plan((s, d) => Queries.q52AnnIvfTopk(s, d, maxLocalBytes = 0L))
    p should include("BroadcastNestedLoopJoin")
    // r18 narrow-assignment budget: the N×C ranking is an in-task
    // array sort (zero exchanges — the old window shape shuffled all
    // N×C ranked rows), so the whole query is the two 1-row aggs
    // (stride, centroid fold), the bucket join's two sides, and the
    // final top-k window. Re-introducing the ranking window, the
    // pair-level distinct, or the emb join-backs adds exchanges and
    // must trip here.
    shuffles(p) should be <= 5
    // r20 serving tier: the registered cell under the stats guard is
    // ONE task over the raw embeddings — Coalesce(1)+mapPartitions,
    // zero shuffles (SimilaritySpec pins tier equality on near-tie
    // vectors).
    val local = plan(Queries.q52AnnIvfTopk(_, _))
    local should include("Coalesce 1")
    shuffles(local) shouldBe 0
  }

  test("q53: ROLLUP expands grouping sets inside ONE aggregation, not three scans") {
    val p = plan(Queries.q53RollupRevenue)
    p should include("Expand")
    scans(p, "orders") shouldBe 1
  }

  test("q60: as-of attribution — no theta join; small inputs take the one-window tier") {
    val p = plan(Queries.q60AsofJoin)
    // round 15: q60's sf0.001 events sit far under the small-input
    // bound, so the cell plans the textbook single-window tier (no
    // checkpoint, no carry join); the distributed shape is pinned by
    // the q164-distributed test and AsofJoinSpec. The quadratic
    // nested-loop fallback must never appear in either tier.
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    p.split("\n").count(_.contains("Window [")) shouldBe 1
    p should not include "Scan ExistingRDD"
  }

  test("q61: range join plans as a hash-partitioned equi-join, not a nested loop") {
    val p = plan(Queries.q61RangeJoin)
    p should not include "BroadcastNestedLoopJoin"
    p should include("Join") // the bucketed equi-join IS a real join node
  }

  test("q62: train grams probe the eval set via broadcast — corpus never self-joins") {
    plan(Queries.q62ContaminationCheck) should include("BroadcastHashJoin")
  }

  test("q137: decontamination probes the eval window set via broadcast") {
    // the removal step keeps q62's scale contract: the small-by-
    // construction eval set broadcasts into the training-window join,
    // the corpus never joins itself on content
    plan(Queries.q137Decontaminate) should include("BroadcastHashJoin")
  }

  test("q138: per-round weights ride broadcasts; features come from the stored artifact") {
    val p = plan(Queries.q138QualityNgramPerceptron)
    // every corpus-sized pass reads the materialized feature artifact,
    // not the text scan: documents feeds only the (build-once) artifact
    // write, so a fresh plan over warm artifacts scans it zero times
    scans(p, "documents") shouldBe 0
    p should include("BroadcastNestedLoopJoin") // 1-row weight frames
  }

  test("q67: corpus total broadcast into the tf-idf join, no driver collect") {
    val p = plan(Queries.q67TfidfTopterms)
    p should include("BroadcastNestedLoopJoin")
    p should not include "CartesianProduct"
  }

  test("q71: grouping sets plan as one Expand, not three scans") {
    val p = plan(Queries.q71GroupingSets)
    p should include("Expand")
    scans(p, "orders") shouldBe 1
  }

  test("q73: histogram aggregation is partial+final (map-side combine)") {
    val p = plan(Queries.q73Histogram)
    p.split("\n").count(_.contains("HashAggregate")) should be >= 2
  }

  test("q75: SCD2 merge reads each input once per disposition branch, no cartesian") {
    val p = plan(Queries.q75Scd2Upsert)
    p should not include "CartesianProduct"
    p should include("Union")
  }

  test("q87: the partitioned scan carries a dynamic partition pruning subquery") {
    val p = plan(Queries.q87DppPrune)
    p.toLowerCase should include("dynamicpruning")
  }

  test("q97-q100/q118/q119: media decode/resize is one shuffle-free codegen map over the scan") {
    Seq(Queries.q97BmpDecode _, Queries.q98WavDecode _,
        Queries.q99BmpResize _, Queries.q100WavDownsample _,
        Queries.q118UlawDecode _, Queries.q119AlawDecode _,
        Queries.q121ImaAdpcmDecode _).foreach { q =>
      val p = plan(q)
      p should not include "Exchange"
      p should include("*(1)") // whole-stage codegen, single stage
    }
  }

  test("q117: IVF-PQ broadcasts every model table; raw vectors never self-join") {
    // The distributed chain (the 100 TB shape), forced past the r19
    // one-task serving guard.
    val p = plan((s, d) => Queries.q117IvfpqTopk(s, d, maxLocalBytes = 0L))
    // centroids, query ids, codebooks and the ADC distance table all ride
    // broadcasts; the probes |X| lists equi-join keys cluster_id (SMJ in
    // the static plan — AQE converts it when the probe side is small, and
    // at 100 TB a shuffle there is the correct shape), never raw vectors
    p should include("BroadcastNestedLoopJoin") // N x k centroid ranking
    p should include("BroadcastHashJoin")       // codes |X| broadcast dtab
    p should not include "CartesianProduct"
    // r18 budget: narrow bounded ranking (no N×k window exchange), no
    // pair-level distinct — ADC sum, shortlist window, exact-rerank
    // joins + window over the shortlist only, plus the two PANEL-sized
    // query-dedup aggregates (|Q| rows each, feeding the probe join and
    // the rerank's distance table — robustness, not corpus exchanges).
    // +1 (r19): the density-derived shortlist bound's 1-row corpus
    // count aggregate (shortlistPct — a SinglePartition exchange of one
    // partial-count row per task, then broadcast into the filter).
    shuffles(p) should be <= 7
    // r19 serving tier: under the fail-closed stats guard the registered
    // cell runs route→ADC→re-rank as ONE task (Coalesce(1)+mapPartitions
    // over the tagged union); the only shuffle left is assignQ's k-row
    // centroid fold aggregate (q101's pinned constant) — a regression
    // that re-distributes the guarded serve adds exchanges and trips.
    val local = plan(Queries.q117IvfpqTopk(_, _))
    local should include("Coalesce 1")
    shuffles(local) should be <= 1
  }

  test("q101/q103: k-means assignment broadcasts the centroids and sqdist is codegen'd") {
    // q103's distributed chain (the 100 TB shape), forced past the r19
    // one-task serving guard.
    val q103dist = plan((s, d) => Queries.q103TrainedIvfTopk(s, d, maxLocalBytes = 0L))
    Seq(plan(Queries.q101KmeansCluster), q103dist).foreach { p =>
      // every N-by-k pass must broadcast the k centroids, never shuffle N
      p should include("BroadcastNestedLoopJoin")
      // the graft_sqdist_q kernel call (not an interpreted zip_with fold)
      p should include("static_invoke(graft.functions.LongSqDist.sqDist(")
    }
    // r18 fold-assignment pin: assignQ computes the argmin where the row
    // sits, so q101's ONLY shuffle is the k-row centroid fold aggregate —
    // the corpus itself never exchanges. The pre-r18 groupBy(id) shape
    // shuffled all N rows WITH their vectors; re-introducing it trips
    // this bound.
    shuffles(plan(Queries.q101KmeansCluster)) should be <= 1
    // q103 adds the bucket join (two sides) + final top-k window over
    // the bounded narrow ranking, plus the PANEL-sized query-dedup
    // aggregate (|Q| rows — robustness against duplicate panel ids,
    // not a corpus exchange).
    shuffles(q103dist) should be <= 4
    // r19 serving tier: the registered cell under the stats guard is one
    // task (Coalesce(1)+mapPartitions); the only shuffle is assignQ's
    // k-row centroid fold.
    val local = plan(Queries.q103TrainedIvfTopk(_, _))
    local should include("Coalesce 1")
    shuffles(local) should be <= 1
  }

  test("q104/q122/q123: chunk/frame/patch windows are a pure narrow map — no shuffle") {
    plan(Queries.q104ChunkWindows) should not include "Exchange"
    plan(Queries.q122AudioFrames) should not include "Exchange"
    plan(Queries.q123ImagePatches) should not include "Exchange"
    plan(Queries.q127AviFrames) should not include "Exchange"
    plan(Queries.q130MjpegFrames) should not include "Exchange"
  }

  test("q106: dimension bounds broadcast; one range exchange, no cache barrier") {
    val p = plan(Queries.q106ZorderLayout)
    p should include("BroadcastNestedLoopJoin") // 1-row bounds frame
    // only the LAYOUT audit needs the physical clustering: exactly one
    // rangepartitioning exchange (column-pruned to zv), the z-range
    // stats branch reads the pre-exchange narrow map, and the round-12
    // persist-drop means no InMemoryTableScan barrier anywhere
    p.split("\n").count(l =>
      l.contains("Exchange rangepartitioning")) shouldBe 1
    p should not include "InMemoryTableScan"
  }

  test("q124: per-source top-N is a salted two-phase window (AQE cannot split window skew)") {
    val p = plan(Queries.q124SourceCaps)
    // phase 1 partitions on (source, salt) so a mega-domain spreads over
    // many tasks; phase 2 ranks the pruned survivors per source alone —
    // exactly two Window operators, in that key order
    val windows = p.split("\n").filter(_.contains("Window"))
      .filterNot(_.contains("WindowGroupLimit"))
    windows.length shouldBe 2
    p.split("\n").count(_.contains("Window")) should be >= 2
    val saltFirst = p.split("\n").find(l => l.contains("Window") && l.contains("_salt"))
    saltFirst should not be empty
  }

  test("q132: span dedup is window-free (min-based canonical, no per-key skew point)") {
    val p = plan(Queries.q132SpanDedup)
    // the canonical occurrence must come from a map-side-combined min,
    // never a per-window-key row_number — a stop-phrase key would
    // serialize on one core at scale
    p.split("\n").filterNot(_.contains("WindowGroupLimit"))
      .count(_.contains("Window")) shouldBe 0
    p should include("HashAggregate")
  }

  test("q133: encode serves the stored vocab — no per-merge join chain, no retraining") {
    val p = plan(Queries.q133BpeEncode)
    // documents feeds exactly the word-occurrence pass and a doc_id-
    // pruned scan that keeps zero-latin-word docs in the output; the
    // SEGMENTATION comes from the stored encoded-vocabulary artifact
    // (train-once/serve-many, one composition deeper than the merge
    // table) — a regression to in-plan vocab derivation or retraining
    // adds corpus scans and one broadcast join per merge rank
    scans(p, "documents") should be <= 2
    // exactly the serving joins survive: word→segmentation equi-join +
    // the doc_id left join that restores empty docs — the 3 applyMerge
    // broadcast joins of the live chain must NOT appear
    p.split("\n").count(_.contains("Join")) should be <= 2
  }

  test("q144/q146: all-lengths span family is window-free (no per-key skew)") {
    // same contract as q132: a per-window-key row_number would
    // serialize a stop-phrase key on one core at scale. q144's
    // canonical choice is a map-side-combined aggregate + array sweep;
    // q146 (exact suffix inventory since round 13) does its ranking in
    // EAGER build-time rounds through the scale-safe two-phase
    // denseRankKey (windows partitioned by spark_partition_id, never
    // global) — the served plan reads the checkpointed LCP frame, so
    // the final plan stays window-free too. q144 is pinned on its
    // forced distributed chain, the 100 TB shape.
    val q144Dist = Queries.q144AllSpanDedup(_, _, 0L)
    Seq(q144Dist, Queries.q146MaximalSpans _).foreach { q =>
      val p = plan(q)
      p.split("\n").filterNot(_.contains("WindowGroupLimit"))
        .count(_.contains("Window")) shouldBe 0
    }
    // q144's canonical choice is the map-side-combined aggregate
    plan(q144Dist) should include("HashAggregate")
    // q146's reporting plan reads the stored suffix index, never
    // re-derives the doubling construction in-query
    plan(Queries.q146MaximalSpans) should include("/suffix_f/")
  }

  test("q144: a corpus under the cap runs the one-task tier, no shuffle") {
    val p = plan(Queries.q144AllSpanDedup(_, _))
    p should include("MapPartitions")
    p should include("Coalesce 1")
    p should not include "Exchange"
  }

  test("q21: the one-task tier plans no shuffle; 0L keeps the hashed self-join") {
    val sf001 = "/root/testdata/sf0.01"
    val p = Queries.q21NgramJaccard(spark, sf001).queryExecution.executedPlan.toString
    shuffles(p) shouldBe 0
    p.split("\n").count(_.contains("MapPartitions")) shouldBe 1
    val d = Queries.q21NgramJaccard(spark, sf001, 0L).queryExecution.executedPlan.toString
    // the pair count and the two size aggregates shuffle; at this size
    // the self-join on xxhash64(shingle) is a broadcast hash join
    shuffles(d) shouldBe 3
    d should include("xxhash64(shingle")
    d should include("HashJoin [_h")
  }

  test("q25: portable LSH top-k runs the native projection kernel, queries broadcast") {
    val p = plan(Queries.q25AnnLshTopk)
    // graft_proj_entries' signature kernel, one static call per row
    p should include("static_invoke(graft.functions.ProjEntries.compute(")
    // the query-side bucket join is broadcast (50 query ids), never a
    // corpus-wide shuffle of the signature table against itself
    p should include("BroadcastHashJoin")
  }

  test("q145: incremental build reads stored artifacts, not re-derived subtrees") {
    val p = plan(Queries.q145IncrementalCorpusBuild(_, _))
    // previous manifest, previous fingerprint table, eval window set and
    // the LM model must come from their parquet artifacts
    Seq("/corpus_build_old/", "/corpus_hashes_old/", "/eval_windows8/",
      "/lm_bigram/").foreach { a =>
      withClue(s"artifact $a: ") { p should include(a) }
    }
    // (a per-stage corpus-scan bound is NOT asserted here: the plan
    // string embeds each persisted frame's full child plan, so scan
    // counts double-count through InMemoryRelations and vary with cache
    // state — the artifact reads above are the load-bearing claim)
  }

  test("q150: cohesion reports over the served dedup artifacts, window-free") {
    val p = plan(Queries.q150DupCohesion)
    // pair table and cluster manifest come from their parquet artifacts —
    // the cell must never re-run the shingle self-join or the CC loop
    p should include("neardup_pairs_n3_j05")
    p should include("neardup_clusters_n3_j05")
    // triangle enumeration is pure joins + aggregates: a Window here
    // would mean a per-cluster rank sneaked in (skew magnet at scale)
    p.split("\n").count(_.contains("Window")) shouldBe 0
  }

  test("q151: systematic sample is one range exchange + broadcast-only joins") {
    val p = plan(Queries.q151SystematicSample)
    // the prefix-summed frame joins its partition offsets and the 1-row
    // total as broadcasts; any SortMergeJoin means the linear shape broke
    p should not include "SortMergeJoin"
    p.split("\n").count(_.contains("BroadcastHashJoin")) should be >= 1
    // selection arithmetic is all-BIGINT `div` — a cast to double in the
    // pick computation would silently break bit-portability
    p should not include "CAST(pick_mult"
  }

  test("q153: cluster maintenance serves the stored pair/manifest artifacts") {
    val p = plan(Queries.q153IncrementalClusters)
    // the timed cell consumes the maintained artifacts — it must never
    // re-run shingling, the pair joins, or the old snapshot's CC loop
    p should include("neardup_pairs_stop_j05_old")
    p should include("neardup_pairs_stop_j05_new")
    p should include("neardup_clusters_stop_old")
    // delta closure + reuse are joins/aggregates only: a Window here
    // would mean a per-cluster rank sneaked into the maintenance path
    p.split("\n").count(_.contains("Window")) shouldBe 0
  }

  test("q154: DSIR models broadcast; selection is the salted two-window top-N") {
    val p = plan(Queries.q154DsirSelect)
    p should include("/dsir_buckets3_target/")
    p should include("/dsir_buckets3_raw/")
    // two fixed-4096-row model joins + the doc-spine join broadcast; a
    // SortMergeJoin on `bucket` means a model stopped broadcasting and
    // the corpus-sized feature stream is being sorted at 100 TB
    p.split("\n").count(_.contains("BroadcastHashJoin")) should be >= 3
    // exactly the salted top-N's two ranking windows — a third window
    // means a global or per-source rank outside the salt spread
    p.split("\n").count(_.contains("Window [")) shouldBe 2
    // rank<=32 must push into the windows as group limits (partial keeps
    // top-32 per task BEFORE the rank shuffle — the scale lever)
    p.split("\n").count(_.contains("WindowGroupLimit")) should be >= 2
  }

  test("q155: LM maintenance serves the stored model and combines in ONE bigram exchange") {
    val p = plan(Queries.q155IncrementalLm)
    p should include("/lm_bigram_old/")
    p should include("/corpus_hashes_old/")
    // the three legs (stored model + minus + plus occurrence streams)
    // must meet in a single hash aggregation on the bigram: a second
    // bigram exchange means a leg re-grew its own pre-aggregation
    p.split("\n").count(l =>
      l.contains("Exchange hashpartitioning(bigram")) shouldBe 1
  }

  test("q157: the CMS estimate join broadcasts the fixed-size cell table") {
    val p = plan(Queries.q157CmsHeavyHitters)
    // the sketch is <= Depth*4096 rows BY CONSTRUCTION — if this ever
    // plans as a SortMergeJoin the corpus-vocab stream gets sorted
    p should include("BroadcastHashJoin [i#")
    p should not include "SortMergeJoin [i#"
  }

  test("q159: IVF serving reads the stored list artifact; only queries rank centroids") {
    val p = plan(Queries.q159IncrementalIvf)
    p should include("/ivf_lists_old/")
    p should include("/kmeans_k8_i2_e6/")
    // exactly TWO ranking windows run: the delta-only assignment argmin
    // is an aggregate (no window), so windows = query-probe rank + the
    // final top-k rank; a third means a corpus-wide nearest-list pass
    // (the q103 recompute this cell exists to delete) sneaked back in
    p.split("\n").count(_.contains("Window [")) shouldBe 2
  }

  test("q164: small inputs take the single-window tier — no theta join, no checkpoint") {
    val p = plan(Queries.q164AsofJoin)
    // the quadratic failure mode: a (key, r.t <= l.t) theta join plans
    // as BroadcastNestedLoop/Cartesian — must never appear in ANY tier
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    // sf0.001 events estimate far under the tier bound → the textbook
    // shape: exactly ONE window (the per-key running last), no carry
    // join, no checkpointed RDD scan
    p.split("\n").count(_.contains("Window [")) shouldBe 1
    p should not include "Scan ExistingRDD"
  }

  test("q164 distributed tier: one ranged union — no theta join, no key-wide window") {
    val p = plan(Queries.q164AsofJoinDistributed)
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    // the range exchange on (key, time, side) lives inside the eager
    // localCheckpoint (read-consistent layout), so the executed plan
    // reads checkpoint blocks rather than showing the exchange; what
    // MUST show: the main window is (partition, key)-scoped — bounded
    // by partition size, never key size — and the only per-key window
    // is the carry frame's (#keys + #partitions rows)
    p.split("\n").count(_.contains("Window [")) shouldBe 2
    p.split("\n").count(l => l.contains("Window [") &&
      l.contains("windowspecdefinition(_pid")) shouldBe 1
  }

  test("q165: BM25 serves the stored index and scores only query-term postings") {
    val p = plan(Queries.q165Bm25TopK)
    // retrieval reads the postings/df/stats ARTIFACTS (r14 ask #1c) —
    // a live postings rebuild would scan documents.parquet
    p should include("/bm25_idx/")
    p should not include "documents.parquet"
    // the query-term list and the (N, avgdl) stats row broadcast
    p.split("\n").count(_.contains("BroadcastHashJoin")) should be >= 1
    p should not include "CartesianProduct"
    // the salted top-N's two ranking windows with pushed group limits
    p.split("\n").count(_.contains("Window [")) shouldBe 2
    p.split("\n").count(_.contains("WindowGroupLimit")) should be >= 2
  }

  test("q167: whole-query BM25 serves the same stored index (one scored pass + sum)") {
    val p = plan(Queries.q167Bm25QueryScore)
    p should include("/bm25_idx/")
    p should not include "documents.parquet"
    p should not include "CartesianProduct"
    // windows: the salted top-k pair only — the query panel is a
    // stored artifact beside the index since r16 (its 16-row rank
    // window is paid once at index build, not per retrieval)
    p.split("\n").count(_.contains("Window [")) shouldBe 2
  }

  test("q170: the serving tier reads all seven stored artifacts in ONE task") {
    val p = plan(Queries.q170HybridRrf(_, _))
    // the default build is the one-task serving tier (late r16): a
    // tagged union of the stored BM25 index + panel and the stored
    // IVF structures into a single MapPartitions — no join, no window,
    // no corpus scan anywhere
    p should include("MapPartitions")
    p should include("/bm25_idx/")
    p should include("/ivf_lists_full/")
    p should include("/qpoints_e6/")
    p should not include "documents.parquet"
    p should not include "embeddings.parquet"
    p.split("\n").count(_.contains("Window [")) shouldBe 0
    assert(!p.toLowerCase.contains("join"),
      s"serving-tier plan unexpectedly contains a join:\n${p.take(2000)}")
  }

  test("q170 forced-distributed: hybrid RRF serves BOTH stored indexes; heavy work stays in the rankers") {
    val p = plan((s, d) => Queries.q170HybridRrf(s, d, maxLocalBytes = 0L))
    // lexical side reads the stored BM25 index (+ served panel), never
    // the corpus text; semantic side reads the stored quantized points,
    // frozen quantizer and full-corpus inverted lists (r15 ask #3 —
    // the brute-force cosine pass over embeddings.parquet is gone,
    // gated instead by q172)
    p should not include "MapPartitions"
    p should include("/bm25_idx/")
    p should include("/ivf_lists_full/")
    p should include("/qpoints_e6/")
    p should not include "documents.parquet"
    p should not include "embeddings.parquet"
    p should not include "CartesianProduct"
    // exactly: lex salted top-k (2) + probe centroid rank (1) +
    // semantic candidate rank (1) + fusion per-query rank (1) — a 6th
    // window would mean the fusion grew a data-sized ranking pass or
    // the panel rank came back inline
    p.split("\n").count(_.contains("Window [")) shouldBe 5
    // the only nested-loop joins are the broadcast SINGLETON
    // attachments (stats row, 8-centroid quantizer) — the sanctioned
    // crossJoin(broadcast(...)) pattern, bounded by construction
    p.split("\n").count(_.contains("BroadcastNestedLoopJoin")) should be <= 2
  }

  test("q152: AQE reuses the shared distinct-incidence exchange at runtime") {
    // bipartiteProject deliberately lets its two consumers (degree guard
    // + guarded collect) share ONE distinct subtree instead of
    // localCheckpointing it (r19) — sound only while AQE's shuffle-stage
    // reuse materializes the shared exchange once (ADVICE r19: a Spark
    // upgrade losing the reuse would silently run the corpus distinct,
    // and its scan, twice). Runtime assertion, not initial-plan: reuse
    // is an AQE stage-materialization decision.
    val q = Queries.q152CopurchaseProject(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    p should include("isFinalPlan=true")
    val finalSection = p.split("== Initial Plan ==")(0)
    finalSection should include("ReusedExchange")
    // the executed stages scan the incidence table exactly once
    withClue(finalSection) {
      scans(finalSection, "lineitem") shouldBe 1
    }
  }

  test("no query plan contains a CollectLimit-to-driver loop or cartesian product") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val p = fn(spark, dir).queryExecution.executedPlan.toString
      withClue(s"$name: ") {
        p should not include "CartesianProduct"
      }
    }
  }
}
