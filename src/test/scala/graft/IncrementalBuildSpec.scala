package graft

import org.apache.spark.sql.functions._

/** The q145 batch≡incremental theorem, asserted IN-ENGINE (the q75/q113
  * pattern): the incremental manifest — stored previous build + delta-only
  * recomputation + globally-recomputed canonical bits — must equal the
  * full q143 chain re-run over the new snapshot, row for row. The DuckDB
  * oracle proves the same equality cross-engine every round; this spec
  * pins it at sbt time and localizes a failure to the Spark side.
  */
class IncrementalBuildSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("q145 incremental manifest ≡ full rebuild over the new snapshot") {
    // The cell serves the ONE-TASK tier at this corpus size, so this
    // equality is simultaneously the batch≡incremental theorem AND the
    // cross-tier proof against the distributed rebuild.
    val cols = Seq("doc_id", "pass_quality", "pass_exact", "pass_decon",
      "pass_lm", "keep", "final_text", "shard").map(col)
    val inc = Queries.q145IncrementalCorpusBuild(spark, dir).select(cols: _*)
    val full = Queries.corpusBuildCore(spark, dir, Queries.q145NewSnap(spark, dir))
      .select(cols: _*)
    val n = inc.count()
    n shouldBe full.count()
    n should be > 0L
    inc.exceptAll(full).count() shouldBe 0L
    full.exceptAll(inc).count() shouldBe 0L
    spark.catalog.clearCache()
  }

  test("q145's one-task tier ≡ the distributed incremental chain, row for row") {
    // maxLocalBytes = 0 forces the distributed maintenance chain on the
    // same inputs — pins that BOTH halves of the incremental machinery
    // (not just their common full-rebuild fixed point) agree. Plan
    // asserts keep the comparison non-vacuous (see the q148 twin).
    val localF = Queries.q145IncrementalCorpusBuild(spark, dir)
    val distF = Queries.q145IncrementalCorpusBuild(spark, dir, maxLocalBytes = 0L)
    localF.queryExecution.executedPlan.toString should include("MapPartitions")
    distF.queryExecution.executedPlan.toString should not include "MapPartitions"
    val local = localF.collect().map(_.toSeq).sortBy(_.toString)
    val dist = distF.collect().map(_.toSeq).sortBy(_.toString)
    local should not be empty
    local shouldBe dist
    spark.catalog.clearCache()
  }

  test("q143's one-task build tier ≡ the distributed full chain, row for row") {
    // r19: the FULL build serves the same manifestLocal kernel with
    // EMPTY previous-build inputs (every doc takes the recomputed path).
    // maxLocalBytes = 0 forces the distributed corpusBuildCore chain on
    // the same corpus; plan asserts keep the comparison non-vacuous.
    val localF = Queries.q143CorpusBuild(spark, dir)
    val distF = Queries.q143CorpusBuild(spark, dir, maxLocalBytes = 0L)
    localF.queryExecution.executedPlan.toString should include("MapPartitions")
    distF.queryExecution.executedPlan.toString should not include "MapPartitions"
    val local = localF.collect().map(_.toSeq).sortBy(_.toString)
    val dist = distF.collect().map(_.toSeq).sortBy(_.toString)
    local should not be empty
    local shouldBe dist
    spark.catalog.clearCache()
  }

  test("q148 incremental MinHash pair set ≡ full index rebuild over the new snapshot") {
    // The cell serves the ONE-TASK tier at this corpus size, so this
    // equality is simultaneously the batch≡incremental theorem AND the
    // cross-tier proof (local replica vs distributed rebuild).
    val inc = Queries.q148IncrementalMinhash(spark, dir)
    val full = Queries.q148FullRebuild(spark, dir)
    val n = inc.count()
    n shouldBe full.count()
    n should be > 0L
    inc.exceptAll(full).count() shouldBe 0L
    full.exceptAll(inc).count() shouldBe 0L
    spark.catalog.clearCache()
  }

  test("q148's one-task tier ≡ the distributed maintenance chain, row for row") {
    // maxLocalBytes = 0 forces the distributed chain on the same inputs;
    // jaccard doubles must match BIT-for-bit (same division), so the
    // comparison includes them. Plan-shape asserts make the divergence
    // (and so the test) non-vacuous: a stats/schema regression that
    // silently disabled the local tier would otherwise green-light
    // dist == dist forever.
    val localF = Queries.q148IncrementalMinhash(spark, dir)
    val distF = Queries.q148IncrementalMinhash(spark, dir, maxLocalBytes = 0L)
    localF.queryExecution.executedPlan.toString should include("MapPartitions")
    distF.queryExecution.executedPlan.toString should not include "MapPartitions"
    val local = localF.collect().map(_.toSeq).sortBy(_.toString)
    val dist = distF.collect().map(_.toSeq).sortBy(_.toString)
    local should not be empty
    local shouldBe dist
    spark.catalog.clearCache()
  }

  test("q171 incremental BM25 (df ∪ stats ∪ served hits) ≡ full reindex over the new snapshot") {
    // The cell serves the ONE-TASK tier at this corpus size, so this
    // equality — against a from-scratch reindex + serve — is
    // simultaneously the batch≡incremental theorem for the maintained
    // index (df exactly; postings on every probed term via the served
    // hits; stats via avgdl/N riding every score) and the local-tier
    // half of the cross-tier proof. The DuckDB oracle replays the same
    // full reindex cross-engine every round.
    val inc = Queries.q171IncrementalBm25(spark, dir)
    val full = Queries.q171FullReindexServe(spark, dir)
    val n = inc.count()
    n shouldBe full.count()
    n should be > 0L
    inc.exceptAll(full).count() shouldBe 0L
    full.exceptAll(inc).count() shouldBe 0L
    // kind coverage: the vocabulary, the stats row, and served hits
    val kinds = inc.groupBy(col("kind")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    kinds("stats") shouldBe 1L
    kinds("df") should be > 0L
    kinds("hit") should be > 0L
    spark.catalog.clearCache()
  }

  test("q171's one-task tier ≡ the distributed maintenance chain, row for row") {
    // maxLocalBytes = 0 forces the distributed chain (presence
    // semi-joins + AdditiveCounts df maintenance + corpusStats +
    // salted whole-query serving) on the same stored artifacts; the
    // local tier re-derives df/stats from its maintained postings, so
    // this equality ALSO proves the abelian-group df maintenance
    // agrees with direct re-derivation. Plan asserts keep it
    // non-vacuous.
    val localF = Queries.q171IncrementalBm25(spark, dir)
    val distF = Queries.q171IncrementalBm25(spark, dir, maxLocalBytes = 0L)
    localF.queryExecution.executedPlan.toString should include("MapPartitions")
    distF.queryExecution.executedPlan.toString should not include "MapPartitions"
    val local = localF.collect().map(_.toSeq).sortBy(_.toString)
    val dist = distF.collect().map(_.toSeq).sortBy(_.toString)
    local should not be empty
    local shouldBe dist
    spark.catalog.clearCache()
  }

  test("q176 incremental span dedup ≡ full recompute over the new snapshot") {
    // The cell serves the ONE-TASK tier at this corpus size, so this
    // equality is simultaneously the batch≡incremental theorem AND a
    // cross-tier proof against the from-scratch dedupSpansAll.
    val inc = Queries.q176IncrementalSpanDedup(spark, dir)
    val full = Queries.q176FullRecompute(spark, dir)
    val n = inc.count()
    n shouldBe full.count()
    n should be > 0L
    inc.exceptAll(full).count() shouldBe 0L
    full.exceptAll(inc).count() shouldBe 0L
    spark.catalog.clearCache()
  }

  test("q176's one-task tier ≡ the distributed maintenance chain, row for row") {
    // maxLocalBytes = 0 forces the distributed chain (hash diff, delta
    // windows, affected-key aggregate vs the stored summary, closure
    // semi-joins, verbatim manifest reuse) on the same stored
    // artifacts. Plan asserts keep the comparison non-vacuous.
    val localF = Queries.q176IncrementalSpanDedup(spark, dir)
    val distF = Queries.q176IncrementalSpanDedup(spark, dir, maxLocalBytes = 0L)
    localF.queryExecution.executedPlan.toString should include("MapPartitions")
    distF.queryExecution.executedPlan.toString should not include "MapPartitions"
    val local = localF.collect().map(_.toSeq).sortBy(_.toString)
    val dist = distF.collect().map(_.toSeq).sortBy(_.toString)
    local should not be empty
    local shouldBe dist
    spark.catalog.clearCache()
  }

  test("q144's one-task tier ≡ the distributed all-lengths chain, row for row") {
    // maxLocalBytes = 0 forces the five-stage distributed chain (window
    // explode, keyed aggregate, join back, per-doc start lists, sweep)
    // on the same corpus. Plan asserts keep the comparison non-vacuous.
    val localF = Queries.q144AllSpanDedup(spark, dir)
    val distF = Queries.q144AllSpanDedup(spark, dir, maxLocalBytes = 0L)
    localF.queryExecution.executedPlan.toString should include("MapPartitions")
    distF.queryExecution.executedPlan.toString should not include "MapPartitions"
    val local = localF.collect().map(_.toSeq).sortBy(_.toString)
    val dist = distF.collect().map(_.toSeq).sortBy(_.toString)
    local should not be empty
    local shouldBe dist
    spark.catalog.clearCache()
  }

  test("q175's one-task chain tier ≡ the distributed three-step chain, row for row") {
    // maxLocalBytes = 0 forces the distributed chain (three hash-diff
    // deltas + three chained maintainCounts combines) on the same
    // snapshots; the local tier re-derives every status from content
    // hashes inside one task, so this equality also proves the
    // in-task diff agrees with diffHashed. Plan asserts keep it
    // non-vacuous.
    val localF = Queries.q175StreamLmChain(spark, dir)
    val distF = Queries.q175StreamLmChain(spark, dir, maxLocalBytes = 0L)
    localF.queryExecution.executedPlan.toString should include("MapPartitions")
    distF.queryExecution.executedPlan.toString should not include "MapPartitions"
    val local = localF.collect().map(_.toSeq).sortBy(_.toString)
    val dist = distF.collect().map(_.toSeq).sortBy(_.toString)
    local should not be empty
    local shouldBe dist
    spark.catalog.clearCache()
  }

  test("q179 maintained PQ codes ≡ full re-encode over the new snapshot") {
    // Encoding is a pure per-vector function under the frozen codebooks,
    // so stored-row reuse + added-only encoding must equal re-encoding
    // everything (the q159 list-maintenance theorem at the CODE layer).
    val inc = Queries.q179MaintainedCodes(spark, dir)
    val full = Queries.q179FullEncode(spark, dir)
    val n = inc.count()
    n shouldBe full.count()
    n should be > 0L
    inc.exceptAll(full).count() shouldBe 0L
    full.exceptAll(inc).count() shouldBe 0L
    spark.catalog.clearCache()
  }

  test("q173's one-task tier ≡ the distributed vocab-maintenance chain, row for row") {
    // maxLocalBytes = 0 forces the distributed chain (hash diff, two
    // 12-gram window legs, model combine, TakeOrdered caps, except
    // policy diff) on the same stored artifacts; the tier mirrors it in
    // one task — window regex, release-cap order, (word, n) symmetric
    // diff. Plan asserts keep the comparison non-vacuous.
    val localF = Queries.q173VocabMaintain(spark, dir)
    val distF = Queries.q173VocabMaintain(spark, dir, maxLocalBytes = 0L)
    localF.queryExecution.executedPlan.toString should include("MapPartitions")
    distF.queryExecution.executedPlan.toString should not include "MapPartitions"
    val local = localF.collect().map(_.toSeq).sortBy(_.toString)
    val dist = distF.collect().map(_.toSeq).sortBy(_.toString)
    local should not be empty
    local shouldBe dist
    spark.catalog.clearCache()
  }

  test("q181's one-task chain tier ≡ the distributed 3-step CMS chain, row for row") {
    // maxLocalBytes = 0 forces the distributed chain (three hash-diffs,
    // three cell combines, the panel probe) on the same stored cells;
    // the tier folds all three steps in one task with LocalText's
    // bit-exact hash/word replicas, signed partials carried across
    // steps. Plan asserts keep the comparison non-vacuous.
    val localF = Queries.q181StreamCmsChain(spark, dir)
    val distF = Queries.q181StreamCmsChain(spark, dir, maxLocalBytes = 0L)
    localF.queryExecution.executedPlan.toString should include("MapPartitions")
    distF.queryExecution.executedPlan.toString should not include "MapPartitions"
    val local = localF.collect().map(_.toSeq).sortBy(_.toString)
    val dist = distF.collect().map(_.toSeq).sortBy(_.toString)
    local should not be empty
    local shouldBe dist
    spark.catalog.clearCache()
  }

  test("q182's one-task chain tier ≡ the distributed 3-step DSIR chain, row for row") {
    // Same proof at the selection-model layer: three fused target+raw
    // combines vs one task replicating features() bit-for-bit
    // (unigrams + space-joined bigrams, trim-empty drop, md5 buckets).
    val localF = Queries.q182StreamDsirChain(spark, dir)
    val distF = Queries.q182StreamDsirChain(spark, dir, maxLocalBytes = 0L)
    localF.queryExecution.executedPlan.toString should include("MapPartitions")
    distF.queryExecution.executedPlan.toString should not include "MapPartitions"
    val local = localF.collect().map(_.toSeq).sortBy(_.toString)
    val dist = distF.collect().map(_.toSeq).sortBy(_.toString)
    local should not be empty
    local shouldBe dist
    // both splits present in both tiers
    local.map(_.head).distinct.size shouldBe 2
    spark.catalog.clearCache()
  }

  test("q183's one-task chain tier ≡ the distributed 3-step BM25-df chain, row for row") {
    // maxLocalBytes = 0 forces the distributed chain (three hash-diffs,
    // three AdditiveCounts folds over docTerms legs) on the same stored
    // df artifact; the generic chain tier folds all three steps in one
    // task with the localDocTerms replica. Plan asserts keep the
    // comparison non-vacuous.
    val localF = Queries.q183StreamBm25DfChain(spark, dir)
    val distF = Queries.q183StreamBm25DfChain(spark, dir, maxLocalBytes = 0L)
    localF.queryExecution.executedPlan.toString should include("MapPartitions")
    distF.queryExecution.executedPlan.toString should not include "MapPartitions"
    val local = localF.collect().map(_.toSeq).sortBy(_.toString)
    val dist = distF.collect().map(_.toSeq).sortBy(_.toString)
    local should not be empty
    local shouldBe dist
    spark.catalog.clearCache()
  }

  test("the generic chain tier mirrors the distributed null-text semantics (df legs)") {
    // Adversarial tier equality on data the corpus never produces:
    // diffHashed reads null↔text as "changed" and the docTerms leg
    // drops null rows, so null→text adds, text→null subtracts, and
    // null→null (or null present only on one side) moves nothing. The
    // local tier used to coerce null to "" and fold the EMPTY-STRING
    // term's legs — a real df divergence since empty text IS a counted
    // term ("") in the Bm25 tokenization.
    import org.apache.spark.sql.Row
    def snap(rows: (Long, String)*) =
      df("doc_id BIGINT, text STRING", rows.map(r => Row(r._1, r._2)))
    val c0 = snap(1L -> null, 2L -> "alpha beta", 3L -> "", 4L -> "gamma")
    val c1 = snap(1L -> "alpha", 2L -> null, 3L -> "", 5L -> null)
    val c2 = snap(1L -> "alpha", 3L -> null, 5L -> "beta beta")
    val prev = graft.ops.Bm25.docTerms(c0, "text")
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val chain = Seq(c0, c1, c2)
    val local = graft.ops.AdditiveCounts.maintainChainLocal(prev, "term",
        chain, "doc_id", "text", graft.ops.Bm25.localDocTerms _)
      .collect().map(_.toSeq).sortBy(_.toString)
    // distributed composition, the q183 dataflow inline
    def step(m: org.apache.spark.sql.DataFrame,
             o: org.apache.spark.sql.DataFrame,
             n: org.apache.spark.sql.DataFrame) = {
      val d = graft.ops.SnapshotDelta.diff(o, n, "doc_id", "text")
      def leg(s: org.apache.spark.sql.DataFrame, sts: Seq[String]) =
        graft.ops.Bm25.docTerms(
          s.join(d.filter(col("status").isin(sts: _*)).select("doc_id"),
            Seq("doc_id"), "left_semi"), "text")
      graft.ops.AdditiveCounts.maintain(m, "term",
        leg(o, Seq("removed", "changed")), leg(n, Seq("added", "changed")))
    }
    val dist = step(step(prev, c0, c1), c1, c2)
      .collect().map(_.toSeq).sortBy(_.toString)
    // the final model must also equal a fresh docFreq of the last snap
    val fresh = graft.ops.Bm25.docTerms(c2, "text")
      .groupBy(col("term")).agg(count(lit(1)).cast("long").as("cnt"))
      .collect().map(_.toSeq).sortBy(_.toString)
    local shouldBe dist
    local.filter(_(1) != 0L) shouldBe fresh
    spark.catalog.clearCache()
  }

  test("q184's one-task chain tier ≡ the distributed 3-step unit-count chain, row for row") {
    // Same proof at the tokenizer layer: the cap (top-2048 release
    // table) rides OUTSIDE the tier choice, so the equality covers the
    // maintained model through the cap's total order.
    val localF = Queries.q184StreamBpeUnitsChain(spark, dir)
    val distF = Queries.q184StreamBpeUnitsChain(spark, dir, maxLocalBytes = 0L)
    localF.queryExecution.executedPlan.toString should include("MapPartitions")
    distF.queryExecution.executedPlan.toString should not include "MapPartitions"
    val local = localF.collect().map(_.toSeq).sortBy(_.toString)
    val dist = distF.collect().map(_.toSeq).sortBy(_.toString)
    local should not be empty
    local shouldBe dist
    spark.catalog.clearCache()
  }

  test("q103/q145/q148/q179 tier guards count every input their local kernel reads") {
    // Each cap is exactly the estimate of the inputs a guard that
    // skipped the stored artifacts/models would sum. The local kernels
    // also read those, so the full sum exceeds the cap and every cell
    // must fail closed to its distributed chain. The default cap keeps
    // the comparison non-vacuous: there, each cell serves one task.
    def est(inputs: org.apache.spark.sql.DataFrame*): Long =
      inputs.map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum.toLong
    val pts = Queries.quantizedPoints(spark, dir)
    val newSnap = Queries.q145NewSnap(spark, dir)
    val cases = Seq[(String, Long => org.apache.spark.sql.DataFrame, Long, String)](
      ("q103", Queries.q103TrainedIvfTopk(spark, dir, _), est(pts), "Coalesce 1"),
      ("q145", Queries.q145IncrementalCorpusBuild(spark, dir, _), est(newSnap),
        "MapPartitions"),
      ("q148", Queries.q148IncrementalMinhash(spark, dir, _), est(newSnap),
        "MapPartitions"),
      ("q179", Queries.q179IncrementalIvfpq(spark, dir, _),
        est(Queries.q179StoredCodes(spark, dir), Queries.q179StoredLists(spark, dir),
          pts.filter(col("id") % 19 =!= 0)),
        "MapPartitions"))
    for ((q, cell, cap, localMarker) <- cases) withClue(s"$q at cap $cap: ") {
      cell(Tier.LocalBytes).queryExecution.executedPlan.toString should include(localMarker)
      cell(cap).queryExecution.executedPlan.toString should not include localMarker
    }
    spark.catalog.clearCache()
  }

  test("q179's one-task serve tier ≡ the distributed stored-artifact serve, row for row") {
    // maxLocalBytes = 0 forces the distributed ivfPqTopKStored chain
    // (probe window, list equi-join, ADC lookup join + sum, shortlist
    // window, exact re-rank) over the SAME stored maintained artifacts;
    // the tier mirrors every stage in one task — probe tie-break,
    // inner-join drop semantics, (adc, cand_id) and (dist, cand_id)
    // orders. Plan asserts keep the comparison non-vacuous.
    val localF = Queries.q179IncrementalIvfpq(spark, dir)
    val distF = Queries.q179IncrementalIvfpq(spark, dir, maxLocalBytes = 0L)
    localF.queryExecution.executedPlan.toString should include("MapPartitions")
    distF.queryExecution.executedPlan.toString should not include "MapPartitions"
    val local = localF.collect().map(_.toSeq).sortBy(_.toString)
    val dist = distF.collect().map(_.toSeq).sortBy(_.toString)
    local should not be empty
    local shouldBe dist
    spark.catalog.clearCache()
  }

  test("q180's one-task tier ≡ the distributed maintenance chain, row for row") {
    // maxLocalBytes = 0 forces the distributed chain (hash-diff delta,
    // ± word legs, AdditiveCounts cell combine, row-0 total, panel
    // probe) on the same stored artifacts; the tier re-derives all of
    // it in one task with LocalText's bit-exact hash/word replicas.
    // Plan asserts keep the comparison non-vacuous.
    val localF = Queries.q180IncrementalCms(spark, dir)
    val distF = Queries.q180IncrementalCms(spark, dir, maxLocalBytes = 0L)
    localF.queryExecution.executedPlan.toString should include("MapPartitions")
    distF.queryExecution.executedPlan.toString should not include "MapPartitions"
    val local = localF.collect().map(_.toSeq).sortBy(_.toString)
    val dist = distF.collect().map(_.toSeq).sortBy(_.toString)
    local should not be empty
    local shouldBe dist
    spark.catalog.clearCache()
  }

  test("q180 maintained CMS (cells + total + panel serving) ≡ full re-sketch") {
    // Every CMS cell and the stream total are abelian occurrence
    // counts, so maintenance must reproduce the full rebuild exactly —
    // including collision false positives in the heavy flags.
    val inc = Queries.q180IncrementalCms(spark, dir)
    val full = Queries.q180FullRecompute(spark, dir)
    val n = inc.count()
    n shouldBe full.count()
    n should be > 0L
    inc.exceptAll(full).count() shouldBe 0L
    full.exceptAll(inc).count() shouldBe 0L
    spark.catalog.clearCache()
  }

  test("q173 maintained vocab table + refresh policy ≡ full recompute") {
    // The abelian-group maintenance of the unit-count model, the
    // top-2048 release cap and the policy bits must equal the
    // from-scratch derivation (which is also what the oracle replays).
    val inc = Queries.q173VocabMaintain(spark, dir)
    val full = Queries.q173FullRecompute(spark, dir)
    val n = inc.count()
    n shouldBe full.count()
    n should be > 2L // at least one released unit + the two policy rows
    inc.exceptAll(full).count() shouldBe 0L
    full.exceptAll(inc).count() shouldBe 0L
    // the snapshot mutation guarantees the policy actually fires here
    inc.filter(col("kind") === "policy_retrain").head.getLong(2) shouldBe 1L
    spark.catalog.clearCache()
  }

  test("the delta actually exercises every reuse case at sf0.001") {
    // The snapshot arithmetic must produce added, changed, removed AND
    // unchanged docs — otherwise the equivalence above is vacuous for
    // the reuse paths.
    val delta = graft.ops.SnapshotDelta.diff(
      Queries.q145OldSnap(spark, dir), Queries.q145NewSnap(spark, dir),
      "doc_id", "text")
    val counts = delta.groupBy(col("status")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("added", "changed", "removed", "unchanged").foreach { st =>
      withClue(s"status=$st: ") { counts.getOrElse(st, 0L) should be > 0L }
    }
    spark.catalog.clearCache()
  }
}
