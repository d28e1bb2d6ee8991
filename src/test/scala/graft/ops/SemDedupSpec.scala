package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[SemDedup]] — the cluster-sharded survivor manifest and its
  * incremental maintenance (the q174 family). The small-frame tests pin
  * the maintenance theorem's moving parts (delta-only assignment,
  * deletion-driven un-domination, verbatim reuse); the sf0.01 test pins
  * the registered composition against its full-recompute twin with
  * non-vacuity counts (the q174 oracle replays the same equality
  * cross-engine every round). */
class SemDedupSpec extends SparkSpec {

  // 2-d unit-ish vectors: same-direction pairs are near-dups (cosine 1),
  // orthogonal ones are not. Clusters are pinned by centroid geometry.
  private def emb(rows: (Long, Seq[Float])*): DataFrame =
    df("vec_id BIGINT, embedding ARRAY<FLOAT>", rows.map(r => Row(r._1, r._2)))

  private def pts(e: DataFrame): DataFrame =
    e.select(col("vec_id").as("id"), Cluster.quantize(col("embedding")).as("qv"))

  // Frozen 2-centroid model: cluster 0 at (1, 0), cluster 1 at (0, 1).
  private val cents = () => df("cluster_id BIGINT, cv ARRAY<BIGINT>", Seq(
    Row(0L, Seq(1000000L, 0L)), Row(1L, Seq(0L, 1000000L))))

  private def man(e: DataFrame): DataFrame =
    SemDedup.manifest(
      Cluster.assignQ(pts(e), cents()).select(col("id").as("vec_id"),
        col("cluster_id")),
      e, "vec_id", "embedding", minCosine = 0.45)

  private def collectMan(d: DataFrame): Map[Long, (Long, Boolean)] =
    d.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap

  test("manifest: smallest-id survivor per near-dup neighborhood, per cluster") {
    val e = emb(
      1L -> Seq(1.0f, 0.05f), 2L -> Seq(1.0f, 0.06f), // cluster 0 near-dups
      3L -> Seq(0.05f, 1.0f),                          // cluster 1 alone
      4L -> Seq(-1.0f, 0.5f))  // cluster 1 (qdist 1.25 vs 4.25) but cosine ≈ 0.40
    val out = collectMan(man(e))
    out(1L) shouldBe (0L, true)   // smallest id survives
    out(2L) shouldBe (0L, false)  // dominated by 1
    out(3L) shouldBe (1L, true)
    out(4L) shouldBe (1L, true)   // same cluster but cosine < 0.45
  }

  test("incrementalManifest ≡ fresh recompute across add, remove and un-domination") {
    val oldE = emb(
      1L -> Seq(1.0f, 0.05f), 2L -> Seq(1.0f, 0.06f), // 1 dominates 2
      3L -> Seq(0.05f, 1.0f), 4L -> Seq(0.06f, 1.0f), // 3 dominates 4
      5L -> Seq(-0.9f, 1.0f))
    // New snapshot: 1 REMOVED (must UN-dominate 2), 6 ADDED as a new
    // near-dup of 3 (must be dominated), cluster of 5 untouched? no —
    // 5 shares cluster 1 with 3/4/6, so the only untouched-cluster case
    // lives in the next test; here every cluster is affected.
    val newE = emb(
      2L -> Seq(1.0f, 0.06f),
      3L -> Seq(0.05f, 1.0f), 4L -> Seq(0.06f, 1.0f),
      5L -> Seq(-0.9f, 1.0f), 6L -> Seq(0.05f, 0.99f))
    val prevLists = Cluster.assignQ(pts(oldE), cents())
      .select(col("id"), col("cluster_id"))
    val inc = collectMan(SemDedup.incrementalManifest(
      prevLists, man(oldE), pts(newE), newE, cents(),
      "vec_id", "embedding", minCosine = 0.45))
    val fresh = collectMan(man(newE))
    inc shouldBe fresh
    inc(2L)._2 shouldBe true  // un-dominated by 1's removal
    inc(6L)._2 shouldBe false // added near-dup dominated by 3
    inc.contains(1L) shouldBe false
  }

  test("untouched clusters reuse manifest rows VERBATIM (corrupted-row whitebox)") {
    // The q153 whitebox applied here: corrupt an untouched cluster's
    // kept bit in the stored manifest; recomputation would repair it,
    // so seeing it propagate proves the dominance join never visits
    // untouched clusters.
    val oldE = emb(
      1L -> Seq(1.0f, 0.05f), 2L -> Seq(1.0f, 0.06f), // cluster 0
      3L -> Seq(0.05f, 1.0f))                          // cluster 1
    val newE = emb(
      1L -> Seq(1.0f, 0.05f), 2L -> Seq(1.0f, 0.06f),
      3L -> Seq(0.05f, 1.0f), 7L -> Seq(0.04f, 1.0f)) // 7 added → cluster 1
    val prevLists = Cluster.assignQ(pts(oldE), cents())
      .select(col("id"), col("cluster_id"))
    val corrupted = df("vec_id BIGINT, cluster_id BIGINT, kept BOOLEAN", Seq(
      Row(1L, 0L, false), Row(2L, 0L, false), // both wrong on purpose
      Row(3L, 1L, true)))
    val out = collectMan(SemDedup.incrementalManifest(
      prevLists, corrupted, pts(newE), newE, cents(),
      "vec_id", "embedding", minCosine = 0.45))
    out(1L) shouldBe (0L, false) // reused verbatim, corruption intact
    out(2L) shouldBe (0L, false)
    out(3L) shouldBe (1L, true)  // recomputed (its cluster got doc 7)
    out(7L) shouldBe (1L, false)
  }

  test("q174's one-task tier ≡ the distributed maintenance chain, row for row") {
    // maxLocalBytes = 0 forces the distributed chain on the same stored
    // artifacts; plan asserts keep the divergence (and so the test)
    // non-vacuous. Floating cosines must match BIT-for-bit — the local
    // tier calls FloatDot's own left fold.
    val dir = "/root/testdata/sf0.01"
    val localF = graft.Queries.q174IncrementalSemdedup(spark, dir)
    val distF = graft.Queries.q174IncrementalSemdedup(spark, dir,
      maxLocalBytes = 0L)
    localF.queryExecution.executedPlan.toString should include("MapPartitions")
    distF.queryExecution.executedPlan.toString should not include "MapPartitions"
    val local = localF.collect().map(_.toSeq).sortBy(_.toString)
    val dist = distF.collect().map(_.toSeq).sortBy(_.toString)
    local should not be empty
    local shouldBe dist
    spark.catalog.clearCache()
  }

  test("q174 ≡ full recompute at sf0.01, with non-vacuous delta AND reuse") {
    val dir = "/root/testdata/sf0.01"
    val inc = graft.Queries.q174IncrementalSemdedup(spark, dir)
    val full = graft.Queries.q174FullRecompute(spark, dir)
    val n = inc.count()
    n shouldBe full.count()
    n should be > 0L
    inc.exceptAll(full).count() shouldBe 0L
    full.exceptAll(inc).count() shouldBe 0L
    // non-vacuity: the %97/%101 snapshot arithmetic must actually add
    // AND remove ids, and the occupancy-16 model must leave some
    // clusters untouched — otherwise the reuse path proved nothing
    val emb = graft.Tables.wide(spark, dir, "embeddings")
      .select(col("vec_id"))
    val added = emb.filter(col("vec_id") % 97 === 0 &&
      col("vec_id") % 101 =!= 0).count()
    val removed = emb.filter(col("vec_id") % 101 === 0 &&
      col("vec_id") % 97 =!= 0).count()
    added should be > 0L
    removed should be > 0L
    // untouched clusters, derived exactly as the operator derives them:
    // clusters of added ids (fresh assignment) ∪ clusters of removed
    // ids (from the stored old lists) — some of the model's clusters
    // must sit OUTSIDE that set or the verbatim-reuse path proved
    // nothing at this corpus/delta shape
    val prevLists = graft.Queries.prevSemLists(spark, dir)
    val newIds = graft.Tables.wide(spark, dir, "embeddings")
      .filter(col("vec_id") % 101 =!= 0).select(col("vec_id").as("id"))
    val addedClusters = full
      .join(prevLists.select(col("id").as("vec_id")), Seq("vec_id"),
        "left_anti")
      .select(col("cluster_id"))
    val removedClusters = prevLists
      .join(newIds, Seq("id"), "left_anti").select(col("cluster_id"))
    val affected = addedClusters.unionByName(removedClusters)
      .distinct().count()
    val total = prevLists.select(col("cluster_id")).distinct().count()
    withClue(s"affected=$affected total=$total: ") {
      affected should be > 0L
      total should be > affected
    }
    spark.catalog.clearCache()
  }
}
