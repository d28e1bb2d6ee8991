package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {

  private val docs = df("id BIGINT, text STRING", Seq(
    Row(1L, "the quick brown fox jumps over the lazy dog again and again"),
    Row(2L, "THE  quick Brown fox jumps over the lazy dog again and again"), // exact dup after normalize
    Row(3L, "the quick brown fox jumps over the lazy cat again and again"),  // near dup of 1
    Row(4L, "completely different content with no shared phrases at all"),
    Row(5L, "the quick brown fox jumps over the lazy dog again and again")))  // exact dup of 1

  test("exactDedup: normalized content hash groups case/whitespace variants") {
    val out = Dedup.exactDedup(docs, "id", "text")
    out.count() shouldBe 5
    val canon = out.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    canon(1L) shouldBe 1L
    canon(2L) shouldBe 1L
    canon(5L) shouldBe 1L
    canon(4L) shouldBe 4L
    out.filter(col("is_canonical")).count() shouldBe 3
    out.filter(col("id") === 1L).select("n_copies").collect()(0).getLong(0) shouldBe 3
  }

  test("shingleArray: fewer than n words → empty, else size-n windows") {
    val d = strDf("t", Seq("a b", "a b c d"))
    val out = d.select(Dedup.shingleArray(TextStats.words(col("t")), 3))
      .collect().map(_.getSeq[String](0))
    out(0) shouldBe Seq.empty
    out(1) shouldBe Seq("a b c", "b c d")
  }

  test("ngramJaccardPairs finds near-dups above threshold, not unrelated docs") {
    val byName = Dedup.ngramJaccardPairs(docs, "id", "text", 3, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    byName should contain((1L, 3L)) // one-word edit
    byName should contain((1L, 5L)) // identical text
    byName.foreach { case (a, b) => assert(a < b) }
    assert(!byName.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("minHash pairs are a subset of exact-Jaccard pairs and catch the planted dup") {
    val exact = Dedup.ngramJaccardPairs(docs, "id", "text", 3, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minHashNearDupPairs(docs, "id", "text", 3, 16, 2, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    mh.subsetOf(exact) shouldBe true
    mh should contain((1L, 5L)) // identical text → identical signatures, always caught
  }

  test("nearDupClusters: transitive closure groups chains pairs cannot") {
    // 1 ~ 3 (one-word edit) and 1 ~ 5 (identical) — cluster {1,3,5} under
    // canonical 1 even though 3 ~ 5 may also pair; 2 and 4 depend on their
    // own pairings.
    val clusters = Dedup.nearDupClusters(docs, "id", "text", 3, 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    clusters(1L) shouldBe 1L
    clusters(3L) shouldBe 1L
    clusters(5L) shouldBe 1L
    clusters(4L) shouldBe 4L // no near-dups → own cluster
    clusters.size shouldBe 5 // every doc assigned
  }

  test("nearDupClustersFromPairs: closure over a supplied edge list + universe attachment") {
    // Chain 10-20-30 plus isolated pair 40-50; universe includes 60 with
    // no edge at all. Smallest-reachable-id labeling, singleton attached.
    val pairs = df("doc_a BIGINT, doc_b BIGINT", Seq(
      Row(10L, 20L), Row(20L, 30L), Row(40L, 50L)))
    val universe = df("id BIGINT",
      Seq(Row(10L), Row(20L), Row(30L), Row(40L), Row(50L), Row(60L)))
    val out = Dedup.nearDupClustersFromPairs(pairs, universe, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out shouldBe Map(10L -> 10L, 20L -> 10L, 30L -> 10L,
      40L -> 40L, 50L -> 40L, 60L -> 60L)
  }

  test("single-task union-find fast path ≡ the distributed loop on random graphs") {
    // The fast path (guards passed) and the iterative loop (fast path
    // force-disabled via maxLocalNodes = 0) must land on the identical
    // min-id labeling — chains (deep diameter), cliques, crossed merges
    // and singletons all covered by seeded random graphs.
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 4) {
      val n = 30 + rnd.nextInt(40)
      val pairSeq = (0 until (n * 2)).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2) ++
        // a guaranteed deep chain so pointer jumping is exercised
        (100L until 130L).sliding(2).map(s => (s(0), s(1))).toSeq
      val pairs = df("doc_a BIGINT, doc_b BIGINT",
        pairSeq.map(p => Row(p._1, p._2)))
      val ids = (pairSeq.flatMap(p => Seq(p._1, p._2)).distinct :+ 9999L)
      val universe = df("id BIGINT", ids.map(Row(_)))
      val fast = Dedup.nearDupClustersFromPairs(pairs, universe, "id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val loop = Dedup.nearDupClustersFromPairs(pairs, universe, "id",
          maxLocalNodes = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"trial $trial (n=$n): ") { fast shouldBe loop }
      fast(9999L) shouldBe 9999L // singleton attach on both paths
      fast(129L) shouldBe 100L   // chain resolved to its min id
    }
  }

  test("capShingleDf kills the O(df²) blowup from one corpus-common shingle") {
    // Adversarial corpus: 1000 docs that all share one boilerplate 3-gram
    // but have unique tails. Uncapped, the shingle self-join emits
    // 1000·999/2 candidate rows from that single shingle; capped, zero.
    val rows = (0 until 1000).map(i =>
      Row(i.toLong, s"common boiler plate tail$i unique$i only$i"))
    val adv = df("id BIGINT, text STRING", rows)
    val sh = Dedup.shingleSet(adv, "id", "text", 3)

    def selfJoinRows(s: org.apache.spark.sql.DataFrame): Long =
      s.select(col("id").as("a"), col("shingle"))
        .join(s.select(col("id").as("b"), col("shingle")), Seq("shingle"))
        .filter(col("a") < col("b")).count()

    selfJoinRows(sh) shouldBe 1000L * 999 / 2 // the uncapped quadratic trap
    val capped = Dedup.capShingleDf(sh, 100)
    capped.groupBy("shingle").count().filter(col("count") > 100).count() shouldBe 0
    selfJoinRows(capped) shouldBe 0
    // and the full pair query completes without the blowup
    Dedup.ngramJaccardPairs(adv, "id", "text", 3, 0.5, maxShingleDf = 100)
      .count() shouldBe 0
  }

  test("DF cap leaves recall on the testdata corpus unchanged") {
    val docs001 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def pairs(cap: Int) =
      Dedup.ngramJaccardPairs(docs001, "doc_id", "text", 3, 0.5, maxShingleDf = cap)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs(graft.Queries.MaxShingleDf) shouldBe pairs(0)
  }

  /** Asserts the one-task plan (a `mapPartitions`, no shuffle), the
    * forced plan (the hashed self-join), equal schemas (names and types)
    * and equal rows; returns the rows. */
  private def tiersAgree(local: org.apache.spark.sql.DataFrame,
                         dist: org.apache.spark.sql.DataFrame): Seq[Row] = {
    val (lp, dp) = (local.queryExecution.executedPlan.toString,
      dist.queryExecution.executedPlan.toString)
    lp should include("MapPartitions")
    lp should not include "Exchange"
    dp should include("HashAggregate")
    dp should include("Join")
    def shape(d: org.apache.spark.sql.DataFrame) = d.schema.map(f => (f.name, f.dataType))
    shape(local) shouldBe shape(dist)
    val rows = local.collect().toSeq.sortBy(_.toString)
    rows shouldBe dist.collect().toSeq.sortBy(_.toString)
    rows
  }

  /** Both tiers of [[Dedup.ngramJaccardPairsFromShingles]] on `sh`. */
  private def bothTiers(sh: org.apache.spark.sql.DataFrame, minJaccard: Double): Seq[Row] =
    tiersAgree(Dedup.ngramJaccardPairsFromShingles(sh, "id", minJaccard),
      Dedup.ngramJaccardPairsFromShingles(sh, "id", minJaccard, 0L))

  test("n-gram Jaccard one-task tier ≡ the distributed self-join on the testdata corpora") {
    for (sf <- Seq("sf0.001", "sf0.01")) withClue(s"$sf: ") {
      val dir = s"/root/testdata/$sf"
      tiersAgree(graft.Queries.q21NgramJaccard(spark, dir),
        graft.Queries.q21NgramJaccard(spark, dir, 0L)) should not be empty
    }
  }

  test("n-gram Jaccard tiers agree on duplicate rows, null ids, the threshold and empty inputs") {
    import spark.implicits._
    // duplicate (id, shingle) rows: the join counts their product
    val dup = Seq((1L, "a b c"), (1L, "a b c"), (1L, "b c d"),
      (2L, "a b c"), (2L, "b c d"), (2L, "c d e"),
      (3L, "a b c"), (3L, "a b c"), (3L, "a b c"), (3L, "z z z"))
      .toDF("id", "shingle")
    val dupRows = bothTiers(dup, 0.5)
    // 2 × 3 copies of "a b c" intersect 6 times, more than either size
    dupRows.map(r => (r.getLong(0), r.getLong(1), r.getLong(4))) should contain((1L, 3L, 6L))
    // null ids never pair, and their rows count toward no size
    val nulls = Seq((None, "a b c"), (None, "b c d"), (Some(1L), "a b c"),
      (Some(1L), "b c d"), (Some(2L), "a b c"), (Some(2L), "b c d"))
      .toDF("id", "shingle")
    bothTiers(nulls, 0.5).map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) shouldBe
      Seq((1L, 2L, 2L))
    // 2 of 4 distinct shingles: Jaccard exactly 0.5 is kept; 2 of 5 is not
    val edge = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "a"), (2L, "b"),
      (2L, "d"), (3L, "a"), (3L, "b"), (3L, "e"), (3L, "f"))
      .toDF("id", "shingle")
    bothTiers(edge, 0.5).map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))) shouldBe
      Seq((1L, 2L, 0.5))
    // one shingle twice in each of two docs: 4 / (2 + 2 - 4), so the
    // ANSI division fails on both tiers alike
    val zero = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "a")).toDF("id", "shingle")
    for (cap <- Seq(graft.Tier.LocalBytes, 0L))
      intercept[Exception](Dedup.ngramJaccardPairsFromShingles(zero, "id", 0.5, cap)
        .collect()).getMessage should include("DIVIDE_BY_ZERO")
    // no shared shingle
    bothTiers(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "shingle"), 0.5) shouldBe
      empty
    // no rows: Catalyst folds the forced plan to an empty scan
    val none = Seq.empty[(Long, String)].toDF("id", "shingle")
    val (l0, d0) = (Dedup.ngramJaccardPairsFromShingles(none, "id", 0.5),
      Dedup.ngramJaccardPairsFromShingles(none, "id", 0.5, 0L))
    l0.queryExecution.executedPlan.toString should include("MapPartitions")
    l0.schema.map(f => (f.name, f.dataType)) shouldBe d0.schema.map(f => (f.name, f.dataType))
    l0.collect() shouldBe empty
    d0.collect() shouldBe empty
  }

  test("n-gram Jaccard tiers agree on the uncapped df=1000 shingle") {
    import spark.implicits._
    // collected to a local relation, so the one-task plan holds no
    // shuffle of the shingle set's own DISTINCT
    val sh = Dedup.shingleSet(
      (0 until 1000).map(i => (i.toLong, s"common boiler plate tail$i unique$i only$i"))
        .toDF("id", "text"), "id", "text", 3)
      .as[(Long, String)].collect().toSeq.toDF("id", "shingle")
    // each pair shares one of seven shingles: 499,500 pairs pass 0.1
    bothTiers(sh, 0.1).size shouldBe 1000 * 999 / 2
  }

  test("an IntegerType id takes the distributed n-gram Jaccard plan") {
    import spark.implicits._
    val sh = Seq((1, "a"), (1, "b"), (2, "a"), (2, "b")).toDF("id", "shingle")
    val out = Dedup.ngramJaccardPairsFromShingles(sh, "id", 0.5)
    val p = out.queryExecution.executedPlan.toString
    p should not include "MapPartitions"
    p should include("Join")
    out.collect().map(r => (r.getInt(0), r.getInt(1))) shouldBe Array((1, 2))
  }

  test("ngramJaccardPairs persists its shingle set on the distributed tier only") {
    import spark.implicits._
    val rows = Seq((1L, "one two three four"), (2L, "one two three five"))
    def cached(d: org.apache.spark.sql.DataFrame): Boolean =
      d.queryExecution.executedPlan.toString.contains("InMemoryTableScan")
    val local = Dedup.ngramJaccardPairs(rows.toDF("id", "text"), "id", "text", 3, 0.3)
    cached(local) shouldBe false
    local.queryExecution.executedPlan.toString should include("MapPartitions")
    // RDD-backed: no size estimate, so the guard fails closed
    val dist = Dedup.ngramJaccardPairs(
      df("id BIGINT, text STRING", rows.map { case (i, t) => Row(i, t) }),
      "id", "text", 3, 0.3)
    cached(dist) shouldBe true
    local.collect().toSeq shouldBe dist.collect().toSeq
    spark.catalog.clearCache()
  }

  test("nearDupClusters converges on a 50-node chain (pointer jumping + checkpointing)") {
    // doc_i = "x_i x_{i+1} x_{i+2}": with 2-gram shingles, adjacent docs
    // share 1 of 3 shingles (Jaccard 1/3), non-adjacent share none — a pure
    // 50-node chain with graph diameter 49. Plain min-propagation needs ~49
    // rounds; pointer jumping must converge within the default 20 (≈ log₂),
    // and the run crosses the localCheckpoint boundary at round 5.
    val chain = df("id BIGINT, text STRING",
      (0 until 50).map(i => Row(i.toLong, s"x$i x${i + 1} x${i + 2}")))
    val labels = Dedup.nearDupClusters(chain, "id", "text", 2, 0.3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    labels.size shouldBe 50
    labels.values.toSet shouldBe Set(0L) // one component, min-id canonical
  }

  test("simHashNearDupPairs rejects maxHamming > 3 (recall guarantee would break)") {
    an[IllegalArgumentException] should be thrownBy
      Dedup.simHashNearDupPairs(docs, "id", "text", maxHamming = 4)
  }

  test("simHash: identical docs get identical fingerprints, pairs found at distance 0") {
    val fps = Dedup.simHash(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    fps(1L) shouldBe fps(5L)
    val pairs = Dedup.simHashNearDupPairs(docs, "id", "text", 3)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 5L && p._3 == 0))
  }

  // ---- portable (seeded-md5) flavors: same structural guarantees as the
  // xxhash64 paths, plus the chunk-domain invariant that makes them
  // SQL-replayable (no 64-bit packing, no sign games).

  test("portable minHash pairs ⊆ exact pairs; identical docs always caught") {
    val sh = Dedup.shingleSet(docs, "id", "text", 3)
    val exact = Dedup.ngramJaccardPairsFromShingles(sh, "id", 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minHashNearDupPairsPortable(sh, "id", 16, 2, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    mh.subsetOf(exact) shouldBe true
    mh should contain((1L, 5L))
    // verified Jaccard is the exact one, not an estimate: (1,5) is 1.0
    val j15 = Dedup.minHashNearDupPairsPortable(sh, "id", 16, 2, 0.5)
      .filter(col("doc_a") === 1L && col("doc_b") === 5L)
      .select("jaccard").collect()(0).getDouble(0)
    j15 shouldBe 1.0
  }

  test("portable simHash banding is EXACT at maxHamming<=3 (pigeonhole, 60-doc corpus)") {
    // the q83b claim for the portable flavor: banded pairs must equal
    // brute-force Hamming pairs — on a generated corpus with planted
    // near-dups so the pair set is non-trivial
    val base = Seq("the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs",
      "how vexingly quick daft zebras jump today")
    val rows = (0 until 60).map { i =>
      val t = base(i % 3) + (if (i % 5 == 0) "" else s" tail${i / 5} word${i % 7} extra${i % 4}")
      org.apache.spark.sql.Row(i.toLong, t)
    }
    val corpus = df("id BIGINT, text STRING", rows)
    val fp = Dedup.simHashPortable(
      Dedup.shingleSet(corpus, "id", "text", 3), "id")
      .persist()
    val banded = Dedup.simHashNearDupPairsPortableFromFp(fp, "id", 3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val chunks = fp.collect().map(r => r.getLong(0) -> (1 to 4).map(r.getLong(_))).toMap
    val brute = (for {
      a <- chunks.keys; b <- chunks.keys if a < b
      ham = (0 until 4).map(c =>
        java.lang.Long.bitCount(chunks(a)(c) ^ chunks(b)(c))).sum
      if ham <= 3
    } yield (a, b)).toSet
    banded shouldBe brute
    brute.size should be > 0 // non-vacuous: the planted dups must pair
    fp.unpersist()
  }

  test("portable simHash: chunks in [0,65535], identical docs at distance 0") {
    val sh = Dedup.shingleSet(docs, "id", "text", 3)
    val fp = Dedup.simHashPortable(sh, "id")
    fp.columns.toSeq shouldBe Seq("id", "c0", "c1", "c2", "c3")
    val rows = fp.collect().map(r =>
      r.getLong(0) -> (1 to 4).map(r.getLong(_)))
    rows.foreach { case (_, cs) =>
      cs.foreach(c => assert(c >= 0L && c <= 0xFFFFL, s"chunk out of domain: $c")) }
    val m = rows.toMap
    m(1L) shouldBe m(5L)
    val pairs = Dedup.simHashNearDupPairsPortableFromFp(fp, "id", 3)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 5L && p._3 == 0))
    an[IllegalArgumentException] should be thrownBy
      Dedup.simHashNearDupPairsPortableFromFp(fp, "id", maxHamming = 4)
  }

  test("stopShingles freezes the reference-hot list; removeStopShingles drops only it") {
    val sh = df("id BIGINT, shingle STRING", Seq(
      Row(1L, "a b c"), Row(2L, "a b c"), Row(3L, "a b c"),
      Row(1L, "x y z"), Row(2L, "p q r")))
    val stop = Dedup.stopShingles(sh, maxDf = 2)
    stop.collect().map(_.getString(0)).toSeq shouldBe Seq("a b c")
    val kept = Dedup.removeStopShingles(sh, stop)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("shingle"))).toSet
    kept shouldBe Set((1L, "x y z"), (2L, "p q r"))
  }

  private def manifest(pairs: Seq[(Long, Long)], ids: Seq[Long]) =
    Dedup.nearDupClustersFromPairs(
      df("doc_a BIGINT, doc_b BIGINT", pairs.map(p => Row(p._1, p._2))),
      df("id BIGINT", ids.map(Row(_))), "id")

  test("incrementalClusters equals a fresh recompute across split, merge, add, remove") {
    // Old graph: bridge chain 1-2-3; clusters {10,11} and {20,21};
    // untouched pair {60,61}; singletons 30, 40.
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (60L, 61L))
    val oldIds = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 30L, 40L, 60L, 61L)
    // New snapshot: bridge doc 2 REMOVED (splits {1,2,3} into {1} and
    // {3}); pair 11-20 added (MERGES the 10- and 20-clusters); new doc
    // 50 pairs with 3; singleton 40 removed; pairless doc 51 added;
    // {60,61} and 30 untouched.
    val newPairs = Seq((10L, 11L), (20L, 21L), (11L, 20L), (3L, 50L), (60L, 61L))
    val newIds = Seq(1L, 3L, 10L, 11L, 20L, 21L, 30L, 50L, 51L, 60L, 61L)

    val inc = Dedup.incrementalClusters(
      df("doc_a BIGINT, doc_b BIGINT", oldPairs.map(p => Row(p._1, p._2))),
      df("doc_a BIGINT, doc_b BIGINT", newPairs.map(p => Row(p._1, p._2))),
      manifest(oldPairs, oldIds),
      df("id BIGINT", newIds.map(Row(_))), "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fresh = manifest(newPairs, newIds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    inc shouldBe fresh
    // Spot-check the semantics the equality encodes
    inc(1L) shouldBe 1L; inc(3L) shouldBe 3L; inc(50L) shouldBe 3L // split
    inc(21L) shouldBe 10L                                          // merge
    inc(51L) shouldBe 51L                                          // new singleton
    inc.contains(2L) shouldBe false; inc.contains(40L) shouldBe false
  }

  test("incrementalClusters reuses untouched manifest rows VERBATIM (not recomputed)") {
    // Whitebox: corrupt the stored manifest row of an untouched cluster;
    // if the row were recomputed the corruption would be repaired, so
    // seeing it propagate proves verbatim reuse — the scale claim (the
    // propagation loop never visits untouched clusters).
    val oldPairs = Seq((1L, 2L), (60L, 61L))
    val newPairs = Seq((1L, 2L), (1L, 3L), (60L, 61L)) // touches only cluster 1
    val corrupted = df("id BIGINT, cluster_id BIGINT", Seq(
      Row(1L, 1L), Row(2L, 1L), Row(3L, 3L),
      Row(60L, 59L), Row(61L, 59L))) // 59 is wrong on purpose
    val out = Dedup.incrementalClusters(
      df("doc_a BIGINT, doc_b BIGINT", oldPairs.map(p => Row(p._1, p._2))),
      df("doc_a BIGINT, doc_b BIGINT", newPairs.map(p => Row(p._1, p._2))),
      corrupted,
      df("id BIGINT", Seq(1L, 2L, 3L, 60L, 61L).map(Row(_))), "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out(60L) shouldBe 59L // reused verbatim
    out(61L) shouldBe 59L
    out(1L) shouldBe 1L; out(2L) shouldBe 1L; out(3L) shouldBe 1L // recomputed
  }

  test("incrementalClusters one-task tier ≡ forced-distributed chain, plans diverge") {
    // The r15 split/merge/add/remove scenario run through BOTH tiers:
    // the default call's size-stats guard admits these kilobyte local
    // relations (one-task tier), maxLocalBytes = 0 forces the
    // distributed chain. Equal results, PROVABLY different plans — the
    // plan assertion keeps this test from going vacuous if the guard
    // ever stops engaging (the q148/q164 tier-test discipline).
    // LOCAL-relation inputs, not the suite's RDD-backed helper (the
    // AsofJoinSpec tier lesson): an RDD-backed plan has no size stats
    // (defaults to Long.Max) and always fails closed to the distributed
    // path, so the tier would never actually run here. The manifest is
    // materialized to a local relation for the same reason.
    import spark.implicits._
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (60L, 61L))
    val oldIds = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 30L, 40L, 60L, 61L)
    val newPairs = Seq((10L, 11L), (20L, 21L), (11L, 20L), (3L, 50L), (60L, 61L))
    val newIds = Seq(1L, 3L, 10L, 11L, 20L, 21L, 30L, 50L, 51L, 60L, 61L)
    val man = manifest(oldPairs, oldIds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("id", "cluster_id")
    def run(maxLocalBytes: Long) = Dedup.incrementalClusters(
      oldPairs.toDF("doc_a", "doc_b"),
      newPairs.toDF("doc_a", "doc_b"),
      man,
      newIds.toDF("id"), "id",
      maxLocalBytes = maxLocalBytes)
    val local = run(64L << 20)
    val dist = run(0L)
    // tier divergence: the one-task tier is a tagged union into ONE
    // mapPartitions — no join anywhere; the distributed chain carries
    // the delta/closure/reuse joins in its plan
    val localPlan = local.queryExecution.executedPlan.toString
    val distPlan = dist.queryExecution.executedPlan.toString
    assert(!localPlan.toLowerCase.contains("join"),
      s"one-task tier plan unexpectedly contains a join:\n$localPlan")
    assert(distPlan.toLowerCase.contains("join"),
      "forced-distributed plan lost its delta/closure joins — the " +
        "maxLocalBytes=0 force stopped working and this test is vacuous")
    local.collect().map(r => (r.getLong(0), r.getLong(1))).sorted shouldBe
      dist.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
  }

  test("property: incrementalClusters equals a fresh recompute on random graph deltas") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // Random old/new pair sets over a small id space + random membership
    // churn: exercises splits, merges, bridge removals, singleton
    // add/drop and rep-steals in arbitrary combination.
    val ids = (1L to 12L).toVector
    val pair = for {
      a <- Gen.oneOf(ids); b <- Gen.oneOf(ids.filter(_ != a))
    } yield (math.min(a, b), math.max(a, b))
    val pairSet = Gen.chooseNum(0, 10).flatMap(n => Gen.listOfN(n, pair)).map(_.distinct)
    val scenario = for {
      oldP <- pairSet
      newP <- pairSet
      removedIds <- Gen.someOf(ids)
    } yield (oldP, newP, removedIds.toSet)
    val prop = Prop.forAll(scenario) { case (oldP0, newP0, removed) =>
      val oldIds = ids
      val newIds = ids.filterNot(removed)
      // pairs must reference present docs on each side
      val oldP = oldP0
      val newP = newP0.filter(p => !removed(p._1) && !removed(p._2))
      val pdf = (p: Seq[(Long, Long)]) =>
        df("doc_a BIGINT, doc_b BIGINT", p.map(x => Row(x._1, x._2)))
      // BOTH tiers against the fresh recompute: local-relation inputs
      // (toDF + materialized manifest) so the default call's stats
      // guard admits the one-task tier — the RDD-backed pdf frames
      // have Long.Max stats and always fail closed; maxLocalBytes = 0
      // keeps the distributed delta/closure chain covered on the SAME
      // random scenario.
      import spark.implicits._
      val manLocal = manifest(oldP, oldIds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        .toDF("id", "cluster_id")
      val inc = Dedup.incrementalClusters(
          oldP.toDF("doc_a", "doc_b"), newP.toDF("doc_a", "doc_b"),
          manLocal, newIds.toDF("id"), "id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val incDist = Dedup.incrementalClusters(pdf(oldP), pdf(newP),
          manifest(oldP, oldIds),
          df("id BIGINT", newIds.map(Row(_))), "id", maxLocalBytes = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fresh = manifest(newP, newIds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      inc == fresh && incDist == fresh
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("incrementalClusters end-to-end over frozen-stop-list Jaccard pairs") {
    // Doc corpus flavor of the q153 chain: pairs from shingleSet +
    // frozen stop list on the OLD snapshot, then incremental ≡ fresh.
    val oldDocs = df("id BIGINT, text STRING", Seq(
      Row(1L, "the quick brown fox jumps over the lazy dog tonight"),
      Row(2L, "the quick brown fox jumps over the lazy cat tonight"),
      Row(3L, "entirely different words in this document body here"),
      Row(4L, "another wholly unrelated text with private phrases inside")))
    // New snapshot: doc 2 removed, doc 5 near-dups doc 1, doc 3 unchanged
    val newDocs = df("id BIGINT, text STRING", Seq(
      Row(1L, "the quick brown fox jumps over the lazy dog tonight"),
      Row(3L, "entirely different words in this document body here"),
      Row(4L, "another wholly unrelated text with private phrases inside"),
      Row(5L, "the quick brown fox jumps over the lazy dog today")))
    val stop = Dedup.stopShingles(Dedup.shingleSet(oldDocs, "id", "text", 3), 3)
    def pairsOf(docs: org.apache.spark.sql.DataFrame) =
      Dedup.ngramJaccardPairsFromShingles(
        Dedup.removeStopShingles(Dedup.shingleSet(docs, "id", "text", 3), stop),
        "id", minJaccard = 0.5).select(col("doc_a"), col("doc_b"))
    val oldP = pairsOf(oldDocs)
    val newP = pairsOf(newDocs)
    val inc = Dedup.incrementalClusters(oldP, newP,
      Dedup.nearDupClustersFromPairs(oldP, oldDocs.select(col("id")), "id"),
      newDocs.select(col("id")), "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fresh = Dedup.nearDupClustersFromPairs(newP, newDocs.select(col("id")), "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    inc shouldBe fresh
    inc(5L) shouldBe 1L // the new near-dup clustered with its survivor
  }

  test("property: one-task maintained MinHash pairs ≡ the distributed chain on nasty corpora") {
    // Randomized cross-tier equality on the paths the testdata corpus
    // never reaches: OVER-CAP buckets (a block of identical docs whose
    // shared signature floods every band bucket past bucketCap — the
    // banding must emit NO candidates among them), sub-n-word docs
    // (absent from the index on both tiers), and an add/remove/change
    // mix. The distributed side is composed exactly like
    // Queries.q148MaintainedIndex + minHashPairsFromIndex.
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val rnd = new scala.util.Random(73)
    def mkText(n: Int) = (1 to n).map(_ => words(rnd.nextInt(10))).mkString(" ")
    val base = (1L to 60L).map { i =>
      if (i <= 12) (i, "flood flood common boiler plate text here now ok yes")
      else if (i % 11 == 0) (i, mkText(2)) // sub-3-word: never indexed
      else (i, mkText(8 + rnd.nextInt(6)))
    }
    val oldDocs = df("doc_id BIGINT, text STRING",
      base.filter(_._1 % 17 != 0).map { case (i, t) =>
        Row(i, if (i % 13 == 0) t + " vOne" else t) })
    val newDocs = df("doc_id BIGINT, text STRING",
      base.filter(_._1 % 19 != 0).map { case (i, t) => Row(i, t) })
    val prevHashes = oldDocs.select(col("doc_id"),
      TextStats.contentHash(col("text")).as("content_hash"))
    val prevIndex = Dedup.minHashSignaturesPortable(
      Dedup.shingleSet(oldDocs, "doc_id", "text", 3), "doc_id", k = 16)
    val cap = 8 // 12 identical docs > cap: their buckets must be skipped
    val local = Dedup.maintainedMinHashPairsLocal(prevIndex, prevHashes,
        newDocs, "doc_id", "text", n = 3, k = 16, rowsPerBand = 2,
        minJaccard = 0.5, bucketCap = cap)
      .collect().map(_.toSeq).sortBy(_.toString)
    // distributed: hash-diff -> reuse ∪ re-sign -> banding/verify
    val delta = SnapshotDelta.diffHashed(prevHashes,
      newDocs.select(col("doc_id"),
        TextStats.contentHash(col("text")).as("content_hash")))
    val reused = prevIndex.join(
      delta.filter(col("status") === "unchanged").select("doc_id"),
      Seq("doc_id"), "leftsemi")
    val reSigned = Dedup.minHashSignaturesPortable(
      Dedup.shingleSet(newDocs.join(
          delta.filter(col("needs_processing")).select("doc_id"),
          Seq("doc_id"), "leftsemi"),
        "doc_id", "text", 3), "doc_id", k = 16)
    val dist = Dedup.minHashPairsFromIndex(reused.unionByName(reSigned),
        newDocs, "doc_id", "text", n = 3, k = 16, rowsPerBand = 2,
        minJaccard = 0.5, bucketCap = cap)
      .collect().map(_.toSeq).sortBy(_.toString)
    local shouldBe dist
    // the flood block produced no banding candidates among itself
    local.count { r =>
      r.head.asInstanceOf[Long] <= 12 && r(1).asInstanceOf[Long] <= 12
    } shouldBe 0
    spark.catalog.clearCache()
  }
}
