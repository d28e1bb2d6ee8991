package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.LongSqDist

/** Distributed Lloyd's k-means over embedding columns — the trained-centroid
  * counterpart of [[Similarity]]'s seed-centroid IVF quantizer (its doc
  * explicitly leaves the `cents` frame swappable for a trained one; this is
  * the trainer). In an LLM-data pipeline k-means is the workhorse for
  * semantic sharding, topic-balanced mixture construction, and
  * cluster-then-dedup (SemDeDup-style: near-dups are only searched inside a
  * cluster).
  *
  * All arithmetic is FIXED-POINT INTEGER, the same discipline as
  * [[Graph.pageRank]]: float centroid means are order-dependent under
  * distributed summation and could never hash-match another engine.
  * Components are quantized to 1e-6 units (`floor(x·1e6)` — floor, not
  * round/truncate, because floor is the one integer rounding every engine
  * defines identically for negatives), distances are exact BIGINT sums of squares,
  * and the centroid update divides exact integer sums with `floor(s/n)` in
  * DOUBLE (both operands are ≪ 2^53, so the quotient is the same IEEE
  * double on any engine and its floor is bit-identical).
  *
  * Scale shape per iteration: one broadcast N×k assignment pass (k is tiny;
  * the per-row argmin is a map-side-combined `min(struct)`, so the shuffle
  * carries N rows, not N×k), then a (cluster, dimension)-keyed aggregation
  * of k·d rows. No driver actions, no collect; the quantized points are
  * localCheckpoint'ed once and every iteration reads the stored blocks.
  */
object Cluster {

  /** Components are BIGINTs in units of 1e-6. */
  val QuantScale = 1000000L

  /** Quantize a float/double array column to scaled BIGINTs. */
  def quantize(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(QuantScale.toDouble)).cast("long"))

  /** Exact squared L2 distance between two equal-length BIGINT arrays, via
    * `graft_sqdist_q`: a static call of [[graft.functions.LongSqDist]]'s
    * fold (requires `GraftExtensions` on the session — all graft entry
    * points install it). Keeps the N×k assignment pass inside whole-stage
    * codegen instead of a per-element interpreted `zip_with`+`aggregate`
    * fold. */
  def sqDistQ(a: Column, b: Column): Column =
    call_function("graft_sqdist_q", a, b)

  /** Lexicographic argmin over a broadcast struct-array of candidates:
    * one struct(dist, id) per element, each distance evaluated ONCE;
    * `array_min`'s struct ordering reproduces the old
    * `min(struct(dist, id))` groupBy-argmin tie-break exactly (smallest
    * distance, then smallest id) and returns NULL on an empty array —
    * callers filter, instead of special-casing a sentinel seed. The one
    * shared argmin for the batch ([[assignQ]]), streaming
    * ([[assignStreaming]]) and PQ ([[Pq]] codes) tiers, whose
    * bit-equality the specs pin — fix tie-break semantics HERE, once.
    * `vecField`/`idField` name the struct fields ("cv"/"cluster_id" for
    * centroids, "cw"/"code_id" for codewords). */
  private[ops] def argminStruct(arr: Column, vec: Column,
                                vecField: String, idField: String): Column =
    array_min(transform(arr, c =>
      struct(sqDistQ(vec, c.getField(vecField)).as("d"),
        c.getField(idField).as("cid"))))

  /** Nearest-centroid assignment: (id, qv, cluster_id, dist). NARROW
    * (round 18): the k centroids fold into ONE static cluster_id-sorted
    * struct-array row (the [[assignStreaming]] idiom — same bytes the
    * per-centroid broadcast carried) and the argmin is a per-row strict
    * less-than fold, which on the sorted array reproduces the old
    * `min(struct(dist, cluster_id))` tie-break exactly (smallest dist,
    * then smallest centroid id). The previous shape exchanged N rows
    * (with their vectors, via `first(qv)`) through a groupBy — pure
    * shuffle cost for a value computable where the row sits. Zero
    * exchanges now; every assignQ consumer (q101/q102/q159/SemDedup/
    * the maintenance family) drops one corpus-sized shuffle. */
  def assignQ(pts: DataFrame, cents: DataFrame): DataFrame = assign(pts, cents)

  private def assign(pts: DataFrame, cents: DataFrame): DataFrame =
    pts.crossJoin(broadcast(cents.agg(
        collect_list(struct(col("cluster_id"), col("cv"))).as("_cents"))))
      .select(col("id"), col("qv"),
        argminStruct(col("_cents"), col("qv"), "cv", "cluster_id").as("_b"))
      // empty-centroid frame → null argmin → empty assignment (the old
      // crossJoin semantics), never a sentinel row
      .filter(col("_b").isNotNull)
      .select(col("id"), col("qv"), col("_b.cid").as("cluster_id"),
        col("_b.d").as("dist"))

  /** Fixed-iteration Lloyd's k-means. Returns the FINAL assignment
    * (`idCol`, cluster_id, dist) — cluster_id is the seed row's id, dist the
    * exact quantized squared distance to the trained centroid.
    *
    * Seeds are the k rows with the SMALLEST `idCol` values (orderBy+limit →
    * TakeOrderedAndProject, no global window) — deterministic and
    * scale-independent, the same no-RNG stance as the IVF quantizer's
    * every-k-th seeds. A cluster that loses all members simply drops out of
    * the update (k shrinks); with floor-stable arithmetic any other engine
    * running the same recurrence drops the same clusters.
    *
    * `iterations` counts assignment→update rounds; one more assignment
    * against the final centroids produces the output. Bounded at 6 because
    * the whole computation is ONE lazy unrolled plan (no driver actions) —
    * beyond that, checkpoint between rounds instead.
    */
  /** Quantize once and truncate lineage; every training iteration (and the
    * final assignment) re-reads the stored blocks instead of re-running the
    * scan + quantization. */
  private def quantizedPts(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("id"), quantize(col(vecCol)).as("qv"))
      .localCheckpoint()

  /** The Lloyd training loop over a quantized (id, qv) frame — returns the
    * trained centroid frame (cluster_id, cv). Public so a pipeline can
    * quantize + store points ONCE (a scratch/silver artifact), train the
    * model off the stored frame, and hand the tiny centroid table to every
    * consumer — the train-once/serve-many shape; see [[kMeansQ]]. */
  def train(pts: DataFrame, k: Int, iterations: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1; got $k")
    require(iterations >= 1 && iterations <= 6,
      s"iterations must be in [1,6] (fixed-point plans unroll per iteration); got $iterations")
    var cents = pts.orderBy(col("id")).limit(k)
      .select(col("id").as("cluster_id"), col("qv").as("cv"))
    for (_ <- 1 to iterations) {
      val a = assign(pts, cents)
      cents = a
        .select(col("cluster_id"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy(col("cluster_id"), col("pos"))
        // floor(s/n) in DOUBLE: |s| ≤ |component|·N ≪ 2^53 and n ≤ N are
        // both exact doubles, so the IEEE quotient — and its floor — is
        // engine-independent. BIGINT `div` would truncate toward zero and
        // disagree with floor on negative sums.
        .agg((floor(sum(col("v")).cast("double") / count(lit(1)).cast("double")))
          .cast("long").as("cv1"))
        .groupBy(col("cluster_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv1")))),
          s => s.getField("cv1")).as("cv"))
    }
    cents
  }

  def kMeans(emb: DataFrame, idCol: String, vecCol: String,
             k: Int, iterations: Int): DataFrame =
    kMeansQ(quantizedPts(emb, idCol, vecCol), k, iterations)
      .withColumnRenamed("id", idCol)

  /** [[kMeans]] over an ALREADY-quantized (id, qv) frame — the entry point
    * for callers that materialize [[quantize]]d points once (a scratch
    * parquet, a silver table) and train/assign off the stored blocks
    * instead of paying scan + quantization + lineage truncation per call.
    * Returns (id, cluster_id, dist). */
  def kMeansQ(pts: DataFrame, k: Int, iterations: Int): DataFrame =
    assign(pts, train(pts, k, iterations))
      .select(col("id"), col("cluster_id"), col("dist"))

  /** The trained centroid frame (cluster_id, cv) alone — for callers that
    * apply the quantizer elsewhere (e.g. [[assignStreaming]] scoring an
    * ingest stream against centroids trained on the standing corpus). */
  def kMeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
                      k: Int, iterations: Int): DataFrame =
    train(quantizedPts(emb, idCol, vecCol), k, iterations)

  /** Nearest-centroid assignment with NO aggregation over the input — the
    * streaming-safe form of the assignment pass (semantic routing at
    * ingest). The k centroids are folded into ONE static row (an array
    * of (cluster_id, cv) structs) and cross-joined into every
    * micro-batch; the argmin is [[argminStruct]] — the SAME per-row
    * struct-min the batch [[assignQ]] runs, so batch/stream bit-equality
    * holds by construction, not by parallel-maintained copies. The query
    * is a stream-static join plus a stateless projection — no watermark,
    * no state store, identical output on a batch frame and a readStream
    * frame. k is small by construction, so the argmin costs k sqdists
    * per row. */
  def assignStreaming(emb: DataFrame, idCol: String, vecCol: String,
                      cents: DataFrame): DataFrame =
    emb.select(col(idCol), quantize(col(vecCol)).as("qv"))
      .crossJoin(cents.agg(
        collect_list(struct(col("cluster_id"), col("cv"))).as("_cents")))
      .select(col(idCol),
        argminStruct(col("_cents"), col("qv"), "cv", "cluster_id").as("_b"))
      .filter(col("_b").isNotNull)
      .select(col(idCol), col("_b.cid").as("cluster_id"), col("_b.d").as("dist"))

  /** TRAINED-centroid IVF top-k in quantized L2 space — [[kMeans]]'s
    * quantizer feeding an inverted-file search (the composition
    * [[Similarity]]'s seed-centroid IVF leaves open). Every vector joins
    * its nearest trained centroid's list; a query probes its `nProbe`
    * nearest lists and ranks only their members by EXACT quantized
    * distance. Integer arithmetic end to end, so the full result —
    * distances and ranks included — hash-matches an engine-independent
    * oracle.
    *
    * Scale shape: training + one broadcast N×k ranking pass (k centroids
    * broadcast; window per vector id), then bucket-bounded candidate
    * ranking — never N². The ranking frame feeds lists AND probes →
    * persisted (caching contract: release with
    * `spark.catalog.clearCache()`).
    */
  def ivfSearchQ(emb: DataFrame, idCol: String, vecCol: String,
                 kClusters: Int, iterations: Int,
                 queryPred: Column, topK: Int, nProbe: Int): DataFrame = {
    val pts = quantizedPts(emb, idCol, vecCol)
    ivfSearchQPts(pts, train(pts, kClusters, iterations),
      emb.filter(queryPred).select(col(idCol).as("id")), topK, nProbe)
  }

  /** Per-vector centroid ranking (id, [qv,] cluster_id, _r), _r = 1 the
    * nearest trained centroid in exact quantized L2, capped at `maxR`
    * ranks — the shared front half of every inverted-file consumer
    * ([[ivfSearchQPts]] builds lists AND probes from it; [[Pq.ivfPqTopK]]
    * the same). Callers that read it more than once persist it themselves.
    *
    * NARROW (round 18, the [[graft.ops.Similarity]] assignment shape):
    * centroids fold into one sorted struct-array row; each vector ranks
    * them in-task (ascending (dist, cluster_id) struct sort — exact
    * integer distances, identical tie-break to the old window) and
    * explodes only its top `maxR`. The previous shape shuffled all N×k
    * ranked rows through a window exchange for consumers that never read
    * past rank nProbe. `keepVec = true` carries qv through — free here,
    * and it saves the downstream pair-set from re-joining pts just to
    * fetch vectors. */
  def rankCentroidsQ(pts: DataFrame, cents: DataFrame, maxR: Int,
                     keepVec: Boolean = false): DataFrame = {
    require(maxR >= 1, s"maxR must be >= 1; got $maxR")
    val centsRow = cents.agg(
      array_sort(collect_list(struct(col("cluster_id"), col("cv")))).as("_cents"))
    val ranked = array_sort(transform(col("_cents"), c =>
      struct(sqDistQ(col("qv"), c.getField("cv")).as("_d"),
        c.getField("cluster_id").as("cluster_id"))))
    val keep = Seq(col("id")) ++ (if (keepVec) Seq(col("qv")) else Nil)
    pts.crossJoin(broadcast(centsRow))
      .select(keep :+ posexplode(slice(ranked, lit(1), lit(maxR))): _*)
      .select(keep ++ Seq(col("col.cluster_id").as("cluster_id"),
        (col("pos") + 1).cast("int").as("_r")): _*)
  }

  /** [[ivfSearchQ]] with the quantized points AND the trained centroids
    * supplied by the caller — the serve path when both are stored
    * artifacts (points quantized once per snapshot, model trained once).
    * `queryIds` is a one-column (`id`) frame naming the query vectors. */
  def ivfSearchQPts(pts: DataFrame, cents: DataFrame,
                    queryIds: DataFrame, topK: Int, nProbe: Int): DataFrame = {
    require(nProbe >= 1 && topK >= 1,
      s"topK and nProbe must be >= 1; got topK=$topK nProbe=$nProbe")
    // Lists carry their member's vector and probes the query's (free in
    // the narrow ranking) so the bucket join scores distances directly —
    // no pair-set re-joins on pts. And lists take `_r === 1` only, so a
    // (query, cand) pair surfaces at most once: the old pair-level
    // `.distinct()` was a redundant exchange (the ivfSearchStoredLists
    // r16 argument, now applied at the source).
    val ranked = rankCentroidsQ(pts, cents, maxR = nProbe, keepVec = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val lists = ranked.filter(col("_r") === 1)
      .select(col("id").as("cand_id"), col("cluster_id"), col("qv").as("_qb"))
    // panel-sized dedup: the old pair-level distinct also collapsed a
    // panel with duplicate ids; without it a dup id would double its
    // probe rows and burn top-K slots on duplicate candidates
    val probes = ranked
      .join(queryIds.select(col("id")).distinct(), Seq("id"))
      .filter(col("_r") <= nProbe)
      .select(col("id").as("query_id"), col("cluster_id"), col("qv").as("_qa"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("cand_id"))
    probes.join(lists, Seq("cluster_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("dist", sqDistQ(col("_qa"), col("_qb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("cand_id"), col("dist"), col("rank"))
  }

  /** [[ivfSearchQPts]] with the inverted LISTS supplied by the caller —
    * the true serving path once the list table is a maintained stored
    * artifact ([[assignQ]] output, (id → cluster_id)): at query time
    * ONLY the query vectors rank against the k broadcast centroids;
    * the corpus-sized nearest-list pass that [[ivfSearchQPts]] redoes
    * per call is exactly what the stored index deletes. `lists` must
    * be the assignment of `pts` under `cents` (same argmin tie-break —
    * smallest centroid id), which [[assignQ]] guarantees; result is
    * then bit-equal to [[ivfSearchQPts]] (ClusterSpec asserts it). */
  def ivfSearchStoredLists(pts: DataFrame, cents: DataFrame,
                           lists: DataFrame, queryIds: DataFrame,
                           topK: Int, nProbe: Int): DataFrame = {
    require(nProbe >= 1 && topK >= 1,
      s"topK and nProbe must be >= 1; got topK=$topK nProbe=$nProbe")
    // Inlined centroid ranking that CARRIES the query vector (r16 floor
    // trim): [[rankCentroidsQ]] drops qv, which forced a third pts join
    // downstream just to re-fetch the 4 probe vectors this frame
    // already held. Same ranking arithmetic and tie-break.
    val wr = Window.partitionBy(col("id")).orderBy(col("_d"), col("cluster_id"))
    // panel-sized dedup: a duplicate panel id inside the ranking window
    // would interleave each centroid twice and probe the nearest list
    // repeatedly instead of the top nProbe lists
    val probes = pts.join(queryIds.select(col("id")).distinct(), Seq("id"))
      .crossJoin(broadcast(cents))
      .select(col("id"), col("qv"), col("cluster_id"),
        sqDistQ(col("qv"), col("cv")).as("_d"))
      .withColumn("_r", row_number().over(wr))
      .filter(col("_r") <= nProbe)
      .select(col("id").as("query_id"), col("qv").as("_qa"), col("cluster_id"))
    val cands = lists.select(col("id").as("cand_id"), col("cluster_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("cand_id"))
    // No distinct (r16 floor trim): a vector belongs to exactly ONE
    // inverted list (the assignment contract above — one row per id),
    // so the probes×lists equi-join emits each (query, cand) at most
    // once and the dedup exchange ivfSearchQPts keeps (where it is
    // equally redundant but free inside its persisted frame) is pure
    // stage latency here. A malformed list table with duplicate id
    // rows violates the stated input contract.
    probes.join(cands, Seq("cluster_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .join(pts.select(col("id").as("cand_id"), col("qv").as("_qb")), Seq("cand_id"))
      .withColumn("dist", sqDistQ(col("_qa"), col("_qb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("cand_id"), col("dist"), col("rank"))
  }

  /** [[ivfSearchQPts]]/[[ivfSearchStoredLists]] as ONE guarded task —
    * the [[graft.ops.Pq.serveStoredLocal]] treatment for the exact-IVF
    * serve (no ADC stage): at serving scale the distributed chain is
    * probe window + list join + candidate-vector join + rank window of
    * pure scheduler latency. The four inputs ride a tagged union (no
    * driver collect) into one `mapPartitions` task mirroring the
    * distributed arithmetic step for step: [[graft.functions
    * .LongSqDist]]'s exact fold, (d, cluster_id) probe tie-break,
    * inner-join candidate-vector semantics (a list id with no pts row
    * drops), (dist, cand_id) rank, query-panel dedup. Callers guard
    * fail-CLOSED on Catalyst size stats; cross-tier equality is spec'd
    * (ClusterSpec). `lists` must hold one row per id (the assignment
    * contract). Output: (query_id, cand_id, dist, rank: int). */
  def ivfServeLocal(pts: DataFrame, cents: DataFrame, lists: DataFrame,
                    queryIds: DataFrame, topK: Int, nProbe: Int): DataFrame = {
    require(nProbe >= 1 && topK >= 1,
      s"topK and nProbe must be >= 1; got topK=$topK nProbe=$nProbe")
    val spark = pts.sparkSession
    import spark.implicits._
    val nullL = lit(null).cast("long")
    val nullA = lit(null).cast("array<bigint>")
    val tagged = pts.select(lit("p").as("_t"), col("id").cast("long").as("_id"),
        nullL.as("_c"), col("qv").as("_v"))
      .unionByName(cents.select(lit("e").as("_t"),
        col("cluster_id").cast("long").as("_id"), nullL.as("_c"),
        col("cv").as("_v")))
      .unionByName(lists.select(lit("l").as("_t"), col("id").cast("long").as("_id"),
        col("cluster_id").cast("long").as("_c"), nullA.as("_v")))
      .unionByName(queryIds.select(lit("q").as("_t"),
        col("id").cast("long").as("_id"), nullL.as("_c"), nullA.as("_v")))
    val kG = topK; val nProbeG = nProbe
    tagged.coalesce(1).mapPartitions { it =>
      import scala.collection.mutable
      val vec = mutable.HashMap.empty[Long, Array[Long]]
      val centRows = mutable.ArrayBuffer.empty[(Long, Array[Long])]
      val members = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
      val qIds = mutable.LinkedHashSet.empty[Long]
      def arr(row: org.apache.spark.sql.Row): Array[Long] =
        row.getSeq[Long](3).toArray
      it.foreach { row =>
        row.getString(0) match {
          case "p" => vec.update(row.getLong(1), arr(row))
          case "e" => centRows += ((row.getLong(1), arr(row)))
          case "l" => members.getOrElseUpdate(row.getLong(2),
            mutable.ArrayBuffer.empty) += row.getLong(1)
          case _ => qIds += row.getLong(1)
        }
      }
      val cents0 = centRows.toArray
      qIds.iterator.filter(vec.contains).flatMap { q =>
        val qv = vec(q)
        val probed = cents0.map { case (cid, cv) => (LongSqDist.sqDist(qv, cv), cid) }
          .sortBy(identity).take(nProbeG).map(_._2)
        probed.iterator
          .flatMap(cid => members.getOrElse(cid, Nil))
          .filter(_ != q)
          .flatMap(c => vec.get(c).map(cv => (LongSqDist.sqDist(qv, cv), c))).toArray
          .sortBy(identity).take(kG).zipWithIndex
          .iterator.map { case ((d, c), i) => (q, c, d, i + 1) }
      }
    }.toDF("query_id", "cand_id", "dist", "rank")
      .select(col("query_id"), col("cand_id"), col("dist"),
        col("rank").cast("int").as("rank"))
  }
}
