package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.FloatDot

/** Embedding similarity search for the LLM-data-pipeline extension (SURVEY
  * §7.5) over the `embeddings` table (`Array[Float]` column).
  *
  * Dot products are built from `zip_with` + `aggregate` higher-order
  * functions — strict left-fold in DOUBLE, so any engine folding
  * left-to-right (the DuckDB oracle does) reproduces the doubles
  * bit-for-bit. No UDFs.
  *
  * Two search paths:
  *  - [[bruteForceTopK]]: exact cosine top-k; O(|queries| × N) — the
  *    correctness baseline, fine when queries are few (broadcast) and the
  *    candidate scan is partition-parallel.
  *  - [[lshTopK]]: random-hyperplane LSH — candidates share a signature
  *    bucket in at least one of L tables, so the cosine is only computed
  *    for bucket-mates. The hyperplanes are derived from xxhash64(dim, bit,
  *    table) signs: deterministic, no RNG state, no model object to ship.
  */
object Similarity {

  /** Left-fold double dot product of two float-array columns, via
    * `graft_float_dot`: a static call of [[graft.functions.FloatDot.dot]]
    * inside whole-stage codegen. Requires
    * `graft.functions.GraftExtensions` installed on the session (all graft
    * entry points do); [[dotHof]] is the extension-free equivalent. */
  def dot(a: Column, b: Column): Column =
    call_function("graft_float_dot", a, b)

  /** Builtin-only dot product (zip_with+aggregate fold) — identical values
    * to [[dot]], usable without session extensions, but CodegenFallback
    * (interpreted per element) so keep it off O(N×Q) hot loops. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity: dot/(|a|·|b|), fixed operation order. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Embedding-cosine near-dup PAIRS (id_a < id_b, cosine >= minCosine) —
    * the semantic-dedup counterpart of the n-gram Jaccard pairs. This is
    * the exact formulation over the given frame: O(N²/2) — sample or
    * pre-bucket (e.g. [[lshSignatures]] buckets as the candidate
    * generator) before calling it at corpus scale.
    *
    * `maxRows` is an EXPLICIT misuse guard, not a tuning knob: the input
    * row count is checked up front and the call fails fast when the frame
    * exceeds it, instead of launching an N² cross join that would run for
    * days at corpus scale. Callers that have deliberately sampled or
    * bucketed can raise it to their known bound; the scale path is
    * [[ivfNearDupPairs]]. */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         minCosine: Double, maxRows: Long = 100000L): DataFrame = {
    val n = emb.count()
    require(n <= maxRows,
      s"cosineNearDupPairs is exact O(N^2): got N=$n rows > maxRows=$maxRows. " +
        "Sample/bucket first (ivfNearDupPairs is the scale path) or raise maxRows " +
        "if the frame is a deliberate sample.")
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("_va"),
      sqrt(dot(col(vecCol), col(vecCol))).as("_na"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("_vb"),
      sqrt(dot(col(vecCol), col(vecCol))).as("_nb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Exact top-k by cosine for each query vector (queries broadcast; rank
    * window partitions by query → parallel across queries). Norms are
    * precomputed once per SIDE, not once per pair — the aggregate() fold is
    * a CodegenFallback expression, so cutting the per-pair folds from three
    * to one (the dot product) is a direct 3× on the O(Q×N) hot loop. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, k: Int): DataFrame = {
    val queries = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("_qv"),
        sqrt(dot(col(vecCol), col(vecCol))).as("_qn"))
    val cands = emb.select(col(idCol).as("cand_id"), col(vecCol).as("_cv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("_cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    cands
      .crossJoin(broadcast(queries))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine", dot(col("_qv"), col("_cv")) / (col("_qn") * col("_cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("cosine"), col("rank"))
  }

  /** IVF-flat approximate top-k — the third ANN path, and the only one
    * that is fully oracle-checkable: no hashing anywhere, so centroids,
    * list assignment and probe selection are deterministic arithmetic any
    * engine reproduces exactly.
    *
    * Coarse quantizer: every `centroidEvery`-th vector is a centroid seed
    * (a deterministic stand-in for trained k-means centroids — the
    * dataflow is identical, swap the `cents` frame for a trained one).
    * Every vector joins its NEAREST centroid's inverted list; a query
    * probes its `nProbe` nearest centroids and ranks only those lists'
    * members. Cost: one N×C assignment pass with C broadcast (C ≈
    * N/centroidEvery, thousands at corpus scale — broadcastable), then
    * bucket-bounded candidate ranking. Never N².
    *
    * CACHING CONTRACT: the assignment frame feeds inverted lists AND
    * probe lists → persisted; release with `spark.catalog.clearCache()`.
    */
  /** Centroid-distance ranking per vector: (id, centroid_id, _r) with _r=1
    * the nearest centroid, capped at `maxRFor(C)` ranks (C = the in-plan
    * centroid count). Persisted because every IVF consumer reads it at
    * least twice.
    *
    * NARROW by construction (round 18): the C centroids fold into ONE
    * static row (centroid_id-sorted struct array — the same bytes the
    * per-centroid broadcast carried), and each vector ranks them with an
    * in-task `transform` → `array_sort` → `slice` → `posexplode`: sort
    * ascending on struct(-cos, centroid_id) ≡ the old window's
    * (cos DESC, centroid_id ASC), ties and -0.0 included
    * (Double.compare(-0.0,0.0)<0 on both paths). The previous shape
    * materialized all N×C ranked rows through a window EXCHANGE and
    * persisted them — at 10⁹ vectors × √N centroids that shuffle (and
    * cache) is ~3×10¹³ rows for a consumer set that never reads past
    * rank max(nProbe, assignProbe, ceil(frac·C)); it also cost 2 stages
    * of latency that put q52 at ~3 s on a 2k-vector frame. Output is
    * N×maxR rows, zero exchanges. (Zero-norm vectors: cos = NaN ranks
    * first under a DESC window but last here — the corpus contract
    * forbids zero vectors and every IVF cell is oracle-hashed.)
    *
    * `centroidEvery > 0` pins the seed stride explicitly (tests, fixed
    * small frames). `centroidEvery == 0` is AUTO: stride =
    * ceil(N / ceil(√N)), giving C ≈ √N inverted lists — the balance that
    * keeps the N×C assignment pass subquadratic as the corpus grows. A
    * fixed stride means C ∝ N and an O(N²/stride) assign: the sf1 bench
    * block MEASURED that blow-up (6.7× time at 10× data) before this
    * rule replaced it. The stride is derived declaratively (one count
    * aggregate broadcast back), deterministic IEEE arithmetic any engine
    * reproduces. */
  private def ivfAssignment(emb: DataFrame, idCol: String, vecCol: String,
                            centroidEvery: Int,
                            maxRFor: Column => Column,
                            keepVec: Boolean = false): DataFrame = {
    val seeds =
      if (centroidEvery > 0) emb.filter(col(idCol) % centroidEvery === 0)
      else {
        val n = count(lit(1)).cast("double")
        val strideF = emb.agg(
          greatest(lit(1L), ceil(n / ceil(sqrt(n))).cast("long")).as("_stride"))
        emb.crossJoin(broadcast(strideF))
          .filter(col(idCol) % col("_stride") === 0)
          .drop("_stride")
      }
    val centsRow = seeds
      .select(col(idCol).as("centroid_id"), col(vecCol).as("_cv"),
        sqrt(dot(col(vecCol), col(vecCol))).as("_cn"))
      .agg(array_sort(collect_list(
        struct(col("centroid_id"), col("_cv"), col("_cn")))).as("_cs"))
    val ranked = array_sort(transform(col("_cs"), c =>
      struct(
        (-(dot(col("_v"), c.getField("_cv")) /
          (col("_n") * c.getField("_cn")))).as("_negcos"),
        c.getField("centroid_id").as("centroid_id"))))
    // keepVec: carry (_v, _n) through — free in the narrow pipeline, and
    // it lets ivfTopKCore's lists/probes score cosines at the bucket join
    // without re-reading emb. The persisted footprint grows from ids-only
    // to maxR× the vector column — still maxR/C of what the pre-r18 N×C
    // window shape cached.
    val keep = col(idCol) +: (if (keepVec) Seq(col("_v"), col("_n")) else Nil)
    emb
      .select(col(idCol), col(vecCol).as("_v"),
        sqrt(dot(col(vecCol), col(vecCol))).as("_n"))
      .crossJoin(broadcast(centsRow))
      .select(keep :+ posexplode(slice(ranked, lit(1),
          greatest(lit(1), maxRFor(size(col("_cs"))).cast("int")))): _*)
      .select(keep ++ Seq(col("col.centroid_id").as("centroid_id"),
        (col("pos") + 1).cast("int").as("_r")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int, centroidEvery: Int,
              nProbe: Int,
              maxLocalBytes: Long = graft.Tier.LocalBytes): DataFrame =
    if (localTierOk(emb, idCol, vecCol, maxLocalBytes))
      ivfTopKLocal(emb, idCol, vecCol, queryPred, k, centroidEvery,
        Left(nProbe))
    else
      ivfTopKCore(emb, idCol, vecCol, queryPred, k, centroidEvery,
        Left(nProbe))

  /** [[ivfTopK]] probing a constant FRACTION of the inverted lists
    * (floored at `nProbeMin`) instead of a fixed count. With the √N
    * auto-centroid rule a FIXED nProbe probes a shrinking share of the
    * index as the corpus grows — recall decays with scale even though
    * every run is individually correct (the q83d gate caught exactly
    * this between sf0.01 and sf0.1). Probing frac·C keeps the probed
    * share — and empirically the recall floor — scale-stable, which is
    * how production IVF deployments hold a recall target. The threshold
    * is derived IN-PLAN (a 1-row centroid count riding a broadcast), no
    * driver action. */
  def ivfTopKFrac(emb: DataFrame, idCol: String, vecCol: String,
                  queryPred: Column, k: Int, centroidEvery: Int,
                  probeFrac: Double, nProbeMin: Int = 3,
                  maxLocalBytes: Long = graft.Tier.LocalBytes): DataFrame = {
    require(probeFrac > 0 && probeFrac <= 1, s"probeFrac=$probeFrac out of (0,1]")
    if (localTierOk(emb, idCol, vecCol, maxLocalBytes))
      ivfTopKLocal(emb, idCol, vecCol, queryPred, k, centroidEvery,
        Right((probeFrac, nProbeMin)))
    else
      ivfTopKCore(emb, idCol, vecCol, queryPred, k, centroidEvery,
        Right((probeFrac, nProbeMin)))
  }

  /** The live-IVF tier's guard: [[graft.Tier]] over the corpus, plus
    * id/vector type checks that keep the kernel's row readers total —
    * any other shape serves distributed. */
  private def localTierOk(emb: DataFrame, idCol: String, vecCol: String,
                          maxLocalBytes: Long): Boolean = {
    import org.apache.spark.sql.types._
    graft.Tier.fits(maxLocalBytes, emb) &&
      emb.schema(idCol).dataType == LongType &&
      (emb.schema(vecCol).dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      })
  }

  /** ONE-TASK live-IVF tier (r20, VERDICT r19 ask #6 — the q103/q117
    * pattern applied to the LIVE seed-centroid serve): the distributed
    * chain is ~15 AQE stages of scheduler latency on a megabyte corpus.
    * Under [[localTierOk]] the identical computation runs as one
    * `coalesce(1).mapPartitions` task, mirroring the distributed
    * arithmetic step for step so the DOUBLE cosines come out
    * bit-identical (the r19 builder's named divergence risk, pinned by
    * SimilaritySpec's adversarial near-tie equality tests):
    *  - stride: same double ops as [[ivfAssignment]]'s AUTO rule
    *    (`max(1, ceil(n / ceil(sqrt(n))))` — sqrt/ceil on double, long
    *    division order preserved), or the explicit `centroidEvery`;
    *  - cosines: [[graft.functions.FloatDot]]'s exact left fold
    *    (acc += (double)x·(double)y), then dot/(n·cn) in the same
    *    operand order;
    *  - centroid ranking: ascending (negcos, centroid_id) compared via
    *    java.lang.Double.compare ≡ the Catalyst struct ordering of the
    *    distributed `array_sort` (NaN largest, -0.0 < 0.0), sliced at
    *    the same maxR cap;
    *  - frac probes: threshold max(nProbeMin, ceil(frac·C_nonempty))
    *    with C_nonempty = distinct rank-1 assignments, exactly the
    *    distributed countDistinct broadcast;
    *  - final rank: (cosine DESC, cand_id ASC) row_number ≡ reversed
    *    Double.compare with id tie-break.
    * The query predicate is evaluated IN-PLAN (a boolean column computed
    * before the coalesce), so arbitrary predicates keep their Catalyst
    * semantics. */
  private[graft] def ivfTopKLocal(emb: DataFrame, idCol: String, vecCol: String,
                                  queryPred: Column, k: Int, centroidEvery: Int,
                                  probe: Either[Int, (Double, Int)]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val kG = k; val centroidEveryG = centroidEvery; val probeG = probe
    emb.select(col(idCol).as("_id"), col(vecCol).as("_v"),
        queryPred.as("_isq"))
      .coalesce(1).mapPartitions { it =>
        val rows = it.map { r =>
          (r.getLong(0), r.getSeq[Float](1).toArray,
            !r.isNullAt(2) && r.getBoolean(2))
        }.toArray
        val stride =
          if (centroidEveryG > 0) centroidEveryG.toLong
          else {
            val nD = rows.length.toDouble
            val c1 = math.ceil(math.sqrt(nD)).toLong
            math.max(1L, math.ceil(nD / c1).toLong)
          }
        val cents = rows.filter(_._1 % stride == 0).sortBy(_._1)
          .map(c => (c._1, c._2, math.sqrt(FloatDot.dot(c._2, c._2))))
        val cC = cents.length
        if (cC == 0) Iterator.empty
        else {
          // slice cap == greatest(1, maxRFor(C)) of the distributed path
          val maxR = probeG match {
            case Left(nProbe) => math.max(nProbe, 1)
            case Right((frac, nProbeMin)) =>
              math.max(1L, math.max(math.max(nProbeMin, 1).toLong,
                math.ceil(frac * cC).toLong)).toInt
          }
          // ascending (negcos, centroid_id) — Catalyst's array_sort order
          val ord = new Ordering[(Double, Long)] {
            def compare(a: (Double, Long), b: (Double, Long)): Int = {
              val c = java.lang.Double.compare(a._1, b._1)
              if (c != 0) c else java.lang.Long.compare(a._2, b._2)
            }
          }
          def rankCents(v: Array[Float], n: Double): Array[(Double, Long)] =
            cents.map { case (cid, cv, cn) =>
              (-(FloatDot.dot(v, cv) / (n * cn)), cid)
            }.sorted(ord)
          val norms = rows.map(r => math.sqrt(FloatDot.dot(r._2, r._2)))
          val byId = scala.collection.mutable.HashMap.empty[Long, Int]
          val members =
            scala.collection.mutable.HashMap.empty[Long,
              scala.collection.mutable.ArrayBuffer[Int]]
          rows.indices.foreach { i =>
            byId.update(rows(i)._1, i)
            val top = rankCents(rows(i)._2, norms(i)).head._2
            members.getOrElseUpdate(top,
              scala.collection.mutable.ArrayBuffer.empty) += i
          }
          // effective probe depth: Left = the _r <= nProbe filter;
          // Right = max(nProbeMin, ceil(frac * nonEmptyLists)), never
          // past the slice cap (C_nonempty <= C makes that a no-op, the
          // same containment the distributed comment proves)
          val probeN = probeG match {
            case Left(nProbe) => math.min(maxR.toLong, nProbe.toLong)
            case Right((frac, nProbeMin)) =>
              math.min(maxR.toLong, math.max(nProbeMin.toLong,
                math.ceil(frac * members.size).toLong))
          }
          val rankOrd = new Ordering[(Double, Long)] {
            def compare(a: (Double, Long), b: (Double, Long)): Int = {
              val c = java.lang.Double.compare(b._1, a._1) // cosine DESC
              if (c != 0) c else java.lang.Long.compare(a._2, b._2)
            }
          }
          rows.indices.iterator.filter(rows(_)._3).flatMap { qi =>
            val (qid, qv, _) = rows(qi)
            val qn = norms(qi)
            rankCents(qv, qn).take(math.max(probeN, 0L).toInt)
              .iterator.flatMap { case (_, cid) =>
                members.getOrElse(cid, Nil).iterator }
              .filter(ci => rows(ci)._1 != qid)
              .map { ci =>
                val (cid2, cv, _) = rows(ci)
                (FloatDot.dot(qv, cv) / (qn * norms(ci)), cid2)
              }.toArray.sorted(rankOrd).take(kG).zipWithIndex
              .iterator.map { case ((cos, cid2), i) => (qid, cid2, cos, i + 1) }
          }
        }
      }.toDF("query_id", "cand_id", "cosine", "rank")
  }

  /** `probe`: Left(nProbe) = fixed count — a plain `_r <= n` filter, no
    * extra pass; Right((frac, min)) = constant-fraction — needs the
    * centroid COUNT, so only this branch builds and broadcasts the
    * 1-row countDistinct aggregate (the fixed path would pay a
    * corpus-sized pass for a value its filter ignores). */
  private def ivfTopKCore(emb: DataFrame, idCol: String, vecCol: String,
                          queryPred: Column, k: Int, centroidEvery: Int,
                          probe: Either[Int, (Double, Int)]): DataFrame = {
    // Assignment rank cap: all any consumer below reads. The frac path's
    // FILTER threshold counts non-empty lists (countDistinct ≤ C), so the
    // C-based slice cap here is always ≥ it — the cap never drops a row
    // the filter would keep.
    val maxRFor: Column => Column = probe match {
      case Left(nProbe) => _ => lit(math.max(nProbe, 1))
      case Right((frac, nProbeMin)) => c =>
        greatest(lit(math.max(nProbeMin, 1)), ceil(lit(frac) * c))
    }
    val assigned = ivfAssignment(emb, idCol, vecCol, centroidEvery, maxRFor,
      keepVec = true)

    // The faithful inverted-FILE shape (round 18): list rows CARRY their
    // member's vector and probe rows the query's — both ride the narrow
    // assignment for free — so the centroid-bucket join scores cosines
    // directly instead of shuffling the pair set twice more through
    // vector join-backs on emb. And because lists take `_r === 1` only,
    // every candidate lives in exactly ONE list, so a (query, cand) pair
    // can surface at most once — the old pair-level `.distinct()` was a
    // provably-redundant third exchange and is gone.
    val lists = assigned.filter(col("_r") === 1)
      .select(col(idCol).as("cand_id"), col("centroid_id"),
        col("_v").as("_cv2"), col("_n").as("_cn2"))
    val probes = (probe match {
      case Left(nProbe) =>
        assigned.filter(queryPred).filter(col("_r") <= nProbe)
      case Right((frac, nProbeMin)) =>
        val cCount = assigned.filter(col("_r") === 1)
          .agg(countDistinct(col("centroid_id")).as("_c"))
        assigned.filter(queryPred)
          .crossJoin(broadcast(cCount))
          .filter(col("_r") <= greatest(lit(nProbeMin.toLong),
            ceil(lit(frac) * col("_c")).cast("long")))
    }).select(col(idCol).as("query_id"), col("centroid_id"),
      col("_v").as("_qv"), col("_n").as("_qn"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    probes
      .join(lists, Seq("centroid_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine", dot(col("_qv"), col("_cv2")) / (col("_qn") * col("_cn2")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("cosine"), col("rank"))
  }

  /** IVF-bucketed embedding near-dup PAIRS — oracle-checkable, bucket-
    * bounded (never N²), but the N×C assignment pass is O(N^1.5) with the
    * √N-centroid rule: [[projNearDupPairs]] is the linear-time scale path
    * and the one the engine's own near-dup pipeline uses. Kept as the
    * probe-assignment IVF formulation (candidates = pairs sharing any of
    * their `assignProbe` nearest inverted lists, verified with the exact
    * cosine) — the right shape when trained centroids already exist and
    * C is fixed by the model, not the corpus. */
  def ivfNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                      minCosine: Double, centroidEvery: Int,
                      assignProbe: Int = 2): DataFrame = {
    val assigned = ivfAssignment(emb, idCol, vecCol, centroidEvery,
        _ => lit(math.max(assignProbe, 1)))
      .filter(col("_r") <= assignProbe)
      .select(col(idCol), col("centroid_id"))
    val candidates = assigned.select(col(idCol).as("id_a"), col("centroid_id"))
      .join(assigned.select(col(idCol).as("id_b"), col("centroid_id")),
        Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()

    val va = emb.select(col(idCol).as("id_a"), col(vecCol).as("_va"),
      sqrt(dot(col(vecCol), col(vecCol))).as("_na"))
    val vb = emb.select(col(idCol).as("id_b"), col(vecCol).as("_vb"),
      sqrt(dot(col(vecCol), col(vecCol))).as("_nb"))
    candidates
      .join(va, Seq("id_a"))
      .join(vb, Seq("id_b"))
      .withColumn("cosine", dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Signed-projection banded near-dup PAIRS — the LINEAR-time scale path
    * for embedding dedup, and still fully oracle-checkable.
    *
    * [[ivfNearDupPairs]]'s coarse quantizer must rank every vector against
    * C centroids; constant-occupancy buckets need C ∝ N, so assignment is
    * O(N·C) — superlinear however C is chosen (the sf1 bench block
    * measured 5.4× time at 10× data with C = √N). Signed random
    * projections sidestep that structurally: p signature bits cost p dot
    * products, yet address 2^p buckets — so p grows LOGARITHMICALLY with
    * the corpus (p = ⌈log2(N/targetOcc)⌉) while assignment stays
    * O(N·L·p·d) and bucket occupancy — hence the candidate count — stays
    * ~constant per vector. Total work ~O(N log N): the asymptotic the
    * 100 TB path needs.
    *
    * Unlike [[lshSignatures]] (xxhash64 hyperplanes, float sums →
    * rows-only checkable), every step here is EXACT, order-independent
    * arithmetic any engine reproduces bit-for-bit: components quantized to
    * 1e-6 BIGINTs ([[Cluster.quantize]]'s discipline), hyperplane weights
    * from a deterministic multiplicative hash
    * `((pos+1)·M(t,j)) mod 8191 − 4095` with a distinct multiplier
    * `M(t,j) = 2654435761 + 40503·(t·32+j)` per (table, bit) — the
    * multiplier must differ multiplicatively per bit, or the hyperplanes
    * are mere shifts of each other and recall collapses — and projections
    * are exact BIGINT sums (|qc|·4095·d ≪ 2^63), so the sign bits are
    * engine-independent.
    *
    * Candidates = pairs sharing a (table, signature) bucket in any of `L`
    * tables, with MARGIN-DIRECTED multiprobe: each vector also enters the
    * `flips` buckets obtained by flipping its lowest-|projection| bits —
    * exactly the bits a near-threshold neighbor most likely disagrees on.
    * Measured on the sf0.1 corpus this lifts recall vs exact ground truth
    * from 45/144 (exact-match buckets) to 91/144 at comparable candidate
    * volume — 1.7× the seed-centroid IVF path's 53/144 — while full
    * 1-bit multiprobe (flip ALL p bits) admits 23% of ALL pairs on
    * clustered data and is not usable. Every candidate is verified with
    * the exact cosine, so precision is always 1.
    *
    * The one driver-side action is a count() to size p — the same
    * metadata lookup any planner does; at 100 TB it reads parquet
    * row-group stats, not data. */
  def projNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                       minCosine: Double, tables: Int = 8,
                       targetOcc: Int = 4, flips: Int = 2): DataFrame = {
    require(tables >= 1 && targetOcc >= 1 && flips >= 0 && flips <= 3,
      s"need tables>=1, targetOcc>=1, 0<=flips<=3; got $tables/$targetOcc/$flips")
    // p = max(4, ceil(log2(ceil(n / targetOcc)))) via integer bit-length
    // (length of the binary rendering — no floating log2, whose ULP at
    // exact powers of two could differ between engines and change p).
    // Derived IN-PLAN from a broadcast count, so sizing the signature to
    // the corpus costs no driver action.
    val pCol = greatest(lit(4),
      length(bin(ceil(count(lit(1)).cast("double") / targetOcc).cast("long") - 1)))
      .cast("int").as("_p")
    val nn = emb.agg(pCol)

    // The generator's one-row-group layout would run the signature kernel
    // on a single core; hash-repartition first when the scan is narrower
    // than the session's parallelism (cheap: N skinny rows). At 100 TB
    // the source is thousands of splits and this is a no-op. This is the
    // only exchange PINNED to cluster parallelism — it sizes a COMPUTE
    // kernel. The downstream exchanges (bucket join, pair dedup) move
    // DATA, so they are advisory (no explicit count): they take the
    // session's spark.sql.shuffle.partitions — the knob a production job
    // sizes to its data — and stay coalescible by AQE, where a pinned
    // count would freeze this corpus size's tuning into the operator.
    val src = emb.select(col(idCol).as("_id"),
      Cluster.quantize(col(vecCol)).as("_qv"))
    val para = src.sparkSession.sparkContext.defaultParallelism
    val widened =
      if (src.rdd.getNumPartitions * 4 < para) src.repartition(para, col("_id"))
      else src

    // All L×(1+flips) bucket entries per vector from the native
    // [[graft.functions.ProjEntries]] kernel — one static call per row
    // from generated code (the dataframe formulation of the same kernel,
    // a 72-column sum aggregation over a posexploded vector, measured
    // ~0.5 s per pass at sf0.1 and codegenned a multi-second compile
    // unit).
    val entries = widened.crossJoin(broadcast(nn))
      .select(col("_id"),
        explode(call_function("graft_proj_entries",
          col("_qv"), lit(tables), col("_p"), lit(flips))).as("e"))
      .select(col("_id"), col("e.t").as("_t"), col("e.sig").as("_sig"))

    // One bucket-keyed exchange feeds BOTH join sides: the two inputs
    // canonicalize to the same exchange subtree, so ReuseExchange
    // materializes it once — the signature kernel runs one pass with no
    // persist barrier. The pre-distinct repartition keys the pair dedup
    // the same way so no further exchange is planned.
    val byBucket = entries.repartition(col("_t"), col("_sig"))
    val candidates = byBucket.select(col("_id").as("id_a"), col("_t"), col("_sig"))
      .join(byBucket.select(col("_id").as("id_b"), col("_t"), col("_sig")),
        Seq("_t", "_sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .repartition(col("id_a"), col("id_b"))
      .distinct()

    val va = emb.select(col(idCol).as("id_a"), col(vecCol).as("_va"),
      sqrt(dot(col(vecCol), col(vecCol))).as("_na"))
    val vb = emb.select(col(idCol).as("id_b"), col(vecCol).as("_vb"),
      sqrt(dot(col(vecCol), col(vecCol))).as("_nb"))
    candidates
      .join(va, Seq("id_a"))
      .join(vb, Seq("id_b"))
      .withColumn("cosine", dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** (id, table_idx, sig) — `tables` independent `bits`-bit random-
    * hyperplane signatures per vector, all computed in ONE aggregation over
    * the posexploded vector (tables×bits conditional sums, then bit-packed).
    * Hyperplane component for (dim pos, bit j, table t) is ±1 by the parity
    * of xxhash64(t, pos, j). */
  def lshSignatures(emb: DataFrame, idCol: String, vecCol: String,
                    tables: Int, bits: Int): DataFrame = {
    val pe = emb.select(col(idCol), posexplode(col(vecCol)).as(Seq("pos", "val")))
    val sums = for (t <- 0 until tables; j <- 0 until bits) yield
      sum(col("val").cast("double") *
        when(pmod(xxhash64(lit(t), col("pos"), lit(j)), lit(2)) === 0, lit(1.0))
          .otherwise(lit(-1.0))).as(s"p_${t}_$j")
    val sigCols = (0 until tables).map { t =>
      struct(lit(t).as("table_idx"),
        (0 until bits)
          .map(j => when(col(s"p_${t}_$j") > 0, lit(1 << j)).otherwise(lit(0)))
          .reduce(_ bitwiseOR _).as("sig"))
    }
    pe.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
      .select(col(idCol), explode(array(sigCols: _*)).as("ts"))
      .select(col(idCol), col("ts.table_idx"), col("ts.sig"))
  }

  /** Approximate top-k: candidates = vectors sharing any (table, sig)
    * bucket with the query, then exact cosine + rank over candidates only.
    * Recall rises with L tables; cost is bounded by bucket occupancy, not N².
    *
    * CACHING CONTRACT: the signature frame is persisted (it feeds both
    * sides of the bucket join) and stays cached after the caller's first
    * action; release executor storage with `spark.catalog.clearCache()`
    * (what Bench/Verify do) when done with the result.
    */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int, tables: Int, bits: Int): DataFrame = {
    // Signatures feed the query side and the candidate side of the bucket
    // join: persist (rows = N×tables, tiny) so the posexplode aggregation
    // runs once.
    val sigs = lshSignatures(emb, idCol, vecCol, tables, bits)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    topKFromSigs(emb, idCol, vecCol, queryPred, k, sigs)
  }

  /** Approximate top-k over the PORTABLE signed-projection signatures —
    * the [[projNearDupPairs]] scheme (quantized BIGINT components,
    * `((pos+1)·M(t,j)) mod 8191 − 4095` multiplicative-hash hyperplanes,
    * exact integer projection sums, margin-directed multiprobe) applied
    * to the serving-top-k shape of [[lshTopK]]. Every step up to the
    * final cosine is order-independent integer arithmetic, and the
    * cosine/rank replay is [[bruteForceTopK]]'s proven-portable double
    * pipeline — so unlike the xxhash64 [[lshSignatures]] flavor the
    * whole result is hash-checkable by a second engine (the q25
    * oracle). Signature width is FIXED here (a serving index's
    * parameters are deployment constants, unlike the corpus-sized
    * pair-generation path which sizes p to the data); entries come from
    * the native [[graft.functions.ProjEntries]] kernel, one static call
    * per vector from generated code. Multiprobe registers each vector in its `flips`
    * lowest-|margin| flipped buckets on BOTH sides, the recall lever
    * measured in [[projNearDupPairs]].
    *
    * CACHING CONTRACT: as [[lshTopK]] — the signature frame persists;
    * release with `spark.catalog.clearCache()`. */
  def projTopK(emb: DataFrame, idCol: String, vecCol: String,
               queryPred: Column, k: Int, tables: Int, bits: Int,
               flips: Int): DataFrame = {
    require(tables >= 1 && bits >= 1 && bits <= 30 && flips >= 0 && flips <= 3,
      s"need tables>=1, 1<=bits<=30, 0<=flips<=3; got $tables/$bits/$flips")
    val sigs = emb.select(col(idCol),
        explode(call_function("graft_proj_entries",
          Cluster.quantize(col(vecCol)), lit(tables), lit(bits),
          lit(flips))).as("e"))
      .select(col(idCol), col("e.t").as("table_idx"), col("e.sig").as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    topKFromSigs(emb, idCol, vecCol, queryPred, k, sigs)
  }

  /** Shared serve tail of [[lshTopK]]/[[projTopK]]: bucket-join the query
    * signatures against the corpus signatures, then exact cosine + rank
    * over the candidates only. */
  private def topKFromSigs(emb: DataFrame, idCol: String, vecCol: String,
                           queryPred: Column, k: Int,
                           sigs: DataFrame): DataFrame = {
    val qsigs = emb.filter(queryPred).select(col(idCol).as("query_id"))
      .join(sigs.withColumnRenamed(idCol, "query_id"), Seq("query_id"))
    val pairs = qsigs
      .join(sigs.withColumnRenamed(idCol, "cand_id"), Seq("table_idx", "sig"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"))
      .distinct()

    val qv = emb.select(col(idCol).as("query_id"), col(vecCol).as("_qv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("_qn"))
    val cv = emb.select(col(idCol).as("cand_id"), col(vecCol).as("_cv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("_cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    pairs
      .join(qv, Seq("query_id"))
      .join(cv, Seq("cand_id"))
      .withColumn("cosine", dot(col("_qv"), col("_cv")) / (col("_qn") * col("_cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("cosine"), col("rank"))
  }
}
