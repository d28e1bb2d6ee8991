package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{FloatDot, LongSqDist}

/** SemDeDup-style cluster-then-dedup (Abbas et al. 2023, public) as a
  * MAINTAINED artifact family — the survivor-manifest counterpart of the
  * near-dup cluster manifest ([[Dedup.incrementalClusters]]).
  *
  * The batch operator (q102) is cluster-sharded dominance: a vector is
  * dominated (kept = false) when ANY smaller-id member of its cluster
  * sits at cosine ≥ the threshold — deterministic greedy-by-id, no
  * iteration (dominance is checked against all smaller-id members, kept
  * or not).
  *
  * Scale contract: the dominance join is Σ |cluster|² pairs, so the
  * quantizer's OCCUPANCY — not k — is the cost knob. Production SemDeDup
  * scales k ∝ N to hold occupancy constant (the paper's regime); with a
  * fixed target occupancy c the join is N·c pairs — LINEAR in the
  * corpus — and cluster-level incremental reuse stays non-vacuous at a
  * small crawl delta at any scale (P(cluster untouched) ≈ (1−2f)^c is
  * scale-free for delta fraction f). q102's k=8 demonstration model has
  * neither property; the q174 family trains its own occupancy-16 model.
  */
object SemDedup {

  /** The survivor manifest over a cluster assignment: (vec_id,
    * cluster_id, kept). `assign` is (vec_id, cluster_id); `emb` supplies
    * the raw vectors the exact cosines are computed on. */
  def manifest(assign: DataFrame, emb: DataFrame, idCol: String,
               vecCol: String, minCosine: Double): DataFrame = {
    val e = emb.select(col(idCol).as("vec_id"), col(vecCol).as("_v"),
      sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("_n"))
    val m = assign.select(col("vec_id"), col("cluster_id"))
      .join(e, Seq("vec_id"))
    val dominated = m.select(col("cluster_id"), col("vec_id").as("id_a"),
        col("_v").as("_va"), col("_n").as("_na"))
      .join(m.select(col("cluster_id"), col("vec_id").as("id_b"),
        col("_v").as("_vb"), col("_n").as("_nb")), Seq("cluster_id"))
      .filter(col("id_a") < col("id_b") &&
        Similarity.dot(col("_va"), col("_vb")) /
          (col("_na") * col("_nb")) >= minCosine)
      .select(col("id_b").as("vec_id"))
      .distinct()
    assign.select(col("vec_id"), col("cluster_id"))
      .join(dominated.withColumn("_dom", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"), col("_dom").isNull.as("kept"))
  }

  /** INCREMENTAL survivor-manifest maintenance across embedding
    * snapshots (vectors immutable by id — content-addressed, so
    * snapshots only add/remove ids, the q159 contract): given the
    * stored previous assignment and manifest and the new snapshot,
    * recompute dominance ONLY inside clusters the id delta can reach
    * and reuse every other manifest row verbatim.
    *
    * Correctness rests on two facts, both required:
    *  1. Assignment invariance: the quantizer is FROZEN, so a
    *     vector's cluster is a pure function of the vector — a
    *     retained vector sits in the same cluster in both snapshots,
    *     and only added ids need a (delta-sized) assignment pass.
    *  2. Cluster locality: kept-ness depends only on the member set of
    *     the vector's own cluster (dominance never crosses clusters),
    *     so a cluster containing no added and no removed id has an
    *     identical member set — and identical kept bits — in the full
    *     recompute. Removals matter symmetrically: deleting a
    *     dominator must UN-dominate its victims, which is why affected
    *     clusters recompute from their surviving members rather than
    *     patching rows.
    *
    * `prevLists`: (id, cluster_id) — the old snapshot's assignment
    * under the frozen model. `prevManifest`: (vec_id, cluster_id,
    * kept). `newPts`: the new snapshot's quantized (id, qv). `newEmb`:
    * the new snapshot's raw (idCol, vecCol). Returns the new manifest,
    * row-equal to [[manifest]] over a full re-assignment (the q174
    * oracle's replay and SemDedupSpec's in-engine equality). */
  def incrementalManifest(prevLists: DataFrame, prevManifest: DataFrame,
                          newPts: DataFrame, newEmb: DataFrame,
                          cents: DataFrame, idCol: String, vecCol: String,
                          minCosine: Double): DataFrame = {
    val newIds = newPts.select(col("id"))
    val prevIds = prevLists.select(col("id"))
    // delta-sized assignment: only ADDED vectors ever rank against the
    // broadcast frozen centroids
    val addedAssign = graft.CacheScope.scopedPersist(
      Cluster.assignQ(newPts.join(prevIds, Seq("id"), "left_anti"), cents)
        .select(col("id"), col("cluster_id")),
      StorageLevel.MEMORY_AND_DISK)
    val removedClusters = prevLists
      .join(newIds, Seq("id"), "left_anti")
      .select(col("cluster_id"))
    // Affected = every cluster holding an added or removed id. Persisted
    // (the q153 discipline): feeds the member semi-join AND the reuse
    // anti-join.
    val affected = graft.CacheScope.scopedPersist(
      addedAssign.select(col("cluster_id"))
        .unionByName(removedClusters).distinct(),
      StorageLevel.MEMORY_AND_DISK)
    val stillMembers = prevLists.join(newIds, Seq("id"), "left_semi")
      .join(affected, Seq("cluster_id"), "left_semi")
      .select(col("id"), col("cluster_id"))
    // addedAssign's clusters are affected by construction — no filter
    val members = stillMembers.unionByName(
        addedAssign.select(col("id"), col("cluster_id")))
      .select(col("id").as("vec_id"), col("cluster_id"))
    val recomputed = manifest(members, newEmb, idCol, vecCol, minCosine)
    val reused = prevManifest
      .join(affected, Seq("cluster_id"), "left_anti")
      .join(newIds.withColumnRenamed("id", "vec_id"), Seq("vec_id"),
        "left_semi")
      .select(col("vec_id"), col("cluster_id"), col("kept"))
    reused.unionByName(recomputed.select(col("vec_id"), col("cluster_id"),
      col("kept")))
  }

  /** [[incrementalManifest]]'s guarded ONE-TASK tier (the q153/q171
    * treatment): the five inputs ride a tagged union into a single
    * task that mirrors the distributed chain step for step — delta-only
    * argmin assignment ([[graft.functions.LongSqDist]]'s own fold:
    * Long Σ(a−b)² over the common prefix, ties to the smallest
    * cluster_id), affected-cluster closure, per-cluster dominance with
    * [[graft.functions.FloatDot]]'s own fold (left-fold
    * float→double products, √ norms, the same ≥ comparison), verbatim
    * reuse. Callers guard (fail CLOSED) on Catalyst size stats — see
    * the q174 cell. */
  def incrementalManifestLocal(prevLists: DataFrame, prevManifest: DataFrame,
                               newPts: DataFrame, newEmb: DataFrame,
                               cents: DataFrame, idCol: String,
                               vecCol: String,
                               minCosine: Double): DataFrame = {
    val spark = newPts.sparkSession
    import spark.implicits._
    val noQv = typedLit(Seq.empty[Long])
    val noV = typedLit(Seq.empty[Float])
    val tagged = prevLists.select(lit(0).as("_t"), col("id").as("_id"),
        col("cluster_id").as("_c"), lit(false).as("_k"),
        noQv.as("_qv"), noV.as("_v"))
      .unionByName(prevManifest.select(lit(1).as("_t"),
        col("vec_id").as("_id"), col("cluster_id").as("_c"),
        col("kept").as("_k"), noQv.as("_qv"), noV.as("_v")))
      .unionByName(newPts.select(lit(2).as("_t"), col("id").as("_id"),
        lit(0L).as("_c"), lit(false).as("_k"), col("qv").as("_qv"),
        noV.as("_v")))
      .unionByName(newEmb.select(lit(3).as("_t"),
        col(idCol).cast("long").as("_id"), lit(0L).as("_c"),
        lit(false).as("_k"), noQv.as("_qv"),
        col(vecCol).cast("array<float>").as("_v")))
      .unionByName(cents.select(lit(4).as("_t"),
        col("cluster_id").as("_id"), lit(0L).as("_c"),
        lit(false).as("_k"), col("cv").as("_qv"), noV.as("_v")))
    tagged.as[(Int, Long, Long, Boolean, Seq[Long], Seq[Float])]
      .coalesce(1).mapPartitions { it =>
        import scala.collection.mutable
        val prevL = mutable.HashMap.empty[Long, Long]
        val prevM = mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
        val ptsQ = mutable.HashMap.empty[Long, Array[Long]]
        val embV = mutable.HashMap.empty[Long, Array[Float]]
        val centsB = mutable.ArrayBuffer.empty[(Long, Array[Long])]
        it.foreach { case (t, id, c, k, qv, v) =>
          t match {
            case 0 => prevL.update(id, c)
            case 1 => prevM += ((id, c, k))
            case 2 => ptsQ.update(id, qv.toArray)
            case 3 => embV.update(id, v.toArray)
            case _ => centsB += ((id, qv.toArray))
          }
        }
        // delta-only assignment: min (sqdist, cluster_id) — assignQ's
        // lexicographic min(struct) tie-break
        val affected = mutable.HashSet.empty[Long]
        val addedAssign = mutable.ArrayBuffer.empty[(Long, Long)]
        ptsQ.foreach { case (id, qv) =>
          if (!prevL.contains(id)) {
            var bestD = Long.MaxValue; var bestC = Long.MaxValue
            centsB.foreach { case (cid, cv) =>
              val d = LongSqDist.sqDist(qv, cv)
              if (d < bestD || (d == bestD && cid < bestC)) {
                bestD = d; bestC = cid
              }
            }
            if (bestC != Long.MaxValue) {
              addedAssign += ((id, bestC)); affected += bestC
            }
          }
        }
        prevL.foreach { case (id, c) =>
          if (!ptsQ.contains(id)) affected += c // removed id's cluster
        }
        // members of affected clusters: surviving old + added
        val byCluster = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
        prevL.foreach { case (id, c) =>
          if (ptsQ.contains(id) && affected.contains(c))
            byCluster.getOrElseUpdate(c, mutable.ArrayBuffer.empty) += id
        }
        addedAssign.foreach { case (id, c) =>
          byCluster.getOrElseUpdate(c, mutable.ArrayBuffer.empty) += id
        }
        val out = mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
        prevM.foreach { case (id, c, k) => // verbatim reuse
          if (!affected.contains(c) && ptsQ.contains(id)) out += ((id, c, k))
        }
        byCluster.foreach { case (c, ids0) =>
          val ids = ids0.sorted
          // a member with no embedding row never joins the dominance
          // frame in the distributed plan (inner join with `e`): it can
          // neither dominate nor be dominated — kept = true
          val vecs = ids.map(id => embV.get(id))
          val norms = vecs.map(_.map(v => math.sqrt(FloatDot.dot(v, v))))
          var j = 0
          while (j < ids.length) {
            var dominated = false
            if (vecs(j).isDefined) {
              var i = 0
              while (i < j && !dominated) {
                if (vecs(i).isDefined) {
                  val cos = FloatDot.dot(vecs(i).get, vecs(j).get) /
                    (norms(i).get * norms(j).get)
                  if (cos >= minCosine) dominated = true
                }
                i += 1
              }
            }
            out += ((ids(j), c, !dominated))
            j += 1
          }
        }
        out.iterator
      }.toDF("vec_id", "cluster_id", "kept")
  }
}
