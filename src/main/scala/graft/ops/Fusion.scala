package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.LongSqDist

/** Reciprocal-Rank Fusion (Cormack, Clarke & Buettcher 2009, public) —
  * the standard way a retrieval stack combines rankers that score on
  * incomparable scales (lexical BM25 vs embedding cosine): each
  * ranking contributes 1/(k + rank) per document and documents are
  * re-ranked by the sum, so only RANKS matter and no score calibration
  * is ever needed. This is the hybrid-retrieval shape every
  * decontamination/dedup probe over a modern corpus runs (a purely
  * lexical probe misses paraphrases; a purely semantic one misses rare
  * exact strings).
  *
  * ALL-INTEGER scoring (the [[Bm25]]/[[LmScore]] portability contract):
  * 1/(k + r) is represented exactly as D div (k + r) where D =
  * lcm(k+1 .. k+maxRank) — divisible by every reachable denominator,
  * so the division is EXACT integer arithmetic and the fused score is
  * a BIGINT any engine reproduces bit-for-bit (floating 1/61 + 1/62
  * would be libm/order hostage). D and the worst-case sum are bounds-
  * checked at plan time.
  *
  * Scale shape: inputs are per-query TOP-K lists (tiny by contract —
  * k · #queries rows), so fusion is one union + one map-side-combined
  * aggregation + the skew-proof [[TopN.saltedTopNPerKey]]; the
  * expensive work (index probe, ANN search) stays in the upstream
  * rankers where it is already scale-proofed.
  */
object Fusion {

  private def lcm(a: BigInt, b: BigInt): BigInt = a / a.gcd(b) * b

  /** Fuse per-query rankings. Each entry is (name, frame) with columns
    * (query_id, doc_id, rank); rows past `maxRank` are ignored (the
    * fusion contract is top-`maxRank` lists). Output: (query_id, rank,
    * doc_id, rrf_score, <name>_rank...) — the per-source rank columns
    * are NULL when that ranker did not surface the document. Ties
    * break by doc_id ascending (total order). */
  def rrf(rankings: Seq[(String, DataFrame)], kRrf: Int = 60,
          maxRank: Int = 10, topN: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrf needs at least one ranking")
    require(kRrf >= 1 && maxRank >= 1 && topN >= 1,
      s"kRrf/maxRank/topN must be >= 1; got $kRrf/$maxRank/$topN")
    require(rankings.map(_._1).distinct.size == rankings.size,
      "ranking names must be distinct")
    val d = (kRrf + 1 to kRrf + maxRank)
      .map(BigInt(_)).foldLeft(BigInt(1))(lcm)
    // Two bounds, both required (ADVICE r15): D itself must fit a Long
    // (lcm(61..74) ≈ 2.74e19 > Long.MaxValue would silently truncate in
    // d.toLong below even though the worst-case-sum bound passes), and
    // the worst case — every ranker contributing its best rank — must
    // stay far inside BIGINT.
    require(d <= BigInt(Long.MaxValue) &&
        d / (kRrf + 1) * rankings.size <= BigInt(Long.MaxValue) / 4,
      s"rrf denominator lcm $d overflows BIGINT score arithmetic — " +
        "lower maxRank or kRrf")
    val D = d.toLong
    val tagged = rankings.map { case (nm, df) =>
      df.select(col("query_id"), col("doc_id"),
        col("rank").cast("int").as("rank"), lit(nm).as("_src"))
    }.reduce(_.unionByName(_))
    val perSource = rankings.map { case (nm, _) =>
      min(when(col("_src") === nm, col("rank"))).as(s"${nm}_rank")
    }
    val scored = tagged
      .filter(col("rank") <= maxRank)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(expr(s"${D}L div ($kRrf + rank)")).as("rrf_score"),
        perSource: _*)
    // Plain per-query window, NOT the salted two-phase top-N (r16 floor
    // trim): the salt exists for hot keys whose candidate list is
    // data-sized, but a fused group is bounded by CONSTRUCTION at
    // `rankings.size * maxRank` rows (inputs are top-maxRank lists), so
    // no key can ever be hot at any corpus scale — the second exchange
    // + window pair the salt costs is pure stage latency here. Still
    // parallel across queries (partitionBy), and WindowGroupLimit
    // prunes each group to topN before the sort.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("query_id") +: col("rank") +: col("doc_id") +:
        col("rrf_score") +: rankings.map(r => col(s"${r._1}_rank")): _*)
  }

  /** ONE-TASK hybrid-retrieval serving tier (the q148/q153/q171/q174
    * treatment applied to the SERVING-NODE composition): the whole
    * q170 chain — integer-BM25 whole-query scoring over the stored
    * postings for the stored panel's terms, IVF probe of the stored
    * lists under the frozen quantizer for the panel's query vectors,
    * and the exact-integer RRF fusion — as ONE task over the seven
    * stored artifacts riding a tagged union. This is literally what a
    * retrieval query node does in production: serve a handful of
    * standing probes from in-memory index structures; the distributed
    * chain remains the scale path for corpus-sized query batches and
    * oversized indexes (callers guard on Catalyst size stats, fail
    * CLOSED — see the q170 cell).
    *
    * Arithmetic replicas, each already pinned elsewhere: integer BM25
    * (bitlen idf, exact-rational tf term — the q171 tier's math), the
    * [[graft.functions.LongSqDist]] Long fold with (dist, cluster_id)
    * tie-break (the q174 tier's math), and [[rrf]]'s exact D div
    * (kRrf + rank) sum with (score desc, doc asc) ordering. The sem
    * probes are the panel's query_ids (the probe-vector contract:
    * query q's vector is id q). No string ordering anywhere — terms
    * are compared by equality only, so the UTF-8-vs-UTF-16 hazard of
    * the q171 tier's panel SORT cannot arise here.
    *
    * Output: [[rrf]]'s exact shape for rankings named lex/sem —
    * (query_id, rank, doc_id, rrf_score, lex_rank, sem_rank). */
  def hybridServeLocal(post: DataFrame, dfT: DataFrame, stats: DataFrame,
                       panel: DataFrame, pts: DataFrame, cents: DataFrame,
                       lists: DataFrame, kLex: Int, topKSem: Int,
                       nProbe: Int, kRrf: Int, maxRank: Int,
                       topN: Int): DataFrame = {
    require(kLex >= 1 && topKSem >= 1 && nProbe >= 1 && topN >= 1,
      s"k/nProbe/topN must be >= 1; got $kLex/$topKSem/$nProbe/$topN")
    val d = (kRrf + 1 to kRrf + maxRank)
      .map(BigInt(_)).foldLeft(BigInt(1))((a, b) => a / a.gcd(b) * b)
    require(d <= BigInt(Long.MaxValue) &&
        d / (kRrf + 1) * 2 <= BigInt(Long.MaxValue) / 4,
      s"rrf denominator lcm $d overflows BIGINT score arithmetic")
    val D = d.toLong
    val spark = post.sparkSession
    import spark.implicits._
    val noQv = typedLit(Seq.empty[Long])
    // NOTE: no panel-term semi-join on the index legs — measured at
    // sf0.1 the broadcast build + extra stages cost MORE (0.74-0.91 s)
    // than streaming the whole postings artifact through the task and
    // filtering in memory (0.57-0.67 s); the task's panelTerms filter
    // below makes the same cut. At an index scale where the streaming
    // would dominate, the size-stats guard fails this tier closed to
    // the distributed composition anyway.
    // tagged union: (_t, _s, _a, _b, _c, _qv)
    //   0 post (term, doc, dl, tf); 1 df (term, df); 2 stats (n, avg);
    //   3 panel (term, query); 4 pts (id, qv); 5 cents (cid, cv);
    //   6 lists (id, cluster)
    val tagged = post.select(lit(0).as("_t"), col("term").as("_s"),
        col("doc_id").cast("long").as("_a"), col("dl").cast("long").as("_b"),
        col("tf").cast("long").as("_c"), noQv.as("_qv"))
      .unionByName(dfT.select(lit(1).as("_t"), col("term").as("_s"),
        col("df").cast("long").as("_a"), lit(0L).as("_b"),
        lit(0L).as("_c"), noQv.as("_qv")))
      .unionByName(stats.select(lit(2).as("_t"),
        lit(null).cast("string").as("_s"), col("_n").cast("long").as("_a"),
        col("_avg").cast("long").as("_b"), lit(0L).as("_c"), noQv.as("_qv")))
      .unionByName(panel.select(lit(3).as("_t"), col("term").as("_s"),
        col("query_id").cast("long").as("_a"), lit(0L).as("_b"),
        lit(0L).as("_c"), noQv.as("_qv")))
      .unionByName(pts.select(lit(4).as("_t"),
        lit(null).cast("string").as("_s"), col("id").cast("long").as("_a"),
        lit(0L).as("_b"), lit(0L).as("_c"), col("qv").as("_qv")))
      .unionByName(cents.select(lit(5).as("_t"),
        lit(null).cast("string").as("_s"),
        col("cluster_id").cast("long").as("_a"), lit(0L).as("_b"),
        lit(0L).as("_c"), col("cv").as("_qv")))
      .unionByName(lists.select(lit(6).as("_t"),
        lit(null).cast("string").as("_s"), col("id").cast("long").as("_a"),
        col("cluster_id").cast("long").as("_b"), lit(0L).as("_c"),
        noQv.as("_qv")))
    tagged.as[(Int, String, Long, Long, Long, Seq[Long])]
      .coalesce(1).mapPartitions { it =>
        import scala.collection.mutable
        val postRows = mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
        val dfM = mutable.HashMap.empty[String, Long]
        var n = 0L; var avg = 0L
        val panelB = mutable.ArrayBuffer.empty[(Long, String)]
        val qvs = mutable.HashMap.empty[Long, Array[Long]]
        val centsB = mutable.ArrayBuffer.empty[(Long, Array[Long])]
        val byClusterCands = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
        it.foreach { case (t, s, a, b, c, qv) =>
          t match {
            case 0 => postRows += ((s, a, b, c))
            case 1 => dfM.update(s, a)
            case 2 => n = a; avg = b
            case 3 => panelB += ((a, s))
            case 4 => qvs.update(a, qv.toArray)
            case 5 => centsB += ((a, qv.toArray))
            case _ => byClusterCands
              .getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
          }
        }
        def bitlen(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)
        // ---- lex: per-(query, doc) sum of integer per-term scores
        val panelTerms = panelB.map(_._2).toSet
        val lexAcc = mutable.HashMap.empty[(Long, Long), Long]
        if (n > 0) {
          val byTerm = postRows.filter(r => panelTerms.contains(r._1))
            .groupBy(_._1)
          panelB.foreach { case (qid, term) =>
            dfM.get(term).foreach { df =>
              val idf = 1000000L * bitlen((n + 1) / (df + 1))
              byTerm.getOrElse(term, Nil).foreach { case (_, id, dl, tf) =>
                val tfp = (22L * tf * avg * 1000000L) /
                  (10L * avg * tf + 3L * avg + 9L * dl)
                val sc = idf * tfp / 1000000L
                lexAcc.update((qid, id), lexAcc.getOrElse((qid, id), 0L) + sc)
              }
            }
          }
        }
        val lexRanks = mutable.HashMap.empty[(Long, Long), Int]
        lexAcc.toArray.groupBy(_._1._1).foreach { case (qid, rows) =>
          rows.sortBy { case ((_, id), sc) => (-sc, id) }
            .take(kLex).zipWithIndex.foreach { case (((_, id), _), i) =>
              lexRanks.update((qid, id), i + 1)
            }
        }
        // ---- sem: IVF probe per panel query id (probe-vector contract)
        val semRanks = mutable.HashMap.empty[(Long, Long), Int]
        panelB.map(_._1).distinct.foreach { qid =>
          qvs.get(qid).foreach { qv =>
            val probed = centsB
              .map { case (cid, cv) => (LongSqDist.sqDist(qv, cv), cid) }
              .sorted.take(nProbe).map(_._2)
            val cands = mutable.ArrayBuffer.empty[(Long, Long)]
            probed.foreach { cid =>
              byClusterCands.getOrElse(cid, Nil).foreach { cand =>
                if (cand != qid)
                  qvs.get(cand).foreach(cv => cands += ((LongSqDist.sqDist(qv, cv), cand)))
              }
            }
            cands.sorted.take(topKSem).zipWithIndex.foreach {
              case ((_, cand), i) => semRanks.update((qid, cand), i + 1)
            }
          }
        }
        // ---- fusion: exact-integer RRF over the two rank maps
        val out = mutable.ArrayBuffer
          .empty[(Long, Int, Long, Long, Integer, Integer)]
        (lexRanks.keySet ++ semRanks.keySet).groupBy(_._1)
          .foreach { case (qid, keys) =>
            val fused = keys.toArray.map { k =>
              val lr = lexRanks.get(k).filter(_ <= maxRank)
              val sr = semRanks.get(k).filter(_ <= maxRank)
              val score = lr.map(r => D / (kRrf + r)).getOrElse(0L) +
                sr.map(r => D / (kRrf + r)).getOrElse(0L)
              (k._2, score, lr, sr)
            }.filter(_._2 > 0L)
            fused.sortBy { case (id, sc, _, _) => (-sc, id) }
              .take(topN).zipWithIndex.foreach {
                case ((id, sc, lr, sr), i) =>
                  out += ((qid, i + 1, id, sc,
                    lr.map(Int.box).orNull, sr.map(Int.box).orNull))
              }
          }
        out.iterator
      }.toDF("query_id", "rank", "doc_id", "rrf_score", "lex_rank",
        "sem_rank")
  }
}
