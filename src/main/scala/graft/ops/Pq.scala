package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.LongSqDist

/** Product quantization (PQ) — the ANN index shape that actually ships at
  * 100 TB: vectors are compressed to M small codes (one per contiguous
  * subspace) against per-subspace codebooks, queries score candidates by
  * ASYMMETRIC DISTANCE (ADC) — exact query-subvector → codeword distances
  * summed across subspaces via table lookup — and only an oversampled
  * top-R shortlist pays the exact re-rank. A 64-dim embedding (256 bytes
  * of floats) becomes M=4 codebook indices: ~64× less candidate-side IO,
  * which at corpus scale is the difference between scanning embeddings
  * and scanning codes.
  *
  * Everything is the same fixed-point discipline as [[Cluster]] (whose
  * Lloyd trainer [[trainCodebooks]] generalizes per-subspace): 1e-6
  * quantized BIGINT components, exact integer squared distances
  * ([[graft.functions.LongSqDist]]), floor-average centroid updates,
  * smallest-id seeding — no RNG, no floats outside IEEE-exact division,
  * so codebooks, codes, ADC scores and final ranks are bit-identical on
  * any engine running the same recurrence (the q116 DuckDB oracle
  * replays all of it in SQL, including both Lloyd rounds per subspace).
  *
  * Spark shapes: training is M interleaved Lloyd loops in ONE lazy plan
  * over the (id, g, sub) subvector frame (assignment joins a broadcast
  * codebook table; the argmin is a partially-aggregable
  * `min(struct(dist, code))`); encoding is the same broadcast assign;
  * ADC scoring broadcasts the tiny Q·M·K distance-table frame against
  * the codes table — a map-side lookup join, then ONE shuffle summing
  * the M subspace contributions per (query, candidate). Nothing is ever
  * all-pairs on raw vectors; the exact re-rank touches `oversample`·k
  * candidates per query.
  *
  * All entry points take the quantized (id, qv) frame — the stored
  * corpus artifact every [[Cluster]] consumer reads — so the float scan
  * and quantization are paid once per snapshot, not per index build.
  */
object Pq {

  /** (id, g, sub) — the quantized vector split into `m` contiguous
    * subspaces of d/m components. Rows whose length is not divisible by
    * `m` are dropped (never mis-sliced). */
  def subvectors(pts: DataFrame, m: Int): DataFrame = {
    require(m >= 1, s"need m>=1; got $m")
    // Column./ is DOUBLE division — an integer floor here is what makes
    // the ragged-row guard below actually fire (size 5, m 2: sub must be
    // 2 and 2*2 != 5, not 2.5 with 2.5*2 == 5).
    val sub = floor(size(col("qv")) / m).cast("int")
    pts.select(col("id"), col("qv"), sub.as("_sub"))
      .where(size(col("qv")) === col("_sub") * m)
      .select(col("id"), explode(sequence(lit(0), lit(m - 1))).as("g"),
        col("qv"), col("_sub"))
      .select(col("id"), col("g"),
        slice(col("qv"), col("g") * col("_sub") + 1, col("_sub")).as("sub"))
  }

  /** Per-subspace argmin assignment: (id, g, [sub,] code_id, dist).
    * `books` is (g, code_id, cw) — M·K codewords is bytes, never data.
    *
    * NARROW (round 18, the [[Cluster.assignQ]] shape): each subspace's
    * codewords fold into one struct array (M rows total, broadcast into
    * the g equi-join) and the argmin is the shared
    * [[Cluster.argminStruct]] — identical tie-break to the old
    * `min(struct(d, code_id))`. The previous shape exchanged all N×M
    * subvector rows through a groupBy for a value computable in place.
    * `keepSub = true` carries the subvector through for callers that
    * would otherwise re-join subs on (id, g) just to fetch it
    * ([[trainCodebooks]]'s per-iteration update). */
  private def assignCodes(subs: DataFrame, books: DataFrame,
                          keepSub: Boolean = false): DataFrame = {
    val booksArr = books.groupBy(col("g"))
      .agg(collect_list(struct(col("code_id"), col("cw"))).as("_cws"))
    val keep = Seq(col("id"), col("g")) ++ (if (keepSub) Seq(col("sub")) else Nil)
    subs.join(broadcast(booksArr), Seq("g"))
      .select(keep :+
        Cluster.argminStruct(col("_cws"), col("sub"), "cw", "code_id").as("_b"): _*)
      .filter(col("_b").isNotNull)
      .select(keep ++ Seq(col("_b.cid").as("code_id"), col("_b.d").as("dist")): _*)
  }

  /** M interleaved Lloyd loops in one lazy plan: per subspace `g`, k
    * codewords seeded from the k smallest ids' subvectors and refined
    * `iterations` floor-average rounds — [[Cluster.train]] generalized by
    * carrying `g` through every join/group key (the id set is identical
    * across subspaces, so one tiny seed-id broadcast serves all M).
    * Returns (g, code_id, cw). */
  def trainCodebooks(pts: DataFrame, m: Int, k: Int, iterations: Int): DataFrame = {
    require(k >= 1, s"need k>=1; got $k")
    require(iterations >= 1 && iterations <= 6,
      s"iterations must be in [1,6] (plans unroll per iteration); got $iterations")
    val subs = subvectors(pts, m)
    val seedIds = pts.select(col("id")).orderBy(col("id")).limit(k)
    var books = subs.join(broadcast(seedIds), Seq("id"))
      .select(col("g"), col("id").as("code_id"), col("sub").as("cw"))
    for (_ <- 1 to iterations) {
      // keepSub carries the subvector with the assignment — the old
      // shape re-joined subs on (id, g), one exchange per iteration
      val a = assignCodes(subs, books, keepSub = true)
      books = a
        .select(col("g"), col("code_id"), posexplode(col("sub")).as(Seq("pos", "v")))
        .groupBy(col("g"), col("code_id"), col("pos"))
        // floor(s/n) in DOUBLE — exact for |s| ≪ 2^53, and floor (not
        // BIGINT div) so negative sums round the same on every engine
        // (Cluster.train's rationale).
        .agg(floor(sum(col("v")).cast("double") / count(lit(1)).cast("double"))
          .cast("long").as("cv1"))
        .groupBy(col("g"), col("code_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv1")))),
          s => s.getField("cv1")).as("cw"))
    }
    books
  }

  /** PQ-encode the corpus: (id, g, code_id) — M rows per vector, each a
    * codebook index. The long form IS the serving layout: ADC is a join
    * on (g, code_id), so a packed array would only have to explode
    * again. */
  def encode(pts: DataFrame, books: DataFrame, m: Int): DataFrame =
    assignCodes(subvectors(pts, m), books)
      .select(col("id"), col("g"), col("code_id"))

  /** ADC top-k with exact re-rank, all in exact quantized L2.
    *
    * 1. Distance tables: per query subvector × codeword, the exact
    *    integer squared distance — Q·M·K rows, broadcast.
    * 2. ADC: codes ⋈ tables on (g, code_id) (map-side lookup against the
    *    broadcast), then one aggregation summing the M subspace
    *    contributions per (query, candidate). This pass reads CODES, not
    *    vectors — the 100 TB win.
    * 3. Shortlist: top `oversample`·k by (adc, cand_id) per query — ADC
    *    is approximate (the codeword stands in for the candidate), so
    *    the shortlist oversamples before the exact pass.
    * 4. Exact re-rank of the shortlist only: [[Cluster.sqDistQ]] on the
    *    stored quantized vectors, rank = row_number over (dist, cand_id).
    *
    * `queries` is a 1-column (id) frame (tiny, broadcast); output is
    * (query_id, cand_id, dist, rank) — every column integer, fully
    * hash-checkable. */
  def topKQ(pts: DataFrame, books: DataFrame, codes: DataFrame, m: Int,
            queries: DataFrame, k: Int, oversample: Int = 4): DataFrame = {
    require(k >= 1 && oversample >= 1, s"need k>=1, oversample>=1; got $k/$oversample")
    // panel-sized dedup: a duplicate panel id would double its distance-
    // table rows and corrupt every ADC sum for that query
    val qsubs = subvectors(
      pts.join(broadcast(queries.select(col("id")).distinct()), Seq("id")), m)
      .select(col("id").as("query_id"), col("g"), col("sub"))
    val dtab = qsubs.join(broadcast(books), Seq("g"))
      .select(col("query_id"), col("g"), col("code_id"),
        Cluster.sqDistQ(col("sub"), col("cw")).as("d"))

    val adc = codes.select(col("id").as("cand_id"), col("g"), col("code_id"))
      .join(broadcast(dtab), Seq("g", "code_id"))
      .filter(col("cand_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("d")).as("adc"))

    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("cand_id"))
    val shortlist = adc
      .withColumn("_r", row_number().over(wAdc))
      .filter(col("_r") <= k * oversample)
      .select(col("query_id"), col("cand_id"))

    val qv = pts.select(col("id").as("query_id"), col("qv").as("_q"))
    val cv = pts.select(col("id").as("cand_id"), col("qv").as("_c"))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("cand_id"))
    shortlist
      .join(qv, Seq("query_id"))
      .join(cv, Seq("cand_id"))
      .withColumn("dist", Cluster.sqDistQ(col("_q"), col("_c")))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("dist"),
        col("rank").cast("int").as("rank"))
  }

  /** Full IVF-PQ top-k — the two trained quantizers composed the way a
    * production ANN deployment composes them: the COARSE k-means model
    * (`cents`, [[Cluster.train]]) bounds the search to each query's
    * `nProbe` nearest inverted lists, and the FINE product quantizer
    * (`books`/`codes`) scores those lists' members by ADC so the bounded
    * pass still reads compressed codes, not raw vectors. Only the
    * oversampled shortlist pays an exact distance.
    *
    * Scale shape, in order: one broadcast N×k coarse ranking pass
    * (persisted — it feeds lists AND probes); a probe⋈list equi-join on
    * cluster_id whose output is list-occupancy-bounded (never N², never
    * all codes); the candidates' codes joined against the BROADCAST
    * Q·M·K distance table (map-side lookup) and summed in one
    * aggregation; a per-query top-`oversample`·k window; an exact
    * re-rank touching `oversample`·k rows per query. At 100 TB the codes
    * table is stored clustered by cluster_id, so the candidate join
    * prunes IO as well as compute — the same layout contract as q106's
    * z-order.
    *
    * Same fixed-point discipline as every [[Cluster]]/[[Pq]] stage, so
    * distances and ranks hash-match an engine-independent oracle that
    * replays both trainers. Output: (query_id, cand_id, dist, rank).
    *
    * CACHING CONTRACT: the coarse ranking frame stays persisted; release
    * with `spark.catalog.clearCache()`. */
  def ivfPqTopK(pts: DataFrame, cents: DataFrame, books: DataFrame,
                codes: DataFrame, m: Int, queries: DataFrame,
                k: Int, nProbe: Int, oversample: Int = 4,
                shortlistPct: Int = 0): DataFrame = {
    require(k >= 1 && nProbe >= 1 && oversample >= 1,
      s"need k>=1, nProbe>=1, oversample>=1; got $k/$nProbe/$oversample")
    // Narrow bounded ranking (round 18): consumers below never read past
    // rank max(nProbe, 1). Lists take `_r === 1` only, so each candidate
    // lives in exactly one list and a (query, cand) pair surfaces at most
    // once — the old pair-level `.distinct()` was a redundant exchange.
    val ranked = Cluster.rankCentroidsQ(pts, cents, maxR = nProbe)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // panel-sized dedup (covers the rerank half too, where a duplicate
    // panel id would double every ADC distance-table row and corrupt
    // the sums; the removed pair-level distinct used to mask the
    // candidate half of that)
    val qIds = queries.select(col("id")).distinct()
    val lists = ranked.filter(col("_r") === 1)
      .select(col("id").as("cand_id"), col("cluster_id"))
    val probes = ranked.join(broadcast(qIds), Seq("id"))
      .filter(col("_r") <= nProbe)
      .select(col("id").as("query_id"), col("cluster_id"))
    val cand = probes.join(lists, Seq("cluster_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"))
    adcRerank(pts, books, codes, cand, m, qIds, k, oversample, shortlistPct)
  }

  /** [[ivfPqTopK]] SERVED from STORED artifacts — the incremental ANN
    * deployment: the MAINTAINED inverted lists (q159's artifact)
    * replace the per-call corpus×k coarse ranking, and the MAINTAINED
    * code table replaces re-encoding, so a query batch costs the probe
    * ranking (queries × broadcast centroids), one list-occupancy-bounded
    * candidate equi-join, the broadcast-ADC sum over the candidates'
    * stored codes, and the oversampled exact re-rank — no corpus-sized
    * pass anywhere. Input contract: `lists` holds exactly ONE row per id
    * (the assignment contract — no candidate dedup runs, q159's trim);
    * `codes` holds M rows per id. Same fixed-point arithmetic, tie-break
    * and output as [[ivfPqTopK]]. */
  def ivfPqTopKStored(pts: DataFrame, cents: DataFrame, books: DataFrame,
                      codes: DataFrame, lists: DataFrame, m: Int,
                      queries: DataFrame, k: Int, nProbe: Int,
                      oversample: Int = 4): DataFrame = {
    require(k >= 1 && nProbe >= 1 && oversample >= 1,
      s"need k>=1, nProbe>=1, oversample>=1; got $k/$nProbe/$oversample")
    // Query-only centroid ranking (the ivfSearchStoredLists idiom):
    // identical arithmetic and (distance, cluster_id) tie-break to the
    // full rankCentroidsQ pass ivfPqTopK pays, on |Q| rows instead of N.
    // panel-sized dedup: a duplicate panel id inside the ranking window
    // would interleave each centroid twice, so `_r <= nProbe` probes the
    // nearest list repeatedly instead of the top nProbe lists — and the
    // rerank would double its ADC rows
    val qIds = queries.select(col("id")).distinct()
    val wr = Window.partitionBy(col("id")).orderBy(col("_d"), col("cluster_id"))
    val probes = pts.join(broadcast(qIds), Seq("id"))
      .crossJoin(broadcast(cents))
      .select(col("id"), col("cluster_id"),
        Cluster.sqDistQ(col("qv"), col("cv")).as("_d"))
      .withColumn("_r", row_number().over(wr))
      .filter(col("_r") <= nProbe)
      .select(col("id").as("query_id"), col("cluster_id"))
    val cand = probes
      .join(lists.select(col("id").as("cand_id"), col("cluster_id")),
        Seq("cluster_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"))
    adcRerank(pts, books, codes, cand, m, qIds, k, oversample)
  }

  /** [[ivfPqTopKStored]] as ONE guarded task — the q148/q153/q171/q180
    * serving-tier treatment applied to the ANN stack: at serving scale
    * (a few thousand stored codes, a fixed query panel) the distributed
    * chain is ~8 stages of pure scheduling latency (probe window, list
    * join, ADC lookup join + sum, shortlist window, two exact-re-rank
    * joins + window — measured 1.6-1.9 s at sf0.1 against a 0.7 s twin),
    * while the work itself is microseconds. The five stored inputs ride
    * a tagged union (no driver collect) into one `mapPartitions` task
    * that mirrors the distributed plan STEP FOR STEP in the same exact
    * integer arithmetic: min-prefix sqdist ([[graft.functions
    * .LongSqDist]]'s fold), (d, cluster_id) probe tie-break, inner-join
    * candidate semantics (a query or candidate with no matching
    * dtab/code/vector rows drops, never defaults), (adc, cand_id)
    * shortlist order, (dist, cand_id) exact rank. Callers guard
    * fail-CLOSED on Catalyst size stats (missing stats → Long.Max →
    * distributed path); cross-tier equality is spec'd
    * (IncrementalBuildSpec) and the oracle replays the full recompute.
    * Same contract as [[ivfPqTopKStored]]: `lists` one row per id,
    * `codes` M rows per id, `queries` a distinct 1-column id panel.
    * `shortlistPct` mirrors [[ivfPqTopK]]'s density-stable shortlist
    * bound max(k·oversample, ⌈N·pct/100⌉) over the same N (raw `pts`
    * ROW count, exactly the `pts.agg(count(*))` the distributed tier
    * broadcasts — counted here before the id dedup so a contract-
    * violating duplicate-id frame cannot diverge the tiers).
    * Output: (query_id, cand_id, dist, rank). */
  def serveStoredLocal(pts: DataFrame, cents: DataFrame, books: DataFrame,
                       codes: DataFrame, lists: DataFrame, m: Int,
                       queries: DataFrame, k: Int, nProbe: Int,
                       oversample: Int = 4, shortlistPct: Int = 0): DataFrame = {
    require(k >= 1 && nProbe >= 1 && oversample >= 1,
      s"need k>=1, nProbe>=1, oversample>=1; got $k/$nProbe/$oversample")
    val spark = pts.sparkSession
    import spark.implicits._
    val nullL = lit(null).cast("long")
    val nullI = lit(null).cast("int")
    val nullA = lit(null).cast("array<bigint>")
    val tagged = pts.select(lit("p").as("_t"), col("id").cast("long").as("_id"),
        nullI.as("_g"), nullL.as("_c"), col("qv").as("_v"))
      .unionByName(cents.select(lit("e").as("_t"),
        col("cluster_id").cast("long").as("_id"), nullI.as("_g"),
        nullL.as("_c"), col("cv").as("_v")))
      .unionByName(books.select(lit("b").as("_t"), nullL.as("_id"),
        col("g").cast("int").as("_g"), col("code_id").cast("long").as("_c"),
        col("cw").as("_v")))
      .unionByName(codes.select(lit("k").as("_t"), col("id").cast("long").as("_id"),
        col("g").cast("int").as("_g"), col("code_id").cast("long").as("_c"),
        nullA.as("_v")))
      .unionByName(lists.select(lit("l").as("_t"), col("id").cast("long").as("_id"),
        nullI.as("_g"), col("cluster_id").cast("long").as("_c"), nullA.as("_v")))
      .unionByName(queries.select(lit("q").as("_t"), col("id").cast("long").as("_id"),
        nullI.as("_g"), nullL.as("_c"), nullA.as("_v")))
    val mG = m; val kG = k; val nProbeG = nProbe; val overG = oversample
    val pctG = shortlistPct
    tagged.coalesce(1).mapPartitions { it =>
      import scala.collection.mutable
      val vec = mutable.HashMap.empty[Long, Array[Long]]
      val centRows = mutable.ArrayBuffer.empty[(Long, Array[Long])]
      val book = mutable.HashMap.empty[(Int, Long), Array[Long]]
      val codeRows = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Int, Long)]]
      val members = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
      var nPts = 0L
      // set, not buffer: the distributed tiers dedup their query panel,
      // so a duplicate panel id must not duplicate output rows here
      val qIds = mutable.LinkedHashSet.empty[Long]
      def arr(row: org.apache.spark.sql.Row): Array[Long] =
        row.getSeq[Long](4).toArray
      it.foreach { row =>
        row.getString(0) match {
          case "p" => nPts += 1; vec.update(row.getLong(1), arr(row))
          case "e" => centRows += ((row.getLong(1), arr(row)))
          case "b" => book.update((row.getInt(2), row.getLong(3)), arr(row))
          case "k" => codeRows.getOrElseUpdate(row.getLong(1),
            mutable.ArrayBuffer.empty) += ((row.getInt(2), row.getLong(3)))
          case "l" => members.getOrElseUpdate(row.getLong(3),
            mutable.ArrayBuffer.empty) += row.getLong(1)
          case _ => qIds += row.getLong(1)
        }
      }
      val cents0 = centRows.toArray
      // The distributed shortlist bound, same integer ceil-division:
      // max(k·oversample, ⌈N·pct/100⌉) when pct > 0, else k·oversample.
      val shortBound =
        if (pctG > 0) math.max(kG.toLong * overG, (nPts * pctG + 99) / 100)
        else kG.toLong * overG
      qIds.iterator.filter(vec.contains).flatMap { q =>
        val qv = vec(q)
        // Probe ranking: (d, cluster_id) ascending, top nProbe.
        val probed = cents0.map { case (cid, cv) => (LongSqDist.sqDist(qv, cv), cid) }
          .sortBy(identity).take(nProbeG).map(_._2)
        // Candidates from the stored lists (inner-join semantics).
        val cands = probed.iterator
          .flatMap(cid => members.getOrElse(cid, Nil))
          .filter(_ != q).toArray
        // Query distance table; a ragged query vector (length % m != 0)
        // has no subvectors — subvectors() drops it — hence no output.
        val sub = qv.length / mG
        if (qv.length != sub * mG) Iterator.empty
        else {
          val dtab = mutable.HashMap.empty[(Int, Long), Long]
          // Book rows with g outside [0, m) get NO dtab entry — the
          // distributed tier's subvector inner join drops them (the
          // query has exactly m subvectors, g 0..m-1), and an unchecked
          // copyOfRange here would zero-pad past the vector end and
          // silently diverge from that drop on a contract-violating
          // (corrupted) stored artifact.
          book.foreach { case ((g, code), cw) =>
            if (g >= 0 && g < mG)
              dtab.update((g, code), LongSqDist.sqDist(
                java.util.Arrays.copyOfRange(qv, g * sub, g * sub + sub), cw))
          }
          // ADC = sum over the candidate's code rows that MATCH a dtab
          // entry (the inner join); a candidate with zero matches has no
          // adc row at all.
          val adc = cands.iterator.flatMap { cand =>
            var s = 0L; var matched = false
            codeRows.getOrElse(cand, Nil).foreach { gc =>
              dtab.get(gc).foreach { d => s += d; matched = true }
            }
            if (matched) Iterator.single((s, cand)) else Iterator.empty
          }.toArray
          val shortlist = adc.sortBy(identity)
            .take(math.min(shortBound, Int.MaxValue.toLong).toInt).map(_._2)
          shortlist.iterator
            .flatMap(c => vec.get(c).map(cv => (LongSqDist.sqDist(qv, cv), c))).toArray
            .sortBy(identity).take(kG).zipWithIndex
            .iterator.map { case ((d, c), i) => (q, c, d, i + 1) }
        }
      }
    }.toDF("query_id", "cand_id", "dist", "rank")
      .select(col("query_id"), col("cand_id"), col("dist"),
        col("rank").cast("int").as("rank"))
  }

  /** The shared ADC → shortlist → exact-re-rank tail of [[ivfPqTopK]] /
    * [[ivfPqTopKStored]] (stages 2-4 of [[topKQ]]'s scaladoc, given the
    * candidate pairs).
    *
    * `shortlistPct` (VERDICT r18 ask — the q83d doctrine at the FINE
    * quantizer): when > 0, the ADC shortlist bound becomes
    * max(k·oversample, ⌈N·pct/100⌉) with N = the corpus (pts) row
    * count, derived IN-PLAN (a 1-row count aggregate broadcast into the
    * shortlist filter — no driver action). A fixed k·oversample
    * shortlist is corpus-independent, so its share of the probed
    * candidates — and hence recall under low-resolution codebooks —
    * decays as the corpus grows (the r18 10× run measured q117 through
    * the 0.3 floor); holding the shortlist at a constant corpus share
    * is how production holds a recall target when codebook bits are
    * fixed. Integer ceil-division on both engines (N·pct ≪ 2^53, the
    * double division below is exact), so the oracle replays the bound
    * bit-for-bit. The floor keeps small corpora exactly at the
    * k·oversample bound — base-regime results are unchanged wherever
    * ⌈N·pct/100⌉ ≤ k·oversample. */
  private def adcRerank(pts: DataFrame, books: DataFrame, codes: DataFrame,
                        cand: DataFrame, m: Int, queries: DataFrame,
                        k: Int, oversample: Int,
                        shortlistPct: Int = 0): DataFrame = {
    val qsubs = subvectors(pts.join(broadcast(queries), Seq("id")), m)
      .select(col("id").as("query_id"), col("g"), col("sub"))
    val dtab = qsubs.join(broadcast(books), Seq("g"))
      .select(col("query_id"), col("g"), col("code_id"),
        Cluster.sqDistQ(col("sub"), col("cw")).as("d"))

    val adc = cand
      .join(codes.select(col("id").as("cand_id"), col("g"), col("code_id")),
        Seq("cand_id"))
      .join(broadcast(dtab), Seq("query_id", "g", "code_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("d")).as("adc"))

    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("cand_id"))
    val ranked = adc.withColumn("_r", row_number().over(wAdc))
    val shortlist = (if (shortlistPct > 0)
        // exact ceil-div kept in integer domain: N·pct ≪ 2^53 so the
        // double division of (N·pct + 99) by 100 is exact and floor
        // recovers the integer quotient — no 0.16-style FP-literal edge
        ranked.crossJoin(broadcast(pts.agg(count(lit(1)).as("_n"))))
          .filter(col("_r") <= greatest(lit(k.toLong * oversample),
            floor((col("_n") * shortlistPct + 99) / 100).cast("long")))
      else ranked.filter(col("_r") <= k * oversample))
      .select(col("query_id"), col("cand_id"))

    val qv = pts.select(col("id").as("query_id"), col("qv").as("_q"))
    val cv = pts.select(col("id").as("cand_id"), col("qv").as("_c"))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("cand_id"))
    shortlist
      .join(qv, Seq("query_id"))
      .join(cv, Seq("cand_id"))
      .withColumn("dist", Cluster.sqDistQ(col("_q"), col("_c")))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("dist"),
        col("rank").cast("int").as("rank"))
  }
}
