package graft

/** DuckDB oracle SQL for [[Queries]] — same table names, same column aliases,
  * same operation order. Conventions for cross-engine hash-equality:
  *   - integer aggregates CAST to BIGINT (DuckDB sums ints to HUGEINT);
  *   - row_number CAST to INT (Spark's is IntegerType);
  *   - no string→int casts anywhere (PG errors / DuckDB rounds / Spark ANSI
  *     truncates — SURVEY §2.8 F9): regex-guard + ::DOUBLE + explicit floor;
  *   - doubles only combined per-row in the same order as the Spark side;
  *   - DuckDB regexp_replace needs the explicit 'g' flag (Spark is global
  *     by default).
  */
object Oracles {

  /** Shared CTE block (no leading WITH) replaying q167's whole-query
    * integer-BM25 lexical ranking, ending in CTE `lex`: (query_id,
    * doc_id, rank 1..10). Used by the q170/q172 hybrid oracles — the
    * q167 oracle keeps its inline copy because its final SELECT also
    * reads score/n_terms. */
  private val Bm25LexCtes: String =
    """tok AS MATERIALIZED (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
      |  FROM documents),
      |post AS MATERIALIZED (
      |  SELECT t AS term, doc_id, CAST(len(ws) AS BIGINT) AS dl,
      |    CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, ws, unnest(ws) AS t FROM tok
      |        WHERE len(ws) >= 1)
      |  GROUP BY 1, 2, 3),
      |stats AS (
      |  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n,
      |    CAST(sum(tf) AS BIGINT) // count(DISTINCT doc_id) AS avgdl
      |  FROM post),
      |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df
      |        FROM post GROUP BY 1),
      |q AS (
      |  SELECT CAST((rnk - 5) % 4 AS BIGINT) AS query_id, term, df
      |  FROM (SELECT term, df,
      |          row_number() OVER (ORDER BY df DESC, term) AS rnk
      |        FROM dft ORDER BY df DESC, term LIMIT 16)
      |  WHERE rnk >= 5),
      |lexs AS (
      |  SELECT q.query_id, p.doc_id,
      |    CAST(sum(
      |      (1000000 * length(bin((n + 1) // (df + 1))))
      |        * ((22 * tf * avgdl * 1000000)
      |           // (10 * avgdl * tf + 3 * avgdl + 9 * dl))
      |        // 1000000) AS BIGINT) AS score
      |  FROM post p JOIN q USING (term), stats
      |  GROUP BY 1, 2),
      |lex AS (
      |  SELECT query_id, doc_id, rnk AS rank FROM (
      |    SELECT query_id, doc_id,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY score DESC, doc_id) AS rnk
      |    FROM lexs) WHERE rnk <= 10)""".stripMargin

  /** Shared CTE block (no leading WITH) replaying the IVF-SERVED
    * semantic leg from scratch — the q159 CTEs over the UNFILTERED
    * corpus: fixed-point quantization, the 8-seed 2-Lloyd-iteration
    * trained quantizer, nearest-list assignment of every vector (the
    * stored-list table's recompute), nProbe=2 probe ranking for the
    * vec_id < 4 standing panel, exact quantized-L2 candidate ranking.
    * Ends in CTE `sem`: (query_id, doc_id, rank 1..10). */
  private val IvfSemCtes: String =
    """pts_full AS MATERIALIZED (
      |  SELECT vec_id AS id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |c0 AS (SELECT id AS cluster_id, qv AS cv FROM pts_full ORDER BY id LIMIT 8),
      |a1 AS (
      |  SELECT id, qv, cluster_id FROM (
      |    SELECT p.id, p.qv, c.cluster_id,
      |      row_number() OVER (PARTITION BY p.id ORDER BY
      |        list_sum(list_transform(list_zip(p.qv, c.cv),
      |          z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
      |    FROM pts_full p CROSS JOIN c0 c)
      |  WHERE rn = 1),
      |u1 AS (
      |  SELECT cluster_id, pos,
      |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
      |  FROM (SELECT cluster_id, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM a1)
      |  GROUP BY cluster_id, pos),
      |c1 AS (SELECT cluster_id, list(cv1 ORDER BY pos) AS cv FROM u1 GROUP BY cluster_id),
      |a2 AS (
      |  SELECT id, qv, cluster_id FROM (
      |    SELECT p.id, p.qv, c.cluster_id,
      |      row_number() OVER (PARTITION BY p.id ORDER BY
      |        list_sum(list_transform(list_zip(p.qv, c.cv),
      |          z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
      |    FROM pts_full p CROSS JOIN c1 c)
      |  WHERE rn = 1),
      |u2 AS (
      |  SELECT cluster_id, pos,
      |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
      |  FROM (SELECT cluster_id, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM a2)
      |  GROUP BY cluster_id, pos),
      |c2 AS (SELECT cluster_id, list(cv1 ORDER BY pos) AS cv FROM u2 GROUP BY cluster_id),
      |ranked AS (
      |  SELECT p.id, c.cluster_id,
      |    row_number() OVER (PARTITION BY p.id ORDER BY
      |      list_sum(list_transform(list_zip(p.qv, c.cv),
      |        z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
      |  FROM pts_full p CROSS JOIN c2 c),
      |ivlists AS (SELECT id AS cand_id, cluster_id FROM ranked WHERE rn = 1),
      |probes AS (
      |  SELECT id AS query_id, cluster_id FROM ranked
      |  WHERE rn <= 2 AND id < 4),
      |semsc AS (
      |  SELECT query_id, cand_id,
      |    list_sum(list_transform(list_zip(a.qv, b.qv),
      |      z -> (z[1]-z[2])*(z[1]-z[2]))) AS dist
      |  FROM (SELECT query_id, cand_id
      |        FROM probes JOIN ivlists USING (cluster_id)
      |        WHERE query_id != cand_id)
      |  JOIN pts_full a ON query_id = a.id
      |  JOIN pts_full b ON cand_id = b.id),
      |sem AS (
      |  SELECT query_id, cand_id AS doc_id, rnk AS rank FROM (
      |    SELECT query_id, cand_id,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY dist, cand_id) AS rnk
      |    FROM semsc) WHERE rnk <= 10)""".stripMargin

  /** Shared CTE chain replaying 3-round BPE training + corpus encode
    * (ends with CTE `enc`: doc_id, n_words, n_bpe_tokens, encoded) —
    * the q133 and q136 oracles append their own final SELECTs.
    *
    * The vN rewrite CTEs join their ≤1-row merge CTE with LEFT JOIN ON
    * TRUE + a `a IS NULL` passthrough, NOT a CROSS JOIN: a corpus that
    * trains fewer than 3 merges leaves tN empty, and a cross join would
    * annihilate the whole vocabulary (every doc reporting 0 tokens)
    * where the Spark side's [[graft.ops.Bpe.applyMerge]] left-join
    * no-ops — the guards must mirror each other exactly. */
  private val BpeEncodeCtes: String =
    """WITH w AS (
        |  SELECT lower(t) AS word
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
        |        FROM documents)
        |  WHERE regexp_matches(lower(t), '^[a-z]+$')),
        |v0 AS (
        |  SELECT word,
        |    array_to_string(string_split(word, ''), ' ') AS sym,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM w GROUP BY word),
        |p1 AS (
        |  SELECT z[1] || ' ' || z[2] AS pair, CAST(sum(n) AS BIGINT) AS cnt
        |  FROM (
        |    SELECT n, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
        |    FROM (SELECT n, string_split(sym, ' ') AS l FROM v0))
        |  WHERE z[1] != z[2]
        |  GROUP BY 1),
        |t1 AS (
        |  SELECT pair, replace(pair, ' ', '') AS merged, cnt
        |  FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
        |v1 AS (
        |  SELECT word,
        |    CASE WHEN a IS NULL THEN sym0
        |         ELSE array_to_string(list_transform(
        |      list_filter(range(1, len(l) + 1),
        |        p -> NOT (p >= 2 AND l[p-1] = a AND l[p] = b)),
        |      p -> CASE WHEN p < len(l) AND l[p] = a AND l[p+1] = b
        |                THEN m ELSE l[p] END), ' ') END AS sym, n
        |  FROM (SELECT word, sym AS sym0, string_split(sym, ' ') AS l, n FROM v0)
        |  LEFT JOIN (SELECT string_split(pair, ' ')[1] AS a,
        |    string_split(pair, ' ')[2] AS b, merged AS m FROM t1) ON TRUE),
        |p2 AS (
        |  SELECT z[1] || ' ' || z[2] AS pair, CAST(sum(n) AS BIGINT) AS cnt
        |  FROM (
        |    SELECT n, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
        |    FROM (SELECT n, string_split(sym, ' ') AS l FROM v1))
        |  WHERE z[1] != z[2]
        |  GROUP BY 1),
        |t2 AS (
        |  SELECT pair, replace(pair, ' ', '') AS merged, cnt
        |  FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
        |v2 AS (
        |  SELECT word,
        |    CASE WHEN a IS NULL THEN sym0
        |         ELSE array_to_string(list_transform(
        |      list_filter(range(1, len(l) + 1),
        |        p -> NOT (p >= 2 AND l[p-1] = a AND l[p] = b)),
        |      p -> CASE WHEN p < len(l) AND l[p] = a AND l[p+1] = b
        |                THEN m ELSE l[p] END), ' ') END AS sym, n
        |  FROM (SELECT word, sym AS sym0, string_split(sym, ' ') AS l, n FROM v1)
        |  LEFT JOIN (SELECT string_split(pair, ' ')[1] AS a,
        |    string_split(pair, ' ')[2] AS b, merged AS m FROM t2) ON TRUE),
        |p3 AS (
        |  SELECT z[1] || ' ' || z[2] AS pair, CAST(sum(n) AS BIGINT) AS cnt
        |  FROM (
        |    SELECT n, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
        |    FROM (SELECT n, string_split(sym, ' ') AS l FROM v2))
        |  WHERE z[1] != z[2]
        |  GROUP BY 1),
        |t3 AS (
        |  SELECT pair, replace(pair, ' ', '') AS merged, cnt
        |  FROM p3 ORDER BY cnt DESC, pair LIMIT 1),
        |v3 AS (
        |  SELECT word,
        |    CASE WHEN a IS NULL THEN sym0
        |         ELSE array_to_string(list_transform(
        |      list_filter(range(1, len(l) + 1),
        |        p -> NOT (p >= 2 AND l[p-1] = a AND l[p] = b)),
        |      p -> CASE WHEN p < len(l) AND l[p] = a AND l[p+1] = b
        |                THEN m ELSE l[p] END), ' ') END AS sym, n
        |  FROM (SELECT word, sym AS sym0, string_split(sym, ' ') AS l, n FROM v2)
        |  LEFT JOIN (SELECT string_split(pair, ' ')[1] AS a,
        |    string_split(pair, ' ')[2] AS b, merged AS m FROM t3) ON TRUE),
        |dw AS (
        |  SELECT doc_id, i, lower(t[i]) AS word
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |        FROM documents)
        |  CROSS JOIN unnest(generate_series(1, len(t))) AS g(i)
        |  WHERE regexp_matches(lower(t[i]), '^[a-z]+$')),
        |enc AS (
        |  SELECT dw.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(len(string_split(v3.sym, ' '))) AS BIGINT) AS n_bpe_tokens,
        |    string_agg(v3.sym, ' | ' ORDER BY dw.i) AS encoded
        |  FROM dw JOIN v3 ON dw.word = v3.word
        |  GROUP BY dw.doc_id)"""

  /** GENERATED suffix-array maximal-span replay (q146) — the exact
    * prefix-doubling + neighbor-LCP construction [[graft.ops.Suffix]]
    * runs, emitted level by level (the q138/q147 generated-SQL
    * discipline): `levels` rank CTEs (r0 ranks single tokens; r(k)
    * dense-ranks the pair (r(k−1) at p, r(k−1) at p+2^(k−1)) with −1 —
    * smaller than every real rank — padding positions past the
    * document end), suffix-order adjacency by row_number over
    * (rank, doc_id, p), then the greedy LCP walk high-to-low (acc +=
    * 2^k when both sides' level-k blocks are fully in-bounds and their
    * ranks agree), f = max LCP with either sort-neighbor, and the
    * left-maximality filter (report p iff f(p) ≥ minLen and
    * f(p−1) ≤ f(p); f falls by at most 1 per step, so
    * immediate-predecessor containment is the only containment).
    *
    * `levels` must satisfy 2^levels ≥ the longest document's token
    * count (testdata docs are ≤ 100 tokens at every SF; 2^8 = 256
    * carries margin) — the Spark side iterates to the ACTUAL max
    * length and the extra static levels here are no-ops (a block wider
    * than every document is never in-bounds). Every rank and walk CTE
    * is MATERIALIZED: each feeds two consumers, and default inlining
    * would double the reference tree per level (the q147 lesson). */
  private[graft] def suffixSpansSql(minLen: Int, levels: Int,
                                    where: String = ""): String = {
    val head =
      s"""WITH tok AS MATERIALIZED (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
        |  FROM documents$where),
        |pos AS MATERIALIZED (
        |  SELECT doc_id, i - 1 AS p, len(ws) AS n, ws[i] AS tokn
        |  FROM tok CROSS JOIN unnest(generate_series(1, len(ws))) AS g(i)
        |  WHERE len(ws) <= 1000000),
        |r0 AS MATERIALIZED (
        |  SELECT doc_id, p, n, dense_rank() OVER (ORDER BY tokn) AS rank
        |  FROM pos)""".stripMargin
    val rankCtes = (1 to levels).map { k =>
      val w = 1L << (k - 1)
      s""",
         |r$k AS MATERIALIZED (
         |  SELECT a.doc_id, a.p, a.n,
         |    dense_rank() OVER (ORDER BY a.rank, coalesce(b.rank, -1))
         |      AS rank
         |  FROM r${k - 1} a LEFT JOIN r${k - 1} b
         |    ON b.doc_id = a.doc_id AND b.p = a.p + $w)""".stripMargin
    }.mkString
    val nbCte =
      s""",
         |ord AS MATERIALIZED (
         |  SELECT doc_id, p, n,
         |    row_number() OVER (ORDER BY rank, doc_id, p) AS seq
         |  FROM r$levels),
         |l${levels + 1} AS MATERIALIZED (
         |  SELECT a.doc_id AS da, a.p AS pa, a.n AS na,
         |    b.doc_id AS db, b.p AS pb, b.n AS nb,
         |    CAST(0 AS BIGINT) AS acc
         |  FROM ord a JOIN ord b ON b.seq = a.seq + 1)""".stripMargin
    val walkCtes = (levels to 0 by -1).map { k =>
      val w = 1L << k
      s""",
         |l$k AS MATERIALIZED (
         |  SELECT t.da, t.pa, t.na, t.db, t.pb, t.nb,
         |    CASE WHEN t.pa + t.acc + $w <= t.na
         |              AND t.pb + t.acc + $w <= t.nb
         |              AND ra.rank = rb.rank
         |         THEN t.acc + $w ELSE t.acc END AS acc
         |  FROM l${k + 1} t
         |  LEFT JOIN r$k ra ON ra.doc_id = t.da AND ra.p = t.pa + t.acc
         |  LEFT JOIN r$k rb ON rb.doc_id = t.db AND rb.p = t.pb + t.acc)""".stripMargin
    }.mkString
    s"""$head$rankCtes$nbCte$walkCtes,
       |fpos AS MATERIALIZED (
       |  SELECT doc_id, p, max(acc) AS f FROM (
       |    SELECT da AS doc_id, pa AS p, acc FROM l0
       |    UNION ALL
       |    SELECT db, pb, acc FROM l0)
       |  GROUP BY doc_id, p)
       |SELECT c.doc_id, CAST(c.p AS BIGINT) AS span_start,
       |  CAST(c.f AS BIGINT) AS span_len,
       |  array_to_string(t.ws[c.p + 1 : c.p + c.f], ' ') AS span_text
       |FROM (
       |  SELECT c.doc_id, c.p, c.f
       |  FROM fpos c LEFT JOIN fpos pr
       |    ON pr.doc_id = c.doc_id AND pr.p = c.p - 1
       |  WHERE c.f >= $minLen AND coalesce(pr.f, 0) <= c.f) c
       |JOIN tok t USING (doc_id)""".stripMargin
  }

  /** GENERATED `rounds`-round BPE training replay (q147) — the q129 CTE
    * chain emitted by the same index loop [[graft.ops.Bpe]] iterates, so
    * a bigger merge budget cannot drift the replay (the q138
    * generated-SQL discipline). Two structural points vs the
    * hand-written 3-round chain:
    *   - every vocab CTE is MATERIALIZED: v(r−1) feeds both p(r) and
    *     v(r), so the default inlining doubles the reference tree per
    *     round — at 32 rounds that is a 2^32 expansion (observed as
    *     "too many open files" on the documents scan before any row is
    *     produced);
    *   - t(r) CTEs stay inline (single consumer each, ≤1 row). */
  private[graft] def bpeTrainSql(rounds: Int, topWords: Int): String = {
    val head =
      """WITH w AS (
        |  SELECT lower(t) AS word
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
        |        FROM documents)
        |  WHERE regexp_matches(lower(t), '^[a-z]+$')),
        |v0 AS MATERIALIZED (
        |  SELECT word,
        |    array_to_string(string_split(word, ''), ' ') AS sym,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM w GROUP BY word)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s""",
         |p$r AS (
         |  SELECT z[1] || ' ' || z[2] AS pair, CAST(sum(n) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT n, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
         |    FROM (SELECT n, string_split(sym, ' ') AS l FROM v${r - 1}))
         |  WHERE z[1] != z[2]
         |  GROUP BY 1),
         |t$r AS (
         |  SELECT pair, replace(pair, ' ', '') AS merged, cnt
         |  FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT word,
         |    CASE WHEN a IS NULL THEN sym0
         |         ELSE array_to_string(list_transform(
         |      list_filter(range(1, len(l) + 1),
         |        p -> NOT (p >= 2 AND l[p-1] = a AND l[p] = b)),
         |      p -> CASE WHEN p < len(l) AND l[p] = a AND l[p+1] = b
         |                THEN m ELSE l[p] END), ' ') END AS sym, n
         |  FROM (SELECT word, sym AS sym0, string_split(sym, ' ') AS l, n FROM v${r - 1})
         |  LEFT JOIN (SELECT string_split(pair, ' ')[1] AS a,
         |    string_split(pair, ' ')[2] AS b, merged AS m FROM t$r) ON TRUE)""".stripMargin
    }.mkString
    val mergeSelects = (1 to rounds).map { r =>
      if (r == 1)
        """SELECT 'merge' AS kind, pair AS key, merged AS value,
          |    cnt AS weight, 1 AS ord FROM t1""".stripMargin
      else s"SELECT 'merge', pair, merged, cnt, $r FROM t$r"
    }.mkString("\n  UNION ALL\n  ")
    s"""$head$roundCtes
       |SELECT kind, key, value, weight, ord FROM (
       |  $mergeSelects
       |  UNION ALL
       |  SELECT 'word', word, sym, n, 0
       |  FROM (SELECT * FROM v$rounds ORDER BY n DESC, word LIMIT $topWords))""".stripMargin
  }

  /** STORED-MERGE-REPLAY oracle for q163 (VERDICT r13 ask #4): unlike
    * [[bpeTrainSql]], whose CTE chain grows with the merge budget, this
    * replays from the TRAINED ARTIFACT — the merge table q163 sidecars
    * to [[Tables.Bpe512Sidecar]] at query time — so its size is one
    * VALUES list plus a fixed recursive CTE at ANY budget. The recursive
    * CTE applies merge ord=i at iteration i (DuckDB's own list rewrite —
    * the exact a≠b simultaneous semantics of [[bpeTrainSql]]'s v-CTEs),
    * then the final top-50 segmentations and the sampled-rank argmax
    * checks are derived from the replayed states. Evaluated LAZILY (a
    * def read when the parity map materializes) — graft.Verify runs the
    * queries first, so the sidecar reflects the corpus under test; if
    * the sidecar is missing the SQL fails LOUDLY (never a silent pass).
    */
  private def bpe512ReplaySql(topWords: Int,
                              checkOrds: Seq[Int]): String =
    bpeStoredReplaySql(Tables.Bpe512Sidecar, "q163",
      unitsSql = s"""
         |  SELECT g AS word, CAST(count(*) AS BIGINT) AS n FROM (
         |    SELECT ws[i] || '_' || ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3] AS g
         |    FROM (SELECT string_split_regex(trim(lower(text)), '\\s+') AS ws
         |          FROM documents)
         |    CROSS JOIN unnest(generate_series(1, len(ws) - 3)) AS t(i)
         |    WHERE len(ws) >= 4)
         |  WHERE regexp_matches(g, '^[a-z]+_[a-z]+_[a-z]+_[a-z]+$$')
         |  GROUP BY g ORDER BY n DESC, g LIMIT 4096""".stripMargin,
      topWords, checkOrds)

  /** q169's unit CTE: 12-gram boundary-marked windows capped at the top
    * 2048 — the depth-sustaining variant (the 4-gram/4096 table
    * exhausts near ~4k merges on this corpus's 31-word vocabulary;
    * measured: 12-gram/2048 sustains the full 8192 budget at every
    * SF). */
  private def bpe8kUnitsSql: String = {
    val parts = (0 until 12).map(j => s"ws[i+$j]").mkString(" || '_' || ")
    s"""
       |  SELECT g AS word, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT $parts AS g
       |    FROM (SELECT string_split_regex(trim(lower(text)), '\\s+') AS ws
       |          FROM documents)
       |    CROSS JOIN unnest(generate_series(1, len(ws) - 11)) AS t(i)
       |    WHERE len(ws) >= 12)
       |  WHERE regexp_matches(g, '^[a-z]+(_[a-z]+){11}$$')
       |  GROUP BY g ORDER BY n DESC, g LIMIT 2048""".stripMargin
  }

  /** The q181-family chain's FINAL snapshot (q175's s3 universe without
    * its lang filter) — shared by the q183/q184 twins so all chain
    * cells provably replay the same corpus. Interpolated into
    * stripMargin'd strings, so no emitted line may START with a `|`
    * (the outer stripMargin would eat it — hence `||` at line ends). */
  private def chainFinalSnapSql: String =
    """
      |  SELECT doc_id,
      |    text ||
      |      CASE WHEN doc_id % 11 = 0 THEN ' v2' ELSE '' END ||
      |      CASE WHEN doc_id % 7 = 0 THEN ' v3' ELSE '' END AS text
      |  FROM documents
      |  WHERE
      |    (((doc_id % 19 <> 0 OR doc_id % 20 = 0) AND doc_id % 23 <> 0)
      |       OR doc_id % 37 = 0)
      |    AND doc_id % 29 <> 0 OR doc_id % 41 = 0""".stripMargin

  /** q173's oracle: FULL recompute of both snapshots' 12-gram unit
    * counts, both top-2048 release tables, and the refresh-policy diff
    * — so a hash match is the batch≡incremental theorem for the
    * maintained unit-count model on every released unit plus the
    * policy bits. */
  private def vocabMaintainSql: String = {
    val parts = (0 until 12).map(j => s"ws[i+$j]").mkString(" || '_' || ")
    def units(src: String) =
      s"""(SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
         |    SELECT g AS word FROM (
         |      SELECT $parts AS g
         |      FROM (SELECT string_split_regex(trim(lower(text)), '\\s+') AS ws
         |            FROM $src)
         |      CROSS JOIN unnest(generate_series(1, len(ws) - 11)) AS t(i)
         |      WHERE len(ws) >= 12)
         |    WHERE regexp_matches(g, '^[a-z]+(_[a-z]+){11}$$'))
         |  GROUP BY word ORDER BY n DESC, word LIMIT 2048)""".stripMargin
    s"""WITH oldsnap AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN doc_id % 13 = 0 AND doc_id % 20 <> 0
       |    THEN text || ' v1' ELSE text END AS text
       |  FROM documents WHERE doc_id % 17 <> 0 OR doc_id % 20 = 0),
       |newsnap AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % 19 <> 0 OR doc_id % 20 = 0),
       |oldu AS MATERIALIZED ${units("oldsnap")},
       |newu AS MATERIALIZED ${units("newsnap")},
       |diffc AS (
       |  SELECT CAST(count(*) AS BIGINT) AS changed FROM (
       |    (SELECT word, n FROM newu EXCEPT SELECT word, n FROM oldu)
       |    UNION ALL
       |    (SELECT word, n FROM oldu EXCEPT SELECT word, n FROM newu)))
       |SELECT 'unit' AS kind, word AS unit, n FROM newu
       |UNION ALL
       |SELECT 'policy_changed', CAST(NULL AS VARCHAR), changed FROM diffc
       |UNION ALL
       |SELECT 'policy_retrain', CAST(NULL AS VARCHAR),
       |  CASE WHEN changed > 0 THEN CAST(1 AS BIGINT)
       |       ELSE CAST(0 AS BIGINT) END
       |FROM diffc""".stripMargin
  }

  private def bpeStoredReplaySql(sidecar: String, qtag: String,
                                 unitsSql: String, topWords: Int,
                                 checkOrds: Seq[Int]): String = {
    val dir = new java.io.File(sidecar)
    val parts = Option(dir.listFiles())
      .map(_.filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".json")).toSeq)
      .getOrElse(Nil)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val rows = parts.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map { line =>
        val n = om.readTree(line)
        (n.path("ord").asInt(), n.path("key").asText(),
          n.path("value").asText(), n.path("weight").asLong())
      }.toList
      finally src.close()
    }.sortBy(_._1)
    if (rows.isEmpty)
      return s"SELECT error('$qtag merge sidecar missing or empty - run " +
        s"graft.Verify (the $qtag query writes it) before dumping oracle SQL')"
    def esc(s: String) = s.replace("'", "''")
    val values = rows.map { case (o, k, v, w) =>
      s"($o, '${esc(k)}', '${esc(v)}', CAST($w AS BIGINT))"
    }.mkString(",\n    ")
    val maxOrd = rows.last._1
    // PER-UNIT FOLD, not a recursive CTE (round 15): the recursion
    // materialized units x budget rows and ran its rewrite level by
    // level — inherently sequential, 57 s at 8192x2048. list_reduce
    // folds the whole ordered merge list over each unit's symbol
    // string in ONE row-parallel pass (DuckDB parallelizes across
    // units), measured 4x faster and bit-identical. Each merge is
    // encoded "a b<0x01>merged" so the accumulator list stays uniform
    // VARCHAR; the rewrite is the same doubled-separator simultaneous
    // non-overlapping replace as bpeTrainSql's list rewrite, with a
    // contains() prefilter so non-matching units skip the 4-replace
    // machinery (a false positive just runs the bounded rewrite, which
    // then changes nothing). The sampled-rank argmax checks re-derive
    // the rank-(r-1) state with a prefix fold (ms[1:r-1]) — ~2x total
    // work, still row-parallel.
    def fold(upTo: String) =
      s"""list_reduce(list_prepend(sym, ms[1:$upTo]),
         |      (acc, x) -> CASE
         |        WHEN NOT contains(acc, split_part(x, chr(1), 1)) THEN acc
         |        ELSE trim(replace(replace(
         |          ' ' || replace(acc, ' ', '  ') || ' ',
         |          ' ' || replace(split_part(x, chr(1), 1), ' ', '  ') || ' ',
         |          ' ' || split_part(x, chr(1), 2) || ' '), '  ', ' ')) END)""".stripMargin
    val checks = checkOrds.filter(_ <= maxOrd).map { r =>
      s"""
         |  UNION ALL
         |  SELECT 'check', pair, replace(pair, ' ', ''), cnt, $r FROM (
         |    SELECT z[1] || ' ' || z[2] AS pair, CAST(sum(n) AS BIGINT) AS cnt
         |    FROM (SELECT n, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
         |          FROM (SELECT n, string_split(${fold((r - 1).toString)}, ' ') AS l
         |                FROM v0, mlist))
         |    WHERE z[1] != z[2]
         |    GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 1)""".stripMargin
    }.mkString
    s"""WITH m(ord, key, value, weight) AS (
       |  SELECT * FROM (VALUES
       |    $values) t(ord, key, value, weight)),
       |u AS MATERIALIZED ($unitsSql),
       |v0 AS MATERIALIZED (
       |  SELECT word,
       |    array_to_string(string_split(word, ''), ' ') AS sym, n
       |  FROM u),
       |mlist AS MATERIALIZED (
       |  SELECT list(key || chr(1) || value ORDER BY ord) AS ms FROM m),
       |fin AS MATERIALIZED (
       |  SELECT word, ${fold(maxOrd.toString)} AS sym, n FROM v0, mlist)
       |SELECT kind, key, value, weight, ord FROM (
       |  SELECT 'merge' AS kind, key, value, weight, ord FROM m
       |  UNION ALL
       |  SELECT 'word', word, sym, n, 0
       |  FROM (SELECT word, sym, n FROM fin
       |        ORDER BY n DESC, word LIMIT $topWords)$checks)""".stripMargin
  }

  /** q138: the q131 perceptron recurrence at k=68 — 4 standard features
    * plus 64 hashed-bigram bucket counts. The SQL is GENERATED by the
    * same index loops the Spark trainer unrolls with (68 update sums and
    * a 68-term margin per round), so widening k cannot drift the replay;
    * the bucket id replays the q26-proven rolling hash (left fold
    * (acc·31 + codepoint) mod 1e9+7 over the lowercased bigram) mod 64. */
  private val QfNgramSql: String = {
    val K = 68
    val xs = Seq(
      "    CAST(1 AS BIGINT) AS x0",
      "    CAST(len(ws) AS BIGINT) AS x1",
      "    n_chars AS x2",
      "    CAST((length(text) - length(replace(text, 'the', ''))) // 3 AS BIGINT) AS x3"
    ) ++ (0 until 64).map(j =>
      s"    CAST(len(list_filter(bk, v -> v = $j)) AS BIGINT) AS x${4 + j}")
    def upd(src: String, cond: String) =
      s"""  SELECT
         |${(0 until K).map(j => s"    CAST(coalesce(sum(y*x$j),0) AS BIGINT) AS d$j").mkString(",\n")}
         |  FROM $src$cond""".stripMargin
    def margin(p: String) = (0 until K).map(j => s"$p$j*x$j").mkString(" + ")
    val w1 = (0 until K).map(j => s"d$j AS g$j").mkString(", ")
    val wn = (0 until K).map(j => s"g$j+d$j AS g$j").mkString(", ")
    val wReport = (1 to 3).flatMap { r =>
      (0 until K).map { j =>
        if (r == 1 && j == 0)
          s"SELECT 'w' AS kind, CAST(1 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b, g0 AS v FROM w1"
        else s"SELECT 'w', $r, $j, g$j FROM w$r"
      }
    }.mkString("\nUNION ALL ")
    // f is MATERIALIZED: DuckDB inlines plain CTEs, so the 64-bucket
    // featurization (a per-character rolling-hash fold over every
    // bigram) would re-run once per round + once for scoring — the
    // Spark side materializes its feature table as a stored artifact,
    // and the oracle should pay the featurization once too.
    s"""WITH f AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
       |${xs.mkString(",\n")}
       |  FROM (
       |    SELECT doc_id, lang, n_chars, text, ws,
       |      list_transform(list_zip(ws[1:len(ws)-1], ws[2:len(ws)]),
       |        z -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |               list_transform(string_split(lower(z[1] || ' ' || z[2]), ''),
       |                 ch -> CAST(unicode(ch) AS BIGINT))),
       |             (acc, c) -> (acc * 31 + c) % 1000000007) % 64) AS bk
       |    FROM (SELECT doc_id, lang, n_chars, text,
       |            string_split_regex(trim(text), '\\s+') AS ws FROM documents))),
       |u1 AS (
       |${upd("f", "")}),
       |w1 AS (SELECT $w1 FROM u1),
       |u2 AS (
       |${upd("f, w1", s" WHERE y * (${margin("g")}) <= 0")}),
       |w2 AS (SELECT $wn FROM w1, u2),
       |u3 AS (
       |${upd("f, w2", s" WHERE y * (${margin("g")}) <= 0")}),
       |w3 AS (SELECT $wn FROM w2, u3)
       |$wReport
       |UNION ALL
       |SELECT 'd', doc_id, CASE WHEN m > 0 THEN 1 ELSE -1 END, m
       |FROM (SELECT doc_id, ${margin("g")} AS m
       |      FROM f, w3) s""".stripMargin
  }

  /** q139: q132's span-dedup replay at three window lengths with the
    * cut masks unioned — per-length CTEs generated by the same loop the
    * Spark side folds over, so adding a length cannot drift the replay. */
  private val MultiSpanSql: String = {
    val Ls = Seq(4, 6, 9)
    val perLen = Ls.map { l =>
      s"""w$l AS (
         |  SELECT doc_id, i AS p, array_to_string(ws[i+1 : i+$l], ' ') AS key
         |  FROM tok CROSS JOIN unnest(generate_series(0, len(ws) - $l)) AS g(i)
         |  WHERE len(ws) >= $l AND len(ws) <= 1000000),
         |o$l AS (
         |  SELECT key, min(doc_id * 1000000 + p) AS canon
         |  FROM w$l GROUP BY key HAVING count(*) >= 2),
         |m$l AS (
         |  SELECT w.doc_id, w.p FROM w$l w JOIN o$l o ON w.key = o.key
         |  WHERE w.doc_id * 1000000 + w.p <> o.canon)""".stripMargin
    }.mkString(",\n")
    val survives = Ls.map(l =>
      s"NOT EXISTS (SELECT 1 FROM m$l WHERE m$l.doc_id = t.doc_id AND i BETWEEN m$l.p + 1 AND m$l.p + $l)")
      .mkString("\n    AND ")
    s"""WITH tok AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
       |  FROM documents),
       |$perLen,
       |kept AS (
       |  SELECT t.doc_id, i, t.ws[i] AS tokn
       |  FROM tok t CROSS JOIN unnest(generate_series(1, len(t.ws))) AS g(i)
       |  WHERE $survives),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    string_agg(tokn, ' ' ORDER BY i) AS txt
       |  FROM kept GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
       |  CAST(len(t.ws) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
       |  coalesce(a.txt, '') AS deduped_text
       |FROM tok t LEFT JOIN agg a USING (doc_id)""".stripMargin
  }

  /** q132's fixed-L (L=5) span-dedup replay — shared verbatim by
    * q149 (the chunked formulation is provably equivalent, so one
    * SQL gates both engine paths). */
  private val SpanDedup5Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
      |  FROM documents),
      |win AS (
      |  SELECT doc_id, i AS p, array_to_string(ws[i+1 : i+5], ' ') AS key
      |  FROM tok CROSS JOIN unnest(generate_series(0, len(ws) - 5)) AS g(i)
      |  WHERE len(ws) >= 5 AND len(ws) <= 1000000),
      |occ AS (
      |  SELECT key, count(*) AS n, min(doc_id * 1000000 + p) AS canon
      |  FROM win GROUP BY key HAVING count(*) >= 2),
      |m AS (
      |  SELECT w.doc_id, w.p
      |  FROM win w JOIN occ o ON w.key = o.key
      |  WHERE w.doc_id * 1000000 + w.p <> o.canon),
      |kept AS (
      |  SELECT t.doc_id, i, t.ws[i] AS tokn
      |  FROM tok t CROSS JOIN unnest(generate_series(1, len(t.ws))) AS g(i)
      |  WHERE NOT EXISTS (SELECT 1 FROM m
      |    WHERE m.doc_id = t.doc_id AND i BETWEEN m.p + 1 AND m.p + 5)),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |    string_agg(tokn, ' ' ORDER BY i) AS txt
      |  FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
      |  CAST(len(t.ws) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
      |  coalesce(a.txt, '') AS deduped_text
      |FROM tok t LEFT JOIN agg a USING (doc_id)""".stripMargin

  // A DEF, not a val (ADVICE r14 #2): q163's entry inlines the /tmp merge
  // sidecar, so a strict val would freeze whatever corpus's merges were on
  // disk when ANY code path first touched Oracles — materializing the map
  // per access keeps the sidecar read at DUMP time (Verify dumps after
  // running the queries, which refresh the sidecar for the corpus under
  // test). The per-access cost is string concatenation of prebuilt vals.
  def parity: Map[String, String] = Map(
    "q139_multi_span_dedup" -> MultiSpanSql,

    // End-to-end corpus build: the full quality -> exact-dedup ->
    // decontamination -> LM-gate -> shard chain replayed stage by
    // stage, the decontaminated final_text included.
    // The incremental build's equivalence proof IS this oracle: the
    // Spark side assembles the manifest from the stored previous build +
    // delta-only recomputation, while DuckDB replays the FULL q143 chain
    // over the new snapshot (training universe = non-eval docs surviving
    // the %19 removal; eval suite and LM model unchanged — q143's CTEs
    // with one extra predicate). A hash match proves incremental ≡ full.
    "q145_incremental_corpus" ->
      """WITH q AS (
        |  SELECT doc_id, text,
        |    len(string_split_regex(trim(text), '\s+'))
        |      BETWEEN 25 AND 90 AS pass_quality
        |  FROM documents WHERE doc_id % 20 <> 0 AND doc_id % 19 <> 0),
        |h AS (
        |  SELECT doc_id,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS hh
        |  FROM q WHERE pass_quality),
        |c AS (SELECT hh, min(doc_id) AS canon FROM h GROUP BY hh),
        |ex AS (
        |  SELECT h.doc_id, h.doc_id = c.canon AS pass_exact
        |  FROM h JOIN c USING (hh)),
        |surv AS (
        |  SELECT q.doc_id, q.text
        |  FROM q JOIN ex USING (doc_id)
        |  WHERE q.pass_quality AND ex.pass_exact),
        |dtok AS (
        |  SELECT doc_id, TRUE AS ev,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents WHERE doc_id % 20 = 0
        |  UNION ALL
        |  SELECT doc_id, FALSE,
        |    string_split_regex(trim(lower(text)), '\s+')
        |  FROM surv),
        |ew AS (
        |  SELECT DISTINCT array_to_string(ws[i+1 : i+8], ' ') AS key
        |  FROM dtok CROSS JOIN unnest(generate_series(0, len(ws) - 8)) AS g(i)
        |  WHERE ev AND len(ws) >= 8),
        |m AS (
        |  SELECT t.doc_id, i AS p
        |  FROM dtok t CROSS JOIN unnest(generate_series(0, len(ws) - 8)) AS g(i)
        |  WHERE NOT ev AND len(ws) >= 8
        |    AND array_to_string(ws[i+1 : i+8], ' ') IN (SELECT key FROM ew)),
        |dkept AS (
        |  SELECT t.doc_id, i, t.ws[i] AS tokn
        |  FROM dtok t CROSS JOIN unnest(generate_series(1, len(t.ws))) AS g(i)
        |  WHERE NOT t.ev AND NOT EXISTS (SELECT 1 FROM m
        |    WHERE m.doc_id = t.doc_id AND i BETWEEN m.p + 1 AND m.p + 8)),
        |dagg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tokn, ' ' ORDER BY i) AS txt
        |  FROM dkept GROUP BY doc_id),
        |decon AS (
        |  SELECT t.doc_id,
        |    (len(t.ws) - coalesce(a.n_kept, 0)) * 100 <= len(t.ws) * 20
        |      AS pass_decon,
        |    CASE WHEN (len(t.ws) - coalesce(a.n_kept, 0)) * 100
        |              <= len(t.ws) * 20
        |         THEN coalesce(a.txt, '') ELSE '' END AS decon_text
        |  FROM dtok t LEFT JOIN dagg a USING (doc_id) WHERE NOT t.ev),
        |ltok AS (
        |  SELECT doc_id, lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |lbg AS (
        |  SELECT doc_id, lang, z[1] || ' ' || z[2] AS bigram
        |  FROM (SELECT doc_id, lang,
        |          unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS z
        |        FROM ltok)),
        |lm AS (
        |  SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
        |  FROM lbg WHERE lang = 'en' GROUP BY bigram),
        |sbg AS (
        |  SELECT doc_id, z[1] || ' ' || z[2] AS bigram
        |  FROM (SELECT doc_id,
        |          unnest(list_zip(ws2[1:len(ws2)-1], ws2[2:len(ws2)])) AS z
        |        FROM (SELECT doc_id,
        |                string_split_regex(trim(lower(decon_text)), '\s+') AS ws2
        |              FROM decon WHERE pass_decon))),
        |sc AS (
        |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS nb,
        |    CAST(count(l.cnt) AS BIGINT) AS nh
        |  FROM sbg b LEFT JOIN lm l USING (bigram) GROUP BY b.doc_id),
        |lmflag AS (SELECT doc_id, nh * 2 >= nb AND nb > 0 AS pass_lm FROM sc),
        |man AS (
        |  SELECT q.doc_id, q.pass_quality,
        |    coalesce(ex.pass_exact, FALSE) AS pass_exact,
        |    coalesce(d.pass_decon, FALSE) AS pass_decon,
        |    coalesce(lf.pass_lm, FALSE) AS pass_lm,
        |    (q.pass_quality AND coalesce(ex.pass_exact, FALSE)
        |      AND coalesce(d.pass_decon, FALSE)
        |      AND coalesce(lf.pass_lm, FALSE)) AS keep,
        |    coalesce(d.decon_text, '') AS dtext
        |  FROM q
        |  LEFT JOIN ex ON q.doc_id = ex.doc_id
        |  LEFT JOIN decon d ON q.doc_id = d.doc_id
        |  LEFT JOIN lmflag lf ON q.doc_id = lf.doc_id)
        |SELECT doc_id, pass_quality, pass_exact, pass_decon, pass_lm, keep,
        |  CASE WHEN keep THEN dtext ELSE '' END AS final_text,
        |  CAST(CASE WHEN keep THEN doc_id % 16 ELSE -1 END AS INT) AS shard
        |FROM man""".stripMargin,

    "q143_corpus_build" ->
      """WITH q AS (
        |  SELECT doc_id, text,
        |    len(string_split_regex(trim(text), '\s+'))
        |      BETWEEN 25 AND 90 AS pass_quality
        |  FROM documents WHERE doc_id % 20 <> 0),
        |h AS (
        |  SELECT doc_id,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS hh
        |  FROM q WHERE pass_quality),
        |c AS (SELECT hh, min(doc_id) AS canon FROM h GROUP BY hh),
        |ex AS (
        |  SELECT h.doc_id, h.doc_id = c.canon AS pass_exact
        |  FROM h JOIN c USING (hh)),
        |surv AS (
        |  SELECT q.doc_id, q.text
        |  FROM q JOIN ex USING (doc_id)
        |  WHERE q.pass_quality AND ex.pass_exact),
        |dtok AS (
        |  SELECT doc_id, TRUE AS ev,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents WHERE doc_id % 20 = 0
        |  UNION ALL
        |  SELECT doc_id, FALSE,
        |    string_split_regex(trim(lower(text)), '\s+')
        |  FROM surv),
        |ew AS (
        |  SELECT DISTINCT array_to_string(ws[i+1 : i+8], ' ') AS key
        |  FROM dtok CROSS JOIN unnest(generate_series(0, len(ws) - 8)) AS g(i)
        |  WHERE ev AND len(ws) >= 8),
        |m AS (
        |  SELECT t.doc_id, i AS p
        |  FROM dtok t CROSS JOIN unnest(generate_series(0, len(ws) - 8)) AS g(i)
        |  WHERE NOT ev AND len(ws) >= 8
        |    AND array_to_string(ws[i+1 : i+8], ' ') IN (SELECT key FROM ew)),
        |dkept AS (
        |  SELECT t.doc_id, i, t.ws[i] AS tokn
        |  FROM dtok t CROSS JOIN unnest(generate_series(1, len(t.ws))) AS g(i)
        |  WHERE NOT t.ev AND NOT EXISTS (SELECT 1 FROM m
        |    WHERE m.doc_id = t.doc_id AND i BETWEEN m.p + 1 AND m.p + 8)),
        |dagg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tokn, ' ' ORDER BY i) AS txt
        |  FROM dkept GROUP BY doc_id),
        |decon AS (
        |  SELECT t.doc_id,
        |    (len(t.ws) - coalesce(a.n_kept, 0)) * 100 <= len(t.ws) * 20
        |      AS pass_decon,
        |    CASE WHEN (len(t.ws) - coalesce(a.n_kept, 0)) * 100
        |              <= len(t.ws) * 20
        |         THEN coalesce(a.txt, '') ELSE '' END AS decon_text
        |  FROM dtok t LEFT JOIN dagg a USING (doc_id) WHERE NOT t.ev),
        |ltok AS (
        |  SELECT doc_id, lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |lbg AS (
        |  SELECT doc_id, lang, z[1] || ' ' || z[2] AS bigram
        |  FROM (SELECT doc_id, lang,
        |          unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS z
        |        FROM ltok)),
        |lm AS (
        |  SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
        |  FROM lbg WHERE lang = 'en' GROUP BY bigram),
        |sbg AS (
        |  SELECT doc_id, z[1] || ' ' || z[2] AS bigram
        |  FROM (SELECT doc_id,
        |          unnest(list_zip(ws2[1:len(ws2)-1], ws2[2:len(ws2)])) AS z
        |        FROM (SELECT doc_id,
        |                string_split_regex(trim(lower(decon_text)), '\s+') AS ws2
        |              FROM decon WHERE pass_decon))),
        |sc AS (
        |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS nb,
        |    CAST(count(l.cnt) AS BIGINT) AS nh
        |  FROM sbg b LEFT JOIN lm l USING (bigram) GROUP BY b.doc_id),
        |lmflag AS (SELECT doc_id, nh * 2 >= nb AND nb > 0 AS pass_lm FROM sc),
        |man AS (
        |  SELECT q.doc_id, q.pass_quality,
        |    coalesce(ex.pass_exact, FALSE) AS pass_exact,
        |    coalesce(d.pass_decon, FALSE) AS pass_decon,
        |    coalesce(lf.pass_lm, FALSE) AS pass_lm,
        |    (q.pass_quality AND coalesce(ex.pass_exact, FALSE)
        |      AND coalesce(d.pass_decon, FALSE)
        |      AND coalesce(lf.pass_lm, FALSE)) AS keep,
        |    coalesce(d.decon_text, '') AS dtext
        |  FROM q
        |  LEFT JOIN ex ON q.doc_id = ex.doc_id
        |  LEFT JOIN decon d ON q.doc_id = d.doc_id
        |  LEFT JOIN lmflag lf ON q.doc_id = lf.doc_id)
        |SELECT doc_id, pass_quality, pass_exact, pass_decon, pass_lm, keep,
        |  CASE WHEN keep THEN dtext ELSE '' END AS final_text,
        |  CAST(CASE WHEN keep THEN doc_id % 16 ELSE -1 END AS INT) AS shard
        |FROM man""".stripMargin,

    // Temperature-scaled mixture weights: per-source token mass, the
    // alpha=0.5 weight floor(sqrt(n_tokens)) (IEEE sqrt of a perfect
    // square is correctly rounded; floor pins the rest), and the
    // single-division share.
    "q142_mixture_weights" ->
      """WITH ps AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT source, n_docs, n_tokens,
        |    CAST(floor(sqrt(n_tokens)) AS BIGINT) AS weight
        |  FROM ps),
        |t AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM w)
        |SELECT source, n_docs, n_tokens, weight,
        |  CAST(weight AS DOUBLE) / CAST(tw AS DOUBLE) AS share
        |FROM w, t""".stripMargin,

    // Integer log2-count LM scoring: the bigram count model over the
    // lang='en' reference subset, every doc's bigrams left-joined to
    // it, bit-length weights (length(bin(cnt)) — exact in both
    // engines), and the single-division average all replayed.
    "q141_lm_score" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, lang, z[1] || ' ' || z[2] AS bigram
        |  FROM (SELECT doc_id, lang,
        |          unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS z
        |        FROM tok)),
        |lm AS (
        |  SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
        |  FROM bg WHERE lang = 'en' GROUP BY bigram),
        |sc AS (
        |  SELECT b.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(count(l.cnt) AS BIGINT) AS n_hits,
        |    CAST(coalesce(sum(length(bin(l.cnt))), 0) AS BIGINT) AS total_bits
        |  FROM bg b LEFT JOIN lm l USING (bigram) GROUP BY b.doc_id)
        |SELECT d.doc_id,
        |  coalesce(n_bigrams, 0) AS n_bigrams,
        |  coalesce(n_hits, 0) AS n_hits,
        |  coalesce(total_bits, 0) AS total_bits,
        |  CASE WHEN coalesce(n_bigrams, 0) > 0
        |       THEN CAST(total_bits AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
        |       ELSE 0.0 END AS lm_score
        |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin,

    // Snapshot delta: both synthesized snapshots, the content hash
    // (md5 over the normalized text — the q18/q26 fingerprint), the
    // full-outer disposition and the work-set flag all replayed.
    "q140_snapshot_delta" ->
      """WITH o AS (
        |  SELECT doc_id,
        |    md5(lower(trim(regexp_replace(
        |      CASE WHEN doc_id % 13 = 0 THEN text || ' v1' ELSE text END,
        |      '\s+', ' ', 'g')))) AS old_hash, TRUE AS in_old
        |  FROM documents WHERE doc_id % 17 <> 0),
        |n AS (
        |  SELECT doc_id,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS new_hash,
        |    TRUE AS in_new
        |  FROM documents WHERE doc_id % 19 <> 0),
        |d AS (
        |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, old_hash, new_hash,
        |    CASE WHEN in_old IS NULL THEN 'added'
        |         WHEN in_new IS NULL THEN 'removed'
        |         WHEN old_hash IS DISTINCT FROM new_hash THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT doc_id, old_hash, new_hash, status,
        |  status IN ('added', 'changed') AS needs_processing
        |FROM d""".stripMargin,
    "q01_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |  l_extendedprice * (1.0 - l_discount) AS revenue, l_returnflag
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 23:59:59'
        |  AND l_quantity > 45""".stripMargin,

    "q02_sentinel_cleaning" ->
      """SELECT o_orderkey,
        |  COALESCE(NULLIF(o_orderpriority, '5-LOW'), 'Not specified') AS priority_clean,
        |  CASE WHEN o_orderstatus = 'O' THEN 'Open'
        |       WHEN o_orderstatus = 'F' THEN 'Finished'
        |       WHEN o_orderstatus = 'P' THEN 'Pending'
        |       ELSE 'Unknown' END AS status_desc,
        |  CASE WHEN o_totalprice > 200000 THEN 'High'
        |       WHEN o_totalprice > 100000 THEN 'Medium'
        |       ELSE 'Low' END AS value_band,
        |  CASE WHEN (CASE WHEN o_orderkey % 3 = 0 THEN 't'
        |                  WHEN o_orderkey % 3 = 1 THEN 'f' END) = 't' THEN 'Yes'
        |       WHEN (CASE WHEN o_orderkey % 3 = 0 THEN 't'
        |                  WHEN o_orderkey % 3 = 1 THEN 'f' END) = 'f' THEN 'No'
        |       ELSE 'Unknown' END AS has_dmc
        |FROM orders""".stripMargin,

    "q03_null_in_list_recode" ->
      """SELECT phase,
        |  CASE WHEN phase IN ('1-URGENT', '2-HIGH') THEN 'High'
        |       WHEN phase IN ('4-NOT SPECIFIED', NULL) THEN 'Not applicable'
        |       ELSE 'Other' END AS recode,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS phase FROM orders)
        |GROUP BY phase, recode""".stripMargin,

    "q04_ilike_any_categorize" ->
      """SELECT CASE
        |    WHEN lower(p_name) LIKE '%red%' OR lower(p_name) LIKE '%hot%' THEN 'Warm'
        |    WHEN lower(p_name) LIKE '%blue%' OR lower(p_name) LIKE '%cold%' OR lower(p_name) LIKE '%small%' THEN 'Cool'
        |    WHEN lower(p_name) LIKE '%gizmo%' OR lower(p_name) LIKE '%widget%' OR lower(p_name) LIKE '%gear%' THEN 'Mechanical'
        |    WHEN lower(p_name) LIKE '%bolt%' OR lower(p_name) LIKE '%ring%' OR lower(p_name) LIKE '%rod%' THEN 'Hardware'
        |    ELSE 'Other' END AS category,
        |  CAST(count(*) AS BIGINT) AS n_parts
        |FROM part
        |WHERE NOT (lower(p_name) LIKE '%anvil%')
        |GROUP BY category""".stripMargin,

    "q05_duration_parse" ->
      """WITH synth AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |         ELSE CAST(o_orderkey % 40 AS VARCHAR) || ' ' ||
        |              (CASE WHEN o_orderkey % 5 = 0 THEN 'Days'
        |                    WHEN o_orderkey % 5 = 1 THEN 'Weeks'
        |                    WHEN o_orderkey % 5 = 2 THEN 'Months'
        |                    WHEN o_orderkey % 5 = 3 THEN 'Years'
        |                    ELSE '' END) END AS target_duration
        |  FROM orders),
        |parsed AS (
        |  SELECT o_orderkey, target_duration,
        |    CAST(FLOOR(
        |      (CASE WHEN regexp_matches(regexp_replace(target_duration, '[^0-9.]', '', 'g'), '^[0-9]+(\.[0-9]+)?$')
        |            THEN CAST(regexp_replace(target_duration, '[^0-9.]', '', 'g') AS DOUBLE) END) *
        |      (CASE WHEN lower(target_duration) LIKE '%year%' THEN 365.0
        |            WHEN lower(target_duration) LIKE '%month%' THEN 30.0
        |            WHEN lower(target_duration) LIKE '%week%' THEN 7.0
        |            ELSE 1.0 END)) AS BIGINT) AS d
        |  FROM synth)
        |SELECT o_orderkey, target_duration,
        |  CAST(CASE WHEN d > 10950 THEN 10950 ELSE d END AS INT) AS duration_days,
        |  CASE WHEN d IS NULL THEN 'Not specified'
        |       WHEN d > 10950 THEN 'Capped'
        |       ELSE 'Original' END AS duration_flag
        |FROM parsed""".stripMargin,

    "q06_mapping_join_coalesce" ->
      """WITH mapping AS (
        |  SELECT raw_brand, 'BRAND_' || trim(raw_brand) AS clean_brand
        |  FROM (SELECT DISTINCT p_brand AS raw_brand FROM part)
        |  WHERE right(raw_brand, 1) IN ('0', '2', '4', '6', '8'))
        |SELECT COALESCE(m.clean_brand, p.p_brand) AS enriched_brand,
        |  CAST(count(*) AS BIGINT) AS n_parts
        |FROM part p
        |LEFT JOIN mapping m ON lower(trim(p.p_brand)) = lower(trim(m.raw_brand))
        |GROUP BY enriched_brand""".stripMargin,

    "q07_date_dim" ->
      """SELECT CAST(strftime(full_date, '%Y%m%d') AS INT) AS date_key,
        |  full_date,
        |  CAST(year(full_date) AS INT) AS year,
        |  CAST(quarter(full_date) AS INT) AS quarter,
        |  CAST(month(full_date) AS INT) AS month,
        |  monthname(full_date) AS month_name,
        |  CAST(day(full_date) AS INT) AS day_of_month,
        |  dayname(full_date) AS day_name,
        |  CAST(weekofyear(full_date) AS INT) AS week_of_year,
        |  CAST(dayofweek(full_date) AS INT) AS day_of_week,
        |  dayofweek(full_date) IN (0, 6) AS is_weekend
        |FROM (SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '2001-12-31', INTERVAL 1 DAY)) AS DATE) AS full_date)""".stripMargin,

    "q08_surrogate_dim" ->
      """SELECT segment, CAST(row_number() OVER (ORDER BY segment) AS INT) AS segment_key
        |FROM (SELECT DISTINCT c_mktsegment AS segment FROM customer)""".stripMargin,

    "q09_bridge_join" ->
      """WITH dim AS (
        |  SELECT p_brand, CAST(row_number() OVER (ORDER BY p_brand) AS INT) AS brand_key
        |  FROM (SELECT DISTINCT p_brand FROM part))
        |SELECT p.p_partkey, dim.brand_key FROM part p JOIN dim ON p.p_brand = dim.p_brand""".stripMargin,

    "q10_fact_star_join" ->
      """WITH dd AS (
        |  SELECT CAST(strftime(full_date, '%Y%m%d') AS INT) AS date_key, full_date
        |  FROM (SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1999-12-31', INTERVAL 1 DAY)) AS DATE) AS full_date))
        |SELECT o.o_orderkey, c.c_nationkey,
        |  COALESCE(dd.date_key, 0) AS order_date_key, o.o_totalprice
        |FROM orders o
        |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |LEFT JOIN dd ON CAST(o.o_orderdate AS DATE) = dd.full_date""".stripMargin,

    "q11_conditional_agg" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS total,
        |  CAST(count(o_custkey) AS BIGINT) AS nonnull_cust,
        |  CAST(sum(CASE WHEN o_orderdate BETWEEN TIMESTAMP '1997-01-01 00:00:00' AND TIMESTAMP '1998-01-01 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS recent,
        |  CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS older,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS finished
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q12_min_case_priority" ->
      """SELECT l_orderkey,
        |  CAST(min(CASE WHEN l_returnflag = 'R' THEN 1
        |                WHEN l_returnflag = 'A' THEN 2
        |                ELSE 3 END) AS INT) AS best_priority
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,

    "q13_count_distinct" ->
      """SELECT c_mktsegment,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q14_percentile_cap" ->
      """SELECT l_returnflag, quantile_disc(l_quantity, 0.997) AS qty_cap
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q15_having_dup_audit" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY o_custkey HAVING count(*) > 1""".stripMargin,

    "q16_topk" ->
      """SELECT l_partkey, CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS total_qty
        |FROM lineitem GROUP BY l_partkey
        |ORDER BY total_qty DESC, l_partkey LIMIT 100""".stripMargin,

    "q17_opportunity_score" ->
      """WITH trial_priority AS (
        |  SELECT l_orderkey,
        |    min(CASE WHEN l_returnflag = 'R' THEN 1 WHEN l_returnflag = 'A' THEN 2 ELSE 3 END) AS best_priority
        |  FROM lineitem GROUP BY l_orderkey),
        |relevant AS (
        |  SELECT o.o_orderkey, o.o_custkey, o.o_orderdate
        |  FROM orders o LEFT JOIN trial_priority tp ON o.o_orderkey = tp.l_orderkey
        |  WHERE COALESCE(tp.best_priority, 99) <= 2 AND o.o_orderstatus = 'F'),
        |fanout AS (
        |  SELECT r.o_orderkey, r.o_custkey, r.o_orderdate, l.l_quantity, p.p_name
        |  FROM relevant r
        |  JOIN lineitem l ON r.o_orderkey = l.l_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey),
        |metrics AS (
        |  SELECT p_name,
        |    CAST(count(*) AS BIGINT) AS total_trials,
        |    CAST(sum(CASE WHEN l_quantity >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS late_phase_count,
        |    CAST(sum(CASE WHEN o_orderdate BETWEEN TIMESTAMP '1997-01-01 00:00:00' AND TIMESTAMP '1998-08-01 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS recent_trials,
        |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS older_trials
        |  FROM fanout GROUP BY p_name),
        |sponsors AS (
        |  SELECT f.p_name AS sp_name, CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS industry_sponsors
        |  FROM fanout f JOIN customer c ON f.o_custkey = c.c_custkey AND c.c_mktsegment = 'BUILDING'
        |  GROUP BY f.p_name),
        |scored AS (
        |  SELECT m.p_name, m.total_trials, m.late_phase_count, m.recent_trials, m.older_trials,
        |    CAST(COALESCE(s.industry_sponsors, 0) AS BIGINT) AS industry_sponsors,
        |    ROUND(0.4 * (CAST(m.late_phase_count AS DOUBLE) / CAST(m.total_trials AS DOUBLE))
        |        + 0.3 * (CAST(m.recent_trials AS DOUBLE) / CAST(m.total_trials AS DOUBLE))
        |        + 0.2 * (1.0 / (1.0 + CAST(COALESCE(s.industry_sponsors, 0) AS DOUBLE)))
        |        + 0.1 * (CAST(m.recent_trials AS DOUBLE) / (CAST(m.older_trials AS DOUBLE) + 1.0)), 6) AS opportunity_score
        |  FROM metrics m LEFT JOIN sponsors s ON m.p_name = s.sp_name
        |  WHERE m.total_trials > 10 AND NOT (lower(m.p_name) LIKE '%old%'))
        |SELECT p_name, total_trials, late_phase_count, recent_trials, older_trials,
        |  industry_sponsors, opportunity_score,
        |  CAST(row_number() OVER (ORDER BY opportunity_score DESC, p_name) AS INT) AS opportunity_rank
        |FROM scored""".stripMargin,

    // ==== LLM-data-pipeline extension. q19/q22/q25 replay the PORTABLE
    // sketch flavors (seeded-md5 MinHash/SimHash, multiplicative-hash
    // signed projections) end-to-end — signatures, banding, verification
    // — closing the last rows-only cells; the xxhash64 fast-path flavors
    // stay gated by q83a/b/c + RecallSpec. ====

    // MinHash: mh_i = min(md5('i:' || shingle)) over the capped corpus
    // shingles (q21's CTE verbatim), bands join on the raw signature
    // string pairs, candidates verified with the EXACT shingle
    // intersection (the same count Spark's array_intersect of the
    // carried shingle sets produces).
    // Incremental MinHash index maintenance: the oracle replays the
    // FULL index rebuild over the new snapshot (signatures for every
    // doc, banding, the bucket-occupancy cap, exact-Jaccard
    // verification) while Spark reuses the stored index for unchanged
    // docs and re-signs only the delta — a hash match IS the
    // batch≡incremental theorem for the pair set (q145's
    // equivalence-as-oracle shape; q19's CTE structure with the
    // snapshot predicate and the occupancy cap in place of the
    // corpus-DF cap).
    "q148_incremental_minhash" -> {
      val mhs = (0 until 16)
        .map(i => s"min(md5('$i:' || shingle)) AS mh_$i")
        .mkString(",\n        |    ")
      val bands = (0 until 8)
        .map(b => s"SELECT doc_id, $b AS band_idx, " +
          s"mh_${2 * b} || '|' || mh_${2 * b + 1} AS band_key FROM sigs")
        .mkString("\n        |  UNION ALL ")
      s"""WITH wrds AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        |  FROM documents WHERE doc_id % 19 <> 0 OR doc_id % 20 = 0),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |  FROM wrds, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)),
        |sigs AS (
        |  SELECT doc_id,
        |    $mhs,
        |    CAST(count(*) AS BIGINT) AS m
        |  FROM sh GROUP BY doc_id),
        |bands AS (
        |  $bands),
        |bok AS (
        |  SELECT doc_id, band_idx, band_key FROM bands
        |  QUALIFY count(*) OVER (PARTITION BY band_idx, band_key) <= 64),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bok a JOIN bok b USING (band_idx, band_key)
        |  WHERE a.doc_id < b.doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS BIGINT) AS i
        |  FROM sh a
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(i AS DOUBLE) / CAST(ca.m + cb.m - i AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN sigs ca ON doc_a = ca.doc_id
        |JOIN sigs cb ON doc_b = cb.doc_id
        |WHERE CAST(i AS DOUBLE) / CAST(ca.m + cb.m - i AS DOUBLE) >= 0.5""".stripMargin
    },

    "q19_minhash_neardup" -> {
      val mhs = (0 until 16)
        .map(i => s"min(md5('$i:' || shingle)) AS mh_$i")
        .mkString(",\n        |    ")
      val bands = (0 until 8)
        .map(b => s"SELECT doc_id, $b AS band_idx, " +
          s"mh_${2 * b} || '|' || mh_${2 * b + 1} AS band_key FROM sigs")
        .mkString("\n        |  UNION ALL ")
      s"""WITH wrds AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |  FROM wrds, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 200),
        |sigs AS (
        |  SELECT doc_id,
        |    $mhs,
        |    CAST(count(*) AS BIGINT) AS m
        |  FROM sh GROUP BY doc_id),
        |bands AS (
        |  $bands),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b USING (band_idx, band_key)
        |  WHERE a.doc_id < b.doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS BIGINT) AS i
        |  FROM sh a
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(i AS DOUBLE) / CAST(ca.m + cb.m - i AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN sigs ca ON doc_a = ca.doc_id
        |JOIN sigs cb ON doc_b = cb.doc_id
        |WHERE CAST(i AS DOUBLE) / CAST(ca.m + cb.m - i AS DOUBLE) >= 0.5""".stripMargin
    },

    // SimHash: vote bit i of a shingle = bit (i%4) of hex digit (i/4) of
    // md5(shingle) (ascii-decoded), fingerprint as four 16-bit chunks
    // (c = bits 16c..16c+15 — never a 1<<63), 4-chunk pigeonhole
    // banding, Hamming = sum of per-chunk xor popcounts.
    "q22_simhash_neardup" -> {
      def digit(g: Int) =
        s"(CASE WHEN ascii(substr(md5(shingle), ${g + 1}, 1)) <= 57 " +
          s"THEN ascii(substr(md5(shingle), ${g + 1}, 1)) - 48 " +
          s"ELSE ascii(substr(md5(shingle), ${g + 1}, 1)) - 87 END)"
      val pops = (0 until 64)
        .map(i => s"CAST(sum((${digit(i / 4)} >> ${i % 4}) & 1) AS BIGINT) AS p_$i")
        .mkString(",\n        |    ")
      val chunks = (0 until 4).map { c =>
        (0 until 16)
          .map(b => s"(CASE WHEN 2 * p_${16 * c + b} > n THEN ${1L << b} ELSE 0 END)")
          .mkString("CAST(", " + ", s" AS BIGINT) AS c$c")
      }.mkString(",\n        |    ")
      val ham = (0 until 4)
        .map(c => s"bit_count(xor(a.c$c, b.c$c))").mkString(" + ")
      s"""WITH wrds AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |  FROM wrds, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 200),
        |pop AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
        |    $pops
        |  FROM sh GROUP BY doc_id),
        |fp AS (
        |  SELECT doc_id,
        |    $chunks
        |  FROM pop),
        |e AS (
        |  SELECT doc_id, u.ci AS chunk_idx,
        |    CASE u.ci WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END AS chunk,
        |    c0, c1, c2, c3
        |  FROM fp, (VALUES (0), (1), (2), (3)) u(ci))
        |SELECT doc_a, doc_b, hamming FROM (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST($ham AS INT) AS hamming
        |  FROM e a JOIN e b ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
        |    AND a.doc_id < b.doc_id)
        |WHERE hamming <= 3""".stripMargin
    },

    // Signed-projection LSH top-k: the q59 signature/multiprobe CTEs at
    // the serving index's fixed parameters (t=4, p=8, flips=1), query
    // set vec_id%50=0, then q24's exact cosine + rank replay over the
    // bucket candidates.
    "q25_ann_lsh_topk" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding::DOUBLE[],
        |    x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |px AS (
        |  SELECT vec_id, u AS pos, qv[u] AS qc
        |  FROM (SELECT vec_id, qv, unnest(range(1, len(qv) + 1)) AS u FROM q)),
        |tj AS (
        |  SELECT t, j FROM (SELECT unnest(range(4)) AS t),
        |    (SELECT unnest(range(8)) AS j)),
        |proj AS (
        |  SELECT vec_id, t, j,
        |    sum(qc * ((pos * (2654435761 + 40503*(t*32 + j))) % 8191 - 4095)) AS s
        |  FROM px, tj GROUP BY vec_id, t, j),
        |ranked AS (
        |  SELECT vec_id, t, j, s,
        |    row_number() OVER (PARTITION BY vec_id, t ORDER BY abs(s), j) AS mr
        |  FROM proj),
        |sigs AS (
        |  SELECT vec_id, t,
        |    sum(CASE WHEN s >= 0 THEN 1::BIGINT << j ELSE 0 END) AS sig,
        |    list(j ORDER BY mr) FILTER (mr <= 1) AS flips
        |  FROM ranked GROUP BY vec_id, t),
        |entries AS (
        |  SELECT vec_id, t, sig FROM sigs
        |  UNION ALL
        |  SELECT vec_id, t, CAST(xor(sig::BIGINT, (1::BIGINT << f.fj)) AS BIGINT)
        |  FROM sigs, unnest(flips) f(fj)),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS cand_id
        |  FROM entries a JOIN entries b USING (t, sig)
        |  WHERE a.vec_id % 50 = 0 AND a.vec_id != b.vec_id),
        |e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |s2 AS (
        |  SELECT query_id, cand_id,
        |    list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cosine
        |  FROM cand JOIN e x ON query_id = x.vec_id JOIN e y ON cand_id = y.vec_id),
        |r AS (
        |  SELECT query_id, cand_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INT) AS rank
        |  FROM s2)
        |SELECT query_id, cand_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin,

    // q36's exported columns are all deterministic (byte length, md5, the
    // frame-offset arithmetic, the constant feature width) — only the
    // xxhash-derived feature VALUES are non-portable, and they are not in
    // the output. explode_outer's null-row-for-empty-array semantics is the
    // UNION ALL of the non-video branch.
    "q36_multimodal" ->
      """WITH assets AS (
        |  SELECT doc_id AS asset_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio'
        |         ELSE 'video' END AS media_type,
        |    CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
        |    md5(text) AS checksum,
        |    doc_id % 1000 * 40 + 1000 AS duration_ms
        |  FROM documents)
        |SELECT asset_id, media_type, n_bytes, checksum,
        |  CAST(least(n_bytes, 256) AS INT) AS thumb_bytes,
        |  n_bytes > 256 AS was_resized,
        |  CAST(8 AS INT) AS n_features, CAST(NULL AS BIGINT) AS frame_ms
        |FROM assets WHERE media_type <> 'video'
        |UNION ALL
        |SELECT asset_id, media_type, n_bytes, checksum,
        |  CAST(least(n_bytes, 256) AS INT) AS thumb_bytes,
        |  n_bytes > 256 AS was_resized,
        |  CAST(8 AS INT) AS n_features,
        |  CAST(unnest(generate_series(0, CAST(duration_ms AS BIGINT) - 1, 5000)) AS BIGINT) AS frame_ms
        |FROM assets WHERE media_type = 'video'""".stripMargin,

    "q18_exact_dedup" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash
        |  FROM documents)
        |SELECT doc_id, content_hash,
        |  min(doc_id) OVER (PARTITION BY content_hash) AS canonical_id,
        |  CAST(count(*) OVER (PARTITION BY content_hash) AS BIGINT) AS n_copies,
        |  doc_id = min(doc_id) OVER (PARTITION BY content_hash) AS is_canonical
        |FROM h""".stripMargin,

    "q20_text_stats" ->
      """WITH w AS (
        |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS wds
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(wds) AS INT) AS word_count,
        |  CAST(length(text) AS INT) AS char_count,
        |  CAST(list_sum(list_transform(wds, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
        |    / CAST(len(wds) AS DOUBLE) AS avg_word_len,
        |  CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
        |    / CAST(length(text) AS DOUBLE) AS punct_ratio,
        |  CAST(len(list_filter(wds, t -> t IN ('the','a','of','and','to','is','in'))) AS DOUBLE)
        |    / CAST(len(wds) AS DOUBLE) AS stopword_ratio,
        |  CAST(COALESCE(list_sum(list_transform(
        |      regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'),
        |      t -> CAST(ceil(length(t) / 4.0) AS BIGINT))), 0) AS BIGINT) AS token_estimate,
        |  0.4 * least(1.0, CAST(len(wds) AS DOUBLE) / 100.0)
        |    + 0.3 * (1.0 - (CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
        |                      / CAST(length(text) AS DOUBLE)))
        |    + 0.3 * least(1.0, (CAST(len(list_filter(wds, t -> t IN ('the','a','of','and','to','is','in'))) AS DOUBLE)
        |                          / CAST(len(wds) AS DOUBLE)) * 5.0) AS quality_score
        |FROM w""".stripMargin,

    "q21_ngram_jaccard" ->
      """WITH wrds AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |  FROM wrds, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 200),
        |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS intersection
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, ca.m AS size_a, cb.m AS size_b, intersection,
        |  CAST(intersection AS DOUBLE) / CAST(ca.m + cb.m - intersection AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN cnt ca ON doc_a = ca.doc_id
        |JOIN cnt cb ON doc_b = cb.doc_id
        |WHERE CAST(intersection AS DOUBLE) / CAST(ca.m + cb.m - intersection AS DOUBLE) >= 0.5""".stripMargin,

    "q23_lang_id" ->
      """WITH w AS (
        |  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS wds
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(wds, t -> t IN ('the','a','of','and','is'))) AS s_en,
        |    len(list_filter(wds, t -> t IN ('el','la','de','que','y'))) AS s_es,
        |    len(list_filter(wds, t -> t IN ('der','die','und','ist','das'))) AS s_de,
        |    len(list_filter(wds, t -> t IN ('le','les','et','est','des'))) AS s_fr
        |  FROM w)
        |SELECT lang,
        |  CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |       WHEN s_es > 0 AND s_es >= s_de AND s_es >= s_fr THEN 'es'
        |       WHEN s_de > 0 AND s_de >= s_fr THEN 'de'
        |       WHEN s_fr > 0 THEN 'fr'
        |       ELSE 'und' END AS predicted_lang,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM s GROUP BY lang, predicted_lang""".stripMargin,

    "q24_ann_cosine_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |s AS (
        |  SELECT query_id, cand_id,
        |    list_dot_product(qv, cv)
        |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
        |  FROM c, q WHERE query_id != cand_id),
        |r AS (
        |  SELECT query_id, cand_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INT) AS rank
        |  FROM s)
        |SELECT query_id, cand_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin,

    "q26_doc_fingerprint" ->
      """SELECT doc_id,
        |  md5(norm) AS content_hash,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(norm, ''), ch -> CAST(unicode(ch) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS rolling_hash
        |FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
        |      FROM documents)""".stripMargin,

    "q27_csv_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
        |  CASE WHEN s_suppkey % 7 = 0 THEN NULL
        |       WHEN s_suppkey % 7 = 1 THEN ''
        |       ELSE 'note for ' || s_name END AS s_note
        |FROM supplier""".stripMargin,

    "q28_star_pipeline" ->
      """WITH dim_segment AS (
        |  SELECT c_mktsegment,
        |    CAST(row_number() OVER (ORDER BY c_mktsegment) AS INT) AS segment_key
        |  FROM (SELECT DISTINCT c_mktsegment FROM customer)),
        |dim_date AS (
        |  SELECT CAST(strftime(full_date, '%Y%m%d') AS INT) AS date_key, full_date
        |  FROM (SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1997-12-31', INTERVAL 1 DAY)) AS DATE) AS full_date)),
        |silver_orders AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderstatus = 'O' THEN 'Open'
        |         WHEN o_orderstatus = 'F' THEN 'Finished'
        |         WHEN o_orderstatus = 'P' THEN 'Pending'
        |         ELSE 'Unknown' END AS o_orderstatus,
        |    o_totalprice,
        |    CASE WHEN CAST(o_orderdate AS DATE) IS NULL OR CAST(o_orderdate AS DATE) > DATE '1998-08-01'
        |         THEN DATE '1998-08-01' ELSE CAST(o_orderdate AS DATE) END AS o_orderdate
        |  FROM orders)
        |SELECT o.o_orderkey,
        |  COALESCE(ds.segment_key, 0) AS segment_key,
        |  COALESCE(dd.date_key, 0) AS order_date_key,
        |  o.o_totalprice AS total_price,
        |  o.o_orderstatus AS order_status
        |FROM silver_orders o
        |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |LEFT JOIN dim_segment ds ON c.c_mktsegment = ds.c_mktsegment
        |LEFT JOIN dim_date dd ON o.o_orderdate = dd.full_date""".stripMargin,

    "q29_string_clean" ->
      """SELECT c_custkey,
        |  replace(c_name, 'Customer#', 'CUST_') AS cust_code,
        |  c_mktsegment || ', ' || c_name AS org_name,
        |  CASE WHEN strpos(c_mktsegment || ', ' || c_name, ',') > 0
        |       THEN substring(c_mktsegment || ', ' || c_name, 1,
        |                      strpos(c_mktsegment || ', ' || c_name, ',') - 1)
        |       ELSE c_mktsegment || ', ' || c_name END AS name_before_comma,
        |  CAST(strpos(c_mktsegment || ', ' || c_name, ',') AS INT) AS comma_pos
        |FROM customer""".stripMargin,

    "q30_impute_cap" ->
      """WITH synth AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
        |    CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_totalprice END AS price
        |  FROM orders)
        |SELECT o_orderkey,
        |  CASE WHEN od IS NULL OR od > DATE '1997-06-01'
        |       THEN DATE '1997-06-01' ELSE od END AS order_date_clean,
        |  CASE WHEN od IS NULL OR od > DATE '1997-06-01'
        |       THEN 'Imputed' ELSE 'Actual' END AS order_date_type,
        |  CASE WHEN price IS NULL THEN 0
        |       WHEN price > 200000.0 THEN 200000.0
        |       ELSE price END AS price_capped,
        |  CASE WHEN price IS NULL THEN 'Missing'
        |       WHEN price > 200000.0 THEN 'Capped'
        |       ELSE 'Original' END AS price_flag
        |FROM synth""".stripMargin,

    "q31_minmax_avg" ->
      """SELECT l_returnflag,
        |  min(l_quantity) AS min_qty,
        |  max(l_quantity) AS max_qty,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE)
        |    / CAST(count(l_quantity) AS DOUBLE) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q32_dup_audit_window" ->
      """SELECT l_orderkey, l_linenumber, l_partkey,
        |  CAST(row_number() OVER (PARTITION BY l_orderkey
        |                          ORDER BY l_linenumber, l_partkey) AS INT) AS line_pos
        |FROM lineitem
        |QUALIFY line_pos >= 5""".stripMargin,

    "q33_dense_key_scale" ->
      """SELECT c_custkey, c_name,
        |  CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS customer_key
        |FROM customer""".stripMargin,

    "q34_event_window_agg" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
        |  date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS window_end,
        |  event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(CAST(floor(value * 1000) AS DOUBLE) AS DECIMAL(20,6))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2, 3""".stripMargin,

    "q35_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS ts_sec
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN ts_sec - lag(ts_sec) OVER w > 1800 THEN 1 ELSE 0 END AS brk
        |  FROM x
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |seq AS (
        |  SELECT user_id, ts,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) + 1 AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq,
        |  min(ts) AS session_start,
        |  max(ts) AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM seq GROUP BY user_id, session_seq""".stripMargin,

    "q37_percentile_continuous" ->
      """SELECT l_returnflag, quantile_disc(l_extendedprice, 0.5) AS price_median
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q39_quality_filter" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS wds
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(wds) AS INT) AS word_count,
        |    CAST(list_sum(list_transform(wds, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
        |      / CAST(len(wds) AS DOUBLE) AS avg_word_len,
        |    CAST(len(list_filter(wds, t -> t IN ('the','a','of','and','to','is','in'))) AS DOUBLE)
        |      / CAST(len(wds) AS DOUBLE) AS stopword_ratio,
        |    CASE WHEN len(wds) < 3 THEN 0.0
        |         ELSE 1.0 - CAST(len(list_distinct(
        |                [array_to_string(wds[i:i+2], ' ') FOR i IN generate_series(1, len(wds) - 2)]
        |              )) AS DOUBLE) / CAST(len(wds) - 2 AS DOUBLE) END AS repetition_ratio
        |  FROM w)
        |SELECT doc_id, word_count, avg_word_len, stopword_ratio, repetition_ratio,
        |  (word_count BETWEEN 10 AND 1000) AND (avg_word_len BETWEEN 2.0 AND 12.0)
        |    AND stopword_ratio > 0.0 AND repetition_ratio < 0.3 AS keep
        |FROM s""".stripMargin,

    "q40_neardup_clusters" ->
      """WITH RECURSIVE
        |wrds AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |  FROM wrds, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 200),
        |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN cnt ca ON doc_a = ca.doc_id
        |  JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE CAST(i AS DOUBLE) / CAST(ca.m + cb.m - i AS DOUBLE) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
        |labels AS (SELECT u, min(v) AS mv FROM reach GROUP BY u)
        |SELECT d.doc_id,
        |  CAST(LEAST(d.doc_id, COALESCE(l.mv, d.doc_id)) AS BIGINT) AS cluster_id
        |FROM documents d LEFT JOIN labels l ON d.doc_id = l.u""".stripMargin,

    "q41_embedding_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings WHERE vec_id % 5 = 0)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.45""".stripMargin,

    "q42_region_rollup" ->
      """SELECT r_name, CAST(year(o_orderdate) AS INT) AS order_year,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, order_year""".stripMargin,

    "q43_json_extract" ->
      """SELECT event_type,
        |  CAST(count(k) AS BIGINT) AS n_with_k,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(min(k) AS INT) AS min_k,
        |  CAST(max(k) AS INT) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS INT) AS k
        |      FROM events)
        |GROUP BY event_type""".stripMargin,

    // Full-reference-width silver: the same 58-column projection as
    // Silver.fullWidthOrders, expression for expression, same operation
    // order in every double computation.
    "q44_full_width_silver" ->
      """WITH synth AS (
        |  SELECT o_orderkey AS k, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
        |    CAST(o_orderdate AS DATE) AS od,
        |    CASE WHEN o_orderkey % 13 = 0 THEN NULL
        |         ELSE CAST(FLOOR(o_totalprice / 100.0) AS INT) END AS enroll_raw,
        |    CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE CAST(o_orderkey % 4 AS INT) END AS arms,
        |    CASE WHEN o_orderkey % 6 = 0 THEN CAST(o_orderkey % 7 AS INT) ELSE NULL END AS n_groups,
        |    CASE WHEN o_orderkey % 3 = 0 THEN 't' WHEN o_orderkey % 3 = 1 THEN 'f' END AS tf_dmc,
        |    CASE WHEN o_orderkey % 5 = 0 THEN 't' WHEN o_orderkey % 5 = 2 THEN 'f' END AS tf_fda,
        |    CASE WHEN o_orderkey % 4 = 0 THEN 't' WHEN o_orderkey % 4 = 1 THEN 'f' END AS tf_exp,
        |    CASE WHEN o_orderkey % 10 = 0 THEN NULL
        |         ELSE CAST(o_orderdate AS DATE) + CAST(o_orderkey % 200 AS INT) END AS compl_raw,
        |    CASE WHEN o_orderkey % 9 = 0 THEN NULL
        |         ELSE CAST(o_orderdate AS DATE) + 30 END AS verif_raw,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |         ELSE CAST(o_orderkey % 40 AS VARCHAR) || ' ' ||
        |              (CASE WHEN o_orderkey % 5 = 0 THEN 'Days'
        |                    WHEN o_orderkey % 5 = 1 THEN 'Weeks'
        |                    WHEN o_orderkey % 5 = 2 THEN 'Months'
        |                    WHEN o_orderkey % 5 = 3 THEN 'Years'
        |                    ELSE '' END) END AS dur_txt,
        |    CASE WHEN o_orderkey % 17 = 1 THEN 'terminated due to slow recruitment and safety concerns'
        |         WHEN o_orderkey % 17 = 2 THEN 'funding was withdrawn by the sponsor'
        |         WHEN o_orderkey % 17 = 3 THEN 'serious adverse events observed'
        |         WHEN o_orderkey % 17 = 4 THEN 'futility declared for the primary endpoint'
        |         WHEN o_orderkey % 17 = 5 THEN 'strategic reprioritization of the portfolio'
        |         WHEN o_orderkey % 17 = 6 THEN 'principal investigator left the institution'
        |         WHEN o_orderkey % 17 = 7 THEN 'study completed ahead of schedule'
        |         WHEN o_orderkey % 17 = 8 THEN 'covid-19 pandemic restrictions'
        |         WHEN o_orderkey % 17 = 9 THEN 'regulatory review imposed by the fda'
        |         WHEN o_orderkey % 17 = 10 THEN 'drug supply shortage at sites'
        |         WHEN o_orderkey % 17 = 11 THEN 'ethics committee raised objections'
        |         WHEN o_orderkey % 17 = 12 THEN 'sponsor elected to discontinue the study'
        |         WHEN o_orderkey % 17 = 13 THEN 'interim analysis scheduled review'
        |         WHEN o_orderkey % 17 = 14 THEN 'dsmb recommended closure'
        |         WHEN o_orderkey % 17 = 15 THEN 'study placed on administrative hold'
        |         WHEN o_orderkey % 17 = 16 THEN 'site agreement withdrawn' END AS ws,
        |    CASE WHEN o_orderkey % 5 = 0 THEN NULL
        |         ELSE 'ACR' || CAST(o_orderkey % 100 AS VARCHAR) END AS acronym,
        |    CASE WHEN o_orderkey % 8 = 0 THEN NULL
        |         ELSE 'Trial of ' || o_orderpriority END AS raw_title,
        |    CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_totalprice END AS price_raw,
        |    o_orderpriority || ', ' || o_orderstatus AS org_nm,
        |    NULLIF(o_orderpriority, '3-MEDIUM') AS phase,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 'INTERVENTIONAL' ELSE 'OBSERVATIONAL' END AS study_type
        |  FROM orders),
        |c AS (
        |  SELECT *,
        |    CASE WHEN od IS NULL OR od > DATE '1998-08-01' THEN DATE '1998-08-01' ELSE od END AS od_clean,
        |    CASE WHEN enroll_raw IS NULL THEN 0 WHEN enroll_raw > 2000 THEN 2000 ELSE enroll_raw END AS enroll_capped,
        |    CAST(COALESCE(arms, n_groups, 0) AS INT) AS arms_count,
        |    CASE WHEN price_raw IS NULL THEN 0 WHEN price_raw > 200000.0 THEN 200000.0 ELSE price_raw END AS price_capped,
        |    CAST(FLOOR(
        |      (CASE WHEN regexp_matches(regexp_replace(dur_txt, '[^0-9.]', '', 'g'), '^[0-9]+(\.[0-9]+)?$')
        |            THEN CAST(regexp_replace(dur_txt, '[^0-9.]', '', 'g') AS DOUBLE) END) *
        |      (CASE WHEN lower(dur_txt) LIKE '%year%' THEN 365.0
        |            WHEN lower(dur_txt) LIKE '%month%' THEN 30.0
        |            WHEN lower(dur_txt) LIKE '%week%' THEN 7.0
        |            ELSE 1.0 END)) AS BIGINT) AS dur_d
        |  FROM synth)
        |SELECT k AS o_orderkey, o_custkey,
        |  CASE WHEN o_orderstatus = 'O' THEN 'Open'
        |       WHEN o_orderstatus = 'F' THEN 'Finished'
        |       WHEN o_orderstatus = 'P' THEN 'Pending'
        |       ELSE 'Unknown' END AS status_desc,
        |  COALESCE(NULLIF(o_orderpriority, '5-LOW'), 'Not specified') AS priority_clean,
        |  phase,
        |  CASE WHEN phase IN ('1-URGENT', '2-HIGH') THEN 'High'
        |       WHEN phase IN ('4-NOT SPECIFIED') THEN 'Not applicable'
        |       ELSE 'Other' END AS phase_recode,
        |  CASE WHEN o_totalprice > 200000 THEN 'High'
        |       WHEN o_totalprice > 100000 THEN 'Medium'
        |       ELSE 'Low' END AS value_band,
        |  enroll_raw AS enrollment,
        |  enroll_capped AS enrollment_capped,
        |  CASE WHEN enroll_raw IS NULL THEN 'Missing'
        |       WHEN enroll_raw > 2000 THEN 'Capped'
        |       ELSE 'Original' END AS enrollment_flag,
        |  arms_count,
        |  CASE WHEN tf_dmc = 't' THEN 'Yes' WHEN tf_dmc = 'f' THEN 'No' ELSE 'Unknown' END AS has_dmc,
        |  CASE WHEN tf_fda = 't' THEN 'Yes' WHEN tf_fda = 'f' THEN 'No' ELSE 'Unknown' END AS is_fda_regulated,
        |  CASE WHEN tf_exp = 't' THEN 'Yes' WHEN tf_exp = 'f' THEN 'No' ELSE 'Unknown' END AS expanded_access,
        |  od_clean AS order_date_clean,
        |  CASE WHEN od IS NULL OR od > DATE '1998-08-01' THEN 'Imputed' ELSE 'Actual' END AS order_date_type,
        |  CASE WHEN compl_raw IS NULL OR compl_raw > DATE '1998-08-01' THEN DATE '1998-08-01' ELSE compl_raw END AS completion_date_clean,
        |  CASE WHEN compl_raw IS NULL OR compl_raw > DATE '1998-08-01' THEN 'Imputed' ELSE 'Actual' END AS completion_date_type,
        |  CASE WHEN verif_raw IS NULL OR verif_raw > DATE '1998-08-01' THEN DATE '1998-08-01' ELSE verif_raw END AS verification_date_clean,
        |  CASE WHEN verif_raw IS NULL OR verif_raw > DATE '1998-08-01' THEN 'Imputed' ELSE 'Actual' END AS verification_date_type,
        |  dur_txt AS target_duration,
        |  CAST(CASE WHEN dur_d > 10950 THEN 10950 ELSE dur_d END AS INT) AS duration_days,
        |  CASE WHEN dur_d IS NULL THEN 'Not specified'
        |       WHEN dur_d > 10950 THEN 'Capped'
        |       ELSE 'Original' END AS duration_flag,
        |  CASE WHEN dur_txt IS NULL THEN NULL
        |       ELSE split_part(dur_txt, ' ', 1) END AS duration_first_token,
        |  ws AS why_stopped,
        |  CASE WHEN ws IS NULL THEN 'Not Stopped'
        |       ELSE CASE
        |    WHEN lower(ws) LIKE '%recruit%' OR lower(ws) LIKE '%enroll%' THEN 'Recruitment Issues'
        |    WHEN lower(ws) LIKE '%funding%' OR lower(ws) LIKE '%budget%' THEN 'Funding Issues'
        |    WHEN lower(ws) LIKE '%adverse%' OR lower(ws) LIKE '%safety%' OR lower(ws) LIKE '%toxicity%' THEN 'Safety Concerns'
        |    WHEN lower(ws) LIKE '%efficacy%' OR lower(ws) LIKE '%futility%' THEN 'Efficacy Issues'
        |    WHEN lower(ws) LIKE '%business%' OR lower(ws) LIKE '%strategic%' THEN 'Business Decision'
        |    WHEN lower(ws) LIKE '%investigator%' THEN 'PI Departure'
        |    WHEN lower(ws) LIKE '%completed%' THEN 'Completed Early'
        |    WHEN lower(ws) LIKE '%covid%' OR lower(ws) LIKE '%pandemic%' THEN 'COVID-19'
        |    WHEN lower(ws) LIKE '%regulatory%' OR lower(ws) LIKE '%fda%' THEN 'Regulatory Hold'
        |    WHEN lower(ws) LIKE '%supply%' OR lower(ws) LIKE '%shortage%' THEN 'Supply Issues'
        |    WHEN lower(ws) LIKE '%ethics%' OR lower(ws) LIKE '%irb%' THEN 'Ethics Committee'
        |    WHEN lower(ws) LIKE '%sponsor%' THEN 'Sponsor Decision'
        |    WHEN lower(ws) LIKE '%interim%' THEN 'Interim Analysis'
        |    WHEN lower(ws) LIKE '%dsmb%' OR lower(ws) LIKE '%monitoring%' THEN 'DSMB Decision'
        |    WHEN lower(ws) LIKE '%hold%' THEN 'On Hold'
        |    WHEN lower(ws) LIKE '%withdrawn%' OR lower(ws) LIKE '%withdrew%' THEN 'Withdrawn'
        |    ELSE 'Other' END END AS why_stopped_category,
        |  CAST(year(od_clean) AS INT) AS order_year,
        |  CAST(quarter(od_clean) AS INT) AS order_quarter,
        |  CAST(month(od_clean) AS INT) AS order_month,
        |  monthname(od_clean) AS order_month_name,
        |  dayname(od_clean) AS order_day_name,
        |  CAST(dayofweek(od_clean) AS INT) AS order_dow,
        |  dayofweek(od_clean) IN (0, 6) AS is_weekend,
        |  CAST(weekofyear(od_clean) AS INT) AS week_of_year,
        |  CAST(strftime(od_clean, '%Y%m%d') AS INT) AS date_key,
        |  CAST(date_trunc('month', od_clean) AS DATE) AS month_start,
        |  CAST(date_diff('day', DATE '1995-01-01', od_clean) AS INT) AS days_from_epoch,
        |  'Q' || CAST(quarter(od_clean) AS VARCHAR) || '-' || CAST(year(od_clean) AS VARCHAR) AS quarter_label,
        |  COALESCE(acronym, '[No Acronym defined]') AS acronym_clean,
        |  COALESCE(raw_title, '[Not Defined]') AS title_clean,
        |  lower(trim(COALESCE(raw_title, 'untitled'))) AS brief_title_lower,
        |  COALESCE(NULLIF(o_orderstatus, 'P'), 'Unknown') AS source_name,
        |  replace('CLASS_' || o_orderstatus, '_', ' ') AS source_class,
        |  org_nm AS org_name,
        |  CASE WHEN strpos(org_nm, ',') > 0
        |       THEN substring(org_nm, 1, strpos(org_nm, ',') - 1)
        |       ELSE org_nm END AS org_before_comma,
        |  CAST(strpos(org_nm, ',') AS INT) AS comma_pos,
        |  lower(trim('  Sponsor ' || CAST(k % 50 AS VARCHAR) || '  ')) AS lead_sponsor_clean,
        |  study_type,
        |  study_type = 'INTERVENTIONAL' AS is_interventional,
        |  price_capped,
        |  CASE WHEN price_raw IS NULL THEN 'Missing'
        |       WHEN price_raw > 200000.0 THEN 'Capped'
        |       ELSE 'Original' END AS price_flag,
        |  o_totalprice / CAST(enroll_capped + 1 AS DOUBLE) AS price_per_enroll,
        |  ROUND(0.4 * least(1.0, CAST(enroll_capped AS DOUBLE) / 1000.0)
        |      + 0.3 * (price_capped / 200000.0)
        |      + 0.2 * (1.0 / (1.0 + CAST(arms_count AS DOUBLE)))
        |      + 0.1 * (CASE WHEN od_clean >= DATE '1997-01-01' THEN 1.0 ELSE 0.0 END), 6) AS weighted_score,
        |  CAST(k % 10 AS DOUBLE) / (CAST(k % 7 AS DOUBLE) + 1.0) AS momentum_ratio,
        |  CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 1
        |            WHEN o_orderpriority = '2-HIGH' THEN 2
        |            WHEN o_orderpriority = '3-MEDIUM' THEN 3
        |            WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 4
        |            WHEN o_orderpriority = '5-LOW' THEN 5
        |            ELSE 0 END AS INT) AS priority_rank,
        |  od_clean >= DATE '1997-01-01' AS is_recent,
        |  o_orderstatus = 'F' AS status_is_final,
        |  'NCT' || lpad(CAST(k AS VARCHAR), 9, '0') AS nct_like_id
        |FROM c""".stripMargin,

    "q45_dim_dates_append" ->
      """SELECT CAST(strftime(full_date, '%Y%m%d') AS INT) AS date_key,
        |  full_date,
        |  CAST(year(full_date) AS INT) AS year,
        |  CAST(quarter(full_date) AS INT) AS quarter,
        |  CAST(month(full_date) AS INT) AS month,
        |  monthname(full_date) AS month_name,
        |  CAST(day(full_date) AS INT) AS day_of_month,
        |  dayname(full_date) AS day_name,
        |  CAST(weekofyear(full_date) AS INT) AS week_of_year,
        |  CAST(dayofweek(full_date) AS INT) AS day_of_week,
        |  dayofweek(full_date) IN (0, 6) AS is_weekend
        |FROM (SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1996-12-31', INTERVAL 1 DAY)) AS DATE) AS full_date
        |      UNION ALL
        |      SELECT CAST(unnest(generate_series(DATE '1997-01-01', DATE '1998-12-31', INTERVAL 1 DAY)) AS DATE))""".stripMargin,

    "q46_bucketed_join" ->
      """SELECT o_orderkey,
        |  max(o_totalprice) AS total_price,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS revenue,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS total_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey""".stripMargin,

    "q47_salted_join" ->
      """SELECT p_brand,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS total_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,

    "q48_vocab_topk" ->
      """SELECT lower(w) AS token, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents)
        |GROUP BY token
        |ORDER BY n DESC, token
        |LIMIT 100""".stripMargin,

    "q49_pii_redact" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t2
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, t2,
        |    regexp_replace(regexp_replace(t2,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS red
        |  FROM s)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(t2, '\+1-555-[0-9]{4}')) AS INT) AS n_phones,
        |  md5(red) AS redacted_hash,
        |  CAST(length(red) AS INT) AS redacted_len
        |FROM r""".stripMargin,

    "q50_hash_split" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    (ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 31 +
        |     ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100 AS split_bucket,
        |    (ascii(substring(md5('smp:' || lang || ':' || CAST(doc_id AS VARCHAR)), 1, 1)) * 31 +
        |     ascii(substring(md5('smp:' || lang || ':' || CAST(doc_id AS VARCHAR)), 2, 1))) % 100 AS smp_bucket
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(split_bucket AS INT) AS split_bucket,
        |  CASE WHEN split_bucket < 80 THEN 'train'
        |       WHEN split_bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split,
        |  smp_bucket < 10 AS in_10pct_sample
        |FROM b""".stripMargin,

    "q51_jsonl_roundtrip" ->
      """SELECT doc_id, text,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
        |  source, n_chars
        |FROM documents""".stripMargin,

    // IVF-flat ANN: every step is deterministic arithmetic (no hashes), so
    // unlike the LSH path this approximate index is FULLY hash-checked —
    // same centroid seeds, same list assignment, same probes, same ranks.
    "q52_ann_ivf_topk" ->
      """WITH nn AS (
        |  SELECT CAST(GREATEST(1, ceil(CAST(count(*) AS DOUBLE) /
        |    ceil(sqrt(CAST(count(*) AS DOUBLE))))) AS BIGINT) AS stride
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS centroid_id, v AS cv, nrm AS cn
        |  FROM e, nn WHERE vec_id % nn.stride = 0),
        |scored AS (
        |  SELECT e.vec_id, c.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cn) DESC, c.centroid_id) AS r
        |  FROM e, cents c),
        |lists AS (SELECT vec_id AS cand_id, centroid_id FROM scored WHERE r = 1),
        |probes AS (SELECT vec_id AS query_id, centroid_id FROM scored
        |           WHERE vec_id % 50 = 0 AND r <= 3),
        |cand AS (
        |  SELECT DISTINCT query_id, cand_id
        |  FROM probes JOIN lists USING (centroid_id)
        |  WHERE query_id <> cand_id),
        |sc AS (
        |  SELECT query_id, cand_id,
        |    list_dot_product(q.v, c2.v) / (q.nrm * c2.nrm) AS cosine
        |  FROM cand
        |  JOIN e q ON cand.query_id = q.vec_id
        |  JOIN e c2 ON cand.cand_id = c2.vec_id),
        |rk AS (
        |  SELECT query_id, cand_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, cand_id) AS INT) AS rank
        |  FROM sc)
        |SELECT query_id, cand_id, cosine, rank FROM rk WHERE rank <= 5""".stripMargin,

    "q53_rollup_revenue" ->
      """SELECT n_name, CAST(year(o_orderdate) AS INT) AS order_year,
        |  CAST(GROUPING(n_name) AS INT) AS g_nation,
        |  CAST(GROUPING(year(o_orderdate)) AS INT) AS g_year,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, year(o_orderdate))""".stripMargin,

    "q54_moving_window" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS order_date,
        |    sum(CAST(o_totalprice AS DECIMAL(20,4))) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT order_date,
        |  CAST(rev AS DOUBLE) AS daily_revenue,
        |  CAST(sum(rev) OVER (ORDER BY order_date
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS ma7_revenue,
        |  CAST(lag(rev, 1) OVER (ORDER BY order_date) AS DOUBLE) AS prev_revenue
        |FROM daily""".stripMargin,

    "q55_set_ops" ->
      """WITH c96 AS (
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
        |c97 AS (
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
        |SELECT o_custkey, 'both' AS set_op FROM (SELECT o_custkey FROM c96 INTERSECT SELECT o_custkey FROM c97)
        |UNION ALL
        |SELECT o_custkey, 'only_1996' FROM (SELECT o_custkey FROM c96 EXCEPT SELECT o_custkey FROM c97)
        |UNION ALL
        |SELECT o_custkey, 'only_1997' FROM (SELECT o_custkey FROM c97 EXCEPT SELECT o_custkey FROM c96)""".stripMargin,

    "q56_semi_anti" ->
      """SELECT c_custkey, c_mktsegment, 'has_high_value' AS kind
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
        |UNION ALL
        |SELECT c_custkey, c_mktsegment, 'no_high_value'
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)""".stripMargin,

    "q57_pivot_revenue" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS order_year,
        |  CAST(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN CAST(o_totalprice AS DECIMAL(20,4)) END) AS DOUBLE) AS "AUTOMOBILE",
        |  CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN CAST(o_totalprice AS DECIMAL(20,4)) END) AS DOUBLE) AS "BUILDING",
        |  CAST(sum(CASE WHEN c_mktsegment = 'FURNITURE' THEN CAST(o_totalprice AS DECIMAL(20,4)) END) AS DOUBLE) AS "FURNITURE",
        |  CAST(sum(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN CAST(o_totalprice AS DECIMAL(20,4)) END) AS DOUBLE) AS "HOUSEHOLD",
        |  CAST(sum(CASE WHEN c_mktsegment = 'MACHINERY' THEN CAST(o_totalprice AS DECIMAL(20,4)) END) AS DOUBLE) AS "MACHINERY"
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY order_year""".stripMargin,

    "q58_orc_roundtrip" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin,

    // Signed-projection banding with margin-directed multiprobe
    // (Similarity.projNearDupPairs): every arithmetic step is exact —
    // 1e-6 fixed-point quantization, integer multiplicative-hash weights
    // ((pos·M(t,j)) mod 8191 − 4095, pos 1-based), BIGINT projection sums
    // (order-independent) — so signatures, flip choices and the final
    // cosines reproduce bit-for-bit. p = max(4, bitlen(ceil(n/4)−1))
    // mirrors the engine's integer bit-length rule (no float log2).
    "q59_embedding_neardup_ivf" ->
      """WITH nn AS (
        |  SELECT GREATEST(4, length(printf('%b',
        |    CAST(ceil(count(*) / 4.0) AS BIGINT) - 1))) AS p
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, list_transform(embedding::DOUBLE[],
        |    x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |px AS (
        |  SELECT vec_id, u AS pos, qv[u] AS qc
        |  FROM (SELECT vec_id, qv, unnest(range(1, len(qv) + 1)) AS u FROM q)),
        |tj AS (
        |  SELECT t, j FROM (SELECT unnest(range(8)) AS t),
        |    (SELECT unnest(range(p)) AS j FROM nn)),
        |proj AS (
        |  SELECT vec_id, t, j,
        |    sum(qc * ((pos * (2654435761 + 40503*(t*32 + j))) % 8191 - 4095)) AS s
        |  FROM px, tj GROUP BY vec_id, t, j),
        |ranked AS (
        |  SELECT vec_id, t, j, s,
        |    row_number() OVER (PARTITION BY vec_id, t ORDER BY abs(s), j) AS mr
        |  FROM proj),
        |sigs AS (
        |  SELECT vec_id, t,
        |    sum(CASE WHEN s >= 0 THEN 1::BIGINT << j ELSE 0 END) AS sig,
        |    list(j ORDER BY mr) FILTER (mr <= 2) AS flips
        |  FROM ranked GROUP BY vec_id, t),
        |entries AS (
        |  SELECT vec_id, t, sig FROM sigs
        |  UNION ALL
        |  SELECT vec_id, t, CAST(xor(sig::BIGINT, (1::BIGINT << f.fj)) AS BIGINT)
        |  FROM sigs, unnest(flips) f(fj)),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM entries a JOIN entries b USING (t, sig)
        |  WHERE a.vec_id < b.vec_id),
        |e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings)
        |SELECT id_a, id_b,
        |  list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cosine
        |FROM cand
        |JOIN e x ON id_a = x.vec_id
        |JOIN e y ON id_b = y.vec_id
        |WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= 0.45""".stripMargin,

    "q38_categorize_full" ->
      """WITH named AS (
        |  SELECT lower(p_name || ' / ' || p_type ||
        |    (CASE WHEN p_partkey % 97 = 0 THEN ' o''brien grade' ELSE '' END)) AS nm
        |  FROM part)
        |SELECT CASE
        |    WHEN nm LIKE '%o''brien%' THEN 'Eponymous'
        |    WHEN nm LIKE '%anodized%' OR nm LIKE '%burnished%' THEN 'Treated Metal'
        |    WHEN nm LIKE '%polished%' OR nm LIKE '%brushed%' THEN 'Finished Metal'
        |    WHEN nm LIKE '%promo%' OR nm LIKE '%economy%' THEN 'Value Line'
        |    WHEN nm LIKE '%standard%' OR nm LIKE '%medium%' THEN 'Standard Line'
        |    WHEN nm LIKE '%small%' OR nm LIKE '%mini%' THEN 'Compact'
        |    WHEN nm LIKE '%large%' OR nm LIKE '%jumbo%' THEN 'Oversize'
        |    WHEN nm LIKE '%red%' OR nm LIKE '%rose%' OR nm LIKE '%salmon%' THEN 'Warm Color'
        |    WHEN nm LIKE '%blue%' OR nm LIKE '%navy%' OR nm LIKE '%turquoise%' THEN 'Cool Color'
        |    WHEN nm LIKE '%green%' OR nm LIKE '%olive%' OR nm LIKE '%forest%' THEN 'Natural Color'
        |    WHEN nm LIKE '%steel%' OR nm LIKE '%copper%' OR nm LIKE '%brass%' THEN 'Metallic'
        |    WHEN nm LIKE '%tin%' OR nm LIKE '%nickel%' THEN 'Alloy'
        |    ELSE 'Other' END AS area,
        |  CAST(count(*) AS BIGINT) AS n_parts
        |FROM named GROUP BY area""".stripMargin,

    // As-of join: natural-semantics formulation (correlated argmax), which
    // must equal the engine's union+window formulation. Ties on click ts
    // broken by max event_id on BOTH sides.
    "q60_asof_join" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id,
        |    CAST(ts AS TIMESTAMP) AS purchase_ts, value AS purchase_value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
        |  FROM events WHERE event_type = 'click'),
        |m AS (
        |  SELECT p.*,
        |    (SELECT max(c.ts) FROM c
        |     WHERE c.user_id = p.user_id AND c.ts <= p.purchase_ts) AS last_click_ts
        |  FROM p)
        |SELECT m.purchase_id, m.user_id, m.purchase_ts, m.purchase_value,
        |  m.last_click_ts,
        |  (SELECT max(c.event_id) FROM c
        |   WHERE c.user_id = m.user_id AND c.ts = m.last_click_ts) AS last_click_id,
        |  epoch_us(m.purchase_ts) - epoch_us(m.last_click_ts) AS gap_us
        |FROM m""".stripMargin,

    // Range join: the oracle states the containment predicate directly
    // (DuckDB plans it as an IEJoin); the engine's bucketed equi-join must
    // produce the identical pair set.
    "q61_range_join" ->
      """WITH campaigns AS (
        |  SELECT o_orderkey AS campaign_id, o_orderdate AS w_start,
        |    o_orderdate + INTERVAL 14 DAY AS w_end
        |  FROM orders WHERE o_orderkey % 150 = 0)
        |SELECT campaign_id, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS revenue
        |FROM campaigns c
        |JOIN orders o ON o.o_orderdate >= c.w_start AND o.o_orderdate <= c.w_end
        |GROUP BY campaign_id""".stripMargin,

    // Contamination: distinct word 8-grams per doc (list_transform over the
    // token array mirrors the engine's lead-window shingling), overlap vs
    // the doc_id%20=0 eval set.
    "q62_contamination_check" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, len(w) - 7),
        |      x -> array_to_string(w[x:x+7], ' '))) AS gram
        |  FROM toks WHERE len(w) >= 8),
        |eval_g AS (
        |  SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0)
        |SELECT g.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(e.gram) AS BIGINT) AS n_contaminated,
        |  count(e.gram) * 1.0 / count(*) AS contamination_rate,
        |  (count(e.gram) * 1.0 / count(*)) >= 0.5 AS contaminated
        |FROM grams g LEFT JOIN eval_g e USING (gram)
        |WHERE g.doc_id % 20 <> 0
        |GROUP BY g.doc_id""".stripMargin,

    "q63_cube_revenue" ->
      """SELECT c_mktsegment, o_orderpriority,
        |  CAST(GROUPING(c_mktsegment) AS INT) AS g_seg,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY CUBE (c_mktsegment, o_orderpriority)""".stripMargin,

    "q64_rank_functions" ->
      """WITH per_cust AS (
        |  SELECT c_mktsegment, c_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(20,4))) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment, c_custkey)
        |SELECT c_mktsegment, c_custkey, CAST(rev AS DOUBLE) AS revenue,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk,
        |  percent_rank() OVER w AS prnk,
        |  cume_dist() OVER w AS cdist,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM per_cust
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY rev DESC, c_custkey)""".stripMargin,

    "q65_stream_join_batch" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id,
        |    CAST(ts AS TIMESTAMP) AS purchase_ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT event_id AS click_id, user_id AS click_user,
        |    CAST(ts AS TIMESTAMP) AS click_ts
        |  FROM events WHERE event_type = 'click')
        |SELECT purchase_id, user_id, purchase_ts, click_id, click_ts,
        |  epoch_us(purchase_ts) - epoch_us(click_ts) AS lead_us
        |FROM p JOIN c ON user_id = click_user
        |  AND click_ts >= purchase_ts - INTERVAL 2 HOUR
        |  AND click_ts <= purchase_ts""".stripMargin,

    // Unpivot as the portable UNION ALL form (one branch per measure).
    "q66_unpivot" ->
      """WITH f AS (SELECT * FROM lineitem WHERE l_orderkey % 50 = 0)
        |SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM f
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM f
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM f
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM f""".stripMargin,

    // TF-IDF: same tokenization as q48; idf log and product in the same
    // scalar order as the Spark side; rank on the ROUNDED score so the
    // per-doc top-3 row set is engine-portable.
    "q67_tfidf_topterms" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM terms GROUP BY doc_id, term),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    round(CAST(tf.tf AS DOUBLE) *
        |      ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN tot),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
        |  FROM scored)
        |SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS INT) AS rnk
        |FROM ranked WHERE rnk <= 3""".stripMargin,

    // Same md5-ascii bucket arithmetic as q50 (Sampling.hashBucket).
    "q68_stratified_sample" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    (ascii(substring(md5('smp:' || lang || ':' || CAST(doc_id AS VARCHAR)), 1, 1)) * 31 +
        |     ascii(substring(md5('smp:' || lang || ':' || CAST(doc_id AS VARCHAR)), 2, 1))) % 100 AS smp_bucket,
        |    CASE WHEN lang = 'en' THEN 10 ELSE 50 END AS rate
        |  FROM documents)
        |SELECT doc_id, lang, CAST(smp_bucket AS INT) AS smp_bucket, CAST(rate AS INT) AS rate
        |FROM b WHERE smp_bucket < rate""".stripMargin,

    // Non-overlapping 3-word chunks; DuckDB generate_series(0,-1) is empty,
    // matching the Spark side's size>=W guard.
    "q69_chunk_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, array_to_string(ws[i*3+1 : i*3+3], ' ') AS chunk
        |  FROM w CROSS JOIN unnest(generate_series(0, CAST(floor(len(ws)/3) AS INT) - 1)) AS t(i))
        |SELECT chunk, CAST(count(*) AS BIGINT) AS n_occurrences,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM c GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2""".stripMargin,

    // Exact decimal power sums -> closed-form moments in one fixed scalar
    // order (Spark's stddev/corr combine float partials in partition order
    // and would not be bit-stable).
    "q70_desc_stats" ->
      """WITH a AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(20,4))) AS sx,
        |    sum(CAST(CAST(l_quantity AS DECIMAL(20,4)) * CAST(l_quantity AS DECIMAL(20,4)) AS DECIMAL(38,8))) AS sxx,
        |    sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS sy,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(20,4)) * CAST(l_extendedprice AS DECIMAL(20,4)) AS DECIMAL(38,8))) AS syy,
        |    sum(CAST(CAST(l_quantity AS DECIMAL(20,4)) * CAST(l_extendedprice AS DECIMAL(20,4)) AS DECIMAL(38,8))) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_qty,
        |  round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)), 6) AS stddev_qty,
        |  round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_price,
        |  round(sqrt((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)), 6) AS stddev_price,
        |  round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0), 6) AS covar_qty_price,
        |  round(((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)) /
        |    sqrt(((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)) *
        |         ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))), 6) AS corr_qty_price
        |FROM a""".stripMargin,

    "q71_grouping_sets" ->
      """SELECT o_orderstatus,
        |  CAST(year(o_orderdate) AS INT) AS order_year,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(year(o_orderdate)) AS INT) AS g_year,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, year(o_orderdate)),
        |                        (o_orderstatus), (year(o_orderdate)))""".stripMargin,

    "q72_inverted_index" ->
      """WITH t AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents)
        |SELECT term, CAST(count(*) AS BIGINT) AS df,
        |  array_to_string(list_transform(list_sort(list(doc_id))[1:20],
        |    x -> CAST(x AS VARCHAR)), ',') AS postings
        |FROM t GROUP BY term HAVING count(*) >= 10""".stripMargin,

    "q73_histogram" ->
      """SELECT CAST(least(floor(o_totalprice / 25000.0), 19) AS INT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS total_value,
        |  round(min(o_totalprice), 6) AS min_value,
        |  round(max(o_totalprice), 6) AS max_value
        |FROM orders GROUP BY bin""".stripMargin,

    "q74_ntile_quartiles" ->
      """WITH q AS (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    CAST(ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS INT) AS quartile
        |  FROM customer)
        |SELECT c_mktsegment, quartile, CAST(count(*) AS BIGINT) AS n,
        |  round(min(c_acctbal), 6) AS min_bal,
        |  round(max(c_acctbal), 6) AS max_bal,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(20,4))) AS DOUBLE) AS sum_bal
        |FROM q GROUP BY c_mktsegment, quartile""".stripMargin,

    // SCD2 upsert: current state, deterministic update batch, merge
    // dispositions (keep-open / close / re-open / insert) all in SQL.
    "q75_scd2_upsert" ->
      """WITH band_cur AS (
        |  SELECT s_suppkey,
        |    CASE WHEN s_acctbal < 0 THEN 'negative'
        |         WHEN s_acctbal < 5000 THEN 'low' ELSE 'high' END AS bal_band,
        |    s_nationkey
        |  FROM supplier),
        |current AS (
        |  SELECT s_suppkey, bal_band, s_nationkey,
        |    DATE '1995-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
        |    true AS is_current
        |  FROM band_cur),
        |updates AS (
        |  SELECT s_suppkey,
        |    CASE WHEN s_acctbal + 6000.0 < 0 THEN 'negative'
        |         WHEN s_acctbal + 6000.0 < 5000 THEN 'low' ELSE 'high' END AS bal_band,
        |    s_nationkey
        |  FROM supplier WHERE s_suppkey % 5 = 0
        |  UNION ALL
        |  SELECT s_suppkey + 100000,
        |    CASE WHEN s_acctbal < 0 THEN 'negative'
        |         WHEN s_acctbal < 5000 THEN 'low' ELSE 'high' END AS bal_band,
        |    s_nationkey
        |  FROM supplier WHERE s_suppkey % 7 = 0),
        |j AS (
        |  SELECT c.s_suppkey AS ck, c.bal_band AS cb, c.s_nationkey AS cn,
        |    c.valid_from, c.valid_to, c.is_current,
        |    u.s_suppkey AS uk, u.bal_band AS ub, u.s_nationkey AS un
        |  FROM current c FULL OUTER JOIN updates u ON c.s_suppkey = u.s_suppkey),
        |chg AS (
        |  SELECT *, (cb IS DISTINCT FROM ub) OR (cn IS DISTINCT FROM un) AS changed
        |  FROM j)
        |SELECT ck AS s_suppkey, cb AS bal_band, cn AS s_nationkey,
        |  valid_from, valid_to, is_current
        |FROM chg WHERE ck IS NOT NULL AND (uk IS NULL OR NOT changed)
        |UNION ALL
        |SELECT ck, cb, cn, valid_from, DATE '2020-06-01', false
        |FROM chg WHERE ck IS NOT NULL AND uk IS NOT NULL AND changed
        |UNION ALL
        |SELECT uk, ub, un, DATE '2020-06-01', CAST(NULL AS DATE), true
        |FROM chg WHERE uk IS NOT NULL AND (ck IS NULL OR changed)""".stripMargin,

    // q40's recursive-CTE clustering + keep-longest survivor per cluster
    // (ties -> lowest doc_id).
    "q76_dedup_keep_best" ->
      """WITH RECURSIVE
        |wrds AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |  FROM wrds, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 200),
        |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN cnt ca ON doc_a = ca.doc_id
        |  JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE CAST(i AS DOUBLE) / CAST(ca.m + cb.m - i AS DOUBLE) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
        |labels AS (SELECT u, min(v) AS mv FROM reach GROUP BY u),
        |clus AS (
        |  SELECT d.doc_id,
        |    CAST(LEAST(d.doc_id, COALESCE(l.mv, d.doc_id)) AS BIGINT) AS cluster_id,
        |    CAST(len(string_split_regex(trim(d.text), '\s+')) AS INT) AS wc
        |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.u),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY wc DESC, doc_id) AS rnk
        |  FROM clus)
        |SELECT cluster_id,
        |  CAST(min(CASE WHEN rnk = 1 THEN doc_id END) AS BIGINT) AS kept_doc_id,
        |  CAST(min(CASE WHEN rnk = 1 THEN wc END) AS INT) AS kept_word_count,
        |  CAST(count(*) AS BIGINT) AS n_members
        |FROM r GROUP BY cluster_id""".stripMargin,

    // Ordered funnel: each stage's min ts constrained to >= previous stage.
    "q77_funnel_stages" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts >= v.t_view
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
        |  GROUP BY e.user_id)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
        |  CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
        |            WHEN c.t_click IS NOT NULL THEN 2
        |            ELSE 1 END AS INT) AS reached_stage
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id""".stripMargin,

    // Weekly retention triangle; date_trunc('week') is Monday-start in
    // both engines.
    "q78_retention_cohorts" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        |  FROM events),
        |cohorts AS (
        |  SELECT user_id, min(wk) AS cohort_week FROM active GROUP BY user_id)
        |SELECT c.cohort_week,
        |  CAST(date_diff('day', c.cohort_week, a.wk) / 7 AS INT) AS week_offset,
        |  CAST(count(*) AS BIGINT) AS n_active
        |FROM active a JOIN cohorts c ON a.user_id = c.user_id
        |GROUP BY c.cohort_week, week_offset""".stripMargin,

    // One-scan rule suite, unpivoted to a violations report.
    "q79_quality_checks" ->
      """WITH w AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_checked,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orderkey_null,
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS orderkey_dup,
        |    CAST(sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 600000 THEN 1 ELSE 0 END) AS BIGINT) AS price_range,
        |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS status_domain,
        |    CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1999-01-01 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS date_future
        |  FROM orders)
        |SELECT 'orderkey_null' AS rule, orderkey_null AS n_violations, n_checked FROM w
        |UNION ALL SELECT 'orderkey_dup', orderkey_dup, n_checked FROM w
        |UNION ALL SELECT 'price_range', price_range, n_checked FROM w
        |UNION ALL SELECT 'status_domain', status_domain, n_checked FROM w
        |UNION ALL SELECT 'date_future', date_future, n_checked FROM w""".stripMargin,

    // first/last/nth value windows with the explicit UNBOUNDED frame on
    // both sides; revenue aggregated exactly in DECIMAL before the cast.
    "q80_value_windows" ->
      """WITH perCust AS (
        |  SELECT c_mktsegment, c_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(20,4))) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment, c_custkey)
        |SELECT c_mktsegment, c_custkey,
        |  CAST(rev AS DOUBLE) AS revenue,
        |  CAST(first_value(rev) OVER w AS DOUBLE) AS top_revenue,
        |  CAST(last_value(rev) OVER w AS DOUBLE) AS bottom_revenue,
        |  CAST(nth_value(rev, 2) OVER w AS DOUBLE) AS runnerup_revenue
        |FROM perCust
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY rev DESC, c_custkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,

    // Sequence packing: same md5-ascii shard arithmetic as q50, running
    // token sum per shard, greedy budget-256 bin assignment.
    "q81_sequence_packing" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    (ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 31 +
        |     ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 16 AS shard,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS strt
        |  FROM d)
        |SELECT doc_id,
        |  CAST(shard AS INT) AS shard,
        |  CAST(n_tokens AS INT) AS n_tokens,
        |  CAST(floor(strt / 256.0) AS BIGINT) AS seq_id,
        |  CAST(strt - floor(strt / 256.0) * 256 AS BIGINT) AS seq_offset
        |FROM c""".stripMargin,

    // Mixture resampling: weight from the source's numeric suffix,
    // integer epochs + md5-bucket fractional keep, epochs unrolled with
    // generate_series (empty when n_copies < 1, same as the Spark filter).
    "q82_mixture_resample" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CASE CAST(substring(source, 4) AS INT) % 4
        |      WHEN 0 THEN 250 WHEN 1 THEN 100 WHEN 2 THEN 50 ELSE 25 END AS weight,
        |    (ascii(substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 1)) * 31 +
        |     ascii(substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 2, 1))) % 100 AS bkt
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, source, weight,
        |    weight // 100 + CASE WHEN bkt < weight % 100 THEN 1 ELSE 0 END AS n_copies
        |  FROM d),
        |e AS (
        |  SELECT doc_id, source, weight, CAST(epoch AS INT) AS epoch
        |  FROM n, LATERAL (SELECT unnest(generate_series(1, n_copies)) AS epoch)
        |  WHERE n_copies >= 1)
        |SELECT source, CAST(weight AS INT) AS weight,
        |  count(*) AS n_rows, count(DISTINCT doc_id) AS n_docs,
        |  max(epoch) AS max_epoch
        |FROM e GROUP BY source, weight""".stripMargin,

    // Sketch-recall gates (q83a-d): the oracle computes each method's
    // SQL-expressible reference size and asserts ok=TRUE — the Spark side
    // folds its recall/precision guarantee into that boolean, so a sketch
    // regression hash-mismatches here even though the sketches themselves
    // (xxhash64) are only rows-checked in q19/q22/q25.
    "q83a_minhash_recall" ->
      """WITH wrds AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |  FROM wrds, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 200),
        |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a FROM inter
        |  JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE CAST(i AS DOUBLE) / CAST(ca.m + cb.m - i AS DOUBLE) >= 0.5)
        |SELECT 'minhash' AS method,
        |  (SELECT count(*) FROM pairs) AS n_reference, TRUE AS ok""".stripMargin,

    "q83b_simhash_exact" ->
      """SELECT 'simhash' AS method,
        |  (SELECT count(*) FROM documents WHERE doc_id % 2 = 1) AS n_reference,
        |  TRUE AS ok""".stripMargin,

    "q83c_ann_lsh_recall" ->
      """WITH topk AS (
        |  SELECT query_id FROM (
        |    SELECT q.vec_id AS query_id,
        |      row_number() OVER (
        |        PARTITION BY q.vec_id
        |        ORDER BY list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
        |          / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
        |           * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) DESC,
        |          c.vec_id) AS rank
        |    FROM embeddings q CROSS JOIN embeddings c
        |    WHERE q.vec_id % 50 = 0 AND q.vec_id != c.vec_id)
        |  WHERE rank <= 5)
        |SELECT 'ann_lsh' AS method,
        |  (SELECT count(*) FROM topk) AS n_reference, TRUE AS ok""".stripMargin,

    "q83d_ivf_recall" ->
      """WITH topk AS (
        |  SELECT query_id FROM (
        |    SELECT q.vec_id AS query_id,
        |      row_number() OVER (
        |        PARTITION BY q.vec_id
        |        ORDER BY list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
        |          / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
        |           * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) DESC,
        |          c.vec_id) AS rank
        |    FROM embeddings q CROSS JOIN embeddings c
        |    WHERE q.vec_id % 50 = 0 AND q.vec_id != c.vec_id)
        |  WHERE rank <= 5)
        |SELECT 'ivf' AS method,
        |  (SELECT count(*) FROM topk) AS n_reference, TRUE AS ok""".stripMargin,

    // IVF-PQ recall gate: n_reference recomputed from the oracle's own
    // brute-force QUANTIZED-L2 pass (the metric PQ ranks in), ok pinned
    // TRUE — a recall collapse on the engine side hash-mismatches.
    "q83e_pq_recall" ->
      """WITH pts AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |topk AS (
        |  SELECT query_id FROM (
        |    SELECT a.id AS query_id,
        |      row_number() OVER (PARTITION BY a.id ORDER BY
        |        list_sum(list_transform(list_zip(a.qv, b.qv),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), b.id) AS rank
        |    FROM pts a CROSS JOIN pts b
        |    WHERE a.id % 50 = 0 AND a.id < 10000000 AND b.id != a.id)
        |  WHERE rank <= 5)
        |SELECT 'ivf_pq' AS method,
        |  (SELECT count(*) FROM topk) AS n_reference, TRUE AS ok""".stripMargin,

    // IMA ADPCM decode gate: the oracle replays the codec's adaptive
    // state machine sample-by-sample with a RECURSIVE CTE carrying
    // (predictor, step index) per document — block-header samples
    // (i % 65 = 0) pass through raw with the index carried, every other
    // sample quantizes the delta at the current step (b2/b1/b0 bits),
    // reconstructs with the decoder's diffq, clamps, and adjusts the
    // index through the spec's literal tables. Exact integers, so the
    // decoded amplitude stats hash bit-for-bit.
    "q121_ima_adpcm_decode" ->
      """WITH RECURSIVE p AS (
        |  SELECT doc_id, CAST(64 + doc_id % 100 AS INT) AS n,
        |    CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sr, doc_id AS seed
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, n, seed, 0 AS i,
        |    CAST((seed % 65536) - 32768 AS BIGINT) AS dec,
        |    CAST((seed % 65536) - 32768 AS BIGINT) AS pred,
        |    CAST(0 AS BIGINT) AS idx
        |  FROM p
        |  UNION ALL
        |  SELECT doc_id, n, seed, i,
        |    CASE WHEN i % 65 = 0 THEN s ELSE pq END AS dec,
        |    CASE WHEN i % 65 = 0 THEN s ELSE pq END AS pred,
        |    CASE WHEN i % 65 = 0 THEN idx
        |         ELSE least(CAST(88 AS BIGINT), greatest(CAST(0 AS BIGINT),
        |           idx + [-1,-1,-1,-1,2,4,6,8][CAST(cd % 8 AS INT) + 1])) END AS idx
        |  FROM (
        |    SELECT *,
        |      CASE WHEN sgn = 1 THEN greatest(CAST(-32768 AS BIGINT), pred - dq)
        |           ELSE least(CAST(32767 AS BIGINT), pred + dq) END AS pq,
        |      sgn*8 + b2*4 + b1*2 + b0 AS cd
        |    FROM (
        |      SELECT *, CASE WHEN d1 - b1*(stp // 2) >= stp // 4 THEN 1 ELSE 0 END AS b0,
        |        (stp // 8) + b2*stp + b1*(stp // 2)
        |          + (CASE WHEN d1 - b1*(stp // 2) >= stp // 4 THEN 1 ELSE 0 END)*(stp // 4) AS dq
        |      FROM (
        |        SELECT *, CASE WHEN d1 >= stp // 2 THEN 1 ELSE 0 END AS b1
        |        FROM (
        |          SELECT *, d0 - b2*stp AS d1
        |          FROM (
        |            SELECT *, CASE WHEN d0 >= stp THEN 1 ELSE 0 END AS b2
        |            FROM (
        |              SELECT *, CASE WHEN s < pred THEN 1 ELSE 0 END AS sgn,
        |                abs(s - pred) AS d0
        |              FROM (
        |                SELECT doc_id, n, seed, i + 1 AS i, pred, idx,
        |                  CAST(((seed + 17*(i+1)) % 65536) - 32768 AS BIGINT) AS s,
        |                  [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,
        |                   41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,
        |                   190,209,230,253,279,307,337,371,408,449,494,544,598,658,
        |                   724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,
        |                   2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,
        |                   6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,
        |                   16818,18500,20350,22385,24623,27086,29794,32767]
        |                    [CAST(idx AS INT) + 1] AS stp
        |                FROM st WHERE i + 1 < n) t0) t1) t2) t3) t4) t5) t6)
        |SELECT st.doc_id, p.sr AS sample_rate, CAST(p.n AS BIGINT) AS n_samples,
        |  CAST(sum(abs(st.dec)) AS BIGINT) AS sum_abs,
        |  CAST(max(abs(st.dec)) AS INT) AS peak
        |FROM st JOIN p ON st.doc_id = p.doc_id
        |GROUP BY st.doc_id, p.sr, p.n""".stripMargin,

    // Audio framing features: frames of 32 at stride 16 (complete frames
    // only), per-frame energy and zero-crossing count from the replayed
    // PCM formula — all exact integers.
    "q122_audio_frames" ->
      """WITH p AS (
        |  SELECT doc_id, CAST(64 + doc_id % 100 AS INT) AS n, doc_id AS seed
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, seed, CAST(fi AS INT) AS frame_idx
        |  FROM p, LATERAL (SELECT unnest(generate_series(0, (n - 32) // 16)) AS fi)),
        |smp AS (
        |  SELECT doc_id, frame_idx, j,
        |    ((seed + 17*(frame_idx*16 + j)) % 65536) - 32768 AS s
        |  FROM f, LATERAL (SELECT unnest(generate_series(0, 31)) AS j))
        |SELECT doc_id, frame_idx,
        |  CAST(sum(s*s) AS BIGINT) AS energy,
        |  CAST(sum(CASE WHEN j > 0 AND (s < 0) != (prev < 0) THEN 1 ELSE 0 END) AS BIGINT) AS zcr
        |FROM (SELECT *, lag(s) OVER (PARTITION BY doc_id, frame_idx ORDER BY j) AS prev
        |      FROM smp)
        |GROUP BY doc_id, frame_idx""".stripMargin,

    // Image patchify: 2x2 complete patches over the replayed pixel
    // formula; a wrong pixel-array layout shifts per-patch sums even
    // when whole-image sums (q97) still pass.
    "q123_image_patches" ->
      """WITH p AS (
        |  SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS w,
        |    CAST(4 + doc_id % 3 AS INT) AS h, doc_id AS seed
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, seed, w, h, CAST(gx AS INT) AS patch_x, CAST(gy AS INT) AS patch_y
        |  FROM p,
        |    LATERAL (SELECT unnest(generate_series(0, w//2 - 1)) AS gx),
        |    LATERAL (SELECT unnest(generate_series(0, h//2 - 1)) AS gy)),
        |q AS (
        |  SELECT doc_id, patch_x, patch_y,
        |    (seed + 11*(patch_x*2+dx) + 13*(patch_y*2+dy)) % 256 AS r,
        |    (seed + 5*(patch_x*2+dx) + 7*(patch_y*2+dy)) % 256 AS gc,
        |    (seed + 2*(patch_x*2+dx) + 3*(patch_y*2+dy)) % 256 AS b
        |  FROM g,
        |    LATERAL (SELECT unnest(generate_series(0, 1)) AS dx),
        |    LATERAL (SELECT unnest(generate_series(0, 1)) AS dy))
        |SELECT doc_id, patch_x, patch_y,
        |  CAST(sum(r) AS BIGINT) AS sum_r,
        |  CAST(sum(gc) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b
        |FROM q GROUP BY doc_id, patch_x, patch_y""".stripMargin,

    // Per-source quota: top-20 per source by word count (doc_id
    // tie-break) — the per-domain curation cap.
    "q124_source_caps" ->
      """SELECT source, doc_id, word_count, rank FROM (
        |  SELECT source, doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS word_count,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY len(string_split_regex(trim(text), '\s+')) DESC, doc_id)
        |      AS INT) AS rank
        |  FROM documents)
        |WHERE rank <= 20""".stripMargin,

    // Quarantine disposition: every 10th line is a truncated object ->
    // typed columns NULL, quarantined flag, raw length of the broken
    // line; good lines parse back their values.
    "q125_jsonl_quarantine" ->
      """SELECT
        |  CASE WHEN doc_id % 10 = 0 THEN NULL ELSE doc_id END AS doc_id,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL ELSE lang END AS lang,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL ELSE n_chars END AS n_chars,
        |  doc_id % 10 = 0 AS quarantined,
        |  CASE WHEN doc_id % 10 = 0
        |       THEN CAST(length('{"doc_id":' || CAST(doc_id AS VARCHAR) || ',') AS INT)
        |       ELSE 0 END AS raw_len
        |FROM documents""".stripMargin,

    // CSV quarantine: type garbage in the key column -> that field
    // nulls, the OTHER columns keep their parsed values, raw line
    // quarantined.
    "q126_csv_quarantine" ->
      """SELECT
        |  CASE WHEN doc_id % 10 = 0 THEN NULL ELSE doc_id END AS doc_id,
        |  lang,
        |  n_chars,
        |  doc_id % 10 = 0 AS quarantined,
        |  CASE WHEN doc_id % 10 = 0
        |       THEN CAST(length('x' || CAST(doc_id AS VARCHAR) || '|' || lang
        |         || '|' || CAST(n_chars AS VARCHAR)) AS INT)
        |       ELSE 0 END AS raw_len
        |FROM documents""".stripMargin,

    // AVI frame sampling: every 2nd frame's channel sums recomputed in
    // closed form from the per-frame-shifted pixel gradient.
    // VLM pair manifest: the decoded pixel mass is recomputed in closed
    // form (q97's formula summed across channels), joined with the
    // caption word count, gate and shard replayed exactly.
    "q135_vlm_pair_manifest" ->
      """WITH p AS (
        |  SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS w,
        |    CAST(4 + doc_id % 3 AS INT) AS h, doc_id AS seed
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h,
        |    (seed + 11*x + 13*y) % 256 + (seed + 5*x + 7*y) % 256 +
        |    (seed + 2*x + 3*y) % 256 AS m
        |  FROM p,
        |    LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x),
        |    LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y)),
        |img AS (
        |  SELECT doc_id, w, h, CAST(sum(m) AS BIGINT) AS pixel_mass
        |  FROM px GROUP BY doc_id, w, h),
        |cap AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS caption_words
        |  FROM documents)
        |SELECT i.doc_id, w AS width, h AS height, pixel_mass, caption_words,
        |  (caption_words BETWEEN 5 AND 500 AND w >= 5 AND h >= 5) AS keep,
        |  CAST(i.doc_id % 8 AS INT) AS shard
        |FROM img i JOIN cap c ON i.doc_id = c.doc_id""".stripMargin,

    // Compression-ratio gate: the DEFLATE length is zlib-implementation-
    // specific, so — like q115/q130 — the oracle pins the exact columns
    // (doc id, byte length) and predicts both sanity booleans TRUE; the
    // Spark side computes them from the real codec output.
    "q134_compress_quality" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS byte_len,
        |  TRUE AS ok_bounds, TRUE AS ok_disc
        |FROM documents""".stripMargin,

    // BPE ENCODE: replays the full 3-round training (same CTE chain as
    // q129 — v3 is the fully-merged vocabulary) and then the corpus
    // application: per-doc word mapping, token accounting, and the
    // order-preserving reassembled segmentation, all hash-compared.
    "q133_bpe_encode" ->
      (BpeEncodeCtes + """
        |SELECT d.doc_id,
        |  CAST(coalesce(e.n_words, 0) AS BIGINT) AS n_words,
        |  CAST(coalesce(e.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
        |  coalesce(e.encoded, '') AS encoded
        |FROM documents d LEFT JOIN enc e USING (doc_id)""").stripMargin,

    // Train -> encode -> PACK: the q133 chain supplies real BPE token
    // counts; the packing arithmetic (md5 shard, per-shard running sum,
    // 512-token sequences) is replayed exactly as in q81.
    "q136_bpe_token_packing" ->
      (BpeEncodeCtes + """,
        |cnt AS (
        |  SELECT d.doc_id,
        |    CAST(coalesce(e.n_bpe_tokens, 0) AS BIGINT) AS n_tokens
        |  FROM documents d LEFT JOIN enc e ON d.doc_id = e.doc_id),
        |sh AS (
        |  SELECT doc_id,
        |    (ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 31 +
        |     ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 16 AS shard,
        |    n_tokens
        |  FROM cnt),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS strt
        |  FROM sh)
        |SELECT doc_id, CAST(shard AS INT) AS shard, n_tokens,
        |  CAST(floor(strt / 512.0) AS BIGINT) AS seq_id,
        |  CAST(strt - floor(strt / 512.0) * 512 AS BIGINT) AS seq_offset
        |FROM c""").stripMargin,

    // Eval-set decontamination with removal: replays the eval window
    // set, every matching training occurrence (no canonical survivor),
    // the mask rewrite, and the integer keep/drop rule — the
    // decontaminated TEXT itself is hash-compared.
    "q137_decontaminate" ->
      """WITH tok AS (
        |  SELECT doc_id, doc_id % 20 = 0 AS ev,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |ew AS (
        |  SELECT DISTINCT array_to_string(ws[i+1 : i+8], ' ') AS key
        |  FROM tok CROSS JOIN unnest(generate_series(0, len(ws) - 8)) AS g(i)
        |  WHERE ev AND len(ws) >= 8),
        |m AS (
        |  SELECT t.doc_id, i AS p
        |  FROM tok t CROSS JOIN unnest(generate_series(0, len(ws) - 8)) AS g(i)
        |  WHERE NOT ev AND len(ws) >= 8
        |    AND array_to_string(ws[i+1 : i+8], ' ') IN (SELECT key FROM ew)),
        |kept AS (
        |  SELECT t.doc_id, i, t.ws[i] AS tokn
        |  FROM tok t CROSS JOIN unnest(generate_series(1, len(t.ws))) AS g(i)
        |  WHERE NOT t.ev AND NOT EXISTS (SELECT 1 FROM m
        |    WHERE m.doc_id = t.doc_id AND i BETWEEN m.p + 1 AND m.p + 8)),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tokn, ' ' ORDER BY i) AS txt
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
        |  CAST(len(t.ws) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
        |  (len(t.ws) - coalesce(a.n_kept, 0)) > 0 AS contaminated,
        |  (len(t.ws) - coalesce(a.n_kept, 0)) * 100 <= len(t.ws) * 20 AS keep,
        |  CASE WHEN (len(t.ws) - coalesce(a.n_kept, 0)) * 100 <= len(t.ws) * 20
        |       THEN coalesce(a.txt, '') ELSE '' END AS decon_text
        |FROM tok t LEFT JOIN agg a ON t.doc_id = a.doc_id
        |WHERE NOT t.ev""".stripMargin,

    // Exact-span dedup: replays window extraction, min-encoded canonical
    // selection, and the per-document rewrite — the deduped TEXT itself
    // is hash-compared.
    "q132_span_dedup" ->
      SpanDedup5Sql,

    // Production-budget BPE training: the 32-round generated replay
    // (see bpeTrainSql — materialized vocab CTEs, generated rounds).
    "q147_bpe_train32" -> bpeTrainSql(rounds = 32, topWords = 50),

    // As-of join: DuckDB's NATIVE ASOF LEFT JOIN is the oracle — an
    // independent built-in implementation of the operator, not a
    // replay of our formulation. Right side pre-aggregated unique per
    // (user, ts): the engines' tie-breaking is otherwise unspecified.
    "q164_asof_join" ->
      """WITH v AS (
        |  SELECT user_id, ts, ts AS view_ts, max(value) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
        |p AS (
        |  SELECT event_id, user_id, ts, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, p.value,
        |  v.view_ts, v.view_value
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND v.ts <= p.ts""".stripMargin,

    // Interval lookback join: the plain inequality-join replay (DuckDB
    // optimizes it natively as IEJoin; Spark gets the binned equi-join
    // — same result set by construction). max is order-independent so
    // the double column hash-checks.
    "q166_lookback_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'error'),
        |v AS (
        |  SELECT user_id, ts, value FROM events WHERE event_type = 'view'),
        |m AS (
        |  SELECT e.event_id, CAST(count(*) AS BIGINT) AS views_5m,
        |    max(v.value) AS max_view
        |  FROM e JOIN v ON e.user_id = v.user_id
        |    AND v.ts > e.ts - INTERVAL 5 MINUTE AND v.ts <= e.ts
        |  GROUP BY 1)
        |SELECT e.event_id, e.user_id, e.ts,
        |  coalesce(m.views_5m, 0) AS views_5m, m.max_view
        |FROM e LEFT JOIN m USING (event_id)""".stripMargin,

    // BM25 retrieval: full replay — postings, (N, avgdl) stats, the
    // integer-log2 idf via length(bin(..)), the exact-rational tf
    // saturation term (x10·avgdl clears k1=1.2/b=0.75), and the
    // windowed per-term top-10 with doc_id tiebreak.
    "q165_bm25_topk" ->
      """WITH tok AS MATERIALIZED (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |post AS MATERIALIZED (
        |  SELECT t AS term, doc_id, CAST(len(ws) AS BIGINT) AS dl,
        |    CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, ws, unnest(ws) AS t FROM tok
        |        WHERE len(ws) >= 1)
        |  GROUP BY 1, 2, 3),
        |stats AS (
        |  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n,
        |    CAST(sum(tf) AS BIGINT) // count(DISTINCT doc_id) AS avgdl
        |  FROM post),
        |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |        FROM post GROUP BY 1),
        |q AS (SELECT term, df FROM (
        |        SELECT term, df FROM dft ORDER BY df DESC, term LIMIT 12)
        |      ORDER BY df ASC, term DESC LIMIT 8),
        |scored AS (
        |  SELECT p.term, p.doc_id,
        |    (1000000 * length(bin((n + 1) // (df + 1))))
        |      * ((22 * tf * avgdl * 1000000)
        |         // (10 * avgdl * tf + 3 * avgdl + 9 * dl))
        |      // 1000000 AS score
        |  FROM post p JOIN q USING (term), stats)
        |SELECT term, CAST(rnk AS INT) AS rank, doc_id,
        |  CAST(score AS BIGINT) AS score
        |FROM (SELECT term, doc_id, score,
        |        row_number() OVER (PARTITION BY term
        |          ORDER BY score DESC, doc_id) AS rnk
        |      FROM scored)
        |WHERE rnk <= 10""".stripMargin,

    // Whole-query BM25: q165's replay extended by the rank-window query
    // assembly (df ranks 5-16, query_id = (rank-5) mod 4), the
    // per-(query, doc) SUM of per-term integer scores (each term's
    // score integer-divided BEFORE the sum, matching Spark), the
    // distinct-matched-term count, and the per-query top-5 window.
    "q167_bm25_query_score" ->
      """WITH tok AS MATERIALIZED (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |post AS MATERIALIZED (
        |  SELECT t AS term, doc_id, CAST(len(ws) AS BIGINT) AS dl,
        |    CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, ws, unnest(ws) AS t FROM tok
        |        WHERE len(ws) >= 1)
        |  GROUP BY 1, 2, 3),
        |stats AS (
        |  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n,
        |    CAST(sum(tf) AS BIGINT) // count(DISTINCT doc_id) AS avgdl
        |  FROM post),
        |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |        FROM post GROUP BY 1),
        |q AS (
        |  SELECT CAST((rnk - 5) % 4 AS BIGINT) AS query_id, term, df
        |  FROM (SELECT term, df,
        |          row_number() OVER (ORDER BY df DESC, term) AS rnk
        |        FROM dft ORDER BY df DESC, term LIMIT 16)
        |  WHERE rnk >= 5),
        |scored AS (
        |  SELECT q.query_id, p.doc_id,
        |    CAST(sum(
        |      (1000000 * length(bin((n + 1) // (df + 1))))
        |        * ((22 * tf * avgdl * 1000000)
        |           // (10 * avgdl * tf + 3 * avgdl + 9 * dl))
        |        // 1000000) AS BIGINT) AS score,
        |    CAST(count(*) AS BIGINT) AS n_terms
        |  FROM post p JOIN q USING (term), stats
        |  GROUP BY 1, 2)
        |SELECT query_id, CAST(rnk AS INT) AS rank, doc_id, score, n_terms
        |FROM (SELECT query_id, doc_id, score, n_terms,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY score DESC, doc_id) AS rnk
        |      FROM scored)
        |WHERE rnk <= 5""".stripMargin,

    // Hybrid retrieval: BOTH rankers replayed — q167's integer BM25
    // arithmetic AND the full IVF recompute (the q159 training/assign/
    // probe CTEs over the UNFILTERED corpus: Spark serves the stored
    // full-corpus lists, the oracle re-derives them from scratch, so a
    // hash match is the serve≡recompute theorem for the semantic leg
    // too) — and the RRF fusion as exact integer division: D =
    // lcm(61..70) is divisible by every reachable denominator, so
    // D // (60 + rank) is exact and the fused BIGINT hash-matches.
    "q170_hybrid_rrf" -> {
      val D = (61 to 70).map(BigInt(_))
        .foldLeft(BigInt(1))((a, b) => a / a.gcd(b) * b)
      s"""WITH $Bm25LexCtes,
        |$IvfSemCtes,
        |u AS (
        |  SELECT query_id, doc_id, rank, 'lex' AS src FROM lex
        |  UNION ALL
        |  SELECT query_id, doc_id, rank, 'sem' FROM sem),
        |f AS (
        |  SELECT query_id, doc_id,
        |    CAST(sum($D // (60 + rank)) AS BIGINT) AS rrf_score,
        |    CAST(min(CASE WHEN src = 'lex' THEN rank END) AS INT) AS lex_rank,
        |    CAST(min(CASE WHEN src = 'sem' THEN rank END) AS INT) AS sem_rank
        |  FROM u GROUP BY 1, 2)
        |SELECT query_id, CAST(rnk AS INT) AS rank, doc_id, rrf_score,
        |  lex_rank, sem_rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY rrf_score DESC, doc_id) AS rnk FROM f)
        |WHERE rnk <= 10""".stripMargin
    },

    // Incremental BM25 index maintenance (q171): the oracle replays the
    // FULL REINDEX over the new snapshot — postings, df, the (N, avgdl)
    // stats, the df-rank query panel and the whole-query top-5 — and
    // emits the same kind-tagged union, so a hash match is the
    // batch≡incremental theorem for the maintained index (df exactly;
    // postings tf/dl on every probed term; stats via avgdl/N riding
    // every score).
    "q171_incremental_bm25" ->
      """WITH newsnap AS MATERIALIZED (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 19 <> 0 OR doc_id % 20 = 0),
        |tok AS MATERIALIZED (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM newsnap),
        |post AS MATERIALIZED (
        |  SELECT t AS term, doc_id, CAST(len(ws) AS BIGINT) AS dl,
        |    CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, ws, unnest(ws) AS t FROM tok
        |        WHERE len(ws) >= 1)
        |  GROUP BY 1, 2, 3),
        |stats AS (
        |  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n,
        |    CAST(sum(tf) AS BIGINT) // count(DISTINCT doc_id) AS avgdl
        |  FROM post),
        |dft AS MATERIALIZED (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df
        |  FROM post GROUP BY 1),
        |q AS (
        |  SELECT CAST((rnk - 5) % 4 AS BIGINT) AS query_id, term, df
        |  FROM (SELECT term, df,
        |          row_number() OVER (ORDER BY df DESC, term) AS rnk
        |        FROM dft ORDER BY df DESC, term LIMIT 16)
        |  WHERE rnk >= 5),
        |scored AS (
        |  SELECT q.query_id, p.doc_id,
        |    CAST(sum(
        |      (1000000 * length(bin((n + 1) // (df + 1))))
        |        * ((22 * tf * avgdl * 1000000)
        |           // (10 * avgdl * tf + 3 * avgdl + 9 * dl))
        |        // 1000000) AS BIGINT) AS score,
        |    CAST(count(*) AS BIGINT) AS n_terms
        |  FROM post p JOIN q USING (term), stats
        |  GROUP BY 1, 2),
        |hits AS (
        |  SELECT query_id, CAST(rnk AS INT) AS rank, doc_id, score, n_terms
        |  FROM (SELECT query_id, doc_id, score, n_terms,
        |          row_number() OVER (PARTITION BY query_id
        |            ORDER BY score DESC, doc_id) AS rnk
        |        FROM scored)
        |  WHERE rnk <= 5)
        |SELECT 'df' AS kind, term, CAST(NULL AS BIGINT) AS query_id,
        |  CAST(NULL AS INT) AS rank, CAST(NULL AS BIGINT) AS doc_id,
        |  df AS v1, CAST(NULL AS BIGINT) AS v2
        |FROM dft
        |UNION ALL
        |SELECT 'stats', CAST(NULL AS VARCHAR), NULL, NULL, NULL, n, avgdl
        |FROM stats
        |UNION ALL
        |SELECT 'hit', CAST(NULL AS VARCHAR), query_id, rank, doc_id,
        |  score, n_terms
        |FROM hits""".stripMargin,

    // Tokenizer-vocab maintenance + refresh policy (q173): full
    // recompute of both snapshots' unit counts, both release tables,
    // and the symmetric-difference policy bits — see vocabMaintainSql.
    "q173_vocab_maintain" -> vocabMaintainSql,

    // Fused-recall gate: the ENTIRE q170 replay (lex + IVF sem +
    // fusion) plus the exact brute-force-cosine composition it gates
    // against (r15 q170's own replay shape) plus the overlap count —
    // every number deterministic, so `ok` is pinned by hash, not
    // merely asserted: a recall collapse mismatches.
    "q172_hybrid_recall" -> {
      val D = (61 to 70).map(BigInt(_))
        .foldLeft(BigInt(1))((a, b) => a / a.gcd(b) * b)
      s"""WITH $Bm25LexCtes,
        |$IvfSemCtes,
        |fi AS (
        |  SELECT query_id, doc_id, 1 AS found FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY rrf_score DESC, doc_id) AS rnk
        |    FROM (SELECT query_id, doc_id,
        |            CAST(sum($D // (60 + rank)) AS BIGINT) AS rrf_score
        |          FROM (SELECT query_id, doc_id, rank FROM lex
        |                UNION ALL SELECT query_id, doc_id, rank FROM sem)
        |          GROUP BY 1, 2))
        |  WHERE rnk <= 10),
        |bqv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
        |        FROM embeddings WHERE vec_id < 4),
        |bcv AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS v
        |        FROM embeddings),
        |bsems AS (
        |  SELECT query_id, cand_id,
        |    list_dot_product(bqv.v, bcv.v)
        |      / (sqrt(list_dot_product(bqv.v, bqv.v))
        |         * sqrt(list_dot_product(bcv.v, bcv.v))) AS cosine
        |  FROM bcv, bqv WHERE query_id != cand_id),
        |bsem AS (
        |  SELECT query_id, cand_id AS doc_id, rnk AS rank FROM (
        |    SELECT query_id, cand_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, cand_id) AS rnk
        |    FROM bsems) WHERE rnk <= 10),
        |fb AS (
        |  SELECT query_id, doc_id FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY rrf_score DESC, doc_id) AS rnk
        |    FROM (SELECT query_id, doc_id,
        |            CAST(sum($D // (60 + rank)) AS BIGINT) AS rrf_score
        |          FROM (SELECT query_id, doc_id, rank FROM lex
        |                UNION ALL SELECT query_id, doc_id, rank FROM bsem)
        |          GROUP BY 1, 2))
        |  WHERE rnk <= 10)
        |SELECT 'hybrid_ivf' AS method,
        |  CAST(count(*) AS BIGINT) AS n_reference,
        |  CAST(COALESCE(sum(found), 0) AS BIGINT) AS n_found,
        |  (count(*) = 0 OR
        |   CAST(COALESCE(sum(found), 0) AS DOUBLE) / count(*) >= 0.3) AS ok
        |FROM fb LEFT JOIN fi USING (query_id, doc_id)""".stripMargin
    },

    // FORWARD + tolerance as-of: DuckDB's ASOF is backward-only, so
    // Forward replays through the native ASOF LEFT JOIN on NEGATED
    // epochs (largest -t' <= -t  <=>  smallest t' >= t, both ends
    // inclusive); the 10-minute tolerance is a post-CASE on the matched
    // pair (pandas semantics: a too-late match nulls, never falls back).
    // Every 97th error's ts is nulled on BOTH sides to pin the
    // null-time-forward edge.
    "q168_asof_forward_tolerance" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_id % 97 <> 0 THEN ts END AS ts
        |  FROM events WHERE event_type = 'error'),
        |v AS (
        |  SELECT user_id, ts AS view_ts, max(value) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
        |en AS (SELECT event_id, user_id, ts,
        |         -epoch_ns(ts) AS nts FROM e),
        |vn AS (SELECT user_id, view_ts, view_value,
        |         -epoch_ns(view_ts) AS nts FROM v),
        |j AS (
        |  SELECT en.event_id, en.user_id, en.ts, vn.view_ts, vn.view_value
        |  FROM en ASOF LEFT JOIN vn
        |    ON en.user_id = vn.user_id AND vn.nts <= en.nts)
        |SELECT event_id, user_id, ts,
        |  CASE WHEN view_ts <= ts + INTERVAL 10 MINUTE
        |       THEN view_ts END AS view_ts,
        |  CASE WHEN view_ts <= ts + INTERVAL 10 MINUTE
        |       THEN view_value END AS view_value
        |FROM j""".stripMargin,

    // Deep-budget tier: replay from the STORED merge table (sidecar
    // inlined as VALUES) — fixed SQL size at any budget; certifies
    // 512-deep application densely and training argmax at sampled ranks
    // (see bpe512ReplaySql). Lazy by parity-map materialization order:
    // Verify dumps AFTER running q163, which writes the sidecar.
    "q163_bpe_train512" ->
      bpe512ReplaySql(topWords = 50, checkOrds = Queries.BpeCheckOrds),

    // PRODUCTION-depth tier (VERDICT r14 ask #5): 8192 merges on the
    // depth-sustaining 12-gram/2048 unit table, replayed from the
    // stored merge sidecar exactly like q163 — the replay SQL's CTE
    // structure is budget-independent, only the VALUES list and the
    // recursion depth grow with the data (not the query shape).
    "q169_bpe_train8k" ->
      bpeStoredReplaySql(Tables.Bpe8kSidecar, "q169", bpe8kUnitsSql,
        topWords = 50, checkOrds = Queries.BpeCheckOrds8k),

    // All-lengths exact-substring dedup: q132's window/canonical replay
    // at L=4 plus the coverage-level keep rule — a token survives iff no
    // non-canonical duplicated window covers it OR a canonical one does.
    // A null-text document stays null; a fully removed one reads ''.

    "q144_all_span_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |win AS (
        |  SELECT doc_id, i AS p, array_to_string(ws[i+1 : i+4], ' ') AS key
        |  FROM tok CROSS JOIN unnest(generate_series(0, len(ws) - 4)) AS g(i)
        |  WHERE len(ws) >= 4 AND len(ws) <= 1000000),
        |occ AS (
        |  SELECT key, count(*) AS n, min(doc_id * 1000000 + p) AS canon
        |  FROM win GROUP BY key HAVING count(*) >= 2),
        |m AS (
        |  SELECT w.doc_id, w.p
        |  FROM win w JOIN occ o ON w.key = o.key
        |  WHERE w.doc_id * 1000000 + w.p <> o.canon),
        |c AS (
        |  SELECT w.doc_id, w.p
        |  FROM win w JOIN occ o ON w.key = o.key
        |  WHERE w.doc_id * 1000000 + w.p = o.canon),
        |kept AS (
        |  SELECT t.doc_id, i, t.ws[i] AS tokn
        |  FROM tok t CROSS JOIN unnest(generate_series(1, len(t.ws))) AS g(i)
        |  WHERE NOT EXISTS (SELECT 1 FROM m
        |      WHERE m.doc_id = t.doc_id AND i BETWEEN m.p + 1 AND m.p + 4)
        |    OR EXISTS (SELECT 1 FROM c
        |      WHERE c.doc_id = t.doc_id AND i BETWEEN c.p + 1 AND c.p + 4)),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tokn, ' ' ORDER BY i) AS txt
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
        |  CAST(len(t.ws) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
        |  CASE WHEN t.ws IS NULL THEN NULL ELSE coalesce(a.txt, '') END
        |    AS deduped_text
        |FROM tok t LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // EXACT maximal duplicated-span inventory: the suffix-array
    // prefix-doubling + neighbor-LCP construction, generated level by
    // level (see suffixSpansSql).
    "q146_maximal_spans" -> suffixSpansSql(minLen = 4, levels = 8),

    // The rebuild-policy cell: the identical generated replay restricted
    // to the 1-in-8 slice the Spark side rebuilds live (q162's scaladoc
    // records why the suffix artifact is rebuilt, never maintained).
    "q162_suffix_rebuild" ->
      suffixSpansSql(minLen = 4, levels = 8, where = " WHERE doc_id % 8 = 0"),

    // Batch-perceptron quality filter: pure integer recurrence, so the
    // oracle replays ALL three training rounds (w0=0 makes round 1 flag
    // every row; later rounds flag y*(w·x) <= 0) and the final per-doc
    // margins exactly.
    "q131_quality_perceptron" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
        |    CAST(1 AS BIGINT) AS x0,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS x1,
        |    n_chars AS x2,
        |    CAST((length(text) - length(replace(text, 'the', ''))) // 3 AS BIGINT) AS x3
        |  FROM documents),
        |u1 AS (
        |  SELECT CAST(coalesce(sum(y*x0),0) AS BIGINT) AS d0,
        |         CAST(coalesce(sum(y*x1),0) AS BIGINT) AS d1,
        |         CAST(coalesce(sum(y*x2),0) AS BIGINT) AS d2,
        |         CAST(coalesce(sum(y*x3),0) AS BIGINT) AS d3
        |  FROM f),
        |w1 AS (SELECT d0 AS g0, d1 AS g1, d2 AS g2, d3 AS g3 FROM u1),
        |u2 AS (
        |  SELECT CAST(coalesce(sum(y*x0),0) AS BIGINT) AS d0,
        |         CAST(coalesce(sum(y*x1),0) AS BIGINT) AS d1,
        |         CAST(coalesce(sum(y*x2),0) AS BIGINT) AS d2,
        |         CAST(coalesce(sum(y*x3),0) AS BIGINT) AS d3
        |  FROM f, w1 WHERE y * (g0*x0 + g1*x1 + g2*x2 + g3*x3) <= 0),
        |w2 AS (SELECT g0+d0 AS g0, g1+d1 AS g1, g2+d2 AS g2, g3+d3 AS g3 FROM w1, u2),
        |u3 AS (
        |  SELECT CAST(coalesce(sum(y*x0),0) AS BIGINT) AS d0,
        |         CAST(coalesce(sum(y*x1),0) AS BIGINT) AS d1,
        |         CAST(coalesce(sum(y*x2),0) AS BIGINT) AS d2,
        |         CAST(coalesce(sum(y*x3),0) AS BIGINT) AS d3
        |  FROM f, w2 WHERE y * (g0*x0 + g1*x1 + g2*x2 + g3*x3) <= 0),
        |w3 AS (SELECT g0+d0 AS g0, g1+d1 AS g1, g2+d2 AS g2, g3+d3 AS g3 FROM w2, u3)
        |SELECT 'w' AS kind, CAST(1 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b, g0 AS v FROM w1
        |UNION ALL SELECT 'w', 1, 1, g1 FROM w1
        |UNION ALL SELECT 'w', 1, 2, g2 FROM w1
        |UNION ALL SELECT 'w', 1, 3, g3 FROM w1
        |UNION ALL SELECT 'w', 2, 0, g0 FROM w2
        |UNION ALL SELECT 'w', 2, 1, g1 FROM w2
        |UNION ALL SELECT 'w', 2, 2, g2 FROM w2
        |UNION ALL SELECT 'w', 2, 3, g3 FROM w2
        |UNION ALL SELECT 'w', 3, 0, g0 FROM w3
        |UNION ALL SELECT 'w', 3, 1, g1 FROM w3
        |UNION ALL SELECT 'w', 3, 2, g2 FROM w3
        |UNION ALL SELECT 'w', 3, 3, g3 FROM w3
        |UNION ALL
        |SELECT 'd', doc_id, CASE WHEN m > 0 THEN 1 ELSE -1 END, m
        |FROM (SELECT doc_id, g0*x0 + g1*x1 + g2*x2 + g3*x3 AS m
        |      FROM f, w3) s""".stripMargin,

    // q131's recurrence at k=68 (4 standard + 64 hashed-bigram buckets):
    // the SQL is generated by the same index loops the Spark trainer
    // unrolls with — see QfNgramSql above.
    "q138_quality_ngram_perceptron" -> QfNgramSql,

    // MJPEG gate: the oracle cannot re-run the lossy JPEG decode, so —
    // exactly like q115 — it pins the exact columns (dims, frame count,
    // sampled frame indices) and predicts ok=TRUE for every frame; the
    // Spark side computes ok from the decoded sums vs the closed-form
    // ramp bound, so any container/codec fault flips a cell and
    // hash-mismatches.
    "q130_mjpeg_frames" ->
      """WITH p AS (
        |  SELECT doc_id, CAST(4 + doc_id % 9 AS INT) AS w,
        |    CAST(4 + doc_id % 6 AS INT) AS h,
        |    CAST(2 + doc_id % 4 AS INT) AS nf
        |  FROM documents)
        |SELECT doc_id, w AS width, h AS height, nf AS n_frames,
        |  CAST(f AS INT) AS frame_idx, TRUE AS ok
        |FROM p, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f)
        |WHERE f % 2 = 0""".stripMargin,

    "q127_avi_frames" ->
      """WITH p AS (
        |  SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS w,
        |    CAST(4 + doc_id % 3 AS INT) AS h,
        |    CAST(2 + doc_id % 4 AS INT) AS nf, doc_id AS seed
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, w, h, nf, seed, CAST(f AS INT) AS frame_idx
        |  FROM p, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f)
        |  WHERE f % 2 = 0),
        |q AS (
        |  SELECT doc_id, w, h, nf, frame_idx,
        |    (seed + 1000003*frame_idx + 11*x + 13*y) % 256 AS r,
        |    (seed + 1000003*frame_idx + 5*x + 7*y) % 256 AS gc,
        |    (seed + 1000003*frame_idx + 2*x + 3*y) % 256 AS b
        |  FROM fr,
        |    LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x),
        |    LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y))
        |SELECT doc_id, w AS width, h AS height, nf AS n_frames, frame_idx,
        |  CAST(sum(r) AS BIGINT) AS sum_r,
        |  CAST(sum(gc) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b
        |FROM q GROUP BY doc_id, w, h, nf, frame_idx""".stripMargin,

    // Shot-boundary deltas: consecutive frames' channel-sum L1 distance
    // + per-pixel-threshold cut flag, replayed closed-form.
    "q128_scene_deltas" ->
      """WITH p AS (
        |  SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS w,
        |    CAST(4 + doc_id % 3 AS INT) AS h,
        |    CAST(2 + doc_id % 4 AS INT) AS nf, doc_id AS seed
        |  FROM documents),
        |fs AS (
        |  SELECT doc_id, w, h, CAST(f AS INT) AS frame_idx,
        |    CAST(sum((seed + 1000003*f + 11*x + 13*y) % 256) AS BIGINT) AS sr,
        |    CAST(sum((seed + 1000003*f + 5*x + 7*y) % 256) AS BIGINT) AS sg,
        |    CAST(sum((seed + 1000003*f + 2*x + 3*y) % 256) AS BIGINT) AS sb
        |  FROM p,
        |    LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f),
        |    LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x),
        |    LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y)
        |  GROUP BY doc_id, w, h, f)
        |SELECT doc_id, frame_idx,
        |  abs(sr - psr) + abs(sg - psg) + abs(sb - psb) AS delta,
        |  abs(sr - psr) + abs(sg - psg) + abs(sb - psb) > w*h*64 AS is_cut
        |FROM (
        |  SELECT *, lag(sr) OVER wf AS psr, lag(sg) OVER wf AS psg,
        |    lag(sb) OVER wf AS psb
        |  FROM fs WINDOW wf AS (PARTITION BY doc_id ORDER BY frame_idx))
        |WHERE frame_idx > 0""".stripMargin,

    // BPE training replay: 3 merge rounds (pair counting with self-pair
    // exclusion, count-desc/pair-asc top-1, exact position-filtered
    // array rewrite) + final segmentation of the top-20 words.
    "q129_bpe_merges" ->
      """WITH w AS (
        |  SELECT lower(t) AS word
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
        |        FROM documents)
        |  WHERE regexp_matches(lower(t), '^[a-z]+$')),
        |v0 AS (
        |  SELECT word,
        |    array_to_string(string_split(word, ''), ' ') AS sym,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM w GROUP BY word),
        |p1 AS (
        |  SELECT z[1] || ' ' || z[2] AS pair, CAST(sum(n) AS BIGINT) AS cnt
        |  FROM (
        |    SELECT n, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
        |    FROM (SELECT n, string_split(sym, ' ') AS l FROM v0))
        |  WHERE z[1] != z[2]
        |  GROUP BY 1),
        |t1 AS (
        |  SELECT pair, replace(pair, ' ', '') AS merged, cnt
        |  FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
        |v1 AS (
        |  SELECT word,
        |    CASE WHEN a IS NULL THEN sym0
        |         ELSE array_to_string(list_transform(
        |      list_filter(range(1, len(l) + 1),
        |        p -> NOT (p >= 2 AND l[p-1] = a AND l[p] = b)),
        |      p -> CASE WHEN p < len(l) AND l[p] = a AND l[p+1] = b
        |                THEN m ELSE l[p] END), ' ') END AS sym, n
        |  FROM (SELECT word, sym AS sym0, string_split(sym, ' ') AS l, n FROM v0)
        |  LEFT JOIN (SELECT string_split(pair, ' ')[1] AS a,
        |    string_split(pair, ' ')[2] AS b, merged AS m FROM t1) ON TRUE),
        |p2 AS (
        |  SELECT z[1] || ' ' || z[2] AS pair, CAST(sum(n) AS BIGINT) AS cnt
        |  FROM (
        |    SELECT n, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
        |    FROM (SELECT n, string_split(sym, ' ') AS l FROM v1))
        |  WHERE z[1] != z[2]
        |  GROUP BY 1),
        |t2 AS (
        |  SELECT pair, replace(pair, ' ', '') AS merged, cnt
        |  FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
        |v2 AS (
        |  SELECT word,
        |    CASE WHEN a IS NULL THEN sym0
        |         ELSE array_to_string(list_transform(
        |      list_filter(range(1, len(l) + 1),
        |        p -> NOT (p >= 2 AND l[p-1] = a AND l[p] = b)),
        |      p -> CASE WHEN p < len(l) AND l[p] = a AND l[p+1] = b
        |                THEN m ELSE l[p] END), ' ') END AS sym, n
        |  FROM (SELECT word, sym AS sym0, string_split(sym, ' ') AS l, n FROM v1)
        |  LEFT JOIN (SELECT string_split(pair, ' ')[1] AS a,
        |    string_split(pair, ' ')[2] AS b, merged AS m FROM t2) ON TRUE),
        |p3 AS (
        |  SELECT z[1] || ' ' || z[2] AS pair, CAST(sum(n) AS BIGINT) AS cnt
        |  FROM (
        |    SELECT n, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
        |    FROM (SELECT n, string_split(sym, ' ') AS l FROM v2))
        |  WHERE z[1] != z[2]
        |  GROUP BY 1),
        |t3 AS (
        |  SELECT pair, replace(pair, ' ', '') AS merged, cnt
        |  FROM p3 ORDER BY cnt DESC, pair LIMIT 1),
        |v3 AS (
        |  SELECT word,
        |    CASE WHEN a IS NULL THEN sym0
        |         ELSE array_to_string(list_transform(
        |      list_filter(range(1, len(l) + 1),
        |        p -> NOT (p >= 2 AND l[p-1] = a AND l[p] = b)),
        |      p -> CASE WHEN p < len(l) AND l[p] = a AND l[p+1] = b
        |                THEN m ELSE l[p] END), ' ') END AS sym, n
        |  FROM (SELECT word, sym AS sym0, string_split(sym, ' ') AS l, n FROM v2)
        |  LEFT JOIN (SELECT string_split(pair, ' ')[1] AS a,
        |    string_split(pair, ' ')[2] AS b, merged AS m FROM t3) ON TRUE)
        |SELECT kind, key, value, weight, ord FROM (
        |  SELECT 'merge' AS kind, pair AS key, merged AS value,
        |    cnt AS weight, 1 AS ord FROM t1
        |  UNION ALL
        |  SELECT 'merge', pair, merged, cnt, 2 FROM t2
        |  UNION ALL
        |  SELECT 'merge', pair, merged, cnt, 3 FROM t3
        |  UNION ALL
        |  SELECT 'word', word, sym, n, 0
        |  FROM (SELECT * FROM v3 ORDER BY n DESC, word LIMIT 20))""".stripMargin,

    // kNN classification: brute-force L2 top-5 (the exactTopKL2 replay),
    // mode of the neighbors' labels with smallest-label tie-break,
    // compared to the query's own label.
    "q120_knn_classify" ->
      """WITH pts AS (
        |  SELECT vec_id AS id, label,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |topk AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT a.id AS query_id, b.id AS cand_id,
        |      row_number() OVER (PARTITION BY a.id ORDER BY
        |        list_sum(list_transform(list_zip(a.qv, b.qv),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), b.id) AS rank
        |    FROM pts a CROSS JOIN pts b
        |    WHERE a.id % 50 = 0 AND a.id < 10000000 AND b.id != a.id)
        |  WHERE rank <= 5),
        |votes AS (
        |  SELECT t.query_id, p.label AS n_label, count(*) AS votes
        |  FROM topk t JOIN pts p ON t.cand_id = p.id
        |  GROUP BY t.query_id, p.label),
        |pred AS (
        |  SELECT query_id, n_label FROM (
        |    SELECT query_id, n_label,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY votes DESC, n_label) AS r
        |    FROM votes)
        |  WHERE r = 1)
        |SELECT d.query_id, d.n_label AS pred_label, p.label AS true_label,
        |  d.n_label = p.label AS correct
        |FROM pred d JOIN pts p ON d.query_id = p.id""".stripMargin,

    // Verified approximate aggregates: exact references via SQL, the
    // error-bound assertions ride as ok=TRUE.
    "q84_approx_checks" ->
      """SELECT 'hll_custkey' AS metric,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_reference, TRUE AS ok
        |FROM orders
        |UNION ALL SELECT 'hll_orderkey',
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT), TRUE FROM orders
        |UNION ALL SELECT 'median_rank', CAST(count(*) AS BIGINT), TRUE FROM orders""".stripMargin,

    // Same non-overlapping 3-word chunking as q69, aggregated per doc.
    "q85_repetition_ratio" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, array_to_string(ws[i*3+1 : i*3+3], ' ') AS chunk
        |  FROM w CROSS JOIN unnest(generate_series(0, CAST(floor(len(ws)/3) AS INT) - 1)) AS t(i)),
        |m AS (
        |  SELECT doc_id, chunk, CAST(count(*) AS BIGINT) AS m FROM c GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(m) AS BIGINT) AS n_chunks,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(max(m) AS BIGINT) AS max_mult,
        |  1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(m) AS DOUBLE) AS dup_fraction
        |FROM m GROUP BY doc_id""".stripMargin,

    // Fixed-point integer PageRank: the exact near-dup edge list (q21's
    // pair SQL), then three unrolled damped iterations entirely in BIGINT
    // (// is floor division; all values positive) — bit-identical to the
    // Spark side's `div` arithmetic by construction.
    "q86_pagerank" ->
      """WITH wrds AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |  FROM wrds, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 200),
        |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE CAST(i AS DOUBLE) / CAST(ca.m + cb.m - i AS DOUBLE) >= 0.5),
        |e AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg),
        |i1 AS (
        |  SELECT e.dst AS node,
        |    CAST(150000 + (sum(r.rank // d.deg) * 85) // 100 AS BIGINT) AS rank
        |  FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst),
        |i2 AS (
        |  SELECT e.dst AS node,
        |    CAST(150000 + (sum(r.rank // d.deg) * 85) // 100 AS BIGINT) AS rank
        |  FROM e JOIN i1 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst),
        |i3 AS (
        |  SELECT e.dst AS node,
        |    CAST(150000 + (sum(r.rank // d.deg) * 85) // 100 AS BIGINT) AS rank
        |  FROM e JOIN i2 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst)
        |SELECT node AS doc_id, rank AS pagerank FROM i3""".stripMargin,

    // The partitioned write round-trips losslessly, so the oracle
    // recomputes from raw orders; the dim's n_days=366 filter selects 1996
    // (the range's only leap year).
    "q87_dpp_prune" ->
      """WITH silver AS (
        |  SELECT
        |    CASE WHEN o_orderstatus = 'O' THEN 'Open'
        |         WHEN o_orderstatus = 'F' THEN 'Finished'
        |         WHEN o_orderstatus = 'P' THEN 'Pending'
        |         ELSE 'Unknown' END AS status_desc,
        |    o_totalprice,
        |    CAST(year(CASE WHEN CAST(o_orderdate AS DATE) IS NULL
        |                     OR CAST(o_orderdate AS DATE) > DATE '1998-08-01'
        |                   THEN DATE '1998-08-01'
        |                   ELSE CAST(o_orderdate AS DATE) END) AS INT) AS order_year
        |  FROM orders)
        |SELECT order_year, status_desc,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS revenue
        |FROM silver WHERE order_year = 1996
        |GROUP BY order_year, status_desc""".stripMargin,

    // Exact semi-join count; the bloom's no-false-negative /
    // bounded-false-positive contract rides as ok=TRUE.
    "q88_bloom_prefilter" ->
      """SELECT 'bloom_semi' AS metric,
        |  (SELECT count(*) FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |   WHERE c.c_mktsegment = 'BUILDING') AS n_reference,
        |  TRUE AS ok""".stripMargin,

    // The incremental merge must equal the full recompute exactly; avg is
    // exact-decimal sum over count, divided in DOUBLE on both engines.
    "q89_incremental_agg" ->
      """SELECT o_orderpriority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS total_price,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS avg_price,
        |  min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    // VARIANT-typed extraction lands on the same values as string-path
    // JSON extraction.
    "q90_variant_extract" ->
      """SELECT event_type,
        |  CAST(count(k) AS BIGINT) AS n_with_k,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(sum(k) AS DOUBLE) / CAST(count(k) AS DOUBLE) AS avg_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS INT) AS k
        |      FROM events)
        |GROUP BY event_type""".stripMargin,

    // The layout contract (disjoint sorted ranges) is asserted Spark-side;
    // the oracle checks the row count and expects the contract to hold.
    "q91_range_clustered" ->
      """SELECT 'range_clustered' AS metric,
        |  (SELECT count(*) FROM lineitem) AS n_rows,
        |  TRUE AS ok""".stripMargin,

    // Same grid + forward fill; IGNORE NULLS last_value is the fill.
    "q92_gap_fill" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour_ts,
        |    sum(CAST(value AS DECIMAL(20,6))) AS v
        |  FROM events WHERE value > 90 GROUP BY 1, 2),
        |hours AS (
        |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
        |    TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hour_ts),
        |types AS (SELECT DISTINCT event_type FROM events)
        |SELECT t.event_type, h.hour_ts,
        |  CAST(last_value(a.v IGNORE NULLS) OVER (
        |    PARTITION BY t.event_type ORDER BY h.hour_ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS value_filled,
        |  a.v IS NULL AS was_missing
        |FROM types t CROSS JOIN hours h
        |LEFT JOIN hourly a ON t.event_type = a.event_type AND h.hour_ts = a.hour_ts""".stripMargin,

    // mergeSchema union semantics recomputed from the raw table: old
    // generation has no s_tier -> NULL.
    "q93_schema_evolution" ->
      """SELECT s_suppkey, s_name, s_acctbal,
        |  CAST(NULL AS VARCHAR) AS s_tier, 1 AS gen
        |FROM supplier WHERE s_suppkey % 2 = 0
        |UNION ALL
        |SELECT s_suppkey, s_name, s_acctbal,
        |  CASE WHEN s_acctbal >= 5000 THEN 'gold' ELSE 'standard' END, 2
        |FROM supplier WHERE s_suppkey % 2 = 1""".stripMargin,

    // IS NOT DISTINCT FROM = Spark's <=>.
    "q94_null_safe_join" ->
      """WITH cust AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_mktsegment END AS seg
        |  FROM customer),
        |segs AS (
        |  SELECT seg, COALESCE(seg, 'UNKNOWN') AS seg_label FROM (
        |    SELECT DISTINCT c_mktsegment AS seg FROM customer
        |    UNION ALL SELECT NULL))
        |SELECT s.seg_label, count(*) AS n_customers
        |FROM cust c JOIN segs s ON c.seg IS NOT DISTINCT FROM s.seg
        |GROUP BY s.seg_label""".stripMargin,

    // Ordered reassembly via string_agg(... ORDER BY i) — same result as
    // Spark's sort_array-over-structs trick.
    "q95_boilerplate_scrub" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, i, array_to_string(ws[i*3+1 : i*3+3], ' ') AS chunk
        |  FROM w CROSS JOIN unnest(generate_series(0, CAST(floor(len(ws)/3) AS INT) - 1)) AS t(i)),
        |drops AS (
        |  SELECT chunk FROM c GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tot FROM c GROUP BY doc_id),
        |kept AS (SELECT * FROM c WHERE chunk NOT IN (SELECT chunk FROM drops))
        |SELECT k.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(any_value(t.n_tot) - count(*) AS BIGINT) AS n_dropped,
        |  string_agg(k.chunk, ' ' ORDER BY k.i) AS scrubbed_text
        |FROM kept k JOIN tot t ON k.doc_id = t.doc_id
        |GROUP BY k.doc_id""".stripMargin,

    // TRY_CAST null semantics match Spark's try_cast; try_divide(x, 0) is
    // NULL on the Spark side and mirrored with NULLIF here.
    "q96_try_parse" ->
      """SELECT count(*) AS n_rows,
        |  count(amount) AS n_amount_ok,
        |  CAST(sum(amount) AS DOUBLE) AS total_parsed,
        |  count(d) AS n_date_ok,
        |  min(d) AS min_date,
        |  max(d) AS max_date,
        |  count(inv) AS n_div_ok
        |FROM (
        |  SELECT
        |    TRY_CAST(CASE WHEN o_orderkey % 7 = 0 THEN 'N/A'
        |      WHEN o_orderkey % 7 = 1 THEN ''
        |      WHEN o_orderkey % 7 = 2 THEN '$' || CAST((o_orderkey % 1000) * 13 AS VARCHAR) || '.75'
        |      ELSE CAST((o_orderkey % 1000) * 13 AS VARCHAR) || '.75'
        |      END AS DECIMAL(20,2)) AS amount,
        |    TRY_CAST(CASE WHEN o_orderkey % 5 = 0 THEN 'not-a-date'
        |      ELSE strftime(o_orderdate, '%Y-%m-%d') END AS DATE) AS d,
        |    1.0 / NULLIF(CAST(o_orderkey % 3 AS DOUBLE), 0) AS inv
        |  FROM orders)""".stripMargin,

    // Real-decode gates: Spark ENCODES an actual BMP/WAV file then PARSES
    // it back byte-by-byte; the oracle never sees the bytes — it recomputes
    // the generator's pixel/sample formula in closed form. Agreement proves
    // the decoder read the same values the encoder wrote through the real
    // file format (header fields, row padding, chunk layout, signedness).
    // All-integer outputs: no float drift across engines.
    "q97_bmp_decode" ->
      """WITH p AS (
        |  SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS w,
        |    CAST(4 + doc_id % 3 AS INT) AS h, doc_id AS seed
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h,
        |    (seed + 11*x + 13*y) % 256 AS r,
        |    (seed + 5*x + 7*y) % 256 AS g,
        |    (seed + 2*x + 3*y) % 256 AS b
        |  FROM p,
        |    LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x),
        |    LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y))
        |SELECT doc_id, w AS width, h AS height,
        |  CAST(sum(r) AS BIGINT) AS sum_r,
        |  CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id, w, h""".stripMargin,

    "q98_wav_decode" ->
      """WITH p AS (
        |  SELECT doc_id, CAST(64 + doc_id % 100 AS INT) AS n,
        |    CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sr, doc_id AS seed
        |  FROM documents),
        |smp AS (
        |  SELECT doc_id, n, sr, abs(((seed + 17*i) % 65536) - 32768) AS a
        |  FROM p, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i))
        |SELECT doc_id, sr AS sample_rate, CAST(n AS BIGINT) AS n_samples,
        |  CAST(sum(a) AS BIGINT) AS sum_abs, CAST(max(a) AS INT) AS peak
        |FROM smp GROUP BY doc_id, sr, n""".stripMargin,

    // Resize/decimation gates: the Spark side runs encode → REAL
    // transform → decode through actual file bytes; the oracle recomputes
    // which source pixels/samples survive (integer floor division — `//`)
    // and their formula values. A wrong sampling index or a corrupted
    // re-encoded header breaks the hash.
    "q99_bmp_resize" ->
      """WITH p AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS sw, 4 + doc_id % 3 AS sh,
        |    CAST(2 + doc_id % 3 AS INT) AS dw, CAST(2 + doc_id % 2 AS INT) AS dh,
        |    doc_id AS seed
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, dw, dh,
        |    (seed + 11*((x*sw)//dw) + 13*((y*sh)//dh)) % 256 AS r,
        |    (seed + 5*((x*sw)//dw) + 7*((y*sh)//dh)) % 256 AS g,
        |    (seed + 2*((x*sw)//dw) + 3*((y*sh)//dh)) % 256 AS b
        |  FROM p,
        |    LATERAL (SELECT unnest(generate_series(0, dw - 1)) AS x),
        |    LATERAL (SELECT unnest(generate_series(0, dh - 1)) AS y))
        |SELECT doc_id, dw AS width, dh AS height,
        |  CAST(sum(r) AS BIGINT) AS sum_r,
        |  CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id, dw, dh""".stripMargin,

    "q100_wav_downsample" ->
      """WITH p AS (
        |  SELECT doc_id, 64 + doc_id % 100 AS n,
        |    8000 + (doc_id % 4) * 4000 AS sr,
        |    2 + doc_id % 3 AS f, doc_id AS seed
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, CAST(sr // f AS INT) AS sample_rate,
        |    (n + f - 1) // f AS outn, f, seed
        |  FROM p),
        |smp AS (
        |  SELECT doc_id, sample_rate, outn,
        |    abs(((seed + 17*(i*f)) % 65536) - 32768) AS a
        |  FROM d, LATERAL (SELECT unnest(generate_series(0, outn - 1)) AS i))
        |SELECT doc_id, sample_rate, CAST(outn AS BIGINT) AS n_samples,
        |  CAST(sum(a) AS BIGINT) AS sum_abs, CAST(max(a) AS INT) AS peak
        |FROM smp GROUP BY doc_id, sample_rate, outn""".stripMargin,

    // Unrolled 2-iteration fixed-point Lloyd recurrence: quantize to 1e-6
    // BIGINTs (floor — the one negative-safe rounding both engines share),
    // exact integer squared distances, floor(sum/count) centroid means in
    // DOUBLE (operands ≪ 2^53 → identical IEEE quotient). Bit-identical to
    // Cluster.kMeans per-vector labels AND distances.
    "q101_kmeans_cluster" ->
      """WITH pts AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |c0 AS (SELECT id AS cluster_id, qv AS cv FROM pts ORDER BY id LIMIT 8),
        |a1 AS (
        |  SELECT id, qv, cluster_id FROM (
        |    SELECT p.id, p.qv, c.cluster_id,
        |      row_number() OVER (PARTITION BY p.id ORDER BY
        |        list_sum(list_transform(list_zip(p.qv, c.cv),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
        |    FROM pts p CROSS JOIN c0 c)
        |  WHERE rn = 1),
        |u1 AS (
        |  SELECT cluster_id, pos,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
        |  FROM (SELECT cluster_id, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM a1)
        |  GROUP BY cluster_id, pos),
        |c1 AS (SELECT cluster_id, list(cv1 ORDER BY pos) AS cv FROM u1 GROUP BY cluster_id),
        |a2 AS (
        |  SELECT id, qv, cluster_id FROM (
        |    SELECT p.id, p.qv, c.cluster_id,
        |      row_number() OVER (PARTITION BY p.id ORDER BY
        |        list_sum(list_transform(list_zip(p.qv, c.cv),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
        |    FROM pts p CROSS JOIN c1 c)
        |  WHERE rn = 1),
        |u2 AS (
        |  SELECT cluster_id, pos,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
        |  FROM (SELECT cluster_id, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM a2)
        |  GROUP BY cluster_id, pos),
        |c2 AS (SELECT cluster_id, list(cv1 ORDER BY pos) AS cv FROM u2 GROUP BY cluster_id),
        |fin AS (
        |  SELECT id, cluster_id, d FROM (
        |    SELECT p.id, c.cluster_id,
        |      list_sum(list_transform(list_zip(p.qv, c.cv),
        |        z -> (z[1]-z[2])*(z[1]-z[2]))) AS d,
        |      row_number() OVER (PARTITION BY p.id ORDER BY
        |        list_sum(list_transform(list_zip(p.qv, c.cv),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
        |    FROM pts p CROSS JOIN c2 c)
        |  WHERE rn = 1)
        |SELECT id AS vec_id, cluster_id, CAST(d AS BIGINT) AS dist FROM fin""".stripMargin,

    // q101's unrolled k-means assignment, then SemDeDup dominance: kept =
    // no smaller-id same-cluster member at cosine >= 0.45 (exact DOUBLE
    // dot products — the q59 precedent shows list_dot_product reproduces
    // the Spark fold bit-for-bit).
    "q102_semantic_dedup" ->
      """WITH pts AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |c0 AS (SELECT id AS cluster_id, qv AS cv FROM pts ORDER BY id LIMIT 8),
        |a1 AS (
        |  SELECT id, qv, cluster_id FROM (
        |    SELECT p.id, p.qv, c.cluster_id,
        |      row_number() OVER (PARTITION BY p.id ORDER BY
        |        list_sum(list_transform(list_zip(p.qv, c.cv),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
        |    FROM pts p CROSS JOIN c0 c)
        |  WHERE rn = 1),
        |u1 AS (
        |  SELECT cluster_id, pos,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
        |  FROM (SELECT cluster_id, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM a1)
        |  GROUP BY cluster_id, pos),
        |c1 AS (SELECT cluster_id, list(cv1 ORDER BY pos) AS cv FROM u1 GROUP BY cluster_id),
        |a2 AS (
        |  SELECT id, qv, cluster_id FROM (
        |    SELECT p.id, p.qv, c.cluster_id,
        |      row_number() OVER (PARTITION BY p.id ORDER BY
        |        list_sum(list_transform(list_zip(p.qv, c.cv),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
        |    FROM pts p CROSS JOIN c1 c)
        |  WHERE rn = 1),
        |u2 AS (
        |  SELECT cluster_id, pos,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
        |  FROM (SELECT cluster_id, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM a2)
        |  GROUP BY cluster_id, pos),
        |c2 AS (SELECT cluster_id, list(cv1 ORDER BY pos) AS cv FROM u2 GROUP BY cluster_id),
        |fin AS (
        |  SELECT id, cluster_id FROM (
        |    SELECT p.id, c.cluster_id,
        |      row_number() OVER (PARTITION BY p.id ORDER BY
        |        list_sum(list_transform(list_zip(p.qv, c.cv),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
        |    FROM pts p CROSS JOIN c2 c)
        |  WHERE rn = 1),
        |e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |dom AS (
        |  SELECT DISTINCT b.id AS id
        |  FROM fin a JOIN fin b
        |    ON a.cluster_id = b.cluster_id AND a.id < b.id
        |  JOIN e x ON a.id = x.vec_id
        |  JOIN e y ON b.id = y.vec_id
        |  WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= 0.45)
        |SELECT fin.id AS vec_id, fin.cluster_id,
        |  (dom.id IS NULL) AS kept
        |FROM fin LEFT JOIN dom ON fin.id = dom.id""".stripMargin,

    // Incremental SemDeDup manifest (q174): the oracle replays the FULL
    // recompute — the occupancy-16 quantizer trained on the OLD
    // snapshot (k = (count+15)//16 via the same integer arithmetic, two
    // unrolled Lloyd iterations), the NEW snapshot's nearest-centroid
    // assignment, and the cluster-sharded exact-cosine dominance — so a
    // hash match is the batch≡incremental theorem for the maintained
    // survivor manifest. Each nearest-centroid argmin is a streaming
    // `min({'d': dist, 'c': cluster_id}).c` per point (distance, then
    // cluster id, as a sort would order them), so the 10× oracle never
    // sorts the point × centroid cross join.
    "q174_incremental_semdedup" ->
      """WITH pts AS MATERIALIZED (
        |  SELECT vec_id AS id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |pts_old AS MATERIALIZED (SELECT * FROM pts WHERE id % 97 <> 0),
        |pts_new AS (SELECT * FROM pts WHERE id % 101 <> 0),
        |kk AS (SELECT (count(*) + 15) // 16 AS k FROM pts_old),
        |c0 AS (
        |  SELECT id AS cluster_id, qv AS cv FROM (
        |    SELECT id, qv, row_number() OVER (ORDER BY id) AS rn
        |    FROM pts_old)
        |  WHERE rn <= (SELECT k FROM kk)),
        |a1 AS (
        |  SELECT p.id, any_value(p.qv) AS qv,
        |    min({'d': list_sum(list_transform(list_zip(p.qv, c.cv),
        |      z -> (z[1]-z[2])*(z[1]-z[2]))), 'c': c.cluster_id}).c AS cluster_id
        |  FROM pts_old p CROSS JOIN c0 c
        |  GROUP BY p.id),
        |u1 AS (
        |  SELECT cluster_id, pos,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
        |  FROM (SELECT cluster_id, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM a1)
        |  GROUP BY cluster_id, pos),
        |c1 AS (SELECT cluster_id, list(cv1 ORDER BY pos) AS cv FROM u1 GROUP BY cluster_id),
        |a2 AS (
        |  SELECT p.id, any_value(p.qv) AS qv,
        |    min({'d': list_sum(list_transform(list_zip(p.qv, c.cv),
        |      z -> (z[1]-z[2])*(z[1]-z[2]))), 'c': c.cluster_id}).c AS cluster_id
        |  FROM pts_old p CROSS JOIN c1 c
        |  GROUP BY p.id),
        |u2 AS (
        |  SELECT cluster_id, pos,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
        |  FROM (SELECT cluster_id, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM a2)
        |  GROUP BY cluster_id, pos),
        |c2 AS MATERIALIZED (
        |  SELECT cluster_id, list(cv1 ORDER BY pos) AS cv FROM u2 GROUP BY cluster_id),
        |fin AS MATERIALIZED (
        |  SELECT p.id,
        |    min({'d': list_sum(list_transform(list_zip(p.qv, c.cv),
        |      z -> (z[1]-z[2])*(z[1]-z[2]))), 'c': c.cluster_id}).c AS cluster_id
        |  FROM pts_new p CROSS JOIN c2 c
        |  GROUP BY p.id),
        |e AS MATERIALIZED (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings WHERE vec_id % 101 <> 0),
        |dom AS (
        |  SELECT DISTINCT b.id AS id
        |  FROM fin a JOIN fin b
        |    ON a.cluster_id = b.cluster_id AND a.id < b.id
        |  JOIN e x ON a.id = x.vec_id
        |  JOIN e y ON b.id = y.vec_id
        |  WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= 0.45)
        |SELECT fin.id AS vec_id, fin.cluster_id,
        |  (dom.id IS NULL) AS kept
        |FROM fin LEFT JOIN dom ON fin.id = dom.id""".stripMargin,

    // Streamed/chained LM maintenance (q175): the oracle replays the
    // FULL retrain over the FINAL snapshot of the three-step crawl
    // chain (closed-form universe + version-suffix text in doc_id), so
    // a hash match certifies the COMPOSITION of three maintenance folds
    // — and, by MaintainStreamSpec's batch-boundary theorem, the
    // Structured-Streaming micro-batched run of the same feed.
    "q175_stream_lm_chain" ->
      """WITH s3 AS (
        |  SELECT doc_id,
        |    text
        |      || CASE WHEN doc_id % 11 = 0 THEN ' v2' ELSE '' END
        |      || CASE WHEN doc_id % 7 = 0 THEN ' v3' ELSE '' END AS text
        |  FROM documents
        |  WHERE lang = 'en' AND (
        |    (((doc_id % 19 <> 0 OR doc_id % 20 = 0) AND doc_id % 23 <> 0)
        |       OR doc_id % 37 = 0)
        |    AND doc_id % 29 <> 0 OR doc_id % 41 = 0)),
        |ws AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |  FROM s3),
        |bg AS (
        |  SELECT w[i] || ' ' || w[i+1] AS bigram
        |  FROM ws, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i))
        |SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
        |FROM bg GROUP BY bigram""".stripMargin,

    // Incremental all-lengths span dedup (q176): the oracle replays the
    // FULL recompute over the NEW snapshot (q145's %19-removal
    // universe, eval %20=0 pinned) at the cell's L=8 production window
    // length, so a hash match is the batch≡incremental theorem for the
    // maintained manifest — including the affected-closure recomputes
    // (untouched docs whose windows flipped unique↔duplicated or whose
    // canonical moved).
    "q176_incremental_span_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents
        |  WHERE doc_id % 19 <> 0 OR doc_id % 20 = 0),
        |win AS (
        |  SELECT doc_id, i AS p, array_to_string(ws[i+1 : i+8], ' ') AS key
        |  FROM tok CROSS JOIN unnest(generate_series(0, len(ws) - 8)) AS g(i)
        |  WHERE len(ws) >= 8 AND len(ws) <= 1000000),
        |occ AS (
        |  SELECT key, count(*) AS n, min(doc_id * 1000000 + p) AS canon
        |  FROM win GROUP BY key HAVING count(*) >= 2),
        |m AS (
        |  SELECT w.doc_id, w.p
        |  FROM win w JOIN occ o ON w.key = o.key
        |  WHERE w.doc_id * 1000000 + w.p <> o.canon),
        |c AS (
        |  SELECT w.doc_id, w.p
        |  FROM win w JOIN occ o ON w.key = o.key
        |  WHERE w.doc_id * 1000000 + w.p = o.canon),
        |kept AS (
        |  SELECT t.doc_id, i, t.ws[i] AS tokn
        |  FROM tok t CROSS JOIN unnest(generate_series(1, len(t.ws))) AS g(i)
        |  WHERE NOT EXISTS (SELECT 1 FROM m
        |      WHERE m.doc_id = t.doc_id AND i BETWEEN m.p + 1 AND m.p + 8)
        |    OR EXISTS (SELECT 1 FROM c
        |      WHERE c.doc_id = t.doc_id AND i BETWEEN c.p + 1 AND c.p + 8)),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tokn, ' ' ORDER BY i) AS txt
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
        |  CAST(len(t.ws) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(a.txt, '') AS deduped_text
        |FROM tok t LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // Incremental CMS (q180): the oracle replays the FULL sketch over
    // the new snapshot — seeded-md5 buckets, integer cells, the
    // min-over-rows estimates with the zero-miss left join, the
    // maintained total's N/200 flag — probed by the same standing
    // panel. A hash match is the batch≡incremental theorem for the
    // cells AND the total AND the serving path, collision false
    // positives included.
    "q180_incremental_cms" ->
      """WITH ww AS MATERIALIZED (
        |  SELECT doc_id, t AS word FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |    FROM documents WHERE doc_id % 19 <> 0 OR doc_id % 20 = 0)
        |  WHERE length(trim(t)) > 0),
        |total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ww),
        |cells AS MATERIALIZED (
        |  SELECT i, substr(md5(CAST(i AS VARCHAR) || ':' || word), 1, 3) AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM ww, LATERAL (SELECT unnest(generate_series(0, 3)) AS i)
        |  GROUP BY 1, 2),
        |panel AS (
        |  SELECT DISTINCT word FROM ww
        |  WHERE doc_id % 101 = 0 AND doc_id < 10000000),
        |cand AS (
        |  SELECT word, i,
        |    substr(md5(CAST(i AS VARCHAR) || ':' || word), 1, 3) AS bucket
        |  FROM panel, LATERAL (SELECT unnest(generate_series(0, 3)) AS i)),
        |est AS (
        |  SELECT c.word, CAST(min(COALESCE(cl.cnt, 0)) AS BIGINT) AS est
        |  FROM cand c LEFT JOIN cells cl ON cl.i = c.i AND cl.bucket = c.bucket
        |  GROUP BY c.word)
        |SELECT e.word, e.est, e.est * 200 >= t.n AS is_heavy
        |FROM est e, total t""".stripMargin,

    // Streamed CMS chain, batch twin (q181): the oracle replays the
    // FULL sketch + standing-panel probe over the chain's FINAL
    // snapshot (q175's s3 universe without its lang filter) — a hash
    // match certifies the composition theorem at the sketch layer:
    // three chained maintenance folds ≡ one fresh build.
    "q181_stream_cms_chain" ->
      """WITH s3 AS MATERIALIZED (
        |  SELECT doc_id,
        |    text
        |      || CASE WHEN doc_id % 11 = 0 THEN ' v2' ELSE '' END
        |      || CASE WHEN doc_id % 7 = 0 THEN ' v3' ELSE '' END AS text
        |  FROM documents
        |  WHERE
        |    (((doc_id % 19 <> 0 OR doc_id % 20 = 0) AND doc_id % 23 <> 0)
        |       OR doc_id % 37 = 0)
        |    AND doc_id % 29 <> 0 OR doc_id % 41 = 0),
        |ww AS MATERIALIZED (
        |  SELECT doc_id, t AS word FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |    FROM s3)
        |  WHERE length(trim(t)) > 0),
        |total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ww),
        |cells AS MATERIALIZED (
        |  SELECT i, substr(md5(CAST(i AS VARCHAR) || ':' || word), 1, 3) AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM ww, LATERAL (SELECT unnest(generate_series(0, 3)) AS i)
        |  GROUP BY 1, 2),
        |panel AS (
        |  SELECT DISTINCT word FROM ww
        |  WHERE doc_id % 101 = 0 AND doc_id < 10000000),
        |cand AS (
        |  SELECT word, i,
        |    substr(md5(CAST(i AS VARCHAR) || ':' || word), 1, 3) AS bucket
        |  FROM panel, LATERAL (SELECT unnest(generate_series(0, 3)) AS i)),
        |est AS (
        |  SELECT c.word, CAST(min(COALESCE(cl.cnt, 0)) AS BIGINT) AS est
        |  FROM cand c LEFT JOIN cells cl ON cl.i = c.i AND cl.bucket = c.bucket
        |  GROUP BY c.word)
        |SELECT e.word, e.est, e.est * 200 >= t.n AS is_heavy
        |FROM est e, total t""".stripMargin,

    // Streamed DSIR chain, batch twin (q182): both split histograms
    // retrained from scratch over the chain's final snapshot — the
    // composition theorem at the selection-model layer (q160's feature
    // replay over q175's s3 universe, full corpus).
    "q182_stream_dsir_chain" ->
      """WITH s3 AS MATERIALIZED (
        |  SELECT doc_id,
        |    text
        |      || CASE WHEN doc_id % 11 = 0 THEN ' v2' ELSE '' END
        |      || CASE WHEN doc_id % 7 = 0 THEN ' v3' ELSE '' END AS text
        |  FROM documents
        |  WHERE
        |    (((doc_id % 19 <> 0 OR doc_id % 20 = 0) AND doc_id % 23 <> 0)
        |       OR doc_id % 37 = 0)
        |    AND doc_id % 29 <> 0 OR doc_id % 41 = 0),
        |feats AS MATERIALIZED (
        |  SELECT doc_id, substr(md5(f), 1, 3) AS bucket FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS f
        |    FROM s3
        |    UNION ALL
        |    SELECT doc_id, w[i] || ' ' || w[i+1] AS f
        |    FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |          FROM s3),
        |      LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i))
        |  WHERE length(trim(f)) > 0)
        |SELECT 'target' AS model, bucket, CAST(count(*) AS BIGINT) AS cnt
        |FROM feats WHERE doc_id % 20 = 0 GROUP BY bucket
        |UNION ALL
        |SELECT 'raw' AS model, bucket, CAST(count(*) AS BIGINT) AS cnt
        |FROM feats WHERE doc_id % 20 <> 0 GROUP BY bucket""".stripMargin,

    // Streamed BM25-df chain, batch twin (q183): the oracle replays the
    // FULL document-frequency derivation (q171's postings/df idiom —
    // per-doc distinct terms, one unit per (term, doc)) over the
    // chain's FINAL snapshot (q181's s3 universe) — a hash match
    // certifies the composition theorem at the retrieval-index df
    // layer: three chained maintenance folds over the stored artifact
    // ≡ one fresh docFreq.
    "q183_stream_bm25df_chain" ->
      s"""WITH s3 AS MATERIALIZED ($chainFinalSnapSql),
         |tok AS MATERIALIZED (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
         |  FROM s3),
         |post AS (
         |  SELECT t AS term, doc_id
         |  FROM (SELECT doc_id, unnest(ws) AS t FROM tok WHERE len(ws) >= 1)
         |  GROUP BY 1, 2)
         |SELECT term, CAST(count(*) AS BIGINT) AS df
         |FROM post GROUP BY 1""".stripMargin,

    // Streamed tokenizer-unit chain, batch twin (q184): full 12-gram
    // window recount + top-2048 release cap over the chain's FINAL
    // snapshot (q173's units idiom over q175's s3 universe) — the
    // composition theorem at the unit-count layer, on every released
    // unit.
    "q184_stream_bpe_units_chain" -> {
      val parts = (0 until 12).map(j => s"ws[i+$j]").mkString(" || '_' || ")
      s"""WITH s3 AS MATERIALIZED ($chainFinalSnapSql)
         |SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT g AS word FROM (
         |    SELECT $parts AS g
         |    FROM (SELECT string_split_regex(trim(lower(text)), '\\s+') AS ws
         |          FROM s3)
         |    CROSS JOIN unnest(generate_series(1, len(ws) - 11)) AS t(i)
         |    WHERE len(ws) >= 12)
         |  WHERE regexp_matches(g, '^[a-z]+(_[a-z]+){11}$$'))
         |GROUP BY word ORDER BY n DESC, word LIMIT 2048""".stripMargin
    },

    // Interval-overlap join (q177): the oracle is the naive quadratic
    // range predicate — DuckDB's optimizer may IEJoin it, but the
    // semantics are the plain closed-interval overlap; the Spark side's
    // bucket-join + canonical-bucket dedup must reproduce the exact
    // pair set (a double-emit or a dropped boundary pair hash-fails).
    "q177_interval_overlap_join" ->
      """WITH a AS (
        |  SELECT event_id AS a_id, ts AS a_s, ts + INTERVAL 2 HOUR AS a_e
        |  FROM events WHERE event_type = 'purchase' AND event_id % 20 = 0),
        |b AS (
        |  SELECT event_id AS b_id, ts AS b_s, ts + INTERVAL 1 HOUR AS b_e
        |  FROM events WHERE event_type = 'error' AND event_id % 29 = 0)
        |SELECT a_id, a_s, a_e, b_id, b_s, b_e
        |FROM a, b
        |WHERE a_s <= b_e AND b_s <= a_e""".stripMargin,

    // Cross-format media dedup (q178): the oracle re-derives every
    // asset's pixel matrix from the shared closed-form formula (the
    // q97/q112/q123 contract), folds the SAME order-dependent
    // polynomial fingerprint over (y, x, channel) order, and replays
    // the grouping + min-encoded canonical — so a decoder that flips
    // row order, swaps the channel interleave, or drops padding
    // changes the fingerprint and hash-fails, and the cross-format +
    // cross-id (CRT-period) duplicate groups must match exactly.
    "q178_cross_format_media_dedup" ->
      """WITH a AS (
        |  SELECT doc_id AS asset_id, 'image' AS media_type, doc_id AS seed,
        |    CAST(4 + doc_id % 5 AS INT) AS w, CAST(4 + doc_id % 3 AS INT) AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'image/png', doc_id,
        |    CAST(4 + doc_id % 5 AS INT), CAST(4 + doc_id % 3 AS INT)
        |  FROM documents WHERE doc_id % 3 = 0),
        |v AS (
        |  SELECT asset_id, media_type, w, h,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT), vals),
        |      (acc, x) -> (acc * 1000003 + x) % 2147483647) AS pix_hash
        |  FROM (
        |    SELECT asset_id, media_type, w, h,
        |      list(CAST(CASE c WHEN 0 THEN (seed + 11*x + 13*y) % 256
        |                       WHEN 1 THEN (seed + 5*x + 7*y) % 256
        |                       ELSE (seed + 2*x + 3*y) % 256 END AS BIGINT)
        |        ORDER BY y, x, c) AS vals
        |    FROM a,
        |      LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y),
        |      LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x),
        |      LATERAL (SELECT unnest([0, 1, 2]) AS c)
        |    GROUP BY 1, 2, 3, 4)),
        |g AS (
        |  SELECT w, h, pix_hash, CAST(count(*) AS BIGINT) AS n_copies,
        |    min(asset_id * 2 +
        |      CASE WHEN media_type = 'image/png' THEN 1 ELSE 0 END) AS canon
        |  FROM v GROUP BY 1, 2, 3)
        |SELECT v.asset_id, v.media_type, v.w AS width, v.h AS height,
        |  v.pix_hash, g.n_copies,
        |  (v.asset_id * 2 +
        |    CASE WHEN v.media_type = 'image/png' THEN 1 ELSE 0 END) = g.canon
        |    AS is_canonical
        |FROM v
        |JOIN g ON v.w = g.w AND v.h = g.h AND v.pix_hash = g.pix_hash""".stripMargin,

    // q101's trained centroids (2 unrolled Lloyd iterations), then IVF:
    // nearest-list assignment (rn=1) builds the inverted lists, every 50th
    // vector probes its 2 nearest lists, candidates rank by exact
    // quantized L2 — integer end to end.
    "q103_trained_ivf_topk" ->
      """WITH pts AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |c0 AS (SELECT id AS cluster_id, qv AS cv FROM pts ORDER BY id LIMIT 8),
        |a1 AS (
        |  SELECT id, qv, cluster_id FROM (
        |    SELECT p.id, p.qv, c.cluster_id,
        |      row_number() OVER (PARTITION BY p.id ORDER BY
        |        list_sum(list_transform(list_zip(p.qv, c.cv),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
        |    FROM pts p CROSS JOIN c0 c)
        |  WHERE rn = 1),
        |u1 AS (
        |  SELECT cluster_id, pos,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
        |  FROM (SELECT cluster_id, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM a1)
        |  GROUP BY cluster_id, pos),
        |c1 AS (SELECT cluster_id, list(cv1 ORDER BY pos) AS cv FROM u1 GROUP BY cluster_id),
        |a2 AS (
        |  SELECT id, qv, cluster_id FROM (
        |    SELECT p.id, p.qv, c.cluster_id,
        |      row_number() OVER (PARTITION BY p.id ORDER BY
        |        list_sum(list_transform(list_zip(p.qv, c.cv),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
        |    FROM pts p CROSS JOIN c1 c)
        |  WHERE rn = 1),
        |u2 AS (
        |  SELECT cluster_id, pos,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
        |  FROM (SELECT cluster_id, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM a2)
        |  GROUP BY cluster_id, pos),
        |c2 AS (SELECT cluster_id, list(cv1 ORDER BY pos) AS cv FROM u2 GROUP BY cluster_id),
        |ranked AS (
        |  SELECT p.id, c.cluster_id,
        |    row_number() OVER (PARTITION BY p.id ORDER BY
        |      list_sum(list_transform(list_zip(p.qv, c.cv),
        |        z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
        |  FROM pts p CROSS JOIN c2 c),
        |lists AS (SELECT id AS cand_id, cluster_id FROM ranked WHERE rn = 1),
        |probes AS (
        |  SELECT id AS query_id, cluster_id FROM ranked
        |  WHERE rn <= 2 AND id % 50 = 0),
        |cand AS (
        |  SELECT DISTINCT query_id, cand_id
        |  FROM probes JOIN lists USING (cluster_id)
        |  WHERE query_id != cand_id),
        |scored AS (
        |  SELECT query_id, cand_id,
        |    list_sum(list_transform(list_zip(a.qv, b.qv),
        |      z -> (z[1]-z[2])*(z[1]-z[2]))) AS dist
        |  FROM cand
        |  JOIN pts a ON query_id = a.id
        |  JOIN pts b ON cand_id = b.id)
        |SELECT query_id, cand_id, CAST(dist AS BIGINT) AS dist, rank FROM (
        |  SELECT query_id, cand_id, dist,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY dist, cand_id) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin,

    // Sliding windows W=30 stride 20, ragged tail, short docs = 1 chunk;
    // chunk count floor((max(n-30,0)+19)/20)+1 mirrored exactly.
    "q104_chunk_windows" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents)
        |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  CAST(len(ws[i*20+1 : i*20+30]) AS INT) AS n_words,
        |  array_to_string(ws[i*20+1 : i*20+30], ' ') AS chunk_text
        |FROM w CROSS JOIN unnest(generate_series(0,
        |  CAST(floor((greatest(len(ws) - 30, 0) + 19) / 20) AS INT))) AS t(i)""".stripMargin,

    // Corpus (doc_id % 10 != 0) shingle index with corpus-wide DF cap;
    // batch (doc_id % 10 = 0) probes it uncapped — exact-Jaccard matches
    // of each new document against the standing corpus.
    "q105_incremental_dedup" ->
      """WITH corpw AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents WHERE doc_id % 10 != 0),
        |csh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |  FROM corpw, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)),
        |csh AS (
        |  SELECT doc_id, shingle FROM csh0
        |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 200),
        |cm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m FROM csh GROUP BY doc_id),
        |bw AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents WHERE doc_id % 10 = 0),
        |bsh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |  FROM bw, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)),
        |bm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m_new FROM bsh GROUP BY doc_id),
        |inter AS (
        |  SELECT b.doc_id AS new_doc, c.doc_id AS corpus_doc,
        |    CAST(count(*) AS BIGINT) AS intersection
        |  FROM bsh b JOIN csh c ON b.shingle = c.shingle
        |  GROUP BY 1, 2)
        |SELECT new_doc, corpus_doc, bm.m_new, cm.m AS m_corpus, intersection,
        |  CAST(intersection AS DOUBLE) / CAST(bm.m_new + cm.m - intersection AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN bm ON new_doc = bm.doc_id
        |JOIN cm ON corpus_doc = cm.doc_id
        |WHERE CAST(intersection AS DOUBLE) / CAST(bm.m_new + cm.m - intersection AS DOUBLE) >= 0.5""".stripMargin,

    // Same domain-proportional 16x16 bucketing + Morton interleave; the
    // z-range bounding boxes and the quadrant bound are analytic, the
    // physical-layout flag is the contract (TRUE, like q91).
    "q106_zorder_layout" ->
      """WITH bounds AS (
        |  SELECT min(o_custkey) AS minc, max(o_custkey) AS maxc,
        |    min(o_orderdate) AS mind, max(o_orderdate) AS maxd
        |  FROM orders),
        |b AS (
        |  SELECT o_orderkey,
        |    CAST(least(floor(CAST(o_custkey - minc AS DOUBLE) * 16.0 /
        |      CAST(maxc - minc + 1 AS DOUBLE)), 15) AS INT) AS xb,
        |    CAST(least(floor(CAST(date_diff('day', mind, o_orderdate) AS DOUBLE) * 16.0 /
        |      CAST(date_diff('day', mind, maxd) + 1 AS DOUBLE)), 15) AS INT) AS yb
        |  FROM orders, bounds),
        |z AS (
        |  SELECT xb, yb,
        |    ((xb & 1) << 0) | (((xb >> 1) & 1) << 2) |
        |    (((xb >> 2) & 1) << 4) | (((xb >> 3) & 1) << 6) |
        |    ((yb & 1) << 1) | (((yb >> 1) & 1) << 3) |
        |    (((yb >> 2) & 1) << 5) | (((yb >> 3) & 1) << 7) AS zv
        |  FROM b)
        |SELECT CAST(zv >> 5 AS INT) AS z_range, CAST(count(*) AS BIGINT) AS n_rows,
        |  min(xb) AS x_lo, max(xb) AS x_hi, min(yb) AS y_lo, max(yb) AS y_hi,
        |  (max(xb) - min(xb) < 8 AND max(yb) - min(yb) < 4) AS locality_ok,
        |  TRUE AS layout_ok
        |FROM z GROUP BY zv >> 5""".stripMargin,

    // q86's unrolled fixed-point iterations, then every edge-less document
    // attached at the exact 0.15 fixed point (150000 scaled).
    "q107_pagerank_full" ->
      """WITH wrds AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |  FROM wrds, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 200),
        |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE CAST(i AS DOUBLE) / CAST(ca.m + cb.m - i AS DOUBLE) >= 0.5),
        |e AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg),
        |i1 AS (
        |  SELECT e.dst AS node,
        |    CAST(150000 + (sum(r.rank // d.deg) * 85) // 100 AS BIGINT) AS rank
        |  FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst),
        |i2 AS (
        |  SELECT e.dst AS node,
        |    CAST(150000 + (sum(r.rank // d.deg) * 85) // 100 AS BIGINT) AS rank
        |  FROM e JOIN i1 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst),
        |i3 AS (
        |  SELECT e.dst AS node,
        |    CAST(150000 + (sum(r.rank // d.deg) * 85) // 100 AS BIGINT) AS rank
        |  FROM e JOIN i2 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst)
        |SELECT d.doc_id, COALESCE(i3.rank, CAST(150000 AS BIGINT)) AS pagerank
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN i3 ON d.doc_id = i3.node""".stripMargin,

    // q21's shingle join scored by containment |A∩B|/min(|A|,|B|).
    "q108_containment_dedup" ->
      """WITH wrds AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |  FROM wrds, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 200),
        |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS intersection
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, ca.m AS size_a, cb.m AS size_b, intersection,
        |  CAST(intersection AS DOUBLE) / CAST(least(ca.m, cb.m) AS DOUBLE) AS containment,
        |  CASE WHEN ca.m <= cb.m THEN doc_a ELSE doc_b END AS contained_doc
        |FROM inter
        |JOIN cnt ca ON doc_a = ca.doc_id
        |JOIN cnt cb ON doc_b = cb.doc_id
        |WHERE CAST(intersection AS DOUBLE) / CAST(least(ca.m, cb.m) AS DOUBLE) >= 0.8""".stripMargin,

    // The composed pipeline: quality gate -> exact dedup among passers ->
    // near-dup closure (recursive CTE) + keep-longest among canonicals.
    // Each stage's SQL is the standalone oracle's, chained over survivors.
    "q109_curation_pipeline" ->
      """WITH RECURSIVE
        |base AS (
        |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS wds
        |  FROM documents),
        |staged AS (
        |  SELECT doc_id, text, CAST(len(wds) AS INT) AS wc,
        |    (len(wds) BETWEEN 10 AND 1000 AND
        |     CAST(len(list_filter(wds, t -> t IN ('the','a','of','and','to','is','in'))) AS DOUBLE)
        |       / CAST(len(wds) AS DOUBLE) > 0.0) AS passed_quality
        |  FROM base),
        |ex AS (
        |  SELECT doc_id, text, wc,
        |    doc_id = min(doc_id) OVER (PARTITION BY
        |      md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS exact_canonical
        |  FROM staged WHERE passed_quality),
        |canon AS (SELECT doc_id, text, wc FROM ex WHERE exact_canonical),
        |wrds AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |  FROM wrds, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)),
        |shall AS (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 200),
        |sh AS (
        |  SELECT shall.doc_id, shall.shingle FROM shall
        |  JOIN canon ON shall.doc_id = canon.doc_id),
        |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN cnt ca ON doc_a = ca.doc_id
        |  JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE CAST(i AS DOUBLE) / CAST(ca.m + cb.m - i AS DOUBLE) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
        |labels AS (SELECT u, min(v) AS mv FROM reach GROUP BY u),
        |cl AS (
        |  SELECT c.doc_id, c.wc,
        |    CAST(LEAST(c.doc_id, COALESCE(l.mv, c.doc_id)) AS BIGINT) AS cluster_id
        |  FROM canon c LEFT JOIN labels l ON c.doc_id = l.u),
        |keepr AS (
        |  SELECT doc_id,
        |    row_number() OVER (PARTITION BY cluster_id ORDER BY wc DESC, doc_id) = 1
        |      AS neardup_kept
        |  FROM cl)
        |SELECT s.doc_id, s.passed_quality,
        |  COALESCE(ex.exact_canonical, FALSE) AS exact_canonical,
        |  COALESCE(k.neardup_kept, FALSE) AS neardup_kept,
        |  (s.passed_quality AND COALESCE(ex.exact_canonical, FALSE)
        |    AND COALESCE(k.neardup_kept, FALSE)) AS final_keep
        |FROM staged s
        |LEFT JOIN ex ON s.doc_id = ex.doc_id
        |LEFT JOIN keepr k ON s.doc_id = k.doc_id""".stripMargin,

    // q75's merged SCD2 dim, probed point-in-time by lineitem ship dates:
    // valid_from <= d < valid_to (NULL = open) — facts before a change
    // land on the CLOSED historical row.
    "q110_scd2_pointintime" ->
      """WITH band_cur AS (
        |  SELECT s_suppkey,
        |    CASE WHEN s_acctbal < 0 THEN 'negative'
        |         WHEN s_acctbal < 5000 THEN 'low' ELSE 'high' END AS bal_band,
        |    s_nationkey
        |  FROM supplier),
        |current AS (
        |  SELECT s_suppkey, bal_band, s_nationkey,
        |    DATE '1995-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
        |    true AS is_current
        |  FROM band_cur),
        |updates AS (
        |  SELECT s_suppkey,
        |    CASE WHEN s_acctbal + 6000.0 < 0 THEN 'negative'
        |         WHEN s_acctbal + 6000.0 < 5000 THEN 'low' ELSE 'high' END AS bal_band,
        |    s_nationkey
        |  FROM supplier WHERE s_suppkey % 5 = 0
        |  UNION ALL
        |  SELECT s_suppkey + 100000,
        |    CASE WHEN s_acctbal < 0 THEN 'negative'
        |         WHEN s_acctbal < 5000 THEN 'low' ELSE 'high' END AS bal_band,
        |    s_nationkey
        |  FROM supplier WHERE s_suppkey % 7 = 0),
        |j AS (
        |  SELECT c.s_suppkey AS ck, c.bal_band AS cb, c.s_nationkey AS cn,
        |    c.valid_from, c.valid_to, c.is_current,
        |    u.s_suppkey AS uk, u.bal_band AS ub, u.s_nationkey AS un
        |  FROM current c FULL OUTER JOIN updates u ON c.s_suppkey = u.s_suppkey),
        |chg AS (
        |  SELECT *, (cb IS DISTINCT FROM ub) OR (cn IS DISTINCT FROM un) AS changed
        |  FROM j),
        |dim AS (
        |  SELECT ck AS s_suppkey, cb AS bal_band, valid_from, valid_to
        |  FROM chg WHERE ck IS NOT NULL AND (uk IS NULL OR NOT changed)
        |  UNION ALL
        |  SELECT ck, cb, valid_from, DATE '2020-06-01'
        |  FROM chg WHERE ck IS NOT NULL AND uk IS NOT NULL AND changed
        |  UNION ALL
        |  SELECT uk, ub, DATE '2020-06-01', CAST(NULL AS DATE)
        |  FROM chg WHERE uk IS NOT NULL AND (ck IS NULL OR changed))
        |SELECT COALESCE(d.bal_band, 'pre_history') AS bal_band_asof,
        |  CAST(year(l_shipdate) AS INT) AS ship_year,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS total_qty
        |FROM lineitem l
        |LEFT JOIN dim d ON l.l_suppkey = d.s_suppkey
        |  AND d.valid_from <= l.l_shipdate
        |  AND (d.valid_to IS NULL OR l.l_shipdate < d.valid_to)
        |GROUP BY 1, 2""".stripMargin,

    // Word BIGRAMS attributed to the first of 10 domain-proportional
    // doc_id slices; new-per-slice + running vocabulary.
    "q111_vocab_growth" ->
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |w AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |tok AS (
        |  SELECT CAST(floor(CAST(doc_id AS DOUBLE) * 10.0 / CAST(m + 1 AS DOUBLE)) AS INT) AS slice,
        |    array_to_string(ws[i:i+1], ' ') AS token
        |  FROM w, mx, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i)),
        |fs AS (SELECT token, min(slice) AS first_slice FROM tok GROUP BY token)
        |SELECT first_slice, CAST(count(*) AS BIGINT) AS new_tokens,
        |  CAST(sum(count(*)) OVER (ORDER BY first_slice) AS BIGINT) AS cum_vocab
        |FROM fs GROUP BY first_slice""".stripMargin,

    // PNG decode gate: same closed-form pixel recomputation as q97 — the
    // Spark side additionally pays (and must survive) zlib inflate, CRC
    // verification, and all five scanline-filter reconstructions, none of
    // which change the decoded pixels when implemented correctly.
    "q112_png_decode" ->
      """WITH p AS (
        |  SELECT doc_id, CAST(4 + doc_id % 7 AS INT) AS w,
        |    CAST(4 + doc_id % 5 AS INT) AS h, doc_id AS seed
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h,
        |    (seed + 11*x + 13*y) % 256 AS r,
        |    (seed + 5*x + 7*y) % 256 AS g,
        |    (seed + 2*x + 3*y) % 256 AS b
        |  FROM p,
        |    LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x),
        |    LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y))
        |SELECT doc_id, w AS width, h AS height,
        |  CAST(sum(r) AS BIGINT) AS sum_r,
        |  CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id, w, h""".stripMargin,

    // PNG resize gate: q99's sampled-pixel differential applied to the
    // compressed format — the oracle recomputes which source pixels
    // survive the integer-floor downscale and their formula values; the
    // Spark side pays (and must survive) a full decode → sample →
    // re-encode → decode round trip through real PNG bytes.
    "q114_png_resize" ->
      """WITH p AS (
        |  SELECT doc_id, 4 + doc_id % 7 AS sw, 4 + doc_id % 5 AS sh,
        |    CAST(2 + doc_id % 3 AS INT) AS dw, CAST(2 + doc_id % 2 AS INT) AS dh,
        |    doc_id AS seed
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, dw, dh,
        |    (seed + 11*((x*sw)//dw) + 13*((y*sh)//dh)) % 256 AS r,
        |    (seed + 5*((x*sw)//dw) + 7*((y*sh)//dh)) % 256 AS g,
        |    (seed + 2*((x*sw)//dw) + 3*((y*sh)//dh)) % 256 AS b
        |  FROM p,
        |    LATERAL (SELECT unnest(generate_series(0, dw - 1)) AS x),
        |    LATERAL (SELECT unnest(generate_series(0, dh - 1)) AS y))
        |SELECT doc_id, dw AS width, dh AS height,
        |  CAST(sum(r) AS BIGINT) AS sum_r,
        |  CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id, dw, dh""".stripMargin,

    // PQ gate: the q103 unrolled-Lloyd oracle generalized per-subspace —
    // the same fixed-point recurrence replayed in SQL with a `g` column
    // carried through every CTE (2 training rounds × 4 subspaces), then
    // encoding, the ADC lookup-sum over the code table, the oversampled
    // shortlist cut and the exact integer re-rank. Distances and ranks
    // hash-match because every step is integer/floor arithmetic.
    "q116_pq_topk" ->
      """WITH pts AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |subs AS (
        |  SELECT id, g, qv[(g*s+1):(g*s+s)] AS sub
        |  FROM (SELECT id, qv, len(qv)//4 AS s FROM pts WHERE len(qv) % 4 = 0),
        |       (SELECT unnest(generate_series(0, 3)) AS g)),
        |seeds AS (SELECT id FROM pts ORDER BY id LIMIT 8),
        |b0 AS (
        |  SELECT g, s.id AS code_id, sub AS cw
        |  FROM subs s JOIN seeds USING (id)),
        |a1 AS (
        |  SELECT id, g, code_id FROM (
        |    SELECT s.id, s.g, b.code_id,
        |      row_number() OVER (PARTITION BY s.id, s.g ORDER BY
        |        list_sum(list_transform(list_zip(s.sub, b.cw),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), b.code_id) AS rn
        |    FROM subs s JOIN b0 b ON s.g = b.g)
        |  WHERE rn = 1),
        |u1 AS (
        |  SELECT g, code_id, pos,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
        |  FROM (
        |    SELECT a.g, a.code_id, generate_subscripts(s.sub, 1) AS pos, unnest(s.sub) AS v
        |    FROM a1 a JOIN subs s ON a.id = s.id AND a.g = s.g)
        |  GROUP BY g, code_id, pos),
        |b1 AS (SELECT g, code_id, list(cv1 ORDER BY pos) AS cw FROM u1 GROUP BY g, code_id),
        |a2 AS (
        |  SELECT id, g, code_id FROM (
        |    SELECT s.id, s.g, b.code_id,
        |      row_number() OVER (PARTITION BY s.id, s.g ORDER BY
        |        list_sum(list_transform(list_zip(s.sub, b.cw),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), b.code_id) AS rn
        |    FROM subs s JOIN b1 b ON s.g = b.g)
        |  WHERE rn = 1),
        |u2 AS (
        |  SELECT g, code_id, pos,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
        |  FROM (
        |    SELECT a.g, a.code_id, generate_subscripts(s.sub, 1) AS pos, unnest(s.sub) AS v
        |    FROM a2 a JOIN subs s ON a.id = s.id AND a.g = s.g)
        |  GROUP BY g, code_id, pos),
        |b2 AS (SELECT g, code_id, list(cv1 ORDER BY pos) AS cw FROM u2 GROUP BY g, code_id),
        |codes AS (
        |  SELECT id, g, code_id FROM (
        |    SELECT s.id, s.g, b.code_id,
        |      row_number() OVER (PARTITION BY s.id, s.g ORDER BY
        |        list_sum(list_transform(list_zip(s.sub, b.cw),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), b.code_id) AS rn
        |    FROM subs s JOIN b2 b ON s.g = b.g)
        |  WHERE rn = 1),
        |dtab AS (
        |  SELECT s.id AS query_id, s.g, b.code_id,
        |    list_sum(list_transform(list_zip(s.sub, b.cw),
        |      z -> (z[1]-z[2])*(z[1]-z[2]))) AS d
        |  FROM subs s JOIN b2 b ON s.g = b.g
        |  WHERE s.id % 50 = 0),
        |adc AS (
        |  SELECT t.query_id, c.id AS cand_id, CAST(sum(t.d) AS BIGINT) AS adc
        |  FROM codes c JOIN dtab t ON c.g = t.g AND c.code_id = t.code_id
        |  WHERE c.id != t.query_id
        |  GROUP BY t.query_id, c.id),
        |shortlist AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT query_id, cand_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id) AS rn
        |    FROM adc)
        |  WHERE rn <= 20),
        |scored AS (
        |  SELECT query_id, cand_id,
        |    list_sum(list_transform(list_zip(a.qv, b.qv),
        |      z -> (z[1]-z[2])*(z[1]-z[2]))) AS dist
        |  FROM shortlist
        |  JOIN pts a ON query_id = a.id
        |  JOIN pts b ON cand_id = b.id)
        |SELECT query_id, cand_id, CAST(dist AS BIGINT) AS dist, rank FROM (
        |  SELECT query_id, cand_id, dist,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY dist, cand_id) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin,

    // Full IVF-PQ: q103's coarse k-means replay (c0..c2, ranked, lists,
    // probes, cand) bounds the candidates; q116's fine PQ replay (b0..b2,
    // codes, dtab — its a/u CTEs renamed q*) ADC-scores only those
    // candidates; shortlist 20, exact re-rank 5. Every stage fixed-point.
    // Incremental IVF-PQ (q179): q117's FULL replay — both trainers
    // over the full corpus (the frozen models), assignment + encoding +
    // ADC + shortlist + exact re-rank — restricted to the NEW embedding
    // snapshot (%19 removals) on the lists, the probe panel and the
    // distance tables; a hash match is the batch≡incremental theorem
    // for the maintained lists AND the maintained code table AND the
    // stored-artifact serving path at once.
    "q179_incremental_ivfpq" ->
      """WITH pts AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |c0 AS (SELECT id AS cluster_id, qv AS cv FROM pts ORDER BY id LIMIT 8),
        |a1 AS (
        |  SELECT id, qv, cluster_id FROM (
        |    SELECT p.id, p.qv, c.cluster_id,
        |      row_number() OVER (PARTITION BY p.id ORDER BY
        |        list_sum(list_transform(list_zip(p.qv, c.cv),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
        |    FROM pts p CROSS JOIN c0 c)
        |  WHERE rn = 1),
        |u1 AS (
        |  SELECT cluster_id, pos,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
        |  FROM (SELECT cluster_id, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM a1)
        |  GROUP BY cluster_id, pos),
        |c1 AS (SELECT cluster_id, list(cv1 ORDER BY pos) AS cv FROM u1 GROUP BY cluster_id),
        |a2 AS (
        |  SELECT id, qv, cluster_id FROM (
        |    SELECT p.id, p.qv, c.cluster_id,
        |      row_number() OVER (PARTITION BY p.id ORDER BY
        |        list_sum(list_transform(list_zip(p.qv, c.cv),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
        |    FROM pts p CROSS JOIN c1 c)
        |  WHERE rn = 1),
        |u2 AS (
        |  SELECT cluster_id, pos,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
        |  FROM (SELECT cluster_id, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM a2)
        |  GROUP BY cluster_id, pos),
        |c2 AS (SELECT cluster_id, list(cv1 ORDER BY pos) AS cv FROM u2 GROUP BY cluster_id),
        |ranked AS (
        |  SELECT p.id, c.cluster_id,
        |    row_number() OVER (PARTITION BY p.id ORDER BY
        |      list_sum(list_transform(list_zip(p.qv, c.cv),
        |        z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
        |  FROM pts p CROSS JOIN c2 c),
        |lists AS (SELECT id AS cand_id, cluster_id FROM ranked
        |  WHERE rn = 1 AND id % 19 <> 0),
        |probes AS (
        |  SELECT id AS query_id, cluster_id FROM ranked
        |  WHERE rn <= 2 AND id % 50 = 0 AND id < 10000000 AND id % 19 <> 0),
        |cand AS (
        |  SELECT DISTINCT query_id, cand_id
        |  FROM probes JOIN lists USING (cluster_id)
        |  WHERE query_id != cand_id),
        |subs AS (
        |  SELECT id, g, qv[(g*s+1):(g*s+s)] AS sub
        |  FROM (SELECT id, qv, len(qv)//4 AS s FROM pts WHERE len(qv) % 4 = 0),
        |       (SELECT unnest(generate_series(0, 3)) AS g)),
        |seeds AS (SELECT id FROM pts ORDER BY id LIMIT 8),
        |b0 AS (
        |  SELECT g, s.id AS code_id, sub AS cw
        |  FROM subs s JOIN seeds USING (id)),
        |qa1 AS (
        |  SELECT id, g, code_id FROM (
        |    SELECT s.id, s.g, b.code_id,
        |      row_number() OVER (PARTITION BY s.id, s.g ORDER BY
        |        list_sum(list_transform(list_zip(s.sub, b.cw),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), b.code_id) AS rn
        |    FROM subs s JOIN b0 b ON s.g = b.g)
        |  WHERE rn = 1),
        |qu1 AS (
        |  SELECT g, code_id, pos,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
        |  FROM (
        |    SELECT a.g, a.code_id, generate_subscripts(s.sub, 1) AS pos, unnest(s.sub) AS v
        |    FROM qa1 a JOIN subs s ON a.id = s.id AND a.g = s.g)
        |  GROUP BY g, code_id, pos),
        |b1 AS (SELECT g, code_id, list(cv1 ORDER BY pos) AS cw FROM qu1 GROUP BY g, code_id),
        |qa2 AS (
        |  SELECT id, g, code_id FROM (
        |    SELECT s.id, s.g, b.code_id,
        |      row_number() OVER (PARTITION BY s.id, s.g ORDER BY
        |        list_sum(list_transform(list_zip(s.sub, b.cw),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), b.code_id) AS rn
        |    FROM subs s JOIN b1 b ON s.g = b.g)
        |  WHERE rn = 1),
        |qu2 AS (
        |  SELECT g, code_id, pos,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
        |  FROM (
        |    SELECT a.g, a.code_id, generate_subscripts(s.sub, 1) AS pos, unnest(s.sub) AS v
        |    FROM qa2 a JOIN subs s ON a.id = s.id AND a.g = s.g)
        |  GROUP BY g, code_id, pos),
        |b2 AS (SELECT g, code_id, list(cv1 ORDER BY pos) AS cw FROM qu2 GROUP BY g, code_id),
        |codes AS (
        |  SELECT id, g, code_id FROM (
        |    SELECT s.id, s.g, b.code_id,
        |      row_number() OVER (PARTITION BY s.id, s.g ORDER BY
        |        list_sum(list_transform(list_zip(s.sub, b.cw),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), b.code_id) AS rn
        |    FROM subs s JOIN b2 b ON s.g = b.g)
        |  WHERE rn = 1),
        |dtab AS (
        |  SELECT s.id AS query_id, s.g, b.code_id,
        |    list_sum(list_transform(list_zip(s.sub, b.cw),
        |      z -> (z[1]-z[2])*(z[1]-z[2]))) AS d
        |  FROM subs s JOIN b2 b ON s.g = b.g
        |  WHERE s.id % 50 = 0 AND s.id < 10000000 AND s.id % 19 <> 0),
        |adc AS (
        |  SELECT n.query_id, n.cand_id, CAST(sum(t.d) AS BIGINT) AS adc
        |  FROM cand n
        |  JOIN codes c ON c.id = n.cand_id
        |  JOIN dtab t ON t.query_id = n.query_id
        |    AND t.g = c.g AND t.code_id = c.code_id
        |  GROUP BY n.query_id, n.cand_id),
        |shortlist AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT query_id, cand_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id) AS rn
        |    FROM adc)
        |  WHERE rn <= 320),
        |scored AS (
        |  SELECT query_id, cand_id,
        |    list_sum(list_transform(list_zip(a.qv, b.qv),
        |      z -> (z[1]-z[2])*(z[1]-z[2]))) AS dist
        |  FROM shortlist
        |  JOIN pts a ON query_id = a.id
        |  JOIN pts b ON cand_id = b.id)
        |SELECT query_id, cand_id, CAST(dist AS BIGINT) AS dist, rank FROM (
        |  SELECT query_id, cand_id, dist,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY dist, cand_id) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin,

    "q117_ivfpq_topk" ->
      """WITH pts AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |c0 AS (SELECT id AS cluster_id, qv AS cv FROM pts ORDER BY id LIMIT 8),
        |a1 AS (
        |  SELECT id, qv, cluster_id FROM (
        |    SELECT p.id, p.qv, c.cluster_id,
        |      row_number() OVER (PARTITION BY p.id ORDER BY
        |        list_sum(list_transform(list_zip(p.qv, c.cv),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
        |    FROM pts p CROSS JOIN c0 c)
        |  WHERE rn = 1),
        |u1 AS (
        |  SELECT cluster_id, pos,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
        |  FROM (SELECT cluster_id, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM a1)
        |  GROUP BY cluster_id, pos),
        |c1 AS (SELECT cluster_id, list(cv1 ORDER BY pos) AS cv FROM u1 GROUP BY cluster_id),
        |a2 AS (
        |  SELECT id, qv, cluster_id FROM (
        |    SELECT p.id, p.qv, c.cluster_id,
        |      row_number() OVER (PARTITION BY p.id ORDER BY
        |        list_sum(list_transform(list_zip(p.qv, c.cv),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
        |    FROM pts p CROSS JOIN c1 c)
        |  WHERE rn = 1),
        |u2 AS (
        |  SELECT cluster_id, pos,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
        |  FROM (SELECT cluster_id, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM a2)
        |  GROUP BY cluster_id, pos),
        |c2 AS (SELECT cluster_id, list(cv1 ORDER BY pos) AS cv FROM u2 GROUP BY cluster_id),
        |ranked AS (
        |  SELECT p.id, c.cluster_id,
        |    row_number() OVER (PARTITION BY p.id ORDER BY
        |      list_sum(list_transform(list_zip(p.qv, c.cv),
        |        z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
        |  FROM pts p CROSS JOIN c2 c),
        |lists AS (SELECT id AS cand_id, cluster_id FROM ranked WHERE rn = 1),
        |probes AS (
        |  SELECT id AS query_id, cluster_id FROM ranked
        |  WHERE rn <= 2 AND id % 50 = 0 AND id < 10000000),
        |cand AS (
        |  SELECT DISTINCT query_id, cand_id
        |  FROM probes JOIN lists USING (cluster_id)
        |  WHERE query_id != cand_id),
        |subs AS (
        |  SELECT id, g, qv[(g*s+1):(g*s+s)] AS sub
        |  FROM (SELECT id, qv, len(qv)//4 AS s FROM pts WHERE len(qv) % 4 = 0),
        |       (SELECT unnest(generate_series(0, 3)) AS g)),
        |seeds AS (SELECT id FROM pts ORDER BY id LIMIT 8),
        |b0 AS (
        |  SELECT g, s.id AS code_id, sub AS cw
        |  FROM subs s JOIN seeds USING (id)),
        |qa1 AS (
        |  SELECT id, g, code_id FROM (
        |    SELECT s.id, s.g, b.code_id,
        |      row_number() OVER (PARTITION BY s.id, s.g ORDER BY
        |        list_sum(list_transform(list_zip(s.sub, b.cw),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), b.code_id) AS rn
        |    FROM subs s JOIN b0 b ON s.g = b.g)
        |  WHERE rn = 1),
        |qu1 AS (
        |  SELECT g, code_id, pos,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
        |  FROM (
        |    SELECT a.g, a.code_id, generate_subscripts(s.sub, 1) AS pos, unnest(s.sub) AS v
        |    FROM qa1 a JOIN subs s ON a.id = s.id AND a.g = s.g)
        |  GROUP BY g, code_id, pos),
        |b1 AS (SELECT g, code_id, list(cv1 ORDER BY pos) AS cw FROM qu1 GROUP BY g, code_id),
        |qa2 AS (
        |  SELECT id, g, code_id FROM (
        |    SELECT s.id, s.g, b.code_id,
        |      row_number() OVER (PARTITION BY s.id, s.g ORDER BY
        |        list_sum(list_transform(list_zip(s.sub, b.cw),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), b.code_id) AS rn
        |    FROM subs s JOIN b1 b ON s.g = b.g)
        |  WHERE rn = 1),
        |qu2 AS (
        |  SELECT g, code_id, pos,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
        |  FROM (
        |    SELECT a.g, a.code_id, generate_subscripts(s.sub, 1) AS pos, unnest(s.sub) AS v
        |    FROM qa2 a JOIN subs s ON a.id = s.id AND a.g = s.g)
        |  GROUP BY g, code_id, pos),
        |b2 AS (SELECT g, code_id, list(cv1 ORDER BY pos) AS cw FROM qu2 GROUP BY g, code_id),
        |codes AS (
        |  SELECT id, g, code_id FROM (
        |    SELECT s.id, s.g, b.code_id,
        |      row_number() OVER (PARTITION BY s.id, s.g ORDER BY
        |        list_sum(list_transform(list_zip(s.sub, b.cw),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), b.code_id) AS rn
        |    FROM subs s JOIN b2 b ON s.g = b.g)
        |  WHERE rn = 1),
        |dtab AS (
        |  SELECT s.id AS query_id, s.g, b.code_id,
        |    list_sum(list_transform(list_zip(s.sub, b.cw),
        |      z -> (z[1]-z[2])*(z[1]-z[2]))) AS d
        |  FROM subs s JOIN b2 b ON s.g = b.g
        |  WHERE s.id % 50 = 0 AND s.id < 10000000),
        |adc AS (
        |  SELECT n.query_id, n.cand_id, CAST(sum(t.d) AS BIGINT) AS adc
        |  FROM cand n
        |  JOIN codes c ON c.id = n.cand_id
        |  JOIN dtab t ON t.query_id = n.query_id
        |    AND t.g = c.g AND t.code_id = c.code_id
        |  GROUP BY n.query_id, n.cand_id),
        |shortlist AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT query_id, cand_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id) AS rn
        |    FROM adc)
        |  WHERE rn <= (SELECT greatest(320, (count(*)*16 + 99) // 100) FROM pts)),
        |scored AS (
        |  SELECT query_id, cand_id,
        |    list_sum(list_transform(list_zip(a.qv, b.qv),
        |      z -> (z[1]-z[2])*(z[1]-z[2]))) AS dist
        |  FROM shortlist
        |  JOIN pts a ON query_id = a.id
        |  JOIN pts b ON cand_id = b.id)
        |SELECT query_id, cand_id, CAST(dist AS BIGINT) AS dist, rank FROM (
        |  SELECT query_id, cand_id, dist,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY dist, cand_id) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin,

    // JPEG decode gate: the format is LOSSY, so unlike q112's exact PNG
    // sums this is the verified-approximation shape (q83/q84 pattern) —
    // width/height are recomputed from the asset dimension formula (the
    // Spark side reads them out of the decoder's SOF parse) and `ok`
    // (Spark: decoded luminance sum within 2 LSB/px of the closed-form
    // ramp sum, channels replicated) is asserted TRUE. A broken marker
    // walk, Huffman table, coefficient run or IDCT turns width/height
    // NULL or ok FALSE → hash mismatch.
    "q115_jpeg_decode" ->
      """SELECT doc_id,
        |  CAST(4 + doc_id % 9 AS INT) AS width,
        |  CAST(4 + doc_id % 6 AS INT) AS height,
        |  TRUE AS ok
        |FROM documents""".stripMargin,

    // G.711 μ-law decode gate — EXACT, unlike the bounded-error JPEG
    // gate: the compress→expand round trip is closed-form integer
    // arithmetic (bias 132, clip 32635, segment e = bitlength(v>>7)-1,
    // 4-bit mantissa, expand ((man*8+132)<<e)-132 with the sign
    // restored), so the oracle replays the codec per sample and the
    // decoded amplitude stats hash-match bit-for-bit.
    "q118_ulaw_decode" ->
      """WITH p AS (
        |  SELECT doc_id, CAST(64 + doc_id % 100 AS INT) AS n,
        |    CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sr, doc_id AS seed
        |  FROM documents),
        |smp AS (
        |  SELECT doc_id, n, sr, ((seed + 17*i) % 65536) - 32768 AS s
        |  FROM p, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i)),
        |seg AS (
        |  SELECT doc_id, n, sr, s, v, length(bin(v // 128)) - 1 AS e
        |  FROM (SELECT *, least(32635, abs(s)) + 132 AS v FROM smp)),
        |dec AS (
        |  SELECT doc_id, n, sr,
        |    CASE WHEN s < 0 THEN -(((((v >> (e+3)) & 15) * 8 + 132) << e) - 132)
        |         ELSE ((((v >> (e+3)) & 15) * 8 + 132) << e) - 132 END AS d
        |  FROM seg)
        |SELECT doc_id, sr AS sample_rate, CAST(n AS BIGINT) AS n_samples,
        |  CAST(sum(abs(d)) AS BIGINT) AS sum_abs, CAST(max(abs(d)) AS INT) AS peak
        |FROM dec GROUP BY doc_id, sr, n""".stripMargin,

    // G.711 A-law decode gate — q118's European sibling, same exact
    // replay: negatives map through -s-8 clamped at 0, segment e =
    // bitlength(v>>8) (0 below 256), mantissa shift max(4, e+3), expand
    // man*16+8 in segment 0 else (man*16+264)<<(e-1), sign restored.
    "q119_alaw_decode" ->
      """WITH p AS (
        |  SELECT doc_id, CAST(64 + doc_id % 100 AS INT) AS n,
        |    CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sr, doc_id AS seed
        |  FROM documents),
        |smp AS (
        |  SELECT doc_id, n, sr, ((seed + 17*i) % 65536) - 32768 AS s
        |  FROM p, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i)),
        |seg AS (
        |  SELECT doc_id, n, sr, s, v,
        |    CASE WHEN v < 256 THEN 0 ELSE length(bin(v // 256)) END AS e
        |  FROM (SELECT *, greatest(0, CASE WHEN s >= 0 THEN s ELSE -s - 8 END) AS v
        |        FROM smp)),
        |dec AS (
        |  SELECT doc_id, n, sr,
        |    CASE WHEN s >= 0 THEN m ELSE -m END AS d
        |  FROM (
        |    SELECT *,
        |      CASE WHEN e = 0 THEN ((v >> 4) & 15) * 16 + 8
        |           ELSE (((v >> greatest(4, e + 3)) & 15) * 16 + 264) << (e - 1) END AS m
        |    FROM seg))
        |SELECT doc_id, sr AS sample_rate, CAST(n AS BIGINT) AS n_samples,
        |  CAST(sum(abs(d)) AS BIGINT) AS sum_abs, CAST(max(abs(d)) AS INT) AS peak
        |FROM dec GROUP BY doc_id, sr, n""".stripMargin,

    // Ingest-dedup gate: the content hash quantizes `value` to a long
    // before hashing (double→string renders differently across engines;
    // a quantized long is bit-identical), and the survivor rule is a
    // deterministic window, so the whole op hash-checks.
    "q113_stream_ingest_dedup" ->
      """WITH h AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value,
        |    md5(concat_ws('|', user_id, event_type,
        |      CAST(floor(value * 1000) AS BIGINT))) AS content_hash
        |  FROM events),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY content_hash ORDER BY ts, event_id) AS rn
        |  FROM h)
        |SELECT event_id, ts, user_id, event_type, value, content_hash
        |FROM r WHERE rn = 1""".stripMargin,

    // Chunked span dedup (q149): PROVABLY the same semantics as q132 on
    // in-domain corpora (ExactSpansSpec asserts frame equality), so the
    // oracle is q132's replay verbatim — the driver's hash match
    // re-proves chunked ≡ direct on real data every round (the q145
    // equivalence-as-oracle pattern; the chunking machinery is
    // Spark-side only, with no SQL analog to drift).
    "q149_chunked_span_dedup" -> SpanDedup5Sql,

    // Dup-cluster cohesion (q150): replays pair generation (q21's capped
    // trigram Jaccard), the transitive closure (q40's recursive CTE) AND
    // triangle enumeration from scratch. The triangle CTE is the direct
    // 3-way join on canonical a<b pairs — a triangle x<y<z is the pair
    // triple (x,y)(y,z)(x,z), each counted exactly once — independently
    // written from Spark's degree-oriented wedge-join formulation, so a
    // hash match cross-proves the orientation logic. sh/pairs/clu are
    // MATERIALIZED (each feeds 2+ consumers; the inlining blowup rule).
    "q150_dup_cohesion" ->
      """WITH RECURSIVE
        |wrds AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |  FROM wrds, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)),
        |sh AS MATERIALIZED (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 200),
        |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS MATERIALIZED (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN cnt ca ON doc_a = ca.doc_id
        |  JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE CAST(i AS DOUBLE) / CAST(ca.m + cb.m - i AS DOUBLE) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
        |labels AS (SELECT u, min(v) AS mv FROM reach GROUP BY u),
        |clu AS MATERIALIZED (
        |  SELECT d.doc_id,
        |    CAST(LEAST(d.doc_id, COALESCE(l.mv, d.doc_id)) AS BIGINT) AS cluster_id
        |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.u),
        |tri AS (
        |  SELECT p1.doc_a AS x, p1.doc_b AS y, p2.doc_b AS z
        |  FROM pairs p1
        |  JOIN pairs p2 ON p2.doc_a = p1.doc_b
        |  JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b),
        |nodes AS (
        |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM clu GROUP BY 1 HAVING count(*) >= 2),
        |edg AS (
        |  SELECT c.cluster_id, CAST(count(*) AS BIGINT) AS n_edges
        |  FROM pairs p JOIN clu c ON c.doc_id = p.doc_a GROUP BY 1),
        |trc AS (
        |  SELECT c.cluster_id, CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM tri t JOIN clu c ON c.doc_id = t.x GROUP BY 1)
        |SELECT n.cluster_id, n.n_docs,
        |  COALESCE(e.n_edges, 0) AS n_edges,
        |  COALESCE(tc.n_triangles, 0) AS n_triangles,
        |  (COALESCE(e.n_edges, 0) * 2 = n.n_docs * (n.n_docs - 1)) AS is_clique
        |FROM nodes n
        |LEFT JOIN edg e USING (cluster_id)
        |LEFT JOIN trc tc USING (cluster_id)""".stripMargin,

    // Systematic weighted sample (q151): all-BIGINT replay — md5
    // permutation order, exclusive window prefix sum, closed-form
    // ceil-div pick multiplicity. DuckDB `//` is floor division and
    // Spark `div` truncates, identical on the all-positive operands;
    // the k·W overflow guard is Spark-side only (a domain assert, not
    // part of the result semantics).
    "q151_systematic_sample" ->
      """WITH p AS (
        |  SELECT doc_id, source, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents WHERE n_chars > 0),
        |ps AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(COALESCE(SUM(n_chars) OVER (
        |      ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix_w
        |  FROM p),
        |t AS (SELECT MAX(prefix_w + n_chars) AS w_total FROM ps)
        |SELECT doc_id, source, n_chars, prefix_w, pick_mult
        |FROM (
        |  SELECT ps.*,
        |    ((prefix_w + n_chars) * 100 + w_total - 1) // w_total
        |      - (prefix_w * 100 + w_total - 1) // w_total AS pick_mult
        |  FROM ps, t)
        |WHERE pick_mult > 0""".stripMargin,

    // Co-purchase projection (q152): distinct incidence, fan-guard
    // filter, capped self-join, pair counts — pure set/count logic, so
    // the replay is exact. kept feeds both join sides → MATERIALIZED.
    "q152_copurchase_project" ->
      """WITH il AS (
        |  SELECT DISTINCT l_orderkey AS l, l_partkey AS r FROM lineitem),
        |deg AS (SELECT l, count(*) AS d FROM il GROUP BY 1),
        |kept AS MATERIALIZED (
        |  SELECT il.l, il.r FROM il JOIN deg USING (l) WHERE d <= 20)
        |SELECT a.r AS item_a, b.r AS item_b, CAST(count(*) AS BIGINT) AS cooc
        |FROM kept a JOIN kept b ON a.l = b.l AND a.r < b.r
        |GROUP BY 1, 2""".stripMargin,

    // Incremental cluster maintenance (q153): the oracle replays the
    // FULL batch recompute over the new snapshot — old-snapshot frozen
    // stop list, stop-filtered new-snapshot shingles, Jaccard pairs,
    // recursive transitive closure, min-id labels, singleton attach —
    // so a hash match IS the batch≡incremental equivalence theorem
    // (the q145/q148 oracle shape, applied to the cluster layer).
    // Snapshot CTEs mirror q145's: eval docs (%20=0) pinned, old
    // removes %17 and suffixes ' v1' on %13, new removes %19. sh feeds
    // three consumers and newsnap two → MATERIALIZED (q147 lesson).
    "q153_incremental_clusters" ->
      """WITH RECURSIVE
        |oldsnap AS (
        |  SELECT doc_id, CASE WHEN doc_id % 13 = 0 AND doc_id % 20 <> 0
        |    THEN text || ' v1' ELSE text END AS text
        |  FROM documents WHERE doc_id % 17 <> 0 OR doc_id % 20 = 0),
        |stopsh AS MATERIALIZED (
        |  SELECT shingle FROM (
        |    SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |    FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |          FROM oldsnap),
        |      LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i))
        |  GROUP BY shingle HAVING count(*) > 200),
        |newsnap AS MATERIALIZED (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 19 <> 0 OR doc_id % 20 = 0),
        |sh AS MATERIALIZED (
        |  SELECT doc_id, shingle FROM (
        |    SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |    FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |          FROM newsnap),
        |      LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)) s
        |  WHERE NOT EXISTS (SELECT 1 FROM stopsh st WHERE st.shingle = s.shingle)),
        |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN cnt ca ON doc_a = ca.doc_id
        |  JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE CAST(i AS DOUBLE) / CAST(ca.m + cb.m - i AS DOUBLE) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
        |labels AS (SELECT u, min(v) AS mv FROM reach GROUP BY u)
        |SELECT d.doc_id,
        |  CAST(LEAST(d.doc_id, COALESCE(l.mv, d.doc_id)) AS BIGINT) AS cluster_id
        |FROM newsnap d LEFT JOIN labels l ON d.doc_id = l.u""".stripMargin,

    // DSIR selection (q154): hashed-feature stream (lowercased unigrams
    // + adjacent bigrams, md5-prefix 4096-bucket), bucket-count models
    // over the %20 target/raw splits, integer bitlen(cnt+1) importance,
    // per-source top 32. feats feeds three consumers → MATERIALIZED
    // (the q147 lesson); bin() and md5() are bit-identical across
    // engines, so the integer weight replays exactly.
    "q154_dsir_select" ->
      """WITH feats AS MATERIALIZED (
        |  SELECT doc_id, substr(md5(f), 1, 3) AS bucket FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS f
        |    FROM documents
        |    UNION ALL
        |    SELECT doc_id, w[i] || ' ' || w[i+1] AS f
        |    FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |          FROM documents),
        |      LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i))
        |  WHERE length(trim(f)) > 0),
        |tmodel AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS tc FROM feats
        |  WHERE doc_id % 20 = 0 GROUP BY bucket),
        |rmodel AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS rc FROM feats
        |  WHERE doc_id % 20 <> 0 GROUP BY bucket),
        |per AS (
        |  SELECT f.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_feats,
        |    CAST(sum(length(bin(COALESCE(t.tc, 0) + 1))) AS BIGINT) AS tbits,
        |    CAST(sum(length(bin(COALESCE(r.rc, 0) + 1))) AS BIGINT) AS rbits
        |  FROM feats f
        |  LEFT JOIN tmodel t USING (bucket)
        |  LEFT JOIN rmodel r USING (bucket)
        |  GROUP BY 1),
        |scored AS (
        |  SELECT d.doc_id, d.source,
        |    COALESCE(p.n_feats, 0) AS n_feats,
        |    COALESCE(p.tbits, 0) - COALESCE(p.rbits, 0) AS importance
        |  FROM documents d LEFT JOIN per p USING (doc_id))
        |SELECT doc_id, source, n_feats, importance, rank FROM (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY source ORDER BY importance DESC, doc_id) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 32""".stripMargin,

    // Incremental LM maintenance (q155): the oracle replays the FULL
    // retrain — bigram counts over the new snapshot's English docs —
    // so a hash match is the batch≡incremental theorem for the
    // abelian-group (count) model. New snapshot = q145's (%19 removes,
    // eval %20=0 pinned).
    "q155_incremental_lm" ->
      """WITH ws AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |  FROM documents
        |  WHERE (doc_id % 19 <> 0 OR doc_id % 20 = 0) AND lang = 'en'),
        |bg AS (
        |  SELECT w[i] || ' ' || w[i+1] AS bigram
        |  FROM ws, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i))
        |SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
        |FROM bg GROUP BY bigram""".stripMargin,

    // XML round-trip (q156): the oracle replays ONLY the null-injection
    // transform on the parquet source — a hash match proves the
    // write→read XML cycle (markup escaping, omitted-element nulls) is
    // lossless, q51's JSONL contract for the third text format.
    "q156_xml_roundtrip" ->
      """SELECT doc_id, text,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
        |  source, n_chars
        |FROM documents""".stripMargin,

    // CMS heavy hitters (q157): the oracle replays the SKETCH itself
    // (seeded-md5 buckets, integer cell counts, min-over-rows
    // estimates, N/200 support threshold) — false positives from
    // bucket collisions must match too, which is exactly what makes a
    // deterministic integer sketch hash-checkable. ww feeds three
    // consumers → MATERIALIZED (the q147 lesson).
    "q157_cms_heavy_hitters" ->
      """WITH ww AS MATERIALIZED (
        |  SELECT t AS word FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |    FROM documents)
        |  WHERE length(trim(t)) > 0),
        |total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ww),
        |cells AS MATERIALIZED (
        |  SELECT i, substr(md5(CAST(i AS VARCHAR) || ':' || word), 1, 3) AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM ww, LATERAL (SELECT unnest(generate_series(0, 3)) AS i)
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT word, i,
        |    substr(md5(CAST(i AS VARCHAR) || ':' || word), 1, 3) AS bucket
        |  FROM ww, LATERAL (SELECT unnest(generate_series(0, 3)) AS i)),
        |est AS (
        |  SELECT c.word, min(cl.cnt) AS est
        |  FROM cand c JOIN cells cl ON cl.i = c.i AND cl.bucket = c.bucket
        |  GROUP BY c.word)
        |SELECT e.word, e.est FROM est e, total WHERE e.est * 200 >= n""".stripMargin,

    // Stratified systematic sample (q158): q151's integer machinery per
    // source — key-local prefix cumsum, per-key total, closed-form
    // ceil-div multiplicity. The PARTITION BY here is the ORACLE's
    // replay convenience; the Spark plan derives local prefixes from
    // the global range exchange without any per-key window.
    "q158_stratified_systematic" ->
      """WITH p AS (
        |  SELECT doc_id, source, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents WHERE n_chars > 0),
        |ps AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(COALESCE(SUM(n_chars) OVER (
        |      PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS prefix_w
        |  FROM p),
        |t AS (SELECT source, CAST(MAX(prefix_w + n_chars) AS BIGINT) AS w_key
        |      FROM ps GROUP BY source)
        |SELECT doc_id, source, n_chars, prefix_w, pick_mult
        |FROM (
        |  SELECT ps.*,
        |    ((prefix_w + n_chars) * 20 + w_key - 1) // w_key
        |      - (prefix_w * 20 + w_key - 1) // w_key AS pick_mult
        |  FROM ps JOIN t USING (source))
        |WHERE pick_mult > 0""".stripMargin,

    // Incremental IVF (q159): the oracle replays the FULL recompute —
    // the q103 training CTEs verbatim over the full corpus (the frozen
    // quantizer), then nearest-list assignment, probes, candidates and
    // top-5 over the NEW SNAPSHOT only (vec_id%19≠0, immutable-by-id
    // vectors) — so a hash match is the batch≡incremental theorem for
    // the maintained list table and the stored-list serving path.
    "q159_incremental_ivf" ->
      """WITH pts_full AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |pts AS (SELECT * FROM pts_full WHERE id % 19 <> 0),
        |c0 AS (SELECT id AS cluster_id, qv AS cv FROM pts_full ORDER BY id LIMIT 8),
        |a1 AS (
        |  SELECT id, qv, cluster_id FROM (
        |    SELECT p.id, p.qv, c.cluster_id,
        |      row_number() OVER (PARTITION BY p.id ORDER BY
        |        list_sum(list_transform(list_zip(p.qv, c.cv),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
        |    FROM pts_full p CROSS JOIN c0 c)
        |  WHERE rn = 1),
        |u1 AS (
        |  SELECT cluster_id, pos,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
        |  FROM (SELECT cluster_id, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM a1)
        |  GROUP BY cluster_id, pos),
        |c1 AS (SELECT cluster_id, list(cv1 ORDER BY pos) AS cv FROM u1 GROUP BY cluster_id),
        |a2 AS (
        |  SELECT id, qv, cluster_id FROM (
        |    SELECT p.id, p.qv, c.cluster_id,
        |      row_number() OVER (PARTITION BY p.id ORDER BY
        |        list_sum(list_transform(list_zip(p.qv, c.cv),
        |          z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
        |    FROM pts_full p CROSS JOIN c1 c)
        |  WHERE rn = 1),
        |u2 AS (
        |  SELECT cluster_id, pos,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv1
        |  FROM (SELECT cluster_id, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM a2)
        |  GROUP BY cluster_id, pos),
        |c2 AS (SELECT cluster_id, list(cv1 ORDER BY pos) AS cv FROM u2 GROUP BY cluster_id),
        |ranked AS (
        |  SELECT p.id, c.cluster_id,
        |    row_number() OVER (PARTITION BY p.id ORDER BY
        |      list_sum(list_transform(list_zip(p.qv, c.cv),
        |        z -> (z[1]-z[2])*(z[1]-z[2]))), c.cluster_id) AS rn
        |  FROM pts p CROSS JOIN c2 c),
        |lists AS (SELECT id AS cand_id, cluster_id FROM ranked WHERE rn = 1),
        |probes AS (
        |  SELECT id AS query_id, cluster_id FROM ranked
        |  WHERE rn <= 2 AND id % 50 = 0 AND id < 10000000),
        |cand AS (
        |  SELECT DISTINCT query_id, cand_id
        |  FROM probes JOIN lists USING (cluster_id)
        |  WHERE query_id != cand_id),
        |scored AS (
        |  SELECT query_id, cand_id,
        |    list_sum(list_transform(list_zip(a.qv, b.qv),
        |      z -> (z[1]-z[2])*(z[1]-z[2]))) AS dist
        |  FROM cand
        |  JOIN pts a ON query_id = a.id
        |  JOIN pts b ON cand_id = b.id)
        |SELECT query_id, cand_id, CAST(dist AS BIGINT) AS dist, rank FROM (
        |  SELECT query_id, cand_id, dist,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY dist, cand_id) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin,

    // Incremental DSIR models (q160): the oracle replays the FULL
    // retrain of both histograms over the new snapshot — q154's
    // feature/bucket definitions, the %20 target/raw splits — so a hash
    // match is the batch≡incremental theorem for the selection models.
    // feats feeds two consumers → MATERIALIZED.
    "q160_incremental_dsir" ->
      """WITH newsnap AS MATERIALIZED (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 19 <> 0 OR doc_id % 20 = 0),
        |feats AS MATERIALIZED (
        |  SELECT doc_id, substr(md5(f), 1, 3) AS bucket FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS f
        |    FROM newsnap
        |    UNION ALL
        |    SELECT doc_id, w[i] || ' ' || w[i+1] AS f
        |    FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |          FROM newsnap),
        |      LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i))
        |  WHERE length(trim(f)) > 0)
        |SELECT 'target' AS model, bucket, CAST(count(*) AS BIGINT) AS cnt
        |FROM feats WHERE doc_id % 20 = 0 GROUP BY bucket
        |UNION ALL
        |SELECT 'raw' AS model, bucket, CAST(count(*) AS BIGINT) AS cnt
        |FROM feats WHERE doc_id % 20 <> 0 GROUP BY bucket""".stripMargin,

    // Token-weighted median length (q161): key-local weight cumsum in
    // (value, id) order, ceil-div threshold t = ceil(W/2), pick the row
    // whose interval [prefix, prefix+w) contains t — the PARTITION BY
    // window is the oracle's replay convenience; the Spark plan derives
    // local prefixes from one global range exchange.
    "q161_weighted_median_len" ->
      """WITH base AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS wc
        |  FROM documents),
        |pos AS (SELECT * FROM base WHERE wc > 0),
        |ps AS (
        |  SELECT doc_id, source, wc,
        |    CAST(COALESCE(SUM(wc) OVER (
        |      PARTITION BY source ORDER BY wc, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS p
        |  FROM pos),
        |t AS (SELECT source, CAST(SUM(wc) AS BIGINT) AS w_key
        |      FROM pos GROUP BY source)
        |SELECT source, wc AS p50_tokens
        |FROM ps JOIN t USING (source)
        |WHERE p < ((w_key * 50) + 99) // 100
        |  AND ((w_key * 50) + 99) // 100 <= p + wc""".stripMargin)
}
