package graft

import java.nio.file.{Files, Paths}

/** SCALE-REGIME correctness dump (VERDICT r17 "what's missing" #2): the
  * incremental-maintenance family, hash-checked at the 10× corpus. The
  * sf1 growth gate ([[Bench]]'s scale block) TIMES these cells at 10×
  * data but nothing hash-matches there, and maintenance behavior is
  * density-dependent (the q176 L=4 closure phenomenon) — a closure bug
  * that only manifests at higher window density would pass every
  * sf0.001/sf0.01/sf0.1 differential. This main synthesizes the same
  * deterministic 10× corpus the growth gate measures
  * ([[ScaleCorpus.ensure]] — word-suffix-salted documents, rotated
  * embeddings), runs each incremental cell against it, and dumps
  * results + oracle SQL exactly like [[Verify]]; `tools/check_scale.py`
  * then replays the oracles in DuckDB over the SAME 10× parquet and
  * hash-compares → `SCALECHECK_r{N}.json`.
  *
  * Usage: VerifyScale <sf0.1-dir> <outDir> [queryPrefixes]
  */
object VerifyScale {

  /** The incremental/maintenance cells whose batch≡incremental oracles
    * are worth re-proving at 10× density (VERDICT r17 names the first
    * twelve; the q181–q184 chains share the same machinery), plus —
    * since the round-18 narrow-assignment reshape — the ANN family
    * whose physical paths changed wholesale (fold argmin, bounded
    * in-task ranking, carried vectors, no pair distinct): tie-break
    * and cap arithmetic are exactly the kind of logic whose bugs are
    * density-dependent (more centroids at 10× ⇒ more near-ties, a
    * frac-path cap that rounds differently, a slice bound that clips
    * a rank the filter wanted), so each reshaped cell's full-replay
    * oracle is re-proved at the 10× corpus too.
    *
    * COVERAGE CAVEAT (r18 self-review): [[ScaleCorpus]] salts copied
    * words with a `_k` suffix, which the all-lowercase 12-gram window
    * filter rejects — so for the window-unit cells (q173, q184) this
    * gate re-proves the maintenance arithmetic over 10× the DOCUMENTS,
    * but the qualifying-window population (and hence window DENSITY)
    * is unchanged from 1×. The density-dependent closure class is
    * still covered for the span family by q176, whose window keys
    * tokenize without the alpha filter and do grow here (its 10×
    * oracle is a minutes-long recompute); a q173-family density regime
    * would need salted words that stay all-lowercase — noted rather
    * than silently claimed. */
  val ScaleChecked: Seq[String] = Seq(
    "q145_incremental_corpus", "q148_incremental_minhash",
    "q153_incremental_clusters", "q155_incremental_lm",
    "q159_incremental_ivf", "q160_incremental_dsir",
    "q171_incremental_bm25", "q173_vocab_maintain",
    "q174_incremental_semdedup", "q176_incremental_span_dedup",
    "q179_incremental_ivfpq", "q180_incremental_cms",
    "q181_stream_cms_chain", "q182_stream_dsir_chain",
    "q183_stream_bm25df_chain", "q184_stream_bpe_units_chain",
    // r18 ANN-reshape regression set (run with prefix filters to scope).
    // q83e RETURNED to checked (r19, VERDICT r18 ask #3): the r18 run
    // here caught q117's fixed 320-row ADC shortlist decaying recall
    // through the 0.3 floor at 10× density (a corpus-independent
    // shortlist's candidate share drops with N). The production lever
    // named in that disposition is now implemented: q117 derives the
    // shortlist bound in-plan as max(320, ceil(N·16/100)) — q83d's
    // constant-probed-fraction doctrine applied to the fine quantizer
    // — so at the base corpus the bound (and every recorded hash) is
    // unchanged bit-for-bit while at 10× the shortlist holds its 16%
    // corpus share and the gate passes at BOTH densities with the same
    // 3-bit codebooks. The oracle replays the derived bound from its
    // own count; PqSpec pins floor-binding equality and the
    // above-floor collapse to the exhaustive shortlist.
    "q52_ann_ivf_topk", "q83d_ivf_recall", "q83e_pq_recall",
    "q101_kmeans_cluster", "q102_semantic_dedup", "q103_trained_ivf_topk",
    "q116_pq_topk", "q117_ivfpq_topk",
    // r19 extension (VERDICT r18 ask #2): the remaining density-
    // sensitive families, previously only growth-TIMED at 10×.
    // Span dedup — the family whose L=4 closure phenomenon motivated
    // this gate; ExactSpans tokenizes by whitespace (no alpha filter),
    // so the salted copies DO grow the qualifying-window population
    // linearly and the 10× regime is a real density change:
    "q132_span_dedup", "q139_multi_span_dedup", "q144_all_span_dedup",
    "q146_maximal_spans", "q149_chunked_span_dedup",
    // Retrieval — stored-index serving over the 10× postings (df, N,
    // avgdl, and the candidate sets all shift with density):
    "q165_bm25_topk", "q167_bm25_query_score", "q170_hybrid_rrf",
    "q172_hybrid_recall",
    // Sketches — CMS width is fixed by construction, so 10× the
    // vocabulary is 10× the collision pressure per cell. At 10× the
    // salted corpus has NO heavy hitters (every word's count is flat
    // while n grows 10×), so q157's hash match is 0 ≡ 0 rows — a
    // one-sided check that still trips any false POSITIVE (a sketch
    // overestimate crossing n/200 on one engine only), while the
    // sketch-cell arithmetic itself is hash-proved at 10× with real
    // rows by q180/q181's maintained-cell outputs:
    "q157_cms_heavy_hitters",
    // Banded near-dup — bucket occupancy and band-collision counts are
    // the density-dependent arithmetic:
    "q19_minhash_neardup", "q21_ngram_jaccard", "q22_simhash_neardup",
    "q59_embedding_neardup_ivf")

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only: String => Boolean = args.lift(2) match {
      case Some(pfx) =>
        val ps = pfx.split(",").toSeq; name => ps.exists(name.startsWith)
      case None => _ => true
    }
    // shuffle partitions sized to the 10x data (the growth gate's
    // setting), not the small-cell tuning
    val spark = GraftSession.build(GraftSession.cpus)
    val scaleDir = ScaleCorpus.ensure(spark, sfDir, copies = 10)
    println(s"[verify-scale] corpus: $scaleDir")
    new java.io.File(outDir).mkdirs()
    // Fail-VISIBLE on its own (ADVICE r18): a cell that crashes here is
    // recorded in failures.txt AND fails the exit code — previously main
    // exited 0 with the failed cell still listed in oracle_sql.json, so
    // only check_scale.py's no_spark_output caught it downstream.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    ScaleChecked.filter(only).foreach { name =>
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, scaleDir).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        println(f"[verify-scale] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify-scale] $name failed: ${e.getMessage}")
        failed += name
      }
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql.view
      .filterKeys(k => ScaleChecked.contains(k) && only(k)).toMap
      .map { case (k, v) => s"${Verify.q(k)}: ${Verify.q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/scale_dir.txt"), scaleDir)
    Files.writeString(Paths.get(s"$outDir/failures.txt"),
      failed.mkString("", "\n", if (failed.isEmpty) "" else "\n"))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify-scale] ${failed.size} cell(s) FAILED: ${failed.mkString(", ")}")
      sys.exit(2)
    }
  }
}
