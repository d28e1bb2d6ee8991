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
  * embeddings), runs each `Cell.scaleChecked` cell against it, and dumps
  * results + oracle SQL through [[Verify.dump]]; `tools/check_scale.py`
  * then replays the oracles in DuckDB over the SAME 10× parquet and
  * hash-compares → `SCALECHECK_r{N}.json`.
  *
  * Usage: VerifyScale <sf0.1-dir> <outDir> [queryPrefixes]
  */
object VerifyScale {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = Verify.prefixes(args)
    val spark = GraftSession.build(GraftSession.cpus)
    val scaleDir = ScaleCorpus.ensure(spark, sfDir, copies = 10)
    println(s"[verify-scale] corpus: $scaleDir")
    // Fail-VISIBLE on its own (ADVICE r18): a cell that crashes here is
    // recorded in failures.txt AND fails the exit code — previously main
    // exited 0 with the failed cell still listed in oracle_sql.json, so
    // only check_scale.py's no_spark_output caught it downstream.
    val failed = Verify.dump(spark, scaleDir, outDir,
      SparkEntry.cells.filter(c => c.scaleChecked && only(c.name)), "verify-scale")
    Files.writeString(Paths.get(s"$outDir/scale_dir.txt"), scaleDir)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify-scale] ${failed.size} cell(s) FAILED: ${failed.mkString(", ")}")
      sys.exit(2)
    }
  }
}
