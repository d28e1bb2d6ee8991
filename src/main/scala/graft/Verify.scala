package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
/** Correctness dump: each SparkEntry cell's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check_oracle.py`
  * replays it the same way). A failing cell is named on stderr and in
  * failures.txt; the exit code stays 0.
  *
  * Usage: Verify <sfDir> <outDir> [queryPrefixes] */
object Verify {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build(GraftSession.cpus)
    val only = prefixes(args)
    dump(spark, args(0), args(1), SparkEntry.cells.filter(c => only(c.name)), "verify")
    spark.stop()
  }

  /** The optional third arg: comma-separated name prefixes — run only the
    * matching cells (local iteration; a full dump passes two args). */
  private[graft] def prefixes(args: Array[String]): String => Boolean =
    args.lift(2) match {
      case Some(pfx) =>
        val ps = pfx.split(",").toSeq; name => ps.exists(name.startsWith)
      case None => _ => true
    }

  /** The one run-and-dump loop of [[Verify]] and [[VerifyScale]]: runs
    * `rows` over `dir`, writes each result with `coalesce(1)` to
    * `outDir/<name>`, then `oracle_sql.json` for `rows` and
    * `failures.txt`. Returns the names of the cells that failed. */
  private[graft] def dump(spark: SparkSession, dir: String, outDir: String,
                          rows: Seq[Cell], tag: String): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = rows.filterNot { c =>
      val t0 = System.nanoTime()
      val ok =
        try {
          c.build(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${c.name}")
          println(f"[$tag] ${c.name}: ${(System.nanoTime() - t0) / 1e9}%.1f s")
          true
        } catch { case e: Throwable =>
          System.err.println(s"[$tag] ${c.name} failed: ${e.getMessage}")
          false
        }
      // frames persisted inside operators (LSH caches etc.) are per-cell
      spark.catalog.clearCache()
      ok
    }.map(_.name)
    // A sidecar's path is fixed and shared by every JVM on the host, so
    // rebuild each sidecar cell right before the oracle text inlines it
    // (the build is an artifact hit that rewrites the sidecar).
    rows.filter(_.sidecar).foreach { c =>
      try c.build(spark, dir)
      catch { case e: Throwable =>
        System.err.println(s"[$tag] ${c.name} sidecar refresh failed: ${e.getMessage}")
      }
    }
    val oracle = SparkEntry.oracleSql
    val json = rows.flatMap(c => oracle.get(c.name).map(sql => s"${q(c.name)}: ${q(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failures.txt"), failed.map(_ + "\n").mkString)
    failed
  }

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in oracle SQL would otherwise make
    * the driver's json.load fail and silently zero the round's
    * correctness. */
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
