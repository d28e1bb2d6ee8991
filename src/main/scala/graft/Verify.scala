package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated name prefixes — run only the
    // matching queries (local iteration; the driver passes two args).
    val only: String => Boolean = args.lift(2) match {
      case Some(pfx) =>
        val ps = pfx.split(",").toSeq; name => ps.exists(name.startsWith)
      case None => _ => true
    }
    val spark = GraftSession.build(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // frames persisted inside operators (LSH caches etc.) are per-query
      spark.catalog.clearCache()
    }
    // The q163/q169 oracles inline their merge sidecars at dump time,
    // and the sidecar paths are fixed (any invocation — a spec run at
    // sf0.001 included — overwrites them). A FILTERED run that skips
    // them would therefore dump a replay of whatever corpus last wrote
    // the sidecar; refresh for THIS corpus before dumping (building
    // the DataFrame writes the sidecar eagerly; the artifact is
    // build-once per corpus, so this is cheap when it already exists).
    Seq("q163_bpe_train512", "q169_bpe_train8k").foreach { q =>
      if (!only(q))
        try SparkEntry.queries(q)(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[verify] $q sidecar refresh failed: ${e.getMessage}")
        }
    }

    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Verify.q(k)}: ${Verify.q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise make
    * the driver's json.load fail and silently zero the round's
    * correctness. The ONE escape implementation — [[VerifyScale]]'s
    * oracle dump uses it too, so a fix here cannot drift between the
    * two gates' json. */
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
