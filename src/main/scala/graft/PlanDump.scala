package graft

/** Dev tool: dump `explain("formatted")` for named queries to files.
  *
  * `runMain graft.PlanDump <outDir> <suffix> <query...>` writes
  * `<outDir>/<query>_<suffix>.txt` for each query — the round's
  * before/after plan evidence (plans/rNN/). Session config is
  * [[GraftSession]]'s bench config (shuffle partitions 8) so the
  * dumped plan is the shape the bench times; with AQE the dump is the
  * initial plan (isFinalPlan=false), which pins exchange/join/scan
  * structure — the part the optimization claims are about. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query...>")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(8)
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[plandump] unknown query: $n")
        case Some(fn) =>
          try {
            val txt = fn(spark, sfDir).queryExecution
              .explainString(org.apache.spark.sql.execution.FormattedMode)
            val w = new java.io.PrintWriter(s"$outDir/${n}_$suffix.txt", "UTF-8")
            try w.write(txt) finally w.close()
            println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] $n: $e")
          }
      }
    }
    spark.stop()
  }
}
