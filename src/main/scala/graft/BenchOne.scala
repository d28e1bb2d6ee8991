package graft

/** Dev harness: time the named queries only (`runMain graft.BenchOne q40_…
  * q86_…`) on [[GraftSession]]'s bench config (8 shuffle partitions) with
  * [[Bench]]'s untimed warm-up and noop-sink methodology. Iteration aid —
  * the recorded numbers come from Bench. [[Probe]] profiles the same
  * cells on the same config.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(8)
    GraftSession.warmUp(spark, sfDir)
    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[benchone] unknown query: $name")
        case Some(fn) =>
          val t0 = System.nanoTime()
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable => System.err.println(s"[benchone] $name: $e") }
          println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
          spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
