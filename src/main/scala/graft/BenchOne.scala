package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev harness: time the named queries only (`runMain graft.BenchOne q40_…
  * q86_…`) on [[GraftSession]]'s bench config (8 shuffle partitions) with
  * [[Bench]]'s untimed warm-up and noop-sink methodology. Iteration aid —
  * the recorded numbers come from Bench.
  *
  *  - `SPARK_GRAFT_PROFILE`: split each cell's wall into DataFrame build +
  *    Catalyst planning vs execution, then print its per-stage wall/CPU
  *    table.
  *  - `SPARK_GRAFT_EXPLAIN`: print the executed (final adaptive) plan of
  *    the timed run.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val profile = sys.env.contains("SPARK_GRAFT_PROFILE")
    val explain = sys.env.contains("SPARK_GRAFT_EXPLAIN")
    val spark = GraftSession.build(8)
    // Every successful noop write (the warm-up's, then one per cell)
    // posts exactly one query-execution event, after its stages' events
    // on the same listener queue: taking it both yields the write's
    // final plan and waits until the stage table below is complete.
    val writes = new LinkedBlockingQueue[QueryExecution]()
    def nextWrite(): Option[QueryExecution] = Option(writes.poll(60, TimeUnit.SECONDS))
    if (profile || explain) spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "overwrite") writes.put(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val stages = ArrayBuffer.empty[(Int, String, Long, Long)]
    if (profile) spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        // Named by the distinct operation scopes of the stage's RDDs
        // (`Exchange`, `WholeStageCodegen (3)`, …), as the plan names its
        // operators: an AQE query stage's call site is the same
        // CompletableFuture lambda for every stage.
        val ops = si.rddInfos.sortBy(_.id).flatMap(_.scope).map(_.name.trim).distinct
        stages.synchronized(stages += ((si.stageId, ops.mkString(", ").take(100),
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          si.taskMetrics.executorRunTime)))
      }
    })
    if (GraftSession.warmUp(spark, sfDir) && (profile || explain)) nextWrite()
    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[benchone] unknown query: $name")
        case Some(fn) =>
          // Floor decomposition: DataFrame build (+ full Catalyst planning
          // under PROFILE) vs job execution.
          stages.synchronized(stages.clear())
          val t0 = System.nanoTime()
          val df =
            try { val d = fn(spark, sfDir); if (profile) d.queryExecution.executedPlan; Some(d) }
            catch { case e: Throwable => System.err.println(s"[benchone] $name plan: $e"); None }
          val t1 = System.nanoTime()
          val ran = df.exists { d =>
            try { d.write.format("noop").mode("overwrite").save(); true }
            catch { case e: Throwable => System.err.println(s"[benchone] $name: $e"); false }
          }
          val t2 = System.nanoTime()
          val written = if (ran && (profile || explain)) nextWrite() else None
          if (profile) {
            val phases = df.map(_.queryExecution.tracker.phases
              .map { case (k, v) => f"$k ${(v.endTimeMs - v.startTimeMs) / 1e3}%.3f" }
              .mkString(" ")).getOrElse("")
            println(f"$name%-28s plan ${(t1 - t0) / 1e9}%6.3f s  exec ${(t2 - t1) / 1e9}%6.3f s  [$phases]")
            stages.synchronized {
              println(f"   ${stages.size} stages, wall sum ${stages.map(_._3).sum / 1e3}%.2f s")
              stages.sortBy(_._1).take(45).foreach { case (id, n, w, r) =>
                println(f"   stage $id%4d wall $w%5d ms run $r%6d ms  $n")
              }
            }
          } else println(f"$name%-28s ${(t2 - t0) / 1e9}%8.2f s")
          if (explain) written.foreach(qe => println(qe.executedPlan.toString.take(12000)))
          spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
