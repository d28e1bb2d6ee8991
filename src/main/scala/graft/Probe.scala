package graft

import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The one listener recorder: where a body's Spark jobs, stages, task
  * time and bytes went. [[IoEvidence.measure]] and the specs' job counts
  * read it; `runMain graft.Probe <cells…>` is the profiler over it.
  *
  * The listener bus delivers asynchronously, so [[run]] drains it
  * exactly (`listenerBus.waitUntilEmpty`) before registering its
  * listener, so no earlier job's events are counted, and again after the
  * body, so every event of the body's jobs is. Nothing else may run jobs
  * on the session meanwhile: their events would be counted too. */
object Probe {

  /** A completed stage, named by the distinct operation scopes of its
    * RDDs (`Exchange`, `WholeStageCodegen (3)`, …), as the plan names its
    * operators: an AQE query stage's call site is the same
    * CompletableFuture lambda for every stage. */
  final case class Stage(id: Int, name: String, wallMs: Long, runMs: Long)

  /** Jobs started, tasks ended and stages completed (by id) while the body
    * ran, and the task-metric sums of those tasks. */
  final case class Record(jobs: Int, tasks: Int, stages: Seq[Stage], io: IoEvidence.Io)

  private final class Recorder extends SparkListener {
    private var jobs, tasks = 0
    private var bytes, records, shuffle, cpu = 0L
    private val stages = ArrayBuffer.empty[Stage]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        bytes += m.inputMetrics.bytesRead
        records += m.inputMetrics.recordsRead
        shuffle += m.shuffleWriteMetrics.bytesWritten
        cpu += m.executorCpuTime
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val ops = si.rddInfos.sortBy(_.id).flatMap(_.scope).map(_.name.trim).distinct
      stages += Stage(si.stageId, ops.mkString(", "),
        si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
        si.taskMetrics.executorRunTime)
    }

    def record: Record = synchronized {
      Record(jobs, tasks, stages.sortBy(_.id).toSeq, IoEvidence.Io(bytes, records, shuffle, cpu))
    }
  }

  /** Runs `body` and returns its result with the [[Record]] of the Spark
    * work it launched. */
  def run[T](spark: SparkSession)(body: => T): (T, Record) = {
    val sc = spark.sparkContext
    BusDrain.drain(sc)
    val recorder = new Recorder
    sc.addSparkListener(recorder)
    try {
      val out = body
      BusDrain.drain(sc)
      (out, recorder.record)
    } finally sc.removeSparkListener(recorder)
  }

  /** The profiler: `runMain graft.Probe <cells…>` on [[BenchOne]]'s
    * session, warm-up and noop sink (`SPARK_GRAFT_SF_DIR`, default sf0.1).
    * Per cell it prints DataFrame build + Catalyst planning vs execution,
    * the stage table with the cell's [[IoEvidence.Io]] sums (shuffle
    * bytes written among them), the executed (final adaptive) plan and,
    * for a cell with a [[Cell.io]] pair, the [[IoEvidence.Io]] sums of its
    * maintenance and rebuild halves (the maintenance side warmed first, as
    * Bench's `io` block does). */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(8)
    // The last successful execution's plan: the cell's noop write, which
    // `run`'s drain has delivered by the time it returns.
    val written = new AtomicReference[QueryExecution]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        written.set(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    GraftSession.warmUp(spark, sfDir)
    args.foreach { name =>
      SparkEntry.cells.find(_.name == name) match {
        case None => System.err.println(s"[probe] unknown query: $name")
        case Some(cell) =>
          try {
            val ((planS, execS), rec) = run(spark) {
              val t0 = System.nanoTime()
              val df = cell.build(spark, sfDir)
              df.queryExecution.executedPlan
              val t1 = System.nanoTime()
              noop(df)
              ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
            }
            println(f"$name%-28s plan $planS%6.3f s  exec $execS%6.3f s  " +
              s"${rec.jobs} jobs, ${rec.tasks} tasks")
            println(f"   ${rec.stages.size} stages, wall sum ${rec.stages.map(_.wallMs).sum / 1e3}%.2f s, " +
              s"io ${rec.io.json}")
            rec.stages.take(45).foreach { s =>
              println(f"   stage ${s.id}%4d wall ${s.wallMs}%5d ms run ${s.runMs}%6d ms  ${s.name.take(100)}")
            }
            println(written.get.executedPlan.toString.take(12000))
            cell.io.foreach { case (maint, rebuild) =>
              noop(maint(spark, sfDir))
              println(s"   io maint ${IoEvidence.measure(spark, maint(spark, sfDir)).json}")
              println(s"   io rebuild ${IoEvidence.measure(spark, rebuild(spark, sfDir)).json}")
            }
          } catch { case e: Throwable => System.err.println(s"[probe] $name: $e") }
          spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
