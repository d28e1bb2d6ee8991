package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.sum

import graft.{ScaleCorpus, SparkEntry}
import graft.ops.Opportunity
import graft.pipeline.{Bronze, Gold, Silver}

/** Listener counts for the traced passes. Read them only after
  * [[BusDrain.drain]], since the listener bus delivers asynchronously. */
final class Counts extends SparkListener {
  private val c = Array.fill(8)(new AtomicLong)
  override def onJobStart(e: SparkListenerJobStart): Unit = c(0).incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c(1).incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(2).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c(3).addAndGet(m.executorRunTime)
      c(4).addAndGet(m.jvmGCTime)
      c(5).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(6).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c(7).addAndGet(m.diskBytesSpilled)
    }
  }
  def snapshot(): Array[Long] = c.map(_.get)
}

object Counts {
  val Names: Seq[String] = Seq("jobs", "stages", "tasks", "task_ms", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")
}

/** Minimal JSON writer for the result file `run.py` reads. */
object J {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
  }
}

/** One benchmark run in its own JVM: set up (several times, each with a
  * new SparkContext and empty scratch dirs), run the workload's passes for the requested
  * seconds, then write the check outputs. Timing is taken only around the
  * program's public entry points. Arguments are `key=value` pairs; see
  * `perfbench/run.py`, which launches this and computes the metrics. */
object Main {
  /** Set-ups per run; each ends with one warm-up pass. Three set-ups are
    * also the warm-up a fresh JVM needs before passes settle. */
  val Setups = 3
  /** Timed passes per run at least, so `pass_s` is a median of two or
    * more even when one pass outlasts `seconds`. */
  val MinPasses = 2

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = argv.map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap
    val workload = a("workload")
    val data = a("data")
    val run = a("run")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val corpus = workload == "corpus_10x"
    val cells = a.get("cells").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val cores = 4

    // A new SparkContext per set-up, so every set-up pays session start.
    def newSession(i: Int): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        // graft.Bench's main session config, except spark.local.dir, which
        // stays inside the run dir.
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.local.dir", s"$run/local")
        .config("spark.sql.extensions", "graft.functions.GraftExtensions")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      // The sf1 block's setting for the corpus cells.
      if (corpus) s.conf.set("spark.sql.shuffle.partitions",
        s.sparkContext.defaultParallelism.toString)
      s.conf.set("spark.graft.scratchDir", s"$run/scratch$i")
      s
    }
    var spark: SparkSession = null
    def sc = spark.sparkContext

    // ---- one op: build, plan and execute a cell, or one medallion layer
    val counts = new Counts
    var tracing = false
    def snap(): Array[Long] =
      if (tracing) { BusDrain.drain(sc); counts.snapshot() } else Array.emptyLongArray
    def delta(x: Array[Long], y: Array[Long]): Map[String, Long] =
      if (x.isEmpty) Map.empty else Counts.Names.zip(y.zip(x).map(p => p._1 - p._2)).toMap
    def markers(dirs: String*): Int = dirs.map { d =>
      def walk(f: File): Int =
        if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0)
        else if (f.getName == "_SUCCESS") 1 else 0
      walk(new File(d))
    }.sum
    def dirBytes(d: String): Long = {
      def walk(f: File): Long =
        if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
        else f.length
      walk(new File(d))
    }
    def err(t: Throwable): String = s"${t.getClass.getName}: ${t.getMessage}".take(300)

    /** Times `body` as one phase; returns its record. */
    def phase(body: => Unit): (Map[String, Any], Option[String]) = {
      val c0 = snap()
      val t0 = now()
      val failure = try { body; None } catch { case t: Throwable => Some(err(t)) }
      val t1 = now()
      (Map("s" -> secs(t0, t1)) ++ delta(c0, snap()), failure)
    }

    /** One op: build a DataFrame, plan it, execute it. Each phase is a
      * child span; `build` and `plan` are skipped for ops that are a
      * single call into the program (the medallion layers). */
    def op(name: String, scratch: String)(build: => DataFrame)(
        exec: DataFrame => Unit): Map[String, Any] = {
      val m0 = if (tracing) markers(scratch, s"$run/tmp") else 0
      val t0 = now()
      var df: DataFrame = null
      val (b, e1) = phase { df = build }
      val (p, e2) = if (e1.isEmpty && df != null) phase { df.queryExecution.executedPlan }
                    else (Map.empty, None)
      val (x, e3) = if (e1.isEmpty && e2.isEmpty) phase(exec(df)) else (Map.empty, None)
      val t1 = now()
      val error = e1.orElse(e2).orElse(e3)
      Map("op" -> name, "s" -> secs(t0, t1),
        "ok" -> error.isEmpty, "error" -> error,
        "build" -> (if (df == null && error.isEmpty) Map.empty else b),
        "plan" -> p, "exec" -> x) ++
        (if (tracing) Map("artifacts_built" -> (markers(scratch, s"$run/tmp") - m0))
         else Map.empty)
    }

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    def cellOp(s: SparkSession, dir: String, scratch: String, name: String): Map[String, Any] =
      op(name, scratch)(SparkEntry.queries(name)(s, dir))(noop)

    /** One full medallion build into `out`, one op per layer. A layer
      * call is one public entry point, so its whole span counts as exec;
      * the rank op has separate build, plan and exec spans. */
    def medallionBuild(s: SparkSession, out: String, scratch: String): Seq[Map[String, Any]] = {
      def bronze(n: String) = s.read.parquet(s"$out/bronze/$n")
      def layer(body: => Unit): DataFrame => Unit = _ => body
      val layers: Seq[(String, String, () => DataFrame, DataFrame => Unit)] = Seq(
        ("bronze", "bronze", () => null, layer(Bronze.run(s, data, out))),
        ("silver", "silver", () => null, layer(Silver.run(s, out))),
        ("gold", "gold", () => null, layer(Gold.run(s, out))),
        ("rank", "gold/opportunity_rank",
          () => Opportunity.opportunityRank(bronze("orders"), bronze("lineitem"),
            bronze("part"), bronze("customer")),
          (df: DataFrame) => df.write.mode(SaveMode.Overwrite)
            .parquet(s"$out/gold/opportunity_rank")))
      var failed = false
      layers.map { case (name, sub, build, exec) =>
        val r =
          if (failed) Map[String, Any]("op" -> name, "s" -> 0.0, "ok" -> false,
            "error" -> Some("skipped: an earlier layer failed"))
          else op(name, scratch)(build())(exec)
        failed = failed || r("ok") == false
        // The rank table lives under gold/; count it once, as rank's.
        val written = dirBytes(s"$out/$sub") -
          (if (name == "gold") dirBytes(s"$out/gold/opportunity_rank") else 0L)
        r ++ Map("written_bytes" -> written)
      }
    }

    def order(pass: Int): Seq[String] =
      new Random(seed * 1000003L + pass).shuffle(cells)

    def canary(s: SparkSession): Double = {
      val t0 = now()
      s.range(0, 2000000, 1, cores).agg(sum("id")).write.format("noop").mode("overwrite").save()
      secs(t0, now())
    }

    def deleteTree(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
      f.delete()
    }

    // ---- set-up, several times; the last one's session runs the passes
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupRecs = ArrayBuffer.empty[Map[String, Any]]
    var dir = data
    var buildNo = 0
    for (i <- 0 until Setups) {
      // The first set-up counts from JVM start and builds the 10x corpus
      // into a dir that outlives it; every set-up starts a new SparkContext
      // and builds the cells' artifacts from an empty scratch dir.
      val t0 = if (i == 0) now() - (System.currentTimeMillis() - jvmStartMs) * 1000000L else now()
      val s = newSession(i)
      spark = s
      val scratch = s"$run/scratch$i"
      val sessionS = secs(t0, now())
      var scaleS = 0.0
      if (corpus && i == 0) {
        val c0 = now()
        s.conf.set("spark.graft.scratchDir", s"$run/corpus")
        dir = ScaleCorpus.ensure(s, data, copies = 10)
        s.conf.set("spark.graft.scratchDir", scratch)
        scaleS = secs(c0, now())
      }
      val warmErrors = ArrayBuffer.empty[String]
      val p0 = now()
      if (workload == "medallion") {
        buildNo += 1
        medallionBuild(s, s"$run/med/b$buildNo", scratch).foreach(r =>
          r("error").asInstanceOf[Option[String]].foreach(warmErrors += _))
      } else order(-1 - i).foreach { n =>
        val r = cellOp(s, dir, scratch, n)
        r("error").asInstanceOf[Option[String]].foreach(e => warmErrors += s"$n: $e")
      }
      val t1 = now()
      setupRecs += Map("s" -> secs(t0, t1), "session_s" -> sessionS, "scalecorpus_s" -> scaleS,
        "first_pass_s" -> secs(p0, t1),
        "artifacts_built" -> markers(scratch, s"$run/tmp"),
        "artifact_bytes" -> dirBytes(scratch), "errors" -> warmErrors.take(5))
      if (i < Setups - 1) {
        s.stop()
        Seq(scratch, s"$run/med/b$buildNo").foreach(d => deleteTree(new File(d)))
      } else deleteTree(new File(s"$run/med/b$buildNo"))
    }
    val scratch = s"$run/scratch${Setups - 1}"

    // ---- timed region
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val canaries = ArrayBuffer.empty[Double]
    val markers0 = markers(scratch, s"$run/tmp")
    val start = now()
    var pass = 0
    var lastBuild = ""
    // Traced runs alternate untraced and traced passes, in pairs, so the
    // run measures its own tracing overhead.
    while (pass < MinPasses || secs(start, now()) < seconds || (trace && pass % 2 == 1)) {
      tracing = trace && pass % 2 == 1
      if (tracing) sc.addSparkListener(counts)
      val g0 = gcMs()
      val p0 = now()
      val recs =
        if (workload == "medallion") {
          buildNo += 1
          val out = s"$run/med/b$buildNo"
          val r = medallionBuild(spark, out, scratch)
          if (lastBuild.nonEmpty) deleteTree(new File(lastBuild))
          lastBuild = out
          r
        } else order(pass).map(n => cellOp(spark, dir, scratch, n))
      val p1 = now()
      if (tracing) { BusDrain.drain(sc); sc.removeSparkListener(counts) }
      ops ++= recs.map(_ ++ Map("pass" -> pass, "traced" -> tracing))
      passes += Map("pass" -> pass, "s" -> secs(p0, p1), "traced" -> tracing,
        "gc_ms" -> (gcMs() - g0))
      tracing = false
      canaries += canary(spark)
      pass += 1
    }
    val markers1 = markers(scratch, s"$run/tmp")
    // Live heap after full collections, outside the timed region. The
    // pause lets Spark's ContextCleaner drop the blocks of unreachable
    // shuffles and broadcasts that the first collection found.
    System.gc()
    Thread.sleep(500)
    System.gc()
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getName.contains("Old Gen"))
      .map(_.getUsage.getUsed).sum

    // ---- check outputs (untimed)
    val checkDir = s"$run/check"
    val checkErrors = ArrayBuffer.empty[(String, String)]
    cells.foreach { n =>
      try {
        SparkEntry.queries(n)(spark, dir).write.mode(SaveMode.Overwrite)
          .parquet(s"$checkDir/$n")
      } catch { case t: Throwable => checkErrors += n -> err(t) }
    }
    val oracle = SparkEntry.oracleSql
    val pw0 = new PrintWriter(s"$checkDir/oracle_sql.json")
    // The medallion check replays the rank with q17's oracle.
    val oracleNames = if (workload == "medallion") Seq("q17_opportunity_score") else cells
    pw0.write(J(oracleNames.flatMap(n => oracle.get(n).map(n -> _)).toMap))
    pw0.close()

    val result = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "data_dir" -> dir, "setups" -> setupRecs,
      "timed" -> Map("artifacts_built" -> (markers1 - markers0),
        "heap_live_bytes" -> oldGen),
      "passes" -> passes, "canary_s" -> canaries, "ops" -> ops,
      "gold_dir" -> (if (lastBuild.isEmpty) None else Some(s"$lastBuild/gold")),
      "check_dir" -> checkDir,
      "check_errors" -> checkErrors.map { case (n, e) => Map("op" -> n, "error" -> e) },
      "env" -> Map("spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "available_processors" -> Runtime.getRuntime.availableProcessors))
    val pw = new PrintWriter(a("out"))
    pw.write(J(result))
    pw.close()
    spark.stop()
  }
}
