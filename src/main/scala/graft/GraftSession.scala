package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session config every `graft` main runs on ([[Bench]],
  * [[BenchOne]], [[Probe]], [[PlanDump]], [[Verify]], [[VerifyScale]]),
  * so a drill times the plans the bench times. The shuffle partition
  * count is the only thing a caller chooses: 8 for the small-cell
  * timing mains, `cpus` for the dumps that run 10× data.
  *
  * Ad-hoc overrides for lever experiments: `SPARK_GRAFT_CONF="k=v,k=v"`
  * is applied last, so an A/B never needs a recompile; the committed
  * values below are what the bench measures. */
object GraftSession {
  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private lazy val overrides: Seq[(String, String)] =
    sys.env.getOrElse("SPARK_GRAFT_CONF", "").split(',').toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => Some(k.trim -> v.trim)
        case _ =>
          if (kv.trim.nonEmpty)
            System.err.println(s"[graft] ignoring malformed conf entry: '$kv'")
          None
      }
    }

  /** The committed session config, before the `SPARK_GRAFT_CONF`
    * overrides. Pure, so a spec can read it without starting a
    * SparkContext. */
  def conf(shufflePartitions: Int): Seq[(String, String)] = Seq(
    // 8 initial shuffle partitions for the timing mains, not `cpus`: AQE
    // coalesces shuffle OUTPUTS to the data size anyway, but the INITIAL
    // partition count still schedules that many tasks per exchange — 32
    // near-empty tasks per stage is pure scheduler overhead on MB-scale
    // SF inputs. Full-sweep A/B: 32 → 70.8 s, 8 → 29.6 s, 4 → 31.5 s (4
    // starves the cells with real work) — 8 is the measured floor.
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    // AQE stays ON — measured both ways on the full 117-query sweep:
    // ON 52.4 s vs OFF 69.9 s (same host, warm artifacts). The blanket
    // OFF trial lost badly on multi-distinct/percentile aggregates
    // (q84 0.96→2.86 s warm, q37 1.04→2.64 s): runtime coalescing and
    // SMJ→BHJ conversion pay even on MB inputs, and they are exactly
    // what a production run relies on at TB scale.
    "spark.sql.adaptive.enabled" -> "true",
    // THE dominant per-cell floor lever (52.4 s → 31.3 s on the full
    // sweep): whole-stage-codegen compiled classes are cached by
    // generated source in a cache of only 100 entries by default, and
    // 117 queries × several codegen stages each cycle it completely —
    // so the second measurement pass recompiled every stage (~50-400 ms
    // per stage of pure Janino time) and min-of-2 never saw a
    // compile-free run. The cache is weak-reference-keyed, so memory
    // cost is bounded by live plans.
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    // Constraint propagation spends optimizer time inferring IsNotNull/
    // transitive predicates — O(constraints²) on wide projections, and
    // measured ~60 ms/query here against schemas whose join keys are
    // already non-null. Correctness-neutral (it only ADDS inferred
    // filters). Round-9 full-sweep A/B: ON = 30.7 s vs OFF = 29.6 s on
    // the same 119 cells, per-cell deltas inside host noise.
    "spark.sql.constraintPropagation.enabled" -> "false",
    // Shuffle/spill blocks on tmpfs: MB-scale shuffle blocks are
    // latency- not capacity-bound, and a disk-backed /tmp is not.
    "spark.local.dir" ->
      (if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-bench-local"
       else System.getProperty("java.io.tmpdir")),
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.ui.enabled" -> "false")

  def build(shufflePartitions: Int): SparkSession = {
    val spark = (conf(shufflePartitions) ++ overrides)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warm-up: JIT, the codegen framework and parquet reader init
    * land here instead of inflating whichever query happens to run first.
    * Returns whether its noop write ran. */
  def warmUp(spark: SparkSession, sfDir: String): Boolean =
    try {
      spark.read.parquet(s"$sfDir/nation.parquet")
        .groupBy("n_regionkey").count()
        .write.format("noop").mode("overwrite").save()
      true
    } catch { case e: Throwable => System.err.println(s"[graft] warmup: $e"); false }
}
