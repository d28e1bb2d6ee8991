package graft
import org.apache.spark.sql.SparkSession
import SparkEntry.Query

/** The weak-cell decision rules, extracted so the q153-profile drill is a
  * deterministic unit test (BenchWeakSpec) instead of an unmanufacturable
  * integration run: the straddle signal fires only on genuine
  * bimodality (published best sample under 1 s, reproducible floor over
  * it), which a live drill cannot plant on demand — but the rule can be
  * fed the exact r15 q153 numbers and must flag them. */
private[graft] object WeakRule {
  /** The straddle band (VERDICT r15 ask #4): a baseline cell whose
    * published best sample lands here gets a FRESH min-of-3 confirm
    * under the main config no matter which side of 1 s it landed on. */
  val StraddleLo = 0.8
  val StraddleHi = 1.2

  /** The publication rule all three signals share: reproducibly past
    * BOTH thresholds (>1 s absolute, >2x the DuckDB baseline cell) on a
    * clean (unstalled, unerrored) measurement. */
  def isWeak(sec: Double, stallFlag: Boolean, err: Boolean,
             baseline: Double): Boolean =
    !stallFlag && !err && baseline > 0 && sec > 1.0 && sec / baseline > 2.0

  /** Straddle candidacy: the published best sample sits in the band,
    * the cell has a baseline to compare against, AND the baseline is
    * small enough that a floor in the band's reach could actually
    * flag — weak needs BOTH c > 1 s and c > 2·baseline, so for
    * baseline ≥ hi/2 the convicting floor sits above the band's top
    * and belongs to the main signal's territory, making the fresh
    * confirm pure measurement churn (q19/q22/q44/q173 land in the
    * band every run with 1.1-3.0 s twins and can never flag there). */
  def straddleCandidate(bestSec: Double, baseline: Double,
                        lo: Double = StraddleLo,
                        hi: Double = StraddleHi): Boolean =
    baseline > 0 && baseline < hi / 2 && bestSec >= lo && bestSec <= hi

  /** Gate-base candidacy (the r14 second signal): the sf1 block's
    * min-of-3 sf0.1 base — measured under the SCALE config — is past
    * both thresholds even though the main pass's best sample may not
    * be. Candidates are confirmed under the main config before
    * publishing. */
  def gateCandidate(baseSec: Double, stallFlag: Boolean, err: Boolean,
                    baseline: Double): Boolean =
    !stallFlag && !err && baseline > 0 && baseSec > 1.0 &&
      baseSec / baseline > 2.0

  /** Pre-warm-band candidacy — the FOURTH signal (VERDICT r16 ask #5,
    * the q179-profile hole): the sweep measures cells in an order that
    * pre-warms shared artifacts/subtrees, so a cell whose in-sweep best
    * sample lands just UNDER the 2x line (but over 1 s and over 1.5x)
    * can hide a standalone floor well past it (r16's q179: in-sweep
    * best 1.394 s vs a 0.697 s twin = 2.0x published clean; standalone
    * min-of-3 1.96 s = 2.8x). Any such cell is re-measured FRESH
    * min-of-3 under the main config and the weak rule applied to the
    * fresh floor — the straddle machinery with a RATIO band instead of
    * a seconds band (cells >2x && >1 s are the main signal's; the band
    * is half-open so the boundary sample 2.0x lands here, not nowhere). */
  def prewarmCandidate(sec: Double, baseline: Double): Boolean =
    baseline > 0 && sec > 1.0 && sec / baseline > 1.5 && sec / baseline <= 2.0
}

/** Benchmark main. Prints the per-query JSON record line (every query's
  * wall seconds) as soon as the gate-relevant passes finish, then — after
  * the optional 10x scale block — ONE short summary JSON line
  * (`{"total_sec":…,"n":…,"stalled":…,"canary":…,"sf1":…}`) so a tail
  * capture of stdout always retains the headline number and the scale
  * evidence even though the full record line is longer than the capture.
  * The session is [[GraftSession]]'s config with 8 shuffle partitions.
  *
  * Every cell is the MIN OF TWO full measurements — the same protocol the
  * DuckDB baseline uses (BASELINE_DUCKDB.json is "min of 2 passes" in one
  * warm process), so the comparison is symmetric: the second pass reuses
  * the JVM's codegen cache exactly as DuckDB's second pass reuses its
  * compiled pipelines, and a single-sample compile/JIT artifact (a
  * 12-branch regex categorizer costs ~1 s to codegen once, 8 ms to run)
  * never lands in the reported number.
  *
  * This host's vCPU stalls can also inflate a single measurement 10-30x
  * (the same query has measured 4.8 s and 156 s with identical code), so
  * on top of min-of-2:
  *
  *   1. A fixed CANARY job (constant work, no IO) is timed between every
  *      measurement. Its cost is flat on a healthy host; a spike means the
  *      host stalled in that window, so the adjacent query cell is marked
  *      a stall suspect rather than believed.
  *   2. The second pass runs in REVERSE order — a stall window covers
  *      consecutive cells, so reversing decorrelates the two samples of
  *      any one query; the per-query min is kept (a stall never makes a
  *      query faster).
  *   3. A cell whose min is still >3 s AND whose samples were BOTH
  *      canary-flagged gets one final third sample.
  *
  * The JSON carries `canary` stats and the `stalled` list so a reader can
  * tell measurement artifacts from real regressions without re-running.
  */
object Bench {
  /** One measurement or merged cell: (seconds, stall-flagged, errored). */
  type Sample = (Double, Boolean, Boolean)

  /** Drill/iteration hook: a comma list in `key` restricts the cells run.
    * NEVER set on recorded runs — totals are only comparable full-sweep. */
  private def envFilter(key: String): String => Boolean =
    sys.env.get(key).map(_.split(',').map(_.trim).toSet)
      .map(s => (n: String) => s.contains(n))
      .getOrElse(_ => true)

  // Merge samples of one cell: the min time of the SUCCESSFUL samples
  // (an errored run aborts in ~0 s — taking its min would publish a
  // bogus time); err only if every sample errored.
  private def mergeSamples(ss: Seq[Sample]): Sample = {
    val ok = ss.filterNot(_._3)
    if (ok.nonEmpty) ok.minBy(_._1) else ss.minBy(_._1)
  }

  private def r3(x: Double): String = (math.rint(x * 1000) / 1000).toString
  private def jsonNames(ns: Seq[String]): String = ns.map("\"" + _ + "\"").mkString("[", ",", "]")
  private def canaryJson(canaries: Seq[Double]): String = {
    val cs = canaries.sorted
    if (cs.isEmpty) "{}"
    else s"""{"n":${cs.size},"median_sec":${cs(cs.size / 2)},"max_sec":${cs.last}}"""
  }

  // Every JSON line is ALSO persisted to a core-count-stamped file
  // (r19): the recorded stdout capture lost both rounds'
  // per-query tables to the sbt `[info]` prefix, and its 32-core
  // bench_cells.json was clobbered by the subsequent 8-core run. A
  // `_c<cpus>` stamp makes runs at different core counts land in
  // different files, so the main-config evidence survives the scaling
  // run; within one config, a round's runs are separated by commits.
  private def writeFile(path: String, text: String): Unit =
    try {
      val pw = new java.io.PrintWriter(path, "UTF-8")
      pw.println(text); pw.close()
    } catch { case e: Throwable => System.err.println(s"[bench] write $path: $e") }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.build(8)
    import org.apache.spark.sql.functions.sum
    val queries = SparkEntry.queries

    // Canary: fixed in-memory aggregate — no parquet, no cache interaction;
    // ~100 ms healthy. Threshold is generous (5x warmed median, floor 2 s)
    // so only genuine multi-second stalls flag.
    def canaryOnce(): Double = {
      val t0 = System.nanoTime()
      try {
        spark.range(0, 2000000, 1, 4).agg(sum("id"))
          .write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable => System.err.println(s"[bench] canary: $e") }
      (System.nanoTime() - t0) / 1e9
    }

    GraftSession.warmUp(spark, sfDir)
    canaryOnce(); canaryOnce() // canary's own JIT

    val canaries = scala.collection.mutable.ArrayBuffer.empty[Double]
    def canary(): Double = { val c = canaryOnce(); canaries += c; c }
    def canaryMedian: Double = {
      val s = canaries.toSeq.sorted; if (s.isEmpty) 0.1 else s(s.size / 2)
    }
    def stallThreshold: Double = math.max(2.0, canaryMedian * 5)

    // noop sink: fully executes the query (every projected column computed)
    // without count()'s column pruning, which would reduce map-shaped
    // queries to a bare scan benchmark. Returns (seconds, errored): a
    // Throwable is swallowed so the sweep continues, but the ERROR FLAG
    // rides the result — a crashing cell finishes in ~0 s and, flagless,
    // would publish growth ≈ 0 and silently PASS the 10x gate (the
    // round-13 q152 hole: the scale corpus lacked the table the query
    // reads, the read threw in 0.2 ms, and the gate counted it green).
    def timeOne(name: String, fn: Query): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); false }
        catch { case e: Throwable => System.err.println(s"[bench] $name: $e"); true }
      val dt = (System.nanoTime() - t0) / 1e9
      // drop frames persisted inside operators (LSH signature/shingle
      // caches) so later queries aren't taxed by earlier queries' memory
      spark.catalog.clearCache()
      (dt, err)
    }
    // One measurement = canary, query, canary: a stall overlapping the query
    // almost always overlaps a bracket too. A bracket past the threshold
    // is also NAMED on stderr (the r19 canary chase):
    // `canary_stalled` in the summary says a stall happened somewhere in
    // 800+ canaries; this line says next to WHICH cell, so the starving
    // job is findable without a re-run.
    def measure(name: String, fn: Query): Sample = {
      val before = canary()
      val (dt, err) = timeOne(name, fn)
      val after = canary()
      val flagged = math.max(before, after) > stallThreshold
      if (flagged) System.err.println(
        f"[bench] canary stall adjacent to $name (before=$before%.3f s, " +
          f"after=$after%.3f s, threshold=$stallThreshold%.3f s)")
      (dt, flagged, err)
    }

    val names = queries.keys.toSeq.filter(envFilter("SPARK_GRAFT_ONLY")).sorted
    val pass1 = names.map { n => n -> measure(n, queries(n)) }.toMap
    // Second full pass, reverse order: a stall window that covered
    // q40..q44 in pass 1 would, re-run forward, plausibly cover them
    // again; reversed, the slow tail runs first while the window (if any)
    // sits elsewhere.
    val pass2 = names.reverse.map { n => n -> measure(n, queries(n)) }.toMap

    val merged: Map[String, Sample] = names.map { n =>
      n -> mergeSamples(Seq(pass1.get(n), pass2.get(n)).flatten)
    }.toMap
    // Third sample on two conditions (VERDICT r13 ask #7 — publish-side
    // flicker control): (a) both measurements canary-flagged and slow —
    // the original stall rule; (b) the two samples DISAGREE by more
    // than 2x on a cell big enough to matter (>0.4 s min) — this box's
    // documented 2-5x sub-second variance makes single-sample floor-
    // straddlers (q154/q159/q160/q161) oscillate across driver records;
    // one extra sample and min-of-3 keeps the published cell on the
    // quiet-box band without re-running the whole table.
    val finalResults: Map[String, Sample] = names.map { n =>
      val cur @ (t, _, _) = merged(n)
      val bothFlagged = pass2.contains(n) && pass1(n)._2 && pass2(n)._2
      val disagree = pass2.contains(n) && !pass1(n)._3 && !pass2(n)._3 &&
        math.max(pass1(n)._1, pass2(n)._1) >
          2.0 * math.min(pass1(n)._1, pass2(n)._1) && t > 0.4
      if ((t > 3.0 && bothFlagged) || disagree)
        n -> mergeSamples(Seq(cur, measure(n, queries(n))))
      else n -> cur
    }.toMap

    // Baseline cells are sf0.1 measurements, so the ratios only mean
    // something when this run IS sf0.1 — matched on the trailing path
    // segment EXACTLY (a dir named sf0.15 or .../sf0.1-old must not be
    // compared against sf0.1 baselines and emit bogus weak entries).
    val isSf01 = sfDir.stripSuffix("/").split('/').last == "sf0.1"

    // Per-cell ratio vs the recorded DuckDB baseline: the weak-cell
    // determination (>1 s AND >2x baseline) used to be judge-side
    // arithmetic; emitting it per run makes drift visible — and
    // gateable — without a judge. Observational for now: no red exit
    // criteria attached.
    val baselines: Map[String, Double] =
      try {
        val f = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_BASELINE",
          "BASELINE_DUCKDB.json"))
        if (!f.exists && isSf01)
          // loud, not silent: an empty ratio set must never read as a
          // passing weak-cell check (the summary emits weak:null below)
          System.err.println(s"[bench] baseline file ${f.getAbsolutePath} " +
            "not found (run from the repo root or set SPARK_GRAFT_BASELINE) " +
            "— ratio_vs_baseline and the weak list will NOT be computed")
        if (!f.exists || !isSf01) Map.empty
        else {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val q = om.readTree(f).path("queries")
          import scala.jdk.CollectionConverters._
          q.fieldNames().asScala.map(n => n -> q.path(n).asDouble()).toMap
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] baseline load: $e"); Map.empty }

    // CONFIRM BEFORE FLAGGING WEAK — the same reproduce-before-red
    // protocol the sf1 growth gate uses, applied to the weak rule: both
    // round-11 weak entries (q106 64.9x, q129 5.5x) sat at the 1 s
    // boundary on a box with documented 2-5x sub-second variance, and a
    // single boundary sample must not publish a weak flag the README
    // then has to argue with. Any cell the min-of-2 protocol would flag
    // (>1 s AND >2x its baseline) is re-measured fresh min-of-3; the
    // published cell is the best sample seen (a stall never makes a
    // query faster), so only a cell that is REPRODUCIBLY past both
    // thresholds lands in `weak`.
    val weakCandidates = names.filter { n =>
      baselines.get(n).exists(b =>
        b > 0 && finalResults(n)._1 > 1.0 && finalResults(n)._1 / b > 2.0)
    }
    val results: Map[String, Sample] =
      finalResults ++ weakCandidates.map { n =>
        System.err.println(
          s"[bench] weak candidate $n (${finalResults(n)._1} s) — " +
            "re-measuring (min of 3) to confirm")
        n -> mergeSamples(
          finalResults(n) +: (1 to 3).map(_ => measure(n, queries(n))))
      }

    val qs = names.map { k => s"\"" + k + "\":" + results(k)._1 }
      .mkString("{", ",", "}")
    val stalled = jsonNames(names.filter(results(_)._2))
    // Cells whose every sample threw: their published seconds measure an
    // abort, not the query — surfaced on both JSON lines so a reader (or
    // the driver) never mistakes them for fast cells.
    val erroredJson = jsonNames(names.filter(results(_)._3))
    val total = names.map(results(_)._1).sum

    val ratios: Seq[(String, Double)] = names.flatMap { n =>
      baselines.get(n).filter(_ > 0).map(b => n -> results(n)._1 / b) }
    val ratioJson = ratios
      .map { case (n, r) => "\"" + n + "\":" + r3(r) }.mkString("{", ",", "}")
    // weak is NULL (not []) when no baseline cells were compared — an
    // absent baseline file must be distinguishable from a clean pass;
    // serialization happens after the sf1 block (see weakAllJson).
    val weak = ratios.filter { case (n, r) => r > 2.0 && results(n)._1 > 1.0 }

    // The gate-relevant line prints BEFORE the sf1 block runs: a driver
    // timeout during the scale pass must never lose the headline number.
    val metricLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","canary":${canaryJson(canaries.toSeq)},"stalled":$stalled,"errors":$erroredJson,"ratio_vs_baseline":$ratioJson,"sf1":"see_sf1_line"}"""
    println(metricLine)
    writeFile(s"bench_metric_c$cpus.json", metricLine)
    System.out.flush()

    // The sf1 block retunes the session (shuffle partitions sized to
    // the 10x data, AQE re-pinned on); the weak rule's thresholds are
    // calibrated on the MAIN protocol's config, so the confirm loop
    // below restores BOTH knobs first (an SPARK_GRAFT_CONF AQE
    // experiment included).
    val mainShufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    val mainAqe = spark.conf.get("spark.sql.adaptive.enabled")
    // Off by default at non-sf0.1 dirs and switchable off via
    // SPARK_GRAFT_SF1=0. A scale cell that breaches its declared growth
    // bound turns the whole run red (rc 3) after all JSON lines have
    // printed — the harness, not a human reading the JSON, catches the
    // next quadratic.
    val (sf1Json, growthViolations, gateBases) =
      if (sys.env.getOrElse("SPARK_GRAFT_SF1", "1") == "0" || !isSf01)
        ("null", Nil, Map.empty[String, Sample])
      else scaleBlock(spark, sfDir, measure)

    // The driver archives only the last ~2000 chars of stdout. Round 8's
    // combined summary line proved the sf1 json alone can exceed that and
    // push the headline out of the capture window — so the sf1 evidence
    // gets its own line, and the LAST line is a tiny fixed-size summary
    // that always fits. Key names deliberately differ from the main
    // line's so no parser mistakes either for the per-query record.
    println(s"""{"sf1":$sf1Json}""")
    writeFile(s"bench_sf1_c$cpus.json", s"""{"sf1":$sf1Json}""")

    // Shared confirm for the gate-base/straddle/prewarm signals: fresh
    // min-of-3 under the main config, and — when that floor is about to
    // PUBLISH a weak flag — two more samples before it may (round 17:
    // the r17 interim closing run's confirms landed in a contention
    // window the 2 s-absolute stall floor ignores — canary brackets at
    // 1.0 s = 25x median read as clean — and three cells with
    // fresh-JVM floors of 0.5-1.0 s published weak at 1.3-1.6 s;
    // min-of-5-on-flag makes a false flag need FIVE inflated samples,
    // while a genuinely slow cell just reconfirms. The min is kept
    // either way — a stall never makes a query faster).
    def confirmWeakFloor(n: String): Option[Double] = {
      val first = (1 to 3).map(_ => measure(n, queries(n)))
      val (c, cFlag, cErr) = mergeSamples(first)
      if (!WeakRule.isWeak(c, cFlag, cErr, baselines(n))) None
      else {
        System.err.println(
          s"[bench] $n min-of-3 floor $c s is over both thresholds — " +
            "buying 2 more samples before publishing")
        val (c5, f5, e5) =
          mergeSamples(first ++ (1 to 2).map(_ => measure(n, queries(n))))
        if (WeakRule.isWeak(c5, f5, e5, baselines(n))) Some(c5) else None
      }
    }
    // Band override for drills: SPARK_GRAFT_STRADDLE="lo,hi" (e.g.
    // "0,99" widens it so a planted-baseline drill can prove the flag
    // fires on any cell — README's weak-protocol paragraph notes the
    // recipe).
    val (straddleLo, straddleHi) =
      sys.env.get("SPARK_GRAFT_STRADDLE").map(_.split(',')) match {
        case Some(Array(lo, hi)) => (lo.trim.toDouble, hi.trim.toDouble)
        case _ => (WeakRule.StraddleLo, WeakRule.StraddleHi)
      }
    def base(n: String): Double = baselines.getOrElse(n, 0.0)
    // The three confirmed signals, in publication order, each a list of
    // (cell, stderr reason). Every candidate is re-measured FRESH under
    // the main config and the weak rule applied to that floor — the
    // historical sample does NOT vote (it is exactly the lucky dip
    // under test). A cell an earlier signal already flagged is skipped.
    val signals: Seq[(String, Seq[(String, String)])] = Seq(
      // GATE BASE — the second signal (r14): the sf1 block's
      // min-of-3 sf0.1 base, immune to the best-sample lucky-dip blind
      // spot (the main table publishes the best of up to 5 samples, so
      // one sub-threshold dip permanently cleared q164/q165 in r14).
      // Gate bases are measured under the SCALE config (~4x per-stage
      // overhead on megabyte cells), so a candidate is CONFIRMED under
      // the restored main config before it may publish: a genuinely
      // slow cell confirms at either width, a config-sensitive small
      // cell like q59 clears. Stall-flagged or errored bases never flag.
      "gate_base" -> gateBases.toSeq.sortBy(_._1).collect {
        case (n, (b, bf, err)) if WeakRule.gateCandidate(b, bf, err, base(n)) =>
          n -> (s"gate-base weak candidate $n ($b s at scale config) — " +
            "confirming (min of 3) under the main config")
      },
      // STRADDLE BAND — the third signal (r15, the q153-profile
      // hole): a cell whose sf1-config base dips under 1 s but whose
      // MAIN-config floor sits above it clears both signals above (r15's
      // q153: standalone min-of-3 >=1.0 s in two sessions while both read
      // clean). Any baseline cell whose published best sample lands in
      // [0.8 s, 1.2 s] is confirmed whichever side of 1 s it landed on.
      "straddle" -> names.filter(n =>
        WeakRule.straddleCandidate(results(n)._1, base(n), straddleLo, straddleHi)).map(n =>
        n -> (s"straddle-band cell $n (best sample ${results(n)._1} s) — " +
          "confirming floor (fresh min of 3) under the main config")),
      // PRE-WARM BAND — the fourth signal (r16, the q179-profile
      // hole): ratio in (1.5x, 2x] AND sec > 1 s — an in-sweep best
      // sample that cleared the 2x line only because the sweep
      // pre-warmed its shared subtrees. See [[WeakRule.prewarmCandidate]].
      "prewarm" -> names.filter(n => WeakRule.prewarmCandidate(results(n)._1, base(n))).map(n =>
        n -> (s"pre-warm-band cell $n (best sample ${results(n)._1} s, " +
          s"ratio ${r3(results(n)._1 / baselines(n))}) — " +
          "confirming standalone floor (fresh min of 3) under the main config")))
    spark.conf.set("spark.sql.shuffle.partitions", mainShufflePartitions)
    spark.conf.set("spark.sql.adaptive.enabled", mainAqe)
    // Clean state for the confirms: no frame or garbage the sf1 block
    // left behind may tax them (ROADMAP carry-over 1).
    spark.catalog.clearCache()
    System.gc()
    val flagged = scala.collection.mutable.Set(weak.map(_._1): _*)
    val confirmedWeak = signals.flatMap { case (src, candidates) =>
      candidates.filterNot(c => flagged(c._1)).flatMap { case (n, why) =>
        System.err.println(s"[bench] $why")
        confirmWeakFloor(n).map { c =>
          flagged += n
          s"""{"q":"$n","sec":$c,"ratio":${r3(c / baselines(n))},"src":"$src"}"""
        }
      }
    }
    // null (not []) only when NO signal had baseline cells to compare —
    // an absent baseline file must be distinguishable from a clean pass,
    // but a gate-base finding must never be discarded just because the
    // main sweep's cells lacked baselines.
    val weakAllJson =
      if (ratios.isEmpty && confirmedWeak.isEmpty) "null"
      else (weak.map { case (n, r) =>
        s"""{"q":"$n","sec":${results(n)._1},"ratio":${r3(r)},"src":"main"}"""
      } ++ confirmedWeak).mkString("[", ",", "]")
    // Canary verdict (VERDICT r16 ask #4): a contended host run must be
    // LEGIBLE as such from the summary alone — r16's driver record read
    // 82.99 s against a quiet-box 58.20 s on the same tree, and the only
    // tell was canary max 4.62 s vs 0.061 s median buried in the canary
    // object. max > 20x median is far past this box's healthy jitter.
    // Recomputed over ALL canaries (the sf1 block + confirm passes ran
    // since the record line's snapshot) so the verdict covers the run —
    // and the summary's canary OBJECT is the same full-run set, so the
    // printed max is the one the verdict judged (the record line keeps
    // its main-pass snapshot).
    val csF = canaries.toSeq.sorted
    val canaryStalled = csF.nonEmpty && csF.last > 20 * csF(csF.size / 2)
    // Per-cell record file (VERDICT r16 ask #4): the full per-query line
    // above outlives the driver's stdout tail capture only sometimes, so
    // round-over-round per-cell regressions weren't diffable without a
    // re-run. One sorted line per cell, written into the repo (the
    // driver commits it with the round) — stable key order, 3-decimal
    // ratios, so a git diff shows exactly which cells moved. A stamped
    // twin beside the default (r19): the scaling run
    // (different SPARK_GRAFT_CPUS) overwrote the main config's per-cell
    // file in r19; `_c<cpus>` keeps both.
    val cellsPath = sys.env.getOrElse("SPARK_GRAFT_CELLS_OUT", "bench_cells.json")
    val cellsPaths =
      if (sys.env.contains("SPARK_GRAFT_CELLS_OUT")) Seq(cellsPath)
      else Seq(cellsPath, s"bench_cells_c$cpus.json")
    val cellLines = names.map { n =>
      val ratio = baselines.get(n).filter(_ > 0)
        .map(b => r3(results(n)._1 / b)).getOrElse("null")
      s"""{"q":"$n","sec":${r3(results(n)._1)},"ratio":$ratio}"""
    }
    cellsPaths.foreach(writeFile(_, cellLines.mkString("[\n", ",\n", "\n]")))
    val summaryLine = s"""{"total_sec":$total,"n":${names.size},"stalled":$stalled,"errors":$erroredJson,"canary":${canaryJson(csF)},"canary_stalled":$canaryStalled,"cells":"$cellsPath","baseline_cells":${ratios.size},"weak":$weakAllJson}"""
    writeFile(s"bench_summary_c$cpus.json", summaryLine)
    println(summaryLine)
    spark.stop()
    if (growthViolations.nonEmpty) {
      System.err.println(
        s"[bench] GROWTH BOUND VIOLATED at 10x data: ${growthViolations.mkString(", ")}")
      sys.exit(3)
    }
  }

  /** Scale evidence: the dedup/clustering family at 10x documents. Every
    * 100 TB argument in this repo is from plan shape; this block adds
    * MEASUREMENT: the same queries on a synthesized 10x corpus. Per-query
    * fixed cost (scheduling, codegen, persist barriers) dominates the
    * sf0.1 cells, so time should grow far less than 10x — the
    * amortization claim made with data. Returns the `sf1` JSON, the
    * cells that breached the growth gate, and each scale cell's sf0.1
    * gate base (min-of-3 under the scale config) for the weak rule. */
  private def scaleBlock(spark: SparkSession, sfDir: String,
                         measure: (String, Query) => Sample)
      : (String, Seq[String], Map[String, Sample]) = try {
    // AQE explicitly (re-)pinned ON for the scale pass regardless of
    // any SPARK_GRAFT_CONF experiment on the main table: at 10x data
    // the runtime machinery (skew-join split above all — the shingle
    // self-join is skew-prone) is what a production run relies on.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // Shuffle partitions sized to the DATA for the scale pass — the
    // operators deliberately leave their data exchanges advisory so
    // the session knob (not a pinned count) sets their width, which
    // is exactly how a production job scales; 8 initial partitions
    // are the small-cell tuning and would cap the 10x corpus at a
    // quarter of the cores (AQE coalesces, it never widens).
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toString)
    val sf1Dir = ScaleCorpus.ensure(spark, sfDir, copies = 10)
    // Heap hygiene between the full-query sweep and the scale cells:
    // carried-over garbage skews the first multi-second sf1 joins.
    spark.catalog.clearCache()
    System.gc()
    // Drill/iteration hook for the SCALE list; like SPARK_GRAFT_ONLY,
    // never set on recorded runs.
    val scaleFilter = envFilter("SPARK_GRAFT_SCALEQS")
    // Min-of-3 for BOTH sides of the ratio, measured back-to-back in
    // the SAME session config: round 9's q122 growth read 4.6x on one
    // run and 13x on another because the denominator came from the
    // main table (different shuffle-partition config, ~80 ms base,
    // min-of-2) — noise the growth division amplifies. Three samples
    // each way and a same-config base make the published factor
    // reproducible.
    def minOf3(name: String, fn: Query, dir: String): Sample =
      mergeSamples((1 to 3).map(_ => measure(name, (sp, _) => fn(sp, dir))))
    // Override for drills: SPARK_GRAFT_GROWTH_BOUND replaces ALL
    // bounds (e.g. =0.1 forces a red run to prove the gate fires).
    val boundFor: Cell => Double =
      sys.env.get("SPARK_GRAFT_GROWTH_BOUND").map(_.toDouble) match {
        case Some(o) => _ => o
        case None    => _.bound.get
      }
    // Noise guard: a bound verdict needs a base the clock can resolve;
    // cells faster than this at sf0.1 get measured + published but
    // never gate (their growth factor divides by scheduler jitter).
    val minGateBase = 0.05
    val firstPass = SparkEntry.cells
      .filter(c => c.bound.isDefined && scaleFilter(c.name)).map { c =>
        val (base, bFlag, bErr) = minOf3(c.name, c.build, sfDir)
        val (t, tFlag, tErr) = minOf3(c.name, c.build, sf1Dir)
        (c, base, bFlag, t, tFlag, bErr || tErr)
      }
    // A cell's absolute sf1 wall-time cap (`Cell.capSec`) backs its
    // ratio band.
    def breaches(c: Cell, base: Double, bFlag: Boolean,
                 t: Double, tFlag: Boolean): Boolean =
      !bFlag && !tFlag &&
        ((base >= minGateBase && t / base > boundFor(c)) || c.capSec.exists(t > _))
    // UNMEASURED = RED: a cell whose samples all THREW on either side,
    // or whose sf1 time is below the clock floor while its base is
    // measurable (a real query on 10x data is never faster than the
    // resolvable sf0.1 floor — a near-zero sf1 reading means the cell
    // aborted without throwing). The round-13 hole was exactly this:
    // q152's sf1 table was missing, the read threw in 0.2 ms, and
    // growth ≈ 0 sailed under every bound. The gate's whole value is
    // that it cannot be passed silently — an unmeasured cell fails it.
    def unmeasured(base: Double, t: Double, err: Boolean): Boolean =
      err || (base >= minGateBase && t < minGateBase)
    // CONFIRM BEFORE RED: wall-clock cells this small carry 2-5x
    // run-to-run variance under unseen box load (observed across
    // consecutive calibration runs — one run's q20 base read 0.28 s
    // against 0.06 s on the runs beside it, same code). A transient
    // almost never survives a fresh min-of-3 re-measure of both
    // sides; a structural superlinearity always does. Only a
    // REPRODUCED breach goes red; the published cell is the better
    // (second) measurement so the JSON reflects what was gated on.
    val measured = firstPass.map {
      case (c, base, bFlag, t, tFlag, err)
          if breaches(c, base, bFlag, t, tFlag) || unmeasured(base, t, err) =>
        System.err.println(
          s"[bench] growth gate suspect on ${c.name} " +
            s"(${if (unmeasured(base, t, err)) "unmeasured" else s"${t / base}x"}) " +
            "— re-measuring to confirm")
        System.gc()
        val (b2, bf2, be2) = minOf3(c.name, c.build, sfDir)
        val (t2, tf2, te2) = minOf3(c.name, c.build, sf1Dir)
        (c, b2, bf2, t2, tf2, be2 || te2)
      case m => m
    }
    val violations = measured.collect {
      case (c, base, bFlag, t, tFlag, err)
          if breaches(c, base, bFlag, t, tFlag) || unmeasured(base, t, err) => c.name
    }
    val cells = measured.map { case (c, base, bFlag, t, tFlag, err) =>
      // A missing/zero base would interpolate NaN/Infinity — not valid
      // JSON; emit null so a reader sees "no growth factor" instead of
      // a JSON parser rejecting the whole line. An errored
      // cell's growth is null too: its seconds measure an abort.
      val baseJson = if (base.isNaN || base <= 0.0) "null" else base.toString
      val growthJson =
        if (base.isNaN || base <= 0.0 || err) "null" else (t / base).toString
      s""""${c.name}":{"sec":$t,"sf01_sec":$baseJson,"growth_x":$growthJson,"bound_x":${boundFor(c)},"stall_suspect":${bFlag || tFlag},"err":$err}"""
    }
    val gateBases = measured.map { case (c, base, bFlag, _, _, err) =>
      c.name -> (base, bFlag, err)
    }.toMap
    // ---- IO evidence for the incremental family (r13):
    // maintenance vs full-rebuild task metrics at BOTH scales.
    // The claim under measurement is stage volume — maintenance
    // shuffles delta-sized data where the rebuild shuffles the
    // corpus — so `shuffle_ratio` (maint/rebuild, ~delta fraction)
    // is the headline; scan-side bytes/records ride along (see
    // IoEvidence's scaladoc for why the scan ratio is ~1 in this
    // harness). Artifacts are already built by the growth cells
    // above, so these runs measure serving+maintenance, not setup.
    val ioCells =
      if (sys.env.getOrElse("SPARK_GRAFT_IO", "1") == "0") Nil
      else {
        def fmtPair(maint: Query, rebuild: Query, dir: String): String = {
          // Warm the maintenance side UNTIMED first (the spec's
          // protocol): the model family's measured halves read the
          // stored delta artifact, which no growth cell builds —
          // on a fresh artifact tag its one-time build (full
          // re-hash + diff + parquet write) would otherwise land
          // inside the metered window and inflate the published
          // ratios on exactly the first recorded run.
          try {
            maint(spark, dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
          } catch { case e: Throwable =>
            System.err.println(s"[bench] io warm: $e") }
          val m = IoEvidence.measure(spark, maint(spark, dir))
          val r = IoEvidence.measure(spark, rebuild(spark, dir))
          val ratio =
            if (r.shuffleWrite > 0) r3(m.shuffleWrite.toDouble / r.shuffleWrite)
            else "null"
          val cpuRatio =
            if (r.cpuNs > 0) r3(m.cpuNs.toDouble / r.cpuNs) else "null"
          s"""{"maint":${m.json},"rebuild":${r.json},""" +
            s""""shuffle_ratio":$ratio,"cpu_ratio":$cpuRatio}"""
        }
        // Each cell's (maintenance, rebuild) pair and its regime: `Cell.io`.
        for (c <- SparkEntry.cells; (m, r) <- c.io if scaleFilter(c.name)) yield
          try s""""${c.name}":{"sf01":${fmtPair(m, r, sfDir)},"sf1":${fmtPair(m, r, sf1Dir)}}"""
          catch { case e: Throwable =>
            System.err.println(s"[bench] io evidence ${c.name}: $e")
            s""""${c.name}":null""" }
      }
    // Forced-distributed lane (see `Cell.forced`), min-of-3 on each side
    // like the growth cells; skippable for drills via SPARK_GRAFT_DIST=0.
    val distCells =
      if (sys.env.getOrElse("SPARK_GRAFT_DIST", "1") == "0") Nil
      else for (c <- SparkEntry.cells; fn <- c.forced if scaleFilter(c.name)) yield {
        val n = c.name
        val (b, bFlag, bErr) = minOf3(s"dist:$n", fn, sfDir)
        val (t, tFlag, tErr) = minOf3(s"dist:$n", fn, sf1Dir)
        s""""$n":{"sf01_sec":$b,"sec":$t,""" +
          s""""stall_suspect":${bFlag || tFlag},"err":${bErr || tErr}}"""
      }
    (s"""{"copies":10,"dir":"$sf1Dir",""" +
      s""""growth_violations":${jsonNames(violations)},""" +
      s""""io":${ioCells.mkString("{", ",", "}")},""" +
      s""""dist":${distCells.mkString("{", ",", "}")},""" +
      s""""queries":${cells.mkString("{", ",", "}")}}""",
      violations, gateBases)
  } catch {
    case e: Throwable =>
      System.err.println(s"[bench] sf1 block skipped: $e")
      ("null", Nil, Map.empty)
  }
}

/** Synthesizes the 10x-documents scale corpus the `sf1` bench block runs
  * on. Each copy k re-skins the source corpus by suffixing every word
  * with `_k` (embeddings: a per-copy affine nudge), so intra-copy
  * duplicate/near-dup structure is preserved exactly while cross-copy
  * shingles never collide — pair counts scale LINEARLY with the copy
  * count, the way a real corpus grows, instead of quadratically the way
  * naive replication would. `lineitem` rides along for the graph-family
  * cells (q152 reads order→part incidence): copy k salts BOTH
  * `l_orderkey` and `l_partkey` by k·idStep, so every copy preserves
  * the per-order fan distribution exactly (the fan-guard theorem is
  * exercised at 10x incidence) while cross-copy orders/parts never
  * collide — incidence and co-occurrence pairs grow linearly.
  * Built once per source dir and build, at `scratchDir/scale10x/<tag>`
  * ([[Tables.tag]] of the source dir, so regenerated testdata or changed
  * code rebuilds it), via [[Tables.writePathIfAbsent]]. */
object ScaleCorpus {
  def ensure(spark: SparkSession, srcDir: String, copies: Int): String = {
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.functions._
    val out = s"${Tables.scratchDir(spark)}/scale10x/${Tables.tag(spark, srcDir)}"
    val idStep = 10L * 1000 * 1000
    def salted(c: String, k: Int): Column = col(c) + lit(k * idStep)
    // Copy k ≥ 1 of each table, re-skinned so no key collides across copies.
    val skins: Seq[(String, (DataFrame, Int) => DataFrame)] = Seq(
      "documents" -> ((src, k) => src.select(salted("doc_id", k).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          w => concat(w, lit(s"_$k")))).as("text"),
        col("lang"), col("source"), col("n_chars"))),
      // Circular component rotation: preserves every norm and the
      // pairwise-distance DISTRIBUTION within a copy, while pointing
      // cross-copy vectors in genuinely different directions — an
      // affine nudge would drift all copies toward one corner and
      // overfill a few IVF buckets (superlinear candidate growth
      // that says nothing about real corpus scaling).
      "embeddings" -> { (src, k) =>
        val d = size(col("embedding"))
        val r = lit(k) % d
        src.select(salted("vec_id", k).as("vec_id"),
          concat(slice(col("embedding"), r + 1, d - r),
            slice(col("embedding"), lit(1), r)).as("embedding"),
          col("label"))
      },
      // event_id AND user_id salted: each user's timeline keeps its
      // shape while cross-copy users never collide.
      "events" -> ((src, k) => src.withColumn("event_id", salted("event_id", k))
        .withColumn("user_id", salted("user_id", k))),
      "lineitem" -> ((src, k) => src.withColumn("l_orderkey", salted("l_orderkey", k))
        .withColumn("l_partkey", salted("l_partkey", k))))
    for ((table, skin) <- skins) {
      val path = s"$out/$table.parquet"
      Tables.writePathIfAbsent(spark, path) {
        val src = spark.read.parquet(s"$srcDir/$table.parquet")
        (0 until copies).map(k => if (k == 0) src else skin(src, k))
          .reduce(_.unionByName(_))
          .repartition(8)
          .write.mode("overwrite").parquet(path)
      }
    }
    out
  }
}
