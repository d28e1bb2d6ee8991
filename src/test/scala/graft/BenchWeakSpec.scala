package graft

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The weak-protocol decision rules ([[WeakRule]]) drilled on the exact
  * profiles that slipped past earlier rounds — deterministic unit form,
  * because the straddle signal fires only on genuine bimodality (best
  * published sample under 1 s, reproducible floor over it), which a
  * live planted-baseline run cannot manufacture on demand. The live
  * wiring (candidate selection → fresh min-of-3 confirm → weak entry
  * with src:"straddle") is exercised with the SPARK_GRAFT_STRADDLE
  * band override — see README's weak-protocol paragraph.
  */
class BenchWeakSpec extends AnyFunSuite with Matchers {

  test("the r15 q153 profile is flagged: clean gate base, in-band best sample, slow fresh floor") {
    // The hole VERDICT r15 ask #4 names, with the judge's own numbers:
    // DuckDB twin 0.023 s; the sf1 block's scale-config gate base dipped
    // under 1 s (0.9 s — signal 2 clean); the main pass's best-of-5
    // published 0.93 s (signal 1 clean: not >1 s); the judge's fresh
    // main-config min-of-3 sat at 1.01-1.13 s. Pre-r16 the cell
    // published clean under both signals; the straddle band must select
    // it and the fresh floor must flag.
    val baseline = 0.023
    WeakRule.gateCandidate(0.9, stallFlag = false, err = false, baseline) shouldBe false
    WeakRule.isWeak(0.93, stallFlag = false, err = false, baseline) shouldBe false
    // the new third signal: best sample 0.93 is in [0.8, 1.2] → confirm
    WeakRule.straddleCandidate(0.93, baseline) shouldBe true
    // the fresh min-of-3 floor (historical best does NOT vote) flags
    WeakRule.isWeak(1.01, stallFlag = false, err = false, baseline) shouldBe true
  }

  test("straddle band selects on both sides of 1 s and needs a baseline") {
    WeakRule.straddleCandidate(0.8, 0.1) shouldBe true
    WeakRule.straddleCandidate(1.2, 0.1) shouldBe true
    WeakRule.straddleCandidate(0.79, 0.1) shouldBe false // genuinely fast
    WeakRule.straddleCandidate(1.21, 0.1) shouldBe false // main signal's turf
    WeakRule.straddleCandidate(1.0, 0.0) shouldBe false  // no baseline cell
    // a big-baseline band cell can never flag inside the band's reach
    // (weak needs c > 2·baseline > hi) — skip the confirm churn; a real
    // multi-second regression publishes >hi and the main signal owns it
    WeakRule.straddleCandidate(0.97, 1.7) shouldBe false  // r16's q44
    WeakRule.straddleCandidate(1.05, 1.14) shouldBe false // r16's q173
    WeakRule.straddleCandidate(1.0, 0.59) shouldBe true   // just inside reach
    // drill override widens the band (SPARK_GRAFT_STRADDLE wiring) —
    // the baseline bound scales with it (hi/2)
    WeakRule.straddleCandidate(0.3, 0.1, lo = 0.0, hi = 99.0) shouldBe true
  }

  test("a confirmed floor publishes only when reproducibly past BOTH thresholds, unstalled") {
    WeakRule.isWeak(1.5, stallFlag = false, err = false, baseline = 0.5) shouldBe true
    WeakRule.isWeak(1.5, stallFlag = false, err = false, baseline = 0.9) shouldBe false // <2x
    WeakRule.isWeak(0.99, stallFlag = false, err = false, baseline = 0.01) shouldBe false // <1s
    WeakRule.isWeak(1.5, stallFlag = true, err = false, baseline = 0.01) shouldBe false // stall
    WeakRule.isWeak(1.5, stallFlag = false, err = true, baseline = 0.01) shouldBe false // abort
    WeakRule.isWeak(1.5, stallFlag = false, err = false, baseline = 0.0) shouldBe false
  }

  test("the r16 q179 profile is flagged: in-sweep best under 2x, standalone floor over it") {
    // The hole VERDICT r16 ask #5 names, with the judge's own numbers:
    // DuckDB twin 0.697 s; the sweep's best sample rode subtrees
    // pre-warmed by q117/q159 and published 1.394 s = 2.0x (main signal
    // clean: not >2x); the judge's standalone min-of-3 sat at
    // 1.96-1.97 s = 2.8x in three sessions. The pre-warm band must
    // select it and the fresh floor must flag.
    val baseline = 0.697
    WeakRule.isWeak(1.394, stallFlag = false, err = false, baseline) shouldBe false
    WeakRule.straddleCandidate(1.394, baseline) shouldBe false // over the band
    // the fourth signal: ratio 2.0 ∈ (1.5, 2] and sec > 1 s → confirm
    WeakRule.prewarmCandidate(1.394, baseline) shouldBe true
    // the fresh min-of-3 floor (historical best does NOT vote) flags
    WeakRule.isWeak(1.96, stallFlag = false, err = false, baseline) shouldBe true
  }

  test("pre-warm band selects only (1.5x, 2x] over 1 s with a baseline") {
    WeakRule.prewarmCandidate(1.394, 0.697) shouldBe true  // 2.0x boundary is IN
    WeakRule.prewarmCandidate(1.5, 0.697) shouldBe false   // >2x: main signal's turf
    WeakRule.prewarmCandidate(1.04, 0.697) shouldBe false  // <=1.5x: genuinely close
    WeakRule.prewarmCandidate(0.99, 0.4) shouldBe false    // under 1 s: can't flag
    WeakRule.prewarmCandidate(1.394, 0.0) shouldBe false   // no baseline cell
    // r16's honest heavy cells stay out: q176 1.29 s / 1.29 twin (1.0x),
    // q178 1.39 s / 0.88 twin (1.58x) is selected — and its fresh floor
    // (1.39 s = 1.6x < 2x) then clears, so selection costs one confirm,
    // never a false weak entry
    WeakRule.prewarmCandidate(1.29, 1.29) shouldBe false
    WeakRule.prewarmCandidate(1.39, 0.88) shouldBe true
    WeakRule.isWeak(1.39, stallFlag = false, err = false, 0.88) shouldBe false
  }

  test("gate-base candidacy keeps the r14 second-signal semantics") {
    // r14's q164: gate base 1.405 s vs baseline 0.04 — candidate even
    // though the main pass's best sample had cleared.
    WeakRule.gateCandidate(1.405, stallFlag = false, err = false, 0.04) shouldBe true
    WeakRule.gateCandidate(1.405, stallFlag = true, err = false, 0.04) shouldBe false
    WeakRule.gateCandidate(0.41, stallFlag = false, err = false, 0.04) shouldBe false
  }

  test("SparkEntry.cells: names distinct, 188 rows, every bound > 0") {
    // `queries` is a Map over the rows: a duplicated name would
    // silently drop a cell from it.
    val names = SparkEntry.cells.map(_.name)
    names.diff(names.distinct) shouldBe empty
    names.size shouldBe 188
    SparkEntry.cells.flatMap(c => c.bound ++ c.capSec).filterNot(_ > 0) shouldBe empty
  }

  test("perfbench's copy of the bench session config matches GraftSession") {
    // perfbench is a separate build and keeps its own session builder;
    // every spark.sql literal it sets must be GraftSession's value.
    val src = Source.fromFile("perfbench/src/main/scala/graftbench/Main.scala", "UTF-8")
    val text = try src.mkString finally src.close()
    val set = """\.config\("(spark\.sql\.[^"]+)",\s*"([^"]*)"\)""".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toSeq
    set.map(_._1) should contain allOf ("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.extensions")
    val graft = GraftSession.conf(8).toMap
    set.foreach { case (k, v) => withClue(k) { graft.get(k) shouldBe Some(v) } }
  }
}
