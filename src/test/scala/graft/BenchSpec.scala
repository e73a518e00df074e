package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Unit tests for Bench's contention-aware outlier re-time policy
 * (the "forced-contention smoke": under a loud canary a 2× outlier
 * must be re-timed even though it sits under the quiet 3× gate).
 */
class BenchSpec extends AnyFunSuite {

  test("retime factor interpolates from the 2x quiet gate to 1.5x loud") {
    assert(Bench.effectiveRetimeFactor(drift = 1.0) == 2.0)
    // the round-10 failure shape: drift 1.96 must already be near the
    // loud 1.5x gate, not still at the quiet one (old hard cliff at 2.0)
    assert(Bench.effectiveRetimeFactor(drift = 1.96) < 1.55)
    assert(Bench.effectiveRetimeFactor(drift = 1.5) == 1.75)
    assert(Bench.effectiveRetimeFactor(drift = 2.01) == 1.5)
    assert(Bench.effectiveRetimeFactor(drift = 5.31) == 1.5)
    // an explicitly tighter quiet factor is honored even when loud
    assert(Bench.effectiveRetimeFactor(drift = 5.0, quietFactor = 1.2) == 1.2)
    // an explicitly looser quiet factor still tightens when loud
    assert(Bench.effectiveRetimeFactor(drift = 5.0, quietFactor = 10.0) == 1.5)
  }

  test("a >2x outlier is re-timed even on a quiet run; a 1.8x one only when loud") {
    // round-9 regression shape: g13 read 4.265 s vs 1.976 s committed
    // (2.16×) — must now trip even at drift 1.0 (the quiet gate is 2×)
    val prev = Map("g13_weighted_pr" -> 1.976, "g01_pagerank" -> 1.692)
    val results = Seq("g13_weighted_pr" -> 4.265, "g01_pagerank" -> 2.9)
    val quiet = Bench.findOutliers(results, prev,
      Bench.effectiveRetimeFactor(drift = 1.0))
    assert(quiet == Seq("g13_weighted_pr"))
    // g01 at 1.71× its prior additionally trips once the sweep is loud
    val loud = Bench.findOutliers(results, prev,
      Bench.effectiveRetimeFactor(drift = 5.31))
    assert(loud == Seq("g13_weighted_pr", "g01_pagerank"))
  }

  test("round-10 shape: drift 1.96 retimes a 4.9x phantom AND a 2.6x one") {
    // q63 committed 2.073 vs 0.426 quiet; q56 1.862 vs 0.732 — both
    // slipped the old flat 3× gate? q63 did not (4.9×) but q60 at
    // 1.963/0.722 ≈ 2.7× did. The interpolated factor at drift 1.96
    // (≈1.52) catches both.
    val prev = Map("q63_set_snapshot" -> 0.426, "q60_call_paging" -> 0.722)
    val results = Seq("q63_set_snapshot" -> 2.073, "q60_call_paging" -> 1.963)
    val f = Bench.effectiveRetimeFactor(drift = 1.96)
    assert(Bench.findOutliers(results, prev, f).toSet ==
      Set("q63_set_snapshot", "q60_call_paging"))
  }

  test("failed readings and missing/garbage priors are never candidates") {
    val prev = Map("a" -> 1.0, "b" -> 0.0, "c" -> -2.0)
    val results = Seq("a" -> -1.0, "b" -> 99.0, "c" -> 99.0, "d" -> 99.0)
    assert(Bench.findOutliers(results, prev, 1.5).isEmpty)
    assert(Bench.findOutliers(Seq("a" -> 10.0), prev, 1.5) == Seq("a"))
  }

  test("round-11 shape: ~20% UNIFORM inflation trips the total canary") {
    // the committed r11 artifact ran ~1.196× its best same-code sweep
    // on every query — each reading under the per-query factor, the
    // SUM 19.6% over. The sweep-total canary must trip at drift 1.25.
    val prev = (1 to 50).map(i => s"q$i" -> 1.0).toMap
    val uniform = (1 to 50).map(i => s"q$i" -> 1.196)
    assert(Bench.totalInflated(uniform, prev, drift = 1.25))
    // per-query outliers do NOT fire on the same data (1.196 < factor)
    assert(Bench.findOutliers(uniform, prev,
      Bench.effectiveRetimeFactor(drift = 1.25)).isEmpty)
    // a 10% uniform run is within noise — no flag
    val mild = (1 to 50).map(i => s"q$i" -> 1.10)
    assert(!Bench.totalInflated(mild, prev, drift = 1.25))
    // a loud box (drift >= 2) is already discounted — never flagged
    assert(!Bench.totalInflated(uniform, prev, drift = 2.3))
    // queries without priors don't distort the comparison
    val withNew = uniform :+ ("brand_new" -> 99.0)
    assert(Bench.totalInflated(withNew, prev, drift = 1.0))
    assert(!Bench.totalInflated(mild :+ ("brand_new" -> 99.0), prev, 1.0))
  }

  test("inflation contributors rank by absolute excess seconds") {
    val prev = Map("big" -> 4.0, "mid" -> 1.0, "small" -> 0.1,
      "faster" -> 2.0, "nopri" -> -1.0)
    val results = Seq("big" -> 5.0, "mid" -> 1.6, "small" -> 0.4,
      "faster" -> 1.5, "unknown" -> 9.0, "nopri" -> 9.0)
    // big +1.0s, mid +0.6s, small +0.3s; faster improved, unknown/
    // garbage priors excluded
    assert(Bench.inflationContributors(results, prev, 2) ==
      Seq("big", "mid"))
    assert(Bench.inflationContributors(results, prev, 10) ==
      Seq("big", "mid", "small"))
  }

  test("priors come only from artifacts of the same sf and CPU count") {
    val line = """{"metric":"total","value":1.0,"unit":"sec",""" +
      """"queries":{"q01":0.5},"codegen_classes":{"q01":12},""" +
      """"sf":"/data/sf0.1","cpus":4,"runs":2}"""
    assert(Bench.sameShape(line, "/data/sf0.1", 4))
    assert(!Bench.sameShape(line, "/data/sf0.1", 32))
    assert(!Bench.sameShape(line, "/data/sf0.01", 4))
    // an artifact from before the CPU count was recorded is another shape
    val old = """{"metric":"total","queries":{"q01":0.5},"sf":"/data/sf0.1","runs":2}"""
    assert(!Bench.sameShape(old, "/data/sf0.1", 4))
    assert(!Bench.sameShape(old, "/data/sf0.1", 32))
  }
}
