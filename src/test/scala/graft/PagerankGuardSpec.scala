package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.GraphQueries

/** The int64 overflow bound of the integer-exact PageRank
  * (85 · N · R0 < 2^63, GraphQueries scaladoc) must be ENFORCED, not
  * just documented (round-9 VERDICT 5). Round 12 replaced the flat
  * refusal past ~108k nodes with the adaptive power-of-ten rank scale
  * the old guard message merely named: this spec pins (a) the scale
  * selection at the documented transition points, (b) that a graph the
  * old guard refused now ITERATES, at the correctly stepped-down scale,
  * and (c) that the loud refusal still exists — moved out to the
  * DECIMAL(38,0) frontier near 10^15 nodes. */
class PagerankGuardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Mirrored star graph: hub 0 ↔ spokes 1..n (n+1 nodes total). */
  private def star(n: Long) = {
    val spokes = spark.range(1L, n + 1L).select(col("id"))
    spokes.select(lit(0L).as("src"), col("id").as("dst"))
      .unionByName(spokes.select(col("id").as("src"), lit(0L).as("dst")))
  }

  test("adaptiveR0 picks the largest int64-safe power of ten, capped at 1e12") {
    // tiny graphs stay at the finest scale
    assert(GraphQueries.adaptiveR0(1L) === 1000000000000L)
    assert(GraphQueries.adaptiveR0(16000L) === 1000000000000L)
    // the documented transition: past ~108k nodes 1e12 would overflow
    assert(GraphQueries.adaptiveR0(GraphQueries.MaxNodesAtScale) === 1000000000000L)
    assert(GraphQueries.adaptiveR0(GraphQueries.MaxNodesAtScale + 1L) === 100000000000L)
    // sf1's ~160k-node purchase graph (the round-11 refusal case) → 1e11
    assert(GraphQueries.adaptiveR0(160000L) === 100000000000L)
    // every selected scale keeps the mass bound safe: 85·N·R0 ≤ 2^63
    for (n <- Seq(1L, 1600L, 108510L, 108511L, 160000L, 1000000000L,
        GraphQueries.MaxNodesAdaptive)) {
      val r0 = GraphQueries.adaptiveR0(n)
      assert(r0 <= Long.MaxValue / 85L / n,
        s"n=$n r0=$r0 would overflow the mass bound")
      // and the NEXT decade up would overflow (or is past the 1e12 cap):
      // the scale is the largest safe one, not merely a safe one
      assert(r0 == 1000000000000L || r0 * 10L > Long.MaxValue / 85L / n,
        s"n=$n r0=$r0 is not the largest safe power of ten")
    }
    // coarsest admissible scale right at the adaptive frontier
    assert(GraphQueries.adaptiveR0(GraphQueries.MaxNodesAdaptive) === 100L)
  }

  test("an EMPTY edge relation yields an empty rank relation, not an exception") {
    // round-12 ADVICE: adaptiveR0's nodes >= 1 require turned the
    // degenerate-input path (deg.count() == 0, no bound supplied) into
    // an IllegalArgumentException where the pre-round-12 flat guard
    // returned empty. n == 0 now maps to the finest scale and the
    // iteration over zero edges is empty at any scale.
    assert(GraphQueries.adaptiveR0(0L) === 1000000000000L)
    val empty = star(3L).filter(lit(false))
    assert(GraphQueries.pagerankIterate(empty).count() === 0L)
    GraftCaches.releaseAll()
  }

  test("a graph past even the coarsest scale fails loudly with the DECIMAL remedy") {
    val over = GraphQueries.MaxNodesAdaptive + 10L
    // the bound path carries the over-count; the physical graph stays tiny
    val ex = intercept[IllegalArgumentException] {
      GraphQueries.pagerankIterate(star(3L), Some(over)).count()
    }
    assert(ex.getMessage.contains("adaptive int64-safe"))
    assert(ex.getMessage.contains("DECIMAL(38,0)"))
    GraftCaches.releaseAll()
  }

  test("a node bound that UNDER-estimates the exact node count fails loudly") {
    // star(3) has 4 nodes; a bound of 2 would size the rank scale for a
    // smaller graph than the one iterated, voiding the int64 guard.
    val ex = intercept[IllegalArgumentException] {
      GraphQueries.pagerankIterate(star(3L), Some(2L)).count()
    }
    assert(ex.getMessage.contains("UNDER-estimates the exact node count 4"))
    GraftCaches.releaseAll()
  }

  test("a graph the round-11 guard refused now iterates at the stepped-down scale") {
    // bound past MaxNodesAtScale (the old refusal point) on a tiny
    // physical star: the iteration must run, at R0=1e11 not 1e12, and
    // report that scale in rank_r0
    val bound = GraphQueries.MaxNodesAtScale + 10L
    val got = GraphQueries.pagerankIterate(star(3L), Some(bound))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    GraftCaches.releaseAll()
    assert(got.keySet === Set(0L, 1L, 2L, 3L))
    assert(got.values.forall(_._2 === 100000000000L), "rank_r0 must be 1e11")
    // spokes tie; hub dominates — ranking survives the coarser scale
    assert(got(1L)._1 === got(2L)._1 && got(2L)._1 === got(3L)._1)
    assert(got(0L)._1 > got(1L)._1)
  }

  test("a graph inside the finest-scale bound iterates at 1e12 (no over-step)") {
    val got = GraphQueries.pagerankIterate(star(3L))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    GraftCaches.releaseAll()
    assert(got.keySet === Set(0L, 1L, 2L, 3L))
    assert(got.values.forall(_._2 === 1000000000000L), "rank_r0 must be 1e12")
    assert(got(1L)._1 === got(2L)._1 && got(2L)._1 === got(3L)._1)
    assert(got(0L)._1 > got(1L)._1)
  }

  test("scale-invariance sanity: ranks at 1e11 are the 1e12 ranks DIV 10, within floor slack") {
    // Same star graph forced to two adjacent scales via the bound. The
    // integer algebra is scale-covariant up to floor placement, so each
    // node's coarse rank must sit within a few floor-units of fine/10 —
    // the property that makes the adaptive step-down semantically safe.
    val fine = GraphQueries.pagerankIterate(star(50L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    GraftCaches.releaseAll()
    val coarse = GraphQueries.pagerankIterate(star(50L),
      Some(GraphQueries.MaxNodesAtScale + 10L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    GraftCaches.releaseAll()
    for ((node, rFine) <- fine) {
      val rCoarse = coarse(node)
      // Floor drift amplifies through the hub's 50-edge fan-in
      // (ε_hub ≤ 2 + 42.5·ε_spoke, ε_spoke ≤ 2 + ε_hub/50 → fixpoint
      // ≈ 580 units); 1000 units of slack on ~1e10-scale ranks is a
      // 1e-7 relative tolerance.
      assert(math.abs(rCoarse - rFine / 10L) <= 1000L,
        s"node $node: coarse=$rCoarse fine/10=${rFine / 10L}")
    }
  }
}
