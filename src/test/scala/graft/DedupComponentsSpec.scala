package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("min-label propagation resolves chains and keeps clusters apart") {
    import spark.implicits._
    // cluster 1: 1-2-3-4 chain (diameter 3); cluster 2: 10-11; singleton
    // edges only — nodes without edges don't appear (nothing to dedup)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.duplicateComponents(edges, iters = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got === Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 1L, false),
      (10L, 10L, true), (11L, 10L, false)))
    GraftCaches.releaseAll()
  }

  test("label propagation: deterministic vote, tie to lowest, isolated carry") {
    import spark.implicits._
    // Triangle 1-2-3 plus the pair 10-11. Round 1 (ties -> lowest):
    //   1 <- {2,3} tie -> 2; 2 <- {1,3} tie -> 1; 3 <- {1,2} tie -> 1
    //   10 <- {11} -> 11; 11 <- {10} -> 10
    // Round 2:
    //   1 <- {lbl(2)=1, lbl(3)=1} -> 1; 2 <- {2,1} tie -> 1; 3 <- {2,1} tie -> 1
    //   10 <- {lbl(11)=10} -> 10; 11 <- {lbl(10)=11} -> 11
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.labelPropagation(edges, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 11L))
    GraftCaches.releaseAll()
  }

  test("label propagation: majority beats lower label when counts differ") {
    import spark.implicits._
    // Triangle 2-3-4 with pendant 9 on node 4. Hand-traced:
    // Round 1: 2<-{3,4}->3; 3<-{2,4}->2; 4<-{2,3,9}->2; 9<-{4}->4.
    // Round 2: 2 <- {lbl(3)=2, lbl(4)=2}: label 2 wins by COUNT 2 (the
    //          majority path, not the tie-break); 3 <- {3,2} tie -> 2;
    //          4 <- {3,2,4} tie -> 2; 9 <- {lbl(4)=2} -> 2.
    // The dense core's label floods the pendant in two rounds.
    val edges = Seq((2L, 3L), (2L, 4L), (3L, 4L), (4L, 9L)).toDF("doc_a", "doc_b")
    val got = Dedup.labelPropagation(edges, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(2L -> 2L, 3L -> 2L, 4L -> 2L, 9L -> 2L))
    GraftCaches.releaseAll()
  }

  test("iteration bound is honored: a long chain needs enough rounds") {
    import spark.implicits._
    val chain = (1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("doc_a", "doc_b")
    // 1 round: node 6 only sees neighbor 5 -> label 5
    val one = Dedup.duplicateComponents(chain, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one(6L) === 5L)
    // after j rounds a node's label is the min over nodes within j hops:
    // the 5-hop chain resolves in 5 rounds
    val enough = Dedup.duplicateComponents(chain, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(enough.values.toSet === Set(1L))
    GraftCaches.releaseAll()
  }

  GraphBranchSpec.componentBranches.foreach { case (branch, converged) =>
    test(s"converged variant resolves a chain deeper than the fixed 3 rounds$branch") {
      import spark.implicits._
      // path graph 1-2-...-8: diameter 7 > 3, so the fixed-3 operator
      // MUST mislabel the tail (documented trade-off) while the
      // iterate-until-stable variant resolves the whole component.
      val chain = (1L to 8L).sliding(2).map(s => (s(0), s(1))).toSeq
        .toDF("doc_a", "doc_b")
      val fixed = Dedup.duplicateComponents(chain, iters = 3).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fixed(8L) !== 1L, "fixed-3 should split a diameter-7 chain")
      val conv = converged(chain, 20).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(conv === (1L to 8L).map(i => (i, 1L, i == 1L)).toSet)
      GraftCaches.releaseAll()
    }

    test(s"converged variant fails LOUDLY when the cap is hit, never returns partial labels$branch") {
      import spark.implicits._
      val chain = (1L to 8L).sliding(2).map(s => (s(0), s(1))).toSeq
        .toDF("doc_a", "doc_b")
      // maxIters=2 cannot resolve a diameter-7 chain: the operator throws
      // instead of silently returning the same split labels the fixed-2
      // operator documents as a trade-off (a caller who asked to "iterate
      // until stable" must never get unstable labels back). The
      // bounded-by-contract variant stays available as
      // duplicateComponents(iters = n).
      val ex = intercept[IllegalArgumentException] {
        converged(chain, 2).collect()
      }
      assert(ex.getMessage.contains("duplicateComponentsConverged"))
      assert(ex.getMessage.contains("duplicateComponentsStar"))
      GraftCaches.releaseAll()
    }
  }
}
