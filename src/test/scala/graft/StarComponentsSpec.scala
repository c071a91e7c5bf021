package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Differential pin for the large-star/small-star connected-components
  * operator: on every topology it must produce EXACTLY the min-label
  * fixpoint's relation (components are algorithm-independent). The
  * fixture topologies are chosen adversarially for star rounds: a deep
  * PATH (the case the operator exists for — min-label needs diameter
  * rounds, star rounds need ~log), a near-clique, multiple components,
  * singleton edges, and the empty graph. */
class StarComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def edgesOf(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    pairs.toDF("doc_a", "doc_b")
  }

  /** Full multiset of rows, sorted — NOT a doc_id-keyed map (post-review:
    * a map collapses duplicate doc_id rows, which is exactly the
    * malformed-output mode a premature star fixpoint would produce). */
  private def comps(df: DataFrame): Seq[(Long, Long, Boolean)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSeq.sorted

  // Every case that runs the min-label fixpoint is registered once per
  // branch of it: driver rounds under the bare name, then forced
  // distributed rounds.
  GraphBranchSpec.componentBranches.foreach { case (branch, converged) =>
    def check(pairs: Seq[(Long, Long)]): Unit = {
      val star = comps(Dedup.duplicateComponentsStar(edgesOf(pairs)))
      val fixp = comps(converged(edgesOf(pairs), 64))
      GraftCaches.releaseAll()
      assert(star.map(_._1).distinct.size === star.size,
        s"star output must have exactly one row per doc: $star")
      assert(star === fixp, s"star vs min-label fixpoint disagree on $pairs")
    }

    test(s"deep path: diameter 63 — the topology min-label propagation pays for$branch") {
      check((0L until 63L).map(i => (i, i + 1)))
      // and with ids reversed so the min sits at the FAR end of the chain
      check((0L until 63L).map(i => (63L - i, 62L - i)))
    }

    test(s"near-clique plus pendant chain$branch") {
      val clique = for (i <- 10L to 14L; j <- (i + 1) to 14L) yield (i, j)
      check(clique ++ Seq((14L, 20L), (20L, 21L), (21L, 22L)))
    }

    test(s"multiple components, shuffled ids, duplicate and reversed input edges$branch") {
      check(Seq((5L, 3L), (3L, 9L), (9L, 5L), (100L, 50L), (50L, 100L),
        (7L, 8L), (8L, 7L), (1000L, 999L)))
    }

    test(s"512-deep chain: min-label's default cap fails loudly, star closes in <= 10 alternations$branch") {
      // The executable form of the star operator's raison d'être: a
      // duplicate CHAIN of depth d — crawl snapshots, boilerplate drift —
      // costs min-label propagation d hops (the minimum travels one hop
      // per hop), so at the default maxIters = 20 a 512-deep chain MUST
      // abort rather than split the cluster; large/small-star
      // alternation collapses the same chain in O(log d) rounds, so
      // maxIters = 10 (< log2(512)^2, and well under the default 20)
      // must fully resolve it.
      val chain = (0L until 512L).map(i => (i, i + 1))
      val ex = intercept[IllegalArgumentException] {
        converged(edgesOf(chain), 20).collect()
      }
      GraftCaches.releaseAll()
      assert(ex.getMessage.contains("diameter"),
        s"expected the diameter-exhaustion message, got: ${ex.getMessage}")
      val star = Dedup.duplicateComponentsStar(edgesOf(chain), maxIters = 10).collect()
      GraftCaches.releaseAll()
      assert(star.map(_.getLong(0)).toSeq.sorted === (0L to 512L).toSeq,
        "every chain node labeled exactly once")
      assert(star.forall(_.getLong(1) === 0L), "one component rooted at the chain min")
      assert(star.count(_.getBoolean(2)) === 1, "exactly one keeper")
    }
  }

  test("empty edge relation yields an empty component relation") {
    assert(Dedup.duplicateComponentsStar(edgesOf(Seq.empty)).count() === 0L)
    GraftCaches.releaseAll()
  }

  test("star forest output shape: every member exactly once, keeper = component min") {
    val pairs = (0L until 63L).map(i => (i, i + 1))
    val rows = Dedup.duplicateComponentsStar(edgesOf(pairs)).collect()
    GraftCaches.releaseAll()
    assert(rows.map(_.getLong(0)).toSeq.sorted === (0L to 63L).toSeq,
      "each node appears exactly once")
    assert(rows.forall(_.getLong(1) === 0L), "single component, min id 0")
    assert(rows.count(_.getBoolean(2)) === 1, "exactly one keeper")
  }
}
