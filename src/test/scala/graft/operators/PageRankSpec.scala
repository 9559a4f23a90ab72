package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** PageRank invariants that pin the damped-update semantics without
  * reference values: regular graphs are exact fixpoints at 1.0, a directed
  * star concentrates rank in the hub by the closed-form amount, dangling
  * in-degree-0 nodes hold the teleport floor, and deep iteration through the
  * checkpoint path preserves total rank mass on symmetric graphs. */
class PageRankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ranksOf(edges: Seq[(String, String)], iters: Int): Map[String, Double] =
    PageRank.run(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("k-regular symmetric graph is an exact fixpoint: every rank stays 1.0") {
    // 4-cycle, symmetrized: every node has in-deg = out-deg = 2, so each
    // update is 0.15 + 0.85 * (0.5 + 0.5) = 1.0 exactly
    val cyc = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a")
    val edges = cyc ++ cyc.map(_.swap)
    val r = ranksOf(edges, iters = 5)
    assert(r.size == 4)
    r.values.foreach(v => assert(v == 1.0))
  }

  test("directed star: hub absorbs leaf rank, leaves drop to the teleport floor") {
    // 4 leaves -> hub, no out-edges from hub except a self-loop (keeps the
    // hub's mass from vanishing and its out-degree >= 1)
    val edges = Seq("l1" -> "h", "l2" -> "h", "l3" -> "h", "l4" -> "h", "h" -> "h")
    val r = ranksOf(edges, iters = 1)
    // leaves have no in-edges: rank = the teleport floor 1-d (NB 1.0-0.85 is
    // 0.15000000000000002 in doubles — the engine must produce exactly that,
    // it is what the unrolled SQL oracle computes too)
    val floor = 1.0 - 0.85
    assert(r("l1") == floor && r("l4") == floor)
    assert(math.abs(r("h") - (floor + 0.85 * 5.0)) < 1e-12)
    // after round 2 the hub keeps only its own damped mass + teleport leaves
    val r2 = ranksOf(edges, iters = 2)
    assert(math.abs(r2("h") - (floor + 0.85 * (4 * floor + r("h")))) < 1e-12)
  }

  test("checkpointed deep iteration conserves total mass on symmetric graphs") {
    // symmetric graphs are doubly stochastic after degree normalization:
    // total rank mass stays n for any iteration count — run past the
    // fixed checkpoint cadence (Superstep.LazyEvery = 8) so lineage
    // truncation is actually exercised
    val path = Seq("a" -> "b", "b" -> "c", "c" -> "d")
    val edges = path ++ path.map(_.swap)
    val r = ranksOf(edges, iters = 9)
    assert(math.abs(r.values.sum - 4.0) < 1e-9)
    // end nodes (degree 1) rank below the interior (degree 2) hubs
    assert(r("a") < r("b") && r("d") < r("c"))
  }
}
