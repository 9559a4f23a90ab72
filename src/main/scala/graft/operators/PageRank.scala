package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed PageRank over an edge list — the canonical iterative graph
  * operator (Page et al., "The PageRank Citation Ranking", 1999; the Pregel
  * formulation in Malewicz et al., SIGMOD'10). A training-data pipeline uses
  * it to score documents by link authority (quality weighting / crawl
  * frontier prioritization), complementing the content-quality signals in
  * [[graft.queries.TextOps]].
  *
  * Non-normalized damped formulation with a teleport indicator e(v):
  * rank' = (1-d)·e(v) + d·Σ rank(in)/deg(in), rank0 = e. Plain PageRank
  * seeds every node (e ≡ 1.0, and (1-d)·1.0 is exactly (1-d) in IEEE);
  * PERSONALIZED PageRank (Haveliwala, WWW'02; random walk with restart)
  * seeds a set, so ranks are walk-proximity to it. Callers that need
  * dangling-mass conservation should symmetrize or self-loop their edges
  * first (the declared queries symmetrize, so every node has out-degree
  * >= 1).
  *
  * Scale posture (the same contract as [[Components]]):
  *  - each iteration is ONE join (static out-degree-annotated edges x
  *    current ranks on src) + ONE aggregation on dst — cost is
  *    O(|E|/cluster) per round, never all-pairs, no driver-side state;
  *  - the edge frame's layout and the per-round join strategy are picked
  *    ONCE per corpus from the node count ([[EdgeLayout.picked]]), and the
  *    rounds run on [[Superstep]];
  *  - per-node contribution sums accumulate in DECIMAL(28,18) — exact and
  *    order-independent, so the result is bit-identical regardless of
  *    partitioning (each term is one IEEE double division of identical
  *    operands in any engine; the decimal sum of those terms is exact).
  */
object PageRank {

  /** Ranks after `iters` rounds: (node, rank). `edges` is directed
    * (srcCol -> dstCol); duplicate edges count once per occurrence, so pass
    * a distinct frame for simple-graph semantics. Nodes with no in-edges
    * hold the teleport floor (1-d). */
  def run(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
          damping: Double = 0.85): DataFrame =
    iterate(edges, srcCol, dstCol, None, iters, None, damping)._1

  /** PageRank restarting at `seeds`, a 1-column frame of node ids — joined,
    * never collected (the seed set can be millions of rows at 100 TB).
    * Non-seed nodes start at 0 and acquire mass only through in-edges. */
  def runPersonalized(edges: DataFrame, srcCol: String, dstCol: String,
                      seeds: DataFrame, iters: Int,
                      damping: Double = 0.85): DataFrame =
    iterate(edges, srcCol, dstCol, Some(seeds), iters, None, damping)._1

  /** CONVERGENCE-terminated PageRank — iterate until the max RELATIVE
    * per-node rank movement drops below `relEps` (strict <), capped at
    * `maxIters`. Returns (ranks, stoppingRound).
    *
    * Relative (not absolute) movement because ranks are non-normalized:
    * hub ranks grow into the hundreds while leaves sit at the 0.15
    * teleport floor, so no absolute threshold fits both. The max-relative
    * movement decays geometrically at ~the damping factor, so the
    * threshold maps deterministically to a data-dependent round count.
    * Determinism (the v_kmeans_conv idiom): the movement is IEEE
    * subtract/abs/divide + an order-independent max over bit-identical
    * doubles, so both engines stop at the same round. Each round carries
    * the previous rank as a column (the node set is round-invariant on a
    * symmetrized graph), and the movement is observed on the round's own
    * checkpoint — no second join, no extra job. */
  def runConverged(edges: DataFrame, srcCol: String, dstCol: String,
                   maxIters: Int, relEps: Double,
                   damping: Double = 0.85): (DataFrame, Int) =
    iterate(edges, srcCol, dstCol, None, maxIters, Some(relEps), damping)

  private def iterate(edges: DataFrame, srcCol: String, dstCol: String,
                      seeds: Option[DataFrame], maxIters: Int,
                      relEps: Option[Double], damping: Double): (DataFrame, Int) = {
    require(maxIters >= 1, "iters must be >= 1")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // static across iterations: every edge annotated with its source
    // degree, lineage-truncated once; the merge regime restages it
    val out0 = e.join(deg, "src").localCheckpoint()
    val ids = out0.select(col("src").as("node"))
      .union(out0.select(col("dst").as("node"))).distinct()
    val nodes = seeds.fold(ids.withColumn("e", lit(1.0))) { sd =>
      ids.join(sd.toDF("node").withColumn("e", lit(1.0)), Seq("node"), "left")
        .select(col("node"), coalesce(col("e"), lit(0.0)).as("e"))
    }.localCheckpoint()
    EdgeLayout.picked(out0, "src", nodes.count()) { adj =>
      def step(ranks: DataFrame): DataFrame = {
        val contrib = adj.join(ranks.select(col("node").as("src"), col("rank")))
          .groupBy(col("dst").as("node"))
          .agg(sum((col("rank") / col("deg"))
            .cast(DecimalType(28, 18))).as("in_sum"))
        val base = if (relEps.isEmpty) nodes
          else ranks.select(col("node"), col("e"), col("rank").as("pr"))
        base.join(contrib, Seq("node"), "left")
          .withColumn("rank", lit(1.0 - damping) * col("e") + lit(damping) *
            coalesce(col("in_sum").cast("double"), lit(0.0)))
          .drop("in_sum")
      }
      // prev rank >= the teleport floor (1-d) > 0, so the divide is safe;
      // round 0 has no previous rank and a null movement
      val probe = relEps.map(eps => Superstep.Probe(
        max(abs(col("rank") - col("pr")) / col("pr")),
        m => m != null && m.asInstanceOf[Double] < eps))
      val init = nodes.withColumn("rank", col("e"))
      val res = Superstep.run(
        if (probe.isEmpty) init else init.withColumn("pr", lit(null).cast("double")),
        maxIters, probe, lazyPlan = probe.isEmpty)(step)
      // a lazy result must not read the staged cache after its release
      val ranks = res.last.select("node", "rank")
      (if (adj.staged && probe.isEmpty) ranks.localCheckpoint() else ranks, res.rounds)
    }
  }
}
