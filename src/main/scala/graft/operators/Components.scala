package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed connected components over an undirected edge list —
  * the step that turns near-duplicate PAIRS (LSH/SimHash candidates) into
  * dedup GROUPS with one canonical survivor per group. The reference's
  * dedup is exact-PK only (gcs_to_postgres.py:153-177); pair generators
  * alone under-delete: near-dup relations are not transitive closures, so
  * keeping "min of each pair" can drop both members of a chain a-b-c.
  *
  * Algorithm: iterative min-label propagation. Every node starts labeled
  * with its own id; each round every node takes the minimum label among
  * itself and its neighbors; fixpoint = each node labeled with the minimum
  * id of its component. Rounds needed = graph diameter, which for
  * near-duplicate graphs (LSH clusters are near-cliques) is small.
  *
  * Scale posture: each round is one shuffle join (edges x labels on node
  * id) plus a min-aggregation — never materializes the transitive closure,
  * no driver-side state beyond the 1-row convergence count.
  * `localCheckpoint` truncates the plan each round so lineage stays O(1)
  * across iterations instead of doubling (iterative DataFrame plans
  * otherwise grow until the optimizer chokes). For adversarial graphs with
  * long chains, use [[connectedComponentsStars]] — O(log^2 n) rounds on
  * any graph shape over the same join primitive.
  */
object Components {

  /** Labels every node that appears in `pairs` with the minimum node id
    * reachable from it. Returns (node, comp); singletons (docs in no pair)
    * are not rows — they are their own component by definition.
    *
    * Convergence probe, for any orderable id type (numeric ids, string
    * entities from ER, composite keys): each round carries every node's
    * previous label as a column and counts the nodes whose label changed,
    * observed on the round's own checkpoint — no second scan or join.
    * Labels only ever decrease (new = min(old, neighbors)), so zero
    * changes IS the fixpoint.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 30): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint()
    // seed with the neighborhood minimum instead of the node itself —
    // equivalent to (and one shuffle round cheaper than) starting from
    // identity labels and propagating once; the seed has no previous label
    val noLabel = lit(null).cast(edges.schema("src").dataType).as("prev")
    val init = edges.groupBy("src").agg(min("dst").as("min_nb"))
      .select(col("src").as("node"),
        least(col("src"), col("min_nb")).as("comp"), noLabel)
    val res = Superstep.run(init, maxIters, Some(Superstep.Probe(
        count(when(!(col("comp") <=> col("prev")), 1)), _ == 0L))) { labels =>
      edges.join(labels.select(col("node").as("src"), col("comp")), "src")
        .select(col("dst").as("node"), col("comp"), noLabel)
        .union(labels.select(col("node"), col("comp"), col("comp").as("prev")))
        .groupBy("node").agg(min("comp").as("comp"), max("prev").as("prev"))
    }
    require(res.converged,
      s"connectedComponents did not converge in $maxIters rounds")
    res.last.select("node", "comp")
  }

  /** Same labeling as [[connectedComponents]] via the alternating
    * large-star/small-star edge rewriting (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round rewires
    * every node's larger neighbors (large-star) or smaller-or-equal
    * neighbors (small-star) to the minimum of its neighborhood, which
    * contracts path lengths geometrically — O(log^2 n) rounds on ANY graph
    * shape, vs O(diameter) for plain propagation. Use this when the pair
    * graph can contain long chains (transitive similarity sweeps);
    * propagation remains the cheaper choice for near-clique dedup graphs.
    *
    * Each phase is one groupBy-min + one join over the current edge set —
    * the same shuffle primitive as propagation, never more than O(|E|)
    * state, lineage truncated per round.
    */
  def connectedComponentsStars(pairs: DataFrame, aCol: String, bCol: String,
                               maxIters: Int = 50): DataFrame = {
    // neighborhood minimum per center over the undirected edge set
    def withMin(und: DataFrame): DataFrame =
      und.groupBy("c").agg(min("u").as("min_nb"))
        .select(col("c"), least(col("c"), col("min_nb")).as("m"))

    def undirected(edges: DataFrame): DataFrame =
      edges.select(col("src").as("c"), col("dst").as("u"))
        .union(edges.select(col("dst").as("c"), col("src").as("u")))
        .distinct()

    // large-star: every strictly-larger neighbor of c re-points to m(c).
    // No trailing distinct: the consumer (smallStar's undirected()) dedups
    // anyway, so one exchange per round is saved.
    def largeStar(edges: DataFrame): DataFrame = {
      val und = undirected(edges)
      und.join(withMin(und), "c")
        .filter(col("u") > col("c"))
        .select(col("u").as("src"), col("m").as("dst"))
    }

    // small-star: c and its smaller neighbors all re-point to the minimum
    // of that set (the emitted edges exclude the self-loop at m)
    def smallStar(edges: DataFrame): DataFrame = {
      val und = undirected(edges)
      val smaller = und.filter(col("u") < col("c"))
      val mins = smaller.groupBy("c").agg(min("u").as("m"))
      val rewired = smaller.join(mins, "c")
        .select(col("u").as("src"), col("m").as("dst"))
        .union(mins.select(col("c").as("src"), col("m").as("dst")))
      rewired.filter(col("src") =!= col("dst")).distinct()
    }

    // nodes come from the RAW pairs: a self-loop-only node must still get
    // a (node, node) label row, exactly as propagation labels it
    val raw = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val nodes = raw.select(col("src").as("node"))
      .union(raw.select(col("dst").as("node"))).distinct().localCheckpoint()
    // order-independent fingerprint of the edge set, observed on each
    // round's checkpoint: converged when stable, or at once when empty
    // (decimal accumulation — a long sum of 64-bit hashes overflows ANSI)
    var prev: Any = null
    val fingerprint = Superstep.Probe(struct(count(lit(1)),
      coalesce(sum(xxhash64(col("src"), col("dst")).cast(DecimalType(38, 0))),
        lit(java.math.BigDecimal.ZERO))), { fp =>
      val done = if (prev == null) fp.asInstanceOf[Row].getLong(0) == 0L
                 else fp == prev
      prev = fp
      done
    })
    val res = Superstep.run(raw.filter(col("src") =!= col("dst")).distinct(),
      maxIters, Some(fingerprint))(edges => smallStar(largeStar(edges)))
    require(res.converged,
      s"connectedComponentsStars did not converge in $maxIters rounds")
    // fixpoint edges are stars (node -> component min); roots label themselves
    nodes.join(res.last.select(col("src").as("node"), col("dst").as("comp")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("comp"))
  }
}
