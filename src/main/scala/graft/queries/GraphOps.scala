package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.{EdgeLayout, PageRank, Superstep}

/** Graph analytics over the supplier–part co-occurrence graph derived from
  * `lineitem` — the iterative-algorithm surface beyond connected components
  * ([[graft.operators.Components]], declared in TextOps). The reference has
  * no graph operators; a training-data pipeline needs link-style authority
  * scores for source weighting, and PageRank is the canonical shape of every
  * such fixpoint computation (one join + one aggregation per round).
  *
  * Determinism contract: node ids are fixed-width LONGS for every family
  * that shuffles edges per round (the longEdges encoding s<k> → 2k,
  * p<k> → 2k+1 — bijective, the two key spaces cannot collide; the string
  * 's'+k / 'p'+k encoding survives only in the one-pass profile queries
  * g_degree_dist / g_assortativity where the key never re-shuffles), the
  * graph is symmetrized (every node has out-degree >= 1 — no dangling
  * mass), per-round contribution sums accumulate in DECIMAL(28,18)
  * (order-independent), and the oracle unrolls the identical iterations
  * as chained CTEs.
  */
object GraphOps {

  /** Symmetrized distinct supplier–part edges with LONG node ids
    * (s<k> → 2k, p<k> → 2k+1 — bijective, fixed-width messages). */
  private def longEdges(s: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.load(s, dir, "lineitem")
      .select((col("l_suppkey") * 2).as("src"),
              (col("l_partkey") * 2 + 1).as("dst"))
      .distinct()
    // NOT checkpointed here: PageRank checkpoints its degree-annotated
    // copy and the other families stage it ([[EdgeLayout]]), so a
    // checkpoint here would double-materialize.
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Synchronous deterministic LPA over the src-staged [[longEdges]]:
    * per round one edge-sized join + two map-side-combined hash aggregates
    * (the packed-decimal argmax below; ties → smallest label), on
    * [[Superstep]]. Shared by g_lpa and g_modularity. */
  private def lpaLabels(e: EdgeLayout.Adjacency, rounds: Int): DataFrame =
    Superstep.run(e.edges.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")), rounds) { labels =>
      // the per-node argmax rides ONE packed DECIMAL(38,0) —
      // cnt·2^63 + (2^63-1 − label) — numerically ≡ the lexicographic
      // (cnt, −label) order for the non-negative long labels this family
      // uses (the g_walks packed-argmin lesson): max(struct) carries a
      // struct buffer, which is not UnsafeRow-mutable, so it planned as
      // a SortAggregate that SORTED the (node,label)-pair frame every
      // round; the decimal max is a plain HashAggregate. The ordering is
      // identical, so hashes (and the join-based oracle) are unchanged.
      e.join(labels.withColumnRenamed("node", "src"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(expr("cast(cnt as decimal(38,0)) * 9223372036854775808 " +
          "+ (9223372036854775807 - label)")).as("m"))
        .select(col("dst").as("node"),
          expr("9223372036854775807 - " +
            "cast(m % 9223372036854775808 as bigint)").as("label"))
    }.last

  /** Symmetrized distinct supplier–part edges: s<k> <-> p<k>. */
  private def edges(s: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.load(s, dir, "lineitem")
      .select(concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
              concat(lit("p"), col("l_partkey").cast("string")).as("dst"))
      .distinct()
    // prefixes differ, so the swapped copy cannot duplicate a forward edge
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Distinct part–part co-order pairs (u < v) with a per-order FAN-OUT
    * CAP: orders whose distinct-part count exceeds `cap` are excluded
    * BEFORE the self-join — the `maxShingleDf` idiom from
    * [[graft.operators.TextDedup.ngramJaccardPairs]] ported to the graph
    * family (round-10 verdict ask #1). An order with m lineitems emits
    * m(m-1)/2 pairs; uncapped, one mega-order at 100 TB is a quadratic
    * join-bucket bomb. The cap bounds every join bucket to cap² rows
    * regardless of corpus size. On the driver testdata the production cap
    * (32) excludes nothing (max per-order fan-out is 17 at sf0.1/sf1), so
    * the guard is free until the data actually contains the bomb; the
    * binding-cap semantics are oracle-gated by g_kcore_capped (cap=8).
    * The fan-out count rides a window over the same l_orderkey hash
    * partitioning the self-join needs — one exchange serves both. */
  private def coOrderPairs(s: SparkSession, dir: String, cap: Int): DataFrame = {
    val pp = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_partkey").distinct()
      .withColumn("fan",
        count(lit(1)).over(Window.partitionBy("l_orderkey")))
      .filter(col("fan") <= cap)
      .drop("fan")
    pp.as("a").join(pp.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
  }

  /** k-core peeling via DELTA (frontier) rounds — round cost proportional
    * to the REMOVED frontier's incident edges, not the whole graph. The
    * round-9/10 formulation re-materialized the full symmetric edge list
    * every round (4 × |E| localCheckpoints + 2 edge-sized semi joins per
    * round: 59.5 s at sf1); this one checkpoints the topology ONCE and
    * per round only (a) filters the node-sized degree frame for the
    * sub-threshold frontier, (b) decrements neighbor degrees through one
    * edges⋈frontier join (broadcast when the frontier is small — AQE
    * picks it), (c) drops zero-degree nodes (they vanish from s_i in the
    * materialized-edge formulation, so dropping is the same semantics).
    * k is the exact-rank ceil(n/rankDiv)-th smallest degree, computed from
    * a DEGREE HISTOGRAM (distinct degree values — dozens of rows) instead
    * of a global row_number over all nodes: the d at that rank is
    * determined by the degree multiset alone, so the node tie-break the
    * oracle's row_number uses cannot change it, and the O(n) single-task
    * sort is gone — at 100 TB the histogram is the only scalable
    * formulation. Equivalence with the oracle's materialized-edge peel:
    * round i removes exactly the nodes whose degree in s_{i-1} is < k; an
    * edge of s_{i-1} from a live node u to a frontier node v is by
    * construction still alive, so the s0-based decrement count equals the
    * s_{i-1} degree drop. Output = final degrees of the surviving nodes
    * (≥ 1).
    *
    * Fixed rounds (g_kcore) use p10 (rankDiv 10 — the cascade is still
    * shrinking at round 4, which is that contract's point). With
    * `converge` (g_kcore_conv) rounds run until one removes NOTHING (a
    * pure-integer frontier-emptiness test), capped at `rounds`, and the
    * stopping round rides out as `stop_round` under the hash gate; that
    * variant uses p02 (rankDiv 50): p10 is ABOVE this dense graph's
    * degeneracy, so its fixpoint is the empty core — p02 lands between min
    * degree and degeneracy and converges to a NONEMPTY core in 2-4 rounds
    * at every SF (measured in the round-11 DuckDB probe). */
  private def kcorePeel(e: DataFrame, rounds: Int,
                        converge: Boolean = false): DataFrame = {
    val rankDiv = if (converge) 50 else 10
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint()
    val deg0 = sym.groupBy("u").agg(count(lit(1)).as("d")).localCheckpoint()
    val hist = deg0.groupBy("d").agg(count(lit(1)).as("cnt"))
    val k = hist
      .withColumn("cum", sum("cnt").over(Window.orderBy("d")))
      .crossJoin(broadcast(hist.agg(sum("cnt").as("n")))) // 1-row stat frame
      .filter(col("cum") >= expr(s"(n + ${rankDiv - 1}) DIV $rankDiv"))
      .agg(min("d")).first().getAs[java.lang.Long](0)
    // the NEXT round's frontier is empty: observed on this round's degrees,
    // so the round that would remove nothing is never run
    val settled = Superstep.Probe(count(when(col("d") < k, 1)), _ == 0L)
    val res = Superstep.run(deg0, rounds, Option.when(converge)(settled)) { deg =>
      val dec = sym.join(deg.filter(col("d") < k).select(col("u").as("v")), "v")
        .groupBy("u").agg(count(lit(1)).as("dec"))
      deg.filter(col("d") >= k).join(dec, Seq("u"), "left")
        .select(col("u"), (col("d") - coalesce(col("dec"), lit(0L))).as("d"))
        .filter(col("d") >= 1)
    }
    val out = res.last.select(col("u").as("node"), col("d").as("core_deg"))
    if (!converge) out
    else out.withColumn("stop_round", lit(math.min(res.rounds + 1, rounds)))
  }

  /** Multi-source BFS distance labeling over the u-staged symmetric
    * co-order graph (fan-out-capped at 32 — non-binding here, the 100 TB
    * skew guard, see coOrderPairs), from the seeds partkey % 100 == 0.
    * One relaxation per round: dist_i(v) = min(dist_{i-1}(v), 1 + min over
    * in-edges) — ONE key-equality join + ONE map-side-combined min agg,
    * pure integer, no FP at all. Each round carries every node's previous
    * distance, so with `converge` the count of changed nodes is observed
    * on the round's own checkpoint and zero stops the loop. */
  private def bfs(s: SparkSession, dir: String, rounds: Int,
                  converge: Boolean): Superstep.Rounds = {
    val e = coOrderPairs(s, dir, cap = 32)
    val noDist = lit(null).cast("int").as("prev")
    EdgeLayout.staged(
        e.union(e.select(col("v").as("u"), col("u").as("v"))), "u") { sym =>
      val seeds = sym.edges.select(col("u")).distinct()
        .filter(col("u") % 100 === 0)
        .select(col("u").as("node"), lit(0).as("dist"), noDist)
      val changed = Superstep.Probe(
        count(when(!(col("dist") <=> col("prev")), 1)), _ == 0L)
      Superstep.run(seeds, rounds, Option.when(converge)(changed)) { dist =>
        sym.join(dist.select(col("node").as("u"), col("dist")))
          .select(col("v").as("node"), (col("dist") + lit(1)).as("dist"), noDist)
          .union(dist.select(col("node"), col("dist"), col("dist").as("prev")))
          .groupBy("node").agg(min("dist").as("dist"), max("prev").as("prev"))
      }
    }
  }

  /** The KMV neighborhood-sketch chain behind g_anf, g_harmonic and
    * g_eff_diameter: per-node ball-size estimates (node, n_hashes, est) for
    * every radius 0..`radii`. Each node's sketch is the K smallest md5
    * hashes of its ball; a round merges its own ∪ in-neighbors' sketches
    * (one edge⋈sketch join on fixed-width long keys against the src-staged
    * edges, ≤ K hashes per node entering the shuffle) and keeps the min-K
    * through the bounded-heap TopKPerKey operator — never a per-node list
    * that grows with degree. est = (K−1)/frac(Kth hash), counts < K
    * reported exactly — both engines derive the identical 4-dp doubles. */
  private def kmvBalls(s: SparkSession, dir: String,
                       radii: Int): IndexedSeq[DataFrame] = {
    val K = 16
    EdgeLayout.staged(longEdges(s, dir), "src") { e =>
      val own = e.edges.select(col("src").as("node")).distinct()
        .select(col("node"), md5(col("node").cast("string")).as("h"))
      // distinct-mode top-k: dedup happens INSIDE the bounded per-key
      // heaps of the map-side partial pass (round 10) — the previous
      // `.distinct()` shuffled the whole |E|·k propagation multiset
      // (~190 M rows / ~1.25 GB-per-task at sf1) before the heap ever
      // saw a row; now the only exchange carries ≤ partitions·keys·k
      Superstep.run(own, radii) { sk =>
        org.apache.spark.sql.GraftPlanBridge.topKPerKeyDistinct(
          sk.union(e.join(sk.withColumnRenamed("node", "src"))
            .select(col("dst").as("node"), col("h"))),
          Seq("node"), Seq("h" -> true), K)
      }.frames.map { sk =>
        sk.withColumn("rn",
            row_number().over(Window.partitionBy("node").orderBy("h")))
          .groupBy("node")
          .agg(count(lit(1)).as("n_hashes"),
            max(when(col("rn") === K,
              conv(substring(col("h"), 1, 12), 16, 10).cast("long"))).as("v"))
          .select(col("node"), col("n_hashes"),
            when(col("n_hashes") < K, col("n_hashes").cast("double"))
              .otherwise(round(lit((K - 1).toDouble) / col("v")
                * 281474976710656.0, 4)).as("est"))
      }
    }
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g_pagerank" -> ((s, dir) =>
      // LONG node ids (the longEdges encoding — s<k> → 2k, p<k> → 2k+1,
      // bijective): PageRank shuffles its edge table every round, and
      // fixed-width longs cut the shuffled key bytes ~3× vs the 's123'
      // strings this family used through round 9 (the g_lpa "fixed-width
      // messages" rationale, finally applied to its own ancestor)
      PageRank.run(longEdges(s, dir), "src", "dst", iters = 3)
        .select(col("node"), round(col("rank"), 6).as("rank"))),
    "g_pagerank_conv" -> ((s, dir) => {
      // convergence-terminated PageRank (the v_kmeans_conv idiom on the
      // second iterative family): rounds run until the max RELATIVE rank
      // movement < 2.0, capped at 6. The max-relative movement decays at
      // ~the damping factor per round, so the threshold lands on a
      // data-dependent stopping round — measured round 4 at sf0.001 and
      // round 5 at sf0.01/sf0.1, never the cap — and stop_round puts
      // that termination decision under the hash gate. The threshold is
      // deliberately coarse: it is the max over ALL nodes (including
      // teleport-floor leaves with large relative swings), and the point
      // is the deterministic data-driven termination MECHANISM.
      val (ranks, stopR) = PageRank.runConverged(longEdges(s, dir), "src", "dst",
        maxIters = 6, relEps = 2.0)
      ranks.select(col("node"), round(col("rank"), 6).as("rank"),
        lit(stopR).as("stop_round"))
    }),
    "g_ppr" -> ((s, dir) => {
      // personalized PageRank (random walk with restart, Haveliwala WWW'02)
      // from a trusted seed set — every 10th supplier node. The teleport
      // mass restarts AT THE SEEDS, so ranks measure walk-proximity to the
      // trusted set: the "expand a source whitelist" primitive of corpus
      // curation (seed domains → similar domains), where g_pagerank is the
      // global-authority variant. Seeds stay a joined DataFrame (never a
      // collected list — at 100 TB the whitelist is itself large); per
      // round the cost is identical to g_pagerank (one edge join + one
      // decimal-exact aggregation), and the oracle unrolls the same three
      // rounds with the seed indicator riding the nodes CTE.
      // long ids: seed test s<k>, k%10==0 ⇔ node % 20 == 0 (node = 2k)
      val e = longEdges(s, dir)
      val seeds = e.select(col("src").as("node")).distinct()
        .filter(col("node") % 20 === 0)
      PageRank.runPersonalized(e, "src", "dst", seeds, iters = 3)
        .select(col("node"), round(col("rank"), 6).as("rank"))
    }),
    "g_hits" -> ((s, dir) => {
      // HITS (Kleinberg, JACM'99) on the DIRECTED bipartite supplier→part
      // graph: authority(p) = Σ hub(s) over in-edges, hub(s) = Σ auth(p)
      // over out-edges, max-normalized each half-round, 2 full rounds.
      // Hubs rank suppliers by how much authoritative inventory they
      // carry; authorities rank parts by how hub-heavy their suppliers
      // are — the query/document duality every link-based source-quality
      // scorer reuses. Determinism: each half-round is a decimal-exact
      // sum of bit-identical doubles, and the max-normalizer is an
      // order-independent decimal MAX riding a window over the ALREADY-
      // AGGREGATED node frame (the g_modularity m2 idiom — node-sized,
      // never edge-sized, no driver scalar). Per half-round: one
      // edge-sized key-equality join + one map-side-combined aggregation —
      // the PageRank communication bound.
      // staged edge layout, BOTH orientations (the g_walks round-12
      // lesson): the auth half-round joins on src, the hub half-round on
      // dst — a deployment stores out- and in-adjacency separately, so
      // each half-round exchanges only the node-sized score frame. eDst
      // stages FROM the eSrc cache (one extra in-memory repartition, not
      // a second lineitem scan+distinct).
      EdgeLayout.staged(Tables.load(s, dir, "lineitem")
          .select((col("l_suppkey") * 2).as("src"),
                  (col("l_partkey") * 2 + 1).as("dst"))
          .distinct(), "src") { eSrc =>
        EdgeLayout.staged(eSrc.edges, "dst") { eDst =>
          val wAll = Window.partitionBy()
          var hub = eSrc.edges.select(col("src").as("node")).distinct()
            .withColumn("h", lit(1.0))
          var auth: DataFrame = hub // placeholder; set in round 1
          for (_ <- 1 to 2) {
            val ad = eSrc.join(hub.withColumnRenamed("node", "src"))
              .groupBy(col("dst").as("node"))
              .agg(sum(col("h").cast(DecimalType(28, 18))).as("adec"))
            auth = ad.select(col("node"),
                (col("adec").cast("double") /
                  max(col("adec")).over(wAll).cast("double")).as("a"))
              .localCheckpoint()
            val hd = eDst.join(auth.withColumnRenamed("node", "dst"))
              .groupBy(col("src").as("node"))
              .agg(sum(col("a").cast(DecimalType(28, 18))).as("hdec"))
            hub = hd.select(col("node"),
                (col("hdec").cast("double") /
                  max(col("hdec")).over(wAll).cast("double")).as("h"))
              .localCheckpoint()
          }
          hub.select(col("node"), lit("hub").as("kind"),
              round(col("h"), 6).as("score"))
            .union(auth.select(col("node"), lit("authority").as("kind"),
              round(col("a"), 6).as("score")))
        }
      }
    }),
    "g_lpa" -> ((s, dir) => {
      // label propagation communities (Raghavan et al. 2007), SYNCHRONOUS
      // variant with a deterministic update: labels start as the node id,
      // each round every node adopts the most frequent label among its
      // neighbours (ties → smallest label). 3 fixed rounds; per round one
      // edge-sized join + two map-side-combined hash aggregates — the same
      // edge-bound communication as a PageRank round, O(1) lineage via
      // localCheckpoint. The A/B against the row_number-window formulation
      // measured 9.5 → 5.4 s median at sf0.1 (hash argmax avoids sorting
      // the (node,label) message table every round). The symmetrized graph
      // has no isolated nodes, so every node receives messages every round
      // and the node set is round-invariant. The full (node, label)
      // assignment is hash-gated against 3 unrolled oracle rounds.
      // Node ids are LONGS here (s<k> → 2k, p<k> → 2k+1 — bijective, the
      // two key spaces cannot collide) so the per-round argmax is a max
      // over one packed DECIMAL(38,0) of (cnt, −label) — a two-stage HASH
      // aggregate (map-side combined, no per-node sort) instead of a
      // row_number window (see lpaLabels).
      // staged edge layout: every LPA round joins e on src
      EdgeLayout.staged(longEdges(s, dir), "src")(lpaLabels(_, rounds = 3))
    }),
    "g_modularity" -> ((s, dir) => {
      // modularity (Newman 2004) of the g_lpa partition — the
      // community-quality gate a production clustering rollout checks
      // before the partition drives downstream sampling. Over the
      // symmetrized DIRECTED edge table (M2 = 2m): Q = Σ_c (w_c/M2 −
      // (d_c/M2)²) with w_c = within-community directed edges and d_c =
      // community degree sum — both INTEGER counts, so each per-community
      // term is a fixed IEEE chain, and the terms are DECIMAL(28,16)-cast
      // before the final sum (order-independent; the sum-of-doubles trap
      // is the same one t_mix_sqrt's denominator avoids). M2 arrives as a
      // window total over the ALREADY-AGGREGATED per-community frame, so
      // no 1-row broadcast appears. At 100 TB: LPA's edge-bound rounds +
      // two edge-sized label joins + community-sized arithmetic.
      import org.apache.spark.sql.expressions.Window
      // staged edge layout: 3 LPA rounds + the withSrc label join are all
      // src-keyed; the one dst join re-exchanges once (one-shot)
      EdgeLayout.staged(longEdges(s, dir), "src") { e =>
        val labels = lpaLabels(e, rounds = 3)
        val withSrc = e.edges.join(labels.withColumnRenamed("node", "src")
          .withColumnRenamed("label", "lsrc"), "src")
        val dC = withSrc.groupBy("lsrc").agg(count(lit(1)).as("d_c"))
        val wC = withSrc.join(labels.withColumnRenamed("node", "dst")
            .withColumnRenamed("label", "ldst"), "dst")
          .filter(col("lsrc") === col("ldst"))
          .groupBy("lsrc").agg(count(lit(1)).as("w_c"))
        val wtot = Window.partitionBy()
        dC.join(wC, Seq("lsrc"), "left")
          .withColumn("w_c", coalesce(col("w_c"), lit(0L)))
          .withColumn("m2", sum(col("d_c")).over(wtot))
          .withColumn("term",
            (col("w_c").cast("double") / col("m2").cast("double")
              - (col("d_c").cast("double") / col("m2").cast("double"))
                * (col("d_c").cast("double") / col("m2").cast("double")))
              .cast(DecimalType(28, 16)))
          .agg(count(lit(1)).as("n_communities"),
            max(col("m2")).as("m2"),
            round(sum(col("term")).cast("double"), 6).as("modularity"))
          // 1-row result checkpointed so the edge cache can be released
          .localCheckpoint()
      }
    }),
    "g_degree_dist" -> ((s, dir) =>
      // degree distribution per bipartite side — the 1-pass profile that
      // sizes every downstream graph join (skew detection at 100 TB)
      edges(s, dir).groupBy("src").agg(count(lit(1)).as("deg"))
        .groupBy(substring(col("src"), 1, 1).as("side"), col("deg"))
        .agg(count(lit(1)).as("n_nodes"))),
    "g_assortativity" -> ((s, dir) => {
      // degree assortativity (Newman 2002): Pearson correlation of the
      // endpoint degrees over every directed edge of the symmetrized
      // graph. The moments (Σdx, Σdy, Σdxdy, Σdx², Σdy²) are INTEGER
      // sums — zero FP accumulation — and the closing Pearson chain is
      // the same fixed IEEE sequence as q_acf. At scale: one degree
      // rollup (map-side combined) + two broadcast-able joins of edges
      // against the degree table, then a single-row aggregate. Bipartite
      // co-purchase graphs are expected strongly disassortative (hub
      // suppliers link to rare parts) — the one-number structure probe
      // behind sampling and partitioning choices.
      val e = edges(s, dir)
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      e.join(deg.select(col("src").as("n1"), col("deg").as("dx")),
          col("src") === col("n1"))
        .join(deg.select(col("src").as("n2"), col("deg").as("dy")),
          col("dst") === col("n2"))
        .agg(count(lit(1)).as("m"),
          sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
          sum(col("dx") * col("dy")).as("sxy"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"))
        .select(col("m").as("n_edges"),
          round((col("m").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            (sqrt(col("m").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
             sqrt(col("m").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))), 6)
            .as("assortativity"))
    }),
    "g_kcore" -> ((s, dir) => {
      // k-core peeling of the part–part co-order graph: drop nodes of
      // degree < k, cascade for a FIXED 4 rounds (fixed-round contract —
      // the same trick that makes g_pagerank oracle-expressible; on this
      // data the cascade is still shrinking, and both engines peel the
      // identical rounds). k is data-derived with no float percentile:
      // the exact-rank p10 of the initial degree distribution — integer
      // arithmetic only, computed from the degree HISTOGRAM (see
      // kcorePeel). Round-11 rewrite: the delta-peel plan replaces the
      // per-round full-edge-list re-materialization (59.5 s → measured in
      // DESIGN.md at sf1); the co-order projection is fan-out-capped at
      // 32 (non-binding on this data — max order fan-out 17 — the cap is
      // the 100 TB skew guard, mirrored in the oracle's pp CTE).
      kcorePeel(coOrderPairs(s, dir, cap = 32), rounds = 4)
    }),
    "g_kcore_capped" -> ((s, dir) => {
      // the BINDING-cap variant (the d_ppjoin/d_ppjoin_capped precedent):
      // cap=8 excludes real orders at every SF (per-order fan-out p99 is
      // 9), so this entry oracle-gates the cap SEMANTICS — which orders
      // drop, and how the core structure shifts — not just the guard's
      // existence. Same peel, same k rule, over the thinned graph.
      kcorePeel(coOrderPairs(s, dir, cap = 8), rounds = 4)
    }),
    "g_kcore_conv" -> ((s, dir) => {
      // CONVERGENCE-terminated k-core — the semantics a user actually
      // wants from peeling (g_kcore's fixed 4 rounds cannot CLAIM the
      // cascade settled): delta-peel until a round removes zero nodes
      // (pure-integer emptiness test — no FP determinism argument),
      // capped at 8, with the detected stopping round hash-gated via
      // stop_round. The surviving (node, core_deg) set at the fixpoint
      // IS the true k-core of the capped co-order graph. Threshold is
      // the exact-rank p02 degree (NOT g_kcore's p10 — that sits above
      // this dense graph's degeneracy, so its fixpoint is the empty
      // core): measured convergence round 2/3/4 and a 98%+ surviving
      // core at sf0.001/0.01/0.1.
      kcorePeel(coOrderPairs(s, dir, cap = 32), rounds = 8, converge = true)
    }),
    "g_bfs" -> ((s, dir) => {
      // multi-source BFS distance labeling on the part–part co-order
      // graph, 3 unrolled frontier-relaxation rounds (the fixed-round
      // contract again): dist_i(v) = min(dist_{i-1}(v), 1 + min over
      // in-edges) — pure integer min-aggregation, no FP at all. Sources
      // are partkey % 100 == 0 (a deterministic seed set, ~1% of nodes).
      // Per round: ONE key-equality join (edges × current distances) +
      // ONE map-side-combined min agg; localCheckpoint truncates lineage
      // (mirrored by the oracle's MATERIALIZED CTEs). At 100 TB this is
      // the textbook Pregel round as relational ops — frontier-sized
      // shuffles, never node×node. Projection fan-out-capped at 32
      // (non-binding here; the 100 TB skew guard — see coOrderPairs).
      // staged edge layout (round 12): all 3 relaxation rounds join on u
      bfs(s, dir, rounds = 3, converge = false).last.select("node", "dist")
    }),
    "g_bfs_conv" -> ((s, dir) => {
      // FIXPOINT-terminated BFS — the convergence idiom's third family
      // (after v_kmeans_conv and g_pagerank_conv), and the semantics a
      // user actually wants from BFS: g_bfs's fixed 3 rounds cannot CLAIM
      // its distances are final; this variant relaxes until a round
      // changes nothing (a PURE INTEGER test — count of nodes whose
      // distance changed — so determinism needs no FP argument at all)
      // and emits the stopping round. On the co-order graph the ~1% seed
      // set reaches every reachable node in 2 hops (measured: changed
      // counts go N, M, 0 at every SF), so the fixpoint lands at round 3
      // with rounds 4-5 of the cap never run — the hash gate proves BOTH
      // the final distances AND that the engine detected the fixpoint at
      // the same round the oracle's static unroll does. Projection
      // fan-out-capped at 32 (non-binding; see coOrderPairs).
      val res = bfs(s, dir, rounds = 5, converge = true)
      res.last.select(col("node"), col("dist"), lit(res.rounds).as("stop_round"))
    }),
    "g_linkpred" -> ((s, dir) => {
      // neighbor-overlap link scoring (common-neighbors + Jaccard) — the
      // item-item collaborative-filter / link-prediction primitive: score
      // supplier pairs by the overlap of their supplied-part sets. The
      // candidate generator is the shared-neighbor equality join (only
      // pairs with >= 1 common part are ever materialized — never
      // all-pairs); its fan-out is Σ_p deg(p)² which the part side's
      // bounded degree keeps linear-ish in edges (TPC-H parts have ~4-40
      // suppliers each; a power-law corpus would add the df-cap idiom of
      // d_ngram_jaccard). Degrees ride in on two broadcast-size joins;
      // the Jaccard is ONE IEEE division of exact ints (determinism
      // contract) and the top-50 cut orders by the UNROUNDED score with
      // a (sa, sb) tie-break.
      val sp = Tables.load(s, dir, "lineitem")
        .select(col("l_suppkey").as("s"), col("l_partkey").as("p")).distinct()
      val deg = sp.groupBy("s").agg(count(lit(1)).as("d"))
      val pairs = sp.as("a").join(sp.as("b"),
          col("a.p") === col("b.p") && col("a.s") < col("b.s"))
        .groupBy(col("a.s").as("sa"), col("b.s").as("sb"))
        .agg(count(lit(1)).as("common_parts"))
      pairs
        .join(deg.select(col("s").as("sa"), col("d").as("deg_a")), "sa")
        .join(deg.select(col("s").as("sb"), col("d").as("deg_b")), "sb")
        .withColumn("jac", col("common_parts").cast("double") /
          (col("deg_a") + col("deg_b") - col("common_parts")))
        .orderBy(col("jac").desc, col("sa").asc, col("sb").asc)
        .limit(50)
        .select(col("sa"), col("sb"), col("common_parts"),
          col("deg_a"), col("deg_b"), round(col("jac"), 6).as("jaccard"))
    }),
    "g_triangles" -> ((s, dir) => {
      // triangle census of the part–part co-order graph (parts appearing in
      // the same order; the supplier–part graph is bipartite = triangle-
      // free). Engine counts via degree orientation (skew-proof wedge
      // fan-out, operators.Triangles); the oracle counts via the plain
      // id-ordered 3-way join — orientation is a performance trick, the
      // count is orientation-invariant, so agreement checks both the
      // algorithm and its implementation. Projection fan-out-capped at 32
      // (non-binding; see coOrderPairs).
      graft.operators.Triangles.census(coOrderPairs(s, dir, cap = 32), "u", "v")
    }),
    "g_anf" -> ((s, dir) => {
      // approximate neighborhood function (ANF, Palmer et al. KDD'02; the
      // HyperBall/HyperANF shape, Boldi & Vigna WWW'11) — per-node
      // estimated |ball(node, 2)| — with KMV sketches in place of HLL
      // registers so the estimate is EXACTLY reproducible cross-engine
      // (the q_kmv_distinct estimator, per node). This is the graph twin
      // of the KMV family: distinct-reach at 100 TB is uncomputable
      // exactly (the 2-hop neighbor LIST of a hub node is corpus-sized)
      // but a k-hash synopsis per node is bounded state that merges with
      // min-k — per round each node's sketch is the k smallest of its own
      // ∪ in-neighbors' hashes. Plan per round: one edge⋈sketch join
      // (fixed-width long keys, ≤ k hashes per node entering the
      // shuffle), a distinct (map-side partial dedup), and the per-node
      // min-k through the bounded-heap TopKPerKey operator — never a
      // per-node list that grows with degree; O(1) lineage via
      // localCheckpoint. est_reach = (k−1)/frac(kth hash), counts < k
      // reported exactly — both engines derive the identical doubles.
      // staged edge layout (the g_walks round-12 lesson): both sketch
      // rounds join e on src, so each round exchanges only the ≤ |V|·K
      // sketch side (see kmvBalls)
      kmvBalls(s, dir, radii = 2)(2)
        .select(col("node"), col("n_hashes"), col("est").as("est_reach"))
    }),
    "g_harmonic" -> ((s, dir) => {
      // harmonic centrality truncated at radius 2, estimated from the SAME
      // KMV neighborhood-sketch chain as g_anf — HyperBall's actual
      // application (Boldi & Vigna WWW'11; their 2014 "Axioms for
      // centrality" argues harmonic is THE principled centrality on
      // disconnected graphs since unreachable pairs contribute 0, not ∞):
      //   H(v) ≈ (|B(1)|−1)/1 + (|B(2)|−|B(1)|)/2,
      // each ball size the exactly-reproducible KMV estimate, ROUNDED to
      // 4 dp BEFORE the combination so both engines combine identical
      // doubles. Centrality for every node at once is what exact
      // all-pairs BFS cannot produce at 100 TB; the per-round cost is
      // identical to g_anf (one edge⋈sketch join on fixed-width longs +
      // bounded-heap min-k) and both ball estimates ride one sketch
      // chain — radius 2 costs zero extra rounds over g_anf.
      val balls = kmvBalls(s, dir, radii = 2)
      // the combination ships UNROUNDED: b1/b2 are already identical
      // 4-dp doubles in both engines, and subtract / divide-by-2 / add
      // are bit-deterministic IEEE ops — a final round(·,4) would land
      // exactly on .xxxx5 ties (the /2 creates a 5th decimal) where
      // Spark's HALF_UP and DuckDB's binary rounding diverge
      balls(1).select(col("node"), col("est").as("b1"))
        .join(balls(2).select(col("node"), col("est").as("b2")), "node")
        .select(col("node"), col("b1"), col("b2"),
          (col("b1") - lit(1.0) +
            (col("b2") - col("b1")) / lit(2.0)).as("harmonic"))
    }),
    "g_eff_diameter" -> ((s, dir) => {
      // distance distribution + effective diameter — THE deliverable of
      // the ANF paper (Palmer et al. KDD'02 §1: "what is the effective
      // diameter of the Internet?") and of HyperANF (Boldi & Vigna
      // WWW'11, four-degrees-of-separation): N(r) = Σ_v |B(v,r)| per
      // radius, and the effective diameter = the smallest r with
      // N(r) ≥ 0.9·N(rmax). Three KMV sketch rounds (the g_anf chain,
      // one radius deeper); per-node ball estimates are the exactly-
      // reproducible 4-dp KMV doubles, summed ORDER-INDEPENDENTLY via
      // DECIMAL(28,4) before one exact decimal→double conversion (the
      // Core.scala decimal-sum contract), so N(r) is bit-identical
      // cross-engine and the 0.9 cut compares identical doubles. The
      // whole distribution is 4 rows derived from three bounded-state
      // sketch rounds — the exact computation (all-pairs BFS) is |V|
      // traversals and does not exist as a plan at 100 TB.
      // radius 0: every ball is exactly {v}, each estimate exactly 1.0, so
      // the radius-0 sum is |V|
      val perRadius = kmvBalls(s, dir, radii = 3).zipWithIndex.map {
        case (ball, r) =>
          ball.agg(sum(col("est").cast(DecimalType(28, 4)))
              .cast("double").as("total_reach"))
            .select(lit(r).as("radius"), col("total_reach"))
      }
      // per-node KMV estimates are monotone non-decreasing in r (the
      // sketch hash set only grows), so max over radii = N(3) = N(rmax)
      val all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      perRadius.reduce(_ union _)
        .withColumn("frac", col("total_reach") / max("total_reach").over(all))
        .withColumn("eff_diameter",
          col("radius") === min(when(col("frac") >= 0.9, col("radius"))).over(all))
        .select(col("radius"), col("total_reach"), col("frac"),
          col("eff_diameter"))
    }),
    "g_butterflies" -> ((s, dir) => {
      // Butterfly (2×2 biclique) census of the BIPARTITE supplier–part
      // graph — the bipartite analogue of the triangle census (Wang,
      // Fu, Cheng & Lakshmanan, VLDB'19 "Vertex Priority Based Butterfly
      // Counting for Large-scale Bipartite Networks"; butterflies underpin
      // the bipartite clustering coefficient, Robins & Alexander 2004).
      // g_triangles had to build a one-mode projection first because the
      // supplier–part graph is triangle-free BY construction; the
      // butterfly is the motif that graph actually has. Plan: one
      // self-join of the distinct incidence list on the part key
      // enumerates wedges (two suppliers sharing a part) — key-equality,
      // bucketed at scale, never corpus²; map-side-partial count per
      // supplier pair collapses the wedge stream to the co-part matrix;
      // butterflies = Σ_pairs C(cn,2), wedges = Σ_parts C(dp,2) — pure
      // integer arithmetic (div 2 on even products, no FP anywhere).
      // Skew posture at 100 TB: a hub PART emits dp² wedge rows — the
      // published mitigation is vertex-priority/degree ordering; here the
      // s1<s2 half plus the map-side pair combine bound the exchange, and
      // a degree cap would slot in as a pre-join filter exactly like
      // TextDedup's prefix-df cap. Output is a 1-row census (four
      // BIGINTs), composed from two 1-row aggregates (the g_triangles
      // broadcast pattern, sanctioned in PlanAuditSpec).
      val sp = Tables.load(s, dir, "lineitem")
        .select(col("l_suppkey").cast("long").as("sk"),
                col("l_partkey").cast("long").as("pk"))
        .distinct()
        .localCheckpoint() // consumed 3× (wedge census + both join sides)
      val wedges = sp.groupBy("pk").agg(count(lit(1)).as("dp"))
        .agg(sum(expr("(dp * (dp - 1)) div 2")).as("wedges"))
      val pairs = sp.select(col("pk"), col("sk").as("s1"))
        .join(sp.select(col("pk"), col("sk").as("s2")), Seq("pk"))
        .filter(col("s1") < col("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("cn"))
      val census = pairs.agg(
        count(lit(1)).as("connected_pairs"),
        max(col("cn")).as("max_common_parts"),
        sum(expr("(cn * (cn - 1)) div 2")).as("butterflies"))
      wedges.crossJoin(census)
        .select(col("wedges"), col("connected_pairs"),
          col("max_common_parts"), col("butterflies"))
    }),
    "g_walks" -> ((s, dir) => {
      // Deterministic random-walk corpus over the co-purchase graph — the
      // DeepWalk/node2vec sampling primitive (Perozzi et al. KDD'14;
      // Grover & Leskovec KDD'16): graph-embedding training data IS a
      // table of walks, and generating it is the graph-side twin of the
      // text pipeline's corpus prep. One walk starts at every node
      // (the DeepWalk shape) and takes 4 steps; the "random" next-hop is
      // argmin over out-neighbors of md5(walk_id:step:neighbor) — the
      // hash IS the RNG (the t_sample_split rationale on a graph): no
      // generator state to coordinate across 1000 executors, walks are
      // reproducible run-to-run and INDEPENDENT per (walk, step), and the
      // choice is uniform over neighbors because md5 is. Plan per step:
      // one frontier⋈edges key-equality join (fixed-width long ids, the
      // longEdges encoding) + one map-side-combined min(struct) argmin —
      // state is O(walks), never O(edges); the walk table is the output.
      // The edge frame is PERSISTED PRE-PARTITIONED AND PRE-SORTED by src
      // (round-12 second-decade gate: an unpartitioned edge frame made
      // every step's SortMergeJoin re-exchange AND re-sort the 118M-row
      // edge side — 4 sort-spills of the whole graph at sf10, measured
      // 19.4× on 10× data). persist, NOT localCheckpoint: a cached
      // InMemoryRelation keeps the repartition+sort's outputPartitioning
      // and outputOrdering visible to EnsureRequirements (AQE does not
      // re-plan cached plans), whereas a localCheckpoint under AQE
      // erases them to an unpartitioned LogicalRDD — measured plan diff
      // in PLANS.md. With this layout each step exchanges and sorts ONLY
      // the node-sized frontier. This is the bucketed-graph layout a
      // deployment stores edges in — sort once at write, join co-located
      // forever. The per-walk argmin is a single min over ONE packed
      // DECIMAL(38,0): h1·2^63 + dst, where h1 = the first 15 hex chars
      // of the md5 (60 bits) as a long. Ordering by (h1, dst) ≡ the full
      // (md5-string, dst) lexicographic order unless two neighbors of one
      // walk collide in the 60-bit prefix (p ≈ d²/2^61 per group — never
      // at any tested SF, and even then the dst tie-break keeps both
      // engines identical). The point: min(struct) and min_by both carry
      // struct buffers, which are not UnsafeRow-mutable, so Spark plans a
      // SortAggregate that SORTS the edge-sized join output by walk_id
      // every step; a fixed-width decimal min is a HashAggregate with
      // O(frontier) map state — no sort, no spill, map-side partials.
      EdgeLayout.staged(longEdges(s, dir), "src") { e =>
        var frontier = e.edges.select(col("src").as("node")).distinct()
          .select(col("node").as("walk_id"), col("node"))
          .localCheckpoint()
        val out0 = frontier.select(col("walk_id"), lit(0).as("step"), col("node"))
        val steps = (1 to 4).map { t =>
          frontier = e.join(frontier.withColumnRenamed("node", "src"))
            .select(col("walk_id"),
              expr("cast(conv(substring(md5(concat(cast(walk_id as string)" +
                s", ':$t:', cast(dst as string))), 1, 15), 16, 10) as " +
                "decimal(38,0)) * 9223372036854775808 + dst").as("hd"))
            .groupBy("walk_id")
            .agg(min(col("hd")).as("hd"))
            .select(col("walk_id"),
              expr("cast(hd % 9223372036854775808 as bigint)").as("node"))
            .localCheckpoint()
          frontier.select(col("walk_id"), lit(t).as("step"), col("node"))
        }
        // every step is already materialized (eager localCheckpoint), so
        // the edge cache is released before the result frame is consumed
        steps.foldLeft(out0)(_ union _)
      }
    }),
    "g_mis" -> ((s, dir) => {
      // Maximal independent set by Luby's algorithm (Luby SICOMP'86 — THE
      // symmetry-breaking primitive of distributed graph computing;
      // downstream of it sit distributed coloring, scheduling, and graph
      // sparsification). Per round every undecided node draws the
      // priority md5(round:node) — the hash is the RNG, as in g_walks —
      // and joins the MIS iff its priority beats every undecided
      // neighbor's; undecided neighbors of new members are excluded.
      // Adjacent locally-minimal nodes cannot both win (if p(u)<p(v) on
      // edge u–v then v sees u's priority), so independence holds by
      // construction every round. Plan per round: one priority projection
      // (md5 fused into the scan), one edges⋈priorities key-equality join
      // + map-side-combined min per node, two anti joins to shrink the
      // undecided frontier — state is O(undecided), monotonically
      // shrinking (Luby: by an expected constant factor per round), O(1)
      // lineage via localCheckpoint. Output: every node with its decision
      // and the round that decided it (-1 = still undecided after 4
      // rounds) — the full assignment hash-gates, not just the MIS size.
      // staged edge layout (g_walks round-12 lesson): both per-round edge
      // joins (neighbor-min and exclusion) are on src
      EdgeLayout.staged(longEdges(s, dir), "src") { e =>
        var undecided = e.edges.select(col("src").as("node")).distinct()
          .localCheckpoint()
        var decided: Seq[DataFrame] = Nil
        for (t <- 1 to 4) {
          // the node id rides in the low bits so priorities are
          // collision-free by construction (distinct nodes ⇒ distinct p
          // even if their 60-bit md5 prefixes collide) — the strict p < np
          // comparison then never ties across distinct nodes in either
          // engine. Packed DECIMAL(38,0) (h1·2^63 + node, the g_walks
          // argmin packing) instead of the former md5-string ∥ padded-node
          // concat: min over a fixed-width decimal is a HashAggregate
          // (min(string) planned as a SortAggregate sorting the edge-sized
          // priority propagation every round) and the shuffled priority is
          // 16 bytes, not 52 chars
          val pri = undecided.select(col("node"),
            expr(s"cast(conv(substring(md5(concat('$t:', " +
              "cast(node as string))), 1, 15), 16, 10) as decimal(38,0)) " +
              "* 9223372036854775808 + node").as("p"))
          // min undecided-neighbor priority per undecided node: restrict
          // both endpoints to the frontier (src via pri, dst via undecided)
          val nbrMin = e.join(pri.withColumnRenamed("node", "src"))
            .select(col("dst").as("node"), col("p").as("np"))
            .join(undecided, Seq("node"), "left_semi")
            .groupBy("node").agg(min(col("np")).as("np"))
          val mis = pri.join(nbrMin, Seq("node"), "left")
            .filter(col("np").isNull || col("p") < col("np"))
            .select(col("node")).localCheckpoint()
          val excluded = e.join(mis.withColumnRenamed("node", "src"))
            .select(col("dst").as("node")).distinct()
            .join(undecided, Seq("node"), "left_semi")
            .localCheckpoint()
          decided :+= mis.select(col("node"), lit(true).as("in_mis"),
            lit(t).as("decided_round"))
          decided :+= excluded.select(col("node"), lit(false).as("in_mis"),
            lit(t).as("decided_round"))
          undecided = undecided
            .join(mis, Seq("node"), "left_anti")
            .join(excluded, Seq("node"), "left_anti")
            .localCheckpoint()
      }
        // mis/excluded/undecided are all checkpointed: the result no longer
        // reads the edge cache once it is released
        val rest = undecided.select(col("node"), lit(false).as("in_mis"),
          lit(-1).as("decided_round"))
        decided.foldLeft(rest)(_ union _)
      }
    }),
    "g_louvain" -> ((s, dir) => {
      // one Louvain level (Blondel et al., J. Stat. Mech. 2008 §2 — THE
      // production community detector; LPA's majority vote has no
      // objective, Louvain maximizes modularity): every node starts in
      // its own community and for 2 synchronous sweeps moves to the
      // neighbouring community with the best modularity gain. The gain
      // comparison is EXACT INTEGER arithmetic — argmax_c of
      // m2·k_in(i,c) − k_i·Σtot′(c), the m2-scaled ΔQ numerator (the
      // c-independent terms cancel across candidates; Σtot′ excludes k_i
      // when c is i's own community, the "remove i first" step of the
      // sequential algorithm) — so no doubles enter the trajectory and
      // ties break to the smallest community id. Synchronous updates
      // (the g_lpa determinism contract) instead of Blondel's sequential
      // scan: a per-node visit order is inherently serial; 2 fixed
      // synchronous sweeps are the distributed variant every large-scale
      // implementation ships (e.g. Spark-Louvain lineages) and the whole
      // trajectory is hash-gated. DECIMAL(38,0) products keep
      // 100-TB-scale m2·k_in (≫ 2⁶³ when m2 ~ 1e12 and hubs are dense)
      // overflow-safe. Plan per round: one edge⋈label join + two hash
      // aggregates (the LPA shape) + one community-sized Σtot aggregate
      // broadcast back; m2 is a 1-row driver scalar (BOUNDED — the
      // v_semdedup_scaled count idiom); O(1) lineage via localCheckpoint.
      louvainLevel1(s, dir)((_, lbl) =>
        lbl.select(col("node"), col("c").as("community")))._1
    }),
    "g_louvain2" -> ((s, dir) => {
      // the Louvain AGGREGATION phase + second level (Blondel et al. '08
      // §2 "second phase" — THE step that makes Louvain multi-level and
      // the reason it scales: after a level converges, communities
      // COLLAPSE into single nodes whose edge weights are the
      // inter-community edge counts and whose self-loops carry the
      // internal mass, and the same sweep runs on a graph that is orders
      // of magnitude smaller). Level 1 = the g_louvain trajectory
      // (identical integer arithmetic — the shared louvainSweep with
      // w = 1). Coarsening is one edges⋈labels⋈labels join + a
      // (community, community) weighted aggregate — the coarse graph is
      // communities², bounded far below |E|. The level-2 sweep is the
      // SAME integer ΔQ argmax, now over summed weights: the coarse
      // degree INCLUDES the self-loop (k_c = Σ_{i∈c} k_i, since each
      // intra-community edge contributes both directions), while the
      // candidate edges EXCLUDE it (a coarse node alone in its own
      // community has no internal neighbours to score against); m2 — the
      // total edge mass — is invariant under coarsening. Output is the
      // full two-level trajectory (node, level-1 community, final
      // community), all hash-gated. At 100 TB the coarse sweep is the
      // cheap one; level 1's LPA-shaped rounds dominate, unchanged.
      // the coarsening join pair reads level 1's edge frame once more,
      // before its cache is released
      val (ce, lbl, m2) = louvainLevel1(s, dir) { (e, lbl) =>
        e.join(lbl.select(col("node").as("src"), col("c").as("cs")), "src")
          .join(lbl.select(col("node").as("dst"), col("c").as("cd")), "dst")
          .groupBy("cs", "cd").agg(sum("w").as("w"))
          .localCheckpoint()
      }
      val cdeg = ce.groupBy(col("cs").as("node")).agg(sum("w").as("k"))
        .localCheckpoint()
      val cedges = ce.filter(col("cs") =!= col("cd"))
        .select(col("cs").as("src"), col("cd").as("dst"), col("w"))
      val l2 = louvainSweep(EdgeLayout.Adjacency(cedges, "dst", staged = false),
        cdeg, m2, cdeg.select(col("node"), col("node").as("c")))
      lbl.select(col("node"), col("c").as("c1"))
        .join(l2.select(col("node").as("c1"), col("c").as("community")),
          "c1")
        .select(col("node"), col("c1"), col("community"))
    })
  )

  /** Louvain level 1 (the g_louvain trajectory) over unit-weight
    * [[longEdges]]: 2 sweeps from singleton communities, with the edge
    * layout picked from the node count ([[EdgeLayout.picked]] — below the
    * broadcast threshold the label frame broadcasts and staging buys
    * nothing; above it the sweeps merge-join the dst-staged cache). `next`
    * reads the edge frame and the level-1 labels before the cache is
    * released. Returns (next's result, level-1 labels, m2). */
  private def louvainLevel1[T](s: SparkSession, dir: String)
                              (next: (DataFrame, DataFrame) => T): (T, DataFrame, Long) = {
    val e0 = longEdges(s, dir)
      .select(col("src"), col("dst"), lit(1L).as("w")).localCheckpoint()
    val m2 = e0.count() // BOUNDED: one scalar — 2·|E|, the ΔQ scale
    val deg = e0.groupBy(col("src").as("node")).agg(sum("w").as("k"))
      .localCheckpoint()
    EdgeLayout.picked(e0, "dst", deg.count()) { e =>
      val lbl = (1 to 2).foldLeft(deg.select(col("node"), col("node").as("c")))(
        (l, _) => louvainSweep(e, deg, m2, l)) // sweep outputs are checkpointed
      (next(e.edges, lbl), lbl, m2)
    }
  }

  /** One synchronous Louvain sweep over a WEIGHTED edge frame
    * (src, dst, w) — the g_louvain ΔQ argmax generalized so the level-2
    * coarsened graph reuses it verbatim (g_louvain passes w = 1; counts
    * and weighted sums coincide, so its hashes are unchanged). Exact
    * integer scores: argmax_c of m2·k_in(i,c) − k_i·Σtot′(c) in
    * DECIMAL(38,0) (HUGEINT in the oracle), ties → smallest community.
    * Plan: one edge⋈label join + two hash aggregates + one
    * community-sized Σtot aggregate; O(1) lineage via localCheckpoint. */
  private def louvainSweep(e: EdgeLayout.Adjacency, deg: DataFrame, m2: Long,
                           lbl: DataFrame): DataFrame = {
    val sigma = lbl.join(deg, "node")
      .groupBy(col("c").as("cand")).agg(sum("k").as("sigma"))
    val nb = e.join(lbl.select(col("node").as("dst"), col("c").as("cd")))
      .groupBy(col("src").as("node"), col("cd").as("cand"))
      .agg(sum("w").as("k_in"))
    val cand = nb.unionByName(
        lbl.select(col("node"), col("c").as("cand"), lit(0L).as("k_in")))
      .groupBy("node", "cand").agg(sum("k_in").as("k_in"))
    cand.join(lbl, "node").join(deg, "node")
      .join(sigma, "cand")
      .withColumn("score",
        lit(m2).cast(DecimalType(38, 0)) *
          col("k_in").cast(DecimalType(38, 0))
        - col("k").cast(DecimalType(38, 0)) *
          (col("sigma") - when(col("cand") === col("c"), col("k"))
            .otherwise(lit(0L))).cast(DecimalType(38, 0)))
      .groupBy("node")
      .agg(max(struct(col("score"), (-col("cand")).as("nc"))).as("m"))
      .select(col("node"), (-col("m.nc")).as("c"))
      .localCheckpoint()
  }

  private val edgesSql =
    """e0 AS (SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                     'p' || CAST(l_partkey AS VARCHAR) AS dst
              FROM lineitem),
       edges AS (SELECT src, dst FROM e0
                 UNION ALL
                 SELECT dst AS src, src AS dst FROM e0)"""

  /** The longEdges encoding (s<k> → 2k, p<k> → 2k+1) for the PageRank
    * family — mirrors the engine's fixed-width long node ids. */
  private val edgesSqlLong =
    """e0 AS (SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst
              FROM lineitem),
       edges AS (SELECT src, dst FROM e0
                 UNION ALL
                 SELECT dst AS src, src AS dst FROM e0)"""

  /** One damped-update CTE round: rank' = (1-0.85) + 0.85 * Σ rank_in/deg_in,
    * decimal-exact inner sum, double outer arithmetic — identical to the
    * engine's [[PageRank]] iteration. The teleport term is spelled
    * 1.0 - 0.85 (not the literal 0.15) because that is the double the engine
    * computes: 0.15000000000000002, one ulp off the decimal literal. */
  private def iterSql(prev: String, out: String): String =
    s"""(SELECT n.node,
           (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE) *
             CAST(COALESCE(s.in_sum, 0) AS DOUBLE) AS rank
         FROM nodes n LEFT JOIN (
           SELECT o.dst AS node,
                  sum(CAST(r.rank / o.deg AS DECIMAL(28,18))) AS in_sum
           FROM $out o JOIN $prev r ON o.src = r.node GROUP BY 1) s
           USING (node))"""

  /** One peel round as chained MATERIALIZED CTEs (d_i → k_i → s_i). The
    * MATERIALIZED hint mirrors the engine's localCheckpoint: each s_{i-1}
    * is referenced 3× per round, so an inlining planner would re-derive
    * the co-order join 3^rounds times (measured: 80 GB of temp spill at
    * sf0.1 without the hint; 2.9 s with it). */
  private def peelSql(i: Int, prev: String): String =
    s""",
       d$i AS MATERIALIZED (SELECT u, count(*) AS d FROM $prev GROUP BY 1),
       k$i AS MATERIALIZED (SELECT u FROM d$i, kv WHERE d >= kv.k),
       s$i AS MATERIALIZED (SELECT s.u, s.v FROM $prev s
         JOIN k$i a ON s.u = a.u JOIN k$i b ON s.v = b.u)"""

  /** The capped co-order projection (pp + e CTEs) — the exact SQL mirror
    * of [[coOrderPairs]]: orders whose distinct-part fan-out exceeds `cap`
    * are excluded before the pair self-join. */
  private def coOrderSql(cap: Int): String =
    s"""pp AS MATERIALIZED (
           SELECT l_orderkey, l_partkey FROM (
             SELECT l_orderkey, l_partkey,
                    count(*) OVER (PARTITION BY l_orderkey) AS fan
             FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem))
           WHERE fan <= $cap),
         e AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
           FROM pp a JOIN pp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"""

  /** Full k-core oracle at a given projection cap: capped pp/e, symmetrize,
    * exact-rank-p10 k (row_number over (d, u) — the node tie-break cannot
    * change the d at the target rank, so this equals the engine's
    * histogram k), 4 materialized peel rounds, final surviving degrees. */
  private def kcoreSql(cap: Int): String =
    s"""WITH ${coOrderSql(cap)},
         s0 AS MATERIALIZED (
           SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
         d0 AS MATERIALIZED (SELECT u, count(*) AS d FROM s0 GROUP BY 1),
         kv AS MATERIALIZED (
           SELECT d AS k
           FROM (SELECT d, row_number() OVER (ORDER BY d, u) AS rn FROM d0) r,
                (SELECT (count(*) + 9) // 10 AS tgt FROM d0) t
           WHERE r.rn = t.tgt)
         ${(1 to 4).map(i => peelSql(i, if (i == 1) "s0" else s"s${i - 1}")).mkString}
         SELECT u AS node, count(*) AS core_deg FROM s4 GROUP BY 1"""

  /** One BFS relaxation round as a MATERIALIZED CTE (same inlining-blowup
    * rationale as [[peelSql]]). */
  private def bfsSql(i: Int, prev: String): String =
    s""",
       f$i AS MATERIALIZED (
         SELECT node, min(dist) AS dist FROM (
           SELECT node, dist FROM $prev
           UNION ALL
           SELECT s.v AS node, f.dist + 1 AS dist
           FROM s0 s JOIN $prev f ON s.u = f.node) GROUP BY 1)"""

  val oracles: Map[String, String] = Map(
    "g_bfs" ->
      s"""WITH ${coOrderSql(32)},
         s0 AS MATERIALIZED (
           SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
         f0 AS MATERIALIZED (
           SELECT u AS node, 0 AS dist
           FROM (SELECT DISTINCT u FROM s0) n WHERE u % 100 = 0)
         ${(1 to 3).map(i => bfsSql(i, s"f${i - 1}")).mkString}
         SELECT node, dist FROM f3""",
    "g_bfs_conv" ->
      // 5 relaxation rounds unrolled + a changed-node COUNT per round (an
      // integer — no FP determinism argument needed) + the first-zero
      // stop pick; rounds past the fixpoint are stable so the unused
      // unrolled tail is cheap. MATERIALIZED per the g_bfs/g_kcore
      // inlining lesson.
      s"""WITH ${coOrderSql(32)},
         s0 AS MATERIALIZED (
           SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
         f0 AS MATERIALIZED (
           SELECT u AS node, 0 AS dist
           FROM (SELECT DISTINCT u FROM s0) n WHERE u % 100 = 0)
         ${(1 to 5).map(i => bfsSql(i, s"f${i - 1}")).mkString},
         ${(1 to 5).map { i =>
           s"""ch$i AS (SELECT count(*) AS c FROM f$i n
                 LEFT JOIN f${i - 1} p ON n.node = p.node
                 WHERE p.node IS NULL OR n.dist <> p.dist)"""
         }.mkString(",\n         ")},
         deltas AS (${(1 to 5).map(i =>
           s"SELECT $i AS r, c FROM ch$i").mkString(" UNION ALL ")}),
         stop AS (SELECT CAST(coalesce(min(r), 5) AS INTEGER) AS rs
                  FROM deltas WHERE c = 0),
         allf AS (${(1 to 5).map(i =>
           s"SELECT $i AS r, node, dist FROM f$i").mkString(" UNION ALL ")})
         SELECT node, dist, (SELECT rs FROM stop) AS stop_round
         FROM allf WHERE r = (SELECT rs FROM stop)""",
    "g_kcore" -> kcoreSql(32),
    "g_kcore_capped" -> kcoreSql(8),
    "g_kcore_conv" ->
      // 8 unrolled peel rounds + a removed-node COUNT per round (pure
      // integer) + the first-zero stop pick (the g_bfs_conv idiom);
      // rounds past the fixpoint are stable so the unused tail is cheap
      s"""WITH ${coOrderSql(32)},
         s0 AS MATERIALIZED (
           SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
         d0 AS MATERIALIZED (SELECT u, count(*) AS d FROM s0 GROUP BY 1),
         kv AS MATERIALIZED (
           SELECT d AS k
           FROM (SELECT d, row_number() OVER (ORDER BY d, u) AS rn FROM d0) r,
                (SELECT (count(*) + 49) // 50 AS tgt FROM d0) t
           WHERE r.rn = t.tgt)
         ${(1 to 8).map(i => peelSql(i, if (i == 1) "s0" else s"s${i - 1}")).mkString},
         ${(1 to 8).map { i =>
           s"rm$i AS (SELECT count(*) AS c FROM d$i, kv WHERE d < kv.k)"
         }.mkString(",\n         ")},
         deltas AS (${(1 to 8).map(i =>
           s"SELECT $i AS r, c FROM rm$i").mkString(" UNION ALL ")}),
         stop AS (SELECT CAST(coalesce(min(r), 8) AS INTEGER) AS rs
                  FROM deltas WHERE c = 0),
         alls AS (${(1 to 8).map(i =>
           s"SELECT $i AS r, u FROM s$i").mkString(" UNION ALL ")})
         SELECT u AS node, count(*) AS core_deg,
                (SELECT rs FROM stop) AS stop_round
         FROM alls WHERE r = (SELECT rs FROM stop) GROUP BY 1""",
    "g_lpa" ->
      // 3 unrolled synchronous rounds; every c_r/l_r is referenced by the
      // next round, MATERIALIZED per the g_kcore inlining lesson. The
      // argmax tie-break (max cnt, then MIN label) is the JOIN-BASED
      // argmax — per-node max(cnt), then min(label) among the maxima —
      // total over integers, so each round's assignment and therefore
      // the whole trajectory is deterministic in both engines. Join-based,
      // NOT max(struct_pack): DuckDB's struct aggregate balloons past any
      // memory cap on the sf1 edge join (the g_walks lesson) where the
      // plain max/min aggregates and the hash join spill and stream.
      s"""WITH e0 AS (SELECT DISTINCT l_suppkey * 2 AS src,
                             l_partkey * 2 + 1 AS dst
                      FROM lineitem),
         edges AS MATERIALIZED (
           SELECT src, dst FROM e0
           UNION ALL
           SELECT dst AS src, src AS dst FROM e0),
         l0 AS MATERIALIZED (
           SELECT DISTINCT src AS node, src AS label FROM edges),
         ${(1 to 3).map { r =>
           s"""c$r AS MATERIALIZED (
           SELECT e.dst AS node, l.label, count(*) AS cnt
           FROM edges e JOIN l${r - 1} l ON e.src = l.node GROUP BY 1, 2),
         lm$r AS (SELECT node, max(cnt) AS mc FROM c$r GROUP BY 1),
         l$r AS MATERIALIZED (
           SELECT c.node, min(c.label) AS label
           FROM c$r c JOIN lm$r m ON c.node = m.node AND c.cnt = m.mc
           GROUP BY 1)"""
         }.mkString(",\n         ")}
         SELECT node, label FROM l3""",
    "g_modularity" ->
      // the g_lpa rounds replayed, then the integer community moments
      // (w_c within-edges, d_c degree sums), the windowed M2 total, the
      // per-community IEEE term, and the order-independent decimal sum
      s"""WITH e0 AS (SELECT DISTINCT l_suppkey * 2 AS src,
                             l_partkey * 2 + 1 AS dst
                      FROM lineitem),
         edges AS MATERIALIZED (
           SELECT src, dst FROM e0
           UNION ALL
           SELECT dst AS src, src AS dst FROM e0),
         l0 AS MATERIALIZED (
           SELECT DISTINCT src AS node, src AS label FROM edges),
         ${(1 to 3).map { r =>
           s"""c$r AS MATERIALIZED (
           SELECT e.dst AS node, l.label, count(*) AS cnt
           FROM edges e JOIN l${r - 1} l ON e.src = l.node GROUP BY 1, 2),
         lm$r AS (SELECT node, max(cnt) AS mc FROM c$r GROUP BY 1),
         l$r AS MATERIALIZED (
           SELECT c.node, min(c.label) AS label
           FROM c$r c JOIN lm$r m ON c.node = m.node AND c.cnt = m.mc
           GROUP BY 1)"""
         }.mkString(",\n         ")},
         ws AS MATERIALIZED (
           SELECT e.src, e.dst, l.label AS lsrc
           FROM edges e JOIN l3 l ON e.src = l.node),
         dc AS (SELECT lsrc, CAST(count(*) AS BIGINT) AS d_c
                FROM ws GROUP BY 1),
         wc AS (SELECT ws.lsrc, CAST(count(*) AS BIGINT) AS w_c
                FROM ws JOIN l3 l2 ON ws.dst = l2.node
                WHERE ws.lsrc = l2.label GROUP BY 1),
         t AS (SELECT dc.lsrc, COALESCE(wc.w_c, 0) AS w_c, dc.d_c,
                      CAST(sum(dc.d_c) OVER () AS BIGINT) AS m2
               FROM dc LEFT JOIN wc ON dc.lsrc = wc.lsrc),
         u AS (SELECT m2,
                      CAST(CAST(w_c AS DOUBLE) / CAST(m2 AS DOUBLE)
                           - (CAST(d_c AS DOUBLE) / CAST(m2 AS DOUBLE))
                             * (CAST(d_c AS DOUBLE) / CAST(m2 AS DOUBLE))
                           AS DECIMAL(28,16)) AS term
               FROM t)
         SELECT CAST(count(*) AS BIGINT) AS n_communities,
                CAST(max(m2) AS BIGINT) AS m2,
                round(CAST(sum(term) AS DOUBLE), 6) AS modularity
         FROM u""",
    "g_pagerank" ->
      s"""WITH $edgesSqlLong,
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         outd AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
         nodes AS (SELECT DISTINCT src AS node FROM edges),
         r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
         i1 AS ${iterSql("r0", "outd")},
         i2 AS ${iterSql("i1", "outd")},
         i3 AS ${iterSql("i2", "outd")}
         SELECT node, round(rank, 6) AS rank FROM i3""",
    "g_pagerank_conv" ->
      // 6 rounds unrolled + a relative-movement scalar per round + the
      // min-round stop pick (the v_kmeans_conv oracle idiom). Each i_r is
      // MATERIALIZED — referenced by i_{r+1}, d_r, d_{r+1} AND the final
      // union, an inlining planner would re-derive the round chain
      // exponentially (the g_kcore lesson). The movement is IEEE
      // subtract/abs/divide over bit-identical doubles, so the stopping
      // decision cannot diverge between engines.
      s"""WITH $edgesSqlLong,
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         outd AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
         nodes AS (SELECT DISTINCT src AS node FROM edges),
         r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
         ${(1 to 6).map { r =>
           val p = if (r == 1) "r0" else s"i${r - 1}"
           s"""i$r AS MATERIALIZED ${iterSql(p, "outd")},
         d$r AS (SELECT max(abs(n.rank - p.rank) / p.rank) AS mv
                 FROM i$r n JOIN $p p ON n.node = p.node)"""
         }.mkString(",\n         ")},
         deltas AS (${(1 to 6).map(r =>
           s"SELECT $r AS r, mv FROM d$r").mkString(" UNION ALL ")}),
         stop AS (SELECT CAST(coalesce(min(r), 6) AS INTEGER) AS rs
                  FROM deltas WHERE mv < 2.0),
         allr AS (${(1 to 6).map(r =>
           s"SELECT $r AS r, node, rank FROM i$r").mkString(" UNION ALL ")})
         SELECT node, round(rank, 6) AS rank,
                (SELECT rs FROM stop) AS stop_round
         FROM allr WHERE r = (SELECT rs FROM stop)""",
    "g_ppr" ->
      // the g_pagerank round chain with the seed-indicator teleport:
      // (1-d)*e + d*in_sum, e ∈ {0.0, 1.0} exactly, r0 = e — every double
      // operand identical to the engine's, three unrolled rounds
      s"""WITH $edgesSqlLong,
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         outd AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
         nodes AS (SELECT node,
                     CASE WHEN node % 20 = 0
                          THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE)
                     END AS e
                   FROM (SELECT DISTINCT src AS node FROM edges)),
         r0 AS (SELECT node, e AS rank FROM nodes),
         ${(1 to 3).map { r =>
           val p = if (r == 1) "r0" else s"i${r - 1}"
           s"""i$r AS (SELECT n.node,
             (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * n.e +
               CAST(0.85 AS DOUBLE) * CAST(COALESCE(s.in_sum, 0) AS DOUBLE)
               AS rank
           FROM nodes n LEFT JOIN (
             SELECT o.dst AS node,
                    sum(CAST(r.rank / o.deg AS DECIMAL(28,18))) AS in_sum
             FROM outd o JOIN $p r ON o.src = r.node GROUP BY 1) s
             USING (node))"""
         }.mkString(",\n         ")}
         SELECT node, round(rank, 6) AS rank FROM i3""",
    "g_hits" ->
      // two unrolled authority/hub half-round pairs: decimal-exact sums of
      // bit-identical doubles, max-normalized via a window over the
      // aggregated node frame — the identical IEEE divide per node
      s"""WITH e0 AS (SELECT DISTINCT l_suppkey * 2 AS src,
                             l_partkey * 2 + 1 AS dst
                      FROM lineitem),
         h0 AS (SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) AS h FROM e0),
         ${(1 to 2).map { r =>
           s"""a${r}d AS (SELECT e.dst AS node,
                    sum(CAST(h.h AS DECIMAL(28,18))) AS adec
             FROM e0 e JOIN h${r - 1} h ON e.src = h.node GROUP BY 1),
         a$r AS (SELECT node,
                    CAST(adec AS DOUBLE) / CAST(max(adec) OVER () AS DOUBLE)
                      AS a
                 FROM a${r}d),
         h${r}d AS (SELECT e.src AS node,
                    sum(CAST(a.a AS DECIMAL(28,18))) AS hdec
             FROM e0 e JOIN a$r a ON e.dst = a.node GROUP BY 1),
         h$r AS (SELECT node,
                    CAST(hdec AS DOUBLE) / CAST(max(hdec) OVER () AS DOUBLE)
                      AS h
                 FROM h${r}d)"""
         }.mkString(",\n         ")}
         SELECT node, 'hub' AS kind, round(h, 6) AS score FROM h2
         UNION ALL
         SELECT node, 'authority' AS kind, round(a, 6) AS score FROM a2""",
    "g_degree_dist" ->
      s"""WITH $edgesSql,
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1)
         SELECT substr(src, 1, 1) AS side, CAST(deg AS BIGINT) AS deg,
                count(*) AS n_nodes
         FROM deg GROUP BY 1, 2""",
    "g_assortativity" ->
      // integer moments over edge-endpoint degrees; identical IEEE
      // Pearson chain — every double operand exactly representable
      s"""WITH $edgesSql,
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         j AS (SELECT d1.deg AS dx, d2.deg AS dy
               FROM edges e
               JOIN deg d1 ON e.src = d1.src
               JOIN deg d2 ON e.dst = d2.src),
         a AS (SELECT count(*) AS m, sum(dx) AS sx, sum(dy) AS sy,
                      sum(dx*dy) AS sxy, sum(dx*dx) AS sxx, sum(dy*dy) AS syy
               FROM j)
         SELECT CAST(m AS BIGINT) AS n_edges,
                round((CAST(m AS DOUBLE)*CAST(sxy AS DOUBLE) -
                       CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
                      (sqrt(CAST(m AS DOUBLE)*CAST(sxx AS DOUBLE) -
                            CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
                       sqrt(CAST(m AS DOUBLE)*CAST(syy AS DOUBLE) -
                            CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6)
                  AS assortativity
         FROM a""",
    "g_linkpred" ->
      """WITH sp AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
         deg AS (SELECT s, count(*) AS d FROM sp GROUP BY 1),
         pairs AS (SELECT a.s AS sa, b.s AS sb, count(*) AS common_parts
                   FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s GROUP BY 1, 2),
         j AS (SELECT p.sa, p.sb, p.common_parts, da.d AS deg_a, db.d AS deg_b,
                      CAST(p.common_parts AS DOUBLE) /
                        (da.d + db.d - p.common_parts) AS jac
               FROM pairs p JOIN deg da ON p.sa = da.s
                            JOIN deg db ON p.sb = db.s)
         SELECT sa, sb, common_parts, deg_a, deg_b, round(jac, 6) AS jaccard
         FROM j ORDER BY jac DESC, sa ASC, sb ASC LIMIT 50""",
    "g_triangles" ->
      // id-ordered 3-way join (a<b<c): e1=(a,b), e2=(b,c), e3=(a,c) —
      // the orientation-free formulation; counts match the engine's
      // degree-oriented wedge+close exactly
      s"""WITH ${coOrderSql(32)},
         deg AS (SELECT n, count(*) AS d
                 FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
                 GROUP BY 1),
         tri AS (SELECT count(*) AS n_triangles
                 FROM e e1 JOIN e e2 ON e1.v = e2.u
                           JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         w AS (SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges FROM deg)
         SELECT (SELECT count(*) FROM e) AS n_edges,
                w.n_wedges, tri.n_triangles,
                round(3.0 * tri.n_triangles / w.n_wedges, 6) AS global_cc
         FROM tri, w""",
    "g_anf" ->
      // two unrolled KMV-merge rounds: per round the k=16 smallest
      // DISTINCT hashes of self ∪ in-neighbors (QUALIFY row_number
      // replays the bounded-heap TopKPerKey cut with the identical
      // (node, h) total order), then the q_kmv_distinct estimator —
      // (k−1)/frac-of-kth via the first-12-hex-digit integer — per node
      s"""WITH $edgesSqlLong,
         s0 AS MATERIALIZED (
           SELECT DISTINCT src AS node, md5(CAST(src AS VARCHAR)) AS h
           FROM edges),
         ${(1 to 2).map { r =>
           s"""p$r AS (SELECT node, h FROM s${r - 1}
                UNION ALL
                SELECT e.dst AS node, s.h
                FROM edges e JOIN s${r - 1} s ON s.node = e.src),
         s$r AS MATERIALIZED (
           SELECT node, h FROM (SELECT DISTINCT node, h FROM p$r)
           QUALIFY row_number() OVER (PARTITION BY node ORDER BY h) <= 16)"""
         }.mkString(",\n         ")},
         r AS (SELECT node, h,
                      row_number() OVER (PARTITION BY node ORDER BY h) AS rn
               FROM s2)
         SELECT node, count(*) AS n_hashes,
                CASE WHEN count(*) < 16 THEN CAST(count(*) AS DOUBLE)
                     ELSE round((15.0 / max(CASE WHEN rn = 16
                            THEN ('0x' || substr(h, 1, 12))::BIGINT END))
                          * 281474976710656.0, 4)
                END AS est_reach
         FROM r GROUP BY node""",
    "g_harmonic" ->
      // the g_anf sketch chain with the KMV estimator applied at BOTH
      // radii, then the truncated harmonic combination over the rounded
      // ball estimates — identical expression order to the engine:
      // (b1 − 1.0) + (b2 − b1) / 2.0, rounded to 4 dp
      s"""WITH $edgesSqlLong,
         s0 AS MATERIALIZED (
           SELECT DISTINCT src AS node, md5(CAST(src AS VARCHAR)) AS h
           FROM edges),
         ${(1 to 2).map { r =>
           s"""p$r AS (SELECT node, h FROM s${r - 1}
                UNION ALL
                SELECT e.dst AS node, s.h
                FROM edges e JOIN s${r - 1} s ON s.node = e.src),
         s$r AS MATERIALIZED (
           SELECT node, h FROM (SELECT DISTINCT node, h FROM p$r)
           QUALIFY row_number() OVER (PARTITION BY node ORDER BY h) <= 16)"""
         }.mkString(",\n         ")},
         ${(1 to 2).map { r =>
           s"""est$r AS (
           SELECT node,
                  CASE WHEN count(*) < 16 THEN CAST(count(*) AS DOUBLE)
                       ELSE round((15.0 / max(CASE WHEN rn = 16
                              THEN ('0x' || substr(h, 1, 12))::BIGINT END))
                            * 281474976710656.0, 4)
                  END AS b$r
           FROM (SELECT node, h,
                        row_number() OVER (PARTITION BY node ORDER BY h) AS rn
                 FROM s$r)
           GROUP BY node)"""
         }.mkString(",\n         ")}
         SELECT node, b1, b2,
                (b1 - CAST(1.0 AS DOUBLE))
                  + (b2 - b1) / CAST(2.0 AS DOUBLE) AS harmonic
         FROM est1 JOIN est2 USING (node)""",
    "g_eff_diameter" ->
      // three unrolled KMV sketch rounds (the g_anf chain one radius
      // deeper); per radius the per-node 4-dp estimates sum in
      // DECIMAL(28,4) then convert once to DOUBLE (order-independent,
      // identical to the engine); radius 0 is |V| exactly; frac and the
      // 0.9 effective-diameter cut are IEEE ops over those identical
      // doubles
      s"""WITH $edgesSqlLong,
         s0 AS MATERIALIZED (
           SELECT DISTINCT src AS node, md5(CAST(src AS VARCHAR)) AS h
           FROM edges),
         ${(1 to 3).map { r =>
           s"""p$r AS (SELECT node, h FROM s${r - 1}
                UNION ALL
                SELECT e.dst AS node, s.h
                FROM edges e JOIN s${r - 1} s ON s.node = e.src),
         s$r AS MATERIALIZED (
           SELECT node, h FROM (SELECT DISTINCT node, h FROM p$r)
           QUALIFY row_number() OVER (PARTITION BY node ORDER BY h) <= 16)"""
         }.mkString(",\n         ")},
         ${(1 to 3).map { r =>
           s"""n$r AS (
           SELECT $r AS radius,
                  CAST(sum(CAST(est AS DECIMAL(28,4))) AS DOUBLE) AS total_reach
           FROM (SELECT CASE WHEN count(*) < 16 THEN CAST(count(*) AS DOUBLE)
                             ELSE round((15.0 / max(CASE WHEN rn = 16
                                    THEN ('0x' || substr(h, 1, 12))::BIGINT END))
                                  * 281474976710656.0, 4)
                        END AS est
                 FROM (SELECT node, h,
                              row_number() OVER (PARTITION BY node ORDER BY h) AS rn
                       FROM s$r)
                 GROUP BY node))"""
         }.mkString(",\n         ")},
         u AS (SELECT 0 AS radius, CAST(count(*) AS DOUBLE) AS total_reach
               FROM s0
               UNION ALL SELECT * FROM n1
               UNION ALL SELECT * FROM n2
               UNION ALL SELECT * FROM n3),
         f AS (SELECT radius, total_reach,
                      total_reach / max(total_reach) OVER () AS frac
               FROM u)
         SELECT radius, total_reach, frac,
                radius = min(CASE WHEN frac >= 0.9 THEN radius END) OVER ()
                  AS eff_diameter
         FROM f""",
    "g_butterflies" ->
      // identical wedge enumeration (pk self-join, s1<s2 half) and pure-
      // integer C(n,2) census — // is DuckDB's integral division, the
      // products are even so both engines' floor-division is exact
      """WITH sp AS MATERIALIZED (
           SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
         w AS (SELECT CAST(sum((dp * (dp - 1)) // 2) AS BIGINT) AS wedges
               FROM (SELECT pk, count(*) AS dp FROM sp GROUP BY 1)),
         pairs AS (SELECT a.sk AS s1, b.sk AS s2, count(*) AS cn
                   FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk < b.sk
                   GROUP BY 1, 2),
         c AS (SELECT count(*) AS connected_pairs,
                      max(cn) AS max_common_parts,
                      CAST(sum((cn * (cn - 1)) // 2) AS BIGINT) AS butterflies
               FROM pairs)
         SELECT w.wedges, c.connected_pairs, c.max_common_parts,
                c.butterflies
         FROM w, c""",
    "g_walks" ->
      // four unrolled argmin-hash steps: each w_t picks, per walk, the
      // out-neighbor minimizing (h1, dst) where h1 = the first 15 hex
      // chars of md5(walk_id:t:neighbor) as a 60-bit integer — the SAME
      // packed ordering the engine aggregates (engine packs h1·2^63+dst
      // into one DECIMAL(38,0) so the argmin is a HashAggregate; the
      // oracle replicates the IDENTICAL packing in HUGEINT and decodes
      // dst back out of the min — DuckDB's arg_min has no composite-key
      // overload and its struct-MIN aggregate ballooned to >130 GB on
      // the 11.8M-row sf1 edge join where the scalar min finishes in
      // 0.5 s). ('0x' || hex)::UBIGINT is DuckDB's
      // hex parse; conv(hex, 16, 10) is Spark's — both yield the same
      // 60-bit value, and the dst tie-break keeps the two engines
      // identical even under a prefix collision. MATERIALIZED per the
      // g_bfs inlining lesson — every w_t is consumed twice (next step +
      // final union).
      s"""WITH $edgesSqlLong,
         w0 AS MATERIALIZED (
           SELECT DISTINCT src AS walk_id, src AS node FROM edges),
         ${(1 to 4).map { t =>
           s"""w$t AS MATERIALIZED (
           SELECT f.walk_id,
                  CAST(min(('0x' || substr(md5(
                       CAST(f.walk_id AS VARCHAR) || ':$t:'
                       || CAST(e.dst AS VARCHAR)), 1, 15))
                       ::UBIGINT::HUGEINT * 9223372036854775808 + e.dst)
                       % 9223372036854775808 AS BIGINT) AS node
           FROM w${t - 1} f JOIN edges e ON f.node = e.src
           GROUP BY 1)"""
         }.mkString(",\n         ")}
         ${(0 to 4).map(t =>
           s"SELECT walk_id, CAST($t AS INTEGER) AS step, node FROM w$t")
           .mkString("\n         UNION ALL ")}""",
    "g_mis" ->
      // four unrolled Luby rounds: per round the md5(round:node) priority
      // frame, min-over-undecided-neighbors, the local-minimum MIS pick,
      // the excluded neighbors, and the shrunken frontier (EXCEPT chain);
      // MATERIALIZED throughout — every round frame is consumed by both
      // the next round and the final union
      s"""WITH $edgesSqlLong,
         u0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
         ${(1 to 4).map { t =>
           s"""p$t AS MATERIALIZED (
           SELECT node, ('0x' || substr(md5('$t:' || CAST(node AS VARCHAR)),
                        1, 15))::UBIGINT::HUGEINT
                        * 9223372036854775808 + node AS p
           FROM u${t - 1}),
         nm$t AS (
           SELECT e.dst AS node, min(pp.p) AS np
           FROM edges e JOIN p$t pp ON e.src = pp.node
           WHERE e.dst IN (SELECT node FROM u${t - 1})
           GROUP BY 1),
         m$t AS MATERIALIZED (
           SELECT pp.node FROM p$t pp LEFT JOIN nm$t n USING (node)
           WHERE n.np IS NULL OR pp.p < n.np),
         x$t AS MATERIALIZED (
           SELECT DISTINCT e.dst AS node
           FROM edges e JOIN m$t m ON e.src = m.node
           WHERE e.dst IN (SELECT node FROM u${t - 1})),
         u$t AS MATERIALIZED (
           SELECT node FROM u${t - 1}
           EXCEPT SELECT node FROM m$t
           EXCEPT SELECT node FROM x$t)"""
         }.mkString(",\n         ")}
         SELECT node, FALSE AS in_mis, CAST(-1 AS INTEGER) AS decided_round
         FROM u4
         ${(1 to 4).map { t =>
           s"""UNION ALL SELECT node, TRUE AS in_mis,
                CAST($t AS INTEGER) AS decided_round FROM m$t
         UNION ALL SELECT node, FALSE AS in_mis,
                CAST($t AS INTEGER) AS decided_round FROM x$t"""
         }.mkString("\n         ")}""",
    "g_louvain" ->
      // 2 unrolled synchronous sweeps; the score is pure integer
      // (HUGEINT here, DECIMAL(38,0) in the engine — identical values,
      // identical order), so the argmax trajectory is deterministic.
      // Every CTE a later round re-reads is MATERIALIZED (the g_kcore
      // inlining lesson).
      s"""WITH $edgesSqlLong,
         deg AS MATERIALIZED (
           SELECT src AS node, CAST(count(*) AS BIGINT) AS k
           FROM edges GROUP BY 1),
         m2t AS (SELECT CAST(count(*) AS HUGEINT) AS m2 FROM edges),
         l0 AS MATERIALIZED (SELECT node, node AS c FROM deg),
         ${(1 to 2).map { r =>
           s"""sig$r AS MATERIALIZED (
           SELECT l.c AS cand, CAST(sum(d.k) AS HUGEINT) AS sigma
           FROM l${r - 1} l JOIN deg d USING (node) GROUP BY 1),
         nb$r AS (
           SELECT e.src AS node, l.c AS cand, CAST(count(*) AS HUGEINT) AS k_in
           FROM edges e JOIN l${r - 1} l ON e.dst = l.node GROUP BY 1, 2),
         cand$r AS (
           SELECT node, cand, CAST(sum(k_in) AS HUGEINT) AS k_in FROM (
             SELECT node, cand, k_in FROM nb$r
             UNION ALL
             SELECT node, c AS cand, CAST(0 AS HUGEINT) AS k_in FROM l${r - 1})
           GROUP BY 1, 2),
         sc$r AS MATERIALIZED (
           SELECT cd.node, cd.cand,
                  m2t.m2 * cd.k_in - CAST(d.k AS HUGEINT) *
                    (s.sigma - CASE WHEN cd.cand = l.c
                                    THEN CAST(d.k AS HUGEINT)
                                    ELSE CAST(0 AS HUGEINT) END) AS score
           FROM cand$r cd
           JOIN l${r - 1} l USING (node)
           JOIN deg d USING (node)
           JOIN sig$r s ON s.cand = cd.cand
           CROSS JOIN m2t),
         sm$r AS (SELECT node, max(score) AS ms FROM sc$r GROUP BY 1),
         l$r AS MATERIALIZED (
           SELECT s.node, min(s.cand) AS c
           FROM sc$r s JOIN sm$r m ON s.node = m.node AND s.score = m.ms
           GROUP BY 1)"""
         }.mkString(",\n         ")}
         SELECT node, c AS community FROM l2""",
    "g_louvain2" ->
      // the g_louvain replay + the aggregation phase: coarsen on the
      // level-1 labels (self-loops carry internal mass), then ONE weighted
      // sweep with the identical HUGEINT ΔQ argmax — coarse degree keeps
      // the self-loop, candidate edges drop it
      s"""WITH $edgesSqlLong,
         deg AS MATERIALIZED (
           SELECT src AS node, CAST(count(*) AS BIGINT) AS k
           FROM edges GROUP BY 1),
         m2t AS (SELECT CAST(count(*) AS HUGEINT) AS m2 FROM edges),
         l0 AS MATERIALIZED (SELECT node, node AS c FROM deg),
         ${(1 to 2).map { r =>
           s"""sig$r AS MATERIALIZED (
           SELECT l.c AS cand, CAST(sum(d.k) AS HUGEINT) AS sigma
           FROM l${r - 1} l JOIN deg d USING (node) GROUP BY 1),
         nb$r AS (
           SELECT e.src AS node, l.c AS cand, CAST(count(*) AS HUGEINT) AS k_in
           FROM edges e JOIN l${r - 1} l ON e.dst = l.node GROUP BY 1, 2),
         cand$r AS (
           SELECT node, cand, CAST(sum(k_in) AS HUGEINT) AS k_in FROM (
             SELECT node, cand, k_in FROM nb$r
             UNION ALL
             SELECT node, c AS cand, CAST(0 AS HUGEINT) AS k_in FROM l${r - 1})
           GROUP BY 1, 2),
         sc$r AS MATERIALIZED (
           SELECT cd.node, cd.cand,
                  m2t.m2 * cd.k_in - CAST(d.k AS HUGEINT) *
                    (s.sigma - CASE WHEN cd.cand = l.c
                                    THEN CAST(d.k AS HUGEINT)
                                    ELSE CAST(0 AS HUGEINT) END) AS score
           FROM cand$r cd
           JOIN l${r - 1} l USING (node)
           JOIN deg d USING (node)
           JOIN sig$r s ON s.cand = cd.cand
           CROSS JOIN m2t),
         sm$r AS (SELECT node, max(score) AS ms FROM sc$r GROUP BY 1),
         l$r AS MATERIALIZED (
           SELECT s.node, min(s.cand) AS c
           FROM sc$r s JOIN sm$r m ON s.node = m.node AND s.score = m.ms
           GROUP BY 1)"""
         }.mkString(",\n         ")},
         ce AS MATERIALIZED (
           SELECT a.c AS cs, b.c AS cd, CAST(count(*) AS BIGINT) AS w
           FROM edges e JOIN l2 a ON e.src = a.node
                        JOIN l2 b ON e.dst = b.node
           GROUP BY 1, 2),
         cdeg AS MATERIALIZED (
           SELECT cs AS node, CAST(sum(w) AS BIGINT) AS k FROM ce GROUP BY 1),
         cl0 AS (SELECT node, node AS c FROM cdeg),
         csig AS (SELECT l.c AS cand, CAST(sum(d.k) AS HUGEINT) AS sigma
                  FROM cl0 l JOIN cdeg d USING (node) GROUP BY 1),
         cnb AS (SELECT e.cs AS node, l.c AS cand,
                        CAST(sum(e.w) AS HUGEINT) AS k_in
                 FROM ce e JOIN cl0 l ON e.cd = l.node
                 WHERE e.cs <> e.cd GROUP BY 1, 2),
         ccand AS (SELECT node, cand, CAST(sum(k_in) AS HUGEINT) AS k_in FROM (
             SELECT node, cand, k_in FROM cnb
             UNION ALL
             SELECT node, c AS cand, CAST(0 AS HUGEINT) AS k_in FROM cl0)
           GROUP BY 1, 2),
         csc AS MATERIALIZED (SELECT cd2.node, cd2.cand,
                   m2t.m2 * cd2.k_in - CAST(d.k AS HUGEINT) *
                     (s.sigma - CASE WHEN cd2.cand = l.c
                                     THEN CAST(d.k AS HUGEINT)
                                     ELSE CAST(0 AS HUGEINT) END) AS score
                 FROM ccand cd2
                 JOIN cl0 l USING (node)
                 JOIN cdeg d USING (node)
                 JOIN csig s ON s.cand = cd2.cand
                 CROSS JOIN m2t),
         csm AS (SELECT node, max(score) AS ms FROM csc GROUP BY 1),
         cl1 AS MATERIALIZED (
           SELECT s.node, min(s.cand) AS c
           FROM csc s JOIN csm m ON s.node = m.node AND s.score = m.ms
           GROUP BY 1)
         SELECT l.node, l.c AS c1, cl1.c AS community
         FROM l2 l JOIN cl1 ON cl1.node = l.c"""
  )
}
