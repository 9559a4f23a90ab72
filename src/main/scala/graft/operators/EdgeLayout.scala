package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.storage.StorageLevel

/** The one place an iterative graph operator's edge layout is decided:
  * whether the edge frame is STAGED, how the per-round node-sized frame
  * joins it, and when the staged cache is released.
  *
  * STAGED layout: hash-partitioned by the per-round join key, sorted
  * within partitions, persisted. Persist, not localCheckpoint: a cached
  * InMemoryRelation keeps the repartition+sort's outputPartitioning and
  * outputOrdering visible to EnsureRequirements (AQE does not re-plan
  * cached plans), so every round's SortMergeJoin exchanges and sorts ONLY
  * the node-sized side; a localCheckpoint under AQE collapses to an
  * unpartitioned LogicalRDD and the engine re-exchanges AND re-sorts the
  * edge side every round — the g_walks sf10 spill (measured 607.7 →
  * 196.5 s, DESIGN.md round 12). This is the bucketed-graph layout a
  * deployment stores its adjacency in: sort once at write, join
  * co-located forever.
  *
  * With no shuffle below the per-round join, its strategy is frozen at
  * initial planning, and the static planner — seeing exact stats only for
  * the cached edge side — can BROADCAST THE EDGE CACHE as the build side
  * (measured 0.5 → 17 s per g_walks step at sf0.1). So [[Adjacency.join]]
  * pins the strategy: a merge join streaming the pre-sorted cache when
  * staged, a broadcast of the node frame when not.
  *
  * REGIME pick ([[picked]]), made once per corpus from the node count:
  * up to [[BroadcastNodes]] (4M rows ≈ 200 MB hashed — the knob is
  * executor memory) the node frame broadcasts and the edge frame streams
  * with no exchange regardless of layout, so staging (~7 s at sf1,
  * measured) buys nothing; above it the edge frame is staged — the 100 TB
  * shape, where only the node-sized frame moves per round.
  */
object EdgeLayout {
  val BroadcastNodes = 4000000L

  /** An edge frame in its layout; `key` is the per-round join column. */
  final case class Adjacency(edges: DataFrame, key: String, staged: Boolean) {
    /** Joins a node-sized frame carrying `key`, in the layout's strategy. */
    def join(nodes: DataFrame): DataFrame =
      if (staged) edges.hint("merge").join(nodes, key)
      else edges.join(broadcast(nodes), key)
  }

  /** Runs `body` over `edges` staged by `key`. The cache is released on
    * every path, failures included, so `body` must return frames that no
    * longer read it (every round checkpointed). */
  def staged[T](edges: DataFrame, key: String)(body: Adjacency => T): T =
    using(edges, key, stage = true)(body)

  /** [[staged]] above [[BroadcastNodes]] nodes, else `edges` as given
    * (already lineage-truncated by the caller) with broadcast joins. */
  def picked[T](edges: DataFrame, key: String, nodes: Long)(body: Adjacency => T): T =
    using(edges, key, stage = nodes > BroadcastNodes)(body)

  private def using[T](edges: DataFrame, key: String, stage: Boolean)
                      (body: Adjacency => T): T = {
    // EXPLICIT partition count: a bare repartition(col) is
    // REPARTITION_BY_COL, which AQE coalesces by size — at small SFs the
    // cached frame collapsed to 1-4 partitions and every per-round
    // consumer ran near-single-threaded (measured: g_pagerank 2.5 → 10.3 s
    // at sf0.1 before this pin). An explicit N is exempt from coalescing;
    // the session's shuffle-partition setting is exactly the deployment's
    // bucket-count knob for a stored adjacency.
    val n = edges.sparkSession.sessionState.conf.numShufflePartitions
    val e = if (!stage) edges else edges.repartition(n, col(key))
      .sortWithinPartitions(key).persist(StorageLevel.MEMORY_AND_DISK)
    try body(Adjacency(e, key, stage)) finally if (stage) e.unpersist(false)
  }
}
