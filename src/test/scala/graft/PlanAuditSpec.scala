package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical scale-anti-pattern lint over EVERY declared query's physical
  * plan — the round-5 verdict's hand audit ("all crossJoins broadcast
  * tiny frames, no non-broadcast cartesians") as a permanent test, so a
  * future query can't silently reintroduce an all-pairs join.
  *
  * Excluded: `p_*` (pipelines execute eagerly and return a table read —
  * their interesting plans are inside the pipeline) and `s_*` (streams
  * run to completion at build; the returned frame is a memory-sink read).
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  /** Queries whose BroadcastNestedLoopJoin is the DESIGN: a broadcast of a
    * provably tiny frame (1-row scalar aggregates, an nCells seed table, a
    * serving batch), never a data×data product. */
  private val bnljByDesign = Set(
    "q_cross", // the declared cross-join query itself (25-row dim side)
    "q_scalar_subquery", // 1-row scalar aggregate broadcast
    "t_freq_quality", // 1-row corpus-size frame broadcast
    "t_ngram_lm", // 1-row vocab-total broadcast
    "t_kn_lm", // 1-row bigram-type-total broadcast (the t_ngram_lm pattern)
    "t_kn_score", // same 1-row type-total broadcast, in the apply join
    "t_bm25", // 1-row corpus-stats (N, sum_len) broadcast
    "t_lm_quality", // same 1-row vocab-total broadcast as t_ngram_lm
    "t_ccnet_bucket", // the t_lm_quality chain (1-row vocab-total broadcast)
    "g_triangles", // three 1-row census aggregates composed
    "g_butterflies", // two 1-row census aggregates composed (same pattern)
    // (g_kcore's degree threshold is a driver-side scalar, so its rounds
    // plan no 1-row broadcast at all)
    "q_dq_report", // RI check: two 1-row count aggregates composed
    "q_sample_est", // sample-estimate vs exact: two 1-row aggregates composed
    "d_dedup_eval", // precision/recall: three 1-row count aggregates composed
    "d_threshold_sweep", // same gate swept over 3 operating points: the
    // 1-row truth-count aggregate broadcast into the 3-row sweep table
    "q_basket", // 1-row n_orders total broadcast into the pair metrics
    "q_tpch_q22", // 1-row global-avg-balance aggregate broadcast
    "q_tpch_q11", // 1-row nation-total (value, part-count) aggregate broadcast
    "q_kmv_overlap", // event-type dim broadcast (~8 rows) into sketch pairs
    "v_knn_batch", // corpus x broadcast(8-query serving batch)
    "v_hard_negatives", // corpus x broadcast(8-query mining batch)
    "t_dsir", // 1-row (Tt, Tr) model-total aggregate broadcast
    "v_rrf", // the t_bm25 1-row corpus-stats (N, sum_len) broadcast, reused
    "v_knn_ivfpq_res", // LUT build: nprobe-row query-residual frame ×
    // broadcast(m·nCodes codebook) — serving constants on both sides
    "v_knn_descent_recall", // six 1-row stat aggregates composed (counts,
    // hit counts, decimal similarity masses) — the d_dedup_eval pattern
    "v_knn_refine") // 1-row rank-50-score aggregate broadcast (the margined
    // stage boundary: every candidate within 1e-9 of the 50th coarse score)
    // -- the assignSampled family (v_knn_ivf, v_knn_ivfpq, v_kmeans,
    // v_knn_ivf_append, v_knn_ivf_trained) left this list in round 9: the
    // corpus x broadcast(seeds) argmax became the per-row AssignCellExpr
    // projection, so their plans no longer contain ANY nested-loop join.
    // (v_kmeans_iter's rounds run eagerly with the model on the driver —
    // its audited final plan is a LocalTableScan + projection.)

  test("no declared query plans a cartesian or an unsanctioned nested loop") {
    val audited = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => n.startsWith("p_") || n.startsWith("s_") }
    assert(audited.size > 100, "audit must cover the bulk of the inventory")
    val violations = audited.flatMap { case (name, fn) =>
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      val cart = if (plan.contains("CartesianProduct"))
        Some(s"$name: CartesianProduct (non-broadcast all-pairs)") else None
      val bnlj = if (plan.contains("BroadcastNestedLoopJoin")
        && !bnljByDesign(name))
        Some(s"$name: BroadcastNestedLoopJoin outside the sanctioned set") else None
      cart.toSeq ++ bnlj.toSeq
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  test("the sanctioned nested-loop set stays minimal and current") {
    // every sanctioned name must still exist AND still plan a BNLJ —
    // stale whitelist entries hide future regressions
    bnljByDesign.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        fail(s"whitelisted $name is no longer a declared query"))
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin"),
        s"$name no longer plans a BNLJ — remove it from the whitelist")
    }
  }
}
