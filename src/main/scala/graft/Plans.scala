package graft

import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: formatted physical plans of headline queries, the
  * audit trail for the scale claims (pushed filters, pruned columns,
  * broadcasts, partial aggregation, custom exec nodes).
  * Run: sbt "runMain graft.Plans". */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session(8)
    val dir = "/root/testdata/sf0.001"
    val headline = Seq(
      "q_scan_project", "q1_agg", "q_join_multi", "q_anti_join",
      "q_topk_perkey", "d_minhash_lsh", "v_knn_brute",
      "q_bloom_prune", "q_reagg", "t_pack", "q_skew_join", "q_lateral",
      "t_decontaminate",
      // round 5 additions: the fixed t_freq_quality fan-out (explode must
      // appear once), the exchange-free bucketed join, the span-df barrier,
      // one PageRank round's join+agg shape, and the funnel's broadcast
      // per-user gates
      "t_freq_quality", "q_bucketed_join", "t_dup_spans", "g_degree_dist",
      "q_funnel",
      // round 6: the 10 slowest bench queries — the expensive tail is
      // exactly where plan evidence matters most
      "d_ppjoin", "d_incremental", "v_knn_ivf", "v_knn_ivfpq",
      "p_incr_rollup", "d_clusters_stars", "g_pagerank", "t_curate",
      "q_tpch_q3", "q_tpch_q5",
      // round-6 flagships: two-phase top-k family (operator, rewrite,
      // batched ANN, domain quota), triangle census, Q18
      "q_topk_rewrite", "v_knn_batch", "t_source_quota", "g_triangles",
      "q_tpch_q18",
      // round-6 second half: v_kmeans is top-5 slowest (same assignment
      // shape as v_knn_ivf); the others are the new operator families'
      // representative plans (sketch algebra, AQP sampling, integer-moment
      // stats, snapshot diff, eval-as-query)
      "v_kmeans", "q_kmv_overlap", "q_sample_est", "q_acf",
      "g_assortativity", "p_snapshot_diff", "v_recall_eval", "q_tpch_q7",
      // round 7: the slowest-10 members that had no audit entry (g_kcore —
      // the r6 driver bench's slowest — d_ngram_jaccard, g_bfs, t_ngram_lm)
      // and the round's new operators
      "g_kcore", "g_bfs", "d_ngram_jaccard", "t_ngram_lm",
      "v_kmeans_iter", "v_knn_ivf_probe", "v_knn_ivfpq_probe",
      "q_tpch_q11", "q_tpch_q2", "q_tpch_q20",
      "q_tpch_q1", "q_tpch_q12", "q_tpch_q21",
      // round 8: the last two slowest-10 members without an audit entry
      // (the round-7 verdict's residual `weak` pair), plus the round's
      // new operators
      "g_linkpred", "t_fuzzy_curate", "v_kmeans_conv", "m_wav_stats",
      "g_pagerank_conv", "m_wav_neardup", "v_knn_ivf_trained",
      // round-8 second half: the javax.imageio modalities (PNG round
      // trip, lossy JPEG invariants, multi-frame GIF fan-out) and the
      // recursive CTE
      "m_png_codec", "m_jpeg_meta", "m_gif_frames", "q_recursive_cte",
      // round 9: the rewritten PPJoin verification + the round's new
      // operators (capped PPJoin, scale-derived SemDeDup, incremental IVF
      // append, nearest as-of, AVI container, line dedup, MRL retrieval)
      "d_ppjoin_capped", "v_semdedup_scaled", "v_knn_ivf_append",
      "q_asof_nearest", "m_avi_frames", "d_line_dedup", "v_knn_mrl",
      // round 10: the new operator families (personalized PageRank, HITS,
      // PCA/ABTT, MMR re-ranking, DSIR selection, Gopher rules) and the
      // re-keyed/probed-in-frame PageRank family
      "g_ppr", "g_hits", "v_pca", "v_abtt", "v_mmr", "t_dsir",
      "t_gopher_rules", "g_lpa", "g_modularity",
      // round-10 second half: KMV neighborhood function, k-center coreset,
      // CCNet perplexity buckets, the hashed linear classifier
      "g_anf", "v_kcenter", "t_ccnet_bucket", "t_classifier_score",
      "t_bpe_train", "g_harmonic", "g_eff_diameter",
      // round-10 third wave: binary-quantization retrieval, the bipartite
      // butterfly census, the random-walk corpus, Luby's MIS
      "v_knn_binary", "g_butterflies", "g_walks", "g_mis",
      "t_kn_lm", "t_bm25", "d_dbscan", "v_hard_negatives",
      "t_span_corrupt", "t_render_dpo", "t_source_overlap",
      // round 10: BPE encoding against the trained merge table, the
      // trained (fixed-point GD) classifier
      "t_bpe_encode", "t_classifier_train",
      // round-10 fourth wave: feature-hashed doc vectors, cluster-
      // stratified sampling + purity eval, one Louvain level, the PNG
      // metadata scrub
      "t_hash_embed", "v_cluster_sample", "v_cluster_purity", "g_louvain",
      "m_strip_meta",
      // round-10 fifth wave: hybrid RRF fusion, the cell-blocked kNN
      // graph, the second Louvain level, the JPEG metadata scrub
      "v_rrf", "v_knn_graph", "g_louvain2", "m_jpeg_strip",
      "v_knn_ivfpq_res", "t_kn_score", "m_wav_resample",
      // round-10 sixth wave: video near-dup, ANN erasure, sharded
      // scatter-gather serving, curriculum/mixture schedules, the
      // backfill planner
      "m_video_neardup", "v_knn_ivf_delete", "v_knn_shards",
      "t_curriculum", "t_mix_doremi", "p_backfill",
      // round 11: the delta-peel k-core (new plan for an existing audit
      // member), its convergence variant, NN-Descent refinement, the
      // incremental graph append, and the heap-bounded KMV reagg
      "g_kcore_conv", "v_knn_descent", "v_knn_graph_append", "q_kmv_reagg",
      // round 12: convergence-terminated descent and the incremental
      // descent-after-append (the lifecycle's write path)
      "v_knn_descent_conv", "v_knn_descent_append",
      // the graph family on the one superstep driver: the fixpoint BFS
      "g_bfs_conv")

    // per-query "why this is the 100× plan" — rendered above the plan block
    val notes: Map[String, String] = Map(
      "g_kcore" -> ("100× plan (round-11 delta-peel): topology checkpoints " +
        "ONCE; per round the plan touches only the node-sized degree " +
        "frame (frontier filter) and the frontier's incident edges (one " +
        "edges⋈frontier join, AQE-broadcast when the frontier is small) — " +
        "the round-10 plan re-materialized 4×|E| and ran 2 edge-sized " +
        "semi joins per round (59.5 → 12.3 s at sf1). k comes from a " +
        "degree HISTOGRAM (dozens of rows), not a global row_number sort " +
        "over all nodes; the co-order projection carries the fan-out cap " +
        "(32) so one mega-order can never mint a quadratic join bucket."),
      "g_kcore_conv" -> ("100× plan: identical delta-peel rounds on " +
        "Superstep; the convergence probe counts the NEXT round's " +
        "frontier (degrees below k, an integer on the node-sized frame) " +
        "with observe() on the round's own checkpoint — no extra job, no " +
        "extra edge pass; state O(nodes). The round that would remove " +
        "nothing is never run."),
      "g_bfs_conv" -> ("100× plan: the g_bfs relaxation (edges⋈distances " +
        "key-equality merge join against the u-staged edge cache + a " +
        "map-side-combined min) carrying each node's previous distance " +
        "as a column; the changed-node count is observed on the round's " +
        "own checkpoint, so the fixpoint test costs no job and no join. " +
        "Rounds stop at 3 at every SF (cap 5); the plan below is the " +
        "stopping round's checkpoint scan."),
      "v_knn_descent" -> ("100× plan: per round the candidate frame is " +
        "two-hop pairs of the rev-capped (≤2k per node) edge list ∪ " +
        "current edges ∪ ~16-vector random-bucket pairs — O(N·k² + N·b) " +
        "rows, never corpus²; scoring joins embeddings in by key " +
        "(hoisted norms ride the frame), the re-heap is the two-phase " +
        "TopKPerKey exchange (≤ partitions·N·k rows), and each round " +
        "localCheckpoints (O(1) lineage)."),
      "v_knn_descent_conv" -> ("100× plan: identical per-round candidate " +
        "frame as v_knn_descent on the same Superstep loop, but rounds " +
        "run only until the changed-edge count drops below the integer " +
        "threshold N·36/100. Each round flags its fresh edges with one " +
        "key-equality left join against the previous round's k·N edges " +
        "(no embedding scoring), and the count is observed on the round's " +
        "own checkpoint — no extra job per round. Measured stop rounds " +
        "5/4/1 at sf0.001/0.01/0.1 vs cap 6, so the steady-state cost is " +
        "the stop round's prefix, not the cap; the plan below is the " +
        "stopping round's checkpoint scan."),
      "v_knn_descent_append" -> ("100× plan: the offline base-corpus " +
        "round artifacts are reused verbatim for every unaffected node; " +
        "per round the plan runs linear no-scoring passes (sym build + " +
        "exact sym diff + probe bucketing, O(N·k) rows) and re-scores " +
        "only the affected set — measured ≈ min(1, ~28×batch-fraction) " +
        "of nodes, flat across rounds — so an ingest batch pays " +
        "O(|affected|·k²) decimal dots, never the rebuild's O(N·k²). " +
        "The probe modulus is frozen at build time (the reason an " +
        "append perturbs only the buckets it lands in); incremental ≡ " +
        "rebuild is proved under the rebuild's own oracle."),
      "v_knn_graph_append" -> ("100× plan: the ingest batch pays ONE " +
        "per-row codegen'd assignment (no shuffle), and only cells that " +
        "received new vectors re-run the within-cell pair join — " +
        "|affected cells|·E[cell]² work; untouched cells' edges pass " +
        "through a broadcast anti join verbatim. Cell-local edges + " +
        "per-row-independent assignment make merged ≡ rebuild exactly " +
        "(shared oracle)."),
      "q_kmv_reagg" -> ("100× plan (round-11): both synopsis builds run " +
        "through DISTINCT-mode TopKPerKey — dedup folds into the bounded " +
        "heaps, so the pre-exchange state is O(keys·k) and the corpus-" +
        "sized distinct exchange of rounds ≤10 is gone; everything after " +
        "the per-hour rank runs on k·hours rows."),
      "d_ppjoin" -> ("100× plan: the candidate join's keys are each doc's " +
        "RAREST prefix shingles (per-doc window over (df, sh) — no global " +
        "rank, no driver state), so per-key fan-out is bounded by " +
        "construction (measured: ScaleSpec's prefix-key probe); the exact " +
        "verify joins candidates to per-doc shingle-SET arrays " +
        "(shuffle_hash — the sets relation grows with the corpus, so it " +
        "must never broadcast) and intersects per pair in one codegen'd " +
        "array_intersect, NOT the exploded formulation that shuffle-sorts " +
        "sum(n_a+n_b) rows (measured 850M rows and a 16-at-10x step at " +
        "the 50k-doc sf1 run; the rewrite is 4.0x at 10x — sf0.1 5.5 s, " +
        "sf1 21.8 s quiet medians). The repeated shingle subtree below " +
        "AdaptiveSparkPlan is one exchange at runtime (ReusedExchange on " +
        "the doc_id repartition barrier)."),
      "d_ppjoin_capped" -> ("100× plan: d_ppjoin plus the adversarial-" +
        "corpus guard as a gated query — the hot-prefix-key cap derives " +
        "from an exact rank over the prefix-key frequency table (one " +
        "map-side-combinable count + a k-row ordered limit, k = distinct " +
        "prefix keys, never corpus-sized) and keys above it leave the " +
        "candidate join, bounding per-key fan-out at cap² on ANY corpus. " +
        "Quiet sf0.1 med 8.4 s = uncapped 5.5 s + the derivation pass; " +
        "on natural corpora the cap never binds (hottest sf1 key: 12 " +
        "docs) — it is insurance, not the scaling story."),
      "v_semdedup_scaled" -> ("100× plan: SemDeDup with nCells derived " +
        "as ceil(sqrt(N)) from a count the engine and oracle both " +
        "compute — the in-cell quadratic becomes sum(n_c²) ≈ N^1.5 " +
        "instead of N²/k with k fixed; cells are the bucketing column at " +
        "scale; assignment is the per-row AssignCellExpr projection " +
        "(quiet sf0.1 6.0→1.0 s, sf1 19.4→2.0 s after the swap)."),
      "v_knn_ivf_append" -> ("100× plan: index maintenance without a " +
        "rebuild — the arriving batch assigns against the EXISTING " +
        "centroids (one batch-sized AssignCellExpr projection, the " +
        "d_incremental pattern for ANN), unions with the persisted assignment, and the " +
        "probe is proven ≡ rebuild-then-probe under the rebuild's own " +
        "oracle hash (per-row-independent assignment makes the identity " +
        "exact, not approximate)."),
      "q_asof_nearest" -> ("100× plan: both as-of directions from ONE " +
        "union + two window frames over the same partitioning/ordering — " +
        "one shuffle, one sort, then a per-row gap argmin; never a range " +
        "join or per-left scan of the right side."),
      "m_avi_frames" -> ("100× plan: container walk + frame decode are " +
        "per-partition mapPartitions over the binary column behind the " +
        "FrameCodec seam; one row per decoded frame leaves the scan " +
        "stage carrying only fixed-width stats, so downstream cost is " +
        "frame-count-sized, not pixel-sized."),
      "d_line_dedup" -> ("100× plan: the 8-token chunk generator fuses " +
        "into the scan; line-frequency is a map-side-combinable count on " +
        "the line key and the boilerplate flag joins back on the same " +
        "key — two bucketed shuffles of ~tokens/8 rows; no corpus² " +
        "anywhere."),
      "v_knn_mrl" -> ("100× plan: retrieval on the 16-dim PREFIX costs " +
        "a quarter of the scan I/O and dot-product work (the dimension-" +
        "axis twin of int8 quantization); the full-dim pass exists only " +
        "to grade recall, and both rankings are decimal-exact so the " +
        "flagged candidate set hash-gates."),
      "g_ppr" -> ("100× plan: identical per-round communication to " +
        "g_pagerank (one edge-sized key-equality join + one map-side-" +
        "combined decimal aggregation); the seed set rides as a JOINED " +
        "frame against the node table — never collected, so a million-" +
        "domain whitelist costs one broadcast-able join, and the teleport " +
        "indicator is a column, not driver state."),
      "g_hits" -> ("100× plan: each half-round is one edge-sized join + " +
        "one map-side-combined decimal aggregation (the PageRank bound); " +
        "the max-normalizer is a window over the ALREADY-AGGREGATED " +
        "node-sized frame — no driver scalar, no edge-sized window. " +
        "Round 12: BOTH orientations are staged (EdgeLayout — out- and " +
        "in-adjacency persisted partitioned+sorted, merge-hinted), so " +
        "each half-round exchanges only the node-sized score frame: " +
        "sf1 measured 34.4 → 9.1 s (0.26×)."),
      "v_pca" -> ("100× plan: the centered Gram matrix accumulates in ONE " +
        "generator pass — the nested-lambda outer product explodes d² " +
        "decimal terms per row INSIDE the scan stage and partial hash " +
        "aggregation absorbs them map-side, so the only exchange carries " +
        "tasks·d² partials (the treeAggregate shape spelled relationally); " +
        "never N·d² rows. Power rounds run on the d²-row frame — " +
        "constant-sized regardless of corpus scale; the d-row mean collect " +
        "is the MODEL, not data."),
      "v_abtt" -> ("100× plan: after the shared v_pca training, the " +
        "per-vector projection (dot, centered norm, residual) is three " +
        "array-literal lambda folds fused into ONE corpus scan — zero " +
        "shuffles, zero joins; the means/component ride as literals " +
        "(d doubles each), the same class as a broadcast dimension."),
      "v_mmr" -> ("100× plan: stage 1 (exact top-N retrieval) is the only " +
        "corpus-sized work and at scale swaps for the IVF/PQ probe path; " +
        "everything after — the N×N pair-cosine matrix off hoisted norms " +
        "and k greedy argmax picks — is bounded by SERVING constants " +
        "(N=20, k=8): the N candidates and the N·(N−1) pair similarities " +
        "are collected ONCE and the k picks run on the driver (the Lloyd " +
        "model class), so the plan below is the 8-row local result."),
      "t_dsir" -> ("100× plan: the 256-bucket hashed model is two " +
        "map-side-combined aggregations + a BROADCAST join back (the " +
        "model, not data); per-doc integer sums absorb map-side; " +
        "selection is a per-row sign test — no global sort, no window, " +
        "no shuffle beyond the model build. A quota cut would compose " +
        "the score with TopKPerKey."),
      "t_gopher_rules" -> ("100× plan: pure map stage — every rule is " +
        "scan-fused per-row integer/ratio arithmetic (one IEEE division), " +
        "flags included; no exchange anywhere in the plan."),
      "t_classifier_score" -> ("100× plan: the entire classifier — token " +
        "hash, bucket weight, integer sum, mean, sign test — is ONE " +
        "scan-fused map stage (the weight is a pure function of the " +
        "bucket, so even the 'weight table join' costs nothing); zero " +
        "exchanges at any corpus size, which is exactly why hashed linear " +
        "classifiers are the production quality filter at 100 TB."),
      "t_ccnet_bucket" -> ("100× plan: the LM build is the t_ngram_lm " +
        "shape (pair-keyed map-side-combined counts, 1-row vocab " +
        "broadcast); scoring joins the bigram stream on pair equality " +
        "(key-bucketed, never corpus²); the tercile is ONE window " +
        "shuffled by predicted language over the per-doc aggregate — " +
        "CCNet's own shape. At 100 TB the same bucket semantics comes " +
        "from sampled quantile cuts (approx_percentile) instead of a " +
        "full per-language sort; the exact ntile formulation is the " +
        "hash-gated contract."),
      "v_kcenter" -> ("100× plan: per pick, ONE corpus-pass projection " +
        "(decimal-exact cosine against the newest center, greatest() " +
        "fold into the coverage column) over a localCheckpoint — O(1) " +
        "lineage, no join, no shuffle; the argmin pick is a 1-row " +
        "TakeOrdered driver scalar (the Lloyd class: driver state is k " +
        "ids, never data). k corpus passes is the greedy algorithm's " +
        "communication lower bound; at 100 TB the pass runs against the " +
        "IVF-bucketed corpus the same way."),
      "t_bpe_train" -> ("100× plan: per merge round the corpus shuffles " +
        "ONCE on doc_id (all three windows — lead, island, reindex — " +
        "share that partitioning, so Spark reuses the exchange), pair " +
        "counts absorb map-side, the merge decision is a 1-row driver " +
        "scalar, and the rewrite joins are sized by MATCHES of the " +
        "chosen pair, not the corpus. The greedy left-to-right scan is " +
        "spelled as island-parity windows, so the inherently sequential " +
        "step parallelizes per doc with no cross-row iteration; at " +
        "100 TB a trainer runs this loop over a sampled subcorpus with " +
        "the identical plan (bpeTrain — the same loop t_bpe_encode " +
        "trains with — on Superstep, one checkpoint per round)."),
      "g_anf" -> ("100× plan: per round, the sketch frame (≤ k rows per " +
        "node, fixed-width long keys) merge-joins the STAGED edge table " +
        "(EdgeLayout, round 12 — partitioned+sorted by src, persisted, " +
        "so rounds exchange only the sketch side; sf1 27.2 → 17.7 s), " +
        "the union dedups with map-side partial DISTINCT, and the " +
        "per-node min-k runs through the bounded-heap TopKPerKey " +
        "operator — the exchange carries at most partitions·nodes·k " +
        "rows, and no per-node structure ever grows with degree. " +
        "Sketches are mergeable state (k-min of unions — the " +
        "q_kmv_reagg identity), so at 100 TB rounds shuffle k·|V| " +
        "hashes against |E| edges: the ANF/HyperBall communication " +
        "shape, with distinct-reach estimates no exact method can " +
        "compute at all (a hub's 2-hop list is corpus-sized)."),
      "g_harmonic" -> ("100× plan: the g_anf sketch chain with the KMV " +
        "estimator applied at BOTH radii — the radius-1 and radius-2 " +
        "ball estimates ride one chain (the round-1 sketch is " +
        "checkpointed anyway), so harmonic centrality for every node " +
        "costs exactly the same two bounded-state rounds as g_anf. The " +
        "combination is a per-node join of two node-sized frames + one " +
        "rounded-double expression; nothing downstream of the sketches " +
        "is edge- or corpus-sized. This is HyperBall's actual production " +
        "use: centrality at a scale where all-pairs BFS (|V| Pregel " +
        "runs) is not a plan at all."),
      "g_eff_diameter" -> ("100× plan: the whole distance distribution " +
        "N(0..3) plus the 0.9-effective-diameter cut derives from THREE " +
        "bounded-state KMV sketch rounds (the g_anf chain one radius " +
        "deeper) — per round one edge⋈sketch join on fixed-width longs " +
        "with ≤ k hashes per node entering the shuffle, map-side-partial " +
        "distinct, bounded-heap min-k, O(1) lineage. Per radius the " +
        "per-node estimates collapse through a map-side-partial " +
        "DECIMAL(28,4) sum into ONE row; the final frame is 4 rows and " +
        "two 4-row windows. The exact computation is |V| BFS traversals " +
        "— not a plan at any scale; this is the ANF paper's actual " +
        "headline measurement, and the sketch rounds are the only " +
        "corpus-sized work."),
      "v_knn_binary" -> ("100× plan: sign codes pack 64 dims into two " +
        "32-bit words — 8 bytes/vector, a 32× smaller candidate scan than " +
        "float32 whose xor+bit_count Hamming is a handful of ALU ops fused " +
        "into whole-stage codegen (integer lambda folds, no shuffle, no " +
        "join). The rank-50 candidate boundary is an INTEGER with a vec_id " +
        "tie-break (no last-ULP hazard), and only the bounded candidate " +
        "set fetches full-precision vectors for the decimal rerank. At " +
        "scale the code column is the STORED candidate structure (the " +
        "IvfIndex persistence precedent)."),
      "g_butterflies" -> ("100× plan: the wedge enumeration is ONE " +
        "key-equality self-join of the distinct incidence list on the " +
        "part key (bucketed at scale, never corpus²) with the s1<s2 half " +
        "cutting the stream in two; map-side-partial counts collapse " +
        "wedges into the co-part matrix before the exchange, and the " +
        "census is pure integer C(n,2) sums. Hub-part skew (dp² fan-out) " +
        "takes the published degree-ordering mitigation — a degree cap " +
        "slots in as a pre-join filter, the TextDedup prefix-df-cap " +
        "pattern. sf1 measured: 4.5× on 10× data (wedge stream ∝ Σ dp²)."),
      "g_walks" -> ("100× plan: one walk per node, next hop = argmin of " +
        "(60-bit md5 prefix, dst) — the hash IS the RNG, so there is " +
        "no generator state to coordinate across 1000 executors and the " +
        "corpus is reproducible run-to-run. Per step ONE frontier⋈edges " +
        "join against the PERSISTED pre-partitioned+sorted edge frame " +
        "(cached InMemoryRelation keeps partitioning/ordering visible — " +
        "a localCheckpoint under AQE erases both) + one map-side-" +
        "combined HashAggregate min over the packed DECIMAL(38,0) " +
        "h1·2^63+dst (min(struct)/min_by carry struct buffers → " +
        "SortAggregate → an edge-sized sort per step; the round-12 " +
        "second-decade gate measured that sort spilling: sf10 607.7 → " +
        "196.5 s after this plan, 19.4× → 7.5× on 10× data); state is " +
        "O(walks), never O(edges). Oracle-side lesson recorded: DuckDB's " +
        "struct-min aggregate OOM'd at 130 GB where the packed scalar " +
        "min runs in 0.5 s."),
      "g_mis" -> ("100× plan: Luby's round = one packed-decimal priority " +
        "projection fused into the scan (h1·2^63+node — 16 bytes on the " +
        "wire, hash-aggregable min), one edges⋈priorities merge join " +
        "against the staged edge cache + map-side min per node, two anti " +
        "joins — all on the UNDECIDED frontier, which shrinks by an " +
        "frontier, which shrinks by an expected constant factor per " +
        "expected constant factor per round (measured: 1.2× cost on 10× " +
        "data because the frontier collapses after round 1). " +
        "Independence holds by construction " +
        "every round (adjacent local minima are impossible), so a " +
        "truncated run is still a valid independent set."),
      "t_kn_lm" -> ("100× plan: all four Kneser–Ney statistics (c12, " +
        "c1, N1+fwd, N1+prec) reduce from ONE checkpointed map-side-" +
        "combined bigram frame — no second corpus pass; the bigram-type " +
        "total is a 1-row broadcast; P is a fixed IEEE chain over exact " +
        "integers evaluated per model row (model-sized, not corpus-" +
        "sized). The model table at web scale shards on w1 like any " +
        "aggregate."),
      "t_bm25" -> ("100× plan: the query-term filter sits INSIDE the " +
        "explode generator, so the corpus never materializes non-query " +
        "tokens; df reduces off the already-tiny tf frame; corpus stats " +
        "(N, decimal Σlen) broadcast as one row; the per-(doc,term) " +
        "score casts to DECIMAL(28,16) so the per-doc sum is order-" +
        "independent at any parallelism. Zero corpus-sized shuffles — " +
        "the scan dominates, which is why BM25 is THE production " +
        "lexical filter."),
      "d_dbscan" -> ("100× plan: the ε-neighborhood (Hamming ≤ 2) comes " +
        "from a PIGEONHOLE-COMPLETE 3-band candidate join — 11/11/10-bit " +
        "band keys, a bucketed equality join that provably drops no " +
        "qualifying pair (spec: all-pairs union-find replay) — never " +
        "corpus²; core/border/noise are integer tests; clusters run " +
        "large/small-star over CORE-CORE edges only (min-label " +
        "propagation exceeded 30 rounds on the sf1 replica corpus's " +
        "33.7k-doc cluster; star-rewriting is O(log² n) regardless of " +
        "chain shape). sf1 measured 1.8× on 10× data."),
      "v_hard_negatives" -> ("100× plan: one corpus pass answers the " +
        "whole 8-query mining batch (broadcast query table) with the " +
        "label-mismatch filter fused into the scan stage BEFORE the " +
        "two-phase TopKPerKey heap — the exchange carries at most " +
        "partitions·queries·k scored rows, never the corpus; at training " +
        "scale the batch loops over query shards and the corpus side " +
        "swaps to the IVF/PQ probe path unchanged."),
      "t_span_corrupt" -> ("100× plan: md5(doc:span) IS the masking RNG — " +
        "per-(doc,span) independent, no generator state across 1000 " +
        "executors; sentinel ordinals, input, and target all render off " +
        "ONE doc_id-partitioned shuffle (the windows and sort-by-position " +
        "collects share the exchange), and the rendered records ship as " +
        "md5 fingerprints, the lineage a training run logs."),
      "t_render_dpo" -> ("100× plan: one scan scores every doc (the " +
        "hashed-linear classifier fuses into codegen), ONE source-key " +
        "aggregate picks both pair ends via max/min(struct) — no sort, " +
        "no window — and two id-equality joins fetch the texts; output " +
        "is source-cardinality, never corpus-shaped."),
      "t_bpe_encode" -> ("100× plan: the merge table trains on a FIXED " +
        "20% split (at 100 TB: a fixed-size sample — tokenizers never " +
        "train on the corpus; bpeTrain, the t_bpe_train loop), then 3 " +
        "apply-only rewrite rounds over the " +
        "full corpus, each ONE doc-key exchange reused across its windows " +
        "with match-sized rewrite joins (the t_bpe_train plan without the " +
        "pair-count aggregates); the trained vocab is tokenizer-sized and " +
        "broadcasts onto the encoded corpus for the id join — encoding " +
        "cost is 3 linear corpus passes, independent of vocab size."),
      "t_classifier_train" -> ("100× plan: per GD round one 64-row " +
        "broadcast weight join + a doc-key aggregate (pred), a label " +
        "join, and a bucket-key map-side-combined aggregate (grad) — the " +
        "corpus never leaves the executors; only the 64-row model and " +
        "the 1-row loss reach the driver per round, in ONE action: the " +
        "gradient collect, with the loss observed on the error frame it " +
        "streams (the lloyd driver-held-model state). Fixed-point " +
        "integer arithmetic end to end, so scale changes cost, never " +
        "results."),
      "t_hash_embed" -> ("100× plan: the hashing trick needs no trained " +
        "model and no global state — one scan-fused explode, one " +
        "(doc,bucket) hash aggregate, one doc-keyed aggregate, all " +
        "map-side combinable; the output is 6 fixed-width columns per " +
        "doc (moments + canonical fingerprint), never the D-wide dense " +
        "frame, so the op is embarrassingly parallel at any corpus " +
        "size and the vectors land ready for the d_/v_ families."),
      "v_cluster_sample" -> ("100× plan: one AssignCellExpr projection " +
        "pass (no shuffle — the v_knn_ivf assignment machinery) feeds " +
        "the two-phase TopKPerKey heap keyed by cell: the exchange " +
        "carries at most partitions·cells·k rows, never the corpus; " +
        "rank = md5(vec_id), the hash-as-RNG idiom, so the sample is " +
        "reproducible across 1000 executors with zero generator state."),
      "v_cluster_purity" -> ("100× plan: assignment projection + one " +
        "(cell,label) map-side-combined count + a cell-sized argmax — " +
        "nothing corpus-shaped survives the first aggregate; the " +
        "result is cells-sized. The eval gate a clustering rollout " +
        "checks before driving sampling, priced at one corpus pass."),
      "g_louvain" -> ("100× plan: per sweep the LPA communication shape " +
        "(one edge⋈label join + two hash aggregates) plus a " +
        "community-sized Σtot aggregate; the ΔQ argmax is pure integer " +
        "arithmetic (DECIMAL(38,0) products — overflow-safe past " +
        "m2 ~ 1e12), so the trajectory is deterministic on any cluster " +
        "and the only driver state is the 1-row m2 scalar."),
      "v_knn_shards" -> ("100× plan: the multi-shard deployment shape — " +
        "each shard trains its own centroids on its own data (disjoint " +
        "indexing jobs, no global coordination) and the query scatter-" +
        "gathers: per shard one scan-fused AssignCellExpr argmax + one " +
        "broadcast probe-cell join + a k-row TakeOrdered, gathered by a " +
        "2k-row exact-score fuse. Nothing grows with shard count except " +
        "the k-row lists, so the serving path is flat as the corpus " +
        "scales out across shards."),
      "v_knn_ivf_delete" -> ("100× plan: erasure on the serving index — " +
        "the delete batch tombstones out of the persisted assignment via " +
        "one batch-sized anti-join against the cell-bucketed index; " +
        "centroids stay frozen and delete-then-probe is proven ≡ rebuild-" +
        "on-the-survivors under the rebuild oracle, so the GDPR path " +
        "costs the batch, never the corpus."),
      "m_video_neardup" -> ("100× plan: per-partition frame decode " +
        "behind the FrameCodec seam emits one fixed-width fingerprint " +
        "row per sampled frame; the near-dup candidate generator is the " +
        "banded-Hamming key-equality join (pigeonhole-complete), never " +
        "clip² — the m_wav_neardup shape on the video modality."),
      "t_curriculum" -> ("100× plan: difficulty is the scan-fused hashed-" +
        "classifier score (zero shuffles to compute); the phase window " +
        "PARTITIONS by source, so the only exchange is the per-source " +
        "hash partitioning — parallel at any corpus size, no global " +
        "sort. At 100 TB the phase column is written as a partition key " +
        "and each training stage reads only its phase."),
      "t_mix_doremi" -> ("100× plan: one map-side-combined corpus pass " +
        "to a sources-sized frame; corpus mean and share denominator " +
        "are windows over that dims-sized frame (DECIMAL-cast order-" +
        "independent totals). The reweighting itself is O(sources) " +
        "arithmetic — nothing beyond the single pass touches data."),
      "p_backfill" -> ("100× plan: both sides aggregate map-side to " +
        "days-cardinality before the diff, so the planner is two scans " +
        "+ one days-sized join at any corpus size; the emitted plan rows " +
        "drive partition-pruned p_partition_overwrite re-runs — the " +
        "repair cost is the damaged fraction, never a full reload."),
      "m_strip_meta" -> ("100× plan: the privacy scrub is scan-shaped — " +
        "per-partition chunk walk + drop + re-decode, no shuffle, no " +
        "global state; the hash gate proves metadata removal AND pixel " +
        "preservation in one pass (dropped-count from construction " +
        "arithmetic, px_sum from the lossless round trip), so the op " +
        "costs exactly one pass over the binary column at any corpus."),
      "m_jpeg_strip" -> ("100× plan: the m_strip_meta posture on the " +
        "LOSSY format — a per-partition T.81 marker-segment walk that " +
        "drops APP1..APP15/COM and copies the entropy-coded stream " +
        "verbatim, then decodes scrubbed vs original to prove px_equal " +
        "row-for-row (stripping is lossless even though the codec is " +
        "not); zero shuffles, one binary-column pass at any corpus."),
      "v_rrf" -> ("100× plan: fusion is rank-based, so the corpus-sized " +
        "work is confined to the two retrieval legs (BM25 scoring scan + " +
        "TakeOrdered top-50; decimal-cosine scan + TakeOrdered top-50 — " +
        "each swaps to its index path at scale: postings for lexical, " +
        "IVF probe for dense); ranking and the 1/(60+rank) fusion run on " +
        "two 50-row frames through a ≤50-row window and a full outer " +
        "join — serving-constant-sized, whatever the corpus."),
      "v_knn_graph" -> ("100× plan: the corpus-wide kNN-graph build is " +
        "cell-blocked with nCells = ceil(sqrt(N)) (the v_semdedup_scaled " +
        "derivation), so the pair stage is sum(n_c^2) ~ N^1.5 co-located " +
        "per cell (the assignment IS the bucketing column at scale), " +
        "norms are hoisted to one decimal dot per row, the per-src top-3 " +
        "runs through the two-phase TopKPerKey heap (exchange <= " +
        "partitions*N*k, never the pair stream), and the mutual flag " +
        "self-joins the k*N edge list on its reversed key."),
      "v_knn_ivfpq_res" -> ("100× plan: identical stage shape to " +
        "v_knn_ivfpq (probed-cell prune, m-byte codes as the only " +
        "corpus-sized artifact, broadcast LUT) — residual encoding adds " +
        "one broadcast(centroids) zip_with per scanned row and grows the " +
        "LUT to nprobe·m·nCodes rows, both serving constants; the " +
        "estimate join keys on (cell, sub, code) so codes stay bucketed " +
        "by cell at write time exactly as before."),
      "m_wav_resample" -> ("100× plan: scan-shaped per-partition decode " +
        "+ pairwise floor-average, no shuffle, only 5 fixed-width stats " +
        "leave the scan (the m_wav_stats posture); floor division is the " +
        "determinism choice — floorDiv and DuckDB // agree on negative " +
        "pair sums where truncation would not."),
      "t_kn_score" -> ("100× plan: train/apply split means the model " +
        "statistics reduce from the SPLIT's bigram frame only (one " +
        "checkpointed map-side-combined aggregate, consumed 4x); apply " +
        "is three key-equality LEFT joins (pair/w1/w2) on the corpus " +
        "bigram stream — corpus-sized but bucketable string keys, no " +
        "explosion (each stream row matches <= 1 model row per join) — " +
        "plus a 1-row type-total broadcast; per-doc reduction is " +
        "map-side combinable decimal sums."),
      "g_louvain2" -> ("100× plan: level 1 is the audited g_louvain " +
        "LPA-shaped rounds; the aggregation phase is one " +
        "edges⋈labels⋈labels join + a (community,community) weighted " +
        "count — communities² rows, orders of magnitude below |E| — and " +
        "the level-2 sweep runs the identical integer ΔQ argmax on that " +
        "coarse frame, so the second level costs less than one level-1 " +
        "round; m2 is invariant under coarsening (no re-derivation pass)."),
      "t_source_overlap" -> ("100× plan: the contamination matrix's pair " +
        "counts come from ONE shingle-key equality self-join over the " +
        "per-source DISTINCT shingle frame (map-side-reduced off the " +
        "shared shingle table, checkpointed once, consumed 3×) — a " +
        "shingle's source list is at most |sources| long, so per-key " +
        "fan-out is bounded by sources², never corpus-shaped, and the " +
        "join key buckets at scale; per-source totals join back onto " +
        "the sources²-row matrix, the only frame that leaves the agg."),
      "g_lpa" -> ("100× plan: per round one merge join against the " +
        "STAGED edge cache (EdgeLayout, round 12) + two map-side-" +
        "combined hash aggregates — the argmax rides one packed " +
        "DECIMAL(38,0) (cnt·2^63 + (2^63-1−label); max(struct) planned " +
        "as a SortAggregate that sorted the pair frame every round); " +
        "labels checkpoint per round for O(1) lineage. sf1 10.7 → 6.6 s."),
      "g_modularity" -> ("100× plan: LPA's edge-bound rounds + two " +
        "edge-sized label joins + community-sized arithmetic; the STAGED " +
        "edge cache (round 12) is shared by the rounds AND both label " +
        "joins; M2 rides a window over the aggregated per-community " +
        "frame. sf1 17.7 → 7.9 s with the staged layout + packed argmax."),
      "d_incremental" -> ("100× plan: the arriving batch joins a " +
        "PERSISTENT band-key index — a key-equality join sized by the " +
        "batch, never batch×corpus; the corpus-side index is loaded, not " +
        "recomputed, so incremental admission cost tracks batch size."),
      "v_knn_ivf" -> ("100× plan: assignment is ONE per-row codegen'd " +
        "expression (AssignCellExpr: double prefilter within a 1e-6 " +
        "margin, decimal rerank of survivors — provably the same argmax) " +
        "over a bounded k-row centroid collect; the former corpus × " +
        "broadcast(seeds) explosion and its shuffled argmax no longer " +
        "exist, so assignment is a projection fused into the scan. At " +
        "write time `cell` is the bucketing column: a probe scans " +
        "nprobe/nCells of the corpus and Catalyst prunes the rest. Bench ann_split " +
        "separates this rebuild from the steady-state probe."),
      "v_knn_ivfpq" -> ("100× plan: IVF prunes WHICH vectors are scored " +
        "(broadcast probe cells), PQ compresses HOW (m-byte codes + " +
        "broadcast ADC LUT of m·nCodes rows); the code table is the only " +
        "corpus-sized artifact and nothing shuffles at embedding width."),
      "p_incr_rollup" -> ("100× plan: each arriving batch is aggregated " +
        "map-side to day cardinality BEFORE touching the rollup table, and " +
        "the merge is an additive decimal upsert — maintenance cost is " +
        "O(batch), the rollup's history is never re-read. Wall time is " +
        "managed-table write overhead × 3 sequential batches, inherent to " +
        "the incremental-maintenance semantics under test."),
      "d_clusters_stars" -> ("100× plan: Kiveris large/small-star rounds " +
        "are each a key-equality join + min-aggregate (map-side combined); " +
        "localCheckpoint truncates lineage so the plan below is one " +
        "round's shape, not iterations² — memory and plan size stay O(1) " +
        "in round count."),
      "g_pagerank" -> ("100× plan: one iteration = contributions join " +
        "(key-equality on src) + decimal-exact sum by dst + the teleport " +
        "term from the node frame's seed indicator. The adjacency layout " +
        "AND join strategy are picked ONCE per corpus from the node count " +
        "(EdgeLayout.picked) — broadcast regime up to 4M nodes (pinned " +
        "build side = ranks), staged-merge regime above it (the staged " +
        "cache, only the rank frame moves per round) — because with no " +
        "shuffle stage under the join AQE cannot re-plan it. The fixed " +
        "rounds run on Superstep's lazy mode (a checkpoint every 8 " +
        "rounds, never the last), so the plan below is all 3 rounds."),
      "t_curate" -> ("100× plan: exact-dedup survivors (hash groupBy " +
        "argmin), language vote, and the token-window filter compose into " +
        "ONE declarative plan — every stage shuffles on the same doc key " +
        "or a group key derived from it, no driver-side loop, no collect."),
      "q_tpch_q3" -> ("100× plan: the classic star shape — selective dim " +
        "filters reach the scans (PushedFilters), small sides broadcast, " +
        "the single fact-key shuffle carries partial aggregates " +
        "(partial_sum before Exchange)."),
      "q_tpch_q5" -> ("100× plan: 6-table star — region/nation broadcast, " +
        "the lineitem fact shuffles once on its join key, revenue " +
        "partial-aggregates before the exchange; join order leaves the " +
        "fact table unreplicated."),
      "q_topk_rewrite" -> ("100× plan: written as the STOCK row_number " +
        "window idiom — the WindowTopKRewrite optimizer rule replaces " +
        "Window+Filter (and Spark's sort-based WindowGroupLimit) with the " +
        "two-phase TopKPerKey operator: partial heaps below the exchange, " +
        "no sorts, shuffle ≤ partitions·keys·k rows."),
      "v_knn_batch" -> ("100× plan: N queries answered in ONE corpus pass " +
        "— the query table broadcasts, scoring is one decimal cosine per " +
        "(vector, query) pair, and the per-query top-k runs through " +
        "two-phase TopKPerKey so only scored triples (never embeddings) " +
        "reach the exchange, capped at partitions·queries·k rows."),
      "t_source_quota" -> ("100× plan: the domain cap is enforced with " +
        "bounded heaps (two-phase TopKPerKey) — no source's document list " +
        "is ever sorted, and the exchange carries ≤ sources·k rows per " +
        "partition."),
      "g_triangles" -> ("100× plan: degree orientation bounds out-degree " +
        "at O(√E) regardless of skew (no last-reducer curse), and the " +
        "adjacency-intersection form never materializes wedges — only " +
        "edge-sized key-equality joins with a codegen'd array_intersect " +
        "per row (2× over the wedge-join form at sf0.1); the three " +
        "census scalars compose via 1-row broadcasts."),
      "q_tpch_q18" -> ("100× plan: the HAVING subquery decorrelated into " +
        "one fact-side aggregation (map-side partial sums) whose few " +
        "survivors broadcast into the orders/customer joins — lineitem is " +
        "scanned once, never re-scanned per order."),
      "v_kmeans" -> ("100× plan: the Lloyd half-step as relational ops — " +
        "assignment is the per-row AssignCellExpr projection (double " +
        "prefilter + decimal rerank over a bounded k-row centroid " +
        "collect, no shuffle at all); the update is a (cell, dim)-keyed " +
        "partial agg whose OUTPUT is k·d rows, which feed the next " +
        "round's collect: one shuffle per round, Lloyd's communication " +
        "lower bound. Quiet sf0.1 med 0.58 s (was 5.09 at round 6, 2.3 " +
        "after norm hoisting)."),
      "q_kmv_overlap" -> ("100× plan: ONE pass over events builds the " +
        "per-type 128-minima synopses (window top-k after a distinct " +
        "rollup); every later stage — type-pair expansion, union rank, " +
        "match count — runs on sketch-sized frames (≤ types·128 rows). " +
        "The estimate is data-size-independent by construction."),
      "q_sample_est" -> ("100× plan: the md5 sample predicate evaluates at " +
        "the ORDERS scan (1/64 survive); lineitem pays one semi join " +
        "against the sampled key set (broadcast/bloom-able). The exact " +
        "branch exists only to hash-gate the estimator — a deployment " +
        "reads the sample alone."),
      "q_acf" -> ("100× plan: events collapse to an hours-cardinality " +
        "rollup (map-side combined) BEFORE the lag machinery; the 24× lag " +
        "expansion is a generator on that rollup (no dim join, no BNLJ) " +
        "and the pairing join is keyed by (type, hr) — hours-sized, never " +
        "events-sized. Integer moment sums partial-aggregate map-side."),
      "g_assortativity" -> ("100× plan: one degree rollup (map-side " +
        "combined) + two joins of edges against the degree table — " +
        "edge-sized key-equality shuffles — closing into a single-row " +
        "integer-moment aggregate. No wedge or pair materialization."),
      "p_snapshot_diff" -> ("100× plan: both snapshots aggregate map-side " +
        "to customer cardinality before the full-outer sort-merge join on " +
        "the PK; the null-safe payload compare is codegen'd per row and " +
        "only the I/U/D sliver survives the filter."),
      "v_recall_eval" -> ("100× plan: both top-10 frames are " +
        "TakeOrderedAndProject outputs — 10 rows each — so the semi join " +
        "and the closing count are driver-trivial; total cost is one " +
        "brute pass + one LSH-blocked pass, the two things being compared."),
      "q_tpch_q7" -> ("100× plan: the shipdate filter pushes to the " +
        "lineitem scan, both nation dims stitch to supplier/customer via " +
        "broadcasts, and the only fact-sized shuffles are the two " +
        "key-equality joins (orderkey, custkey); the cross-border " +
        "predicate runs post-join in codegen — no plan shape changes at " +
        "1000 executors."),
      "g_bfs" -> ("100× plan: 3 unrolled Pregel rounds — per round ONE " +
        "key-equality join (edges x current distance table) + ONE " +
        "map-side-combined integer min-agg; frontier-sized shuffles, " +
        "never node x node. localCheckpoint truncates lineage per round; " +
        "the audited plan is the checkpointed final distance table's " +
        "shape. No FP anywhere — distances are pure integer mins, so the " +
        "oracle gate is exact by construction."),
      "d_ngram_jaccard" -> ("100× plan: candidates come ONLY from the " +
        "rare-shingle (df <= 1000) equality self-join — every join bucket " +
        "is bounded at df² rows by construction — and the capped-out " +
        "common shingles are added back per-CANDIDATE via composite-key " +
        "joins, so scores stay exact without the quadratic common-key " +
        "join ever existing. The repeated shingle subtree below " +
        "AdaptiveSparkPlan is one exchange at runtime (ReusedExchange on " +
        "the doc_id repartition barrier)."),
      "t_ngram_lm" -> ("100× plan: bigram and context counts absorb " +
        "map-side before their exchanges (counts of counts, never raw " +
        "token streams twice); V is a broadcast 1-row scalar (sanctioned " +
        "BNLJ) and the smoothed probability is one IEEE division of " +
        "exact integers fused into codegen. The top-50 cut is a " +
        "TakeOrderedAndProject with a total order."),
      "v_kmeans_iter" -> ("100× plan: three Lloyd rounds with the k × d " +
        "model (16 × 64 doubles) held on the driver. The corpus is " +
        "persisted for the run; each round is ONE action — the per-row " +
        "AssignCellExpr projection against the driver arrays (no " +
        "shuffle), posexplode, and the (cell, dim) decimal-mean partial " +
        "agg whose k·d output rows are collected: one shuffle per round, " +
        "Lloyd's communication lower bound, O(k·d) driver traffic. Empty " +
        "cells keep their centroid in the driver arrays. The audited " +
        "final plan is one LocalTableScan: the optimizer folds the " +
        "rounding projection into the last round's k·d rows. The " +
        "per-round shape is v_kmeans's audited plan, 3x."),
      "v_knn_ivf_probe" -> ("100× plan: THE steady-state ANN serving " +
        "shape — the assignment is a parquet scan of the persisted index " +
        "table (built once by loadOrBuildSampled; at deployment scale " +
        "it is the corpus's bucketing column), probe-cell selection is an " +
        "nCells-row sort broadcast into a key-equality join, and only " +
        "nprobe/nCells of the corpus is exactly scored. Compare " +
        "v_knn_ivf's plan, which rebuilds the assignment in-query by " +
        "oracle contract."),
      "q_tpch_q11" -> ("100× plan: partsupp synthesis is one " +
        "map-side-combinable distinct at lineitem scale with codegen'd " +
        "md5 derivations; supplier/nation dims broadcast; the nation " +
        "total is a 1-row broadcast (sanctioned BNLJ, the q_tpch_q22 " +
        "idiom) and the share threshold compares exact integers in " +
        "decimal — one fact-sized shuffle end to end."),
      "q_tpch_q2" -> ("100× plan: the correlated min-cost subquery is a " +
        "per-part min over the already-filtered eligible frame, " +
        "broadcast back into it — no re-scan of partsupp, no correlated " +
        "execution; size/type/region filters reach the scans and every " +
        "dim broadcasts."),
      "q_tpch_q20" -> ("100× plan: a semi-join chain — name-filtered " +
        "parts broadcast into partsupp, the shipped-quantity frame " +
        "aggregates map-side at (part,supp) grain before its single " +
        "join, the excess-stock rational filter is codegen'd, and the " +
        "surviving supplier keys semi-join back into the dims. No " +
        "correlated re-scans, no row ships twice."),
      "v_knn_ivfpq_probe" -> ("100× plan: the production composition's " +
        "serving shape — assignment, codebook, and the full-corpus " +
        "m-byte code table are all parquet scans of persisted index " +
        "tables; the probe prunes the assignment by broadcast probe " +
        "cells, semi-joins the code table down to probed vectors, and " +
        "scores with the broadcast ADC LUT + per-vector decimal sum. " +
        "Nothing is re-encoded, nothing shuffles at embedding width; at " +
        "write time the code table is bucketed by cell so the scan " +
        "itself prunes to nprobe/nCells."),
      "q_tpch_q1" -> ("100× plan: the canonical pushdown query — the " +
        "shipdate filter reaches the scan, all ten aggregates " +
        "partial-aggregate map-side into 4 groups inside one " +
        "whole-stage-codegen span, and the exchange carries 4 rows. " +
        "Decimal scales 2/4/6 keep every sum exact at any partitioning."),
      "q_tpch_q12" -> ("100× plan: mode/date predicates (on codegen'd " +
        "scan-side derived columns) prune lineitem before its single " +
        "key-equality join with orders; the conditional counts absorb " +
        "map-side into 2 groups."),
      "q_tpch_q21" -> ("100× plan: the EXISTS/NOT-EXISTS pair " +
        "decorrelated into one semi and one anti join, every join " +
        "key-equality on orderkey with a residual suppkey inequality — " +
        "no correlated lineitem re-scan; the late set is derived once " +
        "and reused for both the driving side and the anti join."),
      "g_linkpred" -> ("100× plan: candidates come ONLY from the " +
        "shared-neighbor equality self-join on the part key — a pair " +
        "materializes iff it has >= 1 common part, so fan-out is " +
        "Σ_p deg(p)², bounded by the part side's degree (TPC-H parts " +
        "have ~4-40 suppliers each; a power-law corpus would add " +
        "d_ngram_jaccard's df-cap idiom on the part key). The common " +
        "count partial-aggregates map-side before its exchange; the two " +
        "degree joins are supplier-cardinality (broadcast-size); the " +
        "Jaccard is ONE IEEE division of exact integers fused in " +
        "codegen; and the top-50 cut is a TakeOrderedAndProject over a " +
        "total order (jac desc, sa, sb) — no global sort materializes. " +
        "Quiet-host sf0.1: median 4.26 s, min 3.36 s over 10 reps across " +
        "two runs (driver r7 median 10.5 s = the contended-host artifact; " +
        "contention index 1.59 that round)."),
      "t_fuzzy_curate" -> ("100× plan: three operator families composed " +
        "declaratively — (1) SimHash candidate pairs: the 64-bit " +
        "fingerprint is a codegen'd native expression at the scan and " +
        "candidates come from a banded key-equality self-join (top-byte " +
        "block + popcount<=2 residual), never corpus²; (2) connected " +
        "components closes the non-transitive near-dup relation in " +
        "O(log²n) large/small-star rounds, localCheckpoint keeping " +
        "lineage O(1); (3) survivors = one left-anti + one left-semi " +
        "key-equality join on doc_id, and the token-window filter is a " +
        "per-row codegen'd size() at the scan. Every shuffle is keyed by " +
        "doc_id or a band key — nothing is ever all-pairs. Quiet-host " +
        "sf0.1: median 4.34 s, min 3.69 s over 10 reps across two runs " +
        "(driver r7 median 9.9 s with min 3.2 s — the min agrees with " +
        "the quiet floor; the median was contention)."),
      "v_kmeans_conv" -> ("100× plan: the convergence-terminated Lloyd " +
        "loop on the v_kmeans_iter round — per round ONE action over the " +
        "persisted corpus (per-row AssignCellExpr argmax against the " +
        "driver-held 16 × 64 model, (cell,dim) decimal-mean partial agg, " +
        "k·d rows collected). The max-abs centroid movement is driver " +
        "arithmetic over those k·d doubles (the same IEEE " +
        "subtract/abs/max, no join, no extra job): O(k·d) driver traffic " +
        "per round regardless of corpus size. The audited plan below is " +
        "one LocalTableScan (the stopping round's rows, rounding folded " +
        "in by the optimizer); rounds are data-dependent (sf0.001→4, " +
        "sf0.01→3, sf0.1→2) and the stop_round column puts the " +
        "termination decision itself under the hash gate."),
      "g_pagerank_conv" -> ("100× plan: the convergence idiom on the " +
        "second iterative family — per round the audited g_pagerank " +
        "shape (edge×rank key-equality join + decimal-exact dst sum, " +
        "edge-sized shuffles) carrying the previous rank as a column; " +
        "the max relative rank movement is observed on the round's own " +
        "checkpoint (Superstep), so the probe costs no job and no join, " +
        "and lineage stays O(1). Rounds are " +
        "data-dependent (sf0.001→4, sf0.01/0.1→5, cap 6 never hit) and " +
        "stop_round puts the termination decision under the hash gate. " +
        "The audited plan below is the stopping round's checkpoint + " +
        "rounding projection."),
      "m_wav_neardup" -> ("100× plan: decode + fingerprint fuse into the " +
        "scan stage (16 bytes per clip emitted, samples never shuffle); " +
        "candidates come from 4 band-key equality joins — and the " +
        "fingerprint is CYCLED dense across all 62 bits precisely so no " +
        "band is systematically zero: the zero-padded first cut put " +
        "every sub-48-sample clip in ONE top-band bucket, a hot key " +
        "quadratic in the short-clip population (measured ~half the " +
        "corpus, 6.5 s at sf0.1; cycled, the hottest bucket holds <7% " +
        "and the query runs ~1 s). The exact Hamming check is codegen'd " +
        "xor+bit_count per candidate."),
      "v_knn_ivf_trained" -> ("100× plan: train → index → serve in one " +
        "declarative composition — the 2 training rounds are the " +
        "v_kmeans_iter driver-model round (one k·d-row collect each), " +
        "and the serving plan is v_knn_ivf's audited shape with TRAINED " +
        "centroids in place of seeds: the per-row AssignCellExpr " +
        "projection against the trained arrays (no shuffle), an " +
        "nprobe-row broadcast probe-cell pick scored with the same " +
        "decimal cosine over the 16 trained centroids (a local relation " +
        "the optimizer folds into one LocalTableScan), and exact rerank " +
        "over only the probed cells. " +
        "Training quality changes WHICH cells exist, not the plan shape " +
        "— at scale the trained assignment is the corpus bucketing " +
        "column like the sampled variant."),
      "q_recursive_cte" -> ("100× plan: Spark plans WITH RECURSIVE as a " +
        "UnionLoop — the anchor scan plus one iterated step per level; " +
        "each step is a frontier-sized self-map (node DIV 2), never a " +
        "growing join, and depth is log2 of the key space (7 levels at " +
        "sf0.01, 10 at sf0.1), so total work is depth × |frontier| with " +
        "the frontier BOUNDED by the supplier count. The join back to " +
        "supplier broadcasts the dim side and the final agg is " +
        "partial-aggregated. At 100 TB the recursion cost is rounds × " +
        "one narrow column, dwarfed by the single base-table scan."),
      "m_png_codec" -> ("100× plan: scan → synthesize → PNG ENCODE " +
        "(DEFLATE) → PNG DECODE (inflate) → stats, all fused into one " +
        "mapPartitions chain over the scan with NO shuffle — the " +
        "compressed payload and the decoded raster both live and die " +
        "inside the stage; only the 5-column stats row is emitted. " +
        "Codec work is per-row independent (embarrassingly parallel); at " +
        "100 TB the only knob is input split size, and a real media lake " +
        "would read payloads via binaryFile with the same stage shape."),
      "m_jpeg_meta" -> ("100× plan: identical stage shape to m_png_codec " +
        "(scan-fused encode→decode, zero shuffles) with the real " +
        "baseline-DCT codec; the emitted row is narrower still (dims + " +
        "channels). DCT cost dominates and scales with pixels per " +
        "payload, not corpus size — per-row independence holds."),
      "m_gif_frames" -> ("100× plan: scan-fused multi-frame encode → " +
        "GIF89a block walk + per-frame LZW decode → flatMap fan-out of " +
        "fixed-width per-frame stats rows, no shuffle anywhere. The " +
        "fan-out multiplies rows by the container's frame count (≤6 " +
        "here; a real video corpus keyframe-samples to a bounded count " +
        "per asset the same way), and frame rasters never leave the " +
        "stage — the downstream sees 24-byte rows, so the plan's output " +
        "volume is frames × 24 B regardless of resolution."),
      "m_wav_stats" -> ("100× plan: one narrow scan of documents → " +
        "per-partition WAV synthesis + REAL RIFF parse (WavCodec's " +
        "lock-free chunk walk) + amplitude/silence stats, all inside ONE " +
        "mapPartitions stage — raw PCM samples never leave the scan " +
        "stage, only the fixed-width 7-column stats row is emitted, and " +
        "there is no shuffle at all (the plan is scan → project; the " +
        "only exchange a deployment would see is whatever consumes the " +
        "stats). The decode is per-row independent — embarrassingly " +
        "parallel at any scale."))
    val sb = new StringBuilder
    sb.append("# PLANS — physical plan audit (generated by graft.Plans)\n\n")
    sb.append("What to look for: `PushedFilters`/`ReadSchema` on scans, " +
      "`BroadcastHashJoin` on dims, `partial_` aggregates before exchanges, " +
      "`*(n)` whole-stage-codegen markers, and custom exec nodes " +
      "(`TopKPerKey`).\n\nNB these are PRE-execution plans: under AQE, " +
      "exchange reuse (`ReusedExchange` for the repartition-barrier " +
      "fan-outs in t_freq_quality/t_dup_spans/d_minhash_lsh) appears only " +
      "in the FINAL adaptive plan at runtime, so repeated subtrees below " +
      "an `AdaptiveSparkPlan` do not imply repeated execution.\n")
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      sb.append(s"\n## $name\n\n")
      notes.get(name).foreach(n => sb.append(n + "\n\n"))
      sb.append("```\n")
      // elide embedded binary literals (the bloom sketch is ~100 KB of hex;
      // the audit cares about the plan shape, not the sketch bytes)
      sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .replaceAll("0x[0-9A-Fa-f]{64,}", "0x<binary literal elided>"))
      sb.append("```\n")
    }
    // Streaming queries can't be audited through SparkEntry.queries — the
    // declared defs DRAIN the stream eagerly, so their post-drain plan is
    // just the memory-sink aggregation. The stream-stream join (the
    // slowest streaming query) is audited on its UNSTARTED streaming
    // frame instead: the plan shows the watermark nodes and the
    // event-time range condition that bound the join state.
    locally {
      import org.apache.spark.sql.functions.col
      val clicks = graft.streaming.EventsStream.readEvents(spark, dir)
        .filter(col("event_type") === "click")
      val errors = graft.streaming.EventsStream.readEvents(spark, dir)
        .filter(col("event_type") === "error")
      val sj = graft.streaming.EventsStream.clickErrorJoin(clicks, errors,
        windowSec = 600L)
      sb.append("\n## s_stream_join (streaming side, unstarted)\n\n")
      sb.append("100× plan: both sides carry 1-hour watermarks and the " +
        "join is key-equality on user_id PLUS an event-time range, so at " +
        "runtime this plans as StreamingSymmetricHashJoin with state " +
        "evicted by the joint watermark — state is O(in-window rows per " +
        "user), never O(stream history). The declared query's hash gate " +
        "aggregates batch-side on the drained sink; per-microbatch " +
        "physical plans only materialize at runtime, so the audit below " +
        "is the pre-start plan with the two EventTimeWatermark nodes and " +
        "the range predicate visible.\n\n")
      sb.append("```\n")
      sb.append(sj.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("extended")))
      sb.append("```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}
