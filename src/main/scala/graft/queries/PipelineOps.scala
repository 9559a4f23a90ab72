package graft.queries

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lag, lead, not, row_number}

import graft.Tables
import graft.pipeline.{Catalog, Fixtures, JdbcSink, Loader, ReportingPipeline, Schemas, Staging}

/** The reference pipeline itself as declared operators, each with a REAL
  * DuckDB oracle: the oracle SQL replays the same staged JSON fixtures
  * (read_json over the materialized fixture dir — the path is embedded when
  * Verify dumps oracle_sql.json, after [[Fixtures.dir]] exists on disk), so
  * the flagship load is hash-checked, not just row-counted.
  *
  *  - p_reporting_e2e: DDL → staged extract → watermark → FIRST-file-wins
  *    dedup-append (the reference's sequential per-file COPY with
  *    insert-if-absent), run twice to prove idempotence.
  *  - p_upsert_state: a re-extract arrives where `etl_daily/run_2` has
  *    completed (state running → success in the later page);
  *    update-on-conflict applies LAST-file-wins — the SURVEY §7 "Upsert
  *    gap" closed.
  *  - p_jdbc_upsert: the same contract against a real JDBC database
  *    (embedded Derby; production target = the reference's Postgres with
  *    reWriteBatchedInserts).
  */
object PipelineOps {

  private def fixtureDir: String = Fixtures.dir

  private def dagRunFiles: Seq[String] =
    Seq(s"$fixtureDir/dagRuns1.json", s"$fixtureDir/dagRuns2.json")

  private val dagRunPk = Schemas.pkOf("dag_run")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p_reporting_e2e" -> ((s, _) => {
      // fresh state per invocation → deterministic row count
      Catalog.drop(s)
      ReportingPipeline.run(s, fixtureDir)
      ReportingPipeline.run(s, fixtureDir) // idempotence: second run is a no-op
      s.table(Catalog.tableName("dag_run"))
        .select("dag_id", "dag_run_id", "execution_date", "state")
        .orderBy(col("dag_id"), col("dag_run_id"))
    }),
    "p_upsert_state" -> ((s, _) => {
      Catalog.drop(s)
      ReportingPipeline.run(s, fixtureDir)
      // re-extract the full window; the LATER page carries mutated states —
      // update-on-conflict, last page wins
      val reExtract = Staging.readStaged(s, "dag_run", dagRunFiles,
        keepSourceFile = true)
      val table = Catalog.tableName("dag_run")
      Loader.upsert(s, reExtract, table, dagRunPk,
        preference = Seq(col(Staging.srcFileCol).desc))
      s.table(table).select("dag_id", "dag_run_id", "state")
        .orderBy(col("dag_id"), col("dag_run_id"))
    }),
    "p_snapshot_diff" -> ((s, dir) => {
      // change-data derivation between two aggregate snapshots of the same
      // source (per-customer activity in two adjacent 2-year windows):
      // I = newly active, D = churned, U = changed stats — the change set
      // [[graft.pipeline.JdbcSink.applyCdc]] replays. Payload doubles are
      // decimal-exact casts, so the Spark-side <=> change test and the
      // oracle's <> reach identical verdicts.
      import org.apache.spark.sql.functions.{count => cnt, lit => l, sum => sm}
      def snap(lo: String, hi: String) = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >=
            org.apache.spark.sql.functions.to_timestamp(l(lo)) &&
          col("o_orderdate") <
            org.apache.spark.sql.functions.to_timestamp(l(hi)))
        .groupBy("o_custkey")
        .agg(cnt(l(1)).as("n_orders"),
          sm(col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("spend"))
      graft.pipeline.SnapshotDiff.diff(
        snap("1996-01-01 00:00:00", "1998-01-01 00:00:00"),
        snap("1998-01-01 00:00:00", "2000-01-01 00:00:00"),
        Seq("o_custkey"))
    }),
    "p_targeted_delete" -> ((s, dir) => {
      // targeted row ERASURE (the GDPR/right-to-be-forgotten op) on an
      // immutable-format table: deleting user set U rewrites ONLY the
      // partitions that contain U — affected days come from one pruned
      // scan (a days-sized driver list, the watermark idiom), survivors
      // of those days are re-derived from the SOURCE frame (no
      // read-while-overwrite), and one dynamic-overwrite insert replaces
      // exactly the affected partitions. Run twice: erasure must be
      // idempotent. At 100 TB the rewrite cost is (affected days /
      // total days) of the table, never a full rewrite — the reason
      // DELETE-heavy tables partition by the predicate's time axis.
      import org.apache.spark.sql.functions.{coalesce => coal, count => cnt, lit => l, pmod, sum => sm}
      val table = "rpt_erasure_events"
      Catalog.dropManaged(s, table)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          org.apache.spark.sql.functions.to_date(col("ts")).as("day"))
      // hash-distribute by the partition column before the partitioned
      // write (guide §6): without it every one of the 32 scan tasks
      // writes a file into every day partition (~days x tasks small
      // files); with it each partition receives exactly one file
      ev.repartition(col("day"))
        .write.partitionBy("day").format("parquet").saveAsTable(table)
      val isTarget = coal(pmod(col("user_id"), l(97L)) === 0L, l(false))
      // eraseTargeted also drops any day whose rows were ALL targeted
      // (dynamic overwrite cannot delete an emptied partition — the
      // upsertPartitioned gap); fully-targeted days are exercised in
      // ErasureSpec since this fixture never produces one. Run twice:
      // erasure must be idempotent.
      Loader.eraseTargeted(s, ev, table, isTarget, "day")
      Loader.eraseTargeted(s, ev, table, isTarget, "day")
      s.table(table).groupBy("day")
        .agg(cnt(l(1)).as("n_events"),
          sm(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_value"))
    }),
    "p_retention" -> ((s, dir) => {
      // partition RETENTION — the lifecycle twin of p_partition_overwrite:
      // day partitions older than (earliest day + 10 days) are dropped
      // with metadata-only ALTER TABLE ... DROP PARTITION statements, run
      // TWICE (DROP IF EXISTS is idempotent, like every other lifecycle
      // op here). The oracle recomputes the surviving aggregate from raw
      // events with the same cutoff, so the equality proves exactly the
      // right partitions died and the survivors are byte-identical. At
      // 100 TB retention must be partition drops (O(days) catalog ops),
      // never DELETE (a full rewrite) — which is why `day` is the
      // partition column in the first place.
      import org.apache.spark.sql.functions.{count => cnt, lit => l, sum => sm}
      val table = "rpt_retention_events"
      Catalog.dropManaged(s, table)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("value"),
          org.apache.spark.sql.functions.to_date(col("ts")).as("day"))
      // hash-distribute by the partition column before the partitioned
      // write (guide §6): without it every one of the 32 scan tasks
      // writes a file into every day partition (~days x tasks small
      // files); with it each partition receives exactly one file
      ev.repartition(col("day"))
        .write.partitionBy("day").format("parquet").saveAsTable(table)
      val minDay = ev.agg(org.apache.spark.sql.functions.min(col("day")))
        .first().getDate(0).toLocalDate
      val cutoff = minDay.plusDays(10)
      val stale = ev.select("day").distinct()
        .filter(col("day") < l(java.sql.Date.valueOf(cutoff)))
        .collect().map(_.getDate(0).toString)
      (1 to 2).foreach { _ =>
        stale.foreach { d =>
          s.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (day='$d')")
        }
      }
      s.table(table).groupBy("day")
        .agg(cnt(l(1)).as("n_events"),
          sm(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_value"))
    }),
    "p_schema_evolution" -> ((s, dir) => {
      // additive schema DRIFT: batch 1 (even keys) lands with the v1
      // schema, batch 2 (odd keys) arrives carrying a NEW column;
      // mergeSchema unifies the footer schemas at read time and v1 rows
      // surface as NULL in the added column — the contract that lets a
      // long-lived ingestion path evolve without rewriting history. The
      // aggregate's LEGACY bucket is exactly the v1 rows, so the oracle
      // (replaying the drift from the base table) gates both the merge
      // and the NULL semantics. At 100 TB mergeSchema is a footer-only
      // operation (schema union across files, no data read).
      import org.apache.spark.sql.functions.{coalesce => coal, count => cnt, lit => l, sum => sm}
      // one fixed root in the session's warehouse, overwritten per call
      val root = s"${s.conf.get("spark.sql.warehouse.dir")}/graft_evolve"
      val o = Tables.load(s, dir, "orders")
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$root/batch1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$root/batch2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$root/batch1", s"$root/batch2")
        .groupBy(coal(col("o_orderpriority"), l("LEGACY")).as("prio"))
        .agg(cnt(l(1)).as("n_orders"),
          sm(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("revenue"))
    }),
    "p_partition_overwrite" -> ((s, dir) => {
      // dynamic partition overwrite — the BACKFILL primitive: re-running
      // one day's corrected job replaces exactly that day's partition and
      // touches nothing else (static overwrite mode would truncate the
      // whole table; the oracle equality over ALL days proves the other
      // partitions survived). The patch runs TWICE — partition overwrite
      // is the idempotence mechanism here, where p_reporting_e2e uses
      // anti-join dedup and p_incr_rollup additive merge. At 100 TB this
      // is the partition-pruned write path: each backfill touches
      // 1/n_days of the table, and the day column prunes reads too.
      import org.apache.spark.sql.functions.{count => cnt, lit => l, min => mn, sum => sm}
      val table = "rpt_po_events"
      Catalog.dropManaged(s, table)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("value"),
          org.apache.spark.sql.functions.date_trunc("day", col("ts")).as("day"))
      // hash-distribute by the partition column before the partitioned
      // write (guide §6): without it every one of the 32 scan tasks
      // writes a file into every day partition (~days x tasks small
      // files); with it each partition receives exactly one file
      ev.repartition(col("day"))
        .write.partitionBy("day").format("parquet").saveAsTable(table)
      // the corrected derivation for the earliest day (a 1-row driver
      // scalar, the watermark idiom)
      val day0 = ev.agg(mn(col("day"))).first().getTimestamp(0)
      // single-day patch: collapse to one writer task so the dynamic
      // overwrite lands one file in the rewritten partition (guide §6)
      val patch = ev.filter(col("day") === l(day0))
        .withColumn("value", col("value") * 2)
        .repartition(col("day"))
      graft.Engine.withConf(s,
          "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        patch.write.mode("overwrite").insertInto(table)
        patch.write.mode("overwrite").insertInto(table) // idempotent re-run
      }
      s.table(table).groupBy("day")
        .agg(cnt(l(1)).as("n_events"),
          sm(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_value"))
    }),
    "p_backfill" -> ((s, dir) => {
      // BACKFILL PLANNER — the step BEFORE p_partition_overwrite: given a
      // sink that is missing some partitions (a loader died mid-month)
      // and holds one PARTIAL partition (a re-run that loaded only half a
      // day before failing — the nastier case, invisible to existence
      // checks), diff per-day row counts source-vs-sink and emit the
      // repair plan: which days to backfill and why. Plan shape: both
      // sides aggregate map-side to days-cardinality before the diff, so
      // the planner costs two scans + one days-sized join at any corpus
      // size; the emitted rows drive partition-pruned p_partition_overwrite
      // re-runs. The gap here is deterministic (days with day-of-month ≡ 0
      // mod 3 never loaded; the earliest surviving day loaded only even
      // event_ids), so the oracle replays the same partial load.
      import org.apache.spark.sql.functions.{coalesce => coal, count => cnt,
        dayofmonth, lit => l, min => mn, pmod, to_date, when => whn}
      val table = "rpt_backfill_sink"
      Catalog.dropManaged(s, table)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("value"), to_date(col("ts")).as("day"))
      val loaded = ev.filter(pmod(dayofmonth(col("day")), l(3)) =!= 0)
      // 1-row driver scalar (the watermark idiom): the stale partition key
      val staleDay = loaded.agg(mn(col("day"))).first().getDate(0)
      loaded
        .filter(!(col("day") === l(staleDay) &&
          pmod(col("event_id"), l(2)) === 1))
        // one file per day partition, not days x tasks (guide §6)
        .repartition(col("day"))
        .write.partitionBy("day").format("parquet").saveAsTable(table)
      val src = ev.groupBy("day").agg(cnt(l(1)).as("src_rows"))
      val snk = s.table(table).groupBy("day").agg(cnt(l(1)).as("sink_rows"))
      src.join(snk, Seq("day"), "left")
        .withColumn("sink_rows", coal(col("sink_rows"), l(0L)))
        .filter(col("sink_rows") =!= col("src_rows"))
        .withColumn("status",
          whn(col("sink_rows") === 0, "missing").otherwise("stale"))
        .select("day", "src_rows", "sink_rows", "status")
    }),
    "p_incr_rollup" -> ((s, dir) => {
      // incremental materialized-view maintenance: a daily rollup table is
      // maintained by merging each batch's PARTIAL aggregates additively
      // (existing + delta per day, then PK upsert on day) — three batches
      // whose boundaries deliberately split days, so correctness requires
      // the additive merge, not row replacement. The oracle is the full
      // recompute: incremental maintenance must be indistinguishable from
      // it. Decimal sums keep the additive path exact; at 100 TB each
      // batch aggregates map-side to days-cardinality before touching the
      // rollup.
      import org.apache.spark.sql.functions.{coalesce => coal, count => cnt, lit => l, sum => sm}
      val table = "rpt_incr_rollup"
      Catalog.dropManaged(s, table)
      s.sql(s"""CREATE TABLE $table (day TIMESTAMP, n_events BIGINT,
                sum_value DECIMAL(18,2)) USING parquet""")
      val ev = Tables.load(s, dir, "events")
        .select(col("ts"),
          org.apache.spark.sql.functions.date_trunc("day", col("ts")).as("day"),
          col("value"))
      // batch boundaries at MID-day so days are split across batches —
      // row-replacement upserts would silently drop the earlier half
      def applyDelta(lo: String, hi: String): Unit = {
        val batch = ev.filter(col("ts") >= lo && col("ts") < hi)
        val partial = batch.groupBy("day").agg(
          cnt(l(1)).as("n_events"),
          sm(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .as("sum_value"))
        val e = s.table(table)
        val combined = partial.as("d")
          .join(e.as("e"), Seq("day"), "left")
          .select(col("day"),
            (col("d.n_events") + coal(col("e.n_events"), l(0L))).as("n_events"),
            (col("d.sum_value") + coal(col("e.sum_value"),
              l(java.math.BigDecimal.ZERO))).as("sum_value"))
        Loader.upsert(s, combined, table, Seq("day"))
      }
      applyDelta("1900-01-01 00:00:00", "2024-01-10 12:00:00")
      applyDelta("2024-01-10 12:00:00", "2024-01-20 18:30:00")
      applyDelta("2024-01-20 18:30:00", "2100-01-01 00:00:00")
      s.table(table).select(col("day"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"))
    }),
    "p_cdc" -> ((s, _) => {
      // CDC apply: initial snapshot (page 1), then an I/U/D change batch
      // with per-PK seq ordering — latest op wins, so in-batch I->D nets to
      // absent and D->I to the re-inserted row. The delete is what upsert
      // cannot express (SURVEY §2A O13's insert-only contract extended to
      // the full change-stream merge).
      Catalog.drop(s)
      Catalog.ensure(s)
      val table = Catalog.tableName("dag_run")
      val snapshot = Staging.readStaged(s, "dag_run",
        Seq(s"$fixtureDir/dagRuns1.json"))
      Loader.dedupAppend(s, snapshot, table, dagRunPk)
      val cdcSchema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("op",
          org.apache.spark.sql.types.StringType) +:
        org.apache.spark.sql.types.StructField("seq",
          org.apache.spark.sql.types.LongType) +:
        Schemas.byEntity("dag_run").fields.toSeq)
      val changes = s.read.schema(cdcSchema).option("multiLine", "true")
        .json(s"$fixtureDir/cdc.json")
      Loader.applyCdc(s, changes, table, dagRunPk)
      s.table(table).select("dag_id", "dag_run_id", "state")
        .orderBy(col("dag_id"), col("dag_run_id"))
    }),
    "p_scd2" -> ((s, dir) => {
      // slowly-changing-dimension type 2 build: collapse each user's event
      // stream into validity intervals of their event_type "state" — change
      // detection via lag, interval close via lead, open interval =
      // is_current. The standard reporting-dimension history table the
      // reference's Postgres consumers would maintain with triggers; here it
      // is one declarative two-phase window plan: change detection (lag+rn,
      // one sort) over the raw stream, then interval close (lead) over the
      // much smaller change set — the second sort costs O(changes), and both
      // phases keep user_id partitioning so only the first shuffles.
      // Null-safe change test (<=>): a null state is a state, not a wildcard.
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 || not(col("prev_type") <=> col("event_type")))
        .withColumn("valid_to", lead("ts", 1).over(w))
        .select(col("user_id"), col("event_type").as("state"),
          col("ts").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
    }),
    "p_jdbc_upsert" -> ((s, _) => {
      val dbName = "graft" + java.util.UUID.randomUUID().toString.replace("-", "")
      val url = s"jdbc:derby:memory:$dbName;create=true"
      try {
        val conn = DriverManager.getConnection(url)
        try conn.createStatement().execute(
          """CREATE TABLE dag_run (
               dag_id VARCHAR(250) NOT NULL, dag_run_id VARCHAR(250) NOT NULL,
               end_date TIMESTAMP, execution_date TIMESTAMP NOT NULL,
               external_trigger BOOLEAN, logical_date TIMESTAMP,
               start_date TIMESTAMP, state VARCHAR(50),
               PRIMARY KEY (dag_run_id, dag_id))""")
        finally conn.close()
        // initial load = first page only; then the full re-extract upserts
        val page1 = Staging.readStaged(s, "dag_run", dagRunFiles.take(1))
        JdbcSink.dedupAppend(s, page1, url, "dag_run", dagRunPk)
        val reExtract = Staging.readStaged(s, "dag_run", dagRunFiles,
          keepSourceFile = true)
        JdbcSink.upsert(s, reExtract, url, "dag_run", dagRunPk,
          preference = Seq(col(Staging.srcFileCol).desc))
        val lazyResult = s.read.jdbc(url, "dag_run", new Properties)
          .select("dag_id", "dag_run_id", "state")
          .orderBy(col("dag_id"), col("dag_run_id"))
        // detach the result from the database (a handful of rows — bounded
        // like a watermark read) so the db can be dropped before returning;
        // the driver sorts rows before hashing, so order is immaterial
        s.createDataFrame(lazyResult.collectAsList(), lazyResult.schema)
      } finally {
        // Derby in-memory dbs live until JVM exit unless dropped — repeated
        // runs in one JVM (Bench n=2, spec suites) would each leak a full
        // table copy. drop=true "succeeds" by throwing 08006.
        try DriverManager.getConnection(s"jdbc:derby:memory:$dbName;drop=true")
        catch { case _: java.sql.SQLNonTransientConnectionException => () }
      }
    }),
    "p_jdbc_scan" -> ((s, _) => {
      // parallel JDBC EXTRACTION (the read twin of p_jdbc_upsert's sink):
      // seed Derby exactly like p_jdbc_upsert, then pull the table back
      // through JdbcSource.readPartitionedAuto — bounds from one scalar
      // min/max round trip, 4 stride-range scans on execution_date, each
      // its own connection. Same replay oracle as the upsert: the
      // partitioned read must lose/duplicate nothing vs the fixture state.
      val dbName = "graft" + java.util.UUID.randomUUID().toString.replace("-", "")
      val url = s"jdbc:derby:memory:$dbName;create=true"
      try {
        val conn = DriverManager.getConnection(url)
        try conn.createStatement().execute(
          """CREATE TABLE dag_run (
               dag_id VARCHAR(250) NOT NULL, dag_run_id VARCHAR(250) NOT NULL,
               end_date TIMESTAMP, execution_date TIMESTAMP NOT NULL,
               external_trigger BOOLEAN, logical_date TIMESTAMP,
               start_date TIMESTAMP, state VARCHAR(50),
               PRIMARY KEY (dag_run_id, dag_id))""")
        finally conn.close()
        val reExtract = Staging.readStaged(s, "dag_run", dagRunFiles,
          keepSourceFile = true)
        JdbcSink.upsert(s, reExtract, url, "dag_run", dagRunPk,
          preference = Seq(col(Staging.srcFileCol).desc))
        val part = graft.sources.JdbcSource.readPartitionedAuto(
          s, url, "dag_run", "execution_date", numPartitions = 4)
        val lazyResult = part.select("dag_id", "dag_run_id", "state")
        s.createDataFrame(lazyResult.collectAsList(), lazyResult.schema)
      } finally {
        try DriverManager.getConnection(s"jdbc:derby:memory:$dbName;drop=true")
        catch { case _: java.sql.SQLNonTransientConnectionException => () }
      }
    })
  )

  /** DuckDB replays of the staged-fixture loads. `def`, not `val`: the SQL
    * embeds the fixture temp dir, which must exist when Verify serializes
    * oracle_sql.json (it does — queries run first, and Fixtures.dir is
    * idempotent per JVM). */
  def oracles: Map[String, String] = {
    val src = s"read_json('$fixtureDir/dagRuns*.json', format='array', " +
      "filename=true, columns={dag_id:'VARCHAR', dag_run_id:'VARCHAR', " +
      "end_date:'VARCHAR', execution_date:'VARCHAR', " +
      "external_trigger:'BOOLEAN', logical_date:'VARCHAR', " +
      "start_date:'VARCHAR', state:'VARCHAR'})"
    def replay(order: String, cols: String) =
      s"""WITH staged AS (
            SELECT dag_id, dag_run_id, execution_date, state,
                   row_number() OVER (PARTITION BY dag_id, dag_run_id
                                      ORDER BY filename $order) AS rn
            FROM $src)
          SELECT $cols FROM staged WHERE rn = 1"""
    Map(
      "p_snapshot_diff" ->
        """WITH oldw AS (SELECT o_custkey, count(*) AS n_orders,
                                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
                         FROM orders
                         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                           AND o_orderdate < TIMESTAMP '1998-01-01'
                         GROUP BY 1),
           neww AS (SELECT o_custkey, count(*) AS n_orders,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
                    FROM orders
                    WHERE o_orderdate >= TIMESTAMP '1998-01-01'
                      AND o_orderdate < TIMESTAMP '2000-01-01'
                    GROUP BY 1)
           SELECT coalesce(o.o_custkey, n.o_custkey) AS o_custkey,
                  o.n_orders AS n_orders_old, o.spend AS spend_old,
                  n.n_orders AS n_orders_new, n.spend AS spend_new,
                  CASE WHEN o.o_custkey IS NULL THEN 'I'
                       WHEN n.o_custkey IS NULL THEN 'D'
                       ELSE 'U' END AS op
           FROM oldw o FULL JOIN neww n ON o.o_custkey = n.o_custkey
           WHERE o.o_custkey IS NULL OR n.o_custkey IS NULL
              OR o.n_orders <> n.n_orders OR o.spend <> n.spend""",
      "p_incr_rollup" ->
        // the full recompute the incremental maintenance must equal
        """SELECT date_trunc('day', ts) AS day, count(*) AS n_events,
                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
           FROM events GROUP BY 1""",
      "p_backfill" ->
        // the deterministic partial load replayed: missing = day-of-month
        // ≡ 0 mod 3, stale = earliest surviving day with odd event_ids
        // dropped; the plan is the per-day count diff
        """WITH ev AS (SELECT event_id, CAST(ts AS DATE) AS day FROM events),
           kept AS (SELECT * FROM ev WHERE date_part('day', day) % 3 <> 0),
           stale AS (SELECT min(day) AS sd FROM kept),
           sink AS (SELECT * FROM kept
                    WHERE NOT (day = (SELECT sd FROM stale)
                               AND event_id % 2 = 1)),
           s AS (SELECT day, count(*) AS src_rows FROM ev GROUP BY 1),
           k AS (SELECT day, count(*) AS sink_rows FROM sink GROUP BY 1)
           SELECT s.day, s.src_rows, COALESCE(k.sink_rows, 0) AS sink_rows,
                  CASE WHEN COALESCE(k.sink_rows, 0) = 0 THEN 'missing'
                       ELSE 'stale' END AS status
           FROM s LEFT JOIN k ON s.day = k.day
           WHERE COALESCE(k.sink_rows, 0) <> s.src_rows""",
      "p_targeted_delete" ->
        // the erased table recomputed from raw events: every row of the
        // target set gone, everything else byte-identical — equality over
        // ALL days proves unaffected partitions were never touched
        """SELECT CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS n_events,
                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                    AS sum_value
           FROM events
           WHERE NOT COALESCE(user_id % 97 = 0, FALSE)
           GROUP BY 1""",
      "p_retention" ->
        // survivors = days at or past the cutoff (earliest + 10 days)
        """WITH ev AS (SELECT event_id, value, CAST(ts AS DATE) AS day
                       FROM events),
           c AS (SELECT min(day) + INTERVAL 10 DAY AS cutoff FROM ev)
           SELECT day, CAST(count(*) AS BIGINT) AS n_events,
                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                    AS sum_value
           FROM ev WHERE day >= (SELECT cutoff FROM c)
           GROUP BY 1""",
      "p_schema_evolution" ->
        // the drift replayed from the base table: odd keys carry the new
        // column, even keys are the LEGACY (pre-evolution) bucket
        """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
                       ELSE 'LEGACY' END AS prio,
                  count(*) AS n_orders,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                    AS revenue
           FROM orders GROUP BY 1""",
      "p_partition_overwrite" ->
        // the corrected full recompute: earliest day doubled, all other
        // days untouched — equality proves the dynamic overwrite replaced
        // exactly one partition (twice, idempotently)
        """WITH ev AS (SELECT event_id, value, date_trunc('day', ts) AS day
                       FROM events),
           d0 AS (SELECT min(day) AS day0 FROM ev)
           SELECT day, CAST(count(*) AS BIGINT) AS n_events,
                  CAST(sum(CAST(CASE WHEN day = (SELECT day0 FROM d0)
                                     THEN value * 2 ELSE value END
                                AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
           FROM ev GROUP BY 1""",
      "p_cdc" ->
        s"""WITH snap AS (
              SELECT dag_id, dag_run_id, state
              FROM read_json('$fixtureDir/dagRuns1.json', format='array',
                columns={dag_id:'VARCHAR', dag_run_id:'VARCHAR', state:'VARCHAR'})),
            cdc AS (
              SELECT op, seq, dag_id, dag_run_id, state
              FROM read_json('$fixtureDir/cdc.json', format='array',
                columns={op:'VARCHAR', seq:'BIGINT', dag_id:'VARCHAR',
                         dag_run_id:'VARCHAR', state:'VARCHAR'})),
            latest AS (
              SELECT op, dag_id, dag_run_id, state FROM (
                SELECT *, row_number() OVER (PARTITION BY dag_id, dag_run_id
                           ORDER BY seq DESC) AS rn FROM cdc)
              WHERE rn = 1)
            SELECT s.dag_id, s.dag_run_id, s.state FROM snap s
            WHERE NOT EXISTS (SELECT 1 FROM latest l
                              WHERE l.dag_id = s.dag_id
                                AND l.dag_run_id = s.dag_run_id)
            UNION ALL
            SELECT dag_id, dag_run_id, state FROM latest WHERE op <> 'D'""",
      "p_scd2" ->
        """WITH c AS (SELECT user_id, ts, event_id, event_type,
                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
             FROM events),
           ch AS (SELECT user_id, ts, event_id, event_type FROM c
                  WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type)
           SELECT user_id, event_type AS state, ts AS valid_from,
                  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
                  (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
                    AS is_current
           FROM ch""",
      "p_reporting_e2e" -> replay("ASC",
        """dag_id, dag_run_id,
           CAST(CAST(execution_date AS TIMESTAMPTZ) AT TIME ZONE 'UTC' AS TIMESTAMP)
             AS execution_date,
           state"""),
      "p_upsert_state" -> replay("DESC", "dag_id, dag_run_id, state"),
      "p_jdbc_upsert" -> replay("DESC", "dag_id, dag_run_id, state"),
      "p_jdbc_scan" -> replay("DESC", "dag_id, dag_run_id, state"))
  }
}
