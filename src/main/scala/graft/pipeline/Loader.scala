package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, lit, row_number}

/** Insert-if-absent loader — the *intended* semantics of the reference's
  * GCSToPostgres (gcs_to_postgres.py:153-181): project, dedup on PK against
  * the target, bulk-append. The reference's dedup is dead code (it checks an
  * empty list, :153-158) and collects all existing PKs to the client
  * (:155-156) — at 100 TB that is fatal, so here the membership test is a
  * distributed left anti join on the PK columns (the one genuine join in the
  * reference's semantics, SURVEY.md §2A O13), and in-batch duplicates are
  * dropped first (the reference misses those entirely).
  *
  * In-batch dedup is DETERMINISTIC: the reference COPYs staged files in
  * sequence, so when one extract batch carries the same PK twice the first
  * file's row wins. `preference` encodes that order (e.g. the staging file
  * name); remaining columns complete a total order so ties cannot flake.
  */
object Loader {

  /** Keep, per PK, the first row in (preference ++ every remaining column)
    * order — a total order, so the survivor is unique and deterministic. */
  private[pipeline] def pickPerKey(df: DataFrame, pkCols: Seq[String],
                                   preference: Seq[Column]): DataFrame = {
    val others = df.columns.filterNot(pkCols.contains).map(col(_).asc_nulls_last)
    val w = Window.partitionBy(pkCols.map(col): _*)
      .orderBy(preference ++ others: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Append `incoming` to `table`, inserting only PK-absent rows.
    * Empty `pkCols` → plain append (task_instance path: PK commented out at
    * rpt.sql:58-62). Single action — no row counting here, so the anti join
    * runs exactly once. */
  def dedupAppend(spark: SparkSession, incoming: DataFrame, table: String,
                  pkCols: Seq[String], preference: Seq[Column] = Nil): Unit = {
    val deduped =
      if (pkCols.isEmpty) incoming
      else {
        val existing = spark.table(table).select(pkCols.map(col): _*)
        // NB the using-columns join reorders output (keys first); the final
        // coercion below restores table order — insertInto is positional.
        pickPerKey(incoming, pkCols, preference)
          .join(existing, pkCols, "left_anti")
      }
    val toInsert = coerceToTable(spark, deduped, table)
    // Append is job-atomic, comparable to the reference's per-file COPY
    // atomicity (gcs_to_postgres.py:178-181).
    toInsert.write.mode("append").insertInto(table)
  }

  /** [[dedupAppend]] with a bloom split — the 100 TB shape of the per-batch
    * dedup: a compact sketch of the target's PKs classifies incoming rows,
    * bloom MISSES are definitely absent (no false negatives) and insert
    * without ever joining, and only the bloom hits — the candidate
    * duplicates, usually a sliver of the batch — pay the anti join against
    * the target. Result is row-identical to [[dedupAppend]] (the exact join
    * clears false positives). Composite PKs sketch via xxhash64 over the
    * key columns, probed with the same expression. */
  def dedupAppendBloom(spark: SparkSession, incoming: DataFrame, table: String,
                       pkCols: Seq[String], preference: Seq[Column] = Nil,
                       expectedItems: Long = 1000000L,
                       numBits: Long = 8388608L): Unit = {
    require(pkCols.nonEmpty, "dedupAppendBloom requires PK columns")
    val existing = spark.table(table).select(pkCols.map(col): _*)
    val pkHash = org.apache.spark.sql.functions.xxhash64(pkCols.map(col): _*)
    val sketch = graft.operators.BloomPrune
      .buildBloomKey(existing, pkHash, expectedItems, numBits)
    if (sketch == null) {
      // empty target → nothing to dedup against
      dedupAppend(spark, incoming, table, pkCols, preference)
    } else {
      val deduped = pickPerKey(incoming, pkCols, preference)
        .withColumn("__maybe_dup",
          graft.operators.BloomPrune.mightContain(incoming, sketch, pkHash))
      val definiteNew = deduped.filter(!col("__maybe_dup")).drop("__maybe_dup")
      val candidates = deduped.filter(col("__maybe_dup")).drop("__maybe_dup")
        .join(existing, pkCols, "left_anti")
      val toInsert = coerceToTable(spark, definiteNew.unionByName(candidates), table)
      toInsert.write.mode("append").insertInto(table)
    }
  }

  /** Update-on-conflict MERGE into a managed table: matched PKs take the
    * incoming payload, absent PKs are inserted — the semantics a
    * metadata-reporting user needs when a re-extract mutates `state`
    * (SURVEY.md §7 "Upsert gap"). `preference` orders in-batch duplicates
    * (first in order wins — pass the extract sequence DESC for last-wins).
    *
    * Implementation is copy-on-write: merged = (target anti-join incoming)
    * ∪ incoming, staged to a scratch table (a plan cannot lazily read the
    * table it overwrites), then written back. That is the same I/O a
    * Delta/Iceberg MERGE pays on a table without partition pruning; for
    * scale, [[upsertPartitioned]] rewrites only the partitions the batch
    * touches. */
  def upsert(spark: SparkSession, incoming: DataFrame, table: String,
             pkCols: Seq[String], preference: Seq[Column] = Nil): Unit = {
    require(pkCols.nonEmpty, "upsert requires PK columns")
    val inc = coerceToTable(spark, pickPerKey(incoming, pkCols, preference), table)
    val kept = spark.table(table)
      .join(inc.select(pkCols.map(col): _*), pkCols, "left_anti")
    writeViaStage(spark, coerceToTable(spark, kept, table).unionByName(inc), table) {
      staged => staged.write.mode("overwrite").insertInto(table)
    }
  }

  /** Partition-scoped upsert: only touched partitions are rewritten
    * (dynamic partition overwrite) — the 100 TB path, where a day's
    * re-extract rewrites that day, not the table. `partCols` must be the
    * table's partition columns.
    *
    * Touched = partitions the batch writes into PLUS partitions holding a
    * stale row for an incoming PK: a re-extract may move a PK to a new
    * partition value, and without rewriting the old partition the stale row
    * would survive the dynamic overwrite as a silent duplicate. A touched
    * partition whose every row is superseded and that receives no new rows
    * stages zero rows — dynamic overwrite cannot delete it, so it is
    * dropped explicitly (partition lists are metadata-scale, so the
    * driver-side collect is bounded like a watermark read).
    *
    * NULL partition values are first-class: the kept-rows semi join is
    * null-SAFE (`<=>` per partition column — a plain equi-join would silently
    * drop every surviving row of a null partition the batch writes into, and
    * the dynamic overwrite would then destroy them), and an emptied null
    * partition is dropped via Hive's default-partition sentinel, which is the
    * value the catalog actually stores for it. */
  def upsertPartitioned(spark: SparkSession, incoming: DataFrame, table: String,
                        pkCols: Seq[String], partCols: Seq[String],
                        preference: Seq[Column] = Nil,
                        maxTouchedPartitions: Long = 100000L): Unit = {
    require(pkCols.nonEmpty, "upsert requires PK columns")
    val inc = coerceToTable(spark, pickPerKey(incoming, pkCols, preference), table)
    val stalePartitions = spark.table(table)
      .join(inc.select(pkCols.map(col): _*), pkCols, "left_semi")
      .select(partCols.map(col): _*)
    val touched = inc.select(partCols.map(col): _*)
      .union(stalePartitions).distinct().cache()
    // The emptied-partition diff below collects partition SPECS (not rows) to
    // the driver — metadata-scale by design, but pathological partition
    // cardinality (e.g. partitioning by a near-unique column) would turn it
    // into a driver-side row collect. Fail fast with guidance instead. The
    // count also materializes the cache the two downstream uses share.
    val touchedCount = touched.count()
    require(touchedCount <= maxTouchedPartitions,
      s"upsertPartitioned: batch touches $touchedCount partitions of $table " +
        s"(cap $maxTouchedPartitions). Partition-spec bookkeeping is " +
        "driver-side metadata; a batch touching this many partitions " +
        "indicates over-partitioning (partition by a coarser column) or a " +
        "full-table rewrite (use upsert instead). Raise maxTouchedPartitions " +
        "only if driver memory is provisioned for it.")
    val target = spark.table(table).alias("t")
    val keepCond = partCols
      .map(c => col(s"t.$c") <=> col(s"p.$c")).reduce(_ && _)
    val kept = target
      .join(broadcast(touched.alias("p")), keepCond, "left_semi")
      .join(inc.select(pkCols.map(col): _*), pkCols, "left_anti")
    writeViaStage(spark, coerceToTable(spark, kept, table).unionByName(inc), table) {
      staged =>
        try {
          // evaluate BEFORE the overwrite: `touched` reads the pre-merge target
          val emptied = touched
            .except(staged.select(partCols.map(col): _*).distinct()).collect()
          // one file per rewritten partition, not one per task (guide §6)
          graft.Engine.withConf(spark,
              "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
            staged.repartition(partCols.map(col): _*)
              .write.mode("overwrite").insertInto(table)
          }
          emptied.foreach { r =>
            // a null partition value is addressed by Hive's default-partition
            // sentinel — that string IS the stored partition value, so the
            // spec matches exactly the rows the null wrote
            val spec = partCols.zipWithIndex.map { case (c, i) =>
              val lit = if (r.get(i) == null) s"'$nullPartitionName'"
                        else sqlLiteral(r.get(i))
              s"$c = $lit"
            }.mkString(", ")
            spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION ($spec)")
          }
        } finally touched.unpersist()
    }
  }

  /** Apply a CDC change batch (insert/update/delete stream) to a managed
    * table — the merge shape [[upsert]] cannot express because upsert has no
    * delete. `changes` carries the full row payload plus `opCol`
    * ('I'/'U'/'D') and a monotonically increasing `seqCol` (the change-log
    * offset); per PK the HIGHEST seq wins, so I→D nets to absent and D→I
    * nets to the re-inserted row, regardless of how the batch was split
    * across files or partitions. Rows whose latest op is not 'D' upsert;
    * a 'D' on an absent PK is a no-op (at-least-once change logs replay
    * deletes). Same copy-on-write staging as [[upsert]];
    * [[upsertPartitioned]]'s partition scoping applies if needed by
    * filtering `changes` per partition first. */
  def applyCdc(spark: SparkSession, changes: DataFrame, table: String,
               pkCols: Seq[String], opCol: String = "op",
               seqCol: String = "seq"): Unit = {
    require(pkCols.nonEmpty, "applyCdc requires PK columns")
    val latest = pickPerKey(changes, pkCols, Seq(col(seqCol).desc))
    val kept = spark.table(table)
      .join(latest.select(pkCols.map(col): _*), pkCols, "left_anti")
    val upserts = coerceToTable(spark,
      latest.filter(col(opCol) =!= "D").drop(opCol, seqCol), table)
    writeViaStage(spark,
      coerceToTable(spark, kept, table).unionByName(upserts), table) {
      staged => staged.write.mode("overwrite").insertInto(table)
    }
  }

  /** Hive's sentinel directory/catalog value for a NULL partition value —
    * public, stable across Hive/Spark/Trino ("__HIVE_DEFAULT_PARTITION__"). */
  private val nullPartitionName = "__HIVE_DEFAULT_PARTITION__"

  /** Partition-spec literal: strings AND date/time values must be quoted
    * (an unquoted `day = 2024-01-01` is a ParseException); numerics and
    * booleans stay bare. */
  private def sqlLiteral(v: Any): String = v match {
    case s: String => "'" + s.replace("'", "''") + "'"
    case d @ (_: java.sql.Date | _: java.sql.Timestamp | _: java.time.LocalDate |
              _: java.time.LocalDateTime | _: java.time.Instant) =>
      "'" + d.toString.replace("'", "''") + "'"
    case other => other.toString
  }

  /** Materialize `df` into a scratch table, run `write` on the
    * materialized copy, drop the scratch — the standard rewrite barrier for
    * overwriting a table that is also a plan input. */
  private[pipeline] def writeViaStage(spark: SparkSession, df: DataFrame, table: String)
                           (write: DataFrame => Unit): Unit = {
    val stage = table.replace('.', '_') + "_upsert_stage"
    df.write.mode("overwrite").format("parquet").saveAsTable(stage)
    try write(spark.table(stage))
    finally spark.sql(s"DROP TABLE IF EXISTS $stage")
  }

  /** Sink-side type coercion, driven by the table schema — the Spark analog
    * of Postgres COPY coercing staged text to the DDL types (SURVEY.md §1.2). */
  private def coerceToTable(spark: SparkSession, df: DataFrame, table: String): DataFrame = {
    val target = spark.table(table).schema
    df.select(target.map(f => col(f.name).cast(f.dataType)): _*)
  }

  /** Targeted row ERASURE (GDPR / right-to-be-forgotten) on a partitioned
    * immutable-format table: rewrite ONLY the partitions that contain
    * target rows. `source` is the clean re-derivation frame (NOT the table
    * being overwritten — no read-while-overwrite), `isTarget` marks rows to
    * erase, `partCol` is the table's partition column. Affected partitions
    * come from one pruned scan; survivors of those partitions re-insert
    * under dynamic partition overwrite; and — because dynamic overwrite
    * only rewrites partitions that RECEIVE rows — a partition whose rows
    * are ALL targeted (zero survivors) is dropped explicitly, mirroring
    * [[upsertPartitioned]]'s emptied-partition handling. Safe to run twice:
    * the rewrite is a deterministic function of `source` and the drops are
    * IF EXISTS. At 100 TB the cost is (affected partitions / total
    * partitions) of the table, never a full rewrite. */
  def eraseTargeted(spark: SparkSession, source: DataFrame, table: String,
                    isTarget: Column, partCol: String): Unit = {
    val affected = source.filter(isTarget).select(partCol).distinct()
    val tableCols = spark.table(table).columns
    val survivors = source.join(affected, Seq(partCol), "left_semi")
      .filter(!isTarget)
      // insertInto is positional and the Seq-join hoists the join column
      // first: restore the table's column order (partition column last)
      .select(tableCols.map(col): _*)
    // hash-distribute by the partition column so each rewritten partition
    // receives one file instead of one per upstream task (guide §6)
    graft.Engine.withConf(spark,
        "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      survivors.repartition(col(partCol)).write.mode("overwrite")
        .insertInto(table)
    }
    // partitions fully emptied by the erasure never received a row above —
    // drop them explicitly. Bounded: the collect is the affected-partition
    // metadata list (the watermark idiom), never row-shaped data.
    val emptied = affected
      .join(survivors.select(partCol).distinct(), Seq(partCol), "left_anti")
      .collect().map(r => sqlLiteral(r.get(0)))
    emptied.foreach { v =>
      spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION ($partCol=$v)")
    }
  }

  /** Schema-evolution conformance for an incoming batch: target columns the
    * batch lacks are filled with typed NULLs (only legal for nullable
    * columns — a missing NOT-NULL column still fails, like the reference's
    * strict `row[field]` KeyError, gcs_to_postgres.py:169-172); extra batch
    * columns are dropped; everything casts to the DDL type. Use before
    * [[dedupAppend]]/[[upsert]] when the extractor predates a table's new
    * column — the standard additive-evolution path. */
  def conformToTable(spark: SparkSession, df: DataFrame, table: String): DataFrame =
    conformToSchema(df, spark.table(table).schema)

  /** Schema-level conformance (the table overload reads the catalog schema;
    * NB Spark parquet tables report every column nullable, so the
    * non-nullable guard bites on sinks with real constraints — JDBC
    * remotes, entity StructTypes from [[Schemas]]). */
  def conformToSchema(df: DataFrame,
                      target: org.apache.spark.sql.types.StructType): DataFrame = {
    val present = df.columns.map(_.toLowerCase).toSet
    val missingRequired = target.filter(f =>
      !present.contains(f.name.toLowerCase) && !f.nullable)
    require(missingRequired.isEmpty,
      "batch is missing non-nullable column(s): " +
        missingRequired.map(_.name).mkString(", "))
    df.select(target.map { f =>
      if (present.contains(f.name.toLowerCase)) col(f.name).cast(f.dataType)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }
}
