package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Structured Streaming surface over the `events` table — the streaming twin
  * of the reference's hand-rolled batch-incremental watermark pattern
  * (SURVEY.md §2B Streaming): `withWatermark` + windowed/session aggregation
  * replaces MAX(start_date)-and-filter; `dropDuplicatesWithinWatermark`
  * replaces the PK anti-join, with bounded state instead of a full target
  * scan.
  *
  * File-source streaming over the driver parquet gives a deterministic
  * one-batch replay for tests/verification; the same plans run unchanged
  * against a real continuous source (kafka/files) at scale, where the
  * watermark bounds state size — the property that makes these operators
  * viable on an unbounded 100 TB/day stream.
  */
object EventsStream {

  /** Streaming read of the events parquet. ts is parquet TIMESTAMP(NANOS)
    * (read as ns Long, see Tables.load) → truncated to µs TimestampType. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    // only the schema is needed here: Tables.parquet resolves it once per
    // JVM (keyed on the file's name, length and mtime and the schema
    // confs), so a drain after the first pays no footer-reading job; a
    // stale entry would hand the stream a wrong schema, which is why the
    // key holds the file stamp and not the path alone
    val physical = graft.Tables.parquet(spark, path).schema
    // events.parquet is a single FILE in the driver testdata but a
    // DIRECTORY of part files in gen_scale.py corpora (the sf1 gate found
    // the single-layout glob reading ZERO files there — an empty stream,
    // not an error). The file streaming source wants a directory either
    // way; point it at the right one with the right glob.
    val raw =
      if (new java.io.File(path).isDirectory)
        spark.readStream.schema(physical)
          .option("pathGlobFilter", "*.parquet").parquet(path)
      else
        spark.readStream.schema(physical)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
    if (physical("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(graft.Tables.nsFloorToMicros))
    else raw
  }

  /** Tumbling 1-hour counts + exact decimal sums per event type.
    * Decimal accumulation, DOUBLE output (see Core's determinism contract:
    * DECIMAL output columns break the driver's pandas canonicalization). */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_ts"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding 1-hour windows every 15 minutes: each event lands in 4
    * overlapping windows (Spark's epoch-aligned window grid). Decimal
    * accumulation, DOUBLE output, like hourlyAgg. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Gap-based sessionization via session_window (30-minute gap). */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Stream-stream join: each click joined to the same user's errors
    * within the following `windowSec` seconds. Both sides carry watermarks
    * so join state is evicted by event time — the unbounded-input-safe form
    * of the batch range join.
    *
    * `joinType` "left_outer" additionally emits clicks that found NO error,
    * with a null error_id — but only once the joint watermark passes the
    * click's match window (the row might still match until then), so
    * unmatched results trail the stream by watermark delay + windowSec:
    * exactly-once outer semantics on unbounded input (LeftOuterJoinSpec). */
  def clickErrorJoin(clicks: DataFrame, errors: DataFrame, windowSec: Long,
                     joinType: String = "inner"): DataFrame = {
    val c = clicks
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val e = errors
      .select(col("user_id").as("e_user_id"), col("event_id").as("error_id"),
        col("ts").as("error_ts"))
      .withWatermark("error_ts", "1 hour")
    c.join(e,
      col("user_id") === col("e_user_id")
        && col("error_ts") >= col("click_ts")
        && col("error_ts") <= col("click_ts") + expr(s"INTERVAL $windowSec SECONDS"),
      joinType)
      // right_outer/full_outer rows with no click side carry a null
      // user_id on the click side — surface the key from whichever side
      // survived (a no-op for inner/left_outer, where the click side is
      // always present)
      .select(coalesce(col("user_id"), col("e_user_id")).as("user_id"),
        col("click_id"), col("error_id"))
  }

  /** Stream-static enrichment: each event picks up its key's dimension
    * attributes from a batch table. The dim side broadcasts, so the
    * streaming side carries NO state at all — every micro-batch joins
    * against the snapshot; the standard dimension-enrichment shape, safe on
    * an unbounded stream at any scale. */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey))

  /** Stateful stream dedup on event_id, state bounded by the watermark. */
  def dedupByEventId(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Continuous load into a managed table via foreachBatch → the batch
    * dedup loader: the streaming twin of the reference's staged load path.
    * Each micro-batch runs the same insert-if-absent anti-join the batch
    * pipeline uses, so restarts/replays cannot duplicate PK'd rows —
    * end-to-end idempotence from a possibly-at-least-once source. */
  def streamIntoTable(events: DataFrame, table: String,
                      pkCols: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.pipeline.Loader.dedupAppend(batch.sparkSession, batch, table, pkCols)
      }
      .start()

  /** Stream into a JDBC reporting database with at-least-once-safe
    * idempotence — the reference's end state (Postgres reporting tables)
    * fed continuously instead of by batch DAG runs: every micro-batch
    * insert-if-absents on the PK via [[graft.pipeline.JdbcSink.dedupAppend]],
    * so source replays and batch retries cannot duplicate rows. */
  def streamIntoJdbc(events: DataFrame, url: String, table: String,
                     pkCols: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.pipeline.JdbcSink.dedupAppend(batch.sparkSession, batch, url,
          table, pkCols)
      }
      .start()

  /** Replay a bounded `batch` as a MULTI-batch stream, one file per
    * micro-batch, for as long as `body` runs. `chunk` assigns every row an
    * id in `[0, nChunks)` (a boolean reads as 0/1; a row whose id is null
    * is dropped); chunk `i` becomes micro-batch `i`, and each `tail` frame
    * (schema-identical to `batch`) one more batch after the last chunk.
    * `body` gets a function that opens a new `maxFilesPerTrigger = 1`
    * stream over the staged files, so a multi-input query (both sides of a
    * stream-stream join) stages once and opens one source per side.
    *
    * All chunks are cut in ONE pass (guide §2.4): a partitioned write,
    * hash-distributed by the chunk id, gives one file per chunk; an empty
    * chunk or a task split into several files is restaged alone from a
    * filter, and each `tail` frame is written on its own. File order is
    * pinned with explicit increasing mtimes (the file source's ordering
    * key), so it never depends on write latency. Chunks follow their ids,
    * but rows WITHIN a chunk come in shuffle-fetch order, not scan order:
    * consumers must not depend on it.
    *
    * The staged files live in `stream/` under a fresh `graft-replay-*` root
    * in java.io.tmpdir (the scratch the chunks were cut in is removed
    * before `body` runs), and the whole root is deleted when `body`
    * returns or throws. `body` must therefore drain every stream it opens
    * before it returns (into a memory sink or a table, as every caller
    * does) and return nothing that still reads the files. */
  def replay[T](spark: SparkSession, batch: DataFrame, chunk: Column,
                nChunks: Int, tail: Seq[DataFrame] = Nil)(
      body: (() => DataFrame) => T): T = {
    val root = java.nio.file.Files.createTempDirectory("graft-replay-")
    try {
      val streamDir = root.resolve("stream")
      java.nio.file.Files.createDirectory(streamDir)
      def parts(dir: String): Array[java.io.File] =
        Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      def place(part: java.io.File, i: Int): Unit = {
        val dst = streamDir.resolve(f"chunk_$i%02d.parquet").toFile
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1600000000000L + i * 60000L)
      }
      def stage(df: DataFrame, i: Int): Unit = {
        val dir = root.resolve(s"stage_$i").toString
        df.coalesce(1).write.mode("overwrite").parquet(dir)
        place(parts(dir).head, i)
      }
      val id = chunk.cast("int")
      val chunkDir = root.resolve("chunks").toString
      batch.withColumn("__chunk", id)
        .repartition(col("__chunk"))
        .write.partitionBy("__chunk").mode("overwrite").parquet(chunkDir)
      (0 until nChunks).foreach { i =>
        parts(s"$chunkDir/__chunk=$i") match {
          case Array(one) => place(one, i)
          case _ => stage(batch.filter(id === i), i)
        }
      }
      tail.zipWithIndex.foreach { case (df, j) => stage(df, nChunks + j) }
      // every streamed file is in stream/; the rest is the writes' leftovers
      root.toFile.listFiles().filter(_.getName != "stream")
        .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
      body(() => spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir.toString))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  /** Equal event-time slices of `batch` for [[replay]]: returns the chunk
    * id (slice `i` holds the `i`-th of `nChunks` equal parts of the `ts`
    * range) and the corpus maximum in µs, past which a caller places its
    * far-future sentinel rows. One bounds aggregate; `ts` must be non-null.
    *
    * This is the harness that lets TIMEOUT-driven state machines and outer
    * stream-stream joins be oracle-gated: timeouts and outer null rows
    * only fire across batch boundaries, and sentinel rows in the trailing
    * batches advance the event-time watermark past every real deadline, so
    * by the final batch all keyed state has been flushed and the
    * append-mode drain equals the batch formulation. Because the split is
    * by event time, no row is ever late (batch k's minimum exceeds batch
    * k-1's maximum = the watermark), so a 0-second watermark delay loses
    * nothing and the replay is deterministic however the parquet is
    * partitioned. */
  def timeSlices(batch: DataFrame, nChunks: Int): (Column, Long) = {
    val us = unix_micros(col("ts"))
    val bounds = batch.agg(min(us), max(us)).first()
    val (minUs, maxUs) = (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(1L, maxUs - minUs + 1)
    val chunk = (0 until nChunks - 1).foldRight(lit(nChunks - 1)) {
      (i, rest) => when(us < minUs + span * (i + 1) / nChunks, i).otherwise(rest)
    }
    (chunk, maxUs)
  }

  /** Drain a (bounded) streaming DataFrame through a memory sink and return
    * the sink contents as a batch DataFrame. Deterministic for file sources:
    * processAllAvailable blocks until every input file is consumed.
    *
    * State partition count is scoped down for the drain: a streaming query
    * instantiates one state store per shuffle partition and commits every
    * one of them per micro-batch, so per-batch overhead scales with the
    * session's shuffle parallelism (32 here) rather than the data. 8 keeps
    * the drain parallel without paying 32 state commits for a bounded
    * replay; a production deployment sizes this to its key cardinality via
    * the session conf instead (state partitioning is fixed at the first
    * checkpoint, so it is a per-query deployment choice either way). */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
                  mode: String, statePartitions: Int = 8): DataFrame = {
    // the shuffle-partition override is session-global state: serialize
    // drains so two concurrent save/set/restore sequences can't interleave
    // and strand the session at the scoped-down value
    drainLock.synchronized {
      graft.Engine.withConf(spark,
          "spark.sql.shuffle.partitions" -> statePartitions.toString) {
        val q = df.writeStream
          .format("memory")
          .queryName(name)
          .outputMode(mode)
          .start()
        try q.processAllAvailable()
        finally q.stop()
      }
    }
    spark.table(name)
  }

  private val drainLock = new Object
}
