package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Spark 4's state data source ("statestore" format): the state of a
  * checkpointed streaming query read back OFFLINE as a batch DataFrame —
  * the ops capability behind state inspection, debugging, and state
  * repair tooling. The spec checkpoints a windowed aggregation, drains
  * it, then audits the state rows against the batch groups they must
  * mirror. */
class StateStoreReaderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("checkpointed agg state reads back and matches the batch group set") {
    val dir = "/root/testdata/sf0.001"
    TestSpark.withTempDir("graft-statestore-") { d =>
      val ckpt = d.toString
      val ev = EventsStream.readEvents(spark, dir)
      val agg = ev
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      val q = agg.writeStream.format("memory").queryName("ssr_sink")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()

      val state = spark.read.format("statestore").load(ckpt)
      // key carries the group columns (window struct + event_type), value
      // the aggregation buffer; one state row per group
      val stateGroups = state
        .select(col("key.window.start").as("ws"), col("key.event_type"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)))
        .toSet
      val batchGroups = graft.Tables.load(spark, dir, "events")
        .filter(col("ts").isNotNull)
        .select(date_trunc("hour", col("ts")).as("ws"), col("event_type"))
        .distinct()
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)))
        .toSet
      assert(stateGroups == batchGroups,
        s"state rows must mirror the batch group set " +
          s"(state=${stateGroups.size}, batch=${batchGroups.size})")
      // and the buffered counts must equal the batch counts
      val stateCounts = state
        // the value struct carries the aggregation BUFFER (internal name
        // `count`), not the output alias
        .select(col("key.window.start").as("ws"), col("key.event_type"),
          col("value.count"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val batchCounts = graft.Tables.load(spark, dir, "events")
        .filter(col("ts").isNotNull)
        .groupBy(date_trunc("hour", col("ts")).as("ws"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(stateCounts == batchCounts)
    }
  }
}
