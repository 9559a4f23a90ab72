package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Left-outer stream-stream join semantics: matched pairs emit immediately;
  * an unmatched click emits with a NULL error only after the joint
  * watermark proves no error can still arrive for its window — and it
  * emits exactly once. A single-batch drain cannot show this (its final
  * watermark never passes the tail); this spec drives the outer path with
  * controlled MemoryStream watermark advances, and the declared
  * `s_stream_outer` query drives it end-to-end via the sentinel-batch
  * chunked replay (EventsStream.replay) under the oracle hash
  * gate. */
class LeftOuterJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("unmatched clicks emit null-error rows once the watermark passes") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val errors = MemoryStream[(Long, Long, Timestamp)]
    def named(ms: MemoryStream[(Long, Long, Timestamp)]) =
      ms.toDF().toDF("user_id", "event_id", "ts")
    val joined = EventsStream.clickErrorJoin(
      named(clicks), named(errors), windowSec = 600L, joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("lo_sink")
      .outputMode("append").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      // u1's click matches an error 5 min later; u2's click never matches
      clicks.addData((1L, 100L, ts("2024-01-01 10:00:00")),
                     (2L, 200L, ts("2024-01-01 10:00:00")))
      errors.addData((1L, 900L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      val afterB1 = spark.table("lo_sink").collect()
        .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      assert(afterB1.toSet == Set((1L, 100L, 900L)),
        s"only the matched pair may emit before the watermark: ${afterB1.toSeq}")
      // advance BOTH watermarks past 10:10 + 1h delay: u2's click window is
      // provably closed, the null-error row must flush
      clicks.addData((9L, 901L, ts("2024-01-01 13:00:00")))
      errors.addData((9L, 902L, ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      clicks.addData((9L, 903L, ts("2024-01-01 15:00:00")))
      errors.addData((9L, 904L, ts("2024-01-01 15:00:00")))
      q.processAllAvailable()
      val rows = spark.table("lo_sink")
        .select("user_id", "click_id", "error_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      assert(rows.count(_ == ((2L, 200L, -1L))) == 1,
        s"u2's unmatched click must emit exactly once with null error: ${rows.toSeq}")
      assert(rows.count(_ == ((1L, 100L, 900L))) == 1,
        "the matched pair must not re-emit")
    } finally q.stop()
  }
}
