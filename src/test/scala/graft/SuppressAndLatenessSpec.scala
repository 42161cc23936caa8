package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.graftbridge.Bridge

import graft.streaming.SolarStreaming

/** Pins the two documented semantic choices around the reference's
  * `suppress(untilTimeLimit(30 s, unbounded()))` (`SolarConsumer
  * .java:114,129,156`):
  *
  *  1. the UPDATE-mode twin — Kafka Streams' literal rate-limit
  *     behavior (latest value per key, at most once per interval) as
  *     [[SolarStreaming.startModuleAggUpdateQuery]];
  *  2. the late-data divergence — Kafka Streams retains window state for
  *     a default 24 h grace and would fold a late record into an
  *     already-emitted window; this engine drops records behind the
  *     30 s watermark (SURVEY §4.3). Asserted, not just documented.
  */
class SuppressAndLatenessSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def newInput() = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, String, Double)]
    (input, input.toDF.toDF("ts", "panel", "module", "power"))
  }

  test("update-mode suppress twin: latest value per key, at most one " +
       "emission per key per trigger, unchanged keys stay silent") {
    val (input, df) = newInput()
    val ckpt = Bridge.tempDir("graft_supp_")
    // (batchId, w_start, module, cnt, sum)
    val emitted = mutable.Buffer[(Long, Long, String, Long, Double)]()
    val q = SolarStreaming.startModuleAggUpdateQuery(df, ckpt,
      Trigger.ProcessingTime(0L)) { (b: DataFrame, id: Long) =>
      emitted ++= b.select("w_start", "module", "m_cnt", "m_sum_power")
        .collect().map(r => (id, r.getLong(0), r.getString(1),
          r.getLong(2), r.getDouble(3)))
      ()
    }
    try {
      // trigger 1: THREE updates to (p1, m1) and one to (p1, m2) buffer
      // into a single latest-value emission per key — the reference's
      // rate limit, which its per-record caching (CACHE_MAX_BYTES=0)
      // would otherwise emit three times
      input.addData(
        (ts("2024-01-01 00:00:01"), "p1", "m1", 10.0),
        (ts("2024-01-01 00:00:02"), "p1", "m1", 20.0),
        (ts("2024-01-01 00:00:03"), "p1", "m1", 30.0),
        (ts("2024-01-01 00:00:04"), "p1", "m2", 5.0))
      q.processAllAvailable()
      val t1 = emitted.toList
      assert(t1.map(e => (e._3, e._4, e._5)).toSet ===
        Set(("m1", 3L, 60.0), ("m2", 1L, 5.0)),
        s"latest cumulative value once per key: $t1")
      assert(t1.size === 2, s"exactly one emission per changed key: $t1")

      // trigger 2: only m1 changes — m2 must NOT re-emit
      input.addData((ts("2024-01-01 00:00:05"), "p1", "m1", 40.0))
      q.processAllAvailable()
      val t2 = emitted.toList.drop(t1.size)
      assert(t2.map(e => (e._3, e._4, e._5)) === List(("m1", 4L, 100.0)),
        s"only the changed key re-emits, with the latest value: $t2")
    } finally q.stop()
  }

  test("late-data conformance: a record behind the watermark is dropped " +
       "(divergence from Kafka Streams' 24 h default grace, SURVEY §4.3)") {
    val (input, df) = newInput()
    val emitted = mutable.Buffer[(Long, String, Double)]()
    val q = SolarStreaming.moduleAggStream(df)
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        Bridge.tempDir("graft_late_"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        emitted ++= b.select("w_start", "module", "m_sum_power")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        ()
      }
      .start()
    val w0 = 1704067200L // [00:00:00, 00:00:30)
    val onTime = Seq(
      (ts("2024-01-01 00:00:05"), "p1", "m1", 10.0),
      (ts("2024-01-01 00:00:07"), "p1", "m1", 5.0))
    val closer = (ts("2024-01-01 00:10:00"), "p1", "m9", 1.0)
    val late = (ts("2024-01-01 00:00:10"), "p1", "m1", 99.0)
    try {
      input.addData(onTime: _*)
      q.processAllAvailable()
      input.addData(closer) // watermark -> 00:09:30, w0 finalizes
      q.processAllAvailable()
      assert(emitted.toList === List((w0, "m1", 15.0)))

      // the late record is 9.5 minutes behind the watermark but well
      // inside Kafka Streams' 24 h grace: the reference WOULD emit an
      // updated w0 aggregate (sum 114); this engine drops it and the
      // emitted history stays immutable — the price of bounded state +
      // emit-once-final, called out in SURVEY §4.3
      input.addData(late)
      q.processAllAvailable()
      assert(emitted.toList === List((w0, "m1", 15.0)),
        s"late record must be dropped, not re-emitted: ${emitted.toList}")
    } finally q.stop()

    // and the BATCH twin (no lateness concept) does fold it in — the
    // divergence is real, quantified, and pinned
    val batch = (onTime :+ closer :+ late)
      .toDF("ts", "panel", "module", "power")
    val batchSum = SolarStreaming.moduleAggStream(batch)
      .filter($"w_start" === w0 && $"module" === "m1")
      .select("m_sum_power").as[Double].head()
    assert(batchSum === 114.0)
  }
}
