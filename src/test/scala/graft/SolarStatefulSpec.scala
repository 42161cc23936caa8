package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge

import graft.streaming.SolarTws
import graft.streaming.SolarTws._

/** Case-by-case tests of the custom-state module aggregate
  * ([[graft.streaming.ModuleAggProcessor]], run by [[SolarTws.moduleAggTws]]):
  * how readings fold into per-window buffers, which windows the watermark
  * finalizes, and what state a flush leaves behind. Each test drives a
  * MemoryStream through micro-batches and reads the processor's `open` list
  * state back from the checkpoint with the state-store reader.
  */
class SolarStatefulSpec extends SparkSpecBase {
  import spark.implicits._

  private type In = (Timestamp, String, String, Double)
  private type Out = (Long, Long, Double, Double)

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Feeds `batches` one micro-batch each. Returns, after every batch, the
    * sorted (w_start, m_cnt, m_sum_power, m_avg_power) rows emitted so far
    * for module m1, and at the end the open buffers left in state as
    * (module, w, cnt, sum, sumMicros).
    */
  private def run(batches: Seq[In]*)
      : (Seq[Seq[Out]], Set[(String, Long, Long, Double, Long)]) = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[In]
    val name = s"custom_state_${System.nanoTime()}"
    val ckpt = Bridge.tempDir("graft_custom_state")
    val q = SolarTws.moduleAggTws(spark,
        input.toDF().toDF("ts", "panel", "module", "power").as[Reading])
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ckpt).start()
    val emitted = try batches.map { b =>
      input.addData(b)
      q.processAllAvailable()
      spark.table(name).filter($"module" === "m1")
        .select("w_start", "m_cnt", "m_sum_power", "m_avg_power")
        .as[Out].collect().toSeq.sorted
    } finally q.stop()
    val buffered = spark.read.format("statestore")
      .option("stateVarName", "open").load(ckpt)
      .select(col("key.module"), col("list_element.w"), col("list_element.cnt"),
        col("list_element.sum"), col("list_element.sumMicros"))
      .as[(String, Long, Long, Double, Long)].collect().toSet
    (emitted, buffered)
  }

  private val first = (1704067200L, 2L, 30.0, 15.0)  // m1 in [0,30): 10 + 20
  private val m1TwoWindows = Seq(
    (ts("2024-01-01 00:00:05"), "p1", "m1", 10.0),
    (ts("2024-01-01 00:00:10"), "p1", "m1", 20.0),
    (ts("2024-01-01 00:00:35"), "p1", "m1", 5.0))

  test("readings fold into per-window buffers without emitting") {
    // watermark 5 s after the batch: neither [0,30) nor [30,60) is final
    val (emitted, buffered) = run(m1TwoWindows)
    assert(emitted === Seq(Seq.empty))
    assert(buffered === Set(
      ("m1", 1704067200L, 2L, 30.0, 30000000L),
      ("m1", 1704067230L, 1L, 5.0, 5000000L)))
  }

  test("watermark past the window ends flushes buffers and clears state") {
    // another key moves the watermark to 40 s, then to 90 s: m1 gets no new
    // rows, so each flush comes from its timer, one window per batch
    val (emitted, buffered) = run(m1TwoWindows,
      Seq((ts("2024-01-01 00:01:10"), "p2", "m2", 1.0)),
      Seq((ts("2024-01-01 00:02:00"), "p2", "m2", 1.0)))
    assert(emitted === Seq(Seq.empty, Seq(first),
      Seq(first, (1704067230L, 1L, 5.0, 5.0))))
    // a fully flushed key leaves no open buffer; m2's [120,150) is still open
    assert(buffered === Set(("m2", 1704067320L, 1L, 1.0, 1000000L)))
  }

  test("partial flush: only watermark-finalized windows emit, rest stay open") {
    // watermark 65 s: [0,30) is final, [90,120) is not
    val (emitted, buffered) = run(Seq(
      (ts("2024-01-01 00:00:05"), "p1", "m1", 10.0),
      (ts("2024-01-01 00:00:10"), "p1", "m1", 20.0),
      (ts("2024-01-01 00:01:35"), "p1", "m1", 5.0)))
    assert(emitted === Seq(Seq(first)))
    assert(buffered === Set(("m1", 1704067290L, 1L, 5.0, 5000000L)))
  }

  test("custom-state stream emits once the watermark finalizes the window") {
    // after the flush, a late m1 row for the same window is dropped by the
    // watermark and later batches never emit the window again
    val (emitted, _) = run(m1TwoWindows.take(2),
      Seq((ts("2024-01-01 00:02:00"), "p2", "m2", 1.0)),
      Seq((ts("2024-01-01 00:00:20"), "p1", "m1", 7.0)),
      Seq((ts("2024-01-01 00:03:00"), "p2", "m2", 1.0)))
    assert(emitted === Seq(Seq.empty, Seq(first), Seq(first), Seq(first)))
  }
}
