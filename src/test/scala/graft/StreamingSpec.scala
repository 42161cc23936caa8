package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.SolarStreaming

/** Streaming-semantics tests (SURVEY.md §5.3): window finalization under
  * the watermark, late-record drop, and batch/stream equivalence.
  */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def newInput(): (MemoryStream[(Timestamp, String, String, Double)], DataFrame) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, String, Double)]
    (input, input.toDF().toDF("ts", "panel", "module", "power"))
  }

  test("streaming OHLC candles finalize once and match the batch candles") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val df = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val name = s"ohlc_${System.nanoTime()}"
    val q = graft.streaming.SolarStreaming
      .ohlcStream(df, bucket = "1 hour", watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      val rows = Seq(
        (1L, ts("2024-01-01 00:10:00"), 1L, "t", 5.0, ""),
        (2L, ts("2024-01-01 00:50:00"), 1L, "t", 9.0, ""),
        (3L, ts("2024-01-01 02:00:00"), 1L, "t", 1.0, "")) // closes hour 0
      input.addData(rows(0), rows(1)); q.processAllAvailable()
      assert(spark.table(name).count() === 0)  // bucket still open
      input.addData(rows(2)); q.processAllAvailable()
      val emitted = spark.table(name)
        .select("user_id", "w_start", "open", "high", "low", "close", "n_events")
        .as[(Long, Long, Double, Double, Double, Double, Long)].collect().toSet
      val batch = graft.operators.Windows
        .ohlcDownsample(rows.toDF(
          "event_id", "ts", "user_id", "event_type", "value", "props"))
        .select("user_id", "w_start", "open", "high", "low", "close", "n_events")
        .as[(Long, Long, Double, Double, Double, Double, Long)].collect().toSet
        .filter(_._2 < ts("2024-01-01 01:00:00").getTime / 1000 + 1)
      assert(emitted === batch)
      assert(emitted.map(r => (r._3, r._6)) === Set((5.0, 9.0))) // open/close
    } finally q.stop()
  }

  test("streaming session windows merge across micro-batches and match batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val df = input.toDF().toDF("ts", "user_id", "value")
    val name = s"sessions_${System.nanoTime()}"
    val query = graft.streaming.SolarStreaming
      .sessionAggStream(df, gap = "60 seconds", watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // two events 40s apart (same session, delivered in different
      // micro-batches), then a third after a >60s gap
      val rows = Seq(
        (ts("2024-01-01 00:00:00"), 1L, 10.0),
        (ts("2024-01-01 00:00:40"), 1L, 5.0),
        (ts("2024-01-01 00:05:00"), 1L, 2.0))
      input.addData(rows(0)); query.processAllAvailable()
      input.addData(rows(1)); query.processAllAvailable()
      assert(spark.table(name).count() === 0)    // session still open
      input.addData(rows(2)); query.processAllAvailable()
      // watermark 00:04:50 > first session end 00:01:40 -> emits once
      val emitted = spark.table(name)
        .select("s_start", "s_end", "user_id", "cnt", "sum_value")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      val batch = graft.operators.Windows
        .sessionAgg(rows.toDF("ts", "user_id", "value"), gap = "60 seconds")
        .select("s_start", "s_end", "user_id", "cnt", "sum_value")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
        .filter(_._2 <= Timestamp.valueOf("2024-01-01 00:04:50").getTime * 1000)
      assert(emitted === batch)                  // finalized sessions agree
      assert(emitted.map(_._4) === Set(2L))      // the 40s-apart pair merged
    } finally query.stop()
  }

  test("append mode emits a window exactly once, after the watermark passes it") {
    val (input, df) = newInput()
    val name = s"module_agg_${System.nanoTime()}"
    val query = SolarStreaming.moduleAggStream(df)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData((ts("2024-01-01 00:00:05"), "p1", "m1", 10.0))
      query.processAllAvailable()
      assert(spark.table(name).count() === 0) // window still open

      // event at 00:01:10 moves the watermark to 00:00:40 > window end 00:00:30
      input.addData((ts("2024-01-01 00:01:10"), "p1", "m1", 5.0))
      query.processAllAvailable()
      val rows = spark.table(name).select("w_start", "m_sum_power")
        .as[(Long, Double)].collect().toSet
      assert(rows === Set((1704067200L, 10.0))) // 2024-01-01T00:00:00Z epoch
    } finally query.stop()
  }

  test("stream-static join enriches the stream without a state store") {
    val (input, df) = newInput()
    val dim = Seq(("p1", "site-A"), ("p2", "site-B")).toDF("panel", "site")
    val name = s"enrich_${System.nanoTime()}"
    val query = SolarStreaming.enrichStream(df, dim)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:05"), "p1", "m1", 10.0),
        (ts("2024-01-01 00:00:06"), "p2", "m2", 20.0),
        (ts("2024-01-01 00:00:07"), "p9", "m3", 30.0)) // no dim row -> dropped
      query.processAllAvailable()
      val rows = spark.table(name).select("panel", "module", "site")
        .as[(String, String, String)].collect().toSet
      assert(rows === Set(("p1", "m1", "site-A"), ("p2", "m2", "site-B")))
      assert(query.lastProgress.stateOperators.isEmpty ||
        query.recentProgress.forall(_.stateOperators.forall(_.numRowsTotal == 0)))
    } finally query.stop()
  }

  test("late records beyond the watermark are dropped") {
    val (input, df) = newInput()
    val name = s"late_${System.nanoTime()}"
    val query = SolarStreaming.moduleAggStream(df)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData((ts("2024-01-01 00:00:05"), "p1", "m1", 10.0))
      input.addData((ts("2024-01-01 00:02:00"), "p1", "m1", 1.0)) // advances watermark past w0
      query.processAllAvailable()
      // this record's window [00:00:00, 00:00:30) is already finalized
      input.addData((ts("2024-01-01 00:00:07"), "p1", "m1", 99.0))
      // push the watermark further so any (incorrect) re-emission would flush
      input.addData((ts("2024-01-01 00:05:00"), "p1", "m1", 1.0))
      query.processAllAvailable()
      val w0 = spark.table(name).filter($"w_start" === 1704067200L)
        .select("m_sum_power").as[Double].collect().toSeq
      assert(w0 === Seq(10.0)) // late 99.0 never merged, window emitted once
    } finally query.stop()
  }

  test("chained window-on-window panel aggregate emits once per finalized window") {
    val (input, df) = newInput()
    val name = s"panel_${System.nanoTime()}"
    val query = SolarStreaming.panelAggStream(df)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:01"), "p1", "m1", 10.0),
        (ts("2024-01-01 00:00:02"), "p1", "m2", 30.0))
      query.processAllAvailable()
      assert(spark.table(name).count() === 0) // both levels still open
      // advance watermark past the window end for both stateful operators
      input.addData((ts("2024-01-01 00:02:30"), "p1", "m1", 1.0))
      query.processAllAvailable()
      val rows = spark.table(name)
        .select("w_start", "panel", "p_cnt", "p_sum_power", "p_avg_power")
        .as[(Long, String, Long, Double, Double)].collect().toSet
      assert(rows === Set((1704067200L, "p1", 2L, 40.0, 20.0)))
    } finally query.stop()
  }

  test("decode parses the reference wire format and filters corrupt records") {
    val kafka = Seq(
      ("""{"power": 52.4, "name": "module-3", "panel": "panel-A"}""", ts("2024-01-01 00:00:01")),
      ("""not json at all""", ts("2024-01-01 00:00:02")),
      (null.asInstanceOf[String], ts("2024-01-01 00:00:03"))
    ).toDF("value", "timestamp")
    val out = SolarStreaming.decode(kafka)
    val rows = out.select("panel", "module", "power")
      .as[(String, String, Double)].collect().toSeq
    assert(rows === Seq(("panel-A", "module-3", 52.4)))
  }

  test("observe surfaces per-micro-batch metrics without a second scan") {
    val (input, df) = newInput()
    val name = s"obs_${System.nanoTime()}"
    val query = SolarStreaming.moduleAggStream(SolarStreaming.observed(df, "raw_tap"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:01"), "p1", "m1", 10.0),
        (ts("2024-01-01 00:00:02"), "p1", "m2", 30.0))
      query.processAllAvailable()
      // processAllAvailable runs a trailing empty batch — read the tap
      // from the batch that actually consumed the input
      val m = query.recentProgress.filter(_.numInputRows > 0).flatMap(p =>
        Option(p.observedMetrics.get("raw_tap"))).last
      assert(m.getAs[Long]("n_rows") === 2L)
      assert(m.getAs[Double]("sum_power") === 40.0)
    } finally query.stop()
  }

  test("decode FAILFAST kills the query on malformed JSON, like the reference serde") {
    val bad = Seq(
      ("""{"power": 1.0, "name": "m", "panel": "p"}""", ts("2024-01-01 00:00:01")),
      ("""{not json""", ts("2024-01-01 00:00:02"))
    ).toDF("value", "timestamp")
    // parity with JsonPojoDeserializer.java:46-49: malformed payload throws
    assertThrows[org.apache.spark.SparkException] {
      SolarStreaming.decode(bad, mode = "FAILFAST").collect()
    }
    // and a clean stream decodes fine under FAILFAST
    val good = Seq(
      ("""{"power": 1.5, "name": "m", "panel": "p"}""", ts("2024-01-01 00:00:01"))
    ).toDF("value", "timestamp")
    assert(SolarStreaming.decode(good, mode = "FAILFAST")
      .select("power").as[Double].collect().toSeq === Seq(1.5))
  }

  test("decodeRouted splits good records from corrupt ones without dropping either") {
    val kafka = Seq(
      ("""{"power": 52.4, "name": "module-3", "panel": "panel-A"}""", ts("2024-01-01 00:00:01")),
      ("""not json at all""", ts("2024-01-01 00:00:02")),
      ("""{"power": 1.0, "name": null, "panel": "panel-B"}""", ts("2024-01-01 00:00:03"))
    ).toDF("value", "timestamp")
    val routed = SolarStreaming.decodeRouted(kafka)
    val good = routed.filter(!$"is_corrupt")
      .select("panel", "module", "power").as[(String, String, Double)].collect().toSeq
    assert(good === Seq(("panel-A", "module-3", 52.4)))
    // corrupt rows keep their raw payload for the quarantine sink
    val corrupt = routed.filter($"is_corrupt").select("raw").as[String].collect().toSet
    assert(corrupt === Set("not json at all",
      """{"power": 1.0, "name": null, "panel": "panel-B"}"""))
  }

  test("encodeAnomalies produces the nested joiner wire shape keyed by panel") {
    val anom = Seq((1704067200L, "panel-A", "module-3", 2L, 733.1, 52.4,
      3L, 4000.2, 500.0, 131072.5, 16384.1, 128.0))
      .toDF("w_start", "panel", "module", "m_cnt", "m_sum_power", "m_avg_power",
        "p_cnt", "p_sum_power", "p_avg_power", "squares_sum", "variance", "deviance")
    val Row(key: String, value: String) =
      SolarStreaming.encodeAnomalies(anom).head()
    assert(key === "panel-A")
    assert(value.contains(""""moduleName":"module-3""""))
    assert(value.contains(""""solarPanelAggregator":{"""))
    assert(value.contains(""""deviance":128.0"""))
  }
}
