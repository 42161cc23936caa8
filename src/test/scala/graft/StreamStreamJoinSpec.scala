package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Solar
import graft.streaming.SolarStreaming

/** The TRUE watermarked stream-stream join (reference join #1 twin,
  * `SolarConsumer.java:142-147`): two watermarked streaming aggregations
  * joined on (window, panel) inside the streaming engine. Asserts
  * batch/stream equivalence and emit-once-per-window semantics.
  */
class StreamStreamJoinSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def newInput(): (MemoryStream[(Timestamp, String, String, Double)], DataFrame) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, String, Double)]
    (input, input.toDF().toDF("ts", "panel", "module", "power"))
  }

  // FIXTURES-style rows: two panels, multiple modules, two windows
  private val data = Seq(
    (ts("2024-01-01 00:00:01"), "p1", "m1", 10.0),
    (ts("2024-01-01 00:00:02"), "p1", "m1", 20.0),
    (ts("2024-01-01 00:00:03"), "p1", "m2", 40.0),
    (ts("2024-01-01 00:00:04"), "p2", "m1", 5.0),
    (ts("2024-01-01 00:00:35"), "p1", "m1", 7.0), // second window
    (ts("2024-01-01 00:00:44"), "p2", "m2", 9.0))

  type JoinedRow = (Long, String, String, Long, Double, Double, Long, Double, Double)
  private val cols = Seq("w_start", "panel", "module", "m_cnt", "m_sum_power",
    "m_avg_power", "p_cnt", "p_sum_power", "p_avg_power")

  /** The 12 output columns of the anomaly pipeline, batch and stream. */
  private val PipelineCols = cols ++ Seq("squares_sum", "variance", "deviance")

  private def keyed(df: DataFrame): Map[(Long, String, String), Seq[Any]] =
    df.select(PipelineCols.head, PipelineCols.tail: _*).collect().map { r =>
      (r.getLong(0), r.getString(1), r.getString(2)) -> r.toSeq
    }.toMap

  /** Same keys, and every column equal; doubles within 1e-9 relative. */
  private def assertSameRows(got: Map[(Long, String, String), Seq[Any]],
                             want: Map[(Long, String, String), Seq[Any]]): Unit = {
    assert(got.keySet === want.keySet)
    for ((k, w) <- want; (name, (a, b)) <- PipelineCols.zip(got(k).zip(w)))
      (a, b) match {
        case (x: Double, y: Double) =>
          assert(math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y)),
            s"$k $name: $x vs $y")
        case _ => assert(a === b, s"$k $name")
      }
  }

  test("stream-stream join matches the batch join on the same input") {
    // batch reference: the panel stage's inlined module rows, so the join
    // witness and the batch gather check each other
    val events = data.toDF("ts", "event_type", "user_id", "value")
    val expected = Solar.unwrap(Solar.moduleRows(
        Solar.panelAgg(Solar.moduleWindowAgg(Solar.normalize(events)))))
      .select(cols.head, cols.tail: _*)
      .as[JoinedRow].collect().toSet

    val (input, df) = newInput()
    val name = s"ssj_${System.nanoTime()}"
    val query = SolarStreaming.streamStreamJoin(df)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(data: _*)
      query.processAllAvailable()
      // close all windows: watermark far past both window ends
      input.addData((ts("2024-01-01 00:10:00"), "p9", "m9", 1.0))
      query.processAllAvailable()
      // the closer event's own window never finalizes — exclude it from
      // the batch expectation by keying on the original data's windows
      val got = spark.table(name).select(cols.head, cols.tail: _*)
        .as[JoinedRow].collect().toSet
      assert(got === expected)
    } finally query.stop()
  }

  test("fully in-engine streaming pipeline matches the batch pipeline") {
    // several readings per module per window; window [30 s, 60 s) is split
    // across two micro-batches; the second batch carries rows out of
    // event-time order, one of them for window [0 s, 30 s) that arrives
    // after later rows but within the 30 s watermark delay; p3 has a
    // single module (deviance 0, so never anomalous)
    val first = Seq(
      (ts("2024-01-01 00:00:01"), "p1", "m1", 10.0),
      (ts("2024-01-01 00:00:05"), "p1", "m1", 12.5),
      (ts("2024-01-01 00:00:02"), "p1", "m2", 10.0),
      (ts("2024-01-01 00:00:20"), "p1", "m2", 11.0),
      (ts("2024-01-01 00:00:03"), "p1", "m3", 40.0),
      (ts("2024-01-01 00:00:04"), "p1", "m3", 38.5),
      (ts("2024-01-01 00:00:04"), "p2", "m1", 5.0),
      (ts("2024-01-01 00:00:14"), "p2", "m2", 7.0),
      (ts("2024-01-01 00:00:15"), "p2", "m2", 6.5),
      (ts("2024-01-01 00:00:06"), "p3", "m1", 6.0),
      (ts("2024-01-01 00:00:07"), "p3", "m1", 2.0),
      (ts("2024-01-01 00:00:35"), "p1", "m1", 3.0),
      (ts("2024-01-01 00:00:36"), "p1", "m2", 30.0))
    val second = Seq(
      (ts("2024-01-01 00:01:05"), "p1", "m1", 2.0),
      (ts("2024-01-01 00:00:50"), "p2", "m1", 9.0),
      (ts("2024-01-01 00:00:40"), "p1", "m1", 4.0),
      (ts("2024-01-01 00:00:25"), "p1", "m2", 9.5), // late for [0 s, 30 s)
      (ts("2024-01-01 00:00:45"), "p1", "m3", 1.0),
      (ts("2024-01-01 00:01:06"), "p1", "m2", 8.0),
      (ts("2024-01-01 00:00:52"), "p2", "m2", 2.0),
      (ts("2024-01-01 00:00:31"), "p2", "m1", 0.5))
    val events = (first ++ second).toDF("ts", "event_type", "user_id", "value")
    val expected = keyed(Solar.pipeline(events))
    assert(expected.keys.map(_._1).toSet === Set(1704067200L, 1704067230L),
      s"fixture must anomalize both split and unsplit windows: ${expected.keys}")
    // the single-module panel: deviance 0 and no anomaly
    val p3 = Solar.panelAgg(Solar.moduleWindowAgg(Solar.normalize(events)))
      .filter(org.apache.spark.sql.functions.col("panel") === "p3")
      .select("p_cnt", "deviance").as[(Long, Double)].collect()
    assert(p3.toSeq === Seq((1L, 0.0)))
    assert(!expected.keys.exists(_._2 == "p3"))

    val (input, df) = newInput()
    val name = s"full_${System.nanoTime()}"
    val query = SolarStreaming.anomalyPipelineStream(df)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(first: _*)
      query.processAllAvailable()
      input.addData(second: _*)
      query.processAllAvailable()
      // close windows [0 s, 30 s) through [60 s, 90 s)
      input.addData((ts("2024-01-01 00:10:00"), "p9", "m9", 1.0))
      query.processAllAvailable()
      val got = spark.table(name)
      assert(got.columns.toSeq === PipelineCols)
      assert(got.count() === expected.size.toLong, "a row emitted twice")
      assertSameRows(keyed(got), expected)
    } finally query.stop()
  }

  test("streaming squares fold around the rounded panel mean") {
    // module sums 1, 2 and 10: the panel mean 4.333… rounds to 4.3
    // (SolarPanelAggregator.java:40-41,52), so squares_sum is
    // 3.3² + 2.3² + 5.7² = 48.67, not the 48.666… of the exact mean;
    // deviance = round(sqrt(48.67 / 3), 1) = 4.0, so only m3 is anomalous
    val (input, df) = newInput()
    val name = s"sq_${System.nanoTime()}"
    val query = SolarStreaming.anomalyPipelineStream(df)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:01"), "p1", "m1", 1.0),
        (ts("2024-01-01 00:00:02"), "p1", "m2", 2.0),
        (ts("2024-01-01 00:00:03"), "p1", "m3", 10.0))
      query.processAllAvailable()
      input.addData((ts("2024-01-01 00:10:00"), "p9", "m9", 1.0))
      query.processAllAvailable()
      val got = spark.table(name)
        .select("module", "p_avg_power", "squares_sum", "variance", "deviance")
        .as[(String, Double, Double, Double, Double)].collect().toSeq
      assert(got.map(_._1) === Seq("m3"))
      val (_, avg, squares, variance, deviance) = got.head
      val want = Seq(1.0, 2.0, 10.0).map(s => math.pow(s - 4.3, 2)).sum
      assert(avg === 4.3)
      assert(math.abs(squares - want) <= 1e-9 * want, s"$squares vs $want")
      assert(math.abs(variance - want / 3) <= 1e-9 * want, s"$variance")
      assert(deviance === 4.0)
    } finally query.stop()
  }

  test("time-interval stream-stream join matches the batch range join") {
    val rows = Seq(
      (ts("2024-01-01 00:00:01"), "p1", "m1", 1.0),
      (ts("2024-01-01 00:00:20"), "p1", "m2", 2.0),  // within 30s of m1
      (ts("2024-01-01 00:01:10"), "p1", "m3", 3.0),  // beyond 30s of both
      (ts("2024-01-01 00:00:05"), "p2", "m1", 4.0)) // other panel
    val batch = rows.toDF("ts", "panel", "module", "power")
    val expected = SolarStreaming.coReadingsStream(batch)
      .select("panel", "l_module", "r_module")
      .as[(String, String, String)].collect().toSet
    assert(expected === Set(("p1", "m1", "m2"))) // sanity of the fixture

    val (input, df) = newInput()
    val name = s"ivj_${System.nanoTime()}"
    val query = SolarStreaming.coReadingsStream(df)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(rows: _*)
      input.addData((ts("2024-01-01 00:10:00"), "p9", "m9", 0.0)) // advance watermark
      query.processAllAvailable()
      val got = spark.table(name).select("panel", "l_module", "r_module")
        .as[(String, String, String)].collect().toSet
      assert(got === expected)
    } finally query.stop()
  }

  test("left-outer interval join: unmatched rows emit null-padded, " +
    "exactly once, only after state expiry; matches equal the batch join") {
    val rows = Seq(
      (ts("2024-01-01 00:00:01"), "p1", "m1", 1.0),
      (ts("2024-01-01 00:00:20"), "p1", "m2", 2.0),  // m1's partner
      (ts("2024-01-01 00:01:10"), "p1", "m3", 3.0),  // no partner > m3
      (ts("2024-01-01 00:00:05"), "p2", "m1", 4.0))  // alone on p2
    // batch truth: the same leftOuter plan over a static frame
    val batch = SolarStreaming
      .coReadingsLeftOuterStream(rows.toDF("ts", "panel", "module", "power"))
      .select("panel", "l_module", "r_module")
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)))).toSet
    assert(batch === Set(
      ("p1", "m1", Some("m2")),
      ("p1", "m2", None), ("p1", "m3", None), ("p2", "m1", None)))

    val (input, df) = newInput()
    val name = s"loj_${System.nanoTime()}"
    val query = SolarStreaming.coReadingsLeftOuterStream(df)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      // the first batch's closing watermark is max(ts) − 30 s = 00:00:40:
      // only p2/m1's window (ends 00:00:35) has EXPIRED, so it is the one
      // outer row allowed out — m2 (ends 00:00:50) and m3 (ends 00:01:40)
      // must still be held (no spurious early nulls, the KIP-633 bug
      // class this operator must not reintroduce)
      val early = spark.table(name)
        .filter(org.apache.spark.sql.functions.col("r_module").isNull)
        .select("panel", "l_module")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(early.subsetOf(Set(("p2", "m1"))),
        s"outer rows emitted before expiry: $early")
      input.addData((ts("2024-01-01 00:10:00"), "p9", "m9", 0.0)) // advance
      query.processAllAvailable()
      val got = spark.table(name).select("panel", "l_module", "r_module")
        .collect().map(r => (r.getString(0), r.getString(1),
          Option(r.getString(2)))).toSet
      // stream ≡ batch, including the p9 probe row (itself unmatched)
      assert(got === batch + (("p9", "m9", None)) ||
        got === batch, s"stream/batch divergence: $got")
      // exactly once: no duplicate outer emissions
      val n = spark.table(name).count()
      assert(n === spark.table(name).distinct().count())
    } finally query.stop()
  }

  test("full-outer interval join: BOTH sides' unmatched rows emit " +
    "null-padded exactly once after expiry; matches equal the batch join") {
    val rows = Seq(
      (ts("2024-01-01 00:00:01"), "p1", "m1", 1.0),
      (ts("2024-01-01 00:00:20"), "p1", "m2", 2.0),  // m1's partner
      (ts("2024-01-01 00:01:10"), "p1", "m3", 3.0),  // no partner either way
      (ts("2024-01-01 00:00:05"), "p2", "m1", 4.0))  // alone on p2
    def shape(df: DataFrame) = df.select("panel", "l_module", "r_module")
      .collect().map(r => (r.getString(0), Option(r.getString(1)),
        Option(r.getString(2)))).toSet
    val batch = shape(SolarStreaming
      .coReadingsFullOuterStream(rows.toDF("ts", "panel", "module", "power")))
    // inner pair + three left pads + three right pads (m1 never has a
    // smaller partner; m3/p2-m1 are isolated in both directions)
    assert(batch === Set(
      ("p1", Some("m1"), Some("m2")),
      ("p1", Some("m2"), None), ("p1", Some("m3"), None),
      ("p2", Some("m1"), None),
      ("p1", None, Some("m1")), ("p1", None, Some("m3")),
      ("p2", None, Some("m1"))))

    val (input, df) = newInput()
    val name = s"foj_${System.nanoTime()}"
    val query = SolarStreaming.coReadingsFullOuterStream(df)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      // first-batch watermark is max(ts) − 30 s = 00:00:40: only state
      // whose tolerance window ended before that may pad out — p2/m1 in
      // both directions (window ends 00:00:35) and p1/m1 as a RIGHT row
      // (ends 00:00:31). m2/m3 must still be held on both sides.
      val early = shape(spark.table(name)
        .filter(org.apache.spark.sql.functions.col("l_module").isNull ||
          org.apache.spark.sql.functions.col("r_module").isNull))
      assert(early.subsetOf(Set(
        ("p2", Some("m1"), None), ("p2", None, Some("m1")),
        ("p1", None, Some("m1")))),
        s"outer rows emitted before expiry: $early")
      input.addData((ts("2024-01-01 00:10:00"), "p9", "m9", 0.0)) // advance
      query.processAllAvailable()
      val got = shape(spark.table(name))
      // stream ≡ batch modulo the probe row's own (still-held or emitted)
      // pads — never a both-null row
      assert(got.forall(r => r._2.isDefined || r._3.isDefined))
      assert(got -- Set(("p9", Option("m9"), Option.empty[String]),
        ("p9", Option.empty[String], Option("m9"))) === batch,
        s"stream/batch divergence: $got")
      // exactly once: no duplicate emissions
      assert(spark.table(name).count() === spark.table(name).distinct().count())
    } finally query.stop()
  }

  test("joined rows emit only after the watermark finalizes both sides") {
    val (input, df) = newInput()
    val name = s"ssj_emit_${System.nanoTime()}"
    val query = SolarStreaming.streamStreamJoin(df)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:01"), "p1", "m1", 10.0),
        (ts("2024-01-01 00:00:02"), "p1", "m2", 30.0))
      query.processAllAvailable()
      assert(spark.table(name).count() === 0) // window still open
      input.addData((ts("2024-01-01 00:03:00"), "p1", "m1", 1.0))
      query.processAllAvailable()
      val rows = spark.table(name)
        .select("w_start", "panel", "module", "p_cnt", "p_avg_power")
        .as[(Long, String, String, Long, Double)].collect().toSet
      assert(rows === Set(
        (1704067200L, "p1", "m1", 2L, 20.0),
        (1704067200L, "p1", "m2", 2L, 20.0)))
    } finally query.stop()
  }
}
