package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.sources.v2.KafkaBus
import graft.streaming.SolarStreaming

/** End-to-end topology through a broker-shaped source AND sink — the
  * in-sandbox closure of SURVEY §2 rows 1+18 (`SolarConsumer.java:99,188`):
  * raw reference-wire JSON is PRODUCED onto an in-JVM bus topic, consumed
  * by the very same `SolarStreaming.fromKafka` the production deployment
  * uses (format swapped to the wire-identical "kafka-bus" DSv2 twin),
  * run through the full chained stateful topology, encoded, and SUNK by
  * the very same `SolarStreaming.toKafka` — then the sink topic's bytes
  * are compared against the batch pipeline's golden encoding. A live-
  * broker harness with the identical assertions exists in KafkaWireSpec
  * (cancels without GRAFT_KAFKA_BOOTSTRAP; no kafka jars ship in this
  * sandbox).
  */
class BusEndToEndSpec extends SparkSpecBase {
  import spark.implicits._

  private val T0 = 1704067200L // 2024-01-01 00:00:00 UTC, window-aligned

  /** The reference producer's record shape (`SolarModuleData.java:21-26`). */
  private def rawJson(panel: String, module: String, power: Double): String =
    s"""{"power":$power,"name":"$module","panel":"$panel"}"""

  /** Fixture with a guaranteed z-score anomaly in window [T0, T0+30):
    * m1's windowed sum (100) sits far from the panel mean of the four
    * module sums (100, 10, 12, 14), while p2 is uniform (no anomaly).
    */
  private val readings: Seq[(Long, String, String, Double)] = Seq(
    (T0 + 1, "p1", "m1", 60.0), (T0 + 5, "p1", "m1", 40.0),
    (T0 + 2, "p1", "m2", 10.0),
    (T0 + 3, "p1", "m3", 12.0),
    (T0 + 4, "p1", "m4", 14.0),
    (T0 + 1, "p2", "m1", 20.0), (T0 + 6, "p2", "m2", 20.0),
    (T0 + 7, "p2", "m3", 20.0)) // uniform: deviance 0, 0 > 1*0 is false

  private def publishReadings(topic: String,
                              rows: Seq[(Long, String, String, Double)]): Unit =
    rows.foreach { case (sec, p, m, w) =>
      KafkaBus.publish(topic, p.getBytes("UTF-8"),
        rawJson(p, m, w).getBytes("UTF-8"), sec * 1000000L)
    }

  /** Golden bytes: the batch pipeline over the identical decoded rows,
    * through the same encodeAnomalies — what the sink topic must hold.
    */
  private def goldenWire(rows: Seq[(Long, String, String, Double)]): Set[(String, String)] = {
    val batch = rows
      .map { case (sec, p, m, w) =>
        (new java.sql.Timestamp(sec * 1000L), p, m, w) }
      .toDF("ts", "panel", "module", "power")
    SolarStreaming.encodeAnomalies(
      SolarStreaming.anomalyPipelineStream(batch))
      .as[(String, String)].collect().toSet
  }

  test("raw wire JSON -> fromKafka(bus) -> full topology -> toKafka(bus): " +
       "sink topic bytes equal the batch golden encoding") {
    val sfx = java.util.UUID.randomUUID().toString.take(8)
    val inTopic = s"solar-module-raw-$sfx"
    val outTopic = s"solar-module-anomalies-$sfx"
    publishReadings(inTopic, readings)

    val golden = goldenWire(readings)
    assert(golden.nonEmpty && golden.forall(_._1 == "p1"),
      s"fixture must anomalize exactly panel p1: $golden")

    val ckpt = Bridge.tempDir("bus_e2e_")
    val q = SolarStreaming.toKafka(
      SolarStreaming.encodeAnomalies(
        SolarStreaming.anomalyPipelineStream(
          SolarStreaming.fromKafka(spark, "in-jvm", inTopic, "kafka-bus"))),
      "in-jvm", outTopic, ckpt, "kafka-bus")
    try {
      q.processAllAvailable()
      // close the [T0, T0+30) windows: an event past end + watermark delay
      publishReadings(inTopic, Seq((T0 + 600, "p9", "m9", 1.0)))
      q.processAllAvailable()
    } finally q.stop()

    val sunk = spark.read.format("kafka-bus")
      .option("subscribe", outTopic).load()
      .select(col("key").cast("string"), col("value").cast("string"))
      .as[(String, String)].collect().toSet
    assert(sunk === golden, s"sink wire mismatch:\n got=$sunk\nwant=$golden")

    // nested joiner shape parity (`SolarModuleAggregatorJoiner.java:21-29`):
    // the sunk JSON re-parses with the panel aggregate embedded
    val parsed = spark.createDataset(sunk.toSeq.map(_._2))
      .select(from_json(col("value"),
        org.apache.spark.sql.types.DataType.fromDDL(
          "moduleName STRING, panelName STRING, count BIGINT, " +
            "sumPower DOUBLE, avgPower DOUBLE, " +
            "solarPanelAggregator STRUCT<panelName: STRING, count: BIGINT, " +
            "sumPower: DOUBLE, avgPower: DOUBLE, squaresSum: DOUBLE, " +
            "variance: DOUBLE, deviance: DOUBLE>")).as("r"))
      .select("r.moduleName", "r.panelName", "r.sumPower",
        "r.solarPanelAggregator.count", "r.solarPanelAggregator.deviance")
      .collect()
    assert(parsed.nonEmpty)
    parsed.foreach { r =>
      assert(r.getString(1) === "p1")
      assert(r.getLong(3) === 4L) // four modules folded into the panel agg
      assert(!r.isNullAt(4))
    }
  }

  test("checkpointed restart resumes from bus offsets and stays " +
       "exactly-once on the sink topic") {
    val sfx = java.util.UUID.randomUUID().toString.take(8)
    val inTopic = s"solar-raw-restart-$sfx"
    val outTopic = s"solar-anom-restart-$sfx"
    val ckpt = Bridge.tempDir("bus_e2e_restart_")

    def run(): Unit = {
      val q = SolarStreaming.toKafka(
        SolarStreaming.encodeAnomalies(
          SolarStreaming.anomalyPipelineStream(
            SolarStreaming.fromKafka(spark, "in-jvm", inTopic, "kafka-bus"))),
        "in-jvm", outTopic, ckpt, "kafka-bus")
      try q.processAllAvailable() finally q.stop()
    }

    // run 1: the anomaly window's data arrives but nothing closes it
    publishReadings(inTopic, readings)
    run()
    assert(spark.read.format("kafka-bus").option("subscribe", outTopic)
      .load().count() === 0L, "window must not emit before it closes")

    // run 2 (fresh query, same checkpoint): only the flush arrives; the
    // restarted pipeline must still hold the window state and emit the
    // anomalies exactly once
    publishReadings(inTopic, Seq((T0 + 600, "p9", "m9", 1.0)))
    run()
    val afterRestart = spark.read.format("kafka-bus")
      .option("subscribe", outTopic).load()
      .select(col("key").cast("string"), col("value").cast("string"))
      .as[(String, String)].collect()
    assert(afterRestart.toSet === goldenWire(readings))
    assert(afterRestart.length === afterRestart.toSet.size,
      s"duplicate sink records after restart: ${afterRestart.toList}")

    // run 3: no new input — a pure resume appends nothing (offset +
    // epoch-commit idempotence)
    run()
    assert(spark.read.format("kafka-bus").option("subscribe", outTopic)
      .load().count() === afterRestart.length.toLong)
  }

  test("PERMISSIVE decode drops a malformed payload on the bus wire " +
       "(FAILFAST parity is pinned in StreamingSpec)") {
    val sfx = java.util.UUID.randomUUID().toString.take(8)
    val topic = s"solar-raw-corrupt-$sfx"
    publishReadings(topic, readings.take(2))
    KafkaBus.publish(topic, "p9".getBytes("UTF-8"),
      """{"power":7,"nam""".getBytes("UTF-8"), (T0 + 9) * 1000000L)

    val ckpt = Bridge.tempDir("bus_decode_")
    val name = s"bus_decode_$sfx"
    val q = SolarStreaming.fromKafka(spark, "in-jvm", topic, "kafka-bus")
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(name).select("panel", "module", "power")
      .as[(String, String, Double)].collect().toSet
    assert(got === Set(("p1", "m1", 60.0), ("p1", "m1", 40.0)))
  }

  test("bus fidelity: murmur2 keyed routing is deterministic and offsets " +
       "are per-partition appends") {
    // Kafka's DefaultPartitioner: same key -> same partition, always
    val t = s"bus-route-${java.util.UUID.randomUUID().toString.take(8)}"
    val (p1a, o0) = KafkaBus.publish(t, "k1".getBytes, "a".getBytes, 1L)
    val (p1b, o1) = KafkaBus.publish(t, "k1".getBytes, "b".getBytes, 2L)
    assert(p1a === p1b, "same key must route to the same partition")
    assert(o0 === 0L && o1 === 1L, "offsets are per-partition appends")
    // public murmur2 test vector sanity: stable across JVMs/runs
    assert(KafkaBus.murmur2("k1".getBytes) ===
      KafkaBus.murmur2("k1".getBytes))
    // the source schema is field-for-field Spark's Kafka source schema
    assert(KafkaBus.SourceSchema.fieldNames.toSeq ===
      Seq("key", "value", "topic", "partition", "offset", "timestamp",
        "timestampType"))
    val df: DataFrame = spark.read.format("kafka-bus")
      .option("subscribe", t).load()
    assert(df.schema === KafkaBus.SourceSchema)
    assert(df.select("partition", "offset").as[(Int, Long)].collect()
      .toSet === Set((p1a, 0L), (p1a, 1L)))
  }
}
