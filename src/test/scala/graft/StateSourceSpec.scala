package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge

import graft.streaming.SolarStreaming

/** Ops-surface depth around checkpoints as QUERYABLE artifacts:
  *
  *  1. Spark 4's state data source (`format("statestore")`) reads a
  *     stopped (or live) query's RocksDB/HDFS state store OFFLINE — the
  *     debugging view a 100 TB deployment reaches for when a watermark
  *     stalls or state grows: inspect exactly which keys are buffered,
  *     without instrumenting the job. Complements `StateReport` (which
  *     reads per-batch METRICS; this reads the state CONTENT).
  *  2. The parquet file sink's `_spark_metadata` transaction log makes
  *     file-sink output exactly-once across restarts, and makes batch
  *     reads of the output directory ignore files the log never
  *     committed (orphans from a crashed writer) — the file-sink analog
  *     of the WARC V2 writer's commit protocol (WarcWriteProtocolSpec).
  */
class StateSourceSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("panel", StringType),
    StructField("module", StringType), StructField("power", DoubleType)))

  test("statestore source reads the aggregation state offline: buffered " +
    "keys are exactly the unexpired windows") {
    val srcDir = Bridge.tempDir("graft_sts_src")
    val ckptDir = Bridge.tempDir("graft_sts_ckpt")
    // two closed-window emissions + one window still open at stop
    Seq(
      (ts("2024-01-01 00:00:05"), "p1", "m1", 10.0),
      (ts("2024-01-01 00:00:07"), "p1", "m2", 5.0),
      (ts("2024-01-01 00:02:00"), "p1", "m1", 1.0)) // advances watermark
      .toDF("ts", "panel", "module", "power")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q = SolarStreaming
      .moduleAggStream(spark.readStream.schema(schema).parquet(srcDir))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckptDir)
      .format("memory").queryName(s"sts_${System.nanoTime()}")
      .start()
    try q.processAllAvailable() finally q.stop()

    // offline read of the stopped query's store: the buffered keys are
    // the windows the watermark has NOT yet closed — w0 (both modules)
    // was finalized and evicted, only the 00:02:00 window remains
    val state = spark.read.format("statestore").load(ckptDir)
    assert(state.columns.toSeq.take(2) === Seq("key", "value"))
    val keys = state
      .select(col("key.window.start").as("ws"), col("key.panel"),
        col("key.module"))
      .collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1),
        r.getString(2))).toSet
    val open = Timestamp.valueOf("2024-01-01 00:02:00").getTime / 1000
    val w0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000
    assert(keys.contains((open, "p1", "m1")),
      s"open window missing from state: $keys")
    assert(!keys.exists(_._1 == w0),
      s"watermark-closed window still buffered: $keys")
    // the buffered aggregation value is the live partial fold — the RAW
    // agg buffer (count(1), sum(power), avg's sum+count), read by
    // position since the buffer reuses field names
    val buf = state
      .filter(col("key.window.start").cast("long") === open)
      .select(col("value")).collect().map(_.getStruct(0))
    assert(buf.length === 1)
    assert(buf.head.getLong(0) === 1L)     // m_cnt buffer
    assert(buf.head.getDouble(1) === 1.0)  // m_sum_power buffer
  }

  test("parquet file sink: exactly-once across restart, orphan files " +
    "invisible to readers via _spark_metadata") {
    val srcDir = Bridge.tempDir("graft_fsk_src")
    val outDir = Bridge.tempDir("graft_fsk_out") + "/t"
    val ckptDir = Bridge.tempDir("graft_fsk_ckpt")

    def writeBatch(rows: Seq[(Timestamp, String, String, Double)]): Unit =
      rows.toDF("ts", "panel", "module", "power")
        .coalesce(1).write.mode("append").parquet(srcDir)

    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckptDir)
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    writeBatch(Seq((ts("2024-01-01 00:00:05"), "p1", "m1", 10.0)))
    runOnce()
    // restart from the same checkpoint: the first batch must NOT replay
    writeBatch(Seq((ts("2024-01-01 00:00:06"), "p1", "m2", 7.0)))
    runOnce()
    val rows = spark.read.parquet(outDir)
      .select("module", "power").as[(String, Double)].collect().toSet
    assert(rows === Set(("m1", 10.0), ("m2", 7.0)),
      s"restart must neither lose nor duplicate: $rows")

    // orphan file (a crashed task's debris, never committed to the sink
    // log): batch reads of the directory consult _spark_metadata and
    // must not see it
    Seq((ts("2024-01-01 00:00:09"), "p9", "m9", 99.0))
      .toDF("ts", "panel", "module", "power")
      .coalesce(1).write.mode("append")
      .parquet(outDir + "_orphan_stage")
    val orphan = new java.io.File(outDir + "_orphan_stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(orphan.toPath,
      new java.io.File(outDir, "part-orphan.parquet").toPath)
    val after = spark.read.parquet(outDir)
      .select("module").as[String].collect().toSet
    assert(after === Set("m1", "m2"),
      s"orphan file leaked into the committed view: $after")
  }
}
