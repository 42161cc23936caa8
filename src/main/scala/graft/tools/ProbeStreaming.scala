package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.Engine
import graft.streaming.SolarStreaming

/** Streaming throughput probe (VERDICT r8 #3): every streaming operator
  * was spec-verified at toy scale but none had a measured rows/s or
  * state-size figure. Drives `anomalyPipelineStream` with 1M
  * MemoryStream events on local[32]
  * (RocksDB state store — the Engine default) and records:
  *  - end-to-end rows/s over the whole run,
  *  - per-micro-batch state rows (must PLATEAU, not grow, once the
  *    watermark starts finalizing windows — the eviction proof at a
  *    scale the specs don't reach).
  *
  * Event time advances 120 s (4 tumbling windows) per 100k-event batch,
  * with 1,000 live (panel, module) keys, so each batch closes the windows
  * the previous batch opened; the watermark (30 s delay) trails one
  * batch behind.
  *
  * Micro-batch overhead measurements (VERDICT r11 #7; 1M events, state
  * flat at 4,500 rows in every run, recorded 2026-08-14 on a 32-core
  * host, when the pipeline still planned 5 aggregates and 2 stream-stream
  * joins):
  * {{{
  * drive                 shuffle.partitions  rows/s   per-batch ms
  * 10 batches (feed+wait)       32            6,359    ~6,000
  * 10 batches (feed+wait)        8           14,188    ~2,400
  * AvailableNow catch-up        32           20,425    1 micro-batch
  * AvailableNow catch-up         8           29,435    1 micro-batch
  * }}}
  * Reading: the steady-state floor is dominated by per-batch fixed cost —
  * stateful operators x partitions x a RocksDB commit each — not
  * per-row work. Dropping 32 -> 8 partitions cuts the floor 2.2x at this
  * key cardinality (1,000 keys never needed 32 state instances), and
  * backlog recovery under Trigger.AvailableNow, which drains the same
  * 1M events in ONE micro-batch, runs 3.2-4.6x the per-feed drive. The
  * production posture at scale: size `spark.sql.shuffle.partitions` to
  * live KEY cardinality / executor count (not the batch row count), and
  * prefer AvailableNow for catch-up after downtime instead of replaying
  * the backlog through steady-state-sized micro-batches.
  */
object ProbeStreaming {
  def main(args: Array[String]): Unit = {
    // args: [batches] [perBatch] [mode] [shufflePartitions] — default
    // 10 x 100k "anomaly" at 32; a 2 x 500k run measures how much of the
    // steady-state floor is per-micro-batch overhead (stateful ops x
    // shuffle partitions x RocksDB commit) vs per-row cost, and the 4th
    // arg sweeps the partition count directly (each stateful operator
    // commits one RocksDB instance PER partition per batch, so the
    // overhead floor scales with it — VERDICT r11 #7). mode "curate"
    // drives the streaming curation twin (kernel enrichment +
    // watermark-bounded fp64 dedup + filters) with ~50-word docs, 10%
    // exact duplicates. mode "catchup" pre-feeds the whole corpus and
    // processes it under Trigger.AvailableNow — the backlog-recovery
    // shape, where the engine amortizes the per-batch floor over few
    // large batches instead of paying it per feed.
    val batches = if (args.length > 0) args(0).toInt else 10
    val perBatch = if (args.length > 1) args(1).toInt else 100000
    val mode = if (args.length > 2) args(2) else "anomaly"
    val shufflePartitions = if (args.length > 3) args(3) else "32"

    val spark = Engine.builder("probe-streaming").master("local[32]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val baseMs = 1704067200000L // 2024-01-01T00:00:00Z
    val ckpt = java.nio.file.Files
      .createTempDirectory("probe-streaming-ckpt").toString

    def drive[T](query: org.apache.spark.sql.streaming.StreamingQuery,
                 feed: Int => Unit): Unit = {
      val t0 = System.nanoTime()
      var fed = 0L
      for (b <- 0 until batches) {
        feed(b)
        query.processAllAvailable()
        fed += perBatch
        val p = query.lastProgress
        val stateRows = p.stateOperators.map(_.numRowsTotal).sum
        val stateMb = p.stateOperators.map(_.memoryUsedBytes).sum / 1e6
        println(f"PROBE stream_batch b=$b fed=$fed state_rows=$stateRows " +
          f"state_mb=$stateMb%.1f batch_ms=${p.batchDuration}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"PROBE stream_${mode}_pipeline rows=$fed sec=$sec%.1f " +
        f"rows_per_sec=${fed / sec}%.0f")
      query.stop()
    }

    if (mode == "curate") {
      val input = MemoryStream[(Timestamp, Long, String)]
      val stream = graft.streaming.StreamingCuration.curateStream(
        input.toDF().toDF("ts", "doc_id", "text"),
        lang = "en", minQuality = 0.0, watermarkDelay = "30 seconds")
      val query = stream.writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ckpt).start()
      drive(query, b => {
        val batch = (0 until perBatch).map { i =>
          val id = b.toLong * perBatch + i
          // 10% of docs repeat an earlier doc's text verbatim (dedup
          // work); the rest vary by a doc-unique token
          val k = if (i % 10 == 9) id - 9 else id
          val text = s"the quick brown fox w$k jumps over the lazy dog " +
            s"and then it was seen near the old mill where w${k % 1000} " +
            "people had gathered for the market day to trade wool and " +
            "grain with the visiting merchants from the northern villages " +
            "before the early winter storms closed the mountain roads"
          (new Timestamp(baseMs + (b * 120L + (i % 120)) * 1000L), id, text)
        }
        input.addData(batch: _*)
      })
    } else {
      val input = MemoryStream[(Timestamp, String, String, Double)]
      val df = input.toDF().toDF("ts", "panel", "module", "power")
      def anomalyBatch(b: Int): Seq[(Timestamp, String, String, Double)] =
        (0 until perBatch).map { i =>
          // 4 windows per batch; 20 panels x 50 modules = 1,000 live keys
          val sec = b * 120L + (i % 120)
          (new Timestamp(baseMs + sec * 1000L),
            "p" + (i % 20), "m" + ((i / 20) % 50), (i % 100).toDouble)
        }
      if (mode == "catchup") {
        // backlog recovery: all data is already waiting when the query
        // starts; AvailableNow drains it in as few micro-batches as the
        // source offers, then terminates — per-batch overhead (stateful
        // ops x partitions x RocksDB commit) amortizes over the backlog
        for (b <- 0 until batches) input.addData(anomalyBatch(b): _*)
        val t0 = System.nanoTime()
        val query = SolarStreaming.anomalyPipelineStream(df)
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        val sec = (System.nanoTime() - t0) / 1e9
        val fed = batches.toLong * perBatch
        val nBatches = query.recentProgress.count(_.numInputRows > 0)
        println(f"PROBE stream_catchup_pipeline rows=$fed sec=$sec%.1f " +
          f"rows_per_sec=${fed / sec}%.0f micro_batches=$nBatches " +
          f"shuffle_partitions=$shufflePartitions")
      } else {
        val query = SolarStreaming.anomalyPipelineStream(df)
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation", ckpt).start()
        drive(query, b => input.addData(anomalyBatch(b): _*))
      }
    }
    spark.stop()
  }
}
