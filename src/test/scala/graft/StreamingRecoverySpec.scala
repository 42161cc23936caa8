package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge

import graft.streaming.SolarStreaming

/** Checkpoint-recovery semantics: the reference wipes local state at every
  * start (`SolarConsumer.java:192` cleanUp()) and is at-least-once; this
  * engine checkpoints, so a stopped and restarted query must (a) resume
  * from the recorded offsets without reprocessing and (b) emit every
  * finalized window EXACTLY once across the restart boundary.
  */
class StreamingRecoverySpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("panel", StringType),
    StructField("module", StringType), StructField("power", DoubleType)))

  test("append-mode windows emit exactly once across a checkpointed restart") {
    val srcDir = Bridge.tempDir("graft_src")
    val ckptDir = Bridge.tempDir("graft_ckpt")
    val emitted = mutable.Buffer[(Long, String, String, Double)]()

    def writeBatch(rows: Seq[(Timestamp, String, String, Double)]): Unit =
      rows.toDF("ts", "panel", "module", "power")
        .coalesce(1).write.mode("append").parquet(srcDir)

    def runUntilIdle(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      val q = SolarStreaming.moduleAggStream(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (b: DataFrame, _: Long) =>
          emitted ++= b.select("w_start", "panel", "module", "m_sum_power")
            .collect().map(r =>
              (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3)))
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // run 1: window w0 gets data, then an event that closes it
    writeBatch(Seq(
      (ts("2024-01-01 00:00:05"), "p1", "m1", 10.0),
      (ts("2024-01-01 00:00:07"), "p1", "m1", 5.0),
      (ts("2024-01-01 00:02:00"), "p1", "m2", 1.0))) // watermark past w0
    runUntilIdle()
    val afterRun1 = emitted.toList
    assert(afterRun1.count(r => r._1 == 1704067200L && r._3 == "m1") === 1)
    assert(afterRun1.exists(_ === ((1704067200L, "p1", "m1", 15.0))))

    // run 2 (fresh query, same checkpoint): only NEW data is processed —
    // w0 must NOT re-emit, and the window closed by run 2's data emits once
    writeBatch(Seq(
      (ts("2024-01-01 00:05:00"), "p1", "m3", 2.0))) // closes m2's window
    runUntilIdle()
    val afterRun2 = emitted.toList
    assert(afterRun2.count(r => r._1 == 1704067200L && r._3 == "m1") === 1,
      s"w0 re-emitted after restart: $afterRun2")
    assert(afterRun2.count(r => r._3 == "m2") === 1) // closed exactly once
  }

  test("transformWithState recovers its ListState and timers across a restart") {
    val srcDir = Bridge.tempDir("graft_tws_src")
    val ckptDir = Bridge.tempDir("graft_tws_ckpt")
    val emitted = mutable.Buffer[(Long, String, String, Double)]()

    def writeBatch(rows: Seq[(Timestamp, String, String, Double)]): Unit =
      rows.toDF("ts", "panel", "module", "power")
        .coalesce(1).write.mode("append").parquet(srcDir)

    def runUntilIdle(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir)
        .as[graft.streaming.SolarTws.Reading]
      val q = graft.streaming.SolarTws.moduleAggTws(spark, stream).toDF()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (b: DataFrame, _: Long) =>
          emitted ++= b.select("w_start", "panel", "module", "m_sum_power")
            .collect().map(r =>
              (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3)))
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // run 1: m1's window stays OPEN (nothing moves the watermark past it)
    // — its buffer and timer live only in the RocksDB state store
    writeBatch(Seq(
      (ts("2024-01-01 00:00:05"), "p1", "m1", 10.0),
      (ts("2024-01-01 00:00:07"), "p1", "m1", 5.0)))
    runUntilIdle()
    assert(emitted.isEmpty)   // window open at shutdown

    // run 2 (fresh query, same checkpoint): the restored state must fold
    // with PRE-restart rows and flush once the watermark passes — if the
    // ListState or timer were lost, m1 would emit nothing or lose 15.0
    writeBatch(Seq(
      (ts("2024-01-01 00:02:00"), "p2", "m2", 1.0))) // moves the watermark
    runUntilIdle()
    val out = emitted.toList
    assert(out.count(_._3 == "m1") === 1, s"m1 windows: $out")
    assert(out.exists(_ === ((1704067200L, "p1", "m1", 15.0))),
      s"restored buffer lost data: $out")
  }

  test("curateStream dedup state survives a restart (no dup re-admitted)") {
    val srcDir = Bridge.tempDir("graft_cur_src")
    val ckptDir = Bridge.tempDir("graft_cur_ckpt")
    val docSchema = StructType(Seq(
      StructField("ts", TimestampType), StructField("doc_id", LongType),
      StructField("text", StringType)))
    val emitted = mutable.Buffer[Long]()

    def writeBatch(rows: Seq[(Timestamp, Long, String)]): Unit =
      rows.toDF("ts", "doc_id", "text")
        .coalesce(1).write.mode("append").parquet(srcDir)

    def runUntilIdle(): Unit = {
      val stream = spark.readStream.schema(docSchema).parquet(srcDir)
      val q = graft.streaming.StreamingCuration
        .curateStream(stream, lang = "en", minQuality = 0.0,
          watermarkDelay = "10 minutes")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (b: DataFrame, _: Long) =>
          emitted ++= b.select("doc_id").collect().map(_.getLong(0)); ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    val text = "the cat and the dog walk to the park it is a fine day"
    // run 1: the original document is admitted and emitted
    writeBatch(Seq((ts("2024-01-01 00:00:05"), 1L, text)))
    runUntilIdle()
    assert(emitted.toList === List(1L))

    // run 2 (fresh query, same checkpoint): a content-duplicate arriving
    // INSIDE the watermark must hit the RESTORED fingerprint state and be
    // dropped — if the dedup state were lost, doc 2 would re-emit; a
    // genuinely new doc still flows
    writeBatch(Seq(
      (ts("2024-01-01 00:01:00"), 2L, text),
      (ts("2024-01-01 00:01:30"), 3L,
        "for it is a that day the and to walk in the big sun now")))
    runUntilIdle()
    assert(emitted.toList.sorted === List(1L, 3L),
      s"restored dedup state failed: $emitted")
  }

  test("viralShingleAlarm emits each window's alarms once across a restart") {
    val srcDir = Bridge.tempDir("graft_viral_src")
    val ckptDir = Bridge.tempDir("graft_viral_ckpt")
    val docSchema = StructType(Seq(
      StructField("ts", TimestampType), StructField("doc_id", LongType),
      StructField("text", StringType)))
    val emitted = mutable.Buffer[(Timestamp, Long, Long)]()

    def writeBatch(rows: Seq[(Timestamp, Long, String)]): Unit =
      rows.toDF("ts", "doc_id", "text")
        .coalesce(1).write.mode("append").parquet(srcDir)

    def runUntilIdle(): Unit = {
      val stream = spark.readStream.schema(docSchema).parquet(srcDir)
      val q = graft.streaming.StreamingCuration
        .viralShingleAlarm(stream, minDf = 2, watermarkDelay = "10 seconds")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (b: DataFrame, _: Long) =>
          emitted ++= b.collect().map(r =>
            (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    val viral = "alpha beta gamma delta"        // 2 shingles, both df=2
    // run 1: window w0 (00:00) holds a viral template (df=2) and a
    // singleton; the 00:02 window ALSO holds a viral pair but stays OPEN
    // at shutdown (watermark reaches 00:02:05 - 10s); the 00:02:05 doc
    // advances the watermark past w0's close so its alarms finalize
    writeBatch(Seq(
      (ts("2024-01-01 00:00:05"), 1L, viral),
      (ts("2024-01-01 00:00:07"), 2L, viral),
      (ts("2024-01-01 00:00:09"), 3L, "totally unrelated singleton content here"),
      (ts("2024-01-01 00:02:01"), 4L, viral),
      (ts("2024-01-01 00:02:05"), 5L, viral)))
    runUntilIdle()
    val run1 = emitted.toList
    val w0 = ts("2024-01-01 00:00:00")
    assert(run1.nonEmpty && run1.forall(_._1 == w0),
      s"only w0 is finalized in run 1: $run1")
    assert(run1.size === 2 && run1.forall(_._3 == 2L),
      s"w0 must alarm exactly its 2 df=2 shingles: $run1")

    // run 2 (fresh query, same checkpoint): the new doc closes the 00:02
    // window — its restored per-(window, fp) counts must alarm exactly
    // once, and w0 must NOT re-emit
    writeBatch(Seq( // 00:03:20 - 10s watermark delay > the 00:03:00 close
      (ts("2024-01-01 00:03:20"), 6L, "another unrelated closing document")))
    runUntilIdle()
    val run2 = emitted.toList
    val w2 = ts("2024-01-01 00:02:00")
    assert(run2.count(_._1 == w0) === 2, s"w0 re-emitted after restart: $run2")
    assert(run2.filter(_._1 == w2).map(_._3) === List(2L, 2L),
      s"restored 00:02 window must alarm its 2 shingles once each: $run2")
  }

  test("dedupWithinWatermark fingerprint state survives a restart") {
    val srcDir = Bridge.tempDir("graft_ddw_src")
    val ckptDir = Bridge.tempDir("graft_ddw_ckpt")
    val docSchema = StructType(Seq(
      StructField("ts", TimestampType), StructField("doc_id", LongType),
      StructField("text", StringType)))
    val emitted = mutable.Buffer[Long]()

    def writeBatch(rows: Seq[(Timestamp, Long, String)]): Unit =
      rows.toDF("ts", "doc_id", "text")
        .coalesce(1).write.mode("append").parquet(srcDir)

    def runUntilIdle(): Unit = {
      val stream = spark.readStream.schema(docSchema).parquet(srcDir)
      val q = graft.streaming.StreamingDedup
        .dedupWithinWatermark(stream, watermarkDelay = "10 minutes")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (b: DataFrame, _: Long) =>
          emitted ++= b.select("doc_id").collect().map(_.getLong(0)); ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    val text = "identical payload for the fingerprint"
    // run 1: original emits; a same-batch duplicate is dropped
    writeBatch(Seq(
      (ts("2024-01-01 00:00:05"), 1L, text),
      (ts("2024-01-01 00:00:20"), 2L, text)))
    runUntilIdle()
    assert(emitted.toList === List(1L))

    // run 2 (fresh query, same checkpoint): a duplicate arriving inside
    // the watermark must hit the RESTORED fp state and drop; new content
    // still flows — if the dedup store were lost, doc 3 would re-emit
    writeBatch(Seq(
      (ts("2024-01-01 00:02:00"), 3L, text),
      (ts("2024-01-01 00:02:30"), 4L, "a different payload entirely")))
    runUntilIdle()
    assert(emitted.toList.sorted === List(1L, 4L),
      s"restored dedup state failed: ${emitted.toList}")
  }

  test("StreamingSummary.maintain resumes from its OWN checkpoint: batch " +
       "ids continue, versions advance, artifact equals full recompute") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingSummary
    val root = Bridge.tempDir("graft_sum_resume_") + "/store"
    val ckpt = Bridge.tempDir("graft_sum_resume_ckpt_")
    val srcDir = Bridge.tempDir("graft_sum_resume_src")
    val rowSchema = StructType(Seq(
      StructField("g", StringType), StructField("x", LongType)))

    def summarize(df: DataFrame) =
      df.groupBy(col("g")).agg(count(lit(1)).as("cnt"),
        sum(col("x")).as("sum_x"))

    def writeBatch(rows: Seq[(String, Long)]): Unit =
      rows.toDF("g", "x").coalesce(1).write.mode("append").parquet(srcDir)

    def runUntilIdle(): Unit = {
      val stream = spark.readStream.schema(rowSchema).parquet(srcDir)
      val q = StreamingSummary.maintain(stream, root,
          Seq("g"), "cnt", Map("x" -> "sum_x"))
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }

    val base = Seq(("a", 1L), ("b", 10L))
    StreamingSummary.init(spark, root, summarize(base.toDF("g", "x")))

    // run 1: one delta folds in
    writeBatch(Seq(("a", 4L), ("c", 7L)))
    runUntilIdle()
    val (v1, id1) = StreamingSummary.head(spark, root)
    assert(v1 === 2L && id1 === 0L)

    // run 2 (RESUMED query, same checkpoint): the restart must continue
    // the batch-id lineage (1, not a replayed 0), advance the version,
    // and keep the artifact exact — the kill-and-resume path a crashed
    // maintenance job takes in production
    writeBatch(Seq(("b", 2L), ("c", 3L)))
    runUntilIdle()
    val (v2, id2) = StreamingSummary.head(spark, root)
    assert(v2 === 3L && id2 === 1L,
      s"resume must continue lineage, got (v=$v2, batch=$id2)")
    val all = base ++ Seq(("a", 4L), ("c", 7L), ("b", 2L), ("c", 3L))
    assert(StreamingSummary.current(spark, root)
      .collect().map(_.toSeq).toSet ===
      summarize(all.toDF("g", "x")).collect().map(_.toSeq).toSet)

    // run 3: nothing new — a pure resume must not write a version
    runUntilIdle()
    assert(StreamingSummary.head(spark, root) === ((v2, id2)))
  }

  test("ewmaAnomalyStream carries its keyed recurrence state across a restart") {
    // the EWMA twin's state is the (e, d, n) recurrence per key: a restart
    // that lost it would re-enter warmup (n resets), so the post-restart
    // anomaly below would NOT flag and the means would re-seed — equality
    // with the batch fold over the full feed is only reachable if the
    // checkpoint restored the exact state
    val srcDir = Bridge.tempDir("graft_ewma_src")
    val ckptDir = Bridge.tempDir("graft_ewma_ckpt")
    val emitted = mutable.Buffer[(Long, Long, Long, Long, Boolean)]()
    val ewmaSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_id", LongType), StructField("value", DoubleType)))

    def writeBatch(rows: Seq[(Long, Timestamp, Long, Double)]): Unit =
      rows.toDF("user_id", "ts", "event_id", "value")
        .coalesce(1).write.mode("append").parquet(srcDir)

    def runUntilIdle(): Unit = {
      val stream = spark.readStream.schema(ewmaSchema).parquet(srcDir)
      val q = graft.streaming.StreamingTimeSeries.ewmaAnomalyStream(stream)
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (b: DataFrame, _: Long) =>
          emitted ++= b.collect().map(r => (r.getLong(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getBoolean(4)))
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // run 1: user 1 settles at a flat 10.00 (d collapses toward 0),
    // user 2 interleaved so keyed state isolation is also exercised
    val run1 = Seq(
      (1L, ts("2024-01-01 00:00:01"), 1L, 10.0),
      (2L, ts("2024-01-01 00:00:01"), 2L, 70.0),
      (1L, ts("2024-01-01 00:00:02"), 3L, 10.0),
      (1L, ts("2024-01-01 00:00:03"), 4L, 10.0),
      (2L, ts("2024-01-01 00:00:04"), 5L, 70.0),
      (1L, ts("2024-01-01 00:00:05"), 6L, 10.0))
    writeBatch(run1)
    runUntilIdle()
    assert(emitted.size === run1.size)

    // run 2 (fresh query, same checkpoint): user 1's n crosses warmup and
    // event 9 breaks the settled band — flaggable ONLY with restored state
    val run2 = Seq(
      (1L, ts("2024-01-01 00:00:06"), 7L, 10.0),
      (1L, ts("2024-01-01 00:00:07"), 8L, 10.0),
      (1L, ts("2024-01-01 00:00:08"), 9L, 50.0),
      (2L, ts("2024-01-01 00:00:09"), 10L, 70.0))
    writeBatch(run2)
    runUntilIdle()

    assert(emitted.size === run1.size + run2.size, // one row per event, no replays
      s"duplicated/lost rows across restart: $emitted")
    assert(emitted.exists(r => r._1 == 9L && r._5),
      s"post-restart anomaly must flag against pre-restart state: $emitted")
    val batch = graft.operators.TimeSeries.eventEwmaAnomaly(
        (run1 ++ run2).toDF("user_id", "ts", "event_id", "value"))
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    assert(emitted.toSet === batch,
      "streamed fold across the restart must equal the batch fold")
  }

  test("imageDedupStream emits each arrival exactly once across a restart") {
    // stateless stream-static join: the exactly-once story is carried
    // entirely by source offsets + sink idempotence, which is exactly what
    // a restart exercises — run 1's arrivals must not re-emit when run 2
    // resumes from the checkpoint
    import graft.functions.ImageKernels
    val srcDir = Bridge.tempDir("graft_img_src")
    val ckptDir = Bridge.tempDir("graft_img_ckpt")
    val emitted = mutable.Buffer[(Long, Option[Long], Int)]()
    val known = Seq(0L, 2L).map(id => (id,
      ImageKernels.dhash64(ImageKernels.decodePng(
        ImageKernels.synthPng(id))).longValue))
      .toDF("known_id", "hash")
    val imgSchema = StructType(Seq(
      StructField("ts", TimestampType), StructField("media_id", LongType),
      StructField("payload", BinaryType)))

    def writeBatch(rows: Seq[(Timestamp, Long, Array[Byte])]): Unit =
      rows.toDF("ts", "media_id", "payload")
        .coalesce(1).write.mode("append").parquet(srcDir)

    def runUntilIdle(): Unit = {
      val stream = spark.readStream.schema(imgSchema).parquet(srcDir)
      val q = graft.streaming.StreamingMedia.imageDedupStream(stream, known)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (b: DataFrame, _: Long) =>
          emitted ++= b.select("media_id", "dup_of", "is_dup").collect()
            .map(r => (r.getLong(0),
              if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getInt(2)))
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // run 1: a brightness twin of known 0 (dup) and an unknown (not a dup)
    writeBatch(Seq(
      (ts("2024-01-01 00:00:01"), 1L, ImageKernels.synthPng(1L)),
      (ts("2024-01-01 00:00:02"), 5L, ImageKernels.synthPng(5L))))
    runUntilIdle()
    assert(emitted.toSet === Set((1L, Some(0L), 1), (5L, None, 0)))

    // run 2 (fresh query, same checkpoint): only the new arrival emits
    writeBatch(Seq(
      (ts("2024-01-01 00:00:03"), 2L, ImageKernels.synthPng(2L))))
    runUntilIdle()
    assert(emitted.size === 3, s"run-1 arrivals re-emitted: $emitted")
    assert(emitted.toSet === Set((1L, Some(0L), 1), (5L, None, 0),
      (2L, Some(2L), 1)))
  }
}
