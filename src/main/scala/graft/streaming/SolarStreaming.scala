package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.Solar

/** Streaming build of the reference topology: Kafka JSON in → 30 s
  * tumbling-window aggregates → grouped z-score anomalies → Kafka JSON out
  * (`SolarConsumer.java:94-196`), on Structured Streaming.
  *
  * Semantics mapping (SURVEY.md §2 rows 1, 8, 18):
  *  - `suppress(untilTimeLimit(30 s, unbounded()))` (`SolarConsumer
  *    .java:114,129,156`) → watermark + append output mode: a window's
  *    aggregate is emitted exactly once, when the event-time watermark
  *    passes its end. This is the *intended* semantics — the reference
  *    depends on panel aggregates being final before the joins (§3.3).
  *  - The reference's 24 h default retention for late data → explicit
  *    watermark delay (late records past it are dropped; divergence
  *    documented in SURVEY §4.3).
  *  - Kafka repartition topics → shuffles inside one job; the forced
  *    stream duplication at `SolarConsumer.java:136-138` is unnecessary —
  *    a DataFrame feeds any number of consumers.
  *
  * Topology shape: the stages are [[Solar]]'s, the one definition of the
  * topology for batch and stream; this object puts a watermark under them.
  * [[anomalyPipelineStream]] runs the whole topology in the streaming
  * engine as two chained windowed aggregates. The per-module aggregate is
  * the only long-lived state, keyed by (window, panel, module). The
  * window-on-window panel aggregate after it sees a window's module rows
  * in the micro-batch that finalizes them (append mode emits them all at
  * once, as the watermark passes the window end) and emits in that batch,
  * so its state is empty between batches — the same barrier the reference
  * encodes with suppression. Variance, the joins back onto module rows and
  * the z-filter are stateless columns after it. [[streamStreamJoin]] and
  * [[panelAggStream]] are the join-for-join witnesses of the reference
  * topology.
  */
object SolarStreaming {

  /** Kafka JSON value schema (`SolarModuleData.java:21-26`, FIXTURES.md §1). */
  val RawSchema: StructType = StructType(Seq(
    StructField("power", DoubleType),
    StructField("name", StringType),
    StructField("panel", StringType)))

  /** Kafka source (SURVEY §2 row 1): subscribe and decode. The event time
    * is the Kafka record timestamp, as in the reference (default timestamp
    * extractor, `SolarConsumer.java:110`).
    *
    * `format` defaults to the real connector; the in-JVM twin
    * (`"kafka-bus"`, [[graft.sources.v2.BusDataSource]]) exposes the
    * identical wire schema and options, so the end-to-end suite drives
    * THIS function — not a test-only fork of it (`BusEndToEndSpec`).
    */
  def fromKafka(spark: SparkSession, bootstrapServers: String,
                topic: String = "solar-module-raw",
                format: String = "kafka"): DataFrame =
    decode(spark.readStream
      .format(format)
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .load())

  /** JSON decode + re-key projection (rows 2-3): bytes → typed columns.
    *
    * `mode` picks the malformed-record policy (SURVEY §1.3):
    *  - `PERMISSIVE` (default): corrupt records become nulls and are
    *    filtered out — strictly more robust than the reference.
    *  - `FAILFAST`: a malformed payload throws and kills the query —
    *    exact parity with the reference's serde, which throws
    *    `SerializationException` and kills the stream thread
    *    (`JsonPojoDeserializer.java:46-49`).
    * For dead-letter routing instead of dropping, use [[decodeRouted]].
    */
  def decode(kafka: DataFrame, mode: String = "PERMISSIVE"): DataFrame =
    kafka
      .select(from_json(col("value").cast("string"), RawSchema,
          Map("mode" -> mode)).as("r"),
        col("timestamp").as("ts"))
      .select(col("ts"), col("r.panel").as("panel"),
        col("r.name").as("module"), col("r.power").as("power"))
      .filter(col("panel").isNotNull && col("module").isNotNull &&
        col("power").isNotNull)

  /** Decode with corrupt-record routing (the dead-letter upgrade neither
    * PERMISSIVE-drop nor FAILFAST offers): adds an `is_corrupt` flag plus
    * the raw payload, so callers can split the stream — good records to
    * the pipeline, corrupt ones to a quarantine sink — without a second
    * parse. A record is corrupt when JSON parsing failed or any required
    * field is missing/null (the reference's POJO would have thrown).
    */
  def decodeRouted(kafka: DataFrame): DataFrame =
    kafka
      .select(col("value").cast("string").as("raw"),
        col("timestamp").as("ts"))
      .select(col("ts"), col("raw"),
        from_json(col("raw"), RawSchema).as("r"))
      .select(col("ts"), col("raw"), col("r.panel").as("panel"),
        col("r.name").as("module"), col("r.power").as("power"))
      .withColumn("is_corrupt",
        col("panel").isNull || col("module").isNull || col("power").isNull)

  /** The watermarked per-module tumbling-window aggregate (rows 5-8),
    * [[Solar.moduleWindowAgg]] after the watermark. [[moduleAggStream]],
    * [[panelAggStream]], both sides of [[streamStreamJoin]] and
    * [[anomalyPipelineStream]] all start from it.
    */
  private def watermarkedModules(normalized: DataFrame, windowDuration: String,
                                 watermarkDelay: String): DataFrame =
    Solar.moduleWindowAgg(normalized.withWatermark("ts", watermarkDelay), windowDuration)

  /** Stateful stage: watermarked per-module tumbling-window aggregate
    * (rows 5-8). In append mode this emits each (window, panel, module)
    * exactly once, after the watermark passes the window end.
    */
  def moduleAggStream(normalized: DataFrame,
                      windowDuration: String = Solar.WindowDuration,
                      watermarkDelay: String = "30 seconds"): DataFrame =
    Solar.unwrapModule(watermarkedModules(normalized, windowDuration, watermarkDelay))

  /** Streaming twin of [[graft.operators.Windows.ohlcDownsample]]: the
    * candle compaction as a continuous query — same min_by/max_by
    * aggregate state, watermark + append emits each candle once its
    * bucket is finalized.
    */
  def ohlcStream(events: DataFrame, bucket: String = "1 hour",
                 watermarkDelay: String = "30 seconds"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), window(col("ts"), bucket).as("w"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("n_events"),
        graft.functions.AggFunctions.mean4(col("value")).as("mean_value"))
      .select(col("user_id"), col("w.start").cast("long").as("w_start"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_events"), col("mean_value"))

  /** Streaming twin of [[graft.operators.Windows.sessionAgg]]: per-user
    * session windows (gap-merged in the aggregation state store), append
    * mode — a session emits exactly once, after the watermark passes
    * `last event + gap` so no future event can extend it. Identical
    * output columns to the batch form; the batch/stream equivalence is
    * pinned in StreamingSpec.
    */
  def sessionAggStream(events: DataFrame, gap: String = "1 hour",
                       watermarkDelay: String = "30 seconds"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))
      .select(unix_micros(col("w.start")).as("s_start"),
        unix_micros(col("w.end")).as("s_end"),
        col("user_id"), col("cnt"), col("sum_value"))

  /** Fully-streaming two-level aggregation (rows 5-11 without leaving the
    * streaming engine): module windows chained into panel windows via
    * window-on-window grouping — Spark's multiple-stateful-operator support
    * propagates the watermark through both state stores, so the panel
    * aggregate still emits exactly once per finalized window. The reference
    * needed a repartition topic + second state store + suppression for
    * this hop (`SolarConsumer.java:122-130`); here it is a second shuffle
    * and a chained window: [[Solar.panelAgg]], of which only the panel
    * columns are kept (Catalyst prunes the gathered module list).
    */
  def panelAggStream(normalized: DataFrame,
                     windowDuration: String = Solar.WindowDuration,
                     watermarkDelay: String = "30 seconds"): DataFrame =
    Solar.panelAgg(watermarkedModules(normalized, windowDuration, watermarkDelay),
        windowDuration)
      .select(Solar.windowStart, col("panel"),
        col("p_cnt"), col("p_sum_power"), col("p_avg_power"))

  /** TRUE watermarked stream-stream join — the literal twin of the
    * reference's windowed join #1 (`SolarConsumer.java:142-147`), running
    * inside the streaming engine (state-store backed), not in foreachBatch:
    * both sides are watermarked streaming aggregations over the same
    * normalized input — the module aggregate, and [[Solar.panelAgg]]'s
    * panel columns over a second one — joined on the (window, panel)
    * equi-key. Kafka Streams' `JoinWindows.of(30 s)` tolerance is vacuous
    * here because the window key already pins the exact window (SURVEY §2
    * row 12).
    *
    * Uses Spark's multiple-stateful-operator support (3.4+): two windowed
    * aggregations feed a stream-stream join in append mode; joining on the
    * `window` struct column lets the engine propagate the watermark through
    * both state stores and evict join state as windows finalize — so state
    * is bounded by the watermark delay, not the stream length.
    * [[anomalyPipelineStream]] is the deployed topology (no join state at
    * all); this operator is the parity witness for users porting the
    * reference topology join-for-join.
    */
  def streamStreamJoin(normalized: DataFrame,
                       windowDuration: String = Solar.WindowDuration,
                       watermarkDelay: String = "30 seconds"): DataFrame = {
    val m = watermarkedModules(normalized, windowDuration, watermarkDelay)
    val p = Solar.panelAgg(watermarkedModules(normalized, windowDuration, watermarkDelay),
        windowDuration)
      .select(col("w"), col("panel"),
        col("p_cnt"), col("p_sum_power"), col("p_avg_power"))
    m.join(p, Seq("w", "panel"))
      .select(Solar.windowStart, col("panel"), col("module"),
        col("m_cnt"), col("m_sum_power"), col("m_avg_power"),
        col("p_cnt"), col("p_sum_power"), col("p_avg_power"))
  }

  /** Stream-static dimension join: enrich the live reading stream with a
    * static (batch) dimension table on the panel key — the join class
    * between stateless projection and stateful stream-stream join. No
    * state store at all: the static side is re-resolved per micro-batch
    * (so a dim table refreshed in place is picked up on the next batch)
    * and broadcasts when small, which is the 100 TB deployment shape —
    * dimension broadcast, stream never shuffles.
    */
  def enrichStream(normalized: DataFrame, panelDim: DataFrame): DataFrame =
    normalized.join(
      org.apache.spark.sql.functions.broadcast(panelDim), Seq("panel"))

  /** Time-interval stream-stream join — the literal semantics of Kafka
    * Streams' `JoinWindows.of(30 s)` (`SolarConsumer.java:57,142-147`):
    * pair records of two streams whose event times are within a tolerance,
    * not records sharing a window key. In the reference topology the
    * window key pins the join exactly, making the ±30 s tolerance vacuous
    * ([[streamStreamJoin]]); this operator is the general form for when it
    * is NOT vacuous. Spark derives a state watermark from the time-range
    * condition, so each side's join state is evicted once the other
    * side's watermark passes `ts ± tol` — state is bounded by
    * (watermark delay + tolerance), never by stream length.
    *
    * Demo instance: same-panel co-occurrence — each reading paired with
    * every other module's reading on the same panel within the tolerance
    * (module ordering excludes self/duplicate pairs).
    */
  def coReadingsStream(normalized: DataFrame, tolSec: Int = 30,
                       watermarkDelay: String = "30 seconds"): DataFrame =
    coReadings(normalized, tolSec, watermarkDelay, "inner")

  /** The co-reading join of [[coReadingsStream]] and its outer forms:
    * watermarked l/r projections of the same stream, paired on the panel,
    * `l_module < r_module` and the ±`tolSec` event-time range. A full
    * outer row may have only the right side, so its panel is coalesced.
    */
  private def coReadings(normalized: DataFrame, tolSec: Int,
                         watermarkDelay: String, joinType: String): DataFrame = {
    val l = normalized
      .select(col("ts").as("l_ts"), col("panel"),
        col("module").as("l_module"), col("power").as("l_power"))
      .withWatermark("l_ts", watermarkDelay)
    val r = normalized
      .select(col("ts").as("r_ts"), col("panel").as("r_panel"),
        col("module").as("r_module"), col("power").as("r_power"))
      .withWatermark("r_ts", watermarkDelay)
    val panel =
      if (joinType == "fullOuter") coalesce(col("panel"), col("r_panel")).as("panel")
      else col("panel")
    l.join(r, expr(
      s"""panel = r_panel AND l_module < r_module AND
         |r_ts BETWEEN l_ts - INTERVAL $tolSec SECONDS
         |         AND l_ts + INTERVAL $tolSec SECONDS""".stripMargin),
      joinType)
      .select(unix_micros(col("l_ts")).as("l_t"), panel,
        col("l_module"), col("r_module"),
        unix_micros(col("r_ts")).as("r_t"),
        col("l_power"), col("r_power"))
  }

  /** LEFT OUTER time-interval stream-stream join — Kafka Streams'
    * `KStream.leftJoin(other, JoinWindows)` analog and the one join
    * flavor the inner forms above cannot express: a reading with NO
    * co-reading inside its tolerance window still emits, null-padded,
    * once the watermark passes the end of that window. The state-
    * eviction point doubles as the "no match can ever arrive" proof, so
    * append mode keeps the emit-once-final guarantee: matched rows emit
    * as both sides finalize, unmatched rows emit exactly once at
    * expiry — Kafka Streams' grace-period left-join emission without
    * its spurious-early-null history (KIP-633 semantics, derived from
    * the watermark instead of a grace config).
    *
    * Same demo instance as [[coReadingsStream]], so the module with the
    * lexicographically greatest name on each panel — which can never
    * find an `l_module < r_module` partner — is the structurally
    * unmatched row the spec pins.
    */
  def coReadingsLeftOuterStream(normalized: DataFrame, tolSec: Int = 30,
                                watermarkDelay: String = "30 seconds"): DataFrame =
    coReadings(normalized, tolSec, watermarkDelay, "leftOuter")

  /** FULL OUTER time-interval stream-stream join — completes the flavor
    * matrix ([[coReadingsStream]] inner, [[coReadingsLeftOuterStream]]
    * left): unmatched rows of EITHER side emit null-padded exactly once
    * when that side's state expires (the same watermark-proved no-match
    * argument as the left form, applied symmetrically — Spark evicts a
    * buffered row only once the opposite watermark passes its tolerance
    * window, which is precisely when a match is impossible). The demo
    * instance makes both pad directions structurally reachable: the
    * lexicographically greatest module per panel never finds an
    * `l_module < r_module` partner as the LEFT row, and the smallest
    * never as the RIGHT row.
    */
  def coReadingsFullOuterStream(normalized: DataFrame, tolSec: Int = 30,
                                watermarkDelay: String = "30 seconds"): DataFrame =
    coReadings(normalized, tolSec, watermarkDelay, "fullOuter")

  /** The ENTIRE reference topology inside the streaming engine — no
    * foreachBatch anywhere — as [[Solar.anomaliesOf]] over the watermarked
    * module aggregate, which plans two chained windowed aggregates:
    *
    *  1. the per-module aggregate (rows 5-8), computed once;
    *  2. [[Solar.panelAgg]], a window-on-window aggregate per (window,
    *     panel) that computes the panel stats and gathers the panel's
    *     module rows sorted by module.
    *
    * The reference's two windowed joins and variance re-aggregation
    * (`SolarConsumer.java:142-173`) then become stateless columns: the
    * squares sum folds over the gathered list (the sort fixes the
    * summation order, so the result does not depend on shuffle order),
    * and `inline` re-attaches the panel stats to every module row before
    * the z-filter. The watermark propagates through both state stores
    * (Spark's multiple-stateful-operator support) and every window emits
    * exactly once. Over a static DataFrame it plans the same stages as
    * [[Solar.pipeline]] and returns the same rows.
    *
    * Aggregate 2 receives a window's module rows in the micro-batch that
    * finalizes them and emits them in that same batch, so its state is
    * empty between batches: the only long-lived state is the module
    * aggregate, which is what the reference keeps too. [[streamStreamJoin]]
    * and [[panelAggStream]] remain the join-for-join witnesses of the
    * reference topology.
    *
    * A checkpoint written by the earlier 7-operator plan of this function
    * (two stream-stream joins and five aggregates) cannot be resumed by
    * this plan: the stateful operators and their state schemas differ.
    */
  def anomalyPipelineStream(normalized: DataFrame,
                            windowDuration: String = Solar.WindowDuration,
                            watermarkDelay: String = "30 seconds",
                            z: Double = Solar.Z): DataFrame =
    Solar.anomaliesOf(watermarkedModules(normalized, windowDuration, watermarkDelay),
      windowDuration, z)

  /** LITERAL `suppress(untilTimeLimit(30 s, unbounded()))` twin
    * (`SolarConsumer.java:114`) — the update-mode rate-limit semantics,
    * as opposed to the append-mode emit-once-final the deployed topology
    * uses (SURVEY §2 row 8 argues append is the topology's intended
    * barrier; this twin closes the remaining semantic delta for users
    * who want the reference's literal behavior).
    *
    * Kafka Streams' untilTimeLimit buffers updates per key and emits the
    * LATEST buffered value at most once per 30 s. Here: update output
    * mode emits, per trigger, one row per key whose aggregate changed in
    * that trigger — the latest value, at most once per key per trigger
    * interval. `Trigger.ProcessingTime("30 seconds")` makes the interval
    * the reference's 30 s wall-clock limit; tests drive discrete
    * triggers with the default micro-batch trigger instead (the per-
    * trigger contract is identical, pinned in SuppressAndLatenessSpec).
    */
  def startModuleAggUpdateQuery(normalized: DataFrame, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("30 seconds"))
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    moduleAggStream(normalized)
      .writeStream
      .outputMode("update")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(sink)
      .start()

  /** JSON encode (row 17): nested `SolarModuleAggregatorJoiner` wire shape
    * (`SolarModuleAggregatorJoiner.java:21-29`, FIXTURES.md §1) — module
    * fields flat, panel aggregate nested; key = panel name
    * (`SolarConsumer.java:187-188`).
    */
  def encodeAnomalies(anomalies: DataFrame): DataFrame =
    anomalies.select(
      col("panel").as("key"),
      to_json(struct(
        col("module").as("moduleName"),
        col("panel").as("panelName"),
        col("m_cnt").as("count"),
        col("m_sum_power").as("sumPower"),
        col("m_avg_power").as("avgPower"),
        struct(
          col("panel").as("panelName"),
          col("p_cnt").as("count"),
          col("p_sum_power").as("sumPower"),
          col("p_avg_power").as("avgPower"),
          col("squares_sum").as("squaresSum"),
          col("variance"),
          col("deviance")).as("solarPanelAggregator"))).as("value"))

  /** Observability taps (SURVEY §2 row 4): the reference peppers the
    * topology with five log-everything foreach stages
    * (`SolarConsumer.java:102-104,117-119,131-133,159-161,175-182`) — a
    * per-record side effect on the hot path. The Spark-native analog is
    * `Dataset.observe`: named aggregate metrics computed INLINE with the
    * plan (accumulator-backed — no second scan, no action, no per-record
    * logging cost), surfaced per micro-batch in
    * `StreamingQueryProgress.observedMetrics(name)` and to
    * `QueryExecutionListener` in batch. Attach one per stage to mirror the
    * reference's five taps without its overhead.
    */
  def observed(df: DataFrame, name: String): DataFrame =
    df.observe(name,
      count(lit(1)).as("n_rows"),
      sum(col("power")).as("sum_power"))

  /** Kafka sink (row 18): exactly-once via checkpointing — a strict
    * upgrade over the reference's at-least-once (`SolarConsumer
    * .java:203-212` sets no EOS config).
    */
  def toKafka(encoded: DataFrame, bootstrapServers: String,
              topic: String = "solar-module-anomalies",
              checkpointDir: String,
              format: String = "kafka"): StreamingQuery =
    encoded.writeStream
      .format(format)
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)
      .start()
}
