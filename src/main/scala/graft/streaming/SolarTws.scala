package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues}

import graft.functions.MicrosMath
import graft.streaming.SolarTws.{ModuleKey, ModuleWindowAgg, Reading,
  WindowBuf, WindowSeconds}

/** The per-module windowed aggregate on `transformWithState` — Spark 4's
  * arbitrary-state API (SPARK-46815), kept semantically identical to the
  * built-in windowed aggregation ([[SolarStreaming.moduleAggStream]]),
  * which remains the right tool for this topology. This processor is the
  * template new stateful operators are written against: typed state
  * handles (here a [[ListState]] of open-window buffers — element-wise
  * appendable in RocksDB, though this processor's flush rewrites the
  * short list with `put`), explicit per-key timers instead of one
  * implicit timeout, and state-variable eviction via TTL when semantics
  * allow it.
  *
  * Windows close when the event-time watermark passes their end, either
  * inline (the key saw new rows this batch) or via the timer registered
  * for the earliest open window end. State is bounded: one buffer per
  * open window per key, evicted on flush.
  *
  * The buffer carries the exact micros sum next to the double sum, so
  * `m_avg_power` is [[graft.functions.AggFunctions.meanQ]]'s exact-integer
  * HALF_UP mean, not a rounding of the double mean (readings 0.01 and
  * 0.09 average to 0.1 here as in the built-in and batch aggregates; the
  * double mean 0.049999… would round to 0.0). This changed the state
  * schema of [[WindowBuf]]: a checkpoint written with the earlier
  * three-field buffer cannot be resumed.
  */
class ModuleAggProcessor
    extends StatefulProcessor[ModuleKey, Reading, ModuleWindowAgg] {

  @transient private var open: ListState[WindowBuf] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    open = getHandle.getListState[WindowBuf]("open",
      Encoders.product[WindowBuf], TTLConfig.NONE)

  // meanQ(power, 1): micros sum sign-extended to int128, p = 10^(6-1)
  private def toAgg(key: ModuleKey)(b: WindowBuf): ModuleWindowAgg =
    ModuleWindowAgg(b.w, key.panel, key.module, b.cnt, b.sum,
      MicrosMath.meanQ128(b.sumMicros >> 63, b.sumMicros, b.cnt, 100000L, 10.0))

  /** Emit the windows the watermark finalized, persist the rest, and arm
    * the timer for the earliest still-open window end — exactly ONE
    * armed timer per key (ADVICE r7): `registerTimer` ADDS a timer, it
    * does not replace the previous timestamp, so stale timers from
    * earlier batches are deleted here or timer state grows per batch and
    * long-lived keys fire spuriously on every superseded deadline.
    */
  private def flush(key: ModuleKey, windows: Iterable[WindowBuf],
                    watermarkMs: Long,
                    expired: Option[Long] = None): Iterator[ModuleWindowAgg] = {
    val (closed, stillOpen) = windows.toList
      .partition(b => (b.w + WindowSeconds) * 1000L <= watermarkMs)
    val want =
      if (stillOpen.isEmpty) None
      else Some(stillOpen.map(b => (b.w + WindowSeconds) * 1000L).min)
    // the currently-expiring timer (if any) is removed by the framework —
    // deleting it again would be a noisy no-op
    val armed = getHandle.listTimers().toList.filterNot(expired.contains)
    armed.filterNot(want.contains).foreach(getHandle.deleteTimer)
    if (stillOpen.isEmpty) open.clear()
    else {
      open.put(stillOpen.toArray)
      if (!armed.contains(want.get)) getHandle.registerTimer(want.get)
    }
    closed.sortBy(_.w).map(toAgg(key)).iterator
  }

  override def handleInputRows(key: ModuleKey, rows: Iterator[Reading],
                               timerValues: TimerValues): Iterator[ModuleWindowAgg] = {
    val prev = open.get().map(b => b.w -> b).toMap
    val next = rows.foldLeft(prev) { (acc, r) =>
      val w = Math.floorDiv(r.ts.getTime, 1000L * WindowSeconds) * WindowSeconds
      val b = acc.getOrElse(w, WindowBuf(w, 0L, 0.0, 0L))
      acc.updated(w, WindowBuf(w, b.cnt + 1, b.sum + r.power,
        Math.addExact(b.sumMicros, MicrosMath.micros(r.power))))
    }
    flush(key, next.values, timerValues.getCurrentWatermarkInMs())
  }

  override def handleExpiredTimer(key: ModuleKey, timerValues: TimerValues,
                                  expiredTimerInfo: ExpiredTimerInfo): Iterator[ModuleWindowAgg] =
    flush(key, open.get().toList, timerValues.getCurrentWatermarkInMs(),
      Some(expiredTimerInfo.getExpiryTimeInMs()))
}

/** Threshold-crossing alert (emitted at most ONCE per key): the CEP
  * shape a windowed aggregate can't express — "tell me the first time a
  * token's cumulative count reaches N, and never again". State is one
  * 16-byte (count, fired) record per key; a TTL would bound it for
  * unbounded key universes (not set here: the alert contract is
  * exactly-once-ever, and TTL would re-arm evicted keys).
  */
class ThresholdAlertProcessor(threshold: Long)
    extends StatefulProcessor[String, String, SolarTws.Alert] {

  @transient private var st: org.apache.spark.sql.streaming.ValueState[SolarTws.AlertState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[SolarTws.AlertState]("cnt",
      Encoders.product[SolarTws.AlertState], TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[String],
                               timerValues: TimerValues): Iterator[SolarTws.Alert] = {
    val prev = Option(st.get()).getOrElse(SolarTws.AlertState(0L, fired = false))
    val cnt = prev.cnt + rows.size
    val crossing = !prev.fired && cnt >= threshold
    st.update(SolarTws.AlertState(cnt, prev.fired || crossing))
    if (crossing) Iterator.single(SolarTws.Alert(key, cnt)) else Iterator.empty
  }
}

/** Per-key category tallies on [[org.apache.spark.sql.streaming.MapState]]
  * — the multi-sub-key shape [[ThresholdAlertProcessor]]'s single
  * ValueState can't express: one RocksDB map entry per (key, category),
  * point-updated per row (no read-modify-write of a whole blob). Emits
  * `(key, cat)` the FIRST time that category's count reaches
  * `threshold` for the key — at most once per pair, and the emitted SET
  * is a pure function of the data (crossed ⟺ total ≥ threshold),
  * independent of micro-batch boundaries, which is what makes the
  * processor differentially fuzz-able (StreamFuzz kind 14) against the
  * batch `groupBy(key, cat).count() >= threshold` fold.
  *
  * `ttl`, when set, is the state-eviction posture for unbounded key
  * universes: a pair idle past the TTL re-arms, which is the documented
  * semantics for a monitoring alert (fire again if the condition
  * re-accumulates after the idle window), NOT exactly-once-ever
  * ([[ThresholdAlertProcessor]] keeps that contract, TTL-free). TTL
  * requires processing-time mode, under which Spark constructs
  * micro-batches CONTINUOUSLY to advance the state clock — the query
  * never reports idle, so `processAllAvailable()` never returns (found
  * live by StreamFuzz kind 14's first battery: the fuzz harness hung on
  * the first k14 seed). The fuzz differential therefore drives the
  * TTL-free mode, and the TTL/re-arm semantics are pinned by the
  * deadline-polling `TwsTtlSpec` instead.
  */
class CatCrossProcessor(threshold: Long,
                        ttl: Option[java.time.Duration] = None)
    extends StatefulProcessor[Long, (Long, String), SolarTws.CatAlert] {

  @transient private var tallies:
    org.apache.spark.sql.streaming.MapState[String, SolarTws.AlertState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    tallies = getHandle.getMapState[String, SolarTws.AlertState]("tallies",
      Encoders.STRING, Encoders.product[SolarTws.AlertState],
      ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))

  override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
                               timerValues: TimerValues): Iterator[SolarTws.CatAlert] = {
    val perCat = rows.foldLeft(Map.empty[String, Long]) { (m, r) =>
      m.updated(r._2, m.getOrElse(r._2, 0L) + 1L)
    }
    perCat.iterator.flatMap { case (cat, add) =>
      val prev =
        if (tallies.containsKey(cat)) tallies.getValue(cat)
        else SolarTws.AlertState(0L, fired = false)
      val cnt = prev.cnt + add
      val crossing = !prev.fired && cnt >= threshold
      tallies.updateValue(cat, SolarTws.AlertState(cnt, prev.fired || crossing))
      if (crossing) Iterator.single(SolarTws.CatAlert(key, cat))
      else Iterator.empty
    }
  }
}

object SolarTws {

  case class Reading(ts: java.sql.Timestamp, panel: String, module: String,
                     power: Double)
  case class ModuleKey(panel: String, module: String)
  /** One open window buffer: count, double sum, and the exact sum of
    * round_half_away(power·10⁶) the mean is rounded from.
    */
  case class WindowBuf(w: Long, cnt: Long, sum: Double, sumMicros: Long)
  case class ModuleWindowAgg(w_start: Long, panel: String, module: String,
                             m_cnt: Long, m_sum_power: Double, m_avg_power: Double)

  val WindowSeconds = 30L

  case class AlertState(cnt: Long, fired: Boolean)
  case class Alert(tok: String, cnt: Long)
  case class CatAlert(key: Long, cat: String)

  /** Streaming query fragment: normalized readings → suppressed-style
    * per-module window aggregates via the TWS processor. RocksDB state
    * store required (set in [[graft.Engine.builder]]).
    */
  def moduleAggTws(spark: SparkSession,
                   normalized: Dataset[Reading]): Dataset[ModuleWindowAgg] = {
    import spark.implicits._
    normalized
      .withWatermark("ts", s"$WindowSeconds seconds")
      .groupByKey(r => ModuleKey(r.panel, r.module))
      .transformWithState(new ModuleAggProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Token stream → first-crossing alerts (at most one per token, ever). */
  def thresholdAlerts(spark: SparkSession, toks: Dataset[String],
                      threshold: Long): Dataset[Alert] = {
    import spark.implicits._
    toks.groupByKey(identity)
      .transformWithState(new ThresholdAlertProcessor(threshold),
        TimeMode.None(), OutputMode.Append())
  }

  /** (key, cat) stream → per-category first-crossing alerts on MapState
    * (see [[CatCrossProcessor]]). Batch twin:
    * `groupBy(key, cat).count() >= threshold`. With `ttl` set the query
    * runs in processing-time mode (TTL is only assignable under a
    * clock — STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL), and
    * processing-time mode triggers micro-batches continuously, so the
    * query never reports idle: synchronize by polling the sink, never
    * `processAllAvailable()`.
    */
  def catCrossAlerts(spark: SparkSession, rows: Dataset[(Long, String)],
                     threshold: Long,
                     ttl: Option[java.time.Duration] = None): Dataset[CatAlert] = {
    import spark.implicits._
    rows.groupByKey(_._1)
      .transformWithState(new CatCrossProcessor(threshold, ttl),
        if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append())
  }
}
