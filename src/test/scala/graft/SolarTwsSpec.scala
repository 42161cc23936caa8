package graft

import java.sql.Timestamp

import graft.streaming.{SolarStreaming, SolarTws}
import graft.streaming.SolarTws._

/** End-to-end tests of the transformWithState build (Spark 4's current
  * arbitrary-state API): suppressed emit-once semantics under the
  * watermark, timer-driven flush of quiet keys, and equivalence with the
  * built-in windowed aggregate on the same input. Per-case folds, partial
  * flushes and state eviction are in [[SolarStatefulSpec]].
  */
object SolarTwsSpec {
  /** Highest armed-timer count any key ever showed (local[32]: processor
    * instances share the JVM, so a static max is observable spec-side).
    */
  val MaxArmedTimers = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** [[graft.streaming.ModuleAggProcessor]] that records how many timers
  * stay armed for the key after each batch it handles.
  */
class TimerProbingProcessor extends graft.streaming.ModuleAggProcessor {
  private def record(): Unit = {
    val n = getHandle.listTimers().size
    SolarTwsSpec.MaxArmedTimers.getAndUpdate(m => math.max(m, n))
    ()
  }
  override def handleInputRows(key: ModuleKey, rows: Iterator[Reading],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[ModuleWindowAgg] = {
    val out = super.handleInputRows(key, rows, timerValues).toList
    record()
    out.iterator
  }
}

class SolarTwsSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def newInput() = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, String, String, Double)]
  }

  test("TWS stream emits once the watermark finalizes the window") {
    val input = newInput()
    val name = s"tws_${System.nanoTime()}"
    val q = SolarTws.moduleAggTws(spark,
        input.toDF().toDF("ts", "panel", "module", "power").as[Reading])
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:05"), "p1", "m1", 10.0),
        (ts("2024-01-01 00:00:10"), "p1", "m1", 20.0))
      q.processAllAvailable()
      assert(spark.table(name).count() === 0) // window still open
      // advance the watermark past the window end via another key: m1 has
      // no new rows, so its flush must come from the registered timer
      input.addData((ts("2024-01-01 00:02:00"), "p2", "m2", 1.0))
      q.processAllAvailable()
      val rows = spark.table(name)
        .filter($"module" === "m1")
        .select("w_start", "m_cnt", "m_sum_power", "m_avg_power")
        .as[(Long, Long, Double, Double)].collect().toSet
      assert(rows === Set((1704067200L, 2L, 30.0, 15.0)))
    } finally q.stop()
  }

  test("at most one timer stays armed per key across batches") {
    // ADVICE r7: registerTimer ADDS a timer per call — without the
    // stale-timer deletion in flush, every batch that moves the earliest
    // open window end leaves the superseded deadline armed. The probing
    // subclass records the armed-timer count after each input batch.
    SolarTwsSpec.MaxArmedTimers.set(0)
    val input = newInput()
    val name = s"timers_${System.nanoTime()}"
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val q = input.toDF().toDF("ts", "panel", "module", "power").as[Reading]
      .withWatermark("ts", s"$WindowSeconds seconds")
      .groupByKey(r => ModuleKey(r.panel, r.module))
      .transformWithState(new TimerProbingProcessor,
        TimeMode.EventTime(), OutputMode.Append())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // batch 1 opens window [120,150) -> timer armed at 150 s; batch 2
      // delivers an above-watermark row (wm = 125-30 = 95 s) opening the
      // EARLIER window [90,120) -> the earliest open end moves to 120 s
      // while the 150 s timer has not expired: without deletion both
      // deadlines stay armed
      input.addData((ts("2024-01-01 00:02:05"), "p1", "m1", 1.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 00:01:40"), "p1", "m1", 2.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 00:09:00"), "p9", "m9", 0.0)) // flush all
      q.processAllAvailable()
      assert(spark.table(name).filter($"module" === "m1").count() === 2)
      assert(SolarTwsSpec.MaxArmedTimers.get() === 1,
        "stale timers must be deleted when the earliest window end moves")
    } finally q.stop()
  }

  test("threshold alerts fire exactly once per key, at the crossing count") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val name = s"alerts_${System.nanoTime()}"
    val q = SolarTws.thresholdAlerts(spark, input.toDS(), threshold = 3L)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData("a", "a", "b"); q.processAllAvailable()
      assert(spark.table(name).count() === 0)       // nobody crossed yet
      input.addData("a", "b", "b"); q.processAllAvailable()
      // both cross in this batch; 'a' lands exactly on 3, 'b' on 3
      input.addData("a", "a", "b"); q.processAllAvailable() // no re-fire
      val alerts = spark.table(name)
        .as[SolarTws.Alert].collect().map(a => a.tok -> a.cnt).toMap
      assert(alerts === Map("a" -> 3L, "b" -> 3L))  // once each, at crossing
    } finally q.stop()
  }

  test("TWS and the built-in module aggregate emit identical finalized windows") {
    val data = Seq(
      (ts("2024-01-01 00:00:05"), "p1", "m1", 10.0),
      (ts("2024-01-01 00:00:29"), "p1", "m1", 2.0),
      (ts("2024-01-01 00:00:31"), "p1", "m2", 7.0),
      // the double sum is 0.09999999999999999: a rounded double mean
      // gives 0.0, the exact micros mean 0.1
      (ts("2024-01-01 00:00:12"), "p1", "m4", 0.01),
      (ts("2024-01-01 00:00:13"), "p1", "m4", 0.09),
      (ts("2024-01-01 00:01:04"), "p2", "m3", 5.0),
      (ts("2024-01-01 00:05:00"), "p9", "m9", 0.0)) // watermark driver
    def run(build: org.apache.spark.sql.Dataset[Reading] =>
              org.apache.spark.sql.Dataset[ModuleWindowAgg]): Set[ModuleWindowAgg] = {
      val input = newInput()
      val name = s"twin_${System.nanoTime()}"
      val q = build(input.toDF().toDF("ts", "panel", "module", "power").as[Reading])
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        data.foreach { r => input.addData(r); q.processAllAvailable() }
        spark.table(name).as[ModuleWindowAgg].collect().toSet
      } finally q.stop()
    }
    val tws = run(SolarTws.moduleAggTws(spark, _))
    val builtIn = run(r => SolarStreaming.moduleAggStream(r.toDF()).as[ModuleWindowAgg])
    assert(tws === builtIn)
    assert(tws.filter(_.module == "m4").map(_.m_avg_power) === Set(0.1))
  }
}
