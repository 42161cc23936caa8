package graftbench

import java.nio.charset.StandardCharsets.UTF_8

/** Deterministic solar telemetry for the `stream-steady` workload.
  *
  * Every key is a (panel, module) pair. In each 30 s event-time window
  * every key gets `perWindow` readings, and one module per panel reads
  * about five times its neighbours, so each (window, panel) produces
  * exactly one z-score anomaly. Powers are whole numbers, so every sum
  * the topology takes is exact.
  */
object StreamGen {

  /** 2024-01-01T00:00:00Z in microseconds; window-aligned. */
  val T0Micros: Long = 1704067200L * 1000000L
  val WindowMicros: Long = 30L * 1000000L
  val DelayMicros: Long = 30L * 1000000L

  /** One reading. `dueNs` is when the open-loop generator must publish
    * it, relative to the generator's start.
    */
  final case class Event(dueNs: Long, tsMicros: Long, panel: String,
                         module: String, power: Double) {
    def key: Array[Byte] = panel.getBytes(UTF_8)
    /** Reference wire JSON (`SolarModuleData`). */
    def value: Array[Byte] =
      s"""{"power":$power,"name":"$module","panel":"$panel"}""".getBytes(UTF_8)
  }

  final case class Shape(panels: Int, modules: Int, perWindow: Int, windows: Int)

  /** Readings of `windows` consecutive windows, in event-time order within
    * each window's draw, before any schedule is applied.
    */
  private def readings(seed: Long, shape: Shape): Seq[(Long, Long, String, String, Double)] = {
    val rnd = new scala.util.Random(seed)
    val out = Seq.newBuilder[(Long, Long, String, String, Double)]
    for (w <- 0 until shape.windows) {
      val wStart = T0Micros + w * WindowMicros
      for (p <- 0 until shape.panels) {
        val hot = rnd.nextInt(shape.modules)
        for (m <- 0 until shape.modules; _ <- 0 until shape.perWindow) {
          val base = if (m == hot) 500 else 100
          val power = (base + rnd.nextInt(21) - 10).toDouble
          // whole milliseconds: the bus carries the event time as microseconds
          val ts = wStart + rnd.nextInt((WindowMicros / 1000).toInt) * 1000L
          val jitter = rnd.nextInt(25000) * 1000L
          out += ((ts + jitter, ts, f"panel-$p%05d", f"module-$m%02d", power))
        }
      }
    }
    out.result()
  }

  /** Open-loop schedule: event time runs `speedup`
    * times faster than wall time, and each reading is published at its
    * event time plus a jitter under 25 s (under the 30 s watermark delay,
    * so the stream sees events out of order but never late).
    */
  def steady(seed: Long, shape: Shape, speedup: Long): IndexedSeq[Event] =
    readings(seed, shape).sortBy(r => (r._1, r._2, r._3, r._4))
      .map { case (pubMicros, ts, p, m, w) =>
        Event((pubMicros - T0Micros) * 1000L / speedup, ts, p, m, w)
      }.toIndexedSeq

  /** For each window start, the due time of the event that made its
    * results due: the first event, in publish order, whose event time is
    * at least window end plus the watermark delay. Windows never closed by
    * the schedule are absent.
    */
  def closingDue(events: Seq[Event]): Map[Long, Long] = {
    val out = Map.newBuilder[Long, Long]
    if (events.nonEmpty) {
      var next = events.map(_.tsMicros).min / WindowMicros * WindowMicros
      events.foreach { e =>
        while (next + WindowMicros + DelayMicros <= e.tsMicros) {
          out += next -> e.dueNs
          next += WindowMicros
        }
      }
    }
    out.result()
  }

  /** Emit latency of each arrival: arrival time minus the due time of
    * its window's closing event. Arrivals are (window start, arrival ns
    * on the generator's clock); windows without a closing event are
    * skipped.
    */
  def emitLatenciesMs(close: Map[Long, Long], arrivals: Seq[(Long, Long)]): Seq[Double] =
    arrivals.flatMap { case (w, at) => close.get(w).map(due => (at - due) / 1e6) }
}
