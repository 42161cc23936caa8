package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.sources.v2.KafkaBus

/** `stream-steady`: the paper's solar anomaly topology as a stream, fed
  * by an open loop with one generator thread publishing reference-wire
  * JSON at a fixed rate over 450 keys. Event time runs 60× wall time, so
  * a 30 s window closes every 0.5 s. The rate, 900 rows/s, is a small
  * share of what a batch can take: at this small state the
  * per-micro-batch fixed cost sets the emit latency.
  *
  * The first [[WarmNs]] of the schedule is published up front as a
  * backlog; the query drains it (compiling the pipeline) and, once its
  * first result reaches the sink, the generator takes over on schedule.
  * Latency is sampled for the windows whose closing event falls due in
  * the measured interval, which starts [[SettleNs]] after the hand-over.
  * The query runs a [[TriggerMs]] processing-time trigger.
  */
object StreamSteady {
  val Shape = StreamGen.Shape(panels = 150, modules = 3, perWindow = 1, windows = 240)
  val Speedup = 60L
  /** Input rows per wall second: 450 keys × 1 reading per 0.5 s window. */
  val Rate: Double = Shape.panels * Shape.modules * Shape.perWindow * Speedup *
    1e6 / StreamGen.WindowMicros
  val WarmNs = 4000000000L
  val SettleNs = 1000000000L
  /** Processing-time trigger of the query. With back-to-back batches the
    * emit latency is about 2.5 batch lengths, and it follows every swing
    * of the host's speed; with a fixed trigger above the batch length it
    * is about 1.5 periods plus one batch length. A batch longer than the
    * period makes the batches run back to back; the latency stays
    * continuous across that change (2.5 periods either way at the
    * boundary). The period is about 1.5 times the batch length measured
    * on a 4-CPU host, and a measured interval of a whole number of
    * periods samples every trigger phase equally.
    */
  val TriggerMs = 8000L
  /** The run fails when the generator's p99 lateness exceeds this. */
  val MaxLateMs = 250.0
  /** The run fails when the source lag ever exceeds this many trigger
    * periods of offered input. A query that keeps pace with its trigger
    * peaks at one period plus one batch length; back-to-back batches of
    * length L peak at 2L. Above three periods each batch runs more than
    * 1.5 periods and the lag is no longer that of a steady stream.
    */
  val MaxLagPeriods = 3.0

  def run(spark: SparkSession, seed: Long, seconds: Int, cpus: Int, work: String,
          tracer: Option[Tracer]): Outcome = {
    val runStart = System.nanoTime()
    val topic = s"steady-${java.util.UUID.randomUUID()}"
    KafkaBus.ensureTopic(topic, cpus)
    val schedule = StreamGen.steady(seed, Shape, Speedup)
    val close = StreamGen.closingDue(schedule)
    val backlog = schedule.indexWhere(_.dueNs >= WarmNs)
    schedule.take(backlog).foreach(Streams.publish(topic, _))
    val sink = new Streams.Sink
    Phase.mark("steady: schedule built")
    val q = Streams.start(spark, topic, s"$work/ckpt-steady", sink, Trigger.ProcessingTime(TriggerMs))
    while (sink.first < 0 && q.isActive) Thread.sleep(2)
    require(q.isActive, s"stream failed during warm-up: ${q.exception}")

    val gen = new Generator(topic, schedule)
    Phase.mark("steady: first result")
    gen.begin(backlog, WarmNs)
    def genNow = System.nanoTime() - gen.startNs
    val m0 = WarmNs + SettleNs
    val m1 = m0 + seconds * 1000000000L
    while (genNow < m0) Thread.sleep(1)
    val setupEnd = System.nanoTime()
    val setupEndMs = System.currentTimeMillis()
    val scopeId = tracer.map(_.newId()).getOrElse(0)
    tracer.foreach(_.open(scopeId))

    // Run until every window due in [m0, m1) has emitted, sampling the
    // source lag (bus end offsets minus the query's committed offsets).
    val measured = close.filter { case (_, due) => due >= m0 && due < m1 }.keySet
    val expectInWindow = measured.size * Shape.panels
    def arrivedInWindow = sink.all.count { case (r, _) => measured.contains(Streams.windowMicros(r)) }
    val tailDeadline = System.nanoTime() + (m1 - genNow) + 60000000000L
    val lag = Seq.newBuilder[Double]
    while ((genNow < m1 || arrivedInWindow < expectInWindow) && q.isActive && !gen.exhausted &&
           System.nanoTime() < tailDeadline) {
      val end = KafkaBus.endOffsets(topic).sum
      val done = Option(q.lastProgress).flatMap(_.sources.headOption)
        .flatMap(s => Option(s.endOffset)).map(offsetSum).getOrElse(0L)
      lag += (end - done).toDouble
      Thread.sleep(50)
    }
    val runEnd = System.nanoTime()
    val runEndMs = System.currentTimeMillis()
    Phase.mark("steady: tail done")
    val counters = tracer.map { tr => tr.flush(); tr.close() }.getOrElse(Map.empty)
    gen.finish()
    // let the batch that delivered the last of them commit before stopping
    val delivered = sink.lastBatch
    while (q.isActive && Option(q.lastProgress).forall(_.batchId < delivered)) Thread.sleep(2)
    q.stop()
    val progs = tracer.map { tr => tr.awaitTerminated(q.id); tr.progresses(q.id) }
      .getOrElse(q.recentProgress.toSeq)

    // correctness: sink ≡ the topology over the published rows as a static
    // DataFrame, up to the watermark of the last committed batch (a row
    // published later lies past it: it is never 25 s behind the newest)
    val published = schedule.take(gen.published)
    val last = q.lastProgress
    val sunk = sink.upTo(last.batchId)
    val (expected, wrong) = Streams.check(Streams.golden(spark, published), sunk.map(_._1),
      Streams.watermarkMicros(last))
    Phase.mark("steady: checked")
    val dropped = Streams.droppedByWatermark(progs)
    val arrivals = sunk.collect { case (r, t) if measured.contains(Streams.windowMicros(r)) =>
      (Streams.windowMicros(r), t - gen.startNs) }
    val latency = StreamGen.emitLatenciesMs(close, arrivals)
    val missing = expectInWindow - arrivals.size
    val inMeasure = (backlog until gen.published).filter { i =>
      schedule(i).dueNs >= m0 && schedule(i).dueNs < m1 }
    val lateP99 = Stats.quantile(inMeasure.map(gen.lateNs(_) / 1e6), 0.99)
    val lags = lag.result()
    val maxLag = (lags :+ 0.0).max
    val lagBound = MaxLagPeriods * Rate * TriggerMs / 1000
    val invalid = Seq(
      (lateP99 > MaxLateMs) -> f"generator ran late: p99 $lateP99%.1f ms > $MaxLateMs ms",
      (maxLag > lagBound) -> f"source lag reached $maxLag%.0f rows > $lagBound%.0f " +
        f"($MaxLagPeriods%.0f trigger periods of input)",
      (dropped > 0) -> s"$dropped rows dropped by the watermark",
      (missing > 0) -> s"$missing results due in the measured window never arrived")
      .collect { case (true, why) => why }
    val failed = if (invalid.nonEmpty) expected else wrong
    KafkaBus.clearTopic(topic)

    // the batches that ran while the measured windows were read and emitted
    val inRun = progs.filter { p =>
      val at = Streams.progressMs(p); at >= setupEndMs && at < runEndMs }
    val batchMs = inRun.map(_.durationMs.get("triggerExecution").doubleValue())
    val layer = tracer.map { tr =>
      val t0 = tr.epochMs(setupEnd)
      val t1 = tr.epochMs(runEnd)
      progs.foreach(p => tr.recordBatch(p, scopeId))
      tr.span("measure", t0, t1, 0, id = scopeId)
      val sinkBatches = sink.batches.asScala.filter { case (t, _, _) => t >= setupEnd && t < runEnd }
      LayerMetrics.complete(counters ++ Streams.layer(inRun) ++ Map(
        "sources.lag_rows_p99" -> Stats.quantile(lags, 0.99),
        "sources.generator_late_ms_p99" -> lateP99,
        "sink.rows" -> sinkBatches.map(_._3.toDouble).sum,
        "sink.ms" -> sinkBatches.map(_._2 / 1e6).sum,
        "engine.busy_ratio" -> counters.getOrElse("engine.task_s", 0.0) /
          ((runEnd - setupEnd) / 1e9 * cpus)))
    }.getOrElse(Map.empty)

    val e2e = Map(
      "latency_p50_ms" -> Metric(Stats.median(latency), "ms"),
      "latency_p99_ms" -> Metric(Stats.quantile(latency, 0.99), "ms"),
      "latency_mean_ms" -> Metric(latency.sum / math.max(1, latency.size), "ms"))
    val notes = Seq(
      f"emit_latency_p50_ms ${Stats.median(latency)}%.1f ms (n=${latency.size} samples)",
      f"emit_latency_p99_ms ${Stats.quantile(latency, 0.99)}%.1f ms (n=${latency.size} samples)",
      f"batches: ${batchMs.map(b => f"$b%.0f").mkString(", ")} ms (trigger $TriggerMs ms)",
      f"offered ${inMeasure.size / ((m1 - m0) / 1e9)}%.0f rows/s; generator late p99 $lateP99%.2f ms; " +
        f"source lag p99 ${Stats.quantile(lags, 0.99)}%.0f rows, max $maxLag%.0f",
      f"error_rate ${failed.toDouble / math.max(1, expected)}%.4f ($failed of $expected results)") ++
      invalid.map("  run failed: " + _)
    Outcome(setupEnd - runStart, expected, failed, e2e, layer, notes)
  }

  private def offsetSum(json: String): Long =
    json.stripPrefix("[").stripSuffix("]").split(",").filter(_.trim.nonEmpty)
      .map(_.trim.toLong).sum
}
