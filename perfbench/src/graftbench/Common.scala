package graftbench

import scala.collection.mutable

/** Minimal JSON writer: the benchmark emits flat records only. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}

object Stats {
  /** Nearest-rank quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  /** The middle value; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Progress marks on stderr (the run's log): seconds since JVM start. */
object Phase {
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def mark(what: String): Unit =
    System.err.println(f"graftbench phase ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s: $what")
}

/** One named metric value with its unit. */
final case class Metric(value: Double, unit: String)

/** What a workload run reports back to [[Main]].
  *
  * @param setupNs    time the workload spent setting up before it measured
  * @param attempted  operations the workload checked
  * @param failed     operations that were missing, wrong or threw
  * @param e2e        the end-to-end metrics, by name
  * @param layer      per-layer metrics (filled only on a traced run)
  * @param notes      human-readable lines printed before the result
  */
final case class Outcome(setupNs: Long, attempted: Long, failed: Long,
                         e2e: Map[String, Metric], layer: Map[String, Metric],
                         notes: Seq[String])

/** The per-layer metric names, in the order `BENCHMARK.json` lists them.
  * A traced run reports every one; a layer that a workload does not run
  * reports 0.
  */
object LayerMetrics {
  val Units: Seq[(String, String)] = Seq(
    "streaming.batches" -> "count",
    "streaming.batch_ms_p50" -> "ms",
    "streaming.batch_ms_p99" -> "ms",
    "streaming.no_data_batches" -> "count",
    "streaming.state_commit_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.state_update_ms" -> "ms",
    "streaming.state_remove_ms" -> "ms",
    "streaming.processed_rows_per_s" -> "rows/s",
    "streaming.state_rows" -> "count",
    "streaming.state_bytes" -> "bytes",
    "streaming.rows_dropped_by_watermark" -> "count",
    "sources.lag_rows_p99" -> "count",
    "sources.generator_late_ms_p99" -> "ms",
    "sink.rows" -> "count",
    "sink.ms" -> "ms",
    "sources.input_rows" -> "count",
    "sources.input_bytes" -> "bytes",
    "plans.analysis_ms" -> "ms",
    "plans.optimization_ms" -> "ms",
    "plans.physical_planning_ms" -> "ms",
    "plans.graft_rules_ms" -> "ms",
    "plans.graft_rules_effective" -> "count",
    "operators.build_ms" -> "ms",
    "operators.cache_blocks_stored" -> "count",
    "operators.raced_cache_blocks" -> "count",
    "functions.codegen_compile_ms" -> "ms",
    "functions.codegen_classes" -> "count",
    "engine.jobs" -> "count",
    "engine.stages" -> "count",
    "engine.tasks" -> "count",
    "engine.task_s" -> "s",
    "engine.task_cpu_s" -> "s",
    "engine.gc_ms" -> "ms",
    "engine.busy_ratio" -> "ratio",
    "engine.shuffle_write_bytes" -> "bytes",
    "engine.shuffle_read_bytes" -> "bytes",
    "engine.spill_bytes" -> "bytes")

  /** Every layer metric, measured values over zeros. */
  def complete(measured: Map[String, Double]): Map[String, Metric] = {
    val unknown = measured.keySet -- Units.map(_._1)
    require(unknown.isEmpty, s"unlisted layer metrics: $unknown")
    Units.map { case (k, u) => k -> Metric(measured.getOrElse(k, 0.0), u) }.toMap
  }
}

/** Counters summed over one unit of work (a pass, a drain, a window). */
final class Counters {
  private val m = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  def snapshot(): Map[String, Double] = synchronized(m.toMap)
}
