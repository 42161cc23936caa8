package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch milliseconds. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
                      parent: Int, attrs: Map[String, Double])

/** Records spans and per-layer counters from outside the program: the
  * benchmark's own calls into each module, Spark's public listener APIs
  * (`SparkListener`, `QueryExecutionListener` with its
  * `QueryPlanningTracker`, `StreamingQueryListener`) and two log lines
  * counted by an appender (BlockManager's "already exists on this
  * machine; not re-adding", the raced-cache signature, and the code
  * generator's "Code generated in N ms").
  *
  * Events are attributed to the scope open when they are delivered. The
  * listener bus is asynchronous, so a scope is closed only after the
  * bus has delivered a marker query's callback ([[awaitQe]], [[flush]]):
  * every event posted before the marker has arrived by then.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val nextId = new AtomicInteger(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  // epoch-ms origin for System.nanoTime stamps taken by the benchmark
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  def epochMs(nanos: Long): Double = originMs + (nanos - originNs) / 1e6

  final class Scope(val spanId: Int) {
    val counters = new Counters
  }
  @volatile private var scope: Scope = new Scope(0)

  def newId(): Int = nextId.getAndIncrement()

  def span(name: String, startMs: Double, endMs: Double, parent: Int,
           attrs: Map[String, Double] = Map.empty, id: Int = -1): Int = {
    val i = if (id > 0) id else newId()
    spans.synchronized { spans += Span(i, name, startMs, endMs, parent, attrs) }
    i
  }

  /** Opens a scope whose events land under span `spanId`. The previous
    * scope must already be flushed.
    */
  def open(spanId: Int): Unit = {
    codegenBase = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    scope = new Scope(spanId)
  }

  /** Closes the open scope (after its events were flushed). */
  def close(): Map[String, Double] = {
    val s = scope
    s.counters.add("functions.codegen_classes",
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegenBase).toDouble)
    scope = new Scope(0)
    s.counters.snapshot()
  }
  @volatile private var codegenBase = 0L

  // ---- marker handling -------------------------------------------------
  private def identitySet() = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean]()))
  private val pending = identitySet()
  private val seen = identitySet()
  private val ignored = identitySet()

  /** Registers `qe` as a marker before its action runs. */
  def expect(qe: QueryExecution): Unit = { pending.add(qe); () }

  /** Waits until the listener bus delivered the callback of marker `qe`. */
  def awaitQe(qe: QueryExecution, timeoutMs: Long = 20000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!seen.contains(qe) && System.currentTimeMillis() < deadline) Thread.sleep(1)
    seen.remove(qe); pending.remove(qe); ignored.remove(qe); ()
  }

  /** Runs a one-row query the counters ignore and waits for its callback,
    * so every event posted before it has been delivered.
    */
  def flush(): Unit = {
    val sc = spark.sparkContext
    val df = spark.range(1).toDF()
    val qe = df.queryExecution
    ignored.add(qe)
    expect(qe)
    sc.setLocalProperty(FlushProp, "1")
    try df.collect() finally sc.setLocalProperty(FlushProp, null)
    awaitQe(qe)
  }

  // ---- Spark scheduler events -------------------------------------------
  private val jobStart = new ConcurrentHashMap[Int, (Long, Int)]()
  private val jobParent = new ConcurrentHashMap[Int, Int]()
  private val stageParent = new ConcurrentHashMap[Int, Int]()
  private val skippedStages = ConcurrentHashMap.newKeySet[Int]()

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val flushJob = e.properties != null && e.properties.getProperty(FlushProp) != null
      if (flushJob) e.stageIds.foreach(skippedStages.add)
      else {
        val s = scope
        val id = newId()
        jobStart.put(e.jobId, (e.time, id))
        e.stageIds.foreach(st => stageParent.put(st, id))
        s.counters.add("engine.jobs", 1)
        jobParent.put(id, s.spanId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, id) =>
        span(s"job:${e.jobId}", t0.toDouble, e.time.toDouble,
          jobParent.getOrDefault(id, 0), id = id)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      if (!skippedStages.contains(si.stageId)) {
        scope.counters.add("engine.stages", 1)
        val t0 = si.submissionTime.getOrElse(0L).toDouble
        val t1 = si.completionTime.getOrElse(t0.toLong).toDouble
        span(s"stage:${si.stageId}", t0, t1, stageParent.getOrDefault(si.stageId, 0),
          Map("tasks" -> si.numTasks.toDouble))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && !skippedStages.contains(e.stageId)) {
        val c = scope.counters
        c.add("engine.tasks", 1)
        c.add("engine.task_s", m.executorRunTime / 1e3)
        c.add("engine.task_cpu_s", m.executorCpuTime / 1e9)
        c.add("engine.gc_ms", m.jvmGCTime.toDouble)
        c.add("engine.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        c.add("engine.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        c.add("engine.spill_bytes", m.diskBytesSpilled.toDouble)
        c.add("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
        c.add("sources.input_bytes", m.inputMetrics.bytesRead.toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD && info.storageLevel.isValid)
        scope.counters.add("operators.cache_blocks_stored", 1)
    }
  }

  // ---- planning ----------------------------------------------------------
  private val planning = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      if (!ignored.contains(qe)) {
        val s = scope
        val c = s.counters
        qe.tracker.phases.foreach { case (phase, p) =>
          PhaseMetric.get(phase).foreach { k =>
            c.add(k, p.durationMs.toDouble)
            span(s"plan.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble, s.spanId)
          }
        }
        qe.tracker.rules.foreach { case (rule, r) =>
          if (rule.startsWith("graft.plans.")) {
            c.add("plans.graft_rules_ms", r.totalTimeNs / 1e6)
            c.add("plans.graft_rules_effective", r.numEffectiveInvocations.toDouble)
          }
        }
      }
      markSeen(qe)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      markSeen(qe)
  }
  private def markSeen(qe: QueryExecution): Unit = {
    if (pending.contains(qe)) seen.add(qe); ()
  }

  // ---- streaming ---------------------------------------------------------
  private val progressBuf = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val terminated = ConcurrentHashMap.newKeySet[java.util.UUID]()
  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progressBuf.synchronized { progressBuf += e.progress; () }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      terminated.add(e.id); ()
    }
  }

  /** Progress events delivered so far for query `id`. */
  def progresses(id: java.util.UUID): Seq[StreamingQueryProgress] =
    progressBuf.synchronized(progressBuf.filter(_.id == id).toSeq)

  /** Waits until the streams listener saw query `id` terminate. */
  def awaitTerminated(id: java.util.UUID, timeoutMs: Long = 20000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!terminated.contains(id) && System.currentTimeMillis() < deadline)
      Thread.sleep(1)
  }

  // ---- log lines ---------------------------------------------------------
  private val appender = new AbstractAppender("graftbench-trace", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = e.getMessage.getFormattedMessage
      if (msg.contains(RacedMarker)) scope.counters.add("operators.raced_cache_blocks", 1)
      else CodegenLine.findFirstMatchIn(msg).foreach { m =>
        scope.counters.add("functions.codegen_compile_ms", m.group(1).toDouble)
      }
    }
  }

  private def installAppender(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    appender.start()
    cfg.addAppender(appender)
    // the code generator logs at INFO: route it to the counter only
    val cg = new LoggerConfig(CodegenLogger, Level.INFO, false)
    cg.addAppender(appender, Level.INFO, null)
    cfg.addLogger(CodegenLogger, cg)
    val bm = new LoggerConfig(BlockManagerLogger, Level.WARN, true)
    bm.addAppender(appender, Level.WARN, null)
    cfg.addLogger(BlockManagerLogger, bm)
    ctx.updateLoggers()
  }

  def install(): this.type = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(planning)
    spark.streams.addListener(streaming)
    installAppender()
    this
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toSeq)

  def spansJson(header: Seq[(String, String)]): String = {
    val ss = allSpans.sortBy(s => (s.startMs, s.id)).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
        "parent" -> (if (s.parent > 0) s.parent.toString else "null"),
        "attrs" -> Json.obj(s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    }
    Json.obj(header :+ ("spans" -> ss.mkString("[\n", ",\n", "\n]")))
  }

  /** Spans of one micro-batch: `batch:<id>` → its `durationMs` phases in
    * execution order (the remainder as `other`, so the phases cover the
    * batch) → `state_commit:op<i>` under `addBatch`. The per-operator
    * commit time is summed over the operator's tasks.
    */
  def recordBatch(p: StreamingQueryProgress, parent: Int): Unit = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
    val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val total = d.getOrElse("triggerExecution", 0L).toDouble
    val bid = span(s"batch:${p.batchId}", t0, t0 + total, parent,
      Map("input_rows" -> p.numInputRows.toDouble))
    var t = t0
    BatchPhases.foreach { ph =>
      d.get(ph).foreach { ms =>
        val pid = span(ph, t, t + ms, bid)
        if (ph == "addBatch") p.stateOperators.zipWithIndex.foreach { case (op, i) =>
          val end = t + ms
          span(s"state_commit:op$i", math.max(t, end - op.commitTimeMs), end, pid,
            Map("commit_ms_summed_over_tasks" -> op.commitTimeMs.toDouble))
        }
        t += ms
      }
    }
    if (t0 + total > t) span("other", t, t0 + total, bid)
  }
}

object Tracer {
  val FlushProp = "graftbench.flush"
  val RacedMarker = "already exists on this machine; not re-adding"
  val CodegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  val BlockManagerLogger = "org.apache.spark.storage.BlockManager"
  private val CodegenLine = "Code generated in ([0-9.]+) ms".r
  val PhaseMetric: Map[String, String] = Map(
    "analysis" -> "plans.analysis_ms",
    "optimization" -> "plans.optimization_ms",
    "planning" -> "plans.physical_planning_ms")
  /** `durationMs` phases in the order a micro-batch runs them. */
  val BatchPhases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
}
