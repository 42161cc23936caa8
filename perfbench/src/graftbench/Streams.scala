package graftbench

import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.sources.v2.KafkaBus
import graft.streaming.SolarStreaming

/** Pieces of the `stream-steady` workload: the topology under test, the
  * benchmark's `foreachBatch` sink, the static golden run and the
  * per-batch layer metrics.
  */
object Streams {

  /** `fromKafka` over the in-JVM bus → `anomalyPipelineStream` → sink. */
  def start(spark: SparkSession, topic: String, ckpt: String, sink: Sink,
            trigger: Trigger): StreamingQuery =
    SolarStreaming.anomalyPipelineStream(
      SolarStreaming.fromKafka(spark, "in-jvm", topic, "kafka-bus"))
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, id: Long) => sink.consume(df, id) }
      .start()

  def publish(topic: String, e: StreamGen.Event): Unit = {
    KafkaBus.publish(topic, e.key, e.value, e.tsMicros); ()
  }

  /** Wall-clock arrival of every emitted row: stamped once the batch's
    * rows are collected, i.e. when the result reached the sink.
    */
  final class Sink {
    private val rows = Seq.newBuilder[(Row, Long, Long)]
    @volatile var first: Long = -1L
    /** (stamp ns, benchmark's own ns in the sink, rows) per batch. */
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Int)]()
    def consume(df: DataFrame, id: Long): Unit = {
      val got = df.collect()
      val t = System.nanoTime()
      synchronized { got.foreach(r => rows += ((r, t, id))) }
      if (got.nonEmpty && first < 0) first = t
      batches.add((t, System.nanoTime() - t, got.length)); ()
    }
    /** (row, arrival ns) of the batches up to `lastBatch`: a batch the
      * query was stopped in may have reached the sink without committing.
      */
    def upTo(lastBatch: Long): Seq[(Row, Long)] =
      synchronized(rows.result()).collect { case (r, t, id) if id <= lastBatch => (r, t) }
    def all: Seq[(Row, Long)] = upTo(Long.MaxValue)
    def lastBatch: Long = synchronized(rows.result()).lastOption.map(_._3).getOrElse(-1L)
  }

  type Key = (Long, String, String)
  def key(r: Row): Key =
    (r.getAs[Long]("w_start"), r.getAs[String]("panel"), r.getAs[String]("module"))

  /** A result row's window start in microseconds (`w_start` is seconds). */
  def windowMicros(r: Row): Long = r.getAs[Long]("w_start") * 1000000L

  /** The topology over the same readings as a static DataFrame. */
  def golden(spark: SparkSession, events: Seq[StreamGen.Event]): Map[Key, Row] = {
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("panel", StringType), StructField("module", StringType),
      StructField("power", DoubleType)))
    val rows = events.map(e =>
      Row(java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(e.tsMicros * 1000L)),
        e.panel, e.module, e.power))
    val df = spark.createDataFrame(rows.asJava, schema)
    SolarStreaming.anomalyPipelineStream(df).collect().map(r => key(r) -> r).toMap
  }

  private def same(a: Row, b: Row): Boolean =
    a.length == b.length && (0 until a.length).forall { i =>
      (a.get(i), b.get(i)) match {
        case (x: Double, y: Double) =>
          x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
        case (x, y) => x == y
      }
    }

  /** (expected, failed): the golden rows of windows that closed at or
    * before the stream's final watermark must each arrive once and equal
    * the sink's row; anything else the sink holds is a failure too.
    */
  def check(golden: Map[Key, Row], sunk: Seq[Row], watermarkMicros: Long): (Int, Int) = {
    val want = golden.filter { case (k, _) =>
      k._1 * 1000000L + StreamGen.WindowMicros <= watermarkMicros }
    val got = sunk.groupBy(key)
    val wrong = want.count { case (k, r) =>
      got.get(k).forall(rs => rs.size != 1 || !same(rs.head, r)) }
    val extra = got.keys.count(k => !want.contains(k))
    (want.size, wrong + extra)
  }

  def watermarkMicros(p: StreamingQueryProgress): Long =
    Option(p).flatMap(x => Option(x.eventTime.get("watermark")))
      .map(s => java.time.Instant.parse(s))
      .map(i => i.getEpochSecond * 1000000L + i.getNano / 1000L).getOrElse(0L)

  def droppedByWatermark(ps: Seq[StreamingQueryProgress]): Long =
    ps.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum

  /** The `streaming.*` layer metrics of a run of micro-batches: per-batch
    * medians, except the counts, the state peaks and the drop total.
    */
  def layer(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)
    def med(f: StreamingQueryProgress => Double) = Stats.median(ps.map(f))
    val data = ps.filter(_.numInputRows > 0)
    Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.batch_ms_p50" -> Stats.median(ps.map(d(_, "triggerExecution"))),
      "streaming.batch_ms_p99" -> Stats.quantile(ps.map(d(_, "triggerExecution")), 0.99),
      "streaming.no_data_batches" -> (ps.size - data.size).toDouble,
      "streaming.state_commit_ms" -> med(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
      "streaming.wal_commit_ms" -> med(d(_, "walCommit")),
      "streaming.commit_offsets_ms" -> med(d(_, "commitOffsets")),
      "streaming.query_planning_ms" -> med(d(_, "queryPlanning")),
      "streaming.latest_offset_ms" -> med(d(_, "latestOffset")),
      "streaming.add_batch_ms" -> med(d(_, "addBatch")),
      "streaming.state_update_ms" -> med(_.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble),
      "streaming.state_remove_ms" -> med(_.stateOperators.map(_.allRemovalsTimeMs).sum.toDouble),
      "streaming.processed_rows_per_s" -> Stats.median(data.map(_.processedRowsPerSecond)),
      "streaming.state_rows" ->
        (if (ps.isEmpty) 0.0 else ps.map(_.stateOperators.map(_.numRowsTotal).sum).max.toDouble),
      "streaming.state_bytes" ->
        (if (ps.isEmpty) 0.0 else ps.map(_.stateOperators.map(_.memoryUsedBytes).sum).max.toDouble),
      "streaming.rows_dropped_by_watermark" -> droppedByWatermark(ps).toDouble)
  }

  def progressMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }
}

/** Publishes a schedule on its due times from one thread (open loop), and
  * records how late each publish ran.
  */
final class Generator(topic: String, schedule: IndexedSeq[StreamGen.Event])
    extends Thread("graftbench-generator") {
  setDaemon(true)
  @volatile private var stopped = false
  @volatile var published = 0
  @volatile var startNs = 0L
  val lateNs = new Array[Long](schedule.size)

  @volatile private var from = 0

  override def run(): Unit = {
    var i = from
    while (!stopped && i < schedule.size) {
      val due = startNs + schedule(i).dueNs
      var now = System.nanoTime()
      while (!stopped && now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      while (!stopped && i < schedule.size && startNs + schedule(i).dueNs <= now) {
        Streams.publish(topic, schedule(i))
        lateNs(i) = System.nanoTime() - (startNs + schedule(i).dueNs)
        i += 1
        published = i
      }
    }
  }

  /** Starts publishing at event `skip`, on a clock that reads `offsetNs`
    * now: the events before `skip` were published ahead as a backlog.
    */
  def begin(skip: Int, offsetNs: Long): Unit = {
    from = skip; published = skip
    startNs = System.nanoTime() - offsetNs
    start()
  }
  def finish(): Unit = { stopped = true; join() }
  def exhausted: Boolean = published >= schedule.size
}
