package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** First-class state-store observability (VERDICT r12 #8): the
  * per-operator state rows/bytes that the round-12 streaming probe read
  * ad hoc (SURVEY.md "Round-12 streaming micro-batch economics"),
  * surfaced as a report relation any ops job can sink — the view a
  * 100 TB stream is actually operated on. A stateful pipeline's failure
  * mode at scale is UNBOUNDED STATE (a watermark that stopped advancing,
  * a join whose other side stalled, a hot key): the signal is per-operator
  * `numRowsTotal` ceasing to plateau, visible here batches before the
  * executors OOM.
  *
  * Source of truth is [[StreamingQuery.recentProgress]] — one
  * `StreamingQueryProgress` per completed micro-batch, each carrying a
  * `StateOperatorProgress` per stateful operator (aggregations, joins,
  * dedup, (flat)MapGroupsWithState/transformWithState all report here).
  * The report is driver-side metadata (`spark.sql.streaming
  * .numRecentProgressUpdates` batches × #operators rows — tiny); nothing
  * touches executors.
  */
object StateReport {

  /** One row per (micro-batch, stateful operator). `rowsTotal` is live
    * state AFTER the batch's eviction; `rowsRemoved` is what the
    * watermark evicted IN the batch; `memoryBytes` is provider-reported
    * (for RocksDB: SST file footprint, which grows with compaction debt
    * even while live rows stay flat — alert on rows, not bytes).
    */
  case class OperatorState(
      batchId: Long,
      opIndex: Int,
      operatorName: String,
      rowsTotal: Long,
      rowsUpdated: Long,
      rowsRemoved: Long,
      memoryBytes: Long)

  /** The raw per-(batch, operator) state series of a query's retained
    * progress window, oldest batch first.
    */
  def operatorStates(q: StreamingQuery): Seq[OperatorState] =
    q.recentProgress.toSeq.flatMap { p =>
      p.stateOperators.toSeq.zipWithIndex.map { case (op, i) =>
        OperatorState(p.batchId, i, op.operatorName, op.numRowsTotal,
          op.numRowsUpdated, op.numRowsRemoved, op.memoryUsedBytes)
      }
    }

  /** [[operatorStates]] as a DataFrame — the shape an ops pipeline sinks
    * to its metrics store per trigger.
    */
  def stateReport(spark: SparkSession, q: StreamingQuery): DataFrame = {
    import spark.implicits._
    operatorStates(q).toDF()
  }

  /** Per-operator growth summary over the retained window — the alert
    * input: `last_rows` vs `max_rows` says whether state is still at its
    * peak; `net_growth` (last minus first) over a window where the
    * watermark advanced should hover near zero for a healthy pipeline,
    * and a persistently positive slope is the unbounded-state signal.
    */
  case class OperatorGrowth(
      opIndex: Int,
      operatorName: String,
      nBatches: Int,
      firstRows: Long,
      lastRows: Long,
      maxRows: Long,
      netGrowth: Long,
      totalRemoved: Long)

  def growthSummary(q: StreamingQuery): Seq[OperatorGrowth] =
    operatorStates(q).groupBy(s => (s.opIndex, s.operatorName)).toSeq
      .sortBy(_._1._1)
      .map { case ((i, name), ss) =>
        val byBatch = ss.sortBy(_.batchId)
        OperatorGrowth(i, name, byBatch.size,
          byBatch.head.rowsTotal, byBatch.last.rowsTotal,
          byBatch.map(_.rowsTotal).max,
          byBatch.last.rowsTotal - byBatch.head.rowsTotal,
          byBatch.map(_.rowsRemoved).sum)
      }

  /** One row per (micro-batch, observation name, metric field) for every
    * `Dataset.observe` tap in the query — the inline-metrics view (the
    * reference's five debug-foreach stages, §2 row 4, as queryable
    * rows). Numeric metric fields widen to double; non-numeric fields
    * are skipped (observe metrics are aggregates — numeric in practice).
    */
  case class ObservedMetric(batchId: Long, observation: String,
      metric: String, value: Double)

  def observedMetrics(q: StreamingQuery): Seq[ObservedMetric] =
    q.recentProgress.toSeq.flatMap { p =>
      import scala.jdk.CollectionConverters._
      p.observedMetrics.asScala.toSeq.flatMap { case (name, row) =>
        row.schema.fields.zipWithIndex.toSeq.flatMap { case (f, i) =>
          if (row.isNullAt(i)) None
          else row.get(i) match {
            case n: java.lang.Number =>
              Some(ObservedMetric(p.batchId, name, f.name, n.doubleValue()))
            case _ => None
          }
        }
      }
    }

  /** [[observedMetrics]] as a DataFrame (the metrics-store sink shape). */
  def observedReport(spark: SparkSession, q: StreamingQuery): DataFrame = {
    import spark.implicits._
    observedMetrics(q).toDF()
  }
}
