package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.streaming.StreamingSummary

/** Pins the continuously-maintained summary (the q188/q189 streaming
  * leg): after every micro-batch the stored artifact equals the one-shot
  * recompute over everything ingested so far, versions advance through
  * `_HEAD`, and a replayed batch id is a no-op (the at-least-once
  * idempotence claim).
  */
class StreamingSummarySpec extends SparkSpecBase {
  import spark.implicits._

  private def summarize(df: org.apache.spark.sql.DataFrame) =
    df.groupBy(col("g")).agg(count(lit(1)).as("cnt"),
      sum(col("x")).as("sum_x"), min(col("x")).as("min_x"),
      max(col("x")).as("max_x"))

  test("per-batch maintenance equals recompute; replayed batch ids are " +
       "no-ops; readers resolve through _HEAD") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = Bridge.tempDir("graft_stream_mv_") + "/store"
    val base = Seq(("a", 1L), ("a", 5L), ("b", 10L)).toDF("g", "x")
    StreamingSummary.init(spark, root, summarize(base))
    assert(StreamingSummary.head(spark, root) === ((1L, -1L)))

    val input = MemoryStream[(String, Long)]
    val q = StreamingSummary.maintain(input.toDF.toDF("g", "x"), root,
        Seq("g"), "cnt", Map("x" -> "sum_x"), Map("x" -> "min_x"),
        Map("x" -> "max_x"))
      .option("checkpointLocation", root + "_ckpt").start()
    try {
      val b1 = Seq(("a", 0L), ("c", 7L))
      val b2 = Seq(("b", 2L), ("c", 3L), ("c", 4L))
      input.addData(b1); q.processAllAvailable()
      assert(StreamingSummary.current(spark, root)
        .collect().map(_.toSeq).toSet ===
        summarize(base.unionByName(b1.toDF("g", "x")))
          .collect().map(_.toSeq).toSet)
      val vAfter1 = StreamingSummary.head(spark, root)._1
      input.addData(b2); q.processAllAvailable()
      val all = base.unionByName(b1.toDF("g", "x"))
        .unionByName(b2.toDF("g", "x"))
      assert(StreamingSummary.current(spark, root)
        .collect().map(_.toSeq).toSet ===
        summarize(all).collect().map(_.toSeq).toSet)
      assert(StreamingSummary.head(spark, root)._1 === vAfter1 + 1)
    } finally q.stop()

    // idempotence: a REPLAYED batch id (a fresh checkpoint restarts ids
    // at 0, which is <= the recorded lastId) must be a no-op — the
    // at-least-once retry path of foreachBatch
    val (v, lastId) = StreamingSummary.head(spark, root)
    assert(lastId >= 0)
    val before = StreamingSummary.current(spark, root)
      .collect().map(_.toSeq).toSet
    val in2 = MemoryStream[(String, Long)]
    val q2 = StreamingSummary.maintain(in2.toDF.toDF("g", "x"), root,
        Seq("g"), "cnt", Map("x" -> "sum_x"), Map("x" -> "min_x"),
        Map("x" -> "max_x"))
      .option("checkpointLocation", root + "_ckpt2").start()
    try {
      in2.addData(Seq(("a", 999L))); q2.processAllAvailable()
    } finally q2.stop()
    assert(StreamingSummary.head(spark, root) === ((v, lastId)))
    assert(StreamingSummary.current(spark, root)
      .collect().map(_.toSeq).toSet === before)

    // crash-window recovery: a lost _HEAD (the delete-then-rename gap on
    // filesystems without overwrite-rename, or manual damage) must not
    // brick the store — head() recovers version AND replay cursor from
    // the newest version's _GRAFT_META twin, so current() still reads
    // the complete artifact and a resumed maintain() keeps deduping
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root, "_HEAD"), false)
    assert(StreamingSummary.head(spark, root) === ((v, lastId)),
      "head() must recover (version, batchId) from _GRAFT_META")
    assert(StreamingSummary.current(spark, root)
      .collect().map(_.toSeq).toSet === before)
  }
}
