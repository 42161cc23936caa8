package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{Engine, SparkEntry}

/** Per-query execution-shape profiler (optimization round r19): runs each
  * named query once warm under the bench session config and prints how the
  * wall time decomposes — number of Spark JOBS (each a driver action:
  * collects in model-fit loops, eager checkpoints, persists), stages,
  * tasks, and summed executor task time. A query whose wall >> task-time /
  * cores and whose job count is high is paying driver/scheduling fixed
  * costs (guide §5 — the driver should do almost no data work), not
  * compute; one with task-time ≈ wall × cores is compute-bound. The
  * codegen columns are the classes the measured run compiled (the
  * `CodegenMetrics` compilation count: code-cache misses) and their
  * compile time; after the warm run both should be near 0.
  *
  * Usage: runMain graft.tools.ProbeJobs <sfDir> <query>[,<query>...]
  * Env: SPARK_GRAFT_CPUS (default 32).
  */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val names =
      if (args.length > 1) args(1).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = Engine.builder("graft-probe-jobs")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    // A/B experiments: semicolon-separated k=v pairs, e.g.
    // SPARK_GRAFT_EXTRA_CONF="spark.sql.adaptive.coalescePartitions.minPartitionSize=64k"
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); b.config(k, v)
    })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    // per-stage task-time attribution: stageId -> (name, ms, tasks)
    val stageName = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stageMs = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]()
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, AtomicInteger]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val ops = e.stageInfo.rddInfos
          .flatMap(ri => ri.scope.map(_.name)).distinct
        stageName.put(e.stageInfo.stageId,
          (if (ops.nonEmpty) ops.mkString("|")
           else e.stageInfo.name.linesIterator.next()).take(160))
        ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskInfo != null) {
          taskMs.addAndGet(e.taskInfo.duration)
          stageMs.computeIfAbsent(e.stageId, _ => new AtomicLong(0L))
            .addAndGet(e.taskInfo.duration)
          stageTasks.computeIfAbsent(e.stageId, _ => new AtomicInteger(0))
            .incrementAndGet()
        }
        ()
      }
    })

    for (name <- names) {
      // warm code paths + session memos on the target dir
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case e: Throwable => println(s"WARM $name FAILED: $e") }
      spark.catalog.clearCache()
      // settle listener events from the warm run (the bus is
      // private[spark]; a short sleep is enough for a profiler)
      Thread.sleep(500)
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L)
      stageName.clear(); stageMs.clear(); stageTasks.clear()
      val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      val classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      println(f"PROBEJOBS $name rows=$n wall=$wall%.3f jobs=${jobs.get}" +
        f" stages=${stages.get} tasks=${tasks.get}" +
        f" taskSec=${taskMs.get / 1e3}%.2f" +
        f" codegen=$classes codegenMs=$compileMs%.1f")
      import scala.jdk.CollectionConverters._
      stageMs.asScala.toSeq.sortBy(-_._2.get()).take(8).foreach {
        case (sid, ms) =>
          val nm = Option(stageName.get(sid)).getOrElse("?")
          val nt = Option(stageTasks.get(sid)).map(_.get()).getOrElse(0)
          println(f"  STAGE $sid%5d ${ms.get() / 1e3}%8.2f s tasks=$nt%-4d $nm")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
