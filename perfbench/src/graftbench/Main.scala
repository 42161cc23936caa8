package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.Engine

/** One benchmark run of one workload in this JVM. Writes the result record
  * (and, when traced, the spans) to the files named on the command line;
  * `perfbench/run.py` builds the classpath, starts this JVM and prints
  * the record.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --cpus <n> --data <dir> --expected <file> --work <dir> --out <file>
  * [--spans <file>]`, or `--record-hashes <file> --data <dir> --cpus <n>
  * --work <dir>`.
  */
object Main {
  val Workloads = Seq("stream-steady", "batch-headline")

  def session(cpus: Int, work: String): SparkSession = {
    val spark = Engine.builder("graft-perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Peak resident set of this process (`VmHWM`), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = args("cpus").toInt
    val work = args("work")
    Files.createDirectories(Paths.get(work))
    args.get("record-hashes") match {
      case Some(out) =>
        val spark = session(cpus, work)
        BatchHeadline.record(spark, args("data"), out)
        spark.stop()
      case None => run(args, cpus, work)
    }
  }

  private def run(args: Map[String, String], cpus: Int, work: String): Unit = {
    val workload = args("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus, work)
    Phase.mark("session up")
    val tracer = if (traced) Some(new Tracer(spark).install()) else None
    // set-up: JVM start to the workload's start, plus the workload's own set-up
    val bootS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val o = workload match {
      case "stream-steady" => StreamSteady.run(spark, seed, seconds, cpus, work, tracer)
      case "batch-headline" =>
        BatchHeadline.run(spark, args("data"), args("expected"), seed, seconds, cpus, tracer)
    }
    val setupS = bootS + o.setupNs / 1e9
    val e2e = o.e2e ++ Map(
      "setup_s" -> Metric(setupS, "s"),
      "peak_rss_mb" -> Metric(peakRssMb(), "MiB"))
    val metrics = if (traced) o.layer else e2e
    val record = Json.obj(Seq(
      "correct" -> (o.failed == 0 && o.attempted > 0).toString,
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, m) =>
        k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))) }),
      "notes" -> Json.arr((o.notes ++ (if (traced) e2e.toSeq.sortBy(_._1).map { case (k, m) =>
        f"traced end-to-end $k ${m.value}%.4f ${m.unit}" } else Nil)).map(Json.str))))
    tracer.foreach { tr =>
      args.get("spans").foreach { p =>
        Files.write(Paths.get(p), tr.spansJson(Seq("workload" -> Json.str(workload),
          "seed" -> seed.toString)).getBytes(UTF_8))
      }
    }
    Files.write(Paths.get(args("out")), record.getBytes(UTF_8))
    Phase.mark("result written")
    spark.stop()
    Phase.mark("session stopped")
  }
}
