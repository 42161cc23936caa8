package graftbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, SparkEntry}

/** `batch-headline`: a closed loop with one client. Each pass runs the
  * [[Queries]] in a seed-permuted order and consumes every
  * output column through an order-insensitive hash, which is compared
  * with the expected hash stored beside the benchmark. One untimed warm
  * pass in canonical order precedes the timed passes.
  */
object BatchHeadline {

  /** Mersenne prime 2^31 - 1: each row's hash is reduced below it before
    * the sum, so the sum cannot overflow under ANSI arithmetic.
    */
  val Modulus: Long = 2147483647L

  /** The `Bench.HeadlineQueries` a pass runs: all but `q129_pq_frontier`,
    * whose fresh codebook training took 5–7 s of a 15–28 s pass and 7 s
    * more in the warm pass. With it, the runs of a full check did not fit
    * their time limit on a busy 4-CPU host.
    */
  val Queries: Seq[String] = Bench.HeadlineQueries.filterNot(_ == "q129_pq_frontier")

  /** (sum of per-row hashes mod [[Modulus]], row count) over all columns,
    * taken in name order so column order does not matter either.
    */
  def resultHash(df: DataFrame): DataFrame = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    df.select(pmod(xxhash64(cols.toIndexedSeq: _*), lit(Modulus)).as("h"))
      .agg(coalesce(sum(col("h")), lit(0L)).as("hash"), count(lit(1)).as("rows"))
  }

  /** The query order of timed pass `pass` under `seed`. */
  def passOrder(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(Queries)

  final case class Run(name: String, hash: String, seconds: Double,
                       buildMs: Double, error: Option[String])

  /** Builds one query, hashes its full result and drops its caches.
    * With a tracer, the query's events land in their own scope.
    */
  def runQuery(spark: SparkSession, dir: String, name: String,
               tracer: Option[Tracer], parent: Int = 0): (Run, Map[String, Double]) = {
    val qid = tracer.map(_.newId()).getOrElse(0)
    tracer.foreach(_.open(qid))
    val t0 = System.nanoTime()
    var t1 = t0
    val res = try {
      val df = SparkEntry.queries(name)(spark, dir)
      t1 = System.nanoTime()
      val h = resultHash(df)
      tracer.foreach(_.expect(h.queryExecution))
      val r = h.collect()(0)
      tracer.foreach(_.awaitQe(h.queryExecution))
      Right(s"${r.getLong(0)}:${r.getLong(1)}")
    } catch { case NonFatal(e) => Left(e.toString.take(300)) }
    val t2 = System.nanoTime()
    spark.catalog.clearCache()
    val counters = tracer.map { tr =>
      if (res.isLeft) tr.flush()
      val c = tr.close()
      tr.span("build", tr.epochMs(t0), tr.epochMs(t1), qid)
      tr.span(s"query:$name", tr.epochMs(t0), tr.epochMs(t2), parent,
        Map("raced_cache_blocks" -> c.getOrElse("operators.raced_cache_blocks", 0.0),
          "cache_blocks_stored" -> c.getOrElse("operators.cache_blocks_stored", 0.0)),
        id = qid)
      c
    }.getOrElse(Map.empty)
    (Run(name, res.getOrElse(""), (t2 - t0) / 1e9, (t1 - t0) / 1e6, res.left.toOption),
      counters)
  }

  def loadExpected(path: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+", 2); k -> v }.toMap
    finally src.close()
  }

  /** Runs the canonical order once and writes `name hash` lines. */
  def record(spark: SparkSession, dir: String, out: String): Unit = {
    val lines = Queries.map { q =>
      val (r, _) = runQuery(spark, dir, q, None)
      r.error.foreach(e => throw new IllegalStateException(s"$q failed: $e"))
      s"$q ${r.hash}"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      ("# query  sum(pmod(xxhash64(sorted columns), 2^31-1)):rows\n" +
        lines.mkString("", "\n", "\n")).getBytes("UTF-8"))
    ()
  }

  def run(spark: SparkSession, dir: String, expectedPath: String, seed: Long,
          seconds: Int, cpus: Int, tracer: Option[Tracer]): Outcome = {
    val runStart = System.nanoTime()
    val expected = loadExpected(expectedPath)
    require(Queries.forall(expected.contains),
      s"$expectedPath lacks a hash for some headline query")
    // warm pass: JIT, whole-stage codegen and the shared session memos
    Queries.foreach(q => runQuery(spark, dir, q, None))
    val setupEnd = System.nanoTime()
    Phase.mark("batch: warm pass done")

    val runs = Seq.newBuilder[Run]
    val passSeconds = Seq.newBuilder[Double]
    val passCounters = Seq.newBuilder[(Map[String, Double], Double)]
    // timed passes while another one still fits in `seconds` (at least one):
    // a pass that overran now and then made the pass count, and with it
    // every figure, flip between runs
    var pass = 0
    var last = 0.0
    while (pass == 0 || (System.nanoTime() - setupEnd) / 1e9 + last <= seconds) {
      val p0 = System.nanoTime()
      val pid = tracer.map(_.newId()).getOrElse(0)
      val perQuery = passOrder(seed, pass).map(q => runQuery(spark, dir, q, tracer, pid))
      val wall = (System.nanoTime() - p0) / 1e9
      tracer.foreach(tr => tr.span(s"pass:$pass", tr.epochMs(p0), tr.epochMs(p0) + wall * 1e3, 0, id = pid))
      runs ++= perQuery.map(_._1)
      passSeconds += wall
      last = wall
      val total = perQuery.flatMap(_._2.toSeq).groupMapReduce(_._1)(_._2)(_ + _) +
        ("operators.build_ms" -> perQuery.map(_._1.buildMs).sum)
      passCounters += (total -> wall)
      pass += 1
    }
    val all = runs.result()
    val bad = all.filter(r => r.error.isDefined || expected(r.name) != r.hash)
    val passes = passSeconds.result()
    val lat = all.map(_.seconds * 1e3)
    val e2e = Map(
      "latency_p50_ms" -> Metric(Stats.median(lat), "ms"),
      "latency_p99_ms" -> Metric(Stats.quantile(lat, 0.99), "ms"),
      "latency_mean_ms" -> Metric(lat.sum / lat.size, "ms"))
    val layer = tracer.map { _ =>
      val pcs = passCounters.result()
      val keys = pcs.flatMap(_._1.keys).distinct
      val med = keys.map(k => k -> Stats.median(pcs.map(_._1.getOrElse(k, 0.0)))).toMap
      val busy = Stats.median(pcs.map { case (c, w) => c.getOrElse("engine.task_s", 0.0) / (w * cpus) })
      LayerMetrics.complete(med + ("engine.busy_ratio" -> busy))
    }.getOrElse(Map.empty)
    val notes = Seq(
      f"batch_pass_s ${Stats.median(passes)}%.4f s (median of ${passes.size} passes: ${passes.map(p => f"$p%.3f").mkString(", ")})",
      f"error_rate ${bad.size.toDouble / all.size}%.4f (${bad.size} of ${all.size} queries)",
      "slowest queries (median s): " + all.groupBy(_.name).toSeq
        .map { case (q, rs) => q -> Stats.median(rs.map(_.seconds)) }.sortBy(-_._2).take(6)
        .map { case (q, s) => f"$q $s%.3f" }.mkString(", ")) ++
      bad.take(5).map(r => s"  failed ${r.name}: ${r.error.getOrElse(s"hash ${r.hash} != expected ${expected(r.name)}")}")
    Outcome(setupEnd - runStart, all.size, bad.size, e2e, layer, notes)
  }
}
