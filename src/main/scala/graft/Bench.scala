package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every `SparkEntry` query against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line of per-query seconds.
  * Queries run in sorted name order (deterministic attribution) after a
  * single untimed warmup query that pays the one-off JIT/codegen/parquet
  * footer costs — standard benchmark hygiene so the first timed query
  * isn't charged for JVM warmup.
  */
object Bench {

  private def j(v: Double): String = (math.rint(v * 1e6) / 1e6).toString

  /** Fixed headline subset for the stdout line: the 9 reference-topology
    * queries + 13 flagship scale queries, chosen once so the numbers are
    * comparable round over round.
    */
  val HeadlineQueries: Seq[String] = Seq(
    "q01_scan_project", "q02_module_window_agg", "q03_panel_agg",
    "q04_join_panel_module", "q05_variance_deviance", "q06_join_module_panel",
    "q07_anomaly_filter", "q08_flagship_anomalies", "q09_json_roundtrip",
    "q10_dedup_exact", "q11_dedup_minhash_lsh", "q12_dedup_simhash",
    "q51_ann_ivf_multiprobe", "q52_dedup_clusters", "q83_span_dedup",
    "q84_lm_perplexity", "q98_bpe_train", "q100_bm25_topk",
    "q129_pq_frontier", "q136_semantic_dedup", "q155_knn_join",
    "q184_hard_negatives")

  /** Full record — file only: at 197 queries this line is ~12 KB. */
  private[graft] def fullLine(results: Seq[(String, Seq[Double])],
                              sfDir: String, diff: String = ""): String = {
    val qs = results.map { case (k, ts) => "\"" + k + "\":" + j(ts.min) }
      .mkString("{", ",", "}")
    val samples = results.map { case (k, ts) =>
      "\"" + k + "\":[" + ts.map(j).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val (total, totalMedian, noise) = totals(results)
    s"""{"metric":"total","value":${j(total)},"unit":"sec",""" +
      s""""total_median":${j(totalMedian)},"noise_ratio":${j(noise)},""" +
      s""""queries":$qs,"samples":$samples$diff,"sf":"$sfDir"}"""
  }

  /** `,"diff_vs_prev":{...}` — the jitter-vs-regression verdict against
    * the previous round's full record (VERDICT r16 #5: the bench gate,
    * made mechanical IN the bench output). Compares this run's minima to
    * the prior BENCH_OUT.json via [[tools.BenchDiff.movers]]: a mover is
    * a `REGRESSION?`/`improved` only when it escapes the other record's
    * full 3-sample noise envelope, `jitter` otherwise. `cap` bounds how
    * many movers are NAMED per category: the stdout line keeps 6 so a
    * pathological round can't push it past the collector's 2 KB tail
    * (ContractSpec pins the worst case), while the file record names
    * EVERY mover (cap = MaxValue) — a capped work-list in the only
    * complete record would hide most of its own findings (VERDICT r17
    * #2). Regressions are named worst-ratio first; improved are named
    * best-win first (ratio ascending — the descending ratio order that
    * regressions want would name the LEAST-improved queries). Empty
    * string when no prior record exists or it fails to parse — the
    * bench must never die on its own telemetry.
    */
  private[graft] def diffBlock(results: Seq[(String, Seq[Double])],
                               prevPath: String,
                               cap: Int = Int.MaxValue): String =
    try {
      val p = java.nio.file.Paths.get(prevPath)
      if (!java.nio.file.Files.exists(p)) ""
      else {
        val old = tools.BenchDiff.parse(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        if (old.mins.isEmpty) ""
        else {
          val (total, _, noise) = totals(results)
          val neu = tools.BenchDiff.Rec(
            results.map { case (k, ts) => k -> ts.min }.toMap,
            results.toMap, total, noise)
          val m = tools.BenchDiff.movers(old, neu)
          def named(v: String) = {
            val sel = m.filter(_._5 == v)
            // movers arrive ratio-desc = worst regression first; flip
            // for improved so the biggest wins survive the cap
            (if (v == "improved") sel.sortBy(_._4) else sel).take(cap)
              .map { case (q, _, n, r, _) =>
                "\"" + q + "\":{\"ratio\":" + j(math.rint(r * 100) / 100) +
                  ",\"sec\":" + j(n) + "}"
              }.mkString("{", ",", "}")
          }
          s""","diff_vs_prev":{"prev_total":${j(old.total)},""" +
            s""""n_regressions":${m.count(_._5 == "REGRESSION?")},""" +
            s""""regressions":${named("REGRESSION?")},""" +
            s""""n_improved":${m.count(_._5 == "improved")},""" +
            s""""improved":${named("improved")},""" +
            s""""jitter_movers":${m.count(_._5 == "jitter")}}"""
        }
      }
    } catch { case NonFatal(_) => "" }

  /** Compact stdout line: the harness that collects this output keeps
    * only the last ~2 KB of the run log, so a line carrying all 197
    * per-query timings gets its head truncated and parses as nothing
    * (observed rounds 4-15). `value` still totals ALL queries;
    * BENCH_OUT.json (`detail`) carries the complete per-query record.
    */
  private[graft] def stdoutLine(results: Seq[(String, Seq[Double])],
                                outPath: String, sfDir: String,
                                diff: String = ""): String = {
    val (total, totalMedian, noise) = totals(results)
    val byName = results.toMap
    val headQs = HeadlineQueries
      .flatMap(k => byName.get(k).map(ts => "\"" + k + "\":" + j(ts.min)))
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${j(total)},"unit":"sec",""" +
      s""""total_median":${j(totalMedian)},"noise_ratio":${j(noise)},""" +
      s""""n_queries":${results.size},"queries":$headQs$diff,""" +
      s""""detail":"$outPath","sf":"$sfDir"}"""
  }

  /** (sum of per-query minima, sum of medians, noise ratio). Failure
    * markers (-1.0) are excluded from the sums; noise_ratio =
    * sum(median)/sum(min) is ~1 on a quiet host, >>1 when the non-min
    * samples absorbed VM stalls (the min is the signal).
    */
  private def totals(
      results: Seq[(String, Seq[Double])]): (Double, Double, Double) = {
    val total = results.map(_._2.min.max(0.0)).sum
    val totalMedian = results.map(_._2.sorted.apply(1).max(0.0)).sum
    (total, totalMedian, if (total > 0) totalMedian / total else 1.0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Engine.builder("graft-bench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val names = SparkEntry.queries.keys.toSeq.sorted
    // Warm every query's code path once on the smallest scale factor:
    // profiled cold-JVM runs spent 10-40× the steady-state time in JIT +
    // whole-stage-codegen compilation (q11: 26 s cold vs 0.6 s warm), which
    // would be charged to whichever query ran first. Data at the measured
    // SF stays cold; only code warms. Generated code stays warm only
    // because Engine.builder sizes the code generator's cache to the
    // 200-query working set (about 2.2k classes): at Spark's default of
    // 100 classes the later queries of this pass evicted the earlier
    // ones', and every timed run compiled its code again.
    val warmDir = {
      val d = new java.io.File("/root/testdata/sf0.001")
      if (d.isDirectory) d.getPath else sfDir
    }
    // NonFatal only: an OutOfMemoryError/LinkageError poisons the JVM, so
    // letting it propagate (aborting the run) beats reporting unreliable
    // timings for every query after it
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, warmDir).count()
      catch { case NonFatal(_) => () }
    }

    spark.catalog.clearCache() // drop warmup-run persists before timing

    // Min of 3 timed runs per query: this host's VM noise (page-commit
    // stalls, steal time) lands multi-second pauses on random queries, so a
    // single sample makes round-over-round comparison a coin flip — the
    // documented spread for identical code is 1.2-3×. The minimum is the
    // best estimator of the noise-free cost (noise is strictly additive).
    val results = names.map { name =>
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case NonFatal(_) => false }
        val dt = (System.nanoTime() - t0) / 1e9
        // each query persists its own intermediates; drop them so later
        // runs/queries aren't charged for earlier cache pressure
        spark.catalog.clearCache()
        if (ok) dt else -1.0
      }
      // a crashed query must not masquerade as a fast success
      name -> (if (times.exists(_ < 0)) Seq(-1.0, -1.0, -1.0) else times)
    }
    // per-query raw samples ride the file record: jitter-vs-regression is
    // decidable from the record itself (this VM's spread for identical
    // code is 1.2-3×, so a single min moving round-over-round proves
    // nothing on its own)
    val outPath = sys.env.getOrElse("BENCH_OUT", "BENCH_OUT.json")
    // the pre-overwrite BENCH_OUT.json is the PREVIOUS round's committed
    // full record — diff against it before clobbering; the file record
    // names EVERY mover, stdout at most 6 per category (width budget)
    val diff = diffBlock(results, outPath)
    val stdoutDiff = diffBlock(results, outPath, cap = 6)
    val full = fullLine(results, sfDir, diff)
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (full + "\n").getBytes("UTF-8"))
    catch { case NonFatal(_) =>
      // a failed file write must not lose the only complete per-query
      // record (ADVICE r16) — stderr keeps it recoverable without
      // breaking the one-JSON-line stdout contract
      System.err.println(full)
    }
    // bare stdout: build.sbt sets run/outputStrategy := StdoutOutput so sbt
    // adds no "[info] " prefix
    println(stdoutLine(results, outPath, sfDir, stdoutDiff))
    spark.stop()
  }
}
