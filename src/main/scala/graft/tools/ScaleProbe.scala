package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine
import graft.operators.{Curation, Dedup, Similarity, Solar, Stages}

/** Scale probe: synthesize an events table N× the sf0.1 row count and time
  * the flagship pipeline on it, to measure how the plan actually scales
  * (rows/sec held or degraded) rather than asserting it from the plan
  * shape. Synthetic data mirrors the testdata distribution: 5 panels × 15
  * modules, 30-day span, uniform values.
  *
  * Usage: runMain graft.tools.ScaleProbe [rowsMillions] [cpus]
  */
object ScaleProbe {
  def syntheticEvents(spark: SparkSession, rows: Long): DataFrame =
    spark.range(rows).select(
      timestamp_micros(lit(1704067200000000L) +
        (pmod(xxhash64(col("id"), lit(1)), lit(2592000L)) * 1000000L)).as("ts"),
      concat(lit("panel-"), pmod(xxhash64(col("id"), lit(2)), lit(5))).as("event_type"),
      pmod(xxhash64(col("id"), lit(3)), lit(15)).as("user_id"),
      (pmod(xxhash64(col("id"), lit(4)), lit(100000)) / lit(1000.0)).as("value"))

  /** Synthetic documents: ~50 hash-chosen words from a 1000-word vocab per
    * doc (no planted dups — these probes measure the signature/bucketing
    * cost curve, not recall).
    */
  def syntheticDocs(spark: SparkSession, rows: Long): DataFrame =
    spark.range(rows).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 50).map(j =>
        concat(lit("w"), pmod(xxhash64(col("id"), lit(100 + j)), lit(1000)))): _*)
        .as("text"))

  /** Synthetic 64-dim float embeddings in [-1, 1). */
  def syntheticEmbeddings(spark: SparkSession, rows: Long): DataFrame =
    spark.range(rows).select(col("id").as("vec_id"),
      array((0 until 64).map(j =>
        ((pmod(xxhash64(col("id"), lit(200 + j)), lit(2000)) - lit(1000)) / lit(1000.0))
          .cast("float")): _*).as("embedding"))

  def main(args: Array[String]): Unit = {
    val millions = if (args.length > 0) args(0).toInt else 10
    val cpus = if (args.length > 1) args(1) else sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.builder("graft-scale-probe")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(name: String, rowsIn: Long)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"SCALE $name rows_in=$rowsIn rows_out=$n sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }

    val rows = millions * 1000000L
    // materialize each input once so generation cost isn't timed; no
    // probe below caches anything of its own, so the input stays cached
    // until its group is done
    val events = Stages.materialized(syntheticEvents(spark, rows))
    time("solar_pipeline", rows)(Solar.pipeline(events).count())
    time("exact_dedup", rows) {
      // exact dedup over the synthetic values rendered as text
      Dedup.exact(events.select(col("user_id").as("doc_id"),
        concat_ws(" ", col("event_type"), col("value").cast("string")).as("text"))).count()
    }
    events.unpersist()

    // document-pipeline probes at rows/10 (each doc is ~50 words — a 10 M
    // probe hashes 500 M tokens through the simhash/curation kernels)
    val docRows = rows / 10
    val docs = Stages.materialized(syntheticDocs(spark, docRows))
    time("simhash_bucketed", docRows)(
      Dedup.simhashBucketedNearDups(docs).count())
    time("curation_pipeline", docRows)(
      Curation.curate(docs, "und", 0.0).count())
    time("stratified_sample", docRows)(
      Curation.stratifiedSample(docs, Map("und" -> 10), 50).count())
    docs.unpersist()

    val embRows = rows / 10
    val embs = Stages.materialized(syntheticEmbeddings(spark, embRows))
    time("quantize_int8", embRows)(Similarity.quantizeInt8(embs).count())
    time("kmeans_cells", embRows)(Similarity.kmeansCells(embs, k = 4, iters = 2).count())
    embs.unpersist()
    spark.stop()
  }
}
