package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Results must not depend on query order or on which shared artifact an
  * earlier query published. Each session is fresh, so it builds its own
  * artifacts: one runs every consumer before its producer (the consumers
  * build the artifact themselves), the other runs producers first. Every
  * query's full-column hash must match between the two.
  */
class QueryOrderSpec extends SparkSpecBase {
  private val dir = "/root/testdata/sf0.001"

  private val consumersFirst = Seq(
    // LSH calibration (q11) and CC labels (q52)
    "q93_dedup_savings", "q105_minhash_calibration", "q106_source_overlap",
    "q11_dedup_minhash_lsh", "q52_dedup_clusters",
    // BPE merge table (q118)
    "q123_bpe_fertility", "q118_bpe_encode",
    // Solar module aggregate
    "q05_variance_deviance", "q06_join_module_panel", "q07_anomaly_filter",
    "q08_flagship_anomalies", "q04_join_panel_module",
    // IVF coarse quantizer (q33)
    "q51_ann_ivf_multiprobe", "q120_ann_frontier", "q33_ann_ivf_kmeans")

  private val producersFirst = Seq(
    "q11_dedup_minhash_lsh", "q52_dedup_clusters", "q93_dedup_savings",
    "q105_minhash_calibration", "q106_source_overlap",
    "q118_bpe_encode", "q123_bpe_fertility",
    "q04_join_panel_module", "q05_variance_deviance", "q06_join_module_panel",
    "q07_anomaly_filter", "q08_flagship_anomalies",
    "q33_ann_ivf_kmeans", "q51_ann_ivf_multiprobe", "q120_ann_frontier")

  /** Sorted per-row xxhash64 over every column, per query. */
  private def run(order: Seq[String]): Map[String, Seq[Long]] = {
    val s = spark.newSession()
    try order.map { q =>
      val df = SparkEntry.queries(q)(s, dir)
      q -> df.select(xxhash64(df.columns.map(c => df.col(s"`$c`")): _*))
        .collect().map(_.getLong(0)).sorted.toSeq
    }.toMap
    finally release(s)
  }

  private def release(s: SparkSession): Unit =
    Seq("lshCalib", "ccLabels", "bpeMerges", "bpeOracleSafe", "solarModule",
      "kmeans").foreach(SessionArtifacts.release(s, dir, _))

  test("consumers before producers hash-equal producers first") {
    assert(consumersFirst.sorted === producersFirst.sorted)
    val a = run(consumersFirst)
    val b = run(producersFirst)
    consumersFirst.foreach { q =>
      assert(a(q).nonEmpty, s"$q returned no rows")
      assert(a(q) === b(q), s"$q differs with query order")
    }
  }
}
