package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Results must not depend on query order or on which shared artifact an
  * earlier query published. Each session is fresh, so it builds its own
  * artifacts: one runs every consumer before its producer (the consumers
  * build the artifact themselves), the other runs producers first. Every
  * query's full-column hash must match between the two. The learned-model
  * oracles are consumers too: their SQL must match whether read before
  * the queries, after them, or in a session that ran no query.
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
    // IVF coarse quantizer (q33); q129's PQ models and q133's PCA basis,
    // whose consumer is the oracle, read before the queries here
    "q51_ann_ivf_multiprobe", "q120_ann_frontier", "q138_twolevel_assign",
    "q129_pq_frontier", "q33_ann_ivf_kmeans", "q133_pca_project")

  private val producersFirst = Seq(
    "q11_dedup_minhash_lsh", "q52_dedup_clusters", "q93_dedup_savings",
    "q105_minhash_calibration", "q106_source_overlap",
    "q118_bpe_encode", "q123_bpe_fertility",
    "q04_join_panel_module", "q05_variance_deviance", "q06_join_module_panel",
    "q07_anomaly_filter", "q08_flagship_anomalies",
    "q33_ann_ivf_kmeans", "q129_pq_frontier", "q133_pca_project",
    "q51_ann_ivf_multiprobe", "q120_ann_frontier", "q138_twolevel_assign")

  private val learnedOracles = Set("q118_bpe_encode", "q123_bpe_fertility",
    "q129_pq_frontier", "q133_pca_project", "q138_twolevel_assign")

  /** Sorted per-row xxhash64 over every column, per query, and the
    * learned-model oracles' SQL, read before the queries if `oracleFirst`.
    */
  private def run(order: Seq[String], oracleFirst: Boolean)
      : (Map[String, Seq[Long]], Map[String, String]) = {
    val s = spark.newSession()
    def oracles = SparkEntry.oracleSql(s, dir).filter(o => learnedOracles(o._1))
    try {
      val early = if (oracleFirst) Some(oracles) else None
      val hashes = order.map { q =>
        val df = SparkEntry.queries(q)(s, dir)
        q -> df.select(xxhash64(df.columns.map(c => df.col(s"`$c`")): _*))
          .collect().map(_.getLong(0)).sorted.toSeq
      }.toMap
      (hashes, early.getOrElse(oracles))
    } finally release(s)
  }

  private def release(s: SparkSession): Unit =
    Seq("lshCalib", "ccLabels", "bpeMerges", "bpeOracleSafe", "solarModule",
      "kmeans", "pqModels", "pca").foreach(SessionArtifacts.release(s, dir, _))

  test("consumers before producers hash-equal producers first") {
    assert(consumersFirst.sorted === producersFirst.sorted)
    val (a, oa) = run(consumersFirst, oracleFirst = true)
    val (b, ob) = run(producersFirst, oracleFirst = false)
    val (_, oc) = run(Nil, oracleFirst = true)
    consumersFirst.foreach { q =>
      assert(a(q).nonEmpty, s"$q returned no rows")
      assert(a(q) === b(q), s"$q differs with query order")
    }
    assert(oa.keySet === learnedOracles)
    learnedOracles.foreach { q =>
      assert(oa(q) === ob(q), s"$q's oracle differs with query order")
      assert(oa(q) === oc(q), s"$q's oracle differs in a session that ran no query")
    }
  }
}
