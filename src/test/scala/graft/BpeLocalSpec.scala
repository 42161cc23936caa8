package graft

import graft.operators.Bpe

/** Pins the r19 driver-side BPE trainer against the distributed batch
  * loop it replaces below the vocab threshold: identical merge tables
  * (rank, pair, merged, count) and identical final vocabulary
  * segmentations, on corpora that exercise collisions, self-pairs,
  * re-minting, and multi-byte/supplementary code points.
  */
class BpeLocalSpec extends SparkSpecBase {
  import spark.implicits._

  private def both(texts: Seq[String], nMerges: Int, batchK: Int = 32) = {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val local = Bpe.train(docs, nMerges, batchK) // default threshold: driver
    spark.conf.set("graft.bpe.driverMaxVocab", "0")
    val dist = try Bpe.train(docs, nMerges, batchK)
      finally spark.conf.unset("graft.bpe.driverMaxVocab")
    (local, dist)
  }

  private def mergeRows(m: Bpe.BpeModel) =
    m.merges.orderBy("rank")
      .as[(Int, String, String, String, Long)].collect().toSeq

  private def segRows(m: Bpe.BpeModel) =
    m.vocab.select("word", "segmentation")
      .as[(String, Seq[String])].collect().toMap

  test("driver trainer ≡ distributed trainer on the adversarial fixture") {
    val texts = Seq(
      "aaaa aaab baaa running ring singing king",
      "aaa aa running singing ring ring kingkin",
      "inging ging ning inin gggg aaag gaaa",
      "ring king sing singing running gunning")
    val (local, dist) = both(texts, nMerges = 40)
    assert(mergeRows(local) === mergeRows(dist))
    assert(segRows(local) === segRows(dist))
    assert(mergeRows(local).nonEmpty)
    local.stage.unpersist(); dist.stage.unpersist()
    spark.catalog.clearCache()
  }

  test("driver trainer ≡ distributed trainer with multi-byte and " +
    "supplementary code points") {
    val texts = Seq(
      "héhé héllo héé 😀😀a a😀😀",
      "héllo héhé ééé 😀a😀 ааа ааб",
      "abc abcd bcda céé")
    val (local, dist) = both(texts, nMerges = 20, batchK = 4)
    assert(mergeRows(local) === mergeRows(dist))
    assert(segRows(local) === segRows(dist))
    local.stage.unpersist(); dist.stage.unpersist()
    spark.catalog.clearCache()
  }

  test("driver trainer ≡ distributed at batchK = 1 (pure sequential greedy)") {
    val texts = Seq("low lower lowest newer newest wider widest")
    val (local, dist) = both(texts, nMerges = 15, batchK = 1)
    assert(mergeRows(local) === mergeRows(dist))
    assert(segRows(local) === segRows(dist))
    local.stage.unpersist(); dist.stage.unpersist()
    spark.catalog.clearCache()
  }
}
