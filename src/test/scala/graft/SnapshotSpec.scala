package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.operators.{Curation, Stages}
import graft.sources.SnapshotStore

/** Versioned snapshot store: commit/time-travel round-trip, rollback to
  * earlier versions, checksum verification, retention/compaction
  * semantics, and the crash-window/sequencing refusals.
  */
class SnapshotSpec extends SparkSpecBase {
  import spark.implicits._

  private def docsDf(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  /** Build a 3-version chain in a fresh store root; returns the root. */
  private def buildChain(): String = {
    val root = Bridge.tempDir("snapspec_")
    val v1 = docsDf(1L -> "alpha", 2L -> "beta", 3L -> "gamma")
    val v2 = docsDf(2L -> "beta revised", 4L -> "delta") // rewrite + insert
    val v3 = docsDf(2L -> "beta revised", 5L -> "eps")   // refresh + insert
    var fps = Curation.corpusFingerprints(v1.limit(0))
    val ckpts = scala.collection.mutable.Buffer[DataFrame]()
    Seq(v1, v2, v3).zipWithIndex.foreach { case (inc, i) =>
      val merged = Curation.mergeCorpusIncremental(inc, fps)
        .localCheckpoint(true)
      ckpts += merged
      SnapshotStore.commit(spark, root, i + 1L, merged)
      fps = merged.select("doc_id", "fp")
    }
    // everything downstream reads the store from DISK; the checkpoints
    // are spent once the last commit lands. Left behind, they destabilize
    // CacheHygieneSpec's persistent-RDD baseline when the async
    // ContextCleaner collects them mid-test (observed flake, r15)
    ckpts.foreach(Stages.releaseCheckpoint)
    root
  }

  private def membership(root: String, v: Long): Map[Long, Long] =
    SnapshotStore.corpusAsOf(spark, root, v)
      .as[(Long, Long)].collect().toMap

  private def fpOf(text: String): Long =
    docsDf(0L -> text)
      .select(graft.operators.TextAnalysis.fp64Expr(col("text")))
      .as[Long].head()

  test("commit/asOf round-trip: every version replays its exact membership") {
    val root = buildChain()
    assert(SnapshotStore.headVersion(spark, root) === 3L)
    val m1 = membership(root, 1)
    assert(m1.keySet === Set(1L, 2L, 3L))
    assert(m1(2L) === fpOf("beta"))
    val m2 = membership(root, 2)
    assert(m2.keySet === Set(1L, 2L, 3L, 4L))
    assert(m2(2L) === fpOf("beta revised")) // the rewrite landed
    assert(m2(1L) === m1(1L))               // carries untouched
    val m3 = membership(root, 3)
    assert(m3.keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(m3(2L) === m2(2L)) // v3's refresh changed nothing
    // rollback: committing v2/v3 never disturbed version 1's answer
    assert(membership(root, 1) === m1)
    // manifest audit: class counts recorded per version
    val ms = SnapshotStore.manifests(spark, root)
    assert(ms.map(m => (m.v, m.nInsert, m.nRewrite, m.nRefresh, m.nCarry))
      === Seq((1L, 3L, 0L, 0L, 0L), (2L, 1L, 1L, 0L, 2L),
        (3L, 1L, 0L, 1L, 3L)))
    assert(ms.forall(m => m.nDocs ===
      m.nInsert + m.nRewrite + m.nRefresh + m.nCarry))
  }

  test("verify recomputes each version's checksum from the chain") {
    val root = buildChain()
    (1L to 3L).foreach(v =>
      assert(SnapshotStore.verify(spark, root, v), s"checksum broke at v=$v"))
    assert(!SnapshotStore.verify(spark, root, 9L)) // never committed
  }

  test("compaction preserves asOf at and after the base, refuses before, " +
    "and drops superseded feeds") {
    val root = buildChain()
    val m2 = membership(root, 2)
    val m3 = membership(root, 3)
    SnapshotStore.compact(spark, root, upTo = 2)
    assert(membership(root, 2) === m2) // base replay ≡ feed replay
    assert(membership(root, 3) === m3) // base + post-base feed
    assert(SnapshotStore.verify(spark, root, 2))
    assert(SnapshotStore.verify(spark, root, 3))
    // retention horizon: version 1's history is gone — loud refusal,
    // never a silently-wrong answer
    val e = intercept[IllegalArgumentException](membership(root, 1))
    assert(e.getMessage.contains("retention"))
    // superseded feeds deleted; the v3 feed survives
    val feeds = new java.io.File(root, "feeds").listFiles()
      .map(_.getName).filter(_.startsWith("v=")).toSet
    assert(feeds === Set("v=3"))
    // compacting again at the head leaves a single base
    SnapshotStore.compact(spark, root, upTo = 3)
    assert(membership(root, 3) === m3)
    val bases = new java.io.File(root, "base").listFiles()
      .map(_.getName).filter(_.startsWith("v=")).toSet
    assert(bases === Set("v=3"))
  }

  test("an empty merge output commits an empty version cleanly") {
    val root = Bridge.tempDir("snapspec_empty_")
    val empty = Curation.mergeCorpusIncremental(
      docsDf().limit(0), Curation.corpusFingerprints(docsDf().limit(0)))
    val m = SnapshotStore.commit(spark, root, 1L, empty)
    assert(m.nDocs === 0L && m.nInsert === 0L && m.checksum === 0L)
    assert(SnapshotStore.corpusAsOf(spark, root, 1L).count() === 0L)
    assert(SnapshotStore.verify(spark, root, 1L))
    // and a real version can follow the empty bootstrap
    val v2 = Curation.mergeCorpusIncremental(docsDf(1L -> "a"),
      SnapshotStore.corpusAsOf(spark, root, 1L).select("doc_id", "fp"))
    SnapshotStore.commit(spark, root, 2L, v2)
    assert(membership(root, 2).keySet === Set(1L))
  }

  test("commits are strictly sequential and uncommitted orphans are " +
    "invisible until their manifest row lands") {
    val root = buildChain()
    val extra = Curation.mergeCorpusIncremental(
      docsDf(6L -> "zeta"),
      SnapshotStore.corpusAsOf(spark, root, 3).select("doc_id", "fp"))
    // wrong version numbers refuse (fork / replay protection)
    intercept[IllegalArgumentException](
      SnapshotStore.commit(spark, root, 3L, extra))
    intercept[IllegalArgumentException](
      SnapshotStore.commit(spark, root, 5L, extra))
    // crash window: a feed directory written WITHOUT its manifest row
    // (commit died mid-flight) must not change head or any answer
    extra.filter(col("change").isin("insert", "rewrite"))
      .select("doc_id", "fp")
      .write.parquet(s"$root/feeds/v=4")
    assert(SnapshotStore.headVersion(spark, root) === 3L)
    intercept[IllegalArgumentException](membership(root, 4))
    val m3 = membership(root, 3)
    assert(!m3.contains(6L))
    // the re-run commit overwrites the orphan and completes normally
    SnapshotStore.commit(spark, root, 4L, extra)
    assert(membership(root, 4).contains(6L))
    assert(SnapshotStore.verify(spark, root, 4))
  }
}
