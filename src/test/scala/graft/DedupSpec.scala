package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, Stages}

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private val nearDup = base.replace("today", "tomorrow")   // one word differs
  private val unrelated = "completely different content with no shared phrases at all whatsoever"

  private def docs = Seq(
    (1L, base), (2L, nearDup), (3L, unrelated), (4L, base)  // 4 = exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts and keeps the smallest id") {
    val out = Dedup.exact(docs).select("keep_id", "dup_cnt")
      .as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("minhash LSH finds exact and near dups, not unrelated pairs") {
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))          // identical -> jaccard 1.0
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("pairsFromCalibration(0.5) is bit-identical to minhashNearDups(0.5)") {
    // the SparkEntry memo serves q11/q52/q93/q106/q108 a filter of the
    // calibration relation; this pins the claimed equivalence on a real
    // corpus (sf0.001 documents: empty-shingle docs, hot buckets, the lot)
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val stage = Dedup.minhashCalibrationStage(corpus)
    val fromCalib = Dedup.pairsFromCalibration(stage.result, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val direct = Dedup.minhashNearDupsStage(corpus, threshold = 0.5)
    val expected = direct.result.as[(Long, Long, Double)].collect().toSet
    stage.unpersist(); direct.unpersist()
    assert(fromCalib === expected)
    assert(expected.nonEmpty) // the corpus actually exercises the pipeline
  }

  test("lshRecall: exact duplicates are always caught (recall 1.0)") {
    // identical texts -> identical signatures -> every band collides:
    // the only truth pairs are exact dups, so recall must be exactly 1
    val exactDups = Seq(
      (1L, base), (2L, base), (3L, unrelated), (4L, base)
    ).toDF("doc_id", "text")
    val r = Dedup.lshRecall(exactDups).head()
    assert(r.getLong(0) === 3L)   // (1,2) (1,4) (2,4)
    assert(r.getLong(1) === 3L)
    assert(r.getDouble(2) === 1.0)
  }

  test("lshRecall on the sf0.001 corpus: caught is a subset of truth") {
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val r = Dedup.lshRecall(corpus).head()
    val (nTruth, nCaught, recall) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(nTruth > 0)                    // the corpus has near-dups
    assert(nCaught <= nTruth)             // precision 1 by construction
    assert(recall > 0.0 && recall <= 1.0)
  }

  test("minhashCalibrationStage releases its shingle index via the handle") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.size
    val stage = Dedup.minhashCalibrationStage(docs)
    stage.result.count()
    assert(spark.sparkContext.getPersistentRDDs.size > before)
    stage.unpersist()
    assert(spark.sparkContext.getPersistentRDDs.size === before)
  }

  test("windowed jaccard: identical pair scores 1.0, near pair in (0,1)") {
    val out = Dedup.windowedJaccardPairs(docs, idWindow = 10, threshold = 0.2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((1L, 4L)) === 1.0)
    assert(out((1L, 2L)) > 0.2 && out((1L, 2L)) < 1.0)
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical docs have hamming 0, near dups small hamming") {
    val out = Dedup.simhashNearDups(docs, maxHamming = 3, idWindow = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(out((1L, 4L)) === 0)
    assert(out.get((1L, 2L)).forall(_ <= 3))  // near dup usually collides
  }

  test("bucketed simhash equals brute-force all-pairs (pigeonhole is lossless)") {
    // hamming <= 3 over 4 blocks of 16 bits: any qualifying pair agrees on
    // >= 1 block, so bucketing must lose NOTHING vs the full cross product
    val real = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val s = Dedup.simhash(real)
    val brute = s.as("a").join(s.as("b"), $"b.doc_id" > $"a.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).as("hamming"))
      .filter($"hamming" <= 3)
      .as[(Long, Long, Int)].collect().toSet
    val bucketed = Dedup.simhashBucketedNearDups(real, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(bucketed === brute)
    assert(brute.nonEmpty) // fixture actually exercises the path
  }

  test("nearDupClusters: chains merge into one component with min-id label") {
    // edges 1-2, 2-5 chain; 7-8 separate; labels = min reachable id
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 8L)).toDF("id_a", "id_b")
    val clusters = Dedup.nearDupClusters(pairs)
    val out = clusters.as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 7L -> 7L, 8L -> 7L))
    Stages.releaseCheckpoint(clusters)
    spark.catalog.clearCache()
  }

  test("nearDupClusters: deep chain (diameter 12) completes with flat plans") {
    // Adversarially deep graph (VERDICT r4 #2 / r5 missing #3): a 13-node
    // path has diameter 12 — star rounds must stay logarithmic, the
    // result plan must be a flat checkpoint leaf (per-round
    // localCheckpoint), and the per-round checkpoints must not accumulate
    // in the block manager (each round releases its predecessor).
    val before = spark.sparkContext.getPersistentRDDs.size
    val pairs = (100L to 111L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // force the distributed star loop: this test pins ITS convergence and
    // lineage hygiene, which the r19 driver-side small-graph path would
    // otherwise bypass (CcEquivalenceSpec pins the two paths agree)
    spark.conf.set("graft.cc.driverMaxEdges", "0")
    val res = try Dedup.starClusters(pairs)
      finally spark.conf.unset("graft.cc.driverMaxEdges")
    assert(res.labels.as[(Long, Long)].collect().toMap ===
      (100L to 112L).map(_ -> 100L).toMap)
    // ⌈log₂ 12⌉ + 2 = 6 (the +2: final fixpoint-confirming round and
    // first-round orientation)
    assert(res.rounds <= 6, s"star rounds not logarithmic: ${res.rounds}")
    val planDepth = res.labels.queryExecution.optimizedPlan.toString
      .linesIterator.size
    assert(planDepth < 10, s"lineage not truncated: $planDepth-line plan")
    // only the final edge table's checkpoint may remain cached beyond
    // what previous tests left in the session
    assert(spark.sparkContext.getPersistentRDDs.size <= before + 1,
      "per-round checkpoints leaked")
    Stages.releaseCheckpoint(res.labels)
    spark.catalog.clearCache()
  }

  test("nearDupClusters converges on a long path (diameter > 2)") {
    // path 10-11-12-13-14: the min label must reach the far end
    val pairs = (10L to 13L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val clusters = Dedup.nearDupClusters(pairs)
    assert(clusters.as[(Long, Long)].collect().toMap ===
      (10L to 14L).map(_ -> 10L).toMap)
    Stages.releaseCheckpoint(clusters)
    spark.catalog.clearCache()
  }

  test("starClusters equals min-label propagation on a seeded random graph") {
    // independent implementations must produce identical component labels
    val rnd = new scala.util.Random(42)
    val edges = (1 to 150).map { _ =>
      val a = rnd.nextInt(60).toLong; val b = rnd.nextInt(60).toLong
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }
    val pairs = edges.toDF("id_a", "id_b")
    val star = Dedup.starClusters(pairs)
    val minLabel = Dedup.nearDupClustersMinLabel(pairs)
    assert(star.labels.as[(Long, Long)].collect().toMap ===
      minLabel.as[(Long, Long)].collect().toMap)
    Stages.releaseCheckpoint(star.labels)
    Stages.releaseCheckpoint(minLabel)
    spark.catalog.clearCache()
  }

  test("starClusters: branching components and duplicate edges") {
    // a star, a triangle sharing a node with a path, and repeated pairs
    val pairs = Seq(
      (50L, 51L), (50L, 52L), (50L, 53L),          // star at 50
      (60L, 61L), (61L, 62L), (60L, 62L),          // triangle
      (62L, 63L), (63L, 64L),                      // path off the triangle
      (60L, 61L), (61L, 60L)                       // duplicates, both ways
    ).toDF("id_a", "id_b")
    val res = Dedup.starClusters(pairs)
    val out = res.labels.as[(Long, Long)].collect().toMap
    assert(out === Map(50L -> 50L, 51L -> 50L, 52L -> 50L, 53L -> 50L,
      60L -> 60L, 61L -> 60L, 62L -> 60L, 63L -> 60L, 64L -> 60L))
    Stages.releaseCheckpoint(res.labels)
    spark.catalog.clearCache()
  }

  test("removeBoilerplate drops repeated chunks, reassembles in order") {
    val docs = Seq(
      (1L, "a b x y"), // chunks "a b" (shared -> dropped), "x y"
      (2L, "a b p q"),
      (3L, "m n")      // unique, untouched
    ).toDF("doc_id", "text")
    val out = Dedup.removeBoilerplate(docs, chunkTokens = 2, maxDf = 1)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 2L, 1L, "x y")))
    assert(out(2L) === ((2L, 2L, 1L, "p q")))
    assert(out(3L) === ((3L, 1L, 0L, "m n")))
    // instance counting: repetition WITHIN one document is boilerplate
    // too, and an all-boilerplate document renders as the empty string
    val rep = Dedup.removeBoilerplate(
      Seq((4L, "a b a b")).toDF("doc_id", "text"), chunkTokens = 2, maxDf = 1)
      .as[(Long, Long, Long, String)].head()
    assert(rep === ((4L, 2L, 2L, "")))
  }

  test("removeBoilerplate with a permissive cap is the identity transform") {
    // nothing reaches the df cap -> clean_text must reconstruct the
    // lowered text exactly (chunk boundaries never lose or reorder tokens)
    val docs = Seq((1L, "The QUICK brown fox jumps over the lazy dog now"),
      (2L, "a"), (3L, "x  y")).toDF("doc_id", "text") // incl. double space
    val out = Dedup.removeBoilerplate(docs, chunkTokens = 3, maxDf = 1000)
      .select("doc_id", "n_removed", "clean_text")
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    val in = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, (_, removed, clean)) <- out) {
      assert(removed === 0L)
      assert(clean === in(id).toLowerCase)
    }
  }

  test("spanDedup scores cross-document span sharing, not whole-doc equality") {
    // spans of 2 tokens, stride 1: doc 1/2 share "c d" (and more) but are
    // not identical — whole-doc fp64 misses them, span dedup must not
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "z b c d e"),    // one edited token, rest shared
      (3L, "p q r s t")     // fully unique
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, spanTokens = 2, stride = 1, maxDupFrac = 0.5)
      .select("doc_id", "n_spans", "dup_spans", "keep")
      .as[(Long, Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    // doc 1 spans: "a b","b c","c d","d e" -> 3 of 4 shared with doc 2
    assert(out(1L) === ((1L, 4L, 3L, 0)))
    assert(out(2L) === ((2L, 4L, 3L, 0)))
    assert(out(3L) === ((3L, 4L, 0L, 1)))
  }

  test("spanDedup counts documents, not occurrences, for span df") {
    // "a b" occurs twice inside doc 1 but in no other doc: df must stay 1
    val docs = Seq((1L, "a b a b"), (2L, "x y")).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, spanTokens = 2, stride = 2)
      .select("doc_id", "dup_spans").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 0L, 2L -> 0L))
  }

  test("dedupSavings histograms cluster sizes with removable counts") {
    // clusters: {1,2,3}, {10,11}, {20,21} -> one size-3, two size-2
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L)).toDF("doc_id", "cluster")
    val out = Dedup.dedupSavings(labels)
      .select("cluster_size", "n_clusters", "n_docs", "n_removable")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out === Set((3L, 1L, 3L, 2L), (2L, 2L, 4L, 2L)))
  }

  test("dedupAgainstCorpus flags exact and near corpus dups, keeps novel docs") {
    val base = (1 to 24).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, base),
      (2L, "completely different corpus content here today")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base),               // exact dup of 1
      (11L, s"$base extra"),     // near dup of 1 (jaccard 22/23)
      (12L, "entirely novel incoming document text")          // novel
    ).toDF("doc_id", "text")
    val out = Dedup.dedupAgainstCorpus(corpus, incoming, threshold = 0.5)
      .select("doc_id", "exact_dup", "n_near", "keep")
      .as[(Long, Int, Long, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(10L) === ((10L, 1, 1L, 0)))  // exact implies near too
    assert(out(11L) === ((11L, 0, 1L, 0)))
    assert(out(12L) === ((12L, 0, 0L, 1)))
    // corpus docs are never compared to each other: the operator only
    // reports on incoming ids
    assert(out.keySet === Set(10L, 11L, 12L))
  }

  test("embedding near-dup pairs: parallel vectors score 1.0") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(2.0f, 0.0f, 0.0f), 0),   // same direction as 1
      (3L, Array(0.0f, 1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.nearDupPairs(vecs, threshold = 0.9, idWindow = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L)))
  }

  test("decontaminationReport flags benchmark overlap and keeps the accounting") {
    val benchmark = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta")
    ).toDF("doc_id", "text")
    val pool = Seq(
      // verbatim copy of the benchmark doc: every shingle contaminated
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      // shares exactly one 5-gram window
      (2L, "x alpha beta gamma delta epsilon y z w v u t"),
      // same words, different order: no shared 5-gram
      (3L, "eta zeta epsilon delta gamma beta alpha"),
      // too short to shingle at n=5: zero shingles, still reported
      (4L, "alpha beta gamma")
    ).toDF("doc_id", "text")
    val rows = Dedup.decontaminationReport(pool, benchmark, n = 5)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_shingles"), r.getAs[Long]("n_hits"),
          r.getAs[Int]("contaminated"))).toMap
    assert(rows.keySet === Set(1L, 2L, 3L, 4L)) // nothing vanishes
    assert(rows(1L) === ((3, 3L, 1)))  // 7 tokens -> 3 shingles, all hit
    assert(rows(2L) === ((8, 1L, 1)))  // one leaked window suffices
    assert(rows(3L) === ((3, 0L, 0)))  // shared vocabulary is not leakage
    assert(rows(4L) === ((0, 0L, 0)))  // sub-n doc: unflaggable, accounted
  }
}
