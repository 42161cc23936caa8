package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, hash, sum}

import graft.operators.{Curation, Dedup, Similarity, Solar, Stage, TextAnalysis}

/** Every operator that persists a shared intermediate (the LSH band
  * index, the heavy-hitters/boilerplate/span/LM pair streams, the
  * packing/budget projections) must release it through its explicit
  * stage handle — a long-lived session otherwise accumulates cached RDDs
  * across queries (VERDICT r3 "persist leaks").
  */
class CacheHygieneSpec extends SparkSpecBase {

  // Relative to a per-test baseline: suites share one SparkContext, and a
  // prior suite may legitimately hold a nearDupClusters checkpoint (those
  // are released via Stages.releaseCheckpoint, not clearCache).
  // Baseline is the SET of pre-existing persistent-RDD ids, and
  // cachedCount counts only ids created after it: a plain size delta
  // goes negative when the async ContextCleaner collects another
  // suite's leftover checkpoints mid-test (observed flake, r15)
  private var baselineIds: Set[Int] = Set.empty
  private def cachedCount =
    spark.sparkContext.getPersistentRDDs.keySet.diff(baselineIds).size

  private def resetBaseline(): Unit = {
    spark.catalog.clearCache()
    baselineIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  /** Every column of `df` through one aggregate: a bare `count()` may let
    * Catalyst prune a cached branch the result never needs for a count.
    */
  private def runAll(df: DataFrame): Unit =
    df.agg(sum(hash(df.columns.map(c => col(s"`$c`")): _*))).collect()

  /** Run the stage, see that it cached something, release it through the
    * handle, and see that nothing it created is left.
    */
  private def assertReleased(st: Stage, clue: String = "")(run: => Unit): Unit = {
    run
    assert(cachedCount > 0, clue)
    st.unpersist()
    assert(cachedCount === 0,
      s"$clue left ${spark.sparkContext.getPersistentRDDs.keySet.diff(baselineIds)}")
  }

  private def docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")

  test("Solar.pipeline caches nothing") {
    // the panel stage gathers each panel's module rows, so no diamond
    // over the module aggregate needs a cache to avoid a second scan
    resetBaseline()
    runAll(Solar.pipeline(graft.sources.Tables.events(spark, "/root/testdata/sf0.001")))
    assert(cachedCount === 0,
      s"left ${spark.sparkContext.getPersistentRDDs.keySet.diff(baselineIds)}")
  }

  test("q04-q08 share one checkpointed module aggregate via the memo") {
    val dir = "/root/testdata/sf0.001"
    SessionArtifacts.release(spark, dir, "solarModule") // a prior suite may have published
    resetBaseline()
    // first chain query computes and publishes the checkpoint-backed module
    val q4 = SparkEntry.queries("q04_join_panel_module")(spark, dir)
    q4.count()
    val afterFirst = cachedCount
    assert(afterFirst > 0)           // the checkpointed module relation
    // clearCache (what Bench/Verify issue between queries) must NOT drop
    // it — the memo survives as raw-RDD checkpoint blocks
    spark.catalog.clearCache()
    assert(cachedCount === afterFirst)
    // further chain queries consume the same memo: no new cached RDDs
    SparkEntry.queries("q06_join_module_panel")(spark, dir).count()
    SparkEntry.queries("q08_flagship_anomalies")(spark, dir).count()
    assert(cachedCount === afterFirst)
    // and their plans sit on a checkpoint leaf, not a fresh scan
    val hasCkptLeaf = SparkEntry.queries("q07_anomaly_filter")(spark, dir)
      .queryExecution.logical.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r
      }.nonEmpty
    assert(hasCkptLeaf)
    // explicit release frees the blocks; the next chain query republishes
    SessionArtifacts.release(spark, dir, "solarModule")
    assert(cachedCount === 0)
    SparkEntry.queries("q05_variance_deviance")(spark, dir).count()
    assert(cachedCount > 0)
    SessionArtifacts.release(spark, dir, "solarModule")
    assert(cachedCount === 0)
  }

  test("q11 publishes the shared LSH stage; q105/q106 consume the checkpoint") {
    val dir = "/root/testdata/sf0.001"
    SessionArtifacts.release(spark, dir, "lshCalib") // a prior suite may have published
    resetBaseline()
    // the producer computes fresh, publishes, and releases the stage's own
    // shingle-index cache — only the calibration checkpoint remains
    SparkEntry.queries("q11_dedup_minhash_lsh")(spark, dir).count()
    val afterProducer = cachedCount
    assert(afterProducer > 0)
    // clearCache (what Bench/Verify issue between queries) must NOT drop it
    spark.catalog.clearCache()
    assert(cachedCount === afterProducer)
    // consumers read the published checkpoint: no new cached RDDs, and
    // their plans sit on a checkpoint leaf instead of a fresh corpus scan
    SparkEntry.queries("q105_minhash_calibration")(spark, dir).count()
    SparkEntry.queries("q106_source_overlap")(spark, dir).count()
    assert(cachedCount === afterProducer)
    val hasCkptLeaf = SparkEntry.queries("q105_minhash_calibration")(spark, dir)
      .queryExecution.logical.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r
      }.nonEmpty
    assert(hasCkptLeaf)
    // re-running the producer republishes; the superseded generation is
    // retained one generation (consumers may hold lazy plans on it), so
    // the release must free BOTH live generations
    SparkEntry.queries("q11_dedup_minhash_lsh")(spark, dir).count()
    assert(cachedCount >= afterProducer)
    SessionArtifacts.release(spark, dir, "lshCalib")
    assert(cachedCount === 0)
  }

  test("r11 one-shot stage handles release their persisted intermediates") {
    resetBaseline()
    val stages = Seq[Stage](
      TextAnalysis.bm25TopKStage(docs, Seq("dup", "spark")),
      TextAnalysis.shingleNoveltyStage(docs),
      TextAnalysis.topBoilerplateStage(docs),
      Curation.qualityPercentileStage(docs))
    stages.foreach(st => assertReleased(st)(st.result.count()))
  }

  test("EdJoinStage/EdIncStage release their persisted id relations") {
    import spark.implicits._
    val p = Seq((1L, "kitten"), (2L, "sitten"), (3L, "mitten"))
      .toDF("id", "s")
    resetBaseline()
    val st = graft.operators.EditDistance.editDistanceJoinStage(p, "id", "s", 1)
    assertReleased(st)(st.result.count())
    val inc = graft.operators.EditDistance
      .editDistanceAgainstCorpusStage(p, p.limit(2), "id", "s", 1)
    assertReleased(inc)(inc.result.count())
  }

  test("Dedup near-dup caches are released by NearDupStage.unpersist") {
    resetBaseline()
    // shingle index + capped band relation
    val stage = Dedup.minhashNearDupsStage(docs, threshold = 0.5)
    assertReleased(stage)(stage.result.count())
  }

  test("windowedJaccardPairsStage posting index is released by the handle") {
    resetBaseline()
    val stage = Dedup.windowedJaccardPairsStage(docs, idWindow = 25, threshold = 0.2)
    assertReleased(stage)(stage.result.count()) // the capped posting-list index
  }

  test("heavyHitters shared token explode is released by the stage handle") {
    resetBaseline()
    val stage = TextAnalysis.heavyHittersStage(docs)
    assertReleased(stage)(stage.result.count()) // the shared token explode
  }

  test("packStage shared token-count projection is released by the handle") {
    resetBaseline()
    val stage = Curation.packStage(docs)
    assertReleased(stage)(stage.result.count()) // the (n_tokens, block) projection
  }

  test("budgetStage shared scored projection is released by the handle") {
    resetBaseline()
    val stage = Curation.budgetStage(docs, 5000L)
    assertReleased(stage)(stage.result.count())
  }

  test("boilerplateStage shared chunk explode is released by the handle") {
    resetBaseline()
    val stage = Dedup.boilerplateStage(docs)
    assertReleased(stage)(stage.result.count())
  }

  test("lmScoreStage shared term-frequency pairs are released by the handle") {
    resetBaseline()
    val stage = TextAnalysis.lmScoreStage(docs)
    assertReleased(stage)(stage.result.count()) // the shared (doc, tok_fp, k) pairs
  }

  test("lmFusedStage scores both models from ONE shared pair stream") {
    resetBaseline()
    val stage = TextAnalysis.lmFusedStage(docs)
    stage.unigram.count()
    stage.bigram.agg(org.apache.spark.sql.functions.sum("ppl")).collect()
    assert(cachedCount === 1)        // exactly one shared pairs relation
    stage.unpersist()
    assert(cachedCount === 0)
  }

  test("lmScoreBigramStage shared pair stream is released by the handle") {
    resetBaseline()
    val stage = TextAnalysis.lmScoreBigramStage(docs)
    // aggregate over ppl: a bare count() lets Catalyst skip the scored
    // (cached) side of the left join entirely
    assertReleased(stage)(
      stage.result.agg(org.apache.spark.sql.functions.sum("ppl")).collect())
  }

  test("srpStage and exactQuantilesTwoPassStage release their caches") {
    resetBaseline()
    val srp = Similarity.srpStage(
      graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001"))
    assertReleased(srp)(srp.result.count()) // the keyed signature relation
    val qs = graft.operators.Relational.exactQuantilesTwoPassStage(
      graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001"),
      "l_returnflag", "l_extendedprice", Seq(0.5))
    assertReleased(qs)(qs.result.count()) // stats + histogram + picked
  }

  test("dedupAgainstCorpusStage releases both side indexes via the handle") {
    resetBaseline()
    val stage = Dedup.dedupAgainstCorpusStage(
      docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
    assertReleased(stage)(stage.result.count()) // both one-scan indexes
  }

  test("vocabCoverageStage and sourceDivergenceStage release their caches") {
    resetBaseline()
    val vc = TextAnalysis.vocabCoverageStage(docs)
    assertReleased(vc)(vc.result.count()) // the vocab-sized count relation
    val sd = TextAnalysis.sourceDivergenceStage(docs)
    assertReleased(sd)(sd.result.count()) // the (source, tok_fp) pairs
  }

  test("spanDedupStage shared span pairs are released by the handle") {
    resetBaseline()
    val stage = Dedup.spanDedupStage(docs)
    assertReleased(stage)(stage.result.count()) // distinct (doc, span_fp) set
  }

  // ---- handles that own more than one kind of state ----

  test("lmScoreKneserNeyStage releases the pair stream AND its c2 counts") {
    resetBaseline()
    val stage = TextAnalysis.lmScoreKneserNeyStage(docs)
    assertReleased(stage)(runAll(stage.result))
  }

  test("curationDagStage releases its four caches AND the dropped-id checkpoint") {
    resetBaseline()
    val stage = Curation.curationDagStage(docs)
    assertReleased(stage)(runAll(stage.result))
  }

  test("semanticDedupStage releases the distributed CC label checkpoint") {
    import spark.implicits._
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.01f)),
      (2L, Array(0.9f, 0.25f)), (3L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val model = Similarity.KmeansModel(
      Array(Seq(1.0, 0.0), Seq(0.0, 1.0)),
      Seq((0L, 0), (1L, 0), (2L, 0), (3L, 1)).toDF("vec_id", "cell"))
    resetBaseline()
    // the labels sit on a localCheckpoint only on the distributed path
    spark.conf.set("graft.cc.driverMaxEdges", "0")
    try {
      val stage = Similarity.semanticDedupStage(e, model, threshold = 0.9)
      assertReleased(stage)(runAll(stage.result))
    } finally spark.conf.unset("graft.cc.driverMaxEdges")
  }

  test("every other public *Stage builder is released by its handle") {
    import spark.implicits._
    val lineitem = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val embs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val names = Seq((1L, "kitten"), (2L, "sitten"), (3L, "mitten")).toDF("id", "s")
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val nameStream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Long, String)]
      .toDF().toDF("ts", "id", "s")
    val cases: Seq[(String, () => Stage)] = Seq(
      "prefixSimilarityJoinStage" -> (() =>
        Dedup.prefixSimilarityJoinStage(docs, 0.5)),
      "prefixJoinAgainstCorpusStage" -> (() =>
        Dedup.prefixJoinAgainstCorpusStage(docs.filter(col("doc_id") % 4 =!= 0),
          docs.filter(col("doc_id") % 4 === 0), 0.5)),
      "containmentJoinAgainstCorpusStage" -> (() =>
        Dedup.containmentJoinAgainstCorpusStage(docs.filter(col("doc_id") % 3 =!= 0),
          docs.filter(col("doc_id") % 3 === 0), 0.35)),
      "sourceDatacardStage" -> (() => Curation.sourceDatacardStage(docs)),
      "sourceDatacardIncrementalStage" -> (() =>
        Curation.sourceDatacardIncrementalStage(
          docs.filter(col("doc_id") % 2 === 0),
          Curation.docCardStats(docs.filter(col("doc_id") % 2 === 1)))),
      "importanceStage" -> (() => Curation.importanceStage(docs, "src0")),
      "profileKeysStage" -> (() =>
        graft.operators.Relational.profileKeysStage(lineitem, "l_orderkey")),
      "annFrontierStage" -> (() =>
        Similarity.annFrontierStage(embs, Similarity.kmeansFit(embs, k = 4, iters = 2),
          e => e.filter(col("vec_id") < 8), k = 5, probes = Seq(1, 2))),
      "encodeStage" -> (() =>
        graft.operators.Bpe.encodeStage(docs, Seq(("t", "h"), ("th", "e")))),
      "editDistanceAgainstCorpusStreamStage" -> (() =>
        graft.streaming.StreamingDedup.editDistanceAgainstCorpusStreamStage(
          nameStream, names, "id", "s", 1)))
    cases.foreach { case (name, build) =>
      resetBaseline()
      val st = build()
      // a streaming result cannot run as a batch; its micro-batches read
      // the cached static side
      assertReleased(st, name)(
        if (st.result.isStreaming) st.cached.foreach(_.count())
        else runAll(st.result))
    }
  }

  test("Bpe.train releases the vocab persist AND training checkpoints") {
    resetBaseline()
    // 30 merges crosses CheckpointEvery=25, so the handle must release
    // both the persisted base relation and the final localCheckpoint's
    // raw-RDD blocks (ADVICE r6: unpersisting the derived vocab plan
    // alone was a no-op and leaked the persist for the session)
    val model = graft.operators.Bpe.train(
      graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"),
      nMerges = 30)
    assert(model.merges.count() === 30)
    assert(cachedCount > 0)          // base persist (+ checkpoint blocks)
    model.stage.unpersist()
    assert(cachedCount === 0)
  }

  test("streaming nearDupsAgainstCorpusStage releases the corpus index") {
    resetBaseline()
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Long, String)]
    val stage = graft.streaming.StreamingDedup.nearDupsAgainstCorpusStage(
      input.toDF().toDF("ts", "doc_id", "text"),
      docs)
    // the static-side one-scan index, read by each micro-batch
    assertReleased(stage)(stage.cached.head.count())
  }

  test("kmeansFit leaves no cached RDDs behind (training sample released)") {
    resetBaseline()
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.kmeansFit(e, k = 2, iters = 1).cells.count()
    assert(cachedCount === 0)        // the train-sample persist is scoped
  }

  test("q130 ingestion chain releases everything under the Verify clearCache " +
    "(lifecycle — VERDICT r12 #6)") {
    resetBaseline()
    val out = SparkEntry.queries("q130_ingest_chain")(
      spark, "/root/testdata/sf0.001")
    assert(out.count() > 0)
    // the chain's stage persists (curation/datacard internals) must all
    // fall to the session cache clear Bench/Verify issue between queries
    // — no raw-RDD checkpoint state may survive it
    spark.catalog.clearCache()
    assert(cachedCount === 0,
      s"q130 left cached RDDs: ${spark.sparkContext.getPersistentRDDs.keys}")
  }
}
