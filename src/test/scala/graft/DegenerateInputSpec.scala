package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge

import graft.operators.{Curation, Dedup, Relational, TextAnalysis}

/** Degenerate-input robustness: every operator must survive an EMPTY
  * corpus and an all-empty-text corpus without throwing — at 100 TB a
  * partition, source shard, or filtered slice being empty is routine, and
  * an operator that NPEs or divides by zero on it kills the whole job.
  */
class DegenerateInputSpec extends SparkSpecBase {
  import spark.implicits._

  private def empty: DataFrame =
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def blank: DataFrame =
    Seq((1L, ""), (2L, "")).toDF("doc_id", "text")

  test("dedup and scoring operators return cleanly on an empty corpus") {
    assert(Dedup.spanDedupStage(empty).result.count() === 0)
    assert(TextAnalysis.lmScoreStage(empty).result.count() === 0)
    assert(TextAnalysis.lmScoreBigramStage(empty).result.count() === 0)
    assert(TextAnalysis.vocabCoverageStage(empty).result.count() === 0)
    assert(TextAnalysis.blocklistFilter(empty).count() === 0)
    assert(Curation.splitAssign(empty).count() === 0)
    assert(Dedup.dedupAgainstCorpusStage(empty, empty).result.count() === 0)
    assert(Relational.exactQuantilesTwoPassStage(
      empty.toDF("g", "v"), "g", "v", Seq(0.5)).result.count() === 0)
    // the r17 two-level budget rework collects the bucket histogram into
    // ONE array row — on an empty corpus that row carries an empty array
    // and must explode to nothing, not throw
    assert(Curation.budgetStage(empty, 100L).result.count() === 0)
    spark.catalog.clearCache()
  }

  test("all-empty-text documents flow through without errors or NaNs") {
    // "" tokenizes to one empty token, shingles/bands are empty arrays:
    // span dedup scores the single empty span, LM scores the empty token
    val span = Dedup.spanDedupStage(blank).result
      .select("doc_id", "dup_frac").as[(Long, Double)].collect().toMap
    assert(span === Map(1L -> 1.0, 2L -> 1.0)) // both share the empty span
    val lm = TextAnalysis.lmScoreStage(blank).result
      .select("doc_id", "ppl").as[(Long, Double)].collect()
    assert(lm.forall(r => !r._2.isNaN && r._2 > 0))
    // sub-2-token docs carry NULL bigram scores, not NaNs
    val bg = TextAnalysis.lmScoreBigramStage(blank).result
      .select("n_bigrams").as[Long].collect()
    assert(bg.toSeq === Seq(0L, 0L))
    // near-dup machinery drops shingle-less docs instead of matching them
    assert(Dedup.dedupAgainstCorpusStage(blank, blank).result
      .filter($"n_near" > 0).count() === 0)
    spark.catalog.clearCache()
  }

  test("an incoming batch against an EMPTY corpus keeps everything") {
    val incoming = Seq((1L, "some new document text here")).toDF("doc_id", "text")
    val out = Dedup.dedupAgainstCorpusStage(empty, incoming).result
      .select("doc_id", "exact_dup", "n_near", "keep")
      .as[(Long, Int, Long, Int)].collect()
    assert(out.toSeq === Seq((1L, 0, 0L, 1)))
    spark.catalog.clearCache()
  }

  test("round-11 operators return cleanly on empty and all-blank corpora") {
    val emptyFull = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    val blankFull = Seq((1L, "", "en", "src0"), (2L, "", "de", "src1"))
      .toDF("doc_id", "text", "lang", "source")
    // calibration / novelty / boilerplate: no shingles anywhere -> no rows
    assert(Dedup.minhashCalibrationStage(empty).result.count() === 0)
    assert(Dedup.minhashCalibrationStage(blank.select("doc_id", "text"))
      .result.count() === 0)
    assert(TextAnalysis.shingleNoveltyStage(empty).result.count() === 0)
    assert(TextAnalysis.topBoilerplateStage(blank).result.count() === 0)
    // percentile: NULL-quality (empty text) docs are filtered by contract
    assert(Curation.qualityPercentileStage(emptyFull).result.count() === 0)
    // classifier: empty corpus scores no rows; blank docs score finite
    assert(graft.operators.QualityModel.scoreDocs(empty).count() === 0)
    val s = graft.operators.QualityModel.scoreDocs(blank).collect()
    assert(s.forall(r => !r.getDouble(2).isNaN))
    // WARC: an empty corpus writes no shard files and reads back empty
    val dir = Bridge.tempDir("warc_empty_")
    graft.sources.Warc.writeWarc(emptyFull, dir, shards = 2)
    assert(graft.sources.Warc.readWarc(spark, dir).count() === 0)
    // and blank-text payloads (Content-Length: 0) round-trip exactly
    val dir2 = Bridge.tempDir("warc_blank_")
    graft.sources.Warc.writeWarc(blankFull, dir2, shards = 2)
    assert(graft.sources.Warc.readWarc(spark, dir2)
      .as[(Long, String, String, String)].collect().toSet ===
      Set((1L, "", "en", "src0"), (2L, "", "de", "src1")))
    spark.catalog.clearCache()
  }

  test("round-12 operators return cleanly on empty and all-blank corpora") {
    val emptyFull = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    val blankFull = Seq((1L, "", "en", "src0"), (2L, "", "de", "src1"))
      .toDF("doc_id", "text", "lang", "source")
    // the composed DAG: an empty corpus (and a corpus whose every doc has
    // NULL quality, so the percentile keeps nothing) must produce an
    // EMPTY packing, not a driver NPE on the null token-sum scalar
    val st1 = Curation.curationDagStage(emptyFull)
    assert(st1.result.count() === 0)
    st1.unpersist()
    val st2 = Curation.curationDagStage(blankFull)
    assert(st2.result.count() === 0)
    st2.unpersist()
    // decontamination: empty pool -> no rows; empty benchmark -> nothing
    // can be contaminated but the accounting keeps every pool doc
    assert(Dedup.decontaminationReport(empty, empty).count() === 0)
    val keepAll = Dedup.decontaminationReport(
      Seq((1L, "a b c d e f")).toDF("doc_id", "text"), empty).collect()
    assert(keepAll.length === 1 &&
      keepAll.head.getAs[Int]("contaminated") === 0)
    // fertility / data cards: empty in, empty out; blank docs aggregate
    // without NaN or NPE
    assert(graft.operators.Bpe.fertilityReport(emptyFull, Seq.empty).count() === 0)
    assert(Curation.sourceDatacardStage(emptyFull).result.count() === 0)
    assert(Curation.sourceDatacardStage(blankFull).result.count() === 2)
    // classifier eval: empty corpus -> no split rows
    assert(graft.operators.QualityModel.evaluateSplits(emptyFull).count() === 0)
    // merge: empty existing -> everything inserts; empty incoming ->
    // everything carries; both empty -> empty
    val m1 = Curation.mergeCorpus(emptyFull, blankFull)
    assert(m1.count() === 2 &&
      m1.select("change").distinct().collect().map(_.getString(0)).toSeq
        === Seq("insert"))
    val m2 = Curation.mergeCorpus(blankFull, emptyFull)
    assert(m2.count() === 2 &&
      m2.select("change").distinct().collect().map(_.getString(0)).toSeq
        === Seq("carry"))
    assert(Curation.mergeCorpus(emptyFull, emptyFull).count() === 0)
    // compaction: an empty layout (dir exists, no partitions) yields an
    // empty report, not a schema-inference failure
    val emptyDir = Bridge.tempDir("compact_empty_")
    assert(graft.sources.Writers
      .compactPartitioned(spark, emptyDir, "event_date").count() === 0)
    spark.catalog.clearCache()
  }

  test("round-13 operators return cleanly on empty and degenerate inputs") {
    val emptyFull = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    val docs = Seq((1L, "a b", "en", "src0"), (2L, "c d", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
    // incremental merge: empty incoming -> all carry; empty artifact
    // (bootstrap of an empty corpus) -> all insert; both empty -> empty
    val fps = Curation.corpusFingerprints(docs)
    val emptyFps = Curation.corpusFingerprints(emptyFull)
    val c1 = Curation.mergeCorpusIncremental(
      emptyFull.select("doc_id", "text"), fps)
    assert(c1.count() === 2 && c1.select("change").distinct()
      .collect().map(_.getString(0)).toSeq === Seq("carry"))
    val c2 = Curation.mergeCorpusIncremental(
      docs.select("doc_id", "text"), emptyFps)
    assert(c2.count() === 2 && c2.select("change").distinct()
      .collect().map(_.getString(0)).toSeq === Seq("insert"))
    assert(Curation.mergeCorpusIncremental(
      emptyFull.select("doc_id", "text"), emptyFps).count() === 0)
    // mix accounting over an empty corpus: every target reports a full
    // unspent slice instead of vanishing
    val acct = Curation.mixAccounting(emptyFull,
      Map("srcA" -> 0.5, "srcB" -> 0.5), 100L).collect()
    assert(acct.length === 2)
    assert(acct.forall(r => r.getAs[Long]("spent") === 0L &&
      r.getAs[Long]("unspent") === 50L))
    // pq: an all-zero embedding encodes (argmin still defined) and the
    // ADC score sinks degenerate reconstructions instead of dividing by 0
    val model = graft.operators.Similarity.PqModel(IndexedSeq(
      IndexedSeq(Seq(0.0, 0.0), Seq(1.0, 1.0))), subDim = 2)
    val z = Seq((1L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
      .select(graft.operators.Similarity.pqCodes(col("embedding"), model).as("c"))
      .as[Seq[Int]].head()
    assert(z === Seq(0)) // zero vector -> the zero codebook entry
    spark.catalog.clearCache()
  }

  test("late-round-13 operators return cleanly on empty and degenerate " +
    "inputs") {
    val emptyDocs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "source", "text")
    val docs = Seq((1L, "src0", "a b"), (2L, "src0", "c d"))
      .toDF("doc_id", "source", "text")
    // incremental cards: empty batch -> cards of the prior unchanged;
    // empty prior artifact -> cards of the batch alone; both empty -> 0
    val stats = Curation.docCardStats(docs)
    val emptyStats = Curation.docCardStats(emptyDocs)
    val unchanged =
      Curation.sourceDatacardIncrementalStage(emptyDocs, stats).result
    assert(unchanged.collect().toSet ===
      Curation.sourceDatacardStage(docs).result.collect().toSet)
    val fresh = Curation.sourceDatacardIncrementalStage(docs, emptyStats).result
    assert(fresh.collect().toSet ===
      Curation.sourceDatacardStage(docs).result.collect().toSet)
    assert(Curation.sourceDatacardIncrementalStage(emptyDocs, emptyStats).result
      .count() === 0)
    // z-order: empty input writes an empty (but readable) layout; a
    // single row lands in one directory
    val emptyEv = Seq.empty[(Long, Long, Double)]
      .toDF("event_id", "user_id", "value")
    val d1 = Bridge.tempDir("zdeg_") + "/e"
    graft.sources.Writers.writeZOrdered(emptyEv, d1, "user_id", "value")
    // partitionBy on an empty frame writes only metadata; reading the
    // keyed derivation of the empty frame is the contract that matters
    assert(graft.sources.Writers
      .zOrderKeyed(emptyEv, "user_id", "value").count() === 0)
    val one = Seq((1L, 5L, 2.0)).toDF("event_id", "user_id", "value")
    val k1 = graft.sources.Writers.zOrderKeyed(one, "user_id", "value")
      .select("z_file").as[Int].collect()
    assert(k1.toSeq === Seq(0)) // min==max on both axes -> bucket 0/0
    // semanticDedup: a corpus with no near-dup pair above threshold
    // yields an EMPTY group relation (singletons never appear)
    val e = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val m = graft.operators.Similarity.KmeansModel(
      Array(Seq(1.0, 0.0), Seq(0.0, 1.0)),
      Seq((1L, 0), (2L, 1)).toDF("vec_id", "cell"))
    val sdStage = graft.operators.Similarity.semanticDedupStage(e, m, 0.9)
    assert(sdStage.result.count() === 0)
    sdStage.unpersist()
    sdStage.result.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(false))
    // two-level index: k == 1 degenerates to one group holding the one
    // cell; assignment still resolves
    val m1 = graft.operators.Similarity.KmeansModel(
      Array(Seq(1.0, 0.0)), Seq((1L, 0)).toDF("vec_id", "cell"))
    val idx = graft.operators.Similarity.hierIndex(m1)
    assert(idx.groupCents.length === 1 && idx.members === IndexedSeq(Seq(0)))
    assert(graft.operators.Similarity.assignCellsTwoLevel(e, m1, idx, 1)
      .select("cell").as[Int].collect().toSet === Set(0))
    spark.catalog.clearCache()
  }

  test("round-16 operators return cleanly on empty and degenerate inputs") {
    import java.sql.Timestamp
    val emptyFeed = spark.emptyDataset[(Long, Timestamp, Long, String)]
      .toDF("k", "t", "ord", "a")
    // SCD2 on an empty feed: no versions, no NPE in either window
    assert(graft.operators.Scd
      .scd2Build(emptyFeed, "k", "t", "ord", Seq("a")).count() === 0)
    // point-in-time join with an EMPTY dim keeps every fact, null-padded
    val facts = Seq((1L, 7L, Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("fact_id", "k", "ft")
    val dim = graft.operators.Scd
      .scd2Build(emptyFeed, "k", "t", "ord", Seq("a"))
      .withColumnRenamed("valid_from", "valid_from")
    val enriched = graft.operators.Scd.pointInTimeJoin(facts, dim, "k", "ft")
    assert(enriched.count() === 1 && enriched.select("a").head().isNullAt(0))
    // triangles/trustRank on an empty pair relation
    val emptyPairs = spark.emptyDataset[(Long, Long)].toDF("id_a", "id_b")
    assert(graft.operators.Graph.triangleStats(emptyPairs).count() === 0)
    assert(graft.operators.Graph.kCorePeel(emptyPairs, 2, 4).count() === 0)
    assert(graft.operators.Graph.labelPropagation(emptyPairs, 4).count() === 0)
    // EWMA on an empty series relation: no rows, no NPE in the fold
    val emptySeries = spark
      .emptyDataset[(Long, java.sql.Timestamp, Long, Long)]
      .toDF("k", "t", "i", "x")
    assert(graft.operators.TimeSeries
      .ewmaAnomaly(emptySeries, "k", "t", "i", col("x")).count() === 0)
    assert(graft.operators.Graph.trustRankOverPairs(
      Seq((1L, true), (2L, false)).toDF("id", "is_seed"),
      emptyPairs, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
      === Map(1L -> 150000L, 2L -> 0L))
    // edit-distance joins on empty / single-string relations
    val emptyNames = spark.emptyDataset[(Long, String)].toDF("id", "s")
    val st = graft.operators.EditDistance
      .editDistanceJoinStage(emptyNames, "id", "s", 2)
    assert(st.result.count() === 0); st.unpersist()
    val inc = graft.operators.EditDistance.editDistanceAgainstCorpusStage(
      emptyNames, Seq((1L, "abc")).toDF("id", "s"), "id", "s", 2)
    assert(inc.result.count() === 0); inc.unpersist()
    val inc2 = graft.operators.EditDistance.editDistanceAgainstCorpusStage(
      Seq((1L, "abc")).toDF("id", "s"), emptyNames, "id", "s", 2)
    assert(inc2.result.count() === 0); inc2.unpersist()
    spark.catalog.clearCache()
  }

  test("round-18 operators return cleanly on empty inputs") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    val emptyGV = Seq.empty[(String, Double)].toDF("g", "v")
    val emptyEvents = Seq.empty[(Long, Timestamp, Long, String)]
      .toDF("user_id", "ts", "event_id", "event_type")
      .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
    val emptyKS = Seq.empty[(Long, String)].toDF("k", "s")
    // stats family: empty in, empty (or cleanly-null) out — never a throw
    assert(graft.operators.Stats.robustOutliers(emptyGV,
      col("g"), col("v")).count() === 0)
    assert(graft.operators.Stats.groupedTrend(
      Seq.empty[(String, Timestamp, Double)].toDF("g", "ts", "v"),
      col("g"), col("ts"), col("v")).count() === 0)
    val chi = graft.operators.Stats.chiSquareIndependence(
      Seq.empty[(String, String)].toDF("a", "b"), col("a"), col("b"))
      .head()
    assert(chi.getLong(0) === 0L) // a_card 0, no exception
    // reconciliation: empty vs empty diffs empty; empty vs non-empty
    // reports every row one-sided
    assert(graft.operators.Validation.tableDiff(emptyKS, emptyKS,
      "k", Seq("s")).count() === 0)
    assert(graft.operators.Validation.tableDiff(emptyKS,
        Seq((1L, "a")).toDF("k", "s"), "k", Seq("s"))
      .head().getString(1) === "only_right")
    // event folds: no events, no credits/paths/pairs/funnel users
    assert(graft.operators.EventAnalytics.attribution(emptyEvents)
      .count() === 0)
    assert(graft.operators.EventAnalytics.topPaths(emptyEvents)
      .count() === 0)
    assert(graft.operators.EventAnalytics.transitionTiming(emptyEvents)
      .count() === 0)
    assert(graft.operators.EventAnalytics
      .funnelWithin(emptyEvents, maxGapHours = 1)
      .select("n_users").as[Long].collect().forall(_ === 0L))
    // maintenance merges: empty sides are identities / pure inserts
    val s0 = Seq.empty[(String, Long, Long)].toDF("g", "cnt", "sum_x")
    assert(graft.operators.Relational.summaryApplyDelta(s0,
      Seq.empty[(String, Long)].toDF("g", "x"), Seq("g"), "cnt",
      Map("x" -> "sum_x")).count() === 0)
    assert(graft.operators.Relational.summaryRebuildGroups(
      Seq.empty[(String, Long)].toDF("g", "x"), s0,
      Seq.empty[(String, Long)].toDF("g", "x").select("g"),
      Seq("g"), "cnt", Map("x" -> "sum_x")).count() === 0)
    // privacy: empty table yields an all-suppressed-nothing output and
    // a zero receipt
    assert(graft.operators.Privacy.kAnonymize(
      Seq.empty[(Long, String, String, String)]
        .toDF("id", "n", "r", "seg"),
      "id", Seq("n", "r"), Seq("seg"), k = 2).count() === 0)
    val rec = graft.operators.Privacy.forgetReceipt(
      Seq(("t", emptyKS, "k")), Seq(1L).toDF("x")).head()
    assert((rec.getLong(1), rec.getLong(2), rec.getLong(3)) ===
      ((0L, 0L, 0L)))
    // profile of an empty table: zero rows, zero ndv, null bounds
    val prof = graft.operators.Validation.tableProfile(emptyKS,
      Seq("k", "s")).collect()
    assert(prof.length === 2)
    assert(prof.forall(r => r.getLong(1) === 0L && r.getLong(3) === 0L))
  }
}
