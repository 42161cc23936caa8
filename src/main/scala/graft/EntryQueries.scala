package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{AsOf, Bpe, Curation, Dedup, EventAnalytics, Multimodal, RangeJoin, Relational, Similarity, Skew, Solar, Stage, Stages, TextAnalysis, Windows}
import graft.sources.Tables

/** The query registry — one entry per gated operator (SURVEY.md §2 +
  * the LLM-pipeline extension surface); bodies unchanged from the
  * pre-split monolith.
  */
private[graft] trait EntryQueries { self: EntryShared =>

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // rows 1-3: parquet scan + projection + filter (pushdown-friendly)
    "q01_scan_project" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), col("event_type").as("panel"),
          col("user_id").cast("string").as("module"), col("value").as("power"))
        .filter(col("power") > 50.0)),

    // rows 5-7: groupBy + tumbling window + count/sum/round(avg,1)
    "q02_module_window_agg" -> ((s, dir) =>
      Solar.moduleAgg(Tables.events(s, dir)).select(moduleOut: _*)),

    // rows 10-11: window-preserving re-key + per-panel aggregate
    "q03_panel_agg" -> ((s, dir) =>
      Solar.panelAgg(Solar.moduleWindowAgg(Solar.normalize(Tables.events(s, dir))))
        .select(Solar.windowStart, col("panel"), col("p_cnt"),
          r4("p_sum_power"), col("p_avg_power"))),

    // row 12: windowed inner join #1 — each module row with its panel's
    // aggregate, re-attached from the panel stage's gathered list.
    // q04–q08 apply the panel stage to the shared module aggregate
    // (solarPanels): the chain's upstream scan + shuffle runs once per
    // (session, dir).
    "q04_join_panel_module" -> ((s, dir) =>
      solarRows(s, dir)
        .select(moduleOut ++ Seq(col("p_cnt"), r4("p_sum_power"), col("p_avg_power")): _*)),

    // row 13: rounded-mean variance / deviance re-aggregation (SURVEY §2.12)
    "q05_variance_deviance" -> ((s, dir) =>
      solarPanels(s, dir)
        .select(Seq(Solar.windowStart, col("panel")) ++ panelFinalOut: _*)),

    // row 14: windowed inner join #2 (module rows with the final panel stats)
    "q06_join_module_panel" -> ((s, dir) =>
      solarRows(s, dir).select(moduleOut ++ panelFinalOut: _*)),

    // rows 15-16: z-score anomaly predicate + window-unwrap projection
    "q07_anomaly_filter" -> ((s, dir) =>
      Solar.anomalies(solarRows(s, dir))
        .select(col("w_start"), col("panel"), col("module"),
          round(abs(col("m_sum_power") - col("p_avg_power")), 4).as("abs_diff"),
          col("deviance"))),

    // full topology: events → anomalies (batch twin of SolarConsumer.java)
    "q08_flagship_anomalies" -> ((s, dir) =>
      Solar.anomalies(solarRows(s, dir)).select(moduleOut ++ panelFinalOut: _*)),

    // rows 2 + 17: JSON decode (from_json) / encode (to_json) round-trip
    "q09_json_roundtrip" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          from_json(col("props"), StructType(Seq(StructField("k", LongType))))
            .getField("k").as("k"))
        .withColumn("props_json", to_json(struct(col("k"))))),

    // ------------------------------------------------------------------
    // Training-data-pipeline extensions (SURVEY.md §2.14 / §7 phase 3)
    // ------------------------------------------------------------------

    // exact dedup: content-fingerprint groups with canonical survivor
    "q10_dedup_exact" -> ((s, dir) => Dedup.exact(Tables.documents(s, dir))),

    // MinHash + LSH banding candidates, verified with exact Jaccard.
    // q11 is the shared LSH stage's PRODUCER: it always computes the
    // calibration superset fresh and publishes the checkpoint the other
    // five consumers read (VERDICT r10 #1); its own result is the
    // verified-pair filter of that relation, bit-identical to
    // Dedup.minhashNearDupsStage (DedupSpec pins the equivalence).
    "q11_dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.pairsFromCalibration(lshCalibFresh(s, dir), threshold = 0.5)),

    // 64-bit SimHash near-dup pairs (hamming <= 3) in a doc_id window
    // (labeled NLJ demo — idWindow kept small so the anti-pattern doesn't
    // dominate the bench, VERDICT r8 #5; the scale twin is q31)
    "q12_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashNearDups(Tables.documents(s, dir), maxHamming = 3, idWindow = 25)),

    // exact word-3-gram Jaccard pairs in a doc_id window
    "q13_dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.windowedJaccardPairsStage(Tables.documents(s, dir), idWindow = 25,
        threshold = 0.2).result),

    // EXACT all-pairs set-similarity join via prefix filtering (the
    // AllPairs/PPJoin family): no id window, no posting-list cap, no
    // banding loss — the completeness ceiling of the q11 LSH family,
    // gated against the NAIVE all-pairs oracle (PrefixSimilaritySpec
    // pins brute-force equality and LSH ⊆ exact)
    "q154_set_similarity_exact" -> ((s, dir) =>
      Dedup.prefixSimilarityJoinStage(Tables.documents(s, dir),
        threshold = 0.5).result),

    // corpus-wide k-NN JOIN (kNN-graph construction / pair mining):
    // EVERY vector's IVF multi-probe top-5 — the symmetric-shuffle plan,
    // never a broadcast of the corpus-sized query side (q51 is the
    // query-sample twin); consumes the shared session quantizer
    "q155_knn_join" -> ((s, dir) => {
      val embs = Tables.embeddings(s, dir)
      Similarity.knnJoin(embs, embs, kmeansShared(s, dir), k = 5, nProbe = 2)
    }),

    // hard-negative mining for contrastive training — q155's IVF join
    // with the label-mismatch predicate at the CANDIDATE stage, so the
    // top-5 fills with genuinely different-label near-confusions
    "q184_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(Tables.embeddings(s, dir),
        kmeansShared(s, dir), k = 5, nProbe = 2)),

    // retrieval-quality NDCG@5 of the IVF index (binary same-label
    // relevance) — the ranking-aware companion to q99's recall@k:
    // integer discount DCG via heap-payload labels, IDCG from the
    // broadcast label census, one double division per query
    "q185_retrieval_ndcg" -> ((s, dir) =>
      Similarity.retrievalNdcg(Tables.embeddings(s, dir),
        kmeansShared(s, dir), k = 5, nProbe = 2)),

    // ε-DP per-source release (two-sided geometric mechanism, seeded
    // md5 noise stream — reproducible AND oracle-replayable): the
    // publishable form of the q124 data card; no un-noised count leaves
    // the aggregation
    "q156_dp_source_release" -> ((s, dir) =>
      graft.operators.Privacy.dpSourceRelease(Tables.documents(s, dir))),

    // HLL sketch ALGEBRA (registers as relations): pairwise per-source
    // distinct-token estimates with union (bucket-wise max merge) and
    // inclusion-exclusion intersection — the cross-source overlap
    // report at register cost, next to q36's single-relation built-in
    "q157_hll_source_algebra" -> ((s, dir) =>
      graft.operators.Sketches.tokenAlgebra(Tables.documents(s, dir))),

    // EXACT incremental set-similarity (q154's daily-ingestion twin, the
    // exact counterpart of q86's LSH incremental): incoming docs vs the
    // stored corpus under the corpus-df prefix order; corpus never
    // self-joins, completeness unconditional
    "q158_set_similarity_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.prefixJoinAgainstCorpusStage(
        docs.filter(col("doc_id") % 4 =!= 0),
        docs.filter(col("doc_id") % 4 === 0), threshold = 0.5).result
    }),

    // composed gate: PageRank centrality over the q155 kNN graph — the
    // "most representative vectors" query; the two operator families
    // (IVF kNN join + fixed-point graph iteration) chained as one plan,
    // hash-gated end to end
    "q159_knn_pagerank" -> ((s, dir) => {
      val embs = Tables.embeddings(s, dir)
      val knn = Similarity
        .knnJoin(embs, embs, kmeansShared(s, dir), k = 5, nProbe = 2)
        .select(col("q_id").as("id_a"), col("vec_id").as("id_b"))
      graft.operators.Graph.pageRankOverPairs(
        embs.select(col("vec_id").as("id")), knn, iters = 3)
        .select(col("id").as("vec_id"), col("pr"))
    }),

    // SCD2 dimension build: per-customer (status, priority) version
    // history compacted from the orders observation feed — null-safe
    // change detection, [valid_from, valid_to) intervals, deterministic
    // (o_orderdate, o_orderkey) order
    "q160_scd2_build" -> ((s, dir) =>
      graft.operators.Scd.customerStatusDim(Tables.orders(s, dir))),

    // point-in-time-correct enrichment: every lineitem priced under the
    // customer state valid AT ITS SHIP DATE (the anti-leakage join —
    // current-row enrichment would leak future attributes into past
    // facts), rolled up per ship-time state; dim broadcast, facts never
    // shuffle on the dimension key
    "q161_scd2_pointintime" -> ((s, dir) =>
      graft.operators.Scd.shipTimeStateRollup(
        Tables.lineitem(s, dir), Tables.orders(s, dir))),

    // embedding-space near-duplicates (cosine >= 0.35) in a vec_id window
    // (labeled NLJ demo; scale twins q32/q85). Its r8 bench weight was NOT
    // pair volume — it was predicate ORDER: the optimizer folded the
    // cosine filter into the BNLJ condition ahead of the cheap id checks,
    // so all 4M id pairs paid round(cosine). nearDupPairs now builds the
    // conjunction cheap-first in the join condition (VERDICT r8 #5;
    // 3.5 s → ~0.3 s at sf0.1 with the same 4M-pair input)
    "q14_dedup_embedding_cosine" -> ((s, dir) =>
      Similarity.nearDupPairs(Tables.embeddings(s, dir), threshold = 0.35, idWindow = 25)),

    // exact brute-force cosine top-10 for query vectors vec_id < 8
    "q15_ann_topk_brute" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.bruteTopK(e, e.filter(col("vec_id") < 8), k = 10)
    }),

    // IVF-style ANN: probe only the query's cell (label = coarse quantizer)
    "q16_ann_ivf_label" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 8), k = 5)
    }),

    // stopword-dictionary language identification
    "q17_text_lang_id" -> ((s, dir) => TextAnalysis.langId(Tables.documents(s, dir))),

    // length/punctuation/stopword quality scoring
    "q18_text_quality" -> ((s, dir) => TextAnalysis.quality(Tables.documents(s, dir))),

    // whitespace + BPE-ish regex token counting
    "q19_token_count" -> ((s, dir) => TextAnalysis.tokenCounts(Tables.documents(s, dir))),

    // canonical-text md5 fingerprint + 60-bit integer projection
    "q20_text_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(Tables.documents(s, dir))),

    // multimodal: opaque binary payload + typed metadata projection
    "q21_multimodal_meta" -> ((s, dir) =>
      Multimodal.mediaFromDocuments(Tables.documents(s, dir))
        .select(col("media_id"), col("kind"),
          length(col("payload")).as("n_bytes"),
          lower(substring(hex(col("payload")), 1, 16)).as("header"))),

    // ------------------------------------------------------------------
    // Relational surface beyond the reference (SURVEY.md §2.13 classes)
    // ------------------------------------------------------------------

    // ranking window + top-k per group (WindowGroupLimit at scale)
    "q22_topk_revenue" -> ((s, dir) =>
      Relational.topKRevenue(Tables.lineitem(s, dir), k = 3)),

    // anti join (NOT EXISTS, selective build side)
    "q23_anti_join" -> ((s, dir) =>
      Relational.customersWithoutOrders(Tables.customer(s, dir),
        Tables.orders(s, dir).filter(col("o_totalprice") > 300000.0))),

    // semi join (EXISTS) + aggregate
    "q24_semi_join" -> ((s, dir) =>
      Relational.activeCustomersBySegment(Tables.customer(s, dir), Tables.orders(s, dir))),

    // rollup grouping sets in one Expand pass
    "q25_rollup" -> ((s, dir) => Relational.rollupTotals(Tables.lineitem(s, dir))),

    // exact distinct aggregates
    "q26_distinct_agg" -> ((s, dir) => Relational.distinctCounts(Tables.lineitem(s, dir))),

    // hopping/sliding windows (60s window, 30s slide) over events
    "q27_sliding_window" -> ((s, dir) => Windows.slidingAgg(Tables.events(s, dir))),

    // session windows (1h inactivity gap) per user over events
    "q28_session_window" -> ((s, dir) => Windows.sessionAgg(Tables.events(s, dir))),

    // q139: time-bucket gap filling with LOCF (the time_bucket_gapfill +
    // locf operator of time-series stores): missing hourly buckets
    // between each user's first and last observation are generated via
    // sequence+explode and filled with the last observed value, is_gap
    // in-band; LOCF window partitioned per user, bounded by calendar
    "q139_gapfill_locf" -> ((s, dir) =>
      Windows.gapFillLocf(Tables.events(s, dir))),

    // exact continuous quantiles (median / p95) per group
    "q29_quantiles" -> ((s, dir) => Relational.quantiles(Tables.lineitem(s, dir))),

    // set operation: EXCEPT over customer key sets
    "q30_set_ops" -> ((s, dir) =>
      Relational.exclusivelyHighValueCustomers(Tables.orders(s, dir), threshold = 250000.0)),

    // ------------------------------------------------------------------
    // Scale-path twins of the id-window demos (round-2: equi-join shapes)
    // ------------------------------------------------------------------

    // simhash near-dup via hash-block bucketing: equi-join candidates
    // (pigeonhole over 16-bit blocks), same hamming verification as q12
    "q31_dedup_simhash_bucketed" -> ((s, dir) =>
      Dedup.simhashBucketedNearDups(Tables.documents(s, dir), maxHamming = 3)),

    // embedding near-dup via learned k-means cells: equi-join on cell id,
    // same cosine verification as q14
    "q32_dedup_embedding_cells" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.cellNearDupPairs(e,
        kmeansShared(s, dir).cells, threshold = 0.35, nCells = KmeansK)
    }),

    // ANN index build: IVF over cells learned by deterministic seeded
    // k-means (not the pre-assigned label column, closing q16's asterisk)
    // PRODUCER of the shared quantizer: fits fresh (priced here),
    // republishes for q32/q51/q96/q99/q120
    "q33_ann_ivf_kmeans" -> ((s, dir) =>
      Similarity.ivfTopKKmeansModel(Tables.embeddings(s, dir),
        kmeansPublish(s, dir),
        labeled => labeled.filter(col("vec_id") < 8), k = 5)),

    // bounded-memory approximate quantiles (scale path of exact q29) with
    // in-band tolerance flags (oracle expects 1s)
    "q34_quantiles_approx" -> ((s, dir) =>
      Relational.approxQuantiles(Tables.lineitem(s, dir))),

    // as-of (point-in-time) join: trades ⋈ most-recent-quote per user via
    // the union + ordered-window rewrite (one shuffle, no range NLJ)
    "q35_asof_join" -> ((s, dir) =>
      AsOf.tradesWithLatestQuote(Tables.events(s, dir))
        .filter(col("q_id").isNotNull)),

    // HLL++ approximate distinct (scale path of exact q26), in-band flag
    "q36_distinct_approx" -> ((s, dir) =>
      Relational.approxDistinct(Tables.lineitem(s, dir))),

    // CUBE grouping sets (completes rollup/cube family)
    "q37_cube" -> ((s, dir) => Relational.cubeTotals(Tables.lineitem(s, dir))),

    // INTERSECT set operation (completes EXCEPT from q30)
    "q38_intersect" -> ((s, dir) =>
      Relational.mixedValueCustomers(Tables.orders(s, dir), threshold = 250000.0)),

    // interval join: error→purchase-within-1h proximity pairs via
    // bin-bucketed equi-join (no non-equi NLJ; see RangeJoin scaladoc)
    "q39_range_join" -> ((s, dir) =>
      RangeJoin.proximityPairs(Tables.events(s, dir),
        typeA = "error", typeB = "purchase", tolSec = 3600)),

    // q140: the interval join's LEFT OUTER flavor — inner bin-bucketed
    // pairs + an id anti-join for the unmatched left side (null-padded
    // once, not per bin); the oracle is DuckDB's non-equi LEFT JOIN
    "q140_range_join_leftouter" -> ((s, dir) =>
      RangeJoin.proximityPairsLeftOuter(Tables.events(s, dir),
        typeA = "error", typeB = "purchase", tolSec = 3600)),

    // q141: the RIGHT OUTER flavor — unmatched purchases keep one
    // null-padded row (the left-outer anti-join mirrored to id_b)
    "q141_range_join_rightouter" -> ((s, dir) =>
      RangeJoin.proximityPairsRightOuter(Tables.events(s, dir),
        typeA = "error", typeB = "purchase", tolSec = 3600)),

    // q142: FULL OUTER — inner pairs + both unmatched sides null-padded
    // once each, completing the interval-join flavor matrix
    "q142_range_join_fullouter" -> ((s, dir) =>
      RangeJoin.proximityPairsFullOuter(Tables.events(s, dir),
        typeA = "error", typeB = "purchase", tolSec = 3600)),

    // PIVOT with a static value list (one aggregation pass)
    "q41_pivot" -> ((s, dir) => Relational.pivotQuantities(Tables.lineitem(s, dir))),

    // global ORDER BY + LIMIT (TakeOrderedAndProject: per-partition heaps,
    // no full sort/shuffle)
    "q42_global_topn" -> ((s, dir) =>
      Relational.globalTopOrders(Tables.orders(s, dir), n = 20)),

    // salted skew join: result must be IDENTICAL to the plain join (only
    // the partitioning changes) — the oracle is the unsalted join
    "q40_salted_join" -> ((s, dir) => {
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      Skew.saltedJoin(
        Tables.orders(s, dir).select(col("o_custkey"), col("o_totalprice")),
        dim, "o_custkey", salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 4).as("sum_price"))
    }),

    // LEFT OUTER join + aggregate (null-extension semantics)
    "q43_outer_join" -> ((s, dir) =>
      Relational.customerOrderTotals(Tables.customer(s, dir), Tables.orders(s, dir))),

    // collect_list with pinned ordering, rendered engine-portably
    "q44_collect_csv" -> ((s, dir) => Relational.orderPricesCsv(Tables.orders(s, dir))),

    // analytic window functions: running sum, lag, ntile
    "q45_window_analytics" -> ((s, dir) =>
      Relational.orderRunningStats(Tables.orders(s, dir))),

    // date scalar functions: year/month extraction + aggregate
    "q46_dates" -> ((s, dir) => Relational.ordersByMonth(Tables.orders(s, dir))),

    // SQL surface end-to-end: the same engine through spark.sql, including
    // GraftExtensions-registered custom expressions (sim_hash16,
    // lang_predict, punct_count) — proves SQL users get bit-identical
    // results to the DataFrame API
    "q47_sql_surface" -> ((s, dir) => {
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql("""SELECT doc_id, sim_hash16(split(lower(text), ' ')) AS simhash,
              |       lang_predict(split(lower(text), ' ')) AS pred_lang,
              |       punct_count(lower(text)) AS n_punct
              |FROM documents_v""".stripMargin)
        .filter(col("simhash").isNotNull)
    }),

    // lateral view / explode: per-document top-3 tokens by frequency
    "q48_top_tokens" -> ((s, dir) =>
      TextAnalysis.topTokens(Tables.documents(s, dir), k = 3)),

    // RANGE-frame analytic window: trailing-1h by event time (tie-safe)
    "q49_range_frame" -> ((s, dir) =>
      Windows.trailingHourStats(Tables.events(s, dir))),

    // scalar string-function battery (upper/substr/reverse/translate/
    // concat_ws/lpad)
    "q50_string_funcs" -> ((s, dir) =>
      TextAnalysis.stringFunctions(Tables.documents(s, dir))),

    // multi-probe IVF ANN: each query scores its top-2 nearest cells,
    // recovering recall lost at cell boundaries with the same equi-join
    // plan shape as q33 (see SimilaritySpec recall assertion)
    "q51_ann_ivf_multiprobe" -> ((s, dir) =>
      Similarity.ivfTopKMultiProbeModel(Tables.embeddings(s, dir),
        kmeansShared(s, dir),
        e => e.filter(col("vec_id") < 8), k = 5, nProbe = 2)),

    // dedup-cluster extraction: connected components over the LSH-verified
    // near-dup pairs (iterative min-label propagation; oracle replays the
    // fixpoint with a recursive CTE)
    "q52_dedup_clusters" -> ((s, dir) => ccLabelsFresh(s, dir)),

    // end-to-end curation: language filter + quality floor + exact-dedup
    // canonical survivor, fused into one scan + one fp64 shuffle
    "q53_curation_pipeline" -> ((s, dir) =>
      Curation.curate(Tables.documents(s, dir), lang = "en", minQuality = 0.5)),

    // deterministic stratified sampling: md5-bucket coin per doc, 10% for
    // the dominant language, 50% for the rest (training-mix rebalance)
    "q54_stratified_sample" -> ((s, dir) =>
      Curation.stratifiedSample(Tables.documents(s, dir),
        rates = Map("en" -> 10), defaultPct = 50)),

    // int8 embedding quantization with in-band reconstruction-error bound
    "q55_embedding_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(Tables.embeddings(s, dir))),

    // bag-semantics set ops: EXCEPT ALL / INTERSECT ALL multiset counts
    "q56_bag_set_ops" -> ((s, dir) =>
      Relational.bagSetOps(Tables.orders(s, dir), threshold = 250000.0)),

    // correlated scalar + EXISTS subqueries through the SQL surface
    // (Catalyst decorrelates both into joins — no per-row re-execution)
    "q57_correlated_subquery" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice,
              |  (SELECT c_mktsegment FROM customer_v c
              |   WHERE c.c_custkey = o.o_custkey) AS seg,
              |  CAST(EXISTS(SELECT 1 FROM lineitem_v l
              |              WHERE l.l_orderkey = o.o_orderkey
              |                AND l.l_quantity >= 45) AS INT) AS has_bulk
              |FROM orders_v o""".stripMargin)
    }),

    // statistical aggregates gated on exact integer moments; native
    // stddev_samp/corr asserted in-band
    "q58_stats_agg" -> ((s, dir) =>
      Relational.statsAggregates(Tables.lineitem(s, dir))),

    // nested-JSON encode/decode round trip (struct + array)
    "q59_json_nested" -> ((s, dir) =>
      Relational.jsonNestedRoundtrip(Tables.orders(s, dir))),

    // corpus length distribution via the custom TypedImperativeAggregate
    // (exact integer histogram, map-side partial aggregation)
    "q60_length_histogram" -> ((s, dir) =>
      TextAnalysis.lengthHistogram(Tables.documents(s, dir))),

    // ranking-function battery under real ties (coarse price buckets)
    "q61_rank_battery" -> ((s, dir) =>
      Relational.rankFunctions(Tables.orders(s, dir))),

    // fixed-size deterministic per-language sample (hash-priority top-k)
    "q62_fixed_sample" -> ((s, dir) =>
      Curation.fixedSizeSample(Tables.documents(s, dir), k = 5)),

    // UNPIVOT: pivot -> melt round trip reproduces the grouped aggregate
    "q63_unpivot" -> ((s, dir) =>
      Relational.unpivotQuantities(Tables.lineitem(s, dir))),

    // MapType round trip (map_from_arrays / element_at / map_keys)
    "q64_map_roundtrip" -> ((s, dir) =>
      Relational.mapRoundtrip(Tables.orders(s, dir))),

    // array higher-order functions (filter/exists/transform/fold)
    "q65_array_functions" -> ((s, dir) =>
      Similarity.arrayFunctions(Tables.embeddings(s, dir))),

    // heavy hitters: exact top-k tokens probed against a Count-Min sketch
    // (custom mergeable sketch aggregate); CMS one-sided bound in-band
    "q66_heavy_hitters" -> ((s, dir) =>
      TextAnalysis.heavyHittersStage(Tables.documents(s, dir)).result),

    // the custom AGGREGATES through the SQL surface (VERDICT r4 #4):
    // histogram_agg + count_min_agg + cms_query registered by
    // GraftExtensions and reached via spark.sql — the q60 histogram
    // replayed in SQL, with the CMS contract asserted in-band (the
    // sketch estimate of each language's doc count never underestimates
    // and overestimates by at most ~3N/width)
    "q67_sql_aggregates" -> ((s, dir) => {
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql("""WITH h AS (
              |  SELECT lang_predict(split(lower(text), ' ')) AS pred_lang,
              |         size(split(text, ' ')) AS n_words
              |  FROM documents_v),
              |g AS (
              |  SELECT pred_lang, histogram_agg(n_words, 8, 10) AS hist,
              |         count(*) AS n_docs
              |  FROM h GROUP BY pred_lang),
              |sk AS (
              |  SELECT count_min_agg(pred_lang, 4, 256) AS sk,
              |         count(*) AS n_total
              |  FROM h)
              |SELECT g.pred_lang, b.bucket, b.cnt,
              |       CAST(cms_query(sk.sk, g.pred_lang, 4, 256) >= g.n_docs
              |            AS INT) AS cms_lower_ok,
              |       CAST(cms_query(sk.sk, g.pred_lang, 4, 256)
              |            <= g.n_docs + 3.0 * sk.n_total / 256
              |            AS INT) AS cms_upper_ok
              |FROM g CROSS JOIN sk
              |LATERAL VIEW posexplode(g.hist) b AS bucket, cnt""".stripMargin)
    }),

    // multimodal metadata decode: REAL header parsing (PNG IHDR, JPEG SOF
    // marker walk, WAV fmt chunk — graft.functions.MediaHeaders) over
    // spec-conformant payloads whose geometry/sample rate is a closed
    // form of doc_id; the oracle verifies the construct → parse round
    // trip against the closed form
    "q68_multimodal_decode" -> ((s, dir) =>
      Multimodal.decodeMeta(
        Multimodal.syntheticMedia(Tables.documents(s, dir)))),

    // bloom-filter join pre-filter: fixed-size OR-merged bit array over
    // the selective side's keys, broadcast probe at the big side's scan;
    // the no-false-negative contract asserted in-band on every row
    "q69_bloom_join_filter" -> ((s, dir) =>
      Relational.bloomSemiFilter(Tables.customer(s, dir),
        Tables.orders(s, dir), threshold = 300000.0)),

    // Gopher-style repetition quality signals (dup-word fraction,
    // top-bigram fraction) — the curation layer's repetition filters
    "q70_repetition_signals" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(Tables.documents(s, dir))),

    // TF-IDF top-3 terms per document (tf·ln(N/df), deterministic ties)
    "q71_tfidf_topterms" -> ((s, dir) =>
      TextAnalysis.tfIdfTopTerms(Tables.documents(s, dir), k = 3)),

    // explicit GROUPING SETS (non-rollup set list) with grouping_id
    "q72_grouping_sets" -> ((s, dir) =>
      Relational.groupingSetsTotals(Tables.lineitem(s, dir))),

    // int8-quantized ANN: integer dot products on quantized vectors,
    // rescaled — bit-identical cross-engine, no tie-break scaffolding
    "q73_ann_quantized" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.quantizedTopK(e, e.filter(col("vec_id") < 8), k = 10)
    }),

    // benchmark decontamination (GPT-3 appendix-C shape): train docs
    // scored by the fraction of their distinct 5-grams appearing in the
    // held-out split; both sides collapse to 60-bit gram fingerprints
    // before the equi-join
    "q74_contamination" -> ((s, dir) =>
      Curation.contaminationCheck(Tables.documents(s, dir),
        benchSource = "src0")),

    // PII redaction over deterministic synthetic payloads (the corpus
    // itself is word salad, so the gate constructs emails/phones/IPs from
    // doc_id closed forms and the oracle replays the construction)
    "q75_pii_redact" -> ((s, dir) =>
      TextAnalysis.redactPii(
        TextAnalysis.withSyntheticPii(Tables.documents(s, dir)))),

    // fixed-size token chunking via the single-pass WordChunks kernel +
    // posexplode — scan-fused, chunk ordinal free from the explode
    "q76_chunking" -> ((s, dir) =>
      TextAnalysis.chunkDocuments(Tables.documents(s, dir), chunkSize = 32)),

    // concat-and-slice sequence packing, two-level: block-parallel
    // running sums stitched by a broadcast per-block prefix — parallelism
    // scales with nBlocks, not #languages (VERDICT r5 #1)
    "q77_sequence_packing" -> ((s, dir) =>
      Curation.packStage(Tables.documents(s, dir), ctxTokens = 256).result),

    // temperature-based (alpha=0.5) domain rebalancing with TRUE
    // upsampling: targetFrac=1.0 pushes the small strata past 100% so
    // they emit deterministic copies (copy_idx in the key) while the
    // dominant language downsamples — expected output size stays N
    "q78_temperature_resample" -> ((s, dir) =>
      Curation.temperatureResample(Tables.documents(s, dir),
        targetFrac = 1.0)),

    // overlapping (strided) chunking: windows start every 24 tokens,
    // carry 32 — same scan-fused kernel, chunk pairs overlap by 8
    "q79_chunking_strided" -> ((s, dir) =>
      TextAnalysis.chunkDocuments(Tables.documents(s, dir),
        chunkSize = 32, stride = 24)),

    // token-budget selection: whole quality buckets above the cutoff,
    // running sum only inside the boundary bucket — never a global sort
    "q80_token_budget_select" -> ((s, dir) =>
      Curation.budgetStage(Tables.documents(s, dir),
        budgetTokens = 10000L).result),

    // deterministic epoch shuffle: per-epoch md5 priority, parallel
    // per-shard ranks — reproducible data-loader order without rand()
    "q81_epoch_shuffle" -> ((s, dir) =>
      Curation.epochShuffle(Tables.documents(s, dir), epoch = 3, nShards = 8)),

    // CCNet/C4-style boilerplate chunk removal + ordered reassembly
    "q82_boilerplate_removal" -> ((s, dir) =>
      Dedup.boilerplateStage(Tables.documents(s, dir),
        chunkTokens = 16, maxDf = 1).result),

    // substring-level exact dedup: strided 16-token span fingerprints,
    // per-doc fraction of spans shared with another document (Lee et al.
    // ACL'22 re-expressed as parallel span fingerprints, not a suffix
    // array)
    "q83_span_dedup" -> ((s, dir) =>
      Dedup.spanDedupStage(Tables.documents(s, dir),
        spanTokens = 16, stride = 8, maxDupFrac = 0.5).result),

    // CCNet-style perplexity scoring under a corpus-trained unigram LM
    // (train + score in one job; one scan, 8-byte fingerprint joins)
    "q84_lm_perplexity" -> ((s, dir) =>
      TextAnalysis.lmScoreStage(Tables.documents(s, dir)).result),

    // signed-random-projection LSH: angular near-dup candidates from
    // 8-bit signature bands (equi-join, never all-pairs), exact-cosine
    // verified — the third near-dup family (MinHash = set overlap,
    // SimHash = token multiset, SRP = raw-embedding angle)
    "q85_srp_lsh" -> ((s, dir) =>
      Similarity.srpStage(Tables.embeddings(s, dir),
        threshold = 0.35).result),

    // incremental ingestion dedup: the src0/src1 batch dedups AGAINST the
    // rest of the corpus (fingerprint left-join + bands-vs-index LSH),
    // never corpus-vs-corpus
    "q86_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dedupAgainstCorpusStage(
        docs.filter(!col("source").isin("src0", "src1")),
        docs.filter(col("source").isin("src0", "src1"))).result
    }),

    // EXACT quantiles with bounded memory: histogram pass + ranking only
    // the boundary buckets — q29's answer without buffering any group
    "q87_exact_quantile_twopass" -> ((s, dir) =>
      Relational.exactQuantilesTwoPassStage(Tables.lineitem(s, dir),
        "l_returnflag", "l_extendedprice", Seq(0.5, 0.95)).result),

    // bigram-LM perplexity: conditional p(cur|prev), context counts and
    // vocabulary re-folded from one persisted pair stream
    "q88_lm_bigram" -> ((s, dir) =>
      TextAnalysis.lmScoreBigramStage(Tables.documents(s, dir)).result),

    // vocabulary coverage curve: exact top-V via TakeOrdered heaps,
    // cumulating windows over the V-row result only
    "q89_vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverageStage(Tables.documents(s, dir),
        topV = 50).result),

    // per-source drift monitor: exact smoothed KL vs the corpus unigram
    // distribution, absent-token mass in closed form (never source x vocab)
    "q90_source_divergence" -> ((s, dir) =>
      TextAnalysis.sourceDivergenceStage(Tables.documents(s, dir)).result),

    // OHLC downsampling: min_by/max_by candles in one aggregation pass,
    // no window, no sort
    "q91_ohlc_downsample" -> ((s, dir) =>
      Windows.ohlcDownsample(Tables.events(s, dir))),

    // deterministic train/val/test split: content-hash coin, docs never
    // migrate between splits as the corpus grows; scan-only
    "q92_train_split" -> ((s, dir) =>
      Curation.splitAssign(Tables.documents(s, dir))),

    // what does near-dedup buy: cluster-size histogram + removable rows
    // over the SHARED q52 component labels (computed once per session+dir,
    // recomputed only when q93 runs standalone — VERDICT r6 #4)
    "q93_dedup_savings" -> ((s, dir) =>
      Dedup.dedupSavings(ccLabelsShared(s, dir))),

    // pre-flight join-key skew diagnosis: hottest-key share + entropy
    "q94_key_profile" -> ((s, dir) =>
      Relational.profileKeysStage(Tables.orders(s, dir), "o_custkey").result),

    // C4-style blocklist filter: whole-token hits via the one-pass
    // stopword kernel, scan-fused, zero shuffle
    "q95_blocklist_filter" -> ((s, dir) =>
      TextAnalysis.blocklistFilter(Tables.documents(s, dir))),

    // mapInPandas-shaped batch feature extraction over binary payloads:
    // mapPartitions in bounded batches over the synthetic pixel-PNG
    // corpus, REAL decode (the r14 md5 stub is retired — VERDICT r14
    // #3), eight exact integer pixel features; the oracle replays them
    // from the closed-form pixel function, so a decoder bug anywhere in
    // inflate/filter reconstruction breaks the hash
    "q97_feature_extract_batch" -> ((s, dir) =>
      Multimodal.featureExtractBatches(
        Multimodal.imageMedia(Tables.documents(s, dir).select("doc_id")))),

    // q144: pixel-level perceptual hash — PNG decode (IDAT inflate + all
    // five scanline filters) + 64-bit dHash, with DECODED dimensions
    // gated alongside; oracle replays hash bits from closed-form pixels
    "q144_image_dhash" -> ((s, dir) =>
      Multimodal.imageDhashes(
        Multimodal.imageMedia(Tables.documents(s, dir).select("doc_id")))),

    // q145: perceptual image near-dup pairs — dHash through the Manku
    // pigeonhole (equi-join candidates, exact hamming verify, never
    // all-pairs); oracle is the all-pairs truth over replayed hashes
    "q145_image_neardup" -> ((s, dir) =>
      Multimodal.imageNearDups(
        Multimodal.imageMedia(Tables.documents(s, dir).select("doc_id")))),

    // q146: sample-level audio analysis — real 16-bit PCM WAV decode +
    // six exact integer sample statistics + the block-energy
    // fingerprint, one fused pass; oracle replays samples from the
    // closed form (the q144 discipline applied to audio)
    "q146_audio_analysis" -> ((s, dir) =>
      Multimodal.audioAnalysis(
        Multimodal.audioMedia(Tables.documents(s, dir).select("doc_id")))),

    // q147: perceptual audio near-dup pairs — amplitude-scaled
    // re-encodes collide at hamming 0 (the fingerprint is scale-
    // invariant by construction); same pigeonhole plan as q145
    "q147_audio_neardup" -> ((s, dir) =>
      Multimodal.audioNearDups(
        Multimodal.audioMedia(Tables.documents(s, dir).select("doc_id")))),

    // q148: the "resize" verb end to end — every image thumbnailed to
    // 10×9 by area-average (re-encoded as a real grayscale PNG), then
    // the q97 feature extractor runs on the THUMBNAILS; the oracle
    // box-averages the closed-form pixels and recomputes the features,
    // so both the resize arithmetic and the re-encode→decode round trip
    // are hash-gated
    "q148_image_resize" -> ((s, dir) =>
      Multimodal.featureExtractBatches(Multimodal.resizeMedia(
        Multimodal.imageMedia(Tables.documents(s, dir).select("doc_id")),
        tw = 10, th = 9))),

    // q149: the "frame-sample" verb — GVID containers split, every 2nd
    // frame kept, per-frame decode+dHash; the oracle replays each
    // sampled frame's pixels from the (video_id, frame_idx) closed form
    "q149_video_framesample" -> ((s, dir) =>
      Multimodal.videoFrameSample(
        Multimodal.videoMedia(Tables.documents(s, dir).select("doc_id")),
        stride = 2)),

    // q150: the OPTIMIZER-LEVEL twin of q31 — written as the naive
    // global hamming self-join (no equi key, the cross-product shape a
    // SQL user writes first); graft.plans.HammingJoinRewrite rebuilds it
    // into the Manku pigeonhole equi-join at plan time. The gate proves
    // the rewrite preserves semantics exactly (the oracle replays the
    // NAIVE join); HammingJoinRewriteSpec pins the plan shape (Generate
    // + hash join, no BroadcastNestedLoopJoin)
    "q150_hamming_join_rewrite" -> ((s, dir) => {
      val sh = Dedup.simhash(Tables.documents(s, dir))
      val a = sh.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"))
      a.join(b, col("id_b") > col("id_a") &&
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= 3)
        .select(col("id_a"), col("id_b"),
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
    }),

    // q151: the conf-gated POINT-IN-INTERVAL rewrite (BandJoinRewrite's
    // variable-span case, the Databricks RANGE_JOIN-hint shape) — the
    // naive "point between two derived interval bounds" join over real
    // tables, planned through width-8 bins; DuckDB replays the naive
    // join (its IEJoin), so the gate proves the bin plan is exact:
    // per-row spans, duplicate points (lineitem repeats l_orderkey),
    // boundary inclusivity
    // q153: FUZZY decontamination through the semi/anti hamming rewrite —
    // keep documents whose 64-bit simhash is NOT within hamming 6 of any
    // benchmark fingerprint (doc_id % 101 == 0 plays the benchmark set),
    // spelled as the naive LEFT ANTI non-equi join; HammingJoinRewrite
    // factors it through the distinct-fingerprint value set (three equi
    // shuffles, never a per-document benchmark scan). Complements q122's
    // exact-fp decontamination; the oracle replays NOT EXISTS verbatim
    "q153_fuzzy_decontamination" -> ((s, dir) => {
      val sh = Dedup.simhash(Tables.documents(s, dir))
      val bench = sh.filter(col("doc_id") % 101 === 0)
        .select(col("simhash").as("bh"))
      sh.join(bench,
        bit_count(col("simhash").bitwiseXOR(col("bh"))) <= 6, "left_anti")
    }),

    // q152: fixed-point PageRank over the verified near-dup pair graph
    // (centrality within duplicate clusters — the ranking complement to
    // q52's CC labels). Integer micro-unit ranks make the 3-iteration
    // recurrence bit-replayable in DuckDB (floating-point PageRank never
    // hash-gates: inbound sums reassociate); isolated docs ride the left
    // join at base rank
    "q152_pagerank_centrality" -> ((s, dir) =>
      graft.operators.Graph.pageRankOverPairs(
        Tables.documents(s, dir).select(col("doc_id").as("id")),
        lshPairsShared(s, dir), iters = 3)
        .select(col("id").as("doc_id"), col("pr"))),

    // triangles + local clustering coefficient over the same verified
    // near-dup graph (cohesion next to q52's labels and q152's ranks:
    // LCC≈1 = genuine template family, low LCC at high degree = the
    // boilerplate-hub over-deletion hazard); degree-ordered
    // compact-forward orientation, all equi-joins
    "q162_triangle_lcc" -> ((s, dir) =>
      graft.operators.Graph.triangleStats(lshPairsShared(s, dir))
        .withColumnRenamed("id", "doc_id")),

    // declarative data-quality validation (Deequ shape): the lineitem
    // ingestion contract — completeness, domain ranges, flag vocabulary,
    // key uniqueness, orders FK — compiled into ONE aggregation pass +
    // one broadcast anti-join, exact violation counts per constraint
    "q163_validation_report" -> ((s, dir) =>
      graft.operators.Validation.lineitemChecks(
        Tables.lineitem(s, dir), Tables.orders(s, dir))),

    // TrustRank over the near-dup graph: teleport mass pinned to docs
    // from the trusted sources src0/src1 (seeds), trust flows to
    // structurally nearby docs — promote unlabeled pages clustering
    // with known-good ones; integer fixed-point like q152, isolated
    // non-seeds stay at exactly 0
    "q165_trustrank" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val nodes = docs.select(col("doc_id").as("id"),
        col("source").isin("src0", "src1").as("is_seed"))
      graft.operators.Graph.trustRankOverPairs(
        nodes, lshPairsShared(s, dir), iters = 3)
        .select(col("id").as("doc_id"), col("pr").as("trust"))
    }),

    // EXACT edit-distance join (PassJoin segment pigeonhole): every part
    // pair whose names are within 2 edits — typo-tolerant entity
    // matching, the exact ceiling of the n-gram Jaccard approximation;
    // candidates equi-join on (segment, idx, len), never all-pairs, and
    // the 64-distinct-names/2,000-parts fixture exercises the
    // value-set factoring + ed=0 group expansion
    "q164_edit_distance_join" -> ((s, dir) =>
      graft.operators.EditDistance.editDistanceJoinStage(
        Tables.part(s, dir), "p_partkey", "p_name", k = 2).result),

    // deterministic synchronous label propagation (4 rounds, min
    // tie-break): community detection over the near-dup graph — splits
    // connected structure along sparse cuts, where q52 merges it and
    // q167 thresholds it; the round count is the replayable contract
    "q172_lpa_communities" -> ((s, dir) =>
      graft.operators.Graph.labelPropagation(lshPairsShared(s, dir),
        rounds = 4)),

    // bounded k-core peeling over the near-dup graph (Seidman'83): 4
    // simultaneous-removal rounds at k=2 — dense template families
    // survive, chains and hub-stars peel away; converged on this graph
    // (GraphSpec pins it), so the result IS the exact 2-core
    "q167_kcore" -> ((s, dir) =>
      graft.operators.Graph.kCorePeel(lshPairsShared(s, dir), k = 2,
        rounds = 4).withColumnRenamed("id", "doc_id")),

    // mergeable log-binned quantile sketch (DDSketch at base 2, exact
    // integer binning): per-returnflag p50/p90/p99 price cents from a
    // ≤1.9k-row-per-group sketch relation — the percentile monitor
    // shape next to q87's exact two-pass and q157's HLL registers
    "q168_quantile_sketch" -> ((s, dir) =>
      graft.operators.Sketches.priceQuantiles(Tables.lineitem(s, dir))),

    // EXACT containment join (asymmetric: |Sa∩Sb|/|Sa| — the measure
    // Jaccard structurally misses when a benchmark item sits inside a
    // 100×-longer page): benchmark docs (doc_id%3=0 — wide enough that
    // the planted near-dup families cross the split, unlike %101)
    // probe the training corpus's full shingle index via their rarest-
    // first prefixes; the graded upgrade of q122's any-shingle flag
    "q170_containment_join" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.containmentJoinAgainstCorpusStage(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0), threshold = 0.35).result
    }),

    // first-order Markov transition matrix over per-user event paths —
    // where users actually GO next, vs q115's prescribed funnel order;
    // sequencing by the EWMA fold discipline, never a window over a
    // power user's history
    "q178_event_transitions" -> ((s, dir) =>
      graft.operators.EventAnalytics.transitionMatrix(Tables.events(s, dir))),

    // OR-of-equalities join (the record-linkage spelling) written
    // NAIVELY — the DisjunctiveJoinRewrite decomposes it into a
    // multiplicity-exact union of hash joins; pairs matching BOTH keys
    // must appear exactly once (the exactly-one-branch discipline)
    "q177_or_join_rewrite" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val a = c.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey").as("id_a"))
      val b = c.filter(col("c_custkey") % 2 === 1)
        .select(col("c_custkey").as("id_b"))
      a.join(b,
        col("id_a") % 97 === col("id_b") % 97 ||
          col("id_a") % 89 === col("id_b") % 89)
        .select(col("id_a"), col("id_b"))
    }),

    // TPC-H Q5 shape: six-table join with the correlated
    // customer-nation = supplier-nation path — the Catalyst
    // join-ordering stressor, and the first gate touching region/nation
    "q176_regional_volume" -> ((s, dir) =>
      graft.operators.Relational.regionalSupplierVolume(
        Tables.region(s, dir), Tables.nation(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir),
        regionName = "ASIA", dateLo = "1996-01-01", dateHi = "1999-01-01")),

    // CDC apply (last-writer-wins MERGE with deletes — SCD Type 1 next
    // to q160's Type 2): a deterministic change feed derived from orders
    // (updates %3, deletes %7 at a later seq, inserts %5=4 under new
    // keys) folds into the base by one map-side max(struct) + one
    // full-outer join; a key's whole change history combines map-side
    "q175_cdc_apply" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val tpType = o.schema("o_totalprice").dataType
      val upd = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), lit(1L).as("seq"), lit("U").as("op"),
          lit("X").as("o_orderstatus"),
          (col("o_totalprice") + 100).cast(tpType).as("o_totalprice"))
      val del = o.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), lit(2L).as("seq"), lit("D").as("op"),
          lit(null).cast("string").as("o_orderstatus"),
          lit(null).cast(tpType).as("o_totalprice"))
      val ins = o.filter(col("o_orderkey") % 5 === 4)
        .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
          lit(1L).as("seq"), lit("I").as("op"),
          lit("N").as("o_orderstatus"), col("o_totalprice"))
      graft.operators.Scd.cdcApply(o, upd.unionByName(del).unionByName(ins),
        "o_orderkey", "seq", "op", Seq("o_orderstatus", "o_totalprice"))
    }),

    // k-anonymity / l-diversity audit — the pre-release check q156's DP
    // mechanism presumes: every (nation, segment) equivalence class must
    // hold >= k customers and >= l distinct sensitive values; failing
    // classes are the suppression work-list
    "q173_kanonymity" -> ((s, dir) =>
      graft.operators.Privacy.kAnonymityReport(
        Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"),
        (col("c_acctbal") < 0).cast("int"), k = 10, l = 2)),

    // calibration curve for the shipped quality classifier — the drift
    // q121's threshold metrics can't see: per (split, probability bin),
    // mean predicted vs empirical positive rate; gap = per-bin ECE term
    "q174_calibration_curve" -> ((s, dir) =>
      graft.operators.QualityModel.calibrationCurve(
        Tables.documents(s, dir))),

    // exact ROC AUC per split — the threshold-free ranking metric
    // completing the eval triple (q121 fixed-cut, q174 calibration):
    // all-integer Mann-Whitney rank accumulation over the bounded
    // (split, rounded-score) relation, one corpus scan
    "q179_roc_auc" -> ((s, dir) =>
      graft.operators.QualityModel.rocAuc(Tables.documents(s, dir))),

    // per-event-type OLS trend of value over time — exact decimal sums
    // (integer seconds x, integer cents y) collapse the stream to
    // |groups| rows in one map-side-combining aggregate; slope/
    // intercept/r2 are closed-form double divisions over exact operands
    "q180_grouped_trend" -> ((s, dir) =>
      graft.operators.Stats.groupedTrend(Tables.events(s, dir),
        col("event_type"), col("ts"), col("value"))),

    // chi-square independence of source x lang over documents — one
    // scan to the contingency cells, marginals broadcast over the cell
    // relation, Cramér's V effect size from the same integer counts
    "q181_chi_square" -> ((s, dir) =>
      graft.operators.Stats.chiSquareIndependence(
        Tables.documents(s, dir), col("source"), col("lang"))),

    // delete-path summary maintenance — the case q189's append merge
    // refuses: touched groups rebuild from the post-delete base slice
    // (broadcast semi gate), untouched groups ride the artifact; must
    // hash-equal the full post-delete recompute
    "q196_summary_delete_rebuild" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val remaining = docs.filter(col("doc_id") % 7 =!= 3)
      val summary = docs.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      val touched = docs.filter(col("doc_id") % 7 === 3)
        .select("source", "lang")
      graft.operators.Relational.summaryRebuildGroups(remaining, summary,
        touched, Seq("source", "lang"), "cnt",
        Map("n_chars" -> "sum_chars"), Map("doc_id" -> "min_doc"),
        Map("doc_id" -> "max_doc"))
    }),

    // decimal money rollup over the registered decimal base — the exact
    // q188 MV shape, but the decimal(12,2) sum partial would WIDEN under
    // re-aggregation, so MvRewrite's type guard must stand down and the
    // answer must come from the base with exact decimal arithmetic,
    // hash-equal to DuckDB's decimal engine (VERDICT r16 #4; plan pinned
    // base-scanning in MvRewriteSpec)
    "q198_decimal_rollup" -> ((s, dir) => {
      val base = s.read.parquet(decimalBaseShared(s, dir))
      base.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("price_d")).as("sum_price"),
          min(col("price_d")).as("min_price"),
          max(col("price_d")).as("max_price"))
    }),

    // the decimal FIRE path q198 deliberately avoids (VERDICT r17 #3):
    // count/min/max are self-decomposable WITHOUT widening (count rolls
    // up long→long, min/max keep decimal(12,2) bit-for-bit), so this
    // rollup over the same registered decimal base must answer from the
    // SUMMARY scan (plan pinned in MvRewriteSpec) while the oracle
    // recomputes from lineitem — the rewrite itself is hash-gated exact
    // on the decimal plane
    "q200_decimal_mv_fire" -> ((s, dir) => {
      val base = s.read.parquet(decimalBaseShared(s, dir))
      base.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          min(col("price_d")).as("min_price"),
          max(col("price_d")).as("max_price"))
    }),

    // decimal revenue arithmetic — price·(1−disc) in pure decimal
    // multiply/subtract (scale grows 2→4, exact in both engines); the
    // mean goes through exact integer CENTS (decimal→double casts are
    // NOT bit-identical across engines — DuckDB multiplies the int128 by
    // 10^-scale in double, two roundings — but an integer-valued sum
    // casts identically), one double division, round 4 — the TPC-H Q1
    // discipline on the decimal plane
    "q199_decimal_revenue" -> ((s, dir) =>
      Tables.lineitem(s, dir).select(
          col("l_linestatus"),
          col("l_extendedprice").cast("decimal(12,2)").as("p"),
          col("l_discount").cast("decimal(12,2)").as("d"))
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("p")).as("sum_price"),
          sum(col("p") * (lit(1).cast("decimal(12,2)") - col("d")))
            .as("sum_revenue"),
          round(sum((col("p") * lit(100)).cast("decimal(38,0)"))
              .cast("double") / (lit(100.0) * count(lit(1))), 4)
            .as("avg_price"))),

    // right-to-be-forgotten receipt — exact per-table before/deleted/
    // after counts for a broadcast forget set spanning events (by user)
    // and orders (by customer)
    "q197_forget_receipt" -> ((s, dir) => {
      val ids = Tables.events(s, dir)
        .filter(col("user_id") % 101 === 5).select("user_id")
      graft.operators.Privacy.forgetReceipt(Seq(
        ("events", Tables.events(s, dir), "user_id"),
        ("orders", Tables.orders(s, dir), "o_custkey")), ids)
    }),

    // top-10 most frequent 3-step event paths — q178's fold widened to
    // trigrams (O(2) state), type³-bounded count relation, TakeOrdered
    // selection with a full tie-break
    "q194_top_paths" -> ((s, dir) =>
      graft.operators.EventAnalytics.topPaths(Tables.events(s, dir))),

    // mean seconds between consecutive events per (from → to) pair —
    // the timing companion of q178; exact integer micro sums, one
    // double division, rounded 4
    "q195_transition_timing" -> ((s, dir) =>
      graft.operators.EventAnalytics.transitionTiming(Tables.events(s, dir))),

    // ANALYZE-style column profile of orders — one scan (one Expand
    // for the mixed distinct/plain aggregate set), exact NDV, per-type
    // min/max families
    "q193_table_profile" -> ((s, dir) =>
      graft.operators.Validation.tableProfile(Tables.orders(s, dir),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"))),

    // k-anonymity enforcement — q173's audit followed by the fix:
    // local generalization up the nation→region→'*' hierarchy with
    // per-round safety judged on rows still in flight; suppressed rows
    // kept with level = -1 so row conservation is gate-checkable
    "q191_kanonymize" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      val n = Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val r = Tables.region(s, dir)
        .select(col("r_regionkey"), col("r_name"))
      val joined = c.join(broadcast(n),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      graft.operators.Privacy.kAnonymize(joined, "c_custkey",
        Seq("n_name", "r_name"), Seq("c_mktsegment"), k = 15)
    }),

    // q115's funnel with a 12-hour conversion window — stage i counts
    // only within the window of stage i−1 (first-touch anchoring);
    // same window-free aggregate cascade
    "q190_funnel_within" -> ((s, dir) =>
      graft.operators.EventAnalytics.funnelWithin(
        Tables.events(s, dir), maxGapHours = 12)),

    // incremental summary maintenance — the q188 view's daily job: the
    // stored summary merges with the append batch's own rollup (merge
    // laws: additive count/sum with SQL null semantics, null-skipping
    // least/greatest); must hash-equal the full recompute
    "q189_summary_delta" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val prior = docs.filter(col("doc_id") % 5 =!= 4)
      val delta = docs.filter(col("doc_id") % 5 === 4)
      val summary = prior.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      graft.operators.Relational.summaryApplyDelta(summary, delta,
        Seq("source", "lang"), "cnt", Map("n_chars" -> "sum_chars"),
        Map("doc_id" -> "min_doc"), Map("doc_id" -> "max_doc"))
    }),

    // materialized-view rollup — the query is written against the BASE
    // table; the registered (source, lang) summary answers it through
    // the MvRewrite rule (plan pinned by MvRewriteSpec), and the oracle
    // recomputes from the base, so the rewrite is hash-gated exact
    "q188_mv_rollup" -> ((s, dir) => {
      mvShared(s, dir)
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"),
          max(col("doc_id")).as("max_doc"))
    }),

    // first/last-touch conversion attribution — the q178 fold
    // discipline segmenting each user's path at purchases; O(1) state
    // per user, credit aggregate is touch-type-sized
    "q187_attribution" -> ((s, dir) =>
      graft.operators.EventAnalytics.attribution(Tables.events(s, dir))),

    // q186's report computed from the STORED histogram artifact —
    // corpus rows enter the plan nowhere; gated against q186's
    // verbatim full-scan oracle (the q134/q137 artifact discipline)
    "q192_robust_outliers_artifact" -> ((s, dir) =>
      graft.operators.Stats.robustOutliersFromHist(
        s.read.parquet(eventHistShared(s, dir)))),

    // robust per-event-type outlier screen — lower-median + MAD over
    // the integer-cents histogram, all-integer outlier rule
    // dev·10000 > MAD·44478; windows run over the resolution-bounded
    // histogram, never the event stream
    "q186_robust_outliers" -> ((s, dir) =>
      graft.operators.Stats.robustOutliers(Tables.events(s, dir),
        col("event_type"), col("value"))),

    // anti-entropy table reconciliation — orders vs a mutated copy
    // (dropped %97, re-statused %89=3, inserted %101=5 under fresh
    // keys): Merkle-style per-bucket fingerprints find the dirty
    // buckets, only those re-enter the key-level full-outer compare;
    // the oracle replays the SEMANTICS as a direct full join
    "q182_table_diff" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
      val mutated = o.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 89 === 3, lit("Z"))
            .otherwise(col("o_orderstatus")))
        .unionByName(o.filter(col("o_orderkey") % 101 === 5)
          .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
            col("o_custkey"), col("o_orderstatus")))
      graft.operators.Validation.tableDiff(o, mutated, "o_orderkey",
        Seq("o_custkey", "o_orderstatus"))
    }),

    // schema-evolution read — one logical table over two layout
    // generations (v2 added `lang`): mergeSchema fuses the footers,
    // NULL-fills the pre-evolution rows, and the aggregate must see
    // both generations as one relation
    "q183_schema_evolution" -> ((s, dir) => {
      val root = evoLayoutShared(s, dir)
      graft.sources.Writers.readEvolved(s, Seq(s"$root/v1", s"$root/v2"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("chars"),
          min(col("doc_id")).as("min_doc"))
    }),

    // PSI drift report between two snapshot halves over the q168
    // log-binned length distribution — the "did the data move?" monitor
    // next to q163's expectation checks; sketch-sized after two scans
    "q171_psi_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Validation.psiDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        col("source"), length(col("text")).cast("long"))
        .withColumnRenamed("g", "source")
    }),

    // integer EWMA smoothing + deviation-band anomaly flags per user —
    // the order-dependent recurrence a window can't express: one shuffle
    // on the key, per-partition sequential fold, O(1) state per key;
    // oracle = DuckDB recursive CTE replaying the identical longs
    "q169_ewma_anomaly" -> ((s, dir) =>
      graft.operators.TimeSeries.eventEwmaAnomaly(Tables.events(s, dir))),

    // q164's daily-ingestion twin (the q154↔q158 split applied to edit
    // distance): incoming parts vs the stored corpus — the corpus never
    // self-joins, cost is |incoming|-proportional; union-affix stripping
    // keeps the prefix lemma valid across both relations
    "q166_edit_distance_incremental" -> ((s, dir) => {
      val p = Tables.part(s, dir)
      graft.operators.EditDistance.editDistanceAgainstCorpusStage(
        p.filter(col("p_partkey") % 4 =!= 0),
        p.filter(col("p_partkey") % 4 === 0),
        "p_partkey", "p_name", k = 2).result
    }),

    "q151_interval_join_rewrite" -> ((s, dir) => {
      s.conf.set("spark.graft.bandJoinRewrite.intervalBinWidth", "8")
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"))
      val o = Tables.orders(s, dir).select(col("o_orderkey"))
      l.join(o,
          col("l_orderkey") >= col("o_orderkey") - col("o_orderkey") % 5 &&
          col("l_orderkey") <= col("o_orderkey") + col("o_orderkey") % 7)
        .groupBy((col("o_orderkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("l_orderkey") + col("o_orderkey") * 3)
            .cast("long").as("chk"))
    }),

    // BPE tokenizer TRAINING, fully oracle-gated (VERDICT r12 #1 retires
    // the last exemption): the engine's batched rounds are provably
    // bit-identical to sequential greedy training (the acceptBatch
    // prefix proof + BpeSpec pins), and sequential training IS
    // SQL-expressible with the merge count as a literal — the oracle
    // generates Q98Merges chained CTE rounds, each a pair-count
    // aggregate → argmax with the (cnt DESC, pair ASC) tie-break → a
    // boundary-wrapped-string merge apply (the q118 replace trick).
    "q98_bpe_train" -> ((s, dir) => {
      assertBpeOracleSafe(s, dir)
      Bpe.trainMerges(Tables.documents(s, dir), nMerges = Q98Merges)
    }),

    // ANN recall report (VERDICT r6 #5): the single-probe IVF index's
    // top-5 graded against brute-force truth on the deterministic
    // vec_id < 8 golden query set — exact rationals, hash-portable
    "q99_ann_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.recallAtK(
        Similarity.ivfTopKKmeansModel(e, kmeansShared(s, dir),
          l => l.filter(col("vec_id") < 8), k = 5),
        Similarity.bruteTopK(e, e.filter(col("vec_id") < 8), k = 5))
    }),

    // cross-modal integration: per (embedding k-means cell, language)
    // document quality — the "which clusters hold good data" report; the
    // doc side is scan-fused projections, the join is 8-byte ids
    "q96_cluster_quality" -> ((s, dir) => {
      val cells = kmeansShared(s, dir).cells
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        TextAnalysis.predLang(col("text")).as("pred_lang"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      cells.join(docs, cells("vec_id") === docs("doc_id"))
        .groupBy(col("cell"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"),
          graft.functions.AggFunctions.mean4(col("quality")).as("avg_quality"))
    }),

    // q138: the two-level (hierarchical) cell assignment hash-gated
    // against the flat argmin — the custom NearestCellTwoLevel
    // expression end-to-end, with the hier index driver-clustered over
    // the centroid array (the oracle rebuilds it). Output carries BOTH
    // assignments + the agree flag, so the gate pins the exact
    // disagreement structure, not just the fast path
    "q138_twolevel_assign" -> ((s, dir) => {
      val model = kmeansShared(s, dir)
      val idx = Similarity.hierIndex(model, groups = HierGroups)
      val flat = model.cells.withColumnRenamed("cell", "cell_flat")
      Similarity.assignCellsTwoLevel(
          Tables.embeddings(s, dir), model, idx, nProbeGroups = 1)
        .withColumnRenamed("cell", "cell_two_level")
        .join(flat, "vec_id")
        .select(col("vec_id"), col("cell_two_level"), col("cell_flat"),
          when(col("cell_two_level") === col("cell_flat"), 1)
            .otherwise(0).as("agree"))
    }),

    // q136: SemDeDup — semantic duplicate GROUPS (within-cell cosine
    // pairs + q52 star CC over the shared quantizer's cells) with the
    // paper's survivor policy: keep the member LEAST similar to its
    // cell centroid, aggregate-argmin, ties to the smaller vec_id
    "q136_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedupStage(Tables.embeddings(s, dir),
        kmeansShared(s, dir), SemDedupThreshold).result),

    // Okapi BM25 top-50 retrieval for a fixed query term set: tf/dl from
    // per-row array kernels in the scan, corpus constants one broadcast
    // row, top-N a TakeOrdered heap — nothing shuffles at corpus size
    "q100_bm25_topk" -> ((s, dir) =>
      TextAnalysis.bm25TopKStage(Tables.documents(s, dir), Bm25Terms).result),

    // interpolated Kneser-Ney bigram perplexity: continuation/context
    // counts re-folded from the one persisted LM pair stream
    "q101_lm_kneser_ney" -> ((s, dir) =>
      TextAnalysis.lmScoreKneserNeyStage(Tables.documents(s, dir)).result),

    // near-dup survivor selection: keep-best-quality per q52 cluster
    // (shared component labels; aggregate-then-join argmax, never a
    // window over a viral cluster)
    "q102_cluster_survivor" -> ((s, dir) =>
      Dedup.clusterSurvivors(ccLabelsShared(s, dir),
        Tables.documents(s, dir))),

    // cross-document shingle novelty: fraction of a doc's distinct
    // 3-gram shingles appearing in no other doc — inter-document
    // boilerplate signal; fingerprint-frequency fold + one equi-join
    "q103_shingle_novelty" -> ((s, dir) =>
      TextAnalysis.shingleNoveltyStage(Tables.documents(s, dir)).result),

    // per-source quality percentile: midrank over the (source, quality)
    // histogram — windows touch only the metadata-sized histogram, docs
    // pick up their percentile by equi-join
    "q104_quality_percentile" -> ((s, dir) =>
      Curation.qualityPercentileStage(Tables.documents(s, dir)).result),

    // MinHash calibration: estimated vs exact Jaccard on every LSH
    // candidate pair — the (k, bands, rows) tuning report. IS the shared
    // LSH stage relation (consumes q11's published checkpoint whole).
    "q105_minhash_calibration" -> ((s, dir) => lshCalibShared(s, dir)),

    // cross-source near-dup overlap matrix: which ingestion streams
    // duplicate each other; pairs from the capped LSH pipeline, matrix
    // one aggregate to <= #sources^2 rows
    // pairs from the shared LSH stage, not a per-query re-derivation
    "q106_source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlapFromPairs(Tables.documents(s, dir),
        lshPairsShared(s, dir))),

    // top boilerplate shingles: df fold on fingerprints, TakeOrdered
    // heap, strings rejoin for the N winners only
    "q107_top_boilerplate" -> ((s, dir) =>
      TextAnalysis.topBoilerplateStage(Tables.documents(s, dir)).result),

    // cross-family dedup agreement: MinHash vs SimHash pair sets as one
    // row — do the families catch the same near-dups on this corpus?
    // MinHash side from the shared LSH stage; SimHash side derives fresh
    "q108_dedup_agreement" -> ((s, dir) =>
      Dedup.familyAgreementFromPairs(Tables.documents(s, dir),
        lshPairsShared(s, dir))),

    // time-bounded daily rollup over the date-PARTITIONED event layout:
    // the predicate prunes whole date directories at planning time
    // (PartitionFilters — WritersSpec pins the partitions-read metric);
    // the oracle replays the rollup over the raw table, proving the
    // partitioned round-trip loses nothing
    "q109_partitioned_rollup" -> ((s, dir) =>
      s.read.parquet(partitionedEventsShared(s, dir))
        .filter(col("event_date").between(lit("2024-01-05"), lit("2024-01-11")))
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))),

    // q135: the Z-ordered (Morton) event layout read back — one row per
    // z_file directory with its row count, id-sum (losslessness weight),
    // per-column min/max BOX, and the skip/read decision a stats-based
    // reader makes for the fixed 2-D predicate box. The oracle replays
    // the bucket arithmetic + interleave from the raw table, so the gate
    // proves the physical directory assignment IS the closed-form key —
    // no row misplaced, lost, or duplicated (WritersSpec adds the
    // planning-time pruning pin and the skipping advantage vs a
    // single-column sort)
    "q135_zorder_layout" -> ((s, dir) => {
      val lay = s.read.parquet(zorderEventsShared(s, dir))
      lay.groupBy(col("z_file"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("event_id")).as("sum_event_id"),
          min(col("user_id")).as("u_min"), max(col("user_id")).as("u_max"),
          min(col("value")).as("v_min_raw"), max(col("value")).as("v_max_raw"))
        .select(col("z_file"), col("n_rows"), col("sum_event_id"),
          col("u_min"), col("u_max"),
          round(col("v_min_raw"), 4).as("v_min"),
          round(col("v_max_raw"), 4).as("v_max"),
          when(col("u_max") >= ZBoxUMin && col("u_min") <= ZBoxUMax &&
            col("v_max_raw") >= ZBoxVMin && col("v_min_raw") <= ZBoxVMax, 1)
            .otherwise(0).as("hit"))
    }),

    // WARC interchange round-trip: write the corpus as length-framed WARC
    // shards, stream-parse them back, and roll up per (source, lang) —
    // the oracle replays the rollup over the RAW documents table, so any
    // framing bug (payload bytes, header metadata, lost/duplicated
    // records) breaks the hash
    "q110_warc_roundtrip" -> ((s, dir) =>
      graft.sources.Warc.readWarc(s, warcShared(s, dir))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(octet_length(col("text"))).as("payload_bytes"),
          sum(col("doc_id")).as("sum_doc_id"))),

    // the q110 rollup through the DSv2 `format("warc")` READ path — the
    // same shared gzip layout, so the gate proves the V2 per-shard
    // connector (planInputPartitions over the shard glob + streaming
    // record parse) is lossless exactly as the function-style reader is
    "q132_warc_v2_read" -> ((s, dir) =>
      s.read.format("warc").load(warcShared(s, dir))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(octet_length(col("text"))).as("payload_bytes"),
          sum(col("doc_id")).as("sum_doc_id"))),

    // trained quality classifier scoring: fixed-order logit over the q18
    // kernel signals under the shipped 6-decimal weight artifact, sigmoid
    // calibration, accept decision on the rounded probability — the
    // oracle replays the identical arithmetic with the same literals
    "q111_quality_classifier" -> ((s, dir) =>
      graft.operators.QualityModel.scoreDocs(Tables.documents(s, dir))),

    // priority rollup over the BUCKETED lineitem⋈orders layout: both
    // sides pre-shuffled on the orderkey at write time, so the join
    // itself plans exchange-free (WritersSpec pins that no exchange
    // hash-partitions an orderkey); oracle = the same join over the raw
    // tables
    "q112_bucketed_join" -> ((s, dir) => {
      val (liT, orT) = bucketedTablesShared(s, dir)
      s.table(liT).join(s.table(orT),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          countDistinct(col("o_orderkey")).as("n_orders"))
    }),

    // LSH recall gate (the q99 discipline for dedup): banding misses
    // measured against an id-window ground-truth sample of raw exact
    // Jaccard; caught pairs from the shared LSH stage
    "q113_lsh_recall" -> ((s, dir) =>
      Dedup.lshRecallFromPairs(Tables.documents(s, dir),
        lshPairsShared(s, dir))),

    // per-document top-k similar-doc lookup, served from the shared LSH
    // stage: symmetrized verified pairs ranked by the ROUNDED jaccard
    // (deterministic cross-engine ordering), row_number <= k planning as
    // WindowGroupLimit bounded heaps
    "q114_similar_topk" -> ((s, dir) =>
      Dedup.similarTopK(lshPairsShared(s, dir))),

    // staged conversion funnel (view → click → purchase, strictly-after
    // semantics): chained per-stage window minima over ONE user_id
    // partitioning, per-user collapse reuses it — one shuffle end to end
    "q115_funnel" -> ((s, dir) =>
      EventAnalytics.funnel(Tables.events(s, dir))),

    // day-granularity cohort retention: first-active-day cohorts,
    // per-(cohort, offset) distinct active users, broadcast cohort sizes
    "q116_retention_cohorts" -> ((s, dir) =>
      EventAnalytics.retentionCohorts(Tables.events(s, dir))),

    // DSIR-shaped importance resampling: hashed-unigram log-likelihood
    // ratio of the target source's distribution vs the pool's, model-first
    // fold (one tokenize pass, vocab-cardinality model join, TakeOrdered
    // selection on the rounded normalized weight)
    "q117_importance_resample" -> ((s, dir) =>
      Curation.importanceStage(Tables.documents(s, dir),
        targetSource = "src0").result),

    // BPE tokenizer APPLICATION gate (VERDICT r11 #1 — narrows q98's
    // exemption to the training fixpoint alone): train on the dir's
    // corpus, publish the learned merge table for the oracle builder,
    // then tokenize every document under it. Every corpus word is a
    // training word, where encode == sequential rank-order application
    // (the BpeSpec pin), so the oracle replays the merges as literals —
    // nMerges nested left-to-right `replace` calls over a
    // boundary-wrapped string — and hash-matches the full piece stream.
    // Trains FRESH every run (the q11 producer discipline: q118's bench
    // timing keeps pricing the BPE training) and publishes the merge
    // table q123 consumes; training is deterministic, so the value only
    // ever changes when the corpus does.
    "q118_bpe_encode" -> ((s, dir) =>
      Bpe.encodeDocs(Tables.documents(s, dir), bpeMergesPublish(s, dir))),

    // tokenizer fertility per source under the q118-trained merges
    // (pieces/word, chars/piece — the vocabulary-fit table a token-
    // budgeted run reads before committing to a tokenizer); consumes the
    // q118 merge table, training only when it runs standalone
    "q123_bpe_fertility" -> ((s, dir) =>
      Bpe.fertilityReport(Tables.documents(s, dir), bpeMergesShared(s, dir))),

    // the composed four-stage curation DAG (percentile-keep → LSH dedup
    // survivors → token budget → packing) gated as ONE query — the
    // integration, not just each stage, is hash-verified (VERDICT r11
    // #4). The stage's checkpointed dropped-id relation outlives the
    // call (the result plan reads it), so each run publishes its stage
    // and lingering raw-RDD state is bounded at two tiny id relations per
    // (session, corpus). Freeing an older generation frees only its
    // checkpoint: its cached relations have the live generation's plans,
    // and `unpersist` matches cache entries by plan, so it would drop
    // the caches the live result is about to read.
    "q119_curation_dag" -> ((s, dir) =>
      SessionArtifacts.publish(s, dir, "curationDag",
        (st: Stage) => st.checkpoints.foreach(Stages.releaseCheckpoint))(
        Curation.curationDagStage(Tables.documents(s, dir))).result),

    // ANN recall-vs-cost frontier (VERDICT r11 #5): per (nProbe, golden
    // query), the IVF top-5's recall against brute truth AND the number
    // of candidates that probe level scored — index tuning as a gated
    // table instead of probe output. nProbe=4 scores every cell (kCells
    // = 4), anchoring the frontier at recall 1.
    "q120_ann_frontier" -> ((s, dir) =>
      Similarity.annFrontierStage(Tables.embeddings(s, dir),
        kmeansShared(s, dir),
        e => e.filter(col("vec_id") < 8), k = 5, probes = Seq(1, 2, 4)).result),

    // IVF-PQ frontier (VERDICT r12 #5): the compressed-layout extension
    // of q120 — float truth anchor, pure-PQ asymmetric-distance brute
    // force, and coarse-pruned IVF-PQ at nProbe 1/2, each with recall +
    // n_scored. Trains the per-subspace codebooks FRESH (the producer
    // pricing discipline) and publishes them for the oracle replay; the
    // coarse quantizer is the shared session k-means.
    "q129_pq_frontier" -> ((s, dir) => {
      val (model, resModel) = pqModelsPublish(s, dir)
      Similarity.pqFrontier(Tables.embeddings(s, dir), kmeansShared(s, dir),
        model, q => q.filter(col("vec_id") < 8), kTop = 5, probes = Seq(1, 2),
        resModel = Some(resModel))
    }),

    // PCA projection of the embedding corpus (the dimensionality-
    // reduction / whitening prep step before ANN at scale): basis fitted
    // on the deterministic bounded sample driver-side (model-on-driver,
    // the kmeansFit discipline), published for the oracle, projection =
    // one codegen'd dot against literal vectors per component — scan-
    // fused, zero shuffle
    "q133_pca_project" -> ((s, dir) =>
      Similarity.pcaProject(Tables.embeddings(s, dir), pcaPublish(s, dir))),

    // small-file compaction gated end to end: a fragmented partitioned
    // layout (16 files/partition) is compacted to one file per partition
    // and the FULL-range rollup must still match the raw-table oracle —
    // the rewrite provably loses, moves, and duplicates nothing
    // (WritersSpec pins the file counts; this gate pins the rows)
    "q125_compacted_rollup" -> ((s, dir) =>
      s.read.parquet(compactedEventsShared(s, dir))
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))),

    // source-mixture selection: the data-mixing step between data cards
    // and training — per-source token budgets from target shares, the
    // q80 bucket-wise cutoff partitioned by source, content-hash-coin
    // selection within each source; every row carries its source's
    // budget/spent/unspent so a thin source's shortfall is in-band
    // (VERDICT r12 #7)
    "q127_source_mix" -> ((s, dir) =>
      Curation.mixToTargets(Tables.documents(s, dir),
        MixTargets.toMap, MixBudget)),

    // the q127 mix's per-source accounting REPORT, gated in its own
    // right: one row per TARGET source including the ghost (a target
    // with no corpus presence — spent 0, unspent = full slice), the
    // case the row-riding accounting on q127's selection output
    // structurally cannot show
    "q131_mix_accounting" -> ((s, dir) =>
      Curation.mixAccounting(Tables.documents(s, dir),
        MixTargets.toMap + (MixGhostSource -> MixGhostShare), MixBudget)),

    // corpus snapshot merge (MERGE INTO semantics engine-side): a
    // deterministic refresh scenario — existing = 80% of the corpus,
    // incoming = the even ids with every 10th doc's text modified — so
    // all four change classes (insert/rewrite/refresh/carry) appear and
    // the change tags + final rows hash-gate against the SQL replay
    "q126_corpus_merge" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select("doc_id", "text", "lang", "source")
      Curation.mergeCorpus(
        docs.filter(col("doc_id") % 5 =!= 4),
        docs.filter(col("doc_id") % 2 === 0)
          .withColumn("text",
            when(col("doc_id") % 10 === 0,
              concat(col("text"), lit(" updated")))
              .otherwise(col("text"))))
    }),

    // incremental-state corpus merge (VERDICT r12 #3): the q126 scenario
    // merged through the STORED (doc_id, fp) artifact instead of a
    // corpus text scan — output is the refreshed artifact + change audit
    // in one relation. The artifact bootstraps once per (session, dir)
    // behind an eager localCheckpoint, so the gated merge plan reads a
    // LogicalRDD leaf: corpus text is provably absent from the plan
    // (CurationSpec pins it), which is the entire point of the operator.
    "q128_corpus_merge_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select("doc_id", "text", "lang", "source")
      val existing = docs.filter(col("doc_id") % 5 =!= 4)
      val incoming = docs.filter(col("doc_id") % 2 === 0)
        .withColumn("text",
          when(col("doc_id") % 10 === 0,
            concat(col("text"), lit(" updated")))
            .otherwise(col("text")))
      val fps = SessionArtifacts.get(s, dir, "corpusFps",
        Stages.releaseCheckpoint)(
        Curation.corpusFingerprints(existing).localCheckpoint(true))
      Curation.mergeCorpusIncremental(incoming, fps)
    }),

    // q143: snapshot time travel — the q128 merge chain COMMITTED as
    // versions (delta feeds + manifest; SnapshotStore scaladoc) and
    // membership reconstructed AT EVERY VERSION from the stored chain:
    // the gate proves that what the store replays is bit-for-bit the
    // chain the oracle recomputes from raw text. The store builds once
    // per (session, dir); the gated plan reads only 16-byte feed rows.
    "q143_snapshot_asof" -> ((s, dir) => {
      val root = snapshotStoreShared(s, dir)
      (1L to 3L).map(v =>
        graft.sources.SnapshotStore.corpusAsOf(s, root, v)
          .select(lit(v).as("as_of"), col("doc_id"), col("fp")))
        .reduce(_.unionByName(_))
    }),

    // q134: the REPORTING twin of q128 — data cards of the refreshed
    // corpus from the stored per-doc stats artifact + the daily batch
    // (same prior/incoming split and drift as q128). The r13 ingest
    // probe measured the card stage as the chain's only remaining
    // corpus-sized text scan; through this path corpus text enters the
    // plan nowhere — kernels run over batch text only, carry rows ride
    // the ~40-byte artifact (CurationSpec pins bit-equality with the
    // full recompute and the text-free plan)
    "q134_datacard_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text", "source")
      val incoming = docs.filter(col("doc_id") % 2 === 0)
        .withColumn("text",
          when(col("doc_id") % 10 === 0,
            concat(col("text"), lit(" updated")))
            .otherwise(col("text")))
      Curation.sourceDatacardIncrementalStage(incoming,
        cardStatsShared(s, dir)).result
    }),

    // eval-set decontamination (GPT-3 app. C / Pile §6 discipline):
    // src9 plays the benchmark, every other source is pool; the
    // benchmark's distinct shingle fps broadcast and the pool pays one
    // scan + per-doc count — leaked eval material flagged before it
    // corrupts the measurement it belongs to
    "q122_decontamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminationReport(
        docs.filter(col("source") =!= DecontamBenchmarkSource),
        docs.filter(col("source") === DecontamBenchmarkSource))
    }),

    // per-source data card (Datasheets-for-Datasets shape): volume,
    // exact-dup exposure, quality share, majority language — every
    // number integer-derived so the hash gate can't flake on summation
    // order; one kernel scan + an 8-byte-fp dup join
    "q124_source_datacard" -> ((s, dir) =>
      Curation.sourceDatacardStage(Tables.documents(s, dir)).result),

    // the DAILY INGESTION pipeline gated end to end (VERDICT r12 #6 —
    // q119 proved the curation DAG; this is the ingestion twin): today's
    // crawl segment arrives as gzip WARC shards (the q110 layout), is
    // stream-parsed back, curated (q53's fused lang+quality+exact-dedup
    // survivors), MERGED into the prior corpus snapshot with change
    // auditing (q126), and the refreshed corpus ships its per-source
    // data cards (q124) — four production stages, ONE hash gate over the
    // final cards, each stage replayed and chained in the oracle. A
    // fifth of the incoming text drifts (" recrawled") so the merge
    // exercises rewrite alongside refresh/insert/carry.
    "q130_ingest_chain" -> ((s, dir) => {
      val incoming = graft.sources.Warc.readWarc(s, warcShared(s, dir))
        .filter(col("doc_id") % 2 === 0)
        .withColumn("text",
          when(col("doc_id") % 20 === 0,
            concat(col("text"), lit(" recrawled")))
            .otherwise(col("text")))
        .select("doc_id", "text", "lang", "source")
      val curated = incoming
        .join(Curation.curate(incoming, lang = "en", minQuality = 0.5)
          .select("doc_id"), "doc_id")
      val prior = Tables.documents(s, dir)
        .select("doc_id", "text", "lang", "source")
        .filter(col("doc_id") % 5 =!= 4)
      val merged = Curation.mergeCorpus(prior, curated)
      Curation.sourceDatacardStage(
        merged.select("doc_id", "source", "text")).result
    }),

    // q137: the q130 ingestion chain through the STEADY-STATE artifact
    // path — same WARC segment, same curation, but the refreshed cards
    // come from the stored per-doc stats artifact + the curated batch
    // (q134's path), so corpus text never enters the plan. The oracle is
    // q130's VERBATIM (shared constant): the production path must
    // hash-equal the bootstrap chain's replay — the strongest form of
    // the CurationSpec equivalence, driver-gated
    "q137_ingest_chain_incremental" -> ((s, dir) => {
      val incoming = graft.sources.Warc.readWarc(s, warcShared(s, dir))
        .filter(col("doc_id") % 2 === 0)
        .withColumn("text",
          when(col("doc_id") % 20 === 0,
            concat(col("text"), lit(" recrawled")))
            .otherwise(col("text")))
        .select("doc_id", "text", "lang", "source")
      val curated = incoming
        .join(Curation.curate(incoming, lang = "en", minQuality = 0.5)
          .select("doc_id"), "doc_id")
      Curation.sourceDatacardIncrementalStage(
        curated.select("doc_id", "source", "text"),
        cardStatsShared(s, dir)).result
    }),

    // classifier QUALITY gate (VERDICT r11 #6): confusion counts +
    // accuracy/precision/recall/F1 of the shipped q111 artifact per
    // content-hash split — the `test` row is a held-out generalization
    // measurement, all metrics integer-derived and rounded
    "q121_classifier_eval" -> ((s, dir) =>
      graft.operators.QualityModel.evaluateSplits(Tables.documents(s, dir))),
  )

}
