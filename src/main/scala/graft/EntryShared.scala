package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.sql.graftbridge.Bridge

import graft.operators.{AsOf, Bpe, Curation, Dedup, EventAnalytics, Multimodal, RangeJoin, Relational, Similarity, Skew, Solar, Stages, TextAnalysis, Windows}
import graft.sources.Tables

/** Shared state of the driver contract: the accessors of the artifacts
  * several queries share (layouts, checkpoints, fitted models, guards;
  * [[SessionArtifacts]] owns their lifecycle), the published-literal
  * constants, and the SQL fragment builders both the query registry and
  * its oracles interpolate. [[SparkEntry]] mixes it in with the query
  * registry and the two oracle families.
  */
private[graft] trait EntryShared {
  protected def r4(name: String) = round(col(name), 4).as(name)

  // ---------------------------------------------------------------------
  // Shared artifacts, one accessor each (SessionArtifacts states the key,
  // build-once, publish and release rules). A producer publishes a fresh
  // build, so its bench timing keeps pricing the build; consumers `get`
  // the published one and build it themselves when run standalone.
  // ---------------------------------------------------------------------

  // Near-dup component labels (VERDICT r6 #4): q52 produces them over the
  // shared LSH pairs, q93 histograms them. The CC fixpoint computes fresh
  // in q52, so its timing prices connected components, not banding.
  private def ccLabels(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupClusters(lshPairsShared(s, dir))

  protected def ccLabelsFresh(s: SparkSession, dir: String): DataFrame =
    SessionArtifacts.publish(s, dir, "ccLabels", Stages.releaseCheckpoint)(
      ccLabels(s, dir))

  protected def ccLabelsShared(s: SparkSession, dir: String): DataFrame =
    SessionArtifacts.get(s, dir, "ccLabels", Stages.releaseCheckpoint)(
      ccLabels(s, dir))

  // Solar module aggregate (VERDICT r8 #6): q04–q08 apply the panel stage
  // to one checkpointed module relation per (session, dir); q02/q03
  // compute fresh, as their timings price the stage build itself.
  protected def solarPanels(s: SparkSession, dir: String): DataFrame =
    Solar.panelAgg(SessionArtifacts.get(s, dir, "solarModule",
      Stages.releaseCheckpoint)(
      Solar.moduleWindowAgg(Solar.normalize(Tables.events(s, dir))).localCheckpoint(true)))

  // The panel stage's module rows, window unwrapped (q04, q06–q08).
  protected def solarRows(s: SparkSession, dir: String): DataFrame =
    Solar.unwrap(Solar.moduleRows(solarPanels(s, dir)))

  // MinHash-LSH calibration relation (VERDICT r10 #1): the unfiltered
  // superset of the verified pairs (same banding and cap, exact Jaccard on
  // every candidate; Dedup.minhashCalibrationStage). q11 produces it; q105
  // reads it whole and the pair consumers (q11, q52/q93, q106, q108) filter
  // `jaccard >= 0.5` (Dedup.pairsFromCalibration, bit-identical to
  // minhashNearDupsStage; DedupSpec pins it).
  private def lshCalib(s: SparkSession, dir: String): DataFrame = {
    val stage = Dedup.minhashCalibrationStage(Tables.documents(s, dir))
    // eager checkpoint: the shingle index cache is consumed here and only
    // here, so the stage handle releases it immediately after
    val calib = stage.result.localCheckpoint(true)
    stage.unpersist()
    calib
  }

  protected def lshCalibFresh(s: SparkSession, dir: String): DataFrame =
    SessionArtifacts.publish(s, dir, "lshCalib", Stages.releaseCheckpoint)(
      lshCalib(s, dir))

  protected def lshCalibShared(s: SparkSession, dir: String): DataFrame =
    SessionArtifacts.get(s, dir, "lshCalib", Stages.releaseCheckpoint)(
      lshCalib(s, dir))

  /** The verified near-dup pairs at the gate's threshold, derived from the
    * shared calibration checkpoint (bit-identical to
    * `Dedup.minhashNearDupsStage(docs, 0.5).result` — DedupSpec pins it).
    */
  protected def lshPairsShared(s: SparkSession, dir: String): DataFrame =
    Dedup.pairsFromCalibration(lshCalibShared(s, dir), threshold = 0.5)

  // Date-partitioned event layout (VERDICT r10 #2): q109 reads it back
  // with a date predicate and the plan must prune (WritersSpec asserts the
  // scan's partition filters and partitions read; the oracle replays the
  // same rollup over the raw table, so pruning provably loses no rows).
  protected def partitionedEventsShared(s: SparkSession, dir: String): String =
    SessionArtifacts.get(s, dir, "partitionedEvents", Bridge.deleteRecursively) {
      val path = Bridge.tempDir("graft_events_by_date_")
      graft.sources.Writers.writeEventsPartitioned(Tables.events(s, dir), path)
      path
    }

  // IVF coarse quantizer: one deterministic kmeansFit feeds q32/q51/q96/
  // q99/q120, and q33 produces it. A driver-side centroid array plus a
  // lazy assignment plan, so there is nothing to free.
  private def kmeans(s: SparkSession, dir: String): Similarity.KmeansModel =
    Similarity.kmeansFit(Tables.embeddings(s, dir), KmeansK, KmeansIters)

  protected def kmeansShared(s: SparkSession, dir: String): Similarity.KmeansModel =
    SessionArtifacts.get[Similarity.KmeansModel](s, dir, "kmeans")(kmeans(s, dir))

  protected def kmeansPublish(s: SparkSession, dir: String): Similarity.KmeansModel =
    SessionArtifacts.publish[Similarity.KmeansModel](s, dir, "kmeans")(
      kmeans(s, dir))

  /** q135's fixed 2-D predicate box (user_id ∈ [100, 120] — narrow;
    * value ∈ [50, 400] — wide), mirrored literally in the oracle. Chosen
    * so a single-column value sort prunes poorly while the Morton layout
    * prunes on both axes.
    */
  protected val ZBoxUMin = 100L
  protected val ZBoxUMax = 120L
  protected val ZBoxVMin = 50.0
  protected val ZBoxVMax = 400.0

  // Z-ordered event layout for q135: (event_id, user_id, value) Morton-
  // partitioned on (user_id, value).
  protected def zorderEventsShared(s: SparkSession, dir: String): String =
    SessionArtifacts.get(s, dir, "zorderEvents", Bridge.deleteRecursively) {
      val path = Bridge.tempDir("graft_events_zorder_")
      graft.sources.Writers.writeZOrdered(
        Tables.events(s, dir).select("event_id", "user_id", "value"),
        path, "user_id", "value")
      path
    }

  // Versioned snapshot store for q143: three committed merges over
  // deterministic slices of `documents` (bootstrap, a rev2 rewrite
  // batch, a re-crawl batch) — the gate then time-travels to every
  // version and must reproduce the DuckDB replay of the same chain.
  protected def snapshotStoreShared(s: SparkSession, dir: String): String =
    SessionArtifacts.get(s, dir, "snapshotStore", Bridge.deleteRecursively) {
      val root = Bridge.tempDir("graft_snapshots_")
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val inc1 = docs.filter(col("doc_id") % 3 =!= 2)
      val inc2 = docs.filter(col("doc_id") % 5 === 0)
        .withColumn("text", concat(col("text"), lit(" rev2")))
      val inc3 = docs.filter(col("doc_id") % 7 === 0)
      var fps = Curation.corpusFingerprints(docs.limit(0))
      val merges = Seq(inc1, inc2, inc3).zipWithIndex.map { case (inc, i) =>
        val merged = Curation.mergeCorpusIncremental(inc, fps)
          .localCheckpoint(true) // one computation feeds commit + next merge
        graft.sources.SnapshotStore.commit(s, root, i + 1L, merged)
        fps = merged.select("doc_id", "fp")
        merged
      }
      // the store is on disk now; the checkpoints are spent
      merges.foreach(Stages.releaseCheckpoint)
      root
    }

  // Stored cents-histogram artifact of events for q192 (the q186
  // register relation persisted): the report computed FROM THE ARTIFACT
  // must hash-equal q186's full-scan oracle — the q134/q137 discipline
  // applied to robust statistics.
  protected def eventHistShared(s: SparkSession, dir: String): String =
    SessionArtifacts.get(s, dir, "eventHist", Bridge.deleteRecursively) {
      val root = Bridge.tempDir("graft_ehist_")
      graft.operators.Stats.centsHistogram(Tables.events(s, dir),
          col("event_type"), col("value"))
        .write.mode("overwrite").parquet(s"$root/hist")
      root
    } + "/hist"

  /** Free hook of a layout registered with the MvRewrite catalog under
    * its root directory.
    */
  private def dropMv(root: String): Unit = {
    graft.plans.MvCatalog.unregister(root)
    Bridge.deleteRecursively(root)
  }

  // Materialized (source, lang) summary of documents for q188,
  // registered with the MvRewrite catalog — the gate's coarser GROUP BY
  // source must then answer from the summary scan (MvRewriteSpec pins
  // the plan; the oracle recomputes from the base table, so the rewrite
  // is also hash-gated exact).
  private[graft] def mvShared(s: SparkSession, dir: String): String =
    SessionArtifacts.get(s, dir, "mv", dropMv) {
      val root = Bridge.tempDir("graft_mv_")
      val mvPath = s"$root/docs_by_source_lang"
      Tables.documents(s, dir)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .write.mode("overwrite").parquet(mvPath)
      graft.plans.MvCatalog.registerParquet(s, root,
        s"$dir/documents.parquet", mvPath,
        groupCols = Set("source", "lang"), cntCol = "cnt",
        sumCols = Map("n_chars" -> "sum_chars"),
        minCols = Map("doc_id" -> "min_doc"),
        maxCols = Map("doc_id" -> "max_doc"))
      root
    }

  // Decimal-typed base + summary for q198/q199 (VERDICT r16 #4): the
  // lineitem measures re-priced as decimal(12,2) — the money type every
  // warehouse schema actually ships — and REGISTERED with the MvRewrite
  // catalog. q198's rollup is exactly the shape the rule would love to
  // answer from the summary, but the decimal sum partial is
  // decimal(22,2) and re-summing would widen to decimal(32,2) ≠ the
  // query's type — so the rule's sum-widening stand-down (MvRewrite
  // rollup type guard) must fire and the query must answer from the
  // BASE, hash-equal to DuckDB's own decimal arithmetic (MvRewriteSpec
  // pins the plan; the gate pins the values).
  protected def decimalBaseShared(s: SparkSession, dir: String): String =
    SessionArtifacts.get(s, dir, "decimalBase", dropMv) {
      val root = Bridge.tempDir("graft_dec_")
      val basePath = s"$root/lineitem_dec"
      Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
          col("l_extendedprice").cast("decimal(12,2)").as("price_d"),
          col("l_discount").cast("decimal(12,2)").as("disc_d"))
        .write.mode("overwrite").parquet(basePath)
      s.read.parquet(basePath)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sum(col("price_d")).as("sum_price"),
          min(col("price_d")).as("min_price"),
          max(col("price_d")).as("max_price"))
        .write.mode("overwrite").parquet(s"$root/dec_summary")
      graft.plans.MvCatalog.registerParquet(s, root, basePath,
        s"$root/dec_summary",
        groupCols = Set("l_returnflag", "l_linestatus"), cntCol = "cnt",
        sumCols = Map("price_d" -> "sum_price"),
        minCols = Map("price_d" -> "min_price"),
        maxCols = Map("price_d" -> "max_price"))
      root
    } + "/lineitem_dec"

  // Two layout GENERATIONS of the documents table for q183: v1 wrote
  // (doc_id, source, n_chars); a later pipeline release added `lang`.
  // The evolved read must fuse both generations with NULL-fill for the
  // pre-evolution rows.
  protected def evoLayoutShared(s: SparkSession, dir: String): String =
    SessionArtifacts.get(s, dir, "evoLayout", Bridge.deleteRecursively) {
      val root = Bridge.tempDir("graft_evo_")
      val docs = Tables.documents(s, dir)
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$root/v1")
      docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "source", "n_chars", "lang")
        .write.mode("overwrite").parquet(s"$root/v2")
      root
    }

  // Compacted event layout for q125: a deliberately FRAGMENTED
  // partitioned write (16 tasks per date — streaming-ingest debris)
  // rewritten by Writers.compactPartitioned to one file per partition.
  // The gate reads the compacted layout and must match the raw-table
  // oracle — compaction provably loses/moves no rows.
  protected def compactedEventsShared(s: SparkSession, dir: String): String =
    SessionArtifacts.get(s, dir, "compactedEvents", Bridge.deleteRecursively) {
      val path = Bridge.tempDir("graft_events_compacted_")
      graft.sources.Writers.writeEventsPartitioned(
        Tables.events(s, dir).repartition(16), path)
      graft.sources.Writers
        .compactPartitioned(s, path, "event_date").count()
      path
    }

  // Bucketed join layout for q112 (the other half of the 100 TB scan
  // story next to q109's partition pruning): lineitem and orders are
  // written bucket-by-orderkey — the shuffle is paid at write time — and
  // every subsequent join on the bucket key plans with NO exchange on
  // either side (WritersSpec pins the plan; the q112 oracle proves the
  // layout loses nothing). Table names carry a fresh UUID: the warehouse
  // directory outlives the in-memory catalog, so a fixed name would hit
  // locationAlreadyExists on the next JVM.
  private[graft] def bucketedTablesShared(s: SparkSession,
                                          dir: String): (String, String) =
    SessionArtifacts.get(s, dir, "bucketedTables", (t: (String, String)) =>
      Seq(t._1, t._2).foreach(n => s.sql(s"DROP TABLE IF EXISTS $n"))) {
      val suffix = java.util.UUID.randomUUID().toString.replace("-", "_")
      val liT = s"li_bkt_$suffix"
      val orT = s"or_bkt_$suffix"
      graft.sources.Writers.writeBucketed(
        Tables.lineitem(s, dir).select("l_orderkey", "l_quantity"),
        liT, "l_orderkey", buckets = 8)
      graft.sources.Writers.writeBucketed(
        Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
        orT, "o_orderkey", buckets = 8)
      Seq(liT, orT).foreach(Bridge.deleteTableAtExit(s, _))
      (liT, orT)
    }

  // WARC interchange layout for q110, gzip shards (.warc.wet.gz) so the
  // gated round-trip exercises the Hadoop-FS + streaming-gunzip path
  // Common Crawl data arrives on.
  protected def warcShared(s: SparkSession, dir: String): String =
    SessionArtifacts.get(s, dir, "warc", Bridge.deleteRecursively) {
      val path = Bridge.tempDir("graft_warc_")
      graft.sources.Warc.writeWarc(Tables.documents(s, dir), path,
        shards = 8, compress = true)
      path
    }

  // ---------------------------------------------------------------------
  // Solar pipeline stages (SURVEY.md §2 rows 1-16) over the events table,
  // mapped per FIXTURES.md §2: panel=event_type, module=user_id, power=value.
  // ---------------------------------------------------------------------

  protected val moduleOut = Seq(col("w_start"), col("panel"), col("module"),
    col("m_cnt"), r4("m_sum_power"), col("m_avg_power"))
  protected val panelFinalOut = Seq(col("p_cnt"), r4("p_sum_power"),
    col("p_avg_power"), r4("squares_sum"), r4("variance"), col("deviance"))

  // q134/q137's bootstrapped per-doc card-stats artifact, checkpointed
  // like q128's corpus fingerprints; the prior snapshot is the q128
  // split (doc_id % 5 =!= 4)
  protected def cardStatsShared(s: SparkSession, dir: String): DataFrame =
    SessionArtifacts.get(s, dir, "cardStats", Stages.releaseCheckpoint) {
      val prior = Tables.documents(s, dir)
        .select("doc_id", "source", "text")
        .filter(col("doc_id") % 5 =!= 4)
      Curation.docCardStats(prior).localCheckpoint(true)
    }

  // q118-trained merge table: q118 produces; q123 and both oracles
  // consume, training it themselves when run standalone
  private def bpeMerges(s: SparkSession, dir: String): Seq[(String, String)] = {
    assertBpeOracleSafe(s, dir)
    Bpe.trainMergePairs(Tables.documents(s, dir), Q118Merges)
  }

  protected def bpeMergesShared(s: SparkSession, dir: String): Seq[(String, String)] =
    SessionArtifacts.get[Seq[(String, String)]](s, dir, "bpeMerges")(
      bpeMerges(s, dir))

  protected def bpeMergesPublish(s: SparkSession, dir: String): Seq[(String, String)] =
    SessionArtifacts.publish[Seq[(String, String)]](s, dir, "bpeMerges")(
      bpeMerges(s, dir))

  /** The q118/q123 oracles' BPE apply under the session's merge table: a
    * DuckDB expression mapping the word `w` to its list of pieces. The
    * merges interpolate as nested replace() calls over the
    * boundary-wrapped character segmentation '|c1||c2|…|cn|'. replace()
    * is left-to-right non-overlapping — exactly BpeApply's scan order —
    * matches only align at symbol boundaries ('|' never occurs inside a
    * symbol, asserted here), and the DOUBLE separator between symbols
    * keeps adjacent matches from sharing characters (a single shared '|'
    * would make the second of two back-to-back (a,b) pairs invisible to
    * the scan). The string fold is therefore bit-identical to the
    * sequential array fold, which for training words — every corpus
    * word, since q118 trains on the same corpus it encodes — is
    * bit-identical to BpeEncode's rank-priority loop (the BpeSpec
    * equivalence pin).
    */
  protected def bpePiecesSql(s: SparkSession, dir: String): String = {
    val merges = bpeMergesShared(s, dir)
    require(merges.forall { case (a, b) => !(a + b).contains("|") },
      "oracle wrap char '|' appears in a learned symbol — switch the replay to chr(1)")
    val folded = merges.foldLeft("regexp_replace(w, '(.)', '|\\1|', 'g')") {
      case (acc, (a, b)) => s"replace($acc, '|$a||$b|', '|$a$b|')"
    }
    s"string_split(trim($folded, '|'), '||')"
  }

  // Learned embedding models with a literal-interpolating oracle: q129's
  // PQ codebooks (plain, and residual over the shared quantizer) and
  // q133's PCA basis. The query fits fresh and publishes, so its timing
  // keeps pricing the fit; the oracle `get`s the same key and fits on a
  // miss. Every fit reads the vec_id-ordered training sample, so a fresh
  // session's oracle interpolates the same literals; `Double.toString`
  // round-trips them bit-exact through DuckDB's literal parsing.
  private type PqModels = (Similarity.PqModel, Similarity.PqModel)

  private def pqModels(s: SparkSession, dir: String): PqModels = {
    val e = Tables.embeddings(s, dir)
    (Similarity.pqFit(e, dim = EmbDim),
      Similarity.pqFitResidual(e, kmeansShared(s, dir), dim = EmbDim))
  }

  protected def pqModelsShared(s: SparkSession, dir: String): PqModels =
    SessionArtifacts.get[PqModels](s, dir, "pqModels")(pqModels(s, dir))

  protected def pqModelsPublish(s: SparkSession, dir: String): PqModels =
    SessionArtifacts.publish[PqModels](s, dir, "pqModels")(pqModels(s, dir))

  private def pca(s: SparkSession, dir: String): Similarity.PcaModel =
    Similarity.pcaFit(Tables.embeddings(s, dir), k = PcaK)

  protected def pcaShared(s: SparkSession, dir: String): Similarity.PcaModel =
    SessionArtifacts.get[Similarity.PcaModel](s, dir, "pca")(pca(s, dir))

  protected def pcaPublish(s: SparkSession, dir: String): Similarity.PcaModel =
    SessionArtifacts.publish[Similarity.PcaModel](s, dir, "pca")(pca(s, dir))

  /** The q118/q123 oracle wraps every corpus word as `|c1||c2|…` and RE2's
    * `.` skips newlines — a corpus word containing '|', '\n', or '\r'
    * would make the SQL replay disagree with an engine that encodes it
    * correctly. Fail LOUDLY on such a corpus instead of hash-mismatching
    * mysteriously (review r12; the fix on such data is a chr(1) wrap
    * char). One cheap aggregate, built once per (session, corpus) — the
    * ADVICE r12 fix: q98/q118/q123 each call this, and without it every
    * Bench iteration of q118 re-paid a full corpus text scan that skewed
    * its timing comparability across rounds.
    */
  protected def assertBpeOracleSafe(s: SparkSession, dir: String): Unit =
    SessionArtifacts.get[Unit](s, dir, "bpeOracleSafe") {
      val hazard = Tables.documents(s, dir)
        .agg(sum(when(col("text").contains("|") || col("text").contains("\n")
          || col("text").contains("\r")
          // supplementary-plane hazard (review r13): the engine seeds BPE
          // symbols as UTF-16 code units (split(word, "") halves an
          // astral char into surrogates) while the DuckDB replay seeds
          // per CODEPOINT — the two would train different merges
          || col("text").rlike("[\\x{10000}-\\x{10FFFF}]"), 1L)
          .otherwise(0L))).head()
      require(hazard.isNullAt(0) || hazard.getLong(0) == 0L,
        "corpus text contains '|', a newline, or a supplementary-plane " +
          "character — the q98/q118/q123 DuckDB replay's boundary wrap " +
          "or codepoint seeding would diverge; switch the oracle to a " +
          "chr(1) wrap / normalize astral chars before gating this corpus")
    }

  /** q100's fixed query term set: one rare discriminative term plus two
    * mid-frequency terms of the synthetic vocabulary, so the ranking
    * exercises the full IDF spread.
    */
  val Bm25Terms: Seq[String] = Seq("dup", "spark", "window")

  /** q122's benchmark stand-in: one source plays the eval set, the other
    * nineteen are the pool (the q117 target-source convention).
    */
  val DecontamBenchmarkSource = "src9"

  /** q127's mixture recipe: target token shares per source and the output
    * token budget, both mirrored into the oracle as literals. The budget
    * sits below any single source's token inventory at sf0.01 so every
    * source exercises the boundary-bucket cut, not just whole-bucket
    * takes.
    */
  val MixTargets: Seq[(String, Double)] =
    Seq("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1)
  val MixBudget = 2000L

  /** q131's ghost target: a source absent from every testdata corpus
    * (sources are src0..src19), so the accounting report must surface a
    * zero-spent row for it — the silent-shrink case the gate pins.
    */
  val MixGhostSource = "src_ghost"
  val MixGhostShare = 0.05

  /** q118's merge budget — generous for the synthetic 31-word vocabulary
    * (training stops on its own when no pair remains), small enough that
    * the oracle's nested-replace chain stays shallow.
    */
  val Q118Merges = 48

  /** q98's merge budget. Unlike q118 (which interpolates the LEARNED
    * merges and gates only the apply step), q98's oracle re-runs the
    * whole training loop in SQL, so its cost is linear in this count —
    * 8 keeps the generated CTE chain a few hundred lines while still
    * exercising a multi-char merge (round 6 merges "m"+"er").
    */
  val Q98Merges = 8

  /** The q127/q131 selection replay: budgets from a VALUES relation
    * (floor(budget·share) computed HERE, the same longs the engine
    * folds), the bucket-wise cutoff partitioned by source, boundary
    * buckets ranked by doc_id — ends in a `sel(doc_id, source,
    * n_tokens, hb)` CTE both gates consume.
    */
  protected def mixSelCtes(targets: Seq[(String, Double)]): String = {
    val vals = targets.map { case (src, share) =>
      s"('$src', ${math.floor(MixBudget * share).toLong})"
    }.mkString(", ")
    s"""bud AS (SELECT * FROM (VALUES $vals) AS v(source, budget)),
       |t AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
       |             ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 100
       |               AS hb
       |      FROM documents),
       |e AS (SELECT t.doc_id, t.source, t.n_tokens, t.hb, bud.budget
       |      FROM t JOIN bud USING (source)),
       |b AS (SELECT source, hb, CAST(sum(n_tokens) AS BIGINT) AS b_tokens
       |      FROM e GROUP BY 1, 2),
       |bc AS (SELECT source, hb, b_tokens,
       |              CAST(coalesce(sum(b_tokens) OVER (PARTITION BY source
       |                ORDER BY hb
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |                AS BIGINT) AS cum_before
       |       FROM b),
       |j AS (SELECT e.doc_id, e.source, e.n_tokens, e.hb,
       |             bc.b_tokens, bc.cum_before, e.budget
       |      FROM e JOIN bc USING (source, hb)),
       |bnd AS (SELECT doc_id, source, n_tokens, hb FROM (
       |    SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY source, hb
       |      ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_in
       |    FROM j WHERE cum_before < budget
       |      AND cum_before + b_tokens > budget)
       |  WHERE cum_before + cum_in + n_tokens <= budget),
       |sel AS (
       |  SELECT doc_id, source, n_tokens, hb FROM j
       |  WHERE cum_before + b_tokens <= budget
       |  UNION ALL SELECT * FROM bnd)""".stripMargin
  }

  /** The q98 TRAINING replay (VERDICT r12 #1): sequential greedy BPE as
    * `nMerges` generated CTE rounds. Round r reads the vocabulary in its
    * round-(r-1) segmentation (the q118 boundary-wrapped string form
    * `|s1||s2|…|sn|`), folds all adjacent symbol pairs weighted by word
    * count (overlap allowed — the engine's counting convention), takes
    * the argmax under the engine's exact (cnt DESC, pair ASC) tie-break,
    * and applies the winner with a single left-to-right non-overlapping
    * `replace` (bit-identical to [[graft.functions.BpeApply]]'s scan
    * order; the double separator keeps adjacent matches from sharing
    * characters). The engine's BATCHED rounds equal this sequential
    * replay by the [[graft.operators.Bpe.acceptBatch]] prefix proof
    * (accepted pairs are symbol-disjoint, so earlier batch members
    * cannot change later members' counts) — pinned by BpeSpec.
    * `AS MATERIALIZED` forces linear work: v{r} is referenced twice
    * (p{r+1} and v{r+1}), and an inlining CTE planner would otherwise
    * re-derive the whole chain exponentially. An exhausted vocabulary
    * (no pair left) yields an empty m{r}, the LEFT JOIN carries the
    * segmentation unchanged, and the round contributes no row — the
    * engine's early-stop semantics.
    */
  protected def bpeTrainOracleSql(nMerges: Int): String = {
    val ctes = Seq.newBuilder[String]
    ctes += """v0 AS MATERIALIZED (
      |  SELECT word, CAST(count(*) AS BIGINT) AS wcount,
      |         regexp_replace(word, '(.)', '|\1|', 'g') AS seg
      |  FROM (
      |    SELECT unnest(list_filter(string_split(lower(text), ' '),
      |                              w -> len(w) > 0)) AS word
      |    FROM documents)
      |  GROUP BY 1)""".stripMargin
    for (r <- 1 to nMerges) {
      ctes += s"""p$r AS MATERIALIZED (
        |  SELECT pair, CAST(sum(wcount) AS BIGINT) AS cnt FROM (
        |    SELECT wcount, unnest(list_transform(range(1, len(syms)),
        |      i -> syms[i] || ' ' || syms[i+1])) AS pair
        |    FROM (SELECT wcount, string_split(trim(seg, '|'), '||') AS syms
        |          FROM v${r - 1}))
        |  GROUP BY 1)""".stripMargin
      ctes += s"""m$r AS MATERIALIZED (
        |  SELECT $r AS rnk, string_split(pair, ' ')[1] AS lft,
        |         string_split(pair, ' ')[2] AS rgt, cnt
        |  FROM p$r ORDER BY cnt DESC, pair ASC LIMIT 1)""".stripMargin
      if (r < nMerges)
        ctes += s"""v$r AS MATERIALIZED (
          |  SELECT v.word, v.wcount,
          |         CASE WHEN m.lft IS NULL THEN v.seg
          |              ELSE replace(v.seg, '|' || m.lft || '||' || m.rgt || '|',
          |                           '|' || m.lft || m.rgt || '|') END AS seg
          |  FROM v${r - 1} v LEFT JOIN m$r m ON true)""".stripMargin
    }
    val union = (1 to nMerges).map(r => s"SELECT * FROM m$r").mkString("\nUNION ALL\n")
    "WITH " + ctes.result().mkString(",\n") + "\n" +
      """SELECT CAST(rnk AS INTEGER) AS "rank", lft AS "left", rgt AS "right",
        |       lft || rgt AS merged, cnt AS pair_count
        |FROM (""".stripMargin + union + ")"
  }

  /** The q129 IVF-PQ frontier replay: PQ codes from the interpolated
    * codebooks (same `|c|² − 2·dot` + (dist, code) tie-break as the
    * engine's NearestCells slices), per-query round-6 ADC tables
    * recomputed in SQL with the identical index-order folds, the
    * fixed-order m-term lookup sums, and the q120 coarse-probe prefix
    * machinery for the IVF-PQ variants.
    */
  protected def pqFrontierOracleSql(model: operators.Similarity.PqModel,
                                  rModel: operators.Similarity.PqModel)
      : String = {
    val m = model.m
    val kk = model.k
    val sub = model.subDim
    val cbRows = (for (mi <- 0 until m; j <- 0 until kk) yield
      s"($mi, $j, [${model.codebooks(mi)(j).mkString(", ")}]::DOUBLE[])")
      .mkString(",\n    ")
    val nFlat = model.cnorm2Flat.mkString(", ")
    def adcTerms(t: String, codes: String) = (0 until m)
      .map(mi => s"$t[${mi * kk} + $codes[${mi + 1}] + 1]").mkString(" + ")
    // residual-variant literals/terms (ivfpq_res_pN): same shapes over
    // the residual codebooks; the per-cell reconstructed-norm and
    // q·c_coarse tables are REPLAYED from c$KmeansIters rather than
    // interpolated, so the oracle derives them the way the engine does
    val mr = rModel.m
    val kkr = rModel.k
    val subR = rModel.subDim
    val cbrRows = (for (mi <- 0 until mr; j <- 0 until kkr) yield
      s"($mi, $j, [${rModel.codebooks(mi)(j).mkString(", ")}]::DOUBLE[])")
      .mkString(",\n    ")
    def adcTermsR(t: String, codes: String) = (0 until mr)
      .map(mi => s"$t[${mi * kkr} + $codes[${mi + 1}] + 1]").mkString(" + ")
    kmeansCtes.stripSuffix("\n") + ",\n" +
      s"""cb AS (SELECT * FROM (VALUES
         |    $cbRows) AS t(mi, j, c)),
         |nlit AS (SELECT [$nFlat]::DOUBLE[] AS n2),
         |pcodes AS (
         |  SELECT vec_id, list(code ORDER BY mi) AS codes FROM (
         |    SELECT vec_id, mi, code FROM (
         |      SELECT v.vec_id, cb.mi, cb.j AS code,
         |             row_number() OVER (PARTITION BY v.vec_id, cb.mi ORDER BY
         |               list_sum(list_transform(cb.c, x -> x*x))
         |               - 2 * list_sum(list_transform(range(1, ${sub + 1}),
         |                     i -> v.emb[cb.mi * $sub + i] * cb.c[i])),
         |               cb.j) AS rn
         |      FROM v CROSS JOIN cb) WHERE rn = 1)
         |  GROUP BY vec_id),
         |cbr AS (SELECT * FROM (VALUES
         |    $cbrRows) AS t(mi, j, c)),
         |rcodes AS (
         |  SELECT vec_id, cell, list(code ORDER BY mi) AS codes FROM (
         |    SELECT vec_id, cell, mi, code FROM (
         |      SELECT v.vec_id, cl.cell, cbr.mi, cbr.j AS code,
         |             row_number() OVER (PARTITION BY v.vec_id, cbr.mi ORDER BY
         |               list_sum(list_transform(cbr.c, x -> x*x))
         |               - 2 * list_sum(list_transform(range(1, ${subR + 1}),
         |                     i -> (v.emb[cbr.mi * $subR + i]
         |                           - cc.c[cbr.mi * $subR + i]) * cbr.c[i])),
         |               cbr.j) AS rn
         |      FROM v JOIN cells cl ON cl.vec_id = v.vec_id
         |      JOIN c$KmeansIters cc ON cc.cell = cl.cell
         |      CROSS JOIN cbr) WHERE rn = 1)
         |  GROUP BY vec_id, cell),
         |trq AS (
         |  SELECT v.vec_id AS q_id, cbr.mi, cbr.j,
         |         round(list_sum(list_transform(range(1, ${subR + 1}),
         |               i -> v.emb[cbr.mi * $subR + i] * cbr.c[i])), 6) AS t
         |  FROM v CROSS JOIN cbr WHERE v.vec_id < 8),
         |trl AS (SELECT q_id, list(t ORDER BY mi, j) AS t FROM trq GROUP BY 1),
         |qcr AS (
         |  SELECT v.vec_id AS q_id, cc.cell,
         |         round(list_sum(list_transform(range(1, ${EmbDim + 1}),
         |               i -> v.emb[i] * cc.c[i])), 6) AS qc
         |  FROM v CROSS JOIN c$KmeansIters cc WHERE v.vec_id < 8),
         |nres AS (
         |  SELECT cc.cell, cbr.mi, cbr.j,
         |         round(list_sum(list_transform(range(1, ${subR + 1}),
         |           i -> (cc.c[cbr.mi * $subR + i] + cbr.c[i])
         |              * (cc.c[cbr.mi * $subR + i] + cbr.c[i]))), 6) AS n2
         |  FROM c$KmeansIters cc CROSS JOIN cbr),
         |nresl AS (SELECT cell, list(n2 ORDER BY mi, j) AS n2
         |          FROM nres GROUP BY 1),
         |tq AS (
         |  SELECT v.vec_id AS q_id, cb.mi, cb.j,
         |         round(list_sum(list_transform(range(1, ${sub + 1}),
         |               i -> v.emb[cb.mi * $sub + i] * cb.c[i])), 6) AS t
         |  FROM v CROSS JOIN cb WHERE v.vec_id < 8),
         |tl AS (SELECT q_id, list(t ORDER BY mi, j) AS t FROM tq GROUP BY 1),
         |qn AS (SELECT vec_id AS q_id,
         |              round(sqrt(list_sum(list_transform(emb, x -> x*x))), 6) AS qnorm
         |       FROM v WHERE vec_id < 8),
         |pqs AS (
         |  SELECT q_id, vec_id,
         |         CASE WHEN cn > 0 AND qnorm > 0
         |              THEN adc / (qnorm * sqrt(cn)) ELSE -2.0 END AS cos
         |  FROM (
         |    SELECT tl.q_id, cd.vec_id, qn.qnorm,
         |           (${adcTerms("tl.t", "cd.codes")}) AS adc,
         |           (${adcTerms("nlit.n2", "cd.codes")}) AS cn
         |    FROM pcodes cd
         |    CROSS JOIN tl
         |    JOIN qn ON qn.q_id = tl.q_id
         |    CROSS JOIN nlit
         |    WHERE cd.vec_id <> tl.q_id)),
         |bs AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |         ${cosineSql("q.embedding", "c.embedding")} AS cos
         |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 8),
         |bt AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |           ROW_NUMBER() OVER (PARTITION BY q_id
         |             ORDER BY round(cos, 6) DESC, vec_id ASC) AS rank
         |    FROM bs) WHERE rank <= 5),
         |pqtop AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |           ROW_NUMBER() OVER (PARTITION BY q_id
         |             ORDER BY round(cos, 6) DESC, vec_id ASC) AS rank
         |    FROM pqs) WHERE rank <= 5),
         |qprobe AS (
         |  SELECT vec_id, cell, rn FROM (
         |    SELECT v.vec_id, cc.cell,
         |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |             list_sum(list_transform(cc.c, x -> x*x))
         |             - 2 * list_sum(list_transform(range(1, ${EmbDim + 1}),
         |                              i -> v.emb[i] * cc.c[i])),
         |             cc.cell) AS rn
         |    FROM v CROSS JOIN c$KmeansIters cc WHERE v.vec_id < 8)
         |  WHERE rn <= 2),
         |lv AS (SELECT unnest([1, 2]) AS n_probe),
         |icand AS (
         |  SELECT l.n_probe, qp.vec_id AS q_id, cc.vec_id AS vec_id
         |  FROM lv l JOIN qprobe qp ON qp.rn <= l.n_probe
         |  JOIN cells cc ON cc.cell = qp.cell AND cc.vec_id <> qp.vec_id),
         |ins AS (SELECT n_probe, q_id, CAST(count(*) AS BIGINT) AS n_scored
         |        FROM icand GROUP BY 1, 2),
         |itop AS (
         |  SELECT n_probe, q_id, vec_id FROM (
         |    SELECT ic.n_probe, ps.q_id, ps.vec_id,
         |           ROW_NUMBER() OVER (PARTITION BY ic.n_probe, ps.q_id
         |             ORDER BY round(ps.cos, 6) DESC, ps.vec_id ASC) AS rank
         |    FROM icand ic JOIN pqs ps
         |      ON ps.q_id = ic.q_id AND ps.vec_id = ic.vec_id)
         |  WHERE rank <= 5),
         |rpqs AS (
         |  SELECT n_probe, q_id, vec_id,
         |         CASE WHEN cn > 0 AND qnorm > 0
         |              THEN s / (qnorm * sqrt(cn)) ELSE -2.0 END AS cos
         |  FROM (
         |    SELECT ic.n_probe, ic.q_id, ic.vec_id, qn.qnorm,
         |           (qcr.qc + (${adcTermsR("trl.t", "rc.codes")})) AS s,
         |           (${adcTermsR("nl.n2", "rc.codes")}) AS cn
         |    FROM icand ic
         |    JOIN rcodes rc ON rc.vec_id = ic.vec_id
         |    JOIN nresl nl ON nl.cell = rc.cell
         |    JOIN trl ON trl.q_id = ic.q_id
         |    JOIN qn ON qn.q_id = ic.q_id
         |    JOIN qcr ON qcr.q_id = ic.q_id AND qcr.cell = rc.cell)),
         |ritop AS (
         |  SELECT n_probe, q_id, vec_id FROM (
         |    SELECT n_probe, q_id, vec_id,
         |           ROW_NUMBER() OVER (PARTITION BY n_probe, q_id
         |             ORDER BY round(cos, 6) DESC, vec_id ASC) AS rank
         |    FROM rpqs) WHERE rank <= 5),
         |rih AS (SELECT ritop.n_probe, bt.q_id, CAST(count(*) AS BIGINT) AS n_hit
         |        FROM bt JOIN ritop USING (q_id, vec_id) GROUP BY 1, 2),
         |i8 AS (
         |  SELECT vec_id, amax,
         |         list_transform(emb, x -> floor(x * (127.0 / amax) + 0.5)) AS q
         |  FROM (SELECT vec_id, emb,
         |               list_max(list_transform(emb, x -> abs(x))) AS amax
         |        FROM v)
         |  WHERE amax > 0.0),
         |i8s AS (
         |  SELECT qq.vec_id AS q_id, c.vec_id AS vec_id,
         |         list_sum(list_transform(range(1, ${EmbDim + 1}),
         |           i -> qq.q[i] * c.q[i]))
         |           * (qq.amax / 127.0) * (c.amax / 127.0) AS qcos
         |  FROM i8 qq JOIN i8 c ON c.vec_id <> qq.vec_id
         |  WHERE qq.vec_id < 8),
         |i8top AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |           ROW_NUMBER() OVER (PARTITION BY q_id
         |             ORDER BY round(qcos, 6) DESC, vec_id ASC) AS rank
         |    FROM i8s) WHERE rank <= 5),
         |i8h AS (SELECT bt.q_id, CAST(count(*) AS BIGINT) AS n_hit
         |        FROM bt JOIN i8top USING (q_id, vec_id) GROUP BY 1),
         |i8n AS (SELECT CAST(count(*) AS BIGINT) - 1 AS n FROM i8),
         |tcnt AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_truth
         |         FROM bt GROUP BY 1),
         |ph AS (SELECT bt.q_id, CAST(count(*) AS BIGINT) AS n_hit
         |       FROM bt JOIN pqtop USING (q_id, vec_id) GROUP BY 1),
         |ih AS (SELECT itop.n_probe, bt.q_id, CAST(count(*) AS BIGINT) AS n_hit
         |       FROM bt JOIN itop USING (q_id, vec_id) GROUP BY 1, 2),
         |ntot AS (SELECT CAST(count(*) AS BIGINT) - 1 AS n FROM embeddings)
         |SELECT 'float' AS variant, t.q_id, t.n_truth, t.n_truth AS n_hit,
         |       (CASE WHEN ((t.n_truth) < 0) != ((t.n_truth) < 0) THEN -1 ELSE 1 END * ((2 * 10000 * abs(t.n_truth) + abs(t.n_truth)) // (2 * abs(t.n_truth))) / 10000.0) AS recall,
         |       ntot.n AS n_scored
         |FROM tcnt t CROSS JOIN ntot
         |UNION ALL
         |SELECT 'int8', t.q_id, t.n_truth,
         |       CAST(coalesce(i8h.n_hit, 0) AS BIGINT),
         |       (CASE WHEN ((coalesce(i8h.n_hit, 0)) < 0) != ((t.n_truth) < 0) THEN -1 ELSE 1 END * ((2 * 10000 * abs(coalesce(i8h.n_hit, 0)) + abs(t.n_truth)) // (2 * abs(t.n_truth))) / 10000.0),
         |       i8n.n
         |FROM tcnt t LEFT JOIN i8h USING (q_id) CROSS JOIN i8n
         |UNION ALL
         |SELECT 'pq', t.q_id, t.n_truth,
         |       CAST(coalesce(ph.n_hit, 0) AS BIGINT),
         |       (CASE WHEN ((coalesce(ph.n_hit, 0)) < 0) != ((t.n_truth) < 0) THEN -1 ELSE 1 END * ((2 * 10000 * abs(coalesce(ph.n_hit, 0)) + abs(t.n_truth)) // (2 * abs(t.n_truth))) / 10000.0),
         |       ntot.n
         |FROM tcnt t LEFT JOIN ph USING (q_id) CROSS JOIN ntot
         |UNION ALL
         |SELECT 'ivfpq_p' || CAST(l.n_probe AS VARCHAR), t.q_id, t.n_truth,
         |       CAST(coalesce(ih.n_hit, 0) AS BIGINT),
         |       (CASE WHEN ((coalesce(ih.n_hit, 0)) < 0) != ((t.n_truth) < 0) THEN -1 ELSE 1 END * ((2 * 10000 * abs(coalesce(ih.n_hit, 0)) + abs(t.n_truth)) // (2 * abs(t.n_truth))) / 10000.0),
         |       coalesce(ins.n_scored, 0)
         |FROM lv l CROSS JOIN tcnt t
         |LEFT JOIN ih ON ih.n_probe = l.n_probe AND ih.q_id = t.q_id
         |LEFT JOIN ins ON ins.n_probe = l.n_probe AND ins.q_id = t.q_id
         |UNION ALL
         |SELECT 'ivfpq_res_p' || CAST(l.n_probe AS VARCHAR), t.q_id, t.n_truth,
         |       CAST(coalesce(rih.n_hit, 0) AS BIGINT),
         |       (CASE WHEN ((coalesce(rih.n_hit, 0)) < 0) != ((t.n_truth) < 0) THEN -1 ELSE 1 END * ((2 * 10000 * abs(coalesce(rih.n_hit, 0)) + abs(t.n_truth)) // (2 * abs(t.n_truth))) / 10000.0),
         |       coalesce(ins.n_scored, 0)
         |FROM lv l CROSS JOIN tcnt t
         |LEFT JOIN rih ON rih.n_probe = l.n_probe AND rih.q_id = t.q_id
         |LEFT JOIN ins ON ins.n_probe = l.n_probe AND ins.q_id = t.q_id""".stripMargin
  }

  /** k-means parameters for q32/q33, mirrored in the oracle replay. */
  val KmeansK = 4
  val KmeansIters = 2

  /** q136's near-dup cosine threshold (q32's candidate bar), mirrored in
    * the oracle.
    */
  protected val SemDedupThreshold = 0.35

  /** q133's component count. */
  val PcaK = 4

  /** q138's group count for the two-level index over the shared
    * quantizer's cells; its oracle rebuilds the same index.
    */
  protected val HierGroups = 2

  protected val KmeansTrainN = operators.Similarity.DefaultTrainN
  protected val EmbDim = 64

  // ---------------------------------------------------------------------
  // DuckDB oracles — same math, same names, same rounding.
  // ---------------------------------------------------------------------

  /** Shared CTE chain mirroring [[Solar]] stage for stage. The rounded
    * means replay [[graft.functions.AggFunctions.meanQ]]'s quantized
    * spelling (exact integer micros sum — BIGINT promotes to HUGEINT
    * here, decimal(38,0) on the Spark side — and the HALF_UP rounding
    * done in exact integer arithmetic, `AggFunctions.meanQSql`):
    * `round(avg(x), 1)` itself is aggregation-order-sensitive at
    * ulp-of-.05 boundaries (the seed-3153 class, ADVICE r16), and
    * round-of-double is cross-engine-undefined at exact half
    * boundaries (fuzz seed 7249, round 18).
    */
  protected val solarCtes: String =
    """WITH module_agg AS (
      |  SELECT CAST(floor(epoch(ts)/30)*30 AS BIGINT) AS w_start,
      |         event_type AS panel, CAST(user_id AS VARCHAR) AS module,
      |         count(*) AS m_cnt, sum(value) AS m_sum_power,
      |         MEANQ1_VALUE AS m_avg_power
      |  FROM events GROUP BY 1, 2, 3),
      |panel_agg AS (
      |  SELECT w_start, panel, count(*) AS p_cnt,
      |         sum(m_sum_power) AS p_sum_power,
      |         MEANQ1_MSUM AS p_avg_power
      |  FROM module_agg GROUP BY 1, 2),
      |j1 AS (
      |  SELECT m.w_start, m.panel, m.module, m.m_cnt, m.m_sum_power,
      |         m.m_avg_power, p.p_cnt, p.p_sum_power, p.p_avg_power
      |  FROM module_agg m JOIN panel_agg p
      |    ON m.w_start = p.w_start AND m.panel = p.panel),
      |panel_final AS (
      |  SELECT w_start, panel, count(*) AS p_cnt,
      |         max(p_sum_power) AS p_sum_power, max(p_avg_power) AS p_avg_power,
      |         sum(pow(m_sum_power - p_avg_power, 2)) AS squares_sum
      |  FROM j1 GROUP BY 1, 2),
      |panel_final2 AS (
      |  SELECT *, squares_sum / p_cnt AS variance,
      |         round(sqrt(squares_sum / p_cnt), 1) AS deviance
      |  FROM panel_final),
      |j2 AS (
      |  SELECT m.w_start, m.panel, m.module, m.m_cnt, m.m_sum_power,
      |         m.m_avg_power, p.p_cnt, p.p_sum_power, p.p_avg_power,
      |         p.squares_sum, p.variance, p.deviance
      |  FROM module_agg m JOIN panel_final2 p
      |    ON m.w_start = p.w_start AND m.panel = p.panel)
      |""".stripMargin
      .replace("MEANQ1_VALUE",
        graft.functions.AggFunctions.meanQSql("value", 1))
      .replace("MEANQ1_MSUM",
        graft.functions.AggFunctions.meanQSql("m_sum_power", 1))

  /** Shared document CTEs: tokenization and word-3-gram shingles, mirroring
    * [[TextAnalysis.tokens]] / [[Dedup.shingles]]. DuckDB `range(a, b)` is
    * end-exclusive and empty when b <= a, matching the Spark `when` guard.
    */
  protected val docCtes: String =
    """WITH toks AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS toks,
      |         string_split(lower(text), ' ') AS ltoks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, list_transform(range(1, len(toks) - 1),
      |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
      |  FROM toks)
      |""".stripMargin

  /** The synthetic pixel-PNG corpus's closed-form pixel relation
    * (mirrors [[graft.functions.ImageKernels]] synthWidth/Height/Pix):
    * one row per (media, x, y) with the luminance value — what lets
    * DuckDB gate pixel-level operators (q97/q144/q145) without being
    * able to inflate PNG bytes itself. Bounded: ≤ 18×14 px per image.
    */
  protected val imagePixelCtes: String =
    """im AS (
      |  SELECT doc_id AS media_id, doc_id // 2 AS g,
      |         (doc_id % 2) * 20 AS off
      |  FROM documents),
      |dims AS (
      |  SELECT media_id, g, off, 12 + g % 7 AS w, 10 + g % 5 AS h
      |  FROM im),
      |px AS (
      |  SELECT d.media_id, d.w, d.h, x.x, y.y,
      |         ((11 * x.x + 17 * y.y + 23 * d.g) % 200 + d.off) AS v
      |  FROM dims d
      |  JOIN (SELECT unnest(range(0, 18)) AS x) x ON x.x < d.w
      |  JOIN (SELECT unnest(range(0, 14)) AS y) y ON y.y < d.h)""".stripMargin

  /** 8×9-cell integer means + dHash bits over [[imagePixelCtes]]'s px —
    * shared by the q144 hash gate and the q145 pair truth. The bit-63
    * weight is the SIGNED long minimum (the simhash64Ctes HUGEINT-sum
    * trick), so the CAST back to BIGINT restores Spark's two's-
    * complement long.
    */
  protected val imageDhashCtes: String =
    s"""cellv AS (
       |  SELECT media_id, (y * 8) // h AS r, (x * 9) // w AS c,
       |         sum(v) // count(*) AS cv
       |  FROM px GROUP BY 1, 2, 3),
       |dh AS (
       |  SELECT a.media_id,
       |         CAST(sum(CASE WHEN b.cv > a.cv THEN
       |                    CASE WHEN a.r = 7 AND a.c = 7
       |                         THEN -9223372036854775807 - 1
       |                         ELSE (CAST(1 AS BIGINT)
       |                               << CAST(a.r * 8 + a.c AS INTEGER))
       |                    END
       |                  ELSE 0 END) AS BIGINT) AS dhash
       |  FROM cellv a JOIN cellv b
       |    ON b.media_id = a.media_id AND b.r = a.r AND b.c = a.c + 1
       |  WHERE a.c < 8
       |  GROUP BY 1)""".stripMargin

  /** The synthetic PCM corpus's closed-form sample relation + block-
    * energy fingerprint (mirrors [[graft.functions.AudioKernels]]) — the
    * audio analog of [[imagePixelCtes]]/[[imageDhashCtes]]. Bounded:
    * ≤ 950 samples per clip.
    */
  protected val audioSampleCtes: String =
    s"""am AS (
       |  SELECT doc_id AS media_id, doc_id // 2 AS g, 1 + doc_id % 2 AS amp
       |  FROM documents),
       |adims AS (
       |  SELECT media_id, g, amp, 650 + (g % 7) * 50 AS n,
       |         CASE g % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
       |              WHEN 2 THEN 22050 WHEN 3 THEN 44100
       |              ELSE 48000 END AS rate
       |  FROM am),
       |smp AS (
       |  SELECT d.media_id, d.n, d.rate, t.t,
       |         ((t.t * (7 + d.g % 5) + 13 * d.g) % 2003 - 1001) * d.amp AS s
       |  FROM adims d
       |  JOIN (SELECT unnest(range(0, 950)) AS t) t ON t.t < d.n),
       |aeng AS (
       |  SELECT media_id, (t * 65) // n AS b, sum(abs(s)) AS e
       |  FROM smp GROUP BY 1, 2),
       |afp AS (
       |  SELECT a.media_id,
       |         CAST(sum(CASE WHEN b2.e > a.e THEN
       |                    CASE WHEN a.b = 63
       |                         THEN -9223372036854775807 - 1
       |                         ELSE (CAST(1 AS BIGINT)
       |                               << CAST(a.b AS INTEGER))
       |                    END
       |                  ELSE 0 END) AS BIGINT) AS fingerprint
       |  FROM aeng a JOIN aeng b2
       |    ON b2.media_id = a.media_id AND b2.b = a.b + 1
       |  WHERE a.b < 64
       |  GROUP BY 1)""".stripMargin

  /** Normalized-text fingerprint, mirroring [[TextAnalysis.normalized]]
    * (DuckDB regexp_replace needs the explicit 'g' flag to match Spark's
    * global-by-default behavior).
    */
  protected val fpSql =
    "md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))"

  /** SQL array literal for a stopword dictionary. */
  protected def dictSql(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  protected def stopCountSql(toksExpr: String, dict: Seq[String]): String =
    s"len(list_filter($toksExpr, t -> list_contains(${dictSql(dict)}, t)))"

  /** Per-language score select-list + argmax CASE, shared by every oracle
    * that replays [[TextAnalysis.predLang]] (q17/q47/q53/q54/q60).
    */
  protected lazy val langScoreSqls: Seq[String] =
    TextAnalysis.StopwordDicts.map { case (l, d) =>
      s"${stopCountSql("ltoks", d)} AS score_$l"
    }

  /** The q124 data-card replay parameterized over its source relation —
    * q124 runs it over `documents`; q130 runs the IDENTICAL chain over
    * the merged-corpus CTE, so the two gates can never drift apart.
    * Emits the CTE body only (caller prepends `WITH ` / prior CTEs).
    */
  protected def datacardOracleBody(src: String): String = {
    val stop = stopCountSql("ltoks", TextAnalysis.StopwordDicts.head._2)
    val thr = graft.operators.QualityModel.HeuristicLabelThreshold
    s"""dc_toks AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS toks,
       |         string_split(lower(text), ' ') AS ltoks
       |  FROM $src),
       |dc_scored AS (SELECT doc_id, ${langScoreSqls.mkString(", ")} FROM dc_toks),
       |dc_pl AS (SELECT doc_id, $predLangCaseSql AS pred_lang FROM dc_scored),
       |dc_enr AS (
       |  SELECT doc_id, source, len(toks) AS n_words,
       |         ${graft.operators.TextAnalysis.qualitySqlOf("length(text)", "len(toks)", "len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))", stop)} AS quality,
       |         ('0x' || substr($fpSql, 1, 15))::BIGINT AS fp64
       |  FROM (SELECT d.doc_id, d.source, d.text, t.toks, t.ltoks
       |        FROM $src d JOIN dc_toks t USING (doc_id))),
       |dc_dup AS (SELECT fp64 FROM dc_enr GROUP BY 1 HAVING count(*) > 1),
       |dc_b AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(n_words) AS BIGINT) AS n_tokens,
       |         CAST(sum(CASE WHEN fp64 IN (SELECT fp64 FROM dc_dup)
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       |         CAST(sum(CASE WHEN quality >= ${thr}e0 THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_hi_quality
       |  FROM dc_enr GROUP BY 1),
       |dc_lc AS (SELECT e.source, p.pred_lang, count(*) AS lc
       |          FROM dc_enr e JOIN dc_pl p USING (doc_id) GROUP BY 1, 2),
       |dc_lm AS (SELECT source, max(lc) AS mc FROM dc_lc GROUP BY 1),
       |dc_tl AS (SELECT dc_lc.source, dc_lm.mc, min(pred_lang) AS top_lang
       |          FROM dc_lc JOIN dc_lm ON dc_lc.source = dc_lm.source
       |                                AND dc_lc.lc = dc_lm.mc
       |          GROUP BY 1, 2)
       |SELECT dc_b.source, dc_b.n_docs, dc_b.n_tokens,
       |       (CASE WHEN ((dc_b.n_tokens) < 0) != ((dc_b.n_docs) < 0) THEN -1 ELSE 1 END * ((2 * 10000 * abs(dc_b.n_tokens) + abs(dc_b.n_docs)) // (2 * abs(dc_b.n_docs))) / 10000.0)
       |         AS mean_doc_tokens,
       |       dc_b.n_dup_docs,
       |       (CASE WHEN ((dc_b.n_dup_docs) < 0) != ((dc_b.n_docs) < 0) THEN -1 ELSE 1 END * ((2 * 10000 * abs(dc_b.n_dup_docs) + abs(dc_b.n_docs)) // (2 * abs(dc_b.n_docs))) / 10000.0) AS pct_dup,
       |       dc_b.n_hi_quality,
       |       (CASE WHEN ((dc_b.n_hi_quality) < 0) != ((dc_b.n_docs) < 0) THEN -1 ELSE 1 END * ((2 * 10000 * abs(dc_b.n_hi_quality) + abs(dc_b.n_docs)) // (2 * abs(dc_b.n_docs))) / 10000.0)
       |         AS pct_hi_quality,
       |       dc_tl.top_lang,
       |       (CASE WHEN ((dc_tl.mc) < 0) != ((dc_b.n_docs) < 0) THEN -1 ELSE 1 END * ((2 * 10000 * abs(dc_tl.mc) + abs(dc_b.n_docs)) // (2 * abs(dc_b.n_docs))) / 10000.0) AS top_lang_share
       |FROM dc_b JOIN dc_tl USING (source)""".stripMargin
  }
  /** The q130 ingestion-chain replay, shared VERBATIM by q137 (the
    * steady-state artifact path must reproduce the bootstrap chain's
    * cards bit-for-bit): incoming from the raw table (q110's hash gate
    * already proves the WARC round trip is lossless), q53's curation
    * fragment, the merge's ROW semantics, and the exact q124 card body
    * over the merged corpus.
    */
  protected lazy val ingestChainOracleSql: String = {
    val stop = stopCountSql("ltoks", TextAnalysis.StopwordDicts.head._2)
    s"""WITH inc0 AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 20 = 0 THEN text || ' recrawled'
       |              ELSE text END AS text,
       |         lang, source
       |  FROM documents WHERE doc_id % 2 = 0),
       |ct AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS toks,
       |         string_split(lower(text), ' ') AS ltoks
       |  FROM inc0),
       |cenr0 AS (
       |  SELECT doc_id, length(text) AS n_chars_m, len(toks) AS n_words,
       |         len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS n_punct,
       |         $stop AS n_stop,
       |         ${langScoreSqls.mkString(",\n         ")},
       |         (('0x' || substr($fpSql, 1, 15))::BIGINT) AS fp64
       |  FROM ct),
       |cenr AS (
       |  SELECT doc_id, fp64,
       |         ${graft.operators.TextAnalysis.qualitySqlOf("n_chars_m", "n_words", "n_punct", "n_stop")} AS quality,
       |         $predLangCaseSql AS pred_lang
       |  FROM cenr0),
       |ckept AS (
       |  SELECT doc_id, pred_lang, quality,
       |         min(doc_id) OVER (PARTITION BY fp64) AS keep_id
       |  FROM cenr),
       |cur AS (
       |  SELECT i.doc_id, i.text, i.lang, i.source
       |  FROM inc0 i JOIN ckept k USING (doc_id)
       |  WHERE k.doc_id = k.keep_id AND k.pred_lang = 'en'
       |    AND k.quality >= 0.5),
       |ex AS (
       |  SELECT doc_id, text, lang, source FROM documents
       |  WHERE doc_id % 5 <> 4),
       |merged AS (
       |  SELECT doc_id, text, source FROM cur
       |  UNION ALL
       |  SELECT doc_id, text, source FROM ex
       |  WHERE doc_id NOT IN (SELECT doc_id FROM cur)),
       |""".stripMargin + datacardOracleBody("merged")
  }

  protected lazy val predLangCaseSql: String = {
    val langs = TextAnalysis.StopwordDicts.map(_._1)
    val m = s"greatest(${langs.map(l => s"score_$l").mkString(", ")})"
    langs.map(l => s"WHEN score_$l = $m AND $m > 0 THEN '$l'")
      .mkString("CASE ", " ", " ELSE 'und' END")
  }

  /** MinHash signature + LSH band CTEs mirroring [[Dedup.minhashSignature]]
    * / [[Dedup.lshBands]] (bands unrolled as a UNION ALL).
    */
  protected val lshCtes: String = {
    val bandSelects = (0 until Dedup.LshBands).map { b =>
      val idx = (1 to Dedup.LshRows).map(r => s"sig[${b * Dedup.LshRows + r}]")
      s"SELECT doc_id, $b AS band_idx, md5(${idx.mkString(" || '|' || ")}) AS band_hash FROM sig"
    }
    // bands mirrors Dedup.lshCandidates' maxBucket cap: buckets larger than
    // the cap are dropped in BOTH engines (without the QUALIFY, a bucket
    // over the cap at a larger SF would silently diverge the gate)
    s"""sig AS (
       |  SELECT doc_id, list_transform(range(0, ${Dedup.MinhashK}),
       |           j -> list_min(list_transform(sh, s -> md5(j::VARCHAR || '|' || s)))) AS sig
       |  FROM sh WHERE len(sh) > 0),
       |bands_raw AS (
       |${bandSelects.mkString("  ", "\n  UNION ALL ", "")}),
       |bands AS (
       |  SELECT doc_id, band_idx, band_hash FROM bands_raw
       |  QUALIFY count(*) OVER (PARTITION BY band_idx, band_hash) <= ${Dedup.DefaultMaxBucket}),
       |""".stripMargin
  }

  /** Exact-Jaccard SQL over two distinct-shingle list expressions,
    * mirroring [[Dedup.jaccard]] (list_intersect, like array_intersect,
    * dedups — inputs are distinct already).
    */
  protected def jaccardSql(a: String, b: String): String = {
    val inter = s"len(list_intersect($a, $b))"
    graft.functions.AggFunctions.ratioQSql(inter,
      s"len($a) + len($b) - $inter", 4)
  }

  /** 16-bit SimHash SQL mirroring [[Dedup.simhash]]: per-token 16-bit hash
    * from the first 4 md5 hex digits, sign-of-votes per bit.
    */
  protected val simhashCtes: String = {
    val bits = (0 until Dedup.SimhashBits).map { j =>
      s"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> $j) & 1) * 2 - 1)) > 0 THEN ${1L << j} ELSE 0 END)"
    }
    s"""hashes AS (
       |  SELECT doc_id, list_transform(ltoks,
       |           t -> (('0x' || substr(md5(t), 1, 4))::INT)) AS hs
       |  FROM toks WHERE len(ltoks) > 0),
       |simhash_t AS (
       |  SELECT doc_id, CAST(${bits.mkString(" + ")} AS BIGINT) AS simhash
       |  FROM hashes),
       |""".stripMargin
  }

  /** DuckDB replay of [[Similarity.kmeansCells]] (k = [[KmeansK]], iters =
    * [[KmeansIters]], training sample = the [[KmeansTrainN]] lowest
    * vec_ids), one CTE pair (assign, means) per Lloyd iteration over the
    * `vt` sample, then one final full-corpus assignment ending in
    * `cells(vec_id, cell)`.
    *
    * Bit-reproducibility: the assignment distance `|c|² − 2·(emb·c)` uses
    * the same sequential left-to-right folds on both engines (the q15/q16
    * gates already prove list_sum(list_transform(...)) ≡ VectorDot), and
    * centroid means are computed as a sequential fold over SORTED values in
    * both engines (list_sum(list_sort(list(v))) here ≡ aggregate(array_sort
    * (collect_list(v))) in Spark) — the pre-rounding doubles are therefore
    * bit-identical, and the round(·, 6) is belt-and-braces rather than the
    * sole defense against partial-sum ordering. The mean's divisor is
    * count(emb[pos]) — null-skipping, exactly like Spark's
    * size(collect_list) — though both engines also assume non-NULL
    * embedding elements (a NULL would diverge the sorted folds first).
    * Assumes every cell stays non-empty during training (holds for the
    * seeded testdata; Spark's getOrElse fallback has no SQL twin here).
    */
  protected def kmeansCtes: String = {
    def assign(name: String, src: String, c: String) =
      s"""$name AS (
         |  SELECT vec_id, emb, cell FROM (
         |    SELECT v.vec_id, v.emb, cc.cell,
         |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |             list_sum(list_transform(cc.c, x -> x*x))
         |             - 2 * list_sum(list_transform(range(1, ${EmbDim + 1}),
         |                              i -> v.emb[i] * cc.c[i])),
         |             cc.cell) AS rn
         |    FROM $src v CROSS JOIN $c cc) WHERE rn = 1)""".stripMargin
    def means(name: String, a: String) =
      s"""$name AS (
         |  SELECT cell, list(m ORDER BY pos) AS c FROM (
         |    SELECT a.cell, p.pos,
         |           round(list_sum(list_sort(list(a.emb[p.pos]))) / count(a.emb[p.pos]), 6) AS m
         |    FROM $a a CROSS JOIN (SELECT unnest(range(1, ${EmbDim + 1})) AS pos) p
         |    GROUP BY a.cell, p.pos)
         |  GROUP BY cell)""".stripMargin
    val iterCtes = (1 to KmeansIters).flatMap(i => Seq(
      assign(s"a$i", "vt", if (i == 1) "c0" else s"c${i - 1}"),
      means(s"c$i", s"a$i")))
    (Seq(
      s"""v AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
         |  FROM embeddings)""".stripMargin,
      s"""vt AS (
         |  SELECT vec_id, emb FROM v ORDER BY vec_id LIMIT $KmeansTrainN)""".stripMargin,
      s"""c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, emb AS c
         |  FROM (SELECT vec_id, emb FROM vt ORDER BY vec_id LIMIT $KmeansK))""".stripMargin)
      ++ iterCtes
      :+ assign("cells_a", "v", s"c$KmeansIters")
      :+ "cells AS (SELECT vec_id, cell FROM cells_a)")
      .mkString("WITH ", ",\n", "\n")
  }

  /** 64-bit SimHash SQL mirroring [[Dedup.simhash]] / [[graft.functions
    * .SimHash64]]: the per-token 64-bit md5 prefix is carried as two 32-bit
    * halves (`('0x' || substr(md5(t),1,8))::BIGINT` = bits 63..32,
    * `substr(..,9,8)` = bits 31..0) because a full 16-hex-digit literal can
    * overflow signed BIGINT; bit j of the fingerprint reads the matching
    * half. The bit-63 weight (−2^63) makes DuckDB promote the sum to
    * HUGEINT, so the outer CAST back to BIGINT restores the two's-
    * complement long that Spark produces.
    */
  protected val simhash64Ctes: String = {
    val bits = (0 until 64).map { j =>
      val src = if (j >= 32) s"h >> ${j - 32}" else s"h >> $j"
      val half = if (j >= 32) "hhi" else "hlo"
      s"(CASE WHEN list_sum(list_transform($half, h -> (($src) & 1) * 2 - 1)) > 0 THEN ${1L << j} ELSE 0 END)"
    }
    s"""hashes AS (
       |  SELECT doc_id,
       |         list_transform(ltoks, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS hhi,
       |         list_transform(ltoks, t -> ('0x' || substr(md5(t), 9, 8))::BIGINT) AS hlo
       |  FROM toks WHERE len(ltoks) > 0),
       |simhash_t AS (
       |  SELECT doc_id, CAST(${bits.mkString(" + ")} AS BIGINT) AS simhash
       |  FROM hashes),
       |""".stripMargin
  }

  /** The verified near-dup pair graph (threshold 0.5) as a symmetric
    * `edges` CTE — the shared tail of q52's connected components and
    * q152's PageRank (both replay the SAME graph the engine derives from
    * [[lshPairsShared]]).
    */
  protected lazy val ndEdgesCtes: String = lshCtes +
    s"""cands AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |   AND a.doc_id < b.doc_id),
       |shd AS (SELECT doc_id, list_distinct(sh) AS dsh FROM sh),
       |nd AS (
       |  SELECT id_a, id_b
       |  FROM cands JOIN shd a ON cands.id_a = a.doc_id
       |             JOIN shd b ON cands.id_b = b.doc_id
       |  WHERE ${jaccardSql("a.dsh", "b.dsh")} >= 0.5),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM nd
       |  UNION ALL SELECT id_b, id_a FROM nd),
       |""".stripMargin

  /** The q52 connected-components oracle (recursive reachability +
    * min-label), shared by q93's savings histogram.
    */
  protected lazy val clusterLabelsSql: String =
    docCtes.stripSuffix("\n").replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
      ndEdgesCtes +
      """walk(id, reach) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.reach)
        |SELECT id AS doc_id, min(reach) AS cluster FROM walk GROUP BY id""".stripMargin

  /** The corpus-wide multi-probe kNN replay (q155's CTE chain, shared
    * with q159's composed centrality gate so the two cannot drift):
    * every vector probes its top-2 cells by the kmeans distance
    * tie-break, scores its probed candidates, and ranks by
    * (round(cos,6) desc, vec_id). Ends in `ranked` (q_id, vec_id, cos,
    * rank). Requires [[kmeansCtes]] (v, c$KmeansIters, cells) upstream.
    */
  protected def knnRankedCtes: String = knnRankedCtes("")

  /** `extraPred` narrows the candidate stage (e.g. q184's hard-negative
    * label mismatch `AND c.label <> q.label`) — applied exactly where
    * the engine applies it, BEFORE ranking, so the top-k fills with
    * qualifying candidates.
    */
  protected def knnRankedCtes(extraPred: String): String =
    s"""qprobe AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT v.vec_id, cc.cell,
       |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |             list_sum(list_transform(cc.c, x -> x*x))
       |             - 2 * list_sum(list_transform(range(1, ${EmbDim + 1}),
       |                              i -> v.emb[i] * cc.c[i])),
       |             cc.cell) AS rn
       |    FROM v CROSS JOIN c$KmeansIters cc) WHERE rn <= 2),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
       |         ${cosineSql("q.embedding", "c.embedding")} AS cos
       |  FROM embeddings q
       |  JOIN qprobe qp ON qp.vec_id = q.vec_id
       |  JOIN cells cc ON cc.cell = qp.cell
       |  JOIN embeddings c ON c.vec_id = cc.vec_id AND c.vec_id <> q.vec_id
       |    $extraPred),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY q_id
       |           ORDER BY round(cos, 6) DESC, vec_id ASC) AS rank
       |  FROM scored)""".stripMargin

  /** Funnel oracle generator shared by q115 (no bound) and q190
    * (conversion window): the engine's aggregate cascade replayed as
    * chained windowed-min CASEs, with the gap bound spelled inside the
    * same CASE the strictly-after predicate lives in.
    */
  protected def funnelOracleSql(st: Seq[String],
                                maxGapMicros: Option[Long]): String = {
    val chain = st.zipWithIndex.map { case (name, i) =>
      if (i == 0)
        s"""s0 AS (
           |  SELECT user_id, t, event_type,
           |         min(CASE WHEN event_type = '$name' THEN t END)
           |           OVER (PARTITION BY user_id) AS t_0
           |  FROM e)""".stripMargin
      else {
        val within = maxGapMicros.fold("")(g =>
          s" AND t <= t_${i - 1} + $g")
        s"""s$i AS (
           |  SELECT *, min(CASE WHEN event_type = '$name'
           |                      AND t > t_${i - 1}$within THEN t END)
           |              OVER (PARTITION BY user_id) AS t_$i
           |  FROM s${i - 1})""".stripMargin
      }
    }.mkString(",\n")
    val uCols = st.indices.map(i => s"any_value(t_$i) AS t_$i").mkString(", ")
    val aCols = (st.indices.map(i => s"count(t_$i) AS n_$i") ++
      st.indices.drop(1).map(i =>
        graft.functions.AggFunctions.mean4Sql(
          s"(t_$i - t_${i - 1}) / 3.6e9") + s" AS h_$i")).mkString(", ")
    val branches = st.zipWithIndex.map { case (name, i) =>
      val conv = if (i == 0) "CAST(NULL AS DOUBLE)"
        else graft.functions.AggFunctions.ratioQSql(s"n_$i", s"n_${i - 1}", 4)
      val hrs = if (i == 0) "CAST(NULL AS DOUBLE)" else s"h_$i"
      s"""SELECT CAST($i AS INTEGER) AS stage_idx, '$name' AS stage,
         |       CAST(n_$i AS BIGINT) AS n_users,
         |       $conv AS conv_from_prev,
         |       $hrs AS avg_hours_from_prev FROM a""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
       |$chain,
       |u AS (SELECT user_id, $uCols FROM s${st.length - 1} GROUP BY 1),
       |a AS (SELECT $aCols FROM u)
       |$branches""".stripMargin
  }

  /** q152's fixed-point PageRank iterations as generated CTEs (the BPE
    * merge-round precedent): rank in integer micro-units, every step
    * `//`-floored on positive operands — bit-identical to the engine's
    * `div`-truncated longs. Mirrors [[graft.operators.Graph
    * .pageRankIntScaled]] at damp 85/100, scale 10⁶.
    */
  protected def pagerankCtes(
      iters: Int,
      nodesSql: String = "SELECT doc_id AS id FROM documents",
      p: String = "",
      seeded: Boolean = false): String = {
    // seeded = the q165 TrustRank replay: nodesSql must then provide
    // (id, sd); seeds start at scale and take the base term, non-seeds
    // start at 0 and receive only propagated mass
    val init =
      if (seeded) "CASE WHEN n0.sd THEN CAST(1000000 AS BIGINT) " +
        "ELSE CAST(0 AS BIGINT) END"
      else "CAST(1000000 AS BIGINT)"
    val baseTerm =
      if (seeded) "(CASE WHEN n.sd THEN 150000 ELSE 0 END)" else "150000"
    val head =
      s"""${p}outdeg AS (
         |  SELECT src, CAST(count(*) AS BIGINT) AS od FROM edges GROUP BY 1),
         |${p}eo AS (SELECT e.src, e.dst, o.od
         |       FROM edges e JOIN ${p}outdeg o ON o.src = e.src),
         |${p}r0 AS (SELECT id, $init AS pr
         |       FROM ($nodesSql) n0),
         |""".stripMargin
    val its = (1 to iters).map { i =>
      s"""${p}c$i AS (SELECT eo.dst AS id, r.pr // eo.od AS c
         |  FROM ${p}eo eo JOIN ${p}r${i - 1} r ON r.id = eo.src),
         |${p}s$i AS (SELECT id, CAST(sum(c) AS BIGINT) AS insum
         |  FROM ${p}c$i GROUP BY 1),
         |${p}r$i AS (SELECT n.id,
         |    CAST($baseTerm + (85 * coalesce(s.insum, 0)) // 100 AS BIGINT) AS pr
         |  FROM ($nodesSql) n
         |  LEFT JOIN ${p}s$i s ON s.id = n.id),
         |""".stripMargin
    }.mkString
    head + its
  }

  /** q167's generated peeling rounds over the symmetric `edges` CTE
    * (the pagerankCtes discipline applied to k-core): round i keeps
    * nodes whose degree in ke(i−1) is ≥ k and restricts the edge list
    * to kept endpoints.
    */
  protected def kcoreCtes(rounds: Int, k: Int): String = {
    val head = "ke0 AS (SELECT src, dst FROM edges),\n"
    val its = (1 to rounds).map { i =>
      s"""kd$i AS (SELECT src, count(*) AS d FROM ke${i - 1} GROUP BY 1),
         |kn$i AS (SELECT src AS n FROM kd$i WHERE d >= $k),
         |ke$i AS (SELECT e.src, e.dst FROM ke${i - 1} e
         |         JOIN kn$i a ON a.n = e.src
         |         JOIN kn$i b ON b.n = e.dst),
         |""".stripMargin
    }.mkString
    head + its
  }

  /** q172's generated label-propagation rounds over the symmetric
    * `edges` CTE: round i votes each node's neighbor labels and keeps
    * (max count, min label) — the deterministic synchronous LPA the
    * engine runs; the oracle may use a window (its shape is
    * unconstrained), the engine votes via a map-side aggregate.
    */
  protected def lpaCtes(rounds: Int): String = {
    val head = "lp0 AS (SELECT DISTINCT src AS id, src AS lbl FROM edges),\n"
    val its = (1 to rounds).map { i =>
      s"""lv$i AS (SELECT e.dst AS id, l.lbl, CAST(count(*) AS BIGINT) AS c
         |  FROM edges e JOIN lp${i - 1} l ON l.id = e.src GROUP BY 1, 2),
         |lp$i AS (SELECT id, lbl FROM (
         |  SELECT id, lbl, row_number() OVER (PARTITION BY id
         |    ORDER BY c DESC, lbl ASC) AS rn FROM lv$i) WHERE rn = 1),
         |""".stripMargin
    }.mkString
    head + its
  }

  /** q86's band CTEs: the q11/lshCtes construction with `source` carried
    * through so the corpus/incoming split can happen after banding.
    */
  protected val incrementalBandsSql: String = {
    val bandSelects = (0 until Dedup.LshBands).map { b =>
      val idx = (1 to Dedup.LshRows).map(r => s"sig[${b * Dedup.LshRows + r}]")
      s"SELECT doc_id, source, $b AS band_idx, " +
        s"md5(${idx.mkString(" || '|' || ")}) AS band_hash FROM sig"
    }
    s"""toks AS (
       |  SELECT doc_id, text, source, string_split(text, ' ') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, source, list_transform(range(1, len(toks) - 1),
       |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
       |  FROM toks),
       |sig AS (
       |  SELECT doc_id, source, list_transform(range(0, ${Dedup.MinhashK}),
       |           j -> list_min(list_transform(sh,
       |                  s -> md5(j::VARCHAR || '|' || s)))) AS sig
       |  FROM sh WHERE len(sh) > 0),
       |bands_raw AS (
       |${bandSelects.mkString("  ", "\n  UNION ALL ", "")}),
       |""".stripMargin
  }

  /** [[operators.Similarity.srpPlanes]] rendered as DuckDB VALUES rows —
    * the oracle scores against the exact constants the engine uses.
    */
  protected def srpPlanesSql: String =
    operators.Similarity.srpPlanes.take(operators.Similarity.SrpBits)
      .zipWithIndex.map { case (pl, b) =>
        s"  ($b, [${pl.map(v => if (v > 0) "1.0" else "-1.0").mkString(", ")}])"
      }.mkString(",\n")

  /** Double-precision cosine SQL over two float-list expressions (widened
    * to double), mirroring [[Similarity.cosine]].
    */
  protected def cosineSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(range(1, len($x) + 1), i -> ($x[i]::DOUBLE) * ($y[i]::DOUBLE)))"
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
  }

  protected val moduleOutSql =
    "w_start, panel, module, m_cnt, round(m_sum_power, 4) AS m_sum_power, m_avg_power"
  protected val panelFinalOutSql =
    "p_cnt, round(p_sum_power, 4) AS p_sum_power, p_avg_power, " +
      "round(squares_sum, 4) AS squares_sum, round(variance, 4) AS variance, deviance"

}
