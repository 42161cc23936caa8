package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators: the composition layer a large-scale
  * LLM-data pipeline runs after the per-document analyses — language +
  * quality filtering with exact-dedup survivor selection, deterministic
  * sampling (stratified, fixed-size, temperature-weighted with true
  * upsampling, token-budget), benchmark decontamination, sequence
  * packing, and epoch shuffling.
  *
  * Scale design rules shared by everything here:
  *  - analyses fuse into the corpus scan (pred_lang, quality, fingerprint
  *    are whole-stage-codegen projections — see [[TextAnalysis.predLang]]
  *    /[[TextAnalysis.qualityScore]]); [[curate]] adds exactly one
  *    shuffle on the 8-byte fp64 fingerprint for the survivor aggregate —
  *    joining the analysis operators' outputs by doc_id instead would
  *    scan and shuffle the corpus three times for the same answer;
  *  - every sampling coin is a content hash ([[hashBucket]]):
  *    deterministic, rerun/retry-stable, joinable, engine-portable;
  *  - per-group stats relations are #groups-sized aggregates that
  *    broadcast back (safe by construction), never corpus-sized;
  *  - running sums shard two-level ((key, hash-block) windows + a
  *    broadcast prefix stitch) instead of serializing a global order.
  */
object Curation {

  /** Curated corpus: exact-dedup canonical survivors (smallest doc_id per
    * content fingerprint, chosen over the FULL corpus before any filter so
    * the survivor does not depend on filter order), restricted to the
    * requested language at or above the quality floor. `dup_cnt` carries
    * how many raw documents the surviving row represents.
    *
    * Survivor selection is a map-side-combining `groupBy(fp64)` with the
    * survivor row carried as `min(struct(doc_id, …))` — doc_id leads the
    * struct and is unique, so the lexicographic struct minimum IS the
    * min-doc_id row — NOT a window over fp64 (VERDICT r6 #1): an
    * unordered window buffers the whole fingerprint group in one
    * `WindowExec` task, and a viral exact-duplicate document (boilerplate
    * pages, near-empty docs — exactly what dedup exists to catch) would
    * funnel millions of identical-fp rows through it at 100 TB. The
    * aggregate partial-aggregates per map task (a hot fingerprint
    * collapses to one (struct, count) partial per map task before the
    * exchange), keeps the operator at ONE corpus scan and ONE 8-byte-key
    * shuffle, and needs no join back. Same output bit-for-bit
    * (PlanShapeSpec pins the window-free plan).
    *
    * INVARIANT: `doc_id` must be non-null (true of every graft source —
    * it is the primary key). `min(struct(...))` sorts a null doc_id
    * FIRST, so a null-id row would win its fingerprint group here,
    * where a null-ignoring `min(doc_id)` window would have dropped it;
    * a corpus with nullable ids needs a null policy decided upstream.
    */
  def curate(docs: DataFrame, lang: String, minQuality: Double): DataFrame = {
    docs.select(
        col("doc_id"),
        TextAnalysis.predLang(col("text")).as("pred_lang"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        size(TextAnalysis.tokens(col("text"))).as("n_words"),
        TextAnalysis.fp64Expr(col("text")).as("fp64"))
      .groupBy(col("fp64"))
      .agg(min(struct(col("doc_id"), col("pred_lang"), col("quality"),
        col("n_words"))).as("s"), count(lit(1)).as("dup_cnt"))
      .select(col("s.doc_id").as("doc_id"), col("s.pred_lang").as("pred_lang"),
        col("s.quality").as("quality"), col("s.n_words").as("n_words"),
        col("dup_cnt"))
      .filter(col("pred_lang") === lang && col("quality") >= minQuality)
  }

  /** Deterministic hash bucket 0..99 from the md5 of the stringified id —
    * the engine-portable sampling coin: stable across runs, partitions,
    * and engines (DuckDB replays it as
    * `('0x' || substr(md5(id::VARCHAR), 1, 4))::INT % 100`).
    */
  def hashBucket(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("int") % 100

  /** Deterministic train/validation/test assignment: the content-hash
    * coin ([[hashBucket]]) routes each document to a split, so the
    * partition is reproducible across reruns and engines, documents never
    * migrate between splits when the corpus grows (adding docs never
    * changes an existing doc's bucket — the property "random split per
    * snapshot" lacks, and the reason eval sets stay uncontaminated across
    * corpus versions), and strata stay proportional in expectation within
    * every language. Pure projection: scan-fused, zero shuffle (q54's
    * shape).
    */
  def splitAssign(docs: DataFrame, valPct: Int = 10, testPct: Int = 10): DataFrame = {
    require(valPct + testPct < 100, "val + test must leave room for train")
    docs.select(col("doc_id"),
        TextAnalysis.predLang(col("text")).as("pred_lang"),
        hashBucket(col("doc_id")).as("bucket"))
      .select(col("doc_id"), col("pred_lang"),
        when(col("bucket") < testPct, lit("test"))
          .when(col("bucket") < testPct + valPct, lit("val"))
          .otherwise(lit("train")).as("split"))
  }

  /** Fixed-size deterministic sample per stratum: the k documents with
    * the smallest md5(doc_id) in each predicted language — the "show me
    * k examples per slice" primitive. Hash-priority selection is a
    * single-pass distributed reservoir: Spark executes the ranking window
    * as WindowGroupLimit (per-partition top-k heaps before the shuffle),
    * so the full stratum never sorts.
    */
  def fixedSizeSample(docs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("pred_lang"))
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    docs.select(col("doc_id"),
        TextAnalysis.predLang(col("text")).as("pred_lang"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Stratified sampling by predicted language: each stratum keeps the
    * documents whose hash bucket falls under its percentage (`rates`,
    * else `defaultPct`). Content-hash sampling beats `rand()` at scale:
    * it is reproducible (reruns and retried tasks sample identically,
    * which exactly-once sinks need), joinable (two tables sampled on the
    * same key stay aligned), and engine-portable for the oracle. One
    * projection + filter, no shuffle at all.
    */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Int],
                       defaultPct: Int): DataFrame = {
    val pct = rates.foldLeft(lit(defaultPct)) { case (e, (l, p)) =>
      when(col("pred_lang") === l, lit(p)).otherwise(e)
    }
    docs.select(
        col("doc_id"),
        TextAnalysis.predLang(col("text")).as("pred_lang"),
        hashBucket(col("doc_id")).as("bucket"))
      .filter(col("bucket") < pct)
  }

  /** Benchmark-contamination check (the GPT-3 appendix-C decontamination
    * shape): every training document is scored by the fraction of its
    * distinct word n-grams that also appear in a held-out benchmark split
    * (here: the documents whose `source` equals `benchSource`).
    *
    * Scale design: both sides collapse to DISTINCT n-gram fingerprints
    * before the join — a 60-bit md5 projection of the gram, so the shuffle
    * carries 8-byte keys instead of n-word strings (the portable-hash trick
    * [[TextAnalysis.fp64Expr]] uses for whole documents; md5 keeps the
    * DuckDB oracle bit-identical, a production pipeline would use
    * xxhash64). The join is a plain equi-join on that key — partitioned,
    * no NLJ — and the per-document rollup is the immediate next aggregate,
    * so shuffled volume is distinct (doc, gram) pairs. Documents shorter
    * than `n` words carry a NULL fraction (no grams to test) and are never
    * flagged.
    */
  def contaminationCheck(docs: DataFrame, benchSource: String, n: Int = 5,
                         flagThreshold: Double = 0.2): DataFrame = {
    def grams(d: DataFrame) = d.select(
      col("doc_id"),
      explode(array_distinct(graft.functions.TextFunctions
        .word_shingles(lower(col("text")), n))).as("g"))
      .select(col("doc_id"),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("gh"))
    val bench = grams(docs.filter(col("source") === benchSource))
      .select(col("gh")).distinct()
    val train = docs.filter(col("source") =!= benchSource)
    val stats = grams(train)
      .join(bench.withColumn("hit", lit(1)), Seq("gh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
    train.select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        graft.functions.AggFunctions.ratioQ(
          col("n_hit"), col("n_grams"), 4).as("contam_frac"))
      .withColumn("flagged",
        when(col("contam_frac") >= flagThreshold, 1).otherwise(0))
  }

  /** Default per-language block fan-out for [[packStage]], mirrored in
    * the q77 oracle SQL.
    */
  val DefaultPackBlocks = 16

  /** Sequence packing (the concat-and-slice pretraining shape): documents
    * are laid end-to-end in deterministic (lang, block, doc_id) order and
    * sliced into fixed-capacity context windows; each document reports the
    * sequence it starts in, its token offset there, and whether it spills
    * across the boundary into the next sequence.
    *
    * Scale design — two-level packing (VERDICT r5 #1): a GLOBAL concat
    * order would serialize the corpus through one partition, and a
    * per-`lang` window is barely better — parallelism capped at the number
    * of languages, with the dominant language (routinely >40% of a
    * pretraining corpus) sorting through ONE task. So the running sum is
    * sharded by (lang, block), block = a deterministic md5 bucket of the
    * doc_id: `nBlocks` parallel windows per language, each a bounded
    * ~1/nBlocks slice regardless of language skew. Block-local offsets are
    * then stitched into global positions with a per-(lang, block) token
    * total — an aggregate of exactly #langs × nBlocks rows, broadcast back
    * (safe by construction: its size is set by the parameters, not the
    * data). The result is bit-identical to a single window ordered by
    * (block, doc_id): deterministic, integer-exact, and parallel in the
    * block count. Raise `nBlocks` with the cluster, not the data — each
    * block still streams through one task, so size blocks to executors.
    */
  def packStage(docs: DataFrame, ctxTokens: Int = 256,
                nBlocks: Int = DefaultPackBlocks): Stage = {
    // materialized (r20, was lazily persisted): the window branch and the
    // block-total branch both consume it in ONE action, and a lazy cache
    // is raced by the two concurrent stages — each re-tokenizing the
    // corpus (see [[Stages.materialized]])
    val base = Stages.materialized(
      docs.select(col("doc_id"), col("lang"),
        size(TextAnalysis.tokens(col("text"))).as("n_tokens"),
        packBlock(nBlocks)))
    Stage(packFromBase(base, ctxTokens), Seq(base))
  }

  /** The deterministic md5 block bucket of `doc_id` — the per-language
    * shard key of the two-level packing order.
    */
  private def packBlock(nBlocks: Int): org.apache.spark.sql.Column =
    (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("int") % nBlocks).as("block")

  /** Packing over a PRE-COMPUTED `(doc_id, lang, n_tokens, block)` base —
    * the shared body of [[packStage]], also fed directly by
    * [[curationDagStage]] from its one-scan projection (token counts are
    * already in hand there; re-tokenizing would double-scan the text).
    * The base must be cached or cheap: the block-total branch and the
    * window branch both read it.
    */
  private[graft] def packFromBase(base: DataFrame,
                                  ctxTokens: Int): DataFrame = {
    val wIn = Window.partitionBy(col("lang"), col("block"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wBlk = Window.partitionBy(col("lang")).orderBy(col("block"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val blockOffsets = base.groupBy(col("lang"), col("block"))
      .agg(sum(col("n_tokens")).as("blk_tokens"))
      .withColumn("blk_before",
        coalesce(sum(col("blk_tokens")).over(wBlk), lit(0L)))
      .select(col("lang"), col("block"), col("blk_before"))
    base
      .withColumn("cum_in_block",
        coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      // broadcast is safe by construction: #langs × nBlocks rows
      .join(broadcast(blockOffsets), Seq("lang", "block"))
      .withColumn("cum_before", col("blk_before") + col("cum_in_block"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_before"),
        floor(col("cum_before") / ctxTokens).cast("long").as("seq_id"),
        (col("cum_before") % ctxTokens).as("offset"),
        (col("cum_before") % ctxTokens + col("n_tokens") > ctxTokens)
          .cast("int").as("spans_boundary"))
  }

  /** Token-budget corpus selection — "take the best documents until the
    * token budget is spent", the data-mixing primitive behind quality-
    * thresholded pretraining sets. Selecting a global quality-ordered
    * prefix with one running sum would serialize the corpus through a
    * single task (the same pathology VERDICT r5 #1 flagged for packing),
    * so the cutoff is found bucket-wise:
    *
    *  1. quality scores bucket into ⌊q·100⌋ integer buckets (quality is
    *     rounded to 4 decimals, so the bucket is deterministic);
    *  2. a #buckets-row aggregate (≤ ~101 rows, broadcastable by
    *     construction) carries per-bucket token totals, and a prefix sum
    *     in DESCENDING bucket order finds the boundary bucket — every
    *     better bucket is taken whole, every worse bucket dropped whole;
    *  3. only the boundary bucket pays a running sum, and even that sum
    *     is two-level (the [[packStage]] pattern, VERDICT r16 #1): the
    *     bucket shards into [[DefaultPackBlocks]] md5 blocks of doc_id,
    *     each block runs its own partitioned window, and block-local
    *     offsets stitch with a broadcast ≤#blocks-row prefix aggregate —
    *     bit-identical to ONE window ordered by (block, doc_id), but no
    *     task ever owns more than ~1/(#buckets·#blocks) of the corpus.
    *
    * Documents with NULL quality (empty text) are never selected. All
    * cumulative arithmetic is integer token counts — bit-stable under any
    * execution order, hash-gateable cross-engine.
    *
    * The scored projection feeds the bucket histogram, the whole-bucket
    * branch and the boundary-bucket branch, so it persists once instead
    * of scanning (and re-scoring) the corpus three times.
    */
  def budgetStage(docs: DataFrame, budgetTokens: Long): Stage = {
    // lazily persisted: budgetFromEnriched's whole-bucket and boundary
    // branches both wait on the BROADCAST bucket histogram, whose own
    // aggregate is the single leaf exchange over this relation — the
    // first action populates the cache with no racing consumer
    val enriched = Stages.persisted(docs.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).as("n_tokens"),
        TextAnalysis.qualityScore(col("text")).as("q"))
      .filter(col("q").isNotNull)
      .withColumn("qb", floor(col("q") * 100).cast("int")))
    Stage(budgetFromEnriched(enriched, budgetTokens), Seq(enriched))
  }

  /** Budget selection over a PRE-COMPUTED `(doc_id, n_tokens, q, qb)`
    * relation — the shared body of [[budgetStage]], also fed directly by
    * [[curationDagStage]] from its one-scan projection. The input must be
    * cached or cheap: the bucket histogram, the whole-bucket branch, and
    * the boundary branch all read it.
    */
  private[graft] def budgetFromEnriched(enriched: DataFrame,
                                        budgetTokens: Long): DataFrame = {
    // #buckets rows (<= ~101): the descending prefix is computed INSIDE
    // one collected array via higher-order functions — O(#buckets²)
    // scalar work on a single bounded row, no unpartitioned WindowExec
    // (its "moving all data to a single partition" warning was benign
    // here but buried real warnings in the bench tail — VERDICT r16 #6)
    val bucketArr = enriched.groupBy(col("qb"))
      .agg(sum(col("n_tokens")).as("b_tokens"))
      .agg(collect_list(struct(col("qb"), col("b_tokens"))).as("bs"))
    val buckets = bucketArr
      .select(explode(col("bs")).as("x"), col("bs"))
      .select(col("x.qb").as("qb"), col("x.b_tokens").as("b_tokens"),
        aggregate(
          filter(col("bs"), b => b.getField("qb") > col("x.qb")),
          lit(0L), (acc, b) => acc + b.getField("b_tokens"))
          .as("cum_before"))
    val joined = enriched.join(broadcast(buckets), "qb")
    // better buckets are taken whole — NO window touches them
    val whole = joined
      .filter(col("cum_before") + col("b_tokens") <= budgetTokens)
    // only the boundary bucket pays a running sum, and it is two-level
    // (the packFromBase pattern): per-(qb, block) partitioned windows
    // stitched by a broadcast blocks-row prefix — bit-identical to one
    // window ordered by (block, doc_id) inside the bucket, with the
    // filters BELOW the windows so their input really is just the
    // boundary bucket's ~1/#buckets slice, split ~1/#blocks per task
    val bounded = joined
      .filter(col("cum_before") < budgetTokens &&
        col("cum_before") + col("b_tokens") > budgetTokens)
      .select(joined.columns.map(col) :+ packBlock(DefaultPackBlocks): _*)
    val wInBlock = Window.partitionBy(col("qb"), col("block"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wBlk = Window.partitionBy(col("qb")).orderBy(col("block"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // ≤ #blocks rows per boundary bucket — broadcast by construction
    val blkOffsets = bounded.groupBy(col("qb"), col("block"))
      .agg(sum(col("n_tokens")).as("blk_tokens"))
      .withColumn("blk_before",
        coalesce(sum(col("blk_tokens")).over(wBlk), lit(0L)))
      .select(col("qb"), col("block"), col("blk_before"))
    val boundary = bounded
      .withColumn("cum_in_block",
        coalesce(sum(col("n_tokens")).over(wInBlock), lit(0L)))
      .join(broadcast(blkOffsets), Seq("qb", "block"))
      .filter(col("cum_before") + col("blk_before") + col("cum_in_block")
        + col("n_tokens") <= budgetTokens)
      .select(col("doc_id"), col("q"), col("qb"), col("n_tokens"))
    whole.select(col("doc_id"), col("q"), col("qb"), col("n_tokens"))
      .union(boundary)
  }

  /** Deterministic epoch shuffle — the "reshuffle the corpus differently
    * every epoch, reproducibly" primitive a training data-loader needs:
    * shard = md5(epoch ⊕ doc_id) mod nShards, position within the shard =
    * rank of the same hash. Every epoch permutes both assignments and
    * order; any rerun of the same epoch replays them bit-for-bit (retried
    * tasks and exactly-once sinks see identical rows).
    *
    * Scale — two-level ranking (the [[packStage]] pattern): a plain
    * per-shard `row_number` would sort each shard through ONE task, and
    * nShards is sized to data-loader workers, not the cluster. So ranks
    * are computed per (shard, block) — block from the next md5 digits —
    * and stitched with a broadcast #shards×nBlocks prefix-count
    * aggregate: pos = ranks of earlier blocks + rank within the block.
    * That equals a single rank ordered by (block, h, doc_id) — blocks are
    * hash digits, so the permutation is exactly as "shuffled" — while
    * every sort runs over ~corpus/(nShards·nBlocks) rows in parallel.
    */
  def epochShuffle(docs: DataFrame, epoch: Int, nShards: Int = 8,
                   nBlocks: Int = 16): DataFrame = {
    val h = md5(concat(lit(epoch.toString), lit("|"),
      col("doc_id").cast("string")))
    // base is doc_id-only (no text): the count branch below re-reads one
    // pruned parquet column + re-hashes — cheaper than caching it
    val base = docs.select(col("doc_id"), h.as("h"))
      .withColumn("shard",
        conv(substring(col("h"), 1, 4), 16, 10).cast("int") % nShards)
      .withColumn("block",
        conv(substring(col("h"), 5, 4), 16, 10).cast("int") % nBlocks)
    val wIn = Window.partitionBy(col("shard"), col("block"))
      .orderBy(col("h"), col("doc_id"))
    val wBlk = Window.partitionBy(col("shard")).orderBy(col("block"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // broadcast is safe by construction: nShards × nBlocks rows
    val offsets = base.groupBy(col("shard"), col("block"))
      .agg(count(lit(1)).as("blk_n"))
      .withColumn("blk_before",
        coalesce(sum(col("blk_n")).over(wBlk), lit(0L)))
      .select(col("shard"), col("block"), col("blk_before"))
    base
      .withColumn("rank_in_block", row_number().over(wIn))
      .join(broadcast(offsets), Seq("shard", "block"))
      .select(col("doc_id"), col("shard"),
        (col("blk_before") + col("rank_in_block")).cast("int").as("pos"))
  }

  /** Temperature-based domain rebalancing (the multilingual-pretraining
    * sampling rule, alpha = 0.5): stratum l with n_l documents gets target
    * share w_l = sqrt(n_l) / Σ sqrt(n_m) — upsampling small domains,
    * flattening large ones — and the corpus is resampled to
    * `targetFrac`·N documents distributed by those weights.
    *
    * TRUE upsampling (VERDICT r5 #5): a domain whose acceptance percentage
    * exceeds 100 emits ⌊pct/100⌋ deterministic copies of every document,
    * plus one more when the [[hashBucket]] coin lands under the remainder
    * — so tiny domains really are upweighted, which is half the point of
    * temperature sampling. The copy index is part of the output key
    * (downstream shuffles spread copies like any other row; a training
    * pipeline shuffles sequences anyway). pct < 100 degenerates to the
    * plain accept/reject coin (0 or 1 copies).
    *
    * The coin is deterministic, rerun-stable, and engine-portable. sqrt
    * (not a general pow) keeps alpha=0.5 IEEE-exact in both engines, and
    * the percentage is rounded to 6 decimals before flooring so a
    * last-ulp difference in the cross-engine Σ sqrt(n_m) aggregation order
    * cannot flip the floor.
    *
    * One corpus scan for the counts (a #domains-row aggregate), one for
    * the resample; the probabilities join back by domain — a relation of
    * #domains rows that AQE broadcasts from stats, no hint needed. The
    * explode fans out ⌈pct/100⌉ rows per document — exactly the output
    * volume, nothing amplified beyond what was asked for.
    */
  def temperatureResample(docs: DataFrame, targetFrac: Double = 0.5): DataFrame = {
    val byLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
    val tot = byLang.agg(sum(sqrt(col("n_l"))).as("sum_sqrt"),
      sum(col("n_l")).as("n_total"))
    val probs = byLang
      .crossJoin(broadcast(tot)) // one row by construction: global aggregate
      .select(col("lang"), col("n_l"),
        floor(round(
          lit(100.0 * targetFrac) * col("n_total") /
            (col("sum_sqrt") * sqrt(col("n_l"))), 6)).cast("int")
          .as("accept_pct"))
    docs.select(col("doc_id"), col("lang"),
        hashBucket(col("doc_id")).as("bucket"))
      .join(probs, "lang")
      .withColumn("copies",
        floor(col("accept_pct") / 100).cast("int") +
          when(col("bucket") < col("accept_pct") % 100, 1).otherwise(0))
      // guard BEFORE sequence(): sequence(1, 0) is the DESCENDING [1, 0]
      .filter(col("copies") >= 1)
      .select(col("doc_id"), col("lang"), col("bucket"),
        col("accept_pct"), col("n_l"),
        explode(sequence(lit(1), col("copies"))).as("copy_idx"))
  }

  /** Per-source quality percentile (midrank): each document's quality
    * score normalized to its SOURCE's distribution — the calibration step
    * before any cross-source selection (q80's budget, q54's sampling), so
    * a threshold means "top X% of the crawl it came from" rather than
    * letting one clean source crowd out every other ("quality" heuristics
    * are source-relative: boilerplate-heavy sources score structurally
    * lower). pct = (rank_below + ties/2) / n, the standard midrank.
    *
    * Scale shape: the quality score is rounded to 4 decimals, so the
    * per-source distribution collapses to a (source, quality) HISTOGRAM —
    * ≤ #sources × 10⁴ rows by construction. The cumulative window runs
    * over that metadata-sized relation ONLY (the vocabCoverageStage
    * discipline: windows over bounded model relations, never the corpus);
    * per-source totals are an aggregate join, and docs pick up their
    * percentile by a broadcast-able (source, quality) equi-join. The
    * scored projection persists — it feeds both the histogram fold and
    * the join probe, and without the cache the text scan + kernels would
    * run twice.
    *
    * NULL quality (empty text) is filtered up front: such docs can't
    * carry a percentile (the equi-join would drop them anyway, in both
    * engines), and a NULL histogram row would sit at OPPOSITE ends of
    * the cumulative window's ordering in Spark (NULLS FIRST) vs the
    * DuckDB oracle (NULLS LAST), shifting every other percentile in the
    * source by the null count.
    */
  def qualityPercentileStage(docs: DataFrame): Stage = {
    // kernel counts materialize as attributes BEFORE the quality
    // formula so each text kernel runs exactly once per row —
    // CollapseProject will not re-inline non-cheap expressions the
    // formula references several times (same discipline as
    // Dedup.verifyPairs, ADVICE r18)
    val txt = lower(col("text"))
    val counts = docs.select(col("doc_id"), col("source"),
      length(col("text")).as("c"),
      size(TextAnalysis.tokens(col("text"))).as("w"),
      graft.functions.TextFunctions.punct_count(txt).as("p"),
      TextAnalysis.stopwordCount(TextAnalysis.tokens(txt),
        TextAnalysis.StopwordDicts.head._2).as("s"))
    // lazily persisted: with the histogram join-back BROADCAST (r20),
    // the join probe waits on the broadcast built from the histogram, so
    // the histogram's exchange is the single leaf over this relation —
    // the first action populates the cache with no racing consumer and
    // no extra count job is needed
    val scored = Stages.persisted(counts.select(col("doc_id"), col("source"),
        TextAnalysis.qualityExpr(col("c"), col("w"), col("p"), col("s"))
          .as("quality"))
      .filter(col("quality").isNotNull))
    Stage(percentileFromScored(scored), Seq(scored))
  }

  /** Percentiles over a PRE-COMPUTED non-null `(doc_id, source, quality)`
    * relation — the shared body of [[qualityPercentileStage]], also fed
    * directly by [[curationDagStage]] from its one-scan projection. The
    * input must be cached or cheap: the histogram fold and the join probe
    * both read it.
    */
  private[graft] def percentileFromScored(scored: DataFrame): DataFrame = {
    val h = scored.groupBy(col("source"), col("quality"))
      .agg(count(lit(1)).as("cnt"))
    val n = h.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
    val w = Window.partitionBy(col("source")).orderBy(col("quality"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hh = h.withColumn("cum", sum(col("cnt")).over(w)).join(n, "source")
    // broadcast by construction (r20): hh is the (source, quality)
    // HISTOGRAM — ≤ #sources × 10⁴ rows (quality is rounded to 4
    // decimals) — so the corpus-sized probe side picks up its percentile
    // map-side instead of shuffling on (source, quality); size estimates
    // under the window/join made the planner miss this on its own
    scored.join(broadcast(hh), Seq("source", "quality"))
      .select(col("doc_id"), col("source"), col("quality"),
        // (cum - cnt/2)/n respelled (2·cum - cnt)/(2n): exact integer
        // rounding (ratioQ), same rational
        graft.functions.AggFunctions.ratioQ(
          col("cum") * 2 - col("cnt"), col("n") * 2, 4).as("pctl"))
  }

  /** The COMPOSED end-to-end curation DAG — the four-stage pipeline a
    * pretraining corpus actually runs as ONE job, gated as one query
    * (VERDICT r11 #4: each stage was hash-verified alone; this gates the
    * integration):
    *
    *  1. per-source quality percentile, keep pctl ≥ 0.5 (the top half of
    *     every source — [[qualityPercentileStage]] semantics);
    *  2. MinHash-LSH near-dup clustering over the KEPT subset (band cap
    *     and candidate pairs computed on the survivors of stage 1, not
    *     the full corpus), keep-best-quality survivor per cluster
    *     ([[Dedup.clusterSurvivors]]), drop the rest;
    *  3. token-budget selection at HALF the deduped corpus's token count
    *     (the budget derives from the data: one integer-sum aggregate to
    *     the driver, the same bounded-scalar division of labor as
    *     kmeansFit);
    *  4. two-level sequence packing of the selected docs
    *     ([[packStage]]).
    *
    * Scale shape: every stage keeps its own posture (capped band
    * equi-joins, log-round CC, bucket-wise budget cutoff, block-sharded
    * packing windows); the stitching adds only 8-byte-id joins, and all
    * four non-LSH stages read ONE shared kernel projection
    * `(doc_id, source, lang, quality, n_tokens)` — the corpus text is
    * scanned exactly twice (kernel projection + LSH shingling), where
    * the naive stage composition scans it five times. The dropped-id
    * relation is eagerly checkpointed so the LSH index and CC label
    * state release BEFORE the budget/packing stages run — peak cached
    * footprint is one stage's, not the whole DAG's (SURVEY.md's
    * "Round-11 composed-DAG probe": 1 M docs with zero cached RDDs
    * left). The handle owns the four cached relations and the dropped-id
    * checkpoint, which the result plan reads.
    */
  def curationDagStage(docs: DataFrame, ctxTokens: Int = 256): Stage = {
    // ONE kernel scan feeds the percentile histogram, the survivor
    // argmax, the budget selection, AND the packing base (the q53 fusion
    // discipline applied DAG-wide: composing the standalone stages would
    // pay the quality kernels three times and tokenize twice — at 100 TB
    // that is two avoidable corpus scans). The only other text pass is
    // the LSH shingling, which genuinely needs the text.
    // lazily persisted, populated by keptIds' count below: that job's
    // ONLY leaf exchange over this relation is the percentile histogram
    // (the join probe waits on the broadcast built from it), so the one
    // count fills both caches with zero racing — where the first action
    // used to race the histogram leaf against the survivor argmax leaf,
    // re-running the kernel scan (r20, see [[Stages.materialized]])
    val scored = Stages.persisted(docs.select(col("doc_id"),
        col("source"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        size(TextAnalysis.tokens(col("text"))).as("n_tokens")))
    // keptIds is consumed by the LSH input join (first action) AND the
    // deduped-corpus build (every later action) — uncached, the whole
    // percentile subtree (histogram aggregate + cumulative window + join
    // probe) re-executed per consumer; the 8-byte-id relation
    // materializes once (also populating `scored`, see above) and falls
    // to the session cache clear like the shared projection (r20)
    val keptIds = Stages.materialized(
      percentileFromScored(
        scored.filter(col("quality").isNotNull)
          .select(col("doc_id"), col("source"), col("quality")))
      .filter(col("pctl") >= 0.5).select("doc_id"))
    val st = Dedup.minhashNearDupsStage(docs.join(keptIds, "doc_id"),
      threshold = 0.5)
    val labels = Dedup.nearDupClusters(st.result)
    val surv = Dedup.survivorsFromScored(labels, scored)
    // dropped ids = clustered docs that are not their cluster's survivor —
    // an 8-byte-id relation, checkpointed eagerly so the band index and
    // CC checkpoint blocks can release before the budget stage scans
    val drop = labels.join(
        surv.select(col("survivor_id").as("doc_id")), Seq("doc_id"), "left_anti")
      .select("doc_id").localCheckpoint(true)
    st.unpersist(); Stages.releaseCheckpoint(labels)
    // persisted (review r12): the budget body reads its input three
    // times and the total/packing branches twice more — without the
    // cache, the percentile subtree under keptIds would re-execute per
    // consumer (budgetFromEnriched's contract: cached or cheap)
    val dd = Stages.persisted(scored.join(keptIds, "doc_id")
      .join(drop, Seq("doc_id"), "left_anti"))
    // sum over an EMPTY deduped relation is SQL NULL — an empty corpus
    // (or one that percentile-filters to nothing) must yield an empty
    // packing, not a driver NPE (DegenerateInputSpec)
    val total = Option(dd.agg(sum(col("n_tokens"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val selected = budgetFromEnriched(
        dd.filter(col("quality").isNotNull)
          .select(col("doc_id"), col("n_tokens"), col("quality").as("q"))
          .withColumn("qb", floor(col("q") * 100).cast("int")),
        total / 2)
      .select("doc_id")
    // materialized (r20): packFromBase's window leg and block-total leg
    // consume it concurrently in the result action — lazily persisted,
    // both recomputed the budget-selection subtree under the join
    val base = Stages.materialized(
      dd.join(selected, "doc_id")
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          packBlock(DefaultPackBlocks)))
    Stage(packFromBase(base, ctxTokens), Seq(scored, keptIds, dd, base),
      Seq(drop))
  }

  /** Source-mixture selection — the data-MIXING primitive that turns a
    * data-card review into a training set: given target token SHARES per
    * source and an output token budget, select documents until each
    * source's slice of the budget is spent. Selection within a source is
    * by the deterministic content-hash coin ([[hashBucket]]) — a
    * uniform-in-expectation sample that is reproducible, engine-portable,
    * and growth-stable (adding docs never changes an existing doc's
    * bucket), the q54 sampling coin applied to token accounting.
    *
    * Scale shape: the q80 bucket-wise cutoff PARTITIONED BY SOURCE — the
    * per-(source, bucket) token histogram is ≤ #sources × 100 rows
    * (broadcast by construction), whole buckets are taken or dropped
    * with NO window, and only each source's boundary bucket (~1% of its
    * docs) pays a doc_id-ordered running sum. Budgets are integer token
    * counts (`floor(budget · share)` computed once on the driver);
    * every cumulative comparison is integer arithmetic — hash-gateable
    * under any execution order. Sources absent from `targets` are
    * excluded (share 0).
    *
    * Shortfall accounting (VERDICT r12 #7): every selected row carries
    * its source's `budget`, `spent` (the source's total selected
    * tokens), and `unspent` — so a THIN source (fewer tokens than its
    * share allocates) cannot silently shrink the mix: its rows arrive
    * with `unspent` far above the ≤ max-doc-tokens boundary remainder a
    * healthy source shows, and the consumer decides whether to
    * redistribute, top up, or accept. The semantics stay
    * no-redistribution by design (redistributing inside the operator
    * would silently change the MIX — the thing the targets specify);
    * [[mixAccounting]] is the per-source report form, which also covers
    * the only case row-riding accounting cannot (a target source that
    * selected ZERO rows appears there with spent = 0).
    */
  def mixToTargets(docs: DataFrame, targets: Map[String, Double],
                   budgetTokens: Long): DataFrame = {
    // the selection subtree feeds both the spent aggregate and the row
    // side — persisted so the window-cascade selection runs ONCE
    // (review r13; released by the session's clearCache like the other
    // one-shot stages)
    val sel = Stages.persisted(mixSelected(docs, targets, budgetTokens))
    val spent = sel.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("spent"))
    sel.join(broadcast(spent), "source")
      .select(col("doc_id"), col("source"), col("n_tokens"), col("hb"),
        col("budget"), col("spent"),
        (col("budget") - col("spent")).as("unspent"))
  }

  /** Per-source accounting of a [[mixToTargets]] run: one row per TARGET
    * source — including a source that selected nothing (thin to the point
    * of empty, or absent from the corpus entirely), which the row-riding
    * accounting on the selection output structurally cannot show. All
    * metadata-sized (≤ #targets rows).
    */
  def mixAccounting(docs: DataFrame, targets: Map[String, Double],
                    budgetTokens: Long): DataFrame = {
    val sel = mixSelected(docs, targets, budgetTokens)
    val spark = docs.sparkSession
    import spark.implicits._
    val budgets = targets.toSeq.sorted
      .map { case (s, share) => (s, math.floor(budgetTokens * share).toLong) }
      .toDF("source", "budget")
    budgets
      .join(sel.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("spent")),
        Seq("source"), "left")
      .select(col("source"), col("budget"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("spent"), lit(0L)).as("spent"),
        (col("budget") - coalesce(col("spent"), lit(0L))).as("unspent"))
  }

  /** The selection core shared by [[mixToTargets]] and [[mixAccounting]]:
    * (doc_id, source, n_tokens, hb, budget) for every selected document.
    */
  private def mixSelected(docs: DataFrame, targets: Map[String, Double],
                          budgetTokens: Long): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ >= 0.0))
    val spark = docs.sparkSession
    import spark.implicits._
    val budgets = targets.toSeq.sorted
      .map { case (s, share) => (s, math.floor(budgetTokens * share).toLong) }
      .toDF("source", "budget")
    val e = Stages.persisted(docs.select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).as("n_tokens"),
        hashBucket(col("doc_id")).as("hb"))
      .join(broadcast(budgets), "source"))
    val wB = Window.partitionBy(col("source")).orderBy(col("hb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val b = e.groupBy(col("source"), col("hb"))
      .agg(sum(col("n_tokens")).as("b_tokens"))
      .withColumn("cum_before",
        coalesce(sum(col("b_tokens")).over(wB), lit(0L)))
    val j = e.join(broadcast(b), Seq("source", "hb"))
    val whole = j.filter(col("cum_before") + col("b_tokens") <= col("budget"))
    val wIn = Window.partitionBy(col("source"), col("hb"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val boundary = j
      .filter(col("cum_before") < col("budget") &&
        col("cum_before") + col("b_tokens") > col("budget"))
      .withColumn("cum_in",
        coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .filter(col("cum_before") + col("cum_in") + col("n_tokens")
        <= col("budget"))
      .drop("cum_in")
    whole.union(boundary)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("hb"),
        col("budget"))
  }

  /** Corpus snapshot merge — the daily-refresh upsert a living corpus
    * runs (Delta/Iceberg MERGE INTO semantics, expressed engine-side):
    * incoming documents replace same-id existing ones, new ids insert,
    * untouched existing rows carry forward, and every output row is
    * tagged with WHAT happened to it — `insert` (new id), `rewrite`
    * (id exists, normalized content changed), `refresh` (id re-delivered
    * with identical content — the no-op re-crawl a pipeline wants to
    * COUNT but not re-process), `carry` (existing, not in the batch).
    * The change column is what makes the merge auditable: downstream
    * incremental jobs re-run only over `insert`/`rewrite` rows.
    *
    * Scale shape: at 100 TB the incoming batch is orders of magnitude
    * smaller than the corpus, and EVERY join here keeps the corpus on
    * the streamed side with a batch-derived broadcast on the other
    * (review r12: a naive `incoming LEFT JOIN corpus-fp` cannot
    * broadcast its small preserved side — outer joins only broadcast
    * the non-preserved one — so it would shuffle the corpus; instead,
    * the intersection classes come from `corpus-fp INNER JOIN
    * broadcast(batch-fp)` — inner joins broadcast freely — and both the
    * carry anti-join and the final class attachment broadcast
    * batch-sized relations). Content comparison is the scan-fused
    * 60-bit normalized fingerprint — text never keys a shuffle and the
    * corpus never does either.
    */
  def mergeCorpus(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val incFp = incoming.select(col("doc_id"),
      TextAnalysis.fp64Expr(col("text")).as("in_fp"))
    // intersection classification: corpus scan ⋈ broadcast batch fps —
    // result is batch-sized, so it broadcasts into the next join too
    val overlap = existing
      .select(col("doc_id"), TextAnalysis.fp64Expr(col("text")).as("ex_fp"))
      .join(broadcast(incFp), "doc_id")
      .select(col("doc_id"),
        when(col("in_fp") === col("ex_fp"), lit("refresh"))
          .otherwise(lit("rewrite")).as("overlap_change"))
    val classified = incoming
      .join(broadcast(overlap), Seq("doc_id"), "left")
      .withColumn("change", coalesce(col("overlap_change"), lit("insert")))
      .drop("overlap_change")
    val carried = existing
      .join(broadcast(incoming.select("doc_id")), Seq("doc_id"), "left_anti")
      .withColumn("change", lit("carry"))
    classified.unionByName(carried)
  }

  /** The (doc_id, fp) corpus-state artifact [[mergeCorpusIncremental]]
    * consumes and refreshes — 16 bytes per document, the relation a
    * production merge stores next to the corpus snapshot so the daily
    * refresh never re-fingerprints corpus text. [[mergeCorpus]] is the
    * bootstrap that implicitly computes exactly this from text; producing
    * it ONCE via this function and thereafter round-tripping it through
    * [[mergeCorpusIncremental]] keeps it current forever.
    */
  def corpusFingerprints(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"), TextAnalysis.fp64Expr(col("text")).as("fp"))

  /** Incremental-state corpus merge (VERDICT r12 #3 — retires
    * [[mergeCorpus]]'s per-merge full-text scan): classify the daily
    * batch against the STORED `(doc_id, fp)` artifact instead of
    * re-fingerprinting the corpus, and emit the refreshed artifact WITH
    * the change audit as one relation — `(doc_id, fp, change)` for every
    * document of the merged corpus. That is simultaneously (a) tomorrow's
    * corpus-state artifact (project fp), (b) the change feed incremental
    * downstream jobs re-run on (filter insert/rewrite), and (c) the audit
    * count source — all without the corpus text entering the plan at all
    * (carry rows exist in the snapshot store untouched; a MERGE INTO
    * rewrites only the change set).
    *
    * Bit-identical to the bootstrap path by construction: the artifact IS
    * `fp64Expr(text)` materialized, so every class decision compares the
    * same 60-bit values [[mergeCorpus]] computes inline (CurationSpec
    * pins the equivalence; the q128 plan pin proves no text column and no
    * fingerprint kernel touches the corpus side).
    *
    * Scale shape: the corpus side is 16-byte rows; the batch side
    * broadcasts twice (fp join for classes, id anti-join for carry),
    * exactly the [[mergeCorpus]] join discipline minus its text scan —
    * at 100 TB this turns the daily merge's dominant cost (a full-corpus
    * text scan) into a metadata-relation pass.
    */
  def mergeCorpusIncremental(incoming: DataFrame, corpusFps: DataFrame): DataFrame = {
    val incFp = incoming.select(col("doc_id"),
      TextAnalysis.fp64Expr(col("text")).as("fp"))
    val overlap = corpusFps
      .join(broadcast(incFp.select(col("doc_id"), col("fp").as("in_fp"))),
        "doc_id")
      .select(col("doc_id"),
        when(col("in_fp") === col("fp"), lit("refresh"))
          .otherwise(lit("rewrite")).as("overlap_change"))
    val batchRows = incFp
      .join(broadcast(overlap), Seq("doc_id"), "left")
      .select(col("doc_id"), col("fp"),
        coalesce(col("overlap_change"), lit("insert")).as("change"))
    val carried = corpusFps
      .join(broadcast(incoming.select("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("fp"), lit("carry").as("change"))
    batchRows.unionByName(carried)
  }

  /** Per-source data card — the dataset-datasheet row a source-mix
    * decision reads (Gebru et al., "Datasheets for Datasets", CACM 2021;
    * every serious pretraining corpus ships one per ingestion stream):
    * volume (docs, tokens, mean tokens/doc), exact-duplicate exposure
    * (docs whose normalized fingerprint repeats corpus-wide — the q10
    * family's definition), quality (share of docs at/above the
    * [[QualityModel.HeuristicLabelThreshold]] bar), and language
    * (majority predicted language and its share).
    *
    * Determinism: every reported number derives from INTEGER counts
    * (rounded at 4 where a ratio) — no parallel double sum ever reaches
    * the output, so the hash gate cannot flake on summation order (the
    * q117 boundary-hazard lesson applied preemptively: a mean of rounded
    * qualities would carry exactly that risk, the ≥-threshold share does
    * not). Majority language resolves argmax by (count desc, lang asc)
    * via the q102 join-back pattern — never a window over the corpus.
    *
    * Scale shape: one kernel scan into a persisted projection; the dup
    * flag is an 8-byte-fp self-aggregate + left join; everything else
    * folds map-side to ≤ #sources (× #langs) rows.
    *
    * The stats projection is MATERIALIZED, not just persisted (r20): it
    * fans out into the dup-fp aggregate, the base-counts join leg, and
    * the language census — three exchange subtrees of one action that
    * AQE submits concurrently, so a lazy cache was raced and the whole
    * upstream chain (text kernels — and in q130's composition the WARC
    * read + curate + merge) recomputed per consumer.
    */
  def sourceDatacardStage(docs: DataFrame): Stage = {
    val enr = Stages.materialized(docCardStats(docs))
    Stage(datacardFromStats(enr), Seq(enr))
  }

  /** The per-document card-stats artifact [[sourceDatacardIncrementalStage]]
    * consumes and refreshes — ~40 bytes per document (id, source, four
    * kernel values), the reporting analog of [[corpusFingerprints]]: a
    * production pipeline stores it next to the corpus snapshot so the
    * daily data-card refresh never re-runs text kernels over the corpus.
    * [[sourceDatacardStage]]'s persisted projection IS this relation —
    * the bootstrap computes exactly it, and the card aggregation body is
    * the SAME function ([[datacardFromStats]]) on both paths, so the two
    * cannot drift.
    */
  def docCardStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id") +: col("source") +: cardStatCols: _*)

  /** The four per-document card-stat kernel columns — ONE list shared by
    * [[docCardStats]] and the streaming twin
    * ([[graft.streaming.StreamingCuration.cardStatsStream]]), so the
    * batch ≡ stream guarantee holds by construction instead of by two
    * hand-copied expression lists staying identical (review r13).
    */
  private[graft] def cardStatCols: Seq[org.apache.spark.sql.Column] = Seq(
    size(TextAnalysis.tokens(col("text"))).as("n_words"),
    TextAnalysis.qualityScore(col("text")).as("quality"),
    TextAnalysis.predLang(col("text")).as("pred_lang"),
    TextAnalysis.fp64Expr(col("text")).as("fp64"))

  /** Refresh the card-stats artifact through a merge, touching only the
    * BATCH's text: incoming rows (the merge's insert/rewrite/refresh
    * classes) get fresh kernel values from batch text, carry rows keep
    * their stored stats via an anti-join on the broadcast batch ids —
    * the same join discipline as [[mergeCorpusIncremental]]. Identical
    * to `docCardStats(mergeCorpus(prior, incoming))` by construction
    * (a refresh row's text is unchanged, so recomputing its kernels on
    * the batch copy yields the stored values bit-for-bit).
    */
  def docCardStatsIncremental(incoming: DataFrame,
                              priorStats: DataFrame): DataFrame =
    docCardStats(incoming).unionByName(
      priorStats.join(broadcast(incoming.select("doc_id")),
        Seq("doc_id"), "left_anti"))

  /** Per-source data cards of the REFRESHED corpus from the prior
    * artifact + the daily batch — closing the ingest chain's last
    * corpus-sized text scan (the r13 ingest probe measured the
    * reporting stage as its only corpus-bound cost: 4.7 s of 10.8 s at
    * 1 M prior docs). With this path the chain's steady state touches
    * corpus text NOWHERE: merge classes come from the 16-byte fp
    * artifact, cards from the ~40-byte stats artifact; both refresh in
    * the same pass over the batch.
    *
    * The dup-exposure metric is why the artifact (and not per-source
    * partial aggregates) is the right state: a batch insert can turn an
    * EXISTING carry row into a duplicate, so `pct_dup` is not
    * decomposable into prior-card + delta — but it IS a pure aggregate
    * of the stats relation, which this keeps current.
    *
    * The refreshed stats relation feeds three aggregation branches
    * (dup-fp, base counts, language argmax), so it persists exactly like
    * the bootstrap path's projection; without it the BATCH would pay its
    * text kernels three times and the artifact three reads.
    */
  def sourceDatacardIncrementalStage(incoming: DataFrame,
                                     priorStats: DataFrame): Stage = {
    // materialized like the bootstrap path (r20): same three-branch
    // fan-out, raced identically when lazily persisted
    val enr = Stages.materialized(docCardStatsIncremental(incoming, priorStats))
    Stage(datacardFromStats(enr), Seq(enr))
  }

  /** The card aggregation body over a stats relation — corpus text never
    * enters: three passes over ~40-byte rows (dup-fp self-aggregate,
    * per-source base counts, language argmax by the q102 join-back).
    * Shared verbatim by the bootstrap ([[sourceDatacardStage]]) and the
    * incremental path ([[sourceDatacardIncrementalStage]]).
    */
  def datacardFromStats(enr: DataFrame): DataFrame = {
    val dupFp = enr.groupBy(col("fp64"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .select(col("fp64"), lit(1L).as("is_dup"))
    val base = enr.join(dupFp, Seq("fp64"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"),
        sum(when(col("quality") >= QualityModel.HeuristicLabelThreshold, 1L)
          .otherwise(0L)).as("n_hi_quality"))
    val lc = enr.groupBy(col("source"), col("pred_lang"))
      .agg(count(lit(1)).as("lc"))
    val lmax = lc.groupBy(col("source")).agg(max(col("lc")).as("mc"))
    val topLang = lc.join(lmax, "source")
      .filter(col("lc") === col("mc"))
      .groupBy(col("source"), col("mc"))
      .agg(min(col("pred_lang")).as("top_lang"))
    val result = base.join(topLang, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        graft.functions.AggFunctions.ratioQ(
          col("n_tokens"), col("n_docs"), 4).as("mean_doc_tokens"),
        col("n_dup_docs"),
        graft.functions.AggFunctions.ratioQ(
          col("n_dup_docs"), col("n_docs"), 4).as("pct_dup"),
        col("n_hi_quality"),
        graft.functions.AggFunctions.ratioQ(
          col("n_hi_quality"), col("n_docs"), 4).as("pct_hi_quality"),
        col("top_lang"),
        graft.functions.AggFunctions.ratioQ(
          col("mc"), col("n_docs"), 4).as("top_lang_share"))
    result
  }

  /** Default selection size for [[importanceStage]], mirrored in the
    * q117 oracle.
    */
  val DefaultImportanceN = 100

  /** Data-selection-by-importance-resampling weights (the DSIR recipe —
    * Xie et al., NeurIPS 2023, hashed n-gram variant at unigram order):
    * score every pool document by how much more likely its tokens are
    * under the TARGET source's unigram distribution than under the pool's
    * own, then keep the top N by the length-normalized weight. weight(d) =
    * Σ_tok k·[ln p̂_tgt(tok) − ln p̂_pool(tok)] with Laplace smoothing over
    * the UNION vocabulary — the importance log-ratio of the two bag-of-
    * words models; length-normalizing removes the long-doc bias before
    * ranking.
    *
    * Scale shape (the q84/q101 model-first fold): ONE corpus tokenize
    * pass into per-(doc, token-fp) counts, persisted; the two
    * distributions collapse out of it as ONE vocab-cardinality aggregate
    * with conditional sums (no second scan); totals are a one-row
    * broadcast; the corpus-cardinality score stream pays exactly ONE join
    * against the vocab-sized log-ratio model; selection is orderBy+limit
    * — a TakeOrdered bounded heap, never a global sort. All shuffles key
    * on the 8-byte token fingerprint or doc_id.
    *
    * Selection policy (ADVICE r11): this is the DETERMINISTIC top-k
    * variant of DSIR, not the paper's Gumbel-noise resampling without
    * replacement — chosen for the engine's no-RNG discipline (every
    * gated operator must replay bit-identically in the oracle). Top-k
    * concentrates harder on the mode of the importance weights than
    * resampling does (less diversity among the selected set); callers
    * wanting the paper's bias profile can add a deterministic
    * md5-hash-keyed Gumbel perturbation per doc before the ranking
    * without changing the plan shape.
    *
    * Determinism: ranking orders on the ROUNDED 4-decimal normalized
    * weight with doc_id tie-break, so the selection boundary can't flip
    * on last-bit float divergence between engines. Residual hazard
    * (ADVICE r11): `w` is still a parallel double sum, so a pre-rounding
    * value sitting within one ulp of a .00005 boundary could round apart
    * across engines and swap a boundary doc in or out; rounding narrows
    * the exposure (no flake observed through sf0.1), it does not
    * eliminate it — if the gate ever flakes, rank on a fixed-point key
    * derived from integer counts (e.g. the sorted-fold of k·lr at a
    * fixed quantization) instead.
    */
  def importanceStage(docs: DataFrame, targetSource: String,
                      n: Int = DefaultImportanceN): Stage = {
    // persisted: the tf relation feeds both the model fold and the
    // scoring join
    val tf = Stages.persisted(docs
      .select(col("doc_id"), col("source"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
      .select(col("doc_id"), col("source"),
        TextAnalysis.fp60(col("tok")).as("fp"))
      .groupBy(col("doc_id"), col("source"), col("fp"))
      .agg(count(lit(1)).as("k")))
    val tgt = col("source") === targetSource
    val voc = tf.groupBy(col("fp"))
      .agg(sum(when(tgt, col("k")).otherwise(lit(0L))).as("tcnt"),
        sum(when(!tgt, col("k")).otherwise(lit(0L))).as("rcnt"))
    val tot = voc.agg(sum(col("tcnt")).as("tn"), sum(col("rcnt")).as("rn"),
      count(lit(1)).as("v"))
    val model = voc.crossJoin(broadcast(tot))
      .select(col("fp"),
        (log((col("tcnt") + lit(1)) / (col("tn") + col("v")).cast("double")) -
          log((col("rcnt") + lit(1)) / (col("rn") + col("v")).cast("double")))
          .as("lr"))
    val scored = tf.filter(!tgt)
      .join(model, "fp")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("k")).as("n_tokens"), sum(col("k") * col("lr")).as("w"))
    val result = scored
      .select(col("doc_id"), col("source"), col("n_tokens"),
        round(col("w"), 4).as("weight"),
        round(col("w") / col("n_tokens"), 4).as("avg_lr"))
      .orderBy(col("avg_lr").desc, col("doc_id").asc)
      .limit(n)
    Stage(result, Seq(tf))
  }
}
