package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{min_hash_sig, sim_hash64, word_shingles}
import graft.operators.Stages.{materialized, persisted}

/** Deduplication operators over the `documents` table: exact, MinHash+LSH,
  * SimHash, and windowed n-gram Jaccard. Embedding-space near-dup lives in
  * [[Similarity]].
  *
  * Scale design (100 TB posture):
  *  - Signatures (minhash / simhash / fingerprints) are pure projections —
  *    no shuffle, fused into the scan by whole-stage codegen.
  *  - The only shuffles are the LSH band-bucket join and the final
  *    group/distinct — both on compact keys (16-32 byte hashes), never on
  *    document text.
  *  - LSH candidate pairs are generated per band bucket; a pathological
  *    bucket (all-identical boilerplate docs) would quadratically explode,
  *    so [[lshCandidates]] caps bucket size (drop buckets larger than
  *    `maxBucket` — standard practice for web-scale near-dedup; the judge
  *    of a capped bucket is that its docs are trivially dupes anyway).
  *  - md5 is the hash everywhere because the DuckDB oracle can replay it
  *    bit-for-bit; swapping in xxhash64 is a one-line change for prod.
  */
object Dedup {

  /** Exact dedup: group by content fingerprint, keep the smallest doc_id.
    * Output one row per distinct content with its duplicate count.
    *
    * The group key is the 60-bit `fp64` long, not the 32-char md5 hex — at
    * 100 TB the dedup shuffle carries one fixed 8-byte key per row instead
    * of a 32-byte string, and long hashing/comparison is branch-free in
    * Tungsten rows. `n_fp` counts distinct FULL fingerprints inside each
    * fp64 group: 1 everywhere means no 60-bit collision merged two
    * different contents (at 60 bits a collision needs ~2^30 distinct
    * contents by the birthday bound; the column makes the check free).
    */
  def exact(docs: DataFrame): DataFrame =
    TextAnalysis.fingerprint(docs)
      .groupBy(col("fp64"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"),
        countDistinct(col("fp")).as("n_fp"))

  /** Word 3-gram shingles of the single-space tokenization (empty array for
    * docs shorter than 3 tokens). Single-pass custom kernel — see
    * [[graft.functions.WordShingles]] for why HOFs were 100× slower here.
    */
  def shingles(text: Column): Column = word_shingles(text, 3)

  /** MinHash signature: k independent permutations simulated by prefixing
    * the shingle with the permutation index before hashing; the signature
    * entry is the lexicographic min of the md5 hex digests (uniform under
    * md5, portable to the oracle). Single-pass kernel
    * ([[graft.functions.MinHashSig]]).
    */
  def minhashSignature(sh: Column, k: Int): Column = min_hash_sig(sh, k)

  val MinhashK = 12
  val LshBands = 4
  val LshRows = 3 // k = bands * rows

  /** Default LSH bucket-size cap, mirrored in the q11 oracle SQL. */
  val DefaultMaxBucket = 1000

  /** Exact Jaccard for two ALREADY-DISTINCT shingle arrays.
    * `array_intersect` is a single hash-set pass (vs the O(n²)
    * interpreted-lambda filter+contains formulation, which stalled the
    * nested-loop join when Catalyst inlined it into the join condition);
    * |A∪B| = |A|+|B|−|A∩B|.
    */
  def jaccard(shA: Column, shB: Column): Column = {
    // count-only intersect kernel: same count as size(array_intersect),
    // no boxed hash set and no materialized intersection per pair
    // (r19 — IntersectCountSpec pins the equivalence)
    val inter = graft.functions.SetFunctions.set_intersect_count(shA, shB)
    inter / (size(shA) + size(shB) - inter)
  }

  /** [[jaccard]] rounded at 4 in EXACT integer arithmetic — the
    * `round(jaccard(a, b), 4)` spelling every reporting site uses,
    * routed through [[graft.functions.AggFunctions.ratioQ]] so the
    * rounding never passes through a double (fuzz seed 7249's
    * round-of-double boundary class; set sizes are exactly the small
    * denominators that land ON 4-dp half boundaries).
    */
  def jaccardQ(shA: Column, shB: Column): Column = {
    // jaccard = i/(u−i) with u = |A|+|B| (sizes — cheap) and i the
    // array_intersect (expensive): the whole HALF_UP-at-4 rounding is
    // ONE long-arithmetic kernel call ([[graft.functions.MicrosMath
    // .jaccardQ128]] — q = (2·10⁴·i + (u−i)) div (2(u−i)), identical to
    // the old (19999·i + u) div (2(u−i)) decimal spelling), so `i` is
    // referenced exactly ONCE and no decimal(38,0) ops run per pair
    // (the decimal IntegralDivide chain cost ~1.5 µs/row interpreted —
    // the r19 adjudication of the driver-r18 movers). u − i = 0 ⟺
    // u = 0 (i ≤ min(|A|,|B|) forces u − i ≥ max(|A|,|B|)), so the
    // null guard rides the cheap u.
    val i = graft.functions.SetFunctions.set_intersect_count(shA, shB)
      .cast("long")
    val u = (size(shA) + size(shB)).cast("long")
    val q = graft.functions.AggFunctions.jaccardQ128(i, u)
    when(u === 0, lit(null).cast("double")).otherwise(q)
  }

  /** Drop every row whose bucket (the `keys` tuple) holds more than
    * `maxBucket` rows — without ever buffering a bucket. The hot-bucket
    * list is a map-side-combining `groupBy(keys).agg(count)` (a viral
    * bucket collapses to one partial per map task before the exchange)
    * filtered to `> maxBucket`, so it is small by construction
    * (≤ N/maxBucket fixed-width keys; in practice a handful of
    * boilerplate buckets), and the join-back is a `left_anti` equi-join
    * AQE broadcasts when the list fits and skew-splits when it doesn't.
    * Bit-identical kept set to the former
    * `count(*) OVER (PARTITION BY keys) <= maxBucket` filter, but the
    * unordered window buffered the ENTIRE hot bucket in one WindowExec
    * task before filtering — precisely the viral-boilerplate partition
    * the cap exists to drop (VERDICT r7 #1; same fix shape as the q53
    * survivor aggregate and the CC neighborhood minima).
    */
  private[graft] def capHotBuckets(rel: DataFrame, keys: Seq[String],
                                   maxBucket: Int): DataFrame = {
    val hot = rel.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select(keys.map(col): _*)
    rel.join(hot, keys, "left_anti")
  }

  /** MinHash LSH near-dup detection with exact-Jaccard verification of the
    * candidates (the classic two-phase LSH dedup): candidates from band
    * collisions, then keep pairs with true Jaccard >= threshold.
    *
    * One-scan shape: the distinct-shingle index persists and EVERYTHING
    * derives from it — band hashes (minhash over the shingle SET equals
    * minhash over the raw multiset), the capped band relation (also
    * persisted: both sides of the candidate self-join consume it), and
    * the two verification joins. The corpus text is scanned and shingled
    * exactly once.
    */
  def minhashNearDupsStage(docs: DataFrame, threshold: Double,
                           maxBucket: Int = DefaultMaxBucket): Stage = {
    val idx = persisted(docs.select(col("doc_id"),
        array_distinct(shingles(col("text"))).as("sh")))
    // both references of the band relation inside capHotBuckets (hot-list
    // aggregate + anti-join left) derive from the persisted index, so the
    // text is still shingled exactly once
    val capped = persisted(capHotBuckets(bandsFromIndex(idx),
        Seq("band_idx", "band_hash"), maxBucket))
    val a = capped.select(col("band_idx"), col("band_hash"), col("doc_id").as("id_a"))
    val b = capped.select(col("band_idx"), col("band_hash"), col("doc_id").as("id_b"))
    val cands = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val result = cands
      .join(idx.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(idx.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        jaccardQ(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    Stage(result, Seq(idx, capped))
  }

  /** Cross-source near-dup overlap matrix: how many verified near-dup
    * pairs land between each (unordered) pair of sources — the
    * "how much does crawl A duplicate crawl B" report that decides which
    * ingestion streams are redundant and which cross-source contamination
    * to investigate, run before committing to a source mix. Within-source
    * pairs appear on the diagonal.
    *
    * Scale shape: the pair relation is [[minhashNearDupsStage]]'s output
    * (capped LSH bands, never all-pairs); sources attach by two 8-byte-id
    * equi-joins against the doc→source projection, the unordered pair
    * canonicalizes with least/greatest, and the matrix is one map-side-
    * combining aggregate to ≤ #sources² rows.
    */
  def sourceOverlap(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    sourceOverlapFromPairs(docs, minhashNearDupsStage(docs, threshold).result)

  /** [[sourceOverlap]] over an ALREADY-COMPUTED verified-pair relation —
    * how SparkEntry feeds the memoized LSH stage to q106 without
    * re-deriving the band pipeline (VERDICT r10 #1).
    */
  def sourceOverlapFromPairs(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("source_a")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("source_b")), "id_b")
      .select(least(col("source_a"), col("source_b")).as("source_x"),
        greatest(col("source_a"), col("source_b")).as("source_y"))
      .groupBy(col("source_x"), col("source_y"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Cross-family dedup agreement: the MinHash(J ≥ 0.5) and
    * SimHash(hamming ≤ 3) pair sets on the same corpus, as one row —
    * each family's pair count, the overlap, and the pair-set Jaccard.
    * The two families measure DIFFERENT similarities (set overlap vs
    * token-multiset angle), so their agreement is an empirical property
    * of the corpus; this report is how a pipeline decides whether one
    * family suffices or both must run (low agreement = complementary
    * catches, not redundancy).
    *
    * Scale shape: both pair pipelines are the capped equi-join operators
    * (q11/q31 — never all-pairs); the overlap is one (id_a, id_b)
    * equi-join of two pair relations and the three counts are one-row
    * aggregates crossed by broadcast. NULL (not NaN) when both sets are
    * empty — the 0/0 guard both engines agree on.
    */
  def familyAgreement(docs: DataFrame): DataFrame =
    familyAgreementFromPairs(docs,
      minhashNearDupsStage(docs, threshold = 0.5).result)

  /** [[familyAgreement]] with the MinHash side supplied as an
    * already-computed verified-pair relation (the SimHash side is still
    * derived here — it is not part of the shared LSH stage).
    */
  def familyAgreementFromPairs(docs: DataFrame, mhPairs: DataFrame): DataFrame = {
    val mh = mhPairs.select(col("id_a"), col("id_b"))
    val sh = simhashBucketedNearDups(docs, maxHamming = 3)
      .select(col("id_a"), col("id_b"))
    val nM = mh.agg(count(lit(1)).as("n_minhash"))
    val nS = sh.agg(count(lit(1)).as("n_simhash"))
    val nB = mh.join(sh, Seq("id_a", "id_b")).agg(count(lit(1)).as("n_both"))
    // one-row relations — broadcast safe by construction
    nM.crossJoin(broadcast(nS)).crossJoin(broadcast(nB))
      .select(col("n_minhash"), col("n_simhash"), col("n_both"),
        graft.functions.AggFunctions.ratioQ(col("n_both"),
          col("n_minhash") + col("n_simhash") - col("n_both"), 4)
          .as("pair_jaccard"))
  }

  /** MinHash calibration report: for every LSH candidate pair, the
    * signature-estimated Jaccard (fraction of the k minhash entries that
    * agree — an unbiased estimator with sd √(J(1−J)/k)) next to the exact
    * shingle-set Jaccard and their absolute error. This is how the
    * (k, bands, rows) parameters are TUNED before a corpus-wide dedup
    * run commits to them: the report answers "how far off is a k=12
    * estimate on THIS corpus" and "what threshold do band collisions
    * actually correspond to" with measurements instead of the asymptotic
    * formula. Unfiltered by design — calibration wants the full candidate
    * set including the false positives a threshold would hide.
    *
    * Scale shape: identical to [[minhashNearDupsStage]] (one persisted
    * (sh, sig) index, capped band equi-join, never all-pairs); the only
    * additions are the signature arrays riding the verification joins and
    * the k fixed-order equality terms of the estimate — integer counts,
    * exactly reproducible.
    *
    * The calibration relation is also the SHARED LSH pair stage: because
    * calibration is unfiltered, `result.filter(jaccard >= t)` is
    * bit-identical to
    * [[minhashNearDupsStage]]'s verified pairs at threshold t (same
    * shingles, same banding via [[bandsFromSig]], same hot-bucket cap,
    * same rounded exact-Jaccard verification — DedupSpec pins the
    * equivalence). SparkEntry memoizes ONE checkpoint of this relation
    * per (session, corpus) and derives q11/q52/q93/q105/q106/q108 from
    * it instead of re-deriving the shingle→sig→band→cap→self-join
    * pipeline per query (VERDICT r10 #1).
    */
  def minhashCalibrationStage(docs: DataFrame,
                              maxBucket: Int = DefaultMaxBucket): Stage = {
    val idx = persisted(docs.select(col("doc_id"),
        array_distinct(shingles(col("text"))).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"),
        minhashSignature(col("sh"), MinhashK).as("sig")))
    val bands = bandsFromSig(idx)
    val capped = capHotBuckets(bands, Seq("band_idx", "band_hash"), maxBucket)
    val a = capped.select(col("band_idx"), col("band_hash"), col("doc_id").as("id_a"))
    val b = capped.select(col("band_idx"), col("band_hash"), col("doc_id").as("id_b"))
    val cands = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // fixed-order sum of k integer equality terms, then one division —
    // the oracle spells the identical chain
    val agree = (0 until MinhashK).map(i =>
      when(col("sig_a").getItem(i) === col("sig_b").getItem(i), 1)
        .otherwise(0)).reduce(_ + _)
    val result = cands
      .join(idx.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
        col("sig").as("sig_a")), "id_a")
      .join(idx.select(col("doc_id").as("id_b"), col("sh").as("sh_b"),
        col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(agree / lit(MinhashK.toDouble), 4).as("est_jaccard"),
        jaccardQ(col("sh_a"), col("sh_b")).as("jaccard"))
      .withColumn("abs_err",
        round(abs(col("est_jaccard") - col("jaccard")), 4))
    Stage(result, Seq(idx))
  }

  /** [[minhashCalibrationStage]]'s result restricted to verified pairs:
    * bit-identical to [[minhashNearDupsStage]] at the same threshold (see
    * [[minhashCalibrationStage]]; DedupSpec pins it). This is what the
    * SparkEntry memo hands every pair consumer.
    */
  def pairsFromCalibration(calib: DataFrame, threshold: Double): DataFrame =
    calib.filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** LSH recall gate — the dedup analog of
    * [[Similarity.recallAtK]] (q99): what fraction of the TRUE near-dup
    * pairs does the banded pipeline actually catch? Banding is lossy by
    * design (pairs whose signatures never collide in any band, plus
    * pairs dropped by the hot-bucket cap), and (k, bands, rows) are
    * tuned against a measured recall, not the asymptotic S-curve.
    *
    * Ground truth is computed on an id-window SAMPLE of pairs (all pairs
    * with `id_b − id_a ≤ idWindow`, raw exact Jaccard — the standard
    * sample-based recall methodology: true recall over all pairs is
    * unknowable without the all-pairs join LSH exists to avoid). LSH
    * pairs are exact-verified, so within the window caught ⊆ truth and
    * precision is 1 by construction — the report is pure recall:
    * (n_truth, n_caught, recall), NULL on an empty truth set.
    *
    * Scale shape: the truth join is an EQUI-join on id bin buckets (the
    * [[RangeJoin]] trick: the left side emits blocks ⌊id/W⌋ and
    * ⌊id/W⌋+1, the right side its own block — every pair within W
    * matches exactly once), never an n² nested loop; candidates are
    * ≤ 2·n rows per side with ~W-sized buckets, so the pair volume is
    * n·O(W), and only those pay the Jaccard (cheap id predicates first,
    * the q14 predicate-order lesson). The caught side is the capped band
    * pipeline; the counts are one-row broadcasts.
    */
  def lshRecall(docs: DataFrame, idWindow: Int = 25,
                threshold: Double = 0.5): DataFrame =
    lshRecallFromPairs(docs, minhashNearDupsStage(docs, threshold).result,
      idWindow, threshold)

  /** [[lshRecall]] over already-computed verified pairs (the SparkEntry
    * memo feed, like the other pair consumers).
    */
  def lshRecallFromPairs(docs: DataFrame, pairs: DataFrame,
                         idWindow: Int = 25,
                         threshold: Double = 0.5): DataFrame = {
    val idx = docs.select(col("doc_id"),
        array_distinct(shingles(col("text"))).as("sh"))
      .filter(size(col("sh")) > 0)
    // bin-bucket equi-join: b > a and b ≤ a + W imply
    // ⌊b/W⌋ ∈ {⌊a/W⌋, ⌊a/W⌋+1}, so the left emits both blocks and each
    // in-window pair matches exactly once (no distinct needed)
    val blk = floor(col("doc_id") / lit(idWindow)).cast("long")
    val a = idx.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
      explode(array(blk, blk + 1)).as("blk"))
    val b = idx.select(col("doc_id").as("id_b"), col("sh").as("sh_b"),
      blk.as("blk"))
    val truth = a.join(b, "blk")
      .filter(col("id_b") > col("id_a") &&
        col("id_b") <= col("id_a") + idWindow &&
        jaccardQ(col("sh_a"), col("sh_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
    val caught = pairs
      .filter(col("id_b") - col("id_a") <= idWindow)
      .select(col("id_a"), col("id_b"))
    val nT = truth.agg(count(lit(1)).as("n_truth"))
    val nC = truth.join(caught, Seq("id_a", "id_b"))
      .agg(count(lit(1)).as("n_caught"))
    nT.crossJoin(broadcast(nC))
      .select(col("n_truth"), col("n_caught"),
        graft.functions.AggFunctions.ratioQ(
          col("n_caught"), col("n_truth"), 4).as("recall"))
  }

  /** Default neighbor count for [[similarTopK]], mirrored in the q114
    * oracle SQL.
    */
  val DefaultSimilarK = 5

  /** Top-k most-similar documents per document — the production "show me
    * this page's near-duplicates" lookup, served from the same verified
    * LSH pairs every other dedup consumer reads (the SparkEntry shared
    * calibration feed). Pairs are symmetrized so BOTH endpoints see the
    * neighbor, then ranked per doc by (jaccard DESC, neighbor_id ASC).
    *
    * Determinism across engines: `jaccard` is the calibration stage's
    * 4-decimal ROUNDED value, so the sort key is bit-identical in Spark
    * and the oracle, and rounded ties break on the neighbor id — no
    * unrounded-double ordering ever decides the cut.
    *
    * Scale shape: input volume is LSH-capped verified pairs (never
    * all-pairs), the union is map-side, and `row_number <= k` executes as
    * WindowGroupLimit — per-partition bounded top-k heaps ahead of the
    * final per-doc rank, so no full sort of a doc's candidate list ever
    * spills. Docs with no near-dup simply don't appear (same contract as
    * q11: the report is about duplicates, absence = clean).
    */
  def similarTopK(pairs: DataFrame, k: Int = DefaultSimilarK): DataFrame = {
    val sym = pairs
      .select(col("id_a").as("doc_id"), col("id_b").as("neighbor_id"),
        col("jaccard"))
      .unionByName(pairs.select(col("id_b").as("doc_id"),
        col("id_a").as("neighbor_id"), col("jaccard")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("jaccard").desc, col("neighbor_id").asc)
    sym.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("neighbor_id"), col("jaccard"))
  }

  /** Default hot-shingle document-frequency cap for
    * [[windowedJaccardPairsStage]], mirrored in the q13 oracle SQL.
    */
  val DefaultMaxShingleDf = 5

  /** All-pairs Jaccard within a doc_id window, via an inverted index on
    * shingles: explode → self-equi-join on the shingle → count matches per
    * pair. No nested-loop join, no per-pair array scans — the shuffle is on
    * compact shingle keys and every stage is codegen'd. Pairs with zero
    * overlap never materialize (their Jaccard is 0 < threshold by
    * definition).
    *
    * Stop-shingle skew: a shingle appearing in d documents contributes
    * O(d²) join rows, so one boilerplate phrase ("all rights reserved")
    * would dominate the whole job at corpus scale. Shingles with document
    * frequency above `maxDf` are dropped from the index BEFORE the
    * self-join, and the Jaccard is computed over the kept-shingle sets on
    * both sides (sizes and intersections alike) — the standard posting-
    * list truncation for all-pairs similarity joins. A hot shingle carries
    * ~no similarity signal (it matches everything), so the capped Jaccard
    * is the better near-dup measure as well as the scalable one. This is
    * the 100 TB shape: distribute by posting list, bound the largest list.
    */
  def windowedJaccardPairsStage(docs: DataFrame, idWindow: Int,
                                threshold: Double,
                                maxDf: Int = DefaultMaxShingleDf): Stage = {
    val sh = docs
      .select(col("doc_id"), array_distinct(shingles(col("text"))).as("sh"))
      .filter(size(col("sh")) > 0)
    // document frequency via a map-side-combining groupBy on the posting
    // list + anti-join against the (tiny) hot-shingle list — NOT a window
    // over `s`: the hot shingles ("all rights reserved") are exactly the
    // partitions a window would buffer whole in one task (VERDICT r7 #1).
    // Persisted: `sizes`, BOTH self-join sides and the Jaccard math all
    // consume it, so the corpus is shingled once (without the cache the
    // three references re-planned the scan+explode+cap pipeline each)
    val inv = persisted(capHotBuckets(
        sh.select(col("doc_id"), explode(col("sh")).as("s")), Seq("s"), maxDf))
    val sizes = inv.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = inv.as("a")
      .join(inv.as("b"), col("a.s") === col("b.s") &&
        col("b.doc_id") > col("a.doc_id") &&
        col("b.doc_id") <= col("a.doc_id") + idWindow)
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    // No broadcast hint on the sizes joins: `sizes` has one row PER
    // DOCUMENT, so a forced broadcast would ship O(corpus) rows to every
    // executor and OOM outright at 100 TB (VERDICT r4 #1 — the "hint
    // frozen at test scale" anti-pattern). Stats + AQE pick broadcast
    // when the table actually fits and sort-merge when it doesn't — the
    // same no-hint rationale as the Solar panel join.
    val result = inter
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.AggFunctions.ratioQ(col("inter"),
          col("n_a") + col("n_b") - col("inter"), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    Stage(result, Seq(inv))
  }

  /** Connected components over near-dup pairs: every document that appears
    * in at least one pair, labeled with the smallest doc_id reachable
    * through chains of pairs — the "dedup cluster" a curation pipeline
    * keeps one survivor from (near-duplicate is not transitive, but
    * cluster-and-keep-one is the standard policy precisely because chains
    * of pairwise near-dups are the same boilerplate family).
    *
    * Algorithm: alternating large-star/small-star rounds (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — see
    * [[starClusters]], which this delegates to. Rounds grow with log of
    * the component diameter, not the diameter itself, so an adversarially
    * deep 100-diameter chain converges in ~7 rounds where min-label
    * propagation ([[nearDupClustersMinLabel]]) pays ~100 shuffle rounds
    * (VERDICT r5 missing #3). The returned label table is left cached (it
    * IS the result and the fixpoint loop consumed it); callers release it
    * via [[Stages.releaseCheckpoint]] or the session cache like every
    * other query intermediate.
    */
  def nearDupClusters(pairs: DataFrame): DataFrame =
    starClusters(pairs).labels

  /** A connected-components result with its convergence round count —
    * specs and probes assert the log-diameter bound through it.
    */
  case class CcResult(labels: DataFrame, rounds: Int)

  /** Large-star/small-star connected components (Kiveris et al., SoCC'14).
    *
    * The edge list is kept directed from the larger id to the smaller.
    * Each round applies two neighborhood-min contractions:
    *  - large-star: every node u links its LARGER neighbors to
    *    m = min(Γ(u) ∪ {u}) — computed over the symmetrized edge list,
    *    a map-side-combining min aggregate joined back on the center id;
    *  - small-star: every node u links its smaller neighbors AND itself
    *    to m = min of those smaller neighbors — one more shuffle.
    * Both operations preserve connectivity, only ever lower a node's
    * link target, and jointly halve component diameter per round, so
    * convergence (edge set unchanged) arrives in O(log d) rounds; the
    * fixpoint is a star per component rooted at its minimum id. Every
    * stage is an equi-shuffle on node ids — no nested loops, no
    * driver-side graph state, the same 100 TB posture as one min-label
    * round, just ~log d of them instead of d.
    *
    * Lineage truncation (VERDICT r4 #2, kept from the min-label
    * implementation): each round's edge set is eagerly `localCheckpoint`ed
    * so round r+1 plans against a flat leaf, and each round releases its
    * predecessor's checkpoint blocks through the raw-RDD handle
    * (Dataset.unpersist does not cover them). On a real cluster with
    * unreliable executors, swap `localCheckpoint` for reliable
    * `checkpoint` — same call shape, HDFS-backed.
    */
  def starClusters(pairs: DataFrame): CcResult =
    starClusters(pairs, StarPersistMinEdges)

  /** Edge-count gate for the per-round large-star persist (VERDICT r8 #4).
    * The r9 A/B on the deep probe graph (SURVEY.md row "q52 persist A/B
    * with shuffle-record totals") showed ReuseExchange
    * deduplicating the doubled large-star subtree (identical shuffle-write
    * record totals with and without the cache), so the persist is
    * insurance against plan divergence, not a recomputation fix — and at
    * small inputs its cache churn is pure overhead (the r8 q52 bench
    * regression). Keep it only where a re-run, if it ever happened, would
    * be expensive.
    */
  val StarPersistMinEdges = 5000000L

  private[graft] def starClusters(pairs: DataFrame,
                                  persistMinEdges: Long): CcResult = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var edgeCount = edges.count() // cheap: a count over the checkpoint blocks
    // Sub-threshold graphs label on the DRIVER (r19, guide §5: the
    // driver should do almost no data work — a few hundred thousand
    // 16-byte edges is no data work, while the star fixpoint it replaces
    // is 3+ actions and ~6 shuffles PER ROUND, pure scheduling latency
    // at this size; ProbeJobs measured the CC consumers at 87–100 jobs
    // each). Union-find with min-id roots produces the IDENTICAL label
    // set — every node reachable through pairs, labeled with the
    // smallest id in its component (CcEquivalenceSpec pins driver ≡ star
    // on random graphs). The threshold is session-configurable
    // (`graft.cc.driverMaxEdges`; 0 forces the distributed path) and a
    // 100 TB near-dup graph sails past it into the unchanged star loop.
    val driverMax = pairs.sparkSession.conf
      .getOption("graft.cc.driverMaxEdges").map(_.toLong).getOrElse(1000000L)
    if (edgeCount <= driverMax) {
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      Stages.releaseCheckpoint(edges)
      val root = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (root.get(r) != r) r = root.get(r)
        var c = x
        while (root.get(c) != c) { val n = root.get(c); root.put(c, r); c = n }
        r
      }
      es.foreach { case (u, v) =>
        if (!root.containsKey(u)) root.put(u, u)
        if (!root.containsKey(v)) root.put(v, v)
        val ru = find(u); val rv = find(v)
        // min-id root: the star fixpoint's component label
        if (ru < rv) root.put(rv, ru)
        else if (rv < ru) root.put(ru, rv)
      }
      val labels = root.keySet().toArray(Array.empty[java.lang.Long])
        .map(n => (n.toLong, find(n)))
      val spark = pairs.sparkSession
      import spark.implicits._
      return CcResult(
        labels.toSeq.toDF("doc_id", "cluster"), rounds = 0)
    }
    // Neighborhood minima are a map-side-combining groupBy + join back on
    // the center id, NOT `min(v).over(partitionBy(u))` (VERDICT r6 #3):
    // the min-root of a giant near-dup component accumulates degree ≈
    // component size as rounds converge, and an unordered window would
    // buffer that whole neighborhood in ONE WindowExec task. The aggregate
    // collapses a hot node to one partial per map task, and the join back
    // is AQE-skew-splittable.
    def withNbrMin(rel: DataFrame): DataFrame =
      rel.join(rel.groupBy(col("u")).agg(min(col("v")).as("mn")), "u")
    var rounds = 0
    var changed = 1L
    while (changed > 0) {
      // large-star over the symmetrized neighborhood: every neighbor
      // strictly above the center re-links to the neighborhood min
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      // withNbrMin references its input twice (aggregate + join left), so
      // without a cache the large-star pipeline — including its distinct
      // shuffle — appears twice in the small-star plan and only
      // ReuseExchange keeps it from computing twice (ADVICE r7). The
      // persist is GATED on input size (VERDICT r8 #4): the r9 A/B
      // (SURVEY.md row "q52 persist A/B") measured ReuseExchange
      // actually deduping the doubled subtree at every scale
      // (shuffle-write records identical with and without the cache), so
      // the persist buys insurance against plan-divergence only; below the gate the cache churn costs more than it saves
      // (the r8 q52 bench regression, 2.70→3.41 s at sf0.1). The cache,
      // when taken, is released as soon as the round's checkpoint
      // materializes.
      val largePlan = withNbrMin(sym)
        .withColumn("m", least(col("u"), col("mn")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      val doPersist = edgeCount >= persistMinEdges
      val large =
        if (doPersist)
          persisted(largePlan)
        else largePlan
      // small-star on the larger→smaller edges: the center and its
      // non-min smaller neighbors re-link to the smallest of them
      val next = withNbrMin(large)
        .select(when(col("v") === col("mn"), col("u")).otherwise(col("v")).as("u"),
          col("mn").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true) // eager: materializes and truncates lineage
      if (doPersist) large.unpersist(false)
      // converged when the round is a no-op: same size and no new edges
      // (two counts over flat checkpoint leaves — no recomputation)
      val nextCount = next.count()
      changed =
        if (nextCount != edgeCount) 1L
        else next.join(edges, Seq("u", "v"), "left_anti").count()
      Stages.releaseCheckpoint(edges)
      edges = next
      edgeCount = nextCount
      rounds += 1
    }
    log.info(s"starClusters converged in $rounds rounds")
    // fixpoint edges are (node, component-min); roots label themselves
    CcResult(
      edges.select(col("u").as("doc_id"), col("v").as("cluster"))
        .union(edges.select(col("v"), col("v")).distinct()
          .toDF("doc_id", "cluster")),
      rounds)
  }

  /** Min-label propagation connected components — the simple variant:
    * `label(v) := min(label(v), min over neighbors u of label(u))`
    * repeated to the (unique) fixpoint, detected by a changed-label count
    * per round. One equi-shuffle join per round, rounds = cluster
    * diameter. Near-dup clusters are shallow (2-4 rounds in practice), but
    * [[starClusters]] bounds adversarially deep graphs at O(log d) rounds
    * for the same per-round shape, so it is the default behind
    * [[nearDupClusters]]; this stays as the independent cross-check the
    * DedupSpec equivalence tests run against.
    */
  def nearDupClustersMinLabel(pairs: DataFrame): DataFrame = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    // each round frees the previous round's checkpoint through its RDD
    // handle (Stages.releaseCheckpoint)
    val edges = persisted(pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
      .localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      val nbrMin = edges
        .join(labels.select(col("id").as("src"), col("lbl").as("src_lbl")), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("src_lbl")).as("nbr_lbl"))
      // old label travels inside `next` so the convergence check is a
      // filter over the freshly-materialized checkpoint, not a second join
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl"),
          col("lbl").as("old_lbl"))
        .localCheckpoint(true) // eager: materializes and truncates lineage
      changed = next.filter(col("lbl") < col("old_lbl")).count()
      Stages.releaseCheckpoint(labels)
      labels = next
      rounds += 1
    }
    edges.unpersist()
    log.info(s"nearDupClusters converged in $rounds rounds")
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster"))
  }

  /** Boilerplate removal at chunk granularity — the CCNet/C4-style
    * paragraph-dedup pass (Wenzek et al. 2020; Raffel et al. 2020 §2.2):
    * fixed `chunkTokens`-token chunks of the lowered text whose content
    * occurs more than `maxDf` times corpus-wide are dropped from every
    * document, and the cleaned text is the surviving chunks rejoined in
    * order. (The classic pass counts paragraphs; this variant counts
    * occurrences — a chunk repeated within one document is boilerplate
    * too, and instance counts need no distinct pass.)
    *
    * Scale shape: one scan ([[graft.functions.WordChunks]] explode,
    * persisted — the count branch and the join branch both consume it),
    * occurrence counts via groupBy on the 60-bit chunk fingerprint, an
    * equi-join back, then one shuffle on doc_id for the ordered
    * reassembly (sorted collect over the per-doc chunk array, like the
    * q44 rendering). The counts are deliberately an AGGREGATE + join, not
    * a `count over (partition by ch)` window: a window sends every
    * instance of a hot chunk into ONE task's buffer, and hot chunks are
    * this operator's TARGET input (real boilerplate occurs billions of
    * times); the aggregate combines map-side so no task ever holds a hot
    * key's instances, and the join back is AQE-skew-splittable. 8-byte
    * shuffle keys throughout.
    */
  def boilerplateStage(docs: DataFrame, chunkTokens: Int = 16,
                       maxDf: Int = 1): Stage = {
    val chunks = persisted(docs.select(col("doc_id"),
        posexplode(graft.functions.TextFunctions
          .word_chunks(lower(col("text")), chunkTokens)))
      .select(col("doc_id"), col("pos"), col("col").as("chunk"),
        conv(substring(md5(col("col")), 1, 15), 16, 10).cast("long").as("ch")))
    val df = chunks.groupBy(col("ch")).agg(count(lit(1)).as("df"))
    val result = chunks.join(df, "ch")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("df") > maxDf, 1).otherwise(0)).as("n_removed"),
        // kept chunks rejoined in pos order; the interpreted transform
        // runs once per DOCUMENT over its small chunk array (not the
        // per-token HOF trap), and empty survivors render as ""
        array_join(transform(array_sort(collect_list(
          when(col("df") <= maxDf, struct(col("pos"), col("chunk"))))),
          x => x.getField("chunk")), " ").as("clean_text"))
    Stage(result, Seq(chunks))
  }

  val SimhashBits = 64

  /** 64-bit SimHash over whitespace tokens: per-token hash from the first 8
    * md5 bytes; each bit of the fingerprint is the sign of the +1/−1 vote
    * sum across tokens. 64 bits (vs the earlier 16) is the production
    * width: hamming <= 3 pairs are genuine near-dups rather than prefix
    * collisions, and the pigeonhole blocks in [[simhashBucketedNearDups]]
    * get 65,536 buckets each instead of 16.
    */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      sim_hash64(TextAnalysis.tokens(lower(col("text")))).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** SimHash near-dup pairs: hamming distance <= maxHamming within a doc_id
    * window. Correctness demo only — the candidate predicate is non-equi, so
    * the join is a nested loop; the scale path is [[simhashBucketedNearDups]].
    * The conjunction is hand-built cheap-first in the join condition (the
    * [[graft.operators.Similarity.nearDupPairs]] discipline): written as
    * join-then-filter, the optimizer folds the hamming check ahead of the
    * id-window predicates, paying xor+popcount on every id pair instead of
    * only the ~2% window survivors.
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int, idWindow: Int): DataFrame = {
    val s = simhash(docs)
    val a = s.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val b = s.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    val hamming = bit_count(col("sh_a").bitwiseXOR(col("sh_b")))
    a.join(b, col("id_b") > col("id_a") &&
        col("id_b") <= col("id_a") + idWindow &&
        hamming <= maxHamming)
      .select(col("id_a"), col("id_b"), hamming.as("hamming"))
  }

  /** SimHash near-dup detection at scale: hash-block bucketing.
    *
    * Pigeonhole: split the fingerprint into `maxHamming + 1` equal bit
    * blocks — any pair within hamming distance maxHamming must agree
    * EXACTLY on at least one block, so candidates are an equi-join on
    * (block_idx, block_value) and the full cross product never
    * materializes. Verification (bit_count of xor <= maxHamming) is
    * unchanged from [[simhashNearDups]]. This is the standard web-scale
    * simhash dedup layout (Manku et al., WWW'07): at 100 TB the table is
    * hash-partitioned by block value, every stage is an equi-shuffle, and
    * no nested-loop join exists in the plan. With the 64-bit fingerprint
    * and maxHamming=3 each of the 4 blocks is 16 bits → 65,536 buckets per
    * block index, so bucket sizes shrink as ~n/65,536 per block and the
    * candidate set stays sub-quadratic at corpus scale.
    */
  def simhashBucketedNearDups(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val blocks = maxHamming + 1
    require(SimhashBits % blocks == 0, s"$SimhashBits bits not divisible into $blocks blocks")
    val blockBits = SimhashBits / blocks
    val mask = (1L << blockBits) - 1
    val s = simhash(docs)
    val keyed = s.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until blocks).map(b =>
        shiftright(col("simhash"), b * blockBits).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "block_idx")
      .withColumnRenamed("col", "block_val")
    val a = keyed.select(col("block_idx"), col("block_val"),
      col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val b = keyed.select(col("block_idx"), col("block_val"),
      col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("block_idx", "block_val"))
      .filter(col("id_b") > col("id_a"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a pair may collide in several blocks
  }

  /** Substring-level exact dedup (Lee et al., ACL'22 "Deduplicating
    * Training Data Makes Language Models Better"): instead of whole-doc
    * fingerprints, fixed `spanTokens`-token spans starting every `stride`
    * tokens are fingerprinted, and a document is scored by the fraction of
    * its distinct spans that also occur in ANOTHER document. Templated /
    * mirrored text that whole-doc dedup misses (one edited sentence defeats
    * fp64) shows up here as a high `dup_frac`; `keep` flags documents at or
    * under `maxDupFrac`.
    *
    * This is the scalable Spark re-expression of the paper's suffix-array
    * pass: a suffix array is a single global sorted structure (inherently
    * one-machine), while strided span fingerprints are embarrassingly
    * parallel and catch the same cross-document repetitions at span
    * granularity — stride ≤ spanTokens/2 guarantees any duplicated run of
    * ≥ 2·spanTokens tokens shares at least one aligned span.
    *
    * Scale shape: ONE corpus scan ([[graft.functions.WordChunks]] explode,
    * fingerprinted to the 60-bit long BEFORE any shuffle so no span text
    * ever moves), collapsed to distinct (doc_id, span_fp) pairs by the
    * first aggregate (map-side combine), persisted — the document-frequency
    * aggregate and the join back both consume it. df counts rows of the
    * already-distinct pairs, so it needs no distinct pass of its own, and
    * a boilerplate span occurring in billions of documents combines
    * map-side instead of flooding one task (same reasoning as
    * [[boilerplateStage]]'s aggregate-not-window choice). The join back is
    * an 8-byte equi-join, AQE-skew-splittable; the final per-doc rollup
    * shuffles doc_id. No window functions, no sorts, no text in any
    * exchange.
    */
  def spanDedupStage(docs: DataFrame, spanTokens: Int = 16, stride: Int = 8,
                     maxDupFrac: Double = 0.5): Stage = {
    val spans = persisted(docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions
          .word_chunks(lower(col("text")), spanTokens, stride)).as("span"))
      .select(col("doc_id"),
        conv(substring(md5(col("span")), 1, 15), 16, 10).cast("long").as("span_fp"))
      .groupBy(col("doc_id"), col("span_fp")).agg(count(lit(1)).as("occ")))
    // document frequency per span: pairs are distinct by construction, so
    // count(*) IS the doc count — no countDistinct shuffle
    val df = spans.groupBy(col("span_fp")).agg(count(lit(1)).as("span_df"))
    val result = spans.join(df, "span_fp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("span_df") > 1, 1L).otherwise(0L)).as("dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("dup_spans"),
        graft.functions.AggFunctions.ratioQ(
          col("dup_spans"), col("n_spans"), 4).as("dup_frac"),
        (col("dup_spans") / col("n_spans") <= maxDupFrac)
          .cast("int").as("keep"))
    Stage(result, Seq(spans))
  }

  /** Dedup-savings report over connected-component labels ([[
    * nearDupClusters]] output): cluster-size histogram with, per size,
    * the document count and the rows removable by keeping one canonical
    * doc per cluster — the "what does near-dedup buy us" number a
    * curation run reports before committing to it. Two metadata-sized
    * aggregates over the labels relation (#docs-in-clusters rows →
    * #clusters rows → #distinct-sizes rows); nothing touches text.
    */
  def dedupSavings(labels: DataFrame): DataFrame =
    labels.groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_removable"))

  /** Survivor selection over connected-component labels: for each
    * near-dup cluster, the document the pipeline KEEPS — highest
    * [[TextAnalysis.qualityScore]], ties broken by smallest doc_id
    * (deterministic under any execution order). [[dedupSavings]] prices
    * the removal; this names the survivors — the other half of the
    * "cluster-and-keep-one" policy, upgraded from q53's keep-min-id to
    * keep-best-quality (what production curation actually does: within a
    * boilerplate family, keep the cleanest copy, not the lowest id).
    *
    * Scale shape: quality is a scan-fused per-row expression; the
    * cluster-max is a map-side-combining aggregate to #clusters rows
    * (never a window — a viral boilerplate cluster would buffer whole in
    * one WindowExec task, the q53/capHotBuckets lesson); the argmax
    * resolves by joining the per-cluster max back (AQE-skew-splittable
    * equi-join) and taking min(doc_id) among exact-max rows — exact
    * because both engines compute bit-identical rounded quality doubles.
    */
  def clusterSurvivors(labels: DataFrame, docs: DataFrame): DataFrame =
    survivorsFromScored(labels, docs.select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("quality")))

  /** [[clusterSurvivors]] over a PRE-COMPUTED `(doc_id, quality)`
    * relation — fed by [[Curation.curationDagStage]] from its one-scan
    * projection so the survivor argmax costs no extra text scan.
    */
  private[graft] def survivorsFromScored(labels: DataFrame,
                                         scored: DataFrame): DataFrame = {
    val j = labels.join(scored.select(col("doc_id"), col("quality")), "doc_id")
      .select(col("cluster"), col("doc_id"), col("quality"))
    val m = j.groupBy(col("cluster"))
      .agg(max(col("quality")).as("best_q"), count(lit(1)).as("cluster_size"))
    j.join(m, "cluster")
      .filter(col("quality") === col("best_q"))
      .groupBy(col("cluster"), col("best_q"), col("cluster_size"))
      .agg(min(col("doc_id")).as("survivor_id"))
      .select(col("cluster"), col("survivor_id"),
        col("best_q").as("quality"), col("cluster_size"))
  }

  /** Per-doc dedup index projection — ONE text scan yields everything
    * [[dedupAgainstCorpusStage]] needs from a side: the 8-byte fingerprint and
    * the distinct shingle set (minhash signatures and band hashes derive
    * from the shingle SET — min over a multiset equals min over its set —
    * so banding needs no second text pass).
    */
  private[graft] def dedupIndex(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      TextAnalysis.fp64Expr(col("text")).as("fp64"),
      array_distinct(shingles(col("text"))).as("sh"))

  /** (doc_id, band_idx, band_hash) from a [[dedupIndex]] relation. */
  private[graft] def bandsFromIndex(index: DataFrame): DataFrame =
    bandsFromSig(index.filter(size(col("sh")) > 0)
      .select(col("doc_id"), minhashSignature(col("sh"), MinhashK).as("sig")))

  /** The [[LshBands]] band hashes of a signature column, in band order —
    * THE band-hash construction, shared by every LSH path (dedup,
    * incremental, calibration, streaming) so a banding change cannot
    * silently desynchronize the calibration report from the dedup it
    * calibrates.
    */
  private[graft] def bandHashes(sig: Column): Column =
    transform(sequence(lit(0), lit(LshBands - 1)), b =>
      md5(concat_ws("|", slice(sig, b * LshRows + 1, lit(LshRows)))))

  /** (doc_id, band_idx, band_hash) from a (doc_id, …, sig) relation. */
  private[graft] def bandsFromSig(rel: DataFrame): DataFrame =
    rel.select(col("doc_id"), posexplode(bandHashes(col("sig"))))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")

  /** Incremental ingestion dedup: flag each INCOMING document that
    * duplicates the EXISTING corpus — exactly (content fingerprint) or
    * nearly (MinHash-LSH band collision verified by exact Jaccard) —
    * without ever comparing corpus docs to each other. This is the daily
    * operation of a living pretraining corpus: yesterday's crawl is
    * already deduped; today's batch must dedup AGAINST it, not re-dedup
    * the world.
    *
    * Scale shape: asymmetric by design. The corpus side reduces to its
    * 8-byte fingerprint set and its capped LSH band index — both of which
    * a production pipeline precomputes once and stores with the corpus
    * (here they are derived in-query from the corpus relation; the
    * operator's join shape is identical either way). The incoming batch
    * (orders of magnitude smaller) explodes fresh. Candidates are an
    * equi-join of incoming bands against the corpus band index — never
    * corpus×corpus, never all-pairs — and only candidates pay the exact
    * Jaccard verification. Exact dups are a left join on the 8-byte
    * fingerprint. Every shuffle key is a fixed-width hash; the corpus
    * text is scanned once for fingerprints and once for the band/shingle
    * index.
    *
    * Incremental dedup: both sides' [[dedupIndex]] projections persist,
    * so each corpus scans its text ONCE (fingerprint + shingles + bands
    * all derive from the cache).
    */
  def dedupAgainstCorpusStage(corpus: DataFrame, incoming: DataFrame,
                              threshold: Double = 0.5,
                              maxBucket: Int = DefaultMaxBucket): Stage = {
    val corp = persisted(dedupIndex(corpus))
    val inc = persisted(dedupIndex(incoming))
    val corpFp = corp.select(col("fp64")).distinct()
      .withColumn("in_corpus", lit(1))
    // the corpus band index carries the same hot-bucket cap as
    // minhashNearDupsStage — a boilerplate bucket would turn one incoming
    // band row into |bucket| candidates. capHotBuckets (groupBy hot-list
    // + anti-join) rather than a window: both its references to the band
    // relation derive from the persisted corpus index.
    val corpBands = capHotBuckets(bandsFromIndex(corp),
        Seq("band_idx", "band_hash"), maxBucket)
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("corp_id"))
    val cands = bandsFromIndex(inc)
      .join(corpBands, Seq("band_idx", "band_hash"))
      .select(col("doc_id"), col("corp_id")).distinct()
    val near = cands
      .join(inc.select(col("doc_id"), col("sh").as("sh_in")), "doc_id")
      .join(corp.select(col("doc_id").as("corp_id"), col("sh").as("sh_corp")),
        "corp_id")
      .select(col("doc_id"),
        jaccardQ(col("sh_in"), col("sh_corp")).as("j"))
      .filter(col("j") >= threshold)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_near"))
    val result = inc.select(col("doc_id"), col("fp64"))
      .join(corpFp, Seq("fp64"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("in_corpus"), lit(0)).as("exact_dup"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        (coalesce(col("in_corpus"), lit(0)) === 0 &&
          coalesce(col("n_near"), lit(0L)) === 0).cast("int").as("keep"))
    Stage(result, Seq(corp, inc))
  }

  /** Default shingle width for [[decontaminationReport]], mirrored in the
    * q122 oracle. GPT-3 decontaminated on 13-grams over web-length pages
    * (Brown et al. 2020, app. C); 5 is the proportional width for this
    * corpus's 20-100-word documents — wide enough that shared phrasing is
    * evidence of leakage, not of the language.
    */
  val DecontamShingleN = 5

  /** Eval-set decontamination (the GPT-3/Pile discipline — Brown et al.
    * 2020 app. C; Gao et al. 2021 §6): flag every POOL document that
    * shares at least one `n`-token shingle with the BENCHMARK relation,
    * so leaked eval material is removed from training data before the
    * measurement it would corrupt. Report, not filter: per pool doc, its
    * distinct-shingle count, how many of those shingles appear anywhere
    * in the benchmark, and the contaminated flag — the keep-set is
    * `contaminated = 0`, and n_hits/n_shingles grades HOW contaminated
    * (a verbatim copy scores ~1.0, one shared idiom ~1/n_shingles).
    *
    * Scale shape: the benchmark side is an eval set — KBs to MBs against
    * a 100 TB pool — so its distinct shingle fingerprints BROADCAST and
    * the pool pays one scan: shingle → 60-bit fp → broadcast-hash left
    * join → per-doc count aggregate. No shuffle ever carries pool text;
    * the only shuffled relation is (doc_id, n_shingles, hit) partials.
    * `explode_outer` keeps sub-n-token docs (zero shingles) in the
    * report with n_hits = 0 — a doc too short to shingle cannot be
    * flagged, but must not vanish from the accounting.
    */
  def decontaminationReport(pool: DataFrame, benchmark: DataFrame,
                            n: Int = DecontamShingleN): DataFrame = {
    val bfp = benchmark
      .select(explode(array_distinct(
        graft.functions.TextFunctions.word_shingles(col("text"), n))).as("s"))
      .select(TextAnalysis.fp60(col("s")).as("fp"))
      .distinct()
      .withColumn("hit", lit(1L))
    pool
      .select(col("doc_id"), array_distinct(
        graft.functions.TextFunctions.word_shingles(col("text"), n)).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_shingles"),
        explode_outer(col("sh")).as("s"))
      .select(col("doc_id"), col("n_shingles"),
        TextAnalysis.fp60(col("s")).as("fp"))
      .join(broadcast(bfp), Seq("fp"), "left")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("doc_id"), col("n_shingles"), col("n_hits"),
        (col("n_hits") > 0).cast("int").as("contaminated"))
  }

  /** EXACT all-pairs set-similarity join via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al., WWW'07; Xiao et al.,
    * WWW'08): every document pair whose shingle-set Jaccard is >= the
    * threshold, with NO id window, NO posting-list cap, and NO hashing
    * loss — the exact counterpart of the MinHash-LSH family (the q11
    * shape), for the regimes where a recall gate (q113) is not enough
    * and the dedup sweep must be provably complete.
    *
    * Candidate completeness (the prefix-filter lemma): order every
    * document's distinct shingle fingerprints by one GLOBAL key —
    * ascending (document frequency, fp) — and keep each document's
    * PREFIX of length `n − ceil(t·n) + 1`. If J(a,b) >= t then
    * |a∩b| >= t·|a∪b| >= t·max(|a|,|b|), so |a∩b| >= ceil(t·|x|) for
    * both sides, and two sets sharing that many elements under a common
    * total order must share at least one element inside those prefixes.
    * Every qualifying pair therefore surfaces from an EQUI-join on a
    * prefix fingerprint; candidates are then verified with the exact
    * Jaccard, so the output is precisely the naive all-pairs result.
    * (`ceil` runs on doubles with a 1e-9 downward slack, which can only
    * LENGTHEN a prefix — double rounding can never shorten one below the
    * lemma's bound. Same slack on the length filter `min >= t·max`,
    * which prunes candidates but is not needed for completeness.)
    *
    * Threshold semantics: the filter compares the UNROUNDED quotient of
    * two exact integers — one correctly-rounded double division,
    * bit-identical in any engine — because the prefix lemma speaks about
    * the true Jaccard; filtering on a display-rounded value would admit
    * pairs (round4(J) >= t > J) the candidate generation is allowed to
    * miss. The emitted `jaccard` column is rounded to 4 decimals for
    * output stability, like every similarity gate.
    *
    * Scale shape (100 TB posture): the corpus is shingled ONCE into the
    * persisted (doc_id, fp) relation; document frequencies are one
    * map-side-combining aggregate on 8-byte fps; the per-doc ordered
    * fold is doc-bounded (`sort_array(collect_list)` over one document's
    * shingles — never a cross-doc window); the candidate join exchanges
    * slim (doc_id, n, fp) rows (~20 B — the q85 discipline: full sets
    * re-enter only by id for the verified candidates). Skew is bounded
    * by CONSTRUCTION, not by a cap: df-ascending ordering puts each
    * document's RAREST shingles in its prefix, so a shingle of global
    * frequency D joins at most D prefix rows, and corpus-wide
    * boilerplate ("all rights reserved") sorts LAST in every document —
    * it enters a prefix only for documents made almost entirely of hot
    * shingles, the pairs that are near-dups anyway. This is why AllPairs
    * beats the naive inverted index (q13's shape, which must cap hot
    * posting lists and lose exactness) at web scale.
    */
  def prefixSimilarityJoinStage(docs: DataFrame,
                                threshold: Double): Stage = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val t = lit(threshold)
    // materialized, not just persisted (r20): the fp relation feeds the
    // df aggregate AND the ordered-set fold, the fold feeds the prefix
    // relation and both verify legs — all exchange subtrees of ONE
    // action, which AQE submits concurrently, so a lazily-persisted
    // cache was raced and its child plan recomputed per consumer (see
    // [[Stages.materialized]])
    val inv = materialized(shingleFps(docs))
    val dfRel = inv.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    // persisted (r19): the ordered-set fold — the df join + per-doc
    // sort_array, the single most CPU-expensive projection of the
    // pipeline — feeds THREE consumers (the prefix relation and both
    // verify legs); ReuseExchange dedups only the underlying shuffle,
    // so without the cache the post-shuffle fold ran three times
    val sets = materialized(orderedSets(inv, dfRel))
    val pref = prefixOf(sets, t)
    // equi-join on the prefix fp; length filter prunes (never decides)
    val cand = pref.as("a")
      .join(pref.as("b"),
        col("a.fp") === col("b.fp") &&
          col("b.doc_id") > col("a.doc_id") &&
          col("a.n") >= col("b.n") * t - lit(1e-9) &&
          col("b.n") >= col("a.n") * t - lit(1e-9))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared_prefix"))
      .select(col("id_a"), col("id_b"))
    Stage(verifyPairs(cand, sets, sets, t), Seq(inv, sets))
  }

  /** Distinct 60-bit shingle fps per doc; fp-level distinct so a same-doc
    * string collision merges identically in engine and oracle.
    */
  private def shingleFps(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(array_distinct(shingles(col("text")))).as("s"))
      .select(col("doc_id"), TextAnalysis.fp60(col("s")).as("fp"))
      .distinct()

  /** Per-doc set ordered by the global (df asc, fp asc) key; the fold
    * buffers one document's shingles — doc-bounded by construction.
    * Tokens absent from the df relation (possible in the incremental
    * form, where the ORDER comes from the stored corpus df) coalesce to
    * df = 0: any fixed total order satisfies the prefix lemma, and
    * never-seen tokens are the rarest by definition.
    */
  private def orderedSets(inv: DataFrame, dfRel: DataFrame): DataFrame =
    inv.join(dfRel, Seq("fp"), "left")
      .select(col("doc_id"), col("fp"), coalesce(col("df"), lit(0L)).as("df"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("fp")))).as("ord"))
      .select(col("doc_id"),
        transform(col("ord"), x => x.getField("fp")).as("fps"),
        size(col("ord")).cast("long").as("n"))

  /** Prefix rows (doc_id, n, fp): the first n − ceil(t·n) + 1 ordered
    * fps (the 1e-9 slack can only LENGTHEN a prefix — double rounding
    * never shortens one below the lemma's bound).
    */
  private def prefixOf(sets: DataFrame, t: Column): DataFrame =
    sets.select(col("doc_id"), col("n"),
      explode(slice(col("fps"), lit(1),
        (col("n") - ceil(col("n") * t - lit(1e-9)) + 1).cast("int"))).as("fp"))

  /** Exact verification: full sets re-enter by 8-byte id, only for
    * candidate pairs; the threshold filter uses the UNROUNDED quotient
    * of two exact integers (see [[prefixSimilarityJoinStage]]), the
    * emitted `jaccard` is display-rounded.
    */
  private def verifyPairs(cand: DataFrame, setsA: DataFrame,
                          setsB: DataFrame, t: Column): DataFrame =
    cand
      .join(setsA.select(col("doc_id").as("id_a"), col("fps").as("fa"),
        col("n").as("na")), "id_a")
      .join(setsB.select(col("doc_id").as("id_b"), col("fps").as("fb"),
        col("n").as("nb")), "id_b")
      // the expensive intersect materializes ONCE as an attribute here;
      // CollapseProject will not re-inline a non-cheap expression that
      // the next projection references twice (ADVICE r18 — the old
      // spelling re-evaluated it for the threshold filter and the
      // rounded output)
      .select(col("id_a"), col("id_b"),
        graft.functions.SetFunctions.set_intersect_count(
          col("fa"), col("fb")).cast("long").as("i"),
        (col("na") + col("nb")).as("u"))
      .select(col("id_a"), col("id_b"),
        (col("i") / (col("u") - col("i"))).as("j"),
        graft.functions.AggFunctions.ratioQNN(col("i"),
          col("u") - col("i"), 4).as("jq"))
      .filter(col("j") >= t) // selection on the raw ratio, like the oracle
      .select(col("id_a"), col("id_b"), col("jq").as("jaccard"))

  /** EXACT incremental set-similarity: every (incoming, corpus) pair with
    * Jaccard >= threshold — the exact counterpart of the LSH-based
    * [[dedupAgainstCorpusStage]] (q86), for the daily-ingestion sweep that
    * must be provably complete (contamination audits, legal-hold dedup).
    *
    * The corpus NEVER self-joins: candidates are incoming-prefix ×
    * corpus-prefix on the fingerprint. Both prefixes order by ONE global
    * key — the CORPUS document frequency (the stored artifact production
    * precomputes), ties by fp; incoming-only tokens coalesce to df 0.
    * The prefix lemma needs only a shared total order, so completeness
    * is unconditional — a stale corpus df costs pruning efficiency,
    * never a missed pair. Output: (id_a = incoming doc, id_b = corpus
    * doc, jaccard).
    */
  def prefixJoinAgainstCorpusStage(corpus: DataFrame, incoming: DataFrame,
                                   threshold: Double): Stage = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val t = lit(threshold)
    // materialized, not just persisted (r20): both fp relations and both
    // ordered-set folds fan out into several exchange subtrees of one
    // action — a lazily-persisted cache was raced and recomputed per
    // consumer (see [[Stages.materialized]])
    val corpInv = materialized(shingleFps(corpus))
    val incInv = materialized(shingleFps(incoming))
    val dfRel = corpInv.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    // persisted (r19): each side's ordered-set fold feeds its prefix
    // relation AND its verify leg — see prefixSimilarityJoinStage
    val corpSets = materialized(orderedSets(corpInv, dfRel))
    val incSets = materialized(orderedSets(incInv, dfRel))
    val cand = prefixOf(incSets, t).as("a")
      .join(prefixOf(corpSets, t).as("b"),
        col("a.fp") === col("b.fp") &&
          col("a.n") >= col("b.n") * t - lit(1e-9) &&
          col("b.n") >= col("a.n") * t - lit(1e-9))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared_prefix"))
      .select(col("id_a"), col("id_b"))
    Stage(verifyPairs(cand, incSets, corpSets, t),
      Seq(corpInv, incInv, corpSets, incSets))
  }

  /** EXACT containment-similarity join: every (needle, corpus) pair with
    * C(a→b) = |Sa∩Sb| / |Sa| >= threshold — the ASYMMETRIC measure the
    * symmetric Jaccard family (q154/q158) structurally cannot express:
    * a benchmark item verbatim inside a 100×-longer web page has
    * containment ~1.0 but Jaccard ~1/100, so a Jaccard sweep at any
    * usable threshold misses exactly the leak a contamination audit
    * exists to find. This is the set-theoretic upgrade of the
    * any-shared-shingle flag (q122's decontamination report): graded
    * BY the needle's own size, robust to the needle's phrasing
    * appearing piecemeal.
    *
    * Candidate completeness: if |Sa∩Sb| >= ceil(t·|Sa|), then among the
    * first |Sa| − ceil(t·|Sa|) + 1 elements of Sa under ANY fixed total
    * order at least one is in Sb (else the intersection fits in the
    * remaining ceil(t·|Sa|) − 1). So the needle's PREFIX — the same
    * [[prefixOf]] relation as the Jaccard joins, under the same
    * (corpus-df asc, fp) order — equi-joins against the corpus FULL
    * fingerprint relation; there is no corpus-side prefix and no length
    * filter, because containment constrains nothing about |Sb|.
    *
    * Scale shape: the corpus side is an INDEX PROBE, not a self-join —
    * cost = Σ over needle-prefix fps of their corpus df, and the
    * df-ascending order puts each needle's RAREST shingles in its
    * prefix, so global boilerplate never drives the fan-out (it enters
    * a prefix only for a needle made almost entirely of hot shingles).
    * Verification never folds a corpus doc into an array (unlike the
    * Jaccard joins, where the ordered sets already exist for BOTH
    * sides' prefixes): the intersection is COUNTED by an equi-join of
    * candidate-expanded needle fps against the corpus fp relation on
    * (doc, fp) — candidates × |Sa| rows, needle sets benchmark-sized —
    * so no corpus-wide sort_array runs just to check a few pairs.
    */
  def containmentJoinAgainstCorpusStage(corpus: DataFrame, needles: DataFrame,
                                        threshold: Double): Stage = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val t = lit(threshold)
    // lazily persisted: the broadcast needle-fp build inside corpInv's
    // count below is the first (single) consumer and populates the
    // cache; the later needle-side subtrees read it
    val needInv = persisted(shingleFps(needles))
    // needle-fp semi filter (r20, guide §3.1/§6): EVERY consumer of the
    // corpus fp relation joins on fps that occur in some needle — the df
    // aggregate orders only needle shingles (orderedSets looks up needle
    // fps; absent ones coalesce to 0 either way), the candidate probe
    // equi-joins the needle prefix, and the verify join's fp comes from
    // the needle side — so corpus rows carrying any other fp can never
    // contribute and are dropped BEFORE the corpus-side shuffles. The
    // broadcast is the distinct needle fp set: 8 bytes per distinct
    // needle shingle, audit-sized by the operator's contract (the same
    // posture as decontaminationReport's broadcast(bfp)). Retained fps
    // keep their EXACT corpus df (the filter drops no row of a retained
    // fp), so the prefix order — and the output — is unchanged.
    val corpInv = materialized(
      shingleFps(corpus)
        .join(broadcast(needInv.select(col("fp")).distinct()),
          Seq("fp"), "left_semi"))
    val dfRel = corpInv.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    // materialized: the fold feeds the prefix relation AND the verify's
    // needle leg — independent leaves of one action (see
    // [[Stages.materialized]])
    val needSets = materialized(orderedSets(needInv, dfRel))
    val cand = prefixOf(needSets, t).as("a")
      .join(corpInv.select(col("doc_id").as("cid"), col("fp")), Seq("fp"))
      .groupBy(col("doc_id").as("id_a"), col("cid").as("id_b"))
      .agg(count(lit(1)).as("n_shared_prefix"))
      .select(col("id_a"), col("id_b"))
    // Verification (r20): per-pair set_intersect_count over the folded
    // sets, the q154 verify shape — the fp-level spelling expanded every
    // candidate by |Sa| (candidates × needle-set rows through two joins
    // and a pair groupBy). |Sa ∩ Sb| = |Sa ∩ (Sb ∩ needleFps)| because
    // Sa ⊆ needleFps, so counting against the FILTERED corpus fold is
    // exact; and the corpus-side fold this operator's contract forbids
    // at corpus scale is now over the needle-MATCHED rows only (the
    // semi-filtered relation — audit-overlap-sized by construction, and
    // only docs sharing a prefix fp ever reach the join). na = |Sa| is
    // the fold's own n — the separate needle-count aggregate is gone.
    val corpSets = corpInv.groupBy(col("doc_id"))
      .agg(collect_list(col("fp")).as("fb"))
    val verified = cand
      .join(needSets.select(col("doc_id").as("id_a"), col("fps").as("fa"),
        col("n").as("na")), "id_a")
      .join(corpSets.select(col("doc_id").as("id_b"), col("fb")), "id_b")
      // the count leaves through a one-element explode, a Generate node:
      // the optimizer neither merges it into the projection above nor
      // pushes the threshold filter below it, so the kernel runs once per
      // candidate pair. A plain projected `i` would be substituted into
      // the pushed-down filter, which becomes a join condition: two
      // kernel calls per pair.
      .select(col("id_a"), col("id_b"), col("na"),
        explode(array(graft.functions.SetFunctions.set_intersect_count(
          col("fa"), col("fb")).cast("long"))).as("i"))
      .select(col("id_a"), col("id_b"), (col("i") / col("na")).as("c"),
        graft.functions.AggFunctions.ratioQ(
          col("i"), col("na"), 4).as("cq"))
      .filter(col("c") >= t) // selection on the raw ratio, like the oracle
      .select(col("id_a"), col("id_b"), col("cq").as("containment"))
    Stage(verified, Seq(corpInv, needInv, needSets))
  }
}
