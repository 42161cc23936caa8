package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.bpe_apply

/** Byte-pair-encoding tokenizer TRAINING (Sennrich et al., ACL 2016) — the
  * piece of an LLM data pipeline that comes before everything tokenized:
  * learn the `nMerges` highest-count adjacent symbol merges over the
  * corpus word distribution, character-seeded.
  *
  * Scale shape: the corpus is scanned ONCE — training runs entirely on
  * the persisted (word, count, symbols) vocabulary relation, which is
  * vocab-sized, not corpus-sized (the classic BPE trick: pair counts
  * weight by word frequency instead of touching word instances). Pair
  * counting follows the standard convention (all adjacent pairs,
  * overlapping included); merge APPLICATION is greedy left-to-right
  * non-overlapping ([[graft.functions.BpeApply]]). Ties break
  * lexicographically on the pair, so training is deterministic.
  *
  * Realistic merge counts (VERDICT r6 #2 — a production vocab is
  * 30k-100k merges, not 8):
  *  - BATCHED rounds: each aggregate collects the top `batchK+1` pairs
  *    and applies the longest rank-prefix that is pairwise symbol-
  *    disjoint with counts STRICTLY above the first pair it cannot take
  *    (see [[acceptBatch]] for why that exactly preserves the
  *    sequential greedy order, ties included) — cutting driver
  *    round-trips by roughly the batch size;
  *  - LINEAGE CHECKPOINTS: each batch stacks `bpe_apply` projections on
  *    the vocab relation, so every ~[[CheckpointEvery]] applied merges
  *    the relation is eagerly `localCheckpoint`ed (flat plans at any
  *    merge count — the q52 [[Dedup.starClusters]] discipline) and the
  *    predecessor checkpoint's blocks are released through the raw-RDD
  *    handle. On a real cluster swap in reliable `checkpoint`.
  *
  * Oracle story (r13 — the exemption is RETIRED): the batched rounds are
  * bit-identical to sequential greedy training by the [[acceptBatch]]
  * prefix proof, and sequential training IS SQL-expressible with the
  * merge count as a literal — q98's oracle generates one CTE round per
  * merge (pair-count aggregate → argmax with the exact (cnt DESC, pair
  * ASC) tie-break → a left-to-right non-overlapping `replace` over the
  * boundary-wrapped string form), so the full training loop hash-gates
  * against an independent DuckDB re-derivation
  * ([[graft.SparkEntry.bpeTrainOracleSql]]).
  */
object Bpe {

  /** Checkpoint cadence in applied merges: frequent enough that plan
    * depth stays bounded (≤ ~25 stacked `bpe_apply` columns), rare
    * enough that materializing the vocab-sized relation stays a rounding
    * error next to the pair aggregates.
    */
  val CheckpointEvery = 25

  /** Default per-aggregate batch width (top batchK+1 pairs collected —
    * a few KB on the driver; the accepted subset is usually smaller).
    */
  val DefaultBatchK = 32

  /** The learned merge table and the vocabulary in its final
    * segmentation, plus the cache handle: `base` is the DataFrame that
    * was actually persisted (unpersisting the derived `vocab` plan would
    * be a no-op — `Dataset.unpersist` only matches its own plan), and
    * `vocab` may additionally be checkpoint-backed, so the handle also
    * releases its raw-RDD blocks ([[Stages.releaseCheckpoint]]:
    * neither `clearCache` nor `unpersist` covers checkpoint RDDs).
    */
  case class BpeModel(merges: DataFrame, vocab: DataFrame, base: DataFrame) {
    def unpersist(): Unit = {
      base.unpersist()
      Stages.releaseCheckpoint(vocab)
    }
  }

  /** The longest usable rank-prefix of one round's top pairs, such that
    * applying the whole batch in one projection is bit-identical to
    * applying its members in `acceptBatch.size` sequential greedy rounds:
    *
    *  1. the accepted pairs are a PREFIX of the (count desc, pair asc)
    *     order and pairwise share no symbol — disjoint merges cannot
    *     change each other's counts, so the sequential argmax would pick
    *     them in exactly this order;
    *  2. counts must be STRICTLY above the cutoff (the first pair not
    *     taken — because it shares a symbol with the prefix, collides by
    *     merged string, or sits past the collected window): any pair a
    *     merge can CREATE is fresh (guard 4) with count bounded by a
    *     destroyed pair's count, destroyed pairs all share a symbol with
    *     the prefix, and every sharing pair sits at or below the
    *     disjointness stop in the total order — so strictly-above-cutoff
    *     picks can never be overtaken, while a tie AT the cutoff could
    *     lose the lexicographic tiebreak to a freshly created pair and
    *     must re-run through the next aggregate;
    *  3. if the collected window holds ALL remaining pairs, they are
    *     pairwise disjoint, and none is a self-pair, every adjacency
    *     "x a b" that could mint a new pair would itself put (x, a) in
    *     the pair list and make it interact — so no new pairs can appear
    *     at all (string collisions are then moot) and the whole window
    *     is safe to take. A self-pair breaks that argument from inside:
    *     merging ("a","a") on a run "aaa" mints ("aa","a") without any
    *     second pair in the list, so self-pairs route through the
    *     cutoff path (their minted pairs are fresh and cutoff-bounded).
    *  4. the prefix additionally stops at the first MERGED-STRING
    *     collision (ADVICE r7): if `a+b` equals a symbol minted by a
    *     PRIOR round (`priorMerged` — complete registry of multi-char
    *     symbols, since seeds are single chars) or by an earlier member
    *     of this batch ('a'+'bc' and 'ab'+'c' both minting "abc"), the
    *     created occurrences would ADD to an existing pair's ≤cutoff
    *     count — up to 2×cutoff, enough to overtake a later accepted
    *     pair — so the colliding merge re-runs through the next
    *     aggregate instead. Truncating the prefix keeps the proof: the
    *     cutoff only rises, and sharing pairs still sit at or below the
    *     disjointness stop.
    *
    * Falls back to the top pair alone (always the true argmax — one
    * accepted merge IS one sequential round) when the strict filter
    * would empty the batch.
    */
  private[graft] def acceptBatch(rows: Seq[(String, Long)], windowK: Int,
                                 priorMerged: Set[String] = Set.empty)
      : Seq[(String, Long)] = {
    if (rows.isEmpty) return Nil
    val parsed = rows.map { case (p, c) =>
      val Array(a, b) = p.split(" ", 2); (a, b, c)
    }
    // pass 1: symbol-disjointness prefix
    var syms = Set.empty[String]
    var stop = -1
    var i = 0
    while (i < parsed.length && stop < 0) {
      val (a, b, _) = parsed(i)
      if (i > 0 && (syms(a) || syms(b))) stop = i
      else { syms += a; syms += b; i += 1 }
    }
    if (stop < 0 && rows.length <= windowK &&
        parsed.forall(p => p._1 != p._2))
      return rows // condition 3: exhausted + disjoint + no self-pair
    // pass 2: truncate at the first merged-string collision or self-pair
    val lim0 = math.min(if (stop >= 0) stop else windowK, rows.length)
    var minted = Set.empty[String]
    var colStop = -1
    var k = 0
    while (k < lim0 && colStop < 0) {
      val (a, b, _) = parsed(k)
      val m = a + b
      if (priorMerged(m) || minted(m) || a == b)
        colStop = math.max(k, 1) // top pair alone is always safe
      else { minted += m; k += 1 }
    }
    val lim = if (colStop >= 0) colStop else lim0
    val accepted =
      if (lim >= rows.length) rows.take(lim)
      else {
        val cutoff = rows(lim)._2
        rows.take(lim).filter(_._2 > cutoff)
      }
    if (accepted.isEmpty) rows.take(1) else accepted
  }

  def train(docs: DataFrame, nMerges: Int,
            batchK: Int = DefaultBatchK): BpeModel = {
    val base = Stages.persisted(docs
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("wcount"))
      .withColumn("sym", split(col("word"), "")))
    // Training cost scales with the VOCABULARY, not the corpus — and a
    // sub-threshold vocabulary is driver-sized, where the whole fixpoint
    // is a hash-map loop instead of ~2 Spark jobs per batch round, each
    // re-evaluating the stacked bpe_apply projections over the vocab
    // relation (r19, guide §5: ProbeJobs measured q118 at 98 jobs /
    // 70 task-seconds, nearly all of it this loop). The driver trainer
    // replays the distributed loop operation for operation (same counts,
    // same (cnt desc, pair asc-by-UTF-8-bytes) order, same acceptBatch,
    // same left-to-right merge application), so the learned table is
    // bit-identical — BpeLocalSpec pins driver ≡ distributed, BpeSpec's
    // seq-vs-batch and encode pins run through it unchanged. The
    // threshold is session-configurable (`graft.bpe.driverMaxVocab`;
    // 0 forces the distributed path) — a 100 TB corpus vocabulary blows
    // past it and trains distributed exactly as before.
    def longConf(key: String, dflt: Long): Long = {
      val raw = docs.sparkSession.conf.getOption(key)
      try raw.map(_.toLong).getOrElse(dflt)
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$key must be a long, got '${raw.get}'")
      }
    }
    val driverMax = longConf("graft.bpe.driverMaxVocab", 1L << 21)
    // the driver loop costs O(vocab × nMerges) merge applications, so the
    // gate also bounds the WORK PRODUCT (ADVICE r19): a vocabulary just
    // under the size threshold with production-scale merge counts
    // (30k–100k) would be far slower single-threaded than the distributed
    // path it replaces — default 2^27 keeps every benched shape (≤ ~10^5
    // vocab × ≤ 64 merges) on the driver and routes 2M-word × 30k-merge
    // production fits distributed
    val workMax = longConf("graft.bpe.driverMaxWork", 1L << 27)
    // the count also materializes the persist both paths re-read
    val vocabN = base.count()
    if (vocabN <= driverMax && vocabN * math.max(1L, nMerges.toLong) <= workMax)
      trainLocal(docs.sparkSession, base, nMerges, batchK)
    else trainDistributed(docs.sparkSession, base, nMerges, batchK)
  }

  /** One UTF-8 character per element — `split(word, "")`'s empty-pattern
    * special case (UTF8String.split emits numChars elements, one per
    * code point; no trailing empty), which is also exactly how
    * [[graft.functions.BpeEncode]] seeds.
    */
  private def splitChars(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** UTF-8 binary order — UTF8String.compareTo, the order the
    * distributed `orderBy(col("pair").asc)` tie-break sorts by.
    */
  private def utf8Less(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** [[graft.functions.BpeApply]]'s single left-to-right non-overlapping
    * pass, on a driver-side symbol array.
    */
  private def bpeApplyLocal(syms: Array[String], a: String,
                            b: String): Array[String] = {
    val out = new Array[String](syms.length)
    var i = 0
    var o = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out(o) = a + b; i += 2
      } else { out(o) = syms(i); i += 1 }
      o += 1
    }
    if (o == syms.length) out else java.util.Arrays.copyOf(out, o)
  }

  /** The driver-side trainer: the distributed batch loop's arithmetic
    * twin over the collected (word, wcount) vocabulary.
    */
  private def trainLocal(spark: org.apache.spark.sql.SparkSession,
                         base: DataFrame, nMerges: Int,
                         batchK: Int): BpeModel = {
    import spark.implicits._
    val rows = base.select(col("word"), col("wcount")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val wcounts = rows.map(_._2)
    val syms: Array[Array[String]] = rows.map { case (w, _) => splitChars(w) }
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var mintedSymbols = Set.empty[String]
    var r = 1
    var done = false
    while (r <= nMerges && !done) {
      val counts = new java.util.HashMap[String, Long]()
      var wi = 0
      while (wi < syms.length) {
        val s = syms(wi)
        if (s.length >= 2) {
          val c = wcounts(wi)
          var i = 0
          while (i < s.length - 1) {
            counts.merge(s(i) + " " + s(i + 1), c, (x, y) => x + y)
            i += 1
          }
        }
        wi += 1
      }
      if (counts.isEmpty) done = true
      else {
        val entries = new Array[(String, Long)](counts.size)
        val it = counts.entrySet().iterator()
        var n = 0
        while (it.hasNext) {
          val e = it.next(); entries(n) = (e.getKey, e.getValue); n += 1
        }
        // (cnt desc, pair asc in UTF-8 binary order) — the distributed
        // orderBy's exact total order, truncated to the batch window
        val top = entries.sortWith { case ((pa, ca), (pb, cb)) =>
          if (ca != cb) ca > cb else utf8Less(pa, pb)
        }.take(batchK + 1).toSeq
        val batch = acceptBatch(top, batchK, mintedSymbols)
          .take(nMerges - r + 1)
        batch.foreach { case (pair, cnt) =>
          val Array(a, b) = pair.split(" ", 2)
          merges += ((r, a, b, a + b, cnt))
          mintedSymbols += a + b
          r += 1
          var i = 0
          while (i < syms.length) {
            syms(i) = bpeApplyLocal(syms(i), a, b)
            i += 1
          }
        }
      }
    }
    val vocab = rows.indices
      .map(i => (rows(i)._1, rows(i)._2, syms(i).toSeq))
      .toDF("word", "wcount", "segmentation")
    BpeModel(
      merges.result().toDF("rank", "left", "right", "merged", "pair_count"),
      vocab, base)
  }

  /** The pre-r19 distributed batch loop — the >threshold path, and the
    * reference the BpeLocalSpec equivalence pins against.
    */
  private def trainDistributed(spark: org.apache.spark.sql.SparkSession,
                               base: DataFrame, nMerges: Int,
                               batchK: Int): BpeModel = {
    var tab = base
    var lastCkpt: Option[org.apache.spark.rdd.RDD[_]] = None
    var sinceCkpt = 0
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    // every multi-char symbol in play was minted by a previous merge
    // (seeds are single chars), so this set is the COMPLETE registry
    // acceptBatch needs for its merged-string collision guard
    var mintedSymbols = Set.empty[String]
    var r = 1
    var done = false
    while (r <= nMerges && !done) {
      // all adjacent pairs (overlap allowed — the counting convention),
      // weighted by word frequency; symbols never contain a space, so
      // "a b" is a collision-free pair key
      val top = tab
        .filter(size(col("sym")) >= 2)
        .select(col("wcount"),
          explode(transform(sequence(lit(1), size(col("sym")) - 1), i =>
            concat(element_at(col("sym"), i), lit(" "),
              element_at(col("sym"), i + 1)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("wcount")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(batchK + 1).collect()
        .map(row => (row.getString(0), row.getLong(1))).toSeq
      if (top.isEmpty) done = true
      else {
        val batch = acceptBatch(top, batchK, mintedSymbols).take(nMerges - r + 1)
        tab = batch.foldLeft(tab) { case (t, (pair, cnt)) =>
          val Array(a, b) = pair.split(" ", 2)
          merges += ((r, a, b, a + b, cnt))
          mintedSymbols += a + b
          r += 1
          t.withColumn("sym", bpe_apply(col("sym"), a, b))
        }
        sinceCkpt += batch.size
        if (sinceCkpt >= CheckpointEvery) {
          // flat plans at any merge count; release the superseded
          // checkpoint's blocks through the raw-RDD handle
          tab = tab.localCheckpoint(true)
          lastCkpt.foreach(_.unpersist(false))
          lastCkpt = Stages.checkpointRdd(tab)
          sinceCkpt = 0
        }
      }
    }
    import spark.implicits._
    BpeModel(
      merges.result()
        .toDF("rank", "left", "right", "merged", "pair_count"),
      tab.select(col("word"), col("wcount"),
        col("sym").as("segmentation")),
      base)
  }

  // --- application (VERDICT r8 #1: the inference-side cost an epoch pays) --

  /** Corpus tokenization with a TRAINED merge table, direct form: one
    * [[graft.functions.BpeEncode]] eval per word INSTANCE. Per-word cost
    * is independent of the merge count (rank-priority loop, not stacked
    * per-merge passes), so this is already production-shaped; prefer
    * [[encodeStage]] when the corpus repeats words (always, for natural
    * language).
    *
    * Output: (doc_id, word, pieces array<string>) — one row per word
    * instance, pieces in order. Token counts are `sum(size(pieces))`;
    * flat token streams are `posexplode(pieces)`.
    */
  def encodeDirect(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    docs
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
      .select(col("doc_id"), col("word"),
        graft.functions.TextFunctions.bpe_encode(col("word"), merges).as("pieces"))

  /** The word-memoized encode: segmentations are
    * computed once per DISTINCT word (the trainer's own trick — BPE cost
    * should scale with the vocabulary, not the corpus) and joined back to
    * word instances on the word key. The distinct-word relation is
    * vocab-sized; stats/AQE broadcast it when it fits (no hint — an
    * adversarial corpus of unique words must fall back to a shuffle join
    * rather than OOM the driver). Zipf skew on the join key is harmless:
    * the build side is distinct (one row per word), so a hot word is one
    * hash-table hit, not a hot partition.
    */
  def encodeStage(docs: DataFrame, merges: Seq[(String, String)]): Stage = {
    val words = Stages.persisted(docs
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
      .select(col("word"),
        graft.functions.TextFunctions.bpe_encode(col("word"), merges).as("pieces")))
    val result = docs
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
      .join(words, "word")
      .select(col("doc_id"), col("word"), col("pieces"))
    Stage(result, Seq(words))
  }

  /** The learned merge table alone (q98's gate output). */
  def trainMerges(docs: DataFrame, nMerges: Int): DataFrame = {
    val m = train(docs, nMerges)
    // the merge table is already materialized driver-side; the vocab
    // cache (and any training checkpoint) can go immediately
    m.unpersist()
    m.merges
  }

  /** The learned merge table as driver-side (left, right) pairs in rank
    * order — the form [[graft.functions.BpeEncode]] consumes and the q118
    * oracle interpolates. Tiny by construction (≤ nMerges rows).
    */
  def trainMergePairs(docs: DataFrame, nMerges: Int): Seq[(String, String)] = {
    val m = train(docs, nMerges)
    val pairs = m.merges.orderBy(col("rank"))
      .select(col("left"), col("right"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    m.unpersist()
    pairs
  }

  /** Whole-document tokenization under a trained merge table, one row per
    * DOCUMENT with the full piece stream in document order — the q118
    * apply-gate shape. Kept as a single scan-fused projection (no join, no
    * shuffle): the per-word [[graft.functions.BpeEncode]] runs inside a
    * `transform` lambda over the document's word list, so word order is
    * the array order and the output concatenation is deterministic.
    *
    * Why this is SQL-gateable when training (q98) is not: every corpus
    * word is, by construction, a TRAINING word (same corpus, same
    * tokenization), and for training words encode(word) is bit-identical
    * to applying the merges sequentially in rank order (the BpeSpec
    * equivalence pin) — which a DuckDB oracle replays as nMerges nested
    * `replace` calls over a boundary-wrapped string form `|s1||s2|…|sn|`
    * (symbols never contain the wrap char; `replace` is left-to-right
    * non-overlapping, exactly [[graft.functions.BpeApply]]'s order, and
    * the double separator keeps adjacent matches from sharing characters).
    * At 100 TB: production callers should still prefer the word-memoized
    * [[encodeStage]]; this form prices one encode per word INSTANCE, which
    * is the honest cost of the gate (no join whose plan could hide a
    * dropped word).
    */
  def encodeDocs(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val words =
      filter(TextAnalysis.tokens(lower(col("text"))), w => length(w) > 0)
    docs
      .select(col("doc_id"), words.as("words"))
      .select(col("doc_id"), size(col("words")).as("n_words"),
        flatten(transform(col("words"),
          w => graft.functions.TextFunctions.bpe_encode(w, merges)))
          .as("pieces"))
      .select(col("doc_id"), col("n_words"),
        size(col("pieces")).as("n_tokens"),
        concat_ws(" ", col("pieces")).as("token_str"))
  }

  /** Tokenizer fertility report — the standard tokenizer-evaluation table
    * (fertility = pieces per word; Rust et al., ACL 2021 use it to grade
    * how well a vocabulary fits each language/domain): per source, the
    * corpus's document/word/piece totals, pieces-per-word, and
    * characters-per-piece under a trained merge table. High fertility on
    * a slice means the vocabulary fragments that slice's words — the
    * signal that decides whether a tokenizer is retrained before a run
    * whose budget is counted in TOKENS, not documents.
    *
    * Scale shape: one scan — the per-doc encode is the same scan-fused
    * [[graft.functions.TextFunctions.bpe_encode]] projection q118 gates,
    * reduced by a map-side-combining aggregate to ≤ #sources rows; both
    * ratios derive from integer sums and round at 4 (hash-portable).
    */
  def fertilityReport(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val words =
      filter(TextAnalysis.tokens(lower(col("text"))), w => length(w) > 0)
    docs
      .select(col("source"), words.as("words"))
      .select(col("source"), size(col("words")).as("n_words"),
        flatten(transform(col("words"),
          w => graft.functions.TextFunctions.bpe_encode(w, merges)))
          .as("pieces"))
      .select(col("source"), col("n_words"), size(col("pieces")).as("n_pieces"),
        aggregate(col("pieces"), lit(0L), (a, p) => a + length(p)).as("n_chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_pieces"),
        graft.functions.AggFunctions.ratioQ(
          col("n_pieces"), col("n_words"), 4).as("fertility"),
        graft.functions.AggFunctions.ratioQ(
          col("n_chars"), col("n_pieces"), 4).as("chars_per_piece"))
  }
}
