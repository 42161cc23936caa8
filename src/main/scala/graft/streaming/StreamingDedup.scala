package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Stage, Stages, TextAnalysis}

/** Streaming deduplication over a document stream (SURVEY.md §2.14).
  *
  * State posture at 100 TB: keying dedup state by the 16-byte content
  * fingerprint (never the document text) keeps the state store compact, and
  * `dropDuplicatesWithinWatermark` bounds it by event time — state for a
  * fingerprint is evicted once the watermark passes it, which is the only
  * way streaming dedup survives unbounded input. Exact-forever dedup
  * (plain `dropDuplicates`) is provided for bounded/replay jobs where the
  * fingerprint universe fits the state store.
  */
object StreamingDedup {

  /** Fingerprint + event-time projection: (ts, doc_id, fp). */
  def fingerprinted(docsStream: DataFrame): DataFrame =
    docsStream.select(col("ts"), col("doc_id"),
      md5(TextAnalysis.normalized(col("text"))).as("fp"))

  /** Keep the first document per content fingerprint, with state bounded by
    * the watermark: duplicates arriving within `watermarkDelay` of the
    * original are dropped; state older than the watermark is evicted.
    */
  def dedupWithinWatermark(docsStream: DataFrame,
                           watermarkDelay: String = "10 minutes"): DataFrame =
    fingerprinted(docsStream)
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")

  /** Exact dedup across the whole stream history (unbounded state — only
    * for bounded replays).
    */
  def dedupExact(docsStream: DataFrame): DataFrame =
    fingerprinted(docsStream).dropDuplicates("fp")

  /** Streaming twin of [[graft.operators.Dedup.dedupAgainstCorpusStage]]'s
    * near-dup arm: each streamed document's LSH bands probe a STATIC
    * corpus band index (stream-static join — stateless, no store), exact
    * Jaccard verifies the candidates, and the only stateful operator is
    * the watermark-bounded dedup of (doc_id, corp_id) matches (a pair can
    * collide in several bands). Emits one row per (incoming doc, corpus
    * near-dup) — the "today's crawl vs the living corpus" check as a
    * continuous query. The corpus index and shingle relations are what
    * production precomputes; at scale they arrive as parquet, not a
    * recomputation.
    */
  def nearDupsAgainstCorpusStage(docsStream: DataFrame, corpus: DataFrame,
                                 threshold: Double = 0.5,
                                 watermarkDelay: String = "10 minutes"): Stage = {
    import graft.operators.Dedup
    // the static side of a stream-static join re-evaluates EVERY
    // micro-batch — persist the one-scan corpus index so each batch pays
    // a cache read, not a corpus re-shingle (production reads
    // precomputed parquet; the stage handle releases it on query stop)
    val corpIdx = Stages.persisted(Dedup.dedupIndex(corpus))
    val corpBands = Dedup.bandsFromIndex(corpIdx)
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("corp_id"))
    val corpSh = corpIdx.select(col("doc_id").as("corp_id"),
      col("sh").as("sh_corp"))
    // each document shingles once; the signature derives from the
    // distinct set (min over a multiset = min over its set), and the
    // band hashes from the signature. A shingle-less document explodes
    // to no rows: a Filter on `sh_in` would be pushed below its
    // projection and shingle every document a second time.
    val inBands = docsStream
      .select(col("ts"), col("doc_id"),
        array_distinct(Dedup.shingles(col("text"))).as("sh_in"))
      .select(col("ts"), col("doc_id"), col("sh_in"),
        Dedup.minhashSignature(col("sh_in"), Dedup.MinhashK).as("sig"))
      .select(col("ts"), col("doc_id"), col("sh_in"),
        posexplode(when(size(col("sh_in")) > 0,
          Dedup.bandHashes(col("sig")))))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
    val result = inBands
      .join(corpBands, Seq("band_idx", "band_hash"))
      .join(corpSh, "corp_id")
      .select(col("ts"), col("doc_id"), col("corp_id"),
        Dedup.jaccardQ(col("sh_in"), col("sh_corp")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("doc_id", "corp_id")
    Stage(result, Seq(corpIdx))
  }

  /** Streaming twin of [[graft.operators.EditDistance
    * .editDistanceAgainstCorpusStage]]: each streamed name's probe substrings
    * hit a STATIC corpus segment index (stream-static equi-join —
    * stateless, no store), the exact early-exit levenshtein verifies
    * candidates, and the only stateful operator is the watermark-bounded
    * dedup of (incoming id, corpus id) matches (a pair can match several
    * segment windows). Runs UNSTRIPPED: the common-affix optimization
    * needs the affix shared by every string that can ever pair, which an
    * unbounded stream cannot promise — stripping is a pruning
    * optimization, never a correctness requirement, so the streaming
    * form trades the pruning for unconditional safety (a
    * constant-affix-heavy corpus belongs on the batch incremental path).
    * Corpus strings shorter than k+1 chars ride a broadcast length-band
    * side branch (a finite ≤ 2k-char set by the same pigeonhole-floor
    * argument as the batch form).
    */
  def editDistanceAgainstCorpusStreamStage(namesStream: DataFrame,
      corpus: DataFrame, idCol: String, strCol: String, k: Int,
      watermarkDelay: String = "10 minutes"): Stage = {
    import graft.operators.EditDistance
    val corpIds = Stages.persisted(corpus
      .select(col(idCol).as("id_corp"), col(strCol).as("s"))
      .filter(col("s").isNotNull))
    val corpD = corpIds.select(col("s").as("c")).distinct()
    val corpIdx = Stages.persisted(EditDistance.segIndex(corpD, k))
    val in = namesStream
      .select(col("ts"), col(idCol).as("id"), col(strCol).as("c"))
      .filter(col("c").isNotNull)
    val segCand = EditDistance.segProbeKeep(in, "c", k)
      .join(corpIdx, Seq("seg", "i", "lt"))
      .select(col("ts"), col("id"), col("c"), col("t"))
    val shortCand = in.filter(length(col("c")) <= 2 * k)
      .join(broadcast(corpD.select(col("c").as("t"))
          .filter(length(col("t")) <= 2 * k)),
        least(length(col("c")), length(col("t"))) <= k &&
          abs(length(col("c")) - length(col("t"))) <= k)
      .select(col("ts"), col("id"), col("c"), col("t"))
    val result = segCand.unionByName(shortCand)
      .select(col("ts"), col("id"), col("t"),
        levenshtein(col("c"), col("t"), k).as("dist"))
      .filter(col("dist") >= 0)
      .join(corpIds.select(col("s").as("t"), col("id_corp")), "t")
      .select(col("ts"), col("id"), col("id_corp"), col("dist"))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("id", "id_corp")
    Stage(result, Seq(corpIdx, corpIds))
  }
}
