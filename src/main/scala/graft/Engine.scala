package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.functions.{CmsQuery, CountMinAgg, HistogramAgg, LangPredict, MinHashSig, ParseMedia, PunctCount, SimHash16, SimHash64, StopwordScores, VectorDot, WordShingles}

/** Session wiring for the graft engine.
  *
  * [[GraftExtensions]] registers the custom Catalyst expressions with the
  * function registry so SQL users can call them
  * (`SELECT vec_dot(a.embedding, b.embedding) ...`) — plug in with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or through
  * [[Engine.builder]].
  *
  * [[Engine.builder]] carries the cluster-posture defaults; everything here
  * is sized for "1000 executors reading 100 TB" and merely harmless on
  * local[32]:
  *  - AQE on (runtime re-plan, skew-join splitting, partition coalescing)
  *    so one static `shuffle.partitions` setting survives both 60 k-row
  *    tests and 100 TB runs.
  *  - RocksDB state store for streaming aggregations: state size at scale
  *    (|windows × panels × modules|) exceeds executor heap; RocksDB spills
  *    to local disk and checkpoints incrementally.
  *  - UTC session timezone pinned: window boundaries must not depend on
  *    cluster locale.
  *  - Generated code compiled once per JVM. Spark keeps 100 compiled
  *    classes by default; one pass of the 21 benchmark headline queries
  *    generates about 300, so LRU evicted every class before its next use
  *    and each run of a query recompiled its whole-stage code (traced
  *    timed passes on a 4-CPU host compiled 268–309 classes in
  *    3.0–4.4 s). The cache holds
  *    [[Engine.CodegenCacheEntries]] = 4096 classes: a full `graft.Verify`
  *    run at sf0.01 with an unbounded cache compiles 2,232 distinct classes
  *    (2,758 with stage ids in the class names, see below; a class counts
  *    once per class loader, driver and executor). A cached class costs
  *    about 40 KB of heap and metaspace (source text, bytecode, loaded
  *    class): about 12 MB for the benchmark's 300, 90 MB for the Verify
  *    run, at most about 160 MB when full.
  *  - Whole-stage class names without the codegen stage id
  *    (`spark.sql.codegen.useIdInClassName`). The id is part of the
  *    source, and AQE numbers a query's stages in the order it plans
  *    them, which can change from run to run: the same stage came back
  *    under another id and missed the cache (q83 and q84 did in timed
  *    benchmark passes).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

    def info(name: String, usage: String) =
      new ExpressionInfo("graft.functions", null, name, usage,
        "", "", "", "misc_funcs", "", "", "built-in")

    ext.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - double dot product of two numeric arrays"),
      (es: Seq[Expression]) => VectorDot(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("vec_cosine"),
      info("vec_cosine", "vec_cosine(a, b) - one-pass cosine similarity of two numeric arrays"),
      (es: Seq[Expression]) => graft.functions.VectorCosine(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("quant_stats"),
      info("quant_stats",
        "quant_stats(vec) - struct(amax, q_sum, max_err) int8-quantization stats"),
      (es: Seq[Expression]) => graft.functions.QuantizeInt8Stats(es(0))))
    ext.injectFunction((FunctionIdentifier("word_shingles"),
      info("word_shingles", "word_shingles(text, n) - word n-gram shingles"),
      (es: Seq[Expression]) => WordShingles(es(0),
        es(1).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((FunctionIdentifier("min_hash_sig"),
      info("min_hash_sig", "min_hash_sig(shingles, k) - md5 minhash signature"),
      (es: Seq[Expression]) => MinHashSig(es(0),
        es(1).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((FunctionIdentifier("sim_hash16"),
      info("sim_hash16", "sim_hash16(tokens) - 16-bit simhash fingerprint"),
      (es: Seq[Expression]) => SimHash16(es(0))))
    ext.injectFunction((FunctionIdentifier("sim_hash64"),
      info("sim_hash64", "sim_hash64(tokens) - 64-bit simhash fingerprint"),
      (es: Seq[Expression]) => SimHash64(es(0))))
    ext.injectFunction((FunctionIdentifier("punct_count"),
      info("punct_count", "punct_count(lowered_text) - codepoints outside [a-z0-9 ]"),
      (es: Seq[Expression]) => PunctCount(es(0))))
    // the SQL forms bind the engine's standard dictionaries — a SQL user
    // gets the same language model the DataFrame operators use
    ext.injectFunction((FunctionIdentifier("lang_predict"),
      info("lang_predict", "lang_predict(tokens) - argmax stopword language, 'und' if none"),
      (es: Seq[Expression]) => LangPredict(es(0),
        graft.operators.TextAnalysis.StopwordDicts.map(_._2),
        graft.operators.TextAnalysis.StopwordDicts.map(_._1))))
    ext.injectFunction((FunctionIdentifier("stopword_scores"),
      info("stopword_scores", "stopword_scores(tokens) - per-dictionary stopword counts"),
      (es: Seq[Expression]) => StopwordScores(es(0),
        graft.operators.TextAnalysis.StopwordDicts.map(_._2))))

    ext.injectFunction((FunctionIdentifier("parse_media"),
      info("parse_media",
        "parse_media(payload) - media header metadata struct (png/jpeg/wav)"),
      (es: Seq[Expression]) => ParseMedia(es(0))))
    // pixel/sample-level media functions (r15), so SQL users get the
    // same decode surface as the DataFrame operators
    ext.injectFunction((FunctionIdentifier("image_dhash"),
      info("image_dhash",
        "image_dhash(payload) - struct(width, height, dhash) from a PNG payload"),
      (es: Seq[Expression]) => graft.functions.ImageDhash(es(0))))
    ext.injectFunction((FunctionIdentifier("image_resize"),
      info("image_resize",
        "image_resize(payload, tw, th) - area-average grayscale PNG thumbnail"),
      (es: Seq[Expression]) => graft.functions.ImageResize(es(0),
        es(1).eval().asInstanceOf[Number].intValue(),
        es(2).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((FunctionIdentifier("audio_stats"),
      info("audio_stats",
        "audio_stats(payload) - PCM WAV sample stats + block-energy fingerprint"),
      (es: Seq[Expression]) => graft.functions.AudioStats(es(0))))
    ext.injectFunction((FunctionIdentifier("video_frames"),
      info("video_frames",
        "video_frames(payload) - GVID container split into frame payloads"),
      (es: Seq[Expression]) => graft.functions.VideoFrames(es(0))))

    // Custom AGGREGATES (+ the sketch probe), so the SQL surface matches
    // the DataFrame surface (VERDICT r4 #4). A bare AggregateFunction
    // returned from a builder is wrapped in AggregateExpression by the
    // analyzer, exactly like the built-in registry entries. The size
    // parameters must be literals (eval'd at resolution); children are
    // cast to the buffer types the aggregates expect, mirroring
    // AggFunctions' Column-side casts.
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{LongType, StringType}
    def intArg(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()
    ext.injectFunction((FunctionIdentifier("histogram_agg"),
      info("histogram_agg",
        "histogram_agg(x, nBuckets, width) - exact integer histogram (array of bucket counts)"),
      (es: Seq[Expression]) => HistogramAgg(Cast(es(0), LongType),
        intArg(es(1)), es(2).eval().asInstanceOf[Number].longValue())))
    ext.injectFunction((FunctionIdentifier("count_min_agg"),
      info("count_min_agg",
        "count_min_agg(key, depth, width) - Count-Min sketch (depth x width counters)"),
      (es: Seq[Expression]) => CountMinAgg(Cast(es(0), StringType),
        intArg(es(1)), intArg(es(2)))))
    ext.injectFunction((FunctionIdentifier("cms_query"),
      info("cms_query",
        "cms_query(sketch, key, depth, width) - point estimate from a count_min_agg sketch"),
      (es: Seq[Expression]) => CmsQuery(es(0), Cast(es(1), StringType),
        intArg(es(2)), intArg(es(3)))))

    // Optimizer rules (r15): plan-level rewrites of scale-killer shapes —
    // keyless joins whose condition is really a bucketable geometry. A
    // SQL user who writes the naive predicate gets the equi-join plan the
    // operators hand-build. Order matters: a condition carrying BOTH a
    // hamming bound and an id/time window takes the hamming buckets, and
    // the band rule then sees an equi key and stands down.
    ext.injectOptimizerRule(_ => graft.plans.HammingJoinRewrite)
    ext.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
    // r17: OR-of-equalities joins (the record-linkage spelling) decompose
    // into a multiplicity-exact union of hash joins; runs last — its
    // branch joins carry equi keys, so every rule stands down on them
    ext.injectOptimizerRule(_ => graft.plans.DisjunctiveJoinRewrite)
    // r18: aggregations over a base relation a registered materialized
    // summary can answer exactly roll up from the summary instead —
    // self-quiescing (a rewritten aggregate reads the VIEW relation,
    // which is never a registered base)
    ext.injectOptimizerRule(_ => graft.plans.MvRewrite)
  }
}

object Engine {

  /** `spark.sql.codegen.cache.maxEntries`: distinct generated classes
    * Spark keeps compiled (see class doc for the measurement). A static
    * conf, so it can only be set when the session is built.
    */
  val CodegenCacheEntries: Int = 4096

  /** Cluster-posture session builder (see class doc). `master` defaults to
    * whatever the environment provides (spark-submit / tests set it).
    */
  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // NOTE (r20, measured and REJECTED):
      // spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true
      // lets AQE coalesce cached-plan partitions by bytes — it collapsed
      // the 32-near-empty-task overhead of every tiny fp/sketch/stats
      // cache (q154 327 -> 36 tasks, q158 summed task-s 69 -> 1.9) but
      // ALSO coalesced CPU-dense caches to one partition, serializing
      // the map work above them (full-bench A/B: q119 5.4 -> 14.4 s,
      // q11 1.6 -> 3.1 s — the LSH shingle/band compute ran one-task).
      // Byte-based coalescing cannot see compute amplification (the r19
      // cellSalt lesson), so the conf stays at its default (false).
      .config("spark.sql.session.timeZone", "UTC")
      // let DSv2 scans report keyed partitioning (SupportsReportPartitioning
      // + HasPartitionKey): a connector whose partitions ARE the grouping
      // key — e.g. solar-sim's per-panel partitions — aggregates without an
      // Exchange, the per-partition-consumer shape of a Kafka topology
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.codegen.useIdInClassName", "false")
}
