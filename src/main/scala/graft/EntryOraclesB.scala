package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{AsOf, Bpe, Curation, Dedup, EventAnalytics, Multimodal, RangeJoin, Relational, Similarity, Skew, Solar, TextAnalysis, Windows}
import graft.sources.Tables

/** DuckDB oracle SQL, part B (q86+ families: incremental dedup,
  * clustering, curation, storage layouts, event analytics, learned-
  * artifact replays).
  */
private[graft] trait EntryOraclesB { self: EntryShared =>

  /** Shared CTE chain for the q160/q161 SCD2 replays: the orders feed,
    * null-safe change compaction, and the kept version rows — verbatim in
    * both oracles so the build gate and the enrichment gate cannot drift.
    */
  private def scd2KeptCtes: String =
    """feed AS (
      |  SELECT o_custkey AS custkey, o_orderdate, o_orderkey,
      |         o_orderstatus AS status, o_orderpriority AS priority
      |  FROM orders),
      |marked AS (
      |  SELECT *,
      |         lag(o_orderkey) OVER w IS NULL AS first_obs,
      |         (status IS DISTINCT FROM lag(status) OVER w)
      |           OR (priority IS DISTINCT FROM lag(priority) OVER w)
      |           AS changed
      |  FROM feed
      |  WINDOW w AS (PARTITION BY custkey ORDER BY o_orderdate, o_orderkey)),
      |kept AS (
      |  SELECT custkey, o_orderdate, o_orderkey, status, priority
      |  FROM marked WHERE first_obs OR changed),
      |""".stripMargin

  /** q186's oracle, shared verbatim with q192 (artifact path): both
    * gates must hash-equal the same full-scan DuckDB computation.
    */
  protected val Q186RobustOutliersSql: String =
    s"""WITH e AS (
         |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS y
         |  FROM events),
         |h AS (SELECT g, y, CAST(count(*) AS BIGINT) AS cnt
         |      FROM e GROUP BY 1, 2),
         |hc AS (
         |  SELECT g, y, cnt,
         |         sum(cnt) OVER (PARTITION BY g ORDER BY y
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |         sum(cnt) OVER (PARTITION BY g) AS n
         |  FROM h),
         |med AS (
         |  SELECT g, CAST(max(n) AS BIGINT) AS n,
         |         CAST(min(y) AS BIGINT) AS med
         |  FROM hc WHERE cum >= floor((n + 1) / 2) GROUP BY g),
         |dh AS (
         |  SELECT h.g, m.n, m.med, abs(h.y - m.med) AS dev,
         |         CAST(sum(h.cnt) AS BIGINT) AS cnt
         |  FROM h JOIN med m ON m.g = h.g GROUP BY 1, 2, 3, 4),
         |dhc AS (
         |  SELECT g, n, med, dev, cnt,
         |         sum(cnt) OVER (PARTITION BY g ORDER BY dev
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM dh),
         |mad AS (
         |  SELECT g, CAST(max(n) AS BIGINT) AS n,
         |         CAST(max(med) AS BIGINT) AS med,
         |         CAST(min(dev) AS BIGINT) AS mad
         |  FROM dhc WHERE cum >= floor((n + 1) / 2) GROUP BY g),
         |outl AS (
         |  SELECT d.g,
         |         CAST(coalesce(sum(CASE WHEN d.dev * 10000 > m.mad * 44478
         |           THEN d.cnt ELSE 0 END), 0) AS BIGINT) AS n_outliers
         |  FROM dh d JOIN mad m ON m.g = d.g GROUP BY 1)
         |SELECT m.g, m.n, m.med AS median_cents, m.mad AS mad_cents,
         |       o.n_outliers
         |FROM mad m JOIN outl o ON o.g = m.g""".stripMargin

  protected def oraclesB: Map[String, String] = Map(
    // corpus band index capped like lshStage (QUALIFY); the incoming batch
    // is never self-joined and the corpus never pairs with itself
    "q86_incremental_dedup" ->
      ("WITH " + incrementalBandsSql +
        s"""cb AS (
           |  SELECT doc_id, band_idx, band_hash FROM bands_raw
           |  WHERE source NOT IN ('src0', 'src1')
           |  QUALIFY count(*) OVER (PARTITION BY band_idx, band_hash)
           |    <= ${Dedup.DefaultMaxBucket}),
           |ib AS (SELECT doc_id, band_idx, band_hash FROM bands_raw
           |       WHERE source IN ('src0', 'src1')),
           |cand AS (
           |  SELECT DISTINCT ib.doc_id AS doc_id, cb.doc_id AS corp_id
           |  FROM ib JOIN cb USING (band_idx, band_hash)),
           |dsh AS (SELECT doc_id, list_distinct(sh) AS dsh FROM sh),
           |near AS (
           |  SELECT c.doc_id, count(*) AS n_near
           |  FROM cand c JOIN dsh a ON a.doc_id = c.doc_id
           |              JOIN dsh b ON b.doc_id = c.corp_id
           |  WHERE round(${jaccardSql("a.dsh", "b.dsh")}, 4) >= 0.5
           |  GROUP BY 1),
           |cfp AS (SELECT DISTINCT ('0x' || substr($fpSql, 1, 15))::BIGINT
           |          AS fp64
           |        FROM documents WHERE source NOT IN ('src0', 'src1')),
           |inc AS (SELECT doc_id, ('0x' || substr($fpSql, 1, 15))::BIGINT
           |          AS fp64
           |        FROM documents WHERE source IN ('src0', 'src1'))
           |SELECT inc.doc_id,
           |       CASE WHEN cfp.fp64 IS NOT NULL THEN 1 ELSE 0 END
           |         AS exact_dup,
           |       CAST(coalesce(near.n_near, 0) AS BIGINT) AS n_near,
           |       CAST(cfp.fp64 IS NULL AND coalesce(near.n_near, 0) = 0
           |            AS INT) AS keep
           |FROM inc LEFT JOIN cfp ON cfp.fp64 = inc.fp64
           |         LEFT JOIN near ON near.doc_id = inc.doc_id""".stripMargin),

    // quantile_cont = the same p(n-1) interpolation the two-pass engine
    // path reproduces from histogram + boundary-bucket ranking
    "q87_exact_quantile_twopass" ->
      """SELECT l_returnflag, 0.5 AS p,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS q
        |FROM lineitem GROUP BY 1
        |UNION ALL
        |SELECT l_returnflag, 0.95 AS p,
        |       round(quantile_cont(l_extendedprice, 0.95), 4) AS q
        |FROM lineitem GROUP BY 1""".stripMargin,

    // bigram construction mirrors q70's; prev comes from the bigram
    // string (split at the first space) so both engines fingerprint the
    // same bytes; sub-2-token docs carry NULLs on both sides
    "q88_lm_bigram" ->
      """WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS ltoks
        |            FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ltoks)),
        |           i -> ltoks[i] || ' ' || ltoks[i+1])) AS b
        |  FROM tk WHERE len(ltoks) >= 2),
        |pairs AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(b), 1, 15))::BIGINT AS b_fp,
        |         ('0x' || substr(md5(split_part(b, ' ', 1)), 1, 15))::BIGINT
        |           AS p_fp,
        |         count(*) AS k
        |  FROM bg GROUP BY 1, 2, 3),
        |c2 AS (SELECT b_fp, CAST(sum(k) AS BIGINT) AS c2
        |       FROM pairs GROUP BY 1),
        |c1 AS (SELECT p_fp, CAST(sum(k) AS BIGINT) AS c1
        |       FROM pairs GROUP BY 1),
        |t AS (SELECT count(*) AS v FROM c1),
        |sc AS (
        |  SELECT pairs.doc_id, CAST(sum(k) AS BIGINT) AS nb,
        |         sum(k * -ln((c2.c2 + 1) / CAST(c1.c1 + t.v AS DOUBLE)))
        |           AS nll
        |  FROM pairs JOIN c2 USING (b_fp) JOIN c1 USING (p_fp) CROSS JOIN t
        |  GROUP BY 1)
        |SELECT tk.doc_id, coalesce(sc.nb, 0) AS n_bigrams,
        |       round(sc.nll / sc.nb, 4) AS avg_nll,
        |       round(exp(sc.nll / sc.nb), 4) AS ppl
        |FROM tk LEFT JOIN sc ON sc.doc_id = tk.doc_id""".stripMargin,

    "q89_vocab_coverage" ->
      """WITH tk AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total, count(*) AS vocab
        |      FROM c),
        |top AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 50)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS INT)
        |         AS rank,
        |       tok, cnt,
        |       RATIOQ_CUMCOV AS cum_cov,
        |       vocab
        |FROM top CROSS JOIN t""".stripMargin
        .replace("RATIOQ_CUMCOV", graft.functions.AggFunctions.ratioQSql(
          "sum(cnt) OVER (ORDER BY cnt DESC, tok " +
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
          "t.n_total", 4)),

    // identical factored formula on both sides: present-token sums from
    // the pair join, absent-token mass via the closed form from the
    // one-row (N, V, sum_ln_cp1) constants
    "q90_source_divergence" ->
      """WITH tk AS (
        |  SELECT source, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |pairs AS (
        |  SELECT source, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS tok_fp,
        |         count(*) AS k
        |  FROM tk GROUP BY 1, 2),
        |corpus AS (SELECT tok_fp, CAST(sum(k) AS BIGINT) AS c
        |           FROM pairs GROUP BY 1),
        |consts AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v,
        |                  sum(ln(CAST(c + 1 AS DOUBLE))) AS slc
        |           FROM corpus),
        |j AS (SELECT pairs.source, pairs.k, corpus.c,
        |             consts.n, consts.v, consts.slc
        |      FROM pairs JOIN corpus USING (tok_fp) CROSS JOIN consts),
        |g AS (
        |  SELECT source, CAST(sum(k) AS BIGINT) AS n_tokens,
        |         count(*) AS n_distinct,
        |         any_value(v) AS v, any_value(n) AS n, any_value(slc) AS slc,
        |         sum((k + 1) * (ln(CAST(k + 1 AS DOUBLE))
        |             - ln((c + 1) / CAST(n + v AS DOUBLE)))) AS a_raw,
        |         sum(ln((c + 1) / CAST(n + v AS DOUBLE))) AS slqp
        |  FROM j GROUP BY 1)
        |SELECT source, n_tokens, n_distinct,
        |       round((a_raw - (n_tokens + n_distinct)
        |                * ln(CAST(n_tokens + v AS DOUBLE)))
        |               / CAST(n_tokens + v AS DOUBLE)
        |             + (-ln(CAST(n_tokens + v AS DOUBLE)) * (v - n_distinct)
        |                - ((slc - v * ln(CAST(n + v AS DOUBLE))) - slqp))
        |               / CAST(n_tokens + v AS DOUBLE), 4) AS kl
        |FROM g""".stripMargin,

    // open/close replayed as rank-1 rows over the (ts, event_id) order —
    // the window formulation is the semantic spec for min_by/max_by
    "q91_ohlc_downsample" ->
      """WITH b AS (
        |  SELECT user_id,
        |         CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS w_start,
        |         ts, event_id, value
        |  FROM events),
        |r AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY user_id, w_start
        |           ORDER BY ts, event_id) AS rn_a,
        |         row_number() OVER (PARTITION BY user_id, w_start
        |           ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM b)
        |SELECT user_id, w_start,
        |       max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |       max(value) AS high, min(value) AS low,
        |       max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |       count(*) AS n_events,
        |       MEAN4_VALUE AS mean_value
        |FROM r GROUP BY 1, 2""".stripMargin
        .replace("MEAN4_VALUE",
          graft.functions.AggFunctions.mean4Sql("value")),

    // same hash coin as q54's stratified sampling; split thresholds
    // replay splitAssign(valPct=10, testPct=10)
    "q92_train_split" -> {
      docCtes.stripSuffix("\n") + ",\n" +
        s"""scored AS (SELECT doc_id, ${langScoreSqls.mkString(", ")} FROM toks),
           |p AS (SELECT doc_id, $predLangCaseSql AS pred_lang FROM scored)
           |SELECT doc_id, pred_lang,
           |       CASE WHEN b < 10 THEN 'test'
           |            WHEN b < 20 THEN 'val'
           |            ELSE 'train' END AS split
           |FROM (SELECT doc_id, pred_lang,
           |        ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 100
           |          AS b
           |      FROM p)""".stripMargin
    },

    // H = ln n - sum(c ln c)/n from the count relation; top-k by
    // (count desc, key) like the engine's TakeOrdered
    "q94_key_profile" ->
      """WITH c AS (SELECT o_custkey AS k, count(*) AS c
        |           FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS n_distinct,
        |             sum(c * ln(CAST(c AS DOUBLE))) AS clogc
        |      FROM c),
        |tk AS (SELECT max(c) AS top1, CAST(sum(c) AS BIGINT) AS topk
        |       FROM (SELECT c FROM c ORDER BY c DESC, k LIMIT 10))
        |SELECT t.n, t.n_distinct,
        |       RATIOQ_TOP1 AS top1_frac,
        |       RATIOQ_TOPK AS topk_frac,
        |       round(ln(CAST(t.n AS DOUBLE)) - t.clogc / t.n, 4)
        |         AS entropy_nats
        |FROM t CROSS JOIN tk""".stripMargin
        .replace("RATIOQ_TOP1",
          graft.functions.AggFunctions.ratioQSql("tk.top1", "t.n", 4))
        .replace("RATIOQ_TOPK",
          graft.functions.AggFunctions.ratioQSql("tk.topk", "t.n", 4)),

    // whole-token membership via the shared stopword-count formulation
    "q95_blocklist_filter" ->
      (docCtes.stripSuffix("\n") + "\n" +
        s"""SELECT doc_id,
           |       ${stopCountSql("ltoks", TextAnalysis.DemoBlocklist)}
           |         AS n_blocked,
           |       CAST(${stopCountSql("ltoks", TextAnalysis.DemoBlocklist)}
           |            <= 0 AS INT) AS keep
           |FROM toks""".stripMargin),

    // the stub decode is md5-based by design, so the declarative replay
    // checks the mapPartitions batch stage value-for-value
    // q97: the REAL-decode rewrite (r15) — eight exact integer pixel
    // features replayed from the closed-form pixel relation; any decoder
    // bug (inflate, any of the five filter arms, luminance weights)
    // breaks the hash
    "q97_feature_extract_batch" ->
      s"""WITH $imagePixelCtes,
         |hs AS (
         |  SELECT a.media_id,
         |         CAST(sum(CASE WHEN b.v > a.v THEN 1 ELSE 0 END)
         |              AS BIGINT) AS f7
         |  FROM px a JOIN px b
         |    ON b.media_id = a.media_id AND b.y = a.y AND b.x = a.x + 1
         |  GROUP BY 1),
         |base AS (
         |  SELECT media_id,
         |         CAST(count(*) AS BIGINT) AS f0,
         |         CAST(sum(v) AS BIGINT) AS f1,
         |         CAST(min(v) AS BIGINT) AS f2,
         |         CAST(max(v) AS BIGINT) AS f3,
         |         CAST(sum(CASE WHEN x < w // 2 THEN v ELSE 0 END)
         |              AS BIGINT) AS f4,
         |         CAST(sum(CASE WHEN y < h // 2 THEN v ELSE 0 END)
         |              AS BIGINT) AS f5,
         |         CAST(sum(CASE WHEN v > 128 THEN 1 ELSE 0 END)
         |              AS BIGINT) AS f6
         |  FROM px GROUP BY 1)
         |SELECT base.media_id, f0, f1, f2, f3, f4, f5, f6,
         |       coalesce(hs.f7, 0) AS f7
         |FROM base LEFT JOIN hs USING (media_id)""".stripMargin,

    // q144: decoded dimensions + dHash, bits replayed from closed-form
    // cell means
    "q144_image_dhash" ->
      s"""WITH $imagePixelCtes,
         |$imageDhashCtes
         |SELECT d.media_id, CAST(d.w AS INTEGER) AS width,
         |       CAST(d.h AS INTEGER) AS height, dh.dhash
         |FROM dims d JOIN dh ON dh.media_id = d.media_id""".stripMargin,

    // q145: all-pairs hamming truth over the replayed hashes — the
    // engine's pigeonhole must reproduce it exactly (completeness is
    // the Manku block guarantee, precision is the verify filter)
    "q145_image_neardup" ->
      s"""WITH $imagePixelCtes,
         |$imageDhashCtes
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |       CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
         |FROM dh a JOIN dh b ON b.media_id > a.media_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin,

    // q146: audio sample statistics + fingerprint replayed from the
    // closed-form sample relation (the q144 discipline on audio)
    "q146_audio_analysis" ->
      s"""WITH $audioSampleCtes,
         |fq AS (
         |  SELECT media_id,
         |         CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
         |         CAST(max(abs(s)) AS BIGINT) AS max_abs,
         |         CAST(sum(CASE WHEN t < n // 2 THEN abs(s) ELSE 0 END)
         |              AS BIGINT) AS first_half_abs,
         |         CAST(sum(CASE WHEN abs(s) > 500 THEN 1 ELSE 0 END)
         |              AS BIGINT) AS loud,
         |         CAST(sum(s) AS BIGINT) AS sum_signed
         |  FROM smp GROUP BY 1),
         |zc AS (
         |  SELECT a.media_id,
         |         CAST(sum(CASE WHEN (a.s >= 0) <> (p.s >= 0)
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
         |  FROM smp a JOIN smp p
         |    ON p.media_id = a.media_id AND p.t = a.t - 1
         |  GROUP BY 1)
         |SELECT d.media_id, CAST(d.rate AS INTEGER) AS sample_rate,
         |       CAST(d.n AS INTEGER) AS n_samples, afp.fingerprint,
         |       fq.sum_abs, fq.max_abs, zc.zero_cross, fq.first_half_abs,
         |       fq.loud, fq.sum_signed
         |FROM adims d
         |JOIN afp ON afp.media_id = d.media_id
         |JOIN fq ON fq.media_id = d.media_id
         |JOIN zc ON zc.media_id = d.media_id""".stripMargin,

    // q147: all-pairs fingerprint hamming truth (amplitude-scaled pairs
    // land at hamming 0 by the fingerprint's scale invariance)
    "q147_audio_neardup" ->
      s"""WITH $audioSampleCtes
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |       CAST(bit_count(xor(a.fingerprint, b.fingerprint))
         |            AS INTEGER) AS hamming
         |FROM afp a JOIN afp b ON b.media_id > a.media_id
         |WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= 3""".stripMargin,

    // q148: box-average the closed-form pixels to the 10×9 thumbnail,
    // then the q97 feature battery over the thumbnail pixels
    "q148_image_resize" ->
      s"""WITH $imagePixelCtes,
         |rpx AS (
         |  SELECT media_id, (x * 10) // w AS cx, (y * 9) // h AS cy,
         |         sum(v) // count(*) AS rv
         |  FROM px GROUP BY 1, 2, 3),
         |hs AS (
         |  SELECT a.media_id,
         |         CAST(sum(CASE WHEN b.rv > a.rv THEN 1 ELSE 0 END)
         |              AS BIGINT) AS f7
         |  FROM rpx a JOIN rpx b
         |    ON b.media_id = a.media_id AND b.cy = a.cy AND b.cx = a.cx + 1
         |  GROUP BY 1)
         |SELECT r.media_id,
         |       CAST(90 AS BIGINT) AS f0,
         |       CAST(sum(rv) AS BIGINT) AS f1,
         |       CAST(min(rv) AS BIGINT) AS f2,
         |       CAST(max(rv) AS BIGINT) AS f3,
         |       CAST(sum(CASE WHEN cx < 5 THEN rv ELSE 0 END)
         |            AS BIGINT) AS f4,
         |       CAST(sum(CASE WHEN cy < 4 THEN rv ELSE 0 END)
         |            AS BIGINT) AS f5,
         |       CAST(sum(CASE WHEN rv > 128 THEN 1 ELSE 0 END)
         |            AS BIGINT) AS f6,
         |       max(hs.f7) AS f7
         |FROM rpx r JOIN hs ON hs.media_id = r.media_id
         |GROUP BY 1""".stripMargin,

    // q149: every sampled frame's pixels replayed from the
    // (video_id, frame_idx) closed form (frame seed = id·31 + f), then
    // the q144 cell/bit machinery per frame
    "q149_video_framesample" ->
      s"""WITH vfr AS (
         |  SELECT doc_id AS video_id, 4 + doc_id % 4 AS nf FROM documents),
         |fr AS (
         |  SELECT video_id, f.f AS frame_idx, video_id * 31 + f.f AS fid
         |  FROM vfr JOIN (SELECT unnest(range(0, 8)) AS f) f ON f.f < nf
         |  WHERE f.f % 2 = 0),
         |fdm AS (
         |  SELECT video_id, frame_idx, fid // 2 AS g, (fid % 2) * 20 AS off
         |  FROM fr),
         |fdm2 AS (
         |  SELECT video_id, frame_idx, g, off, 12 + g % 7 AS w,
         |         10 + g % 5 AS h
         |  FROM fdm),
         |fpx AS (
         |  SELECT d.video_id, d.frame_idx, d.w, d.h, x.x, y.y,
         |         ((11 * x.x + 17 * y.y + 23 * d.g) % 200 + d.off) AS v
         |  FROM fdm2 d
         |  JOIN (SELECT unnest(range(0, 18)) AS x) x ON x.x < d.w
         |  JOIN (SELECT unnest(range(0, 14)) AS y) y ON y.y < d.h),
         |fcell AS (
         |  SELECT video_id, frame_idx, (y * 8) // h AS r, (x * 9) // w AS c,
         |         sum(v) // count(*) AS cv
         |  FROM fpx GROUP BY 1, 2, 3, 4),
         |fdh AS (
         |  SELECT a.video_id, a.frame_idx,
         |         CAST(sum(CASE WHEN b.cv > a.cv THEN
         |                    CASE WHEN a.r = 7 AND a.c = 7
         |                         THEN -9223372036854775807 - 1
         |                         ELSE (CAST(1 AS BIGINT)
         |                               << CAST(a.r * 8 + a.c AS INTEGER))
         |                    END
         |                  ELSE 0 END) AS BIGINT) AS dhash
         |  FROM fcell a JOIN fcell b
         |    ON b.video_id = a.video_id AND b.frame_idx = a.frame_idx
         |   AND b.r = a.r AND b.c = a.c + 1
         |  WHERE a.c < 8
         |  GROUP BY 1, 2)
         |SELECT d.video_id, CAST(d.frame_idx AS INTEGER) AS frame_idx,
         |       CAST(d.w AS INTEGER) AS width, CAST(d.h AS INTEGER) AS height,
         |       fdh.dhash
         |FROM fdm2 d JOIN fdh
         |  ON fdh.video_id = d.video_id
         | AND fdh.frame_idx = d.frame_idx""".stripMargin,

    // q150: the NAIVE global hamming join, verbatim — the engine runs
    // the same declarative query and HammingJoinRewrite supplies the
    // pigeonhole plan; hash-equality proves the rewrite is semantics-
    // preserving (q31's oracle replays the bucketed construction
    // instead, so the two gates pin the plan from both ends)
    "q150_hamming_join_rewrite" ->
      (docCtes.stripSuffix("\n") + ",\n" + simhash64Ctes +
        """pairs AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
          |           AS hamming
          |  FROM simhash_t a JOIN simhash_t b ON b.doc_id > a.doc_id)
          |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin),

    // q152: the near-dup edge graph (q52's construction) + generated
    // fixed-point iteration CTEs; every arithmetic step integer, so the
    // replay is exact at any summation order
    "q152_pagerank_centrality" ->
      (docCtes.stripSuffix("\n") + ",\n" + ndEdgesCtes +
        pagerankCtes(3).stripSuffix(",\n") +
        "\nSELECT id AS doc_id, pr FROM r3"),

    // q162: triangles + local clustering coefficient over the SAME
    // verified near-dup graph as q52/q152 (shared nd CTE). The oracle
    // counts each triangle once as its id-ordered (x<y<z) triple — a
    // different orientation than the engine's degree-ordered
    // compact-forward, but the same triangle SET, so per-node counts
    // agree exactly; lcc's one double division replays bit-for-bit
    "q162_triangle_lcc" ->
      (docCtes.stripSuffix("\n") + ",\n" + ndEdgesCtes +
        """deg AS (
          |  SELECT id, count(*) AS degree
          |  FROM (SELECT id_a AS id FROM nd UNION ALL SELECT id_b FROM nd)
          |  GROUP BY 1),
          |tri AS (
          |  SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
          |  FROM nd e1 JOIN nd e2 ON e2.id_a = e1.id_b
          |       JOIN nd e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
          |tcnt AS (
          |  SELECT id, count(*) AS n_tri
          |  FROM (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
          |        UNION ALL SELECT z FROM tri)
          |  GROUP BY 1)
          |SELECT d.id AS doc_id, d.degree,
          |       COALESCE(t.n_tri, 0) AS n_tri,
          |       CASE WHEN d.degree >= 2
          |            THEN (CASE WHEN ((2 * COALESCE(t.n_tri, 0)) < 0) != ((d.degree * (d.degree - 1)) < 0) THEN -1 ELSE 1 END * ((2 * 10000 * abs(2 * COALESCE(t.n_tri, 0)) + abs(d.degree * (d.degree - 1))) // (2 * abs(d.degree * (d.degree - 1)))) / 10000.0)
          |       END AS lcc
          |FROM deg d LEFT JOIN tcnt t USING (id)""".stripMargin),

    // q163: the validation battery replayed metric by metric — same
    // labels, same null-skipping range/pattern semantics, violations
    // cast back to BIGINT (DuckDB widens CASE sums to HUGEINT)
    "q163_validation_report" ->
      """WITH m AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS v0,
        |    sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS v1,
        |    sum(CASE WHEN l_quantity IS NOT NULL
        |             AND (l_quantity < 1 OR l_quantity > 50)
        |        THEN 1 ELSE 0 END) AS v2,
        |    sum(CASE WHEN l_discount IS NOT NULL
        |             AND (l_discount < 0 OR l_discount > 0.1)
        |        THEN 1 ELSE 0 END) AS v3,
        |    sum(CASE WHEN l_returnflag IS NOT NULL
        |             AND NOT regexp_matches(l_returnflag, '^[ANR]$')
        |        THEN 1 ELSE 0 END) AS v4
        |  FROM lineitem),
        |u AS (
        |  SELECT (SELECT count(*) FROM lineitem) - count(*) AS v5
        |  FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)),
        |fk AS (
        |  SELECT count(*) AS v6 FROM lineitem l
        |  WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
        |rpt AS (
        |  SELECT 'not_null(l_orderkey)' AS check_name, v0 AS violations, n
        |  FROM m
        |  UNION ALL SELECT 'not_null(l_quantity)', v1, n FROM m
        |  UNION ALL SELECT 'in_range(l_quantity, 1.0, 50.0)', v2, n FROM m
        |  UNION ALL SELECT 'in_range(l_discount, 0.0, 0.1)', v3, n FROM m
        |  UNION ALL SELECT 'matches(l_returnflag, ^[ANR]$)', v4, n FROM m
        |  UNION ALL SELECT 'unique(l_orderkey, l_linenumber)', v5, n
        |            FROM m CROSS JOIN u
        |  UNION ALL
        |    SELECT 'foreign_key(l_orderkey -> orders.o_orderkey)', v6, n
        |    FROM m CROSS JOIN fk
        |  UNION ALL SELECT 'min_rows(1)',
        |                   CASE WHEN n < 1 THEN 1 ELSE 0 END, n FROM m)
        |SELECT check_name, CAST(violations AS BIGINT) AS violations,
        |       n AS n_rows,
        |       RATIOQ_VIOL AS violation_frac,
        |       CASE WHEN violations = 0 THEN 'pass' ELSE 'fail' END
        |         AS status
        |FROM rpt""".stripMargin
        .replace("RATIOQ_VIOL",
          graft.functions.AggFunctions.ratioQSql("violations", "n", 4)),

    // q165: TrustRank replayed — the SAME nd edge CTEs as q52/q152/q162
    // with the seeded fixed-point iteration (seeds = src0/src1 docs)
    "q165_trustrank" ->
      (docCtes.stripSuffix("\n") + ",\n" + ndEdgesCtes +
        pagerankCtes(3,
          "SELECT doc_id AS id, (source IN ('src0', 'src1')) AS sd " +
            "FROM documents", seeded = true).stripSuffix(",\n") +
        "\nSELECT id AS doc_id, pr AS trust FROM r3"),

    // q164: the oracle is the NAIVE quadratic join — the engine's
    // segment-pigeonhole candidates + early-exit verify must reproduce
    // its pair set and distances exactly (completeness of the
    // multi-match-aware window is what's being gated)
    "q164_edit_distance_join" ->
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM part a JOIN part b
        |  ON a.p_partkey < b.p_partkey
        | AND levenshtein(a.p_name, b.p_name) <= 2""".stripMargin,

    // q170: the NAIVE containment join, verbatim — needle×corpus pairs,
    // |Sa∩Sb|/|Sa| against the unrounded quotient (the q154 filter
    // discipline), display-rounded after the cut
    "q170_containment_join" ->
      (docCtes.stripSuffix("\n") + ",\n" +
        """fpd AS (
          |  SELECT doc_id,
          |         list_distinct(list_transform(list_distinct(sh),
          |           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS f
          |  FROM sh WHERE len(list_distinct(sh)) > 0),
          |pairs AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |         len(list_intersect(a.f, b.f)) AS i, len(a.f) AS na
          |  FROM fpd a JOIN fpd b
          |    ON a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0)
          |SELECT id_a, id_b, (CASE WHEN ((i) < 0) != ((na) < 0) THEN -1 ELSE 1 END * ((2 * 10000 * abs(i) + abs(na)) // (2 * abs(na))) / 10000.0) AS containment
          |FROM pairs WHERE i / na >= 0.35""".stripMargin),

    // q178: lead() over the same (ts, event_id) per-user order — the
    // oracle may window (its shape is unconstrained); counts exact,
    // probability the round4 quotient of two exact integers
    "q178_event_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (
        |  SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
        |  FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, t.n_from,
        |       RATIOQ_TRANSP AS p
        |FROM c JOIN t ON t.from_type = c.from_type""".stripMargin
        .replace("RATIOQ_TRANSP",
          graft.functions.AggFunctions.ratioQSql("c.n", "t.n_from", 4)),

    // q177: the naive OR join, verbatim — the engine runs it THROUGH
    // the union-of-hash-joins rewrite; semantics preservation is the
    // thing gated (the q150/q151 discipline for the third rule)
    "q177_or_join_rewrite" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
        |FROM customer a JOIN customer b
        |  ON a.c_custkey % 97 = b.c_custkey % 97
        |  OR a.c_custkey % 89 = b.c_custkey % 89
        |WHERE a.c_custkey % 2 = 0 AND b.c_custkey % 2 = 1""".stripMargin,

    // q176: TPC-H Q5, verbatim six-table join
    "q176_regional_volume" ->
      """SELECT n_name,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 4)
        |         AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |              AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY 1""".stripMargin,

    // q175: the CDC fold replayed — same derived feed, latest change by
    // seq (window-ranked in the oracle, aggregate-argmaxed in the
    // engine), D drops the key, I/U upserts, untouched keys keep base
    "q175_cdc_apply" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS tp
        |  FROM orders),
        |ch AS (
        |  SELECT o_orderkey AS k, 1 AS seq, 'U' AS op, 'X' AS st,
        |         o_totalprice + 100 AS tp
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'D', NULL, NULL
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, 1, 'I', 'N', o_totalprice
        |  FROM orders WHERE o_orderkey % 5 = 4),
        |latest AS (
        |  SELECT k, op, st, tp FROM (
        |    SELECT k, op, st, tp,
        |           row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1)
        |SELECT COALESCE(b.k, l.k) AS o_orderkey,
        |       CASE WHEN l.k IS NOT NULL THEN l.st ELSE b.st END
        |         AS o_orderstatus,
        |       CASE WHEN l.k IS NOT NULL THEN l.tp ELSE b.tp END
        |         AS o_totalprice
        |FROM base b FULL OUTER JOIN latest l ON l.k = b.k
        |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin,

    // q173: the k-anonymity/l-diversity audit, verbatim
    "q173_kanonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |       CAST(count(*) AS BIGINT) AS class_size,
        |       CAST(count(DISTINCT CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS l_diversity,
        |       count(*) >= 10 AS k_anonymous,
        |       count(DISTINCT CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) >= 2
        |         AS l_diverse
        |FROM customer GROUP BY 1, 2""".stripMargin,

    // q171: PSI over the q168 integer bucket keys — exact counts, the
    // union bucket set per source, add-one smoothing, round(4) term sum
    "q171_psi_drift" ->
      """WITH base AS (
        |  SELECT source AS g, doc_id % 2 AS side,
        |         CAST(length(text) AS BIGINT) AS v FROM documents),
        |b AS (
        |  SELECT g, side, v,
        |         CASE WHEN v < 0 THEN 0 ELSE length(bin(v)) END AS blen
        |  FROM base),
        |sk AS (
        |  SELECT g, side, CAST(blen AS INT) AS blen,
        |         CASE WHEN blen - 5 > 0 THEN v >> (blen - 5) ELSE v END AS sub,
        |         count(*) AS cnt
        |  FROM b GROUP BY 1, 2, 3, 4),
        |m AS (
        |  SELECT g, blen, sub,
        |         CAST(sum(CASE WHEN side = 0 THEN cnt ELSE 0 END) AS BIGINT) AS ca,
        |         CAST(sum(CASE WHEN side = 1 THEN cnt ELSE 0 END) AS BIGINT) AS cb
        |  FROM sk GROUP BY 1, 2, 3),
        |tot AS (
        |  SELECT g, CAST(sum(ca) AS BIGINT) AS n_ref,
        |         CAST(sum(cb) AS BIGINT) AS n_cur,
        |         CAST(count(*) AS BIGINT) AS n_buckets
        |  FROM m GROUP BY 1)
        |SELECT m.g AS source, t.n_ref, t.n_cur, t.n_buckets,
        |       round(sum(
        |         ((m.ca + 1) / CAST(t.n_ref + t.n_buckets AS DOUBLE)
        |          - (m.cb + 1) / CAST(t.n_cur + t.n_buckets AS DOUBLE))
        |         * ln(((m.ca + 1) / CAST(t.n_ref + t.n_buckets AS DOUBLE))
        |              / ((m.cb + 1) / CAST(t.n_cur + t.n_buckets AS DOUBLE)))
        |       ), 4) AS psi
        |FROM m JOIN tot t ON t.g = m.g
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    // q169: the integer EWMA recurrence replayed step for step in a
    // recursive CTE — same longs, same `div` truncation, same pre-update
    // deviation/band semantics; rn joins consecutive steps per user
    "q169_ewma_anomaly" ->
      """WITH RECURSIVE x AS (
        |  SELECT event_id, user_id,
        |         CAST(round(value * 100) AS BIGINT) AS xv,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events),
        |rec AS (
        |  SELECT user_id, rn, event_id,
        |         xv * 1000000 AS e, CAST(0 AS BIGINT) AS d, false AS anom
        |  FROM x WHERE rn = 1
        |  UNION ALL
        |  SELECT x.user_id, x.rn, x.event_id,
        |         (2 * x.xv * 1000000 + 8 * r.e) // 10,
        |         (2 * abs(x.xv * 1000000 - r.e) + 8 * r.d) // 10,
        |         x.rn > 5 AND abs(x.xv * 1000000 - r.e) > 3 * r.d
        |  FROM rec r JOIN x ON x.user_id = r.user_id AND x.rn = r.rn + 1)
        |SELECT event_id, user_id, e AS ewma_micro, d AS dev_micro,
        |       anom AS is_anomaly
        |FROM rec""".stripMargin,

    // q168: the log-binned quantile sketch replayed end to end — bin()
    // length, shifts, bucket counts, cumulative rank, integer target
    // rank, midpoint representative; all integer, no floating log
    "q168_quantile_sketch" ->
      """WITH base AS (
        |  SELECT l_returnflag AS g,
        |         CAST(l_extendedprice * 100 AS BIGINT) AS v FROM lineitem),
        |b AS (
        |  SELECT g, v,
        |         CASE WHEN v < 0 THEN 0 ELSE length(bin(v)) END AS blen
        |  FROM base),
        |sk AS (
        |  SELECT g, CAST(blen AS INT) AS blen,
        |         CASE WHEN blen - 5 > 0 THEN v >> (blen - 5) ELSE v END AS sub,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM b GROUP BY 1, 2, 3),
        |cum AS (
        |  SELECT g, blen, sub, cnt,
        |         sum(cnt) OVER (PARTITION BY g ORDER BY blen, sub) AS cum,
        |         sum(cnt) OVER (PARTITION BY g) AS n_rows,
        |         CASE WHEN blen - 5 > 0
        |              THEN (sub << (blen - 5)) + (CAST(1 AS BIGINT) << (blen - 6))
        |              ELSE sub END AS rep
        |  FROM sk),
        |qs(qn, qd) AS (VALUES (CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
        |                      (9, 10), (99, 100)),
        |tgt AS (
        |  SELECT c.g, c.rep, c.cum, c.n_rows, q.qn, q.qd,
        |         (c.n_rows * q.qn + q.qd - 1) // q.qd AS target
        |  FROM cum c CROSS JOIN qs q)
        |SELECT g AS l_returnflag, qn, qd,
        |       CAST(min_by(rep, cum) AS BIGINT) AS est_cents,
        |       CAST(max(n_rows) AS BIGINT) AS n_rows
        |FROM tgt WHERE cum >= target GROUP BY 1, 2, 3""".stripMargin,

    // q172: 4 generated label-propagation voting rounds over the SAME
    // symmetric nd edge CTEs (window-ranked in the oracle, aggregate-
    // argmaxed in the engine — same (max count, min label) rule)
    "q172_lpa_communities" ->
      (docCtes.stripSuffix("\n") + ",\n" + ndEdgesCtes +
        lpaCtes(4).stripSuffix(",\n") +
        "\nSELECT id AS doc_id, lbl AS community FROM lp4"),

    // q167: 4 generated peeling rounds at k=2 over the SAME symmetric
    // nd edge CTEs as q52/q152/q162/q165
    "q167_kcore" ->
      (docCtes.stripSuffix("\n") + ",\n" + ndEdgesCtes +
        kcoreCtes(4, 2).stripSuffix(",\n") +
        """
          |SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS core_deg
          |FROM ke4 GROUP BY 1""".stripMargin),

    // q166: the incremental flavor vs the same naive quadratic oracle —
    // incoming (partkey%4=0) × corpus (rest), no corpus self-pairs
    "q166_edit_distance_incremental" ->
      """SELECT a.p_partkey AS id_in, b.p_partkey AS id_corp,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM part a JOIN part b
        |  ON a.p_partkey % 4 = 0 AND b.p_partkey % 4 <> 0
        | AND levenshtein(a.p_name, b.p_name) <= 2""".stripMargin,

    // q153: NOT EXISTS at hamming <= 6, naive — the engine's value-set
    // factored anti join must hash-equal it
    "q153_fuzzy_decontamination" ->
      (docCtes.stripSuffix("\n") + ",\n" +
        simhash64Ctes.stripSuffix("\n").stripSuffix(",") + "\n" +
        """SELECT a.doc_id, a.simhash FROM simhash_t a
          |WHERE NOT EXISTS (
          |  SELECT 1 FROM simhash_t b
          |  WHERE b.doc_id % 101 = 0
          |    AND bit_count(xor(a.simhash, b.simhash)) <= 6)""".stripMargin),

    // q154: the NAIVE all-pairs set-similarity join, verbatim — the
    // engine's prefix-filtered candidates + exact verification must
    // hash-equal it (completeness is the claim under test). The filter
    // compares the UNROUNDED quotient of two exact integers, exactly
    // like the engine; `jaccard` is display-rounded after the cut.
    "q154_set_similarity_exact" ->
      (docCtes.stripSuffix("\n") + ",\n" +
        """fpd AS (
          |  SELECT doc_id,
          |         list_distinct(list_transform(list_distinct(sh),
          |           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS f
          |  FROM sh WHERE len(list_distinct(sh)) > 0),
          |pairs AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |         len(list_intersect(a.f, b.f)) AS i,
          |         len(a.f) AS na, len(b.f) AS nb
          |  FROM fpd a JOIN fpd b ON b.doc_id > a.doc_id)
          |SELECT id_a, id_b, RATIOQ_JAC AS jaccard
          |FROM pairs WHERE i / (na + nb - i) >= 0.5""".stripMargin
          .replace("RATIOQ_JAC", graft.functions.AggFunctions
            .ratioQSql("i", "na + nb - i", 4))),

    // q155: the q51 multi-probe replay with the query-sample filter
    // DROPPED — every vector probes its top-2 cells and ranks its top-5
    // neighbors; kmeans cells replayed as in q32/q33/q51
    "q155_knn_join" ->
      (kmeansCtes.stripSuffix("\n") + ",\n" + knnRankedCtes +
        "\nSELECT q_id, vec_id, CAST(rank AS INTEGER) AS rank, " +
        "round(cos, 4) AS cos FROM ranked WHERE rank <= 5"),

    // q185: q155's ranked replay re-cut as NDCG@5 — the same integer
    // discount literals as the engine (generated from ndcgDiscounts),
    // binary same-label relevance, IDCG from the label census
    "q185_retrieval_ndcg" -> {
      val k = 5
      val d = graft.operators.Similarity.ndcgDiscounts(k)
      val cum = d.scanLeft(0L)(_ + _).tail
      kmeansCtes.stripSuffix("\n") + ",\n" + knnRankedCtes("") + ",\n" +
        s"""disc AS (
           |  SELECT unnest([${(1 to k).mkString(", ")}]) AS rank,
           |         unnest([${d.mkString(", ")}]) AS d,
           |         unnest([${cum.mkString(", ")}]) AS cumd),
           |labs AS (SELECT vec_id, label FROM embeddings),
           |reld AS (
           |  SELECT r.q_id, ql.label AS q_label, r.rank,
           |         CASE WHEN cl.label = ql.label THEN 1 ELSE 0 END AS rel
           |  FROM ranked r
           |  JOIN labs ql ON ql.vec_id = r.q_id
           |  JOIN labs cl ON cl.vec_id = r.vec_id
           |  WHERE r.rank <= $k),
           |dcg AS (
           |  SELECT q_id, q_label, CAST(sum(rel * dd.d) AS BIGINT) AS dcg
           |  FROM reld JOIN disc dd ON dd.rank = reld.rank GROUP BY 1, 2),
           |lc AS (SELECT label, CAST(count(*) AS BIGINT) AS n_label
           |       FROM embeddings GROUP BY 1),
           |perq AS (
           |  SELECT g.q_label, g.dcg,
           |         CASE WHEN lc.n_label > 1
           |              THEN CAST(g.dcg AS DOUBLE) / CAST(dc.cumd AS DOUBLE)
           |         END AS ndcg
           |  FROM dcg g
           |  JOIN lc ON lc.label = g.q_label
           |  JOIN disc dc
           |    ON dc.rank = greatest(least(lc.n_label - 1, $k), 1))
           |SELECT q_label AS label,
           |       CAST(count(ndcg) AS BIGINT) AS n_q,
           |       CAST(sum(dcg) AS BIGINT) AS dcg_total,
           |       ${graft.functions.AggFunctions.mean4Sql("ndcg")}
           |         AS mean_ndcg
           |FROM perq GROUP BY 1""".stripMargin
    },

    // q184: q155's replay with the hard-negative label-mismatch
    // predicate at the candidate stage
    "q184_hard_negatives" ->
      (kmeansCtes.stripSuffix("\n") + ",\n" +
        knnRankedCtes("AND c.label <> q.label") +
        "\nSELECT q_id, vec_id, CAST(rank AS INTEGER) AS rank, " +
        "round(cos, 4) AS cos FROM ranked WHERE rank <= 5"),

    // q159: PageRank centrality over the q155 kNN graph — the composed
    // "most representative vectors" query; edges are the top-5 directed
    // kNN pairs symmetrized with multigraph semantics (mutual pairs
    // contribute twice, exactly like the engine's unionByName), ranks
    // replayed by the same integer fixed-point CTEs as q152 over the
    // embeddings node set
    "q159_knn_pagerank" ->
      (kmeansCtes.stripSuffix("\n") + ",\n" + knnRankedCtes + ",\n" +
        """knnp AS (SELECT q_id AS id_a, vec_id AS id_b
          |         FROM ranked WHERE rank <= 5),
          |edges AS (
          |  SELECT id_a AS src, id_b AS dst FROM knnp
          |  UNION ALL
          |  SELECT id_b AS src, id_a AS dst FROM knnp),
          |""".stripMargin +
        pagerankCtes(3, "SELECT vec_id AS id FROM embeddings", p = "pg")
          .stripSuffix(",\n") +
        "\nSELECT id AS vec_id, pr FROM pgr3"),

    // q160: the SCD2 build replayed — change compaction + version
    // numbering + [valid_from, valid_to) intervals over the same
    // deterministic (o_orderdate, o_orderkey) order
    "q160_scd2_build" ->
      ("WITH " + scd2KeptCtes.stripSuffix(",\n") +
        """
          |SELECT custkey,
          |       CAST(row_number() OVER w2 AS INTEGER) AS version,
          |       o_orderdate AS valid_from_ts,
          |       lead(o_orderdate) OVER w2 AS valid_to_ts,
          |       CAST(lead(o_orderdate) OVER w2 IS NULL AS INTEGER)
          |         AS is_current,
          |       status, priority
          |FROM kept
          |WINDOW w2 AS (PARTITION BY custkey ORDER BY o_orderdate, o_orderkey)"""
          .stripMargin),

    // q161: the point-in-time enrichment replayed end to end — dim from
    // the SAME kept CTEs, facts get custkey via the orderkey equi-join,
    // LEFT interval join (facts predating the first version → null
    // group), grouping-cardinality rollup
    "q161_scd2_pointintime" ->
      ("WITH " + scd2KeptCtes +
        """dim AS (
          |  SELECT custkey, o_orderdate AS valid_from,
          |         lead(o_orderdate) OVER
          |           (PARTITION BY custkey
          |            ORDER BY o_orderdate, o_orderkey) AS valid_to,
          |         status, priority
          |  FROM kept),
          |facts AS (
          |  SELECT l.l_shipdate, o.o_custkey AS custkey,
          |         l.l_quantity, l.l_extendedprice
          |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
          |enriched AS (
          |  SELECT f.l_quantity, f.l_extendedprice, d.status, d.priority
          |  FROM facts f LEFT JOIN dim d
          |    ON f.custkey = d.custkey AND f.l_shipdate >= d.valid_from
          |       AND (d.valid_to IS NULL OR f.l_shipdate < d.valid_to))
          |SELECT status AS ship_status, priority AS ship_priority,
          |       count(*) AS n_items,
          |       round(sum(l_quantity), 4) AS sum_qty,
          |       round(sum(l_extendedprice), 4) AS sum_price
          |FROM enriched GROUP BY 1, 2""".stripMargin),

    // q156: the DP release replayed end to end — quality kernel, exact
    // per-source counts, then the SAME md5 noise stream: u = (first 52
    // md5 bits + 0.5)/2^52, G = floor(ln(u)/−(ε/2)), noise = G_a − G_b.
    // Noise values are integers; epsilon is the only non-count column
    "q156_dp_source_release" -> {
      val stop = stopCountSql("ltoks", TextAnalysis.StopwordDicts.head._2)
      def u(k: String) =
        s"((('0x' || substr(md5($k), 1, 13))::BIGINT + 0.5) / 4503599627370496.0)"
      def noise(k: String) =
        s"""(CAST(floor(ln(${u(s"$k || ':a'")}) / -0.5) AS BIGINT)
           | - CAST(floor(ln(${u(s"$k || ':b'")}) / -0.5) AS BIGINT))""".stripMargin
      s"""WITH t AS (
         |  SELECT source, text, string_split(text, ' ') AS toks,
         |         string_split(lower(text), ' ') AS ltoks
         |  FROM documents),
         |q AS (
         |  SELECT source,
         |         ${graft.operators.TextAnalysis.qualitySqlOf("length(text)", "len(toks)", "len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))", stop)} AS quality
         |  FROM t),
         |c AS (
         |  SELECT source, count(*) AS n_docs,
         |         CAST(sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_hi
         |  FROM q GROUP BY 1)
         |SELECT source,
         |       n_docs + ${noise("source || ':0:docs'")} AS n_docs_dp,
         |       n_hi + ${noise("source || ':0:hi'")} AS n_hi_quality_dp,
         |       1.0e0 AS epsilon
         |FROM c""".stripMargin
    },

    // q157: the HLL register relation + set algebra replayed end to end —
    // bucket/rho from md5 integer arithmetic, the register sum as the
    // EXACT scaled long (order-free), linear counting below 2.5m; the
    // pair merge is the same (key, bucket) max aggregate as the build
    "q157_hll_source_algebra" -> {
      val alpha = s"${graft.operators.Sketches.HllAlpha}e0"
      def estSql(name: String, src: String, keys: String) =
        s"""$name AS (
           |  SELECT $keys,
           |         round(CASE WHEN ($alpha * 65536.0 /
           |             ((CAST(sum(1::BIGINT << (53 - m)) AS BIGINT)
           |               + (256 - count(*)) * 9007199254740992)
           |              / 9007199254740992.0)) <= 640.0
           |            AND 256 - count(*) > 0
           |           THEN 256.0 * ln(256.0 / (256 - count(*)))
           |           ELSE $alpha * 65536.0 /
           |             ((CAST(sum(1::BIGINT << (53 - m)) AS BIGINT)
           |               + (256 - count(*)) * 9007199254740992)
           |              / 9007199254740992.0)
           |         END, 4) AS est
           |  FROM $src GROUP BY ${(1 to keys.split(",").length).mkString(", ")})"""
          .stripMargin
      val rhoTerms = (0 until 53)
        .map(j => s"CASE WHEN (v >> $j) > 0 THEN ${j + 1} ELSE 0 END")
        .mkString(", ")
      s"""WITH tk AS (
         |  SELECT source, unnest(string_split(lower(text), ' ')) AS tok
         |  FROM documents),
         |hv AS (
         |  SELECT source,
         |         ('0x' || substr(md5(tok), 1, 2))::INT AS bucket,
         |         ('0x' || substr(md5(tok), 3, 13))::BIGINT AS v
         |  FROM tk),
         |up AS (
         |  SELECT source, bucket,
         |         53 - greatest($rhoTerms) AS rho
         |  FROM hv),
         |sk AS (SELECT source, bucket, max(rho) AS m FROM up GROUP BY 1, 2),
         |${estSql("est1", "sk", "source")},
         |prs AS (
         |  SELECT a.source AS sa, b.source AS sb
         |  FROM (SELECT DISTINCT source FROM sk) a
         |  JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
         |unregs AS (
         |  SELECT sa, sb, bucket, max(m) AS m FROM (
         |    SELECT p.sa, p.sb, s.bucket, s.m
         |    FROM prs p JOIN sk s ON s.source = p.sa
         |    UNION ALL
         |    SELECT p.sa, p.sb, s.bucket, s.m
         |    FROM prs p JOIN sk s ON s.source = p.sb)
         |  GROUP BY 1, 2, 3),
         |${estSql("estu", "unregs", "sa, sb")}
         |SELECT u.sa AS source_a, u.sb AS source_b,
         |       ea.est AS est_a, eb.est AS est_b, u.est AS est_union,
         |       round(ea.est + eb.est - u.est, 4) AS est_inter
         |FROM estu u
         |JOIN est1 ea ON ea.source = u.sa
         |JOIN est1 eb ON eb.source = u.sb""".stripMargin
    },

    // q158: the NAIVE cross-relation all-pairs join, verbatim — the
    // incremental prefix join's completeness gate (same unrounded-
    // quotient filter discipline as q154)
    "q158_set_similarity_incremental" ->
      (docCtes.stripSuffix("\n") + ",\n" +
        """fpd AS (
          |  SELECT doc_id,
          |         list_distinct(list_transform(list_distinct(sh),
          |           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS f
          |  FROM sh WHERE len(list_distinct(sh)) > 0),
          |pairs AS (
          |  SELECT i.doc_id AS id_a, c.doc_id AS id_b,
          |         len(list_intersect(i.f, c.f)) AS iv,
          |         len(i.f) AS na, len(c.f) AS nb
          |  FROM fpd i JOIN fpd c
          |    ON i.doc_id % 4 = 0 AND c.doc_id % 4 <> 0)
          |SELECT id_a, id_b, RATIOQ_JAC AS jaccard
          |FROM pairs WHERE iv / (na + nb - iv) >= 0.5""".stripMargin
          .replace("RATIOQ_JAC", graft.functions.AggFunctions
            .ratioQSql("iv", "na + nb - iv", 4))),

    // q151: the NAIVE point-in-interval join, verbatim (DuckDB plans it
    // as an IEJoin); the engine's width-8 bin rewrite must hash-equal it
    "q151_interval_join_rewrite" ->
      """SELECT CAST(o.o_orderkey % 10 AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(sum(l.l_orderkey + 3 * o.o_orderkey) AS BIGINT) AS chk
        |FROM lineitem l JOIN orders o
        |  ON l.l_orderkey >= o.o_orderkey - o.o_orderkey % 5
        | AND l.l_orderkey <= o.o_orderkey + o.o_orderkey % 7
        |GROUP BY 1""".stripMargin,

    // kmeans cells replayed as in q32/q33; quality + pred_lang replayed
    // as in q53/q54 (CTE renamed to avoid colliding with kmeansCtes)
    "q96_cluster_quality" ->
      (kmeansCtes.stripSuffix("\n") + ",\n" +
        s"""toksq AS (
           |  SELECT doc_id, text, string_split(text, ' ') AS toks,
           |         string_split(lower(text), ' ') AS ltoks
           |  FROM documents),
           |enr0 AS (
           |  SELECT doc_id, length(text) AS n_chars_m, len(toks) AS n_words,
           |         len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))
           |           AS n_punct,
           |         ${stopCountSql("ltoks", TextAnalysis.StopwordDicts.head._2)} AS n_stop,
           |         ${langScoreSqls.mkString(",\n         ")}
           |  FROM toksq),
           |enr AS (
           |  SELECT doc_id,
           |         ${graft.operators.TextAnalysis.qualitySqlOf("n_chars_m", "n_words", "n_punct", "n_stop")}
           |           AS quality,
           |         $predLangCaseSql AS pred_lang
           |  FROM enr0)
           |SELECT cells.cell, enr.pred_lang, count(*) AS n_docs,
           |       ${graft.functions.AggFunctions.mean4Sql("enr.quality")}
           |         AS avg_quality
           |FROM cells JOIN enr ON enr.doc_id = cells.vec_id
           |GROUP BY 1, 2""".stripMargin),

    // q136: the q32 within-cell pair replay feeding the q52 recursive-
    // reachability CC, centroid cosines against the final Lloyd-iteration
    // centroid relation, survivor = (min c2c, then min vec_id) via
    // min-aggregate + join-back — the same argmin the Spark struct-min
    // computes
    "q136_semantic_dedup" ->
      (kmeansCtes.stripSuffix("\n")
        .replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
        s"""pairs AS (
           |  SELECT ca.vec_id AS id_a, cb.vec_id AS id_b
           |  FROM cells ca JOIN cells cb
           |    ON cb.cell = ca.cell AND cb.vec_id > ca.vec_id
           |  JOIN embeddings a ON a.vec_id = ca.vec_id
           |  JOIN embeddings b ON b.vec_id = cb.vec_id
           |  WHERE round(${cosineSql("a.embedding", "b.embedding")}, 4)
           |        >= $SemDedupThreshold),
           |sedges AS (
           |  SELECT id_a AS src, id_b AS dst FROM pairs
           |  UNION ALL SELECT id_b, id_a FROM pairs),
           |swalk(id, reach) AS (
           |  SELECT src, src FROM sedges
           |  UNION
           |  SELECT w.id, e.dst FROM swalk w JOIN sedges e ON e.src = w.reach),
           |lbl AS (SELECT id AS vec_id, min(reach) AS cluster
           |        FROM swalk GROUP BY id),
           |cc2 AS (
           |  SELECT l.cluster, l.vec_id,
           |         round(${cosineSql("e.embedding", "ct.c")}, 6) AS c2c
           |  FROM lbl l
           |  JOIN cells s ON s.vec_id = l.vec_id
           |  JOIN c$KmeansIters ct ON ct.cell = s.cell
           |  JOIN embeddings e ON e.vec_id = l.vec_id),
           |bmin AS (SELECT cluster, min(c2c) AS mc FROM cc2 GROUP BY 1),
           |bsid AS (
           |  SELECT cc2.cluster, min(cc2.vec_id) AS sid
           |  FROM cc2 JOIN bmin ON bmin.cluster = cc2.cluster
           |                    AND cc2.c2c = bmin.mc
           |  GROUP BY 1)
           |SELECT cc2.cluster, cc2.vec_id, round(cc2.c2c, 4) AS cos_centroid,
           |       CASE WHEN cc2.vec_id = bsid.sid THEN 1 ELSE 0 END AS keep
           |FROM cc2 JOIN bsid ON bsid.cluster = cc2.cluster""".stripMargin),

    // recall@5 of the single-probe IVF index vs brute-force truth on the
    // vec_id < 8 golden queries: brute ranking replayed as in q15 (k=5),
    // IVF ranking as in q33, then per-query hit counts — exact integers
    // and a ratio rounded at 4, hash-portable by construction
    "q99_ann_recall" ->
      (kmeansCtes.stripSuffix("\n") + ",\n" +
        s"""bs AS (
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
           |ivs AS (
           |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
           |         ${cosineSql("q.embedding", "c.embedding")} AS cos
           |  FROM embeddings q
           |  JOIN cells qc ON qc.vec_id = q.vec_id
           |  JOIN cells cc ON cc.cell = qc.cell
           |  JOIN embeddings c ON c.vec_id = cc.vec_id AND c.vec_id <> q.vec_id
           |  WHERE q.vec_id < 8),
           |iv AS (
           |  SELECT q_id, vec_id FROM (
           |    SELECT q_id, vec_id,
           |           ROW_NUMBER() OVER (PARTITION BY q_id
           |             ORDER BY round(cos, 6) DESC, vec_id ASC) AS rank
           |    FROM ivs) WHERE rank <= 5),
           |t AS (SELECT q_id, count(*) AS n_truth FROM bt GROUP BY 1),
           |h AS (SELECT bt.q_id, count(*) AS n_hit
           |      FROM bt JOIN iv USING (q_id, vec_id) GROUP BY 1)
           |SELECT t.q_id, CAST(t.n_truth AS BIGINT) AS n_truth,
           |       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           |       RATIOQ_RECALL AS recall
           |FROM t LEFT JOIN h USING (q_id)""".stripMargin
           .replace("RATIOQ_RECALL", graft.functions.AggFunctions
             .ratioQSql("coalesce(h.n_hit, 0)", "t.n_truth", 4))),

    // literals in e-notation (0.5e0, …) are DOUBLE in DuckDB — decimal
    // literals would pull the score into DECIMAL arithmetic and off the
    // engine's bit pattern; the sum chain is spelled term 0 first, the
    // same fixed order the Scala reduce folds
    "q100_bm25_topk" -> {
      val terms = Bm25Terms
      // constants interpolated from the Scala defaults (ADVICE r10 —
      // hardcoded literals would desynchronize on a parameter change);
      // Double.toString is the shortest round-trip decimal, so DuckDB
      // parses each literal back to the bit-identical double the engine
      // folded (1.2 + 1.0 etc. are computed HERE, same as bm25TopKStage does)
      import graft.operators.TextAnalysis.{Bm25K1, Bm25B, Bm25TopN}
      val k1p1 = s"${(Bm25K1 + 1.0).toString}e0"
      val k1L = s"${Bm25K1.toString}e0"
      val oneMinusB = s"${(1.0 - Bm25B).toString}e0"
      val bL = s"${Bm25B.toString}e0"
      val tfDefs = terms.indices.map(i =>
        s"len(list_filter(ltoks, x -> x = '${terms(i)}')) AS tf_$i").mkString(",\n         ")
      val dfDefs = terms.indices.map(i =>
        s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(",\n         ")
      val scoreTerms = terms.indices.map { i =>
        s"""ln(1e0 + (n_docs - df_$i + 0.5e0) / (df_$i + 0.5e0))
           | * ((tf_$i * $k1p1) / (tf_$i + $k1L * ($oneMinusB + $bL * (dl / avgdl))))"""
          .stripMargin.replace("\n", "")
      }.mkString("\n           + ")
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS ltoks
         |  FROM documents),
         |pd AS (
         |  SELECT doc_id, len(ltoks) AS dl,
         |         $tfDefs
         |  FROM tk),
         |c AS (
         |  SELECT count(*) AS n_docs, avg(dl) AS avgdl,
         |         $dfDefs
         |  FROM pd)
         |SELECT doc_id, dl, ${terms.indices.map(i => s"tf_$i").mkString(", ")},
         |       round($scoreTerms, 4) AS score
         |FROM pd CROSS JOIN c
         |ORDER BY score DESC, doc_id LIMIT $Bm25TopN""".stripMargin
    },

    // all model counts are integers (exact across engines); the KN
    // probability is one fixed-order double expression on both sides
    "q101_lm_kneser_ney" ->
      """WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS ltoks
        |            FROM documents),
        |bgp AS (
        |  SELECT doc_id, unnest(range(1, len(ltoks))) AS i, ltoks
        |  FROM tk WHERE len(ltoks) >= 2),
        |pairs AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(ltoks[i]), 1, 15))::BIGINT AS p_fp,
        |         ('0x' || substr(md5(ltoks[i+1]), 1, 15))::BIGINT AS c_fp,
        |         count(*) AS k
        |  FROM bgp GROUP BY 1, 2, 3),
        |c2 AS (SELECT p_fp, c_fp, CAST(sum(k) AS BIGINT) AS c2
        |       FROM pairs GROUP BY 1, 2),
        |ctx AS (SELECT p_fp, CAST(sum(c2) AS BIGINT) AS c1, count(*) AS nf
        |        FROM c2 GROUP BY 1),
        |cont AS (SELECT c_fp, count(*) AS nr FROM c2 GROUP BY 1),
        |t AS (SELECT count(*) AS tt FROM c2),
        |sc AS (
        |  SELECT pairs.doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        |         sum(k * -ln(((c2.c2 - 0.75e0) / c1)
        |                     + (((0.75e0 * nf) / c1)
        |                        * (nr / CAST(tt AS DOUBLE))))) AS nll
        |  FROM pairs JOIN c2 USING (p_fp, c_fp) JOIN ctx USING (p_fp)
        |       JOIN cont USING (c_fp) CROSS JOIN t
        |  GROUP BY 1)
        |SELECT tk.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
        |       round(sc.nll / sc.n_bigrams, 4) AS avg_nll,
        |       round(exp(sc.nll / sc.n_bigrams), 4) AS ppl
        |FROM tk LEFT JOIN sc ON sc.doc_id = tk.doc_id""".stripMargin,

    // survivor = exact-max quality (bit-identical rounded doubles on
    // both engines), min doc_id among ties — over the q52 label oracle
    "q102_cluster_survivor" -> {
      val stop = stopCountSql("ltoks", TextAnalysis.StopwordDicts.head._2)
      s"""WITH lab AS (SELECT * FROM ($clusterLabelsSql)),
         |tq AS (
         |  SELECT doc_id,
         |         ${graft.operators.TextAnalysis.qualitySqlOf("length(text)", "len(toks)", "len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))", stop)} AS quality
         |  FROM (SELECT doc_id, text, string_split(text, ' ') AS toks,
         |               string_split(lower(text), ' ') AS ltoks
         |        FROM documents)),
         |j AS (SELECT lab.cluster, lab.doc_id, tq.quality
         |      FROM lab JOIN tq USING (doc_id)),
         |m AS (SELECT cluster, max(quality) AS quality, count(*) AS cluster_size
         |      FROM j GROUP BY 1)
         |SELECT m.cluster, min(j.doc_id) AS survivor_id, m.quality,
         |       m.cluster_size
         |FROM j JOIN m ON j.cluster = m.cluster AND j.quality = m.quality
         |GROUP BY 1, 3, 4""".stripMargin
    },

    "q103_shingle_novelty" ->
      (docCtes.stripSuffix("\n") + ",\n" +
        """ds AS (SELECT doc_id, unnest(list_distinct(sh)) AS s FROM sh),
          |f AS (SELECT doc_id,
          |             ('0x' || substr(md5(s), 1, 15))::BIGINT AS s_fp
          |      FROM ds),
          |dfr AS (SELECT s_fp, count(*) AS df FROM f GROUP BY 1)
          |SELECT doc_id, count(*) AS n_shingles,
          |       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_unique,
          |       RATIOQ_NOVELTY AS novelty
          |FROM f JOIN dfr USING (s_fp)
          |GROUP BY 1""".stripMargin
          .replace("RATIOQ_NOVELTY", graft.functions.AggFunctions.ratioQSql(
            "sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)", "count(*)", 4))),

    // quality replayed from the q18/q53 expressions; the cumulative
    // window runs over the (source, quality) histogram only
    "q104_quality_percentile" -> {
      val stop = stopCountSql("ltoks", TextAnalysis.StopwordDicts.head._2)
      s"""WITH q0 AS (
         |  SELECT doc_id, source,
         |         ${graft.operators.TextAnalysis.qualitySqlOf("length(text)", "len(toks)", "len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))", stop)} AS quality
         |  FROM (SELECT doc_id, source, text,
         |               string_split(text, ' ') AS toks,
         |               string_split(lower(text), ' ') AS ltoks
         |        FROM documents)),
         |-- mirror the engine's NULL-quality filter: a NULL histogram row
         |-- would sort NULLS FIRST in Spark but NULLS LAST here
         |q AS (SELECT * FROM q0 WHERE quality IS NOT NULL),
         |h AS (SELECT source, quality, count(*) AS cnt FROM q GROUP BY 1, 2),
         |n AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY 1),
         |hh AS (
         |  SELECT source, quality, cnt,
         |         sum(cnt) OVER (PARTITION BY source ORDER BY quality
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM h)
         |SELECT q.doc_id, q.source, q.quality,
         |       ${graft.functions.AggFunctions.ratioQSql(
                    "2 * hh.cum - hh.cnt", "2 * n.n", 4)} AS pctl
         |FROM q JOIN hh USING (source, quality) JOIN n USING (source)""".stripMargin
    },

    // the estimate is a fixed-order sum of k integer signature-equality
    // terms over the SAME md5 signatures the q11 oracle builds; exact
    // Jaccard replayed over the distinct shingle sets
    "q105_minhash_calibration" -> {
      val agreeSql = (1 to Dedup.MinhashK)
        .map(i => s"(CASE WHEN sa.sig[$i] = sb.sig[$i] THEN 1 ELSE 0 END)")
        .mkString("\n             + ")
      docCtes.stripSuffix("\n") + ",\n" + lshCtes +
        s"""cands AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a JOIN bands b
           |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           |   AND a.doc_id < b.doc_id),
           |shd AS (SELECT doc_id, list_distinct(sh) AS dsh FROM sh)
           |SELECT id_a, id_b,
           |       round(($agreeSql) / ${Dedup.MinhashK}e0, 4) AS est_jaccard,
           |       ${jaccardSql("da.dsh", "db.dsh")} AS jaccard,
           |       round(abs(round(($agreeSql) / ${Dedup.MinhashK}e0, 4)
           |                 - ${jaccardSql("da.dsh", "db.dsh")}), 4) AS abs_err
           |FROM cands
           |JOIN sig sa ON sa.doc_id = cands.id_a
           |JOIN sig sb ON sb.doc_id = cands.id_b
           |JOIN shd da ON da.doc_id = cands.id_a
           |JOIN shd db ON db.doc_id = cands.id_b""".stripMargin
    },

    // the q52 nd CTE (capped bands + exact-Jaccard >= 0.5 verify)
    // re-used; sources attach by doc_id, unordered pair via least/greatest
    "q106_source_overlap" ->
      (docCtes.stripSuffix("\n") + ",\n" + lshCtes +
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
           |  WHERE ${jaccardSql("a.dsh", "b.dsh")} >= 0.5)
           |SELECT least(da.source, db.source) AS source_x,
           |       greatest(da.source, db.source) AS source_y,
           |       count(*) AS n_pairs
           |FROM nd JOIN documents da ON da.doc_id = nd.id_a
           |        JOIN documents db ON db.doc_id = nd.id_b
           |GROUP BY 1, 2""".stripMargin),

    "q107_top_boilerplate" ->
      (docCtes.stripSuffix("\n") + ",\n" +
        """pd AS (
          |  SELECT doc_id, unnest(list_distinct(sh)) AS s FROM sh),
          |f AS (SELECT s, ('0x' || substr(md5(s), 1, 15))::BIGINT AS s_fp
          |      FROM pd),
          |top AS (
          |  SELECT s_fp, count(*) AS df FROM f GROUP BY 1
          |  ORDER BY df DESC, s_fp LIMIT 20),
          |n AS (SELECT count(*) AS n_docs FROM documents)
          |SELECT min(f.s) AS shingle, CAST(top.df AS BIGINT) AS df,
          |       RATIOQ_DOCSHARE AS doc_share
          |FROM f JOIN top USING (s_fp) CROSS JOIN n
          |GROUP BY top.s_fp, top.df, n.n_docs""".stripMargin
          .replace("RATIOQ_DOCSHARE", graft.functions.AggFunctions
            .ratioQSql("top.df", "n.n_docs", 4))),

    // both pair pipelines replayed (q11's nd + q31's block join), counts
    // as scalar one-row CTEs; NULLIF guards the 0/0 (NaN-vs-NULL) edge
    "q108_dedup_agreement" ->
      (docCtes.stripSuffix("\n") + ",\n" + lshCtes + simhash64Ctes +
        s"""cands AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a JOIN bands b
           |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           |   AND a.doc_id < b.doc_id),
           |shd AS (SELECT doc_id, list_distinct(sh) AS dsh FROM sh),
           |mh AS (
           |  SELECT id_a, id_b
           |  FROM cands JOIN shd a ON cands.id_a = a.doc_id
           |             JOIN shd b ON cands.id_b = b.doc_id
           |  WHERE ${jaccardSql("a.dsh", "b.dsh")} >= 0.5),
           |blocks AS (
           |  SELECT doc_id, simhash, p.block_idx,
           |         (simhash >> (p.block_idx * 16)) & 65535 AS block_val
           |  FROM simhash_t CROSS JOIN (SELECT unnest(range(0, 4)) AS block_idx) p),
           |sp AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM blocks a JOIN blocks b
           |    ON b.block_idx = a.block_idx AND b.block_val = a.block_val
           |   AND b.doc_id > a.doc_id
           |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
           |nm AS (SELECT count(*) AS n_minhash FROM mh),
           |ns AS (SELECT count(*) AS n_simhash FROM sp),
           |nb AS (SELECT count(*) AS n_both
           |       FROM mh JOIN sp USING (id_a, id_b))
           |SELECT CAST(n_minhash AS BIGINT) AS n_minhash,
           |       CAST(n_simhash AS BIGINT) AS n_simhash,
           |       CAST(n_both AS BIGINT) AS n_both,
           |       (CASE WHEN ((n_both) < 0) != ((n_minhash + n_simhash - n_both) < 0) THEN -1 ELSE 1 END * ((2 * 10000 * abs(n_both) + abs(n_minhash + n_simhash - n_both)) // (2 * abs(n_minhash + n_simhash - n_both))) / 10000.0)
           |         AS pair_jaccard
           |FROM nm CROSS JOIN ns CROSS JOIN nb""".stripMargin),

    // q109 reads the PARTITIONED layout in Spark; the oracle replays the
    // rollup over the raw table — a value mismatch would mean the
    // partition round-trip (to_date, directory encoding) lost or moved
    // rows. UTC session timezone on the Spark side makes to_date(ts)
    // equal DuckDB's naive CAST(ts AS DATE).
    "q109_partitioned_rollup" ->
      """SELECT CAST(ts AS DATE) AS event_date, event_type,
        |       count(*) AS n_events, round(sum(value), 4) AS sum_value,
        |       count(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-11'
        |GROUP BY 1, 2""".stripMargin,

    // q110 reads the WARC layout in Spark; the oracle rolls up the raw
    // table. strlen = BYTE length in DuckDB (Spark octet_length); sums
    // cast back to BIGINT (DuckDB widens BIGINT sums to HUGEINT).
    "q110_warc_roundtrip" ->
      """SELECT source, lang, count(*) AS n_docs,
        |       CAST(sum(strlen(text)) AS BIGINT) AS payload_bytes,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        |FROM documents GROUP BY 1, 2""".stripMargin,

    // q132: identical oracle to q110 — the layout and rollup are the
    // same; only the ENGINE-side read path differs (DSv2 vs binaryFiles)
    "q132_warc_v2_read" ->
      """SELECT source, lang, count(*) AS n_docs,
        |       CAST(sum(strlen(text)) AS BIGINT) AS payload_bytes,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        |FROM documents GROUP BY 1, 2""".stripMargin,

    // q135: the Morton key replayed from the raw table — identical
    // equi-width bucket arithmetic (global min/max from a subquery, the
    // same IEEE-754 term order) and the same generated interleave
    // expression the writer uses; box + hit from raw min/max, rounded at
    // the output only
    "q135_zorder_layout" -> {
      val bits = graft.sources.Writers.ZOrderBits
      val n = (1 << bits).toDouble
      def bucketSql(x: String, mn: String, mx: String) =
        s"CAST(least(greatest(floor(($x - $mn) / " +
          s"(CASE WHEN $mx > $mn THEN $mx - $mn ELSE 1.0 END) * $n), 0.0), " +
          s"${n - 1.0}) AS INT)"
      val mortonSql = (0 until bits).map { j =>
        s"(((ba & ${1 << j}) << $j) | ((bb & ${1 << j}) << ${j + 1}))"
      }.mkString(" | ")
      s"""WITH rng AS (
         |  SELECT min(CAST(user_id AS DOUBLE)) AS amn,
         |         max(CAST(user_id AS DOUBLE)) AS amx,
         |         min(value) AS bmn, max(value) AS bmx FROM events),
         |k AS (
         |  SELECT event_id, user_id, value,
         |         ${bucketSql("CAST(user_id AS DOUBLE)", "amn", "amx")} AS ba,
         |         ${bucketSql("value", "bmn", "bmx")} AS bb
         |  FROM events CROSS JOIN rng),
         |z AS (SELECT event_id, user_id, value, $mortonSql AS z_file FROM k)
         |SELECT z_file, count(*) AS n_rows,
         |       CAST(sum(event_id) AS BIGINT) AS sum_event_id,
         |       min(user_id) AS u_min, max(user_id) AS u_max,
         |       round(min(value), 4) AS v_min, round(max(value), 4) AS v_max,
         |       CASE WHEN max(user_id) >= $ZBoxUMin AND min(user_id) <= $ZBoxUMax
         |             AND max(value) >= $ZBoxVMin AND min(value) <= $ZBoxVMax
         |            THEN 1 ELSE 0 END AS hit
         |FROM z GROUP BY 1""".stripMargin
    },

    // q111: the weight literals interpolate from the shipped artifact
    // (Double.toString round-trips, so DuckDB folds the identical
    // doubles); the z chain is spelled left-to-right exactly as the
    // Scala reduce folds it, and `accept` branches on the ROUNDED
    // probability in both engines
    "q111_quality_classifier" -> {
      val w = graft.operators.QualityModel.DefaultWeights
      val stop = stopCountSql("ltoks", TextAnalysis.StopwordDicts.head._2)
      docCtes.stripSuffix("\n") + ",\n" +
        s"""f AS (
           |  SELECT doc_id,
           |         least(len(toks) / 100.0, 1.0) AS x1,
           |         CASE WHEN length(text) > 0
           |              THEN len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))
           |                   / length(text)
           |              ELSE 0.0e0 END AS x2,
           |         least($stop / len(toks) * 5.0, 1.0) AS x3
           |  FROM toks),
           |s AS (
           |  SELECT doc_id,
           |         ${w(0)}e0 * 1.0e0 + ${w(1)}e0 * x1
           |           + ${w(2)}e0 * x2 + ${w(3)}e0 * x3 AS z
           |  FROM f)
           |SELECT doc_id, round(z, 4) AS logit,
           |       round(1.0e0 / (1.0e0 + exp(-z)), 4) AS p_good,
           |       CASE WHEN round(1.0e0 / (1.0e0 + exp(-z)), 4) >= 0.5e0
           |            THEN 1 ELSE 0 END AS accept
           |FROM s""".stripMargin
    },

    // q112 reads the bucketed catalog tables in Spark; the oracle joins
    // the raw parquet — a mismatch means the bucketed write/read moved
    // or lost rows
    "q112_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |       round(sum(l_quantity), 4) AS sum_qty,
        |       count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    // q113: truth = raw exact Jaccard over the id-window pair sample;
    // caught = the q11 LSH pipeline (lshCtes bands + cap) restricted to
    // the same window; NULLIF guards the empty-truth edge like q108
    "q113_lsh_recall" ->
      (docCtes.stripSuffix("\n") + ",\n" + lshCtes +
        s"""shd AS (SELECT doc_id, list_distinct(sh) AS dsh FROM sh
           |        WHERE len(list_distinct(sh)) > 0),
           |truth AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM shd a JOIN shd b
           |    ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25
           |  WHERE ${jaccardSql("a.dsh", "b.dsh")} >= 0.5),
           |cands AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a JOIN bands b
           |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           |   AND a.doc_id < b.doc_id),
           |caught AS (
           |  SELECT id_a, id_b
           |  FROM cands JOIN shd a ON cands.id_a = a.doc_id
           |             JOIN shd b ON cands.id_b = b.doc_id
           |  WHERE ${jaccardSql("a.dsh", "b.dsh")} >= 0.5
           |    AND id_b - id_a <= 25),
           |nt AS (SELECT count(*) AS n_truth FROM truth),
           |nc AS (SELECT count(*) AS n_caught
           |       FROM truth JOIN caught USING (id_a, id_b))
           |SELECT CAST(n_truth AS BIGINT) AS n_truth,
           |       CAST(n_caught AS BIGINT) AS n_caught,
           |       ${graft.functions.AggFunctions.ratioQSql(
                      "n_caught", "n_truth", 4)} AS recall
           |FROM nt CROSS JOIN nc""".stripMargin),

    // q114: the q11 verified-pair chain, symmetrized, then a per-doc
    // row_number over (rounded jaccard DESC, neighbor ASC) — the same
    // deterministic rank-key discipline as q48
    "q114_similar_topk" ->
      (docCtes.stripSuffix("\n") + ",\n" + lshCtes +
        s"""cands AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a JOIN bands b
           |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           |   AND a.doc_id < b.doc_id),
           |shd AS (SELECT doc_id, list_distinct(sh) AS dsh FROM sh),
           |pairs AS (
           |  SELECT id_a, id_b, ${jaccardSql("a.dsh", "b.dsh")} AS jaccard
           |  FROM cands JOIN shd a ON cands.id_a = a.doc_id
           |             JOIN shd b ON cands.id_b = b.doc_id
           |  WHERE ${jaccardSql("a.dsh", "b.dsh")} >= 0.5),
           |sym AS (
           |  SELECT id_a AS doc_id, id_b AS neighbor_id, jaccard FROM pairs
           |  UNION ALL
           |  SELECT id_b AS doc_id, id_a AS neighbor_id, jaccard FROM pairs),
           |r AS (
           |  SELECT doc_id, neighbor_id, jaccard,
           |         CAST(row_number() OVER (PARTITION BY doc_id
           |           ORDER BY jaccard DESC, neighbor_id ASC) AS INTEGER) AS rnk
           |  FROM sym)
           |SELECT doc_id, rnk, neighbor_id, jaccard FROM r
           |WHERE rnk <= ${Dedup.DefaultSimilarK}""".stripMargin),

    // q115: the stage chain, names, and strictly-after semantics all
    // interpolate from EventAnalytics.DefaultFunnelStages so operator and
    // oracle can't desynchronize
    "q115_funnel" -> funnelOracleSql(EventAnalytics.DefaultFunnelStages, None),

    // q190: q115's replay with the conversion window in the same
    // windowed-min CASE — stage i only within maxGap of stage i−1
    "q190_funnel_within" -> funnelOracleSql(
      EventAnalytics.DefaultFunnelStages, Some((12 * 3.6e9).toLong)),

    // q116: (user, day) distinct → first-day cohorts → (cohort, offset)
    // counts; DuckDB date-minus-date is BIGINT days, cast to match
    // Spark's datediff INT
    "q116_retention_cohorts" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |fd AS (SELECT user_id, min(day) AS cohort_day FROM active GROUP BY 1),
        |act AS (
        |  SELECT cohort_day, CAST(day - cohort_day AS INTEGER) AS day_offset,
        |         count(*) AS n_active
        |  FROM active JOIN fd USING (user_id) GROUP BY 1, 2),
        |sz AS (SELECT cohort_day, count(*) AS n_cohort FROM fd GROUP BY 1)
        |SELECT cohort_day, day_offset, n_active, n_cohort,
        |       RATIOQ_RET AS retention
        |FROM act JOIN sz USING (cohort_day)""".stripMargin
        .replace("RATIOQ_RET", graft.functions.AggFunctions
          .ratioQSql("n_active", "n_cohort", 4)),

    // q117: the q84 md5-fp + Laplace chain, two distributions folded from
    // one tf relation with conditional sums; selection replays the
    // rounded-weight ordering with the doc_id tie-break
    "q117_importance_resample" ->
      s"""WITH tk AS (
         |  SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS tok
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, source,
         |         ('0x' || substr(md5(tok), 1, 15))::BIGINT AS fp,
         |         count(*) AS k
         |  FROM tk GROUP BY 1, 2, 3),
         |voc AS (
         |  SELECT fp,
         |         CAST(sum(CASE WHEN source = 'src0' THEN k ELSE 0 END)
         |              AS BIGINT) AS tcnt,
         |         CAST(sum(CASE WHEN source <> 'src0' THEN k ELSE 0 END)
         |              AS BIGINT) AS rcnt
         |  FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(tcnt) AS BIGINT) AS tn,
         |               CAST(sum(rcnt) AS BIGINT) AS rn,
         |               count(*) AS v FROM voc),
         |model AS (
         |  SELECT fp, ln((tcnt + 1) / CAST(tn + v AS DOUBLE)) -
         |             ln((rcnt + 1) / CAST(rn + v AS DOUBLE)) AS lr
         |  FROM voc CROSS JOIN tot),
         |sc AS (
         |  SELECT tf.doc_id, tf.source, CAST(sum(tf.k) AS BIGINT) AS n_tokens,
         |         sum(tf.k * m.lr) AS w
         |  FROM tf JOIN model m USING (fp)
         |  WHERE tf.source <> 'src0'
         |  GROUP BY 1, 2)
         |SELECT doc_id, source, n_tokens, round(w, 4) AS weight,
         |       round(w / n_tokens, 4) AS avg_lr
         |FROM sc
         |ORDER BY round(w / n_tokens, 4) DESC, doc_id ASC
         |LIMIT ${Curation.DefaultImportanceN}""".stripMargin,

    // q98: BPE TRAINING replay — the full sequential greedy loop as
    // generated CTE rounds (see bpeTrainOracleSql); unlike q118 this
    // interpolates nothing learned, so it is a genuinely independent
    // re-derivation of the merge table
    "q98_bpe_train" -> bpeTrainOracleSql(Q98Merges),

    // q118: BPE APPLY replay — the learned merge table (published by the
    // query run; Verify serializes oracleSql only after every query has
    // materialized) interpolates as nMerges nested replace() calls over
    // the boundary-wrapped character segmentation '|c1||c2|…|cn|'.
    // replace() is left-to-right non-overlapping — exactly BpeApply's
    // scan order — matches only align at symbol boundaries ('|' never
    // occurs inside a symbol, asserted at interpolation time), and the
    // DOUBLE separator between symbols keeps adjacent matches from
    // sharing characters (a single shared '|' would make the second of
    // two back-to-back (a,b) pairs invisible to the scan). The string
    // fold is therefore bit-identical to the sequential array fold,
    // which for training words — every corpus word, since q118 trains on
    // the same corpus it encodes — is bit-identical to BpeEncode's
    // rank-priority loop (the BpeSpec equivalence pin).
    "q118_bpe_encode" -> (learnedBpeMerges match {
      case None =>
        // keyset-stable placeholder for contexts that read oracleSql
        // without running the query (ContractSpec); Verify always
        // overwrites it with the real replay
        "SELECT CAST(NULL AS BIGINT) AS doc_id, 0 AS n_words, " +
          "0 AS n_tokens, '' AS token_str WHERE false"
      case Some(merges) =>
        require(merges.forall { case (a, b) => !(a + b).contains("|") },
          "oracle wrap char '|' appears in a learned symbol — switch the replay to chr(1)")
        val folded = merges.foldLeft("regexp_replace(w, '(.)', '|\\1|', 'g')") {
          case (acc, (a, b)) => s"replace($acc, '|$a||$b|', '|$a$b|')"
        }
        s"""SELECT doc_id, len(words) AS n_words,
           |       len(flatten(pieces)) AS n_tokens,
           |       array_to_string(flatten(pieces), ' ') AS token_str
           |FROM (
           |  SELECT doc_id, words,
           |         list_transform(words,
           |           w -> string_split(trim($folded, '|'), '||')) AS pieces
           |  FROM (
           |    SELECT doc_id,
           |           list_filter(string_split(lower(text), ' '),
           |                       w -> len(w) > 0) AS words
           |    FROM documents))""".stripMargin
    }),

    // q119: the composed curation DAG replayed end to end — q104's
    // percentile (keep pctl >= 0.5), q11/q52's LSH+CC over the KEPT
    // subset (band cap re-applied on the subset's bucket sizes), q102's
    // keep-best survivor, q80's bucket-wise budget cutoff at HALF the
    // deduped corpus's tokens (a scalar subquery — the budget derives
    // from the data in both engines), and q77's block-sharded packing of
    // the selected docs. Each fragment is the established bit-exact
    // oracle of its standalone gate; this chains them. `labels` is
    // MATERIALIZED because j2, m2, surv and dd all read the recursive
    // walk through it: inlined, DuckDB 1.0 ran out of memory on `surv`
    // alone under a 2 GiB limit (and on the whole query under its
    // 12.5 GiB default) although `walk` holds 37 rows at sf0.01;
    // materialized, `surv` finishes in 43 s under the same limit.
    "q119_curation_dag" -> {
      val stop = stopCountSql("ltoks", TextAnalysis.StopwordDicts.head._2)
      val qual =
        s"""${graft.operators.TextAnalysis.qualitySqlOf("length(text)", "len(toks)", "len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))", stop)}""".stripMargin
      val bandSelects = (0 until Dedup.LshBands).map { b =>
        val idx = (1 to Dedup.LshRows).map(r => s"sig[${b * Dedup.LshRows + r}]")
        s"SELECT doc_id, $b AS band_idx, md5(${idx.mkString(" || '|' || ")}) AS band_hash FROM sig"
      }
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS toks,
         |         string_split(lower(text), ' ') AS ltoks
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, list_transform(range(1, len(toks) - 1),
         |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
         |  FROM toks),
         |q0 AS (
         |  SELECT doc_id, source, $qual AS quality
         |  FROM (SELECT d.doc_id, d.source, d.text, t.toks, t.ltoks
         |        FROM documents d JOIN toks t USING (doc_id))),
         |q AS (SELECT * FROM q0 WHERE quality IS NOT NULL),
         |h AS (SELECT source, quality, count(*) AS cnt FROM q GROUP BY 1, 2),
         |n AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY 1),
         |hh AS (
         |  SELECT source, quality, cnt,
         |         sum(cnt) OVER (PARTITION BY source ORDER BY quality
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM h),
         |kept AS (
         |  SELECT q.doc_id
         |  FROM q JOIN hh USING (source, quality) JOIN n USING (source)
         |  WHERE round((hh.cum - 0.5e0 * hh.cnt) / n.n, 4) >= 0.5),
         |shk AS (
         |  SELECT doc_id, sh FROM sh
         |  WHERE doc_id IN (SELECT doc_id FROM kept)),
         |sig AS (
         |  SELECT doc_id, list_transform(range(0, ${Dedup.MinhashK}),
         |           j -> list_min(list_transform(sh, s -> md5(j::VARCHAR || '|' || s)))) AS sig
         |  FROM shk WHERE len(sh) > 0),
         |bands_raw AS (
         |${bandSelects.mkString("  ", "\n  UNION ALL ", "")}),
         |bands AS (
         |  SELECT doc_id, band_idx, band_hash FROM bands_raw
         |  QUALIFY count(*) OVER (PARTITION BY band_idx, band_hash) <= ${Dedup.DefaultMaxBucket}),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |   AND a.doc_id < b.doc_id),
         |shd AS (SELECT doc_id, list_distinct(sh) AS dsh FROM shk),
         |nd AS (
         |  SELECT id_a, id_b
         |  FROM cands JOIN shd a ON cands.id_a = a.doc_id
         |             JOIN shd b ON cands.id_b = b.doc_id
         |  WHERE ${jaccardSql("a.dsh", "b.dsh")} >= 0.5),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM nd
         |  UNION ALL SELECT id_b, id_a FROM nd),
         |walk(id, reach) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.reach),
         |labels AS MATERIALIZED (
         |  SELECT id AS doc_id, min(reach) AS cluster FROM walk GROUP BY id),
         |j2 AS (SELECT labels.cluster, labels.doc_id, q0.quality
         |       FROM labels JOIN q0 USING (doc_id)),
         |m2 AS (SELECT cluster, max(quality) AS bq FROM j2 GROUP BY 1),
         |surv AS (
         |  SELECT j2.cluster, min(j2.doc_id) AS survivor_id
         |  FROM j2 JOIN m2 ON j2.cluster = m2.cluster AND j2.quality = m2.bq
         |  GROUP BY 1),
         |dd AS (
         |  SELECT doc_id FROM kept
         |  WHERE doc_id NOT IN (
         |    SELECT doc_id FROM labels
         |    WHERE doc_id NOT IN (SELECT survivor_id FROM surv))),
         |tot AS (
         |  SELECT CAST(sum(len(t.toks)) AS BIGINT) // 2 AS budget
         |  FROM toks t WHERE t.doc_id IN (SELECT doc_id FROM dd)),
         |e2 AS (
         |  SELECT t.doc_id, len(t.toks) AS n_tokens, q0.quality AS qv,
         |         CAST(floor(q0.quality * 100) AS INT) AS qb
         |  FROM toks t JOIN q0 USING (doc_id)
         |  WHERE t.doc_id IN (SELECT doc_id FROM dd)
         |    AND q0.quality IS NOT NULL),
         |b AS (SELECT qb, CAST(sum(n_tokens) AS BIGINT) AS b_tokens
         |      FROM e2 GROUP BY 1),
         |bc AS (SELECT qb, b_tokens,
         |              CAST(coalesce(sum(b_tokens) OVER (ORDER BY qb DESC
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |                AS BIGINT) AS cum_before
         |       FROM b),
         |j3 AS (SELECT e2.doc_id, e2.qb, e2.n_tokens,
         |              bc.b_tokens, bc.cum_before
         |       FROM e2 JOIN bc USING (qb)),
         |whole AS (
         |  SELECT doc_id FROM j3
         |  WHERE cum_before + b_tokens <= (SELECT budget FROM tot)),
         |bnd AS (
         |  SELECT doc_id FROM (
         |    SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY qb
         |      ORDER BY blk, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_in
         |    FROM (SELECT *, ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT
         |                      % ${Curation.DefaultPackBlocks} AS blk
         |          FROM j3 WHERE cum_before < (SELECT budget FROM tot)
         |            AND cum_before + b_tokens > (SELECT budget FROM tot)))
         |  WHERE cum_before + cum_in + n_tokens <= (SELECT budget FROM tot)),
         |sel AS (SELECT doc_id FROM whole UNION ALL SELECT doc_id FROM bnd),
         |pt AS (
         |  SELECT d.doc_id, d.lang, len(t.toks) AS n_tokens,
         |         ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 4))::INT
         |           % ${Curation.DefaultPackBlocks} AS block
         |  FROM documents d JOIN toks t USING (doc_id)
         |  WHERE d.doc_id IN (SELECT doc_id FROM sel)),
         |pc AS (
         |  SELECT doc_id, lang, n_tokens,
         |         CAST(coalesce(sum(n_tokens) OVER (
         |           PARTITION BY lang ORDER BY block, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS cum_before
         |  FROM pt)
         |SELECT doc_id, lang, n_tokens, cum_before,
         |       CAST(floor(cum_before / 256.0) AS BIGINT) AS seq_id,
         |       cum_before % 256 AS offset,
         |       CAST(cum_before % 256 + n_tokens > 256 AS INT)
         |         AS spans_boundary
         |FROM pc""".stripMargin
    },

    // q120: the q99 brute-truth + q51 probe-ranking replays, swept over
    // probe levels with a level relation; n_scored counts each level's
    // candidate set (integers), recall rounds at 4 (the q99 rational)
    "q120_ann_frontier" ->
      (kmeansCtes.stripSuffix("\n") + ",\n" +
        s"""bs AS (
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
           |qprobe AS (
           |  SELECT vec_id, cell, rn FROM (
           |    SELECT v.vec_id, cc.cell,
           |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
           |             list_sum(list_transform(cc.c, x -> x*x))
           |             - 2 * list_sum(list_transform(range(1, ${EmbDim + 1}),
           |                              i -> v.emb[i] * cc.c[i])),
           |             cc.cell) AS rn
           |    FROM v CROSS JOIN c$KmeansIters cc WHERE v.vec_id < 8)
           |  WHERE rn <= 4),
           |lv AS (SELECT unnest([1, 2, 4]) AS n_probe),
           |cand AS (
           |  SELECT l.n_probe, q.vec_id AS q_id, c.vec_id AS vec_id,
           |         ${cosineSql("q.embedding", "c.embedding")} AS cos
           |  FROM lv l
           |  JOIN qprobe qp ON qp.rn <= l.n_probe
           |  JOIN embeddings q ON q.vec_id = qp.vec_id
           |  JOIN cells cc ON cc.cell = qp.cell
           |  JOIN embeddings c ON c.vec_id = cc.vec_id AND c.vec_id <> q.vec_id),
           |ns AS (SELECT n_probe, q_id, CAST(count(*) AS BIGINT) AS n_scored
           |       FROM cand GROUP BY 1, 2),
           |iv AS (
           |  SELECT n_probe, q_id, vec_id FROM (
           |    SELECT n_probe, q_id, vec_id,
           |           ROW_NUMBER() OVER (PARTITION BY n_probe, q_id
           |             ORDER BY round(cos, 6) DESC, vec_id ASC) AS rank
           |    FROM cand) WHERE rank <= 5),
           |t AS (SELECT q_id, count(*) AS n_truth FROM bt GROUP BY 1),
           |h AS (SELECT iv.n_probe, bt.q_id, count(*) AS n_hit
           |      FROM bt JOIN iv USING (q_id, vec_id) GROUP BY 1, 2)
           |SELECT l.n_probe, t.q_id, CAST(t.n_truth AS BIGINT) AS n_truth,
           |       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           |       ${graft.functions.AggFunctions.ratioQSql(
                      "coalesce(h.n_hit, 0)", "t.n_truth", 4)} AS recall,
           |       coalesce(ns.n_scored, 0) AS n_scored
           |FROM lv l CROSS JOIN t
           |LEFT JOIN h ON h.n_probe = l.n_probe AND h.q_id = t.q_id
           |LEFT JOIN ns ON ns.n_probe = l.n_probe AND ns.q_id = t.q_id""".stripMargin),

    // q129: the IVF-PQ frontier replay — codebooks interpolated from the
    // published learned model (Verify materializes queries before
    // serializing oracleSql), everything else recomputed in SQL
    "q129_pq_frontier" -> ((learnedPqModel, learnedPqResModel) match {
      case (Some(model), Some(rModel)) => pqFrontierOracleSql(model, rModel)
      case _ =>
        // keyset-stable placeholder (the q118 convention); Verify always
        // overwrites it with the real replay
        "SELECT '' AS variant, CAST(NULL AS BIGINT) AS q_id, " +
          "CAST(0 AS BIGINT) AS n_truth, CAST(0 AS BIGINT) AS n_hit, " +
          "0.0 AS recall, CAST(0 AS BIGINT) AS n_scored WHERE false"
    }),

    // q138: both assignment paths replayed from the published literals —
    // the flat argmin over all cell centroids and the two-level pick
    // (nearest group by the same |c|²−2·dot distance, then argmin over
    // that group's member cells), identical index-order folds and
    // (dist, index) tie-breaks as the NearestCells/NearestCellTwoLevel
    // kernels
    "q138_twolevel_assign" -> (learnedHierModel match {
      case None =>
        "SELECT CAST(NULL AS BIGINT) AS vec_id, 0 AS cell_two_level, " +
          "0 AS cell_flat, 0 AS agree WHERE false"
      case Some((cents, idx)) =>
        val gcVals = idx.groupCents.zipWithIndex.map { case (c, gi) =>
          s"($gi, [${c.mkString(", ")}]::DOUBLE[])"
        }.mkString(", ")
        val cellVals = cents.zipWithIndex.map { case (c, ci) =>
          val gi = idx.members.indexWhere(_.contains(ci))
          s"($ci, $gi, [${c.mkString(", ")}]::DOUBLE[])"
        }.mkString(", ")
        def dist(vec: String, cen: String) =
          s"""(list_sum(list_transform($cen, x -> x*x))
             | - 2 * list_sum(list_transform(range(1, ${EmbDim + 1}),
             |          i -> $vec[i] * $cen[i])))""".stripMargin
        s"""WITH v AS (
           |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
           |  FROM embeddings),
           |gc AS (SELECT * FROM (VALUES $gcVals) t(gi, gv)),
           |cl AS (SELECT * FROM (VALUES $cellVals) t(ci, gi, cv)),
           |gpick AS (
           |  SELECT vec_id, gi FROM (
           |    SELECT v.vec_id, gc.gi,
           |           row_number() OVER (PARTITION BY v.vec_id
           |             ORDER BY ${dist("v.emb", "gc.gv")}, gc.gi) AS rn
           |    FROM v CROSS JOIN gc) WHERE rn = 1),
           |two AS (
           |  SELECT vec_id, ci AS cell_two_level FROM (
           |    SELECT g.vec_id, cl.ci,
           |           row_number() OVER (PARTITION BY g.vec_id
           |             ORDER BY ${dist("v.emb", "cl.cv")}, cl.ci) AS rn
           |    FROM gpick g
           |    JOIN cl ON cl.gi = g.gi
           |    JOIN v ON v.vec_id = g.vec_id) WHERE rn = 1),
           |flat AS (
           |  SELECT vec_id, ci AS cell_flat FROM (
           |    SELECT v.vec_id, cl.ci,
           |           row_number() OVER (PARTITION BY v.vec_id
           |             ORDER BY ${dist("v.emb", "cl.cv")}, cl.ci) AS rn
           |    FROM v CROSS JOIN cl) WHERE rn = 1)
           |SELECT two.vec_id, two.cell_two_level, flat.cell_flat,
           |       CASE WHEN two.cell_two_level = flat.cell_flat
           |            THEN 1 ELSE 0 END AS agree
           |FROM two JOIN flat USING (vec_id)""".stripMargin
    }),

    // q133: the PCA projection replay — components + mean-dot scalars
    // interpolated from the published fitted basis, the dot folding in
    // index order exactly as VectorDot does
    "q133_pca_project" -> (learnedPcaModel match {
      case None =>
        "SELECT CAST(NULL AS BIGINT) AS vec_id, " +
          (1 to PcaK).map(j => s"0.0 AS p$j").mkString(", ") + " WHERE false"
      case Some(model) =>
        val lits = model.components.indices.map { j =>
          s"[${model.components(j).mkString(", ")}]::DOUBLE[] AS v${j + 1}"
        }.mkString(", ")
        val projs = model.components.indices.map { j =>
          s"""round(list_sum(list_transform(range(1, ${EmbDim + 1}),
             |         i -> e.emb[i] * m.v${j + 1}[i]))
             |       - ${model.meanDots(j)}, 4) AS p${j + 1}""".stripMargin
        }.mkString(",\n       ")
        s"""WITH e AS (
           |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
           |  FROM embeddings),
           |m AS (SELECT $lits)
           |SELECT e.vec_id,
           |       $projs
           |FROM e CROSS JOIN m""".stripMargin
    }),

    // q125: the q109 rollup without the date slice — full-range equality
    // against the raw table is the losslessness proof for the compacted
    // rewrite
    "q125_compacted_rollup" ->
      """SELECT CAST(ts AS DATE) AS event_date, event_type,
        |       count(*) AS n_events, round(sum(value), 4) AS sum_value,
        |       count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1, 2""".stripMargin,

    // q127: the q80 budget replay partitioned by source, budgets
    // interpolated from the shipped recipe (floor(budget * share)
    // computed HERE, the same longs the engine folds)
    "q127_source_mix" ->
      ("WITH " + mixSelCtes(MixTargets) + s""",
         |sp AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS spent
         |       FROM sel GROUP BY 1)
         |SELECT sel.doc_id, sel.source, sel.n_tokens, sel.hb,
         |       CAST(bud.budget AS BIGINT) AS budget, sp.spent,
         |       CAST(bud.budget AS BIGINT) - sp.spent AS unspent
         |FROM sel JOIN bud USING (source) JOIN sp USING (source)""".stripMargin),

    // q131: the accounting report over the SAME selection replay, with
    // the ghost target's zero-spent row surfaced by the LEFT JOIN from
    // the budget relation
    "q131_mix_accounting" ->
      ("WITH " +
        mixSelCtes(MixTargets :+ (MixGhostSource -> MixGhostShare)) + s""",
         |agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |               CAST(sum(n_tokens) AS BIGINT) AS spent
         |        FROM sel GROUP BY 1)
         |SELECT bud.source, CAST(bud.budget AS BIGINT) AS budget,
         |       coalesce(agg.n_docs, 0) AS n_docs,
         |       coalesce(agg.spent, 0) AS spent,
         |       CAST(bud.budget AS BIGINT) - coalesce(agg.spent, 0) AS unspent
         |FROM bud LEFT JOIN agg USING (source)""".stripMargin),

    // q126: the merge replay — change classes from a left join on the
    // normalized-fp equality (the same fpSql the q10 dedup gate uses),
    // carry set via NOT IN on the incoming ids
    "q126_corpus_merge" ->
      s"""WITH ex AS (
         |  SELECT doc_id, text, lang, source FROM documents
         |  WHERE doc_id % 5 <> 4),
         |inc AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 10 = 0 THEN text || ' updated'
         |              ELSE text END AS text,
         |         lang, source
         |  FROM documents WHERE doc_id % 2 = 0),
         |exfp AS (SELECT doc_id, $fpSql AS fp FROM ex),
         |incfp AS (SELECT doc_id, text, lang, source, $fpSql AS fp FROM inc),
         |m AS (
         |  SELECT i.doc_id, i.text, i.lang, i.source,
         |         CASE WHEN e.fp IS NULL THEN 'insert'
         |              WHEN i.fp = e.fp THEN 'refresh'
         |              ELSE 'rewrite' END AS change
         |  FROM incfp i LEFT JOIN exfp e USING (doc_id))
         |SELECT doc_id, text, lang, source, change FROM m
         |UNION ALL
         |SELECT doc_id, text, lang, source, 'carry' AS change FROM ex
         |WHERE doc_id NOT IN (SELECT doc_id FROM inc)""".stripMargin,

    // q128: the incremental merge replay — identical change-class logic
    // to q126 but the gated relation is (doc_id, fp, change): the
    // refreshed 60-bit-fingerprint artifact with the audit tags. The
    // oracle MAY scan text (it is a replay); the engine plan may NOT
    // (the artifact-reuse point, pinned by CurationSpec).
    "q128_corpus_merge_incremental" ->
      s"""WITH ex AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),
         |inc AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 10 = 0 THEN text || ' updated'
         |              ELSE text END AS text
         |  FROM documents WHERE doc_id % 2 = 0),
         |exfp AS (SELECT doc_id,
         |                ('0x' || substr($fpSql, 1, 15))::BIGINT AS fp
         |         FROM ex),
         |incfp AS (SELECT doc_id,
         |                 ('0x' || substr($fpSql, 1, 15))::BIGINT AS fp
         |          FROM inc),
         |m AS (
         |  SELECT i.doc_id, i.fp,
         |         CASE WHEN e.fp IS NULL THEN 'insert'
         |              WHEN i.fp = e.fp THEN 'refresh'
         |              ELSE 'rewrite' END AS change
         |  FROM incfp i LEFT JOIN exfp e USING (doc_id))
         |SELECT doc_id, fp, change FROM m
         |UNION ALL
         |SELECT doc_id, fp, 'carry' AS change FROM exfp
         |WHERE doc_id NOT IN (SELECT doc_id FROM inc)""".stripMargin,

    // q143: the time-travel replay — the same three batch definitions,
    // membership at version v = last-delivered fingerprint per doc over
    // the chain prefix (refresh re-deliveries carry the same fp, so
    // "latest version wins" is exactly what the store's delta-feed
    // replay reconstructs)
    "q143_snapshot_asof" ->
      s"""WITH c1 AS (
         |  SELECT doc_id, ('0x' || substr($fpSql, 1, 15))::BIGINT AS fp,
         |         1 AS v
         |  FROM documents WHERE doc_id % 3 <> 2),
         |c2 AS (
         |  SELECT doc_id, ('0x' || substr($fpSql, 1, 15))::BIGINT AS fp,
         |         2 AS v
         |  FROM (SELECT doc_id, text || ' rev2' AS text FROM documents
         |        WHERE doc_id % 5 = 0)),
         |c3 AS (
         |  SELECT doc_id, ('0x' || substr($fpSql, 1, 15))::BIGINT AS fp,
         |         3 AS v
         |  FROM documents WHERE doc_id % 7 = 0),
         |chain AS (
         |  SELECT * FROM c1 UNION ALL SELECT * FROM c2
         |  UNION ALL SELECT * FROM c3),
         |vs AS (SELECT unnest([1, 2, 3]) AS as_of)
         |SELECT CAST(as_of AS BIGINT) AS as_of, doc_id, fp FROM (
         |  SELECT vs.as_of, c.doc_id, c.fp,
         |         row_number() OVER (PARTITION BY vs.as_of, c.doc_id
         |                            ORDER BY c.v DESC) AS rn
         |  FROM vs JOIN chain c ON c.v <= vs.as_of) WHERE rn = 1""".stripMargin,

    // q122: n is generated into the shingle concat chain from
    // Dedup.DecontamShingleN (the q100 interpolate-the-constant rule);
    // zero-shingle pool docs survive via the LEFT JOIN with n_hits 0,
    // mirroring the engine's explode_outer accounting
    "q122_decontamination" -> {
      val n = Dedup.DecontamShingleN
      val cat = (0 until n).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
      s"""WITH toks AS (
         |  SELECT doc_id, source, string_split(text, ' ') AS toks
         |  FROM documents),
         |shn AS (
         |  SELECT doc_id, source,
         |         list_distinct(list_transform(range(1, len(toks) - ${n - 2}),
         |           i -> $cat)) AS sh
         |  FROM toks),
         |b AS (
         |  SELECT DISTINCT ('0x' || substr(md5(s), 1, 15))::BIGINT AS fp
         |  FROM (SELECT unnest(sh) AS s FROM shn
         |        WHERE source = '$DecontamBenchmarkSource')),
         |pd AS (SELECT doc_id, len(sh) AS n_shingles FROM shn
         |       WHERE source <> '$DecontamBenchmarkSource'),
         |pf AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS fp
         |       FROM (SELECT doc_id, unnest(sh) AS s FROM shn
         |             WHERE source <> '$DecontamBenchmarkSource')),
         |h AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |      FROM pf WHERE fp IN (SELECT fp FROM b) GROUP BY 1)
         |SELECT pd.doc_id, pd.n_shingles,
         |       coalesce(h.n_hits, 0) AS n_hits,
         |       CAST(coalesce(h.n_hits, 0) > 0 AS INT) AS contaminated
         |FROM pd LEFT JOIN h USING (doc_id)""".stripMargin
    },

    // q123: the q118 merge replay grouped to tokenizer economics per
    // source — integer word/piece/char sums, ratios rounded at 4
    "q123_bpe_fertility" -> (learnedBpeMerges match {
      case None =>
        // keyset-stable placeholder (the q118 convention); Verify always
        // overwrites it with the real replay
        "SELECT '' AS source, CAST(0 AS BIGINT) AS n_docs, " +
          "CAST(0 AS BIGINT) AS n_words, CAST(0 AS BIGINT) AS n_pieces, " +
          "0.0 AS fertility, 0.0 AS chars_per_piece WHERE false"
      case Some(merges) =>
        require(merges.forall { case (a, b) => !(a + b).contains("|") },
          "oracle wrap char '|' appears in a learned symbol — switch the replay to chr(1)")
        val folded = merges.foldLeft("regexp_replace(w, '(.)', '|\\1|', 'g')") {
          case (acc, (a, b)) => s"replace($acc, '|$a||$b|', '|$a$b|')"
        }
        s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_words) AS BIGINT) AS n_words,
           |       CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
           |       ${graft.functions.AggFunctions.ratioQSql(
                      "sum(n_pieces)", "sum(n_words)", 4)}
           |         AS fertility,
           |       ${graft.functions.AggFunctions.ratioQSql(
                      "sum(n_chars)", "sum(n_pieces)", 4)}
           |         AS chars_per_piece
           |FROM (
           |  SELECT source, len(words) AS n_words,
           |         len(flatten(pieces)) AS n_pieces,
           |         coalesce(list_sum(list_transform(flatten(pieces),
           |                                          p -> len(p))), 0) AS n_chars
           |  FROM (
           |    SELECT source, words,
           |           list_transform(words,
           |             w -> string_split(trim($folded, '|'), '||')) AS pieces
           |    FROM (
           |      SELECT source,
           |             list_filter(string_split(lower(text), ' '),
           |                         w -> len(w) > 0) AS words
           |      FROM documents)))
           |GROUP BY 1""".stripMargin
    }),

    // q124: q104's quality, q17's language argmax, q10's normalized-fp
    // dup definition, rolled to one row per source; ratios all derive
    // from integer counts; majority-language argmax replays the q102
    // join-back with (count desc, lang asc) resolution
    "q124_source_datacard" ->
      ("WITH " + datacardOracleBody("documents")),

    // q130: the ingestion chain replayed stage by stage — incoming from
    // the raw table (q110's hash gate already proves the WARC round trip
    // is lossless, so the oracle reads `documents` directly), q53's
    // curation fragment over the incoming relation, the merge's ROW
    // semantics (incoming replaces same-id, rest carries — the change
    // TAGS are q126/q128's gates and don't alter the card), and the
    // EXACT q124 datacard body (shared helper) over the merged corpus
    "q130_ingest_chain" -> ingestChainOracleSql,

    // q137: the IDENTICAL oracle — the steady-state artifact path must
    // reproduce the bootstrap chain's cards bit-for-bit
    "q137_ingest_chain_incremental" -> ingestChainOracleSql,

    // q134: the merge's ROW semantics (q128's split and drift) and the
    // EXACT q124 card body (shared helper) over the merged corpus — the
    // artifact path must equal a from-scratch recompute, so the oracle
    // IS the recompute
    "q134_datacard_incremental" ->
      ("""WITH docs0 AS (SELECT doc_id, source, text FROM documents),
         |incoming AS (
         |  SELECT doc_id, source,
         |         CASE WHEN doc_id % 10 = 0 THEN text || ' updated'
         |              ELSE text END AS text
         |  FROM docs0 WHERE doc_id % 2 = 0),
         |merged AS (
         |  SELECT doc_id, source, text FROM incoming
         |  UNION ALL
         |  SELECT doc_id, source, text FROM docs0
         |  WHERE doc_id % 5 <> 4
         |    AND doc_id NOT IN (SELECT doc_id FROM incoming)),
         |""".stripMargin + datacardOracleBody("merged")),

    // q196: the spliced rebuild must equal the one-shot post-delete
    // recompute — the delete-path law, strongest form
    "q196_summary_delete_rebuild" ->
      s"""SELECT source, lang,
         |       CAST(count(*) AS BIGINT) AS cnt,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |       CAST(min(doc_id) AS BIGINT) AS min_doc,
         |       CAST(max(doc_id) AS BIGINT) AS max_doc
         |FROM documents WHERE doc_id % 7 <> 3
         |GROUP BY 1, 2""".stripMargin,

    // q198: the decimal rollup recomputed from lineitem with the same
    // decimal(12,2) casts — the gated query reads the derived decimal
    // base (bit-identical rows: same cast of the same doubles), and
    // MvRewrite's sum-widening stand-down means BOTH engines aggregate
    // base rows with exact decimal arithmetic (integer cents under the
    // hood; string-compared at scale 2)
    "q198_decimal_rollup" ->
      """SELECT l_returnflag,
        |       count(*) AS n_items,
        |       sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sum_price,
        |       min(CAST(l_extendedprice AS DECIMAL(12,2))) AS min_price,
        |       max(CAST(l_extendedprice AS DECIMAL(12,2))) AS max_price
        |FROM lineitem GROUP BY 1""".stripMargin,

    // q200: the FIRING decimal rollup recomputed from lineitem — Spark
    // answers from the registered (l_returnflag, l_linestatus) decimal
    // summary (count re-sums, min/max re-extremize, no type widening),
    // DuckDB recomputes from every base row; hash equality pins the
    // rewrite exact on the decimal plane
    "q200_decimal_mv_fire" ->
      """SELECT l_returnflag,
        |       count(*) AS n_items,
        |       min(CAST(l_extendedprice AS DECIMAL(12,2))) AS min_price,
        |       max(CAST(l_extendedprice AS DECIMAL(12,2))) AS max_price
        |FROM lineitem GROUP BY 1""".stripMargin,

    // q199: decimal multiply/subtract (scale 2→4, exact both engines);
    // the mean replays the integer-cents spelling — decimal→double casts
    // are only bit-identical for INTEGER-valued decimals, so the sum is
    // taken over cents (BIGINT→HUGEINT here, decimal(38,0) in Spark)
    "q199_decimal_revenue" ->
      """SELECT l_linestatus,
        |       count(*) AS n_items,
        |       sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sum_price,
        |       sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * (CAST(1 AS DECIMAL(12,2))
        |              - CAST(l_discount AS DECIMAL(12,2)))) AS sum_revenue,
        |       round(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |                          * 100 AS BIGINT)) AS DOUBLE)
        |             / (100.0 * count(*)), 4) AS avg_price
        |FROM lineitem GROUP BY 1""".stripMargin,

    // q197: per-table exact purge accounting over the same forget set
    "q197_forget_receipt" ->
      s"""WITH ids AS (
         |  SELECT DISTINCT user_id AS fid FROM events
         |  WHERE user_id % 101 = 5)
         |SELECT 'events' AS table_name,
         |       CAST(count(*) AS BIGINT) AS rows_before,
         |       CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM ids
         |         WHERE fid = user_id) THEN 1 ELSE 0 END) AS BIGINT)
         |         AS rows_deleted,
         |       CAST(count(*) - sum(CASE WHEN EXISTS (SELECT 1 FROM ids
         |         WHERE fid = user_id) THEN 1 ELSE 0 END) AS BIGINT)
         |         AS rows_after
         |FROM events
         |UNION ALL
         |SELECT 'orders',
         |       CAST(count(*) AS BIGINT),
         |       CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM ids
         |         WHERE fid = o_custkey) THEN 1 ELSE 0 END) AS BIGINT),
         |       CAST(count(*) - sum(CASE WHEN EXISTS (SELECT 1 FROM ids
         |         WHERE fid = o_custkey) THEN 1 ELSE 0 END) AS BIGINT)
         |FROM orders""".stripMargin,

    // q194: trigram replay with two leads over the same per-user order;
    // the LIMIT selection is deterministic via the full tie-break
    "q194_top_paths" ->
      s"""WITH e AS (
         |  SELECT user_id AS u, ts, event_id AS i, event_type AS ty
         |  FROM events),
         |s AS (
         |  SELECT ty AS a,
         |         lead(ty) OVER (PARTITION BY u ORDER BY ts, i) AS b,
         |         lead(ty, 2) OVER (PARTITION BY u ORDER BY ts, i) AS c
         |  FROM e)
         |SELECT a, b, c, CAST(count(*) AS BIGINT) AS n
         |FROM s WHERE b IS NOT NULL AND c IS NOT NULL
         |GROUP BY 1, 2, 3
         |ORDER BY n DESC, a, b, c
         |LIMIT 10""".stripMargin,

    // q195: pair gaps via lead over the same order; exact integer micro
    // sums, the identical double division chain, rounded 4
    "q195_transition_timing" ->
      s"""WITH e AS (
         |  SELECT user_id AS u, epoch_us(ts) AS tt, ts, event_id AS i,
         |         event_type AS ty
         |  FROM events),
         |s AS (
         |  SELECT ty AS from_type,
         |         lead(ty) OVER (PARTITION BY u ORDER BY ts, i) AS to_type,
         |         lead(tt) OVER (PARTITION BY u ORDER BY ts, i) - tt AS gap
         |  FROM e)
         |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n,
         |       ${graft.functions.AggFunctions.ratioQSql(
                    "sum(gap)", "count(*) * 1000000", 4)}
         |         AS mean_gap_sec
         |FROM s WHERE to_type IS NOT NULL
         |GROUP BY 1, 2""".stripMargin,

    // q193: the profile replayed one UNION branch per column (DuckDB
    // pays p scans; the engine's one-Expand-pass is the plan under
    // gate, the VALUES are what must agree)
    "q193_table_profile" -> {
      def branch(c: String, num: Boolean): String = {
        val minN = if (num) s"CAST(min($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        val maxN = if (num) s"CAST(max($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        val minS = if (num) "CAST(NULL AS VARCHAR)" else s"CAST(min($c) AS VARCHAR)"
        val maxS = if (num) "CAST(NULL AS VARCHAR)" else s"CAST(max($c) AS VARCHAR)"
        s"""SELECT '$c' AS col_name,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           |       CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
           |       $minN AS min_num, $maxN AS max_num,
           |       $minS AS min_str, $maxS AS max_str
           |FROM orders""".stripMargin
      }
      Seq(branch("o_orderkey", num = true),
        branch("o_custkey", num = true),
        branch("o_orderstatus", num = false),
        branch("o_totalprice", num = true))
        .mkString("\nUNION ALL\n")
    },

    // q191: the round-unrolled generalization chain — per round, safe
    // classes release at that level (EXISTS), the rest carry to the
    // next level (NOT EXISTS); root leftovers suppress at level -1
    "q191_kanonymize" ->
      s"""WITH j AS (
         |  SELECT c_custkey, n_name, r_name, c_mktsegment
         |  FROM customer
         |  JOIN nation ON n_nationkey = c_nationkey
         |  JOIN region ON r_regionkey = n_regionkey),
         |c0 AS (SELECT n_name, c_mktsegment FROM j
         |       GROUP BY 1, 2 HAVING count(*) >= 15),
         |ok0 AS (
         |  SELECT c_custkey, n_name AS geo, 0 AS level, c_mktsegment
         |  FROM j WHERE EXISTS (SELECT 1 FROM c0
         |    WHERE c0.n_name = j.n_name
         |      AND c0.c_mktsegment = j.c_mktsegment)),
         |p1 AS (
         |  SELECT * FROM j WHERE NOT EXISTS (SELECT 1 FROM c0
         |    WHERE c0.n_name = j.n_name
         |      AND c0.c_mktsegment = j.c_mktsegment)),
         |c1 AS (SELECT r_name, c_mktsegment FROM p1
         |       GROUP BY 1, 2 HAVING count(*) >= 15),
         |ok1 AS (
         |  SELECT c_custkey, r_name AS geo, 1 AS level, c_mktsegment
         |  FROM p1 WHERE EXISTS (SELECT 1 FROM c1
         |    WHERE c1.r_name = p1.r_name
         |      AND c1.c_mktsegment = p1.c_mktsegment)),
         |p2 AS (
         |  SELECT * FROM p1 WHERE NOT EXISTS (SELECT 1 FROM c1
         |    WHERE c1.r_name = p1.r_name
         |      AND c1.c_mktsegment = p1.c_mktsegment))
         |SELECT c_custkey, geo, CAST(level AS INTEGER) AS level,
         |       c_mktsegment
         |FROM (SELECT * FROM ok0
         |      UNION ALL SELECT * FROM ok1
         |      UNION ALL SELECT c_custkey, '*' AS geo, -1 AS level,
         |                       c_mktsegment FROM p2)""".stripMargin,

    // q189: the incremental merge must equal the one-shot recompute
    // over the whole table — the strongest form of the merge laws
    "q189_summary_delta" ->
      s"""SELECT source, lang,
         |       CAST(count(*) AS BIGINT) AS cnt,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |       CAST(min(doc_id) AS BIGINT) AS min_doc,
         |       CAST(max(doc_id) AS BIGINT) AS max_doc
         |FROM documents GROUP BY 1, 2""".stripMargin,

    // q188: the MV rollup's SEMANTICS recomputed from the base table —
    // the engine answers from the registered summary (plan-pinned);
    // values must be identical either way
    "q188_mv_rollup" ->
      s"""SELECT source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS chars,
         |       CAST(max(doc_id) AS BIGINT) AS max_doc
         |FROM documents GROUP BY 1""".stripMargin,

    // q187: attribution replayed with windows — segment id = count of
    // prior purchases per user under the same (ts, event_id) order;
    // first/last touch per (user, segment) via row_number bookends
    "q187_attribution" ->
      s"""WITH e AS (
         |  SELECT user_id AS u, ts, event_id AS i, event_type AS t
         |  FROM events WHERE event_type <> 'error'),
         |s AS (
         |  SELECT u, ts, i, t,
         |         count(CASE WHEN t = 'purchase' THEN 1 END) OVER
         |           (PARTITION BY u ORDER BY ts, i
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |           AS seg
         |  FROM e),
         |conv AS (SELECT u, seg FROM s WHERE t = 'purchase'),
         |touch AS (SELECT u, seg, ts, i, t FROM s WHERE t <> 'purchase'),
         |f AS (SELECT u, seg, t FROM (
         |        SELECT u, seg, t, row_number() OVER
         |          (PARTITION BY u, seg ORDER BY ts, i) AS rn FROM touch)
         |      WHERE rn = 1),
         |l AS (SELECT u, seg, t FROM (
         |        SELECT u, seg, t, row_number() OVER
         |          (PARTITION BY u, seg ORDER BY ts DESC, i DESC) AS rn
         |        FROM touch)
         |      WHERE rn = 1),
         |cr AS (
         |  SELECT coalesce(f.t, '(direct)') AS ft,
         |         coalesce(l.t, '(direct)') AS lt
         |  FROM conv c
         |  LEFT JOIN f ON f.u = c.u AND f.seg = c.seg
         |  LEFT JOIN l ON l.u = c.u AND l.seg = c.seg)
         |SELECT touch_type,
         |       CAST(sum(CASE WHEN which = 'f' THEN 1 ELSE 0 END)
         |         AS BIGINT) AS first_credits,
         |       CAST(sum(CASE WHEN which = 'l' THEN 1 ELSE 0 END)
         |         AS BIGINT) AS last_credits
         |FROM (SELECT ft AS touch_type, 'f' AS which FROM cr
         |      UNION ALL
         |      SELECT lt, 'l' FROM cr)
         |GROUP BY 1""".stripMargin,

    // q186: the same histogram → cumulative-window → lower-median
    // construction over integer cents; the outlier rule is the exact
    // integer comparison dev·10000 > MAD·44478
    "q186_robust_outliers" -> Q186RobustOutliersSql,

    // q192: the report computed from the STORED histogram artifact —
    // the oracle is q186's VERBATIM (shared constant): the artifact
    // path must hash-equal the full-scan computation
    "q192_robust_outliers_artifact" -> Q186RobustOutliersSql,

    // q183: the evolved-read semantics replayed from the base table —
    // generation 1 rows (doc_id even) carry NULL lang (the column did
    // not exist in their files), generation 2 rows carry the real value
    "q183_schema_evolution" ->
      s"""WITH u AS (
         |  SELECT doc_id, source, n_chars, NULL AS lang
         |  FROM documents WHERE doc_id % 2 = 0
         |  UNION ALL
         |  SELECT doc_id, source, n_chars, lang
         |  FROM documents WHERE doc_id % 2 = 1)
         |SELECT source, lang,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS chars,
         |       CAST(min(doc_id) AS BIGINT) AS min_doc
         |FROM u GROUP BY 1, 2""".stripMargin,

    // q182: the reconciliation SEMANTICS as one direct full join — the
    // engine's two-stage bucket-fingerprint path must surface exactly
    // the rows a naive full-outer compare would
    "q182_table_diff" ->
      s"""WITH o AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders),
         |m AS (
         |  SELECT o_orderkey, o_custkey,
         |         CASE WHEN o_orderkey % 89 = 3 THEN 'Z'
         |              ELSE o_orderstatus END AS o_orderstatus
         |  FROM o WHERE o_orderkey % 97 <> 0
         |  UNION ALL
         |  SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus
         |  FROM o WHERE o_orderkey % 101 = 5)
         |SELECT coalesce(o.o_orderkey, m.o_orderkey) AS o_orderkey,
         |       CASE WHEN m.o_orderkey IS NULL THEN 'only_left'
         |            WHEN o.o_orderkey IS NULL THEN 'only_right'
         |            ELSE 'changed' END AS status
         |FROM o FULL JOIN m ON o.o_orderkey = m.o_orderkey
         |WHERE m.o_orderkey IS NULL OR o.o_orderkey IS NULL
         |   OR o.o_custkey IS DISTINCT FROM m.o_custkey
         |   OR o.o_orderstatus IS DISTINCT FROM m.o_orderstatus""".stripMargin,

    // q180: OLS closed form over exact integer sums — x floors to
    // seconds past the shared origin, y scales to cents, sums ride
    // HUGEINT (Spark: decimal(38,0)); doubles only in the final
    // fixed-order divisions, rounded 6
    "q180_grouped_trend" ->
      s"""WITH e AS (
         |  SELECT event_type AS g,
         |         CAST(floor(epoch(ts)) AS BIGINT)
         |           - ${graft.operators.Stats.TrendEpochOrigin} AS x,
         |         CAST(round(value * 100) AS BIGINT) AS y
         |  FROM events),
         |s AS (
         |  SELECT g, CAST(count(*) AS HUGEINT) AS n,
         |         sum(CAST(x AS HUGEINT)) AS sx,
         |         sum(CAST(y AS HUGEINT)) AS sy,
         |         sum(CAST(x AS HUGEINT) * x) AS sxx,
         |         sum(CAST(x AS HUGEINT) * y) AS sxy,
         |         sum(CAST(y AS HUGEINT) * y) AS syy
         |  FROM e GROUP BY 1)
         |SELECT g, CAST(n AS BIGINT) AS n,
         |       (CASE WHEN ((n * sxy - sx * sy) < 0) != ((n * sxx - sx * sx) < 0) THEN -1 ELSE 1 END * ((2 * 1000000 * abs(n * sxy - sx * sy) + abs(n * sxx - sx * sx)) // (2 * abs(n * sxx - sx * sx))) / 1000000.0)
         |         AS slope,
         |       (CASE WHEN ((sy * sxx - sx * sxy) < 0) != ((n * sxx - sx * sx) < 0) THEN -1 ELSE 1 END * ((2 * 1000000 * abs(sy * sxx - sx * sxy) + abs(n * sxx - sx * sx)) // (2 * abs(n * sxx - sx * sx))) / 1000000.0)
         |         AS intercept,
         |       round(CAST(n * sxy - sx * sy AS DOUBLE)
         |           * CAST(n * sxy - sx * sy AS DOUBLE)
         |         / (CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE)
         |            * CAST(NULLIF(n * syy - sy * sy, 0) AS DOUBLE)), 6)
         |         AS r2
         |FROM s""".stripMargin,

    // q181: contingency cells in one pass, marginals over the cells,
    // chi-square summed per-cell in double over exact integer counts
    // (round-after-sum over a ~100-cell relation); the grid is the
    // marginal cross product so UNOBSERVED cells contribute their
    // (0 − e)²/e term
    "q181_chi_square" ->
      s"""WITH cells AS (
         |  SELECT source AS a, lang AS b, CAST(count(*) AS BIGINT) AS obs
         |  FROM documents GROUP BY 1, 2),
         |r AS (SELECT a, CAST(sum(obs) AS BIGINT) AS ra FROM cells GROUP BY 1),
         |c AS (SELECT b, CAST(sum(obs) AS BIGINT) AS cb FROM cells GROUP BY 1),
         |tot AS (SELECT CAST(sum(obs) AS BIGINT) AS nn FROM cells),
         |j AS (
         |  SELECT a, b, coalesce(obs, 0) AS o, nn,
         |         CAST(ra AS DOUBLE) * cb / nn AS e
         |  FROM r CROSS JOIN c
         |  LEFT JOIN cells USING (a, b)
         |  CROSS JOIN tot)
         |SELECT CAST(count(DISTINCT a) AS BIGINT) AS a_card,
         |       CAST(count(DISTINCT b) AS BIGINT) AS b_card,
         |       max(nn) AS n,
         |       round(sum((o - e) * (o - e) / e), 4) AS chi2,
         |       (count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS dof,
         |       round(sqrt(sum((o - e) * (o - e) / e)
         |         / (max(nn) * least(count(DISTINCT a) - 1,
         |                            count(DISTINCT b) - 1))), 4)
         |         AS cramers_v
         |FROM j""".stripMargin,

    // q179: the q121 score/label chain re-cut as the Mann-Whitney rank
    // statistic — per (split, rounded score) pos/neg counts, integer
    // 2U accumulation via a cumulative window over that bounded
    // relation, one exact double division at the end (ties half-credit)
    "q179_roc_auc" -> {
      val w = graft.operators.QualityModel.DefaultWeights
      val thr = graft.operators.QualityModel.HeuristicLabelThreshold
      val stop = stopCountSql("ltoks", TextAnalysis.StopwordDicts.head._2)
      docCtes.stripSuffix("\n") + ",\n" +
        s"""f AS (
           |  SELECT doc_id,
           |         least(len(toks) / 100.0, 1.0) AS x1,
           |         CASE WHEN length(text) > 0
           |              THEN len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))
           |                   / length(text)
           |              ELSE 0.0e0 END AS x2,
           |         least($stop / len(toks) * 5.0, 1.0) AS x3,
           |         ${graft.operators.TextAnalysis.qualitySqlOf("length(text)", "len(toks)", "len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))", stop)} AS quality
           |  FROM toks),
           |s AS (
           |  SELECT doc_id,
           |         round(1.0e0 / (1.0e0 + exp(-(${w(0)}e0 * 1.0e0
           |           + ${w(1)}e0 * x1 + ${w(2)}e0 * x2 + ${w(3)}e0 * x3))), 4)
           |           AS p,
           |         CASE WHEN quality >= ${thr}e0 THEN 1 ELSE 0 END AS y
           |  FROM f),
           |j AS (
           |  SELECT CASE WHEN b < 10 THEN 'test'
           |              WHEN b < 20 THEN 'val'
           |              ELSE 'train' END AS split, p, y
           |  FROM (SELECT p, y,
           |          ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 100
           |            AS b
           |        FROM s)),
           |g AS (
           |  SELECT split, p,
           |         CAST(sum(y) AS BIGINT) AS np,
           |         CAST(sum(1 - y) AS BIGINT) AS nn
           |  FROM j GROUP BY 1, 2),
           |c AS (
           |  SELECT split, np, nn,
           |         CAST(coalesce(sum(nn) OVER (PARTITION BY split ORDER BY p
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |           AS BIGINT) AS neg_below
           |  FROM g)
           |SELECT split,
           |       CAST(sum(np) AS BIGINT) AS n_pos,
           |       CAST(sum(nn) AS BIGINT) AS n_neg,
           |       (CASE WHEN ((sum(np * (2 * neg_below + nn))) < 0) != ((2 * sum(np) * sum(nn)) < 0) THEN -1 ELSE 1 END * ((2 * 1000000 * abs(sum(np * (2 * neg_below + nn))) + abs(2 * sum(np) * sum(nn))) // (2 * abs(2 * sum(np) * sum(nn)))) / 1000000.0)
           |         AS auc
           |FROM c GROUP BY 1""".stripMargin
    },

    // q174: the q121 score/label chain re-cut as a reliability diagram —
    // round-then-bin on the probability (crisp edges in both engines),
    // per (split, bin) mean prediction vs empirical rate
    "q174_calibration_curve" -> {
      val w = graft.operators.QualityModel.DefaultWeights
      val thr = graft.operators.QualityModel.HeuristicLabelThreshold
      val stop = stopCountSql("ltoks", TextAnalysis.StopwordDicts.head._2)
      docCtes.stripSuffix("\n") + ",\n" +
        s"""f AS (
           |  SELECT doc_id,
           |         least(len(toks) / 100.0, 1.0) AS x1,
           |         CASE WHEN length(text) > 0
           |              THEN len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))
           |                   / length(text)
           |              ELSE 0.0e0 END AS x2,
           |         least($stop / len(toks) * 5.0, 1.0) AS x3,
           |         ${graft.operators.TextAnalysis.qualitySqlOf("length(text)", "len(toks)", "len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))", stop)} AS quality
           |  FROM toks),
           |s AS (
           |  SELECT doc_id,
           |         round(1.0e0 / (1.0e0 + exp(-(${w(0)}e0 * 1.0e0
           |           + ${w(1)}e0 * x1 + ${w(2)}e0 * x2 + ${w(3)}e0 * x3))), 4)
           |           AS p,
           |         CASE WHEN quality >= ${thr}e0 THEN 1 ELSE 0 END AS y
           |  FROM f),
           |j AS (
           |  SELECT CASE WHEN b < 10 THEN 'test'
           |              WHEN b < 20 THEN 'val'
           |              ELSE 'train' END AS split,
           |         CAST(least(floor(p * 10), 9) AS INT) AS bin, p, y
           |  FROM (SELECT p, y,
           |          ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 100
           |            AS b
           |        FROM s))
           |SELECT split, bin, CAST(count(*) AS BIGINT) AS n,
           |       ${graft.functions.AggFunctions.mean4Sql("p")} AS mean_p,
           |       ${graft.functions.AggFunctions.mean4Sql("y")} AS pos_rate,
           |       round(${graft.functions.AggFunctions.mean4Sql("p")}
           |             - ${graft.functions.AggFunctions.mean4Sql("y")}, 4)
           |         AS gap
           |FROM j GROUP BY 1, 2""".stripMargin
    },

    // q121: q111's score chain (same weight literals) vs the q104/q18
    // quality label at the labelHeuristic threshold, confusion-counted
    // per q92's split coin; every metric derives from the integer cells
    "q121_classifier_eval" -> {
      val w = graft.operators.QualityModel.DefaultWeights
      val thr = graft.operators.QualityModel.HeuristicLabelThreshold
      val stop = stopCountSql("ltoks", TextAnalysis.StopwordDicts.head._2)
      docCtes.stripSuffix("\n") + ",\n" +
        s"""f AS (
           |  SELECT doc_id,
           |         least(len(toks) / 100.0, 1.0) AS x1,
           |         CASE WHEN length(text) > 0
           |              THEN len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))
           |                   / length(text)
           |              ELSE 0.0e0 END AS x2,
           |         least($stop / len(toks) * 5.0, 1.0) AS x3,
           |         ${graft.operators.TextAnalysis.qualitySqlOf("length(text)", "len(toks)", "len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))", stop)} AS quality
           |  FROM toks),
           |s AS (
           |  SELECT doc_id,
           |         ${w(0)}e0 * 1.0e0 + ${w(1)}e0 * x1
           |           + ${w(2)}e0 * x2 + ${w(3)}e0 * x3 AS z,
           |         CASE WHEN quality >= ${thr}e0 THEN 1 ELSE 0 END AS y
           |  FROM f),
           |j AS (
           |  SELECT CASE WHEN b < 10 THEN 'test'
           |              WHEN b < 20 THEN 'val'
           |              ELSE 'train' END AS split,
           |         CASE WHEN round(1.0e0 / (1.0e0 + exp(-z)), 4) >= 0.5e0
           |              THEN 1 ELSE 0 END AS accept,
           |         y
           |  FROM (SELECT doc_id, z, y,
           |          ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 100
           |            AS b
           |        FROM s)),
           |c AS (
           |  SELECT split, CAST(count(*) AS BIGINT) AS n,
           |         CAST(sum(CASE WHEN accept = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           |         CAST(sum(CASE WHEN accept = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           |         CAST(sum(CASE WHEN accept = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           |         CAST(sum(CASE WHEN accept = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
           |  FROM j GROUP BY 1)
           |SELECT split, n, tp, fp, tn, fn,
           |       ${graft.functions.AggFunctions.ratioQSql(
                      "tp + tn", "n", 4)} AS accuracy,
           |       ${graft.functions.AggFunctions.ratioQSql(
                      "tp", "tp + fp", 4)} AS precision,
           |       ${graft.functions.AggFunctions.ratioQSql(
                      "tp", "tp + fn", 4)} AS recall,
           |       ${graft.functions.AggFunctions.ratioQSql(
                      "2 * tp", "2 * tp + fp + fn", 4)}
           |         AS f1
           |FROM c""".stripMargin
    },
  )
}
