package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{AsOf, Bpe, Curation, Dedup, EventAnalytics, Multimodal, RangeJoin, Relational, Similarity, Skew, Solar, TextAnalysis, Windows}
import graft.sources.Tables

/** DuckDB oracle SQL, part A (q01–q85 families: solar pipeline,
  * relational surface, dedup, text kernels, ANN/quantization).
  */
private[graft] trait EntryOraclesA { self: EntryShared =>

  protected def oraclesA: Map[String, String] = Map(
    "q01_scan_project" ->
      """SELECT event_id, event_type AS panel, CAST(user_id AS VARCHAR) AS module,
        |       value AS power
        |FROM events WHERE value > 50.0""".stripMargin,

    "q02_module_window_agg" ->
      (solarCtes + s"SELECT $moduleOutSql FROM module_agg"),

    "q03_panel_agg" ->
      (solarCtes + "SELECT w_start, panel, p_cnt, round(p_sum_power, 4) AS p_sum_power, " +
        "p_avg_power FROM panel_agg"),

    "q04_join_panel_module" ->
      (solarCtes + s"SELECT $moduleOutSql, p_cnt, round(p_sum_power, 4) AS p_sum_power, " +
        "p_avg_power FROM j1"),

    "q05_variance_deviance" ->
      (solarCtes + s"SELECT w_start, panel, $panelFinalOutSql FROM panel_final2"),

    "q06_join_module_panel" ->
      (solarCtes + s"SELECT $moduleOutSql, $panelFinalOutSql FROM j2"),

    "q07_anomaly_filter" ->
      (solarCtes + """SELECT w_start, panel, module,
        |       round(abs(m_sum_power - p_avg_power), 4) AS abs_diff, deviance
        |FROM j2 WHERE abs(m_sum_power - p_avg_power) > 1.0 * deviance""".stripMargin),

    "q08_flagship_anomalies" ->
      (solarCtes + s"SELECT $moduleOutSql, $panelFinalOutSql FROM j2 " +
        "WHERE abs(m_sum_power - p_avg_power) > 1.0 * deviance"),

    // to_json(struct(k)) omits null fields and emits '{}' — mirror that
    // instead of letting '||' string concat go NULL on a missing key
    "q09_json_roundtrip" ->
      """SELECT event_id, k,
        |       CASE WHEN k IS NULL THEN '{}' ELSE '{"k":' || k || '}' END AS props_json
        |FROM (SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |      FROM events)""".stripMargin,

    // grouped on the compact 60-bit key; n_fp = distinct full fingerprints
    // per group (collision check, expected 1)
    "q10_dedup_exact" ->
      s"""SELECT fp64, min(doc_id) AS keep_id, count(*) AS dup_cnt,
         |       count(DISTINCT fp) AS n_fp
         |FROM (SELECT doc_id, $fpSql AS fp,
         |        (('0x' || substr($fpSql, 1, 15))::BIGINT) AS fp64
         |      FROM documents) GROUP BY fp64""".stripMargin,

    "q11_dedup_minhash_lsh" ->
      (docCtes.stripSuffix("\n") + ",\n" + lshCtes +
        s"""cands AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a JOIN bands b
           |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           |   AND a.doc_id < b.doc_id),
           |shd AS (SELECT doc_id, list_distinct(sh) AS dsh FROM sh)
           |SELECT id_a, id_b, ${jaccardSql("a.dsh", "b.dsh")} AS jaccard
           |FROM cands JOIN shd a ON cands.id_a = a.doc_id
           |           JOIN shd b ON cands.id_b = b.doc_id
           |WHERE ${jaccardSql("a.dsh", "b.dsh")} >= 0.5""".stripMargin),

    "q12_dedup_simhash" ->
      (docCtes.stripSuffix("\n") + ",\n" + simhash64Ctes +
        """pairs AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
          |  FROM simhash_t a JOIN simhash_t b
          |    ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
          |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin),

    // kept-shingle Jaccard: shingles with document frequency above the cap
    // are dropped from BOTH the intersection and the set sizes, mirroring
    // Dedup.windowedJaccardPairsStage's posting-list truncation
    "q13_dedup_ngram_jaccard" ->
      (docCtes.stripSuffix("\n") + ",\n" +
        s"""inv AS (
           |  SELECT doc_id, unnest(list_distinct(sh)) AS s FROM sh
           |  WHERE len(list_distinct(sh)) > 0),
           |kept AS (
           |  SELECT doc_id, s FROM inv
           |  QUALIFY count(*) OVER (PARTITION BY s) <= ${Dedup.DefaultMaxShingleDf}),
           |shd AS (
           |  SELECT doc_id, list(s) AS dsh FROM kept GROUP BY doc_id)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |       ${jaccardSql("a.dsh", "b.dsh")} AS jaccard
           |FROM shd a JOIN shd b
           |  ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25
           |WHERE ${jaccardSql("a.dsh", "b.dsh")} >= 0.2""".stripMargin),

    "q14_dedup_embedding_cosine" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       round(${cosineSql("a.embedding", "b.embedding")}, 4) AS cos
         |FROM embeddings a JOIN embeddings b
         |  ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 25
         |WHERE round(${cosineSql("a.embedding", "b.embedding")}, 4) >= 0.35""".stripMargin,

    "q15_ann_topk_brute" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |         ${cosineSql("q.embedding", "c.embedding")} AS cos
         |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 8),
         |ranked AS (
         |  SELECT q_id, vec_id, cos,
         |         ROW_NUMBER() OVER (PARTITION BY q_id
         |           ORDER BY round(cos, 6) DESC, vec_id ASC) AS rank
         |  FROM scored)
         |SELECT q_id, vec_id, CAST(rank AS INTEGER) AS rank, round(cos, 4) AS cos
         |FROM ranked WHERE rank <= 10""".stripMargin,

    "q16_ann_ivf_label" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |         ${cosineSql("q.embedding", "c.embedding")} AS cos
         |  FROM embeddings q JOIN embeddings c
         |    ON c.label = q.label AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 8),
         |ranked AS (
         |  SELECT q_id, vec_id, cos,
         |         ROW_NUMBER() OVER (PARTITION BY q_id
         |           ORDER BY round(cos, 6) DESC, vec_id ASC) AS rank
         |  FROM scored)
         |SELECT q_id, vec_id, CAST(rank AS INTEGER) AS rank, round(cos, 4) AS cos
         |FROM ranked WHERE rank <= 5""".stripMargin,

    "q17_text_lang_id" -> {
      val langs = TextAnalysis.StopwordDicts.map(_._1)
      docCtes +
        s"""SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
           |       $predLangCaseSql AS pred_lang
           |FROM (SELECT doc_id, ${langScoreSqls.mkString(", ")} FROM toks)""".stripMargin
    },

    "q18_text_quality" -> {
      val stop = stopCountSql("ltoks", TextAnalysis.StopwordDicts.head._2)
      docCtes +
        s"""SELECT doc_id, n_chars_m, n_words, n_punct, n_stop,
           |       ${graft.functions.AggFunctions
                      .ratioQSql("n_punct", "n_chars_m", 4)} AS punct_ratio,
           |       ${graft.functions.AggFunctions
                      .ratioQSql("n_stop", "n_words", 4)} AS stop_ratio,
           |       ${graft.operators.TextAnalysis.qualitySqlOf("n_chars_m", "n_words", "n_punct", "n_stop")} AS quality
           |FROM (SELECT doc_id, length(text) AS n_chars_m, len(toks) AS n_words,
           |        len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS n_punct,
           |        $stop AS n_stop
           |      FROM toks)""".stripMargin
    },

    "q19_token_count" ->
      (docCtes +
        s"""SELECT doc_id, len(toks) AS ws_tokens,
           |       len(regexp_extract_all(lower(text), '${TextAnalysis.TokenPattern}')) AS re_tokens
           |FROM toks""".stripMargin),

    "q20_text_fingerprint" ->
      s"""SELECT doc_id, $fpSql AS fp,
         |       (('0x' || substr($fpSql, 1, 15))::BIGINT) AS fp64
         |FROM documents""".stripMargin,

    "q21_multimodal_meta" ->
      """SELECT doc_id AS media_id,
        |       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
        |       octet_length(text::BLOB) AS n_bytes,
        |       lower(substr(hex(text::BLOB), 1, 16)) AS header
        |FROM documents""".stripMargin,

    "q22_topk_revenue" ->
      """WITH rev AS (
        |  SELECT l_returnflag, l_orderkey,
        |         round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |  FROM lineitem GROUP BY 1, 2),
        |ranked AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |    ORDER BY revenue DESC, l_orderkey ASC) AS INTEGER) AS rank
        |  FROM rev)
        |SELECT l_returnflag, l_orderkey, revenue, rank FROM ranked WHERE rank <= 3""".stripMargin,

    "q23_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)""".stripMargin,

    "q24_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_active FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY 1""".stripMargin,

    "q25_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |       round(sum(l_quantity), 4) AS sum_qty,
        |       round(sum(l_extendedprice), 4) AS sum_price
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q26_distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem GROUP BY 1""".stripMargin,

    // each event belongs to exactly two 60s/30s windows: the 30s-aligned
    // bucket it falls in and the one before it
    "q27_sliding_window" ->
      """WITH expanded AS (
        |  SELECT event_type AS panel, value,
        |         unnest([CAST(floor(epoch(ts)/30)*30 AS BIGINT) - 30,
        |                 CAST(floor(epoch(ts)/30)*30 AS BIGINT)]) AS w_start
        |  FROM events)
        |SELECT w_start, panel, count(*) AS cnt, round(sum(value), 4) AS sum_power
        |FROM expanded GROUP BY 1, 2""".stripMargin,

    // gaps-and-islands: a new session starts when the per-user gap from the
    // previous event exceeds 1h; end = last event + gap (Spark semantics)
    "q28_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, value, epoch_us(ts) AS t,
        |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
        |                OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
        |              >= 3600000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sessions AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT min(t) AS s_start, max(t) + 3600000000 AS s_end, user_id,
        |       count(*) AS cnt, round(sum(value), 4) AS sum_value
        |FROM sessions GROUP BY user_id, sid""".stripMargin,

    // q139: hourly buckets (epoch-aligned, like Spark's window()), the
    // per-user dense grid from range(), LOCF via IGNORE NULLS last_value
    "q139_gapfill_locf" ->
      """WITH b AS (
        |  SELECT user_id,
        |         CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b_start,
        |         MEAN4_VALUE AS v
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT user_id, unnest(range(mn, mx + 3600, 3600)) AS b_start
        |  FROM (SELECT user_id, min(b_start) AS mn, max(b_start) AS mx
        |        FROM b GROUP BY 1)),
        |j AS (
        |  SELECT g.user_id, g.b_start, b.v
        |  FROM grid g LEFT JOIN b USING (user_id, b_start))
        |SELECT user_id, b_start,
        |       last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |         ORDER BY b_start ROWS UNBOUNDED PRECEDING) AS v_filled,
        |       CASE WHEN v IS NULL THEN 1 ELSE 0 END AS is_gap
        |FROM j""".stripMargin
        .replace("MEAN4_VALUE",
          graft.functions.AggFunctions.mean4Sql("value")),

    "q29_quantiles" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
        |       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
        |       round(quantile_cont(l_discount, 0.5), 4) AS p50_disc
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q30_set_ops" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 250000.0
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice <= 250000.0""".stripMargin,

    // hash-block bucketing (4 blocks of 16 bits): any pair with hamming <= 3
    // agrees exactly on >= 1 block — candidates are an equi-join. Arithmetic
    // >> then & mask reads the same 16 bits in both engines regardless of
    // the fingerprint's sign bit.
    "q31_dedup_simhash_bucketed" ->
      (docCtes.stripSuffix("\n") + ",\n" + simhash64Ctes +
        """blocks AS (
          |  SELECT doc_id, simhash, p.block_idx,
          |         (simhash >> (p.block_idx * 16)) & 65535 AS block_val
          |  FROM simhash_t CROSS JOIN (SELECT unnest(range(0, 4)) AS block_idx) p)
          |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
          |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
          |FROM blocks a JOIN blocks b
          |  ON b.block_idx = a.block_idx AND b.block_val = a.block_val
          | AND b.doc_id > a.doc_id
          |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin),

    "q32_dedup_embedding_cells" ->
      (kmeansCtes.stripSuffix("\n") + ",\n" +
        s"""pairs AS (
           |  SELECT ca.vec_id AS id_a, cb.vec_id AS id_b,
           |         round(${cosineSql("a.embedding", "b.embedding")}, 4) AS cos
           |  FROM cells ca JOIN cells cb
           |    ON cb.cell = ca.cell AND cb.vec_id > ca.vec_id
           |  JOIN embeddings a ON a.vec_id = ca.vec_id
           |  JOIN embeddings b ON b.vec_id = cb.vec_id)
           |SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.35""".stripMargin),

    "q33_ann_ivf_kmeans" ->
      (kmeansCtes.stripSuffix("\n") + ",\n" +
        s"""scored AS (
           |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
           |         ${cosineSql("q.embedding", "c.embedding")} AS cos
           |  FROM embeddings q
           |  JOIN cells qc ON qc.vec_id = q.vec_id
           |  JOIN cells cc ON cc.cell = qc.cell
           |  JOIN embeddings c ON c.vec_id = cc.vec_id AND c.vec_id <> q.vec_id
           |  WHERE q.vec_id < 8),
           |ranked AS (
           |  SELECT q_id, vec_id, cos,
           |         ROW_NUMBER() OVER (PARTITION BY q_id
           |           ORDER BY round(cos, 6) DESC, vec_id ASC) AS rank
           |  FROM scored)
           |SELECT q_id, vec_id, CAST(rank AS INTEGER) AS rank, round(cos, 4) AS cos
           |FROM ranked WHERE rank <= 5""".stripMargin),

    // exact quantiles checked exactly; the approx sketch is asserted
    // in-band (flags must be 1) — see Relational.approxQuantiles
    "q34_quantiles_approx" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
        |       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
        |       1 AS p50_ok, 1 AS p95_ok
        |FROM lineitem GROUP BY 1""".stripMargin,

    // mirrors AsOf.asOfJoin's union + ordered-window rewrite stage for
    // stage (same tie semantics: equal-time quotes visible, max q_id wins).
    // The payload travels as ONE struct through last_value, exactly like
    // the engine's struct-atomic `last(_p)` — per-column last_value would
    // mix fields from two quotes whenever a quote carries a NULL field
    // (ADVICE r3; testdata has no NULL values, but the oracle should
    // mirror the semantics, not rely on the data)
    "q35_asof_join" ->
      """WITH base AS (
        |  SELECT event_id, epoch_us(ts) AS t, user_id, value FROM events),
        |u AS (
        |  SELECT user_id, t, 1 AS side, NULL::BIGINT AS ord,
        |         event_id, round(value, 4) AS value,
        |         NULL::STRUCT(q_id BIGINT, q_value DOUBLE) AS qs
        |  FROM base WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT user_id, t, 0 AS side, event_id AS ord,
        |         NULL::BIGINT, NULL::DOUBLE,
        |         struct_pack(q_id := event_id, q_value := round(value, 4))
        |  FROM base WHERE event_id % 2 = 1),
        |j AS (
        |  SELECT event_id, user_id, t, value, side,
        |         last_value(qs IGNORE NULLS) OVER (PARTITION BY user_id
        |           ORDER BY t, side, ord ROWS UNBOUNDED PRECEDING) AS a_qs
        |  FROM u)
        |SELECT event_id, user_id, t, value, a_qs.q_id AS q_id, a_qs.q_value AS q_value
        |FROM j WHERE side = 1 AND a_qs.q_id IS NOT NULL""".stripMargin,

    // exact distinct counts checked exactly; HLL asserts in-band
    "q36_distinct_approx" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, 1 AS hll_ok
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q37_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |       round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q38_intersect" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 250000.0
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice <= 250000.0""".stripMargin,

    "q39_range_join" ->
      """SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id,
        |       epoch_us(b.ts) - epoch_us(a.ts) AS dt_us
        |FROM events a JOIN events b
        |  ON b.user_id = a.user_id
        | AND a.event_type = 'error' AND b.event_type = 'purchase'
        | AND abs(epoch_us(b.ts) - epoch_us(a.ts)) <= 3600000000""".stripMargin,

    // q140: the q39 interval join as LEFT OUTER — unmatched errors keep
    // one null-padded row; DuckDB's non-equi LEFT JOIN is the semantic
    // truth the inner+anti-join formulation must reproduce
    "q140_range_join_leftouter" ->
      """SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id,
        |       epoch_us(b.ts) - epoch_us(a.ts) AS dt_us
        |FROM events a LEFT JOIN events b
        |  ON b.user_id = a.user_id
        | AND b.event_type = 'purchase'
        | AND abs(epoch_us(b.ts) - epoch_us(a.ts)) <= 3600000000
        |WHERE a.event_type = 'error'""".stripMargin,

    // q141: RIGHT OUTER mirror — user_id must come from the kept (right)
    // side, since a is null on unmatched rows
    "q141_range_join_rightouter" ->
      """SELECT a.event_id AS id_a, b.event_id AS id_b, b.user_id,
        |       epoch_us(b.ts) - epoch_us(a.ts) AS dt_us
        |FROM events a RIGHT JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'error'
        | AND abs(epoch_us(b.ts) - epoch_us(a.ts)) <= 3600000000
        |WHERE b.event_type = 'purchase'""".stripMargin,

    // q142: FULL OUTER — the type filters must live in subqueries (a
    // WHERE over a FULL JOIN would delete the null-padded rows)
    "q142_range_join_fullouter" ->
      """SELECT a.id_a, b.id_b, coalesce(a.user_id, b.user_id) AS user_id,
        |       b.t_b - a.t_a AS dt_us
        |FROM (SELECT event_id AS id_a, user_id, epoch_us(ts) AS t_a
        |      FROM events WHERE event_type = 'error') a
        |FULL JOIN (SELECT event_id AS id_b, user_id, epoch_us(ts) AS t_b
        |           FROM events WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id AND abs(b.t_b - a.t_a) <= 3600000000""".stripMargin,

    "q40_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       round(sum(o_totalprice), 4) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    // pivot = conditional aggregation with a static value list
    "q41_pivot" ->
      """SELECT l_returnflag,
        |       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS qty_f,
        |       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS qty_o
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q42_global_topn" ->
      """SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice
        |FROM orders ORDER BY round(o_totalprice, 4) DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "q43_outer_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |       coalesce(round(sum(o_totalprice), 4), 0.0) AS sum_price
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    "q44_collect_csv" ->
      """SELECT o_custkey,
        |       string_agg(CAST(round(o_totalprice) AS BIGINT), ','
        |         ORDER BY CAST(round(o_totalprice) AS BIGINT)) AS prices_csv
        |FROM orders GROUP BY 1""".stripMargin,

    "q45_window_analytics" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS price,
        |       round(sum(round(o_totalprice, 4)) OVER (PARTITION BY o_custkey
        |         ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING), 4) AS running_total,
        |       coalesce(lag(round(o_totalprice, 4), 1) OVER (PARTITION BY o_custkey
        |         ORDER BY o_orderkey), 0.0) AS prev_price,
        |       CAST(ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS INTEGER)
        |         AS quartile
        |FROM orders""".stripMargin,

    "q46_dates" ->
      """SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        |       count(*) AS n_orders, round(sum(o_totalprice), 4) AS sum_price
        |FROM orders GROUP BY 1, 2""".stripMargin,

    // same simhash/lang/punct math as the DataFrame gates, reached through
    // the SQL surface (registered kernels)
    "q47_sql_surface" -> {
      docCtes.stripSuffix("\n") + ",\n" + simhashCtes +
        s"""scored AS (SELECT doc_id, ${langScoreSqls.mkString(", ")} FROM toks),
           |pl AS (SELECT doc_id, $predLangCaseSql AS pred_lang FROM scored),
           |pc AS (SELECT doc_id,
           |         len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS n_punct
           |       FROM toks)
           |SELECT s.doc_id, s.simhash, pl.pred_lang, pc.n_punct
           |FROM simhash_t s JOIN pl ON pl.doc_id = s.doc_id
           |                 JOIN pc ON pc.doc_id = s.doc_id""".stripMargin
    },

    "q48_top_tokens" ->
      """WITH toks2 AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |cnt AS (SELECT doc_id, tok, count(*) AS n FROM toks2 GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |  ORDER BY n DESC, tok ASC) AS INTEGER) AS rn FROM cnt)
        |SELECT doc_id, tok, n, rn FROM r WHERE rn <= 3""".stripMargin,

    "q49_range_frame" ->
      """SELECT event_id, user_id, epoch_us(ts) AS t,
        |       count(*) OVER w AS n_trailing,
        |       round(sum(value) OVER w, 4) AS sum_trailing
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    // minhash-LSH pairs (the q11 chain) as edges, then the connected-
    // component fixpoint as a recursive CTE: reach = transitive closure,
    // cluster = min reachable id — the same unique fixpoint the engine's
    // min-label propagation converges to
    "q52_dedup_clusters" -> clusterLabelsSql,

    // the q52 cluster labels wrapped in the size histogram; the recursive
    // CTE nests as a subquery
    "q93_dedup_savings" ->
      s"""SELECT sz AS cluster_size, count(*) AS n_clusters,
         |       CAST(sz * count(*) AS BIGINT) AS n_docs,
         |       CAST((sz - 1) * count(*) AS BIGINT) AS n_removable
         |FROM (SELECT cluster, count(*) AS sz
         |      FROM ($clusterLabelsSql) GROUP BY 1)
         |GROUP BY sz""".stripMargin,

    // one-pass enrichment (quality + language + fingerprint), survivor
    // window over fp64, then the language/quality filters — mirrors
    // Curation.curate stage for stage
    "q53_curation_pipeline" -> {
      docCtes.stripSuffix("\n") + ",\n" +
        s"""enr0 AS (
           |  SELECT doc_id, length(text) AS n_chars_m, len(toks) AS n_words,
           |         len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS n_punct,
           |         ${stopCountSql("ltoks", TextAnalysis.StopwordDicts.head._2)} AS n_stop,
           |         ${langScoreSqls.mkString(",\n         ")},
           |         (('0x' || substr($fpSql, 1, 15))::BIGINT) AS fp64
           |  FROM toks),
           |enr AS (
           |  SELECT doc_id, fp64, n_words,
           |         ${graft.operators.TextAnalysis.qualitySqlOf("n_chars_m", "n_words", "n_punct", "n_stop")} AS quality,
           |         $predLangCaseSql AS pred_lang
           |  FROM enr0),
           |kept AS (
           |  SELECT doc_id, pred_lang, quality, n_words,
           |         count(*) OVER (PARTITION BY fp64) AS dup_cnt,
           |         min(doc_id) OVER (PARTITION BY fp64) AS keep_id
           |  FROM enr)
           |SELECT doc_id, pred_lang, quality, n_words, dup_cnt
           |FROM kept WHERE doc_id = keep_id AND pred_lang = 'en' AND quality >= 0.5""".stripMargin
    },

    // md5-bucket sampling coin, per-language rate
    "q54_stratified_sample" -> {
      docCtes.stripSuffix("\n") + ",\n" +
        s"""scored AS (SELECT doc_id, ${langScoreSqls.mkString(", ")} FROM toks),
           |p AS (SELECT doc_id, $predLangCaseSql AS pred_lang FROM scored)
           |SELECT doc_id, pred_lang, bucket FROM (
           |  SELECT doc_id, pred_lang,
           |         ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 100 AS bucket
           |  FROM p)
           |WHERE bucket < CASE WHEN pred_lang = 'en' THEN 10 ELSE 50 END""".stripMargin
    },

    // element-wise / order-free math only (max, not sum), so every double
    // is bit-identical to the Spark side; floor(x+0.5) is the portable
    // half-up (round() tie behavior differs between engines)
    "q55_embedding_quantize" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
         |  FROM embeddings),
         |a AS (
         |  SELECT vec_id, emb, list_max(list_transform(emb, x -> abs(x))) AS amax
         |  FROM e),
         |qz AS (
         |  SELECT vec_id, emb, amax,
         |         list_transform(emb, x -> CAST(floor(x * (127.0 / amax) + 0.5) AS BIGINT)) AS q
         |  FROM a WHERE amax > 0.0),
         |err AS (
         |  SELECT vec_id, amax, q,
         |         list_max(list_transform(range(1, ${EmbDim + 1}),
         |           i -> abs(emb[i] - q[i] / (127.0 / amax)))) AS max_err
         |  FROM qz)
         |SELECT vec_id, round(amax, 6) AS amax, CAST(list_sum(q) AS BIGINT) AS q_sum,
         |       round(max_err, 6) AS max_err,
         |       CAST(max_err <= (0.5 + 1e-9) / (127.0 / amax) AS INT) AS err_ok
         |FROM err""".stripMargin,

    "q56_bag_set_ops" ->
      """WITH high AS (SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 250000.0),
        |low AS (SELECT o_custkey AS custkey FROM orders WHERE o_totalprice <= 250000.0),
        |ex AS (SELECT custkey, count(*) AS n_except
        |       FROM (SELECT * FROM high EXCEPT ALL SELECT * FROM low) GROUP BY 1),
        |ia AS (SELECT custkey, count(*) AS n_intersect
        |       FROM (SELECT * FROM high INTERSECT ALL SELECT * FROM low) GROUP BY 1)
        |SELECT coalesce(ex.custkey, ia.custkey) AS custkey,
        |       coalesce(n_except, 0) AS n_except,
        |       coalesce(n_intersect, 0) AS n_intersect
        |FROM ex FULL OUTER JOIN ia ON ex.custkey = ia.custkey""".stripMargin,

    "q57_correlated_subquery" ->
      """SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice,
        |  (SELECT c_mktsegment FROM customer c
        |   WHERE c.c_custkey = o.o_custkey) AS seg,
        |  CAST(EXISTS(SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_quantity >= 45) AS INT) AS has_bulk
        |FROM orders o""".stripMargin,

    // identical formula text over exact integer moments (see
    // Relational.statsAggregates) — the derived values are bit-identical
    // across engines; the native-implementation flags are asserted in-band
    "q58_stats_agg" ->
      """WITH m AS (
        |  SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
        |         sum(l_quantity) AS sum_q,
        |         sum(l_quantity * l_quantity) AS sum_qq,
        |         sum(d) AS sum_d, sum(d * d) AS sum_dd,
        |         sum(l_quantity * d) AS sum_qd
        |  FROM (SELECT l_returnflag, l_quantity,
        |          CAST(CAST(round(l_discount * 100) AS BIGINT) AS DOUBLE) AS d
        |        FROM lineitem)
        |  GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |  round(sqrt((n * sum_qq - sum_q * sum_q) / (n * (n - 1.0))), 6) AS sd_qty,
        |  round((n * sum_qd - sum_q * sum_d) /
        |        (sqrt(n * sum_qq - sum_q * sum_q) * sqrt(n * sum_dd - sum_d * sum_d)), 6)
        |    AS corr_qty_disc,
        |  1 AS sd_ok, 1 AS corr_ok
        |FROM m""".stripMargin,

    // replay of HistogramAgg's bucket math (floor division, last bucket
    // open, negatives clamped — n_words >= 1 here so no clamp case) with
    // zero buckets restored via a lang x bucket grid
    "q60_length_histogram" -> {
      docCtes.stripSuffix("\n") + ",\n" +
        s"""scored AS (SELECT doc_id, len(toks) AS n_words,
           |             ${langScoreSqls.mkString(", ")} FROM toks),
           |p AS (SELECT $predLangCaseSql AS pred_lang, n_words FROM scored),
           |b AS (SELECT pred_lang, least(n_words // 10, 7) AS bucket, count(*) AS cnt
           |      FROM p GROUP BY 1, 2),
           |grid AS (SELECT pred_lang, unnest(range(0, 8)) AS bucket
           |         FROM (SELECT DISTINCT pred_lang FROM p))
           |SELECT g.pred_lang, CAST(g.bucket AS INT) AS bucket,
           |       coalesce(b.cnt, 0) AS cnt
           |FROM grid g LEFT JOIN b
           |  ON b.pred_lang = g.pred_lang AND b.bucket = g.bucket""".stripMargin
    },

    "q61_rank_battery" ->
      """SELECT o_orderkey, year(o_orderdate) AS yr,
        |       CAST(floor(o_totalprice / 10000) AS BIGINT) AS bucket_price,
        |       rank() OVER w AS rnk,
        |       dense_rank() OVER w AS drnk,
        |       round(percent_rank() OVER w, 6) AS prnk,
        |       round(cume_dist() OVER w, 6) AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY year(o_orderdate)
        |             ORDER BY CAST(floor(o_totalprice / 10000) AS BIGINT))""".stripMargin,

    "q62_fixed_sample" -> {
      docCtes.stripSuffix("\n") + ",\n" +
        s"""scored AS (SELECT doc_id, ${langScoreSqls.mkString(", ")} FROM toks),
           |p AS (SELECT doc_id, $predLangCaseSql AS pred_lang FROM scored),
           |r AS (SELECT doc_id, pred_lang,
           |        CAST(row_number() OVER (PARTITION BY pred_lang
           |          ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC) AS INT) AS rn
           |      FROM p)
           |SELECT doc_id, pred_lang, rn FROM r WHERE rn <= 5""".stripMargin
    },

    // long form of the q41 pivot: the round trip must reproduce the
    // grouped aggregate. Spark unpivot RETAINS null measure cells
    // (verified empirically + RelationalSpec), so the UNION ALL branches
    // carry them too instead of filtering — no coincidental agreement on
    // all-combos-present data
    "q63_unpivot" ->
      """WITH pv AS (
        |  SELECT l_returnflag,
        |         round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS qty_f,
        |         round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS qty_o
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'F' AS l_linestatus, qty_f AS sum_qty FROM pv
        |UNION ALL
        |SELECT l_returnflag, 'O' AS l_linestatus, qty_o AS sum_qty FROM pv""".stripMargin,

    // identity oracle: the map layer must lose nothing
    "q64_map_roundtrip" ->
      """SELECT o_orderkey, round(o_totalprice, 4) AS price, o_custkey AS cust,
        |       'price,cust' AS keys_csv, 2 AS n_entries
        |FROM orders""".stripMargin,

    "q65_array_functions" ->
      """SELECT vec_id,
        |       len(list_filter(list_transform(embedding, x -> x::DOUBLE), x -> x > 0)) AS n_pos,
        |       CAST(len(list_filter(list_transform(embedding, x -> x::DOUBLE),
        |                            x -> abs(x) > 0.3)) > 0 AS INT) AS any_big,
        |       round(list_sum(list_transform(list_transform(embedding, x -> x::DOUBLE),
        |                                     x -> abs(x))), 4) AS l1_norm,
        |       round((list_transform(embedding, x -> x::DOUBLE))[1], 4) AS first_dim
        |FROM embeddings""".stripMargin,

    // the q60 histogram replay (same bucket math), flags literal 1 per
    // the CMS contract — the sketch itself has no SQL twin, its
    // guarantees are what the gate checks
    "q67_sql_aggregates" -> {
      docCtes.stripSuffix("\n") + ",\n" +
        s"""scored AS (SELECT doc_id, len(toks) AS n_words,
           |             ${langScoreSqls.mkString(", ")} FROM toks),
           |p AS (SELECT $predLangCaseSql AS pred_lang, n_words FROM scored),
           |b AS (SELECT pred_lang, least(n_words // 10, 7) AS bucket, count(*) AS cnt
           |      FROM p GROUP BY 1, 2),
           |grid AS (SELECT pred_lang, unnest(range(0, 8)) AS bucket
           |         FROM (SELECT DISTINCT pred_lang FROM p))
           |SELECT g.pred_lang, CAST(g.bucket AS INT) AS bucket,
           |       coalesce(b.cnt, 0) AS cnt,
           |       1 AS cms_lower_ok, 1 AS cms_upper_ok
           |FROM grid g LEFT JOIN b
           |  ON b.pred_lang = g.pred_lang AND b.bucket = g.bucket""".stripMargin
    },

    // closed-form replay of syntheticMedia's construction: the Spark side
    // must RECOVER these values by parsing the header bytes it built
    "q68_multimodal_decode" ->
      """SELECT doc_id AS media_id,
        |       CASE WHEN doc_id % 3 = 0 THEN 'png'
        |            WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'wav' END AS kind,
        |       CASE WHEN doc_id % 3 = 0 THEN 29
        |            WHEN doc_id % 3 = 1 THEN 39 ELSE 36 END AS n_bytes,
        |       CASE WHEN doc_id % 3 = 0 THEN 'png'
        |            WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'wav' END AS format,
        |       CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 640 + 1
        |                 WHEN doc_id % 3 = 1 THEN doc_id % 1024 + 1
        |            END AS INT) AS width,
        |       CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 480 + 1
        |                 WHEN doc_id % 3 = 1 THEN doc_id % 768 + 1
        |            END AS INT) AS height,
        |       CAST(CASE WHEN doc_id % 3 = 2 THEN
        |              [8000, 16000, 22050, 44100, 48000][CAST(doc_id % 5 AS INT) + 1]
        |            END AS INT) AS sample_rate,
        |       CAST(CASE WHEN doc_id % 3 = 2 THEN 16 ELSE 8 END AS INT) AS bit_depth
        |FROM documents""".stripMargin,

    // gid replayed as a CASE over the aggregated-away keys (Spark
    // grouping_id: bit per grouping column, first = most significant;
    // the data has no NULL flag/status, so IS NULL means aggregated)
    "q72_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(CASE WHEN l_returnflag IS NOT NULL
        |                  AND l_linestatus IS NOT NULL THEN 0
        |                 WHEN l_returnflag IS NULL
        |                  AND l_linestatus IS NOT NULL THEN 2
        |                 ELSE 3 END AS BIGINT) AS gid,
        |       count(*) AS n_rows, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_linestatus), ())""".stripMargin,

    // the quantization replay is q55's (floor(x*scale + 0.5), bit-exact
    // scales); the dot product is INTEGER-valued so list_sum is exact
    // under any order, and the rescale multiplies in the same association
    "q73_ann_quantized" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
         |  FROM embeddings),
         |a AS (
         |  SELECT vec_id, emb, list_max(list_transform(emb, x -> abs(x))) AS amax
         |  FROM e),
         |qz AS (
         |  SELECT vec_id, amax,
         |         list_transform(emb, x -> floor(x * (127.0 / amax) + 0.5)) AS q
         |  FROM a WHERE amax > 0.0),
         |sc AS (
         |  SELECT qq.vec_id AS q_id, c.vec_id AS vec_id,
         |         list_sum(list_transform(range(1, ${EmbDim + 1}),
         |           i -> qq.q[i] * c.q[i])) AS idot,
         |         qq.amax AS q_amax, c.amax AS amax
         |  FROM qz qq JOIN qz c ON c.vec_id <> qq.vec_id
         |  WHERE qq.vec_id < 8),
         |sc2 AS (
         |  SELECT q_id, vec_id, idot,
         |         idot * (q_amax / 127.0) * (amax / 127.0) AS qcos
         |  FROM sc),
         |r AS (
         |  SELECT q_id, vec_id, CAST(idot AS BIGINT) AS q_dot, qcos,
         |         CAST(row_number() OVER (PARTITION BY q_id
         |           ORDER BY round(qcos, 6) DESC, vec_id ASC) AS INT) AS rank
         |  FROM sc2)
         |SELECT q_id, vec_id, rank, q_dot, round(qcos, 4) AS qcos
         |FROM r WHERE rank <= 10""".stripMargin,

    // distinct-5-gram fingerprints both sides (same 60-bit md5-prefix
    // key as the Spark side), LEFT JOIN against the held-out split's
    // distinct grams, per-doc rollup; sub-n-word docs carry NULL frac
    "q74_contamination" ->
      """WITH lt AS (
        |  SELECT doc_id, source, string_split(lower(text), ' ') AS lt
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source,
        |         unnest(list_distinct(list_transform(range(1, len(lt) - 3),
        |           i -> lt[i] || ' ' || lt[i+1] || ' ' || lt[i+2] || ' ' ||
        |                lt[i+3] || ' ' || lt[i+4]))) AS g
        |  FROM lt),
        |gh AS (SELECT doc_id, source,
        |              ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
        |       FROM g),
        |bench AS (SELECT DISTINCT gh FROM gh WHERE source = 'src0'),
        |stats AS (
        |  SELECT t.doc_id, count(*) AS n_grams,
        |         CAST(sum(CASE WHEN b.gh IS NOT NULL THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_hit
        |  FROM gh t LEFT JOIN bench b ON b.gh = t.gh
        |  WHERE t.source <> 'src0'
        |  GROUP BY 1)
        |SELECT d.doc_id, coalesce(s.n_grams, 0) AS n_grams,
        |       coalesce(s.n_hit, 0) AS n_hit,
        |       RATIOQ_CONTAM AS contam_frac,
        |       CAST(CASE WHEN RATIOQ_CONTAM >= 0.2
        |                 THEN 1 ELSE 0 END AS INT) AS flagged
        |FROM documents d LEFT JOIN stats s ON s.doc_id = d.doc_id
        |WHERE d.source <> 'src0'""".stripMargin
        .replace("RATIOQ_CONTAM", graft.functions.AggFunctions
          .ratioQSql("s.n_hit", "s.n_grams", 4)),

    // the oracle replays withSyntheticPii's construction, then applies
    // the same ordered pattern list (counts on PRE-redaction text;
    // DuckDB regexp_replace needs the explicit 'g' flag)
    "q75_pii_redact" -> {
      val mk =
        """substr(text, 1, 40) || ' Reach U' || doc_id || '+Tag@Mail' ||
          |           (doc_id % 10) || '.OrG ssn ' ||
          |           lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' ||
          |           lpad((doc_id % 100)::VARCHAR, 2, '0') || '-' ||
          |           lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
          |           ' ph 555' ||
          |           CASE WHEN doc_id % 2 = 0 THEN '-' ELSE '.' END ||
          |           lpad((doc_id % 1000)::VARCHAR, 3, '0') ||
          |           CASE WHEN doc_id % 2 = 0 THEN '-' ELSE '.' END ||
          |           lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
          |           ' cc 4' ||
          |           lpad((doc_id % 1000)::VARCHAR, 3, '0') ||
          |           CASE WHEN doc_id % 2 = 0 THEN ' ' ELSE '-' END ||
          |           lpad(((doc_id * 3) % 10000)::VARCHAR, 4, '0') ||
          |           CASE WHEN doc_id % 2 = 0 THEN ' ' ELSE '-' END ||
          |           lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0') ||
          |           CASE WHEN doc_id % 2 = 0 THEN ' ' ELSE '-' END ||
          |           lpad(((doc_id * 9) % 10000)::VARCHAR, 4, '0') ||
          |           ' at 10.' || (doc_id % 256) || '.' ||
          |           ((doc_id * 7) % 256) || '.' ||
          |           ((doc_id * 13) % 256) || ' end'""".stripMargin
      val pats = TextAnalysis.PiiPatterns
      val red = pats.foldLeft("text") { case (e, (p, r)) =>
        s"regexp_replace($e, '$p', '$r', 'g')"
      }
      // each class counts at its chain point (earlier classes already
      // replaced) — mirrors TextAnalysis.redactPii exactly
      val counts = pats.zipWithIndex.map { case ((p, r), i) =>
        val prior = pats.take(i).foldLeft("text") { case (e, (pp, rr)) =>
          s"regexp_replace($e, '$pp', '$rr', 'g')"
        }
        val nm = "n_" + r.stripPrefix("<").stripSuffix(">").toLowerCase
        s"len(regexp_extract_all($prior, '$p')) AS $nm"
      }.mkString(",\n        |       ")
      s"""WITH s AS (
         |  SELECT doc_id, $mk AS text
         |  FROM documents)
         |SELECT doc_id, $red AS red_text,
         |       $counts
         |FROM s""".stripMargin
    },

    // DuckDB zips parallel unnests in one SELECT, giving the chunk
    // ordinal and text in lockstep; list_slice is end-inclusive so the
    // window is [i*32+1, (i+1)*32]
    "q76_chunking" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |c AS (
        |  SELECT doc_id,
        |         unnest(range(0, CAST(ceil(len(toks) / 32.0) AS INT)))
        |           AS chunk_idx,
        |         unnest(list_transform(
        |           range(0, CAST(ceil(len(toks) / 32.0) AS INT)),
        |           i -> array_to_string(
        |                  list_slice(toks, i*32 + 1, (i+1)*32), ' ')))
        |           AS chunk_text
        |  FROM t)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, chunk_text,
        |       len(string_split(chunk_text, ' ')) AS n_tokens
        |FROM c""".stripMargin,

    // ONE window ordered by (block, doc_id) — the semantic spec the
    // engine's two-level packing (block-parallel sums + broadcast prefix
    // stitch) must reproduce bit-for-bit; ROWS ... 1 PRECEDING is the
    // exclusive running sum, coalesced to 0 for the first document
    "q77_sequence_packing" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
        |         ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT
        |           % ${Curation.DefaultPackBlocks} AS block
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |         CAST(coalesce(sum(n_tokens) OVER (
        |           PARTITION BY lang ORDER BY block, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS cum_before
        |  FROM t)
        |SELECT doc_id, lang, n_tokens, cum_before,
        |       CAST(floor(cum_before / 256.0) AS BIGINT) AS seq_id,
        |       cum_before % 256 AS offset,
        |       CAST(cum_before % 256 + n_tokens > 256 AS INT)
        |         AS spans_boundary
        |FROM c""".stripMargin,

    // sqrt(n_l) is IEEE-exact both engines; the share is rounded to 6
    // decimals before flooring so aggregation-order last-ulp jitter in
    // sum_sqrt cannot flip the floor; the hash-bucket coin is q54's.
    // True upsampling: floor(pct/100) copies + a coin for the remainder,
    // replayed via generate_series (empty when copies = 0)
    "q78_temperature_resample" ->
      """WITH byl AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1),
        |tot AS (SELECT sum(sqrt(n_l)) AS sum_sqrt,
        |               CAST(sum(n_l) AS BIGINT) AS n_total
        |        FROM byl),
        |probs AS (
        |  SELECT lang, n_l,
        |         CAST(floor(round(
        |           100.0 * n_total / (sum_sqrt * sqrt(n_l)), 6)) AS INT)
        |           AS accept_pct
        |  FROM byl CROSS JOIN tot),
        |b AS (
        |  SELECT d.doc_id, d.lang,
        |         ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 4))::INT % 100
        |           AS bucket,
        |         p.accept_pct, p.n_l
        |  FROM documents d JOIN probs p ON p.lang = d.lang),
        |c AS (
        |  SELECT *, accept_pct // 100 +
        |         CASE WHEN bucket < accept_pct % 100 THEN 1 ELSE 0 END
        |           AS copies
        |  FROM b),
        |u AS (
        |  SELECT doc_id, lang, bucket, accept_pct, n_l,
        |         unnest(generate_series(1, copies)) AS ci
        |  FROM c WHERE copies >= 1)
        |SELECT doc_id, lang, bucket, accept_pct, n_l,
        |       CAST(ci AS INT) AS copy_idx
        |FROM u""".stripMargin,

    // strided windows: starts every 24 tokens carrying 32, count =
    // 1 + ceil((len-32)/24) for len > 32 (no pure-suffix trailing
    // window), 1 otherwise; list_slice is end-inclusive so window i is
    // [i*24+1, i*24+32]
    "q79_chunking_strided" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |t2 AS (
        |  SELECT doc_id, toks,
        |         CASE WHEN len(toks) <= 32 THEN 1
        |              ELSE 1 + CAST(ceil((len(toks) - 32) / 24.0) AS INT)
        |         END AS nc
        |  FROM t),
        |c AS (
        |  SELECT doc_id,
        |         unnest(range(0, nc)) AS chunk_idx,
        |         unnest(list_transform(range(0, nc),
        |           i -> array_to_string(
        |                  list_slice(toks, i*24 + 1, i*24 + 32), ' ')))
        |           AS chunk_text
        |  FROM t2)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, chunk_text,
        |       len(string_split(chunk_text, ' ')) AS n_tokens
        |FROM c""".stripMargin,

    // same quality formula as q53 (established bit-exact), bucket totals
    // + descending prefix over the <=101-row bucket relation, running sum
    // confined to the boundary bucket — mirrors budgetStage branch for
    // branch (whole UNION ALL boundary). The boundary sum is ONE window
    // ordered by (block, doc_id) — the semantic spec the engine's
    // two-level boundary shard (per-(qb, block) windows + broadcast
    // prefix stitch) must reproduce bit-for-bit, exactly as q77's packing
    "q80_token_budget_select" -> {
      docCtes.stripSuffix("\n") + ",\n" +
        s"""enr0 AS (
           |  SELECT doc_id, length(text) AS n_chars_m, len(toks) AS n_words,
           |         len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS n_punct,
           |         ${stopCountSql("ltoks", TextAnalysis.StopwordDicts.head._2)} AS n_stop
           |  FROM toks),
           |enr AS (
           |  SELECT doc_id, n_words AS n_tokens,
           |         ${graft.operators.TextAnalysis.qualitySqlOf("n_chars_m", "n_words", "n_punct", "n_stop")} AS q
           |  FROM enr0),
           |e2 AS (SELECT doc_id, n_tokens, q, CAST(floor(q * 100) AS INT) AS qb
           |       FROM enr WHERE q IS NOT NULL),
           |b AS (SELECT qb, CAST(sum(n_tokens) AS BIGINT) AS b_tokens
           |      FROM e2 GROUP BY 1),
           |bc AS (SELECT qb, b_tokens,
           |              CAST(coalesce(sum(b_tokens) OVER (ORDER BY qb DESC
           |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |                AS BIGINT) AS cum_before
           |       FROM b),
           |j AS (SELECT e2.doc_id, e2.q, e2.qb, e2.n_tokens,
           |             bc.b_tokens, bc.cum_before
           |      FROM e2 JOIN bc ON bc.qb = e2.qb),
           |bnd AS (
           |  SELECT doc_id, q, qb, n_tokens FROM (
           |    SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY qb
           |      ORDER BY blk, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_in
           |    FROM (SELECT *, ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT
           |                      % ${Curation.DefaultPackBlocks} AS blk
           |          FROM j WHERE cum_before < 10000
           |            AND cum_before + b_tokens > 10000))
           |  WHERE cum_before + cum_in + n_tokens <= 10000)
           |SELECT doc_id, q, qb, n_tokens FROM j
           |WHERE cum_before + b_tokens <= 10000
           |UNION ALL SELECT * FROM bnd""".stripMargin
    },

    // epoch-salted md5 priority. ONE rank ordered by (block, h, doc_id)
    // — the semantic spec the engine's two-level ranking (block-parallel
    // row_numbers + broadcast prefix-count stitch) must reproduce exactly
    "q81_epoch_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id, md5('3|' || doc_id::VARCHAR) AS h FROM documents),
        |s AS (SELECT doc_id, h,
        |             ('0x' || substr(h, 1, 4))::INT % 8 AS shard,
        |             ('0x' || substr(h, 5, 4))::INT % 16 AS block FROM h)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard
        |         ORDER BY block, h, doc_id) AS INT) AS pos
        |FROM s""".stripMargin,

    // chunk construction mirrors word_chunks(lower(text), 16); the df
    // window here is semantically the engine's groupBy+join occurrence
    // count over the SAME 60-bit fingerprint (DuckDB has no skew concern
    // at oracle scale); ordered string_agg replays the sorted-collect
    // reassembly, coalesced to '' when every chunk was boilerplate
    "q82_boilerplate_removal" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |           FROM documents),
        |c AS (
        |  SELECT doc_id,
        |         unnest(range(0, CAST(ceil(len(toks) / 16.0) AS INT))) AS pos,
        |         unnest(list_transform(
        |           range(0, CAST(ceil(len(toks) / 16.0) AS INT)),
        |           i -> array_to_string(
        |                  list_slice(toks, i*16 + 1, (i+1)*16), ' ')))
        |           AS chunk
        |  FROM t),
        |d AS (
        |  SELECT doc_id, pos, chunk,
        |         count(*) OVER (PARTITION BY
        |           ('0x' || substr(md5(chunk), 1, 15))::BIGINT) AS df
        |  FROM c)
        |SELECT doc_id, count(*) AS n_chunks,
        |       CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_removed,
        |       coalesce(string_agg(chunk, ' ' ORDER BY pos)
        |         FILTER (WHERE df <= 1), '') AS clean_text
        |FROM d GROUP BY 1""".stripMargin,

    // the exact semi-join bit is oracle-checked exactly; the bloom's
    // no-false-negative contract is the in-band flag (false positives
    // are allowed by the contract and rate-checked in the spec instead)
    "q69_bloom_join_filter" ->
      """SELECT c_custkey,
        |       CAST(EXISTS(SELECT 1 FROM orders o
        |                   WHERE o.o_custkey = c.c_custkey
        |                     AND o.o_totalprice > 300000.0) AS INT) AS is_member,
        |       1 AS no_false_neg
        |FROM customer c""".stripMargin,

    // bigram construction mirrors word_shingles(n=2) over the lowered
    // single-space tokens; docs with < 2 tokens carry NULL fraction
    "q70_repetition_signals" ->
      (docCtes.stripSuffix("\n") + ",\n" +
        """bg AS (
          |  SELECT doc_id, unnest(list_transform(range(1, len(ltoks)),
          |           i -> ltoks[i] || ' ' || ltoks[i+1])) AS b
          |  FROM toks WHERE len(ltoks) >= 2),
          |bgc AS (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY 1, 2),
          |bga AS (SELECT doc_id, max(n) AS top_n,
          |               CAST(sum(n) AS BIGINT) AS total_bg
          |        FROM bgc GROUP BY 1)
          |SELECT t.doc_id, len(ltoks) AS n_words,
          |       RATIOQ_DUPWORD AS dup_word_frac,
          |       RATIOQ_TOPBG AS top_bigram_frac
          |FROM toks t LEFT JOIN bga ON bga.doc_id = t.doc_id""".stripMargin
          .replace("RATIOQ_DUPWORD", graft.functions.AggFunctions.ratioQSql(
            "len(ltoks) - len(list_distinct(ltoks))", "len(ltoks)", 4))
          .replace("RATIOQ_TOPBG", graft.functions.AggFunctions.ratioQSql(
            "bga.top_n", "bga.total_bg", 4))),

    // same integer tf/df/N on both sides; the ln/division formula text is
    // identical and the rank orders by round(raw, 6) with a term
    // tie-break, the q15 pattern for cross-engine double ordering
    "q71_tfidf_topterms" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        |         tf.tf * ln(n.n_docs / CAST(df.df AS DOUBLE)) AS raw
        |  FROM tf JOIN df USING (tok) CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, tok, tf, df, round(raw, 4) AS tfidf,
        |         CAST(row_number() OVER (PARTITION BY doc_id
        |           ORDER BY round(raw, 6) DESC, tok ASC) AS INT) AS rn
        |  FROM sc)
        |SELECT doc_id, tok, tf, df, tfidf, rn FROM r WHERE rn <= 3""".stripMargin,

    // exact top-k is oracle-checked exactly; the CMS flags assert the
    // sketch's never-underestimate / bounded-overestimate contract
    "q66_heavy_hitters" ->
      """WITH t AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents),
        |c AS (SELECT tok, count(*) AS exact_cnt FROM t GROUP BY 1)
        |SELECT tok, exact_cnt, 1 AS lower_ok, 1 AS upper_ok
        |FROM c ORDER BY exact_cnt DESC, tok LIMIT 10""".stripMargin,

    // the oracle is the identity — encode->decode must lose nothing
    "q59_json_nested" ->
      """SELECT o_orderkey, o_custkey AS ck, round(o_totalprice, 4) AS tp,
        |       o_custkey AS arr1
        |FROM orders""".stripMargin,

    // same kmeans replay as q32/q33 plus a probe ranking: each query's top-2
    // cells by the same |c|^2 - 2*(emb.c) distance and (dist, cell) tie-break
    "q51_ann_ivf_multiprobe" ->
      (kmeansCtes.stripSuffix("\n") + ",\n" +
        s"""qprobe AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT v.vec_id, cc.cell,
           |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
           |             list_sum(list_transform(cc.c, x -> x*x))
           |             - 2 * list_sum(list_transform(range(1, ${EmbDim + 1}),
           |                              i -> v.emb[i] * cc.c[i])),
           |             cc.cell) AS rn
           |    FROM v CROSS JOIN c$KmeansIters cc WHERE v.vec_id < 8) WHERE rn <= 2),
           |scored AS (
           |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
           |         ${cosineSql("q.embedding", "c.embedding")} AS cos
           |  FROM embeddings q
           |  JOIN qprobe qp ON qp.vec_id = q.vec_id
           |  JOIN cells cc ON cc.cell = qp.cell
           |  JOIN embeddings c ON c.vec_id = cc.vec_id AND c.vec_id <> q.vec_id),
           |ranked AS (
           |  SELECT q_id, vec_id, cos,
           |         ROW_NUMBER() OVER (PARTITION BY q_id
           |           ORDER BY round(cos, 6) DESC, vec_id ASC) AS rank
           |  FROM scored)
           |SELECT q_id, vec_id, CAST(rank AS INTEGER) AS rank, round(cos, 4) AS cos
           |FROM ranked WHERE rank <= 5""".stripMargin),

    "q50_string_funcs" ->
      """SELECT doc_id,
        |       upper(substr(text, 1, 12)) AS head_upper,
        |       reverse(substr(text, 1, 8)) AS head_rev,
        |       length(replace(replace(replace(replace(replace(text,
        |         'a',''),'e',''),'i',''),'o',''),'u','')) AS n_consonant_chars,
        |       'doc' || '|' || doc_id || '|' || length(text) AS tagged,
        |       lpad(CAST(doc_id AS VARCHAR), 8, '0') AS padded_id
        |FROM documents""".stripMargin,

    // span construction mirrors word_chunks(lower(text), 16, 8); DISTINCT
    // pairs replay the engine's first aggregate, so the df count(*) is a
    // document count on both sides
    "q83_span_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |           FROM documents),
        |t2 AS (
        |  SELECT doc_id, toks,
        |         CASE WHEN len(toks) <= 16 THEN 1
        |              ELSE 1 + CAST(ceil((len(toks) - 16) / 8.0) AS INT)
        |         END AS nc
        |  FROM t),
        |sp AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(0, nc),
        |           i -> array_to_string(
        |                  list_slice(toks, i*8 + 1, i*8 + 16), ' ')))
        |           AS span
        |  FROM t2),
        |p AS (SELECT DISTINCT doc_id,
        |        ('0x' || substr(md5(span), 1, 15))::BIGINT AS span_fp
        |      FROM sp),
        |d AS (SELECT span_fp, count(*) AS span_df FROM p GROUP BY 1)
        |SELECT p.doc_id, count(*) AS n_spans,
        |       CAST(sum(CASE WHEN span_df > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS dup_spans,
        |       RATIOQ_DUPFRAC AS dup_frac,
        |       CAST(sum(CASE WHEN span_df > 1 THEN 1 ELSE 0 END)
        |            / count(*) <= 0.5 AS INT) AS keep
        |FROM p JOIN d USING (span_fp) GROUP BY 1""".stripMargin
        .replace("RATIOQ_DUPFRAC", graft.functions.AggFunctions.ratioQSql(
          "sum(CASE WHEN span_df > 1 THEN 1 ELSE 0 END)", "count(*)", 4)),

    // same tf/cnt/N/V integers on both sides; the Laplace-smoothed
    // -ln((cnt+1)/(N+V)) formula text is identical, outputs rounded at 4
    // (the q71 cross-engine double discipline)
    "q84_lm_perplexity" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id,
        |         ('0x' || substr(md5(tok), 1, 15))::BIGINT AS tok_fp,
        |         count(*) AS k
        |       FROM tk GROUP BY 1, 2),
        |c AS (SELECT tok_fp, CAST(sum(k) AS BIGINT) AS cnt
        |      FROM tf GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n, count(*) AS v FROM c)
        |SELECT tf.doc_id, CAST(sum(tf.k) AS BIGINT) AS n_tokens,
        |       round(sum(tf.k * -ln((c.cnt + 1)
        |                            / CAST(t.n + t.v AS DOUBLE)))
        |             / sum(tf.k), 4) AS avg_nll,
        |       round(exp(sum(tf.k * -ln((c.cnt + 1)
        |                                / CAST(t.n + t.v AS DOUBLE)))
        |                 / sum(tf.k)), 4) AS ppl
        |FROM tf JOIN c USING (tok_fp) CROSS JOIN t
        |GROUP BY 1""".stripMargin,

    // the plane literals are the SAME compile-time constants the engine
    // projects against (Similarity.srpPlanes); ±1 entries keep every
    // product a sign-flip of the float element, and both engines fold the
    // dot in index order, so each signature bit matches exactly
    "q85_srp_lsh" ->
      s"""WITH p AS (SELECT * FROM (VALUES
         |$srpPlanesSql) AS t(bit, pl)),
         |d AS (
         |  SELECT v.vec_id, p.bit,
         |         list_sum(list_transform(range(1, ${Similarity.SrpDim + 1}),
         |           i -> (v.embedding[i]::DOUBLE) * p.pl[i])) AS dt
         |  FROM embeddings v CROSS JOIN p),
         |bands AS (
         |  SELECT vec_id, bit // ${Similarity.SrpBits / Similarity.SrpBands}
         |           AS band_idx,
         |         CAST(sum(CASE WHEN dt >= 0 THEN 1 ELSE 0 END
         |           * (1 << (bit % ${Similarity.SrpBits / Similarity.SrpBands})))
         |           AS INTEGER) AS band_val
         |  FROM d GROUP BY 1, 2),
         |capped AS (
         |  SELECT vec_id, band_idx, band_val FROM bands
         |  QUALIFY count(*) OVER (PARTITION BY band_idx, band_val)
         |    <= ${Similarity.SrpMaxBucket}),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM capped a JOIN capped b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |   AND b.vec_id > a.vec_id)
         |SELECT id_a, id_b,
         |       round(${cosineSql("a.embedding", "b.embedding")}, 4) AS cos
         |FROM cand
         |JOIN embeddings a ON a.vec_id = cand.id_a
         |JOIN embeddings b ON b.vec_id = cand.id_b
         |WHERE round(${cosineSql("a.embedding", "b.embedding")}, 4) >= 0.35""".stripMargin,

  )
}
