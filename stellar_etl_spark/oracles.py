"""DuckDB oracle SQL — the ANSI twin of every entry in ``queries.QUERIES``.

Each statement reproduces the Spark query's exact arithmetic recipe
(decimal-exact aggregation, epoch-us timestamps, md5-family hashing,
left-fold float accumulation) so the driver's value-hash compare matches
bit-for-bit.  Tables are pre-registered views: region nation customer
supplier part orders lineitem events documents embeddings.

Fragment rule: a contract that more than one oracle must agree on (one
algorithm or policy, e.g. the valid-vector filter or the MinHash
signature) has exactly one definition, a module-level SQL fragment below
that the statements interpolate.  Fragments are hand-written DuckDB SQL
and are never derived from the Spark code, so each oracle stays an
independent implementation of its query.  The contract's explanation
lives once, as the Python comment on its fragment.
"""

_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(12,4)) * "
    "(CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))"
)


def fixed_ln_micro_sql(a: str, b: str, scale: int = 1_000_000) -> str:
    """DuckDB twin of ``operators.util.fixed_ln_micro(a, b, scale)`` — the
    engine-deterministic integer quantization of ``round(scale * ln(a/b))``.
    Delegates to the shared generator so the two dialects can never drift;
    see the Spark helper's docstring for the derivation and the
    0 < a, b < 2^51 input contract."""
    from stellar_etl_spark.operators.util import fixed_ln_sql

    return fixed_ln_sql(a, b, scale, dialect="duckdb")


# Valid-vector contract (queries.emb_table): similarity, clustering and
# quantization take only non-NULL vectors of the corpus dimension with a
# nonzero element.  Oracles over embeddings open with this shadowing CTE
# and read ``emb_valid`` instead of ``embeddings``.
_EMB_VALID = """emb_valid AS (
  SELECT * FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(embedding) = 64
    AND len(list_filter(embedding, x -> x <> 0)) > 0
)"""

# Shingle -> MinHash -> LSH contract (operators.dedup shingles,
# minhash_signature, minhash_lsh_candidates).  Shingles: the distinct
# 3-word n-grams of ``words`` (empty below 3 words).  Signature of
# ``shingle_set``: 8 affine permutations (2p+1)*h + 98765p + 12345 mod
# 2^31-1 over one base hash per shingle, h = the first 15 hex digits of
# md5(s) mod 2^31-1.  LSH: 4 bands ``b`` of 2 signature rows, keyed by the
# md5 of the band id and its two values.
_SHINGLE_SET = """CASE WHEN len(words) >= 3
      THEN list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                          FOR i IN generate_series(1, len(words) - 2)])
      ELSE [] END"""
_MINHASH_SIG = """[list_min([
       ((2*p + 1) * (('0x' || substring(md5(s), 1, 15))::BIGINT % 2147483647)
        + 98765*p + 12345) % 2147483647
       FOR s IN shingle_set])
     FOR p IN generate_series(0, 7)]"""
_LSH_BANDS = "(SELECT unnest(generate_series(0, 3)) AS b) AS bands(b)"
_LSH_BAND_KEY = "md5(concat_ws('|', b, ms[2*b + 1], ms[2*b + 2]))"

# Sessionization contract (operators.sessionize): per user, in (ts_us,
# event_id) order, an event more than 30 minutes (1,800,000,000 us) after
# the previous one opens a new session; ``session_idx`` counts a user's
# sessions from 1.  Reads CTE ``e`` (user_id, event_id, ts_us = epoch_us of
# the event time) and defines ``gaps`` and ``sess``.
_SESSIONS = """gaps AS (
  SELECT user_id, event_id, ts_us,
    CASE WHEN lag(ts_us) OVER w IS NULL
           OR ts_us - lag(ts_us) OVER w > 1800000000
         THEN 1 ELSE 0 END AS new_sess
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
sess AS (
  SELECT user_id, ts_us,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM gaps
)"""


ORACLES: dict[str, str] = {
    # ------------------------------------------------------------------
    "tpch_q1_pricing_summary": f"""
SELECT l_returnflag, l_linestatus,
  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,4))), 3) AS DOUBLE) AS sum_qty,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))), 3) AS DOUBLE) AS sum_base_price,
  CAST(ROUND(SUM({_DISC_PRICE}), 3) AS DOUBLE) AS sum_disc_price,
  CAST(ROUND(SUM({_DISC_PRICE} * (CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))), 3) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*) AS avg_price,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    "tpch_q3_top_orders": f"""
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_day,
  CAST(ROUND(SUM({_DISC_PRICE}), 3) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d')
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
    "tpch_q4_order_priority": """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 48
)
GROUP BY o_orderpriority
""",
    "tpch_q5_region_revenue": f"""
SELECT r_name, n_name,
  CAST(ROUND(SUM({_DISC_PRICE}), 3) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY r_name, n_name
""",
    "tpch_q6_revenue_forecast": """
SELECT
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(l_discount AS DECIMAL(6,4))), 3) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
    "supplier_nation_revenue": f"""
SELECT n_name, s_name,
  CAST(ROUND(SUM({_DISC_PRICE}), 3) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name, s_name
""",
    "top_customers_per_nation": """
WITH ranked AS (
  SELECT n_name, c_name, c_acctbal,
    row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
SELECT n_name, rnk, c_name, c_acctbal FROM ranked WHERE rnk <= 3
""",
    "props_json_agg": """
-- TRY_CAST: non-numeric props.k values are NULL (skipped by SUM), same
-- as the Spark side's try_cast.  json_valid guard: DuckDB's extraction
-- hard-errors on MALFORMED json where Spark's get_json_object yields
-- NULL — the shared contract is NULL
SELECT event_type,
  CAST(SUM(TRY_CAST(CASE WHEN json_valid(props)
        THEN json_extract_string(props, '$.k') END AS BIGINT)) AS BIGINT)
    AS sum_k,
  COUNT(*) AS n_events
FROM events GROUP BY event_type
""",
    # ------------------------------------------------------------------
    "toid_pack_roundtrip": """
WITH t AS (
  SELECT l_orderkey, l_linenumber,
    (l_orderkey << 32) | ((CAST(l_linenumber AS BIGINT) & 1048575) << 12) | (l_suppkey & 4095) AS toid
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, toid,
  toid >> 32 AS dec_ledger,
  (toid >> 12) & 1048575 AS dec_tx,
  toid & 4095 AS dec_op,
  toid | (CAST(1 AS BIGINT) << 62) AS synthetic_offer_id,
  (toid | (CAST(1 AS BIGINT) << 62)) >> 62 AS offer_id_type
FROM t
""",
    "ledger_close_agg": """
SELECT user_id,
  COUNT(*) AS attempted_tx_count,
  COUNT(CASE WHEN event_type <> 'error' THEN 1 END) AS successful_tx_count,
  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS failed_tx_count,
  CAST(SUM(CASE WHEN event_type IN ('purchase','click','view') THEN 1 ELSE 0 END) AS BIGINT) AS operation_count,
  CAST(COUNT(*) AS VARCHAR) AS tx_set_operation_count,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(10,4))), 3) AS DOUBLE) AS total_value
FROM events GROUP BY user_id
""",
    "change_compaction": """
WITH ch AS (
  SELECT event_id // 250 AS batch_id,
    CAST(user_id AS VARCHAR) AS ledger_key,
    CASE WHEN event_type = 'signup' THEN 0
         WHEN event_type = 'error' THEN 2
         ELSE 1 END AS change_type,
    event_id, event_type, value
  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
), agg AS (
  SELECT batch_id, ledger_key,
    max_by(event_id, event_id) AS last_event_id,
    max_by(event_type, event_id) AS last_event_type,
    max_by(value, event_id) AS last_value,
    min_by(change_type, event_id) AS first_ct,
    max_by(change_type, event_id) AS last_ct
  FROM ch GROUP BY batch_id, ledger_key
)
SELECT batch_id, ledger_key, last_event_id, last_event_type, last_value,
  CASE WHEN first_ct = 0 THEN 0 ELSE last_ct END AS effective_change_type,
  (last_ct = 2) AS deleted
FROM agg
WHERE NOT (first_ct = 0 AND last_ct = 2)
""",
    "batch_windows_5min": """
SELECT epoch_us(ts) // 300000000 AS bucket_id, event_type,
  COUNT(*) AS n_events,
  COUNT(DISTINCT user_id) AS n_users,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(10,4))), 3) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
""",
    "first_sighting_dedup": """
WITH r AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
    row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id, event_type, event_id AS first_event_id, ts_us AS first_ts_us
FROM r WHERE rn = 1
""",
    "time_to_sequence_range": """
SELECT MIN(event_id) AS start_seq, MAX(event_id) AS end_seq, COUNT(*) AS n_ledgers
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts <= TIMESTAMP '2024-01-20 00:00:00'
  AND event_id >= 2
""",
    # ------------------------------------------------------------------
    "word_explode_counts": """
SELECT word, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
GROUP BY word
""",
    "token_stats": """
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars_measured,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens
FROM documents
""",
    "text_quality_score": """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
s AS (
  SELECT doc_id,
    len(words) AS n_tokens,
    len(list_distinct(words)) AS n_distinct,
    len(list_filter(words, w -> list_contains(['the','a','of','and','to'], w))) AS stop
  FROM t
)
SELECT doc_id,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  ((((n_distinct) * 2000000 + (n_tokens)) // (2 * (n_tokens))) / 1000000.0) AS lexical_diversity,
  ((((stop) * 2000000 + (n_tokens)) // (2 * (n_tokens))) / 1000000.0) AS stopword_ratio,
  CAST(
    (CASE WHEN n_tokens >= 10 AND n_tokens <= 1000 THEN 1 ELSE 0 END)
    + (CASE WHEN CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.3 THEN 1 ELSE 0 END)
    + (CASE WHEN CAST(stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.01 THEN 1 ELSE 0 END)
  AS BIGINT) AS quality_score
FROM s
""",
    "language_id": """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
s AS (
  SELECT doc_id,
    len(list_filter(words, w -> list_contains(['the','a','of','and','to'], w))) AS score_en,
    len(list_filter(words, w -> list_contains(['el','la','de','que','y'], w))) AS score_es,
    len(list_filter(words, w -> list_contains(['le','la','et','les','des'], w))) AS score_fr,
    len(list_filter(words, w -> list_contains(['der','die','und','das','ein'], w))) AS score_de,
    len(list_filter(words, w -> list_contains(['de5','shi4','le5','zai4','he2'], w))) AS score_zh
  FROM t
), b AS (
  SELECT *, greatest(score_en, score_es, score_fr, score_de, score_zh) AS best FROM s
)
SELECT doc_id,
  CASE WHEN best > 0 AND score_en = best THEN 'en'
       WHEN best > 0 AND score_es = best THEN 'es'
       WHEN best > 0 AND score_fr = best THEN 'fr'
       WHEN best > 0 AND score_de = best THEN 'de'
       WHEN best > 0 AND score_zh = best THEN 'zh'
       ELSE 'und' END AS lang_pred,
  CAST(best AS BIGINT) AS lang_score
FROM b
""",
    "doc_fingerprint": f"""
WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents),
s AS (
  SELECT doc_id, text,
    {_SHINGLE_SET} AS sh
  FROM w
)
SELECT doc_id, md5(text) AS content_md5,
  list_min([md5(x) FOR x IN sh]) AS min_shingle_md5
FROM s
""",
    "exact_dedup": """
SELECT md5(text) AS content_md5, MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
FROM documents GROUP BY md5(text)
""",
    "minhash_near_dup": f"""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
sh AS (
  SELECT doc_id,
    {_SHINGLE_SET} AS shingle_set
  FROM docs
),
sig AS (
  SELECT doc_id, shingle_set,
    {_MINHASH_SIG} AS ms
  FROM sh WHERE len(shingle_set) > 0
),
banded AS (
  SELECT doc_id, b AS band_id,
    {_LSH_BAND_KEY} AS band_key
  FROM sig, {_LSH_BANDS}
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.doc_id < r.doc_id
)
SELECT id_a, id_b,
  CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS DOUBLE)
    / CAST(len(list_distinct(list_concat(a.shingle_set, b.shingle_set))) AS DOUBLE) AS jaccard
FROM cand
JOIN sh a ON a.doc_id = id_a
JOIN sh b ON b.doc_id = id_b
WHERE CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS DOUBLE)
    / CAST(len(list_distinct(list_concat(a.shingle_set, b.shingle_set))) AS DOUBLE) >= 0.5
""",
    "ngram_jaccard_near_dup": f"""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
sh AS (
  SELECT doc_id,
    {_SHINGLE_SET} AS shingle_set
  FROM docs
),
sized AS (SELECT doc_id, shingle_set FROM sh WHERE len(shingle_set) > 0),
ex AS (SELECT doc_id, len(shingle_set) AS n, unnest(shingle_set) AS s
       FROM sized),
freq AS (SELECT s, COUNT(*) AS c FROM ex GROUP BY s),
ranked AS (
  SELECT doc_id, s, n,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c, s) AS rn
  FROM ex JOIN freq USING (s)
),
prefix AS (
  SELECT doc_id, s, n FROM ranked
  WHERE rn <= n - CAST(CEIL(0.5 * n) AS BIGINT) + 1
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM prefix l JOIN prefix r
    ON l.s = r.s AND l.doc_id < r.doc_id
   AND l.n <= r.n * 2.0 AND r.n <= l.n * 2.0
)
SELECT id_a, id_b,
  CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS DOUBLE)
    / CAST(len(list_distinct(list_concat(a.shingle_set, b.shingle_set))) AS DOUBLE)
    AS jaccard
FROM cand
JOIN sized a ON a.doc_id = id_a
JOIN sized b ON b.doc_id = id_b
WHERE CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS DOUBLE)
    / CAST(len(list_distinct(list_concat(a.shingle_set, b.shingle_set))) AS DOUBLE)
    >= 0.5
""",
    "bm25_keyword_search": f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT COUNT(*) AS n, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl
),
tf AS (
  SELECT doc_id, t, COUNT(*) AS tf FROM tok
  WHERE t IN ('hash', 'join', 'scan', 'filter', 'sort')
  GROUP BY doc_id, t
),
dfq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
piv AS (
  SELECT doc_id,
    MAX(CASE WHEN t = 'hash' THEN tf END) AS tf_hash,
    MAX(CASE WHEN t = 'join' THEN tf END) AS tf_join,
    MAX(CASE WHEN t = 'scan' THEN tf END) AS tf_scan,
    MAX(CASE WHEN t = 'filter' THEN tf END) AS tf_filter,
    MAX(CASE WHEN t = 'sort' THEN tf END) AS tf_sort
  FROM tf GROUP BY doc_id
),
dfs AS (
  SELECT
    MAX(CASE WHEN t = 'hash' THEN df END) AS df_hash,
    MAX(CASE WHEN t = 'join' THEN df END) AS df_join,
    MAX(CASE WHEN t = 'scan' THEN df END) AS df_scan,
    MAX(CASE WHEN t = 'filter' THEN df END) AS df_filter,
    MAX(CASE WHEN t = 'sort' THEN df END) AS df_sort
  FROM dfq
),
-- idf once per TERM (mirrors the engine's constants frame): the fixed-point
-- fold must not run per scored doc-row
idfs AS (
  SELECT
    (CAST({fixed_ln_micro_sql('2*n + 2', '2*df_hash + 1', 1000000)} AS DOUBLE) / 1000000.0) AS idf_hash,
    (CAST({fixed_ln_micro_sql('2*n + 2', '2*df_join + 1', 1000000)} AS DOUBLE) / 1000000.0) AS idf_join,
    (CAST({fixed_ln_micro_sql('2*n + 2', '2*df_scan + 1', 1000000)} AS DOUBLE) / 1000000.0) AS idf_scan,
    (CAST({fixed_ln_micro_sql('2*n + 2', '2*df_filter + 1', 1000000)} AS DOUBLE) / 1000000.0) AS idf_filter,
    (CAST({fixed_ln_micro_sql('2*n + 2', '2*df_sort + 1', 1000000)} AS DOUBLE) / 1000000.0) AS idf_sort
  FROM stats, dfs
),
scored AS (
  SELECT piv.doc_id,
    COALESCE(idf_hash
      * (CAST(tf_hash AS DOUBLE) * 2.2)
      / (CAST(tf_hash AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl)), 0.0)
    + COALESCE(idf_join
      * (CAST(tf_join AS DOUBLE) * 2.2)
      / (CAST(tf_join AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl)), 0.0)
    + COALESCE(idf_scan
      * (CAST(tf_scan AS DOUBLE) * 2.2)
      / (CAST(tf_scan AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl)), 0.0)
    + COALESCE(idf_filter
      * (CAST(tf_filter AS DOUBLE) * 2.2)
      / (CAST(tf_filter AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl)), 0.0)
    + COALESCE(idf_sort
      * (CAST(tf_sort AS DOUBLE) * 2.2)
      / (CAST(tf_sort AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl)), 0.0)
    AS score
  FROM piv JOIN dl ON piv.doc_id = dl.doc_id, stats, idfs
)
SELECT doc_id, ROUND(score, 6) AS bm25
FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20
""",
    "hybrid_rrf_search": f"""
WITH {_EMB_VALID}, tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT COUNT(*) AS n, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl
),
tf AS (
  SELECT doc_id, t, COUNT(*) AS tf FROM tok
  WHERE t IN ('hash', 'join', 'scan', 'filter', 'sort')
  GROUP BY doc_id, t
),
dfq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
piv AS (
  SELECT doc_id,
    MAX(CASE WHEN t = 'hash' THEN tf END) AS tf_hash,
    MAX(CASE WHEN t = 'join' THEN tf END) AS tf_join,
    MAX(CASE WHEN t = 'scan' THEN tf END) AS tf_scan,
    MAX(CASE WHEN t = 'filter' THEN tf END) AS tf_filter,
    MAX(CASE WHEN t = 'sort' THEN tf END) AS tf_sort
  FROM tf GROUP BY doc_id
),
dfs AS (
  SELECT
    MAX(CASE WHEN t = 'hash' THEN df END) AS df_hash,
    MAX(CASE WHEN t = 'join' THEN df END) AS df_join,
    MAX(CASE WHEN t = 'scan' THEN df END) AS df_scan,
    MAX(CASE WHEN t = 'filter' THEN df END) AS df_filter,
    MAX(CASE WHEN t = 'sort' THEN df END) AS df_sort
  FROM dfq
),
-- idf once per TERM (mirrors the engine's constants frame): the fixed-point
-- fold must not run per scored doc-row
idfs AS (
  SELECT
    (CAST({fixed_ln_micro_sql('2*n + 2', '2*df_hash + 1', 1000000)} AS DOUBLE) / 1000000.0) AS idf_hash,
    (CAST({fixed_ln_micro_sql('2*n + 2', '2*df_join + 1', 1000000)} AS DOUBLE) / 1000000.0) AS idf_join,
    (CAST({fixed_ln_micro_sql('2*n + 2', '2*df_scan + 1', 1000000)} AS DOUBLE) / 1000000.0) AS idf_scan,
    (CAST({fixed_ln_micro_sql('2*n + 2', '2*df_filter + 1', 1000000)} AS DOUBLE) / 1000000.0) AS idf_filter,
    (CAST({fixed_ln_micro_sql('2*n + 2', '2*df_sort + 1', 1000000)} AS DOUBLE) / 1000000.0) AS idf_sort
  FROM stats, dfs
),
scored AS (
  SELECT piv.doc_id,
    COALESCE(idf_hash
      * (CAST(tf_hash AS DOUBLE) * 2.2)
      / (CAST(tf_hash AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl)), 0.0)
    + COALESCE(idf_join
      * (CAST(tf_join AS DOUBLE) * 2.2)
      / (CAST(tf_join AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl)), 0.0)
    + COALESCE(idf_scan
      * (CAST(tf_scan AS DOUBLE) * 2.2)
      / (CAST(tf_scan AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl)), 0.0)
    + COALESCE(idf_filter
      * (CAST(tf_filter AS DOUBLE) * 2.2)
      / (CAST(tf_filter AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl)), 0.0)
    + COALESCE(idf_sort
      * (CAST(tf_sort AS DOUBLE) * 2.2)
      / (CAST(tf_sort AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl)), 0.0)
    AS score
  FROM piv JOIN dl ON piv.doc_id = dl.doc_id, stats, idfs
),
lex AS (
  SELECT doc_id, ROUND(score, 6) AS bm25 FROM scored
  ORDER BY bm25 DESC, doc_id LIMIT 50
),
lexr AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex
  FROM lex
),
qv AS (SELECT embedding AS v FROM emb_valid WHERE vec_id = 0),
sem AS (
  SELECT CAST(e.vec_id AS BIGINT) AS doc_id,
    list_sum(list_transform(generate_series(1, len(e.embedding)),
      j -> CAST(e.embedding[j] AS DOUBLE) * qv.v[j]))
    / (sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
        j -> CAST(e.embedding[j] AS DOUBLE) * e.embedding[j])))
     * sqrt(list_sum(list_transform(generate_series(1, len(qv.v)),
        j -> CAST(qv.v[j] AS DOUBLE) * qv.v[j])))) AS cos
  FROM emb_valid e, qv WHERE e.vec_id <> 0
  ORDER BY cos DESC, doc_id LIMIT 50
),
semr AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rank_sem
  FROM sem
)
SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
  l.rank_lex AS rank_lex, s.rank_sem AS rank_sem,
  COALESCE(1000000000 // (60 + l.rank_lex), 0)
    + COALESCE(1000000000 // (60 + s.rank_sem), 0) AS rrf_score
FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id
ORDER BY rrf_score DESC, doc_id LIMIT 20
""",
    "order_value_deciles": """
WITH ranked AS (
  SELECT CAST(o_totalprice AS DECIMAL(18,4)) AS p,
    ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
SELECT decile, COUNT(*) AS n_orders,
  CAST(ROUND(MIN(p), 3) AS DOUBLE) AS lo,
  CAST(ROUND(MAX(p), 3) AS DOUBLE) AS hi,
  CAST(ROUND(SUM(p), 3) AS DOUBLE) AS total
FROM ranked GROUP BY decile
""",
    "media_resize_signature": """
-- BYTE-level twin via hex(encode(text)): the Spark kernel gathers BYTES
-- src = (i*n)//32 and fingerprints md5(hex(bytes)) — rebuild the same
-- uppercase-hex string from 2-char hex slices.  Exact for any unicode
-- text.  An empty payload has no samples: resized_len 0, NULL md5.
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS h,
    CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
  n AS n_bytes,
  CAST(CASE WHEN n = 0 THEN 0 ELSE 32 END AS BIGINT) AS resized_len,
  CASE WHEN n = 0 THEN NULL ELSE md5(list_reduce(
    [substr(h, 1 + 2 * CAST((i * n) // 32 AS BIGINT), 2)
     FOR i IN generate_series(0, 31)],
    (a, x) -> a || x)) END AS resized_md5
FROM b
""",
    "sliding_windows_15min": """
-- FLOOR-division window buckets: Spark's window() floors calendar
-- windows, but integer '//' truncates toward zero on both engines, so
-- pre-1970 (negative-epoch) events would land one window late.  The
-- positive-mod subtraction makes the quotient an exact floor.
WITH e AS (
  SELECT epoch_us(ts) AS us, event_type, value FROM events
),
x AS (
  SELECT (((us - ((us % 300000000) + 300000000) % 300000000) // 300000000)
          - k) * 300000000 AS window_start_us,
    event_type, value
  FROM e, (SELECT unnest(generate_series(0, 2)) AS k) ks(k)
)
SELECT window_start_us, event_type, COUNT(*) AS n_events,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(10,4))), 3) AS DOUBLE) AS total_value
FROM x GROUP BY window_start_us, event_type
""",
    "user_value_scd2": """
SELECT user_id, event_id,
  CAST(ROUND(CAST(value AS DECIMAL(18,6)), 6) AS DOUBLE) AS value,
  epoch_us(ts) AS valid_from_us,
  lead(epoch_us(ts)) OVER w AS valid_to_us,
  CAST(CASE WHEN lead(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS BIGINT)
    AS is_current
FROM events
WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
""",
    "hourly_value_gapfill": """
WITH h AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
    CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 3) AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL GROUP BY event_type, hr
),
b AS (SELECT event_type, MIN(hr) AS lo, MAX(hr) AS hi FROM h GROUP BY event_type),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi)) AS hr FROM b
),
g AS (
  SELECT grid.event_type, grid.hr, h.v
  FROM grid LEFT JOIN h ON grid.event_type = h.event_type AND grid.hr = h.hr
)
SELECT event_type, hr, hr * 3600000000 AS hour_start_us,
  last_value(v IGNORE NULLS) OVER (
    PARTITION BY event_type ORDER BY hr ROWS UNBOUNDED PRECEDING
  ) AS value_sum,
  CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
FROM g
""",
    "event_type_pivot": """
SELECT user_id,
  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
FROM events GROUP BY user_id
""",
    "cube_sales": f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
  COALESCE(l_linestatus, 'ALL') AS linestatus,
  n_items, revenue
FROM (
  SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
    CAST(ROUND(SUM({_DISC_PRICE}), 3) AS DOUBLE) AS revenue
  FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
)
""",
    "revenue_moving_avg": """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS d
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY day
)
SELECT CAST(day AS VARCHAR) AS day,
  CAST(ROUND(d, 3) AS DOUBLE) AS revenue,
  ROUND(
    CAST(SUM(d) OVER w AS DOUBLE) / COUNT(*) OVER w, 3
  ) AS ma7
FROM daily
WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
    "funnel_conversion": """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
),
v AS (
  SELECT user_id, MIN(ts_us) AS tv FROM e WHERE event_type = 'view'
  GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(ts_us) AS tc FROM e JOIN v ON e.user_id = v.user_id
  WHERE event_type = 'click' AND ts_us >= tv GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(ts_us) AS tp FROM e JOIN c ON e.user_id = c.user_id
  WHERE event_type = 'purchase' AND ts_us >= tc GROUP BY e.user_id
)
SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
UNION ALL
SELECT '2_click_after_view', COUNT(*) FROM c
UNION ALL
SELECT '3_purchase_after_click', COUNT(*) FROM p
""",
    "errors_in_sessions": f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
  WHERE event_type <> 'error'
),
{_SESSIONS},
s AS (
  SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
    MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us
  FROM sess GROUP BY user_id, session_idx
),
err AS (
  SELECT user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'error'
)
SELECT s.user_id, s.session_idx, s.session_start_us, s.session_end_us,
  COUNT(err.ts_us) AS n_errors
FROM s LEFT JOIN err
  ON err.user_id = s.user_id
 AND err.ts_us >= s.session_start_us AND err.ts_us <= s.session_end_us
GROUP BY s.user_id, s.session_idx, s.session_start_us, s.session_end_us
""",
    "active_sessions_per_window": f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
),
{_SESSIONS},
s AS (
  SELECT user_id, session_idx,
    MIN(ts_us) AS a, MAX(ts_us) AS b
  FROM sess GROUP BY user_id, session_idx
),
w AS (
  SELECT unnest(generate_series(a // 300000000, b // 300000000)) AS window_idx
  FROM s
)
SELECT window_idx, window_idx * 300000000 AS window_start_us,
  COUNT(*) AS n_active
FROM w GROUP BY window_idx
""",
    "asof_attribution": """
SELECT p.event_id AS purchase_id, p.user_id,
  epoch_us(p.ts) AS purchase_us,
  t.event_id AS touch_id, t.event_type AS touch_type,
  epoch_us(t.ts) AS touch_us,
  epoch_us(p.ts) - epoch_us(t.ts) AS lag_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type IN ('click', 'view')) t
  ON p.user_id = t.user_id AND p.ts >= t.ts
""",
    "simhash_near_dup": """
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
hashed AS (
  SELECT doc_id,
    list_reduce(
      [strpos('0123456789abcdef', c) - 1 FOR c IN string_split(substr(md5(word), 1, 15), '')],
      (a, b) -> a * 16 + b) AS h
  FROM words
),
votes AS (
  SELECT doc_id, bit,
    SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS tally
  FROM hashed, (SELECT unnest(generate_series(0, 15)) AS bit) AS bits(bit)
  GROUP BY doc_id, bit
),
fp AS (
  SELECT doc_id,
    CAST(SUM(CASE WHEN tally > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
),
-- pigeonhole band candidates with the operator's id-ordered 1024-member
-- block cap (bands for bits=16, d=2: widths 6/5/5 at offsets 0/6/11) —
-- the cap is part of the operator contract, so the oracle models it
banded AS (
  SELECT doc_id, band,
    CASE band WHEN 0 THEN (simhash >> 0) & 63
              WHEN 1 THEN (simhash >> 6) & 31
              ELSE (simhash >> 11) & 31 END AS val
  FROM fp, (SELECT unnest([0, 1, 2]) AS band) bs(band)
),
blocked AS (
  SELECT doc_id, band, val,
    (row_number() OVER (PARTITION BY band, val ORDER BY doc_id) - 1) // 1024
      AS blk
  FROM banded
),
cands AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM blocked l JOIN blocked r
    ON l.band = r.band AND l.val = r.val AND l.blk = r.blk
   AND l.doc_id < r.doc_id
)
SELECT c.id_a, c.id_b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM cands c
JOIN fp a ON c.id_a = a.doc_id
JOIN fp b ON c.id_b = b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
""",
    "tfidf_cosine_sim": f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
n AS (SELECT COUNT(*) AS n FROM documents),
dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
kept AS (
  SELECT t, {fixed_ln_micro_sql('n.n', 'df', 1000)} AS idf
  FROM dfreq, n WHERE df <= 0.3 * n.n
),
w AS (
  SELECT doc_id, tf.t, tf.tf * kept.idf AS w
  FROM tf JOIN kept ON tf.t = kept.t
),
norm AS (
  SELECT doc_id, sqrt(CAST(SUM(w * w) AS DOUBLE)) AS nrm FROM w GROUP BY doc_id
),
dot AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS dot
  FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
  ROUND(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 6) AS cosine
FROM dot
JOIN norm na ON na.doc_id = id_a
JOIN norm nb ON nb.doc_id = id_b
WHERE ROUND(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 6) >= 0.3
""",
    "simhash_fingerprint": """
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
hashed AS (
  SELECT doc_id,
    list_reduce(
      [strpos('0123456789abcdef', c) - 1 FOR c IN string_split(substr(md5(word), 1, 15), '')],
      (a, b) -> a * 16 + b) AS h
  FROM words
),
votes AS (
  SELECT doc_id, bit,
    SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS tally
  FROM hashed, (SELECT unnest(generate_series(0, 15)) AS bit) AS bits(bit)
  GROUP BY doc_id, bit
)
SELECT doc_id,
  CAST(SUM(CASE WHEN tally > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
""",
    "knn_cosine_bruteforce": f"""
WITH {_EMB_VALID}, base AS (
  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM emb_valid
),
q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id IN (0, 1, 2, 3, 4)),
scored AS (
  SELECT q.query_id, b.vec_id AS nbr_id,
    ROUND(
      list_reduce([qv[i] * v[i] FOR i IN generate_series(1, 64)], (a, b) -> a + b)
      / (sqrt(list_reduce([qv[i] * qv[i] FOR i IN generate_series(1, 64)], (a, b) -> a + b))
         * sqrt(list_reduce([v[i] * v[i] FOR i IN generate_series(1, 64)], (a, b) -> a + b))),
      6) AS cosine_sim
  FROM q, base b WHERE b.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, nbr_id, cosine_sim,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, nbr_id) AS rnk
  FROM scored
)
SELECT query_id, rnk, nbr_id, cosine_sim FROM ranked WHERE rnk <= 5
""",
    "embedding_label_centroids": f"""
WITH {_EMB_VALID}
SELECT label, CAST(i - 1 AS BIGINT) AS dim,
  ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS centroid_val
FROM emb_valid, (SELECT unnest(generate_series(1, 64)) AS i) AS dims(i)
GROUP BY label, i
""",
    "tpch_q7_nation_volume": f"""
SELECT supp_nation, cust_nation, l_year,
  CAST(ROUND(SUM({_DISC_PRICE}), 3) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
    EXTRACT(year FROM l_shipdate) AS l_year, l_extendedprice, l_discount
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
)
GROUP BY supp_nation, cust_nation, l_year
""",
    "tpch_q11_important_stock": """
-- DECIMAL(19,4) on one operand forces DuckDB's int128 product path:
-- 12,4 x 12,4 stays on the int64 DECIMAL(18) kernel and overflows on
-- boundary-magnitude rows (Spark's 12,4 x 12,4 widens to 25,8 natively);
-- values are identical, only the headroom changes
WITH pv AS (
  SELECT l_partkey,
    CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(12,4))), 3) AS DOUBLE) AS part_value
  FROM lineitem GROUP BY l_partkey
),
tot AS (
  SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) * 0.0005 AS threshold
  FROM lineitem
)
SELECT l_partkey, part_value FROM pv, tot WHERE part_value > threshold
""",
    "tpch_q14_promo_revenue": f"""
SELECT
  ROUND(
    CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {_DISC_PRICE}
             ELSE CAST(0 AS DECIMAL(12,4)) END) AS DOUBLE) * 100.0
    / CAST(SUM({_DISC_PRICE}) AS DOUBLE), 6) AS promo_revenue_pct,
  COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
""",
    "tpch_q16_supplier_cnt": """
SELECT p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_size IN (9, 14, 23, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_type, p_size
""",
    "tpch_q18_large_orders": """
WITH big AS (
  SELECT l_orderkey,
    CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,4))), 3) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,4))), 3) AS DOUBLE) > 270
)
SELECT c_name, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_day,
  total_qty
FROM orders
JOIN big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
""",
    "tpch_q19_disjunctive": f"""
SELECT
  CAST(ROUND(SUM({_DISC_PRICE}), 3) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#15' AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#19' AND l_quantity BETWEEN 20 AND 30)
""",
    "tpch_q22_global_sales_opportunity": """
WITH ab AS (
  SELECT AVG(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE)) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT CAST(c_nationkey % 5 AS INT) AS cntrycode,
  COUNT(*) AS numcust,
  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 3) AS DOUBLE) AS totacctbal
FROM customer, ab
WHERE c_acctbal > avg_bal
  AND CAST(c_nationkey % 5 AS INT) IN (1, 2, 3)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
    AND o_orderdate >= TIMESTAMP '1998-06-01 00:00:00')
GROUP BY CAST(c_nationkey % 5 AS INT)
""",
    "tpch_q8_market_share": f"""
SELECT EXTRACT(year FROM o_orderdate) AS o_year,
  ROUND(
    CAST(SUM(CASE WHEN n_name = 'NATION_7' THEN {_DISC_PRICE}
             ELSE CAST(0 AS DECIMAL(12,4)) END) AS DOUBLE)
    / CAST(SUM({_DISC_PRICE}) AS DOUBLE), 6) AS mkt_share,
  COUNT(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_type = 'ECONOMY'
GROUP BY EXTRACT(year FROM o_orderdate)
""",
    "tpch_q9_product_profit": f"""
SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
  CAST(ROUND(SUM({_DISC_PRICE}), 3) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY n_name, EXTRACT(year FROM o_orderdate)
""",
    "tpch_q10_returned_items": f"""
SELECT c_custkey, c_name, n_name AS nation,
  CAST(ROUND(SUM({_DISC_PRICE}), 3) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
HAVING CAST(ROUND(SUM({_DISC_PRICE}), 3) AS DOUBLE) > 3000
""",
    "tpch_q13_order_distribution": """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
    AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust GROUP BY c_count
""",
    "tpch_q15_top_supplier": f"""
WITH per_supp AS (
  SELECT l_suppkey, SUM({_DISC_PRICE}) AS rev_exact
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
  CAST(ROUND(rev_exact, 3) AS DOUBLE) AS total_revenue
FROM per_supp
JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_exact = (SELECT MAX(rev_exact) FROM per_supp)
""",
    "tpch_q17_small_quantity": """
WITH li_parts AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand IN ('Brand#15', 'Brand#23')
), avg_qty AS (
  SELECT l_partkey AS ak,
    AVG(CAST(CAST(l_quantity AS DECIMAL(12,4)) AS DOUBLE)) * 0.2
      AS qty_threshold
  FROM li_parts GROUP BY l_partkey
)
SELECT
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) / 7.0, 3)
    AS avg_yearly,
  COUNT(*) AS n_items
FROM li_parts JOIN avg_qty ON l_partkey = ak
WHERE l_quantity < qty_threshold
""",
    "tpch_q21_waiting_supplier": """
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
    (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey,
    COUNT(DISTINCT l_suppkey) AS n_supp,
    COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp,
    MAX(CASE WHEN late THEN l_suppkey END) AS late_supp
  FROM lo GROUP BY l_orderkey
)
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM per_order
JOIN supplier ON late_supp = s_suppkey
WHERE n_supp > 1 AND n_late_supp = 1
GROUP BY s_suppkey, s_name
""",
    "rollup_revenue": f"""
SELECT r_name, n_name,
  CAST(ROUND(SUM({_DISC_PRICE}), 3) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
    "dormant_customers": """
SELECT n_name, COUNT(*) AS n_dormant,
  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 3) AS DOUBLE) AS dormant_balance
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey
    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
)
GROUP BY n_name
""",
    # ASCII corpus (verified in tests): byte ops over encode(text) equal the
    # char-level recipe below bit-for-bit.
    "media_byte_features": """
-- BYTE-level twin via hex(encode(text)): exact for any unicode text (the
-- former ascii(char) form equals bytes only on ASCII corpora)
WITH b AS (
  SELECT doc_id, text, encode(text) AS p FROM documents
  WHERE text IS NOT NULL
)
SELECT doc_id,
  CAST(octet_length(p) AS BIGINT) AS n_bytes,
  CAST(CASE WHEN octet_length(p) = 0 THEN NULL
       ELSE ('0x' || substr(hex(p), 1, 2))::INT END AS BIGINT) AS first_byte,
  CAST(list_reduce(
    list_append(list_transform(range(octet_length(p)),
      i -> ('0x' || substr(hex(p), CAST(2*i+1 AS BIGINT), 2))::BIGINT), 0),
    (acc, x) -> acc + x) % 2147483647 AS BIGINT) AS byte_sum,
  md5(text) AS checksum_md5
FROM b
""",
    "media_frame_sample": """
-- BYTE-level twin: each 64-byte frame is 128 hex chars of
-- hex(encode(text)); the fingerprint is md5 over that uppercase-hex
-- slice, matching the Spark md5(hex(substring(payload))) exactly for
-- any unicode text (the final partial frame is just a shorter slice).
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, CAST(i AS INT) AS frame_idx,
  md5(substr(h, CAST(i AS BIGINT) * 128 + 1, 128)) AS frame_md5
FROM b,
  LATERAL (SELECT unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS i) f
WHERE i % 2 = 0
""",
    "bpe_token_stats": r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\w+|[^\w\s]') AS ts FROM documents
)
SELECT doc_id,
  CAST(len(ts) AS INT) AS n_bpe_tokens,
  CAST(len(list_distinct(ts)) AS INT) AS n_distinct_bpe_tokens,
  CAST(len(list_filter(ts, t -> NOT regexp_matches(t, '^\w+$'))) AS INT)
    AS n_punct_tokens
FROM toks
""",
    "rolling_fingerprint": """
SELECT doc_id,
  CAST(length(text) AS INT) AS n_chars,
  CAST(CASE WHEN text IS NULL THEN NULL ELSE list_reduce(
    list_append(list_transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT)), 0),
    (acc, x) -> CASE WHEN x = 0 THEN acc ELSE (acc * 31 + x) % 2147483647 END
  ) END AS BIGINT) AS rolling_hash
FROM documents
""",
    "embedding_near_dup": f"""
WITH {_EMB_VALID}, base AS (
  SELECT vec_id, label, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM emb_valid
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  ROUND(
    list_reduce([a.v[i] * b.v[i] FOR i IN generate_series(1, 64)], (x, y) -> x + y)
    / (sqrt(list_reduce([a.v[i] * a.v[i] FOR i IN generate_series(1, 64)], (x, y) -> x + y))
       * sqrt(list_reduce([b.v[i] * b.v[i] FOR i IN generate_series(1, 64)], (x, y) -> x + y))),
    6) AS cosine_sim
FROM base a JOIN base b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(
    list_reduce([a.v[i] * b.v[i] FOR i IN generate_series(1, 64)], (x, y) -> x + y)
    / (sqrt(list_reduce([a.v[i] * a.v[i] FOR i IN generate_series(1, 64)], (x, y) -> x + y))
       * sqrt(list_reduce([b.v[i] * b.v[i] FOR i IN generate_series(1, 64)], (x, y) -> x + y))),
    6) >= 0.42
""",
    # IVF probe selection is deterministic (exact per-label centroids, ties
    # broken by cell id), so the "approximate" path still has an exact twin.
    "ivf_knn_approx": f"""
WITH {_EMB_VALID}, base AS (
  SELECT vec_id, label, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM emb_valid
),
cent AS (
  SELECT label, i, ROUND(AVG(v[i]), 6) AS cv
  FROM base, (SELECT unnest(generate_series(1, 64)) AS i) dims(i)
  GROUP BY label, i
),
cent_vec AS (
  SELECT label AS cell, list(cv ORDER BY i) AS cvec FROM cent GROUP BY label
),
q AS (
  SELECT vec_id AS query_id, v AS qv,
    sqrt(list_reduce([v[i] * v[i] FOR i IN generate_series(1, 64)], (a, b) -> a + b)) AS qn
  FROM base WHERE vec_id IN (0, 1, 2, 3, 4)
),
cell_scored AS (
  SELECT q.query_id, q.qv, q.qn, c.cell,
    list_reduce([qv[i] * cvec[i] FOR i IN generate_series(1, 64)], (a, b) -> a + b)
    / (qn * sqrt(list_reduce([cvec[i] * cvec[i] FOR i IN generate_series(1, 64)], (a, b) -> a + b)))
      AS cell_sim
  FROM q, cent_vec c
),
probes AS (
  SELECT query_id, qv, qn, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cell_sim DESC, cell) AS pr
    FROM cell_scored
  ) WHERE pr <= 3
),
scored AS (
  SELECT p.query_id, b.vec_id AS nbr_id,
    ROUND(
      list_reduce([qv[i] * b.v[i] FOR i IN generate_series(1, 64)], (a, b) -> a + b)
      / (qn * sqrt(list_reduce([b.v[i] * b.v[i] FOR i IN generate_series(1, 64)], (a, b) -> a + b))),
      6) AS cosine_sim
  FROM probes p JOIN base b ON b.label = p.cell
  WHERE b.vec_id <> p.query_id
)
SELECT query_id, rnk, nbr_id, cosine_sim FROM (
  SELECT query_id, nbr_id, cosine_sim,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, nbr_id) AS BIGINT) AS rnk
  FROM scored
) WHERE rnk <= 5
""",
    "clean_text": r"""
SELECT doc_id,
  CAST(length(lower(trim(regexp_replace(
    regexp_replace(text, 'https?://\S+|www\.\S+', ' ', 'g'),
    '\s+', ' ', 'g')))) AS INT) AS clean_len,
  md5(lower(trim(regexp_replace(
    regexp_replace(text, 'https?://\S+|www\.\S+', ' ', 'g'),
    '\s+', ' ', 'g')))) AS clean_md5
FROM documents
""",
    "weekly_retention": """
WITH w AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk FROM events
)
SELECT a.wk, COUNT(*) AS n_active, COUNT(b.user_id) AS n_retained
FROM w a LEFT JOIN w b ON a.user_id = b.user_id AND b.wk = a.wk + 1
GROUP BY a.wk
""",
    # connected components via recursive transitive closure — min reachable
    # node id per node equals the iterative min-label fixpoint on the Spark
    # side.
    "near_dup_clusters": f"""
WITH RECURSIVE docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
sh AS (
  SELECT doc_id,
    {_SHINGLE_SET} AS shingle_set
  FROM docs
),
sig AS (
  SELECT doc_id, shingle_set,
    {_MINHASH_SIG} AS ms
  FROM sh WHERE len(shingle_set) > 0
),
banded AS (
  SELECT doc_id, b AS band_id,
    {_LSH_BAND_KEY} AS band_key
  FROM sig, {_LSH_BANDS}
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.doc_id < r.doc_id
),
edges AS (
  SELECT id_a, id_b FROM cand
  JOIN sh a ON a.doc_id = id_a
  JOIN sh b ON b.doc_id = id_b
  WHERE CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.shingle_set, b.shingle_set))) AS DOUBLE) >= 0.5
),
und AS (
  SELECT id_a AS s, id_b AS d FROM edges
  UNION ALL SELECT id_b, id_a FROM edges
),
reach(node, label) AS (
  SELECT DISTINCT s, s FROM und
  UNION
  SELECT u.s, r.label FROM und u JOIN reach r ON u.d = r.node
)
SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
""",
    "sessionize_events": f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
),
{_SESSIONS}
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
  MIN(ts_us) AS session_start_us,
  MAX(ts_us) AS session_end_us,
  MAX(ts_us) - MIN(ts_us) AS duration_us,
  COUNT(*) AS n_events
FROM sess GROUP BY user_id, session_idx
""",
    "training_data_pipeline": """
WITH q AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
    (CASE WHEN len(string_split(text, ' ')) BETWEEN 10 AND 1000 THEN 1 ELSE 0 END)
    + (CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
            / len(string_split(text, ' ')) >= 0.3 THEN 1 ELSE 0 END)
    + (CASE WHEN CAST(len(list_filter(string_split(text, ' '),
            w -> list_contains(['the','a','of','and','to'], w))) AS DOUBLE)
            / len(string_split(text, ' ')) >= 0.01 THEN 1 ELSE 0 END) AS score
  FROM documents
),
survivors AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
)
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
JOIN q USING (doc_id)
WHERE score >= 2 AND doc_id IN (SELECT doc_id FROM survivors)
GROUP BY lang
""",
    "deterministic_sample": """
SELECT doc_id, source, n_chars
FROM documents
WHERE (('0x' || substring(md5(text), 1, 8))::BIGINT % 100) < 10
""",
    "domain_mix_sample": """
WITH stats AS (
  SELECT source, SUM(n_chars) AS source_tokens, COUNT(*) AS source_docs
  FROM documents GROUP BY source
), b AS (
  SELECT MIN(source_tokens) AS budget FROM stats
), kept AS (
  SELECT d.source, d.n_chars, s.source_tokens, s.source_docs, b.budget
  FROM documents d JOIN stats s ON d.source = s.source CROSS JOIN b
  WHERE (('0x' || substring(md5(d.text), 1, 8))::BIGINT % 1000000)
        * s.source_tokens < 1000000 * b.budget
)
SELECT source,
  COUNT(*) AS docs_kept,
  CAST(SUM(n_chars) AS BIGINT) AS tokens_kept,
  CAST(MIN(source_tokens) AS BIGINT) AS source_tokens,
  MIN(source_docs) AS source_docs,
  CAST(MIN(budget) AS BIGINT) AS token_budget
FROM kept GROUP BY source
""",
    "stratified_sample": """
SELECT doc_id, source, n_chars
FROM documents
WHERE (('0x' || substring(md5(text), 1, 8))::BIGINT % 1000)
  < (CASE WHEN source IN ('src0', 'src1', 'src2', 'src3') THEN 500 ELSE 50 END)
""",
    "embedding_quantization": f"""
WITH {_EMB_VALID}, base AS (
  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM emb_valid
),
s AS (
  SELECT vec_id, v,
    list_max([abs(x) FOR x IN v]) AS amax,
    list_max([abs(x) FOR x IN v]) / 127.0 AS scale
  FROM base
),
q AS (
  SELECT vec_id, v, scale,
    [CAST(floor(x / scale + 0.5) AS BIGINT) FOR x IN v] AS qv
  FROM s WHERE amax > 0
)
SELECT vec_id, ROUND(scale, 6) AS scale,
  list_min(qv) AS q_min,
  list_max(qv) AS q_max,
  ROUND(sqrt(list_reduce(
    [0.0] || [(qv[i] * scale - v[i]) * (qv[i] * scale - v[i])
              FOR i IN generate_series(1, len(v))],
    (a, b) -> a + b)), 6) AS l2_err
FROM q
""",
    "lm_quality_score": f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
cf AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
tot AS (SELECT COUNT(*) AS total FROM tok),
lp AS (
  SELECT t, {fixed_ln_micro_sql('c', 'total', 1000)} AS lp
  FROM cf, tot
),
s AS (
  SELECT doc_id, SUM(tf * lp) AS si, SUM(tf) AS n_tokens
  FROM tf JOIN lp USING (t) GROUP BY doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
  (CASE WHEN si < 0 THEN -1 ELSE 1 END
   * ((abs(si) * 2000 + n_tokens) // (2 * n_tokens))) / 1000000.0
    AS avg_logprob
FROM s
""",
    "perplexity_buckets": f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
cf AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
tot AS (SELECT COUNT(*) AS total FROM tok),
lp AS (
  SELECT t, {fixed_ln_micro_sql('c', 'total', 1000)} AS lp
  FROM cf, tot
),
s AS (
  SELECT doc_id, SUM(tf * lp) AS si, SUM(tf) AS n_tokens
  FROM tf JOIN lp USING (t) GROUP BY doc_id
),
scored AS (
  SELECT doc_id, n_tokens,
    (CASE WHEN si < 0 THEN -1 ELSE 1 END
     * ((abs(si) * 2000 + n_tokens) // (2 * n_tokens))) AS micro
  FROM s
),
bucketed AS (
  SELECT *, ntile(10) OVER (ORDER BY micro, doc_id) AS bucket FROM scored
)
SELECT bucket, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
  MIN(micro) / 1000000.0 AS min_score,
  MAX(micro) / 1000000.0 AS max_score
FROM bucketed GROUP BY bucket
""",
    "vocab_oov_rate": """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
cf AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
vocab AS (SELECT t FROM cf ORDER BY c DESC, t LIMIT 100),
agg AS (
  SELECT tok.doc_id, COUNT(*) AS n_tokens,
    CAST(SUM(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
  FROM tok LEFT JOIN vocab ON tok.t = vocab.t
  GROUP BY tok.doc_id
)
SELECT doc_id, n_tokens, n_oov,
  ((n_oov * 2000000 + n_tokens) // (2 * n_tokens)) / 1000000.0 AS oov_rate
FROM agg
""",
    "train_val_test_split": """
WITH b AS (
  SELECT (('0x' || substring(md5(text), 1, 8))::BIGINT % 100) AS bucket,
    n_chars
  FROM documents
)
SELECT CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM b GROUP BY split
""",
    "top_bigrams": """
WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
b AS (
  SELECT unnest([w[i] || ' ' || w[i+1] FOR i IN generate_series(1, len(w) - 1)]) AS bigram
  FROM w WHERE len(w) >= 2
)
SELECT bigram, COUNT(*) AS n FROM b GROUP BY bigram
ORDER BY n DESC, bigram LIMIT 20
""",
    "buyer_cohort_overlap": """
WITH a AS (
  SELECT o_custkey AS custkey, COUNT(*) AS n_1996 FROM orders
  WHERE year(o_orderdate) = 1996 GROUP BY o_custkey
),
b AS (
  SELECT o_custkey AS custkey, COUNT(*) AS n_1997 FROM orders
  WHERE year(o_orderdate) = 1997 GROUP BY o_custkey
)
SELECT COALESCE(a.custkey, b.custkey) AS custkey,
  COALESCE(n_1996, 0) AS n_1996,
  COALESCE(n_1997, 0) AS n_1997,
  CASE WHEN n_1996 IS NOT NULL AND n_1997 IS NOT NULL THEN 'both'
       WHEN n_1996 IS NOT NULL THEN 'only_1996'
       ELSE 'only_1997' END AS segment
FROM a FULL OUTER JOIN b ON a.custkey = b.custkey
""",
    "repeat_buyers": """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
""",
    "corpus_stats_by_source": """
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  ROUND(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
  ROUND(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
  COUNT(DISTINCT lang) AS n_langs
FROM documents
GROUP BY source
""",
    "running_state_snapshots": """
WITH ch AS (
  SELECT CAST(user_id AS VARCHAR) AS k,
    event_id,
    event_id // 250 AS snap,
    CASE WHEN event_type = 'error' THEN 2 ELSE 1 END AS ct,
    value
  FROM events
),
last_per AS (
  SELECT k, snap, event_id, ct, value,
    row_number() OVER (PARTITION BY k, snap ORDER BY event_id DESC) AS rn
  FROM ch
),
states AS (
  SELECT k, snap, event_id, ct, value,
    lead(snap) OVER (PARTITION BY k ORDER BY snap) AS next_snap
  FROM last_per WHERE rn = 1
),
m AS (SELECT max(snap) AS max_snap FROM ch),
covered AS (
  SELECT k, event_id, ct, value,
    unnest(range(snap, coalesce(next_snap, max_snap + 1))) AS snapshot_id
  FROM states, m
)
SELECT CAST(snapshot_id AS BIGINT) AS snapshot_id, k AS user_id,
  event_id AS last_event_id, value AS last_value
FROM covered WHERE ct <> 2
""",
    # ------------------------------------------------------------------
    "tpch_q2_min_cost_supplier": """
WITH cost AS (
  SELECT l_partkey, l_suppkey,
    SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
best AS (
  SELECT *, MIN(cost) OVER (PARTITION BY l_partkey) AS min_cost FROM cost
)
SELECT p_partkey, p_brand, s_name,
  CAST(ROUND(cost, 3) AS DOUBLE) AS supply_cost
FROM best
JOIN part ON p_partkey = l_partkey AND p_size < 15
JOIN supplier ON s_suppkey = l_suppkey
WHERE cost = min_cost
""",
    "tpch_q12_late_shipments": """
SELECT l_linestatus,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
    AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)
    AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY l_linestatus
""",
    "tpch_q20_excess_stock_suppliers": """
SELECT s_suppkey, s_name, s_nationkey FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_partkey, l_suppkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,4))) > 50
)
""",
    "priority_price_percentiles": """
SELECT o_orderpriority,
  ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50_price,
  ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90_price,
  COUNT(*) AS n_orders
FROM orders GROUP BY o_orderpriority
""",
    "salted_skew_join": """
SELECT c_mktsegment,
  COUNT(*) AS n_events,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(10,4))), 3) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
""",
    "pii_scrub_stats": """
WITH seeded AS (
  SELECT doc_id, source,
    text || ' contact user' || doc_id || '@example.com or +1-555-' ||
      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
  FROM documents
),
scrubbed AS (
  SELECT doc_id, source,
    len(regexp_extract_all(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
    len(regexp_extract_all(text, '\\+\\d{1,2}-\\d{3}-\\d{4}')) AS n_phones,
    length(text) - length(
      regexp_replace(
        regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\\+\\d{1,2}-\\d{3}-\\d{4}', '<PHONE>', 'g')
    ) AS chars_delta
  FROM seeded
)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(n_emails) AS BIGINT) AS emails_redacted,
  CAST(SUM(n_phones) AS BIGINT) AS phones_redacted,
  CAST(SUM(chars_delta) AS BIGINT) AS chars_delta_total
FROM scrubbed GROUP BY source
""",
    "repetition_quality": """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
b AS (
  SELECT doc_id, words,
    CASE WHEN len(words) >= 2
      THEN [words[i] || ' ' || words[i+1] FOR i IN generate_series(1, len(words) - 1)]
      ELSE [] END AS bigrams
  FROM w
),
tops AS (
  SELECT doc_id, len(words) AS n_tokens, len(bigrams) AS n_bi,
    COALESCE(list_max(list_transform(list_distinct(words),
      g -> len(list_filter(words, x -> x = g)))), 0) AS top_uni,
    COALESCE(list_max(list_transform(list_distinct(bigrams),
      g -> len(list_filter(bigrams, x -> x = g)))), 0) AS top_bi
  FROM b
),
fr AS (
  SELECT doc_id, n_tokens,
    CASE WHEN n_tokens > 0
      THEN ((((top_uni) * 2000000 + (n_tokens)) // (2 * (n_tokens))) / 1000000.0) ELSE 0.0 END
      AS top_unigram_frac,
    CASE WHEN n_bi > 0
      THEN ((((top_bi) * 2000000 + (n_bi)) // (2 * (n_bi))) / 1000000.0) ELSE 0.0 END
      AS top_bigram_frac
  FROM tops
)
SELECT doc_id, n_tokens, top_unigram_frac, top_bigram_frac,
  (top_unigram_frac > 0.2 OR top_bigram_frac > 0.2) AS repetitive
FROM fr
""",
    "ngram_contamination": f"""
WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words
           FROM documents),
g AS (
  SELECT doc_id, source,
    {_SHINGLE_SET} AS grams
  FROM w
),
bench AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0
),
ex AS (
  SELECT doc_id, source, len(grams) AS n_grams, unnest(grams) AS gram
  FROM g WHERE doc_id % 97 <> 0
),
per_doc AS (
  SELECT doc_id, any_value(source) AS source, any_value(n_grams) AS n_grams,
    COUNT(bench.gram) AS n_contaminated
  FROM ex LEFT JOIN bench USING (gram)
  GROUP BY doc_id
)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN CAST(n_contaminated AS DOUBLE) / n_grams >= 0.02
      THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
  ((((SUM(n_contaminated)) * 2000000 + (SUM(n_grams))) // (2 * (SUM(n_grams)))) / 1000000.0)
    AS overlap_frac
FROM per_doc GROUP BY source
""",
    "document_chunking": """
WITH s AS (
  SELECT doc_id, text,
    unnest(generate_series(1, greatest(1, length(text) - 40), 160))
      AS chunk_start
  FROM documents
)
SELECT doc_id,
  CAST((chunk_start - 1) // 160 AS BIGINT) AS chunk_index,
  CAST(chunk_start AS BIGINT) AS chunk_start,
  substring(text, chunk_start, 200) AS chunk_text,
  CAST(length(substring(text, chunk_start, 200)) AS BIGINT) AS chunk_len
FROM s
""",
    "sequence_packing": """
WITH RECURSIVE d AS (
  SELECT source, doc_id,
    CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT) AS n_tokens,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
p AS (
  SELECT source, doc_id, rn, n_tokens, CAST(0 AS BIGINT) AS bin_id,
    n_tokens AS fill
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.source, d.doc_id, d.rn, d.n_tokens,
    CASE WHEN p.fill + d.n_tokens > 512 THEN p.bin_id + 1
         ELSE p.bin_id END AS bin_id,
    CASE WHEN p.fill + d.n_tokens > 512 THEN d.n_tokens
         ELSE p.fill + d.n_tokens END AS fill
  FROM p JOIN d ON d.source = p.source AND d.rn = p.rn + 1
)
SELECT source, CAST(doc_id AS BIGINT) AS doc_id, n_tokens, bin_id FROM p
""",
    "supplier_part_pagerank": """
WITH e0 AS (
  SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
    's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM lineitem
  WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
),
e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
n AS (SELECT DISTINCT src AS node FROM e),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS r FROM n),
r1 AS (
  SELECT n.node, 0.15 + 0.85 * COALESCE(c.mass, 0) AS r
  FROM n LEFT JOIN (
    SELECT e.dst AS node, SUM(r0.r / deg.outdeg) AS mass
    FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src GROUP BY e.dst
  ) c USING (node)
),
r2 AS (
  SELECT n.node, 0.15 + 0.85 * COALESCE(c.mass, 0) AS r
  FROM n LEFT JOIN (
    SELECT e.dst AS node, SUM(r1.r / deg.outdeg) AS mass
    FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src GROUP BY e.dst
  ) c USING (node)
),
r3 AS (
  SELECT n.node, 0.15 + 0.85 * COALESCE(c.mass, 0) AS r
  FROM n LEFT JOIN (
    SELECT e.dst AS node, SUM(r2.r / deg.outdeg) AS mass
    FROM e JOIN deg USING (src) JOIN r2 ON r2.node = e.src GROUP BY e.dst
  ) c USING (node)
)
SELECT node, ROUND(r, 6) AS rank FROM r3
ORDER BY ROUND(r, 6) DESC, node LIMIT 500
""",
    "kmeans_clusters": f"""
WITH {_EMB_VALID}, pts AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
    list_transform(embedding,
      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM emb_valid
),
init AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, q AS c
  FROM pts ORDER BY vec_id LIMIT 8
),
d1 AS (
  SELECT p.vec_id, p.q, i.cid,
    list_sum(list_transform(generate_series(1, len(p.q)),
      j -> (p.q[j] - i.c[j]) * (p.q[j] - i.c[j]))) AS dist,
    row_number() OVER (PARTITION BY p.vec_id
      ORDER BY list_sum(list_transform(generate_series(1, len(p.q)),
        j -> (p.q[j] - i.c[j]) * (p.q[j] - i.c[j]))), i.cid) AS rn
  FROM pts p CROSS JOIN init i
),
a1 AS (SELECT vec_id, q, cid FROM d1 WHERE rn = 1),
l1 AS (
  SELECT cid, unnest(generate_series(1, len(q))) AS dim, unnest(q) AS val
  FROM a1
),
u1 AS (
  SELECT cid, dim,
    CAST(round(CAST(SUM(val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cval
  FROM l1 GROUP BY cid, dim
),
c1 AS (SELECT cid, list(cval ORDER BY dim) AS c FROM u1 GROUP BY cid),
d2 AS (
  SELECT p.vec_id, i.cid,
    list_sum(list_transform(generate_series(1, len(p.q)),
      j -> (p.q[j] - i.c[j]) * (p.q[j] - i.c[j]))) AS dist,
    row_number() OVER (PARTITION BY p.vec_id
      ORDER BY list_sum(list_transform(generate_series(1, len(p.q)),
        j -> (p.q[j] - i.c[j]) * (p.q[j] - i.c[j]))), i.cid) AS rn
  FROM pts p CROSS JOIN c1 i
)
SELECT vec_id, CAST(cid AS BIGINT) AS cid, CAST(dist AS BIGINT) AS dist2
FROM d2 WHERE rn = 1
""",
    "dsir_selection": rf"""
WITH toks AS (
  SELECT doc_id, (source = 'src0') AS t,
    unnest(string_split(text, ' ')) AS w
  FROM documents
),
bt AS (
  SELECT doc_id, t,
    ('0x' || substring(md5(w), 1, 8))::BIGINT % 1024 AS b
  FROM toks
),
counts AS (
  SELECT b,
    SUM(CASE WHEN t THEN 1 ELSE 0 END) AS tc,
    SUM(CASE WHEN t THEN 0 ELSE 1 END) AS rc
  FROM bt GROUP BY b
),
totals AS (SELECT SUM(tc) AS tt, SUM(rc) AS rt FROM counts),
w AS (
  SELECT b,
    ({fixed_ln_micro_sql('tc + 1', 'tt + 1024', 1000)}
     + {fixed_ln_micro_sql('rt + 1024', 'rc + 1', 1000)}) AS lw
  FROM counts, totals
)
SELECT bt.doc_id, COUNT(*) AS n_tokens,
  CAST(SUM(w.lw) AS BIGINT) AS importance_scaled,
  (SUM(w.lw) > 0) AS selected
FROM bt JOIN w ON bt.b = w.b
WHERE NOT bt.t
GROUP BY bt.doc_id
""",
    "tokenizer_fertility": r"""
WITH per_doc AS (
  SELECT lang, source,
    len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe,
    len(string_split(text, ' ')) AS n_words,
    octet_length(encode(text)) AS n_bytes
  FROM documents
)
SELECT lang, source, COUNT(*) AS n_docs,
  CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
  CAST((2000000 * SUM(n_bpe) + SUM(n_words)) // (2 * SUM(n_words))
       AS DOUBLE) / 1000000.0 AS fertility,
  CAST((2000000 * SUM(n_bytes) + SUM(n_bpe)) // (2 * SUM(n_bpe))
       AS DOUBLE) / 1000000.0 AS bytes_per_token
FROM per_doc GROUP BY lang, source
""",
    "semantic_dedup": f"""
WITH {_EMB_VALID}, pts AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
    list_transform(embedding,
      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM emb_valid
),
init AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, q AS c
  FROM pts ORDER BY vec_id LIMIT 8
),
d1 AS (
  SELECT p.vec_id, p.q, i.cid,
    row_number() OVER (PARTITION BY p.vec_id
      ORDER BY list_sum(list_transform(generate_series(1, len(p.q)),
        j -> (p.q[j] - i.c[j]) * (p.q[j] - i.c[j]))), i.cid) AS rn
  FROM pts p CROSS JOIN init i
),
a1 AS (SELECT vec_id, q, cid FROM d1 WHERE rn = 1),
l1 AS (
  SELECT cid, unnest(generate_series(1, len(q))) AS dim, unnest(q) AS val
  FROM a1
),
u1 AS (
  SELECT cid, dim,
    CAST(round(CAST(SUM(val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cval
  FROM l1 GROUP BY cid, dim
),
c1 AS (SELECT cid, list(cval ORDER BY dim) AS c FROM u1 GROUP BY cid),
d2 AS (
  SELECT p.vec_id, p.q, i.cid,
    row_number() OVER (PARTITION BY p.vec_id
      ORDER BY list_sum(list_transform(generate_series(1, len(p.q)),
        j -> (p.q[j] - i.c[j]) * (p.q[j] - i.c[j]))), i.cid) AS rn
  FROM pts p CROSS JOIN c1 i
),
asg AS (
  SELECT vec_id, q, cid,
    list_sum(list_transform(q, x -> x * x)) AS n2
  FROM d2 WHERE rn = 1
),
dom AS (
  SELECT DISTINCT b.vec_id
  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE list_sum(list_transform(generate_series(1, len(a.q)),
          j -> a.q[j] * b.q[j])) >= 0
    AND 400 * list_sum(list_transform(generate_series(1, len(a.q)),
          j -> a.q[j] * b.q[j]))
        * list_sum(list_transform(generate_series(1, len(a.q)),
          j -> a.q[j] * b.q[j]))
        >= 49 * a.n2 * b.n2
)
SELECT asg.vec_id, CAST(asg.cid AS BIGINT) AS cid,
  (dom.vec_id IS NOT NULL) AS dropped
FROM asg LEFT JOIN dom ON asg.vec_id = dom.vec_id
""",
    "variant_props_profile": """
-- TRY_CAST matches the Spark side's try_variant_get (NULL on type miss);
-- the json_valid shadow matches try_parse_json's NULL variant on
-- MALFORMED json (DuckDB's ->> hard-errors there)
WITH ev AS (
  SELECT event_type,
    CASE WHEN json_valid(props) THEN props END AS props
  FROM events
)
SELECT event_type, COUNT(*) AS n_events,
  CAST(SUM(TRY_CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
  MIN(TRY_CAST(props->>'$.k' AS BIGINT)) AS min_k,
  MAX(TRY_CAST(props->>'$.k' AS BIGINT)) AS max_k,
  COUNT(DISTINCT TRY_CAST(props->>'$.k' AS BIGINT)) AS n_distinct_k
FROM ev GROUP BY event_type
""",
    "snapshot_upsert": """
WITH base_r AS (
  SELECT user_id, event_id, event_type, value,
    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND event_id < 500
),
base AS (
  SELECT CAST(user_id AS VARCHAR) AS ledger_key, event_id, event_type, value
  FROM base_r WHERE rn = 1 AND event_type <> 'error'
),
dch AS (
  SELECT CAST(user_id AS VARCHAR) AS ledger_key,
    CASE WHEN event_type = 'signup' THEN 0
         WHEN event_type = 'error' THEN 2 ELSE 1 END AS ct,
    event_id, event_type, value
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND event_id >= 500
),
dagg AS (
  SELECT ledger_key,
    max_by(event_id, event_id) AS event_id,
    max_by(event_type, event_id) AS event_type,
    max_by(value, event_id) AS value,
    min_by(ct, event_id) AS first_ct,
    max_by(ct, event_id) AS last_ct
  FROM dch GROUP BY ledger_key
),
delta AS (
  SELECT ledger_key, event_id, event_type, value, (last_ct = 2) AS deleted
  FROM dagg WHERE NOT (first_ct = 0 AND last_ct = 2)
)
SELECT COALESCE(b.ledger_key, d.ledger_key) AS ledger_key,
  CASE WHEN d.ledger_key IS NOT NULL THEN d.event_id
       ELSE b.event_id END AS last_event_id,
  CASE WHEN d.ledger_key IS NOT NULL THEN d.event_type
       ELSE b.event_type END AS last_event_type,
  CASE WHEN d.ledger_key IS NOT NULL THEN d.value
       ELSE b.value END AS last_value
FROM base b FULL OUTER JOIN delta d ON b.ledger_key = d.ledger_key
WHERE NOT COALESCE(d.deleted, FALSE)
""",
    "waveform_windows": """
-- Little-endian SIGNED int16 reinterpretation, mirroring the Spark
-- operator exactly: s = u - 65536 when u >= 32768, peak = max(|s|),
-- zero_crossings = sign flips between consecutive NONZERO samples within
-- a window.  BYTE-level via hex(encode(text)) — sample k is bytes
-- (2k, 2k+1) of the utf-8 payload, exact for any unicode text.
WITH d AS (
  SELECT doc_id, hex(encode(text)) AS h,
    (octet_length(encode(text)) // 2) AS n_samp
  FROM documents WHERE octet_length(encode(text)) >= 2
),
sm AS (
  SELECT doc_id, k,
    ('0x' || substr(h, 4 * k + 1, 2))::INT
      + 256 * ('0x' || substr(h, 4 * k + 3, 2))::INT AS u
  FROM (SELECT doc_id, h, unnest(generate_series(0, n_samp - 1)) AS k
        FROM d)
),
sg AS (
  SELECT doc_id, k, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
  FROM sm
),
cr AS (
  SELECT doc_id, k // 256 AS widx,
    CASE WHEN lag(CASE WHEN s > 0 THEN 1 ELSE -1 END)
           OVER (PARTITION BY doc_id, k // 256 ORDER BY k)
         <> (CASE WHEN s > 0 THEN 1 ELSE -1 END) THEN 1 ELSE 0 END AS c
  FROM sg WHERE s <> 0
),
cc AS (
  SELECT doc_id, widx, CAST(SUM(c) AS BIGINT) AS nc
  FROM cr GROUP BY doc_id, widx
)
SELECT g.doc_id, CAST(g.k // 256 AS BIGINT) AS window_idx,
  COUNT(*) AS n_samples,
  CAST(SUM(g.s * g.s) // COUNT(*) AS BIGINT) AS mean_square,
  CAST(MAX(ABS(g.s)) AS BIGINT) AS peak_abs,
  COALESCE(MAX(cc.nc), 0) AS zero_crossings
FROM sg g
LEFT JOIN cc ON g.doc_id = cc.doc_id AND g.k // 256 = cc.widx
GROUP BY g.doc_id, g.k // 256
""",
    "weighted_priority_sample": """
WITH h AS (
  SELECT doc_id, n_chars,
    ('0x' || substring(md5(text), 1, 15))::BIGINT + 1 AS hv
  FROM documents
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
  CAST(n_chars AS DOUBLE) / CAST(hv AS DOUBLE) AS priority
FROM h ORDER BY priority DESC, doc_id LIMIT 200
""",
    "sessionize_skew_safe": f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
),
{_SESSIONS}
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
  MIN(ts_us) AS session_start_us,
  MAX(ts_us) AS session_end_us,
  MAX(ts_us) - MIN(ts_us) AS duration_us,
  COUNT(*) AS n_events
FROM sess GROUP BY user_id, session_idx
""",
    "inverted_index": """
WITH t AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
  FROM documents
)
SELECT token, COUNT(*) AS df,
  list_aggregate(list(doc_id ORDER BY doc_id), 'string_agg', ',') AS postings
FROM t GROUP BY token
HAVING COUNT(*) BETWEEN 2 AND 100
""",
    "join_key_skew_profile": """
WITH c AS (
  SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id
),
top AS (
  SELECT SUM(c) AS top_sum, MAX(c) AS top1
  FROM (SELECT c FROM c ORDER BY c DESC, user_id LIMIT 10)
),
tot AS (SELECT COUNT(*) AS n_keys, SUM(c) AS n_rows FROM c)
SELECT CAST(n_keys AS BIGINT) AS n_keys, CAST(n_rows AS BIGINT) AS n_rows,
  CAST(top1 AS BIGINT) AS max_key_rows,
  (((top1 * 2000000 + n_rows) // (2 * n_rows)) / 1000000.0) AS top1_share,
  (((top_sum * 2000000 + n_rows) // (2 * n_rows)) / 1000000.0) AS top10_share
FROM tot CROSS JOIN top
""",
    "metrics_unpivot": """
WITH w AS (
  SELECT o_orderpriority,
    CAST(COUNT(*) AS DOUBLE) AS n_orders,
    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 3) AS DOUBLE)
      AS total_price,
    MAX(o_totalprice) AS max_price
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM w
UNION ALL
SELECT o_orderpriority, 'total_price', total_price FROM w
UNION ALL
SELECT o_orderpriority, 'max_price', max_price FROM w
""",
    "near_dup_editdist": f"""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
sh AS (
  SELECT doc_id,
    {_SHINGLE_SET} AS shingle_set
  FROM docs
),
sig AS (
  SELECT doc_id, shingle_set,
    {_MINHASH_SIG} AS ms
  FROM sh WHERE len(shingle_set) > 0
),
banded AS (
  SELECT doc_id, b AS band_id,
    {_LSH_BAND_KEY} AS band_key
  FROM sig, {_LSH_BANDS}
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.doc_id < r.doc_id
),
pairs AS (
SELECT id_a, id_b,
  CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS DOUBLE)
    / CAST(len(list_distinct(list_concat(a.shingle_set, b.shingle_set))) AS DOUBLE) AS jaccard
FROM cand
JOIN sh a ON a.doc_id = id_a
JOIN sh b ON b.doc_id = id_b
WHERE CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS DOUBLE)
    / CAST(len(list_distinct(list_concat(a.shingle_set, b.shingle_set))) AS DOUBLE) >= 0.5
)
SELECT p.id_a, p.id_b, p.jaccard,
  CAST(levenshtein(substring(da.text, 1, 60), substring(db.text, 1, 60))
       AS BIGINT) AS prefix_editdist
FROM pairs p
JOIN documents da ON da.doc_id = p.id_a
JOIN documents db ON db.doc_id = p.id_b
""",
    "value_outliers": """
WITH st AS (
  SELECT event_type, COUNT(*) AS n,
    SUM(CAST(value AS DECIMAL(10,4))) AS s,
    SUM(CAST(value AS DECIMAL(10,4)) * CAST(value AS DECIMAL(10,4))) AS ss
  FROM events GROUP BY event_type
),
j AS (
  SELECT e.event_id, e.event_type, e.value,
    CAST(st.s AS DOUBLE) / st.n AS mean,
    CAST(st.ss AS DOUBLE) / st.n
      - (CAST(st.s AS DOUBLE) / st.n) * (CAST(st.s AS DOUBLE) / st.n) AS var
  FROM events e JOIN st USING (event_type)
)
SELECT event_id, event_type, value,
  ROUND((value - mean) / sqrt(var), 6) AS z
FROM j WHERE var > 0 AND abs((value - mean) / sqrt(var)) > 3
""",
    "decile_transition_matrix": """
WITH a AS (
  SELECT o_custkey,
    ntile(10) OVER (ORDER BY SUM(CAST(o_totalprice AS DECIMAL(18,4))),
                    o_custkey) AS d_1996
  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY o_custkey
),
b AS (
  SELECT o_custkey,
    ntile(10) OVER (ORDER BY SUM(CAST(o_totalprice AS DECIMAL(18,4))),
                    o_custkey) AS d_1997
  FROM orders WHERE year(o_orderdate) = 1997 GROUP BY o_custkey
)
SELECT CAST(d_1996 AS BIGINT) AS d_1996, CAST(d_1997 AS BIGINT) AS d_1997,
  COUNT(*) AS n_customers
FROM a JOIN b USING (o_custkey)
GROUP BY d_1996, d_1997
""",
}

# Entity-transform oracle twins (entity_oracles.py) — same dict, kept in a
# sibling module so the derivation-formula lockstep with transforms/derive.py
# is reviewable side by side.
ORACLES["segment_dedup_reconstruct"] = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), seg0 AS (
  SELECT doc_id, unnest(list_transform(range(CAST(ceil(len(words) / 8.0) AS INT)),
    i -> {'pos': i, 'segment': array_to_string(words[i*8+1 : i*8+8], ' ')})) AS s
  FROM w
), seg AS (
  SELECT doc_id, s.pos AS pos, s.segment AS segment,
    doc_id * 1048576 + s.pos AS rank
  FROM seg0
), winners AS (
  SELECT segment, min(rank) AS min_rank FROM seg GROUP BY segment
), kept AS (
  SELECT seg.doc_id, seg.pos, seg.segment
  FROM seg JOIN winners ON seg.segment = winners.segment
  WHERE seg.rank = winners.min_rank
), totals AS (
  SELECT doc_id, count(*) AS n_segments FROM seg GROUP BY doc_id
), rebuilt AS (
  SELECT doc_id, count(*) AS n_kept,
    string_agg(segment, ' ' ORDER BY pos) AS dedup_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, t.n_segments,
  COALESCE(r.n_kept, 0) AS n_kept,
  COALESCE(r.dedup_text, '') AS dedup_text
FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
"""

from stellar_etl_spark.entity_oracles import ENTITY_ORACLES  # noqa: E402

ORACLES.update(ENTITY_ORACLES)

# round-3 additions (keys appended after the entity merge, matching the
# registry tail order in queries.py)

ORACLES["media_decode_image"] = """
WITH d AS (
  SELECT doc_id, (3 * doc_id) % 251 AS a FROM documents
)
SELECT doc_id,
  CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
  CAST(3 AS INTEGER) AS channels,
  CAST(192 AS BIGINT) AS n_pixel_bytes,
  -- sum of (a+i) mod 251 over i in [0,192): wraps at most once
  CAST(CASE WHEN a + 192 <= 251
    THEN 192 * a + (192 * 191) / 2
    ELSE (251 - a) * (a + 250) / 2
         + (192 - (251 - a) - 1) * (192 - (251 - a)) / 2
  END AS BIGINT) AS pixel_sum,
  CAST(a AS INTEGER) AS pixel_first,
  CAST((a + 191) % 251 AS INTEGER) AS pixel_last
FROM d
"""

ORACLES["media_decode_audio"] = """
WITH d AS (
  SELECT doc_id, (7 * doc_id) % 2001 AS b FROM documents
)
SELECT doc_id,
  CAST(8000 AS INTEGER) AS sample_rate,
  CAST(1 AS INTEGER) AS n_channels,
  CAST(64 AS BIGINT) AS n_samples,
  -- sum of ((b+i) mod 2001) - 1000 over i in [0,64): wraps at most once
  CAST(CASE WHEN b + 64 <= 2001
    THEN 64 * b + (64 * 63) / 2
    ELSE (2001 - b) * (b + 2000) / 2
         + (64 - (2001 - b) - 1) * (64 - (2001 - b)) / 2
  END - 64000 AS BIGINT) AS sample_sum,
  CAST(CASE WHEN b + 64 <= 2001 THEN b - 1000 ELSE -1000 END
       AS INTEGER) AS sample_min,
  CAST(CASE WHEN b + 64 <= 2001 THEN b - 937 ELSE 1000 END
       AS INTEGER) AS sample_max
FROM d
"""

ORACLES["pq_ann_search"] = f"""
WITH {_EMB_VALID}, pts AS (
  SELECT CAST(vec_id AS BIGINT) AS vid,
    list_transform(embedding,
      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM emb_valid
),
spts AS (
  SELECT vid, s.sub, q[s.sub*8+1 : s.sub*8+8] AS sq
  FROM pts, (SELECT unnest(generate_series(0, 7)) AS sub) s
),
init AS (
  SELECT sub, row_number() OVER (PARTITION BY sub ORDER BY vid) - 1 AS cid,
         sq AS c
  FROM spts QUALIFY row_number() OVER (PARTITION BY sub ORDER BY vid) <= 16
),
d1 AS (
  SELECT p.vid, p.sub, p.sq, i.cid,
    row_number() OVER (PARTITION BY p.vid, p.sub
      ORDER BY list_sum(list_transform(generate_series(1, 8),
        j -> (p.sq[j] - i.c[j]) * (p.sq[j] - i.c[j]))), i.cid) AS rn
  FROM spts p JOIN init i USING (sub)
),
a1 AS (SELECT vid, sub, sq, cid FROM d1 WHERE rn = 1),
l1 AS (
  SELECT sub, cid, unnest(generate_series(1, 8)) AS dim, unnest(sq) AS val
  FROM a1
),
u1 AS (
  SELECT sub, cid, dim,
    CAST(round(CAST(SUM(val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cval
  FROM l1 GROUP BY sub, cid, dim
),
c1 AS (SELECT sub, cid, list(cval ORDER BY dim) AS c FROM u1 GROUP BY sub, cid),
d2 AS (
  SELECT p.vid, p.sub, i.cid,
    row_number() OVER (PARTITION BY p.vid, p.sub
      ORDER BY list_sum(list_transform(generate_series(1, 8),
        j -> (p.sq[j] - i.c[j]) * (p.sq[j] - i.c[j]))), i.cid) AS rn
  FROM spts p JOIN c1 i USING (sub)
),
a2 AS (SELECT vid, sub, cid FROM d2 WHERE rn = 1),
qv AS (SELECT sub, sq AS qq FROM spts WHERE vid = 0),
tab AS (
  SELECT c1.sub, c1.cid,
    list_sum(list_transform(generate_series(1, 8),
      j -> (qv.qq[j] - c1.c[j]) * (qv.qq[j] - c1.c[j]))) AS td
  FROM c1 JOIN qv USING (sub)
),
adc AS (
  SELECT a2.vid, CAST(SUM(t.td) AS BIGINT) AS adc_dist2,
    string_agg(CAST(a2.cid AS VARCHAR), '-' ORDER BY a2.sub) AS codes
  FROM a2 JOIN tab t USING (sub, cid)
  GROUP BY a2.vid
)
SELECT vid AS vec_id, adc_dist2, codes
FROM adc ORDER BY adc_dist2, vid LIMIT 20
"""

# one BPE step: state(w,freq,seq) -> merge row + next state (self-pairs
# excluded; double replace reaches the chain fixpoint — see
# operators/text.py bpe_learn)
_BPE_STEP = """
p{K} AS (
  SELECT l, r, SUM(freq) AS cnt FROM (
    SELECT s.freq,
      toks[i] AS l, toks[i+1] AS r
    FROM (SELECT freq, string_split(trim(seq), ' ') AS toks FROM s{J}) s,
         LATERAL (SELECT unnest(generate_series(1, len(s.toks) - 1)) AS i) t
    WHERE toks[i] <> toks[i+1]
  ) GROUP BY l, r
),
b{K} AS (SELECT l, r, cnt FROM p{K} ORDER BY cnt DESC, l, r LIMIT 1),
s{K} AS (
  SELECT w, freq,
    replace(replace(seq, ' ' || l || ' ' || r || ' ', ' ' || l || r || ' '),
            ' ' || l || ' ' || r || ' ', ' ' || l || r || ' ') AS seq
  FROM s{J} CROSS JOIN b{K}
),
row{K} AS (
  SELECT {K} AS step, b.l AS "left", b.r AS "right", b.l || b.r AS merged,
    b.cnt AS pair_count,
    (SELECT SUM(len(string_split(trim(seq), ' ')) * freq) FROM s{K})
      AS corpus_tokens_after
  FROM b{K} b
)
"""

ORACLES["bpe_learn_merges"] = (
    """
WITH s0 AS (
  SELECT w, COUNT(*) AS freq,
    ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seq
  FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
    FROM documents
  ) WHERE w <> ''
  GROUP BY w
),
"""
    + ",\n".join(
        _BPE_STEP.format(K=k, J=k - 1).strip() for k in (1, 2, 3)
    )
    + """
SELECT CAST(step AS BIGINT) AS step, "left", "right", merged,
  CAST(pair_count AS BIGINT) AS pair_count,
  CAST(corpus_tokens_after AS BIGINT) AS corpus_tokens_after
FROM (SELECT * FROM row1 UNION ALL SELECT * FROM row2
      UNION ALL SELECT * FROM row3)
"""
)

ORACLES["incremental_dedup"] = f"""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
sh AS (
  SELECT doc_id, (doc_id % 7 = 3) AS is_new,
    {_SHINGLE_SET} AS shingle_set
  FROM docs
),
sig AS (
  SELECT doc_id, is_new, shingle_set,
    {_MINHASH_SIG} AS ms
  FROM sh WHERE len(shingle_set) > 0
),
banded AS (
  SELECT doc_id, is_new, b AS band_id,
    {_LSH_BAND_KEY} AS band_key
  FROM sig, {_LSH_BANDS}
),
cand AS (
  SELECT DISTINCT n.doc_id AS nid, i.doc_id AS iid
  FROM banded n JOIN banded i
    ON n.band_id = i.band_id AND n.band_key = i.band_key
  WHERE n.is_new AND NOT i.is_new
),
verified AS (
  SELECT nid, iid,
    CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.shingle_set, b.shingle_set)))
             AS DOUBLE) AS jaccard
  FROM cand
  JOIN sh a ON a.doc_id = nid
  JOIN sh b ON b.doc_id = iid
  WHERE CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.shingle_set, b.shingle_set)))
             AS DOUBLE) >= 0.5
),
best AS (
  SELECT nid, iid, jaccard,
    row_number() OVER (PARTITION BY nid ORDER BY jaccard DESC, iid) AS rn
  FROM verified
)
SELECT d.doc_id,
  (b.iid IS NOT NULL) AS is_dup,
  b.iid AS dup_of,
  b.jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id % 7 = 3) d
LEFT JOIN (SELECT nid, iid, jaccard FROM best WHERE rn = 1) b
  ON b.nid = d.doc_id
"""

ORACLES["epoch_shuffle"] = """
WITH k AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':7') AS key
  FROM documents
)
SELECT
  CAST((('0x' || substring(key, 1, 8))::BIGINT % 8) AS INTEGER) AS shard,
  CAST(row_number() OVER (
    PARTITION BY ('0x' || substring(key, 1, 8))::BIGINT % 8
    ORDER BY key, doc_id) - 1 AS BIGINT) AS position,
  doc_id
FROM k
"""

ORACLES["bpe_encode_docs"] = (
    """
WITH s0 AS (
  SELECT w, COUNT(*) AS freq,
    ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seq
  FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
    FROM documents
  ) WHERE w <> ''
  GROUP BY w
),
"""
    + ",\n".join(
        _BPE_STEP.format(K=k, J=k - 1).strip() for k in (1, 2, 3)
    )
    + """,
word_tokens AS (
  SELECT w, length(w) AS n_chars,
    len(string_split(trim(seq), ' ')) AS n_tokens
  FROM s3
),
doc_words AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
  FROM documents
)
SELECT d.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_words,
  CAST(SUM(t.n_chars) AS BIGINT) AS n_chars,
  CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens
FROM doc_words d JOIN word_tokens t USING (w)
WHERE d.w <> ''
GROUP BY d.doc_id
"""
)

ORACLES["length_bucket_batches"] = """
WITH t AS (
  SELECT least(len(string_split(text, ' ')), 1024) AS n FROM documents
),
b AS (
  SELECT n,
    CASE WHEN n <= 1 THEN 1 WHEN n <= 2 THEN 2 WHEN n <= 4 THEN 4
         WHEN n <= 8 THEN 8 WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
         WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256
         WHEN n <= 512 THEN 512 ELSE 1024 END AS bucket
  FROM t
),
agg AS (
  SELECT CAST(bucket AS BIGINT) AS bucket,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n) AS BIGINT) AS real_tokens
  FROM b GROUP BY bucket
)
SELECT bucket, n_docs, real_tokens,
  bucket * n_docs AS padded_tokens,
  -- exact_ratio_round6 twin: scaled-integer half-away division
  CAST(CASE WHEN real_tokens >= 0 THEN 1 ELSE -1 END AS DOUBLE)
    * CAST(((abs(real_tokens) * 2000000 + bucket * n_docs)
            - ((abs(real_tokens) * 2000000 + bucket * n_docs)
               % (bucket * n_docs * 2))) AS DOUBLE)
    / CAST(bucket * n_docs * 2 AS DOUBLE) / 1000000.0 AS fill_ratio
FROM agg
"""

ORACLES["concat_chunk_blocks"] = """
WITH d AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS len
  FROM documents WHERE length(text) > 0
),
placed AS (
  SELECT doc_id, len,
    COALESCE(SUM(len) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
  FROM d
),
blocks AS (
  SELECT doc_id, s, s + len AS e,
    unnest(generate_series(CAST(s // 2048 AS BIGINT),
                           CAST((s + len - 1) // 2048 AS BIGINT))) AS block_id
  FROM placed
)
SELECT CAST(block_id AS BIGINT) AS block_id,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(least(e, (block_id + 1) * 2048)
         - greatest(s, block_id * 2048)) AS BIGINT) AS n_chars,
  MIN(doc_id) AS first_doc,
  MAX(doc_id) AS last_doc
FROM blocks GROUP BY block_id
"""

ORACLES["dup_span_detection"] = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(w[i:i+7], ' ')) AS g
  FROM d, LATERAL unnest(generate_series(1, len(w) - 7)) AS t(i)
  WHERE len(w) >= 8
),
dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) > 1),
hits AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
flagged AS (
  SELECT doc_id, pos,
    CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS new_island
  FROM (
    SELECT doc_id, pos,
      MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
    FROM hits
  )
),
isl AS (
  SELECT doc_id, pos,
    SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
),
spans AS (
  SELECT doc_id, island, MAX(pos + 8) - MIN(pos) AS span_words
  FROM isl GROUP BY doc_id, island
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_spans,
  CAST(SUM(span_words) AS BIGINT) AS dup_words
FROM spans GROUP BY doc_id
"""

ORACLES["token_budget_mixture"] = """
WITH s AS (
  SELECT source, doc_id,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, n_chars
  FROM documents
),
c AS (
  SELECT source, doc_id, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
      ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM s
)
SELECT source, doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens <= 600
"""

ORACLES["cluster_keep_best"] = f"""
WITH RECURSIVE docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
sh AS (
  SELECT doc_id,
    {_SHINGLE_SET} AS shingle_set
  FROM docs
),
sig AS (
  SELECT doc_id, shingle_set,
    {_MINHASH_SIG} AS ms
  FROM sh WHERE len(shingle_set) > 0
),
banded AS (
  SELECT doc_id, b AS band_id,
    {_LSH_BAND_KEY} AS band_key
  FROM sig, {_LSH_BANDS}
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.doc_id < r.doc_id
),
edges AS (
  SELECT id_a, id_b FROM cand
  JOIN sh a ON a.doc_id = id_a
  JOIN sh b ON b.doc_id = id_b
  WHERE CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.shingle_set, b.shingle_set))) AS DOUBLE) >= 0.5
),
und AS (
  SELECT id_a AS s, id_b AS d FROM edges
  UNION ALL SELECT id_b, id_a FROM edges
),
reach(node, label) AS (
  SELECT DISTINCT s, s FROM und
  UNION
  SELECT u.s, r.label FROM und u JOIN reach r ON u.d = r.node
),
clusters AS (
  SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
),
member AS (
  SELECT c.cluster_id, c.doc_id, d.n_chars
  FROM clusters c JOIN documents d USING (doc_id)
)
SELECT cluster_id, survivor_doc_id, survivor_chars, cluster_size FROM (
  SELECT cluster_id, doc_id AS survivor_doc_id, n_chars AS survivor_chars,
    CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
    row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
  FROM member
) WHERE rn = 1
"""

ORACLES["pca_power_iteration"] = f"""
WITH {_EMB_VALID}, base AS (
  SELECT [CAST(round(CAST(x AS DOUBLE) * 100) AS BIGINT) FOR x IN embedding] AS q
  FROM emb_valid WHERE len(embedding) = 64
),
dims AS (SELECT unnest(generate_series(1, 64)) AS i),
g AS (
  SELECT d1.i - 1 AS i, d2.i - 1 AS j,
    CAST(SUM(q[d1.i] * q[d2.i]) AS HUGEINT) AS g
  FROM base, dims d1, dims d2
  GROUP BY d1.i, d2.i
),
v1 AS (SELECT i, CAST(SUM(g) AS HUGEINT) AS val FROM g GROUP BY i),
v2 AS (
  SELECT g.i, CAST(SUM(g.g * CAST(v1.val AS HUGEINT)) AS HUGEINT) AS val
  FROM g JOIN v1 ON g.j = v1.i GROUP BY g.i
),
v3 AS (
  SELECT g.i, CAST(SUM(g.g * CAST(v2.val AS HUGEINT)) AS HUGEINT) AS val
  FROM g JOIN v2 ON g.j = v2.i GROUP BY g.i
),
packed AS (
  SELECT list(i ORDER BY i) AS idx, list(CAST(val AS DOUBLE) ORDER BY i) AS vals
  FROM v3
),
n AS (
  SELECT idx, vals,
    sqrt(list_reduce([v * v FOR v IN vals], (a, b) -> a + b)) AS nrm
  FROM packed
)
SELECT CAST(idx[k] AS INT) AS i, round(vals[k] / nrm, 6) AS loading
FROM n, LATERAL unnest(generate_series(1, 64)) AS t(k)
"""

ORACLES["source_contamination"] = f"""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
sh AS (
  SELECT doc_id,
    {_SHINGLE_SET} AS shingle_set
  FROM docs
),
sig AS (
  SELECT doc_id, shingle_set,
    {_MINHASH_SIG} AS ms
  FROM sh WHERE len(shingle_set) > 0
),
banded AS (
  SELECT doc_id, b AS band_id,
    {_LSH_BAND_KEY} AS band_key
  FROM sig, {_LSH_BANDS}
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.doc_id < r.doc_id
),
pairs AS (
  SELECT id_a, id_b FROM cand
  JOIN sh a ON a.doc_id = id_a
  JOIN sh b ON b.doc_id = id_b
  WHERE CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.shingle_set, b.shingle_set))) AS DOUBLE) >= 0.5
)
SELECT least(da.source, db.source) AS source_a,
  greatest(da.source, db.source) AS source_b,
  CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs
JOIN documents da ON da.doc_id = id_a
JOIN documents db ON db.doc_id = id_b
GROUP BY 1, 2
"""

ORACLES["feature_correlations"] = """
WITH m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS s_q,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS s_e,
    CAST(SUM(CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) AS s_d,
    CAST(SUM(CAST(l_tax AS DECIMAL(6,4))) AS DOUBLE) AS s_t,
    CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS p_qq,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS p_ee,
    CAST(SUM(CAST(l_discount AS DECIMAL(6,4)) * CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) AS p_dd,
    CAST(SUM(CAST(l_tax AS DECIMAL(6,4)) * CAST(l_tax AS DECIMAL(6,4))) AS DOUBLE) AS p_tt,
    CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS p_qe,
    CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) AS p_qd,
    CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_tax AS DECIMAL(6,4))) AS DOUBLE) AS p_qt,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) AS p_ed,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_tax AS DECIMAL(6,4))) AS DOUBLE) AS p_et,
    CAST(SUM(CAST(l_discount AS DECIMAL(6,4)) * CAST(l_tax AS DECIMAL(6,4))) AS DOUBLE) AS p_dt
  FROM lineitem
)
SELECT feature_a, feature_b, pearson_r FROM (
  SELECT 'quantity' AS feature_a, 'extendedprice' AS feature_b,
    round((n * p_qe - s_q * s_e) / (sqrt(n * p_qq - s_q * s_q) * sqrt(n * p_ee - s_e * s_e)), 6) AS pearson_r FROM m
  UNION ALL
  SELECT 'quantity', 'discount',
    round((n * p_qd - s_q * s_d) / (sqrt(n * p_qq - s_q * s_q) * sqrt(n * p_dd - s_d * s_d)), 6) FROM m
  UNION ALL
  SELECT 'quantity', 'tax',
    round((n * p_qt - s_q * s_t) / (sqrt(n * p_qq - s_q * s_q) * sqrt(n * p_tt - s_t * s_t)), 6) FROM m
  UNION ALL
  SELECT 'extendedprice', 'discount',
    round((n * p_ed - s_e * s_d) / (sqrt(n * p_ee - s_e * s_e) * sqrt(n * p_dd - s_d * s_d)), 6) FROM m
  UNION ALL
  SELECT 'extendedprice', 'tax',
    round((n * p_et - s_e * s_t) / (sqrt(n * p_ee - s_e * s_e) * sqrt(n * p_tt - s_t * s_t)), 6) FROM m
  UNION ALL
  SELECT 'discount', 'tax',
    round((n * p_dt - s_d * s_t) / (sqrt(n * p_dd - s_d * s_d) * sqrt(n * p_tt - s_t * s_t)), 6) FROM m
)
"""

ORACLES["dataset_diff"] = """
WITH cur AS (
  SELECT doc_id, source, md5(text) AS h FROM documents
),
prev AS (
  SELECT doc_id, source,
    CASE WHEN doc_id % 10 = 3 THEN md5('old:' || text) ELSE md5(text) END AS h
  FROM documents WHERE doc_id % 10 <> 7
),
j AS (
  SELECT COALESCE(c.source, p.source) AS source,
    CASE WHEN p.doc_id IS NULL THEN 'added'
         WHEN c.doc_id IS NULL THEN 'removed'
         WHEN p.h <> c.h THEN 'changed'
         ELSE 'unchanged' END AS status
  FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id
)
SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM j GROUP BY source, status
"""

ORACLES["label_balanced_sample"] = f"""
WITH {_EMB_VALID}, counts AS (SELECT label, COUNT(*) AS n FROM emb_valid GROUP BY label),
m AS (SELECT MIN(n) AS m FROM counts),
ranked AS (
  SELECT label, vec_id,
    CAST(row_number() OVER (PARTITION BY label
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rk
  FROM emb_valid
)
SELECT label, vec_id, rk FROM ranked, m WHERE rk <= m.m
"""

ORACLES["char_entropy_quality"] = """
WITH cs AS (
  SELECT doc_id, string_split(text, '') AS chars
  FROM documents WHERE length(text) > 0
),
st AS (
  SELECT doc_id, len(chars) AS n_chars,
    list_sum(list_transform(list_distinct(chars),
      ch -> len(list_filter(chars, x -> x = ch))
            * CAST(round(ln(len(list_filter(chars, x -> x = ch))) * 1000)
                   AS BIGINT))) AS si
  FROM cs WHERE len(chars) > 0
),
hn AS (
  SELECT doc_id, n_chars,
    CAST(round(ln(n_chars) * 1000) AS BIGINT) * n_chars - si AS h_num
  FROM st
),
e AS (
  SELECT doc_id, n_chars,
    (CASE WHEN h_num < 0 THEN -1 ELSE 1 END *
     ((abs(h_num) * 2000000 + (n_chars * 1000))
       // (2 * (n_chars * 1000)))) / 1000000.0 AS entropy
  FROM hn
)
SELECT doc_id, n_chars, entropy, entropy < 2.5 AS low_entropy FROM e
"""

ORACLES["ngram_novelty_score"] = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
g AS (
  SELECT doc_id,
    {_SHINGLE_SET} AS grams
  FROM w
),
ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
dfreq AS (SELECT gram, COUNT(*) AS df FROM ex GROUP BY gram),
per_doc AS (
  SELECT ex.doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_grams,
    CAST(SUM(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM ex JOIN dfreq USING (gram) GROUP BY ex.doc_id
)
SELECT doc_id, n_grams, n_novel,
  ((n_novel * 2000000 + n_grams) // (2 * n_grams)) / 1000000.0 AS novelty
FROM per_doc
"""

ORACLES["source_kl_drift"] = f"""
WITH tok AS (
  SELECT source AS grp, unnest(string_split(text, ' ')) AS t FROM documents
),
gt AS (SELECT grp, t, COUNT(*) AS cst FROM tok GROUP BY grp, t),
ct AS (SELECT t, SUM(cst) AS ct FROM gt GROUP BY t),
gtot AS (SELECT grp, SUM(cst) AS ts FROM gt GROUP BY grp),
tot AS (SELECT SUM(ct) AS tt FROM ct),
terms AS (
  SELECT gt.grp, gt.cst, gtot.ts,
    ({fixed_ln_micro_sql('gt.cst', 'gtot.ts', 1000)}
     + {fixed_ln_micro_sql('tot.tt', 'ct.ct', 1000)}) AS lw
  FROM gt JOIN ct USING (t) JOIN gtot USING (grp), tot
),
agg AS (
  SELECT grp AS source, MAX(ts) AS n_tokens, SUM(cst * lw) AS kl_num
  FROM terms GROUP BY grp
)
SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
  (CASE WHEN kl_num < 0 THEN -1 ELSE 1 END *
   ((abs(kl_num) * 2000000 + (n_tokens * 1000))
     // (2 * (n_tokens * 1000)))) / 1000000.0 AS kl_from_corpus
FROM agg
"""

ORACLES["quality_classifier_filter"] = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
f AS (
  SELECT doc_id, unnest(list_concat(words,
    CASE WHEN len(words) >= 2
      THEN [words[i] || ' ' || words[i+1]
            FOR i IN generate_series(1, len(words) - 1)]
      ELSE [] END)) AS g
  FROM w
),
h AS (
  SELECT doc_id,
    CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 1024 AS slot
  FROM f
),
sw AS (
  SELECT doc_id,
    (slot * 2654435761 + 12345) % 2000001 - 1000000 AS wt
  FROM h
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_features, SUM(wt) AS s
  FROM sw GROUP BY doc_id
),
scored AS (
  SELECT doc_id, n_features,
    (CASE WHEN s < 0 THEN -1 ELSE 1 END *
     ((abs(s) * 2000000 + (n_features * 1000000))
       // (2 * (n_features * 1000000)))) / 1000000.0 AS score
  FROM agg
)
SELECT doc_id, n_features, score, score > 0 AS keep FROM scored
"""

ORACLES["curriculum_stages"] = """
WITH d AS (
  SELECT doc_id,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS difficulty
  FROM documents
),
staged AS (
  SELECT doc_id, difficulty,
    CAST(ntile(5) OVER (ORDER BY difficulty, doc_id) AS BIGINT) AS stage
  FROM d
)
SELECT doc_id, difficulty, stage,
  CAST(row_number() OVER (PARTITION BY stage
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS stage_pos
FROM staged
"""

ORACLES["embedding_truncation_audit"] = f"""
WITH {_EMB_VALID}, base AS (
  SELECT label, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM emb_valid
),
e AS (
  SELECT label, k,
    CAST(ROUND(
      list_reduce([v[i] * v[i] FOR i IN generate_series(1, k)], (a, b) -> a + b)
      / list_reduce([v[i] * v[i] FOR i IN generate_series(1, 64)], (a, b) -> a + b)
      * 1000000) AS BIGINT) AS micro
  FROM base, (SELECT unnest([8, 16, 32, 64]) AS k) ks
  WHERE list_reduce([v[i] * v[i] FOR i IN generate_series(1, 64)], (a, b) -> a + b) > 0
),
agg AS (
  SELECT CAST(k AS BIGINT) AS k, label,
    CAST(COUNT(*) AS BIGINT) AS n_vecs, SUM(micro) AS s
  FROM e GROUP BY k, label
)
SELECT k, label, n_vecs,
  ((s * 2000000 + (n_vecs * 1000000)) // (2 * (n_vecs * 1000000)))
    / 1000000.0 AS avg_energy_ratio
FROM agg
"""

ORACLES["ann_recall_audit"] = f"""
WITH {_EMB_VALID}, base AS (
  SELECT vec_id, label, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM emb_valid
),
q AS (
  SELECT vec_id AS query_id, v AS qv,
    sqrt(list_reduce([v[i] * v[i] FOR i IN generate_series(1, 64)], (a, b) -> a + b)) AS qn
  FROM base WHERE vec_id IN (0, 1, 2, 3, 4)
),
exact_scored AS (
  SELECT q.query_id, b.vec_id AS nbr_id,
    ROUND(
      list_reduce([qv[i] * b.v[i] FOR i IN generate_series(1, 64)], (a, b) -> a + b)
      / (qn * sqrt(list_reduce([b.v[i] * b.v[i] FOR i IN generate_series(1, 64)], (a, b) -> a + b))),
      6) AS cosine_sim
  FROM q, base b WHERE b.vec_id <> q.query_id
),
exact_top AS (
  SELECT query_id, nbr_id FROM (
    SELECT query_id, nbr_id,
      row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, nbr_id) AS rnk
    FROM exact_scored
  ) WHERE rnk <= 5
),
cent AS (
  SELECT label, i, ROUND(AVG(v[i]), 6) AS cv
  FROM base, (SELECT unnest(generate_series(1, 64)) AS i) dims(i)
  GROUP BY label, i
),
cent_vec AS (
  SELECT label AS cell, list(cv ORDER BY i) AS cvec FROM cent GROUP BY label
),
cell_scored AS (
  SELECT q.query_id, q.qv, q.qn, c.cell,
    list_reduce([qv[i] * cvec[i] FOR i IN generate_series(1, 64)], (a, b) -> a + b)
    / (qn * sqrt(list_reduce([cvec[i] * cvec[i] FOR i IN generate_series(1, 64)], (a, b) -> a + b)))
      AS cell_sim
  FROM q, cent_vec c
),
probes AS (
  SELECT query_id, qv, qn, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cell_sim DESC, cell) AS pr
    FROM cell_scored
  ) WHERE pr <= 3
),
approx_scored AS (
  SELECT p.query_id, b.vec_id AS nbr_id,
    ROUND(
      list_reduce([qv[i] * b.v[i] FOR i IN generate_series(1, 64)], (a, b) -> a + b)
      / (qn * sqrt(list_reduce([b.v[i] * b.v[i] FOR i IN generate_series(1, 64)], (a, b) -> a + b))),
      6) AS cosine_sim
  FROM probes p JOIN base b ON b.label = p.cell
  WHERE b.vec_id <> p.query_id
),
approx_top AS (
  SELECT query_id, nbr_id FROM (
    SELECT query_id, nbr_id,
      row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, nbr_id) AS rnk
    FROM approx_scored
  ) WHERE rnk <= 5
),
hits AS (
  SELECT e.query_id,
    CASE WHEN a.nbr_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM exact_top e
  LEFT JOIN approx_top a
    ON a.query_id = e.query_id AND a.nbr_id = e.nbr_id
),
agg AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k,
    CAST(SUM(hit) AS BIGINT) AS n_hits
  FROM hits GROUP BY query_id
)
SELECT query_id, k, n_hits,
  ((n_hits * 2000000 + k) // (2 * k)) / 1000000.0 AS recall
FROM agg
"""

ORACLES["shard_manifest"] = """
WITH packed AS (
WITH RECURSIVE d AS (
  SELECT source, doc_id,
    CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT) AS n_tokens,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
p AS (
  SELECT source, doc_id, rn, n_tokens, CAST(0 AS BIGINT) AS bin_id,
    n_tokens AS fill
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.source, d.doc_id, d.rn, d.n_tokens,
    CASE WHEN p.fill + d.n_tokens > 512 THEN p.bin_id + 1
         ELSE p.bin_id END AS bin_id,
    CASE WHEN p.fill + d.n_tokens > 512 THEN d.n_tokens
         ELSE p.fill + d.n_tokens END AS fill
  FROM p JOIN d ON d.source = p.source AND d.rn = p.rn + 1
)
SELECT source, CAST(doc_id AS BIGINT) AS doc_id, n_tokens, bin_id FROM p
)
SELECT source, bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS content_digest
FROM packed GROUP BY source, bin_id
"""

ORACLES["bigram_lm_quality"] = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
bi AS (
  SELECT doc_id, unnest(
    CASE WHEN len(words) >= 2
      THEN [words[i] || ' ' || words[i+1]
            FOR i IN generate_series(1, len(words) - 1)]
      ELSE [] END) AS b
  FROM w
),
uni AS (SELECT doc_id, unnest(words) AS t FROM w),
c1 AS (SELECT t, COUNT(*) AS c1 FROM uni GROUP BY t),
c12 AS (SELECT b, COUNT(*) AS c12 FROM bi GROUP BY b),
v AS (SELECT COUNT(*) AS v FROM c1),
lp AS (
  SELECT b,
    {fixed_ln_micro_sql('c12 + 1', 'c1.c1 + v.v', 1000)} AS lp
  FROM c12 JOIN c1 ON c1.t = string_split(c12.b, ' ')[1], v
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, SUM(lp) AS si
  FROM bi JOIN lp USING (b) GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
  (CASE WHEN si < 0 THEN -1 ELSE 1 END *
   ((abs(si) * 2000000 + (n_bigrams * 1000))
     // (2 * (n_bigrams * 1000)))) / 1000000.0 AS avg_logprob
FROM agg
"""

ORACLES["hard_negatives"] = f"""
WITH {_EMB_VALID}, base AS (
  SELECT vec_id, label, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM emb_valid
),
a AS (
  SELECT vec_id AS anchor_id, label AS anchor_label, v AS av,
    sqrt(list_reduce([v[i] * v[i] FOR i IN generate_series(1, 64)], (x, y) -> x + y)) AS an
  FROM base WHERE vec_id BETWEEN 0 AND 19
),
scored AS (
  SELECT a.anchor_id, a.anchor_label, b.vec_id AS neg_id, b.label AS neg_label,
    ROUND(
      list_reduce([av[i] * b.v[i] FOR i IN generate_series(1, 64)], (x, y) -> x + y)
      / (an * sqrt(list_reduce([b.v[i] * b.v[i] FOR i IN generate_series(1, 64)], (x, y) -> x + y))),
      6) AS cosine_sim
  FROM a, base b WHERE b.label <> a.anchor_label
)
SELECT anchor_id, anchor_label, rank, neg_id, neg_label, cosine_sim FROM (
  SELECT anchor_id, anchor_label, neg_id, neg_label, cosine_sim,
    CAST(row_number() OVER (PARTITION BY anchor_id
      ORDER BY cosine_sim DESC, neg_id) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 3
"""

ORACLES["bloom_dedup_screen"] = """
WITH build AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
probe AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
bits AS (
  SELECT DISTINCT CAST('0x' || substr(md5(text), 1 + 8 * i, 8) AS BIGINT) % 2048 AS pos
  FROM build, generate_series(0, 3) t(i)
),
pp AS (
  SELECT doc_id, CAST('0x' || substr(md5(text), 1 + 8 * i, 8) AS BIGINT) % 2048 AS pos
  FROM probe, generate_series(0, 3) t(i)
),
hits AS (
  SELECT pp.doc_id,
         CAST(SUM(CASE WHEN bits.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_set_hits
  FROM pp LEFT JOIN bits ON pp.pos = bits.pos
  GROUP BY pp.doc_id
)
SELECT h.doc_id, h.n_set_hits, h.n_set_hits = 4 AS bloom_hit,
       bt.text IS NOT NULL AS exact_dup
FROM hits h
JOIN probe p ON p.doc_id = h.doc_id
LEFT JOIN (SELECT DISTINCT text FROM build) bt ON p.text = bt.text
"""

ORACLES["kmv_source_overlap"] = """
WITH w AS (SELECT source, string_split(text, ' ') AS words FROM documents),
sh AS (
  SELECT DISTINCT source, unnest(
    CASE WHEN len(words) >= 3
      THEN [words[i] || ' ' || words[i + 1] || ' ' || words[i + 2]
            FOR i IN generate_series(1, len(words) - 2)]
      ELSE [] END) AS g
  FROM w
),
h AS (SELECT source, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS hv FROM sh),
surv AS (SELECT * FROM h WHERE hv < (1::BIGINT << 58)),
sk AS (
  SELECT source, hv FROM (
    SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
    FROM surv) WHERE rn <= 64
),
srcs AS (SELECT DISTINCT source FROM documents),
pairs AS (SELECT a.source AS s1, b.source AS s2 FROM srcs a, srcs b WHERE a.source < b.source),
m AS (
  SELECT s1, s2, hv, MAX(in1) AS in1, MAX(in2) AS in2 FROM (
    SELECT p.s1, p.s2, x.hv, 1 AS in1, 0 AS in2 FROM pairs p JOIN sk x ON x.source = p.s1
    UNION ALL
    SELECT p.s1, p.s2, y.hv, 0 AS in1, 1 AS in2 FROM pairs p JOIN sk y ON y.source = p.s2
  ) GROUP BY s1, s2, hv
),
topu AS (
  SELECT * FROM (
    SELECT m.*, row_number() OVER (PARTITION BY s1, s2 ORDER BY hv) AS rn FROM m)
  WHERE rn <= 64
),
est AS (
  SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS k_union,
         CAST(SUM(in1 * in2) AS BIGINT) AS n_both
  FROM topu GROUP BY s1, s2
),
inter AS (
  SELECT a.source AS s1, b.source AS s2, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
  GROUP BY a.source, b.source
),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY source)
SELECT e.s1, e.s2, e.k_union, e.n_both,
  ((e.n_both * 2000000 + e.k_union) // (2 * e.k_union)) / 1000000.0 AS j_est,
  CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
  ((CAST(COALESCE(i.n_inter, 0) AS BIGINT) * 2000000
      + (z1.n + z2.n - CAST(COALESCE(i.n_inter, 0) AS BIGINT)))
    // (2 * (z1.n + z2.n - CAST(COALESCE(i.n_inter, 0) AS BIGINT)))) / 1000000.0 AS j_exact
FROM est e
LEFT JOIN inter i ON i.s1 = e.s1 AND i.s2 = e.s2
JOIN sizes z1 ON z1.source = e.s1
JOIN sizes z2 ON z2.source = e.s2
"""

ORACLES["peak_concurrency"] = """
WITH ev AS (SELECT * FROM events WHERE value IS NOT NULL),
pts AS (
  SELECT epoch_us(ts) AS t, 1 AS delta FROM ev
  UNION ALL
  SELECT epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS t, -1 AS delta
  FROM ev
),
d AS (SELECT t, delta, t // 86400000000 AS day FROM pts),
run AS (
  SELECT day, delta,
    SUM(delta) OVER (PARTITION BY day ORDER BY t, delta
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
  FROM d
),
per_day AS (
  SELECT day, CAST(SUM(delta) AS BIGINT) AS day_net,
         CAST(MAX(r) AS BIGINT) AS in_day_peak,
         CAST(COUNT(*) AS BIGINT) AS n_points
  FROM run GROUP BY day
)
SELECT day, n_points,
  CAST(COALESCE(SUM(day_net) OVER (ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS carry_in,
  CAST(COALESCE(SUM(day_net) OVER (ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + in_day_peak AS BIGINT)
    AS peak_concurrency
FROM per_day
"""

ORACLES["bottom_k_sample"] = """
SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS sample_key
FROM documents
ORDER BY sample_key
LIMIT 100
"""

ORACLES["copurchase_triangles"] = """
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0
),
e AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v
),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM e e1
  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
),
agg AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
         (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
         n_triangles
  FROM tri
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
  ((3 * n_triangles * 2000000 + GREATEST(n_wedges, 1))
     // (2 * GREATEST(n_wedges, 1))) / 1000000.0 AS global_clustering
FROM agg
"""

ORACLES["pmi_top_collocations"] = f"""
WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
bi AS (
  SELECT unnest(
    CASE WHEN len(words) >= 2
      THEN [words[i] || ' ' || words[i + 1] FOR i IN generate_series(1, len(words) - 1)]
      ELSE [] END) AS b
  FROM w
),
c12 AS (
  SELECT string_split(b, ' ')[1] AS w1, string_split(b, ' ')[2] AS w2,
         CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM bi GROUP BY b
),
n AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n FROM c12),
c1 AS (SELECT w1, CAST(SUM(c_ab) AS BIGINT) AS c_w1 FROM c12 GROUP BY w1),
c2 AS (SELECT w2, CAST(SUM(c_ab) AS BIGINT) AS c_w2 FROM c12 GROUP BY w2)
SELECT c12.w1, c12.w2, c_ab, c_w1, c_w2,
  ({fixed_ln_micro_sql('c_ab', 'c_w1', 1000000)}
   + {fixed_ln_micro_sql('n.n', 'c_w2', 1000000)}) AS pmi_scaled
FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2), n
WHERE c_ab >= 5
ORDER BY pmi_scaled DESC, w1, w2
LIMIT 50
"""

ORACLES["ohlc_daily_bars"] = """
WITH base AS (
  SELECT event_type, value, event_id, epoch_us(ts) AS t_us,
         epoch_us(ts) // 86400000000 AS day
  FROM events
),
r AS (
  SELECT *,
    row_number() OVER (PARTITION BY day, event_type ORDER BY t_us, event_id) AS rn,
    COUNT(*) OVER (PARTITION BY day, event_type) AS n
  FROM base
)
SELECT day, event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
  MAX(CASE WHEN rn = 1 THEN value END) AS open,
  MAX(value) AS high,
  MIN(value) AS low,
  MAX(CASE WHEN rn = n THEN value END) AS close,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 3) AS DOUBLE) AS sum_value
FROM r GROUP BY day, event_type
"""

ORACLES["nation_revenue_trend"] = f"""
WITH monthly AS (
  SELECT n_name,
    CAST((year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1 AS BIGINT) AS m,
    CAST(ROUND(SUM({_DISC_PRICE}), 2) * 100 AS BIGINT) AS y_cents
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name, m
),
s AS (
  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_months,
         CAST(SUM(m) AS BIGINT) AS sx, CAST(SUM(m * m) AS BIGINT) AS sxx,
         CAST(SUM(y_cents) AS BIGINT) AS total_cents,
         CAST(SUM(m * y_cents) AS BIGINT) AS sxy
  FROM monthly GROUP BY n_name
),
f AS (
  SELECT *,
    CAST(n_months AS HUGEINT) * CAST(sxy AS HUGEINT)
      - CAST(sx AS HUGEINT) * CAST(total_cents AS HUGEINT) AS num,
    CAST(n_months AS HUGEINT) * CAST(sxx AS HUGEINT)
      - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS den
  FROM s
)
SELECT n_name, n_months, total_cents,
  CASE WHEN den = 0 THEN NULL
       ELSE (CASE WHEN num < 0 THEN -1.0 ELSE 1.0 END)
            * CAST((abs(num) * 2000000 + den) // (2 * den) AS DOUBLE) / 1000000.0
  END AS slope_cents_per_month
FROM f
"""

ORACLES["winnowing_fingerprint"] = """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents
),
k AS (
  SELECT doc_id,
    CASE WHEN len(ws) >= 4 THEN
      [CAST('0x' || substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 8) AS BIGINT)
       FOR i IN generate_series(1, len(ws) - 3)]
    ELSE [] END AS hs
  FROM w
),
sel AS (
  SELECT doc_id, len(hs) AS m,
    CASE WHEN len(hs) = 0 THEN []
    ELSE [list_min(hs[i:i+4]) FOR i IN generate_series(1, greatest(len(hs) - 4, 1))]
    END AS wins
  FROM k
)
SELECT doc_id,
  CAST(m AS INT) AS n_kgrams,
  CAST(len(list_distinct(wins)) AS INT) AS n_selected,
  list_min(wins) AS min_fp,
  list_max(wins) AS max_fp
FROM sel
"""

ORACLES["session_error_overlap"] = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
),
{_SESSIONS},
agg AS (
  SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
    MIN(ts_us) AS session_start_us,
    MAX(ts_us) AS session_end_us,
    COUNT(*) AS n_events
  FROM sess GROUP BY user_id, session_idx
),
err AS (SELECT event_id, ts_us FROM e WHERE event_type = 'error')
SELECT a.user_id, a.session_idx, a.session_start_us, a.session_end_us,
  CAST(a.n_events AS BIGINT) AS n_events,
  CAST(COUNT(err.event_id) AS BIGINT) AS n_errors_during
FROM agg a LEFT JOIN err
  ON err.ts_us BETWEEN a.session_start_us AND a.session_end_us
GROUP BY a.user_id, a.session_idx, a.session_start_us, a.session_end_us, a.n_events
"""

ORACLES["quantile_normalized_tokens"] = """
WITH d AS (
  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
  FROM documents WHERE text IS NOT NULL
),
s AS (
  SELECT *,
    row_number() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS r,
    count(*) OVER (PARTITION BY source) AS ns
  FROM d
),
g AS (
  SELECT n_tokens AS norm_tokens,
    row_number() OVER (ORDER BY n_tokens, doc_id) AS p
  FROM d
),
t AS (SELECT count(*) AS n_total FROM d)
SELECT s.doc_id, s.source, s.n_tokens, CAST(s.r AS BIGINT) AS src_rank,
  g.norm_tokens
FROM s, t
JOIN g ON g.p = CASE WHEN s.ns = 1 THEN (n_total + 1) // 2
                     ELSE 1 + ((s.r - 1) * (n_total - 1) * 2 + (s.ns - 1))
                              // (2 * (s.ns - 1)) END
"""

ORACLES["mad_value_outliers"] = """
WITH v AS (
  SELECT event_type,
    CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100, 0) AS BIGINT) AS c
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
),
m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
    median(c) AS median_cents,
    CAST(2 * median(c) AS BIGINT) AS med2
  FROM v GROUP BY event_type
),
d AS (
  SELECT v.event_type, ABS(2 * v.c - m.med2) AS d2
  FROM v JOIN m USING (event_type)
),
md AS (
  SELECT event_type,
    CAST(2 * median(d2) AS BIGINT) AS mad4,
    CAST(MAX(d2) AS BIGINT) AS max_abs_dev2
  FROM d GROUP BY event_type
)
SELECT m.event_type, m.n_rows, m.median_cents,
  CAST(md.mad4 AS DOUBLE) / 4.0 AS mad_cents,
  CAST(SUM(CASE WHEN CAST(d.d2 AS DOUBLE) / 2.0
                     > 4.4478 * (CAST(md.mad4 AS DOUBLE) / 4.0)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
  md.max_abs_dev2
FROM d JOIN m USING (event_type) JOIN md USING (event_type)
GROUP BY m.event_type, m.n_rows, m.median_cents, md.mad4, md.max_abs_dev2
"""

ORACLES["lang_source_independence"] = f"""
WITH cells AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
  GROUP BY lang, source
),
r AS (SELECT lang, SUM(o) AS r_tot FROM cells GROUP BY lang),
c AS (SELECT source, SUM(o) AS c_tot FROM cells GROUP BY source),
n AS (SELECT SUM(o) AS n_tot FROM cells),
j AS (
  SELECT cells.*, r.r_tot, c.c_tot, n.n_tot,
    CAST(o * n_tot - r_tot * c_tot AS HUGEINT) AS dev,
    CAST(r_tot * c_tot AS HUGEINT) * CAST(n_tot AS HUGEINT) AS den
  FROM cells JOIN r USING (lang) JOIN c USING (source), n
),
per AS (
  SELECT
    CAST((dev * dev * 2000000 + den) // (2 * den) AS BIGINT) AS chi,
    o * ({fixed_ln_micro_sql('o', 'r_tot', 1000000)}
       + {fixed_ln_micro_sql('n_tot', 'c_tot', 1000000)}) AS mi
  FROM j
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_cells,
  CAST(SUM(chi) AS BIGINT) AS chi2_scaled,
  CAST(SUM(mi) AS BIGINT) AS mi_scaled,
  (SELECT CAST((COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1)
               AS BIGINT) FROM documents
   WHERE lang IS NOT NULL AND source IS NOT NULL) AS dof
FROM per
"""

ORACLES["vocab_growth_curve"] = """
WITH sliced AS (
  SELECT doc_id, text, CAST(ntile(10) OVER (ORDER BY doc_id) AS BIGINT) AS slc
  FROM documents
),
toks AS (
  SELECT slc, unnest(string_split(text, ' ')) AS tok FROM sliced
),
first_seen AS (
  SELECT tok, MIN(slc) AS first_slice FROM toks GROUP BY tok
),
newt AS (
  SELECT first_slice, CAST(COUNT(*) AS BIGINT) AS new_tokens
  FROM first_seen GROUP BY first_slice
),
occ AS (
  SELECT slc, CAST(COUNT(*) AS BIGINT) AS n_occurrences FROM toks GROUP BY slc
)
SELECT occ.slc AS slice, occ.n_occurrences,
  COALESCE(newt.new_tokens, 0) AS new_tokens,
  CAST(SUM(COALESCE(newt.new_tokens, 0))
       OVER (ORDER BY occ.slc ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
FROM occ LEFT JOIN newt ON newt.first_slice = occ.slc
"""

ORACLES["association_rules"] = """
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0
),
pairs AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b
  FROM lp x JOIN lp y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey
),
cab AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab FROM pairs GROUP BY a, b
),
ci AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c_item FROM lp GROUP BY l_partkey
),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM lp),
rr AS (
  SELECT cab.a, cab.b, cab.c_ab, ca.c_item AS c_a, cb.c_item AS c_b, n.n_baskets
  FROM cab JOIN ci ca ON ca.l_partkey = cab.a
           JOIN ci cb ON cb.l_partkey = cab.b, n
  WHERE cab.c_ab >= 2
)
SELECT a, b, c_ab, c_a, c_b, n_baskets,
  CAST((c_ab * 2000000 + n_baskets) // (2 * n_baskets) AS DOUBLE) / 1000000.0
    AS support,
  CAST((c_ab * 2000000 + c_a) // (2 * c_a) AS DOUBLE) / 1000000.0
    AS confidence,
  CAST((c_ab * n_baskets * 2000000 + c_a * c_b) // (2 * c_a * c_b) AS DOUBLE)
    / 1000000.0 AS lift
FROM rr
"""

ORACLES["event_type_trigrams"] = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events
),
tri AS (
  SELECT user_id, event_type AS e1,
    lead(event_type, 1) OVER w AS e2,
    lead(event_type, 2) OVER w AS e3
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
)
SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM tri WHERE e3 IS NOT NULL
GROUP BY e1, e2, e3
ORDER BY n DESC, e1, e2, e3
LIMIT 20
"""

ORACLES["user_behavior_entropy"] = f"""
WITH c AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY user_id, event_type
),
t AS (
  SELECT *, CAST(SUM(c) OVER (PARTITION BY user_id) AS BIGINT) AS n FROM c
)
SELECT user_id,
  CAST(MAX(n) AS BIGINT) AS n_events,
  CAST(COUNT(*) AS BIGINT) AS n_types,
  CAST(SUM(c * {fixed_ln_micro_sql('n', 'c', 1000000)}) AS BIGINT) AS entropy_scaled
FROM t GROUP BY user_id
"""

ORACLES["revenue_gini"] = """
WITH cust AS (
  SELECT o_custkey,
    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) * 100 AS BIGINT)
      AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT cents, row_number() OVER (ORDER BY cents, o_custkey) AS i FROM cust
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
    CAST(SUM(cents) AS BIGINT) AS total_cents,
    SUM(CAST(i AS HUGEINT) * CAST(cents AS HUGEINT)) AS s1
  FROM ranked
),
f AS (
  SELECT *,
    2 * s1 - CAST(n_customers + 1 AS HUGEINT) * CAST(total_cents AS HUGEINT)
      AS num,
    CAST(n_customers AS HUGEINT) * CAST(total_cents AS HUGEINT) AS den
  FROM s
)
SELECT n_customers, total_cents,
  (CASE WHEN num < 0 THEN -1.0 ELSE 1.0 END)
  * CAST((abs(num) * 2000000 + den) // (2 * den) AS DOUBLE) / 1000000.0 AS gini
FROM f
"""

ORACLES["rfm_segments"] = """
WITH cust AS (
  SELECT o_custkey,
    CAST(epoch_us(MAX(o_orderdate)) // 86400000000 AS BIGINT) AS last_day,
    CAST(COUNT(*) AS BIGINT) AS freq,
    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) * 100 AS BIGINT)
      AS cents
  FROM orders GROUP BY o_custkey
),
q AS (
  SELECT *,
    CAST(ntile(5) OVER (ORDER BY last_day, o_custkey) AS BIGINT) AS r_q,
    CAST(ntile(5) OVER (ORDER BY freq, o_custkey) AS BIGINT) AS f_q,
    CAST(ntile(5) OVER (ORDER BY cents, o_custkey) AS BIGINT) AS m_q
  FROM cust
)
SELECT r_q, f_q, m_q,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(SUM(cents) AS BIGINT) AS segment_cents,
  -- sign-magnitude round-half-away (exact_ratio twin; see incremental_agg_merge)
  CASE WHEN SUM(cents) < 0 THEN -1.0 ELSE 1.0 END
    * CAST((ABS(SUM(cents)) * 2000000 + COUNT(*)) // (2 * COUNT(*))
           AS DOUBLE) / 1000000.0 AS avg_cents
FROM q GROUP BY r_q, f_q, m_q
"""

ORACLES["copurchase_communities"] = """
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0
),
e0 AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lp x JOIN lp y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
),
sym AS (
  SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0
),
nodes AS (SELECT DISTINCT u AS node FROM sym),
l0 AS (SELECT node, node AS label FROM nodes),
p1 AS (
  SELECT s.u AS node, l.label, COUNT(*) AS c
  FROM sym s JOIN l0 l ON l.node = s.v GROUP BY s.u, l.label
  QUALIFY row_number() OVER (PARTITION BY s.u ORDER BY c DESC, l.label) = 1
),
l1 AS (
  SELECT n.node, COALESCE(p.label, n.node) AS label
  FROM nodes n LEFT JOIN p1 p USING (node)
),
p2 AS (
  SELECT s.u AS node, l.label, COUNT(*) AS c
  FROM sym s JOIN l1 l ON l.node = s.v GROUP BY s.u, l.label
  QUALIFY row_number() OVER (PARTITION BY s.u ORDER BY c DESC, l.label) = 1
),
l2 AS (
  SELECT n.node, COALESCE(p.label, n.node) AS label
  FROM nodes n LEFT JOIN p2 p USING (node)
),
p3 AS (
  SELECT s.u AS node, l.label, COUNT(*) AS c
  FROM sym s JOIN l2 l ON l.node = s.v GROUP BY s.u, l.label
  QUALIFY row_number() OVER (PARTITION BY s.u ORDER BY c DESC, l.label) = 1
),
l3 AS (
  SELECT n.node, COALESCE(p.label, n.node) AS label
  FROM nodes n LEFT JOIN p3 p USING (node)
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
  CAST(MIN(node) AS BIGINT) AS min_node,
  CAST(MAX(node) AS BIGINT) AS max_node
FROM l3 GROUP BY label HAVING COUNT(*) >= 2
"""

ORACLES["dau_cumulative_unique"] = """
WITH e AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
daily AS (
  SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau,
    CAST(COUNT(*) AS BIGINT) AS n_events
  FROM e GROUP BY day
),
first AS (SELECT user_id, MIN(day) AS first_day FROM e GROUP BY user_id),
newu AS (
  SELECT first_day, CAST(COUNT(*) AS BIGINT) AS new_users
  FROM first GROUP BY first_day
)
SELECT d.day, d.dau, d.n_events,
  COALESCE(n.new_users, 0) AS new_users,
  CAST(SUM(COALESCE(n.new_users, 0))
       OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
    AS cum_unique_users
FROM daily d LEFT JOIN newu n ON n.first_day = d.day
"""

ORACLES["winsorized_value_stats"] = """
WITH v AS (
  SELECT event_type,
    CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100, 0) AS BIGINT) AS c
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
),
freq AS (
  SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS f
  FROM v GROUP BY event_type, c
),
cum AS (
  SELECT *, SUM(f) OVER (PARTITION BY event_type ORDER BY c
                         ROWS UNBOUNDED PRECEDING) AS cumf,
    SUM(f) OVER (PARTITION BY event_type) AS n
  FROM freq
),
q AS (
  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_rows,
    MIN(CASE WHEN cumf >= greatest((n * 5 + 99) // 100, 1) THEN c END)
      AS q_lo,
    MIN(CASE WHEN cumf >= greatest((n * 95 + 99) // 100, 1) THEN c END)
      AS q_hi
  FROM cum GROUP BY event_type
)
SELECT f.event_type, q.n_rows,
  CAST(q.q_lo AS BIGINT) AS q_lo_cents,
  CAST(q.q_hi AS BIGINT) AS q_hi_cents,
  -- sign-magnitude round-half-away (exact_ratio twin; see incremental_agg_merge)
  CASE WHEN SUM(f.f * greatest(least(f.c, q.q_hi), q.q_lo)) < 0
       THEN -1.0 ELSE 1.0 END
    * CAST((ABS(SUM(f.f * greatest(least(f.c, q.q_hi), q.q_lo))) * 2000000
            + q.n_rows)
       // (2 * q.n_rows) AS DOUBLE) / 1000000.0 AS winsorized_mean_cents,
  CAST(SUM(CASE WHEN f.c < q.q_lo THEN f.f ELSE 0 END) AS BIGINT)
    AS n_clamped_low,
  CAST(SUM(CASE WHEN f.c > q.q_hi THEN f.f ELSE 0 END) AS BIGINT)
    AS n_clamped_high
FROM freq f JOIN q USING (event_type)
GROUP BY f.event_type, q.n_rows, q.q_lo, q.q_hi
"""

ORACLES["incremental_agg_merge"] = """
WITH v AS (
  SELECT event_type,
    CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100, 0) AS BIGINT) AS cents
  FROM events
)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(cents) AS BIGINT) AS total_cents,
  CAST(MIN(cents) AS BIGINT) AS min_cents,
  CAST(MAX(cents) AS BIGINT) AS max_cents,
  -- sign-magnitude round-half-AWAY-FROM-ZERO, matching
  -- exact_ratio_round6_wide: a signed floor-division rounds negative
  -- halves toward +inf and diverges 1 ulp on negative sums
  CASE WHEN SUM(cents) < 0 THEN -1.0 ELSE 1.0 END
    * CAST((ABS(SUM(cents)) * 2000000 + COUNT(*)) // (2 * COUNT(*))
           AS DOUBLE) / 1000000.0 AS avg_cents
FROM v GROUP BY event_type
"""

ORACLES["cusum_changepoint"] = """
WITH e AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
    CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100, 0) AS BIGINT) AS cents
  FROM events
),
daily AS (SELECT day, CAST(SUM(cents) AS BIGINT) AS x FROM e GROUP BY day),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS t FROM daily
),
scan AS (
  SELECT day, tot.n,
    tot.n * SUM(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
      - (row_number() OVER (ORDER BY day)) * tot.t AS cusum_scaled
  FROM daily, tot
)
SELECT day AS changepoint_day, n AS n_days, CAST(cusum_scaled AS BIGINT) AS cusum_scaled
FROM scan ORDER BY abs(cusum_scaled) DESC, day LIMIT 1
"""

ORACLES["dow_seasonality"] = """
WITH e AS (
  SELECT event_type,
    (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
    CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100, 0) AS BIGINT) AS cents
  FROM events
),
cell AS (
  SELECT event_type, CAST(dow AS BIGINT) AS dow,
    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s
  FROM e GROUP BY event_type, dow
),
tot AS (
  SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_type,
    CAST(SUM(s) AS BIGINT) AS s_type
  FROM cell GROUP BY event_type
)
SELECT cell.event_type, cell.dow, cell.n, cell.s,
  (CASE WHEN cell.s * tot.n_type < 0 THEN -1.0 ELSE 1.0 END)
  * CAST((abs(CAST(cell.s AS HUGEINT) * tot.n_type) * 2000000
          + CAST(cell.n AS HUGEINT) * tot.s_type)
         // (2 * CAST(cell.n AS HUGEINT) * tot.s_type) AS DOUBLE)
    / 1000000.0 AS seasonality_index
FROM cell JOIN tot USING (event_type)
"""

ORACLES["cohort_ltv_matrix"] = """
WITH e AS (
  SELECT user_id, event_type,
    epoch_us(ts) // 604800000000 AS week,
    CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100, 0) AS BIGINT) AS cents
  FROM events
),
first AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY user_id),
rev AS (
  SELECT f.cohort_week, e.week - f.cohort_week AS age_weeks,
    CAST(COUNT(*) AS BIGINT) AS n_purchases,
    CAST(SUM(e.cents) AS BIGINT) AS revenue_cents
  FROM e JOIN first f USING (user_id)
  WHERE e.event_type = 'purchase'
  GROUP BY f.cohort_week, e.week - f.cohort_week
)
SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
  CAST(age_weeks AS BIGINT) AS age_weeks, n_purchases, revenue_cents,
  CAST(SUM(revenue_cents) OVER (PARTITION BY cohort_week ORDER BY age_weeks
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
    AS cum_revenue_cents
FROM rev
"""

ORACLES["zipf_slope"] = f"""
WITH freqs AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok ORDER BY freq DESC, tok LIMIT 1000
),
ranked AS (
  SELECT freq, row_number() OVER (ORDER BY -freq, tok) AS rank FROM freqs
),
pts AS (
  SELECT {fixed_ln_micro_sql('rank', '1', 1000000)} AS x,
    {fixed_ln_micro_sql('freq', '1', 1000000)} AS y
  FROM ranked
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
    SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
  FROM pts
),
f AS (
  SELECT n_tokens,
    CAST(n_tokens AS HUGEINT) * sxy - sx * sy AS num,
    CAST(n_tokens AS HUGEINT) * sxx - sx * sx AS den
  FROM s
)
SELECT n_tokens,
  (CASE WHEN num < 0 THEN -1.0 ELSE 1.0 END)
  * CAST((abs(num) * 2000000 + den) // (2 * den) AS DOUBLE) / 1000000.0
    AS zipf_slope
FROM f
"""

ORACLES["referential_integrity_audit"] = """
WITH checks AS (
  SELECT 'lineitem->orders' AS relation,
    (SELECT COUNT(*) FROM lineitem) AS n_rows,
    (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
       ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) AS n_orphans
  UNION ALL SELECT 'lineitem->part',
    (SELECT COUNT(*) FROM lineitem),
    (SELECT COUNT(*) FROM lineitem l LEFT JOIN part p
       ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL)
  UNION ALL SELECT 'lineitem->supplier',
    (SELECT COUNT(*) FROM lineitem),
    (SELECT COUNT(*) FROM lineitem l LEFT JOIN supplier s
       ON l.l_suppkey = s.s_suppkey WHERE s.s_suppkey IS NULL)
  UNION ALL SELECT 'orders->customer',
    (SELECT COUNT(*) FROM orders),
    (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
       ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
  UNION ALL SELECT 'customer->nation',
    (SELECT COUNT(*) FROM customer),
    (SELECT COUNT(*) FROM customer c LEFT JOIN nation n
       ON c.c_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL)
  UNION ALL SELECT 'supplier->nation',
    (SELECT COUNT(*) FROM supplier),
    (SELECT COUNT(*) FROM supplier s LEFT JOIN nation n
       ON s.s_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL)
)
SELECT relation, CAST(n_rows AS BIGINT) AS n_rows,
  CAST(n_orphans AS BIGINT) AS n_orphans,
  CAST((n_orphans * 2000000 + n_rows) // (2 * n_rows) AS DOUBLE) / 1000000.0
    AS orphan_rate
FROM checks
"""

ORACLES["daily_value_median_trend"] = """
WITH e AS (
  SELECT epoch_us(ts) // 86400000000 AS day, event_type,
    CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100, 0) AS BIGINT) AS c
  FROM events
)
SELECT CAST(day AS BIGINT) AS day, event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  median(c) AS median_cents
FROM e GROUP BY day, event_type
"""

ORACLES["fulfillment_sla_histogram"] = """
WITH last AS (
  SELECT l_orderkey,
    MAX(epoch_us(l_shipdate) // 86400000000) AS last_rday
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT o.o_orderpriority,
    last.last_rday - (epoch_us(o.o_orderdate) // 86400000000) AS gap_days
  FROM orders o JOIN last ON o.o_orderkey = last.l_orderkey
)
SELECT o_orderpriority,
  CAST(least(gap_days // 30, 4) AS BIGINT) AS gap_bucket_30d,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(MIN(gap_days) AS BIGINT) AS min_gap_days,
  CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
FROM j GROUP BY o_orderpriority, least(gap_days // 30, 4)
"""

ORACLES["active_streaks"] = """
WITH d AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
isl AS (
  SELECT user_id, day,
    day - dense_rank() OVER (PARTITION BY user_id ORDER BY day) AS island
  FROM d
),
streaks AS (
  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len,
    CAST(MIN(day) AS BIGINT) AS streak_start
  FROM isl GROUP BY user_id, island
)
SELECT user_id,
  CAST(SUM(len) AS BIGINT) AS n_active_days,
  CAST(COUNT(*) AS BIGINT) AS n_streaks,
  CAST(MAX(len) AS BIGINT) AS longest_streak,
  CAST(MIN(streak_start) AS BIGINT) AS first_active_day
FROM streaks GROUP BY user_id
"""

ORACLES["graph_degree_assortativity"] = """
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0
),
e0 AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lp x JOIN lp y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
),
deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0)
  GROUP BY v
),
sym AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
ed AS (
  SELECT da.d AS da, db.d AS db
  FROM sym JOIN deg da ON da.v = sym.a JOIN deg db ON db.v = sym.b
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m2,
    SUM(CAST(da AS HUGEINT) * CAST(db AS HUGEINT)) AS sjk,
    CAST(SUM(da) AS HUGEINT) AS sj,
    SUM(CAST(da AS HUGEINT) * CAST(da AS HUGEINT)) AS sjj
  FROM ed
),
f AS (
  SELECT m2, CAST(m2 AS HUGEINT) * sjk - sj * sj AS num,
    CAST(m2 AS HUGEINT) * sjj - sj * sj AS den
  FROM s
)
SELECT m2,
  CASE WHEN den = 0 THEN NULL
       ELSE (CASE WHEN num < 0 THEN -1.0 ELSE 1.0 END)
            * CAST((abs(num) * 2000000 + den) // (2 * den) AS DOUBLE)
            / 1000000.0
  END AS assortativity
FROM f
"""

ORACLES["pareto_revenue_point"] = """
WITH cust AS (
  SELECT o_custkey,
    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) * 100 AS BIGINT)
      AS cents
  FROM orders GROUP BY o_custkey
),
lorenz AS (
  SELECT cents,
    CAST(SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
    CAST(row_number() OVER (ORDER BY cents DESC, o_custkey) AS BIGINT)
      AS cum_rank
  FROM cust
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
    CAST(MAX(cum) AS BIGINT) AS total_cents
  FROM lorenz
),
k AS (
  SELECT CAST(MIN(cum_rank) AS BIGINT) AS k80
  FROM lorenz, tot WHERE cum * 5 >= total_cents * 4
),
t10 AS (
  SELECT CAST(SUM(cents) AS BIGINT) AS top10_cents
  FROM lorenz, tot WHERE cum_rank * 10 <= n_customers
)
SELECT n_customers, total_cents, k80,
  CAST((k80 * 2000000 + n_customers) // (2 * n_customers) AS DOUBLE)
    / 1000000.0 AS k80_fraction,
  CAST((CAST(top10_cents AS HUGEINT) * 2000000 + total_cents)
       // (2 * CAST(total_cents AS HUGEINT)) AS DOUBLE) / 1000000.0
    AS top10_share
FROM tot, k, t10
"""

ORACLES["twap_daily"] = """
WITH e AS (
  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
    epoch_us(ts) // 86400000000 AS day,
    CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100, 0) AS BIGINT) AS cents
  FROM events
),
d AS (
  SELECT day, event_type, cents,
    COALESCE(lead(ts_us) OVER (PARTITION BY day, event_type
                               ORDER BY ts_us, event_id) - ts_us, 0) AS dur_us
  FROM e
),
agg AS (
  SELECT CAST(day AS BIGINT) AS day, event_type,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(SUM(cents * dur_us) AS BIGINT) AS ws,
    CAST(SUM(dur_us) AS BIGINT) AS wd
  FROM d GROUP BY day, event_type
)
SELECT day, event_type, n_events,
  CASE WHEN wd = 0 THEN NULL
       ELSE (CASE WHEN ws < 0 THEN -1.0 ELSE 1.0 END)
            * CAST((abs(CAST(ws AS HUGEINT)) * 2000000 + wd)
                   // (2 * CAST(wd AS HUGEINT)) AS DOUBLE) / 1000000.0
  END AS twap_cents
FROM agg
"""

ORACLES["stage_transition_times"] = """
WITH e AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us FROM events
),
tr AS (
  SELECT lag(event_type) OVER w AS from_type,
    event_type AS to_type,
    (ts_us - lag(ts_us) OVER w) // 1000000 AS gap_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
)
SELECT from_type, to_type,
  CAST(COUNT(*) AS BIGINT) AS n_transitions,
  median(gap_s) AS median_gap_s
FROM tr WHERE from_type IS NOT NULL
GROUP BY from_type, to_type
"""

ORACLES["revenue_share_hierarchy"] = """
WITH nrev AS (
  SELECT r.r_name, n.n_name,
    CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2) * 100 AS BIGINT)
      AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name
),
rtot AS (
  SELECT r_name, CAST(SUM(cents) AS BIGINT) AS region_cents
  FROM nrev GROUP BY r_name
),
gtot AS (SELECT CAST(SUM(cents) AS BIGINT) AS global_cents FROM nrev)
SELECT nrev.r_name, nrev.n_name, nrev.cents,
  CAST((CAST(nrev.cents AS HUGEINT) * 2000000 + region_cents)
       // (2 * CAST(region_cents AS HUGEINT)) AS DOUBLE) / 1000000.0
    AS share_of_region,
  CAST((CAST(nrev.cents AS HUGEINT) * 2000000 + global_cents)
       // (2 * CAST(global_cents AS HUGEINT)) AS DOUBLE) / 1000000.0
    AS share_of_global
FROM nrev JOIN rtot USING (r_name), gtot
"""

ORACLES["column_profile_events"] = """
WITH et AS (
  SELECT event_type AS v, COUNT(*) AS f FROM events GROUP BY event_type
),
ui AS (
  SELECT user_id AS v, COUNT(*) AS f FROM events GROUP BY user_id
),
ei AS (
  SELECT event_id AS v, COUNT(*) AS f FROM events GROUP BY event_id
)
SELECT 'event_type' AS "column",
  (SELECT CAST(COUNT(*) AS BIGINT) FROM et WHERE v IS NOT NULL) AS n_distinct,
  (SELECT CAST(COALESCE(SUM(f), 0) AS BIGINT) FROM et WHERE v IS NULL) AS n_nulls,
  (SELECT v FROM et WHERE v IS NOT NULL ORDER BY f DESC, v LIMIT 1) AS mode_value,
  (SELECT CAST(f AS BIGINT) FROM et WHERE v IS NOT NULL ORDER BY f DESC, v LIMIT 1) AS mode_count
UNION ALL
SELECT 'user_id',
  (SELECT CAST(COUNT(*) AS BIGINT) FROM ui WHERE v IS NOT NULL),
  (SELECT CAST(COALESCE(SUM(f), 0) AS BIGINT) FROM ui WHERE v IS NULL),
  (SELECT CAST(v AS VARCHAR) FROM ui WHERE v IS NOT NULL ORDER BY f DESC, v LIMIT 1),
  (SELECT CAST(f AS BIGINT) FROM ui WHERE v IS NOT NULL ORDER BY f DESC, v LIMIT 1)
UNION ALL
SELECT 'event_id',
  (SELECT CAST(COUNT(*) AS BIGINT) FROM ei WHERE v IS NOT NULL),
  (SELECT CAST(COALESCE(SUM(f), 0) AS BIGINT) FROM ei WHERE v IS NULL),
  (SELECT CAST(v AS VARCHAR) FROM ei WHERE v IS NOT NULL ORDER BY f DESC, v LIMIT 1),
  (SELECT CAST(f AS BIGINT) FROM ei WHERE v IS NOT NULL ORDER BY f DESC, v LIMIT 1)
"""

ORACLES["dn_retention"] = """
WITH d AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
first AS (SELECT user_id, MIN(day) AS d0 FROM d GROUP BY user_id),
cohort AS (
  SELECT d0, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM first GROUP BY d0
),
r AS (
  SELECT f.d0,
    CAST(COUNT(CASE WHEN a.day = f.d0 + 1 THEN 1 END) AS BIGINT) AS r1,
    CAST(COUNT(CASE WHEN a.day = f.d0 + 7 THEN 1 END) AS BIGINT) AS r7,
    CAST(COUNT(CASE WHEN a.day = f.d0 + 14 THEN 1 END) AS BIGINT) AS r14
  FROM first f JOIN d a USING (user_id)
  GROUP BY f.d0
)
SELECT CAST(c.d0 AS BIGINT) AS cohort_day, c.cohort_size,
  COALESCE(r.r1, 0) AS retained_d1,
  COALESCE(r.r7, 0) AS retained_d7,
  COALESCE(r.r14, 0) AS retained_d14,
  CAST((COALESCE(r.r1, 0) * 2000000 + c.cohort_size) // (2 * c.cohort_size)
       AS DOUBLE) / 1000000.0 AS d1_rate,
  CAST((COALESCE(r.r7, 0) * 2000000 + c.cohort_size) // (2 * c.cohort_size)
       AS DOUBLE) / 1000000.0 AS d7_rate,
  CAST((COALESCE(r.r14, 0) * 2000000 + c.cohort_size) // (2 * c.cohort_size)
       AS DOUBLE) / 1000000.0 AS d14_rate
FROM cohort c LEFT JOIN r USING (d0)
"""

ORACLES["wow_growth"] = """
WITH weekly AS (
  SELECT epoch_us(o_orderdate) // 604800000000 AS week,
    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) * 100 AS BIGINT)
      AS cents
  FROM orders GROUP BY week
),
l AS (
  SELECT CAST(week AS BIGINT) AS week, cents,
    lag(cents) OVER (ORDER BY week) AS prev
  FROM weekly
)
SELECT week, cents,
  CASE WHEN prev IS NULL OR prev = 0 THEN NULL
       ELSE (CASE WHEN cents - prev < 0 THEN -1.0 ELSE 1.0 END)
            * CAST((abs(CAST(cents - prev AS HUGEINT)) * 2000000 + prev)
                   // (2 * CAST(prev AS HUGEINT)) AS DOUBLE) / 1000000.0
  END AS wow_growth
FROM l
"""

ORACLES["containment_pairs"] = """
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 6
      THEN list_distinct([array_to_string(words[i:i+5], ' ')
                          FOR i IN generate_series(1, len(words) - 5)])
      ELSE [] END AS shingle_set
  FROM docs
),
sized AS (SELECT doc_id, shingle_set FROM sh WHERE len(shingle_set) > 0),
ex AS (SELECT doc_id, len(shingle_set) AS n, unnest(shingle_set) AS s
       FROM sized),
freq AS (SELECT s, COUNT(*) AS c FROM ex GROUP BY s),
ranked AS (
  SELECT doc_id, s, n,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c, s) AS rn
  FROM ex JOIN freq USING (s)
),
prefix AS (
  SELECT doc_id, s, n FROM ranked
  WHERE rn <= n - CAST(CEIL(0.8 * n) AS BIGINT) + 1
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM prefix l JOIN ex r
    ON l.s = r.s AND l.doc_id <> r.doc_id AND r.n >= 0.8 * l.n
),
scored AS (
  SELECT id_a, id_b,
    CAST(len(a.shingle_set) AS BIGINT) AS n_a,
    CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS BIGINT)
      AS n_common
  FROM cand
  JOIN sized a ON a.doc_id = id_a
  JOIN sized b ON b.doc_id = id_b
)
SELECT id_a, id_b, n_a, n_common,
  CAST((n_common * 2000000 + n_a) // (2 * n_a) AS DOUBLE) / 1000000.0
    AS containment
FROM scored
WHERE CAST((n_common * 2000000 + n_a) // (2 * n_a) AS DOUBLE) / 1000000.0
      >= 0.8
"""

ORACLES["span_corruption_plan"] = """
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
base AS (
  SELECT doc_id, len(words) AS n_tokens,
    unnest(generate_series(0, len(words) - 1)) AS pos
  FROM docs
),
sel AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans
  FROM base
  WHERE pos % 3 = 0 AND pos <= n_tokens - 3
    AND CAST('0x' || substr(md5(doc_id || ':' || pos), 1, 8) AS BIGINT)
        % 100 < 15
  GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(len(d.words) AS BIGINT) AS n_tokens,
  COALESCE(s.n_spans, 0) AS n_spans,
  COALESCE(s.n_spans, 0) * 3 AS n_masked,
  CAST((COALESCE(s.n_spans, 0) * 3 * 2000000 + len(d.words))
       // (2 * len(d.words)) AS DOUBLE) / 1000000.0 AS mask_ratio
FROM docs d LEFT JOIN sel s USING (doc_id)
"""

ORACLES["negative_sampling_table"] = """
WITH counts AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok ORDER BY c DESC, tok LIMIT 500
),
weighted AS (
  SELECT tok, c,
    CAST(ROUND(sqrt(sqrt(CAST(c * c * c AS DOUBLE))) * 1000000) AS BIGINT)
      AS weight_scaled
  FROM counts
),
tot AS (SELECT CAST(SUM(weight_scaled) AS BIGINT) AS t FROM weighted)
SELECT tok, c, weight_scaled,
  CAST((CAST(weight_scaled AS HUGEINT) * 2000000 + t)
       // (2 * CAST(t AS HUGEINT)) AS DOUBLE) / 1000000.0 AS sample_prob
FROM weighted, tot
"""

ORACLES["grouped_split_leakage_audit"] = """
WITH tagged AS (
  SELECT user_id, event_id,
    CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 10 <= 7 THEN 'train'
         WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 10 = 8 THEN 'val'
         ELSE 'test' END AS split
  FROM events
),
per_user AS (
  SELECT user_id, COUNT(DISTINCT split) AS nsplits, MIN(split) AS split,
    CAST(COUNT(*) AS BIGINT) AS nev
  FROM tagged GROUP BY user_id
),
leaked AS (
  SELECT CAST(SUM(CASE WHEN nsplits > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_leaked_users
  FROM per_user
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS te FROM tagged)
SELECT split,
  CAST(COUNT(*) AS BIGINT) AS n_users,
  CAST(SUM(nev) AS BIGINT) AS n_events,
  CAST((SUM(nev) * 2000000 + te) // (2 * te) AS DOUBLE) / 1000000.0
    AS event_fraction,
  n_leaked_users
FROM per_user, tot, leaked
GROUP BY split, te, n_leaked_users
"""

ORACLES["hapax_tail_stats"] = """
WITH tok AS (
  SELECT source, tok, COUNT(*) AS c
  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY source, tok
),
s AS (
  SELECT source,
    CAST(COUNT(*) AS BIGINT) AS vocab,
    CAST(SUM(c) AS BIGINT) AS n_tokens,
    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
  FROM tok GROUP BY source
)
SELECT source, vocab, n_tokens, hapax,
  CAST((CAST(hapax AS HUGEINT) * 2000000 + vocab)
       // (2 * CAST(vocab AS HUGEINT)) AS DOUBLE) / 1000000.0 AS hapax_rate,
  CAST((CAST(vocab AS HUGEINT) * 2000000 + n_tokens)
       // (2 * CAST(n_tokens AS HUGEINT)) AS DOUBLE) / 1000000.0
    AS type_token_ratio
FROM s
"""

ORACLES["event_halflife_fit"] = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
    CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, day
),
base AS (SELECT event_type, MIN(day) AS d0 FROM daily GROUP BY event_type),
pts AS (
  SELECT d.event_type, CAST(d.day - b.d0 AS BIGINT) AS x,
    {fixed_ln_micro_sql('d.c', '1', 1000000)} AS y
  FROM daily d JOIN base b USING (event_type)
),
s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
    SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
  FROM pts GROUP BY event_type
),
f AS (
  SELECT event_type, n_days,
    CAST(n_days AS HUGEINT) * sxy - sx * sy AS num,
    CAST(n_days AS HUGEINT) * sxx - sx * sx AS den
  FROM s
),
sl AS (
  SELECT event_type, n_days,
    CASE WHEN den = 0 THEN NULL
         ELSE (CASE WHEN num < 0 THEN -1.0 ELSE 1.0 END)
              * CAST((abs(num) * 2000000 + den) // (2 * den) AS DOUBLE)
              / 1000000.0
    END AS slope_micronats_per_day
  FROM f
)
SELECT event_type, n_days, slope_micronats_per_day,
  CASE WHEN slope_micronats_per_day IS NULL
         OR CAST(ROUND(slope_micronats_per_day * 1000000) AS BIGINT) >= 0
       THEN NULL
       ELSE CAST((693147000000::HUGEINT * 2000000
                  + (-CAST(ROUND(slope_micronats_per_day * 1000000) AS BIGINT)))
                 // (2 * (-CAST(ROUND(slope_micronats_per_day * 1000000)
                                AS BIGINT))::HUGEINT) AS DOUBLE) / 1000000.0
  END AS half_life_days
FROM sl
"""

ORACLES["boolean_retrieval"] = """
WITH d AS (
  SELECT source, string_split(text, ' ') AS toks FROM documents
  WHERE text IS NOT NULL
),
m AS (
  SELECT source,
    (list_contains(toks, 'hash') AND list_contains(toks, 'join')) AS a,
    list_contains(toks, 'vector') AS b
  FROM d
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_and_matches,
  CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_or_matches,
  CAST(SUM(CASE WHEN a OR b THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
  CAST((SUM(CASE WHEN a OR b THEN 1 ELSE 0 END) * 2000000 + COUNT(*))
       // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS match_rate
FROM m GROUP BY source
"""

ORACLES["basket_size_variance"] = """
WITH li AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS sz
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT o.o_orderpriority, li.sz
  FROM orders o JOIN li ON o.o_orderkey = li.l_orderkey
),
s AS (
  SELECT o_orderpriority,
    CAST(COUNT(*) AS BIGINT) AS n_orders,
    CAST(SUM(sz) AS BIGINT) AS total_lines,
    SUM(CAST(sz AS HUGEINT) * CAST(sz AS HUGEINT)) AS sxx
  FROM j GROUP BY o_orderpriority
)
SELECT o_orderpriority, n_orders, total_lines,
  CAST((CAST(total_lines AS HUGEINT) * 2000000 + n_orders)
       // (2 * CAST(n_orders AS HUGEINT)) AS DOUBLE) / 1000000.0 AS mean_lines,
  CAST(((CAST(n_orders AS HUGEINT) * sxx
         - CAST(total_lines AS HUGEINT) * CAST(total_lines AS HUGEINT))
        * 2000000
        + CAST(n_orders AS HUGEINT) * CAST(n_orders AS HUGEINT))
       // (2 * CAST(n_orders AS HUGEINT) * CAST(n_orders AS HUGEINT))
       AS DOUBLE) / 1000000.0 AS var_lines
FROM s
"""

ORACLES["embedding_drift_by_label"] = f"""
WITH {_EMB_VALID}, base AS (
  SELECT label, vec_id % 2 AS half,
    [CAST(x AS DOUBLE) FOR x IN embedding] AS v
  FROM emb_valid
),
cent AS (
  SELECT label, half, i AS dim, ROUND(AVG(v[i]), 6) AS cv
  FROM base, (SELECT unnest(generate_series(1, 64)) AS i) dims(i)
  GROUP BY label, half, i
),
vecs AS (
  SELECT label, half, list(cv ORDER BY dim) AS v
  FROM cent GROUP BY label, half
)
SELECT a.label,
  ROUND(
    list_reduce(list_prepend(0.0, [a.v[i] * b.v[i] FOR i IN generate_series(1, 64)]),
                (x, y) -> x + y)
    / (sqrt(list_reduce(list_prepend(0.0, [a.v[i] * a.v[i] FOR i IN generate_series(1, 64)]),
                        (x, y) -> x + y))
       * sqrt(list_reduce(list_prepend(0.0, [b.v[i] * b.v[i] FOR i IN generate_series(1, 64)]),
                          (x, y) -> x + y))),
    6) AS centroid_cosine
FROM vecs a JOIN vecs b ON a.label = b.label AND a.half = 0 AND b.half = 1
"""

ORACLES["resurrected_users"] = """
WITH d AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
g AS (
  SELECT user_id,
    day - lag(day) OVER (PARTITION BY user_id ORDER BY day) AS gap
  FROM d
)
SELECT user_id,
  CAST(COUNT(*) AS BIGINT) AS n_active_days,
  CAST(MAX(COALESCE(gap, 0)) AS BIGINT) AS max_gap_days,
  CAST(SUM(CASE WHEN gap >= 7 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_resurrections
FROM g GROUP BY user_id
"""

ORACLES["clv_features"] = """
WITH cust AS (
  SELECT o_custkey,
    CAST(COUNT(*) AS BIGINT) AS frequency,
    MIN(epoch_us(o_orderdate) // 86400000000) AS f,
    MAX(epoch_us(o_orderdate) // 86400000000) AS l,
    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) * 100 AS BIGINT)
      AS monetary_cents
  FROM orders GROUP BY o_custkey
),
anchor AS (SELECT MAX(l) AS now FROM cust)
SELECT o_custkey, frequency, monetary_cents,
  CAST(now - l AS BIGINT) AS recency_days,
  CAST(l - f AS BIGINT) AS tenure_days,
  -- sign-magnitude round-half-away (exact_ratio twin; see incremental_agg_merge)
  CASE WHEN monetary_cents < 0 THEN -1.0 ELSE 1.0 END
    * CAST((ABS(CAST(monetary_cents AS HUGEINT)) * 2000000 + frequency)
       // (2 * CAST(frequency AS HUGEINT)) AS DOUBLE) / 1000000.0
    AS avg_order_cents,
  CASE WHEN frequency <= 1 THEN NULL
       ELSE CAST(((l - f) * 2000000 + (frequency - 1))
                 // (2 * (frequency - 1)) AS DOUBLE) / 1000000.0
  END AS mean_order_gap_days
FROM cust, anchor
"""

ORACLES["seasonal_naive_forecast_error"] = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
    CAST(SUM(CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100, 0) AS BIGINT))
         AS BIGINT) AS y
  FROM events GROUP BY event_type, day
),
f AS (
  SELECT event_type, y,
    lag(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS yhat
  FROM daily
),
e AS (
  SELECT event_type, y, yhat,
    (abs(y - yhat) * 2000000 + abs(y)) // (2 * abs(y)) AS ape
  FROM f WHERE yhat IS NOT NULL AND y <> 0
),
s AS (
  SELECT event_type,
    CAST(COUNT(*) AS BIGINT) AS n_forecasts,
    CAST(SUM(abs(y - yhat)) AS BIGINT) AS sae,
    CAST(SUM(ape) AS BIGINT) AS sape
  FROM e GROUP BY event_type
)
SELECT event_type, n_forecasts,
  CAST((CAST(sae AS HUGEINT) * 2000000 + n_forecasts)
       // (2 * CAST(n_forecasts AS HUGEINT)) AS DOUBLE) / 1000000.0
    AS mae_cents,
  CAST((CAST(sape AS HUGEINT) * 2000000 + CAST(n_forecasts AS HUGEINT) * 1000000)
       // (2 * CAST(n_forecasts AS HUGEINT) * 1000000) AS DOUBLE) / 1000000.0
    AS mape
FROM s
"""

ORACLES["theil_sen_trend"] = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
    CAST(SUM(CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100, 0) AS BIGINT))
         AS BIGINT) AS y
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
  GROUP BY event_type, day
),
pairs AS (
  SELECT a.event_type AS grp,
    (CASE WHEN b.y - a.y < 0 THEN -1 ELSE 1 END)
    * ((abs((b.y - a.y) * 1000000) * 2 + (b.day - a.day))
       // (2 * (b.day - a.day))) AS c
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
)
SELECT grp AS event_type,
  CAST(COUNT(*) AS BIGINT) AS n_pairs,
  median(c) AS theil_sen_slope_scaled
FROM pairs GROUP BY grp
"""

ORACLES["lorenz_deciles"] = """
WITH cust AS (
  SELECT o_custkey,
    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) * 100 AS BIGINT)
      AS cents
  FROM orders GROUP BY o_custkey
),
tiled AS (
  SELECT cents,
    CAST(ntile(10) OVER (ORDER BY cents, o_custkey) AS BIGINT) AS decile
  FROM cust
),
dec AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
    CAST(SUM(cents) AS BIGINT) AS decile_cents
  FROM tiled GROUP BY decile
),
tot AS (SELECT CAST(SUM(decile_cents) AS BIGINT) AS t FROM dec)
SELECT decile, n_customers, decile_cents,
  CAST((CAST(decile_cents AS HUGEINT) * 2000000 + t)
       // (2 * CAST(t AS HUGEINT)) AS DOUBLE) / 1000000.0 AS revenue_share
FROM dec, tot
"""

# k-center greedy is deterministic (round-6 distances, vec_id ties), so the
# oracle unrolls the identical 4 selection rounds.
_KC_D2 = (
    "ROUND(list_reduce(list_prepend(0.0, "
    "[({L}.v[i] - {R}[i]) * ({L}.v[i] - {R}[i]) FOR i IN generate_series(1, 64)]), "
    "(x, y) -> x + y), 6)"
)

ORACLES["kcenter_coreset"] = f"""
WITH {_EMB_VALID}, base AS (
  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM emb_valid
),
c1 AS (SELECT vec_id AS center_id, v AS cv FROM base ORDER BY vec_id LIMIT 1),
m1 AS (
  SELECT b.vec_id, b.v, {_KC_D2.format(L='b', R='c1.cv')} AS md
  FROM base b, c1
),
p2 AS (
  SELECT vec_id, v, md FROM m1
  WHERE vec_id NOT IN (SELECT center_id FROM c1)
  ORDER BY md DESC, vec_id LIMIT 1
),
m2 AS (
  SELECT m1.vec_id, m1.v,
    LEAST(m1.md, {_KC_D2.format(L='m1', R='p2.v')}) AS md
  FROM m1, p2
),
p3 AS (
  SELECT vec_id, v, md FROM m2
  WHERE vec_id NOT IN (SELECT center_id FROM c1)
    AND vec_id NOT IN (SELECT vec_id FROM p2)
  ORDER BY md DESC, vec_id LIMIT 1
),
m3 AS (
  SELECT m2.vec_id, m2.v,
    LEAST(m2.md, {_KC_D2.format(L='m2', R='p3.v')}) AS md
  FROM m2, p3
),
p4 AS (
  SELECT vec_id, v, md FROM m3
  WHERE vec_id NOT IN (SELECT center_id FROM c1)
    AND vec_id NOT IN (SELECT vec_id FROM p2)
    AND vec_id NOT IN (SELECT vec_id FROM p3)
  ORDER BY md DESC, vec_id LIMIT 1
),
m4 AS (
  SELECT m3.vec_id,
    LEAST(m3.md, {_KC_D2.format(L='m3', R='p4.v')}) AS md
  FROM m3, p4
),
cov AS (SELECT MAX(md) AS coverage_d2 FROM m4),
sel AS (
  SELECT center_id, CAST(1 AS BIGINT) AS sel_order,
    CAST(NULL AS DOUBLE) AS d2_at_selection FROM c1
  UNION ALL SELECT vec_id, 2, md FROM p2
  UNION ALL SELECT vec_id, 3, md FROM p3
  UNION ALL SELECT vec_id, 4, md FROM p4
)
SELECT sel.center_id, sel.sel_order, sel.d2_at_selection, cov.coverage_d2
FROM sel, cov
"""

ORACLES["token_coverage_point"] = """
WITH freqs AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
),
cum AS (
  SELECT c,
    CAST(SUM(c) OVER (ORDER BY c DESC, tok ROWS UNBOUNDED PRECEDING)
         AS BIGINT) AS cum,
    CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT) AS cum_rank
  FROM freqs
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS vocab,
    CAST(MAX(cum) AS BIGINT) AS total_occurrences
  FROM cum
)
SELECT tot.vocab, tot.total_occurrences,
  (SELECT CAST(MIN(cum_rank) AS BIGINT) FROM cum, tot
   WHERE cum * 10 >= total_occurrences * 9) AS k90,
  (SELECT CAST(MIN(cum_rank) AS BIGINT) FROM cum, tot
   WHERE cum * 100 >= total_occurrences * 99) AS k99
FROM tot
"""

ORACLES["error_exposure_conversion"] = """
WITH per_user AS (
  SELECT user_id,
    MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS exposed,
    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
cells AS (
  SELECT exposed, CAST(COUNT(*) AS BIGINT) AS n_users,
    CAST(SUM(converted) AS BIGINT) AS n_converted
  FROM per_user GROUP BY exposed
),
rr AS (
  SELECT CASE WHEN c.n_converted = 0 OR e.n_users = 0 THEN NULL
    ELSE (CASE WHEN e.n_converted * c.n_users < 0 THEN -1.0 ELSE 1.0 END)
         * CAST((abs(CAST(e.n_converted AS HUGEINT) * c.n_users) * 2000000
                 + CAST(e.n_users AS HUGEINT) * c.n_converted)
                // (2 * CAST(e.n_users AS HUGEINT) * c.n_converted) AS DOUBLE)
           / 1000000.0
    END AS risk_ratio
  FROM (SELECT * FROM cells WHERE exposed = 1) e,
       (SELECT * FROM cells WHERE exposed = 0) c
)
SELECT CAST(cells.exposed AS BIGINT) AS exposed, cells.n_users,
  cells.n_converted,
  CAST((cells.n_converted * 2000000 + cells.n_users)
       // (2 * cells.n_users) AS DOUBLE) / 1000000.0 AS conversion_rate,
  rr.risk_ratio
FROM cells, rr
"""

ORACLES["priority_segment_cramers_v"] = """
WITH cells AS (
  SELECT o.o_orderpriority, c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS o
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY o.o_orderpriority, c.c_mktsegment
),
r AS (SELECT o_orderpriority, SUM(o) AS r_tot FROM cells GROUP BY 1),
c AS (SELECT c_mktsegment, SUM(o) AS c_tot FROM cells GROUP BY 1),
n AS (SELECT SUM(o) AS n_tot FROM cells),
per AS (
  SELECT
    CAST((CAST(o * n_tot - r_tot * c_tot AS HUGEINT)
          * CAST(o * n_tot - r_tot * c_tot AS HUGEINT) * 2000000
          + CAST(r_tot * c_tot AS HUGEINT) * n_tot)
         // (2 * CAST(r_tot * c_tot AS HUGEINT) * n_tot) AS BIGINT) AS chi,
    n_tot
  FROM cells JOIN r USING (o_orderpriority) JOIN c USING (c_mktsegment), n
),
dims AS (
  SELECT (SELECT COUNT(*) FROM r) AS nr, (SELECT COUNT(*) FROM c) AS nc
),
s AS (
  SELECT CAST(n_tot AS BIGINT) AS n_rows,
    CAST(COUNT(*) AS BIGINT) AS n_cells,
    CAST(SUM(chi) AS BIGINT) AS chi2_scaled
  FROM per GROUP BY n_tot
)
SELECT s.n_rows, s.n_cells, s.chi2_scaled,
  ROUND(sqrt((CAST(s.chi2_scaled AS DOUBLE) / 1000000.0)
             / (CAST(s.n_rows AS DOUBLE)
                * CAST(least(dims.nr - 1, dims.nc - 1) AS DOUBLE))), 6)
    AS cramers_v
FROM s, dims
"""

ORACLES["minhash_calibration_curve"] = f"""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
sh AS (
  SELECT doc_id,
    {_SHINGLE_SET} AS shingle_set
  FROM docs
),
sig AS (
  SELECT doc_id, shingle_set,
    {_MINHASH_SIG} AS ms
  FROM sh WHERE len(shingle_set) > 0
),
banded AS (
  SELECT doc_id, b AS band_id,
    {_LSH_BAND_KEY} AS band_key
  FROM sig, {_LSH_BANDS}
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.doc_id < r.doc_id
),
pairs AS (
  SELECT
    len(list_filter([a.ms[i] = b.ms[i] FOR i IN generate_series(1, 8)],
                    x -> x)) AS est_matches,
    (CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS BIGINT)
       * 2000000
     + len(list_distinct(list_concat(a.shingle_set, b.shingle_set))))
    // (2 * len(list_distinct(list_concat(a.shingle_set, b.shingle_set))))
      AS js
  FROM cand
  JOIN sig a ON a.doc_id = id_a
  JOIN sig b ON b.doc_id = id_b
)
SELECT CAST(est_matches AS BIGINT) AS est_matches,
  CAST(COUNT(*) AS BIGINT) AS n_pairs,
  CAST((CAST(SUM(js) AS HUGEINT) * 2000000
        + CAST(COUNT(*) AS HUGEINT) * 1000000)
       // (2 * CAST(COUNT(*) AS HUGEINT) * 1000000) AS DOUBLE) / 1000000.0
    AS mean_exact_jaccard
FROM pairs GROUP BY est_matches
"""

ORACLES["langid_confusion_eval"] = """
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents),
s AS (
  SELECT doc_id, lang,
    len(list_filter(words, w -> list_contains(['the','a','of','and','to'], w))) AS score_en,
    len(list_filter(words, w -> list_contains(['el','la','de','que','y'], w))) AS score_es,
    len(list_filter(words, w -> list_contains(['le','la','et','les','des'], w))) AS score_fr,
    len(list_filter(words, w -> list_contains(['der','die','und','das','ein'], w))) AS score_de,
    len(list_filter(words, w -> list_contains(['de5','shi4','le5','zai4','he2'], w))) AS score_zh
  FROM t
),
p AS (
  SELECT lang,
    CASE WHEN best > 0 AND score_en = best THEN 'en'
         WHEN best > 0 AND score_es = best THEN 'es'
         WHEN best > 0 AND score_fr = best THEN 'fr'
         WHEN best > 0 AND score_de = best THEN 'de'
         WHEN best > 0 AND score_zh = best THEN 'zh'
         ELSE 'und' END AS lang_pred
  FROM (SELECT *, greatest(score_en, score_es, score_fr, score_de, score_zh)
               AS best FROM s)
),
conf AS (
  SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
  FROM p GROUP BY lang, lang_pred
),
classes AS (
  SELECT DISTINCT lang AS cls FROM conf
  UNION SELECT DISTINCT lang_pred FROM conf
),
per AS (
  SELECT c.cls,
    CAST(COALESCE(SUM(CASE WHEN conf.lang = c.cls AND conf.lang_pred = c.cls
                           THEN conf.n END), 0) AS BIGINT) AS tp,
    CAST(COALESCE(SUM(CASE WHEN conf.lang_pred = c.cls AND conf.lang <> c.cls
                           THEN conf.n END), 0) AS BIGINT) AS fp,
    CAST(COALESCE(SUM(CASE WHEN conf.lang = c.cls AND conf.lang_pred <> c.cls
                           THEN conf.n END), 0) AS BIGINT) AS fn
  FROM classes c JOIN conf ON conf.lang = c.cls OR conf.lang_pred = c.cls
  GROUP BY c.cls
)
SELECT cls, tp, fp, fn,
  CAST((tp * 2000000 + greatest(tp + fp, 1)) // (2 * greatest(tp + fp, 1))
       AS DOUBLE) / 1000000.0 AS precision,
  CAST((tp * 2000000 + greatest(tp + fn, 1)) // (2 * greatest(tp + fn, 1))
       AS DOUBLE) / 1000000.0 AS recall,
  CAST((tp * 2 * 2000000 + greatest(tp * 2 + fp + fn, 1))
       // (2 * greatest(tp * 2 + fp + fn, 1)) AS DOUBLE) / 1000000.0 AS f1
FROM per
"""

ORACLES["ab_test_proportions"] = """
WITH per_user AS (
  SELECT user_id,
    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 5
              > COUNT(*) THEN 1 ELSE 0 END AS conv,
    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2
      AS arm
  FROM events GROUP BY user_id
),
cells AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(conv) AS BIGINT) AS c
  FROM per_user GROUP BY arm
),
j AS (
  SELECT a.n AS n_a, a.c AS c_a, b.n AS n_b, b.c AS c_b
  FROM (SELECT * FROM cells WHERE arm = 0) a,
       (SELECT * FROM cells WHERE arm = 1) b
),
r AS (
  SELECT *,
    CAST((c_a * 2000000 + n_a) // (2 * n_a) AS DOUBLE) / 1000000.0 AS rate_a,
    CAST((c_b * 2000000 + n_b) // (2 * n_b) AS DOUBLE) / 1000000.0 AS rate_b,
    CAST(((c_a + c_b) * 2000000 + (n_a + n_b)) // (2 * (n_a + n_b))
         AS DOUBLE) / 1000000.0 AS pool
  FROM j
)
SELECT n_a, c_a, n_b, c_b, rate_a, rate_b,
  CASE WHEN pool * (1.0 - pool)
            * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)) <= 0
       THEN NULL
       ELSE ROUND((rate_a - rate_b)
                  / sqrt(pool * (1.0 - pool)
                         * (1.0 / CAST(n_a AS DOUBLE)
                            + 1.0 / CAST(n_b AS DOUBLE))), 6)
  END AS z_stat
FROM r
"""

ORACLES["value_percentile_grid"] = """
WITH v AS (
  SELECT event_type,
    CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100, 0) AS BIGINT) AS c
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
),
freq AS (
  SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS f
  FROM v GROUP BY event_type, c
),
cum AS (
  SELECT *, SUM(f) OVER (PARTITION BY event_type ORDER BY c
                         ROWS UNBOUNDED PRECEDING) AS cumf,
    SUM(f) OVER (PARTITION BY event_type) AS n
  FROM freq
)
SELECT event_type,
  CAST(MAX(n) AS BIGINT) AS n_events,
  CAST(MIN(CASE WHEN cumf >= greatest((n * 10 + 99) // 100, 1) THEN c END)
       AS BIGINT) AS p10_cents,
  CAST(MIN(CASE WHEN cumf >= greatest((n * 25 + 99) // 100, 1) THEN c END)
       AS BIGINT) AS p25_cents,
  CAST(MIN(CASE WHEN cumf >= greatest((n * 50 + 99) // 100, 1) THEN c END)
       AS BIGINT) AS p50_cents,
  CAST(MIN(CASE WHEN cumf >= greatest((n * 75 + 99) // 100, 1) THEN c END)
       AS BIGINT) AS p75_cents,
  CAST(MIN(CASE WHEN cumf >= greatest((n * 90 + 99) // 100, 1) THEN c END)
       AS BIGINT) AS p90_cents
FROM cum GROUP BY event_type
"""

ORACLES["dedup_impact_report"] = """
WITH d AS (
  SELECT source, md5(text) AS h,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
fam AS (
  SELECT source, h, CAST(COUNT(*) AS BIGINT) AS n, MAX(n_tok) AS tok
  FROM d GROUP BY source, h
),
rep AS (
  SELECT source,
    CAST(SUM(n) AS BIGINT) AS n_docs,
    CAST(COUNT(*) AS BIGINT) AS n_unique,
    CAST(SUM((n - 1) * tok) AS BIGINT) AS tokens_removed,
    CAST(MAX(n) AS BIGINT) AS largest_family
  FROM fam GROUP BY source
)
SELECT source, n_docs, n_unique,
  n_docs - n_unique AS n_removed,
  tokens_removed, largest_family,
  CAST((CAST(n_docs - n_unique AS HUGEINT) * 2000000 + n_docs)
       // (2 * CAST(n_docs AS HUGEINT)) AS DOUBLE) / 1000000.0
    AS removal_rate
FROM rep
"""

ORACLES["conditional_entropy_bigram"] = f"""
WITH base AS (
  SELECT lang, doc_id, string_split(text, ' ') AS ws FROM documents
),
bi AS (
  SELECT lang, ws[i] AS w1, ws[i+1] AS w2
  FROM base, (SELECT unnest(generate_series(1, 100000)) AS i) idx(i)
  WHERE i < len(ws)
),
c12 AS (
  SELECT lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM bi GROUP BY lang, w1, w2
),
c1 AS (
  SELECT lang, w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY lang, w1
),
s AS (
  SELECT c12.lang,
    CAST(SUM(c12.c12) AS BIGINT) AS n_bigrams,
    CAST(SUM(c12.c12 * {fixed_ln_micro_sql('c1.c1', 'c12.c12', 1000000)})
         AS BIGINT) AS entropy_scaled_sum
  FROM c12 JOIN c1 USING (lang, w1)
  GROUP BY c12.lang
)
SELECT lang, n_bigrams, entropy_scaled_sum,
  CAST((CAST(abs(entropy_scaled_sum) AS HUGEINT) * 2000000
        + CAST(n_bigrams AS HUGEINT) * 1000000)
       // (2 * CAST(n_bigrams AS HUGEINT) * 1000000) AS DOUBLE) / 1000000.0
    AS cond_entropy_nats
FROM s
"""

ORACLES["source_quality_leaderboard"] = """
WITH d AS (
  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS x
  FROM documents
),
s AS (
  SELECT source,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(x) AS BIGINT) AS sx,
    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
  FROM d GROUP BY source
),
f AS (
  SELECT source, n_docs, sx, sxx,
    CAST(n_docs AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT)
      AS vnum,
    CAST(n_docs AS HUGEINT) * CAST(n_docs AS HUGEINT) AS vden
  FROM s
)
SELECT source, n_docs,
  CAST((CAST(sx AS HUGEINT) * 2000000 + n_docs)
       // (2 * CAST(n_docs AS HUGEINT)) AS DOUBLE) / 1000000.0 AS mean_tokens,
  CAST((vnum * 2000000 + vden) // (2 * vden) AS DOUBLE) / 1000000.0
    AS var_tokens,
  ROUND(1.96 * sqrt((CAST((vnum * 2000000 + vden) // (2 * vden) AS DOUBLE)
                     / 1000000.0) / CAST(n_docs AS DOUBLE)), 6)
    AS ci95_halfwidth
FROM f
"""

ORACLES["daily_revenue_autocorr"] = """
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
    CAST(SUM(CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100, 0) AS BIGINT))
         AS BIGINT) AS y
  FROM events GROUP BY day
),
pairs AS (
  SELECT y, lag(y) OVER (ORDER BY day) AS x FROM daily
  QUALIFY x IS NOT NULL
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
    SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
    SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
  FROM pairs
),
f AS (
  SELECT n_pairs,
    CAST(n_pairs AS HUGEINT) * sxy - sx * sy AS num,
    CAST(n_pairs AS HUGEINT) * sxx - sx * sx AS dx,
    CAST(n_pairs AS HUGEINT) * syy - sy * sy AS dy
  FROM s
)
SELECT n_pairs,
  CASE WHEN dx = 0 OR dy = 0 THEN NULL
       ELSE ROUND(CAST(num AS DOUBLE)
                  / (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE))), 6)
  END AS lag1_autocorr
FROM f
"""

# 12 unrolled quantized power iterations over the <=25-cell chain — a
# recursive CTE with an iteration counter keeps the SQL twin compact.
ORACLES["event_markov_stationary"] = """
WITH RECURSIVE e AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us FROM events
  WHERE event_type IS NOT NULL
),
tr AS (
  SELECT lag(event_type) OVER w AS a, event_type AS b
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
counts AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c
  FROM tr WHERE a IS NOT NULL GROUP BY a, b
),
row_tot AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ra FROM counts GROUP BY a),
p AS (
  SELECT counts.a, counts.b,
    CAST((c * 2000000 + ra) // (2 * ra) AS BIGINT) AS p6
  FROM counts JOIN row_tot USING (a)
),
states AS (
  SELECT DISTINCT s FROM (SELECT a AS s FROM counts UNION ALL SELECT b FROM counts)
),
it AS (
  SELECT 0 AS k, s, CAST(200000 AS BIGINT) AS w FROM states
  UNION ALL
  SELECT k + 1, b AS s,
    CAST((SUM(w * p6) + 500000) // 1000000 AS BIGINT) AS w
  FROM (SELECT it.k, p.b, it.w, p.p6
        FROM it JOIN p ON p.a = it.s WHERE it.k < 12) step
  GROUP BY k, b
),
pi AS (SELECT s, w FROM it WHERE k = 12),
tot AS (SELECT CAST(SUM(w) AS BIGINT) AS t FROM pi)
SELECT s AS event_type, w AS pi_scaled,
  CAST((CAST(w AS HUGEINT) * 2000000 + t) // (2 * CAST(t AS HUGEINT))
       AS DOUBLE) / 1000000.0 AS pi_normalized
FROM pi, tot
"""

ORACLES["interevent_time_histogram"] = """
WITH e AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us FROM events
),
g AS (
  SELECT event_type,
    ts_us - lag(ts_us) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts_us, event_id) AS gap_us
  FROM e
),
s AS (
  SELECT event_type, gap_us // 1000000 AS gap_s FROM g WHERE gap_us IS NOT NULL
)
SELECT event_type,
  CAST(CASE WHEN gap_s <= 0 THEN 0
            ELSE length(printf('%b', gap_s)) END AS BIGINT) AS log2_bucket,
  CAST(COUNT(*) AS BIGINT) AS n_gaps,
  CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
  CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
FROM s
GROUP BY event_type, CASE WHEN gap_s <= 0 THEN 0
                          ELSE length(printf('%b', gap_s)) END
"""

ORACLES["new_vs_returning_revenue"] = """
WITH e AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
    CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100, 0) AS BIGINT) AS cents
  FROM events
),
first AS (SELECT user_id, MIN(day) AS d0 FROM e GROUP BY user_id),
j AS (
  SELECT e.day, e.cents, e.user_id,
    CASE WHEN e.day = f.d0 THEN 1 ELSE 0 END AS is_new
  FROM e JOIN first f USING (user_id)
),
daily AS (
  SELECT CAST(day AS BIGINT) AS day,
    CAST(SUM(cents) AS BIGINT) AS total_cents,
    CAST(SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END) AS BIGINT)
      AS new_user_cents,
    CAST(COUNT(DISTINCT CASE WHEN is_new = 1 THEN user_id END) AS BIGINT)
      AS n_new_users
  FROM j GROUP BY day
)
SELECT day, total_cents, new_user_cents,
  total_cents - new_user_cents AS returning_cents,
  n_new_users,
  CASE WHEN total_cents = 0 THEN NULL
       ELSE (CASE WHEN new_user_cents < 0 THEN -1.0 ELSE 1.0 END)
            * CAST((abs(CAST(new_user_cents AS HUGEINT)) * 2000000
                    + total_cents)
                   // (2 * CAST(total_cents AS HUGEINT)) AS DOUBLE)
              / 1000000.0
  END AS new_revenue_share
FROM daily
"""

ORACLES["media_image_phash_dedup"] = """
WITH d AS (
  SELECT doc_id, (3 * doc_id) % 251 AS a FROM documents
),
lum AS (
  SELECT doc_id, y.y, x.x,
    ((a + y.y*24 + x.x*3) % 251) + ((a + y.y*24 + x.x*3 + 1) % 251)
      + ((a + y.y*24 + x.x*3 + 2) % 251) AS l
  FROM d,
    (SELECT unnest(generate_series(0, 7)) AS y) y,
    (SELECT unnest(generate_series(0, 7)) AS x) x
),
bits AS (
  SELECT l1.doc_id, l1.y, l1.x,
    CASE WHEN l2.l > l1.l THEN 1 ELSE 0 END AS b
  FROM lum l1
  JOIN lum l2 ON l1.doc_id = l2.doc_id AND l1.y = l2.y AND l2.x = l1.x + 1
  WHERE l1.x < 7
),
h AS (
  SELECT doc_id,
    CAST(SUM(b * (CAST(1 AS BIGINT) << (y*7 + x))) AS BIGINT) AS dhash
  FROM bits GROUP BY doc_id
)
SELECT dhash, CAST(COUNT(*) AS BIGINT) AS n_images,
  MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM h GROUP BY dhash
"""

ORACLES["media_audio_activity"] = """
WITH d AS (
  SELECT doc_id, (7 * doc_id) % 2001 AS b FROM documents
),
s AS (
  SELECT doc_id, i.i, ((b + i.i) % 2001) - 1000 AS v
  FROM d, (SELECT unnest(generate_series(0, 63)) AS i) i
),
p AS (
  SELECT doc_id, i, v,
    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
  FROM s
)
SELECT doc_id,
  CAST(64 AS BIGINT) AS n_samples,
  CAST(SUM(CASE WHEN pv IS NOT NULL AND pv * v < 0 THEN 1 ELSE 0 END)
       AS BIGINT) AS zero_crossings,
  CAST(SUM(CASE WHEN abs(v) < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_silence,
  CAST(MAX(abs(v)) AS INTEGER) AS peak
FROM p GROUP BY doc_id
"""

ORACLES["group_disjoint_split"] = """
WITH d AS (
  SELECT source,
    CAST(('0x' || substr(md5(source), 1, 8)) AS BIGINT) % 10 AS bucket,
    len(string_split(text, ' ')) AS nt
  FROM documents
),
s AS (
  SELECT CASE WHEN bucket < 8 THEN 'train'
              WHEN bucket < 9 THEN 'val' ELSE 'test' END AS split,
         source, nt
  FROM d
)
SELECT split,
  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(nt) AS BIGINT) AS n_tokens
FROM s GROUP BY split
"""

ORACLES["k_anonymity_audit"] = """
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
    CAST(COUNT(*) AS BIGINT) AS sz
  FROM customer GROUP BY 1, 2, 3
),
ks AS (SELECT unnest([2, 5, 10, 25]) AS k)
SELECT k,
  CAST(COUNT(*) AS BIGINT) AS n_classes,
  CAST(SUM(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT) AS classes_below_k,
  CAST(SUM(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT) AS rows_at_risk,
  CAST(MIN(sz) AS BIGINT) AS min_class_size
FROM classes, ks GROUP BY k
"""

ORACLES["community_modularity"] = """
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0
),
e0 AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lp x JOIN lp y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
),
sym AS (
  SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0
),
nodes AS (SELECT DISTINCT u AS node FROM sym),
l0 AS (SELECT node, node AS label FROM nodes),
p1 AS (
  SELECT s.u AS node, l.label, COUNT(*) AS c
  FROM sym s JOIN l0 l ON l.node = s.v GROUP BY s.u, l.label
  QUALIFY row_number() OVER (PARTITION BY s.u ORDER BY c DESC, l.label) = 1
),
l1 AS (
  SELECT n.node, COALESCE(p.label, n.node) AS label
  FROM nodes n LEFT JOIN p1 p USING (node)
),
p2 AS (
  SELECT s.u AS node, l.label, COUNT(*) AS c
  FROM sym s JOIN l1 l ON l.node = s.v GROUP BY s.u, l.label
  QUALIFY row_number() OVER (PARTITION BY s.u ORDER BY c DESC, l.label) = 1
),
l2 AS (
  SELECT n.node, COALESCE(p.label, n.node) AS label
  FROM nodes n LEFT JOIN p2 p USING (node)
),
p3 AS (
  SELECT s.u AS node, l.label, COUNT(*) AS c
  FROM sym s JOIN l2 l ON l.node = s.v GROUP BY s.u, l.label
  QUALIFY row_number() OVER (PARTITION BY s.u ORDER BY c DESC, l.label) = 1
),
l3 AS (
  SELECT n.node, COALESCE(p.label, n.node) AS label
  FROM nodes n LEFT JOIN p3 p USING (node)
),
tagged AS (
  SELECT e.a, e.b, la.label AS lab_a, lb.label AS lab_b
  FROM e0 e JOIN l3 la ON la.node = e.a JOIN l3 lb ON lb.node = e.b
),
mi AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
    CAST(SUM(CASE WHEN lab_a = lab_b THEN 1 ELSE 0 END) AS BIGINT)
      AS sum_intra
  FROM tagged
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
  GROUP BY node
),
dc AS (
  SELECT l.label, CAST(SUM(deg.d) AS BIGINT) AS d_c
  FROM deg JOIN l3 l ON l.node = deg.node GROUP BY l.label
),
ds AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
    CAST(SUM(d_c * d_c) AS BIGINT) AS sum_dsq
  FROM dc
)
SELECT m, n_communities, sum_intra,
  (CASE WHEN (4 * CAST(m AS HUGEINT) * sum_intra - sum_dsq) < 0
        THEN -1.0 ELSE 1.0 END)
  * CAST((abs(4 * CAST(m AS HUGEINT) * sum_intra - sum_dsq) * 2000000
          + (4 * CAST(m AS HUGEINT) * m))
         // (2 * (4 * CAST(m AS HUGEINT) * m)) AS DOUBLE) / 1000000.0
  AS modularity
FROM mi, ds
"""

ORACLES["k_core_decomposition"] = """
WITH lp AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0
),
e0 AS MATERIALIZED (
  SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
  FROM lp x JOIN lp y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
),
deg1 AS MATERIALIZED (
  SELECT n, COUNT(*) AS d
  FROM (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0)
  GROUP BY n
),
keep1 AS MATERIALIZED (SELECT n FROM deg1 WHERE d >= 25),
e1 AS MATERIALIZED (
  SELECT e.u, e.v FROM e0 e
  JOIN keep1 ku ON ku.n = e.u
  JOIN keep1 kv ON kv.n = e.v
),
deg2 AS MATERIALIZED (
  SELECT n, COUNT(*) AS d
  FROM (SELECT u AS n FROM e1 UNION ALL SELECT v FROM e1)
  GROUP BY n
),
keep2 AS MATERIALIZED (SELECT n FROM deg2 WHERE d >= 25),
e2 AS MATERIALIZED (
  SELECT e.u, e.v FROM e1 e
  JOIN keep2 ku ON ku.n = e.u
  JOIN keep2 kv ON kv.n = e.v
),
deg3 AS MATERIALIZED (
  SELECT n, COUNT(*) AS d
  FROM (SELECT u AS n FROM e2 UNION ALL SELECT v FROM e2)
  GROUP BY n
),
keep3 AS MATERIALIZED (SELECT n FROM deg3 WHERE d >= 25),
e3 AS MATERIALIZED (
  SELECT e.u, e.v FROM e2 e
  JOIN keep3 ku ON ku.n = e.u
  JOIN keep3 kv ON kv.n = e.v
),
deg4 AS MATERIALIZED (
  SELECT n, COUNT(*) AS d
  FROM (SELECT u AS n FROM e3 UNION ALL SELECT v FROM e3)
  GROUP BY n
),
keep4 AS MATERIALIZED (SELECT n FROM deg4 WHERE d >= 25),
e4 AS MATERIALIZED (
  SELECT e.u, e.v FROM e3 e
  JOIN keep4 ku ON ku.n = e.u
  JOIN keep4 kv ON kv.n = e.v
)
SELECT CAST(1 AS INTEGER) AS round,
  CAST((SELECT COUNT(DISTINCT n)
        FROM (SELECT u AS n FROM e1 UNION ALL SELECT v FROM e1))
       AS BIGINT) AS nodes_remaining,
  CAST((SELECT COUNT(*) FROM e1) AS BIGINT) AS edges_remaining
UNION ALL
SELECT CAST(2 AS INTEGER) AS round,
  CAST((SELECT COUNT(DISTINCT n)
        FROM (SELECT u AS n FROM e2 UNION ALL SELECT v FROM e2))
       AS BIGINT) AS nodes_remaining,
  CAST((SELECT COUNT(*) FROM e2) AS BIGINT) AS edges_remaining
UNION ALL
SELECT CAST(3 AS INTEGER) AS round,
  CAST((SELECT COUNT(DISTINCT n)
        FROM (SELECT u AS n FROM e3 UNION ALL SELECT v FROM e3))
       AS BIGINT) AS nodes_remaining,
  CAST((SELECT COUNT(*) FROM e3) AS BIGINT) AS edges_remaining
UNION ALL
SELECT CAST(4 AS INTEGER) AS round,
  CAST((SELECT COUNT(DISTINCT n)
        FROM (SELECT u AS n FROM e4 UNION ALL SELECT v FROM e4))
       AS BIGINT) AS nodes_remaining,
  CAST((SELECT COUNT(*) FROM e4) AS BIGINT) AS edges_remaining
"""

ORACLES["temperature_mixture_weights"] = """
WITH per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
s AS (
  SELECT *, CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
    AS sq
  FROM per
),
t AS (SELECT CAST(SUM(sq) AS BIGINT) AS tot FROM s)
SELECT source, n_docs, n_tokens,
  CAST((CAST(sq AS HUGEINT) * 2000000 + tot) // (2 * CAST(tot AS HUGEINT))
       AS DOUBLE) / 1000000.0 AS mix_weight,
  CAST((CAST(sq AS HUGEINT) * 1000000) // CAST(tot AS HUGEINT) AS BIGINT)
    AS token_budget
FROM s, t
"""

ORACLES["text_tiling_segments"] = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
blk AS (
  SELECT doc_id,
    [list_distinct(ws[i*20+1 : i*20+20])
     FOR i IN generate_series(0, CAST(ceil(len(ws)/20.0) AS BIGINT) - 1)]
    AS bs
  FROM w
),
sc AS (
  SELECT doc_id, len(bs) AS n_blocks,
    [len(list_intersect(bs[i], bs[i+1]))
     FOR i IN generate_series(1, len(bs) - 1)] AS its,
    [len(list_distinct(list_concat(bs[i], bs[i+1])))
     FOR i IN generate_series(1, len(bs) - 1)] AS uns
  FROM blk WHERE len(bs) >= 2
),
a AS (
  SELECT doc_id, CAST(n_blocks AS BIGINT) AS n_blocks,
    CAST(list_sum([CASE WHEN its[j] * 2 < uns[j] THEN 1 ELSE 0 END
                   FOR j IN generate_series(1, len(its))]) AS BIGINT)
      AS n_boundaries,
    CAST(list_sum(its) AS BIGINT) AS si,
    CAST(list_sum(uns) AS BIGINT) AS su
  FROM sc
)
SELECT doc_id, n_blocks, COALESCE(n_boundaries, 0) AS n_boundaries,
  CAST((CAST(si AS HUGEINT) * 2000000 + su) // (2 * CAST(su AS HUGEINT))
       AS DOUBLE) / 1000000.0 AS mean_cohesion
FROM a
"""

ORACLES["markov_removal_attribution"] = """
WITH RECURSIVE e AS (
  SELECT user_id, event_type, event_id,
    epoch_us(ts) // 86400000000 AS day, epoch_us(ts) AS ts_us
  FROM events
),
rn AS (
  SELECT *, row_number() OVER w AS rn
  FROM e WINDOW w AS (PARTITION BY user_id, day ORDER BY ts_us, event_id)
),
fp AS (
  SELECT user_id, day, MIN(rn) AS fp_rn
  FROM rn WHERE event_type = 'purchase' GROUP BY user_id, day
),
j AS (
  SELECT rn.*, fp.fp_rn FROM rn LEFT JOIN fp USING (user_id, day)
),
pre AS (
  SELECT * FROM j
  WHERE event_type <> 'purchase' AND (fp_rn IS NULL OR rn < fp_rn)
),
inner_tr AS (
  SELECT COALESCE(lag(event_type) OVER w2, 'START') AS a, event_type AS b
  FROM pre WINDOW w2 AS (PARTITION BY user_id, day ORDER BY rn)
),
last_pre AS (
  SELECT user_id, day, arg_max(event_type, rn) AS last_t
  FROM pre GROUP BY user_id, day
),
journeys AS (
  SELECT user_id, day, MAX(fp_rn IS NOT NULL) AS conv
  FROM j GROUP BY user_id, day
),
terminal AS (
  SELECT COALESCE(lp.last_t, 'START') AS a,
    CASE WHEN jo.conv THEN 'CONV' ELSE 'NULL' END AS b
  FROM journeys jo LEFT JOIN last_pre lp USING (user_id, day)
),
counts AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT a, b FROM inner_tr UNION ALL SELECT a, b FROM terminal)
  GROUP BY a, b
),
row_tot AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ra FROM counts GROUP BY a),
p AS (
  SELECT counts.a, counts.b,
    CAST((c * 2000000 + ra) // (2 * ra) AS BIGINT) AS p6
  FROM counts JOIN row_tot USING (a)
),
scen AS (
  SELECT unnest(['none', 'view', 'click', 'signup', 'error']) AS removed
),
base AS MATERIALIZED (
  SELECT scen.removed, p.a, p.b, p.p6
  FROM p, scen WHERE p.a <> scen.removed AND p.b <> scen.removed
),
it AS (
  SELECT 0 AS k, removed, 'CONV' AS s, CAST(1000000 AS BIGINT) AS w FROM scen
  UNION ALL
  SELECT k, removed, s, w FROM (
    SELECT step.k + 1 AS k, step.removed, step.a AS s,
      CAST((SUM(step.p6 * step.w) + 500000) // 1000000 AS BIGINT) AS w
    FROM (SELECT it.k, base.removed, base.a, base.p6, it.w
          FROM it JOIN base
            ON base.b = it.s AND base.removed = it.removed
          WHERE it.k < 10) step
    GROUP BY step.k, step.removed, step.a
    UNION ALL
    SELECT DISTINCT k + 1 AS k, removed, 'CONV' AS s,
      CAST(1000000 AS BIGINT) AS w
    FROM it WHERE k < 10
  )
),
pconv AS (
  SELECT removed, w AS p_scaled FROM it WHERE k = 10 AND s = 'START'
),
fullp AS (
  SELECT p_scaled AS p_full_scaled FROM pconv WHERE removed = 'none'
),
per_ch AS (
  SELECT pconv.removed AS channel, fullp.p_full_scaled,
    pconv.p_scaled AS p_removed_scaled,
    fullp.p_full_scaled - pconv.p_scaled AS drp
  FROM pconv, fullp WHERE pconv.removed <> 'none'
),
td AS (SELECT CAST(SUM(drp) AS BIGINT) AS tdrop FROM per_ch)
SELECT channel, p_full_scaled, p_removed_scaled,
  (CASE WHEN drp < 0 THEN -1.0 ELSE 1.0 END)
  * CAST((abs(CAST(drp AS HUGEINT)) * 2000000
          + greatest(p_full_scaled, 1))
         // (2 * CAST(greatest(p_full_scaled, 1) AS HUGEINT)) AS DOUBLE)
    / 1000000.0 AS removal_effect,
  (CASE WHEN drp < 0 THEN -1.0 ELSE 1.0 END)
  * CAST((abs(CAST(drp AS HUGEINT)) * 2000000 + greatest(tdrop, 1))
         // (2 * CAST(greatest(tdrop, 1) AS HUGEINT)) AS DOUBLE)
    / 1000000.0 AS attribution_share
FROM per_ch, td
"""

ORACLES["orders_nested_export"] = """
-- concat_ws (NULL parts skipped) + trunc-toward-zero quantity match the
-- Spark side exactly on hostile NULL/fractional rows ('||' would NULL the
-- whole item; CAST(DOUBLE AS BIGINT) rounds in DuckDB but truncates in
-- Spark)
WITH li AS (
  SELECT l_orderkey, l_linenumber,
    concat_ws(':', l_linenumber, l_partkey,
              CAST(trunc(l_quantity) AS BIGINT)) AS item
  FROM lineitem WHERE l_orderkey % 50 = 0
)
SELECT l_orderkey,
  CAST(COUNT(*) AS BIGINT) AS n_items,
  md5(string_agg(item, '|' ORDER BY l_linenumber, item)) AS items_digest,
  min({'ln': l_linenumber, 'it': item}).it AS first_item,
  max({'ln': l_linenumber, 'it': item}).it AS last_item
FROM li GROUP BY l_orderkey
"""

ORACLES["benford_digit_audit"] = """
-- abs() before the digit pull: Benford runs on magnitudes, and a leading
-- '-' would crash the int cast on both engines
WITH d AS (
  SELECT CAST(substr(CAST(ABS(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR),
              1, 1) AS INTEGER) AS digit
  FROM orders
),
obs AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS observed
  FROM d WHERE digit BETWEEN 1 AND 9 GROUP BY digit
),
tot AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM obs),
p AS (
  SELECT obs.digit, obs.observed, tot.n,
    tot.n * ([301029996, 176091259, 124938737, 96910013, 79181246,
              66946790, 57991947, 51152522, 45757491][obs.digit]) AS np_s
  FROM obs, tot
)
SELECT digit, observed,
  CAST(np_s // 1000000000 AS BIGINT) AS expected,
  CAST(((CAST(1000000000 AS HUGEINT) * observed - np_s)
        * (CAST(1000000000 AS HUGEINT) * observed - np_s) * 2000000
        + (CAST(np_s AS HUGEINT) * 1000000000))
       // (2 * (CAST(np_s AS HUGEINT) * 1000000000)) AS DOUBLE)
    / 1000000.0 AS chi2_term
FROM p
"""

ORACLES["frequent_event_paths"] = """
WITH e AS (
  SELECT user_id, event_type, event_id,
    epoch_us(ts) // 86400000000 AS day, epoch_us(ts) AS ts_us
  FROM events
),
tri AS (
  SELECT lag(event_type, 2) OVER w AS s1,
         lag(event_type, 1) OVER w AS s2,
         event_type AS s3
  FROM e WINDOW w AS (PARTITION BY user_id, day ORDER BY ts_us, event_id)
)
SELECT s1, s2, s3, CAST(COUNT(*) AS BIGINT) AS n_paths
FROM tri WHERE s1 IS NOT NULL
GROUP BY s1, s2, s3
ORDER BY n_paths DESC, s1, s2, s3
LIMIT 20
"""

ORACLES["rolling_7day_distinct_users"] = """
WITH ud AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
b AS (SELECT MIN(day) AS dmin FROM ud),
fan AS (
  SELECT DISTINCT user_id, day + i.i AS wday
  FROM ud, (SELECT unnest(generate_series(0, 6)) AS i) i
),
pd AS (SELECT wday, CAST(COUNT(*) AS BIGINT) AS wau FROM fan GROUP BY wday),
daily AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day)
SELECT d.day, d.dau, p.wau AS wau_7d
FROM daily d JOIN pd p ON p.wday = d.day, b
WHERE d.day >= b.dmin + 6
"""

ORACLES["score_drift_psi"] = f"""
WITH e AS (
  SELECT event_id, epoch_us(ts) AS ts_us,
    CAST(value AS DECIMAL(18,6)) AS v
  FROM events
),
mid AS (SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS m FROM e),
ref AS (SELECT e.* FROM e, mid WHERE ts_us < m),
cur AS (SELECT e.* FROM e, mid WHERE ts_us >= m),
dec AS (
  SELECT v, ntile(10) OVER (ORDER BY v, event_id) AS bin FROM ref
),
edges AS (
  SELECT bin, MAX(v) AS hi FROM dec WHERE bin < 10 GROUP BY bin
),
rc AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_ref FROM dec GROUP BY bin),
cb AS (
  SELECT 1 + (SELECT COUNT(*) FROM edges WHERE edges.hi < cur.v) AS bin
  FROM cur
),
cc AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_cur FROM cb GROUP BY bin),
tr AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS tr FROM rc),
tc AS (SELECT CAST(SUM(n_cur) AS BIGINT) AS tc FROM cc),
j AS (
  SELECT COALESCE(rc.bin, cc.bin) AS bin,
    COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
  FROM rc FULL OUTER JOIN cc ON rc.bin = cc.bin
),
s AS (
  SELECT j.*, tr.tr, tc.tc,
    (n_ref * 2000000 + tr) // (2 * tr) AS p_s,
    (n_cur * 2000000 + tc) // (2 * tc) AS q_s,
    -- fixed-point deterministic ln twin (see fixed_ln_micro_sql):
    CASE WHEN n_ref > 0 AND n_cur > 0 THEN
      ({fixed_ln_micro_sql('(CASE WHEN n_ref > 0 AND n_cur > 0 THEN n_ref ELSE 1 END)', '(CASE WHEN n_ref > 0 AND n_cur > 0 THEN n_cur ELSE 1 END)', 1000000)}
       + {fixed_ln_micro_sql('(CASE WHEN n_ref > 0 AND n_cur > 0 THEN tc ELSE 1 END)', '(CASE WHEN n_ref > 0 AND n_cur > 0 THEN tr ELSE 1 END)', 1000000)})
    ELSE 0 END AS ln_s
  FROM j, tr, tc
)
SELECT bin, n_ref, n_cur,
  CAST((CAST(n_ref AS HUGEINT) * 2000000 + tr) // (2 * CAST(tr AS HUGEINT))
       AS DOUBLE) / 1000000.0 AS p_ref,
  CAST((CAST(n_cur AS HUGEINT) * 2000000 + tc) // (2 * CAST(tc AS HUGEINT))
       AS DOUBLE) / 1000000.0 AS p_cur,
  (CASE WHEN (p_s - q_s) * ln_s < 0 THEN -1.0 ELSE 1.0 END)
  * CAST((abs(CAST((p_s - q_s) * ln_s AS HUGEINT)) * 2000000
          + 1000000000000)
         // (2 * CAST(1000000000000 AS HUGEINT)) AS DOUBLE) / 1000000.0
  AS psi_term
FROM s
"""

ORACLES["harmonic_centrality_seeds"] = """
WITH lp AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0
),
e0 AS MATERIALIZED (
  SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
  FROM lp x JOIN lp y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
),
sym AS MATERIALIZED (
  SELECT u, v FROM e0 UNION SELECT v, u FROM e0
),
seeds AS MATERIALIZED (
  SELECT DISTINCT u AS s FROM sym WHERE u % 100 = 0
),
v0 AS MATERIALIZED (SELECT s, s AS node FROM seeds),
f1 AS MATERIALIZED (
  SELECT DISTINCT f.s, sym.v AS node
  FROM v0 f JOIN sym ON sym.u = f.node
),
n1 AS MATERIALIZED (
  SELECT f1.s, f1.node FROM f1
  LEFT JOIN v0 ON v0.s = f1.s AND v0.node = f1.node
  WHERE v0.s IS NULL
),
v1 AS MATERIALIZED (
  SELECT s, node FROM v0 UNION ALL SELECT s, node FROM n1
),
f2 AS MATERIALIZED (
  SELECT DISTINCT f.s, sym.v AS node
  FROM n1 f JOIN sym ON sym.u = f.node
),
n2 AS MATERIALIZED (
  SELECT f2.s, f2.node FROM f2
  LEFT JOIN v1 ON v1.s = f2.s AND v1.node = f2.node
  WHERE v1.s IS NULL
),
v2 AS MATERIALIZED (
  SELECT s, node FROM v1 UNION ALL SELECT s, node FROM n2
),
f3 AS MATERIALIZED (
  SELECT DISTINCT f.s, sym.v AS node
  FROM n2 f JOIN sym ON sym.u = f.node
),
n3 AS MATERIALIZED (
  SELECT f3.s, f3.node FROM f3
  LEFT JOIN v2 ON v2.s = f3.s AND v2.node = f3.node
  WHERE v2.s IS NULL
),
c1 AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n_d1 FROM n1 GROUP BY s),
c2 AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n_d2 FROM n2 GROUP BY s),
c3 AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n_d3 FROM n3 GROUP BY s),
o AS (
  SELECT seeds.s, COALESCE(c1.n_d1, 0) AS n_d1,
    COALESCE(c2.n_d2, 0) AS n_d2, COALESCE(c3.n_d3, 0) AS n_d3
  FROM seeds
  LEFT JOIN c1 ON c1.s = seeds.s
  LEFT JOIN c2 ON c2.s = seeds.s
  LEFT JOIN c3 ON c3.s = seeds.s
)
SELECT s AS seed, n_d1, n_d2, n_d3,
  CAST(n_d1 * 1000000 + n_d2 * 500000 + n_d3 * 333333 AS BIGINT)
    AS harmonic_scaled,
  CAST((CAST(n_d1 * 1000000 + n_d2 * 500000 + n_d3 * 333333 AS HUGEINT)
        * 2000000 + 1000000)
       // (2 * CAST(1000000 AS HUGEINT)) AS DOUBLE) / 1000000.0
    AS harmonic
FROM o
"""

# ---------------------------------------------------------------------------
# FINITE-VALUE contract (round 9): NaN/±Inf in events.value behave as NULL
# on both engine sides.  The Spark twin normalizes at the scan
# (catalog.table); here every oracle's `FROM events` is rewritten to an
# inline subquery that NULLs non-finite values — DuckDB's DECIMAL/BIGINT
# casts hard-error on NaN/Inf where Spark's ANSI cast yields NULL (a
# 23-query divergence under the NaN-hostile corpus).  The subquery keeps
# the base column order, so `SELECT *` and the `events` alias still work;
# a no-op on driver data, whose values are finite.
# ---------------------------------------------------------------------------
import re as _re  # noqa: E402

_EVENTS_FINITE = (
    "(SELECT event_id, ts, user_id, event_type, "
    "CASE WHEN isfinite(value) THEN value END AS value, props FROM events)"
)


def _finite_events(sql: str) -> str:
    if not _re.search(r"\bFROM events\b", sql):
        return sql
    # aliased references keep their alias; bare references get the alias
    # `events` so qualified column names keep resolving
    out = _re.sub(
        r"\bFROM events\b(\s+(?!WHERE\b|GROUP\b|JOIN\b|ORDER\b|LEFT\b|"
        r"RIGHT\b|FULL\b|INNER\b|CROSS\b|ON\b|USING\b|LIMIT\b|UNION\b|"
        r"HAVING\b|WINDOW\b|AS\b)[A-Za-z_]\w*)?",
        lambda m: "FROM " + _EVENTS_FINITE + (m.group(1) or " events"),
        sql,
    )
    return out


ORACLES = {k: _finite_events(v) for k, v in ORACLES.items()}
