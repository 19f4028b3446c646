"""DuckDB oracle SQL for every SQL-expressible query in api.QUERIES.

The SQL is generated from the same constants (stopword lists,
thresholds, cutoff dates) the Spark operators use, so the two sides
cannot drift. Engine-semantics deltas that ARE accounted for:

- DuckDB ``dayofweek`` is 0=Sunday, Spark is 1=Sunday → ``+1``;
- DuckDB ``generate_series`` over dates yields timestamps → cast;
- DuckDB regexp_replace needs the 'g' flag to replace globally;
- DuckDB integer SUM returns HUGEINT → explicit BIGINT casts;
- money aggregates: identical per-row DECIMAL(18,8) cast then exact
  decimal SUM, cast to DOUBLE on both sides (see functions/keys.money_sum);
- cosine similarity: the oracle mirrors the Spark formulation exactly
  (normalize each vector once, then one sequential-fold dot per pair).

Even the hash-based operators carry exact oracles (SimHash from md5
nibble bits, hyperplane LSH with the md5-derived planes inlined as
list literals, winnowing via positional polynomial gram hashes, the
GEMM ANN via exact fold-order rerank); only genuinely
non-SQL-expressible ops (KMeans IVF) and approximate-by-design
sketches (HLL, t-digest) are absent → the driver applies its rows-only
check there. ``minhash_lsh_dup_pairs``'s verified output provably
equals the exact n-gram Jaccard baseline at the 0.8 threshold (recall
1-(1-j²)^16 ≈ 1-8e-8; everything is deterministic, and tests assert
the equality at sf0.001 and sf0.01).
"""

from __future__ import annotations

from .functions.text import BPE_PATTERN, DE_STOP, EN_STOP, ES_STOP, FR_STOP

# single quotes doubled for embedding in a SQL string literal
BPE_PATTERN_SQL = BPE_PATTERN.replace("'", "''")
from .operators.dedup import (
    CONTAINMENT_THRESHOLD,
    CONTAM_BENCH_MOD,
    CURATED_MAX_CONTAM,
    DUP_SPAN_K,
    PS_OVERLAP_K,
    WEIGHTED_SAMPLE_N,
)
from .operators.merge import EVENT_RULES
from .operators.textquality import (
    PII_EMAIL,
    PII_PHONE,
    QF_MAX_DUP3,
    QF_MAX_PUNCT,
    QF_MIN_TOKENS,
)
from .plans.analytics import (
    ANOMALY_Z,
    BLOOM_PRIORITY,
    CUSUM_H,
    CUSUM_K,
    PARETO_TOP_PCT,
    Q1_CUTOFF,
    Q3_DATE,
    Q5_HI,
    Q5_LO,
    Q7_HI,
    Q7_LO,
    Q7_NATION_A,
    Q7_NATION_B,
    Q8_NATION,
    Q8_REGION,
    Q8_TYPE,
    Q9_NAME_FRAGMENT,
    Q11_SHARE,
    Q15_HI,
    Q15_LO,
    Q17_BRAND,
    Q18_MIN_QTY,
    KMV_K,
)


def _sql_list(words: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# Deduplicated fact with derived star natural keys (plans/star.py).
FACT_CTE = """
fact AS (
  SELECT *,
    TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k,
    'src' || CAST(TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) % 5 AS VARCHAR) AS src,
    CASE WHEN value < 50 THEN 'low' WHEN value < 150 THEN 'mid' ELSE 'high' END AS band
  FROM events
  QUALIFY row_number() OVER (PARTITION BY event_id
    ORDER BY ts DESC, value ASC NULLS FIRST, props ASC NULLS FIRST) = 1
)
"""

# Lowercased whitespace tokens, empties dropped (functions/text.tokens).
TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"

# Distinct 3-word shingles (functions/text.word_shingles).
SHINGLES_CTE = f"""
toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
      THEN list_distinct(list_transform(range(1, len(t) - 1),
           i -> list_aggregate(t[i:i+2], 'string_agg', ' ')))
      ELSE [] END AS s
  FROM toks
),
shf AS (SELECT * FROM sh WHERE len(s) > 0)
"""

_DSUM = "CAST(SUM(CAST({expr} AS DECIMAL(18,8))) AS DOUBLE)"


def _dsum(expr: str) -> str:
    return _DSUM.format(expr=expr)


_JACCARD_PAIRS = f"""
WITH {SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    ROUND(len(list_intersect(a.s, b.s)) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6) AS jaccard
  FROM shf a JOIN shf b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.8
"""

# Mirrors functions/vectors.normalized + dot: element-wise divide by the
# vector norm once, then a single sequential-fold dot per pair.
_NORM_CTE = """
e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
e AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv FROM e0)
"""

_MON_BASE = """
base AS (
  SELECT ts, event_type AS job_name, value AS status_value,
         event_type <> 'error' AS is_success, user_id, event_id
  FROM events, (SELECT max(ts) AS m FROM events)
  WHERE ts >= m - INTERVAL 7 DAY
)
"""

ORACLE_SQL: dict[str, str] = {
    # --- star-schema ETL ---
    "fact_events": f"WITH {FACT_CTE} SELECT event_id, ts, user_id, event_type, value, props, k, src, band FROM fact",
    "dim_time": f"""
WITH {FACT_CTE},
bounds AS (SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM fact),
days AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS date_key FROM bounds)
SELECT date_key,
  CAST(strftime(date_key, '%Y%m%d') AS BIGINT) AS date_id,
  CAST(EXTRACT(YEAR FROM date_key) AS BIGINT) AS year,
  CAST(EXTRACT(QUARTER FROM date_key) AS BIGINT) AS quarter,
  CAST(EXTRACT(MONTH FROM date_key) AS BIGINT) AS month,
  monthname(date_key) AS month_name,
  CAST(weekofyear(date_key) AS BIGINT) AS iso_week,
  CAST(EXTRACT(DAY FROM date_key) AS BIGINT) AS day_of_month,
  CAST(dayofweek(date_key) + 1 AS BIGINT) AS day_of_week,
  dayname(date_key) AS day_name,
  dayofweek(date_key) IN (0, 6) AS is_weekend
FROM days
""",
    "dim_user": f"""
WITH {FACT_CTE}
SELECT sha256(CAST(user_id AS VARCHAR)) AS user_key, user_id,
  MIN(CAST(ts AS DATE)) AS first_seen_date,
  MAX(CAST(ts AS DATE)) AS last_seen_date,
  CAST(COUNT(*) AS BIGINT) AS measurement_count
FROM fact GROUP BY user_id
""",
    "dim_event_type": f"""
WITH {FACT_CTE}
SELECT sha256(event_type) AS event_type_key, event_type,
  UPPER(LEFT(event_type, 1)) || SUBSTRING(event_type, 2) AS event_type_display
FROM (SELECT DISTINCT event_type FROM fact)
""",
    "dim_band": f"WITH {FACT_CTE} SELECT sha256(band) AS band_key, band FROM (SELECT DISTINCT band FROM fact)",
    "dim_source": f"WITH {FACT_CTE} SELECT sha256(src) AS source_key, src AS source FROM (SELECT DISTINCT src FROM fact)",
    "fact_events_star": f"""
WITH {FACT_CTE}
SELECT sha256(CAST(user_id AS VARCHAR)) AS user_key,
  sha256(event_type) AS event_type_key,
  sha256(band) AS band_key,
  sha256(src) AS source_key,
  CAST(ts AS DATE) AS date_key,
  event_id,
  value AS measure_value,
  ts
FROM fact
""",
    "sanity_row_counts": f"""
WITH {FACT_CTE}
SELECT CAST((SELECT COUNT(*) FROM fact) AS BIGINT) AS fact_rows,
       CAST((SELECT COUNT(*) FROM fact) AS BIGINT) AS star_rows
""",
    "sanity_missing_dims": f"""
WITH {FACT_CTE},
du AS (SELECT DISTINCT user_id, sha256(CAST(user_id AS VARCHAR)) AS user_key FROM fact),
de AS (SELECT DISTINCT event_type, sha256(event_type) AS event_type_key FROM fact),
db AS (SELECT DISTINCT band, sha256(band) AS band_key FROM fact),
ds AS (SELECT DISTINCT src, sha256(src) AS source_key FROM fact)
SELECT CAST(COUNT(*) AS BIGINT) AS rows_missing_any_dimension
FROM fact
LEFT JOIN du USING (user_id)
LEFT JOIN de USING (event_type)
LEFT JOIN db USING (band)
LEFT JOIN ds USING (src)
WHERE du.user_key IS NULL OR de.event_type_key IS NULL
   OR db.band_key IS NULL OR ds.source_key IS NULL
""",
    "weekend_activity": f"""
WITH {FACT_CTE}
SELECT dayofweek(CAST(ts AS DATE)) IN (0, 6) AS is_weekend,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  {_dsum('value')} AS sum_value
FROM fact GROUP BY 1
""",
    # --- monitoring ---
    "mon_executions": f"WITH {_MON_BASE} SELECT ts, job_name, status_value, is_success, user_id, event_id FROM base",
    "mon_last_status": f"""
WITH {_MON_BASE}
SELECT ts AS last_event_ts, job_name, status_value AS last_status_value,
       is_success AS last_is_success
FROM base
QUALIFY row_number() OVER (PARTITION BY job_name ORDER BY ts DESC, event_id DESC) = 1
""",
    "mon_daily_summary": f"""
WITH {_MON_BASE}
SELECT CAST(ts AS DATE) AS event_date, job_name,
  CAST(COUNT(*) AS BIGINT) AS total_runs,
  CAST(SUM(CASE WHEN is_success THEN 1 ELSE 0 END) AS BIGINT) AS success_runs,
  CAST(SUM(CASE WHEN NOT is_success THEN 1 ELSE 0 END) AS BIGINT) AS failed_runs,
  ROUND(SUM(CASE WHEN is_success THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS success_rate
FROM base GROUP BY 1, 2
""",
    "mon_7d_summary": f"""
WITH {_MON_BASE}
SELECT job_name,
  CAST(COUNT(*) AS BIGINT) AS runs_7d,
  CAST(SUM(CASE WHEN is_success THEN 1 ELSE 0 END) AS BIGINT) AS success_7d,
  ROUND(SUM(CASE WHEN is_success THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS success_rate_7d
FROM base GROUP BY 1
""",
    "mon_errors": f"WITH {_MON_BASE} SELECT ts, job_name, status_value, user_id, event_id FROM base WHERE NOT is_success",
    # --- warehouse analytics ---
    "q1_pricing_summary": f"""
SELECT l_returnflag, l_linestatus,
  {_dsum('l_quantity')} AS sum_qty,
  {_dsum('l_extendedprice')} AS sum_base_price,
  {_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
  {_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
  CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    "q3_top_revenue_orders": f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
  {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '{Q3_DATE} 00:00:00'
  AND l_shipdate > TIMESTAMP '{Q3_DATE} 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    "q5_revenue_by_nation": f"""
SELECT n_name, {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '{Q5_LO} 00:00:00'
  AND o_orderdate < TIMESTAMP '{Q5_HI} 00:00:00'
GROUP BY n_name
""",
    "q4_order_priority": f"""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '{Q5_LO} 00:00:00'
  AND o_orderdate < TIMESTAMP '{Q5_HI} 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
""",
    "customers_without_orders": """
SELECT c_custkey, c_name, c_acctbal FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
    "merge_upsert_events": """
WITH updates AS (
  SELECT event_id, ts, user_id, event_type, value + 1000 AS value, props
  FROM events WHERE event_id % 10 = 0
),
tagged AS (
  SELECT event_id, ts, user_id, event_type, value, props, 0 AS prio FROM updates
  UNION ALL
  SELECT event_id, ts, user_id, event_type, value, props, 1 AS prio FROM events
)
SELECT event_id, ts, user_id, event_type, value, props FROM tagged
QUALIFY row_number() OVER (PARTITION BY event_id
  ORDER BY prio, ts DESC, value ASC NULLS FIRST, props ASC NULLS FIRST) = 1
""",
    "validate_events": "\nUNION ALL\n".join(
        f"SELECT '{name}' AS rule, CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT) AS n_violations FROM events"
        for name, pred in EVENT_RULES
    ),
    "top_customers_per_nation": f"""
WITH spend AS (
  SELECT o_custkey, {_dsum('o_totalprice')} AS spend FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT n_name, c_custkey, c_name, spend,
    row_number() OVER (PARTITION BY n_name ORDER BY spend DESC, c_custkey) AS rn
  FROM customer
  JOIN spend ON c_custkey = o_custkey
  JOIN nation ON c_nationkey = n_nationkey
)
SELECT n_name, c_custkey, c_name, spend, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= 3
""",
    "events_hourly": f"""
SELECT date_trunc('hour', ts) AS hour, event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  {_dsum('value')} AS sum_value
FROM events GROUP BY 1, 2
""",
    "funnel_view_to_purchase": """
WITH per_user AS (
  SELECT user_id,
    MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS first_view,
    MAX(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS last_purchase
  FROM events GROUP BY user_id
)
SELECT CAST(COUNT(first_view) AS BIGINT) AS n_users_view,
  CAST(COUNT(last_purchase) AS BIGINT) AS n_users_purchase,
  CAST(SUM(CASE WHEN first_view < last_purchase THEN 1 ELSE 0 END) AS BIGINT) AS n_users_converted
FROM per_user
""",
    "events_json_k": f"""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  {_dsum('value')} AS sum_value
FROM events GROUP BY 1
""",
    "events_sliding_2h": f"""
WITH expanded AS (
  SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR, date_trunc('hour', ts)]) AS window_start,
         event_type, value
  FROM events
)
SELECT window_start, event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  {_dsum('value')} AS sum_value
FROM expanded GROUP BY 1, 2
""",
    "salted_event_type_counts": f"""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
  {_dsum('value')} AS sum_value
FROM events GROUP BY event_type
""",
    "events_rollup": f"""
SELECT CAST(ts AS DATE) AS event_date, event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  {_dsum('value')} AS sum_value
FROM events GROUP BY ROLLUP(CAST(ts AS DATE), event_type)
""",
    "events_cube": f"""
SELECT CAST(ts AS DATE) AS event_date, event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  {_dsum('value')} AS sum_value
FROM events GROUP BY CUBE(CAST(ts AS DATE), event_type)
""",
    "events_pivot": """
SELECT CAST(ts AS DATE) AS event_date,
  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
FROM events GROUP BY 1
""",
    "events_unpivot": """
WITH long AS (
  SELECT CAST(ts AS DATE) AS event_date, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
days AS (SELECT DISTINCT event_date FROM long),
types AS (SELECT unnest(['click','error','purchase','signup','view']) AS event_type)
SELECT d.event_date, t.event_type,
  CAST(COALESCE(l.n, 0) AS BIGINT) AS n_events
FROM days d CROSS JOIN types t
LEFT JOIN long l ON l.event_date = d.event_date AND l.event_type = t.event_type
""",
    "distinct_users_by_type": """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
""",
    "value_percentiles": """
SELECT event_type,
  ROUND(quantile_cont(value, 0.5), 4) AS p50,
  ROUND(quantile_cont(value, 0.9), 4) AS p90,
  ROUND(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type
""",
    "value_range_join": """
SELECT a.event_id,
  CAST(COUNT(*) AS BIGINT) AS n_collisions,
  MIN(b.event_id) AS min_collision_id
FROM events a
JOIN events b
  ON a.event_type = b.event_type
 AND a.event_id <> b.event_id
 AND abs(a.value - b.value) <= 0.5
GROUP BY a.event_id
""",
    "asof_last_view_before_purchase": """
WITH e AS (
  SELECT event_id, user_id, ts, event_type, epoch_us(ts) AS us,
    MAX(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) OVER (
      PARTITION BY user_id ORDER BY epoch_us(ts)
      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ) AS last_view_us
  FROM events
)
SELECT event_id, user_id, ts, last_view_us FROM e WHERE event_type = 'purchase'
""",
    # identical semantics to the window formulation -> same oracle
    "asof_pandas_last_view": None,  # placeholder replaced below
    "scd2_user_band": """
WITH t AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
    CASE WHEN value < 50 THEN 'low' WHEN value < 150 THEN 'mid' ELSE 'high' END AS band
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN lag(band) OVER w IS NULL OR lag(band) OVER w <> band
                 THEN 1 ELSE 0 END AS changed
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
runs AS (SELECT * FROM flagged WHERE changed = 1)
SELECT user_id, band, ts AS valid_from,
  lead(ts) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to
FROM runs
""",
    "sessionize": f"""
WITH e AS (SELECT user_id, event_id, ts, value, epoch_us(ts) AS us FROM events),
s AS (
  SELECT *, CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
                 THEN 1 ELSE 0 END AS ns
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
t AS (
  SELECT *, CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM s
)
SELECT user_id, session_idx,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  MIN(ts) AS session_start,
  MAX(ts) AS session_end,
  {_dsum('value')} AS session_value,
  CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us
FROM t GROUP BY user_id, session_idx
""",
    # --- LLM-data-pipeline operators ---
    "dedup_exact": """
SELECT md5(text) AS fp, CAST(COUNT(*) AS BIGINT) AS dup_count,
       MIN(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
""",
    "docs_fingerprint": """
SELECT doc_id,
  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g'))) AS fp
FROM documents
""",
    "docs_token_stats": f"""
SELECT doc_id,
  CAST(len({TOKS}) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '{BPE_PATTERN_SQL}')) AS BIGINT) AS n_tokens_bpe,
  CAST(length(text) AS BIGINT) AS n_chars
FROM documents
""",
    "docs_quality": f"""
WITH d AS (SELECT doc_id, text, {TOKS} AS toks FROM documents)
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(length(text) AS BIGINT) AS n_chars,
  CASE WHEN length(text) > 0 THEN
    ROUND(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) / CAST(length(text) AS DOUBLE), 6)
  END AS punct_ratio,
  CASE WHEN len(toks) > 0 THEN
    ROUND(len(list_filter(toks, x -> list_contains({_sql_list(EN_STOP)}, x))) / CAST(len(toks) AS DOUBLE), 6)
  END AS stopword_ratio,
  CASE WHEN len(toks) > 0 THEN
    ROUND(list_aggregate(list_transform(toks, x -> length(x)), 'sum') / CAST(len(toks) AS DOUBLE), 6)
  END AS avg_token_len
FROM d
""",
    "docs_langid": f"""
WITH d AS (
  SELECT doc_id, lang AS labeled_lang,
    length(text) - length(regexp_replace(text, '[\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) AS cjk,
    len(list_filter({TOKS}, x -> list_contains({_sql_list(EN_STOP)}, x))) AS h_en,
    len(list_filter({TOKS}, x -> list_contains({_sql_list(DE_STOP)}, x))) AS h_de,
    len(list_filter({TOKS}, x -> list_contains({_sql_list(FR_STOP)}, x))) AS h_fr,
    len(list_filter({TOKS}, x -> list_contains({_sql_list(ES_STOP)}, x))) AS h_es
  FROM documents
)
SELECT doc_id, labeled_lang,
  CASE WHEN cjk > 0 THEN 'zh'
       WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es AND h_en > 0 THEN 'en'
       WHEN h_de >= h_fr AND h_de >= h_es AND h_de > 0 THEN 'de'
       WHEN h_fr >= h_es AND h_fr > 0 THEN 'fr'
       WHEN h_es > 0 THEN 'es'
       ELSE 'unknown' END AS pred_lang
FROM d
""",
    "ngram_dup_pairs": _JACCARD_PAIRS,
    # LSH output is verified with exact Jaccard → equals the baseline
    # (deterministic; recall deficit ≈ 8e-8, asserted in tests).
    "minhash_lsh_dup_pairs": _JACCARD_PAIRS,
    "dedup_components": f"""
WITH RECURSIVE {SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    ROUND(len(list_intersect(a.s, b.s)) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6) AS jaccard
  FROM shf a JOIN shf b ON a.doc_id < b.doc_id
),
dup AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.8),
edges AS (SELECT doc_a AS a, doc_b AS b FROM dup UNION SELECT doc_b, doc_a FROM dup),
nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src
""",
    "clean_documents": f"""
WITH RECURSIVE {SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    ROUND(len(list_intersect(a.s, b.s)) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6) AS jaccard
  FROM shf a JOIN shf b ON a.doc_id < b.doc_id
),
dup AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.8),
edges AS (SELECT doc_a AS a, doc_b AS b FROM dup UNION SELECT doc_b, doc_a FROM dup),
nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
comp AS (SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src),
drops AS (SELECT doc_id FROM comp WHERE doc_id <> component)
SELECT d.doc_id, d.lang, d.source, CAST(length(d.text) AS BIGINT) AS n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
""",
    "sample_documents": """
SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
FROM documents ORDER BY h, doc_id LIMIT 100
""",
    "stratified_sample_by_lang": """
WITH h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
r AS (SELECT doc_id, lang,
        row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rank
      FROM h)
SELECT doc_id, lang, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 20
""",
    "embedding_neardup_pairs": f"""
WITH {_NORM_CTE},
p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         ROUND(list_dot_product(a.nv, b.nv), 6) AS sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, sim FROM p WHERE sim >= 0.95
""",
    "ann_topk": f"""
WITH {_NORM_CTE},
q AS (SELECT vec_id, nv FROM e WHERE vec_id % 50 = 0),
s AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.nv, e.nv), 6) AS sim
  FROM q JOIN e ON e.vec_id <> q.vec_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
  FROM s
)
SELECT query_id, neighbor_id, sim, CAST(rn AS BIGINT) AS rank FROM r WHERE rn <= 10
""",
    "token_freq": f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents)
SELECT term, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
FROM tok GROUP BY term
""",
    "token_typo_pairs": f"""
WITH vocab AS (SELECT DISTINCT unnest({TOKS}) AS term FROM documents)
SELECT a.term AS term_a, b.term AS term_b,
  CAST(levenshtein(a.term, b.term) AS BIGINT) AS dist
FROM vocab a JOIN vocab b ON a.term < b.term
WHERE abs(length(a.term) - length(b.term)) <= 1
  AND levenshtein(a.term, b.term) <= 1
""",
    "tfidf_top_terms": f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
    ROUND(tf.tf * ln((n.n_docs + 1) / CAST(df.df + 1 AS DOUBLE)), 6) AS score
  FROM tf JOIN df USING (term), n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
  FROM scored
)
SELECT doc_id, term, tf, score, CAST(rn AS BIGINT) AS rank FROM ranked WHERE rn <= 3
""",
    "multimodal_frames": """
WITH d AS (
  SELECT doc_id, lower(hex(encode(text))) AS hx, octet_length(encode(text)) AS n
  FROM documents
),
f AS (
  SELECT doc_id, hx, n,
         unnest(range(0, CAST(ceil(n / 64.0) AS INT), 4)) AS frame_idx
  FROM d
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
  CAST(least(64, n - frame_idx * 64) AS BIGINT) AS frame_bytes,
  substr(hx, frame_idx * 128 + 1, 8) AS frame_header_hex
FROM f
""",
    "multimodal_meta": """
SELECT doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  lower(LEFT(hex(encode(text)), 8)) AS header_hex
FROM documents
""",
}

# q1 via the pure-SQL surface runs the IDENTICAL statement on Spark SQL
# and DuckDB (api._q1_sql) — the oracle is the same text by definition.
ORACLE_SQL["q1_sql"] = ORACLE_SQL["q1_pricing_summary"]

ORACLE_SQL["asof_pandas_last_view"] = ORACLE_SQL["asof_last_view_before_purchase"]

# The GEMM twin reranks its candidates with the exact fold-order sim
# expression of ann_brute_topk — bit-identical results, one oracle
# (operators/similarity.ann_gemm_topk).
ORACLE_SQL["ann_gemm_topk"] = ORACLE_SQL["ann_topk"]


def _lsh_oracle() -> str:
    """Generated oracle for ann_lsh_topk: the hyperplanes are md5-derived
    constants (operators/similarity._hyperplanes), so the bucket bits,
    multi-probe expansion, and exact rerank are all plain SQL with the
    plane vectors inlined as list literals."""
    from .operators.similarity import N_PLANES, _hyperplanes

    planes = _hyperplanes(64, N_PLANES)
    bit_terms = "\n  + ".join(
        f"(CASE WHEN list_dot_product(nv, [{', '.join(repr(w) for w in plane)}]) > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )
    probes = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << i})" for i in range(N_PLANES)]
    )
    return f"""
WITH {_NORM_CTE},
b AS (
  SELECT vec_id, nv,
  {bit_terms} AS bucket
  FROM e
),
q AS (
  SELECT vec_id AS query_id, nv AS qv,
         unnest([{probes}]) AS bucket
  FROM b WHERE vec_id % 50 = 0
),
s AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.qv, c.nv), 6) AS sim
  FROM q JOIN b c USING (bucket)
  WHERE c.vec_id <> q.query_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
  FROM s
)
SELECT query_id, neighbor_id, sim, CAST(rn AS BIGINT) AS rank FROM r WHERE rn <= 10
"""


ORACLE_SQL["ann_lsh_topk"] = _lsh_oracle()


def _neardup_lsh_oracle() -> str:
    """Mirror of embedding_neardup_lsh_pairs: 64 inlined md5-derived
    hyperplanes → 8 bands of 8 sign bits, candidates from exact band
    matches, exact rounded-cosine verification."""
    from .operators.similarity import PAIR_BAND_BITS, PAIR_BANDS, _hyperplanes

    planes = _hyperplanes(64, PAIR_BANDS * PAIR_BAND_BITS)

    def band_expr(j: int) -> str:
        return "\n    + ".join(
            f"(CASE WHEN list_dot_product(nv, [{', '.join(repr(w) for w in planes[j * PAIR_BAND_BITS + i])}]) > 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i in range(PAIR_BAND_BITS)
        )

    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {j} AS band_idx,\n    {band_expr(j)} AS band_val FROM e"
        for j in range(PAIR_BANDS)
    )
    return f"""
WITH {_NORM_CTE},
b AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
  FROM b l JOIN b r USING (band_idx, band_val)
  WHERE l.vec_id < r.vec_id
),
s AS (
  SELECT cand.vec_a, cand.vec_b,
         ROUND(list_dot_product(x.nv, y.nv), 6) AS sim
  FROM cand
  JOIN e x ON x.vec_id = cand.vec_a
  JOIN e y ON y.vec_id = cand.vec_b
)
SELECT vec_a, vec_b, sim FROM s WHERE sim >= 0.95
"""


ORACLE_SQL["embedding_neardup_lsh_pairs"] = _neardup_lsh_oracle()


def _winnow_oracle() -> str:
    """Independent derivation of the winnowing sketch summary
    (operators/textquality._winnow_pdf): each 5-gram polynomial hash is
    sum(ord(char)*257^(4-d)) mod (2^61-1); every term is < 5e15 so the
    sum never overflows BIGINT and, being < the modulus, needs no
    reduction. The sliding-window minima of the Spark side simplify:
    with ng k-gram hashes the sketch has max(ng-3, 0) windows whose
    union covers every hash, so min(sketch) == min(all hashes)."""
    from .operators.textquality import _BASE, _GRAM, _MOD, _WINNOW_WINDOW

    terms = " + ".join(
        f"ord(substr(t, i + {d}, 1)) * {_BASE ** (_GRAM - 1 - d)}"
        for d in range(_GRAM)
    )
    return f"""
WITH d AS (SELECT doc_id, lower(text) AS t, length(text) AS n FROM documents),
g AS (
  SELECT doc_id, ({terms}) % {_MOD} AS h
  FROM d, LATERAL unnest(range(1, n - {_GRAM - 2})) AS u(i)
  WHERE n >= {_GRAM}
),
agg AS (SELECT doc_id, COUNT(*) AS ng, MIN(h) AS mh FROM g GROUP BY doc_id)
SELECT d.doc_id,
  CAST(CASE WHEN ng >= {_WINNOW_WINDOW} THEN ng - {_WINNOW_WINDOW - 1} ELSE 0 END AS BIGINT) AS n_grams,
  CAST(CASE WHEN ng >= {_WINNOW_WINDOW} THEN mh ELSE 0 END AS BIGINT) AS min_gram_hash
FROM d LEFT JOIN agg USING (doc_id)
"""


ORACLE_SQL["winnow_fingerprint"] = _winnow_oracle()


def _simhash_oracle() -> str:
    """Independent derivation of simhash_dup_pairs: token-hash bit b is
    pulled straight out of the md5 hex nibbles (the Spark side goes via
    conv()-to-long + shifts over two 32-bit halves — same bits, chars
    1-8 = high half, 9-16 = low), votes are summed per bit, and pairs
    are the QUADRATIC scan with bit_count(xor) hamming — no pigeonhole
    blocking, which is exactly what makes it an independent check of
    the blocked Spark plan."""
    votes = []
    for b in range(64):
        if b < 32:
            j, shift = 16 - b // 4, b % 4
        else:
            j, shift = 8 - (b - 32) // 4, (b - 32) % 4
        nib = f"(strpos('0123456789abcdef', substr(hx, {j}, 1)) - 1)"
        votes.append(f"SUM(2 * (({nib} >> {shift}) & 1) - 1) AS s{b}")
    chunks = ", ".join(
        " + ".join(
            f"(CASE WHEN s{j * 16 + i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16)
        )
        + f" AS c{j}"
        for j in range(4)
    )
    hamming = " + ".join(f"bit_count(xor(a.c{j}, b.c{j}))" for j in range(4))
    return f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
h AS (SELECT doc_id, substr(md5(term), 1, 16) AS hx FROM tok),
v AS (SELECT doc_id, {', '.join(votes)} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {chunks} FROM v),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST({hamming} AS BIGINT) AS hamming
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= 3
"""


ORACLE_SQL["simhash_dup_pairs"] = _simhash_oracle()

# IVF-Flat with hash-seeded centroids (operators/similarity.
# ivf_flat_ann_topk): centroid draw, argmax cell assignment, probing
# and rerank all mirrored; rounded dots + id tie-breaks keep the
# ranking engine-independent. Parameterized over n_probe so the
# probe-width tuning sweep (ivf_probe_sweep) embeds the identical
# template per width.


def _ivf_flat_sql(n_probe: int, k: int = 10, workload: int | None = None) -> str:
    # ``workload``: restrict the query side to the N smallest
    # query-slice vec_ids (ivf_flat_workload_topk's fixed deployment
    # workload); None keeps the default corpus-slice query set.
    wl = (
        f" AND q.vec_id IN (SELECT vec_id FROM ("
        f"SELECT vec_id FROM e WHERE vec_id % 50 = 0"
        f" ORDER BY vec_id LIMIT {workload}))"
        if workload is not None
        else ""
    )
    return f"""
WITH {_NORM_CTE},
cent AS (
  SELECT vec_id AS cent_id, nv AS centroid
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
),
assign0 AS (
  SELECT e.vec_id AS neighbor_id, e.nv AS cv, cent.cent_id,
         ROUND(list_dot_product(e.nv, cent.centroid), 6) AS cdot
  FROM e CROSS JOIN cent
),
assigned AS (
  SELECT neighbor_id, cv, cent_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY neighbor_id ORDER BY cdot DESC, cent_id) AS rn
    FROM assign0
  ) WHERE rn = 1
),
q0 AS (
  SELECT q.vec_id AS query_id, q.nv AS qv, cent.cent_id,
         ROUND(list_dot_product(q.nv, cent.centroid), 6) AS qdot
  FROM e q CROSS JOIN cent WHERE q.vec_id % 50 = 0{wl}
),
probed AS (
  SELECT query_id, qv, cent_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qdot DESC, cent_id) AS rn
    FROM q0
  ) WHERE rn <= {n_probe}
),
s AS (
  SELECT p.query_id, a.neighbor_id, ROUND(list_dot_product(p.qv, a.cv), 6) AS sim
  FROM assigned a JOIN probed p USING (cell)
  WHERE a.neighbor_id <> p.query_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
  FROM s
)
SELECT query_id, neighbor_id, sim, CAST(rn AS BIGINT) AS rank FROM r WHERE rn <= {k}
"""


ORACLE_SQL["ivf_flat_ann_topk"] = _ivf_flat_sql(4)

# SemDeDup (operators/similarity.semdedup_embeddings): md5-seeded
# cells, argmax rounded-cosine assignment, cell-bounded pairwise test,
# keeper = least-centroid-similar under the (cent_sim, vec_id) total
# order with dominated-by-any semantics — all mirrored exactly.
from .operators.similarity import (  # noqa: E402
    SEMDEDUP_CELLS as _SDC_,
    SEMDEDUP_TAU as _SDT_,
)

ORACLE_SQL["semdedup_embeddings"] = f"""
WITH {_NORM_CTE},
cent AS (
  SELECT vec_id AS cent_id, nv AS centroid
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_SDC_}
),
assign0 AS (
  SELECT e.vec_id, e.nv, cent.cent_id,
         ROUND(list_dot_product(e.nv, cent.centroid), 6) AS cdot
  FROM e CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, nv, cent_id AS cell, cdot AS cent_sim FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, cent_id) AS rn
    FROM assign0
  ) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM assigned a JOIN assigned b ON a.cell = b.cell
   AND (b.cent_sim < a.cent_sim
        OR (b.cent_sim = a.cent_sim AND b.vec_id < a.vec_id))
  WHERE ROUND(list_dot_product(a.nv, b.nv), 6) >= {_SDT_}
)
SELECT a.vec_id, a.cell, a.cent_sim, (d.vec_id IS NULL) AS kept
FROM assigned a LEFT JOIN dropped d USING (vec_id)
"""

# Incremental refresh provably equals the full-table dedup (the delta
# window re-ranks base ∪ new-slice; see plans/star.fact_events_incremental).
ORACLE_SQL["fact_events_incremental"] = ORACLE_SQL["fact_events"]

# The streaming foreachBatch MERGE converges to the batch dedup
# (streaming/pipeline.fact_events_streamed) — same oracle.
ORACLE_SQL["fact_events_streamed"] = ORACLE_SQL["fact_events"]

ORACLE_SQL["q10_returned_items"] = f"""
SELECT c_custkey, c_name, n_name,
  {_dsum("l_extendedprice * (1 - l_discount)")} AS lost_revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY lost_revenue DESC, c_custkey
LIMIT 20
"""

ORACLE_SQL["q12_priority_lines"] = f"""
SELECT l_linestatus,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '{Q5_LO} 00:00:00'
  AND l_shipdate < TIMESTAMP '{Q5_HI} 00:00:00'
GROUP BY l_linestatus
"""

# Exact decimal sum → ONE double division: both engines hit the same
# IEEE result, so the correlated min-equality selects the same rows.
ORACLE_SQL["min_price_supplier"] = """
WITH per_supp AS (
  SELECT l_partkey, l_suppkey,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS avg_price
  FROM lineitem GROUP BY 1, 2
)
SELECT l_partkey, l_suppkey, avg_price FROM per_supp
QUALIFY avg_price = MIN(avg_price) OVER (PARTITION BY l_partkey)
"""

# The bloom prefilter only prunes non-matching rows; the oracle is the
# plain join — exactness of the pruned plan is the point of the test.
ORACLE_SQL["bloom_prejoin_revenue"] = f"""
SELECT o_orderpriority,
  {_dsum("l_extendedprice * (1 - l_discount)")} AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '{BLOOM_PRIORITY}'
GROUP BY o_orderpriority
"""

ORACLE_SQL["user_value_deltas"] = """
SELECT event_id, user_id, ts, value,
  lag(value) OVER w AS prev_value,
  value - lag(value) OVER w AS delta,
  lead(value) OVER w AS next_value,
  CAST(ntile(4) OVER w AS BIGINT) AS user_quartile
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

ORACLE_SQL["q6_forecast_revenue"] = f"""
SELECT {_dsum('l_extendedprice * l_discount')} AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{Q5_LO} 00:00:00'
  AND l_shipdate < TIMESTAMP '{Q5_HI} 00:00:00'
  AND l_discount >= 0.04 AND l_discount <= 0.06 AND l_quantity < 24
"""

# Both engines: exact decimal conditional sums, then (100.0 * p) / t in
# left-associated double arithmetic — one IEEE result.
ORACLE_SQL["q14_promo_revenue"] = f"""
WITH agg AS (
  SELECT
    SUM(CASE WHEN p_type = 'PROMO'
        THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,8))
        ELSE CAST(0 AS DECIMAL(18,8)) END) AS p,
    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,8))) AS t
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '{Q5_LO} 00:00:00'
    AND l_shipdate < TIMESTAMP '{Q5_HI} 00:00:00'
)
SELECT 100.0 * CAST(p AS DOUBLE) / CAST(t AS DOUBLE) AS promo_revenue_pct,
  CAST(p AS DOUBLE) AS promo_revenue,
  CAST(t AS DOUBLE) AS total_revenue
FROM agg
"""

ORACLE_SQL["q19_disjunctive_revenue"] = f"""
SELECT {_dsum("l_extendedprice * (1 - l_discount)")} AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""

ORACLE_SQL["q18_large_orders"] = f"""
WITH big AS (
  SELECT l_orderkey, {_dsum('l_quantity')} AS total_qty
  FROM lineitem GROUP BY 1
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE total_qty > {Q18_MIN_QTY}
"""

ORACLE_SQL["docs_pii_scrub"] = f"""
WITH raw AS (
  SELECT doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@example.com or +1 555-010-' || CAST(doc_id AS VARCHAR) AS r
  FROM documents
),
e AS (
  SELECT doc_id, r,
    CAST(len(regexp_extract_all(r, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
    regexp_replace(r, '{PII_EMAIL}', '<EMAIL>', 'g') AS ne
  FROM raw
)
SELECT doc_id,
  regexp_replace(ne, '{PII_PHONE}', '<PHONE>', 'g') AS clean_text,
  n_emails,
  CAST(len(regexp_extract_all(ne, '{PII_PHONE}')) AS BIGINT) AS n_phones
FROM e
"""

ORACLE_SQL["docs_repetition"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
g AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 2
      THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
      ELSE [] END AS g2,
    CASE WHEN len(t) >= 3
      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      ELSE [] END AS g3
  FROM toks
)
SELECT doc_id,
  CASE WHEN len(g2) > 0
    THEN round((len(g2) - len(list_distinct(g2))) / CAST(len(g2) AS DOUBLE), 6)
    ELSE 0.0 END AS dup_2gram_ratio,
  CASE WHEN len(g3) > 0
    THEN round((len(g3) - len(list_distinct(g3))) / CAST(len(g3) AS DOUBLE), 6)
    ELSE 0.0 END AS dup_3gram_ratio
FROM g
"""

# Identical window text on both engines: RANGE boundaries are computed
# as value±0.5 then compared — IEEE-identical, so ties land the same.
ORACLE_SQL["value_range_window"] = """
SELECT * FROM (
  SELECT event_id,
    CAST(count(*) OVER (PARTITION BY event_type ORDER BY value
         RANGE BETWEEN 0.5 PRECEDING AND 0.5 FOLLOWING) - 1 AS BIGINT) AS n_collisions,
    CAST(sum(event_id) OVER (PARTITION BY event_type ORDER BY value
         RANGE BETWEEN 0.5 PRECEDING AND 0.5 FOLLOWING) - event_id AS BIGINT) AS sum_collision_ids
  FROM events
) WHERE n_collisions > 0
"""

ORACLE_SQL["q7_volume_shipping"] = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
  CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
  {_dsum("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE l_shipdate >= TIMESTAMP '{Q7_LO} 00:00:00'
  AND l_shipdate < TIMESTAMP '{Q7_HI} 00:00:00'
  AND ((sn.n_name = '{Q7_NATION_A}' AND cn.n_name = '{Q7_NATION_B}')
    OR (sn.n_name = '{Q7_NATION_B}' AND cn.n_name = '{Q7_NATION_A}'))
GROUP BY 1, 2, 3
"""

ORACLE_SQL["q8_market_share"] = f"""
WITH agg AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
    SUM(CASE WHEN sn.n_name = '{Q8_NATION}'
        THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,8))
        ELSE CAST(0 AS DECIMAL(18,8)) END) AS num,
    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,8))) AS den
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE r_name = '{Q8_REGION}' AND p_type = '{Q8_TYPE}'
    AND o_orderdate >= TIMESTAMP '{Q7_LO} 00:00:00'
    AND o_orderdate < TIMESTAMP '{Q7_HI} 00:00:00'
  GROUP BY 1
)
SELECT o_year,
  ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS mkt_share,
  CAST(num AS DOUBLE) AS nation_revenue,
  CAST(den AS DOUBLE) AS total_revenue
FROM agg
"""

ORACLE_SQL["q9_product_profit"] = f"""
SELECT n_name AS nation,
  CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
  {_dsum("l_extendedprice * (1 - l_discount) - p_retailprice * 0.1 * l_quantity")} AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%{Q9_NAME_FRAGMENT}%'
GROUP BY 1, 2
"""

ORACLE_SQL["q11_important_parts"] = f"""
WITH pv AS (
  SELECT l_partkey, {_dsum("l_extendedprice * l_quantity")} AS part_value
  FROM lineitem GROUP BY 1
),
tot AS (
  SELECT {_dsum("l_extendedprice * l_quantity")} AS total FROM lineitem
)
SELECT l_partkey, part_value FROM pv, tot
WHERE part_value > total * {Q11_SHARE}
"""

ORACLE_SQL["q13_customer_distribution"] = """
WITH per_cust AS (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY 1
)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
"""

ORACLE_SQL["q15_top_supplier"] = f"""
WITH revenue AS (
  SELECT l_suppkey, {_dsum("l_extendedprice * (1 - l_discount)")} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q15_LO} 00:00:00'
    AND l_shipdate < TIMESTAMP '{Q15_HI} 00:00:00'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""

ORACLE_SQL["q16_supplier_variety"] = """
SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
GROUP BY 1, 2, 3
"""

ORACLE_SQL["q17_small_quantity_revenue"] = f"""
WITH j AS (
  SELECT l_quantity, l_extendedprice,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,8))) OVER (PARTITION BY l_partkey) AS DOUBLE)
      / COUNT(*) OVER (PARTITION BY l_partkey) AS avg_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = '{Q17_BRAND}'
)
SELECT {_dsum('l_extendedprice')} / 7.0 AS avg_yearly
FROM j WHERE l_quantity < 0.2 * avg_qty
"""

ORACLE_SQL["q22_global_sales_opportunity"] = f"""
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS a
  FROM customer WHERE c_acctbal > 0
)
SELECT CAST(c_nationkey % 10 AS BIGINT) AS cntrycode,
  CAST(COUNT(*) AS BIGINT) AS numcust,
  {_dsum('c_acctbal')} AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > a
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY 1
"""

ORACLE_SQL["docs_contamination"] = f"""
WITH {SHINGLES_CTE},
bench AS (SELECT DISTINCT unnest(s) AS g FROM shf WHERE doc_id % {CONTAM_BENCH_MOD} = 0),
base AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n_shingles
         FROM shf WHERE doc_id % {CONTAM_BENCH_MOD} <> 0),
ex AS (SELECT doc_id, unnest(s) AS g FROM shf WHERE doc_id % {CONTAM_BENCH_MOD} <> 0),
hits AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated
  FROM ex WHERE g IN (SELECT g FROM bench) GROUP BY doc_id
)
SELECT b.doc_id, b.n_shingles,
  CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
  ROUND(COALESCE(h.n_contaminated, 0) / CAST(b.n_shingles AS DOUBLE), 6)
    AS contamination_ratio
FROM base b LEFT JOIN hits h USING (doc_id)
"""

ORACLE_SQL["ngram_containment_pairs"] = f"""
WITH {SHINGLES_CTE},
ex AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n, unnest(s) AS g FROM shf),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS n_a, b.n AS n_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, n_shared,
  ROUND(n_shared / CAST(least(n_a, n_b) AS DOUBLE), 6) AS containment
FROM p
WHERE ROUND(n_shared / CAST(least(n_a, n_b) AS DOUBLE), 6) >= {CONTAINMENT_THRESHOLD}
"""

ORACLE_SQL["token_entropy"] = f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
cnt AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
agg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
    CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
    SUM(CAST(ROUND(c * ln(c), 8) AS DECIMAL(18,8))) AS clnc
  FROM cnt GROUP BY 1
)
SELECT doc_id, n_tokens, distinct_tokens,
  ROUND(ln(n_tokens) - CAST(clnc AS DOUBLE) / n_tokens, 6) AS entropy
FROM agg
"""

# Per-label centroids of normalized embeddings
# (operators/similarity.label_centroids): rounded-decimal component
# sums keep the float average order-independent in both engines.
ORACLE_SQL["label_centroids"] = f"""
WITH {_NORM_CTE},
lbl AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
comp AS (
  SELECT label, CAST(r.pos AS BIGINT) AS pos, nv[r.pos + 1] AS x
  FROM e JOIN lbl USING (vec_id), LATERAL unnest(range(len(nv))) AS r(pos)
)
SELECT label, pos, CAST(COUNT(*) AS BIGINT) AS n_vecs,
  ROUND(CAST(SUM(CAST(ROUND(x, 9) AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6)
    AS centroid
FROM comp GROUP BY 1, 2
"""

# Nearest-centroid classification composed over the label_centroids
# oracle (operators/similarity.nearest_centroid_assign): centroids
# re-assembled per label, normalized, exact cosine argmax with the
# same (sim desc, label asc) tie rule.
ORACLE_SQL["nearest_centroid_assign"] = f"""
WITH cent0 AS ({ORACLE_SQL["label_centroids"]}),
cent AS (
  SELECT label, list(centroid ORDER BY pos) AS cv FROM cent0 GROUP BY label
),
cn AS (
  SELECT label,
         list_transform(cv, x -> x / sqrt(list_dot_product(cv, cv))) AS cnv
  FROM cent
),
{_NORM_CTE},
s AS (
  SELECT e.vec_id, cn.label, ROUND(list_dot_product(e.nv, cn.cnv), 6) AS sim
  FROM e CROSS JOIN cn
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, label) AS rn
  FROM s
)
SELECT vec_id, label AS pred_label, sim FROM r WHERE rn = 1
"""

# Composes over the IVF-Flat top-k oracle (the classifier's default
# neighbor source since round 3 — operators/similarity.knn_label_vote);
# the brute-composed vote remains the agreement oracle in tests.
ORACLE_SQL["knn_label_vote"] = f"""
WITH topk AS ({ORACLE_SQL["ivf_flat_ann_topk"]}),
v AS (
  SELECT query_id, CAST(l.label AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS votes
  FROM topk JOIN embeddings l ON neighbor_id = l.vec_id GROUP BY 1, 2
),
w AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rn
  FROM v
)
SELECT query_id, label AS pred_label, votes FROM w WHERE rn = 1
"""

ORACLE_SQL["kmv_distinct_users"] = f"""
WITH d AS (
  SELECT DISTINCT event_type,
    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT AS u
  FROM events
),
kept AS (
  SELECT * FROM d
  QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY u) <= {KMV_K}
),
agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS sketch_size, MAX(u) AS kth
  FROM kept GROUP BY 1
)
SELECT event_type, sketch_size,
  CASE WHEN sketch_size < {KMV_K} THEN CAST(sketch_size AS DOUBLE)
       ELSE ROUND({float(KMV_K - 1)} / ((kth + 1) / 4294967296.0), 4) END AS approx_users
FROM agg
"""

# The daily-sketch merge is provably lossless (a global top-k hash is
# top-k within its own day), so the direct-sketch oracle serves it.
ORACLE_SQL["kmv_daily_merge_distinct_users"] = ORACLE_SQL["kmv_distinct_users"]

# keep-verdict fragment shared by quality_filter and curated_documents:
# reasons built from the ROUNDED signals, '' ⇔ keep.
_QF_CTES = f"""
qf_q AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks
),
qf_p AS (
  SELECT doc_id,
    CASE WHEN length(text) > 0 THEN
      ROUND(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
            / CAST(length(text) AS DOUBLE), 6)
    END AS punct_ratio
  FROM documents
),
qf_g AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      ELSE [] END AS g3
  FROM toks
),
qf_r AS (
  SELECT doc_id,
    CASE WHEN len(g3) > 0
      THEN ROUND((len(g3) - len(list_distinct(g3))) / CAST(len(g3) AS DOUBLE), 6)
      ELSE 0.0 END AS dup_3gram_ratio
  FROM qf_g
),
qf_v AS (
  SELECT qf_q.doc_id AS doc_id, n_tokens, punct_ratio, dup_3gram_ratio,
    concat_ws(',',
      CASE WHEN n_tokens < {QF_MIN_TOKENS} THEN 'too_short' END,
      CASE WHEN punct_ratio > {QF_MAX_PUNCT} THEN 'high_punct' END,
      CASE WHEN dup_3gram_ratio > {QF_MAX_DUP3} THEN 'repetitive' END) AS reasons
  FROM qf_q JOIN qf_p USING (doc_id) JOIN qf_r USING (doc_id)
)
"""

ORACLE_SQL["docs_quality_filter"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
{_QF_CTES}
SELECT doc_id, n_tokens, punct_ratio, dup_3gram_ratio,
  reasons = '' AS keep, reasons
FROM qf_v
"""

ORACLE_SQL["curated_documents"] = f"""
WITH {SHINGLES_CTE},
{_QF_CTES},
surv AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
keepq AS (SELECT doc_id FROM qf_v WHERE reasons = ''),
cb AS (SELECT DISTINCT unnest(s) AS gg FROM shf WHERE doc_id % {CONTAM_BENCH_MOD} = 0),
cbase AS (SELECT doc_id, len(s) AS n_sh FROM shf WHERE doc_id % {CONTAM_BENCH_MOD} <> 0),
cex AS (SELECT doc_id, unnest(s) AS gg FROM shf WHERE doc_id % {CONTAM_BENCH_MOD} <> 0),
chits AS (
  SELECT doc_id, COUNT(*) AS n_c FROM cex
  WHERE gg IN (SELECT gg FROM cb) GROUP BY doc_id
),
contamok AS (
  SELECT b.doc_id FROM cbase b LEFT JOIN chits h USING (doc_id)
  WHERE ROUND(COALESCE(h.n_c, 0) / CAST(b.n_sh AS DOUBLE), 6) <= {CURATED_MAX_CONTAM}
)
SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
FROM documents
WHERE doc_id IN (SELECT doc_id FROM surv)
  AND doc_id IN (SELECT doc_id FROM keepq)
  AND doc_id IN (SELECT doc_id FROM contamok)
"""

ORACLE_SQL["weighted_sample_documents"] = f"""
WITH h AS (
  SELECT doc_id, n_chars,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS hu
  FROM documents WHERE n_chars > 0
),
k AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
    -ln((hu + 1) / 4294967296.0) / n_chars AS key
  FROM h
),
r AS (
  SELECT doc_id, n_chars, key,
    row_number() OVER (ORDER BY key, doc_id) AS rn
  FROM k
)
SELECT doc_id, n_chars, ROUND(key, 8) AS sample_key, CAST(rn AS BIGINT) AS rank
FROM r WHERE rn <= {WEIGHTED_SAMPLE_N}
"""

ORACLE_SQL["orders_revenue_7d_ma"] = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS order_date,
    SUM(CAST(o_totalprice AS DECIMAL(18,8))) AS rev
  FROM orders GROUP BY 1
)
SELECT order_date,
  CAST(rev AS DOUBLE) AS day_revenue,
  ROUND(CAST(SUM(rev) OVER w AS DOUBLE) / COUNT(*) OVER w, 4) AS ma7_revenue,
  CAST(COUNT(*) OVER w AS BIGINT) AS days_in_window
FROM daily
WINDOW w AS (ORDER BY date_diff('day', DATE '1970-01-01', order_date)
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""

ORACLE_SQL["orders_daily_cumulative"] = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS order_date,
    SUM(CAST(o_totalprice AS DECIMAL(18,8))) AS rev,
    CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
)
SELECT order_date, n_orders,
  CAST(rev AS DOUBLE) AS day_revenue,
  CAST(SUM(rev) OVER (PARTITION BY EXTRACT(year FROM order_date)
       ORDER BY order_date ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_revenue_ytd
FROM daily
"""

ORACLE_SQL["user_retention_cohorts"] = """
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_date FROM events),
c AS (
  SELECT user_id, active_date,
    MIN(active_date) OVER (PARTITION BY user_id) AS cohort_date
  FROM ud
)
SELECT cohort_date,
  CAST(floor(date_diff('day', cohort_date, active_date) / 7.0) AS BIGINT) AS week_offset,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
FROM c GROUP BY 1, 2
"""

ORACLE_SQL["event_type_transitions"] = """
WITH pairs AS (
  SELECT event_type AS from_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
),
counted AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n_transitions,
  ROUND(n_transitions / SUM(n_transitions) OVER (PARTITION BY from_type), 6) AS share
FROM counted
"""

# session_window: same session iff gap < 30 min STRICTLY (the built-in
# extends each window to [ts, ts+gap) and merges overlaps); end = last
# event + gap.
ORACLE_SQL["session_window_agg"] = f"""
WITH e AS (SELECT user_id, event_id, ts, value, epoch_us(ts) AS us FROM events),
s AS (
  SELECT *, CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w >= 1800000000
                 THEN 1 ELSE 0 END AS ns
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
t AS (
  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM s
)
SELECT user_id,
  MIN(ts) AS session_start,
  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  {_dsum('value')} AS session_value
FROM t GROUP BY user_id, session_idx
"""

# Q20 shape (plans/analytics.q20_promotable_suppliers): nested
# semi-joins with an exact-arithmetic correlated threshold.
ORACLE_SQL["q20_promotable_suppliers"] = """
WITH li AS (
  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,8))) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'b%')
  GROUP BY l_partkey, l_suppkey
),
pp AS (
  SELECT l_partkey, SUM(qty) AS total_qty, COUNT(*) AS n_supp
  FROM li GROUP BY l_partkey
),
keep AS (
  SELECT DISTINCT l_suppkey
  FROM li JOIN pp USING (l_partkey)
  WHERE qty * 2 * n_supp > total_qty
)
SELECT s_suppkey, s_name, n_name
FROM keep
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
"""

# Q21 shape (plans/analytics.q21_waiting_suppliers): EXISTS another
# supplier on the order, NOT EXISTS another LATE supplier.
ORACLE_SQL["q21_waiting_suppliers"] = """
WITH late AS (
  SELECT l.l_orderkey, l.l_suppkey
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
),
sole AS (
  SELECT t.l_orderkey, t.l_suppkey
  FROM late t
  WHERE EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = t.l_orderkey AND l2.l_suppkey <> t.l_suppkey
    )
    AND NOT EXISTS (
      SELECT 1 FROM late l3
      WHERE l3.l_orderkey = t.l_orderkey AND l3.l_suppkey <> t.l_suppkey
    )
),
counts AS (
  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS numwait
  FROM sole GROUP BY l_suppkey
),
ranked AS (
  SELECT s_name, n_name, numwait,
         row_number() OVER (ORDER BY numwait DESC, s_name) AS rn
  FROM counts
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
)
SELECT s_name, n_name, numwait FROM ranked WHERE rn <= 20
"""

# Sliding token-window chunking (operators/textquality.chunk_documents).
ORACLE_SQL["chunk_documents"] = f"""
WITH d AS (SELECT doc_id, {TOKS} AS t FROM documents),
base AS (SELECT doc_id, t, len(t) AS n FROM d WHERE len(t) > 0),
c AS (
  SELECT doc_id,
         CAST(s / 96 AS BIGINT) AS chunk_idx,
         CAST(s AS BIGINT) AS chunk_start,
         list_slice(t, s + 1, s + 128) AS chunk
  FROM base, LATERAL unnest(range(0, n, 96)) AS u(s)
)
SELECT doc_id, chunk_idx, chunk_start,
  CAST(len(chunk) AS BIGINT) AS n_tokens,
  array_to_string(chunk, ' ') AS chunk_text
FROM c
"""


def _column_stats_oracle() -> str:
    """Mirror of plans/analytics.lineitem_column_stats: one wide
    aggregate then a generated per-column unpivot."""
    from .plans.analytics import _STATS_COLS

    aggs, rows = ["COUNT(*) AS n_rows"], []
    for c, num in _STATS_COLS.items():
        dnum = num.replace("unix_micros(", "epoch_us(") if num else None
        aggs += [
            f"COUNT({c}) AS {c}__nn",
            f"COUNT(DISTINCT {c}) AS {c}__nd",
            f"CAST({f'MIN({dnum})' if dnum else 'NULL'} AS DOUBLE) AS {c}__mn",
            f"CAST({f'MAX({dnum})' if dnum else 'NULL'} AS DOUBLE) AS {c}__mx",
        ]
        rows.append(
            f"SELECT '{c}' AS column_name, n_rows, {c}__nn AS n_non_null,"
            f" {c}__nd AS n_distinct, {c}__mn AS min_value, {c}__mx AS max_value FROM wide"
        )
    return (
        "WITH wide AS (\n  SELECT "
        + ",\n    ".join(aggs)
        + "\n  FROM lineitem\n)\n"
        + "\nUNION ALL\n".join(rows)
    )


ORACLE_SQL["lineitem_column_stats"] = _column_stats_oracle()

from .plans.analytics import KMV_K as _KK  # noqa: E402

ORACLE_SQL["kmv_view_purchase_overlap"] = f"""
WITH d AS (
  SELECT DISTINCT event_type,
    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT AS u
  FROM events WHERE event_type IN ('view', 'purchase')
),
sk AS (
  SELECT * FROM d
  QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY u) <= {_KK}
),
sides_t AS (
  SELECT u, COUNT(*) AS sides FROM sk GROUP BY u
),
uk AS (
  SELECT * FROM sides_t QUALIFY row_number() OVER (ORDER BY u) <= {_KK}
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS sketch_size, MAX(u) AS kth,
         CAST(SUM(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_both
  FROM uk
)
SELECT sketch_size, n_in_both,
  ROUND(n_in_both / CAST(sketch_size AS DOUBLE), 6) AS jaccard_est,
  ROUND(CASE WHEN sketch_size < {_KK} THEN CAST(sketch_size AS DOUBLE)
       ELSE {float(_KK - 1)} / ((kth + 1) / 4294967296.0) END, 4) AS union_est,
  ROUND(n_in_both / CAST(sketch_size AS DOUBLE)
        * (CASE WHEN sketch_size < {_KK} THEN CAST(sketch_size AS DOUBLE)
           ELSE {float(_KK - 1)} / ((kth + 1) / 4294967296.0) END), 4) AS intersection_est
FROM agg
"""

# Theta A-NOT-B from the same union-sketch machinery
# (plans/analytics.kmv_view_not_purchase).
ORACLE_SQL["kmv_view_not_purchase"] = f"""
WITH d AS (
  SELECT DISTINCT event_type,
    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT AS u
  FROM events WHERE event_type IN ('view', 'purchase')
),
sk AS (
  SELECT * FROM d
  QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY u) <= {_KK}
),
per_u AS (
  SELECT u,
    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS in_a,
    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b
  FROM sk GROUP BY u
),
uk AS (
  SELECT * FROM per_u QUALIFY row_number() OVER (ORDER BY u) <= {_KK}
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS sketch_size, MAX(u) AS kth,
         CAST(SUM(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_a_not_b
  FROM uk
)
SELECT sketch_size, n_a_not_b,
  ROUND(n_a_not_b / CAST(sketch_size AS DOUBLE), 6) AS a_not_b_frac,
  ROUND(CASE WHEN sketch_size < {_KK} THEN CAST(sketch_size AS DOUBLE)
       ELSE {float(_KK - 1)} / ((kth + 1) / 4294967296.0) END, 4) AS union_est,
  ROUND(n_a_not_b / CAST(sketch_size AS DOUBLE)
        * (CASE WHEN sketch_size < {_KK} THEN CAST(sketch_size AS DOUBLE)
           ELSE {float(_KK - 1)} / ((kth + 1) / 4294967296.0) END), 4) AS difference_est
FROM agg
"""


def _split_oracle() -> str:
    from .functions.sketch import HASH_DOMAIN
    from .operators.dedup import TEST_PCT, VAL_PCT

    t_test = HASH_DOMAIN * TEST_PCT // 100
    t_val = HASH_DOMAIN * (TEST_PCT + VAL_PCT) // 100
    return f"""
WITH h AS (
  SELECT doc_id,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS hv
  FROM documents
)
SELECT doc_id,
  CASE WHEN hv < {t_test} THEN 'test'
       WHEN hv < {t_val} THEN 'val'
       ELSE 'train' END AS split
FROM h
"""


ORACLE_SQL["split_assignments"] = _split_oracle()


def _split_grouped_oracle() -> str:
    """Group-aware split (operators/dedup.split_assignments_grouped):
    the recursive-CTE near-dup components (threshold 0.8, identical to
    the dedup_components oracle) keyed through the same md5 thresholds
    as the per-doc split — singleton docs hash by their own id."""
    from .functions.sketch import HASH_DOMAIN
    from .operators.dedup import TEST_PCT, VAL_PCT

    t_test = HASH_DOMAIN * TEST_PCT // 100
    t_val = HASH_DOMAIN * (TEST_PCT + VAL_PCT) // 100
    return f"""
WITH RECURSIVE {SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    ROUND(len(list_intersect(a.s, b.s)) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6) AS jaccard
  FROM shf a JOIN shf b ON a.doc_id < b.doc_id
),
dup AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.8),
edges AS (SELECT doc_a AS a, doc_b AS b FROM dup UNION SELECT doc_b, doc_a FROM dup),
nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
comp AS (SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src),
g AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS group_key
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
h AS (
  SELECT doc_id, group_key,
    ('0x' || substr(md5(CAST(group_key AS VARCHAR)), 1, 8))::UBIGINT AS hv
  FROM g
)
SELECT doc_id, CAST(group_key AS BIGINT) AS group_key,
  CASE WHEN hv < {t_test} THEN 'test'
       WHEN hv < {t_val} THEN 'val'
       ELSE 'train' END AS split
FROM h
"""


ORACLE_SQL["split_assignments_grouped"] = _split_grouped_oracle()


def _pack_oracle() -> str:
    """Recursive-CTE replay of the greedy first-fit scan in
    operators/dedup.pack_documents."""
    from .operators.dedup import PACK_BUCKET, PACK_CAPACITY

    return f"""
WITH RECURSIVE base AS (
  SELECT doc_id, CAST(doc_id // {PACK_BUCKET} AS BIGINT) AS pack_bucket,
         CAST(len({TOKS}) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY doc_id // {PACK_BUCKET} ORDER BY doc_id) AS rn
  FROM documents
),
packed AS (
  SELECT pack_bucket, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS shard_idx, n_tokens AS acc
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.pack_bucket, b.rn, b.doc_id, b.n_tokens,
    CASE WHEN p.acc > 0 AND p.acc + b.n_tokens > {PACK_CAPACITY}
         THEN p.shard_idx + 1 ELSE p.shard_idx END,
    CASE WHEN p.acc > 0 AND p.acc + b.n_tokens > {PACK_CAPACITY}
         THEN b.n_tokens ELSE p.acc + b.n_tokens END
  FROM base b JOIN packed p
    ON b.pack_bucket = p.pack_bucket AND b.rn = p.rn + 1
)
SELECT doc_id, pack_bucket, n_tokens, shard_idx FROM packed
"""


ORACLE_SQL["pack_documents"] = _pack_oracle()

# The generic asof_join reproduces the specific as-of query exactly.
ORACLE_SQL["asof_generic_last_view"] = ORACLE_SQL["asof_last_view_before_purchase"]

# Hourly anomaly z-scores from exact integer moments
# (plans/analytics.events_hourly_anomalies).
ORACLE_SQL["events_hourly_anomalies"] = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour_ts, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, COUNT(*) AS hours, SUM(n_events) AS s,
         SUM(n_events * n_events) AS sq
  FROM hourly GROUP BY 1
),
scored AS (
  SELECT h.event_type, h.hour_ts, h.n_events,
    ROUND(
      (h.n_events - CAST(s AS DOUBLE) / hours)
      / sqrt((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / hours)
             / (hours - 1)),
      6
    ) AS z_score
  FROM hourly h JOIN stats st USING (event_type)
  WHERE hours > 1
    AND (CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / hours)
        / (hours - 1) > 0
)
SELECT event_type, hour_ts, n_events, z_score
FROM scored WHERE abs(z_score) > 2.0
"""

# Deterministic hash-sampled percentile sketch (plans/analytics.
# sampled_value_percentiles); the daily-merge twin is provably
# lossless, so one oracle serves both.
ORACLE_SQL["sampled_value_percentiles"] = """
WITH sampled AS (
  SELECT event_type, value
  FROM (
    SELECT event_type, event_id, value,
      ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::UBIGINT AS h
    FROM events
  )
  QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) <= 256
)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_sample,
  ROUND(quantile_cont(value, 0.5), 4) AS p50,
  ROUND(quantile_cont(value, 0.9), 4) AS p90,
  ROUND(quantile_cont(value, 0.99), 4) AS p99
FROM sampled GROUP BY event_type
"""
ORACLE_SQL["sampled_daily_merge_percentiles"] = ORACLE_SQL["sampled_value_percentiles"]

# CDC snapshot diff (operators/merge.snapshot_diff on deterministic
# old/new slices of events).
ORACLE_SQL["events_snapshot_diff"] = """
WITH old AS (
  SELECT event_id,
    md5(concat_ws(chr(31),
        COALESCE(CAST(ts AS VARCHAR), chr(30)),
        COALESCE(CAST(user_id AS VARCHAR), chr(30)),
        COALESCE(event_type, chr(30)),
        COALESCE(CAST(value AS VARCHAR), chr(30)),
        COALESCE(props, chr(30)))) AS fp
  FROM events WHERE event_id % 7 <> 0
),
new AS (
  SELECT event_id,
    md5(concat_ws(chr(31),
        COALESCE(CAST(ts AS VARCHAR), chr(30)),
        COALESCE(CAST(user_id AS VARCHAR), chr(30)),
        COALESCE(event_type, chr(30)),
        COALESCE(CAST(CASE WHEN event_id % 5 = 0 THEN ROUND(value + 1.0, 4)
                           ELSE value END AS VARCHAR), chr(30)),
        COALESCE(props, chr(30)))) AS fp
  FROM events WHERE event_id % 11 <> 0
),
j AS (
  SELECT old.event_id AS o_key, old.fp AS o_fp, new.event_id AS n_key, new.fp AS n_fp
  FROM old FULL OUTER JOIN new ON old.event_id = new.event_id
)
SELECT COALESCE(n_key, o_key) AS event_id,
  CASE WHEN o_key IS NULL THEN 'insert'
       WHEN n_key IS NULL THEN 'delete'
       WHEN o_fp <> n_fp THEN 'update' END AS change_type
FROM j
WHERE (o_key IS NULL) OR (n_key IS NULL) OR (o_fp <> n_fp)
"""

# Per-(source, lang) curation rollup (operators/textquality.
# source_stats): token totals via the shared TOKS tokenizer, exact
# decimal char mean, dup rate from the same normalized-md5 fingerprint
# as docs_fingerprint.
ORACLE_SQL["docs_source_stats"] = f"""
WITH d AS (
  SELECT source, lang,
    CAST(len({TOKS}) AS BIGINT) AS nt,
    CAST(length(text) AS BIGINT) AS nc,
    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g'))) AS fp
  FROM documents
)
SELECT source, lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(nt) AS BIGINT) AS n_tokens,
  ROUND(CAST(SUM(CAST(nc AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_chars,
  CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
  ROUND(1.0 - COUNT(DISTINCT fp) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
FROM d GROUP BY 1, 2
"""


def _hist_percentile_oracle() -> str:
    """Fixed-bin histogram quantile sketch (plans/analytics.
    hist_value_percentiles): bucket = floor(value/16) with a
    power-of-two width, estimate = linear interpolation inside the
    target cumulative bucket — every step exact IEEE arithmetic, so
    the approximate sketch still value-hash-matches. The daily-merge
    twin sums the same buckets (provably lossless), one oracle serves
    both."""
    w = 16.0
    cases = []
    for p in (0.5, 0.9, 0.99):
        r = f"ceil({p} * n)"
        cases.append(
            f"MAX(CASE WHEN cumc >= {r} AND cum_prev < {r}\n"
            f"    THEN bucket * {w} + {w} * ({r} - cum_prev) / c END) AS p{int(p * 100)}"
        )
    case_sql = ",\n    ".join(cases)
    return f"""
WITH hist AS (
  SELECT event_type, CAST(floor(value / {w}) AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
cum AS (
  SELECT *, SUM(c) OVER (PARTITION BY event_type ORDER BY bucket) AS cumc
  FROM hist
),
tot AS (SELECT event_type, SUM(c) AS n FROM hist GROUP BY 1),
j AS (
  SELECT cum.event_type, bucket, c, cumc, cumc - c AS cum_prev, n
  FROM cum JOIN tot USING (event_type)
),
est AS (
  SELECT event_type, MAX(n) AS n,
    {case_sql}
  FROM j GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_values,
  ROUND(p50, 4) AS p50, ROUND(p90, 4) AS p90, ROUND(p99, 4) AS p99
FROM est
"""


ORACLE_SQL["hist_value_percentiles"] = _hist_percentile_oracle()
ORACLE_SQL["hist_daily_merge_percentiles"] = ORACLE_SQL["hist_value_percentiles"]

# The two-pass distributed selection reproduces percentile() exactly
# (plans/analytics.value_percentiles_2pass) — approximation-free, so it
# shares the exact twin's oracle.
ORACLE_SQL["value_percentiles_2pass"] = ORACLE_SQL["value_percentiles"]

# RFM segmentation (plans/analytics.customer_rfm_segments).
ORACLE_SQL["customer_rfm_segments"] = f"""
WITH per_cust AS (
  SELECT o_custkey, MAX(o_orderdate) AS last_order,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         {_dsum('o_totalprice')} AS monetary
  FROM orders GROUP BY o_custkey
),
b AS (SELECT MAX(o_orderdate) AS gmax FROM orders),
base AS (
  SELECT o_custkey,
    CAST(date_diff('day', last_order, gmax) AS BIGINT) AS recency_days,
    frequency, monetary
  FROM per_cust, b
),
qb AS (
  SELECT
    quantile_cont(recency_days, 0.25) AS rb1, quantile_cont(recency_days, 0.5) AS rb2,
    quantile_cont(recency_days, 0.75) AS rb3,
    quantile_cont(frequency, 0.25) AS fb1, quantile_cont(frequency, 0.5) AS fb2,
    quantile_cont(frequency, 0.75) AS fb3,
    quantile_cont(CAST(monetary AS DOUBLE), 0.25) AS mb1,
    quantile_cont(CAST(monetary AS DOUBLE), 0.5) AS mb2,
    quantile_cont(CAST(monetary AS DOUBLE), 0.75) AS mb3
  FROM base
),
scored AS (
  SELECT base.*,
    1 + CASE WHEN recency_days > rb1 THEN 1 ELSE 0 END
      + CASE WHEN recency_days > rb2 THEN 1 ELSE 0 END
      + CASE WHEN recency_days > rb3 THEN 1 ELSE 0 END AS r_q,
    1 + CASE WHEN frequency < fb1 THEN 1 ELSE 0 END
      + CASE WHEN frequency < fb2 THEN 1 ELSE 0 END
      + CASE WHEN frequency < fb3 THEN 1 ELSE 0 END AS f_q,
    1 + CASE WHEN CAST(monetary AS DOUBLE) < mb1 THEN 1 ELSE 0 END
      + CASE WHEN CAST(monetary AS DOUBLE) < mb2 THEN 1 ELSE 0 END
      + CASE WHEN CAST(monetary AS DOUBLE) < mb3 THEN 1 ELSE 0 END AS m_q
  FROM base, qb
)
SELECT c_custkey, c_name, recency_days, frequency, monetary,
  CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR) || CAST(m_q AS VARCHAR) AS rfm_segment
FROM scored JOIN customer ON o_custkey = c_custkey
"""

# Per-document rare-token (hapax) fraction
# (operators/textquality.rare_token_ratio).
ORACLE_SQL["docs_rare_token_ratio"] = f"""
WITH tok AS (
  SELECT DISTINCT * FROM (SELECT doc_id, unnest({TOKS}) AS term FROM documents)
),
df AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY term)
SELECT t.doc_id,
  CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
  CAST(SUM(CASE WHEN df.df <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
  ROUND(SUM(CASE WHEN df.df <= 1 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
    AS rare_ratio
FROM tok t JOIN df USING (term)
GROUP BY t.doc_id
"""

# Top-k adjacent-token bigram collocations with conditional rates
# (operators/textquality.token_bigram_rates). The LIMIT cut is
# deterministic via the (count desc, x, y) tiebreak.
ORACLE_SQL["token_bigram_rates"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
bi AS (
  SELECT t[i] AS x, t[i + 1] AS y
  FROM toks, LATERAL unnest(range(1, len(t))) AS u(i)
),
bic AS (SELECT x, y, COUNT(*) AS n_xy FROM bi GROUP BY 1, 2),
unic AS (
  SELECT term, COUNT(*) AS n
  FROM (SELECT unnest(t) AS term FROM toks) GROUP BY 1
)
SELECT b.x, b.y, CAST(b.n_xy AS BIGINT) AS n_xy,
  CAST(ux.n AS BIGINT) AS n_x, CAST(uy.n AS BIGINT) AS n_y,
  ROUND(b.n_xy / CAST(ux.n AS DOUBLE), 6) AS p_y_given_x,
  ROUND(b.n_xy / CAST(uy.n AS DOUBLE), 6) AS p_x_given_y
FROM bic b
JOIN unic ux ON b.x = ux.term
JOIN unic uy ON b.y = uy.term
ORDER BY n_xy DESC, x, y
LIMIT 50
"""

# Dense hourly grid with zero-filled gaps
# (plans/analytics.events_hourly_gapfill).
ORACLE_SQL["events_hourly_gapfill"] = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour_ts, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
  FROM events
),
grid AS (
  SELECT t.event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts
  FROM (SELECT DISTINCT event_type FROM events) t, bounds
)
SELECT g.event_type, g.hour_ts,
  CAST(COALESCE(h.n, 0) AS BIGINT) AS n_events,
  h.n IS NULL AS is_gap
FROM grid g
LEFT JOIN hourly h ON g.event_type = h.event_type AND g.hour_ts = h.hour_ts
"""

# Pairwise KMV audience-overlap matrix across all event-type pairs
# (plans/analytics.kmv_type_overlap_matrix).
ORACLE_SQL["kmv_type_overlap_matrix"] = f"""
WITH d AS (
  SELECT DISTINCT event_type,
    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT AS u
  FROM events
),
sk AS (
  SELECT * FROM d
  QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY u) <= {_KK}
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM (SELECT DISTINCT event_type FROM d) a
  JOIN (SELECT DISTINCT event_type FROM d) b ON a.event_type < b.event_type
),
per_u AS (
  SELECT p.type_a, p.type_b, s.u,
    MAX(CASE WHEN s.event_type = p.type_a THEN 1 ELSE 0 END) AS in_a,
    MAX(CASE WHEN s.event_type = p.type_b THEN 1 ELSE 0 END) AS in_b
  FROM pairs p
  JOIN sk s ON s.event_type = p.type_a OR s.event_type = p.type_b
  GROUP BY 1, 2, 3
),
uk AS (
  SELECT * FROM per_u
  QUALIFY row_number() OVER (PARTITION BY type_a, type_b ORDER BY u) <= {_KK}
),
agg AS (
  SELECT type_a, type_b, CAST(COUNT(*) AS BIGINT) AS sketch_size, MAX(u) AS kth,
    CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_in_both
  FROM uk GROUP BY 1, 2
)
SELECT type_a, type_b, sketch_size, n_in_both,
  ROUND(n_in_both / CAST(sketch_size AS DOUBLE), 6) AS jaccard_est,
  ROUND(CASE WHEN sketch_size < {_KK} THEN CAST(sketch_size AS DOUBLE)
       ELSE {float(_KK - 1)} / ((kth + 1) / 4294967296.0) END, 4) AS union_est,
  ROUND(n_in_both / CAST(sketch_size AS DOUBLE)
        * (CASE WHEN sketch_size < {_KK} THEN CAST(sketch_size AS DOUBLE)
           ELSE {float(_KK - 1)} / ((kth + 1) / 4294967296.0) END), 4)
    AS intersection_est
FROM agg
"""

# SQ8 scalar-quantized ANN (operators/similarity.sq8_ann_topk): the
# int8 grid, the INTEGER code-dot candidate cut (k + margin), and the
# exact rerank are all reproduced — integer dots are exact in both
# engines, so even the candidate selection is parity-safe.
from .operators.similarity import SQ_LEVELS as _SQL_, SQ_MARGIN as _SQM_  # noqa: E402

ORACLE_SQL["sq8_ann_topk"] = f"""
WITH {_NORM_CTE},
sc AS (SELECT MAX(list_max(list_transform(nv, x -> abs(x)))) AS s FROM e),
px AS (
  SELECT vec_id, r.i AS pos, nv[r.i] AS x
  FROM e, LATERAL unnest(range(1, 65)) AS r(i)
),
codes AS (
  SELECT vec_id, pos,
    CAST(floor(x * {float(_SQL_)} / s + 0.5) AS BIGINT) AS c
  FROM px, sc
),
dots AS (
  SELECT qc.vec_id AS query_id, cc.vec_id AS neighbor_id, SUM(qc.c * cc.c) AS idot
  FROM codes qc JOIN codes cc ON qc.pos = cc.pos AND qc.vec_id <> cc.vec_id
  WHERE qc.vec_id % 50 = 0
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, neighbor_id FROM dots
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY idot DESC, neighbor_id)
    <= {10 + _SQM_}
),
rr AS (
  SELECT c.query_id, c.neighbor_id, ROUND(list_dot_product(qe.nv, ne.nv), 6) AS sim
  FROM cand c
  JOIN e qe ON qe.vec_id = c.query_id
  JOIN e ne ON ne.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
       AS BIGINT) AS rank
FROM rr
QUALIFY rank <= 10
"""

# Binary-quantization ANN (operators/similarity.bq_ann_topk): sign-bit
# codes on the RAW embedding (no float math at all), Hamming-distance
# candidate cut (k + margin, tie -> neighbor_id), exact rerank. The
# oracle counts sign disagreements per pair directly — identical to
# popcount(xor) over the packed halves. The sign test is COALESCEd to
# FALSE so a NULL coordinate matches Spark's _pack (when(x > 0) → bit
# 0 for NULL); k / query-subset / margin all interpolate from the SAME
# constants the Spark path uses, so a constant change can't silently
# diverge the two engines.
from .operators.similarity import (  # noqa: E402
    BQ_MARGIN as _BQM_,
    DEFAULT_K as _ANN_K_,
    QUERY_MOD as _ANN_QM_,
)

ORACLE_SQL["bq_ann_topk"] = f"""
WITH {_NORM_CTE},
px AS (
  SELECT vec_id, r.i AS pos, COALESCE(v[r.i] > 0, FALSE) AS b
  FROM e0, LATERAL unnest(range(1, 65)) AS r(i)
),
ham AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         SUM(CASE WHEN q.b <> c.b THEN 1 ELSE 0 END) AS h
  FROM px q JOIN px c ON q.pos = c.pos AND q.vec_id <> c.vec_id
  WHERE q.vec_id % {_ANN_QM_} = 0
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, neighbor_id FROM ham
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY h ASC, neighbor_id)
    <= {_ANN_K_ + _BQM_}
),
rr AS (
  SELECT c.query_id, c.neighbor_id, ROUND(list_dot_product(qe.nv, ne.nv), 6) AS sim
  FROM cand c
  JOIN e qe ON qe.vec_id = c.query_id
  JOIN e ne ON ne.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
       AS BIGINT) AS rank
FROM rr
QUALIFY rank <= {_ANN_K_}
"""

# Product-quantization ANN (operators/similarity.pq_ann_topk): codebook
# = the 16 md5-ranked corpus rows; per-subspace argmin assignment
# (||v||^2+||c||^2-2v.c from fold-order-stable dots, tie -> cid), ADC
# sum of per-term rounded-DECIMAL lookup dots, k+margin cut, exact
# rerank. Integer/decimal comparisons everywhere the ranking happens.
from .operators.similarity import (  # noqa: E402
    PQ_CODES as _PQC_,
    PQ_M as _PQM_,
    PQ_MARGIN as _PQMG_,
)

_PQ_SUB = 64 // _PQM_

ORACLE_SQL["pq_ann_topk"] = f"""
WITH {_NORM_CTE},
seeds AS (
  SELECT vec_id AS cid, nv FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {_PQC_}
),
cw AS (
  SELECT r.j, cid,
         list_slice(nv, r.j * {_PQ_SUB} + 1, r.j * {_PQ_SUB} + {_PQ_SUB}) AS csub
  FROM seeds, LATERAL unnest(range(0, {_PQM_})) AS r(j)
),
vs AS (
  SELECT vec_id, r.j,
         list_slice(nv, r.j * {_PQ_SUB} + 1, r.j * {_PQ_SUB} + {_PQ_SUB}) AS vsub
  FROM e, LATERAL unnest(range(0, {_PQM_})) AS r(j)
),
dist AS (
  SELECT vs.vec_id, vs.j, cw.cid,
    ROUND(list_dot_product(vsub, vsub) + list_dot_product(csub, csub)
          - 2.0 * list_dot_product(vsub, csub), 6) AS d
  FROM vs JOIN cw ON vs.j = cw.j
),
codes AS (
  SELECT vec_id, j, cid FROM dist
  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) = 1
),
lut AS (
  SELECT q.vec_id AS query_id, cw.j, cw.cid,
    CAST(ROUND(list_dot_product(
           list_slice(q.nv, cw.j * {_PQ_SUB} + 1, cw.j * {_PQ_SUB} + {_PQ_SUB}),
           cw.csub), 8) AS DECIMAL(18,8)) AS ld
  FROM e q, cw
  WHERE q.vec_id % 50 = 0
),
adc AS (
  SELECT l.query_id, c.vec_id AS neighbor_id, SUM(l.ld) AS a
  FROM codes c
  JOIN lut l ON c.j = l.j AND c.cid = l.cid AND c.vec_id <> l.query_id
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, neighbor_id FROM adc
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY a DESC, neighbor_id)
    <= {10 + _PQMG_}
),
rr AS (
  SELECT c.query_id, c.neighbor_id, ROUND(list_dot_product(qe.nv, ne.nv), 6) AS sim
  FROM cand c
  JOIN e qe ON qe.vec_id = c.query_id
  JOIN e ne ON ne.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
       AS BIGINT) AS rank
FROM rr
QUALIFY rank <= 10
"""

# Trailing debounce: burst leaders per (user, event_type)
# (operators/sessionize.events_debounce).
ORACLE_SQL["events_debounce"] = """
WITH e AS (SELECT event_id, ts, user_id, event_type, value, epoch_us(ts) AS us
           FROM events),
s AS (
  SELECT *, CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 300000000
                 THEN 1 ELSE 0 END AS nb
  FROM e WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
),
t AS (
  SELECT *, CAST(SUM(nb) OVER (PARTITION BY user_id, event_type
            ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS burst_idx
  FROM s
)
SELECT event_id, ts, user_id, event_type, value, burst_idx
FROM t WHERE nb = 1
"""

# Key-synchronized hash-sample join cardinality estimate
# (plans/analytics.join_size_estimate).
ORACLE_SQL["join_size_estimate"] = """
WITH o AS (
  SELECT o_orderkey FROM orders
  WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::UBIGINT % 16 = 0
),
l AS (
  SELECT l_orderkey FROM lineitem
  WHERE ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))::UBIGINT % 16 = 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS sampled_pairs,
  CAST(COUNT(*) * 16 AS BIGINT) AS est_pairs,
  ROUND(CAST(1.0 AS DOUBLE) / 16, 6) AS sample_rate
FROM o JOIN l ON o_orderkey = l_orderkey
"""


# Fixed-weight logistic quality model (operators/textquality.
# quality_model_scores): the logit chain below mirrors the Spark
# expression token-for-token; keep is decided on the logit sign so the
# sigmoid's exp never decides a boolean.
ORACLE_SQL["docs_quality_model"] = f"""
WITH d AS (SELECT doc_id, text, {TOKS} AS toks FROM documents),
f AS (
  SELECT doc_id, len(toks) AS n_tok, length(text) AS n_chars,
    list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS tok_chars,
    len(list_filter(toks, x -> list_contains({_sql_list(EN_STOP)}, x))) AS sw_hits,
    length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS n_punct
  FROM d
),
l AS (
  SELECT doc_id,
    CASE WHEN n_tok > 0 AND n_chars > 0 THEN
      -2.0 + 0.45 * ln(1 + n_tok) + 3.0 * (sw_hits / CAST(n_tok AS DOUBLE))
      + -0.25 * (tok_chars / CAST(n_tok AS DOUBLE))
      + -8.0 * (n_punct / CAST(n_chars AS DOUBLE))
    END AS logit
  FROM f
)
SELECT doc_id, ROUND(logit, 6) AS quality_logit,
  ROUND(1.0 / (1.0 + exp(-logit)), 6) AS quality_score,
  COALESCE(logit >= 0, FALSE) AS keep
FROM l
"""

# Per-source unigram KL divergence vs the corpus distribution
# (operators/textquality.source_kl): per-(source, term) contributions
# rounded then summed as exact DECIMAL (token_entropy pattern).
ORACLE_SQL["docs_source_kl"] = f"""
WITH tok AS (SELECT source, unnest({TOKS}) AS term FROM documents),
st AS (SELECT source, term, COUNT(*) AS c_st FROM tok GROUP BY 1, 2),
s_tot AS (
  SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s,
    CAST(COUNT(*) AS BIGINT) AS distinct_terms
  FROM st GROUP BY 1
),
t_tot AS (SELECT term, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
n AS (SELECT CAST(SUM(c_st) AS BIGINT) AS n_all FROM st),
contrib AS (
  SELECT st.source,
    CAST(ROUND(c_st * ln((CAST(c_st AS DOUBLE) * n_all)
                         / (n_s * CAST(c_t AS DOUBLE))), 8)
         AS DECIMAL(18,8)) AS r
  FROM st JOIN t_tot USING (term) JOIN s_tot USING (source), n
),
kl AS (SELECT source, SUM(r) AS klsum FROM contrib GROUP BY 1)
SELECT s.source, s.n_s AS n_tokens, s.distinct_terms,
  ROUND(CAST(k.klsum AS DOUBLE) / s.n_s, 6) AS kl_vs_corpus
FROM s_tot s JOIN kl k USING (source)
"""

# Cross-document duplicated k-gram span coverage
# (operators/dedup.dup_span_stats). Positions are 0-based on both
# sides; grams are md5-hashed to a fixed-width key pre-shuffle.
ORACLE_SQL["dup_span_stats"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
base AS (SELECT doc_id, len(t) AS n FROM toks WHERE len(t) > 0),
sh AS (
  SELECT doc_id, i - 1 AS pos,
    md5(array_to_string(list_slice(t, i, i + {DUP_SPAN_K} - 1), ' ')) AS gh
  FROM toks, LATERAL unnest(range(1, len(t) - {DUP_SPAN_K} + 2)) AS u(i)
  WHERE len(t) >= {DUP_SPAN_K}
),
dup AS (SELECT gh FROM sh GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
cov AS (
  SELECT DISTINCT s.doc_id, s.pos + j AS p
  FROM sh s JOIN dup USING (gh), LATERAL unnest(range(0, {DUP_SPAN_K})) AS v(j)
),
cnt AS (SELECT doc_id, COUNT(*) AS n_dup FROM cov GROUP BY 1)
SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
  CAST(COALESCE(c.n_dup, 0) AS BIGINT) AS n_dup_tokens,
  ROUND(COALESCE(c.n_dup, 0) / CAST(b.n AS DOUBLE), 6) AS dup_ratio
FROM base b LEFT JOIN cnt c USING (doc_id)
"""

# Deterministic rate-based mixture rebalancing to equal per-source
# shares (operators/dedup.mixture_sample_documents): the md5-uniform is
# the weighted_sample_documents expression; both engines compare the
# identical exact uniform to the identical correctly-rounded division.
ORACLE_SQL["mixture_sample_documents"] = """
WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
m AS (SELECT MIN(n) AS mn FROM c),
r AS (SELECT source, mn / CAST(n AS DOUBLE) AS rate FROM c, m),
u AS (
  SELECT doc_id, source,
    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT + 1)
      / 4294967296.0 AS u
  FROM documents
)
SELECT u.doc_id, u.source, ROUND(r.rate, 6) AS accept_rate
FROM u JOIN r USING (source) WHERE u.u <= r.rate
"""


# Unigram-LM cross-entropy / perplexity per document
# (operators/textquality.docs_perplexity): decimal-summed per-(doc,
# term) contributions; ln/exp once per output row.
ORACLE_SQL["docs_perplexity"] = f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
dt AS (SELECT doc_id, term, COUNT(*) AS c_dt FROM tok GROUP BY 1, 2),
freq AS (SELECT term, CAST(SUM(c_dt) AS BIGINT) AS c_t FROM dt GROUP BY 1),
n AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n_all FROM freq),
pd AS (
  SELECT doc_id, CAST(SUM(c_dt) AS BIGINT) AS n_tokens,
    SUM(CAST(ROUND(c_dt * ln(c_t), 8) AS DECIMAL(18,8))) AS sl
  FROM dt JOIN freq USING (term) GROUP BY 1
)
SELECT doc_id, n_tokens,
  ROUND(ln(n_all) - CAST(sl AS DOUBLE) / n_tokens, 6) AS cross_entropy,
  ROUND(exp(ln(n_all) - CAST(sl AS DOUBLE) / n_tokens), 6) AS perplexity
FROM pd, n
"""

# CCNet head/middle/tail perplexity bucketing (operators/textquality.
# docs_ccnet_buckets): exact interpolated 1/3 and 2/3 percentile
# boundaries over the perplexity frame, rounded to the perplexities'
# own 6 dp, then a one-row cross + CASE.
ORACLE_SQL["docs_ccnet_buckets"] = f"""
WITH pp AS ({ORACLE_SQL["docs_perplexity"]}),
b AS (
  SELECT ROUND(quantile_cont(perplexity, 0.3333333333333333), 6) AS b1,
         ROUND(quantile_cont(perplexity, 0.6666666666666666), 6) AS b2
  FROM pp
)
SELECT doc_id, perplexity,
  CASE WHEN perplexity <= b1 THEN 'head'
       WHEN perplexity <= b2 THEN 'middle'
       ELSE 'tail' END AS bucket
FROM pp, b
"""

# DSIR hashed-ngram importance weights + Gumbel-top-k resample
# (operators/textquality.dsir_importance_weights /
# dsir_sample_documents): unigram+bigram grams md5-bucketed, add-one
# smoothed target/raw LMs, per-(doc,bucket) contributions rounded then
# DECIMAL-summed (the docs_perplexity recipe), per-doc constant term
# applied once per row; the resample perturbs the rounded weight with
# the md5-uniform Gumbel and cuts top ⌈frac·n⌉ on (score, doc_id).
from .operators.textquality import (  # noqa: E402
    DSIR_BUCKETS as _DSB_,
    DSIR_FRAC as _DSF_,
    DSIR_TARGET_LANG as _DSL_,
)

_DSIR_W_CTE = f"""
tok AS (SELECT doc_id, lang, {TOKS} AS t FROM documents),
grams AS (
  SELECT doc_id, lang, unnest(t) AS gram FROM tok
  UNION ALL
  SELECT doc_id, lang, t[i] || ' ' || t[i + 1] AS gram
  FROM tok, LATERAL unnest(range(1, len(t))) AS u(i)
),
db AS (
  SELECT doc_id, lang,
    CAST(('0x' || substr(md5(gram), 1, 8))::UBIGINT % {_DSB_} AS BIGINT) AS bucket,
    COUNT(*) AS c_db
  FROM grams GROUP BY 1, 2, 3
),
raw AS (SELECT bucket, CAST(SUM(c_db) AS BIGINT) AS r_b FROM db GROUP BY 1),
tgt AS (
  SELECT bucket, CAST(SUM(c_db) AS BIGINT) AS t_b FROM db
  WHERE lang = '{_DSL_}' GROUP BY 1
),
buckets AS (
  SELECT bucket, r_b, COALESCE(t_b, 0) AS t_b
  FROM raw LEFT JOIN tgt USING (bucket)
),
totals AS (
  SELECT CAST(SUM(r_b) AS BIGINT) AS tr, CAST(SUM(t_b) AS BIGINT) AS tt
  FROM buckets
),
w AS (
  SELECT doc_id, lang, CAST(SUM(c_db) AS BIGINT) AS n_grams,
    ROUND(
      CAST(SUM(CAST(ROUND(c_db * (ln(t_b + 1) - ln(r_b + 1)), 8)
                    AS DECIMAL(18,8))) AS DOUBLE)
      + CAST(SUM(c_db) AS BIGINT)
        * (ln(tr + {_DSB_}) - ln(tt + {_DSB_})), 6) AS log_weight
  FROM db JOIN buckets USING (bucket), totals
  GROUP BY doc_id, lang, tr, tt
)
"""

ORACLE_SQL["dsir_importance_weights"] = f"""
WITH {_DSIR_W_CTE}
SELECT doc_id, lang, n_grams, log_weight FROM w
"""

ORACLE_SQL["dsir_sample_documents"] = f"""
WITH {_DSIR_W_CTE},
scored AS (
  SELECT doc_id, lang, log_weight,
    ROUND(log_weight + ROUND(-ln(-ln(
      (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT + 1)
        / 4294967296.0)), 6), 6) AS score
  FROM w
)
SELECT doc_id, lang, log_weight, score FROM scored
QUALIFY row_number() OVER (ORDER BY score DESC, doc_id)
  <= CEIL({_DSF_} * (SELECT COUNT(*) FROM documents))
"""

# Directed prefix/suffix seam pairs (operators/dedup.
# prefix_suffix_overlap_pairs): doc A's last k tokens == doc B's
# first k tokens, joined on the md5 of the space-joined gram.
ORACLE_SQL["prefix_suffix_overlap_pairs"] = f"""
WITH t AS (SELECT doc_id, {TOKS} AS t FROM documents),
f AS (SELECT doc_id, t FROM t WHERE len(t) >= {PS_OVERLAP_K}),
pre AS (
  SELECT doc_id AS doc_b,
    md5(array_to_string(list_slice(t, 1, {PS_OVERLAP_K}), ' ')) AS gram_hash
  FROM f
),
suf AS (
  SELECT doc_id AS doc_a,
    md5(array_to_string(list_slice(t, len(t) - {PS_OVERLAP_K} + 1, len(t)), ' '))
      AS gram_hash
  FROM f
)
SELECT doc_a, doc_b, gram_hash
FROM suf JOIN pre USING (gram_hash) WHERE doc_a <> doc_b
"""

# Hardest different-label ANN neighbor per query
# (operators/similarity.hard_negative_mining), composed over the
# oracle-checked IVF-Flat top-k exactly like knn_label_vote.
ORACLE_SQL["hard_negative_mining"] = f"""
WITH topk AS ({ORACLE_SQL["ivf_flat_ann_topk"]}),
lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
cand AS (
  SELECT t.query_id, ql.label AS query_label, t.neighbor_id,
    nl.label AS neg_label, t.sim,
    row_number() OVER (PARTITION BY t.query_id
                       ORDER BY t.rank, t.neighbor_id) AS rr
  FROM topk t
  JOIN lab ql ON ql.vec_id = t.query_id
  JOIN lab nl ON nl.vec_id = t.neighbor_id
  WHERE ql.label <> nl.label
)
SELECT query_id, query_label, neighbor_id AS negative_id, neg_label, sim
FROM cand WHERE rr = 1
"""


# Explicit GROUPING SETS surface (plans/analytics.events_grouping_sets):
# a set neither ROLLUP nor CUBE expresses ((d,t), (t), ()).
ORACLE_SQL["events_grouping_sets"] = f"""
SELECT CAST(ts AS DATE) AS event_date, event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  {_dsum('value')} AS sum_value
FROM events
GROUP BY GROUPING SETS ((CAST(ts AS DATE), event_type), (event_type), ())
"""

# Zipf-law OLS over the top-V token frequencies
# (operators/textquality.token_zipf_fit): decimal-summed log-log
# moments, closed-form fit mirrored op-for-op.
ORACLE_SQL["token_zipf_fit"] = f"""
WITH tok AS (SELECT unnest({TOKS}) AS term FROM documents),
freq AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY 1),
top AS (SELECT term, c FROM freq ORDER BY c DESC, term LIMIT 500),
ranked AS (
  SELECT row_number() OVER (ORDER BY c DESC, term) AS r, c FROM top
),
pts AS (
  SELECT
    CAST(ROUND(ln(CAST(r AS DOUBLE)), 8) AS DECIMAL(18,8)) AS x,
    CAST(ROUND(ln(CAST(c AS DOUBLE)), 8) AS DECIMAL(18,8)) AS y,
    CAST(ROUND(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE)), 8)
         AS DECIMAL(18,8)) AS xy,
    CAST(ROUND(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)), 8)
         AS DECIMAL(18,8)) AS xx,
    CAST(ROUND(ln(CAST(c AS DOUBLE)) * ln(CAST(c AS DOUBLE)), 8)
         AS DECIMAL(18,8)) AS yy
  FROM ranked
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
    CAST(SUM(xy) AS DOUBLE) AS sxy, CAST(SUM(xx) AS DOUBLE) AS sxx,
    CAST(SUM(yy) AS DOUBLE) AS syy
  FROM pts
)
SELECT n_terms,
  ROUND((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
        / (CAST(n_terms AS DOUBLE) * sxx - sx * sx), 6) AS zipf_slope,
  ROUND((sy - ((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
               / (CAST(n_terms AS DOUBLE) * sxx - sx * sx)) * sx)
        / CAST(n_terms AS DOUBLE), 6) AS zipf_intercept,
  ROUND(((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
         * (CAST(n_terms AS DOUBLE) * sxy - sx * sy))
        / ((CAST(n_terms AS DOUBLE) * sxx - sx * sx)
           * (CAST(n_terms AS DOUBLE) * syy - sy * sy)), 6) AS r2
FROM agg
"""

# Near-dup collapse keeping the best-quality member
# (operators/dedup.clean_documents_keep_best): the clean_documents
# component CTE x the rounded model logit; survivor = max logit
# (NULLS LAST), ties to the smaller doc_id.
ORACLE_SQL["clean_documents_keep_best"] = f"""
WITH RECURSIVE {SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    ROUND(len(list_intersect(a.s, b.s))
          / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6)
      AS jaccard
  FROM shf a JOIN shf b ON a.doc_id < b.doc_id
),
dup AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.8),
edges AS (SELECT doc_a AS a, doc_b AS b FROM dup
          UNION SELECT doc_b, doc_a FROM dup),
nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
comp AS (SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src),
q AS (SELECT doc_id, quality_logit FROM ({ORACLE_SQL["docs_quality_model"]})),
m AS (SELECT c.doc_id, c.component, q.quality_logit
      FROM comp c JOIN q USING (doc_id)),
drops AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (
      PARTITION BY component
      ORDER BY quality_logit DESC NULLS LAST, doc_id) AS rn
    FROM m
  ) WHERE rn <> 1
)
SELECT d.doc_id, d.lang, d.source, CAST(length(d.text) AS BIGINT) AS n_chars
FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
"""


# Recall@k of every approximate ANN path vs exact brute force
# (operators/similarity.ann_recall_report): each method's oracle is
# embedded verbatim, so the report is value-hash-checked end to end.
ORACLE_SQL["ann_recall_report"] = f"""
WITH brute AS (SELECT query_id, neighbor_id FROM ({ORACLE_SQL["ann_topk"]})),
m_ivf AS (SELECT query_id, neighbor_id FROM ({ORACLE_SQL["ivf_flat_ann_topk"]})),
m_lsh AS (SELECT query_id, neighbor_id FROM ({ORACLE_SQL["ann_lsh_topk"]})),
m_sq8 AS (SELECT query_id, neighbor_id FROM ({ORACLE_SQL["sq8_ann_topk"]})),
m_pq AS (SELECT query_id, neighbor_id FROM ({ORACLE_SQL["pq_ann_topk"]})),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM brute),
hits AS (
  SELECT 'ivf_flat' AS method, CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM m_ivf JOIN brute USING (query_id, neighbor_id)
  UNION ALL
  SELECT 'lsh', CAST(COUNT(*) AS BIGINT)
  FROM m_lsh JOIN brute USING (query_id, neighbor_id)
  UNION ALL
  SELECT 'sq8', CAST(COUNT(*) AS BIGINT)
  FROM m_sq8 JOIN brute USING (query_id, neighbor_id)
  UNION ALL
  SELECT 'pq', CAST(COUNT(*) AS BIGINT)
  FROM m_pq JOIN brute USING (query_id, neighbor_id)
)
SELECT method, n_hit, n_total,
  CASE WHEN n_total > 0
       THEN ROUND(n_hit / CAST(n_total AS DOUBLE), 6) END AS recall
FROM hits, tot
"""

# Per-source log2-bucketed length histogram
# (operators/textquality.docs_length_histogram): bucket = binary-string
# length of n_chars — integer-exact in both engines.
ORACLE_SQL["docs_length_histogram"] = """
SELECT source, CAST(length(bin(n_chars)) AS BIGINT) AS len_bucket,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
  CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY 1, 2
"""


# One-row dedup-pipeline observability report
# (operators/dedup.docs_dedup_report): scalar rollups of the exact-dup,
# component, contamination and curated oracles.
ORACLE_SQL["docs_dedup_report"] = f"""
WITH RECURSIVE {SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    ROUND(len(list_intersect(a.s, b.s))
          / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6)
      AS jaccard
  FROM shf a JOIN shf b ON a.doc_id < b.doc_id
),
dup AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.8),
edges AS (SELECT doc_a AS a, doc_b AS b FROM dup
          UNION SELECT doc_b, doc_a FROM dup),
nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
comp AS (SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
  (SELECT CAST(COUNT(DISTINCT md5(text)) AS BIGINT) FROM documents)
    AS n_exact_groups,
  (SELECT CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) FROM documents)
    AS n_exact_dup_docs,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM comp) AS n_neardup_docs,
  (SELECT CAST(COUNT(DISTINCT component) AS BIGINT) FROM comp)
    AS n_neardup_clusters,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM ({ORACLE_SQL["docs_contamination"]})
   WHERE contamination_ratio > {CURATED_MAX_CONTAM}) AS n_contaminated,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM ({ORACLE_SQL["curated_documents"]}))
    AS n_curated
"""

# Bigram-LM cross-entropy / perplexity per document
# (operators/textquality.docs_bigram_perplexity).
ORACLE_SQL["docs_bigram_perplexity"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
bi AS (
  SELECT doc_id, t[i] AS x, t[i + 1] AS y
  FROM toks, LATERAL unnest(range(1, len(t))) AS u(i)
),
dxy AS (SELECT doc_id, x, y, COUNT(*) AS c_dxy FROM bi GROUP BY 1, 2, 3),
xy AS (SELECT x, y, CAST(SUM(c_dxy) AS BIGINT) AS c_xy FROM dxy GROUP BY 1, 2),
xp AS (SELECT x, CAST(SUM(c_xy) AS BIGINT) AS c_xp FROM xy GROUP BY 1),
pd AS (
  SELECT doc_id, CAST(SUM(c_dxy) AS BIGINT) AS n_bigrams,
    SUM(CAST(ROUND(c_dxy * ln(CAST(c_xy AS DOUBLE) / CAST(c_xp AS DOUBLE)), 8)
             AS DECIMAL(18,8))) AS sl
  FROM dxy JOIN xy USING (x, y) JOIN xp USING (x)
  GROUP BY 1
)
SELECT doc_id, n_bigrams,
  ROUND(-(CAST(sl AS DOUBLE)) / n_bigrams, 6) AS cross_entropy,
  ROUND(exp(-(CAST(sl AS DOUBLE)) / n_bigrams), 6) AS perplexity
FROM pd
"""

# Top-V vocabulary coverage curve (operators/textquality.vocab_coverage).
ORACLE_SQL["vocab_coverage"] = f"""
WITH tok AS (SELECT unnest({TOKS}) AS term FROM documents),
freq AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY 1),
top AS (SELECT term, c FROM freq ORDER BY c DESC, term LIMIT 1000),
ranked AS (SELECT c, row_number() OVER (ORDER BY c DESC, term) AS r FROM top),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM freq),
cov AS (
  SELECT CAST(100 AS BIGINT) AS vocab_size,
    CAST(SUM(CASE WHEN r <= 100 THEN c END) AS BIGINT) AS covered_tokens
  FROM ranked
  UNION ALL
  SELECT CAST(500 AS BIGINT),
    CAST(SUM(CASE WHEN r <= 500 THEN c END) AS BIGINT) FROM ranked
  UNION ALL
  SELECT CAST(1000 AS BIGINT),
    CAST(SUM(CASE WHEN r <= 1000 THEN c END) AS BIGINT) FROM ranked
)
SELECT vocab_size, covered_tokens, n_total,
  ROUND(covered_tokens / CAST(n_total AS DOUBLE), 6) AS coverage
FROM cov, tot
"""


# Median/MAD robust anomaly twin
# (plans/analytics.events_hourly_robust_anomalies): integer inputs make
# the interpolated median and MAD bit-identical dyadic doubles.
ORACLE_SQL["events_hourly_robust_anomalies"] = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour_ts, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
med AS (SELECT event_type, quantile_cont(n, 0.5) AS med FROM hourly GROUP BY 1),
dev AS (
  SELECT h.event_type, h.hour_ts, h.n, m.med, ABS(h.n - m.med) AS ad
  FROM hourly h JOIN med m USING (event_type)
),
mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1)
SELECT d.event_type, d.hour_ts, CAST(d.n AS BIGINT) AS n_events,
  ROUND((d.n - d.med) / (1.4826 * m.mad), 6) AS robust_z
FROM dev d JOIN mad m USING (event_type)
WHERE m.mad > 0
  AND ABS(ROUND((d.n - d.med) / (1.4826 * m.mad), 6)) > {ANOMALY_Z}
"""

# Top-k market-basket lift over order baskets
# (plans/analytics.part_copurchase_lift).
ORACLE_SQL["part_copurchase_lift"] = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pc AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
  FROM items a
  JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
sup AS (SELECT l_partkey, COUNT(*) AS n_orders FROM items GROUP BY 1),
tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_total FROM items)
SELECT CAST(part_a AS BIGINT) AS part_a, CAST(part_b AS BIGINT) AS part_b,
  CAST(n_ab AS BIGINT) AS n_ab, CAST(sa.n_orders AS BIGINT) AS n_a,
  CAST(sb.n_orders AS BIGINT) AS n_b,
  ROUND((CAST(n_ab AS DOUBLE) * n_total)
        / (sa.n_orders * CAST(sb.n_orders AS DOUBLE)), 6) AS lift
FROM pc
JOIN sup sa ON pc.part_a = sa.l_partkey
JOIN sup sb ON pc.part_b = sb.l_partkey, tot
ORDER BY n_ab DESC, part_a, part_b
LIMIT 50
"""


# CUSUM level-shift detection (plans/analytics.events_cusum_changepoints):
# the reset recurrence via prefix-minus-running-min, accumulated in
# exact DECIMAL so the running sums cannot drift between engines.
ORACLE_SQL["events_cusum_changepoints"] = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour_ts, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, COUNT(*) AS hours, SUM(n) AS s, SUM(n * n) AS sq
  FROM hourly GROUP BY 1
),
based AS (
  SELECT h.event_type, h.hour_ts, h.n,
    ROUND(
      (h.n - CAST(s AS DOUBLE) / hours)
      / sqrt((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / hours)
             / (hours - 1)),
      8
    ) AS z
  FROM hourly h JOIN stats st USING (event_type)
  WHERE hours > 1
    AND (CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / hours)
        / (hours - 1) > 0
),
p AS (
  SELECT *,
    SUM(CAST(ROUND(z - {CUSUM_K}, 8) AS DECIMAL(18,8))) OVER w AS up_p,
    SUM(CAST(ROUND(-z - {CUSUM_K}, 8) AS DECIMAL(18,8))) OVER w AS dn_p
  FROM based
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts ROWS UNBOUNDED PRECEDING)
),
c AS (
  SELECT *,
    ROUND(CAST(up_p - LEAST(MIN(up_p) OVER w2, CAST(0 AS DECIMAL(18,8)))
               AS DOUBLE), 6) AS cusum_up,
    ROUND(CAST(dn_p - LEAST(MIN(dn_p) OVER w2, CAST(0 AS DECIMAL(18,8)))
               AS DOUBLE), 6) AS cusum_down
  FROM p
  WINDOW w2 AS (PARTITION BY event_type ORDER BY hour_ts ROWS UNBOUNDED PRECEDING)
)
SELECT event_type, hour_ts, CAST(n AS BIGINT) AS n_events, cusum_up, cusum_down
FROM c WHERE cusum_up > {CUSUM_H} OR cusum_down > {CUSUM_H}
"""

# One-row revenue-concentration metric
# (plans/analytics.orders_revenue_concentration).
ORACLE_SQL["orders_revenue_concentration"] = f"""
WITH per_cust AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
),
cut AS (
  SELECT quantile_cont(CAST(rev AS DOUBLE), {1.0 - PARETO_TOP_PCT}) AS c
  FROM per_cust
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(SUM(CASE WHEN CAST(rev AS DOUBLE) >= c THEN 1 ELSE 0 END) AS BIGINT)
    AS n_top,
  CAST(SUM(rev) AS DOUBLE) AS total_revenue,
  CAST(SUM(CASE WHEN CAST(rev AS DOUBLE) >= c THEN rev
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS top_revenue,
  ROUND(CAST(SUM(CASE WHEN CAST(rev AS DOUBLE) >= c THEN rev
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        / CAST(SUM(rev) AS DOUBLE), 6) AS top_share
FROM per_cust, cut
"""

# Language-ID confusion matrix (operators/textquality.langid_confusion):
# the langid oracle embedded, one rollup + row-normalized rate.
ORACLE_SQL["langid_confusion"] = f"""
WITH pred AS ({ORACLE_SQL["docs_langid"]}),
cells AS (
  SELECT labeled_lang, pred_lang, COUNT(*) AS n
  FROM pred GROUP BY 1, 2
),
totals AS (SELECT labeled_lang, SUM(n) AS n_labeled FROM cells GROUP BY 1)
SELECT c.labeled_lang, c.pred_lang, CAST(c.n AS BIGINT) AS n,
  CAST(t.n_labeled AS BIGINT) AS n_labeled,
  ROUND(c.n / CAST(t.n_labeled AS DOUBLE), 6) AS rate
FROM cells c JOIN totals t USING (labeled_lang)
"""


# PageRank over the undirected part co-purchase graph
# (plans/analytics.part_pagerank): the fixed-round iteration unrolled
# into CTEs — per-edge contributions rounded then DECIMAL-summed, each
# round's rank re-rounded, so the float recurrence is bit-identical to
# the Spark loop by induction. Float constants are injected via repr()
# so 1.0 - 0.85 parses to the same double in both engines.
from .plans.analytics import (  # noqa: E402
    PAGERANK_DAMPING as _PRD_,
    PAGERANK_ITERS as _PRI_,
    PAGERANK_SCALE as _PRS_,
)


def _pagerank_oracle() -> str:
    base = 1.0 - _PRD_
    sql = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a
  JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS (
  SELECT pa AS src, pb AS dst FROM pairs
  UNION ALL SELECT pb, pa FROM pairs
),
deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY 1),
n AS (SELECT COUNT(*) AS n_nodes FROM deg),
r0 AS (
  SELECT node, deg, ROUND(1.0 / n.n_nodes, {scale}) AS r FROM deg, n
)"""
    for i in range(_PRI_):
        sql += """,
c{next} AS (
  SELECT e.dst AS node,
    CAST(ROUND(r.r / r.deg, {scale}) AS DECIMAL(38,18)) AS c
  FROM edges e JOIN r{cur} r ON e.src = r.node
),
r{next} AS (
  SELECT c.node, d.deg,
    ROUND({base!r} / n.n_nodes + {damp!r} * CAST(SUM(c.c) AS DOUBLE),
          {scale}) AS r
  FROM c{next} c JOIN deg d USING (node), n
  GROUP BY c.node, d.deg, n.n_nodes
)""".replace("{next}", str(i + 1)).replace("{cur}", str(i))
    sql += f"""
SELECT CAST(node AS BIGINT) AS part, CAST(deg AS BIGINT) AS degree,
  ROUND(r, 6) AS pagerank
FROM r{_PRI_}
"""
    return sql.replace("{scale}", str(_PRS_)).replace(
        "{base!r}", repr(base)
    ).replace("{damp!r}", repr(_PRD_))


ORACLE_SQL["part_pagerank"] = _pagerank_oracle()


# Triangle counting + clustering coefficient
# (plans/analytics.part_triangles): the same degree-ordered
# compact-forward enumeration — orientation and wedge-order are pure
# integer tuple comparisons, so both engines enumerate the identical
# triangle set and the only float is one rounded division.
ORACLE_SQL["part_triangles"] = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a
  JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT pa AS node FROM pairs UNION ALL SELECT pb FROM pairs
  ) GROUP BY 1
),
oriented AS (
  SELECT
    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND pa < pb)
         THEN pa ELSE pb END AS src,
    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND pa < pb)
         THEN pb ELSE pa END AS dst,
    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND pa < pb)
         THEN db.deg ELSE da.deg END AS dst_deg
  FROM pairs
  JOIN deg da ON da.node = pa
  JOIN deg db ON db.node = pb
),
tris AS (
  SELECT e1.src, e1.dst AS y, e2.dst AS z
  FROM oriented e1
  JOIN oriented e2 ON e1.src = e2.src
   AND (e1.dst_deg < e2.dst_deg
        OR (e1.dst_deg = e2.dst_deg AND e1.dst < e2.dst))
  JOIN oriented c ON c.src = e1.dst AND c.dst = e2.dst
),
member AS (
  SELECT node, COUNT(*) AS triangles FROM (
    SELECT src AS node FROM tris
    UNION ALL SELECT y FROM tris
    UNION ALL SELECT z FROM tris
  ) GROUP BY 1
)
SELECT CAST(d.node AS BIGINT) AS part, CAST(d.deg AS BIGINT) AS degree,
  CAST(COALESCE(m.triangles, 0) AS BIGINT) AS triangles,
  CASE WHEN d.deg > 1 THEN
    ROUND(2.0 * COALESCE(m.triangles, 0)
          / (CAST(d.deg AS DOUBLE) * (d.deg - 1)), 6)
  END AS clustering_coeff
FROM deg d LEFT JOIN member m ON m.node = d.node
"""


# Linear multi-touch attribution
# (plans/analytics.view_purchase_attribution): same touch join, window
# count, rounded per-touch credit, DECIMAL day rollup.
from .plans.analytics import ATTRIBUTION_WINDOW_DAYS as _ATW_  # noqa: E402

ORACLE_SQL["view_purchase_attribution"] = f"""
WITH p AS (
  SELECT event_id AS pid, user_id, epoch_us(ts) AS pus, value
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, epoch_us(ts) AS vus, CAST(ts AS DATE) AS view_date
  FROM events WHERE event_type = 'view'
),
touches AS (
  SELECT p.pid, p.value, v.view_date
  FROM p JOIN v USING (user_id)
  WHERE v.vus < p.pus AND v.vus >= p.pus - {_ATW_ * 86_400 * 1_000_000}
),
credited AS (
  SELECT view_date,
    CAST(ROUND(value / COUNT(*) OVER (PARTITION BY pid), 9)
         AS DECIMAL(28,12)) AS credit
  FROM touches
)
SELECT view_date, CAST(COUNT(*) AS BIGINT) AS n_touches,
  ROUND(CAST(SUM(credit) AS DOUBLE), 6) AS attributed_revenue
FROM credited GROUP BY 1
"""


# Count-Min-sketch heavy hitters (operators/textquality.cms_token_counts):
# identical md5 row hashes rebuild the identical counter table, so even
# the sketch's collision overestimates are value-hash checked.
from .operators.textquality import (  # noqa: E402
    CMS_DEPTH as _CMSD_,
    CMS_TOP_K as _CMSK_,
    CMS_WIDTH as _CMSW_,
)

_CMS_JS = ", ".join(str(i) for i in range(_CMSD_))
ORACLE_SQL["cms_token_counts"] = f"""
WITH tok AS (SELECT unnest({TOKS}) AS term FROM documents),
js AS (SELECT unnest([{_CMS_JS}]) AS j),
counters AS (
  SELECT j,
    ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || term), 1, 8))::UBIGINT
      % {_CMSW_} AS bucket,
    COUNT(*) AS c
  FROM tok, js GROUP BY 1, 2
),
true_top AS (
  SELECT term, COUNT(*) AS true_count FROM tok GROUP BY 1
  ORDER BY true_count DESC, term LIMIT {_CMSK_}
),
probes AS (
  SELECT term, true_count, j,
    ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || term), 1, 8))::UBIGINT
      % {_CMSW_} AS bucket
  FROM true_top, js
),
est AS (
  SELECT term, true_count, MIN(c) AS cms_count
  FROM probes JOIN counters USING (j, bucket) GROUP BY 1, 2
)
SELECT term, CAST(true_count AS BIGINT) AS true_count,
  CAST(cms_count AS BIGINT) AS cms_count,
  CAST(cms_count - true_count AS BIGINT) AS overestimate
FROM est
"""

# ---------------------------------------------------------------------------
# Theta-sketch set algebra (operators/theta.py): the deterministic md5
# hash makes union/intersect/A-NOT-B sketches and their estimates
# bit-reproducible — full value-hash oracles for approximate set ops.
# ---------------------------------------------------------------------------
from .operators.theta import HIGH_VALUE as _THV_, THETA_K as _TK_  # noqa: E402

_U32 = "('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8))::UBIGINT"

# (s, u, theta_int) sketch rows for the three predicate segments —
# mirrors theta._stack_predicate_sets + _sketch_from_hashes.
_THETA_SEG_SK = f"""
d AS (
  SELECT DISTINCT s, {_U32.format(col="user_id")} AS u
  FROM (
    SELECT user_id,
      unnest(list_filter([
        CASE WHEN value >= {_THV_} THEN 'high_value' END,
        CASE WHEN dayofweek(CAST(ts AS DATE)) IN (0, 6) THEN 'weekend' END,
        CASE WHEN event_type = 'purchase' THEN 'purchase' END
      ], x -> x IS NOT NULL)) AS s
    FROM events) t
),
kept AS (
  SELECT * FROM d QUALIFY row_number() OVER (PARTITION BY s ORDER BY u) <= {_TK_}
),
th AS (
  SELECT s, CASE WHEN COUNT(*) < {_TK_} THEN 4294967296
           ELSE CAST(MAX(u) AS BIGINT) + 1 END AS theta_int
  FROM kept GROUP BY s
),
sk AS (SELECT kept.s, u, theta_int FROM kept JOIN th USING (s))
"""

ORACLE_SQL["theta_segment_users"] = f"""
WITH {_THETA_SEG_SK}
SELECT s AS segment, CAST(COUNT(*) AS BIGINT) AS sketch_size,
  ROUND(MIN(theta_int) / 4294967296.0, 10) AS theta,
  ROUND(COUNT(*) / (MIN(theta_int) / 4294967296.0), 4) AS users_est
FROM sk GROUP BY s ORDER BY s
"""

ORACLE_SQL["theta_union_segment_users"] = f"""
WITH {_THETA_SEG_SK},
tmin AS (SELECT MIN(theta_int) AS tm FROM sk),
surv AS (SELECT DISTINCT u, tm FROM sk, tmin WHERE u < tm),
capped AS (SELECT * FROM surv QUALIFY row_number() OVER (ORDER BY u) <= {_TK_}),
th2 AS (
  SELECT CASE WHEN COUNT(*) < {_TK_} THEN MIN(tm)
         ELSE LEAST(MIN(tm), CAST(MAX(u) AS BIGINT) + 1) END AS t
  FROM capped
),
agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS sketch_size FROM capped),
fb AS (SELECT MIN(theta_int) AS tf FROM sk)
SELECT sketch_size,
  ROUND(COALESCE(t, tf) / 4294967296.0, 10) AS theta,
  ROUND(sketch_size / (COALESCE(t, tf) / 4294967296.0), 4) AS union_users_est
FROM agg, th2, fb
"""

ORACLE_SQL["theta_intersect_segment_users"] = f"""
WITH {_THETA_SEG_SK},
tmin AS (SELECT MIN(theta_int) AS tm FROM sk),
surv AS (
  SELECT u FROM sk, tmin WHERE u < tm
  GROUP BY u, tm HAVING COUNT(*) = 3
),
agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS sketch_size FROM surv)
SELECT sketch_size,
  ROUND(tm / 4294967296.0, 10) AS theta,
  ROUND(sketch_size / (tm / 4294967296.0), 4) AS intersection_users_est
FROM agg, tmin
"""

# A-NOT-B is built from TWO sets only (high_value, purchase).
ORACLE_SQL["theta_anotb_segment_users"] = f"""
WITH d AS (
  SELECT DISTINCT s, {_U32.format(col="user_id")} AS u
  FROM (
    SELECT user_id,
      unnest(list_filter([
        CASE WHEN value >= {_THV_} THEN 'high_value' END,
        CASE WHEN event_type = 'purchase' THEN 'purchase' END
      ], x -> x IS NOT NULL)) AS s
    FROM events) t
),
kept AS (
  SELECT * FROM d QUALIFY row_number() OVER (PARTITION BY s ORDER BY u) <= {_TK_}
),
th AS (
  SELECT s, CASE WHEN COUNT(*) < {_TK_} THEN 4294967296
           ELSE CAST(MAX(u) AS BIGINT) + 1 END AS theta_int
  FROM kept GROUP BY s
),
sk AS (SELECT kept.s, u, theta_int FROM kept JOIN th USING (s)),
tmin AS (SELECT MIN(theta_int) AS tm FROM sk),
surv AS (
  SELECT u FROM sk, tmin
  WHERE s = 'high_value' AND u < tm
    AND u NOT IN (SELECT u FROM sk WHERE s = 'purchase')
),
agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS sketch_size FROM surv)
SELECT sketch_size,
  ROUND(tm / 4294967296.0, 10) AS theta,
  ROUND(sketch_size / (tm / 4294967296.0), 4) AS anotb_users_est
FROM agg, tmin
"""

ORACLE_SQL["theta_daily_merge_events"] = f"""
WITH d AS (
  SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS s,
    {_U32.format(col="event_id")} AS u
  FROM events
),
kept AS (
  SELECT * FROM d QUALIFY row_number() OVER (PARTITION BY s ORDER BY u) <= {_TK_}
),
th AS (
  SELECT s, CASE WHEN COUNT(*) < {_TK_} THEN 4294967296
           ELSE CAST(MAX(u) AS BIGINT) + 1 END AS theta_int
  FROM kept GROUP BY s
),
sk AS (SELECT kept.s, u, theta_int FROM kept JOIN th USING (s)),
tmin AS (SELECT MIN(theta_int) AS tm FROM sk),
surv AS (SELECT DISTINCT u, tm FROM sk, tmin WHERE u < tm),
capped AS (SELECT * FROM surv QUALIFY row_number() OVER (ORDER BY u) <= {_TK_}),
th2 AS (
  SELECT CASE WHEN COUNT(*) < {_TK_} THEN MIN(tm)
         ELSE LEAST(MIN(tm), CAST(MAX(u) AS BIGINT) + 1) END AS t
  FROM capped
),
agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS sketch_size FROM capped),
fb AS (SELECT MIN(theta_int) AS tf FROM sk),
nd AS (SELECT CAST(COUNT(DISTINCT s) AS BIGINT) AS n_days FROM sk)
SELECT n_days, sketch_size,
  ROUND(COALESCE(t, tf) / 4294967296.0, 10) AS theta,
  ROUND(sketch_size / (COALESCE(t, tf) / 4294967296.0), 4) AS total_events_est
FROM agg, th2, fb, nd
"""

# Exact-substring dedup removal (operators/dedup.remove_dup_spans):
# dup_span_stats' gram machinery + a keeper rule (MIN doc_id per gram)
# and a position-ordered re-assembly — string_agg ORDER BY mirrors
# Spark's sort_array(collect_list(struct)) concat exactly.
from .operators.dedup import DUP_SPAN_K as _DSK_  # noqa: E402

ORACLE_SQL["docs_remove_dup_spans"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
base AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
sh AS (
  SELECT doc_id, i - 1 AS pos,
    md5(array_to_string(list_slice(t, i, i + {_DSK_} - 1), ' ')) AS gh
  FROM base, LATERAL unnest(range(1, n - {_DSK_} + 2)) AS u(i)
  WHERE n >= {_DSK_}
),
dup AS (
  SELECT gh, MIN(doc_id) AS keeper FROM sh
  GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2
),
cov AS (
  SELECT DISTINCT s.doc_id, s.pos + j AS p
  FROM sh s JOIN dup USING (gh), LATERAL unnest(range(0, {_DSK_})) AS v(j)
  WHERE s.doc_id <> dup.keeper
),
tok AS (
  SELECT doc_id, q - 1 AS p, t[q] AS tok
  FROM base, LATERAL unnest(range(1, n + 1)) AS w(q)
),
kept AS (
  SELECT tok.doc_id, tok.p, tok.tok
  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
  WHERE cov.p IS NULL
),
cleaned AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY p) AS cleaned_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
  CAST(b.n - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed,
  COALESCE(c.cleaned_text, '') AS cleaned_text
FROM base b LEFT JOIN cleaned c USING (doc_id)
"""

# Incremental day-grain rollup maintenance
# (plans/analytics.events_daily_rollup_incremental): the merge of
# base-rollup ∪ delta-partials is provably the full GROUP BY (exact
# decimal partials), so the oracle is the one-shot recompute.
ORACLE_SQL["events_daily_rollup_incremental"] = """
SELECT CAST(ts AS DATE) AS event_date, event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,8))) AS DOUBLE) AS sum_value,
  MAX(value) AS max_value
FROM events GROUP BY 1, 2
"""

# IVF-PQ two-level index (operators/similarity.ivfpq_ann_topk):
# hash-seeded coarse cells + residual PQ codes; the inner-product ADC
# decomposition q·v ≈ q·c(cell) + q·r̂ makes even the composed
# approximate index value-hash reproducible.
from .operators.similarity import (  # noqa: E402
    IVFPQ_CELLS as _IPC_,
    IVFPQ_PROBE as _IPP_,
)

ORACLE_SQL["ivfpq_ann_topk"] = f"""
WITH {_NORM_CTE},
cent AS (
  SELECT vec_id AS cent_id, nv AS centroid
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_IPC_}
),
assign0 AS (
  SELECT e.vec_id AS neighbor_id, e.nv, cent.cent_id, cent.centroid,
         ROUND(list_dot_product(e.nv, cent.centroid), 6) AS cdot
  FROM e CROSS JOIN cent
),
assigned AS (
  SELECT neighbor_id, nv, cent_id AS cell,
         list_transform(range(1, {_PQM_} * {_PQ_SUB} + 1),
                        i -> nv[i] - centroid[i]) AS rv
  FROM (
    SELECT *, row_number() OVER (PARTITION BY neighbor_id
                                 ORDER BY cdot DESC, cent_id) AS rn
    FROM assign0
  ) WHERE rn = 1
),
seeds AS (
  SELECT CAST(neighbor_id AS BIGINT) AS cid, rv AS crv FROM assigned
  ORDER BY md5(CAST(neighbor_id AS VARCHAR)), neighbor_id LIMIT {_PQC_}
),
cw AS (
  SELECT r.j, cid,
         list_slice(crv, r.j * {_PQ_SUB} + 1, r.j * {_PQ_SUB} + {_PQ_SUB}) AS csub
  FROM seeds, LATERAL unnest(range(0, {_PQM_})) AS r(j)
),
vs AS (
  SELECT neighbor_id, cell, r.j,
         list_slice(rv, r.j * {_PQ_SUB} + 1, r.j * {_PQ_SUB} + {_PQ_SUB}) AS vsub
  FROM assigned, LATERAL unnest(range(0, {_PQM_})) AS r(j)
),
dist AS (
  SELECT vs.neighbor_id, vs.cell, vs.j, cw.cid,
    ROUND(list_dot_product(vsub, vsub) + list_dot_product(csub, csub)
          - 2.0 * list_dot_product(vsub, csub), 6) AS d
  FROM vs JOIN cw ON vs.j = cw.j
),
codes AS (
  SELECT neighbor_id, cell, j, cid FROM dist
  QUALIFY row_number() OVER (PARTITION BY neighbor_id, j ORDER BY d, cid) = 1
),
q0 AS (
  SELECT q.vec_id AS query_id, cent.cent_id,
         ROUND(list_dot_product(q.nv, cent.centroid), 6) AS qdot
  FROM e q CROSS JOIN cent WHERE q.vec_id % 50 = 0
),
probed AS (
  SELECT query_id, cent_id AS cell, qdot FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY qdot DESC, cent_id) AS rn
    FROM q0
  ) WHERE rn <= {_IPP_}
),
lut AS (
  SELECT q.vec_id AS query_id, cw.j, cw.cid,
    CAST(ROUND(list_dot_product(
           list_slice(q.nv, cw.j * {_PQ_SUB} + 1, cw.j * {_PQ_SUB} + {_PQ_SUB}),
           cw.csub), 8) AS DECIMAL(18,8)) AS ld
  FROM e q, cw WHERE q.vec_id % 50 = 0
),
adc AS (
  SELECT p.query_id, c.neighbor_id,
         CAST(p.qdot AS DECIMAL(18,8)) + SUM(l.ld) AS a
  FROM codes c
  JOIN probed p ON c.cell = p.cell AND c.neighbor_id <> p.query_id
  JOIN lut l ON l.query_id = p.query_id AND l.j = c.j AND l.cid = c.cid
  GROUP BY p.query_id, c.neighbor_id, p.qdot
),
cand AS (
  SELECT query_id, neighbor_id FROM adc
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY a DESC, neighbor_id)
    <= {10 + _PQMG_}
),
rr AS (
  SELECT c.query_id, c.neighbor_id, ROUND(list_dot_product(qe.nv, ne.nv), 6) AS sim
  FROM cand c
  JOIN e qe ON qe.vec_id = c.query_id
  JOIN e ne ON ne.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, sim,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
       AS BIGINT) AS rank
FROM rr
QUALIFY rank <= 10
"""

# Redefined AFTER ivfpq/bq exist so the report covers all SIX
# approximate paths (the earlier four-method definition is replaced —
# operators/similarity.ann_recall_report gained the ivfpq and bq rows).
ORACLE_SQL["ann_recall_report"] = f"""
WITH brute AS (SELECT query_id, neighbor_id FROM ({ORACLE_SQL["ann_topk"]})),
m_ivf AS (SELECT query_id, neighbor_id FROM ({ORACLE_SQL["ivf_flat_ann_topk"]})),
m_lsh AS (SELECT query_id, neighbor_id FROM ({ORACLE_SQL["ann_lsh_topk"]})),
m_sq8 AS (SELECT query_id, neighbor_id FROM ({ORACLE_SQL["sq8_ann_topk"]})),
m_pq AS (SELECT query_id, neighbor_id FROM ({ORACLE_SQL["pq_ann_topk"]})),
m_ivfpq AS (SELECT query_id, neighbor_id FROM ({ORACLE_SQL["ivfpq_ann_topk"]})),
m_bq AS (SELECT query_id, neighbor_id FROM ({ORACLE_SQL["bq_ann_topk"]})),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM brute),
hits AS (
  SELECT 'ivf_flat' AS method, CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM m_ivf JOIN brute USING (query_id, neighbor_id)
  UNION ALL
  SELECT 'lsh', CAST(COUNT(*) AS BIGINT)
  FROM m_lsh JOIN brute USING (query_id, neighbor_id)
  UNION ALL
  SELECT 'sq8', CAST(COUNT(*) AS BIGINT)
  FROM m_sq8 JOIN brute USING (query_id, neighbor_id)
  UNION ALL
  SELECT 'pq', CAST(COUNT(*) AS BIGINT)
  FROM m_pq JOIN brute USING (query_id, neighbor_id)
  UNION ALL
  SELECT 'ivfpq', CAST(COUNT(*) AS BIGINT)
  FROM m_ivfpq JOIN brute USING (query_id, neighbor_id)
  UNION ALL
  SELECT 'bq', CAST(COUNT(*) AS BIGINT)
  FROM m_bq JOIN brute USING (query_id, neighbor_id)
)
SELECT method, n_hit, n_total,
  CASE WHEN n_total > 0
       THEN ROUND(n_hit / CAST(n_total AS DOUBLE), 6) END AS recall
FROM hits, tot
"""

# Temperature-based mixture rebalancing
# (operators/dedup.temperature_sample_documents, α=0.5): rate =
# sqrt(n_min/n_s) — sqrt and the md5-uniform are both exact/correctly
# rounded, so the sampler is value-hash-checked like its equal-share
# sibling.
ORACLE_SQL["temperature_sample_documents"] = """
WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
m AS (SELECT MIN(n) AS mn FROM c),
r AS (SELECT source, sqrt(mn / CAST(n AS DOUBLE)) AS rate FROM c, m),
u AS (
  SELECT doc_id, source,
    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT + 1)
      / 4294967296.0 AS u
  FROM documents
)
SELECT u.doc_id, u.source, ROUND(r.rate, 6) AS accept_rate
FROM u JOIN r USING (source) WHERE u.u <= r.rate
"""

# C4-style segment-level dedup (operators/dedup.dedup_segments):
# non-overlapping k-token segments, keeper = global first occurrence
# (min (doc_id, seg_idx)), position-ordered reassembly. Groups by the
# SAME md5 the Spark shuffle key uses; string_agg ORDER BY seg_idx
# mirrors sort_array(collect_list) + ordered slice concat.
from .operators.dedup import SEG_WORDS as _SEGK_  # noqa: E402

ORACLE_SQL["dedup_segments"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
base AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
segs AS (
  SELECT doc_id, i AS seg_idx,
    array_to_string(list_slice(t, i * {_SEGK_} + 1, (i + 1) * {_SEGK_}), ' ')
      AS seg
  FROM base,
    LATERAL unnest(range(0, CAST(ceil(n / {_SEGK_}.0) AS BIGINT))) AS u(i)
),
kept AS (
  SELECT doc_id, seg_idx, seg FROM (
    SELECT *, row_number() OVER (
      PARTITION BY md5(seg) ORDER BY doc_id, seg_idx) AS rn
    FROM segs
  ) WHERE rn = 1
),
cleaned AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(seg, ' ' ORDER BY seg_idx) AS cleaned_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
  CAST(ceil(b.n / {_SEGK_}.0) AS BIGINT) AS n_segments,
  CAST(ceil(b.n / {_SEGK_}.0) - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed,
  COALESCE(c.cleaned_text, '') AS cleaned_text
FROM base b LEFT JOIN cleaned c USING (doc_id)
"""

# Exact BM25 top-k retrieval (operators/retrieval.bm25_topk): Okapi
# weighting with Lucene's non-negative idf; per-(query, doc, term)
# contributions written in the SAME IEEE association order as the
# Spark expression, rounded 6 dp per row and DECIMAL-summed, so the
# scores — and the (score DESC, doc_id) ranking — value-hash match.
from .operators.retrieval import (  # noqa: E402
    BM25_B as _BM_B_,
    BM25_K1 as _BM_K1_,
    DEFAULT_K as _BM_K_,
    QUERY_MOD as _BM_QM_,
)

# df CTE for the capped twin: θ = the ⌈V/2⌉-th smallest df (exact
# integer rank rule, mirrored from the Spark side), keep df ≤ θ.
_BM25_DF_CAPPED = """(
  SELECT term, df FROM (
    WITH df0 AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    th AS (
      SELECT MAX(df) AS theta FROM (
        SELECT df, row_number() OVER (ORDER BY df, term) AS rn,
               (SELECT COUNT(*) FROM df0) AS v
        FROM df0)
      WHERE rn * 2 <= v + 1)
    SELECT term, df FROM df0, th WHERE df <= th.theta)
)"""


def _bm25_oracle(df_cte: str, k: int = _BM_K_, workload: int | None = None) -> str:
    # ``workload``: restrict the query side to the N smallest
    # query-slice doc ids (bm25_workload_topk's fixed deployment
    # workload); None keeps the default corpus-slice query set.
    wl = (
        f" AND doc_id IN (SELECT doc_id FROM ("
        f"SELECT DISTINCT doc_id FROM tf WHERE doc_id % {_BM_QM_} = 0"
        f" ORDER BY doc_id LIMIT {workload}))"
        if workload is not None
        else ""
    )
    return f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
df AS {df_cte},
stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                 (SELECT COUNT(*) FROM tok) AS total_tokens),
qt AS (SELECT doc_id AS query_id, term FROM tf
       WHERE doc_id % {_BM_QM_} = 0{wl}),
contrib AS (
  SELECT qt.query_id, tf.doc_id,
    CAST(ROUND(
      ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
      * ((tf.tf * {_BM_K1_ + 1.0}) /
         (tf.tf + {_BM_K1_} * ({1.0 - _BM_B_} + {_BM_B_} *
           (dl.dl / (CAST(stats.total_tokens AS DOUBLE) / stats.n_docs))))),
      6) AS DECIMAL(18,6)) AS c
  FROM tf
  JOIN df USING (term)
  JOIN dl USING (doc_id)
  JOIN qt USING (term), stats
  WHERE tf.doc_id <> qt.query_id
),
scored AS (SELECT query_id, doc_id, SUM(c) AS s FROM contrib GROUP BY 1, 2),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY s DESC, doc_id) AS rn
  FROM scored
)
SELECT query_id, doc_id, CAST(s AS DOUBLE) AS score,
  CAST(rn AS BIGINT) AS rank FROM ranked WHERE rn <= {k}
"""


ORACLE_SQL["bm25_topk"] = _bm25_oracle(
    "(SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1)"
)
ORACLE_SQL["bm25_dfcap_topk"] = _bm25_oracle(_BM25_DF_CAPPED)

# Bloom-prefiltered decontamination (operators/dedup.
# docs_contamination_bloom): the Bloom bucket set has no false
# negatives and the exact shuffle verify removes false positives, so
# the operator is provably identical to docs_contamination — the two
# SHARE this oracle (the equivalence is the test).
ORACLE_SQL["docs_contamination_bloom"] = ORACLE_SQL["docs_contamination"]

# Directed k-NN graph with mutuality flag (operators/similarity.
# knn_graph_edges): the ivf_flat construction with the query side =
# the whole corpus — same md5 centroid draw, ONE scored frame serves
# both the rank-1 cell assignment and the rank<=n_probe probes, rerank
# within probed cells, then a reversed-pair self-join flags mutual
# edges. Rounded dots + id tie-breaks keep every edge engine-exact.
ORACLE_SQL["knn_graph_edges"] = f"""
WITH {_NORM_CTE},
cent AS (
  SELECT vec_id AS cent_id, nv AS centroid
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
),
scored AS (
  SELECT * FROM (
    SELECT e.vec_id, e.nv, cent.cent_id AS cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY ROUND(list_dot_product(e.nv, cent.centroid), 6) DESC,
                      cent.cent_id) AS rn
    FROM e CROSS JOIN cent
  ) WHERE rn <= 4
),
assigned AS (SELECT vec_id AS dst_id, nv AS dv, cell FROM scored WHERE rn = 1),
probes AS (SELECT vec_id AS src_id, nv AS sv, cell FROM scored),
s AS (
  SELECT p.src_id, a.dst_id, ROUND(list_dot_product(p.sv, a.dv), 6) AS sim
  FROM probes p JOIN assigned a USING (cell)
  WHERE p.src_id <> a.dst_id
),
edges AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY src_id ORDER BY sim DESC, dst_id) AS rn
    FROM s
  ) WHERE rn <= 10
)
SELECT e.src_id AS src_id, e.dst_id AS dst_id, e.sim AS sim,
  CAST(e.rn AS BIGINT) AS rank, (m.src_id IS NOT NULL) AS mutual
FROM edges e LEFT JOIN edges m
  ON m.src_id = e.dst_id AND m.dst_id = e.src_id
"""

# UniMax water-filling language sampler (operators/dedup.
# unimax_sample_documents): exact-integer saturation criterion over
# the ascending-(n, lang) prefix, equal-share cap for the rest,
# rate = min(1, cap/n) — one double division both engines round
# identically, so the sampler is value-hash-oracled like its mixture
# and temperature siblings.
from .operators.dedup import (  # noqa: E402
    UNIMAX_DEN as _UMD_,
    UNIMAX_NUM as _UMN_,
)

ORACLE_SQL["unimax_sample_documents"] = f"""
WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
           FROM documents GROUP BY 1),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_langs FROM c),
ranked AS (
  SELECT lang, n, n_langs, (total * {_UMN_}) // {_UMD_} AS budget,
         row_number() OVER (ORDER BY n, lang) AS i,
         SUM(n) OVER (ORDER BY n, lang) AS cum
  FROM c, tot
),
sat AS (
  SELECT
    COALESCE(SUM(CASE WHEN n * (n_langs - i + 1) <= budget - (cum - n)
                      THEN n END), 0) AS sat_n,
    COALESCE(SUM(CASE WHEN n * (n_langs - i + 1) <= budget - (cum - n)
                      THEN 1 END), 0) AS t,
    MAX(budget) AS budget, MAX(n_langs) AS n_langs
  FROM ranked
),
rates AS (
  SELECT c.lang,
    CASE WHEN sat.t >= sat.n_langs THEN 1.0
         ELSE least(1.0,
           ((sat.budget - sat.sat_n) / CAST(sat.n_langs - sat.t AS DOUBLE))
             / c.n)
    END AS rate
  FROM c, sat
),
u AS (
  SELECT doc_id, lang,
    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT + 1)
      / 4294967296.0 AS u
  FROM documents
)
SELECT u.doc_id, u.lang, ROUND(r.rate, 6) AS accept_rate
FROM u JOIN rates r USING (lang) WHERE u.u <= r.rate
"""

# Near-dup precision/recall dashboard (operators/dedup.
# neardup_recall_report): composes the four independently-oracled
# pair queries; per-method one-row counts + rounded divisions, the
# ann_recall_report pattern applied to the dedup family.
ORACLE_SQL["neardup_recall_report"] = f"""
WITH truth AS (SELECT doc_a, doc_b FROM ({ORACLE_SQL["ngram_dup_pairs"]})),
mh AS (SELECT doc_a, doc_b FROM ({ORACLE_SQL["minhash_lsh_dup_pairs"]})),
sh AS (SELECT doc_a, doc_b FROM ({ORACLE_SQL["simhash_dup_pairs"]})),
ct AS (SELECT doc_a, doc_b FROM ({ORACLE_SQL["ngram_containment_pairs"]})),
m AS (
  SELECT 'minhash_lsh' AS method,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM mh) AS n_pairs,
    (SELECT CAST(COUNT(*) AS BIGINT)
     FROM mh JOIN truth USING (doc_a, doc_b)) AS n_hit
  UNION ALL
  SELECT 'simhash',
    (SELECT CAST(COUNT(*) AS BIGINT) FROM sh),
    (SELECT CAST(COUNT(*) AS BIGINT)
     FROM sh JOIN truth USING (doc_a, doc_b))
  UNION ALL
  SELECT 'containment',
    (SELECT CAST(COUNT(*) AS BIGINT) FROM ct),
    (SELECT CAST(COUNT(*) AS BIGINT)
     FROM ct JOIN truth USING (doc_a, doc_b))
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth)
SELECT method, n_pairs, n_hit, n_true,
  CASE WHEN n_pairs > 0
       THEN ROUND(n_hit / CAST(n_pairs AS DOUBLE), 6) END AS precision,
  CASE WHEN n_true > 0
       THEN ROUND(n_hit / CAST(n_true AS DOUBLE), 6) END AS recall
FROM m, tot
"""

# Incremental cross-corpus dedup (operators/dedup.dedup_incremental):
# the LSH+verify screen provably equals the exact batch-vs-corpus
# Jaccard join at the 0.8 threshold (same 1-(1-j²)^16 recall argument
# as minhash_lsh_dup_pairs), so the oracle is the exact cross join
# with the same deterministic best-match rule.
from .operators.dedup import INCR_MOD as _INCR_MOD_  # noqa: E402

ORACLE_SQL["dedup_incremental"] = f"""
WITH {SHINGLES_CTE},
ns AS (SELECT * FROM shf WHERE doc_id % {_INCR_MOD_} = 0),
os AS (SELECT * FROM shf WHERE doc_id % {_INCR_MOD_} <> 0),
m AS (
  SELECT n.doc_id, o.doc_id AS old_id,
    ROUND(len(list_intersect(n.s, o.s))
          / CAST(len(list_distinct(list_concat(n.s, o.s))) AS DOUBLE), 6) AS j
  FROM ns n, os o
),
hits AS (SELECT * FROM m WHERE j >= 0.8),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches FROM hits GROUP BY 1
),
best AS (
  SELECT doc_id, old_id AS best_match, j AS best_jaccard FROM (
    SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY j DESC, old_id) AS rn
    FROM hits)
  WHERE rn = 1
)
SELECT d.doc_id,
  COALESCE(a.n_matches, 0) > 0 AS is_dup,
  CAST(COALESCE(a.n_matches, 0) AS BIGINT) AS n_matches,
  b.best_match, b.best_jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id % {_INCR_MOD_} = 0) d
LEFT JOIN agg a USING (doc_id)
LEFT JOIN best b USING (doc_id)
"""

# Near-dup provenance crosstab (operators/dedup.dup_source_matrix):
# exact-Jaccard pair set (≡ the verified LSH output) joined to the
# source labels; mean Jaccard via the money_sum convention (exact
# DECIMAL sum of the 6-decimal per-pair values, one final divide).
ORACLE_SQL["dup_source_matrix"] = f"""
WITH pairs AS ({ORACLE_SQL["minhash_lsh_dup_pairs"]}),
lab AS (
  SELECT least(sa.source, sb.source) AS source_a,
         greatest(sa.source, sb.source) AS source_b,
         CAST(p.jaccard AS DECIMAL(18,8)) AS jd
  FROM pairs p
  JOIN documents sa ON p.doc_a = sa.doc_id
  JOIN documents sb ON p.doc_b = sb.doc_id
)
SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
  ROUND(CAST(SUM(jd) AS DOUBLE) / COUNT(*), 6) AS avg_jaccard
FROM lab GROUP BY 1, 2
"""

# Scorer-calibration AUC (operators/textquality.quality_auc_report):
# tie-corrected Mann-Whitney over per-score bins — identical integer
# arithmetic on both engines (the only division is the final rounded
# one); label = the rule-filter verdict, scores = the independently
# oracled rounded signals.
ORACLE_SQL["quality_auc_report"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
{_QF_CTES},
ql AS (SELECT doc_id, quality_logit
       FROM ({ORACLE_SQL["docs_quality_model"]})),
qs AS (SELECT doc_id, stopword_ratio, avg_token_len, punct_ratio
       FROM ({ORACLE_SQL["docs_quality"]})),
base AS (
  SELECT q.doc_id, (v.reasons = '') AS label,
    l.quality_logit, q.stopword_ratio, q.avg_token_len, q.punct_ratio
  FROM qs q JOIN ql l USING (doc_id) JOIN qf_v v USING (doc_id)
),
sc AS (
  SELECT 'quality_logit' AS scorer, label,
         CAST(quality_logit AS DOUBLE) AS score FROM base
  UNION ALL SELECT 'stopword_ratio', label, stopword_ratio FROM base
  UNION ALL SELECT 'avg_token_len', label, avg_token_len FROM base
  UNION ALL SELECT 'punct_ratio', label, punct_ratio FROM base
),
bins AS (
  SELECT scorer, score,
    CAST(COUNT(*) FILTER (WHERE label) AS BIGINT) AS p,
    CAST(COUNT(*) FILTER (WHERE NOT label) AS BIGINT) AS n
  FROM sc WHERE score IS NOT NULL GROUP BY 1, 2
),
c AS (
  SELECT *, COALESCE(SUM(n) OVER (PARTITION BY scorer ORDER BY score
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cn
  FROM bins
)
SELECT scorer, CAST(SUM(p) AS BIGINT) AS n_pos,
  CAST(SUM(n) AS BIGINT) AS n_neg,
  CASE WHEN SUM(p) > 0 AND SUM(n) > 0 THEN
    ROUND(SUM(p * (2 * cn + n)) / (2.0 * SUM(p) * SUM(n)), 6)
  END AS auc
FROM c GROUP BY 1
"""

# Embedding-space separability (operators/similarity.
# centroid_auc_report): label_centroids' prototypes cross-scored onto
# every vector, then the same per-bin tie-corrected Mann-Whitney sum
# as quality_auc_report — integer-exact until the final rounded
# divide.
ORACLE_SQL["centroid_auc_report"] = f"""
WITH cent0 AS ({ORACLE_SQL["label_centroids"]}),
cent AS (
  SELECT label AS cent_label, list(centroid ORDER BY pos) AS cv
  FROM cent0 GROUP BY label
),
cn AS (
  SELECT cent_label,
         list_transform(cv, x -> x / sqrt(list_dot_product(cv, cv))) AS cnv
  FROM cent
),
{_NORM_CTE},
lbl AS (SELECT vec_id, CAST(label AS BIGINT) AS vec_label FROM embeddings),
sc AS (
  SELECT cn.cent_label, (l.vec_label = cn.cent_label) AS is_pos,
         ROUND(list_dot_product(e.nv, cn.cnv), 6) AS sim
  FROM e JOIN lbl l USING (vec_id) CROSS JOIN cn
),
bins AS (
  SELECT cent_label, sim,
    CAST(COUNT(*) FILTER (WHERE is_pos) AS BIGINT) AS p,
    CAST(COUNT(*) FILTER (WHERE NOT is_pos) AS BIGINT) AS n
  FROM sc GROUP BY 1, 2
),
c AS (
  SELECT *, COALESCE(SUM(n) OVER (PARTITION BY cent_label ORDER BY sim
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_n
  FROM bins
)
SELECT cent_label AS label, CAST(SUM(p) AS BIGINT) AS n_pos,
  CAST(SUM(n) AS BIGINT) AS n_neg,
  CASE WHEN SUM(p) > 0 AND SUM(n) > 0 THEN
    ROUND(SUM(p * (2 * cum_n + n)) / (2.0 * SUM(p) * SUM(n)), 6)
  END AS auc
FROM c GROUP BY 1
"""

# IVF probe-width tuning curve (operators/similarity.ivf_probe_sweep):
# the parameterized ivf_flat template embedded once per width, counted
# against the brute-force oracle — value-hash-checked end to end.
ORACLE_SQL["ivf_probe_sweep"] = f"""
WITH brute AS (SELECT query_id, neighbor_id FROM ({ORACLE_SQL["ann_topk"]})),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM brute),
p1 AS (SELECT query_id, neighbor_id FROM ({_ivf_flat_sql(1)})),
p2 AS (SELECT query_id, neighbor_id FROM ({_ivf_flat_sql(2)})),
p4 AS (SELECT query_id, neighbor_id FROM ({_ivf_flat_sql(4)})),
p8 AS (SELECT query_id, neighbor_id FROM ({_ivf_flat_sql(8)})),
hits AS (
  SELECT 1 AS n_probe, (SELECT COUNT(*) FROM p1 JOIN brute
    USING (query_id, neighbor_id)) AS n_hit
  UNION ALL SELECT 2, (SELECT COUNT(*) FROM p2 JOIN brute
    USING (query_id, neighbor_id))
  UNION ALL SELECT 4, (SELECT COUNT(*) FROM p4 JOIN brute
    USING (query_id, neighbor_id))
  UNION ALL SELECT 8, (SELECT COUNT(*) FROM p8 JOIN brute
    USING (query_id, neighbor_id))
)
SELECT CAST(n_probe AS BIGINT) AS n_probe, CAST(n_hit AS BIGINT) AS n_hit,
  n_total,
  CASE WHEN n_total > 0
       THEN ROUND(n_hit / CAST(n_total AS DOUBLE), 6) END AS recall
FROM hits, tot
"""

# Mutual-kNN connected components (operators/similarity.
# knn_graph_components): the knn_graph_edges oracle's mutual subset,
# symmetrized (a no-op by mutuality, kept for form parity with
# dedup_components) and closed with the same recursive reach CTE.
ORACLE_SQL["knn_graph_components"] = f"""
WITH RECURSIVE knn AS ({ORACLE_SQL["knn_graph_edges"]}),
kc_mut AS (SELECT src_id, dst_id FROM knn WHERE mutual),
kc_edges AS (SELECT src_id AS a, dst_id AS b FROM kc_mut
             UNION SELECT dst_id, src_id FROM kc_mut),
kc_nodes AS (SELECT DISTINCT a AS vec_id FROM kc_edges),
kc_reach(src, dst) AS (
  SELECT vec_id, vec_id FROM kc_nodes
  UNION
  SELECT r.src, g.b FROM kc_reach r JOIN kc_edges g ON r.dst = g.a
)
SELECT src AS vec_id, MIN(dst) AS component FROM kc_reach GROUP BY src
"""

# Cross-split near-dup leakage (operators/dedup.split_leakage_report):
# exact-Jaccard pairs × the integer-threshold split oracle — the
# dup_source_matrix shape keyed by split, plus the leaky flag.
ORACLE_SQL["split_leakage_report"] = f"""
WITH pairs AS ({ORACLE_SQL["minhash_lsh_dup_pairs"]}),
sp AS ({_split_oracle()}),
lab AS (
  SELECT least(pa.split, pb.split) AS split_a,
         greatest(pa.split, pb.split) AS split_b,
         CAST(p.jaccard AS DECIMAL(18,8)) AS jd
  FROM pairs p
  JOIN sp pa ON p.doc_a = pa.doc_id
  JOIN sp pb ON p.doc_b = pb.doc_id
)
SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
  ROUND(CAST(SUM(jd) AS DOUBLE) / COUNT(*), 6) AS avg_jaccard,
  split_a <> split_b AS leaky
FROM lab GROUP BY 1, 2
"""

# Crawl-saturation novelty (operators/dedup.docs_ngram_novelty):
# first-occurrence = MIN(doc_id) per shingle, per-doc novel fraction.
ORACLE_SQL["docs_ngram_novelty"] = f"""
WITH {SHINGLES_CTE},
ex AS (SELECT doc_id, unnest(s) AS g FROM shf),
fo AS (SELECT g, MIN(doc_id) AS fd FROM ex GROUP BY 1),
nov AS (SELECT fd AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
        FROM fo GROUP BY 1),
base AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n_grams FROM shf)
SELECT b.doc_id, b.n_grams,
  COALESCE(n.n_novel, 0) AS n_novel,
  ROUND(COALESCE(n.n_novel, 0) / CAST(b.n_grams AS DOUBLE), 6) AS novelty
FROM base b LEFT JOIN nov n USING (doc_id)
"""

# Quality-signal correlation matrix (operators/textquality.
# quality_signal_corr): rounded per-row products summed as exact
# DECIMAL(38,8), closed-form Pearson in the token_zipf_fit operation
# order.
from itertools import combinations as _combos_  # noqa: E402

from .operators.textquality import CORR_SIGNALS as _CORR_SIGS_  # noqa: E402

_CORR_PAIRS_SQL = "\n  UNION ALL ".join(
    f"SELECT '{a}' AS sig_a, '{b}' AS sig_b, "
    f"CAST({a} AS DOUBLE) AS x, CAST({b} AS DOUBLE) AS y FROM qbase"
    for a, b in _combos_(_CORR_SIGS_, 2)
)

ORACLE_SQL["quality_signal_corr"] = f"""
WITH qbase AS (
  SELECT n_tokens, punct_ratio, stopword_ratio, avg_token_len
  FROM ({ORACLE_SQL["docs_quality"]})
),
pairs AS (
  {_CORR_PAIRS_SQL}
),
pts AS (
  SELECT sig_a, sig_b,
    CAST(ROUND(x, 8) AS DECIMAL(38,8)) AS x,
    CAST(ROUND(y, 8) AS DECIMAL(38,8)) AS y,
    CAST(ROUND(x * y, 8) AS DECIMAL(38,8)) AS xy,
    CAST(ROUND(x * x, 8) AS DECIMAL(38,8)) AS xx,
    CAST(ROUND(y * y, 8) AS DECIMAL(38,8)) AS yy
  FROM pairs WHERE x IS NOT NULL AND y IS NOT NULL
),
agg AS (
  SELECT sig_a, sig_b, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
    CAST(SUM(xy) AS DOUBLE) AS sxy, CAST(SUM(xx) AS DOUBLE) AS sxx,
    CAST(SUM(yy) AS DOUBLE) AS syy
  FROM pts GROUP BY 1, 2
)
SELECT sig_a, sig_b, n,
  CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx) > 0
        AND (CAST(n AS DOUBLE) * syy - sy * sy) > 0 THEN
    ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
          / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                 * (CAST(n AS DOUBLE) * syy - sy * sy)), 6)
  END AS corr
FROM agg
"""

# Audio window features (operators/multimodal.audio_window_energy):
# unsigned-8-bit PCM decode from the payload hex, windows of
# AUDIO_WIN samples every AUDIO_HOP, exact-integer energy / sum of
# squares / zero crossings — value-hash parity despite the Pandas-UDF
# execution path.
from .operators.multimodal import (  # noqa: E402
    AUDIO_HOP as _AHOP_,
    AUDIO_WIN as _AWIN_,
)

ORACLE_SQL["multimodal_audio_energy"] = f"""
WITH d AS (
  SELECT doc_id, lower(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
),
w AS (
  SELECT doc_id, hx, n,
         unnest(range(0, CAST(n AS BIGINT), {_AHOP_})) AS start
  FROM d WHERE n > 0
),
s AS (
  SELECT doc_id, CAST(start // {_AHOP_} AS BIGINT) AS win_idx,
    list_transform(range(CAST(start AS INT),
                         CAST(least(start + {_AWIN_}, n) AS INT)),
      i -> ('0x' || substr(hx, i * 2 + 1, 2))::BIGINT - 128) AS smp
  FROM w
)
SELECT doc_id, win_idx,
  CAST(len(smp) AS BIGINT) AS n_samples,
  CAST(list_aggregate(list_transform(smp, x -> abs(x)), 'sum') AS BIGINT)
    AS energy,
  CAST(list_aggregate(list_transform(smp, x -> x * x), 'sum') AS BIGINT)
    AS sum_sq,
  CAST(COALESCE(list_aggregate(
    list_transform(range(1, len(smp)),
      j -> CASE WHEN (smp[j + 1] >= 0) <> (smp[j] >= 0)
           THEN 1 ELSE 0 END), 'sum'), 0) AS BIGINT) AS zero_crossings
FROM s
"""

# Top-k session paths (operators/sessionize.session_paths_topk): the
# sessionize island SQL + ordered string_agg, identical (n desc, path)
# cut and rank.
from .operators.sessionize import (  # noqa: E402
    DEFAULT_GAP_US as _SPGAP_,
    SESSION_PATH_K as _SPK_,
)

ORACLE_SQL["session_paths_topk"] = f"""
WITH o AS (
  SELECT user_id, event_id, epoch_us(ts) AS tu, event_type FROM events
),
lagd AS (
  SELECT *, CASE WHEN lag(tu) OVER w IS NULL
                   OR tu - lag(tu) OVER w > {_SPGAP_}
            THEN 1 ELSE 0 END AS ns
  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)
),
sess AS (
  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY tu, event_id
    ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM lagd
),
paths AS (
  SELECT user_id, session_idx,
    string_agg(event_type, '>' ORDER BY tu, event_id) AS path
  FROM sess GROUP BY 1, 2
),
agg AS (
  SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM paths GROUP BY 1
),
r AS (
  SELECT *, row_number() OVER (ORDER BY n_sessions DESC, path) AS rank
  FROM agg
)
SELECT path, n_sessions, n_users, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {_SPK_}
"""

# Heaps'-law vocabulary growth fit (operators/textquality.
# vocab_growth_fit): first-occurrence bucket attribution, cumulative
# window over the bucket table, zipf-convention decimal OLS.
from .operators.textquality import (  # noqa: E402
    VOCAB_BUCKET_DOCS as _VGB_,
)

ORACLE_SQL["vocab_growth_fit"] = f"""
WITH tok AS (
  SELECT doc_id // {_VGB_} AS b, doc_id, unnest({TOKS}) AS term
  FROM documents
),
tpb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n_tok FROM tok GROUP BY 1),
fst AS (SELECT term, MIN(doc_id) AS fd FROM tok GROUP BY 1),
npb AS (SELECT fd // {_VGB_} AS b, CAST(COUNT(*) AS BIGINT) AS n_new
        FROM fst GROUP BY 1),
cum AS (
  SELECT t.b,
    SUM(t.n_tok) OVER (ORDER BY t.b ROWS UNBOUNDED PRECEDING) AS cum_tok,
    SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY t.b ROWS UNBOUNDED PRECEDING)
      AS cum_vocab
  FROM tpb t LEFT JOIN npb n USING (b)
),
pts AS (
  SELECT
    CAST(ROUND(ln(CAST(cum_tok AS DOUBLE)), 8) AS DECIMAL(18,8)) AS x,
    CAST(ROUND(ln(CAST(cum_vocab AS DOUBLE)), 8) AS DECIMAL(18,8)) AS y,
    CAST(ROUND(ln(CAST(cum_tok AS DOUBLE))
               * ln(CAST(cum_vocab AS DOUBLE)), 8) AS DECIMAL(18,8)) AS xy,
    CAST(ROUND(ln(CAST(cum_tok AS DOUBLE))
               * ln(CAST(cum_tok AS DOUBLE)), 8) AS DECIMAL(18,8)) AS xx,
    CAST(ROUND(ln(CAST(cum_vocab AS DOUBLE))
               * ln(CAST(cum_vocab AS DOUBLE)), 8) AS DECIMAL(18,8)) AS yy
  FROM cum WHERE cum_tok > 0 AND cum_vocab > 0
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
    CAST(SUM(xy) AS DOUBLE) AS sxy, CAST(SUM(xx) AS DOUBLE) AS sxx,
    CAST(SUM(yy) AS DOUBLE) AS syy
  FROM pts
)
SELECT n_points,
  CASE WHEN (CAST(n_points AS DOUBLE) * sxx - sx * sx) > 0 THEN
    ROUND(exp((sy - ((CAST(n_points AS DOUBLE) * sxy - sx * sy)
                     / (CAST(n_points AS DOUBLE) * sxx - sx * sx)) * sx)
              / CAST(n_points AS DOUBLE)), 6) END AS heaps_k,
  CASE WHEN (CAST(n_points AS DOUBLE) * sxx - sx * sx) > 0 THEN
    ROUND((CAST(n_points AS DOUBLE) * sxy - sx * sy)
          / (CAST(n_points AS DOUBLE) * sxx - sx * sx), 6) END AS heaps_beta,
  CASE WHEN (CAST(n_points AS DOUBLE) * sxx - sx * sx) > 0
        AND (CAST(n_points AS DOUBLE) * syy - sy * sy) > 0 THEN
    ROUND(((CAST(n_points AS DOUBLE) * sxy - sx * sy)
           * (CAST(n_points AS DOUBLE) * sxy - sx * sy))
          / ((CAST(n_points AS DOUBLE) * sxx - sx * sx)
             * (CAST(n_points AS DOUBLE) * syy - sy * sy)), 6) END AS r2
FROM agg
"""

# Embedding classifier accuracy report (operators/similarity.
# embedding_classifier_report): both predictors' oracles joined to the
# true labels, exact counts + one rounded division per row.
ORACLE_SQL["embedding_classifier_report"] = f"""
WITH kv AS (SELECT query_id AS vec_id, pred_label
            FROM ({ORACLE_SQL["knn_label_vote"]})),
nc AS (SELECT vec_id, pred_label
       FROM ({ORACLE_SQL["nearest_centroid_assign"]})),
truth AS (SELECT vec_id, CAST(label AS BIGINT) AS true_label
          FROM embeddings),
m AS (
  SELECT 'knn_vote' AS classifier,
    CAST(COUNT(*) AS BIGINT) AS n_scored,
    CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
         AS BIGINT) AS n_correct
  FROM kv JOIN truth USING (vec_id)
  UNION ALL
  SELECT 'nearest_centroid',
    CAST(COUNT(*) AS BIGINT),
    CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
         AS BIGINT)
  FROM nc JOIN truth USING (vec_id)
)
SELECT classifier, n_scored, n_correct,
  CASE WHEN n_scored > 0
       THEN ROUND(n_correct / CAST(n_scored AS DOUBLE), 6) END AS accuracy
FROM m
"""

# Seasonality heatmap (plans/analytics.events_seasonality): DuckDB
# dayofweek is 0=Sunday → +1 to match Spark; exact counts + one
# rounded share division.
ORACLE_SQL["events_seasonality"] = """
WITH cells AS (
  SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS day_of_week,
    CAST(hour(ts) AS BIGINT) AS hour,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM events GROUP BY 1, 2
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM events)
SELECT day_of_week, hour, n_events, n_users,
  CASE WHEN t > 0 THEN ROUND(n_events / CAST(t AS DOUBLE), 6) END AS share
FROM cells, tot
"""

# Gopher-style quality rules (operators/textquality.
# gopher_quality_rules): every counter is an integer over the row's
# own token list and every rule an integer cross-multiplication, so
# the oracle is exact with no float convention needed.
from .operators.textquality import (  # noqa: E402
    GOPHER_MAX_MWL,
    GOPHER_MAX_WORDS,
    GOPHER_MIN_MWL_X10,
    GOPHER_MIN_STOP_HITS,
    GOPHER_MIN_UNIQ_DEN,
    GOPHER_MIN_UNIQ_NUM,
    GOPHER_MIN_WORDS,
    GOPHER_STOP_SET,
    GOPHER_TOP_FRAC_DEN,
    GOPHER_TOP_FRAC_NUM,
    MIX_UNIQ_DP,
)

_GOPHER_STOPS = ", ".join(f"'{s}'" for s in GOPHER_STOP_SET)

ORACLE_SQL["gopher_quality_rules"] = f"""
WITH t AS (SELECT doc_id, {TOKS} AS w FROM documents),
s AS (
  SELECT doc_id,
    CAST(len(w) AS BIGINT) AS n_words,
    CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
    CAST(COALESCE(list_sum(list_transform(w, x -> len(x))), 0) AS BIGINT)
      AS sum_word_chars,
    CAST(len(list_filter(w, x -> x IN ({_GOPHER_STOPS}))) AS BIGINT)
      AS stop_hits,
    CAST(list_max(list_transform(list_distinct(w),
        x -> len(list_filter(w, y -> y = x)))) AS BIGINT) AS top_word_count
  FROM t
)
SELECT doc_id, n_words, n_distinct, sum_word_chars, stop_hits,
  top_word_count,
  (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
    AS rule_word_count,
  (sum_word_chars * 10 >= {GOPHER_MIN_MWL_X10} * n_words
   AND sum_word_chars <= {GOPHER_MAX_MWL} * n_words) AS rule_mean_word_len,
  stop_hits >= {GOPHER_MIN_STOP_HITS} AS rule_stopwords,
  top_word_count * {GOPHER_TOP_FRAC_DEN} <= {GOPHER_TOP_FRAC_NUM} * n_words
    AS rule_top_word,
  n_distinct * {GOPHER_MIN_UNIQ_DEN} >= {GOPHER_MIN_UNIQ_NUM} * n_words
    AS rule_unique_ratio,
  ((n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
   AND (sum_word_chars * 10 >= {GOPHER_MIN_MWL_X10} * n_words
        AND sum_word_chars <= {GOPHER_MAX_MWL} * n_words)
   AND stop_hits >= {GOPHER_MIN_STOP_HITS}
   AND top_word_count * {GOPHER_TOP_FRAC_DEN}
       <= {GOPHER_TOP_FRAC_NUM} * n_words
   AND n_distinct * {GOPHER_MIN_UNIQ_DEN}
       >= {GOPHER_MIN_UNIQ_NUM} * n_words) AS keep
FROM s
"""

# Training-mixture domain weights (operators/textquality.
# domain_mixture_weights): integer token counts; per-doc unique
# ratios rounded 9 dp + DECIMAL-summed (label_centroids convention);
# w_raw rounded 9 dp + DECIMAL-summed for the normalizer; weight
# rounded 6 dp — every double is a deterministic function of
# order-independent aggregates.
ORACLE_SQL["domain_mixture_weights"] = f"""
WITH per_doc AS (
  SELECT source,
    CAST(len({TOKS}) AS BIGINT) AS n_tok,
    CAST(ROUND(len(list_distinct({TOKS}))
               / CAST(len({TOKS}) AS DOUBLE), {MIX_UNIQ_DP})
         AS DECIMAL(18,{MIX_UNIQ_DP})) AS uniq_r
  FROM documents
),
per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
    CAST(SUM(uniq_r) AS DOUBLE) / COUNT(*) AS mu
  FROM per_doc GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt FROM per_src),
raw AS (
  SELECT source, n_docs, n_tokens,
    n_tokens / CAST(tt AS DOUBLE) AS share, mu,
    CAST(ROUND(sqrt(n_tokens / CAST(tt AS DOUBLE)) * mu, {MIX_UNIQ_DP})
         AS DECIMAL(18,{MIX_UNIQ_DP})) AS w_raw
  FROM per_src, tot
),
z AS (SELECT CAST(SUM(w_raw) AS DOUBLE) AS z FROM raw)
SELECT source, n_docs, n_tokens,
  ROUND(share, 6) AS token_share,
  ROUND(mu, 6) AS mean_uniq_ratio,
  ROUND(CAST(w_raw AS DOUBLE) / z, 6) AS weight
FROM raw, z
"""

# Two-stage retrieval (operators/retrieval.bm25_rerank_topk): the
# BM25 oracle at candidate depth M feeds an exact cosine rerank over
# the normalized embedding vectors — same normalize-once fold and
# 6 dp rounding as every ANN oracle, ranks tie-broken on doc_id.
from .operators.retrieval import RERANK_M as _RR_M_  # noqa: E402

def _bm25_rerank_oracle(df_cte: str) -> str:
    return f"""
WITH cand AS ({_bm25_oracle(df_cte, k=_RR_M_)}),
{_NORM_CTE},
s AS (
  SELECT c.query_id, c.doc_id, c.rank AS bm25_rank,
    ROUND(list_dot_product(q.nv, d.nv), 6) AS sim
  FROM cand c
  JOIN e q ON q.vec_id = c.query_id
  JOIN e d ON d.vec_id = c.doc_id
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rn
  FROM s
)
SELECT query_id, doc_id, bm25_rank, sim, CAST(rn AS BIGINT) AS rank
FROM r WHERE rn <= {_BM_K_}
"""


ORACLE_SQL["bm25_rerank_topk"] = _bm25_rerank_oracle(
    "(SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1)"
)
# df-capped stage 1 (the deployment form of the cascade) — same rerank
ORACLE_SQL["bm25_rerank_dfcap_topk"] = _bm25_rerank_oracle(_BM25_DF_CAPPED)

# Ranked-retrieval quality dashboard (operators/retrieval.
# retrieval_quality_report): nDCG@k / MRR / recall of the four
# lexical-cascade retrievers against the exact cosine top-k as binary
# relevance truth. Gains are round(1/log2(rank+1), 8) exact decimals
# (order-independent sums); per-query ndcg/rr are rounded decimals;
# the means divide decimal sums cast to double — every step mirrored
# here term for term.
_BM25_UNCAPPED = "(SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1)"


def _rq_method_ctes(name: str, retrieved_sql: str) -> str:
    return f"""
m_{name} AS (SELECT query_id, doc_id, rank FROM ({retrieved_sql})),
perq_{name} AS (
  SELECT query_id,
    SUM(CAST(ROUND(1.0 / log2(rank + 1.0), 8) AS DECIMAL(18,8))) AS dcg,
    MIN(rank) AS first_rel, COUNT(*) AS n_hit
  FROM m_{name} JOIN truth USING (query_id, doc_id) GROUP BY 1),
row_{name} AS (
  SELECT '{name}' AS method, CAST(COUNT(*) AS BIGINT) AS n_queries,
    ROUND(CAST(SUM(ndcg_q) AS DOUBLE) / COUNT(*), 6) AS ndcg,
    ROUND(CAST(SUM(rr_q) AS DOUBLE) / COUNT(*), 6) AS mrr,
    ROUND(CAST(SUM(n_hit) AS DOUBLE) / SUM(n_rel), 6) AS recall
  FROM (
    SELECT i.n_rel, COALESCE(h.n_hit, 0) AS n_hit,
      CAST(ROUND(COALESCE(CAST(h.dcg AS DOUBLE), 0.0)
                 / CAST(i.idcg AS DOUBLE), 8) AS DECIMAL(18,8)) AS ndcg_q,
      CAST(COALESCE(ROUND(1.0 / h.first_rel, 8), 0.0)
           AS DECIMAL(18,8)) AS rr_q
    FROM idcg i LEFT JOIN perq_{name} h USING (query_id)))"""


# NOTE (r7): the retrieval_quality_report oracle is ASSEMBLED AT THE
# END of this module — the report widened to six retrievers and its
# last two method subqueries (hybrid_rrf_topk, rm3_expansion_topk)
# are defined further down.

# Incremental BM25-index maintenance (operators/retrieval.
# bm25_index_incremental): Spark merges the established vocab stats
# with the batch delta; this oracle computes the SAME table from the
# full corpus directly — the hash match IS the increment-equals-
# rebuild proof (counts are associative).
ORACLE_SQL["bm25_index_incremental"] = f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok GROUP BY 1, 2),
fullv AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
                 CAST(SUM(tf) AS BIGINT) AS tf_total
          FROM tf GROUP BY 1),
newd AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_new
         FROM tf WHERE doc_id % 3 = 0 GROUP BY 1),
est AS (SELECT DISTINCT term FROM tf WHERE doc_id % 3 <> 0)
SELECT f.term, f.df, f.tf_total,
  COALESCE(n.df_new, 0) AS df_new,
  (e.term IS NULL) AS is_new_term
FROM fullv f
LEFT JOIN newd n USING (term)
LEFT JOIN est e USING (term)
"""

# Streaming IVF-index maintenance (streaming/pipeline.
# ann_index_streamed): the stateless per-row argmax assignment drained
# through availableNow micro-batches — deterministic and
# batch-boundary-independent, so the BATCH assignment SQL oracles a
# result computed via Structured Streaming (the fact_events_streamed
# convention).
ORACLE_SQL["ann_index_streamed"] = f"""
WITH {_NORM_CTE},
cent AS (
  SELECT vec_id AS cent_id, nv AS centroid
  FROM e WHERE vec_id % 3 <> 0
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
a AS (
  SELECT vec_id, cent_id AS cell, cdot AS cent_sim FROM (
    SELECT e.vec_id, cent.cent_id,
      ROUND(list_dot_product(e.nv, cent.centroid), 6) AS cdot,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY ROUND(list_dot_product(e.nv, cent.centroid), 6) DESC,
                 cent.cent_id) AS rn
    FROM e CROSS JOIN cent) WHERE rn = 1)
SELECT vec_id, CAST(cell AS BIGINT) AS cell, cent_sim,
  (vec_id % 3 = 0) AS is_new
FROM a
"""

# Incremental IVF-index maintenance (operators/similarity.
# ann_index_incremental): centroids drawn from the ESTABLISHED slice
# only (md5 rank), argmax rounded-cosine assignment of both slices,
# each inserted vector's nearest established same-cell neighbor with
# (sim DESC, id ASC) tie-break — mirrored exactly.
ORACLE_SQL["ann_index_incremental"] = f"""
WITH {_NORM_CTE},
est AS (SELECT vec_id, nv FROM e WHERE vec_id % 3 <> 0),
newb AS (SELECT vec_id, nv FROM e WHERE vec_id % 3 = 0),
cent AS (
  SELECT vec_id AS cent_id, nv AS centroid
  FROM est ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
sa AS (
  SELECT vec_id, nv, cent_id AS cell FROM (
    SELECT est.vec_id, est.nv, cent.cent_id,
      row_number() OVER (PARTITION BY est.vec_id
        ORDER BY ROUND(list_dot_product(est.nv, cent.centroid), 6) DESC,
                 cent.cent_id) AS rn
    FROM est CROSS JOIN cent) WHERE rn = 1),
ia AS (
  SELECT vec_id, nv, cent_id AS cell, cdot AS cent_sim FROM (
    SELECT newb.vec_id, newb.nv, cent.cent_id,
      ROUND(list_dot_product(newb.nv, cent.centroid), 6) AS cdot,
      row_number() OVER (PARTITION BY newb.vec_id
        ORDER BY ROUND(list_dot_product(newb.nv, cent.centroid), 6) DESC,
                 cent.cent_id) AS rn
    FROM newb CROSS JOIN cent) WHERE rn = 1),
nn0 AS (
  SELECT i.vec_id AS vid, s.vec_id AS nn_id,
         ROUND(list_dot_product(i.nv, s.nv), 6) AS nn_sim
  FROM ia i JOIN sa s USING (cell)),
nn AS (
  SELECT vid, nn_id, nn_sim FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vid ORDER BY nn_sim DESC, nn_id) AS rn
    FROM nn0) WHERE rn = 1)
SELECT i.vec_id, CAST(i.cell AS BIGINT) AS cell, i.cent_sim,
       nn.nn_id, nn.nn_sim
FROM ia i LEFT JOIN nn ON nn.vid = i.vec_id
"""

# The bucketed scale twin rebuilds the identical rank from the bounded
# sim-histogram + tie windows — same output, one oracle
# (operators/similarity.prototypicality_prune_bucketed).
# Prototypicality pruning (operators/similarity.prototypicality_prune):
# composes the label_centroids oracle — per-label normalized prototype,
# exact cosine to the row's OWN label centroid, within-label rank with
# vec_id tie-break, integer cross-multiplied keep rule.
from .operators.similarity import (  # noqa: E402
    PROTO_PRUNE_DEN as _PP_DEN_,
    PROTO_PRUNE_NUM as _PP_NUM_,
)

ORACLE_SQL["prototypicality_prune"] = f"""
WITH cent0 AS ({ORACLE_SQL["label_centroids"]}),
cent AS (
  SELECT label, list(centroid ORDER BY pos) AS cv FROM cent0 GROUP BY label
),
cn AS (
  SELECT label,
         list_transform(cv, x -> x / sqrt(list_dot_product(cv, cv))) AS cnv
  FROM cent
),
{_NORM_CTE},
lbl AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
s AS (
  SELECT e.vec_id, lbl.label,
    ROUND(list_dot_product(e.nv, cn.cnv), 6) AS proto_sim
  FROM e JOIN lbl USING (vec_id) JOIN cn USING (label)
),
r AS (
  SELECT *,
    row_number() OVER (
      PARTITION BY label ORDER BY proto_sim DESC, vec_id) AS proto_rank,
    COUNT(*) OVER (PARTITION BY label) AS n_label
  FROM s
)
SELECT vec_id, label, proto_sim,
  CAST(proto_rank AS BIGINT) AS proto_rank,
  CAST(n_label AS BIGINT) AS n_label,
  proto_rank * {_PP_DEN_} > {_PP_NUM_} * n_label AS keep
FROM r
"""

# Perceptual-hash (aHash) near-dup pairs over binary payloads
# (operators/multimodal.multimodal_phash_pairs): payload bytes
# re-derived from hex (multimodal_audio_energy's convention), exact
# integer mean threshold (byte·m > Σ), 4×16-bit band blocking, exact
# Hamming verify — everything integer ⇒ exact oracle.
from .operators.multimodal import (  # noqa: E402
    PH_BAND_BITS as _PHBB_,
    PH_BANDS as _PHB_,
    PH_MAX_HAMMING as _PHH_,
    PH_N as _PHN_,
)

ORACLE_SQL["multimodal_phash_pairs"] = f"""
WITH d AS (
  SELECT doc_id, lower(hex(encode(text))) AS hx,
         least(octet_length(encode(text)), {_PHN_}) AS m
  FROM documents WHERE octet_length(encode(text)) > 0
),
b AS (
  SELECT doc_id, m,
    list_transform(range(CAST(m AS INT)),
      i -> ('0x' || substr(hx, i * 2 + 1, 2))::BIGINT) AS bts
  FROM d
),
s AS (SELECT doc_id, m, bts, list_aggregate(bts, 'sum') AS tot FROM b),
bits AS (
  SELECT doc_id,
    list_transform(range({_PHN_}), i ->
      CASE WHEN i < m AND bts[i + 1] * m > tot THEN 1 ELSE 0 END) AS bit
  FROM s
),
bands AS (
  SELECT doc_id, bit, k,
    list_aggregate(list_transform(range({_PHBB_}),
      j -> bit[k * {_PHBB_} + j + 1]
           * (2 ** ({_PHBB_} - 1 - j))::BIGINT), 'sum') AS bv
  FROM bits, unnest(range({_PHB_})) AS t(k)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, c.doc_id AS doc_id_b
  FROM bands a JOIN bands c
    ON a.k = c.k AND a.bv = c.bv AND a.doc_id < c.doc_id
)
SELECT doc_id_a, doc_id_b,
  CAST(list_aggregate(list_transform(range({_PHN_}),
    i -> abs(x.bit[i + 1] - y.bit[i + 1])), 'sum') AS BIGINT) AS hamming
FROM cand JOIN bits x ON x.doc_id = doc_id_a
          JOIN bits y ON y.doc_id = doc_id_b
WHERE list_aggregate(list_transform(range({_PHN_}),
    i -> abs(x.bit[i + 1] - y.bit[i + 1])), 'sum') <= {_PHH_}
"""

# Per-source dataset card (operators/textquality.dataset_card_report):
# composed from the gopher-rules keep flag and a corpus-wide 64-char
# prefix-hash dup key; exact integer counts, rounded divisions.
ORACLE_SQL["dataset_card_report"] = f"""
WITH base AS (
  SELECT doc_id, source, lang,
    CAST(len({TOKS}) AS BIGINT) AS n_tok,
    CAST(length(text) AS BIGINT) AS n_ch,
    md5(substr(text, 1, 64)) AS h
  FROM documents
),
per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
    CAST(SUM(n_ch) AS BIGINT) AS chars
  FROM base GROUP BY 1
),
dupg AS (SELECT h FROM base GROUP BY h HAVING COUNT(*) > 1),
dup AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS dup_docs
  FROM base SEMI JOIN dupg USING (h) GROUP BY 1
),
keep AS (
  SELECT d.source,
    CAST(SUM(CASE WHEN g.keep THEN 1 ELSE 0 END) AS BIGINT) AS keep_docs
  FROM ({ORACLE_SQL["gopher_quality_rules"]}) g
  JOIN documents d USING (doc_id) GROUP BY 1
)
SELECT source, n_docs, n_tokens, n_langs, dup_docs, keep_docs,
  ROUND(dup_docs / CAST(n_docs AS DOUBLE), 6) AS dup_rate,
  ROUND(keep_docs / CAST(n_docs AS DOUBLE), 6) AS keep_rate,
  ROUND(chars / CAST(n_docs AS DOUBLE), 6) AS mean_chars
FROM (SELECT p.*, COALESCE(d.dup_docs, 0) AS dup_docs
      FROM per_src p LEFT JOIN dup d USING (source))
JOIN keep USING (source)
"""


ORACLE_SQL["prototypicality_prune_bucketed"] = ORACLE_SQL["prototypicality_prune"]


# Hybrid lexical+dense retrieval via Reciprocal Rank Fusion
# (operators/retrieval.hybrid_rrf_topk): both lists' ranks are exact
# integers from already-oracled total orders; each 1/(c+rank) term is
# rounded 8 dp and DECIMAL-summed (<= 2 terms), missing-list ranks
# surface as 0 — full value-hash oracle.
from .operators.retrieval import (  # noqa: E402
    RRF_C as _RRF_C_,
    RRF_M as _RRF_M_,
)

_BM25_DF_PLAIN = "(SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1)"

ORACLE_SQL["hybrid_rrf_topk"] = f"""
WITH {_NORM_CTE},
lex AS (SELECT query_id, doc_id, rank
        FROM ({_bm25_oracle(_BM25_DF_PLAIN, k=_RRF_M_)})),
q AS (SELECT vec_id, nv FROM e WHERE vec_id % 50 = 0),
ds AS (
  SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
         ROUND(list_dot_product(q.nv, e.nv), 6) AS sim
  FROM q JOIN e ON e.vec_id <> q.vec_id
),
dense AS (
  SELECT query_id, doc_id, CAST(rn AS BIGINT) AS rank FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rn
    FROM ds)
  WHERE rn <= {_RRF_M_}
),
fused AS (
  SELECT COALESCE(l.query_id, d.query_id) AS query_id,
         COALESCE(l.doc_id, d.doc_id) AS doc_id,
         CAST(COALESCE(l.rank, 0) AS BIGINT) AS lex_rank,
         CAST(COALESCE(d.rank, 0) AS BIGINT) AS dense_rank,
         COALESCE(CAST(ROUND(1.0 / ({float(_RRF_C_)} + l.rank), 8)
                       AS DECIMAL(18,8)), CAST(0 AS DECIMAL(18,8)))
       + COALESCE(CAST(ROUND(1.0 / ({float(_RRF_C_)} + d.rank), 8)
                       AS DECIMAL(18,8)), CAST(0 AS DECIMAL(18,8))) AS s
  FROM lex l FULL OUTER JOIN dense d
    ON l.query_id = d.query_id AND l.doc_id = d.doc_id
),
rr AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY s DESC, doc_id) AS rn
  FROM fused
)
SELECT query_id, doc_id, lex_rank, dense_rank,
  CAST(s AS DOUBLE) AS rrf_score, CAST(rn AS BIGINT) AS rank
FROM rr WHERE rn <= 10
"""

# RM3 pseudo-relevance-feedback retrieval
# (operators/retrieval.rm3_expansion_topk): the feedback pass is the
# already-oracled bm25 top-k; the relevance model, interpolation
# weights, and second weighted BM25 pass mirror the Spark expressions
# term for term (tf/|d| at 8 dp, normalized weights at 8 dp rounded
# doubles, per-(q,d,t) contributions at 6 dp DECIMAL-summed).
from .operators.retrieval import (  # noqa: E402
    RM3_E as _RM3_E_,
    RM3_FB_M as _RM3_FB_M_,
    RM3_LAMBDA as _RM3_L_,
)

def _rm3_oracle(df_cte: str, capped: bool) -> str:
    """RM3 oracle builder shared by the plain and df-capped twins.
    ``capped`` mirrors the Spark side's ``df_cap=True`` semi-joins: the
    feedback pass runs over the capped probe, and the relevance model /
    original query model keep only capped-vocabulary terms (`JOIN dfp`
    — dfp is unique per term, so the inner join is a semi-join)."""
    vocab_cut = "JOIN dfp USING (term)" if capped else ""
    return f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
dfp AS {df_cte},
stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                 (SELECT COUNT(*) FROM tok) AS total_tokens),
fb AS (SELECT query_id, doc_id
       FROM ({_bm25_oracle(df_cte, k=_RM3_FB_M_)})),
rmc AS (
  SELECT fb.query_id, tf.term,
    CAST(ROUND(tf.tf / CAST(dl.dl AS DOUBLE), 8) AS DECIMAL(18,8)) AS c
  FROM tf {vocab_cut} JOIN dl USING (doc_id) JOIN fb ON fb.doc_id = tf.doc_id
),
rm AS (SELECT query_id, term, SUM(c) AS rm FROM rmc GROUP BY 1, 2),
orig AS (SELECT doc_id AS query_id, term, tf AS qtf FROM tf {vocab_cut}
         WHERE doc_id % {_BM_QM_} = 0),
rmx AS (SELECT rm.query_id, rm.term, rm.rm FROM rm
        ANTI JOIN orig ON orig.query_id = rm.query_id
                      AND orig.term = rm.term),
expn AS (
  SELECT query_id, term, rm FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY rm DESC, term) AS rn
    FROM rmx)
  WHERE rn <= {_RM3_E_}
),
tot AS (SELECT query_id, SUM(rm) AS tot FROM expn GROUP BY 1),
wexp AS (
  SELECT query_id, term,
    {1.0 - _RM3_L_} * ROUND(CAST(rm AS DOUBLE) / CAST(tot AS DOUBLE), 8) AS w
  FROM expn JOIN tot USING (query_id)
),
worig AS (
  SELECT o.query_id, o.term,
    {_RM3_L_} * ROUND(o.qtf / CAST(dl.dl AS DOUBLE), 8) AS w
  FROM orig o JOIN dl ON dl.doc_id = o.query_id
),
probe AS (SELECT * FROM worig UNION ALL SELECT * FROM wexp),
c2 AS (
  SELECT probe.query_id, tf.doc_id,
    CAST(ROUND(probe.w
      * ln(1.0 + (stats.n_docs - dfp.df + 0.5) / (dfp.df + 0.5))
      * ((tf.tf * {_BM_K1_ + 1.0}) /
         (tf.tf + {_BM_K1_} * ({1.0 - _BM_B_} + {_BM_B_} *
           (dl.dl / (CAST(stats.total_tokens AS DOUBLE) / stats.n_docs))))),
      6) AS DECIMAL(18,6)) AS c
  FROM tf
  JOIN probe USING (term)
  JOIN dfp USING (term)
  JOIN dl USING (doc_id), stats
  WHERE tf.doc_id <> probe.query_id
),
s2 AS (SELECT query_id, doc_id, SUM(c) AS s FROM c2 GROUP BY 1, 2),
r2 AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY s DESC, doc_id) AS rn
  FROM s2
)
SELECT query_id, doc_id, CAST(s AS DOUBLE) AS score,
  CAST(rn AS BIGINT) AS rank
FROM r2 WHERE rn <= {_BM_K_}
"""


ORACLE_SQL["rm3_expansion_topk"] = _rm3_oracle(_BM25_DF_PLAIN, capped=False)
ORACLE_SQL["rm3_dfcap_expansion_topk"] = _rm3_oracle(_BM25_DF_CAPPED, capped=True)

# WAND/MaxScore-pruned BM25 (operators/retrieval.bm25_wand_topk):
# upper-bound pruning is provably recall-lossless for the exact top-k
# (strict-inequality thresholding also survives the doc_id tie-break),
# so the pruned query SHARES the exact probe's oracle verbatim — the
# docs_contamination_bloom convention: every driver hash match is
# itself the proof the pruning dropped no result row.
ORACLE_SQL["bm25_wand_topk"] = ORACLE_SQL["bm25_topk"]

# Hybrid RRF deployment twin (operators/retrieval.hybrid_rrf_ivf_topk):
# identical fusion arithmetic to hybrid_rrf_topk with both constituent
# rankings swapped for their bounded deployment forms — df-capped BM25
# lexical, hash-seeded IVF-Flat dense. Both constituents are already
# independently value-hash-oracled, and fusion reads only their ranks.
ORACLE_SQL["hybrid_rrf_ivf_topk"] = f"""
WITH lex AS (SELECT query_id, doc_id, rank
        FROM ({_bm25_oracle(_BM25_DF_CAPPED, k=_RRF_M_)})),
dense AS (SELECT query_id, neighbor_id AS doc_id, rank
        FROM ({_ivf_flat_sql(4, k=_RRF_M_)})),
fused AS (
  SELECT COALESCE(l.query_id, d.query_id) AS query_id,
         COALESCE(l.doc_id, d.doc_id) AS doc_id,
         CAST(COALESCE(l.rank, 0) AS BIGINT) AS lex_rank,
         CAST(COALESCE(d.rank, 0) AS BIGINT) AS dense_rank,
         COALESCE(CAST(ROUND(1.0 / ({float(_RRF_C_)} + l.rank), 8)
                       AS DECIMAL(18,8)), CAST(0 AS DECIMAL(18,8)))
       + COALESCE(CAST(ROUND(1.0 / ({float(_RRF_C_)} + d.rank), 8)
                       AS DECIMAL(18,8)), CAST(0 AS DECIMAL(18,8))) AS s
  FROM lex l FULL OUTER JOIN dense d
    ON l.query_id = d.query_id AND l.doc_id = d.doc_id
),
rr AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY s DESC, doc_id) AS rn
  FROM fused
)
SELECT query_id, doc_id, lex_rank, dense_rank,
  CAST(s AS DOUBLE) AS rrf_score, CAST(rn AS BIGINT) AS rank
FROM rr WHERE rn <= 10
"""

# Stream-stream interval join (streaming/pipeline.view_purchase_streamed):
# the drained availableNow result equals the batch interval join
# row-for-row (watermark sentinels advance both sides past every real
# event; inner interval joins emit eagerly in append mode), so the
# oracle is the batch join itself — all-exact columns, purchase_value
# is a pass-through.
ORACLE_SQL["view_purchase_streamed"] = """
SELECT v.user_id,
       v.event_id AS view_id,
       p.event_id AS purchase_id,
       v.ts AS view_ts,
       p.ts AS purchase_ts,
       p.value AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'view') v
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON p.user_id = v.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
"""

# Streamed hourly aggregate (streaming/pipeline.events_hourly_streamed):
# tumbling windows + the exact-decimal value sum are deterministic and
# the sentinel finalizes every real window, so the drain SHARES the
# batch events_hourly oracle verbatim.
ORACLE_SQL["events_hourly_streamed"] = ORACLE_SQL["events_hourly"]

# Left-outer interval join, unmatched side
# (streaming/pipeline.views_without_purchase_streamed): outer rows are
# emitted at state eviction, and the sentinel-advanced watermark evicts
# every real view during the drain, so the streamed unmatched set
# equals the batch NOT EXISTS anti-join — all-exact columns.
ORACLE_SQL["views_without_purchase_streamed"] = """
SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts
FROM events v
WHERE v.event_type = 'view'
  AND NOT EXISTS (
    SELECT 1 FROM events p
    WHERE p.event_type = 'purchase'
      AND p.user_id = v.user_id
      AND p.ts >= v.ts
      AND p.ts <= v.ts + INTERVAL 1 HOUR)
"""

# Embedding-space drift monitor
# (operators/similarity.embedding_drift_report): integer vec_id
# midpoint split; every reduction is rounded-then-DECIMAL-summed and
# every mean a single double division, mirrored expression for
# expression from the Spark side (the isotropy-report conventions).
ORACLE_SQL["embedding_drift_report"] = """
WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bounds AS (SELECT MIN(vec_id) + (MAX(vec_id) - MIN(vec_id)) // 2 AS mid FROM e0),
t AS (SELECT vec_id <= bounds.mid AS is_ref, v,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
      FROM e0, bounds),
splits AS (
  SELECT is_ref, CAST(COUNT(*) AS BIGINT) AS n,
    SUM(CAST(ROUND(sqrt(list_dot_product(v, v)), 8) AS DECIMAL(18,8)))
      AS norm_sum
  FROM t GROUP BY 1),
x AS (SELECT is_ref, unnest(nv) AS val, generate_subscripts(nv, 1) AS pos
      FROM t),
per_dim AS (
  SELECT is_ref, pos,
    SUM(CAST(ROUND(val, 8) AS DECIMAL(18,8))) AS s,
    SUM(CAST(ROUND(val * val, 10) AS DECIMAL(18,10))) AS ss
  FROM x GROUP BY 1, 2),
st AS (
  SELECT is_ref, pos, CAST(s AS DOUBLE) / n AS m,
    CAST(ROUND(CAST(ss AS DOUBLE) / n
               - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 8)
         AS DECIMAL(18,8)) AS var
  FROM per_dim JOIN splits USING (is_ref)),
j AS (
  SELECT r.pos, r.m AS mr, c.m AS mc, r.var AS var_r, c.var AS var_c
  FROM (SELECT * FROM st WHERE is_ref) r
  JOIN (SELECT * FROM st WHERE NOT is_ref) c USING (pos)),
geom AS (
  SELECT SUM(CAST(ROUND(mr * mc, 12) AS DECIMAL(24,12))) AS dotp,
         SUM(CAST(ROUND(mr * mr, 12) AS DECIMAL(24,12))) AS nr2,
         SUM(CAST(ROUND(mc * mc, 12) AS DECIMAL(24,12))) AS nc2,
         SUM(CAST(ROUND((mc - mr) * (mc - mr), 12) AS DECIMAL(24,12))) AS sh2,
         MAX(ROUND(ABS(mc - mr), 8)) AS max_dim_mean_shift,
         ROUND(CAST(SUM(var_r) AS DOUBLE) / COUNT(*), 8) AS dim_var_mean_ref,
         ROUND(CAST(SUM(var_c) AS DOUBLE) / COUNT(*), 8) AS dim_var_mean_cur
  FROM j)
SELECT r.n AS n_ref, c.n AS n_cur,
  ROUND(CAST(r.norm_sum AS DOUBLE) / r.n, 6) AS avg_norm_ref,
  ROUND(CAST(c.norm_sum AS DOUBLE) / c.n, 6) AS avg_norm_cur,
  CASE WHEN nr2 <> 0 AND nc2 <> 0 THEN
    ROUND(CAST(dotp AS DOUBLE)
          / (sqrt(CAST(nr2 AS DOUBLE)) * sqrt(CAST(nc2 AS DOUBLE))), 6)
  END AS centroid_cos,
  ROUND(sqrt(CAST(sh2 AS DOUBLE)), 6) AS centroid_shift,
  max_dim_mean_shift, dim_var_mean_ref, dim_var_mean_cur,
  CASE WHEN dim_var_mean_ref <> 0
       THEN ROUND(dim_var_mean_cur / dim_var_mean_ref, 6)
  END AS var_ratio
FROM geom,
  (SELECT * FROM splits WHERE is_ref) r,
  (SELECT * FROM splits WHERE NOT is_ref) c
"""


# Distribution-drift monitor (plans/analytics.events_drift_report):
# integer-microsecond midpoint split, reference-frozen 10-bin PSI with
# +0.5 Laplace smoothing (terms rounded 10 dp, DECIMAL-summed), exact
# two-sample KS over the (type, value) distinct-value ECDFs (distances
# rounded 8 dp before MAX), 6-dp DECIMAL means.
from .plans.analytics import DRIFT_BINS as _DB_  # noqa: E402

ORACLE_SQL["events_drift_report"] = f"""
WITH ev AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
mid AS (SELECT MIN(us) + (MAX(us) - MIN(us)) // 2 AS mid FROM ev),
tagged AS (SELECT event_type, value, us <= mid.mid AS is_ref FROM ev, mid),
edges AS (SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
          FROM tagged WHERE is_ref GROUP BY 1),
per_type AS (
  SELECT event_type,
    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
    CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur,
    SUM(CASE WHEN is_ref
        THEN CAST(ROUND(value, 6) AS DECIMAL(18,6)) END) AS sum_ref,
    SUM(CASE WHEN NOT is_ref
        THEN CAST(ROUND(value, 6) AS DECIMAL(18,6)) END) AS sum_cur
  FROM tagged GROUP BY 1
),
binned AS (
  SELECT t.event_type, t.is_ref,
    CASE WHEN e.vmax = e.vmin THEN 0
         ELSE CAST(LEAST({float(_DB_ - 1)}, GREATEST(0.0,
           FLOOR((t.value - e.vmin) / ((e.vmax - e.vmin) / {float(_DB_)}))))
           AS INT)
    END AS bin
  FROM tagged t JOIN edges e USING (event_type)
),
grid AS (SELECT event_type, unnest(range(0, {_DB_})) AS bin FROM edges),
bc AS (
  SELECT event_type, bin,
    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS ref_c,
    SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS cur_c
  FROM binned GROUP BY 1, 2
),
fullb AS (
  SELECT g.event_type, COALESCE(ref_c, 0) AS ref_c,
         COALESCE(cur_c, 0) AS cur_c
  FROM grid g LEFT JOIN bc USING (event_type, bin)
),
psi AS (
  SELECT f.event_type,
    SUM(CAST(ROUND(
      ((f.ref_c + 0.5) / (p.n_ref + {0.5 * _DB_})
       - (f.cur_c + 0.5) / (p.n_cur + {0.5 * _DB_}))
      * ln(((f.ref_c + 0.5) / (p.n_ref + {0.5 * _DB_}))
           / ((f.cur_c + 0.5) / (p.n_cur + {0.5 * _DB_}))),
      10) AS DECIMAL(18,10))) AS s
  FROM fullb f JOIN per_type p USING (event_type) GROUP BY 1
),
vcounts AS (
  SELECT event_type, value,
    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS ref_c,
    SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS cur_c
  FROM tagged GROUP BY 1, 2
),
cum AS (
  SELECT event_type, value,
    SUM(ref_c) OVER (PARTITION BY event_type ORDER BY value) AS cr,
    SUM(cur_c) OVER (PARTITION BY event_type ORDER BY value) AS cc
  FROM vcounts
),
ks AS (
  SELECT c.event_type,
    MAX(ROUND(ABS(c.cr / p.n_ref - c.cc / p.n_cur), 8)) AS ks_d
  FROM cum c JOIN per_type p USING (event_type) GROUP BY 1
)
SELECT p.event_type, p.n_ref, p.n_cur,
  ROUND(CAST(p.sum_ref AS DOUBLE) / p.n_ref, 6) AS mean_ref,
  ROUND(CAST(p.sum_cur AS DOUBLE) / p.n_cur, 6) AS mean_cur,
  ROUND(CAST(psi.s AS DOUBLE), 6) AS psi,
  ks.ks_d AS ks_d
FROM per_type p JOIN psi USING (event_type) JOIN ks USING (event_type)
WHERE p.n_ref > 0 AND p.n_cur > 0
"""

# Embedding-geometry diagnostics
# (operators/similarity.embedding_isotropy_report): the pairwise-mean
# collapses through the sum-vector identity, so the oracle is the same
# two linear passes — per-row roundings (norm 8 dp, components 8 dp,
# squares 10 dp) DECIMAL-summed, d-row reductions rounded-then-summed.
ORACLE_SQL["embedding_isotropy_report"] = f"""
WITH {_NORM_CTE},
norms AS (
  SELECT COUNT(*) AS n,
    SUM(CAST(ROUND(sqrt(list_dot_product(v, v)), 8) AS DECIMAL(18,8)))
      AS norm_sum
  FROM e0
),
x AS (SELECT unnest(nv) AS val, generate_subscripts(nv, 1) AS pos FROM e),
per_dim AS (
  SELECT pos,
    SUM(CAST(ROUND(val, 8) AS DECIMAL(18,8))) AS s,
    SUM(CAST(ROUND(val * val, 10) AS DECIMAL(18,10))) AS ss
  FROM x GROUP BY 1
),
d AS (
  SELECT n, norm_sum,
    CAST(ROUND((CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 12)
         AS DECIMAL(20,12)) AS m2,
    CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE), 6)
         AS DECIMAL(28,6)) AS s2,
    ROUND(CAST(ss AS DOUBLE) / n
          - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 8) AS var
  FROM per_dim, norms
)
SELECT CAST(MAX(n) AS BIGINT) AS n_vectors,
  CAST(COUNT(*) AS BIGINT) AS n_dims,
  ROUND(MAX(CAST(norm_sum AS DOUBLE)) / MAX(n), 6) AS avg_norm,
  ROUND(sqrt(CAST(SUM(m2) AS DOUBLE)), 6) AS centroid_norm,
  ROUND((CAST(SUM(s2) AS DOUBLE) - MAX(n)) / (MAX(n) * (MAX(n) - 1)), 6)
    AS avg_pairwise_cosine,
  MIN(var) AS dim_var_min,
  MAX(var) AS dim_var_max,
  ROUND(CAST(SUM(CAST(var AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 8)
    AS dim_var_mean
FROM d
"""


# IVF index-balance dashboard
# (operators/similarity.ann_index_balance_report): the same centroid
# draw + argmax assignment CTEs as the IVF oracle, reduced to integer
# cell sizes and two exact ratios. n_cells / the imbalance formula use
# the ACTUAL drawn centroid count (ADVICE r8: the LIMIT-bounded draw
# yields < 16 cells on a corpus smaller than C) — identical output to
# the literal-16 form whenever the corpus has >= 16 vectors.
ORACLE_SQL["ann_index_balance_report"] = f"""
WITH {_NORM_CTE},
cent AS (
  SELECT vec_id AS cent_id, nv AS centroid
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
),
cc AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM cent),
assign0 AS (
  SELECT e.vec_id, cent.cent_id,
         ROUND(list_dot_product(e.nv, cent.centroid), 6) AS cdot
  FROM e CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY cdot DESC, cent_id) AS rn
    FROM assign0
  ) WHERE rn = 1
),
sizes AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS sz
          FROM assigned GROUP BY 1)
SELECT CAST(SUM(sz) AS BIGINT) AS n_vectors,
  cc.c AS n_cells,
  CAST(COUNT(*) AS BIGINT) AS n_nonempty_cells,
  MIN(sz) AS min_cell,
  MAX(sz) AS max_cell,
  ROUND(CAST(MAX(sz) AS DOUBLE) / CAST(SUM(sz) AS DOUBLE), 6)
    AS top_cell_share,
  ROUND(cc.c * CAST(SUM(sz * sz) AS DOUBLE)
        / (CAST(SUM(sz) AS DOUBLE) * CAST(SUM(sz) AS DOUBLE)), 6)
    AS imbalance_factor,
  ROUND(cc.c * CAST(SUM(sz * sz) AS DOUBLE)
        / (CAST(SUM(sz) AS DOUBLE) * CAST(SUM(sz) AS DOUBLE)), 6) > 1.5
    AS needs_retrain
FROM sizes, cc
GROUP BY cc.c
"""


# Streamed drift monitor (streaming/pipeline.events_drift_streamed):
# the availableNow drain converges to the batch computation (the
# sentinel closes every real daily window), so the oracle scores the
# current half's daily histograms directly against the reference-half
# distribution with the batch drift operator's exact arithmetic.
_DRIFT_BIN_SQL = (
    "CASE WHEN e.vmax = e.vmin THEN 0 ELSE CAST(LEAST({m}, GREATEST(0.0,"
    " FLOOR(({v} - e.vmin) / ((e.vmax - e.vmin) / {b})))) AS INT) END"
)

ORACLE_SQL["events_drift_streamed"] = f"""
WITH ev AS (SELECT event_type, value, ts, epoch_us(ts) AS us FROM events),
mid AS (SELECT MIN(us) + (MAX(us) - MIN(us)) // 2 AS mid FROM ev),
ref AS (SELECT event_type, value FROM ev, mid WHERE us <= mid.mid),
edges AS (SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
          FROM ref GROUP BY 1),
refb AS (
  SELECT r.event_type,
    {_DRIFT_BIN_SQL.format(m=float(_DB_ - 1), v="r.value", b=float(_DB_))} AS bin
  FROM ref r JOIN edges e USING (event_type)
),
refc AS (SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS ref_c
         FROM refb GROUP BY 1, 2),
refn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_ref
         FROM refb GROUP BY 1),
ref_grid AS (
  SELECT rn.event_type, g.bin, COALESCE(rc.ref_c, 0) AS ref_c
  FROM refn rn
  CROSS JOIN (SELECT unnest(range(0, {_DB_})) AS bin) g
  LEFT JOIN refc rc ON rc.event_type = rn.event_type AND rc.bin = g.bin
),
curb AS (
  SELECT date_trunc('day', c.ts) AS window_start, c.event_type,
    {_DRIFT_BIN_SQL.format(m=float(_DB_ - 1), v="c.value", b=float(_DB_))} AS bin
  FROM (SELECT event_type, value, ts FROM ev, mid WHERE us > mid.mid) c
  JOIN edges e USING (event_type)
),
curc AS (SELECT window_start, event_type, bin, CAST(COUNT(*) AS BIGINT) AS cnt
         FROM curb GROUP BY 1, 2, 3),
cur_grid AS (
  SELECT w.window_start, w.event_type, g.bin, COALESCE(cc.cnt, 0) AS cur_c
  FROM (SELECT DISTINCT window_start, event_type FROM curc) w
  CROSS JOIN (SELECT unnest(range(0, {_DB_})) AS bin) g
  LEFT JOIN curc cc ON cc.window_start = w.window_start
                   AND cc.event_type = w.event_type AND cc.bin = g.bin
),
curn AS (SELECT window_start, event_type, CAST(SUM(cnt) AS BIGINT) AS n_cur
         FROM curc GROUP BY 1, 2)
SELECT cg.window_start, cg.event_type, curn.n_cur,
  ROUND(CAST(SUM(CAST(ROUND(
    ((rg.ref_c + 0.5) / (rn.n_ref + {0.5 * _DB_})
     - (cg.cur_c + 0.5) / (curn.n_cur + {0.5 * _DB_}))
    * ln(((rg.ref_c + 0.5) / (rn.n_ref + {0.5 * _DB_}))
         / ((cg.cur_c + 0.5) / (curn.n_cur + {0.5 * _DB_}))),
    10) AS DECIMAL(18,10))) AS DOUBLE), 6) AS psi
FROM cur_grid cg
JOIN ref_grid rg ON rg.event_type = cg.event_type AND rg.bin = cg.bin
JOIN refn rn ON rn.event_type = cg.event_type
JOIN curn ON curn.window_start = cg.window_start
         AND curn.event_type = cg.event_type
GROUP BY 1, 2, 3
"""


# Ranked-retrieval quality dashboard, widened to the SIX retrievers
# (r7): the four bm25-cascade forms plus hybrid RRF fusion and RM3
# expansion — each method subquery is the retriever's own full oracle,
# scored with the shared gain/IDCG machinery defined alongside the
# original four-method version above.
ORACLE_SQL["retrieval_quality_report"] = f"""
WITH truth AS (
  SELECT query_id, neighbor_id AS doc_id FROM ({ORACLE_SQL["ann_topk"]})),
idcg AS (
  SELECT query_id, n_rel,
    list_sum(list_transform(range(1, n_rel + 1),
      i -> CAST(ROUND(1.0 / log2(i + 1.0), 8) AS DECIMAL(18,8)))) AS idcg
  FROM (SELECT query_id, COUNT(*) AS n_rel FROM truth GROUP BY 1)),
{_rq_method_ctes("bm25", _bm25_oracle(_BM25_UNCAPPED))},
{_rq_method_ctes("bm25_dfcap", _bm25_oracle(_BM25_DF_CAPPED))},
{_rq_method_ctes("bm25_rerank", _bm25_rerank_oracle(_BM25_UNCAPPED))},
{_rq_method_ctes("bm25_rerank_dfcap", _bm25_rerank_oracle(_BM25_DF_CAPPED))},
{_rq_method_ctes("hybrid_rrf", ORACLE_SQL["hybrid_rrf_topk"])},
{_rq_method_ctes("rm3", ORACLE_SQL["rm3_expansion_topk"])}
SELECT * FROM row_bm25
UNION ALL SELECT * FROM row_bm25_dfcap
UNION ALL SELECT * FROM row_bm25_rerank
UNION ALL SELECT * FROM row_bm25_rerank_dfcap
UNION ALL SELECT * FROM row_hybrid_rrf
UNION ALL SELECT * FROM row_rm3
"""


# Streaming session windows (streaming/pipeline.sessions_streamed):
# the sentinel-closed availableNow drain emits exactly the batch
# gap-sessionization, so the batch oracle carries over verbatim.
ORACLE_SQL["events_sessions_streamed"] = ORACLE_SQL["session_window_agg"]

# Custom stateful operator (streaming/pipeline.user_totals_streamed):
# the applyInPandasWithState running totals accumulate exact integer
# cents, so the final update per user equals the batch aggregate —
# one division by 100 at emission, mirrored here.
ORACLE_SQL["user_totals_streamed"] = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS total_events,
  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100
    AS total_value
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Round 9 additions
# ---------------------------------------------------------------------------

# Fixed-workload BM25 (operators/retrieval.bm25_workload_topk):
# bm25_topk's probe with the query side restricted to the 20 smallest
# query-slice doc ids — the deployment workload whose size does not
# grow with the corpus (VERDICT r8 item 3).
from .operators.retrieval import WORKLOAD_Q as _WL_Q_  # noqa: E402

ORACLE_SQL["bm25_workload_topk"] = _bm25_oracle(
    "(SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1)",
    workload=_WL_Q_,
)

# Chunk-level BM25 with max-passage document scoring
# (operators/retrieval.bm25_chunk_maxp_topk): chunking mirrored via
# list_slice over the same whitespace tokens (chunk tokens ARE the
# sliced elements — tokens are whitespace-free and lowercase, so
# Spark's re-tokenize of the joined chunk text is the identity);
# chunk-level tf/df/length/avgdl feed the shared Okapi arithmetic,
# MaxP = (score DESC, chunk_idx) argmax per (query, doc).
from .operators.textquality import (  # noqa: E402
    CHUNK_OVERLAP as _CHK_OV_,
    CHUNK_TOKENS as _CHK_T_,
)

_CHK_STRIDE_ = _CHK_T_ - _CHK_OV_

ORACLE_SQL["bm25_chunk_maxp_topk"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
base AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
chunks AS (
  SELECT doc_id, CAST(i / {_CHK_STRIDE_} AS BIGINT) AS chunk_idx,
         list_slice(t, i + 1, i + {_CHK_T_}) AS ct
  FROM base, LATERAL unnest(range(0, n, {_CHK_STRIDE_})) AS u(i)
),
ctok AS (SELECT doc_id, chunk_idx, unnest(ct) AS term FROM chunks),
tf AS (SELECT doc_id, chunk_idx, term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM ctok GROUP BY 1, 2, 3),
dl AS (SELECT doc_id, chunk_idx, CAST(SUM(tf) AS BIGINT) AS dl
       FROM tf GROUP BY 1, 2),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
stats AS (SELECT (SELECT COUNT(*) FROM chunks) AS n_docs,
                 (SELECT COUNT(*) FROM ctok) AS total_tokens),
qt AS (SELECT DISTINCT doc_id AS query_id, term FROM tf
       WHERE doc_id % {_BM_QM_} = 0),
contrib AS (
  SELECT qt.query_id, tf.doc_id, tf.chunk_idx,
    CAST(ROUND(
      ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
      * ((tf.tf * {_BM_K1_ + 1.0}) /
         (tf.tf + {_BM_K1_} * ({1.0 - _BM_B_} + {_BM_B_} *
           (dl.dl / (CAST(stats.total_tokens AS DOUBLE) / stats.n_docs))))),
      6) AS DECIMAL(18,6)) AS c
  FROM tf
  JOIN df USING (term)
  JOIN dl USING (doc_id, chunk_idx)
  JOIN qt USING (term), stats
  WHERE tf.doc_id <> qt.query_id
),
cs AS (SELECT query_id, doc_id, chunk_idx, SUM(c) AS s
       FROM contrib GROUP BY 1, 2, 3),
best AS (
  SELECT query_id, doc_id, chunk_idx AS best_chunk_idx, s FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id, doc_id ORDER BY s DESC, chunk_idx) AS rn
    FROM cs
  ) WHERE rn = 1
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY s DESC, doc_id) AS rn
  FROM best
)
SELECT query_id, doc_id, CAST(best_chunk_idx AS BIGINT) AS best_chunk_idx,
  CAST(s AS DOUBLE) AS score, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= {_BM_K_}
"""


# IVF index retrain (operators/similarity.ann_index_retrain): the
# action paired with ann_index_balance_report — stale (established-
# slice-drawn, the ann_index_incremental fixed-centroid index) vs
# retrained (full-corpus-drawn) centroids, each with the balance
# metrics over the WHOLE current corpus and recall@k of the probed
# IVF top-k vs the exact brute truth. Same centroid-draw / argmax /
# probe / rerank CTEs as the IVF oracle, twice with different draw
# sources.
def _retrain_state_ctes(tag: str, cent_where: str) -> str:
    return f"""
cent_{tag} AS (
  SELECT vec_id AS cent_id, nv AS centroid
  FROM e {cent_where}
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
),
cc_{tag} AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM cent_{tag}),
a0_{tag} AS (
  SELECT e.vec_id AS neighbor_id, e.nv AS cv, cent_{tag}.cent_id,
         ROUND(list_dot_product(e.nv, cent_{tag}.centroid), 6) AS cdot
  FROM e CROSS JOIN cent_{tag}
),
asg_{tag} AS (
  SELECT neighbor_id, cv, cent_id AS cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY neighbor_id ORDER BY cdot DESC, cent_id) AS rn
    FROM a0_{tag}
  ) WHERE rn = 1
),
sizes_{tag} AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS sz
                FROM asg_{tag} GROUP BY 1),
bal_{tag} AS (
  SELECT CAST(SUM(sz) AS BIGINT) AS n_vectors,
    (SELECT c FROM cc_{tag}) AS n_cells,
    CAST(COUNT(*) AS BIGINT) AS n_nonempty_cells,
    MIN(sz) AS min_cell,
    MAX(sz) AS max_cell,
    ROUND(CAST(MAX(sz) AS DOUBLE) / CAST(SUM(sz) AS DOUBLE), 6)
      AS top_cell_share,
    ROUND((SELECT c FROM cc_{tag}) * CAST(SUM(sz * sz) AS DOUBLE)
          / (CAST(SUM(sz) AS DOUBLE) * CAST(SUM(sz) AS DOUBLE)), 6)
      AS imbalance_factor
  FROM sizes_{tag}
),
q0_{tag} AS (
  SELECT q.vec_id AS query_id, q.nv AS qv, cent_{tag}.cent_id,
         ROUND(list_dot_product(q.nv, cent_{tag}.centroid), 6) AS qdot
  FROM e q CROSS JOIN cent_{tag} WHERE q.vec_id % 50 = 0
),
probed_{tag} AS (
  SELECT query_id, qv, cent_id AS cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY qdot DESC, cent_id) AS rn
    FROM q0_{tag}
  ) WHERE rn <= 4
),
s_{tag} AS (
  SELECT p.query_id, a.neighbor_id,
         ROUND(list_dot_product(p.qv, a.cv), 6) AS sim
  FROM asg_{tag} a JOIN probed_{tag} p USING (cell)
  WHERE a.neighbor_id <> p.query_id
),
topk_{tag} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
    FROM s_{tag}
  ) WHERE rn <= 10
),
hit_{tag} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
              FROM topk_{tag} JOIN brute USING (query_id, neighbor_id))
"""


def _retrain_state_row(state: str, tag: str) -> str:
    return f"""
SELECT '{state}' AS index_state,
  bal_{tag}.n_vectors, bal_{tag}.n_cells, bal_{tag}.n_nonempty_cells,
  bal_{tag}.min_cell, bal_{tag}.max_cell, bal_{tag}.top_cell_share,
  bal_{tag}.imbalance_factor, hit_{tag}.n_hit, tot.n_total,
  CASE WHEN tot.n_total > 0
       THEN ROUND(hit_{tag}.n_hit / CAST(tot.n_total AS DOUBLE), 6)
  END AS recall
FROM bal_{tag}, hit_{tag}, tot"""


ORACLE_SQL["ann_index_retrain"] = f"""
WITH {_NORM_CTE},
brute AS (SELECT query_id, neighbor_id FROM ({ORACLE_SQL["ann_topk"]})),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM brute),
{_retrain_state_ctes("st", "WHERE vec_id % 3 <> 0")},
{_retrain_state_ctes("rt", "")}
{_retrain_state_row("stale", "st")}
UNION ALL
{_retrain_state_row("retrained", "rt")}
"""


# Fixed-workload IVF-Flat ANN (operators/similarity.
# ivf_flat_workload_topk): the dense-side sibling of
# bm25_workload_topk — the IVF oracle template with the query side
# pinned to the 20 smallest query-slice vec_ids.
from .operators.similarity import ANN_WORKLOAD_Q as _ANN_WL_Q_  # noqa: E402

ORACLE_SQL["ivf_flat_workload_topk"] = _ivf_flat_sql(4, workload=_ANN_WL_Q_)


# Lexical index-health dashboard (operators/retrieval.
# bm25_index_stats_report): postings from the same whitespace tokens;
# df_median = the exact ceil(V/2)-th-smallest df (the df-cap's theta
# rank rule); capped_postings_share = fraction of posting rows in
# terms above that median — all integers + three rounded ratios.
ORACLE_SQL["bm25_index_stats_report"] = f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok GROUP BY 1, 2),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
vc AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size FROM df),
th AS (
  SELECT CAST(MAX(df) AS BIGINT) AS df_median FROM (
    SELECT df, row_number() OVER (ORDER BY df, term) AS rn,
           (SELECT vocab_size FROM vc) AS v
    FROM df)
  WHERE rn * 2 <= v + 1),
dfa AS (SELECT CAST(MAX(df) AS BIGINT) AS df_max FROM df),
post AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_postings,
         CAST(SUM(CASE WHEN df.df > th.df_median THEN 1 ELSE 0 END)
              AS BIGINT) AS capped_postings
  FROM tf JOIN df USING (term), th),
stats AS (SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
                 CAST((SELECT COUNT(*) FROM tok) AS BIGINT) AS total_tokens)
SELECT stats.n_docs, vc.vocab_size, post.n_postings, stats.total_tokens,
  CASE WHEN stats.n_docs > 0
       THEN ROUND(stats.total_tokens / CAST(stats.n_docs AS DOUBLE), 6)
  END AS avgdl,
  th.df_median, dfa.df_max,
  CASE WHEN stats.n_docs > 0
       THEN ROUND(dfa.df_max / CAST(stats.n_docs AS DOUBLE), 6)
  END AS top_term_share,
  CASE WHEN post.n_postings > 0
       THEN ROUND(post.capped_postings / CAST(post.n_postings AS DOUBLE), 6)
  END AS capped_postings_share
FROM stats, vc, th, dfa, post
"""

# Query-likelihood retrieval with Dirichlet smoothing (operators/
# retrieval.lm_dirichlet_topk): the rank-equivalent decomposition —
# matched-term contributions qtf·ln(1 + tf/(μ·cf/T)) plus the
# per-(query, doc) length normalizer |q|·ln(μ/(|d|+μ)) — written in
# the SAME IEEE association order as the Spark expressions, rounded
# 6 dp per row and DECIMAL-summed, so scores and the
# (score DESC, doc_id) ranking value-hash match.
from .operators.retrieval import LM_MU as _LM_MU_  # noqa: E402

ORACLE_SQL["lm_dirichlet_topk"] = f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
cf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
stats AS (SELECT (SELECT COUNT(*) FROM tok) AS total_tokens),
qt AS (SELECT doc_id AS query_id, term, tf AS qtf FROM tf
       WHERE doc_id % {_BM_QM_} = 0),
qlen AS (SELECT doc_id AS query_id, dl AS qlen FROM dl
         WHERE doc_id % {_BM_QM_} = 0),
contrib AS (
  SELECT qt.query_id, tf.doc_id,
    CAST(ROUND(qt.qtf * ln(1.0 + tf.tf /
      ({_LM_MU_} * (cf.cf / CAST(stats.total_tokens AS DOUBLE)))), 6)
      AS DECIMAL(18,6)) AS c
  FROM tf JOIN qt USING (term) JOIN cf USING (term), stats
  WHERE tf.doc_id <> qt.query_id
),
pairs AS (SELECT query_id, doc_id, SUM(c) AS ts FROM contrib GROUP BY 1, 2),
scored AS (
  SELECT p.query_id, p.doc_id,
    p.ts + CAST(ROUND(q.qlen * ln({_LM_MU_} / (dl.dl + {_LM_MU_})), 6)
                AS DECIMAL(18,6)) AS s
  FROM pairs p JOIN dl ON dl.doc_id = p.doc_id JOIN qlen q USING (query_id)
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY s DESC, doc_id) AS rn
  FROM scored
)
SELECT query_id, doc_id, CAST(s AS DOUBLE) AS score,
  CAST(rn AS BIGINT) AS rank FROM ranked WHERE rn <= {_BM_K_}
"""

# TF-IDF more-like-this (operators/retrieval.tfidf_doc_similarity_topk):
# ltc weights rounded 6 dp, sparse dot and squared norms DECIMAL-summed
# over rounded per-term products, cosine = exact dot / (double norm
# product) rounded 6 dp; zero-vector docs excluded both sides by the
# identical nrm > 0 guard.
ORACLE_SQL["tfidf_doc_similarity_topk"] = f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok GROUP BY 1, 2),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs),
w AS (
  SELECT tf.doc_id, tf.term,
    ROUND((1.0 + ln(tf.tf)) * ln(stats.n_docs / CAST(df.df AS DOUBLE)), 6)
      AS w
  FROM tf JOIN df USING (term), stats
),
norm AS (
  SELECT doc_id,
    sqrt(CAST(SUM(CAST(ROUND(w * w, 6) AS DECIMAL(18,6))) AS DOUBLE)) AS nrm
  FROM w GROUP BY 1
),
normk AS (SELECT doc_id, nrm FROM norm WHERE nrm > 0),
qw AS (SELECT doc_id AS query_id, term, w AS qw FROM w
       WHERE doc_id % {_BM_QM_} = 0),
qnorm AS (SELECT doc_id AS query_id, nrm AS qnrm FROM normk
          WHERE doc_id % {_BM_QM_} = 0),
dots AS (
  SELECT qw.query_id, w.doc_id,
    SUM(CAST(ROUND(qw.qw * w.w, 6) AS DECIMAL(18,6))) AS dot
  FROM w JOIN qw USING (term)
  WHERE w.doc_id <> qw.query_id GROUP BY 1, 2
),
scored AS (
  SELECT d.query_id, d.doc_id,
    ROUND(CAST(d.dot AS DOUBLE) / (q.qnrm * n.nrm), 6) AS s
  FROM dots d JOIN normk n ON n.doc_id = d.doc_id
  JOIN qnorm q USING (query_id)
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY s DESC, doc_id) AS rn
  FROM scored
)
SELECT query_id, doc_id, CAST(s AS DOUBLE) AS score,
  CAST(rn AS BIGINT) AS rank FROM ranked WHERE rn <= {_BM_K_}
"""

# Metadata-filtered vector search (operators/similarity.
# ann_filtered_topk exact + ann_filtered_ivf_topk shared-index IVF):
# the predicate filters the corpus side only (queries are the standard
# slice); the IVF twin draws centroids and assigns cells over the FULL
# corpus (identical to ivf_flat_ann_topk's md5-seeded template) and
# intersects the probed inverted lists with the filter id set before
# scoring — both mirrored exactly.
from .operators.similarity import (  # noqa: E402
    ANN_FILTER_PRED as _ANN_FP_,
    TRUNC_DIM as _TS_DIM_,
    TWOSTAGE_M as _TS_M_,
)

ORACLE_SQL["ann_filtered_topk"] = f"""
WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
            FROM embeddings),
e AS (SELECT vec_id,
        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv,
        label
      FROM e0),
q AS (SELECT vec_id, nv FROM e WHERE vec_id % 50 = 0),
c AS (SELECT vec_id, nv FROM e WHERE {_ANN_FP_}),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.nv, c.nv), 6) AS sim
  FROM q JOIN c ON c.vec_id <> q.vec_id
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
  FROM s
)
SELECT query_id, neighbor_id, sim, CAST(rn AS BIGINT) AS rank
FROM r WHERE rn <= 10
"""

ORACLE_SQL["ann_filtered_ivf_topk"] = f"""
WITH {_NORM_CTE},
lab AS (SELECT vec_id FROM embeddings WHERE {_ANN_FP_}),
cent AS (
  SELECT vec_id AS cent_id, nv AS centroid
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
),
assign0 AS (
  SELECT e.vec_id AS neighbor_id, e.nv AS cv, cent.cent_id,
         ROUND(list_dot_product(e.nv, cent.centroid), 6) AS cdot
  FROM e CROSS JOIN cent
),
assigned AS (
  SELECT neighbor_id, cv, cent_id AS cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY neighbor_id ORDER BY cdot DESC, cent_id) AS rn
    FROM assign0
  ) WHERE rn = 1
),
kept AS (SELECT a.* FROM assigned a JOIN lab ON lab.vec_id = a.neighbor_id),
q0 AS (
  SELECT q.vec_id AS query_id, q.nv AS qv, cent.cent_id,
         ROUND(list_dot_product(q.nv, cent.centroid), 6) AS qdot
  FROM e q CROSS JOIN cent WHERE q.vec_id % 50 = 0
),
probed AS (
  SELECT query_id, qv, cent_id AS cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY qdot DESC, cent_id) AS rn
    FROM q0
  ) WHERE rn <= 4
),
s AS (
  SELECT p.query_id, a.neighbor_id,
         ROUND(list_dot_product(p.qv, a.cv), 6) AS sim
  FROM kept a JOIN probed p USING (cell)
  WHERE a.neighbor_id <> p.query_id
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
  FROM s
)
SELECT query_id, neighbor_id, sim, CAST(rn AS BIGINT) AS rank
FROM r WHERE rn <= 10
"""

# Two-stage truncated ANN (operators/similarity.
# ann_twostage_truncated_topk): stage-1 prefix dot = the identical
# left-to-right fold over the first TRUNC_DIM normalized dims (DuckDB
# list slice is 1-based inclusive), rounded 6 dp with neighbor_id
# tie-breaks at both stages — the funnel is its own definition, fully
# mirrored.
ORACLE_SQL["ann_twostage_truncated_topk"] = f"""
WITH {_NORM_CTE},
q AS (SELECT vec_id, nv FROM e WHERE vec_id % 50 = 0),
s1 AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.nv[1:{_TS_DIM_}], e.nv[1:{_TS_DIM_}]), 6)
           AS tdot
  FROM q JOIN e ON e.vec_id <> q.vec_id
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY tdot DESC, neighbor_id) AS rn
    FROM s1
  ) WHERE rn <= {_TS_M_}
),
s2 AS (
  SELECT c.query_id, c.neighbor_id,
         ROUND(list_dot_product(q.nv, e.nv), 6) AS sim
  FROM cand c JOIN e ON e.vec_id = c.neighbor_id
  JOIN q ON q.vec_id = c.query_id
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
  FROM s2
)
SELECT query_id, neighbor_id, sim, CAST(rn AS BIGINT) AS rank
FROM r WHERE rn <= 10
"""
