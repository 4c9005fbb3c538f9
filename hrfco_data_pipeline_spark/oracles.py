"""DuckDB oracle SQL for the hydrology pipeline queries.

The driver runs these side-by-side with the Spark queries at sf0.01 and
compares row count + schema + order-insensitive value hash. Each string
mirrors the Spark transforms (operators/classify.py) semantically — the
derivation CTEs are textual twins of sources/synthetic.py.
"""

from __future__ import annotations

from hrfco_data_pipeline_spark.sources.synthetic import OBS_SQL, STATIONS_SQL

# Layered CTE prefix implementing parse (T3-T6), F1, F2, J1, C1-C4.
# Previous-snapshot fixture moduli — single source with
# plans/llm.SNAPSHOT_GAP_MOD / SNAPSHOT_REV_MOD (pinned by
# tests/test_r14_operators.py::test_snapshot_fixture_single_source).
SNAPSHOT_GAP_MOD = 97
SNAPSHOT_REV_MOD = 89

HYDRO_CTE = f"""
WITH obs AS ({OBS_SQL}),
st AS ({STATIONS_SQL}),
stv AS (
  SELECT wlobscd, obsnm, addr,
    TRY_CAST(NULLIF(TRIM(attwl), '') AS DOUBLE) AS attwl,
    TRY_CAST(NULLIF(TRIM(wrnwl), '') AS DOUBLE) AS wrnwl,
    TRY_CAST(NULLIF(TRIM(almwl), '') AS DOUBLE) AS almwl,
    TRY_CAST(NULLIF(TRIM(srswl), '') AS DOUBLE) AS srswl
  FROM st
),
parsed AS (
  SELECT obs_id, wlobscd, ymdhm,
    TRY_CAST(NULLIF(TRIM(wl), '') AS DOUBLE) AS water_level,
    TRY_CAST(NULLIF(TRIM(fw), '') AS DOUBLE) AS flow_rate,
    CASE WHEN length(ymdhm) = 12 THEN
      substr(ymdhm, 1, 4) || '-' || substr(ymdhm, 5, 2) || '-' || substr(ymdhm, 7, 2)
      || ' ' || substr(ymdhm, 9, 2) || ':' || substr(ymdhm, 11, 2)
    ELSE ymdhm END AS obs_time_str
  FROM obs
  WHERE wlobscd IS NOT NULL AND TRIM(wlobscd) <> ''
    AND ymdhm IS NOT NULL AND TRIM(ymdhm) <> ''
    AND NOT ((wl IS NULL OR TRIM(wl) = '') AND (fw IS NULL OR TRIM(fw) = ''))
),
joined AS (
  SELECT p.obs_id, p.wlobscd, p.ymdhm, p.water_level, p.flow_rate, p.obs_time_str,
    s.wlobscd IS NOT NULL AS station_found,
    s.attwl, s.wrnwl, s.almwl, s.srswl
  FROM parsed p LEFT JOIN stv s ON p.wlobscd = s.wlobscd
),
flagged AS (
  SELECT *,
    (water_level IS NULL OR (water_level >= -10.0 AND water_level <= 50.0))
      AND (flow_rate IS NULL OR (flow_rate >= 0.0 AND flow_rate <= 50000.0)) AS range_valid,
    (CASE WHEN attwl IS NOT NULL AND attwl > 0 THEN 1 ELSE 0 END
     + CASE WHEN wrnwl IS NOT NULL AND wrnwl > 0 THEN 1 ELSE 0 END
     + CASE WHEN almwl IS NOT NULL AND almwl > 0 THEN 1 ELSE 0 END
     + CASE WHEN srswl IS NOT NULL AND srswl > 0 THEN 1 ELSE 0 END) AS valid_threshold_cnt,
    CASE WHEN water_level IS NULL
           OR (attwl IS NULL AND wrnwl IS NULL AND almwl IS NULL AND srswl IS NULL)
      THEN NULL
      ELSE CASE
        WHEN srswl IS NOT NULL AND water_level >= srswl THEN 'CRITICAL'
        WHEN almwl IS NOT NULL AND water_level >= almwl THEN 'WARNING'
        WHEN wrnwl IS NOT NULL AND water_level >= wrnwl THEN 'CAUTION'
        WHEN attwl IS NOT NULL AND water_level >= attwl THEN 'ATTENTION'
        ELSE 'NORMAL' END
    END AS c3_level
  FROM joined
),
classified AS (
  SELECT *,
    NOT range_valid AS is_anomaly,
    CASE WHEN NOT range_valid THEN NULL
         WHEN NOT station_found THEN 'NO_THRESHOLD'
         WHEN water_level IS NOT NULL AND valid_threshold_cnt = 0 THEN 'NO_THRESHOLD'
         WHEN water_level IS NOT NULL AND valid_threshold_cnt = 1 THEN 'PARTIAL_THRESHOLD'
         ELSE COALESCE(c3_level, 'NORMAL') END AS flood_warning_level
  FROM flagged
),
alerts AS (
  SELECT obs_id,
    wlobscd AS observation_code,
    obs_time_str AS observation_time,
    water_level, flow_rate,
    CASE WHEN is_anomaly THEN 'ANOMALY'
         WHEN flood_warning_level IN ('NO_THRESHOLD', 'PARTIAL_THRESHOLD') THEN 'NORMAL'
         ELSE flood_warning_level END AS warning_level,
    is_anomaly
  FROM classified
),
alerts_msg AS (
  SELECT *,
    CASE WHEN is_anomaly THEN
      '관측소 ' || observation_code || '에서 이상치 감지 (수위: '
        || COALESCE(printf('%.2f', water_level), 'nu') || ' m)'
    ELSE
      '관측소 ' || observation_code || '에서 ' || warning_level || ' 수위 경보 (수위: '
        || COALESCE(printf('%.2f', water_level), 'nu') || ' m)'
    END AS message
  FROM alerts
)
"""

HYDRO_ORACLES: dict[str, str] = {
    "hydro_classify_alerts": HYDRO_CTE
    + """
    SELECT obs_id, observation_code, observation_time, water_level, flow_rate,
           warning_level, is_anomaly, message
    FROM alerts_msg
    """,
    "hydro_internal_levels": HYDRO_CTE
    + """
    SELECT flood_warning_level, is_anomaly, count(*) AS n
    FROM classified GROUP BY 1, 2
    """,
    "hydro_alert_counts": HYDRO_CTE
    + """
    SELECT CASE WHEN is_anomaly OR warning_level = 'ANOMALY' THEN 'anomaly'
                ELSE lower(warning_level) END AS category,
           count(*) AS n
    FROM alerts GROUP BY 1
    """,
    "hydro_station_list": f"""
    WITH st AS ({STATIONS_SQL})
    SELECT wlobscd AS code, obsnm AS name, addr AS address FROM st
    """,
    "hydro_archive_partitions": HYDRO_CTE
    + """
    SELECT CASE WHEN is_anomaly THEN 'anomalies' ELSE 'normal' END AS kind,
           substr(obs_time_str, 1, 10) AS obs_date,
           count(*) AS n
    FROM classified GROUP BY 1, 2
    """,
    "hydro_threshold_audit": f"""
    WITH st AS ({STATIONS_SQL}),
    stv AS (
      SELECT wlobscd,
        TRY_CAST(NULLIF(TRIM(attwl), '') AS DOUBLE) AS attwl,
        TRY_CAST(NULLIF(TRIM(wrnwl), '') AS DOUBLE) AS wrnwl,
        TRY_CAST(NULLIF(TRIM(almwl), '') AS DOUBLE) AS almwl,
        TRY_CAST(NULLIF(TRIM(srswl), '') AS DOUBLE) AS srswl
      FROM st
    )
    SELECT wlobscd,
      (CASE WHEN attwl IS NOT NULL AND attwl > 0 THEN 1 ELSE 0 END
       + CASE WHEN wrnwl IS NOT NULL AND wrnwl > 0 THEN 1 ELSE 0 END
       + CASE WHEN almwl IS NOT NULL AND almwl > 0 THEN 1 ELSE 0 END
       + CASE WHEN srswl IS NOT NULL AND srswl > 0 THEN 1 ELSE 0 END) AS valid_threshold_cnt,
      CASE
        WHEN (CASE WHEN attwl IS NOT NULL AND attwl > 0 THEN 1 ELSE 0 END
              + CASE WHEN wrnwl IS NOT NULL AND wrnwl > 0 THEN 1 ELSE 0 END
              + CASE WHEN almwl IS NOT NULL AND almwl > 0 THEN 1 ELSE 0 END
              + CASE WHEN srswl IS NOT NULL AND srswl > 0 THEN 1 ELSE 0 END) = 0 THEN 'NO_THRESHOLD'
        WHEN (CASE WHEN attwl IS NOT NULL AND attwl > 0 THEN 1 ELSE 0 END
              + CASE WHEN wrnwl IS NOT NULL AND wrnwl > 0 THEN 1 ELSE 0 END
              + CASE WHEN almwl IS NOT NULL AND almwl > 0 THEN 1 ELSE 0 END
              + CASE WHEN srswl IS NOT NULL AND srswl > 0 THEN 1 ELSE 0 END) = 1 THEN 'PARTIAL_THRESHOLD'
        ELSE 'COMPLETE' END AS completeness
    FROM stv
    """,
}


# ---------------------------------------------------------------------------
# General relational surface (plans/relational.py)
# ---------------------------------------------------------------------------

RELATIONAL_ORACLES: dict[str, str] = {
    "q1_pricing_summary": """
    WITH d AS (
      SELECT l_returnflag, l_linestatus,
        CAST(l_quantity AS BIGINT) AS qty,
        TRY_CAST(printf('%.2f', l_extendedprice) AS DECIMAL(12,2)) AS price,
        TRY_CAST(printf('%.2f', l_discount) AS DECIMAL(12,2)) AS disc,
        TRY_CAST(printf('%.2f', l_tax) AS DECIMAL(12,2)) AS tax
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    )
    SELECT l_returnflag, l_linestatus,
      CAST(sum(qty) AS BIGINT) AS sum_qty,
      CAST(sum(price) AS DOUBLE) AS sum_base_price,
      CAST(sum(price * (1 - disc)) AS DOUBLE) AS sum_disc_price,
      CAST(sum(price * (1 - disc) * (1 + tax)) AS DOUBLE) AS sum_charge,
      CAST(sum(qty) AS BIGINT) / count(*) AS avg_qty,
      CAST(sum(price) AS DOUBLE) / count(*) AS avg_price,
      CAST(sum(disc) AS DOUBLE) / count(*) AS avg_disc,
      count(*) AS count_order
    FROM d GROUP BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": """
    SELECT l_orderkey,
      strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      o_orderpriority,
      CAST(sum(TRY_CAST(printf('%.2f', l_extendedprice) AS DECIMAL(12,2))
               * (1 - TRY_CAST(printf('%.2f', l_discount) AS DECIMAL(12,2))))
           AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
    "q5_region_revenue": """
    SELECT n_name,
      CAST(sum(TRY_CAST(printf('%.2f', l_extendedprice) AS DECIMAL(12,2))
               * (1 - TRY_CAST(printf('%.2f', l_discount) AS DECIMAL(12,2))))
           AS DOUBLE) AS revenue
    FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
    GROUP BY n_name
    """,
    "top_customers_per_nation": """
    WITH ranked AS (
      SELECT c_nationkey, c_custkey, c_name, c_acctbal,
        row_number() OVER (PARTITION BY c_nationkey
                           ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
      FROM customer
    )
    SELECT n_name, CAST(rk AS INTEGER) AS rk, c_custkey, c_name, c_acctbal AS acctbal
    FROM ranked JOIN nation ON c_nationkey = n_nationkey
    WHERE rk <= 3
    """,
    "orders_rollup": """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      CAST(sum(TRY_CAST(printf('%.2f', o_totalprice) AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
    "customers_without_urgent_orders": """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderpriority = '1-URGENT')
    """,
    "customer_order_stats": """
    SELECT c_custkey, c_name, n_orders, total_spent, avg_order
    FROM (
      SELECT o_custkey, count(*) AS n_orders,
        CAST(sum(TRY_CAST(printf('%.2f', o_totalprice) AS DECIMAL(12,2))) AS DOUBLE)
          AS total_spent,
        CAST(sum(TRY_CAST(printf('%.2f', o_totalprice) AS DECIMAL(12,2))) AS DOUBLE)
          / count(*) AS avg_order
      FROM orders GROUP BY o_custkey
    ) o JOIN customer ON o_custkey = c_custkey
    """,
    "purchase_and_signup_users": """
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
    """,
    "mon_status_counts": """
    SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """,
    "mon_summary": """
    SELECT count(*) AS n_events,
      count(DISTINCT user_id) AS n_users,
      CAST(sum(TRY_CAST(printf('%.2f', value) AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
      CAST(sum(CASE WHEN value >= 450.0 THEN 1 ELSE 0 END) AS BIGINT) AS backpressure_cnt,
      CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
      CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
        / count(*) * 100 AS error_pct,
      sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) > 0 AS has_errors
    FROM events
    """,
    "mon_activity_delta": """
    SELECT user_id, event_id,
      value - lag(value) OVER w AS delta,
      value <> lag(value) OVER w AS changed
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "events_hourly": """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
      event_type, count(*) AS n,
      CAST(sum(TRY_CAST(printf('%.2f', value) AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    "events_sessionize": """
    WITH flagged AS (
      SELECT user_id, event_id, ts,
        CASE WHEN lag(ts) OVER w IS NULL
               OR date_diff('second', lag(ts) OVER w, ts) > 1800
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id,
        sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ), per_sess AS (
      SELECT user_id, session_id, count(*) AS n_events
      FROM sess GROUP BY user_id, session_id
    )
    SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events
    FROM per_sess GROUP BY user_id
    """,
    "recent_events_top200": """
    SELECT event_id, user_id, event_type,
      strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
    FROM events ORDER BY ts DESC, event_id DESC LIMIT 200
    """,
}


# ---------------------------------------------------------------------------
# JSON wire path (plans/wire.py)
# ---------------------------------------------------------------------------

_WIRE_CTE = f"""
WITH obs AS ({OBS_SQL}),
wire AS (
  SELECT obs_id,
    CASE WHEN obs_id % 53 = 0 THEN substr(js, 1, 15) ELSE js END AS value
  FROM (
    SELECT obs_id,
      '{{"wlobscd":' || CASE WHEN wlobscd IS NULL THEN 'null' ELSE '"' || wlobscd || '"' END
      || ',"ymdhm":' || CASE WHEN ymdhm IS NULL THEN 'null' ELSE '"' || ymdhm || '"' END
      || ',"wl":' || CASE WHEN wl IS NULL THEN 'null' ELSE '"' || wl || '"' END
      || ',"fw":' || CASE WHEN fw IS NULL THEN 'null' ELSE '"' || fw || '"' END
      || ',"junk":1}}' AS js
    FROM obs
  ) b
)
"""

WIRE_ORACLES: dict[str, str] = {
    "wire_parse": _WIRE_CTE
    + """
    SELECT obs_id,
      json_extract_string(value, '$.wlobscd') AS wlobscd,
      json_extract_string(value, '$.ymdhm') AS ymdhm,
      json_extract_string(value, '$.wl') AS wl,
      json_extract_string(value, '$.fw') AS fw
    FROM wire WHERE json_valid(value)
    """,
    "wire_dlq": _WIRE_CTE
    + """
    SELECT CAST(obs_id AS VARCHAR) AS original_key,
      value AS original_value,
      'Processing failed: JsonParseException' AS error_reason
    FROM wire WHERE NOT json_valid(value)
    """,
}


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators (plans/llm.py)
# ---------------------------------------------------------------------------

_TOK_CTE = r"""
WITH tok AS (
  SELECT doc_id, lang, source, n_chars,
    regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
)
"""

LLM_ORACLES: dict[str, str] = {
    "dedup_exact_docs": """
    SELECT md5(lower(trim(text))) AS text_hash,
      count(*) AS n_copies, min(doc_id) AS keep_doc_id
    FROM documents GROUP BY 1
    """,
    "docs_token_stats": _TOK_CTE
    + """
    SELECT doc_id, n_chars,
      CAST(len(toks) AS INTEGER) AS n_tokens,
      CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq_tokens,
      CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        / len(toks) AS avg_token_len,
      CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
      CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','data'))) AS INTEGER) AS stopword_cnt,
      CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','data'))) AS DOUBLE)
        / len(toks) AS stopword_ratio
    FROM tok
    """,
    "docs_quality_score": _TOK_CTE
    + """
    , stats AS (
      SELECT doc_id,
        len(toks) AS n_tokens,
        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','data'))) AS DOUBLE)
          / len(toks) AS stopword_ratio
      FROM tok
    ), scored AS (
      SELECT doc_id,
        (CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
         + CASE WHEN ttr >= 0.3 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END
         + CASE WHEN stopword_ratio >= 0.01 AND stopword_ratio <= 0.5
                THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END
        ) AS score
      FROM stats
    )
    SELECT doc_id, score AS quality, score >= 0.7 AS keep FROM scored
    """,
    "doc_fingerprints": _TOK_CTE
    + """
    SELECT doc_id,
      md5(array_to_string(toks[1:8], ' ')) AS prefix_fp,
      md5(lower(trim(text))) AS full_fp
    FROM tok JOIN documents USING (doc_id)
    """,
    "doc_winnow_fingerprints": _TOK_CTE
    + """
    , g AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 4 THEN
          list_transform(generate_series(1, len(toks) - 3),
            i -> md5(array_to_string(list_slice(toks, i, i + 3), ' ')))
        ELSE CAST([] AS VARCHAR[]) END AS h
      FROM tok
    ), f AS (
      SELECT doc_id,
        CASE WHEN len(h) >= 5 THEN
          list_distinct(list_transform(generate_series(1, len(h) - 4),
            i -> list_min(list_slice(h, i, i + 4))))
        ELSE list_distinct(h) END AS fps
      FROM g
    )
    SELECT doc_id, CAST(len(fps) AS INTEGER) AS n_fps,
      md5(array_to_string(list_sort(fps), '|')) AS fp_set_hash
    FROM f
    """,
    "docs_inverted_index": _TOK_CTE
    + """
    , terms AS (
      SELECT doc_id, unnest(list_distinct(toks)) AS term FROM tok
    )
    SELECT term, count(*) AS df,
      min(doc_id) AS first_doc, max(doc_id) AS last_doc,
      md5(array_to_string(
        list_transform(list_sort(list(doc_id)), x -> CAST(x AS VARCHAR)),
        ',')) AS posting_hash
    FROM terms GROUP BY term
    ORDER BY df DESC, term ASC LIMIT 100
    """,
    "docs_tfidf_top_terms": _TOK_CTE
    + """
    , terms AS (
      SELECT doc_id, len(toks) AS n_tokens, unnest(toks) AS term FROM tok
    ), tf AS (
      SELECT doc_id, n_tokens, term, count(*) AS tf_cnt
      FROM terms GROUP BY doc_id, n_tokens, term
    ), df AS (
      SELECT term, count(*) AS df
      FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term
    ), scored AS (
      SELECT tf.doc_id, tf.term,
        (CAST(tf.tf_cnt AS DOUBLE) / CAST(tf.n_tokens AS DOUBLE))
          * (CAST((SELECT count(*) FROM documents) AS DOUBLE)
             / CAST(df.df AS DOUBLE)) AS tfidf
      FROM tf JOIN df USING (term)
    ), ranked AS (
      SELECT doc_id, term, tfidf,
        row_number() OVER (PARTITION BY doc_id
                           ORDER BY tfidf DESC, term ASC) AS rank
      FROM scored
    )
    SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tfidf
    FROM ranked WHERE rank <= 3
    """,
    "docs_shard_assign": """
    SELECT ((doc_id % 2147483648) * 2654435761) % 2147483648 % 16 AS shard,
      count(*) AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc,
      CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1 ORDER BY shard
    """,
    "multimodal_blob_stats": """
    SELECT source, count(*) AS n_docs,
      CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
      count(DISTINCT md5(text)) AS n_distinct_blobs
    FROM documents GROUP BY source
    """,
    "embedding_label_stats": """
    WITH v AS (
      SELECT label,
        sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
      FROM embeddings
    )
    SELECT label, count(*) AS n,
      round(avg(nrm), 4) AS avg_norm,
      min(nrm) AS min_norm,
      max(nrm) AS max_norm
    FROM v GROUP BY label
    """,
    "embedding_block_near_dups": """
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
        sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
      round(list_sum(list_transform(range(len(a.v)),
              i -> a.v[i + 1] * b.v[i + 1])) / (a.nrm * b.nrm), 4) AS cos_sim
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_sum(list_transform(range(len(a.v)),
            i -> a.v[i + 1] * b.v[i + 1])) / (a.nrm * b.nrm), 4) >= 0.3
    """,
    "ann_cosine_topk": """
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
        sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id % 50 = 0
    ), scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
        round(list_sum(list_transform(range(len(e.v)),
                i -> e.v[i + 1] * q.qv[i + 1])) / (e.nrm * q.qn), 4) AS cos_sim
      FROM e, q WHERE e.vec_id <> q.query_id
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 5
    """,
    "docs_ngram_jaccard_pairs": _TOK_CTE
    + """
    , sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 5 THEN
          list_distinct([array_to_string(toks[i:i+4], ' ')
                         FOR i IN range(1, len(toks) - 3)])
        ELSE [] END AS shingles
      FROM tok
    ), ex AS (
      SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh
    ), hot AS (
      SELECT s FROM ex GROUP BY s HAVING count(*) > 50
    ), exc AS (
      SELECT ex.* FROM ex ANTI JOIN hot USING (s)
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.n_sh AS na, b.n_sh AS nb, count(*) AS common
      FROM exc a JOIN exc b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b, common,
      CAST(common AS DOUBLE) / (na + nb - common) AS jaccard
    FROM pairs
    WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.2
    """,
}


# ---------------------------------------------------------------------------
# Coverage round 2: dashboard filters, point lookups, T13, T1
# ---------------------------------------------------------------------------

HYDRO_ORACLES["hydro_station_detail"] = f"""
    WITH st AS ({STATIONS_SQL})
    SELECT wlobscd AS "observationCode", obsnm, addr, attwl, wrnwl, almwl, srswl
    FROM st WHERE wlobscd = '42'
    """

# T7 dynamic tail: every non-threshold station field as a coerced
# (station, field, value) pair — text trimmed, empty → null
HYDRO_ORACLES["hydro_station_tail"] = f"""
    WITH st AS ({STATIONS_SQL})
    SELECT wlobscd, 'obsnm' AS field, NULLIF(TRIM(obsnm), '') AS value FROM st
    UNION ALL
    SELECT wlobscd, 'addr' AS field, NULLIF(TRIM(addr), '') AS value FROM st
    """

HYDRO_ORACLES["hydro_alerts_filtered"] = HYDRO_CTE + """
    SELECT obs_id, observation_code, warning_level, water_level
    FROM alerts
    WHERE warning_level IN ('ATTENTION', 'CAUTION', 'WARNING', 'CRITICAL')
      AND NOT is_anomaly
    """

HYDRO_ORACLES["hydro_recent_alerts_500"] = HYDRO_CTE + """
    SELECT obs_id, observation_code, observation_time, warning_level
    FROM alerts
    ORDER BY observation_time DESC, obs_id DESC
    LIMIT 500
    """

RELATIONAL_ORACLES["mon_error_bulletins"] = """
    SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
    FROM events WHERE event_type = 'error'
    ORDER BY ts DESC, event_id DESC LIMIT 20
    """

RELATIONAL_ORACLES["mon_type_pivot"] = """
    SELECT count(*) AS total,
      CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
      CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
    FROM events
    """

# /1024 divisions are dyadic → DECIMAL(18,2) cast == Java %.2f exactly
# (both round the exact value, ties away from zero); see plans/relational.
RELATIONAL_ORACLES["metrics_format_bytes"] = """
    WITH b AS (
      SELECT event_id, CAST(trunc(value * 1000000) AS BIGINT) AS n_bytes FROM events
    ), fmtd AS (
      SELECT event_id, n_bytes,
        CASE
          WHEN n_bytes < 0 THEN '0 B'
          WHEN n_bytes < 1024 THEN CAST(n_bytes AS VARCHAR) || ' B'
          WHEN n_bytes < 1048576 THEN
            CAST(CAST(n_bytes / 1024.0 AS DECIMAL(18,2)) AS VARCHAR) || ' KB'
          WHEN n_bytes < 1073741824 THEN
            CAST(CAST(n_bytes / 1048576.0 AS DECIMAL(18,2)) AS VARCHAR) || ' MB'
          ELSE CAST(CAST(n_bytes / 1073741824.0 AS DECIMAL(18,2)) AS VARCHAR) || ' GB'
        END AS formatted
      FROM b
    )
    SELECT event_id, n_bytes, formatted,
      CASE
        WHEN formatted IS NULL OR formatted = '' OR formatted = '0 B' THEN 0
        WHEN len(regexp_split_to_array(trim(formatted), '\\s+')) < 2
          THEN COALESCE(TRY_CAST(trim(formatted) AS BIGINT), 0)
        ELSE COALESCE(CAST(trunc(
          TRY_CAST(regexp_split_to_array(trim(formatted), '\\s+')[1] AS DOUBLE)
          * CASE upper(regexp_split_to_array(trim(formatted), '\\s+')[2])
              WHEN 'B' THEN 1.0 WHEN 'KB' THEN 1024.0
              WHEN 'MB' THEN 1048576.0 WHEN 'GB' THEN 1073741824.0
              WHEN 'TB' THEN 1099511627776.0 ELSE 0.0 END
          ) AS BIGINT), 0)
      END AS parsed_back
    FROM fmtd
    """

# A6 full form: truncating long division with the Java zero-guards
RELATIONAL_ORACLES["mon_processing_times"] = """
    WITH staged AS (
      SELECT event_id,
        (event_id * 13) % 500 AS flowfiles_in,
        (event_id * 29) % 480 AS flowfiles_out,
        event_id % 5 AS task_count,
        CASE WHEN event_id % 11 = 0 THEN CAST(0 AS BIGINT)
             ELSE (event_id * 104729) % 9000000000 END AS tasks_duration_nanos,
        greatest((event_id * 13) % 500, (event_id * 29) % 480) AS flowfiles_processed
      FROM events
    )
    SELECT event_id, flowfiles_in, flowfiles_out, task_count,
      tasks_duration_nanos // 1000000 AS total_ms,
      CASE WHEN flowfiles_processed > 0 AND tasks_duration_nanos > 0
           THEN tasks_duration_nanos // flowfiles_processed // 1000000
           ELSE CAST(0 AS BIGINT) END AS avg_ms,
      flowfiles_in > 0 OR flowfiles_out > 0 OR task_count > 0 AS has_activity
    FROM staged
    """

# T13 rest: Korean relative-duration formatting + queued-count parse
RELATIONAL_ORACLES["metrics_durations"] = r"""
    WITH staged AS (
      SELECT event_id,
        CAST(CASE WHEN event_id % 13 = 0 THEN event_id % 60
             WHEN event_id % 13 = 1 THEN 60 + event_id % 3540
             WHEN event_id % 13 = 2 THEN 3600 + event_id % 82800
             ELSE 86400 + event_id % 200000 END AS BIGINT) AS secs,
        CASE WHEN event_id % 7 = 0 THEN NULL
             WHEN event_id % 7 = 1 THEN ''
             WHEN event_id % 7 = 2 THEN 'abc'
             ELSE format('{:,}', (event_id * 31) % 1000000) || ' ('
                  || ((event_id * 31) % 1000000) || ' bytes)' END AS queued
      FROM events
    )
    SELECT event_id, secs,
      CASE WHEN secs < 60 THEN secs || '초 전'
           WHEN secs < 3600 THEN (secs // 60) || '분 ' || (secs % 60) || '초 전'
           WHEN secs < 86400 THEN (secs // 3600) || '시간 '
                                  || ((secs % 3600) // 60) || '분 전'
           ELSE (secs // 86400) || '일 '
                || ((secs % 86400) // 3600) || '시간 전' END AS dur_str,
      queued,
      CASE WHEN queued IS NULL OR queued = '' THEN 0
           ELSE COALESCE(TRY_CAST(
             replace(regexp_split_to_array(queued, '\s+')[1], ',', '')
             AS INTEGER), 0) END AS queued_cnt
    FROM staged
    """


_BATCH_CTE = f"""
WITH obs AS ({OBS_SQL}),
els AS (
  SELECT obs_id // 100 AS batch_id,
    '{{"wlobscd":' || CASE WHEN wlobscd IS NULL THEN 'null' ELSE '"' || wlobscd || '"' END
    || ',"ymdhm":' || CASE WHEN ymdhm IS NULL THEN 'null' ELSE '"' || ymdhm || '"' END
    || ',"wl":' || CASE WHEN wl IS NULL THEN 'null' ELSE '"' || wl || '"' END
    || ',"fw":' || CASE WHEN fw IS NULL THEN 'null' ELSE '"' || fw || '"' END
    || '}}' AS el
  FROM obs
),
batches AS (
  SELECT batch_id, '[' || string_agg(el, ',' ORDER BY el) || ']' AS doc
  FROM els GROUP BY batch_id
),
positions AS (
  SELECT batch_id, doc,
    unnest(generate_series(0, CAST(json_array_length(doc) AS BIGINT) - 1)) AS i
  FROM batches
),
flattened AS (
  SELECT batch_id, CAST(i AS INTEGER) AS pos,
    json_extract_string(doc, '$[' || i || '].wlobscd') AS wlobscd,
    json_extract_string(doc, '$[' || i || '].ymdhm') AS ymdhm,
    json_extract_string(doc, '$[' || i || '].wl') AS wl,
    json_extract_string(doc, '$[' || i || '].fw') AS fw
  FROM positions
)
"""

WIRE_ORACLES["wire_batch_flatten"] = _BATCH_CTE + """
    SELECT batch_id, pos, wlobscd, ymdhm, wl, fw FROM flattened
    """


RELATIONAL_ORACLES["events_props_extract"] = """
    SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """


RELATIONAL_ORACLES["events_asof_last_error"] = """
    WITH r AS (
      SELECT user_id, ts, max(value) AS err_value
      FROM events WHERE event_type = 'error' GROUP BY user_id, ts
    ), l AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT l.event_id, l.user_id,
      strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
      r.err_value AS err_value_asof
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """

HYDRO_ORACLES["hydro_fact_hourly_rollup"] = HYDRO_CTE + """
    , fact AS (
      SELECT wlobscd, is_anomaly, water_level,
        date_trunc('hour', try_strptime(obs_time_str, '%Y-%m-%d %H:%M')) AS bucket_ts
      FROM classified
    )
    SELECT strftime(bucket_ts, '%Y-%m-%d %H:%M') AS bucket, wlobscd,
      count(*) AS n,
      CAST(sum(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS BIGINT) AS n_anom,
      CAST(sum(TRY_CAST(printf('%.2f', water_level) AS DECIMAL(12,2))) AS DOUBLE)
        / count(water_level) AS avg_wl,
      max(water_level) AS max_wl
    FROM fact GROUP BY 1, 2
    """


LLM_ORACLES["docs_lang_id"] = _TOK_CTE + """
    , cnts AS (
      SELECT doc_id, lang,
        CAST(len(list_filter(toks, x -> x IN ('the','a','an','of','and'))) AS INTEGER) AS cnt_en,
        CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS INTEGER) AS cnt_de,
        CAST(len(list_filter(toks, x -> x IN ('le','la','les','et','est'))) AS INTEGER) AS cnt_fr,
        CAST(len(list_filter(toks, x -> x IN ('el','la','los','y','es'))) AS INTEGER) AS cnt_es
      FROM tok
    ), pred AS (
      SELECT *,
        CASE
          WHEN cnt_en > 0 AND cnt_en >= cnt_de AND cnt_en >= cnt_fr AND cnt_en >= cnt_es THEN 'en'
          WHEN cnt_de > 0 AND cnt_de >= cnt_en AND cnt_de >= cnt_fr AND cnt_de >= cnt_es THEN 'de'
          WHEN cnt_fr > 0 AND cnt_fr >= cnt_en AND cnt_fr >= cnt_de AND cnt_fr >= cnt_es THEN 'fr'
          WHEN cnt_es > 0 AND cnt_es >= cnt_en AND cnt_es >= cnt_de AND cnt_es >= cnt_fr THEN 'es'
          ELSE 'und' END AS pred_lang
      FROM cnts
    )
    SELECT doc_id, lang, cnt_en, cnt_de, cnt_fr, cnt_es, pred_lang,
      pred_lang = lang AS match
    FROM pred
    """


LLM_ORACLES["docs_bpe_token_count"] = r"""
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_pieces,
      CAST(len(list_distinct(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))) AS INTEGER) AS n_uniq_pieces
    FROM documents
    """


RELATIONAL_ORACLES["big_orders_having"] = """
    WITH big AS (
      SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(CAST(l_quantity AS BIGINT)) >= 120
    )
    SELECT l_orderkey, total_qty, o_orderstatus,
      strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
    FROM big JOIN orders ON l_orderkey = o_orderkey
    """


RELATIONAL_ORACLES["events_cube"] = """
    SELECT event_type, CAST(hour(ts) AS INTEGER) AS hod, count(*) AS n
    FROM events GROUP BY CUBE(event_type, CAST(hour(ts) AS INTEGER))
    """

# int8 quantization stats: explicit floor(x/scale + 0.5) on both engines
# so negative values and ties round identically
LLM_ORACLES["embedding_quantize"] = """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), s AS (
      SELECT vec_id, v,
        list_max(list_transform(v, x -> abs(x))) AS amax
      FROM v
    ), q AS (
      SELECT vec_id, round(amax / 127.0, 4) AS scale,
        CASE WHEN amax = 0
          THEN list_transform(v, x -> CAST(0 AS BIGINT))
          ELSE list_transform(v, x -> CAST(floor(x / (amax / 127.0) + 0.5) AS BIGINT))
        END AS q
      FROM s
    )
    SELECT vec_id, scale,
      CAST(list_sum(q) AS BIGINT) AS q_sum,
      CAST(list_min(q) AS BIGINT) AS q_min,
      CAST(list_max(q) AS BIGINT) AS q_max
    FROM q
    """

LLM_ORACLES["docs_ngram_freq"] = r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 3 THEN
          list_distinct([array_to_string(toks[i:i+2], ' ')
                         FOR i IN range(1, len(toks) - 1)])
        ELSE [] END AS shingles
      FROM tok
    ), ex AS (
      SELECT unnest(shingles) AS shingle FROM sh
    )
    SELECT shingle, count(*) AS df FROM ex
    GROUP BY shingle ORDER BY df DESC, shingle ASC LIMIT 50
    """

# Connected components of the near-dup pair graph. The Spark side is
# iterative min-label propagation (operators/dedup.connected_components);
# DuckDB can express the same fixpoint as a recursive transitive closure
# at oracle scale (sf0.01: tens of pairs).
LLM_ORACLES["dup_components"] = r"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 5 THEN
          list_distinct([array_to_string(toks[i:i+4], ' ')
                         FOR i IN range(1, len(toks) - 3)])
        ELSE [] END AS shingles
      FROM tok
    ), ex AS (
      SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh
    ), hot AS (
      SELECT s FROM ex GROUP BY s HAVING count(*) > 50
    ), exc AS (
      SELECT ex.* FROM ex ANTI JOIN hot USING (s)
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.n_sh AS na, b.n_sh AS nb, count(*) AS common
      FROM exc a JOIN exc b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    ), jp AS (
      SELECT doc_a, doc_b FROM pairs
      WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.2
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM jp
      UNION
      SELECT doc_b, doc_a FROM jp
    ), reach AS (
      SELECT src AS id, src AS r FROM edges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
    )
    SELECT id, min(r) AS component FROM reach GROUP BY id
    """


LLM_ORACLES["dedup_docs_kept"] = """
    WITH h AS (
      SELECT doc_id, lang, source, md5(lower(trim(text))) AS text_hash,
        row_number() OVER (PARTITION BY md5(lower(trim(text)))
                           ORDER BY doc_id ASC) AS rk
      FROM documents
    )
    SELECT doc_id, text_hash, lang, source FROM h WHERE rk = 1
    """


# --- text normalization + PII redaction (operators/textnorm.py) -----------
# Patterns restricted to Java-regex/RE2-identical syntax; DuckDB
# regexp_replace needs the 'g' flag to match Spark's replace-all.

LLM_ORACLES["docs_normalize"] = r"""
    WITH aug AS (
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN text || chr(9) || 'tail' || chr(13) || chr(10)
             WHEN doc_id % 3 = 1 THEN '  ' || text || '  '
             ELSE text END AS raw
      FROM documents
    ), norm AS (
      SELECT doc_id, raw,
        trim(regexp_replace(regexp_replace(raw, '[\x00-\x1f\x7f]', ' ', 'g'),
                            '\s+', ' ', 'g')) AS n
      FROM aug
    )
    SELECT doc_id,
      CAST(length(raw) AS INTEGER) AS n_chars_raw,
      CAST(length(n) AS INTEGER) AS n_chars_norm,
      md5(n) AS norm_hash
    FROM norm
    """

LLM_ORACLES["docs_pii_redact"] = r"""
    WITH aug AS (
      SELECT doc_id,
        CASE WHEN doc_id % 4 = 0
               THEN text || ' contact a' || CAST(doc_id AS VARCHAR) || '@example.com'
             WHEN doc_id % 4 = 1
               THEN text || ' see https://data.example.org/d/' || CAST(doc_id AS VARCHAR)
             WHEN doc_id % 4 = 2
               THEN text || ' call 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-1234'
             ELSE text || ' ref 9' || lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0')
        END AS raw
      FROM documents
    ), s1 AS (
      SELECT doc_id,
        CAST(len(regexp_extract_all(raw, 'https?://[A-Za-z0-9./_%-]+')) AS INTEGER) AS n_url,
        regexp_replace(raw, 'https?://[A-Za-z0-9./_%-]+', '<URL>', 'g') AS t
      FROM aug
    ), s2 AS (
      SELECT *,
        CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
        regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t2
      FROM s1
    ), s3 AS (
      SELECT *,
        CAST(len(regexp_extract_all(t2, '\b\d{3}-\d{3,4}-\d{4}\b')) AS INTEGER) AS n_phone,
        regexp_replace(t2, '\b\d{3}-\d{3,4}-\d{4}\b', '<PHONE>', 'g') AS t3
      FROM s2
    ), s4 AS (
      SELECT *,
        CAST(len(regexp_extract_all(t3, '\b\d{9,}\b')) AS INTEGER) AS n_idnum,
        regexp_replace(t3, '\b\d{9,}\b', '<NUM>', 'g') AS t4
      FROM s3
    )
    SELECT doc_id, n_url, n_email, n_phone, n_idnum, md5(t4) AS redacted_hash
    FROM s4
    """


# --- corpus curation: sampling / mixing / packing (operators/sampling.py) --

LLM_ORACLES["docs_sample_stratified"] = """
    WITH b AS (
      SELECT doc_id, lang, source,
        (doc_id * 2654435761) % 2147483648 % 1000 AS bucket
      FROM documents
    )
    SELECT doc_id, lang, source, bucket FROM b
    WHERE bucket < CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 300
                             WHEN 'fr' THEN 300 WHEN 'es' THEN 200
                             ELSE 100 END
    """

LLM_ORACLES["docs_sample_hash_topk"] = """
    SELECT doc_id, lang, source,
      (doc_id * 2654435761) % 2147483648 AS h
    FROM documents
    ORDER BY h ASC, doc_id ASC
    LIMIT 100
    """

# double arithmetic mirrors operators/sampling.domain_mix_rates exactly
# (same operand order), so the unrounded doubles hash-match; sum() over
# BIGINT is HUGEINT in DuckDB -> cast back
LLM_ORACLES["docs_domain_mix"] = """
    WITH counts AS (
      SELECT source AS domain, count(*) AS n_docs FROM documents GROUP BY 1
    ), tot AS (
      SELECT *, CAST(sum(n_docs) OVER () AS BIGINT) AS n_total FROM counts
    ), tgt AS (
      SELECT *,
        CASE domain WHEN 'src0' THEN CAST(0.15 AS DOUBLE)
                    WHEN 'src1' THEN CAST(0.15 AS DOUBLE)
                    WHEN 'src2' THEN CAST(0.1 AS DOUBLE)
                    WHEN 'src3' THEN CAST(0.05 AS DOUBLE)
                    WHEN 'src4' THEN CAST(0.05 AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END AS target_frac
      FROM tot
    ), sc AS (
      SELECT *,
        min(CASE WHEN target_frac * n_total > 0
                 THEN n_docs / (target_frac * n_total) END) OVER () AS s
      FROM tgt
    ), rt AS (
      SELECT *,
        CASE WHEN target_frac * n_total > 0
             THEN least(CAST(1.0 AS DOUBLE), s * (target_frac * n_total) / n_docs)
             ELSE CAST(0.0 AS DOUBLE) END AS keep_rate
      FROM sc
    )
    SELECT domain, n_docs, n_total, target_frac, keep_rate,
      CAST(floor(keep_rate * n_docs) AS BIGINT) AS n_kept
    FROM rt
    """

LLM_ORACLES["docs_pack_sequences"] = r"""
    WITH tok AS (
      SELECT doc_id, lang,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, lang, n_tokens,
        sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM tok
    )
    SELECT doc_id, lang, n_tokens,
      CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS pack_id
    FROM c
    """


# --- TPC-H shapes Q6/Q4/Q2/Q7 (plans/relational.py) ------------------------

RELATIONAL_ORACLES["q6_forecast_revenue"] = """
    SELECT
      CAST(sum(TRY_CAST(printf('%.2f', l_extendedprice) AS DECIMAL(12,2))
               * TRY_CAST(printf('%.2f', l_discount) AS DECIMAL(12,2))) AS DOUBLE)
        AS revenue,
      count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount >= CAST(0.04 AS DOUBLE)
      AND l_discount <= CAST(0.08 AS DOUBLE)
      AND l_quantity < 24
    """

RELATIONAL_ORACLES["q4_order_priority"] = """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate >= o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority
    """

RELATIONAL_ORACLES["part_min_price_supplier"] = """
    WITH lu AS (
      SELECT l_partkey, l_suppkey, l_extendedprice / l_quantity AS unit_price
      FROM lineitem
    ), mins AS (
      SELECT l_partkey, min(unit_price) AS min_unit FROM lu GROUP BY 1
    ), best AS (
      SELECT lu.l_partkey AS p_partkey, mins.min_unit,
        min(lu.l_suppkey) AS s_suppkey
      FROM lu JOIN mins
        ON lu.l_partkey = mins.l_partkey AND lu.unit_price = mins.min_unit
      GROUP BY 1, 2
    )
    SELECT p_partkey, min_unit, best.s_suppkey, s_name
    FROM best JOIN supplier ON best.s_suppkey = supplier.s_suppkey
    """

RELATIONAL_ORACLES["nation_trade_volume"] = """
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
      CAST(sum(TRY_CAST(printf('%.2f', l_extendedprice) AS DECIMAL(12,2))
               * (1 - TRY_CAST(printf('%.2f', l_discount) AS DECIMAL(12,2))))
           AS DOUBLE) AS revenue,
      count(*) AS n_items
    FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE cn.n_name <> sn.n_name
    GROUP BY 1, 2
    """


LLM_ORACLES["docs_repetition_score"] = r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 3 THEN
          [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]
        ELSE [] END AS g
      FROM tok
    )
    SELECT doc_id,
      CAST(len(g) AS INTEGER) AS n_grams,
      CAST(len(list_distinct(g)) AS INTEGER) AS n_uniq_grams,
      CASE WHEN len(g) > 0
           THEN CAST(1.0 AS DOUBLE) - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)
           ELSE CAST(0.0 AS DOUBLE) END AS dup_gram_frac
    FROM g
    """

# overlap via the shingle STRING here; the Spark side joins on xxhash64
# of the same strings (collision odds ~2^-64 — same pair set)
LLM_ORACLES["docs_decontaminate"] = r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 3 THEN
          list_distinct([array_to_string(toks[i:i+2], ' ')
                         FOR i IN range(1, len(toks) - 1)])
        ELSE [] END AS sh
      FROM tok
    ), ex AS (
      SELECT doc_id, unnest(sh) AS s FROM sh
    ), ev AS (
      SELECT DISTINCT s FROM ex WHERE doc_id % 97 = 0
    ), tr AS (
      SELECT DISTINCT doc_id FROM ex
      WHERE doc_id % 97 <> 0 AND s IN (SELECT s FROM ev)
    )
    SELECT d.doc_id, d.lang, d.source
    FROM tr JOIN documents d USING (doc_id)
    """


RELATIONAL_ORACLES["q14_promo_revenue"] = """
    WITH j AS (
      SELECT p_type,
        TRY_CAST(printf('%.2f', l_extendedprice) AS DECIMAL(12,2))
          * (1 - TRY_CAST(printf('%.2f', l_discount) AS DECIMAL(12,2))) AS rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-07-01'
    ), s AS (
      SELECT
        CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN rev ELSE 0 END) AS DOUBLE)
          AS promo_revenue,
        CAST(sum(rev) AS DOUBLE) AS total_revenue,
        count(*) AS n_items
      FROM j
    )
    SELECT CAST(100.0 AS DOUBLE) * promo_revenue / total_revenue AS promo_pct,
      promo_revenue, total_revenue, n_items
    FROM s
    """

RELATIONAL_ORACLES["events_moving_stats"] = """
    SELECT event_id, user_id,
      strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
      count(*) OVER w AS n_in_frame,
      min(value) OVER w AS min_val,
      max(value) OVER w AS max_val
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    """


LLM_ORACLES["dedup_incremental"] = """
    WITH h AS (
      SELECT doc_id, lang, source, md5(lower(trim(text))) AS text_hash
      FROM documents
    ), seen AS (
      SELECT DISTINCT text_hash FROM h WHERE doc_id < 250
    ), survivors AS (
      SELECT h.* FROM h
      WHERE doc_id >= 250 AND text_hash NOT IN (SELECT text_hash FROM seen)
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY text_hash ORDER BY doc_id ASC) AS rk
      FROM survivors
    )
    SELECT doc_id, text_hash, lang, source FROM ranked WHERE rk = 1
    """


RELATIONAL_ORACLES["events_view_only_users"] = """
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day FROM (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      FROM events WHERE event_type = 'view'
      EXCEPT
      SELECT DISTINCT user_id, CAST(ts AS DATE)
      FROM events WHERE event_type = 'purchase'
    )
    """

# the oracle proves the bucket equi-join equals the naive BETWEEN join
RELATIONAL_ORACLES["events_value_bands"] = """
    WITH bands AS (
      SELECT i AS band_id, i * 50.0 AS lo, (i + 1) * 50.0 AS hi
      FROM range(10) t(i)
    )
    SELECT CAST(band_id AS INTEGER) AS band_id,
      CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi,
      count(*) AS n_events,
      min(value) AS min_val, max(value) AS max_val
    FROM events JOIN bands ON value >= lo AND value < hi
    GROUP BY 1, 2, 3
    """

RELATIONAL_ORACLES["q10_returned_items"] = """
    SELECT c_custkey, c_name, n_name,
      CAST(sum(TRY_CAST(printf('%.2f', l_extendedprice) AS DECIMAL(12,2))
               * (1 - TRY_CAST(printf('%.2f', l_discount) AS DECIMAL(12,2))))
           AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-07-01'
      AND o_orderdate < TIMESTAMP '1997-10-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """

RELATIONAL_ORACLES["q12_late_shipments"] = """
    SELECT l_linestatus,
      CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY l_linestatus ORDER BY l_linestatus
    """

HYDRO_ORACLES["hydro_sensor_gaps"] = HYDRO_CTE + """
    , ts AS (
      SELECT obs_id, wlobscd,
        try_strptime(obs_time_str, '%Y-%m-%d %H:%M') AS obs_ts
      FROM parsed
    ), g AS (
      SELECT wlobscd,
        CAST(epoch(obs_ts) AS BIGINT)
          - CAST(epoch(lag(obs_ts) OVER (
              PARTITION BY wlobscd ORDER BY obs_ts, obs_id)) AS BIGINT) AS gap_s
      FROM ts WHERE obs_ts IS NOT NULL
    )
    SELECT wlobscd, count(*) AS n_gaps,
      CAST(max(gap_s) AS BIGINT) AS max_gap_s,
      CAST(sum(gap_s) AS BIGINT) AS total_gap_s
    FROM g WHERE gap_s > 7200
    GROUP BY wlobscd ORDER BY wlobscd
    """

HYDRO_ORACLES["hydro_station_obs_coverage"] = HYDRO_CTE + """
    , per_station AS (
      SELECT wlobscd, count(*) AS n_obs FROM classified GROUP BY wlobscd
    ), dim AS (
      SELECT wlobscd AS st_code FROM st
    )
    SELECT coalesce(wlobscd, st_code) AS code,
      coalesce(n_obs, 0) AS n_obs,
      st_code IS NOT NULL AS in_dim,
      wlobscd IS NOT NULL AS has_obs
    FROM per_station FULL OUTER JOIN dim ON wlobscd = st_code
    ORDER BY code
    """

WIRE_ORACLES["wire_connector_station_counts"] = f"""
    WITH obs AS ({OBS_SQL})
    SELECT CASE WHEN obs_id % 53 = 0 THEN NULL ELSE wlobscd END AS wlobscd,
      count(*) AS n,
      CAST(sum(CASE WHEN obs_id % 53 <> 0 AND wl IS NOT NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_wl,
      CAST(sum(CASE WHEN obs_id % 53 <> 0 AND fw IS NOT NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_fw
    FROM obs GROUP BY 1 ORDER BY wlobscd
    """

RELATIONAL_ORACLES["events_value_percentiles"] = """
    SELECT event_type,
      median(value) AS med,
      quantile_cont(value, 0.9) AS p90,
      count(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """

RELATIONAL_ORACLES["events_props_variant"] = """
    WITH kk AS (
      SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT k % 10 AS k_bucket, count(*) AS n,
      CAST(sum(k) AS BIGINT) AS k_sum,
      min(k) AS k_min, max(k) AS k_max
    FROM kk GROUP BY 1 ORDER BY k_bucket
    """

LLM_ORACLES["docs_chunk_windows"] = _TOK_CTE + """
    , starts AS (
      SELECT doc_id, toks,
        CAST(unnest(generate_series(1, len(toks), 64)) AS INTEGER) AS start
      FROM tok WHERE len(toks) >= 1
    )
    SELECT doc_id,
      CAST((start - 1) // 64 AS BIGINT) AS chunk_idx,
      start,
      CAST(len(list_slice(toks, start, start + 127)) AS INTEGER) AS n_chunk_toks,
      md5(array_to_string(list_slice(toks, start, start + 127), ' ')) AS chunk_hash
    FROM starts
    """

LLM_ORACLES["docs_split_assign"] = """
    SELECT lang,
      CASE WHEN ((doc_id % 2147483648) * 2654435761) % 2147483648 % 100 < 80
           THEN 'train'
           WHEN ((doc_id % 2147483648) * 2654435761) % 2147483648 % 100 < 90
           THEN 'val' ELSE 'test' END AS split,
      count(*) AS n
    FROM documents GROUP BY 1, 2 ORDER BY lang, split
    """

LLM_ORACLES["docs_curation_funnel"] = r"""
    WITH base AS (
      SELECT doc_id,
        trim(regexp_replace(regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'),
                            '\s+', ' ', 'g')) AS norm
      FROM documents
    ), flags AS (
      SELECT doc_id, norm,
        length(norm) > 0 AS nonempty,
        regexp_split_to_array(norm, '\s+') AS toks,
        md5(lower(norm)) AS h
      FROM base
    ), scored AS (
      SELECT h, nonempty, len(toks) AS n_toks,
        nonempty AND (
          (CASE WHEN len(toks) >= 20 AND len(toks) <= 1000
                THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
           + CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.3
                  THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END
           + CASE WHEN CAST(len(list_filter(toks,
                    x -> x IN ('the','a','of','and','data'))) AS DOUBLE) / len(toks)
                    BETWEEN 0.01 AND 0.5
                  THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END) >= 0.7
        ) AS quality
      FROM flags
    ), totals AS (
      SELECT count(*) AS n_total,
        CAST(sum(CASE WHEN nonempty THEN 1 ELSE 0 END) AS BIGINT) AS n_nonempty,
        CAST(sum(CASE WHEN quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
      FROM scored
    ), uniq AS (
      SELECT count(*) AS n_unique,
        CAST(sum(toks_g) AS BIGINT) AS surviving_tokens
      FROM (SELECT h, min(n_toks) AS toks_g FROM scored WHERE quality GROUP BY h)
    )
    SELECT * FROM totals, uniq
    """

RELATIONAL_ORACLES["events_range_window"] = """
    SELECT event_id, user_id,
      count(*) OVER w AS n_10m,
      min(value) OVER w AS min_10m,
      max(value) OVER w AS max_10m
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY epoch_ns(ts) // 1000000000
                 RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
    ORDER BY event_id LIMIT 2000
    """

RELATIONAL_ORACLES["dq_referential_report"] = """
    SELECT * FROM (
      SELECT 'orders_null_custkey' AS check,
        (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS violations
      UNION ALL SELECT 'orders_orphan_custkey',
        (SELECT count(*) FROM orders
         WHERE o_custkey IS NOT NULL
           AND o_custkey NOT IN (SELECT c_custkey FROM customer))
      UNION ALL SELECT 'lineitem_orphan_orderkey',
        (SELECT count(*) FROM lineitem
         WHERE l_orderkey IS NOT NULL
           AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
      UNION ALL SELECT 'customer_dup_custkey',
        (SELECT count(*) FROM
          (SELECT c_custkey FROM customer GROUP BY 1 HAVING count(*) > 1))
      UNION ALL SELECT 'events_null_user',
        (SELECT count(*) FROM events WHERE user_id IS NULL)
    ) ORDER BY "check"
    """

RELATIONAL_ORACLES["q17_small_quantity_revenue"] = """
    WITH per_part AS (
      SELECT l_partkey AS ap_key,
        CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty
      FROM lineitem GROUP BY 1
    )
    SELECT
      CAST(sum(TRY_CAST(printf('%.2f', l_extendedprice) AS DECIMAL(12,2)))
           AS DOUBLE) / 7.0 AS avg_yearly,
      count(*) AS n_small
    FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN per_part ON l_partkey = ap_key
    WHERE p_brand = 'Brand#4'
      AND CAST(l_quantity AS DOUBLE) < 0.2 * avg_qty
    """


RELATIONAL_ORACLES["tables_report"] = """
    SELECT * FROM (
    SELECT 'customer' AS table_name, (SELECT count(*) FROM customer) AS n_rows,
      CAST((SELECT count(*) FROM (DESCRIBE SELECT * FROM customer)) AS INTEGER) AS n_cols
    UNION ALL SELECT 'documents' AS table_name, (SELECT count(*) FROM documents) AS n_rows,
      CAST((SELECT count(*) FROM (DESCRIBE SELECT * FROM documents)) AS INTEGER) AS n_cols
    UNION ALL SELECT 'embeddings' AS table_name, (SELECT count(*) FROM embeddings) AS n_rows,
      CAST((SELECT count(*) FROM (DESCRIBE SELECT * FROM embeddings)) AS INTEGER) AS n_cols
    UNION ALL SELECT 'events' AS table_name, (SELECT count(*) FROM events) AS n_rows,
      CAST((SELECT count(*) FROM (DESCRIBE SELECT * FROM events)) AS INTEGER) AS n_cols
    UNION ALL SELECT 'lineitem' AS table_name, (SELECT count(*) FROM lineitem) AS n_rows,
      CAST((SELECT count(*) FROM (DESCRIBE SELECT * FROM lineitem)) AS INTEGER) AS n_cols
    UNION ALL SELECT 'nation' AS table_name, (SELECT count(*) FROM nation) AS n_rows,
      CAST((SELECT count(*) FROM (DESCRIBE SELECT * FROM nation)) AS INTEGER) AS n_cols
    UNION ALL SELECT 'orders' AS table_name, (SELECT count(*) FROM orders) AS n_rows,
      CAST((SELECT count(*) FROM (DESCRIBE SELECT * FROM orders)) AS INTEGER) AS n_cols
    UNION ALL SELECT 'part' AS table_name, (SELECT count(*) FROM part) AS n_rows,
      CAST((SELECT count(*) FROM (DESCRIBE SELECT * FROM part)) AS INTEGER) AS n_cols
    UNION ALL SELECT 'region' AS table_name, (SELECT count(*) FROM region) AS n_rows,
      CAST((SELECT count(*) FROM (DESCRIBE SELECT * FROM region)) AS INTEGER) AS n_cols
    UNION ALL SELECT 'supplier' AS table_name, (SELECT count(*) FROM supplier) AS n_rows,
      CAST((SELECT count(*) FROM (DESCRIBE SELECT * FROM supplier)) AS INTEGER) AS n_cols
    ) ORDER BY table_name
    """


RELATIONAL_ORACLES["q18_large_volume_customers"] = """
    WITH big AS (
      SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING CAST(sum(l_quantity) AS BIGINT) > 300
    )
    SELECT c_name, c_custkey, o_orderkey,
      strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      o_totalprice, total_qty
    FROM big
    JOIN orders ON o_orderkey = big.l_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """


LLM_ORACLES["docs_range_shards"] = """
    WITH t AS (
      SELECT doc_id, n_chars,
        ntile(8) OVER (ORDER BY n_chars ASC, doc_id ASC) AS shard
      FROM documents
    )
    SELECT CAST(shard AS INTEGER) AS shard, count(*) AS n_docs,
      min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM t GROUP BY shard ORDER BY shard
    """


# --- TPC-H query-shape completion (q7-q22 analogs) -----------------------

_DEC_PRICE = "TRY_CAST(printf('%.2f', l_extendedprice) AS DECIMAL(12,2))"
_DEC_DISC = "TRY_CAST(printf('%.2f', l_discount) AS DECIMAL(12,2))"

RELATIONAL_ORACLES["q7_volume_shipping"] = f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      CAST(year(l_shipdate) AS INTEGER) AS l_year,
      CAST(sum({_DEC_PRICE} * (1 - {_DEC_DISC})) AS DOUBLE) AS revenue
    FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
      AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
    GROUP BY 1, 2, 3
    """

RELATIONAL_ORACLES["q8_market_share"] = f"""
    WITH joined AS (
      SELECT year(o_orderdate) AS o_year,
        {_DEC_PRICE} * (1 - {_DEC_DISC}) AS vol,
        sn.n_name AS supp_nation
      FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region ON cn.n_regionkey = r_regionkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    )
    SELECT CAST(o_year AS INTEGER) AS o_year,
      CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0 END) AS DOUBLE)
        / CAST(sum(vol) AS DOUBLE) AS mkt_share,
      CAST(sum(vol) AS DOUBLE) AS total_vol
    FROM joined GROUP BY 1
    """

RELATIONAL_ORACLES["q9_product_profit"] = f"""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
      CAST(sum({_DEC_PRICE} * (1 - {_DEC_DISC})
               - TRY_CAST(printf('%.2f', p_retailprice) AS DECIMAL(12,2))
                 * CAST(0.6 AS DECIMAL(3,2))
                 * CAST(l_quantity AS DECIMAL(12,0))) AS DOUBLE) AS sum_profit
    FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """

RELATIONAL_ORACLES["q11_important_parts"] = """
    WITH traded AS (
      SELECT l_partkey,
        sum(TRY_CAST(printf('%.2f', l_extendedprice) AS DECIMAL(12,2))) AS value_dec
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      WHERE s_nationkey % 5 = 1
      GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM traded
    WHERE CAST(value_dec AS DOUBLE)
      > 2.0 * (SELECT CAST(sum(value_dec) AS DOUBLE) / count(*) FROM traded)
    """

RELATIONAL_ORACLES["q13_customer_order_distribution"] = """
    WITH per_cust AS (
      SELECT o_custkey, count(*) AS n FROM orders
      WHERE o_orderpriority <> '1-URGENT'
      GROUP BY o_custkey
    )
    SELECT COALESCE(n, 0) AS c_count, count(*) AS custdist
    FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
    GROUP BY 1
    """

RELATIONAL_ORACLES["q15_top_supplier"] = f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
        sum({_DEC_PRICE} * (1 - {_DEC_DISC})) AS rev_dec
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
    FROM revenue JOIN supplier ON supplier_no = s_suppkey
    WHERE rev_dec = (SELECT max(rev_dec) FROM revenue)
    """

RELATIONAL_ORACLES["q16_part_supplier_counts"] = """
    SELECT p_brand, p_type, p_size,
      count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """

RELATIONAL_ORACLES["q19_disjunctive_revenue"] = f"""
    SELECT CAST(sum({_DEC_PRICE} * (1 - {_DEC_DISC})) AS DOUBLE) AS revenue,
      count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 50
           AND l_quantity BETWEEN 20 AND 30)
    """

RELATIONAL_ORACLES["q20_part_share_suppliers"] = """
    WITH per_sp AS (
      SELECT l_partkey, l_suppkey,
        CAST(sum(floor(l_quantity)::BIGINT) AS BIGINT) AS sp_qty
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE 'small%'
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY 1, 2
    ),
    per_part AS (
      SELECT l_partkey AS pp_key,
        CAST(sum(sp_qty) AS DOUBLE) / count(*) AS avg_sp_qty
      FROM per_sp GROUP BY 1
    ),
    qualifying AS (
      SELECT DISTINCT l_suppkey
      FROM per_sp JOIN per_part ON l_partkey = pp_key
      WHERE CAST(sp_qty AS DOUBLE) > 0.5 * avg_sp_qty
    )
    SELECT s_suppkey, s_name
    FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_7'
      AND s_suppkey IN (SELECT l_suppkey FROM qualifying)
    ORDER BY s_suppkey
    """

RELATIONAL_ORACLES["q21_waiting_suppliers"] = """
    WITH base AS (
      SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
    ),
    l1 AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM base
      WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
    ),
    sole_late AS (
      SELECT l_orderkey, l_suppkey FROM l1
      WHERE EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM base l3
          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > l3.o_orderdate + INTERVAL 90 DAY)
    )
    SELECT s_name, count(*) AS numwait
    FROM sole_late JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 20
    """

RELATIONAL_ORACLES["q22_idle_customers"] = """
    WITH cust AS (
      SELECT * FROM customer WHERE c_nationkey IN (0, 1, 2, 3, 4, 5, 6)
    ),
    avg_bal AS (
      SELECT CAST(sum(TRY_CAST(printf('%.2f', c_acctbal) AS DECIMAL(12,2)))
                  AS DOUBLE) / count(*) AS avg_bal
      FROM cust WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey AS cntrycode, count(*) AS numcust,
      CAST(sum(TRY_CAST(printf('%.2f', c_acctbal) AS DECIMAL(12,2))) AS DOUBLE)
        AS totacctbal
    FROM cust, avg_bal
    WHERE CAST(c_acctbal AS DOUBLE) > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY 1
    """


# --- round-3 curation additions ------------------------------------------

LLM_ORACLES["docs_gopher_quality"] = _TOK_CTE + """
    , per_doc AS (
      SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_toks,
        round(CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                   AS DOUBLE) / len(toks), 4) AS mean_wlen,
        round(CAST(len(list_filter(toks, x -> length(x) <= 2)) AS DOUBLE)
              / len(toks), 4) AS frac_short
      FROM tok
    ),
    top AS (
      SELECT doc_id, max(c) AS top_cnt FROM (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS tok FROM tok)
        GROUP BY doc_id, tok
      ) GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_toks, p.mean_wlen, p.frac_short,
      round(CAST(top_cnt AS DOUBLE) / p.n_toks, 4) AS top_frac,
      (p.n_toks >= 30 AND p.mean_wlen BETWEEN 2.5 AND 10.0
       AND p.frac_short <= 0.3
       AND CAST(top_cnt AS DOUBLE) / p.n_toks <= 0.2) AS keep
    FROM per_doc p JOIN top USING (doc_id)
    """

# Exact collision statistics (r15 migration of the ln-emitting token
# entropy — SCALE.md watch list): simpson / eff_vocab / top_share as
# the identical two-chained-division expressions the Spark side runs.
LLM_ORACLES["docs_token_concentration"] = _TOK_CTE + """
    , counts AS (
      SELECT doc_id, n, tok, count(*) AS c FROM (
        SELECT doc_id, len(toks) AS n, unnest(toks) AS tok FROM tok)
      GROUP BY doc_id, n, tok
    ),
    per_doc AS (
      SELECT doc_id, n, count(*) AS n_distinct,
        sum(c * c) AS sum_c2, max(c) AS c_max
      FROM counts GROUP BY doc_id, n
    )
    SELECT doc_id, CAST(n AS INTEGER) AS n_toks,
      CAST(n_distinct AS BIGINT) AS n_distinct,
      CAST(sum_c2 AS BIGINT) AS sum_c2,
      round(CAST(sum_c2 AS DOUBLE) / CAST(n AS DOUBLE)
            / CAST(n AS DOUBLE), 4) AS simpson,
      round(CAST(n AS DOUBLE) / CAST(sum_c2 AS DOUBLE)
            * CAST(n AS DOUBLE), 4) AS eff_vocab,
      round(CAST(c_max AS DOUBLE) / CAST(n AS DOUBLE), 4) AS top_share
    FROM per_doc
    """

RELATIONAL_ORACLES["orders_salted_revenue"] = """
    SELECT o_orderpriority, count(*) AS n_items,
      CAST(sum(TRY_CAST(printf('%.2f', l_extendedprice) AS DECIMAL(12,2))
               * (1 - TRY_CAST(printf('%.2f', l_discount) AS DECIMAL(12,2))))
           AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """


RELATIONAL_ORACLES["copurchase_jaccard_parts"] = """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    deg AS (SELECT u AS p, count(*) AS deg FROM sym GROUP BY 1),
    common AS (
      SELECT s1.v AS a, s2.v AS b, count(*) AS n_common
      FROM sym s1 JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT a, b, n_common, da.deg AS deg_a, db.deg AS deg_b,
      CAST(n_common AS DOUBLE)
        / CAST(da.deg + db.deg - n_common AS DOUBLE) AS jaccard
    FROM common JOIN deg da ON a = da.p JOIN deg db ON b = db.p
    """


RELATIONAL_ORACLES["orders_seasonal_decomposition"] = """
    -- int->double ceilings audited r14: 7*daily n <= 630 at sf0.1
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT d, n, sum(n) OVER w AS sum7, count(*) OVER w AS n_win
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    )
    SELECT CAST(isodow(d) AS INTEGER) AS isodow, dayname(d) AS day_name,
      count(*) AS n_days, CAST(sum(n) AS BIGINT) AS total_orders,
      CAST(sum(7 * n - sum7) /* int<2^53 */ AS DOUBLE)
        / CAST(7 * count(*) AS DOUBLE) AS avg_residual
    FROM t WHERE n_win = 7
    GROUP BY 1, 2
    """


LLM_ORACLES["docs_substring_dedup"] = _TOK_CTE + r"""
    , grams AS (
      SELECT doc_id, source, i AS pos,
        md5(array_to_string(toks[i + 1 : i + 8], ' ')) AS h
      FROM tok, unnest(range(0, len(toks) - 7)) AS u(i)
    ),
    dup AS (
      SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    cov AS (
      SELECT doc_id, source,
        CASE WHEN lag(pos) OVER w IS NULL THEN 8
             ELSE least(8, pos - lag(pos) OVER w) END AS cover
      FROM grams JOIN dup USING (h)
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    per_src_dup AS (
      SELECT source, count(DISTINCT doc_id) AS dup_docs,
        CAST(sum(cover) AS BIGINT) AS dup_tokens
      FROM cov GROUP BY source
    ),
    totals AS (
      SELECT source, count(*) AS n_docs,
        CAST(sum(len(toks)) AS BIGINT) AS total_tokens
      FROM tok GROUP BY source
    )
    SELECT t.source, t.n_docs, t.total_tokens,
      CAST(COALESCE(d.dup_docs, 0) AS BIGINT) AS dup_docs,
      CAST(COALESCE(d.dup_tokens, 0) AS BIGINT) AS dup_tokens,
      CAST(COALESCE(d.dup_tokens, 0) AS DOUBLE)
        / CAST(t.total_tokens AS DOUBLE) AS dup_token_frac
    FROM totals t LEFT JOIN per_src_dup d USING (source)
    """


LLM_ORACLES["docs_segment_dedup"] = _TOK_CTE + """
    , segs AS (
      SELECT doc_id,
        md5(array_to_string(list_slice(toks, (i - 1) * 10 + 1, i * 10), ' ')) AS h
      FROM tok,
        unnest(generate_series(1, CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS u(i)
    ),
    df_tbl AS (SELECT h, count(*) AS df FROM segs GROUP BY h)
    SELECT doc_id, count(*) AS n_segments,
      CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
      round(CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*), 4) AS shared_frac
    FROM segs JOIN df_tbl USING (h)
    GROUP BY doc_id
    """


# The resample twin mirrors the pandas grouped-map term-for-term:
# exact DECIMAL bucket means, then np.interp's slope arithmetic
# (slope = dy/dsteps; value = slope*steps + y0) over the 10-min grid.
HYDRO_ORACLES["hydro_resample_10min"] = HYDRO_CTE + """
    , base AS (
      SELECT wlobscd, try_strptime(obs_time_str, '%Y-%m-%d %H:%M') AS ts,
        TRY_CAST(printf('%.2f', water_level) AS DECIMAL(12,2)) AS wl_dec
      FROM classified
      WHERE water_level IS NOT NULL
    ),
    bm AS (
      SELECT wlobscd, time_bucket(INTERVAL 10 MINUTE, ts) AS bts,
        CAST(sum(wl_dec) AS DOUBLE) / count(*) AS wl
      FROM base WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    spans AS (SELECT wlobscd, min(bts) AS t0, max(bts) AS t1 FROM bm GROUP BY 1),
    grid AS (
      SELECT wlobscd, unnest(generate_series(t0, t1, INTERVAL 10 MINUTE)) AS gts
      FROM spans
    ),
    j AS (
      SELECT g.wlobscd, g.gts, bm.wl
      FROM grid g LEFT JOIN bm ON bm.wlobscd = g.wlobscd AND bm.bts = g.gts
    ),
    w AS (
      SELECT *,
        last_value(wl IGNORE NULLS) OVER (PARTITION BY wlobscd ORDER BY gts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_wl,
        last_value(CASE WHEN wl IS NOT NULL THEN gts END IGNORE NULLS) OVER (
          PARTITION BY wlobscd ORDER BY gts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_ts,
        first_value(wl IGNORE NULLS) OVER (PARTITION BY wlobscd ORDER BY gts
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_wl,
        first_value(CASE WHEN wl IS NOT NULL THEN gts END IGNORE NULLS) OVER (
          PARTITION BY wlobscd ORDER BY gts
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts
      FROM j
    ),
    filled AS (
      SELECT wlobscd, gts, wl,
        CASE WHEN wl IS NOT NULL THEN wl
             WHEN prev_wl IS NOT NULL AND next_wl IS NOT NULL THEN
               (next_wl - prev_wl)
                 / CAST(date_diff('minute', prev_ts, next_ts) // 10 AS DOUBLE)
                 * CAST(date_diff('minute', prev_ts, gts) // 10 AS DOUBLE)
               + prev_wl
        END AS v
      FROM w
    )
    SELECT wlobscd, count(*) AS n_grid,
      CAST(sum(CASE WHEN wl IS NULL AND v IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_interp,
      max(v) AS max_wl
    FROM filled WHERE v IS NOT NULL
    GROUP BY wlobscd
    """


# UTF-8 byte list shared by the multimodal oracle faces: bytes are
# decoded from hex(encode(text)) so the oracle operates on the SAME
# byte domain as the Spark faces (which sum bytes of the UTF-8 blob).
# The previous ord(substr(text, ...)) form returned CODEPOINTS — equal
# to bytes only while the corpus stays ASCII; one non-ASCII document
# in future testdata would silently desynchronize window/patch grids
# AND energies on all three multimodal oracles at once.
_UTF8_BYTES_CTE = """
    WITH hx AS (
      SELECT doc_id, octet_length(encode(text)) AS n,
        hex(encode(text)) AS h
      FROM documents
    ),
    chars AS (
      SELECT doc_id, n,
        list_transform(range(0, n),
          j -> (strpos('0123456789ABCDEF', substr(h, 2 * j + 1, 1)) - 1) * 16
             + (strpos('0123456789ABCDEF', substr(h, 2 * j + 2, 1)) - 1)
        ) AS bytes
      FROM hx
    )
"""


# The multimodal fake-decode twin: the byte-histogram stand-in is pure
# arithmetic over the UTF-8 payload (byte list via _UTF8_BYTES_CTE, so
# the domain matches the Spark blob face byte-for-byte on any corpus).
LLM_ORACLES["multimodal_features"] = _UTF8_BYTES_CTE + """
    SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
      round(CAST(len(list_filter(bytes, b -> b % 16 = 0)) AS DOUBLE)
            / (CASE WHEN n = 0 THEN 1.0 ELSE CAST(n AS DOUBLE) END),
            6) AS bin0,
      round(CAST(len(list_filter(bytes, b -> b % 16 = 1)) AS DOUBLE)
            / (CASE WHEN n = 0 THEN 1.0 ELSE CAST(n AS DOUBLE) END),
            6) AS bin1
    FROM chars
    """


RELATIONAL_ORACLES["events_retention_cohorts"] = """
    WITH first AS (
      SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
      CAST(date_diff('day', CAST(cohort_week AS DATE), CAST(act_week AS DATE)) // 7
           AS INTEGER) AS week_offset,
      count(DISTINCT user_id) AS n_users
    FROM act JOIN first USING (user_id)
    GROUP BY 1, 2
    """

RELATIONAL_ORACLES["events_peak_window_traffic"] = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS cnt
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT event_type, h, row_number() OVER (
        PARTITION BY event_type, date_trunc('day', h)
        ORDER BY cnt DESC, h ASC) AS rk
      FROM hourly
    ), win AS (
      SELECT event_type, h - INTERVAL 30 MINUTE AS w_start,
        h + INTERVAL 90 MINUTE AS w_end
      FROM ranked WHERE rk = 1
    )
    SELECT w.event_type, w.w_start, count(*) AS n_in_window
    FROM win w JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
    GROUP BY 1, 2 ORDER BY 1, 2
    """

RELATIONAL_ORACLES["events_hll_accuracy"] = """
    SELECT event_type,
      count(DISTINCT date_trunc('day', ts)) AS n_days,
      count(DISTINCT user_id) AS exact_users,
      TRUE AS within_5pct
    FROM events GROUP BY event_type ORDER BY event_type
    """

RELATIONAL_ORACLES["events_conversion_funnel"] = """
    WITH s AS (
      SELECT user_id, min(ts) AS t_signup FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    v AS (
      SELECT e.user_id, min(e.ts) AS t_view
      FROM events e JOIN s USING (user_id)
      WHERE e.event_type = 'view' AND e.ts > s.t_signup
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > v.t_view
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM s) AS n_signup,
      (SELECT count(*) FROM v) AS n_view_after,
      (SELECT count(*) FROM p) AS n_purchase_after
    """


# --- MinHash kernel probe: exact integer twin --------------------------------
# The (a, b) permutation constants come from the same generator the
# production kernel uses (operators/dedup.minhash_params) — single
# source, no drift. All arithmetic is HUGEINT mod 2^64, then wrapped to
# signed int64 to match numpy's uint64->int64 view.

# shared CTE prefix: per-doc distinct 5-token shingles -> 60-bit md5
# base hash per shingle (the portable twin of shingle_array + md5 conv)
_MINHASH_HV_CTE = r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 5 THEN
          list_distinct([array_to_string(toks[i:i+4], ' ')
                         FOR i IN range(1, len(toks) - 3)])
        ELSE [array_to_string(toks, ' ')] END AS shingles
      FROM tok
    ), hv AS (
      SELECT doc_id,
        list_reduce(
          list_transform(range(1, 16),
            i -> strpos('0123456789abcdef', substr(md5(s), i, 1)) - 1),
          (acc, d) -> acc * 16 + d)::HUGEINT AS h
      FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
    )"""

_TWO64 = 1 << 64
_TWO63 = 1 << 63


def _minhash_mexpr(a: int, b: int) -> str:
    return f"min((CAST({a} AS HUGEINT) * h + {b}) % {_TWO64})"


def _signed64(col: str) -> str:
    return (
        f"CAST(CASE WHEN {col} >= {_TWO63} THEN {col} - {_TWO64} "
        f"ELSE {col} END AS BIGINT)"
    )


def _minhash_probe_sql() -> str:
    from hrfco_data_pipeline_spark.operators.dedup import minhash_params

    a, b = minhash_params(2)
    return (
        _MINHASH_HV_CTE
        + f""", m AS (
      SELECT doc_id, {_minhash_mexpr(int(a[0]), int(b[0]))} AS r0,
        {_minhash_mexpr(int(a[1]), int(b[1]))} AS r1
      FROM hv GROUP BY doc_id
    )
    SELECT doc_id, {_signed64('r0')} AS m0, {_signed64('r1')} AS m1 FROM m
    """
    )


LLM_ORACLES["minhash_sig_probe"] = _minhash_probe_sql()


# Full-banding MinHash-LSH twin: k=8 portable signatures -> 4 bands of
# 2 values -> bucket string (comma-joined signed int64 renderings, the
# exact key lsh_candidate_pairs builds) -> bucket self-join pair dedup
# -> est_jaccard = matching positions / 8 (exact multiples of 0.125).
def _minhash_band_pairs_sql(k: int = 8, bands: int = 4) -> str:
    from hrfco_data_pipeline_spark.operators.dedup import minhash_params

    a, b = minhash_params(k)
    rows = k // bands
    mins = ", ".join(
        f"{_minhash_mexpr(int(a[i]), int(b[i]))} AS r{i}" for i in range(k)
    )
    sig_list = "[" + ", ".join(_signed64(f"r{i}") for i in range(k)) + "]"
    bucket = " || ',' || ".join(
        f"sig[band.b * {rows} + {j + 1}]::VARCHAR" for j in range(rows)
    )
    return (
        _MINHASH_HV_CTE
        + f""", m AS (
      SELECT doc_id, {mins} FROM hv GROUP BY doc_id
    ), sigs AS (
      SELECT doc_id, {sig_list} AS sig FROM m
    ), banded AS (
      SELECT doc_id, band.b AS band, {bucket} AS bucket
      FROM sigs, (SELECT unnest(range(0, {bands})) AS b) band
    ), pairs AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    )
    SELECT p.id_a, p.id_b,
      list_sum(list_transform(range(1, {k + 1}),
        i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))::DOUBLE
        / {k} AS est_jaccard
    FROM pairs p
    JOIN sigs sa ON sa.doc_id = p.id_a
    JOIN sigs sb ON sb.doc_id = p.id_b
    """
    )


LLM_ORACLES["minhash_band_pairs_probe"] = _minhash_band_pairs_sql()


# Full near-dedup workflow twin: portable banded pairs above the
# est-Jaccard threshold -> undirected edges -> recursive
# min-reachable-label components (the exact semantics of the pointer-
# jumped connected_components operator) -> min-id survivor per cluster.
def _near_dedup_probe_sql(
    k: int = 8, bands: int = 4, threshold: str = "0.7"
) -> str:
    from hrfco_data_pipeline_spark.operators.dedup import minhash_params

    a, b = minhash_params(k)
    rows = k // bands
    mins = ", ".join(
        f"{_minhash_mexpr(int(a[i]), int(b[i]))} AS r{i}" for i in range(k)
    )
    sig_list = "[" + ", ".join(_signed64(f"r{i}") for i in range(k)) + "]"
    bucket = " || ',' || ".join(
        f"sig[band.b * {rows} + {j + 1}]::VARCHAR" for j in range(rows)
    )
    prefix = _MINHASH_HV_CTE.replace("WITH tok", "WITH RECURSIVE tok", 1)
    return (
        prefix
        + f""", m AS (
      SELECT doc_id, {mins} FROM hv GROUP BY doc_id
    ), sigs AS (
      SELECT doc_id, {sig_list} AS sig FROM m
    ), banded AS (
      SELECT doc_id, band.b AS band, {bucket} AS bucket
      FROM sigs, (SELECT unnest(range(0, {bands})) AS b) band
    ), cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    ), jp AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.id_a
      JOIN sigs sb ON sb.doc_id = c.id_b
      WHERE list_sum(list_transform(range(1, {k + 1}),
        i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))::DOUBLE
        / {k} >= {threshold}
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM jp
      UNION
      SELECT id_b, id_a FROM jp
    ), reach AS (
      SELECT src AS id, src AS r FROM edges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ), comp AS (
      SELECT id, min(r) AS component FROM reach GROUP BY id
    ), keep AS (
      SELECT component, min(id) AS keep_id FROM comp GROUP BY component
    )
    SELECT c.id AS doc_id, c.component AS cluster_id,
      (c.id = k2.keep_id) AS kept
    FROM comp c JOIN keep k2 ON c.component = k2.component
    """
    )


LLM_ORACLES["near_dedup_probe"] = _near_dedup_probe_sql()


# SimHash kernel probe twin: per-token 60-bit md5 hashes, bit votes
# with multiplicity, majority -> bit set. Pure integer arithmetic.
LLM_ORACLES["simhash_probe"] = r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), hv AS (
      SELECT doc_id,
        list_reduce(
          list_transform(range(1, 16),
            i -> strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1),
          (acc, d) -> acc * 16 + d)::BIGINT AS h
      FROM (SELECT doc_id, unnest(toks) AS t FROM tok)
    ), bits AS (
      SELECT doc_id, j,
        sum(2 * ((h // (1::BIGINT << j)) % 2) - 1) AS votes
      FROM hv, unnest(range(0, 60)) AS u(j)
      GROUP BY doc_id, j
    )
    SELECT doc_id,
      CAST(sum(CASE WHEN votes > 0 THEN (1::BIGINT << j) ELSE 0 END)
           AS BIGINT) AS simhash60
    FROM bits GROUP BY doc_id
    """


# Full SimHash pairing twin: the same 60-bit portable fingerprints as
# simhash_probe, then the production pigeonhole path — 4 x 16-bit
# chunk blocking, bucket self-join, pair dedup, Hamming <= 3 filter.
# Pure integer arithmetic end to end.
LLM_ORACLES["simhash_pairs_probe"] = r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), hv AS (
      SELECT doc_id,
        list_reduce(
          list_transform(range(1, 16),
            i -> strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1),
          (acc, d) -> acc * 16 + d)::BIGINT AS h
      FROM (SELECT doc_id, unnest(toks) AS t FROM tok)
    ), bits AS (
      SELECT doc_id, j,
        sum(2 * ((h // (1::BIGINT << j)) % 2) - 1) AS votes
      FROM hv, unnest(range(0, 60)) AS u(j)
      GROUP BY doc_id, j
    ), fp AS (
      SELECT doc_id,
        CAST(sum(CASE WHEN votes > 0 THEN (1::BIGINT << j) ELSE 0 END)
             AS BIGINT) AS sh
      FROM bits GROUP BY doc_id
    )
    -- NAIVE all-pairs truth (no blocking): a hash-match against the
    -- Spark side's 16-bit pigeonhole path certifies the blocking is
    -- LOSSLESS for Hamming <= 3 (any 3-bit difference leaves at least
    -- one of the 4 chunks untouched), not merely self-consistent.
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """


# Sign-LSH probe twin: same plane constants (single source:
# operators/similarity.hyperplane_planes), same fold-left dot from 0.0
# (list_prepend(0.0, ...) makes list_reduce start at 0.0 like Spark's
# F.aggregate), literal doubles embedded via repr (exact round-trip).
def _lsh_probe_sql() -> str:
    from hrfco_data_pipeline_spark.operators.similarity import (
        hyperplane_planes,
    )

    planes = hyperplane_planes(dim=64, n_planes=16, seed=42)

    def dot_j(plane: list[float]) -> str:
        lits = "[" + ", ".join(repr(x) for x in plane) + "]"
        return (
            "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
            f"i -> embedding[i]::DOUBLE * ({lits})[i])), (acc, x) -> acc + x)"
        )

    sig = " + ".join(
        f"(CASE WHEN {dot_j(p)} > 0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
        for j, p in enumerate(planes)
    )
    return f"SELECT vec_id, CAST({sig} AS BIGINT) AS sig FROM embeddings"


LLM_ORACLES["lsh_sig_probe"] = _lsh_probe_sql()


def _fold_dot(a: str, b: str, dim: int = 64) -> str:
    """Fold-left dot product over DOUBLE[] expressions — the exact twin
    of operators/similarity.dot (F.aggregate over zip_with from 0.0):
    same association order, so the result is bit-identical."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {dim + 1}), "
        f"i -> {a}[i] * {b}[i])), (acc, x) -> acc + x)"
    )


def _lsh_sig_over_v(dim: int = 64, n_planes: int = 16, seed: int = 42) -> str:
    """16-plane sign-LSH signature over a DOUBLE[] column ``v`` — the
    same plane literals (single source: similarity.hyperplane_planes,
    repr round-trips doubles exactly) and fold order as
    hyperplane_signature."""
    from hrfco_data_pipeline_spark.operators.similarity import (
        hyperplane_planes,
    )

    planes = hyperplane_planes(dim=dim, n_planes=n_planes, seed=seed)

    def dot_j(plane: list[float]) -> str:
        lits = "[" + ", ".join(repr(x) for x in plane) + "]"
        return _fold_dot("v", f"({lits})", dim)

    return " + ".join(
        f"(CASE WHEN {dot_j(p)} > 0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
        for j, p in enumerate(planes)
    )


# Sign-LSH top-k twin: same banded candidate generation (4 bands x
# 4 bits of the 16-plane signature), same raw-cosine ranking — every
# double involved is bit-identical (literal planes + fold-left dots),
# so candidates and ranks agree exactly; only the projection rounds.
def _lsh_topk_sql(bands: int = 4, rows: int = 4) -> str:
    mask = (1 << rows) - 1
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), s AS (
      SELECT vec_id, v, sqrt({_fold_dot("v", "v")}) AS nrm,
        CAST({_lsh_sig_over_v()} AS BIGINT) AS sig
      FROM e
    ), banded AS (
      SELECT vec_id, nrm, band, (sig >> (band * {rows})) & {mask} AS bits
      FROM s, (SELECT unnest(range(0, {bands})) AS band)
    ), qb AS (
      SELECT * FROM banded WHERE vec_id % 50 = 0
    ), cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM banded c JOIN qb ON c.band = qb.band AND c.bits = qb.bits
        AND c.vec_id <> qb.vec_id
    ), scored AS (
      SELECT cand.query_id, cand.neighbor_id,
        {_fold_dot("qe.v", "ce.v")} / (qe.nrm * ce.nrm) AS cos_raw
      FROM cand
      JOIN s qe ON qe.vec_id = cand.query_id
      JOIN s ce ON ce.vec_id = cand.neighbor_id
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, round(cos_raw, 4) AS cos_sim,
      CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 5
    """


LLM_ORACLES["lsh_cosine_topk"] = _lsh_topk_sql()


# Sign-LSH near-dup pair twin: banded self-join (id_a < id_b), exact
# threshold cut on the raw fold-left cosine (bit-identical both sides;
# 0.35 parses to the same double in Python, Spark SQL, and DuckDB).
def _lsh_near_dup_sql(bands: int = 4, rows: int = 4, threshold: str = "0.35") -> str:
    mask = (1 << rows) - 1
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), s AS (
      SELECT vec_id, v, sqrt({_fold_dot("v", "v")}) AS nrm,
        CAST({_lsh_sig_over_v()} AS BIGINT) AS sig
      FROM e
    ), banded AS (
      SELECT vec_id, band, (sig >> (band * {rows})) & {mask} AS bits
      FROM s, (SELECT unnest(range(0, {bands})) AS band)
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.bits = b.bits
        AND a.vec_id < b.vec_id
    ), scored AS (
      SELECT cand.id_a, cand.id_b,
        {_fold_dot("ae.v", "be.v")} / (ae.nrm * be.nrm) AS cos_raw
      FROM cand
      JOIN s ae ON ae.vec_id = cand.id_a
      JOIN s be ON be.vec_id = cand.id_b
    )
    SELECT id_a, id_b, round(cos_raw, 4) AS cos_sim
    FROM scored WHERE cos_raw >= {threshold}
    """


LLM_ORACLES["embedding_near_dups"] = _lsh_near_dup_sql()


# IVF-flat ANN twin: recomputes the exact centroid doubles from the
# same portable integer arithmetic the Spark side uses (md5-60bit cell
# pre-assignment, floor-quantized integer sums, correctly-rounded
# S/(n*quant) division — see operators/similarity.ivf_centroids), then
# the same fold-left argmax assignment and raw-cosine ranking. All
# doubles are bit-identical between engines, so ranking happens on raw
# values; only the final projection rounds.
def _ivf_topk_sql(n_centroids: int = 16, dim: int = 64, quant: int = 1_000_000) -> str:
    h60 = (
        "list_reduce(list_transform(range(1, 16), "
        "i -> strpos('0123456789abcdef', substr(md5(vec_id::VARCHAR), i, 1)) - 1), "
        "(acc, d) -> acc * 16 + d)::BIGINT"
    )
    sums = ", ".join(
        f"sum(floor(v[{i + 1}] * {quant}.0)::BIGINT) AS s{i}" for i in range(dim)
    )
    cvec = (
        "["
        + ", ".join(f"s{i}::DOUBLE / (n * {quant})::DOUBLE" for i in range(dim))
        + "]"
    )
    zeros = "[" + ", ".join("0.0" for _ in range(dim)) + "]"

    def fold(a: str, b: str) -> str:
        return _fold_dot(a, b, dim)

    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), h AS (
      SELECT vec_id, v, {h60} % {n_centroids} AS c FROM e
    ), sums AS (
      SELECT c, count(*) AS n, {sums} FROM h GROUP BY c
    ), cents AS (
      SELECT r.range AS c,
        CASE WHEN s.n IS NULL THEN {zeros} ELSE {cvec} END AS cv
      FROM range(0, {n_centroids}) r LEFT JOIN sums s ON s.c = r.range
    ), cmat AS (
      SELECT list(cv ORDER BY c) AS m FROM cents
    ), dotted AS (
      SELECT vec_id, v, list_transform(cm.m, cv -> {fold("v", "cv")}) AS dots
      FROM h, cmat cm
    ), assigned AS (
      SELECT vec_id, v, sqrt({fold("v", "v")}) AS nrm,
        list_position(dots, list_max(dots)) - 1 AS cell
      FROM dotted
    ), q AS (
      SELECT vec_id AS query_id, v AS qv, nrm AS qn, cell
      FROM assigned WHERE vec_id % 50 = 0
    ), scored AS (
      SELECT q.query_id, a.vec_id AS neighbor_id,
        {fold("q.qv", "a.v")} / (q.qn * a.nrm) AS cos_raw
      FROM assigned a JOIN q ON a.cell = q.cell AND a.vec_id <> q.query_id
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, round(cos_raw, 4) AS cos_sim,
      CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 5
    """


LLM_ORACLES["ivf_cosine_topk"] = _ivf_topk_sql()


# Prefix-filtered exact-threshold similarity join: the oracle is the
# NAIVE all-pairs answer, so a hash-match proves the PPJoin-style
# candidate pruning (operators/dedup.prefix_jaccard_pairs) is lossless.
LLM_ORACLES["docs_simjoin_prefix"] = _TOK_CTE + r"""
    , sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 5 THEN
          list_distinct([array_to_string(toks[i:i+4], ' ')
                         FOR i IN range(1, len(toks) - 3)])
        ELSE [array_to_string(toks, ' ')] END AS s
      FROM tok
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS common,
        len(a.s) AS na, len(b.s) AS nb
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, common,
      CAST(common AS DOUBLE) / (na + nb - common) AS jaccard
    FROM pairs
    WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.5
    """


# Bloom-filter decontamination: the filter is pure md5/integer
# arithmetic (two 60-bit md5 slice hashes, k=3 double-hashed positions
# mod 2^16), so DuckDB rebuilds the identical bit set and the compare
# certifies both the no-false-negative invariant and the exact counts.
# Shared by docs_bloom_decontaminate and docs_contamination_heatmap:
# the full Bloom-filter rebuild (m=2^16 bits, k=3 Kirsch-Mitzenmaucher
# probes over two 60-bit md5 slices) up through the per-doc hit counts.
_BLOOM_CTE = r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 3 THEN
          list_distinct([array_to_string(toks[i:i+2], ' ')
                         FOR i IN range(1, len(toks) - 1)])
        ELSE [array_to_string(toks, ' ')] END AS shingles
      FROM tok
    ), hashed AS (
      SELECT doc_id, s,
        list_reduce(list_transform(range(1, 16),
          i -> strpos('0123456789abcdef', substr(md5(s), i, 1)) - 1),
          (acc, d) -> acc * 16 + d) AS h1,
        list_reduce(list_transform(range(17, 32),
          i -> strpos('0123456789abcdef', substr(md5(s), i, 1)) - 1),
          (acc, d) -> acc * 16 + d) AS h2
      FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
    ), positions AS (
      SELECT DISTINCT (h1 + j * h2) % 65536 AS pos
      FROM hashed, range(0, 3) t(j) WHERE doc_id % 97 = 0
    ), eval_exact AS (
      SELECT DISTINCT s FROM hashed WHERE doc_id % 97 = 0
    ), train AS (
      SELECT doc_id, s, h1, h2 FROM hashed WHERE doc_id % 97 <> 0
    ), bloom_hit AS (
      SELECT doc_id, s FROM (
        SELECT tr.doc_id, tr.s, tr.j FROM (
          SELECT doc_id, s, j, (h1 + j * h2) % 65536 AS pos
          FROM train, range(0, 3) t(j)
        ) tr JOIN positions USING (pos)
      ) GROUP BY doc_id, s HAVING count(DISTINCT j) = 3
    ), exact_hit AS (
      SELECT doc_id, count(*) AS exact_hits FROM (
        SELECT doc_id, s FROM train SEMI JOIN eval_exact USING (s)
      ) GROUP BY doc_id
    ), bloom_counts AS (
      SELECT doc_id, count(*) AS bloom_hits FROM bloom_hit GROUP BY doc_id
    )
"""

LLM_ORACLES["docs_bloom_decontaminate"] = _BLOOM_CTE + """
    SELECT b.doc_id, b.bloom_hits,
      coalesce(e.exact_hits, 0) AS exact_hits,
      coalesce(e.exact_hits, 0) = 0 AS is_false_positive
    FROM bloom_counts b LEFT JOIN exact_hit e USING (doc_id)
    """

# Per-source × shard contamination heatmap: the decontamination pass
# as a QA surface — every TRAIN cell present (left join), so a driver
# green certifies counts even on a contamination-free corpus.
LLM_ORACLES["docs_contamination_heatmap"] = _BLOOM_CTE + """
    , perdoc AS (
      SELECT b.doc_id, b.bloom_hits, coalesce(e.exact_hits, 0) AS exact_hits
      FROM bloom_counts b LEFT JOIN exact_hit e USING (doc_id)
    )
    SELECT d.source, d.doc_id % 7 AS shard,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(count(p.doc_id) AS BIGINT) AS n_bloom_flagged,
      CAST(sum(CASE WHEN p.exact_hits > 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_contaminated,
      CAST(sum(CASE WHEN p.doc_id IS NOT NULL AND p.exact_hits = 0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
      round(CAST(count(p.doc_id) AS DOUBLE) / count(*), 4) AS flagged_pct
    FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
    WHERE d.doc_id % 97 <> 0
    GROUP BY 1, 2
    """


# Z-order layout audit: quantization, Morton interleave, and shard
# bounds are pure integer arithmetic — DuckDB reproduces them exactly.
RELATIONAL_ORACLES["lineitem_zorder_layout"] = r"""
    WITH b AS (
      SELECT min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
             min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
      FROM lineitem
    ), q AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
        ((l_partkey - min_pk) * 256) // (max_pk - min_pk + 1) AS qx,
        ((l_suppkey - min_sk) * 256) // (max_sk - min_sk + 1) AS qy
      FROM lineitem, b
    ), z AS (
      SELECT pk, sk,
        (((qx >> 0) & 1) << 0) + (((qy >> 0) & 1) << 1) + (((qx >> 1) & 1) << 2) + (((qy >> 1) & 1) << 3) + (((qx >> 2) & 1) << 4) + (((qy >> 2) & 1) << 5) + (((qx >> 3) & 1) << 6) + (((qy >> 3) & 1) << 7) + (((qx >> 4) & 1) << 8) + (((qy >> 4) & 1) << 9) + (((qx >> 5) & 1) << 10) + (((qy >> 5) & 1) << 11) + (((qx >> 6) & 1) << 12) + (((qy >> 6) & 1) << 13) + (((qx >> 7) & 1) << 14) + (((qy >> 7) & 1) << 15) AS zcode
      FROM q
    )
    SELECT zcode >> 8 AS shard, count(*) AS n_rows,
      min(pk) AS pk_lo, max(pk) AS pk_hi,
      min(sk) AS sk_lo, max(sk) AS sk_hi
    FROM z GROUP BY 1
    """


# Count-min sketch: the 3x1024 counter matrix is pure md5/integer
# arithmetic, so DuckDB rebuilds it cell-for-cell and the compare
# certifies estimates, exact counts, and the non-negative inflation.
LLM_ORACLES["docs_cms_heavy_hitters"] = r"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS t
      FROM documents
    ), hv AS (
      SELECT t,
        list_reduce(list_transform(range(1, 16),
          i -> strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1),
          (acc, d) -> acc * 16 + d) AS h1,
        list_reduce(list_transform(range(17, 32),
          i -> strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1),
          (acc, d) -> acc * 16 + d) AS h2
      FROM (SELECT DISTINCT t FROM tok)
    ), occ AS (
      SELECT tok.t, j, (h1 + j * h2) % 1024 AS pos
      FROM tok JOIN hv USING (t), range(0, 3) r(j)
    ), counters AS (
      SELECT j, pos, count(*) AS c FROM occ GROUP BY j, pos
    ), cnt AS (
      SELECT t, count(*) AS exact_cnt FROM tok GROUP BY t
    ), top AS (
      SELECT t, exact_cnt FROM cnt
      ORDER BY exact_cnt DESC, t ASC LIMIT 20
    ), probe AS (
      SELECT top.t, top.exact_cnt, r.j, (h1 + r.j * h2) % 1024 AS pos
      FROM top JOIN hv USING (t), range(0, 3) r(j)
    )
    SELECT probe.t AS term, probe.exact_cnt, min(c) AS cms_est,
      min(c) - probe.exact_cnt AS inflation
    FROM probe JOIN counters USING (j, pos)
    GROUP BY probe.t, probe.exact_cnt
    """


# Edit-distance join: naive all-pairs levenshtein — a match certifies
# the q-gram count filter + length filter chain is lossless.
LLM_ORACLES["docs_editdist_pairs"] = r"""
    WITH p AS (
      SELECT doc_id, substr(trim(text), 1, 64) AS s FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
    FROM p a JOIN p b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.s, b.s) <= 8
    """


def _pq_adc_sql(m: int = 8, ksub: int = 16, dim: int = 64, quant: int = 1_000_000) -> str:
    """Twin of plans/llm.pq_adc_topk: recomputes the PQ codebook
    (integer-exact sums over per-sub-space md5 pre-assignment), the
    fold-left squared-L2 encoding argmin, and the 0.0-seeded ADC sum —
    association orders match operators/similarity exactly."""
    dsub = dim // m

    def h60(j: int) -> str:
        return (
            "list_reduce(list_transform(range(1, 16), "
            "i -> strpos('0123456789abcdef', "
            f"substr(md5(vec_id::VARCHAR || ':{j}'), i, 1)) - 1), "
            "(acc, d) -> acc * 16 + d)::BIGINT"
        )

    cells = ", ".join(f"{h60(j)} % {ksub} AS c{j}" for j in range(m))
    melt = "\n      UNION ALL ".join(
        f"SELECT {j} AS j, c{j} AS cell, v[{j * dsub + 1}:{(j + 1) * dsub}] AS vs FROM h"
        for j in range(m)
    )
    sums = ", ".join(
        f"sum(floor(vs[{t + 1}] * {quant}.0)::BIGINT) AS s{t}" for t in range(dsub)
    )
    cvec = (
        "["
        + ", ".join(f"s{t}::DOUBLE / (n * {quant})::DOUBLE" for t in range(dsub))
        + "]"
    )
    zeros = "[" + ", ".join("0.0" for _ in range(dsub)) + "]"

    def l2fold(vec: str, off: int, cv: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, {dsub + 1}), "
            f"t -> ({vec}[{off} + t] - ({cv})[t]) * ({vec}[{off} + t] - ({cv})[t]))), "
            "(acc, x) -> acc + x)"
        )

    codes = ", ".join(
        f"list_position(d{j}, list_min(d{j})) - 1 AS code{j}" for j in range(m)
    )
    dists = ", ".join(
        f"list_transform(mm[{j + 1}], cv -> {l2fold('v', j * dsub, 'cv')}) AS d{j}"
        for j in range(m)
    )
    adc = "0.0 + " + " + ".join(
        l2fold("q.qv", j * dsub, f"mm[{j + 1}][enc.code{j} + 1]") for j in range(m)
    )
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), h AS (
      SELECT vec_id, v, {cells} FROM e
    ), melt AS (
      {melt}
    ), sums AS (
      SELECT j, cell, count(*) AS n, {sums} FROM melt GROUP BY j, cell
    ), cents AS (
      SELECT jr.range AS j, ir.range AS cell,
        CASE WHEN s.n IS NULL THEN {zeros} ELSE {cvec} END AS cv
      FROM range(0, {m}) jr CROSS JOIN range(0, {ksub}) ir
      LEFT JOIN sums s ON s.j = jr.range AND s.cell = ir.range
    ), cmats AS (
      SELECT j, list(cv ORDER BY cell) AS ml FROM cents GROUP BY j
    ), cmat AS (
      SELECT list(ml ORDER BY j) AS mm FROM cmats
    ), dmatrix AS (
      SELECT vec_id, v, {dists} FROM h, cmat
    ), enc AS (
      SELECT vec_id, {codes} FROM dmatrix
    ), q AS (
      SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 50 = 0
    ), scored AS (
      SELECT q.qid AS query_id, enc.vec_id AS neighbor_id,
        {adc} AS ad
      FROM enc CROSS JOIN q CROSS JOIN cmat
      WHERE enc.vec_id <> q.qid
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY ad ASC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, round(ad, 4) AS approx_dist,
      CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 5
    """


LLM_ORACLES["pq_adc_topk"] = _pq_adc_sql()


# SCD2 gaps-and-islands: lag/cumsum/lead windows are deterministic
# under the (ts, event_id) total order — DuckDB replays them exactly.
RELATIONAL_ORACLES["events_value_band_history"] = r"""
    WITH b AS (
      SELECT user_id, ts, event_id,
        CASE WHEN value < 20 THEN 'low'
             WHEN value < 60 THEN 'mid'
             ELSE 'high' END AS band
      FROM events
    ), c AS (
      SELECT *, CASE WHEN lag(band) OVER w IS NULL
                       OR lag(band) OVER w <> band THEN 1 ELSE 0 END AS chg
      FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), g AS (
      SELECT *, sum(chg) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM c
    ), runs AS (
      SELECT user_id, grp, band,
        min(ts) AS valid_from, max(ts) AS valid_to, count(*) AS n_obs
      FROM g GROUP BY user_id, grp, band
    )
    SELECT user_id, band, valid_from, valid_to,
      lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
        AS superseded_at,
      n_obs
    FROM runs
    """


# C4-style duplicate-segment removal with reconstruction: first-owner
# keep rule and position-ordered reassembly are exact; the md5 of the
# rebuilt text certifies the reconstruction byte-for-byte.
LLM_ORACLES["docs_line_dedup_rebuild"] = r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), seg AS (
      SELECT doc_id, i,
        array_to_string(toks[(i - 1) * 10 + 1 : i * 10], ' ') AS seg
      FROM (
        SELECT doc_id, toks,
          unnest(range(1, ceil(len(toks) / 10.0)::INT + 1)) AS i
        FROM tok
      )
    ), hashed AS (
      SELECT doc_id, i, seg, md5(seg) AS h FROM seg
    ), owner AS (
      SELECT h, min(doc_id) AS owner FROM hashed GROUP BY h
    ), keep_pos AS (
      SELECT hashed.h, min(i) AS keep_i, first(owner.owner) AS owner
      FROM hashed JOIN owner ON hashed.h = owner.h
        AND hashed.doc_id = owner.owner
      GROUP BY hashed.h
    ), marked AS (
      SELECT hashed.doc_id, hashed.i, hashed.seg,
        hashed.doc_id = keep_pos.owner AND hashed.i = keep_pos.keep_i AS kept
      FROM hashed JOIN keep_pos ON hashed.h = keep_pos.h
    )
    SELECT doc_id, count(*) AS n_segments,
      CAST(sum(kept::BIGINT) AS BIGINT) AS n_kept,
      md5(coalesce(string_agg(seg, ' ' ORDER BY i) FILTER (kept), ''))
        AS rebuilt_hash
    FROM marked GROUP BY doc_id
    """


def _ivfpq_sql(
    n_coarse: int = 16,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    quant: int = 1_000_000,
) -> str:
    """Twin of plans/llm.ivfpq_adc_topk: the coarse-quantizer CTEs of
    _ivf_topk_sql fused with the PQ codebook/encoding/ADC CTEs of
    _pq_adc_sql — both corpus and query rows carry their coarse cell,
    candidates must share it, and scoring is the PQ ADC sum."""
    dsub = dim // m
    ch60 = (
        "list_reduce(list_transform(range(1, 16), "
        "i -> strpos('0123456789abcdef', substr(md5(vec_id::VARCHAR), i, 1)) - 1), "
        "(acc, d) -> acc * 16 + d)::BIGINT"
    )

    def h60(j: int) -> str:
        return (
            "list_reduce(list_transform(range(1, 16), "
            "i -> strpos('0123456789abcdef', "
            f"substr(md5(vec_id::VARCHAR || ':{j}'), i, 1)) - 1), "
            "(acc, d) -> acc * 16 + d)::BIGINT"
        )

    csums = ", ".join(
        f"sum(floor(v[{i + 1}] * {quant}.0)::BIGINT) AS s{i}" for i in range(dim)
    )
    ccvec = (
        "["
        + ", ".join(f"s{i}::DOUBLE / (n * {quant})::DOUBLE" for i in range(dim))
        + "]"
    )
    czeros = "[" + ", ".join("0.0" for _ in range(dim)) + "]"
    cells = ", ".join(f"{h60(j)} % {ksub} AS c{j}" for j in range(m))
    melt = "\n      UNION ALL ".join(
        f"SELECT {j} AS j, c{j} AS cell, v[{j * dsub + 1}:{(j + 1) * dsub}] AS vs FROM ph"
        for j in range(m)
    )
    psums = ", ".join(
        f"sum(floor(vs[{t + 1}] * {quant}.0)::BIGINT) AS s{t}" for t in range(dsub)
    )
    pcvec = (
        "["
        + ", ".join(f"s{t}::DOUBLE / (n * {quant})::DOUBLE" for t in range(dsub))
        + "]"
    )
    pzeros = "[" + ", ".join("0.0" for _ in range(dsub)) + "]"

    def l2fold(vec: str, off: int, cv: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, {dsub + 1}), "
            f"t -> ({vec}[{off} + t] - ({cv})[t]) * ({vec}[{off} + t] - ({cv})[t]))), "
            "(acc, x) -> acc + x)"
        )

    dists = ", ".join(
        f"list_transform(mm[{j + 1}], cv -> {l2fold('v', j * dsub, 'cv')}) AS d{j}"
        for j in range(m)
    )
    codes = ", ".join(
        f"list_position(d{j}, list_min(d{j})) - 1 AS code{j}" for j in range(m)
    )
    adc = "0.0 + " + " + ".join(
        l2fold("q.qv", j * dsub, f"mm[{j + 1}][enc.code{j} + 1]") for j in range(m)
    )
    dot = _fold_dot("v", "cv", dim)
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), ih AS (
      SELECT vec_id, v, {ch60} % {n_coarse} AS c FROM e
    ), isums AS (
      SELECT c, count(*) AS n, {csums} FROM ih GROUP BY c
    ), icents AS (
      SELECT r.range AS c,
        CASE WHEN s.n IS NULL THEN {czeros} ELSE {ccvec} END AS cv
      FROM range(0, {n_coarse}) r LEFT JOIN isums s ON s.c = r.range
    ), icmat AS (
      SELECT list(cv ORDER BY c) AS im FROM icents
    ), coarse AS (
      SELECT vec_id,
        list_position(dots, list_max(dots)) - 1 AS cell
      FROM (
        SELECT vec_id,
          list_transform(ic.im, cv -> {dot}) AS dots
        FROM e, icmat ic
      )
    ), ph AS (
      SELECT vec_id, v, {cells} FROM e
    ), melt AS (
      {melt}
    ), psums AS (
      SELECT j, cell, count(*) AS n, {psums} FROM melt GROUP BY j, cell
    ), pcents AS (
      SELECT jr.range AS j, ir.range AS cell,
        CASE WHEN s.n IS NULL THEN {pzeros} ELSE {pcvec} END AS cv
      FROM range(0, {m}) jr CROSS JOIN range(0, {ksub}) ir
      LEFT JOIN psums s ON s.j = jr.range AND s.cell = ir.range
    ), pcmats AS (
      SELECT j, list(cv ORDER BY cell) AS ml FROM pcents GROUP BY j
    ), pcmat AS (
      SELECT list(ml ORDER BY j) AS mm FROM pcmats
    ), dmatrix AS (
      SELECT vec_id, {dists} FROM ph, pcmat
    ), enc AS (
      SELECT d.vec_id, co.cell, {codes}
      FROM dmatrix d JOIN coarse co ON d.vec_id = co.vec_id
    ), q AS (
      SELECT e.vec_id AS qid, e.v AS qv, co.cell AS qcell
      FROM e JOIN coarse co ON e.vec_id = co.vec_id
      WHERE e.vec_id % 50 = 0
    ), scored AS (
      SELECT q.qid AS query_id, enc.vec_id AS neighbor_id,
        {adc} AS ad
      FROM enc CROSS JOIN q CROSS JOIN pcmat
      WHERE enc.cell = q.qcell AND enc.vec_id <> q.qid
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY ad ASC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, round(ad, 4) AS approx_dist,
      CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 5
    """


LLM_ORACLES["ivfpq_adc_topk"] = _ivfpq_sql()


RELATIONAL_ORACLES["events_grouping_sets"] = r"""
    SELECT event_type, CAST(ts AS DATE) AS day,
      CAST(GROUPING(event_type) AS INTEGER) AS g_type,
      CAST(GROUPING(CAST(ts AS DATE)) AS INTEGER) AS g_day,
      count(*) AS n,
      CAST(sum(CAST(format('{:.2f}', value) AS DECIMAL(12,2))) AS DOUBLE)
        AS total_value
    FROM events
    GROUP BY GROUPING SETS ((event_type, CAST(ts AS DATE)), (event_type), ())
    """


RELATIONAL_ORACLES["events_value_outliers"] = r"""
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, m.med, abs(e.value - m.med) AS ad
      FROM events e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, median(ad) AS mad FROM dev GROUP BY event_type
    )
    SELECT d.event_type, first(d.med) AS med, first(m.mad) AS mad,
      count(*) AS n,
      CAST(sum((d.ad > 3 * m.mad)::BIGINT) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """


# Same naive all-pairs oracle as docs_editdist_pairs: the prefix
# variant must produce the identical pair set (lossless pruning).
LLM_ORACLES["docs_editdist_prefix_pairs"] = LLM_ORACLES["docs_editdist_pairs"]


# Frame sampling: deterministic chunking — frame i = payload bytes
# [i*64, i*64+64) — reproduced with substring arithmetic (ASCII text
# payloads, so character == byte offsets).
LLM_ORACLES["multimodal_frame_sample"] = r"""
    WITH f AS (
      SELECT doc_id, text,
        unnest(range(0, ((length(text) + 63) // 64 + 3) // 4)) * 4 AS i
      FROM documents
    )
    SELECT doc_id, i AS frame_idx,
      length(substr(text, i * 64 + 1, 64))::BIGINT AS n_bytes,
      md5(substr(text, i * 64 + 1, 64)) AS frame_hash
    FROM f
    """


def _ivf_cells_cte(n_centroids: int = 16, dim: int = 64, quant: int = 1_000_000) -> str:
    """Shared CTE chain (e → h → sums → cents → cmat → dotted →
    assigned) reproducing ivf_centroids + assign_cells bit-exactly:
    portable md5 cell pre-assignment, floor-quantized integer centroid
    means, fold-left dots, argmax cell, cosine to assigned centroid.
    Ends with ``scored(vec_id, v, nrm, cell, cos_cent)``."""
    h60 = (
        "list_reduce(list_transform(range(1, 16), "
        "i -> strpos('0123456789abcdef', substr(md5(vec_id::VARCHAR), i, 1)) - 1), "
        "(acc, d) -> acc * 16 + d)::BIGINT"
    )
    sums = ", ".join(
        f"sum(floor(v[{i + 1}] * {quant}.0)::BIGINT) AS s{i}" for i in range(dim)
    )
    cvec = (
        "["
        + ", ".join(f"s{i}::DOUBLE / (n * {quant})::DOUBLE" for i in range(dim))
        + "]"
    )
    zeros = "[" + ", ".join("0.0" for _ in range(dim)) + "]"
    fold = lambda a, b: _fold_dot(a, b, dim)
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), h AS (
      SELECT vec_id, v, {h60} % {n_centroids} AS c FROM e
    ), sums AS (
      SELECT c, count(*) AS n, {sums} FROM h GROUP BY c
    ), cents AS (
      SELECT r.range AS c,
        CASE WHEN s.n IS NULL THEN {zeros} ELSE {cvec} END AS cv
      FROM range(0, {n_centroids}) r LEFT JOIN sums s ON s.c = r.range
    ), cmat AS (
      SELECT list(cv ORDER BY c) AS m,
        list(sqrt({fold("cv", "cv")}) ORDER BY c) AS cn
      FROM cents
    ), dotted AS (
      SELECT vec_id, v, cm.cn,
        list_transform(cm.m, cv -> {fold("v", "cv")}) AS dots
      FROM h, cmat cm
    ), assigned AS (
      SELECT vec_id, v, cn, dots, sqrt({fold("v", "v")}) AS nrm,
        list_position(dots, list_max(dots)) - 1 AS cell
      FROM dotted
    ), scored AS (
      SELECT vec_id, v, nrm, cell,
        dots[cell + 1] / (nrm * cn[cell + 1]) AS cos_cent
      FROM assigned
    )"""


def _semantic_dedup_sql(threshold: float = 0.35, dim: int = 64) -> str:
    fold = lambda a, b: _fold_dot(a, b, dim)
    return (
        _ivf_cells_cte()
        + f"""
    , pairs AS (
      SELECT x.vec_id AS ida, y.vec_id AS idb,
        x.cos_cent AS ca, y.cos_cent AS cb,
        {fold("x.v", "y.v")} / (x.nrm * y.nrm) AS cos_ab
      FROM scored x JOIN scored y
        ON x.cell = y.cell AND x.vec_id < y.vec_id
    ), pruned AS (
      SELECT DISTINCT
        CASE WHEN ca > cb OR (ca = cb AND ida < idb) THEN idb ELSE ida END AS vid
      FROM pairs WHERE cos_ab >= {threshold}
    )
    SELECT s.vec_id, CAST(s.cell AS INTEGER) AS cell,
      round(s.cos_cent, 4) AS cos_cent,
      p.vid IS NULL AS kept
    FROM scored s LEFT JOIN pruned p ON p.vid = s.vec_id
    """
    )


LLM_ORACLES["semantic_dedup_keep"] = _semantic_dedup_sql()


def _kmeans_refine_sql(quant: int = 1_000_000) -> str:
    ssum = ", ".join(
        f"sum(floor(v[{i + 1}] * {quant}.0)::BIGINT) AS s{i}" for i in range(4)
    )
    comps = ", ".join(
        f"round(CAST(s{i} AS DOUBLE) / CAST(n * {quant} AS DOUBLE), 6) AS c{i}"
        for i in range(4)
    )
    return (
        _ivf_cells_cte()
        + f"""
    , msums AS (
      SELECT cell, count(*) AS n, {ssum} FROM scored GROUP BY cell
    )
    SELECT CAST(cell AS INTEGER) AS cell, n, {comps} FROM msums
    """
    )


LLM_ORACLES["kmeans_refine_probe"] = _kmeans_refine_sql()


# DSIR importance weights: 256-bucket hashed unigram models; per-doc
# fold over the bucket-sorted term list (docs_token_entropy precedent)
# so the ln-ratio sum is bit-identical to Spark's sorted F.aggregate.
LLM_ORACLES["docs_dsir_weights"] = _TOK_CTE + r"""
    , tb AS (
      SELECT doc_id, lang,
        list_reduce(list_transform(range(1, 16),
          i -> strpos('0123456789abcdef', substr(md5(lower(tok)), i, 1)) - 1),
          (acc, d) -> acc * 16 + d)::BIGINT % 256 AS b
      FROM (SELECT doc_id, lang, unnest(toks) AS tok FROM tok)
    ), gc AS (
      SELECT b, count(*) AS raw_c,
        sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tgt_c
      FROM tb GROUP BY b
    ), dc AS (
      SELECT doc_id, b, count(*) AS c FROM tb GROUP BY doc_id, b
    ), terms AS (
      SELECT dc.doc_id,
        list(struct_pack(b := dc.b, c := dc.c,
                         tgt_c := gc.tgt_c, raw_c := gc.raw_c)
             ORDER BY dc.b) AS ts,
        sum(dc.c) AS n_toks
      FROM dc JOIN gc USING (b) GROUP BY dc.doc_id
    )
    SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
      round(list_reduce(list_prepend(0.0, list_transform(ts,
        t -> CAST(t.c AS DOUBLE)
             * ln(CAST(t.tgt_c + 1 AS DOUBLE) / CAST(t.raw_c + 1 AS DOUBLE)))),
        (acc, x) -> acc + x), 4) AS log_weight
    FROM terms
    """


# Leakage-safe split: dup_components' recursive-CTE closure, rooted at
# the min cluster member, routed through the same Knuth hash split as
# docs_split_assign; singletons root at their own doc_id.
LLM_ORACLES["docs_leakage_safe_split"] = r"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 5 THEN
          list_distinct([array_to_string(toks[i:i+4], ' ')
                         FOR i IN range(1, len(toks) - 3)])
        ELSE [] END AS shingles
      FROM tok
    ), ex AS (
      SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh
    ), hot AS (
      SELECT s FROM ex GROUP BY s HAVING count(*) > 50
    ), exc AS (
      SELECT ex.* FROM ex ANTI JOIN hot USING (s)
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.n_sh AS na, b.n_sh AS nb, count(*) AS common
      FROM exc a JOIN exc b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    ), jp AS (
      SELECT doc_a, doc_b FROM pairs
      WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.2
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM jp
      UNION
      SELECT doc_b, doc_a FROM jp
    ), reach AS (
      SELECT src AS id, src AS r FROM edges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ), comp AS (
      SELECT id, min(r) AS component FROM reach GROUP BY id
    ), rooted AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS root
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    )
    SELECT doc_id, root AS cluster_root,
      CASE WHEN ((root % 2147483648) * 2654435761) % 2147483648 % 100 < 80
           THEN 'train'
           WHEN ((root % 2147483648) * 2654435761) % 2147483648 % 100 < 90
           THEN 'val' ELSE 'test' END AS split
    FROM rooted
    """


# BPE merge-pair counting: vocabulary-collapsed adjacent char pairs,
# weighted by word frequency; top-50 under a total order.
LLM_ORACLES["docs_bpe_pair_counts"] = _TOK_CTE + r"""
    , words AS (
      SELECT lower(tok) AS w FROM (SELECT unnest(toks) AS tok FROM tok)
    ), wc AS (
      SELECT w, count(*) AS wn FROM words GROUP BY w
    ), pairs AS (
      SELECT wn, unnest(
        CASE WHEN length(w) >= 2 THEN
          list_transform(range(1, length(w)), i -> substr(w, i, 2))
        ELSE [] END) AS pair
      FROM wc
    )
    SELECT pair, CAST(sum(wn) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair ASC LIMIT 50
    """


# Per-source discrete-median quality cutoff: same composite score as
# docs_quality_score; the lower median is the sample at row ceil(n/2)
# under (score, doc_id) order — no interpolation arithmetic.
LLM_ORACLES["docs_quality_cutoff"] = _TOK_CTE + r"""
    , scored AS (
      SELECT doc_id, source,
        (CASE WHEN len(toks) >= 20 AND len(toks) <= 1000
              THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
         + CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.3
                THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END
         + CASE WHEN CAST(len(list_filter(toks,
                    x -> x IN ('the','a','of','and','data'))) AS DOUBLE)
                  / len(toks) BETWEEN 0.01 AND 0.5
                THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END) AS q
      FROM tok
    ), ranked AS (
      SELECT *, row_number() OVER (
          PARTITION BY source ORDER BY q ASC, doc_id ASC) AS rn,
        count(*) OVER (PARTITION BY source) AS n
      FROM scored
    ), med AS (
      SELECT source, q AS med FROM ranked WHERE rn = ceil(n / 2.0)
    )
    SELECT s.source, count(*) AS n_docs,
      CAST(sum(CASE WHEN s.q >= m.med THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      round(min(m.med), 4) AS median_q
    FROM scored s JOIN med m USING (source)
    GROUP BY s.source
    """


# Cluster-size histogram over the same recursive closure as
# dup_components (two grouped aggregates on top).
LLM_ORACLES["dup_cluster_sizes"] = LLM_ORACLES["dup_components"].replace(
    "SELECT id, min(r) AS component FROM reach GROUP BY id",
    """SELECT size, count(*) AS n_clusters FROM (
         SELECT component, count(*) AS size FROM (
           SELECT id, min(r) AS component FROM reach GROUP BY id)
         GROUP BY component)
       GROUP BY size""",
)


# Hard negatives: ann_cosine_topk's brute-force scan with the label
# inequality in the join and top-3 on the rounded cosine.
LLM_ORACLES["ann_hard_negatives"] = """
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
        sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, label AS qlabel, v AS qv, nrm AS qn
      FROM e WHERE vec_id % 50 = 0
    ), scored AS (
      SELECT q.query_id, e.vec_id AS negative_id, e.label AS negative_label,
        round(list_sum(list_transform(range(len(e.v)),
                i -> e.v[i + 1] * q.qv[i + 1])) / (e.nrm * q.qn), 4) AS cos_sim
      FROM e, q WHERE e.vec_id <> q.query_id AND e.label <> q.qlabel
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, negative_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, negative_id, negative_label, cos_sim,
      CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 3
    """


RELATIONAL_ORACLES["events_user_overlap"] = """
    WITH d AS (SELECT DISTINCT event_type, user_id FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
      count(*) AS n_common_users
    FROM d a JOIN d b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
    """


# Logistic quality model: hashed-bucket features, md5-derived weights,
# fold over bucket-sorted terms; keep decided on z >= 0 (exp-free).
# The CTE chain through ``z`` is shared verbatim with
# docs_ccnet_quality_buckets (which terciles on the same exact zz
# fold) — kept as ONE named constant so an edit to either oracle's
# final SELECT can never silently desynchronize the other (the
# previous rpartition-on-substring surgery was exactly that hazard).
_MODEL_Z_CTE = _TOK_CTE + r"""
    , tb AS (
      SELECT doc_id,
        list_reduce(list_transform(range(1, 16),
          i -> strpos('0123456789abcdef', substr(md5(lower(tok)), i, 1)) - 1),
          (acc, d) -> acc * 16 + d)::BIGINT % 256 AS b
      FROM (SELECT doc_id, unnest(toks) AS tok FROM tok)
    ), dc AS (
      SELECT doc_id, b, count(*) AS c FROM tb GROUP BY doc_id, b
    ), wt AS (
      SELECT doc_id, b, c,
        (list_reduce(list_transform(range(1, 16),
           i -> strpos('0123456789abcdef', substr(md5(b::VARCHAR), i, 1)) - 1),
           (acc, d) -> acc * 16 + d)::BIGINT % 2001 - 1000)::DOUBLE / 1000.0 AS w
      FROM dc
    ), per_doc AS (
      SELECT doc_id,
        list(struct_pack(b := b, c := c, w := w) ORDER BY b) AS ts,
        sum(c) AS n_toks
      FROM wt GROUP BY doc_id
    ), z AS (
      SELECT doc_id, n_toks,
        list_reduce(list_prepend(0.0, list_transform(ts,
          t -> CAST(t.c AS DOUBLE) * t.w)), (acc, x) -> acc + x)
        / CAST(n_toks AS DOUBLE) AS zz
      FROM per_doc
    )
    """

LLM_ORACLES["docs_model_quality_score"] = _MODEL_Z_CTE + """
    SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
      round(1.0 / (1.0 + exp(-zz)), 4) AS quality_prob,
      zz >= 0 AS keep
    FROM z
    """


# Temperature-0.5 language mixing: sqrt is correctly rounded (IEEE),
# double sums fold over the lang-sorted list, total is an exact sum.
LLM_ORACLES["docs_lang_balance_sampler"] = r"""
    WITH lc AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ), packed AS (
      SELECT list(struct_pack(lang := lang, n := n) ORDER BY lang) AS ls,
        sum(n) AS total
      FROM lc
    ), folded AS (
      SELECT ls, total,
        list_reduce(list_prepend(0.0, list_transform(ls,
          t -> sqrt(CAST(t.n AS DOUBLE) / CAST(total AS DOUBLE)))),
          (acc, x) -> acc + x) AS qsum
      FROM packed
    ), withmax AS (
      SELECT ls, total, qsum,
        list_reduce(list_prepend(0.0, list_transform(ls,
          t -> (sqrt(CAST(t.n AS DOUBLE) / CAST(total AS DOUBLE)) / qsum)
               / (CAST(t.n AS DOUBLE) / CAST(total AS DOUBLE)))),
          (acc, x) -> greatest(acc, x)) AS max_ratio
      FROM folded
    ), ex AS (
      SELECT total, qsum, max_ratio, unnest(ls) AS t FROM withmax
    )
    SELECT t.lang AS lang, t.n AS n,
      round(CAST(t.n AS DOUBLE) / CAST(total AS DOUBLE), 4) AS p_corpus,
      round(sqrt(CAST(t.n AS DOUBLE) / CAST(total AS DOUBLE)) / qsum, 4)
        AS q_target,
      round((sqrt(CAST(t.n AS DOUBLE) / CAST(total AS DOUBLE)) / qsum
             / (CAST(t.n AS DOUBLE) / CAST(total AS DOUBLE))) / max_ratio, 4)
        AS sample_rate,
      CAST(floor((sqrt(CAST(t.n AS DOUBLE) / CAST(total AS DOUBLE)) / qsum
             / (CAST(t.n AS DOUBLE) / CAST(total AS DOUBLE))) / max_ratio
             * t.n) AS BIGINT) AS n_sampled
    FROM ex
    """


# Curriculum interleave: same Knuth-hash rank within source, position
# = rank * n_sources + numeric source index.
LLM_ORACLES["docs_curriculum_order"] = """
    WITH ranked AS (
      SELECT doc_id, source,
        row_number() OVER (
          PARTITION BY source
          ORDER BY ((doc_id % 2147483648) * 2654435761) % 2147483648
                     % 1048576 ASC, doc_id ASC) - 1 AS rank_in_source
      FROM documents
    )
    SELECT doc_id, source, CAST(rank_in_source AS INTEGER) AS rank_in_source,
      rank_in_source * 20 + CAST(regexp_replace(source, '[^0-9]', '', 'g') AS BIGINT)
        AS position
    FROM ranked
    """


RELATIONAL_ORACLES["events_running_distinct_users"] = """
    WITH fd AS (
      SELECT event_type, user_id, min(CAST(ts AS DATE)) AS day
      FROM events GROUP BY event_type, user_id
    ), nu AS (
      SELECT event_type, day, count(*) AS new_users
      FROM fd GROUP BY event_type, day
    )
    SELECT event_type, day, new_users,
      CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
        AS cum_users
    FROM nu
    """


RELATIONAL_ORACLES["metrics_nifi_timestamps"] = r"""
    WITH base AS (
      SELECT event_id,
        CASE
          WHEN event_id % 3 = 0 THEN
            printf('%02d/%02d/2024 %02d:%02d:%02d.%03d',
              event_id % 12 + 1, event_id % 28 + 1, event_id % 24,
              event_id % 60, (event_id * 7) % 60, (event_id * 13) % 1000)
          WHEN event_id % 3 = 1 THEN
            printf('2024-%02d-%02dT%02d:%02d:%02dZ',
              event_id % 12 + 1, event_id % 28 + 1, event_id % 24,
              event_id % 60, (event_id * 7) % 60)
          ELSE 'not a timestamp' END AS raw_ts
      FROM events ORDER BY event_id LIMIT 2000
    )
    SELECT event_id, raw_ts,
      CASE
        WHEN raw_ts LIKE '%/%' THEN
          CAST(floor(epoch(try_strptime(raw_ts, '%m/%d/%Y %H:%M:%S.%g'))) AS BIGINT)
        WHEN raw_ts LIKE '%T%' THEN
          CAST(epoch(try_cast(raw_ts AS TIMESTAMP)) AS BIGINT)
        ELSE NULL END AS epoch_s
    FROM base
    """


def _minhash_calibration_sql(k: int = 8, bands: int = 4) -> str:
    from hrfco_data_pipeline_spark.operators.dedup import minhash_params

    a, b = minhash_params(k)
    rows = k // bands
    mins = ", ".join(
        f"{_minhash_mexpr(int(a[i]), int(b[i]))} AS r{i}" for i in range(k)
    )
    sig_list = "[" + ", ".join(_signed64(f"r{i}") for i in range(k)) + "]"
    bucket = " || ',' || ".join(
        f"sig[band.b * {rows} + {j + 1}]::VARCHAR" for j in range(rows)
    )
    return (
        _MINHASH_HV_CTE
        + f""", m AS (
      SELECT doc_id, {mins} FROM hv GROUP BY doc_id
    ), sigs AS (
      SELECT doc_id, {sig_list} AS sig FROM m
    ), banded AS (
      SELECT doc_id, band.b AS band, {bucket} AS bucket
      FROM sigs, (SELECT unnest(range(0, {bands})) AS b) band
    ), cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    ), est AS (
      SELECT c.id_a, c.id_b,
        list_sum(list_transform(range(1, {k + 1}),
          i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))::DOUBLE
          / {k} AS est_jaccard
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.id_a
      JOIN sigs sb ON sb.doc_id = c.id_b
    ), shn AS (
      SELECT doc_id, shingles, len(shingles) AS n FROM sh
    )
    SELECT e.id_a, e.id_b,
      round(e.est_jaccard, 4) AS est_jaccard,
      round(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
        / (x.n + y.n - len(list_intersect(x.shingles, y.shingles))), 4)
        AS exact_jaccard,
      round(abs(e.est_jaccard
        - CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
          / (x.n + y.n - len(list_intersect(x.shingles, y.shingles)))), 4)
        AS abs_err
    FROM est e
    JOIN shn x ON x.doc_id = e.id_a
    JOIN shn y ON y.doc_id = e.id_b
    """
    )


LLM_ORACLES["minhash_calibration"] = _minhash_calibration_sql()


# BPE iteration 2: the same vocabulary collapse, top merge applied via
# literal replace (left-to-right non-overlapping in both engines),
# symbol pairs re-counted.
LLM_ORACLES["docs_bpe_apply_merge"] = _TOK_CTE + r"""
    , words AS (
      SELECT lower(tok) AS w FROM (SELECT unnest(toks) AS tok FROM tok)
    ), wc AS (
      SELECT w, count(*) AS wn FROM words GROUP BY w
    ), p1 AS (
      SELECT wn, unnest(
        CASE WHEN length(w) >= 2 THEN
          list_transform(range(1, length(w)), i -> substr(w, i, 2))
        ELSE [] END) AS pair
      FROM wc
    ), top1 AS (
      SELECT pair AS mp FROM p1 GROUP BY pair
      ORDER BY sum(wn) DESC, pair ASC LIMIT 1
    ), ap AS (
      SELECT wn, mp, replace(w, mp, chr(1)) AS w2 FROM wc, top1
    ), sy AS (
      SELECT wn,
        list_transform(
          list_transform(range(1, length(w2) + 1), i -> substr(w2, i, 1)),
          s -> CASE WHEN s = chr(1) THEN mp ELSE s END) AS ms
      FROM ap
    ), p2 AS (
      SELECT wn, unnest(
        CASE WHEN len(ms) >= 2 THEN
          list_transform(range(1, len(ms)), i -> ms[i] || '+' || ms[i + 1])
        ELSE [] END) AS pair
      FROM sy
    )
    SELECT pair, CAST(sum(wn) AS BIGINT) AS n
    FROM p2 GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 20
    """


LLM_ORACLES["docs_lang_confusion"] = _TOK_CTE + """
    , cnts AS (
      SELECT doc_id, lang,
        len(list_filter(toks, x -> x IN ('the','a','an','of','and'))) AS cnt_en,
        len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS cnt_de,
        len(list_filter(toks, x -> x IN ('le','la','les','et','est'))) AS cnt_fr,
        len(list_filter(toks, x -> x IN ('el','la','los','y','es'))) AS cnt_es
      FROM tok
    ), pred AS (
      SELECT lang,
        CASE
          WHEN cnt_en > 0 AND cnt_en >= cnt_de AND cnt_en >= cnt_fr AND cnt_en >= cnt_es THEN 'en'
          WHEN cnt_de > 0 AND cnt_de >= cnt_en AND cnt_de >= cnt_fr AND cnt_de >= cnt_es THEN 'de'
          WHEN cnt_fr > 0 AND cnt_fr >= cnt_en AND cnt_fr >= cnt_de AND cnt_fr >= cnt_es THEN 'fr'
          WHEN cnt_es > 0 AND cnt_es >= cnt_en AND cnt_es >= cnt_de AND cnt_es >= cnt_fr THEN 'es'
          ELSE 'und' END AS pred_lang
      FROM cnts
    ), cells AS (
      SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY lang, pred_lang
    )
    SELECT lang, pred_lang, n,
      CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS n_true,
      round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang), 4) AS frac
    FROM cells
    """


LLM_ORACLES["docs_select_token_budget"] = _TOK_CTE + r"""
    , scored AS (
      SELECT doc_id,
        (CASE WHEN len(toks) >= 20 AND len(toks) <= 1000
              THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
         + CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.3
                THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END
         + CASE WHEN CAST(len(list_filter(toks,
                    x -> x IN ('the','a','of','and','data'))) AS DOUBLE)
                  / len(toks) BETWEEN 0.01 AND 0.5
                THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END) AS q,
        CAST(len(toks) AS BIGINT) AS n_toks
      FROM tok
    ), ranked AS (
      SELECT *, sum(n_toks) OVER (ORDER BY q DESC, doc_id ASC
                                  ROWS UNBOUNDED PRECEDING) AS cum_toks
      FROM scored
    )
    SELECT doc_id, round(q, 4) AS q, n_toks,
      CAST(cum_toks AS BIGINT) AS cum_toks
    FROM ranked WHERE cum_toks - n_toks < 15000
    """


RELATIONAL_ORACLES["events_seasonal_baseline"] = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT a.event_type, a.h, a.n, b.n AS n_week_ago,
      a.n - b.n AS delta,
      round(CAST(a.n AS DOUBLE) / b.n, 4) AS ratio
    FROM hourly a LEFT JOIN hourly b
      ON a.event_type = b.event_type
     AND a.h = b.h + INTERVAL 7 DAY
    """


HYDRO_ORACLES["hydro_rating_curve"] = HYDRO_CTE + """
    -- int->double ceilings audited r14: per-station power sums <= 4.9e10 at sf0.1, 1.8e5x headroom
    , pts AS (
      SELECT wlobscd,
        CAST(printf('%.2f', water_level) AS DECIMAL(14,2)) AS x,
        CAST(printf('%.2f', flow_rate) AS DECIMAL(14,2)) AS y
      FROM flagged
      WHERE water_level IS NOT NULL AND flow_rate IS NOT NULL AND range_valid
    ), m AS (
      SELECT wlobscd, count(*) AS n,
        CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        CAST(sum(x * x) /* int<2^53 */ AS DOUBLE) AS sxx, CAST(sum(x * y) /* int<2^53 */ AS DOUBLE) AS sxy
      FROM pts GROUP BY wlobscd
    )
    SELECT wlobscd, n,
      round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope,
      round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 4)
        AS intercept
    FROM m
    WHERE n >= 2 AND (n * sxx - sx * sx) <> 0.0
    """


RELATIONAL_ORACLES["customer_ltv_deciles"] = """
    WITH per_cust AS (
      SELECT o_custkey,
        sum(TRY_CAST(printf('%.2f', o_totalprice) AS DECIMAL(12,2))) AS spent_dec
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT *, ntile(10) OVER (ORDER BY spent_dec DESC, o_custkey ASC) AS decile,
        sum(spent_dec) OVER () AS total_dec
      FROM per_cust
    )
    SELECT CAST(decile AS INTEGER) AS decile, count(*) AS n_customers,
      CAST(sum(spent_dec) AS DOUBLE) AS revenue,
      round(CAST(sum(spent_dec) AS DOUBLE) / CAST(min(total_dec) AS DOUBLE), 4)
        AS revenue_share
    FROM ranked GROUP BY decile
    """


RELATIONAL_ORACLES["events_dau_wau_stickiness"] = """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), days AS (
      SELECT DISTINCT day AS rday FROM ud
    ), wau AS (
      SELECT d.rday, count(DISTINCT u.user_id) AS wau
      FROM days d JOIN ud u
        ON u.day BETWEEN d.rday - INTERVAL 6 DAY AND d.rday
      GROUP BY d.rday
    ), dau AS (
      SELECT day AS rday, count(DISTINCT user_id) AS dau FROM ud GROUP BY day
    )
    SELECT dau.rday AS day, dau.dau, wau.wau,
      round(CAST(dau.dau AS DOUBLE) / wau.wau, 4) AS stickiness
    FROM dau JOIN wau ON dau.rday = wau.rday
    """


LLM_ORACLES["docs_ngram_novelty"] = _TOK_CTE + r"""
    , sh AS (
      SELECT doc_id,
        unnest(CASE WHEN len(toks) >= 5 THEN
          list_distinct([array_to_string(toks[i:i+4], ' ')
                         FOR i IN range(1, len(toks) - 3)])
        ELSE [array_to_string(toks, ' ')] END) AS s
      FROM tok
    ), owner AS (
      SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s
    )
    SELECT sh.doc_id, count(*) AS n_shingles,
      CAST(sum(CASE WHEN o.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        AS n_novel,
      round(CAST(sum(CASE WHEN o.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*), 4) AS novelty
    FROM sh JOIN owner o USING (s)
    GROUP BY sh.doc_id
    """


RELATIONAL_ORACLES["events_markov_transitions"] = """
    WITH pairs AS (
      SELECT lag(event_type) OVER (
          PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
        event_type AS to_type
      FROM events
    ), cells AS (
      SELECT from_type, to_type, count(*) AS n
      FROM pairs WHERE from_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
      round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 4) AS p
    FROM cells
    """


HYDRO_ORACLES["hydro_alert_episodes"] = HYDRO_CTE + """
    , lvl AS (
      SELECT wlobscd, flood_warning_level, obs_time_str, obs_id,
        row_number() OVER (PARTITION BY wlobscd
                           ORDER BY obs_time_str, obs_id)
        - row_number() OVER (PARTITION BY wlobscd, flood_warning_level
                             ORDER BY obs_time_str, obs_id) AS island
      FROM classified WHERE flood_warning_level IS NOT NULL
    ), episodes AS (
      SELECT wlobscd, flood_warning_level, island, count(*) AS len
      FROM lvl GROUP BY 1, 2, 3
    )
    SELECT flood_warning_level, count(*) AS n_episodes,
      round(CAST(sum(len) AS DOUBLE) / count(*), 4) AS avg_len,
      CAST(max(len) AS BIGINT) AS max_len
    FROM episodes GROUP BY flood_warning_level
    """


HYDRO_ORACLES["hydro_daily_extremes"] = HYDRO_CTE + """
    , pts AS (
      SELECT wlobscd, substr(obs_time_str, 1, 10) AS day,
        water_level, obs_time_str,
        row_number() OVER (
          PARTITION BY wlobscd, substr(obs_time_str, 1, 10)
          ORDER BY water_level DESC, obs_time_str ASC, obs_id ASC) AS rk
      FROM classified WHERE water_level IS NOT NULL
    ), stats AS (
      SELECT wlobscd, day, count(*) AS n_obs,
        min(water_level) AS min_wl, max(water_level) AS max_wl
      FROM pts GROUP BY 1, 2
    )
    SELECT s.wlobscd, s.day, s.n_obs, s.min_wl, s.max_wl,
      round(s.max_wl - s.min_wl, 4) AS range_wl,
      p.obs_time_str AS peak_time
    FROM stats s JOIN pts p
      ON p.wlobscd = s.wlobscd AND p.day = s.day AND p.rk = 1
    """


RELATIONAL_ORACLES["events_inter_arrival_stats"] = """
    WITH gaps AS (
      SELECT event_type,
        epoch_us(ts) - epoch_us(lag(ts) OVER (
          PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      FROM events
    )
    SELECT event_type, count(*) AS n_gaps,
      CAST(min(gap_us) AS BIGINT) AS min_gap_us,
      CAST(max(gap_us) AS BIGINT) AS max_gap_us,
      round(CAST(sum(gap_us) AS DOUBLE)
            / CAST(count(*) * 1000000 AS DOUBLE), 4) AS avg_gap_s
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """


RELATIONAL_ORACLES["events_conversion_latency"] = """
    WITH s AS (
      SELECT user_id, min(epoch_us(ts)) AS signup_us
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), p AS (
      SELECT user_id, epoch_us(ts) AS purchase_us
      FROM events WHERE event_type = 'purchase'
    ), gaps AS (
      SELECT s.user_id, min(p.purchase_us - s.signup_us) AS gap_us
      FROM s JOIN p ON s.user_id = p.user_id
      WHERE p.purchase_us >= s.signup_us
      GROUP BY s.user_id
    ), ranked AS (
      SELECT *, row_number() OVER (ORDER BY gap_us ASC, user_id ASC) AS rn,
        count(*) OVER () AS n
      FROM gaps
    )
    SELECT n AS n_converted,
      CAST(min(CASE WHEN rn = ceil(n / 2.0) THEN gap_us END) AS BIGINT)
        AS median_gap_us,
      CAST(min(CASE WHEN rn = ceil(n * 0.9) THEN gap_us END) AS BIGINT)
        AS p90_gap_us
    FROM ranked
    WHERE rn = ceil(n / 2.0) OR rn = ceil(n * 0.9)
    GROUP BY n
    """


LLM_ORACLES["docs_dup_rate_by_source"] = """
    SELECT source, count(*) AS n_docs,
      count(DISTINCT md5(lower(trim(text)))) AS n_unique,
      round(CAST(count(*) - count(DISTINCT md5(lower(trim(text)))) AS DOUBLE)
            / count(*), 4) AS dup_rate
    FROM documents GROUP BY source
    """


RELATIONAL_ORACLES["supplier_on_time_rate"] = """
    SELECT l_suppkey, count(*) AS n_items,
      CAST(sum(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 90 DAY
               THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time,
      round(CAST(sum(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 90 DAY
                     THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4)
        AS on_time_rate
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_suppkey
    ORDER BY on_time_rate ASC, l_suppkey ASC LIMIT 25
    """


LLM_ORACLES["embedding_norm_outliers"] = f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), nrm AS (
      SELECT vec_id, sqrt({_fold_dot("v", "v", 64)}) AS nrm FROM e
    ), med AS (SELECT median(nrm) AS med FROM nrm),
    dev AS (
      SELECT vec_id, nrm, med, abs(nrm - med) AS ad FROM nrm, med
    ), mad AS (SELECT median(ad) AS mad FROM dev)
    SELECT vec_id, round(nrm, 4) AS nrm, round(med, 4) AS median_nrm,
      round(mad.mad, 4) AS mad
    FROM dev, mad WHERE ad > 3 * mad.mad
    """


RELATIONAL_ORACLES["events_value_gini"] = """
    -- int->double ceilings audited r14: sum(x*i) <= 1.6e12 at sf0.1, 5.9e3x headroom
    WITH ranked AS (
      SELECT event_type,
        TRY_CAST(printf('%.2f', value) AS DECIMAL(14,2)) AS x,
        row_number() OVER (PARTITION BY event_type
                           ORDER BY value ASC, event_id ASC) AS i
      FROM events
    ), agg AS (
      SELECT event_type, count(*) AS n,
        CAST(sum(x) AS DOUBLE) AS sx,
        CAST(sum(x * i) /* int<2^53 */ AS DOUBLE) AS sxi
      FROM ranked GROUP BY event_type
    )
    SELECT event_type, n,
      round((2.0 * sxi) / (n * sx) - (n + 1.0) / n, 4) AS gini
    FROM agg
    """


LLM_ORACLES["docs_vocab_growth"] = _TOK_CTE + """
    , deciles AS (
      SELECT doc_id, ntile(10) OVER (ORDER BY doc_id ASC) AS decile
      FROM documents
    ), first AS (
      SELECT lower(tok) AS w, min(doc_id) AS first_doc
      FROM (SELECT doc_id, unnest(toks) AS tok FROM tok)
      GROUP BY lower(tok)
    ), npd AS (
      SELECT d.decile, count(*) AS new_tokens
      FROM first f JOIN deciles d ON f.first_doc = d.doc_id
      GROUP BY d.decile
    )
    SELECT CAST(decile AS INTEGER) AS decile, new_tokens,
      CAST(sum(new_tokens) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
           AS BIGINT) AS vocab_size
    FROM npd
    """


WIRE_ORACLES["wire_corrupt_rate"] = _WIRE_CTE + """
    SELECT count(*) AS n_total,
      CAST(sum(CASE WHEN obs_id % 53 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_corrupt,
      CAST(sum(CASE WHEN obs_id % 53 = 0 THEN 0 ELSE 1 END) AS BIGINT)
        AS n_parsed,
      round(CAST(sum(CASE WHEN obs_id % 53 = 0 THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*), 6) AS corrupt_rate
    FROM wire
    """


LLM_ORACLES["docs_shard_skew_report"] = _TOK_CTE + """
    , per AS (
      SELECT ((doc_id % 2147483648) * 2654435761) % 2147483648 % 16 AS shard,
        count(*) AS n_docs, CAST(sum(len(toks)) AS BIGINT) AS tokens
      FROM tok GROUP BY 1
    )
    SELECT shard, n_docs, tokens,
      round((CAST(tokens AS DOUBLE)
             - CAST(sum(tokens) OVER () AS DOUBLE) / count(*) OVER ())
            / (CAST(sum(tokens) OVER () AS DOUBLE) / count(*) OVER ()), 4)
        AS rel_dev
    FROM per
    """


HYDRO_ORACLES["hydro_threshold_margin"] = HYDRO_CTE + """
    , latest AS (
      SELECT *, row_number() OVER (
          PARTITION BY wlobscd
          ORDER BY obs_time_str DESC, obs_id DESC) AS rk
      FROM classified WHERE water_level IS NOT NULL
    ), m AS (
      SELECT wlobscd, obs_time_str, water_level,
        least(
          CASE WHEN attwl IS NOT NULL AND attwl > water_level THEN attwl END,
          CASE WHEN wrnwl IS NOT NULL AND wrnwl > water_level THEN wrnwl END,
          CASE WHEN almwl IS NOT NULL AND almwl > water_level THEN almwl END,
          CASE WHEN srswl IS NOT NULL AND srswl > water_level THEN srswl END
        ) AS next_thr,
        attwl, wrnwl, almwl, srswl
      FROM latest WHERE rk = 1
    )
    SELECT wlobscd, obs_time_str AS latest_obs_time, water_level,
      round(next_thr - water_level, 4) AS margin,
      CASE
        WHEN attwl IS NOT NULL AND attwl > water_level AND attwl = next_thr
          THEN 'ATTENTION'
        WHEN wrnwl IS NOT NULL AND wrnwl > water_level AND wrnwl = next_thr
          THEN 'CAUTION'
        WHEN almwl IS NOT NULL AND almwl > water_level AND almwl = next_thr
          THEN 'WARNING'
        WHEN srswl IS NOT NULL AND srswl > water_level AND srswl = next_thr
          THEN 'CRITICAL'
        END AS next_level
    FROM m
    """


HYDRO_ORACLES["hydro_rise_forecast"] = HYDRO_CTE + """
    , pts AS (
      SELECT wlobscd, water_level, obs_time_str, obs_id,
        epoch_us(try_strptime(obs_time_str, '%Y-%m-%d %H:%M')) AS t_us,
        attwl, wrnwl, almwl, srswl,
        row_number() OVER (PARTITION BY wlobscd
                           ORDER BY obs_time_str DESC, obs_id DESC) AS rk
      FROM classified WHERE water_level IS NOT NULL
    ), pair AS (
      SELECT wlobscd,
        max(CASE WHEN rk = 1 THEN water_level END) AS wl1,
        max(CASE WHEN rk = 1 THEN t_us END) AS t1,
        max(CASE WHEN rk = 2 THEN water_level END) AS wl0,
        max(CASE WHEN rk = 2 THEN t_us END) AS t0
      FROM pts WHERE rk <= 2 GROUP BY wlobscd
    ), m AS (
      SELECT wlobscd,
        round(least(
          CASE WHEN attwl IS NOT NULL AND attwl > water_level THEN attwl END,
          CASE WHEN wrnwl IS NOT NULL AND wrnwl > water_level THEN wrnwl END,
          CASE WHEN almwl IS NOT NULL AND almwl > water_level THEN almwl END,
          CASE WHEN srswl IS NOT NULL AND srswl > water_level THEN srswl END
        ) - water_level, 4) AS margin,
        CASE
          WHEN attwl IS NOT NULL AND attwl > water_level
           AND attwl = least(
            CASE WHEN attwl IS NOT NULL AND attwl > water_level THEN attwl END,
            CASE WHEN wrnwl IS NOT NULL AND wrnwl > water_level THEN wrnwl END,
            CASE WHEN almwl IS NOT NULL AND almwl > water_level THEN almwl END,
            CASE WHEN srswl IS NOT NULL AND srswl > water_level THEN srswl END)
            THEN 'ATTENTION'
          WHEN wrnwl IS NOT NULL AND wrnwl > water_level
           AND wrnwl = least(
            CASE WHEN attwl IS NOT NULL AND attwl > water_level THEN attwl END,
            CASE WHEN wrnwl IS NOT NULL AND wrnwl > water_level THEN wrnwl END,
            CASE WHEN almwl IS NOT NULL AND almwl > water_level THEN almwl END,
            CASE WHEN srswl IS NOT NULL AND srswl > water_level THEN srswl END)
            THEN 'CAUTION'
          WHEN almwl IS NOT NULL AND almwl > water_level
           AND almwl = least(
            CASE WHEN attwl IS NOT NULL AND attwl > water_level THEN attwl END,
            CASE WHEN wrnwl IS NOT NULL AND wrnwl > water_level THEN wrnwl END,
            CASE WHEN almwl IS NOT NULL AND almwl > water_level THEN almwl END,
            CASE WHEN srswl IS NOT NULL AND srswl > water_level THEN srswl END)
            THEN 'WARNING'
          WHEN srswl IS NOT NULL AND srswl > water_level
           AND srswl = least(
            CASE WHEN attwl IS NOT NULL AND attwl > water_level THEN attwl END,
            CASE WHEN wrnwl IS NOT NULL AND wrnwl > water_level THEN wrnwl END,
            CASE WHEN almwl IS NOT NULL AND almwl > water_level THEN almwl END,
            CASE WHEN srswl IS NOT NULL AND srswl > water_level THEN srswl END)
            THEN 'CRITICAL'
          END AS next_level
      FROM pts WHERE rk = 1
    )
    SELECT p.wlobscd, p.wl1 AS water_level,
      round((p.wl1 - p.wl0) * 10.0
            / ((p.t1 - p.t0)::DOUBLE / 60000000.0), 4) AS rise_per_10min,
      m.margin, m.next_level,
      round(CASE WHEN p.wl1 - p.wl0 > 0 AND m.margin IS NOT NULL
            THEN m.margin * ((p.t1 - p.t0)::DOUBLE / 60000000.0)
                 / (p.wl1 - p.wl0) END, 2) AS est_minutes_to_next
    FROM pair p JOIN m ON p.wlobscd = m.wlobscd
    WHERE p.wl0 IS NOT NULL AND p.t1 > p.t0
    """


RELATIONAL_ORACLES["events_weekday_hour_heatmap"] = """
    WITH cells AS (
      SELECT dayofweek(ts) AS dow, CAST(hour(ts) AS INTEGER) AS hod,
        count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(dow AS INTEGER) AS dow, hod, n,
      round(CAST(n AS DOUBLE) / sum(n) OVER (), 6) AS share
    FROM cells
    """


RELATIONAL_ORACLES["orders_cohort_repeat_rate"] = """
    WITH per_cust AS (
      SELECT o_custkey, CAST(min(year(o_orderdate)) AS INTEGER) AS cohort_year,
        count(*) AS n_orders
      FROM orders GROUP BY o_custkey
    )
    SELECT cohort_year, count(*) AS n_customers,
      CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_repeat,
      round(CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*), 4) AS repeat_rate
    FROM per_cust GROUP BY cohort_year
    """


def _minhash_recall_sql(k: int = 8, bands: int = 4) -> str:
    from hrfco_data_pipeline_spark.operators.dedup import minhash_params

    a, b = minhash_params(k)
    rows = k // bands
    mins = ", ".join(
        f"{_minhash_mexpr(int(a[i]), int(b[i]))} AS r{i}" for i in range(k)
    )
    sig_list = "[" + ", ".join(_signed64(f"r{i}") for i in range(k)) + "]"
    bucket = " || ',' || ".join(
        f"sig[band.b * {rows} + {j + 1}]::VARCHAR" for j in range(rows)
    )
    return (
        _MINHASH_HV_CTE
        + f""", m AS (
      SELECT doc_id, {mins} FROM hv GROUP BY doc_id
    ), sigs AS (
      SELECT doc_id, {sig_list} AS sig FROM m
    ), banded AS (
      SELECT doc_id, band.b AS band, {bucket} AS bucket
      FROM sigs, (SELECT unnest(range(0, {bands})) AS b) band
    ), cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    ), shn AS (
      SELECT doc_id, shingles, len(shingles) AS n FROM sh
    ), truth AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b
      FROM shn x JOIN shn y ON x.doc_id < y.doc_id
      WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
            / (x.n + y.n - len(list_intersect(x.shingles, y.shingles)))
            >= 0.5
    ), found AS (
      SELECT t.id_a FROM truth t
      SEMI JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b
    )
    SELECT (SELECT count(*) FROM truth) AS n_true,
      (SELECT count(*) FROM cand) AS n_candidates,
      (SELECT count(*) FROM found) AS n_found,
      round(CASE WHEN (SELECT count(*) FROM truth) > 0
            THEN (SELECT count(*) FROM found)::DOUBLE
                 / (SELECT count(*) FROM truth) END, 4) AS recall
    """
    )


LLM_ORACLES["minhash_recall_report"] = _minhash_recall_sql()


RELATIONAL_ORACLES["events_type_drift"] = """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, event_type FROM events
    ), dc AS (
      SELECT day, event_type, count(*) AS n FROM d GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, count(*) AS n_all FROM d GROUP BY 1
    ), grand AS (SELECT count(*) AS g FROM d),
    per_day AS (
      SELECT dc.day,
        list(struct_pack(event_type := dc.event_type, n := dc.n,
                         n_all := tot.n_all)
             ORDER BY dc.event_type) AS ts,
        sum(dc.n) AS n_day
      FROM dc JOIN tot USING (event_type) GROUP BY dc.day
    )
    SELECT day, CAST(n_day AS BIGINT) AS n_day,
      round(list_reduce(list_prepend(0.0, list_transform(ts,
        t -> (CAST(t.n AS DOUBLE) / CAST(n_day AS DOUBLE)
              - CAST(t.n_all AS DOUBLE) / CAST(g AS DOUBLE))
           * (CAST(t.n AS DOUBLE) / CAST(n_day AS DOUBLE)
              - CAST(t.n_all AS DOUBLE) / CAST(g AS DOUBLE))
           / (CAST(t.n_all AS DOUBLE) / CAST(g AS DOUBLE)))),
        (acc, x) -> acc + x), 6) AS chi2_drift
    FROM per_day, grand
    """


RELATIONAL_ORACLES["events_new_vs_returning"] = """
    WITH d AS (
      SELECT user_id, CAST(ts AS DATE) AS day FROM events
    ), fd AS (
      SELECT user_id, min(day) AS first_day FROM d GROUP BY user_id
    )
    SELECT d.day, count(*) AS n_events,
      CAST(sum(CASE WHEN d.day = fd.first_day THEN 1 ELSE 0 END) AS BIGINT)
        AS n_new_user_events,
      CAST(sum(CASE WHEN d.day <> fd.first_day THEN 1 ELSE 0 END) AS BIGINT)
        AS n_returning_events
    FROM d JOIN fd USING (user_id)
    GROUP BY d.day
    """


RELATIONAL_ORACLES["events_value_log2_histogram"] = """
    SELECT CAST(length(format('{:b}', CAST(round(value * 100) AS BIGINT)))
                AS INTEGER) AS bits,
      count(*) AS n
    FROM events WHERE value IS NOT NULL AND value >= 0
    GROUP BY 1
    """


HYDRO_ORACLES["hydro_station_uptime"] = HYDRO_CTE + """
    , slots AS (
      SELECT wlobscd,
        CAST(floor(epoch_us(try_strptime(obs_time_str, '%Y-%m-%d %H:%M'))
                   / 600000000) AS BIGINT) AS slot
      FROM classified
      WHERE water_level IS NOT NULL
        AND try_strptime(obs_time_str, '%Y-%m-%d %H:%M') IS NOT NULL
    ), bounds AS (
      SELECT min(slot) AS lo, max(slot) AS hi FROM slots
    ), per AS (
      SELECT wlobscd, count(DISTINCT slot) AS n_slots FROM slots GROUP BY 1
    )
    SELECT wlobscd, n_slots,
      (hi - lo + 1) AS expected_slots,
      round(CAST(n_slots AS DOUBLE) / CAST(hi - lo + 1 AS DOUBLE), 4)
        AS uptime
    FROM per, bounds
    """


RELATIONAL_ORACLES["events_session_window_agg"] = """
    WITH o AS (
      SELECT user_id, ts, event_type,
        CASE WHEN lag(ts) OVER w IS NULL
               OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
             THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts, event_type,
        sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id, min(ts) AS session_start,
      max(ts) + INTERVAL 30 MINUTE AS session_end,
      count(*) AS n_events,
      CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS BIGINT) AS n_purchases
    FROM s GROUP BY user_id, sid
    """


RELATIONAL_ORACLES["events_histogram_quantiles"] = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
        LEAST(CAST(floor(value) AS INTEGER), 511) AS bucket,
        count(*) AS n
      FROM events WHERE value IS NOT NULL AND value >= 0
      GROUP BY 1, 2, 3
    ), merged AS (
      SELECT event_type, bucket, CAST(sum(n) AS BIGINT) AS n
      FROM daily GROUP BY 1, 2
    ), h AS (
      SELECT event_type, bucket, n,
        CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bucket
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
      FROM merged
    ), hq AS (
      SELECT h.*, qs.q, qs.q * h.total AS t
      FROM h CROSS JOIN (VALUES (0.5), (0.9), (0.99)) AS qs(q)
    ), crossing AS (
      SELECT event_type, q, min(bucket) AS bucket
      FROM hq WHERE cum >= t GROUP BY 1, 2
    ), est AS (
      SELECT c.event_type, c.q, h.total,
        c.bucket + (c.q * h.total - (h.cum - h.n)) / h.n AS est
      FROM crossing c
      JOIN h ON h.event_type = c.event_type AND h.bucket = c.bucket
    )
    SELECT event_type, max(total) AS n,
      round(max(CASE WHEN q = 0.5 THEN est END), 4) AS p50_est,
      round(max(CASE WHEN q = 0.9 THEN est END), 4) AS p90_est,
      round(max(CASE WHEN q = 0.99 THEN est END), 4) AS p99_est
    FROM est GROUP BY 1
    """


RELATIONAL_ORACLES["parts_copurchase_lift"] = """
    -- int->double ceilings audited r14: np products <= 2.9e3 at sf0.1
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    no_ AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    pc AS (SELECT l_partkey, count(*) AS np FROM op GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        count(*) AS n_ab
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 3
    )
    SELECT part_a, part_b, n_ab, na.np AS n_a, nb.np AS n_b,
      round((n_ab * n_orders) / CAST(na.np * nb.np /* int<2^53 */ AS DOUBLE), 4) AS lift
    FROM pairs
    JOIN pc na ON na.l_partkey = part_a
    JOIN pc nb ON nb.l_partkey = part_b
    CROSS JOIN no_
    """


RELATIONAL_ORACLES["copurchase_triangles"] = """
    -- int->double ceilings audited r14: degree^2 bounded by block size, <= 1e8 at sf0.1
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ), tri AS (
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM edges e1
      JOIN edges e2 ON e1.v = e2.u
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ), pn AS (
      SELECT part, count(*) AS n_triangles FROM (
        SELECT x AS part FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY 1
    ), deg AS (
      SELECT part, count(*) AS degree FROM (
        SELECT u AS part FROM edges
        UNION ALL SELECT v FROM edges
      ) GROUP BY 1
    )
    SELECT part, n_triangles, degree,
      round((2 * n_triangles) / CAST(degree * (degree - 1) /* int<2^53 */ AS DOUBLE), 4)
        AS clustering
    FROM pn JOIN deg USING (part)
    """


def _pagerank_sql(iters: int = 5) -> str:
    """Unrolled exact-integer PageRank twin (see
    plans/relational.nation_trade_pagerank for the arithmetic contract:
    int64-bounded floor decomposition of r·p/1e9, ppb transition
    probabilities, ranks in 1e-12 units)."""
    parts = ["""
    WITH e0 AS (
      SELECT sn.n_name AS u, cn.n_name AS v,
        CAST(sum(TRY_CAST(printf('%.2f', l_extendedprice) AS DECIMAL(12,2))
             * (1 - TRY_CAST(printf('%.2f', l_discount) AS DECIMAL(12,2))))
             * 10000 AS BIGINT) AS w
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE cn.n_name <> sn.n_name GROUP BY 1, 2
    ), ow AS (
      SELECT u, CAST(sum(w) AS BIGINT) AS out_w FROM e0 GROUP BY 1
    ), e AS (
      SELECT e0.u, e0.v,
        CAST(round(CAST(w AS DOUBLE) * 1e9 / CAST(out_w AS DOUBLE))
             AS BIGINT) AS p
      FROM e0 JOIN ow ON e0.u = ow.u
    ), n AS (SELECT n_name AS node FROM nation),
    r0 AS (SELECT node, CAST(40000000000 AS BIGINT) AS r FROM n)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
    d{i} AS (
      SELECT CAST(COALESCE(sum(r), 0) // 25 AS BIGINT) AS ds
      FROM r{i - 1} WHERE node NOT IN (SELECT u FROM e)
    ),
    r{i} AS (
      SELECT n.node,
        CAST(6000000000 + (85 * (COALESCE(a.s, 0) + d{i}.ds)) // 100
             AS BIGINT) AS r
      FROM n CROSS JOIN d{i} LEFT JOIN (
        SELECT e.v AS node,
          CAST(sum((r // 1000000000) * p
                   + ((r % 1000000000) * p) // 1000000000) AS BIGINT) AS s
        FROM e JOIN r{i - 1} ON e.u = r{i - 1}.node GROUP BY 1
      ) a ON n.node = a.node)""")
    parts.append(f"""
    SELECT node AS nation, r AS rank_e12,
      round(CAST(r AS DOUBLE) / 1e12 * 25, 4) AS rank_rel
    FROM r{iters}
    """)
    return "".join(parts)


RELATIONAL_ORACLES["nation_trade_pagerank"] = _pagerank_sql()


RELATIONAL_ORACLES["orders_benford_digits"] = """
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                         AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders
      WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0
    ), counts AS (
      SELECT digit, count(*) AS n FROM c GROUP BY 1
    ), tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
    SELECT digit, n,
      round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 4) AS share,
      round(CAST(bf.b AS DOUBLE), 4) AS benford_share,
      round((CAST(n AS DOUBLE) - CAST(bf.b AS DOUBLE)
             * CAST(total AS DOUBLE))
            * (CAST(n AS DOUBLE) - CAST(bf.b AS DOUBLE)
               * CAST(total AS DOUBLE))
            / (CAST(bf.b AS DOUBLE) * CAST(total AS DOUBLE)), 4)
        AS chi2_term
    FROM counts CROSS JOIN tot
    -- the VALUES literals type as DECIMAL in DuckDB; cast to DOUBLE so
    -- the arithmetic (and the rounded output column) match Spark's lit
    JOIN (VALUES (1, 0.3010299957), (2, 0.1760912591), (3, 0.1249387366),
                 (4, 0.0969100130), (5, 0.0791812460), (6, 0.0669467896),
                 (7, 0.0579919470), (8, 0.0511525224), (9, 0.0457574906))
         bf(d, b) ON bf.d = counts.digit
    """


RELATIONAL_ORACLES["events_ab_test"] = """
    WITH pu AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
        max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          AS converted
      FROM events GROUP BY 1, 2
    ), pv AS (
      SELECT ((user_id % 2147483648) * 2654435761) % 2147483648 % 2
          AS variant,
        count(*) AS n_units,
        CAST(sum(converted) AS BIGINT) AS n_converted
      FROM pu GROUP BY 1
    ), ab AS (
      SELECT a.n_units AS n_a, a.n_converted AS c_a,
             b.n_units AS n_b, b.n_converted AS c_b
      FROM (SELECT * FROM pv WHERE variant = 0) a
      CROSS JOIN (SELECT * FROM pv WHERE variant = 1) b
    ), stats AS (
      SELECT *,
        CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
        CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
        CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
      FROM ab
    )
    SELECT n_a, c_a, n_b, c_b,
      round(pa, 4) AS p_a, round(pb, 4) AS p_b,
      round((pa - pb) / sqrt(pp * (1.0 - pp)
            * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 4)
        AS z
    FROM stats
    """


RELATIONAL_ORACLES["brand_supplier_hhi"] = """
    WITH bs AS (
      SELECT p_brand, l_suppkey,
        CAST(sum(TRY_CAST(printf('%.2f', l_extendedprice) AS DECIMAL(12,2))
             * (1 - TRY_CAST(printf('%.2f', l_discount) AS DECIMAL(12,2))))
             * 10000 AS BIGINT) AS r
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
    ), pb AS (
      SELECT p_brand,
        list(struct_pack(l_suppkey := l_suppkey, r := r)
             ORDER BY l_suppkey, r) AS rs,
        CAST(sum(r) AS BIGINT) AS tot,
        count(*) AS n_suppliers
      FROM bs GROUP BY 1
    )
    SELECT p_brand AS brand, n_suppliers,
      round(list_reduce(list_prepend(0.0, list_transform(rs,
        t -> (CAST(t.r AS DOUBLE) / CAST(tot AS DOUBLE))
           * (CAST(t.r AS DOUBLE) / CAST(tot AS DOUBLE)))),
        (acc, x) -> acc + x), 6) AS hhi
    FROM pb
    """


RELATIONAL_ORACLES["events_cusum_changepoint"] = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1, 2
    ), scored AS (
      SELECT event_type, day,
        CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS n_total,
        count(*) OVER (PARTITION BY event_type) AS n_days,
        CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day)
             AS BIGINT) AS run,
        row_number() OVER (PARTITION BY event_type ORDER BY day) AS idx
      FROM daily
    ), cu AS (
      SELECT *,
        CAST(run AS DOUBLE) - CAST(idx AS DOUBLE)
          * (CAST(n_total AS DOUBLE) / CAST(n_days AS DOUBLE)) AS cusum
      FROM scored
    ), pick AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY abs(cusum) DESC, day ASC) AS rn
      FROM cu
    )
    SELECT event_type, day AS change_day,
      round(cusum, 4) AS cusum_at_peak, n_days,
      round(CAST(n_total AS DOUBLE) / CAST(n_days AS DOUBLE), 4)
        AS mean_daily
    FROM pick WHERE rn = 1
    """


RELATIONAL_ORACLES["events_session_paths"] = """
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type,
        CASE WHEN lag(ts) OVER w IS NULL
               OR date_diff('second', lag(ts) OVER w, ts) > 1800
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, event_id, ts, event_type,
        sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ), seqs AS (
      SELECT user_id, session_id,
        list(event_type ORDER BY ts, event_id) AS seq
      FROM sess GROUP BY 1, 2
    ), tris AS (
      SELECT unnest(CASE WHEN len(seq) >= 3
        THEN list_transform(range(1, len(seq) - 1),
             i -> array_to_string(list_slice(seq, i, i + 2), '>'))
        ELSE []::VARCHAR[] END) AS path
      FROM seqs
    )
    SELECT path, count(*) AS n FROM tris
    GROUP BY 1 ORDER BY n DESC, path LIMIT 20
    """


RELATIONAL_ORACLES["session_survival_curve"] = """
    WITH flagged AS (
      SELECT user_id, event_id, ts,
        CASE WHEN lag(ts) OVER w IS NULL
               OR date_diff('second', lag(ts) OVER w, ts) > 1800
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
        sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ), per_sess AS (
      SELECT user_id, session_id,
        date_trunc('second', min(ts)) AS t0,
        date_trunc('second', max(ts)) AS t1
      FROM sess GROUP BY 1, 2
    ), g AS (SELECT max(t1) AS gmax FROM per_sess),
    pu AS (
      SELECT CAST(date_diff('second', t0, t1) // 60 AS INTEGER) AS t,
        CASE WHEN date_diff('second', t1, gmax) <= 1800
             THEN 1 ELSE 0 END AS censored
      FROM per_sess, g
    ), life AS (
      SELECT t, count(*) AS n_ending,
        CAST(sum(1 - censored) AS BIGINT) AS d
      FROM pu GROUP BY 1
    ), tot AS (SELECT CAST(sum(n_ending) AS BIGINT) AS total FROM life),
    life2 AS (
      SELECT t, n_ending, d,
        CAST(total - coalesce(sum(n_ending) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS n_at_risk,
        row_number() OVER (ORDER BY t) AS rn
      FROM life, tot
    ), fa AS (
      SELECT list(1.0 - CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE)
                  ORDER BY t) AS factors
      FROM life2
    )
    SELECT t AS t_minutes, n_at_risk, d AS d_ended,
      round(list_reduce(list_prepend(1.0,
            list_slice(factors, 1, rn)), (a, b) -> a * b), 6) AS survival
    FROM life2, fa
    """


RELATIONAL_ORACLES["orders_open_backlog_curve"] = """
    WITH close_d AS (
      SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS close_day
      FROM lineitem GROUP BY 1
    ), spans AS (
      SELECT CAST(o_orderdate AS DATE) AS open_day, close_day
      FROM orders JOIN close_d ON o_orderkey = l_orderkey
    ), deltas AS (
      SELECT open_day AS day, 1 AS delta FROM spans
      UNION ALL
      SELECT close_day + 1, -1 FROM spans
    ), daily AS (
      SELECT day, CAST(sum(delta) AS BIGINT) AS d
      FROM deltas GROUP BY 1
    )
    SELECT day,
      CAST(sum(d) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
           AS BIGINT) AS n_open
    FROM daily
    """


RELATIONAL_ORACLES["orders_ship_latency_percentiles"] = """
    WITH fs AS (
      SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS first_ship
      FROM lineitem GROUP BY 1
    ), lat AS (
      SELECT o_orderpriority,
        CAST(date_diff('day', CAST(o_orderdate AS DATE), first_ship)
             AS INTEGER) AS days
      FROM orders JOIN fs ON o_orderkey = l_orderkey
    )
    SELECT o_orderpriority, count(*) AS n,
      median(days) AS med_days,
      quantile_cont(days, 0.9) AS p90_days,
      max(days) AS max_days
    FROM lat GROUP BY 1 ORDER BY 1
    """


RELATIONAL_ORACLES["lineitem_pareto_abc"] = """
    WITH pp AS (
      SELECT l_partkey,
        CAST(sum(TRY_CAST(printf('%.2f', l_extendedprice) AS DECIMAL(12,2))
             * (1 - TRY_CAST(printf('%.2f', l_discount) AS DECIMAL(12,2))))
             * 10000 AS BIGINT) AS r
      FROM lineitem GROUP BY 1
    ), rk AS (
      SELECT l_partkey, r,
        CAST(sum(r) OVER (ORDER BY r DESC, l_partkey
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        CAST(sum(r) OVER () AS BIGINT) AS total
      FROM pp
    )
    SELECT CASE WHEN CAST(cum AS DOUBLE) <= 0.80 * CAST(total AS DOUBLE)
                THEN 'A'
                WHEN CAST(cum AS DOUBLE) <= 0.95 * CAST(total AS DOUBLE)
                THEN 'B' ELSE 'C' END AS abc,
      count(*) AS n_parts,
      round(CAST(sum(r) AS DOUBLE) / CAST(max(total) AS DOUBLE), 4)
        AS revenue_share
    FROM rk GROUP BY 1
    """


RELATIONAL_ORACLES["customer_rfm_segments"] = """
    WITH g AS (SELECT max(CAST(o_orderdate AS DATE)) AS gmax FROM orders),
    pc AS (
      SELECT o_custkey,
        CAST(min(date_diff('day', CAST(o_orderdate AS DATE), gmax))
             AS INTEGER) AS recency_days,
        count(*) AS n_orders,
        CAST(sum(TRY_CAST(printf('%.2f', o_totalprice) AS DECIMAL(12,2)))
             * 100 AS BIGINT) AS spend_cents
      FROM orders, g GROUP BY o_custkey
    ), sc AS (
      SELECT
        CAST(ntile(4) OVER (ORDER BY recency_days ASC, o_custkey)
             AS INTEGER) AS r_quartile,
        CAST(ntile(4) OVER (ORDER BY n_orders DESC, o_custkey)
             AS INTEGER) AS f_quartile,
        CAST(ntile(4) OVER (ORDER BY spend_cents DESC, o_custkey)
             AS INTEGER) AS m_quartile
      FROM pc
    )
    SELECT r_quartile, f_quartile, m_quartile,
      count(*) AS n_customers
    FROM sc GROUP BY 1, 2, 3
    """


LLM_ORACLES["docs_contamination_report"] = r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 3 THEN
          list_distinct([array_to_string(toks[i:i+2], ' ')
                         FOR i IN range(1, len(toks) - 1)])
        ELSE [] END AS sh
      FROM tok
    ), ex AS (
      SELECT doc_id, unnest(sh) AS s FROM sh
    ), ev AS (
      SELECT DISTINCT s FROM ex WHERE doc_id % 97 = 0
    ), per_doc AS (
      SELECT doc_id, count(*) AS n_shingles,
        CAST(sum(CASE WHEN s IN (SELECT s FROM ev) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_overlap
      FROM ex WHERE doc_id % 97 <> 0 GROUP BY 1
    )
    SELECT doc_id, n_shingles, n_overlap,
      round(CAST(n_overlap AS DOUBLE) / CAST(n_shingles AS DOUBLE), 4)
        AS overlap_frac,
      CASE WHEN CAST(n_overlap AS DOUBLE) / CAST(n_shingles AS DOUBLE)
                >= 0.5 THEN 'high'
           WHEN CAST(n_overlap AS DOUBLE) / CAST(n_shingles AS DOUBLE)
                >= 0.1 THEN 'medium'
           ELSE 'low' END AS severity
    FROM per_doc WHERE n_overlap > 0
    """


RELATIONAL_ORACLES["sessions_ordered_funnel"] = """
    -- The funnel stage is computed RELATIONALLY (greedy-earliest
    -- match indices), not as a list_reduce fold: DuckDB's vectorized
    -- list_reduce returns NONDETERMINISTIC results for accumulator-
    -- BRANCHING lambdas (CASE on acc) at sf0.1 row counts — ~1
    -- session in 95k flipped stage between runs, found r9; MATERIALIZED
    -- did not stabilize it. Greedy-earliest (first signup, first view
    -- after it, any purchase after that view) IS the state machine:
    -- matching earliest occurrences is optimal for ordered-subsequence
    -- existence. Plain +/sum folds elsewhere are unaffected.
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type,
        CASE WHEN lag(ts) OVER w IS NULL
               OR date_diff('second', lag(ts) OVER w, ts) > 1800
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, event_id, ts, event_type,
        sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ), rn AS (
      SELECT user_id, session_id, event_type,
        row_number() OVER (PARTITION BY user_id, session_id
                           ORDER BY ts, event_id) AS rn
      FROM sess
    ), s1 AS (
      SELECT user_id, session_id,
        min(CASE WHEN event_type = 'signup' THEN rn END) AS r1
      FROM rn GROUP BY 1, 2
    ), s2 AS (
      SELECT r.user_id, r.session_id, min(s1.r1) AS r1,
        min(CASE WHEN r.event_type = 'view' AND r.rn > s1.r1
            THEN r.rn END) AS r2
      FROM rn r JOIN s1 USING (user_id, session_id) GROUP BY 1, 2
    ), s3 AS (
      SELECT r.user_id, r.session_id, min(s2.r1) AS r1, min(s2.r2) AS r2,
        min(CASE WHEN r.event_type = 'purchase' AND r.rn > s2.r2
            THEN r.rn END) AS r3
      FROM rn r JOIN s2 USING (user_id, session_id) GROUP BY 1, 2
    ), staged AS (
      SELECT CASE WHEN r3 IS NOT NULL THEN 3
                  WHEN r2 IS NOT NULL THEN 2
                  WHEN r1 IS NOT NULL THEN 1
                  ELSE 0 END AS funnel_stage
      FROM s3
    )
    SELECT CAST(funnel_stage AS INTEGER) AS funnel_stage,
      count(*) AS n_sessions
    FROM staged GROUP BY 1
    """


RELATIONAL_ORACLES["events_type_correlations"] = """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ), pairs AS (
      SELECT a.event_type AS type_x, b.event_type AS type_y,
        count(*) AS n_days,
        CAST(sum(a.n) AS BIGINT) AS sx,
        CAST(sum(b.n) AS BIGINT) AS sy,
        CAST(sum(a.n * b.n) AS BIGINT) AS sxy,
        CAST(sum(a.n * a.n) AS BIGINT) AS sxx,
        CAST(sum(b.n * b.n) AS BIGINT) AS syy
      FROM daily a JOIN daily b
        ON a.day = b.day AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_x, type_y, n_days,
      round((CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / sqrt((CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * (CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4)
        AS pearson_r
    FROM pairs
    """


# the bisection result is the mean of the two middle ELEMENTS; DuckDB's
# interpolated quantile_cont computes x1+(x2-x1)*0.5 — equal to
# (x1+x2)/2 within 1 ulp, and identical after the 4-decimal rounding
# because 2-decimal inputs put midpoints at 3 decimals, never on a
# round-to-4 boundary.
RELATIONAL_ORACLES["events_median_bisect"] = """
    SELECT event_type, count(*) AS n,
      round(median(value), 4) AS med
    FROM events WHERE value IS NOT NULL
    GROUP BY 1
    """


LLM_ORACLES["corpus_quality_scorecard"] = r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), vol AS (
      SELECT count(*) AS n_docs,
        count(DISTINCT text) AS n_distinct_texts,
        count(DISTINCT lang) AS n_langs
      FROM documents
    ), tk AS (
      SELECT CAST(sum(len(toks)) AS BIGINT) AS n_tokens FROM tok
    ), stats AS (
      SELECT doc_id, len(toks) AS n_tokens,
        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        CAST(len(list_filter(toks,
             x -> x IN ('the','a','of','and','data'))) AS DOUBLE)
          / len(toks) AS stopword_ratio
      FROM tok
    ), q10s AS (
      SELECT CAST(round(
        (CASE WHEN n_tokens >= 20 AND n_tokens <= 1000
              THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
         + CASE WHEN ttr >= 0.3 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END
         + CASE WHEN stopword_ratio >= 0.01 AND stopword_ratio <= 0.5
                THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END) * 10)
        AS BIGINT) AS q10
      FROM stats
    ), qual AS (
      SELECT CAST(sum(q10) AS BIGINT) AS q10_sum,
        CAST(sum(CASE WHEN q10 >= 7 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_keep
      FROM q10s
    ), sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 3 THEN
          list_distinct([array_to_string(toks[i:i+2], ' ')
                         FOR i IN range(1, len(toks) - 1)])
        ELSE [] END AS sh
      FROM tok
    ), ex AS (
      SELECT doc_id, unnest(sh) AS s FROM sh
    ), ev AS (
      SELECT DISTINCT s FROM ex WHERE doc_id % 97 = 0
    ), contam AS (
      SELECT count(DISTINCT doc_id) AS n_contaminated
      FROM ex WHERE doc_id % 97 <> 0 AND s IN (SELECT s FROM ev)
    )
    SELECT n_docs, n_tokens, n_langs,
      round(CAST(n_docs - n_distinct_texts AS DOUBLE)
            / CAST(n_docs AS DOUBLE), 4) AS exact_dup_share,
      n_contaminated,
      round(CAST(q10_sum AS DOUBLE) / 10.0
            / CAST(n_docs AS DOUBLE), 4) AS mean_quality,
      round(CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE), 4)
        AS keep_rate
    FROM vol, tk, qual, contam
    """


def _label_prop_sql(rounds: int = 3) -> str:
    """Unrolled deterministic label-propagation twin (most-frequent
    neighbour label, smallest-label tie-break; see
    plans/relational.copurchase_label_propagation)."""
    parts = ["""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    half AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ), adj AS (
      SELECT u, v FROM half UNION ALL SELECT v, u FROM half
    ), l0 AS (
      SELECT DISTINCT u AS node, u AS label FROM adj
    )"""]
    for i in range(1, rounds + 1):
        parts.append(f""",
    l{i} AS (
      SELECT node, label FROM (
        SELECT adj.u AS node, l{i - 1}.label, count(*) AS cnt,
          row_number() OVER (PARTITION BY adj.u
            ORDER BY count(*) DESC, l{i - 1}.label ASC) AS rn
        FROM adj JOIN l{i - 1} ON adj.v = l{i - 1}.node
        GROUP BY adj.u, l{i - 1}.label
      ) WHERE rn = 1
    )""")
    parts.append(f"""
    SELECT label, count(*) AS community_size
    FROM l{rounds} GROUP BY 1 HAVING count(*) > 1
    """)
    return "".join(parts)


RELATIONAL_ORACLES["copurchase_label_propagation"] = _label_prop_sql()


RELATIONAL_ORACLES["events_autocorrelation"] = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT a.event_type, k.k, a.n AS x, b.n AS y
      FROM daily a
      CROSS JOIN (VALUES (1),(2),(3),(4),(5),(6),(7)) k(k)
      JOIN daily b ON b.event_type = a.event_type
        AND b.day = a.day + CAST(k.k AS INTEGER)
    ), m AS (
      SELECT event_type, k, count(*) AS n_pairs,
        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        CAST(sum(x * y) AS BIGINT) AS sxy,
        CAST(sum(x * x) AS BIGINT) AS sxx,
        CAST(sum(y * y) AS BIGINT) AS syy
      FROM lagged GROUP BY 1, 2
    )
    SELECT event_type, k, n_pairs,
      round((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4)
        AS acf_r
    FROM m
    """


LLM_ORACLES["docs_containment_pairs"] = _TOK_CTE + """
    , sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 5 THEN
          list_distinct([array_to_string(toks[i:i+4], ' ')
                         FOR i IN range(1, len(toks) - 3)])
        ELSE [] END AS shingles
      FROM tok
    ), ex AS (
      SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh
    ), hot AS (
      SELECT s FROM ex GROUP BY s HAVING count(*) > 50
    ), exc AS (
      SELECT ex.* FROM ex ANTI JOIN hot USING (s)
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.n_sh AS na, b.n_sh AS nb, count(*) AS common
      FROM exc a JOIN exc b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b, common,
      CAST(na AS INTEGER) AS na, CAST(nb AS INTEGER) AS nb,
      round(CAST(common AS DOUBLE) / least(na, nb), 4) AS containment
    FROM pairs
    WHERE CAST(common AS DOUBLE) / least(na, nb) >= 0.8
    """


RELATIONAL_ORACLES["lineitem_monthly_yoy"] = """
    WITH monthly AS (
      SELECT CAST(year(l_shipdate) AS INTEGER) AS yr,
        CAST(month(l_shipdate) AS INTEGER) AS mo,
        CAST(sum(TRY_CAST(printf('%.2f', l_extendedprice) AS DECIMAL(12,2))
             * (1 - TRY_CAST(printf('%.2f', l_discount) AS DECIMAL(12,2))))
             * 10000 AS BIGINT) AS r
      FROM lineitem GROUP BY 1, 2
    )
    SELECT cur.yr, cur.mo,
      CAST(cur.r AS DOUBLE) / 10000 AS revenue,
      round((CAST(cur.r AS DOUBLE) - CAST(prev.r AS DOUBLE))
            / CAST(prev.r AS DOUBLE) * 100, 4) AS yoy_growth_pct
    FROM monthly cur JOIN monthly prev
      ON cur.mo = prev.mo AND cur.yr = prev.yr + 1
    """


# the recursive CTE replays Holt's recurrence in the same expression
# shape as the Spark fold (0.5*x + 0.5*(l+t); 0.3*(newl-l) + 0.7*t),
# so every intermediate double is bit-identical
RELATIONAL_ORACLES["events_holt_forecast"] = """
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, n,
        row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM daily
    ), holt AS (
      SELECT event_type, rn, CAST(n AS DOUBLE) AS l, 0.0::DOUBLE AS t
      FROM idx WHERE rn = 1
      UNION ALL
      SELECT d.event_type, d.rn,
        0.5 * CAST(d.n AS DOUBLE) + 0.5 * (h.l + h.t) AS l,
        0.3 * ((0.5 * CAST(d.n AS DOUBLE) + 0.5 * (h.l + h.t)) - h.l)
          + 0.7 * h.t AS t
      FROM holt h JOIN idx d
        ON d.event_type = h.event_type AND d.rn = h.rn + 1
    ), last AS (
      SELECT event_type, max(rn) AS n_days FROM holt GROUP BY 1
    )
    SELECT h.event_type, CAST(last.n_days AS INTEGER) AS n_days,
      round(h.l, 4) AS level, round(h.t, 4) AS trend,
      round(h.l + h.t, 4) AS forecast_next
    FROM holt h JOIN last
      ON h.event_type = last.event_type AND h.rn = last.n_days
    """


RELATIONAL_ORACLES["events_user_lorenz_curve"] = """
    WITH pu AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY 1
    ), dec AS (
      SELECT CAST(ntile(10) OVER (ORDER BY n ASC, user_id)
                  AS INTEGER) AS decile, n
      FROM pu
    ), pd AS (
      SELECT decile, count(*) AS n_users,
        CAST(sum(n) AS BIGINT) AS n_events
      FROM dec GROUP BY 1
    )
    SELECT decile, n_users, n_events,
      round(CAST(n_events AS DOUBLE)
            / CAST(sum(n_events) OVER () AS DOUBLE), 4) AS share,
      round(CAST(sum(n_events) OVER (ORDER BY decile
                ROWS UNBOUNDED PRECEDING) AS DOUBLE)
            / CAST(sum(n_events) OVER () AS DOUBLE), 4) AS cum_share
    FROM pd
    """


RELATIONAL_ORACLES["events_value_moments"] = """
    WITH c AS (
      SELECT event_type,
        CAST(round(value * 100) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL
    ), m0 AS (
      -- exact HUGEINT power sums; Σx³/Σx⁴ EXCEED 2^53 at sf0.1
      -- (measured 1.5e16 / 3.1e20), where DuckDB's HUGEINT→DOUBLE
      -- cast is not correctly rounded (SCALE.md §r13) — so the
      -- conversion below goes through the hi/lo 2^40 split: each
      -- part converts exactly (< 2^53), the power-of-two scale is
      -- exact, and the single IEEE add correctly rounds — matching
      -- Spark's correctly-rounded Decimal→double (SCALE.md §r14)
      SELECT event_type, count(*) AS n,
        sum(CAST(x AS HUGEINT)) AS i1,
        sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS i2,
        sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)
            * CAST(x AS HUGEINT)) AS i3,
        sum((CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
            * (CAST(x AS HUGEINT) * CAST(x AS HUGEINT))) AS i4
      FROM c GROUP BY 1
    ), m AS (
      SELECT event_type, n,
        CAST(i1 AS DOUBLE) AS s1,
        CAST(i2 // 1099511627776 AS DOUBLE) * 1099511627776.0
          + CAST(i2 % 1099511627776 AS DOUBLE) AS s2,
        CAST(i3 // 1099511627776 AS DOUBLE) * 1099511627776.0
          + CAST(i3 % 1099511627776 AS DOUBLE) AS s3,
        CAST(i4 // 1099511627776 AS DOUBLE) * 1099511627776.0
          + CAST(i4 % 1099511627776 AS DOUBLE) AS s4
      FROM m0
    )
    SELECT event_type, n,
      round(s1 / CAST(n AS DOUBLE) / 100, 4) AS mean_value,
      round((s3 / CAST(n AS DOUBLE)
             - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s2 / CAST(n AS DOUBLE))
             + 2.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
               * (s1 / CAST(n AS DOUBLE)))
            / sqrt((s2 / CAST(n AS DOUBLE)
                    - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
                   * (s2 / CAST(n AS DOUBLE)
                      - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
                   * (s2 / CAST(n AS DOUBLE)
                      - (s1 / CAST(n AS DOUBLE))
                        * (s1 / CAST(n AS DOUBLE)))), 4) AS skewness,
      round((s4 / CAST(n AS DOUBLE)
             - 4.0 * (s1 / CAST(n AS DOUBLE)) * (s3 / CAST(n AS DOUBLE))
             + 6.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
               * (s2 / CAST(n AS DOUBLE))
             - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
               * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
            / ((s2 / CAST(n AS DOUBLE)
                - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
               * (s2 / CAST(n AS DOUBLE)
                  - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))))
            - 3.0, 4) AS excess_kurtosis
    FROM m
    """


WIRE_ORACLES["wire_impute_report"] = _WIRE_CTE + """
    , rec AS (
      -- extract through an inline validity guard: the optimizer can
      -- evaluate the projection before the WHERE, and a bare
      -- json_extract throws on the truncated corrupt rows
      SELECT
        json_extract_string(CASE WHEN json_valid(value) THEN value END,
                            '$.wlobscd') AS wlobscd,
        json_extract_string(CASE WHEN json_valid(value) THEN value END,
                            '$.wl') AS wl
      FROM wire WHERE json_valid(value)
    )
    SELECT wlobscd, count(*) AS n_obs,
      CAST(sum(CASE WHEN TRY_CAST(NULLIF(TRIM(wl), '') AS DOUBLE)
                    IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
      round(median(TRY_CAST(NULLIF(TRIM(wl), '') AS DOUBLE)), 4)
        AS impute_median
    FROM rec WHERE wlobscd IS NOT NULL GROUP BY 1
    """


RELATIONAL_ORACLES["part_substitutes"] = """
    WITH p AS (
      SELECT p_partkey, p_type, p_size,
        CAST(round(p_retailprice * 100) AS BIGINT) AS cents
      FROM part
    )
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
      a.p_type, a.p_size,
      round(CAST(greatest(a.cents, b.cents) - least(a.cents, b.cents)
                 AS DOUBLE)
            / CAST(least(a.cents, b.cents) AS DOUBLE) * 100, 4)
        AS price_diff_pct
    FROM p a JOIN p b
      ON a.p_type = b.p_type AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE CAST(greatest(a.cents, b.cents) - least(a.cents, b.cents)
               AS DOUBLE)
          <= CAST(least(a.cents, b.cents) AS DOUBLE) * 0.05
    """


RELATIONAL_ORACLES["dq_uniqueness_report"] = """
    SELECT 'region' AS table_name, 'r_regionkey' AS key_column,
      count(*) AS n_rows, count(DISTINCT r_regionkey) AS n_distinct_keys,
      count(*) - count(DISTINCT r_regionkey) AS n_extra_rows FROM region
    UNION ALL
    SELECT 'nation', 'n_nationkey', count(*), count(DISTINCT n_nationkey),
      count(*) - count(DISTINCT n_nationkey) FROM nation
    UNION ALL
    SELECT 'customer', 'c_custkey', count(*), count(DISTINCT c_custkey),
      count(*) - count(DISTINCT c_custkey) FROM customer
    UNION ALL
    SELECT 'supplier', 's_suppkey', count(*), count(DISTINCT s_suppkey),
      count(*) - count(DISTINCT s_suppkey) FROM supplier
    UNION ALL
    SELECT 'part', 'p_partkey', count(*), count(DISTINCT p_partkey),
      count(*) - count(DISTINCT p_partkey) FROM part
    UNION ALL
    SELECT 'orders', 'o_orderkey', count(*), count(DISTINCT o_orderkey),
      count(*) - count(DISTINCT o_orderkey) FROM orders
    """


# ---------------------------------------------------------------------------
# Round-5 oracles
# ---------------------------------------------------------------------------

# Bigram-LM cross-entropy: same add-α model trained in SQL, same
# order-pinned fold over the sorted per-doc bigram terms (the
# docs_token_entropy determinism pattern), same log2 arithmetic.
LLM_ORACLES["docs_bigram_perplexity"] = r"""
    WITH tok AS (
      SELECT doc_id,
        list_transform(regexp_split_to_array(trim(text), '\s+'),
                       t -> lower(t)) AS toks
      FROM documents
    ),
    bgu AS (
      SELECT doc_id,
        unnest(list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i + 1])) AS bg
      FROM tok WHERE len(toks) >= 2
    ),
    db AS (SELECT doc_id, bg, count(*) AS k FROM bgu GROUP BY 1, 2),
    corpus_bg AS (SELECT bg, sum(k) AS c_bg FROM db GROUP BY 1),
    cw1 AS (
      SELECT split_part(bg, ' ', 1) AS w1, sum(c_bg) AS c_w1
      FROM corpus_bg GROUP BY 1
    ),
    probs AS (
      SELECT bg, c_bg, c_w1
      FROM corpus_bg JOIN cw1 ON split_part(corpus_bg.bg, ' ', 1) = cw1.w1
    ),
    vocab AS (
      SELECT count(DISTINCT w) AS v
      FROM (SELECT unnest(toks) AS w FROM tok)
    ),
    per_doc AS (
      SELECT db.doc_id, vocab.v,
        list(struct_pack(k := db.k, c_bg := probs.c_bg, c_w1 := probs.c_w1)
             ORDER BY db.bg) AS ts,
        sum(db.k) AS m
      FROM db JOIN probs USING (bg) CROSS JOIN vocab
      GROUP BY 1, 2
    )
    SELECT doc_id, CAST(m AS BIGINT) AS n_bigrams,
      round(
        -list_reduce(
          list_prepend(0.0, list_transform(ts,
            t -> CAST(t.k AS DOUBLE)
                 * log2((CAST(t.c_bg AS DOUBLE) + 0.5)
                        / (CAST(t.c_w1 AS DOUBLE)
                           + 0.5 * CAST(v AS DOUBLE))))),
          (acc, x) -> acc + x) / CAST(m AS DOUBLE),
        4) AS xent_bits
    FROM per_doc
    """


# Point-in-time feature join: identical window frames (range for the
# trailing count, (us, event_id)-ordered rows frames for the as-of
# value and running min).
RELATIONAL_ORACLES["events_feature_matrix"] = """
    WITH base AS (
      SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us
      FROM events
    ),
    feat AS (
      SELECT event_id, user_id, event_type, us, value AS label,
        sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER (
          PARTITION BY user_id ORDER BY us
          RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW
        ) AS views_7d,
        last_value(CASE WHEN event_type = 'error' THEN value END
                   IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY us, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS last_error_value,
        min(CASE WHEN event_type = 'signup' THEN us END) OVER (
          PARTITION BY user_id ORDER BY us, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS signup_us
      FROM base
    )
    SELECT event_id, user_id, CAST(views_7d AS BIGINT) AS views_7d,
      last_error_value,
      CAST((us - signup_us) // 86400000000 AS BIGINT)
        AS days_since_signup,
      label
    FROM feat WHERE event_type = 'purchase'
    """


# k-anonymity screen: same QI cells, same rollup.
RELATIONAL_ORACLES["events_k_anonymity"] = """
    WITH cells AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
        CAST(floor(coalesce(value, -1.0) / 10) AS BIGINT) AS value_band,
        count(*) AS n
      FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type,
      count(*) AS n_groups,
      CAST(sum(n) AS BIGINT) AS n_rows,
      CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_singletons,
      CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        AS rows_at_risk,
      round(CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
            / CAST(sum(n) AS DOUBLE), 4) AS at_risk_share
    FROM cells GROUP BY 1
    """


# Deterministic weighted sample: the integer Knuth-hash keep test and
# the exact-integer expected rate, mirrored literally.
LLM_ORACLES["docs_weighted_sample"] = """
    WITH wm AS (SELECT max(n_chars) AS w_max FROM documents),
    flagged AS (
      SELECT source, n_chars, w_max,
        ((doc_id % 2147483648) * 2654435761) % 2147483648 * w_max
          < n_chars * 2147483648 AS keep
      FROM documents CROSS JOIN wm
    )
    SELECT source, count(*) AS n_docs,
      CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(sum(n_chars) AS BIGINT) AS total_chars,
      CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT)
        AS kept_chars,
      round(CAST(sum(n_chars) AS DOUBLE) / CAST(first(w_max) AS DOUBLE), 4)
        AS expected_kept
    FROM flagged GROUP BY source
    """


# BFS levels as a recursive CTE: per-node min level == first-discovery
# depth, identical to the Spark frontier loop's level assignment.
RELATIONAL_ORACLES["copurchase_bfs_levels"] = """
    WITH RECURSIVE op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    half AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    adj AS (SELECT u, v FROM half UNION ALL SELECT v AS u, u AS v FROM half),
    walk AS (
      SELECT (SELECT min(u) FROM adj) AS node, 0 AS level
      UNION
      SELECT adj.v AS node, walk.level + 1 AS level
      FROM walk JOIN adj ON walk.node = adj.u
      WHERE walk.level < 6
    ),
    lv AS (SELECT node, min(level) AS level FROM walk GROUP BY node)
    SELECT CAST(level AS INTEGER) AS level, count(*) AS n_nodes,
      min(node) AS min_node, max(node) AS max_node
    FROM lv GROUP BY level
    """


# Sparse random projection: the same integer-hash matrix
# regenerated from arithmetic, same index-ordered folds.
LLM_ORACLES["embedding_random_projection"] = """
    SELECT vec_id,
      sqrt(3) * list_reduce(list_prepend(0.0,
        list_transform(range(0, len(embedding)),
          i -> CAST(embedding[i + 1] AS DOUBLE) *
               (CASE ((i * 8 + 0) * 2654435761) % 2147483648 % 6
                WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 ELSE 0.0 END))),
        (acc, x) -> acc + x) AS p0,
      sqrt(3) * list_reduce(list_prepend(0.0,
        list_transform(range(0, len(embedding)),
          i -> CAST(embedding[i + 1] AS DOUBLE) *
               (CASE ((i * 8 + 1) * 2654435761) % 2147483648 % 6
                WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 ELSE 0.0 END))),
        (acc, x) -> acc + x) AS p1,
      sqrt(3) * list_reduce(list_prepend(0.0,
        list_transform(range(0, len(embedding)),
          i -> CAST(embedding[i + 1] AS DOUBLE) *
               (CASE ((i * 8 + 2) * 2654435761) % 2147483648 % 6
                WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 ELSE 0.0 END))),
        (acc, x) -> acc + x) AS p2,
      sqrt(3) * list_reduce(list_prepend(0.0,
        list_transform(range(0, len(embedding)),
          i -> CAST(embedding[i + 1] AS DOUBLE) *
               (CASE ((i * 8 + 3) * 2654435761) % 2147483648 % 6
                WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 ELSE 0.0 END))),
        (acc, x) -> acc + x) AS p3,
      sqrt(3) * list_reduce(list_prepend(0.0,
        list_transform(range(0, len(embedding)),
          i -> CAST(embedding[i + 1] AS DOUBLE) *
               (CASE ((i * 8 + 4) * 2654435761) % 2147483648 % 6
                WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 ELSE 0.0 END))),
        (acc, x) -> acc + x) AS p4,
      sqrt(3) * list_reduce(list_prepend(0.0,
        list_transform(range(0, len(embedding)),
          i -> CAST(embedding[i + 1] AS DOUBLE) *
               (CASE ((i * 8 + 5) * 2654435761) % 2147483648 % 6
                WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 ELSE 0.0 END))),
        (acc, x) -> acc + x) AS p5,
      sqrt(3) * list_reduce(list_prepend(0.0,
        list_transform(range(0, len(embedding)),
          i -> CAST(embedding[i + 1] AS DOUBLE) *
               (CASE ((i * 8 + 6) * 2654435761) % 2147483648 % 6
                WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 ELSE 0.0 END))),
        (acc, x) -> acc + x) AS p6,
      sqrt(3) * list_reduce(list_prepend(0.0,
        list_transform(range(0, len(embedding)),
          i -> CAST(embedding[i + 1] AS DOUBLE) *
               (CASE ((i * 8 + 7) * 2654435761) % 2147483648 % 6
                WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 ELSE 0.0 END))),
        (acc, x) -> acc + x) AS p7
    FROM embeddings
    """


# Trained Naive Bayes language classifier: same counts, same dense
# smoothing grid, same order-pinned per-(doc, lang) fold, same
# deterministic argmax.
LLM_ORACLES["docs_nb_lang_classifier"] = r"""
    WITH tok AS (
      SELECT doc_id, lang,
        unnest(list_transform(regexp_split_to_array(trim(text), '\s+'),
                              t -> lower(t))) AS tok
      FROM documents
    ),
    ct AS (SELECT tok, lang, count(*) AS c FROM tok GROUP BY 1, 2),
    nl AS (SELECT lang, sum(c) AS n_l FROM ct GROUP BY 1),
    pri AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
    tot AS (SELECT count(*) AS n_total FROM documents),
    vocab AS (SELECT DISTINCT tok FROM ct),
    vc AS (SELECT count(*) AS v FROM vocab),
    grid AS (
      SELECT vocab.tok, nl.lang AS m_lang,
        coalesce(ct.c, 0) AS c, nl.n_l
      FROM vocab CROSS JOIN nl
      LEFT JOIN ct ON ct.tok = vocab.tok AND ct.lang = nl.lang
    ),
    dt AS (
      SELECT doc_id, lang, tok, count(*) AS k FROM tok GROUP BY 1, 2, 3
    ),
    terms AS (
      SELECT dt.doc_id, dt.lang, grid.m_lang, dt.tok, dt.k,
        grid.c, grid.n_l, vc.v
      FROM dt JOIN grid USING (tok) CROSS JOIN vc
    ),
    scored AS (
      SELECT doc_id, lang, m_lang,
        list_reduce(list_prepend(0.0, list_transform(
          list(struct_pack(tok := tok, k := k, c := c,
                           n_l := n_l, v := v)
               ORDER BY tok, k, c, n_l, v),
          t -> CAST(t.k AS DOUBLE)
               * log2((CAST(t.c AS DOUBLE) + 1.0)
                      / (CAST(t.n_l AS DOUBLE) + CAST(t.v AS DOUBLE))))),
          (acc, x) -> acc + x) AS loglik
      FROM terms GROUP BY 1, 2, 3
    ),
    wp AS (
      SELECT scored.doc_id, scored.lang, scored.m_lang,
        scored.loglik + log2(CAST(pri.n_docs AS DOUBLE)
                             / CAST(tot.n_total AS DOUBLE)) AS score
      FROM scored JOIN pri ON scored.m_lang = pri.lang CROSS JOIN tot
    ),
    pred AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, m_lang) AS rn
      FROM wp
    )
    SELECT lang AS true_lang, m_lang AS pred_lang, count(*) AS n
    FROM pred WHERE rn = 1 GROUP BY 1, 2
    """


# First-/last-touch attribution: same running first/last IGNORE NULLS
# under the (us, event_id) total order, same exact-cents credit sums.
RELATIONAL_ORACLES["events_touch_attribution"] = """
    WITH base AS (
      SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us
      FROM events
    ),
    flagged AS (
      SELECT event_type,
        CAST(round(coalesce(value, 0.0) * 100) AS BIGINT) AS cents,
        first_value(CASE WHEN event_type <> 'purchase'
                         THEN event_type END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY us, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS first_touch,
        last_value(CASE WHEN event_type <> 'purchase'
                        THEN event_type END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY us, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS last_touch
      FROM base
    ),
    purchases AS (
      SELECT * FROM flagged
      WHERE event_type = 'purchase' AND first_touch IS NOT NULL
    )
    SELECT first_touch AS touch_type, 'first_touch' AS model,
      count(*) AS n_purchases,
      CAST(sum(cents) AS DOUBLE) / 100 AS revenue
    FROM purchases GROUP BY 1
    UNION ALL
    SELECT last_touch, 'last_touch', count(*),
      CAST(sum(cents) AS DOUBLE) / 100
    FROM purchases GROUP BY 1
    """


# Zipf fit: DuckDB ranks with a plain window (it is the oracle), the
# same top-1000 head, the same four rank-ordered folds.
LLM_ORACLES["docs_zipf_fit"] = r"""
    WITH counts AS (
      SELECT lower(tok) AS w, count(*) AS c
      FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
            FROM documents)
      GROUP BY 1
    ),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rnk
      FROM counts QUALIFY rnk <= 1000
    ),
    head AS (
      SELECT count(*) AS n,
        list(struct_pack(rnk := rnk,
                         x := log2(CAST(rnk AS DOUBLE)),
                         y := log2(CAST(c AS DOUBLE)))
             ORDER BY rnk) AS ps
      FROM ranked
    ),
    sums AS (
      SELECT n,
        list_reduce(list_prepend(0.0, list_transform(ps, p -> p.x)),
                    (a, b) -> a + b) AS sx,
        list_reduce(list_prepend(0.0, list_transform(ps, p -> p.y)),
                    (a, b) -> a + b) AS sy,
        list_reduce(list_prepend(0.0, list_transform(ps, p -> p.x * p.y)),
                    (a, b) -> a + b) AS sxy,
        list_reduce(list_prepend(0.0, list_transform(ps, p -> p.x * p.x)),
                    (a, b) -> a + b) AS sxx
      FROM head
    )
    SELECT CAST(n AS BIGINT) AS n,
      round((CAST(n AS DOUBLE) * sxy - sx * sy)
            / (CAST(n AS DOUBLE) * sxx - sx * sx), 4) AS zipf_slope,
      round((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
            / CAST(n AS DOUBLE), 4) AS log2_c_at_rank1
    FROM sums
    """


# One-way ANOVA: same exact DECIMAL power sums, same flag-sorted fold.
RELATIONAL_ORACLES["lineitem_returnflag_anova"] = """
    WITH g AS (
      SELECT l_returnflag, count(*) AS n_g,
        sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                 AS DECIMAL(19,0))) AS s1,
        sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                 AS DECIMAL(19,0))
            * CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                   AS DECIMAL(19,0))) AS s2
      FROM lineitem GROUP BY 1
    ),
    packed AS (
      SELECT count(*) AS k, sum(n_g) AS n,
        list(struct_pack(f := l_returnflag, n_g := n_g,
                         s1 := CAST(s1 AS DECIMAL(38,0)),
                         s2 := CAST(s2 AS DECIMAL(38,0)))
             ORDER BY l_returnflag) AS gs
      FROM g
    ),
    folded AS (
      SELECT k, n,
        list_reduce(list_prepend(0.0,
          list_transform(gs, t -> CAST(t.s1 AS DOUBLE))),
          (a, b) -> a + b) / CAST(n AS DOUBLE) AS gm,
        gs
      FROM packed
    ),
    stats AS (
      SELECT k, n,
        list_reduce(list_prepend(0.0, list_transform(gs,
          t -> CAST(t.n_g AS DOUBLE)
               * (CAST(t.s1 AS DOUBLE) / CAST(t.n_g AS DOUBLE) - gm)
               * (CAST(t.s1 AS DOUBLE) / CAST(t.n_g AS DOUBLE) - gm))),
          (a, b) -> a + b) AS ssb,
        list_reduce(list_prepend(0.0, list_transform(gs,
          t -> CAST(t.s2 AS DOUBLE)
               - CAST(t.s1 AS DOUBLE) * CAST(t.s1 AS DOUBLE)
                 / CAST(t.n_g AS DOUBLE))),
          (a, b) -> a + b) AS ssw
      FROM folded
    )
    SELECT CAST(k AS BIGINT) AS k_groups, CAST(n AS BIGINT) AS n,
      CAST(k - 1 AS BIGINT) AS df_between,
      CAST(n - k AS BIGINT) AS df_within,
      round((ssb / CAST(k - 1 AS DOUBLE))
            / (ssw / CAST(n - k AS DOUBLE)), 4) AS f_stat
    FROM stats
    """


# Field-presence contract monitor: same conditional counts, same
# 4-row unpivot.
WIRE_ORACLES["wire_field_presence"] = _WIRE_CTE + """
    , ok AS (
      SELECT json_extract_string(value, '$.wlobscd') AS wlobscd,
        json_extract_string(value, '$.ymdhm') AS ymdhm,
        json_extract_string(value, '$.wl') AS wl,
        json_extract_string(value, '$.fw') AS fw
      FROM wire WHERE json_valid(value)
    ),
    agg AS (
      SELECT count(*) AS n,
        CAST(sum(CASE WHEN wlobscd IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS p_wlobscd,
        CAST(sum(CASE WHEN ymdhm IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS p_ymdhm,
        CAST(sum(CASE WHEN wl IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS p_wl,
        CAST(sum(CASE WHEN fw IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS p_fw
      FROM ok
    )
    SELECT u.field, u.n_present, agg.n AS n_records,
      round(CAST(u.n_present AS DOUBLE) / CAST(agg.n AS DOUBLE), 4)
        AS presence_rate
    FROM agg, LATERAL (
      VALUES ('wlobscd', p_wlobscd), ('ymdhm', p_ymdhm),
             ('wl', p_wl), ('fw', p_fw)
    ) AS u(field, n_present)
    """


def _pq_distortion_sql(m: int = 8, ksub: int = 16, dim: int = 64, quant: int = 1_000_000) -> str:
    """Twin of plans/llm.pq_distortion_report: same codebook CTEs as
    _pq_adc_sql, then per sub-space the exact integer-nano sum of each
    vector's min sub-distance."""
    dsub = dim // m

    def h60(j: int) -> str:
        return (
            "list_reduce(list_transform(range(1, 16), "
            "i -> strpos('0123456789abcdef', "
            f"substr(md5(vec_id::VARCHAR || ':{j}'), i, 1)) - 1), "
            "(acc, d) -> acc * 16 + d)::BIGINT"
        )

    cells = ", ".join(f"{h60(j)} % {ksub} AS c{j}" for j in range(m))
    melt = "\n      UNION ALL ".join(
        f"SELECT {j} AS j, c{j} AS cell, v[{j * dsub + 1}:{(j + 1) * dsub}] AS vs FROM h"
        for j in range(m)
    )
    sums = ", ".join(
        f"sum(floor(vs[{t + 1}] * {quant}.0)::BIGINT) AS s{t}" for t in range(dsub)
    )
    cvec = (
        "["
        + ", ".join(f"s{t}::DOUBLE / (n * {quant})::DOUBLE" for t in range(dsub))
        + "]"
    )
    zeros = "[" + ", ".join("0.0" for _ in range(dsub)) + "]"

    def l2fold(vec: str, off: int, cv: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, {dsub + 1}), "
            f"t -> ({vec}[{off} + t] - ({cv})[t]) * ({vec}[{off} + t] - ({cv})[t]))), "
            "(acc, x) -> acc + x)"
        )

    dists = ", ".join(
        f"list_transform(mm[{j + 1}], cv -> {l2fold('v', j * dsub, 'cv')}) AS d{j}"
        for j in range(m)
    )
    unpiv = "\n      UNION ALL ".join(
        f"SELECT {j} AS subspace, floor(list_min(d{j}) * 1000000000)::BIGINT AS q FROM dmatrix"
        for j in range(m)
    )
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), h AS (
      SELECT vec_id, v, {cells} FROM e
    ), melt AS (
      {melt}
    ), sums AS (
      SELECT j, cell, count(*) AS n, {sums} FROM melt GROUP BY j, cell
    ), cents AS (
      SELECT jr.range AS j, ir.range AS cell,
        CASE WHEN s.n IS NULL THEN {zeros} ELSE {cvec} END AS cv
      FROM range(0, {m}) jr CROSS JOIN range(0, {ksub}) ir
      LEFT JOIN sums s ON s.j = jr.range AND s.cell = ir.range
    ), cmats AS (
      SELECT j, list(cv ORDER BY cell) AS ml FROM cents GROUP BY j
    ), cmat AS (
      SELECT list(ml ORDER BY j) AS mm FROM cmats
    ), dmatrix AS (
      SELECT vec_id, v, {dists} FROM h, cmat
    ), unpiv AS (
      {unpiv}
    )
    SELECT CAST(subspace AS INTEGER) AS subspace,
      count(*) AS n_vectors,
      round(CAST(CAST(sum(q) AS DECIMAL(38,0)) AS DOUBLE)
            / CAST(count(*) * 1000000000 AS DOUBLE), 6) AS mean_distortion
    FROM unpiv GROUP BY subspace
    """


LLM_ORACLES["pq_distortion_report"] = _pq_distortion_sql()


def _pq_code_balance_sql(m: int = 8, ksub: int = 16, dim: int = 64, quant: int = 1_000_000) -> str:
    """Twin of plans/llm.ann_pq_code_balance: the _pq_distortion_sql
    codebook CTEs, then per sub-space the argmin CODE (first index
    wins, matching array_position-of-min) and the usage-balance
    rollup (fixed ksub slots; Sigma s^2 <= n^2 = 4e6 at sf0.1)."""
    dsub = dim // m

    def h60(j: int) -> str:
        return (
            "list_reduce(list_transform(range(1, 16), "
            "i -> strpos('0123456789abcdef', "
            f"substr(md5(vec_id::VARCHAR || ':{j}'), i, 1)) - 1), "
            "(acc, d) -> acc * 16 + d)::BIGINT"
        )

    cells = ", ".join(f"{h60(j)} % {ksub} AS c{j}" for j in range(m))
    melt = "\n      UNION ALL ".join(
        f"SELECT {j} AS j, c{j} AS cell, v[{j * dsub + 1}:{(j + 1) * dsub}] AS vs FROM h"
        for j in range(m)
    )
    sums = ", ".join(
        f"sum(floor(vs[{t + 1}] * {quant}.0)::BIGINT) AS s{t}" for t in range(dsub)
    )
    cvec = (
        "["
        + ", ".join(f"s{t}::DOUBLE / (n * {quant})::DOUBLE" for t in range(dsub))
        + "]"
    )
    zeros = "[" + ", ".join("0.0" for _ in range(dsub)) + "]"

    def l2fold(vec: str, off: int, cv: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, {dsub + 1}), "
            f"t -> ({vec}[{off} + t] - ({cv})[t]) * ({vec}[{off} + t] - ({cv})[t]))), "
            "(acc, x) -> acc + x)"
        )

    dists = ", ".join(
        f"list_transform(mm[{j + 1}], cv -> {l2fold('v', j * dsub, 'cv')}) AS d{j}"
        for j in range(m)
    )
    unpiv = "\n      UNION ALL ".join(
        f"SELECT {j} AS subspace, "
        f"(list_position(d{j}, list_min(d{j})) - 1) AS code FROM dmatrix"
        for j in range(m)
    )
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), h AS (
      SELECT vec_id, v, {cells} FROM e
    ), melt AS (
      {melt}
    ), sums AS (
      SELECT j, cell, count(*) AS n, {sums} FROM melt GROUP BY j, cell
    ), cents AS (
      SELECT jr.range AS j, ir.range AS cell,
        CASE WHEN s.n IS NULL THEN {zeros} ELSE {cvec} END AS cv
      FROM range(0, {m}) jr CROSS JOIN range(0, {ksub}) ir
      LEFT JOIN sums s ON s.j = jr.range AND s.cell = ir.range
    ), cmats AS (
      SELECT j, list(cv ORDER BY cell) AS ml FROM cents GROUP BY j
    ), cmat AS (
      SELECT list(ml ORDER BY j) AS mm FROM cmats
    ), dmatrix AS (
      SELECT vec_id, v, {dists} FROM h, cmat
    ), unpiv AS (
      {unpiv}
    ), sizes AS (
      SELECT subspace, code, count(*) AS s FROM unpiv GROUP BY 1, 2
    )
    SELECT CAST(subspace AS INTEGER) AS subspace,
      CAST(count(*) AS BIGINT) AS n_codes_used,
      CAST({ksub} * sum(s * s) /* int<2^53 */ AS DOUBLE)
        / CAST(sum(s) * sum(s) /* int<2^53 */ AS DOUBLE)
        AS imbalance_factor,
      CAST(max(s) AS DOUBLE) / CAST(sum(s) AS DOUBLE) AS max_code_share
    FROM sizes GROUP BY subspace
    """


LLM_ORACLES["ann_pq_code_balance"] = _pq_code_balance_sql()


def _ivf_pq_agreement_sql(
    n_centroids: int = 16,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    quant: int = 1_000_000,
) -> str:
    """Twin of plans/llm.ann_ivf_pq_agreement: the _ivf_cells_cte cell
    chain joined to the sub-space-0 arm of the _pq_code_balance_sql
    code chain, then the 16x16 contingency, per-cell modal codes
    (tie -> smallest code, matching Spark's max(struct(o, -code))),
    and the pure-integer Goodman-Kruskal lambda."""
    dsub = dim // m
    h60_0 = (
        "list_reduce(list_transform(range(1, 16), "
        "i -> strpos('0123456789abcdef', "
        "substr(md5(vec_id::VARCHAR || ':0'), i, 1)) - 1), "
        "(acc, d) -> acc * 16 + d)::BIGINT"
    )
    sums = ", ".join(
        f"sum(floor(v[{t + 1}] * {quant}.0)::BIGINT) AS s{t}"
        for t in range(dsub)
    )
    cvec = (
        "["
        + ", ".join(f"s{t}::DOUBLE / (n * {quant})::DOUBLE" for t in range(dsub))
        + "]"
    )
    zeros = "[" + ", ".join("0.0" for _ in range(dsub)) + "]"
    l2fold = (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {dsub + 1}), "
        "t -> (v[t] - cv[t]) * (v[t] - cv[t]))), (acc, x) -> acc + x)"
    )
    return (
        _ivf_cells_cte(n_centroids, dim, quant)
        + f"""
    , ph AS (
      SELECT vec_id, v, {h60_0} % {ksub} AS c0 FROM e
    ), psums AS (
      SELECT c0, count(*) AS n, {sums} FROM ph GROUP BY c0
    ), pcents AS (
      SELECT r.range AS pcell,
        CASE WHEN s.n IS NULL THEN {zeros} ELSE {cvec} END AS cv
      FROM range(0, {ksub}) r LEFT JOIN psums s ON s.c0 = r.range
    ), pcmat AS (
      SELECT list(cv ORDER BY pcell) AS ml FROM pcents
    ), coded AS (
      SELECT vec_id,
        (list_position(d0, list_min(d0)) - 1) AS code
      FROM (
        SELECT vec_id,
          list_transform(pm.ml, cv -> {l2fold}) AS d0
        FROM ph, pcmat pm
      )
    ), grid AS (
      SELECT s.cell, c.code, count(*) AS o
      FROM scored s JOIN coded c USING (vec_id) GROUP BY 1, 2
    ), per_cell AS (
      SELECT cell, sum(o) AS n_vecs, count(*) AS n_codes_used,
        max(o) AS top_n
      FROM grid GROUP BY cell
    ), tops AS (
      SELECT g.cell, min(g.code) AS top_code
      FROM grid g JOIN per_cell p ON g.cell = p.cell AND g.o = p.top_n
      GROUP BY g.cell
    ), colm AS (
      SELECT max(cn) AS max_col FROM (
        SELECT code, sum(o) AS cn FROM grid GROUP BY code)
    ), gtot AS (
      SELECT sum(n_vecs) AS n_total, sum(top_n) AS sum_modal
      FROM per_cell
    )
    SELECT CAST(p.cell AS INTEGER) AS cell,
      CAST(p.n_vecs AS BIGINT) AS n_vecs,
      CAST(p.n_codes_used AS BIGINT) AS n_codes_used,
      CAST(t.top_code AS INTEGER) AS top_code,
      CAST(p.top_n AS BIGINT) AS top_code_n,
      CAST(g.n_total AS BIGINT) AS n_total,
      round(CASE WHEN g.n_total > c.max_col
            THEN CAST(g.sum_modal - c.max_col AS DOUBLE)
                 / CAST(g.n_total - c.max_col AS DOUBLE)
            ELSE 0.0 END, 4) AS lambda_cell_to_code
    FROM per_cell p JOIN tops t ON p.cell = t.cell, colm c, gtot g
    """
    )


LLM_ORACLES["ann_ivf_pq_agreement"] = _ivf_pq_agreement_sql()


# Bidirectional as-of: the same two running frames (forward = running
# last under the reversed order), same tie rule, exact microseconds.
RELATIONAL_ORACLES["events_nearest_error"] = """
    WITH base AS (
      SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us
      FROM events
    ),
    enriched AS (
      SELECT event_id, user_id, event_type, us,
        last_value(CASE WHEN event_type = 'error' THEN us END
                   IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY us ASC, event_id ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b_us,
        last_value(CASE WHEN event_type = 'error' THEN value END
                   IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY us ASC, event_id ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b_val,
        last_value(CASE WHEN event_type = 'error' THEN us END
                   IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY us DESC, event_id DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f_us,
        last_value(CASE WHEN event_type = 'error' THEN value END
                   IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY us DESC, event_id DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f_val
      FROM base
    )
    SELECT event_id, user_id,
      CASE WHEN b_us IS NOT NULL
                AND (f_us IS NULL OR us - b_us <= f_us - us)
           THEN 'before' ELSE 'after' END AS direction,
      CASE WHEN b_us IS NOT NULL
                AND (f_us IS NULL OR us - b_us <= f_us - us)
           THEN us - b_us ELSE f_us - us END AS gap_us,
      CASE WHEN b_us IS NOT NULL
                AND (f_us IS NULL OR us - b_us <= f_us - us)
           THEN b_val ELSE f_val END AS err_value
    FROM enriched
    WHERE event_type = 'purchase'
      AND (b_us IS NOT NULL OR f_us IS NOT NULL)
    """


# Snapshot diff: same derived previous snapshot, same hash compare.
LLM_ORACLES["docs_snapshot_diff"] = rf"""
    WITH cur AS (SELECT doc_id, md5(text) AS h_new FROM documents),
    prev AS (
      SELECT doc_id,
        md5(CASE WHEN doc_id % {SNAPSHOT_REV_MOD} = 0
                 THEN text || ' [rev1]'
                 ELSE text END) AS h_old
      FROM documents WHERE doc_id % {SNAPSHOT_GAP_MOD} <> 0
      UNION ALL SELECT CAST(-1 AS BIGINT), md5('retired')
    ),
    j AS (SELECT * FROM cur FULL OUTER JOIN prev USING (doc_id))
    SELECT CASE WHEN h_old IS NULL THEN 'added'
                WHEN h_new IS NULL THEN 'removed'
                WHEN h_new <> h_old THEN 'changed'
                ELSE 'unchanged' END AS status,
      count(*) AS n_docs
    FROM j GROUP BY 1
    """


# Stage-exceedance curve: same 9-stage ladder, same conditional counts.
HYDRO_ORACLES["hydro_stage_exceedance"] = HYDRO_CTE + """
    , obs_ok AS (
      SELECT wlobscd, water_level FROM classified
      WHERE water_level IS NOT NULL
    ),
    fanned AS (
      SELECT wlobscd, water_level, u.stage_m
      FROM obs_ok, LATERAL (
        VALUES (0.5), (1.0), (1.5), (2.0), (2.5),
               (3.0), (3.5), (4.0), (4.5)
      ) AS u(stage_m)
    )
    SELECT wlobscd, CAST(stage_m AS DOUBLE) AS stage_m,
      count(*) AS n_obs,
      CAST(sum(CASE WHEN water_level >= stage_m THEN 1 ELSE 0 END)
           AS BIGINT) AS n_exceed,
      round(CAST(sum(CASE WHEN water_level >= stage_m THEN 1 ELSE 0 END)
                 AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
        AS exceedance_frac
    FROM fanned GROUP BY wlobscd, stage_m
    """


# Return periods: same station-day maxima, same deterministic rank,
# same Weibull plotting position.
HYDRO_ORACLES["hydro_return_periods"] = HYDRO_CTE + """
    , daily AS (
      SELECT wlobscd, substr(obs_time_str, 1, 10) AS day,
        max(water_level) AS day_max
      FROM classified WHERE water_level IS NOT NULL
      GROUP BY 1, 2
    ),
    counts AS (SELECT wlobscd, count(*) AS n_days FROM daily GROUP BY 1),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY wlobscd ORDER BY day_max DESC, day ASC) AS rnk
      FROM daily QUALIFY rnk <= 10
    )
    SELECT r.wlobscd, CAST(r.rnk AS INTEGER) AS rnk, r.day, r.day_max,
      c.n_days,
      round(CAST(c.n_days + 1 AS DOUBLE) / CAST(r.rnk AS DOUBLE), 4)
        AS return_period_days
    FROM ranked r JOIN counts c ON r.wlobscd = c.wlobscd
    """


def _linear_gate_sql(iters: int = 3) -> str:
    """Twin of plans/llm.docs_train_linear_gate: the same features,
    rational link, and integer-nano gradient quantization, with the
    three descent iterations unrolled as CTE stages (weights are 1-row
    tables carried between stages)."""

    def dot(wtab: str) -> str:
        return " + ".join(f"{wtab}.w{j} * f.x{j}" for j in range(5))

    stages = ["w0 AS (SELECT " + ", ".join(
        f"0.0::DOUBLE AS w{j}" for j in range(5)) + ")"]
    for t in range(1, iters + 1):
        z = dot(f"w{t-1}")
        s = f"(0.5 + 0.5 * ({z}) / (1.0 + abs({z})))"
        sums = ", ".join(
            f"sum(floor(f.x{j} * ({s} - f.y) * 1000000000)::BIGINT"
            f"::DECIMAL(38,0)) AS g{j}"
            for j in range(5)
        )
        stages.append(
            f"g{t} AS (SELECT count(*) AS n, {sums} FROM f, w{t-1})"
        )
        upd = ", ".join(
            f"w{t-1}.w{j} - (CAST(g{t}.g{j} AS DOUBLE) / 1000000000.0)"
            f" / CAST(g{t}.n AS DOUBLE) AS w{j}"
            for j in range(5)
        )
        stages.append(f"w{t} AS (SELECT {upd} FROM w{t-1}, g{t})")
    zf = dot(f"w{iters}")
    body = ",\n    ".join(stages)
    return rf"""
    WITH tok AS (
      SELECT regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ),
    f AS (
      SELECT 1.0::DOUBLE AS x0,
        CAST(least(len(toks), 1000) AS DOUBLE) / 1000.0 AS x1,
        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS x2,
        CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','data')))
             AS DOUBLE) / len(toks) AS x3,
        least(CAST(list_reduce(list_prepend(0,
                list_transform(toks, t -> length(t))), (a, b) -> a + b)
              AS DOUBLE) / CAST(len(toks) AS DOUBLE), 20.0) / 20.0 AS x4,
        CASE WHEN (
          CASE WHEN len(toks) >= 20 AND len(toks) <= 1000
               THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
          + CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                      >= 0.3 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END
          + CASE WHEN CAST(len(list_filter(toks,
                        x -> x IN ('the','a','of','and','data'))) AS DOUBLE)
                      / len(toks) BETWEEN 0.01 AND 0.5
                 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END
        ) >= 0.7 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS y
      FROM tok
    ),
    {body},
    acc AS (
      SELECT count(*) AS n_docs,
        CAST(sum(CASE WHEN (({zf}) >= 0) = (f.y = 1.0)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
      FROM f, w{iters}
    )
    SELECT acc.n_docs, acc.n_correct,
      round(CAST(acc.n_correct AS DOUBLE) / CAST(acc.n_docs AS DOUBLE), 4)
        AS train_accuracy,
      {", ".join(f"round(w{iters}.w{j}, 6) AS w{j}" for j in range(5))}
    FROM acc, w{iters}
    """


LLM_ORACLES["docs_train_linear_gate"] = _linear_gate_sql()


# Held-out NB evaluation: train CTEs filtered to the 75% Knuth
# split, scoring CTEs over the held-out 25%, same OOV drop rule.
LLM_ORACLES["docs_nb_holdout_eval"] = r"""
    WITH tok AS (
      SELECT doc_id, lang,
        unnest(list_transform(regexp_split_to_array(trim(text), '\s+'),
                              t -> lower(t))) AS tok
      FROM documents WHERE ((doc_id % 2147483648) * 2654435761) % 2147483648 % 4 <> 0
    ),
    tok_eval AS (
      SELECT doc_id, lang,
        unnest(list_transform(regexp_split_to_array(trim(text), '\s+'),
                              t -> lower(t))) AS tok
      FROM documents WHERE ((doc_id % 2147483648) * 2654435761) % 2147483648 % 4 = 0
    ),
    ct AS (SELECT tok, lang, count(*) AS c FROM tok GROUP BY 1, 2),
    nl AS (SELECT lang, sum(c) AS n_l FROM ct GROUP BY 1),
    pri AS (SELECT lang, count(*) AS n_docs FROM documents WHERE ((doc_id % 2147483648) * 2654435761) % 2147483648 % 4 <> 0 GROUP BY 1),
    tot AS (SELECT count(*) AS n_total FROM documents WHERE ((doc_id % 2147483648) * 2654435761) % 2147483648 % 4 <> 0),
    vocab AS (SELECT DISTINCT tok FROM ct),
    vc AS (SELECT count(*) AS v FROM vocab),
    grid AS (
      SELECT vocab.tok, nl.lang AS m_lang,
        coalesce(ct.c, 0) AS c, nl.n_l
      FROM vocab CROSS JOIN nl
      LEFT JOIN ct ON ct.tok = vocab.tok AND ct.lang = nl.lang
    ),
    dt AS (
      SELECT doc_id, lang, tok, count(*) AS k FROM tok_eval GROUP BY 1, 2, 3
    ),
    terms AS (
      SELECT dt.doc_id, dt.lang, grid.m_lang, dt.tok, dt.k,
        grid.c, grid.n_l, vc.v
      FROM dt JOIN grid USING (tok) CROSS JOIN vc
    ),
    scored AS (
      SELECT doc_id, lang, m_lang,
        list_reduce(list_prepend(0.0, list_transform(
          list(struct_pack(tok := tok, k := k, c := c,
                           n_l := n_l, v := v)
               ORDER BY tok, k, c, n_l, v),
          t -> CAST(t.k AS DOUBLE)
               * log2((CAST(t.c AS DOUBLE) + 1.0)
                      / (CAST(t.n_l AS DOUBLE) + CAST(t.v AS DOUBLE))))),
          (acc, x) -> acc + x) AS loglik
      FROM terms GROUP BY 1, 2, 3
    ),
    wp AS (
      SELECT scored.doc_id, scored.lang, scored.m_lang,
        scored.loglik + log2(CAST(pri.n_docs AS DOUBLE)
                             / CAST(tot.n_total AS DOUBLE)) AS score
      FROM scored JOIN pri ON scored.m_lang = pri.lang CROSS JOIN tot
    ),
    pred AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, m_lang) AS rn
      FROM wp
    )
    SELECT lang AS true_lang, m_lang AS pred_lang, count(*) AS n
    FROM pred WHERE rn = 1 GROUP BY 1, 2
    """


# Learning curve: three suffixed NB chains (nested train subsets,
# shared holdout quarter) reduced to accuracy rows.
LLM_ORACLES["docs_learning_curve"] = r"""
    WITH tok_f1 AS (
      SELECT doc_id, lang,
        unnest(list_transform(regexp_split_to_array(trim(text), '\s+'),
                              t -> lower(t))) AS tok_f1
      FROM documents WHERE ((doc_id % 2147483648) * 2654435761) % 2147483648 % 4 BETWEEN 1 AND 1
    ),
    tok_eval_f1 AS (
      SELECT doc_id, lang,
        unnest(list_transform(regexp_split_to_array(trim(text), '\s+'),
                              t -> lower(t))) AS tok_f1
      FROM documents WHERE ((doc_id % 2147483648) * 2654435761) % 2147483648 % 4 = 0
    ),
    ct_f1 AS (SELECT tok_f1, lang, count(*) AS c FROM tok_f1 GROUP BY 1, 2),
    nl_f1 AS (SELECT lang, sum(c) AS n_l FROM ct_f1 GROUP BY 1),
    pri_f1 AS (SELECT lang, count(*) AS n_docs FROM documents WHERE ((doc_id % 2147483648) * 2654435761) % 2147483648 % 4 BETWEEN 1 AND 1 GROUP BY 1),
    tot_f1 AS (SELECT count(*) AS n_total FROM documents WHERE ((doc_id % 2147483648) * 2654435761) % 2147483648 % 4 BETWEEN 1 AND 1),
    vocab_f1 AS (SELECT DISTINCT tok_f1 FROM ct_f1),
    vc_f1 AS (SELECT count(*) AS v FROM vocab_f1),
    grid_f1 AS (
      SELECT vocab_f1.tok_f1, nl_f1.lang AS m_lang,
        coalesce(ct_f1.c, 0) AS c, nl_f1.n_l
      FROM vocab_f1 CROSS JOIN nl_f1
      LEFT JOIN ct_f1 ON ct_f1.tok_f1 = vocab_f1.tok_f1 AND ct_f1.lang = nl_f1.lang
    ),
    dt_f1 AS (
      SELECT doc_id, lang, tok_f1, count(*) AS k FROM tok_eval_f1 GROUP BY 1, 2, 3
    ),
    terms_f1 AS (
      SELECT dt_f1.doc_id, dt_f1.lang, grid_f1.m_lang, dt_f1.tok_f1, dt_f1.k,
        grid_f1.c, grid_f1.n_l, vc_f1.v
      FROM dt_f1 JOIN grid_f1 USING (tok_f1) CROSS JOIN vc_f1
    ),
    scored_f1 AS (
      SELECT doc_id, lang, m_lang,
        list_reduce(list_prepend(0.0, list_transform(
          list(struct_pack(tok_f1 := tok_f1, k := k, c := c,
                           n_l := n_l, v := v)
               ORDER BY tok_f1, k, c, n_l, v),
          t -> CAST(t.k AS DOUBLE)
               * log2((CAST(t.c AS DOUBLE) + 1.0)
                      / (CAST(t.n_l AS DOUBLE) + CAST(t.v AS DOUBLE))))),
          (acc, x) -> acc + x) AS loglik
      FROM terms_f1 GROUP BY 1, 2, 3
    ),
    wp_f1 AS (
      SELECT scored_f1.doc_id, scored_f1.lang, scored_f1.m_lang,
        scored_f1.loglik + log2(CAST(pri_f1.n_docs AS DOUBLE)
                             / CAST(tot_f1.n_total AS DOUBLE)) AS score
      FROM scored_f1 JOIN pri_f1 ON scored_f1.m_lang = pri_f1.lang CROSS JOIN tot_f1
    ),
    pred_f1 AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, m_lang) AS rn
      FROM wp_f1
    ),
    curve_f1 AS (SELECT 1 AS n_quarters,
  CAST(count(*) AS BIGINT) AS n_eval,
  CAST(sum(CASE WHEN lang = m_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
  FROM pred_f1 WHERE rn = 1),
    tok_f2 AS (
      SELECT doc_id, lang,
        unnest(list_transform(regexp_split_to_array(trim(text), '\s+'),
                              t -> lower(t))) AS tok_f2
      FROM documents WHERE ((doc_id % 2147483648) * 2654435761) % 2147483648 % 4 BETWEEN 1 AND 2
    ),
    tok_eval_f2 AS (
      SELECT doc_id, lang,
        unnest(list_transform(regexp_split_to_array(trim(text), '\s+'),
                              t -> lower(t))) AS tok_f2
      FROM documents WHERE ((doc_id % 2147483648) * 2654435761) % 2147483648 % 4 = 0
    ),
    ct_f2 AS (SELECT tok_f2, lang, count(*) AS c FROM tok_f2 GROUP BY 1, 2),
    nl_f2 AS (SELECT lang, sum(c) AS n_l FROM ct_f2 GROUP BY 1),
    pri_f2 AS (SELECT lang, count(*) AS n_docs FROM documents WHERE ((doc_id % 2147483648) * 2654435761) % 2147483648 % 4 BETWEEN 1 AND 2 GROUP BY 1),
    tot_f2 AS (SELECT count(*) AS n_total FROM documents WHERE ((doc_id % 2147483648) * 2654435761) % 2147483648 % 4 BETWEEN 1 AND 2),
    vocab_f2 AS (SELECT DISTINCT tok_f2 FROM ct_f2),
    vc_f2 AS (SELECT count(*) AS v FROM vocab_f2),
    grid_f2 AS (
      SELECT vocab_f2.tok_f2, nl_f2.lang AS m_lang,
        coalesce(ct_f2.c, 0) AS c, nl_f2.n_l
      FROM vocab_f2 CROSS JOIN nl_f2
      LEFT JOIN ct_f2 ON ct_f2.tok_f2 = vocab_f2.tok_f2 AND ct_f2.lang = nl_f2.lang
    ),
    dt_f2 AS (
      SELECT doc_id, lang, tok_f2, count(*) AS k FROM tok_eval_f2 GROUP BY 1, 2, 3
    ),
    terms_f2 AS (
      SELECT dt_f2.doc_id, dt_f2.lang, grid_f2.m_lang, dt_f2.tok_f2, dt_f2.k,
        grid_f2.c, grid_f2.n_l, vc_f2.v
      FROM dt_f2 JOIN grid_f2 USING (tok_f2) CROSS JOIN vc_f2
    ),
    scored_f2 AS (
      SELECT doc_id, lang, m_lang,
        list_reduce(list_prepend(0.0, list_transform(
          list(struct_pack(tok_f2 := tok_f2, k := k, c := c,
                           n_l := n_l, v := v)
               ORDER BY tok_f2, k, c, n_l, v),
          t -> CAST(t.k AS DOUBLE)
               * log2((CAST(t.c AS DOUBLE) + 1.0)
                      / (CAST(t.n_l AS DOUBLE) + CAST(t.v AS DOUBLE))))),
          (acc, x) -> acc + x) AS loglik
      FROM terms_f2 GROUP BY 1, 2, 3
    ),
    wp_f2 AS (
      SELECT scored_f2.doc_id, scored_f2.lang, scored_f2.m_lang,
        scored_f2.loglik + log2(CAST(pri_f2.n_docs AS DOUBLE)
                             / CAST(tot_f2.n_total AS DOUBLE)) AS score
      FROM scored_f2 JOIN pri_f2 ON scored_f2.m_lang = pri_f2.lang CROSS JOIN tot_f2
    ),
    pred_f2 AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, m_lang) AS rn
      FROM wp_f2
    ),
    curve_f2 AS (SELECT 2 AS n_quarters,
  CAST(count(*) AS BIGINT) AS n_eval,
  CAST(sum(CASE WHEN lang = m_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
  FROM pred_f2 WHERE rn = 1),
    tok_f3 AS (
      SELECT doc_id, lang,
        unnest(list_transform(regexp_split_to_array(trim(text), '\s+'),
                              t -> lower(t))) AS tok_f3
      FROM documents WHERE ((doc_id % 2147483648) * 2654435761) % 2147483648 % 4 BETWEEN 1 AND 3
    ),
    tok_eval_f3 AS (
      SELECT doc_id, lang,
        unnest(list_transform(regexp_split_to_array(trim(text), '\s+'),
                              t -> lower(t))) AS tok_f3
      FROM documents WHERE ((doc_id % 2147483648) * 2654435761) % 2147483648 % 4 = 0
    ),
    ct_f3 AS (SELECT tok_f3, lang, count(*) AS c FROM tok_f3 GROUP BY 1, 2),
    nl_f3 AS (SELECT lang, sum(c) AS n_l FROM ct_f3 GROUP BY 1),
    pri_f3 AS (SELECT lang, count(*) AS n_docs FROM documents WHERE ((doc_id % 2147483648) * 2654435761) % 2147483648 % 4 BETWEEN 1 AND 3 GROUP BY 1),
    tot_f3 AS (SELECT count(*) AS n_total FROM documents WHERE ((doc_id % 2147483648) * 2654435761) % 2147483648 % 4 BETWEEN 1 AND 3),
    vocab_f3 AS (SELECT DISTINCT tok_f3 FROM ct_f3),
    vc_f3 AS (SELECT count(*) AS v FROM vocab_f3),
    grid_f3 AS (
      SELECT vocab_f3.tok_f3, nl_f3.lang AS m_lang,
        coalesce(ct_f3.c, 0) AS c, nl_f3.n_l
      FROM vocab_f3 CROSS JOIN nl_f3
      LEFT JOIN ct_f3 ON ct_f3.tok_f3 = vocab_f3.tok_f3 AND ct_f3.lang = nl_f3.lang
    ),
    dt_f3 AS (
      SELECT doc_id, lang, tok_f3, count(*) AS k FROM tok_eval_f3 GROUP BY 1, 2, 3
    ),
    terms_f3 AS (
      SELECT dt_f3.doc_id, dt_f3.lang, grid_f3.m_lang, dt_f3.tok_f3, dt_f3.k,
        grid_f3.c, grid_f3.n_l, vc_f3.v
      FROM dt_f3 JOIN grid_f3 USING (tok_f3) CROSS JOIN vc_f3
    ),
    scored_f3 AS (
      SELECT doc_id, lang, m_lang,
        list_reduce(list_prepend(0.0, list_transform(
          list(struct_pack(tok_f3 := tok_f3, k := k, c := c,
                           n_l := n_l, v := v)
               ORDER BY tok_f3, k, c, n_l, v),
          t -> CAST(t.k AS DOUBLE)
               * log2((CAST(t.c AS DOUBLE) + 1.0)
                      / (CAST(t.n_l AS DOUBLE) + CAST(t.v AS DOUBLE))))),
          (acc, x) -> acc + x) AS loglik
      FROM terms_f3 GROUP BY 1, 2, 3
    ),
    wp_f3 AS (
      SELECT scored_f3.doc_id, scored_f3.lang, scored_f3.m_lang,
        scored_f3.loglik + log2(CAST(pri_f3.n_docs AS DOUBLE)
                             / CAST(tot_f3.n_total AS DOUBLE)) AS score
      FROM scored_f3 JOIN pri_f3 ON scored_f3.m_lang = pri_f3.lang CROSS JOIN tot_f3
    ),
    pred_f3 AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, m_lang) AS rn
      FROM wp_f3
    ),
    curve_f3 AS (SELECT 3 AS n_quarters,
  CAST(count(*) AS BIGINT) AS n_eval,
  CAST(sum(CASE WHEN lang = m_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
  FROM pred_f3 WHERE rn = 1)
    SELECT n_quarters, n_eval, n_correct,
      round(CAST(n_correct AS DOUBLE) / CAST(n_eval AS DOUBLE), 4) AS holdout_accuracy
    FROM (SELECT * FROM curve_f1 UNION ALL SELECT * FROM curve_f2 UNION ALL SELECT * FROM curve_f3)
    """


# Markov entropy rate: same lag pairs, same per-state sorted fold.
# Exact Markov collision concentration (r15 migration of the
# log2-emitting entropy rate — SCALE.md watch list): same lag-window
# cells, Σn² per state, two-chained-division repeat probability.
RELATIONAL_ORACLES["events_markov_concentration"] = """
    WITH pairs AS (
      SELECT lag(event_type) OVER (
          PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
        event_type AS to_type
      FROM events
    ),
    cells AS (
      SELECT from_type, to_type, count(*) AS n
      FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2
    ),
    per_state AS (
      SELECT from_type, CAST(sum(n) AS BIGINT) AS n_out,
        CAST(sum(n * n) AS BIGINT) AS sum_sq
      FROM cells GROUP BY 1
    ),
    total AS (SELECT CAST(sum(n_out) AS BIGINT) AS n_total FROM per_state)
    SELECT from_type, n_out, sum_sq,
      round(CAST(sum_sq AS DOUBLE) / CAST(n_out AS DOUBLE)
            / CAST(n_out AS DOUBLE), 4) AS repeat_prob,
      round(CAST(n_out AS DOUBLE) / CAST(n_total AS DOUBLE), 4) AS pi,
      round((CAST(n_out AS DOUBLE) / CAST(n_total AS DOUBLE))
            * (CAST(sum_sq AS DOUBLE) / CAST(n_out AS DOUBLE)
               / CAST(n_out AS DOUBLE)), 4) AS rate_contribution
    FROM per_state, total
    """


# Baseflow separation: the same clamped Lyne-Hollick recursion as a
# per-station recursive CTE carrying (q, f, sums) — sequential like
# the Spark fold, so every double matches.
HYDRO_ORACLES["hydro_baseflow_separation"] = HYDRO_CTE.replace(
    "WITH obs AS", "WITH RECURSIVE obs AS", 1
) + """
    , flow AS (
      SELECT wlobscd, substr(obs_time_str, 1, 10) AS day,
        TRY_CAST(printf('%.2f', flow_rate) AS DECIMAL(12,2)) AS fr
      FROM classified WHERE flow_rate IS NOT NULL
    ),
    daily AS (
      SELECT wlobscd, day, CAST(sum(fr) AS DOUBLE) / count(*) AS q
      FROM flow GROUP BY 1, 2
    ),
    idx AS (
      SELECT wlobscd, q,
        row_number() OVER (PARTITION BY wlobscd ORDER BY day) AS rn
      FROM daily
    ),
    walk AS (
      SELECT wlobscd, rn, q, 0.0::DOUBLE AS f, q AS sq, q AS sb
      FROM idx WHERE rn = 1
      UNION ALL
      SELECT d.wlobscd, d.rn, d.q,
        greatest(0.925 * w.f + 0.9625 * (d.q - w.q), 0.0) AS f,
        w.sq + d.q AS sq,
        w.sb + least(greatest(
          d.q - greatest(0.925 * w.f + 0.9625 * (d.q - w.q), 0.0),
          0.0), d.q) AS sb
      FROM walk w JOIN idx d
        ON d.wlobscd = w.wlobscd AND d.rn = w.rn + 1
    ),
    last AS (SELECT wlobscd, max(rn) AS n_days FROM walk GROUP BY 1)
    SELECT w.wlobscd, CAST(last.n_days AS INTEGER) AS n_days,
      round(w.sq, 4) AS total_flow,
      round(w.sb, 4) AS total_baseflow,
      round(w.sb / w.sq, 4) AS bfi
    FROM walk w JOIN last
      ON w.wlobscd = last.wlobscd AND w.rn = last.n_days
    """


# Chi-square independence: same contingency cells, same sorted fold.
RELATIONAL_ORACLES["events_weekday_type_chisq"] = """
    WITH cells AS (
      SELECT dayofweek(ts) AS dow, event_type AS etype, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    rws AS (SELECT dow, sum(n) AS row_n FROM cells GROUP BY 1),
    cls AS (SELECT etype, sum(n) AS col_n FROM cells GROUP BY 1),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS n_total,
        count(DISTINCT dow) AS n_rows,
        count(DISTINCT etype) AS n_cols
      FROM cells
    ),
    packed AS (
      SELECT tot.n_total, tot.n_rows, tot.n_cols,
        list(struct_pack(dow := cells.dow, etype := cells.etype,
                         n := cells.n, row_n := rws.row_n,
                         col_n := cls.col_n)
             ORDER BY cells.dow, cells.etype) AS cs
      FROM cells
      JOIN rws ON cells.dow = rws.dow
      JOIN cls ON cells.etype = cls.etype
      CROSS JOIN tot
      GROUP BY 1, 2, 3
    )
    SELECT n_total,
      CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS df,
      round(list_reduce(list_prepend(0.0, list_transform(cs,
        t -> (CAST(t.n AS DOUBLE)
              - CAST(t.row_n AS DOUBLE) * CAST(t.col_n AS DOUBLE)
                / CAST(n_total AS DOUBLE))
             * (CAST(t.n AS DOUBLE)
                - CAST(t.row_n AS DOUBLE) * CAST(t.col_n AS DOUBLE)
                  / CAST(n_total AS DOUBLE))
             / (CAST(t.row_n AS DOUBLE) * CAST(t.col_n AS DOUBLE)
                / CAST(n_total AS DOUBLE)))),
        (a, b) -> a + b), 4) AS chi_square
    FROM packed
    """


# Balance standing: DuckDB's native percent_rank/cume_dist over the
# same (cents, custkey) total order are EXACTLY the derived forms.
RELATIONAL_ORACLES["customer_balance_standing"] = """
    WITH base AS (
      SELECT c_custkey,
        CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer
    ),
    win AS (
      SELECT c_custkey, bal_cents,
        percent_rank() OVER (ORDER BY bal_cents, c_custkey) AS pr,
        cume_dist() OVER (ORDER BY bal_cents) AS cd
      FROM base
    )
    SELECT c_custkey, CAST(bal_cents AS DOUBLE) / 100 AS acctbal,
      round(pr, 6) AS pct_rank, round(cd, 6) AS cume_dist
    FROM win
    ORDER BY acctbal DESC, c_custkey ASC LIMIT 25
    """


# Rating-curve residual screen: same exact-DECIMAL moments, same
# closed-form SSE, same broadcast-fit residual comparisons.
HYDRO_ORACLES["hydro_rating_residuals"] = HYDRO_CTE + """
    -- int->double ceilings audited r14: per-station power sums <= 4.9e10 at sf0.1, 1.8e5x headroom
    , t AS (
      SELECT wlobscd,
        CAST(TRY_CAST(printf('%.2f', water_level) AS DECIMAL(14,2))
             AS DOUBLE) AS xd,
        CAST(TRY_CAST(printf('%.2f', flow_rate) AS DECIMAL(14,2))
             AS DOUBLE) AS yd,
        TRY_CAST(printf('%.2f', water_level) AS DECIMAL(14,2)) AS x,
        TRY_CAST(printf('%.2f', flow_rate) AS DECIMAL(14,2)) AS y
      FROM classified
      WHERE water_level IS NOT NULL AND flow_rate IS NOT NULL
        AND range_valid
    ),
    agg AS (
      SELECT wlobscd AS f_code, count(*) AS n,
        CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        CAST(sum(x * x) /* int<2^53 */ AS DOUBLE) AS sxx,
        CAST(sum(x * y) /* int<2^53 */ AS DOUBLE) AS sxy,
        CAST(sum(y * y) /* int<2^53 */ AS DOUBLE) AS syy
      FROM t GROUP BY 1
    ),
    fit AS (
      SELECT f_code, n,
        (CAST(n AS DOUBLE) * sxy - sx * sy)
          / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
        (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
               / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
          / CAST(n AS DOUBLE) AS intercept,
        sqrt(greatest(
          (syy - sy * sy / CAST(n AS DOUBLE))
          - ((CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - sx * sx))
            * ((CAST(n AS DOUBLE) * sxy - sx * sy)
               / (CAST(n AS DOUBLE) * sxx - sx * sx))
            * (sxx - sx * sx / CAST(n AS DOUBLE)),
          0.0) / (CAST(n AS DOUBLE) - 2)) AS sigma
      FROM agg
      WHERE n > 2 AND (CAST(n AS DOUBLE) * sxx - sx * sx) <> 0.0
    )
    SELECT t.wlobscd, first(fit.n) AS n_obs,
      round(first(fit.sigma), 4) AS sigma,
      CAST(sum(CASE WHEN abs(t.yd - (fit.slope * t.xd + fit.intercept))
                         > 3 * fit.sigma THEN 1 ELSE 0 END) AS BIGINT)
        AS n_outliers,
      round(max(abs(t.yd - (fit.slope * t.xd + fit.intercept))), 4)
        AS max_abs_residual
    FROM t JOIN fit ON t.wlobscd = fit.f_code
    GROUP BY t.wlobscd
    """


# Cohort LTV triangle: same integer month keys, exact DECIMAL
# revenue, calendar-bounded cumulative window.
RELATIONAL_ORACLES["orders_cohort_ltv_curve"] = """
    WITH base AS (
      SELECT o_custkey,
        year(o_orderdate) * 12 + month(o_orderdate) - 1 AS om,
        TRY_CAST(printf('%.2f', o_totalprice) AS DECIMAL(18,2)) AS price
      FROM orders
    ),
    first AS (SELECT o_custkey, min(om) AS cohort_m FROM base GROUP BY 1),
    j AS (
      SELECT first.cohort_m, base.om - first.cohort_m AS offset_m,
        base.price
      FROM base JOIN first USING (o_custkey)
    ),
    cells AS (
      SELECT cohort_m, offset_m, count(*) AS n_orders,
        sum(price) AS rev
      FROM j GROUP BY 1, 2
    )
    SELECT CAST(cohort_m // 12 AS VARCHAR) || '-' ||
        lpad(CAST(cohort_m % 12 + 1 AS VARCHAR), 2, '0') AS cohort_month,
      CAST(offset_m AS BIGINT) AS months_since_first,
      n_orders,
      CAST(sum(rev) OVER (
        PARTITION BY cohort_m ORDER BY offset_m
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS DOUBLE) AS cum_revenue
    FROM cells
    """


# CSV wire ingestion: the same derived CSV lines, the same
# column-count corruption rule, the same scoreboard.
WIRE_ORACLES["wire_csv_parse"] = f"""
    WITH obs AS ({OBS_SQL}),
    wire AS (
      SELECT obs_id,
        CASE WHEN obs_id % 53 = 0 THEN substr(line, 1, 7) ELSE line END
          AS value
      FROM (
        SELECT obs_id,
          coalesce(wlobscd, '') || ',' || coalesce(ymdhm, '') || ',' ||
          coalesce(wl, '') || ',' || coalesce(fw, '') AS line
        FROM obs
      ) b
    ),
    parsed AS (
      SELECT obs_id, value,
        len(string_split(value, ',')) >= 4 AS ok,
        nullif(string_split(value, ',')[1], '') AS wlobscd
      FROM wire
    )
    SELECT CASE WHEN NOT ok THEN '__corrupt__'
                ELSE coalesce(wlobscd, '__null_station__') END AS wlobscd,
      CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed,
      CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_corrupt,
      count(*) AS n_rows
    FROM parsed GROUP BY 1
    """


# Time-weighted daily mean: same exact minute/level inputs, same
# sequential trapezoid fold carried through a struct accumulator.
HYDRO_ORACLES["hydro_station_ewma"] = HYDRO_CTE + """
    , daily AS (
      SELECT wlobscd, substr(obs_time_str, 1, 10) AS day,
        count(*) AS n_obs,
        CAST(sum(TRY_CAST(printf('%.2f', water_level) AS DECIMAL(12,2)))
             AS DOUBLE) / count(*) AS m
      FROM classified
      WHERE water_level IS NOT NULL
        AND substr(obs_time_str, 1, 10) IS NOT NULL
      GROUP BY 1, 2
    ), arrs AS (
      SELECT wlobscd,
        list(struct_pack(day := day, n_obs := n_obs, m := m)
             ORDER BY day) AS arr
      FROM daily GROUP BY wlobscd
    ), ex AS (
      SELECT wlobscd, arr, unnest(range(1, len(arr) + 1)) AS i
      FROM arrs
    ), folded AS (
      SELECT wlobscd,
        arr[i].day AS day,
        arr[i].n_obs AS n_obs,
        arr[i].m AS daily_mean,
        CASE WHEN i > 1 THEN
          list_reduce(
            list_prepend(arr[1].m,
              list_transform(range(2, i), j -> arr[j].m)),
            (acc, x) -> (acc + x) * 0.5)
        END AS ewma_prev
      FROM ex
    )
    SELECT wlobscd, day,
      CAST(n_obs AS BIGINT) AS n_obs,
      daily_mean,
      ewma_prev,
      CASE WHEN ewma_prev IS NOT NULL THEN
        daily_mean > 1.25 * ewma_prev
      END AS is_high
    FROM folded
    """


# Rising-limb lead time: the station_ewma fold's first is_high day
# joined to the ladder's first ATTENTION+ day (anomaly excluded),
# signed integer day lead.
HYDRO_ORACLES["hydro_rising_limb_lead_time"] = HYDRO_CTE + """
    , daily AS (
      SELECT wlobscd, substr(obs_time_str, 1, 10) AS day,
        CAST(sum(TRY_CAST(printf('%.2f', water_level) AS DECIMAL(12,2)))
             AS DOUBLE) / count(*) AS m
      FROM classified
      WHERE water_level IS NOT NULL
        AND substr(obs_time_str, 1, 10) IS NOT NULL
      GROUP BY 1, 2
    ), arrs AS (
      SELECT wlobscd,
        list(struct_pack(day := day, m := m) ORDER BY day) AS arr
      FROM daily GROUP BY wlobscd
    ), ex AS (
      SELECT wlobscd, arr, unnest(range(1, len(arr) + 1)) AS i
      FROM arrs
    ), folded AS (
      SELECT wlobscd, arr[i].day AS day, arr[i].m AS daily_mean,
        CASE WHEN i > 1 THEN
          list_reduce(
            list_prepend(arr[1].m,
              list_transform(range(2, i), j -> arr[j].m)),
            (acc, x) -> (acc + x) * 0.5)
        END AS ewma_prev
      FROM ex
    ), first_high AS (
      SELECT wlobscd, min(day) AS first_high_day
      FROM folded
      WHERE ewma_prev IS NOT NULL AND daily_mean > 1.25 * ewma_prev
      GROUP BY 1
    ), first_ladder AS (
      SELECT observation_code AS l_code,
        min(substr(observation_time, 1, 10)) AS first_ladder_day
      FROM alerts
      WHERE warning_level IN ('ATTENTION', 'CAUTION', 'WARNING', 'CRITICAL')
        AND substr(observation_time, 1, 10) IS NOT NULL
      GROUP BY 1
    )
    SELECT COALESCE(h.wlobscd, l.l_code) AS wlobscd,
      h.first_high_day, l.first_ladder_day,
      CAST(date_diff('day', CAST(h.first_high_day AS DATE),
                     CAST(l.first_ladder_day AS DATE)) AS INTEGER)
        AS lead_days
    FROM first_high h FULL OUTER JOIN first_ladder l
      ON h.wlobscd = l.l_code
    """

HYDRO_ORACLES["hydro_alert_transition_matrix"] = HYDRO_CTE + """
    , cats AS (
      SELECT observation_code, obs_id, observation_time,
        CASE WHEN is_anomaly OR warning_level = 'ANOMALY' THEN 'anomaly'
             ELSE lower(warning_level) END AS cat
      FROM alerts WHERE observation_time IS NOT NULL
    ), seq AS (
      SELECT cat AS to_category,
        lag(cat) OVER (PARTITION BY observation_code
                       ORDER BY observation_time, obs_id) AS from_category
      FROM cats
    ), cells AS (
      SELECT from_category, to_category, count(*) AS n
      FROM seq WHERE from_category IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_category, to_category,
      CAST(n AS BIGINT) AS n,
      round(CAST(n AS DOUBLE)
            / CAST(sum(n) OVER (PARTITION BY from_category) AS DOUBLE), 4)
        AS p
    FROM cells
    """

HYDRO_ORACLES["hydro_twa_daily_mean"] = HYDRO_CTE + """
    , obs_ok AS (
      SELECT wlobscd, substr(obs_time_str, 1, 10) AS day,
        TRY_CAST(substr(obs_time_str, 12, 2) AS INTEGER) * 60
          + TRY_CAST(substr(obs_time_str, 15, 2) AS INTEGER) AS t,
        CAST(TRY_CAST(printf('%.2f', water_level) AS DECIMAL(12,2))
             AS DOUBLE) AS v,
        TRY_CAST(printf('%.2f', water_level) AS DECIMAL(12,2)) AS vd
      FROM classified WHERE water_level IS NOT NULL
    ),
    pts AS (
      SELECT wlobscd, day, count(*) AS n_obs,
        CAST(sum(vd) AS DOUBLE) / count(*) AS plain_wl,
        list(struct_pack(t := t, v := v) ORDER BY t, v) AS arr
      FROM obs_ok WHERE t IS NOT NULL GROUP BY 1, 2
    ),
    folded AS (
      -- index-based scalar fold: a struct ACCUMULATOR in list_reduce
      -- computes wrong results when vectorized over many rows
      SELECT wlobscd, day, n_obs, plain_wl, arr,
        list_reduce(list_prepend(0.0::DOUBLE,
          list_transform(range(2, greatest(len(arr), 1) + 1),
            i -> CAST(arr[i].t - arr[i - 1].t AS DOUBLE)
                 * ((arr[i].v + arr[i - 1].v) * 0.5::DOUBLE))),
          (a, b) -> a + b) AS a
      FROM pts
    )
    SELECT wlobscd, day, n_obs,
      CASE WHEN arr[len(arr)].t - arr[1].t > 0
           THEN a / CAST(arr[len(arr)].t - arr[1].t AS DOUBLE)
           ELSE arr[1].v END AS twa_wl,
      plain_wl
    FROM folded
    """


# Recall@5 of IVF against brute force: both faces' oracles wrapped as
# derived tables and joined — composition of two already-exact twins.
LLM_ORACLES["ann_ivf_recall_report"] = (
    """
    WITH ivf AS (
    """
    + LLM_ORACLES["ivf_cosine_topk"]
    + """
    ), brute AS (
    """
    + LLM_ORACLES["ann_cosine_topk"]
    + """
    ), hits AS (
      SELECT ivf.query_id, count(*) AS n_hits
      FROM ivf JOIN brute
        ON ivf.query_id = brute.query_id
       AND ivf.neighbor_id = brute.neighbor_id
      GROUP BY ivf.query_id
    )
    SELECT q.query_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
      CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 5.0 AS recall_at_5
    FROM (SELECT DISTINCT query_id FROM brute) q
    LEFT JOIN hits h USING (query_id)
    """
)


def _pca_power_sql(dim: int = 64, iters: int = 3) -> str:
    """Unrolled power-iteration twin of
    plans/llm.embedding_pca_power_iteration: per iteration an
    index-ordered dot fold, floor-quantized integer contribution sums
    (inner ::BIGINT before the sum — a double sum would be
    order-dependent), and an L-infinity renormalization done in
    doubles on the exact integer operands."""
    q = "1000000000.0"

    def dot_fold(vv: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(0, {dim}), "
            f"i -> v[i + 1] * {vv}[i + 1])), (acc, x) -> acc + x)"
        )

    def w_cte(name: str, vsrc: str) -> str:
        sums = ", ".join(
            f"CAST(sum(floor(v[{j + 1}] * dot * {q})::BIGINT) AS BIGINT) AS s{j}"
            for j in range(dim)
        )
        return (
            f"{name} AS (SELECT {sums} FROM "
            f"(SELECT e.v AS v, {dot_fold('vv')} AS dot FROM e, {vsrc}))"
        )

    def v_cte(name: str, wsrc: str) -> str:
        gm = "greatest(" + ", ".join(f"abs(s{j})" for j in range(dim)) + ")"
        comps = ", ".join(
            f"CAST(s{j} AS DOUBLE) / CAST(gm AS DOUBLE)" for j in range(dim)
        )
        return (
            f"{name} AS (SELECT [{comps}] AS vv FROM "
            f"(SELECT *, {gm} AS gm FROM {wsrc}))"
        )

    ones = ", ".join(["1.0"] * dim)
    ctes = [
        "e AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS v"
        " FROM embeddings)",
        f"v0 AS (SELECT [{ones}] AS vv)",
    ]
    for t in range(1, iters + 1):
        ctes.append(w_cte(f"w{t}", f"v{t - 1}"))
        if t < iters:
            ctes.append(v_cte(f"v{t}", f"w{t}"))
    arr = "[" + ", ".join(f"s{j}" for j in range(dim)) + "]"
    gm = "greatest(" + ", ".join(f"abs(s{j})" for j in range(dim)) + ")"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(i AS INTEGER) AS dim,
      CAST(arr[i + 1] AS DOUBLE) / CAST(wmax AS DOUBLE) AS loading
    FROM (SELECT {arr} AS arr, {gm} AS wmax FROM w{iters}),
      unnest(range(0, {dim})) AS u(i)
    """
    )


LLM_ORACLES["embedding_pca_power_iteration"] = _pca_power_sql()


# Overlapping 64/32 byte windows over the UTF-8 payload: window w
# covers [w*32+1, w*32+64] (1-based), full windows only; energy is the
# integer byte sum (byte list via _UTF8_BYTES_CTE — same byte domain
# as the Spark blob face on any corpus, ASCII or not).
LLM_ORACLES["multimodal_audio_windows"] = _UTF8_BYTES_CTE + """
    , wins AS (
      SELECT doc_id, w AS win_idx,
        list_reduce(list_prepend(0, list_transform(range(1, 65),
          j -> bytes[w * 32 + j])), (a, x) -> a + x) AS energy
      FROM chars,
        unnest(range(0, CASE WHEN n >= 64 THEN (n - 64) // 32 + 1
                             ELSE 0 END)) AS u(w)
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_windows,
        CAST(sum(energy) AS BIGINT) AS total_energy,
        CAST(max(energy) AS BIGINT) AS max_energy
      FROM wins GROUP BY doc_id
    )
    SELECT a.doc_id, a.n_windows, a.total_energy, a.max_energy,
      CAST(min(w.win_idx) AS BIGINT) AS peak_idx
    FROM agg a JOIN wins w
      ON a.doc_id = w.doc_id AND w.energy = a.max_energy
    GROUP BY a.doc_id, a.n_windows, a.total_energy, a.max_energy
    """


WIRE_ORACLES["wire_schema_drift"] = _WIRE_CTE + """
    , ok AS (
      SELECT obs_id // 1000 AS batch,
        json_extract_string(value, '$.wlobscd') AS wlobscd,
        json_extract_string(value, '$.ymdhm') AS ymdhm,
        json_extract_string(value, '$.wl') AS wl,
        json_extract_string(value, '$.fw') AS fw
      FROM wire WHERE json_valid(value)
    ),
    per AS (
      SELECT batch, count(*) AS n,
        CAST(sum(CASE WHEN wlobscd IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS p_wlobscd,
        CAST(sum(CASE WHEN ymdhm IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS p_ymdhm,
        CAST(sum(CASE WHEN wl IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS p_wl,
        CAST(sum(CASE WHEN fw IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS p_fw
      FROM ok GROUP BY batch
    ),
    stacked AS (
      SELECT batch, u.field, per.n AS n_records, u.n_present,
        CAST(u.n_present AS DOUBLE) / CAST(per.n AS DOUBLE)
          AS presence_rate
      FROM per, LATERAL (
        VALUES ('wlobscd', p_wlobscd), ('ymdhm', p_ymdhm),
               ('wl', p_wl), ('fw', p_fw)
      ) AS u(field, n_present)
    ),
    gagg AS (
      SELECT count(*) AS gn,
        CAST(sum(CASE WHEN wlobscd IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS g_wlobscd,
        CAST(sum(CASE WHEN ymdhm IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS g_ymdhm,
        CAST(sum(CASE WHEN wl IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS g_wl,
        CAST(sum(CASE WHEN fw IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS g_fw
      FROM ok
    ),
    gstacked AS (
      SELECT u.field,
        CAST(u.g_present AS DOUBLE) / CAST(gagg.gn AS DOUBLE) AS global_rate
      FROM gagg, LATERAL (
        VALUES ('wlobscd', g_wlobscd), ('ymdhm', g_ymdhm),
               ('wl', g_wl), ('fw', g_fw)
      ) AS u(field, g_present)
    )
    SELECT s.batch, s.field, s.n_records, s.n_present, s.presence_rate,
      g.global_rate,
      abs(s.presence_rate - g.global_rate) > 0.02 AS drifted
    FROM stacked s JOIN gstacked g USING (field)
    """


RELATIONAL_ORACLES["lineitem_key_skew_profile"] = """
    -- int->double ceilings audited r14: max_n*n_keys <= 1.1e6 at sf0.1
    WITH c AS (
      SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY 1
    ),
    t AS (SELECT count(*) AS total FROM lineitem),
    k AS (SELECT count(*) AS n_keys FROM c),
    top AS (SELECT * FROM c ORDER BY n DESC, l_orderkey ASC LIMIT 20)
    SELECT
      CAST(row_number() OVER (ORDER BY n DESC, l_orderkey ASC) AS INTEGER)
        AS rank,
      l_orderkey, CAST(n AS BIGINT) AS n_rows,
      CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
      CAST(n * n_keys /* int<2^53 */ AS DOUBLE) / CAST(total AS DOUBLE) AS mean_ratio
    FROM top, t, k
    """


RELATIONAL_ORACLES["orders_join_strategy_report"] = """
    -- int->double ceilings audited r14: max_n*n_keys <= 1.1e6 at sf0.1
    WITH p AS (
      SELECT 'lineitem_x_part' AS candidate, 'l_partkey' AS join_key,
             (SELECT count(*) FROM part) AS small_rows,
             CAST(sum(n) AS BIGINT) AS big_rows,
             count(*) AS n_keys, max(n) AS max_n
      FROM (SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY 1)
      UNION ALL
      SELECT 'lineitem_x_orders', 'l_orderkey',
             (SELECT count(*) FROM orders),
             CAST(sum(n) AS BIGINT), count(*), max(n)
      FROM (SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY 1)
      UNION ALL
      SELECT 'lineitem_x_supplier', 'l_suppkey',
             (SELECT count(*) FROM supplier),
             CAST(sum(n) AS BIGINT), count(*), max(n)
      FROM (SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY 1)
      UNION ALL
      SELECT 'events_x_customer', 'user_id',
             (SELECT count(*) FROM customer),
             CAST(sum(n) AS BIGINT), count(*), max(n)
      FROM (SELECT user_id, count(*) AS n FROM events GROUP BY 1)
    ),
    r AS (
      SELECT *,
        CAST(max_n AS DOUBLE) / CAST(big_rows AS DOUBLE) AS hot_key_share,
        CAST(max_n * n_keys /* int<2^53 */ AS DOUBLE) / CAST(big_rows AS DOUBLE)
          AS mean_ratio
      FROM p
    )
    SELECT candidate, join_key,
      CASE WHEN small_rows <= 1000 THEN 'broadcast'
           WHEN mean_ratio >= 2.0 THEN 'salted'
           ELSE 'plain' END AS strategy,
      CAST(CASE WHEN small_rows <= 1000 OR mean_ratio < 2.0 THEN 1
                ELSE LEAST(32, 1 << CAST(
                  ceil(log2(greatest(2.0, mean_ratio))) AS INTEGER))
           END AS BIGINT) AS salt,
      CAST(small_rows AS BIGINT) AS small_rows,
      CAST(big_rows AS BIGINT) AS big_rows,
      CAST(n_keys AS BIGINT) AS n_keys,
      CAST(max_n AS BIGINT) AS max_key_rows,
      hot_key_share, mean_ratio
    FROM r
    """


RELATIONAL_ORACLES["sessions_error_overlap"] = """
    WITH flagged AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS us,
        CASE WHEN lag(ts) OVER w IS NULL
               OR date_diff('second', lag(ts) OVER w, ts) > 1800
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id,
        sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id,
        us
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, min(us) AS s_start_us, max(us) AS s_end_us,
        count(*) AS n_events
      FROM sess GROUP BY user_id, session_id
    ),
    eflag AS (
      SELECT CAST(ts AS DATE) AS day, ts, event_id, epoch_us(ts) AS us,
        CASE WHEN lag(ts) OVER we IS NULL
               OR date_diff('second', lag(ts) OVER we, ts) > 3600
             THEN 1 ELSE 0 END AS new_ep
      FROM events WHERE event_type = 'error'
      WINDOW we AS (PARTITION BY CAST(ts AS DATE) ORDER BY ts, event_id)
    ),
    eisl AS (
      SELECT day,
        sum(new_ep) OVER (PARTITION BY day ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS episode_id,
        us
      FROM eflag
    ),
    episodes AS (
      SELECT min(us) AS e_start_us, max(us) AS e_end_us,
        count(*) AS n_errors
      FROM eisl GROUP BY day, episode_id
    )
    SELECT user_id, s_start_us, s_end_us, n_events,
      e_start_us, e_end_us, n_errors,
      least(s_end_us, e_end_us) - greatest(s_start_us, e_start_us)
        AS overlap_us
    FROM sessions JOIN episodes
      ON s_start_us <= e_end_us AND e_start_us <= s_end_us
    """


# BM25 top-k: literal query-term list, RATIONAL idf (Spark's LOG2 is
# ln(x)/ln(2) — 1 ulp off DuckDB's true log2 on some args, so log idf
# is not engine-exact; see plans/llm.docs_bm25_topk), per-doc sum
# folded in sorted-term order (≡ Spark sort_array + F.aggregate),
# ties on doc_id. Fractional literals CAST to DOUBLE (DuckDB parses
# bare 0.5 as DECIMAL, which would change the arithmetic chain).
LLM_ORACLES["docs_bm25_topk"] = _TOK_CTE + """
    , terms AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
        unnest(toks) AS term
      FROM tok
    ), tf AS (
      SELECT doc_id, dl, term, count(*) AS tf FROM terms GROUP BY 1, 2, 3
    ), df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), stats AS (
      SELECT count(*) AS n_docs, CAST(sum(len(toks)) AS BIGINT)
        AS total_tokens
      FROM tok
    ), q(query_id, term) AS (
      VALUES (1, 'hash'), (1, 'join'), (2, 'stream'), (2, 'window'),
             (2, 'agg'), (3, 'sort'), (3, 'merge'), (4, 'scan'),
             (4, 'filter'), (4, 'table')
    ), cand AS (
      SELECT q.query_id, tf.doc_id, tf.term,
        ((n_docs - df + CAST(0.5 AS DOUBLE))
             / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
        * ((tf * CAST(2.2 AS DOUBLE))
           / (tf + CAST(1.2 AS DOUBLE)
              * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                 + CAST(0.75 AS DOUBLE) * dl
                   / (CAST(total_tokens AS DOUBLE)
                      / CAST(n_docs AS DOUBLE))))) AS s
      FROM tf JOIN df USING (term) JOIN q ON q.term = tf.term, stats
    ), scored AS (
      SELECT query_id, doc_id,
        list_reduce(list_prepend(0.0, list(s ORDER BY term)),
                    (acc, x) -> acc + x) AS score,
        count(*) AS n_terms
      FROM cand GROUP BY 1, 2
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id ASC)
        AS rank
      FROM scored
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
      CAST(rank AS INTEGER) AS rank, doc_id, score,
      CAST(n_terms AS BIGINT) AS n_terms
    FROM ranked WHERE rank <= 10
    """


def _kcore_stages(k: int = 3, rounds: int = 8) -> str:
    """Chained peel stages replaying plans/relational.copurchase_kcore
    round for round (fixed-iteration pattern; peeling is monotone, so
    rounds past convergence are no-ops on both engines). Each stage
    is MATERIALIZED: DuckDB inlines plain CTEs, and every stage here
    is referenced twice, so un-materialized chains expand to
    2^rounds copies of the base scan (observed as a too-many-open-
    files blowup at rounds=8)."""
    parts = []
    for i in range(1, rounds + 1):
        parts.append(
            f", k{i} AS MATERIALIZED (SELECT u FROM ("
            f"SELECT u, count(*) AS deg FROM e{i - 1} GROUP BY u"
            f") WHERE deg >= {k})"
            f", e{i} AS MATERIALIZED (SELECT e.u, e.v FROM e{i - 1} e "
            f"JOIN k{i} a ON e.u = a.u JOIN k{i} b ON e.v = b.u)"
        )
    return "\n".join(parts)


RELATIONAL_ORACLES["copurchase_kcore"] = (
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    half AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    e0 AS MATERIALIZED (
      SELECT u, v FROM half UNION ALL SELECT v, u FROM half)
    """
    + _kcore_stages()
    + """
    SELECT u AS part, CAST(count(*) AS BIGINT) AS core_degree
    FROM e8 GROUP BY u HAVING count(*) >= 3
    """
)


# RAKE keyphrases: phrase segmentation by stopword runs, corpus-wide
# deg/freq word scores (exact integer division), per-phrase sum folded
# in token-position order, ties on the phrase string.
LLM_ORACLES["docs_rake_keyphrases"] = _TOK_CTE + """
    , pos AS (
      SELECT doc_id, i AS pos, toks[i] AS w,
        toks[i] IN ('a', 'the') AS is_stop
      FROM tok, unnest(generate_series(1, len(toks))) AS u(i)
    ),
    seg AS (
      SELECT doc_id, pos, w,
        sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
          OVER (PARTITION BY doc_id ORDER BY pos
                ROWS UNBOUNDED PRECEDING) AS phrase_id
      FROM pos
      QUALIFY NOT is_stop
    ),
    plen AS (
      SELECT doc_id, phrase_id, count(*) AS plen
      FROM seg GROUP BY 1, 2
    ),
    wstats AS (
      SELECT w, CAST(sum(plen) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        AS wscore
      FROM seg JOIN plen USING (doc_id, phrase_id)
      GROUP BY w
    ),
    phrases AS (
      SELECT doc_id, phrase_id,
        string_agg(w, ' ' ORDER BY pos) AS phrase,
        CAST(count(*) AS BIGINT) AS n_words,
        list_reduce(list_prepend(0.0, list(wscore ORDER BY pos)),
                    (acc, x) -> acc + x) AS score
      FROM seg JOIN wstats USING (w)
      GROUP BY 1, 2
    ),
    uniq AS (
      SELECT doc_id, phrase, min(n_words) AS n_words,
        min(score) AS score, count(*) AS n_occurrences
      FROM phrases GROUP BY 1, 2
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, phrase ASC)
        AS rank
      FROM uniq
    )
    SELECT doc_id, CAST(rank AS INTEGER) AS rank, phrase,
      CAST(n_words AS BIGINT) AS n_words,
      CAST(n_occurrences AS BIGINT) AS n_occurrences, score
    FROM ranked WHERE rank <= 3
    """


# Hybrid RRF: dense arm = ann_cosine_topk's fold-left cosine chain
# (raw doubles, no rounding — ranks only), sparse arm = the BM25
# rational-idf chain with the seed doc's distinct terms as the query,
# RRF terms added in fixed written order (dense + sparse).
LLM_ORACLES["docs_hybrid_rrf"] = (
    """
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ),
    en AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    enn AS (
      SELECT vec_id, v, sqrt("""
    + _fold_dot("v", "v")
    + """) AS nrm FROM en
    ),
    q AS (
      SELECT vec_id AS seed_id, v AS qv, nrm AS qn FROM enn
      WHERE vec_id IN (10, 20, 30, 40)
    ),
    dsc AS (
      SELECT seed_id, enn.vec_id AS doc_id, """
    + _fold_dot("qv", "v")
    + """ / (qn * nrm) AS cos
      FROM enn, q WHERE enn.vec_id <> q.seed_id
    ),
    drk AS (
      SELECT seed_id, doc_id,
        CAST(row_number() OVER (PARTITION BY seed_id
                                ORDER BY cos DESC, doc_id ASC)
             AS INTEGER) AS dense_rank
      FROM dsc QUALIFY dense_rank <= 20
    ),
    terms AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
        unnest(toks) AS term
      FROM tok
    ), tf AS (
      SELECT doc_id, dl, term, count(*) AS tf FROM terms GROUP BY 1, 2, 3
    ), df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), stats AS (
      SELECT count(*) AS n_docs, CAST(sum(len(toks)) AS BIGINT)
        AS total_tokens
      FROM tok
    ), sq AS (
      SELECT DISTINCT doc_id AS query_id, term FROM tf
      WHERE doc_id IN (10, 20, 30, 40)
    ), scand AS (
      SELECT sq.query_id, tf.doc_id, tf.term,
        ((n_docs - df + CAST(0.5 AS DOUBLE))
             / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
        * ((tf * CAST(2.2 AS DOUBLE))
           / (tf + CAST(1.2 AS DOUBLE)
              * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                 + CAST(0.75 AS DOUBLE) * dl
                   / (CAST(total_tokens AS DOUBLE)
                      / CAST(n_docs AS DOUBLE))))) AS s
      FROM tf JOIN df USING (term) JOIN sq ON sq.term = tf.term, stats
      WHERE tf.doc_id <> sq.query_id
    ), ssc AS (
      SELECT query_id, doc_id,
        list_reduce(list_prepend(0.0, list(s ORDER BY term)),
                    (acc, x) -> acc + x) AS score
      FROM scand GROUP BY 1, 2
    ), srk AS (
      SELECT query_id AS seed_id, doc_id,
        CAST(row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id ASC)
             AS INTEGER) AS sparse_rank
      FROM ssc QUALIFY sparse_rank <= 20
    ),
    fused AS (
      SELECT COALESCE(d.seed_id, s.seed_id) AS seed_id,
        COALESCE(d.doc_id, s.doc_id) AS doc_id,
        COALESCE(CAST(1.0 AS DOUBLE) / (60 + d.dense_rank),
                 CAST(0.0 AS DOUBLE))
          + COALESCE(CAST(1.0 AS DOUBLE) / (60 + s.sparse_rank),
                     CAST(0.0 AS DOUBLE)) AS rrf,
        d.dense_rank, s.sparse_rank
      FROM drk d FULL JOIN srk s
        ON d.seed_id = s.seed_id AND d.doc_id = s.doc_id
    )
    SELECT seed_id, CAST(rank AS INTEGER) AS rank, doc_id, rrf,
      dense_rank, sparse_rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY seed_id
                                   ORDER BY rrf DESC, doc_id ASC) AS rank
      FROM fused
    ) WHERE rank <= 10
    """
)


def _hilbert_stages(bits: int = 8) -> str:
    """Chained xy2d walk replaying operators/bucketing.hilbert_index
    level for level in pure integer SQL (two linear CTE stages per
    level — each referenced once, so no inlining blowup)."""
    parts = []
    s = 1 << (bits - 1)
    i = 0
    while s > 0:
        i += 1
        parts.append(
            f", r{i} AS (SELECT pk, sk, d, x, y,"
            f" CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx,"
            f" CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry"
            f" FROM h{i - 1})"
            f", h{i} AS (SELECT pk, sk,"
            f" d + {s * s} * xor(3 * rx, ry) AS d,"
            f" CASE WHEN ry = 0 THEN"
            f" (CASE WHEN rx = 1 THEN {s - 1} - y ELSE y END)"
            f" ELSE x END AS x,"
            f" CASE WHEN ry = 0 THEN"
            f" (CASE WHEN rx = 1 THEN {s - 1} - x ELSE x END)"
            f" ELSE y END AS y"
            f" FROM r{i})"
        )
        s //= 2
    return "\n".join(parts)


RELATIONAL_ORACLES["lineitem_hilbert_layout"] = (
    r"""
    WITH b AS (
      SELECT min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
             min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
      FROM lineitem
    ), h0 AS (
      SELECT l_partkey AS pk, l_suppkey AS sk, CAST(0 AS BIGINT) AS d,
        ((l_partkey - min_pk) * 256) // (max_pk - min_pk + 1) AS x,
        ((l_suppkey - min_sk) * 256) // (max_sk - min_sk + 1) AS y
      FROM lineitem, b
    )
    """
    + _hilbert_stages()
    + """
    SELECT CAST(d AS BIGINT) >> 8 AS shard, count(*) AS n_rows,
      min(pk) AS pk_lo, max(pk) AS pk_hi,
      min(sk) AS sk_lo, max(sk) AS sk_hi
    FROM h8 GROUP BY 1
    """
)



def _hilbert_row_stages(bits: int = 8) -> str:
    """Per-row Hilbert walk over the probe frame, carrying (uid, pk,
    sk, mz) through the staged levels (same arithmetic as
    _hilbert_stages)."""
    parts = []
    s = 1 << (bits - 1)
    i = 0
    while s > 0:
        i += 1
        parts.append(
            f", pr{i} AS (SELECT uid, pk, sk, mz, d, x, y,"
            f" CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx,"
            f" CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry"
            f" FROM ph{i - 1})"
            f", ph{i} AS (SELECT uid, pk, sk, mz,"
            f" d + {s * s} * xor(3 * rx, ry) AS d,"
            f" CASE WHEN ry = 0 THEN"
            f" (CASE WHEN rx = 1 THEN {s - 1} - y ELSE y END)"
            f" ELSE x END AS x,"
            f" CASE WHEN ry = 0 THEN"
            f" (CASE WHEN rx = 1 THEN {s - 1} - x ELSE x END)"
            f" ELSE y END AS y"
            f" FROM pr{i})"
        )
        s //= 2
    return "\n".join(parts)


def _pruning_arm(code: str, name: str) -> str:
    """One equal-row-sharded pruning-scorecard row (NTILE cut along
    ``code``, bbox per shard, probe-intersection counts)."""
    return f"""
    SELECT '{name}' AS layout,
      CAST(count(*) AS BIGINT) AS n_shards,
      CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
        AS shards_scanned,
      CAST(sum(CASE WHEN hit THEN n_rows ELSE 0 END) AS BIGINT)
        AS rows_scanned,
      CAST(sum(n_rows) AS BIGINT) AS rows_total,
      CAST(sum(CASE WHEN hit THEN n_rows ELSE 0 END) AS DOUBLE)
        / CAST(sum(n_rows) AS DOUBLE) AS scan_fraction
    FROM (
      SELECT *, (pk_hi >= 500 AND pk_lo <= 700
                 AND sk_hi >= 20 AND sk_lo <= 40) AS hit
      FROM (
        SELECT shard, count(*) AS n_rows,
          min(pk) AS pk_lo, max(pk) AS pk_hi,
          min(sk) AS sk_lo, max(sk) AS sk_hi
        FROM (
          SELECT pk, sk,
            ntile(64) OVER (ORDER BY {code}, uid) AS shard
          FROM codes
        ) GROUP BY shard
      )
    )
    """


# morton code inline (same interleave as the zorder oracle), hilbert
# via the staged per-row walk; equal-row NTILE cut along each curve
# (int_ntile's split is the standard NTILE split on both engines).
RELATIONAL_ORACLES["layout_pruning_report"] = (
    r"""
    WITH b AS (
      SELECT min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
             min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
      FROM lineitem
    ), pq AS (
      SELECT l_orderkey * 10 + l_linenumber AS uid,
        l_partkey AS pk, l_suppkey AS sk,
        ((l_partkey - min_pk) * 256) // (max_pk - min_pk + 1) AS qx,
        ((l_suppkey - min_sk) * 256) // (max_sk - min_sk + 1) AS qy
      FROM lineitem, b
    ), ph0 AS (
      SELECT uid, pk, sk, CAST(0 AS BIGINT) AS d, qx AS x, qy AS y,
        (((qx >> 0) & 1) << 0) + (((qy >> 0) & 1) << 1) + (((qx >> 1) & 1) << 2) + (((qy >> 1) & 1) << 3) + (((qx >> 2) & 1) << 4) + (((qy >> 2) & 1) << 5) + (((qx >> 3) & 1) << 6) + (((qy >> 3) & 1) << 7) + (((qx >> 4) & 1) << 8) + (((qy >> 4) & 1) << 9) + (((qx >> 5) & 1) << 10) + (((qy >> 5) & 1) << 11) + (((qx >> 6) & 1) << 12) + (((qy >> 6) & 1) << 13) + (((qx >> 7) & 1) << 14) + (((qy >> 7) & 1) << 15) AS mz
      FROM pq
    )
    """
    + _hilbert_row_stages()
    + """
    , codes AS (
      SELECT uid, pk, sk, mz, CAST(d AS BIGINT) AS hz FROM ph8
    )
    """
    + _pruning_arm("mz", "zorder")
    + " UNION ALL "
    + _pruning_arm("hz", "hilbert")
)


# 2-D patch grid over the UTF-8 payload (byte list via
# _UTF8_BYTES_CTE — same byte domain as the Spark blob face):
# H = n div 32 rows, 8x8 non-overlapping patches; per-doc rollup with
# the argmax patch's (py, px), row-major min on ties.
LLM_ORACLES["multimodal_image_patches"] = _UTF8_BYTES_CTE + """
    , patches AS (
      SELECT doc_id, py, px,
        list_reduce(list_prepend(0, list_transform(range(0, 64),
          j -> bytes[(py * 8 + j // 8) * 32 + px * 8 + (j % 8) + 1])),
          (a, x) -> a + x) AS energy
      FROM chars,
        unnest(range(0, (n // 32) // 8)) AS a(py),
        unnest(range(0, 4)) AS b(px)
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_patches,
        CAST(sum(energy) AS BIGINT) AS total_energy,
        CAST(max(energy) AS BIGINT) AS max_energy
      FROM patches GROUP BY doc_id
    )
    SELECT a.doc_id, a.n_patches, a.total_energy, a.max_energy,
      CAST(p.py AS BIGINT) AS peak_py,
      CAST(p.px AS BIGINT) AS peak_px
    FROM agg a JOIN patches p
      ON a.doc_id = p.doc_id AND p.energy = a.max_energy
    -- lexicographic (py, px) min pair, matching Spark's min(struct)
    QUALIFY row_number() OVER (PARTITION BY a.doc_id
                               ORDER BY p.py, p.px) = 1
    """


# Patch-energy concentration: the image-patches CTE + exact integer
# Renyi-2 rollup (transcendental-free: JVM Math.log is 1 ulp off
# glibc/DuckDB ln for some args — SCALE.md r14).
LLM_ORACLES["multimodal_patch_energy_profile"] = _UTF8_BYTES_CTE + """
    , patches AS (
      SELECT doc_id, py, px,
        list_reduce(list_prepend(0, list_transform(range(0, 64),
          j -> bytes[(py * 8 + j // 8) * 32 + px * 8 + (j % 8) + 1])),
          (a, x) -> a + x) AS energy
      FROM chars,
        unnest(range(0, (n // 32) // 8)) AS a(py),
        unnest(range(0, 4)) AS b(px)
    ), agg AS (
      SELECT doc_id, count(*) AS n_patches,
        sum(energy) AS e_tot,
        sum(energy * energy) AS ss,
        max(energy) AS e_max
      FROM patches GROUP BY doc_id
    )
    SELECT doc_id,
      CAST(n_patches AS BIGINT) AS n_patches,
      CAST(e_tot AS BIGINT) AS total_energy,
      CASE WHEN e_tot > 0 THEN
        CAST(n_patches * ss /* int<2^53 */ AS DOUBLE)
          / CAST(e_tot * e_tot /* int<2^53 */ AS DOUBLE)
      END AS energy_imbalance,
      CASE WHEN e_tot > 0 THEN
        CAST(e_max AS DOUBLE) / CAST(e_tot AS DOUBLE)
      END AS max_patch_share
    FROM agg
    """

# KMV bottom-k sketch: the Knuth hash is engine-neutral, so the sketch
# contents — and therefore the estimates — are bit-identical; the
# oracle recomputes k-min directly (one window; the Spark side's
# two-phase bucket selection is an exact min-k, so outputs agree).
# Estimate = (k-1)*2^31 / kth as one double division of exact integers
# (IEEE-identical); kmv_inter is the same left-to-right
# (a + b) - union chain as the Spark expression.
RELATIONAL_ORACLES["events_kmv_setops"] = """
    WITH du AS (
      SELECT DISTINCT event_type,
        ((user_id % 2147483648) * 2654435761) % 2147483648 AS h
      FROM events
    ), kmin AS (
      SELECT event_type, h FROM (
        SELECT event_type, h,
          row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM du)
      WHERE rn <= 64
    ), sk AS (
      SELECT event_type, max(h) AS kth, count(*) AS sk_n
      FROM kmin GROUP BY 1
    ), p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM sk a JOIN sk b ON a.event_type < b.event_type
    ), u AS (
      SELECT DISTINCT p.type_a, p.type_b, k.h
      FROM p JOIN kmin k ON k.event_type IN (p.type_a, p.type_b)
    ), usk AS (
      SELECT type_a, type_b, max(h) AS kth_u, count(*) AS sk_n_u
      FROM (
        SELECT type_a, type_b, h,
          row_number() OVER (PARTITION BY type_a, type_b
                             ORDER BY h) AS rn
        FROM u)
      WHERE rn <= 64
      GROUP BY 1, 2
    ), base AS (
      SELECT DISTINCT event_type, user_id FROM events
    ), exact AS (
      SELECT event_type, count(*) AS exact_n FROM base GROUP BY 1
    ), inter AS (
      SELECT x.event_type AS type_a, y.event_type AS type_b,
        count(*) AS exact_inter
      FROM base x JOIN base y
        ON x.user_id = y.user_id AND x.event_type < y.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
      ea.exact_n AS exact_a, eb.exact_n AS exact_b,
      CAST(ea.exact_n + eb.exact_n - COALESCE(i.exact_inter, 0)
           AS BIGINT) AS exact_union,
      CAST(COALESCE(i.exact_inter, 0) AS BIGINT) AS exact_inter,
      CASE WHEN sa.sk_n < 64 THEN CAST(sa.sk_n AS DOUBLE)
           ELSE CAST(135291469824 AS DOUBLE) / sa.kth END AS kmv_a,
      CASE WHEN sb.sk_n < 64 THEN CAST(sb.sk_n AS DOUBLE)
           ELSE CAST(135291469824 AS DOUBLE) / sb.kth END AS kmv_b,
      CASE WHEN us.sk_n_u < 64 THEN CAST(us.sk_n_u AS DOUBLE)
           ELSE CAST(135291469824 AS DOUBLE) / us.kth_u END AS kmv_union,
      ((CASE WHEN sa.sk_n < 64 THEN CAST(sa.sk_n AS DOUBLE)
             ELSE CAST(135291469824 AS DOUBLE) / sa.kth END
        + CASE WHEN sb.sk_n < 64 THEN CAST(sb.sk_n AS DOUBLE)
               ELSE CAST(135291469824 AS DOUBLE) / sb.kth END)
       - CASE WHEN us.sk_n_u < 64 THEN CAST(us.sk_n_u AS DOUBLE)
              ELSE CAST(135291469824 AS DOUBLE) / us.kth_u END)
        AS kmv_inter
    FROM p
    JOIN sk sa ON sa.event_type = p.type_a
    JOIN sk sb ON sb.event_type = p.type_b
    JOIN usk us ON us.type_a = p.type_a AND us.type_b = p.type_b
    JOIN exact ea ON ea.event_type = p.type_a
    JOIN exact eb ON eb.event_type = p.type_b
    LEFT JOIN inter i ON i.type_a = p.type_a AND i.type_b = p.type_b
    """

RELATIONAL_ORACLES["lineitem_compaction_plan"] = """
    WITH files AS (
      SELECT year(l_shipdate) AS part_year,
        (((l_orderkey * 8 + l_linenumber) % 2147483648)
          * 2654435761) % 2147483648 % 512 AS file_id,
        96 * count(*) + CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
          AS file_bytes
      FROM lineitem GROUP BY 1, 2
    ), planned AS (
      SELECT part_year, file_id, file_bytes,
        CAST(floor(COALESCE(sum(file_bytes) OVER (
          PARTITION BY part_year ORDER BY file_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          / 65536) AS BIGINT) AS grp
      FROM files
    )
    SELECT part_year, grp,
      CAST(count(*) AS BIGINT) AS n_inputs,
      CAST(sum(file_bytes) AS BIGINT) AS out_bytes,
      CAST(sum(CASE WHEN file_bytes < 32768 THEN 1 ELSE 0 END) AS BIGINT)
        AS small_inputs,
      min(file_id) AS first_file,
      max(file_id) AS last_file
    FROM planned GROUP BY 1, 2
    """

RELATIONAL_ORACLES["customer_scd2_history"] = """
    WITH flagged AS (
      SELECT o_custkey, o_orderkey, o_orderpriority, o_orderdate,
        CASE WHEN lag(o_orderpriority) OVER w IS NULL
               OR lag(o_orderpriority) OVER w <> o_orderpriority
             THEN 1 ELSE 0 END AS chg
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey)
    ), versioned AS (
      SELECT *, sum(chg) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS version
      FROM flagged
    ), regimes AS (
      SELECT o_custkey, version,
        min(o_orderpriority) AS priority,
        min(o_orderdate) AS valid_from,
        count(*) AS n_orders
      FROM versioned GROUP BY 1, 2
    )
    SELECT o_custkey AS cust_key,
      CAST(version AS BIGINT) AS version,
      priority, valid_from,
      lead(valid_from) OVER wv AS valid_to,
      lead(valid_from) OVER wv IS NULL AS is_current,
      CAST(n_orders AS BIGINT) AS n_orders
    FROM regimes
    WINDOW wv AS (PARTITION BY o_custkey ORDER BY version)
    """

RELATIONAL_ORACLES["events_sampled_quantiles"] = """
    WITH sample AS (
      SELECT event_type, value FROM events
      WHERE ((event_id % 2147483648) * 2654435761) % 2147483648
            < 33554432
    ), sranked AS (
      SELECT event_type, value,
        row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        count(*) OVER (PARTITION BY event_type) AS n
      FROM sample
    ), est AS (
      SELECT event_type, max(n) AS s_n,
        max(CASE WHEN rn = ceil(n * CAST(0.5 AS DOUBLE))
            THEN value END) AS s_p50,
        max(CASE WHEN rn = ceil(n * CAST(0.9 AS DOUBLE))
            THEN value END) AS s_p90,
        max(CASE WHEN rn = ceil(n * CAST(0.99 AS DOUBLE))
            THEN value END) AS s_p99
      FROM sranked GROUP BY 1
    ), xranked AS (
      SELECT event_type, value,
        row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), exact AS (
      SELECT event_type, max(n) AS x_n,
        max(CASE WHEN rn = ceil(n * CAST(0.5 AS DOUBLE))
            THEN value END) AS x_p50,
        max(CASE WHEN rn = ceil(n * CAST(0.9 AS DOUBLE))
            THEN value END) AS x_p90,
        max(CASE WHEN rn = ceil(n * CAST(0.99 AS DOUBLE))
            THEN value END) AS x_p99
      FROM xranked GROUP BY 1
    )
    SELECT x.event_type,
      CAST(x.x_n AS BIGINT) AS n,
      CAST(e.s_n AS BIGINT) AS n_sample,
      x.x_p50 AS exact_p50, e.s_p50 AS est_p50,
      x.x_p90 AS exact_p90, e.s_p90 AS est_p90,
      x.x_p99 AS exact_p99, e.s_p99 AS est_p99
    FROM exact x JOIN est e ON e.event_type = x.event_type
    """


# Point-in-time SCD2 snapshot: the full history build (shared SQL)
# filtered to the regime active at the as-of date — half-open
# [valid_from, valid_to) with NULL = open/current.
RELATIONAL_ORACLES["customer_scd2_asof_snapshot"] = (
    "SELECT * FROM (\n"
    + RELATIONAL_ORACLES["customer_scd2_history"]
    + """
    ) WHERE valid_from <= DATE '1995-06-15'
        AND (valid_to IS NULL OR valid_to > DATE '1995-06-15')
    """
)


# Theil-Sen over the monthly aggregate: integer month index and
# counts, each pair slope ONE double division of exact integers,
# quantiles selected at rank ceil(q*p) under (slope, mi, mj) order —
# no averaging, no accumulation, nothing engine-sensitive.
RELATIONAL_ORACLES["orders_theilsen_trend"] = """
    WITH monthly AS (
      SELECT o_orderpriority AS p,
        (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS m,
        count(*) AS n
      FROM orders GROUP BY 1, 2
    ), pairs AS (
      SELECT a.p, a.m AS mi, b.m AS mj,
        CAST(b.n - a.n AS DOUBLE) / CAST(b.m - a.m AS DOUBLE) AS slope
      FROM monthly a JOIN monthly b ON a.p = b.p AND a.m < b.m
    ), ranked AS (
      SELECT p, slope, mi, mj,
        row_number() OVER (PARTITION BY p ORDER BY slope, mi, mj) AS rk,
        count(*) OVER (PARTITION BY p) AS np
      FROM pairs
    )
    SELECT p AS o_orderpriority, CAST(max(np) AS BIGINT) AS n_pairs,
      max(CASE WHEN rk = CAST(ceil(np * 0.25) AS BIGINT)
          THEN slope END) AS slope_p25,
      max(CASE WHEN rk = CAST(ceil(np * 0.5) AS BIGINT)
          THEN slope END) AS theilsen_slope,
      max(CASE WHEN rk = CAST(ceil(np * 0.75) AS BIGINT)
          THEN slope END) AS slope_p75
    FROM ranked GROUP BY p
    """


# The routed enrichment join: the decision (broadcast/salted/plain)
# is a physical-plan choice — all arms are row-identical — so the
# twin is the plain join. Cents via the proven portable
# round(value*100) (events_value_log2_histogram pattern).
RELATIONAL_ORACLES["events_segment_enrichment"] = """
    SELECT c_mktsegment,
      count(*) AS n_events,
      count(DISTINCT user_id) AS n_users,
      CAST(sum(CAST(round(coalesce(value, 0.0) * 100) AS BIGINT))
           AS BIGINT) AS sum_cents
    FROM events JOIN customer ON user_id = c_custkey
    WHERE user_id IS NOT NULL
    GROUP BY 1
    """


# Mutual k-NN: the directed within-label candidate join (the Spark
# side's sub-sharded pair blocks emit each unordered pair once and
# explode both orientations — elementwise products commute, so the
# directed cosines are bit-identical to this plain directed join),
# fold-left dot in dimension order / sqrt-norm product (the certified
# embedding chain), rank ties on neighbour id, mutual = reverse edge
# inside the reverse top-k.
LLM_ORACLES["embedding_mutual_knn"] = """
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
        sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))
          AS nrm
      FROM embeddings
    ), e AS (
      SELECT a.vec_id AS src, b.vec_id AS nbr,
        list_reduce(list_prepend(0.0, list_transform(range(len(a.v)),
          i -> a.v[i + 1] * b.v[i + 1])), (acc, x) -> acc + x)
          / (a.nrm * b.nrm) AS cos
      FROM v a JOIN v b ON a.label = b.label AND a.vec_id <> b.vec_id
    ), knn AS (
      SELECT src, nbr, cos,
        row_number() OVER (PARTITION BY src ORDER BY cos DESC, nbr)
          AS rank
      FROM e QUALIFY rank <= 3
    )
    SELECT k.src AS vec_id, k.nbr AS nbr_id,
      CAST(k.rank AS INTEGER) AS rank, k.cos AS cos_sim,
      r.src IS NOT NULL AS mutual
    FROM knn k LEFT JOIN knn r ON r.src = k.nbr AND r.nbr = k.src
    """


# PMI lift stays rational (N*df_xy / (df_x*df_y): one double division
# of exact integer products — the docs_bm25_topk no-log discipline);
# top-100 vocabulary and the final top-50 both deterministic under
# (count DESC, token) / (lift DESC, tok_a, tok_b) binary-collation
# orders shared by both engines.
LLM_ORACLES["docs_pmi_top_pairs"] = r"""
    -- int->double ceilings audited r14: count products <= n_docs^2 = 2.5e7 at sf0.1
    WITH tokd AS (
      SELECT doc_id,
        unnest(list_distinct(list_transform(
          regexp_split_to_array(trim(text), '\s+'),
          t -> lower(t)))) AS tok
      FROM documents
    ), dfc AS (SELECT tok, count(*) AS c FROM tokd GROUP BY 1),
    vocab AS (SELECT tok, c FROM dfc ORDER BY c DESC, tok LIMIT 100),
    tv AS (SELECT t.doc_id, t.tok, v.c
           FROM tokd t JOIN vocab v USING (tok)),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    co AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS c_xy,
        min(a.c) AS c_a, min(b.c) AS c_b
      FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2 HAVING count(*) >= 5
    ), scored AS (
      SELECT tok_a, tok_b, c_xy, c_a, c_b,
        CAST(n_docs * c_xy /* int<2^53 */ AS DOUBLE) / CAST(c_a * c_b /* int<2^53 */ AS DOUBLE)
          AS lift
      FROM co CROSS JOIN nd
    )
    SELECT tok_a, tok_b, CAST(c_xy AS BIGINT) AS n_co_docs,
      CAST(c_a AS BIGINT) AS df_a, CAST(c_b AS BIGINT) AS df_b, lift,
      CAST(row_number() OVER (ORDER BY lift DESC, tok_a, tok_b)
           AS INTEGER) AS rank
    FROM scored QUALIFY rank <= 50
    """


# Double-mass curve: daily integer-cents volumes, cumulative windows
# over bounded daily aggregates, endpoint proportionality deviation as
# exact integer cross-products (HUGEINT here, DECIMAL(38,0) on the
# Spark side — identical values, the PCA-accumulator precedent).
HYDRO_ORACLES["hydro_double_mass"] = HYDRO_CTE + """
    , dm AS (
      SELECT wlobscd AS station, substr(ymdhm, 1, 8) AS day,
        CAST(round(water_level * 100) AS BIGINT) AS cents
      FROM classified
      WHERE water_level IS NOT NULL AND length(ymdhm) = 12
    ), sd AS (
      SELECT station, day, sum(cents) AS s_cents FROM dm GROUP BY 1, 2
    ), dd AS (
      SELECT day, sum(cents) AS d_cents FROM dm GROUP BY 1
    ), basin AS (
      SELECT day, sum(d_cents) OVER (
        ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS x_cum FROM dd
    ), stc AS (
      SELECT station, day, sum(s_cents) OVER (
        PARTITION BY station ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS y_cum FROM sd
    ), curve AS (
      SELECT stc.station, stc.day, stc.y_cum, basin.x_cum
      FROM stc JOIN basin USING (day)
    ), ends AS (
      -- endpoint cumulative = value at the LAST day (arg-max on day),
      -- not max(y_cum): identical for nonnegative cents, correct for
      -- below-datum negative daily volumes too (mirrors the Spark
      -- struct-max endpoint selection)
      SELECT station, count(*) AS n_days, max(day) AS last_day,
        max_by(y_cum, day) AS y_total
      FROM curve GROUP BY 1
    ), endsx AS (
      SELECT e.station, e.n_days, e.y_total, b.x_cum AS x_total
      FROM ends e JOIN basin b ON b.day = e.last_day
    ), dev AS (
      SELECT c.station,
        max(abs(CAST(c.y_cum AS HUGEINT) * CAST(ex.x_total AS HUGEINT)
              - CAST(c.x_cum AS HUGEINT) * CAST(ex.y_total AS HUGEINT)))
          AS max_dev
      FROM curve c JOIN endsx ex USING (station) GROUP BY 1
    )
    SELECT ex.station, CAST(ex.n_days AS BIGINT) AS n_days,
      CAST(ex.y_total AS BIGINT) AS station_cents,
      CAST(ex.x_total AS BIGINT) AS basin_cents,
      CAST(ex.y_total AS DOUBLE) / CAST(ex.x_total AS DOUBLE)
        AS final_ratio,
      CAST(dev.max_dev AS BIGINT) AS max_dev
    FROM endsx ex JOIN dev USING (station)
    """


# CCNet terciles rank on the exact _MODEL_Z_CTE fold (the named
# shared chain with docs_model_quality_score) — never a log/exp score.
LLM_ORACLES["docs_ccnet_quality_buckets"] = (
    _MODEL_Z_CTE
    + """
    , zl AS (
      SELECT t.lang, z.doc_id, z.n_toks, z.zz,
        ntile(3) OVER (PARTITION BY t.lang
                       ORDER BY z.zz DESC, z.doc_id) AS bucket
      FROM z JOIN (SELECT doc_id, lang FROM documents) t USING (doc_id)
    )
    SELECT lang, CAST(bucket AS INTEGER) AS bucket,
      count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS total_toks,
      min(zz) AS min_z, max(zz) AS max_z
    FROM zl GROUP BY 1, 2
    """
)


# Lateness vs the arrival-order high-water mark: the oracle runs the
# plain global running max (value-identical to the Spark side's
# two-pass bucketed form — max is associative over any prefix split);
# integer epoch micros, rank-rule quantiles.
RELATIONAL_ORACLES["events_watermark_lateness_audit"] = """
    WITH base AS (
      SELECT event_id, event_type, epoch_us(ts) AS us FROM events
    ), hw AS (
      SELECT event_type, us,
        max(us) OVER (ORDER BY event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS seen
      FROM base
    ), lat AS (
      SELECT event_type,
        greatest(0, coalesce(seen, 0) - us) AS value
      FROM hw
    ), ranked AS (
      SELECT event_type, value,
        row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        count(*) OVER (PARTITION BY event_type) AS n
      FROM lat
    )
    SELECT event_type, CAST(max(n) AS BIGINT) AS n,
      CAST(max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
          THEN value END) AS BIGINT) AS p50_us,
      CAST(max(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT)
          THEN value END) AS BIGINT) AS p95_us,
      CAST(max(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT)
          THEN value END) AS BIGINT) AS p99_us,
      CAST(max(value) AS BIGINT) AS max_us,
      CAST(sum(CASE WHEN value > 600000000 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_late_10m
    FROM ranked GROUP BY 1
    """


# Retention plan: integer month age against the pinned 1998-08
# reference, money through the exact printf-cents path.
RELATIONAL_ORACLES["orders_retention_vacuum_plan"] = """
    WITH per AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
        year(o_orderdate) * 12 + month(o_orderdate) AS midx,
        count(*) AS n_orders,
        CAST(sum(TRY_CAST(printf('%.2f', o_totalprice) AS DECIMAL(12,2)))
             AS DOUBLE) AS total_value
      FROM orders GROUP BY 1, 2
    ), aged AS (
      SELECT *, CAST(max(midx) OVER () - midx AS INTEGER) AS age_months
      FROM per
    )
    SELECT month, age_months,
      CASE WHEN age_months >= 48 THEN 'drop'
           WHEN age_months >= 24 THEN 'archive'
           ELSE 'keep' END AS action,
      CAST(n_orders AS BIGINT) AS n_orders, total_value
    FROM aged
    """


# MAD outliers: two rank-rule median selections, one multiply by the
# Python-folded constant 4.4478, integer share division.
RELATIONAL_ORACLES["events_mad_outliers"] = """
    WITH ev AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL
    ), r1 AS (
      SELECT event_type, value,
        row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        count(*) OVER (PARTITION BY event_type) AS n
      FROM ev
    ), med AS (
      SELECT event_type, max(n) AS n,
        max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
            THEN value END) AS med
      FROM r1 GROUP BY 1
    ), dev AS (
      SELECT ev.event_type, med.n, med.med,
        abs(ev.value - med.med) AS adev
      FROM ev JOIN med USING (event_type)
    ), r2 AS (
      SELECT event_type, n, med, adev,
        row_number() OVER (PARTITION BY event_type ORDER BY adev) AS rn
      FROM dev
    ), mad AS (
      SELECT event_type,
        max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
            THEN adev END) AS mad
      FROM r2 GROUP BY 1
    )
    SELECT d.event_type, CAST(d.n AS BIGINT) AS n, d.med, m.mad,
      CAST(sum(CASE WHEN d.adev > m.mad * 4.4478 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_outliers,
      CAST(sum(CASE WHEN d.adev > m.mad * 4.4478 THEN 1 ELSE 0 END)
           AS DOUBLE) / CAST(max(d.n) AS DOUBLE) AS outlier_share
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY 1, 2, 3, 4
    """


# Poisson bootstrap CI: integer q10 score bands, integer Poisson(1)
# weights from the pre-scaled thresholds (same literals as
# plans/llm.POISSON1_T), each resample mean ONE division of exact
# integer sums, CI bounds by rank-rule selection.
LLM_ORACLES["docs_quality_bootstrap_ci"] = _TOK_CTE + """
    -- int->double ceilings audited r14: sum(w*q10) <= 10*n_docs*max_w, ~5e5 at sf0.1
    , stats AS (
      SELECT doc_id, source, len(toks) AS n_tokens,
        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        CAST(len(list_filter(toks,
             x -> x IN ('the','a','of','and','data'))) AS DOUBLE)
          / len(toks) AS ratio
      FROM tok
    ), scored AS (
      SELECT doc_id, source,
        (CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 4 ELSE 0 END
         + CASE WHEN ttr >= 0.3 THEN 3 ELSE 0 END
         + CASE WHEN ratio >= 0.01 AND ratio <= 0.5 THEN 3 ELSE 0 END)
          AS q10
      FROM stats
    ), rs AS (
      SELECT source, q10, b,
        ((doc_id * 200 + b) % 2147483648 * 2654435761) % 2147483648 AS h
      FROM scored, unnest(range(0, 200)) AS u(b)
    ), wtd AS (
      SELECT source, b, q10,
        (CASE WHEN h >= 790015084 THEN 1 ELSE 0 END
         + CASE WHEN h >= 1580030168 THEN 1 ELSE 0 END
         + CASE WHEN h >= 1975037710 THEN 1 ELSE 0 END
         + CASE WHEN h >= 2106706891 THEN 1 ELSE 0 END
         + CASE WHEN h >= 2139624186 THEN 1 ELSE 0 END
         + CASE WHEN h >= 2146207645 THEN 1 ELSE 0 END
         + CASE WHEN h >= 2147304888 THEN 1 ELSE 0 END) AS w
      FROM rs
    ), means AS (
      SELECT source, b,
        CAST(sum(w * q10) /* int<2^53 */ AS DOUBLE)
          / CAST(10 * sum(w) AS DOUBLE) AS mean_q
      FROM wtd GROUP BY 1, 2 HAVING sum(w) > 0
    ), ranked AS (
      SELECT source, mean_q,
        row_number() OVER (PARTITION BY source
                           ORDER BY mean_q, b) AS rn,
        count(*) OVER (PARTITION BY source) AS nb
      FROM means
    ), ci AS (
      SELECT source, CAST(max(nb) AS BIGINT) AS n_resamples,
        max(CASE WHEN rn = CAST(ceil(nb * 0.025) AS BIGINT)
            THEN mean_q END) AS ci_lo,
        max(CASE WHEN rn = CAST(ceil(nb * 0.975) AS BIGINT)
            THEN mean_q END) AS ci_hi
      FROM ranked GROUP BY 1
    ), pt AS (
      SELECT source, count(*) AS n_docs,
        CAST(sum(q10) AS DOUBLE)
          / CAST(10 * count(*) AS DOUBLE) AS mean_quality
      FROM scored GROUP BY 1
    )
    SELECT p.source, CAST(p.n_docs AS BIGINT) AS n_docs,
      p.mean_quality, c.n_resamples, c.ci_lo, c.ci_hi
    FROM pt p JOIN ci c USING (source)
    """


# TV distance: integer cross-products summed in HUGEINT (Spark:
# DECIMAL(38,0)); one final division of identically-constructed
# doubles. Dense 256-bucket grid so absent buckets count as 0 on
# both faces.
LLM_ORACLES["docs_source_tv_distance"] = _TOK_CTE + """
    , tb AS (
      SELECT source,
        list_reduce(list_transform(range(1, 16),
          i -> strpos('0123456789abcdef', substr(md5(lower(tok)), i, 1)) - 1),
          (acc, d) -> acc * 16 + d)::BIGINT % 256 AS b
      FROM (SELECT source, unnest(toks) AS tok FROM tok)
    ), counts AS (
      SELECT source, b, count(*) AS c FROM tb GROUP BY 1, 2
    ), totals AS (
      SELECT source, sum(c) AS n FROM counts GROUP BY 1
    ), dense AS (
      SELECT t.source, t.n, g.b, coalesce(c.c, 0) AS c
      FROM totals t
      CROSS JOIN (SELECT unnest(range(0, 256)) AS b) g
      LEFT JOIN counts c ON c.source = t.source AND c.b = g.b
    )
    , agg AS (
      SELECT a.source AS source_a, b.source AS source_b,
        a.n AS n_a, b.n AS n_b,
        sum(abs(CAST(a.c AS HUGEINT) * CAST(b.n AS HUGEINT)
              - CAST(b.c AS HUGEINT) * CAST(a.n AS HUGEINT))) AS terms
      FROM dense a JOIN dense b
        ON a.b = b.b AND a.source < b.source
      GROUP BY 1, 2, 3, 4
    )
    SELECT source_a, source_b,
      CAST(n_a AS BIGINT) AS n_toks_a, CAST(n_b AS BIGINT) AS n_toks_b,
      CAST(terms AS DOUBLE)
        / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS tv_distance
    FROM agg
    """


def _sssp_stages(rounds: int = 6) -> str:
    """Chained Bellman-Ford relaxation stages replaying
    plans/relational.copurchase_weighted_sssp round for round.
    MATERIALIZED for the same reason as _kcore_stages: each stage is
    referenced twice and plain CTEs inline to 2^rounds copies."""
    parts = []
    for i in range(1, rounds + 1):
        parts.append(
            f", d{i} AS MATERIALIZED ("
            f"SELECT vertex, min(dist) AS dist FROM ("
            f"SELECT vertex, dist FROM d{i - 1} "
            f"UNION ALL SELECT e.v, d.dist + e.w "
            f"FROM d{i - 1} d JOIN sym e ON e.u = d.vertex"
            f") GROUP BY vertex)"
        )
    return "\n".join(parts)


RELATIONAL_ORACLES["copurchase_weighted_sssp"] = (
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    half AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
        1000 // count(*) AS w
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS MATERIALIZED (
      SELECT u, v, w FROM half UNION ALL SELECT v, u, w FROM half),
    d0 AS MATERIALIZED (
      SELECT min(u) AS vertex, CAST(0 AS BIGINT) AS dist FROM sym)
    """
    + _sssp_stages()
    + """
    SELECT vertex AS part, CAST(dist AS BIGINT) AS dist FROM d6
    """
)


# Length-survival: integer token counts, integer truncation losses,
# one exact-integer division per cutoff.
LLM_ORACLES["docs_length_survival"] = _TOK_CTE + """
    , per_doc AS (SELECT len(toks) AS n_toks FROM tok),
    lv AS (
      SELECT n_toks, cutoff
      FROM per_doc, unnest([64, 128, 256, 512, 1024, 2048, 4096, 8192])
        AS u(cutoff)
    ), agg AS (
      SELECT cutoff, count(*) AS n_docs,
        sum(CASE WHEN n_toks > cutoff THEN 1 ELSE 0 END) AS n_truncated,
        sum(greatest(0, n_toks - cutoff)) AS tokens_lost,
        sum(n_toks) AS tokens_total
      FROM lv GROUP BY 1
    )
    SELECT CAST(cutoff AS INTEGER) AS cutoff,
      CAST(n_docs AS BIGINT) AS n_docs,
      CAST(n_truncated AS BIGINT) AS n_truncated,
      CAST(tokens_lost AS BIGINT) AS tokens_lost,
      CAST(tokens_lost AS DOUBLE) / CAST(tokens_total AS DOUBLE)
        AS share_lost
    FROM agg
    """


# Exact two-sample KS per event type vs the rest: integer ECDF step
# numerators on the bounded (distinct values × types) grid, HUGEINT
# running sums (DECIMAL(38,0) on the Spark side — identical values),
# one final double division; arg-max tie-break (|cum| desc, value asc).
RELATIONAL_ORACLES["events_ks_two_sample"] = """
    WITH base AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL
    ), ct AS (
      SELECT event_type, value, count(*) AS c_t FROM base GROUP BY 1, 2
    ), pt AS (
      SELECT event_type, sum(c_t) AS n_t FROM ct GROUP BY 1
    ), tot AS (
      SELECT sum(n_t) AS n_all FROM pt
    ), cv AS (
      SELECT value, sum(c_t) AS c_all FROM ct GROUP BY 1
    ), grid AS (
      SELECT pt.event_type, cv.value, pt.n_t,
        tot.n_all - pt.n_t AS n_rest,
        coalesce(ct.c_t, 0) AS ctv,
        cv.c_all - coalesce(ct.c_t, 0) AS crv
      FROM cv CROSS JOIN pt CROSS JOIN tot
      LEFT JOIN ct ON ct.event_type = pt.event_type AND ct.value = cv.value
    ), cum AS (
      SELECT event_type, value, n_t, n_rest,
        abs(sum(CAST(ctv AS HUGEINT) * CAST(n_rest AS HUGEINT)
              - CAST(crv AS HUGEINT) * CAST(n_t AS HUGEINT))
            OVER (PARTITION BY event_type ORDER BY value
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          AS absnum
      FROM grid
    ), best AS (
      SELECT event_type, n_t, n_rest, absnum, value,
        row_number() OVER (PARTITION BY event_type
                           ORDER BY absnum DESC, value ASC) AS rn
      FROM cum
    )
    SELECT event_type, CAST(n_t AS BIGINT) AS n_t,
      CAST(n_rest AS BIGINT) AS n_rest,
      CAST(absnum AS DOUBLE)
        / (CAST(n_t AS DOUBLE) * CAST(n_rest AS DOUBLE)) AS d_stat,
      value AS d_at_value
    FROM best WHERE rn = 1
    """


# Mann–Whitney via doubled midranks over the distinct-value counts:
# exact HUGEINT rank sums (DECIMAL(38,0) on the Spark side), then the
# SAME fixed-order IEEE chain for the tie-corrected z on both engines.
RELATIONAL_ORACLES["events_mann_whitney"] = """
    WITH base AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL
    ), ct AS (
      SELECT event_type, value, count(*) AS c_t FROM base GROUP BY 1, 2
    ), cv AS (
      SELECT value, sum(c_t) AS c_all FROM ct GROUP BY 1
    ), ranks AS (
      SELECT value, c_all,
        2 * coalesce(sum(c_all) OVER (ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + c_all + 1 AS r2
      FROM cv
    ), tie AS (
      SELECT
        sum(CAST(c_all AS HUGEINT) * CAST(c_all AS HUGEINT)
            * CAST(c_all AS HUGEINT) - CAST(c_all AS HUGEINT)) AS t_corr,
        CAST(sum(c_all) AS HUGEINT) AS n_all
      FROM ranks
    ), per_type AS (
      SELECT event_type, sum(c_t) AS n_t,
        sum(CAST(c_t AS HUGEINT) * CAST(r2 AS HUGEINT)) AS r2_sum
      FROM ct JOIN ranks USING (value) GROUP BY 1
    )
    -- int->double ceilings audited r14: r2_sum and pair products
    -- <= ~2e9 at sf0.1; the tie-corrected n^3 term reaches 1e15
    -- (only 9x under 2^53), so it converts via the hi/lo 2^40 split
    -- (exact parts, one correctly-rounded IEEE add - SCALE.md r14)
    SELECT event_type, CAST(n_t AS BIGINT) AS n_t,
      CAST(n_all - n_t AS BIGINT) AS n_rest,
      CAST(r2_sum - CAST(n_t AS HUGEINT) * (CAST(n_t AS HUGEINT) + 1)
           /* int<2^53 */ AS DOUBLE) / 2.0 AS u_stat,
      CAST(r2_sum - CAST(n_t AS HUGEINT) * (CAST(n_t AS HUGEINT) + 1)
           - CAST(n_t AS HUGEINT) * (n_all - n_t)
           /* int<2^53 */ AS DOUBLE)
        / (2.0 * sqrt(
            (CAST(CAST(n_t AS HUGEINT) * (n_all - n_t)
                  /* int<2^53 */ AS DOUBLE)
             * (CAST((n_all * n_all * n_all - n_all - t_corr)
                     // 1099511627776 AS DOUBLE) * 1099511627776.0
                + CAST((n_all * n_all * n_all - n_all - t_corr)
                       % 1099511627776 AS DOUBLE)))
            / CAST(12 * n_all * (n_all - 1)
                   /* int<2^53 */ AS DOUBLE))) AS z_score
    FROM per_type CROSS JOIN tie
    """


# Recession constant: integer-cents daily volumes, consecutive-day
# strictly-falling ratios (one exact-integer double division each),
# rank-rule median under (ratio, day) order.
HYDRO_ORACLES["hydro_recession_constant"] = HYDRO_CTE + """
    , dmr AS (
      SELECT wlobscd AS station, substr(ymdhm, 1, 8) AS day,
        CAST(round(water_level * 100) AS BIGINT) AS cents
      FROM classified
      WHERE water_level IS NOT NULL AND length(ymdhm) = 12
    ), sdr AS (
      SELECT station, day, sum(cents) AS s_cents FROM dmr GROUP BY 1, 2
    ), stepped AS (
      SELECT station, day, s_cents,
        lag(s_cents) OVER (PARTITION BY station ORDER BY day)
          AS prev_cents,
        lag(day) OVER (PARTITION BY station ORDER BY day) AS prev_day
      FROM sdr
    ), falls AS (
      SELECT station, day,
        CAST(s_cents AS DOUBLE) / CAST(prev_cents AS DOUBLE) AS ratio
      FROM stepped
      WHERE prev_cents IS NOT NULL
        AND date_diff('day', strptime(prev_day, '%Y%m%d'),
                      strptime(day, '%Y%m%d')) = 1
        AND prev_cents > 0 AND s_cents > 0 AND s_cents < prev_cents
    ), rankedr AS (
      SELECT station, ratio,
        row_number() OVER (PARTITION BY station ORDER BY ratio, day)
          AS rn,
        count(*) OVER (PARTITION BY station) AS n
      FROM falls
    )
    SELECT station, CAST(max(n) AS BIGINT) AS n_recessions,
      max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN ratio END)
        AS k_median,
      min(ratio) AS k_steepest
    FROM rankedr GROUP BY station
    """


# Prefix-dimension recall: both rankings share the fold dot, round-4
# cosines, and the (cos desc, id asc) tie-break; zero-norm vectors
# excluded on both faces; recall is an exact-integer division.
LLM_ORACLES["ann_prefix_dim_recall"] = """
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
        (embedding::DOUBLE[])[1:len(embedding) // 2] AS h
      FROM embeddings
    ), n AS (
      SELECT vec_id, v, h,
        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
        sqrt(list_sum(list_transform(h, x -> x * x))) AS hnrm
      FROM e
    ), nz AS (
      SELECT * FROM n WHERE nrm > 0 AND hnrm > 0
    ), q AS (
      SELECT vec_id AS query_id, v AS qv, h AS qh, nrm AS qn,
        hnrm AS qhn
      FROM nz WHERE vec_id % 50 = 0
    ), scored AS (
      SELECT q.query_id, nz.vec_id AS neighbor_id,
        round(list_sum(list_transform(range(len(nz.v)),
                i -> nz.v[i + 1] * q.qv[i + 1])) / (nz.nrm * q.qn), 4)
          AS cf,
        round(list_sum(list_transform(range(len(nz.h)),
                i -> nz.h[i + 1] * q.qh[i + 1])) / (nz.hnrm * q.qhn), 4)
          AS ch
      FROM nz, q WHERE nz.vec_id <> q.query_id
    ), ranked AS (
      SELECT query_id, neighbor_id,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY cf DESC, neighbor_id ASC) AS rf,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY ch DESC, neighbor_id ASC) AS rh
      FROM scored
    ), full10 AS (
      SELECT query_id, neighbor_id FROM ranked WHERE rf <= 10
    ), half10 AS (
      SELECT query_id, neighbor_id FROM ranked WHERE rh <= 10
    )
    SELECT f.query_id,
      CAST(sum(CASE WHEN h.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_overlap,
      CAST(sum(CASE WHEN h.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
           AS DOUBLE) / 10.0 AS recall_at_10
    FROM full10 f LEFT JOIN half10 h
      ON f.query_id = h.query_id AND f.neighbor_id = h.neighbor_id
    GROUP BY f.query_id
    """


# OOV rate vs the corpus's own top-1000 vocabulary: exact occurrence
# integers, (count desc, token asc) vocabulary cut, one division.
LLM_ORACLES["docs_oov_rate"] = _TOK_CTE + """
    , occ AS (
      SELECT lang, source, lower(unnest(toks)) AS tok FROM tok
    ), vc AS (
      SELECT tok, count(*) AS c FROM occ GROUP BY 1
    ), vocab AS (
      SELECT tok FROM vc ORDER BY c DESC, tok LIMIT 1000
    )
    SELECT o.lang, o.source,
      CAST(count(*) AS BIGINT) AS n_tokens,
      CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_oov,
      CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(count(*) AS DOUBLE) AS oov_rate
    FROM occ o LEFT JOIN vocab v USING (tok)
    GROUP BY 1, 2
    """


# Bloom runtime-filter scorecard: the docs_bloom_decontaminate md5
# double-hash filter rebuilt bit-for-bit over urgent order keys, then
# exact integer pass/FP counts and one division.
RELATIONAL_ORACLES["lineitem_bloom_semijoin_prune"] = """
    WITH keys AS (
      SELECT o_orderkey AS key FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ), kh AS (
      SELECT key,
        list_reduce(list_transform(range(1, 16),
          i -> strpos('0123456789abcdef',
                      substr(md5(key::VARCHAR), i, 1)) - 1),
          (acc, d) -> acc * 16 + d)::BIGINT AS h1,
        list_reduce(list_transform(range(17, 32),
          i -> strpos('0123456789abcdef',
                      substr(md5(key::VARCHAR), i, 1)) - 1),
          (acc, d) -> acc * 16 + d)::BIGINT AS h2
      FROM keys
    ), positions AS (
      SELECT DISTINCT (h1 + j * h2) % 65536 AS pos
      FROM kh CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
    ), lh AS (
      SELECT l_orderkey,
        list_reduce(list_transform(range(1, 16),
          i -> strpos('0123456789abcdef',
                      substr(md5(l_orderkey::VARCHAR), i, 1)) - 1),
          (acc, d) -> acc * 16 + d)::BIGINT AS h1,
        list_reduce(list_transform(range(17, 32),
          i -> strpos('0123456789abcdef',
                      substr(md5(l_orderkey::VARCHAR), i, 1)) - 1),
          (acc, d) -> acc * 16 + d)::BIGINT AS h2
      FROM lineitem
    ), scored AS (
      SELECT lh.l_orderkey,
        CASE WHEN (lh.h1 + 0 * lh.h2) % 65536 IN (SELECT pos FROM positions)
              AND (lh.h1 + 1 * lh.h2) % 65536 IN (SELECT pos FROM positions)
              AND (lh.h1 + 2 * lh.h2) % 65536 IN (SELECT pos FROM positions)
             THEN 1 ELSE 0 END AS bh,
        CASE WHEN lh.l_orderkey IN (SELECT key FROM keys)
             THEN 1 ELSE 0 END AS em
      FROM lh
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM keys) AS n_dim_keys,
      CAST(count(*) AS BIGINT) AS n_probe_rows,
      CAST(sum(bh) AS BIGINT) AS n_bloom_pass,
      CAST(sum(em) AS BIGINT) AS n_exact,
      CAST(sum(CASE WHEN bh = 1 AND em = 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_false_pos,
      CASE WHEN count(*) - sum(em) > 0 THEN
        CAST(sum(CASE WHEN bh = 1 AND em = 0 THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(count(*) - sum(em) AS DOUBLE)
      END AS fp_rate
    FROM scored
    """


# Shared daily-cents substrate for the r10 hydro QA pair (a NAMED
# constant, not string surgery — the ccnet-oracle lesson): classified
# chain -> per-(station, day) integer-cent volumes.
_DAILY_CENTS_CTE = HYDRO_CTE + """
    , dmx AS (
      SELECT wlobscd AS station, substr(ymdhm, 1, 8) AS day,
        CAST(round(water_level * 100) AS BIGINT) AS cents
      FROM classified
      WHERE water_level IS NOT NULL AND length(ymdhm) = 12
    ), sdx AS (
      SELECT station, day, sum(cents) AS s_cents FROM dmx GROUP BY 1, 2
    )
"""


# Pettitt via the doubled-midrank identity U_t = W_t - t(n+1): exact
# integers end to end; argmax by (|U| desc, day asc) row_number.
HYDRO_ORACLES["hydro_pettitt_changepoint"] = _DAILY_CENTS_CTE + """
    , rk AS (
      SELECT station, day,
        2 * rank() OVER (PARTITION BY station ORDER BY s_cents)
          + count(*) OVER (PARTITION BY station, s_cents) - 1 AS r2,
        count(*) OVER (PARTITION BY station) AS n
      FROM sdx
    ), u AS (
      SELECT station, day, n,
        row_number() OVER (PARTITION BY station ORDER BY day) AS t,
        sum(r2) OVER (PARTITION BY station ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - row_number() OVER (PARTITION BY station ORDER BY day)
            * (n + 1) AS u_t
      FROM rk
    ), cand AS (
      SELECT * FROM u WHERE t < n
    ), pick AS (
      SELECT station, n, day, u_t,
        row_number() OVER (PARTITION BY station
                           ORDER BY abs(u_t) DESC, day ASC) AS rn
      FROM cand
    )
    SELECT station, CAST(n AS BIGINT) AS n_days,
      CAST(abs(u_t) AS BIGINT) AS k_stat,
      CAST(u_t AS BIGINT) AS u_at_k,
      day AS cp_day
    FROM pick WHERE rn = 1
    """


# Cross-correlation: exact sufficient statistics (HUGEINT product
# sums mirror Spark's DECIMAL(38,0)), then the identical fixed-order
# num/sqrt(dx*dy) double chain; zero-variance arms yield NULL.
HYDRO_ORACLES["hydro_station_crosscorr"] = _DAILY_CENTS_CTE + """
    , sdd AS (
      SELECT station, CAST(strptime(day, '%Y%m%d') AS DATE) AS dt,
        s_cents
      FROM sdx
    ), al AS (
      SELECT station AS station_a, dt AS dt_a, s_cents AS va, l.lag
      FROM sdd CROSS JOIN (VALUES (-1), (0), (1)) AS l(lag)
    ), ccj AS (
      SELECT a.station_a, b.station AS station_b, a.lag,
        a.va, b.s_cents AS vb
      FROM al a JOIN sdd b
        ON a.dt_a + a.lag = b.dt AND a.station_a < b.station
    ), ccs AS (
      SELECT station_a, station_b, lag, count(*) AS n,
        sum(va) AS sx, sum(vb) AS sy,
        sum(CAST(va AS HUGEINT) * vb) AS sxy,
        sum(CAST(va AS HUGEINT) * va) AS sxx,
        sum(CAST(vb AS HUGEINT) * vb) AS syy
      FROM ccj GROUP BY 1, 2, 3 HAVING count(*) >= 25
    ), ccd AS (
      SELECT station_a, station_b, lag, n,
        CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
        CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dx,
        CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dy
      FROM ccs
    )
    SELECT station_a, station_b, CAST(lag AS INTEGER) AS lag,
      CAST(n AS BIGINT) AS n_days,
      CASE WHEN dx > 0 AND dy > 0
        THEN CAST(num AS DOUBLE)
             / sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE))
      END AS r
    FROM ccd
    """


# Mann-Kendall: integer sign sum over the bounded monthly frame;
# tau is one exact-integer double division; var18 = 18*Var(S) stays
# integer so the tie bookkeeping is certified without sqrt.
RELATIONAL_ORACLES["orders_mann_kendall"] = """
    -- int->double ceilings audited r14: n_months^2 <= 6.4e3
    WITH monthly AS (
      SELECT o_orderpriority,
        (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS m,
        sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS v
      FROM orders GROUP BY 1, 2
    ), pr AS (
      SELECT a.o_orderpriority AS p,
        CASE WHEN b.v > a.v THEN 1
             WHEN b.v < a.v THEN -1 ELSE 0 END AS sg
      FROM monthly a JOIN monthly b
        ON a.o_orderpriority = b.o_orderpriority AND a.m < b.m
    ), s AS (
      SELECT p, CAST(sum(sg) AS BIGINT) AS s_stat FROM pr GROUP BY 1
    ), tie AS (
      SELECT o_orderpriority AS p,
        CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18,
        CAST(sum(t) AS BIGINT) AS n_months
      FROM (
        SELECT o_orderpriority, v, count(*) AS t
        FROM monthly GROUP BY 1, 2
      ) GROUP BY 1
    )
    SELECT s.p AS o_orderpriority, tie.n_months, s.s_stat,
      CAST(s.s_stat AS DOUBLE)
        / (CAST(tie.n_months * (tie.n_months - 1) /* int<2^53 */ AS DOUBLE) / 2) AS tau,
      CAST(tie.n_months * (tie.n_months - 1) * (2 * tie.n_months + 5)
           - tie.tie18 AS BIGINT) AS var18
    FROM s JOIN tie ON s.p = tie.p
    """


# Spearman per nation on doubled midranks: exact-integer sufficient
# statistics (HUGEINT ≡ Spark DECIMAL(38,0)); rho = the identical
# num/sqrt(dx*dy) fixed-order double chain.
RELATIONAL_ORACLES["customer_spearman_balance_value"] = """
    WITH spend AS (
      SELECT o_custkey,
        sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_cents
      FROM orders GROUP BY 1
    ), base AS (
      SELECT n.n_name AS nation,
        CAST(round(c.c_acctbal * 100) AS BIGINT) AS x,
        s.spend_cents AS y
      FROM customer c
      JOIN spend s ON c.c_custkey = s.o_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    ), rk AS (
      SELECT nation,
        2 * rank() OVER (PARTITION BY nation ORDER BY x)
          + count(*) OVER (PARTITION BY nation, x) - 1 AS u,
        2 * rank() OVER (PARTITION BY nation ORDER BY y)
          + count(*) OVER (PARTITION BY nation, y) - 1 AS w
      FROM base
    ), st AS (
      SELECT nation, count(*) AS n, sum(u) AS su, sum(w) AS sw,
        sum(CAST(u AS HUGEINT) * w) AS suw,
        sum(CAST(u AS HUGEINT) * u) AS suu,
        sum(CAST(w AS HUGEINT) * w) AS sww
      FROM rk GROUP BY 1
    ), d AS (
      SELECT nation, n,
        CAST(n AS HUGEINT) * suw - CAST(su AS HUGEINT) * sw AS num,
        CAST(n AS HUGEINT) * suu - CAST(su AS HUGEINT) * su AS dx,
        CAST(n AS HUGEINT) * sww - CAST(sw AS HUGEINT) * sw AS dy
      FROM st
    )
    SELECT nation, CAST(n AS BIGINT) AS n_customers,
      CASE WHEN dx > 0 AND dy > 0
        THEN CAST(num AS DOUBLE)
             / sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE))
      END AS rho
    FROM d
    """


# l-diversity over the k-anonymity QI cells: exact distinct-user
# counts per cell, integer rollup, one raw double division.
RELATIONAL_ORACLES["events_l_diversity"] = """
    WITH ucell AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
        CAST(floor(coalesce(value, -1.0) / 10) AS BIGINT) AS value_band,
        coalesce(user_id, -1) AS uid, count(*) AS n
      FROM events GROUP BY 1, 2, 3, 4
    ), qi AS (
      SELECT event_type, day, value_band,
        count(*) AS l, sum(n) AS n
      FROM ucell GROUP BY 1, 2, 3
    )
    SELECT event_type,
      CAST(count(*) AS BIGINT) AS n_cells,
      CAST(sum(n) AS BIGINT) AS n_rows,
      CAST(min(l) AS BIGINT) AS min_l,
      CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
        AS cells_below_3,
      CAST(sum(CASE WHEN l < 3 THEN n ELSE 0 END) AS BIGINT)
        AS rows_below_3,
      CAST(sum(CASE WHEN l < 3 THEN n ELSE 0 END) AS DOUBLE)
        / CAST(sum(n) AS DOUBLE) AS at_risk_share
    FROM qi GROUP BY 1
    """


# sqrt-temperature (alpha=0.5) largest-remainder budget apportionment:
# order-pinned weight-total fold (lang order, plain a+x — the allowed
# list_reduce shape), identical-double quotas/floors/remainder ranks.
LLM_ORACLES["docs_sqrt_temperature_mix"] = _TOK_CTE + """
    , per AS (
      SELECT lang, CAST(sum(len(toks)) AS BIGINT) AS n_tokens
      FROM tok GROUP BY 1
    ), wl AS (
      SELECT lang, n_tokens,
        sqrt(CAST(n_tokens AS DOUBLE)) AS w
      FROM per
    ), tw AS (
      SELECT list_reduce(
        list_prepend(CAST(0.0 AS DOUBLE), list(w ORDER BY lang)),
        (a, x) -> a + x) AS tw
      FROM wl
    ), qf AS (
      SELECT lang, n_tokens, w,
        100000.0 * w / tw.tw AS q
      FROM wl CROSS JOIN tw
    ), based AS (
      SELECT lang, n_tokens, w,
        CAST(floor(q) AS BIGINT) AS base, q - floor(q) AS rem
      FROM qf
    ), bs AS (
      SELECT CAST(sum(base) AS BIGINT) AS base_sum FROM based
    ), rk AS (
      SELECT lang, n_tokens, w, base, rem,
        row_number() OVER (ORDER BY rem DESC, lang ASC) AS rk
      FROM based
    ), alloc AS (
      SELECT lang, n_tokens, w AS weight,
        CAST(base + CASE WHEN rk <= 100000 - bs.base_sum
                         THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
      FROM rk CROSS JOIN bs
    )
    SELECT lang, n_tokens, weight, alloc_tokens,
      CAST(alloc_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        AS sampling_rate
    FROM alloc
    """


# Shard-centroid drift: integer-nano exact component sums (HUGEINT ≡
# Spark DECIMAL(38,0)), double-division centroids, then three
# order-pinned plain a+x folds over dim order and the identical
# dot/(sqrt(na)*sqrt(nb)) final chain.
LLM_ORACLES["embedding_shard_centroid_drift"] = """
    WITH comp AS (
      -- two same-length unnests zip in DuckDB (no WITH ORDINALITY):
      -- 0-based dim matches Spark's posexplode
      SELECT label, vec_id % 4 AS shard,
        unnest(range(len(embedding))) AS dim,
        unnest(list_transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE) * 1e9) AS BIGINT))) AS nanos
      FROM embeddings
    ), per_shard AS (
      SELECT label, shard, dim,
        sum(CAST(nanos AS HUGEINT)) AS s_nanos, count(*) AS n
      FROM comp GROUP BY 1, 2, 3
    ), per_label AS (
      SELECT label, dim, sum(s_nanos) AS t_nanos, sum(n) AS tn
      FROM per_shard GROUP BY 1, 2
    ), joined AS (
      SELECT s.label, s.shard, s.dim, s.n,
        CAST(s.s_nanos AS DOUBLE) / CAST(s.n AS DOUBLE) AS cs,
        CAST(l.t_nanos AS DOUBLE) / CAST(l.tn AS DOUBLE) AS cl
      FROM per_shard s JOIN per_label l
        ON s.label = l.label AND s.dim = l.dim
    ), packed AS (
      SELECT label, shard, CAST(max(n) AS BIGINT) AS n_vecs,
        list(cs * cl ORDER BY dim) AS dots,
        list(cs * cs ORDER BY dim) AS nas,
        list(cl * cl ORDER BY dim) AS nbs
      FROM joined GROUP BY 1, 2
    ), scored AS (
      SELECT label, shard, n_vecs,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE), dots),
                    (a, x) -> a + x) AS dot,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE), nas),
                    (a, x) -> a + x) AS na,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE), nbs),
                    (a, x) -> a + x) AS nb
      FROM packed
    )
    SELECT label, CAST(shard AS BIGINT) AS shard, n_vecs,
      CASE WHEN na > 0 AND nb > 0
        THEN dot / (sqrt(na) * sqrt(nb))
      END AS cos_drift
    FROM scored
    """


# Rolling rise: integer-cent RANGE-frame subtractions on the exact
# epoch-minute key; frames depend only on minute VALUES so peer order
# is irrelevant on both engines.
HYDRO_ORACLES["hydro_rolling_rise"] = HYDRO_CTE + """
    , rb AS (
      SELECT wlobscd AS station,
        CAST(epoch_us(try_strptime(obs_time_str, '%Y-%m-%d %H:%M'))
             / 60000000 AS BIGINT) AS m,
        CAST(round(water_level * 100) AS BIGINT) AS cents
      FROM classified
      WHERE water_level IS NOT NULL
        AND try_strptime(obs_time_str, '%Y-%m-%d %H:%M') IS NOT NULL
    ), risen AS (
      SELECT station,
        cents - min(cents) OVER (PARTITION BY station ORDER BY m
          RANGE BETWEEN 60 PRECEDING AND CURRENT ROW) AS r60,
        cents - min(cents) OVER (PARTITION BY station ORDER BY m
          RANGE BETWEEN 180 PRECEDING AND CURRENT ROW) AS r180,
        cents - min(cents) OVER (PARTITION BY station ORDER BY m
          RANGE BETWEEN 360 PRECEDING AND CURRENT ROW) AS r360
      FROM rb
    )
    SELECT station, CAST(count(*) AS BIGINT) AS n_obs,
      CAST(max(r60) AS BIGINT) AS max_rise_1h,
      CAST(max(r180) AS BIGINT) AS max_rise_3h,
      CAST(max(r360) AS BIGINT) AS max_rise_6h
    FROM risen GROUP BY 1
    """


# dHash near-dup buckets: the identical 8x8 grid offsets
# (floor(i*n/64.0)), gradient bits, and the plain acc*2+b scalar fold
# (the md5-slice fold shape) over the byte face.
LLM_ORACLES["multimodal_dhash_dups"] = _UTF8_BYTES_CTE + """
    , grid AS (
      SELECT doc_id, n,
        list_transform(range(0, 64),
          i -> bytes[CAST(floor(i * n / 64.0) AS INT) + 1]) AS g
      FROM chars WHERE n > 0
    ), hashed AS (
      SELECT doc_id, n,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(0, 56), k ->
            CASE WHEN g[CAST(floor(k / 7.0) AS INT) * 8 + (k % 7) + 1]
                      < g[CAST(floor(k / 7.0) AS INT) * 8 + (k % 7) + 2]
                 THEN 1 ELSE 0 END)),
          (acc, b) -> acc * 2 + b) AS dhash
      FROM grid
    )
    SELECT dhash, CAST(count(*) AS BIGINT) AS n_docs,
      count(*) >= 2 AS is_dup,
      min(doc_id) AS keep_doc_id,
      CAST(sum(n) AS BIGINT) AS total_bytes
    FROM hashed GROUP BY 1
    ORDER BY n_docs DESC, dhash ASC LIMIT 20
    """


# ---------------------------------------------------------------------------
# r11 additions
# ---------------------------------------------------------------------------

# Trimmed mean: integer cents, ROW_NUMBER cut under (cents, event_id)
# total order, HUGEINT sum, fixed sum/n/100 chain.
RELATIONAL_ORACLES["events_trimmed_mean"] = """
    WITH base AS (
      SELECT event_type, event_id,
        CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ), n AS (
      SELECT event_type, count(*) AS n FROM base GROUP BY 1
    ), r AS (
      SELECT event_type, c,
        row_number() OVER (PARTITION BY event_type ORDER BY c, event_id)
          AS rnk
      FROM base
    ), kept AS (
      SELECT r.event_type, c, n.n
      FROM r JOIN n USING (event_type)
      WHERE rnk > CAST(floor(n / 10.0) AS BIGINT)
        AND rnk <= n - CAST(floor(n / 10.0) AS BIGINT)
    )
    SELECT event_type,
      CAST(max(n) AS BIGINT) AS n,
      CAST(max(n) - count(*) AS BIGINT) AS n_trimmed,
      CAST(min(c) AS BIGINT) AS lo_cents,
      CAST(max(c) AS BIGINT) AS hi_cents,
      CAST(sum(CAST(c AS HUGEINT)) AS DOUBLE)
        / CAST(count(*) AS DOUBLE) / 100.0 AS trimmed_mean
    FROM kept GROUP BY 1
    """

# Running records: inclusive window max over (ts, event_id) order;
# records counted as DISTINCT c where c equals the running max
# (record values strictly increase, ties repeat a counted value).
RELATIONAL_ORACLES["events_running_records"] = """
    WITH base AS (
      SELECT event_type, event_id, ts,
        CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ), r AS (
      SELECT event_type, c,
        max(c) OVER (PARTITION BY event_type ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rm,
        row_number() OVER (PARTITION BY event_type
          ORDER BY ts, event_id) AS rnk
      FROM base
    )
    SELECT event_type,
      CAST(count(*) AS BIGINT) AS n,
      CAST(count(DISTINCT CASE WHEN c = rm THEN c END) AS BIGINT)
        AS n_records,
      CAST(max(c) AS BIGINT) AS max_cents,
      CAST(arg_min(c, rnk) AS BIGINT) AS first_cents,
      CAST(count(DISTINCT CASE WHEN c = rm THEN c END) AS DOUBLE)
        / CAST(count(*) AS DOUBLE) AS record_rate
    FROM r GROUP BY 1
    """

# Per-source token KL vs corpus: fixed-order per-token term, sorted
# fold (the docs_token_entropy precedent), round 4 at the boundary.
LLM_ORACLES["docs_source_kl_divergence"] = _TOK_CTE + """
    , st AS (
      SELECT source, tok, count(*) AS c_s FROM (
        SELECT source, unnest(toks) AS tok FROM tok)
      GROUP BY source, tok
    ), tot_t AS (
      SELECT tok, sum(c_s) AS c_all FROM st GROUP BY tok
    ), tot_s AS (
      SELECT source, sum(c_s) AS n_s FROM st GROUP BY source
    ), tot AS (
      SELECT sum(c_s) AS n_all FROM st
    ), terms AS (
      SELECT st.source, tot_s.n_s,
        (CAST(st.c_s AS DOUBLE) / CAST(tot_s.n_s AS DOUBLE))
          * ln((CAST(st.c_s AS DOUBLE) / CAST(tot_s.n_s AS DOUBLE))
               / (CAST(tot_t.c_all AS DOUBLE) / CAST(tot.n_all AS DOUBLE)))
          AS term
      FROM st JOIN tot_t USING (tok)
        JOIN tot_s USING (source) CROSS JOIN tot
    )
    SELECT source,
      CAST(max(n_s) AS BIGINT) AS n_tokens,
      CAST(count(*) AS BIGINT) AS vocab,
      round(list_reduce(list_prepend(0.0, list_sort(list(term))),
        (acc, t) -> acc + t), 4) AS kl_nats
    FROM terms GROUP BY source
    """

# Drought spells: per-station daily-min cents, exact k-th order
# statistic threshold (k = ceil(0.2 n)), calendar gaps-and-islands,
# integer cent-day deficits, row_number longest-spell pick.
HYDRO_ORACLES["hydro_drought_runs"] = HYDRO_CTE + """
    , dmn AS (
      SELECT wlobscd AS station, substr(ymdhm, 1, 8) AS day,
        min(CAST(round(water_level * 100) AS BIGINT)) AS mn
      FROM classified
      WHERE water_level IS NOT NULL AND length(ymdhm) = 12
      GROUP BY 1, 2
    ), rk AS (
      SELECT station, day, mn,
        row_number() OVER (PARTITION BY station ORDER BY mn, day) AS rnk,
        count(*) OVER (PARTITION BY station) AS n_days
      FROM dmn
    ), thr AS (
      SELECT station, mn AS thr, n_days FROM rk
      WHERE rnk = CAST(ceil(0.2 * n_days) AS BIGINT)
    ), below AS (
      SELECT d.station, d.day, t.n_days, t.thr,
        t.thr - d.mn AS deficit,
        CAST(date_diff('day', DATE '1970-01-01',
               try_strptime(d.day, '%Y%m%d')) AS BIGINT)
          - row_number() OVER (PARTITION BY d.station ORDER BY d.day)
          AS island
      FROM dmn d JOIN thr t ON d.station = t.station
      WHERE d.mn <= t.thr
    ), runs AS (
      SELECT station, island, max(n_days) AS n_days, max(thr) AS thr,
        count(*) AS len, sum(deficit) AS ev_deficit,
        min(day) AS start_day
      FROM below GROUP BY 1, 2
    ), pick AS (
      SELECT *, row_number() OVER (PARTITION BY station
          ORDER BY len DESC, start_day ASC) AS rn
      FROM runs
    )
    SELECT station,
      CAST(max(n_days) AS BIGINT) AS n_days,
      CAST(max(thr) AS BIGINT) AS thr_cents,
      CAST(count(*) AS BIGINT) AS n_droughts,
      CAST(sum(len) AS BIGINT) AS drought_days,
      CAST(max(len) AS BIGINT) AS max_run_days,
      CAST(sum(ev_deficit) AS BIGINT) AS total_deficit_cents,
      CAST(max(ev_deficit) AS BIGINT) AS max_event_deficit_cents,
      min(CASE WHEN rn = 1 THEN start_day END) AS longest_start_day
    FROM pick GROUP BY station
    """

# Reliability diagram: z-fold deciles via shared ln-odds literals
# (no exp/ln at bucketing), Gopher label incl. its round-4 boundary
# comparisons, exact-integer rate division.
LLM_ORACLES["docs_quality_calibration"] = _MODEL_Z_CTE + """
    , gshape AS (
      SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_toks_g,
        round(CAST(list_aggregate(list_transform(toks, x -> length(x)),
                   'sum') AS DOUBLE) / len(toks), 4) AS mean_wlen,
        round(CAST(len(list_filter(toks, x -> length(x) <= 2)) AS DOUBLE)
              / len(toks), 4) AS frac_short
      FROM tok
    ), gtop AS (
      SELECT doc_id, max(c) AS top_cnt FROM (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS tok FROM tok)
        GROUP BY doc_id, tok
      ) GROUP BY doc_id
    ), label AS (
      SELECT s.doc_id,
        (s.n_toks_g >= 30 AND s.mean_wlen BETWEEN 2.5 AND 10.0
         AND s.frac_short <= 0.3
         AND CAST(t.top_cnt AS DOUBLE) / s.n_toks_g <= 0.2)
          AS gopher_keep
      FROM gshape s JOIN gtop t ON s.doc_id = t.doc_id
    ), bucketed AS (
      SELECT CAST(len(list_filter([
          -2.1972245773362196, -1.3862943611198906, -0.8472978603872034,
          -0.4054651081081645, 0.0, 0.4054651081081645,
          0.8472978603872034, 1.3862943611198906, 2.1972245773362196
        ], c -> z.zz >= c)) AS INTEGER) AS prob_decile,
        l.gopher_keep
      FROM z JOIN label l ON z.doc_id = l.doc_id
    )
    SELECT prob_decile,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(CASE WHEN gopher_keep THEN 1 ELSE 0 END) AS BIGINT)
        AS n_gopher_keep,
      CAST(sum(CASE WHEN gopher_keep THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(count(*) AS DOUBLE) AS gopher_keep_rate
    FROM bucketed GROUP BY 1
    """

# Duplicate-invoice screen: custkey-blocked pairs, integer score,
# deterministic top-20 under (score, k1, k2).
RELATIONAL_ORACLES["orders_duplicate_invoices"] = """
    WITH b AS (
      SELECT o_custkey AS custkey, o_orderkey AS k,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        CAST(o_orderdate AS DATE) AS d
      FROM orders
    ), pairs AS (
      SELECT a.custkey, a.k AS k1, b2.k AS k2,
        abs(a.cents - b2.cents) AS cents_diff,
        CAST(abs(date_diff('day', b2.d, a.d)) AS BIGINT) AS day_gap
      FROM b a JOIN b b2
        ON a.custkey = b2.custkey AND a.k < b2.k
    )
    SELECT custkey, k1, k2, cents_diff, day_gap,
      cents_diff + 100 * day_gap AS score
    FROM pairs
    ORDER BY score, k1, k2 LIMIT 20
    """

# SimHash bit balance: the simhash_probe fingerprint CTE + integer
# bit extraction, exact-integer share division.
LLM_ORACLES["simhash_bit_balance"] = r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), hv AS (
      SELECT doc_id,
        list_reduce(
          list_transform(range(1, 16),
            i -> strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1),
          (acc, d) -> acc * 16 + d)::BIGINT AS h
      FROM (SELECT doc_id, unnest(toks) AS t FROM tok)
    ), votes AS (
      SELECT doc_id, j,
        sum(2 * ((h // (1::BIGINT << j)) % 2) - 1) AS votes
      FROM hv, unnest(range(0, 60)) AS u(j)
      GROUP BY doc_id, j
    ), sigs AS (
      SELECT doc_id,
        CAST(sum(CASE WHEN votes > 0 THEN (1::BIGINT << j) ELSE 0 END)
             AS BIGINT) AS sh
      FROM votes GROUP BY doc_id
    ), bits AS (
      SELECT j AS bit, (sh // (1::BIGINT << j)) % 2 AS bset
      FROM sigs, unnest(range(0, 60)) AS u(j)
    )
    SELECT CAST(bit AS INTEGER) AS bit,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(bset) AS BIGINT) AS n_set,
      CAST(sum(bset) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS set_share
    FROM bits GROUP BY 1
    """

# IVF occupancy: the shared exact cells CTE, per-cell counts, and
# the k*sum(s^2)/(sum s)^2 imbalance chain over exact longs.
LLM_ORACLES["ann_centroid_occupancy"] = (
    _ivf_cells_cte()
    + """
    -- int->double ceilings audited r14: n_total^2 = 4e6 at sf0.1
    , sizes AS (
      SELECT cell, count(*) AS s FROM scored GROUP BY cell
    ), tot AS (
      SELECT sum(s) AS n_total, sum(s * s) AS ss, count(*) AS k_cells
      FROM sizes
    )
    SELECT CAST(cell AS INTEGER) AS cell,
      CAST(s AS BIGINT) AS n_vecs,
      CAST(s AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
      CAST(k_cells * ss /* int<2^53 */ AS DOUBLE)
        / CAST(n_total * n_total /* int<2^53 */ AS DOUBLE) AS imbalance_factor
    FROM sizes CROSS JOIN tot
    """
)

# Shard-cell drift: shared IVF cells CTE + per-shard occupancy TV
# against the global cell distribution (nano-quantized exact sums).
LLM_ORACLES["embedding_shard_cell_drift"] = (
    _ivf_cells_cte()
    + """
    , sc AS (
      SELECT vec_id % 4 AS shard, cell FROM scored
    ), cs AS (
      SELECT shard, cell, count(*) AS s FROM sc GROUP BY 1, 2
    ), gl AS (
      SELECT cell, sum(s) AS g FROM cs GROUP BY 1
    ), ns AS (
      SELECT shard, sum(s) AS n_s FROM cs GROUP BY 1
    ), ntot AS (
      SELECT sum(s) AS n FROM cs
    ), grid AS (
      SELECT ns.shard, gl.cell, coalesce(cs.s, 0) AS s, gl.g, ns.n_s
      FROM ns CROSS JOIN gl
      LEFT JOIN cs ON cs.shard = ns.shard AND cs.cell = gl.cell
    ), terms AS (
      SELECT shard, n_s,
        CAST(floor(abs(CAST(s AS DOUBLE) / CAST(n_s AS DOUBLE)
          - CAST(g AS DOUBLE)
            / CAST((SELECT n FROM ntot) AS DOUBLE)) * 1000000000.0)
          AS BIGINT) AS q
      FROM grid
    )
    SELECT CAST(shard AS INTEGER) AS shard,
      CAST(max(n_s) AS BIGINT) AS n_vecs,
      CAST(sum(q) AS DOUBLE) / 2000000000.0 AS tv_vs_global
    FROM terms GROUP BY shard
    """
)

# Norm-quality Pearson: nano-floored norm energy x, tenth-rounded
# quality y, DECIMAL/HUGEINT sufficient sums converted via the hi/lo
# 2^40 split (sxx reaches ~8e23), Pearson algebra in double space.
LLM_ORACLES["embedding_norm_quality_corr"] = _TOK_CTE + """
    , x AS (
      SELECT vec_id AS doc_id,
        list_reduce(list_prepend(0::BIGINT,
          list_transform(embedding,
            v -> CAST(floor(v::DOUBLE * v::DOUBLE * 1000000000.0)
                      AS BIGINT))),
          (acc, t) -> acc + t) AS x
      FROM embeddings
    ), stats AS (
      SELECT doc_id,
        len(toks) AS n_tokens,
        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        CAST(len(list_filter(toks,
          t -> t IN ('the','a','of','and','data'))) AS DOUBLE)
          / len(toks) AS stopword_ratio
      FROM tok
    ), y AS (
      SELECT s.doc_id, d.source,
        CAST(round((
          CASE WHEN n_tokens >= 20 AND n_tokens <= 1000
               THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
          + CASE WHEN ttr >= 0.3 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END
          + CASE WHEN stopword_ratio >= 0.01 AND stopword_ratio <= 0.5
                 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END) * 10)
          AS BIGINT) AS y
      FROM stats s JOIN documents d USING (doc_id)
    ), agg AS (
      SELECT source, count(*) AS n,
        sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
        sum(x::HUGEINT * y) AS sxy,
        sum(x::HUGEINT * x) AS sxx,
        sum(y::HUGEINT * y) AS syy
      FROM x JOIN y USING (doc_id)
      GROUP BY source
    ), d AS (
      SELECT source,
        CAST(n AS DOUBLE) AS n_d,
        CAST(sx AS DOUBLE) AS sx_d,
        CAST(sy AS DOUBLE) AS sy_d,
        CAST(sxy // 1099511627776 AS DOUBLE) * 1099511627776.0
        + CAST(sxy % 1099511627776 AS DOUBLE) AS sxy_d,
        CAST(sxx // 1099511627776 AS DOUBLE) * 1099511627776.0
        + CAST(sxx % 1099511627776 AS DOUBLE) AS sxx_d,
        CAST(syy AS DOUBLE) AS syy_d,
        n AS n_raw
      FROM agg
    )
    SELECT source, CAST(n_raw AS BIGINT) AS n_docs,
      CASE WHEN (n_d * sxx_d - sx_d * sx_d) > 0
             AND (n_d * syy_d - sy_d * sy_d) > 0 THEN
        (n_d * sxy_d - sx_d * sy_d)
          / sqrt((n_d * sxx_d - sx_d * sx_d)
                 * (n_d * syy_d - sy_d * sy_d))
      END AS norm_quality_r
    FROM d
    """

# Packing waste: exact integer chunk/pad arithmetic, one scan over
# the 4-length literal grid.
LLM_ORACLES["docs_packing_waste"] = _TOK_CTE + """
    -- int->double ceilings audited r14: token sums <= 3e6 at sf0.1
    , lens AS (
      SELECT len(toks) AS n FROM tok WHERE len(toks) > 0
    ), grid AS (
      SELECT n, seq_len,
        CAST(ceil(n / CAST(seq_len AS DOUBLE)) AS BIGINT) AS chunks
      FROM lens, unnest([256, 512, 1024, 2048]) AS u(seq_len)
    )
    SELECT CAST(seq_len AS INTEGER) AS seq_len,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n) AS BIGINT) AS total_tokens,
      CAST(sum(chunks) AS BIGINT) AS total_chunks,
      CAST(sum(chunks * seq_len - n) AS BIGINT) AS total_pad,
      CAST(sum(chunks * seq_len - n) /* int<2^53 */ AS DOUBLE)
        / CAST(sum(n) + sum(chunks * seq_len - n) /* int<2^53 */ AS DOUBLE) AS pad_share
    FROM grid GROUP BY 1
    """

# PSI: exact decile edges (order statistics under (value, event_id)),
# integer midpoint day split, +1 Laplace smoothing over the 10-bucket
# grid, sorted-term fold, round 4.
RELATIONAL_ORACLES["events_psi_by_type"] = """
    WITH base AS (
      SELECT event_type, event_id, value,
        CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
             AS BIGINT) AS day
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ), tot AS (
      SELECT count(*) AS n_all, min(day) AS dmin, max(day) AS dmax
      FROM base
    ), r AS (
      SELECT value,
        row_number() OVER (ORDER BY value, event_id) AS rnk
      FROM base
    ), cuts AS (
      SELECT (n_all * i - 1) // 10 + 1 AS cut
      FROM tot, unnest(range(1, 10)) AS t(i)
    ), edges AS (
      SELECT list(value ORDER BY rnk) AS es
      FROM r WHERE rnk IN (SELECT cut FROM cuts)
    ), bucketed AS (
      SELECT event_type,
        len(list_filter(e.es, x -> value > x)) AS bucket,
        CASE WHEN day <= CAST(floor((dmin + dmax) / 2.0) AS BIGINT)
             THEN 1 ELSE 0 END AS first_half
      FROM base, edges e, tot
    ), counts AS (
      SELECT event_type, bucket,
        sum(first_half) AS c1, sum(1 - first_half) AS c2
      FROM bucketed GROUP BY 1, 2
    ), grid AS (
      SELECT t.event_type, b.bucket,
        coalesce(c.c1, 0) AS c1, coalesce(c.c2, 0) AS c2
      FROM (SELECT DISTINCT event_type FROM bucketed) t
      CROSS JOIN (SELECT unnest(range(0, 10)) AS bucket) b
      LEFT JOIN counts c
        ON c.event_type = t.event_type AND c.bucket = b.bucket
    ), halves AS (
      SELECT event_type, sum(c1) AS n1, sum(c2) AS n2
      FROM grid GROUP BY 1
    ), terms AS (
      SELECT g.event_type, h.n1, h.n2,
        ((CAST(g.c1 + 1 AS DOUBLE) / CAST(h.n1 + 10 AS DOUBLE))
         - (CAST(g.c2 + 1 AS DOUBLE) / CAST(h.n2 + 10 AS DOUBLE)))
        * ln((CAST(g.c1 + 1 AS DOUBLE) / CAST(h.n1 + 10 AS DOUBLE))
             / (CAST(g.c2 + 1 AS DOUBLE) / CAST(h.n2 + 10 AS DOUBLE)))
          AS term
      FROM grid g JOIN halves h ON g.event_type = h.event_type
    )
    SELECT event_type,
      CAST(max(n1) AS BIGINT) AS n_first,
      CAST(max(n2) AS BIGINT) AS n_second,
      round(list_reduce(list_prepend(0.0, list_sort(list(term))),
        (acc, t) -> acc + t), 4) AS psi
    FROM terms GROUP BY event_type
    """

# Fano factor: exact integer sufficient stats over the calendar day
# range, single (D*s2 - n^2)/(D*n) division.
RELATIONAL_ORACLES["events_kanon_generalization_ladder"] = """
    WITH base AS (
      SELECT event_type, ts, value, lvl
      FROM events, unnest(range(0, 4)) AS u(lvl)
    ), keyed AS (
      SELECT lvl, event_type,
        coalesce(
          CASE WHEN lvl = 0 THEN CAST(CAST(ts AS DATE) AS VARCHAR)
               WHEN lvl = 1 THEN
                 CAST(CAST(date_trunc('week', CAST(ts AS TIMESTAMP))
                           AS DATE) AS VARCHAR)
               ELSE CAST(CAST(date_trunc('month', CAST(ts AS TIMESTAMP))
                              AS DATE) AS VARCHAR) END, '~')
        || '|' ||
        coalesce(
          CASE WHEN lvl = 0 THEN
                 CAST(CAST(floor(coalesce(value, -1.0) / 10) AS BIGINT)
                      AS VARCHAR)
               WHEN lvl = 1 THEN
                 CAST(CAST(floor(coalesce(value, -1.0) / 50) AS BIGINT)
                      AS VARCHAR)
               WHEN lvl = 2 THEN
                 CAST(CAST(floor(coalesce(value, -1.0) / 100) AS BIGINT)
                      AS VARCHAR)
               END, '~') AS qi
      FROM base
    ), cells AS (
      SELECT lvl, event_type, qi, count(*) AS n
      FROM keyed GROUP BY 1, 2, 3
    )
    SELECT CAST(lvl AS INTEGER) AS level, event_type,
      CAST(count(*) AS BIGINT) AS n_groups,
      CAST(sum(n) AS BIGINT) AS n_rows,
      CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_singletons,
      CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        AS rows_at_risk,
      round(CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
            / CAST(sum(n) AS DOUBLE), 4) AS at_risk_share
    FROM cells GROUP BY 1, 2
    """

RELATIONAL_ORACLES["orders_priority_psi_by_segment"] = """
    WITH o AS (
      SELECT o_custkey,
        CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS bucket,
        CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             AS BIGINT) AS day
      FROM orders WHERE o_orderdate IS NOT NULL
    ), tot AS (
      SELECT min(day) AS dmin, max(day) AS dmax FROM o
    ), h AS (
      SELECT o_custkey, bucket,
        CASE WHEN day <= CAST(floor((dmin + dmax) / 2.0) AS BIGINT)
             THEN 1 ELSE 0 END AS first_half
      FROM o, tot
    ), seg AS (
      SELECT c_mktsegment AS s, bucket, first_half
      FROM h JOIN customer ON o_custkey = c_custkey
    ), counts AS (
      SELECT s, bucket,
        sum(first_half) AS c1, sum(1 - first_half) AS c2
      FROM seg GROUP BY 1, 2
      HAVING sum(first_half) + sum(1 - first_half) > 0
    ), grid AS (
      SELECT t.s, b.slot, coalesce(c.c1, 0) AS c1, coalesce(c.c2, 0) AS c2
      FROM (SELECT DISTINCT s FROM counts) t
      CROSS JOIN (SELECT unnest(range(0, 10)) AS slot) b
      LEFT JOIN counts c ON c.s = t.s AND c.bucket = b.slot
    ), halves AS (
      SELECT s, sum(c1) AS n1, sum(c2) AS n2 FROM grid GROUP BY 1
    ), terms AS (
      SELECT g.s, h.n1, h.n2,
        ((CAST(g.c1 + 1 AS DOUBLE) / CAST(h.n1 + 10 AS DOUBLE))
         - (CAST(g.c2 + 1 AS DOUBLE) / CAST(h.n2 + 10 AS DOUBLE)))
        * ln((CAST(g.c1 + 1 AS DOUBLE) / CAST(h.n1 + 10 AS DOUBLE))
             / (CAST(g.c2 + 1 AS DOUBLE) / CAST(h.n2 + 10 AS DOUBLE)))
          AS term
      FROM grid g JOIN halves h ON g.s = h.s
    )
    SELECT s AS mktsegment,
      CAST(max(n1) AS BIGINT) AS n_first,
      CAST(max(n2) AS BIGINT) AS n_second,
      round(list_reduce(list_prepend(0.0, list_sort(list(term))),
        (acc, t) -> acc + t), 4) AS psi
    FROM terms GROUP BY s
    """

# Regularity-band contingency: composes the bot screen's CV2 with
# dyadic band cuts; lift products are <= ~1e10 at sf0.1 (audited
# int->double ceiling, 8e5x headroom under 2^53).
RELATIONAL_ORACLES["events_regularity_type_mix"] = """
    WITH g AS (
      SELECT user_id,
        (epoch_us(ts) - epoch_us(lag(ts) OVER (
          PARTITION BY user_id ORDER BY ts, event_id))) // 1000000
          AS gap_s
      FROM events
    ), agg AS (
      SELECT user_id, count(*) AS n,
        sum(gap_s::HUGEINT) AS s1,
        sum((gap_s * gap_s)::HUGEINT) AS s2
      FROM g WHERE gap_s IS NOT NULL
      GROUP BY user_id HAVING count(*) >= 10
    ), cv AS (
      SELECT user_id,
        (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        / (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) AS cv2
      FROM agg WHERE s1 > 0
    ), users AS (
      SELECT user_id,
        CASE WHEN cv2 < 0.875 THEN 'steady'
             WHEN cv2 < 1.0 THEN 'sub_poisson'
             WHEN cv2 < 1.125 THEN 'poisson'
             ELSE 'bursty' END AS band
      FROM cv
    ), grid AS (
      SELECT band, event_type, count(*) AS n
      FROM events JOIN users USING (user_id)
      GROUP BY 1, 2
    )
    SELECT band, event_type,
      CAST(n AS BIGINT) AS n_events,
      CAST(n AS DOUBLE)
        / CAST(sum(n) OVER (PARTITION BY band) AS DOUBLE)
        AS share_in_band,
      CAST(n * (sum(n) OVER ()) /* int<2^53 */ AS DOUBLE)
        / CAST((sum(n) OVER (PARTITION BY band))
               * (sum(n) OVER (PARTITION BY event_type))
               /* int<2^53 */ AS DOUBLE)
        AS lift_vs_corpus
    FROM grid
    """

RELATIONAL_ORACLES["events_burstiness_fano"] = """
    WITH base AS (
      SELECT event_type,
        CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
             AS BIGINT) AS day
      FROM events WHERE ts IS NOT NULL
    ), dd AS (
      SELECT max(day) - min(day) + 1 AS d_total FROM base
    ), daily AS (
      SELECT event_type, day, count(*) AS c FROM base GROUP BY 1, 2
    ), per_type AS (
      SELECT event_type, count(*) AS n_days_active, sum(c) AS n,
        sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS s2
      FROM daily GROUP BY 1
    )
    SELECT event_type,
      CAST(n AS BIGINT) AS n_events,
      CAST(n_days_active AS BIGINT) AS n_days_active,
      CAST(d_total AS BIGINT) AS n_days_total,
      -- int->double ceilings audited r14: d_total*s2 <= 4.2e8 at
      -- sf0.1, 2e7x headroom under 2^53
      CAST(CAST(d_total AS HUGEINT) * s2
           - CAST(n AS HUGEINT) * CAST(n AS HUGEINT)
           /* int<2^53 */ AS DOUBLE)
        / CAST(CAST(d_total AS HUGEINT) * CAST(n AS HUGEINT)
               /* int<2^53 */ AS DOUBLE)
        AS fano
    FROM per_type CROSS JOIN dd
    """

# Amount reconciliation: integer ten-thousandth-cents on both faces,
# pure-integer band membership |d|*k <= T.
RELATIONAL_ORACLES["orders_amount_reconciliation"] = """
    WITH li AS (
      SELECT l_orderkey AS okey,
        sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
            * (100 - CAST(round(l_discount * 100) AS BIGINT))
            * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS line_units
      FROM lineitem GROUP BY 1
    ), o AS (
      SELECT o_orderkey AS okey, o_orderstatus,
        CAST(round(o_totalprice * 100) AS HUGEINT) * 10000 AS hdr_units
      FROM orders
    ), j AS (
      SELECT o.o_orderstatus, o.hdr_units,
        li.line_units IS NULL AS no_lines,
        abs(o.hdr_units - coalesce(li.line_units, 0)) AS ad
      FROM o LEFT JOIN li ON o.okey = li.okey
    )
    SELECT o_orderstatus,
      CAST(count(*) AS BIGINT) AS n_orders,
      CAST(sum(CASE WHEN no_lines THEN 1 ELSE 0 END) AS BIGINT)
        AS n_no_lines,
      CAST(sum(CASE WHEN NOT no_lines AND ad * 1000 <= hdr_units
               THEN 1 ELSE 0 END) AS BIGINT) AS n_within_0p1pct,
      CAST(sum(CASE WHEN NOT no_lines AND ad * 100 <= hdr_units
               THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1pct,
      CAST(sum(CASE WHEN NOT no_lines AND ad * 10 <= hdr_units
               THEN 1 ELSE 0 END) AS BIGINT) AS n_within_10pct
    FROM j GROUP BY 1
    """

# Churn sensitivity: integer last-order day vs corpus max day.
RELATIONAL_ORACLES["customer_churn_sensitivity"] = """
    WITH o AS (
      SELECT o_custkey,
        CAST(date_diff('day', DATE '1970-01-01',
             CAST(o_orderdate AS DATE)) AS BIGINT) AS day
      FROM orders
    ), last AS (
      SELECT o_custkey, max(day) AS last_day FROM o GROUP BY 1
    ), dmax AS (
      SELECT max(day) AS dmax FROM o
    )
    SELECT CAST(cutoff_days AS INTEGER) AS cutoff_days,
      CAST(count(*) AS BIGINT) AS n_customers,
      CAST(sum(CASE WHEN last_day < dmax - cutoff_days THEN 1 ELSE 0 END)
           AS BIGINT) AS n_churned,
      CAST(sum(CASE WHEN last_day < dmax - cutoff_days THEN 1 ELSE 0 END)
           AS DOUBLE) / CAST(count(*) AS DOUBLE) AS churn_rate
    FROM last, unnest([30, 60, 90]) AS u(cutoff_days), dmax
    GROUP BY 1
    """


def _pca_ev_sql(dim: int = 64, iters: int = 3) -> str:
    """Explained-variance twin: the same unrolled power iterations as
    _pca_power_sql through v3 (normalized), then the floor-quantized
    Rayleigh numerator / trace sums and the vtv*trace division chain
    mirrored operand for operand."""
    q = "1000000000.0"

    def dot_fold(vv: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(0, {dim}), "
            f"i -> v[i + 1] * {vv}[i + 1])), (acc, x) -> acc + x)"
        )

    def w_cte(name: str, vsrc: str) -> str:
        sums = ", ".join(
            f"CAST(sum(floor(v[{j + 1}] * dot * {q})::BIGINT) AS BIGINT) AS s{j}"
            for j in range(dim)
        )
        return (
            f"{name} AS (SELECT {sums} FROM "
            f"(SELECT e.v AS v, {dot_fold('vv')} AS dot FROM e, {vsrc}))"
        )

    def v_cte(name: str, wsrc: str) -> str:
        gm = "greatest(" + ", ".join(f"abs(s{j})" for j in range(dim)) + ")"
        comps = ", ".join(
            f"CAST(s{j} AS DOUBLE) / CAST(gm AS DOUBLE)" for j in range(dim)
        )
        return (
            f"{name} AS (SELECT [{comps}] AS vv FROM "
            f"(SELECT *, {gm} AS gm FROM {wsrc}))"
        )

    ones = ", ".join(["1.0"] * dim)
    ctes = [
        "e AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS v"
        " FROM embeddings)",
        f"v0 AS (SELECT [{ones}] AS vv)",
    ]
    for t in range(1, iters + 1):
        ctes.append(w_cte(f"w{t}", f"v{t - 1}"))
        ctes.append(v_cte(f"v{t}", f"w{t}"))
    norm2 = (
        f"list_reduce(list_prepend(0.0, list_transform(range(0, {dim}), "
        f"i -> v[i + 1] * v[i + 1])), (acc, x) -> acc + x)"
    )
    vtv = (
        "list_reduce(list_prepend(0.0, list_transform(vv, x -> x * x)), "
        "(acc, x) -> acc + x)"
    )
    absvv = "list_transform(vv, x -> abs(x))"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    , stats AS (
      SELECT count(*) AS n_vecs,
        sum(floor(dot * dot * {q})::BIGINT) AS num,
        sum(floor(n2 * {q})::BIGINT) AS tr
      FROM (SELECT {dot_fold('vv')} AS dot, {norm2} AS n2
            FROM e, v{iters})
    )
    SELECT CAST(n_vecs AS BIGINT) AS n_vecs,
      CAST(list_position({absvv}, list_max({absvv})) - 1 AS INTEGER)
        AS dominant_dim,
      CAST(num AS DOUBLE) / ({vtv} * CAST(tr AS DOUBLE)) AS ev_ratio
    FROM stats, v{iters}
    """
    )


LLM_ORACLES["embedding_pca_explained_variance"] = _pca_ev_sql()

# Vocab coverage curve: row_number over (freq desc, tok), exact
# cumulative occurrence counts, clamped cuts.
LLM_ORACLES["docs_vocab_coverage_curve"] = _TOK_CTE + """
    , tf AS (
      SELECT tok, count(*) AS freq FROM (
        SELECT unnest(toks) AS tok FROM tok)
      GROUP BY tok
    ), totals AS (
      SELECT count(*) AS vocab, sum(freq) AS total_toks FROM tf
    ), ranked AS (
      SELECT freq,
        row_number() OVER (ORDER BY freq DESC, tok) AS rnk,
        sum(freq) OVER (ORDER BY freq DESC, tok
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_freq
      FROM tf
    ), ks AS (
      SELECT vocab, total_toks, k_requested,
        least(CAST(k_requested AS BIGINT), vocab) AS kk
      FROM totals, unnest([100, 1000, 10000]) AS u(k_requested)
    )
    SELECT CAST(k_requested AS INTEGER) AS k_requested,
      CAST(kk AS BIGINT) AS k_effective,
      CAST(vocab AS BIGINT) AS vocab,
      CAST(cum_freq AS BIGINT) AS covered_tokens,
      CAST(total_toks AS BIGINT) AS total_tokens,
      CAST(cum_freq AS DOUBLE) / CAST(total_toks AS DOUBLE) AS coverage
    FROM ranked JOIN ks ON ranked.rnk = ks.kk
    """


# ---------------------------------------------------------------------------
# r12 additions
# ---------------------------------------------------------------------------

# Skyline: the oracle certifies via the INDEPENDENT quadratic
# dominance anti-join (NOT EXISTS a dominator) — a different algorithm
# than the Spark running-record frontier, same set by definition.
RELATIONAL_ORACLES["parts_price_size_skyline"] = """
    WITH b AS (
      SELECT p_partkey AS partkey,
        CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
        CAST(p_size AS BIGINT) AS size
      FROM part
    )
    SELECT partkey, price_cents, size FROM b p
    WHERE NOT EXISTS (
      SELECT 1 FROM b q
      WHERE q.price_cents <= p.price_cents AND q.size >= p.size
        AND (q.price_cents < p.price_cents OR q.size > p.size)
    )
    """

# Lateness: TZ-free integer event seconds (date fields, never a
# session-zone epoch), running max over arrival order, exact sums.
RELATIONAL_ORACLES["events_lateness_profile"] = """
    WITH base AS (
      SELECT event_id, event_type,
        CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
             AS BIGINT) * 86400
        + CAST(date_part('hour', ts) AS BIGINT) * 3600
        + CAST(date_part('minute', ts) AS BIGINT) * 60
        + CAST(date_part('second', ts) AS BIGINT) AS sec
      FROM events WHERE ts IS NOT NULL
    ), rm AS (
      SELECT event_type,
        max(sec) OVER (ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - sec AS late_sec
      FROM base
    )
    SELECT event_type,
      CAST(count(*) AS BIGINT) AS n_events,
      CAST(sum(CASE WHEN late_sec > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      round(CAST(sum(CASE WHEN late_sec > 0 THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*), 4) AS late_pct,
      CAST(max(late_sec) AS BIGINT) AS max_lateness_sec,
      round(CAST(sum(late_sec) AS DOUBLE) / count(*), 4) AS avg_lateness_sec
    FROM rm GROUP BY 1
    """


# Cross-snapshot containment audit: full winnowing rebuild (4-gram
# md5, window 5) for both snapshot faces, fingerprint equi-join,
# deterministic top-20.
LLM_ORACLES["docs_crosssnap_containment"] = rf"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), probe AS (
      SELECT doc_id,
        CASE WHEN doc_id % {SNAPSHOT_GAP_MOD} = 0 THEN 'added'
             ELSE 'changed' END AS status,
        toks
      FROM tok
      WHERE doc_id % {SNAPSHOT_GAP_MOD} = 0
         OR doc_id % {SNAPSHOT_REV_MOD} = 0
    ), pg AS (
      SELECT doc_id, status,
        CASE WHEN len(toks) >= 4 THEN
          list_transform(generate_series(1, len(toks) - 3),
            i -> md5(array_to_string(list_slice(toks, i, i + 3), ' ')))
        ELSE CAST([] AS VARCHAR[]) END AS h
      FROM probe
    ), pf AS (
      SELECT doc_id, status,
        CASE WHEN len(h) >= 5 THEN
          list_distinct(list_transform(generate_series(1, len(h) - 4),
            i -> list_min(list_slice(h, i, i + 4))))
        ELSE list_distinct(h) END AS fps
      FROM pg
    ), pex AS (
      SELECT doc_id AS probe_id, status, len(fps) AS n_fps,
        unnest(fps) AS fp
      FROM pf
    ), prevdocs AS (
      SELECT doc_id,
        CASE WHEN doc_id % {SNAPSHOT_REV_MOD} = 0
             THEN text || ' [rev1]' ELSE text END AS text
      FROM documents WHERE doc_id % {SNAPSHOT_GAP_MOD} <> 0
    ), vtok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM prevdocs
    ), vg AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 4 THEN
          list_transform(generate_series(1, len(toks) - 3),
            i -> md5(array_to_string(list_slice(toks, i, i + 3), ' ')))
        ELSE CAST([] AS VARCHAR[]) END AS h
      FROM vtok
    ), vf AS (
      SELECT doc_id,
        CASE WHEN len(h) >= 5 THEN
          list_distinct(list_transform(generate_series(1, len(h) - 4),
            i -> list_min(list_slice(h, i, i + 4))))
        ELSE list_distinct(h) END AS fps
      FROM vg
    ), vex AS (
      SELECT doc_id AS prev_id, unnest(fps) AS fp FROM vf
    ), hot AS (
      SELECT fp FROM vex GROUP BY fp HAVING count(*) > 50
    ), vexc AS (
      SELECT vex.* FROM vex ANTI JOIN hot USING (fp)
    ), pexc AS (
      SELECT pex.* FROM pex ANTI JOIN hot USING (fp)
    ), pairs AS (
      SELECT probe_id, status, n_fps, prev_id, count(*) AS n_shared
      FROM pexc JOIN vexc USING (fp)
      GROUP BY 1, 2, 3, 4
    )
    SELECT probe_id, status, prev_id,
      probe_id = prev_id AS is_self_recrawl,
      CAST(n_fps AS INTEGER) AS n_fps,
      CAST(n_shared AS BIGINT) AS n_shared,
      round(CAST(n_shared AS DOUBLE) / n_fps, 4) AS containment
    FROM pairs
    ORDER BY containment DESC, probe_id ASC, prev_id ASC LIMIT 20
    """


# kNN label-agreement screen: the ann_cosine_topk cosine/rank idiom
# (round-4 cosine, ties on neighbor id) + integer agreement rollup.
LLM_ORACLES["embedding_label_noise_screen"] = """
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
        sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
      FROM embeddings
    ), q AS (
      SELECT vec_id AS qid, label AS qlabel, v AS qv, nrm AS qn
      FROM e WHERE vec_id % 29 = 0
    ), scored AS (
      SELECT q.qid, q.qlabel, e.vec_id, e.label AS nlabel,
        round(list_sum(list_transform(range(len(e.v)),
                i -> e.v[i + 1] * q.qv[i + 1])) / (e.nrm * q.qn), 4) AS cos_sim
      FROM e, q WHERE e.vec_id <> q.qid
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM scored
    ), per_probe AS (
      SELECT qid, qlabel,
        sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS n_agree
      FROM ranked WHERE rank <= 5 GROUP BY 1, 2
    )
    SELECT qlabel AS label,
      CAST(count(*) AS BIGINT) AS n_probes,
      CAST(sum(n_agree) AS BIGINT) AS n_agree_total,
      round(CAST(sum(n_agree) AS DOUBLE) / (count(*) * 5), 4) AS mean_agreement,
      CAST(sum(CASE WHEN n_agree <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect
    FROM per_probe GROUP BY 1
    """

# Pairwise-cosine histogram over the probe sample: fixed 20-bin grid,
# bin decided on the round-4 cosine (portable bits).
LLM_ORACLES["embedding_cosine_histogram"] = """
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
        sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
      FROM embeddings WHERE vec_id % 53 = 0
    ), pairs AS (
      SELECT round(list_sum(list_transform(range(len(a.v)),
               i -> a.v[i + 1] * b.v[i + 1])) / (a.nrm * b.nrm), 4) AS cos
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    ), binned AS (
      SELECT least(CAST(floor((cos + 1.0) * 10.0) AS INTEGER), 19) AS bin
      FROM pairs
    )
    SELECT CAST(bin AS INTEGER) AS bin,
      CAST(bin AS DOUBLE) / 10.0 - 1.0 AS lo,
      (CAST(bin AS DOUBLE) + 1.0) / 10.0 - 1.0 AS hi,
      CAST(count(*) AS BIGINT) AS n_pairs
    FROM binned GROUP BY bin
    """

# Anti-entropy checksums: 60-bit md5 slice of "doc_id:text", exact
# HUGEINT sum folded mod 2^60 — commutative, so replica/order-free.
LLM_ORACLES["docs_partition_checksums"] = """
    WITH h AS (
      SELECT source, doc_id % 7 AS shard, n_chars,
        list_reduce(list_transform(range(1, 16),
          i -> strpos('0123456789abcdef',
                 substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), i, 1)) - 1),
          (acc, d) -> acc * 16 + d) AS h60
      FROM documents
    )
    SELECT source, shard,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS total_chars,
      CAST(sum(CAST(h60 AS HUGEINT)) % 1152921504606846976 AS BIGINT)
        AS checksum
    FROM h GROUP BY 1, 2
    """

# Exact per-source deciles: pure-integer cut ranks under the
# (n_tokens, doc_id) per-source total order.
LLM_ORACLES["docs_length_quantiles_by_source"] = r"""
    WITH tok AS (
      SELECT doc_id, source,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
          AS n_tokens
      FROM documents
    ), r AS (
      SELECT source, n_tokens,
        row_number() OVER (PARTITION BY source
                           ORDER BY n_tokens, doc_id) AS rnk
      FROM tok
    ), c AS (
      SELECT source, count(*) AS n FROM tok GROUP BY 1
    )
    SELECT r.source, CAST(c.n AS BIGINT) AS n_docs,
      min(CASE WHEN rnk = (n * 1 - 1) // 10 + 1 THEN n_tokens END) AS p10,
      min(CASE WHEN rnk = (n * 5 - 1) // 10 + 1 THEN n_tokens END) AS p50,
      min(CASE WHEN rnk = (n * 9 - 1) // 10 + 1 THEN n_tokens END) AS p90
    FROM r JOIN c USING (source)
    GROUP BY 1, 2
    """


# Byte-collision QA (r15 migration of the log2-emitting byte entropy —
# SCALE.md watch list): _UTF8_BYTES_CTE byte lists, per-blob collision
# nano-quantized by exact integer floor division, integer low-info gate.
LLM_ORACLES["multimodal_bytes_concentration"] = _UTF8_BYTES_CTE + """
    , ex AS (
      SELECT c.doc_id, d.source, c.n, unnest(c.bytes) AS byte
      FROM chars c JOIN documents d USING (doc_id) WHERE c.n > 0
    ), cnt AS (
      SELECT doc_id, source, n, byte, count(*) AS c
      FROM ex GROUP BY 1, 2, 3, 4
    ), per_doc AS (
      SELECT doc_id, source, n, sum(c * c) AS sum_c2
      FROM cnt GROUP BY 1, 2, 3
    ), q AS (
      SELECT source,
        (sum_c2 * 1000000000) // (n * n) AS qc,
        CASE WHEN sum_c2 * 16 > n * n THEN 1 ELSE 0 END AS low_info
      FROM per_doc
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_blobs,
      round(CAST(sum(qc) AS DOUBLE) / 1000000000.0 / count(*), 4)
        AS avg_collision,
      CAST(sum(low_info) AS BIGINT) AS n_low_info
    FROM q GROUP BY 1
    """

# Quality × prefix-dup contingency: the certified quality gate plus
# the 8-token prefix fingerprint group sizes, 4-cell rollup.
LLM_ORACLES["docs_quality_dup_contingency"] = _TOK_CTE + """
    , q AS (
      SELECT doc_id, toks, len(toks) AS n,
        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','data')))
             AS DOUBLE) / len(toks) AS stop
      FROM tok
    ), s AS (
      SELECT doc_id,
        (CASE WHEN n >= 20 AND n <= 1000 THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
         + CASE WHEN ttr >= 0.3 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END
         + CASE WHEN stop >= 0.01 AND stop <= 0.5
                THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END) >= 0.7 AS quality_keep,
        md5(array_to_string(toks[1:8], ' ')) AS fp
      FROM q
    ), fpc AS (
      SELECT fp, count(*) AS n_fp FROM s GROUP BY 1
    ), j AS (
      SELECT s.quality_keep, fpc.n_fp > 1 AS is_prefix_dup
      FROM s JOIN fpc USING (fp)
    ), t AS (
      SELECT count(*) AS total FROM documents
    )
    SELECT quality_keep, is_prefix_dup,
      CAST(count(*) AS BIGINT) AS n_docs,
      round(CAST(count(*) AS DOUBLE) / total, 4) AS pct_of_corpus
    FROM j, t GROUP BY 1, 2, total
    """


# Sessionization-gap sweep: one lag window, 3-threshold explode.
RELATIONAL_ORACLES["events_session_gap_sensitivity"] = """
    WITH base AS (
      SELECT user_id,
        date_diff('second', lag(ts) OVER w, ts) AS gap
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sw AS (
      SELECT user_id, gap, g.gap_threshold_sec
      FROM base, (SELECT unnest([1800, 3600, 7200]) AS gap_threshold_sec) g
    )
    SELECT CAST(gap_threshold_sec AS INTEGER) AS gap_threshold_sec,
      CAST(count(*) AS BIGINT) AS n_events,
      CAST(sum(CASE WHEN gap IS NULL OR gap > gap_threshold_sec
               THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
      CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      round(CAST(count(*) AS DOUBLE)
            / sum(CASE WHEN gap IS NULL OR gap > gap_threshold_sec
                  THEN 1 ELSE 0 END), 4) AS avg_events_per_session
    FROM sw GROUP BY gap_threshold_sec
    """

# Dedup-threshold curve: the certified jaccard-pair machinery once,
# pairwise-shadow drops per integer-percent threshold, full grid.
LLM_ORACLES["docs_dedup_threshold_curve"] = _TOK_CTE + """
    , sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 5 THEN
          list_distinct([array_to_string(toks[i:i+4], ' ')
                         FOR i IN range(1, len(toks) - 3)])
        ELSE [] END AS shingles
      FROM tok
    ), ex AS (
      SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh
    ), hot AS (
      SELECT s FROM ex GROUP BY s HAVING count(*) > 50
    ), exc AS (
      SELECT ex.* FROM ex ANTI JOIN hot USING (s)
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.n_sh AS na, b.n_sh AS nb, count(*) AS common
      FROM exc a JOIN exc b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    ), jp AS (
      SELECT doc_b, CAST(common AS DOUBLE) / (na + nb - common) AS jaccard
      FROM pairs WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.2
    ), ths AS (
      SELECT unnest([20, 30, 40, 50, 60, 70, 80]) AS t_pct
    ), dropped AS (
      SELECT t_pct, count(DISTINCT doc_b) AS n_dropped
      FROM jp, ths
      WHERE jaccard >= CAST(t_pct AS DOUBLE) / 100.0
      GROUP BY 1
    ), tot AS (
      SELECT count(*) AS total FROM documents
    )
    SELECT CAST(ths.t_pct AS INTEGER) AS t_pct,
      CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
      CAST(total - coalesce(d.n_dropped, 0) AS BIGINT) AS n_survivors,
      round(CAST(total - coalesce(d.n_dropped, 0) AS DOUBLE) / total, 4)
        AS survival_pct
    FROM ths CROSS JOIN tot LEFT JOIN dropped d ON ths.t_pct = d.t_pct
    """


# Simplified silhouette: nano-quantized exact centroid means, explicit
# left-fold distances (list_reduce), min-based a/b, quantized rollup.
LLM_ORACLES["embedding_label_silhouette"] = """
    WITH vecs AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), dims AS (
      SELECT label, unnest(range(len(v))) AS j, v[unnest(range(len(v))) + 1] AS x
      FROM vecs
    ), cent_cols AS (
      SELECT label, j,
        sum(CAST(floor(x * 1000000000.0) AS HUGEINT)) AS sq,
        count(*) AS n
      FROM dims GROUP BY 1, 2
    ), centroids AS (
      SELECT label AS clabel,
        list(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000.0)
             ORDER BY j) AS cv
      FROM cent_cols GROUP BY 1
    ), scored AS (
      SELECT v.vec_id, v.label, v.label = c.clabel AS own,
        sqrt(list_reduce(list_prepend(0.0,
          list_transform(range(len(v.v)),
            i -> (v.v[i + 1] - c.cv[i + 1]) * (v.v[i + 1] - c.cv[i + 1]))),
          (acc, t) -> acc + t)) AS d
      FROM vecs v CROSS JOIN centroids c
    ), ab AS (
      SELECT vec_id, label,
        min(CASE WHEN own THEN d END) AS a,
        min(CASE WHEN NOT own THEN d END) AS b
      FROM scored GROUP BY 1, 2
    ), sil AS (
      SELECT label,
        CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
             ELSE 0.0 END AS s
      FROM ab
    ), q AS (
      SELECT label, CAST(floor(s * 1000000000.0) AS BIGINT) AS qs,
        CASE WHEN s < 0 THEN 1 ELSE 0 END AS neg
      FROM sil
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
      round(CAST(sum(qs) AS DOUBLE) / 1000000000.0 / count(*), 4)
        AS mean_silhouette,
      CAST(sum(neg) AS BIGINT) AS n_negative
    FROM q GROUP BY 1
    """


# Robust per-station MAD outlier screen: integer cents, exact
# lower-median order statistics (rank (n+1)//2) for both the median
# and the MAD, pure-integer 3*MAD cutoff.
HYDRO_ORACLES["hydro_level_mad_outliers"] = HYDRO_CTE + """
    , base AS (
      SELECT wlobscd AS station, obs_id,
        CAST(round(water_level * 100) AS BIGINT) AS cents
      FROM classified WHERE water_level IS NOT NULL
    ), r1 AS (
      SELECT station, obs_id, cents,
        row_number() OVER (PARTITION BY station
                           ORDER BY cents, obs_id) AS rnk,
        count(*) OVER (PARTITION BY station) AS n
      FROM base
    ), med AS (
      SELECT station, cents AS med, n FROM r1 WHERE rnk = (n + 1) // 2
    ), dev AS (
      SELECT b.station, b.obs_id, b.cents, m.med, m.n,
        abs(b.cents - m.med) AS dev
      FROM base b JOIN med m ON b.station = m.station
    ), r2 AS (
      SELECT station, dev, n,
        row_number() OVER (PARTITION BY station
                           ORDER BY dev, obs_id) AS rnk
      FROM dev
    ), mad AS (
      SELECT station, dev AS mad FROM r2 WHERE rnk = (n + 1) // 2
    )
    SELECT d.station,
      CAST(count(*) AS BIGINT) AS n_obs,
      CAST(max(d.med) AS BIGINT) AS median_cents,
      CAST(max(m.mad) AS BIGINT) AS mad_cents,
      CAST(sum(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
        AS n_outliers,
      CAST(max(d.dev) AS BIGINT) AS max_abs_dev_cents
    FROM dev d JOIN mad m ON d.station = m.station
    GROUP BY 1
    """


# Source x source vocabulary Jaccard: distinct (source, token) sets,
# every unordered pair present (zero-overlap pairs emit 0).
LLM_ORACLES["docs_source_vocab_overlap"] = _TOK_CTE + """
    , st AS (
      SELECT DISTINCT source, token
      FROM (SELECT source, unnest(toks) AS token FROM tok)
    ), sizes AS (
      SELECT source, count(*) AS vocab FROM st GROUP BY 1
    ), shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
        count(*) AS n_shared
      FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT g.source_a, g.source_b,
      CAST(sa.vocab AS BIGINT) AS vocab_a,
      CAST(sb.vocab AS BIGINT) AS vocab_b,
      CAST(COALESCE(sh.n_shared, 0) AS BIGINT) AS n_shared,
      CAST(COALESCE(sh.n_shared, 0) AS DOUBLE)
        / (sa.vocab + sb.vocab - COALESCE(sh.n_shared, 0)) AS jaccard
    FROM (SELECT a.source AS source_a, b.source AS source_b
          FROM sizes a JOIN sizes b ON a.source < b.source) g
    JOIN sizes sa ON g.source_a = sa.source
    JOIN sizes sb ON g.source_b = sb.source
    LEFT JOIN shared sh
      ON g.source_a = sh.source_a AND g.source_b = sh.source_b
    """



# t-closeness: per-(day, band) TV distance of the event_type
# distribution vs global, HUGEINT-exact numerators, closed-form
# absent-type contribution, pure-integer 10*num > 6*n*N cutoff.
RELATIONAL_ORACLES["events_t_closeness"] = """
    -- int->double ceilings audited r14: tot_n*n <= 6.5e7 at sf0.1, 1.4e8x headroom
    WITH base AS (
      SELECT CAST(ts AS DATE) AS day,
        CAST(floor(COALESCE(value, -1.0) / 10) AS BIGINT) AS value_band,
        event_type
      FROM events
    ), gtab AS (
      SELECT event_type, count(*) AS C FROM base GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(C) AS BIGINT) AS tot_n FROM gtab
    ), cells_t AS (
      SELECT day, value_band, event_type, count(*) AS c
      FROM base GROUP BY 1, 2, 3
    ), n_cell AS (
      SELECT day, value_band, CAST(sum(c) AS BIGINT) AS n
      FROM cells_t GROUP BY 1, 2
    ), per_cell AS (
      SELECT ct.day, ct.value_band, nc.n, t.tot_n,
        sum(abs(CAST(ct.c AS HUGEINT) * t.tot_n
                - CAST(g.C AS HUGEINT) * nc.n)) AS num_present,
        sum(CAST(g.C AS HUGEINT)) AS c_present
      FROM cells_t ct
      JOIN gtab g USING (event_type)
      JOIN n_cell nc ON ct.day = nc.day AND ct.value_band = nc.value_band
      CROSS JOIN tot t
      GROUP BY 1, 2, 3, 4
    ), scored AS (
      SELECT day, n,
        CAST(num_present + (CAST(tot_n AS HUGEINT) - c_present) * n /* int<2^53 */ AS DOUBLE)
          / (2.0 * n * tot_n) AS tv,
        CASE WHEN 10 * (num_present + (CAST(tot_n AS HUGEINT) - c_present) * n)
               > 6 * CAST(n AS HUGEINT) * tot_n THEN 1 ELSE 0 END AS above
      FROM per_cell
    )
    SELECT day, CAST(count(*) AS BIGINT) AS n_cells,
      CAST(sum(n) AS BIGINT) AS n_rows,
      max(tv) AS max_tv,
      CAST(sum(above) AS BIGINT) AS n_cells_above_t,
      CAST(sum(CASE WHEN above = 1 THEN n ELSE 0 END) AS BIGINT)
        AS rows_at_risk
    FROM scored GROUP BY 1
    """


# --- r13: dedup certificates & survivor audits -----------------------------

LLM_ORACLES["dedup_survivor_length_bias"] = r"""
    WITH h AS (
      SELECT doc_id, source,
        len(regexp_split_to_array(trim(text), '\s+')) AS n_toks,
        row_number() OVER (PARTITION BY md5(lower(trim(text)))
                           ORDER BY doc_id ASC) AS rk
      FROM documents
    )
    SELECT source,
      count(*) AS n_docs,
      CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(sum(CASE WHEN rk = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
      CAST(sum(CASE WHEN rk = 1 THEN n_toks ELSE 0 END) AS BIGINT)
        AS toks_kept,
      CAST(sum(CASE WHEN rk = 1 THEN 0 ELSE n_toks END) AS BIGINT)
        AS toks_dropped,
      CASE WHEN sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) > 0 THEN
        CAST(sum(CASE WHEN rk = 1 THEN n_toks ELSE 0 END) AS DOUBLE)
          / CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      END AS mean_toks_kept,
      CASE WHEN sum(CASE WHEN rk = 1 THEN 0 ELSE 1 END) > 0 THEN
        CAST(sum(CASE WHEN rk = 1 THEN 0 ELSE n_toks END) AS DOUBLE)
          / CAST(sum(CASE WHEN rk = 1 THEN 0 ELSE 1 END) AS DOUBLE)
      END AS mean_toks_dropped
    FROM h GROUP BY source
    """

LLM_ORACLES["docs_cross_source_dup_matrix"] = """
    WITH ths AS (
      SELECT DISTINCT source, md5(lower(trim(text))) AS th FROM documents
    ), sizes AS (
      SELECT source, count(*) AS n_hashes FROM ths GROUP BY source
    ), shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
        count(*) AS n_shared
      FROM ths a JOIN ths b ON a.th = b.th AND a.source < b.source
      GROUP BY 1, 2
    ), grid AS (
      SELECT sa.source AS source_a, sa.n_hashes AS hashes_a,
        sb.source AS source_b, sb.n_hashes AS hashes_b
      FROM sizes sa CROSS JOIN sizes sb
      WHERE sa.source < sb.source
    )
    SELECT source_a, source_b,
      CAST(hashes_a AS BIGINT) AS hashes_a,
      CAST(hashes_b AS BIGINT) AS hashes_b,
      CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
      CAST(COALESCE(n_shared, 0) AS DOUBLE)
        / CAST(hashes_a + hashes_b - COALESCE(n_shared, 0) AS DOUBLE)
        AS jaccard
    FROM grid LEFT JOIN shared USING (source_a, source_b)
    """

# Incremental-replay certificate: the oracle computes the ONE-SHOT
# survivors under arrival order (step, doc_id) — the provably-equal
# closed form of the 3-step replay — and emits both counts from it
# plus TRUE. The Spark face runs the replay loop for real; a replay
# bug diverges n_incremental / n_agree and the driver hash catches it
# (the events_hll_accuracy oracle-constant-flag pattern).
LLM_ORACLES["dedup_incremental_certificate"] = """
    WITH d AS (
      SELECT doc_id, doc_id % 3 AS step, md5(lower(trim(text))) AS th
      FROM documents
    ), ranked AS (
      SELECT doc_id, step,
        row_number() OVER (PARTITION BY th
                           ORDER BY step ASC, doc_id ASC) AS rn
      FROM d
    ), surv AS (
      SELECT step, count(*) AS n FROM ranked WHERE rn = 1 GROUP BY step
    ), arrived AS (
      SELECT step, count(*) AS n_arrived FROM d GROUP BY step
    )
    SELECT CAST(a.step AS BIGINT) AS step,
      CAST(a.n_arrived AS BIGINT) AS n_arrived,
      CAST(COALESCE(s.n, 0) AS BIGINT) AS n_incremental,
      CAST(COALESCE(s.n, 0) AS BIGINT) AS n_oneshot,
      CAST(COALESCE(s.n, 0) AS BIGINT) AS n_agree,
      TRUE AS replay_matches_oneshot
    FROM arrived a LEFT JOIN surv s ON a.step = s.step
    """


# Chaining audit: the dup_components recursive-closure machinery at
# threshold 0.5 + pairwise-shadow counts, folded to one summary row.
LLM_ORACLES["docs_crosssnap_dup_trend"] = f"""
    WITH cur AS (
      SELECT doc_id, md5(lower(trim(text))) AS text_hash,
        md5(text) AS h_new
      FROM documents
    ), prev AS (
      SELECT doc_id,
        md5(CASE WHEN doc_id % {SNAPSHOT_REV_MOD} = 0
                 THEN text || ' [rev1]'
                 ELSE text END) AS h_old
      FROM documents WHERE doc_id % {SNAPSHOT_GAP_MOD} <> 0
    ), j AS (
      SELECT cur.doc_id, cur.text_hash,
        CASE WHEN prev.h_old IS NULL THEN 'added'
             WHEN cur.h_new <> prev.h_old THEN 'changed'
             ELSE 'unchanged' END AS status
      FROM cur LEFT JOIN prev ON cur.doc_id = prev.doc_id
    ), groups AS (
      SELECT md5(lower(trim(text))) AS text_hash,
        count(*) AS n_copies, min(doc_id) AS keep_doc_id
      FROM documents GROUP BY 1
    ), d AS (
      SELECT j.status, j.doc_id, g.n_copies, g.keep_doc_id
      FROM j JOIN groups g ON j.text_hash = g.text_hash
    )
    SELECT status,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_dup_members,
      CAST(sum(CASE WHEN doc_id <> keep_doc_id THEN 1 ELSE 0 END)
           AS BIGINT) AS n_dropped,
      CAST(sum(CASE WHEN doc_id <> keep_doc_id THEN 1 ELSE 0 END)
           AS DOUBLE) / CAST(count(*) AS DOUBLE) AS drop_rate
    FROM d GROUP BY status
    """

LLM_ORACLES["docs_simhash_hamming_histogram"] = r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), hv AS (
      SELECT doc_id,
        list_reduce(
          list_transform(range(1, 16),
            i -> strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1),
          (acc, d) -> acc * 16 + d)::BIGINT AS h
      FROM (SELECT doc_id, unnest(toks) AS t FROM tok)
    ), bits AS (
      SELECT doc_id, j,
        sum(2 * ((h // (1::BIGINT << j)) % 2) - 1) AS votes
      FROM hv, unnest(range(0, 60)) AS u(j)
      GROUP BY doc_id, j
    ), fp AS (
      SELECT doc_id,
        CAST(sum(CASE WHEN votes > 0 THEN (1::BIGINT << j) ELSE 0 END)
             AS BIGINT) AS sh
      FROM bits GROUP BY doc_id
    ), chunks AS (
      -- the SAME 16-bit pigeonhole blocking as the Spark path: above
      -- Hamming 3 the candidate population differs from naive
      -- all-pairs, so the twin must block identically
      SELECT doc_id, sh, c AS chunk,
        (sh >> (16 * c)) & 65535 AS val
      FROM fp, unnest(range(0, 4)) AS u(c)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        bit_count(xor(a.sh, b.sh)) AS hamming
      FROM chunks a JOIN chunks b
        ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
    ), hist AS (
      SELECT hamming, count(*) AS n_pairs FROM cand GROUP BY hamming
    )
    SELECT CAST(hamming AS INTEGER) AS hamming,
      CAST(n_pairs AS BIGINT) AS n_pairs,
      CAST(sum(n_pairs) OVER (ORDER BY hamming
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS cum_pairs
    FROM hist
    """

LLM_ORACLES["dedup_survivor_source_flow"] = """
    WITH hashed AS (
      SELECT doc_id, source, md5(lower(trim(text))) AS text_hash
      FROM documents
    ), groups AS (
      SELECT text_hash, count(*) AS n_copies, min(doc_id) AS keep_doc_id
      FROM hashed GROUP BY text_hash HAVING count(*) > 1
    ), winners AS (
      SELECT h.text_hash, h.source AS winner_source
      FROM hashed h JOIN groups g ON h.text_hash = g.text_hash
      WHERE h.doc_id = g.keep_doc_id
    ), losers AS (
      SELECT h.text_hash, h.source AS loser_source
      FROM hashed h JOIN groups g ON h.text_hash = g.text_hash
      WHERE h.doc_id <> g.keep_doc_id
    ), flow AS (
      SELECT winner_source, loser_source, count(*) AS n
      FROM losers l JOIN winners w ON l.text_hash = w.text_hash
      GROUP BY 1, 2
    ), srcs AS (
      SELECT DISTINCT source FROM documents
    ), grid AS (
      SELECT a.source AS winner_source, b.source AS loser_source
      FROM srcs a CROSS JOIN srcs b
    ), filled AS (
      SELECT g.winner_source, g.loser_source,
        coalesce(f.n, 0) AS n_losses
      FROM grid g LEFT JOIN flow f
        ON g.winner_source = f.winner_source
       AND g.loser_source = f.loser_source
    )
    SELECT winner_source, loser_source,
      CAST(n_losses AS BIGINT) AS n_losses,
      CASE WHEN sum(n_losses) OVER (PARTITION BY loser_source) > 0 THEN
        CAST(n_losses AS DOUBLE)
          / CAST(sum(n_losses) OVER (PARTITION BY loser_source) AS DOUBLE)
      END AS loss_share
    FROM filled
    """

# Dedup-rate curve: the chaining-audit closure at 0.5, arrivals
# attributed to step = doc_id % 3, first-(step, doc_id)-wins keep.
LLM_ORACLES["dedup_rate_by_snapshot"] = r"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 5 THEN
          list_distinct([array_to_string(toks[i:i+4], ' ')
                         FOR i IN range(1, len(toks) - 3)])
        ELSE [] END AS shingles
      FROM tok
    ), ex AS (
      SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh
    ), hot AS (
      SELECT s FROM ex GROUP BY s HAVING count(*) > 50
    ), exc AS (
      SELECT ex.* FROM ex ANTI JOIN hot USING (s)
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.n_sh AS na, b.n_sh AS nb, count(*) AS common
      FROM exc a JOIN exc b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    ), jp AS (
      SELECT doc_a, doc_b FROM pairs
      WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.2
        AND CAST(common AS DOUBLE) / (na + nb - common) >= 0.5
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM jp
      UNION
      SELECT doc_b, doc_a FROM jp
    ), reach AS (
      SELECT src AS id, src AS r FROM edges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ), comp AS (
      SELECT id, min(r) AS component FROM reach GROUP BY id
    ), d AS (
      SELECT doc_id, doc_id % 3 AS step,
        md5(lower(trim(text))) AS h
      FROM documents
    ), cstep AS (
      SELECT c.component, d.doc_id, d.step
      FROM comp c JOIN d ON c.id = d.doc_id
    ), cranked AS (
      SELECT step, row_number() OVER (
          PARTITION BY component ORDER BY step, doc_id) AS rn
      FROM cstep
    ), dn AS (
      SELECT step, count(*) AS n_dropped_near
      FROM cranked WHERE rn > 1 GROUP BY 1
    ), hranked AS (
      SELECT step, row_number() OVER (
          PARTITION BY h ORDER BY step, doc_id) AS rn
      FROM d
    ), de AS (
      SELECT step, count(*) AS n_dropped_exact
      FROM hranked WHERE rn > 1 GROUP BY 1
    ), arr AS (
      SELECT step, count(*) AS n_arrived FROM d GROUP BY 1
    )
    SELECT CAST(a.step AS BIGINT) AS step,
      CAST(a.n_arrived AS BIGINT) AS n_arrived,
      CAST(COALESCE(dn.n_dropped_near, 0) AS BIGINT) AS n_dropped_near,
      CAST(COALESCE(de.n_dropped_exact, 0) AS BIGINT) AS n_dropped_exact,
      CAST(a.n_arrived - COALESCE(dn.n_dropped_near, 0) AS BIGINT)
        AS n_kept,
      round(CAST(COALESCE(dn.n_dropped_near, 0) AS DOUBLE)
            / CAST(a.n_arrived AS DOUBLE), 4) AS near_dup_rate,
      CAST(sum(a.n_arrived - COALESCE(dn.n_dropped_near, 0))
             OVER (ORDER BY a.step
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_kept
    FROM arr a
    LEFT JOIN dn ON a.step = dn.step
    LEFT JOIN de ON a.step = de.step
    """

# Bit-width quantization-error curve: floor-plus-half codes at
# levels = 2^(b-1)-1, order-pinned per-vector SSE fold, nano-quantized
# exact totals.
LLM_ORACLES["embedding_quantize_bit_sweep"] = """
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), g AS (
      SELECT vec_id, v, unnest([2, 4, 6, 8]) AS bits FROM e
    ), s AS (
      SELECT bits,
        CASE bits WHEN 2 THEN 1 WHEN 4 THEN 7 WHEN 6 THEN 31
             ELSE 127 END AS levels,
        list_max(list_transform(v, x -> abs(x))) AS amax, v
      FROM g
    ), per AS (
      SELECT bits, levels,
        CASE WHEN amax = 0 THEN 0 ELSE CAST(floor(
          list_reduce(list_prepend(0.0, list_transform(v, x ->
            (x - floor(x / (amax / levels) + 0.5) * (amax / levels))
            * (x - floor(x / (amax / levels) + 0.5) * (amax / levels)))),
            (acc, t) -> acc + t) * 1000000000.0) AS BIGINT) END AS qerr
      FROM s
    )
    SELECT CAST(bits AS INTEGER) AS bits,
      CAST(levels AS INTEGER) AS levels,
      CAST(count(*) AS BIGINT) AS n_vecs,
      CAST(sum(qerr) AS BIGINT) AS sum_qerr,
      CAST(max(qerr) AS BIGINT) AS max_qerr,
      round(CAST(sum(qerr) AS DOUBLE) / 1000000000.0 / count(*), 6)
        AS avg_sse
    FROM per GROUP BY 1, 2
    """

# Within-source halves drift: the docs_source_tv_distance machinery
# split on doc_id parity; the terms sum converts through the hi/lo
# 2^40 split (exact to 2^93).
LLM_ORACLES["docs_source_halves_drift"] = _TOK_CTE + """
    , tb AS (
      SELECT source, half,
        list_reduce(list_transform(range(1, 16),
          i -> strpos('0123456789abcdef', substr(md5(lower(tok)), i, 1)) - 1),
          (acc, d) -> acc * 16 + d)::BIGINT % 256 AS b
      FROM (SELECT source, doc_id % 2 AS half, unnest(toks) AS tok
            FROM tok)
    ), counts AS (
      SELECT source, half, b, count(*) AS c FROM tb GROUP BY 1, 2, 3
    ), piv AS (
      SELECT source, b,
        sum(CASE WHEN half = 0 THEN c ELSE 0 END) AS ca,
        sum(CASE WHEN half = 1 THEN c ELSE 0 END) AS cb
      FROM counts GROUP BY 1, 2
    ), tot AS (
      SELECT source,
        sum(CASE WHEN half = 0 THEN c ELSE 0 END) AS n_a,
        sum(CASE WHEN half = 1 THEN c ELSE 0 END) AS n_b
      FROM counts GROUP BY 1
    ), agg AS (
      SELECT p.source, t.n_a, t.n_b,
        sum(abs(CAST(p.ca AS HUGEINT) * CAST(t.n_b AS HUGEINT)
              - CAST(p.cb AS HUGEINT) * CAST(t.n_a AS HUGEINT))) AS terms
      FROM piv p JOIN tot t USING (source)
      GROUP BY 1, 2, 3
    )
    SELECT source,
      CAST(n_a AS BIGINT) AS n_toks_even,
      CAST(n_b AS BIGINT) AS n_toks_odd,
      CASE WHEN n_a > 0 AND n_b > 0 THEN
        (CAST(terms // 1099511627776 AS DOUBLE) * 1099511627776.0
         + CAST(terms % 1099511627776 AS DOUBLE))
          / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
      END AS tv_distance
    FROM agg
    """

LLM_ORACLES["dedup_chaining_audit"] = r"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 5 THEN
          list_distinct([array_to_string(toks[i:i+4], ' ')
                         FOR i IN range(1, len(toks) - 3)])
        ELSE [] END AS shingles
      FROM tok
    ), ex AS (
      SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh
    ), hot AS (
      SELECT s FROM ex GROUP BY s HAVING count(*) > 50
    ), exc AS (
      SELECT ex.* FROM ex ANTI JOIN hot USING (s)
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.n_sh AS na, b.n_sh AS nb, count(*) AS common
      FROM exc a JOIN exc b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    ), jp AS (
      SELECT doc_a, doc_b FROM pairs
      WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.2
        AND CAST(common AS DOUBLE) / (na + nb - common) >= 0.5
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM jp
      UNION
      SELECT doc_b, doc_a FROM jp
    ), reach AS (
      SELECT src AS id, src AS r FROM edges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ), comp AS (
      SELECT id, min(r) AS component FROM reach GROUP BY id
    ), csz AS (
      SELECT component, count(*) AS sz FROM comp GROUP BY component
    )
    SELECT
      (SELECT count(*) FROM documents) AS n_docs,
      (SELECT CAST(count(*) AS BIGINT) FROM jp) AS n_pairs,
      (SELECT CAST(count(DISTINCT doc_b) AS BIGINT) FROM jp)
        AS n_dropped_pairwise,
      (SELECT CAST(COALESCE(sum(CASE WHEN id <> component THEN 1 ELSE 0
          END), 0) AS BIGINT) FROM comp) AS n_dropped_chained,
      (SELECT CAST(COALESCE(sum(CASE WHEN id <> component THEN 1 ELSE 0
          END), 0) AS BIGINT) FROM comp)
        - (SELECT CAST(count(DISTINCT doc_b) AS BIGINT) FROM jp)
        AS n_chain_only,
      (SELECT CAST(count(*) AS BIGINT) FROM csz) AS n_components,
      (SELECT CAST(COALESCE(max(sz), 0) AS BIGINT) FROM csz)
        AS max_component_size
    """

LLM_ORACLES["dedup_chaining_threshold_sweep"] = r"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 5 THEN
          list_distinct([array_to_string(toks[i:i+4], ' ')
                         FOR i IN range(1, len(toks) - 3)])
        ELSE [] END AS shingles
      FROM tok
    ), ex AS (
      SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh
    ), hot AS (
      SELECT s FROM ex GROUP BY s HAVING count(*) > 50
    ), exc AS (
      SELECT ex.* FROM ex ANTI JOIN hot USING (s)
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.n_sh AS na, b.n_sh AS nb, count(*) AS common
      FROM exc a JOIN exc b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    ), jpbase AS (
      SELECT doc_a, doc_b,
        CAST(common AS DOUBLE) / (na + nb - common) AS j
      FROM pairs
      WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.2
    )
    , jp_t30 AS (
      SELECT doc_a, doc_b FROM jpbase WHERE j >= 0.3
    ), edges_t30 AS (
      SELECT doc_a AS src, doc_b AS dst FROM jp_t30
      UNION
      SELECT doc_b, doc_a FROM jp_t30
    ), reach_t30 AS (
      SELECT src AS id, src AS r FROM edges_t30
      UNION
      SELECT reach_t30.id, e.dst FROM reach_t30
        JOIN edges_t30 e ON reach_t30.r = e.src
    ), comp_t30 AS (
      SELECT id, min(r) AS component FROM reach_t30 GROUP BY id
    ), csz_t30 AS (
      SELECT component, count(*) AS sz FROM comp_t30 GROUP BY component
    )
    , jp_t50 AS (
      SELECT doc_a, doc_b FROM jpbase WHERE j >= 0.5
    ), edges_t50 AS (
      SELECT doc_a AS src, doc_b AS dst FROM jp_t50
      UNION
      SELECT doc_b, doc_a FROM jp_t50
    ), reach_t50 AS (
      SELECT src AS id, src AS r FROM edges_t50
      UNION
      SELECT reach_t50.id, e.dst FROM reach_t50
        JOIN edges_t50 e ON reach_t50.r = e.src
    ), comp_t50 AS (
      SELECT id, min(r) AS component FROM reach_t50 GROUP BY id
    ), csz_t50 AS (
      SELECT component, count(*) AS sz FROM comp_t50 GROUP BY component
    )
    , jp_t70 AS (
      SELECT doc_a, doc_b FROM jpbase WHERE j >= 0.7
    ), edges_t70 AS (
      SELECT doc_a AS src, doc_b AS dst FROM jp_t70
      UNION
      SELECT doc_b, doc_a FROM jp_t70
    ), reach_t70 AS (
      SELECT src AS id, src AS r FROM edges_t70
      UNION
      SELECT reach_t70.id, e.dst FROM reach_t70
        JOIN edges_t70 e ON reach_t70.r = e.src
    ), comp_t70 AS (
      SELECT id, min(r) AS component FROM reach_t70 GROUP BY id
    ), csz_t70 AS (
      SELECT component, count(*) AS sz FROM comp_t70 GROUP BY component
    )
    SELECT CAST(0.3 AS DOUBLE) AS threshold,
      (SELECT CAST(count(*) AS BIGINT) FROM jp_t30) AS n_pairs,
      (SELECT CAST(count(DISTINCT doc_b) AS BIGINT) FROM jp_t30)
        AS n_dropped_pairwise,
      (SELECT CAST(COALESCE(sum(CASE WHEN id <> component THEN 1 ELSE 0
          END), 0) AS BIGINT) FROM comp_t30) AS n_dropped_chained,
      (SELECT CAST(COALESCE(sum(CASE WHEN id <> component THEN 1 ELSE 0
          END), 0) AS BIGINT) FROM comp_t30)
        - (SELECT CAST(count(DISTINCT doc_b) AS BIGINT) FROM jp_t30)
        AS n_chain_only,
      (SELECT CAST(count(*) AS BIGINT) FROM csz_t30) AS n_components,
      (SELECT CAST(COALESCE(max(sz), 0) AS BIGINT) FROM csz_t30)
        AS max_component_size
    UNION ALL
    SELECT CAST(0.5 AS DOUBLE) AS threshold,
      (SELECT CAST(count(*) AS BIGINT) FROM jp_t50) AS n_pairs,
      (SELECT CAST(count(DISTINCT doc_b) AS BIGINT) FROM jp_t50)
        AS n_dropped_pairwise,
      (SELECT CAST(COALESCE(sum(CASE WHEN id <> component THEN 1 ELSE 0
          END), 0) AS BIGINT) FROM comp_t50) AS n_dropped_chained,
      (SELECT CAST(COALESCE(sum(CASE WHEN id <> component THEN 1 ELSE 0
          END), 0) AS BIGINT) FROM comp_t50)
        - (SELECT CAST(count(DISTINCT doc_b) AS BIGINT) FROM jp_t50)
        AS n_chain_only,
      (SELECT CAST(count(*) AS BIGINT) FROM csz_t50) AS n_components,
      (SELECT CAST(COALESCE(max(sz), 0) AS BIGINT) FROM csz_t50)
        AS max_component_size
    UNION ALL
    SELECT CAST(0.7 AS DOUBLE) AS threshold,
      (SELECT CAST(count(*) AS BIGINT) FROM jp_t70) AS n_pairs,
      (SELECT CAST(count(DISTINCT doc_b) AS BIGINT) FROM jp_t70)
        AS n_dropped_pairwise,
      (SELECT CAST(COALESCE(sum(CASE WHEN id <> component THEN 1 ELSE 0
          END), 0) AS BIGINT) FROM comp_t70) AS n_dropped_chained,
      (SELECT CAST(COALESCE(sum(CASE WHEN id <> component THEN 1 ELSE 0
          END), 0) AS BIGINT) FROM comp_t70)
        - (SELECT CAST(count(DISTINCT doc_b) AS BIGINT) FROM jp_t70)
        AS n_chain_only,
      (SELECT CAST(count(*) AS BIGINT) FROM csz_t70) AS n_components,
      (SELECT CAST(COALESCE(max(sz), 0) AS BIGINT) FROM csz_t70)
        AS max_component_size
    """

# LSH banding tradeoff: the certified pair table's exact jaccard run
# through repeated-squaring S-curves (no pow() — libm differs in the
# last ulp between engines), nano-quantized exact sums.
LLM_ORACLES["lsh_band_tradeoff_curve"] = r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 5 THEN
          list_distinct([array_to_string(toks[i:i+4], ' ')
                         FOR i IN range(1, len(toks) - 3)])
        ELSE [] END AS shingles
      FROM tok
    ), ex AS (
      SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh
    ), hot AS (
      SELECT s FROM ex GROUP BY s HAVING count(*) > 50
    ), exc AS (
      SELECT ex.* FROM ex ANTI JOIN hot USING (s)
    ), prs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.n_sh AS na, b.n_sh AS nb, count(*) AS common
      FROM exc a JOIN exc b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    ), jac AS (
      SELECT CAST(common AS DOUBLE) / (na + nb - common) AS s
      FROM prs
      WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.2
    ), sq AS (
      -- repeated squarings of s and staged (1 - s^r) chains
      SELECT s,
        s * s AS s2
      FROM jac
    ), sq2 AS (
      SELECT s, s2, s2 * s2 AS s4 FROM sq
    ), sq3 AS (
      SELECT s, s2, s4, s4 * s4 AS s8 FROM sq2
    ), sq4 AS (
      SELECT s, s4, s8, s8 * s8 AS s16 FROM sq3
    ), u AS (
      SELECT 32 AS bands, 4 AS rows_per_band, 1.0 - s4 AS q, 5 AS bsq
      FROM sq4
      UNION ALL
      SELECT 16, 8, 1.0 - s8, 4 FROM sq4
      UNION ALL
      SELECT 8, 16, 1.0 - s16, 3 FROM sq4
    ), powed AS (
      SELECT bands, rows_per_band,
        1.0 - (CASE bsq
          WHEN 3 THEN ((q*q)*(q*q))*((q*q)*(q*q))
          WHEN 4 THEN (((q*q)*(q*q))*((q*q)*(q*q)))
                      * (((q*q)*(q*q))*((q*q)*(q*q)))
          ELSE ((((q*q)*(q*q))*((q*q)*(q*q)))
                * (((q*q)*(q*q))*((q*q)*(q*q))))
               * ((((q*q)*(q*q))*((q*q)*(q*q)))
                  * (((q*q)*(q*q))*((q*q)*(q*q))))
        END) AS p
      FROM u
    )
    SELECT CAST(bands AS INTEGER) AS bands,
      CAST(rows_per_band AS INTEGER) AS rows_per_band,
      CAST(count(*) AS BIGINT) AS n_pairs,
      CAST(sum(CAST(floor(p * 1000000000.0) AS BIGINT)) AS BIGINT)
        AS expected_detected_nanos,
      CAST(sum(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_past_half_detection
    FROM powed GROUP BY 1, 2
    """


# --- r13: hydro flashiness + flood volume ----------------------------------
# Both mirror the hydro_twa_daily_mean conventions: minutes-of-day as
# exact integers from the wall-clock string, integer cents levels
# (round(wl*100) — the MAD-screen convention), index-based scalar
# folds over (t, v)-ordered in-day arrays.

HYDRO_ORACLES["hydro_flashiness_index"] = HYDRO_CTE + """
    , obs_ok AS (
      SELECT wlobscd, substr(obs_time_str, 1, 10) AS day,
        TRY_CAST(substr(obs_time_str, 12, 2) AS INTEGER) * 60
          + TRY_CAST(substr(obs_time_str, 15, 2) AS INTEGER) AS t,
        CAST(round(water_level * 100) AS BIGINT) AS v
      FROM classified WHERE water_level IS NOT NULL
    ),
    pts AS (
      SELECT wlobscd, day, count(*) AS n_obs,
        CAST(sum(v) AS BIGINT) AS sum_cents,
        list(struct_pack(t := t, v := v) ORDER BY t, v) AS arr
      FROM obs_ok WHERE t IS NOT NULL GROUP BY 1, 2
    ),
    folded AS (
      SELECT wlobscd, day, n_obs, sum_cents,
        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(2, greatest(len(arr), 1) + 1),
            i -> abs(arr[i].v - arr[i - 1].v))),
          (a, b) -> a + b) AS BIGINT) AS within_abs,
        arr[1].v AS first_cents,
        arr[len(arr)].v AS last_cents
      FROM pts
    ),
    bounded AS (
      SELECT wlobscd, n_obs, sum_cents, within_abs,
        COALESCE(abs(first_cents - lag(last_cents) OVER (
          PARTITION BY wlobscd ORDER BY day)), 0) AS boundary_abs
      FROM folded
    ),
    rolled AS (
      SELECT wlobscd,
        CAST(sum(n_obs) AS BIGINT) AS n_obs,
        CAST(sum(within_abs + boundary_abs) AS BIGINT)
          AS sum_abs_delta_cents,
        CAST(sum(sum_cents) AS BIGINT) AS sum_level_cents
      FROM bounded GROUP BY wlobscd
    )
    SELECT wlobscd, n_obs, sum_abs_delta_cents, sum_level_cents,
      CASE WHEN sum_level_cents > 0 THEN
        CAST(sum_abs_delta_cents AS DOUBLE)
          / CAST(sum_level_cents AS DOUBLE)
      END AS flashiness
    FROM rolled
    """

HYDRO_ORACLES["hydro_flood_volume"] = HYDRO_CTE + """
    , obs_ok AS (
      SELECT wlobscd, substr(obs_time_str, 1, 10) AS day,
        TRY_CAST(substr(obs_time_str, 12, 2) AS INTEGER) * 60
          + TRY_CAST(substr(obs_time_str, 15, 2) AS INTEGER) AS t,
        greatest(CAST(round(water_level * 100) AS BIGINT)
                 - CAST(round(attwl * 100) AS BIGINT),
                 CAST(0 AS BIGINT)) AS v
      FROM classified
      WHERE water_level IS NOT NULL AND station_found
        AND attwl IS NOT NULL AND attwl > 0
    ),
    pts AS (
      SELECT wlobscd, day, count(*) AS n_obs,
        CAST(sum(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_exceed,
        CAST(max(v) AS BIGINT) AS max_exceed,
        list(struct_pack(t := t, v := v) ORDER BY t, v) AS arr
      FROM obs_ok WHERE t IS NOT NULL GROUP BY 1, 2
    ),
    folded AS (
      SELECT wlobscd, day, n_obs, n_exceed, max_exceed,
        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(2, greatest(len(arr), 1) + 1),
            i -> (arr[i].t - arr[i - 1].t) * (arr[i].v + arr[i - 1].v))),
          (a, b) -> a + b) AS BIGINT) AS twice_vol
      FROM pts
    )
    SELECT wlobscd,
      CAST(sum(n_obs) AS BIGINT) AS n_obs,
      CAST(sum(n_exceed) AS BIGINT) AS n_exceed_obs,
      CAST(max(max_exceed) AS BIGINT) AS max_exceed_cents,
      CAST(sum(twice_vol) AS BIGINT) AS twice_volume_cents_min
    FROM folded GROUP BY wlobscd
    """


# --- r13: cadence/bot screen, EWMA chart, sketch certificate, drift --------

RELATIONAL_ORACLES["events_bot_regularity_screen"] = """
    WITH g AS (
      SELECT user_id,
        (epoch_us(ts) - epoch_us(lag(ts) OVER (
          PARTITION BY user_id ORDER BY ts, event_id))) // 1000000
          AS gap_s
      FROM events
    ), agg AS (
      SELECT user_id, count(*) AS n,
        sum(gap_s::HUGEINT) AS s1,
        sum((gap_s * gap_s)::HUGEINT) AS s2
      FROM g WHERE gap_s IS NOT NULL
      GROUP BY user_id HAVING count(*) >= 10
    )
    -- sums to DOUBLE first, variance algebra in double space: the
    -- products pass 2^53 long before the sums do, and HUGEINT->DOUBLE
    -- is not correctly rounded there (SCALE.md §r13)
    SELECT user_id,
      CAST(n AS BIGINT) AS n_gaps,
      CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_gap_s,
      CASE WHEN s1 > 0 THEN
        (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        / (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      END AS cv2,
      n >= 20 AND s1 > 0
        AND CASE WHEN s1 > 0 THEN
          (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
          / (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        END < 0.01 AS is_regular_bot
    FROM agg
    """

# EWMA chart: the same sequential (acc + x) * 0.5 fold over the
# day-sorted count array, seeded at the first day — dyadic-exact.
RELATIONAL_ORACLES["events_ewma_control"] = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), arrs AS (
      SELECT event_type,
        list(struct_pack(day := day, n := n) ORDER BY day) AS arr
      FROM daily GROUP BY event_type
    ), ex AS (
      SELECT event_type, arr, unnest(range(1, len(arr) + 1)) AS i
      FROM arrs
    ), folded AS (
      SELECT event_type,
        arr[i].day AS day,
        arr[i].n AS n_events,
        CASE WHEN i > 1 THEN
          list_reduce(
            list_prepend(CAST(arr[1].n AS DOUBLE),
              list_transform(range(2, i), j -> CAST(arr[j].n AS DOUBLE))),
            (acc, x) -> (acc + x) * 0.5)
        END AS ewma_prev
      FROM ex
    )
    SELECT event_type, day,
      CAST(n_events AS BIGINT) AS n_events,
      ewma_prev,
      CASE WHEN ewma_prev IS NOT NULL THEN
        CAST(n_events AS DOUBLE) > 2 * ewma_prev
      END AS is_spike
    FROM folded
    """

# Quantile-sketch certificate: the sketch element is engine-specific
# and never emitted; the oracle asserts the GUARANTEE (the
# events_hll_accuracy constant-flag pattern) plus the exact counts.
RELATIONAL_ORACLES["events_quantile_sketch_error"] = """
    WITH base AS (
      SELECT event_type, count(*) AS n FROM events
      WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT event_type,
      CAST(p_pct AS INTEGER) AS p_pct,
      CAST(n AS BIGINT) AS n,
      TRUE AS within_rank_tolerance
    FROM base, unnest([50, 90]) AS u(p_pct)
    """

RELATIONAL_ORACLES["supplier_share_drift"] = """
    WITH li AS (
      SELECT l_partkey, l_suppkey,
        CAST(TRY_CAST(printf('%.2f', l_extendedprice) AS DECIMAL(12,2))
             * (1 - TRY_CAST(printf('%.2f', l_discount) AS DECIMAL(12,2)))
             * 10000 AS HUGEINT) AS c,
        CAST(date_diff('day', DATE '1970-01-01',
             CAST(l_shipdate AS DATE)) AS BIGINT) AS d
      FROM lineitem
    ), rng AS (
      SELECT CAST(floor((min(d) + max(d)) / 2.0) AS BIGINT) AS mid FROM li
    ), staged AS (
      SELECT p.p_brand, li.l_suppkey, li.c, li.d <= rng.mid AS first_half
      FROM li JOIN part p ON li.l_partkey = p.p_partkey, rng
    ), per_supp AS (
      SELECT p_brand, l_suppkey,
        sum(CASE WHEN first_half THEN c ELSE 0 END) AS c1,
        sum(CASE WHEN first_half THEN 0 ELSE c END) AS c2
      FROM staged GROUP BY 1, 2
    ), winded AS (
      SELECT p_brand, c1, c2,
        sum(c1) OVER (PARTITION BY p_brand) AS n1,
        sum(c2) OVER (PARTITION BY p_brand) AS n2
      FROM per_supp
    ), tots AS (
      -- per-supplier share differences quantized to nanos: every
      -- double conversion stays under 2^53 (DuckDB's HUGEINT->DOUBLE
      -- cast is NOT correctly rounded past it — measured, see the
      -- Spark docstring)
      SELECT p_brand, count(*) AS n_suppliers,
        max(n1) AS n1, max(n2) AS n2,
        sum(CASE WHEN n1 > 0 AND n2 > 0 THEN
          CAST(floor(abs(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                         - CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                     * 1000000000.0) AS BIGINT)
        END) AS tv_nanos
      FROM winded GROUP BY p_brand
    )
    SELECT p_brand,
      CAST(n_suppliers AS BIGINT) AS n_suppliers,
      CAST(n1 AS DOUBLE) AS rev1_hcents,
      CAST(n2 AS DOUBLE) AS rev2_hcents,
      CASE WHEN n1 > 0 AND n2 > 0 THEN
        CAST(tv_nanos AS DOUBLE) / 2000000000.0
      END AS tv_share_drift
    FROM tots
    """


# --- r13: wire redelivery collapse + tokenizer fertility -------------------

WIRE_ORACLES["wire_dedup_replay"] = _WIRE_CTE + """
    , parsed AS (
      SELECT obs_id,
        json_extract_string(value, '$.wlobscd') AS wlobscd,
        json_extract_string(value, '$.ymdhm') AS ymdhm,
        json_extract_string(value, '$.wl') AS wl,
        json_extract_string(value, '$.fw') AS fw
      FROM wire WHERE json_valid(value)
    ), delivered AS (
      SELECT * FROM parsed
      UNION ALL
      SELECT * FROM parsed WHERE obs_id % 11 = 0
    ), per_key AS (
      SELECT COALESCE(wlobscd, '__null_station__') AS station, obs_id,
        count(*) AS c,
        count(DISTINCT md5(COALESCE(wlobscd, '') || '|'
          || COALESCE(ymdhm, '') || '|' || COALESCE(wl, '') || '|'
          || COALESCE(fw, ''))) AS pd
      FROM delivered GROUP BY 1, 2
    )
    SELECT station,
      CAST(sum(c) AS BIGINT) AS n_delivered,
      CAST(count(*) AS BIGINT) AS n_unique,
      CAST(sum(c - 1) AS BIGINT) AS n_dups_dropped,
      CAST(sum(c - 1) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dup_rate,
      CAST(sum(CASE WHEN pd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_conflicting_payloads
    FROM per_key GROUP BY station
    """

LLM_ORACLES["docs_tokenizer_fertility"] = r"""
    WITH words AS (
      SELECT source, lower(unnest(regexp_split_to_array(trim(text), '\s+')))
        AS w
      FROM documents
    ), swc AS (
      SELECT source, w, count(*) AS wn FROM words GROUP BY 1, 2
    ), prs AS (
      SELECT wn, unnest(CASE WHEN length(w) >= 2 THEN
          [substr(w, i, 2) FOR i IN range(1, length(w))]
        ELSE [] END) AS pair
      FROM swc
    ), top1 AS (
      SELECT pair AS mp FROM prs GROUP BY pair
      ORDER BY sum(wn) DESC, pair ASC LIMIT 1
    ), staged AS (
      SELECT source, wn, length(w) AS n_chars_w,
        length(replace(w, mp, chr(1))) AS n_syms_w
      FROM swc, top1
    ), rolled AS (
      SELECT source,
        CAST(count(*) AS BIGINT) AS n_vocab,
        CAST(sum(wn) AS BIGINT) AS n_words,
        CAST(sum(wn * n_chars_w) AS BIGINT) AS n_chars,
        CAST(sum(wn * n_syms_w) AS BIGINT) AS n_syms
      FROM staged GROUP BY source
    )
    SELECT source, n_vocab, n_words, n_chars, n_syms,
      CASE WHEN n_chars > 0 THEN
        CAST(n_syms AS DOUBLE) / CAST(n_chars AS DOUBLE) * 100.0
      END AS syms_per_100_chars
    FROM rolled
    """


# Shard-skew-aware recall: the cells CTE + the full recall-report
# oracle composed as derived tables (both already exact twins).
LLM_ORACLES["ann_recall_by_occupancy"] = (
    _ivf_cells_cte()
    + """
    , sizes AS (
      SELECT cell, count(*) AS n_vecs FROM scored GROUP BY cell
    ), rec AS (
    """
    + LLM_ORACLES["ann_ivf_recall_report"]
    + """
    ), qc AS (
      SELECT s.cell, r.n_hits FROM scored s
      JOIN rec r ON s.vec_id = r.query_id
    ), per_cell AS (
      SELECT cell, count(*) AS n_queries, sum(n_hits) AS sum_hits
      FROM qc GROUP BY cell
    )
    SELECT CAST(sizes.cell AS INTEGER) AS cell,
      CAST(n_vecs AS BIGINT) AS n_vecs,
      CAST(COALESCE(n_queries, 0) AS BIGINT) AS n_queries,
      CAST(COALESCE(sum_hits, 0) AS BIGINT) AS sum_hits,
      CASE WHEN COALESCE(n_queries, 0) > 0 THEN
        CAST(sum_hits AS DOUBLE) / (5.0 * CAST(n_queries AS DOUBLE))
      END AS recall_at_5
    FROM sizes LEFT JOIN per_cell ON sizes.cell = per_cell.cell
    """
)


# --- r13: streaming<->batch parity certificates ----------------------------
# The oracle for each parity query is the BATCH face's own (already
# exact) SQL plus a constant-TRUE flag — the Spark side serves the
# values from the STREAMING store, so a maintainer bug diverges the
# values and the flag under the driver hash (the events_hll_accuracy
# constant-flag pattern, applied to streaming parity).

LLM_ORACLES["stream_batch_cms_parity"] = (
    "WITH b AS ("
    + LLM_ORACLES["docs_cms_heavy_hitters"]
    + """)
    SELECT term, exact_cnt, cms_est, inflation,
      TRUE AS matches_batch_face
    FROM b
    """
)

RELATIONAL_ORACLES["stream_batch_psi_parity"] = (
    "WITH b AS ("
    + RELATIONAL_ORACLES["events_psi_by_type"]
    + """)
    SELECT event_type, n_first, n_second, psi,
      TRUE AS matches_batch_face
    FROM b
    """
)

LLM_ORACLES["stream_batch_bm25_parity"] = (
    "WITH b AS ("
    + LLM_ORACLES["docs_bm25_topk"]
    + """)
    SELECT query_id, rank, doc_id, score, n_terms,
      TRUE AS matches_batch_face
    FROM b
    """
)

RELATIONAL_ORACLES["stream_batch_kmv_parity"] = (
    "WITH b AS ("
    + RELATIONAL_ORACLES["events_kmv_setops"]
    + """)
    SELECT type_a, type_b, kmv_a, kmv_b, kmv_union, kmv_inter,
      TRUE AS matches_batch_face
    FROM b
    """
)

RELATIONAL_ORACLES["stream_batch_qsample_parity"] = (
    "WITH b AS ("
    + RELATIONAL_ORACLES["events_sampled_quantiles"]
    + """)
    SELECT event_type, n_sample, est_p50, est_p90, est_p99,
      TRUE AS matches_batch_face
    FROM b
    """
)

RELATIONAL_ORACLES["stream_batch_ks_parity"] = (
    "WITH b AS ("
    + RELATIONAL_ORACLES["events_ks_two_sample"]
    + """)
    SELECT event_type, n_t, n_rest, d_stat, d_at_value,
      TRUE AS matches_batch_face
    FROM b
    """
)

RELATIONAL_ORACLES["stream_batch_scd2_parity"] = (
    "WITH b AS ("
    + RELATIONAL_ORACLES["customer_scd2_history"]
    + """)
    SELECT cust_key, version, priority, valid_from, valid_to,
      is_current, n_orders,
      TRUE AS matches_batch_face
    FROM b
    """
)

# Lateness certificate: the batch face's exact arms (same global-window
# SQL) plus the 1/64 qsample's rank-rule quantiles over the SAME
# lateness values (the events_sampled_quantiles sample predicate keyed
# by event_id).
RELATIONAL_ORACLES["stream_batch_lateness_parity"] = """
    WITH base AS (
      SELECT event_id, event_type, epoch_us(ts) AS us FROM events
    ), hw AS (
      SELECT event_id, event_type, us,
        max(us) OVER (ORDER BY event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS seen
      FROM base
    ), lat AS (
      SELECT event_id, event_type,
        greatest(0, coalesce(seen, 0) - us) AS value
      FROM hw
    ), exact AS (
      SELECT event_type, count(*) AS n,
        sum(CASE WHEN value > 600000000 THEN 1 ELSE 0 END) AS n_late,
        max(value) AS max_us
      FROM lat GROUP BY 1
    ), samp AS (
      SELECT event_type, value FROM lat
      WHERE ((event_id % 2147483648) * 2654435761) % 2147483648
            < 33554432
    ), sranked AS (
      SELECT event_type, value,
        row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        count(*) OVER (PARTITION BY event_type) AS n
      FROM samp
    ), est AS (
      SELECT event_type, max(n) AS s_n,
        max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
            THEN value END) AS s_p50,
        max(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT)
            THEN value END) AS s_p95,
        max(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT)
            THEN value END) AS s_p99
      FROM sranked GROUP BY 1
    )
    SELECT e.event_type,
      CAST(e.n AS BIGINT) AS n,
      CAST(e.n_late AS BIGINT) AS n_late_10m,
      CAST(e.max_us AS BIGINT) AS max_us,
      CAST(s.s_n AS BIGINT) AS n_sample,
      CAST(s.s_p50 AS BIGINT) AS est_p50_us,
      CAST(s.s_p95 AS BIGINT) AS est_p95_us,
      CAST(s.s_p99 AS BIGINT) AS est_p99_us,
      TRUE AS matches_batch_face
    FROM exact e LEFT JOIN est s ON e.event_type = s.event_type
    """

LLM_ORACLES["stream_batch_tv_parity"] = (
    "WITH b AS ("
    + LLM_ORACLES["docs_source_tv_distance"]
    + """)
    SELECT source_a, source_b, n_toks_a, n_toks_b, tv_distance,
      TRUE AS matches_batch_face
    FROM b
    """
)

# LM-stats certificate: exact-integer bigram counts (the perplexity
# oracle's tok/bgu/corpus_bg head) — top-20 by (count desc, bigram asc)
# plus the global checksums.
LLM_ORACLES["stream_batch_lm_parity"] = r"""
    WITH tok AS (
      SELECT doc_id,
        list_transform(regexp_split_to_array(trim(text), '\s+'),
                       t -> lower(t)) AS toks
      FROM documents
    ), bgu AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS bg
      FROM tok WHERE len(toks) >= 2
    ), cb AS (
      SELECT bg, count(*) AS c FROM bgu GROUP BY 1
    ), g AS (
      SELECT count(*) AS n_distinct_bg, sum(c) AS total_c FROM cb
    ), top AS (
      SELECT bg, c,
        row_number() OVER (ORDER BY c DESC, bg ASC) AS rank
      FROM cb
    )
    SELECT CAST(t.rank AS INTEGER) AS rank, t.bg,
      CAST(t.c AS BIGINT) AS c,
      CAST(g.n_distinct_bg AS BIGINT) AS n_distinct_bg,
      CAST(g.total_c AS BIGINT) AS total_c,
      TRUE AS matches_batch_face
    FROM top t CROSS JOIN g
    WHERE t.rank <= 20
    """

# Sessionization certificate: the batch face's own SQL + TRUE (the
# r13/r14 parity-oracle convention — the certificate's value is the
# matches_batch_face conjunction computed Spark-side from the store).
RELATIONAL_ORACLES["stream_batch_session_parity"] = (
    "WITH b AS ("
    + RELATIONAL_ORACLES["events_sessionize"]
    + """)
    SELECT user_id, n_sessions, max_session_events,
      TRUE AS matches_batch_face
    FROM b
    """
)

# Apriori level-3 mining: CTEs are AS MATERIALIZED — DuckDB's default
# inlining re-plans the multiply-referenced pair/triple CTEs into a
# pathological join order (>10 min at sf0.1 vs 0.9 s materialized;
# measured 2026-08-16). States the LOGICAL form (triples
# clearing relative minsup, with singleton/pair supports); the Spark
# plan's candidate pruning is efficiency-only — support monotonicity
# guarantees identical result sets, which is exactly what the hash
# compare certifies. minsup is the integer test 10000*n >= 35*n_orders
# (0.35%, measured selective AND non-vacuous at all three SFs:
# 771/2217, 796/2300, 423/2300 pass).
RELATIONAL_ORACLES["brand_itemset3_support"] = """
    WITH ob AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS ok, p_brand AS b
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ), n AS (SELECT count(DISTINCT ok) AS n_orders FROM ob),
    c1 AS MATERIALIZED (SELECT b, count(*) AS n1 FROM ob GROUP BY b),
    c2 AS MATERIALIZED (
      SELECT a.b AS ia, x.b AS ib, count(*) AS n2
      FROM ob a JOIN ob x ON a.ok = x.ok AND a.b < x.b
      GROUP BY 1, 2
    ), c3 AS MATERIALIZED (
      SELECT a.b AS ia, x.b AS ib, y.b AS ic, count(*) AS n_abc
      FROM ob a JOIN ob x ON a.ok = x.ok AND a.b < x.b
                JOIN ob y ON a.ok = y.ok AND x.b < y.b
      GROUP BY 1, 2, 3
    )
    SELECT c3.ia AS brand_a, c3.ib AS brand_b, c3.ic AS brand_c,
      CAST(c3.n_abc AS BIGINT) AS n_abc,
      CAST(sa.n1 AS BIGINT) AS n_a,
      CAST(sb.n1 AS BIGINT) AS n_b,
      CAST(sc.n1 AS BIGINT) AS n_c,
      CAST(least(pab.n2, pac.n2, pbc.n2) AS BIGINT) AS min_pair_support,
      round(CAST(c3.n_abc AS DOUBLE) / CAST(n.n_orders AS DOUBLE), 6)
        AS support_share
    FROM c3
    CROSS JOIN n
    JOIN c1 sa ON sa.b = c3.ia
    JOIN c1 sb ON sb.b = c3.ib
    JOIN c1 sc ON sc.b = c3.ic
    JOIN c2 pab ON pab.ia = c3.ia AND pab.ib = c3.ib
    JOIN c2 pac ON pac.ia = c3.ia AND pac.ib = c3.ic
    JOIN c2 pbc ON pbc.ia = c3.ib AND pbc.ib = c3.ic
    WHERE 10000 * c3.n_abc >= 35 * n.n_orders
    """
