"""DuckDB oracle twins for the gate queries — ANSI/DuckDB SQL strings
keyed by query name, value-identical to the Spark plans at any SF.
Bodies moved verbatim from __spark_entry__.py (round 13); the entry file
re-exports ``build_oracles`` as ``oracle_sql``."""

from __future__ import annotations

from vectordb_watermark_spark.gallery._common import (
    EMB,
    KEY,
    KNN_K,
    RATE,
    _DEGREES_SQL,
    _NORM_SQL,
    _attacked_norm_sql,
)

__all__ = ["build_oracles"]


def build_oracles() -> dict[str, str]:
    from vectordb_watermark_spark.functions import text as T
    from vectordb_watermark_spark.functions.bits import crc4_table_sql
    from vectordb_watermark_spark.functions.hashing import (
        sql_hash_gauss_word,
        sql_word60,
        sql_keyed_hash_hex,
        sql_keyed_uniform,
    )
    from vectordb_watermark_spark.operators.dedup import BAND_SIZE, N_MINHASH, SIMHASH_BITS
    from vectordb_watermark_spark.operators.knn import tau_from_bucket_sql
    from vectordb_watermark_spark.operators.selection import carrier_selection_oracle_sql

    # exact cross-engine gate threshold (knn._EIGHTH_POW2 decomposition)
    _TAU_SQL = tau_from_bucket_sql("min(b)")

    _bigram_sql = f"""
            WITH toks AS (
              SELECT doc_id, {T.sql_tokens('lower(text)')} AS l FROM documents
            ),
            uni AS (
              SELECT w, count(*) AS cnt
              FROM (SELECT unnest(l) AS w FROM toks) GROUP BY w
            ),
            tot AS (SELECT sum(cnt) AS total FROM uni),
            pairs AS (
              SELECT doc_id, l[i] AS w1, l[i+1] AS w2
              FROM toks, LATERAL unnest(generate_series(1, len(l) - 1)) AS t(i)
              WHERE len(l) >= 2
            ),
            bi AS (
              SELECT w1, w2, count(*) AS cnt FROM pairs
              GROUP BY w1, w2 HAVING count(*) >= 2
            ),
            scored AS (
              SELECT p.doc_id,
                     CASE WHEN b.cnt IS NOT NULL
                          THEN log10(b.cnt / CAST(u1.cnt AS DOUBLE))
                          ELSE log10(0.4 * u2.cnt / CAST(t.total AS DOUBLE)) END AS lp
              FROM pairs p
              LEFT JOIN bi b ON p.w1 = b.w1 AND p.w2 = b.w2
              JOIN uni u1 ON p.w1 = u1.w
              JOIN uni u2 ON p.w2 = u2.w
              CROSS JOIN tot t
            )
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   round(avg(lp), 6) AS bigram_lm_score
            FROM scored GROUP BY doc_id"""

    u_attack = sql_keyed_uniform("'attack-42'", "'v'", "vec_id")
    u_sample = sql_keyed_uniform("'sample-42'", "'v'", "vec_id")

    # mirror as_float_array: the Spark attack stores FLOAT elements, so the
    # oracle rounds through FLOAT before the double-precision norm.  Noise is
    # one sha256 per 4 elements + one 60-bit word per element
    # (operators/attacks.gaussian_attack / hashing.hash_gauss_word)
    _g_digest = sql_keyed_hash_hex("'attack-42'", "'g'", "vec_id", "CAST(p[2] // 4 AS BIGINT)")
    _g_word = sql_word60(_g_digest, offset="1 + (p[2] % 4) * 15")
    gauss_elem = (
        "list_transform(list_zip(embedding, generate_series(0, len(embedding) - 1)), "
        "p -> CAST(CAST(CAST(p[1] AS DOUBLE) + 0.1 * "
        + sql_hash_gauss_word(_g_word)
        + " AS FLOAT) AS DOUBLE))"
    )

    mean_vec_sql = """
    (SELECT list(avg_val ORDER BY pos) FROM (
       SELECT pos, avg(CAST(val AS DOUBLE)) AS avg_val FROM (
         SELECT generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS val
         FROM embeddings
       ) GROUP BY pos
    ))"""

    toks = T.sql_tokens("lower(text)")
    toks_set = f"list_distinct({toks})"
    # coordinate j = multiply-shift lane over the 60-bit sha256 word of each
    # token: (hi*A_j + lo*B_j + C_j) mod 2^30 (matches operators/dedup.py
    # minhash_signatures; every product < 2^60, so BIGINT arithmetic cannot
    # overflow in either engine)
    from vectordb_watermark_spark.operators.dedup import LANE_A, LANE_B, LANE_C

    # 60-bit sha256 word per token, computed once; each coordinate is a cheap
    # multiply-shift over its 30-bit halves
    _mh_words = (
        f"list_transform({toks_set}, "
        "t -> CAST(CAST(('0x' || substr(sha256(t), 1, 15)) AS UBIGINT) AS BIGINT))"
    )

    def _mh_coord(j: int) -> str:
        lane = (
            f"(((h >> 30) * {LANE_A[j]} + (h & 1073741823) * {LANE_B[j]}"
            f" + {LANE_C[j]}) & 1073741823)"
        )
        return (
            f"CAST(list_min(list_transform(hs, h -> CAST({lane} AS BIGINT))) AS BIGINT) AS mh{j}"
        )

    mh_cols = ", ".join(_mh_coord(j) for j in range(N_MINHASH))
    band_exprs = []
    for b in range(N_MINHASH // BAND_SIZE):
        cols = " || ',' || ".join(
            f"CAST(mh{b * BAND_SIZE + j} AS VARCHAR)" for j in range(BAND_SIZE)
        )
        band_exprs.append(f"ROW({b}, md5({cols}))")

    sim_bit_hash = "CAST(CAST(('0x' || substr(sha256(tok), 1, 12)) AS UBIGINT) AS BIGINT)"

    from vectordb_watermark_spark.streaming.events import sessionize_batch_oracle_sql

    u_viz = sql_keyed_uniform("'viz-42'", "'s'", "vec_id")
    viz_frac = "least(1.0, 200.0 / greatest((SELECT count(*) FROM embeddings), 1))"
    e_dbl = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

    out = {
        "carriers_by_threshold": f"""
            SELECT id, degree FROM ({_DEGREES_SQL}) WHERE degree <= 10""",
        "pairwise_viz_stats": f"""
            WITH s AS (
              SELECT vec_id AS id, {e_dbl} AS e FROM embeddings
              WHERE {u_viz} < ({viz_frac})
            ),
            p AS (
              SELECT sqrt(list_sum(list_transform(list_zip(a.e, b.e),
                          q -> (q[1] - q[2]) * (q[1] - q[2])))) AS dist,
                     list_sum(list_transform(list_zip(a.e, b.e), q -> q[1] * q[2]))
                       / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
                          * sqrt(list_sum(list_transform(b.e, x -> x * x))) + 1e-12) AS cos
              FROM s a JOIN s b ON a.id < b.id
            )
            SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                   round(avg(dist), 6) AS mean_dist, round(max(dist), 6) AS max_dist,
                   round(avg(cos), 6) AS mean_cos, round(min(cos), 6) AS min_cos,
                   round(max(cos), 6) AS max_cos, round(stddev_samp(cos), 6) AS std_cos
            FROM p""",
        "events_sessionize": sessionize_batch_oracle_sql(gap_seconds=900),
        "media_metadata": """
            SELECT doc_id AS id,
                   CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
                   sha256(text) AS content_hash,
                   'unknown' AS media_type
            FROM documents""",
        # Inequality contract, not an equivalence: DuckDB pins the expected
        # constant row; Spark reproduces it iff LSH recall >= min_recall.
        "knn_lsh_recall": f"""
            SELECT CAST(TRUE AS BOOLEAN) AS recall_ok,
                   CAST(0.95 AS DOUBLE) AS min_recall,
                   CAST({KNN_K} AS INT) AS k""",
        # Contract oracle for the headline composite: success/msg_match/16
        # blocks pinned; total_decodes is the deterministic carrier count
        # min(max(floor(N*rate), 16), N) computed from the table itself;
        # decode_floor_ok pins valid >= 90% of total (measured: 100%).
        "watermark_roundtrip": """
            SELECT CAST(TRUE AS BOOLEAN) AS success,
                   CAST(TRUE AS BOOLEAN) AS msg_match,
                   CAST(16 AS INT) AS recovered_blocks,
                   CAST(least(greatest(CAST(floor(count(*) * 0.2) AS BIGINT),
                                       16), count(*)) AS BIGINT) AS total_decodes,
                   CAST(TRUE AS BOOLEAN) AS decode_floor_ok
            FROM embeddings""",
        "ivf_recall": """
            SELECT CAST(TRUE AS BOOLEAN) AS recall_ok,
                   CAST(0.7 AS DOUBLE) AS min_recall,
                   CAST(10 AS INT) AS k""",
        "pq_recall": """
            SELECT CAST(TRUE AS BOOLEAN) AS recall_ok,
                   CAST(0.6 AS DOUBLE) AS min_recall,
                   CAST(10 AS INT) AS k""",
        "ann_batch_exactness": """
            SELECT CAST(TRUE AS BOOLEAN) AS batch_agrees,
                   CAST(5 AS INT) AS n_queries,
                   CAST(10 AS INT) AS k""",
        # robust per-dimension outlier gate (functions/vector): exact
        # medians/MADs rounded 6dp before the comparison in BOTH engines
        "embedding_outliers": """
            WITH e AS (
              SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS pos,
                     CAST(unnest(embedding) AS DOUBLE) AS v
              FROM embeddings
            ),
            med AS (
              SELECT pos, round(quantile_cont(v, 0.5), 6) AS med
              FROM e GROUP BY pos
            ),
            ad AS (
              SELECT e.pos, abs(e.v - m.med) AS ad
              FROM e JOIN med m USING (pos)
            ),
            mad AS (
              SELECT pos, round(quantile_cont(ad, 0.5), 6) AS mad
              FROM ad GROUP BY pos
            ),
            o AS (
              SELECT e.id,
                     CASE WHEN abs(e.v - m.med) > greatest(6.0 * 1.4826 * d.mad, 0.000001)
                          THEN 1 ELSE 0 END AS o
              FROM e JOIN med m USING (pos) JOIN mad d USING (pos)
            )
            SELECT id, CAST(sum(o) AS BIGINT) AS n_outlier_dims,
                   sum(o) > 0 AS outlier
            FROM o GROUP BY id""",
        # URL canonicalization (functions/text.url_normalize twins,
        # built at runtime so Spark and DuckDB share one regex source)
        "url_curation": (lambda _m: f"""
            SELECT doc_id,
                   {T.sql_url_normalize(_m)} AS url_norm,
                   {T.sql_url_domain(_m)} AS domain
            FROM documents""")(
            "('HTTPS://WWW.' || source || '.Example.COM:443/Path/' || "
            "CAST(doc_id AS VARCHAR) || '?utm_source=x&id=' || "
            "CAST(doc_id AS VARCHAR) || '&fbclid=abc&keep=1#frag')"
        ),
        "ivf_drift_contract": """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(TRUE AS BOOLEAN) AS fresh_ratio_unit,
                   CAST(TRUE AS BOOLEAN) AS compacted_ratio_unit,
                   CAST(TRUE AS BOOLEAN) AS rows_preserved,
                   CAST(TRUE AS BOOLEAN) AS skew_sane
            FROM embeddings""",
        "pq_drift_contract": """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(TRUE AS BOOLEAN) AS fresh_unit,
                   CAST(TRUE AS BOOLEAN) AS compacted_unit,
                   CAST(TRUE AS BOOLEAN) AS rows_preserved,
                   CAST(TRUE AS BOOLEAN) AS skew_sane
            FROM embeddings""",
        "group_split_docs": f"""
            SELECT doc_id,
                   CASE WHEN {sql_keyed_uniform("'gs-7'", "'grpsplit'", "source")} < 0.25
                        THEN 'val' ELSE 'train' END AS split
            FROM documents""",

        "knn_pagerank": f"""
WITH v AS (
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
pairs AS (
  SELECT a.id AS src, b.id AS dst,
         list_sum(list_transform(list_zip(a.e, b.e), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist2
  FROM v a JOIN v b ON a.id <> b.id
),
ranked AS (
  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dist2, dst) AS rk
  FROM pairs
),
knn_edges AS (SELECT src, dst FROM ranked WHERE rk <= {KNN_K}),
p0 AS (
  SELECT id AS node, ROUND(1.0 / (SELECT count(*) FROM v), 12) AS pr FROM v
),
p1 AS (
  SELECT v.id AS node,
         ROUND((1 - 0.85) * (1.0 / (SELECT count(*) FROM v))
               + 0.85 * COALESCE(c.s, 0), 12) AS pr
  FROM v LEFT JOIN (
    SELECT e.dst AS dst, SUM(p.pr / 16) AS s
    FROM knn_edges e JOIN p0 p ON e.src = p.node GROUP BY e.dst
  ) c ON v.id = c.dst
),
p2 AS (
  SELECT v.id AS node,
         ROUND((1 - 0.85) * (1.0 / (SELECT count(*) FROM v))
               + 0.85 * COALESCE(c.s, 0), 12) AS pr
  FROM v LEFT JOIN (
    SELECT e.dst AS dst, SUM(p.pr / 16) AS s
    FROM knn_edges e JOIN p1 p ON e.src = p.node GROUP BY e.dst
  ) c ON v.id = c.dst
),
p3 AS (
  SELECT v.id AS node,
         ROUND((1 - 0.85) * (1.0 / (SELECT count(*) FROM v))
               + 0.85 * COALESCE(c.s, 0), 12) AS pr
  FROM v LEFT JOIN (
    SELECT e.dst AS dst, SUM(p.pr / 16) AS s
    FROM knn_edges e JOIN p2 p ON e.src = p.node GROUP BY e.dst
  ) c ON v.id = c.dst
)
SELECT node, ROUND(pr, 9) AS pr FROM p3
""",
        "zorder_contract": """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(TRUE AS BOOLEAN) AS rows_preserved,
                   CAST(TRUE AS BOOLEAN) AS x_span_narrowed,
                   CAST(TRUE AS BOOLEAN) AS y_span_narrowed,
                   CAST(TRUE AS BOOLEAN) AS files_balanced
            FROM lineitem""",
        "bm25_docs": f"""
            WITH d AS (SELECT doc_id AS id, {T.sql_tokens('text')} AS ts FROM documents),
            docs AS (SELECT id, len(ts) AS dl FROM d),
            stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM docs),
            hits AS (
              SELECT dd.id, dd.dl, t
              FROM (SELECT id, len(ts) AS dl, ts FROM d) dd
              CROSS JOIN UNNEST(dd.ts) AS u(t)
              WHERE t IN ('batch', 'data', 'fast')
            ),
            tf AS (SELECT id, dl, t, count(*) AS tf FROM hits GROUP BY id, dl, t),
            dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
            idf AS (
              SELECT t, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf, avgdl
              FROM dfreq CROSS JOIN stats
            ),
            bm AS (
              SELECT tf.id AS doc_id,
                     ROUND(SUM(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / idf.avgdl))), 6) AS score
              FROM tf JOIN idf USING (t) GROUP BY tf.id
            )
            SELECT doc_id, score FROM bm""",
        "profile_docs": """
              SELECT 'doc_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
                     CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                     CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
                     CAST(min(doc_id) AS VARCHAR) AS min_val,
                     CAST(max(doc_id) AS VARCHAR) AS max_val
              FROM documents
              UNION ALL
              SELECT 'text' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
                     CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                     CAST(count(DISTINCT text) AS BIGINT) AS n_distinct,
                     CAST(min(text) AS VARCHAR) AS min_val,
                     CAST(max(text) AS VARCHAR) AS max_val
              FROM documents
              UNION ALL
              SELECT 'lang' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
                     CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                     CAST(count(DISTINCT lang) AS BIGINT) AS n_distinct,
                     CAST(min(lang) AS VARCHAR) AS min_val,
                     CAST(max(lang) AS VARCHAR) AS max_val
              FROM documents
              UNION ALL
              SELECT 'source' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
                     CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                     CAST(count(DISTINCT source) AS BIGINT) AS n_distinct,
                     CAST(min(source) AS VARCHAR) AS min_val,
                     CAST(max(source) AS VARCHAR) AS max_val
              FROM documents
              UNION ALL
              SELECT 'n_chars' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
                     CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                     CAST(count(DISTINCT n_chars) AS BIGINT) AS n_distinct,
                     CAST(min(n_chars) AS VARCHAR) AS min_val,
                     CAST(max(n_chars) AS VARCHAR) AS max_val
              FROM documents""",
        "knn_pagerank_weighted": """
WITH v AS (
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
pairs AS (
  SELECT a.id AS src, b.id AS dst,
         list_sum(list_transform(list_zip(a.e, b.e), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist2
  FROM v a JOIN v b ON a.id <> b.id
),
ranked AS (
  SELECT src, dst, dist2,
         row_number() OVER (PARTITION BY src ORDER BY dist2, dst) AS rk
  FROM pairs
),
kedges AS (
  SELECT src, dst, ROUND(1.0 / (1.0 + dist2), 9) AS w
  FROM ranked WHERE rk <= 16
),
wedges AS (
  SELECT src, dst, w, SUM(w) OVER (PARTITION BY src) AS wsum FROM kedges
),
p0 AS (
  SELECT id AS node, ROUND(1.0 / (SELECT count(*) FROM v), 10) AS pr FROM v
),
p1 AS (
  SELECT v.id AS node,
         ROUND((1 - 0.85) * (1.0 / (SELECT count(*) FROM v))
               + 0.85 * COALESCE(c.s, 0), 10) AS pr
  FROM v LEFT JOIN (
    SELECT e.dst AS dst, SUM(p.pr * e.w / e.wsum) AS s
    FROM wedges e JOIN p0 p ON e.src = p.node GROUP BY e.dst
  ) c ON v.id = c.dst
),
p2 AS (
  SELECT v.id AS node,
         ROUND((1 - 0.85) * (1.0 / (SELECT count(*) FROM v))
               + 0.85 * COALESCE(c.s, 0), 10) AS pr
  FROM v LEFT JOIN (
    SELECT e.dst AS dst, SUM(p.pr * e.w / e.wsum) AS s
    FROM wedges e JOIN p1 p ON e.src = p.node GROUP BY e.dst
  ) c ON v.id = c.dst
),
p3 AS (
  SELECT v.id AS node,
         ROUND((1 - 0.85) * (1.0 / (SELECT count(*) FROM v))
               + 0.85 * COALESCE(c.s, 0), 10) AS pr
  FROM v LEFT JOIN (
    SELECT e.dst AS dst, SUM(p.pr * e.w / e.wsum) AS s
    FROM wedges e JOIN p2 p ON e.src = p.node GROUP BY e.dst
  ) c ON v.id = c.dst
)
SELECT node, pr FROM p3""",
        "line_scrub_docs": """
            WITH d AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 3 = 0
                             THEN chr(10) || 'please subscribe to our newsletter'
                             ELSE '' END
                     || CASE WHEN doc_id % 5 = 0
                             THEN chr(10) || 'this site uses cookies'
                             ELSE '' END AS t
              FROM documents
            ),
            split AS (
              SELECT doc_id, string_split(t, chr(10)) AS ls FROM d
            ),
            lines AS (
              SELECT doc_id, ls[i] AS l, i
              FROM split, LATERAL unnest(generate_series(1, len(ls))) AS g(i)
            ),
            rep AS (
              SELECT l FROM lines WHERE length(l) > 0
              GROUP BY l HAVING count(DISTINCT doc_id) >= 2
            ),
            kept AS (
              SELECT doc_id, l, i FROM lines
              WHERE l NOT IN (SELECT l FROM rep)
            )
            SELECT d.doc_id,
                   COALESCE(k.text, '') AS text
            FROM d LEFT JOIN (
              SELECT doc_id, string_agg(l, chr(10) ORDER BY i) AS text
              FROM kept GROUP BY doc_id
            ) k USING (doc_id)""",
        "semantic_decontam": """
            WITH v AS (
              SELECT vec_id AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            b AS (SELECT * FROM v WHERE id % 101 = 0),
            d AS (SELECT * FROM v WHERE id % 101 <> 0),
            pair AS (
              SELECT d.id,
                     list_sum(list_transform(list_zip(d.e, b.e), p -> p[1] * p[2]))
                     / (greatest(sqrt(list_sum(list_transform(d.e, x -> x * x))), 1e-12)
                        * greatest(sqrt(list_sum(list_transform(b.e, x -> x * x))), 1e-12)) AS cos
              FROM d CROSS JOIN b
            )
            SELECT id, round(max(cos), 6) AS max_cos FROM pair GROUP BY id""",
        # planted ground truth: the audio pipeline's wide margins (planted
        # cos > 0.999, cross < 0.71 at threshold 0.95) make the recovered
        # pair set the exact planted constant; tied to the tables via the
        # documents row count
        "audio_neardup_pipeline": """
            SELECT CAST(v.a AS BIGINT) AS a, CAST(v.b AS BIGINT) AS b,
                   (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs
            FROM (VALUES (0, 1), (2, 3), (4, 5), (6, 7), (8, 9), (10, 11))
                 v(a, b)""",
        # identical formula to bm25_docs — the persisted-postings path must
        # reproduce the one-shot scores bit for bit
        "bm25_stream_docs": f"""
            WITH d AS (SELECT doc_id AS id, {T.sql_tokens('text')} AS ts FROM documents),
            docs AS (SELECT id, len(ts) AS dl FROM d),
            stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM docs),
            hits AS (
              SELECT dd.id, dd.dl, t
              FROM (SELECT id, len(ts) AS dl, ts FROM d) dd
              CROSS JOIN UNNEST(dd.ts) AS u(t)
              WHERE t IN ('batch', 'data', 'fast')
            ),
            tf AS (SELECT id, dl, t, count(*) AS tf FROM hits GROUP BY id, dl, t),
            dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
            idf AS (
              SELECT t, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf, avgdl
              FROM dfreq CROSS JOIN stats
            ),
            bm AS (
              SELECT tf.id AS doc_id,
                     ROUND(SUM(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / idf.avgdl))), 6) AS score
              FROM tf JOIN idf USING (t) GROUP BY tf.id
            )
            SELECT doc_id, score FROM bm""",
        # identical formula again: streamed postings must not drift
        "bm25_index_docs": f"""
            WITH d AS (SELECT doc_id AS id, {T.sql_tokens('text')} AS ts FROM documents),
            docs AS (SELECT id, len(ts) AS dl FROM d),
            stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM docs),
            hits AS (
              SELECT dd.id, dd.dl, t
              FROM (SELECT id, len(ts) AS dl, ts FROM d) dd
              CROSS JOIN UNNEST(dd.ts) AS u(t)
              WHERE t IN ('batch', 'data', 'fast')
            ),
            tf AS (SELECT id, dl, t, count(*) AS tf FROM hits GROUP BY id, dl, t),
            dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
            idf AS (
              SELECT t, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf, avgdl
              FROM dfreq CROSS JOIN stats
            ),
            bm AS (
              SELECT tf.id AS doc_id,
                     ROUND(SUM(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / idf.avgdl))), 6) AS score
              FROM tf JOIN idf USING (t) GROUP BY tf.id
            )
            SELECT doc_id, score FROM bm""",
        "hybrid_rag_fusion": f"""
            WITH emb AS ({T.sql_hash_embed(64)}),
            q AS (SELECT pos AS qpos, val AS qval FROM emb WHERE id = 0),
            dots AS (
              SELECT e.id, ROUND(SUM(e.val * q.qval), 6) AS dot
              FROM emb e JOIN q ON e.pos = q.qpos GROUP BY e.id
            ),
            sem AS (
              SELECT id, CAST(row_number() OVER (ORDER BY dot DESC, id) AS INT) AS rank
              FROM dots ORDER BY dot DESC, id LIMIT 20
            ),
            d AS (SELECT doc_id AS id, {T.sql_tokens('text')} AS ts FROM documents),
            docs AS (SELECT id, len(ts) AS dl FROM d),
            stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM docs),
            hits AS (
              SELECT dd.id, dd.dl, t
              FROM (SELECT id, len(ts) AS dl, ts FROM d) dd
              CROSS JOIN UNNEST(dd.ts) AS u(t)
              WHERE t IN ('batch', 'data', 'fast')
            ),
            tf AS (SELECT id, dl, t, count(*) AS tf FROM hits GROUP BY id, dl, t),
            dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
            idf AS (
              SELECT t, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf, avgdl
              FROM dfreq CROSS JOIN stats
            ),
            bm AS (
              SELECT tf.id AS doc_id,
                     ROUND(SUM(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / idf.avgdl))), 6) AS score
              FROM tf JOIN idf USING (t) GROUP BY tf.id
            ),
            lex AS (
              SELECT doc_id AS id,
                     CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
              FROM bm ORDER BY score DESC, doc_id LIMIT 20
            ),
            parts AS (
              SELECT id, 1.0 / (60.0 + rank) AS part FROM lex
              UNION ALL
              SELECT id, 1.0 / (60.0 + rank) AS part FROM sem
            ),
            fused AS (SELECT id, ROUND(SUM(part), 9) AS rrf FROM parts GROUP BY id)
            SELECT id AS doc_id, rrf,
                   CAST(row_number() OVER (ORDER BY rrf DESC, id) AS INT) AS rank
            FROM fused ORDER BY rrf DESC, id LIMIT 10""",
        "fuzzy_token_join": f"""
            WITH t AS (
              SELECT {T.sql_tokens('text')} AS ts FROM documents
            ),
            pool AS (
              SELECT DISTINCT ts[i] || ts[i+1] AS tok
              FROM t CROSS JOIN UNNEST(range(1, len(ts))) AS u(i)
              WHERE regexp_matches(ts[i] || ts[i+1], '^[a-z]{{6,}}$')
              ORDER BY tok LIMIT 600
            ),
            edited AS (
              SELECT tok AS rid, substr(tok,1,1) || substr(tok,3) AS rtok
              FROM pool
            )
            SELECT a.tok AS lid, b.rid AS rid,
                   CAST(levenshtein(a.tok, b.rtok) AS INT) AS distance
            FROM pool a JOIN edited b ON levenshtein(a.tok, b.rtok) <= 1""",
        "embedding_binarize": """
            WITH v AS (
              SELECT vec_id AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            )
            SELECT id, CAST(w AS INT) AS word,
                   CAST(list_reduce(
                     list_transform(e[w*32+1 : w*32+32], x -> CASE WHEN x > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
                     (a, b) -> a * 2 + b) AS BIGINT) AS bits
            FROM v CROSS JOIN UNNEST(range(CAST(ceil(len(e)/32.0) AS BIGINT))) AS t(w)""",
        "hamming_topk_q": """
            WITH v AS (
              SELECT vec_id AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            words AS (
              SELECT id, list_transform(range(CAST(ceil(len(e)/32.0) AS BIGINT)),
                   w -> CAST(list_reduce(
                          list_transform(e[CAST(w*32+1 AS BIGINT) : CAST(w*32+32 AS BIGINT)], x -> CASE WHEN x > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
                          (a, b) -> a * 2 + b) AS BIGINT)) AS ws
              FROM v
            ),
            q AS (SELECT ws AS qws FROM words WHERE id = 0),
            scored AS (
              SELECT w.id,
                     CAST(list_sum(list_transform(range(len(w.ws)),
                          i -> bit_count(xor(w.ws[i+1], q.qws[i+1])))) AS BIGINT) AS hamming
              FROM words w, q
            )
            SELECT id, hamming,
                   CAST(row_number() OVER (ORDER BY hamming, id) AS INT) AS rank
            FROM scored ORDER BY hamming, id LIMIT 10""",
        "hamming_topk_batch_q": """
            WITH v AS (
              SELECT vec_id AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            words AS (
              SELECT id, list_transform(range(CAST(ceil(len(e)/32.0) AS BIGINT)),
                   w -> CAST(list_reduce(
                          list_transform(e[CAST(w*32+1 AS BIGINT) : CAST(w*32+32 AS BIGINT)], x -> CASE WHEN x > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
                          (a, b) -> a * 2 + b) AS BIGINT)) AS ws
              FROM v
            ),
            q AS (SELECT id AS qid, ws AS qws FROM words WHERE id IN (0, 1, 2)),
            scored AS (
              SELECT q.qid, w.id,
                     CAST(list_sum(list_transform(range(len(w.ws)),
                          i -> bit_count(xor(w.ws[i+1], q.qws[i+1])))) AS BIGINT) AS hamming
              FROM words w CROSS JOIN q
            )
            SELECT qid, id, hamming,
                   CAST(row_number() OVER (PARTITION BY qid ORDER BY hamming, id) AS INT) AS rank
            FROM scored
            QUALIFY rank <= 10""",
        "audio_spectral_contract": """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(TRUE AS BOOLEAN) AS centroid_on_tone,
                   CAST(TRUE AS BOOLEAN) AS rolloff_on_tone,
                   CAST(TRUE AS BOOLEAN) AS tones_not_flat,
                   CAST(TRUE AS BOOLEAN) AS fingerprint_separates
            FROM documents""",
        "whitening_contract": """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(TRUE AS BOOLEAN) AS mean_zero,
                   CAST(TRUE AS BOOLEAN) AS cov_identity,
                   CAST(TRUE AS BOOLEAN) AS k_truncation_ok,
                   CAST(TRUE AS BOOLEAN) AS matches_closed_form
            FROM embeddings""",
        "opq_contract": """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(TRUE AS BOOLEAN) AS r_orthonormal,
                   CAST(TRUE AS BOOLEAN) AS cosine_preserved,
                   CAST(TRUE AS BOOLEAN) AS mse_not_worse,
                   CAST(TRUE AS BOOLEAN) AS sidecar_stored,
                   CAST(TRUE AS BOOLEAN) AS single_batch_agree,
                   CAST(TRUE AS BOOLEAN) AS rerank_original_space
            FROM embeddings""",
        "ann_delete_contract": """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(TRUE AS BOOLEAN) AS delete_counted,
                   CAST(TRUE AS BOOLEAN) AS single_masked,
                   CAST(TRUE AS BOOLEAN) AS batch_agrees,
                   CAST(TRUE AS BOOLEAN) AS drift_live,
                   CAST(TRUE AS BOOLEAN) AS fold_clean,
                   CAST(TRUE AS BOOLEAN) AS post_fold_masked
            FROM embeddings""",
        "pq_tagged_contract": """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(TRUE AS BOOLEAN) AS tagged_layout,
                   CAST(TRUE AS BOOLEAN) AS append_counted,
                   CAST(TRUE AS BOOLEAN) AS append_tagged,
                   CAST(TRUE AS BOOLEAN) AS tags_preserved,
                   CAST(TRUE AS BOOLEAN) AS seq_carried,
                   CAST(TRUE AS BOOLEAN) AS rows_preserved,
                   CAST(TRUE AS BOOLEAN) AS compacted_unit
            FROM embeddings""",
        "semdedup_contract": """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(TRUE AS BOOLEAN) AS keep_iff_canonical,
                   CAST(TRUE AS BOOLEAN) AS canonical_is_min,
                   CAST(TRUE AS BOOLEAN) AS canonicals_kept
            FROM embeddings""",
        # NFC normalization (functions/text.normalize_text): DuckDB
        # nfc_normalize is the cross-engine anchor; whitespace class is the
        # explicit [ \t\n\r\f] so Java and RE2 regex semantics agree
        "text_normalize": """
            SELECT doc_id,
                   trim(regexp_replace(
                       nfc_normalize('Cafe' || chr(769) || ' ' || chr(9) ||
                                     ' ' || text || ' ' || chr(10) || ' x' ||
                                     chr(769) || 'y'),
                       '[ ' || chr(9) || chr(10) || chr(13) || chr(12) || ']+',
                       ' ', 'g')) AS norm_text
            FROM documents""",
        "pca_invariants": """
            SELECT CAST(TRUE AS BOOLEAN) AS sample_ok,
                   CAST(TRUE AS BOOLEAN) AS var_ordered,
                   CAST(TRUE AS BOOLEAN) AS centered,
                   CAST(TRUE AS BOOLEAN) AS axes_uncorrelated""",
        "lsh_edges_exactness": f"""
            SELECT CAST(TRUE AS BOOLEAN) AS dist_exact,
                   CAST(TRUE AS BOOLEAN) AS no_self_loops,
                   CAST(TRUE AS BOOLEAN) AS k_edges_per_src,
                   CAST({KNN_K} AS INT) AS k""",
        "lsh_recall": """
            SELECT CAST(TRUE AS BOOLEAN) AS recall_ok,
                   CAST(0.8 AS DOUBLE) AS min_recall,
                   CAST(10 AS INT) AS k""",
        "q2_min_cost_supplier": """
            WITH ps AS (
              SELECT l_partkey AS partkey, l_suppkey AS suppkey,
                     min(l_extendedprice) AS min_price
              FROM lineitem GROUP BY l_partkey, l_suppkey
            )
            SELECT p.p_partkey, p.p_brand, s.s_name, ps.min_price AS best_price
            FROM part p
            JOIN ps ON ps.partkey = p.p_partkey
            JOIN supplier s ON ps.suppkey = s.s_suppkey
            WHERE p.p_size <= 10
              AND ps.min_price = (SELECT min(ps2.min_price) FROM ps ps2
                                  WHERE ps2.partkey = p.p_partkey)""",
        "q9_profit_by_nation_year": """
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INT) AS o_year,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS profit
            FROM lineitem
            JOIN orders ON o_orderkey = l_orderkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON n_nationkey = s_nationkey
            JOIN part ON p_partkey = l_partkey
            WHERE p_name LIKE '%red%'
            GROUP BY n_name, year(o_orderdate)""",
        "q11_important_stock": """
            SELECT l_partkey, round(sum(l_extendedprice), 2) AS part_value
            FROM lineitem
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON n_nationkey = s_nationkey
            WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
            GROUP BY l_partkey
            HAVING sum(l_extendedprice) > (
              SELECT 0.001 * sum(l_extendedprice)
              FROM lineitem
              JOIN supplier ON s_suppkey = l_suppkey
              JOIN nation ON n_nationkey = s_nationkey
              WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3'))""",
        "q16_parts_supplier_counts": """
            SELECT p_brand, p_type, p_size,
                   CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_brand <> 'Brand#1'
              AND p_size IN (1, 5, 11, 17, 23, 29, 37, 41)
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size""",
        "q20_excess_inventory": """
            SELECT s_name, n_name
            FROM supplier JOIN nation ON n_nationkey = s_nationkey
            WHERE s_suppkey IN (
              SELECT l_suppkey FROM lineitem
              WHERE l_partkey IN (SELECT p_partkey FROM part
                                  WHERE p_name LIKE 'small%')
                AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
                AND l_shipdate <  TIMESTAMP '2001-01-01 00:00:00'
              GROUP BY l_suppkey, l_partkey
              HAVING sum(l_quantity) > 50
            )""",
        "q21_suppliers_waiting": """
            SELECT s_name, n_name, CAST(count(*) AS BIGINT) AS numwait
            FROM supplier
            JOIN nation ON n_nationkey = s_nationkey
            JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
            JOIN orders o ON o.o_orderkey = l1.l_orderkey
            WHERE o.o_orderstatus = 'F'
              AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
              AND EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lineitem l3
                              JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
            GROUP BY s_name, n_name""",
        "doc_length_percentiles": """
            SELECT source,
                   unnest([CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE),
                           CAST(0.75 AS DOUBLE), CAST(0.95 AS DOUBLE)]) AS pct,
                   unnest(qs) AS val
            FROM (
              SELECT source,
                     list_transform(
                       quantile_cont(n_chars, [0.25, 0.5, 0.75, 0.95]),
                       x -> round(x, 6)) AS qs
              FROM documents GROUP BY source
            )""",
        "embedding_dim_stats": """
            SELECT CAST(ord - 1 AS INT) AS pos,
                   round(avg(v), 6) + 0.0 AS mean_val,
                   round(stddev_samp(v), 5) + 0.0 AS std_val,
                   round(min(v), 6) + 0.0 AS min_val,
                   round(max(v), 6) + 0.0 AS max_val
            FROM (SELECT unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v,
                         generate_subscripts(embedding, 1) AS ord
                  FROM embeddings)
            GROUP BY ord""",
        "lexical_diversity": f"""
            SELECT doc_id,
                   {T.sql_distinct_token_count('text')} AS n_types,
                   {T.sql_type_token_ratio('text')} + 0.0 AS ttr
            FROM documents""",
        "gopher_quality_flags": f"""
            SELECT doc_id,
                   ({T.sql_token_count('text')} >= 20
                    AND {T.sql_token_count('text')} <= 100000) AS wc_ok,
                   ({T.sql_mean_token_len('text')} >= 3.0
                    AND {T.sql_mean_token_len('text')} <= 10.0) AS mean_len_ok,
                   (CAST({T.sql_punct_count('text')} AS DOUBLE)
                    / greatest(CAST({T.sql_token_count('text')} AS DOUBLE), 1.0)
                    < 0.3) AS symbol_ok,
                   ({T.sql_stopword_count('text')} >= 2) AS stopword_ok,
                   (({T.sql_token_count('text')} >= 20
                     AND {T.sql_token_count('text')} <= 100000)
                    AND ({T.sql_mean_token_len('text')} >= 3.0
                         AND {T.sql_mean_token_len('text')} <= 10.0)
                    AND (CAST({T.sql_punct_count('text')} AS DOUBLE)
                         / greatest(CAST({T.sql_token_count('text')} AS DOUBLE), 1.0)
                         < 0.3)
                    AND ({T.sql_stopword_count('text')} >= 2)) AS passes
            FROM documents""",
        "tfidf_top_terms_by_source": f"""
            WITH tok AS (
              SELECT source, unnest({T.sql_tokens('lower(text)')}) AS term
              FROM documents
            ), tf AS (
              SELECT source, term, count(*) AS tf FROM tok GROUP BY source, term
            ), dfs AS (
              SELECT term, count(DISTINCT source) AS dfs FROM tf GROUP BY term
            ), ns AS (
              SELECT CAST(count(DISTINCT source) AS BIGINT) AS s FROM documents
            ), scored AS (
              SELECT tf.source, tf.term,
                     round(tf.tf * (ln((1.0 + ns.s) / (1.0 + dfs.dfs)) + 1.0), 6)
                       AS tfidf
              FROM tf JOIN dfs USING (term) CROSS JOIN ns
            ), ranked AS (
              SELECT source, term, tfidf,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY tfidf DESC, term ASC) AS rk
              FROM scored
            )
            SELECT source, term, CAST(rk AS INT) AS rank, tfidf + 0.0 AS tfidf
            FROM ranked WHERE rk <= 5""",
        "point_lookup": f"""
            SELECT vec_id AS id, CAST(len(embedding) AS BIGINT) AS dim,
                   round({_NORM_SQL}, 5) + 0.0 AS norm
            FROM embeddings WHERE vec_id = 42""",
        "vector_scan": f"""
            SELECT vec_id AS id, CAST(len(embedding) AS BIGINT) AS dim,
                   round({_NORM_SQL}, 5) + 0.0 AS norm
            FROM embeddings""",
        "vector_stats": f"""
            SELECT CAST(count(*) AS BIGINT) AS n_vectors,
                   round(avg(n), 6) AS avg_norm, round(min(n), 6) AS min_norm,
                   round(max(n), 6) AS max_norm, round(stddev_samp(n), 6) AS std_norm
            FROM (SELECT {_NORM_SQL} AS n FROM embeddings)""",
        "vector_mean": """
            SELECT CAST(pos - 1 AS INT) AS pos, round(avg_val, 6) + 0.0 AS mean_val FROM (
              SELECT pos, avg(CAST(val AS DOUBLE)) AS avg_val FROM (
                SELECT generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS val
                FROM embeddings
              ) GROUP BY pos)""",
        "knn_degrees": _DEGREES_SQL,
        # distance-gated degrees: same exact-kNN graph, tau = 2.5x the 0.45
        # log2-bucket quantile of dist2; srcs keeping < 8 of 16 edges, or >= 8
        # exact-duplicate edges, are excluded
        # (operators/knn.edge_gate_threshold + gated_in_degrees)
        "gated_degrees": f"""
            WITH v AS (
              SELECT vec_id AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            pairs AS (
              SELECT a.id AS src, b.id AS dst,
                     list_sum(list_transform(list_zip(a.e, b.e), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist2
              FROM v a JOIN v b ON a.id <> b.id
            ),
            knn AS (
              SELECT src, dst, dist2 FROM (
                SELECT src, dst, dist2,
                       row_number() OVER (PARTITION BY src ORDER BY dist2, dst) AS rk
                FROM pairs
              ) WHERE rk <= {KNN_K}
            ),
            buckets AS (
              -- non-duplicate edges only: mirrors knn.edge_gate_threshold
              SELECT CAST(floor(log2(greatest(dist2, 1e-12)) * 8) AS INT) AS b, count(*) AS c
              FROM knn WHERE dist2 > 1e-4 GROUP BY 1
            ),
            tot AS (SELECT sum(c) AS t FROM buckets),
            cdf AS (SELECT b, sum(c) OVER (ORDER BY b) AS acc FROM buckets),
            tau AS (
              SELECT {_TAU_SQL} AS tau
              FROM cdf, tot WHERE acc >= 0.45 * t
            ),
            kept AS (SELECT src, dst, dist2 FROM knn, tau WHERE dist2 <= tau),
            eligible AS (
              SELECT src AS id FROM kept GROUP BY src
              HAVING count(*) >= {(KNN_K + 1) // 2}
                 AND sum(CASE WHEN dist2 <= 1e-4 THEN 1 ELSE 0 END) < {(KNN_K + 1) // 2}
            ),
            deg AS (SELECT dst, count(*) AS c FROM kept GROUP BY dst)
            SELECT e.id AS id, CAST(coalesce(deg.c, 0) AS BIGINT) AS degree
            FROM eligible e LEFT JOIN deg ON e.id = deg.dst""",
        "degree_histogram": f"""
            SELECT degree, CAST(count(*) AS BIGINT) AS n_ids
            FROM ({_DEGREES_SQL}) GROUP BY degree""",
        "carrier_selection": carrier_selection_oracle_sql(_DEGREES_SQL, KEY, RATE),
        "topk_degree_pool": f"""
            SELECT id, degree FROM ({_DEGREES_SQL})
            ORDER BY degree, id LIMIT 100""",
        "crc4_table": f"""
            SELECT CAST(i AS INT) AS blk, CAST({crc4_table_sql('i')} AS INT) AS crc
            FROM generate_series(0, 15) AS t(i)""",
        "majority_vote_events": """
            WITH decoded AS (
              SELECT CAST(user_id % 16 AS INT) AS blk,
                     CAST(CAST(CAST(('0x' || substr(sha256(CAST(event_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT) % 64 AS INT) AS payload
              FROM events
            ),
            counts AS (SELECT blk, payload, count(*) AS cnt FROM decoded GROUP BY blk, payload),
            totals AS (SELECT blk, sum(cnt) AS samples FROM counts GROUP BY blk),
            winners AS (
              SELECT blk, payload, cnt FROM (
                SELECT blk, payload, cnt,
                       row_number() OVER (PARTITION BY blk ORDER BY cnt DESC, payload ASC) AS rk
                FROM counts) WHERE rk = 1
            )
            SELECT w.blk, w.payload, CAST(t.samples AS BIGINT) AS samples,
                   CAST(w.cnt AS BIGINT) AS winner_count,
                   round(w.cnt * 100.0 / t.samples, 4) AS winner_pct
            FROM winners w JOIN totals t ON w.blk = t.blk""",
        # trimmed Hamming-centroid vote (operators/vote.robust_vote, n_bits=16,
        # trim_radius=4): per-bit weighted majority m0 -> drop samples with
        # popcount(payload ^ m0) > 4 (keep all if that empties the block) ->
        # winner = candidate (survivor payloads + survivor bitwise majority)
        # minimizing weighted total Hamming distance, ties -> smaller payload
        "robust_vote_events": """
            WITH decoded AS (
              SELECT CAST(user_id % 16 AS INT) AS blk,
                     CAST(CAST(CAST(('0x' || substr(sha256(CAST(event_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT) % 64 AS INT) AS payload
              FROM events
            ),
            counts AS (SELECT blk, payload, count(*) AS cnt FROM decoded GROUP BY blk, payload),
            nbits AS (SELECT unnest(generate_series(0, 15)) AS bit),
            bits0 AS (
              SELECT blk, bit,
                     sum(CASE WHEN (payload >> bit) & 1 = 1 THEN cnt ELSE -cnt END) AS ssum
              FROM counts, nbits GROUP BY blk, bit
            ),
            m0 AS (
              SELECT blk, CAST(sum(CASE WHEN ssum > 0 THEN 1::BIGINT << bit ELSE 0 END) AS BIGINT) AS m
              FROM bits0 GROUP BY blk
            ),
            flagged AS (
              SELECT c.blk, c.payload, c.cnt,
                     bit_count(xor(CAST(c.payload AS BIGINT), m0.m)) <= 4 AS keep
              FROM counts c JOIN m0 ON c.blk = m0.blk
            ),
            kept AS (
              SELECT blk, payload, cnt FROM (
                SELECT f.*, sum(CASE WHEN keep THEN 1 ELSE 0 END)
                              OVER (PARTITION BY blk) AS nk
                FROM flagged f) WHERE keep OR nk = 0
            ),
            bits1 AS (
              SELECT blk, bit,
                     sum(CASE WHEN (payload >> bit) & 1 = 1 THEN cnt ELSE -cnt END) AS ssum
              FROM kept, nbits GROUP BY blk, bit
            ),
            bw AS (
              SELECT blk, CAST(sum(CASE WHEN ssum > 0 THEN 1::BIGINT << bit ELSE 0 END) AS BIGINT) AS cand
              FROM bits1 GROUP BY blk
            ),
            cands AS (
              SELECT blk, CAST(payload AS BIGINT) AS cand FROM kept
              UNION SELECT blk, cand FROM bw
            ),
            scored AS (
              SELECT c.blk, c.cand,
                     sum(k.cnt * bit_count(xor(c.cand, CAST(k.payload AS BIGINT)))) AS th
              FROM cands c JOIN kept k ON c.blk = k.blk GROUP BY c.blk, c.cand
            ),
            win AS (
              SELECT blk, cand FROM (
                SELECT blk, cand, row_number() OVER (PARTITION BY blk ORDER BY th ASC, cand ASC) AS rk
                FROM scored) WHERE rk = 1
            ),
            totals AS (SELECT blk, CAST(sum(cnt) AS BIGINT) AS samples FROM counts GROUP BY blk)
            SELECT w.blk, CAST(w.cand AS INT) AS payload, t.samples,
                   CAST(coalesce(e.cnt, 0) AS BIGINT) AS winner_count,
                   round(coalesce(e.cnt, 0) * 100.0 / t.samples, 4) AS winner_pct
            FROM win w JOIN totals t ON w.blk = t.blk
            LEFT JOIN counts e ON e.blk = w.blk AND CAST(e.payload AS BIGINT) = w.cand""",
        "sample_keyed": f"SELECT vec_id AS id FROM embeddings WHERE {u_sample} < 0.2",
        "sample_stratified": f"""
            SELECT event_id, event_type FROM events
            WHERE {sql_keyed_uniform("'strat-42'", "'s'", "event_id")} <
                  CASE event_type WHEN 'click' THEN 0.5 WHEN 'purchase' THEN 1.0
                       WHEN 'error' THEN 0.25 ELSE 0.05 END""",
        "semi_join_carriers": f"""
            WITH carriers AS ({carrier_selection_oracle_sql(_DEGREES_SQL, KEY, RATE)})
            SELECT e.vec_id AS id, round({_NORM_SQL}, 5) + 0.0 AS norm
            FROM embeddings e WHERE e.vec_id IN (SELECT id FROM carriers)""",
        "anti_join_subset": f"""
            SELECT vec_id AS id FROM embeddings WHERE NOT ({u_attack} < 0.7)""",
        "attack_gaussian": f"""
            SELECT vec_id AS id,
                   CASE WHEN {u_attack} < 0.3
                        THEN {_attacked_norm_sql(gauss_elem)}
                        ELSE round({_NORM_SQL}, 5) + 0.0 END AS norm
            FROM embeddings""",
        "attack_subset": f"SELECT vec_id AS id FROM embeddings WHERE {u_attack} < 0.7",
        "attack_mean_replace": f"""
            SELECT vec_id AS id,
                   CASE WHEN {u_attack} < 0.2
                        THEN {_attacked_norm_sql(f"list_transform({mean_vec_sql}, x -> CAST(CAST(x AS FLOAT) AS DOUBLE))")}
                        ELSE round({_NORM_SQL}, 5) + 0.0 END AS norm
            FROM embeddings""",
        "attack_truncate_pad": f"""
            SELECT vec_id AS id, CAST(len(embedding) AS BIGINT) AS dim,
                   round(sqrt(list_sum(list_transform(embedding[1:48],
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 5) + 0.0 AS norm
            FROM embeddings""",
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(round(sum(l_extendedprice), 2) / count(*), 6) AS avg_price,
                   round(round(sum(l_discount), 2) / count(*), 6) AS avg_disc,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem WHERE l_shipdate <= DATE '2001-09-01'
            GROUP BY l_returnflag, l_linestatus""",
        "q3_shipping_priority": """
            SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey
            ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""",
        "q4_order_priority": """
            SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate < TIMESTAMP '1997-10-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
            GROUP BY o_orderpriority""",
        "q10_returned_items": """
            SELECT c_custkey, c_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   round(any_value(c_acctbal), 2) AS c_acctbal
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1998-01-01'
              AND o_orderdate < TIMESTAMP '1998-07-01'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey ASC LIMIT 20""",
        "q12_priority_lines": """
            SELECT l_linestatus,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS high_lines,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT) AS low_lines
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY l_linestatus""",
        "q14_promo_revenue": """
            SELECT round(sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END) * 100.0
                         / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_pct,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1997-09-01'
              AND l_shipdate < TIMESTAMP '1997-10-01'""",
        "q18_large_orders": """
            WITH big AS (
              SELECT l_orderkey, sum(l_quantity) AS sum_qty
              FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 180
            )
            SELECT c_custkey, l_orderkey,
                   CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
                   round(o_totalprice, 2) AS o_totalprice,
                   round(sum_qty, 2) AS sum_qty
            FROM big
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey""",
        "q19_disjunctive": """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
                   AND l_quantity BETWEEN 20 AND 30)""",
        "q7_nation_volume": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INT) AS l_year,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            GROUP BY 1, 2, 3""",
        "q8_market_share": """
            SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                   round(sum(CASE WHEN ns.n_name = 'NATION_3'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                         / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation nc ON c_nationkey = nc.n_nationkey
            JOIN region ON nc.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ns ON s_nationkey = ns.n_nationkey
            WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY 1""",
        "q13_customer_distribution": """
            SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
              SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
              FROM customer LEFT OUTER JOIN orders
                ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey
            ) GROUP BY c_count""",
        "q15_top_supplier": """
            WITH rev AS (
              SELECT l_suppkey AS supplier_no,
                     round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_shipdate < TIMESTAMP '1997-04-01'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM rev JOIN supplier ON supplier_no = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""",
        "q17_small_quantity": """
            SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_brand = 'Brand#23'
              AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                                FROM lineitem l2
                                WHERE l2.l_partkey = part.p_partkey)""",
        "q22_idle_customers": """
            SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
                   round(sum(c_acctbal), 2) AS total_bal
            FROM customer
            WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= TIMESTAMP '2001-01-01')
            GROUP BY c_mktsegment""",
        "q6_forecast_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""",
        "events_cube": """
            SELECT event_type,
                   CAST((epoch_ns(ts) // 1000000000 // 86400) % 7 AS INT) AS dow,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(round(sum(value), 2) / count(*), 6) AS avg_value
            FROM events
            GROUP BY CUBE(event_type, dow)""",
        "set_ops_users": """
            SELECT user_id FROM events WHERE event_type = 'click'
            EXCEPT
            (SELECT user_id FROM events WHERE event_type = 'purchase'
             INTERSECT
             SELECT user_id FROM events WHERE value > 200)""",
        "events_pivot": """
            SELECT CAST(user_id % 20 AS BIGINT) AS bucket,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
                   CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
            FROM events GROUP BY 1""",
        "sample_weighted": f"""
            SELECT event_id, user_id FROM (
              SELECT event_id, user_id,
                     CASE WHEN value > 0
                          THEN ln({sql_keyed_uniform("'wsample-42'", "'w'", "event_id")}) / value
                          ELSE '-infinity'::DOUBLE END AS s
              FROM events
            ) ORDER BY s DESC, event_id ASC LIMIT 100""",
        "events_running_window": """
            SELECT event_id, user_id, sec,
                   round(sum(value) OVER w, 2) AS run_sum,
                   CAST(count(*) OVER w AS BIGINT) AS run_n
            FROM (SELECT event_id, user_id,
                         epoch_ns(ts) // 1000000000 AS sec, value
                  FROM events)
            WINDOW w AS (PARTITION BY user_id ORDER BY sec
                         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""",
        "events_value_quantiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(min(value), 2) AS vmin,
                   round(max(value), 2) AS vmax
            FROM events GROUP BY event_type""",
        "events_range_join": f"""
            WITH sessions AS ({sessionize_batch_oracle_sql(gap_seconds=900)}),
            errors AS (
              SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS sec
              FROM events WHERE event_type = 'error'
            )
            SELECT e.event_id, e.user_id, s.session_id, s.n_events
            FROM errors e JOIN sessions s
              ON e.user_id = s.user_id
             AND e.sec BETWEEN s.session_start_sec AND s.session_end_sec""",
        "events_asof": """
            WITH clicks AS (
              SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS t
              FROM events WHERE event_type = 'click'
            ),
            purch AS (
              SELECT user_id, t, round(max(value), 2) AS pv FROM (
                SELECT user_id, epoch_ns(ts) // 1000000000 AS t, value
                FROM events WHERE event_type = 'purchase'
              ) GROUP BY user_id, t
            )
            SELECT c.event_id, c.user_id, c.t, p.t AS pt, p.pv
            FROM clicks c ASOF LEFT JOIN purch p
              ON c.user_id = p.user_id AND c.t >= p.t""",
        "events_type_rollup": """
            SELECT event_type,
                   CAST((epoch_ns(ts) // 1000000000) // 86400 * 86400 AS BIGINT) AS day_epoch,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY ROLLUP(event_type, day_epoch)""",
        "q5_nation_revenue": """
            SELECT n_name, CAST(round(sum(
                       CAST(l_extendedprice AS DECIMAL(15,2))
                       * (1 - CAST(l_discount AS DECIMAL(15,2)))), 2) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY n_name""",
        "events_hourly": """
            SELECT CAST((epoch_ns(ts) // 1000000000) // 3600 * 3600 AS BIGINT) AS hour_epoch, event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(round(sum(value), 2) / count(*), 6) AS avg_value,
                   round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2""",
        "events_json_extract": """
            SELECT event_type,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY event_type""",
        "events_user_rollup": """
            SELECT user_id, event_id, round(value, 2) AS value, CAST(rk AS BIGINT) AS rk FROM (
              SELECT user_id, event_id, value,
                     row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rk
              FROM events) WHERE rk <= 3""",
        "dedup_exact_groups": """
            SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
                   CAST(count(*) AS BIGINT) AS dup_count
            FROM documents GROUP BY md5(text)""",
        "dedup_minhash_signatures": f"""
            SELECT id, CAST(generate_subscripts(sig, 1) - 1 AS INT) AS j, unnest(sig) AS mh
            FROM (
              SELECT doc_id AS id, [{', '.join(f'mh{i}' for i in range(N_MINHASH))}] AS sig
              FROM (SELECT doc_id, {mh_cols} FROM
                     (SELECT doc_id, {_mh_words} AS hs FROM documents)))""",
        "dedup_minhash_pairs": f"""
            WITH sigs AS (
              SELECT doc_id, {mh_cols} FROM
                (SELECT doc_id, {_mh_words} AS hs FROM documents)
            ),
            bands AS (
              SELECT doc_id, unnest([{', '.join(band_exprs)}]) AS bb FROM sigs
            ),
            keys AS (SELECT doc_id, bb[1] AS band, bb[2] AS band_hash FROM bands)
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM keys x JOIN keys y ON x.band = y.band AND x.band_hash = y.band_hash
            WHERE x.doc_id < y.doc_id""",
        # full retrieval-prep chain: normalize -> chunk (40/10) -> hash-embed
        # (64-d, 6-dp rounded, float32-quantized like the stored index) ->
        # exact top-5 cosine per query chunk (probe-all IVF == brute force).
        # Chunk id = doc_id * 1000 + chunk_idx; queries are the first chunks
        # of docs 0/7/13.  Rows absent from the sparse dot (no shared bucket)
        # have cos ~0 and cannot reach top-5 on this corpus.
        "rag_pipeline": (lambda _w60: f"""
            WITH norm AS (
              SELECT doc_id,
                     trim(regexp_replace(nfc_normalize(text),
                          '[ ' || chr(9) || chr(10) || chr(13) || chr(12) || ']+',
                          ' ', 'g')) AS text
              FROM documents
            ),
            t AS (SELECT doc_id, {T.sql_tokens('text')} AS l FROM norm),
            nn AS (
              SELECT doc_id, l,
                     CASE WHEN len(l) <= 0 THEN 0
                          WHEN len(l) <= 40 THEN 1
                          ELSE CAST(ceil((len(l) - 40) / 30.0) AS INT) + 1
                     END AS nc
              FROM t
            ),
            chunks AS (
              SELECT doc_id * 1000 + CAST(g.i AS BIGINT) AS id,
                     array_to_string(l[CAST(g.i AS INT) * 30 + 1 :
                                       CAST(g.i AS INT) * 30 + 40], ' ') AS text
              FROM nn, LATERAL unnest(generate_series(0, nc - 1)) AS g(i)
              WHERE nc > 0
            ),
            tok AS (SELECT id, unnest({T.sql_tokens('lower(text)')}) AS t FROM chunks),
            words AS (SELECT id, {_w60} AS w FROM tok),
            contrib AS (
              SELECT id, CAST(w % 64 AS INT) AS pos,
                     CASE WHEN (w // 64) % 2 = 1 THEN 1.0 ELSE -1.0 END AS s
              FROM words
            ),
            acc AS (SELECT id, pos, sum(s) AS v FROM contrib GROUP BY id, pos),
            nrm AS (
              SELECT id, greatest(sqrt(sum(v * v)), 1e-12) AS n
              FROM acc GROUP BY id
            ),
            emb AS (
              SELECT a.id, a.pos,
                     CAST(CAST(round(a.v / nrm.n, 6) + 0.0 AS FLOAT) AS DOUBLE) AS val
              FROM acc a JOIN nrm USING (id)
            ),
            vnorm AS (SELECT id, sqrt(sum(val * val)) AS vn FROM emb GROUP BY id),
            q AS (SELECT id AS qid, pos, val FROM emb WHERE id IN (0, 7000, 13000)),
            qnorm AS (SELECT qid, sqrt(sum(val * val)) AS qn FROM q GROUP BY qid),
            dots AS (
              SELECT q.qid, e.id, sum(q.val * e.val) AS dot
              FROM q JOIN emb e ON q.pos = e.pos
              GROUP BY q.qid, e.id
            ),
            scored AS (
              SELECT d.qid, d.id,
                     round(CASE WHEN qn.qn * vn.vn > 0
                           THEN d.dot / (qn.qn * vn.vn) ELSE 0.0 END, 6) + 0.0 AS cos
              FROM dots d
              JOIN qnorm qn USING (qid)
              JOIN vnorm vn ON vn.id = d.id
            )
            SELECT qid, id, cos, CAST(rk AS INT) AS rank FROM (
              SELECT qid, id, cos,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY cos DESC, id ASC) AS rk
              FROM scored
            ) WHERE rk <= 5""")(
            __import__(
                "vectordb_watermark_spark.functions.hashing",
                fromlist=["sql_word60"],
            ).sql_word60("sha256(t)")
        ),
        "dedup_minhash_agree": f"""
            WITH sigs AS (
              SELECT doc_id, {mh_cols} FROM
                (SELECT doc_id, {_mh_words} AS hs FROM documents)
            ),
            bands AS (
              SELECT doc_id, unnest([{', '.join(band_exprs)}]) AS bb FROM sigs
            ),
            keys AS (SELECT doc_id, bb[1] AS band, bb[2] AS band_hash FROM bands),
            cand AS (
              SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              FROM keys x JOIN keys y ON x.band = y.band AND x.band_hash = y.band_hash
              WHERE x.doc_id < y.doc_id
            )
            SELECT c.a, c.b
            FROM cand c JOIN sigs sx ON sx.doc_id = c.a JOIN sigs sy ON sy.doc_id = c.b
            WHERE ({' + '.join(f'CASE WHEN sx.mh{j} = sy.mh{j} THEN 1 ELSE 0 END' for j in range(N_MINHASH))}) >= 8""",
        "doc_embeddings": T.sql_hash_embed(64),
        "crawl_dedup_join": f"""
            WITH sigs AS (
              SELECT doc_id, {mh_cols} FROM
                (SELECT doc_id, {_mh_words} AS hs FROM documents)
            ),
            bands AS (
              SELECT doc_id, unnest([{', '.join(band_exprs)}]) AS bb FROM sigs
            ),
            keys AS (SELECT doc_id, bb[1] AS band, bb[2] AS band_hash FROM bands),
            cand AS (
              SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              FROM keys x JOIN keys y ON x.band = y.band AND x.band_hash = y.band_hash
              WHERE x.doc_id < 250 AND y.doc_id >= 250
            ),
            t AS (SELECT doc_id, {toks_set} AS toks FROM documents)
            SELECT a, b, jaccard FROM (
              SELECT c.a, c.b,
                     round(CASE WHEN len(list_distinct(x.toks || y.toks)) > 0
                           THEN CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE)
                                / len(list_distinct(x.toks || y.toks))
                           ELSE 0.0 END, 6) AS jaccard
              FROM cand c
              JOIN t x ON x.doc_id = c.a
              JOIN t y ON y.doc_id = c.b
            ) WHERE jaccard >= 0.5""",
        "dedup_jaccard_pairs": f"""
            WITH t AS (SELECT doc_id, {toks_set} AS toks FROM documents)
            SELECT a, b, jaccard FROM (
              SELECT x.doc_id AS a, y.doc_id AS b,
                     round(CASE WHEN len(list_distinct(x.toks || y.toks)) > 0
                           THEN CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE)
                                / len(list_distinct(x.toks || y.toks))
                           ELSE 0.0 END, 6) AS jaccard
              FROM t x JOIN t y ON x.doc_id < y.doc_id
            ) WHERE jaccard >= 0.35""",
        # connected components of the minhash candidate graph: comp(id) = min
        # id reachable from id, the definition of the fixpoint in
        # operators/dedup.connected_components.  Min-label propagation keeps
        # ONE label per id per step (the least among its own and its
        # neighbours' labels) and stops after the first step that changes
        # none: each step costs O(edges), the step count is bounded by the
        # graph diameter, and labels only fall, so an id's least label is
        # its final one.
        "dedup_components": f"""
            WITH RECURSIVE sigs AS (
              SELECT doc_id, {mh_cols} FROM
                (SELECT doc_id, {_mh_words} AS hs FROM documents)
            ),
            bands AS (
              SELECT doc_id, unnest([{', '.join(band_exprs)}]) AS bb FROM sigs
            ),
            keys AS (SELECT doc_id, bb[1] AS band, bb[2] AS band_hash FROM bands),
            cpairs AS (
              SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              FROM keys x JOIN keys y ON x.band = y.band AND x.band_hash = y.band_hash
              WHERE x.doc_id < y.doc_id
            ),
            edges AS (SELECT a, b FROM cpairs UNION SELECT b, a FROM cpairs),
            lab(id, comp, changed) AS (
              SELECT a, least(a, min(b)), true FROM edges GROUP BY a
              UNION ALL
              SELECT l.id, least(l.comp, min(n.comp)), min(n.comp) < l.comp
              FROM lab l
              JOIN edges e ON e.a = l.id
              JOIN lab n ON n.id = e.b
              WHERE (SELECT bool_or(changed) FROM lab)
              GROUP BY l.id, l.comp
            )
            SELECT id, CAST(min(comp) AS BIGINT) AS comp FROM lab GROUP BY id""",
        "neardup_safe_split": f"""
            WITH RECURSIVE sigs AS (
              SELECT doc_id, {mh_cols} FROM
                (SELECT doc_id, {_mh_words} AS hs FROM documents)
            ),
            bands AS (
              SELECT doc_id, unnest([{', '.join(band_exprs)}]) AS bb FROM sigs
            ),
            keys AS (SELECT doc_id, bb[1] AS band, bb[2] AS band_hash FROM bands),
            cpairs AS (
              SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              FROM keys x JOIN keys y ON x.band = y.band AND x.band_hash = y.band_hash
              WHERE x.doc_id < y.doc_id
            ),
            edges AS (SELECT a, b FROM cpairs UNION SELECT b, a FROM cpairs),
            reach(id, comp) AS (
              SELECT a AS id, a AS comp FROM edges
              UNION
              SELECT e.b AS id, r.comp FROM reach r JOIN edges e ON e.a = r.id
            ),
            labels AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
            SELECT d.doc_id,
                   CASE WHEN {sql_keyed_uniform("'nds-11'", "'grpsplit'", "CAST(COALESCE(l.comp, d.doc_id) AS VARCHAR)")} < 0.25
                        THEN 'val' ELSE 'train' END AS split
            FROM documents d LEFT JOIN labels l ON l.id = d.doc_id""",
        "group_kfold_docs": f"""
            SELECT doc_id,
                   CAST(LEAST(FLOOR({sql_keyed_uniform("'kf-11'", "'grpkfold'", "source")} * 5.0), 4) AS INT) AS fold
            FROM documents""",
        # end-to-end curation: same component derivation, then keep only
        # canonical (min-id) documents passing the language + quality gates
        "corpus_curation": f"""
            WITH RECURSIVE sigs AS (
              SELECT doc_id, {mh_cols} FROM
                (SELECT doc_id, {_mh_words} AS hs FROM documents)
            ),
            bands AS (
              SELECT doc_id, unnest([{', '.join(band_exprs)}]) AS bb FROM sigs
            ),
            keys AS (SELECT doc_id, bb[1] AS band, bb[2] AS band_hash FROM bands),
            cpairs AS (
              SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              FROM keys x JOIN keys y ON x.band = y.band AND x.band_hash = y.band_hash
              WHERE x.doc_id < y.doc_id
            ),
            toksets AS (SELECT doc_id, {toks_set} AS toks FROM documents),
            vpairs AS (
              SELECT a, b FROM (
                SELECT c.a, c.b,
                       CASE WHEN len(list_distinct(x.toks || y.toks)) > 0
                            THEN CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE)
                                 / len(list_distinct(x.toks || y.toks))
                            ELSE 0.0 END AS jac
                FROM cpairs c
                JOIN toksets x ON x.doc_id = c.a
                JOIN toksets y ON y.doc_id = c.b
              ) WHERE round(jac, 6) >= 0.5
            ),
            edges AS (SELECT a, b FROM vpairs UNION SELECT b, a FROM vpairs),
            reach(id, comp) AS (
              SELECT a AS id, a AS comp FROM edges
              UNION
              SELECT e.b AS id, r.comp FROM reach r JOIN edges e ON e.a = r.id
            ),
            labels AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
            SELECT doc_id,
                   {T.sql_lang_id('text')} AS lang_pred,
                   {T.sql_quality_score('text')} + 0.0 AS quality,
                   {T.sql_token_count('text')} AS n_tokens
            FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
            WHERE coalesce(l.comp, d.doc_id) = d.doc_id
              AND {T.sql_lang_id('text')} = 'en'
              AND {T.sql_quality_score('text')} >= 0.33""",
        # quality-aware canonical: same verified-component derivation as
        # corpus_curation, then the per-component quality argmax (tie-break
        # quality desc, id asc); rows outside any component are singletons
        "curation_keep_best": f"""
            WITH RECURSIVE sigs AS (
              SELECT doc_id, {mh_cols} FROM
                (SELECT doc_id, {_mh_words} AS hs FROM documents)
            ),
            bands AS (
              SELECT doc_id, unnest([{', '.join(band_exprs)}]) AS bb FROM sigs
            ),
            keys AS (SELECT doc_id, bb[1] AS band, bb[2] AS band_hash FROM bands),
            cpairs AS (
              SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              FROM keys x JOIN keys y ON x.band = y.band AND x.band_hash = y.band_hash
              WHERE x.doc_id < y.doc_id
            ),
            toksets AS (SELECT doc_id, {toks_set} AS toks FROM documents),
            vpairs AS (
              SELECT a, b FROM (
                SELECT c.a, c.b,
                       CASE WHEN len(list_distinct(x.toks || y.toks)) > 0
                            THEN CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE)
                                 / len(list_distinct(x.toks || y.toks))
                            ELSE 0.0 END AS jac
                FROM cpairs c
                JOIN toksets x ON x.doc_id = c.a
                JOIN toksets y ON y.doc_id = c.b
              ) WHERE round(jac, 6) >= 0.5
            ),
            edges AS (SELECT a, b FROM vpairs UNION SELECT b, a FROM vpairs),
            reach(id, comp) AS (
              SELECT a AS id, a AS comp FROM edges
              UNION
              SELECT e.b AS id, r.comp FROM reach r JOIN edges e ON e.a = r.id
            ),
            labels AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
            scored AS (SELECT doc_id AS id,
                              {T.sql_quality_score('text')} + 0.0 AS q
                       FROM documents),
            winners AS (
              SELECT l.comp, s.id, s.q,
                     row_number() OVER (PARTITION BY l.comp
                                        ORDER BY s.q DESC, s.id ASC) AS rk
              FROM scored s JOIN labels l ON l.id = s.id
            )
            SELECT id AS doc_id, round(q, 6) + 0.0 AS quality,
                   CAST(FALSE AS BOOLEAN) AS singleton
            FROM winners WHERE rk = 1
            UNION ALL
            SELECT s.id AS doc_id, round(s.q, 6) + 0.0 AS quality,
                   CAST(TRUE AS BOOLEAN) AS singleton
            FROM scored s LEFT JOIN labels l ON l.id = s.id
            WHERE l.id IS NULL""",
        # exact cross-table kNN join: brute-force in SQL with the identical
        # (dist2, dst) deterministic tie-break
        "knn_join_tables": """
            WITH p AS (
              SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings WHERE vec_id < 100
            ),
            b AS (
              SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings WHERE vec_id >= 100
            ),
            pairs AS (
              SELECT p.id AS src, b.id AS dst,
                     list_sum(list_transform(list_zip(p.e, b.e), q -> (q[1] - q[2]) * (q[1] - q[2]))) AS d2
              FROM p, b
            ),
            ranked AS (
              SELECT src, dst, d2, row_number() OVER (PARTITION BY src ORDER BY d2, dst) AS rk
              FROM pairs
            )
            SELECT src, dst, CAST(rk AS INT) AS rank
            FROM ranked WHERE rk <= 4""",
        # symmetric per-vector int8 quantization, exploded per coordinate;
        # floor(t + 0.5) round-half-up is engine-exact on IEEE doubles
        "embedding_quantize": """
            WITH v AS (
              SELECT vec_id AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            s AS (
              SELECT id, e,
                     greatest(list_max(list_transform(e, x -> abs(x))), 1e-12) AS mx
              FROM v
            )
            SELECT id,
                   CAST(generate_subscripts(e, 1) - 1 AS INT) AS pos,
                   CAST(floor(unnest(e) * 127.0 / mx + 0.5) AS INT) AS code,
                   round(mx / 127.0, 9) + 0.0 AS scale
            FROM s""",
        "token_heavy_hitters": f"""
            WITH toks AS (
              SELECT unnest({T.sql_tokens('lower(text)')}) AS item FROM documents
            ),
            n AS (SELECT count(*) AS n FROM toks)
            SELECT item, CAST(count(*) AS BIGINT) AS cnt
            FROM toks GROUP BY item
            HAVING count(*) > 0.003 * (SELECT n FROM n)""",
        "sketch_distinct_tokens": f"""
            WITH toks AS (
              SELECT unnest({T.sql_tokens('lower(text)')}) AS tok FROM documents
            ),
            hashes AS (
              SELECT DISTINCT CAST(('0x' || substr(sha256(tok), 1, 15)) AS UBIGINT)::BIGINT AS h
              FROM toks
            ),
            smallest AS (SELECT h FROM hashes ORDER BY h LIMIT 256),
            agg AS (SELECT count(*) AS n, max(h) AS t FROM smallest)
            SELECT CASE WHEN n < 256 THEN CAST(n AS BIGINT)
                        ELSE CAST(floor((255.0 * 1152921504606846976.0) / t) AS BIGINT)
                   END AS estimate,
                   CAST(n AS INT) AS exact_k,
                   CASE WHEN n >= 256 THEN t END AS kth_hash,
                   (SELECT CAST(count(DISTINCT tok) AS BIGINT) FROM toks) AS true_distinct
            FROM agg""",
        "top_tokens": f"""
            SELECT tok, CAST(count(*) AS BIGINT) AS n FROM (
              SELECT unnest({T.sql_tokens('lower(text)')}) AS tok FROM documents
            ) GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 100""",
        # embedding-near minus token-near: candidate paraphrase pairs
        "paraphrase_candidates": f"""
            WITH v AS (
              SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            ep AS (
              SELECT a, b, cos FROM (
                SELECT x.id AS a, y.id AS b,
                       round(list_sum(list_transform(list_zip(x.e, y.e), p -> p[1] * p[2]))
                             / (sqrt(list_sum(list_transform(x.e, q -> q * q)))
                                * sqrt(list_sum(list_transform(y.e, q -> q * q))) + 1e-12), 6) AS cos
                FROM v x JOIN v y ON x.id < y.id
              ) WHERE cos >= 0.35
            ),
            t AS (SELECT doc_id, {toks_set} AS toks FROM documents),
            tp AS (
              SELECT a, b FROM (
                SELECT x.doc_id AS a, y.doc_id AS b,
                       round(CASE WHEN len(list_distinct(x.toks || y.toks)) > 0
                             THEN CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE)
                                  / len(list_distinct(x.toks || y.toks))
                             ELSE 0.0 END, 6) AS jaccard
                FROM t x JOIN t y ON x.doc_id < y.doc_id
              ) WHERE jaccard >= 0.35
            )
            SELECT ep.a, ep.b, ep.cos FROM ep
            WHERE NOT EXISTS (SELECT 1 FROM tp WHERE tp.a = ep.a AND tp.b = ep.b)""",
        "dedup_ngram_jaccard": f"""
            WITH t AS (
              SELECT doc_id,
                     list_distinct({T.sql_shingle_hashes('lower(text)', 5)}) AS sh
              FROM documents
            )
            SELECT a, b, jaccard FROM (
              SELECT x.doc_id AS a, y.doc_id AS b,
                     round(CASE WHEN len(list_distinct(x.sh || y.sh)) > 0
                           THEN CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                                / len(list_distinct(x.sh || y.sh))
                           ELSE 0.0 END, 6) AS jaccard
              FROM t x JOIN t y ON x.doc_id < y.doc_id
            ) WHERE jaccard >= 0.5""",
        # exact substring dedup (operators/dedup.duplicate_ngram_spans /
        # scrub_duplicate_spans): token 8-grams duplicated across >= 2
        # distinct docs; scrub removes every covered token position
        "dup_ngram_spans": f"""
            WITH toks AS (
              SELECT doc_id, {T.sql_tokens('lower(text)')} AS l FROM documents
            ),
            g AS (
              SELECT doc_id, i, array_to_string(l[i:i+7], ' ') AS g
              FROM toks, LATERAL unnest(generate_series(1, len(l) - 7)) AS t(i)
              WHERE len(l) >= 8
            )
            SELECT g AS ngram, count(DISTINCT doc_id) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_occ
            FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 2""",
        "span_scrubbed_docs": f"""
            WITH toks AS (
              SELECT doc_id,
                     {T.sql_tokens('text')} AS lraw,
                     {T.sql_tokens('lower(text)')} AS l
              FROM documents
            ),
            g AS (
              SELECT doc_id, i, array_to_string(l[i:i+7], ' ') AS g
              FROM toks, LATERAL unnest(generate_series(1, len(l) - 7)) AS t(i)
              WHERE len(l) >= 8
            ),
            dup AS (SELECT g FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
            cover AS (
              SELECT DISTINCT g.doc_id, g.i + off AS p
              FROM g JOIN dup USING (g),
                   LATERAL unnest(generate_series(0, 7)) AS o(off)
            ),
            tokpos AS (
              SELECT doc_id, unnest(lraw) AS tok, generate_subscripts(lraw, 1) AS p
              FROM toks
            ),
            kept AS (
              SELECT t.doc_id, t.tok, t.p FROM tokpos t
              LEFT JOIN cover c ON t.doc_id = c.doc_id AND t.p = c.p
              WHERE c.doc_id IS NULL
            ),
            reb AS (
              SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                     count(*) AS n_kept
              FROM kept GROUP BY doc_id
            )
            SELECT b.doc_id, coalesce(r.clean_text, '') AS clean_text,
                   CAST(len(b.lraw) AS BIGINT) AS n_tokens,
                   CAST(len(b.lraw) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
            FROM toks b LEFT JOIN reb r USING (doc_id)""",
        # corpus snapshot diff (operators/snapshots.py): md5 pinned on both
        # engines; 'upper' simulates changed rows, the id ranges simulate
        # add/remove churn
        "corpus_snapshot_diff": """
            WITH old AS (
              SELECT doc_id, md5(concat_ws('|', CAST(source IS NULL AS VARCHAR), CAST(source AS VARCHAR),
                   CAST(text IS NULL AS VARCHAR), CAST(text AS VARCHAR))) AS oh
              FROM documents WHERE doc_id < 400
            ),
            new AS (
              SELECT doc_id,
                     md5(concat_ws('|', CAST(source IS NULL AS VARCHAR), CAST(source AS VARCHAR),
                         CAST(text IS NULL AS VARCHAR),
                         CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END)) AS nh
              FROM documents WHERE doc_id >= 100
            )
            SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.oh IS NULL THEN 'added'
                        WHEN n.nh IS NULL THEN 'removed'
                        WHEN o.oh <> n.nh THEN 'changed' END AS change
            FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
            WHERE CASE WHEN o.oh IS NULL THEN 'added'
                       WHEN n.nh IS NULL THEN 'removed'
                       WHEN o.oh <> n.nh THEN 'changed' END IS NOT NULL""",
        "corpus_snapshot_stats": """
            WITH old AS (
              SELECT doc_id, md5(concat_ws('|', CAST(source IS NULL AS VARCHAR), CAST(source AS VARCHAR),
                   CAST(text IS NULL AS VARCHAR), CAST(text AS VARCHAR))) AS oh
              FROM documents WHERE doc_id < 400
            ),
            new AS (
              SELECT doc_id,
                     md5(concat_ws('|', CAST(source IS NULL AS VARCHAR), CAST(source AS VARCHAR),
                         CAST(text IS NULL AS VARCHAR),
                         CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END)) AS nh
              FROM documents WHERE doc_id >= 100
            ),
            j AS (SELECT o.oh, n.nh FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
            SELECT CAST(sum(CASE WHEN oh IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
                   CAST(sum(CASE WHEN nh IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
                   CAST(sum(CASE WHEN oh IS NOT NULL AND nh IS NOT NULL AND oh <> nh THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
                   CAST(sum(CASE WHEN oh IS NOT NULL AND oh = nh THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
            FROM j""",
        # bigram stupid-backoff LM (operators/quality.bigram_lm_score):
        # P(w2|w1) = cnt12/cnt1 when the pruned bigram table has the pair,
        # else alpha * cnt2 / total
        "bigram_lm_scores": _bigram_sql,
        # CCNet head/middle/tail (operators/quality.lm_quality_buckets):
        # ntile(3) per source over (score DESC, doc_id ASC) on the bigram
        # LM scores — same deterministic tie-break both engines
        "lm_quality_buckets": f"""
            SELECT b.doc_id, d.source, b.bigram_lm_score,
                   CASE ntile(3) OVER (PARTITION BY d.source
                                       ORDER BY b.bigram_lm_score DESC,
                                                b.doc_id ASC)
                        WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM (__BIGRAM_BODY__) b JOIN documents d USING (doc_id)""".replace(
            "__BIGRAM_BODY__", _bigram_sql
        ),
        # sliding-window chunking (operators/packing.chunk_documents):
        # case-preserving tokens, chunk 40 / overlap 10 -> step 30
        "doc_chunks": f"""
            WITH t AS (
              SELECT doc_id, {T.sql_tokens('text')} AS l FROM documents
            ),
            n AS (
              SELECT doc_id, l, len(l) AS n,
                     CASE WHEN len(l) <= 0 THEN 0
                          WHEN len(l) <= 40 THEN 1
                          ELSE CAST(ceil((len(l) - 40) / 30.0) AS INT) + 1
                     END AS nc
              FROM t
            ),
            e AS (
              SELECT doc_id, l, CAST(g.i AS INT) AS chunk_idx
              FROM n, LATERAL unnest(generate_series(0, nc - 1)) AS g(i)
              WHERE nc > 0
            )
            SELECT doc_id, chunk_idx,
                   CAST(chunk_idx * 30 AS INT) AS start_token,
                   CAST(len(l[chunk_idx * 30 + 1 : chunk_idx * 30 + 40]) AS INT)
                       AS n_tokens,
                   array_to_string(l[chunk_idx * 30 + 1 : chunk_idx * 30 + 40], ' ')
                       AS chunk_text
            FROM e""",
        "dedup_simhash": f"""
            WITH toks AS (
              SELECT doc_id AS id, unnest({toks_set}) AS tok FROM documents
            ),
            bits AS (
              SELECT id, bit,
                     CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END AS s
              FROM (SELECT id, {sim_bit_hash} AS h FROM toks),
                   (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS bit)
            ),
            sums AS (SELECT id, bit, sum(s) AS ssum FROM bits GROUP BY id, bit)
            SELECT id, CAST(sum(CASE WHEN ssum > 0 THEN 1::BIGINT << bit ELSE 0 END) AS BIGINT) AS simhash
            FROM sums GROUP BY id""",
        # exact oracle for the banded pairs query: the pigeonhole band join is
        # complete for hamming <= max and the final bit_count filter is exact,
        # so a brute-force O(n^2) self-join over the same signatures must
        # produce the identical pair set
        "dedup_simhash_pairs": f"""
            WITH toks AS (
              SELECT doc_id AS id, unnest({toks_set}) AS tok FROM documents
            ),
            bits AS (
              SELECT id, bit,
                     CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END AS s
              FROM (SELECT id, {sim_bit_hash} AS h FROM toks),
                   (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS bit)
            ),
            sums AS (SELECT id, bit, sum(s) AS ssum FROM bits GROUP BY id, bit),
            sh AS (
              SELECT id, CAST(sum(CASE WHEN ssum > 0 THEN 1::BIGINT << bit ELSE 0 END) AS BIGINT) AS simhash
              FROM sums GROUP BY id
            )
            SELECT x.id AS a, y.id AS b,
                   bit_count(xor(x.simhash, y.simhash)) AS hamming
            FROM sh x JOIN sh y ON x.id < y.id
            WHERE bit_count(xor(x.simhash, y.simhash)) <= 12""",
        "text_stats": f"""
            SELECT doc_id,
                   {T.sql_token_count('text')} AS n_tokens,
                   {T.sql_word_count_regex('text')} AS n_words_re,
                   {T.sql_punct_count('text')} AS n_punct,
                   {T.sql_stopword_count('text')} AS n_stopwords,
                   {T.sql_quality_score('text')} + 0.0 AS quality
            FROM documents""",
        "lang_id": f"SELECT doc_id, {T.sql_lang_id('text')} AS lang_pred FROM documents",
        "doc_fingerprints": f"SELECT doc_id, {T.sql_fingerprint('text')} AS fp FROM documents",
        "quality_repetition": f"""
            SELECT doc_id,
                   {T.sql_dup_token_fraction('text')} + 0.0 AS dup_tok_frac,
                   {T.sql_top_bigram_fraction('text')} + 0.0 AS top_bigram_frac,
                   {T.sql_mean_token_len('text')} + 0.0 AS mean_tok_len
            FROM documents""",
        "pii_redaction": f"""
            WITH p AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com tel +1 555-01'
                          || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS text
              FROM documents
            )
            SELECT doc_id,
                   {T.sql_pii('text')['n_email']} AS n_email,
                   {T.sql_pii('text')['n_phone']} AS n_phone,
                   sha256({T.sql_pii('text')['redacted']}) AS redacted_sha
            FROM p""",
        "source_mix": f"""
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum({T.sql_token_count('lower(text)')}) AS BIGINT) AS n_tokens,
                   round(CAST(count(*) AS DOUBLE)
                         / (SELECT count(*) FROM documents), 6) AS doc_share
            FROM documents GROUP BY source""",
        "source_capped_sample": f"""
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY {sql_keyed_uniform("'srccap'", 'doc_id')} ASC,
                                doc_id ASC
                     ) AS rk
              FROM documents
            ) WHERE rk <= 15""",
        # Inequality contract: constants hold iff the codec's clean decode
        # is exact and fidelity clears the documented 64-d floor.
        "codec_eval": """
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(TRUE AS BOOLEAN) AS zero_ber,
                   CAST(TRUE AS BOOLEAN) AS crc_all_valid,
                   CAST(TRUE AS BOOLEAN) AS fidelity_ok
            FROM embeddings""",
        "corpus_logfreq_score": f"""
            WITH tok AS (
              SELECT doc_id, unnest({T.sql_tokens('lower(text)')}) AS token
              FROM documents
            ), vocab AS (
              SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token
            )
            SELECT t.doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   round(avg(log10(CAST(coalesce(v.cnt, 1) AS DOUBLE))), 6) AS logfreq_score
            FROM tok t LEFT JOIN vocab v USING (token)
            GROUP BY t.doc_id""",
        "quality_resample": f"""
            SELECT doc_id FROM (
              SELECT doc_id,
                     ln({sql_keyed_uniform("'qsample-7'", 'doc_id')})
                       / greatest({T.sql_quality_score('text')}, 0.001) AS s
              FROM documents
            ) ORDER BY s DESC, doc_id ASC LIMIT 100""",
        "sequence_packing": f"""
            WITH t AS (
              SELECT doc_id,
                     {T.sql_token_count('text')} AS n_tokens,
                     {sql_word60(sql_keyed_hash_hex("'pack'", 'doc_id'))} % 8 AS grp
              FROM documents
            )
            SELECT doc_id, n_tokens,
                   CAST(grp * 1099511627776
                        + floor((sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
                                                     ROWS UNBOUNDED PRECEDING)
                                 - n_tokens) / 256) AS BIGINT) AS pack_id
            FROM t""",
        "decontaminate_docs": f"""
            WITH d AS (
              SELECT doc_id,
                     unnest(list_distinct({T.sql_shingle_hashes('lower(text)')})) AS h
              FROM documents WHERE doc_id >= 20
            ), b AS (
              SELECT DISTINCT
                     unnest(list_distinct({T.sql_shingle_hashes('lower(text)')})) AS h
              FROM documents WHERE doc_id < 20
            )
            SELECT d.doc_id, CAST(count(DISTINCT d.h) AS BIGINT) AS n_overlap
            FROM d JOIN b USING (h)
            GROUP BY d.doc_id
            HAVING count(DISTINCT d.h) >= 5""",
        "ann_topk_cosine": """
            WITH q AS (
              SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
              FROM embeddings WHERE vec_id = 0
            ),
            scored AS (
              SELECT vec_id AS id,
                     round(
                       list_sum(list_transform(list_zip(list_transform(embedding, x -> CAST(x AS DOUBLE)), qv), p -> p[1] * p[2]))
                       / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(qv, x -> x * x))) + 1e-12), 6) AS cos
              FROM embeddings, q WHERE vec_id <> 0
            )
            SELECT id, cos, CAST(row_number() OVER (ORDER BY cos DESC, id ASC) AS INT) AS rank
            FROM scored ORDER BY cos DESC, id ASC LIMIT 10""",
        "cosine_neardup": """
            WITH v AS (
              SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            )
            SELECT a.id AS a, b.id AS b,
                   round(list_sum(list_transform(list_zip(a.e, b.e), p -> p[1] * p[2]))
                         / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
                            * sqrt(list_sum(list_transform(b.e, x -> x * x))) + 1e-12), 6) AS cos
            FROM v a JOIN v b ON a.id < b.id
            WHERE round(list_sum(list_transform(list_zip(a.e, b.e), p -> p[1] * p[2]))
                        / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
                           * sqrt(list_sum(list_transform(b.e, x -> x * x))) + 1e-12), 6) >= 0.35""",
        "funnel_events": """
            WITH s0 AS (
              SELECT user_id, min(ts) AS t0 FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ),
            s1 AS (
              SELECT e.user_id, min(e.ts) AS t1
              FROM events e JOIN s0 ON e.user_id = s0.user_id
              WHERE e.event_type = 'click' AND e.ts > s0.t0
              GROUP BY e.user_id
            ),
            s2 AS (
              SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'purchase' AND e.ts > s1.t1
              GROUP BY e.user_id
            )
            SELECT CAST(1 AS INT) AS step, 'view' AS step_type,
                   (SELECT count(*) FROM s0) AS n_users
            UNION ALL
            SELECT CAST(2 AS INT), 'click', (SELECT count(*) FROM s1)
            UNION ALL
            SELECT CAST(3 AS INT), 'purchase', (SELECT count(*) FROM s2)""",
        "retention_cohorts_events": """
            WITH f AS (
              SELECT user_id,
                     CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
              FROM events GROUP BY user_id
            ),
            a AS (
              SELECT DISTINCT user_id,
                     CAST(date_trunc('week', ts) AS DATE) AS period
              FROM events
            ),
            j AS (
              SELECT f.cohort,
                     CAST(date_diff('day', f.cohort, a.period) / 7 AS INT)
                       AS "offset",
                     a.user_id AS u
              FROM a JOIN f ON a.user_id = f.user_id
            ),
            s AS (SELECT cohort, count(*) AS n_cohort FROM f GROUP BY cohort)
            SELECT CAST(j.cohort AS VARCHAR) AS cohort, j."offset",
                   count(DISTINCT j.u) AS n_active, s.n_cohort
            FROM j JOIN s ON j.cohort = s.cohort
            GROUP BY j.cohort, j."offset", s.n_cohort""",
        "event_transitions_q": """
            WITH seq AS (
              SELECT event_type AS from_type,
                     lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS to_type
              FROM events
            )
            SELECT from_type, to_type, count(*) AS n
            FROM seq WHERE to_type IS NOT NULL
            GROUP BY from_type, to_type""",
        "ndcg_eval_q": """
            WITH results AS (
              SELECT doc_id % 5 AS qid, doc_id,
                     CAST((doc_id * 2654435761) % 1000 AS DOUBLE) AS score
              FROM documents
            ),
            qrels AS (
              SELECT doc_id % 5 AS qid, doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN 2
                          WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS rel
              FROM documents
            ),
            ranked AS (
              SELECT qid, doc_id,
                     row_number() OVER (
                       PARTITION BY qid ORDER BY score DESC, doc_id ASC
                     ) AS rank
              FROM results
            ),
            topk AS (
              SELECT r.qid, r.rank, COALESCE(q.rel, 0) AS rel0
              FROM ranked r LEFT JOIN qrels q
                ON r.qid = q.qid AND r.doc_id = q.doc_id
              WHERE r.rank <= 10
            ),
            d AS (
              SELECT qid,
                     SUM((POWER(2.0, rel0) - 1.0)
                         / (ln(rank + 1.0) / ln(2.0))) AS dcg,
                     MIN(CASE WHEN rel0 > 0 THEN rank END) AS first_rel
              FROM topk GROUP BY qid
            ),
            ideal AS (
              SELECT qid,
                     SUM((POWER(2.0, rel) - 1.0)
                         / (ln(irank + 1.0) / ln(2.0))) AS idcg
              FROM (
                SELECT qid, rel,
                       row_number() OVER (
                         PARTITION BY qid ORDER BY rel DESC, doc_id ASC
                       ) AS irank
                FROM qrels WHERE rel > 0
              ) WHERE irank <= 10 GROUP BY qid
            )
            SELECT d.qid, round(d.dcg, 9) AS dcg, round(i.idcg, 9) AS idcg,
                   round(d.dcg / i.idcg, 9) AS ndcg,
                   round(COALESCE(1.0 / first_rel, 0.0), 9) AS rr
            FROM d JOIN ideal i ON d.qid = i.qid""",
        "roc_auc_events": """
            WITH scored AS (
              SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS label,
                     CAST(floor(value * 10 + 0.5) AS BIGINT) AS score
              FROM events
            ),
            g AS (
              SELECT score AS s,
                     SUM(CAST(label AS DOUBLE)) AS pos,
                     SUM(1 - CAST(label AS DOUBLE)) AS neg
              FROM scored GROUP BY score
            ),
            per AS (
              SELECT pos, neg,
                     COALESCE(SUM(neg) OVER (
                       ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0.0) AS neg_below
              FROM g
            )
            SELECT round(SUM(pos * (neg_below + neg / 2.0))
                         / (SUM(pos) * SUM(neg)), 9) AS auc,
                   CAST(SUM(pos) AS BIGINT) AS n_pos,
                   CAST(SUM(neg) AS BIGINT) AS n_neg
            FROM per""",
        "psi_drift_embeddings": """
            WITH base AS (
              SELECT embedding FROM embeddings WHERE vec_id % 2 = 0
            ),
            cand AS (
              SELECT embedding FROM embeddings
              WHERE vec_id % 2 = 1 AND label % 3 <> 0
            ),
            edges AS (
              SELECT list_transform(
                [-0.4, -0.3, -0.2, -0.1, 0.0, 0.1, 0.2, 0.3, 0.4],
                e -> CAST(e AS DOUBLE)) AS el
            ),
            bx AS (
              SELECT generate_subscripts(embedding, 1) - 1 AS dim,
                     unnest(embedding) AS x
              FROM base
            ),
            cx AS (
              SELECT generate_subscripts(embedding, 1) - 1 AS dim,
                     unnest(embedding) AS x
              FROM cand
            ),
            bt AS (
              SELECT dim,
                     len(list_filter(el, e -> CAST(x AS DOUBLE) >= e)) AS bin,
                     count(*) AS nb
              FROM bx CROSS JOIN edges GROUP BY 1, 2
            ),
            ct AS (
              SELECT dim,
                     len(list_filter(el, e -> CAST(x AS DOUBLE) >= e)) AS bin,
                     count(*) AS nc
              FROM cx CROSS JOIN edges GROUP BY 1, 2
            ),
            grid AS (
              SELECT COALESCE(bt.dim, ct.dim) AS dim,
                     COALESCE(bt.bin, ct.bin) AS bin,
                     COALESCE(nb, 0) AS nb, COALESCE(nc, 0) AS nc
              FROM bt FULL JOIN ct ON bt.dim = ct.dim AND bt.bin = ct.bin
            ),
            sm AS (
              SELECT dim,
                     (nb + 0.5) / (SUM(nb) OVER (PARTITION BY dim) + 0.5 * 10)
                       AS p,
                     (nc + 0.5) / (SUM(nc) OVER (PARTITION BY dim) + 0.5 * 10)
                       AS q
              FROM grid
            )
            SELECT CAST(dim AS INT) AS dim,
                   round(SUM((p - q) * ln(p / q)), 6) + 0.0 AS psi
            FROM sm GROUP BY dim""",
        "triangle_count_knn": f"""
            WITH v AS (
              SELECT vec_id AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            pairs AS (
              SELECT a.id AS src, b.id AS dst,
                     list_sum(list_transform(list_zip(a.e, b.e),
                              p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist2
              FROM v a JOIN v b ON a.id <> b.id
            ),
            ranked AS (
              SELECT src, dst,
                     row_number() OVER (
                       PARTITION BY src ORDER BY dist2, dst
                     ) AS rk
              FROM pairs
            ),
            knn_edges AS (SELECT src, dst FROM ranked WHERE rk <= {KNN_K}),
            und AS (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM knn_edges
            ),
            tri AS (
              SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM und e1
              JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
              JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
            ),
            corners AS (
              SELECT x AS node FROM tri
              UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri
            )
            SELECT node, count(*) AS n_triangles
            FROM corners GROUP BY node""",
        "expectations_docs": """
            WITH nr AS (SELECT count(*) AS n FROM documents),
            v AS (
              SELECT 'r0' AS rule_id, 'not_null' AS rule_type, 'text' AS col,
                     (SELECT count(*) FROM documents WHERE text IS NULL)
                       AS n_violations
              UNION ALL
              SELECT 'r1', 'unique', 'doc_id',
                     (SELECT count(doc_id) - count(DISTINCT doc_id)
                      FROM documents)
              UNION ALL
              SELECT 'r2', 'in_range', 'n_chars',
                     (SELECT count(*) FROM documents
                      WHERE n_chars IS NOT NULL
                        AND n_chars NOT BETWEEN 0 AND 500)
              UNION ALL
              SELECT 'r3', 'in_set', 'lang',
                     (SELECT count(*) FROM documents
                      WHERE lang IS NOT NULL
                        AND lang NOT IN ('en', 'de', 'fr', 'zh'))
              UNION ALL
              SELECT 'r4', 'matches', 'source',
                     (SELECT count(*) FROM documents
                      WHERE source IS NOT NULL
                        AND NOT regexp_matches(source, '^src1'))
              UNION ALL
              SELECT 'r5', 'min_rows', '',
                     (SELECT greatest(100 - count(*), 0) FROM documents)
              UNION ALL
              SELECT 'r6', 'expr', 'n_chars_consistent',
                     (SELECT count(*) FROM documents
                      WHERE NOT COALESCE(n_chars = length(text), false))
            )
            SELECT v.rule_id, v.rule_type, v.col, v.n_violations,
                   nr.n AS n_rows, v.n_violations = 0 AS passed
            FROM v CROSS JOIN nr""",
        "calibration_events": """
            WITH scored AS (
              SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS label,
                     (CAST(floor(value * 10 + 0.5) AS BIGINT) % 20) / 20.0
                       AS score
              FROM events
            )
            SELECT CAST(least(floor(score * 10), 9) AS INT) AS bin,
                   count(*) AS n,
                   round(avg(score), 6) AS mean_score,
                   round(avg(CAST(label AS DOUBLE)), 6) AS frac_pos
            FROM scored GROUP BY 1""",
        "ece_events": """
            WITH scored AS (
              SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS label,
                     (CAST(floor(value * 10 + 0.5) AS BIGINT) % 20) / 20.0
                       AS score
              FROM events
            ),
            per AS (
              SELECT CAST(least(floor(score * 10), 9) AS INT) AS bin,
                     CAST(count(*) AS DOUBLE) AS n,
                     avg(score) AS ms,
                     avg(CAST(label AS DOUBLE)) AS fp
              FROM scored GROUP BY 1
            )
            SELECT round(SUM(n * abs(fp - ms)) / SUM(n), 6) AS ece,
                   CAST(SUM(n) AS BIGINT) AS n_rows
            FROM per""",
        "key_skew_lineitem": """
            WITH per_key AS (
              SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY 1
            )
            SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
                   CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(MAX(n) AS BIGINT) AS max_key_n,
                   CAST(floor(MAX(n) * 1000000.0 / SUM(n) + 0.5) AS BIGINT)
                     AS top1_share_ppm,
                   CAST(floor(MAX(n) * count(*) * 1000000.0 / SUM(n) + 0.5)
                        AS BIGINT) AS skew_ratio_ppm
            FROM per_key""",
        "containment_docs": f"""
            WITH exc AS (
              SELECT doc_id + 1000000 AS doc_id, substr(text, 1, 120) AS text
              FROM documents WHERE doc_id % 10 = 0
            ),
            corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL SELECT doc_id, text FROM exc
            ),
            t AS (SELECT doc_id, {toks_set} AS toks FROM corpus),
            p AS (
              SELECT doc_id AS a, doc_id + 1000000 AS b
              FROM documents WHERE doc_id % 10 = 0
            ),
            scored AS (
              SELECT p.a, p.b,
                     round(CASE WHEN len(x.toks) > 0
                           THEN CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE)
                                / len(x.toks) ELSE 0.0 END, 6) AS cont_a_in_b,
                     round(CASE WHEN len(y.toks) > 0
                           THEN CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE)
                                / len(y.toks) ELSE 0.0 END, 6) AS cont_b_in_a,
                     round(CASE WHEN len(list_distinct(x.toks || y.toks)) > 0
                           THEN CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE)
                                / len(list_distinct(x.toks || y.toks))
                           ELSE 0.0 END, 6) AS jaccard
              FROM p JOIN t x ON p.a = x.doc_id JOIN t y ON p.b = y.doc_id
            )
            SELECT a, b, cont_a_in_b, cont_b_in_a, jaccard FROM scored
            WHERE cont_a_in_b >= 0.5 OR cont_b_in_a >= 0.5""",
        # full rare-shingle DISCOVERY chain recomputed in SQL: 8-token
        # shingles -> document-frequency cut (2..5) -> shared-shingle join
        # -> containment verify (operators/dedup.rare_shingle_candidates)
        "containment_rare_shingle": f"""
            WITH base AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 240
            ),
            host AS (
              SELECT CAST(9000001 AS BIGINT) AS doc_id,
                     array_to_string(
                       list_transform(generate_series(1, 2000),
                                      i -> 'w' || lpad(CAST(i AS VARCHAR), 4, '0')),
                       ' ') AS text
            ),
            exc AS (
              SELECT CAST(9000002 AS BIGINT) AS doc_id,
                     array_to_string(({T.sql_tokens('text')})[41:60], ' ') AS text
              FROM host
            ),
            corpus AS (
              SELECT doc_id, text FROM base
              UNION ALL SELECT doc_id, text FROM host
              UNION ALL SELECT doc_id, text FROM exc
            ),
            tk AS (SELECT doc_id, {toks} AS l FROM corpus),
            grams AS (
              SELECT DISTINCT doc_id, array_to_string(l[i:i+7], ' ') AS g
              FROM tk, LATERAL unnest(generate_series(1, len(l) - 7)) AS t(i)
              WHERE len(l) >= 8
            ),
            rare AS (
              SELECT g FROM grams GROUP BY g HAVING count(*) BETWEEN 2 AND 5
            ),
            cand AS (
              SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              FROM grams x JOIN rare r ON x.g = r.g JOIN grams y ON y.g = r.g
              WHERE x.doc_id < y.doc_id
            ),
            ts AS (SELECT doc_id, {toks_set} AS toks FROM corpus),
            scored AS (
              SELECT c.a, c.b,
                     round(CASE WHEN len(x.toks) > 0
                           THEN CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE)
                                / len(x.toks) ELSE 0.0 END, 6) AS cont_a_in_b,
                     round(CASE WHEN len(y.toks) > 0
                           THEN CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE)
                                / len(y.toks) ELSE 0.0 END, 6) AS cont_b_in_a,
                     round(CASE WHEN len(list_distinct(x.toks || y.toks)) > 0
                           THEN CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE)
                                / len(list_distinct(x.toks || y.toks))
                           ELSE 0.0 END, 6) AS jaccard
              FROM cand c JOIN ts x ON c.a = x.doc_id JOIN ts y ON c.b = y.doc_id
            )
            SELECT a, b, cont_a_in_b, cont_b_in_a, jaccard FROM scored
            WHERE cont_a_in_b >= 0.9 OR cont_b_in_a >= 0.9""",
        # contract literal for the trained-artifact gate row (the learned
        # forward pass is not SQL-expressible; same style as codec_eval)
        "learned_codec_eval": """
            SELECT CAST(500 AS BIGINT) AS n, TRUE AS ber_excellent,
                   TRUE AS crc_ok, TRUE AS fidelity_ok""",
        "trending_types_events": """
            WITH counts AS (
              SELECT date_trunc('day', ts) AS b, event_type, count(*) AS n
              FROM events GROUP BY 1, 2
            ),
            lagd AS (
              SELECT CAST(CAST(b AS DATE) AS VARCHAR) AS bucket, event_type,
                     CAST(n AS BIGINT) AS n,
                     CAST(lag(n) OVER (
                       PARTITION BY event_type ORDER BY b
                     ) AS BIGINT) AS prev_n
              FROM counts
            )
            SELECT bucket, event_type, n, prev_n,
                   CASE WHEN prev_n > 0 THEN
                     CAST(floor(CAST(n AS DOUBLE) / prev_n * 1000000.0 + 0.5)
                          AS BIGINT)
                   END AS growth_ppm
            FROM lagd""",
        "stickiness_events": """
            WITH ud AS (
              SELECT DISTINCT user_id AS u,
                     CAST(date_trunc('day', ts) AS DATE) AS d
              FROM events
            ),
            dau AS (SELECT d, count(DISTINCT u) AS dau FROM ud GROUP BY d),
            days AS (SELECT DISTINCT d FROM ud),
            trail AS (
              SELECT x.d, count(DISTINCT y.u) AS wau
              FROM days x JOIN ud y
                ON y.d <= x.d AND date_diff('day', y.d, x.d) < 7
              GROUP BY x.d
            )
            SELECT CAST(dau.d AS VARCHAR) AS day,
                   CAST(dau.dau AS BIGINT) AS dau,
                   CAST(t.wau AS BIGINT) AS wau,
                   CAST(floor(CAST(dau.dau AS DOUBLE) / t.wau * 1000000.0
                              + 0.5) AS BIGINT) AS stickiness_ppm
            FROM dau JOIN trail t ON dau.d = t.d""",
        "rm3_docs": f"""
            WITH d AS (SELECT doc_id AS id, {T.sql_tokens('text')} AS ts FROM documents),
            docs AS (SELECT id, len(ts) AS dl FROM d),
            stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM docs),
            hits AS (
              SELECT dd.id, dd.dl, t
              FROM (SELECT id, len(ts) AS dl, ts FROM d) dd
              CROSS JOIN UNNEST(dd.ts) AS u(t)
              WHERE t IN ('batch', 'data', 'fast')
            ),
            tf AS (SELECT id, dl, t, count(*) AS tf FROM hits GROUP BY id, dl, t),
            dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
            idf AS (
              SELECT t, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf, avgdl
              FROM dfreq CROSS JOIN stats
            ),
            bm AS (
              SELECT tf.id AS id,
                     ROUND(SUM(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / idf.avgdl))), 6) AS score
              FROM tf JOIN idf USING (t) GROUP BY tf.id
            ),
            fb AS (SELECT id, score FROM bm ORDER BY score DESC, id ASC LIMIT 10),
            fbw AS (
              SELECT id, score / (SELECT SUM(score) FROM fb) AS w_d FROM fb
            ),
            ftoks AS (
              SELECT dd.id, w.w_d, dd.dl, t
              FROM (SELECT id, len(ts) AS dl, ts FROM d) dd
              JOIN fbw w ON dd.id = w.id
              CROSS JOIN UNNEST(dd.ts) AS u(t)
            ),
            ftf AS (
              SELECT t, id, w_d, dl, count(*) AS tf
              FROM ftoks GROUP BY t, id, w_d, dl
            ),
            rm AS (SELECT t, SUM(tf / dl * w_d) AS rm FROM ftf GROUP BY t),
            rmn AS (
              SELECT t, rm / (SELECT SUM(rm) FROM rm) AS rm_n FROM rm
            ),
            wt AS (
              SELECT t,
                     ROUND(0.5 * (CASE WHEN t IN ('batch', 'data', 'fast')
                                       THEN 1.0 / 3 ELSE 0.0 END)
                           + 0.5 * rm_n, 9) AS weight
              FROM rmn
            )
            SELECT t AS term, weight,
                   t IN ('batch', 'data', 'fast') AS is_original
            FROM wt ORDER BY weight DESC, t ASC LIMIT 15""",
        "mmr_contract": """
            SELECT CAST(SUM(LEAST(cnt, 8)) AS BIGINT) AS n_rows,
                   CAST(TRUE AS BOOLEAN) AS ranks_valid,
                   CAST(TRUE AS BOOLEAN) AS subset_ok,
                   CAST(TRUE AS BOOLEAN) AS first_pick_ok,
                   CAST(TRUE AS BOOLEAN) AS greedy_matches
            FROM (
              SELECT count(*) AS cnt FROM embeddings GROUP BY vec_id % 4
            )""",
        "stream_transitions_events": """
            WITH seq AS (
              SELECT event_type AS from_type,
                     lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS to_type
              FROM events
            )
            SELECT from_type, to_type, count(*) AS n
            FROM seq WHERE to_type IS NOT NULL
            GROUP BY from_type, to_type""",
        "ann_ndcg_eval": """
            WITH v AS (
              SELECT vec_id AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            words AS (
              SELECT id, list_transform(range(CAST(ceil(len(e)/32.0) AS BIGINT)),
                   w -> CAST(list_reduce(
                          list_transform(e[CAST(w*32+1 AS BIGINT) : CAST(w*32+32 AS BIGINT)], x -> CASE WHEN x > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
                          (a, b) -> a * 2 + b) AS BIGINT)) AS ws
              FROM v
            ),
            q AS (SELECT id AS qid, ws AS qws FROM words WHERE id IN (0, 1, 2)),
            scored AS (
              SELECT q.qid, w.id,
                     CAST(list_sum(list_transform(range(len(w.ws)),
                          i -> bit_count(xor(w.ws[i+1], q.qws[i+1])))) AS BIGINT) AS hamming
              FROM words w CROSS JOIN q
            ),
            res AS (
              SELECT qid, id AS doc_id,
                     row_number() OVER (PARTITION BY qid ORDER BY hamming, id)
                       AS rank
              FROM scored
              QUALIFY rank <= 10
            ),
            qe AS (SELECT id AS qid, e AS qe FROM v WHERE id IN (0, 1, 2)),
            cos AS (
              SELECT qe.qid, v.id AS doc_id,
                     round(list_sum(list_transform(list_zip(v.e, qe.qe),
                           p -> p[1] * p[2])), 6) AS c
              FROM v CROSS JOIN qe
            ),
            qrels AS (
              SELECT qid, doc_id,
                     11 - row_number() OVER (
                       PARTITION BY qid ORDER BY c DESC, doc_id
                     ) AS rel
              FROM cos
              QUALIFY rel >= 1
            ),
            topk AS (
              SELECT r.qid, r.rank, COALESCE(q2.rel, 0) AS rel0
              FROM res r LEFT JOIN qrels q2
                ON r.qid = q2.qid AND r.doc_id = q2.doc_id
            ),
            d AS (
              SELECT qid,
                     SUM((POWER(2.0, rel0) - 1.0)
                         / (ln(rank + 1.0) / ln(2.0))) AS dcg,
                     MIN(CASE WHEN rel0 > 0 THEN rank END) AS first_rel
              FROM topk GROUP BY qid
            ),
            ideal AS (
              SELECT qid,
                     SUM((POWER(2.0, rel) - 1.0)
                         / (ln(irank + 1.0) / ln(2.0))) AS idcg
              FROM (
                SELECT qid, rel,
                       row_number() OVER (
                         PARTITION BY qid ORDER BY rel DESC, doc_id
                       ) AS irank
                FROM qrels WHERE rel > 0
              ) WHERE irank <= 10 GROUP BY qid
            )
            SELECT d.qid, round(d.dcg, 9) AS dcg, round(i.idcg, 9) AS idcg,
                   round(d.dcg / i.idcg, 9) AS ndcg,
                   round(COALESCE(1.0 / first_rel, 0.0), 9) AS rr
            FROM d JOIN ideal i ON d.qid = i.qid""",
        "compact_contract": """
            SELECT doc_id, lang, n_chars, CAST(TRUE AS BOOLEAN) AS compacted
            FROM documents""",
        "session_funnel_events": """
            WITH e AS (
              SELECT event_id, user_id, event_type, epoch_ns(ts) AS ts,
                     epoch_ns(ts) // 1000000000 AS sec
              FROM events
            ),
            marked AS (
              SELECT user_id, event_type, ts, sec, event_id,
                     CASE WHEN lag(sec) OVER w IS NULL
                               OR sec - lag(sec) OVER w > 172800
                          THEN 1 ELSE 0 END AS new_s
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
            ),
            lab AS (
              SELECT user_id, event_type, ts,
                     sum(new_s) OVER (
                       PARTITION BY user_id ORDER BY sec, event_id
                       ROWS UNBOUNDED PRECEDING
                     ) AS session_id
              FROM marked
            ),
            s0 AS (
              SELECT user_id, session_id, min(ts) AS t0 FROM lab
              WHERE event_type = 'view' GROUP BY user_id, session_id
            ),
            s1 AS (
              SELECT l.user_id, l.session_id, min(l.ts) AS t1
              FROM lab l JOIN s0
                ON l.user_id = s0.user_id AND l.session_id = s0.session_id
              WHERE l.event_type = 'click' AND l.ts > s0.t0
              GROUP BY l.user_id, l.session_id
            )
            SELECT CAST(1 AS INT) AS step, 'view' AS step_type,
                   (SELECT count(*) FROM s0) AS n_users
            UNION ALL
            SELECT CAST(2 AS INT), 'click', (SELECT count(*) FROM s1)""",
        "rate_anomalies_events": """
            WITH counts AS (
              SELECT date_trunc('hour', ts) AS bucket, count(*) AS n
              FROM events GROUP BY 1
            ),
            m AS (SELECT median(n) AS med FROM counts),
            d AS (
              SELECT median(abs(n - med)) AS mad FROM counts CROSS JOIN m
            ),
            scored AS (
              SELECT CAST(bucket AS VARCHAR) AS bucket, CAST(n AS BIGINT) AS n,
                     CASE WHEN mad > 0 THEN
                       CAST(floor(0.6745 * (n - med) / mad * 1000000.0 + 0.5)
                            AS BIGINT)
                     END AS mz_ppm
              FROM counts CROSS JOIN m CROSS JOIN d
            )
            SELECT bucket, n, mz_ppm,
                   COALESCE(abs(mz_ppm) > 3500000, FALSE) AS is_anomaly
            FROM scored""",
        "funnel_window_events": """
            WITH s0 AS (
              SELECT user_id, min(ts) AS t0 FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ),
            s1 AS (
              SELECT e.user_id, min(e.ts) AS t1
              FROM events e JOIN s0 ON e.user_id = s0.user_id
              WHERE e.event_type = 'click' AND e.ts > s0.t0
                AND e.ts <= s0.t0 + INTERVAL 86400 SECOND
              GROUP BY e.user_id
            ),
            s2 AS (
              SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'purchase' AND e.ts > s1.t1
                AND e.ts <= s1.t1 + INTERVAL 86400 SECOND
              GROUP BY e.user_id
            )
            SELECT CAST(1 AS INT) AS step, 'view' AS step_type,
                   (SELECT count(*) FROM s0) AS n_users
            UNION ALL
            SELECT CAST(2 AS INT), 'click', (SELECT count(*) FROM s1)
            UNION ALL
            SELECT CAST(3 AS INT), 'purchase', (SELECT count(*) FROM s2)""",
        "join_cardinality_q": """
            WITH lk AS (
              SELECT o_orderkey AS k, count(*) AS nl FROM orders GROUP BY 1
            ),
            rk AS (
              SELECT l_orderkey AS k, count(*) AS nr FROM lineitem GROUP BY 1
            ),
            per AS (
              SELECT nl * nr AS m FROM lk JOIN rk ON lk.k = rk.k
            )
            SELECT CAST(COALESCE(SUM(m), 0) AS BIGINT) AS n_out,
                   CAST(count(*) AS BIGINT) AS n_matching_keys,
                   CAST(COALESCE(MAX(m), 0) AS BIGINT) AS max_key_out,
                   CAST(COALESCE(floor(MAX(m) * 1000000.0 / SUM(m) + 0.5), 0)
                        AS BIGINT) AS top_key_share_ppm
            FROM per""",
        "ref_integrity_q": """
            SELECT CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
                   CAST((SELECT count(*) FROM lineitem l
                         WHERE l.l_orderkey IS NOT NULL
                           AND NOT EXISTS (
                             SELECT 1 FROM orders o
                             WHERE o.o_orderkey = l.l_orderkey
                           )) AS BIGINT) AS n_orphans,
                   (SELECT count(*) FROM lineitem l
                    WHERE l.l_orderkey IS NOT NULL
                      AND NOT EXISTS (
                        SELECT 1 FROM orders o
                        WHERE o.o_orderkey = l.l_orderkey
                      )) = 0 AS passed""",
        "table_diff_q": """
            SELECT CAST(SUM(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_only_left,
                   CAST(SUM(CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_only_right,
                   CAST(SUM(CASE WHEN doc_id % 97 <> 0 AND doc_id % 10 = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
                   CAST(SUM(CASE WHEN doc_id % 97 <> 0 AND doc_id % 10 <> 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_equal
            FROM documents""",
        "funnel_timing_events": """
            WITH e AS (
              SELECT user_id, event_type, epoch_ns(ts) AS t FROM events
            ),
            s0 AS (
              SELECT user_id, min(t) AS t0 FROM e
              WHERE event_type = 'view' GROUP BY user_id
            ),
            s1 AS (
              SELECT e.user_id, min(e.t) AS t1
              FROM e JOIN s0 ON e.user_id = s0.user_id
              WHERE e.event_type = 'click' AND e.t > s0.t0
              GROUP BY e.user_id
            ),
            s2 AS (
              SELECT e.user_id, min(e.t) AS t2
              FROM e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'purchase' AND e.t > s1.t1
              GROUP BY e.user_id
            ),
            g1 AS (
              SELECT (s1.t1 - s0.t0) // 1000000000 AS g
              FROM s1 JOIN s0 ON s1.user_id = s0.user_id
            ),
            g2 AS (
              SELECT (s2.t2 - s1.t1) // 1000000000 AS g
              FROM s2 JOIN s1 ON s2.user_id = s1.user_id
            )
            SELECT CAST(2 AS INT) AS step, 'click' AS step_type,
                   CAST(count(g) AS BIGINT) AS n_converted,
                   CAST(floor(CAST(SUM(g) AS DOUBLE) * 1000.0 / count(g)
                              + 0.5) AS BIGINT) AS avg_gap_ms,
                   median(g) + 0.0 AS p50_gap_sec
            FROM g1
            UNION ALL
            SELECT CAST(3 AS INT), 'purchase',
                   CAST(count(g) AS BIGINT),
                   CAST(floor(CAST(SUM(g) AS DOUBLE) * 1000.0 / count(g)
                              + 0.5) AS BIGINT),
                   median(g) + 0.0
            FROM g2""",
        "rebalance_classes_q": f"""
            WITH t AS (
              SELECT min(cnt) AS target FROM (
                SELECT count(*) AS cnt FROM embeddings GROUP BY label
              )
            ),
            rk AS (
              SELECT vec_id, label,
                     row_number() OVER (
                       PARTITION BY label
                       ORDER BY {sql_keyed_hash_hex("'rebalance'", "vec_id")},
                                vec_id
                     ) AS rk
              FROM embeddings
            )
            SELECT vec_id, label FROM rk CROSS JOIN t WHERE rk <= target""",
        "roc_auc_by_events": """
            WITH scored AS (
              SELECT user_id % 4 AS grp,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS label,
                     CAST(floor(value * 10 + 0.5) AS BIGINT) AS score
              FROM events
            ),
            g AS (
              SELECT grp, score AS s,
                     SUM(CAST(label AS DOUBLE)) AS pos,
                     SUM(1 - CAST(label AS DOUBLE)) AS neg
              FROM scored GROUP BY grp, score
            ),
            per AS (
              SELECT grp, pos, neg,
                     COALESCE(SUM(neg) OVER (
                       PARTITION BY grp ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0.0) AS neg_below
              FROM g
            )
            SELECT grp,
                   round(SUM(pos * (neg_below + neg / 2.0))
                         / (CASE WHEN SUM(pos) > 0 AND SUM(neg) > 0
                                 THEN SUM(pos) * SUM(neg) END), 9) AS auc,
                   CAST(SUM(pos) AS BIGINT) AS n_pos,
                   CAST(SUM(neg) AS BIGINT) AS n_neg
            FROM per GROUP BY grp""",
        "class_margins_q": """
            WITH x AS (
              SELECT label,
                     generate_subscripts(embedding, 1) - 1 AS pos,
                     unnest(embedding) AS v
              FROM embeddings
            ),
            cent AS (
              SELECT label, pos,
                     round(avg(CAST(v AS DOUBLE)), 6) AS m,
                     count(*) AS cnt
              FROM x GROUP BY label, pos
            ),
            vecs AS (
              SELECT label, CAST(max(cnt) AS BIGINT) AS n,
                     list(m ORDER BY pos) AS c
              FROM cent GROUP BY label
            ),
            pairs AS (
              SELECT a.label AS la, a.n,
                     round(sqrt(list_sum(list_transform(a.c, v -> v * v))), 6)
                       AS centroid_norm,
                     b.label AS lb,
                     round(list_sum(list_transform(list_zip(a.c, b.c),
                                    p -> p[1] * p[2]))
                           / (sqrt(list_sum(list_transform(a.c, v -> v * v)))
                              * sqrt(list_sum(list_transform(b.c, v -> v * v)))
                              + 1e-12), 6) AS cos
              FROM vecs a JOIN vecs b ON a.label <> b.label
            )
            SELECT la AS label, n, centroid_norm,
                   lb AS nearest_label, cos AS nearest_cos
            FROM (
              SELECT *, row_number() OVER (
                       PARTITION BY la ORDER BY cos DESC, lb
                     ) AS rk
              FROM pairs
            ) WHERE rk = 1""",
        "k_core_q": """
            WITH e0 AS MATERIALIZED (
              SELECT DISTINCT
                     least(l_partkey % 2000, l_suppkey % 2000) AS a,
                     greatest(l_partkey % 2000, l_suppkey % 2000) AS b
              FROM lineitem
              WHERE l_partkey % 2000 <> l_suppkey % 2000
            ),
            d0 AS MATERIALIZED (
              SELECT n, count(*) AS d FROM (
                SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0
              ) GROUP BY n
            ),
            k0 AS MATERIALIZED (SELECT n FROM d0 WHERE d >= 24),
            e1 AS MATERIALIZED (
              SELECT e0.a, e0.b FROM e0
              JOIN k0 x ON e0.a = x.n JOIN k0 y ON e0.b = y.n
            ),
            d1 AS MATERIALIZED (
              SELECT n, count(*) AS d FROM (
                SELECT a AS n FROM e1 UNION ALL SELECT b FROM e1
              ) GROUP BY n
            ),
            k1 AS MATERIALIZED (SELECT n FROM d1 WHERE d >= 24),
            e2 AS MATERIALIZED (
              SELECT e1.a, e1.b FROM e1
              JOIN k1 x ON e1.a = x.n JOIN k1 y ON e1.b = y.n
            ),
            d2 AS MATERIALIZED (
              SELECT n, count(*) AS d FROM (
                SELECT a AS n FROM e2 UNION ALL SELECT b FROM e2
              ) GROUP BY n
            ),
            k2 AS MATERIALIZED (SELECT n FROM d2 WHERE d >= 24),
            e3 AS MATERIALIZED (
              SELECT e2.a, e2.b FROM e2
              JOIN k2 x ON e2.a = x.n JOIN k2 y ON e2.b = y.n
            ),
            d3 AS MATERIALIZED (
              SELECT n, count(*) AS d FROM (
                SELECT a AS n FROM e3 UNION ALL SELECT b FROM e3
              ) GROUP BY n
            ),
            k3 AS MATERIALIZED (SELECT n FROM d3 WHERE d >= 24),
            e4 AS MATERIALIZED (
              SELECT e3.a, e3.b FROM e3
              JOIN k3 x ON e3.a = x.n JOIN k3 y ON e3.b = y.n
            ),
            d4 AS MATERIALIZED (
              SELECT n, count(*) AS d FROM (
                SELECT a AS n FROM e4 UNION ALL SELECT b FROM e4
              ) GROUP BY n
            )
            SELECT n AS node, CAST(d AS BIGINT) AS deg
            FROM d4 WHERE d >= 24""",
    }
    # the streaming monitor resolves to EXACTLY the batch psi_per_dim —
    # one twin serves both (shared tally/formula code on the Spark side)
    out["stream_psi_embeddings"] = out["psi_drift_embeddings"]
    # streamed clusters must equal batch clusters — one twin for both
    out["stream_components_docs"] = out["dedup_components"]
    # KMV merges exactly, so the streamed store resolves bit-identical to
    # the one-shot sketch — the batch twin serves both
    out["stream_kmv_docs"] = out["sketch_distinct_tokens"]
    # additive counts: the streamed rate store resolves to exactly the
    # batch anomaly table — one twin for both
    out["stream_rates_events"] = out["rate_anomalies_events"]
    # round 13: the rare-shingle store resolve equals the one-shot chain
    out["stream_containment_docs"] = out["containment_rare_shingle"]
    # round 14: the Bloom pre-probe is exact after verify (zero false
    # negatives by construction) — the plain decontamination twin pins it
    out["bloom_decontam_docs"] = out["decontaminate_docs"]
    # round 14: temperature_mix — the whole derivation (n^alpha shares,
    # 9-dp-cushioned largest-remainder apportionment, keyed-hash repeat
    # assignment, generate_series expansion) recomputed in DuckDB
    _tm_hash = sql_keyed_hash_hex("'tempmix'", "d.doc_id")
    out["temperature_mix_docs"] = f"""
        WITH per AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n
          FROM documents GROUP BY source
        ),
        tot AS (
          SELECT CAST(1000 AS BIGINT) AS t, sum(pow(n, 0.3)) AS w FROM per
        ),
        scored AS (
          SELECT source, n, t,
                 CAST(floor(round(t * pow(n, 0.3) / w, 9)) AS BIGINT) AS base,
                 round(round(t * pow(n, 0.3) / w, 9)
                       - floor(round(t * pow(n, 0.3) / w, 9)), 9) AS frac
          FROM per, tot
        ),
        targets AS (
          SELECT source, n,
                 base + CASE WHEN row_number()
                          OVER (ORDER BY frac DESC, source ASC)
                        <= t - (SELECT sum(base) FROM scored)
                        THEN 1 ELSE 0 END AS target
          FROM scored
        ),
        ranked AS (
          SELECT d.doc_id, d.source, tg.n, tg.target,
                 row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY {_tm_hash} ASC, d.doc_id ASC
                 ) AS rk
          FROM documents d JOIN targets tg USING (source)
        ),
        reps AS (
          SELECT doc_id, source,
                 CAST(floor(CAST(target AS DOUBLE) / n) AS BIGINT)
                 + CASE WHEN rk <= target % n THEN 1 ELSE 0 END AS r
          FROM ranked
        )
        SELECT doc_id, source, CAST(u.c AS BIGINT) AS copy
        FROM reps, LATERAL unnest(generate_series(1, r)) AS u(c)
        WHERE r >= 1"""
    # round 14 (VERDICT r13 #3): the BPE trainer's merge loop IS
    # SQL-expressible — a recursive CTE carries the whole word-frequency
    # state as one list-of-structs row per iteration.  Greedy
    # left-to-right non-overlapping merge application maps exactly onto
    # string replace() over symbol strings wrapped as ' a  b  c '
    # (every symbol owns its delimiters, so adjacent matches never share
    # characters and multi-char symbols never false-match across
    # boundaries); the argmax tie-break is the same (-count, a, b)
    # struct sort as tokenizer.learn_merges.  Training state after the
    # final merge == the encoder's per-word output (all corpus words are
    # in-vocab at min_word_count=1), so per-doc fertility needs no
    # second encode pass.  num_merges=100 / min_pair_count=2 mirror the
    # gallery query; the CTE stops early with it when no pair reaches 2.
    _syms = "string_split(substring({s}, 2, length({s}) - 2), '  ')"
    _sw, _ss = _syms.format(s="w.s"), _syms.format(s="w.s")
    out["bpe_token_counts"] = f"""
        WITH RECURSIVE
        wf AS (
          SELECT word, CAST(count(*) AS BIGINT) AS f FROM (
            SELECT unnest({toks}) AS word FROM documents
          ) GROUP BY word
        ),
        bpe(i, st) AS (
          SELECT 0, (SELECT list({{'w': word, 'f': f,
                        's': ' ' || array_to_string(
                               list_transform(range(1, length(word) + 1),
                                              k -> word[k]), '  ') || ' '}}
                      ORDER BY word) FROM wf)
          UNION ALL
          SELECT i + 1,
                 list_transform(st, w -> {{'w': w.w, 'f': w.f,
                   's': replace(w.s, ' ' || best.a || '  ' || best.b || ' ',
                                ' ' || best.a || best.b || ' ')}})
          FROM (
            SELECT i, st,
                   list_sort(list_transform(
                     list_filter(pk, (x, j) -> j = 1 OR pk[j-1] <> x),
                     q -> {{'negc': -list_sum(list_transform(
                              list_filter(pf, x -> x.a = q.a AND x.b = q.b),
                              x -> x.f)),
                            'a': q.a, 'b': q.b}}))[1] AS best
            FROM (
              SELECT i, st, pf,
                     list_sort(list_transform(pf, x -> {{'a': x.a, 'b': x.b}})) AS pk
              FROM (
                SELECT i, st,
                       flatten(list_transform(st, w ->
                         list_transform(
                           list_filter(list_zip({_sw}, {_ss}[2:]),
                                       p -> p[2] IS NOT NULL),
                           p -> {{'a': p[1], 'b': p[2], 'f': w.f}}))) AS pf
                FROM bpe WHERE i < 100
              )
            )
          ) WHERE best IS NOT NULL AND -best.negc >= 2
        ),
        fin AS (SELECT st FROM bpe ORDER BY i DESC LIMIT 1),
        wsym AS (
          SELECT w.w AS word,
                 CAST(len({_syms.format(s="w.s")}) AS BIGINT) AS n_sym
          FROM (SELECT unnest(st) AS w FROM fin)
        ),
        docw AS (SELECT doc_id, unnest({toks}) AS word FROM documents),
        agg AS (
          SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                 CAST(sum(s.n_sym) AS BIGINT) AS n_bpe_tokens
          FROM docw d JOIN wsym s USING (word) GROUP BY d.doc_id
        )
        SELECT doc_id,
               coalesce(a.n_words, CAST(0 AS BIGINT)) AS n_words,
               coalesce(a.n_bpe_tokens, CAST(0 AS BIGINT)) AS n_bpe_tokens,
               round(CASE WHEN coalesce(a.n_words, 0) > 0
                     THEN CAST(a.n_bpe_tokens AS DOUBLE) / a.n_words
                     ELSE 0.0 END, 6) AS tokens_per_word
        FROM documents LEFT JOIN agg a USING (doc_id)"""
    return out
