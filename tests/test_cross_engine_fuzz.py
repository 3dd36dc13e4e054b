"""Cross-engine fuzz: every text-expression twin must agree between Spark
(Catalyst) and DuckDB on ARBITRARY text, not just the driver corpus.  The
oracle gate hash-checks the fixed testdata; this suite feeds
hypothesis-generated strings (whitespace runs, unicode-ish punctuation,
numbers, empty/one-token edge cases) through both engines and compares
value-for-value — the test that catches regex-dialect or list-function
drift before it reaches a gate failure.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from vectordb_watermark_spark.functions import text as T

# printable-ascii word soup with explicit whitespace variety; hypothesis
# shrinks failures to minimal examples
_word = st.text(
    alphabet=st.sampled_from("abcdefgzy019.,!?;@-+%_"), min_size=0, max_size=8
)
_texts = st.lists(
    st.lists(_word, min_size=0, max_size=12).map(lambda ws: " \t ".join(ws)),
    min_size=1,
    max_size=8,
)

_PAIRS = [
    ("n_tokens", lambda c: T.token_count(c), T.sql_token_count),
    ("n_words", lambda c: T.word_count_regex(c), T.sql_word_count_regex),
    ("n_punct", lambda c: T.punct_count(c), T.sql_punct_count),
    ("n_stop", lambda c: T.stopword_count(c), T.sql_stopword_count),
    ("quality", lambda c: T.quality_score(c) + F.lit(0.0), lambda t: f"{T.sql_quality_score(t)} + 0.0"),
    ("lang", lambda c: T.lang_id(c), T.sql_lang_id),
    ("dup_tok", lambda c: T.dup_token_fraction(c) + F.lit(0.0), lambda t: f"{T.sql_dup_token_fraction(t)} + 0.0"),
    ("top_bg", lambda c: T.top_bigram_fraction(c) + F.lit(0.0), lambda t: f"{T.sql_top_bigram_fraction(t)} + 0.0"),
    ("mean_tl", lambda c: T.mean_token_len(c) + F.lit(0.0), lambda t: f"{T.sql_mean_token_len(t)} + 0.0"),
]


@pytest.fixture(scope="module")
def fuzz_con():
    con = duckdb.connect()
    yield con
    con.close()


@given(_texts)
@settings(max_examples=30, deadline=None)
def test_text_twins_agree_on_arbitrary_text(spark, fuzz_con, texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = (
        df.select(
            "doc_id", *[fn(F.col("text")).alias(name) for name, fn, _ in _PAIRS]
        )
        .orderBy("doc_id")
        .collect()
    )
    fuzz_con.execute("CREATE OR REPLACE TABLE fuzz(doc_id INT, text VARCHAR)")
    fuzz_con.executemany("INSERT INTO fuzz VALUES (?, ?)", rows)
    sql = "SELECT doc_id, " + ", ".join(
        f"{sql_fn('text')} AS {name}" for name, _, sql_fn in _PAIRS
    ) + " FROM fuzz ORDER BY doc_id"
    want = fuzz_con.execute(sql).fetchall()
    for g, w in zip(got, want):
        for (name, _, _), gv, wv in zip(_PAIRS, list(g)[1:], list(w)[1:]):
            if isinstance(gv, float) or isinstance(wv, float):
                assert gv == pytest.approx(wv, abs=1e-9), (name, g["doc_id"], gv, wv, texts[g["doc_id"]])
            else:
                assert gv == wv, (name, g["doc_id"], gv, wv, texts[g["doc_id"]])


_pii_text = st.lists(
    st.sampled_from([
        "plain words here", "a.b+c@ex-site.org", "b@x.io,", "x@y", "@@",
        "+1 555-0100", "(415) 555 2671", "12345678901", "555", "a@b.co end",
        "tel: +44 (0) 20 7946 0958 ok", "dot.dot@sub.domain.example.com",
    ]),
    min_size=1, max_size=6,
).map(" ".join)


@given(st.lists(_pii_text, min_size=1, max_size=6))
@settings(max_examples=30, deadline=None)
def test_pii_twins_agree(spark, fuzz_con, texts):
    """Email/phone patterns must behave identically under Java regex (Spark)
    and RE2 (DuckDB) — counts AND the redacted strings themselves."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    n_email, n_phone = T.pii_counts(F.col("text"))
    got = (
        df.select("doc_id", n_email.alias("e"), n_phone.alias("p"),
                  T.redact_pii(F.col("text")).alias("red"))
        .orderBy("doc_id").collect()
    )
    fuzz_con.execute("CREATE OR REPLACE TABLE fz2(doc_id INT, text VARCHAR)")
    fuzz_con.executemany("INSERT INTO fz2 VALUES (?, ?)", rows)
    pii = T.sql_pii("text")
    want = fuzz_con.execute(
        f"SELECT doc_id, {pii['n_email']} AS e, {pii['n_phone']} AS p, "
        f"{pii['redacted']} AS red FROM fz2 ORDER BY doc_id"
    ).fetchall()
    for g, w in zip(got, want):
        assert (g["e"], g["p"], g["red"]) == (w[1], w[2], w[3]), texts[g["doc_id"]]


@given(st.lists(st.integers(0, 2**40), min_size=1, max_size=20, unique=True))
@settings(max_examples=30, deadline=None)
def test_keyed_hash_twins_agree(spark, fuzz_con, ids):
    """keyed_uniform / word60 — the engine's only 'randomness' — must be
    bit-identical across engines for arbitrary ids."""
    from vectordb_watermark_spark.functions import hashing as H

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    hexc = H.keyed_hash_hex("fz", F.col("id"))
    got = (
        df.select("id", H.hash_uniform(hexc).alias("u"), H.word60(hexc).alias("w"))
        .orderBy("id").collect()
    )
    fuzz_con.execute("CREATE OR REPLACE TABLE fz3(id BIGINT)")
    fuzz_con.executemany("INSERT INTO fz3 VALUES (?)", [(i,) for i in ids])
    hx = H.sql_keyed_hash_hex("'fz'", "id")
    want = fuzz_con.execute(
        f"SELECT id, {H.sql_hash_uniform(hx)} AS u, {H.sql_word60(hx)} AS w "
        "FROM fz3 ORDER BY id"
    ).fetchall()
    for g, w in zip(got, want):
        assert g["u"] == pytest.approx(w[1], abs=0) and g["w"] == w[2], g["id"]


# ---------------------------------------------------------------------------
# sampling twins (VERDICT r6 task #8): the keyed / stratified / weighted
# samplers previously had fixed-input oracles only — fuzz arbitrary ids,
# KEYS, and RATES and assert the two engines select the SAME rows.  The
# samplers are pure functions of keyed_uniform, so any drift here means a
# real selection divergence, not a formatting one.
# ---------------------------------------------------------------------------

_ids = st.lists(st.integers(0, 2**40), min_size=1, max_size=25, unique=True)
_key = st.text(alphabet="abcxyz019-_", min_size=1, max_size=8)
_rate = st.floats(min_value=0.05, max_value=0.95)


@given(_ids, _key, _rate)
@settings(max_examples=20, deadline=None)
def test_keyed_sampler_twins_agree(spark, fuzz_con, ids, key, rate):
    """O5 keyed sampler: filter keyed_uniform(key, id) < rate — identical
    kept-sets for arbitrary keys and rates."""
    from vectordb_watermark_spark.functions import hashing as H

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = sorted(
        r["id"]
        for r in df.filter(H.keyed_uniform(key, "v", F.col("id")) < F.lit(rate)).collect()
    )
    fuzz_con.execute("CREATE OR REPLACE TABLE fzs(id BIGINT)")
    fuzz_con.executemany("INSERT INTO fzs VALUES (?)", [(i,) for i in ids])
    u = H.sql_keyed_uniform(f"'{key}'", "'v'", "id")
    want = sorted(
        r[0] for r in fuzz_con.execute(f"SELECT id FROM fzs WHERE {u} < {rate!r}").fetchall()
    )
    assert got == want, (key, rate)


@given(_ids, _key, st.tuples(_rate, _rate, _rate))
@settings(max_examples=20, deadline=None)
def test_stratified_sampler_twins_agree(spark, fuzz_con, ids, key, rates):
    """O5 stratified extension: per-stratum keyed rates (stratum = id % 3)
    — identical kept-sets for arbitrary keys and rate vectors."""
    from vectordb_watermark_spark.functions import hashing as H

    r0, r1, r2 = rates
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    rate_col = (
        F.when(F.col("id") % 3 == 0, r0)
        .when(F.col("id") % 3 == 1, r1)
        .otherwise(r2)
    )
    got = sorted(
        r["id"]
        for r in df.filter(H.keyed_uniform(key, "s", F.col("id")) < rate_col).collect()
    )
    fuzz_con.execute("CREATE OR REPLACE TABLE fzt(id BIGINT)")
    fuzz_con.executemany("INSERT INTO fzt VALUES (?)", [(i,) for i in ids])
    u = H.sql_keyed_uniform(f"'{key}'", "'s'", "id")
    case = f"CASE id % 3 WHEN 0 THEN {r0!r} WHEN 1 THEN {r1!r} ELSE {r2!r} END"
    want = sorted(
        r[0] for r in fuzz_con.execute(f"SELECT id FROM fzt WHERE {u} < {case}").fetchall()
    )
    assert got == want, (key, rates)


@given(_ids, _key, st.integers(1, 8))
@settings(max_examples=20, deadline=None)
def test_weighted_sampler_twins_agree(spark, fuzz_con, ids, key, k):
    """O5 Efraimidis-Spirakis weighted sampler: top-k by log(u)/w (the
    pow-free monotone form the oracle uses) — identical selections AND
    order for arbitrary keys, k, and id-derived weights."""
    from vectordb_watermark_spark.functions import hashing as H

    k = min(k, len(ids))
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    w_col = (F.col("id") % 7 + 1).cast("double")
    score = F.log(H.keyed_uniform(key, "w", F.col("id"))) / w_col
    got = [
        r["id"]
        for r in df.select("id", score.alias("s"))
        .orderBy(F.col("s").desc(), F.col("id").asc())
        .limit(k)
        .collect()
    ]
    fuzz_con.execute("CREATE OR REPLACE TABLE fzw(id BIGINT)")
    fuzz_con.executemany("INSERT INTO fzw VALUES (?)", [(i,) for i in ids])
    u = H.sql_keyed_uniform(f"'{key}'", "'w'", "id")
    want = [
        r[0]
        for r in fuzz_con.execute(
            f"SELECT id FROM fzw ORDER BY ln({u}) / (id % 7 + 1) DESC, id LIMIT {k}"
        ).fetchall()
    ]
    assert got == want, (key, k)


def test_q5_half_cent_ties_round_alike(spark, tmp_path):
    """q5 and its DuckDB twin round a planted exact half-cent revenue
    half-up at any partitioning: NATION_0 is 4.275 + 8.265 + 9.595 =
    22.135 and NATION_1 10.695 + 1.00 = 11.695.  Summed as doubles these
    came out 22.134999999999998 and 11.694999999999999, one ulp-scale
    error from the tie, and the cents then depended on summation order."""
    from vectordb_watermark_spark.gallery import build_oracles, build_queries

    tables = {
        "region": ("r_regionkey INT", [(0,)]),
        "nation": ("n_nationkey INT, n_name VARCHAR, n_regionkey INT",
                   [(0, "NATION_0", 0), (1, "NATION_1", 0)]),
        "customer": ("c_custkey INT, c_nationkey INT", [(0, 0), (1, 1)]),
        "supplier": ("s_suppkey INT, s_nationkey INT", [(0, 0), (1, 1)]),
        "orders": ("o_orderkey INT, o_custkey INT", [(1, 0), (2, 1), (3, 0)]),
        "lineitem": (
            "l_orderkey INT, l_suppkey INT, l_extendedprice DOUBLE, l_discount DOUBLE",
            [(1, 0, 4.50, 0.05), (1, 0, 8.70, 0.05), (3, 0, 10.10, 0.05),
             (2, 1, 11.50, 0.07), (2, 1, 1.00, 0.00)],
        ),
    }
    con = duckdb.connect()
    for name, (cols, rows) in tables.items():
        path = tmp_path / f"{name}.parquet"
        con.execute(f"CREATE TABLE t ({cols})")
        con.executemany(f"INSERT INTO t VALUES ({', '.join('?' * len(rows[0]))})", rows)
        con.execute(f"COPY t TO '{path}' (FORMAT PARQUET)")
        con.execute(f"DROP TABLE t; CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    q5 = build_queries()["q5_nation_revenue"]
    want = [("NATION_0", 22.14), ("NATION_1", 11.70)]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in (1, 4):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            con.execute(f"SET threads = {n}")
            got = sorted(tuple(r) for r in q5(spark, str(tmp_path)).collect())
            twin = sorted(con.execute(build_oracles()["q5_nation_revenue"]).fetchall())
            assert got == twin == want, n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        con.close()
