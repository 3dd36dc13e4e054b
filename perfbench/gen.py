"""Seeded input generators for the benchmark.

Everything the engine sees in a benchmark run is made here from the
workload seed, with numpy and pyarrow only (no Spark), so the same seed
gives byte-identical inputs on any machine.  The relational tables follow
the schemas and value ranges of the engine's TPC-H-ish test tables; the
watermark corpus is a clustered stand-in for MiniLM sentence embeddings.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the 30-word vocabulary of the documents table (plus the near-dup marker)
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

#: row counts per relational table for one mix size
MIX_SIZES = {
    "small": dict(customer=600, supplier=40, part=800, orders=6000, lineitem=24000,
                  events=6000, documents=300, embeddings=240),
    "tiny": dict(customer=60, supplier=10, part=80, orders=300, lineitem=1200,
                 events=600, documents=60, embeddings=48),
}


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input stream), so adding an input
    never shifts the values of another."""
    return np.random.default_rng([int(seed), zlib.crc32(stream.encode())])


def list_column(mat: np.ndarray) -> pa.ListArray:
    """(n, d) float32 matrix -> Arrow list<float> column, no Python loop."""
    mat = np.ascontiguousarray(mat, dtype=np.float32)
    n, d = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.reshape(-1)))


def clustered_vectors(
    seed: int, n: int, dim: int = 384, comps: int = 64, norm: float = 5.5,
    dup_frac: float = 0.01,
) -> np.ndarray:
    """Gaussian-mixture corpus with MiniLM-like norms (~``norm``) and
    ``dup_frac`` exact-duplicate rows.  The norm matters: at unit norm a
    sigma=0.05 Gaussian attack destroys most carriers, at ~5.5 it does not."""
    rng = rng_for(seed, "vectors")
    centers = rng.standard_normal((comps, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, comps, n)
    x = centers[labels] + rng.standard_normal((n, dim)) * (0.6 / np.sqrt(dim))
    scale = norm * np.exp(0.05 * rng.standard_normal(n))
    x *= (scale / np.linalg.norm(x, axis=1))[:, None]
    n_dup = int(n * dup_frac)
    if n_dup:
        dst = rng.choice(n, n_dup, replace=False)
        src = rng.integers(0, n, n_dup)
        x[dst] = x[src]
    return x.astype(np.float32)


def write_vectors(path: str, mat: np.ndarray, id_start: int = 1) -> None:
    """``(id BIGINT, emb ARRAY<FLOAT>)`` parquet, ids dense from ``id_start``."""
    ids = pa.array(np.arange(id_start, id_start + len(mat), dtype=np.int64))
    pq.write_table(pa.table({"id": ids, "emb": list_column(mat)}), path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + days, type=pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        length = int(rng.integers(8, 90))
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), length)))
    # planted near-duplicates: a copy of an earlier document plus a marker
    for i in rng.choice(np.arange(1, n), max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _events(rng, n: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]") + start
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(2, n // 66), n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(40.0, n) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def relational_tables(seed: int, size: str = "small") -> dict[str, pa.Table]:
    """The ten tables the gallery queries read, at ``MIX_SIZES[size]``."""
    s = MIX_SIZES[size]
    rng = rng_for(seed, "tables")
    n_c, n_s, n_p, n_o, n_l = (s[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c)),
        "c_mktsegment": pa.array([
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"][i]
            for i in rng.integers(0, 5, n_c)
        ]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_s)),
    })
    adj = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_p, dtype=np.int64)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_p, 2))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_p)]),
        "p_type": pa.array([
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"][i]
            for i in rng.integers(0, 6, n_p)
        ]),
        "p_size": pa.array(rng.integers(1, 51, n_p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 2)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o).astype(np.int64)),
        "o_orderstatus": pa.array([["F", "O", "P"][i] for i in rng.integers(0, 3, n_o)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_o)),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n_o),
        "o_orderpriority": pa.array([
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][i]
            for i in rng.integers(0, 5, n_o)
        ]),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_l)),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pa.array([["A", "N", "R"][i] for i in rng.integers(0, 3, n_l)]),
        "l_linestatus": pa.array([["F", "O"][i] for i in rng.integers(0, 2, n_l)]),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, n_l),
    })
    t["events"] = _events(rng, s["events"])
    t["documents"] = _documents(rng, s["documents"])
    n_e = s["embeddings"]
    emb = rng.standard_normal((n_e, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_e, dtype=np.int64)),
        "embedding": list_column(emb),
        "label": pa.array(rng.integers(0, 10, n_e).astype(np.int32)),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def split_by_order(tbl: pa.Table, order_col: str, n_parts: int) -> list[pa.Table]:
    """Contiguous slices of ``tbl`` in ``order_col`` order — time-ordered
    micro-batches for the streaming sinks."""
    tbl = tbl.sort_by(order_col)
    bounds = np.linspace(0, tbl.num_rows, n_parts + 1).astype(int)
    return [tbl.slice(lo, hi - lo) for lo, hi in zip(bounds[:-1], bounds[1:])]
