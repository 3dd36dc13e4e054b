"""``pipeline_mix``: one pass of many short gallery queries over small
generated tables, in a seed-shuffled order, each checked against its DuckDB
twin from ``__spark_entry__.oracle_sql()`` (answers computed in set-up),
then the ``curation_stream`` pass over the same events and documents.
``semantic_dedup`` has no twin; it is checked against a numpy reference of
the same pair rule (exact-duplicate groups must collapse, and no component
may join vectors the brute-force rule keeps apart)."""

from __future__ import annotations

import hashlib
import os
import statistics
import time

import numpy as np

from perfbench import gen
from perfbench.wl_stream import CurationStream

ORACLE_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_nation_revenue",
    "events_hourly", "events_user_rollup", "dedup_minhash_pairs", "dedup_simhash",
    "text_stats", "lang_id", "ann_topk_cosine", "cosine_neardup", "knn_degrees",
    "carrier_selection",
)
SEMDEDUP = "semantic_dedup"
SEM_EPS = 0.1
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def canon(pdf) -> tuple[int, list[str], str]:
    """(rows, sorted columns, order-insensitive value hash) of a pandas frame;
    doubles compared at 9 decimals, the same rule as the oracle gate."""
    cols = sorted(pdf.columns)

    def cell(v):
        if isinstance(v, (list, tuple, np.ndarray)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        if isinstance(v, float):
            if v != v:
                return "nan"
            return "0" if v == 0.0 else repr(round(v, 9))
        return "null" if v is None else str(v)

    rows = sorted("|".join(cell(v) for v in r) for r in pdf[cols].itertuples(index=False))
    return len(pdf), cols, hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def plant_duplicates(tables: dict, seed: int) -> dict:
    """Overwrite 5% of the embeddings with exact copies of other rows, so
    semantic dedup has groups to collapse."""
    emb = tables["embeddings"]
    n = emb.num_rows
    mat = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float32)
    rng = gen.rng_for(seed, "mix-dups")
    dst = rng.choice(np.arange(1, n), max(1, n // 20), replace=False)
    mat[dst] = mat[rng.integers(0, n, len(dst))]
    tables["embeddings"] = emb.set_column(1, "embedding", gen.list_column(mat))
    return tables


def semdedup_reference(mat: np.ndarray, ids: np.ndarray, eps: float):
    """(exact-duplicate groups, brute-force component label per id) for the
    rule cos >= 1 - eps, by union-find over all pairs."""
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    parent = list(range(len(ids)))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    a, b = np.nonzero(np.triu(unit @ unit.T >= 1.0 - eps, 1))
    for i, j in zip(a, b):
        parent[find(i)] = find(j)
    comp = {int(ids[i]): find(i) for i in range(len(ids))}
    groups: dict[bytes, list[int]] = {}
    for i in range(len(ids)):
        groups.setdefault(mat[i].tobytes(), []).append(int(ids[i]))
    return [g for g in groups.values() if len(g) > 1], comp


class PipelineMix:
    name = "pipeline_mix"
    #: one pass (queries, then streams) per run: a batch pipeline runs each
    #: query once per session, and a second pass does not fit the time cap
    #: of a full regression check (see README)
    min_ops = 1

    def __init__(self, spark, seed: int, work: str, size: str = "small"):
        import __spark_entry__ as E

        self.spark, self.seed, self.size = spark, seed, size
        self.sf = os.path.join(work, "tables")
        self.queries = E.queries()
        self.oracles = E.oracle_sql()
        names = list(ORACLE_QUERIES) + [SEMDEDUP]
        gen.rng_for(seed, "mix-order").shuffle(names)
        self.order = names
        self.expected: dict = {}
        self.quality: dict = {}
        self.stream = CurationStream(spark, seed, work, size)

    def prepare(self) -> None:
        tables = plant_duplicates(gen.relational_tables(self.seed, self.size), self.seed)
        gen.write_tables(tables, self.sf)
        self.stream.tables = tables
        self.stream.prepare()

    def once(self) -> None:
        """The oracle answers: every DuckDB twin, and the semdedup reference."""
        import duckdb
        import pyarrow.parquet as pq

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.sf, t)}.parquet')")
            for q in ORACLE_QUERIES:
                self.expected[q] = canon(con.execute(self.oracles[q]).df())
        finally:
            con.close()
        emb = pq.read_table(os.path.join(self.sf, "embeddings.parquet"))
        mat = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        self.expected[SEMDEDUP] = semdedup_reference(
            mat, emb.column("vec_id").to_numpy(), SEM_EPS)

    def warm(self) -> dict:
        """The streams' warm-up and batch answers.  The queries need no
        warm-up: the batch answers pay the session's first-job costs, and
        a query's first run is within a tenth of its later ones."""
        return self.stream.warm()

    def run_query(self, name: str):
        if name == SEMDEDUP:
            from pyspark.sql import functions as F

            from vectordb_watermark_spark.operators.similarity import semantic_dedup

            df = self.spark.read.parquet(os.path.join(self.sf, "embeddings.parquet")).select(
                F.col("vec_id").alias("id"), F.col("embedding").alias("emb"))
            return semantic_dedup(df, n_clusters=8, eps=SEM_EPS)
        return self.queries[name](self.spark, self.sf)

    def check(self, name: str, pdf) -> bool:
        if name != SEMDEDUP:
            return canon(pdf) == self.expected[name]
        groups, comp = self.expected[SEMDEDUP]
        canonical = dict(zip(pdf["id"].tolist(), pdf["canonical"].tolist()))
        if len(canonical) != len(comp):
            return False
        collapsed = all(len({canonical[i] for i in g}) == 1 and canonical[g[0]] <= min(g)
                        for g in groups)
        sound = all(comp[i] == comp[c] for i, c in canonical.items())
        return collapsed and sound

    def queries_pass(self) -> dict:
        from vectordb_watermark_spark.operators.dedup import release_signature_caches

        release_signature_caches()
        times, outputs, bad = [], {}, []
        for name in self.order:
            q0 = time.perf_counter()
            try:
                outputs[name] = self.run_query(name).toPandas()
            except Exception as exc:  # counted, reported, and the pass goes on
                bad.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            times.append(time.perf_counter() - q0)
        bad += [name for name, pdf in outputs.items() if not self.check(name, pdf)]
        return {"ok": not bad, "error": "; ".join(bad) or None, "checks": len(self.order),
                "failed_checks": len(bad), "steps": times, "op_s": sum(times),
                "parts": {"mix_pass_s": sum(times), "query_p50_s": statistics.median(times)}}

    def op(self) -> dict:
        """The queries, then the stream pass.  Its steps are the short
        reads: each query and each store resolve.  The streams' trigger
        times, which run side by side, are in ``batch_p50_s``."""
        mix, st = self.queries_pass(), self.stream.op()
        return {"ok": mix["ok"] and st["ok"],
                "error": "; ".join(r["error"] for r in (mix, st) if r["error"]) or None,
                "checks": mix["checks"] + st["checks"],
                "failed_checks": mix["failed_checks"] + st["failed_checks"],
                "steps": mix["steps"] + st["resolves"], "op_s": mix["op_s"] + st["op_s"],
                "parts": {**mix["parts"], **st["parts"]}}

    def traced_op(self, tr) -> dict:
        from vectordb_watermark_spark.operators.dedup import release_signature_caches

        release_signature_caches()
        counters, ok = {}, True
        plan_s = 0.0
        for name in self.order:
            with tr.span(f"mix.{name}"):
                df = self.run_query(name)
                pdf = df.toPandas()
            ok = self.check(name, pdf) and ok
            phases = df._jdf.queryExecution().tracker().phases()
            it = phases.iterator()
            while it.hasNext():
                plan_s += it.next()._2().durationMs() / 1e3
        counters["mix.plan_s"] = plan_s
        st = self.stream.traced_op(tr)
        counters.update(st["counters"])
        return {"ok": ok and st["ok"], "counters": counters}
