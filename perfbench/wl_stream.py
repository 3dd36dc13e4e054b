"""``curation_stream``: the write path.  Seeded events, documents and
vectors are split into time-ordered micro-batch files and streamed with
``availableNow`` through the ``foreachBatch`` sinks of
``streaming/curation.py``; every store is then resolved and compared with
its batch operator over the same rows (answers computed in set-up).

The nine sinks run as nine streaming queries started together, as a
deployment runs its curation streams side by side; the stores are then
resolved one at a time.  ``pipeline_mix`` runs this pass after its
queries, over its own events and documents tables.

``incremental_components`` is left out: at useful sizes it alone runs
longer, and runs more jobs, than every other sink together."""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen

SIZES = {
    "small": dict(events=6000, docs=300, vectors=1200, batches=2),
    "tiny": dict(events=600, docs=60, vectors=400, batches=2),
}
DIM = 64
TERMS = ["spark", "query", "dup"]
CONTAINMENT = 0.8
SINKS = (
    "incremental_index", "incremental_pq_index", "incremental_dedup", "incremental_postings",
    "incremental_transitions", "incremental_rates", "incremental_kmv", "incremental_psi",
    "incremental_shingles",
)
#: the warm-up streams this sink over the first 1/WARM_SHARE of its source
WARM_SINK = "incremental_kmv"
WARM_SHARE = 8
SOURCE = {
    "incremental_index": "vectors", "incremental_pq_index": "vectors",
    "incremental_psi": "vectors", "incremental_dedup": "docs",
    "incremental_postings": "docs", "incremental_shingles": "docs",
    "incremental_transitions": "events", "incremental_rates": "events",
    "incremental_kmv": "events",
}
SCHEMA = {
    "vectors": "id long, emb array<float>",
    "docs": "doc_id long, text string",
    "events": "event_id long, ts timestamp, user_id long, event_type string, value double, "
              "props string",
}


def _unit(mat: np.ndarray) -> np.ndarray:
    return (mat / np.linalg.norm(mat, axis=1, keepdims=True)).astype(np.float32)


def _rows(df) -> list[tuple]:
    """Order-insensitive, float-rounded row list of a Spark result."""
    out = []
    for r in df.collect():
        out.append(tuple(round(v, 9) if isinstance(v, float) else v for v in r))
    return sorted(out, key=repr)


def _files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


class CurationStream:
    name = "curation_stream"
    min_ops = 1

    def __init__(self, spark, seed: int, work: str, size: str = "small"):
        self.spark, self.seed, self.work = spark, seed, work
        self.size = SIZES[size]
        #: events and documents to stream instead of generated ones
        #: (``pipeline_mix`` sets its own before ``prepare``)
        self.tables: dict | None = None
        self.src = os.path.join(work, "stream-src")
        self.warm_src = os.path.join(work, "stream-warm-src")
        self.expected: dict = {}
        self.quality: dict = {}
        self.n_ops = 0

    # -- set-up --------------------------------------------------------------
    def inputs(self) -> dict[str, pa.Table]:
        s = self.size
        rng = gen.rng_for(self.seed, "stream")
        if self.tables is None:
            ev, docs = gen._events(rng, s["events"]), gen._documents(rng, s["docs"])
        else:
            ev, docs = self.tables["events"], self.tables["documents"]
        docs = docs.select(["doc_id", "text"])
        vec = _unit(gen.clustered_vectors(self.seed, s["vectors"], dim=DIM, comps=16))
        base = _unit(gen.clustered_vectors(self.seed + 1, s["vectors"], dim=DIM, comps=16))
        ids = pa.array(np.arange(s["vectors"], dtype=np.int64))
        return {
            "events": ev,
            "docs": docs,
            "vectors": pa.table({"id": ids, "emb": gen.list_column(vec)}),
            "baseline": pa.table({"id": ids, "emb": gen.list_column(base)}),
        }

    def prepare(self) -> None:
        tables = self.inputs()
        self.write_source(self.src, tables)
        warm = tables[SOURCE[WARM_SINK]]
        self.write_source(self.warm_src,
                          {SOURCE[WARM_SINK]: warm.slice(0, warm.num_rows // WARM_SHARE)})

    def write_source(self, root: str, tables: dict) -> None:
        """Each source under ``root``, in time-ordered micro-batch files."""
        order = {"events": "ts", "docs": "doc_id", "vectors": "id"}
        for name, tbl in tables.items():
            d = os.path.join(root, name)
            os.makedirs(d, exist_ok=True)
            if name == "baseline":
                pq.write_table(tbl, os.path.join(d, "part-0.parquet"))
                continue
            t0 = time.time()
            for k, part in enumerate(gen.split_by_order(tbl, order[name], self.size["batches"])):
                path = os.path.join(d, f"part-{k}.parquet")
                pq.write_table(part, path)
                # the file source reads oldest first: distinct, increasing
                # modification times keep the micro-batches in time order
                os.utime(path, (t0 + k, t0 + k))

    def table(self, name: str):
        return self.spark.read.schema(SCHEMA.get(name, SCHEMA["vectors"])).parquet(
            os.path.join(self.src, name))

    def once(self) -> None:
        pass

    def answers(self) -> None:
        """Batch-operator answers over every row the streams will carry."""
        from pyspark.sql import functions as F

        from vectordb_watermark_spark.operators.analytics import (
            event_transitions,
            psi_per_dim,
            rate_anomalies,
        )
        from vectordb_watermark_spark.operators.dedup import containment_pairs, minhash_signatures
        from vectordb_watermark_spark.operators.retrieval import bm25_build_index, bm25_query_index
        from vectordb_watermark_spark.operators.sketch import kmv_distinct
        from vectordb_watermark_spark.streaming.curation import _sig_hash

        ev, docs, vec = self.table("events"), self.table("docs"), self.table("vectors")
        e = self.expected
        e["incremental_transitions"] = _rows(event_transitions(ev))
        e["incremental_rates"] = _rows(rate_anomalies(ev, granularity="hour"))
        e["incremental_kmv"] = _rows(kmv_distinct(ev, "props", 256))
        e["incremental_psi"] = _rows(psi_per_dim(self.table("baseline"), vec))
        e["incremental_shingles"] = _rows(
            containment_pairs(docs, threshold=CONTAINMENT, candidates="rare_shingle"))
        e["incremental_dedup"] = sorted(
            r[0] for r in minhash_signatures(docs).select(_sig_hash().alias("h")).distinct()
            .collect())
        ref = os.path.join(self.work, "bm25-ref")
        bm25_build_index(docs, ref, n_files=4)
        e["incremental_postings"] = _rows(bm25_query_index(self.spark, ref, TERMS))
        ids = sorted(r[0] for r in vec.select("id").collect())
        e["incremental_index"] = e["incremental_pq_index"] = ids
        probe = vec.filter(F.col("id") == ids[len(ids) // 2]).first()
        self.probe = (probe["id"], [float(x) for x in probe["emb"]])

    # -- the operation -------------------------------------------------------
    def writer(self, sink: str, root: str, src: str):
        from vectordb_watermark_spark.streaming import curation as C

        stream = (self.spark.readStream.schema(SCHEMA[SOURCE[sink]])
                  .option("maxFilesPerTrigger", 1)
                  .parquet(os.path.join(src, SOURCE[sink])))
        store, ckpt = os.path.join(root, "store"), os.path.join(root, "ckpt")
        if sink == "incremental_index":
            return C.incremental_index(stream, store, ckpt, n_centroids=8, key="pb-ivf")
        if sink == "incremental_pq_index":
            return C.incremental_pq_index(stream, store, os.path.join(root, "archive"), ckpt,
                                          n_centroids=8, m=8, n_codes=16, key="pb-pq")
        if sink == "incremental_dedup":
            return C.incremental_dedup(stream, os.path.join(root, "out"), store, ckpt)
        if sink == "incremental_postings":
            return C.incremental_postings(stream, store, ckpt, n_files=4)
        if sink == "incremental_transitions":
            return C.incremental_transitions(stream, store, ckpt, compact_every=2)
        if sink == "incremental_rates":
            return C.incremental_rates(stream, store, ckpt, granularity="hour")
        if sink == "incremental_kmv":
            return C.incremental_kmv(stream, store, ckpt, col="props", k=256)
        if sink == "incremental_psi":
            C.psi_baseline(self.table("baseline"), store)
            return C.incremental_psi(stream, store, ckpt)
        if sink == "incremental_shingles":
            return C.incremental_shingles(stream, store, ckpt)
        raise ValueError(sink)

    def start_all(self, base: str, src: str, sinks=SINKS) -> tuple[dict, dict, dict]:
        """Start each sink's stream over the sources under ``src``.
        Returns ({sink: query}, {sink: [perf start, perf end, wall start,
        wall end, trigger durations in s]}, {sink: error})."""
        runs, errors, queries = {}, {}, {}
        for sink in sinks:
            t, w = time.perf_counter(), time.time()
            try:
                queries[sink] = (self.writer(sink, os.path.join(base, sink), src)
                                 .trigger(availableNow=True).start())
                runs[sink] = [t, None, w, None, []]
            except Exception as exc:
                errors[sink] = f"{type(exc).__name__}: {str(exc)[:200]}"
        return queries, runs, errors

    @staticmethod
    def wait_all(queries: dict, runs: dict, errors: dict) -> tuple[dict, dict]:
        """Wait until every started stream has ended; returns (runs, errors)
        with end times and trigger durations filled in."""
        pending = dict(queries)
        try:
            while pending:
                for sink, q in list(pending.items()):
                    if not q.isActive:
                        runs[sink][1], runs[sink][3] = time.perf_counter(), time.time()
                        del pending[sink]
                time.sleep(0.02)
        finally:
            for q in pending.values():
                q.stop()
        for sink, q in queries.items():
            if q.exception() is not None:
                errors[sink] = str(q.exception())[:200]
            for p in q.recentProgress:
                p = p if isinstance(p, dict) else p.jsonValue()
                if p.get("numInputRows"):
                    runs[sink][4].append(p["durationMs"]["triggerExecution"] / 1e3)
        return {k: tuple(v) for k, v in runs.items()}, errors

    def ingest_all(self, base: str) -> tuple[dict, dict]:
        """Run every sink's stream side by side until all have ended."""
        return self.wait_all(*self.start_all(base, self.src))

    def resolve(self, sink: str, root: str):
        """The store's answer in the same form as ``self.expected[sink]``."""
        from vectordb_watermark_spark.streaming import curation as C

        store, spark = os.path.join(root, "store"), self.spark
        if sink == "incremental_index":
            from vectordb_watermark_spark.operators.similarity import ivf_query_index

            ids = sorted(r[0] for r in spark.read.parquet(f"{store}/vectors").select("id").collect())
            top = ivf_query_index(spark, store, self.probe[1], k=1, n_probe=8).first()
            return ids if top is not None and top["id"] == self.probe[0] else None
        if sink == "incremental_pq_index":
            return sorted(r[0] for r in spark.read.parquet(f"{store}/codes").select("id").collect())
        if sink == "incremental_dedup":
            hashes = sorted(r[0] for r in spark.read.parquet(f"{store}/batch-*").collect())
            n_docs = spark.read.parquet(os.path.join(root, "out") + "/batch-*").count()
            return hashes if n_docs == len(hashes) else None
        if sink == "incremental_postings":
            from vectordb_watermark_spark.operators.retrieval import bm25_query_index

            return _rows(bm25_query_index(spark, store, TERMS))
        if sink == "incremental_transitions":
            return _rows(C.resolve_transitions(spark, store))
        if sink == "incremental_rates":
            return _rows(C.resolve_rate_anomalies(spark, store))
        if sink == "incremental_kmv":
            return _rows(C.resolve_kmv(spark, store, k=256))
        if sink == "incremental_psi":
            return _rows(C.resolve_psi(spark, store))
        if sink == "incremental_shingles":
            return _rows(C.resolve_containment_store(
                spark, store, self.table("docs"), threshold=CONTAINMENT))
        raise ValueError(sink)

    def _root(self) -> str:
        self.n_ops += 1
        return os.path.join(self.work, f"stream-op{self.n_ops}")

    def warm(self) -> dict:
        """One cheap sink's stream over a slice of its source, then the
        batch answers.  A session's first streaming query pays the start of
        the streaming engine and of the ``foreachBatch`` callback server:
        without the warm-up the first timed pass ran 1.18-1.46 times as long
        as the next one, with it 1.05-1.13 times, at no measurable set-up
        cost.  Its store is not checked (the answers are for every row),
        its failure is."""
        base = self._root()
        t0 = time.perf_counter()
        _, errors = self.wait_all(*self.start_all(base, self.warm_src, (WARM_SINK,)))
        self.answers()
        return {"ok": not errors, "checks": 1, "failed_checks": len(errors),
                "error": "; ".join(f"{k}: {v}" for k, v in errors.items()) or None,
                "steps": [], "parts": {}, "op_s": time.perf_counter() - t0}

    def op(self) -> dict:
        base = self._root()
        t0 = time.perf_counter()
        runs, errors = self.ingest_all(base)
        ingest_s = time.perf_counter() - t0
        answers, resolves = {}, []
        for sink in runs:
            r0 = time.perf_counter()
            try:
                answers[sink] = self.resolve(sink, os.path.join(base, sink))
            except Exception as exc:  # counted, reported, and the op goes on
                errors.setdefault(sink, f"{type(exc).__name__}: {str(exc)[:200]}")
            resolves.append(time.perf_counter() - r0)
        total = time.perf_counter() - t0
        for sink, answer in answers.items():
            if answer != self.expected[sink]:
                errors.setdefault(sink, "resolved store differs from the batch operator")
        triggers = [d for r in runs.values() for d in r[4]]
        return {"ok": not errors, "checks": len(SINKS), "failed_checks": len(errors),
                "error": "; ".join(f"{k}: {v}" for k, v in errors.items()) or None,
                "steps": triggers, "resolves": resolves, "op_s": total,
                "parts": {"stream_s": total, "ingest_s": ingest_s, "resolve_s": sum(resolves),
                          "batch_p50_s": statistics.median(triggers) if triggers else 0.0}}

    def traced_op(self, tr) -> dict:
        """The same pass.  Each sink's stream becomes a span over its run;
        the streams overlap, so their jobs count on the enclosing span."""
        base = self._root()
        counters = {}
        runs, errors = self.ingest_all(base)
        for sink, (t0, t1, w0, w1, _) in runs.items():
            tr.record(f"stream.{sink}_ingest", t0, t1, w0, w1)
            counters[f"stream.{sink}_store_files"] = _files(os.path.join(base, sink, "store"))
        ok = not errors
        for sink in SINKS:
            with tr.span(f"stream.{sink}_resolve"):
                ok = self.resolve(sink, os.path.join(base, sink)) == self.expected[sink] and ok
        return {"ok": ok, "counters": counters}
