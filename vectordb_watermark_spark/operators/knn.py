"""Distributed kNN proximity graph + in-degree — the heart of the engine.

The reference builds a single-machine Faiss HNSW index over the whole dataset
(database/pgvector/pg_func.py:103-113, M=16/efConstruction=200/efSearch=50)
and reads per-node in-degree from its level-0 neighbor lists
(pg_func.py:116-124).  That requires the full matrix in RAM — a non-starter
at 100 TB.  This module provides a kNN *edge DataFrame* ``(src, dst, rank,
dist2)`` with three physical strategies:

- ``exact``      — JVM-side broadcast nested-loop join + per-src top-k window.
                   O(N^2) pairs: only for small N / oracle verification, but
                   100% Catalyst (no Python), so it is the correctness anchor.
- ``broadcast``  — numpy blocked exact kNN: the (id, vec) build side is
                   collected + broadcast (like a broadcast hash join build),
                   probe side streams through ``mapInArrow`` computing
                   float64 distances with BLAS.  Exact; scales in the probe
                   dimension to any N_probe, bounded by build side fitting in
                   executor memory (~1M x 384d = 1.5 GB).
- ``lsh``        — random-hyperplane LSH bucketing + exact re-rank: the 100 TB
                   path.  Signatures are JVM expressions (keyed-hash-derived
                   hyperplanes), candidates come from a bucket self-join
                   (AQE handles bucket skew), then exact distance + top-k.
                   Approximate: recall is a tested contract, not 100%.

In-degree of the graph is then a plain ``groupBy(dst).count()`` (SURVEY.md
§2.3 J2) — Spark's map-side partial aggregation makes this one small shuffle.

Degree semantics note (SURVEY.md §7.5): HNSW in-degree depends on Faiss
construction order, so *no* engine can reproduce it exactly; what matters is
that embed and extract use the *same* graph definition, which a deterministic
kNN graph satisfies better than HNSW itself.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vectordb_watermark_spark.functions.arrowmat import collect_matrix
from vectordb_watermark_spark.functions.vector import sq_euclidean

DEFAULT_K = 16  # mirrors HNSW M=16 (reference configs/config.py:13)

#: dist2 at or below this is an "exact duplicate" edge for the blob rule in
#: :func:`gated_in_degrees`.  NOT machine epsilon: the float32 probe GEMM
#: computes |x|^2+|y|^2-2xy with catastrophic cancellation at x=y, leaving
#: ~1e-7..1e-5 residuals on truly identical vectors (measured 2.4e-7 at
#: 384-d unit-norm) — a 1e-12 test silently never fires on the broadcast
#: path.  1e-4 on unit-norm graph features means cosine >= 0.99995:
#: unambiguously the same vector, far below genuine neighbor distances.
DUP_EPS2 = 1e-4


# ---------------------------------------------------------------------------
# exact: pure-Catalyst broadcast nested loop (small N, oracle anchor)
# ---------------------------------------------------------------------------

def knn_edges_exact(
    df: DataFrame, id_col: str = "id", vec_col: str = "emb", k: int = DEFAULT_K
) -> DataFrame:
    """Exact kNN edges via broadcast NLJ + window. O(N^2) — small N only."""
    left = df.select(F.col(id_col).alias("src"), F.col(vec_col).alias("__lv"))
    right = df.select(F.col(id_col).alias("dst"), F.col(vec_col).alias("__rv"))
    pairs = left.join(F.broadcast(right), F.col("src") != F.col("dst"))
    d2 = sq_euclidean(F.col("__lv"), F.col("__rv")).alias("dist2")
    w = Window.partitionBy("src").orderBy(F.col("dist2").asc(), F.col("dst").asc())
    return (
        pairs.select("src", "dst", d2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# broadcast: numpy blocked exact kNN (build side broadcast, probe distributed)
# ---------------------------------------------------------------------------

#: fused GEMM+top-k probe blocking.  The probe is DRAM-bandwidth-bound when
#: every core runs a worker: the (B, C) block distance matrix must stay
#: cache-resident PER WORKER or 32 concurrent workers collapse to ~3x
#: aggregate scaling (measured: B=8192/C=4096 -> 57.5 s for 64 tasks x 1562
#: probe rows over a 100k x 384 build; B=2048/C=2048 -> 27.8 s).  Within the
#: same ~8 MB L3 slice, FEWER/WIDER blocks win: each block pays an
#: argpartition over the full (B, C) matrix plus a candidate-merge column
#: group, so B=512/C=4096 (15.1 s) and B=256/C=8192 (15.0 s) beat
#: B=1024/C=2048 (17.8 s) on the same workload.
#: auto-dispatch crossover from exact broadcast-GEMM to LSH, measured on the
#: full embed+extract lifecycle at 384-d (192-d graph features), local[32]:
#: 100k broadcast 47.8 s ~ LSH 45.7 s (tie — exactness tips it to GEMM);
#: 200k broadcast 195.8 s vs LSH 87.6 s (2.2x); 1M broadcast >20 min/pass
#: (first task wave unfinished at 12 min) vs LSH 507 s lifecycle.  The GEMM
#: is O(N^2 D) so the gap only widens; above the tie point the near-linear
#: LSH path (recall contract-gated) wins.
_AUTO_LSH_ROWS = 100_000

_COL_BLOCK = 4096
_PROBE_ROWS = 512

#: cap on per-worker probe scratch (block matrix + candidate arrays)
_PROBE_TARGET_BYTES = 128 << 20

#: per-worker-process cache of mmap'd build sides (workers are reused across
#: tasks; the mmap itself is shared OS page cache — one physical copy per
#: node no matter how many workers)
_BUILD_CACHE: dict = {}


#: build-side files staged by THIS driver process, removed at interpreter
#: exit — without this, long-lived hosts accumulate one (ids, mat, norms)
#: triple per kNN call in /dev/shm (RAM-backed!) until reboot
_STAGED_PATHS: list = []


def _cleanup_staged() -> None:
    import os

    for p in _STAGED_PATHS:
        try:
            os.unlink(p)
        except OSError:
            pass
    _STAGED_PATHS.clear()


def _publish_build(sc, build_ids: np.ndarray, build_mat: np.ndarray) -> tuple[str, str]:
    """Ship the kNN build side to executors as mmap-able .npy files via
    ``sc.addFile``.

    ``sc.broadcast`` of a large ndarray re-unpickles a private copy in every
    Python worker (measured ~50 s x 32 workers for 100k x 384 float64);
    SparkFiles + ``np.load(mmap_mode='r')`` maps one shared read-only copy
    per node.  Files are staged in ``/dev/shm`` when available so faulting
    the mapping streams from RAM, not a (possibly slow) temp disk; workers
    co-located with the driver (local mode) load the staged path directly,
    remote executors fall back to their node's SparkFiles copy."""
    import os
    import tempfile
    import uuid

    tag = uuid.uuid4().hex[:12]
    d = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    ids_path = f"{d}/knnbuild_{tag}_ids.npy"
    mat_path = f"{d}/knnbuild_{tag}_mat.npy"
    norms_path = f"{d}/knnbuild_{tag}_norms.npy"
    np.save(ids_path, build_ids, allow_pickle=False)
    # float32 build matrix: halves GEMM time and memory traffic; rank error
    # vs float64 is ~1e-6 relative — far below typical neighbor-distance
    # gaps, and carrier-set drift is absorbed by the vote redundancy
    mat32 = np.ascontiguousarray(build_mat, dtype=np.float32)
    np.save(mat_path, mat32, allow_pickle=False)
    # norms computed ONCE here: every worker recomputing them materializes a
    # float64 copy of the whole build side (N workers x 2x matrix bytes of
    # pure memory traffic at job start)
    np.save(
        norms_path,
        (mat32.astype(np.float64) ** 2).sum(axis=1).astype(np.float32),
        allow_pickle=False,
    )
    sc.addFile(ids_path)
    sc.addFile(mat_path)
    sc.addFile(norms_path)
    if not _STAGED_PATHS:
        import atexit

        atexit.register(_cleanup_staged)
    _STAGED_PATHS.extend([ids_path, mat_path, norms_path])
    return tag, d


def _load_build(tag: str, stage_dir: str):
    if tag not in _BUILD_CACHE:
        import os

        def _path(name: str) -> str:
            direct = f"{stage_dir}/{name}"
            if os.path.exists(direct):
                return direct
            from pyspark import SparkFiles

            return SparkFiles.get(name)

        ids = np.load(_path(f"knnbuild_{tag}_ids.npy"), allow_pickle=False)
        mat = np.load(_path(f"knnbuild_{tag}_mat.npy"), mmap_mode="r", allow_pickle=False)
        norms = np.load(_path(f"knnbuild_{tag}_norms.npy"), allow_pickle=False)
        pos = {int(i): p for p, i in enumerate(ids)}
        _BUILD_CACHE[tag] = (ids, mat, norms, pos)
    return _BUILD_CACHE[tag]


def knn_edges_broadcast(
    df: DataFrame,
    id_col: str = "id",
    vec_col: str = "emb",
    k: int = DEFAULT_K,
    batch_rows: int | None = None,
    build_df: DataFrame | None = None,
    exclude_self: bool | None = None,
) -> DataFrame:
    """Exact kNN with a broadcast build side and a distributed numpy probe.

    The build side (all ids+vectors; ``build_df`` when given, else ``df``
    itself) is collected to the driver and shipped once per node
    (``sc.addFile`` + mmap — same memory contract as a broadcast join build
    side, minus the per-worker copies).  Each probe partition computes
    ``|x-y|^2 = |x|^2 + |y|^2 - 2 x.y`` via column-blocked GEMM fused with
    per-block top-k; ranks are tie-broken by (dist2, dst) deterministically.
    ``batch_rows`` defaults to whatever keeps per-worker scratch under
    ~128 MB — memory stays flat no matter how large the build side is.
    ``exclude_self`` (default: True for self-join, False when ``build_df``
    is given) drops the probe row's own id from its neighbor list by build
    position.  The probe side is spread to the session's parallelism when
    the input has fewer partitions (a single parquet file must not serialize
    the probe).
    """
    if exclude_self is None:
        exclude_self = build_df is None
    build_ids, build_mat = collect_matrix(build_df if build_df is not None else df, id_col, vec_col)
    n_build = len(build_ids)
    max_k = max(n_build - 1 if exclude_self else n_build, 1)
    if batch_rows is None:
        # _PROBE_ROWS keeps the block matrix cache-resident under full-core
        # concurrency; the candidate-array bound keeps probe memory flat as
        # the build side grows
        n_blocks = (n_build + _COL_BLOCK - 1) // _COL_BLOCK
        cand_bytes = 12 * min(k, max_k) * n_blocks
        batch_rows = max(64, min(_PROBE_ROWS, _PROBE_TARGET_BYTES // cand_bytes))
    sc = df.sparkSession.sparkContext
    tag, stage_dir = _publish_build(sc, build_ids, build_mat)

    out_schema = "src long, dst long, dist2 double, rank int"

    def probe(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        import pyarrow as pa

        from vectordb_watermark_spark.functions.arrowmat import list_array_to_matrix

        ids_all, mat, norms, pos = _load_build(tag, stage_dir)
        n = mat.shape[0]
        n_blocks = (n + _COL_BLOCK - 1) // _COL_BLOCK
        for rb in batches:
            ids_in = rb.column(0).to_numpy().astype(np.int64, copy=False)
            X_in = list_array_to_matrix(rb.column(1))
            for start in range(0, len(ids_in), batch_rows):
                X = X_in[start : start + batch_rows]
                xn = (X.astype(np.float64) ** 2).sum(axis=1)
                src_ids = ids_in[start : start + batch_rows]
                if exclude_self:
                    ppos = np.array([pos.get(int(s), -1) for s in src_ids], dtype=np.int64)
                else:
                    ppos = np.full(len(src_ids), -1, dtype=np.int64)
                B = len(src_ids)
                kk = min(k, n - 1 if exclude_self else n)
                # rank by g = |y|^2 - 2 x.y (the |x|^2 term is constant per
                # row) with the build side processed in column blocks: the
                # full (B, N) distance matrix is never materialized — the
                # naive argpartition over it allocates a (B, N) int64 index
                # array that costs as much as the GEMM itself.  Per block:
                # one GEMM, one top-k; block winners merge at the end.
                cand_d = np.empty((B, kk * n_blocks), dtype=np.float32)
                cand_i = np.empty((B, kk * n_blocks), dtype=np.int64)
                for bi in range(n_blocks):
                    lo = bi * _COL_BLOCK
                    hi = min(lo + _COL_BLOCK, n)
                    g = X @ np.asarray(mat[lo:hi]).T
                    g *= np.float32(-2.0)
                    g += norms[lo:hi][None, :]
                    # self-exclusion by column position — no (B, N) mask
                    rows = np.nonzero((ppos >= lo) & (ppos < hi))[0]
                    g[rows, ppos[rows] - lo] = np.inf
                    kb = min(kk, hi - lo)
                    p = np.argpartition(g, kb - 1, axis=1)[:, :kb]
                    sl = slice(bi * kk, bi * kk + kb)
                    cand_d[:, sl] = np.take_along_axis(g, p, axis=1)
                    cand_i[:, sl] = p + lo
                    if kb < kk:  # short tail block: pad with +inf sentinels
                        cand_d[:, bi * kk + kb : (bi + 1) * kk] = np.inf
                        cand_i[:, bi * kk + kb : (bi + 1) * kk] = 0
                # (dist2, dst) order over the kk*n_blocks candidates — 2-D
                # lexsort orders along the last axis, so the whole batch
                # merges in one C call (a per-row Python loop here cost ~15%
                # of probe wall-clock at 100k x 384)
                key_ids = ids_all[cand_i]  # (B, kk*n_blocks)
                order = np.lexsort((key_ids, cand_d))[:, :kk]
                sel_dst = np.take_along_axis(key_ids, order, axis=1)
                sel_d2 = np.take_along_axis(cand_d, order, axis=1).astype(np.float64)
                sel_d2 += xn[:, None]
                np.maximum(sel_d2, 0.0, out=sel_d2)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.repeat(src_ids, kk), type=pa.int64()),
                        pa.array(sel_dst.reshape(-1), type=pa.int64()),
                        pa.array(sel_d2.reshape(-1), type=pa.float64()),
                        pa.array(np.tile(np.arange(1, kk + 1, dtype=np.int32), B), type=pa.int32()),
                    ],
                    names=["src", "dst", "dist2", "rank"],
                )

    from vectordb_watermark_spark.operators.partitioning import spread_to_parallelism

    # factor 2: the probe stage runs concurrently with sibling stages of the
    # same job (e.g. the degree join's table scan), so 2x-finer tasks let the
    # scheduler interleave under oversubscription — full-lifecycle embed
    # measures ~30% faster than exact-parallelism spread even though the
    # isolated probe is marginally slower; a 100 TB probe side has far more
    # partitions than 2x cores -> no-op there
    # rows=n_build: probe side is the same table, so the fan-out is capped for
    # tiny inputs (scheduling dominates sub-128-row GEMM tasks) and unchanged
    # at scale
    probe_df = spread_to_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        factor=2,
        rows=n_build,
    )
    return probe_df.mapInArrow(probe, schema=out_schema)


def knn_join(
    probe_df: DataFrame,
    build_df: DataFrame,
    id_col: str = "id",
    vec_col: str = "emb",
    k: int = DEFAULT_K,
    method: str = "auto",
    **kwargs,
) -> DataFrame:
    """Public kNN similarity JOIN between two vector tables (SURVEY.md §7.2
    M6): for every row of ``probe_df``, its ``k`` nearest rows of
    ``build_df`` as ``(src, dst, dist2, rank)``.

    ``method='broadcast'`` is exact — the broadcast-GEMM probe with
    ``build_df`` as the shipped build side; identity rows are NOT excluded
    (a probe id also present in the build side matches itself at dist2~0,
    the standard join semantics).  Bounded by the build side fitting the
    broadcast envelope (~1M x 384d).  ``method='lsh'``
    (:func:`knn_join_lsh`) buckets both tables with the same keyed planes —
    approximate, unbounded on both sides.  ``'auto'`` picks by build-side
    row count.
    """
    if method == "auto":
        n = build_df.count()
        method = "broadcast" if n <= _AUTO_LSH_ROWS else "lsh"
        if method == "lsh":
            kwargs.setdefault("total_build", n)
    if method == "broadcast":
        return knn_edges_broadcast(
            probe_df, id_col, vec_col, k, build_df=build_df, exclude_self=False, **kwargs
        )
    if method == "lsh":
        return knn_join_lsh(probe_df, build_df, id_col, vec_col, k, **kwargs)
    raise ValueError(f"unknown knn_join method {method!r}")


# ---------------------------------------------------------------------------
# lsh: random-hyperplane bucketing + exact re-rank (the scale path)
# ---------------------------------------------------------------------------

def _hyperplanes(key: str, dim: int, n_tables: int, n_bits: int) -> np.ndarray:
    """Deterministic Gaussian hyperplanes keyed by (key, dim) — every executor
    and every run derives the same planes; no RNG state is shipped."""
    seed = int(hashlib.sha256(f"{key}|lsh|{dim}|{n_tables}|{n_bits}".encode()).hexdigest()[:8], 16)
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_bits, dim))


def lsh_signatures(
    df: DataFrame,
    key: str,
    dim: int,
    id_col: str = "id",
    vec_col: str = "emb",
    n_tables: int = 8,
    n_bits: int = 12,
) -> DataFrame:
    """Add ``(table, bucket)`` per row, exploded to one row per table.

    Signature bits are sign(v . plane) computed as JVM expressions (plane is a
    literal array -> whole-stage codegen, no Python).  2^n_bits buckets per
    table bound the expected bucket size; AQE's skew-join split handles hot
    buckets.
    """
    planes = _hyperplanes(key, dim, n_tables, n_bits)
    v = F.col(vec_col)
    table_sigs = []
    for t in range(n_tables):
        bits = []
        for j in range(n_bits):
            plane = F.array(*[F.lit(float(x)) for x in planes[t, j]])
            d = F.aggregate(
                F.zip_with(v, plane, lambda x, p: x.cast("double") * p),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bits.append(F.when(d > 0, F.lit(1 << j)).otherwise(F.lit(0)))
        sig = bits[0]
        for b in bits[1:]:
            sig = sig + b
        table_sigs.append(F.struct(F.lit(t).alias("table"), sig.alias("bucket")))
    return df.select(
        F.col(id_col).alias("id"), v.alias("v"), F.explode(F.array(*table_sigs)).alias("tb")
    ).select("id", "v", F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket"))


#: per-worker cache of derived hyperplane matrices
_PLANE_CACHE: dict = {}

#: buckets larger than this re-rank against a deterministic pseudo-random
#: subsample of the bucket (see knn_edges_lsh docstring)
_BUCKET_CAP = 4096


def _planes_flat(key: str, dim: int, n_tables: int, n_bits: int) -> np.ndarray:
    ck = (key, dim, n_tables, n_bits)
    if ck not in _PLANE_CACHE:
        _PLANE_CACHE[ck] = np.ascontiguousarray(
            _hyperplanes(key, dim, n_tables, n_bits).reshape(n_tables * n_bits, dim),
            dtype=np.float32,
        )
    return _PLANE_CACHE[ck]


#: adaptive n_bits targets this many rows per bucket: big enough that the
#: per-bucket GEMM re-rank runs at matrix efficiency and neighbors co-bucket
#: often (recall), small enough that a bucket's O(m^2) re-rank stays tiny.
#: Measured at 100k x 192-d prefix features, k=16: 12 tables x 10 bits
#: (~98 rows/bucket) -> recall 0.984 in ~7-9 s, vs 12 x 12 (~24 rows/bucket)
#: -> 0.956 in ~15 s: bigger buckets are BOTH faster and better here.
_BUCKET_TARGET_ROWS = 96


def _id_subsample_order(ids, cap: int):
    """Deterministic pseudo-random order for bucket-cap subsampling, for ANY
    id dtype: Knuth multiplicative hash for integer ids (the original fast
    path), crc32 of the string form for string/object id columns — both
    stable across partitionings and runs."""
    if ids.dtype.kind in ("i", "u"):
        keys = (ids.astype(np.int64) * 2654435761) & 0xFFFFFFFF
    else:
        import zlib

        keys = np.fromiter(
            (zlib.crc32(str(x).encode()) for x in ids),
            dtype=np.int64,
            count=len(ids),
        )
    return np.argsort(keys, kind="stable")[:cap]


def knn_edges_lsh(
    df: DataFrame,
    id_col: str = "id",
    vec_col: str = "emb",
    k: int = DEFAULT_K,
    key: str = "lsh",
    n_tables: int = 12,
    n_bits: int | None = None,
    dim: int | None = None,
    bucket_cap: int = _BUCKET_CAP,
    total: int | None = None,
) -> DataFrame:
    """Approximate kNN: sign-LSH bucketing -> per-bucket GEMM re-rank ->
    global top-k.  The 100 TB path — nothing is ever all-pairs.

    Physical plan: one ``mapInArrow`` pass computes all table signatures with
    a single (rows x T*n_bits) GEMM against key-derived hyperplanes (each
    worker re-derives them — nothing is shipped); one shuffle groups rows by
    ``(table, bucket)`` (vectors replicated n_tables x — the inherent LSH
    shuffle cost); ``applyInPandas`` re-ranks each bucket with a float32
    GEMM and emits per-src bucket-local top-k candidates (k x n_tables
    candidates per src, never the full bucket pairs); a candidate merge
    (``groupBy(src, dst).min(dist2)``) + per-src window yields the final
    edges.  A JVM-expression formulation of the candidate distances is
    ~100x slower at 384-d (interpreted per-element lambdas per pair).

    Skew: a mega-bucket (mass duplication) would cost O(m^2) in one task;
    buckets beyond ``bucket_cap`` re-rank against a deterministic
    Knuth-hash-ordered subsample of the bucket — recall inside a blob of
    near-identical rows is insensitive to which members represent it.
    Recall grows with n_tables; bucket occupancy ~ N / 2^n_bits.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    if n_bits is None:
        # occupancy-adaptive signature width: ~_BUCKET_TARGET_ROWS rows per
        # bucket at any corpus size (2^n_bits buckets per table), clamped to
        # [1, 24].  At 100 TB the count is a catalog statistic, not a job.
        # Lower clamp is 1, not 6: at small N a forced 2^6 grid starves
        # buckets below k rows and recall collapses (measured 0.40 at N=500).
        import math

        n = total if total is not None else df.count()
        n_bits = max(1, min(24, math.ceil(math.log2(max(n, 1) / _BUCKET_TARGET_ROWS + 1))))

    import pyarrow as pa

    from vectordb_watermark_spark.functions.arrowmat import list_array_to_matrix

    n_t, n_b = n_tables, n_bits

    def sig_kernel(batches):
        P = _planes_flat(key, dim, n_t, n_b)
        weights = (1 << np.arange(n_b)).astype(np.int64)
        for rb in batches:
            if not rb.num_rows:
                continue
            X = list_array_to_matrix(rb.column(1))
            S = (X @ P.T) > 0  # (m, T*n_bits)
            for t in range(n_t):
                buckets = S[:, t * n_b : (t + 1) * n_b] @ weights
                yield pa.RecordBatch.from_arrays(
                    [
                        rb.column(0),
                        rb.column(1),
                        pa.array(np.full(rb.num_rows, t, dtype=np.int32), type=pa.int32()),
                        pa.array(buckets, type=pa.int64()),
                    ],
                    names=["id", "v", "tbl", "bucket"],
                )

    from vectordb_watermark_spark.operators.partitioning import spread_to_parallelism

    # id type follows the caller's column (int64 vector tables AND
    # string-keyed corpora) — same derivation as bpe_encode/mp4_metadata
    id_type = df.schema[id_col].dataType.simpleString()
    sigs = spread_to_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    ).mapInArrow(
        sig_kernel, schema=f"id {id_type}, v array<float>, tbl int, bucket long"
    )

    def bucket_topk(pdf):
        import pandas as pd

        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {"src": [], "dst": [], "dist2": pd.Series([], dtype="float64")}
            )
        ids = pdf["id"].to_numpy()
        X = np.stack(pdf["v"].map(lambda a: np.asarray(a, dtype=np.float32)))
        if m > bucket_cap:
            # deterministic pseudo-random dst-side subsample (hash order)
            order = _id_subsample_order(ids, bucket_cap)
        else:
            order = np.arange(m)
        Y = X[order]
        yn = (Y.astype(np.float64) ** 2).sum(axis=1).astype(np.float32)
        dst_ids = ids[order]
        kk = min(k, len(order) - 1)
        out_src, out_dst, out_d2 = [], [], []
        for s in range(0, m, 1024):
            Xc = X[s : s + 1024]
            g = Xc @ Y.T
            g *= np.float32(-2.0)
            g += yn[None, :]
            # self-exclusion by id match within the (chunk, subsample) block
            eq = ids[s : s + 1024, None] == dst_ids[None, :]
            g[eq] = np.inf
            kb = min(kk, g.shape[1])
            p = np.argpartition(g, kb - 1, axis=1)[:, :kb]
            d = np.take_along_axis(g, p, axis=1).astype(np.float64)
            d += (Xc.astype(np.float64) ** 2).sum(axis=1)[:, None]
            np.maximum(d, 0.0, out=d)
            out_src.append(np.repeat(ids[s : s + 1024], kb))
            out_dst.append(dst_ids[p].reshape(-1))
            out_d2.append(d.reshape(-1))
        return pd.DataFrame(
            {
                "src": np.concatenate(out_src),
                "dst": np.concatenate(out_dst),
                "dist2": np.concatenate(out_d2),
            }
        )

    cand = sigs.groupBy("tbl", "bucket").applyInPandas(
        bucket_topk, schema=f"src {id_type}, dst {id_type}, dist2 double"
    )
    best = cand.groupBy("src", "dst").agg(F.min("dist2").alias("dist2"))
    w = Window.partitionBy("src").orderBy(F.col("dist2").asc(), F.col("dst").asc())
    return best.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def knn_join_lsh(
    probe_df: DataFrame,
    build_df: DataFrame,
    id_col: str = "id",
    vec_col: str = "emb",
    k: int = DEFAULT_K,
    key: str = "lsh",
    n_tables: int = 12,
    n_bits: int | None = None,
    dim: int | None = None,
    bucket_cap: int = _BUCKET_CAP,
    total_build: int | None = None,
) -> DataFrame:
    """Approximate cross-table kNN join — the beyond-broadcast path for
    :func:`knn_join`.  Both tables are bucketed with the SAME keyed
    hyperplanes; each (table, bucket) re-ranks its probe rows against its
    build rows with a chunked GEMM; candidates merge per (src, dst) and a
    per-src window yields the final edges.  One shuffle per side, no
    all-pairs stage, no driver collect — both sides stream at any size.

    Approximate: a probe row only sees build rows sharing a bucket in some
    table (recall is a tested contract); a probe sharing no bucket with any
    build row yields no edges.  ``n_bits`` adapts to build-side occupancy
    exactly as in :func:`knn_edges_lsh`.
    """
    if dim is None:
        dim = len(build_df.select(vec_col).first()[0])
    if n_bits is None:
        import math

        n = total_build if total_build is not None else build_df.count()
        n_bits = max(1, min(24, math.ceil(math.log2(max(n, 1) / _BUCKET_TARGET_ROWS + 1))))

    import pyarrow as pa

    from vectordb_watermark_spark.functions.arrowmat import list_array_to_matrix
    from vectordb_watermark_spark.operators.partitioning import spread_to_parallelism

    n_t, n_b = n_tables, n_bits

    def sig_kernel(batches):
        P = _planes_flat(key, dim, n_t, n_b)
        weights = (1 << np.arange(n_b)).astype(np.int64)
        for rb in batches:
            if not rb.num_rows:
                continue
            X = list_array_to_matrix(rb.column(1))
            S = (X @ P.T) > 0
            for t in range(n_t):
                buckets = S[:, t * n_b : (t + 1) * n_b] @ weights
                yield pa.RecordBatch.from_arrays(
                    [
                        rb.column(0),
                        rb.column(1),
                        pa.array(np.full(rb.num_rows, t, dtype=np.int32), type=pa.int32()),
                        pa.array(buckets, type=pa.int64()),
                    ],
                    names=["id", "v", "tbl", "bucket"],
                )

    # id type follows the caller's column (probe and build share id_col, so
    # one derivation covers both sides; a mixed-type pair fails loud in the
    # unionByName below rather than silently coercing)
    id_type = probe_df.schema[id_col].dataType.simpleString()

    def sigs_for(df, side: int):
        return (
            spread_to_parallelism(df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")))
            .mapInArrow(sig_kernel, schema=f"id {id_type}, v array<float>, tbl int, bucket long")
            .withColumn("side", F.lit(side).cast("int"))
        )

    allsigs = sigs_for(probe_df, 0).unionByName(sigs_for(build_df, 1))

    def bucket_join_topk(pdf):
        import pandas as pd

        empty = pd.DataFrame(
            {"src": [], "dst": [], "dist2": pd.Series([], dtype="float64")}
        )
        pr = pdf[pdf["side"] == 0]
        bl = pdf[pdf["side"] == 1]
        if not len(pr) or not len(bl):
            return empty
        bids = bl["id"].to_numpy()
        Y = np.stack(bl["v"].map(lambda a: np.asarray(a, dtype=np.float32)))
        if len(bids) > bucket_cap:
            order = _id_subsample_order(bids, bucket_cap)
            bids, Y = bids[order], Y[order]
        yn = (Y.astype(np.float64) ** 2).sum(axis=1).astype(np.float32)
        pids = pr["id"].to_numpy()
        X = np.stack(pr["v"].map(lambda a: np.asarray(a, dtype=np.float32)))
        kk = min(k, len(bids))
        out_src, out_dst, out_d2 = [], [], []
        for s in range(0, len(pids), 1024):
            Xc = X[s : s + 1024]
            g = Xc @ Y.T
            g *= np.float32(-2.0)
            g += yn[None, :]
            p = np.argpartition(g, kk - 1, axis=1)[:, :kk] if kk < g.shape[1] else np.broadcast_to(
                np.arange(g.shape[1]), (len(Xc), g.shape[1])
            )
            d = np.take_along_axis(g, p, axis=1).astype(np.float64)
            d += (Xc.astype(np.float64) ** 2).sum(axis=1)[:, None]
            np.maximum(d, 0.0, out=d)
            out_src.append(np.repeat(pids[s : s + 1024], p.shape[1]))
            out_dst.append(bids[p].reshape(-1))
            out_d2.append(d.reshape(-1))
        return pd.DataFrame(
            {
                "src": np.concatenate(out_src),
                "dst": np.concatenate(out_dst),
                "dist2": np.concatenate(out_d2),
            }
        )

    cand = allsigs.groupBy("tbl", "bucket").applyInPandas(
        bucket_join_topk, schema=f"src {id_type}, dst {id_type}, dist2 double"
    )
    best = cand.groupBy("src", "dst").agg(F.min("dist2").alias("dist2"))
    w = Window.partitionBy("src").orderBy(F.col("dist2").asc(), F.col("dst").asc())
    return best.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# dispatcher + degrees
# ---------------------------------------------------------------------------

def resolve_knn_method(
    df: DataFrame, method: str = "auto", total: int | None = None
) -> tuple[str, int | None]:
    """Resolve ``'auto'`` to the concrete graph method for the CURRENT row
    count; concrete methods pass through unchanged.  Returns ``(method,
    total)`` with the count reused so callers don't pay it twice.

    Crossovers: exact JVM NLJ below ~2k rows; broadcast-numpy GEMM to
    ``_AUTO_LSH_ROWS``; LSH beyond.  The crossover is compute, not memory:
    the GEMM is O(N^2 D) — measured at 384-d on local[32], 100k costs
    ~10 s/pass but 1M costs >20 min/pass (100x), while LSH stays
    near-linear.  Embed pipelines call this FIRST and persist the resolved
    method in their embed-time metadata, so blind extraction can rebuild
    the identical graph even after the corpus row count (or this
    function's thresholds) changed."""
    if method != "auto":
        return method, total
    n = total if total is not None else df.count()
    return ("exact" if n <= 2000 else "broadcast" if n <= _AUTO_LSH_ROWS else "lsh"), n


def knn_edges(
    df: DataFrame,
    id_col: str = "id",
    vec_col: str = "emb",
    k: int = DEFAULT_K,
    method: str = "auto",
    **kwargs,
) -> DataFrame:
    """kNN edge DataFrame ``(src, dst, dist2, rank)``; see module docstring.

    ``method='auto'`` dispatches on the CURRENT row count, which makes it a
    convenience for exploration, not a durable contract: blind watermark
    extraction must rebuild the same graph it embedded with, so an upgrade
    that moves a threshold — or an attack that deletes rows across one
    (embed at 110k -> LSH, subset-attack to 70k -> broadcast) — changes the
    graph construction between embed and extract and degrades carrier
    overlap (redundancy + CRC + the vote absorb some of it; don't rely on
    that).  Production embeds should pin ``knn_method`` explicitly and
    reuse it at extract time.
    """
    if method == "auto":
        method, n = resolve_knn_method(df, method)
        if method == "lsh":
            kwargs.setdefault("total", n)  # reuse the count for adaptive bits
    if method == "exact":
        return knn_edges_exact(df, id_col, vec_col, k)
    if method == "broadcast":
        return knn_edges_broadcast(df, id_col, vec_col, k, **kwargs)
    if method == "lsh":
        return knn_edges_lsh(df, id_col, vec_col, k, **kwargs)
    raise ValueError(f"unknown knn method {method!r}")


def edge_gate_threshold(edges: DataFrame, q: float = 0.45, slack: float = 2.5) -> float:
    """Data-derived distance gate ``tau`` for kNN edges: ``slack`` times the
    ``q``-quantile of ``dist2``, computed via an exact log2-bucket histogram
    (deterministic under any partitioning — no approxQuantile sketch drift).

    The quantile runs over NON-duplicate edges only (``dist2 > DUP_EPS2``):
    a mass-duplication attack contributes a zero-distance edge mode that
    would otherwise drag the quantile to ~0 once duplicates pass ~q of the
    corpus, pruning every genuine edge (measured: 50% mean-replacement
    emptied the eligible set entirely).  Duplicate edges are classified by
    the blob rule instead (:func:`gated_in_degrees`), not by the gate.

    ``q`` defaults *below* the median so that a corpus where up to half the
    vectors are destroyed (gaussian attack) cannot drag the quantile into
    the attacked mode: the threshold tracks the *clean* edge population.
    ``slack`` (in dist2 terms; 2.5 ~ 1.6x distance) sits between the tight
    clean-neighbor mode and the decode-destroying noise mode: measured at
    100k x 384 unit-norm, clean kNN dist2 concentrates at ~0.14 while
    sigma=0.05-noised probes sit at ~0.63, and noise mild enough to leave
    payloads decodable (sigma <= ~0.02) stays under the gate — the gate
    adapts to exactly the noise levels that destroy payloads.

    An all-duplicate corpus has no non-dup edges: tau = 0 -> nothing kept ->
    extraction fails gracefully with zero carriers.
    """
    b = F.floor(F.log2(F.greatest(F.col("dist2"), F.lit(1e-12))) * 8).cast("int")
    hist = sorted(
        (r["b"], r["c"])
        for r in edges.filter(F.col("dist2") > DUP_EPS2)
        .groupBy(b.alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    if not hist:
        return 0.0
    total = sum(c for _, c in hist)
    acc = 0
    qb = hist[-1][0]
    for bb, c in hist:
        acc += c
        if acc >= q * total:
            qb = bb
            break
    return tau_from_bucket(qb, slack)


#: 2^(r/8) for r = 0..7, as exact shortest-round-trip double literals.  tau
#: = slack * (T[r] * 2^m) with qb+1 = 8m + r decomposes the fractional power
#: into an exact table lookup, an exact power-of-two scale, and ONE
#: IEEE-rounded multiply — bit-identical in CPython, the JVM, and DuckDB.
#: ``slack * 2.0 ** ((qb+1)/8.0)`` is NOT: Math.pow and C pow disagree by
#: 1 ULP on some of these fractional exponents (measured: qb=5 at sf0.01),
#: and tau must not drift between the in-plan gate, the driver twin, and
#: the DuckDB oracle.
_EIGHTH_POW2 = (
    1.0,
    1.0905077326652577,
    1.189207115002721,
    1.2968395546510096,
    1.4142135623730951,
    1.5422108254079407,
    1.681792830507429,
    1.8340080864093424,
)


def tau_from_bucket(qb: int, slack: float = 2.5) -> float:
    """Exact-arithmetic gate threshold for a log2/8 bucket index (see
    :data:`_EIGHTH_POW2`)."""
    m, r = divmod(qb + 1, 8)
    return slack * (_EIGHTH_POW2[r] * 2.0**m)


def tau_from_bucket_sql(qb_expr: str, slack: float = 2.5) -> str:
    """DuckDB SQL twin of :func:`tau_from_bucket` over a bucket-index
    expression — used by the gated-degrees oracle."""
    cases = " ".join(f"WHEN {r} THEN {v!r}" for r, v in enumerate(_EIGHTH_POW2))
    r = f"((({qb_expr}) + 1) % 8 + 8) % 8"
    m = f"((({qb_expr}) + 1) - ({r})) // 8"
    return f"({slack!r} * ((CASE {r} {cases} END) * pow(2.0, CAST({m} AS DOUBLE))))"


def gate_tau_plan(edges: DataFrame, q: float = 0.45, slack: float = 2.5) -> DataFrame:
    """In-plan twin of :func:`edge_gate_threshold`: a 1-row DataFrame
    ``(tau double)`` computed with the identical exact log2-bucket histogram
    and the identical float arithmetic (``q * total`` compare, ``slack *
    2^((qb+1)/8)``), but entirely inside the query plan — broadcast into the
    edge filter with no driver round trip.  ``tau`` is NULL when there are
    no non-duplicate edges; a NULL comparison keeps nothing, which matches
    the tau=0 degenerate path (duplicate-only edges are excluded by the
    blob rule anyway).

    The histogram is bounded (~a few hundred log2 buckets regardless of
    data volume), so the single-partition cumulative window is O(1) work on
    an already-aggregated input — not a global sort of the data.
    """
    b = F.floor(F.log2(F.greatest(F.col("dist2"), F.lit(1e-12))) * 8).cast("int")
    hist = (
        edges.filter(F.col("dist2") > DUP_EPS2)
        .groupBy(b.alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    qb = (
        hist.withColumn("acc", F.sum("c").over(wcum))
        .withColumn("t", F.sum("c").over(wall))
        .filter(F.col("acc") >= F.lit(q) * F.col("t"))
        .agg(F.min("b").alias("qb"))
    )
    # exact decomposition (see _EIGHTH_POW2): r/m in integer arithmetic,
    # T[r] lookup, exact 2^m scale, one rounded multiply by slack
    r = F.pmod(F.col("qb") + 1, F.lit(8))
    m = ((F.col("qb") + 1 - r) / 8).cast("int")
    t = F.element_at(F.array(*[F.lit(v) for v in _EIGHTH_POW2]), r.cast("int") + 1)
    return qb.select(
        (F.lit(slack) * (t * F.pow(F.lit(2.0), m.cast("double")))).alias("tau")
    )


def gated_in_degrees(
    df: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    k: int = DEFAULT_K,
    q: float = 0.45,
    slack: float = 2.5,
    min_out: int | None = None,
) -> DataFrame:
    """Attack-robust degree signal: HNSW-like long-edge pruning + outlier
    eligibility.  Returns ``(id, degree)`` over **eligible** ids only.

    Plain kNN in-degree is an adversarial trap for carrier selection: a
    destroyed vector (heavy gaussian noise, mean-replacement) moves far from
    the data manifold, receives almost no in-edges, and therefore *floods the
    low-degree carrier pool* — blind re-derivation then selects exactly the
    vectors whose payload is gone (measured at 100k x 384: carrier overlap
    1.7%, nearly all attacked).  HNSW does not suffer this because its
    neighbor heuristic prunes long edges (reference Faiss IndexHNSWFlat,
    configs/config.py:13-15); this operator restores that property on the
    explicit kNN graph:

    1. ``tau`` — robust, data-derived (:func:`gate_tau_plan`, the in-plan
       twin of :func:`edge_gate_threshold`; identical bit-exact value).
    2. Drop edges with ``dist2 > tau`` (a destroyed probe's edges all point
       far away -> its degree *spray* disappears).
    3. A src retaining fewer than ``min_out`` (default ``ceil(k/2)``) of its
       ``k`` out-edges is off-manifold -> **excluded** from the returned id
       universe entirely, so it can never enter the carrier pool.
    4. A src with ``min_out`` or more *exact-duplicate* out-edges
       (``dist2 <= DUP_EPS2``) sits inside a mass-duplication blob — the
       signature of a mean-replacement attack, whose identical copies would
       otherwise flood the low-degree pool (only the few tie-break-favored
       copies receive the blob's in-edges) -> excluded.  HNSW is immune to
       this via reverse-link insertion (every inserted point receives ~M
       in-links); this rule is the explicit-graph equivalent.
    5. In-degree over the kept edges for the eligible ids.

    Embed and extract apply the identical rule to identically-derived
    watermark-invariant features, so on clean data the carrier set is still
    re-derived exactly; under attack the pool stays on the intact manifold.
    """
    if min_out is None:
        min_out = max(1, (k + 1) // 2)
    # localCheckpoint (not cache): the edge table is referenced TWICE below —
    # the tau histogram subplan and the gate filter — and a cache does not
    # truncate the ANALYZED plan, so every downstream action re-analyzed the
    # full kNN lineage (graph-feature kernel -> Arrow probe) twice over
    # (measured 2.2 s of pre-job Catalyst gap per wm embed at bench scale,
    # tools/wm_jobs_profile.py).  The checkpoint truncates both references to
    # one LogicalRDD; storage cost is identical to the cache it replaces
    # (the same N*k edge rows, executor-local), evaluation count is identical
    # (one materialization on the first action).  Unlike a cache, a lost
    # checkpoint block is NOT recomputed: the lineage is cut, so an action
    # that needs it after executor loss aborts the job — the same
    # documented tradeoff as the degrees checkpoint in plans/embed.py.
    # Plan-keyed cache
    # reuse is not lost: each knn_edges_broadcast call stages a fresh build
    # tag, so no two calls ever shared a cache entry here anyway.
    # Interleaved same-session A/B (6 reps/arm, r15): cache best 4.613 s /
    # median 5.298 s vs checkpoint best 4.290 s / median 4.937 s.
    edges = edges.localCheckpoint(eager=False)
    # tau stays in-plan (gate_tau_plan, broadcast 1-row cross join): no
    # driver collect, so the whole degree derivation is ONE Spark job when
    # materialized — the collect-based edge_gate_threshold forced an extra
    # pass over the edge table (expensive when N*k edges don't fit cache).
    kept = edges.crossJoin(F.broadcast(gate_tau_plan(edges, q, slack))).filter(
        F.col("dist2") <= F.col("tau")
    )
    # single-shuffle, single-read fusion: each kept edge EXPLODES into one
    # src-side row (out-edge + duplicate tally) and one dst-side row
    # (in-edge tally); one groupBy folds all three measures.  Every id with
    # >= min_out >= 1 kept out-edges has src rows, so eligible-but-
    # in-degree-0 ids survive with degree 0 exactly as a join formulation
    # would produce.  explode (not unionAll) reads the edge table once.
    contrib = kept.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("src").alias("cid"),
                    F.lit(1).alias("o"),
                    (F.col("dist2") <= DUP_EPS2).cast("int").alias("d"),
                    F.lit(0).alias("i"),
                ),
                F.struct(
                    F.col("dst").alias("cid"),
                    F.lit(0).alias("o"),
                    F.lit(0).alias("d"),
                    F.lit(1).alias("i"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    return (
        contrib.groupBy(F.col("cid").alias(id_col))
        .agg(
            F.sum("o").alias("__out"),
            F.sum("d").alias("__dup_out"),
            F.sum("i").alias("degree"),
        )
        .filter((F.col("__out") >= min_out) & (F.col("__dup_out") < min_out))
        .select(F.col(id_col), F.col("degree").cast("long").alias("degree"))
    )


def in_degrees(df: DataFrame, edges: DataFrame, id_col: str = "id") -> DataFrame:
    """Per-id in-degree of the kNN graph: ``(id, degree)`` with 0 for sinks.

    groupBy(dst).count() + left join back to the id universe (SURVEY.md §2.3
    J2 — replaces the reference's np.bincount over HNSW neighbor slots,
    pg_func.py:116-124).
    """
    deg = edges.groupBy(F.col("dst").alias(id_col)).agg(F.count(F.lit(1)).alias("degree"))
    return (
        df.select(F.col(id_col))
        .join(deg, id_col, "left")
        .select(F.col(id_col), F.coalesce(F.col("degree"), F.lit(0)).cast("long").alias("degree"))
    )
