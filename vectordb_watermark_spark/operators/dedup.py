"""Deduplication operators for large-scale training-data pipelines.

The north-star extension set (BASELINE.json): exact dedup, MinHash+LSH,
SimHash, n-gram Jaccard, and embedding-cosine near-dup.  All designed
Spark-first for 100 TB:

- **exact**: one hash-groupBy shuffle on md5(text) — map-side combined.
- **minhash**: signatures are per-row JVM expressions (no shuffle); LSH
  banding turns near-dup detection into an equi-join on (band, band_hash) —
  the only shuffle, AQE-skew-safe; candidate pairs are then verified with
  exact Jaccard.  This is the canonical shuffle-minimal near-dup plan: no
  O(N^2) stage anywhere.
- **simhash**: 48-bit signature via explode -> per-bit sign aggregate; near
  dups share the signature (or a band of it).
- **ngram jaccard**: exact pairwise verify used on candidate pairs (or
  standalone at small N / within blocking keys).
- **embedding cosine**: see operators/similarity.py (cosine_neardup_pairs).

Every operator is keyed-hash deterministic and has a DuckDB SQL twin in
__spark_entry__.py for the oracle gate.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordb_watermark_spark.functions.text import tokens

N_MINHASH = 16  # hash functions per signature
BAND_SIZE = 4   # rows per LSH band -> 4 bands

_MASK30 = (1 << 30) - 1


def _lane_consts(n: int) -> tuple[list[int], list[int], list[int]]:
    """Deterministic multiply-shift lane constants (A odd, B odd, C) derived
    from sha256 — identical in the Spark expressions and the DuckDB oracle."""
    A, B, C = [], [], []
    for j in range(n):
        d = hashlib.sha256(f"mhlane|{j}".encode()).hexdigest()
        A.append((int(d[0:8], 16) & _MASK30) | 1)
        B.append((int(d[8:16], 16) & _MASK30) | 1)
        C.append(int(d[16:24], 16) & _MASK30)
    return A, B, C


LANE_A, LANE_B, LANE_C = _lane_consts(N_MINHASH)


from vectordb_watermark_spark.operators.partitioning import spread_to_parallelism as _spread


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: ``(text_hash, canonical_id, dup_count)``.

    One groupBy shuffle on the 128-bit content hash; canonical row is the
    minimum id (deterministic).  Dedup itself is then a semi-join of
    ``canonical_id`` back to the table.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col).alias("id"))
        .groupBy("text_hash")
        .agg(F.min("id").alias("canonical_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one row (min id) per exact text duplicate group."""
    keep = exact_dup_groups(df, id_col, text_col).select(
        F.col("canonical_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def _tokenize_ascii(text: str) -> list[str]:
    """Python twin of ``tokens(F.lower(col))``: lowercase, split on ASCII
    whitespace runs, drop empties.  ``re.ASCII`` pins ``\\s`` to the same
    class Java regex and DuckDB's RE2 use ([ \\t\\n\\x0b\\f\\r]) so the three
    engines tokenize identically (the oracle gate hash-checks this)."""
    import re

    return [t for t in re.split(r"\s+", text.lower(), flags=re.ASCII) if t]


def _token_words_batch(texts, memo: dict) -> list:
    """Per-document int64 arrays of 60-bit sha256 token words (first 15 hex
    chars) over DISTINCT tokens.  The memo (token -> word) is shared across
    the batch: under a zipfian vocabulary most tokens repeat, so hashing cost
    is ~vocabulary-sized, not corpus-sized.  Consumers needing a shorter
    digest prefix shift: the 48-bit simhash word is ``w >> 12``."""
    import hashlib as _hl

    import numpy as _np

    out = []
    for text in texts:
        words = []
        seen = set()
        for t in _tokenize_ascii(text):
            if t in seen:
                continue
            seen.add(t)
            w = memo.get(t)
            if w is None:
                w = int(_hl.sha256(t.encode()).hexdigest()[:15], 16)
                memo[t] = w
            words.append(w)
        out.append(_np.array(words, dtype=_np.int64))
    return out


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_hashes: int = N_MINHASH
) -> DataFrame:
    """``(id, sig ARRAY<BIGINT>[n_hashes])`` MinHash signatures over lowercase
    whitespace-token sets — Arrow-batched numpy kernel, no shuffle.

    Value-identical to :func:`minhash_signatures_expr` (and the DuckDB
    oracle): the first 15 hex chars of sha256(token) give a 60-bit word
    ``h``; coordinate ``j`` is the multiply-shift universal hash
    ``(hi*A_j + lo*B_j + C_j) mod 2^30`` over the 30-bit halves with
    sha256-derived odd constants (:data:`LANE_A`/``B``/``C``) — pure int64
    arithmetic, bit-exact across numpy / Java long / DuckDB BIGINT.  The
    kernel vectorizes the lane min-fold across the whole batch
    (``minimum.reduceat`` over doc boundaries) and memoizes token hashes,
    which the interpreted per-token HOF lambdas of the expression form
    cannot do.
    """
    if n_hashes > N_MINHASH:
        raise ValueError(f"at most {N_MINHASH} lanes are derived per token")
    import pyarrow as pa

    A = LANE_A[:n_hashes]
    B = LANE_B[:n_hashes]
    C = LANE_C[:n_hashes]

    df = _spread(df)
    sel = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))

    def kernel(batches):
        import numpy as np

        An = np.array(A, dtype=np.int64)
        Bn = np.array(B, dtype=np.int64)
        Cn = np.array(C, dtype=np.int64)
        memo: dict = {}
        for rb in batches:
            if not rb.num_rows:
                continue
            texts = rb.column(1).to_pylist()
            per_doc = _token_words_batch(texts, memo)
            lens = np.array([len(w) for w in per_doc], dtype=np.int64)
            nonempty = lens > 0
            sigs: list = [None] * rb.num_rows
            if nonempty.any():
                W = np.concatenate([w for w in per_doc if len(w)])
                hi = W >> 30
                lo = W & _MASK30
                # (T, n_hashes) lane matrix; every product < 2^60 — exact int64
                lanes = (hi[:, None] * An[None, :] + lo[:, None] * Bn[None, :] + Cn[None, :]) & _MASK30
                starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
                np.cumsum(lens[nonempty][:-1], out=starts[1:])
                mins = np.minimum.reduceat(lanes, starts, axis=0)
                k = 0
                for i in range(rb.num_rows):
                    if nonempty[i]:
                        sigs[i] = mins[k].tolist()
                        k += 1
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), pa.array(sigs, type=pa.list_(pa.int64()))],
                names=["id", "sig"],
            )

    return sel.mapInArrow(kernel, schema="id long, sig array<long>")


def minhash_signatures_expr(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_hashes: int = N_MINHASH
) -> DataFrame:
    """Pure-Catalyst expression twin of :func:`minhash_signatures` (the
    original formulation; kept as a cross-engine equivalence anchor).

    ONE sha256 + ONE hex->int ``conv`` per token (the two expensive per-token
    ops — HOF lambdas are interpreted, so per-token work dominates); the fold
    (``aggregate`` + ``zip_with least``) materializes ``h`` once per token
    before the 16 lane expressions reference it.
    """
    if n_hashes > N_MINHASH:
        raise ValueError(f"at most {N_MINHASH} lanes are derived per token")
    # the per-token hash fold is the expensive per-row work — spread a
    # single-file input across the session's cores before evaluating it
    df = _spread(df)
    toks = F.array_distinct(tokens(F.lower(F.col(text_col))))
    words = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.sha2(t, 256), 1, 15), 16, 10).cast("long"),
    )
    init = F.array_repeat(F.lit(1 << 33).cast("long"), n_hashes)  # > any 30-bit lane

    def fold(acc: F.Column, h: F.Column) -> F.Column:
        hi = F.shiftright(h, 30)
        lo = h.bitwiseAND(F.lit(_MASK30))
        slices = F.array(
            *[
                (hi * F.lit(LANE_A[j]) + lo * F.lit(LANE_B[j]) + F.lit(LANE_C[j]))
                .bitwiseAND(F.lit(_MASK30))
                for j in range(n_hashes)
            ]
        )
        return F.zip_with(acc, slices, lambda x, y: F.least(x, y))

    sig = F.when(F.size(toks) > 0, F.aggregate(words, init, fold))
    return df.select(F.col(id_col).alias("id"), sig.alias("sig"))


def minhash_bands(
    sigs: DataFrame,
    band_size: int = BAND_SIZE,
    n_hashes: int = N_MINHASH,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Explode signatures into ``(id, band, band_hash)`` LSH bucket keys.
    Documents sharing any (band, band_hash) are near-dup candidates.

    ``n_hashes`` MUST match the signature length and divide into whole
    bands: slicing past the signature would make the out-of-range bands
    hash a constant for every document — a silent all-pairs degeneration.

    ``carry``: extra columns passed through unchanged (payload replicated
    once per band) — how :func:`minhash_candidate_pairs` ships the
    signature itself through the band join for the ``min_agree`` cut
    WITHOUT a second shuffle against the group table.
    """
    if n_hashes <= 0 or n_hashes > N_MINHASH or n_hashes % band_size != 0:
        raise ValueError(
            f"n_hashes={n_hashes} must be a positive multiple of "
            f"band_size={band_size} and at most {N_MINHASH}"
        )
    n = n_hashes
    bands = []
    for b in range(n // band_size):
        seg = F.slice(F.col("sig"), b * band_size + 1, band_size)
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *[F.element_at(seg, j + 1).cast("string") for j in range(band_size)])).alias("band_hash"),
            )
        )
    return sigs.select(
        "id", *carry, F.explode(F.array(*bands)).alias("bb")
    ).select(
        "id", *carry,
        F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash"),
    )


def _sig_groups(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int
) -> DataFrame:
    """Signature groups ``(sig, gid, members)`` — the duplicate-mass
    collapse shared by :func:`minhash_candidate_pairs` and
    :func:`minhash_join`.  ``collect_set`` (not list) so a repeated
    ``id_col`` value cannot emit duplicate pairs downstream (ids are
    expected unique per corpus; the set guards the common repeat case).
    Materialized (eager ``localCheckpoint``) before returning: the band and
    member branches both read it, and an unmaterialized frame would race
    them into concurrent full evaluations of the signature scan (the
    diamond-lineage barrier, true at any scale).

    Returns a lineage-truncated handle held in the plan-keyed LRU registry
    (:data:`_SIG_CACHES`).  Why a checkpoint and not the pre-r15 ``cache()``:
    the downstream pair query references the group table up to six times
    (two member branches, two band branches, plus the expansion joins), and
    a cache does NOT truncate the analyzed plan, so every action re-analyzed
    the full signature-scan lineage six times over — a measured 1.27 s
    planning-only gap per call at bench scale (plan dump: 456 -> 241 lines,
    plans/r15/dedup_minhash_pairs_{before,after}.txt).  Why the REGISTRY
    holds the checkpointed handle: the round-14 attempt that returned a bare
    checkpoint lost reuse across repeated calls (a checkpoint handle is
    identity-keyed, so Spark's plan-keyed CacheManager cannot serve call 2)
    and was reverted; keying the registry by the PRE-checkpoint analyzed
    plan restores it — a repeat call on the same input gets the already
    materialized handle with zero jobs.  Interleaved same-session A/Bs
    (bench methodology, 5 reps/arm, r15): cache-only best 1.659 s / median
    1.779 s; cache+per-call-checkpoint 1.398 / 1.498; registry-held
    checkpoint best 1.792 vs 3.199 for cache+checkpoint under identical
    contended conditions, at HALF the storage (one copy, not cache+blocks).

    LIFETIME is owned by the bounded registry: the most recent
    :data:`SIG_CACHE_CAPACITY` group tables stay warm; older entries are
    dropped in LRU order and their blocks are freed by the ContextCleaner
    once no outstanding result references them (an explicit unpersist would
    strand those results — a localCheckpoint cannot recompute).  Never a
    session-lifetime leak (the pre-round-5 behavior), and never a too-early
    release under the chained pattern
    ``minhash_candidate_pairs(df).filter(...).count()`` (the round-5
    GC-scoped design released the cache the moment the intermediate Python
    handle was refcount-dropped — before the action ran);
    :func:`release_signature_caches` stays the deterministic drain."""
    g = (
        minhash_signatures(df, id_col, text_col, n_hashes)
        .groupBy("sig")
        .agg(F.min("id").alias("__min_id"), F.collect_set("id").alias("members"))
        # gid must be UNIQUE per signature group: with gid = min(id) alone, a
        # repeated id with DIFFERING texts that is the minimum of both its
        # groups would give two groups the same gid, conflating their member
        # lists downstream (duplicate within-group pairs, spurious
        # cross-group candidates — ADVICE r5).  The (min id, 64-bit sig
        # hash) struct is unique for all practical purposes: a collision
        # needs the same minimum member AND an xxhash64 collision between
        # that member's two signatures.
        .select(
            F.struct(
                F.col("__min_id").alias("m"), F.xxhash64("sig").alias("h")
            ).alias("gid"),
            "sig",
            "members",
        )
    )
    key = _plan_cache_key(g)
    if key is None:
        return g.localCheckpoint(eager=True)
    with _SIG_LOCK:
        hit = _SIG_CACHES.get(key)
        if hit is not None:
            _SIG_CACHES.move_to_end(key)
    if hit is not None:
        return hit
    # eager localCheckpoint: ONE materialization job (exactly what the old
    # cache+count pair paid) and the handle's plan is a LogicalRDD, so the
    # six downstream references analyze a tiny plan.  Registered under the
    # PRE-checkpoint plan key (the checkpoint's own plan is identity-keyed
    # and would never hit); two racing callers both materialize and the
    # first insert wins — the loser's blocks are released by the
    # ContextCleaner once its handle dies.
    cut = g.localCheckpoint(eager=True)
    evicted = []
    with _SIG_LOCK:
        if key in _SIG_CACHES:
            _SIG_CACHES.move_to_end(key)
            return _SIG_CACHES[key]
        _SIG_CACHES[key] = cut
        while len(_SIG_CACHES) > SIG_CACHE_CAPACITY:
            evicted.append(_SIG_CACHES.popitem(last=False)[1])
    for old in evicted:
        # unpersist is a CacheManager no-op for a checkpointed handle — on
        # purpose: its blocks CANNOT recompute after an explicit unpersist
        # (truncated lineage), and an outstanding result may still read
        # them.  Dropping the reference instead lets the ContextCleaner
        # free the blocks as soon as no result plan uses them.
        try:
            old.unpersist()
        except Exception:
            pass
    return cut


#: how many signature-group caches the bounded registry keeps alive (LRU).
#: 2 is the per-call maximum (minhash_join holds one per side), so the most
#: recent operator call always evaluates through warm caches; raise it if a
#: workload interleaves actions on several dedup results.
SIG_CACHE_CAPACITY = 2

#: (session id, analyzed-plan semantic hash, canonicalized-plan digest) ->
#: materialized signature-group DataFrame (since r15 a checkpointed handle,
#: keyed by the PRE-checkpoint analyzed plan).  Plan-keyed on purpose: a
#: repeated call over the same input resolves to the same key and gets the
#: already-materialized handle — keying by object identity would make every
#: call a miss.  The 32-bit semanticHash alone can collide between two
#: DISTINCT plans in one session (silently aliasing their entries — ADVICE
#: r6), so the key also carries a sha256 digest of the CANONICALIZED plan
#: string: canonicalization normalizes expression ids, so semantically-equal
#: plans still share one key, while distinct plans practically never do.
_SIG_CACHES: "OrderedDict[tuple[int, int, str], DataFrame]" = __import__(
    "collections"
).OrderedDict()

#: registry mutations are lock-guarded: multi-threaded drivers (one session,
#: many query threads — a normal Spark pattern) would otherwise corrupt the
#: OrderedDict or double-unpersist under concurrent register/release.
_SIG_LOCK = __import__("threading").Lock()


def _plan_cache_key(g: DataFrame) -> tuple | None:
    """Registry key of ``g``'s plan, or ``None`` when the plan cannot be
    read (e.g. a non-classic backend).  ``None`` always misses: an
    object-identity fallback could be recycled by another corpus's frame
    and serve it this one's signature groups."""
    try:
        analyzed = g._jdf.queryExecution().analyzed()
        return (
            id(g.sparkSession),
            int(analyzed.semanticHash()),
            hashlib.sha256(analyzed.canonicalized().toString().encode()).hexdigest(),
        )
    except Exception:
        return None


def _register_caches(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Register ``cached`` (persisted intermediate) DataFrames in the
    module's bounded LRU registry and return ``result`` unchanged.

    This is the ownership contract for operators whose returned (lazy)
    DataFrame still evaluates through a cached intermediate: unpersisting
    before return would force a full recompute per downstream action, while
    never unpersisting leaks executor storage for the session.  The round-5
    design tied release to GC of the result handle, but derived DataFrames
    do not keep their Python parent alive — ``op(df).filter(...).count()``
    dropped the cache before the action ran (ADVICE r5).  The registry
    decouples lifetime from Python object graphs entirely: the newest
    :data:`SIG_CACHE_CAPACITY` caches stay warm, older ones are unpersisted
    in LRU order.  Correctness never depends on the cache (an evicted
    intermediate just recomputes); :func:`release_signature_caches` is the
    deterministic drain for long-running services.  Since r15 the minhash
    operators register their checkpointed group handles directly inside
    :func:`_sig_groups` (keyed by the pre-checkpoint plan, eviction without
    unpersist); this function remains the insert path for plain CACHED
    intermediates, where unpersist-on-evict is safe because a cache
    recomputes."""
    for g in cached:
        key = _plan_cache_key(g)
        if key is None:  # unkeyable: the caller's cache is never served
            continue
        evicted = []
        with _SIG_LOCK:
            if key in _SIG_CACHES:
                _SIG_CACHES.move_to_end(key)
                _SIG_CACHES[key] = g
                continue
            _SIG_CACHES[key] = g
            while len(_SIG_CACHES) > SIG_CACHE_CAPACITY:
                evicted.append(_SIG_CACHES.popitem(last=False)[1])
        for old in evicted:  # unpersist outside the lock (JVM round-trip)
            try:
                old.unpersist()
            except Exception:
                pass  # session already stopped — nothing to release
    return result


def release_signature_caches() -> None:
    """Drain the registry now.  Idempotent and safe after session shutdown;
    long-running services call this between corpora instead of waiting for
    LRU eviction.  For checkpointed handles the unpersist is a CacheManager
    no-op by design (their blocks cannot recompute once dropped, and an
    outstanding result may still read them) — the drain only drops the
    registry's references.  The blocks are freed later, when the
    ContextCleaner runs after a real JVM garbage collection has reclaimed
    the last reference to the checkpointed RDD — not as soon as no live
    result plan uses them."""
    while True:
        with _SIG_LOCK:
            if not _SIG_CACHES:
                return
            _, g = _SIG_CACHES.popitem(last=False)
        try:
            g.unpersist()
        except Exception:
            pass


def minhash_band_plan(
    threshold: float,
    n_hashes: int = N_MINHASH,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
) -> dict:
    """Pick LSH banding geometry ``(bands, band_size)`` for a target Jaccard
    ``threshold`` — the S-curve optimization from Leskovec/Rajaraman/Ullman,
    *Mining of Massive Datasets* ch. 3: a pair with Jaccard ``s`` becomes a
    candidate with probability ``P(s) = 1 - (1 - s^r)^b``; the planner
    enumerates every ``(b, r)`` with ``b*r <= n_hashes`` and minimizes the
    weighted area of false positives (``∫_0^t P``) plus false negatives
    (``∫_t^1 (1-P)``) by midpoint quadrature.

    Raise ``fp_weight`` when candidate VOLUME is the cost that hurts (a
    1M+-row corpus feeding an exact-verify join); raise ``fn_weight`` when
    recall at the threshold matters more than verify cost.

    Returns ``{"bands", "band_size", "n_hashes", "s_threshold",
    "min_agree"}`` — ``s_threshold = (1/b)^(1/r)`` is the curve's steepest
    point, ``min_agree`` the matching :func:`minhash_min_agree` pre-verify
    cut.  Feed the fields straight into :func:`minhash_candidate_pairs`.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold={threshold} must be in (0, 1)")
    if not 1 <= n_hashes <= N_MINHASH:
        raise ValueError(f"n_hashes={n_hashes} must be in [1, {N_MINHASH}]")
    grid = 400
    best = None
    for r in range(1, n_hashes + 1):
        for b in range(1, n_hashes // r + 1):
            fp = fn = 0.0
            for i in range(grid):
                s = (i + 0.5) / grid
                p = 1.0 - (1.0 - s**r) ** b
                if s < threshold:
                    fp += p
                else:
                    fn += 1.0 - p
            cost = (fp_weight * fp + fn_weight * fn) / grid
            # ties: prefer spending more lanes (sharper curve), then more
            # bands (cheaper band hashing than longer rows)
            key = (cost, -(b * r), r)
            if best is None or key < best[0]:
                best = (key, b, r)
    _, b, r = best
    return {
        "bands": b,
        "band_size": r,
        "n_hashes": b * r,
        "s_threshold": (1.0 / b) ** (1.0 / r),
        "min_agree": minhash_min_agree(threshold, b * r),
    }


def minhash_min_agree_banded(
    threshold: float,
    n_hashes: int = N_MINHASH,
    band_size: int = BAND_SIZE,
    fn_tol: float = 0.1,
) -> int:
    """Strongest lane-agreement cut whose false-negative rate at the
    threshold, CONDITIONAL on the pair having matched a band, stays within
    ``fn_tol`` — the right selector when the cut runs on banding's
    collision stream (a band match already certifies ``band_size``
    agreeing lanes, so the binomial is over the remaining
    ``n_hashes - band_size`` lanes).

    At threshold 0.5 / 16 lanes / 4-row bands and the default tolerance
    this returns 8 — exactly the cut the 1M A/B measured recall-neutral —
    while at threshold 0.9 it returns 13, not the naive
    ``ceil(0.9 * 16) = 15`` whose conditional false-negative rate at the
    boundary would be ~34%."""
    from math import comb

    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold={threshold} must be in (0, 1)")
    rem = n_hashes - band_size

    def cond_tail(m: int) -> float:
        need = max(m - band_size, 0)
        return sum(
            comb(rem, k) * threshold**k * (1.0 - threshold) ** (rem - k)
            for k in range(need, rem + 1)
        )

    m = 1
    for cand in range(n_hashes, 0, -1):
        if cond_tail(cand) >= 1.0 - fn_tol:
            m = cand
            break
    return m


def minhash_min_agree(
    threshold: float, n_hashes: int = N_MINHASH, fn_tol: float = 0.05
) -> int:
    """Largest lane-agreement cut ``m`` that keeps a pair with Jaccard
    exactly at ``threshold`` with probability ``>= 1 - fn_tol``.

    Lane agreement is Binomial(``n_hashes``, J) (each MinHash lane matches
    independently with probability J), so the exact binomial upper tail
    picks the strongest pre-verify filter whose false-negative rate AT the
    threshold is bounded; pairs far above the threshold are cut with
    exponentially smaller probability.  Driver-side exact arithmetic —
    ``n_hashes <= 16`` makes ``math.comb`` trivial."""
    from math import comb

    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold={threshold} must be in (0, 1)")

    def upper_tail(m: int) -> float:
        return sum(
            comb(n_hashes, k) * threshold**k * (1.0 - threshold) ** (n_hashes - k)
            for k in range(m, n_hashes + 1)
        )

    m = 1
    for cand in range(n_hashes, 0, -1):
        if upper_tail(cand) >= 1.0 - fn_tol:
            m = cand
            break
    return m


def minhash_candidate_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n_hashes: int = N_MINHASH, band_size: int = BAND_SIZE,
    min_agree: int | None = None,
) -> DataFrame:
    """LSH candidate pairs ``(a, b)`` with a < b — the scale path for near-dup
    detection.

    Exact duplicates (identical signatures — in real corpora a huge share of
    near-dup mass) are collapsed FIRST: one groupBy(sig) shuffle of (id, sig)
    rows.  Within-group all-pairs come from a codegen'd self-join on the group
    id (each pair generated exactly once — no distinct); the band equi-join +
    distinct runs only at one-representative-per-group level, then expands
    back through the member lists with two more equi-joins.  The naive
    band-join formulation shuffles O(sum m^2) candidate rows through a
    distinct — on a corpus where a million documents share one page template
    that is a 10^12-row shuffle; here the quadratic expansion happens after
    the last shuffle, streamed straight out of codegen'd joins.  Output set is
    identical (the DuckDB oracle pins it).

    The internal signature-group table is a registry-held checkpointed
    handle — see :func:`_sig_groups`; repeated calls never accumulate
    executor storage beyond ``SIG_CACHE_CAPACITY`` tables (plus blocks
    still referenced by outstanding results, freed by the ContextCleaner),
    and :func:`release_signature_caches` drains the registry
    deterministically.

    ``min_agree``: optional pre-verify cut — keep a candidate pair only if
    at least ``min_agree`` of its ``n_hashes`` signature lanes agree
    (``matches / n_hashes`` is the unbiased MinHash Jaccard estimate, so
    ``min_agree = ceil(t * n_hashes)`` keeps pairs whose ESTIMATED Jaccard
    clears ``t``; :func:`minhash_min_agree` picks a bounded-false-negative
    cut instead).  The filter runs at signature-GROUP level, and the
    signatures ride THROUGH the band join as an ``array<int>`` payload
    (``carry=`` on :func:`minhash_bands`), so the cut is a map-side scalar
    ``zip_with`` on the join's collision stream — ZERO extra shuffles, and
    it fires BEFORE the group-pair ``distinct`` AND before member
    expansion, shrinking both by the cut factor (the first r9 formulation
    joined the group table twice after the distinct; at 1M docs those two
    extra group-pair-sized shuffles coexisting with the band join filled
    the 94 GB scratch volume — measured, not theoretical).  Within-group
    pairs have identical signatures and always pass.
    """
    if min_agree is not None and not 1 <= min_agree <= n_hashes:
        raise ValueError(
            f"min_agree={min_agree} must be in [1, n_hashes={n_hashes}]"
        )
    groups = _sig_groups(df, id_col, text_col, n_hashes)
    mem = groups.select("gid", F.explode("members").alias("id"))

    # within-group all pairs; the probe side is spread so one giant duplicate
    # group fans out across every task instead of serializing on its hash key
    within = (
        _spread(mem).withColumnRenamed("id", "a")
        .join(mem.withColumnRenamed("id", "b"), "gid")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )

    # cross-group: band match decided once per group pair (distinct is over
    # group pairs, not member pairs), then expanded via two equi-joins.
    # A band match already certifies band_size agreeing lanes, so a cut at
    # or below band_size is vacuously true — skip the signature-payload
    # machinery entirely rather than pay its shuffle weight for nothing.
    if min_agree is not None and min_agree > band_size:
        # the signature rides through the band join (30-bit lanes fit
        # array<int>, halving the payload); the agreement cut is a
        # map-side filter on the collision stream BEFORE the distinct
        gb = groups.select(
            F.col("gid").alias("id"), "sig",
            F.col("sig").cast("array<int>").alias("__s"),
        )
        rbands = minhash_bands(gb, band_size, n_hashes, carry=("__s",))
        agree = F.aggregate(
            F.zip_with(
                "__sa", "__sb",
                lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        rpairs = (
            _spread(rbands).select(
                "band", "band_hash",
                F.col("id").alias("ra"), F.col("__s").alias("__sa"),
            )
            .join(
                rbands.select(
                    "band", "band_hash",
                    F.col("id").alias("rb"), F.col("__s").alias("__sb"),
                ),
                ["band", "band_hash"],
            )
            .filter(F.col("ra") < F.col("rb"))
            .filter(agree >= F.lit(min_agree))
            .select("ra", "rb")
            .distinct()
        )
    else:
        rbands = minhash_bands(
            groups.select(F.col("gid").alias("id"), "sig"), band_size, n_hashes
        )
        rpairs = (
            _spread(rbands).select("band", "band_hash", F.col("id").alias("ra"))
            .join(rbands.select("band", "band_hash", F.col("id").alias("rb")), ["band", "band_hash"])
            .filter(F.col("ra") < F.col("rb"))
            .select("ra", "rb")
            .distinct()
        )
    across = (
        rpairs.join(mem.select(F.col("gid").alias("ra"), F.col("id").alias("x")), "ra")
        .join(mem.select(F.col("gid").alias("rb"), F.col("id").alias("y")), "rb")
        # different groups are disjoint but not ordered — normalize, don't
        # filter; a<b afterwards only drops degenerate self-pairs that a
        # repeated id with differing texts would place in two groups
        .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
        .filter(F.col("a") < F.col("b"))
    )
    return within.unionAll(across)


#: jaccard verifiers fall back from all-pairs to MinHash-LSH candidates
#: above this row count when pairs is None
JACCARD_AUTO_ROWS = 100_000


def _auto_candidates(
    df: DataFrame,
    pairs: DataFrame | None,
    id_col: str,
    text_col: str,
    auto_rows: int | None,
    total: int | None,
    threshold: float | None = None,
    min_agree: int | None | str = "auto",
    fn_tol: float = 0.1,
) -> DataFrame | None:
    r"""pairs=None policy shared by the Jaccard verifiers: keep the exact
    all-pairs generator only below ``auto_rows`` rows; beyond it, default
    to MinHash-LSH candidates so the verifier is never O(N^2) by accident
    (precision stays exact — every emitted pair is re-verified — recall
    becomes MinHash-LSH's).  ``auto_rows=None`` pins the exact path without
    issuing the count job (callers asserting exactness, e.g. the oracle
    gate, use this).

    With the verify ``threshold`` known, the auto path also applies the
    lane-agreement pre-verify cut at
    :func:`minhash_min_agree_banded`\ ``(threshold)`` — the strongest cut
    whose false-negative rate at the threshold, conditional on a band
    match, stays within tolerance (10%).  At threshold 0.5 that is
    ``min_agree = 8``, the exact configuration the 1M-doc A/B
    (SCALE_TEXT_1M.json) measured at 6.4x fewer candidates and 7x faster
    verify with planted recall IDENTICAL to the uncut banding (0.988023
    vs 0.988028 — one doc in 200k); at high thresholds the conditional
    selector backs off instead of silently cutting boundary recall the
    way naive ``ceil(t * n)`` would.  Explicit ``pairs=`` callers are
    untouched.

    ``min_agree`` tunes the cut (ADVICE r9 — the knob must be reachable
    from default-parameter callers): ``"auto"`` (default) selects via
    :func:`minhash_min_agree_banded`\ ``(threshold, fn_tol=fn_tol)``;
    ``None`` disables the cut (pre-r9 candidate set); an int pins it."""
    if pairs is not None:
        return pairs
    if auto_rows is None:
        return None
    n = total if total is not None else df.count()
    if n > auto_rows:
        if min_agree == "auto":
            min_agree = (
                minhash_min_agree_banded(threshold, fn_tol=fn_tol)
                if threshold is not None and 0.0 < threshold < 1.0
                else None
            )
        return minhash_candidate_pairs(
            df, id_col=id_col, text_col=text_col, min_agree=min_agree
        )
    return None


def _token_set(text):
    """Distinct lowercase whitespace tokens — THE token projection every
    exact-Jaccard verifier (and its DuckDB twin) is pinned to."""
    return F.array_distinct(tokens(F.lower(text)))


def _jaccard_expr(ta, tb):
    """Exact token-set Jaccard, rounded to 6 dp — shared by
    :func:`jaccard_pairs` and :func:`minhash_join` so the oracle-pinned
    definition lives in exactly one place."""
    inter = F.size(F.array_intersect(ta, tb)).cast("double")
    union = F.size(F.array_union(ta, tb)).cast("double")
    return F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6)


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    auto_rows: int | None = JACCARD_AUTO_ROWS,
    total: int | None = None,
    hashed_tokens: bool = False,
    min_agree: int | None | str = "auto",
    fn_tol: float = 0.1,
) -> DataFrame:
    """Exact token-set Jaccard ``(a, b, jaccard)`` for candidate ``pairs``.

    ``pairs=None``: all pairs below ``auto_rows`` rows (exact, O(N^2) —
    small N / intra-block only); above it the candidates default to
    :func:`minhash_candidate_pairs` WITH the lane-agreement pre-verify cut
    (``min_agree="auto"``: the strongest cut whose false-negative rate at
    ``threshold``, conditional on a band match, stays within ``fn_tol`` —
    measured recall-neutral at 1M docs, SCALE_TEXT_1M.json), so calling
    this on a big table cannot silently go quadratic.  ``min_agree=None``
    disables the cut; an int pins it; both only apply on the auto path —
    explicit ``pairs=`` callers control their own candidates.  Pass
    ``total`` to skip the count job.

    ``hashed_tokens=True`` is the SHUFFLE-VOLUME lever for large corpora:
    the verify join replicates BOTH token sets onto every candidate pair,
    so its shuffle bytes are ``sum over pairs of (|A| + |B|) x
    bytes/token`` — with string tokens that was the stage that filled the
    scratch disk at the 1M-row scale run.  Hashed mode projects each
    distinct token to its 60-bit sha256 word (the exact words the MinHash
    kernel already memoizes), cutting bytes/token to a flat 8 and the
    intersection to a long-array op.  Jaccard over the hashed sets equals
    Jaccard over the tokens unless two distinct tokens of the SAME
    document pair collide in 60 bits (P ~ |A| x |B| / 2^60 — negligible;
    equivalence on real corpora is pinned by test).  Default stays False:
    the oracle-pinned definition compares the token strings themselves.

    Verification stage of MinHash-LSH dedup; also standalone n-gram Jaccard.
    """
    # the auto path knows the verify threshold is over the SAME token sets
    # the signatures hash, so the estimated-Jaccard cut applies (see
    # _auto_candidates; 1M-measured recall-neutral); ngram_jaccard_pairs
    # verifies character shingles — a different measure — and stays uncut
    pairs = _auto_candidates(
        df, pairs, id_col, text_col, auto_rows, total, threshold=threshold,
        min_agree=min_agree, fn_tol=fn_tol,
    )
    if hashed_tokens:
        from vectordb_watermark_spark.functions.hashing import word60

        tok_expr = F.transform(
            _token_set(F.col(text_col)), lambda t: word60(F.sha2(t, 256))
        )
    else:
        tok_expr = _token_set(F.col(text_col))
    toks = df.select(F.col(id_col).alias("id"), tok_expr.alias("toks"))
    if pairs is None:
        a = toks.select(F.col("id").alias("a"), F.col("toks").alias("ta"))
        b = toks.select(F.col("id").alias("b"), F.col("toks").alias("tb"))
        joined = a.join(b, F.col("a") < F.col("b"))
    else:
        joined = (
            pairs.join(toks.withColumnRenamed("id", "a").withColumnRenamed("toks", "ta"), "a")
            .join(toks.withColumnRenamed("id", "b").withColumnRenamed("toks", "tb"), "b")
        )
    return (
        joined.select("a", "b", _jaccard_expr(F.col("ta"), F.col("tb")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 30,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Group near-dup pairs into clusters: ``(id, comp)`` where ``comp`` is
    the minimum id reachable from ``id`` — the canonical-document assignment
    that turns a pair list into a dedup decision.

    Min-label propagation: every node starts labeled with itself; each
    round, each node takes the minimum label among itself and its
    neighbors; converges in O(graph diameter) rounds (near-dup clusters are
    dense — diameter is tiny).  Each round is one join + one map-side-
    combined aggregate; checkpointing truncates the iterative lineage so
    the plan does not grow with rounds (the standard Spark iterative-
    algorithm hygiene).  Deterministic: the fixpoint is unique.

    CHECKPOINT DURABILITY (VERDICT r6 task #4): by default the lineage is
    cut with ``localCheckpoint`` — executor-local blocks, fast, but LOST if
    an executor dies, which aborts the whole multi-round job.  At 100 TB a
    label propagation spanning many rounds must survive executor loss, so
    ``checkpoint_dir`` switches to RELIABLE ``checkpoint()`` into that
    (HDFS/object-store) directory: each round's labels are persisted files
    a replacement executor can re-read, making round N restart-safe instead
    of recompute-from-scratch.  Labels are identical either way (tested);
    the knob only trades write cost for fault tolerance.
    """
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        # setCheckpointDir is session-global; set it only when asked, and
        # leave it in place afterwards (cheap, and concurrent callers with
        # different dirs are a driver-code error better made visible)
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _cut(df: DataFrame) -> DataFrame:
        return df.checkpoint() if checkpoint_dir is not None else df.localCheckpoint()

    edges = _cut(
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .unionAll(pairs.select(F.col(b_col).alias("a"), F.col(a_col).alias("b")))
        .distinct()
    )
    labels = _cut(
        edges.select(F.col("a").alias("id")).distinct().withColumn("comp", F.col("id"))
    )
    for _ in range(max_iter):
        prop = (
            edges.join(labels, edges.a == labels.id)
            .select(F.col("b").alias("id"), "comp")
            .groupBy("id")
            .agg(F.min("comp").alias("ncomp"))
        )
        # the previous label rides along as __old so convergence is a plain
        # filter+count over the checkpointed rows — the former formulation
        # re-joined new labels against old labels every round, paying one
        # extra join+shuffle per iteration just to count changes
        stepped = _cut(
            labels.join(prop, "id", "left")
            .select(
                "id",
                F.col("comp").alias("__old"),
                F.least(F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))).alias("comp"),
            )
        )
        changed = stepped.filter(F.col("comp") != F.col("__old")).count()
        labels = stepped.select("id", "comp")
        if changed == 0:
            break
    return labels


NGRAM_WIDTH = 5  # character shingle width for n-gram Jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = NGRAM_WIDTH,
    threshold: float = 0.5,
    auto_rows: int | None = JACCARD_AUTO_ROWS,
    total: int | None = None,
) -> DataFrame:
    """Character n-gram Jaccard ``(a, b, jaccard)``: token-order-insensitive
    near-dup measure over distinct ``width``-gram shingle hashes of the
    lowercased text (functions/text.shingle_hashes).

    Same shape as :func:`jaccard_pairs`: exact verify over candidate
    ``pairs`` (the scale path — feed MinHash-LSH or SimHash candidates);
    ``pairs=None`` is all-pairs only below ``auto_rows`` rows, and defaults
    to token-MinHash-LSH candidates beyond (token near-dups and shingle
    near-dups overlap heavily; pass SimHash candidates explicitly for
    purely character-level corruption).
    """
    from vectordb_watermark_spark.functions.text import shingle_hashes

    pairs = _auto_candidates(df, pairs, id_col, text_col, auto_rows, total)

    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingle_hashes(F.lower(F.col(text_col)), width)).alias("sh"),
    )
    if pairs is None:
        a = sh.select(F.col("id").alias("a"), F.col("sh").alias("sa"))
        b = sh.select(F.col("id").alias("b"), F.col("sh").alias("sb"))
        joined = _spread(a).join(b, F.col("a") < F.col("b"))
    else:
        joined = (
            pairs.join(sh.withColumnRenamed("id", "a").withColumnRenamed("sh", "sa"), "a")
            .join(sh.withColumnRenamed("id", "b").withColumnRenamed("sh", "sb"), "b")
        )
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
    union = F.size(F.array_union(F.col("sa"), F.col("sb"))).cast("double")
    j = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        joined.select("a", "b", F.round(j, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


SIMHASH_BITS = 48  # fits signed BIGINT with headroom; 48 bits is plenty at 5k docs


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """``(id, simhash BIGINT)`` 48-bit SimHash over distinct lowercase tokens
    — Arrow-batched numpy kernel, ZERO shuffles.

    Value-identical to :func:`simhash_expr` (and the DuckDB oracle): bit
    ``b`` of the 48-bit word from sha256(token)'s first 12 hex chars
    contributes +1/-1 to coordinate ``b``; signature bit is 1 iff the sum is
    positive.  The kernel extracts all 48 bit-lanes of a batch's tokens with
    one broadcasted shift (``(W >> b) & 1``), sums per document via
    ``add.reduceat``, and memoizes token hashes — replacing an interpreted
    48-lane HOF fold whose codegen'd expression tree was both slow (~14 ms
    per document) and compile-time fragile.  Documents with no tokens are
    dropped (they vanish at the oracle's unnest too).
    """
    import pyarrow as pa

    df = _spread(df)
    sel = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))

    def kernel(batches):
        import numpy as np

        shifts = np.arange(SIMHASH_BITS, dtype=np.int64)
        memo: dict = {}
        for rb in batches:
            if not rb.num_rows:
                continue
            texts = rb.column(1).to_pylist()
            # 60-bit words shared with the minhash memo arithmetic; the top
            # 48 bits of the first 12 hex chars == word >> 12
            per_doc = [w >> 12 for w in _token_words_batch(texts, memo)]
            lens = np.array([len(w) for w in per_doc], dtype=np.int64)
            nonempty = lens > 0
            if not nonempty.any():
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False)[nonempty]
            W = np.concatenate([w for w in per_doc if len(w)])
            contrib = (((W[:, None] >> shifts[None, :]) & 1) * 2 - 1).astype(np.int64)
            starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
            np.cumsum(lens[nonempty][:-1], out=starts[1:])
            sums = np.add.reduceat(contrib, starts, axis=0)  # (docs, 48)
            packed = ((sums > 0).astype(np.int64) << shifts[None, :]).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()), pa.array(packed, type=pa.int64())],
                names=["id", "simhash"],
            )

    return sel.mapInArrow(kernel, schema="id long, simhash long")


def simhash_expr(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Pure-Catalyst expression twin of :func:`simhash` (the original
    formulation; kept as a cross-engine equivalence anchor).

    The naive formulation (explode tokens x 48 bit-rows -> groupBy(id, bit)
    -> groupBy(id)) shuffles ~48x the token count; here a single
    ``aggregate`` folds each token's 48-lane +/-1 contribution into an array
    accumulator, then the signature packs sign bits.
    """
    # per-row fold is the hot path — don't serialize it on a one-file input
    df = _spread(df)
    toks = F.array_distinct(tokens(F.lower(F.col(text_col))))
    # 48 bits from the first 12 hex chars of sha256(token); hashing happens in
    # this transform — once per token, NOT once per (token, lane)
    hashes = F.transform(
        toks, lambda t: F.conv(F.substring(F.sha2(t, 256), 1, 12), 16, 10).cast("long")
    )
    sums = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    (F.shiftright(h, b).bitwiseAND(F.lit(1)) * F.lit(2) - F.lit(1)).cast("long")
                    for b in range(SIMHASH_BITS)
                ]
            ),
            lambda x, y: x + y,
        ),
    )
    # pack sign bits with a doubling accumulator (no variable-width shifts,
    # and `sums` is evaluated exactly once)
    packed = F.aggregate(
        sums,
        F.struct(F.lit(0).cast("long").alias("a"), F.lit(1).cast("long").alias("p")),
        lambda acc, s: F.struct(
            (acc["a"] + F.when(s > 0, acc["p"]).otherwise(F.lit(0).cast("long"))).alias("a"),
            (acc["p"] * F.lit(2)).alias("p"),
        ),
        lambda acc: acc["a"],
    )
    # empty token sets produce no signature (matches the exploded formulation
    # and the oracle, where such ids vanish at the unnest)
    return df.select(F.col(id_col).alias("id"), F.when(F.size(toks) > 0, packed).alias("sh")) \
        .filter(F.col("sh").isNotNull()) \
        .select("id", F.col("sh").alias("simhash"))


def simhash_near_pairs(
    sigs: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= ``max_hamming``.

    Scale path: band the 48-bit signature into (max_hamming+1) segments —
    by pigeonhole, any pair within the Hamming budget shares at least one
    exact segment — equi-join on (segment index, segment value), then verify
    the full Hamming distance with bit_count.  One shuffle, no N^2.

    GEOMETRY CONSTRAINT (the knob that decides whether this survives a
    scale-up): segment width is ``48 // (max_hamming+1)`` bits, so random
    bucket occupancy is ``N / 2^seg_bits`` and candidate volume grows as
    ``N^2 * (max_hamming+1) / 2^seg_bits``.  ``max_hamming=3`` (default)
    gives 12-bit segments — 4096 buckets, fine into the tens of millions
    of rows.  ``max_hamming=6`` gives 6-BIT segments — 64 buckets, which
    melts down around ~10^5 rows (measured: at 10^6 rows it implies ~5e10
    candidate pairs — the failure the 1M scale run hit).  Keep the budget
    at 3 for large corpora, or pre-block by a coarse key (e.g. length
    bucket or source) before widening the budget.
    """
    n_seg = max_hamming + 1
    seg_bits = SIMHASH_BITS // n_seg
    segs = []
    for s in range(n_seg):
        width = seg_bits if s < n_seg - 1 else SIMHASH_BITS - seg_bits * (n_seg - 1)
        val = F.shiftright(F.col("simhash"), s * seg_bits).bitwiseAND(
            F.lit((1 << width) - 1)
        )
        segs.append(F.struct(F.lit(s).alias("seg"), val.alias("segval")))
    exploded = sigs.select(
        F.col("id"), F.col("simhash"), F.explode(F.array(*segs)).alias("sv")
    ).select("id", "simhash", F.col("sv.seg").alias("seg"), F.col("sv.segval").alias("segval"))
    a = _spread(exploded).select(
        "seg", "segval", F.col("id").alias("a"), F.col("simhash").alias("ha")
    )
    b = exploded.select("seg", "segval", F.col("id").alias("b"), F.col("simhash").alias("hb"))
    cand = (
        a.join(b, ["seg", "segval"]).filter(F.col("a") < F.col("b")).select("a", "b", "ha", "hb").distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.select("a", "b", ham.alias("hamming")).filter(F.col("hamming") <= max_hamming)


def benchmark_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Training-set decontamination: for every document, the number of
    distinct character ``width``-gram shingle hashes it shares with ANY
    benchmark/eval document — rows with ``n_overlap >= min_overlap`` are
    contamination candidates to drop before training.

    Plan shape for 100 TB: the corpus side explodes to (doc, shingle) rows
    (per-row work, no shuffle), the benchmark shingle set is distinct-ed and
    broadcast (eval suites are tiny relative to the corpus), so the whole
    check is one broadcast hash join + one map-side-combined groupBy on
    ``id_col`` — never a corpus-vs-corpus join.
    """
    from vectordb_watermark_spark.functions.text import shingle_hashes

    d = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingle_hashes(F.lower(F.col(text_col)), width))).alias("h"),
    )
    b = (
        benchmark.select(
            F.explode(
                F.array_distinct(shingle_hashes(F.lower(F.col(text_col)), width))
            ).alias("h")
        )
        .distinct()
    )
    return (
        d.join(F.broadcast(b), "h")
        .groupBy("id")
        .agg(F.count_distinct("h").alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
        .select(F.col("id").alias(id_col), "n_overlap")
    )


def _bloom_positions_sql(h: str, m: str, n_hashes: int) -> str:
    """SQL expression: the ``n_hashes`` Bloom bit positions of shingle-hash
    column ``h`` in a filter of ``m`` bits — double hashing (Kirsch &
    Mitzenmacher 2006: ``pos_i = h1 + i*h2 mod m`` is FPR-equivalent to i
    independent hashes).  ``h2`` is reduced mod m BEFORE the multiply so
    ``h + i*h2`` never overflows int64 (h is 32-bit, i*h2 <= n_hashes*m).
    Shared verbatim by the build and probe sides — the zero-false-negative
    guarantee is this expression being identical in both."""
    h2 = f"pmod(xxhash64({h}), {m})"
    return (
        f"transform(sequence(0, {n_hashes - 1}), "
        f"i -> pmod({h} + i * ({h2}), {m}))"
    )


def bloom_benchmark_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    min_overlap: int = 1,
    bits_per_element: int = 10,
    n_hashes: int = 7,
) -> DataFrame:
    """:func:`benchmark_overlap` behind a Bloom-filter pre-probe — the
    100 TB decontamination shape when the benchmark suite itself is large.

    ``benchmark_overlap`` broadcasts the DISTINCT benchmark shingle-hash
    set and hash-joins the corpus against it.  Fine while eval suites are
    thousands of documents; but a full contamination sweep (every public
    benchmark + their train splits, Brown et al. 2020 style 13-gram
    overlap) carries 10^8+ distinct shingles — ~1 GB of 64-bit hashes
    plus JVM hash-table overhead per executor.  This operator compresses
    that set into a Bloom bit array (``bits_per_element`` = 10 and
    ``n_hashes`` = 7 give ~0.8% FPR) — 10^8 shingles become a ~125 MB
    long-array broadcast — and the probe is pure shift/AND bit arithmetic
    in whole-stage codegen: no join build, no shuffle on the corpus side.

    EXACTNESS: the Bloom pass only PRE-FILTERS ``(doc, shingle)`` pairs;
    survivors are re-verified against the true benchmark set, so the
    result EQUALS ``benchmark_overlap`` row for row.  False negatives are
    impossible by construction (a true benchmark shingle's probe positions
    are exactly the positions its build set) — the gate row pins equality
    by sharing ``decontaminate_docs``' DuckDB twin.  False positives only
    cost verify work: the exact join's corpus side shrinks from every
    ``(doc, shingle)`` row to true hits + ~0.8% noise.

    The whole build is in-plan (two aggregations over the tiny benchmark
    side, no driver collect): the bit-length ``m`` is a 1-row broadcast
    scalar, set bits fold through a map-side-combined ``bit_or`` groupBy,
    and the final array assembles via a zero-filled ``sequence`` lookup.
    """
    if bits_per_element < 1 or n_hashes < 1:
        raise ValueError("bits_per_element and n_hashes must be >= 1")
    from vectordb_watermark_spark.functions.text import shingle_hashes

    b = (
        benchmark.select(
            F.explode(
                F.array_distinct(shingle_hashes(F.lower(F.col(text_col)), width))
            ).alias("h")
        )
        .distinct()
    )
    # m: one row, broadcast everywhere m is needed (never 0 -> pmod safe)
    m_df = b.agg(
        F.greatest(
            F.count(F.lit(1)) * bits_per_element, F.lit(64)
        ).cast("long").alias("m")
    )
    pos = b.crossJoin(F.broadcast(m_df)).select(
        F.explode(F.expr(_bloom_positions_sql("h", "m", n_hashes))).alias("p")
    )
    words = (
        pos.select(
            (F.col("p") / 64).cast("long").alias("widx"),
            F.expr("shiftleft(1L, cast(p % 64 as int))").alias("mask"),
        )
        .groupBy("widx")
        .agg(F.expr("bit_or(mask)").alias("w"))
    )
    filt = (
        words.groupBy()
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("widx", "w"))
            ).alias("wm")
        )
        .crossJoin(F.broadcast(m_df))
        .select(
            "m",
            F.expr(
                "transform(sequence(0L, (m + 63) div 64 - 1), "
                "i -> coalesce(wm[i], 0L))"
            ).alias("bloom"),
        )
    )

    d = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(shingle_hashes(F.lower(F.col(text_col)), width))
        ).alias("h"),
    )
    hit = (
        f"forall({_bloom_positions_sql('h', 'm', n_hashes)}, "
        f"p -> (shiftright(element_at(bloom, cast(p div 64 as int) + 1), "
        f"cast(p % 64 as int)) & 1) = 1)"
    )
    cand = d.crossJoin(F.broadcast(filt)).filter(F.expr(hit)).select("id", "h")
    return (
        cand.join(F.broadcast(b), "h")
        .groupBy("id")
        .agg(F.count_distinct("h").alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
        .select(F.col("id").alias(id_col), "n_overlap")
    )


def semantic_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "id",
    vec_col: str = "emb",
    threshold: float | None = None,
    round_dp: int | None = 6,
    max_bench_rows: int = 200_000,
) -> DataFrame:
    """EMBEDDING-level training-set decontamination — the semantic twin
    of :func:`benchmark_overlap` (which catches verbatim/near-verbatim
    text; this catches paraphrases and translations that share no
    shingles): for every corpus document, its maximum cosine similarity
    against ANY benchmark/eval document -> ``(id, bench_id, max_cos)``
    (``bench_id`` = the argmax, smallest id on exact ties).
    ``threshold`` keeps only rows at or above it (the drop list).

    Plan shape for 100 TB: eval suites are tiny relative to the corpus,
    so the benchmark side is collected ONCE (guarded by
    ``max_bench_rows`` — a loud error, never a silent driver OOM),
    L2-normalized, and broadcast; the corpus side is one map-only Arrow
    GEMM pass (rows x bench matrix per batch, no shuffle, no join).
    Cost is one corpus scan regardless of corpus size — the same
    broadcast-probe shape as ``knn.knn_edges_broadcast``.

    No reference analogue (the reference has no curation layer); cited
    practice: semantic dedup/decontamination per SemDeDup (Abbas 2023)
    applied train-vs-eval.
    """
    import numpy as np

    n_bench = benchmark.count()
    if n_bench == 0:
        raise ValueError("semantic_contamination: empty benchmark table")
    if n_bench > max_bench_rows:
        raise ValueError(
            f"semantic_contamination: benchmark has {n_bench} rows > "
            f"max_bench_rows={max_bench_rows}; eval suites are expected "
            f"to be small — raise the cap explicitly if this is intended"
        )
    brows = (
        benchmark.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .orderBy("id")
        .collect()
    )
    bids = np.asarray([int(r["id"]) for r in brows], dtype=np.int64)
    B = np.asarray([list(map(float, r["v"])) for r in brows])
    Bn = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-12)
    spark = docs.sparkSession
    bids_b = spark.sparkContext.broadcast(bids)
    Bn_b = spark.sparkContext.broadcast(Bn)

    def kernel(batches):
        import pyarrow as pa

        from vectordb_watermark_spark.functions.arrowmat import (
            list_array_to_matrix,
        )

        for rb in batches:
            if not rb.num_rows:
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            X = list_array_to_matrix(rb.column(1), dtype=np.float64)
            Xn = X / np.maximum(
                np.linalg.norm(X, axis=1, keepdims=True), 1e-12
            )
            C = Xn @ Bn_b.value.T
            j = C.argmax(axis=1)  # first (= smallest bench id) on ties
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids.tolist(), type=pa.int64()),
                    pa.array(bids_b.value[j].tolist(), type=pa.int64()),
                    pa.array(C[np.arange(len(j)), j].tolist(),
                             type=pa.float64()),
                ],
                names=["id", "bench_id", "max_cos"],
            )

    out = docs.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).alias("__v"),
    ).mapInArrow(kernel, schema="id long, bench_id long, max_cos double")
    if round_dp is not None:
        out = out.withColumn("max_cos", F.round("max_cos", round_dp))
    if threshold is not None:
        out = out.filter(F.col("max_cos") >= threshold)
    return out


def minhash_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_MINHASH,
    band_size: int = BAND_SIZE,
    threshold: float | None = None,
    min_agree: int | None = None,
) -> DataFrame:
    """Cross-corpus near-dup JOIN: pairs ``(a, b)`` with ``a`` from ``left``
    and ``b`` from ``right`` sharing at least one MinHash LSH band — the
    batch operator for "dedup this new crawl against the existing training
    corpus" (the streaming twin is curation.incremental_dedup's accept
    gate, which only catches identical signatures).

    With ``threshold`` set, every candidate is re-verified with EXACT token
    Jaccard and the output gains a ``jaccard`` column — precision becomes
    exact (every emitted pair truly clears the threshold); recall stays the
    banding's.

    Plan shape for 100 TB — same duplicate-mass defense as
    :func:`minhash_candidate_pairs`: each side collapses identical
    signatures to one representative FIRST (one groupBy(sig) shuffle per
    side), the band equi-join + distinct runs at group level, and the
    quadratic member expansion happens AFTER the last shuffle, streamed out
    of codegen'd joins.  A million-template-copies-per-side corpus band-joins
    one group pair, never 10^12 id pairs; the verify joins token sets back
    by id (two hash joins on already-banded candidates).

    ``min_agree``: the same lane-agreement pre-verify cut as
    :func:`minhash_candidate_pairs` — signatures ride through the band
    join as an ``array<int>`` payload and the cut is a map-side filter on
    the collision stream, BEFORE the distinct and the member expansion.
    """
    if min_agree is not None and not 1 <= min_agree <= n_hashes:
        raise ValueError(
            f"min_agree={min_agree} must be in [1, n_hashes={n_hashes}]"
        )
    lg = _sig_groups(left, id_col, text_col, n_hashes)
    rg = _sig_groups(right, id_col, text_col, n_hashes)
    # cut at or below band_size is vacuous given a band match — skip the
    # payload machinery (same reasoning as minhash_candidate_pairs)
    if min_agree is not None and min_agree > band_size:
        ls = lg.select(
            F.col("gid").alias("id"), "sig",
            F.col("sig").cast("array<int>").alias("__s"),
        )
        rs = rg.select(
            F.col("gid").alias("id"), "sig",
            F.col("sig").cast("array<int>").alias("__s"),
        )
        lb = minhash_bands(ls, band_size, n_hashes, carry=("__s",))
        rb = minhash_bands(rs, band_size, n_hashes, carry=("__s",))
        agree = F.aggregate(
            F.zip_with(
                "__sa", "__sb",
                lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        gpairs = (
            _spread(lb).select(
                "band", "band_hash",
                F.col("id").alias("la"), F.col("__s").alias("__sa"),
            )
            .join(
                rb.select(
                    "band", "band_hash",
                    F.col("id").alias("rb"), F.col("__s").alias("__sb"),
                ),
                ["band", "band_hash"],
            )
            .filter(agree >= F.lit(min_agree))
            .select("la", "rb")
            .distinct()
        )
    else:
        lb = minhash_bands(lg.select(F.col("gid").alias("id"), "sig"), band_size, n_hashes)
        rb = minhash_bands(rg.select(F.col("gid").alias("id"), "sig"), band_size, n_hashes)
        gpairs = (
            _spread(lb).select("band", "band_hash", F.col("id").alias("la"))
            .join(rb.select("band", "band_hash", F.col("id").alias("rb")), ["band", "band_hash"])
            .select("la", "rb")
            .distinct()
        )
    lmem = lg.select(F.col("gid").alias("la"), F.explode("members").alias("a"))
    rmem = rg.select(F.col("gid").alias("rb"), F.explode("members").alias("b"))
    # distinct: a repeated id with DIFFERING texts lands in two signature
    # groups, and both group-pairs expand to the same (a, b) — the SQL twin
    # applies SELECT DISTINCT, so match it.  Cheap relative to the band
    # join: it shuffles only the true near-dup cross-pairs, a small
    # fraction of either corpus (and AQE coalesces the post-expansion
    # partitions); with unique ids per side it deduplicates nothing.
    cand = gpairs.join(lmem, "la").join(rmem, "rb").select("a", "b").distinct()
    if threshold is None:
        return cand

    lt = left.select(F.col(id_col).alias("a"), _token_set(F.col(text_col)).alias("__ta"))
    rt = right.select(F.col(id_col).alias("b"), _token_set(F.col(text_col)).alias("__tb"))
    verified = (
        cand.join(lt, "a")
        .join(rt, "b")
        .select("a", "b", _jaccard_expr(F.col("__ta"), F.col("__tb")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    return verified


def canonical_by_quality(
    df: DataFrame,
    components: DataFrame,
    quality_col_expr=None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Quality-aware canonical selection: keep the BEST-scoring document of
    each near-dup cluster instead of the min-id one — what production
    curation stacks actually do (the first-crawled copy is often the
    boilerplate-laden one).

    ``components`` is :func:`connected_components` output ``(id, comp)``;
    rows absent from it are singletons and always kept.  ``quality_col_expr``
    defaults to functions/text.quality_score over ``text_col``.  Tie-break is
    deterministic: (quality desc, id asc).  One join + one per-component
    window over the (small) clustered subset — unclustered rows never enter
    the window.
    """
    from pyspark.sql import Window

    from vectordb_watermark_spark.functions.text import quality_score

    q = (
        quality_score(F.col(text_col))
        if quality_col_expr is None
        else quality_col_expr
    )
    scored = df.select(F.col(id_col).alias("id"), (q + F.lit(0.0)).alias("__q"))
    labeled = scored.join(components, "id", "inner")
    w = Window.partitionBy("comp").orderBy(F.col("__q").desc(), F.col("id").asc())
    winners = (
        labeled.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(F.col("id").alias(id_col), F.round("__q", 6).alias("quality"),
                F.lit(False).alias("singleton"))
    )
    singles = (
        scored.join(components, "id", "left_anti")
        .select(F.col("id").alias(id_col), F.round("__q", 6).alias("quality"),
                F.lit(True).alias("singleton"))
    )
    return winners.unionByName(singles)


SPAN_NGRAM = 8  # tokens per span n-gram (Lee et al. 2022 use 50 at web scale)


def _doc_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """``(id, pos, g)`` token ``n``-grams with 1-based start position over
    lowercase whitespace tokens.  Pure Catalyst: ``transform`` over a
    ``sequence`` of start offsets + ``slice`` — no UDF, no shuffle.  Docs
    shorter than ``n`` tokens emit nothing (guarded: Spark's ``sequence``
    DESCENDS when start > stop, so the branch is required, not cosmetic).

    The token array is BOUND ONCE in a projection before the lambda:
    higher-order functions are interpreted (CodegenFallback), and any
    expression inside the lambda body re-evaluates per element — with the
    regex tokenization inline, an n-token document re-tokenized itself n
    times (O(n^2) in document length; measured 129 s -> 21 s on the
    containment A/B corpus whose planted hosts are 2 000 tokens long)."""
    base = df.select(
        F.col(id_col).alias("id"),
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    toks = F.col("__toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.struct(
                i.alias("pos"), F.concat_ws(" ", F.slice(toks, i, n)).alias("g")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,g:string>>"))
    return base.select("id", F.explode(grams).alias("s")).select(
        "id", F.col("s.pos").alias("pos"), F.col("s.g").alias("g")
    )


def duplicate_ngram_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = SPAN_NGRAM,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-duplicated token spans ``(ngram, n_docs, n_occ)``: every token
    ``n``-gram that appears in at least ``min_docs`` DISTINCT documents —
    the detection half of exact substring deduplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": duplicated
    spans are memorized verbatim by LMs; doc-level dedup misses them because
    the surrounding documents differ).

    Scale shape: explode to n-grams (map-side, no shuffle), ONE map-side-
    combined ``groupBy(gram)``.  The suffix-array machinery of the paper is
    replaced by the fixed-width-window + hash-aggregate plan, which is the
    shuffle-minimal Spark formulation of the same predicate and
    embarrassingly parallel at 100 TB (Zipf keeps the duplicated-gram table
    small relative to the corpus).
    """
    g = _doc_ngrams(_spread(df), id_col, text_col, n)
    return (
        g.groupBy("g")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select(F.col("g").alias("ngram"), "n_docs", "n_occ")
    )


def scrub_duplicate_spans(
    df: DataFrame,
    spans: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = SPAN_NGRAM,
    min_docs: int = 2,
) -> DataFrame:
    """Remove corpus-duplicated spans from every document — the removal half
    of exact substring dedup.  Returns ``(id, clean_text, n_tokens,
    n_removed)`` with EVERY input document present (``clean_text = ''``
    when the whole document was duplicated boilerplate).

    A token position is removed iff it is covered by ANY duplicated
    ``n``-gram occurrence (the union of overlapping duplicated windows — a
    duplicated run of length L >= n is removed in full).  Matching is on
    lowercase tokens; the surviving text keeps the ORIGINAL casing, with
    whitespace runs normalized to single spaces (positional alignment holds
    because lowercasing never changes whitespace).

    ``spans`` accepts a precomputed :func:`duplicate_ngram_spans` table —
    e.g. built once over the full corpus, then reused to scrub shards, the
    way a 100 TB pipeline would run it (build the span table in pass 1,
    broadcast-or-shuffle join it in pass 2).  Plan: n-gram explode + one
    equi-join on the gram + one position-union distinct + one anti-join +
    one per-doc aggregate; the rebuild sorts positions INSIDE each doc's
    collected array (``array_sort`` of (pos, tok) structs) — no window, no
    global sort.
    """
    if spans is None:
        spans = duplicate_ngram_spans(df, id_col, text_col, n, min_docs)
    dup = spans.select(F.col("ngram").alias("g"))
    g = _doc_ngrams(_spread(df), id_col, text_col, n)
    cover = (
        g.join(dup, "g")
        .select(
            "id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias("p"),
        )
        .distinct()
    )
    raw = tokens(F.col(text_col))
    tokpos = df.select(
        F.col(id_col).alias("id"), F.posexplode(raw).alias("p0", "tok")
    ).select("id", (F.col("p0") + F.lit(1)).alias("p"), "tok")
    kept = tokpos.join(cover, ["id", "p"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    base = df.select(
        F.col(id_col).alias("id"), F.size(raw).cast("long").alias("n_tokens")
    )
    return (
        base.join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).cast("long").alias(
                "n_removed"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Edit-distance fuzzy join (PassJoin segment blocking)
# ---------------------------------------------------------------------------

def _seg_len(n, i: int, k: int):
    """Length of segment ``i`` (0-based) when a length-``n`` string splits
    into ``k+1`` even segments, longer segments LAST (PassJoin's
    convention).  ``n`` is a Column."""
    base = F.floor(n / (k + 1)).cast("int")
    rem = (n % (k + 1)).cast("int")
    return (base + F.when(F.lit(i) >= (F.lit(k + 1) - rem), 1).otherwise(0)).cast("int")


def _seg_start(n, i: int, k: int):
    """0-based start of segment ``i`` under the same split (Column ``n``)."""
    base = F.floor(n / (k + 1)).cast("int")
    rem = (n % (k + 1)).cast("int")
    extra = F.greatest(F.lit(i) - (F.lit(k + 1) - rem), F.lit(0))
    return (F.lit(i) * base + extra).cast("int")


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    max_distance: int = 2,
    left_id: str = "id",
    right_id: str = "id",
    left_col: str = "s",
    right_col: str = "s",
) -> DataFrame:
    """Exact edit-distance join: every pair ``(left, right)`` with
    ``levenshtein <= max_distance`` — entity resolution / typo-tolerant
    matching without the N x M cross product.

    Blocking is the PassJoin pigeonhole (Li, Deng, Feng 2011, "PassJoin:
    a partition-based method for similarity joins"): split each RIGHT
    string into ``k+1`` segments — ``k`` edits can touch at most ``k`` of
    them, so some segment survives UNTOUCHED and appears exactly in any
    left match, shifted by at most ``k`` positions (edits before the
    segment each shift it by at most one).  The left side emits, for
    every plausible right length ``n`` in ``[len-k, len+k]``, every
    segment index and every shift in ``[-k, +k]``, the substring a
    surviving segment would have to equal — a CONSTANT
    ``(2k+1)^2 (k+1)`` keys per row (75 at k=2) independent of corpus
    size.  One equi-join on ``(n, segment, substring)`` yields a complete
    candidate set (no true pair can be missed), then one built-in
    ``levenshtein`` verify in whole-stage codegen removes false
    candidates.  Strings shorter than ``k+1`` fall back to a per-length
    bucket (their segments would be empty); they only meet lengths
    within ``k``.

    Spark-first: key generation is pure Catalyst expressions
    (array-of-struct explode, no UDF), the join shuffles keys not pairs,
    verify never sees a pair the pigeonhole did not justify.  Unicode
    note: Spark's levenshtein counts CODEPOINTS (DuckDB's counts bytes)
    — the oracle twin pins ASCII data.

    Returns ``(lid, rid, distance)``, one row per qualifying pair.
    Self-join: pass the same table twice and keep ``lid < rid``.
    """
    k = int(max_distance)
    if k < 0:
        raise ValueError(f"max_distance must be >= 0, got {k}")
    l = left.select(
        F.col(left_id).alias("lid"), F.col(left_col).cast("string").alias("ls")
    ).filter(F.col("ls").isNotNull())
    r = right.select(
        F.col(right_id).alias("rid"), F.col(right_col).cast("string").alias("rs")
    ).filter(F.col("rs").isNotNull())
    if k == 0:
        return l.join(r, l["ls"] == r["rs"]).select(
            "lid", "rid", F.lit(0).alias("distance")
        )

    rn = F.length("rs").cast("int")
    seg_structs = [
        F.struct(
            rn.alias("n"),
            F.lit(i).alias("seg"),
            F.substring(F.col("rs"), _seg_start(rn, i, k) + 1, _seg_len(rn, i, k)).alias("sub"),
        )
        for i in range(k + 1)
    ]
    rkeys = r.select(
        "rid", "rs",
        F.explode(
            F.when(rn <= k, F.array(F.struct(
                rn.alias("n"), F.lit(-1).alias("seg"), F.lit("").alias("sub")
            ))).otherwise(F.array(*seg_structs))
        ).alias("key"),
    ).select("rid", "rs", F.col("key.n").alias("n"),
             F.col("key.seg").alias("seg"), F.col("key.sub").alias("sub"))

    ln = F.length("ls").cast("int")
    structs = []
    for dn in range(-k, k + 1):
        n = (ln + dn).cast("int")
        for i in range(k + 1):
            s_len = _seg_len(n, i, k)
            s0 = _seg_start(n, i, k)
            for shift in range(-k, k + 1):
                p = (s0 + shift).cast("int")
                valid = (n > k) & (p >= 0) & (s_len > 0) & (p + s_len <= ln)
                structs.append(
                    F.when(valid, F.struct(
                        n.alias("n"), F.lit(i).alias("seg"),
                        F.substring(F.col("ls"), p + 1, s_len).alias("sub"),
                    ))
                )
    for dn in range(-k, k + 1):  # short-right fallback buckets
        n = (ln + dn).cast("int")
        structs.append(
            F.when((n <= k) & (n >= 0), F.struct(
                n.alias("n"), F.lit(-1).alias("seg"), F.lit("").alias("sub")
            ))
        )
    lkeys = l.select(
        "lid", "ls",
        F.explode(
            F.filter(F.array(*structs), lambda x: x.isNotNull())
        ).alias("key"),
    ).select("lid", "ls", F.col("key.n").alias("n"),
             F.col("key.seg").alias("seg"), F.col("key.sub").alias("sub"))

    cand = (
        lkeys.join(rkeys, ["n", "seg", "sub"])
        .select("lid", "ls", "rid", "rs")
        .distinct()
    )
    return cand.select(
        "lid", "rid", F.levenshtein("ls", "rs").alias("distance")
    ).filter(F.col("distance") <= k)


def line_frequencies(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_df: int = 2,
) -> DataFrame:
    """Corpus-repeated lines -> ``(line, df)`` with ``df`` = number of
    DISTINCT documents containing the exact line and ``df >= min_df`` —
    the boilerplate table of C4-style line-level dedup (navbars, cookie
    banners, subscribe prompts repeat verbatim across a domain; body
    prose does not).  One explode + one map-side-combined groupBy; the
    output is bounded by the repeated-line vocabulary, tiny relative to
    the corpus (Zipf again).  Precompute once and pass to
    :func:`scrub_repeated_lines` to scrub shards against CORPUS-level
    frequencies."""
    if min_df < 1:
        raise ValueError(f"min_df must be >= 1, got {min_df}")
    lines = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), F.lit(sep), -1)).alias("line"),
    ).filter(F.length("line") > 0)
    return (
        lines.groupBy("line")
        .agg(F.count_distinct("id").alias("df"))
        .filter(F.col("df") >= min_df)
    )


def scrub_repeated_lines(
    df: DataFrame,
    line_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_df: int = 2,
) -> DataFrame:
    """C4-style line-level boilerplate scrub -> ``(id_col, text_col)``
    with every line that repeats across ``min_df`` or more documents
    removed and the remaining lines re-joined in their original order
    (docs reduced to nothing keep an empty string — the row survives for
    downstream joins).

    ``line_df``: a precomputed :func:`line_frequencies` table, so shards
    scrub against corpus-level counts (the same reuse contract as
    ``scrub_duplicate_spans``); ``None`` computes it from ``df``.

    Plan shape: posexplode (line order rides along) -> broadcast-friendly
    anti-join against the bounded repeated-line table -> one
    ``groupBy(id)`` rebuilding the text via position-sorted
    ``array_join`` — two shuffles total, both keyed by doc id or line.
    """
    if line_df is None:
        line_df = line_frequencies(
            df, id_col=id_col, text_col=text_col, sep=sep, min_df=min_df
        )
    parts = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), F.lit(sep), -1)).alias(
            "pos", "line"
        ),
    )
    kept = parts.join(
        line_df.select("line"), "line", "left_anti"
    )
    rebuilt = (
        kept.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "line"))
                    ),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("__t")
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("__t"), F.lit("")).alias(text_col),
        )
    )


def rare_shingle_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 8,
    max_df: int = 5,
) -> DataFrame:
    """``(a, b)`` candidate pairs sharing at least one RARE ``shingle_k``-token
    shingle — the containment-recall candidate source MinHash banding
    structurally lacks.

    A banded-MinHash candidate collides only at Jaccard ≳ the band
    S-curve threshold, so an excerpt quoted inside a 100x longer document
    (Jaccard ~0.01, containment ~1.0) essentially never surfaces.  But the
    excerpt shares its exact token-shingle SEQUENCE with the host, and a
    shingle that is rare corpus-wide (document frequency between 2 and
    ``max_df``) pins the pair directly — the low-DF prefix-filtering idea
    from the set-similarity-join literature (PPJoin/AllPairs family),
    applied to w-shingles (Broder 1997) instead of set prefixes.

    Scale shape: distinct ``(id, shingle)`` is one shuffle; the DF tally a
    second; the final equi-join on the shingle key has fan-out bounded by
    ``max_df`` per key, so at most ``C(max_df, 2)`` pairs per shingle —
    never all-pairs, and common boilerplate shingles (DF > ``max_df``)
    are dropped before the join rather than exploding it.  Raising
    ``max_df`` trades candidate volume for recall of many-way copies.

    Tokenization is the oracle-pinned lowercase-whitespace projection
    (:func:`_doc_ngrams`), so a DuckDB twin reproduces candidates exactly.
    """
    if shingle_k < 2:
        raise ValueError("shingle_k must be >= 2 (unigrams are not shingles)")
    if max_df < 2:
        raise ValueError("max_df must be >= 2 (a DF-1 shingle pins no pair)")
    # grams is referenced by BOTH the DF tally and the key join, and rare by
    # both sides of the pair join — persist through the module's bounded LRU
    # (same ownership contract as the minhash signature groups) so one
    # action does not tokenize+explode the corpus four times.  The DF cut
    # stays a groupBy+join (NOT a window count over g): partial aggregation
    # collapses hot boilerplate shingles map-side, where a window would
    # shuffle every occurrence of a hot key to one partition.
    grams = (
        _doc_ngrams(df, id_col, text_col, shingle_k)
        .select("id", "g")
        .distinct()
        .persist()
    )
    rare = grams.join(
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("g"),
        "g",
    ).persist()
    pairs = (
        rare.select("g", F.col("id").alias("a"))
        .join(rare.select("g", F.col("id").alias("b")), "g")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return _register_caches(pairs, grams, rare)


def containment_pairs(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    auto_rows: int | None = JACCARD_AUTO_ROWS,
    total: int | None = None,
    candidates: str = "rare_shingle",
    shingle_k: int = 8,
    max_df: int = 5,
) -> DataFrame:
    """Asymmetric token-set CONTAINMENT for candidate pairs ->
    ``(a, b, cont_a_in_b, cont_b_in_a, jaccard)``, kept when EITHER
    direction reaches ``threshold``.

    ``cont(A in B) = |A ∩ B| / |A|`` — the excerpt/partial-copy measure
    Jaccard structurally misses: a paragraph quoted inside a 100x longer
    document has Jaccard ~0.01 but containment ~1.0, and in training
    data that direction (small doc swallowed by a big one) is exactly
    the duplication that leaks.  Broder's containment companion to the
    resemblance the MinHash stack estimates.

    ``pairs=None`` with the default ``candidates="rare_shingle"`` routes
    discovery through :func:`rare_shingle_candidates` — the path built
    FOR the asymmetric excerpt-in-long-doc pairs this measure exists
    for.  The default is rare_shingle (VERDICT r13 #2) because the
    operator's own A/B (CONTAINMENT_AB.json) measured the banded-MinHash
    alternative at 0/100 planted-excerpt recall with 6.5M candidates at
    sf0.1 while rare_shingle recovered 98/100 with 575 candidates,
    cheaper — a 0.01-Jaccard pair's band collision essentially never
    surfaces.  ``candidates="minhash"`` remains available for the
    Jaccard-adjacent use (near-identical doc pairs where resemblance and
    containment coincide): it applies :func:`jaccard_pairs`' candidate
    discipline — all-pairs below ``auto_rows``, banded MinHash above.
    All three scores are 6-dp rounded once, like the shared Jaccard
    expression.
    """
    if candidates not in ("minhash", "rare_shingle"):
        raise ValueError(f"unknown candidate source {candidates!r}")
    if pairs is None and candidates == "rare_shingle":
        pairs = rare_shingle_candidates(
            df, id_col, text_col, shingle_k=shingle_k, max_df=max_df
        )
    pairs = _auto_candidates(
        df, pairs, id_col, text_col, auto_rows, total, threshold=0.0,
        min_agree=None,
    )
    toks = df.select(
        F.col(id_col).alias("id"), _token_set(F.col(text_col)).alias("toks")
    )
    if pairs is None:
        a = toks.select(F.col("id").alias("a"), F.col("toks").alias("ta"))
        b = toks.select(F.col("id").alias("b"), F.col("toks").alias("tb"))
        joined = a.join(b, F.col("a") < F.col("b"))
    else:
        joined = (
            pairs.join(
                toks.withColumnRenamed("id", "a").withColumnRenamed("toks", "ta"), "a"
            )
            .join(
                toks.withColumnRenamed("id", "b").withColumnRenamed("toks", "tb"), "b"
            )
        )
    inter = F.size(F.array_intersect(F.col("ta"), F.col("tb"))).cast("double")
    ca = F.round(
        F.when(F.size("ta") > 0, inter / F.size("ta")).otherwise(F.lit(0.0)), 6
    )
    cb = F.round(
        F.when(F.size("tb") > 0, inter / F.size("tb")).otherwise(F.lit(0.0)), 6
    )
    return (
        joined.select(
            "a", "b",
            ca.alias("cont_a_in_b"),
            cb.alias("cont_b_in_a"),
            _jaccard_expr(F.col("ta"), F.col("tb")).alias("jaccard"),
        )
        .filter(
            (F.col("cont_a_in_b") >= threshold)
            | (F.col("cont_b_in_a") >= threshold)
        )
    )
