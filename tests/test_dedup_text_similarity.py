"""Contract tests for the training-data-pipeline extensions:
dedup (exact / MinHash-LSH / SimHash / Jaccard), text analysis, and
similarity search.  Exact oracle parity is covered by the driver gate
(__spark_entry__.oracle_sql, mirrored in tools/check_oracle.py); these tests
pin the *semantic* contracts: MinHash approximates Jaccard, SimHash Hamming
tracks similarity, LSH candidates achieve recall, IVF top-k recalls the
brute-force top-k.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import load
from vectordb_watermark_spark.functions import text as T
from vectordb_watermark_spark.operators import dedup as D
from vectordb_watermark_spark.operators import similarity as S


@pytest.fixture(scope="module")
def docs(spark):
    return load(spark, "documents").cache()


@pytest.fixture(scope="module")
def vectors(spark):
    return (
        load(spark, "embeddings")
        .select(F.col("vec_id").alias("id"), F.col("embedding").alias("emb"))
        .cache()
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def test_exact_dedup_with_planted_duplicates(spark, docs):
    # plant exact duplicates with fresh ids; dedup must keep the originals
    dupes = docs.limit(20).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    with_dupes = docs.unionByName(dupes)
    deduped = D.dedup_exact(with_dupes)
    assert deduped.count() == docs.count()
    # canonical = min id -> all original ids survive
    assert deduped.filter(F.col("doc_id") >= 1_000_000).count() == 0

    groups = D.exact_dup_groups(with_dupes)
    assert groups.filter(F.col("dup_count") == 2).count() == 20


# ---------------------------------------------------------------------------
# MinHash / Jaccard
# ---------------------------------------------------------------------------

def test_minhash_estimates_jaccard(spark):
    rows = []
    base = [f"tok{i}" for i in range(40)]
    rows.append((0, " ".join(base)))
    rows.append((1, " ".join(base[:30] + [f"x{i}" for i in range(10)])))  # J ~= 0.6
    rows.append((2, " ".join(f"y{i}" for i in range(40))))  # J = 0 vs doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["id"]: r["sig"] for r in D.minhash_signatures(df).collect()}
    est01 = np.mean([a == b for a, b in zip(sigs[0], sigs[1])])
    est02 = np.mean([a == b for a, b in zip(sigs[0], sigs[2])])
    true01 = 30 / 50
    assert abs(est01 - true01) < 0.35  # 16 hashes -> coarse but centered
    assert est02 == 0.0


def test_minhash_lsh_recall_on_neardups(spark):
    # identical docs must always collide in every band
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(5)]
    rows += [(10 + i, f"unrelated{i} " + " ".join(f"w{i}{j}" for j in range(6))) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["a"], r["b"]) for r in D.minhash_candidate_pairs(df).collect()}
    for i in range(5):
        for j in range(i + 1, 5):
            assert (i, j) in pairs


def test_minhash_band_plan_s_curve_selector():
    """Planner picks the MMDS S-curve optimum: the chosen geometry's steepest
    point tracks the target threshold, spends the full lane budget when a
    sharper curve is free, and responds to the fp/fn weighting."""
    lo = D.minhash_band_plan(0.3)
    mid = D.minhash_band_plan(0.5)
    hi = D.minhash_band_plan(0.8)
    for plan, t in ((lo, 0.3), (mid, 0.5), (hi, 0.8)):
        assert plan["bands"] * plan["band_size"] == plan["n_hashes"] <= D.N_MINHASH
        assert abs(plan["s_threshold"] - t) < 0.25, (plan, t)
    # lower threshold -> steeper point moves down -> more, shorter bands
    assert lo["s_threshold"] < mid["s_threshold"] < hi["s_threshold"]
    # weighting: candidate-volume-averse plan pushes the curve RIGHT
    vol = D.minhash_band_plan(0.5, fp_weight=0.9, fn_weight=0.1)
    rec = D.minhash_band_plan(0.5, fp_weight=0.1, fn_weight=0.9)
    assert vol["s_threshold"] >= rec["s_threshold"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        D.minhash_band_plan(0.0)
    with _pytest.raises(ValueError):
        D.minhash_band_plan(0.5, n_hashes=99)


def test_minhash_min_agree_binomial_tail():
    """min_agree is the strongest cut whose false-negative rate at the
    threshold stays within fn_tol (exact Binomial(n, t) upper tail)."""
    from math import comb

    m = D.minhash_min_agree(0.5, 16, fn_tol=0.05)

    def tail(mm, t=0.5, n=16):
        return sum(comb(n, k) * t**k * (1 - t) ** (n - k) for k in range(mm, n + 1))

    assert tail(m) >= 0.95 and (m == 16 or tail(m + 1) < 0.95)
    # a high threshold admits a high cut; a low one degrades gracefully to 1
    assert D.minhash_min_agree(0.9, 16) > m >= D.minhash_min_agree(0.1, 16) == 1

    # the BANDED selector (conditional on a band match): at t=0.5 it lands
    # exactly on the 1M-measured recall-neutral cut; at t=0.9 it backs off
    # from the naive ceil(t*n)=15 whose conditional FN rate is ~34%
    assert D.minhash_min_agree_banded(0.5) == 8
    m9 = D.minhash_min_agree_banded(0.9)
    assert m9 < 15

    def cond_tail(mm, t, n=16, r=4):
        need = max(mm - r, 0)
        return sum(
            comb(n - r, k) * t**k * (1 - t) ** (n - r - k)
            for k in range(need, n - r + 1)
        )

    assert cond_tail(m9, 0.9) >= 0.9 and cond_tail(m9 + 1, 0.9) < 0.9


def test_minhash_candidate_pairs_min_agree_filter(spark):
    """min_agree cuts exactly the banded pairs whose signature agreement is
    below the bar (pinned against a brute-force lane comparison), keeps
    full-agreement dup groups, and validates its range."""
    import pytest as _pytest

    rows = []
    base = [f"tok{i}" for i in range(40)]
    rows.append((0, " ".join(base)))
    rows.append((1, " ".join(base)))                                   # exact dup of 0
    rows.append((2, " ".join(base[:36] + [f"x{i}" for i in range(4)])))  # J~0.8 vs 0
    rows.append((3, " ".join(base[:20] + [f"y{i}" for i in range(20)])))  # J~0.33 vs 0
    rows.append((4, " ".join(f"z{i}" for i in range(40))))             # unrelated
    df = spark.createDataFrame(rows, "doc_id long, text string")

    all_pairs = {(r["a"], r["b"]) for r in D.minhash_candidate_pairs(df).collect()}
    sigs = {r["id"]: r["sig"] for r in D.minhash_signatures(df).collect()}

    for m in (2, 8, 12):
        got = {
            (r["a"], r["b"])
            for r in D.minhash_candidate_pairs(df, min_agree=m).collect()
        }
        expect = {
            (a, b)
            for (a, b) in all_pairs
            if sum(x == y for x, y in zip(sigs[a], sigs[b])) >= m
        }
        assert got == expect, f"min_agree={m}"
    # the exact-dup pair survives the strictest cut (identical signatures)
    strict = {
        (r["a"], r["b"])
        for r in D.minhash_candidate_pairs(df, min_agree=16).collect()
    }
    assert (0, 1) in strict

    with _pytest.raises(ValueError, match="min_agree"):
        D.minhash_candidate_pairs(df, min_agree=17)
    with _pytest.raises(ValueError, match="min_agree"):
        D.minhash_candidate_pairs(df, min_agree=0)


def test_minhash_join_min_agree_filter(spark):
    """Cross-corpus twin of the lane-agreement cut: banded join pairs whose
    signature agreement clears the bar, pinned against brute force."""
    base = [f"tok{i}" for i in range(40)]
    lrows = [(0, " ".join(base)), (1, " ".join(f"l{i}" for i in range(40)))]
    rrows = [
        (100, " ".join(base)),                                    # exact vs 0
        (101, " ".join(base[:36] + [f"r{i}" for i in range(4)])),  # J~0.8 vs 0
        (102, " ".join(base[:20] + [f"q{i}" for i in range(20)])),  # J~0.33
    ]
    left = spark.createDataFrame(lrows, "doc_id long, text string")
    right = spark.createDataFrame(rrows, "doc_id long, text string")

    allp = {(r["a"], r["b"]) for r in D.minhash_join(left, right).collect()}
    sigs = {
        r["id"]: r["sig"]
        for r in D.minhash_signatures(
            left.unionByName(right)
        ).collect()
    }
    for m in (2, 8, 16):
        got = {
            (r["a"], r["b"])
            for r in D.minhash_join(left, right, min_agree=m).collect()
        }
        expect = {
            (a, b)
            for (a, b) in allp
            if sum(x == y for x, y in zip(sigs[a], sigs[b])) >= m
        }
        assert got == expect, f"min_agree={m}"
    assert (0, 100) in {
        (r["a"], r["b"])
        for r in D.minhash_join(left, right, min_agree=16).collect()
    }


def test_sig_group_caches_bounded_registry(spark):
    """minhash_candidate_pairs / minhash_join hold their signature-group
    tables as registry-owned checkpointed handles (r15): storage never
    exceeds SIG_CACHE_CAPACITY tables plus blocks still referenced by live
    results (the pre-r5 behavior leaked one ~corpus-sized table per call,
    VERDICT r4), the table survives the chained pattern where the
    intermediate Python handle is GC'd before the action runs (the r5
    GC-scoped design released it too early, ADVICE r5), a repeated call on
    the same input reuses the materialized handle instead of recomputing,
    and release_signature_caches() + handle death frees the blocks."""
    import gc
    import time

    rows = [(i, f"shared template text {i % 3}") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    other = spark.createDataFrame(rows[:6], "doc_id long, text string")

    D.release_signature_caches()
    gc.collect()

    def rdd_ids() -> set:
        # persistent-RDD ids; leftovers from OTHER tests live in a
        # weak-value map and can vanish at any GC, so assertions below
        # track only the ids NEWLY introduced by this test
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {k for k in m.keySet().toArray()}

    before = rdd_ids()

    # chained pattern: the intermediate result handle is refcount-dropped
    # the moment .filter() returns — the group table must STAY alive for
    # the action and afterwards (registry-owned, not GC-owned)
    n = D.minhash_candidate_pairs(df).filter(F.col("a") >= 0).count()
    gc.collect()
    assert n > 0
    assert len(rdd_ids() - before) == 1

    # repeated call on the same input: plan-keyed registry hit — the SAME
    # materialized handle, no second copy, no recompute
    g1 = D._sig_groups(df, "doc_id", "text", D.N_MINHASH)
    g2 = D._sig_groups(df, "doc_id", "text", D.N_MINHASH)
    assert g1 is g2
    D.minhash_candidate_pairs(df).count()
    assert len(rdd_ids() - before) == 1

    # minhash_join needs both side tables live at once; the df side is a
    # registry hit, the other side adds one — bounded at capacity 2
    joined = D.minhash_join(df, other, threshold=0.5)
    joined.count()
    mine = rdd_ids() - before
    assert len(mine) == 2

    # drain: the registry empties immediately; outstanding results keep
    # working (their checkpointed blocks stay alive precisely until no
    # result references them — an eager unpersist would strand `joined`,
    # since a localCheckpoint cannot recompute)
    D.release_signature_caches()
    assert len(D._SIG_CACHES) == 0
    assert joined.count() > 0

    # once every handle dies, the ContextCleaner frees the blocks — poll,
    # it is asynchronous (reference-queue driven)
    del joined, g1, g2
    gc.collect()
    deadline = time.time() + 120
    while time.time() < deadline:
        # the weak-value RDD registry only flushes after a REAL collection —
        # an idle JVM ignores the System.gc hint, so generate allocation
        # pressure the way a live pipeline would (measured: one such job
        # suffices, zero release without it)
        spark.range(0, 20_000_000, 1, 4).selectExpr(
            "cast(id as string) s"
        ).selectExpr("length(s) l").groupBy().sum().collect()
        spark._jvm.System.gc()
        if not (rdd_ids() & mine):
            break
        time.sleep(0.5)
    assert not (rdd_ids() & mine), (
        "checkpointed group blocks not released after drain + handle death"
    )


def test_sig_cache_key_digest_and_thread_safety(spark, monkeypatch):
    """Cache-registry hardening (ADVICE r6): the registry key carries a
    sha256 digest of the CANONICALIZED plan alongside the 32-bit
    semanticHash, so two distinct plans cannot silently alias one registry
    slot via a hash collision, while semantically-equal plans (re-created
    handles over the same input) still share one key — the deliberate
    plan-keyed reuse.  Registry mutations are lock-guarded for
    multi-threaded drivers."""
    import threading

    rows = [(i, f"text {i}") for i in range(6)]
    df_a = spark.createDataFrame(rows, "doc_id long, text string")

    k1 = D._plan_cache_key(df_a.select("doc_id"))
    k2 = D._plan_cache_key(df_a.select("doc_id"))  # same plan, new handle
    k3 = D._plan_cache_key(df_a.select("text"))    # distinct plan
    assert k1 == k2, "semantically-equal plans must share one key"
    assert k1 != k3 and k1[2] != k3[2], "distinct plans must differ in digest"
    assert len(k1) == 3 and len(k1[2]) == 64  # sha256 hex digest present

    # concurrent register/release over lightweight fakes: they have no plan
    # (an unreadable plan never enters the registry), so key them by
    # identity here; the OrderedDict must stay consistent and bounded
    class _Fake:
        def unpersist(self):
            pass

    monkeypatch.setattr(D, "_plan_cache_key", lambda g: ("fake", id(g), ""))

    D.release_signature_caches()
    errors = []

    def hammer():
        try:
            for _ in range(200):
                D._register_caches(None, _Fake())
                D.release_signature_caches()
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    threads = [threading.Thread(target=hammer) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    D.release_signature_caches()
    assert len(D._SIG_CACHES) == 0


def test_sig_groups_unreadable_plan_never_registered(spark, monkeypatch):
    """When the plan cannot be read the signature groups are computed but
    never registered or served: two different corpora in sequence each get
    their own groups, which an object-identity key could have mixed up
    once Python recycled the first frame's id."""
    import types

    def unreadable(_):
        raise RuntimeError("plan unavailable")

    D.release_signature_caches()
    monkeypatch.setattr(D, "hashlib", types.SimpleNamespace(sha256=unreadable))
    assert D._plan_cache_key(spark.range(1)) is None
    for texts in (["a b c d e", "a b c d e", "x y z w v"], ["p q r s t", "k l m n o"]):
        df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
        groups = D._sig_groups(df, "doc_id", "text", D.N_MINHASH)
        got = sorted(sorted(r["members"]) for r in groups.collect())
        want = sorted(
            sorted(r["members"])
            for r in D.minhash_signatures(df).groupBy("sig")
            .agg(F.collect_set("id").alias("members")).collect()
        )
        assert got == want
        assert len(D._SIG_CACHES) == 0


def test_minhash_pairs_repeated_id_distinct_groups_not_conflated(spark):
    """gid uniqueness (ADVICE r5): a repeated id with DIFFERING texts that is
    the minimum member of BOTH its signature groups must not conflate the two
    groups' member lists — gid = min(id) alone did, emitting duplicate
    within-group pairs and spurious cross-group pairs between unrelated
    documents."""
    rows = [
        (1, "alpha beta gamma delta"),      # group A, min id 1
        (2, "alpha beta gamma delta"),
        (3, "alpha beta gamma delta"),
        (1, "zulu yankee xray whiskey"),    # same id, different text: group B
        (4, "zulu yankee xray whiskey"),
        (5, "zulu yankee xray whiskey"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.minhash_candidate_pairs(df).collect()
    pairs = [(r["a"], r["b"]) for r in out]
    # no duplicates (conflated member lists emitted e.g. (2,3) twice) ...
    assert len(pairs) == len(set(pairs))
    # ... within-group pairs all present, and no spurious cross-group pair
    # between unrelated documents (2,3 vs 4,5 share no tokens, so any such
    # pair could only come from gid conflation, not from band matching)
    got = set(pairs)
    assert {(1, 2), (1, 3), (2, 3), (1, 4), (1, 5), (4, 5)} <= got
    assert not ({(2, 4), (2, 5), (3, 4), (3, 5)} & got)


def test_minhash_join_distinct_under_duplicate_ids(spark):
    """A repeated id with differing texts lands in two signature groups;
    both group-pairs expand to the same (a, b).  The SQL twin applies
    SELECT DISTINCT, so the operator must too (ADVICE r4)."""
    left = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (1, "alpha beta gamma delta epsilon zeta eta")],  # same id, diff text
        "doc_id long, text string",
    )
    right = spark.createDataFrame(
        [(9, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    out = D.minhash_join(left, right).collect()
    assert [(r["a"], r["b"]) for r in out] == [(1, 9)]


def test_ngram_jaccard_pairs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # identical -> J = 1
        (2, "fox the over jumps quick lazy brown dog the"),  # same words, reordered
        (3, "zzzz completely unrelated charactersequence qqqq"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["a"], r["b"]): r["jaccard"] for r in D.ngram_jaccard_pairs(df, threshold=0.0).collect()}
    assert got[(0, 1)] == 1.0
    # reordering keeps most interior shingles but breaks word-boundary ones
    assert 0.2 < got[(0, 2)] < 1.0
    assert got[(0, 3)] < 0.05
    # candidate-pair path matches the all-pairs path
    cand = spark.createDataFrame([(0, 2)], "a long, b long")
    via = D.ngram_jaccard_pairs(df, pairs=cand, threshold=0.0).collect()
    assert len(via) == 1 and via[0]["jaccard"] == got[(0, 2)]


def test_connected_components(spark):
    # two chains and a singleton pair: {1-2-3}, {10-11}, {20-21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (21, 20)], "a long, b long"
    )
    got = {r["id"]: r["comp"] for r in D.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir option (VERDICT r6 task #4): reliable checkpoint()
    into a durable directory instead of executor-local localCheckpoint —
    identical labels, and the checkpoint files actually land in the dir
    (so a multi-round propagation at 100 TB survives executor death)."""
    import os

    # a longer chain forces several propagation rounds through _cut
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)] + [(20, 21)], "a long, b long"
    )
    base = {r["id"]: r["comp"] for r in D.connected_components(pairs).collect()}

    ckdir = str(tmp_path / "cc_ck")
    got = {
        r["id"]: r["comp"]
        for r in D.connected_components(pairs, checkpoint_dir=ckdir).collect()
    }
    assert got == base == {**{i: 1 for i in range(1, 10)}, 20: 20, 21: 20}
    # reliable checkpoints are real files under the requested directory
    found = [f for _, _, fs in os.walk(ckdir) for f in fs]
    assert found, "no checkpoint files written to checkpoint_dir"


def test_jaccard_pairs_values(spark):
    df = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b c e"), (2, "x y z w")], "doc_id long, text string"
    )
    got = {(r["a"], r["b"]): r["jaccard"] for r in D.jaccard_pairs(df, threshold=0.0).collect()}
    assert got[(0, 1)] == 0.6  # |{a,b,c}| / |{a,b,c,d,e}|
    assert got[(0, 2)] == 0.0
    # verify stage on explicit candidate pairs matches the all-pairs path
    cand = spark.createDataFrame([(0, 1)], "a long, b long")
    via_cand = D.jaccard_pairs(df, pairs=cand, threshold=0.0).collect()
    assert len(via_cand) == 1 and via_cand[0]["jaccard"] == 0.6


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def test_simhash_identical_docs_equal_and_near_pairs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "completely different words entirely unrelated content here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["id"]: r["simhash"] for r in D.simhash(df).collect()}
    assert sigs[0] == sigs[1]
    ham02 = bin(sigs[0] ^ sigs[2]).count("1")
    assert ham02 > 5  # unrelated docs differ substantially

    near = D.simhash_near_pairs(D.simhash(df), max_hamming=3)
    got = {(r["a"], r["b"]): r["hamming"] for r in near.collect()}
    assert got.get((0, 1)) == 0
    assert (0, 2) not in got


def test_simhash_banding_is_lossless_within_budget(spark, docs):
    """Pigeonhole banding must find ALL pairs within the Hamming budget
    (it is exact, not probabilistic)."""
    sigs = D.simhash(docs.limit(60)).cache()
    rows = sigs.collect()
    budget = 6
    expected = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = rows[i], rows[j]
            if bin(a["simhash"] ^ b["simhash"]).count("1") <= budget:
                key = (min(a["id"], b["id"]), max(a["id"], b["id"]))
                expected.add(key)
    got = {
        (r["a"], r["b"]) for r in D.simhash_near_pairs(sigs, max_hamming=budget).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def test_token_and_punct_counts(spark):
    df = spark.createDataFrame([(0, "Hello, world! This is   a test.")], "id long, text string")
    row = df.select(
        T.token_count(F.col("text")).alias("nt"),
        T.punct_count(F.col("text")).alias("np"),
        T.stopword_count(F.col("text")).alias("ns"),
    ).first()
    assert row["nt"] == 6
    assert row["np"] == 3  # comma, bang, period
    assert row["ns"] == 2  # 'is', 'a'


def test_quality_score_monotone_in_length(spark):
    df = spark.createDataFrame(
        [(0, "short text"), (1, "the " * 300)], "id long, text string"
    )
    rows = {r["id"]: r["q"] for r in df.select("id", T.quality_score(F.col("text")).alias("q")).collect()}
    assert 0.0 <= rows[0] <= 1.0 and 0.0 <= rows[1] <= 1.0
    assert rows[1] > rows[0]


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat sat of the mat and it is that"),
            (1, "le chat est un animal et la maison est une"),
            (2, "der hund ist ein tier und das haus ist nicht"),
            (3, "zzz qqq www"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["l"] for r in df.select("id", T.lang_id(F.col("text")).alias("l")).collect()}
    assert got[0] == "en"
    assert got[1] == "fr"
    assert got[2] == "de"
    assert got[3] == "und"


def test_fingerprint_deterministic_and_shift_sensitive(spark, docs):
    a = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp")).collect()}
    b = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp")).collect()}
    assert a == b
    # identical text -> identical fingerprint
    df = spark.createDataFrame([(0, "abcdefghij klmno"), (1, "abcdefghij klmno")], "doc_id long, text string")
    f = [r["fp"] for r in df.select(T.fingerprint(F.col("text")).alias("fp")).collect()]
    assert f[0] == f[1]


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def test_topk_cosine_matches_numpy(spark, vectors):
    rows = vectors.collect()
    mat = np.stack([np.asarray(r["emb"], dtype=np.float64) for r in rows])
    ids = np.array([r["id"] for r in rows])
    q = mat[ids.tolist().index(0)]
    cos = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q) + 1e-12)
    mask = ids != 0
    order = sorted(zip(np.round(-cos[mask], 6), ids[mask]))
    expected = [int(i) for _, i in order[:10]]
    got = [r["id"] for r in S.topk_cosine(vectors.filter(F.col("id") != 0),
                                          [float(x) for x in q], k=10).collect()]
    assert got == expected


def test_ivf_topk_recall(spark, vectors):
    rows = vectors.collect()
    q = [float(x) for x in rows[0]["emb"]]
    qid = rows[0]["id"]
    brute = {r["id"] for r in S.topk_cosine(vectors.filter(F.col("id") != qid), q, k=10).collect()}
    approx = {r["id"] for r in S.ivf_topk_cosine(
        vectors.filter(F.col("id") != qid), q, k=10, n_centroids=8, n_probe=4
    ).collect()}
    # probing half the centroids must recover most of the true top-10
    assert len(brute & approx) >= 5


def test_lsh_topk_recall(spark, vectors):
    rows = vectors.collect()
    q = [float(x) for x in rows[0]["emb"]]
    qid = rows[0]["id"]
    brute = {r["id"] for r in S.topk_cosine(vectors.filter(F.col("id") != qid), q, k=10).collect()}
    approx = {r["id"] for r in S.lsh_topk_cosine(
        vectors.filter(F.col("id") != qid), q, k=10, n_tables=12, n_bits=4
    ).collect()}
    assert len(brute & approx) >= 5


def test_gemm_neardup_matches_expr_path(spark, vectors):
    sub = vectors.limit(100)
    a = {(r["a"], r["b"]): r["cos"] for r in
         S.cosine_neardup_pairs(sub, threshold=0.3, method="gemm").collect()}
    b = {(r["a"], r["b"]): r["cos"] for r in
         S.cosine_neardup_pairs(sub, threshold=0.3, method="expr").collect()}
    assert set(a) == set(b)
    for k in a:
        assert abs(a[k] - b[k]) < 1e-9


def test_kmv_sketch_exact_below_k_and_accurate_above(spark):
    """KMV distinct sketch: exact when distinct < k; within the
    ~1/sqrt(k) relative-error contract when estimating; deterministic
    under repartitioning."""
    from vectordb_watermark_spark.operators.sketch import kmv_distinct

    small = spark.range(100).selectExpr("CAST(id % 37 AS STRING) AS v")
    r = kmv_distinct(small, "v", k=256).first()
    assert r["estimate"] == 37 and r["kth_hash"] is None

    big = spark.range(20000).selectExpr("CAST(id AS STRING) AS v")
    for parts in (1, 13):
        r = kmv_distinct(big.repartition(parts), "v", k=256).first()
        # 4x the 1/sqrt(256)=6.25% standard error
        assert abs(r["estimate"] - 20000) / 20000 < 0.25
        assert r["exact_k"] == 256


def test_heavy_hitters_exact_and_partition_invariant(spark):
    """Guaranteed heavy hitters: EXACT counts equal to the brute-force
    groupBy answer, identical under any partitioning (the Misra-Gries
    stage only generates a candidate SUPERSET; the verify pass is exact),
    sub-threshold items absent, nulls ignored, phi validated."""
    import pytest as _pytest

    from vectordb_watermark_spark.operators.sketch import heavy_hitters

    # zipf-ish skew: item k appears ~N/(k+1) times over a long tail
    rows = []
    for k in range(200):
        rows += [(f"item{k}",)] * (2000 // (k + 1))
    rows += [(None,)] * 50
    df = spark.createDataFrame(rows, "v string")
    n = len(rows)

    exact = {
        (r["v"], r["cnt"])
        for r in df.filter(F.col("v").isNotNull())
        .groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 0.01 * n)
        .collect()
    }
    assert exact  # the fixture must actually have heavy hitters
    for parts in (1, 7, 32):
        got = {
            (r["item"], r["cnt"])
            for r in heavy_hitters(df.repartition(parts), "v", phi=0.01).collect()
        }
        assert got == exact, f"parts={parts}"

    with _pytest.raises(ValueError, match="phi"):
        heavy_hitters(df, "v", phi=0.0)
    with _pytest.raises(ValueError, match="phi"):
        heavy_hitters(df, "v", phi=1.5)


# ---------------------------------------------------------------------------
# auto-dispatch: the near-dup verifiers must never go all-pairs at scale
# ---------------------------------------------------------------------------

def test_cosine_neardup_auto_routes_lsh_at_scale(spark):
    """method='auto' above auto_rows must use LSH candidates (no
    nested-loop all-pairs in the plan) and still recall planted near-dups."""
    n, planted = 100_000, 100
    base = spark.range(n).select(
        F.col("id"),
        F.array(*[F.sin(F.col("id") * (j + 1) + j) for j in range(16)])
        .cast("array<float>")
        .alias("emb"),
    )
    # ids n..n+99 duplicate ids 0..99 with a tiny first-coordinate nudge
    dups = (
        base.filter(F.col("id") < planted)
        .select(
            (F.col("id") + n).alias("id"),
            F.concat(
                F.array((F.col("emb")[0] + F.lit(0.001)).cast("float")),
                F.slice("emb", 2, 15),
            ).alias("emb"),
        )
    )
    df = base.unionByName(dups)
    out = S.cosine_neardup_pairs(df, threshold=0.99, method="auto")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan, "auto at scale must not be all-pairs"
    got = {(r["a"], r["b"]) for r in out.collect()}
    hit = sum((i, n + i) in got for i in range(planted))
    assert hit / planted >= 0.9, f"planted near-dup recall {hit}/{planted}"
    # small N keeps the exact path: identical results to explicit gemm
    small = df.filter((F.col("id") < 500) | (F.col("id") >= n))
    auto_small = {
        tuple(r) for r in S.cosine_neardup_pairs(small, threshold=0.99, method="auto").collect()
    }
    gemm_small = {
        tuple(r) for r in S.cosine_neardup_pairs(small, threshold=0.99, method="gemm").collect()
    }
    assert auto_small == gemm_small


def test_jaccard_auto_routes_minhash_candidates_at_scale(spark):
    """pairs=None above auto_rows must default to MinHash-LSH candidates
    (no nested-loop all-pairs) and still recall planted near-dup docs."""
    n, planted = 100_000, 100
    words = [F.concat(F.lit(f"w{j}_"), (F.col("id") % (83 + j)).cast("string")) for j in range(12)]
    base = spark.range(n).select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", *words).alias("text")
    )
    # near-dup: same 12 tokens minus the last, plus one fresh token (J ~ 11/13)
    dup_words = words[:-1] + [F.concat(F.lit("zz_"), F.col("id").cast("string"))]
    dups = (
        spark.range(planted)
        .select((F.col("id") + n).alias("doc_id"), F.concat_ws(" ", *dup_words).alias("text"))
    )
    df = base.unionByName(dups)
    out = D.jaccard_pairs(df, threshold=0.6)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan, "auto at scale must not be all-pairs"
    got = {(r["a"], r["b"]) for r in out.collect()}
    hit = sum((i, n + i) in got for i in range(planted))
    assert hit / planted >= 0.9, f"planted near-dup recall {hit}/{planted}"


def test_jaccard_auto_min_agree_knob(spark):
    """ADVICE r9: the auto path's lane-agreement cut must be tunable from
    jaccard_pairs itself — min_agree=None disables it (result equals the
    explicit uncut candidate set), an int pins it, 'auto' is the default
    banded selector.  Run above auto_rows via a tiny auto_rows override."""
    rows = []
    for i in range(40):
        toks = " ".join(f"t{i}_{j}" for j in range(10))
        rows.append((2 * i, toks))
        # near-dup partner: 8 of 10 tokens shared (J = 8/12 ~ 0.667)
        rows.append((2 * i + 1, " ".join(
            [f"t{i}_{j}" for j in range(8)] + [f"x{i}_a", f"x{i}_b"]
        )))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncut_cand = D.minhash_candidate_pairs(df)
    want = {
        (r["a"], r["b"], r["jaccard"])
        for r in D.jaccard_pairs(df, pairs=uncut_cand, threshold=0.5).collect()
    }
    assert want  # planted pairs survive the exact verify

    # min_agree=None on the auto path == explicit uncut candidates
    got_none = {
        (r["a"], r["b"], r["jaccard"])
        for r in D.jaccard_pairs(
            df, threshold=0.5, auto_rows=10, min_agree=None
        ).collect()
    }
    assert got_none == want

    # default 'auto' applies the banded selector: still a subset of the
    # uncut result (precision is exact either way), and on this planted
    # corpus the t=0.5 cut keeps everything
    got_auto = {
        (r["a"], r["b"], r["jaccard"])
        for r in D.jaccard_pairs(df, threshold=0.5, auto_rows=10).collect()
    }
    assert got_auto <= want and got_auto == want

    # an explicit max cut keeps only identical-signature pairs — none here
    got_max = D.jaccard_pairs(
        df, threshold=0.5, auto_rows=10, min_agree=D.N_MINHASH
    ).collect()
    assert {(r["a"], r["b"]) for r in got_max} < {(a, b) for a, b, _ in want}

    # invalid pins fail loud (validated where the cut applies)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_agree"):
        D.jaccard_pairs(df, threshold=0.5, auto_rows=10, min_agree=99).collect()


# ---------------------------------------------------------------------------
# quality-filter rules, PII redaction, decontamination
# ---------------------------------------------------------------------------

def test_repetition_rules_semantics(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),              # one repeated token/bigram
            (2, "all tokens here are unique ones"),  # no repetition
            (3, "x"),                                # single token edge case
            (4, "ab ab cd ab ab"),                   # top bigram 'ab ab' x2 of 4
        ],
        "doc_id int, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            T.dup_token_fraction(F.col("text")).alias("dup"),
            T.top_bigram_fraction(F.col("text")).alias("big"),
            T.mean_token_len(F.col("text")).alias("mlen"),
        ).collect()
    }
    assert rows[1]["dup"] == 0.75 and rows[1]["big"] == 1.0
    assert rows[2]["dup"] == 0.0 and rows[2]["big"] < 0.25
    assert rows[3]["dup"] == 0.0 and rows[3]["big"] == 0.0 and rows[3]["mlen"] == 1.0
    assert rows[4]["big"] == 0.5  # 'ab ab' twice among 4 bigrams
    assert rows[1]["mlen"] == 4.0


def test_pii_redaction_semantics(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex-site.org or b@x.io, call +1 555-0100 or (415) 555 2671 now")],
        "doc_id int, text string",
    )
    n_email, n_phone = T.pii_counts(F.col("text"))
    r = df.select(
        n_email.alias("e"), n_phone.alias("p"), T.redact_pii(F.col("text")).alias("red")
    ).first()
    assert r["e"] == 2 and r["p"] == 2
    assert "@" not in r["red"] and "555" not in r["red"]
    assert r["red"].count("<EMAIL>") == 2 and r["red"].count("<PHONE>") == 2


def test_benchmark_overlap_flags_planted_contamination(spark):
    """A doc sharing a long span with a benchmark doc must be flagged; an
    unrelated doc must not."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id int, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "prefix text then the quick brown fox jumps over the lazy dog tonight suffix"),
            (2, "completely different words about spark shuffles and parquet footers"),
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r["n_overlap"] for r in D.benchmark_overlap(docs, bench, min_overlap=5).collect()}
    assert 1 in got and got[1] >= 5
    assert 2 not in got


def test_bloom_benchmark_overlap_equals_exact(spark, docs):
    """The Bloom pre-probe is a pure pre-filter: result == benchmark_overlap
    row for row, at the default parameters AND at adversarially small ones
    (bits_per_element=1, n_hashes=1 -> FPR near saturation) — false
    positives must die in the exact verify join, false negatives are
    impossible by construction (build and probe share one position
    expression)."""
    bench = docs.filter(F.col("doc_id") < 20)
    corpus = docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 220))
    want = {
        (r["doc_id"], r["n_overlap"])
        for r in D.benchmark_overlap(corpus, bench, min_overlap=5).collect()
    }
    assert want  # the corpus genuinely overlaps the held-out "benchmark"
    got = {
        (r["doc_id"], r["n_overlap"])
        for r in D.bloom_benchmark_overlap(corpus, bench, min_overlap=5).collect()
    }
    assert got == want
    # saturated filter: nearly every probe is a Bloom hit, the verify join
    # still reduces to the exact answer
    got_sat = {
        (r["doc_id"], r["n_overlap"])
        for r in D.bloom_benchmark_overlap(
            corpus, bench, min_overlap=5, bits_per_element=1, n_hashes=1
        ).collect()
    }
    assert got_sat == want
    # partition invariance
    got_rep = {
        (r["doc_id"], r["n_overlap"])
        for r in D.bloom_benchmark_overlap(
            corpus.repartition(7), bench.repartition(3), min_overlap=5
        ).collect()
    }
    assert got_rep == want


def test_bloom_benchmark_overlap_planted_and_guards(spark):
    """Planted-contamination contract (the zero-FN property observable at
    the operator level): a doc sharing a long span with a benchmark doc is
    flagged with the same count as the exact operator; an unrelated doc is
    not flagged; invalid parameters raise."""
    import pytest

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id int, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix text then the quick brown fox jumps over the lazy dog tonight suffix"),
            (2, "completely different words about spark shuffles and parquet footers"),
        ],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: r["n_overlap"]
        for r in D.bloom_benchmark_overlap(corpus, bench, min_overlap=5).collect()
    }
    exact = {
        r["doc_id"]: r["n_overlap"]
        for r in D.benchmark_overlap(corpus, bench, min_overlap=5).collect()
    }
    assert got == exact and 1 in got and 2 not in got
    with pytest.raises(ValueError):
        D.bloom_benchmark_overlap(corpus, bench, bits_per_element=0)
    with pytest.raises(ValueError):
        D.bloom_benchmark_overlap(corpus, bench, n_hashes=0)


def test_pack_sequences_budget_and_determinism(spark, docs):
    """Packing contract: every pack's total is < budget + max_doc_tokens,
    pack ids are stable under repartitioning, and oversized docs still get
    exactly one pack containing their first token."""
    from vectordb_watermark_spark.operators.packing import pack_sequences, pack_stats

    budget = 256
    packed = pack_sequences(docs, token_budget=budget, n_groups=8)
    max_doc = packed.agg(F.max("n_tokens")).first()[0]
    stats = pack_stats(packed, budget)
    over = stats.filter(F.col("total_tokens") >= budget + max_doc).count()
    assert over == 0
    # near-full packs exist (packing actually packs; docs ~40-70 tokens)
    assert stats.filter(F.col("total_tokens") >= budget - max_doc).count() > 0
    a = sorted(tuple(r) for r in packed.collect())
    b = sorted(
        tuple(r)
        for r in pack_sequences(docs.repartition(13), token_budget=budget, n_groups=8).collect()
    )
    assert a == b, "pack ids must not depend on partitioning"


def test_corpus_logfreq_score_separates_common_from_rare(spark):
    """Documents of corpus-common tokens must outscore documents of unique
    tokens; the vocabulary can be precomputed and reused."""
    from vectordb_watermark_spark.operators.quality import (
        corpus_logfreq_score,
        token_frequencies,
    )

    rows = [(i, "the cat sat on the mat") for i in range(20)]
    rows.append((100, "zxqv9 qq7pl mnb42 wqo01 kkd88 aa3zz"))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r["logfreq_score"] for r in corpus_logfreq_score(df).collect()}
    assert got[0] > 1.0          # 'the' appears 40x, others 20x
    assert got[100] == 0.0       # singleton tokens -> log10(1)
    vocab = token_frequencies(df).cache()
    got2 = {r["doc_id"]: r["logfreq_score"]
            for r in corpus_logfreq_score(df, vocab=vocab).collect()}
    assert got == got2


def test_cap_per_source_bounds_and_determinism(spark, docs):
    from vectordb_watermark_spark.operators.quality import cap_per_source, source_mix

    capped = cap_per_source(docs, max_per_source=10)
    per = {r["source"]: r["count"] for r in capped.groupBy("source").count().collect()}
    assert per and all(v <= 10 for v in per.values())
    a = sorted(r["doc_id"] for r in capped.collect())
    b = sorted(r["doc_id"] for r in cap_per_source(docs.repartition(11), 10).collect())
    assert a == b, "per-source reservoir must be partitioning-independent"
    mix = {r["source"]: r for r in source_mix(docs).collect()}
    assert abs(sum(r["doc_share"] for r in mix.values()) - 1.0) < 1e-4
    assert all(r["n_tokens"] > 0 for r in mix.values())


def test_ivf_persisted_index_prunes_partitions_and_recalls(spark, vectors, tmp_path):
    """The persisted IVF index must (a) prune to the probed centroid
    partitions at plan time, (b) agree with the in-memory IVF search, and
    (c) recall most of the brute-force top-k."""
    import contextlib
    import io

    from vectordb_watermark_spark.operators.similarity import (
        ivf_query_index,
        ivf_topk_cosine,
        ivf_write_index,
        topk_cosine,
    )

    idx = str(tmp_path / "ivf")
    ivf_write_index(vectors, idx, n_centroids=16, key="ivf")
    qv = [float(x) for x in vectors.filter(F.col("id") == 0).first()["emb"]]
    probe_df = ivf_query_index(spark, idx, qv, k=10, n_probe=6)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe_df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "centroid" in plan

    got = [r["id"] for r in probe_df.collect()]
    mem = [r["id"] for r in ivf_topk_cosine(vectors, qv, k=10, n_centroids=16,
                                            n_probe=6, key="ivf").collect()]
    assert got == mem, "persisted and in-memory IVF must agree"
    brute = {r["id"] for r in topk_cosine(vectors, qv, 10).collect()}
    assert len(set(got) & brute) >= 7, (got, brute)


def test_jaccard_pairs_hashed_tokens_equivalent(spark, docs):
    """hashed_tokens=True (60-bit token words through the verify shuffle —
    the scale lever) must produce the same pairs AND the same 6-dp Jaccard
    values as the string-token oracle definition."""
    from vectordb_watermark_spark.operators.dedup import (
        jaccard_pairs,
        minhash_candidate_pairs,
    )

    sample = docs.limit(120)
    cand = minhash_candidate_pairs(sample).cache()
    a = jaccard_pairs(sample, pairs=cand, threshold=0.3).toPandas()
    b = jaccard_pairs(
        sample, pairs=cand, threshold=0.3, hashed_tokens=True
    ).toPandas()
    cand.unpersist()
    key = ["a", "b"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert a.equals(b)
    assert len(a) > 0  # the fixture corpus has real near-dups


def test_normalize_text_unicode_and_whitespace(spark):
    """NFC composes 'e'+COMBINING ACUTE to the precomposed codepoint (so
    dedup/fingerprints see one spelling), NFKC additionally folds
    compatibility forms, whitespace runs collapse, None passes through."""
    from vectordb_watermark_spark.functions.text import normalize_text

    docs = spark.createDataFrame(
        [
            (1, "Café  du \t\n monde"),
            (2, "ﬁne"),              # LATIN SMALL LIGATURE FI
            (3, None),
            (4, "  already clean  "),
        ],
        "doc_id long, text string",
    )
    nfc = {r["doc_id"]: r["norm_text"] for r in normalize_text(docs).collect()}
    assert nfc[1] == "Caf\u00e9 du monde"
    assert nfc[2] == "ﬁne"  # NFC leaves compatibility ligatures alone
    assert nfc[3] is None
    assert nfc[4] == "already clean"

    nfkc = {
        r["doc_id"]: r["norm_text"]
        for r in normalize_text(docs, form="NFKC").collect()
    }
    assert nfkc[2] == "fine"  # NFKC folds the ligature

    import pytest as _pytest

    with _pytest.raises(ValueError, match="normalization form"):
        normalize_text(docs, form="NFX")

    sids = spark.createDataFrame(
        [("a", "x\u0301  y")], "doc_id string, text string"
    )
    got = normalize_text(sids).collect()[0]
    assert got["doc_id"] == "a" and got["norm_text"] == "x\u0301 y"


def _semdedup_fixture(spark):
    """3 well-separated direction groups in 8-d; per group: a base row, two
    exact copies, and one distinct row 25 degrees away (pairwise cos 0.82 <
    0.95 threshold).  Expected keep-set: base + distinct per group."""
    import math

    rows = []
    c, s = math.cos(math.radians(25)), math.sin(math.radians(25))
    for g in range(3):
        base = [0.0] * 8
        base[g] = 1.0
        other = [0.0] * 8
        other[g], other[g + 3] = c, s
        gid = g * 10
        rows += [
            (gid + 0, base),
            (gid + 1, list(base)),          # exact dup
            (gid + 2, list(base)),          # exact dup
            (gid + 3, other),               # distinct (cos(25deg)=0.906<0.95? no:
        ]                                    # vs base cos = c = 0.906 < 0.95 -> kept
    return spark.createDataFrame(rows, "id long, emb array<float>")


def test_semantic_dedup_collapses_within_cluster_groups(spark):
    from vectordb_watermark_spark.operators.similarity import (
        cosine_neardup_pairs,
        semantic_dedup,
        semantic_dedup_pairs,
    )

    df = _semdedup_fixture(spark)
    out = semantic_dedup(df, n_clusters=3, eps=0.05).toPandas()
    keep = sorted(out[out["keep"]]["id"])
    assert keep == [0, 3, 10, 13, 20, 23]
    canon = dict(zip(out["id"], out["canonical"]))
    for g in range(3):
        gid = g * 10
        assert canon[gid + 1] == gid and canon[gid + 2] == gid
        assert canon[gid + 3] == gid + 3

    # within this fixture there are no cross-cluster near-dups, so the
    # cluster-bounded pair set equals the global exact pair set
    sem = {
        (r["a"], r["b"])
        for r in semantic_dedup_pairs(df, n_clusters=3, eps=0.05).collect()
    }
    brute = {
        (r["a"], r["b"])
        for r in cosine_neardup_pairs(df, threshold=0.95, method="gemm").collect()
    }
    assert sem == brute and len(sem) == 9  # 3 groups x C(3,2) dup pairs


def test_semantic_dedup_partition_invariant_and_guard(spark):
    import pytest as _pytest

    from vectordb_watermark_spark.operators.similarity import semantic_dedup

    df = _semdedup_fixture(spark)
    a = semantic_dedup(df, n_clusters=3, eps=0.05).toPandas()
    b = semantic_dedup(df.repartition(7, "id"), n_clusters=3, eps=0.05).toPandas()
    a = a.sort_values("id").reset_index(drop=True)
    b = b.sort_values("id").reset_index(drop=True)
    assert a.equals(b)

    # the backstop raise now only fires for genuinely UNSPLITTABLE data:
    # > max_cluster_rows identical vectors — no centroid count separates them
    same = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(8)],
        "id long, emb array<float>",
    )
    with _pytest.raises(Exception, match="max_cluster_rows"):
        semantic_dedup(same, n_clusters=1, eps=0.05, max_cluster_rows=3).collect()


def test_semantic_dedup_splits_oversized_clusters(spark):
    """VERDICT r8 #2 done-criterion: a planted mega-cluster fixture that used
    to raise under max_cluster_rows now completes via two-level splitting,
    with identical pair semantics inside the split sub-clusters (every
    planted dup group is tight and mutually distant, so each lands whole in
    one sub-cluster and the pair set equals global brute force)."""
    from vectordb_watermark_spark.operators.similarity import (
        cosine_neardup_pairs,
        semantic_dedup,
        semantic_dedup_pairs,
    )

    df = _semdedup_fixture(spark)  # 12 rows; n_clusters=1 puts all in one
    pairs = semantic_dedup_pairs(
        df, n_clusters=1, eps=0.05, max_cluster_rows=4, target_cluster_rows=4
    )
    sem = {(r["a"], r["b"]) for r in pairs.collect()}
    brute = {
        (r["a"], r["b"])
        for r in cosine_neardup_pairs(df, threshold=0.95, method="gemm").collect()
    }
    assert sem == brute and len(sem) == 9

    out = semantic_dedup(
        df, n_clusters=1, eps=0.05, max_cluster_rows=4, target_cluster_rows=4
    ).toPandas()
    assert sorted(out[out["keep"]]["id"]) == [0, 3, 10, 13, 20, 23]


def test_semantic_dedup_autosizes_n_clusters(spark):
    """n_clusters=None derives ceil(N / target_cluster_rows) — the
    safe-by-default path; result matches an explicit equivalent call."""
    from vectordb_watermark_spark.operators.similarity import semantic_dedup

    df = _semdedup_fixture(spark)  # 12 rows; target 4 -> 3 clusters
    auto = semantic_dedup(df, eps=0.05, target_cluster_rows=4).toPandas()
    explicit = semantic_dedup(df, n_clusters=3, eps=0.05).toPandas()
    auto = auto.sort_values("id").reset_index(drop=True)
    explicit = explicit.sort_values("id").reset_index(drop=True)
    assert auto.equals(explicit)


def test_ivf_query_index_batch_qid_types_and_dups(spark, vectors, tmp_path):
    """ADVICE r8: an int (not long) qid column survives the Arrow kernel via
    an explicit type from the qid schema; duplicate qids raise loudly."""
    import pytest as _pytest

    from vectordb_watermark_spark.operators.similarity import (
        ivf_query_index_batch,
        ivf_write_index,
    )

    path = str(tmp_path / "ivf_qid")
    ivf_write_index(vectors, path, n_centroids=8)
    qv = [float(x) for x in vectors.first()["emb"]]
    queries = spark.createDataFrame(
        [(7, qv), (9, qv)], "qid int, qvec array<float>"
    )
    out = ivf_query_index_batch(spark, path, queries, k=5, n_probe=4)
    assert out.schema["qid"].dataType.simpleString() == "int"
    rows = out.collect()
    assert {r["qid"] for r in rows} == {7, 9} and len(rows) == 10

    dup = spark.createDataFrame([(7, qv), (7, qv)], "qid int, qvec array<float>")
    with _pytest.raises(ValueError, match="duplicate qids"):
        ivf_query_index_batch(spark, path, dup, k=5)


def test_ivf_query_index_batch_agrees_one_scan(spark, vectors, tmp_path):
    """Batched multi-query probing (VERDICT r7 task #8): per-query results
    equal the single-query path exactly, the probed-partition read happens
    ONCE (one parquet scan in the plan), and partition pruning survives."""
    import contextlib
    import io

    from vectordb_watermark_spark.operators.similarity import (
        ivf_query_index,
        ivf_query_index_batch,
        ivf_write_index,
    )

    idx = str(tmp_path / "ivfb")
    ivf_write_index(vectors, idx, n_centroids=16, key="ivf")
    qids = [0, 7, 13, 21, 40]
    qvecs = {
        r["id"]: [float(x) for x in r["emb"]]
        for r in vectors.filter(F.col("id").isin(qids)).collect()
    }
    queries = spark.createDataFrame(
        [(int(q), qvecs[q]) for q in qids], "qid long, qvec array<float>"
    )
    batch = ivf_query_index_batch(spark, idx, queries, k=10, n_probe=6)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        batch.explain("formatted")
    plan = buf.getvalue()
    # formatted mode prints each node in the tree AND the detail section;
    # one physical scan therefore appears once in the tree block
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, "query batch must scan ONCE"
    assert "PartitionFilters" in plan and "centroid" in plan

    got = batch.collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["id"], r["cos"]))
    for q in qids:
        single = [
            (r["rank"], r["id"], r["cos"])
            for r in ivf_query_index(spark, idx, qvecs[q], k=10, n_probe=6).collect()
        ]
        assert sorted(by_q[q]) == sorted(single), f"qid={q}"


def test_ivf_build_reads_source_through_cache(spark, vectors):
    """IVF build-time scan discipline: every pass after the persist — Lloyd
    means, final assignment, index write — must read the InMemoryRelation,
    not re-scan the source (one source scan total at 100 TB)."""
    from vectordb_watermark_spark.operators.similarity import (
        _ivf_assign_pass,
        _ivf_base,
        _ivf_train,
        ivf_assign,
    )

    base = _ivf_base(vectors, "id", "emb")
    try:
        cents = _ivf_train(base, 8, 2, "ivf")
        plan = _ivf_assign_pass(base, cents)._jdf.queryExecution().toString()
        assert "InMemoryRelation" in plan, plan
    finally:
        base.unpersist()

    # the public entry materializes its assignment table through the cache
    # and releases the base cache before returning
    n_cached_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    assigned, cents = ivf_assign(vectors, n_centroids=8, n_iters=1)
    assert assigned.count() == vectors.count()
    assert len(cents) == 8
    assigned.unpersist()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= n_cached_before + 1


# ---------------------------------------------------------------------------
# round-4 curation audits
# ---------------------------------------------------------------------------

def test_gopher_quality_flags_rules(spark):
    """Each flag must implement its rule exactly on hand-built documents."""
    from vectordb_watermark_spark.operators.quality import gopher_quality_flags

    good = "the quick brown fox jumps over a lazy dog near the old mill " * 3
    short = "tiny doc"
    symbols = "a ! b ! c ! d ! e !! , . ; ?? !! , . ; ?? !! , . ; ?? !! ,"
    long_toks = " ".join(["supercalifragilistic"] * 30) + " the a of and"
    df = spark.createDataFrame(
        [(0, good), (1, short), (2, symbols), (3, long_toks)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in gopher_quality_flags(df).collect()}
    assert rows[0]["passes"], rows[0]
    assert not rows[1]["wc_ok"] and not rows[1]["passes"]
    assert not rows[2]["symbol_ok"] and not rows[2]["passes"]
    assert not rows[3]["mean_len_ok"] and not rows[3]["passes"]


def test_tfidf_top_terms_ranks_distinguishing_terms(spark):
    """A term unique to one source must outrank corpus-wide terms there,
    ranks must be 1..k per source, and the result deterministic."""
    from vectordb_watermark_spark.operators.quality import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (0, "common words here and quantum quantum quantum", "phys"),
            (1, "common words here and quantum flux", "phys"),
            (2, "common words here and sonnet sonnet sonnet", "poet"),
            (3, "common words here and sonnet rhyme", "poet"),
        ],
        "doc_id long, text string, source string",
    )
    out = tfidf_top_terms(df, k=3)
    rows = out.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append((r["rank"], r["term"]))
    assert sorted(r for r, _ in by_src["phys"]) == [1, 2, 3]
    assert min(by_src["phys"])[1] == "quantum"
    assert min(by_src["poet"])[1] == "sonnet"
    again = tfidf_top_terms(df, k=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_length_percentiles_match_numpy(spark, docs):
    """Exact percentiles must equal numpy 'linear' interpolation per group."""
    from vectordb_watermark_spark.operators.quality import length_percentiles

    got = {
        (r["source"], r["pct"]): r["val"]
        for r in length_percentiles(docs).collect()
    }
    pdf = docs.select("source", "n_chars").toPandas()
    for src, grp in pdf.groupby("source"):
        for pct in (0.25, 0.5, 0.75, 0.95):
            want = float(np.percentile(grp["n_chars"].to_numpy(), pct * 100,
                                       method="linear"))
            assert abs(got[(src, pct)] - round(want, 6)) < 1e-6, (src, pct)


def test_vector_dim_stats_match_numpy(spark, vectors):
    from vectordb_watermark_spark.functions.vector import vector_dim_stats

    X = np.array([np.asarray(r["emb"], dtype=np.float64)
                  for r in vectors.collect()])
    rows = {r["pos"]: r for r in vector_dim_stats(vectors).collect()}
    assert len(rows) == X.shape[1]
    for pos in (0, 7, X.shape[1] - 1):
        assert abs(rows[pos]["mean_val"] - round(float(X[:, pos].mean()), 6)) < 1e-9
        assert abs(rows[pos]["std_val"] - round(float(X[:, pos].std(ddof=1)), 5)) < 1e-9
        assert rows[pos]["min_val"] == round(float(X[:, pos].min()), 6)
        assert rows[pos]["max_val"] == round(float(X[:, pos].max()), 6)


def test_lexical_diversity_bounds(spark):
    from vectordb_watermark_spark.functions.text import (
        distinct_token_count,
        type_token_ratio,
    )

    df = spark.createDataFrame(
        [(0, "a a a a"), (1, "a b c d"), (2, ""), (3, "x x y y")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            distinct_token_count(F.col("text")).alias("n_types"),
            type_token_ratio(F.col("text")).alias("ttr"),
        ).collect()
    }
    assert rows[0]["n_types"] == 1 and rows[0]["ttr"] == 0.25
    assert rows[1]["n_types"] == 4 and rows[1]["ttr"] == 1.0
    assert rows[2]["n_types"] == 0 and rows[2]["ttr"] == 0.0
    assert rows[3]["n_types"] == 2 and rows[3]["ttr"] == 0.5


def test_ivf_append_index_without_retrain(spark, vectors, tmp_path):
    """Appending to a persisted IVF index must assign new rows to existing
    centroids (no retrain), keep partition pruning working, and make the
    new vectors findable by ivf_query_index."""
    from vectordb_watermark_spark.operators.similarity import (
        ivf_append_index,
        ivf_query_index,
        ivf_write_index,
    )

    idx = str(tmp_path / "ivf")
    old = vectors.filter(F.col("id") >= 10)
    ivf_write_index(old, idx, n_centroids=8, key="ivf")

    fresh = vectors.filter(F.col("id") < 10)
    assert ivf_append_index(fresh, idx) == fresh.count()

    total = spark.read.parquet(f"{idx}/vectors").count()
    assert total == vectors.count()
    # an appended vector's own embedding must retrieve it at rank 1 with
    # every centroid probed (exact search over the full index)
    qv = [float(x) for x in vectors.filter(F.col("id") == 3).first()["emb"]]
    top = ivf_query_index(spark, idx, qv, k=1, n_probe=8).first()
    assert top["id"] == 3 and top["cos"] == 1.0


def test_ivf_compact_restores_recall_after_skewed_appends(spark, tmp_path):
    """VERDICT r8 #5: retrain-free appends drift the centroid set and grow
    partition skew unboundedly; ivf_compact_index re-clusters in place,
    the drift metric signals before/after, and the append claim protocol
    survives the reset."""
    import numpy as np

    from vectordb_watermark_spark.operators.similarity import (
        ConcurrentAppendError,
        ivf_append_index,
        ivf_compact_index,
        ivf_index_drift,
        ivf_query_index,
        ivf_write_index,
    )

    rng = np.random.default_rng(5)

    def blob(center, n, start_id):
        rows = []
        for i in range(n):
            v = np.asarray(center, dtype=np.float64) + 0.05 * rng.standard_normal(8)
            rows.append((start_id + i, [float(x) for x in v]))
        return spark.createDataFrame(rows, "id long, emb array<float>")

    # build on cluster A only; append a FAR cluster B (all land in one or
    # two stale centroids -> drift + skew)
    idx = str(tmp_path / "ivf_compact")
    a = blob([1.0, 0, 0, 0, 0, 0, 0, 0], 200, 0)
    b = blob([0, 0, 0, 0, 0, 0, 0, 20.0], 200, 1000)
    ivf_write_index(a, idx, n_centroids=8, key="c")
    base_drift = ivf_index_drift(spark, idx)
    assert base_drift["drift_ratio"] is not None and base_drift["drift_ratio"] <= 1.001

    assert ivf_append_index(b, idx) == 200
    drifted = ivf_index_drift(spark, idx)
    assert drifted["drift_ratio"] > 10, drifted  # B sits ~20 away from A's centroids

    # with a 1-probe budget, a B query must first find B rows reachable
    # only through the single drifted partition; after compaction B gets
    # its own centroids and recall is restored
    qv = [0.0] * 7 + [20.0]
    cents = ivf_compact_index(spark, idx, key="c2")
    assert len(cents) == 8
    after = ivf_index_drift(spark, idx)
    assert after["drift_ratio"] is not None and after["drift_ratio"] <= 1.001
    assert after["distortion"] < drifted["distortion"] / 5
    assert after["partition_skew"] < drifted["partition_skew"]
    top = ivf_query_index(spark, idx, qv, k=5, n_probe=2).collect()
    assert len(top) == 5 and all(r["id"] >= 1000 for r in top)
    # pieces now live behind the manifest: resolve before raw reads
    from vectordb_watermark_spark.operators.similarity import _resolve_index_root

    root = _resolve_index_root(spark, idx)
    assert root != idx  # compaction versioned the index
    assert spark.read.parquet(f"{root}/vectors").count() == 400

    # batch tags PRESERVED and sequence carried forward (round 10): the
    # pre-compaction append keeps its append-1 tag, the next append lands
    # under append-2, and the re-created claim files keep tag races loud
    c = blob([0, 10.0, 0, 0, 0, 0, 0, 0], 20, 5000)
    assert ivf_append_index(c, idx) == 20
    root = _resolve_index_root(spark, idx)
    batches = {
        r["batch"]
        for r in spark.read.parquet(f"{root}/vectors").select("batch").distinct().collect()
    }
    assert batches == {"full", "append-1", "append-2"}
    # simulate a racer that read a stale (pre-compaction) sequence: the
    # preserved append-1 tag is still claimed -> ConcurrentAppendError
    from vectordb_watermark_spark.operators.similarity import (
        _load_index_meta,
        _write_index_meta_atomic,
    )

    meta = _load_index_meta(spark, root)
    _write_index_meta_atomic(spark, root, meta["id_type"], meta["dim"], 1)
    import pytest as _pytest

    with _pytest.raises(ConcurrentAppendError):
        ivf_append_index(blob([0, 0, 5.0, 0, 0, 0, 0, 0], 5, 9000), idx)


def test_ivf_append_is_metadata_cheap(spark, vectors, tmp_path):
    """An append must derive the stored id type and the next batch tag from
    the single-row index_meta sidecar alone — never list or schema-read the
    index's data files (an object-store metadata storm per append at
    100 TB, VERDICT r4 'What's wrong' #2).  Pinned by HIDING the vectors
    directory entirely: the append still succeeds and writes only its own
    batch=append-N partitions."""
    import shutil

    from vectordb_watermark_spark.operators.similarity import (
        _load_index_meta,
        ivf_append_index,
        ivf_write_index,
    )

    idx = str(tmp_path / "ivf")
    ivf_write_index(vectors.filter(F.col("id") >= 10), idx, n_centroids=4, key="ivf")
    meta = _load_index_meta(spark, idx)
    assert meta["next_append_seq"] == 1 and meta["id_type"] == "bigint"

    shutil.move(f"{idx}/vectors", str(tmp_path / "hidden"))
    fresh = vectors.filter(F.col("id") < 10)
    assert ivf_append_index(fresh, idx) == fresh.count()
    written = spark.read.parquet(f"{idx}/vectors")
    assert written.count() == fresh.count()
    assert {r["batch"] for r in written.select("batch").distinct().collect()} == {
        "append-1"
    }
    assert _load_index_meta(spark, idx)["next_append_seq"] == 2


def test_ivf_append_self_heals_presidecar_index(spark, vectors, tmp_path):
    """A pre-sidecar index (no index_meta) falls back to deriving id type +
    next sequence from the index itself ONCE, appends correctly, and writes
    the sidecar so every later append is metadata-cheap."""
    import os

    from vectordb_watermark_spark.operators.similarity import (
        _load_index_meta,
        ivf_append_index,
        ivf_write_index,
    )

    idx = str(tmp_path / "ivf")
    ivf_write_index(vectors.filter(F.col("id") >= 10), idx, n_centroids=4, key="ivf")
    os.remove(f"{idx}/index_meta")
    assert _load_index_meta(spark, idx) is None

    fresh = vectors.filter(F.col("id") < 10)
    assert ivf_append_index(fresh, idx) == fresh.count()
    assert _load_index_meta(spark, idx)["next_append_seq"] == 2

    ivf_append_index(vectors.filter(F.col("id") < 5), idx)
    batches = {
        r["batch"]
        for r in spark.read.parquet(f"{idx}/vectors").select("batch").distinct().collect()
    }
    assert batches == {"full", "append-1", "append-2"}


def test_ivf_append_stale_seq_writer_fails_loud(spark, vectors, tmp_path):
    """Concurrent-appender detection (VERDICT r5 'What's wrong' #2): an
    appender that read a stale sequence number must get a loud
    ConcurrentAppendError — never silently race another appender's batch in
    the shared write-staging directory.  Simulated by rolling the sidecar
    back to an already-claimed sequence, exactly what the loser of the
    read-read race would hold."""
    import pytest

    from vectordb_watermark_spark.operators.similarity import (
        ConcurrentAppendError,
        _load_index_meta,
        _write_index_meta_atomic,
        ivf_append_index,
        ivf_write_index,
    )

    idx = str(tmp_path / "ivf")
    ivf_write_index(vectors.filter(F.col("id") >= 10), idx, n_centroids=4, key="ivf")
    fresh = vectors.filter(F.col("id") < 10)
    assert ivf_append_index(fresh, idx) == fresh.count()  # claims append-1

    meta = _load_index_meta(spark, idx)
    assert meta["next_append_seq"] == 2
    # the stale writer: same metadata as the winner read before bumping
    _write_index_meta_atomic(spark, idx, meta["id_type"], meta["dim"], 1)
    before = spark.read.parquet(f"{idx}/vectors").count()
    with pytest.raises(ConcurrentAppendError, match="append-1"):
        ivf_append_index(vectors.filter(F.col("id") < 5), idx)
    assert spark.read.parquet(f"{idx}/vectors").count() == before


def test_ivf_append_crash_retry_lands_fresh_tag(spark, vectors, tmp_path):
    """Crash idempotence (ADVICE r5): the sidecar is bumped BEFORE the data
    write, so a retry after a crash mid-append lands under a FRESH batch tag
    instead of double-writing the failed attempt's partition.  Simulated by
    replaying the crashed attempt's visible state: sequence bumped, tag
    claimed, no data committed."""
    from vectordb_watermark_spark.operators.similarity import (
        _load_index_meta,
        ivf_append_index,
        ivf_write_index,
    )

    idx = str(tmp_path / "ivf")
    ivf_write_index(vectors.filter(F.col("id") >= 10), idx, n_centroids=4, key="ivf")

    # crashed attempt: bumped 1 -> 2 and claimed append-1, wrote nothing
    meta = _load_index_meta(spark, idx)
    from vectordb_watermark_spark.operators.similarity import (
        _write_index_meta_atomic,
    )

    _write_index_meta_atomic(spark, idx, meta["id_type"], meta["dim"], 2)
    claims = tmp_path / "ivf" / "append_claims"
    claims.mkdir()
    (claims / "append-1.claim").touch()

    fresh = vectors.filter(F.col("id") < 10)
    assert ivf_append_index(fresh, idx) == fresh.count()  # the blind retry
    written = spark.read.parquet(f"{idx}/vectors")
    batches = {r["batch"] for r in written.select("batch").distinct().collect()}
    assert batches == {"full", "append-2"}  # append-1 skipped, never reused
    assert written.filter(F.col("id") < 10).count() == fresh.count()
    assert _load_index_meta(spark, idx)["next_append_seq"] == 3


def test_ivf_rebuild_clears_stale_claims(spark, vectors, tmp_path):
    """Rebuild hygiene (ADVICE r6): ivf_write_index resets next_append_seq
    to 1, so it must also clear {path}/append_claims — otherwise the first
    append after rebuilding a previously-appended index raises a spurious
    ConcurrentAppendError on the already-claimed append-1 tag."""
    import os

    from vectordb_watermark_spark.operators.similarity import (
        _load_index_meta,
        ivf_append_index,
        ivf_write_index,
    )

    idx = str(tmp_path / "ivf")
    ivf_write_index(vectors.filter(F.col("id") >= 10), idx, n_centroids=4, key="ivf")
    ivf_append_index(vectors.filter(F.col("id") < 10), idx)  # claims append-1
    assert os.path.exists(f"{idx}/append_claims/append-1.claim")

    # full rebuild: sequence restarts at 1 AND the old generation's claims go
    ivf_write_index(vectors, idx, n_centroids=4, key="ivf")
    assert _load_index_meta(spark, idx)["next_append_seq"] == 1
    assert not os.path.exists(f"{idx}/append_claims")

    # the first post-rebuild append lands first try under append-1
    fresh = vectors.filter(F.col("id") < 5)
    assert ivf_append_index(fresh, idx) == fresh.count()
    batches = {
        r["batch"]
        for r in spark.read.parquet(f"{idx}/vectors").select("batch").distinct().collect()
    }
    assert batches == {"full", "append-1"}


def test_ivf_append_stale_writer_cannot_roll_sequence_back(
    spark, vectors, tmp_path, monkeypatch
):
    """Monotonic sidecar bump (ADVICE r6): a DELAYED appender holding a stale
    sequence N must not roll next_append_seq backward from the current M —
    it writes max(stored, N+1), fails its claim loudly, and the next healthy
    appender proceeds at M with zero spurious retries."""
    import pytest

    from vectordb_watermark_spark.operators import similarity as S

    idx = str(tmp_path / "ivf")
    S.ivf_write_index(vectors.filter(F.col("id") >= 10), idx, n_centroids=4, key="ivf")
    S.ivf_append_index(vectors.filter(F.col("id") < 5), idx)   # append-1
    S.ivf_append_index(vectors.filter(F.col("id") < 10), idx)  # append-2
    assert S._load_index_meta(spark, idx)["next_append_seq"] == 3

    # delayed appender: its FIRST sidecar read returns the stale sequence 1;
    # the guard's re-read (and everything after) sees the real sidecar
    real = S._load_index_meta
    calls = {"n": 0}

    def delayed_read(sp, p):
        calls["n"] += 1
        if calls["n"] == 1:
            stale = dict(real(sp, p))
            stale["next_append_seq"] = 1
            return stale
        return real(sp, p)

    monkeypatch.setattr(S, "_load_index_meta", delayed_read)
    with pytest.raises(S.ConcurrentAppendError, match="append-1"):
        S.ivf_append_index(vectors.filter(F.col("id") < 3), idx)
    monkeypatch.setattr(S, "_load_index_meta", real)

    # the sequence did NOT roll back to 2 — still 3, and the next healthy
    # appender lands immediately under append-3
    assert S._load_index_meta(spark, idx)["next_append_seq"] == 3
    fresh = vectors.filter(F.col("id") < 3)
    assert S.ivf_append_index(fresh, idx) == fresh.count()
    batches = {
        r["batch"]
        for r in spark.read.parquet(f"{idx}/vectors").select("batch").distinct().collect()
    }
    assert batches == {"full", "append-1", "append-2", "append-3"}


def test_swap_dir_atomic_restores_from_old_crash_window(spark, tmp_path):
    """_swap_dir_atomic crash-window recovery (ADVICE r5): if a previous
    swap crashed between rename-aside and the staged rename, the target is
    missing and <target>__old holds the only complete copy.  The next swap
    must RESTORE it first (so a complete copy always exists) rather than
    delete it; the end state is the new version in place and no __old
    residue."""
    import os

    from vectordb_watermark_spark.operators.similarity import _swap_dir_atomic

    target = str(tmp_path / "centroids")
    spark.createDataFrame([(1, "v1")], "k int, v string").coalesce(1)\
        .write.parquet(str(tmp_path / "stage1"))
    _swap_dir_atomic(spark, str(tmp_path / "stage1"), target)
    assert spark.read.parquet(target).first()["v"] == "v1"

    # simulate the crash window: target moved aside, staged never landed
    os.rename(target, f"{target}__old")
    assert not os.path.exists(target)

    spark.createDataFrame([(1, "v2")], "k int, v string").coalesce(1)\
        .write.parquet(str(tmp_path / "stage2"))
    _swap_dir_atomic(spark, str(tmp_path / "stage2"), target)
    assert spark.read.parquet(target).first()["v"] == "v2"
    assert not os.path.exists(f"{target}__old")


def test_ivf_topk_preserves_id_type(spark):
    """ivf_topk_cosine must work with non-bigint id columns: the result id
    column keeps the caller's type end to end (assignment kernel schema is
    derived from the input, result schema from the source column)."""
    import numpy as np

    rng = np.random.default_rng(5)
    rows = [(f"doc-{i}", [float(round(x, 4)) for x in rng.standard_normal(8)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id string, emb array<float>")
    qv = rows[7][1]
    out = S.ivf_topk_cosine(df, qv, k=3, n_centroids=4, n_probe=4,
                            id_col="doc_id", vec_col="emb")
    assert out.schema["id"].dataType.simpleString() == "string"
    got = out.collect()
    assert got[0]["id"] == "doc-7" and got[0]["cos"] == 1.0


def test_minhash_join_cross_corpus(spark):
    """Cross-corpus near-dup join: a crawl doc duplicating a corpus doc must
    pair with it (and only with near-dups), ids never pair within one side,
    and the verified jaccard is exact."""
    corpus = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta"),
         (101, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    crawl = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),   # exact dup of 100
         (2, "totally different words nothing shared here at all")],
        "doc_id long, text string",
    )
    cand = {(r["a"], r["b"]) for r in D.minhash_join(crawl, corpus).collect()}
    assert (1, 100) in cand
    assert all(a in (1, 2) and b in (100, 101) for a, b in cand)

    ver = {(r["a"], r["b"]): r["jaccard"]
           for r in D.minhash_join(crawl, corpus, threshold=0.9).collect()}
    assert ver == {(1, 100): 1.0}


def test_round4_ops_partition_invariant(spark, docs):
    """Cluster-correctness property: the new curation operators must return
    identical results under different partitionings (no RNG, no
    partition-order dependence)."""
    from vectordb_watermark_spark.operators.quality import (
        length_percentiles,
        tfidf_top_terms,
    )

    few = docs.coalesce(1)
    many = docs.repartition(13)
    for op in (lambda d: tfidf_top_terms(d, k=5),
               lambda d: length_percentiles(d)):
        a = sorted(map(tuple, op(few).collect()))
        b = sorted(map(tuple, op(many).collect()))
        assert a == b

    j1 = sorted(map(tuple, D.minhash_join(
        few.filter(F.col("doc_id") < 100), few.filter(F.col("doc_id") >= 100),
        threshold=0.5).collect()))
    j2 = sorted(map(tuple, D.minhash_join(
        many.filter(F.col("doc_id") < 100), many.filter(F.col("doc_id") >= 100),
        threshold=0.5).collect()))
    assert j1 == j2 and len(j1) > 0


def test_hash_embed_documents_properties(spark):
    """Feature-hashing embeddings: unit norm per doc, identical docs get
    identical vectors, disjoint-vocabulary docs get (near-)orthogonal ones,
    and empty docs emit nothing."""
    df = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta"),
         (2, "zeta eta theta iota kappa"), (3, "")],
        "doc_id long, text string",
    )
    rows = T.hash_embed_documents(df, dim=32).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["id"], {})[r["pos"]] = r["val"]
    assert 3 not in by_doc
    assert by_doc[0] == by_doc[1]
    for d in (0, 2):
        assert abs(sum(v * v for v in by_doc[d].values()) - 1.0) < 1e-4, d
    # disjoint vocab -> dot product only from chance bucket collisions
    dot = sum(by_doc[0].get(p, 0.0) * v for p, v in by_doc[2].items())
    assert abs(dot) < 0.9


def test_canonical_by_quality_keeps_best_not_first(spark):
    """The cluster winner must be the highest-quality member (tie-break
    quality desc, id asc), NOT the min id; singletons always survive."""
    rich = ("the quick brown fox jumps over the lazy dog and then it runs "
            "far away into the hills where it rests for a while today") * 3
    poor = "x!!! y!!! z!!!"
    docs = spark.createDataFrame(
        [(1, poor), (2, rich), (3, "unrelated singleton text entirely")],
        "doc_id long, text string",
    )
    comps = spark.createDataFrame([(1, 1), (2, 1)], "id long, comp long")
    rows = {r["doc_id"]: r for r in D.canonical_by_quality(docs, comps).collect()}
    assert set(rows) == {2, 3}, rows      # best of cluster + the singleton
    assert not rows[2]["singleton"] and rows[3]["singleton"]
    assert rows[2]["quality"] > 0.5


# ---- round 7: exact substring dedup (duplicated n-gram spans) ----------


def _span_docs(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        # docs 1 and 2 share the 8-token run embedded in different contexts
        (1, f"One two {shared} three four"),
        (2, f"{shared} five six seven"),
        # doc 3: original casing variant of the shared run (matches lowercased)
        (3, f"prefix ALPHA Beta gamma delta epsilon zeta eta THETA suffix"),
        # doc 4: unique content, nothing removed
        (4, "unique words that appear nowhere else in this tiny corpus"),
        # doc 5: shorter than n tokens, emits no grams
        (5, "tiny doc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicate_ngram_spans_detects_shared_run(spark):
    from vectordb_watermark_spark.operators.dedup import duplicate_ngram_spans

    spans = duplicate_ngram_spans(_span_docs(spark), n=8).toPandas()
    # the only 8-gram present in >= 2 docs is the shared run itself
    assert list(spans["ngram"]) == ["alpha beta gamma delta epsilon zeta eta theta"]
    assert list(spans["n_docs"]) == [3]
    assert list(spans["n_occ"]) == [3]


def test_scrub_duplicate_spans_union_and_casing(spark):
    from vectordb_watermark_spark.operators.dedup import scrub_duplicate_spans

    out = (
        scrub_duplicate_spans(_span_docs(spark), n=8)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    # every input doc is present, including the untouched ones
    assert list(out.index) == [1, 2, 3, 4, 5]
    assert out.loc[1, "clean_text"] == "One two three four"
    assert out.loc[2, "clean_text"] == "five six seven"
    # original casing survives outside AND the span match was case-blind
    assert out.loc[3, "clean_text"] == "prefix suffix"
    assert out.loc[4, "n_removed"] == 0
    assert out.loc[5, "n_removed"] == 0
    assert out.loc[1, "n_tokens"] == 12 and out.loc[1, "n_removed"] == 8


def test_scrub_overlapping_spans_remove_whole_run(spark):
    """A duplicated run LONGER than n is removed in full: every n-window of
    the run is itself duplicated, and coverage is the union of windows."""
    from vectordb_watermark_spark.operators.dedup import scrub_duplicate_spans

    run = " ".join(f"t{i}" for i in range(12))  # 12-token duplicated run
    docs = spark.createDataFrame(
        [(1, f"head {run} tail"), (2, f"{run} coda")],
        "doc_id long, text string",
    )
    out = scrub_duplicate_spans(docs, n=8).toPandas().set_index("doc_id")
    assert out.loc[1, "clean_text"] == "head tail"
    assert out.loc[2, "clean_text"] == "coda"
    assert out.loc[1, "n_removed"] == 12


def test_scrub_accepts_precomputed_span_table(spark):
    """The 100 TB shape: build the span table once over the corpus, then
    scrub shards against it — shard-local scrubbing must equal whole-corpus
    scrubbing."""
    from vectordb_watermark_spark.operators.dedup import (
        duplicate_ngram_spans,
        scrub_duplicate_spans,
    )
    import pandas as pd

    docs = _span_docs(spark)
    spans = duplicate_ngram_spans(docs, n=8)
    whole = scrub_duplicate_spans(docs, n=8).toPandas()
    shard1 = scrub_duplicate_spans(docs.filter("doc_id <= 2"), spans=spans, n=8)
    shard2 = scrub_duplicate_spans(docs.filter("doc_id > 2"), spans=spans, n=8)
    sharded = pd.concat([shard1.toPandas(), shard2.toPandas()])
    a = whole.sort_values("doc_id").reset_index(drop=True)
    b = sharded.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_scrub_fully_duplicated_doc_empties(spark):
    from vectordb_watermark_spark.operators.dedup import scrub_duplicate_spans

    run = " ".join(f"x{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(1, run), (2, run)], "doc_id long, text string"
    )
    out = scrub_duplicate_spans(docs, n=8).toPandas().set_index("doc_id")
    assert set(out["clean_text"]) == {""}
    assert list(out["n_removed"]) == [8, 8]


def test_span_ops_partition_invariant(spark, docs):
    from vectordb_watermark_spark.operators.dedup import (
        duplicate_ngram_spans,
        scrub_duplicate_spans,
    )

    for build in (
        lambda d: duplicate_ngram_spans(d),
        lambda d: scrub_duplicate_spans(d),
    ):
        a = build(docs).toPandas()
        b = build(docs.repartition(7, "doc_id")).toPandas()
        key = sorted(a.columns)
        a = a[key].sort_values(key).reset_index(drop=True)
        b = b[key].sort_values(key).reset_index(drop=True)
        import pandas as pd

        pd.testing.assert_frame_equal(a, b)


# ---- round 7: bigram stupid-backoff LM ---------------------------------


def test_bigram_lm_score_hand_computed(spark):
    """3-doc corpus small enough to verify the backoff arithmetic by hand.

    corpus: 'a b a b', 'a b c', 'c a'
    unigrams: a=4, b=3, c=2, total=9
    bigrams (min_count=2): (a,b)=3   [others are singletons -> pruned]
    doc1 pairs: (a,b),(b,a),(a,b) ->
        (a,b): log10(3/4); (b,a): backoff log10(0.4*4/9)
    """
    import math

    from vectordb_watermark_spark.operators.quality import bigram_lm_score

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "c a")],
        "doc_id long, text string",
    )
    out = bigram_lm_score(docs).toPandas().set_index("doc_id").sort_index()
    ab = math.log10(3 / 4)
    ba = math.log10(0.4 * 4 / 9)
    bc = math.log10(0.4 * 2 / 9)
    ca = math.log10(0.4 * 4 / 9)
    assert out.loc[1, "n_bigrams"] == 3
    assert abs(out.loc[1, "bigram_lm_score"] - round((2 * ab + ba) / 3, 6)) < 1e-9
    assert abs(out.loc[2, "bigram_lm_score"] - round((ab + bc) / 2, 6)) < 1e-9
    assert abs(out.loc[3, "bigram_lm_score"] - round(ca, 6)) < 1e-9


def test_bigram_lm_single_token_docs_absent(spark):
    from vectordb_watermark_spark.operators.quality import bigram_lm_score

    docs = spark.createDataFrame(
        [(1, "solo"), (2, "a pair here"), (3, "")],
        "doc_id long, text string",
    )
    out = bigram_lm_score(docs).toPandas()
    assert set(out["doc_id"]) == {2}


def test_bigram_lm_precomputed_tables_reused_across_shards(spark):
    """Scoring a shard against corpus-level count tables equals the shard's
    rows of the whole-corpus scoring — the reuse contract the docstring
    promises."""
    import pandas as pd

    from vectordb_watermark_spark.functions.text import tokens  # noqa: F401
    from vectordb_watermark_spark.operators.quality import (
        bigram_counts,
        bigram_lm_score,
        token_frequencies,
    )

    docs = load(spark, "documents")
    uni = token_frequencies(docs)
    bi = bigram_counts(docs)
    whole = bigram_lm_score(docs).toPandas()
    shard = bigram_lm_score(
        docs.filter("doc_id < 20"), unigrams=uni, bigrams=bi
    ).toPandas()
    a = whole[whole.doc_id < 20].sort_values("doc_id").reset_index(drop=True)
    b = shard.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_bigram_lm_oov_tokens_floor_not_dropped(spark):
    """A shard scored against PRECOMPUTED tables (the 100 TB reuse shape) may
    contain tokens the vocabulary has never seen.  Contract (VERDICT r7
    'What's wrong' #4): every input doc with >= 2 tokens appears in the
    output with ALL its bigrams counted, and an OOV bigram scores no better
    than the rarest in-vocab backoff."""
    import math

    from vectordb_watermark_spark.operators.quality import (
        bigram_counts,
        bigram_lm_score,
        token_frequencies,
    )

    train = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "c a")],
        "doc_id long, text string",
    )
    uni = token_frequencies(train)  # a=4, b=3, c=2; total=9
    bi = bigram_counts(train)  # (a,b)=3
    shard = spark.createDataFrame(
        [
            (10, "a b"),          # fully in-vocab
            (11, "a zzz"),        # OOV second token
            (12, "zzz qqq"),      # fully OOV doc — must NOT vanish
            (13, "zzz b"),        # OOV first token, in-vocab second
        ],
        "doc_id long, text string",
    )
    out = (
        bigram_lm_score(shard, unigrams=uni, bigrams=bi)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert set(out.index) == {10, 11, 12, 13}
    assert (out["n_bigrams"] == 1).all()
    floor = math.log10(0.4 * 1 / 9)  # coalesced count 1
    rarest_invocab = math.log10(0.4 * 2 / 9)  # c, the rarest real token
    assert abs(out.loc[10, "bigram_lm_score"] - round(math.log10(3 / 4), 6)) < 1e-9
    assert abs(out.loc[11, "bigram_lm_score"] - round(floor, 6)) < 1e-9
    assert abs(out.loc[12, "bigram_lm_score"] - round(floor, 6)) < 1e-9
    # OOV-w2 backoff never beats any in-vocab backoff
    assert out.loc[11, "bigram_lm_score"] <= round(rarest_invocab, 6)
    # OOV w1 with in-vocab w2 backs off on the REAL w2 count (b=3)
    assert abs(
        out.loc[13, "bigram_lm_score"] - round(math.log10(0.4 * 3 / 9), 6)
    ) < 1e-9


def test_bigram_lm_detects_shuffled_tokens(spark):
    """The signal the unigram logfreq proxy cannot see: a token-shuffled
    document has an IDENTICAL unigram profile but a worse bigram score than
    the fluent original, because its adjacencies fall out of the pruned
    bigram table into backoff."""
    from vectordb_watermark_spark.operators.quality import (
        bigram_lm_score,
        corpus_logfreq_score,
    )

    fluent = "the cat sat on the mat " * 5
    shuffled = "mat the on sat the cat " * 5  # same bag of tokens
    filler = [(i, "the cat sat on the mat again today") for i in range(10, 20)]
    docs = spark.createDataFrame(
        [(1, fluent.strip()), (2, shuffled.strip())] + filler,
        "doc_id long, text string",
    )
    lm = bigram_lm_score(docs).toPandas().set_index("doc_id")
    uni = corpus_logfreq_score(docs).toPandas().set_index("doc_id")
    assert lm.loc[1, "bigram_lm_score"] > lm.loc[2, "bigram_lm_score"]
    # unigram proxy is blind to the shuffle (same tokens, same multiplicity)
    assert abs(uni.loc[1, "logfreq_score"] - uni.loc[2, "logfreq_score"]) < 1e-6


def test_chunk_documents_boundaries(spark):
    from vectordb_watermark_spark.operators.packing import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),  # 10 tokens
            (2, "a b c"),                           # fits one chunk
            (3, ""),                                # no chunks
            (4, "x0 x1 x2 x3 x4"),                  # short tail
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=4, overlap=1).toPandas()
    by = {
        (r.doc_id, r.chunk_idx): (r.start_token, r.n_tokens, r.chunk_text)
        for r in out.itertuples()
    }
    assert by[(1, 0)] == (0, 4, "t0 t1 t2 t3")
    assert by[(1, 1)] == (3, 4, "t3 t4 t5 t6")
    assert by[(1, 2)] == (6, 4, "t6 t7 t8 t9")
    assert by[(2, 0)] == (0, 3, "a b c")
    assert 3 not in {d for d, _ in by}
    assert by[(4, 0)] == (0, 4, "x0 x1 x2 x3")
    assert by[(4, 1)] == (3, 2, "x3 x4")

    # every token covered, case preserved, consecutive chunks overlap
    upper = spark.createDataFrame([(9, "A B C D E F G")], "doc_id long, text string")
    rows = sorted(
        chunk_documents(upper, chunk_tokens=3, overlap=1).collect(),
        key=lambda r: r["chunk_idx"],
    )
    rebuilt = rows[0]["chunk_text"].split()
    for r in rows[1:]:
        rebuilt.extend(r["chunk_text"].split()[1:])  # drop the 1-token overlap
    assert rebuilt == "A B C D E F G".split()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_lm_quality_buckets_ccnet_tiers(spark, docs):
    from vectordb_watermark_spark.operators.quality import lm_quality_buckets

    sample = docs.limit(120).cache()
    out = lm_quality_buckets(sample).toPandas()
    assert set(out["bucket"]) <= {"head", "middle", "tail"}
    for src, grp in out.groupby("source"):
        sizes = grp["bucket"].value_counts()
        assert sizes.max() - sizes.min() <= 1  # ntile equal-count split
        head = grp[grp.bucket == "head"]["bigram_lm_score"]
        mid = grp[grp.bucket == "middle"]["bigram_lm_score"]
        tail = grp[grp.bucket == "tail"]["bigram_lm_score"]
        if len(head) and len(mid):
            assert head.min() >= mid.max() - 1e-9
        if len(mid) and len(tail):
            assert mid.min() >= tail.max() - 1e-9

    # partition invariance + generic bucket names
    a = out.sort_values("doc_id").reset_index(drop=True)
    b = (
        lm_quality_buckets(sample.repartition(7, "doc_id"))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert a.equals(b)
    q5 = lm_quality_buckets(sample, n_buckets=5).toPandas()
    assert set(q5["bucket"]) <= {f"q{i}" for i in range(1, 6)}
    sample.unpersist()


def test_url_normalize_rules(spark):
    """Every canonicalization rule: case, default ports, fragments, empty
    path, tracking params, param order, scheme-less passthrough."""
    from vectordb_watermark_spark.functions.text import (
        url_domain,
        url_host,
        url_normalize,
    )

    cases = [
        (1, "HTTP://Example.COM:80"),
        (2, "https://www.Site.org:443/A/B?utm_source=x&b=2&a=1#sec"),
        (3, "https://site.org:8443/x"),          # non-default port kept
        (4, "http://host/path?fbclid=z&gclid=y"),  # all params tracking
        (5, "not a url at all"),                  # passthrough
        (6, "ftp://Files.Example.com/Pub"),       # other scheme: port rule off
        (7, "https://wwwx.example.com/"),         # 'www' strip is prefix-dot only
    ]
    df = spark.createDataFrame(cases, "id long, url string")
    out = {
        r["id"]: (r["n"], r["h"], r["d"])
        for r in df.select(
            "id",
            url_normalize(F.col("url")).alias("n"),
            url_host(F.col("url")).alias("h"),
            url_domain(F.col("url")).alias("d"),
        ).collect()
    }
    assert out[1] == ("http://example.com/", "example.com", "example.com")
    assert out[2][0] == "https://www.site.org/A/B?b=2&a=1"  # order preserved
    assert out[2][2] == "site.org"
    assert out[3][0] == "https://site.org:8443/x"
    assert out[4][0] == "http://host/path"
    assert out[5] == ("not a url at all", "", "")
    assert out[6][0] == "ftp://files.example.com/Pub"
    assert out[7][2] == "wwwx.example.com"

    # strip_params override: hosts where ref= is semantic (GitHub branches)
    # keep it with a custom regex; the default strips it (RefinedWeb rule)
    gh = spark.createDataFrame(
        [(1, "https://GitHub.com/o/r/blob/x.py?ref=main&utm_source=t")],
        "id long, url string",
    )
    no_ref = "^(utm_[^=]*|fbclid|gclid|msclkid)="
    got = gh.select(
        url_normalize(F.col("url")).alias("dflt"),
        url_normalize(F.col("url"), strip_params=no_ref).alias("kept"),
    ).first()
    assert got["dflt"] == "https://github.com/o/r/blob/x.py"
    assert got["kept"] == "https://github.com/o/r/blob/x.py?ref=main"

    # the SQL twin honors the same override (cross-engine equality)
    import duckdb

    from vectordb_watermark_spark.functions.text import sql_url_normalize

    con = duckdb.connect()
    for expr, expect in [
        (sql_url_normalize("url"), got["dflt"]),
        (sql_url_normalize("url", strip_params=no_ref), got["kept"]),
    ]:
        v = con.execute(
            f"SELECT {expr} FROM (SELECT 'https://GitHub.com/o/r/blob/x.py"
            f"?ref=main&utm_source=t' AS url)"
        ).fetchone()[0]
        assert v == expect


# ---------------------------------------------------------------------------
# manifest-pointer commit for index maintenance (round 10, VERDICT r9 #3)
# ---------------------------------------------------------------------------

def _mk_blobs(spark, seed=5):
    import numpy as np

    rng = np.random.default_rng(seed)

    def blob(center, n, start_id):
        rows = []
        for i in range(n):
            v = np.asarray(center, dtype=np.float64) + 0.05 * rng.standard_normal(8)
            rows.append((start_id + i, [float(x) for x in v]))
        return spark.createDataFrame(rows, "id long, emb array<float>")

    return blob


def test_ivf_compact_crash_before_commit_keeps_old_version_live(
    spark, tmp_path, monkeypatch
):
    """Crash injection between piece writes and the commit: EVERY piece of
    the new version is on disk, but the manifest commit never happened —
    the old version must stay fully live and mutually consistent (queries,
    drift, appends all work), and a re-run converges."""
    import pytest

    from vectordb_watermark_spark.operators import similarity as S

    blob = _mk_blobs(spark)
    idx = str(tmp_path / "ivf_crash")
    a = blob([1.0, 0, 0, 0, 0, 0, 0, 0], 120, 0)
    b = blob([0, 0, 0, 0, 0, 0, 0, 20.0], 120, 1000)
    S.ivf_write_index(a, idx, n_centroids=4, key="c")
    S.ivf_append_index(b, idx)
    before_drift = S.ivf_index_drift(spark, idx)
    qv = [0.0] * 7 + [20.0]
    before_top = [r["id"] for r in S.ivf_query_index(spark, idx, qv, k=3, n_probe=4).collect()]

    real_commit = S._commit_index_version

    def crash(sp, p, seq):
        raise RuntimeError("injected crash before manifest commit")

    monkeypatch.setattr(S, "_commit_index_version", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        S.ivf_compact_index(spark, idx, key="c2")
    monkeypatch.setattr(S, "_commit_index_version", real_commit)

    # no commit -> resolution still points at the flat old version
    assert S._resolve_index_root(spark, idx) == idx
    # old version is complete and mutually consistent: same query answers,
    # same drift reading, appends still land
    after_top = [r["id"] for r in S.ivf_query_index(spark, idx, qv, k=3, n_probe=4).collect()]
    assert after_top == before_top
    d = S.ivf_index_drift(spark, idx)
    assert d["n_rows"] == before_drift["n_rows"]
    assert d["drift_ratio"] == before_drift["drift_ratio"]

    # re-run converges: the leftover uncommitted _v dir is replaced, the
    # commit lands, and the compacted index answers with restored recall
    S.ivf_compact_index(spark, idx, key="c2")
    root = S._resolve_index_root(spark, idx)
    assert root != idx
    top = S.ivf_query_index(spark, idx, qv, k=3, n_probe=1).collect()
    assert all(r["id"] >= 1000 for r in top)
    assert S.ivf_index_drift(spark, idx)["drift_ratio"] <= 1.001


def test_ivf_compact_crash_mid_pieces_keeps_old_version_live(
    spark, tmp_path, monkeypatch
):
    """Crash injection EARLIER — after the new vectors are written but
    before the sidecars: still invisible to readers (old flat version
    resolves), and the next compaction cleans the leftover."""
    import os

    import pytest

    from vectordb_watermark_spark.operators import similarity as S

    blob = _mk_blobs(spark, seed=7)
    idx = str(tmp_path / "ivf_crash2")
    S.ivf_write_index(blob([1.0] + [0.0] * 7, 100, 0), idx, n_centroids=4, key="c")

    real = S._put_sidecar

    def crash(sp, root, name, obj):
        if name == "centroids":
            raise RuntimeError("injected crash mid-pieces")
        real(sp, root, name, obj)

    monkeypatch.setattr(S, "_put_sidecar", crash)
    with pytest.raises(RuntimeError, match="mid-pieces"):
        S.ivf_compact_index(spark, idx, key="c2")
    monkeypatch.setattr(S, "_put_sidecar", real)

    assert S._resolve_index_root(spark, idx) == idx
    # the torn leftover is a PRIVATE staging dir (_v00001__{token}), never
    # the shared _v00001 placement — uncommitted garbage by construction
    import glob

    assert not os.path.exists(f"{idx}/_v00001")
    assert glob.glob(f"{idx}/_v00001__*")
    assert spark.read.parquet(f"{idx}/vectors").count() == 100

    S.ivf_compact_index(spark, idx, key="c2")
    root = S._resolve_index_root(spark, idx)
    assert root == f"{idx}/_v00001"  # fresh staging renamed in, committed
    assert spark.read.parquet(f"{root}/vectors").count() == 100
    # GC collected the crashed attempt's stale staging dir
    assert not glob.glob(f"{idx}/_v00001__*")


def test_ivf_manifest_versioning_gc_and_concurrent_commit(spark, tmp_path):
    """The commit log: each compaction commits one new version atomically,
    GC removes everything the current commit does not reference (old
    versions, superseded flat pieces, stale commit files), a mid-compaction
    reader resolves to a consistent version, and a racing commit for the
    same version loses loudly."""
    import os

    import pytest

    from vectordb_watermark_spark.operators import similarity as S

    blob = _mk_blobs(spark, seed=11)
    idx = str(tmp_path / "ivf_versions")
    S.ivf_write_index(blob([1.0] + [0.0] * 7, 80, 0), idx, n_centroids=4, key="c")

    S.ivf_compact_index(spark, idx, key="c2")
    assert S._current_index_version(spark, idx) == 1
    assert os.path.isdir(f"{idx}/_v00001")
    # first compaction superseded the flat pieces -> GC removed them
    assert not os.path.exists(f"{idx}/vectors")
    assert not os.path.exists(f"{idx}/centroids")

    S.ivf_compact_index(spark, idx, key="c3")
    assert S._current_index_version(spark, idx) == 2
    assert os.path.isdir(f"{idx}/_v00002")
    assert not os.path.exists(f"{idx}/_v00001")  # old version GC'd
    assert not os.path.exists(f"{idx}/_commits/00001")  # stale commit trimmed

    # rebuild of a versioned index goes through the manifest too
    S.ivf_write_index(blob([0.0] * 7 + [1.0], 90, 500), idx, n_centroids=4, key="c4")
    assert S._current_index_version(spark, idx) == 3
    root = S._resolve_index_root(spark, idx)
    assert spark.read.parquet(f"{root}/vectors").count() == 90

    # a racer that already committed version 4 makes this attempt lose loud
    S._commit_index_version(spark, idx, 4)
    os.makedirs(f"{idx}/_v00004", exist_ok=True)
    import shutil

    shutil.copytree(root, f"{idx}/_v00004", dirs_exist_ok=True)
    with pytest.raises(S.ConcurrentCompactionError):
        S._commit_index_version(spark, idx, 4)


def test_ivf_append_and_queries_resolve_through_manifest(spark, tmp_path):
    """All public entry points resolve the committed version: append after
    compaction lands inside the version dir, single + batch queries read
    it, and the batch tags preserved by compaction keep retry overwrites
    scoped to their own partitions."""
    from pyspark.sql import functions as SF

    from vectordb_watermark_spark.operators import similarity as S

    blob = _mk_blobs(spark, seed=13)
    idx = str(tmp_path / "ivf_resolve")
    a = blob([1.0] + [0.0] * 7, 100, 0)
    S.ivf_write_index(a, idx, n_centroids=4, key="c")
    S.ivf_compact_index(spark, idx, key="c2")
    root = S._resolve_index_root(spark, idx)

    fresh = blob([0.0] * 7 + [5.0], 30, 2000)
    assert S.ivf_append_index(fresh, idx) == 30
    stored = spark.read.parquet(f"{root}/vectors")
    assert stored.count() == 130
    assert stored.filter(SF.col("batch") == "append-1").count() == 30

    qv = [0.0] * 7 + [5.0]
    top = S.ivf_query_index(spark, idx, qv, k=5, n_probe=4).collect()
    assert all(r["id"] >= 2000 for r in top)

    qblock = spark.createDataFrame(
        [(0, qv)], "qid long, qvec array<double>"
    )
    bt = S.ivf_query_index_batch(spark, idx, qblock, k=5, n_probe=4).collect()
    assert sorted(r["id"] for r in bt) == sorted(r["id"] for r in top)


def test_ivf_full_lifecycle_through_manifest(spark, tmp_path):
    """Integration chain across every manifest path: flat build -> compact
    (versions the index) -> full REBUILD of the versioned index (new
    version, sequence restarts, batch=full only) -> append -> compact
    (tags + sequence carried, claims re-created) -> append.  Queries stay
    correct at every step and the final tag set is exactly what the
    carried sequence implies."""
    from pyspark.sql import functions as SF

    from vectordb_watermark_spark.operators import similarity as S

    blob = _mk_blobs(spark, seed=23)
    idx = str(tmp_path / "ivf_chain")
    a = blob([1.0] + [0.0] * 7, 80, 0)

    S.ivf_write_index(a, idx, n_centroids=4, key="k1")          # flat
    S.ivf_compact_index(spark, idx, key="k2")                   # -> v1
    assert S._current_index_version(spark, idx) == 1

    b = blob([0.0] * 7 + [3.0], 60, 1000)
    S.ivf_write_index(b, idx, n_centroids=4, key="k3")          # rebuild -> v2
    assert S._current_index_version(spark, idx) == 2
    root = S._resolve_index_root(spark, idx)
    meta = S._load_index_meta(spark, root)
    assert meta["next_append_seq"] == 1  # full rebuild restarts the sequence
    assert spark.read.parquet(f"{root}/vectors").count() == 60

    c = blob([0.0, 2.0] + [0.0] * 6, 20, 5000)
    assert S.ivf_append_index(c, idx) == 20                     # append-1
    S.ivf_compact_index(spark, idx, key="k4")                   # -> v3
    assert S._current_index_version(spark, idx) == 3
    root = S._resolve_index_root(spark, idx)
    tags = {
        r["batch"]
        for r in spark.read.parquet(f"{root}/vectors").select("batch").distinct().collect()
    }
    assert tags == {"full", "append-1"}  # preserved through the compaction
    assert S._load_index_meta(spark, root)["next_append_seq"] == 2
    import os

    assert os.path.exists(f"{root}/append_claims/append-1.claim")

    d = blob([0.0] * 7 + [9.0], 10, 9000)
    assert S.ivf_append_index(d, idx) == 10                     # append-2
    root = S._resolve_index_root(spark, idx)
    tags = {
        r["batch"]
        for r in spark.read.parquet(f"{root}/vectors").select("batch").distinct().collect()
    }
    assert tags == {"full", "append-1", "append-2"}
    assert spark.read.parquet(f"{root}/vectors").count() == 90

    # every population reachable; the b-rebuild wiped a's rows (correct:
    # rebuild = new contents), so only b/c/d ids exist
    ids = {r["id"] for r in spark.read.parquet(f"{root}/vectors").select("id").collect()}
    assert min(ids) >= 1000
    top = S.ivf_query_index(spark, idx, [0.0] * 7 + [9.0], k=3, n_probe=4).collect()
    assert all(r["id"] >= 9000 for r in top)
    q2 = S.ivf_query_index(spark, idx, [0.0, 2.0] + [0.0] * 6, k=3, n_probe=4).collect()
    assert all(5000 <= r["id"] < 6000 for r in q2)


def test_racing_compactions_are_isolated_not_just_detected(spark, tmp_path):
    """ADVICE r10 #1: two attempts building the same next version must
    never delete or overwrite each other's pieces.  Each builds in a
    private ``_v{N}__{token}`` staging dir; publication is an atomic
    rename + manifest commit.  Simulated interleaving: the winner stages,
    publishes, and commits; the loser (stale staging for the same
    sequence) then publishes — it must lose LOUDLY, remove only its own
    staging dir, and leave the winner's committed version byte-intact."""
    import glob
    import os

    import pytest

    from vectordb_watermark_spark.operators import similarity as S

    blob = _mk_blobs(spark, seed=31)
    idx = str(tmp_path / "ivf_race")
    S.ivf_write_index(blob([1.0] + [0.0] * 7, 60, 0), idx, n_centroids=4, key="c")

    # loser's attempt: fully stage version 1 pieces (private dir)
    loser = S._stage_index_version(spark, idx, 1)
    spark.read.parquet(f"{idx}/vectors").write.parquet(f"{loser}/vectors")
    S._put_sidecar(spark, loser, "centroids", S._load_centroids(spark, idx))

    # winner compacts normally in the meantime (commits _v00001)
    S.ivf_compact_index(spark, idx, key="c2", gc_keep_last=None)
    root = S._resolve_index_root(spark, idx)
    assert root == f"{idx}/_v00001"
    files_before = {
        p: os.path.getsize(p)
        for p in glob.glob(f"{root}/**/*", recursive=True)
        if os.path.isfile(p)
    }
    top_before = [
        r["id"]
        for r in S.ivf_query_index(spark, idx, [1.0] + [0.0] * 7, k=5, n_probe=4).collect()
    ]

    # loser's publish loses loudly — and touches nothing of the winner's
    with pytest.raises(S.ConcurrentCompactionError):
        S._publish_index_version(spark, idx, 1, loser)
    assert not os.path.exists(loser)  # its own staging removed
    files_after = {
        p: os.path.getsize(p)
        for p in glob.glob(f"{root}/**/*", recursive=True)
        if os.path.isfile(p)
    }
    assert files_after == files_before  # winner byte-count-intact
    top_after = [
        r["id"]
        for r in S.ivf_query_index(spark, idx, [1.0] + [0.0] * 7, k=5, n_probe=4).collect()
    ]
    assert top_after == top_before


def test_publish_recovers_placed_but_uncommitted_orphan(spark, tmp_path):
    """A crash BETWEEN the rename and the commit leaves a complete but
    uncommitted ``_v{N}`` orphan.  The retry must converge: remove the
    orphan, place its own staging, commit."""
    import os

    import pytest

    from vectordb_watermark_spark.operators import similarity as S

    blob = _mk_blobs(spark, seed=37)
    idx = str(tmp_path / "ivf_orphan")
    S.ivf_write_index(blob([1.0] + [0.0] * 7, 60, 0), idx, n_centroids=4, key="c")

    def crash(sp, p, seq):
        raise RuntimeError("injected crash between rename and commit")

    orig = S._commit_index_version
    S._commit_index_version = crash
    try:
        with pytest.raises(RuntimeError, match="between rename and commit"):
            S.ivf_compact_index(spark, idx, key="c2")
    finally:
        S._commit_index_version = orig

    # the crash hit AFTER the rename: _v00001 is placed but uncommitted
    assert os.path.isdir(f"{idx}/_v00001")
    assert S._current_index_version(spark, idx) is None
    assert S._resolve_index_root(spark, idx) == idx  # old version live

    # retry converges: orphan removed, fresh version committed
    S.ivf_compact_index(spark, idx, key="c2")
    assert S._current_index_version(spark, idx) == 1
    root = S._resolve_index_root(spark, idx)
    assert spark.read.parquet(f"{root}/vectors").count() == 60


def test_gc_keep_last_grace_and_inflight_staging(spark, tmp_path):
    """ADVICE r10 #2: ``gc_keep_last=K`` keeps the newest K committed
    versions (readers that resolved N-1 finish against intact files);
    GC skips IN-FLIGHT staging dirs (sequence above the committed one)
    and the public ``gc_index_versions`` collects on demand."""
    import os

    from vectordb_watermark_spark.operators import similarity as S

    blob = _mk_blobs(spark, seed=41)
    idx = str(tmp_path / "ivf_grace")
    S.ivf_write_index(blob([1.0] + [0.0] * 7, 60, 0), idx, n_centroids=4, key="c")

    S.ivf_compact_index(spark, idx, key="c2", gc_keep_last=2)   # -> v1
    # keep_last=2 with only one committed version: flat pieces ARE the
    # previous generation — still readable
    assert os.path.isdir(f"{idx}/_v00001")
    assert spark.read.parquet(f"{idx}/vectors").count() == 60

    S.ivf_compact_index(spark, idx, key="c3", gc_keep_last=2)   # -> v2
    # both committed versions retained; flat pieces now collected
    assert os.path.isdir(f"{idx}/_v00001")
    assert os.path.isdir(f"{idx}/_v00002")
    assert not os.path.exists(f"{idx}/vectors")
    # a reader that resolved v1 before the v2 commit still reads intact files
    assert spark.read.parquet(f"{idx}/_v00001/vectors").count() == 60
    assert os.path.exists(f"{idx}/_commits/00001")  # its commit file too

    # an in-flight staging dir for a FUTURE version survives GC ...
    future = S._stage_index_version(spark, idx, 3)
    os.makedirs(future)
    open(f"{future}/marker", "w").write("building")
    # ... while a stale staging dir at/below the committed seq is collected
    stale = S._stage_index_version(spark, idx, 1)
    os.makedirs(stale)

    S.gc_index_versions(spark, idx, keep_last=1)
    assert os.path.isdir(future)
    assert not os.path.exists(stale)
    assert not os.path.exists(f"{idx}/_v00001")     # grace window shrunk
    assert not os.path.exists(f"{idx}/_commits/00001")
    assert os.path.isdir(f"{idx}/_v00002")
    root = S._resolve_index_root(spark, idx)
    assert spark.read.parquet(f"{root}/vectors").count() == 60


def test_ivf_delete_ids_tombstones_queries_drift_and_fold(spark, tmp_path):
    """Round-11 delete support: tombstoned ids vanish from single AND
    batch query paths immediately, the drift metric reports the dead
    fraction over LIVE rows, and compaction FOLDS the tombstones (rows
    dropped from the rebuilt version, tombstone set not carried)."""
    import os

    from pyspark.sql import functions as SF

    from vectordb_watermark_spark.operators import similarity as S

    blob = _mk_blobs(spark, seed=53)
    idx = str(tmp_path / "ivf_del")
    a = blob([1.0] + [0.0] * 7, 60, 0)
    b = blob([0.0] * 7 + [5.0], 40, 1000)
    S.ivf_write_index(a.unionByName(b), idx, n_centroids=4, key="c")

    qv = [0.0] * 7 + [5.0]
    top = [r["id"] for r in S.ivf_query_index(spark, idx, qv, k=5, n_probe=4).collect()]
    victims = top[:3]

    assert S.ivf_delete_ids(spark, idx, victims) == 3
    assert S.ivf_delete_ids(spark, idx, []) == 0

    after = [r["id"] for r in S.ivf_query_index(spark, idx, qv, k=5, n_probe=4).collect()]
    assert not set(victims) & set(after)
    assert set(after) >= set(top[3:])  # survivors keep their places
    qblock = spark.createDataFrame([(0, qv)], "qid long, qvec array<double>")
    batch = [r["id"] for r in S.ivf_query_index_batch(spark, idx, qblock, k=5, n_probe=4).collect()]
    assert sorted(batch) == sorted(after)  # both query paths agree

    d = S.ivf_index_drift(spark, idx)
    assert d["n_rows"] == 97  # live rows only
    assert d["dead_fraction"] == round(3 / 100, 6)

    # a second delete batch ACCUMULATES (DataFrame form)
    more = spark.createDataFrame([(int(top[3]),)], "id long")
    assert S.ivf_delete_ids(spark, idx, more) == 1
    after2 = [r["id"] for r in S.ivf_query_index(spark, idx, qv, k=5, n_probe=4).collect()]
    assert int(top[3]) not in after2

    # compaction folds: deleted rows gone, tombstones not carried
    S.ivf_compact_index(spark, idx, key="c2")
    root = S._resolve_index_root(spark, idx)
    stored = spark.read.parquet(f"{root}/vectors")
    assert stored.count() == 96
    assert stored.filter(SF.col("id").isin([int(v) for v in victims] + [int(top[3])])).count() == 0
    assert not os.path.exists(f"{root}/tombstones")
    d2 = S.ivf_index_drift(spark, idx)
    assert d2["n_rows"] == 96 and d2["dead_fraction"] == 0.0
    after3 = [r["id"] for r in S.ivf_query_index(spark, idx, qv, k=5, n_probe=4).collect()]
    assert not set(victims) & set(after3)


@pytest.mark.parametrize("seed", [101, 202])
def test_ivf_lifecycle_model_fuzz(spark, tmp_path, seed):
    """Model-based fuzz of the whole persisted-index lifecycle: a random
    interleaving of append / delete / compact / gc / rebuild against a
    python model of the expected LIVE id set.  After every op the REAL
    query path (probe-all top-k) must see exactly the model's ids, the
    drift metric's dead_fraction must match the model's tombstone count,
    and resolution must stay consistent — the invariant net under which
    any manifest/tombstone/claim bug would surface as a concrete
    mismatch rather than a race heisenbug."""
    import numpy as np

    from vectordb_watermark_spark.operators import similarity as S

    rng = np.random.default_rng(seed)
    dim = 8
    idx = str(tmp_path / f"ivf_fuzz_{seed}")
    next_id = [0]

    def fresh_rows(n):
        lo = next_id[0]
        next_id[0] += n
        return [
            (
                lo + i,
                [float(round(x, 4)) for x in rng.standard_normal(dim)],
            )
            for i in range(n)
        ]

    def df_of(rows):
        return spark.createDataFrame(rows, "id long, emb array<float>")

    first = fresh_rows(24)
    live = {r[0] for r in first}
    dead: set[int] = set()
    S.ivf_write_index(df_of(first), idx, n_centroids=4, key="fz")

    def check():
        qv = [0.0] * dim
        got = {
            int(r["id"])
            for r in S.ivf_query_index(
                spark, idx, qv, k=len(live) + 8, n_probe=4
            ).collect()
        }
        assert got == live, f"query sees {len(got)} ids, model has {len(live)}"
        d = S.ivf_index_drift(spark, idx)
        assert d["n_rows"] == len(live)
        total = len(live) + len(dead)
        assert d["dead_fraction"] == (round(len(dead) / total, 6) if total else 0.0)

    check()
    ops = rng.choice(
        ["append", "delete", "compact", "gc", "rebuild"],
        size=22,
        p=[0.35, 0.3, 0.15, 0.1, 0.1],
    )
    for op in ops:
        if op == "append":
            rows = fresh_rows(int(rng.integers(3, 9)))
            S.ivf_append_index(df_of(rows), idx)
            live |= {r[0] for r in rows}
        elif op == "delete" and live:
            k = int(rng.integers(1, max(2, len(live) // 4)))
            victims = set(
                int(v) for v in rng.choice(sorted(live), size=k, replace=False)
            )
            S.ivf_delete_ids(spark, idx, sorted(victims))
            live -= victims
            dead |= victims
        elif op == "compact":
            S.ivf_compact_index(spark, idx, key=f"fz{int(rng.integers(1e6))}")
            dead = set()  # folded
        elif op == "gc":
            S.gc_index_versions(spark, idx, keep_last=int(rng.integers(1, 3)))
        elif op == "rebuild":
            rows = fresh_rows(int(rng.integers(10, 20)))
            S.ivf_write_index(df_of(rows), idx, n_centroids=4, key="fzr")
            live = {r[0] for r in rows}
            dead = set()
        check()


def test_index_info_describe(spark, tmp_path):
    """index_info: operational DESCRIBE for both persisted index kinds —
    version/geometry/sequence/tag-counts/tombstones without the caller
    touching the directory layout."""
    from vectordb_watermark_spark.operators import pq as P
    from vectordb_watermark_spark.operators import similarity as S

    blob = _mk_blobs(spark, seed=67)
    idx = str(tmp_path / "ivf_info")
    S.ivf_write_index(blob([1.0] + [0.0] * 7, 40, 0), idx, n_centroids=4, key="c")
    S.ivf_append_index(blob([0.0] * 7 + [3.0], 10, 1000), idx)
    S.ivf_delete_ids(spark, idx, [0, 1, 2])

    info = S.index_info(spark, idx)
    assert info["kind"] == "ivf"
    assert info["version"] is None and info["resolved_root"] == idx
    assert info["n_centroids"] == 4 and info["dim"] == 8
    assert info["next_append_seq"] == 2
    assert info["n_rows_live"] == 47 and info["n_tombstones"] == 3
    assert info["batch_tags"] == {"full": 37, "append-1": 10}
    assert info["has_drift_baseline"]

    S.ivf_compact_index(spark, idx, key="c2")
    info2 = S.index_info(spark, idx)
    assert info2["version"] == 1 and info2["resolved_root"].endswith("_v00001")
    assert info2["n_rows_live"] == 47 and info2["n_tombstones"] == 0

    # the PQ kind, same tagged layout
    pqi = str(tmp_path / "pq_info")
    rows = blob([1.0] + [0.0] * 7, 40, 0)
    P.ivf_pq_write_index(rows, pqi, n_centroids=4, m=4, n_codes=8)
    pinfo = S.index_info(spark, pqi)
    assert pinfo["kind"] == "ivf_pq" and pinfo["next_append_seq"] == 1
    assert pinfo["batch_tags"] == {"full": 40}
    assert pinfo["n_rows_live"] == 40 and pinfo["has_drift_baseline"]


def test_split_by_components_atomic_and_deterministic(spark):
    """Near-dup-aware split: every member of a pair-graph component lands
    on one side; singletons split independently; deterministic and
    partition-invariant; fraction sane on many singleton groups."""
    from vectordb_watermark_spark.operators.quality import split_by_components

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(400)], "doc_id long, text string"
    )
    # clusters: {0,1,2}, {5,6}, {10,11,12,13} via chains
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6), (10, 11), (11, 12), (12, 13)],
        "a long, b long",
    )
    out = split_by_components(docs, pairs, val_frac=0.3, key="t-nds")
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(rows) == 400
    for cluster in ([0, 1, 2], [5, 6], [10, 11, 12, 13]):
        assert len({rows[i] for i in cluster}) == 1, cluster
    # deterministic + partition-invariant
    again = {
        r["doc_id"]: r["split"]
        for r in split_by_components(
            docs.repartition(7), pairs.repartition(3), val_frac=0.3, key="t-nds"
        ).collect()
    }
    assert again == rows
    # fraction in expectation over ~395 groups
    v = sum(1 for s in rows.values() if s == "val") / 400
    assert 0.2 < v < 0.4, v
    import pytest as _pt
    with _pt.raises(ValueError, match="val_frac"):
        split_by_components(docs, pairs, val_frac=1.5)


def test_group_kfold_atomicity_and_balance(spark):
    from vectordb_watermark_spark.operators.quality import group_kfold

    df = spark.createDataFrame(
        [(i, f"g{i % 50}") for i in range(1000)], "id long, grp string"
    )
    out = group_kfold(df, "grp", n_folds=5, key="t-kf")
    rows = out.collect()
    by_grp = {}
    for r in rows:
        by_grp.setdefault(r["grp"], set()).add(r["fold"])
    assert all(len(v) == 1 for v in by_grp.values())  # atomic per group
    folds = {r["fold"] for r in rows}
    assert folds <= set(range(5))
    assert len(folds) >= 4  # 50 groups over 5 folds: all-but-degenerate
    import pytest as _pt
    with _pt.raises(ValueError, match="n_folds"):
        group_kfold(df, "grp", n_folds=1)


def test_semantic_contamination_matches_numpy(spark):
    """Embedding-level decontamination: max_cos/argmax agree with a dense
    numpy model, exact ties pick the smallest bench id, threshold keeps
    only the drop list, and the bench-side guards fail loudly."""
    import numpy as np
    import pytest as _pytest

    from vectordb_watermark_spark.operators.dedup import semantic_contamination

    rng = np.random.default_rng(23)
    D = 8
    B = rng.standard_normal((5, D))
    X = np.vstack([
        B[2] * 3.0,                 # colinear with bench 2 -> cos 1
        rng.standard_normal(D),
        -B[0],                      # anti-parallel -> cos -1 vs 0
        rng.standard_normal(D),
    ])
    docs = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))], "id long, emb array<double>"
    )
    bench = spark.createDataFrame(
        [(100 + i, B[i].tolist()) for i in range(len(B))],
        "id long, emb array<double>",
    )
    got = {
        int(r["id"]): (int(r["bench_id"]), r["max_cos"])
        for r in semantic_contamination(docs, bench, round_dp=9).collect()
    }
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
    C = Xn @ Bn.T
    for i in range(len(X)):
        j = int(C[i].argmax())
        assert got[i][0] == 100 + j
        assert got[i][1] == _pytest.approx(round(float(C[i, j]), 9), abs=1e-9)
    assert got[0] == (102, 1.0)

    # exact tie -> smallest bench id: duplicate bench vector under two ids
    bench2 = spark.createDataFrame(
        [(7, B[2].tolist()), (3, B[2].tolist())], "id long, emb array<double>"
    )
    tied = semantic_contamination(
        docs.filter(F.col("id") == 0), bench2
    ).collect()[0]
    assert tied["bench_id"] == 3

    # threshold = the drop list
    hits = semantic_contamination(docs, bench, threshold=0.999).collect()
    assert [int(r["id"]) for r in hits] == [0]

    with _pytest.raises(ValueError, match="empty benchmark"):
        semantic_contamination(docs, bench.filter(F.col("id") < 0))
    with _pytest.raises(ValueError, match="max_bench_rows"):
        semantic_contamination(docs, bench, max_bench_rows=2)


def test_scrub_repeated_lines_semantics(spark):
    """C4-style line dedup: lines repeating across >= min_df docs vanish,
    unique lines keep their original order, empty lines never count
    toward df, fully-boilerplate docs survive as empty strings, and a
    precomputed corpus table scrubs shards identically."""
    from vectordb_watermark_spark.operators.dedup import (
        line_frequencies,
        scrub_repeated_lines,
    )

    bp = "subscribe to our newsletter"
    rows = [
        (1, f"alpha body one\n{bp}\nalpha body two"),
        (2, f"{bp}\nbeta body"),
        (3, "gamma body only"),
        (4, bp),                       # boilerplate-only doc
        (5, f"delta start\n\ndelta end"),  # empty line preserved? removed? —
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    freq = {r["line"]: r["df"] for r in line_frequencies(docs).collect()}
    assert freq == {bp: 3}

    got = {
        r["doc_id"]: r["text"]
        for r in scrub_repeated_lines(docs).collect()
    }
    assert got[1] == "alpha body one\nalpha body two"
    assert got[2] == "beta body"
    assert got[3] == "gamma body only"
    assert got[4] == ""          # row survives, text scrubbed away
    assert got[5] == "delta start\n\ndelta end"  # empties ride through

    # shard reuse: scrubbing half the corpus against the CORPUS table
    # equals the full-scrub rows for those docs
    corpus_tbl = line_frequencies(docs)
    shard = docs.filter(F.col("doc_id") <= 2)
    got_shard = {
        r["doc_id"]: r["text"]
        for r in scrub_repeated_lines(shard, line_df=corpus_tbl).collect()
    }
    assert got_shard == {1: got[1], 2: got[2]}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_df"):
        line_frequencies(docs, min_df=0)


def test_containment_pairs_asymmetric(spark):
    from vectordb_watermark_spark.operators.dedup import containment_pairs

    big = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (1, big),
        (2, "alpha beta gamma"),          # fully contained in 1
        (3, "alpha beta nothing shared"),  # partial
        (4, "unrelated words entirely"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    prs = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "a long, b long")
    out = {(r["a"], r["b"]): r for r in containment_pairs(
        df, prs, threshold=0.5).collect()}
    # excerpt: cont(2 in 1) would be b_in_a here (b=2 smaller set)
    r = out[(1, 2)]
    assert r["cont_b_in_a"] == 1.0       # all of 2's tokens inside 1
    assert r["cont_a_in_b"] == 0.3       # 3 of 10
    assert r["jaccard"] == 0.3           # Jaccard misses the excerpt
    r3 = out[(1, 3)]
    assert r3["cont_b_in_a"] == 0.5      # 2 of 4 tokens shared
    assert (1, 4) not in out             # below threshold both ways
    # unfiltered brute force agrees with a python reference
    ref_inter = len(set(big.split()) & set(docs[2][1].split()))
    assert r3["cont_b_in_a"] == ref_inter / len(set(docs[2][1].split()))


def test_rare_shingle_recovers_excerpt_band_path_misses(spark):
    """The reason rare_shingle_candidates exists (VERDICT r12 #3): a
    20-token excerpt inside a 100x-longer host has Jaccard 0.01, so the
    banded-MinHash candidate path NEVER surfaces it, while the shared
    low-DF shingle join pins it exactly."""
    from vectordb_watermark_spark.operators.dedup import (
        containment_pairs,
        minhash_candidate_pairs,
        rare_shingle_candidates,
    )

    host_toks = [f"w{i:04d}" for i in range(1, 2001)]
    host = " ".join(host_toks)
    excerpt = " ".join(host_toks[40:60])  # tokens 41..60, ~120 chars
    decoys = [
        (100 + i, " ".join(f"d{i}x{j}" for j in range(40))) for i in range(20)
    ]
    df = spark.createDataFrame(
        [(1, host), (2, excerpt)] + decoys, "doc_id long, text string"
    )

    band = {(r["a"], r["b"]) for r in minhash_candidate_pairs(df).collect()}
    assert (1, 2) not in band  # the band path structurally misses it

    rare = {(r["a"], r["b"]) for r in rare_shingle_candidates(df).collect()}
    assert rare == {(1, 2)}  # recovered; DF-1 decoy shingles pin nothing

    out = {
        (r["a"], r["b"]): r
        for r in containment_pairs(
            df, threshold=0.9, candidates="rare_shingle"
        ).collect()
    }
    r = out[(1, 2)]
    assert r["cont_b_in_a"] == 1.0  # every excerpt token inside the host
    assert r["cont_a_in_b"] == 0.01
    assert r["jaccard"] == 0.01  # the geometry Jaccard misses

    # partition invariance: same pairs and scores on a reshuffled input
    out2 = {
        (r["a"], r["b"]): (r["cont_a_in_b"], r["cont_b_in_a"], r["jaccard"])
        for r in containment_pairs(
            df.repartition(7), threshold=0.9, candidates="rare_shingle"
        ).collect()
    }
    assert out2 == {
        k: (v["cont_a_in_b"], v["cont_b_in_a"], v["jaccard"])
        for k, v in out.items()
    }


def test_containment_default_path_recovers_planted_excerpt(spark):
    """VERDICT r13 #2: the DEFAULT candidate source is rare_shingle, so a
    bare containment_pairs(df, threshold=...) call — no candidates kwarg,
    no pairs — recovers the planted excerpt pair even when auto_rows
    would have routed the old minhash default through banding (which the
    A/B measured at 0% planted recall).  auto_rows=0 forces the
    above-threshold scale route to prove the default never falls back to
    the blind band path."""
    from vectordb_watermark_spark.operators.dedup import containment_pairs

    host_toks = [f"w{i:04d}" for i in range(1, 2001)]
    host = " ".join(host_toks)
    excerpt = " ".join(host_toks[40:60])
    decoys = [
        (100 + i, " ".join(f"d{i}x{j}" for j in range(40))) for i in range(20)
    ]
    df = spark.createDataFrame(
        [(1, host), (2, excerpt)] + decoys, "doc_id long, text string"
    )

    found = {
        (r["a"], r["b"]): r
        for r in containment_pairs(df, threshold=0.9, auto_rows=0).collect()
    }
    assert set(found) == {(1, 2)}
    assert found[(1, 2)]["cont_b_in_a"] == 1.0
    assert found[(1, 2)]["jaccard"] == 0.01

    # the old default stays reachable for the Jaccard-adjacent use — and
    # above auto_rows it is exactly the band path that misses the excerpt
    band_found = containment_pairs(
        df, threshold=0.9, auto_rows=0, candidates="minhash"
    ).collect()
    assert (1, 2) not in {(r["a"], r["b"]) for r in band_found}


def test_rare_shingle_df_cut_drops_boilerplate(spark):
    """Shingles shared by more than max_df docs are boilerplate, dropped
    BEFORE the join (the fan-out bound that keeps the candidate join from
    exploding at scale); raising max_df recovers the many-way copies."""
    from vectordb_watermark_spark.operators.dedup import rare_shingle_candidates

    boiler = "same eight token boilerplate header repeated across docs"
    rows = [(i, f"{boiler} uniq{i}a uniq{i}b") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert rare_shingle_candidates(df, shingle_k=8, max_df=5).count() == 0
    assert rare_shingle_candidates(df, shingle_k=8, max_df=10).count() == 45

    with pytest.raises(ValueError):
        rare_shingle_candidates(df, shingle_k=1)
    with pytest.raises(ValueError):
        rare_shingle_candidates(df, max_df=1)
    from vectordb_watermark_spark.operators.dedup import containment_pairs

    with pytest.raises(ValueError):
        containment_pairs(df, candidates="nope")


def _jobs_submitted(spark, fn):
    """``(fn(), ids of the Spark jobs it submitted)`` — read from the
    status tracker after the listener bus has drained, so a job submitted
    just before the second read is not missed."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup())
    out = fn()
    bus.waitUntilEmpty()
    return out, set(sc.statusTracker().getJobIdsForGroup()) - before


@pytest.mark.parametrize("kind", [
    "centroids", "index_meta", "ivf_drift_baseline", "fold_fence",
    "pq_codebooks", "rotation", "pq_drift_baseline",
    "rates_pin", "shingles_pin", "psi_edges",
])
def test_sidecar_roundtrip_submits_no_spark_job(spark, tmp_path, kind):
    """Every driver-held sidecar — index and IVF-PQ pieces and the stream
    stores' pins and PSI edges — is written and read back bit-exactly
    through the FileSystem, and neither the write nor the read submits a
    Spark job."""
    import numpy as np

    from vectordb_watermark_spark.operators import pq as P
    from vectordb_watermark_spark.operators import similarity as S
    from vectordb_watermark_spark.streaming import curation as C

    rng = np.random.default_rng(7)
    root = str(tmp_path / "store")
    cents = (rng.standard_normal((8, 64)) * 1e-3).tolist()
    books = rng.standard_normal((8, 16, 8))
    R = np.linalg.qr(rng.standard_normal((64, 64)))[0]
    hist = rng.integers(0, 500, (8, 16))
    pq_base = {"base_energy": 0.1 + 0.2, "base_rows": 1200,
               "code_hist": hist.tolist()}

    def sidecar(name, value):
        return lambda: S._put_sidecar(spark, root, name, value)

    cases = {
        "centroids": (sidecar("centroids", cents),
                      lambda: S._load_centroids(spark, root), cents),
        "index_meta": (
            lambda: S._write_index_meta_atomic(spark, root, "bigint", 64, 7),
            lambda: S._load_index_meta(spark, root),
            {"id_type": "bigint", "dim": 64, "next_append_seq": 7},
        ),
        "ivf_drift_baseline": (
            sidecar("drift_baseline", {"base_distortion": 1 / 3, "base_rows": 9}),
            lambda: S._get_sidecar(spark, root, "drift_baseline"),
            {"base_distortion": 1 / 3, "base_rows": 9},
        ),
        "fold_fence": (sidecar("fold_fence", 41),
                       lambda: S._load_fold_fence(spark, root), 41),
        "pq_codebooks": (sidecar("pq_codebooks", books.tolist()),
                         lambda: P._load_codebooks(spark, root), books),
        "rotation": (sidecar("rotation", R.tolist()),
                     lambda: P._load_rotation(spark, root), R),
        "pq_drift_baseline": (
            sidecar("drift_baseline", pq_base),
            lambda: S._get_sidecar(spark, root, "drift_baseline"), pq_base,
        ),
        "rates_pin": (
            lambda: C._pin_config(
                spark, root, "granularity", {"granularity": "hour"}, str
            ),
            lambda: S._get_sidecar(spark, root, "granularity"),
            {"granularity": "hour"},
        ),
        "shingles_pin": (
            lambda: C._pin_config(
                spark, root, "pin", {"shingle_k": 8, "max_df": 5}, str
            ),
            lambda: S._get_sidecar(spark, root, "pin"),
            {"shingle_k": 8, "max_df": 5},
        ),
        "psi_edges": (
            sidecar("edges", [-0.4, -0.1, 0.0, 0.1 + 0.2]),
            lambda: S._get_sidecar(spark, root, "edges"),
            [-0.4, -0.1, 0.0, 0.1 + 0.2],
        ),
    }
    write, read, expected = cases[kind]

    # the counter sees a real job
    _, jobs = _jobs_submitted(spark, lambda: spark.range(3).count())
    assert jobs
    _, jobs = _jobs_submitted(spark, write)
    assert not jobs, f"sidecar write submitted jobs {sorted(jobs)}"
    _, jobs = _jobs_submitted(spark, write)  # overwrite: the staged swap
    assert not jobs, f"sidecar rewrite submitted jobs {sorted(jobs)}"
    got, jobs = _jobs_submitted(spark, read)
    assert not jobs, f"sidecar read submitted jobs {sorted(jobs)}"
    if isinstance(expected, np.ndarray):
        assert np.array_equal(got, expected)
    else:
        assert got == expected


def test_legacy_parquet_sidecar_fails_loudly(spark, tmp_path):
    """A sidecar in the older layout — a parquet directory where the JSON
    file now lives — is never read as absent: an append and a streaming
    micro-batch both fail ("Is a directory") before writing, so no new rows
    land beside centroids the index was not built with."""
    import os
    import shutil

    from vectordb_watermark_spark.operators import similarity as S
    from vectordb_watermark_spark.streaming.curation import incremental_index

    blob = _mk_blobs(spark, seed=3)
    idx = str(tmp_path / "legacy")
    cents = S.ivf_write_index(
        blob([1.0] + [0.0] * 7, 40, 0), idx, n_centroids=4, key="c"
    )
    os.remove(f"{idx}/centroids")
    spark.createDataFrame(
        list(enumerate(cents)), "centroid int, cvec array<double>"
    ).coalesce(1).write.parquet(f"{idx}/centroids")

    def stored():
        return sorted(
            (r["id"], r["batch"])
            for r in spark.read.parquet(f"{idx}/vectors").collect()
        )

    before = stored()
    with pytest.raises(Exception, match="Is a directory"):
        S.ivf_append_index(blob([0.0, 1.0] + [0.0] * 6, 10, 100), idx)

    src = tmp_path / "legacy_src"
    stage = tmp_path / "legacy_stage"
    blob([0.0, 1.0] + [0.0] * 6, 10, 200).coalesce(1).write.parquet(str(stage))
    src.mkdir()
    shutil.copy(next(stage.glob("part-*.parquet")), src / "a.parquet")
    q = incremental_index(
        spark.readStream.schema("id long, emb array<float>").parquet(str(src)),
        idx, str(tmp_path / "legacy_ckpt"), n_centroids=4, key="c",
    ).trigger(availableNow=True).start()
    with pytest.raises(Exception, match="Is a directory"):
        q.awaitTermination(120)
    assert stored() == before
