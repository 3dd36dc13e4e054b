"""The two watermark workloads: ``wm_clean`` (embed -> materialize ->
blind extract, then Gaussian + subset attack on the watermarked table and
blind extract again, all with broadcast kNN) and ``wm_attacked`` (the same
attack on an LSH-embedded table, then blind extract).

The untraced operation calls ``embed_watermark`` / ``extract_watermark`` as
a user would.  The traced operation composes the same public functions
those two call, in the same order and with the same arguments, and forces
each boundary with one eager materialization so every layer gets its own
span.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np

from perfbench import gen

KEY = "perfbench-key"
RATE = 0.1
K = 16


def message_for(seed: int) -> str:
    return f"wm-seed-{seed % 10**8:08d}"


def nonce_for(seed: int) -> bytes:
    return hashlib.sha256(f"perfbench-nonce-{seed}".encode()).digest()[:12]


def _carrier_fidelity(spark, before, after, carrier_ids) -> float:
    """Mean cosine between each carrier vector before and after embedding."""
    from pyspark.sql import functions as F

    rows = (
        before.join(carrier_ids, "id")
        .select("id", F.col("emb").alias("a"))
        .join(after.select("id", F.col("emb").alias("b")), "id")
        .collect()
    )
    a = np.array([r["a"] for r in rows], dtype=np.float64)
    b = np.array([r["b"] for r in rows], dtype=np.float64)
    cos = (a * b).sum(1) / (np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1))
    return float(cos.mean())


def _quality(out) -> dict:
    margins = [s["winner_count"] / s["samples"] for s in out.stats if s["samples"]]
    return {
        "decode_valid_ratio": out.valid_decodes / out.total_decodes if out.total_decodes else 0.0,
        "vote_margin_min": min(margins) if len(margins) == 16 else 0.0,
    }


def staged_carriers(tr, df, method: str, counters: dict):
    """The stages embed and extract share — codec and graph features, kNN
    build and probe, gated degrees, carrier selection — each under its own
    span.  Returns (codec, cached graph features, cached carriers, ids)."""
    from vectordb_watermark_spark.operators import knn as KN
    from vectordb_watermark_spark.operators.selection import select_carriers
    from vectordb_watermark_spark.plans.codec import with_graph_features
    from vectordb_watermark_spark.sources.io import vector_dim
    from vectordb_watermark_spark.training import DEFAULT_RESULTS_DIR, load_codec

    with tr.span("codec.gfeat"):
        codec = load_codec(vector_dim(df), KEY, DEFAULT_RESULTS_DIR)
        gdf = with_graph_features(df, codec).cache()
        gdf.count()
    with tr.span("knn.build"):
        edges = KN.knn_edges(gdf, "id", "gfeat", k=K, method=method)
    with tr.span("knn.probe"):
        edges = edges.localCheckpoint(eager=True)
        counters["knn.edges"] += edges.count()
    with tr.span("knn.degrees"):
        degrees = KN.gated_in_degrees(df, edges, "id", k=K).localCheckpoint(eager=True)
        n = degrees.count()
        counters["knn.gate_excluded"] += df.count() - n
    with tr.span("selection"):
        carriers = select_carriers(degrees, key=KEY, rate=RATE, total=n).cache()
        ids = {r["id"] for r in carriers.select("id").collect()}
        counters["selection.carriers"] += len(ids)
    return codec, gdf, carriers, ids


def staged_embed(tr, df, message: str, nonce: bytes, method: str, counters: dict):
    """``embed_watermark`` composed stage by stage, each boundary eager.
    Returns (watermarked table, nonce hex, carrier ids)."""
    from pyspark.sql import functions as F

    from vectordb_watermark_spark.functions import bits as B
    from vectordb_watermark_spark.functions import crypto as C
    from vectordb_watermark_spark.plans.embed import _msg24_col, encode_carriers
    from vectordb_watermark_spark.sources.io import merge_update

    with tr.span("embed"):
        with tr.span("crypto.encrypt"):
            cipher32, nonce_hex = C.encrypt_message_to_32chars(message, KEY, nonce=nonce)
            payloads = B.partition_message(cipher32)
        codec, gdf, carriers, ids = staged_carriers(tr, df, method, counters)
        with tr.span("embed.encode"):
            stego = encode_carriers(
                df.select("id", "emb"),
                carriers.select("id", _msg24_col(F.col("blk"), payloads)),
                codec,
            ).localCheckpoint(eager=True)
        with tr.span("io.merge"):
            updated = merge_update(df, stego, key_col="id", update_cols=["emb"])
            updated = updated.localCheckpoint(eager=True)
        gdf.unpersist()
        carriers.unpersist()
    return updated, nonce_hex, ids


def staged_extract(tr, df, nonce_hex: str, method: str, counters: dict):
    """``extract_watermark`` composed stage by stage, each boundary eager.
    Returns (message or None, carrier ids, (total, valid) decodes)."""
    from vectordb_watermark_spark.functions import bits as B
    from vectordb_watermark_spark.functions import crypto as C
    from vectordb_watermark_spark.operators.vote import robust_vote_counts
    from vectordb_watermark_spark.plans.extract import collect_vote_tallies, decode_carriers

    with tr.span("extract"):
        codec, gdf, carriers, ids = staged_carriers(tr, df, method, counters)
        with tr.span("extract.decode"):
            decoded = decode_carriers(df, carriers, codec).localCheckpoint(eager=True)
        with tr.span("extract.tally"):
            total, n_valid, counts = collect_vote_tallies(decoded)
        with tr.span("vote"):
            voted = robust_vote_counts(counts)
        cipher32 = B.assemble_message({blk: p for blk, (p, _, _) in voted.items()})
        message = None
        if cipher32 is not None:
            with tr.span("crypto.decrypt"):
                try:
                    message = C.decrypt_32chars_to_message(cipher32, KEY, nonce_hex)
                except ValueError:  # a wrong extract fails authentication
                    message = None
        gdf.unpersist()
        carriers.unpersist()
    return message, ids, (total, n_valid)


def attacked(wm, seed: int):
    """Gaussian noise (sigma 0.05) on half the rows, then keep half the rows."""
    from vectordb_watermark_spark.operators.attacks import gaussian_attack, subset_attack

    noisy = gaussian_attack(wm, ratio=0.5, sigma=0.05, seed_key=f"gauss-{seed}")
    return subset_attack(noisy, keep_ratio=0.5, seed_key=f"subset-{seed}")


class WatermarkClean:
    """Flagship round trip on a clustered 384-d corpus, broadcast kNN, then
    the same table attacked and extracted again."""

    name = "wm_clean"
    method = "broadcast"
    #: corpus rows per size.  Below ~6,000 rows the attack leaves too few
    #: carriers per block for the vote, so the smoke-test size is the
    #: benchmark size
    sizes = {"small": 6000, "tiny": 6000}
    #: two timed operations after a warm-up one: the host's speed drifts by
    #: a tenth from one 10 s operation to the next, and one operation's
    #: median step is the mean of only two of its four steps
    min_ops = 2

    def __init__(self, spark, seed: int, work: str, size: str = "small"):
        self.spark, self.seed = spark, seed
        self.n = self.sizes[size]
        self.msg, self.nonce = message_for(seed), nonce_for(seed)
        self.path = os.path.join(work, "vectors.parquet")
        self.quality: dict = {}
        self.reference: dict = {}

    def corpus(self) -> np.ndarray:
        return gen.clustered_vectors(self.seed, self.n)

    def prepare(self) -> None:
        gen.write_vectors(self.path, self.corpus())
        self.spark.read.parquet(self.path).count()

    def once(self) -> None:
        pass

    def warm(self) -> dict:
        """One operation: a session's first runs about twice as long."""
        return self.op()

    def op(self) -> dict:
        from vectordb_watermark_spark.plans.embed import embed_watermark
        from vectordb_watermark_spark.plans.extract import extract_watermark

        t0 = time.perf_counter()
        df = self.spark.read.parquet(self.path).cache()
        res = embed_watermark(df, self.msg, KEY, rate=RATE, knn_method=self.method, k=K,
                              nonce=self.nonce)
        updated = res.updated.localCheckpoint(eager=True)
        t1 = time.perf_counter()
        out = extract_watermark(updated, KEY, res.nonce_hex, embed_meta=res.metadata)
        t2 = time.perf_counter()
        att = attacked(updated, self.seed).localCheckpoint(eager=True)
        t3 = time.perf_counter()
        out_att = extract_watermark(att, KEY, res.nonce_hex, embed_meta=res.metadata)
        t4 = time.perf_counter()
        bad = [f"{what}: {o.error or 'recovered ' + repr(o.message)}"
               for what, o in (("clean", out), ("attacked", out_att))
               if not (o.success and o.message == self.msg)]
        if not self.reference:
            self.reference = {
                "carriers": {r["id"] for r in res.carriers.select("id").collect()},
                "decodes": (out.total_decodes, out.valid_decodes),
                "attacked_decodes": (out_att.total_decodes, out_att.valid_decodes),
            }
            self.quality = _quality(out_att)
            self.quality["clean_decode_valid_ratio"] = _quality(out)["decode_valid_ratio"]
            self.quality["fidelity_cos"] = _carrier_fidelity(
                self.spark, df, updated, res.carriers.select("id"))
        res.carriers.unpersist()
        df.unpersist()
        return {"ok": not bad, "error": "; ".join(bad) or None,
                "op_s": t4 - t0, "steps": [t1 - t0, t2 - t1, t3 - t2, t4 - t3],
                "parts": {"embed_s": t1 - t0, "extract_s": t2 - t1, "attack_s": t3 - t2,
                          "attacked_extract_s": t4 - t3},
                "checks": 2, "failed_checks": len(bad)}

    def traced_op(self, tr) -> dict:
        counters = dict.fromkeys(("knn.edges", "knn.gate_excluded", "selection.carriers"), 0)
        with tr.span("io.scan"):
            df = self.spark.read.parquet(self.path).cache()
            df.count()
        updated, nonce_hex, embed_ids = staged_embed(
            tr, df, self.msg, self.nonce, self.method, counters)
        message, _, decodes = staged_extract(tr, updated, nonce_hex, self.method, counters)
        with tr.span("attacks"):
            att = attacked(updated, self.seed).localCheckpoint(eager=True)
        message_att, ids, decodes_att = staged_extract(tr, att, nonce_hex, self.method, counters)
        df.unpersist()
        counters["extract.carrier_overlap"] = len(ids & embed_ids) / max(1, len(embed_ids))
        ref = self.reference
        ok = (message == message_att == self.msg and embed_ids == ref["carriers"]
              and decodes == ref["decodes"] and decodes_att == ref["attacked_decodes"])
        return {"ok": ok, "counters": counters}


class WatermarkAttacked(WatermarkClean):
    """LSH-embedded table under Gaussian noise then subset deletion."""

    name = "wm_attacked"
    method = "lsh"
    #: the first operation after the warm-up is still slower (JIT); the
    #: median of three is not moved by it
    min_ops = 3

    def __init__(self, spark, seed: int, work: str, size: str = "small"):
        super().__init__(spark, seed, work, size)
        self.wm_path = os.path.join(work, "watermarked.parquet")

    def corpus(self) -> np.ndarray:
        # the same generator under a different seed than wm_clean's
        return gen.clustered_vectors(self.seed + 7919, self.n)

    def once(self) -> None:
        from vectordb_watermark_spark.plans.embed import embed_watermark

        df = self.spark.read.parquet(self.path).cache()
        res = embed_watermark(df, self.msg, KEY, rate=RATE, knn_method=self.method, k=K,
                              nonce=self.nonce)
        res.updated.write.mode("overwrite").parquet(self.wm_path)
        self.nonce_hex, self.meta = res.nonce_hex, res.metadata
        self.embed_ids = {r["id"] for r in res.carriers.select("id").collect()}
        self.quality = {"fidelity_cos": _carrier_fidelity(
            self.spark, df, self.spark.read.parquet(self.wm_path), res.carriers.select("id"))}
        res.carriers.unpersist()
        df.unpersist()

    def op(self) -> dict:
        from vectordb_watermark_spark.plans.extract import extract_watermark

        t0 = time.perf_counter()
        att = attacked(self.spark.read.parquet(self.wm_path), self.seed).localCheckpoint(
            eager=True)
        t1 = time.perf_counter()
        out = extract_watermark(att, KEY, self.nonce_hex, embed_meta=self.meta)
        t2 = time.perf_counter()
        ok = bool(out.success and out.message == self.msg)
        if not self.reference:
            self.reference = {"decodes": (out.total_decodes, out.valid_decodes)}
            self.quality.update(_quality(out))
        return {"ok": ok, "error": None if ok else out.error,
                "op_s": t2 - t0, "steps": [t1 - t0, t2 - t1],
                "parts": {"attack_s": t1 - t0, "extract_s": t2 - t1},
                "checks": 1}

    def traced_op(self, tr) -> dict:
        counters = dict.fromkeys(("knn.edges", "knn.gate_excluded", "selection.carriers"), 0)
        with tr.span("io.scan"):
            wm = self.spark.read.parquet(self.wm_path).cache()
            wm.count()
        with tr.span("attacks"):
            att = attacked(wm, self.seed).localCheckpoint(eager=True)
        message, ids, decodes = staged_extract(tr, att, self.nonce_hex, self.method, counters)
        wm.unpersist()
        counters["extract.carrier_overlap"] = len(ids & self.embed_ids) / max(1, len(self.embed_ids))
        ok = message == self.msg and decodes == self.reference["decodes"]
        return {"ok": ok, "counters": counters}
