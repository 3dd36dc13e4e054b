"""Incremental corpus curation over a document stream.

Batch dedup (operators/dedup.py) assumes the whole corpus is visible at
once.  A production ingestion pipeline sees documents ARRIVE — each
micro-batch must be deduplicated against everything already accepted, not
just against itself.  :func:`incremental_dedup` is that sink:

1. per batch: MinHash signatures (Arrow kernel, no shuffle) are collapsed to
   one representative per signature — identical signatures are exact or
   near-exact duplicates (Jaccard ~1 across all 16 lanes);
2. against history: representatives whose signature hash already exists in
   the persistent store are dropped (anti-join — the store carries one
   8-byte hash per accepted document);
3. accepted documents and their new signature hashes are written to
   per-batch subdirectories with ``overwrite`` — a retried micro-batch
   (checkpointed foreachBatch re-runs the same batch_id) overwrites its own
   output instead of duplicating it, so the sink is idempotent/exactly-once
   without any swap dance (the batch's own prior partial store output is
   excluded from "history" on retry).

State is the signature-hash store, ~8 bytes x accepted docs — at 10^10
documents that is ~80 GB of parquet, scanned as a normal distributed read
(and prunable by ``sig_hash`` min/max per file); nothing driver-side grows.

Near-dup (not just exact-signature) streaming dedup composes the same way:
run ``minhash_candidate_pairs`` between the batch and a banded store.  The
exact-signature rule is the one with crisp idempotent semantics, so it is
what the sink ships; the banded variant remains a batch-layer operation run
periodically over the accepted corpus (``corpus_curation``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordb_watermark_spark.operators.similarity import (
    _get_sidecar,
    _index_fs,
    _put_sidecar,
)

# ---------------------------------------------------------------------------
# Per-batch store — the one idiom every sink below writes through.  Each
# micro-batch lands in its own directory, written with ``overwrite``, so a
# checkpoint-retried batch replaces exactly its own output, and history
# reads exclude the batch's own prior attempt.  ``incremental_dedup`` names
# the directories ``{store}/batch-N``; every other sink
# ``{store}/{sub}/batch=stream-N`` (plus ``labels/batch=compacted`` once
# :func:`compact_components` has folded a component store).
# ---------------------------------------------------------------------------


def _batch_dirs(
    spark, root: str, sub: str | None = None, exclude: int | None = None
) -> list[str]:
    """Existing per-batch directories of ``{root}/{sub}`` (of ``root``
    itself when ``sub`` is None), minus batch ``exclude``'s own — a
    retried batch's partial output is not history."""
    jp, fs = _index_fs(spark, root)
    base = f"{root}/{sub}" if sub else root
    if not fs.exists(jp(base)):
        return []
    skip = (
        () if exclude is None
        else (f"batch-{int(exclude)}", f"batch=stream-{int(exclude)}")
    )
    return [
        st.getPath().toString()
        for st in fs.listStatus(jp(base))
        if st.getPath().getName().startswith("batch")
        and st.getPath().getName() not in skip
    ]


def _dirs_by_batch(spark, root: str, sub: str) -> dict[int, str]:
    """:func:`_batch_dirs` of a ``batch=stream-N`` store, keyed by ``N``."""
    return {int(d.rsplit("-", 1)[1]): d for d in _batch_dirs(spark, root, sub)}


def _read_batches(
    spark, root: str, sub: str | None, exclude: int | None = None
) -> DataFrame | None:
    """Every :func:`_batch_dirs` directory read as one DataFrame, or
    ``None`` for an empty store (each resolver then returns its own empty
    answer)."""
    dirs = _batch_dirs(spark, root, sub, exclude)
    return spark.read.parquet(*dirs) if dirs else None


def _pin_config(spark, root: str, name: str, pin: dict, mismatch) -> None:
    """Config-drift guard: the first ingest stores ``pin`` as the sidecar
    ``{root}/{name}``; every later ingest offering other values raises
    ``ValueError(mismatch(stored))`` — mixed parameters would silently
    corrupt the store."""
    stored = _get_sidecar(spark, root, name)
    if stored is None:
        _put_sidecar(spark, root, name, pin)
    elif tuple(stored[k] for k in pin) != tuple(pin.values()):
        raise ValueError(mismatch(stored))


def _foreach_batch(stream: DataFrame, checkpoint_path: str, handle):
    """The sink's stream writer: ``handle(batch_df, batch_id)`` per
    micro-batch, progress checkpointed at ``checkpoint_path``.  Call
    ``.start()`` on the result."""
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(handle)
    )


def _sig_hash(sig_col: str = "sig"):
    """64-bit hash of the full MinHash signature array — the store key.
    xxhash64 over the concatenated lane values; collision odds at 10^10 docs
    ~ 10^-9 per pair class (birthday bound), documented and acceptable for
    dedup (a collision drops one unique document, never corrupts data)."""
    return F.xxhash64(F.concat_ws(",", F.col(sig_col).cast("array<string>")))


def incremental_dedup(
    stream: DataFrame,
    out_path: str,
    store_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming dedup sink: accepted (first-seen) documents land under
    ``out_path``, their signature hashes under ``store_path``.  Returns the
    DataStreamWriter (call ``.start()``)."""
    from vectordb_watermark_spark.operators.dedup import minhash_signatures

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        sigs = minhash_signatures(batch_df, id_col, text_col).withColumn(
            "sig_hash", _sig_hash()
        )
        # batch-internal collapse: one representative (min id) per signature
        reps = sigs.groupBy("sig_hash").agg(F.min("id").alias("id"))
        seen = _read_batches(
            batch_df.sparkSession, store_path, None, exclude=batch_id
        )
        if seen is not None:
            reps = reps.join(seen.select("sig_hash"), "sig_hash", "left_anti")
        kept = batch_df.join(
            reps.select(F.col("id").alias(id_col)), id_col, "left_semi"
        )
        # per-batch overwrite => idempotent under checkpoint retry
        kept.write.mode("overwrite").parquet(f"{out_path}/batch-{batch_id}")
        reps.select("sig_hash").write.mode("overwrite").parquet(
            f"{store_path}/batch-{batch_id}"
        )

    return _foreach_batch(stream, checkpoint_path, handle)


def _check_replay_fence(
    spark, root: str, batch_id: int, on_fenced_replay: str, sink: str
) -> None:
    """Refuse (or loudly warn on) a micro-batch at or below the index's
    tombstone-fold fence (``similarity._load_fold_fence``): those
    batches' rows were deleted and then FOLDED — the tombstones that
    would mask a re-insert are gone, so replaying them from a fresh
    checkpoint silently resurrects deleted rows.  ``error`` (default)
    fails the batch and makes the replay an operator decision (reset the
    checkpoint FORWARD of the fence, or re-issue the deletes after the
    backfill); ``warn`` logs and proceeds for deployments that re-issue
    deletes downstream."""
    if on_fenced_replay not in ("error", "warn"):
        raise ValueError(
            f"on_fenced_replay must be 'error' or 'warn', got "
            f"{on_fenced_replay!r}"
        )
    from vectordb_watermark_spark.operators.similarity import _load_fold_fence

    fence = _load_fold_fence(spark, root)
    if fence is None or int(batch_id) > fence:
        return
    msg = (
        f"{sink}: micro-batch {int(batch_id)} is at or below the index's "
        f"tombstone-fold fence ({fence}): rows deleted from batches "
        f"<= {fence} were already folded away, so replaying those batches "
        f"re-inserts them with no tombstone left to mask them.  Start the "
        f"backfill from a checkpoint beyond the fence, or re-issue the "
        f"deletes after it (on_fenced_replay='warn' proceeds anyway)."
    )
    if on_fenced_replay == "error":
        raise ValueError(msg)
    import warnings

    warnings.warn(msg, stacklevel=2)


def _index_sink(
    stream: DataFrame,
    index_path: str,
    checkpoint_path: str,
    sink: str,
    payload,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    n_iters: int,
    key: str,
    on_fenced_replay: str,
    maintain,
):
    """The one ``foreachBatch`` handler of both streaming index sinks;
    ``payload`` is ``similarity._RawRows`` or ``pq._PqRows``, prepared
    afresh per micro-batch.  Per micro-batch: the replay fence; the
    ``index_meta`` repair; the sink's own ``maintain(spark, root,
    ready, rows, tag)`` (its drift trigger and compaction call) BEFORE any
    write — foreachBatch handlers are serialized per stream, so between
    batches is the fence compaction needs; then the bootstrap (the first
    batch trains the index) or the steady state (assign to the stored
    centroids, no retrain); then the rows under ``batch=stream-N`` with
    dynamic partition overwrite, so a checkpoint-retried micro-batch
    replaces exactly its own partitions."""
    from pyspark import StorageLevel

    from vectordb_watermark_spark.operators.similarity import (
        _append_seq,
        _check_dim,
        _ivf_assign_pass,
        _ivf_train,
        _load_centroids,
        _load_index_meta,
        _resolve_index_root,
        _write_index_meta_atomic,
        _write_rows,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        tag = f"stream-{int(batch_id)}"
        # resolve the committed version dir PER BATCH, so a compaction
        # between micro-batches redirects the stream into the new version
        root = _resolve_index_root(spark, index_path)
        _check_replay_fence(spark, root, batch_id, on_fenced_replay, sink)
        jvm_path, fs = _index_fs(spark, root)
        ready = fs.exists(jvm_path(f"{root}/{payload.marker}"))
        rows = payload.rows(batch_df, id_col, vec_col)
        id_type = rows.schema["id"].dataType.simpleString()
        if ready and _load_index_meta(spark, root) is None:
            # a crash inside the sidecar's swap, or a raw IVF index
            # bootstrapped before index_meta preceded the centroids: re-derive
            # it from the tags as an append does.  Flat IVF-PQ codes (written
            # before both kinds shared one layout) carry no tags and raise.
            _write_index_meta_atomic(
                spark, root, id_type, len(_load_centroids(spark, root)[0]),
                _append_seq(spark, root, payload.table)[0],
            )
        maintain(spark, root, ready, rows, tag)
        root = _resolve_index_root(spark, index_path)  # maybe compacted
        base = rows.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            if ready:
                # the shared loader validates the table: an empty, ragged
                # or older-layout centroid table fails the micro-batch
                # instead of silently misassigning every later batch
                cents = _load_centroids(spark, root)
                _check_dim(base, root, cents, f"{sink}: batch")
                enc_base, p = payload.prepare(spark, base, root)
                assigned = _ivf_assign_pass(enc_base, cents)
            else:
                # bootstrap: keyed-hash-seeded training, so a retried
                # bootstrap rewrites identical artifacts
                enc_base, p = payload.prepare(spark, base, None)
                cents = _ivf_train(enc_base, n_centroids, n_iters, key)
                assigned, p = p.train(_ivf_assign_pass(enc_base, cents), cents)
                # index_meta BEFORE the marker sidecar (centroids or
                # pq_codebooks, written last), so a complete bootstrap
                # always has it.  A re-bootstrap over existing rows must
                # not reset the append sequence (a 1 would route the next
                # append into an already-populated append-1 tag): the
                # sidecar's, else the directory listing's, wins.
                _write_index_meta_atomic(
                    spark, root, id_type, len(cents[0]),
                    _append_seq(spark, root, payload.table)[0],
                )
                _put_sidecar(spark, root, "centroids", cents)
                p.put_sidecars(spark, root)
            try:
                _write_rows(p, assigned, cents, root, tag, "dynamic")
            finally:
                assigned.unpersist()
            if not fs.exists(jvm_path(f"{root}/drift_baseline")):
                # without a baseline the drift metric has no denominator
                # and the drift-triggered compaction can never fire
                p.put_baseline(spark, root, enc_base, cents)
        finally:
            base.unpersist()

    return _foreach_batch(stream, checkpoint_path, handle)


def incremental_index(
    stream: DataFrame,
    index_path: str,
    checkpoint_path: str,
    id_col: str = "id",
    vec_col: str = "emb",
    n_centroids: int = 16,
    n_iters: int = 3,
    key: str = "ivf",
    compact_drift_threshold: float | None = None,
    drift_sample_fraction: float | None = None,
    compact_gc_keep_last: int | None = 2,
    on_fenced_replay: str = "error",
):
    """Streaming ANN-index maintenance sink: keep a persisted IVF index
    (operators/similarity layout, queried by ``ivf_query_index``)
    continuously fresh as vectors ARRIVE.  Returns the DataStreamWriter
    (call ``.start()``).

    - **bootstrap**: the first batch trains the coarse centroids (keyed-hash
      seeded Lloyd — deterministic, so a retried bootstrap rewrites the
      identical centroid table) and writes them beside the vectors;
    - **steady state**: each batch assigns its vectors to the nearest
      EXISTING centroid in one Arrow GEMM pass (no retrain — the same
      freshness trade as ``ivf_append_index``) and lands them in their
      centroid partition;
    - **idempotence**: vectors are partitioned by ``(centroid, batch)`` with
      dynamic partition overwrite, so a checkpoint-retried micro-batch
      replaces exactly its own ``batch=stream-<id>`` subpartitions instead
      of double-appending.  Queries prune on the first-level ``centroid=``
      directories unchanged; the second level only subdivides files.  The
      ``batch`` tags are namespaced (``full`` / ``append-N`` /
      ``stream-N``) so this sink, ``ivf_write_index``, and
      ``ivf_append_index`` share ONE directory layout and compose on the
      same index without conflicting partition depths.

    **Drift-triggered maintenance** (``compact_drift_threshold``): when
    set, each micro-batch FIRST checks :func:`ivf_index_drift` and, if the
    drift ratio exceeds the threshold, runs :func:`ivf_compact_index`
    BEFORE writing its own rows.  Running between (not during) batch
    writes is the fence the compaction contract requires — foreachBatch
    handlers are serialized per stream, and this stream is the index's
    only writer.  Check-before-write also keeps checkpoint-retry
    idempotence across a compaction: a retried batch re-resolves into the
    (already-compacted, drift≈1) version and dynamic-overwrites its own
    preserved ``batch=stream-N`` partitions there — compaction keeps
    batch tags, so the retry replaces the folded rows instead of
    double-appending beside them.  The drift check is a full index scan
    per micro-batch unless ``drift_sample_fraction`` bounds it
    (keyed-hash sample — deterministic); size it to your batch cadence.
    Because drift-triggered compactions are ROUTINE here (not a rare
    manual maintenance event), the GC default keeps the previous version
    too (``compact_gc_keep_last=2``, ADVICE r10 #2): an external reader
    that resolved version N-1 just before the between-batch compaction
    finishes against intact files instead of hitting missing-file errors.
    Set ``1`` to reclaim space immediately (single-reader deployments) or
    ``None`` to defer GC entirely to ``similarity.gc_index_versions``.

    Without the threshold, centroid drift is absorbed until a periodic
    batch-layer ``ivf_write_index`` rebuild — the standard IVF
    maintenance cadence.

    Deletes (``similarity.ivf_delete_ids``, issued between stream runs)
    compose: queries mask immediately, the drift-triggered compaction
    folds them (this index stores raw vectors, so no separate archive
    fold is needed).  Tombstone-over-replay is FENCED, not just
    documented: each fold records the highest victim-containing
    ``stream-N`` id in the index's ``fold_fence`` sidecar, and this sink
    refuses (``on_fenced_replay='error'``, default) or warns on
    (``'warn'``) any micro-batch at or below it — a fresh-checkpoint
    replay that would silently resurrect folded-away deletes becomes an
    operator decision instead.
    """
    from vectordb_watermark_spark.operators.similarity import (
        _RawRows,
        ivf_compact_index,
        ivf_index_drift,
    )

    def maintain(spark, root, ready, rows, tag):
        if not ready or compact_drift_threshold is None:
            return
        d = ivf_index_drift(spark, index_path, sample_fraction=drift_sample_fraction)
        if d["drift_ratio"] is not None and d["drift_ratio"] > compact_drift_threshold:
            ivf_compact_index(
                spark, index_path, key=key, gc_keep_last=compact_gc_keep_last
            )

    return _index_sink(
        stream, index_path, checkpoint_path, "incremental_index", _RawRows(),
        id_col, vec_col, n_centroids, n_iters, key, on_fenced_replay, maintain,
    )


def incremental_pq_index(
    stream: DataFrame,
    index_path: str,
    archive_path: str,
    checkpoint_path: str,
    id_col: str = "id",
    vec_col: str = "emb",
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 64,
    coarse_iters: int = 3,
    pq_iters: int = 3,
    key: str = "ivfpq",
    compact_code_tv_threshold: float | None = None,
    drift_sample_fraction: float | None = None,
    compact_gc_keep_last: int | None = 2,
    opq: bool = False,
    on_fenced_replay: str = "error",
):
    """Streaming IVF-PQ index maintenance sink — the compressed twin of
    :func:`incremental_index`, run by the same handler.  Returns the
    DataStreamWriter (call ``.start()``).  ``ivf_pq_write_index``,
    ``ivf_pq_append_index`` and this sink share the ``centroid=X/batch=Y/``
    codes layout, so the sink can stream into a batch-built index; its
    drift-triggered recompaction then refuses (see below) unless the
    archive holds those rows too.

    - **bootstrap**: the first batch trains the coarse centroids AND the
      residual PQ codebooks (keyed-hash seeded — deterministic, so a
      retried bootstrap rewrites identical artifacts) and encodes itself;
      ``index_meta`` is written before ``pq_codebooks``, whose existence
      marks a complete bootstrap;
    - **steady state**: each batch is assigned to the nearest EXISTING
      centroid and residual-encoded against the STORED codebooks (two
      Arrow passes, one source scan — the ``ivf_pq_append_index``
      freshness trade), landing under ``batch=stream-N``.  A lost
      ``index_meta`` is re-derived from the batch tags; an IVF-PQ index
      written before the kinds shared one layout has none and fails the
      micro-batch: rebuild or compact it;
    - **idempotence**: dynamic partition overwrite on ``(centroid,
      batch)`` — a checkpoint-retried micro-batch replaces exactly its
      own ``batch=stream-N`` subpartitions instead of double-appending;
    - **raw archive**: PQ codes are LOSSY, so recompaction needs source
      vectors the index does not store.  Every batch's raw ``(id, v)``
      rows are archived FIRST under ``{archive_path}/batch=stream-N/``
      (overwrite per batch dir — idempotent under retry; archive-first
      ordering means the archive is always a superset of the committed
      codes, so a crash between archive and codes write self-heals on
      retry).  The archive doubles as the exact-re-rank table
      (``rerank_with=spark.read.parquet(archive_path)``).  Cost: dim x 4
      bytes per row — the raw vectors a production deployment keeps in
      its source-of-truth table anyway; point ``archive_path`` at a
      cheaper storage tier when the index tier is premium.
    - **drift-triggered recompaction** (``compact_code_tv_threshold``):
      before each batch write (foreachBatch serialization = the fence),
      checks :func:`~vectordb_watermark_spark.operators.pq.ivf_pq_index_drift`
      and recompacts from the archive through the manifest
      (:func:`~vectordb_watermark_spark.operators.pq.ivf_pq_compact_index`
      with ``batch_col`` preservation) when ``code_tv`` — the
      UNSATURATED trigger; the energy ratio saturates at training-scale
      codewords — exceeds the threshold.  Tags survive the rebuild, so
      a retry racing a compaction still overwrites its own partitions.
      The archive is the recompaction's ONLY source, so when the index
      holds live rows whose ids the archive lacks (``full`` rows from
      ``ivf_pq_write_index``, ``append-N`` rows from
      ``ivf_pq_append_index``) the micro-batch fails instead of
      dropping them: archive their raw vectors, or run without the
      threshold.
      GC keeps the previous version by default (``compact_gc_keep_last=2``)
      because streaming compactions are routine, not rare maintenance.

    The drift check scans the (already ~dim*4/m-compressed) codes each
    micro-batch unless ``drift_sample_fraction`` bounds it; size it to
    the batch cadence.

    **Deletes** (``similarity.ivf_delete_ids``, issued between stream
    runs — the same fence as any maintenance): queries mask tombstoned
    ids immediately, and the sink's recompaction folds them out of BOTH
    the codes and the raw archive (only archive batch dirs that contain
    victims are rewritten, via staged atomic swaps; a crash mid-fold
    self-heals because the tombstones stay in place until the compaction
    commits).  The inherent tombstone-over-replay hazard — a FULL
    fresh-checkpoint replay of pre-delete batches re-inserting rows the
    fold already dropped (a delete is an index operation, not a source
    rewrite) — is FENCED: each fold records the highest
    victim-containing ``stream-N`` id in the ``fold_fence`` sidecar and
    this sink refuses (``on_fenced_replay='error'``, default) or warns
    on (``'warn'``) any micro-batch at or below it.
    """
    from vectordb_watermark_spark.operators.pq import (
        _PqRows,
        ivf_pq_compact_index,
        ivf_pq_index_drift,
    )
    from vectordb_watermark_spark.operators.similarity import (
        _folded_stream_fence,
        _load_tombstones,
        _swap_dir_atomic,
    )

    def maintain(spark, root, ready, rows, tag):
        if ready and compact_code_tv_threshold is not None:
            d = ivf_pq_index_drift(
                spark, index_path, sample_fraction=drift_sample_fraction
            )
            if d["code_tv"] is not None and d["code_tv"] > compact_code_tv_threshold:
                # the archive is the compaction's ONLY source: live rows
                # it lacks (written by ivf_pq_write_index or
                # ivf_pq_append_index) would vanish from the new version —
                # refuse instead.  Matched by id, not by tag: a compaction
                # without batch_col re-tags archived rows "full".
                tomb = _load_tombstones(spark, root)
                lost = spark.read.parquet(f"{root}/codes").select("id", "batch")
                for gone in (tomb, _read_batches(spark, archive_path, None)):
                    if gone is not None:
                        lost = lost.join(gone.select("id"), "id", "left_anti")
                missing = sorted(
                    r["batch"] for r in lost.select("batch").distinct().collect()
                )
                if missing:
                    raise ValueError(
                        f"incremental_pq_index: recompacting from the raw "
                        f"archive {archive_path} would drop the index rows it "
                        f"lacks, of batch tags {missing}: archive their (id, v) "
                        f"rows under {archive_path}/batch=<tag>/, or unset "
                        f"compact_code_tv_threshold"
                    )
                # tombstones must be folded into the ARCHIVE too, not just
                # the codes: the compaction clears the tombstone set, so a
                # LATER recompaction sourcing an unfolded archive would
                # resurrect deleted rows.  Only batch dirs that actually
                # contain victims are rewritten (bounded collect: one tag
                # per affected batch); each rewrite is a staged atomic
                # swap, and a crash mid-fold self-heals — the tombstones
                # are still in place until the compaction commits, so the
                # retry just folds the remaining dirs.
                fence_floor = None
                if tomb is not None:
                    arc = spark.read.parquet(archive_path)
                    affected = [
                        str(r["batch"])
                        for r in arc.join(tomb, "id", "semi")
                        .select("batch").distinct().collect()
                    ]
                    # the archive fold below removes the victims, so the
                    # compactor cannot re-derive which stream batches they
                    # came from — compute the replay-fence watermark here
                    # and pass it down to be committed with the version
                    fence_floor = _folded_stream_fence(None, affected)
                    for tag_ in affected:
                        kept = spark.read.parquet(
                            f"{archive_path}/batch={tag_}"
                        ).join(tomb, "id", "left_anti")
                        staged = f"{archive_path}/__fold_{tag_}"
                        kept.write.mode("overwrite").parquet(staged)
                        _swap_dir_atomic(
                            spark, staged, f"{archive_path}/batch={tag_}"
                        )
                ivf_pq_compact_index(
                    spark.read.parquet(archive_path), index_path,
                    coarse_iters=coarse_iters, pq_iters=pq_iters, key=key,
                    id_col="id", vec_col="v", batch_col="batch",
                    gc_keep_last=compact_gc_keep_last,
                    _fence_floor=fence_floor,
                )
        # archive the raw batch BEFORE its codes (idempotent: its own dir
        # is overwritten; archive ⊇ committed codes is the recompaction
        # invariant)
        rows.write.mode("overwrite").parquet(f"{archive_path}/batch={tag}")

    return _index_sink(
        stream, index_path, checkpoint_path, "incremental_pq_index",
        _PqRows(m, n_codes, pq_iters, key, opq), id_col, vec_col,
        n_centroids, coarse_iters, key, on_fenced_replay, maintain,
    )


def incremental_postings(
    stream: DataFrame,
    index_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_files: int = 8,
):
    """Streaming BM25 postings maintenance sink: keep a persisted
    :func:`~vectordb_watermark_spark.operators.retrieval.bm25_build_index`
    postings index continuously fresh as documents ARRIVE.  Returns the
    DataStreamWriter (call ``.start()``).

    Each micro-batch writes its postings + sidecar PARTIALS under its own
    ``batch=stream-N`` subdirectories (the layout batch builds and
    :func:`~vectordb_watermark_spark.operators.retrieval.bm25_append_index`
    share), so:

    - **idempotence**: a checkpoint-retried micro-batch overwrites
      exactly its own three subdirectories — no read-modify-write of any
      shared sidecar, hence no double counting;
    - **exactness**: the sidecars are integer partials merged at query
      time by exact addition, so
      :func:`~...retrieval.bm25_query_index` scores are BIT-IDENTICAL to
      a one-shot build over everything streamed so far, at every point
      in the stream's life;
    - **no compaction obligation**: queries prune postings files by the
      term-range sort within every batch dir; many tiny batches degrade
      pruning granularity, not correctness — rebuild with
      ``bm25_build_index`` on the usual maintenance cadence if batch
      count grows large.

    Documents are assumed NEW (append-only corpus — the BM25 freshness
    model); re-ingesting an id double-counts it, the same contract as
    the one-shot builder."""
    from vectordb_watermark_spark.operators.retrieval import bm25_append_index

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        bm25_append_index(
            batch_df, index_path, f"stream-{int(batch_id)}",
            id_col=id_col, text_col=text_col, n_files=n_files,
        )

    return _foreach_batch(stream, checkpoint_path, handle)


def _component_alias_roots(spark, path: str) -> dict[int, int]:
    """Collect the alias (merge) log and union-find it driver-side into a
    ``label -> canonical-root`` map.  Alias rows always point a current
    root at a smaller-or-equal canonical, so the root of every chain is
    the MINIMUM id its component has ever seen — the same canonical rule
    as batch ``connected_components``.  The log is bounded by the number
    of MERGE EVENTS (two established clusters colliding), not by corpus
    size; :func:`compact_components` folds it away when it grows."""
    # merge-free batches write no alias dir at all (an empty parquet dir
    # has no schema to read), so list what exists
    aliases = _read_batches(spark, path, "aliases")
    if aliases is None:
        return {}
    rows = aliases.collect()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        a, b = find(int(r["from_comp"])), find(int(r["to_comp"]))
        if a == b:
            continue
        lo, hi = (a, b) if a < b else (b, a)
        parent[hi] = lo
    return {x: find(x) for x in list(parent)}


def resolve_components(spark, path: str) -> DataFrame:
    """Current cluster assignment of an :func:`incremental_components`
    store -> ``(id, comp)`` with ``comp`` the minimum id reachable in the
    near-dup graph streamed so far — the SAME contract as batch
    ``dedup.connected_components(minhash_candidate_pairs(docs))`` over
    everything ingested (docs with no near-dup partner are absent, as in
    the batch op).  One labels scan + a broadcast alias-root join."""
    labels = _read_batches(spark, path, "labels")
    if labels is None:
        # nothing near-dup'd yet — same empty result as the batch op on a
        # pair-free corpus
        return spark.createDataFrame([], "id long, comp long")
    roots = _component_alias_roots(spark, path)
    if not roots:
        return labels.select("id", "comp")
    rdf = spark.createDataFrame(
        list(roots.items()), "comp long, root long"
    )
    return (
        labels.join(F.broadcast(rdf), "comp", "left")
        .select(
            "id", F.coalesce(F.col("root"), F.col("comp")).alias("comp")
        )
    )


def compact_components(spark, path: str) -> None:
    """Fold the alias log into the labels (rewrite every label to its
    canonical root) and clear it — run on the usual maintenance cadence
    when merge events accumulate.  Staged-swap both pieces; the store
    keeps serving either the old (labels+aliases) or the new
    (labels-only) view, never a half state.

    Run BETWEEN stream runs (the same fence as every maintenance
    operation in this module): compacting while a micro-batch retry is
    pending would fold that batch's labels away and let the retry
    re-write them beside the compacted copy — duplicate (id, comp) rows
    until the next compaction.  foreachBatch serialization makes
    between-runs compaction race-free."""
    from vectordb_watermark_spark.operators.similarity import _swap_dir_atomic

    roots = _component_alias_roots(spark, path)
    resolved = resolve_components(spark, path)
    staged = f"{path}/labels__compact"
    resolved.withColumn("batch", F.lit("compacted")).write.mode(
        "overwrite"
    ).partitionBy("batch").parquet(staged)
    _swap_dir_atomic(spark, staged, f"{path}/labels")
    if roots:
        jp, fs = _index_fs(spark, path)
        fs.delete(jp(f"{path}/aliases"), True)


def incremental_components(
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming near-dup CLUSTER maintenance — the connected-components
    upgrade of :func:`incremental_dedup` (which acceptss/rejects on exact
    signature identity; this maintains the full near-dup component
    structure as documents arrive).  Returns the DataStreamWriter.

    Per micro-batch (foreachBatch serialization is the consistency
    fence), against everything already ingested:

    1. MinHash signatures + LSH bands for the batch (Arrow kernel, no
       shuffle); band rows land under ``bands/batch=stream-N`` — the
       equi-join probe surface for every FUTURE batch;
    2. batch-internal candidate pairs (``minhash_candidate_pairs``) plus
       CROSS pairs from one band equi-join against the stored history
       bands;
    3. ``connected_components`` over this SMALL local graph (bounded by
       batch size + its matches, never the corpus);
    4. each local cluster adopts the minimum of its member ids and the
       CURRENT canonical labels of every matched history doc; history
       clusters that got bridged emit ``(from_comp, to_comp)`` rows into
       the append-only alias log — a MERGE is O(1) rows, no relabeling
       scan of the corpus (the log folds away at
       :func:`compact_components` time);
    5. labels for newly labeled docs (batch docs in pairs + history
       singletons just pulled in) land under ``labels/batch=stream-N``.

    All three pieces are per-batch overwrites computed against history
    EXCLUDING the batch's own prior attempt, so a checkpoint-retried
    micro-batch is idempotent.  :func:`resolve_components` reads the
    current assignment; it equals the batch
    ``connected_components(minhash_candidate_pairs(all docs))`` at every
    point in the stream's life (oracle-pinned).

    At 100 TB: per-batch cost is the batch's own kernel work + ONE
    band equi-join whose right side is prunable parquet; driver state is
    the alias log's union-find (bounded by merge events).  No corpus
    rescan, no label rewriting storm on merge."""
    from vectordb_watermark_spark.operators.dedup import (
        connected_components,
        minhash_bands,
        minhash_candidate_pairs,
        minhash_signatures,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        tag = f"stream-{int(batch_id)}"
        jp, fs = _index_fs(spark, store_path)

        batch = batch_df.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        ).persist()
        try:
            sigs = minhash_signatures(batch)
            bands = minhash_bands(sigs).persist()
            try:
                # 1) persist this batch's probe surface FIRST (overwrite =
                # retry-idempotent; history excludes own tag below)
                bands.write.mode("overwrite").parquet(
                    f"{store_path}/bands/batch={tag}"
                )

                # 2) pair graph: internal + cross vs history bands
                p_int = minhash_candidate_pairs(batch)
                hist = _read_batches(spark, store_path, "bands", batch_id)
                if hist is not None:
                    # broadcast the (small) batch side: history — the side
                    # that grows with the corpus — is then only SCANNED
                    # map-side, never shuffled, every micro-batch
                    p_x = (
                        F.broadcast(
                            bands.select("band", "band_hash",
                                         F.col("id").alias("a"))
                        )
                        .join(
                            hist.select("band", "band_hash",
                                        F.col("id").alias("b")),
                            ["band", "band_hash"],
                        )
                        .select("a", "b")
                        .distinct()
                    )
                else:
                    p_x = None

                edges = p_int.select("a", "b")
                if p_x is not None:
                    edges = edges.unionByName(p_x)
                if not edges.take(1):
                    return

                # 3) local components over the bounded batch-plus-matches
                # graph
                local = connected_components(edges).persist()
                try:
                    # 4) current canonical labels of matched history docs
                    hist_labels = _read_batches(
                        spark, store_path, "labels", batch_id
                    )
                    batch_ids = batch.select(
                        F.col("doc_id").alias("id")
                    )
                    if hist_labels is not None:
                        hl = (
                            hist_labels
                            .join(
                                local.select("id"), "id", "left_semi"
                            )
                            .select("id", F.col("comp").alias("hcomp"))
                        )
                        roots = _component_alias_roots(spark, store_path)
                        if roots:
                            rdf = spark.createDataFrame(
                                list(roots.items()), "hcomp long, root long"
                            )
                            hl = hl.join(
                                F.broadcast(rdf), "hcomp", "left"
                            ).select(
                                "id",
                                F.coalesce("root", "hcomp").alias("hcomp"),
                            )
                    else:
                        hl = None

                    lab = local.select("id", F.col("comp").alias("lcomp"))
                    if hl is not None:
                        lab = lab.join(hl, "id", "left")
                    else:
                        lab = lab.withColumn("hcomp", F.lit(None).cast("long"))
                    # canonical per local cluster = min(member ids,
                    # matched history canonicals)
                    canon = (
                        lab.groupBy("lcomp")
                        .agg(
                            F.least(
                                F.min("id"),
                                F.coalesce(F.min("hcomp"), F.min("id")),
                            ).alias("canon")
                        )
                    )
                    labeled = lab.join(F.broadcast(canon), "lcomp")

                    # alias rows: every distinct matched history canonical
                    # above the cluster canonical got merged
                    aliases = (
                        labeled.filter(
                            F.col("hcomp").isNotNull()
                            & (F.col("hcomp") != F.col("canon"))
                        )
                        .select(
                            F.col("hcomp").alias("from_comp"),
                            F.col("canon").alias("to_comp"),
                        )
                        .distinct()
                    )
                    # write only when merges happened: an empty parquet
                    # dir is unreadable (no schema), and the recompute is
                    # deterministic so a retry never needs to CLEAR a
                    # previous non-empty attempt — but delete the stale
                    # dir anyway as cheap retry hygiene
                    adir = f"{store_path}/aliases/batch={tag}"
                    if aliases.take(1):
                        aliases.write.mode("overwrite").parquet(adir)
                    elif fs.exists(jp(adir)):
                        fs.delete(jp(adir), True)

                    # labels: batch docs in the graph + history docs that
                    # were UNLABELED until now (singletons pulled in)
                    new_rows = labeled.join(
                        batch_ids, "id", "left_semi"
                    ).select("id", F.col("canon").alias("comp"))
                    if hl is not None:
                        pulled = (
                            labeled.join(batch_ids, "id", "left_anti")
                            .filter(F.col("hcomp").isNull())
                            .select("id", F.col("canon").alias("comp"))
                        )
                        new_rows = new_rows.unionByName(pulled)
                    else:
                        pulled = (
                            labeled.join(batch_ids, "id", "left_anti")
                            .select("id", F.col("canon").alias("comp"))
                        )
                        new_rows = new_rows.unionByName(pulled)
                    new_rows.write.mode("overwrite").parquet(
                        f"{store_path}/labels/batch={tag}"
                    )
                finally:
                    local.unpersist()
            finally:
                bands.unpersist()
        finally:
            batch.unpersist()

    return _foreach_batch(stream, checkpoint_path, handle)


def _latest_state_dir(spark, path: str, below_batch: int) -> str | None:
    """Newest ``state/batch=stream-K`` dir with K < below_batch — the
    deterministic read point for (possibly retried) micro-batch
    ``below_batch``: a replayed batch re-reads exactly the state it saw
    the first time, because its own state dir (and any later one) is
    excluded."""
    dirs = _dirs_by_batch(spark, path, "state")
    below = [k for k in dirs if k < below_batch]
    return dirs[max(below)] if below else None


def incremental_transitions(
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    compact_every: int | None = None,
):
    """Streaming first-order transition-matrix maintenance: the exact
    streaming twin of
    :func:`~vectordb_watermark_spark.operators.analytics.event_transitions`.
    Returns the DataStreamWriter (call ``.start()``);
    :func:`resolve_transitions` reads the live matrix.

    Per micro-batch, ONE small state join instead of a full recompute:

    - the per-user LAST EVENT so far (``state/batch=stream-K`` — one row
      per user seen, the only cross-batch memory a first-order chain
      needs) is unioned with the batch's events;
    - ``lag`` over (user; ts, id) yields each event's predecessor; only
      pairs whose *successor* is a NEW event are counted, so the
      batch-boundary transition (state row -> first new event) is
      captured exactly once and nothing is recounted;
    - the batch's pair counts land in ``pairs/batch=stream-N`` and the
      refreshed last-event table in ``state/batch=stream-N`` — both
      overwrite-scoped to the batch id, so a checkpoint-retried batch
      replaces exactly its own contribution (idempotent), and it re-reads
      the PREVIOUS state dir, never its own half-written one.

    Exactness contract: equal to the batch operator over everything
    streamed so far PROVIDED each user's events arrive in event-time
    order ACROSS batches (within a batch any order is fine — the lag
    window sorts).  That is the natural shape for availableNow/append
    event feeds; a cross-batch straggler older than its user's state row
    would have been counted against a different predecessor by the batch
    twin.  State size is one row per DISTINCT USER — entity cardinality,
    not event volume; pairs grow one (small) matrix per batch and
    resolve sums them.

    ``compact_every=K`` folds the accumulated pair dirs every K batches
    (inside the ``foreachBatch``, AFTER the batch's own writes, excluding
    the in-flight batch — :func:`compact_transition_pairs` documents why
    that is retry-safe), bounding both the ``resolve_transitions``
    directory listing and its multi-dir parquet read at O(K) dirs instead
    of O(total batches).  Measured (r15, local fs, best-of-5 resolves):
    per-resolve cost is flat to ~32 dirs (0.33 s), 2.2x at 128 dirs
    (0.72 s), and 0.20 s folded back to one dir — and local-fs listing is
    the CHEAP case; at object-store listing latencies the crossover is
    far earlier, so wire a cadence for any long-lived store.  ``None``
    keeps the historical behavior (maintenance compaction between runs).
    """
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        ingest_transitions_batch(
            batch_df, store_path, batch_id,
            user_col=user_col, type_col=type_col, ts_col=ts_col, id_col=id_col,
        )
        if compact_every and (int(batch_id) + 1) % int(compact_every) == 0:
            compact_transition_pairs(
                batch_df.sparkSession, store_path, exclude=int(batch_id)
            )

    return _foreach_batch(stream, checkpoint_path, handle)


def ingest_transitions_batch(
    batch_df: DataFrame,
    store_path: str,
    batch_id: int,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> None:
    """One :func:`incremental_transitions` micro-batch, callable directly
    — the sink's ``foreachBatch`` body.  Exposed so deterministic batch
    replays (oracles, backfills) can drive the store without a streaming
    query; the in-order-per-user contract is the caller's to honor, same
    as the stream's."""
    from pyspark.sql.window import Window

    if not batch_df.take(1):
        return
    spark = batch_df.sparkSession
    k = int(batch_id)
    new = batch_df.select(
            F.col(user_col).alias("u"), F.col(ts_col).alias("t"),
        F.col(id_col).alias("eid"), F.col(type_col).alias("y"),
        F.lit(True).alias("is_new"),
    ).persist()
    prev_dir = _latest_state_dir(spark, store_path, k)
    if prev_dir is not None:
        state = spark.read.parquet(prev_dir).withColumn(
            "is_new", F.lit(False)
        )
        merged = state.unionByName(new)
    else:
        merged = new
    w = Window.partitionBy("u").orderBy("t", "eid")
    pairs = (
        merged.select(
            "u", "y", "is_new", F.lag("y").over(w).alias("prev_y")
        )
        .filter(F.col("is_new") & F.col("prev_y").isNotNull())
        .groupBy(F.col("prev_y").alias("from_type"), F.col("y").alias("to_type"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    pairs.write.mode("overwrite").parquet(
        f"{store_path}/pairs/batch=stream-{k}"
    )
    last = (
        merged.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("u").orderBy(
                    F.col("t").desc(), F.col("eid").desc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("u", "t", "eid", "y")
    )
    last.write.mode("overwrite").parquet(
        f"{store_path}/state/batch=stream-{k}"
    )
    new.unpersist()


def resolve_transitions(spark, store_path: str) -> DataFrame:
    """Current transition matrix of an :func:`incremental_transitions`
    store -> ``(from_type, to_type, n, prob)`` — the same columns and
    values as batch
    :func:`~vectordb_watermark_spark.operators.analytics.event_transitions`
    over everything streamed so far (integer-exact: per-batch counts are
    summed, probabilities derived once at read time)."""
    from pyspark.sql.window import Window

    pairs = _read_batches(spark, store_path, "pairs")
    if pairs is None:
        return spark.createDataFrame(
            [], "from_type string, to_type string, n long, prob double"
        )
    counts = (
        pairs.groupBy("from_type", "to_type")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    totals = Window.partitionBy("from_type")
    return counts.select(
        "from_type", "to_type", "n",
        F.round(F.col("n") / F.sum("n").over(totals), 9).alias("prob"),
    )


def psi_baseline(
    df: DataFrame,
    store_path: str,
    vec_col: str = "emb",
    bin_edges: list[float] | None = None,
) -> None:
    """Freeze a PSI drift baseline: the reference corpus's (dim, bin)
    tally plus the bin edges, persisted under ``store_path`` — the fixed
    yardstick every streamed batch is compared against.  Edges live WITH
    the store so ingest can never bin against a different grid than the
    baseline (config drift is structurally impossible)."""
    from vectordb_watermark_spark.operators.analytics import _psi_bin_tally

    if bin_edges is None:
        bin_edges = [-0.4, -0.3, -0.2, -0.1, 0.0, 0.1, 0.2, 0.3, 0.4]
    edges = sorted(float(e) for e in bin_edges)
    spark = df.sparkSession
    _put_sidecar(spark, store_path, "edges", edges)
    _psi_bin_tally(df, vec_col, edges, "nb").write.mode("overwrite").parquet(
        f"{store_path}/baseline"
    )


def ingest_psi_batch(
    batch_df: DataFrame,
    store_path: str,
    batch_id: int,
    vec_col: str = "emb",
) -> None:
    """One :func:`incremental_psi` micro-batch, callable directly: tally
    the batch against the stored edges into
    ``tallies/batch=stream-N`` (overwrite-scoped — checkpoint retries
    replace exactly their own contribution)."""
    from vectordb_watermark_spark.operators.analytics import _psi_bin_tally

    if not batch_df.take(1):
        return
    spark = batch_df.sparkSession
    edges = _get_sidecar(spark, store_path, "edges")
    _psi_bin_tally(batch_df, vec_col, edges, "nc").write.mode(
        "overwrite"
    ).parquet(f"{store_path}/tallies/batch=stream-{int(batch_id)}")


def incremental_psi(
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    vec_col: str = "emb",
):
    """Streaming distribution-drift monitor: maintain per-batch (dim,
    bin) tallies of an embedding stream against a frozen
    :func:`psi_baseline`; :func:`resolve_psi` reads the live PSI.
    Returns the DataStreamWriter (call ``.start()``).

    The only state is the integer tally grid — (dims × bins) rows per
    batch, summed exactly at read time, so resolve equals the batch
    :func:`~vectordb_watermark_spark.operators.analytics.psi_per_dim`
    over everything streamed so far (the tally and formula code is
    SHARED, not duplicated).  The monitor a production embedding
    pipeline runs continuously: when ``resolve_psi`` crosses the 0.2
    action threshold on any dimension, the upstream encoder changed.
    """

    return _foreach_batch(
        stream, checkpoint_path,
        lambda df, bid: ingest_psi_batch(df, store_path, bid, vec_col=vec_col),
    )


def resolve_psi(spark, store_path: str) -> DataFrame:
    """Current drift of an :func:`incremental_psi` store -> ``(dim,
    psi)`` — exactly the batch ``psi_per_dim(baseline_corpus,
    everything_streamed)`` (shared tally + formula; per-batch integer
    tallies summed exactly).  Empty store (no batches yet) -> empty."""
    from vectordb_watermark_spark.operators.analytics import _psi_from_grids

    tallies = _read_batches(spark, store_path, "tallies")
    if tallies is None:
        return spark.createDataFrame([], "dim int, psi double")
    nc = (
        tallies.groupBy("dim", "bin")
        .agg(F.sum("nc").cast("long").alias("nc"))
    )
    nb = spark.read.parquet(f"{store_path}/baseline")
    n_bins = len(_get_sidecar(spark, store_path, "edges")) + 1
    return _psi_from_grids(nb, nc, n_bins)


def compact_transition_pairs(
    spark, store_path: str, exclude: int | None = None
) -> int:
    """Fold an :func:`incremental_transitions` store's per-batch pair
    dirs into one summed dir (named after the highest folded batch id, so
    ``_latest_state_dir`` ordering and future ingests are unaffected) —
    the maintenance the sink's docstring defers.  Integer-exact: the
    folded counts are the same sums :func:`resolve_transitions` computes.
    Returns the number of batch dirs folded (0 = nothing to do).

    ``exclude=None`` (fold everything) is the BETWEEN-runs form, like the
    component-store compactor: a concurrently ingesting sink could write
    a new pair dir after the listing and lose it in the delete pass.

    ``exclude=k`` folds only batches BELOW ``k`` and is retry-safe from
    INSIDE micro-batch ``k``'s own ``foreachBatch`` (the in-stream cadence
    ``incremental_transitions(..., compact_every=...)`` uses): batch
    ``k``'s pair/state dirs are untouched, so a checkpoint-retried batch
    still overwrites exactly its own contribution and still finds a state
    dir strictly below ``k`` to replay against; re-running the fold on
    retry is a no-op (one folded dir remains below ``k``).

    Crash exposure (both forms, documented tradeoff): the fold stages the
    summed counts first, then deletes the source dirs, then renames the
    staging dir into place — a hard crash between the deletes and the
    rename leaves the counts ONLY in the staged ``pairs/.fold_*`` dir
    (complete recovery copy: rename it to the target ``batch=stream-N``
    to repair).  No window double-counts."""
    jp, fs = _index_fs(spark, store_path)
    dirs = {
        k: d for k, d in _dirs_by_batch(spark, store_path, "pairs").items()
        if exclude is None or k < exclude
    }
    if len(dirs) < 2:
        return 0
    top = max(dirs)
    summed = (
        spark.read.parquet(*dirs.values())
        .groupBy("from_type", "to_type")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    import uuid

    staging = f"{store_path}/pairs/.fold_{uuid.uuid4().hex[:12]}"
    summed.coalesce(1).write.mode("overwrite").parquet(staging)
    for k, d in dirs.items():
        fs.delete(jp(d), True)
    fs.rename(jp(staging), jp(f"{store_path}/pairs/batch=stream-{top}"))
    # state: each ingest reads the newest state dir below its own batch id,
    # so with ``exclude=k`` everything except the newest state BELOW k (a
    # retry of k replays against it) and the dirs at/above k is dead; in
    # the between-runs form only the global newest survives
    sdirs = _dirs_by_batch(spark, store_path, "state")
    live = {k for k in sdirs if exclude is not None and k >= exclude}
    below = [k for k in sdirs if exclude is None or k < exclude]
    if below:
        live.add(max(below))
    for k, d in sdirs.items():
        if k not in live:
            fs.delete(jp(d), True)
    return len(dirs)


def ingest_kmv_batch(
    batch_df: DataFrame,
    store_path: str,
    batch_id: int,
    col: str,
    k: int = 256,
) -> None:
    """One :func:`incremental_kmv` micro-batch: persist the batch's k
    smallest distinct value hashes under ``sketch/batch=stream-N``
    (overwrite-scoped — retry-idempotent).  At most k longs per batch."""
    from vectordb_watermark_spark.operators.sketch import hash60

    if not batch_df.take(1):
        return
    (
        batch_df.select(hash60(F.col(col)).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{store_path}/sketch/batch=stream-{int(batch_id)}")
    )


def incremental_kmv(
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    col: str,
    k: int = 256,
):
    """Streaming distinct-count maintenance via KMV sketches: per batch,
    keep only the k smallest distinct hashes; :func:`resolve_kmv` reads
    the live estimate.  Returns the DataStreamWriter (call ``.start()``).

    KMV merges EXACTLY — the k smallest hashes of a union are a subset
    of the parts' k-smallest sets — so the resolved estimate is
    BIT-IDENTICAL to a one-shot
    :func:`~vectordb_watermark_spark.operators.sketch.kmv_distinct` over
    everything streamed so far, at every stream point.  State: at most
    k longs per batch, a few KB; the caveat is re-ingesting the same
    VALUES is harmless (distinct hashing), unlike count-based sketches.
    """

    return _foreach_batch(
        stream, checkpoint_path,
        lambda df, bid: ingest_kmv_batch(df, store_path, bid, col=col, k=k),
    )


def resolve_kmv(spark, store_path: str, k: int = 256) -> DataFrame:
    """Current distinct-count estimate of an :func:`incremental_kmv`
    store -> the same ``(estimate, exact_k, kth_hash)`` row as batch
    ``kmv_distinct`` over everything streamed (exact merge; shared
    reduce code).  Empty store -> estimate 0."""
    from vectordb_watermark_spark.operators.sketch import kmv_from_hashes

    sketch = _read_batches(spark, store_path, "sketch")
    if sketch is None:
        sketch = spark.createDataFrame([], "h long")
    return kmv_from_hashes(sketch, k)


def ingest_rate_batch(
    batch_df: DataFrame,
    store_path: str,
    batch_id: int,
    ts_col: str = "ts",
    granularity: str = "hour",
) -> None:
    """One :func:`incremental_rates` micro-batch: the batch's per-bucket
    event counts land in ``counts/batch=stream-N`` (overwrite-scoped —
    retry-idempotent).  Counts are ADDITIVE, so any batch split of the
    event stream resolves identically."""
    if not batch_df.take(1):
        return
    _pin_config(
        batch_df.sparkSession, store_path, "granularity",
        {"granularity": granularity},
        lambda stored: (
            f"incremental_rates: store at {store_path!r} was built with "
            f"granularity {stored['granularity']!r}, batch offered "
            f"{granularity!r} — mixed-granule tallies would silently "
            f"corrupt the monitor"
        ),
    )
    (
        batch_df.groupBy(
            F.date_trunc(granularity, F.col(ts_col)).alias("bucket")
        )
        .agg(F.count("*").cast("long").alias("n"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{store_path}/counts/batch=stream-{int(batch_id)}")
    )


def incremental_rates(
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    ts_col: str = "ts",
    granularity: str = "hour",
):
    """Streaming event-rate monitor: maintain per-bucket counts as
    events arrive; :func:`resolve_rate_anomalies` reads the live
    modified-z anomaly table.  Returns the DataStreamWriter.

    State is one (bucket, n) tally per batch — time-range-sized, never
    event-volume-sized — and counts are additive, so resolution equals
    batch :func:`~vectordb_watermark_spark.operators.analytics.rate_anomalies`
    over everything streamed REGARDLESS of how events were split into
    batches (no ordering contract at all, unlike the transitions sink).
    """

    return _foreach_batch(
        stream, checkpoint_path,
        lambda df, bid: ingest_rate_batch(
            df, store_path, bid, ts_col=ts_col, granularity=granularity
        ),
    )


def resolve_rate_anomalies(
    spark, store_path: str, threshold: float = 3.5
) -> DataFrame:
    """Current anomaly table of an :func:`incremental_rates` store —
    identical to batch ``rate_anomalies`` over everything streamed
    (exact integer sums + the shared scoring code)."""
    from vectordb_watermark_spark.operators.analytics import (
        anomalies_from_counts,
    )

    counts = _read_batches(spark, store_path, "counts")
    if counts is None:
        return spark.createDataFrame(
            [], "bucket string, n long, mz_ppm long, is_anomaly boolean"
        )
    counts = (
        counts.groupBy("bucket")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    return anomalies_from_counts(counts, threshold=threshold)


def ingest_shingles_batch(
    batch_df: DataFrame,
    store_path: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 8,
    max_df: int = 5,
) -> None:
    """Rare-shingle store maintenance, one micro-batch — the streaming twin
    of :func:`~vectordb_watermark_spark.operators.dedup.rare_shingle_candidates`
    (the asymmetric-containment discovery path, round 13).

    Layout: the batch's distinct ``(g, id)`` shingle rows land under
    ``rows/batch=stream-N``; shingles whose CUMULATIVE document frequency
    crosses ``max_df`` at this batch land under ``hot/batch=stream-N``
    and are suppressed from every future batch's rows at ingest — the
    bounded-state lever: a boilerplate shingle accumulates at most
    ``max_df`` + one batch of rows ever, no matter how many documents
    carry it, and the hot tally itself is one row per hot shingle.

    Both writes are overwrite-scoped per batch and history reads exclude
    the batch's own prior attempt, so a checkpoint-retried micro-batch is
    idempotent.  (``shingle_k``, ``max_df``) are pinned in the store on
    first ingest (config-drift guard, same policy as the rate monitor's
    granularity pin).  :func:`resolve_containment_store` equals the
    one-shot ``containment_pairs(candidates='rare_shingle')`` over
    everything ingested REGARDLESS of how documents were split into
    batches — document frequency is additive over distinct documents and
    hot-crossing is monotone, so there is no ordering contract.  Batches
    need NOT be disjoint by document: both the cumulative hot tally here
    and the resolve-time DF cut dedup ``(id, g)`` first, so a document
    re-ingested across batches counts once, exactly as the one-shot twin
    counts it (ADVICE r13).
    """
    if not batch_df.take(1):
        return
    from vectordb_watermark_spark.operators.dedup import _doc_ngrams

    spark = batch_df.sparkSession
    _pin_config(
        spark, store_path, "pin", {"shingle_k": shingle_k, "max_df": max_df},
        lambda pin: (
            f"incremental shingle store at {store_path!r} was built "
            f"with (shingle_k={pin['shingle_k']}, max_df={pin['max_df']}),"
            f" batch offered ({shingle_k}, {max_df}) — mixed parameters "
            "would silently corrupt the candidate geometry"
        ),
    )

    grams = (
        _doc_ngrams(batch_df, id_col, text_col, shingle_k)
        .select("id", "g")
        .distinct()
    )
    hot = _read_batches(spark, store_path, "hot", exclude=batch_id)
    if hot is not None:
        grams = grams.join(hot.select("g"), "g", "left_anti")
    grams = grams.persist()
    grams.write.mode("overwrite").parquet(
        f"{store_path}/rows/batch=stream-{int(batch_id)}"
    )
    # cumulative DF for THIS batch's shingles only (semi-join keeps the
    # history scan proportional to the batch, not the corpus); the
    # (id, g) distinct after the union makes DF count DOCUMENTS, not
    # ingestion events — a doc re-ingested across batches must not
    # double-count toward hot-crossing (ADVICE r13)
    prior_rows = _read_batches(spark, store_path, "rows", exclude=batch_id)
    cum = grams
    if prior_rows is not None:
        cum = cum.unionByName(
            prior_rows.join(
                grams.select("g").distinct(), "g", "left_semi"
            )
        ).distinct()
    newly_hot = (
        cum.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("g")
    )
    newly_hot.write.mode("overwrite").parquet(
        f"{store_path}/hot/batch=stream-{int(batch_id)}"
    )
    grams.unpersist()


def incremental_shingles(
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 8,
    max_df: int = 5,
):
    """Streaming wrapper over :func:`ingest_shingles_batch` — returns the
    DataStreamWriter (call ``.start()``)."""

    return _foreach_batch(
        stream, checkpoint_path,
        lambda df, bid: ingest_shingles_batch(
            df, store_path, bid, id_col=id_col, text_col=text_col,
            shingle_k=shingle_k, max_df=max_df,
        ),
    )


def resolve_containment_store(
    spark,
    store_path: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Resolve the live rare-shingle store into verified containment pairs
    over ``docs`` — hash-identical to the one-shot
    ``containment_pairs(docs, candidates='rare_shingle')`` at every point
    in the stream's life (oracle-pinned by ``stream_containment_docs``).

    Hot shingles are excluded wholesale (their pre-crossing rows still
    sit in old batch directories — suppression is forward-only), the DF
    cut re-applies [2, max_df] over the live rows, and the shared-shingle
    pair join + containment verify reuse the batch operator's exact
    expressions.
    """
    from vectordb_watermark_spark.operators.dedup import containment_pairs

    rows = _read_batches(spark, store_path, "rows")
    if rows is None:
        return containment_pairs(
            docs.limit(0), docs.limit(0).selectExpr(
                f"{id_col} as a", f"{id_col} as b"
            ),
            id_col=id_col, text_col=text_col, threshold=threshold,
        )
    pin = _get_sidecar(spark, store_path, "pin")
    # (id, g) distinct across batch directories: a doc ingested in more
    # than one micro-batch lands its rows in each batch dir, and raw-row
    # DF would double-count it — the one-shot twin dedups (id, g)
    # corpus-wide, so the resolve must too (ADVICE r13)
    rows = rows.select("id", "g").distinct()
    hot = _read_batches(spark, store_path, "hot")
    if hot is not None:
        rows = rows.join(hot.select("g"), "g", "left_anti")
    live = rows.join(
        rows.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= pin["max_df"]))
        .select("g"),
        "g",
    )
    pairs = (
        live.select("g", F.col("id").alias("a"))
        .join(live.select("g", F.col("id").alias("b")), "g")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return containment_pairs(
        docs, pairs, id_col=id_col, text_col=text_col, threshold=threshold
    )
