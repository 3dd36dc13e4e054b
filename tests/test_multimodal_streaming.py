"""Multimodal plumbing + streaming operator tests.

Multimodal: the codecs are stubbed (no image libs here), but the Spark-side
plumbing — binary schemas, Arrow batch shapes, mapInPandas kernels, per-frame
fan-out — runs for real against deterministic fake formats.

Streaming: file-source stream of the events table; windowed counts must equal
the batch computation; stateful sessionization must match the batch twin on
closed sessions.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_TINY, load
from vectordb_watermark_spark.operators import multimodal as M
from vectordb_watermark_spark.streaming import events as SE


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (0, M.make_fake_image(b"img0", 16, 12, 3)),
        (1, M.make_fake_image(b"img1", 8, 8, 1)),
        (2, M.make_fake_audio(b"aud0", 512, 8000)),
        (3, M.make_fake_video(b"vid0", 6, 8, 6)),
        (4, b"\xff\xd8\xff\xe0fakejpegbody"),
    ]
    return spark.createDataFrame(rows, "id long, media binary").cache()


def test_media_metadata_sniffs_types(media):
    got = {r["id"]: r for r in M.media_metadata(media).collect()}
    assert got[0]["media_type"] == "image/fake"
    assert got[2]["media_type"] == "audio/fake"
    assert got[3]["media_type"] == "video/fake"
    assert got[4]["media_type"] == "image/jpeg"
    assert all(len(r["content_hash"]) == 64 for r in got.values())
    assert got[1]["byte_len"] == len(M.make_fake_image(b"img1", 8, 8, 1))


def test_decode_resize_features_pipeline(media):
    imgs = media.filter(F.col("id") < 2)
    decoded = M.decode_images(imgs)
    rows = {r["id"]: r for r in decoded.collect()}
    assert (rows[0]["width"], rows[0]["height"], rows[0]["channels"]) == (16, 12, 3)
    assert len(bytes(rows[0]["pixels"])) == 16 * 12 * 3

    resized = M.resize_images(decoded, 4, 3)
    rrows = {r["id"]: r for r in resized.collect()}
    assert (rrows[0]["width"], rrows[0]["height"]) == (4, 3)
    assert len(bytes(rrows[0]["pixels"])) == 4 * 3 * 3

    feats = {r["id"]: r["features"] for r in M.image_features(decoded).collect()}
    assert len(feats[0]) == 6  # 3 channels x (mean, std)
    assert len(feats[1]) == 2
    assert all(0.0 <= f <= 1.0 for f in feats[0])


def test_decode_corrupt_jpeg_fails_loud(spark, media):
    # id 4 carries a JPEG magic with garbage after it: the real baseline
    # decoder must fail loudly on the corrupt marker stream, never return
    # fabricated pixels
    jpeg = media.filter(F.col("id") == 4)
    with pytest.raises(Exception, match="no SOS|truncated|marker"):
        M.decode_images(jpeg).collect()


def test_video_frame_sampling(media):
    vids = media.filter(F.col("id") == 3)
    frames = M.sample_video_frames(vids, every_k=2).collect()
    assert [f["frame_idx"] for f in frames] == [0, 2, 4]
    assert all(len(bytes(f["pixels"])) == 8 * 6 for f in frames)


def _make_ppm(w, h, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    return b"P6\n# comment\n" + f"{w} {h}\n255\n".encode() + px.tobytes(), px


def _make_bmp(w, h, seed=9, top_down=False):
    import struct

    import numpy as np

    rng = np.random.default_rng(seed)
    rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    body_rows = rgb if top_down else rgb[::-1]
    rows[:, : w * 3] = body_rows[:, :, [2, 1, 0]].reshape(h, w * 3)  # RGB->BGR
    body = rows.tobytes()
    hdr_h = h if not top_down else -h
    dib = struct.pack("<IiiHHIIiiII", 40, w, hdr_h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    file_hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    return file_hdr + dib + body, rgb


def _make_wav(rate=16000, n=256, n_ch=2, seed=3):
    import struct

    import numpy as np

    rng = np.random.default_rng(seed)
    x = rng.integers(-20000, 20000, size=(n, n_ch), dtype=np.int16)
    data = x.tobytes()
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * n_ch * 2, n_ch * 2, 16)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body, x


def test_real_ppm_bmp_decode(spark):
    """P6 PPM and uncompressed BMP decode for REAL — pixel-exact against the
    arrays they were built from, through the distributed kernel."""
    import numpy as np

    ppm, ppm_px = _make_ppm(11, 7)
    bmp, bmp_px = _make_bmp(10, 5)
    bmp_td, bmp_td_px = _make_bmp(6, 4, seed=13, top_down=True)
    df = spark.createDataFrame(
        [(0, ppm), (1, bmp), (2, bmp_td)], "id long, media binary"
    )
    got = {r["id"]: r for r in M.decode_images(df).collect()}
    for i, (px, w, h) in enumerate([(ppm_px, 11, 7), (bmp_px, 10, 5), (bmp_td_px, 6, 4)]):
        r = got[i]
        assert (r["width"], r["height"], r["channels"]) == (w, h, 3)
        arr = np.frombuffer(bytes(r["pixels"]), dtype=np.uint8).reshape(h, w, 3)
        assert (arr == px).all()


def test_real_wav_decode_features(spark):
    """PCM WAV (stereo 16-bit) decodes for real; RMS/ZCR match a direct
    numpy computation on the mono mixdown."""
    import numpy as np

    wav, x = _make_wav()
    df = spark.createDataFrame([(0, wav)], "id long, media binary")
    feats = M.audio_features(df).collect()[0]["features"]
    mono = (x.astype(np.float64) / 32768.0).mean(axis=1)
    assert abs(feats[0] - float(np.sqrt((mono**2).mean()))) < 1e-6
    assert abs(feats[1] - float((np.diff(np.signbit(mono)) != 0).mean())) < 1e-6
    assert feats[2] == 16000.0


def test_real_decode_composes_with_resize_and_features(spark):
    """uncompressed real formats flow through the same downstream kernels
    as the fake format: decode -> resize -> features."""
    ppm, px = _make_ppm(12, 8)
    df = spark.createDataFrame([(0, ppm)], "id long, media binary")
    small = M.resize_images(M.decode_images(df), 6, 4).collect()[0]
    assert (small["width"], small["height"]) == (6, 4)
    feats = M.image_features(M.decode_images(df)).collect()[0]["features"]
    assert len(feats) == 6  # mean+std per channel


def test_decoder_kernels_property(spark):
    """Property-style sweep of the real decoders over a grid of shapes,
    channel counts, and sample rates — decode must be exact for every
    combination (runs the numpy kernels directly; the distributed path is
    covered by the pixel-exact tests above)."""
    import numpy as np

    from vectordb_watermark_spark.operators.multimodal import (
        _decode_bmp,
        _decode_ppm,
        _decode_wav,
    )

    for w, h in [(1, 1), (3, 2), (17, 5), (64, 1)]:
        ppm, px = _make_ppm(w, h, seed=w * 100 + h)
        gw, gh, gc, gpx = _decode_ppm(ppm)
        assert (gw, gh, gc) == (w, h, 3)
        assert np.array_equal(np.frombuffer(gpx, np.uint8).reshape(h, w, 3), px)
        for td in (False, True):
            bmp, rgb = _make_bmp(w, h, seed=w + h, top_down=td)
            gw, gh, gc, gpx = _decode_bmp(bmp)
            assert (gw, gh, gc) == (w, h, 3)
            assert np.array_equal(np.frombuffer(gpx, np.uint8).reshape(h, w, 3), rgb)
    for rate, n, ch in [(8000, 1, 1), (16000, 255, 2), (44100, 64, 4)]:
        wav, x = _make_wav(rate, n, ch, seed=ch)
        grate, mono = _decode_wav(wav)
        assert grate == rate and len(mono) == n
        expect = (x.astype(np.float64) / 32768.0).mean(axis=1)
        assert np.allclose(mono, expect, atol=0)


def test_audio_features(media):
    aud = media.filter(F.col("id") == 2)
    feats = M.audio_features(aud).collect()[0]["features"]
    assert len(feats) == 3
    assert 0.0 < feats[0] < 1.0  # RMS of a keystream is mid-range
    assert feats[2] == 8000.0


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def events_stream_dir(tmp_path_factory):
    import shutil

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_TINY}/events.parquet", d / "events.parquet")
    return str(d)


def test_windowed_counts_stream_equals_batch(spark, events_stream_dir):
    stream = SE.stream_events(spark, events_stream_dir)
    q = (
        SE.windowed_event_counts(stream, "1 hour", "2 hours")
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }

    batch = SE.read_events(spark, events_stream_dir).withColumn(
        "event_time", F.timestamp_seconds(F.expr("ts DIV 1000000000"))
    )
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in SE.windowed_event_counts(batch).collect()
    }
    assert got == expected
    assert len(got) > 10


def test_sessionize_stream_matches_batch_closed_sessions(spark, events_stream_dir):
    stream = SE.stream_events(spark, events_stream_dir)
    q = (
        SE.sessionize_stream(stream, gap_seconds=900)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_start_sec"], r["session_end_sec"], r["n_events"])
        for r in spark.sql("SELECT * FROM sessions").collect()
    }

    batch = SE.read_events(spark, events_stream_dir)
    expected_all = {
        (r["user_id"], r["session_start_sec"], r["session_end_sec"], r["n_events"])
        for r in SE.sessionize_batch(batch, gap_seconds=900).collect()
    }
    # the stream emits sessions closed by a subsequent event or state timeout;
    # trailing open sessions may be withheld — everything emitted must be a
    # real session, and most sessions must have been emitted
    assert got <= expected_all
    assert len(got) >= 0.5 * len(expected_all)


def test_stream_stream_interval_join_matches_batch(spark, events_stream_dir):
    """Stream-stream interval join (watermarked both sides) must produce
    exactly the batch join's pairs when all data fits one micro-batch."""
    stream = SE.stream_events(spark, events_stream_dir)
    q = (
        SE.click_purchase_interval_join(stream, window_seconds=86400)
        .writeStream.format("memory")
        .queryName("cp_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT user_id, click_id, purchase_id, gap_seconds, value FROM cp_join"
        ).collect()
    }
    batch = SE.read_events(spark, events_stream_dir).withColumn(
        "event_time", F.timestamp_seconds(F.expr("ts DIV 1000000000"))
    )
    expected = {
        tuple(r)
        for r in SE.click_purchase_interval_join(batch, window_seconds=86400).collect()
    }
    assert got == expected
    assert len(got) > 20  # non-degenerate


def test_continuous_rollup_incremental_refresh(spark, tmp_path):
    """Hypertable-style continuous aggregate: two micro-batches refresh the
    persistent rollup incrementally; the final rollup table must equal the
    one-shot batch windowed aggregation over all events."""
    import shutil

    src = tmp_path / "ev_src"
    src.mkdir()
    ev = SE.read_events(spark, f"{SF_TINY}/events.parquet")
    # split into two flat files -> two micro-batches (maxFilesPerTrigger=1)
    half_a, half_b = ev.randomSplit([0.5, 0.5], seed=7)
    for name, half in (("a", half_a), ("b", half_b)):
        out = tmp_path / f"stage_{name}"
        half.coalesce(1).write.parquet(str(out))
        part = next(p for p in out.glob("part-*.parquet"))
        shutil.copy(part, src / f"{name}.parquet")

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts long, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("event_time", F.timestamp_seconds(F.expr("ts DIV 1000000000")))
    )
    rollup = str(tmp_path / "rollup")
    q = SE.continuous_rollup(
        stream, rollup, str(tmp_path / "ckpt"), watermark_delay="365 days"
    ).trigger(availableNow=True).start()
    q.awaitTermination(180)

    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(rollup).collect()
    }
    batch = ev.withColumn("event_time", F.timestamp_seconds(F.expr("ts DIV 1000000000")))
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in SE.windowed_event_counts(batch).collect()
    }
    assert got == expected and len(got) > 10


def test_stream_dedup_bounded_state(spark, events_stream_dir):
    """dropDuplicatesWithinWatermark with a horizon covering the whole
    dataset keeps exactly one row per key — matching batch dropDuplicates
    key-for-key — while evicting state past the watermark on a real
    unbounded stream (the contract documented on stream_dedup)."""
    stream = SE.stream_events(spark, events_stream_dir)
    q = (
        SE.stream_dedup(stream, ["user_id", "event_type"], watermark_delay="365 days")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT user_id, event_type FROM dedup_out")
    batch = SE.read_events(spark, events_stream_dir)
    expected = SE.stream_dedup(batch, ["user_id", "event_type"])
    assert got.count() == got.distinct().count()  # no key appears twice
    assert got.distinct().count() == expected.select("user_id", "event_type").distinct().count()


def test_incremental_embed_foreachbatch(spark, tmp_path):
    import pyspark.sql.functions as F

    src = str(tmp_path / "vec_in")
    out = str(tmp_path / "wm_out")
    ckpt = str(tmp_path / "ckpt")
    base = spark.read.parquet(f"{SF_TINY}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("emb")
    )
    base.write.parquet(src)

    stream = (
        spark.readStream.schema("id long, emb array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = SE.incremental_embed(stream, "ABCDEFGHIJKLMNOP", "stream-key", out, ckpt, rate=0.2).start()
    q.awaitTermination(180)

    wm = spark.read.parquet(out)
    assert wm.count() == base.count()
    # the watermarked table differs from the source on the carrier rows
    joined = base.withColumnRenamed("emb", "orig").join(wm, "id")
    changed = joined.filter(F.expr("orig != emb")).count()
    assert changed > 0


def test_asof_join_semantics_and_partition_invariance(spark):
    """asof_join: greatest right time <= left time per key, LEFT semantics,
    right-at-equal-time matches, deterministic tie-break by tiebreak_cols,
    and identical output at any input partitioning."""
    from vectordb_watermark_spark.operators.temporal import asof_join

    l = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (1, 5, 102), (2, 7, 103)], "k int, t long, ev int"
    )
    r = spark.createDataFrame(
        [(1, 10, 1.0), (1, 15, 2.0), (2, 1, 3.0)], "k int, t long, v double"
    )
    expect = {
        (1, 10, 100, 10, 1.0),
        (1, 20, 101, 15, 2.0),
        (1, 5, 102, None, None),
        (2, 7, 103, 1, 3.0),
    }
    for parts in (1, 7):
        got = {
            tuple(row)
            for row in asof_join(
                l.repartition(parts), r.repartition(parts), ["k"], "t", "t", ["v"]
            ).collect()
        }
        assert got == expect
    # duplicate right timestamps: the greatest tiebreak value wins
    r_dup = spark.createDataFrame(
        [(1, 10, 1.0, 1), (1, 10, 9.0, 2)], "k int, t long, v double, seq int"
    )
    got = asof_join(l, r_dup, ["k"], "t", "t", ["v"], tiebreak_cols=["seq"]).collect()
    by_ev = {row["ev"]: row["v"] for row in got}
    assert by_ev[100] == 9.0 and by_ev[101] == 9.0 and by_ev[102] is None


def test_range_join_matches_naive_any_band(spark):
    """range_join must equal the naive BETWEEN nested-loop join for every
    band width (bands only affect candidate generation, never the result),
    including intervals spanning many bands and points on boundaries."""
    import random

    from vectordb_watermark_spark.operators.temporal import range_join

    rnd = random.Random(5)
    pts = [(rnd.randint(1, 3), i, rnd.randint(0, 1000)) for i in range(80)]
    ivs = []
    for j in range(30):
        lo = rnd.randint(0, 950)
        ivs.append((rnd.randint(1, 3), 100 + j, lo, lo + rnd.randint(0, 300)))
    l = spark.createDataFrame(pts, "k int, pid int, p long")
    r = spark.createDataFrame(ivs, "k int, iid int, lo long, hi long")
    # include a malformed interval (hi < lo): must match nothing, not crash
    r = r.union(spark.createDataFrame([(1, 999, 500, 100)], r.schema))
    naive = {
        tuple(row)
        for row in l.join(r, "k").filter("p between lo and hi")
        .select("pid", "iid").collect()
    }
    assert naive  # non-degenerate fixture
    for band in (7, 100, 1024):
        got = {
            tuple(row)
            for row in range_join(l, r, ["k"], "p", "lo", "hi", band=band)
            .select("pid", "iid").collect()
        }
        assert got == naive


def test_sessionize_batch_semantics(spark):
    ns = 1_000_000_000
    rows = [
        (1, 0 * ns, 7, "a", 0.0, "{}"),
        (2, 100 * ns, 7, "a", 0.0, "{}"),
        (3, 5000 * ns, 7, "a", 0.0, "{}"),  # gap > 1800s -> new session
        (4, 50 * ns, 8, "a", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double, props string"
    )
    got = {
        (r["user_id"], r["session_id"]): (r["session_start_sec"], r["session_end_sec"], r["n_events"])
        for r in SE.sessionize_batch(df, gap_seconds=1800).collect()
    }
    assert got[(7, 1)] == (0, 100, 2)
    assert got[(7, 2)] == (5000, 5000, 1)
    assert got[(8, 1)] == (50, 50, 1)


def test_asof_join_rejects_colliding_value_columns(spark):
    from vectordb_watermark_spark.operators.temporal import asof_join

    l = spark.createDataFrame([(1, 10, 1.0)], "k int, t long, v double")
    r = spark.createDataFrame([(1, 5, 2.0)], "k int, t long, v double")
    with pytest.raises(ValueError, match="collide"):
        asof_join(l, r, ["k"], "t", "t", ["v"])


def test_asof_join_rejects_reserved_scratch_columns(spark):
    """Input frames already carrying an internal scratch name (__t, __side,
    __p, __m, __rt, __tb_N) would corrupt the union — refuse loudly."""
    from vectordb_watermark_spark.operators.temporal import asof_join

    l_bad = spark.createDataFrame([(1, 10, 1.0)], "k int, t long, __side double")
    r = spark.createDataFrame([(1, 5, 2.0)], "k int, t long, v double")
    with pytest.raises(ValueError, match="reserves internal"):
        asof_join(l_bad, r, ["k"], "t", "t", ["v"])
    l = spark.createDataFrame([(1, 10)], "k int, t long")
    r_bad = spark.createDataFrame([(1, 5, 2.0, 0)], "k int, t long, v double, __tb_0 int")
    with pytest.raises(ValueError, match="reserves internal"):
        asof_join(l, r_bad, ["k"], "t", "t", ["v"], tiebreak_cols=["__tb_0"])


def test_incremental_dedup_across_microbatches(spark, tmp_path):
    """Cross-batch dedup: a doc accepted in batch A must be rejected when a
    copy arrives in batch B; batch-internal dups collapse; uniques survive."""
    import shutil

    from vectordb_watermark_spark.streaming.curation import incremental_dedup

    src = tmp_path / "docs_src"
    src.mkdir()
    batch_a = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta"),
         (3, "alpha beta gamma delta")],          # 3 dups 1 in-batch
        "doc_id long, text string",
    )
    batch_b = spark.createDataFrame(
        [(10, "alpha beta gamma delta"),          # dup of batch A's 1
         (11, "iota kappa lambda mu"),            # new
         (12, "epsilon zeta eta theta")],         # dup of batch A's 2
        "doc_id long, text string",
    )
    for name, b in (("a", batch_a), ("b", batch_b)):
        stage = tmp_path / f"stage_{name}"
        b.coalesce(1).write.parquet(str(stage))
        part = next(p for p in stage.glob("part-*.parquet"))
        shutil.copy(part, src / f"{name}.parquet")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = incremental_dedup(
        stream, str(tmp_path / "out"), str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
    ).trigger(availableNow=True).start()
    q.awaitTermination(180)

    kept = spark.read.parquet(str(tmp_path / "out") + "/batch-*")
    texts = sorted(r["text"] for r in kept.collect())
    assert texts == sorted([
        "alpha beta gamma delta", "epsilon zeta eta theta", "iota kappa lambda mu",
    ]), texts
    store = spark.read.parquet(str(tmp_path / "store") + "/batch-*")
    assert store.count() == store.select("sig_hash").distinct().count() == 3


def test_real_png_decode_all_filters(spark):
    """PNG decodes for REAL (stdlib zlib + unfilter): pixel-exact roundtrip
    for gray/RGB/RGBA across all five scanline filters, plus the
    distributed kernel and metadata sniff; JPEG still raises at the codec
    stub."""
    import numpy as np
    import pytest as _pytest

    from vectordb_watermark_spark.operators.multimodal import (
        _decode_png,
        make_png,
    )

    rng = np.random.default_rng(21)
    # every filter type, every supported color type: decode == source
    for nch, out_ch in [(1, 1), (2, 1), (3, 3), (4, 3)]:
        arr = rng.integers(0, 256, (9, 7, nch), dtype=np.uint8)
        for filters in ([0] * 9, [1] * 9, [2] * 9, [3] * 9, [4] * 9,
                        [0, 1, 2, 3, 4, 4, 3, 2, 1]):
            raw = make_png(arr, row_filters=list(filters))
            w, h, c, px = _decode_png(raw)
            assert (w, h, c) == (7, 9, out_ch)
            got = np.frombuffer(px, np.uint8).reshape(9, 7, out_ch)
            assert np.array_equal(got, arr[:, :, :out_ch]), (nch, filters)

    # distributed kernel + downstream compose + metadata sniff
    rgb = rng.integers(0, 256, (8, 12, 3), dtype=np.uint8)
    png = make_png(rgb, row_filters=[4, 3, 2, 1, 0, 4, 3, 2])
    df = spark.createDataFrame([(0, png)], "id long, media binary")
    r = M.decode_images(df).collect()[0]
    assert (r["width"], r["height"], r["channels"]) == (12, 8, 3)
    assert np.array_equal(
        np.frombuffer(bytes(r["pixels"]), np.uint8).reshape(8, 12, 3), rgb
    )
    assert M.media_metadata(df).collect()[0]["media_type"] == "image/png"
    feats = M.image_features(M.decode_images(df)).collect()[0]["features"]
    assert len(feats) == 6

    # unsupported PNG shapes raise with guidance
    bad16 = bytearray(make_png(rgb))
    # IHDR depth byte: sig(8) + len(4) + type(4) + w(4) + h(4) = offset 24
    bad16[24] = 16
    with _pytest.raises((NotImplementedError, ValueError)):
        _decode_png(bytes(bad16))


def test_mp4_container_parse_and_sample_extraction(spark):
    """ISO BMFF container layer is REAL (box walk + stsz/stsc/stco/stss
    resolution): metadata inventory and raw sample/keyframe byte extraction
    work without any codec library; only the codec decode of those samples
    stays stubbed."""
    import pytest as _pytest

    from vectordb_watermark_spark.operators.multimodal import (
        _parse_mp4,
        make_mp4,
        mp4_metadata,
        mp4_sample_bytes,
    )

    samples = [bytes([i]) * (10 + i) for i in range(10)]
    raw = make_mp4(samples, width=64, height=48, timescale=600,
                   sample_delta=20, sync_every=3)

    # container-level parse: every sample byte-exact through the tables
    t = _parse_mp4(raw)["tracks"][0]
    assert (t["type"], t["codec"], t["width"], t["height"]) == ("vide", "avc1", 64, 48)
    for si, (off, size, sync) in enumerate(t["samples"]):
        assert raw[off : off + size] == samples[si]
        assert sync == (si % 3 == 0)

    df = spark.createDataFrame(
        [(7, raw), (8, make_mp4(samples[:4], width=16, height=16))],
        "id long, media binary",
    )
    # metadata kernel + sniff
    meta = {r["id"]: r for r in mp4_metadata(df).collect()}
    assert meta[7]["n_samples"] == 10 and meta[7]["codec"] == "avc1"
    assert meta[7]["duration_ms"] == _pytest.approx(10 * 20 / 600 * 1000)
    assert meta[8]["width"] == 16 and meta[8]["n_tracks"] == 1
    assert (
        M.media_metadata(df).filter(F.col("id") == 7).first()["media_type"]
        == "video/mp4"
    )

    # distributed extraction: every-2nd sample, and keyframes only
    rows = mp4_sample_bytes(df.filter(F.col("id") == 7), every_k=2).collect()
    assert [r["sample_idx"] for r in rows] == [0, 2, 4, 6, 8]
    assert all(bytes(r["data"]) == samples[r["sample_idx"]] for r in rows)
    keys = mp4_sample_bytes(df.filter(F.col("id") == 7), sync_only=True).collect()
    assert [r["sample_idx"] for r in keys] == [0, 3, 6, 9]
    assert all(r["is_sync"] for r in keys)

    # the codec DECODE is still the stubbed boundary
    with _pytest.raises(Exception, match="codec library|NotImplemented"):
        M.decode_images(df.filter(F.col("id") == 7)).collect()
    # non-MP4 payloads fail the parse loudly
    with _pytest.raises(ValueError, match="ISO BMFF"):
        _parse_mp4(b"\x00\x00\x00\x08freeJUNK")


def test_mp4_ops_accept_string_ids(spark):
    """Media ids need not be long (ADVICE r7): the MP4 kernels derive the id
    type from the input schema, like the PQ/BPE operators."""
    from vectordb_watermark_spark.operators.multimodal import (
        make_mp4,
        mp4_metadata,
        mp4_sample_bytes,
    )

    raw = make_mp4([b"aa", b"bbb", b"cccc"], width=8, height=8)
    df = spark.createDataFrame([("vid-1", raw)], "id string, media binary")
    meta = mp4_metadata(df).collect()
    assert meta[0]["id"] == "vid-1" and meta[0]["n_samples"] == 3
    rows = mp4_sample_bytes(df).collect()
    assert len(rows) == 3 and all(r["id"] == "vid-1" for r in rows)


def test_jpeg_non_interleaved_scan_fails_loud():
    """A spec-legal baseline file with multiple non-interleaved scans
    (SOS lists fewer components than SOF) must raise, not silently decode
    the first component's bits as all three (ADVICE r7)."""
    import numpy as np
    import pytest as _pytest

    from vectordb_watermark_spark.operators.multimodal import (
        _decode_jpeg,
        make_jpeg,
    )

    img = np.zeros((16, 16, 3), dtype=np.uint8)
    raw = make_jpeg(img, quality=90)
    i = raw.find(b"\xff\xda")
    seg_len = int.from_bytes(raw[i + 2 : i + 4], "big")
    body = raw[i + 4 : i + 2 + seg_len]
    assert body[0] == 3
    # rewrite the SOS header to a single-component (non-interleaved) scan:
    # ns=1, first component spec, original ss/se/ah_al trailer
    new_body = bytes([1]) + body[1:3] + body[1 + 2 * 3 :]
    new_seg = b"\xff\xda" + (len(new_body) + 2).to_bytes(2, "big") + new_body
    hacked = raw[:i] + new_seg + raw[i + 2 + seg_len :]
    with _pytest.raises(NotImplementedError, match="non-interleaved"):
        _decode_jpeg(hacked)


def test_real_jpeg_decode_baseline(spark):
    """Baseline JPEG decodes for REAL (VERDICT r6 task #2, carried since
    r4): Huffman + dequant + IDCT on stdlib/numpy.  Ground truth is this
    module's own spec-valid encoder (make_jpeg — quant/Huffman tables travel
    in DQT/DHT like any real file); the decode must land pixel-close (PSNR
    floor) across quality levels, gray/RGB, 4:2:0 subsampling, restart
    markers, and non-multiple-of-8 dims.  Progressive still raises at the
    codec stub; the distributed kernel routes by magic sniff."""
    import struct as _struct

    import numpy as np
    import pytest as _pytest

    from vectordb_watermark_spark.operators.multimodal import (
        _decode_jpeg,
        make_jpeg,
    )

    def psnr(a, b):
        mse = ((a.astype(np.float64) - b.astype(np.float64)) ** 2).mean()
        return 10 * np.log10(255.0**2 / mse) if mse else float("inf")

    rng = np.random.default_rng(33)
    # piecewise-smooth + mild noise: representative JPEG content (pure
    # uniform noise would measure the format, not the decoder)
    base = rng.integers(0, 256, (3, 4, 3)).astype(np.float64)
    img = np.clip(
        np.kron(base, np.ones((16, 16, 1))) + rng.normal(0, 4, (48, 64, 3)),
        0, 255,
    ).astype(np.uint8)

    for kw, floor in [
        (dict(quality=95), 35.0),
        (dict(quality=75), 33.0),
        (dict(quality=95, subsample=True), 33.0),   # 4:2:0 MCU path
        (dict(quality=90, restart_interval=3), 33.0),  # DRI/RSTn path
    ]:
        raw = make_jpeg(img, **kw)
        w, h, c, px = _decode_jpeg(raw)
        assert (w, h, c) == (64, 48, 3)
        got = np.frombuffer(px, np.uint8).reshape(h, w, c)
        assert psnr(img, got) > floor, kw

    # grayscale single-component scan
    raw = make_jpeg(img[:, :, 0], quality=92)
    w, h, c, px = _decode_jpeg(raw)
    assert (w, h, c) == (64, 48, 1)
    assert psnr(img[:, :, :1], np.frombuffer(px, np.uint8).reshape(h, w, 1)) > 35.0

    # non-multiple-of-8 dims: edge padding must crop back exactly
    odd = img[:45, :61]
    w, h, c, px = _decode_jpeg(make_jpeg(odd, quality=90, subsample=True))
    assert (w, h, c) == (61, 45, 3)
    assert psnr(odd, np.frombuffer(px, np.uint8).reshape(h, w, c)) > 32.0

    # distributed kernel + magic-sniff routing + metadata type
    df = spark.createDataFrame(
        [(0, make_jpeg(img, quality=95))], "id long, media binary"
    )
    r = M.decode_images(df).collect()[0]
    assert (r["width"], r["height"], r["channels"]) == (64, 48, 3)
    assert M.media_metadata(df).collect()[0]["media_type"] == "image/jpeg"
    feats = M.image_features(M.decode_images(df)).collect()[0]["features"]
    assert len(feats) == 6

    # a SOF2 header with no scan data still fails loud
    sof2 = (
        b"\xff\xd8\xff\xc2" + _struct.pack(">H", 11)
        + b"\x08\x00\x10\x00\x10\x01" + b"\x01\x11\x00"
    )
    with _pytest.raises(ValueError, match="no SOS"):
        _decode_jpeg(sof2)


def test_real_jpeg_decode_progressive(spark):
    """Progressive JPEG decodes for REAL (VERDICT r8 task #4): spectral
    selection + successive approximation per T.81 Annex G.  Ground truth is
    make_jpeg_progressive, which quantizes through the SAME front half as
    the baseline encoder — so the progressive decode must be PIXEL-IDENTICAL
    to the baseline decode of the same image, across scan scripts, quality
    levels, subsampling, odd dims, restart markers, and content classes
    (flat = long EOBn runs across blocks; noise = ZRL + refinement churn)."""
    import numpy as np
    import pytest as _pytest

    from vectordb_watermark_spark.operators.multimodal import (
        _decode_jpeg,
        make_jpeg,
        make_jpeg_progressive,
    )

    rng = np.random.default_rng(44)
    base = rng.integers(0, 256, (3, 4, 3)).astype(np.float64)
    smooth = np.clip(
        np.kron(base, np.ones((16, 16, 1))) + rng.normal(0, 4, (48, 64, 3)), 0, 255
    ).astype(np.uint8)
    flat = np.full((32, 40, 3), 130, dtype=np.uint8)
    noise = rng.integers(0, 256, (40, 56, 3)).astype(np.uint8)

    deep = [(-1, 0, 0, 0, 3)] + [(c, 1, 63, 0, 3) for c in range(3)]
    for al in (2, 1, 0):
        deep.append((-1, 0, 0, al + 1, al))
        deep += [(c, 1, 63, al + 1, al) for c in range(3)]
    bands = [(-1, 0, 0, 0, 0), (0, 1, 2, 0, 0), (0, 3, 8, 0, 0),
             (0, 9, 35, 0, 0), (0, 36, 63, 0, 0), (1, 1, 63, 0, 0),
             (2, 1, 63, 0, 0)]

    for img in (smooth, flat, noise):
        for script in (None, deep, bands):
            for kw in (dict(quality=85, subsample=True),
                       dict(quality=40, subsample=False)):
                b = make_jpeg(img, **kw)
                p = make_jpeg_progressive(img, scans=script, **kw)
                assert _decode_jpeg(p) == _decode_jpeg(b), (script is deep, kw)

    # odd dims + 4:2:0 (crop/padding through the progressive block grids)
    odd = smooth[:45, :61]
    b = make_jpeg(odd, quality=90, subsample=True)
    p = make_jpeg_progressive(odd, quality=90, subsample=True)
    assert _decode_jpeg(p) == _decode_jpeg(b)
    assert _decode_jpeg(p)[:3] == (61, 45, 3)

    # grayscale script + restart markers in every scan type
    for rst in (2, 5):
        bg = make_jpeg(smooth[:, :, 0], quality=80, restart_interval=rst)
        pg = make_jpeg_progressive(smooth[:, :, 0], quality=80, restart_interval=rst)
        assert _decode_jpeg(pg) == _decode_jpeg(bg)
        bc = make_jpeg(noise, quality=70, subsample=True, restart_interval=rst)
        pc = make_jpeg_progressive(noise, quality=70, subsample=True, restart_interval=rst)
        assert _decode_jpeg(pc) == _decode_jpeg(bc)

    # the distributed kernel routes progressive files like any JPEG
    df = spark.createDataFrame(
        [(0, make_jpeg_progressive(smooth, quality=90))], "id long, media binary"
    )
    r = M.decode_images(df).collect()[0]
    assert (r["width"], r["height"], r["channels"]) == (64, 48, 3)
    assert M.media_metadata(df).collect()[0]["media_type"] == "image/jpeg"

    # spec guard: a refinement scan skipping an approximation level is
    # rejected at encode time (successive approximation is one bit per scan)
    with _pytest.raises(ValueError, match="one bit at a time"):
        make_jpeg_progressive(
            smooth, scans=[(-1, 0, 0, 0, 3), (-1, 0, 0, 2, 1)]
        )


def test_progressive_jpeg_component_selective_dc_scans():
    """Regression (round-9 self-review): a NON-interleaved DC scan walks the
    component's OWN block grid in raster order (T.81 A.2.2), not the
    MCU-padded grid — on a subsampled 17x23 image the old MCU-order walk
    emitted 16 luma blocks where the decoder reads 9 (bitstream desync)."""
    import numpy as np

    from vectordb_watermark_spark.operators.multimodal import (
        _decode_jpeg,
        make_jpeg,
        make_jpeg_progressive,
    )

    rng = np.random.default_rng(21)
    base = rng.integers(0, 256, (3, 4, 3)).astype(np.float64)
    img = np.clip(
        np.kron(base, np.ones((16, 16, 1))) + rng.normal(0, 5, (48, 64, 3)),
        0, 255,
    ).astype(np.uint8)
    scans = [(c, 0, 0, 0, 1) for c in range(3)]
    scans += [(c, 1, 63, 0, 0) for c in range(3)]
    scans += [(c, 0, 0, 1, 0) for c in range(3)]  # per-comp DC refinement
    for sub in (True, False):
        for hh, ww in ((48, 64), (17, 23)):
            a = img[:hh, :ww]
            b = make_jpeg(a, quality=85, subsample=sub)
            p = make_jpeg_progressive(a, quality=85, subsample=sub, scans=scans)
            assert _decode_jpeg(p) == _decode_jpeg(b), (sub, hh, ww)
    for rst in (2, 3):
        a = img[:33, :41]
        b = make_jpeg(a, quality=70, subsample=True, restart_interval=rst)
        p = make_jpeg_progressive(
            a, quality=70, subsample=True, restart_interval=rst, scans=scans
        )
        assert _decode_jpeg(p) == _decode_jpeg(b), rst


def test_progressive_jpeg_property_fuzz():
    """Hypothesis fuzz of the progressive codec: RANDOM image content,
    dimensions, quality, subsampling, restart interval, and a randomized
    (valid) spectral split point — the progressive decode must equal the
    baseline decode bit-for-bit on every draw (the two encoders share one
    quantization front half, so any divergence is an entropy-coding bug)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vectordb_watermark_spark.operators.multimodal import (
        _decode_jpeg,
        make_jpeg,
        make_jpeg_progressive,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        seed=st.integers(0, 2**31 - 1),
        h=st.integers(8, 40),
        w=st.integers(8, 40),
        q=st.integers(25, 95),
        sub=st.booleans(),
        rst=st.sampled_from([0, 0, 2, 5]),
        split=st.integers(1, 62),
        al=st.integers(0, 2),
    )
    def check(seed, h, w, q, sub, rst, split, al):
        rng = np.random.default_rng(seed)
        arr = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        scans = [(-1, 0, 0, 0, al)]
        for c in range(3):
            scans += [(c, 1, split, 0, al), (c, split + 1, 63, 0, al)] if split < 63 \
                else [(c, 1, 63, 0, al)]
        for lvl in range(al, 0, -1):
            scans.append((-1, 0, 0, lvl, lvl - 1))
            scans += [(c, 1, 63, lvl, lvl - 1) for c in range(3)]
        b = make_jpeg(arr, quality=q, subsample=sub, restart_interval=rst)
        p = make_jpeg_progressive(
            arr, quality=q, subsample=sub, restart_interval=rst, scans=scans
        )
        assert _decode_jpeg(p) == _decode_jpeg(b)

    check()


def test_incremental_index_across_microbatches(spark, tmp_path):
    """Streaming IVF maintenance: batch 1 bootstraps centroids, batch 2
    appends to existing centroids without retraining; after both, the
    persisted index answers queries over ALL streamed vectors with
    partition pruning intact; writing a batch twice (dynamic partition
    overwrite) must not duplicate rows."""
    import shutil

    import numpy as np

    from vectordb_watermark_spark.operators.similarity import (
        _load_centroids,
        ivf_query_index,
    )
    from vectordb_watermark_spark.streaming.curation import incremental_index

    rng = np.random.default_rng(9)
    vecs = [(i, [float(round(x, 4)) for x in rng.standard_normal(16)])
            for i in range(60)]
    src = tmp_path / "vec_src"
    src.mkdir()
    for name, rows in (("a", vecs[:40]), ("b", vecs[40:])):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, "id long, emb array<float>").coalesce(1)\
            .write.parquet(str(stage))
        part = next(p for p in stage.glob("part-*.parquet"))
        shutil.copy(part, src / f"{name}.parquet")

    stream = (
        spark.readStream.schema("id long, emb array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    idx = str(tmp_path / "ivf_stream")
    q = incremental_index(
        stream, idx, str(tmp_path / "ckpt"), n_centroids=4, key="ivf"
    ).trigger(availableNow=True).start()
    q.awaitTermination(180)

    stored = spark.read.parquet(f"{idx}/vectors")
    assert stored.count() == 60
    assert stored.select("id").distinct().count() == 60
    assert len(_load_centroids(spark, idx)) == 4

    # a streamed vector retrieves itself at rank 1 with all centroids probed
    target = dict(vecs)[55]
    top = ivf_query_index(spark, idx, target, k=1, n_probe=4).first()
    assert top["id"] == 55 and top["cos"] == 1.0

    # retry idempotence: re-writing one batch's partitions replaces, never
    # duplicates (dynamic partition overwrite on (centroid, batch))
    from pyspark.sql import functions as SF
    from vectordb_watermark_spark.operators.similarity import _ivf_assign_pass, _ivf_base

    cents = _load_centroids(spark, idx)
    replay = spark.createDataFrame(vecs[40:], "id long, emb array<float>")
    base = _ivf_base(replay, "id", "emb")
    try:
        (_ivf_assign_pass(base, cents).withColumn("batch", SF.lit("stream-1"))
         .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy("centroid", "batch").parquet(f"{idx}/vectors"))
    finally:
        base.unpersist()
    assert spark.read.parquet(f"{idx}/vectors").count() == 60


def test_ivf_reader_during_maintenance_soak(spark, tmp_path):
    """Reader-during-maintenance soak (VERDICT r6 task #5): ivf_query_index
    runs WHILE incremental_index micro-batches land, and _load_centroids is
    hammered from a reader thread THROUGH repeated full-rebuild centroid
    swaps.  Contract: every centroid read is a COMPLETE old or new
    generation — never a torn table (the _load_centroids contiguity check
    would raise), never an unknown set.  The swap's documented
    instant-between-renames gap may surface as path-missing, which the
    reader treats as a retry, not a failure."""
    import shutil
    import threading
    import time

    import numpy as np

    from vectordb_watermark_spark.operators.similarity import (
        _load_centroids,
        ivf_query_index,
        ivf_write_index,
    )
    from vectordb_watermark_spark.streaming.curation import incremental_index

    rng = np.random.default_rng(17)
    vecs = [(i, [float(round(x, 4)) for x in rng.standard_normal(16)])
            for i in range(120)]
    vdf = spark.createDataFrame(vecs, "id long, emb array<float>").cache()
    idx = str(tmp_path / "ivf_soak")

    # phase 0: index exists before the stream starts (steady-state appends)
    ivf_write_index(vdf.filter("id < 30"), idx, n_centroids=4, key="gen-0")
    generations = {tuple(map(tuple, _load_centroids(spark, idx)))}

    errors: list[str] = []
    torn: list[object] = []
    observed: set = set()
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                cents = _load_centroids(spark, idx)
            except ValueError as e:  # the torn-table signature
                torn.append(str(e))
            except Exception as e:
                # the documented rename gap: centroids dir briefly absent.
                # The gap surfaces through several exception shapes: the
                # message forms matched below, and (rarely, under heavy
                # host load) an AnalysisException whose PATH_NOT_FOUND
                # message is lost through the py4j bridge (repr() is just
                # 'AnalysisException()') — identified by errorClass, or by
                # type ONLY when the message was lost (an AnalysisException
                # that still carries a message is a real reader regression
                # and must fail the soak — ADVICE r14).
                cls = getattr(e, "getErrorClass", lambda: None)() or ""
                if (
                    "exist" in str(e)
                    or "Path" in str(e)
                    or "PATH_NOT_FOUND" in cls
                    or (
                        type(e).__name__ == "AnalysisException"
                        and not str(e).strip()
                    )
                ):
                    continue
                errors.append(repr(e))
            else:
                if len(cents) != 4:
                    torn.append(len(cents))
                observed.add(tuple(map(tuple, cents)))
            time.sleep(0.005)

    t = threading.Thread(target=reader)
    t.start()
    try:
        # phase 1: micro-batches land while full queries run between them
        src = tmp_path / "soak_src"
        src.mkdir()
        for name, lo, hi in (("a", 30, 60), ("b", 60, 90), ("c", 90, 120)):
            stage = tmp_path / f"soak_stage_{name}"
            spark.createDataFrame(vecs[lo:hi], "id long, emb array<float>")\
                .coalesce(1).write.parquet(str(stage))
            shutil.copy(next(stage.glob("part-*.parquet")), src / f"{name}.parquet")
        stream = (
            spark.readStream.schema("id long, emb array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = incremental_index(
            stream, idx, str(tmp_path / "soak_ckpt"), n_centroids=4, key="ivf"
        ).trigger(availableNow=True).start()
        qv = vecs[5][1]
        while q.isActive:
            # appends only ADD partitions — full top-k queries stay valid
            # during the stream (rebuild-while-serving is the fenced case)
            res = ivf_query_index(spark, idx, qv, k=3, n_probe=4).collect()
            assert len(res) == 3
            q.awaitTermination(1)
        assert q.exception() is None

        # phase 2: swap storm — repeated full rebuilds under the reader
        for gen in (1, 2, 3):
            ivf_write_index(
                vdf.filter(f"id < {30 * (gen + 1)}"), idx,
                n_centroids=4, key=f"gen-{gen}",
            )
            generations.add(tuple(map(tuple, _load_centroids(spark, idx))))
    finally:
        stop.set()
        t.join()

    assert not errors, errors[:3]
    assert not torn, torn[:3]
    assert observed, "reader never completed a read"
    unknown = observed - generations
    assert not unknown, f"reader saw {len(unknown)} centroid sets from no generation"
    # the post-soak index still answers: a streamed vector finds itself
    top = ivf_query_index(spark, idx, dict(vecs)[77], k=1, n_probe=4).first()
    assert top["id"] == 77 and top["cos"] == 1.0


def test_ivf_writers_compose_on_one_index(spark, tmp_path):
    """The failure mode the shared (centroid, batch) layout exists to
    prevent: a full ivf_write_index build, a streamed micro-batch, and an
    ivf_append_index append must all land in ONE readable index — no
    conflicting directory depths — and a query must see every vector."""
    import shutil

    import numpy as np

    from vectordb_watermark_spark.operators.similarity import (
        ivf_append_index,
        ivf_query_index,
        ivf_write_index,
    )
    from vectordb_watermark_spark.streaming.curation import incremental_index

    rng = np.random.default_rng(17)
    vecs = [(i, [float(round(x, 4)) for x in rng.standard_normal(12)])
            for i in range(60)]
    full = spark.createDataFrame(vecs[:30], "id long, emb array<float>")
    idx = str(tmp_path / "ivf_mixed")
    ivf_write_index(full, idx, n_centroids=4, key="ivf")

    src = tmp_path / "stream_src"
    src.mkdir()
    stage = tmp_path / "stage"
    spark.createDataFrame(vecs[30:45], "id long, emb array<float>").coalesce(1)\
        .write.parquet(str(stage))
    shutil.copy(next(stage.glob("part-*.parquet")), src / "s.parquet")
    q = incremental_index(
        spark.readStream.schema("id long, emb array<float>").parquet(str(src)),
        idx, str(tmp_path / "ck"), n_centroids=4, key="ivf",
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    appended = spark.createDataFrame(vecs[45:], "id long, emb array<float>")
    assert ivf_append_index(appended, idx) == 15

    allv = spark.read.parquet(f"{idx}/vectors")
    assert allv.count() == 60 and allv.select("id").distinct().count() == 60
    assert set(r["batch"] for r in allv.select("batch").distinct().collect()) \
        == {"full", "stream-0", "append-1"}
    target = dict(vecs)[50]
    top = ivf_query_index(spark, idx, target, k=1, n_probe=4).first()
    assert top["id"] == 50 and top["cos"] == 1.0

    # schema guards: wrong dimension and wrong id type fail fast
    import pytest as _pytest
    with _pytest.raises(ValueError, match="-d"):
        ivf_append_index(
            spark.createDataFrame([(99, [1.0] * 8)], "id long, emb array<float>"), idx
        )
    with _pytest.raises(ValueError, match="id type"):
        ivf_append_index(
            spark.createDataFrame([("x", [1.0] * 12)], "id string, emb array<float>"), idx
        )


@pytest.mark.parametrize("sink", ["incremental_index", "incremental_pq_index"])
def test_incremental_index_rebootstrap_preserves_append_seq(spark, tmp_path, sink):
    """Re-bootstrap over an existing data directory (ADVICE r5): if the
    trained tables are lost on a previously-appended index (deleted, or the
    swap crash window), the streaming bootstrap must NOT reset the append
    sequence to 1 — that would route the next append into the
    already-claimed append-1 tag, mixing new rows with stale ones or
    failing with ConcurrentAppendError.  With the sidecar also lost, the
    sequence is re-derived from the directory listing; with the sidecar
    surviving, it wins outright.  The IVF index is batch-built, the IVF-PQ
    one stream-built (its appends need the tagged layout)."""
    import os
    import shutil

    import numpy as np

    from vectordb_watermark_spark.operators.pq import ivf_pq_append_index
    from vectordb_watermark_spark.operators.similarity import (
        _load_index_meta,
        ivf_append_index,
        ivf_write_index,
    )
    from vectordb_watermark_spark.streaming import curation as C

    rng = np.random.default_rng(23)
    vecs = [(i, [float(round(x, 4)) for x in rng.standard_normal(12)])
            for i in range(60)]

    def frame(rows):
        return spark.createDataFrame(rows, "id long, emb array<float>")

    idx, src = str(tmp_path / "reboot"), tmp_path / "reboot_src"
    src.mkdir()

    def stream(rows, n):  # one new source file -> micro-batch n
        stage = tmp_path / f"reboot_stage{n}"
        frame(rows).coalesce(1).write.parquet(str(stage))
        shutil.copy(next(stage.glob("part-*.parquet")), src / f"s{n}.parquet")
        source = spark.readStream.schema("id long, emb array<float>").parquet(str(src))
        ck = str(tmp_path / "reboot_ck")
        if ivf:
            w = C.incremental_index(source, idx, ck, n_centroids=4, key="ivf")
        else:
            w = C.incremental_pq_index(source, idx, str(tmp_path / "archive"), ck,
                                       n_centroids=4, m=4, n_codes=8)
        w.trigger(availableNow=True).start().awaitTermination(120)

    ivf = sink == "incremental_index"
    if ivf:
        ivf_write_index(frame(vecs[:30]), idx, n_centroids=4, key="ivf")
        append, data, trained = ivf_append_index, "vectors", "centroids"
    else:
        stream(vecs[:30], 0)
        append, data, trained = ivf_pq_append_index, "codes", "pq_codebooks"
    append(frame(vecs[30:40]), idx)
    assert _load_index_meta(spark, idx)["next_append_seq"] == 2

    # lose BOTH the trained table and the sidecar, then re-bootstrap
    os.remove(f"{idx}/{trained}")
    os.remove(f"{idx}/index_meta")
    stream(vecs[40:50], 0 if ivf else 1)

    # listing-derived: max(append-N) + 1, not a reset to 1
    assert _load_index_meta(spark, idx)["next_append_seq"] == 2
    append(frame(vecs[50:]), idx)
    allv = spark.read.parquet(f"{idx}/{data}")
    assert allv.count() == 60 and allv.select("id").distinct().count() == 60
    assert set(r["batch"] for r in allv.select("batch").distinct().collect()) == (
        {"full", "append-1", "stream-0", "append-2"} if ivf
        else {"stream-0", "append-1", "stream-1", "append-2"}
    )


def test_streaming_ivf_reader_during_maintenance(spark, tmp_path):
    """Reader-during-maintenance soak (VERDICT r5 task #7): while the
    streaming sink lands micro-batches — including a replayed (retried)
    batch — a concurrent ivf_query_index reader must never see a torn index:
    every poll either succeeds with a well-formed top-1 hit from the already
    committed vector set, or (in the centroid-swap window) fails with the
    loader's loud contiguity error, never a wrong/partial answer."""
    import shutil
    import threading

    import numpy as np

    from vectordb_watermark_spark.operators.similarity import ivf_query_index
    from vectordb_watermark_spark.streaming.curation import incremental_index

    rng = np.random.default_rng(31)
    vecs = [(i, [float(round(x, 4)) for x in rng.standard_normal(12)])
            for i in range(80)]
    idx = str(tmp_path / "ivf_soak")
    src = tmp_path / "soak_src"
    src.mkdir()

    def drop_file(name, rows):
        stage = tmp_path / f"soak_stage_{name}"
        spark.createDataFrame(rows, "id long, emb array<float>").coalesce(1)\
            .write.parquet(str(stage))
        shutil.copy(next(stage.glob("part-*.parquet")), src / f"{name}.parquet")

    drop_file("b0", vecs[:20])
    # bootstrap batch first so the reader has an index to poll
    q = incremental_index(
        spark.readStream.schema("id long, emb array<float>")
        .option("maxFilesPerTrigger", 1).parquet(str(src)),
        idx, str(tmp_path / "soak_ck"), n_centroids=4, key="ivf",
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    qv = dict(vecs)[7]
    stop = threading.Event()
    outcomes = {"ok": 0, "torn": [], "polls": 0}

    def reader():
        while not stop.is_set():
            outcomes["polls"] += 1
            try:
                top = ivf_query_index(spark, idx, qv, k=1, n_probe=4).first()
                # id 7 is in the committed bootstrap batch: a well-formed
                # read always finds it at cos 1.0 regardless of how many
                # later batches have landed
                if top is None or top["id"] != 7 or top["cos"] != 1.0:
                    outcomes["torn"].append(top)
                else:
                    outcomes["ok"] += 1
            except Exception:
                # loud loader/contiguity error in a swap window: acceptable
                pass

    t = threading.Thread(target=reader)
    t.start()
    try:
        # three more micro-batches land while the reader polls, then one
        # replayed batch (retry path: dynamic partition overwrite replaces
        # batch=stream-1's partitions rather than double-appending)
        for n, (lo, hi) in enumerate([(20, 40), (40, 60), (60, 80)], start=1):
            drop_file(f"b{n}", vecs[lo:hi])
            q = incremental_index(
                spark.readStream.schema("id long, emb array<float>")
                .option("maxFilesPerTrigger", 1).parquet(str(src)),
                idx, str(tmp_path / "soak_ck"), n_centroids=4, key="ivf",
            ).trigger(availableNow=True).start()
            q.awaitTermination(120)
    finally:
        stop.set()
        t.join(30)

    assert outcomes["torn"] == []
    assert outcomes["ok"] >= 3  # the reader really ran during maintenance
    allv = spark.read.parquet(f"{idx}/vectors")
    assert allv.count() == 80 and allv.select("id").distinct().count() == 80


def test_incremental_index_drift_triggered_compaction(spark, tmp_path):
    """Drift-triggered streaming maintenance (round 10, VERDICT r9 #7):
    skewed micro-batches push the drift ratio past the threshold, the sink
    compacts BETWEEN batch writes through the manifest commit, queries
    stay correct over every streamed row, and a full checkpoint-retry of
    the stream across the compaction is idempotent (preserved batch tags
    make each retried batch dynamic-overwrite its own partitions in the
    compacted version)."""
    import shutil

    import numpy as np

    from vectordb_watermark_spark.operators.similarity import (
        _current_index_version,
        _resolve_index_root,
        ivf_index_drift,
        ivf_query_index,
    )
    from vectordb_watermark_spark.streaming.curation import incremental_index

    rng = np.random.default_rng(21)

    def blob(center, n, start_id):
        return [
            (
                start_id + i,
                [
                    float(round(x, 4))
                    for x in np.asarray(center) + 0.05 * rng.standard_normal(8)
                ],
            )
            for i in range(n)
        ]

    # batch a: cluster at e0 (bootstraps centroids); batch b: FAR cluster
    # (drifts the trained set); batch c: small follow-up whose pre-write
    # drift check fires the compaction
    a = blob([1.0, 0, 0, 0, 0, 0, 0, 0], 40, 0)
    b = blob([0, 0, 0, 0, 0, 0, 0, 20.0], 40, 1000)
    c = blob([1.0, 0, 0, 0, 0, 0, 0, 0], 10, 5000)
    src = tmp_path / "drift_src"
    src.mkdir()
    for name, rows in (("a", a), ("b", b), ("c", c)):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, "id long, emb array<float>").coalesce(1)\
            .write.parquet(str(stage))
        part = next(p for p in stage.glob("part-*.parquet"))
        shutil.copy(part, src / f"{name}.parquet")

    def run(ckpt):
        stream = (
            spark.readStream.schema("id long, emb array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = incremental_index(
            stream, idx, str(tmp_path / ckpt), n_centroids=4, key="ivf",
            compact_drift_threshold=5.0,
        ).trigger(availableNow=True).start()
        q.awaitTermination(240)

    idx = str(tmp_path / "ivf_drift_stream")
    run("ckpt1")

    # compaction fired between batches: the index is versioned now
    assert _current_index_version(spark, idx) is not None
    root = _resolve_index_root(spark, idx)
    stored = spark.read.parquet(f"{root}/vectors")
    assert stored.count() == 90
    assert stored.select("id").distinct().count() == 90
    # post-compaction drift is healthy again
    assert ivf_index_drift(spark, idx)["drift_ratio"] <= 2.0
    # far-cluster rows are reachable with a tight probe budget (recall
    # restored by the compaction's retrained centroids)
    top = ivf_query_index(spark, idx, [0.0] * 7 + [20.0], k=5, n_probe=1).collect()
    assert len(top) == 5 and all(1000 <= r["id"] < 2000 for r in top)

    # full retry across the compaction: fresh checkpoint reprocesses every
    # batch; preserved stream-N tags mean overwrite-in-place, no doubling
    ver_before = _current_index_version(spark, idx)
    run("ckpt2")
    stored = spark.read.parquet(f"{_resolve_index_root(spark, idx)}/vectors")
    assert stored.count() == 90
    assert stored.select("id").distinct().count() == 90
    # the retry found a healthy (already-compacted) index: no new version
    assert _current_index_version(spark, idx) == ver_before


def test_jpeg_fill_bytes_before_markers(spark):
    """T.81 B.1.1.2: any marker may be preceded by 0xFF fill bytes.  The
    marker parser must skip the run and read the FIRST non-FF byte as the
    marker — before the round-10 fix, one fill byte before the second SOS
    of a progressive file decoded to WRONG pixels silently (ADVICE r9)."""
    import numpy as np
    import pytest as _pytest

    from vectordb_watermark_spark.operators.multimodal import (
        _decode_jpeg,
        make_jpeg,
        make_jpeg_progressive,
    )

    rng = np.random.default_rng(17)
    base = rng.integers(0, 256, (3, 4, 3)).astype(np.float64)
    img = np.clip(
        np.kron(base, np.ones((8, 8, 1))) + rng.normal(0, 4, (24, 32, 3)), 0, 255
    ).astype(np.uint8)

    p = make_jpeg_progressive(img, quality=85)
    want = _decode_jpeg(p)

    # one fill byte before the SECOND SOS (the ADVICE repro), and a longer
    # run before the THIRD — pixels must be byte-identical, not garbage
    sos = [i for i in range(len(p) - 1) if p[i] == 0xFF and p[i + 1] == 0xDA]
    assert len(sos) >= 3
    padded = p[: sos[1]] + b"\xff" + p[sos[1] :]
    assert _decode_jpeg(padded) == want
    off = sos[2] + 1  # second insertion shifted later offsets by 1
    padded2 = padded[:off] + b"\xff\xff\xff" + padded[off:]
    assert _decode_jpeg(padded2) == want

    # baseline files too (fill run before the single SOS)
    b = make_jpeg(img, quality=85)
    sos_b = next(i for i in range(len(b) - 1) if b[i] == 0xFF and b[i + 1] == 0xDA)
    assert _decode_jpeg(b[:sos_b] + b"\xff\xff" + b[sos_b:]) == _decode_jpeg(b)

    # a fill run falling off the end of the stream fails LOUD
    with _pytest.raises(ValueError, match="truncated JPEG"):
        _decode_jpeg(p[: sos[1]] + b"\xff\xff\xff\xff")


def test_jpeg_missing_dc_table_raises_diagnosable(spark):
    """A first-pass progressive DC scan referencing an undefined DC Huffman
    table must raise a diagnosable ValueError, not die with AttributeError
    on a None table (ADVICE r9)."""
    import struct as _struct

    import numpy as np
    import pytest as _pytest

    from vectordb_watermark_spark.operators.multimodal import (
        _decode_jpeg,
        make_jpeg_progressive,
    )

    rng = np.random.default_rng(18)
    img = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    p = make_jpeg_progressive(img, quality=85)

    # excise every DHT segment that precedes the first SOS: the first scan
    # of a progressive file is a DC scan (T.81 G.1.1.1.1), so its table
    # reference now dangles
    out = bytearray()
    pos = 0
    out += p[:2]
    pos = 2
    while pos + 4 <= len(p):
        marker = p[pos + 1]
        if marker == 0xDA:
            out += p[pos:]
            break
        ln = _struct.unpack(">H", p[pos + 2 : pos + 4])[0]
        if marker != 0xC4:
            out += p[pos : pos + 2 + ln]
        pos += 2 + ln
    with _pytest.raises(ValueError, match="missing JPEG Huffman table"):
        _decode_jpeg(bytes(out))


def test_decode_mp4_frames_mjpeg_end_to_end(spark):
    """MJPEG-in-MP4 decodes to PIXELS end-to-end (round 10, VERDICT r9 #4):
    make_mp4 over make_jpeg samples with a 'jpeg' sample entry, decoded
    frame-for-frame pixel-exact against _decode_jpeg of the same sample
    bytes; every_k / sync_only subsetting works; inter-coded tracks stay
    the loud stub."""
    import numpy as np
    import pytest as _pytest

    from vectordb_watermark_spark.operators.multimodal import (
        _decode_jpeg,
        decode_mp4_frames,
        make_jpeg,
        make_mp4,
    )

    rng = np.random.default_rng(31)
    base = rng.integers(0, 256, (3, 4, 3)).astype(np.float64)
    frames = [
        np.clip(
            np.kron(base, np.ones((8, 8, 1))) + rng.normal(0, 6, (24, 32, 3)),
            0, 255,
        ).astype(np.uint8)
        for _ in range(6)
    ]
    jpgs = [make_jpeg(f, quality=90) for f in frames]
    mp4 = make_mp4(jpgs, width=32, height=24, sync_every=3, codec=b"jpeg")
    df = spark.createDataFrame([(7, mp4)], "id long, media binary")

    rows = {r["sample_idx"]: r for r in decode_mp4_frames(df).collect()}
    assert sorted(rows) == list(range(6))
    for i, jpg in enumerate(jpgs):
        w, h, c, px = _decode_jpeg(jpg)
        r = rows[i]
        assert (r["width"], r["height"], r["channels"]) == (w, h, c) == (32, 24, 3)
        assert bytes(r["pixels"]) == px  # frame-level pixel-exact
    # stss marked samples 0 and 3 as sync (sync_every=3)
    assert {i for i, r in rows.items() if r["is_sync"]} == {0, 3}

    sub = decode_mp4_frames(df, every_k=2).collect()
    assert sorted(r["sample_idx"] for r in sub) == [0, 2, 4]
    sync = decode_mp4_frames(df, sync_only=True).collect()
    assert sorted(r["sample_idx"] for r in sync) == [0, 3]

    # the other MJPEG sample-entry codes route the same way
    mp4b = make_mp4(jpgs[:2], width=32, height=24, codec=b"mjpa")
    got = decode_mp4_frames(
        spark.createDataFrame([(1, mp4b)], "id long, media binary")
    ).collect()
    assert len(got) == 2 and bytes(got[0]["pixels"]) == _decode_jpeg(jpgs[0])[3]

    # inter-coded codecs: still the loud, guided stub
    mp4c = make_mp4(jpgs[:1], width=32, height=24, codec=b"avc1")
    with _pytest.raises(Exception, match="inter-coded|codec library"):
        decode_mp4_frames(
            spark.createDataFrame([(2, mp4c)], "id long, media binary")
        ).collect()


def test_frame_subsampling_stride_validated_on_driver(spark):
    """ADVICE r10 #3: every_k=0 must be a clear driver-side ValueError,
    not a ZeroDivisionError buried in an executor stack trace; negative
    values must not silently select all frames.  All three frame
    subsamplers share the guard."""
    import numpy as np
    import pytest as _pytest

    from vectordb_watermark_spark.operators.multimodal import (
        decode_mp4_frames,
        make_jpeg,
        make_mp4,
        mp4_sample_bytes,
        sample_video_frames,
    )

    rng = np.random.default_rng(33)
    frame = rng.integers(0, 256, (24, 32, 3)).astype(np.uint8)
    mp4 = make_mp4([make_jpeg(frame)], width=32, height=24, codec=b"jpeg")
    df = spark.createDataFrame([(1, mp4)], "id long, media binary")

    for bad in (0, -1, -3):
        with _pytest.raises(ValueError, match="every_k"):
            decode_mp4_frames(df, every_k=bad)
        with _pytest.raises(ValueError, match="every_k"):
            mp4_sample_bytes(df, every_k=bad)
        with _pytest.raises(ValueError, match="every_k"):
            sample_video_frames(df, every_k=bad)
    with _pytest.raises(ValueError, match="every_k"):
        decode_mp4_frames(df, every_k=1.5)
    # the valid boundary still works
    assert decode_mp4_frames(df, every_k=1).count() == 1


def test_incremental_pq_index_drift_triggered_recompaction(spark, tmp_path):
    """Streaming IVF-PQ maintenance (round 11): the compressed twin of
    incremental_index.  Bootstrap trains coarse centroids + PQ codebooks
    from the first batch; skewed batches shift the code-usage histogram
    past the code_tv threshold; the sink recompacts BETWEEN batch writes
    from its raw archive (tags preserved through the manifest commit);
    queries stay correct; a full fresh-checkpoint retry across the
    recompaction is idempotent."""
    import shutil

    import numpy as np

    from vectordb_watermark_spark.operators.pq import (
        ivf_pq_index_drift,
        ivf_pq_query_index,
    )
    from vectordb_watermark_spark.operators.similarity import (
        _current_index_version,
        _resolve_index_root,
    )
    from vectordb_watermark_spark.streaming.curation import incremental_pq_index

    rng = np.random.default_rng(29)

    def blob(center, n, start_id):
        return [
            (
                start_id + i,
                [
                    float(round(x, 4))
                    for x in np.asarray(center) + 0.05 * rng.standard_normal(8)
                ],
            )
            for i in range(n)
        ]

    a = blob([1.0, 0, 0, 0, 0, 0, 0, 0], 40, 0)        # bootstrap cluster
    b = blob([0, 0, 0, 0, 0, 0, 0, 20.0], 40, 1000)    # far cluster: drifts codes
    c = blob([1.0, 0, 0, 0, 0, 0, 0, 0], 10, 5000)     # trigger batch
    src = tmp_path / "pq_drift_src"
    src.mkdir()
    for name, rows in (("a", a), ("b", b), ("c", c)):
        stage = tmp_path / f"pq_stage_{name}"
        spark.createDataFrame(rows, "id long, emb array<float>").coalesce(1)\
            .write.parquet(str(stage))
        part = next(p for p in stage.glob("part-*.parquet"))
        shutil.copy(part, src / f"{name}.parquet")

    idx = str(tmp_path / "ivfpq_stream")
    arc = str(tmp_path / "ivfpq_stream_raw")

    def run(ckpt):
        stream = (
            spark.readStream.schema("id long, emb array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = incremental_pq_index(
            stream, idx, arc, str(tmp_path / ckpt),
            n_centroids=4, m=4, n_codes=8, key="pqs",
            compact_code_tv_threshold=0.2,
        ).trigger(availableNow=True).start()
        q.awaitTermination(240)

    run("pq_ckpt1")

    # the code-usage drift fired a recompaction: index is versioned
    assert _current_index_version(spark, idx) is not None
    root = _resolve_index_root(spark, idx)
    codes = spark.read.parquet(f"{root}/codes")
    assert codes.count() == 90
    assert codes.select("id").distinct().count() == 90
    # tags preserved through the rebuild + the post-compaction batch
    tags = {str(r["batch"]) for r in codes.select("batch").distinct().collect()}
    assert tags == {"stream-0", "stream-1", "stream-2"}
    # post-recompaction drift is healthy on BOTH triggers
    d = ivf_pq_index_drift(spark, idx)
    assert d["code_tv"] is not None and d["code_tv"] <= 0.05
    assert d["drift_ratio"] is not None and 0.8 <= d["drift_ratio"] <= 1.2
    # far-cluster rows reachable with a tight probe budget (recall restored
    # by the recompaction's retrained centroids + codebooks)
    top = ivf_pq_query_index(spark, idx, [0.0] * 7 + [20.0], k=5, n_probe=1).collect()
    assert len(top) == 5 and all(1000 <= r["id"] < 2000 for r in top)

    # the raw archive is the recompaction source AND the re-rank table
    raw = spark.read.parquet(arc)
    assert raw.count() == 90
    rr = ivf_pq_query_index(
        spark, idx, [0.0] * 7 + [20.0], k=5, n_probe=1,
        rerank_with=raw, id_col="id", vec_col="v",
    ).collect()
    assert len(rr) == 5 and all(1000 <= r["id"] < 2000 for r in rr)

    # full retry across the recompaction: fresh checkpoint reprocesses all
    # batches; preserved stream-N tags mean overwrite-in-place, no doubling
    ver_before = _current_index_version(spark, idx)
    run("pq_ckpt2")
    codes = spark.read.parquet(f"{_resolve_index_root(spark, idx)}/codes")
    assert codes.count() == 90
    assert codes.select("id").distinct().count() == 90
    assert spark.read.parquet(arc).count() == 90
    # the retry found a healthy (already-recompacted) index: no new version
    assert _current_index_version(spark, idx) == ver_before


def test_ivf_pq_append_index_tagged_layout_claims(spark, tmp_path):
    """Tag-aware PQ appends (round 11): after a batch_col compaction,
    ivf_pq_append_index lands under a fresh append-N tag with the
    claim-before-write protocol — full parity with
    similarity.ivf_append_index."""
    import os

    import numpy as np
    import pytest

    from vectordb_watermark_spark.operators import pq as P
    from vectordb_watermark_spark.operators.similarity import (
        ConcurrentAppendError,
        _load_index_meta,
    )

    rng = np.random.default_rng(47)

    def blob(center, n, start_id):
        rows = [
            (
                start_id + i,
                [float(x) for x in np.asarray(center) + 0.05 * rng.standard_normal(8)],
            )
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "id long, emb array<float>")

    # build, then compact WITH batch_col (tags preserved)
    idx = str(tmp_path / "pq_tagged")
    a = blob([1.0] + [0.0] * 7, 60, 0)
    P.ivf_pq_write_index(a, idx, n_centroids=4, m=4, n_codes=8)
    src = a.withColumn("batch", F.lit("full"))
    P.ivf_pq_compact_index(src, idx, batch_col="batch")
    root = str(tmp_path / "pq_tagged/_v00001")
    assert "batch" in spark.read.parquet(f"{root}/codes").schema.fieldNames()
    assert _load_index_meta(spark, root)["next_append_seq"] == 1

    n = P.ivf_pq_append_index(blob([0.0] * 7 + [3.0], 20, 2000), idx)
    assert n == 20
    codes = spark.read.parquet(f"{root}/codes")
    assert codes.count() == 80
    tags = {str(r["batch"]) for r in codes.select("batch").distinct().collect()}
    assert tags == {"full", "append-1"}
    assert os.path.exists(f"{root}/append_claims/append-1.claim")
    assert _load_index_meta(spark, root)["next_append_seq"] == 2

    # a stale appender racing for an already-claimed tag loses loudly
    os.makedirs(f"{root}/append_claims", exist_ok=True)
    open(f"{root}/append_claims/append-2.claim", "w").close()
    with pytest.raises(ConcurrentAppendError, match="append-2"):
        P.ivf_pq_append_index(blob([0.0] * 7 + [3.0], 5, 3000), idx)
    # ... and a plain retry lands on the NEXT tag (sidecar was bumped)
    assert P.ivf_pq_append_index(blob([0.0] * 7 + [3.0], 5, 3000), idx) == 5
    tags = {
        str(r["batch"])
        for r in spark.read.parquet(f"{root}/codes").select("batch").distinct().collect()
    }
    assert tags == {"full", "append-1", "append-3"}


def test_incremental_pq_index_composes_with_deletes(spark, tmp_path):
    """Integration: tombstone deletes compose with the streaming sink.
    Delete between stream runs (the between-batch fence), later batches
    keep appending, queries mask the victims immediately, and the next
    drift-triggered recompaction FOLDS them out of the rebuilt version."""
    import os
    import shutil

    import numpy as np

    from vectordb_watermark_spark.operators.pq import (
        ivf_pq_index_drift,
        ivf_pq_query_index,
    )
    from vectordb_watermark_spark.operators.similarity import (
        _resolve_index_root,
        ivf_delete_ids,
    )
    from vectordb_watermark_spark.streaming.curation import incremental_pq_index

    rng = np.random.default_rng(61)

    def blob(center, n, start_id):
        return [
            (
                start_id + i,
                [
                    float(round(x, 4))
                    for x in np.asarray(center) + 0.05 * rng.standard_normal(8)
                ],
            )
            for i in range(n)
        ]

    src = tmp_path / "pq_del_src"
    src.mkdir()

    def add_file(name, rows):
        stage = tmp_path / f"pq_del_stage_{name}"
        spark.createDataFrame(rows, "id long, emb array<float>").coalesce(1)\
            .write.parquet(str(stage))
        part = next(p for p in stage.glob("part-*.parquet"))
        shutil.copy(part, src / f"{name}.parquet")

    idx = str(tmp_path / "ivfpq_del_stream")
    arc = str(tmp_path / "ivfpq_del_stream_raw")

    def run(ckpt):
        stream = (
            spark.readStream.schema("id long, emb array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = incremental_pq_index(
            stream, idx, arc, str(tmp_path / ckpt),
            n_centroids=4, m=4, n_codes=8, key="pqd",
            compact_code_tv_threshold=0.2,
        ).trigger(availableNow=True).start()
        q.awaitTermination(240)

    # run 1: bootstrap cluster only
    add_file("a", blob([1.0] + [0.0] * 7, 40, 0))
    run("ck")

    qv = [1.0] + [0.0] * 7
    top = [r["id"] for r in ivf_pq_query_index(spark, idx, qv, k=5, n_probe=4).collect()]
    victims = top[:2]
    # delete BETWEEN stream runs (the fence the contract requires)
    assert ivf_delete_ids(spark, idx, victims) == 2
    masked = [r["id"] for r in ivf_pq_query_index(spark, idx, qv, k=5, n_probe=4).collect()]
    assert not set(victims) & set(masked)
    assert ivf_pq_index_drift(spark, idx)["dead_fraction"] == round(2 / 40, 6)

    # run 2: far cluster drifts the codes; trigger batch fires recompaction
    add_file("b", blob([0.0] * 7 + [20.0], 40, 1000))
    add_file("c", blob([1.0] + [0.0] * 7, 10, 5000))
    run("ck")  # same checkpoint: only the new files are processed

    # recompaction happened and FOLDED the tombstones
    root = _resolve_index_root(spark, idx)
    assert root != idx
    codes = spark.read.parquet(f"{root}/codes")
    assert codes.count() == 88  # 90 streamed - 2 deleted
    assert codes.filter(F.col("id").isin([int(v) for v in victims])).count() == 0
    assert not os.path.exists(f"{root}/tombstones")
    d = ivf_pq_index_drift(spark, idx)
    assert d["dead_fraction"] == 0.0 and d["code_tv"] <= 0.05
    after = [r["id"] for r in ivf_pq_query_index(spark, idx, qv, k=5, n_probe=4).collect()]
    assert not set(victims) & set(after)
    # the ARCHIVE was folded too: a later recompaction cannot resurrect
    # the deleted rows from an unfolded source
    arc_ids = spark.read.parquet(arc)
    assert arc_ids.count() == 88
    assert arc_ids.filter(F.col("id").isin([int(v) for v in victims])).count() == 0


def test_streaming_sinks_reject_dim_mismatch_on_driver(spark, tmp_path):
    """A stream whose vector width changes under a live index must fail
    the micro-batch with a clear driver-side error, not an opaque numpy
    broadcast failure inside the Arrow kernel."""
    import shutil

    import numpy as np
    import pytest as _pytest

    from vectordb_watermark_spark.streaming.curation import (
        incremental_index,
        incremental_pq_index,
    )

    rng = np.random.default_rng(71)

    def add_file(src, name, dim, n, start_id):
        rows = [
            (start_id + i, [float(x) for x in rng.standard_normal(dim)])
            for i in range(n)
        ]
        stage = tmp_path / f"dim_stage_{name}"
        spark.createDataFrame(rows, "id long, emb array<float>").coalesce(1)\
            .write.mode("overwrite").parquet(str(stage))
        part = next(p for p in stage.glob("part-*.parquet"))
        shutil.copy(part, src / f"{name}.parquet")

    for sink_name in ("ivf", "pq"):
        src = tmp_path / f"dim_src_{sink_name}"
        src.mkdir()
        add_file(src, "a", 8, 30, 0)      # bootstrap at 8-d
        add_file(src, "b", 12, 10, 1000)  # schema drifts to 12-d

        stream = (
            spark.readStream.schema("id long, emb array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        if sink_name == "ivf":
            w = incremental_index(
                stream, str(tmp_path / "dim_idx_ivf"),
                str(tmp_path / "dim_ck_ivf"), n_centroids=4,
            )
        else:
            w = incremental_pq_index(
                stream, str(tmp_path / "dim_idx_pq"),
                str(tmp_path / "dim_arc_pq"), str(tmp_path / "dim_ck_pq"),
                n_centroids=4, m=4, n_codes=8,
            )
        q = w.trigger(availableNow=True).start()
        with _pytest.raises(Exception, match="-d but the index"):
            q.awaitTermination(240)


def test_incremental_index_composes_with_deletes(spark, tmp_path):
    """Raw-IVF twin of the PQ composition test: delete between stream
    runs, masking immediate, later batches append, and the sink's
    drift-triggered compaction folds the tombstones (this index stores
    raw vectors — no archive to fold)."""
    import os
    import shutil

    import numpy as np

    from vectordb_watermark_spark.operators.similarity import (
        _resolve_index_root,
        ivf_delete_ids,
        ivf_index_drift,
        ivf_query_index,
    )
    from vectordb_watermark_spark.streaming.curation import incremental_index

    rng = np.random.default_rng(73)

    def blob(center, n, start_id):
        return [
            (
                start_id + i,
                [
                    float(round(x, 4))
                    for x in np.asarray(center) + 0.05 * rng.standard_normal(8)
                ],
            )
            for i in range(n)
        ]

    src = tmp_path / "ivf_del_src"
    src.mkdir()

    def add_file(name, rows):
        stage = tmp_path / f"ivf_del_stage_{name}"
        spark.createDataFrame(rows, "id long, emb array<float>").coalesce(1)\
            .write.parquet(str(stage))
        part = next(p for p in stage.glob("part-*.parquet"))
        shutil.copy(part, src / f"{name}.parquet")

    idx = str(tmp_path / "ivf_del_stream")

    def run():
        stream = (
            spark.readStream.schema("id long, emb array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = incremental_index(
            stream, idx, str(tmp_path / "ivf_del_ck"), n_centroids=4,
            key="ivfd", compact_drift_threshold=5.0,
        ).trigger(availableNow=True).start()
        q.awaitTermination(240)

    add_file("a", blob([1.0] + [0.0] * 7, 40, 0))
    run()

    qv = [1.0] + [0.0] * 7
    top = [r["id"] for r in ivf_query_index(spark, idx, qv, k=5, n_probe=4).collect()]
    victims = top[:2]
    assert ivf_delete_ids(spark, idx, victims) == 2
    masked = [r["id"] for r in ivf_query_index(spark, idx, qv, k=5, n_probe=4).collect()]
    assert not set(victims) & set(masked)

    add_file("b", blob([0.0] * 7 + [20.0], 40, 1000))  # drifts the centroids
    add_file("c", blob([1.0] + [0.0] * 7, 10, 5000))   # trigger batch
    run()

    root = _resolve_index_root(spark, idx)
    assert root != idx  # compaction fired
    stored = spark.read.parquet(f"{root}/vectors")
    assert stored.count() == 88
    assert stored.filter(F.col("id").isin([int(v) for v in victims])).count() == 0
    assert not os.path.exists(f"{root}/tombstones")
    d = ivf_index_drift(spark, idx)
    assert d["dead_fraction"] == 0.0 and d["drift_ratio"] <= 2.0


def test_incremental_pq_index_opq_rotation(spark, tmp_path):
    """OPQ in the streaming sink (operators/opq.py): opq=True trains a
    parametric rotation on the bootstrap batch and stores the sidecar;
    steady-state batches are rotated before encoding (codes live in
    rotated space while the raw archive stays original-space); a
    drift-triggered recompaction CARRIES the rotation into the new
    version; queries answer in original-space cosine throughout."""
    import shutil

    import numpy as np

    from vectordb_watermark_spark.operators.pq import (
        _load_rotation,
        ivf_pq_query_index,
    )
    from vectordb_watermark_spark.operators.similarity import (
        _current_index_version,
        _resolve_index_root,
        index_info,
    )
    from vectordb_watermark_spark.streaming.curation import incremental_pq_index

    rng = np.random.default_rng(31)

    def blob(center, n, start_id):
        return [
            (
                start_id + i,
                [
                    float(round(x, 4))
                    for x in np.asarray(center) + 0.05 * rng.standard_normal(8)
                ],
            )
            for i in range(n)
        ]

    a = blob([1.0, 0, 0, 0, 0, 0, 0, 0], 40, 0)
    b = blob([0, 0, 0, 0, 0, 0, 0, 20.0], 40, 1000)  # drifts codes
    c = blob([1.0, 0, 0, 0, 0, 0, 0, 0], 10, 5000)   # trigger batch
    src = tmp_path / "opq_stream_src"
    src.mkdir()
    for name, rows in (("a", a), ("b", b), ("c", c)):
        stage = tmp_path / f"opq_stage_{name}"
        spark.createDataFrame(rows, "id long, emb array<float>").coalesce(1)\
            .write.parquet(str(stage))
        part = next(p for p in stage.glob("part-*.parquet"))
        shutil.copy(part, src / f"{name}.parquet")

    idx = str(tmp_path / "opq_stream_idx")
    arc = str(tmp_path / "opq_stream_raw")
    stream = (
        spark.readStream.schema("id long, emb array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = incremental_pq_index(
        stream, idx, arc, str(tmp_path / "opq_ckpt"),
        n_centroids=4, m=4, n_codes=8, key="pqo",
        compact_code_tv_threshold=0.2, opq=True,
    ).trigger(availableNow=True).start()
    q.awaitTermination(240)

    # rotation trained at bootstrap, carried through the recompaction
    assert _current_index_version(spark, idx) is not None  # compaction fired
    R = _load_rotation(spark, idx)
    assert R is not None and np.allclose(R @ R.T, np.eye(8), atol=1e-8)
    assert index_info(spark, idx)["rotated"] is True

    root = _resolve_index_root(spark, idx)
    codes = spark.read.parquet(f"{root}/codes")
    assert codes.count() == 90
    tags = {str(r["batch"]) for r in codes.select("batch").distinct().collect()}
    assert tags == {"stream-0", "stream-1", "stream-2"}

    # original-space query finds the far cluster; archive stays raw so the
    # exact rerank (original space) agrees on the same rows
    top = ivf_pq_query_index(
        spark, idx, [0.0] * 7 + [20.0], k=5, n_probe=1
    ).collect()
    assert len(top) == 5 and all(1000 <= r["id"] < 2000 for r in top)
    raw = spark.read.parquet(arc)
    rr = ivf_pq_query_index(
        spark, idx, [0.0] * 7 + [20.0], k=5, n_probe=1,
        rerank_with=raw, id_col="id", vec_col="v",
    ).collect()
    assert len(rr) == 5 and all(1000 <= r["id"] < 2000 for r in rr)
    assert rr[0]["cos"] > 0.99  # exact cosine against the raw archive


def _make_tone_wav(freq, rate=16000, n=4096, amp=0.6):
    """Mono 16-bit PCM WAV of a pure sine — known-spectrum test signal."""
    import struct

    import numpy as np

    t = np.arange(n) / rate
    x = (amp * 32767 * np.sin(2 * np.pi * freq * t)).astype(np.int16)
    data = x.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_audio_spectral_features_known_spectra(spark):
    """FFT features are real DSP: a pure tone's centroid/rolloff land on
    the tone frequency with near-zero flatness; white noise is flat with
    a centroid near the band middle; layout is [centroid, bandwidth,
    rolloff85, flatness, rate, *bands]."""
    import numpy as np

    from vectordb_watermark_spark.operators.multimodal import (
        audio_spectral_features,
    )

    rate = 16000
    tone = _make_tone_wav(1000, rate=rate)
    tone2 = _make_tone_wav(1005, rate=rate)   # near-dup of tone
    tone_far = _make_tone_wav(6000, rate=rate)
    rng = np.random.default_rng(5)
    noise_x = (rng.uniform(-0.8, 0.8, 4096) * 32767).astype(np.int16)
    import struct
    data = noise_x.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    noise = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    df = spark.createDataFrame(
        [(0, bytearray(tone)), (1, bytearray(noise)),
         (2, bytearray(tone2)), (3, bytearray(tone_far))],
        "id long, media binary",
    )
    got = {
        r["id"]: list(r["features"])
        for r in audio_spectral_features(df, n_bands=16).collect()
    }
    cen, bw, roll, flat, r_ = got[0][:5]
    assert abs(cen - 1000) < 40        # centroid on the tone
    assert abs(roll - 1000) < 80       # 85% rolloff at the tone
    assert flat < 0.05                 # tonal -> not flat
    assert bw < 300
    assert r_ == rate
    ncen, _, _, nflat, _ = got[1][:5]
    assert nflat > 0.3                 # white noise -> flat
    assert abs(ncen - rate / 4) < 800  # centroid near band middle

    # band fingerprint: near-dup tones are close in cosine, far tone isn't
    def cos(a, b):
        a, b = np.asarray(a), np.asarray(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    same = cos(got[0][5:], got[2][5:])
    far = cos(got[0][5:], got[3][5:])
    assert same > 0.98 and far < same - 0.1

    # fake-audio payloads flow through the same dispatch
    from vectordb_watermark_spark.operators.multimodal import make_fake_audio

    fdf = spark.createDataFrame(
        [(9, bytearray(make_fake_audio(b"k", n_samples=512)))],
        "id long, media binary",
    )
    fr = audio_spectral_features(fdf).first()
    assert len(fr["features"]) == 5 and fr["features"][4] == 16000.0

    import pytest as _pt
    with _pt.raises(ValueError, match="n_fft"):
        audio_spectral_features(df, n_fft=1)
    with _pt.raises(ValueError, match="n_bands"):
        audio_spectral_features(df, n_bands=-1)


def test_audio_spectral_short_and_silent_clips(spark):
    """Degenerate payloads produce zero features, not crashes: a silent
    clip has no energetic frames, a 1-sample clip can't frame."""
    import struct

    import numpy as np

    from vectordb_watermark_spark.operators.multimodal import (
        audio_spectral_features,
    )

    def wav_of(x, rate=8000):
        data = np.asarray(x, dtype=np.int16).tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        body = (
            b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    df = spark.createDataFrame(
        [(0, bytearray(wav_of(np.zeros(1024)))),
         (1, bytearray(wav_of([12000])))],
        "id long, media binary",
    )
    got = {
        r["id"]: list(r["features"])
        for r in audio_spectral_features(df, n_bands=4).collect()
    }
    assert got[0][:4] == [0.0, 0.0, 0.0, 0.0]
    assert got[1][:4] == [0.0, 0.0, 0.0, 0.0]
    assert len(got[0]) == 9


def test_replay_fence_incremental_index(spark, tmp_path):
    """Tombstone-fold replay fence (IVF sink): after a delete is FOLDED by
    a compaction, a fresh-checkpoint replay of the victim batch must fail
    loudly instead of silently resurrecting the deleted rows; batches
    beyond the fence (same-checkpoint continuation) still land, and
    on_fenced_replay='warn' opts back into the replay explicitly."""
    import shutil

    import numpy as np
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from vectordb_watermark_spark.operators.similarity import (
        _load_fold_fence,
        _resolve_index_root,
        ivf_compact_index,
        ivf_delete_ids,
    )
    from vectordb_watermark_spark.streaming.curation import incremental_index

    rng = np.random.default_rng(83)
    src = tmp_path / "fence_src"
    src.mkdir()

    def add_file(name, rows):
        stage = tmp_path / f"fence_stage_{name}"
        spark.createDataFrame(rows, "id long, emb array<float>").coalesce(1)\
            .write.mode("overwrite").parquet(str(stage))
        part = next(p for p in stage.glob("part-*.parquet"))
        shutil.copy(part, src / f"{name}.parquet")

    def vecs(n, start_id):
        return [
            (start_id + i, [float(round(x, 4)) for x in rng.standard_normal(8)])
            for i in range(n)
        ]

    idx = str(tmp_path / "ivf_fence")

    def run(ckpt, **kw):
        stream = (
            spark.readStream.schema("id long, emb array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = incremental_index(
            stream, idx, str(tmp_path / ckpt), n_centroids=2, key="fen", **kw
        ).trigger(availableNow=True).start()
        q.awaitTermination(180)

    add_file("a", vecs(30, 0))
    run("ck1")  # batch 0 bootstraps

    assert ivf_delete_ids(spark, idx, [3, 7]) == 2
    ivf_compact_index(spark, idx, key="fen", gc_keep_last=None)
    root = _resolve_index_root(spark, idx)
    assert _load_fold_fence(spark, root) == 0  # victims came from batch 0
    assert spark.read.parquet(f"{root}/vectors").count() == 28

    # same-checkpoint continuation: batch 1 > fence, lands normally
    add_file("b", vecs(20, 100))
    run("ck1")
    root = _resolve_index_root(spark, idx)
    assert spark.read.parquet(f"{root}/vectors").count() == 48

    # fresh-checkpoint replay: batch 0 replays at or below the fence -> loud
    with pytest.raises(StreamingQueryException, match="tombstone-fold fence"):
        run("ck2")
    root = _resolve_index_root(spark, idx)
    got = spark.read.parquet(f"{root}/vectors")
    assert got.filter(F.col("id").isin(3, 7)).count() == 0  # no resurrection

    # explicit operator decision: warn-and-proceed replays (and, this being
    # a tombstone-over-replay design, re-inserts the folded victims)
    with pytest.warns(UserWarning, match="tombstone-fold fence"):
        run("ck3", on_fenced_replay="warn")
    # invalid mode fails at the driver, before any batch work
    with pytest.raises(StreamingQueryException, match="on_fenced_replay"):
        run("ck4", on_fenced_replay="bogus")


def test_replay_fence_incremental_pq_index(spark, tmp_path):
    """Tombstone-fold replay fence (IVF-PQ sink): the in-stream
    drift-triggered recompaction folds a between-runs delete, commits the
    victim watermark through _fence_floor atomically with the version,
    and a fresh-checkpoint replay of the victim batch then fails loudly."""
    import shutil

    import numpy as np
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from vectordb_watermark_spark.operators.similarity import (
        _load_fold_fence,
        _resolve_index_root,
        ivf_delete_ids,
    )
    from vectordb_watermark_spark.streaming.curation import incremental_pq_index

    rng = np.random.default_rng(89)
    src = tmp_path / "pq_fence_src"
    src.mkdir()

    def add_file(name, rows):
        stage = tmp_path / f"pq_fence_stage_{name}"
        spark.createDataFrame(rows, "id long, emb array<float>").coalesce(1)\
            .write.mode("overwrite").parquet(str(stage))
        part = next(p for p in stage.glob("part-*.parquet"))
        shutil.copy(part, src / f"{name}.parquet")

    def blob(center, n, start_id):
        return [
            (
                start_id + i,
                [
                    float(round(x, 4))
                    for x in np.asarray(center) + 0.05 * rng.standard_normal(8)
                ],
            )
            for i in range(n)
        ]

    idx = str(tmp_path / "ivfpq_fence")
    arc = str(tmp_path / "ivfpq_fence_raw")

    def run(ckpt):
        stream = (
            spark.readStream.schema("id long, emb array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = incremental_pq_index(
            stream, idx, arc, str(tmp_path / ckpt),
            n_centroids=4, m=4, n_codes=8, key="pqf",
            compact_code_tv_threshold=0.2,
        ).trigger(availableNow=True).start()
        q.awaitTermination(240)

    add_file("a", blob([1.0] + [0.0] * 7, 40, 0))
    run("ck1")  # batch 0 bootstraps

    assert ivf_delete_ids(spark, idx, [1, 2]) == 2
    # far cluster drifts the codes (batch 1 writes it, batch 2's
    # entry-check sees the drift): the trigger batch folds + records fence
    add_file("b", blob([0.0] * 7 + [20.0], 40, 1000))
    add_file("c", blob([1.0] + [0.0] * 7, 10, 5000))
    run("ck1")
    root = _resolve_index_root(spark, idx)
    assert root != idx  # the recompaction committed a version
    assert _load_fold_fence(spark, root) == 0
    codes = spark.read.parquet(f"{root}/codes")
    assert codes.count() == 88
    assert codes.filter(F.col("id").isin(1, 2)).count() == 0

    # fresh-checkpoint replay trips the fence before any write
    with pytest.raises(StreamingQueryException, match="tombstone-fold fence"):
        run("ck2")
    root = _resolve_index_root(spark, idx)
    assert spark.read.parquet(f"{root}/codes")\
        .filter(F.col("id").isin(1, 2)).count() == 0
    assert spark.read.parquet(arc).filter(F.col("id").isin(1, 2)).count() == 0


def test_audio_fingerprint_drives_neardup_stack(spark):
    """End-to-end: WAV bytes -> spectral log-band fingerprint -> the SAME
    cosine near-dup operator the text stack uses.  Planted +3 Hz tone
    twins are recovered exactly; singleton tones in other log bands stay
    unmatched; a noise clip (flat spectrum) matches nothing tonal."""
    import struct

    import numpy as np

    from vectordb_watermark_spark.operators.multimodal import (
        audio_spectral_features,
    )
    from vectordb_watermark_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    rate = 16000

    def wav_of(x):
        xi = (32767 * np.clip(x, -1, 1)).astype(np.int16)
        data = xi.tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        body = (
            b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    t = np.arange(4096) / rate

    def tone(freq):
        return 0.6 * np.sin(2 * np.pi * freq * t)

    rows = []
    for g, f in enumerate([230, 1000, 4500]):
        rows.append((2 * g, bytearray(wav_of(tone(f)))))
        rows.append((2 * g + 1, bytearray(wav_of(tone(f + 3)))))
    rows.append((6, bytearray(wav_of(tone(700)))))  # singleton band
    g = np.random.default_rng(17)
    rows.append((7, bytearray(wav_of(0.3 * g.standard_normal(4096)))))
    clips = spark.createDataFrame(rows, "id long, media binary")

    emb = audio_spectral_features(clips, n_bands=16).select(
        "id", F.slice("features", 6, 16).alias("emb")
    )
    pairs = sorted(
        (int(r["a"]), int(r["b"]))
        for r in cosine_neardup_pairs(
            emb, threshold=0.95, method="exact"
        ).collect()
    )
    assert pairs == [(0, 1), (2, 3), (4, 5)]


def test_incremental_components_matches_batch(spark, tmp_path):
    """Streaming near-dup cluster maintenance: at every point in the
    stream, resolve_components equals the batch
    connected_components(minhash_candidate_pairs(ingested docs)) —
    including CROSS-batch merges of two established clusters (the alias
    path) and history singletons pulled into clusters late; compaction
    folds the alias log without changing the assignment; a replayed
    batch recomputes identically."""
    import shutil

    from vectordb_watermark_spark.operators.dedup import (
        connected_components,
        minhash_candidate_pairs,
    )
    from vectordb_watermark_spark.streaming.curation import (
        compact_components,
        incremental_components,
        resolve_components,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "a long tune about data pipelines and vector engines at scale"
    )
    variant = base.replace("lazy", "sleepy")
    other = (
        "completely different subject matter entirely unrelated to the "
        "previous text about foxes discussing streaming joins and windows "
        "for event analytics dashboards under heavy production load"
    )
    other_v = other.replace("heavy", "massive")
    lone = "short unique snippet with its own vocabulary zebra quartz"
    # batch 0: cluster A seed + singleton-to-be; batch 1: cluster B;
    # batch 2: bridges A's seed via another variant AND merges into B? no —
    # bridges cluster A and pulls the batch-0 singleton's twin
    batches = [
        [(10, base), (50, lone), (70, other)],
        [(20, variant), (80, other_v)],
        [(30, base.replace("quick", "rapid")), (55, lone + " twin")],
    ]

    src = tmp_path / "cc_src"
    src.mkdir()
    store = str(tmp_path / "cc_store")

    def run(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = incremental_components(
            stream, store, str(tmp_path / ckpt)
        ).trigger(availableNow=True).start()
        q.awaitTermination(240)

    def batch_truth(rows):
        d = spark.createDataFrame(rows, "doc_id long, text string")
        return {
            (int(r["id"]), int(r["comp"]))
            for r in connected_components(minhash_candidate_pairs(d)).collect()
        }

    seen = []
    for i, rows in enumerate(batches):
        stage = tmp_path / f"cc_stage_{i}"
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)\
            .write.parquet(str(stage))
        part = next(p for p in stage.glob("part-*.parquet"))
        shutil.copy(part, src / f"{i}.parquet")
        seen += rows
        run("cc_ck")
        got = {
            (int(r["id"]), int(r["comp"]))
            for r in resolve_components(spark, store).collect()
        }
        assert got == batch_truth(seen), f"after batch {i}"

    final = batch_truth(seen)
    # the cross-batch cluster really formed: 10/20/30 share a component
    comps = dict(final)
    assert comps[10] == comps[20] == comps[30] == 10

    # compaction folds aliases, assignment unchanged
    compact_components(spark, store)
    import os

    assert not os.path.exists(f"{store}/aliases")
    got_c = {
        (int(r["id"]), int(r["comp"]))
        for r in resolve_components(spark, store).collect()
    }
    assert got_c == final

    # replay: fresh checkpoint over the same files recomputes the same
    # assignment (per-batch overwrites, history excludes own tag)
    run("cc_ck2")
    got_r = {
        (int(r["id"]), int(r["comp"]))
        for r in resolve_components(spark, store).collect()
    }
    assert got_r == final


def test_incremental_components_cross_cluster_merge(spark, tmp_path):
    """The ALIAS path: two clusters established in different batches are
    bridged by a later concatenation doc (deterministic construction —
    the bridge band-collides with both sides, the sides not with each
    other); the merge lands as O(1) alias rows, resolution equals the
    batch op, and compaction folds the log."""
    import os
    import shutil

    from vectordb_watermark_spark.operators.dedup import (
        connected_components,
        minhash_candidate_pairs,
    )
    from vectordb_watermark_spark.streaming.curation import (
        compact_components,
        incremental_components,
        resolve_components,
    )

    # seed-50 construction (verified: pairs are exactly (A,D) and (B,D))
    A = " ".join(f"alpha50w{i}" for i in range(60))
    B = " ".join(f"beta50w{i}" for i in range(60))
    D = A + " " + B
    A2 = A.replace("alpha50w0", "alpha50x0")  # near-identical twin of A
    B2 = B.replace("beta50w0", "beta50x0")

    batches = [
        [(100, A), (101, A2)],      # cluster comp=100
        [(200, B), (201, B2)],      # cluster comp=200
        [(300, D)],                 # bridges both -> one component
    ]
    src = tmp_path / "ccm_src"
    src.mkdir()
    store = str(tmp_path / "ccm_store")

    def run(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = incremental_components(
            stream, store, str(tmp_path / ckpt)
        ).trigger(availableNow=True).start()
        q.awaitTermination(240)

    seen = []
    for i, rows in enumerate(batches):
        stage = tmp_path / f"ccm_stage_{i}"
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)\
            .write.parquet(str(stage))
        part = next(p for p in stage.glob("part-*.parquet"))
        shutil.copy(part, src / f"{i}.parquet")
        seen += rows
    run("ccm_ck")

    # the merge was recorded through the alias log, not a label rewrite
    assert os.path.exists(f"{store}/aliases")
    got = {
        (int(r["id"]), int(r["comp"]))
        for r in resolve_components(spark, store).collect()
    }
    d = spark.createDataFrame(seen, "doc_id long, text string")
    truth = {
        (int(r["id"]), int(r["comp"]))
        for r in connected_components(minhash_candidate_pairs(d)).collect()
    }
    assert got == truth
    comps = dict(got)
    assert comps[100] == comps[200] == comps[300] == 100

    compact_components(spark, store)
    assert not os.path.exists(f"{store}/aliases")
    got_c = {
        (int(r["id"]), int(r["comp"]))
        for r in resolve_components(spark, store).collect()
    }
    assert got_c == truth


def test_incremental_shingles_matches_batch_and_is_idempotent(spark, tmp_path):
    """Streaming rare-shingle containment (round 13): resolve ==
    one-shot containment_pairs(candidates='rare_shingle') for ANY batch
    split; a checkpoint-retried batch is idempotent; hot (boilerplate)
    shingles are suppressed from future rows — the bounded-state lever."""
    import pytest
    from pyspark.sql import functions as F

    from vectordb_watermark_spark.operators.dedup import containment_pairs
    from vectordb_watermark_spark.streaming.curation import (
        ingest_shingles_batch,
        resolve_containment_store,
    )

    host_toks = [f"w{i:04d}" for i in range(1, 401)]
    host = " ".join(host_toks)
    excerpt = " ".join(host_toks[40:60])
    boiler = " ".join(f"b{j}" for j in range(12))  # 12-token boilerplate
    rows = [(1, host), (2, excerpt)]
    rows += [(100 + i, f"{boiler} uniq{i}a uniq{i}b uniq{i}c") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def run(store, splits):
        for k, pred in enumerate(splits):
            ingest_shingles_batch(docs.filter(pred), str(store), k)
        return {
            (r["a"], r["b"], r["cont_b_in_a"])
            for r in resolve_containment_store(
                spark, str(store), docs, threshold=0.9
            ).collect()
        }

    want = {
        (r["a"], r["b"], r["cont_b_in_a"])
        for r in containment_pairs(
            docs, threshold=0.9, candidates="rare_shingle"
        ).collect()
    }
    assert want  # the planted excerpt pair is discoverable

    got3 = run(tmp_path / "s3", [F.col("doc_id") % 3 == k for k in range(3)])
    assert got3 == want
    got2 = run(tmp_path / "s2", [F.col("doc_id") % 2 == k for k in range(2)])
    assert got2 == want

    # retry idempotence: re-ingest batch 1 of the 3-split store
    ingest_shingles_batch(
        docs.filter(F.col("doc_id") % 3 == 1), str(tmp_path / "s3"), 1
    )
    again = {
        (r["a"], r["b"], r["cont_b_in_a"])
        for r in resolve_containment_store(
            spark, str(tmp_path / "s3"), docs, threshold=0.9
        ).collect()
    }
    assert again == want

    # bounded state: the 20-doc boilerplate shingle (df 20 > max_df 5)
    # is hot-listed and suppressed — its rows stop accumulating
    store_rows = spark.read.parquet(str(tmp_path / "s3" / "rows"))
    bg = " ".join(f"b{j}" for j in range(8))  # the first 8-token boiler gram
    n_boiler = store_rows.filter(F.col("g") == bg).count()
    assert n_boiler <= 5 + 20 // 3 + 1  # <= max_df + one batch of rows

    # config-drift pin: different (k, max_df) against the same store raises
    with pytest.raises(ValueError):
        ingest_shingles_batch(docs.limit(5), str(tmp_path / "s3"), 9, max_df=9)

    # OVERLAPPING batches (ADVICE r13): a doc re-ingested in a second
    # micro-batch must count ONCE toward document frequency — without the
    # (id, g) dedup the host+excerpt rows double, shifting their shared
    # shingles' DF and (at the hot boundary) suppressing real candidates.
    got_overlap = run(
        tmp_path / "s_overlap",
        [F.col("doc_id") <= 110, F.col("doc_id") >= 2],  # docs 2..110 in both
    )
    assert got_overlap == want

    # hot-boundary sharpness under re-ingestion: df exactly max_df stays
    # rare even when every doc is ingested twice (double-count would read
    # 2*max_df > max_df and hot-suppress the pair's shingles)
    five = spark.createDataFrame(
        [(i, "shared eight token run pinning exactly five documents "
              f"tail{i}") for i in range(5)],
        "doc_id long, text string",
    )
    st = str(tmp_path / "s_boundary")
    ingest_shingles_batch(five, st, 0)
    ingest_shingles_batch(five, st, 1)  # full re-ingestion, new batch id
    assert not spark.read.parquet(f"{st}/hot").take(1)  # df 5 == max_df: not hot
    # 8 of 9 tokens shared -> containment 8/9 ~ 0.889 each way
    res = resolve_containment_store(spark, st, five, threshold=0.8)
    one_shot = containment_pairs(five, threshold=0.8, candidates="rare_shingle")
    assert (
        {(r["a"], r["b"]) for r in res.collect()}
        == {(r["a"], r["b"]) for r in one_shot.collect()}
        == {(a, b) for a in range(5) for b in range(5) if a < b}
    )


_REPLAY_SINKS = [
    "incremental_dedup", "incremental_index", "incremental_pq_index",
    "incremental_postings", "incremental_components", "incremental_transitions",
    "incremental_psi", "incremental_kmv", "incremental_rates", "incremental_shingles",
]


@pytest.fixture(scope="module")
def replay_sources(spark, tmp_path_factory):
    """Two tiny parquet files per source table: each stream reads them as
    micro-batches 0 and 1.  File 1 repeats five file-0 documents under new
    ids, so batch 1 reads history that holds its near-duplicates."""
    root = tmp_path_factory.mktemp("replay_src")
    docs = load(spark, "documents").select("doc_id", "text").filter(F.col("doc_id") < 40)
    tables = {
        "docs": (docs.filter(F.col("doc_id") < 20), docs.filter(F.col("doc_id") >= 20).unionByName(
            docs.filter(F.col("doc_id") < 5).withColumn("doc_id", F.col("doc_id") + 1000))),
        "events": load(spark, "events").filter(F.col("event_id") < 120).randomSplit([0.5, 0.5], 7),
        "vectors": load(spark, "embeddings").filter(F.col("vec_id") < 60).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("emb")).randomSplit([0.5, 0.5], 7),
    }
    for name, parts in tables.items():
        for part in parts:
            part.coalesce(1).write.mode("append").parquet(str(root / name))
    return root


@pytest.mark.parametrize("sink", _REPLAY_SINKS)
def test_sink_replays_last_batch_through_checkpoint(spark, replay_sources, tmp_path, sink):
    """Every foreachBatch sink is idempotent under a real checkpoint replay:
    after two micro-batches, deleting the checkpoint's last ``commits/1``
    entry makes the restarted stream re-run batch 1 with the same id, and
    the resolved store must equal the clean two-batch pass."""
    import os

    from vectordb_watermark_spark.operators.retrieval import bm25_query_index
    from vectordb_watermark_spark.streaming import curation as C

    source = {"incremental_transitions": "events", "incremental_rates": "events",
              "incremental_kmv": "events", "incremental_index": "vectors",
              "incremental_pq_index": "vectors", "incremental_psi": "vectors"}.get(sink, "docs")
    src = str(replay_sources / source)
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    if sink == "incremental_psi":
        C.psi_baseline(spark.read.parquet(src), store)

    def run_stream():
        stream = (spark.readStream.schema(spark.read.parquet(src).schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        writer = {
            "incremental_dedup": lambda: C.incremental_dedup(stream, str(tmp_path / "out"), store, ckpt),
            "incremental_index": lambda: C.incremental_index(stream, store, ckpt, n_centroids=4),
            "incremental_pq_index": lambda: C.incremental_pq_index(
                stream, store, str(tmp_path / "archive"), ckpt, n_centroids=4, m=8, n_codes=8),
            "incremental_postings": lambda: C.incremental_postings(stream, store, ckpt, n_files=2),
            "incremental_components": lambda: C.incremental_components(stream, store, ckpt),
            "incremental_transitions": lambda: C.incremental_transitions(stream, store, ckpt),
            "incremental_psi": lambda: C.incremental_psi(stream, store, ckpt),
            "incremental_kmv": lambda: C.incremental_kmv(stream, store, ckpt, col="props"),
            "incremental_rates": lambda: C.incremental_rates(stream, store, ckpt),
            "incremental_shingles": lambda: C.incremental_shingles(stream, store, ckpt),
        }[sink]()
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(180)
        assert q.exception() is None

    def resolve():
        read = lambda p, *cols: sorted(tuple(r) for r in spark.read.parquet(p).select(*cols).collect())
        rows = lambda df: sorted(tuple(r) for r in df.collect())
        if sink == "incremental_dedup":
            return read(f"{store}/batch-*", "sig_hash"), read(f"{tmp_path}/out/batch-*", "doc_id")
        if sink == "incremental_index":
            return read(f"{store}/vectors", "id", "batch")
        if sink == "incremental_pq_index":
            return read(f"{store}/codes", "id", "batch"), read(f"{tmp_path}/archive", "id", "batch")
        return rows({
            "incremental_postings": lambda: bm25_query_index(spark, store, ["batch", "spark", "dup"]),
            "incremental_components": lambda: C.resolve_components(spark, store),
            "incremental_transitions": lambda: C.resolve_transitions(spark, store),
            "incremental_psi": lambda: C.resolve_psi(spark, store),
            "incremental_kmv": lambda: C.resolve_kmv(spark, store),
            "incremental_rates": lambda: C.resolve_rate_anomalies(spark, store),
            "incremental_shingles": lambda: C.resolve_containment_store(
                spark, store, spark.read.parquet(src), threshold=0.5),
        }[sink]())

    run_stream()
    assert sorted(n for n in os.listdir(f"{ckpt}/commits") if n[0] != ".") == ["0", "1"]
    clean = resolve()
    for name in ("1", ".1.crc"):  # the local file system's checksum too
        if os.path.exists(f"{ckpt}/commits/{name}"):
            os.remove(f"{ckpt}/commits/{name}")
    run_stream()  # re-runs batch 1 under its own id
    assert os.path.exists(f"{ckpt}/commits/1")
    assert resolve() == clean
