"""Multimodal plumbing tests: the decode stage's Spark mechanics are
real (schemas, Arrow batches, fan-out); the codec is a deterministic
stub."""

import pytest

from doeecommerce_datapipeline_spark.multimodal.decode import (
    MEDIA_SCHEMA,
    decode_media,
    frame_sample_plan,
    resize_stub,
)


@pytest.fixture()
def media(spark):
    rows = [
        (1, "image", "image/png", b"\x89PNG-fake-bytes-1", (64, 64, None)),
        (2, "image", "image/png", b"\x89PNG-fake-bytes-2", (128, 128, None)),
        (3, "video", "video/mp4", b"\x00mp4-fake", (640, 480, 3500)),
        (4, "audio", "audio/wav", None, (None, None, 2000)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_media_stub_features(spark, media):
    out = decode_media(media).collect()
    assert len(out) == 4
    by_id = {r["media_id"]: r for r in out}
    assert len(by_id[1]["features"]) == 16
    assert by_id[1]["sha256"] != by_id[2]["sha256"]
    # determinism: same payload → same features
    again = {r["media_id"]: r for r in decode_media(media).collect()}
    assert by_id[1]["features"] == again[1]["features"]
    assert by_id[4]["n_bytes"] == 0  # null payload handled


def test_decode_real_path_raises_on_unknown_magic(spark, media):
    # fake-PNG / mp4 payloads have no pure-Python decoder — the
    # NotImplementedError seam is still explicit for those formats
    with pytest.raises(Exception, match="NotImplementedError|decoder"):
        decode_media(media, real_decode=True).collect()


def _tiny_p6() -> bytes:
    # 2x2: red, green, blue, white — with a header comment
    return (
        b"P6\n# tiny test image\n2 2\n255\n"
        + bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    )


def _tiny_p3() -> bytes:
    return b"P3\n2 1\n255\n255 0 0  0 0 255\n"


def _tiny_wav() -> bytes:
    # a REAL wav file via the stdlib writer: mono 16-bit 8kHz square
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        frames = [16384 if i % 8 < 4 else -16384 for i in range(800)]
        w.writeframes(b"".join(struct.pack("<h", s) for s in frames))
    return buf.getvalue()


def test_real_decode_ppm_and_wav_through_spark(spark):
    rows = [
        (1, "image", "image/x-portable-pixmap", _tiny_p6(), (2, 2, None)),
        (2, "image", "image/x-portable-pixmap", _tiny_p3(), (2, 1, None)),
        (3, "audio", "audio/wav", _tiny_wav(), (None, None, 100)),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in decode_media(df, real_decode=True).collect()}
    img = out[1]["features"]
    # [tag, w, h, maxval, mean_r, mean_g, mean_b, ...]
    assert img[0] == 1.0 and img[1] == 2.0 and img[2] == 2.0 and img[3] == 255.0
    # each channel: one full pixel + white/4 → mean 0.5
    assert img[4] == pytest.approx(0.5) and img[5] == pytest.approx(0.5)
    p3 = out[2]["features"]
    assert p3[1] == 2.0 and p3[2] == 1.0
    assert p3[4] == pytest.approx(0.5) and p3[6] == pytest.approx(0.5)
    wav = out[3]["features"]
    # [tag, channels, rate, bits, n_frames, duration_s, mean, rms, peak]
    assert wav[0] == 2.0 and wav[1] == 1.0 and wav[2] == 8000.0
    assert wav[3] == 16.0 and wav[4] == 800.0
    assert wav[5] == pytest.approx(0.1)
    assert wav[7] == pytest.approx(0.5, abs=1e-4)  # square wave RMS = amp


def test_ppm_decoder_rejects_truncated():
    from doeecommerce_datapipeline_spark.multimodal.decode import _decode_ppm

    with pytest.raises(ValueError, match="truncated"):
        _decode_ppm(b"P6\n4 4\n255\n\x00\x01")


def test_frame_sample_plan(spark, media):
    samples = frame_sample_plan(media, every_ms=1000).collect()
    # video id=3, duration 3500ms → samples at 0,1000,2000,3000
    assert [r["sample_at_ms"] for r in samples] == [0, 1000, 2000, 3000]


def test_resize_stub_updates_meta(spark, media):
    out = resize_stub(media, 32, 32).select("meta.width").distinct().collect()
    assert [r["width"] for r in out] == [32]


def test_media_table_derivation(spark, sf_dir):
    from doeecommerce_datapipeline_spark.multimodal.media import media_table

    m = media_table(spark, sf_dir)
    rows = m.collect()
    kinds = {r["kind"] for r in rows}
    assert kinds == {"image", "audio", "video"}
    for r in rows:
        assert r["payload"] is not None and len(r["payload"]) > 0
        if r["kind"] == "image":
            assert r["meta"]["width"] is not None
            assert r["meta"]["duration_ms"] is None
        else:
            assert r["meta"]["duration_ms"] is not None
            assert r["meta"]["duration_ms"] % 10 == 0


def test_media_decode_pipeline_matches_python_hash(spark, sf_dir):
    import hashlib

    from doeecommerce_datapipeline_spark.io import table
    from doeecommerce_datapipeline_spark.multimodal.media import media_decode

    docs = {r["doc_id"]: r["text"] for r in table(spark, sf_dir, "documents").collect()}
    out = media_decode(spark, sf_dir).collect()
    assert len(out) == len(docs)
    for r in out:
        payload = docs[r["media_id"]].encode("utf-8")
        assert r["n_bytes"] == len(payload)
        assert r["sha256"] == hashlib.sha256(payload).hexdigest()


def test_media_frame_sample_bounds(spark, sf_dir):
    from doeecommerce_datapipeline_spark.multimodal.media import (
        media_frame_sample,
        media_table,
    )

    durations = {
        r["media_id"]: r["meta"]["duration_ms"]
        for r in media_table(spark, sf_dir).where("kind = 'video'").collect()
    }
    import collections

    counts = collections.Counter()
    for r in media_frame_sample(spark, sf_dir).collect():
        assert r["sample_at_ms"] % 1000 == 0
        assert 0 <= r["sample_at_ms"] <= durations[r["media_id"]]
        counts[r["media_id"]] += 1
    assert set(counts) == set(durations)
    for mid, d in durations.items():
        assert counts[mid] == d // 1000 + 1


def _segmented_wav(rate=1000, silence_s=0.5, tone_s=0.5) -> bytes:
    """Mono 16-bit WAV: silence_s of zeros then tone_s of full-scale
    alternating square wave (rms ≈ 1.0)."""
    import io
    import struct
    import wave

    n_sil = int(rate * silence_s)
    n_tone = int(rate * tone_s)
    frames = [0] * n_sil + [
        32767 if i % 2 == 0 else -32767 for i in range(n_tone)
    ]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{len(frames)}h", *frames))
    return buf.getvalue()


def test_audio_window_energy_segments_silence(spark):
    """Real DSP through the fan-out stage: 0.5 s silence + 0.5 s
    full-scale square at 1 kHz, 250 ms windows → 4 windows, first two
    silent, last two loud; a corrupt payload contributes zero rows."""
    from doeecommerce_datapipeline_spark.multimodal.decode import (
        audio_window_energy,
    )

    df = spark.createDataFrame(
        [(1, _segmented_wav()), (2, b"not a wav at all")],
        "media_id long, payload binary",
    )
    rows = sorted(
        audio_window_energy(df, window_ms=250).collect(),
        key=lambda r: (r["media_id"], r["window_idx"]),
    )
    assert [r["media_id"] for r in rows] == [1, 1, 1, 1]
    assert [r["window_idx"] for r in rows] == [0, 1, 2, 3]
    assert [r["n_samples"] for r in rows] == [250] * 4
    assert [r["is_silence"] for r in rows] == [True, True, False, False]
    assert rows[0]["rms"] == 0.0 and rows[3]["rms"] > 0.99
    assert abs(rows[2]["t_start_s"] - 0.5) < 1e-9
    assert rows[3]["peak"] > 0.99


# ---- synth-WAV seam: writer <-> real parser round-trip ----------------

SF_DIR = "/root/testdata/sf0.001"


def test_synth_wav_roundtrips_through_real_parser():
    """The byte-level RIFF writer and the chunk-walking parser check
    each other: samples out == samples in, fmt fields preserved."""
    import numpy as np

    from doeecommerce_datapipeline_spark.multimodal.decode import (
        _build_wav,
        _synth_samples,
        _wav_samples,
    )

    k = _synth_samples(7, 500)
    x, channels, rate, bits = _wav_samples(_build_wav(k))
    assert (channels, rate, bits) == (1, 8000, 16)
    assert np.array_equal((x * 32768.0).astype("<i2"), k)


def test_audio_pcm_metrics_matches_bruteforce(spark):
    """Engine RMS/mean/peak equal an independent per-doc numpy
    recomputation bit-for-bit (the exact-dyadic-sum contract)."""
    import numpy as np

    from doeecommerce_datapipeline_spark.multimodal.decode import (
        _synth_samples,
    )
    from doeecommerce_datapipeline_spark.multimodal.media import (
        audio_pcm_metrics,
    )

    rows = {r.media_id: r for r in audio_pcm_metrics(spark, SF_DIR).collect()}
    assert rows
    for mid, r in list(rows.items())[:10]:
        x = _synth_samples(mid, r.n_frames).astype(np.float64) / 32768.0
        assert r.mean_amp == x.mean()
        assert r.rms == float(np.sqrt((x * x).mean()))
        assert r.peak == float(np.abs(x).max())
        assert r.duration_s == r.n_frames / 8000


def test_audio_window_report_covers_every_sample(spark):
    """Window fan-out partitions each file exactly: per-file window
    sample counts sum to n_frames; full windows are 400 samples."""
    from doeecommerce_datapipeline_spark.multimodal.media import (
        audio_pcm_metrics,
        audio_window_report,
    )

    n_frames = {
        r.media_id: r.n_frames
        for r in audio_pcm_metrics(spark, SF_DIR).collect()
    }
    per_file: dict = {}
    for r in audio_window_report(spark, SF_DIR).collect():
        per_file.setdefault(r.media_id, []).append(r)
    assert set(per_file) == set(n_frames)
    for mid, ws in per_file.items():
        ws.sort(key=lambda r: r.window_idx)
        assert sum(w.n_samples for w in ws) == n_frames[mid]
        assert all(w.n_samples == 400 for w in ws[:-1])
        assert all(not w.is_silence for w in ws)  # hash noise is loud


def test_synth_ppm_roundtrips_through_real_parser():
    """P6 writer <-> chunk parser check each other, including the
    comment line in the header."""
    import numpy as np

    from doeecommerce_datapipeline_spark.multimodal.decode import (
        _build_ppm,
        _ppm_pixels,
        _synth_pixels,
    )

    w, h, maxval, px = _ppm_pixels(_build_ppm(11, 9, 5))
    assert (w, h, maxval) == (9, 5, 255)
    assert np.array_equal(
        px.ravel(), _synth_pixels(11, 45).astype(np.int64)
    )


def test_image_ppm_metrics_matches_bruteforce(spark):
    """Engine channel/luminance stats equal an independent per-image
    numpy recomputation bit-for-bit (exact integer-domain sums)."""
    import numpy as np

    from doeecommerce_datapipeline_spark.multimodal.decode import (
        _synth_pixels,
    )
    from doeecommerce_datapipeline_spark.multimodal.media import (
        image_ppm_metrics,
    )

    rows = image_ppm_metrics(spark, SF_DIR).collect()
    assert rows
    for r in rows[:10]:
        n = r.width * r.height
        assert r.n_pixels == n
        px = _synth_pixels(r.media_id, n).astype(np.int64).reshape(n, 3)
        assert r.mean_r == float(px[:, 0].sum()) / float(255 * n)
        lum = 299 * px[:, 0] + 587 * px[:, 1] + 114 * px[:, 2]
        assert r.min_lum == float(lum.min()) / 255000.0
        assert r.max_lum == float(lum.max()) / 255000.0
        assert r.mean_lum == float(lum.sum()) / float(255000 * n)
        assert 0.0 <= r.min_lum <= r.mean_lum <= r.max_lum <= 1.0


def test_downsample_under_two_pixels_gives_null_means(spark):
    """A 1-pixel-wide or 1-pixel-high image has no 2x2 box, so the
    downsample has no output pixels and its means are NULL (SQL avg
    over an empty set); a normal image in the same batch is unaffected."""
    from doeecommerce_datapipeline_spark.multimodal.decode import (
        image_downsample_summary,
    )

    def p6(w, h, v):
        return bytearray(b"P6\n%d %d\n255\n" % (w, h) + bytes([v] * (3 * w * h)))

    df = spark.createDataFrame(
        [(1, p6(1, 1, 7)), (2, p6(1, 5, 9)), (3, p6(2, 2, 51))],
        "media_id long, payload binary",
    ).coalesce(1)  # one Arrow batch holds NULL and non-NULL means
    got = {
        r.media_id: (r.out_w, r.out_h, r.n_out_px, r.mean_r, r.mean_g, r.mean_b)
        for r in image_downsample_summary(df).collect()
    }
    assert got == {
        1: (0, 0, 0, None, None, None),
        2: (0, 2, 0, None, None, None),
        3: (1, 1, 1, 0.2, 0.2, 0.2),
    }
