"""Multimodal column plumbing (north star): image/audio/video as
opaque binary columns + typed metadata, with decode / feature-extract /
resize / frame-sample as Arrow-batched mapInPandas stages.

Every codec stage crosses the Arrow boundary through one seam,
``_map_rows``: it selects the stage's input columns, ships the package,
runs one mapInPandas and calls the stage's per-row kernel on each input
row. A kernel yields its output tuples (one for a 1:1 map, several for
a fan-out, none to skip a row), so a stage is its kernel and nothing
else.

The Spark side — schema, partitioning, UDF signatures, batch shapes —
is real and tested. The codec seam has four real pure-Python decoders
dispatched on payload magic bytes — PPM (P6 binary / P3 ascii) images,
RIFF/WAV PCM audio, baseline JPEG via ``multimodal/jpeg.py`` (r7),
and 8-bit PNG via ``multimodal/png.py`` (r8) — so `real_decode=True`
only raises NotImplementedError for formats that genuinely need
external libraries (MP3/video, progressive JPEG, interlaced/16-bit
PNG; PIL/torchaudio would slot into `_real_decode` unchanged). The
default path produces
a deterministic fake feature vector derived from the bytes (stable
across engines and runs) so oracle-paired queries stay engine-neutral
on the synthetic corpus, whose payloads are text bytes, not media.

At 100 TB: binary payloads dominate row size → keep them in their own
column family (parquet stores columns independently), repartition by
size not row count before the decode stage, and bound Arrow batch
bytes via spark.sql.execution.arrow.maxRecordsPerBatch.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pyfiles import ensure_shipped

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 16

DECODED_SCHEMA = (
    "media_id long, kind string, n_bytes long, sha256 string, "
    f"features array<float>"
)


def _map_rows(
    df: DataFrame,
    cols: Sequence[str],
    schema: str,
    fn: Callable[..., Iterable[tuple]],
) -> DataFrame:
    """Run the per-row kernel ``fn`` over ``df``'s ``cols`` as one
    Arrow-batched mapInPandas stage with output ``schema``.

    ``fn(*row)`` receives one input row's values (Python scalars, bytes
    or None) and yields output tuples in ``schema``'s column order:
    one, several or none per input row. Each output batch is built from
    every tuple its input batch yielded."""
    names = T.StructType.fromDDL(schema).names

    def frames(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [
                out
                for row in pdf.itertuples(index=False, name=None)
                for out in fn(*row)
            ]
            yield pd.DataFrame(rows, columns=names)

    # the kernels reference this package by module name — ship it so
    # workers can import it regardless of driver cwd/sys.path
    ensure_shipped(df.sparkSession)
    return df.select(*cols).mapInPandas(frames, schema)


def _fake_features(payload: bytes) -> list[float]:
    """Deterministic stand-in for a real decoder: 16 floats derived
    from the sha256 digest — stable, content-addressed, unit-testable."""
    h = hashlib.sha256(payload or b"").digest()
    return [b / 255.0 for b in h[:FEATURE_DIM]]


def _pad16(vals: list[float]) -> list[float]:
    return ([float(v) for v in vals] + [0.0] * FEATURE_DIM)[:FEATURE_DIM]


def _ppm_pixels(payload: bytes):
    """PPM container parse (P6 binary and P3 ascii): header tokenize
    honoring '#' comments, then the raw integer pixel array. Returns
    (width, height, maxval, px int64 ndarray of shape (n, 3)). Shared
    by the float-feature decoder and the integer-domain summary."""
    import numpy as np

    # tokenize the header: magic, width, height, maxval; comments run
    # '#' to end-of-line and may appear between any tokens
    tokens: list[bytes] = []
    i = 0
    while len(tokens) < 4 and i < len(payload):
        c = payload[i : i + 1]
        if c == b"#":
            i = payload.find(b"\n", i)
            if i < 0:
                raise ValueError("PPM: unterminated comment")
            i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            tokens.append(payload[i:j])
            i = j
    if len(tokens) < 4:
        raise ValueError("PPM: truncated header")
    magic, w, h, maxval = tokens[0], int(tokens[1]), int(tokens[2]), int(tokens[3])
    if w <= 0 or h <= 0 or maxval <= 0:
        raise ValueError("PPM: bad dimensions")
    n = w * h
    if magic == b"P6":
        # exactly ONE whitespace byte separates maxval from pixel data
        if maxval > 255:
            raise ValueError("PPM: 16-bit P6 unsupported")
        raw = payload[i + 1 : i + 1 + 3 * n]
        if len(raw) < 3 * n:
            raise ValueError("PPM: truncated pixel data")
        px = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
    elif magic == b"P3":
        vals = payload[i:].split()
        if len(vals) < 3 * n:
            raise ValueError("PPM: truncated pixel data")
        px = np.array([int(v) for v in vals[: 3 * n]], dtype=np.int64)
    else:
        raise ValueError(f"PPM: unknown magic {magic!r}")
    return w, h, maxval, px.reshape(n, 3)


def _pixel_features(px, w: int, h: int, maxval: int) -> list[float]:
    """The image feature vector of every pixel decoder, from (n, 3)
    integer RGB pixels: [1=image tag, width, height, maxval, mean_r,
    mean_g, mean_b, min_lum, max_lum, mean_lum, n_pixels, 0...].
    Channel means are normalized to [0,1] by maxval."""
    import numpy as np

    rgb = px.astype(np.float64) / maxval
    lum = rgb @ np.array([0.299, 0.587, 0.114])
    means = rgb.mean(axis=0)
    return _pad16(
        [1.0, w, h, maxval, means[0], means[1], means[2],
         lum.min(), lum.max(), lum.mean(), float(w * h)]
    )


def _decode_ppm(payload: bytes) -> list[float]:
    """Pure-Python PPM decoder (P6 binary and P3 ascii): header parse
    honoring '#' comments, then the ``_pixel_features`` vector."""
    w, h, maxval, px = _ppm_pixels(payload)
    return _pixel_features(px, w, h, maxval)


def _wav_samples(payload: bytes):
    """RIFF chunk walk + PCM sample normalization to [-1, 1]; returns
    (samples ndarray, channels, rate, bits). Shared by the summary
    decoder and the windowed-energy fan-out."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("WAV: not a RIFF/WAVE container")
    fmt = None
    data = None
    pos = 12
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack(
            "<I", payload[pos + 4 : pos + 8]
        )[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV: missing fmt/data chunk")
    audio_format, channels, rate = struct.unpack("<HHI", fmt[:8])
    bits = struct.unpack("<H", fmt[14:16])[0]
    if audio_format != 1:
        raise ValueError(f"WAV: compressed format {audio_format} unsupported")
    if bits == 8:  # unsigned
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 32:
        x = np.frombuffer(data, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise ValueError(f"WAV: {bits}-bit PCM unsupported")
    return x, channels, rate, bits


def _wav_stats(x, channels: int, rate: int) -> tuple:
    """(n_frames, duration_s, mean, rms, peak) of normalized samples —
    the amplitude statistics of the WAV decoder and the PCM summary."""
    import numpy as np

    n_frames = len(x) // max(channels, 1)
    return (
        n_frames,
        n_frames / rate if rate else 0.0,
        float(x.mean()) if len(x) else 0.0,
        float(np.sqrt((x * x).mean())) if len(x) else 0.0,
        float(np.abs(x).max()) if len(x) else 0.0,
    )


def _decode_wav(payload: bytes) -> list[float]:
    """Pure-Python RIFF/WAV decoder for PCM (format 1) 8/16/32-bit:
    chunk walk for fmt + data, then amplitude statistics over samples
    normalized to [-1, 1].

    Feature layout (16 floats): [2=audio tag, channels, sample_rate,
    bits, n_frames, duration_s, mean, rms, peak, 0...]."""
    x, channels, rate, bits = _wav_samples(payload)
    return _pad16([2.0, channels, rate, bits, *_wav_stats(x, channels, rate)])


def _decode_jpeg(payload: bytes) -> list[float]:
    """Baseline JPEG decode (multimodal/jpeg.py — pure numpy, no
    codec library), then the ``_pixel_features`` vector with maxval
    255, so downstream feature consumers are container-agnostic."""
    import numpy as np

    from .jpeg import decode_baseline_jpeg

    px = decode_baseline_jpeg(payload)
    if px.ndim == 2:  # grayscale: replicate to RGB for a uniform layout
        px = np.stack([px] * 3, axis=-1)
    h, w = px.shape[:2]
    return _pixel_features(px.reshape(h * w, 3), w, h, 255)


def _decode_png(payload: bytes) -> list[float]:
    """8-bit PNG decode (multimodal/png.py — stdlib zlib + numpy, no
    codec library), then the ``_pixel_features`` vector with maxval
    255; alpha (if present) is dropped for the RGB statistics."""
    import numpy as np

    from .png import decode_png

    px = decode_png(payload)
    if px.ndim == 2:  # grayscale: replicate to RGB for a uniform layout
        px = np.stack([px] * 3, axis=-1)
    elif px.shape[2] == 2:  # gray+alpha: replicate luma, drop alpha
        px = np.stack([px[..., 0]] * 3, axis=-1)
    elif px.shape[2] == 4:  # RGBA: drop alpha
        px = px[..., :3]
    h, w = px.shape[:2]
    return _pixel_features(px.reshape(h * w, 3), w, h, 255)


def _real_decode(payload: bytes) -> list[float]:
    """Magic-byte dispatch to the real decoders; formats needing
    external codec libraries raise (PIL/torchaudio slot in here —
    JPEG baseline decodes natively via multimodal/jpeg.py since r7 and
    8-bit PNG via multimodal/png.py since r8, so the raise covers
    MP3/video, progressive JPEG, and interlaced/16-bit PNG only)."""
    p = payload or b""
    if p[:2] in (b"P6", b"P3"):
        return _decode_ppm(p)
    if p[:4] == b"RIFF" and p[8:12] == b"WAVE":
        return _decode_wav(p)
    if p[:3] == b"\xff\xd8\xff":
        return _decode_jpeg(p)
    if p[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(p)
    raise NotImplementedError(
        f"no pure-Python decoder for payload magic {p[:4]!r} — "
        "plug PIL/torchaudio here; the Spark plumbing is complete"
    )


def decode_media(df: DataFrame, real_decode: bool = False) -> DataFrame:
    """Decode/feature-extract stage over a binary media column.

    Arrow carries (media_id, kind, payload) in batches, but the
    codec is a per-row Python call: each payload is hashed and decoded
    one row at a time inside the batch. Codec libraries
    (PIL/torchaudio/ffmpeg) slot into ``_real_decode``, everything
    else unchanged.
    """
    decode_one = _real_decode if real_decode else _fake_features

    def decoded(media_id, kind, payload):
        yield (
            media_id,
            kind,
            len(payload or b""),
            hashlib.sha256(payload or b"").hexdigest(),
            decode_one(payload),
        )

    return _map_rows(
        df, ("media_id", "kind", "payload"), DECODED_SCHEMA, decoded
    )


def resize_stub(df: DataFrame, width: int, height: int) -> DataFrame:
    """Metadata-only resize (kept for MEDIA_SCHEMA frames whose
    payloads have no decoder); the REAL pixel path for JPEG payloads
    is ``resize_jpeg`` below (r7)."""
    return df.withColumn(
        "meta",
        F.struct(
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
            F.col("meta.duration_ms").alias("duration_ms"),
        ),
    )


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plan for video rows: explode the sample
    timestamps 0..duration step every_ms — the row fan-out is real
    Spark work; the frame grab is the stubbed codec's."""
    return (
        df.where(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.coalesce(F.col("meta.duration_ms"), F.lit(0)),
                    F.lit(every_ms).cast("long"),
                )
            ).alias("sample_at_ms"),
        )
    )


AUDIO_WINDOW_MS = 250
SILENCE_RMS = 0.01

AUDIO_WINDOWS_SCHEMA = (
    "media_id long, window_idx long, t_start_s double, n_samples long, "
    "rms double, peak double, is_silence boolean"
)


def audio_window_energy(
    df: DataFrame,
    window_ms: int = AUDIO_WINDOW_MS,
    silence_rms: float = SILENCE_RMS,
) -> DataFrame:
    """Windowed audio analysis over WAV payloads: REAL per-window RMS
    energy + peak + silence flag — the segmentation primitive an
    ASR/audio training pipeline runs first (split on silence, drop
    dead air). One media row fans out to duration/window rows.

    Fan-out kernel: each (media_id, payload) row yields its window
    rows, computed by numpy over the decoded sample array (channels
    are energy-pooled — interleaved frames reshape to (frames,
    channels) and the window statistic runs over all channels). A
    non-WAV or corrupt payload yields zero rows instead of failing the
    stage (quarantine-style skip; the summary decoder is where
    strictness lives)."""
    import numpy as np

    def windows(mid, payload):
        try:
            x, channels, rate, _bits = _wav_samples(payload or b"")
        except ValueError:
            return
        if rate == 0 or len(x) == 0:
            return
        ch = max(channels, 1)
        frames = x[: (len(x) // ch) * ch].reshape(-1, ch)
        win = max(1, int(rate * window_ms / 1000))
        for w_idx in range(0, (len(frames) + win - 1) // win):
            seg = frames[w_idx * win : (w_idx + 1) * win].ravel()
            rms = float(np.sqrt((seg * seg).mean()))
            yield (
                mid,
                w_idx,
                w_idx * win / rate,
                len(seg),
                rms,
                float(np.abs(seg).max()),
                rms < silence_rms,
            )

    return _map_rows(
        df, ("media_id", "payload"), AUDIO_WINDOWS_SCHEMA, windows
    )

SYNTH_RATE = 8000
SYNTH_MUL = 2654435761  # Knuth multiplicative hash constant
SYNTH_STEP = 40503


def _synth_samples(media_id: int, n: int):
    """Deterministic 16-bit PCM samples for media row `media_id`:
    k_i = (media_id*SYNTH_MUL + i*SYNTH_STEP) mod 2^16 - 2^15. Pure
    int64 arithmetic so ANY engine (numpy here, DuckDB SQL in the
    oracle) reproduces the exact sample stream.

    The multiply is computed as (media_id % 2^16) * (SYNTH_MUL % 2^16)
    — identical by the modular identity (a*b) mod m == ((a mod m)
    * (b mod m)) mod m, but bounded ≤ 65535 * 31153 ≈ 2.0e9, so it
    never leaves int64. The naive product overflows int64 once
    media_id passes ~3.47e9 (production snowflake-style ids; the sf1
    replica's offset keys) — numpy wraps silently, DuckDB raises —
    the identical at-scale bug class as the r8 HLL hash fix, caught
    by the r9 sf1 parity sweep."""
    import numpy as np

    i = np.arange(n, dtype=np.int64)
    k = (
        (media_id % 65536) * (SYNTH_MUL % 65536) + i * SYNTH_STEP
    ) % 65536 - 32768
    return k.astype("<i2")


def _build_wav(samples_i16, rate: int = SYNTH_RATE) -> bytes:
    """Minimal RIFF/WAVE container: PCM format-1, mono, 16-bit."""
    import struct

    data = samples_i16.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def synth_pcm_wav(df: DataFrame, rate: int = SYNTH_RATE) -> DataFrame:
    """(media_id, n_samples) -> (media_id, payload): build REAL
    RIFF/WAV PCM bytes per row, Arrow batch at a time. The container
    then round-trips through the real `_wav_samples` decoder, so the
    byte-level writer and parser check each other."""

    def built(m, n):
        yield m, _build_wav(_synth_samples(int(m), int(n)), rate)

    return _map_rows(
        df, ("media_id", "n_samples"), "media_id long, payload binary", built
    )


AUDIO_SUMMARY_SCHEMA = (
    "media_id long, channels int, sample_rate int, bits int, "
    "n_frames long, duration_s double, mean_amp double, rms double, "
    "peak double"
)


def audio_pcm_summary(df: DataFrame) -> DataFrame:
    """Per-file audio summary through the REAL WAV decoder, with
    double-typed outputs (decode_media's feature vector is float32;
    oracle pairing needs the full doubles).

    Cross-engine exactness: samples are k/2^15 with |k| < 2^15, so
    each x and x*x is an exact double (dyadic rational); partial sums
    of <= 4096 terms stay under 53 mantissa bits, so the sum is EXACT
    under any summation order (numpy pairwise here, sequential in the
    oracle); mean/rms then differ from the oracle's by zero ulp."""

    def summary(mid, payload):
        x, channels, rate, bits = _wav_samples(payload or b"")
        yield (mid, channels, rate, bits, *_wav_stats(x, channels, rate))

    return _map_rows(
        df, ("media_id", "payload"), AUDIO_SUMMARY_SCHEMA, summary
    )

LUM_R, LUM_G, LUM_B = 299, 587, 114  # BT.601 coefficients x1000


def _synth_pixels(media_id: int, n_px: int):
    """Deterministic 8-bit RGB stream: byte_i = (media_id*SYNTH_MUL +
    i*SYNTH_STEP) mod 256 over the flat 3*n_px channel stream — the
    same int64 hash family as the audio samples, reproducible in SQL.
    Mod-split multiply for the same int64-overflow reason as
    _synth_samples (identical values by the modular identity)."""
    import numpy as np

    i = np.arange(3 * n_px, dtype=np.int64)
    return (
        ((media_id % 256) * (SYNTH_MUL % 256) + i * SYNTH_STEP) % 256
    ).astype(np.uint8)


def _build_ppm(media_id: int, w: int, h: int) -> bytes:
    """Minimal P6 container (binary PPM, maxval 255) with a comment
    line so the parser's comment path stays exercised in production."""
    header = b"P6\n# synth media %d\n%d %d\n255\n" % (media_id, w, h)
    return header + _synth_pixels(media_id, w * h).tobytes()


def synth_ppm(df: DataFrame) -> DataFrame:
    """(media_id, width, height) -> (media_id, payload): build REAL
    P6 PPM bytes per row, Arrow batch at a time; the container
    round-trips through the real `_ppm_pixels` parser."""

    def built(m, w, h):
        yield m, _build_ppm(int(m), int(w), int(h))

    return _map_rows(
        df, ("media_id", "width", "height"), "media_id long, payload binary",
        built,
    )


IMAGE_SUMMARY_SCHEMA = (
    "media_id long, width int, height int, n_pixels long, "
    "mean_r double, mean_g double, mean_b double, "
    "min_lum double, max_lum double, mean_lum double"
)


def image_ppm_summary(df: DataFrame) -> DataFrame:
    """Per-image channel/luminance summary through the REAL PPM
    parser, computed in the INTEGER domain first: channel sums and
    the x1000-scaled BT.601 luminance are exact int64, and each
    output double is a single division of two exactly-representable
    integers — bit-identical to the SQL oracle with no
    summation-order caveat at all (stronger than the audio seam,
    which needs the dyadic-rational argument)."""

    def summary(mid, payload):
        w, h, maxval, px = _ppm_pixels(payload or b"")
        n = w * h
        sums = px.sum(axis=0)  # int64, exact
        lum = LUM_R * px[:, 0] + LUM_G * px[:, 1] + LUM_B * px[:, 2]
        lscale = 1000 * maxval
        yield (
            mid,
            w,
            h,
            n,
            float(sums[0]) / float(maxval * n),
            float(sums[1]) / float(maxval * n),
            float(sums[2]) / float(maxval * n),
            float(lum.min()) / float(lscale),
            float(lum.max()) / float(lscale),
            float(lum.sum()) / float(lscale * n),
        )

    return _map_rows(
        df, ("media_id", "payload"), IMAGE_SUMMARY_SCHEMA, summary
    )


DS_SUMMARY_SCHEMA = (
    "media_id long, out_w int, out_h int, n_out_px long, "
    "mean_r double, mean_g double, mean_b double"
)


def image_downsample_summary(df: DataFrame) -> DataFrame:
    """2x2 integer box-downsample through the REAL PPM parser, then
    channel means of the DOWNSAMPLED image — the thumbnail/preprocess
    step every vision-data pipeline runs between decode and feature
    extraction, with the full exactness story: each output pixel is
    floor(sum-of-4 / 4) in int64, channel sums stay int64, and every
    reported double is one division of exact integers. Odd edge rows/
    columns drop (crop-to-even, the standard pooling convention).

    A per-row kernel over (media_id, payload) on the ``_map_rows``
    seam — scan-bound, no shuffle.
    """
    import numpy as np

    def summary(mid, payload):
        w, h, maxval, px = _ppm_pixels(payload or b"")
        w2, h2 = w // 2, h // 2
        img = px.reshape(h, w, 3)[: 2 * h2, : 2 * w2, :].astype(np.int64)
        ds = (
            img.reshape(h2, 2, w2, 2, 3).sum(axis=(1, 3)) // 4
        )  # floor of the 4-px box sum — exact int64
        n = h2 * w2
        sums = ds.reshape(-1, 3).sum(axis=0)
        # an image under 2 px wide or high has no output pixels: NULL
        # means, as SQL avg over an empty set
        means = [float(v) / float(maxval * n) if n else None for v in sums]
        yield (mid, w2, h2, n, *means)

    return _map_rows(df, ("media_id", "payload"), DS_SUMMARY_SCHEMA, summary)


JPEG_ENCODE_QUALITY = 90
# measured max |decoded - original| over every fixture image at all
# three SFs is 46 at quality 90 (4:4:4), and the codec's own
# randomized property suite (tests/test_jpeg_properties.py) needs 96
# on adversarial noise images. The contract bound is the RANDOMIZED
# worst case, not the fixture measurement, so a future fixture change
# (dims, SYNTH_MUL, quality) cannot push the audit red without a real
# codec bug — a broken Huffman/IDCT/zigzag path lands >=128 (r8
# ADVICE: the previous 64 was fixture-coupled). The bound stays a
# deterministic contract: the codec is pure numpy with a fixed
# operation order, so the error per image is bit-identical across
# runs/hosts.
JPEG_MAX_ABS_ERR = 96


def synth_jpeg(df: DataFrame) -> DataFrame:
    """(media_id, width, height) -> (media_id, width, height,
    payload): build REAL baseline JPEG bytes per row (4:4:4, quality
    JPEG_ENCODE_QUALITY, pixels from the same _synth_pixels hash
    family as the PPM fixture), Arrow batch at a time."""
    from .jpeg import encode_baseline_jpeg

    def built(m, w, h):
        px = _synth_pixels(int(m), int(w) * int(h)).reshape(int(h), int(w), 3)
        yield m, w, h, encode_baseline_jpeg(px, quality=JPEG_ENCODE_QUALITY)

    return _map_rows(
        df,
        ("media_id", "width", "height"),
        "media_id long, width int, height int, payload binary",
        built,
    )


JPEG_AUDIT_SCHEMA = (
    "media_id long, width int, height int, magic_ok boolean, "
    "dims_match boolean, max_err_le_bound boolean"
)


def jpeg_roundtrip_summary(df: DataFrame) -> DataFrame:
    """Decode every JPEG payload through the REAL baseline decoder
    (multimodal/jpeg.py) and audit the roundtrip against the
    regenerated source pixels: payload magic, decoded dims, and the
    JPEG_MAX_ABS_ERR reconstruction bound. Arrow-batched mapInPandas
    over (media_id, width, height, payload) — scan-bound, no shuffle,
    the decode seam's plumbing contract unchanged. The exact halves
    (media_id, width, height) are SQL-derivable; the three booleans
    are the codec contract the oracle pins as literal TRUE."""
    import numpy as np

    from .jpeg import decode_baseline_jpeg

    def audit(mid, w, h, payload):
        p = bytes(payload or b"")
        mid, w, h = int(mid), int(w), int(h)
        magic = p[:3] == b"\xff\xd8\xff"
        dims = False
        err_ok = False
        if magic:
            dec = decode_baseline_jpeg(p)
            dims = dec.shape[:2] == (h, w)
            if dims:
                src = _synth_pixels(mid, w * h).reshape(h, w, 3)
                err = np.abs(dec.astype(np.int64) - src.astype(np.int64)).max()
                err_ok = bool(err <= JPEG_MAX_ABS_ERR)
        yield mid, w, h, magic, dims, err_ok

    return _map_rows(
        df, ("media_id", "width", "height", "payload"), JPEG_AUDIT_SCHEMA, audit
    )


def synth_png(df: DataFrame) -> DataFrame:
    """(media_id, width, height) -> (media_id, width, height,
    payload): build REAL 8-bit RGB PNG bytes per row (lossless,
    min-SAD per-row filter heuristic — the synth hash-family pixels
    exercise all five filter types; pixels from the same
    _synth_pixels family as the PPM/JPEG fixtures), Arrow batch at a
    time."""
    from .png import encode_png

    def built(m, w, h):
        px = _synth_pixels(int(m), int(w) * int(h)).reshape(int(h), int(w), 3)
        yield m, w, h, encode_png(px)

    return _map_rows(
        df,
        ("media_id", "width", "height"),
        "media_id long, width int, height int, payload binary",
        built,
    )


PNG_AUDIT_SCHEMA = (
    "media_id long, width int, height int, magic_ok boolean, "
    "dims_match boolean, lossless_ok boolean"
)


def png_roundtrip_summary(df: DataFrame) -> DataFrame:
    """Decode every PNG payload through the REAL decoder
    (multimodal/png.py) and audit the roundtrip against the
    regenerated source pixels: payload signature, decoded dims, and —
    because PNG is LOSSLESS — exact pixel equality, a strictly
    stronger contract than the JPEG face's error bound. Arrow-batched
    mapInPandas over (media_id, width, height, payload) — scan-bound,
    no shuffle. The exact halves (media_id, width, height) are
    SQL-derivable; the three booleans are the codec contract the
    oracle pins as literal TRUE."""
    import numpy as np

    from .png import PNG_SIGNATURE, decode_png

    def audit(mid, w, h, payload):
        p = bytes(payload or b"")
        mid, w, h = int(mid), int(w), int(h)
        magic = p[: len(PNG_SIGNATURE)] == PNG_SIGNATURE
        dims = False
        lossless = False
        if magic:
            dec = decode_png(p)
            dims = dec.shape == (h, w, 3)
            if dims:
                src = _synth_pixels(mid, w * h).reshape(h, w, 3)
                lossless = bool(np.array_equal(dec, src))
        yield mid, w, h, magic, dims, lossless

    return _map_rows(
        df, ("media_id", "width", "height", "payload"), PNG_AUDIT_SCHEMA, audit
    )


RESIZED_SCHEMA = (
    "media_id long, payload binary, out_w int, out_h int, "
    "n_bytes_in long, n_bytes_out long"
)


def resize_jpeg(df: DataFrame, width: int, height: int) -> DataFrame:
    """REAL resize stage over JPEG payloads (r7 — upgrades the
    metadata-only ``resize_stub`` now that ``multimodal/jpeg.py``
    exists): decode the baseline stream, nearest-neighbor resample to
    the target dims on a deterministic integer index map
    (src_i = floor(dst_i * src_dim / dst_dim) — no float coordinates,
    so output pixels are engine/host-exact), re-encode at
    JPEG_ENCODE_QUALITY. The thumbnail pass every multimodal corpus
    prep runs between ingest and feature extraction.

    Arrow-batched mapInPandas over (media_id, payload) — scan-bound,
    no shuffle; at 100 TB, repartition by byte size ahead of this
    seam (see jpeg_roundtrip_audit) and the codec work parallelizes
    per-partition with no state."""
    import numpy as np

    from .jpeg import decode_baseline_jpeg, encode_baseline_jpeg

    if width <= 0 or height <= 0:
        raise ValueError(f"bad target dims {width}x{height}")

    def resized(mid, payload):
        p = bytes(payload or b"")
        px = decode_baseline_jpeg(p)
        sh, sw = px.shape[:2]
        yi = (np.arange(height, dtype=np.int64) * sh) // height
        xi = (np.arange(width, dtype=np.int64) * sw) // width
        enc = encode_baseline_jpeg(px[yi][:, xi], quality=JPEG_ENCODE_QUALITY)
        yield int(mid), enc, width, height, len(p), len(enc)

    return _map_rows(df, ("media_id", "payload"), RESIZED_SCHEMA, resized)
