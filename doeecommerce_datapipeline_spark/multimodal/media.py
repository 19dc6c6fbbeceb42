"""Media-table queries over the synthetic corpus: the oracle-paired
face of the multimodal plumbing in `decode.py`.

The container ships no media files, so the media table is DERIVED
deterministically from `documents` (payload = UTF-8 bytes of the text,
kind round-robins image/audio/video on doc_id). That makes the decode
stage independently checkable: Spark runs the real Arrow-batched
mapInPandas decoder while the DuckDB oracle recomputes the same
n_bytes/sha256 with its own built-ins — any drift in the batch
plumbing (dropped rows, payload corruption, encoding mismatch) fails
the hash gate.

At 100 TB the derivation disappears (payloads come from the lake) but
the shapes are identical: decode is a scan-bound mapInPandas with no
shuffle; frame sampling is an explode whose fan-out is bounded by
duration/step, repartitioned before the codec stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table
from .decode import decode_media, frame_sample_plan


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media rows from documents (no media files in the
    test environment): payload = encode(text,'utf-8'), kind by
    doc_id % 3, duration_ms = n_chars * 10 for audio/video."""
    d = table(spark, sf_dir, "documents")
    kind = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    timed = F.col("doc_id") % 3 != 0
    return d.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.concat(F.lit("application/x-fake-"), kind).alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.when(~timed, (F.col("n_chars") % 640 + 1).cast("int")).alias("width"),
            F.when(~timed, (F.col("n_chars") % 480 + 1).cast("int")).alias("height"),
            F.when(timed, (F.col("n_chars") * 10).cast("long")).alias("duration_ms"),
        ).alias("meta"),
    )


def media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode stage end-to-end: every media row through the Arrow
    mapInPandas codec; surfaces the engine-independent outputs
    (byte count + content hash) for the oracle gate."""
    m = media_table(spark, sf_dir)
    return decode_media(m).select("media_id", "kind", "n_bytes", "sha256")


def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample fan-out for the video rows: one row per sampled
    timestamp 0..duration_ms step 1s."""
    m = media_table(spark, sf_dir)
    return frame_sample_plan(m, every_ms=1000)


SYNTH_N_BASE = 200
SYNTH_N_MOD = 1800
AUDIO_REPORT_WINDOW_MS = 50  # 400 samples at the 8 kHz synth rate


def synth_audio_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real RIFF/WAV PCM payloads derived deterministically from the
    documents table (audio rows = doc_id % 3 == 1, matching
    media_table's kind assignment): n_samples = 200 + n_chars % 1800,
    sample k_i = (doc_id*2654435761 + i*40503) mod 2^16 - 2^15. The
    bytes are a REAL container the real decoder parses; the oracle
    regenerates the identical sample stream in SQL."""
    from .decode import synth_pcm_wav

    d = table(spark, sf_dir, "documents")
    audio = d.where(F.col("doc_id") % 3 == 1).select(
        F.col("doc_id").alias("media_id"),
        (F.lit(SYNTH_N_BASE) + F.col("n_chars") % SYNTH_N_MOD)
        .cast("long")
        .alias("n_samples"),
    )
    return synth_pcm_wav(audio)


def audio_pcm_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-audio-file amplitude metrics (frames, duration, mean, RMS,
    peak) through the full build-container -> parse-container ->
    numpy-statistics path. Scan-bound mapInPandas, no shuffle; the
    exact-dyadic-sum argument in audio_pcm_summary makes every double
    bit-identical to the SQL oracle."""
    from .decode import audio_pcm_summary

    return audio_pcm_summary(synth_audio_table(spark, sf_dir)).select(
        "media_id", "n_frames", "duration_s", "mean_amp", "rms", "peak"
    )


def audio_window_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio energy over the synth WAVs: 50 ms windows (400
    samples), per-window RMS/peak/silence flag — the oracle-paired
    face of audio_window_energy's segmentation fan-out. Each media row
    fans out to ceil(n/400) rows inside the same Arrow batch; no
    shuffle at all."""
    from .decode import audio_window_energy

    return audio_window_energy(
        synth_audio_table(spark, sf_dir), window_ms=AUDIO_REPORT_WINDOW_MS
    ).select(
        "media_id", "window_idx", "t_start_s", "n_samples", "rms",
        "peak", "is_silence",
    )


IMG_DIM_BASE = 8
IMG_DIM_MOD = 24


def _image_dims(spark: SparkSession, sf_dir: str, residue: int) -> DataFrame:
    """(media_id, width, height) of the documents rows with
    doc_id % 3 == residue: width = 8 + doc_id % 24, height =
    8 + n_chars % 24 — the key-derived dims every synth image fixture
    uses and the oracle recomputes in SQL."""
    d = table(spark, sf_dir, "documents")
    return d.where(F.col("doc_id") % 3 == residue).select(
        F.col("doc_id").alias("media_id"),
        (F.lit(IMG_DIM_BASE) + F.col("doc_id") % IMG_DIM_MOD)
        .cast("int")
        .alias("width"),
        (F.lit(IMG_DIM_BASE) + F.col("n_chars") % IMG_DIM_MOD)
        .cast("int")
        .alias("height"),
    )


def synth_image_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real P6 PPM payloads derived deterministically from documents
    (image rows = doc_id % 3 == 0, matching media_table; dims from
    ``_image_dims``), pixel bytes from the same int64 hash family as
    the audio samples."""
    from .decode import synth_ppm

    return synth_ppm(_image_dims(spark, sf_dir, 0))


def image_ppm_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image channel means and BT.601 luminance stats through the
    full build-container -> parse-container path. Scan-bound
    mapInPandas, no shuffle; integer-domain sums make every double a
    single exact-int division, bit-identical to the SQL oracle."""
    from .decode import image_ppm_summary

    return image_ppm_summary(synth_image_table(spark, sf_dir))


def jpeg_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry face (r7): the baseline-JPEG codec exercised
    end-to-end on the synth image fixture — build real JPEG bytes
    (multimodal/jpeg.py encoder, 4:4:4 quality 90), decode them
    through the real baseline decoder, audit payload magic, decoded
    dims, and the measured reconstruction bound per image. Exact
    halves (media_id, width, height — the same key-derived dims as
    synth_image_table) are SQL-derivable; the three booleans are the
    codec contract the oracle pins as literal TRUE (the codec is
    deterministic pure numpy, so each flag is a fixed fact of the
    fixture, not a flaky measurement). Two chained mapInPandas stages
    (encode, then decode+audit) after ONE repartition: the testdata
    documents arrive as a single parquet row-group, so without it the
    whole codec pass lands on one core (measured 10.5 s -> 1.4 s at
    sf0.1 on local[32]) — exactly the decode-stage spread the
    decode module docstring prescribes for 100 TB (repartition by
    size ahead of the seam; on a real cluster the scan is already
    split)."""
    from .decode import jpeg_roundtrip_summary, synth_jpeg

    # r10 (guide §2.3): filter + project BEFORE the spreading
    # repartition — the exchange used to carry every documents column
    # (including the text payload, never read by the codec) for 3x the
    # rows; now it moves three ints per image. Same row set, same
    # per-media_id output.
    img = _image_dims(spark, sf_dir, 0).repartition(
        spark.sparkContext.defaultParallelism
    )
    return jpeg_roundtrip_summary(synth_jpeg(img))


def png_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry face (r8, verdict #4): the 8-bit PNG codec exercised
    end-to-end on the synth image fixture — build real PNG bytes
    (multimodal/png.py encoder, min-SAD filter heuristic over the
    hash-family pixels, which exercises all five scanline filters),
    decode them through the real decoder, and audit payload
    signature, decoded dims, and EXACT pixel equality (PNG is
    lossless — a strictly stronger contract than the JPEG face's
    error bound). Image rows are the doc_id % 3 == 1 slice (disjoint
    from the JPEG face's % 3 == 0 slice, widening fixture coverage);
    dims are the same key-derived formulas, so the exact halves are
    SQL-derivable and the three booleans are deterministic codec
    contracts the oracle pins as literal TRUE. Same repartition ahead
    of the two chained mapInPandas stages as the JPEG face — the
    single-row-group trap fix (r7) applies identically."""
    from .decode import png_roundtrip_summary, synth_png

    # r10: same filter/project-before-repartition as the JPEG face
    # (guide §2.3) — the exchange moves three ints, not documents.text
    img = _image_dims(spark, sf_dir, 1).repartition(
        spark.sparkContext.defaultParallelism
    )
    return png_roundtrip_summary(synth_png(img))


def image_downsample_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Channel means of the 2x2 box-downsampled synth images through
    the full build -> parse -> pool path — decode-transform-feature
    plumbing with exact-integer parity (floor-of-box-sum pixels, one
    exact division per reported double)."""
    from .decode import image_downsample_summary

    return image_downsample_summary(synth_image_table(spark, sf_dir))
