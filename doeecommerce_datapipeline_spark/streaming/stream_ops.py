"""Structured Streaming formulations of the reference's batch
semantics (SURVEY.md §2.9 mapping):

- late/re-delivered data (the reference's latest-wins W1 + keyed
  upsert S8) → watermark + dropDuplicatesWithinWatermark
- daily KPI recompute (S9) → windowed aggregate + foreachBatch MERGE
  (the parquet and manifest upsert sinks)
- additive sketch/statistics state (count-min cells, HLL registers,
  PSI bin counts, ANOVA moments) → one epoch-guarded foreachBatch
  merge, ``_additive_merge_sink``: union the stored state with the
  batch's, re-aggregate per key, upsert with the replay guard in the
  commit meta

The reference is daily-batch; these make the same pipeline incremental
without changing any downstream contract — the gold marts produced by
foreachBatch are byte-compatible with the batch publisher's.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sinks.parquet_sinks import upsert

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """File-based streaming source (one file per micro-batch in tests;
    kafka in production — same downstream graph either way)."""
    return (
        spark.readStream.schema(schema or EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Online W1: drop re-delivered event_ids within the watermark.
    State is bounded by the watermark — the streaming analog of the
    reference's idempotent re-ingestion (SURVEY.md §2.9)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_windowed_agg(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Online A1: tumbling 1-hour revenue rollup with late-data cutoff."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_session_agg(
    events: DataFrame, watermark: str | None = "1 hour"
) -> DataFrame:
    """Online sessionization with the SAME ``F.session_window`` the
    batch operator uses (events.py:session_window_agg) — here the
    engine keeps per-user open sessions in the state store, merges
    windows as events arrive, and emits a session once the watermark
    passes its close. The batch/streaming construct identity is the
    point: one definition of 'session' across the medallion layers.

    Pass ``watermark=None`` when chaining after another stateful
    operator (e.g. ``stream_dedup``) that already declared the
    watermark — Spark disallows redefining it mid-graph."""
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def stream_stream_interval_join(
    clicks: DataFrame,
    views: DataFrame,
    watermark: str = "1 hour",
    max_delay_minutes: int = 30,
) -> DataFrame:
    """Stream-stream inner join: each click matched to the same user's
    views from the preceding ``max_delay_minutes`` — the online
    attribution shape (click ← candidate impressions).

    Both sides carry a watermark AND the join condition bounds the two
    event times against each other; together they let the engine
    expire buffered state (without the time-range predicate a
    stream-stream join must hold both streams forever). One shuffle on
    user_id per side; state per key is bounded by watermark + delay.
    """
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("view_user"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    return c.join(
        v,
        (F.col("user_id") == F.col("view_user"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (
            F.col("view_ts")
            >= F.col("click_ts") - F.expr(f"INTERVAL {max_delay_minutes} MINUTES")
        ),
    ).select("click_id", "user_id", "click_ts", "view_id", "view_ts")


def foreach_batch_upsert(path: str, keys: list[str]):
    """Online S8/S9: exactly-once-ish keyed upsert per micro-batch —
    the streaming publisher for silver/gold tables. With Delta this is
    foreachBatch + MERGE INTO."""

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            upsert(batch_df.sparkSession, batch_df, path, keys)

    return _write


def foreach_batch_manifest_upsert(path: str, keys: list[str]):
    """Streaming publisher into the transactional manifest table —
    the ACID variant of ``foreach_batch_upsert``.

    Each micro-batch MERGEs under the manifest's optimistic-commit
    loop, so a concurrent batch writer (e.g. a backfill) can share the
    table: a lost race re-reads the new snapshot and recomputes the
    rewrite instead of clobbering it. Combined with the stream
    checkpoint, a replayed epoch re-upserts the same keys — idempotent
    by construction — which is the exactly-once story Delta's
    foreachBatch + MERGE INTO gives, built on the same primitives.
    """
    from ..sinks.manifest_store import ManifestTable

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            ManifestTable(batch_df.sparkSession, path).upsert(batch_df, keys)

    return _write


def foreach_batch_latest_wins_upsert(path: str, keys: list[str], ts_col: str):
    """Streaming publisher with LATEST-WINS merge semantics — the one
    to use when the stream can deliver late or out-of-order versions
    of a key (CDC feeds, at-least-once sources, backfill overlap).

    ``foreach_batch_manifest_upsert`` is last-batch-wins: a stale
    redelivery in micro-batch N+1 would overwrite the fresh row batch
    N wrote. This variant routes every batch through
    ``ManifestTable.upsert_latest_wins`` — a conditional MERGE that
    only updates when the incoming row's ``ts_col`` is strictly newer
    — so the table converges to the batch latest-wins answer no matter
    how the rows were sliced into micro-batches or reordered across
    them. Replayed epochs are no-ops (ties keep the existing row).
    """
    from ..sinks.manifest_store import ManifestTable

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            ManifestTable(batch_df.sparkSession, path).upsert_latest_wins(
                batch_df, keys, ts_col
            )

    return _write


def run_stream_to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Test harness: drive the streaming graph to completion over the
    currently-available files, results in an in-memory table.

    Aggregations need output_mode='complete' here: with a single
    micro-batch the watermark never advances past the last window, so
    append mode would emit nothing.
    """
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def foreach_batch_incremental_view(
    source_path: str,
    view_path: str,
    view_keys: list[str],
    sum_cols: list[str],
):
    """Streaming publisher that keeps a gold aggregate CURRENT: each
    micro-batch appends to the source manifest table, then advances
    the incremental view by exactly that delta — so the aggregate's
    refresh cost is per-batch, not per-table, and BOTH tables expose
    ACID snapshots + time travel to concurrent readers.

    This is the streaming completion of the medallion story: bronze
    stream → ACID silver (``foreach_batch_manifest_upsert``) → gold
    aggregate maintained by change feed, all on one commit protocol.
    On epoch replay the append re-commits its rows, and the view
    pointer (stored in the view commit meta) makes the refresh pick up
    from the exact source version it last applied.
    """
    from ..sinks.incremental_view import IncrementalView
    from ..sinks.manifest_store import ManifestTable

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        src = ManifestTable(spark, source_path)
        src.append(batch_df)
        IncrementalView(
            spark, src, view_path, keys=view_keys, sum_cols=sum_cols
        ).refresh()

    return _write


def foreach_batch_near_dedup(
    index_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
):
    """Streaming CORPUS ingest with near-dup filtering: each document
    micro-batch dedups against the persistent MinHash-LSH index
    (exact + near duplicates of anything already accepted are
    dropped), survivors append to the ACID corpus table AND extend the
    index — the online form of the crawl-ingest loop every
    continuously-fed training corpus runs.

    Ordering note: micro-batches process serially per stream, so the
    index the batch sees always includes every prior batch's
    survivors; replayed epochs re-check against an index that already
    contains their docs and drop them — idempotent by construction."""
    from ..operators.dedup import incremental_near_dup_pipeline
    from ..sinks.manifest_store import ManifestTable

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        kept = incremental_near_dup_pipeline(
            batch_df.sparkSession,
            batch_df,
            index_path,
            id_col,
            text_col,
            jaccard_threshold,
        )
        if not kept.isEmpty():
            ManifestTable(batch_df.sparkSession, out_path).append(kept)

    return _write


def _additive_merge_sink(
    path: str,
    keys: list[str],
    tag: str,
    lineage_id: str,
    batch_state: Callable[[DataFrame], DataFrame],
    merge: list,
):
    """foreachBatch sink folding each micro-batch's ``batch_state`` into
    the manifest table at ``path``: the stored state is unioned with
    the batch's, re-aggregated by ``keys`` with the ``merge``
    aggregates, and upserted (the first batch is written as is).

    EXACTLY-ONCE under epoch replay: the last applied epoch and its
    lineage ride in the commit meta as ``{tag}_epoch``/``{tag}_run``,
    atomically with the state, so a re-delivered epoch of the same
    lineage is a no-op instead of double-counting (the failure mode
    additive state is otherwise famous for). ``lineage_id`` scopes the
    guard to one checkpoint lineage (pass the checkpoint dir): epoch
    ids restart at 0 when a NEW query (fresh checkpoint) feeds an
    existing table, and comparing epochs alone would silently skip
    every batch of the new query. The guard therefore skips only when
    BOTH the recorded lineage matches ours AND the recorded epoch is
    >= ours; a different lineage always applies and re-points the
    meta. Consequence: one table must be fed by one query at a time —
    concurrent writers of different lineages would ping-pong the
    pointer (document-level contract, as for any foreachBatch sink
    keyed on epoch)."""
    from ..sinks.manifest_store import ManifestTable

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        tbl = ManifestTable(batch_df.sparkSession, path)
        v = tbl.current_version()
        merged = batch_state(batch_df)
        if v > 0:
            meta = tbl._read_manifest(v)
            if (
                meta.get(f"{tag}_run", "default") == lineage_id
                and meta.get(f"{tag}_epoch", -1) >= epoch_id
            ):
                return  # replayed epoch of THIS lineage: already folded in
            merged = (
                tbl.read().unionByName(merged).groupBy(*keys).agg(*merge)
            )
        tbl.upsert(
            merged,
            keys=keys,
            extra_meta={f"{tag}_epoch": epoch_id, f"{tag}_run": lineage_id},
        )

    return _write


def foreach_batch_cms_merge(
    cells_path: str,
    key_col: str = "user_id",
    lineage_id: str = "default",
):
    """Streaming heavy-hitter state: each micro-batch folds its keys
    into a persistent count-min cell table by cell-wise ADDITION —
    the sketch's defining property (sketch(A ∪ B) = sketch(A) +
    sketch(B), exactly) means the drained stream's table is
    IDENTICAL to the batch-built sketch over the same rows, which the
    e2e unit pins cell by cell.

    This is the streaming face of operators/sketches.py: per-batch
    cost is one aggregate over the batch plus an upsert of ≤ 4×1024
    cell rows into the ACID table (snapshot-isolated for concurrent
    estimate readers). EXACTLY-ONCE under epoch replay through
    ``_additive_merge_sink``'s lineage-scoped epoch guard (meta keys
    ``cms_epoch``/``cms_run``; pass the checkpoint dir as
    ``lineage_id``). At 100 TB the same plan holds: the merge state is
    4096 rows no matter the key cardinality — THE reason to sketch
    instead of keeping exact per-key counts in a stateful operator.
    """
    from ..operators.sketches import cms_build

    return _additive_merge_sink(
        cells_path,
        ["row_i", "bucket"],
        "cms",
        lineage_id,
        lambda df: cms_build(df, key_col),
        [F.sum("cnt").alias("cnt")],
    )


def foreach_batch_hll_merge(
    regs_path: str,
    key_col: str = "user_id",
    lineage_id: str = "default",
):
    """Streaming distinct-count state: each micro-batch folds its keys
    into a persistent HyperLogLog register table by register-wise MAX
    — the HLL union property (sketch(A ∪ B) = max(sketch(A),
    sketch(B)), exactly) means the drained stream's registers are
    IDENTICAL to the batch-built sketch over the same rows, which the
    e2e unit pins register by register. The cardinality counterpart of
    foreach_batch_cms_merge, with the same exactly-once epoch guard
    (``_additive_merge_sink``, meta keys ``hll_*``) — and a stronger
    idempotence story: MAX-merge tolerates replays by algebra (a
    re-applied batch cannot raise any register), so the guard is only
    saving the no-op write. Per-batch state is ≤ |groups|·64 rows at
    any key cardinality.
    """
    from ..operators.sketches import hll_registers

    return _additive_merge_sink(
        regs_path,
        ["event_type", "bucket"],
        "hll",
        lineage_id,
        lambda df: hll_registers(df, key_col),
        [F.max("m_j").alias("m_j")],
    )


def foreach_batch_session_sweep(sessions_path: str, peaks_path: str):
    """Online capacity planning: closed sessions from the stateful
    sessionizer land in an ACID interval table, and the per-day
    peak-concurrency sweep re-materializes after every micro-batch —
    so `peaks_path` always answers "how many sessions were open at the
    busiest instant of each day" for everything closed so far, and
    CONVERGES to the batch sweep once the stream drains (the e2e in
    tests/test_stateful_streaming.py pins equality on the late-data
    fixture).

    Exactly-once: sessions upsert keyed (user_id, session_start) —
    an epoch replay re-delivers the same closed sessions and the merge
    is idempotent; the sweep is then a pure function of the table.
    Scale posture: the sweep input is the SESSION table (orders of
    magnitude smaller than events) and the sweep itself is the
    partition-parallel two-level prefix-sum — no global ordered state.
    For very long-running streams, bound the re-sweep to days touched
    by the batch (merge into peaks by day) — same plan, pruned input.
    """
    from ..operators.events import peak_concurrency_by_day
    from ..sinks.manifest_store import ManifestTable

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        stbl = ManifestTable(spark, sessions_path)
        stbl.upsert(batch_df, keys=["user_id", "session_start"])
        swept = peak_concurrency_by_day(
            stbl.read().select(
                "user_id",
                F.col("session_start").alias("s_start"),
                F.col("session_end").alias("s_end"),
            )
        )
        ManifestTable(spark, peaks_path).overwrite(swept)

    return _write


def stream_enrich_with_dim(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment: the event stream left-joined to a
    batch dimension table (user → nation here). Spark re-plans the
    static side per micro-batch, so a dimension refreshed by an
    upstream batch job is picked up on the next trigger without
    restarting the stream; the dimension is broadcast (explicitly —
    it is customer-projection-sized), so the stream side never
    shuffles. The streaming face of J1's broadcast dimension join:
    one enrichment definition across batch and streaming.
    """
    d = F.broadcast(dim)
    return events.join(d, "user_id", "left").select(
        "event_id", "user_id", "event_type", "ts", "nation_name"
    )


def stream_pii_redact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Streaming PII redaction: the identical per-row
    regexp_count/regexp_replace projection as the batch pass
    (operators/pii.pii_redact) applied to a document stream —
    stateless, so Structured Streaming runs it per micro-batch with no
    watermark and no state store, and the output is row-identical to
    the batch twin over the same files (unit-pinned). The ingestion
    shape every privacy-gated corpus needs: documents are scrubbed ON
    ARRIVAL, so raw PII never lands in the silver layer at all."""
    from ..operators.pii import pii_redact

    return pii_redact(docs, id_col, text_col)


def foreach_batch_psi_bins(
    bins_path: str,
    v_lo: float,
    v_hi: float,
    t_bound_2x_us: int,
    n_bins: int = 10,
    lineage_id: str = "default",
):
    """Online drift monitor: each micro-batch folds its value
    histogram into a persistent (bin, half) count table — additive
    state exactly like the CMS cells, so the drained stream's table
    is IDENTICAL to the batch binning over the same rows and the PSI
    computed from it equals operators/profiling.value_psi_drift's
    (the e2e pins this).

    The binning frame (v_lo, v_hi, t_bound_2x_us = reference t_lo +
    t_hi in microseconds, kept doubled so an odd sum never forces a
    fractional midpoint) is FIXED up front — the
    reference-period contract every production PSI monitor has: drift
    is measured against a frozen reference binning, never against
    bounds that move with the stream. State is 2·n_bins rows forever;
    per-batch cost is one aggregate plus an ACID upsert with
    ``_additive_merge_sink``'s lineage-scoped epoch replay guard (meta
    keys ``psi_*``).
    """

    def _bin_counts(df: DataFrame) -> DataFrame:
        width = (v_hi - v_lo) / float(n_bins)
        bin_ = F.least(
            F.floor((F.col("value") - F.lit(v_lo)) / F.lit(width)),
            F.lit(n_bins - 1).cast("long"),
        )
        half = F.when(
            F.unix_micros("ts") * 2 <= F.lit(t_bound_2x_us), 0
        ).otherwise(1)
        return df.groupBy(
            bin_.alias("bin"), half.alias("half")
        ).agg(F.count(F.lit(1)).alias("n"))

    return _additive_merge_sink(
        bins_path,
        ["bin", "half"],
        "psi",
        lineage_id,
        _bin_counts,
        [F.sum("n").alias("n")],
    )


def foreach_batch_weighted_reservoir(reservoir_path: str, topn: int = 50):
    """Online weighted reservoir sampling (Efraimidis–Spirakis A-ES),
    per source: each micro-batch attaches the deterministic
    content-hash ranking key u^(1/n_chars) to its documents, merges
    them with the persisted reservoir, and keeps the per-source
    top-``topn`` keys — the streaming face of
    operators/corpus.weighted_doc_sample. Because per-source top-k on
    a deterministic key is a semilattice merge (top(A ∪ B) =
    top(top(A) ∪ B)), the drained reservoir is IDENTICAL row-for-row
    to the batch sampler over the union of all batches — pinned by
    the e2e unit.

    EXACTLY-ONCE comes free, with no epoch bookkeeping: a replayed
    epoch re-offers documents whose (source, doc_id, key) already sit
    in — or already lost to — the reservoir, and the
    dropDuplicates + top-k merge is idempotent on exactly that
    input. (Contrast foreach_batch_cms_merge, whose ADDITIVE state
    needs the lineage-scoped epoch guard.)

    Scale posture: per-batch cost is one scan-bound key attach plus a
    window over (reservoir ∪ batch) — the reservoir side is bounded
    at sources × topn rows forever, which is the whole point of
    reservoir sampling at 100 TB: the sample never grows with the
    stream.
    """
    from ..operators.corpus import aes_keyed, aes_topn
    from ..sinks.manifest_store import ManifestTable

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        tbl = ManifestTable(spark, reservoir_path)
        keyed = aes_keyed(batch_df)
        if tbl.current_version() > 0:
            keyed = keyed.unionByName(
                tbl.read().select("source", "doc_id", "n_chars", "key")
            ).dropDuplicates(["source", "doc_id"])
        merged = aes_topn(keyed, topn).select(
            "source", "doc_id", "n_chars", "key",
            F.col("rnk").cast("long").alias("rnk"),
        )
        tbl.overwrite(merged)

    return _write


def foreach_batch_moments_merge(
    stats_path: str,
    lineage_id: str = "default",
):
    """Streaming one-way-ANOVA state: each micro-batch folds its
    per-type sufficient statistics (n, Σv, Σv²) into a persistent
    moments table by group-wise ADDITION — exact decimals, so
    moments(stream so far) is BIT-IDENTICAL to the batch moments over
    the same rows and `anova_from_moments` on the drained table
    equals the batch ANOVA (e2e-pinned). The third member of the
    additive-state family after the CMS cells and HLL registers: here
    the state is |event types| rows of three numbers — the entire
    k-group testing apparatus maintained online for pennies.

    EXACTLY-ONCE under epoch replay via ``_additive_merge_sink``'s
    lineage-scoped epoch guard (meta keys ``mom_*`` — additive state
    double-counts without it); one stats table per query lineage at a
    time.
    """
    from ..operators.events import event_moments

    return _additive_merge_sink(
        stats_path,
        ["event_type"],
        "mom",
        lineage_id,
        event_moments,
        [
            F.sum("n").cast("long").alias("n"),
            F.sum("s1").cast("decimal(28,2)").alias("s1"),
            F.sum("s2").cast("decimal(28,4)").alias("s2"),
        ],
    )


def stream_media_decode(media: DataFrame, real_decode: bool = False) -> DataFrame:
    """Streaming multimodal decode: the identical Arrow-batched
    mapInPandas codec stage as the batch pass
    (multimodal/decode.decode_media) applied to a media-row stream —
    stateless per micro-batch (no watermark, no state store), output
    row-identical to the batch twin over the same files (unit-pinned).
    The ingestion shape a multimodal corpus needs: payload bytes are
    decoded/fingerprinted ON ARRIVAL (n_bytes, sha256, features), so
    corrupt or duplicate media surfaces at the stream edge instead of
    inside a training epoch. ``real_decode=True`` routes through the
    real PPM/WAV/JPEG codecs, same as batch."""
    from ..multimodal.decode import decode_media

    return decode_media(media, real_decode=real_decode)
