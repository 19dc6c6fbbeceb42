"""Custom stateful streaming operators via applyInPandasWithState —
the escape hatch for semantics watermarked windows can't express
(SURVEY.md §2.9 mapping).

Every operator here is a per-key step kernel on one seam,
``_fold_by_key``: it projects the key and the kernel's columns, ships
the package once, and runs the one applyInPandasWithState call. Per key
and micro-batch the kernel sees the batch's rows in sorted order and
the stored state tuple (``None`` for a new key), and returns the new
state and the rows to emit. Time columns arrive as exact integer
``unix_seconds``/``unix_micros``; emitted timestamps are UTC instants,
so no operator depends on the session time zone.

Operators: the running session tracker (the online variant of
operators/events.py:sessionize — same session boundaries, incremental
state instead of a window over history), the velocity alert, the
online EWMA, the windowFunnel depth, the space-saving top-k, the
Markov transition counter and the alert suppressor.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..pyfiles import ensure_shipped

# idle time after which a timed-out key's ``on_timeout`` fires
_TIMEOUT_MS = 60 * 1000


def _key_fold(
    out_schema: str,
    step: Callable,
    on_timeout: Callable[[object, tuple], list] | None = None,
):
    """The per-key state function ``_fold_by_key`` hands to Spark.

    With ``on_timeout`` set, a key whose state timed out emits
    ``on_timeout(key, state)`` and its state is removed; every other
    call re-arms the timeout."""
    names = T.StructType.fromDDL(out_schema).names

    def fold(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (k,) = key
        if on_timeout is not None and state.hasTimedOut:
            out = on_timeout(k, state.get) if state.exists else []
            state.remove()
        else:
            rows = sorted(  # column 0 is the key
                row
                for chunk in pdfs
                for row in chunk.iloc[:, 1:].itertuples(index=False, name=None)
            )
            new, out = step(k, rows, state.get if state.exists else None)
            if new is not None:
                state.update(new)
            if on_timeout is not None:
                state.setTimeoutDuration(_TIMEOUT_MS)
        if out:
            yield pd.DataFrame(out, columns=names)

    return fold


def _fold_by_key(
    df: DataFrame,
    key: str,
    cols: Sequence,
    out_schema: str,
    state_schema: str,
    step: Callable,
    mode: str = "append",
    on_timeout: Callable[[object, tuple], list] | None = None,
) -> DataFrame:
    """Fold ``df`` per ``key`` through the step kernel ``step``.

    Each micro-batch calls ``step(k, rows, state)`` once per key: ``rows``
    are the batch's ``cols`` tuples in sorted order, ``state`` the stored
    tuple in ``state_schema`` (``None`` for a new key). It returns
    ``(new_state, out_rows)``; a ``None`` state leaves the store
    untouched, and ``out_rows`` are tuples in ``out_schema``'s column
    order. ``on_timeout`` switches on a processing-time timeout (see
    ``_key_fold``)."""
    timeout = (
        GroupStateTimeout.NoTimeout
        if on_timeout is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    ensure_shipped(df.sparkSession)  # the kernels must import on workers
    return df.select(key, *cols).groupBy(key).applyInPandasWithState(
        _key_fold(out_schema, step, on_timeout),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode=mode,
        timeoutConf=timeout,
    )


def _utc(t: int, unit: str) -> pd.Timestamp:
    return pd.Timestamp(t, unit=unit, tz="UTC")


SESSION_GAP_SEC = 30 * 60

OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
STATE_SCHEMA = "start long, last long, n long"


def _session_row(user_id, start: int, last: int, n: int) -> tuple:
    return user_id, _utc(start, "s"), _utc(last, "s"), n


def _session_step(user_id, rows: list, state: tuple | None):
    """Fold this micro-batch's event seconds of one user into session
    state (start, last event, count): an event more than
    SESSION_GAP_SEC after the previous one closes the open session and
    emits it, then starts a new one."""
    start, last, n = state or (None, None, 0)
    closed = []
    for (t,) in rows:
        if start is None:
            start, last, n = t, t, 1
        elif t - last > SESSION_GAP_SEC:
            closed.append(_session_row(user_id, start, last, n))
            start, last, n = t, t, 1
        else:
            last, n = t, n + 1
    return (start, last, n), closed


def _flush_session(user_id, state: tuple) -> list:
    """An idle user's timeout emits the open session once."""
    return [_session_row(user_id, *state)]


def sessionize_stream(events: DataFrame, flush_open_sessions: bool = False) -> DataFrame:
    """events stream → closed-session stream (append mode).

    flush_open_sessions=True adds a processing-time timeout that emits
    the final open session of an idle user — correct for continuous
    production triggers, but with trigger(availableNow) it spins
    endless timeout-check micro-batches after input is drained, so
    bounded runs keep the default False (open sessions simply stay
    open, exactly like the batch formulation's last session per user).
    """
    return _fold_by_key(
        events,
        "user_id",
        [F.unix_seconds("ts").alias("t")],
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        _session_step,
        on_timeout=_flush_session if flush_open_sessions else None,
    )


VELOCITY_N = 3
VELOCITY_WINDOW_SEC = 60

ALERT_SCHEMA = (
    "user_id long, alert_ts timestamp, n_in_window long, window_sec long"
)


def _velocity_step(user_id, rows: list, state: tuple | None):
    """Sliding-count state: keep each user's event times from the last
    VELOCITY_WINDOW_SEC; whenever the count reaches VELOCITY_N, emit
    ONE alert and reset (re-arm) — the rate-limit/fraud-velocity rule.
    State is bounded by the window (≤ N-1 timestamps survive a purge)."""
    recent = list(state[0]) if state else []
    alerts = []
    for (t,) in rows:
        recent = [x for x in recent if t - x < VELOCITY_WINDOW_SEC]
        recent.append(t)
        if len(recent) >= VELOCITY_N:
            alerts.append(
                (user_id, _utc(t, "s"), VELOCITY_N, VELOCITY_WINDOW_SEC)
            )
            recent = []  # re-arm: one alert per burst
    return (recent,), alerts


def velocity_alert_stream(events: DataFrame) -> DataFrame:
    """events stream → alert stream: one row each time a user fires
    VELOCITY_N events inside VELOCITY_WINDOW_SEC (then re-arms). The
    second stateful operator — unlike the sessionizer's gap rule, this
    one needs a sliding SET of timestamps as state, which no
    watermarked built-in window expresses."""
    return _fold_by_key(
        events,
        "user_id",
        [F.unix_seconds("ts").alias("t")],
        ALERT_SCHEMA,
        "recent array<long>",
        _velocity_step,
    )


EWMA_OUT_SCHEMA = "key string, seq long, x double, ewma double"
EWMA_STATE_SCHEMA = "last_seq long, e double"


def _ewma_step(k, rows: list, state: tuple | None):
    """Fold this micro-batch's (seq, x) points of one key into the
    running EWMA. Points sort by seq inside the batch; a point at or
    before the already-consumed frontier (cross-batch late/duplicate
    delivery) is DROPPED — the recursion is order-defined, so a late
    point cannot be retro-folded without replaying everything after
    it (that replay path is the batch operator)."""
    import numpy as np

    from ..operators.windows import EWMA_ALPHA

    have = state is not None
    last_seq, e = state or (-1, 0.0)
    out = []
    for s, x in rows:
        if have and s <= last_seq:
            continue  # stale redelivery: frontier already passed it
        if not have:
            e = float(np.floor(x * 1e4 + 0.5) / 1e4)
            have = True
        else:
            e = float(
                np.floor(
                    (EWMA_ALPHA * x + (1.0 - EWMA_ALPHA) * e) * 1e4 + 0.5
                )
                / 1e4
            )
        last_seq = s
        out.append((k, s, x, e))
    return ((last_seq, e) if have else None), out


def ewma_stream(points: DataFrame) -> DataFrame:
    """(key, seq, x) stream → (key, seq, x, ewma) stream: the ONLINE
    form of operators/windows.py:ewma_recursive_daily — identical
    floor-lattice step arithmetic, so a drained stream is
    BIT-IDENTICAL to the batch recursion over the same series (the
    e2e in tests/test_stateful_streaming.py pins this). State per key
    is two scalars (frontier seq + current ewma) — constant memory at
    any stream length; the third stateful operator, needing ORDERED
    per-key state no watermarked window expresses."""
    return _fold_by_key(
        points, "key", ["seq", "x"], EWMA_OUT_SCHEMA, EWMA_STATE_SCHEMA, _ewma_step
    )


FUNNEL_OUT_SCHEMA = "user_id long, depth integer"
FUNNEL_STATE_SCHEMA = (
    "last_ts long, last_eid long, last_view long, last_click long,"
    " depth integer"
)
_FUNNEL_WINDOW_US = 24 * 3600 * 1_000_000


def _funnel_step(uid, rows: list, state: tuple | None):
    """Fold this micro-batch's events of one user into the
    view→click→purchase chain state (last view ts, last QUALIFYING
    click ts, depth). Events sort by (ts, event_id) inside the batch;
    anything at or before the consumed frontier is dropped — the
    chain is order-defined, exactly like the EWMA recursion. The
    state transition mirrors operators/events.window_funnel_depth's
    running conditional maxima step for step, so a drained stream's
    depth histogram is identical to the batch answer (e2e-pinned)."""
    last_ts, last_eid, last_view, last_click, depth = state or (-1, -1, -1, -1, 0)
    for t, eid, et in rows:
        if (t, eid) <= (last_ts, last_eid):
            continue  # stale redelivery behind the frontier
        if et == "view":
            last_view = t
            if depth < 1:
                depth = 1
        elif et == "click":
            if (
                last_view >= 0
                and 0 < t - last_view <= _FUNNEL_WINDOW_US
            ):
                last_click = t
                if depth < 2:
                    depth = 2
        elif et == "purchase":
            if (
                last_click >= 0
                and 0 < t - last_click <= _FUNNEL_WINDOW_US
            ):
                if depth < 3:
                    depth = 3
        last_ts, last_eid = t, eid
    return (last_ts, last_eid, last_view, last_click, depth), [(uid, depth)]


def funnel_depth_stream(events: DataFrame) -> DataFrame:
    """Online windowFunnel: per micro-batch, each user's current chain
    depth — constant state per user (four timestamps + a depth), the
    streaming face of window_funnel_depth."""
    return _fold_by_key(
        events,
        "user_id",
        [F.unix_micros("ts").alias("tus"), "event_id", "event_type"],
        FUNNEL_OUT_SCHEMA,
        FUNNEL_STATE_SCHEMA,
        _funnel_step,
        mode="update",
    )


SPACE_SAVING_K = 20
SS_OUT_SCHEMA = (
    "grp string, item string, count_est long, err_bound long,"
    " n_seen long, version long"
)
SS_STATE_SCHEMA = "counters string, n long"


def space_saving_stream(
    rows: DataFrame, k: int = SPACE_SAVING_K
) -> DataFrame:
    """(grp, item, seq) stream → versioned top-k snapshots per group:
    the ONLINE heavy-hitter summary with HARD per-item error bounds —
    the deterministic-guarantee complement of the CMS sketch sink
    (foreach_batch_cms_merge gives fixed-size probabilistic counts;
    space-saving gives ≤k counters whose error is CERTIFIED per item
    by err_bound). State per group is the k-counter table + one total,
    constant at any stream length; the fourth stateful operator.
    Readers take each group's max-version snapshot; the guarantee
    (every item with true count > n/k survives; true count
    ∈ [count_est − err_bound, count_est]) holds under any arrival
    order and any micro-batch partitioning."""

    def step(g, batch: list, state: tuple | None):
        """Fold one group's micro-batch items (in seq order) into its
        ≤k space-saving counters (Metwally et al.): a hit increments, a
        miss with room opens a fresh counter, a miss at capacity
        overwrites the MINIMUM counter (err = its old count).
        Invariants — every item with true count > n/k is present, and
        for each counter true ≤ count_est and count_est − err_bound ≤
        true — hold for ANY arrival order, so cross-batch ordering
        needs no frontier state (unlike the EWMA recursion). Emits the
        full snapshot stamped with version = items folded so far."""
        import json

        if state:
            enc, n = state
            counters = {
                it: (int(c), int(e))
                for it, c, e in json.loads(enc)
            }
        else:
            counters, n = {}, 0
        for _, item in batch:
            it = str(item)
            n += 1
            if it in counters:
                c, e = counters[it]
                counters[it] = (c + 1, e)
            elif len(counters) < k:
                counters[it] = (1, 0)
            else:
                # deterministic eviction: smallest (count, item)
                victim = min(
                    counters, key=lambda x: (counters[x][0], x)
                )
                vc, _ = counters.pop(victim)
                counters[it] = (vc + 1, vc)
        enc = json.dumps(
            [[it, c, e] for it, (c, e) in sorted(counters.items())]
        )
        snap = sorted(counters.items(), key=lambda x: (-x[1][0], x[0]))
        return (enc, n), [(g, it, c, e, n, n) for it, (c, e) in snap]

    return _fold_by_key(
        rows, "grp", ["seq", "item"], SS_OUT_SCHEMA, SS_STATE_SCHEMA, step
    )


MARKOV_OUT_SCHEMA = "user_id long, counts string, version long"
MARKOV_STATE_SCHEMA = (
    "last_ts long, last_eid long, last_type string, counts string,"
    " version long"
)


def _markov_step(uid, rows: list, state: tuple | None):
    """Fold one user's micro-batch into the running first-order
    transition counts. Events sort by (ts, event_id) inside the batch;
    anything at or before the consumed frontier drops (stale
    redelivery). The per-event step -- count (last_type -> type), then
    advance -- mirrors operators/events.markov_transitions' lead()
    definition exactly, so the drained per-user counts summed across
    users equal the batch transition matrix (e2e-pinned). Counts
    serialize as sorted-key JSON (the space-saving state pattern)."""
    import json

    if state:
        last_ts, last_eid, last_type, blob, version = state
        counts = json.loads(blob)
    else:
        last_ts, last_eid, last_type, counts, version = -1, -1, None, {}, 0
    for t, eid, et in rows:
        if (t, eid) <= (last_ts, last_eid):
            continue  # behind the frontier
        if last_type is not None:
            k = f"{last_type} {et}"
            counts[k] = counts.get(k, 0) + 1
        last_type = et
        last_ts, last_eid = t, eid
    version += 1
    blob = json.dumps(counts, sort_keys=True)
    return (last_ts, last_eid, last_type, blob, version), [(uid, blob, version)]


def markov_stream(events: DataFrame) -> DataFrame:
    """Online first-order Markov transition counter: per micro-batch,
    each touched user's full transition-count snapshot -- constant
    state per user (frontier + last type + a bounded count map, at
    most |event types| squared keys). The streaming face of
    markov_transitions / markov_entropy_rate: drain, take each user's
    max-version row, and the summed counts are the batch transition
    matrix."""
    return _fold_by_key(
        events,
        "user_id",
        [F.unix_micros("ts").alias("tus"), "event_id", "event_type"],
        MARKOV_OUT_SCHEMA,
        MARKOV_STATE_SCHEMA,
        _markov_step,
        mode="update",
    )


SUPPRESS_COOLDOWN_SEC = 600
SUPPRESS_OUT_SCHEMA = (
    "alert_key string, ts timestamp, n_suppressed long, emitted boolean"
)
SUPPRESS_STATE_SCHEMA = "last_emit_us long, n_suppressed long"


def _suppression_step(akey, rows: list, state: tuple | None):
    """Fold one alert key's micro-batch: emit the first alert, swallow
    repeats inside the cooldown (counting them), re-arm after it.
    Alerts sort by timestamp inside the batch so the decision sequence
    is order-defined."""
    last_emit, n_sup = state or (-(10 ** 18), 0)
    out = []
    for (t,) in rows:
        if t - last_emit >= SUPPRESS_COOLDOWN_SEC * 1_000_000:
            out.append((akey, _utc(t, "us"), n_sup, True))
            last_emit, n_sup = t, 0
        else:
            n_sup += 1
    return (last_emit, n_sup), out


def alert_suppression_stream(alerts: DataFrame) -> DataFrame:
    """Alert-fatigue control: pass each key's FIRST alert, swallow
    repeats for a 10-minute cooldown, and stamp every emitted alert
    with how many were suppressed since the last one — the dedup stage
    every alerting pipeline needs between detection (velocity_alert_
    stream, the PSI monitor) and the pager. Constant state per key
    (one timestamp + one counter); emitted stream is append-mode.
    Input: any stream with (alert_key string, ts timestamp)."""
    return _fold_by_key(
        alerts,
        "alert_key",
        [F.unix_micros("ts").alias("tus")],
        SUPPRESS_OUT_SCHEMA,
        SUPPRESS_STATE_SCHEMA,
        _suppression_step,
    )
