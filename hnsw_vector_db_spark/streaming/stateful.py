"""Custom stateful streaming: gap-based sessionization with
``applyInPandasWithState``.

This is the Structured-Streaming replacement for the reference's only
stateful loop — the Raft apply loop that folds an ordered command stream
into index state (`distributed/raft/node.py:298-309`). Here the state is
per-user open sessions, keyed by user_id, with event-time timeouts:

- State is partitioned by the group key, so it scales horizontally with
  executors — no global lock (the reference serializes all state behind
  one RLock, `core/hnsw/graph.py:70`).
- The event-time timeout + watermark bound the state size: a session
  whose gap has passed the watermark is emitted and its state removed.
  Without that bound, long-running streams accumulate state forever.
- Arithmetic on epoch **microseconds** (int64) inside the worker — no
  tz-dependent pandas Timestamp math.

The batch twin is ``operators/events.py::sessionize`` (same gap rule,
SQL-oracle-checked); tests assert stream == batch on closed sessions.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from hnsw_vector_db_spark.session import ensure_package_shipped, install_zip_guard

OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, sum_value double"
)
# open-session state: epoch-micros bounds + running aggregates
STATE_SCHEMA = "start long, last long, n long, s double"


def _session_fn(gap_us: int):
    def fn(
        key: tuple[Any, ...], pdf_iter: Iterator[pd.DataFrame], state
    ) -> Iterator[pd.DataFrame]:
        install_zip_guard()
        user = key[0]
        closed: list[tuple] = []

        def emit(start: int, last: int, n: int, s: float) -> None:
            closed.append(
                (
                    user,
                    pd.Timestamp(start, unit="us"),
                    pd.Timestamp(last, unit="us"),
                    n,
                    float(s),
                )
            )

        if state.hasTimedOut:
            start, last, n, s = state.get
            emit(start, last, n, s)
            state.remove()
        else:
            if state.exists:
                start, last, n, s = state.get
            else:
                start = None
                last = n = 0
                s = 0.0
            events = pd.concat(list(pdf_iter), ignore_index=True)
            # micro-batches arrive unordered within the batch; sessionize
            # over event time
            events = events.sort_values("ts", kind="mergesort")
            ts_us = events["ts"].astype("int64") // 1000  # ns -> us
            for t, v in zip(ts_us.to_numpy(), events["value"].to_numpy()):
                t = int(t)
                if start is None:
                    start, last, n, s = t, t, 1, float(v)
                elif t - last > gap_us:
                    emit(start, last, n, s)
                    start, last, n, s = t, t, 1, float(v)
                else:
                    # a late-but-in-watermark event from a later micro-batch
                    # can precede the open session: widen the bounds instead
                    # of rewinding `last` (which would corrupt later gap
                    # decisions) — matches the batch twin's global sort
                    start, last = min(start, t), max(last, t)
                    n, s = n + 1, float(s + v)
            state.update((start, last, n, s))
            # close the open session once event time passes last + gap
            state.setTimeoutTimestamp((last + gap_us) // 1000)  # ms
        yield pd.DataFrame(
            closed,
            columns=["user_id", "session_start", "session_end", "n_events", "sum_value"],
        )

    return fn


def stream_sessionize(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Gap-based sessions over a stream: emits one row per CLOSED session
    (append-mode). A session closes when a same-user event arrives more
    than ``gap`` later, or when the watermark passes its last event +
    gap (event-time timeout)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ensure_package_shipped(events_stream.sparkSession)
    n, unit = gap.split()
    per = {"minute": 60, "minutes": 60, "second": 1, "seconds": 1, "hour": 3600, "hours": 3600}
    gap_us = int(n) * per[unit] * 1_000_000
    return (
        events_stream.select(key_col, ts_col, "value")
        .withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            _session_fn(gap_us),
            OUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


EMA_OUT_SCHEMA = "user_id long, event_id long, value double, ema double"
EMA_STATE_SCHEMA = "ema double"


def _ema_fn(alpha: float):
    beta = 1.0 - alpha

    def fn(
        key: tuple[Any, ...], pdf_iter: Iterator[pd.DataFrame], state
    ) -> Iterator[pd.DataFrame]:
        install_zip_guard()
        if state.hasTimedOut:  # pragma: no cover - no timeouts configured
            state.remove()
            yield pd.DataFrame(
                columns=["user_id", "event_id", "value", "ema"]
            )
            return
        events = pd.concat(list(pdf_iter), ignore_index=True)
        events = events.sort_values(["ts", "event_id"], kind="mergesort")
        prev = state.get[0] if state.exists else None
        # float64 regardless of the column's dtype — an int64 value
        # column would otherwise truncate alpha*x + beta*prev on
        # assignment, silently breaking the documented bit-equality
        # with the batch fold (operators/events.py::ema_smooth, which
        # carries the same guard)
        vals = events["value"].to_numpy(dtype="float64")
        out = vals.copy()
        for i in range(len(out)):
            # identical literal order to the batch fold
            # (operators/events.py::ema_smooth) -> bit-equal doubles
            out[i] = vals[i] if prev is None else alpha * vals[i] + beta * prev
            prev = out[i]
        if prev is not None:
            state.update((float(prev),))
        yield pd.DataFrame(
            {
                "user_id": events["user_id"].to_numpy(),
                "event_id": events["event_id"].to_numpy(),
                "value": vals,
                "ema": out,
            }
        )

    return fn


def stream_ema(
    events_stream: DataFrame,
    alpha: float = 0.3,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming per-key EMA: the online form of
    ``operators/events.py::ema_smooth`` — the running-feature fold a
    training ingest keeps per entity (user quality score, source
    reputation) without ever re-reading history.

    State is ONE double per key (the current EMA), updated per
    micro-batch; output is append-mode, one row per event carrying its
    smoothed value at fold time. Within a micro-batch rows fold in
    (ts, event_id) order; ACROSS micro-batches rows fold in arrival
    order — equal to the batch fold whenever the source delivers each
    key's events in event-time order across batches (the test feeds
    time-split files through maxFilesPerTrigger to pin stream == batch
    exactly, late-arrival divergence included in the docstring contract,
    not silently dropped: an out-of-order event still folds, at its
    arrival position). No timeout is set — state is 8 bytes/key; add an
    event-time timeout if the key domain is unbounded.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ensure_package_shipped(events_stream.sparkSession)
    return (
        events_stream.select(key_col, ts_col, "event_id", "value")
        .groupBy(key_col)
        .applyInPandasWithState(
            _ema_fn(alpha),
            EMA_OUT_SCHEMA,
            EMA_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
