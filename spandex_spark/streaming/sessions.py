"""Streaming sessionization — the stream twin of
`operators/timeseries.py::sessionize` (gap-split sessions), emitting a
session row when the session CLOSES (no later event can extend it).

Two strategies, a native state-store path and a custom-state path:

* ``'builtin'`` — Spark's native ``session_window`` aggregation: pure
  JVM state store, vectorized, merges out-of-order events within the
  watermark correctly. The 100 TB default.
* ``'custom'`` — applyInPandasWithState with EventTimeTimeout: the
  extension point for semantics session_window can't express (dynamic
  per-event gaps, carrying first/last payload columns, side outputs).
  Costs one Python dispatch per key per batch. Cross-batch sessions
  are stitched through the state tuple; the final open session closes
  via event-time timeout when the watermark passes last_event + gap.
  Out-of-order events are sorted within a batch; an event older than
  the open session extends it backwards only if it lands within the
  gap of the session start (otherwise it forms its own immediately-
  closed session) — the documented simplification vs session_window's
  full window merging.

Append mode both ways; a watermark is applied here (``watermark_delay``)
because both paths require one to finalize windows.

Output: (key, session_start, session_end, n_events).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def sessionize_stream(events: DataFrame, *, ts_col: str = "ts",
                      by: str = "user_id", gap_seconds: float = 1800.0,
                      strategy: str = "builtin",
                      watermark_delay: str = "1 hour") -> DataFrame:
    """Gap-based streaming sessions per key (module docstring)."""
    ev = events.withWatermark(ts_col, watermark_delay)
    if strategy == "builtin":
        win = F.session_window(F.col(ts_col), f"{gap_seconds} seconds")
        return (ev.groupBy(F.col(by), win)
                .agg(F.count("*").alias("n_events"))
                .select(F.col(by),
                        F.col("session_window.start").alias("session_start"),
                        F.col("session_window.end").alias("session_end"),
                        "n_events"))
    if strategy != "custom":
        raise ValueError(f"unknown strategy {strategy!r} (builtin | custom)")

    gap_us = int(round(gap_seconds * 1_000_000))
    key_type = events.schema[by].dataType
    out_schema = T.StructType([
        T.StructField(by, key_type),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ])

    def _row(key, start_us, last_us, n):
        return pd.DataFrame({
            by: [key[0]],
            "session_start": [pd.Timestamp(start_us, unit="us")],
            "session_end": [pd.Timestamp(last_us, unit="us")],
            "n_events": [n]})

    def fn(key, batches: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            return iter([_row(key, start_us, last_us, n)])
        ts = []
        for pdf in batches:
            ts.append(pdf[ts_col])
        ts = pd.concat(ts).sort_values()
        us = ts.astype("int64") // 1000    # ns -> us
        open_s = state.get if state.exists else None
        out = []
        for v in us:
            v = int(v)
            if open_s is None:
                open_s = (v, v, 1)
            elif v >= open_s[0] - gap_us and v <= open_s[1] + gap_us:
                open_s = (min(open_s[0], v), max(open_s[1], v),
                          open_s[2] + 1)
            elif v > open_s[1] + gap_us:
                out.append(_row(key, *open_s))
                open_s = (v, v, 1)
            else:
                # older than start - gap: its own immediately-closed
                # session (documented simplification)
                out.append(_row(key, v, v, 1))
        deadline_ms = open_s[1] // 1000 + gap_us // 1000
        wm = state.getCurrentWatermarkMs()
        if wm >= deadline_ms:
            out.append(_row(key, *open_s))
            if state.exists:
                state.remove()
        else:
            state.update(open_s)
            state.setTimeoutTimestamp(deadline_ms)
        return iter(out) if out else iter(())

    return (ev.groupBy(by)
            .applyInPandasWithState(
                fn, outputStructType=out_schema,
                stateStructType=state_schema, outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))
