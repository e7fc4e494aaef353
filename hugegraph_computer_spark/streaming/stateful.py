"""Streaming gap sessionization — ``applyInPandasWithState``.

A declarative ``session_window`` aggregation cannot carry a per-entity
SESSION ORDINAL (the batch ``operators.events.sessionize`` contract
includes ``session_id`` = the user's 0-based session index), because a
windowed aggregation has no cross-window per-key state. That running
ordinal is a genuine custom state machine, so this module is the
engine's ``applyInPandasWithState`` exemplar: per-user state holds the
not-yet-finalizable event buffer plus the closed-session count, and the
event-time watermark drives both finalization and state eviction.

Semantics (exact batch parity, asserted in tests): identical gap rule,
identical output schema ``(user_id, session_id, n_events, start_us,
end_us, value_sum)`` with integer epoch-microsecond bounds, ordinals
assigned in chronological close order — a session is emitted exactly
once, when the watermark guarantees no further event can join it
(last event + gap < watermark). State per key is bounded by the
watermark horizon (only events younger than watermark-gap can still be
open), the bounded-state contract a 100 TB/day feed needs.

Reference scope note: the reference engine is batch-BSP only
(SURVEY.md §2.9); this is engine surface for the streaming
training-data-pipeline case.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

US_PER_MIN = 60_000_000

EVENT_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

OUTPUT_DDL = (
    "user_id long, session_id long, n_events long, "
    "start_us long, end_us long, value_sum double"
)
STATE_DDL = (
    "ts_us array<long>, vals array<double>, closed long, horizon long"
)


def _split_sessions(
    ts: list[int], vals: list[float], gap_us: int
) -> list[tuple[int, int, list[float]]]:
    """Partition the (sorted) buffer into gap sessions:
    [(start_us, end_us, values)] in chronological order."""
    out: list[tuple[int, int, list[float]]] = []
    start = prev = ts[0]
    acc = [vals[0]]
    for t, v in zip(ts[1:], vals[1:]):
        if t - prev > gap_us:
            out.append((start, prev, acc))
            start, acc = t, []
        acc.append(v)
        prev = t
    out.append((start, prev, acc))
    return out


def make_sessionizer(gap_minutes: int):
    """Build the per-group state function (module-level factory so the
    closure only captures the gap — everything shipped to workers is a
    plain int)."""
    gap_us = gap_minutes * US_PER_MIN

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ts_buf, val_buf, closed, horizon = state.get
            ts_buf, val_buf = list(ts_buf), list(val_buf)
        else:
            ts_buf, val_buf, closed, horizon = [], [], 0, -(1 << 62)

        wm_us = state.getCurrentWatermarkMs() * 1000
        for pdf in pdfs:
            ts = pdf["ts"].astype("datetime64[us]").astype("int64")
            for t, v in zip(ts.tolist(), pdf["value"].tolist()):
                # drop only events that belong to an ALREADY-EMITTED
                # session (t within gap of the last closed session's
                # end): append mode cannot amend an emitted row. Events
                # merely older than the watermark are fine — the file
                # source delivers part-files in any order, and buffered
                # sessions absorb them exactly like the batch operator.
                if t > horizon:
                    ts_buf.append(int(t))
                    val_buf.append(float(v))

        if not ts_buf:
            state.remove()
            return

        order = sorted(range(len(ts_buf)), key=ts_buf.__getitem__)
        ts_buf = [ts_buf[i] for i in order]
        val_buf = [val_buf[i] for i in order]

        sessions = _split_sessions(ts_buf, val_buf, gap_us)
        rows: list[dict[str, Any]] = []
        keep = 0
        for start_us, end_us, vals in sessions:
            # strict <: an on-time event at exactly end+gap would still
            # merge into this session under the batch gap rule
            if end_us + gap_us < wm_us:
                rows.append(
                    {
                        "user_id": key[0],
                        "session_id": closed,
                        "n_events": len(vals),
                        "start_us": start_us,
                        "end_us": end_us,
                        "value_sum": round(sum(vals), 6),
                    }
                )
                closed += 1
                keep += len(vals)
                horizon = end_us + gap_us
            else:
                break  # sessions are chronological; later ones stay open

        ts_buf, val_buf = ts_buf[keep:], val_buf[keep:]
        if ts_buf:
            state.update((ts_buf, val_buf, closed, horizon))
            # wake when the earliest still-open session becomes
            # finalizable (its last event + gap clears the watermark)
            first_open_end = sessions[len(rows)][1]
            close_ms = (first_open_end + gap_us) // 1000 + 1
            state.setTimeoutTimestamp(max(close_ms, wm_us // 1000 + 1))
        elif closed:
            # nothing buffered: keep the ordinal + emitted horizon; no
            # timeout needed (a future event for this key re-reads them)
            state.update(([], [], closed, horizon))
        else:
            state.remove()

        if rows:
            yield pd.DataFrame(rows)

    return fn


def stateful_sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark_minutes: int = 60,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Watermarked gap-sessionization with per-user session ordinals via
    ``applyInPandasWithState`` (EventTimeTimeout)."""
    ev = events.select(
        events[user_col].alias("user_id"),
        events[ts_col].alias("ts"),
        events[value_col].alias("value"),
    ).withWatermark("ts", f"{watermark_minutes} minutes")
    return ev.groupBy("user_id").applyInPandasWithState(
        make_sessionizer(gap_minutes),
        outputStructType=OUTPUT_DDL,
        stateStructType=STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def run_stateful_sessionize(
    spark: SparkSession,
    events_path: str,
    checkpoint: str,
    query_name: str = "stateful_sessions",
    gap_minutes: int = 30,
    watermark_minutes: int = 60,
    max_files_per_trigger: int | None = None,
):
    """availableNow query writing finalized (closed) sessions to an
    in-memory sink; the trailing no-data micro-batch fires the
    event-time timeouts that close sessions behind the final watermark.
    ``max_files_per_trigger=1`` forces one micro-batch per input file —
    the cross-batch state/watermark path the tests exercise."""
    reader = spark.readStream.schema(EVENT_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(events_path)
    sessions = stateful_sessionize(
        src, gap_minutes=gap_minutes, watermark_minutes=watermark_minutes
    )
    return (
        sessions.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
