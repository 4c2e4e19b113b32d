"""Streaming point-in-time as-of attach (SURVEY.md §2.5 J1, streamed).

The batch engine attaches the latest *strictly earlier* snapshot to each
turn with a union + running-last window (operators/asof.py). The
streaming twin keeps that running "latest snapshot" as keyed state in
``applyInPandasWithState`` — the same shape as the reference's live
per-flow state reads (``src/core/flow_tracker.py:1515-1536``: every
update sees state built strictly from prior packets).

Input: ONE tagged stream per the batch union trick —

    conv_id, kind (0 = turn, 1 = snapshot), ts,
    turn_idx (turn rows), snap_value (snapshot rows)

Per micro-batch and key the rows are ordered by (ts, kind, snap_value),
nulls first — turns sort before snapshots at equal ts, so the strict
no-leak tie-break is positional, exactly like the batch plan — then the
POSITION of the latest snapshot row is forward-filled (vectorized, no
per-row Python) with the carried snapshot as the seed, and each turn
takes that row's timestamp and value together: a null-valued snapshot
attaches null, as in the batch plan's whole-row attach. Snapshot state
then advances to the batch's latest snapshot.

Ordering caveat for the UNBUFFERED attach (inherent to streaming as-of):
rows are ordered within a micro-batch and state carries across batches
in processing order, so a snapshot arriving in a *later* batch than a
turn with a later event time will not be attached retroactively. Feed
the stream in per-key event-time order (e.g. time-ranged files, ordered
topics) for exact batch parity — property-tested in
tests/test_streaming.py on a drained availableNow stream.

``streaming_asof_attach_buffered`` narrows that caveat to
*beyond-watermark* lateness: each key holds a bounded event-time
reorder buffer and only emits turns older than (key's max event time −
``delay_s``), so any row arriving within ``delay_s`` of event-time
disorder — snapshots landing a micro-batch late included — is attached
exactly as the batch plan would. Rows later than the watermark get the
unbuffered best-effort semantics. Buffered rows flush via a
processing-time timer after the stream goes quiet for a key.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

TAGGED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("kind", T.IntegerType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("turn_idx", T.LongType(), True),
        T.StructField("snap_value", T.DoubleType(), True),
    ]
)

ASOF_OUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.LongType(), False),
        T.StructField("snap_value", T.DoubleType(), True),
        T.StructField("asof_ts", T.DoubleType(), True),
        # the turn's own event time (micros/1e6) — lets TTL/staleness
        # gates run as stateless projections downstream of the attach
        T.StructField("turn_ets", T.DoubleType(), False),
    ]
)

ASOF_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts", T.DoubleType(), True),
        T.StructField("last_val", T.DoubleType(), True),
    ]
)


def _epoch(s: pd.Series) -> pd.Series:
    # micros/1e6 — bit-identical to the engine's cast(timestamp as double)
    return s.astype("datetime64[us]").astype("int64") / 1e6


def _attach(
    key: Tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    last_ts, last_val = state.get if state.exists else (None, None)

    frames = [pdf for pdf in pdfs if len(pdf)]
    if not frames:
        return
    pdf = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
    pdf = pdf.assign(_ets=_epoch(pdf["ts"]))
    # sort/seed/ffill/carry shared with the buffered variant so the strict
    # tie-break can never desynchronize between the two paths
    out, new_ts, new_val = _asof_emit(conv_id, pdf, last_ts, last_val)
    if new_ts is not None and (new_ts, new_val) != (last_ts, last_val):
        state.update((new_ts, new_val))
    yield out


def streaming_asof_attach(tagged_stream: DataFrame) -> DataFrame:
    """Attach the latest strictly-preceding snapshot value to each turn
    of a tagged (turns ∪ snapshots) stream; see module docstring."""
    return tagged_stream.groupBy("conv_id").applyInPandasWithState(
        _attach,
        outputStructType=ASOF_OUT_SCHEMA,
        stateStructType=ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


BUFFERED_STATE_SCHEMA = T.StructType(
    [
        T.StructField("max_ets", T.DoubleType(), True),  # per-key event-time clock
        T.StructField("last_ts", T.DoubleType(), True),  # snapshot carry <= watermark
        T.StructField("last_val", T.DoubleType(), True),
        T.StructField("buf_ets", T.ArrayType(T.DoubleType()), True),
        T.StructField("buf_kind", T.ArrayType(T.IntegerType()), True),
        T.StructField("buf_turn_idx", T.ArrayType(T.LongType()), True),
        T.StructField("buf_snap", T.ArrayType(T.DoubleType()), True),
    ]
)

_EMPTY_BUF = ([], [], [], [])


def _asof_emit(
    conv_id: str,
    ready: pd.DataFrame,
    last_ts: float | None,
    last_val: float | None,
) -> tuple[pd.DataFrame, float | None, float | None]:
    """Sort + seed + ffill over the ready rows; return (emitted turns,
    new snapshot carry). Same strict tie-break as the unbuffered path.

    The carry is the latest snapshot row before ``ready``: ``last_ts`` set
    means it exists, whatever ``last_val`` holds (null included)."""
    ready = ready.sort_values(
        ["_ets", "kind", "snap_value"], kind="mergesort", na_position="first"
    )
    is_snap = (ready["kind"] == 1).to_numpy()
    # index of the latest snapshot row at or before each row; -1 picks
    # the carry appended after the batch's rows
    pos = np.maximum.accumulate(np.where(is_snap, np.arange(len(ready)), -1))
    ets = np.append(ready["_ets"].to_numpy(dtype=float), np.nan if last_ts is None else last_ts)
    val = np.append(
        ready["snap_value"].to_numpy(dtype=float), np.nan if last_val is None else last_val
    )
    is_turn = ~is_snap
    out = pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": ready["turn_idx"].to_numpy()[is_turn],
            "snap_value": val[pos][is_turn],
            "asof_ts": ets[pos][is_turn],
            "turn_ets": ready["_ets"].to_numpy()[is_turn],
        }
    )
    if is_snap.any():
        last_ts = float(ets[pos[-1]])
        last_val = None if np.isnan(val[pos[-1]]) else float(val[pos[-1]])
    return out, last_ts, last_val


def _make_buffered_attach(delay_s: float, flush_after_ms: int):
    def _attach_buffered(
        key: Tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.exists:
            max_ets, last_ts, last_val, b_ets, b_kind, b_idx, b_snap = state.get
        else:
            max_ets, last_ts, last_val = None, None, None
            b_ets, b_kind, b_idx, b_snap = _EMPTY_BUF

        buf = pd.DataFrame(
            {
                "_ets": pd.Series(b_ets or [], dtype="float64"),
                "kind": pd.Series(b_kind or [], dtype="int32"),
                "turn_idx": pd.Series(b_idx or [], dtype="float64"),
                "snap_value": pd.Series(b_snap or [], dtype="float64"),
            }
        )

        if state.hasTimedOut:
            # quiet key: flush every buffered row (stream-end analog of
            # the batch plan's final emit). Timer left unarmed until the
            # key sees data again.
            if len(buf):
                out, last_ts, last_val = _asof_emit(conv_id, buf, last_ts, last_val)
                state.update((max_ets, last_ts, last_val, *_EMPTY_BUF))
                yield out
            return

        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            new = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
            new = pd.DataFrame(
                {
                    "_ets": _epoch(new["ts"]),
                    "kind": new["kind"].astype("int32"),
                    "turn_idx": new["turn_idx"].astype("float64"),
                    "snap_value": new["snap_value"].astype("float64"),
                }
            )
            rows = pd.concat([buf, new], ignore_index=True) if len(buf) else new
            batch_max = float(new["_ets"].max())
            max_ets = batch_max if max_ets is None else max(max_ets, batch_max)
        else:
            rows = buf

        wm = (max_ets - delay_s) if max_ets is not None else None
        ready = rows[rows["_ets"] <= wm] if wm is not None else rows.iloc[0:0]
        pending = rows[rows["_ets"] > wm] if wm is not None else rows

        if len(ready):
            out, last_ts, last_val = _asof_emit(conv_id, ready, last_ts, last_val)
        else:
            out = None
        state.update(
            (
                max_ets,
                last_ts,
                last_val,
                pending["_ets"].tolist(),
                pending["kind"].tolist(),
                [None if pd.isna(v) else int(v) for v in pending["turn_idx"]],
                [None if pd.isna(v) else float(v) for v in pending["snap_value"]],
            )
        )
        state.setTimeoutDuration(flush_after_ms)
        if out is not None and len(out):
            yield out

    return _attach_buffered


def streaming_asof_attach_buffered(
    tagged_stream: DataFrame, delay_s: float = 60.0, flush_after_ms: int = 10_000
) -> DataFrame:
    """As-of attach with a bounded per-key event-time reorder buffer.

    Turns are emitted only once the key's event-time clock (max event
    time seen) has advanced ``delay_s`` past them, so any disorder
    within ``delay_s`` — including a snapshot arriving one micro-batch
    AFTER a later-event-time turn — resolves to exact batch-as-of
    semantics. After ``flush_after_ms`` of processing-time quiet the
    remaining buffer flushes. State per key is O(rows within
    ``delay_s``), bounded at any corpus scale by the per-conversation
    turn rate, not the stream length.

    Sizing contract (r3 ADVICE): the quiet-timer flush emits EVERY
    buffered row, including rows still within ``delay_s`` of the key's
    event-time clock — on a continuous low-rate stream whose per-key
    inter-arrival gaps exceed ``flush_after_ms``, the flush fires
    mid-stream and later within-delay out-of-order arrivals get
    best-effort (latest-known-snapshot) semantics instead of the exact
    guarantee. Set ``flush_after_ms`` comfortably ABOVE the expected
    per-key inter-arrival gap (it is an end-of-stream detector, not a
    latency bound); keys whose gaps legitimately exceed any usable
    timeout should use the plain watermark variant
    (``streaming_asof_attach``) whose lateness contract is event-time
    only.
    """
    return tagged_stream.groupBy("conv_id").applyInPandasWithState(
        _make_buffered_attach(delay_s, flush_after_ms),
        outputStructType=ASOF_OUT_SCHEMA,
        stateStructType=BUFFERED_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def tag_for_asof(turns: DataFrame, snaps: DataFrame, value_col: str) -> DataFrame:
    """Batch/stream-agnostic helper: union turns and snapshots into the
    tagged shape ``streaming_asof_attach`` consumes."""
    from pyspark.sql import functions as F

    t = turns.select(
        F.col("conv_id").cast("string").alias("conv_id"),
        F.lit(0).alias("kind"),
        F.col("ts"),
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.lit(None).cast("double").alias("snap_value"),
    )
    s = snaps.select(
        F.col("conv_id").cast("string").alias("conv_id"),
        F.lit(1).alias("kind"),
        F.col("snap_ts").alias("ts"),
        F.lit(None).cast("long").alias("turn_idx"),
        F.col(value_col).cast("double").alias("snap_value"),
    )
    return t.unionByName(s)


def streaming_tolerance_gate(
    attached: DataFrame,
    tolerance_s: float,
    value_cols: tuple[str, ...] = ("snap_value",),
    flag_col: str = "asof_stale",
) -> DataFrame:
    """Max-staleness (TTL) gate over a streaming as-of attach — the
    streaming twin of ``operators/asof.py:tolerance_gate`` (reference
    analog: the flow tracker's activity-timeout expiry,
    ``src/core/flow_tracker.py:642-648``): a snapshot older than
    ``tolerance_s`` at the turn's event time is expired, its value and
    ``asof_ts`` nulled, ``flag_col`` raised.

    STATELESS by construction — both attach variants emit the turn's
    own event time (``turn_ets``, micros/1e6) next to the matched
    snapshot's ``asof_ts``, so the gate is a plain projection that
    composes with either ``streaming_asof_attach`` or
    ``streaming_asof_attach_buffered`` (and with a batch frame of the
    same shape), adds no streaming state, and keeps batch parity for
    free: the staleness compare is the identical exact-rounded IEEE
    subtraction the batch gate runs.
    """
    from pyspark.sql import functions as F

    if tolerance_s < 0:
        raise ValueError(f"tolerance_s must be >= 0, got {tolerance_s}")
    stale = F.col("asof_ts").isNotNull() & (
        (F.col("turn_ets") - F.col("asof_ts")) > F.lit(float(tolerance_s))
    )
    keep = [c for c in attached.columns if c not in value_cols and c != "asof_ts"]
    return attached.select(
        *keep,
        *[F.when(stale, F.lit(None)).otherwise(F.col(c)).alias(c) for c in value_cols],
        F.when(stale, F.lit(None)).otherwise(F.col("asof_ts")).alias("asof_ts"),
        stale.alias(flag_col),
    )
