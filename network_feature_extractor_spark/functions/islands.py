"""Gaps-and-islands: the shared primitive behind sessionization (W5),
burst detection (W3) and active/idle accounting (W4) — SURVEY.md §2.4.

The reference implements each of these as imperative per-flow state
(``src/core/flow_tracker.py:642-669``, timing extractor burst loop
``src/feature_extraction/timing_metrics.py:448-494``). In Spark all three
are the same declarative pattern: a lag-gap flag summed over an ordered
per-key window, which Catalyst executes as one WindowExec over sorted,
hash-partitioned data — one shuffle, reused by every consumer of the
same (partition, order) spec.

``with_session_lags`` is the per-session form the snapshot modules share:
one window adds the gap, a first-row flag and the lagged roles, and each
module derives its islands from those columns instead of re-windowing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .stats import epoch_seconds


def with_island_id(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    gap_threshold: float,
    out_col: str,
    order_cols: list[str] | None = None,
    gap_col: str | None = None,
) -> DataFrame:
    """Add ``out_col`` = 0-based island id per key, splitting whenever the
    gap to the previous row exceeds ``gap_threshold`` seconds.

    ``order_cols`` defaults to ``[ts_col]`` + nothing; pass a tie-break
    (e.g. ``turn_idx``) for deterministic islands on duplicate timestamps.
    If ``gap_col`` is given, the computed gap (seconds, 0.0 for the first
    row of each key) is also kept under that name.
    """
    order = order_cols or [ts_col]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    gap = epoch_seconds(ts_col) - F.lag(epoch_seconds(ts_col)).over(w)
    flag: Column = F.when(gap > F.lit(gap_threshold), 1).otherwise(0)
    df = df.withColumn(
        out_col,
        F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    if gap_col is not None:
        df = df.withColumn(gap_col, F.coalesce(gap, F.lit(0.0)))
    return df


def with_session_lags(
    df: DataFrame, key_cols: list[str], role_col: str = "role"
) -> DataFrame:
    """Add, in ONE select over the ``key_cols`` window ordered by
    (ts, turn_idx):

    - ``_gap``: seconds since the previous row of the key, 0.0 on the first;
    - ``_first``: true on the key's first row;
    - ``_prev_role`` / ``_prev2_role``: the roles one and two rows back.

    Every same-spec expression lands in one WindowExec; Catalyst prunes
    the ones a consumer does not read.
    """
    w = Window.partitionBy(*key_cols).orderBy("ts", "turn_idx")
    tsd = epoch_seconds("ts")
    return df.select(
        "*",
        F.coalesce(tsd - F.lag(tsd).over(w), F.lit(0.0)).alias("_gap"),
        (F.row_number().over(w) == 1).alias("_first"),
        F.lag(role_col).over(w).alias("_prev_role"),
        F.lag(role_col, 2).over(w).alias("_prev2_role"),
    )
