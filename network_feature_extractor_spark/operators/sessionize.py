"""Sessionization, bursts, active/idle (SURVEY.md §2.4 W3/W4/W5).

Reference semantics:
- W5 flow expiry: a flow closes after ``timeout`` seconds of inactivity
  (per-protocol 60-300 s, ``config/config.yaml:33-54``; sweep at
  ``src/core/flow_tracker.py:642-669``). Batch analog: a *session* starts
  whenever the gap to the previous turn exceeds the timeout.
- W3 bursts: consecutive packets with IAT <= 0.1 s form a burst
  (``src/feature_extraction/timing_metrics.py:448-494``).
- W4 active/idle: gaps above ``activity_timeout`` (1.0 s,
  ``src/feature_extraction/timing_metrics.py:101``) are idle time; spans
  between them are active periods.

All three are the gaps-and-islands primitive (functions/islands.py) at
three thresholds. The snapshot's timing module (``timing_stats``) gets
bursts and active/idle from one shared window over the session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.islands import with_island_id, with_session_lags
from ..functions.stats import epoch_seconds, stddev_pop_moments, text_len_col

SESSION_GAP_S = 300.0  # TCP-timeout analog, config/config.yaml:36
BURST_GAP_S = 0.1  # timing_metrics.py:105
ACTIVITY_TIMEOUT_S = 1.0  # timing_metrics.py:101


def with_session_id(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    gap: float = SESSION_GAP_S,
    order_cols: list[str] | None = None,
    out: str = "session_id",
) -> DataFrame:
    return with_island_id(
        df,
        [key],
        ts_col,
        gap,
        out,
        order_cols=order_cols or [ts_col, "turn_idx"],
        gap_col="gap_prev",
    )


def burst_stats(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    threshold: float = BURST_GAP_S,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Per key: burst_count, mean/std/max/min burst duration (seconds).

    A burst = maximal run of rows whose gap to the previous row is
    <= threshold; single-row islands are bursts of duration 0.

    Deliberate deviation from the reference: ``_detect_bursts``
    (``src/feature_extraction/timing_metrics.py:448-494``) seeds every
    run with IAT index 0 regardless of its value, requires >= 2 IATs per
    burst, and measures duration between IAT *indices* (dropping the
    run's final packet) — index-arithmetic quirks of the scaffold code,
    not plausible intent. We implement the standard gaps-and-islands
    semantics (documented here so parity checks know to compare against
    the islands oracle in tests/test_sessionize.py, not the quirk).
    """
    d = with_island_id(
        df, key_cols, ts_col, threshold, "_burst_id", order_cols=order_cols
    )
    per_burst = d.groupBy(*key_cols, "_burst_id").agg(
        (F.max(epoch_seconds(ts_col)) - F.min(epoch_seconds(ts_col))).alias("burst_dur")
    )
    return per_burst.groupBy(*key_cols).agg(
        F.count("*").alias("burst_count"),
        F.avg("burst_dur").alias("burst_dur_mean"),
        stddev_pop_moments(F.col("burst_dur")).alias("burst_dur_std"),
        F.max("burst_dur").alias("burst_dur_max"),
        F.min("burst_dur").alias("burst_dur_min"),
    )


def timing_stats(
    df: DataFrame,
    key_cols: list[str],
    burst_gap: float = BURST_GAP_S,
    activity_timeout: float = ACTIVITY_TIMEOUT_S,
) -> DataFrame:
    """Per key, from one (ts, turn_idx)-ordered window plus one burst-id cumsum:

    - W3 bursts: burst_count and mean/std/max/min burst duration, as in
      ``burst_stats`` at ``burst_gap``;
    - W4 active/idle, the FlowStats fields
      ``src/core/flow_tracker.py:236-240``: a gap above
      ``activity_timeout`` is an idle period, so idle_periods = number of
      such gaps, total_idle_time = their sum, active_periods =
      idle_periods + 1 and total_active_time = duration - total_idle_time
      (the activity islands' spans partition the session's duration);
    - subflows: a subflow IS an activity island (CICFlowMeter convention;
      the reference *names* ``subflow_analysis`` in config,
      ``config/config.yaml:25-26``, but never ships the module), so
      subflow_count = active_periods and the per-subflow turn and
      character means are the key's totals over active_periods.

    Active/idle is algebra over the gaps, so it needs no island pass of
    its own: two windows (lags, burst cumsum), two aggregations, no join.
    """
    w = Window.partitionBy(*key_cols).orderBy("ts", "turn_idx")
    d = with_session_lags(df, key_cols)
    d = d.select(
        "*",
        F.sum((F.col("_gap") > burst_gap).cast("int"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_burst"),
    )
    tsd = epoch_seconds("ts")
    idle = F.col("_gap") > activity_timeout
    per_burst = d.groupBy(*key_cols, "_burst").agg(
        F.min(tsd).alias("_t0"),
        F.max(tsd).alias("_t1"),
        F.count("*").alias("_n"),
        F.sum(text_len_col(df)).alias("_chars"),
        F.sum(idle.cast("long")).alias("_idles"),
        F.sum(F.when(idle, F.col("_gap")).otherwise(0.0)).alias("_idle_s"),
    )
    dur = F.col("_t1") - F.col("_t0")
    g = per_burst.groupBy(*key_cols).agg(
        F.count("*").alias("burst_count"),
        F.avg(dur).alias("burst_dur_mean"),
        stddev_pop_moments(dur).alias("burst_dur_std"),
        F.max(dur).alias("burst_dur_max"),
        F.min(dur).alias("burst_dur_min"),
        (F.max("_t1") - F.min("_t0")).alias("_duration"),
        F.sum("_idles").alias("idle_periods"),
        F.sum("_idle_s").alias("total_idle_time"),
        F.sum("_n").alias("_n"),
        F.sum("_chars").alias("_chars"),
    )
    active = F.col("idle_periods") + 1
    return g.select(
        *key_cols,
        "burst_count", "burst_dur_mean", "burst_dur_std", "burst_dur_max", "burst_dur_min",
        active.alias("active_periods"),
        (F.col("_duration") - F.col("total_idle_time")).alias("total_active_time"),
        "idle_periods",
        "total_idle_time",
        active.alias("subflow_count"),
        (F.col("_n") / active).alias("subflow_turns_mean"),
        (F.col("_chars") / active).alias("subflow_chars_mean"),
    )
