"""Feature-module registry — the reference's plugin system, Spark-shaped.

The reference registers extractor plugins in a singleton and gates them
with config flags (``src/feature_extraction/base.py:90-483``,
``config/config.yaml:14-30``). Here a *feature module* is a pure
function ``(session_turns_df, cfg) -> DataFrame`` returning one row per
(conv_id, session_id); the registry assembles the enabled modules into
the snapshot table with left joins on the session key. Disabled modules
never enter the logical plan (cheaper than runtime gating — Catalyst
never sees their expressions).

The core aggregation and the timing and transition modules each start
from the same step, ``functions/islands.py:with_session_lags`` (one
window over the session ordered by ts, turn_idx: gap, first-row flag,
previous two roles), and derive bursts, active/idle, bigrams and
patterns from its columns by aggregation alone. Over the bucketed
per-turn table the all-modules snapshot plans one scan per module (4),
4 windows (timing adds its burst-id cumsum), 3 joins and no exchange;
the lean one (core + text_length) 2 scans and 1 window.

Module -> reference-extractor correspondence:
  basic_metrics        -> src/feature_extraction/basic_metrics.py (+ the
                          FlowStats core, flow_tracker.py:178-241)
  text_length          -> packet_length.py (quantiles/hist/moments live
                          in the distribution module's output columns)
  timing_metrics       -> timing_metrics.py (IAT stats in the core agg;
                          bursts, active/idle, subflows here; IAT
                          entropy and FFT in text_length's output)
  transition_analysis  -> flag_analysis.py (bigrams, patterns, top pair
                          count)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from ..config import EngineConfig
from ..operators import aggregates, distribution, sessionize, transitions

SESSION_KEY = ["conv_id", "session_id"]

FeatureModule = Callable[[DataFrame, EngineConfig], DataFrame]


def _timing(pt: DataFrame, cfg: EngineConfig) -> DataFrame:
    return sessionize.timing_stats(
        pt, SESSION_KEY, burst_gap=cfg.burst_gap_s, activity_timeout=cfg.activity_timeout_s
    )


def _text_length(pt: DataFrame, cfg: EngineConfig) -> DataFrame:
    return distribution.distribution_features(
        pt, key_cols=SESSION_KEY, fft_enabled=cfg.fft_enabled,
        hist_range=cfg.hist_range,
    )


def _transitions(pt: DataFrame, cfg: EngineConfig) -> DataFrame:
    return transitions.sequence_features(pt, SESSION_KEY)


MODULES: dict[str, FeatureModule] = {
    # basic_metrics is the core aggregation itself (always on, like the
    # reference which registers it unconditionally at flow_tracker.py:24)
    "text_length": _text_length,
    "timing_metrics": _timing,
    "transition_analysis": _transitions,
}


def build_session_features(pt: DataFrame, cfg: EngineConfig | None = None) -> DataFrame:
    """Core FlowStats-analog aggregation + every enabled module, joined
    on the session key."""
    cfg = cfg or EngineConfig()
    out = aggregates.session_features(pt)
    for name, module in MODULES.items():
        if cfg.is_enabled(name):
            out = out.join(module(pt, cfg), SESSION_KEY, "left")
    return out
