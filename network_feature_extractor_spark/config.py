"""Engine configuration + feature-module registry.

Mirrors the reference's config-driven feature enablement
(``config/config.yaml:14-30``; registry resolution
``src/feature_extraction/base.py:128-137``) without the singleton
machinery: a frozen dataclass of thresholds plus an ordered dict of
feature modules, each a function ``(df, cfg) -> df`` contributing
columns. Disabled modules are simply not applied — the plan never
contains their expressions (cheaper than runtime gating).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    session_gap_s: float = 300.0  # config/config.yaml:36 (tcp timeout analog)
    sample_rate: float = 1.0  # config/config.yaml:7-9 (network.sampling; 1.0 = off)
    burst_gap_s: float = 0.1  # timing_metrics.py:105
    activity_timeout_s: float = 1.0  # timing_metrics.py:101
    rolling_k: int = 5
    fft_enabled: bool = False  # timing_metrics.py:102 default off
    hist_range: tuple[float, float] = (0.0, 4000.0)
    asof_hot_threshold: int = 100_000
    asof_block_seconds: float = 3600.0
    # max snapshot staleness at the attach point (feature-store TTL;
    # the flow tracker's activity-timeout expiry, flow_tracker.py:642-648
    # applied to attached state). None = off (attach regardless of age);
    # when set, expired snapshots are nulled + flagged asof_stale by a
    # pure map-side gate (operators/asof.py:tolerance_gate)
    asof_ttl_s: float | None = None
    window_hot_threshold: int = 5_000_000  # per-turn window salting kicks in above
    window_block_rows: int = 250_000
    enabled_features: tuple[str, ...] = (
        "basic_metrics",
        "text_length",
        "timing_metrics",
        "transition_analysis",
    )
    enabled_roles: tuple[str, ...] = ("user", "assistant", "system", "tool")
    checkpoint_buckets: int = 64

    def is_enabled(self, feature: str) -> bool:
        return feature in self.enabled_features
