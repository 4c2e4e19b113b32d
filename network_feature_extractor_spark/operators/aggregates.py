"""Per-session feature aggregation — the FlowStats analog.

One output row per (conv_id, session_id), mirroring the reference's
44-field ``FlowStats`` (``src/core/flow_tracker.py:178-241``) plus the
basic-metrics extractor's derived ratios/rates
(``src/feature_extraction/basic_metrics.py:408-494``), translated
packet->turn per SURVEY.md §0:

- fwd/bwd direction        -> user / assistant role
- packet length            -> length(text)
- IAT                      -> ts - lag(ts) within the session
- flag counts              -> role and tool value counts
- init window bytes        -> first text length per direction
- bytes/s, packets/s       -> chars/s, turns/s (duration clamp 0.001)
- down/up ratio etc.       -> assistant/user ratios (denominator clamp 1,
                              gated on n_turns >= 10 like the reference's
                              ``total_packets >= 10`` gate at
                              ``basic_metrics.py:431``)

Everything here is algebraic (count/sum/min/max/moments) — a single
partial+final HashAggregate in the physical plan, map-side combinable,
no state, no UDFs. At 10^12 turns this is the cheapest possible shape:
one shuffle keyed by (conv_id, session_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.islands import with_session_lags
from ..functions.stats import clamped_rate, epoch_seconds, safe_div, stddev_pop_moments, text_len_col

FWD_ROLE = "user"
BWD_ROLE = "assistant"


def _dir_stats(x, cond, prefix: str):
    """min/max/mean/std of x restricted to cond (empty -> 0.0, matching the
    reference's inf-seeded mins reported as 0, flow_tracker.py:604-620)."""
    xc = F.when(cond, x)
    m1 = F.avg(xc)
    m2 = F.avg(xc * xc)
    return [
        F.coalesce(F.min(xc), F.lit(0.0)).alias(f"{prefix}_min"),
        F.coalesce(F.max(xc), F.lit(0.0)).alias(f"{prefix}_max"),
        F.coalesce(m1, F.lit(0.0)).alias(f"{prefix}_mean"),
        F.coalesce(
            F.sqrt(F.greatest(m2 - m1 * m1, F.lit(0.0))), F.lit(0.0)
        ).alias(f"{prefix}_std"),
    ]


def session_features(
    turns_with_session: DataFrame,
    key_cols: list[str] | None = None,
    roles: tuple[str, ...] = ("user", "assistant", "system", "tool"),
) -> DataFrame:
    """Aggregate a session-annotated turns frame into one feature row per
    session. Input must already carry ``session_id`` (operators/sessionize).
    """
    keys = key_cols or ["conv_id", "session_id"]
    tsd = epoch_seconds("ts")
    d = with_session_lags(turns_with_session, keys).withColumn(
        "_len", text_len_col(turns_with_session)
    )

    ln = F.col("_len")
    iat = F.col("_gap")
    is_fwd = F.col("role") == FWD_ROLE
    is_bwd = F.col("role") == BWD_ROLE
    # first-row IAT is 0 by construction; exclude it from IAT stats
    iat_valid = ~F.col("_first")

    aggs = [
        # W2: temporal extent
        F.min(tsd).alias("start_time"),
        F.max(tsd).alias("end_time"),
        (F.max(tsd) - F.min(tsd)).alias("duration"),
        # A3: counts & sums
        F.count("*").cast("long").alias("n_turns"),
        F.sum(ln).alias("total_text_len"),
        F.sum(F.when(is_fwd, 1).otherwise(0)).cast("long").alias("fwd_turns"),
        F.sum(F.when(is_bwd, 1).otherwise(0)).cast("long").alias("bwd_turns"),
        F.coalesce(F.sum(F.when(is_fwd, ln)), F.lit(0.0)).alias("fwd_text_len"),
        F.coalesce(F.sum(F.when(is_bwd, ln)), F.lit(0.0)).alias("bwd_text_len"),
        # A4/A5: overall + per-direction text-length stats
        *_dir_stats(ln, F.lit(True), "len"),
        *_dir_stats(ln, is_fwd, "fwd_len"),
        *_dir_stats(ln, is_bwd, "bwd_len"),
        # A5/W1: IAT stats — flow level + per direction (12 fields)
        *_dir_stats(iat, iat_valid, "iat"),
        *_dir_stats(iat, iat_valid & is_fwd, "fwd_iat"),
        *_dir_stats(iat, iat_valid & is_bwd, "bwd_iat"),
        # fwd/bwd_iat_total (timing_metrics.py:625,631)
        F.coalesce(F.sum(F.when(iat_valid & is_fwd, iat)), F.lit(0.0)).alias("fwd_iat_sum"),
        F.coalesce(F.sum(F.when(iat_valid & is_bwd, iat)), F.lit(0.0)).alias("bwd_iat_sum"),
        # A6: init-window analog — first text length per direction
        F.coalesce(
            F.min(F.when(is_fwd, F.struct(F.col("ts"), F.col("turn_idx"), ln.alias("v")))).getField("v"),
            F.lit(0.0),
        ).alias("init_fwd_len"),
        F.coalesce(
            F.min(F.when(is_bwd, F.struct(F.col("ts"), F.col("turn_idx"), ln.alias("v")))).getField("v"),
            F.lit(0.0),
        ).alias("init_bwd_len"),
        # A7: role counts (flag-count analog)
        *[
            F.sum(F.when(F.col("role") == r, 1).otherwise(0)).cast("long").alias(f"cnt_{r}")
            for r in roles
        ],
        F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0)).cast("long").alias("cnt_tool_calls"),
        F.countDistinct("tool").cast("long").alias("distinct_tools"),
    ]
    g = d.groupBy(*keys).agg(*aggs)

    # A8: post-agg ratios & rates (basic_metrics.py:408-494 semantics)
    n = F.col("n_turns").cast("double")
    gated = n >= 10
    # avg segment sizes (basic_metrics.py:469-474): sum/max(count, 1)
    avg_fwd = safe_div(F.col("fwd_text_len"), F.col("fwd_turns").cast("double"))
    avg_bwd = safe_div(F.col("bwd_text_len"), F.col("bwd_turns").cast("double"))
    # per-direction bytes/packet with the reference's >0 guard (:447-455)
    bpf = F.col("fwd_text_len") / F.col("fwd_turns").cast("double")
    bpb = F.col("bwd_text_len") / F.col("bwd_turns").cast("double")
    return (
        g.withColumn("turns_per_sec", clamped_rate(n, F.col("duration")))
        .withColumn("chars_per_sec", clamped_rate(F.col("total_text_len"), F.col("duration")))
        # per-direction rates (basic_metrics.py:415-424) — ungated
        .withColumn("fwd_chars_per_sec", clamped_rate(F.col("fwd_text_len"), F.col("duration")))
        .withColumn("bwd_chars_per_sec", clamped_rate(F.col("bwd_text_len"), F.col("duration")))
        .withColumn(
            "fwd_turns_per_sec",
            clamped_rate(F.col("fwd_turns").cast("double"), F.col("duration")),
        )
        .withColumn(
            "bwd_turns_per_sec",
            clamped_rate(F.col("bwd_turns").cast("double"), F.col("duration")),
        )
        .withColumn("avg_turn_len", safe_div(F.col("total_text_len"), n))
        .withColumn("avg_fwd_turn_len", avg_fwd)
        .withColumn("avg_bwd_turn_len", avg_bwd)
        .withColumn(
            "down_up_ratio",
            F.when(gated, safe_div(F.col("bwd_text_len"), F.col("fwd_text_len"))).otherwise(0.0),
        )
        .withColumn(
            "turn_count_ratio",
            F.when(
                gated,
                safe_div(F.col("bwd_turns").cast("double"), F.col("fwd_turns").cast("double")),
            ).otherwise(0.0),
        )
        # packet_size_ratio analog (basic_metrics.py:437-441), same gate
        .withColumn(
            "len_size_ratio",
            F.when(gated, safe_div(avg_bwd, avg_fwd)).otherwise(0.0),
        )
        # bytes_ratio_variance analog (basic_metrics.py:447-455):
        # direction-consistency score, 0 unless both directions present
        .withColumn(
            "len_ratio_variance",
            F.when(
                gated & (F.col("fwd_turns") > 0) & (F.col("bwd_turns") > 0),
                F.abs(bpf - bpb) / F.greatest(bpf, bpb),
            ).otherwise(0.0),
        )
        # fwd_bwd_iat_ratio (timing_metrics.py:642-647): 0 when bwd mean is 0
        .withColumn(
            "fwd_bwd_iat_ratio",
            F.when(
                F.col("bwd_iat_mean") > 0, F.col("fwd_iat_mean") / F.col("bwd_iat_mean")
            ).otherwise(0.0),
        )
        # A14 variance-to-mean over ALL turn lengths
        # (packet_length.py:556-563: variance/mean, 0 when mean is 0)
        .withColumn(
            "len_dispersion",
            F.when(
                F.col("len_mean") > 0,
                (F.col("len_std") * F.col("len_std")) / F.col("len_mean"),
            ).otherwise(0.0),
        )
        # A14 coefficient of variation (packet_length.py:566-570:
        # std/mean, 0 when mean is 0)
        .withColumn(
            "len_cov",
            F.when(
                F.col("len_mean") > 0, F.col("len_std") / F.col("len_mean")
            ).otherwise(0.0),
        )
        # A9 fallback (basic_metrics.py:487-494): when no length
        # distribution is available, approximate entropy as ln(1 + std)
        .withColumn(
            "len_entropy_approx",
            F.when(F.col("len_std") > 0, F.log(F.lit(1.0) + F.col("len_std"))).otherwise(0.0),
        )
    )


def length_entropy(
    turns: DataFrame, key_cols: list[str], bucket_width: float = 150.0
) -> DataFrame:
    """A9: Shannon entropy of the text-length histogram per key.

    Reference: -sum p*log2(p) over the packet-length distribution
    (``basic_metrics.py:331-360``). Two-level algebraic aggregation —
    no UDF, no per-group array materialization; scales to any group size.
    """
    d = turns.withColumn(
        "_bucket", F.floor(text_len_col(turns) / F.lit(bucket_width))
    )
    per_val = d.groupBy(*key_cols, "_bucket").agg(F.count("*").alias("c"))
    w_tot = Window.partitionBy(*key_cols)
    per_val = per_val.withColumn("t", F.sum("c").over(w_tot))
    p = F.col("c").cast("double") / F.col("t").cast("double")
    return per_val.groupBy(*key_cols).agg(
        F.coalesce(-F.sum(p * F.log2(p)), F.lit(0.0)).alias("len_entropy")
    )


def approx_distinct_and_quantiles(
    turns: DataFrame,
    key_cols: list[str],
    distinct_col: str = "tool",
    quantile_col: str | None = None,
    quantile_levels: tuple[float, ...] = (0.1, 0.25, 0.5, 0.75, 0.9),
    rsd: float = 0.05,
    accuracy: int = 10_000,
) -> DataFrame:
    """Sketch-tier twins of the exact distinct count (A15) and exact
    quantiles (A12) for the 10^12-row regime.

    The exact forms stay the correctness baseline (countDistinct in
    ``session_features``; bit-exact numpy quantiles in
    ``operators/distribution.py``) — but an exact distinct over a
    trillion rows shuffles every distinct value and exact quantiles
    buffer each group, while these run as ONE partial-aggregable pass:
    ``approx_count_distinct`` is a HyperLogLog++ sketch (relative error
    ``rsd``), ``percentile_approx`` a KLL-style mergeable summary with
    rank error ``1/accuracy``. Both sketches merge map-side, so the
    exchange carries one fixed-size sketch per (key, column), never the
    values. Differential error-bound tests pin them against the exact
    operators (tests/test_aggregates.py); no driver oracle by design —
    sketch internals differ across engines, so a value-hash comparison
    would be meaningless (the exact twins carry the oracle burden).
    """
    aggs = [
        F.approx_count_distinct(distinct_col, rsd=rsd)
        .cast("long")
        .alias(f"approx_distinct_{distinct_col}"),
    ]
    qcol = quantile_col
    if qcol is None:
        aggs.append(
            F.percentile_approx(
                text_len_col(turns), list(quantile_levels), accuracy
            ).alias("approx_len_quantiles")
        )
    else:
        aggs.append(
            F.percentile_approx(
                F.col(qcol).cast("double"), list(quantile_levels), accuracy
            ).alias(f"approx_{qcol}_quantiles")
        )
    return turns.groupBy(*key_cols).agg(*aggs)


def decayed_features(
    df: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    value_col: str = "value",
    half_life_s: float = 604800.0,
) -> DataFrame:
    """Half-life exponentially-decayed per-key aggregates, as-of each
    key's LATEST event — the standard feature-store recency weighting
    (a decayed count and a decayed value sum with weight
    ``2^(-age/half_life)``), the smooth generalization of the
    reference's hard activity-timeout state expiry
    (``src/core/flow_tracker.py:642-648``: weight 1 inside the window,
    0 after; here the weight halves every ``half_life_s``).

    Emits per key: ``n_events`` (exact long), ``decayed_count``
    (sum of weights — the "effective recent event count"), and
    ``decayed_<value_col>`` (decayed-weighted value sum).

    Cross-engine exactness: ages are exact integer micros differences,
    the exponent ``-(age_us / (half_life_s*1e6))`` one exact-rounded
    division — only ``pow(2, x)`` is libm-dependent (ulp-level), so
    outputs are ROUND(…, 6)-guarded by callers, the ts_lm_logprob
    convention.

    Plan: cutoff = MAX(micros) OVER (PARTITION BY key), then
    groupBy(key) — the window's HashPartitioning(key) already satisfies
    the aggregation's distribution, so the whole operator is ONE
    exchange with map-side partial aggregation above the window
    (plan-guarded in tests/test_plans.py).
    """
    if half_life_s <= 0:
        raise ValueError(f"half_life_s must be positive, got {half_life_s}")
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    d = df.withColumn("_us", us).withColumn(
        "_mx", F.max("_us").over(Window.partitionBy(key))
    )
    # age in micros is an exact long; one exact-rounded division to the
    # dimensionless exponent, then the (rounding-guarded) pow
    expo = (F.col("_mx") - F.col("_us")).cast("double") / F.lit(
        float(half_life_s) * 1_000_000.0
    )
    w = F.pow(F.lit(2.0), -expo)
    return d.groupBy(key).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(w).alias("decayed_count"),
        F.sum(F.col(value_col).cast("double") * w).alias(f"decayed_{value_col}"),
    )
