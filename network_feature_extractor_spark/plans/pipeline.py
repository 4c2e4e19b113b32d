"""End-to-end feature pipeline (the reference's full run(), SURVEY.md §3.1,
re-expressed as one declarative DAG).

    turns ──> per-turn windows (W5 session id, W1 iat, W12 rolling,
          │    W13 ffill, A7 running counts)
          │
          └─> per-turn table (bucketed by conv_id when materialized)
                │
                ├─> core aggregation (FlowStats analog, A3-A8)     ┐ each opens
                ├─> timing: bursts, active/idle, subflows (W3/W4)  │ with the same
                ├─> transitions: bigrams, patterns (A7/W6-W8/W11)  ┘ session window
                ├─> distribution features (Arrow, A9-A13/W9/W10)
                │
                └─> snapshot table (modules left-joined on the session key,
                          │          stamped at session end)
    per-turn ◄────────────┘  as-of join (J1, strict) — zero leakage

Shuffle budget: ONE hash exchange on conv_id covers sessionize + every
per-turn window (same partitioning, Catalyst reuses the sort). With
``materialize_dir`` the per-turn frame lands bucketed by conv_id and the
snapshot phase plans no exchange: each module is one scan of the table,
and the core, timing and transition modules each start from the same
session-ordered window (functions/islands.py:with_session_lags; timing
adds its burst-id cumsum) — 4 scans, 4 windows, 3 joins for all
modules. The as-of attach adds one exchange on conv_id. Without
materialization every snapshot branch recomputes the per-turn windows
and pays its own exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..operators import asof


def per_turn_features(turns: DataFrame, cfg: EngineConfig | None = None) -> DataFrame:
    """Per-turn feature vector: session_id, gap_prev, iat, iat_role,
    rolling text-length aggregates, ffill'd last_tool, running role
    counts and transition flags.

    All same-spec window expressions are fused into ONE select so the
    physical plan has exactly three WindowExec passes (base expressions;
    the session-id cumsum that depends on the computed gap; the
    (conv,role)-sorted IAT) on a single conv_id exchange. Chaining
    withColumn instead produces 12+ Window nodes that each rewrite the
    full row — 2-3x slower at scale (measured; see BENCH).
    """
    from ..functions.stats import epoch_seconds

    cfg = cfg or EngineConfig()
    k = cfg.rolling_k
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    prev = w.rowsBetween(Window.unboundedPreceding, -1)
    roll = w.rowsBetween(-(k - 1), 0)

    tsd = epoch_seconds("ts")
    ln = F.length("text").cast("double")
    gap = F.coalesce(tsd - F.lag(tsd).over(w), F.lit(0.0))
    m1 = F.avg(ln).over(roll)
    m2 = F.avg(ln * ln).over(roll)

    # per-role IAT without a second (conv, role) sort: ts is non-decreasing
    # within a conversation, so the *running max* of same-role timestamps
    # over rows strictly before the current one equals the previous
    # same-role timestamp — a streaming frame on the SAME sort order.
    last_same_role = None
    for r in cfg.enabled_roles:
        cand = F.max(F.when(F.col("role") == r, tsd)).over(prev)
        this = F.when(F.col("role") == r, cand)
        last_same_role = this if last_same_role is None else F.coalesce(last_same_role, this)

    # single pass: every expression depends only on base columns
    d = turns.select(
        "*",
        gap.alias("gap_prev"),
        gap.alias("iat"),  # same quantity at turn granularity (W1)
        F.coalesce(tsd - last_same_role, F.lit(0.0)).alias("iat_role"),
        m1.alias("rt_len_mean"),
        F.sqrt(F.greatest(m2 - m1 * m1, F.lit(0.0))).alias("rt_len_std"),
        F.min(ln).over(roll).alias("rt_len_min"),
        F.max(ln).over(roll).alias("rt_len_max"),
        F.last("tool", ignorenulls=True).over(cum).alias("last_tool"),
        *[
            F.sum(F.when(F.col("role") == r, 1).otherwise(0))
            .over(cum)
            .cast("long")
            .alias(f"cnt_{r}_todate")
            for r in cfg.enabled_roles
        ],
        F.lag("role").over(w).alias("prev_role"),
        F.lag("role", 2).over(w).alias("prev2_role"),
    )
    # pass 2: session id from the computed gap (nested window -> 2nd pass)
    d = d.select(
        "*",
        F.sum((F.col("gap_prev") > cfg.session_gap_s).cast("int"))
        .over(cum)
        .cast("long")
        .alias("session_id"),
        (
            (F.col("prev2_role") == "user")
            & (F.col("prev_role") == "assistant")
            & (F.col("role") == "tool")
        )
        .cast("int")
        .alias("pattern_hit"),
    )
    return d


def session_snapshot_table(
    turns_with_session: DataFrame, cfg: EngineConfig | None = None
) -> DataFrame:
    """Per-session feature rows stamped at session end — the flow-record
    emission analog (expiry -> FlowStats). ``snap_ts`` = end_time, so an
    as-of join attaches each *closed* session's features to later turns
    only (strict mode keeps the closing turn itself leak-free).

    Column set is config-driven via the feature-module registry
    (plans/registry.py), mirroring the reference's extractor enablement.
    """
    from .registry import build_session_features

    cfg = cfg or EngineConfig()
    feats = build_session_features(turns_with_session, cfg)
    return feats.withColumn("snap_ts", F.col("end_time"))


def _materialize_per_turn(
    pt: DataFrame, path: str, cfg: EngineConfig
) -> DataFrame:
    """Land the per-turn frame as a conv_id-bucketed, intra-bucket-sorted
    external table (one bucket per default-parallelism slot) and hand
    back the catalog-aware read — downstream session-keyed work then
    needs no exchange (see run_pipeline). A catalog that cannot take a
    bucketed table (Spark raises AnalysisException) falls back to a
    plain parquet roundtrip — correctness-identical, one extra shuffle
    per consumer. Any other write failure propagates."""
    import hashlib

    from pyspark.errors import AnalysisException

    spark = pt.sparkSession
    name = "pt_mat_" + hashlib.md5(path.encode()).hexdigest()[:12]
    try:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            pt.write.mode("overwrite")
            .bucketBy(spark.sparkContext.defaultParallelism, "conv_id")
            .sortBy("conv_id", "ts", "turn_idx")
            .option("compression", "zstd")
            .option("path", path)
            .format("parquet")
            .saveAsTable(name)
        )
    except AnalysisException as ex:
        import warnings

        warnings.warn(
            f"bucketed materialization unavailable ({ex!r:.120}); falling "
            "back to plain parquet — downstream session-keyed stages will "
            "re-shuffle",
            RuntimeWarning,
            stacklevel=2,
        )
        pt.write.mode("overwrite").option("compression", "zstd").parquet(path)
        return spark.read.parquet(path)
    out = spark.table(name)
    # marker consumed by clustered-aware consumers (r8): the
    # bucketed table co-locates every conv_id — downstream grouped
    # maps keyed (conv_id, ...) may skip their repartition. ONLY
    # sound when auto-bucketed-scan is off (get_spark sets it off;
    # a default-conf session may re-plan the scan un-bucketed when
    # nothing else requires the distribution), so the marker is
    # stamped iff the active session guarantees bucketed scans.
    if (
        spark.conf.get(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true"
        ).lower()
        == "false"
    ):
        out._nfe_assume_clustered = True
    return out


def run_pipeline(
    turns: DataFrame,
    cfg: EngineConfig | None = None,
    materialize_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full pipeline -> (per_turn frame with attached latest-closed-session
    snapshot, per_session feature frame).

    ``materialize_dir``: write the per-turn feature frame and re-read it
    before the downstream stages. The per-turn frame feeds three
    consumers (as-of left side, snapshot aggregation, hot-key count);
    without materialization each consumer recomputes the whole window
    DAG over the wide (text-carrying) rows. Writing it once — it is a
    pipeline output anyway — lets every consumer do a column-pruned
    columnar scan instead. This is the 100 TB-scale design: per-turn
    features land in the feature store first, session snapshots and the
    as-of attach read from it.

    r4: the materialized frame is written BUCKETED by conv_id (sortBy
    conv_id, ts, turn_idx) — HashPartitioning(conv_id) satisfies every
    downstream ClusteredDistribution over (conv_id, ...) by the subset
    rule, so the session-feature modules aggregate/window/join with NO
    exchange (measured: 11 -> 6 exchanges, ~25 s -> ~7 s steady-state
    for the all-modules snapshot phase at 1.33M turns x 32 cores). The
    one shuffle the windows already paid is thereby amortized over
    every snapshot consumer — the repo's write_turns_bucketed primitive
    applied to the pipeline's own intermediate.
    """
    from ..functions.sampling import deterministic_sample
    from ..operators.salted_windows import per_turn_features_salted

    cfg = cfg or EngineConfig()
    if cfg.sample_rate < 1.0:
        # capture-time sampling analog (config network.sampling): whole
        # conversations, deterministic, pushed into the scan as a filter
        turns = deterministic_sample(turns, cfg.sample_rate, "conv_id")
    # salted path self-short-circuits to the direct window DAG when no
    # conversation exceeds the threshold (one column-pruned count probe)
    pt = per_turn_features_salted(
        turns, cfg,
        hot_threshold=cfg.window_hot_threshold,
        block_rows=cfg.window_block_rows,
    )
    # precompute text_len so every snapshot module reads an 8-byte column
    # from the materialized frame instead of re-scanning raw text (the
    # widest column by far); the raw text still rides along as a pipeline
    # output (per-turn text equality is part of the output contract)
    pt = pt.withColumn("text_len", F.length("text").cast("double"))
    if materialize_dir is not None:
        pt = _materialize_per_turn(pt, materialize_dir, cfg)
    pt_snap_in = pt.select(
        "conv_id", "session_id", "role", "text_len", "tool", "ts", "turn_idx"
    )
    if getattr(pt, "_nfe_assume_clustered", False):
        # propagate the bucketed-read marker through the projection so
        # the distribution module elides its grouped-map repartition
        pt_snap_in._nfe_assume_clustered = True
    snap = session_snapshot_table(pt_snap_in, cfg)
    snap_cols = [
        c for c in snap.columns if c not in ("conv_id", "session_id", "snap_ts")
    ]
    attach = snap.select(
        "conv_id",
        F.timestamp_seconds(F.col("snap_ts")).alias("snap_ts"),
        *[F.col(c).alias(f"prev_{c}") for c in snap_cols],
    )
    enriched = asof.asof_join_salted(
        pt,
        attach,
        key="conv_id",
        left_ts="ts",
        right_ts="snap_ts",
        strict=True,
        hot_threshold=cfg.asof_hot_threshold,
        block_seconds=cfg.asof_block_seconds,
    )
    if cfg.asof_ttl_s is not None:
        enriched = asof.tolerance_gate(
            enriched,
            left_ts="ts",
            value_cols=[f"prev_{c}" for c in snap_cols],
            tolerance_s=cfg.asof_ttl_s,
        )
    return enriched, snap
