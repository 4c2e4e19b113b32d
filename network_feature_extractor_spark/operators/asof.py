"""Point-in-time as-of join (SURVEY.md §2.5 J1) — the engine's core.

Semantics (from the reference's temporal discipline: every packet update
reads flow state built strictly from *prior* packets,
``src/core/flow_tracker.py:1515-1536``): attach to each left row the
latest right row whose timestamp is strictly earlier (``strict=True``) or
earlier-or-equal (``strict=False``). Strict mode is the zero-temporal-
leakage guarantee: a snapshot taken at exactly a turn's timestamp is NOT
visible to that turn.

The latest right row is attached WHOLE: a null value in it stays null
rather than being filled from an older row, so every attached column and
the matched timestamp come from one snapshot (pandas ``merge_asof`` and
DuckDB ``ASOF JOIN`` semantics). Equal-timestamp right rows tie-break by
ascending value order, Spark's nulls first: the largest wins.

Spark has no native ASOF JOIN. We build it as a **sort-merge as-of in one
shuffle** via the union trick:

    union(left tagged (k_l, null _row), right tagged (k_r, _row))
      -> Window.partitionBy(key).orderBy(_ets, _k, _row)
      -> last(_row, ignorenulls=True) over unbounded-preceding
      -> filter back to left rows, unpack _row

``_row = struct(_ts, *value_cols)`` is one non-null slot per right row,
so the window runs ONE running ``last()`` whatever the attach width. The
tag ordering encodes strictness: strict => left rows sort *before* right
rows at equal ts, so the running ``last()`` cannot see an equal-ts
snapshot. This compiles to a single Exchange(hashpartition(key)) + Sort
+ WindowExec — the "sort-merge as-of join over range-partitioned
(conv_id, ts) sorted partitions" the north rule asks for, with zero
per-row Python.

Skew: a window partition is one conv_id; a pathologically hot
conversation (10^8 turns at 10^12 scale) serializes on one task. AQE
splits skewed *joins* but not window partitions, so ``asof_join_salted``
breaks hot conversations into time blocks: per-block carry-in rows are
precomputed by a tiny block-level cumulative window, then each block
runs the same union window under partition key (conv_id, block).
Equivalence with the direct path is property-tested
(tests/test_asof_property.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.stats import epoch_seconds


def _attach_latest(
    left_tagged: DataFrame,
    right_rows: DataFrame,
    parts: list[str],
    left_cols: list[str],
    value_cols: list[str],
    lk: int,
    attach_ts_as: str,
) -> DataFrame:
    """The one union window behind both join functions.

    ``left_tagged``: the left rows plus ``parts``, ``_ets`` and ``_k =
    lk``. ``right_rows``: ``parts``, ``_ets``, ``_k`` and one non-null
    ``_row = struct(_ts, *value_cols)``. Returns ``left_cols``, the
    unpacked value columns of the latest visible ``_row`` and its
    ``_ts`` as ``attach_ts_as``.
    """
    u = left_tagged.unionByName(right_rows, allowMissingColumns=True)
    w = (
        Window.partitionBy(*parts)
        .orderBy("_ets", "_k", "_row")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.select("*", F.last("_row", ignorenulls=True).over(w).alias("_f"))
    return filled.filter(F.col("_k") == lk).select(
        *left_cols,
        *[F.col(f"_f.{c}").alias(c) for c in value_cols],
        F.col("_f._ts").alias(attach_ts_as),
    )


def _row_struct(ts, value_cols: list[str]):
    return F.struct(ts.alias("_ts"), *[F.col(c) for c in value_cols])


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "snap_ts",
    value_cols: list[str] | None = None,
    strict: bool = True,
    attach_ts_as: str = "asof_ts",
) -> DataFrame:
    """Attach the latest-preceding right row, whole, to each left row.

    Left rows with no preceding right row get nulls (leading-null case).
    Right values come back under their own names; the matched snapshot
    timestamp (epoch seconds, double) under ``attach_ts_as``. A null in
    the matched row stays null (no fill from older rows). One exchange
    on ``key`` and one running ``last()``, at any attach width.
    """
    value_cols = value_cols or [
        c for c in right.columns if c not in (key, right_ts)
    ]
    overlap = set(value_cols) & set(left.columns)
    if overlap:
        raise ValueError(f"value columns collide with left columns: {overlap}")

    lk, rk = (0, 1) if strict else (1, 0)
    l_tag = left.withColumn("_k", F.lit(lk)).withColumn("_ets", epoch_seconds(left_ts))
    rts = epoch_seconds(F.col(right_ts))
    r_rows = right.select(
        key,
        rts.alias("_ets"),
        F.lit(rk).alias("_k"),
        _row_struct(rts, value_cols).alias("_row"),
    )
    return _attach_latest(l_tag, r_rows, [key], left.columns, value_cols, lk, attach_ts_as)


def asof_join_salted(
    left: DataFrame,
    right: DataFrame,
    key: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "snap_ts",
    value_cols: list[str] | None = None,
    strict: bool = True,
    attach_ts_as: str = "asof_ts",
    block_seconds: float = 3600.0,
    hot_threshold: int = 100_000,
) -> DataFrame:
    """Skew-resistant as-of join: hot conversations are windowed per
    (conv_id, time-block) with a precomputed carry-in row; the cold long
    tail takes the direct single-window path. Same output as
    ``asof_join``.

    The carry-in pass works on *block-level* rows (<= rows/block_seconds
    per conv), so its window partition is tiny even for a 10^8-turn
    conversation; the per-block windows are bounded by block occupancy.
    """
    value_cols = value_cols or [
        c for c in right.columns if c not in (key, right_ts)
    ]

    counts = left.groupBy(key).agg(F.count("*").alias("_n"))
    hot_keys = counts.filter(F.col("_n") > hot_threshold).select(key)
    # cheap eager probe (column-pruned scan + partial agg): when nothing
    # is hot — the common case — skip the split entirely instead of
    # paying the anti/semi double-scan of the wide left side (measured
    # 2x overhead on 13M rows with zero hot keys).
    if hot_keys.limit(1).count() == 0:
        return asof_join(
            left, right, key, left_ts, right_ts, value_cols, strict, attach_ts_as
        )
    # hot set is by construction small (few convs can exceed the threshold);
    # broadcast it so the hot/cold split is a map-side semi/anti join.
    hot_b = F.broadcast(hot_keys)

    cold_left = left.join(hot_b, key, "left_anti")
    cold_right = right.join(hot_b, key, "left_anti")
    cold_out = asof_join(
        cold_left, cold_right, key, left_ts, right_ts, value_cols, strict, attach_ts_as
    )

    hot_left = left.join(hot_b, key, "left_semi")
    hot_right = right.join(hot_b, key, "left_semi")

    blk = lambda ts: F.floor(epoch_seconds(ts) / F.lit(block_seconds))  # noqa: E731

    # 1. per-(conv, block) latest right row: the struct max is the last
    #    row in the union window's (_ets, _k, _row) order
    rts = epoch_seconds(F.col(right_ts))
    r = hot_right.select(
        key,
        blk(right_ts).alias("_blk"),
        rts.alias("_ets"),
        _row_struct(rts, value_cols).alias("_row"),
    )
    per_block = r.groupBy(key, "_blk").agg(F.max("_row").alias("_fin"))

    # 2. carry-in per block (tiny window: one row per occupied block per
    #    hot conv). Carry state must reach every left block — including
    #    blocks with no right rows at all — so it is attached with a
    #    block-level as-of: the cumulative final state of the latest
    #    right-block strictly before each left block.
    cum = (
        Window.partitionBy(key)
        .orderBy("_blk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    block_state = per_block.select(
        key, "_blk", F.last("_fin", ignorenulls=True).over(cum).alias("_state")
    )

    left_blocks = hot_left.withColumn("_blk", blk(left_ts)).select(key, "_blk").distinct()
    # latest right-block strictly before each left block -> carry-in
    lb = left_blocks.withColumn("_k", F.lit(0))
    rb = block_state.withColumn("_k", F.lit(1))
    ub = lb.unionByName(rb, allowMissingColumns=True)
    wub = (
        Window.partitionBy(key)
        .orderBy("_blk", "_k")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry_in = (
        ub.select(
            key, "_blk", "_k", F.last("_state", ignorenulls=True).over(wub).alias("_carry")
        )
        .filter((F.col("_k") == 0) & F.col("_carry").isNotNull())
    )

    # 3. per-(conv, block) as-of: the direct path's union window, with the
    #    carry-in as a _k = -1 row that sorts before everything in its block
    lk, rk = (0, 1) if strict else (1, 0)
    l_tag = (
        hot_left.withColumn("_blk", blk(left_ts))
        .withColumn("_k", F.lit(lk))
        .withColumn("_ets", epoch_seconds(left_ts))
    )
    r_rows = r.withColumn("_k", F.lit(rk)).unionByName(
        carry_in.select(
            key,
            "_blk",
            (F.col("_blk") * F.lit(block_seconds)).alias("_ets"),
            F.col("_carry").alias("_row"),
            F.lit(-1).alias("_k"),
        )
    )
    hot_out = _attach_latest(
        l_tag, r_rows, [key, "_blk"], left.columns, value_cols, lk, attach_ts_as
    )
    return cold_out.unionByName(hot_out)


def tolerance_gate(
    joined: DataFrame,
    left_ts: str = "ts",
    value_cols: list[str] | None = None,
    tolerance_s: float = 3600.0,
    attach_ts_as: str = "asof_ts",
    flag_col: str | None = "asof_stale",
) -> DataFrame:
    """Max-staleness (TTL) gate over an as-of join's OUTPUT — the
    feature-store ttl convention: a snapshot older than ``tolerance_s``
    at the left row's timestamp is treated as expired and its attached
    values nulled out, exactly as if no snapshot preceded the row.

    Reference analog: the flow tracker expires per-flow state after an
    activity timeout (``src/core/flow_tracker.py:404-432,642-648`` —
    ``is_expired(current_time, timeout)``); a turn arriving after the
    timeout must not see the stale state.

    Works on the output of BOTH ``asof_join`` and ``asof_join_salted``
    (they emit the same columns), as a pure map-side projection — zero
    extra shuffle, whole-stage-codegens into the window's output stage.

    Cross-engine exactness: the left epoch and ``attach_ts_as`` are both
    micros/1e6 doubles, so the staleness ``(l - r) > tolerance_s`` is an
    exact-rounded IEEE subtraction + compare — bit-identical on any
    engine, no rounding guard needed.

    ``flag_col`` (optional) emits TRUE where a snapshot matched but had
    expired — distinguishing "expired" from "never had a snapshot"
    (flag FALSE, values null in both cases after the gate).
    """
    if value_cols is None:
        raise ValueError("tolerance_gate needs the as-of value_cols list")
    if tolerance_s < 0:
        raise ValueError(f"tolerance_s must be >= 0, got {tolerance_s}")
    if flag_col and flag_col in joined.columns:
        # r7 ADVICE: an input already carrying the flag column would
        # yield a duplicate output column (the '_tbound' precedent)
        raise ValueError(
            f"tolerance_gate: input already has a {flag_col!r} column; "
            "pass a different flag_col (or None)"
        )
    stale = F.col(attach_ts_as).isNotNull() & (
        (epoch_seconds(left_ts) - F.col(attach_ts_as)) > F.lit(float(tolerance_s))
    )
    out = joined.select(
        *[
            c
            for c in joined.columns
            if c not in value_cols and c != attach_ts_as
        ],
        *[F.when(stale, F.lit(None)).otherwise(F.col(c)).alias(c) for c in value_cols],
        F.when(stale, F.lit(None)).otherwise(F.col(attach_ts_as)).alias(attach_ts_as),
        *([stale.alias(flag_col)] if flag_col else []),
    )
    return out
