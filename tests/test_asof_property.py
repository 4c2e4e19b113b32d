"""Property-based as-of join testing: random tiny scenarios (including
equal timestamps, empty sides, single rows, null snapshot values) vs the
brute-force pandas oracle, in both strictness modes, direct and salted
paths."""

from datetime import datetime, timedelta

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from network_feature_extractor_spark.datagen import SNAPSHOTS_SCHEMA, TURNS_SCHEMA
from network_feature_extractor_spark.operators.asof import asof_join, asof_join_salted

from oracle_pandas import asof_oracle

BASE = datetime(2024, 1, 1)

# f_a may be null: the attach must keep the latest row's null, not fill it
SNAPS_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in SNAPSHOTS_SCHEMA.fields]
)


def _turn(cid, i, o):
    return (cid, i, "user", "x", None, BASE + timedelta(seconds=o))


def _snap(cid, o, f_a, f_b):
    return (cid, BASE + timedelta(seconds=o), f_a, f_b)


# coarse second offsets -> frequent exact ties between turns and snapshots
offsets = st.integers(min_value=0, max_value=30)


@st.composite
def scenario(draw):
    n_convs = draw(st.integers(1, 3))
    turns, snaps = [], []
    for ci in range(n_convs):
        cid = f"c{ci}"
        t_offs = sorted(draw(st.lists(offsets, min_size=1, max_size=6)))
        for i, o in enumerate(t_offs):
            turns.append(_turn(cid, i, o))
        s_offs = draw(st.lists(offsets, min_size=0, max_size=5))
        for j, o in enumerate(sorted(s_offs)):
            f_a = None if draw(st.booleans()) else float(o)
            snaps.append(_snap(cid, o, f_a, float(j)))
    return turns, snaps


# a null-valued latest snapshot after a non-null one: c0's turns at 5
# and 10 read it through the salted path's block carry-in (blocks of 7 s
# start at offsets -3, 4, 11), c1's turns at 8 and 9 within one block
NULL_AFTER_VALUE = (
    [_turn("c0", i, o) for i, o in enumerate((0, 5, 10))]
    + [_turn("c1", i, o) for i, o in enumerate((5, 8, 9))],
    [_snap("c0", 1, 1.0, 0.0), _snap("c0", 3, None, 1.0),
     _snap("c1", 4, 2.0, 0.0), _snap("c1", 6, None, 1.0)],
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(scenario(), st.booleans())
@example(NULL_AFTER_VALUE, True)
@example(NULL_AFTER_VALUE, False)
def test_asof_matches_bruteforce(spark, scen, strict):
    turns_rows, snap_rows = scen
    turns = spark.createDataFrame(turns_rows, schema=TURNS_SCHEMA)
    snaps = spark.createDataFrame(snap_rows, schema=SNAPS_SCHEMA)

    got = (
        asof_join(turns, snaps, value_cols=["f_a", "f_b"], strict=strict)
        .select("conv_id", "turn_idx", "f_a", "f_b")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    tp = pd.DataFrame(turns_rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    sp = pd.DataFrame(snap_rows, columns=["conv_id", "snap_ts", "f_a", "f_b"])
    exp = (
        asof_oracle(tp, sp, ["f_a", "f_b"], strict=strict)
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    for c in ("f_a", "f_b"):
        g = got[c].astype(float)
        e = exp[c].astype(float)
        assert ((g.isna() & e.isna()) | (g == e)).all(), (c, got, exp)

    salted = (
        asof_join_salted(
            turns, snaps, value_cols=["f_a", "f_b"], strict=strict,
            hot_threshold=2, block_seconds=7.0,
        )
        .select("conv_id", "turn_idx", "f_a", "f_b")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    for c in ("f_a", "f_b"):
        g = salted[c].astype(float)
        e = exp[c].astype(float)
        assert ((g.isna() & e.isna()) | (g == e)).all(), (c, salted, exp)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(scenario(), st.booleans(), st.integers(min_value=0, max_value=30))
def test_tolerance_gate_property(spark, scen, strict, tol):
    """For random tiny scenarios (equal-ts ties included) and a random
    TTL: (a) the gate equals the pandas null-out of the raw join output
    at the same tolerance; (b) kept-at-tol is a subset of kept-at-
    (tol+5) — staleness is monotone in the tolerance."""
    from network_feature_extractor_spark.operators.asof import tolerance_gate

    turns_rows, snap_rows = scen
    turns = spark.createDataFrame(turns_rows, schema=TURNS_SCHEMA)
    snaps = spark.createDataFrame(snap_rows, schema=SNAPS_SCHEMA)
    raw = asof_join(turns, snaps, value_cols=["f_a", "f_b"], strict=strict)

    def fetch(df, cols):
        return (
            df.select("conv_id", "turn_idx", *cols)
            .toPandas()
            .sort_values(["conv_id", "turn_idx"], kind="mergesort")
            .reset_index(drop=True)
        )

    raw_pd = fetch(raw, ["ts", "f_a", "f_b", "asof_ts"])
    got = fetch(
        tolerance_gate(raw, value_cols=["f_a", "f_b"], tolerance_s=float(tol)),
        ["f_a", "f_b", "asof_ts", "asof_stale"],
    )
    ets = (raw_pd["ts"].astype("int64").to_numpy() // 1000) / 1e6
    stale = raw_pd["asof_ts"].notna().to_numpy() & (
        (ets - raw_pd["asof_ts"].to_numpy()) > float(tol)
    )
    exp = raw_pd.drop(columns=["ts"]).copy()
    for c in ("f_a", "f_b", "asof_ts"):
        exp.loc[stale, c] = float("nan")
    assert (got["asof_stale"].to_numpy() == stale).all(), (got, exp, tol)
    for c in ("f_a", "f_b", "asof_ts"):
        g, e = got[c].astype(float), exp[c].astype(float)
        assert ((g.isna() & e.isna()) | (g == e)).all(), (c, got, exp, tol)

    wider = fetch(
        tolerance_gate(raw, value_cols=["f_a", "f_b"], tolerance_s=float(tol + 5)),
        ["asof_stale"],
    )
    # monotone: anything fresh at tol stays fresh at tol+5
    assert not (wider["asof_stale"].to_numpy() & ~got["asof_stale"].to_numpy()).any()
