import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from network_feature_extractor_spark.datagen import SNAPSHOTS_SCHEMA
from network_feature_extractor_spark.operators.asof import asof_join, asof_join_salted

from oracle_pandas import asof_oracle


def _cmp(got: pd.DataFrame, exp: pd.DataFrame, cols):
    got = got.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    exp = exp.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    assert len(got) == len(exp)
    for c in cols:
        g = got[c].astype(float).to_numpy()
        e = exp[c].astype(float).to_numpy()
        both_nan = np.isnan(g) & np.isnan(e)
        assert (both_nan | np.isclose(g, e, rtol=1e-9, atol=1e-12, equal_nan=True)).all(), c


def test_asof_strict_matches_bruteforce_oracle(spark, turns, snapshots, turns_pd):
    got = asof_join(turns, snapshots, value_cols=["f_a", "f_b"]).select(
        "conv_id", "turn_idx", "f_a", "f_b"
    ).toPandas()
    exp = asof_oracle(turns_pd, snapshots.toPandas(), ["f_a", "f_b"], strict=True)
    _cmp(got, exp, ["f_a", "f_b"])


def test_asof_inclusive_matches_bruteforce_oracle(spark, turns, snapshots, turns_pd):
    got = asof_join(
        turns, snapshots, value_cols=["f_a", "f_b"], strict=False
    ).select("conv_id", "turn_idx", "f_a", "f_b").toPandas()
    exp = asof_oracle(turns_pd, snapshots.toPandas(), ["f_a", "f_b"], strict=False)
    _cmp(got, exp, ["f_a", "f_b"])


def test_salted_equals_direct(spark, turns, snapshots):
    direct = asof_join(turns, snapshots, value_cols=["f_a", "f_b"]).select(
        "conv_id", "turn_idx", "f_a", "f_b", "asof_ts"
    ).toPandas()
    salted = asof_join_salted(
        turns, snapshots, value_cols=["f_a", "f_b"], hot_threshold=10, block_seconds=60.0
    ).select("conv_id", "turn_idx", "f_a", "f_b", "asof_ts").toPandas()
    _cmp(salted, direct, ["f_a", "f_b", "asof_ts"])


def test_equal_ts_snapshot_not_visible_strict(spark):
    """The leakage tie-break case (FIXTURES.md §2): a snapshot at exactly
    a turn's ts must NOT be attached to that turn in strict mode, but
    MUST be in inclusive mode."""
    from network_feature_extractor_spark.datagen import TURNS_SCHEMA

    from datetime import datetime

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    turns = spark.createDataFrame(
        [("c", 0, "user", "a", None, t0)], schema=TURNS_SCHEMA
    )
    snaps = spark.createDataFrame([("c", t0, 7.0, 8.0)], schema=SNAPSHOTS_SCHEMA)
    strict = asof_join(turns, snaps, value_cols=["f_a", "f_b"]).toPandas()
    assert pd.isna(strict["f_a"].iloc[0])
    incl = asof_join(turns, snaps, value_cols=["f_a", "f_b"], strict=False).toPandas()
    assert incl["f_a"].iloc[0] == 7.0


def test_zero_leakage_future_perturbation(spark, turns, snapshots):
    """Property: mutating any snapshot strictly AFTER a turn's ts must not
    change that turn's attached features."""
    base = asof_join(turns, snapshots, value_cols=["f_a", "f_b"]).select(
        "conv_id", "turn_idx", "ts", "f_a", "f_b"
    ).toPandas()
    # perturb: +1000 to every snapshot's f_a (values change), but shift
    # snap_ts forward past the max turn ts for half the snapshots -> those
    # become invisible; recompute and check each turn only ever sees
    # snapshots from its past: attach for turns whose asof source was an
    # unperturbed-earlier snapshot is unchanged.
    perturbed = snapshots.withColumn(
        "f_a",
        F.when(F.crc32(F.col("conv_id")) % 2 == 0, F.col("f_a") + 1000.0).otherwise(
            F.col("f_a")
        ),
    ).withColumn(
        "snap_ts",
        F.when(
            F.crc32(F.col("conv_id")) % 2 == 0,
            F.col("snap_ts") + F.expr("INTERVAL 100 DAYS"),
        ).otherwise(F.col("snap_ts")),
    )
    pert = asof_join(turns, perturbed, value_cols=["f_a", "f_b"]).select(
        "conv_id", "turn_idx", "f_a", "f_b"
    ).toPandas()
    merged = base.merge(pert, on=["conv_id", "turn_idx"], suffixes=("_b", "_p"))
    moved = merged["conv_id"].map(lambda c: __import__("zlib").crc32(c.encode()) % 2 == 0)
    # unmoved convs: identical attach
    same = merged[~moved]
    assert np.allclose(
        same["f_a_b"].astype(float), same["f_a_p"].astype(float), equal_nan=True
    )
    # moved convs: snapshots now in the future -> all-null attach (no turn
    # may see them). any non-null would be temporal leakage.
    fut = merged[moved]
    assert fut["f_a_p"].isna().all()


def test_no_snapshot_conv_all_null(spark, turns, snapshots):
    """Convs with zero snapshots (datagen: every 7th) attach all-nulls."""
    got = asof_join(turns, snapshots, value_cols=["f_a", "f_b"]).toPandas()
    conv = "conv-%08d" % 3  # 3 % 7 == 3 -> no snapshots
    sub = got[got["conv_id"] == conv]
    assert len(sub) > 0 and sub["f_a"].isna().all()


def test_tolerance_gate_matches_pandas(spark, turns, snapshots):
    """TTL semantics derived independently from the UNGATED join output:
    stale (age > tol) rows must have values nulled and the flag up."""
    from network_feature_extractor_spark.operators.asof import tolerance_gate

    raw = asof_join(turns, snapshots, value_cols=["f_a", "f_b"])
    TOL = 60.0
    got = (
        tolerance_gate(raw, value_cols=["f_a", "f_b"], tolerance_s=TOL)
        .select("conv_id", "turn_idx", "f_a", "f_b", "asof_ts", "asof_stale")
        .toPandas()
    )
    exp = raw.select("conv_id", "turn_idx", "ts", "f_a", "f_b", "asof_ts").toPandas()
    ets = (exp["ts"].astype("int64").to_numpy() // 1000) / 1e6
    stale = exp["asof_ts"].notna().to_numpy() & (
        (ets - exp["asof_ts"].to_numpy()) > TOL
    )
    # non-vacuity: the fixture must exercise stale, fresh AND never-had
    assert stale.any() and (~stale).any() and exp["asof_ts"].isna().any()
    for c in ["f_a", "f_b", "asof_ts"]:
        exp.loc[stale, c] = np.nan
    exp["asof_stale"] = stale
    got = got.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    exp = exp.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    _cmp(got, exp, ["f_a", "f_b", "asof_ts"])
    assert (got["asof_stale"].to_numpy() == exp["asof_stale"].to_numpy()).all()


def test_tolerance_gate_infinite_is_identity(spark, turns, snapshots):
    from network_feature_extractor_spark.operators.asof import tolerance_gate

    raw = asof_join(turns, snapshots, value_cols=["f_a", "f_b"])
    gated = tolerance_gate(
        raw, value_cols=["f_a", "f_b"], tolerance_s=1e18, flag_col="asof_stale"
    )
    g = gated.select("conv_id", "turn_idx", "f_a", "f_b", "asof_ts", "asof_stale").toPandas()
    assert not g["asof_stale"].any()
    _cmp(
        g,
        raw.select("conv_id", "turn_idx", "f_a", "f_b", "asof_ts").toPandas(),
        ["f_a", "f_b", "asof_ts"],
    )


def test_tolerance_gate_on_salted_path(spark, turns, snapshots):
    """The gate is a pure projection over the as-of OUTPUT columns, so it
    must commute with the physical path choice (direct vs salted)."""
    from network_feature_extractor_spark.operators.asof import tolerance_gate

    kw = dict(value_cols=["f_a", "f_b"])
    direct = tolerance_gate(
        asof_join(turns, snapshots, **kw), value_cols=["f_a", "f_b"], tolerance_s=60.0
    )
    salted = tolerance_gate(
        asof_join_salted(turns, snapshots, hot_threshold=10, block_seconds=60.0, **kw),
        value_cols=["f_a", "f_b"],
        tolerance_s=60.0,
    )
    cols = ["conv_id", "turn_idx", "f_a", "f_b", "asof_ts"]
    _cmp(salted.select(*cols).toPandas(), direct.select(*cols).toPandas(), cols[2:])
