import json
import os

import numpy as np
from pyspark.sql import functions as F

from network_feature_extractor_spark.config import EngineConfig
from network_feature_extractor_spark.plans import checkpoint, lineage
from network_feature_extractor_spark.plans.pipeline import (
    per_turn_features,
    run_pipeline,
)


def test_pipeline_end_to_end(spark, turns):
    enriched, snap = run_pipeline(turns, EngineConfig(asof_hot_threshold=50))
    n_in = turns.count()
    assert enriched.count() == n_in  # one output row per turn
    assert snap.count() > 0
    # snapshot attach is strictly past: asof_ts < ts for every attached row
    bad = enriched.filter(
        F.col("asof_ts").isNotNull()
        & (F.col("asof_ts") >= F.col("ts").cast("double"))
    ).count()
    assert bad == 0
    # first session of each conv has no preceding closed session -> null attach
    first = enriched.filter(F.col("session_id") == 0)
    assert first.filter(F.col("prev_n_turns").isNotNull()).count() == 0


def test_pipeline_snapshot_consistency(spark, turns):
    """Every turn attaches, whole, the snapshot row of the latest session
    that closed strictly before it: ``asof_ts`` is that session's
    ``end_time`` and every ``prev_*`` column equals the row's own value,
    nulls included (NaN == NaN)."""
    import pandas as pd

    enriched, snap = run_pipeline(turns)
    s = snap.drop("snap_ts").toPandas()
    prev = [f"prev_{c}" for c in s.columns if c not in ("conv_id", "session_id")]
    e = enriched.select("conv_id", "turn_idx", "ts", "asof_ts", *prev).toPandas()

    e["_ets"] = e["ts"].astype("datetime64[us]").astype("int64") / 1e6
    latest = pd.merge_asof(
        e.sort_values("_ets"),
        s[["conv_id", "end_time"]].sort_values("end_time"),
        left_on="_ets", right_on="end_time", by="conv_id",
        allow_exact_matches=False,
    )
    assert latest["asof_ts"].equals(latest["end_time"].rename("asof_ts"))

    m = e.merge(
        s.rename(columns={c[len("prev_"):]: c for c in prev}).assign(
            asof_ts=s["end_time"]
        ),
        on=["conv_id", "asof_ts"], how="left", suffixes=("", "_snap"),
    )
    assert len(m) == len(e)  # one snapshot row per (conv_id, end_time)
    for c in prev:
        got, exp = m[c], m[f"{c}_snap"]
        same = (got.isna() & exp.isna()) | (got == exp)
        assert same.all(), (c, m.loc[~same, ["conv_id", "turn_idx", c, f"{c}_snap"]])


def test_checkpoint_resume(spark, turns, tmp_path):
    out = str(tmp_path / "features")

    calls = {"n": 0}

    def build(df):
        calls["n"] += 1
        return per_turn_features(df).drop("text", "tool")

    m1 = checkpoint.run_resumable(turns, out, build, n_buckets=4, checksum_col="conv_id")
    assert all(v["status"] == "done" for v in m1.values())
    first_calls = calls["n"]
    assert first_calls == 4

    # resume: manifest says done -> zero re-processing
    m2 = checkpoint.run_resumable(turns, out, build, n_buckets=4, checksum_col="conv_id")
    assert calls["n"] == first_calls
    assert m2 == m1

    # partial resume: delete one bucket's manifest entry -> only it reruns
    mpath = os.path.join(out, "_manifest.json")
    m = json.load(open(mpath))
    del m["2"]
    json.dump(m, open(mpath, "w"))
    m3 = checkpoint.run_resumable(turns, out, build, n_buckets=4, checksum_col="conv_id")
    assert calls["n"] == first_calls + 1
    assert m3["2"]["rows"] == m1["2"]["rows"]
    assert m3["2"]["checksum"] == m1["2"]["checksum"]

    total = sum(v["rows"] for v in m3.values())
    assert total == turns.count()


def test_partition_metrics(spark, turns):
    pm = lineage.partition_metrics(turns).toPandas()
    assert pm["rows"].sum() == turns.count()
    assert (pm["rows"] > 0).all()
    assert (pm["max_ts"] >= pm["min_ts"]).all()


def test_job_counters(spark, turns):
    c = lineage.JobCounters(spark.sparkContext)
    tracked = c.count_batches(turns.select("conv_id", "turn_idx", "ts"))
    n = tracked.count()
    assert c.rows_in.value == n
    assert c.batches.value > 0


def test_pipeline_zero_leakage_future_text_perturbation(spark, turns):
    """North-rule audit at pipeline level: mutating a FUTURE turn's text
    must not change any present turn's feature vector (windows are
    trailing-only; snapshots attach strictly from the past)."""
    cfg = EngineConfig(asof_hot_threshold=50)
    base, _ = run_pipeline(turns, cfg)

    # corrupt the last turn of every conversation
    w = __import__("pyspark").sql.Window.partitionBy("conv_id")
    mutated = (
        turns.withColumn("_max_idx", F.max("turn_idx").over(w))
        .withColumn(
            "text",
            F.when(F.col("turn_idx") == F.col("_max_idx"), F.lit("X" * 1234)).otherwise(
                F.col("text")
            ),
        )
        .drop("_max_idx")
    )
    pert, _ = run_pipeline(mutated, cfg)

    cols = [
        "conv_id", "turn_idx", "session_id", "iat", "rt_len_mean",
        "prev_n_turns", "prev_total_text_len", "asof_ts",
    ]
    import numpy as np

    b = base.select(cols).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    p = pert.select(cols).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    # identify last turns to exclude (their own rolling features change)
    last = b.groupby("conv_id")["turn_idx"].transform("max") == b["turn_idx"]
    for c in cols[2:]:
        gb = b.loc[~last, c].astype(float).to_numpy()
        gp = p.loc[~last, c].astype(float).to_numpy()
        both_nan = np.isnan(gb) & np.isnan(gp)
        ok = both_nan | np.isclose(gb, gp, rtol=1e-9, atol=1e-9, equal_nan=True)
        # prev_total_text_len of turns AFTER the mutated turn's session
        # closes may legitimately change only if the mutated (last) turn
        # is in a PRIOR session — but the last turn's session never closes
        # before a non-last turn, so nothing may change.
        assert ok.all(), f"leakage via {c}"


def test_jobs_entrypoint_end_to_end(spark, tmp_path):
    """spark-submit packaging smoke: run jobs/run_features.py main() in
    process against a small generated input."""
    import sys

    from network_feature_extractor_spark.datagen import generate_turns

    inp = str(tmp_path / "turns_in")
    outp = str(tmp_path / "features_out")
    generate_turns(spark, 40).write.mode("overwrite").parquet(inp)

    sys.argv = [
        "run_features.py", "--input", inp, "--output", outp,
        "--session-gap", "300", "--buckets", "2",
    ]
    sys.path.insert(0, "/root/repo/jobs")
    import importlib

    import run_features

    importlib.reload(run_features)
    run_features.main()

    per_turn = spark.read.parquet(outp + "/per_turn")
    assert per_turn.count() == spark.read.parquet(inp).count()
    lineage = spark.read.parquet(outp + "/_lineage")
    assert lineage.count() > 0
    manifest = json.load(open(outp + "/per_turn/_manifest.json"))
    assert all(v["status"] == "done" for v in manifest.values())


def test_checkpoint_survives_crash_mid_run(spark, turns, tmp_path):
    """Simulated failure: the build fn raises on one bucket; previously
    completed buckets persist in the manifest and are not re-processed on
    the retry run."""
    out = str(tmp_path / "crashy")
    calls = {"n": 0, "fail_armed": True}

    def build(df):
        calls["n"] += 1
        if calls["n"] == 3 and calls["fail_armed"]:
            calls["fail_armed"] = False
            raise RuntimeError("injected crash")
        return per_turn_features(df).drop("text", "tool")

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        checkpoint.run_resumable(turns, out, build, n_buckets=4)
    m = json.load(open(os.path.join(out, "_manifest.json")))
    assert sum(1 for v in m.values() if v["status"] == "done") == 2

    n_before = calls["n"]
    m2 = checkpoint.run_resumable(turns, out, build, n_buckets=4)
    # retry processes only the 2 remaining buckets
    assert calls["n"] == n_before + 2
    assert sum(v["rows"] for v in m2.values()) == turns.count()


def test_per_turn_text_equality_invariant(spark, turns):
    """input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering — the pipeline must carry text through
    unchanged, one output row per input row."""
    enriched, _ = run_pipeline(turns)
    got = (
        enriched.select("conv_id", "turn_idx", "text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    exp = (
        turns.select("conv_id", "turn_idx", "text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert (got["conv_id"].to_numpy() == exp["conv_id"].to_numpy()).all()
    assert (got["turn_idx"].to_numpy() == exp["turn_idx"].to_numpy()).all()
    assert (got["text"].to_numpy() == exp["text"].to_numpy()).all()


def test_duration_histogram_cumulative(spark):
    from pyspark.sql import functions as F

    from network_feature_extractor_spark.plans import lineage

    d = spark.createDataFrame(
        [(float(x),) for x in (5, 70, 70, 400, 2000, 9999)], ["duration"]
    )
    h = (
        lineage.duration_histogram(d, "duration", buckets=(60.0, 300.0, 1800.0))
        .toPandas()
        .set_index("le")["cumulative"]
    )
    assert h[60.0] == 1
    assert h[300.0] == 3
    assert h[1800.0] == 4
    assert h[float("inf")] == 6
    # prometheus invariant: cumulative counts are monotone
    assert list(h.sort_index().values) == sorted(h.values)


def test_pipeline_asof_ttl(spark, turns):
    """asof_ttl_s gates the snapshot attach: with a TTL, stale attaches
    are nulled + flagged and fresh ones identical to the ungated run;
    with the default (None) the output carries no asof_stale column."""
    ungated, _ = run_pipeline(turns, EngineConfig(asof_hot_threshold=50))
    assert "asof_stale" not in ungated.columns
    TTL = 120.0
    gated, _ = run_pipeline(
        turns, EngineConfig(asof_hot_threshold=50, asof_ttl_s=TTL)
    )
    g = (
        gated.select("conv_id", "turn_idx", "ts", "prev_n_turns", "asof_ts", "asof_stale")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    u = (
        ungated.select("conv_id", "turn_idx", "ts", "prev_n_turns", "asof_ts")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    ets = (u["ts"].astype("int64").to_numpy() // 1000) / 1e6
    stale = u["asof_ts"].notna().to_numpy() & ((ets - u["asof_ts"].to_numpy()) > TTL)
    assert stale.any() and (~stale).any()  # fixture exercises both
    assert (g["asof_stale"].to_numpy() == stale).all()
    assert g.loc[stale, "prev_n_turns"].isna().all()
    assert g.loc[stale, "asof_ts"].isna().all()
    fresh = ~stale
    assert np.allclose(
        g.loc[fresh, "prev_n_turns"].astype(float),
        u.loc[fresh, "prev_n_turns"].astype(float),
        equal_nan=True,
    )


def _failing_save_as_table(monkeypatch, ex: Exception) -> None:
    from pyspark.sql.readwriter import DataFrameWriter

    def fail(self, *args, **kwargs):
        raise ex

    monkeypatch.setattr(DataFrameWriter, "saveAsTable", fail)


def test_materialize_write_error_propagates(spark, turns, tmp_path, monkeypatch):
    """A failed bucketed write is not retried as plain parquet, even when
    its message names a bucket file."""
    import pytest

    from network_feature_extractor_spark.plans.pipeline import _materialize_per_turn

    _failing_save_as_table(
        monkeypatch, RuntimeError("No space left on device: part-00000-bucket-00001.parquet")
    )
    path = tmp_path / "pt"
    with pytest.raises(RuntimeError, match="bucket-00001"):
        _materialize_per_turn(turns, str(path), EngineConfig())
    assert not path.exists()


def test_materialize_falls_back_when_catalog_rejects_buckets(spark, turns, tmp_path, monkeypatch):
    """A catalog that cannot take the bucketed table (AnalysisException)
    gets the plain parquet roundtrip, without the clustered marker."""
    import pytest
    from pyspark.errors import AnalysisException

    from network_feature_extractor_spark.plans.pipeline import _materialize_per_turn

    _failing_save_as_table(monkeypatch, AnalysisException("bucketed tables are not supported"))
    pt = turns.select("conv_id", "turn_idx", "ts")
    with pytest.warns(RuntimeWarning, match="plain parquet"):
        out = _materialize_per_turn(pt, str(tmp_path / "pt"), EngineConfig())
    assert not getattr(out, "_nfe_assume_clustered", False)
    assert out.exceptAll(pt).count() == 0 and out.count() == pt.count()
