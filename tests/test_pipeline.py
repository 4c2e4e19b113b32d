import json
import os

import numpy as np
import pytest
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


def _bucket_files(out):
    """Every file of each ``bucket=b`` directory under ``out``, with its
    modification time."""
    return {
        os.path.basename(d): {n: os.stat(os.path.join(d, n)).st_mtime_ns for n in names}
        for d, _, names in os.walk(out)
        if os.path.basename(d).startswith("bucket=")
    }


def _drop_entries(out, buckets):
    mpath = os.path.join(out, "_manifest.json")
    m = json.load(open(mpath))
    for b in buckets:
        del m[b]
    json.dump(m, open(mpath, "w"))


def _stats(manifest):
    return {b: {k: v for k, v in e.items() if k != "seconds"} for b, e in manifest.items()}


def test_checkpoint_resume(spark, turns, tmp_path):
    out = str(tmp_path / "features")

    calls = {"n": 0}

    def build(df):
        calls["n"] += 1
        return per_turn_features(df).drop("text", "tool")

    # one run builds and writes every pending bucket at once
    m1 = checkpoint.run_resumable(turns, out, build, n_buckets=4, checksum_col="conv_id")
    assert sorted(m1) == ["0", "1", "2", "3"]
    assert all(v["status"] == "done" for v in m1.values())
    assert calls["n"] == 1

    # resume: manifest says done -> zero re-processing
    files = _bucket_files(out)
    m2 = checkpoint.run_resumable(turns, out, build, n_buckets=4, checksum_col="conv_id")
    assert calls["n"] == 1
    assert m2 == m1
    assert _bucket_files(out) == files

    # partial resume: delete one bucket's manifest entry -> only it reruns,
    # and no other bucket's files are rewritten
    _drop_entries(out, ["2"])
    m3 = checkpoint.run_resumable(turns, out, build, n_buckets=4, checksum_col="conv_id")
    assert calls["n"] == 2
    assert _stats(m3) == _stats(m1)
    after = _bucket_files(out)
    assert {b: f for b, f in after.items() if b != "bucket=2"} == {
        b: f for b, f in files.items() if b != "bucket=2"
    }
    assert after["bucket=2"] != files["bucket=2"]  # rebuilt

    total = sum(v["rows"] for v in m3.values())
    assert total == turns.count()
    assert spark.read.parquet(out).count() == total


@pytest.mark.parametrize("n_buckets, empty_input, n_empty", [(4, True, 4), (64, False, 44)])
def test_checkpoint_buckets_without_rows(spark, tmp_path, n_buckets, empty_input, n_empty):
    """A bucket that gets no rows is done with 0 rows and a null checksum:
    every bucket of an empty input, and 44 of 64 buckets over 20
    conversations. Every entry equals a direct per-bucket aggregate of
    the input."""
    from network_feature_extractor_spark.datagen import generate_turns

    turns = generate_turns(spark, 20)
    if empty_input:
        turns = turns.limit(0)
    build = lambda df: per_turn_features(df).drop("text", "tool")  # noqa: E731
    m = checkpoint.run_resumable(
        turns, str(tmp_path / "out"), build, n_buckets=n_buckets, checksum_col="conv_id"
    )
    assert sorted(m, key=int) == [str(b) for b in range(n_buckets)]
    assert sum(v["rows"] == 0 for v in m.values()) == n_empty
    assert sum(v["rows"] for v in m.values()) == turns.count()

    direct = (
        turns.groupBy(checkpoint.bucket_col("conv_id", n_buckets).alias("b"))
        .agg(
            F.count("*").alias("rows"),
            F.countDistinct("conv_id").alias("n_keys"),
            F.sum(F.crc32(F.col("conv_id").cast("string"))).alias("checksum"),
        )
        .collect()
    )
    exp = {str(b): {"status": "done", "rows": 0, "n_keys": 0, "checksum": None}
           for b in range(n_buckets)}
    exp.update(
        {
            str(r["b"]): {"status": "done", "rows": r["rows"], "n_keys": r["n_keys"],
                          "checksum": r["checksum"]}
            for r in direct
        }
    )
    assert _stats(m) == exp


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
    """A run commits its pending buckets together. A crash, in ``build`` or
    inside a write task, loses only that run's pending buckets: finished
    buckets keep their manifest entries and files, ``per_turn`` holds only
    their rows, and the retry builds once and restores the lost buckets
    with the same rows and checksums."""
    out = str(tmp_path / "crashy")
    calls = {"n": 0}

    def build(df):
        calls["n"] += 1
        return per_turn_features(df).drop("text", "tool")

    def crash_in_build(df):
        raise RuntimeError("injected crash")

    def crash_in_write(df):
        boom = F.raise_error(F.lit("injected crash"))
        return build(df).withColumn("_boom", F.when(F.col("turn_idx") >= 0, boom))

    full = checkpoint.run_resumable(turns, out, build, n_buckets=4, checksum_col="conv_id")
    lost = ["1", "2"]
    kept = {b: v for b, v in full.items() if b not in lost}
    kept_files = {b: f for b, f in _bucket_files(out).items() if b[len("bucket="):] in kept}
    assert all(v["rows"] > 0 for v in full.values())

    for crash in (crash_in_build, crash_in_write):
        _drop_entries(out, lost)
        with pytest.raises(Exception, match="injected crash"):
            checkpoint.run_resumable(turns, out, crash, n_buckets=4, checksum_col="conv_id")
        assert json.load(open(os.path.join(out, "_manifest.json"))) == kept
        assert _bucket_files(out) == kept_files
        left = spark.read.parquet(out).groupBy("bucket").count().collect()
        assert {str(r["bucket"]): r["count"] for r in left} == {
            b: v["rows"] for b, v in kept.items()
        }

        n_before = calls["n"]
        m2 = checkpoint.run_resumable(turns, out, build, n_buckets=4, checksum_col="conv_id")
        assert calls["n"] == n_before + 1
        assert _stats(m2) == _stats(full)
        assert {b: f for b, f in _bucket_files(out).items() if b in kept_files} == kept_files
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
