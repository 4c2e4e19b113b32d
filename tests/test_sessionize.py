import numpy as np

from network_feature_extractor_spark.operators import sessionize


def test_burst_stats_micro(spark, micro_turns):
    """ts 0/.1/.2: gaps ~.1 (epoch-double repr can land an ulp above .1,
    so use .15 to stay off the boundary) -> one burst of span .2."""
    got = sessionize.burst_stats(micro_turns, ["conv_id"], threshold=0.15).toPandas()
    assert got["burst_count"].iloc[0] == 1
    assert abs(got["burst_dur_max"].iloc[0] - 0.2) < 1e-6


def test_burst_stats_split(spark, turns, turns_pd):
    """Differential check vs a direct pandas islands implementation."""
    got = (
        sessionize.burst_stats(turns, ["conv_id"], threshold=0.1)
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )

    rows = []
    for conv_id, g in turns_pd.groupby("conv_id", sort=True):
        g = g.sort_values(["ts", "turn_idx"], kind="mergesort")
        ets = g["ts"].astype("datetime64[us]").astype("int64").to_numpy() / 1e6
        gaps = np.diff(ets, prepend=ets[0])
        island = np.cumsum(gaps > 0.1)
        durs = [ets[island == i].max() - ets[island == i].min() for i in np.unique(island)]
        rows.append((conv_id, len(durs), max(durs)))
    assert len(got) == len(rows)
    for (conv_id, n, mx), (_, r) in zip(rows, got.iterrows()):
        assert r["conv_id"] == conv_id
        assert r["burst_count"] == n, conv_id
        assert abs(r["burst_dur_max"] - mx) < 1e-6, conv_id


def _islands(ets: np.ndarray, threshold: float) -> np.ndarray:
    """0-based island id per row: split where the gap exceeds threshold."""
    return np.concatenate([[0], np.cumsum(np.diff(ets) > threshold)])


def test_active_idle_accounting(spark, turns, turns_pd):
    """The timing module per (conv, session) against a pandas islands
    oracle: 1.0 s activity islands give active/idle and subflows, 0.1 s
    islands give bursts."""
    from network_feature_extractor_spark.config import EngineConfig
    from network_feature_extractor_spark.plans.registry import MODULES

    got = (
        MODULES["timing_metrics"](sessionize.with_session_id(turns), EngineConfig())
        .toPandas()
        .set_index(["conv_id", "session_id"])
    )
    n_sessions = 0
    for conv_id, c in turns_pd.groupby("conv_id", sort=True):
        c = c.sort_values(["ts", "turn_idx"], kind="mergesort")
        ets_c = c["ts"].astype("datetime64[us]").astype("int64").to_numpy() / 1e6
        lens_c = c["text"].str.len().to_numpy(dtype=float)
        sids = _islands(ets_c, sessionize.SESSION_GAP_S)
        for sid in np.unique(sids):
            ets, lens = ets_c[sids == sid], lens_c[sids == sid]
            r = got.loc[(conv_id, sid)]
            n_sessions += 1
            act = _islands(ets, 1.0)
            gaps = np.diff(ets)
            idle = gaps[gaps > 1.0]
            spans = [np.ptp(ets[act == i]) for i in np.unique(act)]
            assert r["active_periods"] == len(spans) == r["subflow_count"], conv_id
            assert r["idle_periods"] == len(idle), conv_id
            assert abs(r["total_idle_time"] - idle.sum()) < 1e-5, conv_id
            assert abs(r["total_active_time"] - sum(spans)) < 1e-5, conv_id
            assert abs(r["subflow_turns_mean"] - len(ets) / len(spans)) < 1e-9, conv_id
            assert abs(r["subflow_chars_mean"] - lens.sum() / len(spans)) < 1e-9, conv_id
            burst = _islands(ets, 0.1)
            durs = [np.ptp(ets[burst == i]) for i in np.unique(burst)]
            assert r["burst_count"] == len(durs), conv_id
            assert abs(r["burst_dur_max"] - max(durs)) < 1e-6, conv_id
            assert abs(r["burst_dur_min"] - min(durs)) < 1e-6, conv_id
            assert abs(r["burst_dur_mean"] - np.mean(durs)) < 1e-6, conv_id
    assert n_sessions == len(got)


def test_session_gap_threshold_behaviour(spark, turns):
    """No session may contain an internal gap > threshold; consecutive
    sessions must be separated by > threshold."""
    from pyspark.sql import functions as F

    d = sessionize.with_session_id(turns, gap=300.0)
    bad_internal = d.filter(
        (F.col("gap_prev") > 300.0) & (F.col("session_id") == 0)
    )
    # gap>300 always increments session_id -> no row with gap>300 keeps
    # the previous session id. Verified per conv via window:
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    chk = d.withColumn("prev_sid", F.lag("session_id").over(w)).filter(
        F.col("prev_sid").isNotNull()
    )
    violations = chk.filter(
        ((F.col("gap_prev") > 300.0) & (F.col("session_id") == F.col("prev_sid")))
        | ((F.col("gap_prev") <= 300.0) & (F.col("session_id") != F.col("prev_sid")))
    ).count()
    assert violations == 0
    assert bad_internal.count() == 0


def test_deterministic_sample_rate_and_stability(spark):
    from network_feature_extractor_spark.functions.sampling import deterministic_sample

    df = spark.range(20_000).withColumnRenamed("id", "conv_id")
    s1 = deterministic_sample(df, 0.2, "conv_id")
    n1 = s1.count()
    assert abs(n1 / 20_000 - 0.2) < 0.02  # uniform md5 coin
    # deterministic: same subset every run
    assert s1.exceptAll(deterministic_sample(df, 0.2, "conv_id")).count() == 0
    # nested rates: the 10% sample is a subset of the 20% sample
    s2 = deterministic_sample(df, 0.1, "conv_id")
    assert s2.exceptAll(s1).count() == 0
    # rate 1.0 is identity
    assert deterministic_sample(df, 1.0, "conv_id").count() == 20_000


def test_pipeline_sampling_keeps_whole_conversations(spark, turns):
    from network_feature_extractor_spark.config import EngineConfig
    from network_feature_extractor_spark.plans.pipeline import run_pipeline

    cfg = EngineConfig(sample_rate=0.5, enabled_features=("basic_metrics",))
    enriched, _ = run_pipeline(turns, cfg)
    kept = enriched.select("conv_id").distinct()
    # every kept conversation is complete (turn counts match the input)
    full = turns.join(kept, "conv_id", "left_semi").groupBy("conv_id").count()
    got = enriched.groupBy("conv_id").count()
    diff = full.join(got, "conv_id").filter("full.count != got.count" if False else full["count"] != got["count"])
    assert diff.count() == 0
    assert 0 < kept.count() < turns.select("conv_id").distinct().count()


def test_fused_active_idle_subflows_equals_individual(spark, turns):
    """timing_stats derives active/idle and subflows from gap algebra in
    one pass; an explicit activity-island grouping (islands, then a lag
    over the islands for the idle gaps between them) must agree."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from network_feature_extractor_spark.functions.islands import with_island_id
    from network_feature_extractor_spark.functions.stats import epoch_seconds

    d = sessionize.with_session_id(turns)
    key = ["conv_id", "session_id"]
    cols = [
        "active_periods", "total_active_time", "idle_periods", "total_idle_time",
        "subflow_count", "subflow_turns_mean", "subflow_chars_mean",
    ]
    fused = (
        sessionize.timing_stats(d, key, activity_timeout=1.0)
        .select(*key, *cols)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )

    sub = with_island_id(d, key, "ts", 1.0, "_s", order_cols=["ts", "turn_idx"])
    per = sub.groupBy(*key, "_s").agg(
        F.min(epoch_seconds("ts")).alias("_t0"),
        F.max(epoch_seconds("ts")).alias("_t1"),
        F.count("*").alias("_t"),
        F.sum(F.length("text").cast("double")).alias("_c"),
    )
    w = Window.partitionBy(*key).orderBy("_s")
    per = per.withColumn("_idle", F.col("_t0") - F.lag("_t1").over(w))
    individual = (
        per.groupBy(*key)
        .agg(
            F.count("*").alias("active_periods"),
            F.sum(F.col("_t1") - F.col("_t0")).alias("total_active_time"),
            F.count("_idle").alias("idle_periods"),
            F.coalesce(F.sum("_idle"), F.lit(0.0)).alias("total_idle_time"),
            F.count("*").alias("subflow_count"),
            F.avg("_t").alias("subflow_turns_mean"),
            F.avg("_c").alias("subflow_chars_mean"),
        )
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert (fused[key] == individual[key]).all().all()
    for c in cols:
        assert np.allclose(fused[c].astype(float), individual[c].astype(float), atol=1e-5), c
