"""Structured Streaming variant: drive the session aggregation with a
file source + availableNow trigger and compare against the batch twin."""

import os

import pytest
from pyspark.sql import functions as F

from network_feature_extractor_spark.datagen import generate_turns
from network_feature_extractor_spark.streaming.sessions import (
    streaming_session_features,
)


@pytest.fixture(scope="module", autouse=True)
def _few_shuffle_partitions(spark):
    """Streaming state stores cost per (partition x micro-batch); keep the
    test session at 2 shuffle partitions for these queries."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.fixture(scope="module")
def turns_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("turns_stream"))
    generate_turns(spark, 30).repartition(3).write.mode("overwrite").parquet(d)
    return d


def test_streaming_sessions_match_batch(spark, turns_dir, tmp_path):
    batch = spark.read.parquet(turns_dir)
    schema = batch.schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(turns_dir)
    )
    agg = streaming_session_features(stream, gap="300 seconds", watermark="0 seconds")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = (
        spark.read.parquet(out_dir)
        .toPandas()
        .sort_values(["conv_id", "session_start"])
        .reset_index(drop=True)
    )

    exp = (
        batch.groupBy("conv_id", F.session_window("ts", "300 seconds").alias("sw"))
        .agg(F.count("*").cast("long").alias("n_turns"))
        .select("conv_id", F.col("sw.start").alias("session_start"), "n_turns")
        .toPandas()
        .sort_values(["conv_id", "session_start"])
        .reset_index(drop=True)
    )
    # append mode emits only watermark-closed windows; with watermark 0 and
    # availableNow, all windows older than the max event time flush. Compare
    # the emitted subset against the batch result.
    merged = got.merge(exp, on=["conv_id", "session_start"], suffixes=("_s", "_b"))
    assert len(merged) == len(got) and len(got) > 0
    assert (merged["n_turns_s"] == merged["n_turns_b"]).all()


def test_streaming_is_incremental(spark, turns_dir, tmp_path):
    """The file source respects maxFilesPerTrigger (bounded-queue analog
    S3): multiple micro-batches are executed, not one giant batch."""
    schema = spark.read.parquet(turns_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(turns_dir)
    )
    counts = stream.groupBy().count()
    q = (
        counts.writeStream.format("memory")
        .queryName("inc_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    progress = q.recentProgress
    assert len(progress) >= 1
    total = spark.sql("select * from inc_counts").collect()[0][0]
    assert total == spark.read.parquet(turns_dir).count()


def test_stateful_running_counts(spark, turns_dir, tmp_path):
    """applyInPandasWithState: final per-conv running counts must equal
    the batch ground truth even with state carried across micro-batches."""
    from network_feature_extractor_spark.streaming.stateful import running_conv_state

    schema = spark.read.parquet(turns_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # force several micro-batches
        .parquet(turns_dir)
    )
    out = running_conv_state(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("conv_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    # processing-time timers keep the query alive after the data drains;
    # poll until all input files are processed, then stop explicitly
    import time as _time

    deadline = _time.time() + 240
    while _time.time() < deadline:
        p = q.lastProgress
        if p and p["numInputRows"] == 0 and not q.status["isDataAvailable"]:
            break
        _time.sleep(2)
    q.stop()
    q.awaitTermination(60)

    got = spark.sql(
        """
        SELECT conv_id, n_turns, total_text_len FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY n_turns DESC) rn
          FROM conv_state) WHERE rn = 1
        """
    ).toPandas().set_index("conv_id")

    from pyspark.sql import functions as F

    exp = (
        spark.read.parquet(turns_dir)
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("text")).alias("total_text_len"),
        )
        .toPandas()
        .set_index("conv_id")
    )
    assert len(got) == len(exp)
    for cid in exp.index:
        assert got.loc[cid, "n_turns"] == exp.loc[cid, "n_turns"], cid
        assert got.loc[cid, "total_text_len"] == exp.loc[cid, "total_text_len"], cid


def _null_some(snapshots):
    """snap_value = f_a, null on every third generated snapshot of a conv
    (f_b = conv index + j / 100 for the j-th)."""
    keep = F.round(F.col("f_b") * 100) % 3 != 1
    return snapshots.select(
        "conv_id", "snap_ts", F.when(keep, F.col("f_a")).alias("snap_value")
    )


def test_streaming_asof_matches_batch(spark, tmp_path):
    """Streaming point-in-time attach == batch asof_join on the same
    drained input, including cross-micro-batch snapshot carry (two
    time-ranged files, one file per trigger) and null-valued snapshots,
    which attach null rather than an older snapshot's value."""
    import time

    from network_feature_extractor_spark.datagen import generate_snapshots, generate_turns
    from network_feature_extractor_spark.operators.asof import asof_join
    from network_feature_extractor_spark.streaming.asof_stream import (
        TAGGED_SCHEMA,
        streaming_asof_attach,
        tag_for_asof,
    )

    turns = generate_turns(spark, 20).select("conv_id", "turn_idx", "ts")
    snaps = _null_some(generate_snapshots(spark, 20))
    tagged = tag_for_asof(turns, snaps, "snap_value").cache()

    # split on the median ts -> two event-time-ordered files; distinct
    # mtimes so the file source triggers them in order
    mid = tagged.selectExpr("percentile(cast(ts as double), 0.5) p").collect()[0]["p"]
    src = str(tmp_path / "tagged")
    tagged.filter(F.col("ts").cast("double") <= mid).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    time.sleep(1.1)
    tagged.filter(F.col("ts").cast("double") > mid).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(TAGGED_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        streaming_asof_attach(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = (
        spark.read.parquet(out_dir)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = (
        asof_join(
            turns, snaps, key="conv_id", left_ts="ts", right_ts="snap_ts",
            value_cols=["snap_value"], strict=True,
        )
        .select("conv_id", "turn_idx", "snap_value", "asof_ts")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert (got["conv_id"] == exp["conv_id"]).all()
    # non-vacuity: some turns attach a matched snapshot whose value is null
    assert (exp["asof_ts"].notna() & exp["snap_value"].isna()).any()
    for c in ("snap_value", "asof_ts"):
        import numpy as np

        assert np.allclose(
            got[c].astype(float), exp[c].astype(float), atol=1e-6, equal_nan=True
        ), c


def _drain_until_rows(spark, q, out_dir, expected, deadline_s=240):
    """Poll the streaming sink until `expected` rows land (processing-time
    timers keep availableNow queries alive; CLAUDE.md gotcha), then stop."""
    import time as _time

    deadline = _time.time() + deadline_s
    n = -1
    while _time.time() < deadline:
        try:
            n = spark.read.parquet(out_dir).count()
        except Exception:
            n = 0
        if n >= expected:
            break
        _time.sleep(2)
    q.stop()
    q.awaitTermination(60)
    return n


def test_streaming_asof_buffered_exact_under_shuffled_files(spark, tmp_path):
    """Property: with delay >= the stream's total event-time disorder, the
    buffered attach equals batch asof_join EXACTLY even when rows are
    randomly shuffled across micro-batch files (snapshots landing many
    batches after later-event-time turns), null snapshot values included."""
    import time

    import numpy as np
    from pyspark.sql import functions as F

    from network_feature_extractor_spark.datagen import generate_snapshots, generate_turns
    from network_feature_extractor_spark.operators.asof import asof_join
    from network_feature_extractor_spark.streaming.asof_stream import (
        TAGGED_SCHEMA,
        streaming_asof_attach_buffered,
        tag_for_asof,
    )

    turns = generate_turns(spark, 15).select("conv_id", "turn_idx", "ts")
    snaps = _null_some(generate_snapshots(spark, 15))
    n_turns = turns.count()
    tagged_pd = tag_for_asof(turns, snaps, "snap_value").toPandas()
    # deterministic arbitrary shuffle -> 4 files, one per trigger
    rng = np.random.default_rng(42)
    tagged_pd = tagged_pd.iloc[rng.permutation(len(tagged_pd))].reset_index(drop=True)
    src = str(tmp_path / "tagged_shuffled")
    for i, chunk in enumerate(np.array_split(np.arange(len(tagged_pd)), 4)):
        spark.createDataFrame(tagged_pd.iloc[chunk], schema=TAGGED_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes -> stable trigger order

    stream = (
        spark.readStream.schema(TAGGED_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out_dir, ckpt = str(tmp_path / "out_buf"), str(tmp_path / "ckpt_buf")
    q = (
        streaming_asof_attach_buffered(stream, delay_s=1e9, flush_after_ms=3000)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    n = _drain_until_rows(spark, q, out_dir, n_turns)
    assert n == n_turns, f"expected {n_turns} turns, sink has {n}"

    got = (
        spark.read.parquet(out_dir)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = (
        asof_join(
            turns, snaps, key="conv_id", left_ts="ts", right_ts="snap_ts",
            value_cols=["snap_value"], strict=True,
        )
        .select("conv_id", "turn_idx", "snap_value", "asof_ts")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert (got["conv_id"] == exp["conv_id"]).all()
    # non-vacuity: some turns attach a matched snapshot whose value is null
    assert (exp["asof_ts"].notna() & exp["snap_value"].isna()).any()
    for c in ("snap_value", "asof_ts"):
        assert np.allclose(
            got[c].astype(float), exp[c].astype(float), atol=1e-6, equal_nan=True
        ), c


def test_streaming_asof_buffered_watermark_path_late_snapshot(spark, tmp_path):
    """A snapshot delivered one micro-batch AFTER later-event-time turns
    still attaches via the watermark path (disorder < delay), with most
    rows emitted by watermark advance rather than the quiet-flush."""
    import time
    from datetime import datetime, timedelta

    import numpy as np
    from pyspark.sql import functions as F, Row

    from network_feature_extractor_spark.operators.asof import asof_join
    from network_feature_extractor_spark.streaming.asof_stream import (
        TAGGED_SCHEMA,
        streaming_asof_attach_buffered,
    )

    t0 = datetime(2024, 1, 1)

    def turn(ts_s, idx):
        return Row(conv_id="c1", kind=0, ts=t0 + timedelta(seconds=ts_s),
                   turn_idx=idx, snap_value=None)

    def snap(ts_s, v):
        return Row(conv_id="c1", kind=1, ts=t0 + timedelta(seconds=ts_s),
                   turn_idx=None, snap_value=v)

    # file 1: turns 0..90 (event time), NO snapshot yet
    f1 = [turn(s, i) for i, s in enumerate(range(0, 100, 10))]
    # file 2: the LATE snapshot at t=45 + turns 100..120
    f2 = [snap(45.0, 7.0)] + [turn(100 + s, 10 + i) for i, s in enumerate((0, 10, 20))]
    src = str(tmp_path / "tagged_late")
    for rows in (f1, f2):
        spark.createDataFrame(rows, schema=TAGGED_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(TAGGED_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out_dir, ckpt = str(tmp_path / "out_late"), str(tmp_path / "ckpt_late")
    q = (
        streaming_asof_attach_buffered(stream, delay_s=50.0, flush_after_ms=3000)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    n = _drain_until_rows(spark, q, out_dir, 13)
    assert n == 13

    got = (
        spark.read.parquet(out_dir)
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    all_rows = f1 + f2
    turns_df = spark.createDataFrame(
        [r for r in all_rows if r.kind == 0], schema=TAGGED_SCHEMA
    ).select("conv_id", "turn_idx", "ts")
    snaps_df = spark.createDataFrame(
        [r for r in all_rows if r.kind == 1], schema=TAGGED_SCHEMA
    ).select("conv_id", F.col("ts").alias("snap_ts"), "snap_value")
    exp = (
        asof_join(
            turns_df, snaps_df, key="conv_id", left_ts="ts", right_ts="snap_ts",
            value_cols=["snap_value"], strict=True,
        )
        .select("turn_idx", "snap_value")
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    assert np.allclose(
        got["snap_value"].astype(float), exp["snap_value"].astype(float),
        atol=1e-9, equal_nan=True,
    )
    # the late snapshot attached to every turn strictly after t=45
    attached = got[got["turn_idx"] >= 5]["snap_value"]
    assert (attached == 7.0).all()


def test_streaming_exact_dedup_within_watermark(spark, tmp_path):
    """Within-horizon duplicates collapse to one surviving row per
    content hash; distinct texts all pass. State is per-hash, expired by
    the watermark (the flow-cache-eviction analog)."""
    from datetime import datetime, timedelta

    from network_feature_extractor_spark.datagen import TURNS_SCHEMA
    from network_feature_extractor_spark.streaming.dedup_stream import (
        streaming_exact_dedup,
    )

    t0 = datetime(2024, 1, 1)
    rows = []
    # 12 docs: 4 distinct texts, each duplicated 3x within a minute
    for i in range(12):
        rows.append(
            (
                f"c{i}", i, "user", f"text-{i % 4}", None,
                t0 + timedelta(seconds=5 * i),
            )
        )
    src = str(tmp_path / "docs_src")
    spark.createDataFrame(rows, schema=TURNS_SCHEMA).repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(TURNS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    deduped = streaming_exact_dedup(stream, watermark="10 minutes")
    out_dir = str(tmp_path / "dd_out")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = spark.read.parquet(out_dir).toPandas()
    assert len(got) == 4  # one survivor per distinct text
    assert sorted(got["text"].unique()) == [f"text-{i}" for i in range(4)]


def test_streaming_tolerance_gate_matches_batch(spark, tmp_path):
    """streaming attach -> stateless TTL gate == batch asof_join ->
    tolerance_gate on the same drained input: staleness flags and
    nulled values identical (the gate never adds streaming state, so
    parity reduces to the attach parity already proven above plus an
    identical projection)."""
    import time

    import numpy as np

    from network_feature_extractor_spark.datagen import generate_snapshots, generate_turns
    from network_feature_extractor_spark.operators.asof import asof_join, tolerance_gate
    from network_feature_extractor_spark.streaming.asof_stream import (
        TAGGED_SCHEMA,
        streaming_asof_attach,
        streaming_tolerance_gate,
        tag_for_asof,
    )

    TOL = 60.0
    turns = generate_turns(spark, 20).select("conv_id", "turn_idx", "ts")
    snaps = _null_some(generate_snapshots(spark, 20))
    tagged = tag_for_asof(turns, snaps, "snap_value").cache()
    mid = tagged.selectExpr("percentile(cast(ts as double), 0.5) p").collect()[0]["p"]
    src = str(tmp_path / "tagged")
    tagged.filter(F.col("ts").cast("double") <= mid).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    time.sleep(1.1)
    tagged.filter(F.col("ts").cast("double") > mid).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(TAGGED_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        streaming_tolerance_gate(streaming_asof_attach(stream), tolerance_s=TOL)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = (
        spark.read.parquet(out_dir)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = (
        tolerance_gate(
            asof_join(
                turns, snaps, key="conv_id", left_ts="ts", right_ts="snap_ts",
                value_cols=["snap_value"], strict=True,
            ),
            left_ts="ts",
            value_cols=["snap_value"],
            tolerance_s=TOL,
        )
        .select("conv_id", "turn_idx", "snap_value", "asof_ts", "asof_stale")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert (got["conv_id"] == exp["conv_id"]).all()
    # non-vacuity: the fixture must exercise stale AND fresh turns
    assert exp["asof_stale"].any() and (~exp["asof_stale"]).any()
    assert (got["asof_stale"].to_numpy() == exp["asof_stale"].to_numpy()).all()
    for c in ("snap_value", "asof_ts"):
        assert np.allclose(
            got[c].astype(float), exp[c].astype(float), atol=1e-6, equal_nan=True
        ), c
