"""Correctness checks, run outside every timed region.

Each check returns a list of failure messages (empty = passed). The
pandas oracle is the repository's independent reference,
``tests/oracle_pandas.py``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from network_feature_extractor_spark.functions.stats import epoch_seconds
from tests.oracle_pandas import asof_oracle, per_turn_oracle, session_features_oracle

ATOL = 1e-6
PREFIX_TURNS = 1000  # turns datagen numbers in time order, from 0
PER_TURN_COLS = [
    "iat", "iat_role", "session_id", "rt_len_mean", "rt_len_std",
    "rt_len_min", "rt_len_max",
]
SNAPSHOT_COLS = ["n_turns", "total_text_len", "len_mean", "len_std", "iat_mean", "duration"]


def summarize(enriched: DataFrame) -> dict:
    """Rows, leaked rows (attached snapshot not strictly before the turn)
    and an order-independent fingerprint, in one Spark job. Doubles are
    rounded to 6 places, the repository's oracle convention, so a
    different summation order cannot change the fingerprint."""
    cols = [
        F.round(F.col(f.name), 6) if isinstance(f.dataType, T.DoubleType) else F.col(f.name)
        for f in enriched.schema.fields
    ]
    leaked = F.col("asof_ts").isNotNull() & (F.col("asof_ts") >= epoch_seconds("ts"))
    row = enriched.agg(
        F.count("*").alias("rows"),
        F.sum(leaked.cast("long")).alias("leaked"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("fingerprint"),
    ).collect()[0]
    return {"rows": row["rows"], "leaked": row["leaked"] or 0, "fingerprint": str(row["fingerprint"])}


def sample_convs(meta: dict, seed: int, n_small: int = 3) -> list[str]:
    """The first hot conversation plus ``n_small`` others picked by seed."""
    rng = np.random.default_rng(seed)
    ids = meta["conv_ids"]
    small = [ids[i] for i in rng.choice(len(ids), size=4 * n_small, replace=False)]
    small = [c for c in small if c not in meta["hot_convs"]][:n_small]
    return meta["hot_convs"][:1] + small


def _close(a: pd.Series, b: pd.Series) -> np.ndarray:
    x, y = a.astype(float).to_numpy(), b.astype(float).to_numpy()
    return np.isclose(x, y, rtol=0.0, atol=ATOL, equal_nan=True)


def against_oracle(enriched: DataFrame, meta: dict, convs: list[str]) -> list[str]:
    """Per-turn windows and the strict as-of attach of the first
    ``PREFIX_TURNS`` turns of each of ``convs`` against the pandas oracle.

    A prefix is self-contained: every per-turn feature is a trailing
    window, and a session still open at the prefix's end closes at or after
    every turn in it, so no turn in the prefix may see it. The prefix keeps
    the oracle's row-by-row as-of attach to seconds on a hot conversation.
    """
    prev = [f"prev_{c}" for c in SNAPSHOT_COLS]
    got = (
        enriched.filter(F.col("conv_id").isin(convs) & (F.col("turn_idx") < PREFIX_TURNS))
        .select("conv_id", "turn_idx", *PER_TURN_COLS, "last_tool", *prev)
        .toPandas()
    )
    turns = (
        enriched.sparkSession.read.parquet(meta["path"])
        .filter(F.col("conv_id").isin(convs) & (F.col("turn_idx") < PREFIX_TURNS))
        .toPandas()
    )
    want = per_turn_oracle(turns)
    snaps = session_features_oracle(turns)
    snaps["snap_ts"] = pd.to_datetime(np.round(snaps["end_time"] * 1e6).astype("int64"), unit="us")
    attached = asof_oracle(turns, snaps, SNAPSHOT_COLS, strict=True)
    want = want.merge(attached, on=["conv_id", "turn_idx"])
    both = want.merge(got, on=["conv_id", "turn_idx"], suffixes=("_want", ""))
    errors = []
    if len(both) != len(turns) or len(got) != len(turns):
        errors.append(f"oracle: {len(got)} engine rows, {len(turns)} turns, {len(both)} matched")
    for c in PER_TURN_COLS:
        bad = ~_close(both[f"{c}_want"], both[c])
        if bad.any():
            errors.append(f"oracle: {c} differs on {int(bad.sum())} rows")
    for c in SNAPSHOT_COLS:
        bad = ~_close(both[c], both[f"prev_{c}"])
        if bad.any():
            errors.append(f"oracle: prev_{c} differs on {int(bad.sum())} rows")
    tools = both["last_tool_want"].fillna("") != both["last_tool"].fillna("")
    if tools.any():
        errors.append(f"oracle: last_tool differs on {int(tools.sum())} rows")
    return errors


def pipeline_output(summary: dict, first_fingerprint: str, meta: dict) -> list[str]:
    errors = []
    if summary["rows"] != meta["turns"]:
        errors.append(f"rows: {summary['rows']} output rows for {meta['turns']} input turns")
    if summary["leaked"]:
        errors.append(f"leakage: {summary['leaked']} rows attach a snapshot at or after ts")
    if summary["fingerprint"] != first_fingerprint:
        errors.append("fingerprint: output differs between two runs on the same input")
    return errors


def read_manifest(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "per_turn", "_manifest.json")) as f:
        return json.load(f)


def bucket_files(out_dir: str) -> dict[str, int]:
    """Every file of the per-turn output with its modification time."""
    root = os.path.join(out_dir, "per_turn")
    return {
        os.path.join(d, n): os.stat(os.path.join(d, n)).st_mtime_ns
        for d, _, names in os.walk(root)
        for n in names
        if not n.startswith("_")
    }


def job_output(manifest: dict, buckets: int, meta: dict) -> list[str]:
    errors = []
    if sorted(manifest) != sorted(str(b) for b in range(buckets)):
        errors.append(f"manifest: buckets {sorted(manifest)}, expected {buckets}")
    if any(v.get("status") != "done" for v in manifest.values()):
        errors.append("manifest: a bucket is not done")
    rows = sum(v.get("rows", 0) for v in manifest.values())
    if rows != meta["turns"]:
        errors.append(f"manifest: {rows} rows for {meta['turns']} input turns")
    return errors
