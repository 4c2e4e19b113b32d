"""Checkpoint/resume + per-partition lineage (SURVEY.md §4.4, north rule).

Spark gives task-level retry but not job-level resumability; the engine
adds it: the conv_id space is split into ``n_buckets`` stable hash
buckets (crc32-based so the bucketing itself is engine-portable), and a
JSON manifest records per-bucket completion (lineage). One run builds
one plan over all pending buckets (those not ``done`` in the manifest)
and lands it with one ``partitionBy("bucket")`` write under dynamic
partition overwrite, so the plan, its hot-key probes and the write are
paid once per run, not once per bucket, and done buckets' files are
never touched. The resume unit is one bucket; the commit unit is one
run: a crash loses that run's pending buckets, which the next run
rebuilds. The manifest doubles as the per-partition metrics table: rows,
keys, a value checksum, and the wall seconds of the write that built it.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucket_col(key: str, n_buckets: int):
    return F.crc32(F.col(key).cast("string")) % n_buckets


def run_resumable(
    turns: DataFrame,
    out_dir: str,
    build: Callable[[DataFrame], DataFrame],
    key: str = "conv_id",
    n_buckets: int = 16,
    checksum_col: str | None = None,
) -> dict:
    """Build and write every pending bucket at once, with a resume manifest.

    ``build`` maps a turns subset -> feature frame that keeps ``key``; it
    is called once per run, on the pending buckets' turns. Bucket ``b``
    lands in ``{out_dir}/bucket={b}`` and gets a manifest entry
    {rows, n_keys, checksum, seconds}; a bucket with no rows gets 0 rows
    and a null checksum. Done buckets are skipped (idempotent restart).
    """
    os.makedirs(out_dir, exist_ok=True)
    manifest_path = os.path.join(out_dir, "_manifest.json")
    manifest: dict[str, dict] = {}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
    pending = [b for b in range(n_buckets) if manifest.get(str(b), {}).get("status") != "done"]
    if not pending:
        return manifest
    for b in pending:  # no old rows survive a failed write or a now-empty bucket
        shutil.rmtree(os.path.join(out_dir, f"bucket={b}"), ignore_errors=True)

    t0 = time.time()
    out = build(turns.filter(bucket_col(key, n_buckets).isin(pending)))
    out = out.withColumn("bucket", bucket_col(key, n_buckets))
    writer = out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    writer.partitionBy("bucket").parquet(out_dir)
    seconds = round(time.time() - t0, 3)

    # the schema keeps the read valid when no pending bucket got a row
    written = out.sparkSession.read.schema(out.schema).parquet(out_dir)
    agg = [F.count("*").alias("rows"), F.countDistinct(key).alias("n_keys")]
    if checksum_col:
        agg.append(F.sum(F.crc32(F.col(checksum_col).cast("string"))).alias("checksum"))
    rows = written.filter(F.col("bucket").isin(pending)).groupBy("bucket").agg(*agg).collect()
    stats = {r["bucket"]: r.asDict() for r in rows}
    for b in pending:
        s = stats.get(b, {"rows": 0, "n_keys": 0})
        manifest[str(b)] = {"status": "done", "rows": s["rows"], "n_keys": s["n_keys"],
                            "checksum": s.get("checksum"), "seconds": seconds}
    # atomic update: a crash mid-write must not corrupt the manifest
    # (a truncated _manifest.json would defeat crash-resume entirely)
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    os.replace(tmp, manifest_path)
    return manifest
