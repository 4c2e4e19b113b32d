"""Checkpoint/resume + per-partition lineage (SURVEY.md §4.4, north rule).

Spark gives task-level retry but not job-level resumability; the engine
adds it: the conv_id space is split into ``n_buckets`` stable hash
buckets (crc32-based so the bucketing itself is engine-portable), each
bucket is processed and written independently, and a JSON manifest
records per-bucket completion with row counts + a value checksum
(lineage). On restart, completed buckets are skipped.

At cluster scale each bucket is a fully parallel Spark job over ~1/n of
the conversations, so the unit of resume is coarse enough to amortize
job overhead and fine enough to bound lost work. The manifest doubles as
the per-partition metrics table (rows, convs, wall seconds per bucket).
"""

from __future__ import annotations

import json
import os
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
    """Process bucket-by-bucket with a resume manifest.

    ``build`` maps a turns subset -> feature frame. Each bucket writes to
    ``{out_dir}/bucket={b}`` and appends a manifest entry
    {rows, n_keys, checksum, seconds}. Already-completed buckets are
    skipped (idempotent restart).
    """
    os.makedirs(out_dir, exist_ok=True)
    manifest_path = os.path.join(out_dir, "_manifest.json")
    manifest: dict[str, dict] = {}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)

    turns = turns.withColumn("_bucket", bucket_col(key, n_buckets))
    for b in range(n_buckets):
        bk = str(b)
        if manifest.get(bk, {}).get("status") == "done":
            continue
        t0 = time.time()
        subset = turns.filter(F.col("_bucket") == b).drop("_bucket")
        out = build(subset)
        bucket_path = os.path.join(out_dir, f"bucket={b}")
        out.write.mode("overwrite").parquet(bucket_path)

        written = out.sparkSession.read.parquet(bucket_path)
        agg = [F.count("*").alias("rows"), F.countDistinct(key).alias("n_keys")]
        if checksum_col:
            agg.append(
                F.sum(F.crc32(F.col(checksum_col).cast("string"))).alias("checksum")
            )
        stats = written.agg(*agg).collect()[0].asDict()
        entry = {
            "status": "done",
            "rows": stats["rows"],
            "n_keys": stats["n_keys"],
            "checksum": stats.get("checksum"),
            "seconds": round(time.time() - t0, 3),
        }
        # atomic update: a crash mid-write must not corrupt the manifest
        # (a truncated _manifest.json would defeat crash-resume entirely)
        manifest[bk] = entry
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        os.replace(tmp, manifest_path)
    return manifest
