#!/usr/bin/env python
"""Production job entrypoint.

    spark-submit --py-files engine.zip jobs/run_features.py \
        --input  /data/turns_iceberg_or_parquet \
        --output /data/features \
        --session-gap 300 --buckets 64

Reads the turns table, runs the full feature pipeline (per-turn windowed
features -> session snapshots -> strict as-of attach), writes partitioned
parquet + per-bucket manifest (resumable), and a per-partition lineage
metrics table. On a cluster the SparkSession comes from spark-submit; in
local dev it falls back to the engine's local builder.

One run builds the pipeline once over every bucket its manifest does not
mark done and writes them in one ``per_turn/bucket=b`` partitioned write.
Rerunning the same command resumes: it skips done buckets. A crash loses
that run's pending buckets, not finished ones. Each manifest entry's
``seconds`` is the wall time of the write that built the bucket, shared
by all buckets of that run.

The job does not land the per-turn table (``run_pipeline`` without
``materialize_dir``), so each snapshot module recomputes the per-turn
windows. Landing it was measured not to pay on 12k turns, 2 buckets and
4 cores, in 4 alternating pairs of warm runs with the same manifest
checksums: 12.3-17.7 s unlanded against 13.3-15.6 s landed when each
bucket was built alone, and medians 6.12 s unlanded against 6.09 s landed
with one build per run. Landing adds a second write of the per-turn rows.

Build engine.zip:  cd repo && zip -r engine.zip network_feature_extractor_spark
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--config", help="reference-shaped YAML config (overrides flags)")
    ap.add_argument("--session-gap", type=float, default=300.0)
    ap.add_argument("--rolling-k", type=int, default=5)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--fft", action="store_true")
    ap.add_argument("--hot-threshold", type=int, default=100_000)
    ap.add_argument("--sample-rate", type=float, default=1.0,
                    help="deterministic conv-sample rate (network.sampling analog)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from network_feature_extractor_spark.config import EngineConfig
    from network_feature_extractor_spark.plans import checkpoint, lineage
    from network_feature_extractor_spark.plans.pipeline import run_pipeline
    from network_feature_extractor_spark.session import get_spark

    spark = SparkSession.getActiveSession() or get_spark(app_name="transcript-features")
    if args.config:
        from network_feature_extractor_spark.config_yaml import load_config

        cfg = load_config(args.config)
    else:
        cfg = EngineConfig(
            session_gap_s=args.session_gap,
            rolling_k=args.rolling_k,
            fft_enabled=args.fft,
            asof_hot_threshold=args.hot_threshold,
            checkpoint_buckets=args.buckets,
            sample_rate=args.sample_rate,
        )

    turns = spark.read.parquet(args.input)

    def build(subset):
        enriched, _ = run_pipeline(subset, cfg)
        return enriched

    # --config supplies checkpoint_buckets; CLI --buckets only applies
    # when no config file is given (flags feed EngineConfig above)
    manifest = checkpoint.run_resumable(
        turns,
        os.path.join(args.output, "per_turn"),
        build,
        key="conv_id",
        n_buckets=cfg.checkpoint_buckets,
        checksum_col="conv_id",
    )

    metrics = lineage.partition_metrics(turns)
    metrics.write.mode("overwrite").parquet(os.path.join(args.output, "_lineage"))

    print(json.dumps({"buckets_done": len(manifest),
                      "rows": sum(v["rows"] for v in manifest.values())}))


if __name__ == "__main__":
    main()
