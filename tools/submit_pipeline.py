"""spark-submit entry point for the full ER pipeline.

Deployment (north_rule: spark-submit --py-files at 10^12-file scale):

    zip -r entitylinking_spark.zip entitylinking_spark/
    spark-submit \
      --py-files entitylinking_spark.zip \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.shuffle.partitions=<2-3x total executor cores> \
      tools/submit_pipeline.py \
      --input  catalog.db.repo_files \
      --output catalog.db.repo_clusters \
      --checkpoint-dir s3://bucket/ckpt/run1 \
      --metrics-out s3a-or-local/metrics.json

`--input`/`--output` accept either a table name (Iceberg/HMS catalog) or a
parquet path. The job is resumable: rerunning with the same
--checkpoint-dir skips completed stages.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession

# local runs: make the package importable from the repo root; under
# spark-submit --py-files the zip on PYTHONPATH wins and this is a no-op
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _read(spark: SparkSession, ref: str):
    if "/" in ref or ref.endswith(".parquet"):
        return spark.read.parquet(ref)
    return spark.read.table(ref)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="table name or parquet path")
    ap.add_argument("--output", required=True, help="table name or parquet path")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--metrics-out", default=None)
    ap.add_argument("--id-col", default=None)
    ap.add_argument("--tau", type=float, default=None)
    ap.add_argument("--num-perm", type=int, default=None)
    ap.add_argument("--block-cap", type=int, default=None)
    ap.add_argument("--skip-block-threshold", type=int, default=None)
    args = ap.parse_args()

    from entitylinking_spark.operators.blocking import ERConfig
    from entitylinking_spark.plans.pipeline import resolve
    from entitylinking_spark.session import CODEGEN_CACHE_ENTRIES

    overrides = {
        k: v
        for k, v in {
            "tau": args.tau,
            "num_perm": args.num_perm,
            "block_cap": args.block_cap,
            "skip_block_threshold": args.skip_block_threshold,
        }.items()
        if v is not None
    }
    cfg = ERConfig(**overrides)

    # static conf: it must be set before the session starts
    spark = (
        SparkSession.builder.appName("entitylinking-resolve")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )
    repo_files = _read(spark, args.input)
    res = resolve(
        repo_files, cfg, id_col=args.id_col, checkpoint_dir=args.checkpoint_dir
    )
    if "/" in args.output or args.output.endswith(".parquet"):
        res.clusters.write.mode("overwrite").parquet(args.output)
    else:
        res.clusters.writeTo(args.output).createOrReplace()
    if args.metrics_out:
        with open(args.metrics_out, "w") as f:
            f.write(res.metrics.to_json())
    print(json.dumps({"status": "ok", "stages": len(res.metrics.stages)}))


if __name__ == "__main__":
    main()
