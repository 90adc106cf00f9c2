"""One session of the ER scaling protocol (BASELINE.md).

Usage: python tools/scaling_run.py --cpus 8 [--rows 200000] [--reps 3] [--gen-only]

First call with --gen-only writes the deterministic bench table (seed=42,
10k-row parquet groups) to .bench_cache/. A measured session starts a fresh
SparkSession at the given parallelism, runs ONE untimed warmup pass (JVM
JIT + codegen + python-worker spawn — identical fixed cost at every
parallelism, excluded so the ratio measures throughput), then `reps` timed
full-pipeline runs. Prints one JSON line with all rep times.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CACHE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_cache")


def gen(rows: int) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from entitylinking_spark.synthdata import generate_repo_files

    path = os.path.join(CACHE, f"repo_files_{rows}.parquet")
    if not os.path.exists(path):
        os.makedirs(CACHE, exist_ok=True)
        fx = generate_repo_files(rows, seed=42)
        # small row groups: parquet cannot split below row-group boundaries,
        # and a single 400 MB row group serializes the whole scan (and every
        # Arrow UDF above it) into ONE task
        pq.write_table(
            pa.Table.from_pandas(fx.rows, preserve_index=False), path,
            row_group_size=10_000,
        )
    return path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--gen-only", action="store_true")
    # CPU-heavy config (verdict r2 #10): verify_ngram=3 multiplies the
    # verify-join compute so the run leaves the memory-bandwidth-bound
    # regime — used to test where 8->32 speedup recovers on this one-VM box
    ap.add_argument("--verify-ngram", type=int, default=None)
    # round-5 keys-stage experiment: Arrow batch size override (None =
    # whatever session.py ships)
    ap.add_argument("--arrow-batch", type=int, default=None)
    args = ap.parse_args()

    path = gen(args.rows)
    if args.gen_only:
        print(json.dumps({"generated": path}))
        return

    from entitylinking_spark.operators.blocking import ERConfig
    from entitylinking_spark.plans.pipeline import resolve
    from entitylinking_spark.session import get_spark

    # identical config at both parallelism levels (only the core count
    # varies) — per the BASELINE.md protocol
    extra = {}
    if args.arrow_batch is not None:
        extra["spark.sql.execution.arrow.maxRecordsPerBatch"] = str(args.arrow_batch)
    spark = get_spark(app_name=f"scaling-{args.cpus}", cores=args.cpus,
                      shuffle_partitions=64, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(path)

    cfg = ERConfig() if args.verify_ngram is None else ERConfig(verify_ngram=args.verify_ngram)

    def one_run():
        t0 = time.time()
        res = resolve(df, cfg, id_col="row_id")
        n_pairs = res.scored_pairs.count()
        n_rows = res.clusters.count()
        dt = time.time() - t0
        res.unpersist()
        return dt, n_pairs, n_rows

    warmup_s, n_pairs, n_rows = one_run()
    walls = [round(one_run()[0], 2) for _ in range(args.reps)]
    med = sorted(walls)[len(walls) // 2]
    print(json.dumps({
        "cpus": args.cpus, "rows": n_rows, "pairs": n_pairs,
        "verify_ngram": args.verify_ngram,
        "warmup_s": round(warmup_s, 2), "wall_s_reps": walls,
        "wall_s": med, "pairs_per_sec": round(n_pairs / med, 1),
        # rows/sec is the scale-meaningful throughput: round 2 cut pair
        # volume 34x on purpose, so pairs/sec alone is not comparable
        # across rounds
        "rows_per_sec": round(n_rows / med, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
