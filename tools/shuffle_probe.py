"""Shuffle-payload probe: wall + bytes shuffled for the ER pipeline,
hashed-gram verify join vs string-gram (round-3 verdict #4 evidence).

Usage: python tools/shuffle_probe.py --variant hashed|string
       [--rows 200000] [--cpus 16] [--verify-ngram 3]

Runs ONE resolve() over the deterministic bench table with the verify
space either as int64-hashed grams (current code) or the round-3
string grams (monkeypatched back in), and reports total shuffle
read/write bytes from the Spark status REST API (UI enabled for the
probe only). One variant per process — cold JVM each.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.scaling_run import gen  # noqa: E402


def rest(path: str):
    with urllib.request.urlopen(f"http://localhost:4040/api/v1/{path}") as r:
        return json.load(r)


def shuffle_totals() -> dict:
    app_id = rest("applications")[0]["id"]
    stages = rest(f"applications/{app_id}/stages?status=complete")
    return {
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
        "n_stages": len(stages),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--variant", choices=["hashed", "string"], required=True)
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--cpus", type=int, default=16)
    ap.add_argument("--verify-ngram", type=int, default=3)
    args = ap.parse_args()

    path = gen(args.rows)

    if args.variant == "string":
        # round-3 behavior: plain string grams through the verify joins
        import entitylinking_spark.operators.scoring as scoring
        from entitylinking_spark.functions import strings

        scoring.ngram_hash_set = strings.ngram_set

    from entitylinking_spark.operators.blocking import ERConfig
    from entitylinking_spark.plans.pipeline import resolve
    from entitylinking_spark.session import get_spark

    spark = get_spark(app_name=f"shuffle-probe-{args.variant}",
                      cores=args.cpus, shuffle_partitions=64,
                      extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(path)
    cfg = ERConfig(verify_ngram=args.verify_ngram)

    t0 = time.time()
    res = resolve(df, cfg, id_col="row_id")
    n_pairs = res.scored_pairs.count()
    n_rows = res.clusters.count()
    wall = time.time() - t0
    out = {
        "variant": args.variant, "rows": n_rows, "pairs": n_pairs,
        "cpus": args.cpus, "verify_ngram": args.verify_ngram,
        "wall_s": round(wall, 2), **shuffle_totals(),
    }
    res.unpersist()
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
