"""Per-stage lineage + metrics (rows in/out, comparisons, skew factor).

The reference reports progress as prints (/root/reference/Sparkle/core.py:75)
and accuracy-only eval scripts; north_rule requires per-partition lineage +
metrics instead. Collected driver-side as plain dicts (resolve() observes
them on actions it runs anyway), serializable to JSON next to the checkpoints.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import Column, Observation, functions as F

_BLOCK_FIELDS = ("n_blocks", "comparisons", "max_block", "mean_block",
                 "max_cmps", "mean_cmps", "n_salted", "n_skipped")


class MetricsCollector:
    def __init__(self):
        self.stages: list[dict] = []
        self._t0 = time.time()

    def record(self, stage: str, **kv) -> dict:
        entry = {"stage": stage, "t_offset_s": round(time.time() - self._t0, 3), **kv}
        self.stages.append(entry)
        return entry

    def to_json(self) -> str:
        return json.dumps({"stages": self.stages}, default=float)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            f.write(self.to_json())


def census_aggregates(cap: int, skip_threshold: int) -> list[Column]:
    """The block-census aggregate, one definition for `census.agg` and
    `census.observe`: comparisons = sum over kept blocks of C(size,2);
    max/mean comparisons give the skew factor salting bounds per join task;
    n_hot (cap < size <= skip) gates candidate_pairs' salted branch."""
    size = F.col("block_size")
    cmps = size * (size - 1) / 2
    return [
        F.count("*").alias("n_blocks"),
        F.sum(F.when(size > skip_threshold, 0).otherwise(cmps)).alias("comparisons"),
        F.max(size).alias("max_block"),
        F.avg(size).alias("mean_block"),
        F.max(cmps).alias("max_cmps"),
        F.avg(cmps).alias("mean_cmps"),
        F.sum((size > cap).cast("long")).alias("n_salted"),
        F.sum((size > skip_threshold).cast("long")).alias("n_skipped"),
        F.sum(((size > cap) & (size <= skip_threshold)).cast("long")).alias("n_hot"),
    ]


def block_record(row: dict) -> dict:
    """The `blocks` record (floats + skew factor) from a census_aggregates
    row; {} is the row of an empty census."""
    d = {k: None if row.get(k) is None else float(row[k]) for k in _BLOCK_FIELDS}
    d["n_blocks"] = d["n_blocks"] or 0.0
    d["skew_factor"] = d["max_cmps"] / d["mean_cmps"] if d["mean_cmps"] else 0.0
    return d


def observed(obs: Observation) -> dict | None:
    """`obs.get`, waiting for its first action; None if it was never
    attached (its stage was resumed), {} if that action ran no task over it
    (empty input: `get` cannot convert Spark's empty row)."""
    if obs._jo is None:
        return None
    return {} if obs._jo.getRow().length() == 0 else obs.get
