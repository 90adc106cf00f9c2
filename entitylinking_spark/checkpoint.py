"""Stage checkpointing with resume.

The reference's resumability is file-per-stage JSONL (run.sh stages —
/root/reference/run.sh:1-9, stage table in /root/reference/README.md:24-32):
each step writes a named file, later steps read it, re-running skips nothing
automatically. Here the same idea becomes checkpoint tables with completion
markers: a stage whose marker exists is read back instead of recomputed, so
a killed run resumes from the last complete stage (north_rule).

Backend: partitioned Parquet + a driver-written `_STAGE_COMPLETE` JSON
marker per stage, which also carries the stage's config/input fingerprint.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession


class CheckpointStore:
    def __init__(self, root: str | None, spark: SparkSession):
        """root=None disables checkpointing (pure in-memory run)."""
        self.root = root
        self.spark = spark
        if root:
            os.makedirs(root, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _marker(self, stage: str) -> str:
        return os.path.join(self.root, stage, "_STAGE_COMPLETE")

    # -- api --------------------------------------------------------------
    @property
    def enabled(self) -> bool:
        return self.root is not None

    def is_complete(self, stage: str, fingerprint: str | None = None) -> bool:
        """Complete AND (when a fingerprint is given) written under the same
        config/input fingerprint. A marker from a different fingerprint is
        stale — round-1 advice: resume keyed on stage name alone silently
        returned tables computed with a different ERConfig or input. A
        marker read failure is treated as stale (recompute), never as
        complete.
        """
        if not (self.enabled and os.path.exists(self._marker(stage))):
            return False
        if fingerprint is None:
            return True
        try:
            with open(self._marker(stage)) as f:
                meta = json.load(f)
        except Exception:
            return False
        return meta.get("fingerprint") == fingerprint

    def write(self, stage: str, df: DataFrame, meta: dict | None = None) -> DataFrame:
        """Write `df` as the stage table, mark complete, return a fresh read.

        Returning the re-read DataFrame (not `df`) truncates lineage for all
        downstream stages — the same reason the reference rereads its stage
        files.
        """
        if not self.enabled:
            return df
        path = self._dir(stage)
        if os.path.exists(path):
            shutil.rmtree(path)
        df.write.mode("overwrite").parquet(path)
        with open(self._marker(stage), "w") as f:
            json.dump({"stage": stage, "completed_at": time.time(), **(meta or {})}, f)
        return self.spark.read.parquet(path)

    def read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._dir(stage))

    def get_or_compute(self, stage: str, compute,
                       fingerprint: str | None = None) -> DataFrame:
        """Read the stage if complete (and fingerprint-matched), else
        compute() -> write -> re-read. A stale stage (marker exists, wrong
        fingerprint) is invalidated and recomputed."""
        if self.is_complete(stage, fingerprint=fingerprint):
            return self.read(stage)
        if self.enabled and os.path.exists(self._marker(stage)):
            self.invalidate(stage)
        meta = {"fingerprint": fingerprint} if fingerprint is not None else None
        return self.write(stage, compute(), meta=meta)

    def invalidate(self, stage: str) -> None:
        if not self.enabled:
            return
        path = self._dir(stage)
        if os.path.exists(path):
            shutil.rmtree(path)

    def append(self, stage: str, df: DataFrame) -> None:
        """Append rows to a stage table WITHOUT a completion marker.

        This is the O(new-rows) persistence primitive for accumulating
        state (plans/incremental.save_state): appends carry no commit
        semantics of their own — callers commit by writing a separate
        versioned marker/meta stage AFTER the appends land, and filter
        un-committed rows out on read (the Iceberg-snapshot pattern,
        expressed on plain Parquet with a `_batch_id` column)."""
        if not self.enabled:
            raise ValueError("append() requires a checkpoint root")
        df.write.mode("append").parquet(self._dir(stage))

    def list_stages(self, prefix: str = "") -> list[str]:
        """Stage names under this store that start with `prefix` (used to
        locate the newest versioned state commit)."""
        if not self.enabled:
            return []
        return [
            d for d in os.listdir(self.root)
            if d.startswith(prefix) and os.path.isdir(os.path.join(self.root, d))
        ]
