"""Stage checkpointing with resume.

The reference's resumability is file-per-stage JSONL (run.sh stages —
/root/reference/run.sh:1-9, stage table in /root/reference/README.md:24-32):
each step writes a named file, later steps read it, re-running skips nothing
automatically. Here the same idea becomes checkpoint tables with completion
markers: a stage whose marker exists is read back instead of recomputed, so
a killed run resumes from the last complete stage (north_rule).

Backend: partitioned Parquet + a driver-written `_STAGE_COMPLETE` JSON
marker per stage, written atomically (temp file + rename), which also
carries the stage's config/input fingerprint or a commit record.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


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
            return self.marker(stage).get("fingerprint") == fingerprint
        except Exception:
            return False

    def marker(self, stage: str) -> dict:
        with open(self._marker(stage)) as f:
            return json.load(f)

    def mark_complete(self, stage: str, meta: dict | None = None) -> None:
        """Write the stage's marker atomically: a temp file (its `_` prefix
        hides it from Parquet scans), then a rename — the commit point."""
        os.makedirs(self._dir(stage), exist_ok=True)
        tmp = self._marker(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"stage": stage, "completed_at": time.time(), **(meta or {})}, f)
        os.replace(tmp, self._marker(stage))

    def write(self, stage: str, df: DataFrame, meta: dict | None = None) -> DataFrame:
        """Write `df` as the stage table, mark complete, return a fresh read.

        Returning the re-read DataFrame (not `df`) truncates lineage for all
        downstream stages — the same reason the reference rereads its stage
        files. It takes `df`'s schema, so the write is the only Spark job.
        """
        if not self.enabled:
            return df
        path = self._dir(stage)
        if os.path.exists(path):
            shutil.rmtree(path)
        df.write.mode("overwrite").parquet(path)
        self.mark_complete(stage, meta)
        return self.read(stage, schema=df.schema)

    def read(self, stage: str, schema: StructType | None = None,
             files: list[str] | None = None) -> DataFrame:
        """Scan the stage table, or only its `files`. With a `schema` no
        inference job runs. Past 32 `files` (Spark's parallel partition
        discovery threshold) listing them is one Spark job."""
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        if files is None:
            return reader.parquet(self._dir(stage))
        return reader.parquet(*(os.path.join(self._dir(stage), f) for f in files))

    def part_files(self, stage: str) -> list[str]:
        """Names of the stage table's Parquet data files, sorted."""
        path = self._dir(stage)
        names = os.listdir(path) if os.path.isdir(path) else []
        return sorted(f for f in names if f.endswith(".parquet") and f[0] not in "_.")

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

    def append(self, stage: str, df: DataFrame) -> list[str]:
        """Append rows to a stage table WITHOUT a completion marker, and
        return the names of the files this append added.

        This is the O(new-rows) persistence primitive for accumulating
        state (plans/incremental.save_state): appends carry no commit
        semantics of their own — callers record the added files in a
        separate versioned marker AFTER the appends land and read only
        recorded files (the Iceberg-snapshot pattern on plain Parquet)."""
        if not self.enabled:
            raise ValueError("append() requires a checkpoint root")
        before = set(self.part_files(stage))
        df.write.mode("append").parquet(self._dir(stage))
        return [f for f in self.part_files(stage) if f not in before]

    def list_stages(self, prefix: str = "") -> list[str]:
        """Stage names under this store that start with `prefix` (used to
        locate the newest versioned state commit)."""
        if not self.enabled:
            return []
        return [
            d for d in os.listdir(self.root)
            if d.startswith(prefix) and os.path.isdir(os.path.join(self.root, d))
        ]
