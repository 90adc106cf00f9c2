"""The three benchmark workloads: set-up, one operation, and its check.

Each workload is one closed-loop caller driving the public API:

* ``batch_resolve``    -- ``plans.pipeline.resolve`` over a skewed corpus
* ``incremental_fold`` -- durable fold, as ``streaming.ingest`` does it:
  ``resolve_increment`` -> ``save_state`` -> ``load_state``
* ``link_mentions``    -- ``operators.linking.link_mentions``

An operation returns its output; ``check`` scores it (as pandas) against
the generator's truth and says whether it passes.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd

# correctness floors, per operation
MIN_PAIRWISE_F1 = 0.99
MIN_LINK_ACCURACY = 0.97


def _pairs(sizes: pd.Series) -> int:
    return int((sizes * (sizes - 1) // 2).sum())


def _f1(p: float, r: float) -> float:
    return 2 * p * r / (p + r) if p + r else 0.0


def cluster_quality(pred: pd.DataFrame, truth: pd.DataFrame) -> dict:
    """Score (row_id, cluster_id) against (row_id, truth).

    pairwise_f1: pair-counting F1 over labelled rows (exact, from the
    contingency table). link_accuracy: share of labelled rows whose
    cluster_id is the canonical id of their true entity (its minimum row
    id). Rows missing from the output, and unlabelled rows sharing a
    cluster with labelled ones, fail the check."""
    m = truth.merge(pred[["row_id", "cluster_id"]], on="row_id", how="left")
    missing = int(m["cluster_id"].isna().sum())
    lab = m[m["truth"].notna() & m["cluster_id"].notna()]
    tp = _pairs(lab.groupby(["truth", "cluster_id"]).size())
    pred_p = _pairs(lab.groupby("cluster_id").size())
    true_p = _pairs(lab.groupby("truth").size())
    p = tp / pred_p if pred_p else 1.0
    r = tp / true_p if true_p else 1.0
    canon = lab.groupby("truth")["row_id"].transform("min")
    acc = float((lab["cluster_id"] == canon).mean()) if len(lab) else 0.0
    unl = m[m["truth"].isna()]
    leaked = int(unl["cluster_id"].isin(set(lab["cluster_id"])).sum())
    f1 = _f1(p, r)
    ok = (missing == 0 and leaked == 0 and len(pred) == len(truth)
          and f1 >= MIN_PAIRWISE_F1)
    return {"ok": ok, "pairwise_f1": f1, "link_accuracy": acc,
            "missing": missing, "leaked": leaked}


def link_quality(out: pd.DataFrame, truth: pd.DataFrame) -> dict:
    """Score (mention_id, entity_id) against (row_id=mention, truth).

    link_accuracy: share of mentions linked to their entity.
    pairwise_f1: F1 of the (mention, entity) links -- precision over
    mentions that got an entity, recall over all mentions."""
    m = truth.merge(out[["mention_id", "entity_id"]], left_on="row_id",
                    right_on="mention_id", how="left")
    correct = int((m["entity_id"] == m["truth"]).sum())
    linked = int(m["entity_id"].notna().sum())
    acc = correct / len(m) if len(m) else 0.0
    f1 = _f1(correct / linked if linked else 1.0, acc)
    ok = len(out) == len(truth) and acc >= MIN_LINK_ACCURACY
    return {"ok": ok, "pairwise_f1": f1, "link_accuracy": acc}


class Workload:
    """Base: inputs live in `data_dir` (see gen.materialize)."""

    name = ""
    op_span = ""
    first_span = "session.first_op"
    first_in_setup = False  # True: the first op builds state counted in setup_s
    min_ops = 1  # timed operations per run, at least
    cfg = None

    def __init__(self, data_dir: str, truth: pd.DataFrame, meta: dict,
                 work_dir: str, tracer) -> None:
        self.data_dir = data_dir
        self.truth = truth
        self.meta = meta
        self.work_dir = work_dir
        self.tracer = tracer

    def _read(self, spark, table: str):
        df = spark.read.parquet(os.path.join(self.data_dir, table)).persist()
        return df, df.count()

    def load(self, spark) -> None:
        raise NotImplementedError

    def first_op(self, spark) -> tuple:
        """The first, JIT-cold operation (checked, not timed as one)."""
        return self.op(spark, -1)

    def op(self, spark, i: int) -> tuple:
        """Run operation i; returns (output, rows processed). A Spark
        DataFrame output is collected after the timed region."""
        raise NotImplementedError

    def check(self, out: pd.DataFrame, i: int) -> dict:
        raise NotImplementedError

    def max_ops(self) -> int:
        return 10**6

    def trace_problems(self, per: dict) -> list[str]:
        """Shape checks on the traced operations' layer counters."""
        return []

    def close(self) -> None:
        pass


class BatchResolve(Workload):
    name = "batch_resolve"
    op_span = "pipeline.resolve"

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        from entitylinking_spark.operators.blocking import ERConfig

        # The census gate defaults to 50k rows; lowered so the shingle
        # census runs on this corpus, which is otherwise default-configured.
        self.cfg = ERConfig(suppress_min_corpus=1_000)

    def load(self, spark) -> None:
        self.df, self.n = self._read(spark, "repo_files")

    def op(self, spark, i):
        from entitylinking_spark.plans import pipeline

        res = pipeline.resolve(self.df, self.cfg, id_col="row_id")
        res.unpersist()
        return res.clusters, self.n  # already materialized by resolve

    def check(self, out, i):
        return cluster_quality(out, self.truth)

    def trace_problems(self, per):
        # the skew this workload exists for: census, salted and stop bands
        problems = []
        if not per.get("blocking.census"):
            problems.append("shingle census did not run")
        for key in ("blocking.salted_blocks", "blocking.skipped_blocks"):
            if not all(v > 0 for v in per.get(key, [0])):
                problems.append(f"{key} is 0")
        return problems


class IncrementalFold(Workload):
    name = "incremental_fold"
    op_span = "incremental.fold_op"
    first_span = "incremental.base_build"
    first_in_setup = True

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        from entitylinking_spark.operators.blocking import ERConfig

        self.cfg = ERConfig()
        self.store_dir = os.path.join(self.work_dir, f"state-{os.getpid()}")
        shutil.rmtree(self.store_dir, ignore_errors=True)
        self.seen: set[str] = set()

    def load(self, spark) -> None:
        from pyspark.sql import functions as F

        self.df, _ = self._read(spark, "repo_files")
        self.batch_ids = {
            int(r["batch"]): r["ids"]
            for r in self.df.groupBy("batch")
            .agg(F.collect_list("row_id").alias("ids")).collect()
        }

    def _batch(self, b: int):
        from pyspark.sql import functions as F

        return self.df.filter(F.col("batch") == b).drop("batch")

    def first_op(self, spark):
        """Build and save the base state (the first increment)."""
        from entitylinking_spark.checkpoint import CheckpointStore
        from entitylinking_spark.plans import incremental

        self.store = CheckpointStore(self.store_dir, spark)
        st = incremental.resolve_increment(self._batch(-1), None, self.cfg, id_col="row_id")
        incremental.save_state(st, self.store, 0)
        self.state = incremental.load_state(self.store, spark)
        self.seen = set(self.batch_ids[-1])
        return self.state.clusters, len(self.seen)

    def max_ops(self) -> int:
        return self.meta["batches"]

    def op(self, spark, i):
        from entitylinking_spark.plans import incremental

        tr = self.tracer
        batch = self._batch(i)
        with tr.span("incremental.fold"):
            st = incremental.resolve_increment(batch, self.state, self.cfg, id_col="row_id")
        before = _du(self.store_dir) if tr.enabled else 0
        with tr.span("incremental.save_state"):
            incremental.save_state(st, self.store, i + 1)
        if tr.enabled:
            tr.count("checkpoint.bytes_written", _du(self.store_dir) - before)
            tr.count("incremental.pairs_per_new_row",
                     st.n_pairs_scored / max(len(self.batch_ids[i]), 1))
        with tr.span("incremental.load_state"):
            self.state = incremental.load_state(self.store, spark)
        self.seen.update(self.batch_ids[i])
        return self.state.clusters, len(self.batch_ids[i])

    def check(self, out, i):
        return cluster_quality(out, self.truth[self.truth["row_id"].isin(self.seen)])

    def close(self) -> None:
        shutil.rmtree(self.store_dir, ignore_errors=True)


class LinkMentions(Workload):
    name = "link_mentions"
    op_span = "linking.link_mentions"
    # the shortest operation: the median of three keeps one slow
    # operation from setting the run's figure
    min_ops = 3

    def load(self, spark) -> None:
        self.entities, _ = self._read(spark, "entities")
        self.mentions, self.n = self._read(spark, "mentions")

    def op(self, spark, i):
        from entitylinking_spark.operators import linking

        out = linking.link_mentions(self.mentions, self.entities).toPandas()
        return out, self.n

    def check(self, out, i):
        return link_quality(out, self.truth)


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


WORKLOADS = {w.name: w for w in (BatchResolve, IncrementalFold, LinkMentions)}
