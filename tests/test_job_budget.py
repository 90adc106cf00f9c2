"""Spark jobs per operation stay within budget.

Fixed per-job overhead, not kernels, dominates at fixture sizes, so the
number of Spark jobs an operation submits is a performance contract. Each
operation runs under its own job group and the jobs are read back from the
status tracker. The ceilings only go down: lower them when a change cuts
jobs.
"""

import time

from entitylinking_spark.checkpoint import CheckpointStore
from entitylinking_spark.operators.blocking import ERConfig
from entitylinking_spark.plans.incremental import load_state, resolve_increment, save_state
from entitylinking_spark.plans.pipeline import resolve
from entitylinking_spark.synthdata import generate_repo_files

CFG = ERConfig(suppress_shingle_df=None)

MAX_JOBS_RESOLVE = 29
MAX_JOBS_FIRST_FOLD = 28
MAX_JOBS_LATER_FOLD = 29
# the keyed append, the content append and the clusters snapshot; the
# commit record is a driver-written file, and the load reads only it
MAX_JOBS_SAVE = 3
MAX_JOBS_LOAD = 0


def _in_group(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _count_jobs(spark, group, fn):
    """(fn(), number of Spark jobs fn submitted)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out = _in_group(sc, group, fn)
    # the tracker is fed by an asynchronous listener that sees jobs in
    # submission order: once a later sentinel job is visible, so are ours
    sentinel = f"{group}-sentinel"
    _in_group(sc, sentinel, lambda: sc.parallelize([0], 1).count())
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(sentinel) and time.monotonic() < deadline:
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


def test_jobs_per_operation_within_budget(spark, tmp_path):
    rows = generate_repo_files(400, seed=11).rows
    split = int(len(rows) * 0.8)
    df = spark.createDataFrame(rows)
    first = spark.createDataFrame(rows.iloc[:split])
    later = spark.createDataFrame(rows.iloc[split:])

    res, n_resolve = _count_jobs(
        spark, "budget-resolve",
        lambda: resolve(df, CFG, id_col="row_id"))
    res.unpersist()
    s1, n_first = _count_jobs(
        spark, "budget-first-fold",
        lambda: resolve_increment(first, None, CFG, id_col="row_id"))
    s2, n_later = _count_jobs(
        spark, "budget-later-fold",
        lambda: resolve_increment(later, s1, CFG, id_col="row_id"))
    store = CheckpointStore(str(tmp_path / "state"), spark)
    _, n_first_save = _count_jobs(
        spark, "budget-first-save", lambda: save_state(s1, store, 0))
    _, n_later_save = _count_jobs(
        spark, "budget-later-save", lambda: save_state(s2, store, 1))
    loaded, n_load = _count_jobs(
        spark, "budget-load", lambda: load_state(store, spark))

    assert n_resolve <= MAX_JOBS_RESOLVE, f"resolve ran {n_resolve} jobs"
    assert n_first <= MAX_JOBS_FIRST_FOLD, f"first fold ran {n_first} jobs"
    assert n_later <= MAX_JOBS_LATER_FOLD, f"later fold ran {n_later} jobs"
    assert n_first_save <= MAX_JOBS_SAVE, f"first save ran {n_first_save} jobs"
    assert n_later_save <= MAX_JOBS_SAVE, f"later save ran {n_later_save} jobs"
    assert n_load <= MAX_JOBS_LOAD, f"load ran {n_load} jobs"
    assert loaded.keyed.count() == len(rows)
