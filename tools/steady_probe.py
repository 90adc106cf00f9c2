"""Steady-state probe: N operations of one benchmark workload in one JVM.

    python3 tools/steady_probe.py --workload batch_resolve --seed 1 --ops 5
    python3 tools/steady_probe.py --workload link_mentions --ops 5 \\
        --conf spark.sql.codegen.cache.maxEntries=100

Run from the repository root. Inputs, set-up and each operation are
perfbench's (``perfbench/gen.py``, ``perfbench/workloads.py``); the probe
only adds accounting around them. Operation 0 is the JIT-cold first
operation (``first_op``); later ones are warm. Each operation runs under
its own Spark job group and reports, read back after it ends:

* ``wall_s``                 -- wall time of the operation
* ``jobs`` / ``stages``      -- Spark jobs in the group and the stages they
                                ran (skipped stages not counted)
* ``in_jobs_s``              -- time covered by at least one running job
* ``driver_s``               -- wall_s - in_jobs_s (planning, AQE
                                re-planning, py4j, Python)
* ``executor_s``             -- summed executor run time of those stages
* ``shuffle_mb``             -- shuffle bytes written by those stages
* ``compiles`` / ``compile_s`` -- generated classes compiled by Janino and
                                the time spent doing it (JVM-wide
                                ``CodegenMetrics.METRIC_COMPILATION_TIME``
                                count and ``CodeGenerator.compileTime``
                                deltas; a class found in the codegen
                                cache is not compiled)

``--conf k=v`` (repeatable) passes session settings, e.g. a codegen cache
size to compare against. One JSON object per operation goes to stdout,
then a summary line with the medians over the warm operations.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

from py4j.protocol import Py4JJavaError

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen  # noqa: E402
import run as bench  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

FIELDS = ("wall_s", "jobs", "stages", "in_jobs_s", "driver_s", "executor_s",
          "shuffle_mb", "compiles", "compile_s")


def codegen_counters(spark) -> tuple[int, float]:
    """(classes compiled, seconds compiling) since the JVM started."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e9


def _in_group(sc, group: str, fn):
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _group_jobs(spark, group: str) -> dict:
    """Jobs, stages, in-job time, executor time and shuffle bytes of a job
    group that has finished."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # the status store is fed by an asynchronous listener in submission
    # order: once a later sentinel job is visible, the group's jobs are too
    sentinel = f"{group}-sentinel"
    _in_group(sc, sentinel, lambda: sc.parallelize([0], 1).count())
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(sentinel) and time.monotonic() < deadline:
        time.sleep(0.05)
    store = sc._jsc.sc().statusStore()
    spans, stages, exec_ms, shuffle = [], set(), 0, 0
    job_ids = tracker.getJobIdsForGroup(group)
    for jid in job_ids:
        job = store.job(jid)
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            spans.append((job.submissionTime().get().getTime(),
                          job.completionTime().get().getTime()))
        for sid in tracker.getJobInfo(jid).stageIds:
            if sid in stages:
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran
                continue
            if str(st.status()) != "COMPLETE":
                continue
            stages.add(sid)
            exec_ms += st.executorRunTime()
            shuffle += st.shuffleWriteBytes()
    # union of the job intervals: concurrent jobs count once
    in_ms, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            in_ms += b - a
            end = b
        elif b > end:
            in_ms += b - end
            end = b
    return {"jobs": len(job_ids), "stages": len(stages), "in_jobs_s": in_ms / 1e3,
            "executor_s": exec_ms / 1e3, "shuffle_mb": shuffle / 2**20}


def _operation(wl, spark, i: int) -> dict:
    """Run operation i (0 = the first, JIT-cold one) and account for it."""
    c0, s0 = codegen_counters(spark)
    t0 = time.perf_counter()
    out, _rows = _in_group(spark.sparkContext, f"probe-op-{i}",
                           lambda: wl.first_op(spark) if i == 0 else wl.op(spark, i - 1))
    wall = time.perf_counter() - t0
    c1, s1 = codegen_counters(spark)
    rec = {"op": i, "wall_s": wall, **_group_jobs(spark, f"probe-op-{i}"),
           "compiles": c1 - c0, "compile_s": s1 - s0}
    rec["driver_s"] = wall - rec["in_jobs_s"]
    if hasattr(out, "toPandas"):
        out = out.toPandas()
    rec["ok"] = bool(wl.check(out, i - 1)["ok"])
    return {k: round(v, 4) if isinstance(v, float) else v for k, v in rec.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--ops", type=int, default=5, help="operations, the first included")
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE")
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work")
    bench.prepare_env(ROOT, work)
    from entitylinking_spark.session import get_spark

    data_dir, truth, meta = gen.materialize(
        os.path.join(work, "inputs"), args.workload, args.seed, args.scale)
    tracer = Tracer()
    tracer.enabled = False
    wl = WORKLOADS[args.workload](data_dir, truth, meta, work, tracer)
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        **dict(kv.split("=", 1) for kv in args.conf),
    }
    spark = None
    recs = []
    try:
        spark = get_spark(app_name="steady-probe",
                          cores=len(os.sched_getaffinity(0)), extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        wl.load(spark)
        for i in range(min(args.ops, wl.max_ops() + 1)):
            recs.append(_operation(wl, spark, i))
            print(json.dumps(recs[-1]), flush=True)
    finally:
        wl.close()
        bench.stop_all(spark)
    warm = recs[1:]
    summary = {"workload": args.workload, "seed": args.seed, "warm_ops": len(warm),
               "conf": args.conf, "ok": all(r["ok"] for r in recs)}
    for f in FIELDS:
        if warm:
            summary[f"warm_{f}_p50"] = round(statistics.median(r[f] for r in warm), 4)
    print(json.dumps(summary))
    return 0 if summary["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
