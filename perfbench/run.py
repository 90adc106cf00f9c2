"""Entity-resolution benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload batch_resolve --seed 1 --seconds 3 --trace 0

Run from the repository root. The run generates its inputs from --seed
(cached under .perfbench_work/), sets up a local Spark session three times
(start and input load; the median is ``setup_s``), runs one untimed
JIT-cold operation, then times closed-loop operations for --seconds (at
least the workload's minimum) and checks every output against the
generator's truth. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` alternates untraced and traced operations and reports the
per-layer metrics (see README.md in this directory). The last line of
stdout is the result object; a run that cannot set up exits non-zero
without printing one.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import Tracer, instrument  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUPS = 3
# The traced run times at least an untraced and a traced operation: their
# difference is the tracing overhead.
MIN_TRACED_OPS = 2

# name, unit, better, bound -- the end-to-end metrics (tracing off)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("rows_per_s", "rows/s", "higher", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("pairwise_f1", "ratio", "higher", 0.02),
    ("link_accuracy", "ratio", "higher", 0.02),
    ("ok_frac", "ratio", "higher", 0.05),
    ("peak_rss_mb", "MB", "lower", 0.25),
]

# name, unit, better, source -- the per-layer metrics (traced run).
# source: ("setup", span) median over the set-ups that have the span;
# ("op", span-or-counter) median over traced operations;
# ("ratio", counter) median of counter / rows per traced operation.
PER_LAYER = [
    ("session.start_s", "s", "lower", ("setup", "session.start")),
    ("input.load_s", "s", "lower", ("setup", "input.load")),
    ("blocking.census_s", "s", "lower", ("op", "blocking.census")),
    ("blocking.suppressed_shingles", "count", "higher", ("op", "blocking.suppressed_shingles")),
    ("blocking.with_keys_s", "s", "lower", ("op", "blocking.with_keys")),
    ("blocking.block_candidates_s", "s", "lower", ("op", "blocking.block_candidates")),
    ("blocking.block_census_s", "s", "lower", ("op", "blocking.block_census")),
    ("blocking.n_blocks", "count", "lower", ("op", "blocking.n_blocks")),
    ("blocking.max_block", "count", "lower", ("op", "blocking.max_block")),
    ("blocking.salted_blocks", "count", "lower", ("op", "blocking.salted_blocks")),
    ("blocking.skipped_blocks", "count", "lower", ("op", "blocking.skipped_blocks")),
    ("pairs.candidate_pairs_s", "s", "lower", ("op", "pairs.candidate_pairs")),
    ("pairs.n_pairs", "count", "lower", ("op", "pairs.n_pairs")),
    ("pairs.pairs_per_row", "ratio", "lower", ("ratio", "pairs.n_pairs")),
    ("scoring.score_pairs_s", "s", "lower", ("op", "scoring.score_pairs")),
    ("scoring.survivor_frac", "ratio", "lower", ("op", "scoring.survivor_frac")),
    ("scoring.jw_pair_frac", "ratio", "lower", ("op", "scoring.jw_pair_frac")),
    ("scoring.match_yield", "ratio", "higher", ("op", "scoring.match_yield")),
    ("cc.connected_components_s", "s", "lower", ("op", "cc.connected_components")),
    ("cc.n_edges", "count", "lower", ("op", "cc.n_edges")),
    ("cc.iterations", "count", "lower", ("op", "cc.iterations")),
    ("pipeline.resolve_s", "s", "lower", ("op", "pipeline.resolve")),
    ("pipeline.resolve_self_s", "s", "lower", ("op", "pipeline.resolve.self")),
    ("session.first_op_s", "s", "lower", ("setup", "session.first_op")),
    ("incremental.base_build_s", "s", "lower", ("setup", "incremental.base_build")),
    ("incremental.fold_s", "s", "lower", ("op", "incremental.fold")),
    ("incremental.fold_self_s", "s", "lower", ("op", "incremental.fold.self")),
    ("incremental.save_state_s", "s", "lower", ("op", "incremental.save_state")),
    ("incremental.load_state_s", "s", "lower", ("op", "incremental.load_state")),
    ("incremental.pairs_per_new_row", "ratio", "lower", ("op", "incremental.pairs_per_new_row")),
    ("checkpoint.bytes_written", "bytes", "lower", ("op", "checkpoint.bytes_written")),
    ("linking.link_mentions_s", "s", "lower", ("op", "linking.link_mentions")),
    ("linking.link_mentions_self_s", "s", "lower", ("op", "linking.link_mentions.self")),
    ("linking.candidate_channels_s", "s", "lower", ("op", "linking.candidate_channels")),
    ("linking.rank_candidates_s", "s", "lower", ("op", "linking.rank_candidates")),
    ("linking.cands_name", "count", "lower", ("op", "linking.cands_name")),
    ("linking.cands_token", "count", "lower", ("op", "linking.cands_token")),
    ("linking.cands_sketch", "count", "lower", ("op", "linking.cands_sketch")),
    ("linking.cands_per_mention", "ratio", "lower", ("op", "linking.cands_per_mention")),
    ("linking.candidate_recall", "ratio", "higher", ("op", "linking.candidate_recall")),
    ("trace.overhead_s", "s", "lower", None),
    ("trace.overhead_frac", "ratio", "lower", None),
]


# ---------------------------------------------------------------------------
# process tree: peak RSS and clean shutdown
# ---------------------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    """/proc/<pid>/stat fields after the command name (state, ppid, ...;
    index 19 is the start time), or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()


def descendants(pid: int) -> dict[int, str]:
    """Descendant pid -> start time (identifies the process across reuse)."""
    table = {int(d): _stat(int(d)) for d in os.listdir("/proc") if d.isdigit()}
    kids: dict[int, list[int]] = {}
    for p, fields in table.items():
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(p)
    out, todo = {}, [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out[c] = table[c][19]
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssMonitor(threading.Thread):
    """Samples the summed RSS of this process and its descendants (the
    JVM and the Python workers) and keeps the peak."""

    def __init__(self, period: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.is_set():
            total = _rss_bytes(me) + sum(_rss_bytes(p) for p in descendants(me))
            self.peak = max(self.peak, total)
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)


def _alive(pid: int, start: str) -> bool:
    fields = _stat(pid)
    return fields is not None and fields[19] == start and fields[0] != "Z"


def stop_all(spark, timeout: float = 60.0) -> None:
    """Stop Spark, the JVM and its Python workers, and wait until every
    process this run started has ended."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 -- shutdown continues regardless
            traceback.print_exc()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout
    while True:
        left = {p: s for p, s in procs.items() if _alive(p, s)}
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def prepare_env(root: str, work: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if root not in sys.path:
        sys.path.insert(0, root)


def start_session(work: str, cores: int):
    from entitylinking_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", cores=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


# ---------------------------------------------------------------------------
# measurement
# ---------------------------------------------------------------------------

def _median(xs, default=0.0):
    return float(statistics.median(xs)) if xs else default


def run(args) -> dict:
    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work")
    prepare_env(root, work)
    import entitylinking_spark  # noqa: F401 -- fail fast outside a checkout

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    data_dir, truth, meta = gen.materialize(
        os.path.join(work, "inputs"), args.workload, args.seed, args.scale)
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer()
    tracer.enabled = bool(args.trace)
    wl = WORKLOADS[args.workload](data_dir, truth, meta, work, tracer)
    monitor = RssMonitor()
    monitor.start()
    spark = None
    setups, ops = [], []
    try:
        for s in range(SETUPS):
            if spark is not None:
                spark.stop()
            tracer.op = -(s + 1)
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                spark = start_session(work, cores)
            with tracer.span("input.load"):
                wl.load(spark)
            setups.append(time.perf_counter() - t0)
        # One JIT-cold operation, checked but not timed as one: on
        # incremental_fold it builds the base state, counted in setup_s.
        ops.append(_operation(wl, spark, -1, tracer, traced=False))

        deadline = time.perf_counter() + args.seconds
        min_ops = max(wl.min_ops, MIN_TRACED_OPS if args.trace else 1)
        i = 0
        while i < wl.max_ops() and (i < min_ops or time.perf_counter() < deadline):
            traced = bool(args.trace) and i % 2 == 1
            tracer.op, tracer.enabled = i, traced
            ops.append(_operation(wl, spark, i, tracer, traced))
            i += 1
    finally:
        wl.close()
        stop_all(spark)
        monitor.stop()

    base_s = ops[0]["seconds"] if wl.first_in_setup else 0.0
    failed = sum(not r["ok"] for r in ops)
    problems = []
    result = {"attempted": len(ops)}
    if args.trace:
        metrics, problems = _per_layer(tracer, wl, ops)
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        tracer.dump(os.path.join(
            work, "traces", f"{args.workload}-s{args.seed}-{os.getpid()}.json"),
            extra={"ops": ops, "problems": problems})
    else:
        metrics = _end_to_end(setups, base_s, ops, monitor.peak)
    failed += bool(problems)
    result.update(correct=failed == 0, failed=failed, metrics=metrics)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "meta": meta,
        "op_seconds": [round(r["seconds"], 4) for r in ops if not r["first"]],
        "first_op_s": round(ops[0]["seconds"], 4),
        "setup_seconds": [round(s, 4) for s in setups],
        "quality": [r["quality"] for r in ops], "problems": problems,
    }), file=sys.stderr)
    return result


def _operation(wl, spark, i: int, tracer, traced: bool) -> dict:
    """Run, time and check one operation; i = -1 is the first, untimed
    one. A failure is recorded, never raised."""
    first = i < 0
    rec = {"i": i, "first": first, "traced": traced, "ok": False, "quality": {}, "rows": 0}
    t0 = time.perf_counter()
    try:
        with instrument(tracer, wl.cfg) if traced else contextlib.nullcontext():
            with tracer.span(wl.first_span if first else wl.op_span):
                out, rec["rows"] = wl.first_op(spark) if first else wl.op(spark, i)
        rec["seconds"] = time.perf_counter() - t0
        if hasattr(out, "toPandas"):
            out = out.toPandas()
        q = wl.check(out, i)
        rec["ok"], rec["quality"] = bool(q.pop("ok")), q
    except Exception:  # noqa: BLE001 -- a failed operation is counted, not fatal
        rec.setdefault("seconds", time.perf_counter() - t0)
        traceback.print_exc()
    if traced:
        tracer.count("op.rows", rec["rows"])
    return rec


def _end_to_end(setups, base_s, ops, peak_rss) -> dict:
    timed = [r for r in ops if not r["first"]]
    good = [r for r in ops if r["ok"]]
    last = ([r for r in timed if r["ok"]] or ops)[-1]["quality"]
    total_s = sum(r["seconds"] for r in timed)
    vals = {
        "setup_s": _median(setups) + base_s,
        "rows_per_s": sum(r["rows"] for r in timed) / total_s if total_s else 0.0,
        "op_p50_s": _median([r["seconds"] for r in timed]),
        "pairwise_f1": last.get("pairwise_f1", 0.0),
        "link_accuracy": last.get("link_accuracy", 0.0),
        "ok_frac": len(good) / len(ops),
        "peak_rss_mb": peak_rss / 2**20,
    }
    return {n: {"value": vals[n], "unit": u} for n, u, _b, _bd in END_TO_END}


def _per_layer(tracer, wl, ops) -> tuple[dict, list[str]]:
    traced = [r["i"] for r in ops if r["traced"]]
    plain = [r["seconds"] for r in ops if not r["traced"] and not r["first"]]
    setup = tracer.per_op([-(s + 1) for s in range(SETUPS)])
    per = tracer.per_op(traced)
    rows = per.get("op.rows", [])
    vals = {}
    for name, _u, _b, src in PER_LAYER:
        if src is None:
            continue
        kind, key = src
        if kind == "ratio":
            xs = [n / r for n, r in zip(per.get(key, []), rows) if r]
        else:
            xs = {"setup": setup, "op": per}[kind].get(key, [])
        vals[name] = _median(xs)
    t_traced = _median([r["seconds"] for r in ops if r["traced"]])
    t_plain = _median(plain)
    vals["trace.overhead_s"] = t_traced - t_plain
    vals["trace.overhead_frac"] = (t_traced - t_plain) / t_plain if t_plain else 0.0
    problems = wl.trace_problems(per) if traced else ["no traced operation"]
    return {n: {"value": vals[n], "unit": u} for n, u, _b, _s in PER_LAYER}, problems


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests use a tiny scale)")
    args = ap.parse_args(argv)
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 -- no result line on a failed set-up
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
