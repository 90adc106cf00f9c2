"""Span recorder and layer instrumentation for the traced benchmark run.

Spans are recorded from outside the program: ``instrument()`` swaps the
module-level names through which the plans (``plans.pipeline``,
``plans.incremental``, ``operators.linking``) call each layer for wrappers
that open a span, call the real function and, because Spark is lazy,
materialize a DataFrame result (persist + count) before closing the span.
The materialized frames are the ones ``resolve()`` itself persists or
counts next, so the extra work is small; whatever it costs shows up as the
tracing overhead, which the traced run reports.

Layer counters (pairs, blocks, candidates, ...) are computed from the
materialized outputs AFTER their span closes, so they add to the parent
span's self time but to no layer's time.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    id: int


class Tracer:
    """In-memory spans (name, start, end, parent, op id) and counters."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: list[Span] = []
        self.counters: list[dict] = []  # {"op": op, "name": ..., "value": ...}
        self._stack: list[int] = []
        self.op = -1  # current op id; -1 = set-up
        self.enabled = True

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter() - self.t0, float("nan"), parent, self.op, sid)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter() - self.t0

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters.append({"op": self.op, "name": name, "value": float(value)})

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                cur_end = max(cur_end, hi)
            out[s.id] = (s.end - s.start) - covered
        return out

    def per_op(self, ops: list[int]) -> dict[str, list[float]]:
        """name -> per-op totals over `ops` for span durations (``<name>``),
        span self times (``<name>.self``) and counters (last value)."""
        selfs = self.self_times()
        acc: dict[str, dict[int, float]] = {}
        for s in self.spans:
            if s.op in ops:
                for key, v in ((s.name, s.end - s.start), (s.name + ".self", selfs[s.id])):
                    acc.setdefault(key, {}).setdefault(s.op, 0.0)
                    acc[key][s.op] += v
        for c in self.counters:
            if c["op"] in ops:
                acc.setdefault(c["name"], {})[c["op"]] = c["value"]
        return {k: [v[o] for o in ops if o in v] for k, v in acc.items()}

    def dump(self, path: str, extra: dict | None = None) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump({
                "spans": [{**asdict(s), "self": selfs[s.id]} for s in self.spans],
                "counters": self.counters, **(extra or {}),
            }, f)


class _Held:
    """Frames persisted by the wrappers; released after each op."""

    def __init__(self) -> None:
        self.frames: list = []

    def materialize(self, df):
        df = df.persist()
        n = df.count()
        self.frames.append(df)
        return df, n

    def release(self) -> None:
        for df in self.frames:
            df.unpersist()
        self.frames.clear()


@contextlib.contextmanager
def instrument(tracer: Tracer, cfg):
    """Wrap the layer entry points the plans call; yields a release()
    callback that frees the frames the wrappers persisted."""
    from pyspark.sql import DataFrame, functions as F

    from entitylinking_spark.operators import linking
    from entitylinking_spark.plans import incremental, pipeline

    held = _Held()

    def traced(name, fn, after=None):
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
                n = None
                if isinstance(out, DataFrame):
                    out, n = held.materialize(out)
            if after is not None:
                after(out, n, args, kwargs)
            return out
        return wrapper

    def census_counts(bl, _n, _a, _k):
        tracer.count("blocking.suppressed_shingles", 0 if bl is None else len(bl))

    def block_counts(census, _n, _a, _k):
        r = census.agg(
            F.count("*").alias("n"), F.max("block_size").alias("mx"),
            F.sum(((F.col("block_size") > cfg.block_cap)
                   & (F.col("block_size") <= cfg.skip_block_threshold)).cast("long")).alias("salted"),
            F.sum((F.col("block_size") > cfg.skip_block_threshold).cast("long")).alias("skipped"),
        ).first()
        tracer.count("blocking.n_blocks", r["n"])
        tracer.count("blocking.max_block", r["mx"] or 0)
        tracer.count("blocking.salted_blocks", r["salted"] or 0)
        tracer.count("blocking.skipped_blocks", r["skipped"] or 0)

    def pair_counts(_pairs, n, _a, _k):
        tracer.count("pairs.n_pairs", n)

    def score_counts(scored, n, _a, _k):
        r = scored.agg(
            F.sum(F.col("name_sim").isNotNull().cast("long")).alias("surv"),
            F.sum(F.col("jw_evaluated").cast("long")).alias("jw"),
            F.sum((F.col("score") >= cfg.tau).cast("long")).alias("match"),
        ).first()
        d = max(n, 1)
        tracer.count("scoring.survivor_frac", (r["surv"] or 0) / d)
        tracer.count("scoring.jw_pair_frac", (r["jw"] or 0) / d)
        tracer.count("scoring.match_yield", (r["match"] or 0) / d)

    def cc_wrapper(fn):
        def wrapper(edges, *args, **kwargs):
            iters = []
            user_cb = kwargs.get("on_iteration")

            def on_iteration(it, n_edges):
                iters.append(it)
                if user_cb is not None:
                    user_cb(it, n_edges)

            kwargs["on_iteration"] = on_iteration
            with tracer.span("cc.connected_components"):
                out = fn(edges, *args, **kwargs)
            tracer.count("cc.n_edges", edges.count())
            tracer.count("cc.iterations", len(iters))
            return out
        return wrapper

    def channel_counts(cands, n, args, kwargs):
        mentions = args[0] if args else kwargs["mentions"]
        n_m = max(mentions.count(), 1)
        by = {r["channel"]: r["count"] for r in cands.groupBy("channel").count().collect()}
        for ch in ("name", "token", "sketch"):
            tracer.count(f"linking.cands_{ch}", by.get(ch, 0))
        tracer.count("linking.cands_per_mention", n / n_m)
        hit = (
            cands.join(mentions.select("mention_id", "label_document_id"), "mention_id")
            .filter(F.col("document_id") == F.col("label_document_id"))
            .select("mention_id").distinct().count()
        )
        tracer.count("linking.candidate_recall", hit / n_m)

    layer = {
        "shingle_blacklist": ("blocking.census", census_counts),
        "with_keys": ("blocking.with_keys", None),
        "block_candidates": ("blocking.block_candidates", None),
        "block_census": ("blocking.block_census", block_counts),
        "candidate_pairs": ("pairs.candidate_pairs", pair_counts),
        "score_pairs": ("scoring.score_pairs", score_counts),
    }
    patches = []
    for mod in (pipeline, incremental):
        for attr, (name, after) in layer.items():
            if hasattr(mod, attr):
                patches.append((mod, attr, traced(name, getattr(mod, attr), after)))
        patches.append((mod, "connected_components", cc_wrapper(mod.connected_components)))
    patches.append((linking, "candidate_channels",
                    traced("linking.candidate_channels", linking.candidate_channels,
                           channel_counts)))
    patches.append((linking, "rank_candidates",
                    traced("linking.rank_candidates", linking.rank_candidates)))

    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
    for mod, attr, fn in patches:
        setattr(mod, attr, fn)
    try:
        yield held.release
    finally:
        held.release()
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
