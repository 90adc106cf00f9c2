"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The smoke runs start Spark at a tiny input scale (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, cluster_quality, link_quality  # noqa: E402


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


# ---- generator --------------------------------------------------------------


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_generator_is_seeded(workload):
    a = gen.generate(workload, 5, scale=0.05)
    b = gen.generate(workload, 5, scale=0.05)
    c = gen.generate(workload, 6, scale=0.05)
    for name in a.tables:
        pd.testing.assert_frame_equal(a.tables[name], b.tables[name])
        assert not a.tables[name].equals(c.tables[name])
    pd.testing.assert_frame_equal(a.truth, b.truth)


def test_batch_corpus_has_skew_classes():
    inp = gen.generate("batch_resolve", 1, scale=0.05)
    files = inp.tables["repo_files"].merge(inp.truth, on="row_id")
    stubs = files[files["truth"].isna()]
    assert len(stubs) > 2000 and stubs["content"].is_unique
    vendored = files[files["path"].str.startswith("third_party/")]
    assert vendored.groupby("truth").size().min() > 200


def test_incremental_members_arrive_in_chain_order():
    inp = gen.generate("incremental_fold", 2, scale=0.2)
    files = inp.tables["repo_files"].merge(inp.truth, on="row_id")
    for _, g in files.groupby("truth"):
        assert list(g["row_id"]) == sorted(g["row_id"])


def test_cache_returns_same_inputs(tmp_path):
    d1, t1, m1 = gen.materialize(str(tmp_path), "link_mentions", 3, 0.05)
    d2, t2, m2 = gen.materialize(str(tmp_path), "link_mentions", 3, 0.05)
    assert d1 == d2 and m1 == m2
    pd.testing.assert_frame_equal(t1, t2)


# ---- checks -------------------------------------------------------------------


def _truth_and_pred():
    truth = pd.DataFrame({
        "row_id": ["a", "b", "c", "d", "e", "s"],
        "truth": ["a", "a", "a", "d", "e", None],
    })
    pred = pd.DataFrame({
        "row_id": ["a", "b", "c", "d", "e", "s"],
        "cluster_id": ["a", "a", "a", "d", "e", "s"],
    })
    return truth, pred


def test_cluster_quality_accepts_the_truth():
    truth, pred = _truth_and_pred()
    q = cluster_quality(pred, truth)
    assert q["ok"] and q["pairwise_f1"] == 1.0 and q["link_accuracy"] == 1.0


@pytest.mark.parametrize("corrupt", ["split", "merge", "drop", "leak"])
def test_corrupted_clusters_fail(corrupt):
    truth, pred = _truth_and_pred()
    if corrupt == "split":
        pred.loc[pred["row_id"] == "c", "cluster_id"] = "c"
    elif corrupt == "merge":
        pred.loc[pred["row_id"].isin(["d", "e"]), "cluster_id"] = "a"
    elif corrupt == "drop":
        pred = pred[pred["row_id"] != "b"]
    else:  # an unlabelled stop-band row merged into an entity
        pred.loc[pred["row_id"] == "s", "cluster_id"] = "d"
    assert not cluster_quality(pred, truth)["ok"]


def test_corrupted_links_fail():
    truth = pd.DataFrame({"row_id": [f"m{i}" for i in range(50)],
                          "truth": [f"e{i % 7}" for i in range(50)]})
    out = pd.DataFrame({"mention_id": truth["row_id"], "entity_id": truth["truth"]})
    assert link_quality(out, truth)["ok"]
    out.loc[:5, "entity_id"] = "e99"
    assert not link_quality(out, truth)["ok"]


# ---- contract -----------------------------------------------------------------


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] \
        == [tuple(m) for m in run.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] \
        == [m[:3] for m in run.PER_LAYER]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "link_mentions",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


# ---- smoke runs (Spark) -----------------------------------------------------------


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_smoke_end_to_end_metrics():
    res = _result(_bench("--workload", "link_mentions", "--seed", "1",
                         "--seconds", "1", "--trace", "0", "--scale", "0.1"))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {n: m["unit"] for n, m in res["metrics"].items()} \
        == {n: u for n, u, _b, _bd in run.END_TO_END}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_smoke_per_layer_metrics():
    res = _result(_bench("--workload", "incremental_fold", "--seed", "1",
                         "--seconds", "1", "--trace", "1", "--scale", "0.1"))
    assert res["correct"], res
    assert {n: m["unit"] for n, m in res["metrics"].items()} \
        == {n: u for n, u, _b, _s in run.PER_LAYER}
    m = {n: v["value"] for n, v in res["metrics"].items()}
    assert m["incremental.fold_s"] > 0 and m["checkpoint.bytes_written"] > 0


def test_corrupted_output_is_counted_as_failed(monkeypatch):
    """A wrong answer from the program is a failed operation, not a
    dropped one."""
    cls = WORKLOADS["link_mentions"]
    real_op = cls.op

    def corrupted(self, spark, i):
        out, n = real_op(self, spark, i)
        first = out["entity_id"].iloc[0]
        return out.assign(entity_id=first), n

    monkeypatch.setattr(cls, "op", corrupted)
    monkeypatch.chdir(ROOT)
    args = run.argparse.Namespace(workload="link_mentions", seed=1, seconds=1,
                                  trace=0, scale=0.1)
    saved = dict(os.environ)  # run() points TMPDIR etc. into the checkout
    try:
        res = run.run(args)
    finally:
        os.environ.clear()
        os.environ.update(saved)
    assert res["attempted"] >= 1
    assert res["failed"] == res["attempted"] and not res["correct"]
    assert res["metrics"]["ok_frac"]["value"] == 0.0
