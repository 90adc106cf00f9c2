"""Warm operations reuse generated code instead of recompiling it.

Spark keeps compiled generated classes in one JVM-wide LRU cache. When an
operation uses more distinct classes than the cache holds, every repeat
of it compiles most of them again (Janino) and runs them JIT-cold.
"""

import statistics

from entitylinking_spark.checkpoint import CheckpointStore
from entitylinking_spark.operators.blocking import ERConfig
from entitylinking_spark.plans.incremental import load_state, resolve_increment, save_state
from entitylinking_spark.plans.pipeline import resolve
from entitylinking_spark.session import CODEGEN_CACHE_ENTRIES
from entitylinking_spark.synthdata import generate_repo_files

# the job-budget fixture (tests/test_job_budget.py)
CFG = ERConfig(suppress_shingle_df=None)

MAX_WARM_COMPILES = 10


def _compiles(spark) -> int:
    """Generated classes compiled since the JVM started (cache misses)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_get_spark_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_repeated_resolve_compiles_no_new_classes(spark):
    df = spark.createDataFrame(generate_repo_files(400, seed=11).rows)
    resolve(df, CFG, id_col="row_id").unpersist()
    before = _compiles(spark)
    resolve(df, CFG, id_col="row_id").unpersist()
    compiled = _compiles(spark) - before
    assert compiled <= MAX_WARM_COMPILES, f"warm resolve compiled {compiled} classes"


def test_repeated_durable_fold_compiles_no_new_classes(spark, tmp_path):
    """A warm fold + save + load puts no batch id into generated code. Of
    five folds onto a loaded state, the median of the last three (the warm
    ones) compiles (almost) nothing; a single fold's plan can still vary
    with AQE's run-time choices, so one sample would be noisy."""
    rows = generate_repo_files(400, seed=11).rows
    chunks = [rows.iloc[:150]] + [rows.iloc[a:a + 50] for a in range(150, 400, 50)]
    store = CheckpointStore(str(tmp_path / "state"), spark)
    state, per_op = None, []
    for bid, chunk in enumerate(chunks):
        before = _compiles(spark)
        folded = resolve_increment(spark.createDataFrame(chunk), state, CFG, id_col="row_id")
        save_state(folded, store, bid)
        state = load_state(store, spark)
        per_op.append(_compiles(spark) - before)
    compiled = statistics.median(per_op[-3:])
    assert compiled <= MAX_WARM_COMPILES, (
        f"warm fold + save + load compiled {per_op} classes")
