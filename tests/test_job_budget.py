"""Eager-job budget for the dedup/search/similarity operator family.

Each entry's steady-state Spark job count at sf0.01 is pinned in
``tests/job_budget.json``. Counting follows ``scripts/job_audit.py``:
one untimed warm call of the entry, then the jobs fired by building
the DataFrame (the operators' eager gate probes and checkpoints) plus
its ``.count()``. A count above the budget fails; a count below it
means the budget file should be lowered to the new value.
"""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUDGET_PATH = os.path.join(ROOT, "tests", "job_budget.json")
BUDGET_SF_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def count_jobs(spark, names, sf_dir=BUDGET_SF_DIR) -> dict[str, int]:
    """Steady-state jobs per entry: warm once, then count the jobs the
    second build + ``.count()`` fires."""
    queries = _load_entry().queries()
    sc = spark.sparkContext
    out = {}
    for name in names:
        fn = queries[name]
        fn(spark, sf_dir).count()
        before = sc._jsc.sc().dagScheduler().nextJobId()
        fn(spark, sf_dir).count()
        out[name] = sc._jsc.sc().dagScheduler().nextJobId() - before
    return out


def test_operator_job_budget(spark):
    from sidemantic_spark.models.tpch import register_tables

    if not os.path.exists(os.path.join(BUDGET_SF_DIR, "documents.parquet")):
        pytest.skip("sf0.01 testdata unavailable")
    with open(BUDGET_PATH) as f:
        budget = json.load(f)["jobs"]
    try:
        got = count_jobs(spark, sorted(budget))
    finally:
        # later modules read the default-scale views
        register_tables(spark, SF_DIR)
    over = {n: (got[n], budget[n]) for n in budget if got[n] > budget[n]}
    assert not over, f"jobs (got, budget) above budget: {over}"
