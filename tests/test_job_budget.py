"""Spark-job budgets, pinned in ``tests/job_budget.json`` at sf0.01.

- ``jobs``: the dedup/search/similarity operator family.  Counting
  follows ``scripts/job_audit.py``: one untimed warm call of the entry,
  then the jobs fired by building the DataFrame (the operators' eager
  gate probes and checkpoints) plus its ``.count()``.
- ``delivered``: the semantic-layer entries the ``bi_mix`` benchmark
  draws, counted the same way but through ``toArrow()``, which delivers
  every column in the contract's total order (``.count()`` prunes the
  columns and drops the sort).

A count above the budget fails; a count below it means the budget file
should be lowered to the new value.
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


def count_jobs(
    spark, names, sf_dir=BUDGET_SF_DIR, run=lambda df: df.count()
) -> dict[str, int]:
    """Steady-state jobs per entry: warm once, then count the jobs the
    second build + ``run(df)`` fires."""
    queries = _load_entry().queries()
    sc = spark.sparkContext
    out = {}
    for name in names:
        fn = queries[name]
        run(fn(spark, sf_dir))
        before = sc._jsc.sc().dagScheduler().nextJobId()
        run(fn(spark, sf_dir))
        out[name] = sc._jsc.sc().dagScheduler().nextJobId() - before
    return out


def _check_budget(spark, section, run):
    from sidemantic_spark.models.tpch import register_tables

    if not os.path.exists(os.path.join(BUDGET_SF_DIR, "documents.parquet")):
        pytest.skip("sf0.01 testdata unavailable")
    with open(BUDGET_PATH) as f:
        budget = json.load(f)[section]
    try:
        got = count_jobs(spark, sorted(budget), run=run)
    finally:
        # later modules read the default-scale views
        register_tables(spark, SF_DIR)
    over = {n: (got[n], budget[n]) for n in budget if got[n] > budget[n]}
    assert not over, f"jobs (got, budget) above budget: {over}"


def test_operator_job_budget(spark):
    _check_budget(spark, "jobs", lambda df: df.count())


def test_delivered_job_budget(spark):
    _check_budget(spark, "delivered", lambda df: df.toArrow())


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_view_registration_fires_no_job(spark, sf):
    """``register_tables`` hands the footer schema to the reader: no
    schema-inference job, and every view's schema equals the one
    ``spark.read.parquet`` infers (nanosecond columns cast as the view
    casts them)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from sidemantic_spark.models.tpch import TABLES, register_tables
    from tests.conftest import jobs_fired

    sf_dir = os.path.join(os.path.dirname(SF_DIR), sf)
    if not os.path.exists(os.path.join(sf_dir, "orders.parquet")):
        pytest.skip(f"{sf} testdata unavailable")
    try:
        _, jobs = jobs_fired(spark, lambda: register_tables(spark, sf_dir))
        assert jobs == 0
        for t in TABLES:
            path = f"{sf_dir}/{t}.parquet"
            inferred = spark.read.parquet(path)
            for f in pq.read_schema(path):
                if str(f.type).startswith("timestamp[ns"):
                    inferred = inferred.withColumn(
                        f.name, F.timestamp_micros(F.expr(f"`{f.name}` div 1000"))
                    )
            assert spark.table(t).schema == inferred.schema, t
    finally:
        register_tables(spark, SF_DIR)
