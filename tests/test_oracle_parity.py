"""The main correctness gate: every registered query whose oracle SQL
exists must match the DuckDB oracle at sf0.01 — exactly what the
driver's t2 check does."""

from __future__ import annotations

import pytest

from starrocks_spark import registry
from tests._compare import assert_matches_oracle

_QUERIES = registry.all_queries()
_ORACLES = registry.all_oracles()


def _sampled_sort_exchanges(df) -> list[str]:
    """Range exchanges that Spark inserted to satisfy a global sort
    (origin ENSURE_REQUIREMENTS) in the AQE initial plan: each one
    runs a sampling job that evaluates the sort's input a second time.
    Explicit repartitionByRange exchanges carry a REPARTITION_BY_*
    origin and are not listed."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    return [line.strip() for line in plan.toString().splitlines()
            if "Exchange rangepartitioning" in line
            and "ENSURE_REQUIREMENTS" in line]


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    df = _QUERIES[name](spark, sf_dir)
    # a collected result's final sort goes through sort_result
    # (queries/_util.py), never a sampled range exchange
    assert _sampled_sort_exchanges(df) == [], name
    if name not in _ORACLES:
        # rows-only check (non-SQL-expressible op)
        assert df.count() >= 0
        return
    assert_matches_oracle(df, duck, _ORACLES[name], name=name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns


def test_registry_consistency():
    assert set(_ORACLES) <= set(_QUERIES)
