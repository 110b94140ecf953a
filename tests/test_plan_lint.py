"""Repo-wide physical-plan lint: every registered query's plan is
checked for the scale anti-patterns PLANS.md promises are absent —
so a future edit can't quietly reintroduce one (the per-query version
of the targeted plan pins in test_statemachine / test_extraction).
"""

import pytest

import __spark_entry__ as entry_mod

# BroadcastNestedLoopJoin is only acceptable when one side is a
# provably tiny relation (a single-row aggregate or a fixed candidate
# list crossed in deliberately).
_BNLJ_OK = {
    "cp_admin_add_engine",   # 1-row max-id aggregates crossed into inserts
    # partsupp derivation: part × a fixed 4-row VALUES list (the
    # deterministic in-SQL stand-in for the absent partsupp table)
    "cp_sql_tpch_q2_min_cost", "cp_sql_tpch_q9_profit",
    "cp_sql_tpch_q11_stock", "cp_sql_tpch_q16_supp_count",
    "cp_sql_tpch_q20_excess_stock",
}

_QUERIES = list(entry_mod.queries().items())


@pytest.mark.parametrize("name,fn", _QUERIES, ids=[q[0] for q in _QUERIES])
def test_plan_has_no_scale_antipatterns(spark, sf_smoke, name, fn):
    plan = fn(spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    # BatchEvalPython = row-at-a-time (non-Arrow) Python UDF
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if name not in _BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: nested-loop join outside the tiny-relation whitelist"
        )


def test_whitelists_name_registered_queries():
    """Every _BNLJ_OK entry must name a registered query: a
    stale entry left behind by a deleted query would silently exempt
    whatever later reuses the name."""
    registered = set(entry_mod.queries())
    assert _BNLJ_OK <= registered, sorted(_BNLJ_OK - registered)
