"""Native WITH RECURSIVE invariants (late r8). Cross-engine value
parity is covered by test_oracle_parity (the SQL text is query and
oracle); these pin the engine-side structural facts plus the
VERIFIED Spark 4.1 boundary: only UNION ALL recursion is supported.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql.utils import AnalysisException

from sp500_stock_etl_spark.plans.queries_graph import (
    q_recursive_bom,
    q_recursive_walk,
)

SF = "/root/testdata/sf0.001"


def test_union_distinct_recursion_is_rejected(spark):
    """Spark 4.1 raises UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE for
    UNION-distinct recursion — the fact that keeps unbounded
    cycle-safe reachability in the connected-components operators.
    When this test starts failing, Spark has added support and a
    reachability query can join the registry."""
    with pytest.raises(AnalysisException, match="UNION"):
        spark.sql(
            """
            WITH RECURSIVE t(n) AS (
                SELECT 1 UNION SELECT n + 1 FROM t WHERE n < 3
            ) SELECT * FROM t
            """
        ).collect()


def test_bom_every_leaf_reaches_root(spark):
    from sp500_stock_etl_spark.io.readers import load_table

    part = load_table(spark, SF, "part")
    n_parts = part.count()
    n_leaves = part.where("p_size = 50").count()
    rows = q_recursive_bom(spark, SF).collect()
    # exactly one terminal (root-reaching) row per filtered leaf
    assert len(rows) == n_leaves
    assert len({r["part_id"] for r in rows}) == n_leaves
    # depth of key k in the heap tree is floor(log2(k+1))
    max_depth = int(math.floor(math.log2(n_parts)))
    assert all(0 <= r["depth"] <= max_depth for r in rows)
    # chain sum strictly exceeds any single retail price -> positive
    assert all(r["chain_cents"] > 0 for r in rows)


def test_walk_fixed_horizon(spark):
    from sp500_stock_etl_spark.io.readers import load_table

    sup = load_table(spark, SF, "supplier")
    n_seeds = sup.where("s_suppkey % 7 = 0").count()
    rows = q_recursive_walk(spark, SF).collect()
    # one terminal row per seed, each having taken exactly 12 hops
    assert len(rows) == n_seeds
    assert len({r["start_key"] for r in rows}) == n_seeds
    # replay one chain driver-side against the SQL's successor rule
    bal = {
        r["s_suppkey"]: int(math.floor(r["s_acctbal"] * 100))
        for r in sup.collect()
    }
    n = len(bal)
    seed = sorted(k for k in bal if k % 7 == 0)[0]
    cur, total = seed, bal[seed]
    for _ in range(12):
        cur = (cur * 7 + 3) % n
        total += bal[cur]
    got = {r["start_key"]: (r["end_key"], r["bal_cents"]) for r in rows}
    assert got[seed] == (cur, total)


def test_lateral_topk_decorrelates_to_window_group_limit(spark):
    """The correlated LATERAL ... LIMIT 2 must be decorrelated into
    WindowGroupLimit (map-side partial top-k before the shuffle) +
    an equi-join — never a nested-loop or cartesian plan."""
    from sp500_stock_etl_spark.plans.queries_relational import q_lateral_topk

    plan = (
        q_lateral_topk(spark, SF)._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sql_udf_is_inlined(spark):
    """The SQL-defined UDF must leave NO udf call in the physical
    plan — the body is inlined into the aggregate expression."""
    from sp500_stock_etl_spark.plans.queries_relational import q_sql_udf_cents

    plan = (
        q_sql_udf_cents(spark, SF)._jdf.queryExecution().executedPlan().toString()
    )
    assert "order_cents" not in plan.lower()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "FLOOR" in plan.upper()
