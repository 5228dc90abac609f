"""Invariant tests for the late-r8 additions: largest-remainder
mixture allocation, integer-fixed-point classifier inference, and the
UNPIVOT reshape. (Cross-engine value parity is covered for all three
by test_oracle_parity like every registered query; these pin the
engine-side algebraic invariants that a hash match alone would not
localize.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from sp500_stock_etl_spark.plans.queries_corpus import (
    _MIX_BUDGET,
    q_domain_mixture,
    q_quality_classifier,
)
from sp500_stock_etl_spark.plans.queries_relational import q_unpivot_measures

SF = "/root/testdata/sf0.001"


def test_mixture_allocs_sum_to_budget(spark):
    rows = q_domain_mixture(spark, SF).collect()
    assert sum(r["alloc"] for r in rows) == _MIX_BUDGET
    # Largest-remainder never moves a source more than 1 seat off its
    # floor share.
    for r in rows:
        assert r["alloc"] in (r["base_alloc"], r["base_alloc"] + 1)
        assert r["weight"] ** 2 <= r["cnt"] < (r["weight"] + 1) ** 2


def test_mixture_flattens_toward_small_domains(spark):
    # alpha=0.5: allocation shares must be strictly flatter than raw
    # count shares — the largest domain's alloc share <= its count
    # share, the smallest's >= (the whole point of temperature).
    rows = sorted(q_domain_mixture(spark, SF).collect(), key=lambda r: r["cnt"])
    tot_cnt = sum(r["cnt"] for r in rows)
    lo, hi = rows[0], rows[-1]
    if lo["cnt"] < hi["cnt"]:  # degenerate equal-count corpora skip
        assert hi["alloc"] / _MIX_BUDGET <= hi["cnt"] / tot_cnt + 1e-12
        assert lo["alloc"] / _MIX_BUDGET >= lo["cnt"] / tot_cnt - 1e-12


def test_classifier_sigmoid_is_monotone_and_clamped(spark):
    rows = q_quality_classifier(spark, SF).collect()
    assert rows
    by_logit = sorted(rows, key=lambda r: r["logit_micro"])
    probs = [r["prob_ppm"] for r in by_logit]
    assert probs == sorted(probs)  # monotone in the logit
    for r in rows:
        assert 0 <= r["prob_ppm"] <= 1_000_000
        assert r["keep"] == (1 if r["logit_micro"] >= 0 else 0)
        # keep == prob >= 0.5 is the same decision (consistency of the
        # piecewise-linear sigmoid with the sign threshold).
        assert r["keep"] == (1 if r["prob_ppm"] >= 500_000 else 0)


def test_unpivot_is_lossless_reshape(spark):
    # 4 measures -> exactly 4x the input rows, and each measure's
    # count equals the input count.
    long = q_unpivot_measures(spark, SF)
    rows = long.collect()
    from sp500_stock_etl_spark.io.readers import load_table

    n_in = load_table(spark, SF, "lineitem").count()
    assert sum(r["n_rows"] for r in rows) == 4 * n_in
    per_measure = {}
    for r in rows:
        per_measure[r["measure"]] = per_measure.get(r["measure"], 0) + r["n_rows"]
    assert set(per_measure) == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
    }
    assert all(v == n_in for v in per_measure.values())


def test_unpivot_plan_is_expand_no_midplan_shuffle(spark):
    # The reshape itself must be the map-side Expand operator; the
    # only Exchange is the final aggregate's.
    plan = q_unpivot_measures(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    assert plan.count("Exchange") <= 1
