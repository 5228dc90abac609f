"""Tests of the benchmark's own helpers.

    python -m pytest perfbench -q

The last test starts a small Spark session in a child process (about
20 s); the others need no Spark.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import subprocess
import sys
import textwrap

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def test_same_seed_same_tables_other_seed_differs(tmp_path):
    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        inputs.write_tables(str(tmp_path / d), seed, 0.001)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_same_seed_same_csv_other_seed_differs(tmp_path):
    paths = {}
    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        paths[d] = tmp_path / f"{d}.csv"
        inputs.write_stock_csv(str(paths[d]), seed, 20, 30)
    a, b, c = (paths[d].read_bytes() for d in "abc")
    assert a == b
    assert a != c
    lines = a.decode().splitlines()
    assert len(lines) == 1 + 20 * 30
    assert lines[1].startswith('"1/1/2020",')
    assert any(tok in a.decode() for tok in ('"NULL"', '"\\N"', '""', '"null"'))


def test_op_sequence_is_seeded_and_covers_every_query_each_pass():
    names = [f"q{i}" for i in range(9)]

    def first(seed, k=4):
        return list(itertools.islice(inputs.op_passes(seed, names), k))

    assert first(3) == first(3)
    assert first(3) != first(4)
    assert all(sorted(p) == names for p in first(3))


@pytest.mark.parametrize("n", range(1, 60))
def test_tail_keeps_ten_samples_beyond(n):
    values = [float(i) for i in range(n)][::-1]
    t = stats.tail(values)
    if t is None:
        assert n < 21  # the rank would not be above the median
        return
    assert sum(v > t["value"] for v in values) >= 10
    assert t["n"] == n
    assert 50.0 < t["percentile"] < 100.0


def test_tail_reports_highest_supported_percentile():
    t = stats.tail([float(i) for i in range(1, 101)])
    assert t == {"value": 90.0, "percentile": 90.0, "n": 100}


def _span(name, start, end, parent):
    return {"name": name, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span("op", 0.0, 10.0, None),
        _span("plans.build", 0.0, 6.0, 0),
        _span("io.readers.load_table", 1.0, 2.0, 1),
        _span("operators.dedup.jaccard_verify", 1.5, 3.0, 1),  # overlaps the sibling
        _span("operators.dedup.connected_components", 5.5, 7.0, 1),  # runs past the parent
        _span("spark.exec", 6.0, 9.0, 0),
    ]
    selfs = stats.self_times(spans)
    assert selfs[0] == pytest.approx(1.0)  # 10 - 6 - 3
    assert selfs[1] == pytest.approx(6.0 - 2.0 - 0.5)  # union [1,3] + clipped [5.5,6]
    assert selfs[2] == pytest.approx(1.0)
    assert selfs[5] == pytest.approx(3.0)


def test_outermost_counts_recursive_calls_once():
    spans = [
        _span("op", 0, 10, None),
        _span("f", 1, 5, 0),
        _span("g", 2, 4, 1),
        _span("f", 2.5, 3, 2),
        _span("f", 6, 7, 0),
    ]
    assert stats.outermost(spans, "f") == [1, 4]
    assert stats.descendants(spans, 1) == [1, 2, 3]


def test_check_flags_wrong_values_and_shapes():
    parity = workloads._load_parity()
    want = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    expected = (sorted(want.columns), parity._pdf_canon(want))
    shuffled = want.iloc[::-1].reset_index(drop=True)
    assert workloads._compare(parity, shuffled, *expected) is None
    wrong = want.assign(v=[0.5, 1.5000000001])
    assert "values differ" in workloads._compare(parity, wrong, *expected)
    assert "row count" in workloads._compare(parity, want.iloc[:1], *expected)
    assert "columns" in workloads._compare(parity, want.rename(columns={"v": "w"}), *expected)


_FROM_IMPORT_SCRIPT = textwrap.dedent(
    """
    import json, os, sys
    sys.path[:0] = [{here!r}, {root!r}]
    import inputs
    from tracing import Tracer

    tracer = Tracer()
    tracer.install()
    from sp500_stock_etl_spark.io import readers
    from sp500_stock_etl_spark.plans import queries_reference
    from sp500_stock_etl_spark.plans.registry import all_queries
    from sp500_stock_etl_spark.session import get_spark

    assert queries_reference.load_table is readers.load_table
    data = os.path.join(os.getcwd(), "data")
    inputs.write_tables(data, 1, 0.001)
    spark = get_spark("perfbench-test", cpus=2)
    try:
        tracer.attach(spark)
        tracer.active = True
        with tracer.op(0, "flagship_window_metrics"):
            all_queries()["flagship_window_metrics"].spark_fn(spark, data).toPandas()
        tracer.active = False
        print(json.dumps(tracer.op_metrics(0)))
    finally:
        spark.stop()
    """
)


def test_from_import_call_is_traced(tmp_path):
    """load_table reaches flagship_window_metrics through ``from … import``;
    installing the tracer before the registry import must still count it."""
    env = dict(
        os.environ,
        TMPDIR=str(tmp_path),
        SPARK_LOCAL_DIRS=str(tmp_path),
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options -Djava.io.tmpdir={tmp_path} pyspark-shell",
    )
    out = subprocess.run(
        [sys.executable, "-c", _FROM_IMPORT_SCRIPT.format(here=HERE, root=ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    m = json.loads(out.stdout.strip().splitlines()[-1])
    assert m["io.readers.load_table_calls"] >= 1
    assert m["io.readers.load_table_s"] > 0
    assert m["io.readers.load_table_jobs"] <= m["spark.jobs"]
    assert m["spark.jobs"] >= 1
    assert m["spark.stages"] >= 1


def test_install_refuses_after_query_modules_are_imported():
    script = (
        f"import sys; sys.path[:0] = [{HERE!r}, {ROOT!r}]\n"
        "from sp500_stock_etl_spark.plans.registry import all_queries; all_queries()\n"
        "from tracing import Tracer\n"
        "try:\n    Tracer().install()\nexcept RuntimeError as e:\n    print('refused', e)\n"
    )
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.startswith("refused")
