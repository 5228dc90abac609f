#!/usr/bin/env python
"""Per-query timer and plan dump.

Times individual registry queries with the bench methodology (noop
sink, warmup absorbed, best-of-N) and optionally writes each query's
`.explain("formatted")` to <DIR>/<query>.txt so before/after plan
claims can be committed as evidence.

For each query it also prints the number of generated classes Spark
compiled during the timed reps (CodegenMetrics; near 0 once the plan
is warm, so a codegen-cache miss shows up here), the number of Spark
jobs each timed rep started (one job group per rep, counted with the
status tracker: listing, schema-inference and build jobs show up here
next to the execution jobs; a streaming query's micro-batches run
under the stream's own group and are not counted), and a hash of the
sorted output rows, from one extra untimed collect, in the canonical
form of tests/parity.py: equal hashes before and after a change are
its output-identity proof.

Usage:
    python scripts/measure.py [--reps 3] [--explain DIR] [--sf DIR] q1 q2 ...
    python scripts/measure.py --no-time --explain plans/before dedup_prefix_jaccard
"""

from __future__ import annotations

import argparse
import hashlib
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import SMOKE_SF_DIR  # noqa: E402
from sp500_stock_etl_spark.io.readers import DEFAULT_SF_DIR  # noqa: E402
from sp500_stock_etl_spark.plans.registry import all_queries  # noqa: E402
from sp500_stock_etl_spark.session import get_spark  # noqa: E402
from sp500_stock_etl_spark.hostinfo import host_mt_ms, host_st_ms  # noqa: E402
from tests.parity import _pdf_canon  # noqa: E402


def output_hash(df) -> str:
    """Order-insensitive hash of a DataFrame's columns and rows."""
    pdf = df.toPandas()
    canon = (sorted(pdf.columns), _pdf_canon(pdf))
    return hashlib.sha256(repr(canon).encode()).hexdigest()[:16]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain", default=None, metavar="DIR",
                    help="dump explain('formatted') to DIR/<q>.txt")
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument("--no-time", action="store_true",
                    help="explain only, skip timed runs")
    args = ap.parse_args()

    spark = get_spark("measure")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    tracker = sc.statusTracker()
    registry = all_queries()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> int:
        return codegen.METRIC_COMPILATION_TIME().getCount()

    # Same warmups as bench.py: JVM/codegen + Python worker pool.
    registry["flagship_window_metrics"].spark_fn(
        spark, SMOKE_SF_DIR
    ).write.format("noop").mode("overwrite").save()
    from sp500_stock_etl_spark.operators.multimodal import synthetic_png_corpus

    synthetic_png_corpus(spark, 2).write.format("noop").mode("overwrite").save()

    if args.explain:
        os.makedirs(args.explain, exist_ok=True)

    out: dict[str, dict] = {}
    for name in args.queries:
        q = registry[name]
        if args.explain:
            df = q.spark_fn(spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                f.write(buf.getvalue())
        if args.no_time:
            continue
        walls, groups = [], []
        compiles0 = compiles()
        for rep in range(args.reps):
            group = f"measure:{name}:{rep}"
            sc.setJobGroup(group, f"measure:{name}")
            t0 = time.perf_counter()
            q.spark_fn(spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            walls.append(round(time.perf_counter() - t0, 3))
            sc._jsc.clearJobGroup()
            groups.append(group)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out[name] = {
            "best": min(walls),
            "walls": walls,
            "jobs": [len(tracker.getJobIdsForGroup(g)) for g in groups],
            "compiles": compiles() - compiles0,
            "hash": output_hash(q.spark_fn(spark, args.sf)),
        }
        print(
            f"{name}: best={min(walls)} walls={walls} jobs={out[name]['jobs']} "
            f"compiles={out[name]['compiles']} hash={out[name]['hash']}",
            flush=True,
        )

    print(json.dumps({
        "host_st_ms": host_st_ms(),
        "host_mt_ms": host_mt_ms(),
        "sf": args.sf,
        "timings": out,
    }))


if __name__ == "__main__":
    main()
