#!/usr/bin/env python
"""Per-query timer and plan dump.

Times individual registry queries with the bench methodology (noop
sink, warmup absorbed, best-of-N) and optionally writes each query's
`.explain("formatted")` to <DIR>/<query>.txt so before/after plan
claims can be committed as evidence.

Usage:
    python scripts/measure.py [--reps 3] [--explain DIR] [--sf DIR] q1 q2 ...
    python scripts/measure.py --no-time --explain plans/before dedup_prefix_jaccard
"""

from __future__ import annotations

import argparse
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
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()

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
        walls = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"measure:{name}")
            t0 = time.perf_counter()
            q.spark_fn(spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            walls.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = {"best": min(walls), "walls": walls}
        print(f"{name}: best={min(walls)} walls={walls}", flush=True)

    print(json.dumps({
        "host_st_ms": host_st_ms(),
        "host_mt_ms": host_mt_ms(),
        "sf": args.sf,
        "timings": out,
    }))


if __name__ == "__main__":
    main()
