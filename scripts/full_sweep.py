#!/usr/bin/env python
"""Registry DuckDB parity sweep, driven through ``__spark_entry__.py``
the way the external driver drives it:

    python scripts/full_sweep.py <sf_dir> [start] [end]
    python scripts/full_sweep.py <sf_dir> --names q1 q2 ...

First runs the ``entry(spark)`` smoke once and checks that every
oracle names a query. Then sweeps sorted(queries())[start:end]
(default: all), or the named queries, against their oracles in a
hostile session (ANSI on, ``America/New_York``). Prints one PROG line
per query and a final SWEEP summary; FAIL lines list any mismatches.
Index slices let a long sweep run in bounded chunks (the tri-scale
certification in BASELINE.md §9).
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# Oracles that are PATHOLOGICAL for DuckDB above sf0.01 — not the
# engine's plans, the ground-truth constructs: all-pairs quadratics
# and single-threaded recursive-CTE replays. Above sf0.01 these run a
# SLICED certification: the sweep materializes a deterministic
# id-band slice of `documents` (doc_id % 8 = 0; 625 of sf0.1's 5000)
# into a temp sf-dir with every other table symlinked, then runs the
# UNCHANGED registered query and oracle on it. Both engines see
# identical input, the checked content is real sf0.1 documents, and
# the quadratic/recursive oracle work stays ~sf0.01-sized. The band
# keeps ids divisible by 40, so the doc_id%5==0 planted-variant rate
# (1 in 5) is preserved exactly — the near-dup query still has
# positives to find.
SLICED_CERT = {
    "dedup_ngram_jaccard",  # all-pairs exact baseline (documented exhibit)
    "corpus_sequence_packing",  # recursive-CTE greedy-pack replay
    "corpus_training_build",  # composed recursive-CTE capstone oracle
}
SLICE_PRED = "doc_id % 8 = 0"


def _make_sliced_dir(sf_dir: str) -> str:
    import atexit
    import glob as g
    import shutil
    import tempfile

    import duckdb as dk

    d = tempfile.mkdtemp(prefix="sg_sliced_cert_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    for p in sorted(g.glob(sf_dir.rstrip("/") + "/*.parquet")):
        name = os.path.basename(p)
        if name == "documents.parquet":
            dk.sql(
                f"COPY (SELECT * FROM read_parquet('{p}') WHERE {SLICE_PRED})"
                f" TO '{d}/{name}' (FORMAT parquet)"
            )
        else:
            os.symlink(p, f"{d}/{name}")
    return d


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    named = args[2:] if args[1:2] == ["--names"] else None
    start = int(args[1]) if len(args) > 1 and named is None else 0
    end = int(args[2]) if len(args) > 2 and named is None else 10**9

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "__spark_entry__.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    from pyspark.sql import SparkSession

    from tests.parity import compare, duckdb_connect

    spark = (
        SparkSession.builder.master("local[16]")
        # Explicit heap: Spark's 1g default gives 16 concurrent tasks
        # ~27 MB of execution memory each — below what any
        # shuffle-heavy operator can run in (dedup_prefix_jaccard
        # heap-OOMs there; the same plan passes
        # at local[4]/1g and local[16]/2g). 512 MB+/core is the
        # realistic provisioning floor; certify under it, not under a
        # toy default.
        .config("spark.driver.memory", "8g")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.sql.shuffle.partitions", "16")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    print("ENTRY rows:", mod.entry(spark).count(), flush=True)
    con = duckdb_connect(sf_dir)
    qs, oracles = mod.queries(), mod.oracle_sql()
    assert set(oracles) <= set(qs), sorted(set(oracles) - set(qs))
    names = named if named is not None else sorted(qs)[start:end]
    t0 = time.time()
    fails = []
    sliced_dir = None
    sliced_con = None
    for i, name in enumerate(names):
        try:
            sf_val = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
        except ValueError:
            sf_val = 0.0
        sliced = name in SLICED_CERT and sf_val >= 0.1
        if sliced and sliced_dir is None:
            sliced_dir = _make_sliced_dir(sf_dir)
            sliced_con = duckdb_connect(sliced_dir)
        run_dir = sliced_dir if sliced else sf_dir
        run_con = sliced_con if sliced else con
        tag = " (sliced-cert)" if sliced else ""
        try:
            d = qs[name](spark, run_dir)
            if name in oracles:
                ok, msg = compare(d, run_con, oracles[name])
                if not ok:
                    fails.append((name, msg[:150]))
            else:
                d.count()
            print(
                f"PROG {start + i + 1} {name} "
                f"{round(time.time() - t0, 1)}s{tag}",
                flush=True,
            )
        except Exception as ex:  # noqa: BLE001
            fails.append((name, "EXC " + str(ex)[:150]))
            print(f"PROG {start + i + 1} {name} EXC", flush=True)
    print(
        f"SWEEP {sf_dir} [{start}:{end}]: {len(names)} queries, "
        f"{len(fails)} FAIL, {round(time.time() - t0, 1)}s",
        flush=True,
    )
    for n, m in fails:
        print("FAIL", n, m.replace("\n", " "), flush=True)


if __name__ == "__main__":
    main()
