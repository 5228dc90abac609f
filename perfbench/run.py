"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
the seed, starts one local[nproc] session, runs one checked warm-up
pass over the workload's ops, then its timed passes (closed loop, one
client), adding passes while under ``--seconds`` of op time. Every op's output
is checked. The last stdout line is the result: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. The line before it
is the full report (every end-to-end metric with its unit, per-op
walls, warm-up drift, and for traced runs the tracing overhead). All
files go under ``.perfbench/`` in the checkout; the per-run scratch
directory is removed at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

from stats import drift, median, tail  # noqa: E402
from tracing import (  # noqa: E402
    STAGE_FIELDS,
    TRACED_FUNCTIONS,
    RssSampler,
    Tracer,
    process_tree,
    tree_cpu_s,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sp500_stock_etl_spark"

# End-to-end metrics on the result line (the gated ones, see README.md).
RESULT_E2E = ("setup_s", "cpu_s_per_op")


def per_layer_names() -> list[tuple[str, str]]:
    """Per-layer metrics on the result line of a traced run. Times of
    single functions and of streaming triggers are zero on workloads that
    never call them, so they are only in the report's ``layers``; their
    call and job counts are here."""

    names = [
        ("session.get_spark_s", "s"),
        ("plans.build_s", "s"),
        ("plans.build_jobs", "count"),
        ("spark.plan_s", "s"),
        ("spark.exec_s", "s"),
        ("spark.exec_jobs", "count"),
        ("spark.jobs", "count"),
        ("spark.stages", "count"),
    ]
    for key in STAGE_FIELDS:
        unit = "s" if key.endswith("_s") else "bytes" if key.endswith("_bytes") else "count"
        names.append((key, unit))
    for mod_name, fn_name in TRACED_FUNCTIONS[1:]:
        key = f"{mod_name}.{fn_name}"
        names += [(f"{key}_calls", "count"), (f"{key}_jobs", "count")]
    names += [
        ("io.files_written", "count"),
        ("io.bytes_written", "bytes"),
        ("streaming.batches", "count"),
        ("driver.cpu_s", "s"),
    ]
    return names


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests meanwhile:
    a noise indicator for the run."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if total else 0.0


def written_since(top: str, skip: tuple[str, ...], since_ns: int) -> tuple[int, int]:
    """Files under ``top`` (outside ``skip``) changed since ``since_ns``,
    and their total size."""
    files = size = 0
    for d, dirs, names in os.walk(top):
        dirs[:] = [x for x in dirs if os.path.join(d, x) not in skip]
        for n in names:
            try:
                st = os.stat(os.path.join(d, n))
            except FileNotFoundError:
                continue
            if st.st_mtime_ns >= since_ns:
                files += 1
                size += st.st_size
    return files, size


def isolate(run_dir: str) -> dict[str, str]:
    """Point every temp and scratch location of the driver, the JVM and
    the Python workers into ``run_dir`` before Spark starts."""
    paths = {k: os.path.join(run_dir, k) for k in ("tmp", "spark-local", "cwd", "work")}
    for p in paths.values():
        os.makedirs(p)
    paths["run"] = run_dir
    os.environ["TMPDIR"] = paths["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = paths["spark-local"]
    # Both JVMs (the spark-submit launcher and the driver): temp files
    # in the run directory, no hsperfdata file under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={paths['tmp']} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # A bounded driver heap: the inputs are small and the host is shared.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.chdir(paths["cwd"])  # spark-warehouse, metastore_db, derby.log
    return paths


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for
    all of them to exit."""
    from pyspark import SparkContext

    pids = set(process_tree()) - {os.getpid()}
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Run:
    """The ops of one run, each timed, checked and (if traced) profiled."""

    def __init__(self, paths: dict[str, str]) -> None:
        self.paths = paths
        self.tracer = Tracer()
        self.ops: list[dict] = []
        self.errors: list[str] = []

    def op(self, spark, workload, name: str, pass_no: int, traced: bool) -> dict:
        tracer = self.tracer
        rec = {"op": len(self.ops), "name": name, "pass": pass_no, "traced": traced}
        since = time.time_ns()
        tree0 = tree_cpu_s()
        cpu0 = resource.getrusage(resource.RUSAGE_SELF)
        pdf = None
        t0 = time.perf_counter()
        try:
            if traced:
                tracer.active = True
                try:
                    with tracer.op(rec["op"], name) as root:
                        with tracer.span("plans.build"):
                            df = workload.build(spark, name)
                        with tracer.span("spark.plan"):
                            df._jdf.queryExecution().executedPlan()
                        with tracer.span("spark.exec"):
                            pdf = df.toPandas()
                finally:
                    tracer.active = False
            else:
                pdf = workload.build(spark, name).toPandas()
        except Exception as exc:  # an op that raises is counted as failed
            rec["error"] = f"{type(exc).__name__}: {exc}"[:2000]
        rec["wall_s"] = time.perf_counter() - t0
        cpu1 = resource.getrusage(resource.RUSAGE_SELF)
        rec["tree_cpu_s"] = tree_cpu_s() - tree0
        rec["cpu_s"] = (cpu1.ru_utime - cpu0.ru_utime) + (cpu1.ru_stime - cpu0.ru_stime)
        if pdf is not None:
            mismatch = workload.check(name, pdf)
            if mismatch:
                rec["error"] = f"wrong output: {mismatch}"[:2000]
        rec["ok"] = "error" not in rec
        if not rec["ok"]:
            self.errors.append(f"op {rec['op']} {name}: {rec['error']}")
            print(self.errors[-1], file=sys.stderr)
        rec["files"], rec["bytes"] = written_since(
            self.paths["run"], (self.paths["spark-local"], workload.input_dir), since
        )
        if traced and rec["ok"]:
            m = tracer.op_metrics(root["index"])
            m["driver.cpu_s"] = rec["cpu_s"]
            m["io.files_written"] = rec["files"]
            m["io.bytes_written"] = rec["bytes"]
            rec["layers"] = m
        self.ops.append(rec)
        return rec


def summarize(ops: list[dict]) -> dict:
    ok = [o for o in ops if o["ok"]]
    total = sum(o["wall_s"] for o in ops)
    return {
        "latency_p50_s": median([o["wall_s"] for o in ok]),
        "ops_per_s": len(ok) / total if total else 0.0,
        "cpu_s_per_op": sum(o["tree_cpu_s"] for o in ops) / len(ok) if ok else 0.0,
    }


def ratio(a: float, b: float) -> float | None:
    """Relative change of ``a`` over ``b`` (0.05 = 5% more)."""
    return a / b - 1.0 if b else None


def layer_means(ops: list[dict], tracer) -> dict[str, float]:
    """Per-layer metrics as a mean per traced op; ``session.get_spark_s``
    is the one set-up call."""
    traced = [o["layers"] for o in ops if "layers" in o]
    keys = {k for m in traced for k in m}
    out = {k: sum(m.get(k, 0.0) for m in traced) / len(traced) for k in keys} if traced else {}
    out["session.get_spark_s"] = sum(
        s["end"] - s["start"] for s in tracer.spans if s["name"] == "session.get_spark"
    )
    return out


def shares(layers: dict[str, float]) -> dict[str, float]:
    """Shares of the mean traced op wall: build (everything inside the
    op's DataFrame construction, its traced layer calls included), of
    which build_self is outside any traced layer call; plan; exec."""
    wall = layers.get("op_wall_s", 0.0)
    if not wall:
        return {}
    plan, exe = layers.get("spark.plan_s", 0.0), layers.get("spark.exec_s", 0.0)
    return {
        "build": (wall - plan - exe) / wall,
        "build_self": layers.get("plans.build_s", 0.0) / wall,
        "plan": plan / wall,
        "exec": exe / wall,
    }


def write_spans(tracer, args) -> str:
    path = os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(
            [{k: s[k] for k in ("name", "start", "end", "parent", "op")} for s in tracer.spans], f
        )
    return os.path.relpath(path, ROOT)


def execute(args, paths: dict[str, str], session: dict) -> tuple[dict, dict]:
    from inputs import op_passes
    from workloads import WORKLOADS

    t = time.perf_counter()
    workload = WORKLOADS[args.workload](args.workload, paths["work"], args.seed)
    gen_s = time.perf_counter() - t

    run = Run(paths)
    trace_setup_s = 0.0
    if args.trace:
        t = time.perf_counter()
        run.tracer.install()
        trace_setup_s += time.perf_counter() - t
    oracle_s = workload.prepare()

    from sp500_stock_etl_spark import session as spark_session

    run.tracer.active = bool(args.trace)
    spark = session["spark"] = spark_session.get_spark("perfbench", cpus=nproc())
    run.tracer.active = False
    spark.sparkContext.setLogLevel("ERROR")
    if args.trace:
        t = time.perf_counter()
        run.tracer.attach(spark)
        trace_setup_s += time.perf_counter() - t

    cpu0 = cpu_ticks()
    passes = op_passes(args.seed, workload.names)
    for name in next(passes):
        run.op(spark, workload, name, 0, traced=False)
    setup_s = time.perf_counter() - T0 - gen_s - oracle_s

    # The workload's timed passes, and more while under --seconds of op
    # time. A traced run makes at least two and traces each query in one
    # of them: half of the queries in the first pass and half in the
    # second, so every query is measured both ways and pass order evens
    # out.
    min_passes = max(workload.timed_passes, 2 if args.trace else 1)
    with RssSampler() as rss:
        measured, done = 0.0, 0
        while done < min_passes or measured < args.seconds:
            done += 1
            for name in next(passes):
                traced = bool(args.trace) and (workload.names.index(name) + done) % 2 == 1
                measured += run.op(spark, workload, name, done, traced)["wall_s"]

    timed = [o for o in run.ops if o["pass"] > 0]
    plain = [o for o in timed if not o["traced"]]
    ok_plain = [o for o in plain if o["ok"]]
    e2e = summarize(plain)
    attempted = len(run.ops)
    failed = sum(not o["ok"] for o in run.ops)
    by_name: dict[str, list[float]] = {}
    for o in ok_plain:
        by_name.setdefault(o["name"], []).append(o["wall_s"])

    def metric(value, unit, **extra):
        return dict(value=value, unit=unit, **extra)

    end_to_end = {
        "setup_s": metric(setup_s, "s"),
        "latency_p50_s": metric(e2e["latency_p50_s"], "s"),
        "ops_per_s": metric(e2e["ops_per_s"], "1/s"),
        "failed_share": metric(failed / attempted, "ratio"),
        "peak_rss_mb": metric(rss.peak_bytes / 2**20, "MB"),
        "cpu_s_per_op": metric(e2e["cpu_s_per_op"], "s"),
    }
    t = tail([o["wall_s"] for o in ok_plain])
    if t:
        end_to_end["latency_tail_s"] = metric(t["value"], "s", percentile=t["percentile"], n=t["n"])
    wall_ok = sum(o["wall_s"] for o in ok_plain)
    if args.workload == "etl_backfill":
        rows = workload.verified_rows * len(ok_plain)
        end_to_end["rows_per_s"] = metric(rows / wall_ok if wall_ok else 0.0, "rows/s")
        end_to_end["stored_bytes_per_input_byte"] = metric(
            median([o["bytes"] / workload.input_bytes for o in ok_plain]), "ratio"
        )
    else:
        end_to_end["queries_per_s"] = metric(e2e["ops_per_s"], "1/s")

    report: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": nproc(),
        "correct": failed == 0,
        "ops_attempted": attempted,
        "ops_failed": failed,
        "errors": run.errors[:20],
        "end_to_end": end_to_end,
        "timed_ops": len(plain),
        "input_gen_s": gen_s,
        "oracle_s": oracle_s,
        "cpu_steal_share": steal_share(cpu0, cpu_ticks()),
        "drift": drift([o["wall_s"] for o in run.ops if o["ok"] and not o["traced"]]),
        "op_p50_s": {k: median(v) for k, v in sorted(by_name.items())},
        "ops": [[o["pass"], o["name"], o["wall_s"], o["traced"], o["ok"]] for o in run.ops],
    }

    if args.trace:
        traced_ops = [o for o in timed if o["traced"]]
        layers = layer_means(traced_ops, run.tracer)
        traced_e2e = summarize(traced_ops)
        report["tracing_overhead"] = {
            "setup_s": ratio(setup_s, setup_s - trace_setup_s),
            "latency_p50_s": ratio(traced_e2e["latency_p50_s"], e2e["latency_p50_s"]),
            "ops_per_s": ratio(traced_e2e["ops_per_s"], e2e["ops_per_s"]),
            "cpu_s_per_op": ratio(traced_e2e["cpu_s_per_op"], e2e["cpu_s_per_op"]),
            "peak_rss_mb": None,  # one process: not separable, see README.md
        }
        report["layers"] = dict(sorted(layers.items()))
        report["layer_shares"] = shares(layers)
        report["spans_file"] = write_spans(run.tracer, args)
        metrics = {k: metric(layers.get(k, 0.0), u) for k, u in per_layer_names()}
    else:
        metrics = {k: end_to_end[k] for k in RESULT_E2E}
    final = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return report, final


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found beside perfbench/; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # SIGTERM unwinds like an error, so the finally below still runs.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    session: dict = {}
    try:
        report, final = execute(args, isolate(run_dir), session)
    finally:
        if "spark" in session:
            stop_spark(session["spark"])
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
