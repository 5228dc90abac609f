"""Tracing from outside the program: spans around calls into its layers,
Spark job/stage counters per span, a streaming progress listener, and a
process-tree RSS sampler.

Spans are plain dicts ``{name, start, end, parent, op, group, runs, index}``
kept in memory (``Tracer.spans``) and written once by the caller. Each
span runs under its own Spark job group, so the jobs a span started are
``statusTracker().getJobIdsForGroup(group)``; streaming queries run
their micro-batches under their run id as job group, so the listener
attributes each started query to the span that started it.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from contextlib import contextmanager

from stats import descendants, outermost, self_times

# (module, function) pairs wrapped by ``Tracer.install``; each becomes
# the per-layer metrics ``<module>.<function>_{s,calls,jobs}``.
TRACED_FUNCTIONS = (
    ("session", "get_spark"),
    ("io.readers", "load_table"),
    ("io.readers", "read_stock_csv"),
    ("io.writers", "write_quoted_csv"),
    ("io.writers", "write_partitioned_table"),
    ("operators.dedup", "jaccard_verify"),
    ("operators.dedup", "connected_components"),
    ("operators.dedup", "prefix_jaccard_pairs"),
)
PACKAGE = "sp500_stock_etl_spark"

STAGE_FIELDS = {
    "spark.tasks": ("numCompleteTasks", 1),
    "spark.failed_tasks": ("numFailedTasks", 1),
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.spill_bytes": ("diskBytesSpilled", 1),
    "spark.input_bytes": ("inputBytes", 1),
}


class Tracer:
    """Records spans while ``active``; wrappers are pass-through otherwise."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.progress: list[tuple[str, float]] = []  # (run id, triggerExecution s)
        self.active = False
        self.sc = None
        self._stack: list[int] = []
        self._op: int | None = None

    def install(self) -> None:
        """Replace each traced function on its module. Must run before the
        query modules are imported: they bind these names with
        ``from … import`` and would keep the unwrapped function."""
        early = sorted(m for m in sys.modules if m.startswith(f"{PACKAGE}.plans.queries_"))
        if early:
            raise RuntimeError(f"query modules imported before tracing was installed: {early}")
        import importlib

        for mod_name, fn_name in TRACED_FUNCTIONS:
            module = importlib.import_module(f"{PACKAGE}.{mod_name}")
            setattr(module, fn_name, self._wrap(getattr(module, fn_name), f"{mod_name}.{fn_name}"))

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "group": f"perfbench-{self._op}-{idx}",
            "runs": [],
            "index": idx,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        self._set_group(rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]]["group"] if self._stack else None)

    def _set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def op(self, op_id: int, name: str):
        self._op = op_id
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            self._op = None

    def attach(self, spark) -> None:
        """Start counting Spark work: job groups and a streaming listener."""
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Progress(StreamingQueryListener):
            # Query start is delivered synchronously in the starting
            # thread, so the open span is the one that started it.
            def onQueryStarted(self, event):
                if tracer.active and tracer._stack:
                    tracer.spans[tracer._stack[-1]]["runs"].append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append(
                    (str(p.runId), p.durationMs.get("triggerExecution", 0) / 1000.0)
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.sc = spark.sparkContext
        self._listener = Progress()
        spark.streams.addListener(self._listener)

    def op_metrics(self, root: int) -> dict[str, float]:
        """Per-layer numbers for the op whose root span is ``root``."""
        sc = self.sc
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # deliver streaming progress
        tracker = sc.statusTracker()
        idx = descendants(self.spans, root)
        spans = [self.spans[i] for i in idx]
        local = [dict(s, parent=idx.index(s["parent"]) if s["parent"] in idx else None) for s in spans]
        selfs = self_times(local)

        def jobs_of(span_ids) -> set[int]:
            out: set[int] = set()
            for i in span_ids:
                s = local[i]
                out.update(tracker.getJobIdsForGroup(s["group"]))
                for run in s["runs"]:
                    out.update(tracker.getJobIdsForGroup(run))
            return out

        def subtree(i: int) -> list[int]:
            return descendants(local, i)

        m: dict[str, float] = {}
        build = [i for i, s in enumerate(local) if s["name"] == "plans.build"]
        m["plans.build_s"] = sum(selfs[i] for i in build)
        m["plans.build_jobs"] = len(jobs_of([j for i in build for j in subtree(i)]))
        for phase in ("spark.plan", "spark.exec"):
            hit = [i for i, s in enumerate(local) if s["name"] == phase]
            m[f"{phase}_s"] = sum(local[i]["end"] - local[i]["start"] for i in hit)
        exec_ids = [j for i, s in enumerate(local) if s["name"] == "spark.exec" for j in subtree(i)]
        m["spark.exec_jobs"] = len(jobs_of(exec_ids))

        for mod_name, fn_name in TRACED_FUNCTIONS[1:]:
            key = f"{mod_name}.{fn_name}"
            top = outermost(local, key)
            m[f"{key}_s"] = sum(local[i]["end"] - local[i]["start"] for i in top)
            m[f"{key}_calls"] = len([s for s in local if s["name"] == key])
            m[f"{key}_jobs"] = len(jobs_of([j for i in top for j in subtree(i)]))

        all_jobs = jobs_of(range(len(local)))
        m.update(self._stage_totals(tracker, all_jobs))
        m["spark.jobs"] = len(all_jobs)

        runs = {r for s in local for r in s["runs"]}
        triggers = [t for run, t in self.progress if run in runs]
        wall = m["op_wall_s"] = local[0]["end"] - local[0]["start"]
        m["streaming.batches"] = len(triggers)
        m["streaming.trigger_s"] = sum(triggers)
        m["streaming.sched_s"] = wall - sum(triggers) if triggers else 0.0
        return m

    def _stage_totals(self, tracker, job_ids: set[int]) -> dict[str, float]:
        store = self.sc._jsc.sc().statusStore()
        no_status = getattr(store, "stageData$default$3")()
        no_quantiles = getattr(store, "stageData$default$5")()
        totals = {k: 0.0 for k in STAGE_FIELDS}
        totals["spark.stages"] = 0
        stage_ids: set[int] = set()
        for job in job_ids:
            info = tracker.getJobInfo(job)
            if info is None:
                raise RuntimeError(f"job {job} was evicted from the status tracker")
            stage_ids.update(list(info.stageIds))
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            if attempts.isEmpty():
                raise RuntimeError(
                    f"stage {sid} was evicted from the status store before it was read; "
                    "raise spark.ui.retainedStages or read stages sooner"
                )
            for k in range(attempts.size()):
                st = attempts.apply(k)
                if st.status().toString() == "SKIPPED":
                    continue
                totals["spark.stages"] += 1
                for key, (getter, scale) in STAGE_FIELDS.items():
                    totals[key] += getattr(st, getter)() * scale
        return totals


def process_tree() -> dict[int, int]:
    """Resident bytes of this process and of each of its descendants
    (the JVM and its Python workers), read from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        parent[int(entry)] = int(fields[1])
        rss[int(entry)] = int(fields[21]) * page
    me = os.getpid()
    tree = {}
    for pid, size in rss.items():
        p = pid
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        if p == me:
            tree[pid] = size
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree: each live process's
    user and system time plus that of the children it has reaped."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident memory of the process tree, sampled on a thread."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, sum(process_tree().values()))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
