"""Manifest generations over the file-level CDC store
(io/manifest_store.py): atomic reader-visible generations, one-
generation retention of replaced files, manifest-driven pruning
(no footer reads on merge), and reader consistency under concurrent
merges."""

from __future__ import annotations

import glob
import os
import threading
import time

import pytest

from pyspark.sql import functions as F

from sp500_stock_etl_spark.io import manifest_store as MS
from tests.test_file_listing import _jobs


def _keep_newest(df):
    from pyspark.sql import Window as W

    w = W.partitionBy("k").orderBy(F.col("ver").desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where("__rn = 1")
        .drop("__rn")
    )


def _base(spark, n=4096):
    return spark.range(n).selectExpr(
        "id AS k", "CAST(0 AS INT) AS ver", "CAST(id % 4 AS INT) AS bucket"
    )


def _batch(spark, ver, n=64):
    return spark.range(n).selectExpr(
        f"id AS k", f"CAST({ver} AS INT) AS ver",
        "CAST(id % 4 AS INT) AS bucket",
    )


def test_read_store_uses_recorded_schema(spark, tmp_path):
    """The root records the store's schema at creation, so
    ``read_store`` on a multi-file store starts no Spark job (no
    parquet footer inference) and returns the schema and rows that an
    inferring read of the same live files returns."""
    store = str(tmp_path / "mstore")
    MS.merge_manifest_store(store, _base(spark), "k", "bucket", _keep_newest)
    MS.merge_manifest_store(
        store, _batch(spark, 1), "k", "bucket", _keep_newest
    )
    m = MS.read_manifest(store)
    live = [os.path.join(store, e["path"]) for e in MS._live_entries(store, m)]
    assert len(live) > 1

    df, n_jobs = _jobs(spark, lambda: MS.read_store(spark, store))
    assert n_jobs == 0
    inferred = spark.read.option("basePath", store).parquet(*live)
    assert df.schema == inferred.schema
    assert sorted(df.collect()) == sorted(inferred.collect())


def test_generations_prune_and_retain(spark, tmp_path):
    store = str(tmp_path / "mstore")
    s0 = MS.merge_manifest_store(
        store, _base(spark), "k", "bucket", _keep_newest
    )
    assert s0["generation"] == 0 and s0["files_read"] == 0

    s1 = MS.merge_manifest_store(
        store, _batch(spark, 1), "k", "bucket", _keep_newest
    )
    assert s1["generation"] == 1
    # Pruned selection straight from the manifest ranges.
    assert 0 < s1["files_read"] < s1["files_total"], s1
    assert s1["bytes_read"] < s1["bytes_total"] / 2

    # Replaced files RETAINED on disk (dead, not deleted)...
    m = MS.read_manifest(store)
    live = {f["path"] for f in MS._live_entries(store, m)}
    on_disk = {
        os.path.relpath(p, store)
        for p in glob.glob(os.path.join(store, "bucket=*", "*.parquet"))
    }
    assert set(m["dead"]) <= on_disk - live
    assert m["dead"], "generation 1 must retain generation 0's replaced files"

    # ...and the manifest-pinned read sees ONLY the live generation.
    final = MS.read_store(spark, store)
    assert final.count() == 4096
    assert final.where("k < 64").agg(F.min("ver")).first()[0] == 1
    assert final.select("k").distinct().count() == 4096

    # Next merge GCs the generation that has been dead one full swap.
    dead_before = set(m["dead"])
    MS.merge_manifest_store(
        store, _batch(spark, 2), "k", "bucket", _keep_newest
    )
    on_disk2 = {
        os.path.relpath(p, store)
        for p in glob.glob(os.path.join(store, "bucket=*", "*.parquet"))
    }
    assert not (dead_before & on_disk2), "gen-0 dead files must be GC'd"
    assert MS.read_store(spark, store).where("k < 64").agg(
        F.min("ver")
    ).first()[0] == 2


def test_untouched_files_never_rewritten(spark, tmp_path):
    import hashlib

    store = str(tmp_path / "mstore2")
    MS.merge_manifest_store(store, _base(spark), "k", "bucket", _keep_newest)

    def snap():
        return {
            p: hashlib.md5(open(p, "rb").read()).hexdigest()
            for p in glob.glob(os.path.join(store, "bucket=*", "*.parquet"))
        }

    before = snap()
    MS.merge_manifest_store(
        store, _batch(spark, 1), "k", "bucket", _keep_newest
    )
    after = snap()
    for p in set(before) & set(after):
        assert before[p] == after[p], f"existing file rewritten: {p}"


def test_reader_consistency_under_merges(spark, tmp_path):
    """A reader loop never observes a partial generation: with
    update-only batches every legitimate generation has EXACTLY the
    base row count and one row per key — any append/delete tearing
    would show up as a different count."""
    store = str(tmp_path / "mstore3")
    n = 2048
    MS.merge_manifest_store(
        store, _base(spark, n), "k", "bucket", _keep_newest
    )

    stop = threading.Event()
    errors: list[str] = []

    def reader() -> None:
        while not stop.is_set():
            c = MS.read_store(spark, store).count()
            if c != n:
                errors.append(f"saw {c} rows (expected {n})")
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for ver in range(1, 6):
            MS.merge_manifest_store(
                store, _batch(spark, ver, 128), "k", "bucket", _keep_newest
            )
    finally:
        stop.set()
        t.join()
    assert errors == [], errors
    assert MS.read_store(spark, store).count() == n


def test_interval_fallback_for_huge_batches(spark, tmp_path):
    """Past max_collected_keys the merge never collects the key set —
    the limit(max+1) probe overflows and it prunes by per-bucket
    [min,max] intervals instead. Weaker pruning (interval superset),
    identical results."""
    store = str(tmp_path / "mstore5")
    MS.merge_manifest_store(store, _base(spark), "k", "bucket", _keep_newest)
    batch = _batch(spark, 1, 64)
    stats = MS.merge_manifest_store(
        store, batch, "k", "bucket", _keep_newest, max_collected_keys=8
    )
    assert stats["pruning"] == "intervals"
    # Narrow interval still prunes (keys 0..63 -> low-range files).
    assert 0 < stats["files_read"] < stats["files_total"], stats
    final = MS.read_store(spark, store)
    assert final.count() == 4096
    assert final.where("k < 64").agg(F.min("ver")).first()[0] == 1
    assert final.select("k").distinct().count() == 4096


def test_concurrent_writers_disjoint_keys(spark, tmp_path):
    """Four writers merge disjoint key ranges concurrently. Their
    batches still share files (every bucket holds every range band),
    so commits conflict and redo — but every update must land exactly
    once: count preserved, one row per key, each range at its
    writer's version, generation advanced once per committed merge.
    A concurrent READER loop runs throughout: update-only batches
    mean every legitimate generation has exactly the base row count,
    so any torn generation shows up as a different count."""
    store = str(tmp_path / "cstore1")
    n = 4096
    MS.merge_manifest_store(
        store, _base(spark, n), "k", "bucket", _keep_newest
    )

    barrier = threading.Barrier(4)
    stats: list[dict] = []
    errors: list[Exception] = []
    stop = threading.Event()
    reader_errors: list[str] = []

    def reader() -> None:
        while not stop.is_set():
            c = MS.read_store(spark, store).count()
            if c != n:
                reader_errors.append(f"saw {c} rows (expected {n})")
                return

    def writer(i: int) -> None:
        batch = spark.range(256).selectExpr(
            f"id + {i * 1024} AS k",
            f"CAST({i + 1} AS INT) AS ver",
            "CAST((id + " + str(i * 1024) + ") % 4 AS INT) AS bucket",
        )
        barrier.wait()
        try:
            # retention >= the slowest reader/merge: the documented
            # operating rule for concurrent writers — commits bunch
            # (staging overlaps, commit sections are ms), so without
            # retention a reader's generation-g files could be GC'd
            # two quick commits later, mid-scan.
            stats.append(
                MS.merge_manifest_store(
                    store, batch, "k", "bucket", _keep_newest,
                    retention_seconds=3600.0,
                )
            )
        except Exception as e:  # surfaced below
            errors.append(e)

    rt = threading.Thread(target=reader)
    rt.start()
    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        stop.set()
        rt.join()
    assert reader_errors == [], reader_errors
    assert errors == [], errors
    assert len(stats) == 4

    final = MS.read_store(spark, store)
    assert final.count() == n
    assert final.select("k").distinct().count() == n
    for i in range(4):
        lo, hi = i * 1024, i * 1024 + 255
        vers = (
            final.where(f"k BETWEEN {lo} AND {hi}")
            .select("ver").distinct().collect()
        )
        assert [r[0] for r in vers] == [i + 1], (i, vers)
    assert MS.read_manifest(store)["generation"] == 4


def test_conflict_redo_deterministic(spark, tmp_path):
    """Force the OCC race: while writer B is between its manifest
    read and its commit (inside resolve), writer A commits a merge
    over the SAME keys. B's validation must fail, B must redo against
    A's generation, and last-write-wins must hold through the redo:
    B's higher version wins even though it started from a stale
    manifest."""
    store = str(tmp_path / "cstore2")
    MS.merge_manifest_store(store, _base(spark), "k", "bucket", _keep_newest)

    fired = []

    def resolve_with_race(df):
        if not fired:
            fired.append(1)
            MS.merge_manifest_store(
                store, _batch(spark, 7, 64), "k", "bucket", _keep_newest
            )
        return _keep_newest(df)

    stats = MS.merge_manifest_store(
        store, _batch(spark, 9, 64), "k", "bucket", resolve_with_race
    )
    assert stats["commit_retries"] >= 1, stats
    final = MS.read_store(spark, store)
    assert final.count() == 4096
    assert final.select("k").distinct().count() == 4096
    vers = final.where("k < 64").select("ver").distinct().collect()
    assert [r[0] for r in vers] == [9], vers


def test_composite_tenant_key_pruning(spark, tmp_path):
    """Per-tenant hot keys (r11 starter): with the store range-keyed
    on the COMPOSITE tenant*2^20 + k (and bucketed by tenant), a
    one-tenant batch prunes to that tenant's files; the same logical
    batch against a store range-keyed on the bare per-tenant k (which
    every tenant shares) cannot prune below its bucket set. No engine
    change — key_col is generic; BASELINE.md §13 measures the same at
    12.8M rows."""
    from pyspark.sql import Window as W

    def keep_newest_ck(df):
        w = W.partitionBy("ck").orderBy(F.col("ver").desc())
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .where("__rn = 1")
            .drop("__rn")
        )

    def frame(tenants, ks, ver):
        return (
            spark.range(len(tenants) * 0 + 1)
            .crossJoin(spark.range(ks).selectExpr("id AS k"))
            .crossJoin(
                spark.createDataFrame(
                    [(t,) for t in tenants], "tenant: long"
                )
            )
            .selectExpr(
                "tenant",
                "k",
                f"CAST({ver} AS INT) AS ver",
                "tenant * 1048576 + k AS ck",
            )
        )

    results = {}
    for layout, key_col in (("composite", "ck"), ("global_key", "k")):
        bucket = "tenant % 4" if layout == "composite" else "k % 4"
        base = frame(range(8), 512, 0).selectExpr(
            "*", f"CAST({bucket} AS INT) AS bucket"
        )
        batch = frame([3], 512, 1).selectExpr(
            "*", f"CAST({bucket} AS INT) AS bucket"
        )
        store = str(tmp_path / f"tstore_{layout}")
        MS.merge_manifest_store(
            store, base, key_col, "bucket", keep_newest_ck
        )
        st = MS.merge_manifest_store(
            store, batch, key_col, "bucket", keep_newest_ck
        )
        final = MS.read_store(spark, store)
        assert final.count() == 8 * 512
        assert final.where("ver = 1").count() == 512
        results[layout] = st["bytes_read"] / max(st["bytes_total"], 1)
    # Composite layout must read a strictly smaller store fraction.
    assert results["composite"] < results["global_key"] / 2, results


def test_time_based_retention(spark, tmp_path):
    """With retention_seconds > 0, a dead file survives subsequent
    swaps (carried in the manifest's dead list with its dead_since
    timestamp) until its retention lapses; retention 0 reproduces the
    one-generation lag."""
    store = str(tmp_path / "mstore7")
    MS.merge_manifest_store(store, _base(spark), "k", "bucket", _keep_newest)
    MS.merge_manifest_store(
        store, _batch(spark, 1), "k", "bucket", _keep_newest,
        retention_seconds=3600.0,
    )
    dead_g1 = set(MS.read_manifest(store)["dead"])
    assert dead_g1, "gen 1 must have retained gen 0's replaced files"

    # Two more swaps under retention: the gen-1 dead set stays on disk
    # AND in the manifest (carried), because 3600 s has not lapsed.
    for ver in (2, 3):
        MS.merge_manifest_store(
            store, _batch(spark, ver), "k", "bucket", _keep_newest,
            retention_seconds=3600.0,
        )
    m = MS.read_manifest(store)
    on_disk = {
        os.path.relpath(p, store)
        for p in glob.glob(os.path.join(store, "bucket=*", "*.parquet"))
    }
    assert dead_g1 <= set(m["dead"]) and dead_g1 <= on_disk
    assert set(m["dead_since"]) == set(m["dead"])
    # Dead files are invisible to the manifest-pinned read.
    final = MS.read_store(spark, store)
    assert final.count() == 4096
    assert final.where("k < 64").agg(F.min("ver")).first()[0] == 3

    # Retention lapsed (0 s): the next swap GCs everything carried.
    MS.merge_manifest_store(
        store, _batch(spark, 4), "k", "bucket", _keep_newest
    )
    on_disk2 = {
        os.path.relpath(p, store)
        for p in glob.glob(os.path.join(store, "bucket=*", "*.parquet"))
    }
    assert not (dead_g1 & on_disk2), "lapsed dead files must be GC'd"
    assert MS.read_store(spark, store).where("k < 64").agg(
        F.min("ver")
    ).first()[0] == 4


def test_merge_takes_over_crashed_writers_lock(spark, tmp_path):
    """Store-level crash recovery: a writer that died holding the
    commit lock must not wedge the store forever — once the lock is
    lock_stale_seconds old, the next merge takes it over (exactly one
    waiter; commit_lock.py) and commits normally."""
    import os
    import time as _time

    store = str(tmp_path / "store")
    base = spark.range(1000).selectExpr(
        "id AS k", "CAST(0 AS INT) AS ver", "CAST(id % 4 AS INT) AS bucket"
    )
    MS.merge_manifest_store(store, base, "k", "bucket", _keep_newest)

    # Crashed writer: an abandoned lock, aged well past staleness.
    lock = os.path.join(store, "_commit.lock")
    with open(lock, "w") as fh:
        fh.write("99999:deadbeef")
    old = _time.time() - 3600
    os.utime(lock, (old, old))

    batch = spark.range(100).selectExpr(
        "id AS k", "CAST(1 AS INT) AS ver", "CAST(id % 4 AS INT) AS bucket"
    )
    st = MS.merge_manifest_store(
        store, batch, "k", "bucket", _keep_newest,
        lock_timeout=10.0, lock_stale_seconds=5.0,
    )
    assert st["generation"] == 1
    assert not os.path.exists(lock)  # taken over, then released
    final = MS.read_store(spark, store)
    assert final.where("k < 100").agg(F.min("ver")).first()[0] == 1
    assert final.count() == 1000

    # Control: a FRESH foreign lock must still win — the merge times
    # out rather than stealing a live writer's critical section.
    with open(lock, "w") as fh:
        fh.write("11111:cafebabe")
    import pytest as _pytest

    with _pytest.raises(TimeoutError):
        MS.merge_manifest_store(
            store, batch, "k", "bucket", _keep_newest,
            lock_timeout=0.5, lock_stale_seconds=600.0,
        )
    os.unlink(lock)


def _rows(spark, store):
    return sorted(
        tuple(r)
        for r in MS.read_store(spark, store).select("k", "ver").collect()
    )


def test_sharded_manifest_content_parity(spark, tmp_path):
    """A 4-shard store must be CONTENT-identical to its 1-shard twin
    across creation + two merges, and a merge must load/rewrite only
    the shards covering its touched buckets (root descriptors account
    for everything without loading shards)."""
    import json as _json
    import os

    def batch(ver, n, n_buckets=8):
        return spark.range(n).selectExpr(
            "id AS k",
            f"CAST({ver} AS INT) AS ver",
            f"CAST(id % {n_buckets} AS INT) AS bucket",
        )

    one = str(tmp_path / "one_shard")
    shd = str(tmp_path / "sharded")
    for store, kw in ((one, {}), (shd, {"manifest_shards": 4})):
        MS.merge_manifest_store(
            store, batch(0, 4096), "k", "bucket", _keep_newest, **kw
        )
        MS.merge_manifest_store(
            store, batch(1, 64), "k", "bucket", _keep_newest
        )
        # Narrow batch: only buckets 0 and 1 touched.
        nb = spark.range(2).selectExpr(
            "id AS k", "CAST(2 AS INT) AS ver",
            "CAST(id AS INT) AS bucket",
        )
        st = MS.merge_manifest_store(
            store, nb, "k", "bucket", _keep_newest
        )
    assert _rows(spark, one) == _rows(spark, shd)

    m = MS.read_manifest(shd)
    assert m["n_shards"] == 4 and "files" not in m
    # Root aggregates match the loaded truth.
    all_entries = MS._live_entries(shd, m)
    assert sum(sd["n_files"] for sd in m["shards"]) == len(all_entries)
    # files_total in stats came from root aggregates.
    assert st["files_total"] == len(
        MS._live_entries(shd, MS.read_manifest(shd))
    )

    # The narrow merge rewrote only the shards covering buckets {0,1}.
    touched_sids = {MS._shard_id(b, 4) for b in ("0", "1")}
    with open(os.path.join(shd, "_manifest.json")) as fh:
        root = _json.load(fh)
    # Shard paths not covering touched buckets are byte-identical
    # carried descriptors — verify via dead_meta: only touched shards
    # were replaced in the last generation.
    replaced_meta = [
        r for r in root["dead_meta"]
        if root["dead_meta_since"][r] == max(root["dead_meta_since"].values())
    ]
    assert 0 < len(replaced_meta) <= len(touched_sids) + 1


def test_crashed_commit_leaves_no_orphan_shards(spark, tmp_path, monkeypatch):
    """ADVICE r12 (low): a commit that dies between _write_shard and
    the root swap must unlink its freshly written shard JSONs (no GC
    path reclaims unreferenced shards); and the next commit sweeps
    any that a hard kill left behind."""
    store = str(tmp_path / "s")
    MS.merge_manifest_store(
        store,
        spark.range(256).selectExpr(
            "id AS k", "CAST(0 AS INT) AS ver",
            "CAST(id % 4 AS INT) AS bucket",
        ),
        "k",
        "bucket",
        _keep_newest,
        manifest_shards=4,
    )
    live_before = {
        sd["path"] for sd in MS.read_manifest(store)["shards"]
    }

    # In-process death between shard writes and the root swap.
    # pytest.raises, not try/except (ADVICE r13): if a refactor
    # renames the hook point or the merge short-circuits before it,
    # the merge succeeds and a bare try/except would silently pass
    # without exercising the crash-cleanup path this test pins.
    boom = RuntimeError("simulated crash before root swap")

    def _die(store_dir, manifest):
        raise boom

    monkeypatch.setattr(MS, "_write_manifest_atomic", _die)
    with pytest.raises(RuntimeError, match="simulated crash"):
        MS.merge_manifest_store(
            store, _batch(spark, 1, 64), "k", "bucket", _keep_newest
        )
    monkeypatch.undo()
    on_disk = {
        os.path.basename(p)
        for p in glob.glob(os.path.join(store, "_shard-*.json"))
    }
    assert on_disk == live_before  # crash attempt's shards unlinked
    _assert_no_orphan_data_files(store)

    # Hard kill (no in-process cleanup): plant an orphan + tmp, then
    # merge — the sweep reclaims both, referenced shards survive.
    # Backdated past lock_stale_seconds: the sweep is age-gated
    # (ADVICE r13) so only provable hard-kill leftovers are removed.
    orphan = os.path.join(store, "_shard-deadbeef.json")
    tmp_orphan = os.path.join(store, "._shard-deadbeef.json.tmp")
    stale = time.time() - 700.0
    for p in (orphan, tmp_orphan):
        with open(p, "w") as fh:
            fh.write('{"files": []}')
        os.utime(p, (stale, stale))
    # Re-applies version 0 to keys 0..63: content stays unchanged.
    MS.merge_manifest_store(
        store, _batch(spark, 0, 64), "k", "bucket", _keep_newest
    )
    assert not os.path.exists(orphan)
    assert not os.path.exists(tmp_orphan)
    m = MS.read_manifest(store)
    for sd in m["shards"]:
        assert os.path.exists(os.path.join(store, sd["path"]))
    assert _rows(spark, store) == sorted(
        (k, 0) for k in range(256)
    )
    _assert_no_orphan_data_files(store)


def _assert_no_orphan_data_files(store):
    """Every parquet file under a bucket dir is live or dead in the
    current generation: a crashed commit's published files were
    unlinked with its shards."""
    m = MS.read_manifest(store)
    known = {e["path"] for e in MS._live_entries(store, m)} | set(m["dead"])
    on_disk = {
        os.path.relpath(p, store)
        for p in glob.glob(os.path.join(store, "bucket=*", "*.parquet"))
    }
    assert on_disk <= known, sorted(on_disk - known)


def test_orphan_sweep_spares_young_shards(spark, tmp_path):
    """ADVICE r13 (low): the orphan-shard sweep is age-gated. Under
    the documented stale-lock takeover, a slow-but-alive writer whose
    lock was stolen can sit between _write_shard and its root swap
    while another commit sweeps; unlinking its fresh (unreferenced)
    shard files would make its subsequent root swap publish dangling
    references and every read of the store would fail. By the
    takeover rule no legitimate in-flight commit spans
    lock_stale_seconds, so: YOUNGER than the window -> spared,
    OLDER -> swept (previous test). Both planted here."""
    store = str(tmp_path / "s")
    MS.merge_manifest_store(
        store, _base(spark, 256), "k", "bucket", _keep_newest,
        manifest_shards=4,
    )
    young = os.path.join(store, "_shard-cafebabe.json")
    young_tmp = os.path.join(store, "._shard-cafebabe.json.tmp")
    old = os.path.join(store, "_shard-deadbeef.json")
    for p in (young, young_tmp, old):
        with open(p, "w") as fh:
            fh.write('{"files": []}')
    stale = time.time() - 700.0
    os.utime(old, (stale, stale))
    MS.merge_manifest_store(
        store, _batch(spark, 1, 64), "k", "bucket", _keep_newest
    )
    assert os.path.exists(young)      # mid-takeover writer's: spared
    assert os.path.exists(young_tmp)
    assert not os.path.exists(old)    # provable hard-kill leftover
    for p in (young, young_tmp):
        os.remove(p)


def test_manifest_entries_record_bytes(spark, tmp_path):
    """r13: entries carry their file size from the generation that
    created them, so bytes_total/bytes_read are manifest lookups —
    totals previously stat()ed every live file per commit (~100k
    calls at the 100 TB point)."""
    store = str(tmp_path / "s")
    st = MS.merge_manifest_store(
        store, _base(spark, 512), "k", "bucket", _keep_newest
    )
    entries = MS._live_entries(store, MS.read_manifest(store))
    for e in entries:
        assert e["bytes"] == os.path.getsize(
            os.path.join(store, e["path"])
        )
    assert st["bytes_total"] == sum(e["bytes"] for e in entries)

    st2 = MS.merge_manifest_store(
        store, _batch(spark, 1, 64), "k", "bucket", _keep_newest
    )
    assert st2["bytes_read"] > 0 and st2["bytes_total"] > 0
