"""File-level CDC store published through manifest generations.

The store is an upsert table (one row per key), Hive-partitioned by
bucket, with several key-clustered parquet files per bucket, so each
file's key [min, max] is narrow. A merge rewrites only the FILES whose
key range the batch touches, so merge I/O is O(batch + intersecting
files) at any store size. Appending new files and deleting replaced
ones in place would let a reader listing the directory between those
two steps see duplicate keys, and a reader holding handles to
replaced files lose them. The standard fix (every production table
format — Iceberg/Delta-style, realized here with stdlib JSON + POSIX
rename) is a MANIFEST generation.

Layout. ``_manifest.json`` at the store root is a manifest LIST:

    {generation, key_col, schema, n_shards, shards, dead, dead_since,
     dead_meta, dead_meta_since}

``schema`` is the Spark schema (``StructType.json()``) of the rows a
read of the store returns, fixed when the store is created: reads
pass it to ``spark.read.schema`` instead of inferring it from the
parquet footers, which would start a Spark job per read.

``shards`` holds ``n_shards`` descriptors ``{path, n_files, bytes}``,
each pointing at an immutable uuid-named shard JSON whose ``files``
are the live entries ``{path, lo, hi, bytes}`` of the buckets that
hash to it (``_shard_id``). Each entry records its key min/max and
size from the generation that staged it, so merges select files by a
pure manifest lookup (no parquet footer reads) and totals are root
sums. A merge loads and rewrites only the shards covering its touched
buckets, so per-commit metadata work tracks touched buckets, not
total file count (BASELINE.md §14 "Manifest sharding": 1.7 → 0.46 s
per commit at 200k files with 64 shards). ``n_shards`` is fixed when
the store is created.

Generations. Every commit writes new files and new shard JSONs, then
swaps the root with one atomic rename — readers resolve the live set
from the root and see generation g or g+1, never a mix. Replaced
parquet files (``dead``) and replaced shard JSONs (``dead_meta``) stay
on disk until they have been dead for one full generation AND for at
least ``retention_seconds`` (``dead_since``/``dead_meta_since``), so a
reader that loaded generation g can finish scanning g's files while
g+1 publishes; the default 0 is the single-generation lag, pinned
under concurrent readers in tests/test_manifest_store.py.

Concurrency. Readers are unrestricted. Writers use OPTIMISTIC
concurrency (the Iceberg/Delta commit shape; the lock's storage
primitives are pluggable — ``commit_lock.py`` realizes them over
POSIX O_EXCL or a simulated object-store put-if-absent): each merge
stages its output files in a hidden dir (so every writer knows exactly
which files are its own, and nothing is reader-visible before the
swap), then takes a short exclusive commit lock for ``_commit`` only;
the expensive Spark work never holds the lock. Validation fails — and
the whole merge redoes against the fresh generation — iff a concurrent
commit replaced one of this merge's input files or added live files
overlapping its batch keys; writers touching disjoint FILES therefore
commit without redo, and overlapping writers serialize through redo
(each redo resolves over the winner's output, so last-write-wins stays
consistent regardless of commit order). Creating the store is the
same commit against an empty generation.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import time
import uuid
import warnings
import zlib

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from .commit_lock import CommitLock

_MANIFEST = "_manifest.json"

# Commit conflicts one merge absorbs before it raises. Each conflict
# means another writer committed over this merge's keys meanwhile.
_MAX_COMMIT_RETRIES = 20


def read_manifest(store_dir: str) -> dict | None:
    try:
        with open(os.path.join(store_dir, _MANIFEST)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def _write_manifest_atomic(store_dir: str, manifest: dict) -> None:
    tmp = os.path.join(store_dir, f".{_MANIFEST}.tmp.{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.rename(tmp, os.path.join(store_dir, _MANIFEST))


def _read_files(
    spark: SparkSession, store_dir: str, m: dict, rels: list[str]
) -> DataFrame:
    """The store files ``rels`` read with the root's recorded schema."""
    schema = T.StructType.fromJson(json.loads(m["schema"]))
    return (
        spark.read.schema(schema)
        .option("basePath", store_dir)
        .parquet(*[os.path.join(store_dir, rel) for rel in rels])
    )


def read_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Manifest-pinned read: exactly the current generation's live
    files (a directory listing would also see retained dead files —
    duplicate keys — and racing appends)."""
    m = read_manifest(store_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest at {store_dir!r}")
    rels = [e["path"] for e in _live_entries(store_dir, m)]
    if not rels:
        raise ValueError(f"empty manifest generation at {store_dir!r}")
    return _read_files(spark, store_dir, m, rels)


def _safe_size(path: str) -> int:
    """Observability-only file size: stats must never crash a merge."""
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def _footer_min_max(path: str, key_col: str) -> tuple | None:
    """(min, max) of ``key_col`` across a parquet file's row groups,
    read from the FOOTER ONLY (pyarrow metadata — no data pages).
    None when stats are absent (never written, or a type without
    min/max). Read once per file, at the generation that stages it;
    merges then select files from the manifest's stored ranges."""
    import pyarrow.parquet as pq

    try:
        meta = pq.read_metadata(path)
    except Exception:
        return None
    schema = meta.schema.to_arrow_schema()
    try:
        idx = schema.names.index(key_col)
    except ValueError:
        return None
    lo = hi = None
    for rg in range(meta.num_row_groups):
        col = meta.row_group(rg).column(idx)
        st = col.statistics
        if st is None or not st.has_min_max:
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return None if lo is None else (lo, hi)


def _bucket(rel: str) -> str:
    """Hive partition value of a store-relative file path."""
    return rel.split(os.sep, 1)[0].split("=", 1)[1]


def _shard_id(bucket: str, n_shards: int) -> int:
    return zlib.crc32(bucket.encode()) % n_shards


def _load_shards(store_dir: str, m: dict, sids) -> dict[int, list[dict]]:
    """shard_id -> live entries, for the given shard ids only."""
    out: dict[int, list[dict]] = {}
    for i in sids:
        with open(os.path.join(store_dir, m["shards"][i]["path"])) as fh:
            out[i] = json.load(fh)["files"]
    return out


def _covering(m: dict, buckets) -> set[int]:
    return {_shard_id(b, m["n_shards"]) for b in buckets}


def _live_entries(store_dir: str, m: dict) -> list[dict]:
    """Every live file entry of generation ``m``."""
    shards = _load_shards(store_dir, m, range(len(m["shards"])))
    return [e for es in shards.values() for e in es]


def _store_schema(df: DataFrame, partition_col: str) -> str:
    """Schema JSON of the rows a read of a store created from ``df``
    returns: the data columns, then the partition column, all
    nullable, as a parquet scan with partition discovery reads them."""
    fields = [f for f in df.schema.fields if f.name != partition_col]
    fields.append(df.schema[partition_col])
    return T.StructType(
        [T.StructField(f.name, f.dataType, True, f.metadata) for f in fields]
    ).json()


def _empty_generation(key_col: str, schema: str, n_shards: int) -> dict:
    """The base a store's first commit validates against."""
    return {
        "generation": -1,
        "key_col": key_col,
        "schema": schema,
        "n_shards": max(int(n_shards), 1),
        "shards": [],
        "dead": [],
        "dead_since": {},
        "dead_meta": [],
        "dead_meta_since": {},
    }


def _write_shard(store_dir: str, entries: list[dict], written: list) -> dict:
    """Write one immutable shard JSON and return its root descriptor
    (path + file count and bytes, so totals are O(n_shards) root
    reads). ``written`` collects the new shard's rel path so a crash
    before the root swap can unlink it — an unreferenced shard JSON is
    invisible to the retention GC."""
    rel = f"_shard-{uuid.uuid4().hex}.json"
    tmp = os.path.join(store_dir, f".{rel}.tmp")
    with open(tmp, "w") as fh:
        json.dump({"files": entries}, fh)
    os.rename(tmp, os.path.join(store_dir, rel))
    written.append(rel)
    return {
        "path": rel,
        "n_files": len(entries),
        "bytes": sum(e["bytes"] for e in entries),
    }


@contextlib.contextmanager
def _shard_cleanup_on_error(store_dir: str, written: list):
    """Unlink the data files published and the shard JSONs written by
    THIS commit attempt if it dies before the root swap — they are
    referenced by no generation, so neither retention nor any reader
    would ever see them. ``_commit`` clears ``written`` right after a
    successful swap so a late failure (GC) can't unlink now-referenced
    files."""
    try:
        yield
    except BaseException:
        for rel in written:
            with contextlib.suppress(OSError):
                os.remove(os.path.join(store_dir, rel))
        raise


def _stage_clustered(
    df: DataFrame,
    key_col: str,
    partition_col: str,
    n_out: int,
    store_dir: str,
    phases: dict,
) -> tuple[str, list[dict]]:
    """Write the clustered output into a hidden staging dir inside the
    store and return (stage_dir, manifest entries with store-relative
    paths + footer key ranges + sizes). Staging — not a direct append
    — is what makes the commit protocol safe under concurrent writers:
    every writer knows EXACTLY which files are its own (a
    directory-diff would claim a concurrent writer's files) and
    nothing becomes reader-visible before the manifest swap. Part
    filenames carry task UUIDs, so publishing is collision-free."""
    t0 = time.perf_counter()
    stage = os.path.join(store_dir, f".stage-{uuid.uuid4().hex}")
    df.repartitionByRange(n_out, F.col(key_col)).write.partitionBy(
        partition_col
    ).mode("overwrite").parquet(stage)
    t1 = time.perf_counter()
    rels = sorted(
        os.path.relpath(p, stage)
        for p in glob.glob(
            os.path.join(stage, f"{partition_col}=*", "*.parquet")
        )
    )
    entries = []
    for rel in rels:
        rng = _footer_min_max(os.path.join(stage, rel), key_col)
        entries.append(
            {
                "path": rel,
                "lo": None if rng is None else rng[0],
                "hi": None if rng is None else rng[1],
                # Size captured once, at the generation that created
                # the file (like the key range): totals and shard
                # descriptors then read it from the manifest instead
                # of stat()ing every live file per commit (~100k
                # stat() calls per commit at the 100 TB point,
                # BASELINE.md §15).
                "bytes": _safe_size(os.path.join(stage, rel)),
            }
        )
    t2 = time.perf_counter()
    phases["stage_write_s"] = round(
        phases.get("stage_write_s", 0.0) + (t1 - t0), 3
    )
    phases["stage_footers_s"] = round(
        phases.get("stage_footers_s", 0.0) + (t2 - t1), 3
    )
    return stage, entries


def _publish_staged(stage: str, store_dir: str, entries: list[dict]) -> None:
    """Move this writer's staged files into the store tree (same-fs
    renames: metadata-only). Runs under the commit lock, after
    validation, before the manifest swap — readers resolve files
    through the manifest, so the not-yet-live files are invisible."""
    for e in entries:
        dst = os.path.join(store_dir, e["path"])
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(os.path.join(stage, e["path"]), dst)
    shutil.rmtree(stage, ignore_errors=True)


@contextlib.contextmanager
def _staged_cleanup_on_error(stage: str):
    """Reap the staging dir if the commit attempt raises (e.g. lock
    timeout) — staged files are invisible to readers, but an
    abandoned stage would otherwise sit on disk forever."""
    try:
        yield
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise


def _warn_zero_retention(store_dir: str) -> None:
    """A commit conflict proves concurrent writers exist; with
    ``retention_seconds=0`` a redo loser's input files can be
    physically GC'd by two quick interleaved commits while its Spark
    job is still reading them. Warn the moment that configuration is
    observed (the operating rule is retention >= the slowest merge)."""
    warnings.warn(
        f"merge_manifest_store({store_dir!r}): commit conflict observed "
        "with retention_seconds=0 — concurrent writers need a retention "
        "window at least as long as the slowest merge, or a redo "
        "loser's input files may be GC'd mid-read",
        RuntimeWarning,
        stacklevel=3,
    )


def _retire(
    m: dict,
    key: str,
    newly_dead: list[str],
    retention_seconds: float,
    now: float,
) -> tuple[list[str], list[str], dict]:
    """Time-based retention of ``m[key]`` ("dead" parquet files or
    "dead_meta" shard JSONs): returns (expired — physically deleted
    after the next swap, the next generation's dead list, its
    ``<key>_since`` stamps). Files enter the list with this commit's
    time and expire once dead for ``retention_seconds``."""
    since = m[f"{key}_since"]
    expired = [r for r in m[key] if now - since[r] >= retention_seconds]
    gone = set(expired)
    carried = [r for r in m[key] if r not in gone]
    return (
        expired,
        carried + newly_dead,
        {**{r: since[r] for r in carried}, **{r: now for r in newly_dead}},
    )


def _sweep_orphan_shards(
    store_dir: str, root: dict, stale_seconds: float
) -> None:
    """Remove shard JSONs referenced by no generation: a writer killed
    after ``_write_shard`` but before its root swap leaves uuid-named
    files that the in-process cleanup never saw; half-written
    ``._shard-*.tmp`` files are the same class. AGE-GATED: under the
    stale-lock takeover a slow-but-alive writer whose lock was stolen
    can sit between ``_write_shard`` and its root swap while this
    sweep runs, and unlinking its shards would make its swap publish
    dangling references. By the takeover rule no legitimate in-flight
    commit spans ``stale_seconds``, so only unreferenced shards OLDER
    than that are provably hard-kill leftovers; younger ones wait for
    a later commit."""
    referenced = {sd["path"] for sd in root["shards"]}
    referenced |= set(root["dead_meta"])
    now = time.time()
    for p in glob.glob(os.path.join(store_dir, "_shard-*.json")) + glob.glob(
        os.path.join(store_dir, "._shard-*.json.tmp")
    ):
        if os.path.basename(p) in referenced:
            continue
        try:
            age = now - os.path.getmtime(p)
        except OSError:
            continue  # already gone
        if age >= stale_seconds:
            with contextlib.suppress(OSError):
                os.remove(p)


def _commit(
    store_dir: str,
    base: dict,
    base_paths: set[str],
    replaced: set[str],
    stage: str,
    new_entries: list[dict],
    entry_touched,
    touched_parts: set[str],
    retention_seconds: float,
    lock_timeout: float,
    lock_stale_seconds: float,
) -> dict | None:
    """Publish one staged merge as the next generation over ``base``
    (the generation the merge read: ``base_paths`` are the live
    entries it loaded for its touched buckets, ``replaced`` the ones
    it rewrote). Under the commit lock, in order:

    1. validate against the current generation (``base`` itself when
       the store has no manifest yet): conflict iff a concurrent
       commit retired a replaced file or added a live file overlapping
       the batch keys; on conflict reap the stage and return None;
    2. publish the staged files;
    3. retire dead files and dead shard JSONs by time;
    4. rewrite only the shards covering the touched buckets (every
       shard on the first commit), untouched descriptors carry over;
    5. swap the root;
    6. GC the expired files, then sweep orphaned shard JSONs.

    Returns the new root."""
    written: list[str] = []
    with _staged_cleanup_on_error(stage), _shard_cleanup_on_error(
        store_dir, written
    ), CommitLock(
        store_dir, timeout=lock_timeout, stale_seconds=lock_stale_seconds
    ):
        m = read_manifest(store_dir) or base
        n = m["n_shards"]
        buckets = touched_parts | {_bucket(e["path"]) for e in new_entries}
        if m["shards"]:
            sids = sorted(_covering(m, buckets))
            olds = _load_shards(store_dir, m, sids)
        else:
            sids, olds = range(n), {}
        # Both checks only involve touched buckets (replaced files live
        # there; an added file can only overlap batch keys if its
        # bucket is touched), so the covering shards are exact.
        live = {e["path"] for es in olds.values() for e in es}
        if not replaced <= live or any(
            entry_touched(e)
            for es in olds.values()
            for e in es
            if e["path"] not in base_paths
        ):
            shutil.rmtree(stage, ignore_errors=True)
            return None

        # Published files are referenced by no generation until the
        # swap: register them for the same in-process cleanup.
        written.extend(e["path"] for e in new_entries)
        _publish_staged(stage, store_dir, new_entries)

        now = time.time()
        shards = list(m["shards"]) or [None] * n
        retired_shards = [shards[i]["path"] for i in sids if shards[i]]
        expired, dead, dead_since = _retire(
            m, "dead", sorted(replaced), retention_seconds, now
        )
        expired_meta, dead_meta, dead_meta_since = _retire(
            m, "dead_meta", retired_shards, retention_seconds, now
        )

        new_by_sid: dict[int, list[dict]] = {}
        for e in new_entries:
            sid = _shard_id(_bucket(e["path"]), n)
            new_by_sid.setdefault(sid, []).append(e)
        for i in sids:
            kept = [e for e in olds.get(i, []) if e["path"] not in replaced]
            shards[i] = _write_shard(
                store_dir, kept + new_by_sid.get(i, []), written
            )

        root = {
            "generation": m["generation"] + 1,
            "key_col": base["key_col"],
            "schema": base["schema"],
            "n_shards": n,
            "shards": shards,
            "dead": dead,
            "dead_since": dead_since,
            "dead_meta": dead_meta,
            "dead_meta_since": dead_meta_since,
        }
        _write_manifest_atomic(store_dir, root)
        written.clear()

        # GC only after the new root is durable, so no reader of the
        # new generation resolves a removed path.
        for rel in expired + expired_meta:
            with contextlib.suppress(OSError):
                os.remove(os.path.join(store_dir, rel))
        _sweep_orphan_shards(store_dir, root, lock_stale_seconds)
    return root


def merge_manifest_store(
    store_dir: str,
    batch_latest: DataFrame,
    key_col: str,
    partition_col: str,
    resolve,
    files_per_bucket: int = 4,
    max_collected_keys: int = 1_000_000,
    retention_seconds: float = 0.0,
    lock_timeout: float = 120.0,
    lock_stale_seconds: float = 600.0,
    manifest_shards: int = 1,
) -> dict:
    """CDC merge that rewrites only the store files whose key range
    the batch touches, published as one manifest generation:

    1. select replaced files from the covering shards' stored key
       ranges (zero parquet I/O; footers are read once per file, at
       the generation that created it);
    2. read exactly those files (+ batch), resolve last-write-wins and
       STAGE the result as ``files_per_bucket`` key-range-clustered
       files per touched bucket;
    3. ``_commit``: validate, publish, swap the root (live = (current
       live − replaced) + new files; dead = replaced, retained), GC
       files dead for one full generation AND at least
       ``retention_seconds`` — production table formats retain by time
       so lagging readers can finish arbitrarily old scans; the
       default (0) keeps the single-generation lag.

    The first merge into ``store_dir`` creates the store: it stages
    the batch as is and commits it against an empty generation with
    ``manifest_shards`` shards (later merges keep the store's count).

    Driver-memory bound: the batch's distinct (bucket, key) pairs are
    collected through a ``limit(max_collected_keys + 1)`` probe — ONE
    bounded job, never an unbounded collect. If the probe overflows,
    the merge prunes by per-bucket [min, max] intervals instead (2
    values per bucket — bounded by the bucket count at ANY batch
    size). Interval pruning is a superset of key pruning, so
    correctness is unchanged; at 100 TB this is what keeps the driver
    out of the data path.

    Concurrency: writers commit OPTIMISTICALLY (module docstring); a
    conflicting merge redoes against the fresh generation, at most
    ``_MAX_COMMIT_RETRIES`` times. Writers touching disjoint files
    never redo. With concurrent writers, set ``retention_seconds`` at
    least as long as the slowest merge so a redo loser's input files
    are never GC'd mid-read — the same rule table formats apply to
    long-running readers.
    Crash recovery: a writer that dies holding the commit lock leaves
    it behind; waiters raise TimeoutError (after ``lock_timeout``)
    until the lock is ``lock_stale_seconds`` old, at which point
    exactly one waiter takes it over (conditional delete on the
    observed token — commit_lock.py). Tune ``lock_stale_seconds`` to
    a small multiple of the commit section's wall (milliseconds of
    metadata work), not of the merge's; the default 600 s is
    deliberately conservative for shared dev boxes. The same window
    age-gates the orphan-shard sweep.

    Returns {"touched_buckets", "files_read", "files_total",
    "bytes_read", "bytes_total"} (read-back must track touched keys,
    not touched buckets) plus ``generation``, ``n_shards``,
    ``pruning`` ("keys" | "intervals", "none" on creation),
    ``commit_retries``, ``wall_s`` (this merge's wall-clock) and
    ``phases`` (probe / resolve / stage / commit seconds).
    """
    import bisect

    from ..caching import track_local_checkpoint

    t_merge0 = time.perf_counter()
    phases: dict[str, float] = {}

    def _mark(key: str, t0: float) -> float:
        now = time.perf_counter()
        phases[key] = round(phases.get(key, 0.0) + (now - t0), 3)
        return now

    spark = batch_latest.sparkSession
    n_out = max(int(files_per_bucket), 1)

    # Driver-side batch keys are O(|batch|), so the probe collects
    # distinct (bucket, key) pairs through limit(max+1): one job whose
    # driver footprint is bounded by construction. On overflow, fall
    # back to per-bucket [min, max] INTERVALS (2 values per bucket):
    # pruning weakens from exact key-membership to interval overlap,
    # correctness is unchanged (an interval superset can only select
    # MORE files, never miss a key's file).
    batch_keys: dict[str, list] = {}
    batch_ranges: dict[str, tuple] = {}
    t_ph = time.perf_counter()
    pairs = (
        batch_latest.select(partition_col, key_col)
        .distinct()
        .limit(max_collected_keys + 1)
        .collect()
    )
    if len(pairs) <= max_collected_keys:
        for part, key in pairs:
            batch_keys.setdefault(str(part), []).append(key)
        for ks in batch_keys.values():
            ks.sort()
        touched_parts = set(batch_keys)
        pruning = "keys"
    else:
        for part, lo, hi in (
            batch_latest.groupBy(partition_col)
            .agg(F.min(key_col).alias("lo"), F.max(key_col).alias("hi"))
            .collect()
        ):
            batch_ranges[str(part)] = (lo, hi)
        touched_parts = set(batch_ranges)
        pruning = "intervals"
    _mark("probe_s", t_ph)

    def entry_touched(e: dict) -> bool:
        b = _bucket(e["path"])
        if b not in touched_parts:
            return False
        if e["lo"] is None:
            return True  # no stats recorded -> cannot prune
        if batch_ranges:
            lo, hi = batch_ranges[b]
            return not (e["hi"] < lo or hi < e["lo"])
        keys = batch_keys[b]
        i = bisect.bisect_left(keys, e["lo"])
        return i < len(keys) and keys[i] <= e["hi"]

    def stats(root: dict, replaced: list, how: str, retries: int) -> dict:
        return {
            "generation": root["generation"],
            "touched_buckets": sorted(touched_parts),
            "files_read": len(replaced),
            "files_total": sum(sd["n_files"] for sd in root["shards"]),
            "bytes_read": sum(e["bytes"] for e in replaced),
            "bytes_total": sum(sd["bytes"] for sd in root["shards"]),
            "pruning": how,
            "commit_retries": retries,
            "wall_s": round(time.perf_counter() - t_merge0, 3),
            "n_shards": root["n_shards"],
            "phases": phases,
        }

    os.makedirs(store_dir, exist_ok=True)
    for attempt in range(_MAX_COMMIT_RETRIES + 1):
        m = read_manifest(store_dir)
        if m is None:
            base = _empty_generation(
                key_col, _store_schema(batch_latest, partition_col),
                manifest_shards,
            )
            base_entries: list[dict] = []
            replaced: list[dict] = []
            merged, how = batch_latest, "none"
        elif not touched_parts:
            return stats(m, [], pruning, attempt)
        else:
            base, how = m, pruning
            base_entries = [
                e
                for es in _load_shards(
                    store_dir, m, _covering(m, touched_parts)
                ).values()
                for e in es
            ]
            replaced = [e for e in base_entries if entry_touched(e)]
            t_ph = time.perf_counter()
            merged_in = batch_latest
            if replaced:
                old = _read_files(
                    spark, store_dir, m, [e["path"] for e in replaced]
                )
                merged_in = old.unionByName(batch_latest)
            merged = track_local_checkpoint(
                resolve(merged_in).localCheckpoint()
            )
            _mark("resolve_s", t_ph)
        t_ph = time.perf_counter()
        stage, new_entries = _stage_clustered(
            merged, key_col, partition_col, n_out, store_dir, phases
        )
        t_ph = _mark("stage_s", t_ph)

        root = _commit(
            store_dir,
            base,
            {e["path"] for e in base_entries},
            {e["path"] for e in replaced},
            stage,
            new_entries,
            entry_touched,
            touched_parts,
            retention_seconds,
            lock_timeout,
            lock_stale_seconds,
        )
        if root is not None:
            _mark("commit_s", t_ph)
            return stats(root, replaced, how, attempt)
        if retention_seconds <= 0 and attempt == 0:
            _warn_zero_retention(store_dir)
    raise RuntimeError(
        f"merge_manifest_store: {_MAX_COMMIT_RETRIES + 1} commit conflicts "
        f"at {store_dir!r}"
    )
