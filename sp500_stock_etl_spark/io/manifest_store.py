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
rename) is a MANIFEST generation:

- ``_manifest.json`` at the store root lists the LIVE files of the
  current generation, each with its key min/max (so merges stop
  reading parquet footers: file selection is a pure manifest lookup);
- every merge writes new files, then swaps the manifest with one
  atomic rename — readers resolve the live set from the manifest and
  see generation g or g+1, never a mix;
- replaced files are retained on disk for ONE generation (listed in
  the manifest's ``dead``) and physically deleted by the NEXT merge,
  so a reader that loaded generation g can finish scanning g's files
  while g+1 publishes. Production tunes this retention by time
  (``retention_seconds``); the single-generation lag is the default,
  pinned under concurrent readers in tests/test_manifest_store.py.

Readers are unrestricted. Writers use OPTIMISTIC concurrency (the
Iceberg/Delta commit shape; the commit lock's storage primitives are
pluggable — ``commit_lock.py`` realizes them over POSIX O_EXCL or a
simulated object-store put-if-absent, so an object-store deployment
is an adapter, not a protocol change): each
merge stages its output files in a hidden dir (so every writer knows
exactly which files are its own — nothing reader-visible before the
swap), then takes a short exclusive-create commit lock for the
read-validate-swap of the manifest only; the expensive Spark work
never holds the lock. Validation fails — and the whole merge redoes
against the fresh manifest — iff a concurrent commit replaced one of
this merge's input files or added live files overlapping its batch
keys; writers touching disjoint FILES therefore commit without redo,
and overlapping writers serialize through redo (each redo resolves
over the winner's output, so last-write-wins stays consistent
regardless of commit order). The CDC apply remains one foreachBatch
loop in practice, but concurrent appliers are now safe by
construction (pinned in tests/test_manifest_store.py).

Metadata scale (measured, BASELINE.md §14 "How far does the flat
manifest carry?"): the flat single-JSON manifest costs ~1.7 s of
metadata work per commit at 200k live files (~100 TB at 512 MB/file),
~1.1 s of it under the commit lock — fine for minute-cadence CDC
appliers. For sub-second commit rates or multi-million-file stores,
opt into MANIFEST SHARDING (``manifest_shards=K`` at creation, or
convert via ``compact_manifest_store``): the root becomes an
Iceberg-style manifest list of per-shard descriptors, buckets hash to
shards, and a merge loads/rewrites only the shards covering its
touched buckets — measured 1.7 → 0.46 s at 200k files and 4.5 → 1.1 s
at 500k (64 shards, 1%-of-buckets batch; BASELINE.md §14),
proportional to touched shards, same OCC semantics (identical retry
distributions in the 4-writer run).
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

from pyspark.sql import DataFrame, SparkSession, functions as F

from .commit_lock import CommitLock

_MANIFEST = "_manifest.json"


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


def read_store(
    spark: SparkSession,
    store_dir: str,
    key_range: tuple | None = None,
    buckets=None,
) -> DataFrame:
    """Manifest-pinned read: exactly the current generation's live
    files (a directory listing would also see retained dead files —
    duplicate keys — and racing appends).

    ``key_range=(lo, hi)`` (inclusive) pushes the predicate into the
    MANIFEST: only live files whose stored key range overlaps [lo, hi]
    are given to Spark at all — non-overlapping files cost zero I/O,
    not even a footer read. The returned frame is additionally
    filtered to the exact range, so callers get precise results even
    from files that merely overlap. At a multi-tenant store keyed on
    the composite (tenant, key) this is how a one-tenant scan reads
    one tenant's files (BASELINE.md §13 measures the write side of
    the same property).

    ``buckets={...}`` (partition values, as strings) prunes by the
    Hive bucket instead: on a SHARDED manifest only the covering
    shards are even opened (the same touched-bucket metadata economy
    the merge enjoys); on either format only the named buckets' files
    reach Spark. The returned frame is NOT re-filtered — bucket
    membership is exact from the directory layout. Composable with
    ``key_range``."""
    m = read_manifest(store_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest at {store_dir!r}")
    if buckets is not None:
        buckets = {str(b) for b in buckets}
    if "shards" in m and key_range is not None and buckets is None:
        # Shard-level pruning first: root descriptors carry each
        # shard's aggregate [lo, hi], so non-overlapping shards cost
        # zero metadata I/O — effective when buckets align with key
        # prefixes (the composite-tenant layout).
        lo0, hi0 = key_range
        entries = []
        for sd in m["shards"]:
            if sd["lo"] is not None and (sd["hi"] < lo0 or hi0 < sd["lo"]):
                continue
            with open(os.path.join(store_dir, sd["path"])) as fh:
                entries.extend(json.load(fh)["files"])
        if not entries:
            # Every shard pruned: a valid store, an out-of-range ask.
            # Load one entry from any non-empty shard so the
            # empty-selection branch below can do its schema-only scan.
            for sd in m["shards"]:
                if sd["n_files"]:
                    with open(
                        os.path.join(store_dir, sd["path"])
                    ) as fh:
                        entries = json.load(fh)["files"][:1]
                    break
    else:
        # Sharded + buckets: _live_entries opens only covering shards.
        entries = _live_entries(store_dir, m, buckets)
        if not entries and buckets is not None and "shards" in m:
            # Covering shards all empty (possible whenever n_shards
            # exceeds the populated buckets): mirror the key_range
            # branch — borrow one entry from any non-empty shard so
            # the schema-only empty scan below runs instead of
            # raising (the flat format returns the documented empty
            # frame here; the formats must agree). The borrowed
            # entry's bucket can't be in ``buckets`` — if it were,
            # its covering shard would have been non-empty.
            for sd in m["shards"]:
                if sd["n_files"]:
                    with open(
                        os.path.join(store_dir, sd["path"])
                    ) as fh:
                        entries = json.load(fh)["files"][:1]
                    break
    if not entries:
        raise ValueError(f"empty manifest generation at {store_dir!r}")
    if buckets is not None:
        schema_entry = entries[0]
        picked_b = [
            e
            for e in entries
            if e["path"].split(os.sep, 1)[0].split("=", 1)[1] in buckets
        ]
        if not picked_b:
            one = os.path.join(store_dir, schema_entry["path"])
            return (
                spark.read.option("basePath", store_dir)
                .parquet(one)
                .where(F.lit(False))
            )
        entries = picked_b
    if key_range is None:
        paths = [os.path.join(store_dir, f["path"]) for f in entries]
        return spark.read.option("basePath", store_dir).parquet(*paths)
    lo, hi = key_range
    picked = [
        e
        for e in entries
        if e["lo"] is None or not (e["hi"] < lo or hi < e["lo"])
    ]
    key_col = m["key_col"]
    if not picked:
        # Preserve the store schema on an empty selection: scan one
        # live file with a never-true predicate (schema-only cost).
        one = os.path.join(store_dir, entries[0]["path"])
        return (
            spark.read.option("basePath", store_dir)
            .parquet(one)
            .where(F.lit(False))
        )
    paths = [os.path.join(store_dir, e["path"]) for e in picked]
    return (
        spark.read.option("basePath", store_dir)
        .parquet(*paths)
        .where(F.col(key_col).between(lo, hi))
    )


# Commit lock: token-holding, TOCTOU-free stale takeover, pluggable
# backend (POSIX O_EXCL | simulated object-store put-if-absent) — the
# object-store deployment boundary lives behind the three-method
# conditional-write interface in commit_lock.py, not in this protocol.
_CommitLock = CommitLock


def _safe_size(path: str) -> int:
    """Observability-only file size: with concurrent writers a file in
    *this* merge's snapshot can be GC'd by two quick interleaved
    commits before accounting runs — stats must never crash a merge."""
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def _parquet_key_range(path: str, key_col: str) -> tuple | None:
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


# --- Manifest sharding (r12; turns the measured flat-manifest
# boundary into a feature). A SHARDED manifest keeps the root JSON as
# an Iceberg-style manifest LIST: per-shard descriptors {path,
# n_files, bytes, lo, hi} pointing at immutable uuid-named shard JSONs
# that hold the actual file entries. Buckets map to shards by stable
# hash, so a merge loads and rewrites ONLY the shards covering its
# touched buckets — per-commit metadata work tracks touched buckets,
# not total file count (the flat design costs ~1.4 s/commit at the
# 200k-file 100 TB point, ~0.9 s of it under the lock;
# BASELINE.md §14 "Manifest sharding"). Replaced shard JSONs retire
# through the same time-based retention as replaced parquet (root
# keys dead_meta/dead_meta_since), so lagging readers of generation g
# can still resolve g's shards while g+1 publishes. Flat stays the
# default; ``manifest_shards`` on creation/compaction opts in, and
# every reader auto-detects the format from the root.


def _shard_id(bucket: str, n_shards: int) -> int:
    import zlib

    return zlib.crc32(bucket.encode()) % n_shards


def _load_shards(
    store_dir: str, m: dict, buckets=None
) -> dict[int, list[dict]]:
    """shard_id -> entries for a sharded manifest; only the shards
    covering ``buckets`` when given (None = all)."""
    n = m["n_shards"]
    ids = (
        range(n)
        if buckets is None
        else sorted({_shard_id(b, n) for b in buckets})
    )
    out: dict[int, list[dict]] = {}
    for i in ids:
        with open(os.path.join(store_dir, m["shards"][i]["path"])) as fh:
            out[i] = json.load(fh)["files"]
    return out


def _live_entries(store_dir: str, m: dict, buckets=None) -> list[dict]:
    """Live file entries under either format. For a SHARDED manifest
    with ``buckets`` given, loads only the covering shards — callers
    whose predicate already filters by bucket (entry_touched) get
    identical results at a fraction of the metadata I/O."""
    if "shards" not in m:
        return m["files"]
    return [
        e for es in _load_shards(store_dir, m, buckets).values() for e in es
    ]


def _files_total(m: dict) -> int:
    if "shards" not in m:
        return len(m["files"])
    return sum(sd["n_files"] for sd in m["shards"])


def _entry_bytes(store_dir: str, e: dict) -> int:
    """File size from the manifest entry when the generation that
    created it recorded one (r13+); stat() fallback for entries from
    older generations. Keeps per-commit observability O(touched), not
    O(live files)."""
    b = e.get("bytes")
    return b if b is not None else _safe_size(os.path.join(store_dir, e["path"]))


def _bytes_total(store_dir: str, m: dict) -> int:
    if "shards" not in m:
        return sum(_entry_bytes(store_dir, e) for e in m["files"])
    return sum(sd["bytes"] for sd in m["shards"])


def _write_shard(
    store_dir: str, entries: list[dict], written: list | None = None
) -> dict:
    """Write one immutable shard JSON; return its root descriptor
    (path + aggregates, so files_total/bytes_total and shard-level
    key-range pruning are O(n_shards) root reads).

    A shard holding ANY no-stats entry (lo=None: footer range unknown,
    must-read under every pruning path — the flat reader and
    entry_touched both treat it so) publishes an UNBOUNDED descriptor
    (lo=hi=None): otherwise the aggregate over the stats-bearing
    entries would let read_store shard-prune a file the flat format
    would have scanned, silently dropping rows. ``written`` (when
    given) collects the new shard's rel path so a crash before the
    root swap can unlink it — an unreferenced shard JSON is invisible
    to every GC path."""
    rel = f"_shard-{uuid.uuid4().hex}.json"
    tmp = os.path.join(store_dir, f".{rel}.tmp")
    with open(tmp, "w") as fh:
        json.dump({"files": entries}, fh)
    os.rename(tmp, os.path.join(store_dir, rel))
    if written is not None:
        written.append(rel)
    unbounded = any(e["lo"] is None for e in entries)
    los = [e["lo"] for e in entries if e["lo"] is not None]
    his = [e["hi"] for e in entries if e["hi"] is not None]
    return {
        "path": rel,
        "n_files": len(entries),
        "bytes": sum(_entry_bytes(store_dir, e) for e in entries),
        "lo": None if unbounded or not los else min(los),
        "hi": None if unbounded or not his else max(his),
    }


def _write_all_shards(
    store_dir: str,
    entries: list[dict],
    n_shards: int,
    written: list | None = None,
) -> list[dict]:
    by_sid: dict[int, list[dict]] = {i: [] for i in range(n_shards)}
    for e in entries:
        b = e["path"].split(os.sep, 1)[0].split("=", 1)[1]
        by_sid[_shard_id(b, n_shards)].append(e)
    return [
        _write_shard(store_dir, by_sid[i], written) for i in range(n_shards)
    ]


@contextlib.contextmanager
def _shard_cleanup_on_error(store_dir: str, written: list):
    """Unlink shard JSONs written by THIS commit attempt if it dies
    before the root swap — they are referenced by no generation, so
    neither dead_meta retention nor any reader would ever see them,
    and they'd otherwise accumulate forever. Callers ``written.clear()``
    immediately after a successful swap so a late failure (stats
    bookkeeping) can't unlink now-referenced shards."""
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
    phases: dict | None = None,
) -> tuple[str, list[dict]]:
    """Write the clustered output into a hidden staging dir inside the
    store and return (stage_dir, manifest entries with store-relative
    paths + footer key ranges). Staging — not a direct append — is
    what makes the commit protocol safe under concurrent writers:
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
        rng = _parquet_key_range(os.path.join(stage, rel), key_col)
        entries.append(
            {
                "path": rel,
                "lo": None if rng is None else rng[0],
                "hi": None if rng is None else rng[1],
                # Size captured once, at the generation that created
                # the file (like the key range): totals and shard
                # descriptors then read it from the manifest instead
                # of stat()ing every live file per commit — the flat
                # path's bytes_total alone was ~100k stat() calls per
                # commit at the 100 TB point (BASELINE.md §15).
                "bytes": _safe_size(os.path.join(stage, rel)),
            }
        )
    if phases is not None:
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
    job is still reading them. The operating rule (retention >= the
    slowest merge) was docstring-only before r12 — now it speaks up
    the moment the risky configuration is *observed*."""
    warnings.warn(
        f"merge_manifest_store({store_dir!r}): commit conflict observed "
        "with retention_seconds=0 — concurrent writers need a retention "
        "window at least as long as the slowest merge, or a redo "
        "loser's input files may be GC'd mid-read",
        RuntimeWarning,
        stacklevel=3,
    )


def _retire_dead(
    m: dict, retention_seconds: float, now: float, key: str = "dead"
) -> tuple[list[str], list[str]]:
    """Split the previous generation's dead list into files whose
    retention lapsed (physically deleted after the next swap) and
    files carried forward as still-dead. Manifests written before
    time-based retention carry no ``dead_since``; their dead files
    default to ts=0 — i.e. expired on the next swap, the original
    one-generation lag. ``key="dead_meta"`` applies the same policy
    to replaced SHARD JSONs of a sharded manifest."""
    since = m.get(f"{key}_since", {})
    expired: list[str] = []
    carried: list[str] = []
    for rel in m.get(key, []):
        if now - since.get(rel, 0.0) >= retention_seconds:
            expired.append(rel)
        else:
            carried.append(rel)
    return expired, carried


def merge_manifest_store(
    store_dir: str,
    batch_latest: DataFrame,
    key_col: str,
    partition_col: str,
    resolve,
    files_per_bucket: int = 4,
    max_collected_keys: int = 1_000_000,
    batch_keys_hint: int | None = None,
    retention_seconds: float = 0.0,
    max_commit_retries: int = 20,
    lock_timeout: float = 120.0,
    lock_stale_seconds: float = 600.0,
    manifest_shards: int | None = None,
) -> dict:
    """CDC merge that rewrites only the store files whose key range
    the batch touches, published as one manifest generation:

    1. select replaced files from the MANIFEST's stored key ranges
       (zero parquet I/O; footers are read once per file, at the
       generation that created it);
    2. read exactly those files (+ batch), resolve last-write-wins,
       STAGE the result as new key-range-clustered files and publish
       them by rename at commit;
    3. swap ``_manifest.json`` atomically: live = (current live −
       replaced) + new files; dead = replaced (retained on disk);
    4. GC: physically delete dead files that have been dead for one
       full generation AND for at least ``retention_seconds`` —
       production table formats retain by time so lagging readers can
       finish arbitrarily old scans; the default (0) keeps the
       single-generation lag.

    Driver-memory bound: the batch's distinct (bucket, key) pairs are
    collected through a ``limit(max_collected_keys + 1)`` probe — ONE
    bounded job, never an unbounded collect. If the probe overflows
    (or the caller passes ``batch_keys_hint > max_collected_keys``,
    skipping the probe entirely — CDC appliers usually know their
    batch size upstream), the merge prunes by per-bucket [min, max]
    intervals instead (2 values per bucket — bounded by the bucket
    count at ANY batch size). Interval pruning is a superset of key
    pruning, so correctness is unchanged; at 100 TB this is what keeps
    the driver out of the data path.

    Concurrency: writers commit OPTIMISTICALLY (module docstring).
    The clustered output is staged in a hidden dir (exact file
    ownership; nothing reader-visible early), then a short
    exclusive-create lock covers the manifest's read-validate-swap
    only. Validation fails iff a concurrent commit replaced one of
    this merge's input files or added live files overlapping its
    batch keys; the merge then redoes against the fresh manifest (up
    to ``max_commit_retries``). Writers touching disjoint files
    never redo.
    Note: with concurrent writers, set ``retention_seconds`` at least
    as long as the slowest merge so a redo loser's input files are
    never GC'd mid-read — the same rule table formats apply to
    long-running readers.
    Crash recovery: a writer that dies holding the commit lock leaves
    it behind; waiters raise TimeoutError (after ``lock_timeout``)
    until the lock is ``lock_stale_seconds`` old, at which point
    exactly one waiter takes it over (conditional delete on the
    observed token — commit_lock.py). Tune ``lock_stale_seconds`` to
    a small multiple of the commit section's wall (milliseconds of
    metadata work), not of the merge's; the default 600 s is
    deliberately conservative for shared dev boxes.

    Manifest sharding: ``manifest_shards=K`` at CREATION writes the
    sharded format (module comment above ``_shard_id``); an existing
    store's format always wins (convert with ``compact_manifest_store``).
    On a sharded store every merge loads and rewrites only the shards
    covering its touched buckets — the per-commit metadata cost the
    flat format pays in full at high file counts.

    Returns {"touched_buckets", "files_read", "files_total",
    "bytes_read", "bytes_total"} (read-back must track touched keys,
    not touched buckets) plus ``generation``, ``pruning`` ("keys" |
    "intervals"), ``commit_retries`` and ``wall_s`` (this merge's
    wall-clock — the r11 bench artifact caught a 3x run-to-run swing
    on the filestats query and the per-batch wall is what localizes
    such swings).
    """
    import bisect

    t_merge0 = time.perf_counter()
    phases: dict[str, float] = {}

    def _mark(key: str, t0: float) -> float:
        now = time.perf_counter()
        phases[key] = round(phases.get(key, 0.0) + (now - t0), 3)
        return now

    spark = batch_latest.sparkSession
    n_out = max(int(files_per_bucket), 1)

    # Driver-side batch keys are O(|batch|) — safe for CDC batches but
    # not unbounded. The probe collects distinct (bucket, key) pairs
    # through limit(max+1): one job whose driver footprint is bounded
    # by construction. On overflow (or an upstream hint that the batch
    # is huge), fall back to per-bucket [min, max] INTERVALS (2 values
    # per bucket, bounded by the bucket count): pruning weakens from
    # exact key-membership to interval overlap, correctness is
    # unchanged (an interval superset can only select MORE files,
    # never miss a key's file).
    batch_keys: dict[str, list] = {}
    batch_ranges: dict[str, tuple] = {}
    pairs = None
    t_ph = time.perf_counter()
    if batch_keys_hint is None or batch_keys_hint <= max_collected_keys:
        pairs = (
            batch_latest.select(partition_col, key_col)
            .distinct()
            .limit(max_collected_keys + 1)
            .collect()
        )
        if len(pairs) > max_collected_keys:
            pairs = None  # overflow -> interval fallback
    if pairs is not None:
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
    t_ph = _mark("probe_s", t_ph)

    def bucket_raw(rel: str) -> str:
        return rel.split(os.sep, 1)[0].split("=", 1)[1]

    def entry_touched(e: dict) -> bool:
        b = bucket_raw(e["path"])
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

    os.makedirs(store_dir, exist_ok=True)
    attempts = 0
    while True:
        m = read_manifest(store_dir)

        if m is None:
            # Creation: stage gen 0, claim it under the lock; a lost
            # race (another writer created gen 0 first) redoes this
            # batch as a normal merge against their manifest.
            stage, entries = _stage_clustered(
                batch_latest, key_col, partition_col, n_out, store_dir
            )
            written_shards: list[str] = []
            with _staged_cleanup_on_error(stage), _shard_cleanup_on_error(
                store_dir, written_shards
            ), _CommitLock(
                store_dir, timeout=lock_timeout, stale_seconds=lock_stale_seconds
            ):
                if read_manifest(store_dir) is None:
                    _publish_staged(stage, store_dir, entries)
                    root: dict = {
                        "generation": 0,
                        "key_col": key_col,
                        "dead": [],
                        "dead_since": {},
                    }
                    if manifest_shards:
                        root["n_shards"] = int(manifest_shards)
                        root["shards"] = _write_all_shards(
                            store_dir,
                            entries,
                            int(manifest_shards),
                            written_shards,
                        )
                        root["dead_meta"] = []
                        root["dead_meta_since"] = {}
                    else:
                        root["files"] = entries
                    _write_manifest_atomic(store_dir, root)
                    written_shards.clear()
                    return {
                        "generation": 0,
                        "touched_buckets": sorted(touched_parts),
                        "files_read": 0,
                        "files_total": len(entries),
                        "bytes_read": 0,
                        "bytes_total": sum(
                            _entry_bytes(store_dir, e) for e in entries
                        ),
                        "pruning": "none",
                        "commit_retries": attempts,
                        "wall_s": round(time.perf_counter() - t_merge0, 3),
                        "manifest_format": (
                            f"sharded:{int(manifest_shards)}"
                            if manifest_shards
                            else "flat"
                        ),
                    }
            shutil.rmtree(stage, ignore_errors=True)
            attempts += 1
            if retention_seconds <= 0 and attempts == 1:
                _warn_zero_retention(store_dir)
            if attempts > max_commit_retries:
                raise RuntimeError(
                    f"merge_manifest_store: {attempts} commit conflicts "
                    f"at {store_dir!r}"
                )
            continue

        if not touched_parts:
            return {
                "generation": m["generation"],
                "touched_buckets": [],
                "files_read": 0,
                "files_total": _files_total(m),
                "bytes_read": 0,
                "bytes_total": 0,
                "pruning": pruning,
                "commit_retries": attempts,
                "wall_s": round(time.perf_counter() - t_merge0, 3),
                "manifest_format": (
                    f"sharded:{m['n_shards']}" if "shards" in m else "flat"
                ),
            }

        # Sharded manifests load only the shards covering the touched
        # buckets; entry_touched is False outside them, so the
        # restricted view selects the identical replaced set.
        sharded = "shards" in m
        m_entries = _live_entries(
            store_dir, m, touched_parts if sharded else None
        )
        replaced = [e for e in m_entries if entry_touched(e)]
        replaced_set = {e["path"] for e in replaced}
        replaced_paths = [
            os.path.join(store_dir, e["path"]) for e in replaced
        ]
        bytes_read = sum(_entry_bytes(store_dir, e) for e in replaced)

        t_ph = time.perf_counter()
        if replaced_paths:
            old = spark.read.option("basePath", store_dir).parquet(
                *replaced_paths
            )
            merged_in = old.unionByName(batch_latest)
        else:
            merged_in = batch_latest

        from ..caching import track_local_checkpoint

        merged = track_local_checkpoint(
            resolve(merged_in).localCheckpoint()
        )
        t_ph = _mark("resolve_s", t_ph)
        stage, new_entries = _stage_clustered(
            merged, key_col, partition_col, n_out, store_dir, phases
        )
        t_ph = _mark("stage_s", t_ph)

        written_shards = []
        with _staged_cleanup_on_error(stage), _shard_cleanup_on_error(
            store_dir, written_shards
        ), _CommitLock(
            store_dir, timeout=lock_timeout, stale_seconds=lock_stale_seconds
        ):
            m2 = read_manifest(store_dir)
            sharded2 = "shards" in m2
            if sharded2:
                # Load once, reuse for validation AND the rewrite.
                m2_shards = _load_shards(store_dir, m2, touched_parts)
                m2_entries = [e for es in m2_shards.values() for e in es]
            else:
                m2_entries = m2["files"]
            live2 = {e["path"] for e in m2_entries}
            base_paths = {e["path"] for e in m_entries}
            # Conflict iff a concurrent commit (a) replaced a file this
            # merge resolved from, or (b) added live files overlapping
            # this batch's keys — rows this merge should have read.
            # Disjoint-key writers pass both checks and commit without
            # redo; this is the Iceberg/Delta validation shape. Both
            # checks only ever involve touched buckets (replaced files
            # live there; an added file can only overlap batch keys if
            # its bucket is touched), so the sharded view is exact.
            conflict = not (replaced_set <= live2) or any(
                entry_touched(e)
                for e in m2_entries
                if e["path"] not in base_paths
            )
            if not conflict:
                _publish_staged(stage, store_dir, new_entries)
                now = time.time()
                expired, carried = _retire_dead(m2, retention_seconds, now)
                newly_dead = sorted(replaced_set)
                since = m2.get("dead_since", {})
                root = {
                    "generation": m2["generation"] + 1,
                    "key_col": key_col,
                    "dead": carried + newly_dead,
                    "dead_since": {
                        **{rel: since.get(rel, 0.0) for rel in carried},
                        **{rel: now for rel in newly_dead},
                    },
                }
                # Retired shard JSONs (from sharded generations or a
                # format conversion) follow the same time-based
                # retention as replaced parquet — in BOTH format
                # branches, or a flat merge after a sharded->flat
                # conversion would orphan the old shard files forever.
                expired_meta, carried_meta = _retire_dead(
                    m2, retention_seconds, now, key="dead_meta"
                )
                msince = m2.get("dead_meta_since", {})
                meta_dead_now: list[str] = []
                if sharded2:
                    # Rewrite ONLY the touched shards; untouched shard
                    # descriptors carry over.
                    n_sh = m2["n_shards"]
                    new_by_sid: dict[int, list[dict]] = {}
                    for e in new_entries:
                        sid = _shard_id(bucket_raw(e["path"]), n_sh)
                        new_by_sid.setdefault(sid, []).append(e)
                    shards2 = list(m2["shards"])
                    for sid in sorted(set(m2_shards) | set(new_by_sid)):
                        olds = m2_shards.get(sid)
                        if olds is None:
                            olds = _load_shards(
                                store_dir, m2, None
                            ).get(sid, [])
                        kept = [
                            e for e in olds if e["path"] not in replaced_set
                        ]
                        meta_dead_now.append(shards2[sid]["path"])
                        shards2[sid] = _write_shard(
                            store_dir,
                            kept + new_by_sid.get(sid, []),
                            written_shards,
                        )
                    root["n_shards"] = n_sh
                    root["shards"] = shards2
                else:
                    root["files"] = [
                        e
                        for e in m2_entries
                        if e["path"] not in replaced_set
                    ] + new_entries
                if carried_meta or meta_dead_now:
                    root["dead_meta"] = carried_meta + meta_dead_now
                    root["dead_meta_since"] = {
                        **{r: msince.get(r, 0.0) for r in carried_meta},
                        **{r: now for r in meta_dead_now},
                    }
                _write_manifest_atomic(store_dir, root)
                written_shards.clear()
                # GC only files dead for one full swap AND past
                # retention — after the new manifest is durable, so no
                # reader resolves a removed path.
                for rel in expired + expired_meta:
                    try:
                        os.remove(os.path.join(store_dir, rel))
                    except OSError:
                        pass
                # Totals against the generation this commit actually
                # validated and published over (root aggregates on a
                # sharded store — O(n_shards), no shard loads);
                # files_read/bytes_read stay what the merge truly read.
                return {
                    "generation": m2["generation"] + 1,
                    "touched_buckets": sorted(touched_parts),
                    "files_read": len(replaced),
                    "files_total": (
                        _files_total({**m2, "shards": root["shards"]})
                        if sharded2
                        else len(root["files"])
                    ),
                    "bytes_read": bytes_read,
                    "bytes_total": (
                        sum(sd["bytes"] for sd in root["shards"])
                        if sharded2
                        else sum(
                            _entry_bytes(store_dir, e)
                            for e in root["files"]
                        )
                    ),
                    "pruning": pruning,
                    "commit_retries": attempts,
                    "wall_s": round(time.perf_counter() - t_merge0, 3),
                    "manifest_format": (
                        f"sharded:{m2['n_shards']}" if sharded2 else "flat"
                    ),
                    "phases": {
                        **phases,
                        "commit_s": round(time.perf_counter() - t_ph, 3),
                    },
                }
        shutil.rmtree(stage, ignore_errors=True)
        attempts += 1
        if retention_seconds <= 0 and attempts == 1:
            _warn_zero_retention(store_dir)
        if attempts > max_commit_retries:
            raise RuntimeError(
                f"merge_manifest_store: {attempts} commit conflicts "
                f"at {store_dir!r}"
            )


def _entry_bucket(e: dict) -> str:
    return e["path"].split(os.sep, 1)[0].split("=", 1)[1]


def compaction_candidates(
    store_dir: str,
    files_per_bucket: int = 4,
    max_buckets: int = 32,
    trigger_factor: float = 2.0,
) -> list[str]:
    """Buckets whose live file count exceeds ``trigger_factor x
    files_per_bucket`` (merge growth: each merge can leave up to
    files_per_bucket NEW files per touched bucket whose ranges overlap
    the old ones, weakening pruning), worst first, capped at
    ``max_buckets`` per maintenance cycle. This is the incremental-
    maintenance loop's selection step: write traffic concentrates, so
    compacting the worst few buckets restores pruning at a small
    fraction of a full rewrite. Driver cost is one manifest listing
    (O(live entries) of metadata — the same cost any full read pays)."""
    m = read_manifest(store_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest at {store_dir!r}")
    counts: dict[str, int] = {}
    for e in _live_entries(store_dir, m):
        b = _entry_bucket(e)
        counts[b] = counts.get(b, 0) + 1
    thresh = trigger_factor * max(int(files_per_bucket), 1)
    worst = sorted(
        (b for b, c in counts.items() if c > thresh),
        key=lambda b: (-counts[b], b),
    )
    return worst[: max(int(max_buckets), 0)]


def compact_manifest_store(
    spark: SparkSession,
    store_dir: str,
    key_col: str,
    partition_col: str,
    files_per_bucket: int = 4,
    retention_seconds: float = 0.0,
    max_commit_retries: int = 20,
    lock_timeout: float = 120.0,
    lock_stale_seconds: float = 600.0,
    manifest_shards: int | None = None,
    buckets=None,
) -> dict:
    """Periodic repair under the manifest: rewrite freshly
    key-range-clustered files (merges grow the file count by up to
    files_per_bucket x touched buckets each, and their outputs'
    ranges overlap older files', weakening future pruning — the
    n=1000 sparse probe measured 256 → 640 files over 3 merges).

    Two scopes:

    - ``buckets=None`` (FULL): rewrite the entire live set as one
      generation. Validation under the lock is "the live set is
      unchanged"; any interleaved merge wins and the compaction redoes
      from the new generation. This is also the FORMAT MIGRATION
      point: ``manifest_shards=None`` preserves the current format,
      ``K`` shards the new generation K ways, ``0`` converts to flat —
      content identical either way, pinned in tests. A full rewrite is
      the right tool at test scale and for migrations; at the 100 TB /
      200k-file point it is a non-starter as routine maintenance.
    - ``buckets={...}`` (PARTIAL, r13): rewrite ONLY the named
      buckets' files — the incremental maintenance every production
      table format does (per-partition binpack). Validation narrows
      with the scope: conflict iff a concurrent commit changed the
      live set OF THE TARGET BUCKETS, so merges in other buckets
      COMMUTE with a running partial compaction (neither redoes;
      pinned in tests). On a sharded manifest only the covering
      shards are loaded and rewritten — metadata cost tracks the
      target, not the store. Pick targets with
      ``compaction_candidates`` (worst-bucket selection). Partial
      scope cannot change the manifest format (raises on
      ``manifest_shards`` + ``buckets`` together).

    Either scope STAGES its output (existing files are never touched,
    so concurrent readers of the old generation are undisturbed),
    commits under the same optimistic protocol as the merges, marks
    the replaced files dead (retained per ``retention_seconds``), and
    GCs lapsed dead files. Content identity is pinned in
    tests/test_manifest_store.py.

    Returns {"generation", "files_before", "files_after",
    "commit_retries", "manifest_format"} (+ ``buckets`` when partial;
    files_before/after count the REWRITTEN scope).
    """
    n_out = max(int(files_per_bucket), 1)
    if buckets is not None:
        if manifest_shards is not None:
            raise ValueError(
                "format migration (manifest_shards) requires a FULL "
                "compaction; run buckets=None"
            )
        buckets = {str(b) for b in buckets}
    attempts = 0
    while True:
        m = read_manifest(store_dir)
        if m is None:
            raise FileNotFoundError(f"no manifest at {store_dir!r}")
        sharded = "shards" in m

        def _target_live(mm: dict, shd: bool) -> set:
            if buckets is None:
                return {e["path"] for e in _live_entries(store_dir, mm)}
            return {
                e["path"]
                for e in _live_entries(
                    store_dir, mm, buckets if shd else None
                )
                if _entry_bucket(e) in buckets
            }

        live = _target_live(m, sharded)
        if buckets is not None and not live:
            return {
                "generation": m["generation"],
                "files_before": 0,
                "files_after": 0,
                "commit_retries": attempts,
                "manifest_format": (
                    f"sharded:{m['n_shards']}" if sharded else "flat"
                ),
                "buckets": sorted(buckets),
            }
        df = (
            read_store(spark, store_dir)
            if buckets is None
            else read_store(spark, store_dir, buckets=buckets)
        )
        stage, new_entries = _stage_clustered(
            df, key_col, partition_col, n_out, store_dir
        )
        if manifest_shards is None:
            out_shards = m.get("n_shards", 0)
        else:
            out_shards = int(manifest_shards)
        written_shards: list[str] = []
        with _staged_cleanup_on_error(stage), _shard_cleanup_on_error(
            store_dir, written_shards
        ), _CommitLock(
            store_dir, timeout=lock_timeout, stale_seconds=lock_stale_seconds
        ):
            m2 = read_manifest(store_dir)
            sharded2 = "shards" in m2
            if _target_live(m2, sharded2) == live:
                _publish_staged(stage, store_dir, new_entries)
                now = time.time()
                expired, carried = _retire_dead(m2, retention_seconds, now)
                newly_dead = sorted(live)
                since = m2.get("dead_since", {})
                root = {
                    "generation": m2["generation"] + 1,
                    "key_col": key_col,
                    "dead": carried + newly_dead,
                    "dead_since": {
                        **{rel: since.get(rel, 0.0) for rel in carried},
                        **{rel: now for rel in newly_dead},
                    },
                }
                # Replaced shard JSONs retire like replaced parquet:
                # dead_meta, time-based. Full scope retires every old
                # shard; partial scope only the covering shards it
                # rewrites.
                expired_meta, carried_meta = _retire_dead(
                    m2, retention_seconds, now, key="dead_meta"
                )
                msince = m2.get("dead_meta_since", {})
                meta_dead_now: list[str] = []
                if buckets is None:
                    meta_dead_now = [
                        sd["path"] for sd in m2.get("shards", [])
                    ]
                    if out_shards:
                        root["n_shards"] = out_shards
                        root["shards"] = _write_all_shards(
                            store_dir,
                            new_entries,
                            out_shards,
                            written_shards,
                        )
                    else:
                        root["files"] = new_entries
                elif sharded2:
                    # Rewrite only the covering shards; untouched
                    # descriptors carry over byte-identical (the same
                    # economy the merge path has). New entries can
                    # only land in covering shards: the staged frame
                    # holds target buckets only.
                    n_sh = m2["n_shards"]
                    m2_shards = _load_shards(store_dir, m2, buckets)
                    new_by_sid: dict[int, list[dict]] = {}
                    for e in new_entries:
                        sid = _shard_id(_entry_bucket(e), n_sh)
                        new_by_sid.setdefault(sid, []).append(e)
                    shards2 = list(m2["shards"])
                    for sid in sorted(set(m2_shards) | set(new_by_sid)):
                        kept = [
                            e
                            for e in m2_shards.get(sid, [])
                            if e["path"] not in live
                        ]
                        meta_dead_now.append(shards2[sid]["path"])
                        shards2[sid] = _write_shard(
                            store_dir,
                            kept + new_by_sid.get(sid, []),
                            written_shards,
                        )
                    root["n_shards"] = n_sh
                    root["shards"] = shards2
                else:
                    root["files"] = [
                        e for e in m2["files"] if e["path"] not in live
                    ] + new_entries
                if meta_dead_now or carried_meta or out_shards:
                    root["dead_meta"] = carried_meta + meta_dead_now
                    root["dead_meta_since"] = {
                        **{r: msince.get(r, 0.0) for r in carried_meta},
                        **{r: now for r in meta_dead_now},
                    }
                _write_manifest_atomic(store_dir, root)
                written_shards.clear()
                for rel in expired + expired_meta:
                    try:
                        os.remove(os.path.join(store_dir, rel))
                    except OSError:
                        pass
                # Sweep ORPHANED shard JSONs: a writer that crashed
                # after _write_shard but before its root swap leaves
                # uuid-named files referenced by no generation — the
                # in-process cleanup above can't catch a hard kill.
                # Half-written ``._shard-*.tmp`` files are the same
                # class. AGE-GATED (ADVICE r13): "all shard writes
                # happen under the commit lock" is not airtight under
                # the documented stale-lock takeover — a slow-but-
                # alive writer whose lock was stolen after
                # lock_stale_seconds can sit between _write_shard and
                # its root swap while this sweep runs; unlinking its
                # shards would make its subsequent root swap publish
                # dangling references and every read would fail. By
                # the takeover rule no legitimate in-flight commit
                # spans lock_stale_seconds, so any unreferenced shard
                # OLDER than that window is provably a hard-kill
                # leftover; younger ones wait for the next sweep.
                referenced = {sd["path"] for sd in root.get("shards", [])}
                referenced |= set(root.get("dead_meta", []))
                sweep_now = time.time()
                for p in glob.glob(
                    os.path.join(store_dir, "_shard-*.json")
                ) + glob.glob(os.path.join(store_dir, "._shard-*.json.tmp")):
                    if os.path.basename(p) in referenced:
                        continue
                    try:
                        age = sweep_now - os.path.getmtime(p)
                    except OSError:
                        continue  # already gone
                    if age < lock_stale_seconds:
                        continue  # possibly a mid-takeover writer's
                    with contextlib.suppress(OSError):
                        os.remove(p)
                out = {
                    "generation": m2["generation"] + 1,
                    "files_before": len(live),
                    "files_after": len(new_entries),
                    "commit_retries": attempts,
                    "manifest_format": (
                        f"sharded:{root['n_shards']}"
                        if "shards" in root
                        else "flat"
                    ),
                }
                if buckets is not None:
                    out["buckets"] = sorted(buckets)
                return out
        shutil.rmtree(stage, ignore_errors=True)
        attempts += 1
        if attempts > max_commit_retries:
            raise RuntimeError(
                f"compact_manifest_store: {attempts} commit conflicts "
                f"at {store_dir!r}"
            )
