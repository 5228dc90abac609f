"""Session-lifetime cache accounting.

Operators that ``persist()`` intermediate frames (the LSH dedup /
similarity pipelines cache their shingle and bucket tables because the
self-join and the Jaccard verify each read them more than once)
register those frames here instead of calling ``persist()`` directly.
A long-lived session serving many registry queries would otherwise
accumulate cached partitions in executor storage memory indefinitely.

Tracking is PER-THREAD: a multi-tenant server running queries on
driver threads (the concurrent-serving shape of BASELINE.md §3) must
not have one thread's registry build release a cache another thread's
in-flight query is still reading.

Release points:

- ``release_caches()`` — explicit teardown of the calling thread's
  frames; bench.py and the parity tests call it after each query's
  terminal action.
- the registry wrapper calls it before building each query, so even a
  caller that never tears down (the external verify driver) holds at
  most one query's caches at a time.

Scratch directories (stream landing dirs and checkpoints, sink
snapshots, round-trip outputs, CDC and signature stores, the shipped
package zip) come from ``temp_dir``, which removes each one when the
process exits.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame

_TL = threading.local()


def temp_dir(prefix: str) -> str:
    """A fresh directory under the system temp dir, removed with its
    contents at process exit. Symlinks inside are unlinked, never
    followed."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _live() -> list[DataFrame]:
    frames = getattr(_TL, "frames", None)
    if frames is None:
        frames = _TL.frames = []
    return frames


def track_persist(df: DataFrame) -> DataFrame:
    """``persist()`` a frame and register it for later release by the
    calling thread."""
    df.persist()
    _live().append(df)
    return df


def unpersist_local_checkpoint(df: DataFrame) -> bool:
    """Free the RDD blocks behind an eagerly ``localCheckpoint()``-ed
    frame. ``DataFrame.unpersist()`` goes through the SQL cache manager
    and never touches the checkpoint RDD, so iterative operators that
    re-checkpoint every round (connected components) would otherwise
    accumulate one round's worth of executor storage per iteration
    (round-5 advice). Reflection into the ``LogicalRDD`` plan node is
    the only handle PySpark exposes; blocking=False so release is
    async. The frame must NEVER be read again after this call — the
    blocks are gone (callers release only the PREVIOUS round's frame,
    after the next round is materialized and compared).
    """
    try:
        lp = df._jdf.queryExecution().logical()
        if lp.getClass().getSimpleName() != "LogicalRDD":
            return False
        lp.rdd().unpersist(False)
        return True
    except Exception:
        return False


def track_local_checkpoint(df: DataFrame) -> DataFrame:
    """Register an eagerly localCheckpoint-ed frame (typically the
    FINAL frame an iterative operator returns — the in-loop rounds are
    released inline) so ``release_caches()`` frees its blocks once the
    caller's action has completed."""
    frames = getattr(_TL, "ckpt_frames", None)
    if frames is None:
        frames = _TL.ckpt_frames = []
    frames.append(df)
    return df


def release_caches() -> int:
    """Unpersist every frame the calling thread tracked; returns how
    many were released.

    Safe to call at any time: unpersisting a frame whose action already
    completed just drops the stored partitions; unpersisting one that
    was never materialized is a no-op.
    """
    frames = _live()
    n = 0
    while frames:
        df = frames.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            # Session already stopped — nothing to release.
            pass
    ckpts = getattr(_TL, "ckpt_frames", None) or []
    while ckpts:
        if unpersist_local_checkpoint(ckpts.pop()):
            n += 1
    return n
