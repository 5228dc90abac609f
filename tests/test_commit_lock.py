"""Commit-lock protocol pins (r11 ADVICE items 1-2 + verdict item 4).

The defects these tests exist to keep dead:
- stale-takeover TOCTOU: two waiters both judge the lock stale; the
  second unlink used to delete the first winner's FRESH lock, letting
  a third writer into the critical section concurrently;
- unconditional release: a holder that overran stale_seconds and was
  taken over used to delete the NEW holder's lock on __exit__.

Both are closed by routing takeover and release through the backend's
conditional delete on an observed/owned token. The backend itself is
pluggable (verdict item 4): every test here runs against BOTH the
POSIX O_EXCL adapter and the simulated object-store put-if-absent
adapter.
"""

from __future__ import annotations

import os
import threading
import time

import pytest

from sp500_stock_etl_spark.io.commit_lock import (
    CommitLock,
    ObjectStoreSimBackend,
    PosixLockBackend,
)

BACKENDS = [PosixLockBackend, ObjectStoreSimBackend]


@pytest.fixture(params=BACKENDS, ids=["posix", "objectstore"])
def backend(request):
    return request.param()


def test_put_if_absent_contract(backend, tmp_path):
    p = str(tmp_path / "obj")
    assert backend.put_if_absent(p, b"a") is True
    assert backend.put_if_absent(p, b"b") is False
    data, age = backend.head(p)
    assert data == b"a" and age >= 0
    # No temp/claim litter in the namespace dir.
    assert sorted(os.listdir(tmp_path)) == ["obj"]


def test_delete_if_match_only_on_match(backend, tmp_path):
    p = str(tmp_path / "obj")
    backend.put_if_absent(p, b"holder-1")
    assert backend.delete_if_match(p, b"holder-2") is False
    assert backend.head(p)[0] == b"holder-1"  # mismatch restores intact
    assert backend.delete_if_match(p, b"holder-1") is True
    assert backend.head(p) is None
    assert backend.delete_if_match(p, b"holder-1") is False  # absent
    assert os.listdir(tmp_path) == []


def test_delete_if_match_race_one_winner(backend, tmp_path):
    p = str(tmp_path / "obj")
    backend.put_if_absent(p, b"stale")
    wins = []
    barrier = threading.Barrier(8)

    def claim():
        barrier.wait()
        if backend.delete_if_match(p, b"stale"):
            wins.append(1)

    ts = [threading.Thread(target=claim) for _ in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert len(wins) == 1
    assert backend.head(p) is None


def test_release_is_token_scoped(backend, tmp_path):
    """A taken-over holder's __exit__ must NOT delete the new holder's
    lock (r11 ADVICE item 2)."""
    store = str(tmp_path)
    a = CommitLock(store, stale_seconds=600.0, backend=backend)
    a.__enter__()
    # Simulate takeover: replace a's lock with b's fresh one.
    assert backend.delete_if_match(a.path, a.token)
    b = CommitLock(store, stale_seconds=600.0, backend=backend)
    b.__enter__()
    a.__exit__(None, None, None)  # must be a no-op: token mismatch
    assert backend.head(b.path)[0] == b.token
    b.__exit__(None, None, None)
    assert backend.head(b.path) is None


def test_stale_takeover_single_entry(backend, tmp_path):
    """N waiters racing on one stale lock admit EXACTLY one holder at a
    time (r11 ADVICE item 1 — the old double-unlink let two in)."""
    store = str(tmp_path)
    # Plant an abandoned lock, aged past staleness.
    lock_path = os.path.join(store, "_commit.lock")
    assert backend.put_if_absent(lock_path, b"crashed-writer")
    old = time.time() - 10_000
    os.utime(lock_path, (old, old))

    inside = []
    max_inside = []
    gate = threading.Lock()
    barrier = threading.Barrier(8)
    errors = []

    def writer(i):
        try:
            barrier.wait()
            with CommitLock(
                store, timeout=30.0, stale_seconds=5.0, backend=backend
            ):
                with gate:
                    inside.append(i)
                    max_inside.append(len(inside))
                time.sleep(0.01)  # widen any exclusion hole
                with gate:
                    inside.remove(i)
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(repr(e))

    ts = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errors == []
    assert max(max_inside) == 1  # never two holders concurrently
    assert len(max_inside) == 8  # everyone eventually got in
    assert backend.head(lock_path) is None  # last holder released
    assert os.listdir(store) == []  # no claim/put litter


def test_timeout_on_fresh_lock(backend, tmp_path):
    store = str(tmp_path)
    holder = CommitLock(store, backend=backend)
    holder.__enter__()
    with pytest.raises(TimeoutError):
        CommitLock(
            store, timeout=0.2, poll=0.02, stale_seconds=600.0,
            backend=backend,
        ).__enter__()
    holder.__exit__(None, None, None)
