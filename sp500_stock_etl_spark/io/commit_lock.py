"""Pluggable commit lock for the manifest store's optimistic commits.

The manifest commit protocol (``manifest_store.py``) needs one short
mutual-exclusion section around the read-validate-swap. What that
section actually requires from storage is the conditional-write triple
every production object store exposes natively:

- ``put_if_absent(name, data)`` — S3 ``PUT If-None-Match: *`` / GCS
  ``x-goog-if-generation-match: 0`` / ABS ``If-None-Match: *``;
- ``head(name)`` — read the current holder (+ its age, for stale
  detection);
- ``delete_if_match(name, data)`` — S3/ABS ``DELETE If-Match: <etag>``
  (compare-and-delete), the primitive that makes BOTH release and
  stale takeover race-free: release deletes only *our own* token, and
  when N waiters observe the same stale holder exactly one
  conditional delete succeeds.

``CommitLock`` implements acquire/stale-takeover/release purely in
terms of that triple, so deploying the store on an object store means
writing a ~30-line adapter, not changing the protocol. Two local
adapters ship:

- ``PosixLockBackend`` (default): O_EXCL create for put-if-absent;
  conditional delete realized atomically with ``flock`` on the lock
  file's inode plus an inode-identity re-check under the flock — a
  mismatched lock is never removed from the namespace, even
  transiently. This closes the classic TOCTOU where two waiters both
  judge a lock stale and the second unlink deletes the first winner's
  *fresh* lock (and the subtler hole where a compare-and-delete that
  temporarily vacates the slot lets a third writer in — a rename-claim
  first draft of this adapter was killed by exactly that, caught by
  tests/test_commit_lock.py::test_stale_takeover_single_entry).
- ``ObjectStoreSimBackend``: the same contract realized with a
  deliberately different acquire primitive — write-temp +
  ``os.link`` into the namespace (the NFS-safe lock pattern; link
  fails iff the name exists, exactly the conditional-PUT contract) —
  so the protocol is exercised through a second adapter: every test
  in ``tests/test_commit_lock.py`` runs against both, and the
  multi-writer OCC numbers for both are in BASELINE.md §14.

Real object stores don't need the flock trick at all: their
``DELETE If-Match`` is atomic server-side, so the adapter is a direct
GET/PUT/DELETE translation.

Behavior parity target: Delta/Iceberg-style commit locks (public
designs); reference repo has no concurrent-writer story (a single
Airflow task, dags/sp500_dag.py.py:229-288).
"""

from __future__ import annotations

import fcntl
import os
import time
import uuid


class PosixLockBackend:
    """Conditional-write triple over a local (POSIX) filesystem."""

    def put_if_absent(self, path: str, data: bytes) -> bool:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, data)
        finally:
            os.close(fd)
        return True

    def head(self, path: str) -> tuple[bytes, float] | None:
        """(holder token, age seconds) of the current lock, or None if
        the slot is free (or vanished mid-read)."""
        try:
            with open(path, "rb") as fh:
                data = fh.read()
            return data, time.time() - os.path.getmtime(path)
        except OSError:
            return None

    def delete_if_match(self, path: str, expected: bytes) -> bool:
        """Compare-and-delete, atomic by construction: flock the lock
        file's INODE, then (under the flock) verify the path still
        names that inode AND its content equals ``expected`` before
        unlinking. N concurrent claimants serialize on the flock; the
        winner unlinks, every loser then sees ENOENT or a different
        inode and returns False. Crucially a MISMATCHED lock is never
        removed from the namespace even transiently — a first design
        that claimed by ``os.rename`` and restored on mismatch was
        killed by its own test (tests/test_commit_lock.py
        test_stale_takeover_single_entry): a writer could slip in
        through the claim→restore window and break mutual exclusion.
        (flock is advisory and local-FS; on NFS/object stores this
        adapter doesn't apply — that's what the backend seam is for.)
        """
        try:
            fd = os.open(path, os.O_RDONLY)
        except OSError:
            return False  # slot free
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            try:
                if os.stat(path).st_ino != os.fstat(fd).st_ino:
                    return False  # winner unlinked / slot turned over
            except OSError:
                return False
            held = b""
            while True:
                chunk = os.read(fd, 65536)
                if not chunk:
                    break
                held += chunk
            if held != expected:
                return False
            os.unlink(path)
            return True
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)


class ObjectStoreSimBackend(PosixLockBackend):
    """Same contract, different acquire primitive: put-if-absent as
    write-temp + hard-link into the namespace — the local stand-in for
    a conditional PUT (and the classic NFS-safe lock, where O_EXCL is
    historically unreliable). head/delete_if_match inherit the POSIX
    realizations; a real object store replaces them with GET and the
    server-side-atomic DELETE If-Match."""

    def put_if_absent(self, path: str, data: bytes) -> bool:
        tmp = f"{path}.put.{uuid.uuid4().hex}"
        with open(tmp, "wb") as fh:
            fh.write(data)
        try:
            os.link(tmp, path)  # fails iff the name exists
            return True
        except OSError:
            return False
        finally:
            os.unlink(tmp)


class CommitLock:
    """Token-holding exclusive lock over a backend's conditional-write
    triple. Only metadata work (validate, renames, one JSON write, GC)
    runs under it; Spark jobs never hold it.

    - Acquire: spin on ``put_if_absent`` with a unique pid+uuid token.
    - Stale takeover: a holder older than ``stale_seconds`` is presumed
      crashed; takeover is ``delete_if_match`` on the *observed* token,
      so N waiters racing on the same stale holder elect exactly one
      remover (no unlink-the-fresh-lock TOCTOU), and the loop then
      re-contends the freed slot through put_if_absent as usual.
    - Release: ``delete_if_match`` on *our own* token — if this holder
      overran stale_seconds and was taken over, the slot holds someone
      else's token and release is a no-op instead of deleting the new
      holder's lock.
    """

    def __init__(
        self,
        store_dir: str,
        timeout: float = 120.0,
        poll: float = 0.02,
        stale_seconds: float = 600.0,
        backend=None,
    ) -> None:
        self.path = os.path.join(store_dir, "_commit.lock")
        self.timeout = timeout
        self.poll = poll
        self.stale_seconds = stale_seconds
        self.backend = backend if backend is not None else PosixLockBackend()
        self.token = f"{os.getpid()}:{uuid.uuid4().hex}".encode()

    def __enter__(self) -> "CommitLock":
        deadline = time.monotonic() + self.timeout
        while True:
            if self.backend.put_if_absent(self.path, self.token):
                return self
            holder = self.backend.head(self.path)
            if holder is not None:
                data, age = holder
                if age > self.stale_seconds:
                    # Exactly one waiter's conditional delete succeeds;
                    # everyone re-contends via put_if_absent.
                    self.backend.delete_if_match(self.path, data)
                    continue
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"commit lock at {self.path!r} held for "
                    f">{self.timeout}s"
                )
            time.sleep(self.poll)

    def __exit__(self, *exc) -> None:
        self.backend.delete_if_match(self.path, self.token)
