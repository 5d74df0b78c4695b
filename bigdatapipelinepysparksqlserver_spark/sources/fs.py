"""Filesystem seam for the snapshot-publish protocol (M5).

``MartPublisher`` publishes through this interface instead of raw
``os`` calls so the protocol's correctness argument is explicit about
WHICH operations must be atomic — and so a deployment whose mart root
lives on an object store can supply an implementation honoring the same
contract instead of silently degrading.

Atomicity contract
------------------

* ``set_pointer`` — **REQUIRED atomic** (all-or-nothing visibility): a
  concurrent ``read_pointer`` must observe either the previous content
  or the new content, never a missing, empty, or partial pointer. This
  is the ONLY operation the no-dirty-read guarantee rests on. The run
  ledger (``plans/ledger.py``) is one ``set_pointer`` document too.

  - Local/POSIX (and HDFS): write-temp + fsync + ``rename`` — POSIX
    rename replaces the target atomically.
  - S3-style object stores: a single ``PutObject`` of the (tiny)
    pointer object IS atomic at the object level (readers get the old
    or the new version, never bytes of both), which satisfies THIS
    contract; use a conditional put (``If-Match`` on the previous
    ETag / ``If-None-Match: *`` for the first publish) when multiple
    publishers may race, so a lost-update cannot silently drop a
    publish. Never implement the pointer as a multipart upload or a
    copy+delete of a staging key.

* ``rename_dir`` — **NOT required atomic.** The protocol only renames
  the staging directory to a version directory that no reader can
  resolve yet (the pointer still names the previous version), so a
  copy+delete emulation with arbitrarily long visible intermediate
  states is safe. This is exactly what makes the pointer design
  object-store-portable where the r3 two-rename swap (rename the LIVE
  path) was not.

* ``rmtree`` — best-effort; only ever applied to snapshot directories
  that the pointer no longer (or never did) name.

``ObjectStoreSimFS`` simulates the object-store behavior (non-atomic
copy+delete renames, atomic pointer puts) so tests can prove the
reader-hammer invariant holds through the seam, not just on POSIX.

Note: the snapshot DATA is written by Spark through its own Hadoop
FileSystem (``df.write.parquet``), outside this seam — that write
targets the staging directory, which readers cannot resolve, so its
visibility semantics don't participate in the protocol.
"""

from __future__ import annotations

import os
import shutil
import time


class SnapshotFS:
    """Abstract seam — see the module docstring for the contract."""

    def is_dir(self, path: str) -> bool:
        raise NotImplementedError

    def list_dir(self, path: str) -> list[str]:
        raise NotImplementedError

    def makedirs(self, path: str) -> None:
        raise NotImplementedError

    def rename_dir(self, src: str, dst: str) -> None:
        """Move a directory. NOT required atomic (see module docstring)."""
        raise NotImplementedError

    def rmtree(self, path: str) -> None:
        raise NotImplementedError

    def remove_file(self, path: str) -> None:
        """Best-effort single-file delete (missing file is not an
        error) — only ever applied to metadata files no retained
        pointer/manifest names."""
        raise NotImplementedError

    def set_pointer(self, path: str, content: str) -> None:
        """Atomically replace the pointer file's content. REQUIRED
        atomic: concurrent readers see old or new, never partial."""
        raise NotImplementedError

    def set_pointer_if(
        self, path: str, expect: "str | None", content: str
    ) -> bool:
        """CONDITIONAL pointer put (compare-and-swap): atomically set
        the pointer to ``content`` iff its current content equals
        ``expect`` (``expect=None`` = the pointer must not exist yet —
        create-if-absent). Returns False — changing nothing — when the
        comparison fails, i.e. a concurrent publisher moved the pointer
        first. This is what lets two racing publishers resolve to
        exactly one winner instead of a silent last-writer-wins clobber
        (VERDICT r9 #2).

        Object stores: a conditional PutObject (``If-Match`` on the
        observed ETag / ``If-None-Match: *`` for create) IS this
        operation server-side. POSIX: an O_EXCL lockfile brackets the
        read-compare-set (see LocalFS)."""
        raise NotImplementedError

    def make_dir_exclusive(self, path: str) -> bool:
        """Atomically create ``path`` as a new directory; False if it
        already exists. The id-CLAIM primitive: two publishers racing
        for the same version number resolve to distinct numbers, so
        their artifacts never collide (and a loser reaps only its own).
        Object stores have no directories — claim via
        ``set_pointer_if(f"{path}/_CLAIM", None, ...)`` semantics
        instead (ObjectStoreSimFS keeps the local mkdir, which is
        equivalent for the simulation)."""
        raise NotImplementedError

    def age_seconds(self, path: str) -> float:
        """Seconds since ``path`` was last modified (+inf if it does
        not exist). Used to age-gate orphan reaping: an artifact
        younger than the grace window may be a concurrent publisher's
        in-flight claim, not a crashed publish."""
        raise NotImplementedError

    def read_pointer(self, path: str) -> "str | None":
        """Pointer content, or None if it does not exist yet."""
        raise NotImplementedError


class LocalFS(SnapshotFS):
    """POSIX implementation — also correct on HDFS-mounted paths (HDFS
    rename is atomic within a namespace)."""

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def list_dir(self, path: str) -> list[str]:
        return os.listdir(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def rename_dir(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def remove_file(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def set_pointer(self, path: str, content: str) -> None:
        # write-temp + fsync + rename: POSIX rename replaces the target
        # atomically, so a concurrent read_pointer never sees a torn write
        tmp = os.path.join(
            os.path.dirname(path), f".{os.path.basename(path)}.tmp"
        )
        with open(tmp, "w") as f:
            f.write(content)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, path)

    def set_pointer_if(
        self, path: str, expect: "str | None", content: str
    ) -> bool:
        # O_EXCL lockfile brackets read-compare-set: CAS writers
        # serialize against each other (readers never take the lock —
        # set_pointer's rename keeps reads lock-free). The lock is held
        # for microseconds; a crashed holder leaves a stale lockfile,
        # surfaced as an explicit TimeoutError naming it rather than a
        # silent wrong outcome.
        lock = os.path.join(
            os.path.dirname(path), f".{os.path.basename(path)}.lock"
        )
        deadline = time.monotonic() + 10.0
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                break
            except FileExistsError:
                if time.monotonic() >= deadline:
                    raise TimeoutError(
                        f"pointer CAS lock {lock} held for >10s — a crashed"
                        " CAS holder leaves it; verify no publisher is live,"
                        " then remove the lockfile"
                    )
                time.sleep(0.005)
        try:
            if self.read_pointer(path) != expect:
                return False
            self.set_pointer(path, content)
            return True
        finally:
            os.remove(lock)

    def make_dir_exclusive(self, path: str) -> bool:
        try:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            os.mkdir(path)
            return True
        except FileExistsError:
            return False

    def age_seconds(self, path: str) -> float:
        try:
            return max(0.0, time.time() - os.path.getmtime(path))
        except OSError:
            return float("inf")

    def read_pointer(self, path: str) -> "str | None":
        try:
            with open(path) as f:
                return f.read().strip()
        except FileNotFoundError:
            return None


class ObjectStoreSimFS(LocalFS):
    """Object-store behavior simulation for tests: ``rename_dir`` is
    copy-then-delete with every intermediate state visible to concurrent
    listers/readers (what S3A/GCS connectors actually do for directory
    "renames"), while ``set_pointer`` stays atomic (what a single
    PutObject of the pointer object provides) and the inherited
    ``set_pointer_if`` stands in for a server-side conditional
    PutObject (If-Match / If-None-Match) — same externally observable
    contract: exactly one of two racing conditional puts succeeds. The
    publish protocol must stay dirty-read-free under exactly this
    asymmetry — proven by the reader-hammer and contention tests
    running against this class."""

    def rename_dir(self, src: str, dst: str) -> None:
        os.makedirs(dst, exist_ok=True)  # dst visible & empty first
        for root, dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            troot = dst if rel == "." else os.path.join(dst, rel)
            for d in dirs:
                os.makedirs(os.path.join(troot, d), exist_ok=True)
            for fn in files:
                shutil.copy2(os.path.join(root, fn), os.path.join(troot, fn))
        shutil.rmtree(src)
