"""Crash-atomic versioned directories: the package's one pointer commit.

Every versioned directory in the package (``sinks.DurableTable``, the one
durable ``foreachBatch`` store; the ``cache.artifact`` stores; the
incremental IVF index) writes and commits through :class:`SnapshotDir`:

1. **stage** a fresh tree under the store path (:meth:`SnapshotDir.stage`);
2. **write** it (Spark's parquet writer, or any tree writer);
3. **fsync** every tree the commit adds (Spark never fsyncs its output);
4. **check the single writer**: the pointer still reads what this handle
   last read or wrote, and the batch horizon does not regress;
5. **flip** the pointer file (``CURRENT``, content ``name:bid``) with one
   ``os.replace`` — the single commit point;
6. **collect** every entry the new state does not keep.

Committed trees are immutable and the pointer is the one mutable object,
so a crash at any instant leaves either the old pointer (old state intact
on disk) or the new pointer (new state fully written and flushed), never
neither. The pointer records the batch id that produced the state, so a
legitimately empty state at batch N is representable, and a pointer that
names ``-`` (or ``-_{tag}``, where a store records something about the empty
state) commits an empty state with no tree at all. Anything the
pointer does not name (staging trees of crashed attempts, the
predecessor, orphaned pointer temps) is collected after the next
successful commit.

On a multi-node deployment this directory protocol is a Delta/Iceberg
ACID commit (same dataflow, table-format transaction instead of a pointer
file); the handlers' batch-id idempotence contract is identical.
"""

from __future__ import annotations

import contextlib
import errno
import os
import shutil
import tempfile


POINTER = "CURRENT"
EMPTY = "-"  # pointer name of a committed state with no tree (tagged: "-_…")

# fsync failures that mean "this platform or filesystem cannot fsync
# this object": process-crash atomicity still holds through the rename,
# only the power-loss guarantee narrows (as on a filesystem with no fsync
# at all). Everything else (EIO, ENOSPC, EDQUOT in particular) means the
# kernel may have dropped dirty pages; Linux clears the page-error state
# on a failed fsync, so a retry would falsely succeed. Those abort the
# commit before the pointer flip.
_FSYNC_NOT_SUPPORTED = frozenset(
    getattr(errno, name)
    for name in ("EINVAL", "EBADF", "ENOSYS", "ENOTSUP", "EOPNOTSUPP", "ENOTTY")
    if hasattr(errno, name)
)


def _fsync_best_effort(fd: int) -> None:
    """fsync ``fd``, swallowing only the not-supported error class.

    EIO/ENOSPC/EDQUOT (and any other real I/O failure) propagate: the
    caller must NOT flip a pointer onto a tree whose flush failed."""
    try:
        os.fsync(fd)
    except OSError as exc:
        if exc.errno in _FSYNC_NOT_SUPPORTED:
            return
        raise


class PointerCorruptionError(RuntimeError):
    """The pointer file EXISTS but is unreadable, unparseable, or names a
    snapshot that is not on disk. Under this protocol none of those states
    is reachable (the pointer temp is fully written + fsync'd before the
    atomic rename, and GC never removes the named tree), so they prove
    out-of-band damage — bit rot, truncation, a partial external delete.
    Raised INSTEAD of reporting "never committed": silently resetting a
    durable store to empty on corruption is the exact failure mode the
    pointer protocol exists to prevent, and is worse than crashing — the
    next successful commit's GC would delete the real predecessor
    snapshot, converting recoverable damage into permanent loss.

    RECOVERY (operator runbook): the raise is deliberately
    non-destructive — the corrupt pointer and every surviving snapshot
    dir are left exactly as found. Inspect the store path: the committed
    candidates are the ``v{n}`` / ``base_v{n}`` / ``delta_v{n}`` dirs
    still on disk (GC only ever runs AFTER a successful commit, so the
    newest complete tree is the last committed state). Restore service
    by rewriting the 13-byte pointer with ``write_pointer(path, name,
    bid)`` naming that tree, or — if no tree survived — delete the
    pointer file to return the store to the legitimate "never committed"
    state and let the stream re-warm from its source. A pointer file
    that is ABSENT (with or without surviving dirs) never raises: it is
    indistinguishable from a crash before the first commit, which is a
    legitimate empty state."""


def read_pointer(dirpath: str) -> tuple[str | None, int]:
    """The committed ``(name, bid)`` pair from ``dirpath``'s pointer file;
    ``(None, -1)`` when nothing has ever been committed (no pointer file —
    including the store dir itself not existing yet).

    A pointer that exists but cannot be parsed raises
    ``PointerCorruptionError``. Only the two "never committed" shapes
    (ENOENT, ENOTDIR) read as empty; any other I/O error propagates, so
    external damage can never pass for a durable state reset."""
    try:
        with open(os.path.join(dirpath, POINTER)) as f:
            raw = f.read()
    except (FileNotFoundError, NotADirectoryError):
        return None, -1
    try:
        name, bid = raw.splitlines()[0].rsplit(":", 1)
        return name, int(bid)
    except (ValueError, IndexError) as exc:
        raise PointerCorruptionError(
            f"snapshot pointer {os.path.join(dirpath, POINTER)} exists but "
            f"does not parse (content {raw[:80]!r}) — refusing to treat a "
            f"corrupt durable store as empty"
        ) from exc


def write_pointer(dirpath: str, name: str, bid: int) -> None:
    """Atomically commit ``(name, bid)`` as ``dirpath``'s pointer: write a
    temp file, fsync, then ONE ``os.replace`` — the single commit point.
    The DIRECTORY is fsync'd after the replace, so the rename is durable
    before any GC unlink can be: otherwise a power loss could persist the
    predecessor's rmtree while the rename is still unflushed, and CURRENT
    would name a deleted snapshot.

    This makes the POINTER FLIP durable; it does not flush the data files
    of the tree the pointer names (``SnapshotDir.commit`` runs
    ``fsync_tree`` on them first). The dir fsync is best-effort ONLY for
    the not-supported error class (platforms where directories cannot be
    opened or fsync'd); process-crash atomicity still holds there through
    the rename. Real I/O failures (EIO/ENOSPC/...) propagate."""
    fd, tmp = tempfile.mkstemp(prefix=".ptr_", dir=dirpath)
    with os.fdopen(fd, "w") as f:
        f.write(f"{name}:{int(bid)}\n")
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(dirpath, POINTER))
    try:
        dfd = os.open(dirpath, os.O_RDONLY | getattr(os, "O_DIRECTORY", 0))
    except OSError as exc:
        if os.name != "posix" or exc.errno in _FSYNC_NOT_SUPPORTED:
            return  # e.g. Windows: directories are not openable/fsyncable
        raise
    try:
        _fsync_best_effort(dfd)
    finally:
        os.close(dfd)


def fsync_tree(path: str) -> None:
    """fsync every file and directory under ``path``, bottom-up: the tree
    a pointer is about to name is written by Spark, which never fsyncs,
    and a durable pointer must only ever name a durable tree.

    Only the NOT-SUPPORTED class (ENOTSUP/EINVAL/EBADF/...) is swallowed:
    those filesystems keep process-crash atomicity from the rename and
    merely lack the power-loss guarantee. EIO/ENOSPC/EDQUOT and any other
    real I/O failure PROPAGATE so the caller aborts before the pointer
    flip: a failed fsync clears the kernel page-error state, so the tree
    may already have lost writes. ENOENT on a file open is skipped (a
    concurrently collected straggler, not a flush failure of the tree's
    own data)."""
    for root, _dirs, files in os.walk(path, topdown=False):
        for fname in files:
            try:
                ffd = os.open(os.path.join(root, fname), os.O_RDONLY)
            except OSError as exc:
                if exc.errno in (errno.ENOENT,) or exc.errno in _FSYNC_NOT_SUPPORTED:
                    continue
                raise
            try:
                _fsync_best_effort(ffd)
            finally:
                os.close(ffd)
        try:
            dfd = os.open(root, os.O_RDONLY | getattr(os, "O_DIRECTORY", 0))
        except OSError as exc:
            if exc.errno in (errno.ENOENT,) or exc.errno in _FSYNC_NOT_SUPPORTED:
                continue
            raise
        try:
            _fsync_best_effort(dfd)
        finally:
            os.close(dfd)


class SnapshotDir:
    """One writer's handle on a pointer-committed versioned store.

    By default a committed state is the one tree the pointer names
    (``v{bid}``). A store whose state spans several trees overrides the
    two rules :meth:`_holds` (which entries a committed state reads) and
    :meth:`_keeps` (which entries a commit's collection spares).

    SINGLE-WRITER CONTRACT: all writers of one store path must be
    serialized. In the streaming deployment this is structural — one
    foreachBatch handler owns the path and Structured Streaming runs a
    query's batches one at a time. Concurrent READERS are always safe:
    committed trees are immutable and the collection only removes trees
    the new pointer does not keep. The contract is ASSERTED at the commit
    point, not locked: :meth:`commit` raises, leaving the other writer's
    commit in place, when the pointer moved since this handle last read or
    wrote it, or when the flip would regress the batch horizon, and
    :meth:`stage` refuses a tree the committed state holds. Flipping
    anyway would un-commit the other writer's batch while replay detection
    still believes it absorbed. The check-to-flip window is not atomic;
    on Delta/Iceberg the table format's optimistic-commit conflict
    detection enforces the same contract."""

    POINTER = POINTER

    def __init__(self, path: str):
        self.path = path
        self._seen: tuple[str | None, int] | None = None  # last pointer read or written

    def current(self) -> tuple[str | None, int]:
        """(absolute path of the committed tree, its batch id);
        ``(None, bid)`` for a committed empty state and ``(None, -1)``
        when nothing has ever been committed.

        A pointer that names a tree NOT on disk raises
        ``PointerCorruptionError``: every committer writes the tree before
        the flip and GC never removes the named tree, so the state is only
        reachable by out-of-band deletion. Serving the remaining trees
        instead would let the next commit persist the shrunken state."""
        name, bid = self._seen = read_pointer(self.path)
        if name is None or name.split("_", 1)[0] == EMPTY:
            return None, bid
        sub = os.path.join(self.path, name)
        if not os.path.isdir(sub):
            raise PointerCorruptionError(
                f"snapshot pointer at {self.path} names {name!r} (bid {bid}) "
                f"but that snapshot dir is not on disk — the store was "
                f"damaged out of protocol; refusing to treat it as empty"
            )
        return sub, bid

    def staging(self, bid: int) -> str:
        """Path of the tree a whole-state commit at batch ``bid`` writes.
        Never the committed tree: a commit is only reached for a bid past
        the committed one (the handlers' replay gate), so ``v{bid}`` can
        only pre-exist as a leftover of a crashed attempt."""
        os.makedirs(self.path, exist_ok=True)
        return os.path.join(self.path, f"v{int(bid)}")

    @contextlib.contextmanager
    def stage(self, tree: str):
        """Yield ``tree`` (a path under the store) absent, to be written
        and then committed inside the block. On leaving the block, the
        tree is removed unless the committed state holds it, so a failed
        write, an abandoned candidate and a refused or failed commit leave
        nothing behind — except a tree another writer's commit took in,
        which is committed state. A tree the committed state already holds
        is refused: only another writer's commit can have put it there."""
        if self._holds(os.path.basename(tree), *read_pointer(self.path)):
            raise RuntimeError(
                f"store at {self.path}: single-writer contract violated — "
                f"staging {os.path.basename(tree)}, which the committed "
                f"state holds. Serialize all writers of this store path; "
                f"the concurrent commit was NOT overwritten."
            )
        shutil.rmtree(tree, ignore_errors=True)
        try:
            yield tree
        finally:
            if not self._holds(os.path.basename(tree), *read_pointer(self.path)):
                shutil.rmtree(tree, ignore_errors=True)

    def publish(self, bid: int, write) -> None:
        """Commit ``write(path)``'s tree as the whole state of batch
        ``bid``."""
        with self.stage(self.staging(bid)) as tree:
            write(tree)
            self.commit(os.path.basename(tree), int(bid))

    def commit(self, name: str, bid: int) -> None:
        """Flip the pointer to ``name:bid`` — the single commit point of
        every store. First fsync each tree the new state holds that the
        last-seen state did not, then check the single writer (see the
        class docstring), flip, and collect every entry the new state does
        not keep (predecessor trees, crashed staging trees, orphaned
        pointer temps; best-effort, a survivor is collected later)."""
        bid = int(bid)
        if self._seen is None:
            self._seen = read_pointer(self.path)
        seen = self._seen
        for entry in os.listdir(self.path):
            if self._holds(entry, name, bid) and not self._holds(entry, *seen):
                fsync_tree(os.path.join(self.path, entry))
        cur = read_pointer(self.path)
        if cur != seen or bid < cur[1]:
            raise RuntimeError(
                f"store at {self.path}: single-writer contract violated — "
                f"committing {name}:{bid} over {cur[0]}:{cur[1]}, which this "
                f"writer read as {seen[0]}:{seen[1]}. Serialize all writers "
                f"of this store path; the concurrent commit was NOT "
                f"overwritten."
            )
        write_pointer(self.path, name, bid)
        for entry in os.listdir(self.path):
            if entry == POINTER or self._keeps(entry, name, bid):
                continue
            p = os.path.join(self.path, entry)
            try:
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
            except OSError:
                pass
        self._seen = (name, bid)

    def _holds(self, entry: str, name: str | None, bid: int) -> bool:
        """Whether the state committed as ``name:bid`` reads ``entry``."""
        return entry == name

    def _keeps(self, entry: str, name: str, bid: int) -> bool:
        """Whether the collection after a commit of ``name:bid`` spares
        ``entry``."""
        return self._holds(entry, name, bid)
