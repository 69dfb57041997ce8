"""The package's one cache: session values in memory, derived artifacts on disk.

Derived artifacts a deployment builds once and serves many times — loaded
table relations, the broker's message log, token/signature frames behind
``localCheckpoint``, trained quantizers and models, graph arrays, and the
write-time layouts on disk — live here and nowhere else.

In memory, :func:`cached` keeps a value for one SparkSession:

- **Key:** ``(tag, applicationId, sf_dir, signatures)``, where each
  signature is the content signature of a table the build reads
  (:func:`signature`: path, mtime and size; a recursive per-file walk for a
  directory dataset). A fixture regenerated at the same path therefore
  lands on a fresh entry and can never be served stale. A build that reads
  no table (a parquet read of an artifact tree, whose path already names
  its content) passes ``tables=()`` and keys on its path. A shared
  ``pandas_udf`` reads nothing but binds to the SparkContext that first
  runs it, so it is held here too (``sf_dir=""``, ``tables=()``), never in
  a module global that outlives its session.
- **Missing dataset:** when any of the tables is not on disk (a crafted
  frame behind a mocked ``tables.load``), the value is built and returned
  without caching.
- **Bound:** at most :data:`MAX_ENTRIES` entries, least recently used
  evicted first. One full pass over the 149 registered ids at sf0.1 fills
  34 entries, so the bound holds the working sets of three datasets at
  once and repeated passes over one dataset never evict.

Cold timings come from :func:`clear`, which drops everything (or one
path's entries).

On disk, :func:`artifact` keeps a tree of files that every session and
process on the host shares (IVF and SRP layouts, band indexes, component
maps, and the keyed tree of ``part``/``lineitem``: bucketed eventos and
reservas plus the maintained ``reservado`` counter):

- **Key:** the store directory ``<tempdir>/boletia_{tag}_{signatures}``,
  one content signature per table the writer reads. A rewritten table
  names a fresh store.
- **Version:** the tag carries the writer's code version (``ivf_layout_v2``).
  Bump it whenever the writer's output changes for the same input;
  otherwise trees built by older code are served.
- **Commit:** the writer fills a staging tree that the package's one
  pointer commit publishes (``streaming._snapshot.SnapshotDir.publish``).
  A tree is served only once its pointer names it, so a crashed or failed
  write is never read and the next call rebuilds. A store left by older
  code without a pointer reads as not built, and the first commit removes
  it.
- **Lock:** first builds of one store are serialized across threads and
  processes by an exclusive ``flock`` on ``<store>.lock``, beside the
  store because the commit deletes every entry of the store the pointer
  does not name. The winner builds; the others find its tree.
- **Bound:** the lock file also records the store's sources, each table
  path with the signature the tree is built from, written before the
  commit. Each new build (never a hit) then deletes every other store
  (``boletia_<name>_v<N>_<signatures>``, any tag) whose recorded sources
  are missing or rewritten, each with its lock file. A store whose lock is
  held is being built and is skipped. A store without a record is deleted
  only if nothing was ever committed to it (a flat store of older code);
  a committed store of older code names no sources, so it is kept: a
  reader may hold it. Its first hit writes its record (the store's name
  encodes the signatures it was built from), and from then on it is
  collected like any other. Any tag counts, so the stores of a retired
  tag version go with their datasets too. A store outlives its dataset
  until the next build of any store.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import json
import os
import re
import shutil
import tempfile
import threading
from collections import OrderedDict

from .streaming._snapshot import SnapshotDir

MAX_ENTRIES = 128
_STORE = re.compile(r"boletia_\w+_v\d+(_[0-9a-f]{12})+")

_CACHE: OrderedDict = OrderedDict()
# guards _CACHE, never held across a build (builds nest)
_LOCK = threading.Lock()


def _table_path(sf_dir: str, table: str) -> str:
    return os.path.join(sf_dir, f"{table}.parquet")


def _sign(path: str) -> str | None:
    """Content signature of one dataset path, or None when it is missing."""
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            # a directory's own mtime/size miss rewrites inside it: sign
            # the recursive per-file (relpath, mtime, size) listing
            parts = []
            for root, _dirs, files in os.walk(path):
                for f in files:
                    fst = os.stat(os.path.join(root, f))
                    rel = os.path.relpath(os.path.join(root, f), path)
                    parts.append((rel, fst.st_mtime_ns, fst.st_size))
            sig = f"{path}:{sorted(parts)}"
        else:
            sig = f"{path}:{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        return None
    return hashlib.md5(sig.encode()).hexdigest()[:12]


def signature(sf_dir: str, table: str) -> str:
    """Content signature of ``table`` under ``sf_dir`` — also the name
    component of :func:`artifact` stores, so a regenerated fixture gets a
    fresh artifact. Raises FileNotFoundError when the table is missing: an
    artifact needs a dataset to be built from."""
    sig = _sign(_table_path(sf_dir, table))
    if sig is None:
        raise FileNotFoundError(
            f"dataset not found: {_table_path(sf_dir, table)}"
        )
    return sig


def cached(spark, sf_dir: str, tables, tag: str, build):
    """``build()``'s value under the module policy (see the docstring)."""
    sigs = tuple(_sign(_table_path(sf_dir, t)) for t in tables)
    if None in sigs:
        return build()
    key = (tag, spark.sparkContext.applicationId, sf_dir, sigs)
    with _LOCK:
        if key in _CACHE:
            _CACHE.move_to_end(key)
            return _CACHE[key]
    value = build()
    with _LOCK:
        _CACHE[key] = value
        while len(_CACHE) > MAX_ENTRIES:
            _CACHE.popitem(last=False)
    return value


def artifact(spark, sf_dir: str, tables, tag: str, write) -> str:
    """Path of the committed tree ``write(path)`` builds from ``tables``
    under ``sf_dir``, written at most once per content (see the
    docstring)."""
    sources = {_table_path(sf_dir, t): signature(sf_dir, t) for t in tables}
    sigs = "_".join(sources.values())
    store = SnapshotDir(os.path.join(tempfile.gettempdir(), f"boletia_{tag}_{sigs}"))
    tree, _ = store.current()
    if tree is not None:
        _record_hit(store.path, sources)
        return tree
    with open(store.path + ".lock", "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        tree, _ = store.current()
        if tree is None:
            lock.truncate(0)
            lock.write(json.dumps(sources))
            lock.flush()  # no committed store without its record
            store.publish(0, write)
            tree, _ = store.current()
            # a store deleted from outside is rebuilt at the same path:
            # drop this session's reads of the old files
            clear(tree)
            _collect_stale(store.path)
    return tree


def _record_hit(store: str, sources: dict) -> None:
    """Give a committed store without a sources record (one committed by
    code that kept none) its record. The store's name encodes the
    signatures of ``sources``, so they are the ones its tree was built
    from; once recorded, `_collect_stale` collects the store when they
    go."""
    with contextlib.suppress(FileNotFoundError):
        if os.path.getsize(store + ".lock") > 0:
            return
    with open(store + ".lock", "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.fstat(lock.fileno()).st_size == 0:
            lock.write(json.dumps(sources))


def _collect_stale(own: str) -> None:
    """Delete the other stores that no live source backs (see the
    docstring's **Bound**)."""
    root = os.path.dirname(own)
    for entry in os.listdir(root):
        path = os.path.join(root, entry)
        if path == own or not _STORE.fullmatch(entry) or not os.path.isdir(path):
            continue
        with open(path + ".lock", "a+") as lock:
            try:
                fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                continue
            lock.seek(0)
            try:
                sources = json.loads(lock.read())
            except ValueError:
                sources = {}
            if sources:
                if all(_sign(p) == sig for p, sig in sources.items()):
                    continue
            elif os.path.exists(os.path.join(path, SnapshotDir.POINTER)):
                continue
            shutil.rmtree(path, ignore_errors=True)
            with contextlib.suppress(FileNotFoundError):  # a racing collector
                os.remove(path + ".lock")


def clear(path: str | None = None) -> None:
    """Drop every entry, or only those keyed on ``path`` as their
    ``sf_dir``."""
    with _LOCK:
        for key in [k for k in _CACHE if path is None or k[2] == path]:
            del _CACHE[key]
