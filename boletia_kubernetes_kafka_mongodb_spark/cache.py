"""The package's one session cache.

Derived artifacts a deployment builds once and serves many times — loaded
table relations, the broker's message log, token/signature frames behind
``localCheckpoint``, trained quantizers and models, graph arrays — live
here and nowhere else. The policy:

- **Key:** ``(tag, applicationId, sf_dir, signatures)``, where each
  signature is the content signature of a table the build reads
  (:func:`signature`: path, mtime and size; a recursive per-file walk for a
  directory dataset). A fixture regenerated at the same path therefore
  lands on a fresh entry and can never be served stale. A build that reads
  no table (a write-time layout directory whose path already names its
  content) passes ``tables=()`` and keys on its path; its writers call
  :func:`clear` with that path before they rewrite it.
- **Missing dataset:** when any of the tables is not on disk (a crafted
  frame behind a mocked ``tables.load``), the value is built and returned
  without caching.
- **Bound:** at most :data:`MAX_ENTRIES` entries, least recently used
  evicted first. One full pass over the 149 registered ids at sf0.1 fills
  34 entries, so the bound holds the working sets of three datasets at
  once and repeated passes over one dataset never evict.

Cold timings come from :func:`clear`, which drops everything (or one
path's entries).
"""

from __future__ import annotations

import hashlib
import os
import threading
from collections import OrderedDict

MAX_ENTRIES = 128

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
    component of on-disk derived artifacts (layouts, band indexes), so a
    regenerated fixture gets a fresh artifact. Raises FileNotFoundError
    when the table is missing: an artifact needs a dataset to be built
    from."""
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


def clear(path: str | None = None) -> None:
    """Drop every entry, or only those keyed on ``path`` as their
    ``sf_dir``."""
    with _LOCK:
        for key in [k for k in _CACHE if path is None or k[2] == path]:
            del _CACHE[key]
