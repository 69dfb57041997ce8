"""Crash-atomicity of the durable snapshot stores.

A swap that writes the new tree, removes the old one and then renames has
a crash window in which NO snapshot exists; these tests kill the protocol
at every interesting instant and assert the previous committed state is
always recoverable:

- crash BETWEEN the staging write and the pointer flip → the store must
  recover the PREVIOUS committed state (and bid), and a retried save of
  the replayed batch must then commit cleanly and GC the stale staging;
- crash AFTER the flip but before GC (stale predecessor / orphaned
  pointer temps left behind) → the NEW state serves, and the next commit
  self-heals the strays;
- a legitimately 0-row state frame round-trips WITH its batch id, so an
  empty state never reads as "no state".

The one durable store (`sinks.DurableTable`) is covered directly and under
its MERGE and sketch updates, plus seeded random-schedule fuzzes that add
the mid-swap-crash action to the replay-protocol fuzz.
"""

from __future__ import annotations

import os
import random
from functools import partial

import pytest
from pyspark.sql import functions as F

from boletia_kubernetes_kafka_mongodb_spark.streaming import corpus as C
from boletia_kubernetes_kafka_mongodb_spark.streaming import sinks
from boletia_kubernetes_kafka_mongodb_spark.streaming.sinks import DurableTable, durable_handler
from boletia_kubernetes_kafka_mongodb_spark.streaming._snapshot import SnapshotDir


class _CrashMidSwap(Exception):
    pass


def _boom(self, name, bid):
    raise _CrashMidSwap(f"simulated crash before pointer flip ({name}:{bid})")


def _cells(spark, rows):
    return spark.createDataFrame(rows, "j int, b int, cnt long")


def _sorted(df):
    return sorted(map(tuple, df.collect()))


# --- DurableTable: sketch state --------------------------------------------


def test_sketch_crash_between_write_and_flip(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "state")
    store = DurableTable(spark, path)
    s0 = _cells(spark, [(0, 1, 10), (0, 2, 5)])
    store.save(s0, 0, {})

    # crash: the v1 staging dir is fully written, the pointer never flips
    monkeypatch.setattr(SnapshotDir, "commit", _boom)
    s1 = _cells(spark, [(0, 1, 12), (0, 2, 9)])
    with pytest.raises(_CrashMidSwap):
        store.save(s1, 1, {})
    monkeypatch.undo()

    # a restarted process recovers the PREVIOUS committed state, not empty
    fresh = DurableTable(spark, path)
    got, bid, _ = fresh.load()
    assert bid == 0
    assert _sorted(got) == _sorted(s0)

    # the stream redelivers batch 1; the retried save commits and the
    # crashed attempt's staging dir is garbage-collected
    fresh.save(s1, 1, {})
    got, bid, _ = DurableTable(spark, path).load()
    assert bid == 1
    assert _sorted(got) == _sorted(s1)
    assert sorted(os.listdir(path)) == ["CURRENT", "v1"]


def test_sketch_crash_after_flip_self_heals(spark, tmp_path):
    path = str(tmp_path / "state")
    store = DurableTable(spark, path)
    store.save(_cells(spark, [(0, 1, 1)]), 0, {})

    # simulate "crash after flip, before GC": strays the GC would have
    # removed are still on disk next to the committed snapshot
    os.makedirs(os.path.join(path, "v_stale_prev"))
    open(os.path.join(path, ".ptr_orphan"), "w").write("junk")

    got, bid, _ = DurableTable(spark, path).load()
    assert bid == 0 and _sorted(got) == [(0, 1, 1)]

    # the next successful commit collects the strays
    store.save(_cells(spark, [(0, 1, 3)]), 1, {})
    assert sorted(os.listdir(path)) == ["CURRENT", "v1"]


def test_sketch_empty_state_representable(spark, tmp_path):
    """The pointer records the bid, so a 0-row committed state at batch N
    does not read as 'no state'."""
    path = str(tmp_path / "state")
    store = DurableTable(spark, path)
    empty = _cells(spark, []).where(F.lit(False))
    store.save(empty, 3, {})
    got, bid, _ = DurableTable(spark, path).load()
    assert bid == 3
    assert got is not None and got.count() == 0
    assert got.columns == ["j", "b", "cnt"]


# --- DurableTable: MERGE table ---------------------------------------------


def _upsert(store, key, order_col):
    return durable_handler(
        store, partial(sinks.upsert_keep_last, key=key, order_col=order_col), None
    )


def test_merge_table_crash_between_write_and_flip(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "tbl")
    t = DurableTable(spark, path)
    b0 = spark.createDataFrame([("a", 1, "x")], "k string, seq long, v string")
    _upsert(t, "k", "seq")(b0)

    monkeypatch.setattr(SnapshotDir, "commit", _boom)
    b1 = spark.createDataFrame([("a", 2, "y")], "k string, seq long, v string")
    with pytest.raises(_CrashMidSwap):
        _upsert(t, "k", "seq")(b1)
    monkeypatch.undo()

    # restart: the table still serves the last COMMITTED merge
    fresh = DurableTable(spark, path)
    assert _sorted(fresh.read()) == [("a", 1, "x")]

    # the redelivered batch merges idempotently and commits; the retry
    # overwrites the crashed attempt's v1 staging and GCs the v0 snapshot
    _upsert(fresh, "k", "seq")(b1)
    assert _sorted(fresh.read()) == [("a", 2, "y")]
    assert sorted(os.listdir(path)) == ["CURRENT", "v1"]


def test_durable_handler_refuses_a_commit_between_its_load_and_save(spark, tmp_path):
    """The single-writer check spans the whole fold: when a second writer
    commits after the gate's load and before its save, the save raises
    and the second writer's commit stands, rows and record alike. The
    fold stages either the tree the other writer committed (same batch
    id) or a later one."""
    schema = "k string, seq long, v string"
    theirs = spark.createDataFrame([("b", 1, "theirs")], schema)
    mine = spark.createDataFrame([("a", 1, "mine")], schema)
    for bid in (0, 5):
        path = str(tmp_path / f"tbl{bid}")

        def racing_update(standing, batch):
            DurableTable(spark, path).save(theirs, 0, {"other": 0})
            return sinks.upsert_keep_last(standing, batch, "k", "seq")

        with pytest.raises(RuntimeError, match="single-writer"):
            durable_handler(DurableTable(spark, path), racing_update, None)(mine, bid)
        got, last, horizons = DurableTable(spark, path).load()
        assert _sorted(got) == [("b", 1, "theirs")], bid
        assert (last, horizons) == (0, {"other": 0}), bid
        assert sorted(os.listdir(path)) == ["CURRENT", "v0"], bid


# --- protocol fuzz with the mid-swap crash action ---------------------------


class _CrashyStore(DurableTable):
    """Save that sometimes writes the staging snapshot and dies before the
    pointer flip — the window in which no commit has happened yet."""

    def __init__(self, spark, path, rng, p_crash=0.3):
        super().__init__(spark, path)
        self._rng = rng
        self._p = p_crash

    def save(self, frame, bid, horizons):
        if self._rng.random() < self._p:
            frame.write.mode("overwrite").parquet(self._snap.staging(int(bid)))
            raise _CrashMidSwap(f"mid-swap crash at bid {bid}")
        super().save(frame, bid, horizons)


def test_freq_sketch_durable_fuzz_with_midswap_crashes(spark, tmp_path):
    """Random interleavings of {fold, redeliver, restart, CRASH MID-SWAP}
    must all drain to the exact batch cell table."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T

    batches = [
        spark.createDataFrame(
            [(j, f"tok{j % 5} x{j % 3} common") for j in range(i * 10, i * 10 + 10)],
            "doc_id long, text string",
        ).localCheckpoint()
        for i in range(4)
    ]
    d, w = 2, 16
    update = partial(C.freq_sketch_update, d=d, w=w)
    alldocs = batches[0]
    for b in batches[1:]:
        alldocs = alldocs.unionByName(b)
    toks = alldocs.select(F.explode(T.tokens_col("text")).alias("token"))
    want = sorted(map(tuple, T._cms_cells(toks, d, w).collect()))

    for seed in range(5):
        rng = random.Random(1000 + seed)
        store = _CrashyStore(spark, str(tmp_path / f"crashy{seed}"), rng)
        h = durable_handler(store, update, lambda bid, cells: None)
        nxt = 0
        while nxt < len(batches):
            roll = rng.random()
            try:
                if roll < 0.2 and nxt > 0:
                    h(batches[nxt - 1], nxt - 1)  # redelivery, committed
                elif roll < 0.4:
                    # plain crash+restart (handler and in-memory state lost)
                    h = durable_handler(store, update, lambda bid, cells: None)
                    if nxt > 0 and rng.random() < 0.7:
                        h(batches[nxt - 1], nxt - 1)
                else:
                    h(batches[nxt], nxt)
                    nxt += 1
            except _CrashMidSwap:
                # the failed batch never committed: Structured Streaming
                # fails the query, restart re-folds it from committed state
                h = durable_handler(store, update, lambda bid, cells: None)
        cells, last_bid, _ = store.load()
        assert last_bid == len(batches) - 1, f"seed {seed}"
        assert sorted(map(tuple, cells.collect())) == want, f"seed {seed}"


# --- merge-table protocol fuzz with the mid-swap crash action ---------------


def test_merge_table_fuzz_random_schedules_with_crashes(spark, tmp_path):
    """Seeded random interleavings of {upsert next batch, redeliver the
    previous batch, crash mid-swap + reconstruct} must drain every
    schedule to the keep-last-by-seq merge of all batches — the
    value-idempotent MERGE contract under the full at-least-once +
    crash-recovery generality.

    POINTER CORRUPTION is injected before a random op as well: the merge
    must raise PointerCorruptionError (never serve a silently-empty
    table), the committed snapshot dir survives untouched, and after the
    operator restores the saved pointer the schedule drains to the same
    merge."""
    from boletia_kubernetes_kafka_mongodb_spark.streaming import _snapshot
    rows = [(f"k{j % 7}", j, f"v{j}") for j in range(24)]
    batches = [
        spark.createDataFrame(rows[i : i + 6], "k string, seq long, v string")
        for i in range(0, 24, 6)
    ]
    # expected: highest-seq row per key across all batches
    want = {}
    for k, seq, v in rows:
        if k not in want or seq > want[k][1]:
            want[k] = (k, seq, v)
    want = sorted(want.values())

    corrupt_total = 0
    for seed in range(5):
        rng = random.Random(2000 + seed)
        path = str(tmp_path / f"mt{seed}")
        t = _CrashyStore(spark, path, rng)
        upsert = _upsert(t, "k", "seq")
        nxt = 0
        corrupt_fired = 0
        while nxt < len(batches):
            roll = rng.random()
            corrupt, saved = rng.random() < 0.2, None
            if corrupt:
                saved = _snapshot.read_pointer(path)
                if saved[0] is None:
                    corrupt = False  # nothing committed yet to corrupt
                else:
                    with open(os.path.join(path, _snapshot.POINTER), "w") as f:
                        f.write("fuzz-garbage")
            try:
                if roll < 0.25 and nxt > 0:
                    upsert(batches[nxt - 1])  # redelivery: re-merged
                else:
                    upsert(batches[nxt])
                    nxt += 1
            except _snapshot.PointerCorruptionError:
                assert corrupt, f"seed {seed}: corruption raise w/o injection"
                # committed snapshot untouched; heal and let the schedule
                # retry the same batch
                assert os.path.isdir(os.path.join(path, saved[0]))
                _snapshot.write_pointer(path, saved[0], saved[1])
                corrupt_fired += 1
            except _CrashMidSwap:
                # the failed merge never committed; reconstruct (restart)
                # and let the stream redeliver — nxt not advanced past an
                # uncommitted batch because the exception aborts the try
                if roll >= 0.25:
                    pass  # the in-flight batch will be retried
                t = _CrashyStore(spark, path, rng)
                upsert = _upsert(t, "k", "seq")
        got = sorted(map(tuple, t.read().collect()))
        assert got == want, f"seed {seed}"
        corrupt_total += corrupt_fired
    assert corrupt_total > 0, "corruption flavor never fired across seeds"


def test_heavy_hitters_handler_state_consistent_after_crashed_save(
    spark, tmp_path, monkeypatch
):
    """A save that dies mid-swap must leave the handler's in-memory MG
    state consistent with the store — the fold is adopted only after the
    durable commit, so the recovering retry folds the batch exactly
    once (no double count even if the same handler object survives)."""
    b0 = spark.createDataFrame(
        [(0, "alpha beta alpha"), (1, "alpha gamma")], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(2, "beta beta alpha"), (3, "delta")], "doc_id long, text string"
    )
    store = DurableTable(spark, str(tmp_path / "hh"))
    emitted = []

    def emit(bid, st):
        mg = C.heavy_hitters_state_load(st)
        emitted.append((bid, mg["n_total"], mg["counters"]))

    h = durable_handler(store, partial(C.heavy_hitters_update, k=8), emit)
    h(b0, 0)
    n0, counters0 = emitted[-1][1], dict(emitted[-1][2])

    monkeypatch.setattr(SnapshotDir, "commit", _boom)
    with pytest.raises(_CrashMidSwap):
        h(b1, 1)
    monkeypatch.undo()

    # the handler's state is STILL batch-0's (the fold was not adopted)
    h(b0, 0)  # replay of the committed batch: served from state, no fold
    assert emitted[-1][1] == n0 and dict(emitted[-1][2]) == counters0

    # retry of batch 1 (same handler surviving, or a restart — same math)
    h(b1, 1)
    bid, n1, counters1 = emitted[-1]
    assert bid == 1 and n1 == n0 + 4  # batch 1 folded exactly once
    assert counters1.get("beta", 0) <= 3 and counters1.get("alpha", 0) <= 4

    # and the durable store agrees with the handler
    df, last, _ = DurableTable(spark, str(tmp_path / "hh")).load()
    assert last == 1
    assert C.heavy_hitters_state_load(df)["n_total"] == n1


# --- pure-protocol property fuzz (no Spark) ---------------------------------


def test_snapshot_dir_protocol_properties(tmp_path):
    """Hypothesis-style property over the raw pointer protocol (no Spark,
    plain files as snapshot payloads): under any interleaving of
    {stage a write, commit it, crash before commit}, current() always
    returns the LAST COMMITTED (name, bid) with its directory present,
    and after any commit the store holds exactly the pointer + the
    committed dir (GC total)."""
    import os
    import random

    for seed in range(20):
        rng = random.Random(3000 + seed)
        root = str(tmp_path / f"p{seed}")
        snap = SnapshotDir(root)
        committed = (None, -1)
        bid = 0
        for _ in range(rng.randint(3, 12)):
            action = rng.random()
            sub = snap.staging(bid)
            os.makedirs(sub, exist_ok=True)
            with open(os.path.join(sub, "payload"), "w") as f:
                f.write(f"bid={bid}")
            if action < 0.35:
                pass  # crash before commit: staging dir abandoned
            else:
                snap.commit(os.path.basename(sub), bid)
                committed = (os.path.basename(sub), bid)
            # invariant: current() is the last committed pair, dir intact
            cur_dir, cur_bid = snap.current()
            if committed[0] is None:
                assert (cur_dir, cur_bid) == (None, -1), seed
            else:
                assert cur_bid == committed[1], seed
                assert os.path.basename(cur_dir) == committed[0], seed
                with open(os.path.join(cur_dir, "payload")) as f:
                    assert f.read() == f"bid={committed[1]}", seed
                if action >= 0.35:
                    # a successful commit leaves pointer + committed dir ONLY
                    assert sorted(os.listdir(root)) == sorted(
                        ["CURRENT", committed[0]]
                    ), seed
            bid += 1


def test_write_pointer_fsyncs_the_directory(tmp_path, monkeypatch):
    """Round-10 ADVICE (power loss, not just process crash): after the
    os.replace, write_pointer must fsync the STORE DIRECTORY before
    commit()'s GC can run — otherwise a power loss may persist the
    predecessor's rmtree while the rename is still unflushed, leaving
    CURRENT naming a deleted snapshot. Pin the ordering: one fsync on a
    directory fd strictly after the replace."""
    import os

    from boletia_kubernetes_kafka_mongodb_spark.streaming import _snapshot

    events = []
    real_replace, real_fsync = os.replace, os.fsync

    def rec_replace(src, dst):
        events.append(("replace", dst))
        real_replace(src, dst)

    def rec_fsync(fd):
        st = os.fstat(fd)
        import stat

        events.append(("fsync_dir" if stat.S_ISDIR(st.st_mode) else "fsync_file",))
        real_fsync(fd)

    monkeypatch.setattr(os, "replace", rec_replace)
    monkeypatch.setattr(os, "fsync", rec_fsync)
    _snapshot.write_pointer(str(tmp_path), "v0", 0)

    kinds = [e[0] for e in events]
    assert kinds == ["fsync_file", "replace", "fsync_dir"]
    assert _snapshot.read_pointer(str(tmp_path)) == ("v0", 0)


def test_commit_fsyncs_snapshot_tree_before_pointer_flip(tmp_path, monkeypatch):
    """Round-11 ADVICE (medium): the dir fsync in write_pointer only makes
    the RENAME durable — the parquet data files of the tree the new
    pointer names are written by Spark, which never fsyncs, so a power
    loss could persist the pointer while the snapshot's data is still
    unflushed. Pin that SnapshotDir.commit flushes the named tree
    (fsync_tree) strictly BEFORE the pointer flip."""
    import os

    from boletia_kubernetes_kafka_mongodb_spark.streaming import _snapshot

    store = _snapshot.SnapshotDir(str(tmp_path))
    staged = store.staging(0)
    os.makedirs(staged)
    with open(os.path.join(staged, "part-0.parquet"), "wb") as f:
        f.write(b"data")

    events = []
    real_tree, real_ptr = _snapshot.fsync_tree, _snapshot.write_pointer
    monkeypatch.setattr(
        _snapshot,
        "fsync_tree",
        lambda p: (events.append(("tree", p)), real_tree(p))[1],
    )
    monkeypatch.setattr(
        _snapshot,
        "write_pointer",
        lambda d, n, b: (events.append(("ptr", n)), real_ptr(d, n, b))[1],
    )
    store.commit("v0", 0)

    assert [e[0] for e in events] == ["tree", "ptr"]
    assert events[0][1] == staged
    assert _snapshot.read_pointer(str(tmp_path)) == ("v0", 0)


def test_fsync_tree_flushes_every_file_and_directory(tmp_path, monkeypatch):
    """fsync_tree must fsync each data file and each directory of the tree
    (bottom-up). Error classes (round-12 ADVICE, medium): the
    NOT-SUPPORTED class (ENOTSUP/EINVAL/...) is swallowed — best-effort
    on filesystems that cannot fsync — but real I/O failures
    (EIO/ENOSPC/EDQUOT) PROPAGATE: on Linux a failed fsync clears the
    kernel page-error state, so the tree may have lost writes and the
    commit must abort before the pointer flip."""
    import errno
    import os
    import stat

    from boletia_kubernetes_kafka_mongodb_spark.streaming import _snapshot

    root = tmp_path / "base_v0"
    (root / "ivf_list=0").mkdir(parents=True)
    (root / "ivf_list=1").mkdir()
    (root / "ivf_list=0" / "part-0.parquet").write_bytes(b"a")
    (root / "ivf_list=1" / "part-0.parquet").write_bytes(b"b")
    (root / "_SUCCESS").write_bytes(b"")

    files, dirs = [], []
    real_fsync = os.fsync

    def rec_fsync(fd):
        (dirs if stat.S_ISDIR(os.fstat(fd).st_mode) else files).append(fd)
        real_fsync(fd)

    monkeypatch.setattr(os, "fsync", rec_fsync)
    _snapshot.fsync_tree(str(root))
    assert len(files) == 3 and len(dirs) == 3  # 2 parts + _SUCCESS; 2 lists + root

    # not-supported class: must not propagate (no-fsync filesystem)
    monkeypatch.setattr(
        os,
        "fsync",
        lambda fd: (_ for _ in ()).throw(OSError(errno.ENOTSUP, "no fsync here")),
    )
    _snapshot.fsync_tree(str(root))  # must not raise

    # fatal class: EIO means possibly-dropped pages — must propagate
    monkeypatch.setattr(
        os,
        "fsync",
        lambda fd: (_ for _ in ()).throw(OSError(errno.EIO, "I/O error")),
    )
    with pytest.raises(OSError):
        _snapshot.fsync_tree(str(root))


def test_commit_aborts_before_pointer_flip_on_fatal_fsync(tmp_path, monkeypatch):
    """Round-12 ADVICE (medium), end-to-end: when fsync of the staged tree
    fails with a FATAL errno (EIO/ENOSPC/EDQUOT), SnapshotDir.commit must
    raise BEFORE write_pointer runs — the previously committed snapshot
    stays current and nothing is GC'd. A durable pointer may only ever
    name a durably flushed tree."""
    import errno
    import os

    from boletia_kubernetes_kafka_mongodb_spark.streaming import _snapshot

    store = _snapshot.SnapshotDir(str(tmp_path))
    v0 = store.staging(0)
    os.makedirs(v0)
    with open(os.path.join(v0, "payload"), "w") as f:
        f.write("bid=0")
    store.commit("v0", 0)
    assert _snapshot.read_pointer(str(tmp_path)) == ("v0", 0)

    v1 = store.staging(1)
    os.makedirs(v1)
    with open(os.path.join(v1, "payload"), "w") as f:
        f.write("bid=1")

    for bad in (errno.EIO, errno.ENOSPC, errno.EDQUOT):
        monkeypatch.setattr(
            os, "fsync", lambda fd, _e=bad: (_ for _ in ()).throw(OSError(_e, "boom"))
        )
        with pytest.raises(OSError):
            store.commit("v1", 1)
        monkeypatch.undo()
        # the flip never happened; v0 is still current AND still on disk
        assert _snapshot.read_pointer(str(tmp_path)) == ("v0", 0)
        with open(os.path.join(str(tmp_path), "v0", "payload")) as f:
            assert f.read() == "bid=0"

    # with fsync healthy again the same staged tree commits cleanly
    store.commit("v1", 1)
    assert _snapshot.read_pointer(str(tmp_path)) == ("v1", 1)


def test_commit_refuses_horizon_regression(tmp_path):
    """Round-13: SnapshotDir.commit must refuse a flip that would regress
    the batch horizon — the signature of a concurrent writer having
    committed since this writer read its state. Flipping would un-commit
    that batch AND the GC sweep would delete its snapshot dir, so the
    commit raises and the concurrent commit survives intact."""
    import os

    from boletia_kubernetes_kafka_mongodb_spark.streaming import _snapshot

    store = _snapshot.SnapshotDir(str(tmp_path))
    for bid in (0, 3):
        sub = store.staging(bid)
        os.makedirs(sub)
        with open(os.path.join(sub, "payload"), "w") as f:
            f.write(f"bid={bid}")
        store.commit(f"v{bid}", bid)
    assert _snapshot.read_pointer(str(tmp_path)) == ("v3", 3)

    # a stale writer (read the store before bid=3 landed) tries bid=1
    stale = store.staging(1)
    os.makedirs(stale)
    with open(os.path.join(stale, "payload"), "w") as f:
        f.write("bid=1")
    with pytest.raises(RuntimeError, match="single-writer contract"):
        store.commit("v1", 1)

    # the concurrent commit survives: pointer AND snapshot dir intact
    assert _snapshot.read_pointer(str(tmp_path)) == ("v3", 3)
    with open(os.path.join(str(tmp_path), "v3", "payload")) as f:
        assert f.read() == "bid=3"

    # equal-bid re-commit stays allowed (idempotent re-flip, no loss)
    store.commit("v3", 3)
    assert _snapshot.read_pointer(str(tmp_path)) == ("v3", 3)

    # and the horizon keeps moving forward normally afterwards
    nxt = store.staging(4)
    os.makedirs(nxt)
    with open(os.path.join(nxt, "payload"), "w") as f:
        f.write("bid=4")
    store.commit("v4", 4)
    assert _snapshot.read_pointer(str(tmp_path)) == ("v4", 4)


class _ListsFrame:
    """Stands in for an assigned frame in the no-Spark index tests: its
    partitioned parquet write leaves one data file under one list, or,
    for a 0-row frame, only the ``_SUCCESS`` marker."""

    def __init__(self, rows=True):
        self.rows = rows

    @property
    def write(self):
        return self

    def partitionBy(self, *cols):
        return self

    def parquet(self, path):
        os.makedirs(os.path.join(path, "ivf_list=0"))
        name = "part-0.parquet" if self.rows else "_SUCCESS"
        open(os.path.join(path, "ivf_list=0", name), "wb").close()


@pytest.mark.parametrize("rows", [True, False], ids=["base", "empty_base"])
def test_index_rebase_crash_before_collection_serves_rows_once(
    tmp_path, monkeypatch, rows
):
    """A rebase keeps the horizon, so between its pointer flip and the
    collection the deltas it absorbed are still on disk. A process that
    dies in that window must not serve them next to the new base, which
    already holds their rows (or, for a 0-row rebase, purged them): a
    fresh index reads only the new base, and the next commit collects the
    leftovers."""
    from boletia_kubernetes_kafka_mongodb_spark.sources import layouts

    path = str(tmp_path / "idx")
    idx = layouts.IncrementalIvfIndex(None, path)
    idx.init_base(_ListsFrame())
    assert idx.append(_ListsFrame(), 0)

    def die(self, entry, name, bid):
        raise _CrashMidSwap("crash after pointer flip, before collection")

    monkeypatch.setattr(layouts._IndexStore, "_keeps", die)
    with pytest.raises(_CrashMidSwap):
        idx.rebase(_ListsFrame(rows))
    monkeypatch.undo()

    fresh = layouts.IncrementalIvfIndex(None, path)
    base, last = fresh.current()
    assert last == 0 and (base is not None) == rows
    assert [os.path.basename(d) for d in fresh._committed_dirs()] == (
        [base] if rows else []
    )

    assert fresh.append(_ListsFrame(), 1)
    assert sorted(os.listdir(path)) == ["CURRENT"] + ([base] if rows else []) + [
        "delta_v1"
    ]


def test_corrupt_pointer_raises_instead_of_silently_resetting(tmp_path):
    """Round-13: a pointer file that EXISTS but is unparseable, or that
    names a snapshot dir not on disk, proves out-of-band damage — it must
    raise, not read as "never committed". The silent reset was worse than
    a crash: the next successful commit's GC would delete the real
    predecessor snapshot, converting recoverable damage into loss."""
    import shutil

    from boletia_kubernetes_kafka_mongodb_spark.streaming import _snapshot

    store_path = str(tmp_path / "store")
    store = _snapshot.SnapshotDir(store_path)

    # the two legitimate "never committed" shapes stay (None, -1)
    assert store.current() == (None, -1)           # store dir absent
    os.makedirs(store_path)
    assert store.current() == (None, -1)           # store dir empty
    flat = tmp_path / "flatfile"
    flat.write_text("not a directory")
    assert _snapshot.read_pointer(str(flat)) == (None, -1)  # ENOTDIR

    # one real committed snapshot
    sub = store.staging(1)
    os.makedirs(sub)
    with open(os.path.join(sub, "payload"), "w") as f:
        f.write("bid=1")
    store.commit("v1", 1)
    assert store.current()[1] == 1

    # every content-corruption flavor raises from BOTH entry points
    ptr = os.path.join(store_path, _snapshot.POINTER)
    for bad in ("", "no-colon-no-bid\n", "v1:notanint\n", "\n"):
        with open(ptr, "w") as f:
            f.write(bad)
        with pytest.raises(_snapshot.PointerCorruptionError):
            _snapshot.read_pointer(store_path)
        with pytest.raises(_snapshot.PointerCorruptionError):
            store.current()

    # heal the pointer, then delete the NAMED tree out of band
    _snapshot.write_pointer(store_path, "v1", 1)
    assert store.current()[1] == 1
    shutil.rmtree(os.path.join(store_path, "v1"))
    with pytest.raises(_snapshot.PointerCorruptionError):
        store.current()

    # commit's own pre-flip horizon read refuses to run over corruption
    with open(ptr, "w") as f:
        f.write("garbage")
    nxt = store.staging(2)
    os.makedirs(nxt)
    with open(os.path.join(nxt, "payload"), "w") as f:
        f.write("bid=2")
    with pytest.raises(_snapshot.PointerCorruptionError):
        store.commit("v2", 2)
    # the corrupt pointer was NOT GC'd or overwritten — evidence preserved
    with open(ptr) as f:
        assert f.read() == "garbage"


def test_corrupt_pointer_surfaces_through_durable_stores(spark, tmp_path):
    """The durable store built on SnapshotDir must surface pointer
    corruption loudly instead of reading the store as absent."""
    from boletia_kubernetes_kafka_mongodb_spark.streaming import _snapshot

    path = str(tmp_path / "tbl")
    tbl = DurableTable(spark, path)
    upsert = _upsert(tbl, "j", "b")
    upsert(_cells(spark, [(1, 1, 10)]))
    assert _sorted(tbl.read()) == [(1, 1, 10)]

    with open(os.path.join(path, _snapshot.POINTER), "w") as f:
        f.write("torn")
    with pytest.raises(_snapshot.PointerCorruptionError):
        tbl.read()
    with pytest.raises(_snapshot.PointerCorruptionError):
        upsert(_cells(spark, [(2, 2, 20)]))

    # heal → the committed rows are still there, untouched by the episode
    vdirs = [e for e in os.listdir(path) if e.startswith("v")]
    assert len(vdirs) == 1
    _snapshot.write_pointer(path, vdirs[0], 1)
    assert _sorted(tbl.read()) == [(1, 1, 10)]


def test_pointer_codec_roundtrip_property():
    """Property: write_pointer → read_pointer is the identity for every
    protocol-shaped (name, bid) pair — including the index store's "-"
    no-base sentinel, names containing ':' (rsplit must split on the
    LAST colon), and the full signed-bid range. Guards the parser
    against future format edits now that a parse failure RAISES."""
    import tempfile

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from boletia_kubernetes_kafka_mongodb_spark.streaming import _snapshot

    name_st = st.one_of(
        st.just("-"),  # IncrementalIvfIndex._NO_BASE sentinel
        st.from_regex(r"(v|base_v|delta_v)[0-9]{1,9}", fullmatch=True),
        st.text(
            alphabet="abcdefghijklmnopqrstuvwxyz0123456789_.:-",
            min_size=1,
            max_size=40,
        ),
    )

    with tempfile.TemporaryDirectory() as d:

        @given(name=name_st, bid=st.integers(min_value=-1, max_value=2**62))
        @settings(max_examples=200, deadline=None)
        def roundtrip(name, bid):
            _snapshot.write_pointer(d, name, bid)
            assert _snapshot.read_pointer(d) == (name, bid)

        roundtrip()
