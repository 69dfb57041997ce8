"""The cache (`cache.py`): registry semantics, the missing-dataset rule,
content keying against in-place fixture rewrites, and the on-disk
artifact store's commit, reuse and first-build lock."""

from __future__ import annotations

import os
import shutil
from pathlib import Path
from types import SimpleNamespace
from unittest import mock

import pytest

from boletia_kubernetes_kafka_mongodb_spark import cache
from tests.conftest import SF_SMOKE, compare_with_oracle


@pytest.fixture
def fresh_cache(monkeypatch):
    """An empty private registry with a small bound; the session's real
    entries are untouched."""
    from collections import OrderedDict

    monkeypatch.setattr(cache, "_CACHE", OrderedDict())
    monkeypatch.setattr(cache, "MAX_ENTRIES", 3)
    return cache._CACHE


def _fake_spark(app="app-1"):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


def _dataset(root, name, *tables):
    d = root / name
    d.mkdir()
    for t in tables:
        (d / f"{t}.parquet").write_bytes(b"x" * 8)
    return str(d)


def test_hit_returns_same_object(fresh_cache, tmp_path):
    sf = _dataset(tmp_path, "a", "documents")
    spark = _fake_spark()
    builds = []

    def build():
        builds.append(1)
        return object()

    first = cache.cached(spark, sf, ("documents",), "t", build)
    assert cache.cached(spark, sf, ("documents",), "t", build) is first
    assert len(builds) == 1
    # tag and application are part of the key
    assert cache.cached(spark, sf, ("documents",), "u", build) is not first
    assert cache.cached(_fake_spark("app-2"), sf, ("documents",), "t", build) is not first


def test_rewrite_signs_a_fresh_entry(fresh_cache, tmp_path):
    sf = _dataset(tmp_path, "a", "documents")
    spark = _fake_spark()
    first = cache.cached(spark, sf, ("documents",), "t", object)
    (tmp_path / "a" / "documents.parquet").write_bytes(b"y" * 16)
    assert cache.cached(spark, sf, ("documents",), "t", object) is not first


def test_bound_evicts_least_recently_used(fresh_cache, tmp_path):
    sf = _dataset(tmp_path, "a", "documents")
    spark = _fake_spark()
    vals = {t: cache.cached(spark, sf, ("documents",), t, object) for t in "abc"}
    # touch "a": "b" becomes the least recently used entry
    assert cache.cached(spark, sf, ("documents",), "a", object) is vals["a"]
    cache.cached(spark, sf, ("documents",), "d", object)
    assert len(fresh_cache) == cache.MAX_ENTRIES
    assert [k[0] for k in fresh_cache] == ["c", "a", "d"]
    assert cache.cached(spark, sf, ("documents",), "b", object) is not vals["b"]


def test_clear_path_drops_only_that_paths_entries(fresh_cache, tmp_path, monkeypatch):
    monkeypatch.setattr(cache, "MAX_ENTRIES", 10)
    spark = _fake_spark()
    a = _dataset(tmp_path, "a", "documents", "lineitem")
    b = _dataset(tmp_path, "b", "documents")
    layout = str(tmp_path / "layout")
    va = cache.cached(spark, a, ("documents",), "t", object)
    vl = cache.cached(spark, a, ("lineitem",), "t", object)
    vb = cache.cached(spark, b, ("documents",), "t", object)
    vlay = cache.cached(spark, layout, (), "layout", object)

    cache.clear(layout)
    assert cache.cached(spark, layout, (), "layout", object) is not vlay
    assert cache.cached(spark, a, ("documents",), "t", object) is va

    cache.clear(a)
    assert cache.cached(spark, a, ("documents",), "t", object) is not va
    assert cache.cached(spark, a, ("lineitem",), "t", object) is not vl
    assert cache.cached(spark, b, ("documents",), "t", object) is vb

    cache.clear()
    assert not fresh_cache


def test_concurrent_lookups_keep_the_bound(fresh_cache, tmp_path):
    """Threads hitting and evicting the same small registry: no lookup
    fails and the bound holds."""
    import sys
    import threading

    sf = _dataset(tmp_path, "a", "documents")
    spark = _fake_spark()
    errors = []

    def worker(seed):
        try:
            for i in range(2000):
                tag = str((i * seed) % 5)
                assert cache.cached(spark, sf, ("documents",), tag, object) is not None
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in (1, 2, 3, 7, 11, 13)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(fresh_cache) <= cache.MAX_ENTRIES


def test_missing_dataset_builds_uncached(fresh_cache, tmp_path):
    spark = _fake_spark()
    missing = str(tmp_path / "nowhere")
    first = cache.cached(spark, missing, ("documents",), "t", object)
    assert cache.cached(spark, missing, ("documents",), "t", object) is not first
    assert not fresh_cache
    with pytest.raises(FileNotFoundError):
        cache.signature(missing, "documents")


@pytest.fixture
def artifact_root(monkeypatch, tmp_path):
    """Artifact stores under a private temp dir."""
    import tempfile

    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    return root


def _writer(calls, payload="rows"):
    def write(path):
        calls.append(path)
        os.makedirs(path)
        (Path(path) / "part-0").write_text(payload)

    return write


def test_artifact_second_call_does_not_write(artifact_root, tmp_path):
    sf = _dataset(tmp_path, "a", "documents")
    calls = []
    tree = cache.artifact(_fake_spark(), sf, ("documents",), "t_v1", _writer(calls))
    assert (Path(tree) / "part-0").read_text() == "rows"
    again = cache.artifact(_fake_spark("app-2"), sf, ("documents",), "t_v1", _writer(calls))
    assert again == tree and len(calls) == 1
    # the tree is the one the store's pointer names
    from boletia_kubernetes_kafka_mongodb_spark.streaming._snapshot import SnapshotDir

    assert SnapshotDir(os.path.dirname(tree)).current()[0] == tree
    # a new tag is a new store
    assert cache.artifact(_fake_spark(), sf, ("documents",), "t_v2", _writer(calls)) != tree


def test_artifact_failed_write_commits_nothing(artifact_root, tmp_path):
    sf = _dataset(tmp_path, "a", "documents")

    def broken(path):
        os.makedirs(path)
        (Path(path) / "part-0").write_text("half")
        raise RuntimeError("writer died")

    with pytest.raises(RuntimeError):
        cache.artifact(_fake_spark(), sf, ("documents",), "t_v1", broken)
    (store,) = [p for p in artifact_root.iterdir() if p.is_dir()]
    assert not (store / "CURRENT").exists()

    calls = []
    tree = cache.artifact(_fake_spark(), sf, ("documents",), "t_v1", _writer(calls))
    assert len(calls) == 1 and (Path(tree) / "part-0").read_text() == "rows"


def test_artifact_collects_flat_store_left_at_its_root(artifact_root, tmp_path):
    """A store written without a pointer (the old flat format: files plus
    ``_SUCCESS``) reads as not built; the first commit removes it."""
    sf = _dataset(tmp_path, "a", "documents")
    flat = artifact_root / f"boletia_t_v1_{cache.signature(sf, 'documents')}"
    (flat / "ivf_list=0").mkdir(parents=True)
    (flat / "_SUCCESS").write_text("")
    calls = []
    tree = cache.artifact(_fake_spark(), sf, ("documents",), "t_v1", _writer(calls))
    assert len(calls) == 1
    assert sorted(os.listdir(flat)) == ["CURRENT", os.path.basename(tree)]


def test_artifact_rewritten_table_gets_a_fresh_tree(artifact_root, tmp_path):
    sf = _dataset(tmp_path, "a", "documents")
    calls = []
    first = cache.artifact(_fake_spark(), sf, ("documents",), "t_v1", _writer(calls, "old"))
    (tmp_path / "a" / "documents.parquet").write_bytes(b"y" * 16)
    second = cache.artifact(_fake_spark(), sf, ("documents",), "t_v1", _writer(calls, "new"))
    assert second != first and len(calls) == 2
    assert (Path(second) / "part-0").read_text() == "new"


def test_artifact_racing_first_builds_write_once(artifact_root, tmp_path):
    """More threads than cores race one first build: ``write`` runs once
    and every thread reads the same committed tree."""
    import sys
    import threading
    import time

    sf = _dataset(tmp_path, "a", "documents")
    calls = []
    write = _writer(calls)

    def slow_write(path):
        time.sleep(0.2)  # hold the lock while the other threads arrive
        write(path)

    n = 8
    got, errors = [], []
    start = threading.Barrier(n)

    def worker():
        try:
            start.wait()
            got.append(cache.artifact(_fake_spark(), sf, ("documents",), "t_v1", slow_write))
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and len(calls) == 1
    assert len(got) == n and len(set(got)) == 1
    assert (Path(got[0]) / "part-0").read_text() == "rows"


def _store_of(tree):
    return Path(os.path.dirname(tree))


def test_artifact_build_collects_stores_of_deleted_dataset(artifact_root, tmp_path):
    """A build deletes the stores, of any tag, whose dataset is gone, and
    flat stores of older code; other entries stay."""
    a = _dataset(tmp_path, "a", "documents")
    gone = [
        _store_of(cache.artifact(_fake_spark(), a, ("documents",), tag, _writer([])))
        for tag in ("t_v1", "u_v1")
    ]
    assert all(Path(f"{g}.lock").exists() for g in gone)
    flat = artifact_root / "boletia_t_v1_0123456789ab"  # no pointer, no lock
    (flat / "ivf_list=0").mkdir(parents=True)
    other = artifact_root / "boletia_incidx_0123456789ab"  # not a store name
    other.mkdir()
    # committed by older code, which recorded no sources: kept
    old_code = _store_of(cache.artifact(_fake_spark(), a, ("documents",), "v_v1", _writer([])))
    Path(f"{old_code}.lock").write_text("")
    shutil.rmtree(a)
    b = _dataset(tmp_path, "b", "documents")
    store_b = _store_of(cache.artifact(_fake_spark(), b, ("documents",), "t_v1", _writer([])))
    assert sorted(p.name for p in artifact_root.iterdir()) == sorted(
        [store_b.name, f"{store_b.name}.lock", other.name,
         old_code.name, f"{old_code.name}.lock"]
    )


def test_artifact_build_keeps_live_and_locked_siblings(artifact_root, tmp_path):
    import fcntl

    a = _dataset(tmp_path, "a", "documents")
    live = _store_of(cache.artifact(_fake_spark(), a, ("documents",), "t_v1", _writer([])))
    other_tag = _store_of(cache.artifact(_fake_spark(), a, ("documents",), "u_v1", _writer([])))
    gone = _dataset(tmp_path, "gone", "documents")
    held = _store_of(cache.artifact(_fake_spark(), gone, ("documents",), "t_v1", _writer([])))
    shutil.rmtree(gone)
    b = _dataset(tmp_path, "b", "documents")
    with open(f"{held}.lock", "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # a build of that store in progress
        cache.artifact(_fake_spark(), b, ("documents",), "t_v1", _writer([]))
    assert live.exists() and other_tag.exists() and held.exists()
    # released, the next build of the tag collects it
    c = _dataset(tmp_path, "c", "documents")
    cache.artifact(_fake_spark(), c, ("documents",), "t_v1", _writer([]))
    assert live.exists() and not held.exists()


def test_artifact_build_collects_store_of_rewritten_source(artifact_root, tmp_path):
    a = _dataset(tmp_path, "a", "documents")
    old = _store_of(cache.artifact(_fake_spark(), a, ("documents",), "t_v1", _writer([])))
    (tmp_path / "a" / "documents.parquet").write_bytes(b"y" * 16)
    new = _store_of(cache.artifact(_fake_spark(), a, ("documents",), "t_v1", _writer([])))
    assert new != old and new.exists()
    assert not old.exists() and not Path(f"{old}.lock").exists()


@pytest.mark.parametrize("left", ["empty", "missing"])
def test_artifact_hit_records_a_recordless_store(artifact_root, tmp_path, left):
    """A committed store whose lock file is empty or gone (as code that
    kept no sources record left it) gets its record on its first hit, and
    a later build collects it once its dataset is deleted."""
    import json

    a = _dataset(tmp_path, "a", "documents")
    calls = []
    old = _store_of(cache.artifact(_fake_spark(), a, ("documents",), "t_v1", _writer(calls)))
    lock = Path(f"{old}.lock")
    if left == "empty":
        lock.write_text("")
    else:
        lock.unlink()
    assert _store_of(cache.artifact(_fake_spark(), a, ("documents",), "t_v1", _writer(calls))) == old
    assert len(calls) == 1
    assert json.loads(lock.read_text()) == {
        os.path.join(a, "documents.parquet"): cache.signature(a, "documents")
    }
    shutil.rmtree(a)
    b = _dataset(tmp_path, "b", "documents")
    cache.artifact(_fake_spark(), b, ("documents",), "t_v1", _writer(calls))
    assert not old.exists() and not lock.exists()


def test_simhash_under_mocked_load_matches_bruteforce(spark, tmp_path):
    """ext_dedup_simhash over a crafted corpus behind a mocked tables.load
    whose sf_dir has no dataset on disk: every cached stage builds
    uncached, and the pairs equal a brute-force banded Hamming check."""
    import random

    from boletia_kubernetes_kafka_mongodb_spark.operators import dedup as D

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for doc_id in range(60):
        if doc_id % 3 and rows:  # near-copy of an earlier doc: 0-3 edits
            toks = rng.choice(rows)[1].split()
            for _ in range(rng.randint(0, 3)):
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
        else:
            toks = [rng.choice(vocab) for _ in range(rng.randint(0, 20))]
        text = " ".join(toks)
        rows.append((doc_id, text, rng.choice(["en", "es"]), "s", len(text)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sigs = [
        (r.doc_id, r.lang, r.simhash & ((1 << 64) - 1))
        for r in D.simhash_signatures(docs).collect()
    ]

    def bands(s):
        return [(s >> (16 * b)) & 0xFFFF for b in range(D.SIMHASH_BANDS)]

    want = set()
    for ida, la, sa in sigs:
        for idb, lb, sb in sigs:
            if ida >= idb or la != lb:
                continue
            ham = bin(sa ^ sb).count("1")
            if ham <= D.SIMHASH_MAX_HAMMING and any(
                x == y for x, y in zip(bands(sa), bands(sb))
            ):
                want.add((ida, idb, ham))

    sf_dir = str(tmp_path / "no-dataset")
    with mock.patch.object(D.tables, "load", return_value=docs):
        got = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in D.ext_dedup_simhash(spark, sf_dir).collect()
        }
    assert want, "crafted corpus should contain near-duplicates"
    assert got == want


def test_rewritten_fixture_is_not_served_stale(spark, duck, tmp_path):
    """Rewriting documents/lineitem in place at the SAME path must not
    serve results computed from the old rows."""
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod

    sf = tmp_path / "sf"
    shutil.copytree(SF_SMOKE, sf)
    oracle = duck.cursor()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        oracle.execute(
            f"CREATE TEMP VIEW {name} AS SELECT * FROM '{sf}/{name}.parquet'"
        )
    fns, sqls = entrymod.queries(), entrymod.oracle_sql()
    ids = ("ext_dedup_ngram_jaccard", "cdc_broker_metrics")
    try:
        for qid in ids:
            compare_with_oracle(spark, oracle, fns[qid], sqls[qid], sf_dir=str(sf))
        for name in ("documents", "lineitem"):
            path = sf / f"{name}.parquet"
            t = pq.read_table(path)
            pq.write_table(t.take(list(range(0, t.num_rows, 2))), path)
        for qid in ids:
            compare_with_oracle(spark, oracle, fns[qid], sqls[qid], sf_dir=str(sf))
    finally:
        oracle.close()
        cache.clear(str(sf))


def test_keyed_reads_follow_a_rewritten_lineitem(spark, duck, tmp_path):
    """The ids served from the keyed tree (the footer-read id and bucketed
    probe, the bucketed admission window, the maintained reservado) match
    the oracle, and still match after lineitem is rewritten in place at
    the SAME path."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod

    sf = tmp_path / "sf"
    shutil.copytree(SF_SMOKE, sf)
    oracle = duck.cursor()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        oracle.execute(
            f"CREATE TEMP VIEW {name} AS SELECT * FROM '{sf}/{name}.parquet'"
        )
    fns, sqls = entrymod.queries(), entrymod.oracle_sql()
    ids = (
        "lookup_pk", "reserve_guarded_decrement", "join_availability",
        "order_topn_disponible", "scan_full_inventario",
    )

    def results():
        return {q: sorted(map(tuple, fns[q](spark, str(sf)).collect())) for q in ids}

    try:
        for qid in ids:
            compare_with_oracle(spark, oracle, fns[qid], sqls[qid], sf_dir=str(sf))
        before = results()
        path = sf / "lineitem.parquet"
        t = pq.read_table(path)
        # every other row, dropping the one with the smallest id
        # (l_orderkey, l_linenumber lead the packed key), so lookup_pk's
        # answer moves too
        first = pc.sort_indices(
            t, sort_keys=[("l_orderkey", "ascending"), ("l_linenumber", "ascending")]
        )[0].as_py()
        pq.write_table(t.take(list(range(1 - first % 2, t.num_rows, 2))), path)
        for qid in ids:
            compare_with_oracle(spark, oracle, fns[qid], sqls[qid], sf_dir=str(sf))
        after = results()
        assert [q for q in ids if after[q] == before[q]] == []
    finally:
        oracle.close()
        cache.clear(str(sf))


SESSIONS = """
import sys

sys.path.insert(0, {repo!r})

from pyspark.sql import SparkSession

from boletia_kubernetes_kafka_mongodb_spark.operators import similarity, text

runs = []
for _ in range(2):
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    runs.append(
        [
            sorted(map(tuple, q(spark, {sf!r}).collect()))
            for q in (similarity.ext_kmeans_embeddings, text.ext_bpe_merges)
        ]
    )
    spark.stop()
assert runs[0] == runs[1] and all(runs[0]), runs
print("EQUAL", flush=True)
"""


def test_shared_udfs_do_not_outlive_their_session(tmp_path):
    """The shared k-means and BPE ``pandas_udf``s are held per session: a
    second SparkSession in the same process (session → stop → session)
    gets fresh UDFs, computes the same rows, and its accumulator updates
    reach a live driver — a UDF kept from the stopped context logs
    ``Failed to update accumulator … Broken pipe`` on every task."""
    import subprocess
    import sys

    from tests.conftest import REPO

    script = tmp_path / "sessions.py"
    script.write_text(SESSIONS.format(repo=str(REPO), sf=SF_SMOKE))
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0 and "EQUAL" in proc.stdout, proc.stderr[-4000:]
    assert "Failed to update accumulator" not in proc.stderr, proc.stderr[-4000:]
