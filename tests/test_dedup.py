"""Semantic tests for the approximate dedup operators (no SQL oracle)."""

from __future__ import annotations

from pyspark.sql import functions as F

from boletia_kubernetes_kafka_mongodb_spark.operators import dedup
from tests.conftest import SF_SMOKE


def _exhaustive_shingle_jaccard_pairs(spark, sf_dir, threshold):
    """Reference: exact all-pairs shingle Jaccard (no LSH)."""
    from boletia_kubernetes_kafka_mongodb_spark import tables
    from boletia_kubernetes_kafka_mongodb_spark.operators.dedup import _shingles
    from boletia_kubernetes_kafka_mongodb_spark.operators.text import tokens_col

    docs = tables.load(spark, sf_dir, "documents")
    sh = docs.select("doc_id", _shingles(tokens_col("text")).alias("sh")).where(
        F.size("sh") > 0
    )
    a, b = sh.alias("a"), sh.alias("b")
    jac = F.size(F.array_intersect("a.sh", "b.sh")) / F.size(F.array_union("a.sh", "b.sh"))
    pairs = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return {(r.doc_a, r.doc_b) for r in pairs.collect()}


def test_minhash_lsh_recall_and_precision(spark):
    truth = _exhaustive_shingle_jaccard_pairs(spark, SF_SMOKE, dedup.JACCARD_THRESHOLD)
    found = {
        (r.doc_a, r.doc_b)
        for r in dedup.ext_dedup_minhash_lsh(spark, SF_SMOKE).collect()
    }
    # verification step ⇒ perfect precision (every emitted pair really is ≥ t)
    assert found.issubset(truth), f"false positives: {found - truth}"
    # banded minhash at 8×4 over t=0.5 ⇒ high recall; demand ≥ 0.8 if truth nonempty
    if truth:
        recall = len(found & truth) / len(truth)
        assert recall >= 0.8, f"recall {recall:.2f} over {len(truth)} true pairs"


def test_simhash_matches_python_reference(spark):
    from boletia_kubernetes_kafka_mongodb_spark import tables

    docs = tables.load(spark, SF_SMOKE, "documents").limit(50)
    sigs = {r.doc_id: r.simhash for r in dedup.simhash_signatures(docs).collect()}
    # python reference over the same spark-computed token hashes
    from boletia_kubernetes_kafka_mongodb_spark.operators.text import tokens_col

    hashes_df = docs.select(
        "doc_id",
        F.transform(
            F.array_distinct(tokens_col("text")), lambda t: dedup.md5_hash64(t)
        ).alias("h"),
    )
    for row in hashes_df.collect():
        hs = [h & ((1 << 64) - 1) for h in row.h]
        sig = 0
        for b in range(64):
            ones = sum((h >> b) & 1 for h in hs)
            if ones * 2 >= len(hs):
                sig |= 1 << b
        if sig >= 1 << 63:
            sig -= 1 << 64
        assert sigs[row.doc_id] == sig, f"doc {row.doc_id}"


def test_simhash_pairs_symmetric_threshold(spark):
    out = dedup.ext_dedup_simhash(spark, SF_SMOKE)
    rows = out.collect()
    for r in rows:
        assert r.doc_a < r.doc_b
        assert 0 <= r.hamming <= dedup.SIMHASH_MAX_HAMMING


def test_exact_dedup_total_count_preserved(spark):
    from boletia_kubernetes_kafka_mongodb_spark import tables

    n_docs = tables.load(spark, SF_SMOKE, "documents").count()
    agg = dedup.ext_dedup_exact(spark, SF_SMOKE).agg(F.sum("n_copies")).first()[0]
    assert agg == n_docs  # partition of the corpus: every doc in exactly one group


def test_shingles_empty_doc_yields_no_shingles(spark):
    """Pin the zero-token-doc semantics: empty docs produce an EMPTY shingle
    array (they do not participate in shingle-based dedup), while 1..n-1
    token docs contribute their whole text as one short shingle."""
    from boletia_kubernetes_kafka_mongodb_spark.operators.dedup import _shingles
    from boletia_kubernetes_kafka_mongodb_spark.operators.text import tokens_col

    df = spark.createDataFrame(
        [("",), ("   ",), ("one",), ("one two",), ("a b c d",)], "text string"
    )
    rows = df.select("text", _shingles(tokens_col("text")).alias("sh")).collect()
    got = {r.text: r.sh for r in rows}
    assert got[""] == [] and got["   "] == []
    assert got["one"] == ["one"]
    assert got["one two"] == ["one two"]
    assert got["a b c d"] == ["a b c", "b c d"]


def test_dedup_paths_never_materialize_on_driver(spark, monkeypatch):
    """Scale gate: the exact pair finders and the block-cosine join must not
    collect/toPandas anything — build AND execution stay executor-side.
    (The previous formulation packed the corpus into a driver-built
    broadcast; this pins the regression.)"""
    from pyspark.sql import DataFrame

    def boom(self, *a, **k):
        raise AssertionError("driver-side materialization in a dedup path")

    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity

    monkeypatch.setattr(DataFrame, "collect", boom)
    monkeypatch.setattr(DataFrame, "toPandas", boom)
    assert dedup.ext_dedup_ngram_jaccard(spark, SF_SMOKE).count() >= 0
    assert dedup.ext_dedup_containment(spark, SF_SMOKE).count() >= 0
    assert dedup.ext_dedup_embedding(spark, SF_SMOKE).count() >= 0
    assert similarity.ext_knn_label_transfer(spark, SF_SMOKE).count() >= 0


def test_clusters_distributed_star_matches_driver_path(spark, monkeypatch):
    """Force the large-star/small-star path (threshold 0) and check it
    produces exactly the driver fast path's components; also gate that the
    distributed path never calls toPandas (its convergence check is a 1-row
    agg, not an edge-list materialization)."""
    from pyspark.sql import DataFrame

    expected = {
        (r.doc_id, r.component, r.is_survivor)
        for r in dedup.ext_dedup_clusters(spark, SF_SMOKE).collect()
    }
    monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", 0)
    monkeypatch.setattr(
        DataFrame,
        "toPandas",
        lambda self: (_ for _ in ()).throw(
            AssertionError("distributed CC path used toPandas")
        ),
    )
    got = {
        (r.doc_id, r.component, r.is_survivor)
        for r in dedup.ext_dedup_clusters(spark, SF_SMOKE).collect()
    }
    assert got == expected and len(got) > 0


def test_tiled_kernels_match_bruteforce_on_random_corpora(spark):
    """Seeded randomized cross-check of the tiled set-similarity kernels
    against a pure-python brute force — covers corpus shapes the fixture
    doesn't have: empty docs, single-token docs, exact duplicates, docs
    colliding into the same block, multiple langs with identical texts.

    The ``sf_dir`` names hold no dataset on disk, so the session cache
    builds every stage uncached for the mocked corpus.
    """
    import random
    import re as _re
    from unittest import mock

    from boletia_kubernetes_kafka_mongodb_spark.operators import dedup as D

    vocab = [f"w{i}" for i in range(30)]
    for seed in (1, 7, 42):
        rng = random.Random(seed)
        rows = []
        for doc_id in range(40):
            lang = rng.choice(["en", "es"])
            n = rng.choice([0, 1, 2, 5, 10, 15])
            toks = [rng.choice(vocab) for _ in range(n)]
            if doc_id % 7 == 0 and rows:  # exact duplicate of an earlier doc
                prev = rng.choice(rows)
                toks, lang = prev[1].split(), prev[2]
            text = " ".join(toks)
            rows.append((doc_id, text, lang, "s", len(text)))
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )

        def toks_of(text):
            return set(_re.findall("[a-z0-9]+", text.lower()))

        want_j, want_c = set(), set()
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                if rows[i][2] != rows[j][2]:
                    continue
                a, b = toks_of(rows[i][1]), toks_of(rows[j][1])
                if a | b and round(len(a & b) / len(a | b), 6) >= D.JACCARD_THRESHOLD:
                    want_j.add((rows[i][0], rows[j][0]))
                if a and b and round(len(a & b) / min(len(a), len(b)), 6) >= D.CONTAINMENT_THRESHOLD:
                    want_c.add((rows[i][0], rows[j][0]))

        with mock.patch.object(D.tables, "load", return_value=docs):
            got_j = {
                (r.doc_a, r.doc_b)
                for r in D.ext_dedup_ngram_jaccard(spark, f"rand-{seed}").collect()
            }
            got_c = {
                (r.doc_a, r.doc_b)
                for r in D.ext_dedup_containment(spark, f"rand-{seed}").collect()
            }
        assert got_j == want_j, f"seed {seed}: jaccard {got_j ^ want_j}"
        assert got_c == want_c, f"seed {seed}: containment {got_c ^ want_c}"


def test_containment_catches_subsumed_doc(spark):
    """A short doc fully inside a long doc: Jaccard misses it (union-
    normalized), containment flags it at 1.0 — the asymmetric case the
    operator exists for."""
    from unittest import mock

    from boletia_kubernetes_kafka_mongodb_spark.operators import dedup as D

    long_text = " ".join(f"w{i}" for i in range(60))
    short_text = " ".join(f"w{i}" for i in range(12))  # strict subset
    docs = spark.createDataFrame(
        [(1, long_text, "en", "s", len(long_text)),
         (2, short_text, "en", "s", len(short_text)),
         (3, "completely different words here", "en", "s", 31)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with mock.patch.object(D.tables, "load", return_value=docs):
        cont = {(r.doc_a, r.doc_b): r.containment
                for r in D.ext_dedup_containment(spark, "x").collect()}
        jac = {(r.doc_a, r.doc_b): r.jaccard
               for r in D.ext_dedup_ngram_jaccard(spark, "x").collect()}
    assert cont[(1, 2)] == 1.0
    assert (1, 2) not in jac          # J = 12/60 = 0.2 < 0.5 threshold
    assert (1, 3) not in cont and (2, 3) not in cont


def test_null_text_docs_are_inert_in_set_dedup(spark):
    """Real crawls carry null documents: they must not crash the tiled
    kernels, must form no pairs, and must not appear in clusters."""
    from unittest import mock

    from boletia_kubernetes_kafka_mongodb_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "hello world hello there", "en", "s", 23),
            (2, None, "en", "s", 0),
            (3, "hello world hello there", "en", "s", 23),
            (4, None, "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with mock.patch.object(D.tables, "load", return_value=docs):
        pairs = {(r.doc_a, r.doc_b) for r in D.ext_dedup_ngram_jaccard(spark, "nulls-a").collect()}
        cont = {(r.doc_a, r.doc_b) for r in D.ext_dedup_containment(spark, "nulls-b").collect()}
        comp = {r.doc_id for r in D.ext_dedup_clusters(spark, "nulls-c").collect()}
    assert pairs == {(1, 3)}
    assert cont == {(1, 3)}
    assert comp == {1, 3}  # null docs never enter the pair graph


def test_segment_dedup_counts_and_empty_docs(spark, tmp_path):
    """Within-doc repeats count toward dup segments; unique docs score 0;
    empty docs stay in the output with zero counts."""
    from boletia_kubernetes_kafka_mongodb_spark.operators.dedup import (
        SEGMENT_W,
        ext_dedup_segments,
    )

    seg_a = " ".join(f"a{i}" for i in range(SEGMENT_W))
    seg_b = " ".join(f"b{i}" for i in range(SEGMENT_W))
    uniq = " ".join(f"u{i}" for i in range(SEGMENT_W))
    rows = [
        (1, f"{seg_a} {seg_a}", "en", "src", 0),   # self-repeat: both dup
        (2, f"{seg_a} {seg_b}", "en", "src", 0),   # one shared with doc 1
        (3, uniq, "en", "src", 0),                  # fully unique
        (4, "", "en", "src", 0),                    # empty
        (5, "tail only", "en", "src", 0),           # sub-W tail segment
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = {r.doc_id: r for r in ext_dedup_segments(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1].n_segments == 2 and out[1].n_dup_segments == 2
    assert out[1].dup_frac == 1.0
    assert out[2].n_segments == 2 and out[2].n_dup_segments == 1
    assert out[2].dup_frac == 0.5
    assert out[3].n_dup_segments == 0 and out[3].dup_frac == 0.0
    assert out[4].n_segments == 0 and out[4].dup_frac == 0.0
    assert out[5].n_segments == 1  # short tail still forms one segment


def test_incremental_dedup_flags_only_new_batch(spark, tmp_path):
    """A 'test'-split doc copying an older doc is flagged with the
    canonical id; a unique new doc is not; old docs never appear."""
    from boletia_kubernetes_kafka_mongodb_spark.operators.dedup import (
        ext_dedup_incremental,
    )
    from boletia_kubernetes_kafka_mongodb_spark.operators.sampling import (
        TRAIN_PCT,
        VAL_PCT,
    )
    from tests.test_sampling import _bucket

    old_id = next(i for i in range(1000) if _bucket(i) < TRAIN_PCT)
    new_ids = [i for i in range(1000) if _bucket(i) >= TRAIN_PCT + VAL_PCT]
    copied, unique = new_ids[0], new_ids[1]
    text = "the exact same document text"
    rows = [
        (old_id, text, "en", "src", len(text)),
        (copied, text.upper(), "en", "src", len(text)),  # normalization-equal
        (unique, "something never seen before", "en", "src", 27),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = {r.doc_id: r for r in ext_dedup_incremental(spark, str(tmp_path)).collect()}
    assert set(out) == {copied, unique}
    assert out[copied].exact_dup and out[copied].dup_of == old_id
    assert not out[unique].exact_dup and out[unique].dup_of is None


def test_incremental_near_dedup_precision_and_recall(spark, tmp_path):
    """The band-index probe's verified pairs are a subset of the TRUE
    cross-split ≥-threshold pairs (exact verification ⇒ perfect precision,
    identical jaccard values) with banded recall ≥ 0.8."""
    from boletia_kubernetes_kafka_mongodb_spark import tables
    from boletia_kubernetes_kafka_mongodb_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _shingles,
        ext_dedup_incremental_near,
    )
    from boletia_kubernetes_kafka_mongodb_spark.operators.sampling import (
        split_assignment,
    )
    from boletia_kubernetes_kafka_mongodb_spark.operators.text import tokens_col

    got = {
        (r.doc_id, r.dup_of): r.jaccard
        for r in ext_dedup_incremental_near(spark, SF_SMOKE).collect()
    }

    docs = tables.load(spark, SF_SMOKE, "documents").select(
        "doc_id",
        split_assignment("doc_id").alias("split"),
        _shingles(tokens_col("text")).alias("sh"),
    )
    new = docs.where(F.col("split") == "test").select(
        F.col("doc_id").alias("doc_new"), F.col("sh").alias("sh_new")
    )
    old = docs.where(F.col("split") != "test").select(
        F.col("doc_id").alias("doc_old"), F.col("sh").alias("sh_old")
    )
    jac = F.size(F.array_intersect("sh_new", "sh_old")).cast("double") / F.size(
        F.array_union("sh_new", "sh_old")
    )
    truth = {
        (r.doc_new, r.doc_old): r.jaccard
        for r in new.crossJoin(old)
        .select("doc_new", "doc_old", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .collect()
    }
    assert set(got).issubset(set(truth))
    for pair, j in got.items():
        assert j == truth[pair]
    assert truth, "fixture has no cross-split near-dups; recall untestable"
    recall = len(got) / len(truth)
    assert recall >= 0.8, f"band-probe recall {recall:.2f}"


def test_text_clean_removes_shared_segment_keeps_unique(spark, tmp_path):
    """A segment shared by two docs is boilerplate (dropped from BOTH);
    unique segments survive in order; empty docs yield empty clean text."""
    boiler = " ".join(f"b{i}" for i in range(dedup.SEGMENT_W))
    u = " ".join(f"u{i}" for i in range(dedup.SEGMENT_W))
    v = " ".join(f"v{i}" for i in range(dedup.SEGMENT_W))
    w = " ".join(f"w{i}" for i in range(dedup.SEGMENT_W))
    rows = [
        (0, f"{boiler} {u}", "en", "src", 1),
        (1, f"{boiler} {v}", "en", "src", 1),
        (2, w, "en", "src", 1),
        (3, "", "en", "src", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = {r.doc_id: r for r in dedup.ext_text_clean(spark, str(tmp_path)).collect()}
    assert out[0].clean_text == u and out[0].n_dropped_segments == 1
    assert out[1].clean_text == v and out[1].n_dropped_segments == 1
    assert out[2].clean_text == w and out[2].n_dropped_segments == 0
    assert out[3].clean_text == "" and out[3].n_kept_segments == 0


def test_multimodal_phash_matches_exhaustive_reference(spark):
    """Banded pHash pairs == exhaustive all-pairs hamming ≤ 3 over the same
    python-computed hashes (the ≤3-of-4-bands pigeonhole is lossless)."""
    import numpy as np

    from boletia_kubernetes_kafka_mongodb_spark.operators import multimodal

    sf = "/root/testdata/sf0.001"
    media = multimodal.media_table(spark, sf).select("doc_id", "payload").collect()

    def phash(payload):
        # integer-exact threshold, mirroring the operator's oracle contract
        raw = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
        if raw.size == 0:
            return 0
        cells = np.array_split(raw, 64)
        nums = np.array([c.sum() for c in cells], dtype=np.int64)
        szs = np.array([c.size for c in cells], dtype=np.int64)
        k = raw.size // 64
        D = k * (k + 1) if k > 0 else 1
        mult = np.where(szs == 0, 0, D // np.maximum(szs, 1))
        T = int((nums * mult).sum())
        bits = (nums * 64 * D > T * szs).astype(np.uint64)
        h = 0
        for b in bits:
            h = (h << 1) | int(b)
        return h

    hashes = {r.doc_id: phash(r.payload) for r in media}
    ids = sorted(hashes)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin(hashes[a] ^ hashes[b]).count("1")
            if d <= multimodal.PHASH_MAX_HAMMING:
                want.add((a, b, d))

    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in multimodal.ext_multimodal_phash(spark, sf).collect()
    }
    assert got == want
    assert len(got) > 0, "fixture should contain at least one near-dup payload"


def test_entity_resolution_blocking_and_verify(spark, monkeypatch):
    """Typo pairs within the declared blocking match; cross-domain and
    over-threshold pairs never pair."""
    from boletia_kubernetes_kafka_mongodb_spark import tables

    rows = [
        ("alice@x.com", 2), ("alicd@x.com", 2),  # lev 1, same len → pair
        ("bob@x.com", 2), ("bobb@x.com", 2),     # lev 1, len ±1 → pair
        ("alice@y.com", 2),                      # same local, other domain → no
        ("carol@x.com", 2), ("carzzz@x.com", 2), # lev 3 → no
    ]
    fake = spark.createDataFrame(rows, "email string, n_reservas long")

    monkeypatch.setattr(
        dedup, "_er_identities", lambda _s, _d: fake
    )
    out = {
        (r.email_a, r.email_b): (r.distance, r.n_reservas_merged)
        for r in dedup.ext_entity_resolution(spark, "unused").collect()
    }
    assert out == {
        ("alicd@x.com", "alice@x.com"): (1, 4),
        ("bob@x.com", "bobb@x.com"): (1, 4),
    }


def test_entity_resolution_randomized_vs_exhaustive(spark, monkeypatch):
    """Tiled pair generation emits every qualifying pair EXACTLY once:
    compare against exhaustive python pairs over random identities (runs
    two seeds to exercise tile-boundary layouts)."""
    import random

    for seed in (7, 23):
        rng = random.Random(seed)
        locals_ = set()
        while len(locals_) < 60:
            n = rng.randint(3, 6)
            locals_.add("".join(rng.choice("abc") for _ in range(n)))
        rows = [(f"{l}@x.com", rng.randint(1, 5)) for l in sorted(locals_)]
        fake = spark.createDataFrame(rows, "email string, n_reservas long")
        monkeypatch.setattr(dedup, "_er_identities", lambda _s, _d: fake)

        def lev(a, b):
            dp = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                prev, dp[0] = dp[0], i
                for j, cb in enumerate(b, 1):
                    prev, dp[j] = dp[j], min(
                        dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                    )
            return dp[len(b)]

        counts = dict(rows)
        want = {}
        emails = sorted(counts)
        for i, ea in enumerate(emails):
            for eb in emails[i + 1 :]:
                la, lb = ea.split("@")[0], eb.split("@")[0]
                if abs(len(la) - len(lb)) <= 1 and lev(la, lb) <= dedup.ER_MAX_EDIT:
                    want[(ea, eb)] = (lev(la, lb), counts[ea] + counts[eb])

        out = dedup.ext_entity_resolution(spark, "unused").collect()
        got = {}
        for r in out:
            assert (r.email_a, r.email_b) not in got, "pair emitted twice"
            got[(r.email_a, r.email_b)] = (r.distance, r.n_reservas_merged)
        assert got == want


def test_md5_hash_helpers_match_python_and_duckdb(spark, duck):
    """The round-3 engine-independent hash helpers must agree byte-for-byte
    across Spark, python (hashlib), and DuckDB on adversarial tokens —
    unicode, digits, long strings, sign-bit-setting hashes."""
    import hashlib

    tokens = [
        "a", "z9", "hello", "0", "x" * 300, "ñandú", "日本語", "mixed123case",
        "ffffffff", "éclair",
    ]
    df = spark.createDataFrame([(t,) for t in tokens], "t string")
    got64 = {
        r.t: r.h
        for r in df.select("t", dedup.md5_hash64(F.col("t")).alias("h")).collect()
    }
    got31 = {
        r.t: r.h
        for r in df.select("t", dedup.shingle_hash31(F.col("t")).alias("h")).collect()
    }
    for t in tokens:
        d = hashlib.md5(t.encode()).hexdigest()
        hi, lo = int(d[:8], 16), int(d[8:16], 16)
        want64 = (hi << 32) | lo
        if want64 >= 1 << 63:
            want64 -= 1 << 64
        assert got64[t] == want64, ("md5_hash64", t)
        assert got31[t] == hi & 0x7FFFFFFF, ("shingle_hash31", t)
        # DuckDB twin expressions (the exact forms the oracles embed)
        (d64,) = duck.execute(
            "SELECT (CASE WHEN CAST(concat('0x', substr(md5(?), 1, 8)) AS BIGINT) >= 2147483648 "
            "THEN CAST(concat('0x', substr(md5(?), 1, 8)) AS BIGINT) - 4294967296 "
            "ELSE CAST(concat('0x', substr(md5(?), 1, 8)) AS BIGINT) END) * 4294967296 "
            "+ CAST(concat('0x', substr(md5(?), 9, 8)) AS BIGINT)",
            [t, t, t, t],
        ).fetchone()
        assert d64 == want64, ("duckdb md5 64", t)
        (d31,) = duck.execute(
            "SELECT CAST(concat('0x', substr(md5(?), 1, 8)) AS BIGINT) & 2147483647",
            [t],
        ).fetchone()
        assert d31 == hi & 0x7FFFFFFF, ("duckdb md5 31", t)


def test_tiled_bucket_pairs_equals_naive_on_hot_bucket(spark):
    """The tiled in-bucket expansion must produce EXACTLY the all-pairs set
    on a bucket larger than PAIR_TILE (multi-tile path: diagonal tiles,
    off-diagonal tiles, canonical ordering, the ragged last slice) — the
    hot-bucket shape scaling.py measured (3,843-member SimHash buckets at
    10x) that the naive single-row |m|2 expansion cannot survive at scale."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from boletia_kubernetes_kafka_mongodb_spark.operators.dedup import (
        PAIR_TILE,
        tiled_bucket_pairs,
    )

    n = 2 * PAIR_TILE + 89  # 3 ragged tiles
    ids = [int(i * 7 + 3) for i in range(n)]  # non-contiguous, unsorted mod
    buckets = spark.createDataFrame(
        [(0, ids)], "bucket int, members array<long>"
    )
    got = [
        (r["p"]["doc_a"], r["p"]["doc_b"])
        for r in tiled_bucket_pairs(
            buckets,
            key=lambda d: d,
            pair=lambda a, b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
        ).collect()
    ]
    want = {(min(a, b), max(a, b)) for a, b in combinations(ids, 2)}
    # round-5 contract: EXACTLY-ONCE emission (the diagonal-tile double
    # emission is deduped inside the helper; callers' .distinct() is for
    # their own multi-band collisions only)
    assert len(got) == len(want), "duplicate or missing pair emissions"
    assert set(got) == want  # no pair lost, none invented
    # struct payloads must follow the canonical order too (sig_a with doc_a)
    two = spark.createDataFrame(
        [(0, [(9, 90), (4, 40), (700, 7000)])],
        "bucket int, members array<struct<doc_id:long, sig:long>>",
    )
    rows = sorted(
        (r["p"]["doc_a"], r["p"]["sig_a"], r["p"]["doc_b"], r["p"]["sig_b"])
        for r in tiled_bucket_pairs(
            two,
            key=lambda s: s["doc_id"],
            pair=lambda a, b: F.struct(
                a["doc_id"].alias("doc_a"),
                b["doc_id"].alias("doc_b"),
                a["sig"].alias("sig_a"),
                b["sig"].alias("sig_b"),
            ),
        ).collect()
    )
    assert rows == [(4, 40, 9, 90), (4, 40, 700, 7000), (9, 90, 700, 7000)]


# ---------------------------------------------------------------------------
# edit-distance near-dup (round 6)
# ---------------------------------------------------------------------------


def _lev(a: str, b: str, cap: int | None = None) -> int:
    """Plain DP Levenshtein — the python reference for the JVM builtin.

    With ``cap``, returns ``cap + 1`` as soon as a DP row's minimum
    exceeds it: row minima never decrease, so the distance is then above
    the cap too, and every distance within the cap is still exact."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        if cap is not None and min(cur) > cap:
            return cap + 1
        prev = cur
    return prev[-1]


def _norm_full(text: str) -> tuple[str, int]:
    import re

    nt = re.sub(r"\s+", " ", text.lower())
    return nt, len(nt)


def test_edit_distance_crafted_branches(spark, tmp_path):
    """Every blocking branch live: an in-band typo pair is found with the
    exact distance, a same-band equal-length pair emits exactly once in
    (len, id) role order, a band-straddling pair is found via the +1 probe,
    a prefix-identical pair with |Δlen| > max-dist is length-gated out,
    and — the round-7 contract change — a front-shifted long pair whose
    PREFIX distance exceeds max-dist (but stays under the lossless 2d
    prefilter) is found with its true FULL-text distance."""
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    # > EDIT_PREFIX chars, aperiodic under small shifts: a 5-char front
    # insertion costs 10 on the 160-prefix (5 ins + 5 end misalign) but
    # only 5 on the full string — the pair the prefix semantic missed
    long_s = ("abcdefghijklmnopqrstuvwxyz0123456789" * 6)[:200]
    rows = [
        (1, base, "en", "src", len(base)),
        (2, base.replace("quick", "quack"), "en", "src", len(base)),  # 1 edit
        (3, base + " and twenty extra trailing chars", "en", "src", 0),  # Δlen>8
        # same length, same band, two substitutions
        (4, base.replace("lazy", "cozy"), "en", "src", len(base)),
        # band straddle: len(base)=64 → band 8; +7 chars → len 71 → band 8;
        # craft a TRUE straddle instead: 63 chars (band 7) vs 65 (band 8)
        (5, base[:63], "en", "src", 63),
        (6, base[:63] + "xy", "en", "src", 65),
        (7, long_s, "en", "src", 200),
        (8, "zzzzz" + long_s, "en", "src", 205),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = dedup.ext_dedup_edit_distance(spark, str(tmp_path)).collect()
    got = {(r.doc_a, r.doc_b): r for r in out}
    assert len(out) == len(got), "a pair emitted twice"

    texts = {i: t for i, t, *_ in rows}
    t1, n1 = _norm_full(texts[1])
    t2, _ = _norm_full(texts[2])
    assert (1, 2) in got and got[(1, 2)].edit_distance == _lev(t1, t2) == 1
    assert got[(1, 2)].len_short == n1
    assert (1, 4) in got and got[(1, 4)].edit_distance == 2
    assert (2, 4) in got  # both 1-edit from base → ≤ 2 edits apart
    # band straddle found via the +1 probe (bands 7 and 8)
    t5, n5 = _norm_full(texts[5])
    t6, n6 = _norm_full(texts[6])
    assert (n5 // dedup.EDIT_BAND) + 1 == n6 // dedup.EDIT_BAND
    assert (5, 6) in got and got[(5, 6)].edit_distance == _lev(t5, t6)
    # the length gate excludes doc 3 from everything (Δlen > EDIT_DIST_MAX)
    assert not any(3 in pair for pair in got)
    # the front-shift pair: prefix distance 10 > EDIT_DIST_MAX, full
    # distance 5 — found under the full-text contract
    p7 = _norm_full(texts[7])[0][: dedup.EDIT_PREFIX]
    p8 = _norm_full(texts[8])[0][: dedup.EDIT_PREFIX]
    assert _lev(p7, p8) > dedup.EDIT_DIST_MAX
    assert (7, 8) in got and got[(7, 8)].edit_distance == 5


def test_edit_distance_matches_bruteforce(spark):
    """Band blocking AND the 2d prefix prefilter lose nothing: the
    operator's pair set equals the python all-pairs reference (length
    gate + FULL-text Levenshtein) exactly, distances included."""
    import duckdb

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    norm = {i: _norm_full(t) for i, t in docs if t is not None}
    want = {}
    ids = sorted(norm)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            (ta, na), (tb, nb) = norm[a], norm[b]
            if abs(na - nb) > dedup.EDIT_DIST_MAX:
                continue
            d = _lev(ta, tb, dedup.EDIT_DIST_MAX)
            if d <= dedup.EDIT_DIST_MAX:
                want[(min(a, b), max(a, b))] = d
    got = {
        (r.doc_a, r.doc_b): r.edit_distance
        for r in dedup.ext_dedup_edit_distance(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert want, "fixture has no small-edit pairs; equivalence untestable"


def test_ngram_novelty_crafted(spark):
    """Novelty semantics on a crafted corpus: a fully-unique doc scores
    1.0, an exact duplicate pair scores 0.0, a half-shared doc is
    fractional, and an empty doc surfaces with NULL novelty."""
    from pyspark.sql import Row

    import boletia_kubernetes_kafka_mongodb_spark.tables as tables
    from boletia_kubernetes_kafka_mongodb_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta"),
            Row(doc_id=2, text="one two three four five six seven"),
            Row(doc_id=3, text="one two three four five six seven"),
            # shares its first trigram window with nothing, second half
            # overlaps doc 1's shingles? no — crafted: 2 shingles, 1 shared
            Row(doc_id=4, text="alpha beta gamma PLUTO"),
            Row(doc_id=5, text="   "),
        ]
    )
    orig = tables.load
    try:
        tables.load = lambda s, d, n, fan=False: docs
        out = {r.doc_id: r for r in D.ext_ngram_novelty(spark, "x").collect()}
    finally:
        tables.load = orig
    assert out[1].novelty < 1.0  # "alpha beta gamma" shared with doc 4
    assert out[2].novelty == 0.0 and out[3].novelty == 0.0  # exact dups
    # doc 4: shingles {alpha beta gamma, beta gamma pluto}; first is shared
    assert out[4].n_shingles == 2 and out[4].n_novel == 1
    assert out[4].novelty == 0.5
    assert out[5].n_shingles == 0 and out[5].novelty is None


def test_ngram_novelty_oracle_parity(spark, duck):
    import __spark_entry__ as entrymod
    from tests.conftest import compare_with_oracle

    compare_with_oracle(
        spark,
        duck,
        entrymod.queries()["ext_ngram_novelty"],
        entrymod.oracle_sql()["ext_ngram_novelty"],
    )


def test_minhash_accuracy_audit(spark, duck):
    """Estimator theory holds on the real candidates: every |err| within
    5σ of the binomial bound σ = sqrt(j(1−j)/32) (+ the rounding grain),
    exact duplicates estimate exactly 1.0, and the composed oracle
    hash-matches."""
    import __spark_entry__ as entrymod
    from tests.conftest import compare_with_oracle

    from boletia_kubernetes_kafka_mongodb_spark.operators import dedup as D

    rows = D.ext_dedup_minhash_accuracy(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) > 0
    for r in rows:
        j = r.exact_jaccard
        sigma = (j * (1 - j) / D.MINHASH_PERMS) ** 0.5
        assert r.abs_err <= 5 * sigma + 1 / D.MINHASH_PERMS + 1e-6, (
            r.doc_a, r.doc_b, j, r.est_jaccard
        )
        if j == 1.0:
            assert r.est_jaccard == 1.0
    # audit covers at least every verified near-dup pair (cand ⊇ output)
    dups = D.ext_dedup_minhash_lsh(spark, "/root/testdata/sf0.01").count()
    assert len(rows) >= dups
    compare_with_oracle(
        spark, duck,
        entrymod.queries()["ext_dedup_minhash_accuracy"],
        entrymod.oracle_sql()["ext_dedup_minhash_accuracy"],
    )


def _minhash_sig_over_hs_column_form():
    """The Column-builder form of `dedup._minhash_sig_over_hs` — the
    semantic reference its expr-string form is compared against (and the
    tree that string parses to)."""
    m = F.lit(dedup.MINHASH_MOD)

    def _perm(a: int, b: int):
        # factory, not default-args: Spark's HOF introspects lambda arity
        return lambda h: (F.lit(a) * h + F.lit(b)) % m

    return F.array(
        *[
            F.array_min(F.transform("hs", _perm(a, b)))
            for a, b in dedup.minhash_perm_constants()
        ]
    )


def test_expr_string_builders_match_column_forms(spark):
    """Optimization round 13 (guide §7.3 driver time): the shingle and
    32-perm-signature builders are parsed from single SQL strings instead
    of ~500 py4j Column calls per invocation. The expr-string forms must be
    VALUE-IDENTICAL to the original Column-builder forms on real data —
    shingles compared as sets (array_distinct order is engine-internal but
    both forms share it, so exact list equality is asserted), signatures
    exactly."""
    from pyspark.sql import functions as F

    from boletia_kubernetes_kafka_mongodb_spark import tables
    from boletia_kubernetes_kafka_mongodb_spark.operators import dedup as D
    from boletia_kubernetes_kafka_mongodb_spark.operators.text import tokens_col

    docs = tables.load(spark, "/root/testdata/sf0.001", "documents")
    both = docs.select(
        "doc_id",
        D._shingles(tokens_col("text")).alias("ref"),
        D._shingles_text().alias("opt"),
    ).collect()
    assert len(both) > 0
    for r in both:
        assert r.ref == r.opt, r.doc_id

    hs = docs.select(
        "doc_id",
        F.explode(
            F.array(
                F.transform(
                    D._shingles_text(), lambda s: D.shingle_hash31(s)
                )
            )
        ).alias("hs"),
    )
    sigs = hs.select(
        "doc_id",
        _minhash_sig_over_hs_column_form().alias("ref"),
        D._minhash_sig_over_hs().alias("opt"),
    ).collect()
    for r in sigs:
        assert r.ref == r.opt, r.doc_id

    # band fold: the expr-string fold inside minhash_band_keys must equal a
    # pure-python replay of (acc*P + v) % M over each band's signature slice
    rpb = D.MINHASH_PERMS // D.LSH_BANDS
    sig_by_doc = {r.doc_id: r.opt for r in sigs}
    keys = D.minhash_band_keys(docs).collect()
    assert len(keys) == len(sig_by_doc) * D.LSH_BANDS
    for r in keys:
        sl = sig_by_doc[r.doc_id][r.band * rpb : r.band * rpb + rpb]
        acc = 0
        for v in sl:
            acc = (acc * D.BAND_FOLD_P + v) % D.MINHASH_MOD
        assert acc == r.bucket, (r.doc_id, r.band)
