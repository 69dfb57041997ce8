"""Semantic tests for the approximate similarity operators."""

from __future__ import annotations

from boletia_kubernetes_kafka_mongodb_spark.operators import similarity
from tests.conftest import SF_SMOKE


def _brute_topk_ids(spark):
    return [
        r.vec_id for r in similarity.ext_topk_similarity(spark, SF_SMOKE).collect()
    ]


def test_ann_lsh_recall(spark):
    truth = set(_brute_topk_ids(spark))
    approx = {r.vec_id for r in similarity.ext_ann_lsh_topk(spark, SF_SMOKE).collect()}
    # embeddings are near-orthogonal synthetic noise (max pairwise cosine
    # ≈0.51) — the 6×8 banding targets ≈0.46 expected recall there while
    # pruning ~88% of the corpus; assert a floor well below expectation
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.2, f"LSH recall {recall:.2f} (truth {sorted(truth)})"


def test_knn_label_transfer_covers_every_vector_exactly_once(spark):
    """Exact 1-NN: one row per vector, neighbor ≠ self, cosine within
    [-1, 1], and the tie-break is reproducible (idempotent re-run)."""
    from boletia_kubernetes_kafka_mongodb_spark import tables

    out = similarity.ext_knn_label_transfer(spark, SF_SMOKE)
    rows = out.collect()
    n = tables.load(spark, SF_SMOKE, "embeddings").count()
    assert len(rows) == n
    assert len({r.vec_id for r in rows}) == n
    for r in rows:
        assert r.vec_id != r.nn_vec_id
        assert -1.000001 <= r.cosine <= 1.000001
        assert r.label_match == (r.label == r.nn_label)
    again = sorted(map(tuple, similarity.ext_knn_label_transfer(spark, SF_SMOKE).collect()))
    assert again == sorted(map(tuple, rows))


def test_ann_ivf_recall(spark):
    truth = set(_brute_topk_ids(spark))
    approx = {r.vec_id for r in similarity.ext_ann_ivf_topk(spark, SF_SMOKE).collect()}
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.3, f"IVF recall {recall:.2f}"


def test_topk_ordering_and_bounds(spark):
    rows = similarity.ext_topk_similarity(spark, SF_SMOKE).collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    sims = [r.cosine for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)
    assert all(r.vec_id != similarity.QUERY_VEC_ID for r in rows)


def test_ann_pq_recall_and_exactness(spark):
    """PQ+ADC with a 100-vector exact re-rank: high recall against brute
    force, and every returned cosine is the TRUE cosine (re-rank is exact,
    so errors can only be omissions, never wrong scores)."""
    truth = {r.vec_id: r.cosine for r in similarity.ext_topk_similarity(spark, SF_SMOKE).collect()}
    got = similarity.ext_ann_pq_topk(spark, SF_SMOKE).collect()
    assert len(got) == similarity.TOPK
    recall = len(set(truth) & {r.vec_id for r in got}) / len(truth)
    assert recall >= 0.7, f"PQ recall {recall:.2f}"
    for r in got:
        if r.vec_id in truth:  # scores of true-top hits must agree exactly
            assert r.cosine == truth[r.vec_id]
    # deterministic: re-run returns the identical ranking
    again = similarity.ext_ann_pq_topk(spark, SF_SMOKE).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in got]


def test_embed_quantize_fidelity_bounds(spark):
    """Reconstruction must be near-lossless at int8: the symmetric-scale
    bound guarantees per-element error ≤ scale/2, so cosine fidelity stays
    near 1 and MSE ≤ (scale/2)²."""
    rows = similarity.ext_embed_quantize(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.cos_fidelity > 0.999
        assert 0.0 <= r.mse <= (r.scale / 2) ** 2 + 1e-12
        assert r.scale > 0


def test_kmeans_matches_python_reference(spark):
    """Distributed Lloyd assignments equal a numpy re-implementation of the
    same deterministic recipe; cluster report is consistent with them."""
    import numpy as np

    from boletia_kubernetes_kafka_mongodb_spark import tables
    from pyspark.sql import functions as F

    rows = sorted(
        tables.load(spark, SF_SMOKE, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    K, iters = similarity.KMEANS_K, similarity.KMEANS_ITERS
    C = X[:K].copy()
    # mirrors the operator's cross-engine contract: distances AND centroid
    # means round to 6dp (see ext_kmeans_embeddings docstring)
    for _ in range(iters):
        d2 = np.round(((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), 6)
        a = d2.argmin(axis=1)
        for k in range(K):
            if (a == k).any():
                C[k] = np.round(X[a == k].mean(axis=0), 6)
    d2 = np.round(((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), 6)
    want = dict(zip(ids.tolist(), d2.argmin(axis=1).tolist()))

    got = {
        r.vec_id: r.cluster
        for r in similarity.kmeans_assignments(spark, SF_SMOKE).collect()
    }
    assert got == want

    report = {r.cluster: r for r in similarity.ext_kmeans_embeddings(spark, SF_SMOKE).collect()}
    from collections import Counter

    sizes = Counter(want.values())
    assert {k: r.n for k, r in report.items()} == dict(sizes)
    assert all(r.mean_sqdist >= 0 for r in report.values())


def test_semdedup_matches_python_reference(spark):
    """Greedy within-cluster prune equals a numpy re-implementation over the
    same deterministic k-means assignments; keep-set structure is sane."""
    import numpy as np

    from boletia_kubernetes_kafka_mongodb_spark import tables
    from pyspark.sql import functions as F

    assign = {
        r.vec_id: r.cluster
        for r in similarity.kmeans_assignments(spark, SF_SMOKE).collect()
    }
    rows = sorted(
        tables.load(spark, SF_SMOKE, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(assign[r.vec_id], []).append(r)
    want = {}
    for cl, members in by_cluster.items():
        X = np.array([m.embedding for m in members], dtype=np.float64)
        n = np.sqrt((X * X).sum(axis=1))
        n[n == 0] = 1.0
        Xn = X / n[:, None]
        S = np.round(Xn @ Xn.T, 6)  # mirrors the operator's oracle contract
        kept = []
        for i, m in enumerate(members):
            sim = float(S[i, kept].max()) if kept else None
            ok = sim is None or sim <= similarity.SEMDEDUP_THRESHOLD
            want[m.vec_id] = ok
            if ok:
                kept.append(i)

    out = similarity.ext_semdedup(spark, SF_SMOKE).collect()
    got = {r.vec_id: r.keep for r in out}
    assert got == want
    # every row consistent with its cluster; first (lowest-id) member of
    # each cluster is always kept
    first_per_cluster = {
        cl: min(m.vec_id for m in members) for cl, members in by_cluster.items()
    }
    for r in out:
        assert assign[r.vec_id] == r.cluster
        if r.vec_id == first_per_cluster[r.cluster]:
            assert r.keep and r.max_sim_kept is None


def test_embedding_dim_contract_for_baked_oracles(spark):
    """The SRP and PQ oracles BAKE dim = 64 (DuckDB's generate_series
    cannot take a subquery bound) while the Spark paths derive dim from
    data. This pins the fixture contract at every SF so a re-dimensioned
    fixture fails HERE with a pointer, not as an inscrutable driver
    hash-mismatch."""
    from pyspark.sql import functions as F

    from boletia_kubernetes_kafka_mongodb_spark import tables
    from tests.conftest import SF_CORRECT

    for sf in (SF_SMOKE, SF_CORRECT, "/root/testdata/sf0.1"):
        dims = (
            tables.load(spark, sf, "embeddings")
            .where(F.col("embedding").isNotNull())
            .select(F.size("embedding").alias("d"))
            .distinct()
            .collect()
        )
        assert [r.d for r in dims] == [64], (
            f"{sf}: embedding dim changed — update ext_ann_lsh_topk_oracle "
            f"and ext_ann_pq_topk_oracle's baked dimensions"
        )


def test_pq_init_integer_form_equals_linspace_for_all_reachable_n():
    """The round-4 codebook-init change (np.linspace → exact integer
    ((n-1)k)//(Ks-1)) must be output-identical for EVERY reachable sample
    size, not just current fixtures: n = min(|corpus|, PQ_TRAIN) ≤ PQ_TRAIN,
    so exhaustively checking 1..PQ_TRAIN proves ext_ann_pq_topk's and
    ext_ann_ivfpq_topk's codebooks (and their green driver rows) are
    unaffected by the change for any fixture the driver could generate."""
    import numpy as np

    from boletia_kubernetes_kafka_mongodb_spark.operators.similarity import (
        PQ_KS,
        PQ_TRAIN,
    )

    for n in range(1, PQ_TRAIN + 1):
        lin = np.linspace(0, n - 1, PQ_KS).astype(int)
        exact = [((n - 1) * k) // (PQ_KS - 1) for k in range(PQ_KS)]
        assert list(lin) == exact, n
        # and the DuckDB oracle's former FLOOR-division float form
        floorf = [int(np.floor((n - 1) * k / (PQ_KS - 1.0))) for k in range(PQ_KS)]
        assert floorf == exact, n


def test_kmeans_partials_tolerates_empty_partitions(spark):
    """Empty input partitions must yield NOTHING from the partial-sums
    kernel: a zero-row pandas frame types the empty "s" column float64,
    which Arrow cannot convert to list<double> (ArrowNotImplementedError —
    found by scaling.py's 10x run, where the larger scan produces empty
    splits; never hit at fixture sizes where the single parquet split
    leaves every partition non-empty)."""
    import numpy as np

    from boletia_kubernetes_kafka_mongodb_spark.operators.similarity import (
        _centroid_col,
        _kmeans_partials,
        KMEANS_K,
    )

    dim = 4
    rows = [(i, [float(i)] * dim) for i in range(3)]  # 3 rows << 16 slices
    base = spark.createDataFrame(rows, "vec_id long, x array<double>").repartition(16)
    C = np.zeros((KMEANS_K, dim))
    C[1] = 1.0  # two distinct centroids so assignment exercises argmin
    partials = (
        base.withColumn("c", _centroid_col(C))
        .mapInPandas(_kmeans_partials, "cluster int, n long, s array<double>")
        .collect()
    )
    assert sum(r["n"] for r in partials) == 3
    sums = np.zeros((KMEANS_K, dim))
    for r in partials:
        sums[r["cluster"]] += np.asarray(r["s"])
    # rows 0.. assign to centroid 0 (all-zeros) or 1 (all-ones) by distance;
    # elementwise totals must equal the full input sum either way
    assert np.allclose(sums.sum(axis=0), np.array([0.0 + 1.0 + 2.0] * dim))


def test_ann_ivf_batch_pruned_recall_and_self_exclusion(spark):
    """Batched IVF serve: ONE partition-pruned scan serves all 8 queries
    (plan gate), per-query recall vs the brute-force batch stays high,
    rows only answer queries whose probe set contains their list, and no
    query matches itself."""
    import re

    from tests.conftest import SF_SMOKE as SF

    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity

    df = similarity.ext_ann_ivf_batch(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ivf_list" in m.group(1), "batch serve must prune partitions"

    rows = df.collect()
    assert all(r.vec_id != r.query_id for r in rows)
    truth, got = {}, {}
    for r in similarity.ext_topk_batch(spark, SF).collect():
        truth.setdefault(r.query_id, set()).add(r.vec_id)
    for r in rows:
        got.setdefault(r.query_id, set()).add(r.vec_id)
        assert len(got[r.query_id]) <= similarity.BATCH_TOPK
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_ann_recall_audit_matches_operator_outputs(spark, duck):
    """The audit's hits/recall per query equal the intersection of the two
    batch operators' own outputs (the audit can't disagree with what
    serves), every batch query has exactly one row, recall ∈ [0,1] at
    k = BATCH_TOPK; plus the composed-oracle driver comparison."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMOKE as SF, compare_with_oracle

    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity as S

    ann, exact = {}, {}
    for r in S.ext_ann_ivf_batch(spark, SF).collect():
        ann.setdefault(r.query_id, set()).add(r.vec_id)
    for r in S.ext_topk_batch(spark, SF).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    out = {r.query_id: r for r in S.ext_ann_recall_audit(spark, SF).collect()}
    assert set(out) == set(exact)
    for q, r in out.items():
        want = len(exact[q] & ann.get(q, set()))
        # k is the exact side's ACTUAL per-query list size (round-7
        # ADVICE) — equal to BATCH_TOPK whenever the corpus has ≥ k
        # eligible vectors, as here
        assert r.hits == want and r.k == len(exact[q]) == S.BATCH_TOPK
        assert r.recall == round(want / len(exact[q]), 6)
        assert 0.0 <= r.recall <= 1.0
    compare_with_oracle(
        spark, duck,
        entrymod.queries()["ext_ann_recall_audit"],
        entrymod.oracle_sql()["ext_ann_recall_audit"],
    )


def test_embed_project_jl_distortion(spark):
    """JL property on the real fixture: the ±1/√m projection preserves
    norms within the lemma's expected band for m=8 (loose: most mass in
    [0.4, 1.8]), the matrix is deterministic, and a python replay of one
    vector matches exactly."""
    import hashlib

    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity as S

    out = S.ext_embed_project(spark, "/root/testdata/sf0.01").collect()
    assert len(out) == 500
    ratios = [r.norm_ratio for r in out if r.norm_ratio is not None]
    assert len(ratios) == 500
    in_band = sum(1 for v in ratios if 0.4 <= v <= 1.8)
    assert in_band / len(ratios) >= 0.95, f"only {in_band}/{len(ratios)} in band"
    # mean of squared ratios concentrates near 1 (E[||y||²] = ||x||²)
    msq = sum(v * v for v in ratios) / len(ratios)
    assert 0.8 <= msq <= 1.2, msq

    # python replay of vec 0
    import duckdb

    x = duckdb.sql(
        "SELECT embedding FROM '/root/testdata/sf0.01/embeddings.parquet' "
        "WHERE vec_id = 0"
    ).fetchone()[0]
    signs = S.rp_sign_matrix()
    want = []
    for j in range(S.RP_OUT_DIM):
        acc = 0.0
        for xi, s in zip(x, signs[j]):
            acc += float(xi) * s
        want.append(round(acc / (S.RP_OUT_DIM ** 0.5), 6))
    got = next(r for r in out if r.vec_id == 0)
    assert [getattr(got, f"p{j}") for j in range(S.RP_OUT_DIM)] == want

    # matrix determinism: first entry pinned by md5 definition
    assert signs[0][0] == (1.0 if hashlib.md5(b"rp:0:0").digest()[0] & 1 else -1.0)


def test_embed_project_oracle_parity(spark, duck):
    import __spark_entry__ as entrymod
    from tests.conftest import compare_with_oracle

    compare_with_oracle(
        spark,
        duck,
        entrymod.queries()["ext_embed_project"],
        entrymod.oracle_sql()["ext_embed_project"],
    )


# ---------------------------------------------------------------------------
# staged for r10 registration: ext_embed_drift (round 9 — embedding-space
# population drift; window rule defers registration to the r10 rotation)
# ---------------------------------------------------------------------------


def test_embed_drift_invariants_and_mass(spark):
    """Splits cover the non-null corpus exactly; psi finite and ≥ ~0;
    drifted and low_sample are pure functions of psi / n."""
    from pyspark.sql import functions as F

    from boletia_kubernetes_kafka_mongodb_spark import tables
    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity as S
    from boletia_kubernetes_kafka_mongodb_spark.operators.text import (
        QC_PSI_ALERT,
        QC_PSI_MIN_PER_BIN,
    )

    sf = "/root/testdata/sf0.01"
    rows = S.ext_embed_drift(spark, sf).collect()
    assert {r.split for r in rows} <= {"train", "val", "test"} and rows
    n_vec = (
        tables.load(spark, sf, "embeddings")
        .where(F.col("embedding").isNotNull())
        .count()
    )
    assert sum(r.n for r in rows) == n_vec
    for r in rows:
        assert r.psi is not None and r.psi > -1e-6
        assert r.drifted == (r.psi > QC_PSI_ALERT)
        assert r.low_sample == (r.n < QC_PSI_MIN_PER_BIN * S.KMEANS_K)


def test_embed_drift_crafted_shift_alerts(spark, tmp_path):
    """A crafted corpus whose held-out split collapses onto ONE cluster
    must alert (large PSI), while a split drawn uniformly like the corpus
    reads near zero — the monitor discriminates, not just computes."""
    import hashlib

    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity as S

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100

    K = S.KMEANS_K
    # vec_ids 0..K-1 are the deterministic init centroids: unit axes
    def axis(j, scale=10.0):
        v = [0.0] * K
        v[j] = scale
        return v

    rows = [(j, axis(j), "c") for j in range(K)]
    train_ids = [i for i in range(K, 4000) if bucket(i) < 90]
    test_ids = [i for i in range(K, 4000) if bucket(i) >= 90][:120]
    # training mass: uniform over clusters (vector sits ON its cluster axis,
    # tiny id-dependent jitter on another dim keeps rows distinct)
    for n, i in enumerate(train_ids[:960]):
        v = axis(n % K)
        v[(n + 1) % K] += 0.001 * (n % 7)
        rows.append((i, v, "t"))
    # held-out mass: ALL on cluster 7 — a hard population shift
    for n, i in enumerate(test_ids):
        v = axis(7)
        v[(7 + 1) % K] += 0.001 * (n % 7)
        rows.append((i, v, "h"))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    sf_dir = str(tmp_path / "driftsf")
    emb.coalesce(1).write.parquet(sf_dir + "/embeddings.parquet")

    got = {r.split: r for r in S.ext_embed_drift(spark, sf_dir).collect()}
    assert got["test"].drifted and got["test"].psi > 0.5
    # the baseline is the WHOLE corpus, shifted mass included, so the
    # in-distribution split reads slightly above zero — but nowhere near
    # the alert, and an order of magnitude under the shifted split
    assert not got["train"].drifted and got["train"].psi < 0.1
    assert got["train"].psi * 5 < got["test"].psi
    assert not got["train"].low_sample


def test_embed_drift_oracle_parity(spark, duck):
    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity as S
    from tests.conftest import compare_with_oracle

    compare_with_oracle(spark, duck, S.ext_embed_drift, S.ext_embed_drift_oracle())


# ---------------------------------------------------------------------------
# staged for r10 registration: ext_ann_ndcg_audit (round 9 — ranking-quality
# audit next to the recall audit; window rule defers registration)
# ---------------------------------------------------------------------------


def test_ann_ndcg_audit_matches_python_reference(spark):
    """Every emitted NDCG equals an independent float replay (math.log2
    discounts, no nano-quantization) within quantization tolerance, and
    the invariants hold: one row per batch query, ndcg in [0,1],
    retrieved-relevant <= min(k, corpus-relevant)."""
    import math

    from boletia_kubernetes_kafka_mongodb_spark import tables
    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity as S

    sf = "/root/testdata/sf0.001"
    got = {r.query_id: r for r in S.ext_ann_ndcg_audit(spark, sf).collect()}
    assert len(got) == S.N_BATCH_QUERIES

    emb = tables.load(spark, sf, "embeddings")
    labels = {
        r.vec_id: r.label
        for r in emb.where("embedding IS NOT NULL").select("vec_id", "label").collect()
    }
    ann: dict[int, list] = {}
    for r in S.ext_ann_ivf_batch(spark, sf).collect():
        ann.setdefault(r.query_id, []).append((r.rank, r.vec_id))

    for qid, row in got.items():
        qlabel = labels[qid]
        rq = sum(1 for v, l in labels.items() if l == qlabel and v != qid)
        assert row.n_relevant == rq
        rels = [
            (rank, 1 if labels[v] == qlabel else 0)
            for rank, v in sorted(ann.get(qid, []))
        ]
        assert row.n_relevant_retrieved == sum(r for _, r in rels)
        assert row.n_relevant_retrieved <= min(S.BATCH_TOPK, rq)
        if rq == 0:
            assert row.ndcg is None
            continue
        dcg = sum(r / math.log2(rank + 1) for rank, r in rels)
        idcg = sum(
            1 / math.log2(i + 1) for i in range(1, min(S.BATCH_TOPK, rq) + 1)
        )
        assert abs(row.ndcg - dcg / idcg) < 2e-6
        assert 0.0 <= row.ndcg <= 1.0


def test_ann_ndcg_audit_perfect_ranking_is_one():
    """Discount algebra sanity without a cluster: a fully-relevant top-k
    against a corpus with >= k relevant items scores exactly 1.0 under
    the quantized prefix table."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity as S

    full = sum(S._NDCG_DISC_NANO)
    assert S._NDCG_IDEAL_PREFIX[-1] == full
    assert round(full / full, 6) == 1.0
    # prefix table is strictly increasing and 1-indexed-aligned
    assert list(S._NDCG_IDEAL_PREFIX) == sorted(set(S._NDCG_IDEAL_PREFIX))
    assert len(S._NDCG_DISC_NANO) == S.BATCH_TOPK


def test_ann_ndcg_audit_oracle_parity(spark, duck):
    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity as S
    from tests.conftest import compare_with_oracle

    compare_with_oracle(
        spark, duck, S.ext_ann_ndcg_audit, S.ext_ann_ndcg_audit_oracle()
    )


def test_ann_index_promote_both_branches(spark):
    """The staged-promotion driver id (round-11 verdict #3) must exercise
    BOTH decision branches of ``IncrementalIvfIndex.rebase(audit=...)``
    against one live index: the farthest-list candidate is REJECTED and
    the committed manifest it leaves behind is the STANDING assignment;
    the nearest-list candidate under the same new quantizer is PROMOTED
    and the manifest flips to the NEW assignment. Fingerprints are
    re-derived independently from the assignment UDFs so a decision that
    physically leaked the wrong tree cannot pass."""
    import numpy as np

    from pyspark.sql import functions as F

    from boletia_kubernetes_kafka_mongodb_spark import tables
    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity as S

    rows = {r.candidate: r for r in S.ext_ann_index_promote(spark, SF_SMOKE).collect()}
    assert set(rows) == {"poisoned", "good"}
    p, g = rows["poisoned"], rows["good"]
    assert p.decision == "rejected" and g.decision == "promoted"
    assert p.audited_hits < S.PROMOTE_MIN_HITS <= g.audited_hits
    assert p.audited_recall == round(p.audited_hits / (S.PROMOTE_K * S.PROMOTE_NQ), 6)
    assert g.audited_recall == round(g.audited_hits / (S.PROMOTE_K * S.PROMOTE_NQ), 6)

    # independent fingerprint re-derivation, per assignment
    corpus = (
        tables.load(spark, SF_SMOKE, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    assign_std, _ = S.ivf_quantizer(spark, SF_SMOKE)
    C_new = S._promote_new_quantizer(spark, SF_SMOKE)

    def fprint(assigned):
        return int(
            assigned.agg(
                F.sum(F.col("vec_id") * (F.col("ivf_list").cast("long") + 1))
            ).first()[0]
        )

    fp_std = fprint(corpus.withColumn("ivf_list", assign_std("embedding")))
    fp_good = fprint(
        corpus.withColumn("ivf_list", S._make_assign_udf(C_new)("embedding"))
    )
    assert p.committed_fprint == fp_std  # rejection left the standing index
    assert g.committed_fprint == fp_good  # promotion landed the candidate
    assert fp_std != fp_good
    assert p.committed_rows == g.committed_rows == corpus.count()


def test_ann_index_promote_oracle_parity(spark, duck):
    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity as S
    from tests.conftest import compare_with_oracle

    compare_with_oracle(
        spark, duck, S.ext_ann_index_promote, S.ext_ann_index_promote_oracle()
    )


def test_embed_project_expr_matches_python_reference(spark):
    """Optimization round 13 (guide §7.3): the 8 projection folds are
    parsed from SQL strings (one 64-literal array each) instead of ~500
    py4j calls. The fold is a SEQUENTIAL left-to-right IEEE double sum, so
    a pure-python replay of the same order must agree bit-for-bit (compared
    post-round at the operator's own 6dp grain), including the norm_ratio
    guard for zero vectors."""
    import math

    from boletia_kubernetes_kafka_mongodb_spark import tables
    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity as S

    sf = "/root/testdata/sf0.001"
    out = {r.vec_id: r for r in S.ext_embed_project(spark, sf).collect()}
    emb = {
        r.vec_id: r.embedding
        for r in tables.load(spark, sf, "embeddings").collect()
        if r.embedding is not None and len(r.embedding) == S.RP_IN_DIM
    }
    assert set(out) == set(emb) and len(out) > 0
    signs = S.rp_sign_matrix()
    sqrt_m = math.sqrt(float(S.RP_OUT_DIM))
    for vid, x in emb.items():
        xs = [float(v) for v in x]
        ps = []
        for j in range(S.RP_OUT_DIM):
            acc = 0.0
            for a, b in zip(xs, signs[j]):
                acc += a * b
            ps.append(round(acc / sqrt_m, 6))
        row = out[vid]
        assert [getattr(row, f"p{j}") for j in range(S.RP_OUT_DIM)] == ps, vid
        nx = 0.0
        for v in xs:
            nx += v * v
        nx = math.sqrt(nx)
        ysq = 0.0
        for j in range(S.RP_OUT_DIM):
            ysq = ysq + ps[j] * ps[j]
        expect = round(math.sqrt(ysq) / nx, 6) if nx > 0 else None
        assert row.norm_ratio == expect, vid


def _kernel_reference(batches, Q, qids, k, probe_mask):
    """Brute force over each batch: every allowed row scored one at a time
    (python dot products), sorted by (rounded cosine DESC, vec_id ASC),
    the first k per query — the frames `topk_kernel` must yield."""
    import numpy as np

    out = []
    for pdf in batches:
        rows = []
        for q in range(len(Q)):
            scored = []
            for i in range(len(pdf)):
                vid = int(pdf["vec_id"].iloc[i])
                if vid == qids[q]:
                    continue
                if probe_mask is not None and not probe_mask[int(pdf["ivf_list"].iloc[i]), q]:
                    continue
                x = np.asarray(pdf["embedding"].iloc[i], dtype=np.float64)
                c = round(float(np.dot(x, Q[q]) / (np.sqrt(np.dot(x, x)) * np.sqrt(np.dot(Q[q], Q[q])))), 6)
                scored.append((-c, vid, int(pdf["label"].iloc[i])))
            rows += [(q, vid, lab, -nc) for nc, vid, lab in sorted(scored)[:k]]
        if rows:
            out.append(rows)
    return out


def test_topk_kernel_matches_numpy_brute_force():
    """The one per-batch top-k kernel (`similarity.topk_kernel`) against a
    row-at-a-time brute force on random batches: empty batches yield
    nothing, rounded-cosine ties (a row and its exact 2× copy) break on
    vec_id ASC, a query whose probe-mask column is all false gets no row,
    and a query's own id in the batch is never served to it."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(20261019)
    dim, n_lists = 5, 4
    seen = {"tie": 0, "self": 0, "empty": 0, "dark": 0}
    for trial in range(60):
        nq = int(rng.integers(1, 4))
        k = int(rng.integers(1, 5))
        Q = rng.normal(size=(nq, dim))
        qids = [int(v) for v in rng.choice(40, nq, replace=False)]
        mask = None
        if trial % 3:
            mask = rng.random((n_lists, nq)) < 0.6
            if trial % 3 == 2:
                mask[:, 0] = False  # query 0 probes no list at all
                seen["dark"] += 1
        batches = []
        for _ in range(int(rng.integers(1, 4))):
            n = int(rng.integers(0, 9))
            seen["empty"] += n == 0
            X = rng.normal(size=(n, dim))
            if n >= 3:
                X[1] = 2.0 * X[2]  # exactly the same cosine to every query
                seen["tie"] += 1
            ids = rng.choice(np.arange(40, 100), n, replace=False)
            if n and trial % 2:
                ids[0] = qids[-1]  # a query's own vector is in the batch
                seen["self"] += 1
            batches.append(
                pd.DataFrame(
                    {
                        "vec_id": ids.astype(np.int64),
                        "embedding": list(X),
                        "label": rng.integers(0, 5, n).astype(np.int32),
                        "ivf_list": rng.integers(0, n_lists, n).astype(np.int32),
                    }
                )
            )
        kernel = similarity.topk_kernel(Q, qids, k, mask, True)
        got = [
            [
                (int(r.query_id) if nq > 1 else 0, int(r.vec_id), int(r.label), float(r.cosine))
                for r in f.itertuples()
            ]
            for f in kernel(iter(batches))
        ]
        assert got == _kernel_reference(batches, Q, qids, k, mask), trial
        for frame in got:
            assert all(vid != qids[q] for q, vid, _, _ in frame)
            if mask is not None and trial % 3 == 2:
                assert all(q != 0 for q, _, _, _ in frame)
    assert all(seen.values()), seen

    # one query as a plain vector, no probe mask, no labels
    q = rng.normal(size=dim)
    batch = pd.DataFrame(
        {"vec_id": np.arange(6, dtype=np.int64), "embedding": list(rng.normal(size=(6, dim)))}
    )
    (frame,) = list(similarity.topk_kernel(q, [3], 2, None, False)(iter([batch])))
    assert list(frame.columns) == ["vec_id", "cosine"]  # one query: no query_id
    (want,) = _kernel_reference([batch.assign(label=0)], q[None, :], [3], 2, None)
    assert [(int(v), float(c)) for v, c in frame.itertuples(index=False)] == [
        (v, c) for _, v, _, c in want
    ]


def test_rounded_sqdist_argmin_matches_row_at_a_time_reference():
    """The one squared-distance argmin (`similarity.rounded_sqdist_argmin`,
    shared by k-means assign/partials and PQ training/encoding) against a
    row-at-a-time python reference on random batches. Coordinates sit on a
    0.25 grid, so every distance is exact and ties are real: a duplicated
    centroid row and points equidistant from two centroids must go to the
    LOWEST index. One-row batches are covered."""
    import numpy as np

    def reference(X, C):
        out = []
        for x in X.tolist():
            best = None
            for j, c in enumerate(C.tolist()):
                d = round(sum((a - b) ** 2 for a, b in zip(x, c)), 6)
                if best is None or d < best[1]:
                    best = (j, d)
            out.append(best)
        return out

    rng = np.random.default_rng(20261019)
    ties = one_row = 0
    for trial in range(80):
        dim = int(rng.integers(1, 6))
        k = int(rng.integers(1, 7))
        n = 1 if trial % 4 == 0 else int(rng.integers(2, 12))
        C = rng.integers(-4, 5, size=(k, dim)) / 4.0
        if k >= 3:
            C[2] = C[0]  # a duplicated centroid: index 0 must win
        X = rng.integers(-4, 5, size=(n, dim)) / 4.0
        idx, d2 = similarity.rounded_sqdist_argmin(X, C)
        want = reference(X, C)
        assert [(int(i), float(d)) for i, d in zip(idx, d2)] == want, trial
        one_row += n == 1
        for x in X:
            dists = sorted(round(float(((x - c) ** 2).sum()), 6) for c in C)
            ties += len(dists) > 1 and dists[0] == dists[1]
    assert ties > 0 and one_row > 0, (ties, one_row)
