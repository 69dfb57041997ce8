"""Similarity search over the ``embeddings`` table (SURVEY.md §2.9).

- ``ext_topk_similarity`` — brute-force cosine top-k: the exact baseline.
  Dot products via ``zip_with``/``aggregate`` higher-order functions (JVM,
  no UDF); top-k via ``row_number`` with a deterministic tie-break.
- ``ext_ann_lsh_topk`` — the scale path: sign-random-projection LSH,
  served from the write-time band-bucket layout. The probe reads only the
  query's bucket partitions (vectors sharing ≥1 band with the query) and
  re-ranks them exactly.
- ``ext_ann_ivf_topk`` / ``ext_ann_ivf_batch`` — IVF: a k-means-free
  deterministic coarse quantizer (the ``IVF_NLIST`` lowest-vec_id
  vectors), served from the list-partitioned layout; each query probes its
  ``IVF_NPROBE`` nearest lists only.
- PQ / IVFPQ, the index refresh and the recall-gated promotion build on
  the same pieces.

The ANN serve core: every rule below has one definition, used by every
serve, layout writer and audit.

- ``ivf_probe_mask`` — the IVF probe rule, a (lists × queries) mask.
- ``topk_kernel`` / ``_scored_topk`` — the per-batch top-k
  ``mapInPandas`` kernel and its window tail (IVF single query, IVF batch,
  and both sides of the promotion audit).
- ``_centroid_matrix`` — the centroid build of every quantizer;
  ``_make_assign_udf`` — the list assignment.
- ``srp_buckets`` — the SRP sign-bit bucket ids (layout UDF and query).
- ``_rerank_topk`` — the JVM exact re-rank tail (brute force, SRP, PQ).

The oracles re-derive each of these in SQL, so a fault in the shared code
shows as an oracle mismatch.

All cosine math is promoted to double before summation so the DuckDB oracle
(double list ops) agrees to ~1e-15; outputs round to 6 dp.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import cache, tables
from ..sources import layouts

TOPK = 10
QUERY_VEC_ID = 0
# 6 planes × 8 bands: for a cosine-0.45 neighbor (θ≈63°, per-plane agree
# p≈0.65) band-collision ≈ 0.65^6 ≈ 0.074 ⇒ recall ≈ 1-(1-0.074)^8 ≈ 0.46,
# while a random pair (p=0.5) collides ≈ 11.8% ⇒ ~88% of the corpus pruned.
# This synthetic corpus has no strong near-dups (max cosine ≈ 0.51), so the
# operating point is deliberately recall-leaning.
LSH_PLANES = 6      # hyperplanes per band
LSH_BANDS_ANN = 8   # bands (multi-probe)
IVF_NLIST = 16      # coarse centroids
IVF_NPROBE = 4


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cosine(a, b, norm_a, norm_b):
    return _dot(a, b) / (norm_a * norm_b)


def _with_norm(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id", "label", "embedding", F.sqrt(_dot("embedding", "embedding")).alias("norm")
    )


def query_vector(spark: SparkSession, sf_dir: str):
    """The fixed probe vector (vec_id = QUERY_VEC_ID) as a numpy array,
    fetched once (see `cache`) — every ANN serve
    needs it, and re-running the 1-row pushdown scan per probe bills a
    whole Spark job to each query for a value that cannot change while the
    dataset doesn't."""

    def _fetch():
        emb = tables.load(spark, sf_dir, "embeddings")
        return np.asarray(
            emb.where(F.col("vec_id") == QUERY_VEC_ID).select("embedding").first()[0],
            dtype=np.float64,
        )

    return cache.cached(spark, sf_dir, ("embeddings",), "query-vector", _fetch)


def _top_rows(scored: DataFrame, k: int, cols, by) -> DataFrame:
    """The ranking tail every top-k here ends with: ``row_number`` over
    (cosine DESC, vec_id ASC) — the oracles' tie-break — per ``by`` group,
    or one global window when ``by`` is empty; rows ranked ≤ ``k``."""
    w = Window.partitionBy(*by).orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*cols)
    )


def _query_frame(spark: SparkSession, q_vec) -> DataFrame:
    """The one-row (q_emb, q_norm) frame `_rerank_topk` broadcasts."""
    q = np.asarray(q_vec, dtype=np.float64)
    return spark.createDataFrame(
        [(q.tolist(), float(np.sqrt(q @ q)))], "q_emb: array<double>, q_norm: double"
    )


def _rerank_topk(cand: DataFrame, q: DataFrame) -> DataFrame:
    """The JVM exact re-rank tail: the rounded cosine of every ``cand`` row
    (vec_id, label, embedding) against the broadcast one-row query frame
    ``q`` (q_emb, q_norm), then the global top-``TOPK`` window. The
    brute-force baseline, the SRP serve and the PQ serve each pass their
    own candidates and query frame."""
    scored = _with_norm(cand).crossJoin(F.broadcast(q)).select(
        "vec_id",
        "label",
        F.round(
            _cosine("embedding", F.col("q_emb"), F.col("norm"), F.col("q_norm")), 6
        ).alias("cosine"),
    )
    return _top_rows(scored, TOPK, ("rank", "vec_id", "label", "cosine"), ())


def ext_topk_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k neighbors of the query vector (vec_id=0).

    Plan shape: 1-row broadcast (query) × full scan (corpus) → narrow map →
    ``row_number`` over a single global window of k candidates. At scale the
    window is the only ordering step and operates on per-partition top-k
    prefilters if extended; the scan itself never shuffles.
    """
    emb = tables.load(spark, sf_dir, "embeddings", fan=True)
    q = _with_norm(emb).where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb"), F.col("norm").alias("q_norm")
    )
    return _rerank_topk(emb.where(F.col("vec_id") != QUERY_VEC_ID), q)


def ext_topk_similarity_oracle() -> str:
    return f"""
        SELECT rank, vec_id, label, cosine FROM (
            SELECT row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank,
                   vec_id, label, cosine
            FROM (
                SELECT e.vec_id, e.label,
                       ROUND(list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[])
                             / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                                * sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 6) AS cosine
                FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
                WHERE e.vec_id != {QUERY_VEC_ID}
            )
        ) WHERE rank <= {TOPK}
    """


N_BATCH_QUERIES = 8
BATCH_TOPK = 3


def ext_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched similarity search: top-k neighbors for a query SET.

    The realistic serving shape — N query vectors against the corpus in one
    pass: broadcast the (tiny) query set, score corpus×queries, then a
    ``row_number`` window PARTITIONED BY query (per-key windows parallelize;
    the single-query variant's global window is the only serial point).
    """
    emb = _with_norm(tables.load(spark, sf_dir, "embeddings", fan=True))
    queries = emb.where(F.col("vec_id") < N_BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                _cosine("embedding", F.col("q_emb"), F.col("norm"), F.col("q_norm")), 6
            ).alias("cosine"),
        )
    )
    return _top_rows(
        scored, BATCH_TOPK, ("query_id", "rank", "vec_id", "cosine"), ("query_id",)
    )


def ext_topk_batch_oracle() -> str:
    return f"""
        SELECT query_id, rank, vec_id, cosine FROM (
            SELECT q.vec_id AS query_id,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY ROUND(list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[])
                                            / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                                               * sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 6) DESC,
                                               e.vec_id ASC) AS rank,
                   e.vec_id,
                   ROUND(list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                            * sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 6) AS cosine
            FROM embeddings e
            CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_BATCH_QUERIES}) q
            WHERE e.vec_id != q.vec_id
        ) WHERE rank <= {BATCH_TOPK}
    """


# ---------------------------------------------------------------------------
# The ANN serve core
# ---------------------------------------------------------------------------


def rounded_cosines(A, B):
    """The (rows of A × rows of B) cosine matrix rounded to 6dp — the
    cross-engine grain every numpy kernel here ranks by: summation-order
    drift between numpy's matmul and DuckDB's sequential
    ``list_dot_product`` vanishes under the rounding."""
    A = np.atleast_2d(np.asarray(A, dtype=np.float64))
    B = np.atleast_2d(np.asarray(B, dtype=np.float64))
    norms = np.sqrt((A * A).sum(axis=1))[:, None] * np.sqrt((B * B).sum(axis=1))[None, :]
    return np.round((A @ B.T) / norms, 6)


def rounded_sqdist_argmin(X, C):
    """Each row of ``X``'s nearest row of ``C`` by squared euclidean
    distance rounded to 6dp, ties to the LOWEST index: ``(index, distance)``
    arrays, one entry per row of ``X``. Rounding before the argmin makes
    the assignment identical under any summation order — the grain the
    k-means and PQ oracles re-derive in DuckDB."""
    X = np.asarray(X, dtype=np.float64)
    C = np.asarray(C, dtype=np.float64)
    d2 = np.round(((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), 6)
    idx = d2.argmin(axis=1)
    return idx, d2[np.arange(len(idx)), idx]


def ivf_probe_mask(C, Q):
    """The IVF probe rule: a (lists × queries) bool mask, True where list
    ``l`` is one of query ``q``'s IVF_NPROBE nearest centroids.

    Nearness is the 6dp-ROUNDED cosine, ties to the lowest cid (a stable
    argsort of the cid-ordered ``C``) — the oracles'
    ``row_number(sim DESC, cid ASC)`` exactly. ``Q`` is one query vector
    or a (queries × D) matrix; resolving the probes is an NL × NQ numpy
    product on the driver."""
    sims = rounded_cosines(C, Q)
    mask = np.zeros(sims.shape, dtype=bool)
    nearest = np.argsort(-sims, axis=0, kind="stable")[:IVF_NPROBE]
    np.put_along_axis(mask, nearest, True, axis=0)
    return mask


def topk_kernel(Q, qids, k: int, probe_mask, labels: bool):
    """The per-batch top-k ``mapInPandas`` kernel of every IVF-family serve
    (FAISS IVFFlat's scan shape).

    Each Arrow batch of (vec_id, embedding[, label][, ivf_list]) is scored
    against every row of the query matrix ``Q`` with ONE numpy matmul, and
    only each query's top ``k`` rows leave the batch — a bounded heap per
    batch, so the final window sorts ≤ k rows per batch instead of every
    probed row. A row may serve query ``q`` iff its vec_id is not
    ``qids[q]`` (self-exclusion) and, given a ``probe_mask`` (lists ×
    queries), its ``ivf_list`` is probed for ``q``. Emits
    ([query_id, ]vec_id[, label], cosine), ``query_id`` being the query's
    row index in ``Q`` — left out when ``Q`` holds one query.

    The global top-k of per-batch top-ks is exactly the top-k over all
    rows, with the same 6dp rounding and (cosine DESC, vec_id ASC)
    tie-break, so the `_sql_rerank_topk` oracles hold. numpy-matmul vs
    DuckDB ``list_dot_product`` parity at 6dp is the same contract the
    assignment kernels rely on."""
    Q = np.atleast_2d(np.asarray(Q, dtype=np.float64))
    qids = np.asarray(qids, dtype=np.int64)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            cos = rounded_cosines([np.asarray(e) for e in pdf["embedding"]], Q)
            ok = ids[:, None] != qids[None, :]
            if probe_mask is not None:
                ok &= probe_mask[pdf["ivf_list"].to_numpy().astype(np.int64)]
            # lexsort: last key is primary — (-cos) asc == cosine desc,
            # vec_id asc breaks ties (the oracle's row_number order)
            tops = [
                rows[np.lexsort((ids[rows], -cos[rows, q]))][:k]
                for q, rows in enumerate(np.nonzero(c)[0] for c in ok.T)
            ]
            qcol = np.repeat(np.arange(len(tops), dtype=np.int64), [len(t) for t in tops])
            if qcol.size == 0:
                continue
            sel = np.concatenate(tops)
            out = {"query_id": qcol} if len(Q) > 1 else {}
            out["vec_id"] = ids[sel]
            if labels:
                out["label"] = pdf["label"].to_numpy()[sel]
            out["cosine"] = cos[sel, qcol]
            yield pd.DataFrame(out)

    return score


def _scored_topk(
    cand: DataFrame, Q, qids, k: int, probe_mask, labels: bool
) -> DataFrame:
    """`topk_kernel` over ``cand`` plus the ranking tail:
    ([query_id, ]rank, vec_id[, label], cosine), ≤ ``k`` rows per query.
    One query ranks in a single global window; several rank per
    query_id."""
    key = ["query_id"] if np.atleast_2d(Q).shape[0] > 1 else []
    carry = ["label"] if labels else []
    lists = ["ivf_list"] if probe_mask is not None else []
    schema = ", ".join(
        [f"{c} long" for c in key + ["vec_id"]] + [f"{c} int" for c in carry] + ["cosine double"]
    )
    partial = cand.select("vec_id", "embedding", *carry, *lists).mapInPandas(
        topk_kernel(Q, qids, k, probe_mask, labels), schema
    )
    return _top_rows(partial, k, key + ["rank", "vec_id"] + carry + ["cosine"], key)


def _centroid_matrix(rows: DataFrame):
    """The one centroid build of every IVF quantizer: the IVF_NLIST
    lowest-vec_id non-null embeddings of ``rows`` as an (NL × D) matrix,
    row index = cid (rank position). Each quantizer differs only in the
    rows it passes."""
    got = (
        rows.where(F.col("embedding").isNotNull())
        .orderBy("vec_id")
        .limit(IVF_NLIST)
        .select("embedding")
        .collect()
    )
    return np.array([r.embedding for r in got], dtype=np.float64)


def _make_assign_udf(C, farthest: bool = False):
    """Arrow-batched assignment to the nearest (or, for the poisoned
    candidate, the FARTHEST) of the captured centroids — 6dp-rounded
    cosine before the arg pick, ties to the lowest cid, the cross-engine
    convention every IVF oracle here uses. Rounding BEFORE the pick makes
    the assignment identical under any summation order, so the DuckDB
    oracle (sequential list ops) and the numpy matmul (pairwise) agree
    exactly. The one IVF quantizer UDF: the layout, the standing index and
    the re-index all wrap their centroid matrix here."""
    C = np.asarray(C, dtype=np.float64)

    @F.pandas_udf("long")
    def assign(emb_s: pd.Series) -> pd.Series:
        if len(emb_s) == 0:
            return pd.Series([], dtype="int64")
        sims = rounded_cosines([np.asarray(e) for e in emb_s], C)
        pick = np.argmin(sims, axis=1) if farthest else np.argmax(sims, axis=1)
        return pd.Series(pick.astype("int64"))

    return assign


def _quantizer(spark: SparkSession, sf_dir: str, tag: str, rows):
    """(assign_udf, C) over the centroids `_centroid_matrix` picks from
    the embeddings rows matching ``rows``; cached per session (see
    `cache`) — the quantizer is part of the index, fixed when its layout
    was written, so re-collecting it per probe would bill index
    construction to every query."""

    def build():
        C = _centroid_matrix(tables.load(spark, sf_dir, "embeddings").where(rows))
        return _make_assign_udf(C), C

    return cache.cached(spark, sf_dir, ("embeddings",), tag, build)


def ivf_quantizer(spark: SparkSession, sf_dir: str):
    """The serving quantizer of ``ext_ann_ivf_topk``'s layout: centroids =
    the vectors with vec_id < IVF_NLIST, cid = vec_id. Returns
    (assign_udf, C)."""
    return _quantizer(spark, sf_dir, "ivf-quantizer", F.col("vec_id") < IVF_NLIST)


def _hyperplanes(dim: int):
    """Deterministic ±1 sign-random-projection hyperplanes, a
    (LSH_BANDS_ANN·LSH_PLANES × dim) matrix.

    Weights derive from md5(plane:dim) parity — reproducible across runs and
    sessions with no stored model, so the same matrix serves the
    layout's bucket UDF and the query side.
    """
    import hashlib

    return np.array(
        [
            [
                1.0 if hashlib.md5(f"{j}:{d}".encode()).digest()[0] % 2 == 0 else -1.0
                for d in range(dim)
            ]
            for j in range(LSH_BANDS_ANN * LSH_PLANES)
        ]
    )


def srp_buckets(X, H):
    """The SRP sign-bit codes: an (n × LSH_BANDS_ANN) matrix of the bucket
    ids of the rows of ``X`` under hyperplanes ``H``.

    Bucket id = band * 2^LSH_PLANES + code, where code packs the band's
    sign bits little-endian (bit p = [x·H[band*P+p] ≥ 0]). The layout's
    bucket UDF and the query side both call this, so layout and probe
    cannot disagree on bucket membership."""
    X = np.atleast_2d(np.asarray(X, dtype=np.float64))
    bits = (X @ H.T >= 0).reshape(len(X), LSH_BANDS_ANN, LSH_PLANES)
    codes = (bits * (1 << np.arange(LSH_PLANES, dtype=np.int64))).sum(axis=2)
    return codes + np.arange(LSH_BANDS_ANN, dtype=np.int64) * (1 << LSH_PLANES)


# ---------------------------------------------------------------------------
# SRP-LSH
# ---------------------------------------------------------------------------


def ext_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via sign-random-projection LSH, served from the write-time
    band-bucket layout.

    Candidates = vectors agreeing with the query on ALL planes of ≥1 of the
    8 bands. The band codes are precomputed at write time
    (`write_srp_band_layout`: embeddings replicated once per band,
    Hive-partitioned by ``srp_bucket``); the probe reads ONLY the query's 8
    bucket partitions — partition pruning at planning time, no full-corpus
    scan. Exact cosine re-rank on candidates only (`_rerank_topk`).

    Oracle-backed: unlike MinHash banding (seeded with Spark's xxhash64),
    the SRP hyperplanes derive from md5 parity — fully engine-independent —
    so DuckDB recomputes the same band codes, candidate set and re-rank
    (`ext_ann_lsh_topk_oracle`). The one cross-engine float hazard is the
    SIGN of a hyperplane dot product computed by numpy matmul
    (`srp_buckets`, pairwise summation) vs `list_dot_product` (oracle,
    sequential): a dot within ~1e-13 of zero could flip — probability
    ~1e-14 per (vector, plane) on this data; accepted and documented.
    Recall vs brute force additionally asserted in tests/test_similarity.py.
    """
    return ann_lsh_serve(spark, sf_dir, ensure_srp_layout(spark, sf_dir))


def ann_lsh_serve(spark: SparkSession, sf_dir: str, layout_path: str) -> DataFrame:
    """`ext_ann_lsh_topk` over the SRP layout at ``layout_path``: read the
    query's bucket partitions, drop the cross-band duplicates (on the
    pruned, tiny candidate set, not the corpus), re-rank exactly.

    A vector agrees with the query on all planes of ≥1 band ⟺ it lives in
    ≥1 of the query's bucket partitions, so the candidate set is the
    declarative one the oracle computes."""
    q_vec = query_vector(spark, sf_dir)
    buckets = srp_buckets(q_vec, _hyperplanes(len(q_vec)))[0]
    cand = (
        layouts.read_partitions(spark, layout_path, "srp_bucket", sorted(buckets))
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", "embedding")
        .dropDuplicates(["vec_id"])
    )
    return _rerank_topk(cand, _query_frame(spark, q_vec))


def _sql_rerank_topk(cand_cte: str) -> str:
    """Shared oracle tail for the three ANN probes: exact rounded-cosine
    re-rank of ``cand_cte`` (a CTE with a ``vec_id`` column) against the
    query vector, row_number tie-broken on vec_id — ONE definition so a
    tie-break or rounding-grain change cannot drift between oracles."""
    return f"""scored AS (
            SELECT e.vec_id, e.label,
                   ROUND(list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                            * sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 6) AS cosine
            FROM embeddings e
            JOIN {cand_cte} ON {cand_cte}.vec_id = e.vec_id
            CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
        )
        SELECT rank, vec_id, label, cosine FROM (
            SELECT row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank, *
            FROM scored
        ) WHERE rank <= {TOPK}"""


def ext_ann_lsh_topk_oracle() -> str:
    """DuckDB re-derivation of the full SRP pipeline: md5-parity hyperplane
    weights -> per-band sign codes -> candidates sharing >=1 band with the
    query -> exact rounded-cosine re-rank (same tie-breaks).

    BAKES dim = 64 (DuckDB's generate_series cannot take a subquery bound);
    the Spark side derives dim from data, so a re-dimensioned fixture would
    silently desynchronize — tests/test_similarity.py pins dim == 64 at
    every SF to make that loud."""
    p, b, qid, dim = LSH_PLANES, LSH_BANDS_ANN, QUERY_VEC_ID, 64
    return f"""
        WITH planes AS (
            SELECT j, list(CASE WHEN CAST(concat('0x', substr(md5(j || ':' || d), 1, 2)) AS INTEGER) % 2 = 0
                                THEN 1.0 ELSE -1.0 END ORDER BY d) AS w
            FROM generate_series(0, {b * p - 1}) t1(j), generate_series(0, {dim - 1}) t2(d)
            GROUP BY j
        ),
        bits AS (
            SELECT e.vec_id, p.j // {p} AS band, p.j % {p} AS plane,
                   (list_dot_product(e.embedding::DOUBLE[], p.w) >= 0) AS bit
            FROM embeddings e CROSS JOIN planes p
        ),
        codes AS (
            SELECT vec_id, band,
                   CAST(SUM(CASE WHEN bit THEN 1 << plane ELSE 0 END) AS BIGINT) AS code
            FROM bits GROUP BY vec_id, band
        ),
        qcodes AS (SELECT band, code FROM codes WHERE vec_id = {qid}),
        cand AS (
            SELECT DISTINCT c.vec_id
            FROM codes c JOIN qcodes q ON c.band = q.band AND c.code = q.code
            WHERE c.vec_id != {qid}
        ),
        {_sql_rerank_topk("cand")}
    """


def write_srp_band_layout(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """Persist embeddings replicated once per band, Hive-partitioned by
    ``srp_bucket`` (band × 2^planes directories).

    The LSH analogue of `write_ivf_layout`: storage pays the B-way
    replication once at write time; a probe then reads EXACTLY the query's
    B bucket partitions. The bucket UDF is one (rows × D) @ (D × B·P)
    matmul per Arrow batch (`srp_buckets`); the hyperplane matrix is
    resolved once on the driver and captured as a numpy array."""
    emb = tables.load(spark, sf_dir, "embeddings")
    H = _hyperplanes(len(emb.select("embedding").first()[0]))

    @F.pandas_udf("array<long>")
    def bucket_ids(emb_s: pd.Series) -> pd.Series:
        if len(emb_s) == 0:
            return pd.Series([], dtype=object)
        return pd.Series(list(srp_buckets([np.asarray(e) for e in emb_s], H)))

    (
        emb.select(
            "vec_id", "label", "embedding",
            F.explode(bucket_ids("embedding")).alias("srp_bucket"),
        )
        .repartition("srp_bucket")
        .write.mode("overwrite")
        .partitionBy("srp_bucket")
        .parquet(out_path)
    )


def ensure_srp_layout(spark: SparkSession, sf_dir: str) -> str:
    """The committed SRP band-bucket layout for ``sf_dir`` (a
    ``cache.artifact``, written on first use) — the one-time indexing
    cost; every probe afterwards is an 8-partition pruned scan."""
    return cache.artifact(
        spark, sf_dir, ("embeddings",), "srp_layout_v2",
        lambda path: write_srp_band_layout(spark, sf_dir, path),
    )


# ---------------------------------------------------------------------------
# IVF
# ---------------------------------------------------------------------------


def ext_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via an IVF coarse quantizer, served from the write-time
    partitioned layout.

    The IVF index is a STORAGE property: embeddings persist partitioned by
    their coarse-quantizer list id (`write_ivf_layout`, built lazily once
    per sf_dir here), and the probe reads only the query's IVF_NPROBE
    nearest lists — partition pruning at planning time, zero per-row
    filtering, the parquet analogue of a FAISS IVF index. Oracle-backed:
    centroids are deterministic (vec_id < IVF_NLIST) and the assignment
    rounds cosine similarities to 6dp BEFORE the argmax on both engines,
    so DuckDB re-derives the identical lists, probe set and re-rank
    (`ext_ann_ivf_topk_oracle`). Recall asserted in tests, partition
    pruning and oracle equality of the layout pinned in
    tests/test_layouts.py.
    """
    path = ensure_ivf_layout(spark, sf_dir)
    return ann_ivf_serve(spark, sf_dir, path, ivf_quantizer(spark, sf_dir)[1])


def ann_ivf_serve(spark: SparkSession, sf_dir: str, layout_path: str, C) -> DataFrame:
    """The one IVF serve: `ext_ann_ivf_topk` over any list-partitioned
    layout whose ``ivf_list`` was assigned by centroids ``C`` — the
    one-shot layout with the serving quantizer, or the refreshed layout
    with the frozen standing quantizer. Reads the query's probe lists
    (`ivf_probe_mask`) and scores them with `topk_kernel`."""
    q_vec = query_vector(spark, sf_dir)
    probe = np.nonzero(ivf_probe_mask(C, q_vec)[:, 0])[0]
    cand = layouts.read_partitions(spark, layout_path, "ivf_list", probe).where(
        F.col("vec_id") != QUERY_VEC_ID
    )
    return _scored_topk(cand, q_vec, [QUERY_VEC_ID], TOPK, None, True)


def write_ivf_layout(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """Persist embeddings partitioned by IVF list id (`ivf_list=<k>/` dirs).

    The write-time cost every vector index pays once; afterwards any probe
    is a partition-pruned scan. Hive-style partitioning means the list id
    never occupies row space — it lives in the directory name.
    """
    assign, _ = ivf_quantizer(spark, sf_dir)
    emb = tables.load(spark, sf_dir, "embeddings")
    (
        emb.withColumn("ivf_list", assign("embedding"))
        .write.mode("overwrite")
        .partitionBy("ivf_list")
        .parquet(out_path)
    )


def ensure_ivf_layout(spark: SparkSession, sf_dir: str) -> str:
    """The committed IVF-partitioned embedding layout for ``sf_dir`` (a
    ``cache.artifact``, written on first use). The write is the one-time
    indexing cost every vector index pays; every subsequent probe is a
    pruned scan."""
    # v2: assignment rounds similarities to 6dp before argmax (cross-engine
    # determinism) — v1 layouts used unrounded argmax
    return cache.artifact(
        spark, sf_dir, ("embeddings",), "ivf_layout_v2",
        lambda path: write_ivf_layout(spark, sf_dir, path),
    )


def ext_ann_ivf_topk_oracle() -> str:
    """DuckDB re-derivation of the IVF probe: deterministic centroids
    (vec_id < IVF_NLIST), cosine assignment with 6dp rounding before the
    argmax (identical to the layout quantizer), probe the query's
    IVF_NPROBE nearest lists, exact rounded-cosine re-rank."""
    nl, npb, qid = IVF_NLIST, IVF_NPROBE, QUERY_VEC_ID
    cos = """ROUND(list_dot_product(e.embedding::DOUBLE[], c.cvec)
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(c.cvec, c.cvec))), 6)"""
    return f"""
        WITH cent AS (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
            FROM embeddings WHERE vec_id < {nl}
        ),
        sims AS (
            SELECT e.vec_id, c.cid, {cos} AS sim
            FROM embeddings e CROSS JOIN cent c
        ),
        assign AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cid ASC) AS rk
                FROM sims
            ) WHERE rk = 1
        ),
        qprobe AS (
            SELECT cid FROM (
                SELECT cid, row_number() OVER (ORDER BY sim DESC, cid ASC) AS rk
                FROM sims WHERE vec_id = {qid}
            ) WHERE rk <= {npb}
        ),
        cand AS (
            SELECT a.vec_id FROM assign a JOIN qprobe USING (cid)
            WHERE a.vec_id != {qid}
        ),
        {_sql_rerank_topk("cand")}
    """


def ext_ann_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN over the IVF layout: the N_BATCH_QUERIES query set
    served from ONE partition-pruned scan — the ANN counterpart of
    ``ext_topk_batch``'s brute-force batch (same query set, same output
    shape, same tie-breaks).

    The batch-inference serve shape at 100 TB: resolve each query's
    IVF_NPROBE lists driver-side (`ivf_probe_mask`, an NL×NQ numpy product
    over the cached centroid matrix), scan the UNION of probe partitions
    once, and score every batch with ONE (rows × queries) matmul
    (`topk_kernel`) — each row's probe-membership mask decides which
    queries it may serve, and only the per-query top-k leaves a batch, so
    the final per-query windows sort ≤ k rows per batch, not the probed
    lists. Amortization is the point: N queries cost one scan + one
    matmul column each, not N scans. ``query_id`` is the query's position
    in the vec_id-ordered query set (= its vec_id on the fixture).

    Oracle: the single-query IVF CTE program generalized — the same
    ``sims`` frame ranks every query's probe lists (queries are corpus
    rows), candidates join assignment × per-query probes, exact rounded
    re-rank partitioned by query.
    """
    path = ensure_ivf_layout(spark, sf_dir)
    _, C = ivf_quantizer(spark, sf_dir)
    emb = tables.load(spark, sf_dir, "embeddings")
    qrows = sorted(
        emb.where(F.col("vec_id") < N_BATCH_QUERIES)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    Q = np.array([r.embedding for r in qrows], dtype=np.float64)  # (NQ, D)
    probe_mask = ivf_probe_mask(C, Q)
    cand = layouts.read_partitions(
        spark, path, "ivf_list", np.nonzero(probe_mask.any(axis=1))[0]
    )
    return _scored_topk(cand, Q, [r.vec_id for r in qrows], BATCH_TOPK, probe_mask, False)


def ext_ann_ivf_batch_oracle() -> str:
    """DuckDB re-derivation: the single-query IVF probe program with the
    query dimension kept — per-query probe ranks come from the same
    ``sims`` frame (queries are corpus rows vec_id < NQ), candidates =
    assignment × per-query probe lists, exact rounded-cosine re-rank
    partitioned by query with the standard tie-break."""
    nl, npb = IVF_NLIST, IVF_NPROBE
    nq, k = N_BATCH_QUERIES, BATCH_TOPK
    cos = """ROUND(list_dot_product(e.embedding::DOUBLE[], c.cvec)
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(c.cvec, c.cvec))), 6)"""
    return f"""
        WITH cent AS (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
            FROM embeddings WHERE vec_id < {nl}
        ),
        sims AS (
            SELECT e.vec_id, c.cid, {cos} AS sim
            FROM embeddings e CROSS JOIN cent c
        ),
        assign AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cid ASC) AS rk
                FROM sims
            ) WHERE rk = 1
        ),
        qprobe AS (
            SELECT qid, cid FROM (
                SELECT vec_id AS qid, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cid ASC) AS rk
                FROM sims WHERE vec_id < {nq}
            ) WHERE rk <= {npb}
        ),
        cand AS (
            SELECT p.qid, a.vec_id
            FROM assign a JOIN qprobe p USING (cid)
            WHERE a.vec_id != p.qid
        ),
        scored AS (
            SELECT c.qid AS query_id, e.vec_id,
                   ROUND(list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                            * sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 6) AS cosine
            FROM cand c
            JOIN embeddings e ON e.vec_id = c.vec_id
            JOIN embeddings q ON q.vec_id = c.qid
        )
        SELECT query_id, rank, vec_id, cosine FROM (
            SELECT query_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id ASC) AS rank,
                   vec_id, cosine
            FROM scored
        ) WHERE rank <= {k}
    """


def ext_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit for the IVF ANN serve — the accuracy-audit family
    member for similarity search (the `ext_dedup_minhash_accuracy` /
    `ext_quality_calibration` pattern: every approximate operator ships
    with a driver-checked measurement of what the approximation costs).

    Per batch query: |ANN top-k ∩ exact top-k| / k, where the ANN side is
    the partition-pruned IVF batch serve (`ext_ann_ivf_batch`) and the
    exact side is the brute-force batch (`ext_topk_batch`) — the two
    operators a user would actually compare, invoked through their own
    code paths so the audit can never drift from what serves. Queries the
    probe missed entirely surface as recall 0 rows, not absent rows.

    Determinism: both sides rank by 6dp-rounded cosine with the identical
    (cosine DESC, vec_id ASC) tie-break, so the intersection count is
    exact cross-engine and the audit carries a full value-hash oracle
    (both CTE programs composed under one WITH).

    Scale: the ANN side is the pruned probe; the exact side is the
    brute-force reference — necessarily one linear scan per audit, which
    is the honest price of measuring recall (run on a sampled query set
    in production; here the fixed batch IS the sample).
    """
    ann = ext_ann_ivf_batch(spark, sf_dir).select(
        "query_id", "vec_id", F.lit(1).alias("_hit")
    )
    exact = ext_topk_batch(spark, sf_dir).select("query_id", "vec_id")
    # optimization round 13 (guide §2.4): the exact side previously fed
    # TWO branches (the hits inner join and the per-query list-size
    # denominator), so the brute-force reference scan — the audit's one
    # expensive pass — executed once per branch. One LEFT join of the
    # (rank-sized, broadcast) ANN list onto the exact list now computes
    # both in a single aggregation: every exact row counts toward k, the
    # matched ones toward hits. Denominator semantics unchanged (the
    # exact side's ACTUAL per-query list size, round-7 ADVICE).
    return (
        exact.join(F.broadcast(ann), ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.count("_hit").cast("long").alias("hits"),
        )
        .select(
            "query_id",
            "k",
            "hits",
            F.round(
                F.col("hits").cast("double") / F.col("k").cast("double"), 6
            ).alias("recall"),
        )
    )


def ext_ann_recall_audit_oracle() -> str:
    """The two batch CTE programs composed under one WITH (DuckDB allows a
    nested WITH as a CTE body), joined on (query_id, vec_id). The
    denominator is the exact side's actual per-query list size (round-7
    ADVICE), mirroring the engine."""
    return f"""
        WITH ann AS ({ext_ann_ivf_batch_oracle()}),
        exact AS ({ext_topk_batch_oracle()}),
        hits AS (
            SELECT a.query_id, CAST(COUNT(*) AS BIGINT) AS h
            FROM ann a JOIN exact e
              ON e.query_id = a.query_id AND e.vec_id = a.vec_id
            GROUP BY a.query_id
        )
        SELECT q.query_id,
               q.k,
               COALESCE(h.h, 0) AS hits,
               ROUND(CAST(COALESCE(h.h, 0) AS DOUBLE)
                     / CAST(q.k AS DOUBLE), 6) AS recall
        FROM (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k
              FROM exact GROUP BY query_id) q
        LEFT JOIN hits h ON h.query_id = q.query_id
    """


# NDCG rank discounts 1/log2(i+1), i = 1..BATCH_TOPK, quantized to BIGINT
# nano-units ONCE in python — both the Spark expression and the oracle SQL
# embed the SAME integer literals, so no engine evaluates a transcendental
# and the discounted sums are order-independent integer arithmetic.
_NDCG_DISC_NANO = tuple(
    int(round(1e9 / __import__("math").log2(i + 1)))
    for i in range(1, BATCH_TOPK + 1)
)
_NDCG_IDEAL_PREFIX = tuple(
    sum(_NDCG_DISC_NANO[: i + 1]) for i in range(len(_NDCG_DISC_NANO))
)


def ext_ann_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k ranking-quality audit for the IVF ANN serve — the audit
    family member `ext_ann_recall_audit` doesn't cover: recall asks "did
    the right ids surface", NDCG asks "did they surface in the right
    ORDER, weighted toward the top" — the number a retrieval stack reports
    next to recall before shipping an index.

    Relevance is the label signal the fixture carries (binary: a
    retrieved vector is relevant iff it shares the query vector's
    ``label`` — the `ext_knn_label_transfer` convention). Per batch
    query: DCG@k over the ANN ranking with 1/log2(rank+1) discounts,
    normalized by the ideal DCG given the corpus's actual relevant count
    (min(k, R_q) top slots filled). Queries the probe missed entirely
    surface as ndcg 0 rows; queries with NO relevant vector anywhere in
    the corpus surface with NULL ndcg (undefined, and visibly so, on
    both engines).

    Determinism: the discounts are BIGINT nano-unit literals generated
    once and embedded in BOTH engines' programs (no runtime log2
    anywhere), so DCG/IDCG are order-independent integer sums and the
    final value is ONE IEEE-exact division, 6dp. Scale: the ANN side is
    the pruned probe serve; relevance joins are a broadcast of the
    NQ-row query-label frame plus one label-equality count per query —
    no brute-force reference scan at all (cheaper than the recall audit,
    which is the point: NDCG-with-labels audits CAN run on every
    deployment batch).
    """
    emb = tables.load(spark, sf_dir, "embeddings")
    labels = emb.where(F.col("embedding").isNotNull()).select("vec_id", "label")
    qlab = labels.where(F.col("vec_id") < N_BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    ann = ext_ann_ivf_batch(spark, sf_dir).select("query_id", "rank", "vec_id")
    disc = F.element_at(
        F.lit(list(_NDCG_DISC_NANO)).cast("array<long>"), F.col("rank")
    )
    dcg = (
        ann.join(F.broadcast(qlab), "query_id")
        .join(labels, "vec_id")
        .select(
            "query_id",
            (F.col("label") == F.col("qlabel")).cast("long").alias("rel"),
            disc.alias("disc"),
        )
        .groupBy("query_id")
        .agg(
            F.sum(F.col("rel") * F.col("disc")).cast("long").alias("dcg_n"),
            F.sum("rel").cast("long").alias("n_relevant_retrieved"),
        )
    )
    # corpus relevant pool per query (self excluded): one broadcast
    # label-equality count — NQ × corpus narrow compare, no distances
    rq = (
        labels.join(F.broadcast(qlab), labels["label"] == qlab["qlabel"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_relevant"))
    )
    ideal = F.element_at(
        F.lit(list(_NDCG_IDEAL_PREFIX)).cast("array<long>"),
        F.least(F.col("n_relevant"), F.lit(BATCH_TOPK)).cast("int"),
    )
    return (
        qlab.select("query_id")
        .join(F.broadcast(rq), "query_id", "left")
        .join(F.broadcast(dcg), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_relevant", F.lit(0)).cast("long").alias("n_relevant"),
            F.coalesce("n_relevant_retrieved", F.lit(0))
            .cast("long")
            .alias("n_relevant_retrieved"),
            F.when(
                F.coalesce("n_relevant", F.lit(0)) > 0,
                F.round(
                    F.coalesce("dcg_n", F.lit(0)).cast("double")
                    / ideal.cast("double"),
                    6,
                ),
            ).alias("ndcg"),
        )
    )


def ext_ann_ndcg_audit_oracle() -> str:
    disc_rows = ", ".join(
        f"({i + 1}, {d})" for i, d in enumerate(_NDCG_DISC_NANO)
    )
    prefix_rows = ", ".join(
        f"({i + 1}, {p})" for i, p in enumerate(_NDCG_IDEAL_PREFIX)
    )
    return f"""
        WITH ann AS ({ext_ann_ivf_batch_oracle()}),
        disc(rank, d) AS (VALUES {disc_rows}),
        ideal(m, idcg_n) AS (VALUES {prefix_rows}),
        labels AS (
            SELECT vec_id, label FROM embeddings WHERE embedding IS NOT NULL
        ),
        qlab AS (
            SELECT vec_id AS query_id, label AS qlabel
            FROM labels WHERE vec_id < {N_BATCH_QUERIES}
        ),
        dcg AS (
            SELECT a.query_id,
                   CAST(SUM(CASE WHEN l.label = q.qlabel THEN dc.d ELSE 0 END)
                        AS BIGINT) AS dcg_n,
                   CAST(SUM(CASE WHEN l.label = q.qlabel THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_relevant_retrieved
            FROM ann a
            JOIN qlab q ON q.query_id = a.query_id
            JOIN labels l ON l.vec_id = a.vec_id
            JOIN disc dc ON dc.rank = a.rank
            GROUP BY a.query_id
        ),
        rq AS (
            SELECT q.query_id, CAST(COUNT(*) AS BIGINT) AS n_relevant
            FROM labels l JOIN qlab q ON l.label = q.qlabel
            WHERE l.vec_id <> q.query_id
            GROUP BY q.query_id
        )
        SELECT q.query_id,
               COALESCE(r.n_relevant, 0) AS n_relevant,
               COALESCE(d.n_relevant_retrieved, 0) AS n_relevant_retrieved,
               CASE WHEN COALESCE(r.n_relevant, 0) > 0 THEN
                   ROUND(CAST(COALESCE(d.dcg_n, 0) AS DOUBLE)
                         / CAST(i.idcg_n AS DOUBLE), 6)
               END AS ndcg
        FROM qlab q
        LEFT JOIN rq r ON r.query_id = q.query_id
        LEFT JOIN dcg d ON d.query_id = q.query_id
        LEFT JOIN ideal i
          ON i.m = LEAST(COALESCE(r.n_relevant, 0), {BATCH_TOPK})
    """


# ---------------------------------------------------------------------------
# IVF index refresh under corpus growth (round 10)
# ---------------------------------------------------------------------------

def _ivf_standing_quantizer(spark: SparkSession, sf_dir: str):
    """The FROZEN coarse quantizer of the standing index, (assign_udf, C):
    centroids are the IVF_NLIST lowest non-null vec_ids of the STANDING
    corpus (the non-test hash splits — the corpus that existed when the
    index was built), with centroid id = rank position (the
    `kmeans_init_centroids` derivation applied to the IVF family).

    Freezing is the point of a refresh: arriving vectors are assigned by
    the quantizer that PLACED the existing billions of rows — re-deriving
    centroids from the grown corpus would silently re-home standing
    partitions and turn a cheap append into a full re-index
    (`ext_embed_drift` firing is the signal that the frozen geometry has
    expired and a true re-cluster is due)."""
    from .sampling import split_assignment

    return _quantizer(
        spark, sf_dir, "ivf-standing-quantizer", split_assignment("vec_id") != "test"
    )


def ensure_refreshed_ivf_layout(spark: SparkSession, sf_dir: str) -> str:
    """The nightly index-maintenance job, materialized once per dataset:

    1. BUILD — the standing corpus (non-test hash splits, the
       ``ext_dedup_incremental`` convention for "yesterday's data") is
       written partitioned by its frozen-quantizer list id, exactly
       ``write_ivf_layout``'s shape.
    2. REFRESH — the arriving batch (test split) is assigned by the SAME
       frozen quantizer and APPENDED: each new vector lands in its
       ``ivf_list=<k>/`` directory; no standing row is rewritten. At
       100 TB this is the step that runs nightly — cost is the batch
       size, never the index size.
    3. COMPACT — ``compact_layout`` collapses the append's small files so
       probe scans keep one task per file (the maintenance job every
       incremental sink needs).

    The refreshed layout serves through the same partition-pruned probe
    path as the one-shot layout, and equals a from-scratch rebuild under
    the same frozen quantizer row-for-row (pinned in tests — appends
    must place vectors exactly where a rebuild would).

    All three steps run inside the staging tree of a ``cache.artifact``:
    the layout is served only once build, append and compaction have all
    committed."""
    from .sampling import split_assignment

    def _write(path: str) -> None:
        assign, _ = _ivf_standing_quantizer(spark, sf_dir)
        emb = tables.load(spark, sf_dir, "embeddings").where(
            F.col("embedding").isNotNull()
        )
        is_new = split_assignment("vec_id") == "test"
        # build over the standing corpus, then append the arriving batch
        # under the same frozen quantizer
        for rows, mode in ((~is_new, "overwrite"), (is_new, "append")):
            (
                emb.where(rows)
                .withColumn("ivf_list", assign("embedding"))
                .write.mode(mode)
                .partitionBy("ivf_list")
                .parquet(path)
            )
        layouts.compact_layout(spark, path)

    return cache.artifact(spark, sf_dir, ("embeddings",), "ivf_refresh_v1", _write)


def ext_ann_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index refresh manifest — the round-9 verdict's one remaining
    LLM-pipeline gap: incremental maintenance of the IVF layout as the
    corpus grows. Runs the build→append→compact job
    (``ensure_refreshed_ivf_layout``) and emits, per IVF list, the
    refresh bookkeeping read back FROM THE REFRESHED LAYOUT ITSELF:
    ``(ivf_list, n_standing, n_added, n_total)`` — standing/added
    membership recomputed from the hash split of the stored key, so a
    misplaced append (wrong partition, dropped row, double write) breaks
    the cross-engine hash. Output is NLIST rows.

    Oracle: DuckDB re-derives the frozen standing-corpus centroids
    (rank-position ids over the non-test split's lowest vec_ids), the
    6dp-rounded cosine argmax assignment of the FULL grown corpus, and
    the same per-list split counts — the refreshed physical layout must
    agree with the declarative statement of what a rebuild would hold.

    Serving and acceptance live on the composed surface: the refreshed
    layout serves through the one IVF serve, ``ann_ivf_serve`` with the
    frozen standing quantizer's centroids, and the standing recall/NDCG
    audits are the acceptance gate a deployment runs before promoting the
    refreshed index."""
    from .sampling import split_assignment

    path = ensure_refreshed_ivf_layout(spark, sf_dir)
    lay = layouts.read_layout(spark, path)
    is_new = split_assignment("vec_id") == "test"
    return (
        lay.select(F.col("ivf_list").cast("int").alias("ivf_list"), is_new.alias("is_new"))
        .groupBy("ivf_list")
        .agg(
            F.sum(F.when(F.col("is_new"), 0).otherwise(1)).cast("long").alias("n_standing"),
            F.sum(F.when(F.col("is_new"), 1).otherwise(0)).cast("long").alias("n_added"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
        )
    )


def ext_ann_index_refresh_oracle() -> str:
    from .sampling import TRAIN_PCT, VAL_PCT, _oracle_key_hash

    nl = IVF_NLIST
    old_pct = TRAIN_PCT + VAL_PCT
    h = _oracle_key_hash("vec_id")
    cos = """ROUND(list_dot_product(e.embedding::DOUBLE[], c.cvec)
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(c.cvec, c.cvec))), 6)"""
    return f"""
        WITH cent AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
                   embedding::DOUBLE[] AS cvec
            FROM (
                SELECT vec_id, embedding FROM embeddings
                WHERE embedding IS NOT NULL AND {h} % 100 < {old_pct}
                ORDER BY vec_id LIMIT {nl}
            )
        ),
        sims AS (
            SELECT e.vec_id, c.cid, {cos} AS sim
            FROM embeddings e CROSS JOIN cent c
            WHERE e.embedding IS NOT NULL
        ),
        assign AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cid ASC) AS rk
                FROM sims
            ) WHERE rk = 1
        )
        SELECT CAST(cid AS INTEGER) AS ivf_list,
               CAST(SUM(CASE WHEN {h} % 100 < {old_pct} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_standing,
               CAST(SUM(CASE WHEN {h} % 100 >= {old_pct} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_added,
               CAST(COUNT(*) AS BIGINT) AS n_total
        FROM assign GROUP BY cid
    """


# --- staged index promotion (recall-gated rebase as a driver-attested op) ---

PROMOTE_K = 5        # recall@k of the audit
PROMOTE_NQ = 4       # probe queries (lowest non-null vec_ids)
PROMOTE_MIN_HITS = 10  # promote iff hits >= this, i.e. recall >= 0.5 of K*NQ

def _promote_new_quantizer(spark: SparkSession, sf_dir: str):
    """The CANDIDATE re-clustering's centroids: the IVF_NLIST lowest ODD
    non-null vec_ids, cid = rank position — deterministically different
    geometry from the standing quantizer (vec_id < IVF_NLIST), so the
    audit measures a genuine re-index, and SQL-rederivable so the oracle
    can re-run the whole promotion decision."""
    emb = tables.load(spark, sf_dir, "embeddings")
    return _centroid_matrix(emb.where(F.col("vec_id") % 2 == 1))


def _serve_hits_at_k(cand_df: DataFrame, C_new, qids, Q, k: int) -> int:
    """Σ_q |served top-k ∩ exact top-k| over a staged candidate frame —
    the promotion audit's metric, computed DISTRIBUTED with the one
    `topk_kernel` pass over a stacked query matrix: rows 0..NQ-1 are the
    exact side (all-true probe mask), rows NQ..2NQ-1 the served side
    (each query's IVF_NPROBE lists under the CANDIDATE quantizer). One
    window reduces the per-batch partials and one join counts the
    intersection. The only driver transfer is the final count — the
    shape that still works when the candidate is the full 100 TB index
    (probe resolution is the same NL×NQ numpy product as
    ``ext_ann_ivf_batch``)."""
    Q = np.asarray(Q, dtype=np.float64)
    nq = len(Q)
    served = ivf_probe_mask(C_new, Q)
    mask = np.hstack([np.ones_like(served), served])
    top = _scored_topk(cand_df, np.vstack([Q, Q]), list(qids) * 2, k, mask, False)
    exact = top.where(F.col("query_id") < nq).select("query_id", "vec_id")
    hit = top.where(F.col("query_id") >= nq).select(
        (F.col("query_id") - nq).alias("query_id"), "vec_id"
    )
    return exact.join(hit, ["query_id", "vec_id"]).count()


def ext_ann_index_promote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged, recall-gated index promotion as a driver-attested operator
    (round-11 verdict #3): drive ``IncrementalIvfIndex.rebase(df,
    audit=...)`` (`sources/layouts.py`) through BOTH decision branches
    against a live index and emit, per candidate, the audit verdict AND
    the post-decision committed manifest read back FROM THE INDEX ITSELF.

    Protocol (attempted in this order against one index):

    1. Standing index: the corpus assigned by the standing quantizer
       (vec_id < IVF_NLIST centroids), committed as the serving base.
    2. POISONED candidate: re-assignment under the NEW quantizer
       (lowest-odd-vec_id centroids) to each vector's FARTHEST list —
       a broken re-clustering. The staged audit's recall@PROMOTE_K over
       PROMOTE_NQ probe queries collapses (probes look at nearest lists)
       → rejected; the committed manifest must still be the STANDING
       assignment.
    3. GOOD candidate: nearest-list assignment under the same new
       quantizer → passes the audit → promoted; the committed manifest
       must be the NEW assignment.

    The manifest fingerprint ``Σ vec_id·(ivf_list+1)`` is
    assignment-sensitive, so a wrong decision in either direction (a
    rejected candidate leaking in, an accepted one not landing) breaks
    the cross-engine hash. Decision rule is integer (hits ≥
    PROMOTE_MIN_HITS of PROMOTE_K·PROMOTE_NQ) — no float threshold at
    the branch. The oracle re-derives quantizers, assignments, pruned
    serve paths, recall and both decisions declaratively in SQL.

    Scale: the audit is the distributed two-sided top-k of
    ``_serve_hits_at_k`` (exact side = one scan of the candidate — the
    honest price of measuring recall, run on a sampled query set in
    production); everything committed moves through the pointer-file
    protocol (crash-atomic, power-loss-durable after round 11/12)."""

    def build():
        import shutil
        import tempfile

        emb = tables.load(spark, sf_dir, "embeddings")
        corpus = emb.where(F.col("embedding").isNotNull()).select(
            "vec_id", "label", "embedding"
        )
        assign_std, _ = ivf_quantizer(spark, sf_dir)
        C_new = _promote_new_quantizer(spark, sf_dir)
        qrows = sorted(
            corpus.orderBy("vec_id")
            .limit(PROMOTE_NQ)
            .select("vec_id", "embedding")
            .collect(),
            key=lambda r: r.vec_id,
        )
        qids = [r.vec_id for r in qrows]
        Q = np.array([r.embedding for r in qrows], dtype=np.float64)

        audit_hits: list[int] = []

        def audit(cand) -> bool:
            hits = (
                0
                if cand is None
                else _serve_hits_at_k(cand, C_new, qids, Q, PROMOTE_K)
            )
            audit_hits.append(int(hits))
            return hits >= PROMOTE_MIN_HITS

        def manifest(idx):
            row = idx.read().agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.countDistinct("ivf_list").cast("long").alias("l"),
                F.sum(
                    F.col("vec_id") * (F.col("ivf_list").cast("long") + F.lit(1))
                )
                .cast("long")
                .alias("fp"),
            ).first()
            return int(row.n), int(row.l), int(row.fp)

        work = tempfile.mkdtemp(prefix="boletia_promote_")
        try:
            idx = layouts.IncrementalIvfIndex(spark, work)
            idx.init_base(corpus.withColumn("ivf_list", assign_std("embedding")))
            out = []
            for name, farthest in (("poisoned", True), ("good", False)):
                cand = corpus.withColumn(
                    "ivf_list", _make_assign_udf(C_new, farthest=farthest)("embedding")
                )
                promoted = idx.rebase(cand, audit=audit)
                hits = audit_hits[-1]
                n, nlists, fp = manifest(idx)
                out.append(
                    {
                        "candidate": name,
                        "audited_hits": hits,
                        "audited_recall": round(hits / float(PROMOTE_K * PROMOTE_NQ), 6),
                        "decision": "promoted" if promoted else "rejected",
                        "committed_rows": n,
                        "committed_lists": nlists,
                        "committed_fprint": fp,
                    }
                )
            return out
        finally:
            shutil.rmtree(work, ignore_errors=True)

    rows = cache.cached(spark, sf_dir, ("embeddings",), "ann-promote", build)
    return spark.createDataFrame(
        rows,
        "candidate string, audited_hits long, audited_recall double, "
        "decision string, committed_rows long, committed_lists long, "
        "committed_fprint long",
    )


def ext_ann_index_promote_oracle() -> str:
    """DuckDB re-derivation of the full promotion protocol: standing and
    candidate quantizers (rank-position centroid rules), nearest/farthest
    6dp-cosine assignments, per-query nprobe probe lists, pruned-serve
    vs exact top-k recall, the integer promote/reject decision, and the
    post-decision committed manifest each branch must leave behind."""
    nl, npb, k, nq = IVF_NLIST, IVF_NPROBE, PROMOTE_K, PROMOTE_NQ
    denom = k * nq
    min_hits = PROMOTE_MIN_HITS

    def cos(a: str, b: str) -> str:
        return f"""ROUND(list_dot_product({a}, {b})
                 / (sqrt(list_dot_product({a}, {a}))
                    * sqrt(list_dot_product({b}, {b}))), 6)"""

    return f"""
        WITH corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE embedding IS NOT NULL
        ),
        stdcent AS (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
            FROM embeddings WHERE vec_id < {nl}
        ),
        newcent AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
                   embedding::DOUBLE[] AS cvec
            FROM (
                SELECT vec_id, embedding FROM embeddings
                WHERE embedding IS NOT NULL AND vec_id % 2 = 1
                ORDER BY vec_id LIMIT {nl}
            )
        ),
        assign_std AS (
            SELECT vec_id, cid FROM (
                SELECT c.vec_id, s.cid,
                       row_number() OVER (PARTITION BY c.vec_id
                                          ORDER BY {cos('c.v', 's.cvec')} DESC,
                                                   s.cid ASC) AS rk
                FROM corpus c CROSS JOIN stdcent s
            ) WHERE rk = 1
        ),
        sims_new AS (
            SELECT c.vec_id, n.cid, {cos('c.v', 'n.cvec')} AS sim
            FROM corpus c CROSS JOIN newcent n
        ),
        assign_good AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cid ASC) AS rk
                FROM sims_new
            ) WHERE rk = 1
        ),
        assign_poison AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim ASC, cid ASC) AS rk
                FROM sims_new
            ) WHERE rk = 1
        ),
        queries AS (
            SELECT vec_id AS query_id, v AS qv
            FROM corpus ORDER BY vec_id LIMIT {nq}
        ),
        qprobe AS (
            SELECT query_id, cid FROM (
                SELECT q.query_id, n.cid,
                       row_number() OVER (PARTITION BY q.query_id
                                          ORDER BY {cos('q.qv', 'n.cvec')} DESC,
                                                   n.cid ASC) AS rk
                FROM queries q CROSS JOIN newcent n
            ) WHERE rk <= {npb}
        ),
        pair AS (
            SELECT q.query_id, c.vec_id, {cos('c.v', 'q.qv')} AS cs
            FROM corpus c CROSS JOIN queries q
            WHERE c.vec_id != q.query_id
        ),
        exact_k AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cs DESC, vec_id ASC) AS rk
                FROM pair
            ) WHERE rk <= {k}
        ),
        served_good AS (
            SELECT query_id, vec_id FROM (
                SELECT p.query_id, p.vec_id,
                       row_number() OVER (PARTITION BY p.query_id
                                          ORDER BY p.cs DESC, p.vec_id ASC) AS rk
                FROM pair p
                JOIN assign_good a ON a.vec_id = p.vec_id
                JOIN qprobe pr ON pr.query_id = p.query_id AND pr.cid = a.cid
            ) WHERE rk <= {k}
        ),
        served_poison AS (
            SELECT query_id, vec_id FROM (
                SELECT p.query_id, p.vec_id,
                       row_number() OVER (PARTITION BY p.query_id
                                          ORDER BY p.cs DESC, p.vec_id ASC) AS rk
                FROM pair p
                JOIN assign_poison a ON a.vec_id = p.vec_id
                JOIN qprobe pr ON pr.query_id = p.query_id AND pr.cid = a.cid
            ) WHERE rk <= {k}
        ),
        stats AS (
            SELECT
              (SELECT CAST(COUNT(*) AS BIGINT) FROM served_good s
                 JOIN exact_k e ON e.query_id = s.query_id
                              AND e.vec_id = s.vec_id) AS hits_good,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM served_poison s
                 JOIN exact_k e ON e.query_id = s.query_id
                              AND e.vec_id = s.vec_id) AS hits_poison,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM corpus) AS n_rows,
              (SELECT CAST(COUNT(DISTINCT cid) AS BIGINT) FROM assign_std)
                  AS lists_std,
              (SELECT CAST(COUNT(DISTINCT cid) AS BIGINT) FROM assign_good)
                  AS lists_good,
              (SELECT CAST(COUNT(DISTINCT cid) AS BIGINT) FROM assign_poison)
                  AS lists_poison,
              (SELECT CAST(SUM(vec_id * (cid + 1)) AS BIGINT) FROM assign_std)
                  AS fp_std,
              (SELECT CAST(SUM(vec_id * (cid + 1)) AS BIGINT) FROM assign_good)
                  AS fp_good,
              (SELECT CAST(SUM(vec_id * (cid + 1)) AS BIGINT) FROM assign_poison)
                  AS fp_poison
        )
        SELECT 'poisoned' AS candidate,
               hits_poison AS audited_hits,
               ROUND(CAST(hits_poison AS DOUBLE) / {denom}, 6) AS audited_recall,
               CASE WHEN hits_poison >= {min_hits}
                    THEN 'promoted' ELSE 'rejected' END AS decision,
               n_rows AS committed_rows,
               CASE WHEN hits_poison >= {min_hits}
                    THEN lists_poison ELSE lists_std END AS committed_lists,
               CASE WHEN hits_poison >= {min_hits}
                    THEN fp_poison ELSE fp_std END AS committed_fprint
        FROM stats
        UNION ALL
        SELECT 'good',
               hits_good,
               ROUND(CAST(hits_good AS DOUBLE) / {denom}, 6),
               CASE WHEN hits_good >= {min_hits}
                    THEN 'promoted' ELSE 'rejected' END,
               n_rows,
               CASE WHEN hits_good >= {min_hits}
                    THEN lists_good ELSE lists_std END,
               CASE WHEN hits_good >= {min_hits}
                    THEN fp_good ELSE fp_std END
        FROM stats
    """


KNN_BLOCKS = 8  # tile degree for the exact 1-NN join


def ext_knn_label_transfer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-NN label transfer: every vector's nearest neighbor (cosine)
    and whether the neighbor's class label agrees — the weak-supervision /
    label-propagation primitive, and the standard embedding-quality probe
    (neighborhood label purity).

    Physical plan: the block-tile join of ``dedup.block_tiles``, as in
    ``dedup.ext_dedup_embedding`` — vectors replicate to their (i ≤ j)
    tiles, each tile emits its per-vector best candidate from one numpy
    matmul (``make_knn_tile_kernel``), and a groupBy max on (cosine, −neighbor_id)
    reduces tile candidates to the global 1-NN. All-pairs compute tiled to
    (N/B)² tasks, (B+1)/2 × shuffle replication, no driver collect, and the
    final reduce shuffles one candidate row per (vector, tile) — not the
    pair space. Ties break to the lowest neighbor id on the ROUNDED cosine,
    matching the oracle window exactly.
    """
    from ._pandas_udfs import make_knn_tile_kernel
    from .dedup import _block_degree, block_tiles

    emb = tables.load(spark, sf_dir, "embeddings")
    B = _block_degree(sf_dir, "embeddings", floor=KNN_BLOCKS)
    # null vectors can't participate in cosine — drop before the kernel
    vecs = emb.where(F.col("embedding").isNotNull())
    tiles = block_tiles(vecs, "vec_id", B, "label", "embedding")
    candidates = tiles.groupBy("pi", "pj").applyInPandas(
        make_knn_tile_kernel(),
        schema="vec_id long, label int, nn_vec_id long, nn_label int, cosine double",
    )
    best = candidates.groupBy("vec_id", "label").agg(
        F.max(
            F.struct(
                F.col("cosine"),
                (-F.col("nn_vec_id")).alias("neg_nn"),
                F.col("nn_label").alias("nn_label"),
            )
        ).alias("b")
    )
    return best.select(
        "vec_id",
        "label",
        (-F.col("b.neg_nn")).alias("nn_vec_id"),
        F.col("b.nn_label").alias("nn_label"),
        F.col("b.cosine").alias("cosine"),
        (F.col("label") == F.col("b.nn_label")).alias("label_match"),
    )


def ext_knn_label_transfer_oracle() -> str:
    return """
        SELECT vec_id, label, nn_vec_id, nn_label, cosine,
               (label = nn_label) AS label_match
        FROM (
            SELECT e.vec_id, e.label, n.vec_id AS nn_vec_id, n.label AS nn_label,
                   ROUND(list_dot_product(e.embedding::DOUBLE[], n.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                            * sqrt(list_dot_product(n.embedding::DOUBLE[], n.embedding::DOUBLE[]))), 6) AS cosine,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND(list_dot_product(e.embedding::DOUBLE[], n.embedding::DOUBLE[])
                                      / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                                         * sqrt(list_dot_product(n.embedding::DOUBLE[], n.embedding::DOUBLE[]))), 6) DESC,
                                n.vec_id ASC
                   ) AS rn
            FROM embeddings e JOIN embeddings n ON e.vec_id != n.vec_id
        ) WHERE rn = 1
    """


# ---------------------------------------------------------------------------
# int8 embedding quantization (the storage-compression fidelity report)
# ---------------------------------------------------------------------------

QUANT_LEVELS = 127  # symmetric int8: q ∈ [-127, 127]


def ext_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 symmetric quantization fidelity: scale = max|x|/127,
    q_i = round(x_i/scale), and the report compares x against the
    reconstruction q·scale — cosine fidelity and MSE. This is the audit a
    pipeline runs before shipping embeddings at a quarter of the storage
    (fp32 → int8 is the standard 100 TB-scale vector-store move); the
    decision to quantize is exactly "is cos_fidelity acceptably close to 1".

    All math is native higher-order functions on doubles — one narrow map,
    no shuffle, no UDF; both engines round half-away-from-zero so even the
    quantized codes agree bit-for-bit cross-engine.
    """
    emb = tables.load(spark, sf_dir, "embeddings", fan=True)
    base = emb.where(F.col("embedding").isNotNull()).select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("x")
    )
    s = base.select(
        "vec_id",
        "x",
        (
            F.array_max(F.transform("x", lambda v: F.abs(v))) / QUANT_LEVELS
        ).alias("scale"),
    )
    rec = F.transform(
        "x", lambda v: F.round(v / F.col("scale"), 0) * F.col("scale")
    )
    d = s.where(F.col("scale") > 0).select(
        "vec_id",
        "scale",
        _dot("x", rec).alias("dot_xr"),
        F.sqrt(_dot("x", "x")).alias("norm_x"),
        F.sqrt(_dot(rec, rec)).alias("norm_r"),
        F.aggregate(
            F.zip_with("x", rec, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("sq_err"),
        F.size("x").alias("dim"),
    )
    return d.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.round(F.col("dot_xr") / (F.col("norm_x") * F.col("norm_r")), 6).alias(
            "cos_fidelity"
        ),
        F.round(F.col("sq_err") / F.col("dim"), 9).alias("mse"),
    )


def ext_embed_quantize_oracle() -> str:
    return f"""
        WITH s AS (
            SELECT vec_id, embedding::DOUBLE[] AS x,
                   list_max(list_transform(embedding::DOUBLE[], v -> abs(v)))
                       / {QUANT_LEVELS} AS scale
            FROM embeddings WHERE embedding IS NOT NULL
        ), d AS (
            SELECT vec_id, scale, x,
                   list_transform(x, v -> round(v / scale) * scale) AS rec
            FROM s WHERE scale > 0
        )
        SELECT vec_id,
               ROUND(scale, 6) AS scale,
               ROUND(list_dot_product(x, rec)
                     / (sqrt(list_dot_product(x, x)) * sqrt(list_dot_product(rec, rec))), 6)
                   AS cos_fidelity,
               ROUND(list_sum(list_transform(list_zip(x, rec),
                                             p -> (p[1] - p[2]) * (p[1] - p[2])))
                     / len(x), 9) AS mse
        FROM d
    """


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection (deterministic Rademacher matrix)
# ---------------------------------------------------------------------------

RP_IN_DIM = 64   # fixture embedding width (validated per-row; mismatches drop)
RP_OUT_DIM = 8   # projected width: 8× storage/compute reduction


def rp_sign_matrix() -> list[list[float]]:
    """The ±1 Rademacher projection matrix, md5-derived so it is a plain
    literal on BOTH engines (the `minhash_perm_constants` pattern) — no
    RNG state anywhere. Achlioptas 2003: a dense ±1 matrix satisfies the
    JL lemma with the same distortion bound as Gaussian entries."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"rp:{j}:{i}".encode()).digest()[0] & 1 else -1.0
            for i in range(RP_IN_DIM)
        ]
        for j in range(RP_OUT_DIM)
    ]


def ext_embed_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection dimensionality reduction: 64-d → 8-d via a
    deterministic Rademacher matrix, y_j = Σ_i x_i·s_ji / √m.

    The standard preprocessing step before sketch-heavy stages — SRP-LSH,
    brute-force rerank on narrow vectors, or shipping embeddings at 1/8th
    the bytes. The norm_ratio column is the per-vector JL distortion
    witness (≈ 1 ± ε): the audit a pipeline runs to decide whether the
    narrow representation is safe to serve, exactly like
    `ext_embed_quantize`'s cos_fidelity for int8.

    One narrow map over the scan — 8 fold expressions per row, no
    shuffle, no UDF; the projected coordinates are rounded at 6dp and the
    norm ratio is computed FROM the rounded coordinates so both engines
    square identical inputs in an identical left-to-right sum.
    """
    emb = tables.load(spark, sf_dir, "embeddings", fan=True)
    base = emb.where(
        F.col("embedding").isNotNull() & (F.size("embedding") == RP_IN_DIM)
    ).select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("x")
    )
    signs = rp_sign_matrix()
    # optimization round 13 (guide §7.3, driver time): the 8 fold columns
    # each carried a 64-literal sign array — ~500 py4j round-trips (~0.7 s)
    # per invocation when built as Column objects. Each is now ONE `F.expr`
    # parse of the identical tree (`D` suffixes keep every literal a
    # double, exactly what `F.lit(float)` produced); values pinned equal to
    # the Column form by test_embed_project_expr_matches_column_form.
    sqrt_m_sql = f"sqrt({float(RP_OUT_DIM)}D)"
    proj_cols = []
    for j in range(RP_OUT_DIM):
        srow = ", ".join(f"{s}D" for s in signs[j])
        proj_cols.append(
            F.expr(
                f"round(aggregate(zip_with(x, array({srow}), (a, b) -> a * b), "
                f"0.0D, (acc, v) -> acc + v) / {sqrt_m_sql}, 6)"
            ).alias(f"p{j}")
        )
    out = base.select(
        "vec_id",
        F.expr(
            "sqrt(aggregate(transform(x, v -> v * v), 0.0D, (acc, v) -> acc + v))"
        ).alias("norm_x"),
        *proj_cols,
    )
    ysq = " + ".join(f"p{j} * p{j}" for j in range(RP_OUT_DIM))
    return out.select(
        "vec_id",
        *[f"p{j}" for j in range(RP_OUT_DIM)],
        F.expr(
            f"CASE WHEN norm_x > 0 THEN round(sqrt({ysq}) / norm_x, 6) END"
        ).alias("norm_ratio"),
    )


def ext_embed_project_oracle() -> str:
    signs = rp_sign_matrix()
    proj = ", ".join(
        "ROUND(list_reduce(list_prepend(0.0, list_transform(list_zip(x, "
        f"[{', '.join(str(s) for s in signs[j])}]), p -> p[1] * p[2])), "
        f"(acc, v) -> acc + v) / sqrt({float(RP_OUT_DIM)}), 6) AS p{j}"
        for j in range(RP_OUT_DIM)
    )
    ysq = " + ".join(f"p{j} * p{j}" for j in range(RP_OUT_DIM))
    return f"""
        WITH base AS (
            SELECT vec_id, embedding::DOUBLE[] AS x
            FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) = {RP_IN_DIM}
        ),
        pr AS (
            SELECT vec_id,
                   sqrt(list_reduce(list_prepend(0.0,
                        list_transform(x, v -> v * v)), (acc, v) -> acc + v))
                       AS norm_x,
                   {proj}
            FROM base
        )
        SELECT vec_id, {', '.join(f'p{j}' for j in range(RP_OUT_DIM))},
               CASE WHEN norm_x > 0
                    THEN ROUND(sqrt({ysq}) / norm_x, 6)
               END AS norm_ratio
        FROM pr
    """


# ---------------------------------------------------------------------------
# product-quantization ANN (ADC scoring + exact re-rank)
# ---------------------------------------------------------------------------

PQ_M = 8          # subspaces
PQ_KS = 16        # centroids per subspace
PQ_TRAIN = 2048   # bounded training sample (constant-size driver state)
PQ_ITERS = 8      # Lloyd iterations
PQ_RERANK = 100   # ADC shortlist size for exact re-ranking


def _pq_codebooks(spark: SparkSession, sf_dir: str):
    """Train PQ codebooks on a BOUNDED deterministic sample (hash-ordered
    limit — the standard reservoir recipe: codebook quality needs only a
    constant-size sample regardless of corpus size, so this driver state is
    O(M·Ks·dim), never O(corpus)). Vectors are L2-normalized first so ADC
    inner products are cosines. Deterministic throughout: hash-ordered
    sample, evenly-spaced init, fixed Lloyd iteration count — no RNG.

    Cached (see `cache`) like `_kmeans_fit`: the codebooks are the
    index's model artifact — trained once when the index is built, served
    by every query."""
    return cache.cached(
        spark,
        sf_dir,
        ("embeddings",),
        "pq-codebooks",
        lambda: _pq_codebooks_build(spark, sf_dir),
    )


def _pq_codebooks_build(spark: SparkSession, sf_dir: str):
    emb = tables.load(spark, sf_dir, "embeddings")
    hash_key = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    rows = (
        emb.where(F.col("embedding").isNotNull())
        .orderBy(hash_key, "vec_id")
        .limit(PQ_TRAIN)
        .select("embedding")
        .collect()
    )
    X = np.array([r[0] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    X = X / np.maximum(norms, 1e-12)
    dim = X.shape[1]
    sub = dim // PQ_M
    books = np.empty((PQ_M, PQ_KS, sub))
    for m in range(PQ_M):
        Xm = X[:, m * sub : (m + 1) * sub]
        # exact integer arithmetic — linspace's float stepping can land
        # 1 ulp below an exact integer and truncate to index-1 for some n,
        # silently desynchronizing the oracle, which shares this closed form
        init_idx = [((len(Xm) - 1) * k) // (PQ_KS - 1) for k in range(PQ_KS)]
        C = Xm[init_idx].copy()
        # 6dp rounding of assignment distances and centroid means per
        # iteration: the same engine-determinism contract as _kmeans_fit —
        # summation-order drift vanishes under the rounding grain, so a
        # DuckDB recursive CTE re-derives byte-identical codebooks
        for _ in range(PQ_ITERS):
            assign, _ = rounded_sqdist_argmin(Xm, C)
            for k in range(PQ_KS):
                members = Xm[assign == k]
                if len(members):
                    C[k] = np.round(members.mean(axis=0), 6)
        books[m] = C
    return books


def ext_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via product quantization with asymmetric-distance scoring —
    the FAISS-style memory-bound scale path: each (normalized) vector
    compresses to M=8 one-byte codes, a query builds an M×Ks lookup table
    of partial inner products, and scoring any vector is M table lookups
    instead of a D-dim dot product (8 adds vs 64 mults — and 8 bytes vs
    256: the whole 100 TB corpus's codes fit a few TB of RAM).

    Plan: encoding is one Arrow-batched UDF pass (write-time cost in a real
    deployment, like the IVF layout); ADC scoring is NATIVE — the lookup
    tables become literal arrays and the score is a codegen'd chain of
    element_at adds; shortlist by score (single bounded window), exact
    cosine re-rank on PQ_RERANK survivors only. Oracle-backed (round 3);
    recall vs brute force asserted in tests.
    """
    emb = tables.load(spark, sf_dir, "embeddings", fan=True)
    cand = (
        emb.where(F.col("vec_id") != QUERY_VEC_ID)
        .where(F.col("embedding").isNotNull())
        .select("vec_id", "label", "embedding")
    )
    return _pq_adc_topk(spark, sf_dir, cand, PQ_RERANK)


def _pq_adc_topk(
    spark: SparkSession, sf_dir: str, cand: DataFrame, rerank: int
) -> DataFrame:
    """Shared PQ serve tail (used by ``ext_ann_pq_topk`` over the full
    corpus and ``ext_ann_ivfpq_topk`` over the IVF-probed lists): encode
    ``cand`` (vec_id, label, embedding) with the trained codebooks, ADC-score
    natively against the query's lookup tables, shortlist ``rerank`` rows,
    exact rounded-cosine re-rank."""
    books = _pq_codebooks(spark, sf_dir)
    q_vec = query_vector(spark, sf_dir)
    q_unit = q_vec / np.linalg.norm(q_vec)
    dim = len(q_vec)
    sub = dim // PQ_M
    # ADC lookup tables: T[m][k] = <q_m, C[m][k]>
    T = np.stack(
        [books[m] @ q_unit[m * sub : (m + 1) * sub] for m in range(PQ_M)]
    )

    books_b = books  # closed over by value (pickled into the UDF)

    @F.pandas_udf("array<int>")
    def encode(emb_s: pd.Series) -> pd.Series:
        X = np.array([np.asarray(e, dtype=np.float64) for e in emb_s])
        if X.size == 0:
            return pd.Series([], dtype=object)
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(X), PQ_M), dtype=np.int32)
        for m in range(PQ_M):
            # rounded-before-argmin: same cross-engine contract as training
            Xm = X[:, m * sub : (m + 1) * sub]
            codes[:, m], _ = rounded_sqdist_argmin(Xm, books_b[m])
        return pd.Series(list(codes))

    coded = cand.select(
        "vec_id", "label", "embedding", encode("embedding").alias("codes")
    )
    # native ADC: per-subspace literal lookup arrays, element_at chain
    score = None
    for m in range(PQ_M):
        tbl = F.array(*[F.lit(float(v)) for v in T[m]])
        term = F.element_at(tbl, F.element_at("codes", m + 1) + 1)
        score = term if score is None else score + term
    # adc rounded to 6dp before ranking: the lookup-table entries are
    # engine-computed dots (~1e-14 cross-engine drift); rounding makes the
    # shortlist ordering deterministic (ties -> vec_id asc)
    shortlist = (
        coded.withColumn("adc", F.round(score, 6))
        .withColumn(
            "adc_rank",
            F.row_number().over(
                Window.orderBy(F.col("adc").desc(), F.col("vec_id").asc())
            ),
        )
        .where(F.col("adc_rank") <= rerank)
    )
    return _rerank_topk(
        shortlist.select("vec_id", "label", "embedding"), _query_frame(spark, q_vec)
    )


def _sql_pq_chain(corpus_pred: str, rerank: int) -> str:
    """The PQ oracle CTE chain (hash-ordered bounded sample -> per-subspace
    Lloyd codebooks via recursive CTE -> candidate encode -> ADC scores ->
    ``shortlist``), shared by ``ext_ann_pq_topk_oracle`` (full corpus) and
    ``ext_ann_ivfpq_topk_oracle`` (corpus restricted to the IVF probe set
    via ``corpus_pred``). Caller prefixes ``WITH RECURSIVE`` and appends
    the rerank tail."""
    # sub = 8 BAKED (dim 64 / PQ_M 8) — same fixture-dim contract as the
    # SRP oracle, pinned by tests/test_similarity.py
    m_, ks, iters, sub, train, qid = (
        PQ_M, PQ_KS, PQ_ITERS, 8, PQ_TRAIN, QUERY_VEC_ID
    )
    dist = ("ROUND(list_reduce(list_transform(list_zip(xm, book_in[k]), "
            "p -> (p[1]-p[2])*(p[1]-p[2])), (acc,v) -> acc+v), 6)")
    norm = ("GREATEST(sqrt(list_reduce(list_transform(embedding::DOUBLE[], "
            "w -> w*w), (a,b) -> a+b)), 1e-12)")
    return f"""sample AS (
            SELECT row_number() OVER (ORDER BY hkey, vec_id) AS rid, xn
            FROM (
                SELECT vec_id,
                       CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hkey,
                       list_transform(embedding::DOUBLE[], v -> v / {norm}) AS xn
                FROM embeddings WHERE embedding IS NOT NULL
                ORDER BY hkey, vec_id LIMIT {train}
            )
        ),
        subsamp AS (
            SELECT m.m, s.rid, s.xn[m.m * {sub} + 1 : m.m * {sub} + {sub}] AS xm
            FROM sample s, generate_series(0, {m_ - 1}) m(m)
        ),
        n_s AS (SELECT COUNT(*) AS n FROM sample),
        init AS (
            SELECT m, list(xm ORDER BY k) AS book
            FROM (
                SELECT ss.m, g.k, ss.xm
                FROM generate_series(0, {ks - 1}) g(k), n_s
                JOIN subsamp ss
                  ON ss.rid = ((n_s.n - 1) * g.k) // {ks - 1} + 1
            ) GROUP BY m
        ),
        train AS (
            SELECT m, 0 AS iter, book FROM init
            UNION ALL
            SELECT t.m, t.iter + 1, nxt.book
            FROM train t, LATERAL (
                SELECT list(COALESCE(n2.c, t.book[g.k + 1]) ORDER BY g.k) AS book
                FROM generate_series(0, {ks - 1}) g(k)
                LEFT JOIN (
                    SELECT cl, list(mv ORDER BY d) AS c
                    FROM (
                        SELECT cl, d, ROUND(AVG(v), 6) AS mv
                        FROM (
                            SELECT cl, unnest(xm) AS v,
                                   generate_subscripts(xm, 1) AS d
                            FROM (
                                SELECT xm, list_position(dl, list_min(dl)) - 1 AS cl
                                FROM (
                                    SELECT xm,
                                           [{dist} for k in generate_series(1, {ks})] AS dl
                                    FROM (SELECT ss.xm AS xm, t.book AS book_in
                                          FROM subsamp ss WHERE ss.m = t.m)
                                )
                            )
                        ) GROUP BY cl, d
                    ) GROUP BY cl
                ) n2 ON n2.cl = g.k
            ) nxt
            WHERE t.iter < {iters}
        ),
        books AS (SELECT m, book FROM train WHERE iter = {iters}),
        qn AS (
            SELECT list_transform(embedding::DOUBLE[], v -> v / {norm}) AS q
            FROM embeddings WHERE vec_id = {qid}
        ),
        corpus AS (
            SELECT vec_id, label, embedding,
                   list_transform(embedding::DOUBLE[], v -> v / {norm}) AS xn
            FROM embeddings
            WHERE vec_id != {qid} AND embedding IS NOT NULL {corpus_pred}
        ),
        corpus_sub AS (
            SELECT c.vec_id, b.m, c.xn[b.m * {sub} + 1 : b.m * {sub} + {sub}] AS xm,
                   b.book AS book_in
            FROM corpus c, books b
        ),
        codes AS (
            SELECT vec_id, m, list_position(dl, list_min(dl)) AS code1
            FROM (SELECT vec_id, m, [{dist} for k in generate_series(1, {ks})] AS dl
                  FROM corpus_sub)
        ),
        adc AS (
            SELECT cd.vec_id, ROUND(SUM(
                       list_dot_product(q.q[cd.m * {sub} + 1 : cd.m * {sub} + {sub}],
                                        b.book[cd.code1])), 6) AS adc
            FROM codes cd JOIN books b USING (m), qn q
            GROUP BY cd.vec_id
        ),
        shortlist AS (
            SELECT vec_id FROM (
                SELECT vec_id, row_number() OVER (ORDER BY adc DESC, vec_id ASC) AS rk
                FROM adc
            ) WHERE rk <= {rerank}
        )"""


def ext_ann_pq_topk_oracle() -> str:
    """DuckDB re-derivation of the full PQ pipeline: hash-ordered bounded
    sample -> per-subspace Lloyd codebooks (recursive CTE, one lockstep
    row per subspace, 6dp-rounded distances and means) -> corpus encode
    (rounded argmin) -> ADC scores (rounded before ranking) -> exact
    re-rank of the shortlist."""
    return f"""
        WITH RECURSIVE {_sql_pq_chain("", PQ_RERANK)},
        {_sql_rerank_topk("shortlist")}
    """


IVFPQ_RERANK = 50  # ADC shortlist within the probed lists (≤ PQ_RERANK:
                   # the coarse quantizer already pruned ~3/4 of the corpus)


def ext_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed — the real 100 TB ANN serve shape (the FAISS
    IVFPQ index, as storage + plan properties): the coarse quantizer prunes
    the scan to the query's IVF_NPROBE list PARTITIONS (directory-level
    pruning via the write-time layout, `write_ivf_layout`),
    PQ ADC scores only the survivors (M table lookups per vector — the
    memory-bound fast scan), and the exact re-rank touches IVFPQ_RERANK
    rows. Per-query cost at scale: (nprobe/nlist)·corpus code reads + a
    constant re-rank — no full-corpus stage anywhere.

    Both stages are engine-deterministic (6dp-rounded IVF assignment;
    6dp-rounded PQ training/encode/ADC), so the full oracle is the
    composition of the two existing CTE programs
    (`ext_ann_ivfpq_topk_oracle`). Partition pruning plan-gated and recall
    vs brute force asserted in tests/test_similarity.py.
    """
    path = ensure_ivf_layout(spark, sf_dir)
    probe = ivf_probe_mask(ivf_quantizer(spark, sf_dir)[1], query_vector(spark, sf_dir))
    cand = (
        layouts.read_partitions(spark, path, "ivf_list", np.nonzero(probe[:, 0])[0])
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .where(F.col("embedding").isNotNull())
        .select("vec_id", "label", "embedding")
    )
    return _pq_adc_topk(spark, sf_dir, cand, IVFPQ_RERANK)


def ext_ann_ivfpq_topk_oracle() -> str:
    """Composition of the IVF candidate CTEs (deterministic centroids,
    6dp-rounded assignment, nprobe nearest lists) with the PQ chain
    (codebooks -> encode -> ADC -> shortlist) restricted to the probed
    lists, then the shared exact re-rank tail."""
    nl, npb, qid = IVF_NLIST, IVF_NPROBE, QUERY_VEC_ID
    cos = """ROUND(list_dot_product(e.embedding::DOUBLE[], c.cvec)
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(c.cvec, c.cvec))), 6)"""
    ivf_head = f"""cent AS (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
            FROM embeddings WHERE vec_id < {nl}
        ),
        csims AS (
            SELECT e.vec_id, c.cid, {cos} AS sim
            FROM embeddings e CROSS JOIN cent c
        ),
        cassign AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cid ASC) AS rk
                FROM csims
            ) WHERE rk = 1
        ),
        qprobe AS (
            SELECT cid FROM (
                SELECT cid, row_number() OVER (ORDER BY sim DESC, cid ASC) AS rk
                FROM csims WHERE vec_id = {qid}
            ) WHERE rk <= {npb}
        ),
        ivfcand AS (
            SELECT a.vec_id FROM cassign a JOIN qprobe USING (cid)
            WHERE a.vec_id != {qid}
        )"""
    pred = "AND vec_id IN (SELECT vec_id FROM ivfcand)"
    return f"""
        WITH RECURSIVE {ivf_head},
        {_sql_pq_chain(pred, IVFPQ_RERANK)},
        {_sql_rerank_topk("shortlist")}
    """


# ---------------------------------------------------------------------------
# distributed k-means (the iterative-DataFrame-algorithm pattern)
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 5


def _kmeans_assign(spark: SparkSession):
    """Arrow-batched assign kernel: one (rows × K) numpy distance computation
    per batch → (cluster, sqdist). Centroids arrive as a LITERAL ARRAY
    COLUMN rather than a closure: Spark pays a multi-second warmup per
    DISTINCT pickled UDF (measured 2.4 s), so a closure-over-C kernel
    re-pays it every Lloyd iteration — ONE shared UDF with per-iteration
    literals runs iterations at ~0.6 s. numpy argmin takes the LOWEST index
    on ties, the deterministic tie-break the recipe specifies. Created
    lazily (module import must not require an active SparkSession — the
    DDL return type parses through the JVM) and held per session in
    `cache`: a ``pandas_udf`` binds to the SparkContext that first runs
    it, so one kept across sessions breaks the next context's
    accumulators."""

    def build():
        @F.pandas_udf("struct<cluster:int, sqdist:double>")
        def assign(emb_s: pd.Series, c_s: pd.Series) -> pd.DataFrame:
            X = np.array([np.asarray(e, dtype=np.float64) for e in emb_s])
            if X.size == 0:
                return pd.DataFrame({"cluster": [], "sqdist": []})
            C = np.asarray(c_s.iloc[0], dtype=np.float64).reshape(KMEANS_K, -1)
            # the rounded argmin lets the fit carry an exact recursive-CTE oracle
            cl, d2 = rounded_sqdist_argmin(X, C)
            return pd.DataFrame({"cluster": cl.astype("int32"), "sqdist": d2})

        return assign

    return cache.cached(spark, "", (), "kmeans-assign-udf", build)


def _centroid_col(C_arr):
    # ONE array Literal node, not F.array over K×dim F.lit nodes: the
    # 512-node expression tree costs ~0.4 s of analysis/codegen per
    # iteration (measured; 5 iters 5.4 s → 3.4 s with the single literal)
    return F.lit([float(v) for v in np.asarray(C_arr).flatten()])


def _kmeans_partials(batches):
    """Shared mapInPandas kernel fusing assign + per-partition partial sums.

    Same shared-kernel discipline as `_kmeans_assign` (centroids arrive in
    the ``c`` literal column, so every Lloyd iteration ships this one
    function). Emits ≤ K rows per partition: (cluster, count, elementwise
    sum vector)."""
    sums: dict[int, object] = {}
    counts: dict[int, int] = {}
    C = None
    for pdf in batches:
        if len(pdf) == 0:
            continue
        if C is None:
            C = np.asarray(pdf["c"].iloc[0], dtype=np.float64).reshape(KMEANS_K, -1)
        X = np.array([np.asarray(e, dtype=np.float64) for e in pdf["x"]])
        cl, _ = rounded_sqdist_argmin(X, C)  # the _kmeans_assign rule
        for k in np.unique(cl):
            m = cl == k
            counts[k] = counts.get(k, 0) + int(m.sum())
            prev = sums.get(k)
            s = X[m].sum(axis=0)
            sums[k] = s if prev is None else prev + s
    ks = sorted(counts)
    if not ks:
        # EMPTY partition: yield nothing. Yielding a zero-row frame
        # here crashes Arrow — pandas types the empty "s" column
        # float64, which has no list<double> conversion
        # (ArrowNotImplementedError). Never hit at the fixture sizes
        # (one parquet split, all partitions non-empty); found by
        # scaling.py's 10x run, where the bigger scan produces empty
        # splits.
        return
    yield pd.DataFrame(
        {
            "cluster": pd.array(ks, dtype="int32"),
            "n": [counts[k] for k in ks],
            "s": [sums[k].tolist() for k in ks],
        }
    )


def _kmeans_fit(spark: SparkSession, sf_dir: str):
    """Run KMEANS_ITERS Lloyd iterations; return (base frame, centroids).

    Deterministic: init = lowest-vec_id points, fixed iteration count.
    Each iteration is one distributed assign (narrow map against broadcast
    literal centroids) + one K-group aggregation whose K×(dim+1) result is
    the ONLY thing the driver ever holds.

    The fitted model is cached (see `cache`) — same rationale as the CDC
    message-log cache: three operators (cluster report, label
    assignments, SemDeDup prune) SERVE the same trained model, and a
    deployment trains once and serves many; re-running Lloyd per query
    would measure training three times and serving once. First call pays
    the full fit.
    """
    return cache.cached(
        spark,
        sf_dir,
        ("embeddings",),
        "kmeans-fit",
        lambda: _kmeans_fit_build(spark, sf_dir),
    )


def _kmeans_fit_build(spark: SparkSession, sf_dir: str):
    # no fan_out: a 5000-row × 64-dim frame fans into 64 micro Arrow
    # batches whose per-task overhead dwarfs the trivial kernel work
    emb = tables.load(spark, sf_dir, "embeddings")
    init = (
        emb.where(F.col("embedding").isNotNull())
        .orderBy("vec_id")
        .limit(KMEANS_K)
        .select("embedding")
        .collect()
    )
    C = np.array([r[0] for r in init], dtype=np.float64)
    x = F.transform("embedding", lambda v: v.cast("double"))
    base = emb.where(F.col("embedding").isNotNull()).select("vec_id", x.alias("x"))
    # iterative working set: materialize ONCE so the 5 Lloyd passes read
    # executor-local partitions instead of re-scanning parquet and re-casting
    # per iteration — the same persist-the-training-frame discipline every
    # iterative Spark algorithm uses at scale (lineage also stops growing
    # with the iteration count)
    base = base.localCheckpoint(eager=False)
    for _ in range(KMEANS_ITERS):
        # fused assign + per-partition partial sums in ONE Arrow pass (the
        # treeAggregate shape MLlib's KMeans uses): only ≤ partitions×K
        # (cluster, count, sumvec) rows ever leave the executors. On a
        # 1000-executor run you'd add one groupBy(cluster) combine level
        # before the collect; locally the partial frame is tiny.
        partials = (
            base.withColumn("c", _centroid_col(C))
            .mapInPandas(_kmeans_partials, "cluster int, n long, s array<double>")
            .collect()
        )
        sums = np.zeros_like(C)
        counts = np.zeros(KMEANS_K)
        for r in partials:
            sums[r["cluster"]] += np.asarray(r["s"])
            counts[r["cluster"]] += r["n"]
        nonzero = counts > 0
        # centroid means rounded to 6dp: the per-iteration state the oracle
        # reproduces exactly (summation-order drift « the rounding grain)
        C[nonzero] = np.round(sums[nonzero] / counts[nonzero, None], 6)
    return base, C


def ext_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means over the embeddings table as an ITERATIVE DataFrame
    algorithm — the pattern every iterative workload (clustering, label
    propagation, PageRank) uses on Spark: per-iteration state that must
    stay driver-sized (K×dim centroids) broadcasts into a distributed
    assign step, and the reduce producing the next state is a K-group
    aggregation over the corpus. The corpus never leaves the executors;
    5 iterations = 5 scans + 5 aggregations, each independently parallel.

    Deterministic assignments (lowest-vec_id init, fixed iterations,
    lowest-id argmin tie-break). Oracle-backed (round 3): squared
    distances AND per-iteration centroid means round to 6dp on both
    engines — summation-order float drift (~1e-12) vanishes under the
    rounding grain, so a DuckDB RECURSIVE CTE carrying the centroid list
    as state (the BPE-oracle pattern) re-derives the identical fit
    (`ext_kmeans_embeddings_oracle`); python-reference equality test on
    the assignments additionally pins the recipe.

    Output: per-cluster size and mean within-cluster squared distance.
    """
    base, C = _kmeans_fit(spark, sf_dir)
    return (
        base.select(_kmeans_assign(spark)("x", _centroid_col(C)).alias("a"))
        .select(F.col("a.cluster").alias("cluster"), F.col("a.sqdist").alias("sqdist"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("sqdist"), 6).alias("mean_sqdist"),
        )
        .orderBy("cluster")
    )


def _kmeans_cte_sql() -> str:
    """Shared RECURSIVE-CTE body re-deriving the Lloyd fit in DuckDB —
    state row carries the K centroid vectors as a list (the BPE-oracle
    pattern); used by both the cluster-report oracle and the SemDeDup
    oracle so fit and consumers can never drift."""
    k, iters = KMEANS_K, KMEANS_ITERS
    dist = ("ROUND(list_reduce(list_transform(list_zip(x, cents_in[k]), "
            "p -> (p[1]-p[2])*(p[1]-p[2])), (acc,v) -> acc+v), 6)")
    return f"""
        emb AS (
            SELECT vec_id, embedding::DOUBLE[] AS x
            FROM embeddings WHERE embedding IS NOT NULL
        ),
        init AS (
            SELECT list(x ORDER BY vec_id) AS cents
            FROM (SELECT vec_id, x FROM emb ORDER BY vec_id LIMIT {k})
        ),
        fit AS (
            SELECT 0 AS iter, cents FROM init
            UNION ALL
            SELECT f.iter + 1, nxt.cents
            FROM fit f, LATERAL (
                SELECT list(COALESCE(n.c, f.cents[g.k + 1]) ORDER BY g.k) AS cents
                FROM generate_series(0, {k - 1}) g(k)
                LEFT JOIN (
                    SELECT cl, list(mv ORDER BY d) AS c
                    FROM (
                        SELECT cl, d, ROUND(AVG(v), 6) AS mv
                        FROM (
                            SELECT cl, unnest(x) AS v,
                                   generate_subscripts(x, 1) AS d
                            FROM (
                                SELECT x, list_position(dl, list_min(dl)) - 1 AS cl
                                FROM (
                                    SELECT x,
                                           [{dist} for k in generate_series(1, {k})] AS dl
                                    FROM (SELECT e2.x AS x, f.cents AS cents_in
                                          FROM emb e2)
                                )
                            )
                        )
                        GROUP BY cl, d
                    )
                    GROUP BY cl
                ) n ON n.cl = g.k
            ) nxt
            WHERE f.iter < {iters}
        ),
        final AS (SELECT cents FROM fit WHERE iter = {iters}),
        assigned AS (
            SELECT vec_id, list_position(dl, list_min(dl)) - 1 AS cluster,
                   list_min(dl) AS sqdist
            FROM (
                SELECT vec_id, x, [{dist} for k in generate_series(1, {k})] AS dl
                FROM (SELECT e2.vec_id, e2.x, f.cents AS cents_in
                      FROM emb e2, final f)
            )
        )"""


def ext_kmeans_embeddings_oracle() -> str:
    """DuckDB re-derivation of the full Lloyd fit (see `_kmeans_cte_sql`)."""
    return f"""
        WITH RECURSIVE {_kmeans_cte_sql()}
        SELECT CAST(cluster AS INTEGER) AS cluster, CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(AVG(sqdist), 6) AS mean_sqdist
        FROM assigned GROUP BY cluster
    """


def ext_semdedup_oracle() -> str:
    """SemDeDup oracle: k-means CTE for the assignments, within-cluster
    6dp-rounded pairwise cosines, then the per-cluster greedy keep scan as
    a recursive CTE whose state row carries the kept-id list (all clusters
    advance in lockstep, one rank per recursion step)."""
    thr = SEMDEDUP_THRESHOLD
    return f"""
        WITH RECURSIVE {_kmeans_cte_sql()},
        ranked AS (
            SELECT a.cluster, a.vec_id, e.x,
                   CASE WHEN sqrt(list_reduce(list_transform(e.x, v -> v * v),
                                              (acc, v) -> acc + v)) = 0
                        THEN 1.0
                        ELSE sqrt(list_reduce(list_transform(e.x, v -> v * v),
                                              (acc, v) -> acc + v)) END AS nrm,
                   row_number() OVER (PARTITION BY a.cluster
                                      ORDER BY a.vec_id) AS rn
            FROM assigned a JOIN emb e USING (vec_id)
        ),
        pairs AS (
            SELECT r1.cluster, r1.vec_id AS a, r2.vec_id AS b,
                   ROUND(list_dot_product(r1.x, r2.x) / (r1.nrm * r2.nrm), 6) AS sim
            FROM ranked r1
            JOIN ranked r2 ON r1.cluster = r2.cluster AND r2.vec_id < r1.vec_id
        ),
        greedy AS (
            SELECT cluster, rn, vec_id, TRUE AS keep,
                   CAST(NULL AS DOUBLE) AS max_sim_kept, [vec_id] AS kept_ids
            FROM ranked WHERE rn = 1
            UNION ALL
            SELECT g.cluster, r.rn, r.vec_id,
                   (l.ms IS NULL OR l.ms <= {thr}) AS keep, l.ms,
                   CASE WHEN l.ms IS NULL OR l.ms <= {thr}
                        THEN list_append(g.kept_ids, r.vec_id)
                        ELSE g.kept_ids END
            FROM greedy g
            JOIN ranked r ON r.cluster = g.cluster AND r.rn = g.rn + 1,
            LATERAL (
                SELECT MAX(p.sim) AS ms
                FROM pairs p
                WHERE p.cluster = g.cluster AND p.a = r.vec_id
                  AND list_contains(g.kept_ids, p.b)
            ) l
        )
        SELECT CAST(cluster AS INTEGER) AS cluster, vec_id, keep, max_sim_kept
        FROM greedy
    """


def kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster) under the same deterministic recipe — exposed for
    the python-reference equality test."""
    base, C = _kmeans_fit(spark, sf_dir)
    return base.select(
        "vec_id",
        _kmeans_assign(spark)("x", _centroid_col(C)).getField("cluster").alias("cluster"),
    )


def ext_kmeans_assign_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked companion to ``ext_kmeans_embeddings``: per-cluster
    assignment counts under the DETERMINISTIC INIT centroids (the K
    lowest-vec_id vectors — Lloyd iteration 0), computed with engine-stable
    arithmetic so the driver's exact value-hash gate applies.

    The fitted model stays rows-only (float summation order in the
    centroid means is engine-specific), but the assign step itself — the
    part that serves at corpus scale — is exactly checkable: squared
    distance is a LEFT FOLD over zip(x, c) on both engines (Spark
    ``F.aggregate``, DuckDB ``list_reduce`` — IEEE ops in identical order
    are bit-identical), rounded to 6 dp BEFORE the argmin, ties to the
    lowest cluster id. Plan: broadcast the K-row centroid side, one narrow
    distance map, one per-vec window, one K-group count — no corpus
    shuffle beyond the final K-row aggregate.
    """
    emb = tables.load(spark, sf_dir, "embeddings")
    return _kmeans_init_assign(emb).groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def kmeans_init_centroids(emb: DataFrame) -> DataFrame:
    """(cluster, cvec): the DETERMINISTIC INIT centroids — identical
    derivation to `_kmeans_fit`'s init (review fix): the K lowest NON-NULL
    vec_ids with cluster = rank-1 — `vec_id < K` would silently diverge
    from the fit on non-contiguous ids or null embeddings."""
    x = F.transform("embedding", lambda v: v.cast("double"))
    wc = Window.orderBy("vec_id")
    return (
        emb.where(F.col("embedding").isNotNull())
        .orderBy("vec_id")
        .limit(KMEANS_K)
        .select(
            (F.row_number().over(wc) - 1).cast("int").alias("cluster"),
            x.alias("cvec"),
        )
    )


def kmeans_assign_with(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cluster): engine-stable nearest-centroid assignment of any
    embeddings frame against a given (cluster, cvec) frame — broadcast
    K-row centroids, one narrow distance map, 6dp-rounded argmin with
    lowest-cluster tie-break. Batch operators pass the init centroids;
    the streaming drift twin passes the frozen offline frame."""
    x = F.transform("embedding", lambda v: v.cast("double"))
    # same isNotNull filter as the fit's base frame: a null embedding has
    # NULL distance to every centroid and would otherwise land on cluster 0
    # by tie-break luck on both engines
    pts = emb.where(F.col("embedding").isNotNull()).select("vec_id", x.alias("x"))
    sqd = F.round(
        F.aggregate(
            F.zip_with("x", "cvec", lambda a, c: (a - c) * (a - c)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        ),
        6,
    )
    scored = pts.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cluster", sqd.alias("sqdist")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("sqdist").asc(), F.col("cluster").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("vec_id", "cluster")
    )


def _kmeans_init_assign(emb: DataFrame) -> DataFrame:
    """(vec_id, cluster) under the deterministic init centroids — the
    engine-stable assignment shared by `ext_kmeans_assign_counts` and the
    embedding drift monitor (`ext_embed_drift`)."""
    return kmeans_assign_with(emb, kmeans_init_centroids(emb))


def _kmeans_assign_cte_sql() -> str:
    """Shared DuckDB CTE body producing the same (vec_id, cluster) frame."""
    k = KMEANS_K
    return f"""
        cent AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster,
                   embedding::DOUBLE[] AS cvec
            FROM (SELECT vec_id, embedding FROM embeddings
                  WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT {k})
        ), d AS (
            SELECT e.vec_id, c.cluster,
                   ROUND(list_reduce(
                       list_transform(
                           list_zip(e.embedding::DOUBLE[], c.cvec),
                           p -> (p[1] - p[2]) * (p[1] - p[2])
                       ),
                       (acc, v) -> acc + v
                   ), 6) AS sqdist
            FROM embeddings e CROSS JOIN cent c
            WHERE e.embedding IS NOT NULL
        ), r AS (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sqdist ASC, cluster ASC) AS rk
            FROM d
        ), assign AS (
            SELECT vec_id, cluster FROM r WHERE rk = 1
        )"""


def ext_embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space population drift per hash split — the embedding-side
    companion to the quality filter's `ext_quality_psi` (round 9): PSI of
    each split's CLUSTER-ASSIGNMENT distribution against the whole-corpus
    distribution, over the K deterministic-init k-means cells. The
    standard "did today's embedding batch move?" reading for a vector
    pipeline: cheap (K-cell histograms, not pairwise distances),
    model-free, and sensitive to modality/source shifts that per-dim
    stats miss. A drifted split invalidates ANN layouts and trained
    filters built on the fit-time geometry.

    Composition: the engine-stable assignment shared with
    `ext_kmeans_assign_counts` (broadcast K centroids, one narrow
    distance map, argmin at 6dp) feeds the SAME PSI core as the text
    monitor (`text.quality_psi_from_binned` — deterministic ln, BIGINT
    nano-unit contributions, smoothed BIGINT counts), with bins = K
    cluster cells and the low-sample gate scaled to 20·K. One corpus
    pass; everything after is splits × K rows. Oracle: the shared
    assignment CTE + the split CASE + the same PSI term program —
    the monitor replays from the programs it composes.
    """
    from .sampling import split_assignment
    from .text import quality_psi_from_binned

    emb = tables.load(spark, sf_dir, "embeddings")
    # two consumers (baseline histogram + per-split bins): materialize once
    assign = _kmeans_init_assign(emb).localCheckpoint(eager=False)
    n = assign.count()
    fit_bin = assign.groupBy(F.col("cluster").alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    binned = assign.select(
        split_assignment("vec_id").alias("grp"), F.col("cluster").alias("bin")
    )
    return quality_psi_from_binned(binned, fit_bin, n, bins=KMEANS_K).select(
        F.col("grp").alias("split"), "n", "psi", "drifted", "low_sample"
    )


def ext_embed_drift_oracle() -> str:
    from .sampling import TRAIN_PCT, VAL_PCT, _oracle_key_hash
    from .text import QC_PSI_ALERT, QC_PSI_MIN_PER_BIN, _ln_det_expr

    k = KMEANS_K
    h = _oracle_key_hash("vec_id")
    lnr, z = _ln_det_expr("r_")
    return f"""
        WITH {_kmeans_assign_cte_sql()},
        fit_bin AS (
            SELECT cluster AS bin, CAST(COUNT(*) AS BIGINT) AS a
            FROM assign GROUP BY cluster
        ),
        na AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM assign),
        sbin AS (
            SELECT CASE WHEN {h} % 100 < {TRAIN_PCT} THEN 'train'
                        WHEN {h} % 100 < {TRAIN_PCT + VAL_PCT} THEN 'val'
                        ELSE 'test' END AS grp,
                   cluster AS bin
            FROM assign
        ),
        grid AS (
            SELECT t.grp, t.nb, gs.bin
            FROM (SELECT grp, CAST(COUNT(*) AS BIGINT) AS nb
                  FROM sbin GROUP BY grp) t
            CROSS JOIN (SELECT CAST(UNNEST(range({k})) AS INTEGER) AS bin) gs
        ),
        terms AS (
            SELECT g.grp, g.nb,
                   CAST(COALESCE(sb.b, 0) + 1 AS DOUBLE)
                       / CAST(g.nb + {k} AS DOUBLE) AS p_,
                   CAST(COALESCE(fb.a, 0) + 1 AS DOUBLE)
                       / CAST(na.v + {k} AS DOUBLE) AS q_,
                   p_ / q_ AS r_,
                   {z} AS z_,
                   z_ * z_ AS z2_,
                   (p_ - q_) * ({lnr}) AS contrib,
                   CAST(ROUND(contrib * 1000000000.0, 0) AS BIGINT) AS cn
            FROM grid g
            CROSS JOIN na
            LEFT JOIN (SELECT grp, bin, CAST(COUNT(*) AS BIGINT) AS b
                       FROM sbin GROUP BY grp, bin) sb
              ON sb.grp = g.grp AND sb.bin = g.bin
            LEFT JOIN fit_bin fb ON fb.bin = g.bin
        )
        SELECT grp AS split, nb AS n,
               ROUND(CAST(SUM(cn) AS DOUBLE) / 1000000000.0, 6) AS psi,
               ROUND(CAST(SUM(cn) AS DOUBLE) / 1000000000.0, 6) > {QC_PSI_ALERT}
                   AS drifted,
               nb < {QC_PSI_MIN_PER_BIN * k} AS low_sample
        FROM terms GROUP BY grp, nb
    """


def ext_kmeans_assign_counts_oracle() -> str:
    return f"""
        WITH {_kmeans_assign_cte_sql()}
        SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n
        FROM assign GROUP BY cluster
    """


MMR_POOL = 20     # candidate pool from the brute-force retrieval stage
MMR_K = 5         # results to select
MMR_LAMBDA = 0.7  # relevance vs diversity trade-off


def ext_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking of the top-``MMR_POOL`` cosine
    candidates for query vec 0 — the diversification stage between retrieval
    and serving (Carbonell & Goldstein 1998): greedily pick
    argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s).

    MMR is inherently sequential (each pick changes the next argmax), so
    like ``reserve_admission_exact`` it ships as a distributed-retrieval +
    bounded-sequential-fold plan: the corpus-sized work (scoring, top-pool
    cut) is the same broadcast-probe narrow map as `ext_topk_similarity`;
    the greedy loop then runs in ONE `applyInPandas` group over the
    pool×pool pair frame — O(MMR_POOL²) rows regardless of corpus size, so
    the sequential stage costs the same at 100 TB as at sf0.001.

    Cross-engine determinism: rel and pairwise sims are rounded to 6 dp
    BEFORE selection on both engines, so the greedy argmax compares
    identical doubles; ties break on vec_id asc. Oracle = RECURSIVE CTE
    carrying the selected-id list.
    """
    import pandas as pd

    emb = _with_norm(tables.load(spark, sf_dir, "embeddings", fan=True))
    q = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb"), F.col("norm").alias("q_norm")
    )
    w = Window.orderBy(F.col("rel").desc(), F.col("vec_id").asc())
    cand = (
        emb.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            "norm",
            F.round(
                _cosine("embedding", F.col("q_emb"), F.col("norm"), F.col("q_norm")), 6
            ).alias("rel"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= MMR_POOL)
        .drop("rank")
        # optimization round 13 (guide §2.4): cand feeds both sides of the
        # pool×pool pair build — uncheckpointed, the corpus-sized scoring
        # + top-pool cut ran once per side. The frame is MMR_POOL rows.
        .localCheckpoint(eager=False)
    )
    a = cand.select(
        F.col("vec_id").alias("a"),
        F.col("rel").alias("rel_a"),
        F.col("embedding").alias("ea"),
        F.col("norm").alias("na"),
    )
    b = cand.select(
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"),
    )
    # SELF-pairs included (join condition True): every candidate reaches the
    # greedy kernel even when the pool has one member and no cross pairs —
    # the kernel ignores a==b rows when computing the diversity penalty
    pairs = (
        a.crossJoin(F.broadcast(b))
        .select(
            "a",
            "rel_a",
            "b",
            F.round(_cosine("ea", F.col("eb"), F.col("na"), F.col("nb")), 6).alias(
                "sim"
            ),
        )
    )

    lam = MMR_LAMBDA

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        rel = dict(zip(pdf["a"], pdf["rel_a"]))
        sim: dict[tuple[int, int], float] = {
            (x, y): s
            for x, y, s in zip(pdf["a"], pdf["b"], pdf["sim"])
            if x != y  # self-sim must not count as a diversity penalty
        }
        remaining = sorted(rel)
        selected: list[int] = []
        out = []
        while remaining and len(selected) < MMR_K:
            best_id, best_score = None, None
            for c in remaining:  # id-asc scan makes ties pick the smaller id
                penalty = max((sim[(c, s)] for s in selected), default=0.0)
                score = lam * rel[c] - (1.0 - lam) * penalty
                if best_score is None or score > best_score:
                    best_id, best_score = c, score
            selected.append(best_id)
            remaining.remove(best_id)
            out.append(
                (len(selected), best_id, round(best_score, 6), rel[best_id])
            )
        return pd.DataFrame(
            out, columns=["mmr_rank", "vec_id", "score", "rel"]
        )

    return (
        pairs.groupBy(F.lit(1).alias("g"))
        .applyInPandas(greedy, "mmr_rank int, vec_id long, score double, rel double")
    )


def ext_mmr_diversify_oracle() -> str:
    lam, pool, k, qid = MMR_LAMBDA, MMR_POOL, MMR_K, QUERY_VEC_ID
    return f"""
        WITH RECURSIVE cand AS (
            SELECT vec_id, embedding, rel FROM (
                SELECT vec_id, embedding, rel,
                       row_number() OVER (ORDER BY rel DESC, vec_id ASC) AS rk
                FROM (
                    SELECT e.vec_id, e.embedding,
                           ROUND(list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[])
                                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                                    * sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 6) AS rel
                    FROM embeddings e,
                         (SELECT embedding FROM embeddings WHERE vec_id = {qid}) q
                    WHERE e.vec_id != {qid}
                )
            ) WHERE rk <= {pool}
        ),
        pairs AS (
            SELECT x.vec_id AS a, y.vec_id AS b,
                   ROUND(list_dot_product(x.embedding::DOUBLE[], y.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(x.embedding::DOUBLE[], x.embedding::DOUBLE[]))
                            * sqrt(list_dot_product(y.embedding::DOUBLE[], y.embedding::DOUBLE[]))), 6) AS sim
            FROM cand x JOIN cand y ON x.vec_id != y.vec_id
        ),
        sel AS (
            SELECT 1 AS mmr_rank,
                   [p.vec_id] AS ids, p.vec_id AS picked, {lam} * p.rel AS score
            FROM (SELECT vec_id, rel FROM cand
                  ORDER BY {lam} * rel DESC, vec_id ASC LIMIT 1) p
            UNION ALL
            SELECT s.mmr_rank + 1, list_append(s.ids, nxt.vec_id), nxt.vec_id, nxt.score
            FROM sel s, LATERAL (
                SELECT c.vec_id,
                       {lam} * c.rel - (1.0 - {lam}) * COALESCE(
                           (SELECT MAX(p.sim) FROM pairs p
                            WHERE p.a = c.vec_id AND list_contains(s.ids, p.b)), 0.0
                       ) AS score
                FROM cand c
                WHERE NOT list_contains(s.ids, c.vec_id)
                ORDER BY score DESC, c.vec_id ASC
                LIMIT 1
            ) nxt
            WHERE s.mmr_rank < {k}
        )
        SELECT s.mmr_rank, s.picked AS vec_id,
               ROUND(s.score, 6) AS score, c.rel AS rel
        FROM sel s JOIN cand c ON c.vec_id = s.picked
    """


SEMDEDUP_THRESHOLD = 0.45  # within-cluster cosine prune threshold


def ext_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-prune semantic dedup, Abbas et al. 2023):
    k-means the embedding space, then inside EACH cluster drop any vector
    whose cosine to an already-kept lower-id vector exceeds the threshold.
    The clustering makes the quadratic step tractable — all-pairs runs per
    cluster (SemDeDup sizes k so clusters stay small), never corpus-wide.

    Plan: the assignments come from the shared deterministic k-means stage;
    one shuffle on ``cluster`` feeds an `applyInPandas` group kernel doing
    the O(c²) normalized-matmul + greedy keep scan. Keep rule is
    deterministic (vec_id asc greedy — a pruned vector never suppresses
    later ones, matching the paper's keep-one-per-duplicate-set intent).
    At 100 TB the skew guard is k itself: grow KMEANS_K with corpus size so
    max cluster stays bounded; the kernel is linear in memory (c×dim).

    Oracle-backed (round 3): the k-means assignments are engine-
    deterministic (see `ext_kmeans_embeddings`), pairwise sims round to
    6dp before the greedy compare, and the per-cluster greedy itself is a
    recursive CTE carrying the kept-id list (the MMR-oracle pattern, all
    clusters advancing in lockstep); python-reference equality test
    additionally pins the recipe.
    """
    import pandas as pd

    assign = kmeans_assignments(spark, sf_dir)
    emb = tables.load(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    joined = emb.select("vec_id", "embedding").join(assign, "vec_id")

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        X = np.array([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
        norms = np.sqrt((X * X).sum(axis=1))
        norms[norms == 0] = 1.0
        Xn = X / norms[:, None]
        # 6dp-rounded pairwise sims BEFORE the greedy compare: the
        # normalize-then-matmul float path differs from SQL's
        # dot/(|a||b|) at ~1e-16, and round∘max == max∘round (rounding is
        # monotone), so the keep decisions are engine-identical
        S = np.round(Xn @ Xn.T, 6)
        kept: list[int] = []
        keep_flags, max_sims = [], []
        for i in range(len(pdf)):
            sim = float(S[i, kept].max()) if kept else None
            ok = sim is None or sim <= SEMDEDUP_THRESHOLD
            keep_flags.append(ok)
            max_sims.append(sim)
            if ok:
                kept.append(i)
        return pd.DataFrame(
            {
                "cluster": pdf["cluster"],
                "vec_id": pdf["vec_id"],
                "keep": keep_flags,
                "max_sim_kept": max_sims,
            }
        )

    return joined.groupBy("cluster").applyInPandas(
        prune, "cluster int, vec_id long, keep boolean, max_sim_kept double"
    )
