"""Arrow-batched pandas UDFs.

NOTE: deliberately NO ``from __future__ import annotations`` here —
``pandas_udf`` resolves the type hints at decoration time, and deferred
(stringified) annotations break its signature inspection.
"""

import pandas as pd

from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType


def make_set_pairs_kernel(measure, threshold):
    """applyInPandas kernel for one (lang, block_i, block_j) tile of the
    exact all-pairs token-set similarity join (see
    ``dedup._blocked_set_pairs``).

    The tile builds a boolean membership matrix over the TILE-LOCAL
    vocabulary (np.unique + searchsorted — built per tile on the executor,
    never on the driver) and computes ALL pairwise intersection sizes in one
    float32 matmul (BLAS; exact for counts ≪ 2²⁴), then vectorizes the
    measure, rounding, and threshold over the whole tile at once.
    ``measure`` ∈ {"jaccard", "containment"}: inter/union vs inter/min-size,
    both with the oracle's round-then-compare semantics; zero-token docs
    score 0.0 (below any threshold), matching the oracles' NULL-drop /
    explicit-exclusion behavior.
    """

    def kernel(key, pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "doc_a": pd.Series(dtype="int64"),
                "doc_b": pd.Series(dtype="int64"),
                "lang": pd.Series(dtype="object"),
                measure: pd.Series(dtype="float64"),
            }
        )
        lang, pi, pj = key

        def pack(rows):
            ids = rows["doc_id"].to_numpy(dtype=np.int64)
            hs = [np.asarray(h, dtype=np.int64) for h in rows["hs"]]
            return ids, hs

        a = pdf[pdf["side"] == "a"]
        if not len(a):
            return empty
        ids_a, hs_a = pack(a)
        diagonal = pi == pj
        if diagonal:
            ids_b, hs_b = ids_a, hs_a
        else:
            b = pdf[pdf["side"] == "b"]
            if not len(b):
                return empty
            ids_b, hs_b = pack(b)
        vocab = np.unique(np.concatenate(hs_a + hs_b + [np.array([], dtype=np.int64)]))

        def membership(hs_list):
            m = np.zeros((len(hs_list), len(vocab)), dtype=np.float32)
            for i, h in enumerate(hs_list):
                m[i, np.searchsorted(vocab, h)] = 1.0
            return m

        m_a = membership(hs_a)
        m_b = m_a if diagonal else membership(hs_b)
        sz_a = np.array([len(h) for h in hs_a], dtype=np.int64)
        sz_b = sz_a if diagonal else np.array([len(h) for h in hs_b], dtype=np.int64)
        inter = (m_a @ m_b.T).astype(np.int64)  # (na, nb) exact intersection sizes
        if measure == "jaccard":
            denom = sz_a[:, None] + sz_b[None, :] - inter
        else:
            denom = np.minimum(sz_a[:, None], sz_b[None, :])
        with np.errstate(divide="ignore", invalid="ignore"):
            s = np.where(denom > 0, np.round(inter / denom, 6), 0.0)
        # diagonal tiles keep only the upper triangle by doc_id order
        pairable = ids_a[:, None] < ids_b[None, :] if diagonal else np.ones_like(s, bool)
        ii, jj = np.nonzero(pairable & (s >= threshold))
        if not len(ii):
            return empty
        ia, ib = ids_a[ii], ids_b[jj]
        return pd.DataFrame(
            {
                "doc_a": np.minimum(ia, ib),
                "doc_b": np.maximum(ia, ib),
                "lang": str(lang),
                measure: s[ii, jj],
            }
        )

    return kernel


def make_set_component_kernel(threshold):
    """applyInPandas kernel: one tile of the exact Jaccard join, but emitting
    the (root, node) STAR EDGES of the tile-local connected components
    instead of the qualifying pair list (see ``dedup.ext_dedup_clusters``).

    Same membership-matmul scoring as ``make_set_pairs_kernel``; the
    in-tile contraction (vectorized min-label pointer jumping) collapses a
    dense tile's ~k² qualifying pairs to ≤ |tile nodes| rows before
    anything leaves the python worker. Tile-local shortcuts are always true
    connections and every qualifying pair scores in its designated tile, so
    the union of star edges has exactly the corpus's connectivity — the
    cross-tile merge happens in ``_connected_components``.
    """

    def kernel(key, pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {"doc_a": pd.Series(dtype="int64"), "doc_b": pd.Series(dtype="int64")}
        )
        _, pi, pj = key

        def pack(rows):
            ids = rows["doc_id"].to_numpy(dtype=np.int64)
            hs = [np.asarray(h, dtype=np.int64) for h in rows["hs"]]
            return ids, hs

        a = pdf[pdf["side"] == "a"]
        if not len(a):
            return empty
        ids_a, hs_a = pack(a)
        diagonal = pi == pj
        if diagonal:
            ids_b, hs_b = ids_a, hs_a
        else:
            b = pdf[pdf["side"] == "b"]
            if not len(b):
                return empty
            ids_b, hs_b = pack(b)
        vocab = np.unique(np.concatenate(hs_a + hs_b + [np.array([], dtype=np.int64)]))

        def membership(hs_list):
            m = np.zeros((len(hs_list), len(vocab)), dtype=np.float32)
            for i, h in enumerate(hs_list):
                m[i, np.searchsorted(vocab, h)] = 1.0
            return m

        m_a = membership(hs_a)
        m_b = m_a if diagonal else membership(hs_b)
        sz_a = np.array([len(h) for h in hs_a], dtype=np.int64)
        sz_b = sz_a if diagonal else np.array([len(h) for h in hs_b], dtype=np.int64)
        inter = (m_a @ m_b.T).astype(np.int64)
        denom = sz_a[:, None] + sz_b[None, :] - inter
        with np.errstate(divide="ignore", invalid="ignore"):
            s = np.where(denom > 0, np.round(inter / denom, 6), 0.0)
        pairable = ids_a[:, None] < ids_b[None, :] if diagonal else np.ones_like(s, bool)
        ii, jj = np.nonzero(pairable & (s >= threshold))
        if not len(ii):
            return empty
        src, dst = ids_a[ii], ids_b[jj]
        # tile-local contraction: min-label propagation with pointer jumping
        nodes = np.unique(np.concatenate([src, dst]))
        si = np.searchsorted(nodes, src)
        di = np.searchsorted(nodes, dst)
        lab = np.arange(len(nodes), dtype=np.int64)
        while True:
            prev = lab.copy()
            np.minimum.at(lab, di, lab[si])
            np.minimum.at(lab, si, lab[di])
            lab = np.minimum(lab, lab[lab])
            if np.array_equal(lab, prev):
                break
        return pd.DataFrame({"doc_a": nodes[lab], "doc_b": nodes})

    return kernel


def make_knn_tile_kernel():
    """applyInPandas kernel for one (block_i, block_j) tile of the exact
    1-NN join (see ``similarity.ext_knn_label_transfer``).

    Emits each tile vector's best neighbor WITHIN the tile, from both sides
    (a tile is the only place its two blocks meet, so every vector needs a
    per-tile candidate from each tile it appears in); the global reduce to
    the true 1-NN is a groupBy max on (cosine, −neighbor_id) outside.
    Cosines are rounded before comparison and ties break to the lowest
    neighbor id, matching the oracle's window tie-break exactly.
    """

    def kernel(key, pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "vec_id": pd.Series(dtype="int64"),
                "label": pd.Series(dtype="int32"),
                "nn_vec_id": pd.Series(dtype="int64"),
                "nn_label": pd.Series(dtype="int32"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        pi, pj = key

        def pack(rows):
            ids = rows["vec_id"].to_numpy(dtype=np.int64)
            labs = rows["label"].to_numpy(dtype=np.int32)
            M = np.array([np.asarray(e, dtype=np.float64) for e in rows["embedding"]])
            M /= np.linalg.norm(M, axis=1, keepdims=True)
            return ids, labs, M

        a = pdf[pdf["side"] == "a"]
        if not len(a):
            return empty
        ids_a, lab_a, A = pack(a)
        diagonal = pi == pj
        if diagonal:
            ids_b, lab_b, B = ids_a, lab_a, A
        else:
            b = pdf[pdf["side"] == "b"]
            if not len(b):
                return empty
            ids_b, lab_b, B = pack(b)

        def best(sims, ids_src, lab_src, ids_dst, lab_dst):
            if sims.shape[1] == 0:
                return empty
            m = sims.max(axis=1)
            ok = m > -np.inf
            if not ok.any():
                return empty
            tie_ids = np.where(
                sims == m[:, None], ids_dst[None, :], np.iinfo(np.int64).max
            )
            j = tie_ids.argmin(axis=1)
            return pd.DataFrame(
                {
                    "vec_id": ids_src[ok],
                    "label": lab_src[ok],
                    "nn_vec_id": ids_dst[j][ok],
                    "nn_label": lab_dst[j][ok],
                    "cosine": m[ok],
                }
            )

        sims = np.round(A @ B.T, 6)
        if diagonal:
            np.fill_diagonal(sims, -np.inf)
            return best(sims, ids_a, lab_a, ids_b, lab_b)
        fwd = best(sims, ids_a, lab_a, ids_b, lab_b)
        rev = best(sims.T, ids_b, lab_b, ids_a, lab_a)
        return pd.concat([fwd, rev], ignore_index=True)

    return kernel


def make_block_cosine_kernel(threshold):
    """applyInPandas kernel for one (block_i, block_j) tile of the exact
    all-pairs cosine join (see ``dedup.ext_dedup_embedding``).

    Each tile holds its two blocks' vectors (side 'a' = block_i rows, side
    'b' = block_j rows; the diagonal tile carries side 'a' only) and does one
    numpy matmul — vectorized Arrow path, no per-pair python, no data
    outside the tile. Emits (vec_a < vec_b, cosine) above threshold with the
    oracle's round-then-compare semantics.
    """

    def kernel(key, pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "vec_a": pd.Series(dtype="int64"),
                "vec_b": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        a = pdf[pdf["side"] == "a"]
        if not len(a):
            return empty
        ids_a = a["vec_id"].to_numpy(dtype=np.int64)
        A = np.array([np.asarray(e, dtype=np.float64) for e in a["embedding"]])
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        pi, pj = key
        if pi == pj:
            if len(ids_a) < 2:
                return empty
            sims = np.round(A @ A.T, 6)
            iu, ju = np.triu_indices(len(ids_a), k=1)
            s = sims[iu, ju]
            hit = s >= threshold
            ia, ib = ids_a[iu][hit], ids_a[ju][hit]
            s = s[hit]
        else:
            b = pdf[pdf["side"] == "b"]
            if not len(b):
                return empty
            ids_b = b["vec_id"].to_numpy(dtype=np.int64)
            Bm = np.array([np.asarray(e, dtype=np.float64) for e in b["embedding"]])
            Bm /= np.linalg.norm(Bm, axis=1, keepdims=True)
            sims = np.round(A @ Bm.T, 6)
            ii, jj = np.nonzero(sims >= threshold)
            ia, ib = ids_a[ii], ids_b[jj]
            s = sims[ii, jj]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(ia, ib),
                "vec_b": np.maximum(ia, ib),
                "cosine": s,
            }
        )

    return kernel


@pandas_udf(LongType())
def simhash_from_token_hashes(hash_arrays: pd.Series) -> pd.Series:
    """array<long> of per-token 64-bit hashes → 64-bit SimHash signature.

    Bit-majority vote per position, vectorized across the WHOLE Arrow
    batch (optimization round 13, guide §4.2): all rows' token hashes
    concatenate into one (T, 64) bit matrix, per-row vote counts come
    from ``np.add.reduceat`` at the row boundaries, and the bit pack is a
    uint64 shift-sum (wraps mod 2⁶⁴ — exactly the two's-complement value
    the old per-row python fold produced; pinned by the python-reference
    kernel test). No per-row python remains.
    """
    import numpy as np

    out = np.zeros(len(hash_arrays), dtype=np.int64)
    arrs = [
        np.asarray(a, dtype=np.int64)
        for a in hash_arrays
        if a is not None and len(a) > 0
    ]
    live = np.array(
        [a is not None and len(a) > 0 for a in hash_arrays], dtype=bool
    )
    if arrs:
        lens = np.array([len(a) for a in arrs], dtype=np.int64)
        H = np.concatenate(arrs).view(np.uint64)
        bits = (H[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        starts = np.zeros(len(arrs), dtype=np.int64)
        starts[1:] = np.cumsum(lens)[:-1]
        counts = np.add.reduceat(bits.astype(np.int64), starts, axis=0)
        maj = counts * 2 >= lens[:, None]
        sig = (
            maj.astype(np.uint64) << np.arange(64, dtype=np.uint64)[None, :]
        ).sum(axis=1, dtype=np.uint64)
        out[live] = sig.view(np.int64)
    return pd.Series(out)


