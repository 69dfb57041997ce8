"""Arrow-batched pandas UDFs.

NOTE: deliberately NO ``from __future__ import annotations`` here —
``pandas_udf`` resolves the type hints at decoration time, and deferred
(stringified) annotations break its signature inspection.
"""

import pandas as pd

from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType


def tile_sides(key, pdf, pack):
    """Split one (…, block_i, block_j) tile of a ``dedup.block_tiles``
    fan-out into its packed sides: ``(diagonal, a, b)``, where ``a`` is
    ``pack`` of the block_i rows and ``b`` of the block_j rows. The
    diagonal tile carries side 'a' only and is paired with itself (``b is
    a``). None when either side is empty — the tile holds no pair."""
    pi, pj = key[-2:]
    a = pdf[pdf["side"] == "a"]
    if not len(a):
        return None
    a = pack(a)
    if pi == pj:
        return True, a, a
    b = pdf[pdf["side"] == "b"]
    if not len(b):
        return None
    return False, a, pack(b)


def _pack_sets(rows):
    import numpy as np

    ids = rows["doc_id"].to_numpy(dtype=np.int64)
    hs = [np.asarray(h, dtype=np.int64) for h in rows["hs"]]
    return ids, hs


def _pack_vectors(rows):
    """(ids, unit-norm row matrix) of a tile side."""
    import numpy as np

    ids = rows["vec_id"].to_numpy(dtype=np.int64)
    M = np.array([np.asarray(e, dtype=np.float64) for e in rows["embedding"]])
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    return ids, M


def _set_tile_scores(key, pdf, measure, threshold):
    """Score one (lang, block_i, block_j) tile of the exact token-set join:
    ``(ids_a, ids_b, score)`` of the pairs scoring ≥ ``threshold``, or None
    when there are none.

    The tile builds a membership matrix over the TILE-LOCAL vocabulary
    (np.unique + searchsorted — built per tile on the executor, never on
    the driver) and computes ALL pairwise intersection sizes in one float32
    matmul (BLAS; exact for counts ≪ 2²⁴), then vectorizes the measure and
    its rounding over the whole tile at once. ``measure`` ∈ {"jaccard",
    "containment"}: inter/union vs inter/min-size, 6dp-rounded as the
    oracles round before they compare; zero-token docs score 0.0 (below any
    threshold), matching the oracles' NULL-drop / explicit-exclusion
    behavior. The diagonal tile keeps only its upper triangle by doc_id
    order."""
    import numpy as np

    sides = tile_sides(key, pdf, _pack_sets)
    if sides is None:
        return None
    diagonal, (ids_a, hs_a), (ids_b, hs_b) = sides
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
    pairable = ids_a[:, None] < ids_b[None, :] if diagonal else np.ones_like(s, bool)
    ii, jj = np.nonzero(pairable & (s >= threshold))
    if not len(ii):
        return None
    return ids_a[ii], ids_b[jj], s[ii, jj]


def cc_core(src, dst):
    """Vectorized min-label propagation with pointer jumping over int64
    (doc_a, doc_b) edge arrays — returns (nodes, component) arrays. Pure
    function of the arrays: the set-component kernel's in-tile
    contraction, the Spark-frame driver path (``dedup._cc_driver``) and
    the graph operators' cached-array fast path share these exact bits."""
    import numpy as np

    nodes = np.unique(np.concatenate([src, dst]))
    si = np.searchsorted(nodes, src)
    di = np.searchsorted(nodes, dst)
    label = np.arange(len(nodes), dtype=np.int64)
    while True:
        prev = label.copy()
        np.minimum.at(label, di, label[si])
        np.minimum.at(label, si, label[di])
        label = np.minimum(label, label[label])  # pointer jumping
        if np.array_equal(label, prev):
            break
    return nodes, nodes[label]


def make_set_pairs_kernel(measure, threshold):
    """applyInPandas kernel for one (lang, block_i, block_j) tile of the
    exact all-pairs token-set similarity join (see
    ``dedup._blocked_set_pairs``): the qualifying pairs of
    ``_set_tile_scores``, with their score."""

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
        hits = _set_tile_scores(key, pdf, measure, threshold)
        if hits is None:
            return empty
        ia, ib, score = hits
        return pd.DataFrame(
            {
                "doc_a": np.minimum(ia, ib),
                "doc_b": np.maximum(ia, ib),
                "lang": str(key[0]),
                measure: score,
            }
        )

    return kernel


def make_set_component_kernel(threshold):
    """applyInPandas kernel: one tile of the exact Jaccard join, but emitting
    the (root, node) STAR EDGES of the tile-local connected components
    instead of the qualifying pair list (see ``dedup.ext_dedup_clusters``).

    Same scoring as ``make_set_pairs_kernel`` (``_set_tile_scores``); the
    in-tile contraction (``cc_core``) collapses a dense tile's ~k²
    qualifying pairs to ≤ |tile nodes| rows before anything leaves the
    python worker. Tile-local shortcuts are always true connections and
    every qualifying pair scores in its designated tile, so the union of
    star edges has exactly the corpus's connectivity — the cross-tile merge
    happens in ``_connected_components``.
    """

    def kernel(key, pdf):
        import pandas as pd

        hits = _set_tile_scores(key, pdf, "jaccard", threshold)
        if hits is None:
            return pd.DataFrame(
                {"doc_a": pd.Series(dtype="int64"), "doc_b": pd.Series(dtype="int64")}
            )
        nodes, component = cc_core(*hits[:2])
        return pd.DataFrame({"doc_a": component, "doc_b": nodes})

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
        def pack(rows):
            return (*_pack_vectors(rows), rows["label"].to_numpy(dtype=np.int32))

        sides = tile_sides(key, pdf, pack)
        if sides is None:
            return empty
        diagonal, (ids_a, A, lab_a), (ids_b, B, lab_b) = sides

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

    One numpy matmul per tile — vectorized Arrow path, no per-pair python,
    no data outside the tile. Emits (vec_a < vec_b, cosine) above threshold
    with the oracle's round-then-compare semantics; the diagonal tile keeps
    its strict upper triangle.
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
        sides = tile_sides(key, pdf, _pack_vectors)
        if sides is None:
            return empty
        diagonal, (ids_a, A), (ids_b, Bm) = sides
        sims = np.round(A @ Bm.T, 6)
        if diagonal:
            ii, jj = np.triu_indices(len(ids_a), k=1)
            hit = sims[ii, jj] >= threshold
            ii, jj = ii[hit], jj[hit]
        else:
            ii, jj = np.nonzero(sims >= threshold)
        ia, ib = ids_a[ii], ids_b[jj]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(ia, ib),
                "vec_b": np.maximum(ia, ib),
                "cosine": sims[ii, jj],
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


