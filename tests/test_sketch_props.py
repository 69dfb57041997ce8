"""Property-based checks (hypothesis) for the mergeable-sketch kernels.

These pin the ALGEBRA the distributed plans rely on — pure python, no
SparkSession, so they explore hundreds of random merge trees in seconds:

- Misra–Gries: `text.mg_merge` preserves the summary guarantee
  (no false negatives above N/(k+1); est ≤ true ≤ est + N/(k+1)) across
  ARBITRARY chunkings and merge orders — the property that makes both the
  per-partition pass-1 reduction and the streaming fold sound.
- bottom-K: bottom-K of a union equals bottom-K of the parts' bottom-Ks —
  the exact-mergeability identity behind `_qsk_partials`/`_qsk_bottomk`
  and the KMV family.
- Count-Min: cell tables add, and min-over-cells never underestimates —
  the identities behind `_cms_cells` map-side combine and
  `freq_sketch_update`'s cell-wise fold.
"""

from __future__ import annotations

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st

from boletia_kubernetes_kafka_mongodb_spark.operators.text import mg_merge


def _mg_python(stream: list[str], k: int) -> dict[str, int]:
    """Reference MG(k) summary — mirrors the mapInPandas kernel."""
    counters: dict[str, int] = {}
    for t in stream:
        if t in counters:
            counters[t] += 1
        elif len(counters) < k:
            counters[t] = 1
        else:
            for key in list(counters):
                counters[key] -= 1
                if counters[key] == 0:
                    del counters[key]
    return counters


tokens = st.sampled_from([f"t{i}" for i in range(12)])


@given(
    stream=st.lists(tokens, min_size=1, max_size=300),
    cuts=st.lists(st.integers(0, 300), max_size=6),
    k=st.integers(2, 6),
)
@settings(max_examples=200, deadline=None)
def test_mg_merge_guarantee_any_chunking(stream, cuts, k):
    bounds = sorted({min(c, len(stream)) for c in cuts} | {0, len(stream)})
    chunks = [
        stream[a:b] for a, b in zip(bounds, bounds[1:]) if b > a
    ] or [stream]
    merged: dict[str, int] = {}
    for ch in chunks:
        merged = mg_merge(merged, _mg_python(ch, k), k)
    exact: dict[str, int] = {}
    for t in stream:
        exact[t] = exact.get(t, 0) + 1
    n = len(stream)
    assert len(merged) <= k
    for t, c in exact.items():
        if c * (k + 1) > n:
            assert t in merged, (t, c, n, k, merged)
    for t, est in merged.items():
        true = exact.get(t, 0)
        assert est <= true <= est + n / (k + 1), (t, est, true)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(0, 10**9)),
        min_size=1,
        max_size=120,
        unique_by=lambda r: r[1],  # unique row ids (event_id uniqueness)
    ),
    cut=st.integers(0, 120),
    k=st.integers(1, 16),
)
@settings(max_examples=200, deadline=None)
def test_bottomk_union_merge_exact(rows, cut, k):
    """bottomK(A ∪ B) == bottomK(bottomK(A) ∪ bottomK(B)) under the
    (h, id) total order — rows unique by id, ties in h allowed."""
    key = lambda r: (r[0], r[1])
    bot = lambda rs: sorted(rs, key=key)[:k]
    cut = min(cut, len(rows))
    a, b = rows[:cut], rows[cut:]
    assert bot(rows) == bot(bot(a) + bot(b))


def _cms_cells_py(stream: list[str], d: int, w: int) -> dict:
    cells: dict = {}
    for t in stream:
        for j in range(d):
            b = int(hashlib.md5(f"{j}:{t}".encode()).hexdigest()[:8], 16) % w
            cells[(j, b)] = cells.get((j, b), 0) + 1
    return cells


@given(
    stream=st.lists(tokens, min_size=1, max_size=200),
    cut=st.integers(0, 200),
    d=st.integers(1, 4),
    w=st.integers(2, 8),
)
@settings(max_examples=150, deadline=None)
def test_cms_cells_add_and_never_underestimate(stream, cut, d, w):
    cut = min(cut, len(stream))
    a, b = _cms_cells_py(stream[:cut], d, w), _cms_cells_py(stream[cut:], d, w)
    merged = dict(a)
    for cell, c in b.items():
        merged[cell] = merged.get(cell, 0) + c
    whole = _cms_cells_py(stream, d, w)
    assert merged == whole
    exact: dict[str, int] = {}
    for t in stream:
        exact[t] = exact.get(t, 0) + 1
    for t, c in exact.items():
        est = min(
            whole[(j, int(hashlib.md5(f"{j}:{t}".encode()).hexdigest()[:8], 16) % w)]
            for j in range(d)
        )
        assert est >= c
