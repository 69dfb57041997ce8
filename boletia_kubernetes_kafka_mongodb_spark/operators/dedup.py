"""Deduplication operators (SURVEY.md §2.9 / BASELINE.json extensions).

Four families over ``documents`` (+ one over ``embeddings``):

- exact        — fingerprint groupBy (hash dedup; keep-min winner)
- n-gram Jaccard — token-set similarity pairs within blocking keys
- MinHash+LSH  — shingle → minhash signature → banded bucket join →
                 candidate pairs → exact-Jaccard verification
- SimHash      — 64-bit bit-majority signature via an Arrow-batched pandas
                 UDF; near-dup = small Hamming distance
- embedding    — cosine near-dup pairs (exact; the LSH scale path is in
                 ``similarity.py``)

Scale design: every family is a composition of DataFrame shuffles/joins on
derived keys — nothing corpus-sized touches the driver. The exact pair
finders are block-tiled membership-matmul kernels with an input-scaled tile
degree (a prefix-filter join was measured 20× slower on dense near-dup
corpora — see ``_blocked_set_pairs``); MinHash banding is the sub-quadratic
approximate path. Cluster resolution fuses per-tile contraction into the
kernel, then picks numpy-on-driver vs large-star/small-star by edge count;
exact embedding pairs tile as a block matmul.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache, tables
from .text import TOKEN_RE, fingerprint_col, tokens_col

JACCARD_THRESHOLD = 0.5
MINHASH_PERMS = 32          # signature length
LSH_BANDS = 8               # 8 bands × 4 rows — high recall at 0.5 threshold
SHINGLE_N = 3               # word-shingle width
EMBED_DUP_THRESHOLD = 0.45  # cosine near-dup threshold (data max ≈ 0.51)
SIMHASH_MAX_HAMMING = 8
PAIR_TILE = 256  # in-bucket expansion tile width: per-row candidate
                 # materialization is bounded by PAIR_TILE² structs


def tiled_bucket_pairs(buckets: DataFrame, key, pair) -> DataFrame:
    """Bounded in-bucket pair expansion over a ``members`` array column.

    The naive expansion (``transform × transform`` over the full members
    array) materializes |members|² structs in ONE row before the
    upper-triangle filter. LSH-family buckets are usually tiny, but a hot
    bucket — template-heavy text sharing SimHash band bits, media
    near-dup clusters — grows with the corpus: scaling.py's 10× factor
    measured a 3,843-member SimHash bucket (a ~600 MB single row), and a
    ~50k-member bucket would overflow Spark's 2³¹ array-element limit
    outright. Instead: explode each bucket into ceil(m/PAIR_TILE) slice
    indices, pair the tiles (ci ≤ cj), and expand tile×tile — per-row
    memory O(|members| + PAIR_TILE²) (the rows between the two Generate
    nodes still carry the full members array until the slicing Project;
    the PAIR_TILE² term is what replaced the old |members|² blow-up) —
    while the pair SET stays exact: every unordered pair is emitted
    EXACTLY ONCE, in canonical ``key`` order (off-diagonal tiles meet each
    pair once by construction; diagonal tiles restrict the inner transform
    to trailing indices, round-5 ADVICE — callers need ``.distinct()``
    only for their own multi-band collisions, not for this helper). Same
    chunk-pair discipline as ``er_resolve``'s tiled blocking.

    ``key(member)`` orders members (the doc id); ``pair(lo, hi)`` builds
    the caller's candidate struct. Returns the exploded pairs as column
    ``p``.
    """
    m = F.col("members")
    t = F.ceil(F.size(m) / F.lit(PAIR_TILE)).cast("int")
    tiles = (
        buckets.withColumn("ci", F.explode(F.sequence(F.lit(0), t - 1)))
        .withColumn("cj", F.explode(F.sequence(F.col("ci"), t - 1)))
        .select(
            (F.col("ci") == F.col("cj")).alias("diag"),
            F.slice(m, F.col("ci") * PAIR_TILE + 1, PAIR_TILE).alias("ma"),
            F.slice(m, F.col("cj") * PAIR_TILE + 1, PAIR_TILE).alias("mb"),
        )
    )
    # on the diagonal (ma == mb) each unordered pair would surface twice,
    # as (i,j) and (j,i): the j > i guard keeps exactly one occurrence
    live = lambda i, j: ~F.col("diag") | (j > i)  # noqa: E731
    pairs = F.filter(
        F.flatten(
            F.transform(
                "ma",
                lambda x, i: F.transform(
                    "mb",
                    lambda y, j: F.when(
                        live(i, j) & (key(x) < key(y)), pair(x, y)
                    ).otherwise(
                        F.when(live(i, j) & (key(y) < key(x)), pair(y, x))
                    ),
                ),
            )
        ),
        lambda p: p.isNotNull(),
    )
    return tiles.select(F.explode(pairs).alias("p"))


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text fingerprint; survivor = min doc_id.

    The classic hash-groupBy: shuffle only (fingerprint, doc_id); at 100 TB
    this is one shuffle of ~32 bytes/row. Emits survivor + duplicate count.
    """
    docs = tables.load(spark, sf_dir, "documents")
    fp = fingerprint_col()
    return (
        docs.select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").cast("long").alias("survivor_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
    )


def ext_dedup_exact_oracle() -> str:
    return r"""
        SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint,
               CAST(MIN(doc_id) AS BIGINT) AS survivor_doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM documents
        GROUP BY 1
    """


# ---------------------------------------------------------------------------
# n-gram (token-set) Jaccard pairs
# ---------------------------------------------------------------------------

SET_BLOCKS = 8  # tile-degree FLOOR for the exact set-similarity join


def _block_degree(sf_dir: str, table: str, floor: int = 8, cap: int = 512) -> int:
    """Tile degree for the exact all-pairs joins, scaled to the input.

    One block ≈ ≤64 MB of raw input, so any (i, j) tile — two blocks —
    fits comfortably in one task's memory AT ANY corpus size; a static
    degree would make tiles grow linearly with the corpus and OOM the
    executors exactly when the driver-collect formulation would have OOMed
    the driver. Replication stays (B+1)/2 × the input — the quadratic
    total is what exact all-pairs *means*; the sub-quadratic paths are
    MinHash/LSH/IVF. File-size heuristic (same trick as ``tables.load``'s
    fan decision): instant, no Spark job, and a no-op at test SF where the
    floor applies.
    """
    import os

    try:
        sz = os.path.getsize(f"{sf_dir}/{table}.parquet")
    except OSError:  # directory-style dataset or mocked load — use the floor
        return floor
    return int(max(floor, min(cap, sz // (64 << 20) + 1)))


def _token_hash_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, lang, hs)`` — each doc's distinct tokens as a SORTED
    array of xxhash64 longs; the set size is the array's length. One narrow
    map over the scan: tokens travel as 8-byte longs, never as strings. A 64-bit
    collision merges two tokens (probability ~2⁻⁶⁴ per token pair — the
    same equivalence every hash-based shuffle in the pipeline relies on).

    Cached (see `cache`) behind a lazy ``localCheckpoint``: three dedup
    queries start from this same frame, and in a real pipeline the
    tokenized column is materialized once at ingest, not re-derived per
    downstream consumer.
    """

    def _build():
        docs = tables.load(spark, sf_dir, "documents", fan=True)
        # NULL text ⇒ empty token set (not a NULL array): real crawls carry
        # null documents, and a NULL hs would reach the Arrow kernels as None
        hs = F.array_sort(
            F.transform(
                F.array_distinct(tokens_col(F.coalesce(F.col("text"), F.lit("")))),
                lambda t: F.xxhash64(t),
            )
        )
        return docs.select("doc_id", "lang", hs.alias("hs")).localCheckpoint(eager=False)

    return cache.cached(spark, sf_dir, ("documents",), "token-hash-sets", _build)


def _blocked_set_pairs(spark: SparkSession, sf_dir: str, measure: str, threshold: float) -> DataFrame:
    """Exact all-pairs token-set similarity (Jaccard or containment ≥
    threshold), blocked by ``lang``, as a block-tiled membership-matmul
    join.

    Physical plan: the docs hash into ``B`` blocks and replicate to the
    (i ≤ j) tiles they participate in (``block_tiles``); each (lang, i, j)
    tile scores every cross pair of its two blocks with one float32
    membership matmul over the tile-local vocabulary
    (``make_set_pairs_kernel``). Exact all-pairs is inherently
    quadratic in compute; this shape caps any task at a (N/B)² tile,
    shuffles (B+1)/2 × the (tiny — doc_id + ~25 longs) token-set rows, and
    keeps the driver out of the data path — the round-1 formulation packed
    the corpus into a driver-built broadcast, a driver OOM at 100 TB. The
    tile degree scales with the input (``_block_degree``) so tiles stay
    executor-sized at any corpus size.

    Measured alternative (sf0.1, 5000 docs, ~930-doc near-dup clusters): a
    frequency-ordered prefix-filter join (Vernica et al.) — the textbook
    sub-quadratic exact algorithm — took 49 s generating candidates alone:
    on a DENSE near-dup corpus every cluster member shares its rare prefix
    tokens, so in-bucket expansion emits ~20× the final pair count in
    struct-array form. The tiled kernel does the same exact work in ~3 s
    and its cost is density-independent. The sub-quadratic path for sparse
    corpora remains MinHash-LSH below.
    """
    from ._pandas_udfs import make_set_pairs_kernel

    return _set_tiles(spark, sf_dir).groupBy("lang", "pi", "pj").applyInPandas(
        make_set_pairs_kernel(measure, threshold),
        schema=f"doc_a long, doc_b long, lang string, {measure} double",
    )


def block_tiles(rows: DataFrame, id_col: str, B: int, *cols: str) -> DataFrame:
    """The fan-out stage of every exact block-tiled all-pairs join: each
    row hashes to block ``blk = id mod B`` and is copied to every (i ≤ j)
    tile that holds it — as side 'a' of the tiles (blk, j ≥ blk) and as
    side 'b' of the tiles (i < blk, blk). Columns ``pi``, ``pj``,
    ``id_col``, ``cols`` and ``side``; callers group by (…, pi, pj) and
    split each tile with ``_pandas_udfs.tile_sides``. The diagonal tile
    carries side 'a' only. Replication is (B+1)/2 × the input, by explode,
    never a CartesianProduct."""
    v = rows.select(
        id_col, *cols, F.pmod(id_col, F.lit(B)).cast("int").alias("blk")
    )
    as_a = v.select(
        F.col("blk").alias("pi"),
        F.explode(F.sequence("blk", F.lit(B - 1))).alias("pj"),
        id_col,
        *cols,
        F.lit("a").alias("side"),
    )
    # guard blk > 0: sequence(0, -1) would count DOWN, not produce empty
    as_b = v.where(F.col("blk") > 0).select(
        F.explode(F.sequence(F.lit(0), F.col("blk") - 1)).alias("pi"),
        F.col("blk").alias("pj"),
        id_col,
        *cols,
        F.lit("b").alias("side"),
    )
    return as_a.unionByName(as_b)


def _set_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each doc's token-set row on its (i ≤ j) block tiles — the shared
    fan-out stage of both tiled set-similarity kernels."""
    B = _block_degree(sf_dir, "documents", floor=SET_BLOCKS)
    return block_tiles(_token_hash_sets(spark, sf_dir), "doc_id", B, "lang", "hs")


def ext_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by token-set Jaccard ≥ 0.5, blocked by ``lang``.

    The blocking key bounds the pair space (same-language docs only) — the
    standard exact-verification step of any near-dedup pipeline. See
    ``_blocked_set_pairs`` for the tiled physical plan and the measured
    design alternatives; the sub-quadratic approximate path is MinHash-LSH
    below, for which this operator is the exact ground truth.
    """
    return _blocked_set_pairs(spark, sf_dir, "jaccard", JACCARD_THRESHOLD)


def ext_dedup_ngram_jaccard_oracle() -> str:
    return f"""
        SELECT doc_a, doc_b, lang, jaccard FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
                   ROUND(len(list_intersect(a.toks, b.toks))::DOUBLE
                         / len(list_distinct(a.toks || b.toks)), 6) AS jaccard
            FROM (SELECT doc_id, lang,
                         list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS toks
                  FROM documents) a
            JOIN (SELECT doc_id, lang,
                         list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS toks
                  FROM documents) b
              ON a.lang = b.lang AND a.doc_id < b.doc_id
        ) WHERE jaccard >= {JACCARD_THRESHOLD}
    """


# ---------------------------------------------------------------------------
# near-dup clusters: connected components + survivor selection
# ---------------------------------------------------------------------------

DRIVER_CC_MAX_EDGES = 10_000_000  # below this the edge list is broadcast-sized
_CC_MAX_ROUNDS = 25  # star contraction halves depth per round: 2^25 ≫ any graph


def _cc_driver(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Driver fast path: vectorized min-label propagation with pointer
    jumping over a numpy edge list. Used only when the edge count is under
    ``DRIVER_CC_MAX_EDGES`` — the same size regime where a broadcast join
    would be chosen. Rounds ≈ log(diameter); ~60 ms at 2.3M edges (a
    per-edge python union-find loop was 2.5 s).
    """
    import numpy as np
    import pandas as pd

    from ._pandas_udfs import cc_core

    edges_pdf = edges.toPandas()
    nodes, component = cc_core(
        edges_pdf["doc_a"].to_numpy(dtype=np.int64),
        edges_pdf["doc_b"].to_numpy(dtype=np.int64),
    )
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": nodes, "component": component})
    )


def _cc_star(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Distributed connected components: alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") expressed as DataFrame groupBy/join rounds.

    Each round is two shuffles on node id; the edge set contracts toward a
    union of stars rooted at each component's min node in O(log n) rounds.
    ``localCheckpoint`` per round truncates lineage (the iterative plan
    would otherwise grow exponentially); convergence is detected by an
    order-insensitive (count, hash-xor) signature — one 1-row agg per
    round, never an edge-list materialization on the driver (xor, not sum:
    overflow-free under ANSI mode, and the edge set is distinct so
    duplicate cancellation can't blind it).
    """
    cur = edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    prev_sig = None
    for _ in range(_CC_MAX_ROUNDS):
        # large-star: every neighbor larger than u attaches to the min of
        # u's neighborhood (including u itself)
        sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: orient edges toward the smaller endpoint; every small
        # neighbor (and u itself) attaches to the min small neighbor
        o = large.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        m2 = o.groupBy("u").agg(F.min("v").alias("m"))
        cur = (
            o.join(m2, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m2.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        sig_row = cur.agg(
            F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("u", "v")).alias("s")
        ).first()
        sig = (sig_row["n"], sig_row["s"])
        if sig == prev_sig:
            break
        prev_sig = sig
    comp = (
        cur.groupBy("u")
        .agg(F.min("v").alias("component"))
        .select(F.col("u").alias("doc_id"), "component")
    )
    roots = (
        comp.select(F.col("component").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("component"))
    )
    return comp.union(roots)


def _connected_components(
    spark: SparkSession,
    edges: DataFrame,
    driver_max_edges: int | None = None,
    materialized: bool = False,
) -> DataFrame:
    """(doc_id, component, is_survivor) from an undirected (doc_a, doc_b)
    edge list. Component id = min reachable doc_id (deterministic survivor).

    The edge list materializes once (eager localCheckpoint — it is counted,
    then iterated); the count picks between the driver fast path (edge list
    in the broadcast-size regime) and the distributed star contraction. At
    100 TB the threshold routes to ``_cc_star`` automatically — no code
    path collects an unbounded edge list onto one node.

    ``materialized=True``: the caller's frame is ALREADY a checkpoint (the
    per-dataset edge caches) — re-checkpointing it would copy the whole
    edge list into a second block-manager residency on every invocation
    for zero benefit (guide §2.4: remove work the plan repeats).
    """
    if driver_max_edges is None:
        driver_max_edges = DRIVER_CC_MAX_EDGES
    if not materialized:
        edges = edges.localCheckpoint(eager=True)
    n_edges = edges.count()
    if n_edges == 0:
        out = spark.createDataFrame([], "doc_id long, component long")
    elif n_edges <= driver_max_edges:
        out = _cc_driver(spark, edges)
    else:
        out = _cc_star(spark, edges)
    return out.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("is_survivor"),
    )


def ext_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve near-dup PAIRS into dedup CLUSTERS and pick survivors.

    Pair-finding alone doesn't dedup — transitive groups must collapse to one
    survivor. Component id = min doc_id reachable through the Jaccard-pair
    graph; survivor = the component's min doc_id (deterministic).

    The edge source is the same tiled exact-Jaccard join, FUSED with
    per-tile contraction: each tile runs the membership matmul and then
    collapses its local components, emitting ≤ |tile nodes| star edges
    instead of a dense tile's ~k² qualifying pairs
    (``make_set_component_kernel`` — measured ~2× the whole query: the
    2.3M-pair materialization at sf0.1 becomes ~40k star edges). Cross-tile
    merge picks its physical strategy by edge count — numpy
    pointer-jumping when the star-edge list is broadcast-sized,
    large-star/small-star contraction when it isn't
    (``_connected_components``). No driver packing anywhere in the chain.

    Oracle: a DuckDB RECURSIVE CTE computing min reachable root per node.
    """
    return _connected_components(
        spark, _star_edges_cache(spark, sf_dir), materialized=True
    )


def _star_edges_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused tile-contraction star-edge list, kernel-run + checkpointed
    once (see `cache`) — the same per-dataset edge discipline as
    `graph._jaccard_pairs_cache` (this frame is the ingest-time
    materialization a deployment's cluster-resolution stage starts from;
    re-running the tiled kernel per invocation billed the pair scan to
    every pass)."""
    from ._pandas_udfs import make_set_component_kernel

    def _build():
        return (
            _set_tiles(spark, sf_dir)
            .groupBy("lang", "pi", "pj")
            .applyInPandas(
                make_set_component_kernel(JACCARD_THRESHOLD),
                schema="doc_a long, doc_b long",
            )
            .localCheckpoint(eager=True)
        )

    return cache.cached(spark, sf_dir, ("documents",), "star-edges", _build)


def _sql_clusters_ctes() -> str:
    """The recursive component CTE chain (pairs → edges → verts → reach) —
    ONE definition shared by ``ext_dedup_clusters_oracle`` and the
    leakage-safe split oracle (`sampling.ext_split_leakage_safe_oracle`),
    the round-4 composed-oracle pattern. Callers prepend ``WITH RECURSIVE``
    and aggregate ``reach`` themselves."""
    pair_sql = ext_dedup_ngram_jaccard_oracle()
    return f"""pairs AS ({pair_sql}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        verts AS (SELECT DISTINCT src AS doc_id FROM edges),
        reach AS (
            SELECT doc_id, doc_id AS root FROM verts
            UNION
            SELECT e.dst AS doc_id, r.root
            FROM reach r JOIN edges e ON e.src = r.doc_id
        )"""


def ext_dedup_clusters_oracle() -> str:
    # reuse the pair query as the edge list, then min-reachable-root per node
    return f"""
        WITH RECURSIVE {_sql_clusters_ctes()}
        SELECT doc_id,
               CAST(MIN(root) AS BIGINT) AS component,
               (doc_id = MIN(root)) AS is_survivor
        FROM reach
        GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _shingles(toks):
    """Word n-gram shingles as strings (higher-order functions, JVM-side).

    Built by zipping SHINGLE_N shifted ``slice`` views of the token array —
    NOT ``transform(sequence(...), i -> slice(toks, i+1, n))``: lambda
    bodies re-evaluate the captured token *expression* per element, so the
    tokenizer regex would run once per shingle per row (the same trap
    measured 30× in ext_text_repetition). Shifted slices reference the
    token expression SHINGLE_N+1 times per row, independent of length.

    Note the slice length: ``size - n + 1`` shingles for ``size ≥ n``; a
    sub-n-token doc (1 ≤ size < n) still contributes its whole text as one
    (short) shingle via the ≥1 clamp on the gram count, which the dedup
    semantics rely on. ZERO-token docs yield an EMPTY shingle array — an
    intentional change from an earlier formulation that yielded [''] and
    thereby made all token-less docs mutual jaccard-1.0 duplicates of each
    other; empty docs now simply don't participate in shingle-based dedup
    (pinned in tests/test_dedup.py).
    """
    n = SHINGLE_N
    ng = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    out = F.slice(toks, 1, ng)
    for k in range(1, n):
        out = F.zip_with(
            out,
            F.slice(toks, 1 + k, ng),
            lambda a, b: F.when(b.isNull(), a).otherwise(F.concat_ws(" ", a, b)),
        )
    return F.array_distinct(out)


def _shingles_sql(toks_sql: str) -> str:
    """The `_shingles` expression as ONE Spark-SQL string over an inlined
    token-array expression — operator-for-operator the same tree the Column
    form builds (slice/zip_with/CASE/concat_ws/array_distinct), parsed in a
    single JVM call. Optimization round 13 (guide §7.3, driver time):
    constructing the Column form costs ~45 ms of py4j round-trips PER
    invocation; `F.expr` of this string costs ~1 ms. Equality with the
    Column form `_shingles` is pinned by
    tests/test_dedup.py::test_expr_string_builders_match_column_forms."""
    n = SHINGLE_N
    ng = f"greatest(size({toks_sql}) - {n - 1}, 1)"
    out = f"slice({toks_sql}, 1, {ng})"
    for k in range(1, n):
        out = (
            f"zip_with({out}, slice({toks_sql}, {k + 1}, {ng}), "
            "(a, b) -> CASE WHEN b IS NULL THEN a ELSE concat_ws(' ', a, b) END)"
        )
    return f"array_distinct({out})"


def _tokens_text_sql() -> str:
    """SQL text of ``tokens_col("text")`` (the third argument is explicit:
    Spark's SQL function defaults idx to 1, the Column API passes 0)."""
    from .text import TOKEN_RE

    return f"regexp_extract_all(lower(text), '{TOKEN_RE}', 0)"


def _shingles_text() -> F.Column:
    """``_shingles(tokens_col("text"))`` built via one `F.expr` parse —
    the form every operator call site uses (they all shingle the `text`
    column); the Column builder above stays as the semantic reference the
    equivalence test compares against."""
    return F.expr(_shingles_sql(_tokens_text_sql()))


MINHASH_MOD = (1 << 31) - 1  # Mersenne prime: universal-hash modulus
BAND_FOLD_P = 1_000_003      # band-bucket polynomial base


def minhash_perm_constants() -> list:
    """The (a_k, b_k) universal-hash constants for the MINHASH_PERMS
    permutations h_k(x) = (a_k·x + b_k) mod 2³¹−1 — md5-derived so they are
    reproducible plain integers, embedded as literals in BOTH the Spark
    expression and the DuckDB oracle (round 3: this replaced per-perm
    ``xxhash64(h, k)`` reseeds, which only Spark can compute — the
    universal-hash family is the CLASSIC MinHash construction and makes
    the signature engine-independent at the same cost class: one md5 per
    shingle, then 32 integer ops)."""
    import hashlib

    def c31(tag: str) -> int:
        return int.from_bytes(hashlib.md5(tag.encode()).digest()[:4], "big") & 0x7FFFFFFF

    return [
        ((c31(f"a:{k}") % (MINHASH_MOD - 1)) + 1, c31(f"b:{k}") % MINHASH_MOD)
        for k in range(MINHASH_PERMS)
    ]


def shingle_hash31(s):
    """Engine-independent 31-bit shingle hash (md5 hex → conv → mask) —
    DuckDB computes the identical value, the foundation of the MinHash
    oracle."""
    return (
        F.conv(F.substring(F.md5(s), 1, 8), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit(0x7FFFFFFF))
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id → array<long> MinHash signature (MINHASH_PERMS permutations).

    Shuffle-free formulation: string-hash the shingles ONCE into a per-doc
    array (31-bit md5-derived base hash), materialize that array as a
    concrete attribute behind an ``explode(array(x))`` Generate barrier,
    then take each permutation as ``array_min(transform(hs, h →
    (a_k·h + b_k) mod M))`` over the bound attribute — a pure narrow map,
    and (round 3) every value DuckDB can recompute.

    Two earlier formulations lost, both measured: (a) computing the 32
    per-seed mins directly over the shingle expression made CollapseProject
    inline the shingle construction (regexp tokenize + slices) into every
    seed's lambda (lambda variables defeat subexpression elimination ⇒
    shingling ran 32×, 7.0s); (b) exploding shingles to rows and taking 32
    ``min()`` aggregates avoided the recompute but paid a 1.5M-row shuffle
    for what is a per-doc-local computation (1.5s). The barrier form hashes
    the same values with zero exchange — and at 100 TB a signature stage
    that doesn't shuffle at all beats any agg.
    """
    shingle_hashes = F.transform(
        _shingles_text(), lambda s: shingle_hash31(s)
    )
    with_hashes = docs.select(
        "doc_id", F.explode(F.array(shingle_hashes)).alias("hs")
    )
    return with_hashes.select("doc_id", _minhash_sig_over_hs().alias("sig"))


def _minhash_sig_over_hs() -> F.Column:
    """The 32-perm signature Column over a BOUND ``hs`` attribute (the
    shingle-hash array behind a Generate barrier — see
    `minhash_signatures` for why the barrier is load-bearing). Shared by
    the signature stage and the accuracy audit's members-only pass."""
    # optimization round 13 (guide §7.3, driver time): the 32 transform
    # lambdas cost ~0.44 s of py4j round-trips per invocation when built as
    # Column objects; ONE `F.expr` parse of the identical tree costs ~2 ms.
    # `h` is a long, so the int literals promote exactly as `F.lit(a) * h`
    # did; equality with the Column-builder reference form (kept in
    # tests/test_dedup.py) is pinned by
    # test_expr_string_builders_match_column_forms.
    sql = "array(" + ", ".join(
        f"array_min(transform(hs, h -> ({a}L * h + {b}L) % {MINHASH_MOD}L))"
        for a, b in minhash_perm_constants()
    ) + ")"
    return F.expr(sql)


def minhash_band_keys(docs: DataFrame) -> DataFrame:
    """``(doc_id, band, bucket)`` LSH keys: the 32-perm signature split into
    8 bands of 4, each band hashed to a bucket key. This is the derivation
    both the batch self-join AND the standing index write/probe share — an
    index is only valid if the probe computes keys identically."""
    sigs = minhash_signatures(docs)
    rows_per_band = MINHASH_PERMS // LSH_BANDS
    # polynomial fold mod M instead of xxhash64 over the joined string:
    # engine-independent (the oracle replays the identical fold), and a
    # bucket collision only ever ADDS a candidate — the exact-Jaccard
    # verify stage prices and filters it, so correctness is unaffected.
    # The 8 fold lambdas are parsed as ONE expr string (guide §7.3 driver
    # time, the `_minhash_sig_over_hs` move); `v` is a long so the int
    # literals promote exactly as the F.lit forms did.
    folds_sql = "array(" + ", ".join(
        f"aggregate(slice(sig, {b * rows_per_band + 1}, {rows_per_band}), "
        f"CAST(0 AS BIGINT), "
        f"(acc, v) -> (acc * {BAND_FOLD_P}L + v) % {MINHASH_MOD}L)"
        for b in range(LSH_BANDS)
    ) + ")"
    return sigs.select(
        "doc_id",
        F.posexplode(F.expr(folds_sql)).alias("band", "bucket"),
    )


def _minhash_band_keys_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, bucket) materialized once (see `cache`) — see
    ext_dedup_minhash_lsh's docstring for the rationale."""
    return cache.cached(
        spark,
        sf_dir,
        ("documents",),
        "minhash-bands",
        lambda: minhash_band_keys(
            tables.load(spark, sf_dir, "documents", fan=True)
        ).localCheckpoint(eager=False),
    )


def _minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct banded candidate pairs (doc_a < doc_b) — the shared LSH
    candidate stage of the dedup operator and the accuracy audit.

    In-bucket pair expansion via groupBy + HOF instead of a self-join:
    a self-join's two branches each re-execute the whole shingle→minhash
    subtree (no CSE across join children — measured 2× the work), where
    the groupBy shuffles the banded keys ONCE and expands the k² pairs
    per bucket with array lambdas. LSH buckets are tiny by construction
    (that's the point of banding), but a near-dup-dense corpus grows
    them with the data — the tiled expansion bounds per-row work at
    PAIR_TILE² whatever the bucket size (see tiled_bucket_pairs)."""
    bands = _minhash_band_keys_cache(spark, sf_dir)
    buckets = (
        bands.groupBy("band", "bucket")
        .agg(F.collect_list("doc_id").alias("members"))
        .where(F.size("members") > 1)
    )
    return (
        tiled_bucket_pairs(
            buckets,
            key=lambda d: d,
            pair=lambda a, b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def pair_features(
    docs: DataFrame, pairs: DataFrame, a: str, b: str, features
) -> DataFrame:
    """``(a, b, f_a, f_b, …)``: for each candidate pair, every feature
    column ``f`` that ``features(member_docs)`` returns next to ``doc_id``,
    for both sides — the verify stage of the candidate-priced joins.

    The pair list is materialized once (lazy ``localCheckpoint``: read by
    two join inputs, it would otherwise re-run the candidate chain per
    branch, measured 2×). The doc scan is semi-joined to the distinct
    member ids first (broadcast, no text work), so ``features`` runs once
    per member document however many pairs it joins, and one pair-key
    aggregation assembles both sides.
    """
    cand = pairs.localCheckpoint(eager=False)
    sides = cand.select(a, b, F.explode(F.array(a, b)).alias("member"))
    members = sides.select(F.col("member").alias("doc_id")).distinct()
    feats = features(docs.join(F.broadcast(members), "doc_id", "inner"))
    joined = feats.withColumnRenamed("doc_id", "member").join(
        F.broadcast(sides), "member", "inner"
    )
    member = F.col("member")
    return joined.groupBy(a, b).agg(
        *(
            F.first(F.when(member == F.col(side), F.col(f)), ignorenulls=True).alias(
                f"{f}_{suffix}"
            )
            for f in feats.columns
            if f != "doc_id"
            for side, suffix in ((a, "a"), (b, "b"))
        )
    )


def jaccard_col(x: str, y: str) -> F.Column:
    """6dp-rounded exact Jaccard of two set-valued array columns."""
    return F.round(
        F.size(F.array_intersect(x, y)).cast("double") / F.size(F.array_union(x, y)),
        6,
    )


def ext_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs with exact-Jaccard verification.

    Pipeline (all built-ins): shingle → 32-perm minhash signature → split
    into 8 bands of 4 → hash each band to a bucket key → explode → self-join
    on (band, bucket) → distinct candidate pairs → verify exact shingle
    Jaccard ≥ threshold.

    Scale: the banded join shuffles only (band_hash, doc_id); verification
    re-joins token sets for candidates only — the O(n²) term never
    materializes. Oracle-backed (round 3, engine-independent hash family —
    see `minhash_perm_constants`); recall vs the exhaustive truth set is
    additionally asserted in tests/test_dedup.py.

    Band keys are cached (see `cache`) behind a lazy
    ``localCheckpoint`` — the signature+banding stage is exactly what
    ``write_minhash_band_index`` materializes at ingest in a deployment
    (same `_token_hash_sets` / SimHash-signature discipline).
    """
    docs = tables.load(spark, sf_dir, "documents", fan=True)
    # exact-Jaccard verification priced by the candidate set
    # (`pair_features`): only member docs are shingled, each once — the
    # full-corpus second shingling pass is gone. (~0.25s slower than the
    # corpus-pass form at sf0.1, where one extra pass over 20k docs is
    # almost free — the trade flips catastrophically in the corpus's favor
    # at any real scale.)
    paired = pair_features(
        docs,
        _minhash_candidates(spark, sf_dir),
        "doc_a",
        "doc_b",
        lambda d: d.select("doc_id", _shingles_text().alias("sh")),
    )
    return (
        paired.select("doc_a", "doc_b", jaccard_col("sh_a", "sh_b").alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _sql_shingle_expr() -> str:
    """DuckDB expression computing `_shingles` over a token list ``t`` —
    exact semantics including the empty-doc guard and the sub-n clamp.
    Shared by the MinHash oracles and `ext_ngram_novelty_oracle`."""
    n = SHINGLE_N
    return (
        f"CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE list_distinct([array_to_string(t[i:i+{n - 1}], ' ') "
        f"for i in generate_series(1, greatest(len(t) - {n - 1}, 1))]) END"
    )


def _minhash_sql_parts() -> dict:
    """Shared SQL fragments for the MinHash oracles: shingle sets (exact
    `_shingles` semantics incl. the empty-doc guard), 31-bit base hashes,
    the 32 universal-hash permutation mins, and the band-bucket fold —
    every value integer-identical to the Spark expressions."""
    from .text import TOKEN_RE

    consts = minhash_perm_constants()
    rpb = MINHASH_PERMS // LSH_BANDS
    shingles = _sql_shingle_expr()
    h31 = "CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) & 2147483647"
    sig_terms = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_MOD}))"
        for a, b in consts
    )
    bucket_terms = ", ".join(
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"sig[{b * rpb + 1}:{b * rpb + rpb}]), "
        f"(acc, v) -> (acc * {BAND_FOLD_P} + v) % {MINHASH_MOD})"
        for b in range(LSH_BANDS)
    )
    jac = (
        "ROUND(CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)"
        " / NULLIF(len(a.sh) + len(b.sh)"
        " - len(list_filter(a.sh, x -> list_contains(b.sh, x))), 0), 6)"
    )
    base = f"""
        toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS t
            FROM documents
        ),
        shingled AS (SELECT doc_id, {shingles} AS sh FROM toks),
        hashed AS (
            SELECT doc_id, sh, list_transform(sh, s -> {h31}) AS hs
            FROM shingled
        ),
        sigs AS (SELECT doc_id, sh, [{sig_terms}] AS sig FROM hashed),
        banded AS (
            SELECT doc_id, sh, i.i AS band, buckets[i.i + 1] AS bucket
            FROM (SELECT doc_id, sh, [{bucket_terms}] AS buckets FROM sigs),
                 generate_series(0, {LSH_BANDS - 1}) i(i)
        )"""
    return {"base": base, "jac": jac}


def ext_dedup_minhash_lsh_oracle() -> str:
    """DuckDB re-derivation of the whole MinHash+LSH pipeline — possible
    since round 3's engine-independent hash family (md5 base + universal
    perms + polynomial band fold); candidates share ≥1 (band, bucket) and
    the exact-Jaccard verify replays on the same shingle sets."""
    parts = _minhash_sql_parts()
    return f"""
        WITH {parts["base"]},
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a
            JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
                         AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, jaccard FROM (
            SELECT c.doc_a, c.doc_b, {parts["jac"]} AS jaccard
            FROM cand c
            JOIN shingled a ON a.doc_id = c.doc_a
            JOIN shingled b ON b.doc_id = c.doc_b
        ) WHERE jaccard >= {JACCARD_THRESHOLD}
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def md5_hash64(t):
    """Engine-independent 64-bit token hash: two 32-bit md5 hex chunks
    packed into one signed long — DuckDB computes the identical value
    (conv/substr there), which is what lets SimHash carry an exact oracle.
    xxhash64 would be faster but is Spark-private; the md5 is paid once per
    DISTINCT token per doc, a narrow-map cost."""
    hi = F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5(t), 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id → 64-bit SimHash via an Arrow-batched pandas UDF.

    Bit-majority voting over per-token 64-bit hashes is genuinely awkward as
    SQL (64 conditional sums); the idiomatic Spark escape hatch is a
    vectorized pandas UDF over the token-hash arrays — Arrow batches in, one
    numpy popcount-style fold, longs out (SURVEY.md §2.8 policy). Token
    hashes are md5-derived (`md5_hash64`) so the signature is engine-
    deterministic and the pair query oracle-checkable.
    """
    from ._pandas_udfs import simhash_from_token_hashes

    token_hashes = F.transform(
        F.array_distinct(tokens_col("text")), lambda t: md5_hash64(t)
    )
    return docs.select(
        "doc_id", "lang", simhash_from_token_hashes(token_hashes).alias("simhash")
    )


# 4 × 16-bit bands. Pigeonhole guarantees a band match only for hamming ≤ 3;
# SIMHASH_MAX_HAMMING is 8, so banding here is a LOSSY candidate filter for
# hamming 4-8 (pairs differing in all 4 bands are never considered). The
# oracle replays the identical banding, so parity is unaffected; full recall
# would need 9 bands (hamming ≤ 8 < 9), a deliberate recall/cost trade.
SIMHASH_BANDS = 4


def _simhash_signature_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, simhash) materialized once (see `cache`) — see
    ext_dedup_simhash's docstring for the rationale."""
    return cache.cached(
        spark,
        sf_dir,
        ("documents",),
        "simhash-signatures",
        lambda: simhash_signatures(
            tables.load(spark, sf_dir, "documents", fan=True)
        ).localCheckpoint(eager=False),
    )


def _simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, simhash, sorted doc_id list) — the distinct-signature
    roster, materialized once (see `cache`) on top of the cached
    signature frame. Template-heavy corpora repeat
    signatures (sf0.1: 5,000 docs → 3,905 distinct sigs; the hot 611-member
    band bucket holds only 302), so every downstream stage that operates
    per SIGNATURE instead of per DOC shrinks with the duplication factor."""

    def _build():
        return (
            _simhash_signature_cache(spark, sf_dir)
            .groupBy("lang", "simhash")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
            .localCheckpoint(eager=False)
        )

    return cache.cached(spark, sf_dir, ("documents",), "simhash-groups", _build)


def ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming distance ≤ SIMHASH_MAX_HAMMING.

    Pairs blocked by ``lang``, pruned by pigeonhole banding: the 64-bit
    signature splits into 4 disjoint 16-bit bands; hamming ≤ 3 forces at
    least one band to match exactly, while hamming 4-8 pairs are found only
    if they happen to agree on some band — a LOSSY candidate filter at the
    max-hamming-8 operating point (the oracle replays the same banding, so
    the cross-engine check stays exact).

    Optimization round 14 (r13 verdict #3; guide §2.3/§8 "shuffle keys,
    not payloads"): the banding, in-bucket expansion, Hamming verify and
    multi-band dedup all run over DISTINCT (lang, simhash) GROUPS, not
    docs — hamming and band keys are functions of the signature alone, so
    two docs pair iff their signature groups pair (or share one group:
    hamming 0). The hot-bucket m² expansion shrinks by the square of the
    duplication factor (611-member bucket → 302 distinct sigs at sf0.1 —
    the expansion the r13 verdict flagged as the residual cost), the
    `.distinct()` exchange carries qualifying SIGNATURE pairs instead of
    doc pairs, and doc ids re-attach AFTER the dedup via two group-roster
    joins + explode (output-sized, no re-shuffle of the pair set).
    Output-identical: groups partition docs by (lang, simhash); equal-sig
    pairs are exactly the within-group pairs (hamming 0, always banded
    together); cross-sig pairs expand each qualifying group pair's doc
    cross-product exactly once, so no pair is lost, doubled, or reordered
    (pairs stay canonical via least/greatest). In-bucket expansion stays
    tiled (`tiled_bucket_pairs`) — hot buckets bound per-row memory at
    PAIR_TILE².

    Oracle-backed (round 3): token hashes are md5-derived (`md5_hash64`) —
    engine-independent — and the vote/banding/verify are all integer
    arithmetic, so DuckDB re-derives the identical signatures and pair set
    (`ext_dedup_simhash_oracle`); python-reference equality test
    additionally pins the kernel.

    Signatures (and the distinct-signature roster) are cached (see
    `cache`) behind lazy ``localCheckpoint``s — the `_token_hash_sets`
    discipline: in a real pipeline the signature
    column is materialized once at ingest, not re-derived per consumer.
    """
    groups = _simhash_groups(spark, sf_dir)
    band_keys = F.array(
        *[
            F.shiftright("simhash", 16 * b).bitwiseAND(F.lit(0xFFFF))
            for b in range(SIMHASH_BANDS)
        ]
    )
    banded = groups.select(
        "lang", "simhash", F.posexplode(band_keys).alias("band", "bits")
    )
    buckets = (
        banded.groupBy("lang", "band", "bits")
        .agg(F.collect_list(F.struct("lang", "simhash")).alias("members"))
        .where(F.size("members") > 1)
    )
    sig_pairs = (
        tiled_bucket_pairs(
            buckets,
            key=lambda s: s["simhash"],
            pair=lambda a, b: F.struct(
                a["lang"].alias("lang"),
                a["simhash"].alias("sig_a"),
                b["simhash"].alias("sig_b"),
            ),
        )
        .select(
            "p.lang",
            "p.sig_a",
            "p.sig_b",
            F.bit_count(F.col("p.sig_a").bitwiseXOR(F.col("p.sig_b"))).alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        # multi-band dedup on the signature-pair set (≤ half the rows of
        # the old doc-pair distinct; hamming is a function of the pair,
        # so the extra column does not change the distinct key)
        .distinct()
    )
    ga = groups.select(
        F.col("lang"), F.col("simhash").alias("sig_a"), F.col("docs").alias("docs_a")
    )
    gb = groups.select(
        F.col("lang"), F.col("simhash").alias("sig_b"), F.col("docs").alias("docs_b")
    )
    cross = (
        sig_pairs.join(ga, ["lang", "sig_a"])
        .join(gb, ["lang", "sig_b"])
        .select(
            F.explode("docs_a").alias("da"),
            F.col("docs_b"),
            F.col("hamming"),
        )
        .select(
            F.col("da"),
            F.explode("docs_b").alias("db"),
            F.col("hamming"),
        )
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )
    # within-group pairs: identical signatures share every band and have
    # hamming 0 — emitted straight from the roster, tiled like any other
    # hot bucket (docs lists are pre-sorted, so lo < hi per tile pair)
    within = tiled_bucket_pairs(
        groups.where(F.size("docs") > 1).select(F.col("docs").alias("members")),
        key=lambda d: d,
        pair=lambda a, b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
    ).select(
        "p.doc_a", "p.doc_b", F.lit(0).cast("int").alias("hamming")
    )
    return cross.unionAll(within)


def ext_dedup_simhash_oracle() -> str:
    """DuckDB re-derivation of the full SimHash pipeline: md5-derived
    signed-64 token hashes (`md5_hash64` twin), per-bit majority vote
    carried as four LSB-first 16-bit chunks (= the band keys), candidate
    pairs sharing lang + ≥1 (band, bits), hamming as the chunk-wise
    ``bit_count(xor)`` sum (equal to the 64-bit form — chunks are disjoint
    slices)."""
    bands, maxh = SIMHASH_BANDS, SIMHASH_MAX_HAMMING
    h64 = ("(CASE WHEN CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) >= 2147483648 "
           "THEN CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) - 4294967296 "
           "ELSE CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) END) * 4294967296 "
           "+ CAST(concat('0x', substr(md5(t), 9, 8)) AS BIGINT)")
    return f"""
        WITH hs AS (
            SELECT doc_id, lang,
                   list_transform(
                       list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE}')),
                       t -> {h64}) AS hs
            FROM documents
        ),
        sig AS (
            SELECT doc_id, lang,
                   CASE WHEN len(hs) = 0 THEN [0, 0, 0, 0]
                        ELSE [CAST(list_sum(
                                 [CASE WHEN 2 * list_sum(list_transform(hs,
                                           h -> (h >> (i * 16 + p)) & 1)) >= len(hs)
                                       THEN (1 << p) ELSE 0 END
                                  for p in generate_series(0, 15)]) AS BIGINT)
                              for i in generate_series(0, {bands - 1})]
                   END AS chunks
            FROM hs
        ),
        banded AS (
            SELECT doc_id, lang, chunks, i.i AS band, chunks[i.i + 1] AS bits
            FROM sig, generate_series(0, {bands - 1}) i(i)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.chunks AS ca, b.chunks AS cb
            FROM banded a
            JOIN banded b ON a.lang = b.lang AND a.band = b.band
                         AND a.bits = b.bits AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, hamming FROM (
            SELECT doc_a, doc_b,
                   CAST(bit_count(xor(ca[1], cb[1])) + bit_count(xor(ca[2], cb[2]))
                        + bit_count(xor(ca[3], cb[3])) + bit_count(xor(ca[4], cb[4]))
                        AS INTEGER) AS hamming
            FROM cand
        ) WHERE hamming <= {maxh}
    """


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

EMBED_BLOCKS = 8  # block-matmul tiling-degree FLOOR; replication ≈ (B+1)/2


def ext_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact all-pairs over the vector dim).

    Physical plan: block-partitioned matmul. Vectors hash into
    ``EMBED_BLOCKS`` blocks; each vector replicates to the block *tiles*
    (i ≤ j) it participates in (``block_tiles``), and each tile computes
    one numpy matmul in ``applyInPandas``. Exact
    all-pairs is inherently quadratic in compute, but this shape caps any
    single task at a (N/B)² tile, shuffles (B+1)/2 × the corpus, and keeps
    the driver out of the data path entirely — the previous formulation
    collected the full matrix to the driver, which dies long before the
    executors do at 100 TB. The tile degree scales with the input
    (``_block_degree``) so tiles stay executor-memory-sized at any corpus
    size. The sub-quadratic path is the LSH/IVF bucketing
    in ``similarity.py``/``sources/layouts.py``.
    """
    from ._pandas_udfs import make_block_cosine_kernel

    emb = tables.load(spark, sf_dir, "embeddings")
    B = _block_degree(sf_dir, "embeddings", floor=EMBED_BLOCKS)
    # null vectors can't participate in cosine — drop before the kernel
    vecs = emb.where(F.col("embedding").isNotNull())
    tiles = block_tiles(vecs, "vec_id", B, "embedding")
    return tiles.groupBy("pi", "pj").applyInPandas(
        make_block_cosine_kernel(EMBED_DUP_THRESHOLD),
        schema="vec_a long, vec_b long, cosine double",
    )


def ext_dedup_embedding_oracle() -> str:
    return f"""
        SELECT vec_a, vec_b, cosine FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                            * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        ) WHERE cosine >= {EMBED_DUP_THRESHOLD}
    """


def ext_dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup clusters: connected components over
    the cosine near-dup pair graph, survivor = min vec_id per component.

    The embedding companion to ``ext_dedup_clusters`` — textual near-dup
    finds rewordings, embedding near-dup finds semantic duplicates that
    share no tokens; a full dedup pass clusters both. Reuses the tiled
    exact cosine join for edges and the threshold-routed component
    resolution (numpy pointer-jumping vs large-star/small-star) for the
    merge, so the whole chain stays driver-free.

    Oracle: the same RECURSIVE-CTE min-reachable-root as the token-space
    clusters, over the cosine pair query.
    """
    edges = ext_dedup_embedding(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    out = _connected_components(spark, edges)
    return out.select(
        F.col("doc_id").alias("vec_id"), "component", "is_survivor"
    )


def ext_dedup_semantic_clusters_oracle() -> str:
    pair_sql = ext_dedup_embedding_oracle()
    return f"""
        WITH RECURSIVE pairs AS ({pair_sql}),
        edges AS (
            SELECT vec_a AS src, vec_b AS dst FROM pairs
            UNION ALL
            SELECT vec_b AS src, vec_a AS dst FROM pairs
        ),
        verts AS (SELECT DISTINCT src AS vec_id FROM edges),
        reach AS (
            SELECT vec_id, vec_id AS root FROM verts
            UNION
            SELECT e.dst AS vec_id, r.root
            FROM reach r JOIN edges e ON e.src = r.vec_id
        )
        SELECT vec_id,
               CAST(MIN(root) AS BIGINT) AS component,
               (vec_id = MIN(root)) AS is_survivor
        FROM reach
        GROUP BY vec_id
    """


CONTAINMENT_THRESHOLD = 0.8


def ext_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by token-set CONTAINMENT ≥ 0.8, blocked by ``lang``.

    Containment = |A∩B| / min(|A|,|B|): the asymmetric companion to
    ``ext_dedup_ngram_jaccard`` that flags a short document subsumed by a
    longer one — the quote/boilerplate-extraction case Jaccard's
    union-normalization hides. Same tiled membership-matmul join (see
    ``_blocked_set_pairs``), same blocking, same exact-verification role
    next to the MinHash scale path.
    """
    return _blocked_set_pairs(spark, sf_dir, "containment", CONTAINMENT_THRESHOLD)


def ext_dedup_containment_oracle() -> str:
    return f"""
        SELECT doc_a, doc_b, lang, containment FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
                   ROUND(len(list_intersect(a.toks, b.toks))::DOUBLE
                         / LEAST(len(a.toks), len(b.toks)), 6) AS containment
            FROM (SELECT doc_id, lang,
                         list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS toks
                  FROM documents) a
            JOIN (SELECT doc_id, lang,
                         list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS toks
                  FROM documents) b
              ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE len(a.toks) > 0 AND len(b.toks) > 0
        ) WHERE containment >= {CONTAINMENT_THRESHOLD}
    """


# ---------------------------------------------------------------------------
# segment-level exact dedup (the paragraph/line-dedup analogue)
# ---------------------------------------------------------------------------

SEGMENT_W = 8  # tokens per segment (disjoint windows; tail may be shorter)


def _segment_array(t: str = "t"):
    """Disjoint SEGMENT_W-token windows of the token array column ``t`` —
    shared by the boilerplate MEASUREMENT (`ext_dedup_segments`) and the
    boilerplate REMOVAL (`ext_text_clean`), which must segment identically
    or the transform disagrees with the measurement the keep-list gates on.
    Guard: ``sequence(0, -1)`` would DESCEND for empty docs."""
    n = F.size(t)
    n_segs = F.ceil(n / F.lit(float(SEGMENT_W))).cast("int")
    return F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), n_segs - 1),
            lambda i: F.array_join(
                F.slice(F.col(t), i * SEGMENT_W + 1, SEGMENT_W), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))



def ext_dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-segment fraction — the CCNet/RefinedWeb
    paragraph-dedup step re-expressed over whitespace text: split each
    document into disjoint ``SEGMENT_W``-token windows, count how many of a
    doc's segment instances recur anywhere in the corpus (including within
    the same doc), and report the duplicated fraction. Pipelines drop or
    trim docs whose boilerplate fraction exceeds a threshold; this is the
    measurement that feeds that verdict (cf. `ext_corpus_keep_list`).

    The reference has no corpus surface at all (its records are ticketing
    rows, e.g. `crearReservas/crearReservas.go`); this extends the engine
    per the §2.9 mandate.

    Plan shape: one narrow map builds the segment array per row (the token
    array is a multi-referenced non-cheap projection, so CollapseProject
    keeps it materialized once per row — the regex does NOT re-run per
    segment, cf. the `_shingles` trap) → explode → one shuffle on ``seg``
    for global counts → join back (same key, no extra exchange) → one
    shuffle on ``doc_id``. The count frame is |distinct segments|, never
    collected; at 100 TB both shuffles carry ~corpus/W rows — the same
    shape CCNet runs at web scale.
    """
    docs = tables.load(spark, sf_dir, "documents", fan=True)
    toks = docs.select("doc_id", tokens_col("text").alias("t"))
    seg_arr = _segment_array()
    from pyspark.sql.window import Window

    # optimization round 13 (guide §2.4): segs fed the count branch and
    # the join-back — two tokenize+segment passes of the corpus per plan.
    # A count window over ``seg`` (the `ext_ngram_novelty` one-shuffle
    # shape) replaces agg+join-back: one corpus pass, one exchange on the
    # segment key, identical counts (the window count per seg IS the
    # groupBy count), no checkpoint barrier. (A singleton-owner variant —
    # groupBy(seg)+min(doc_id), narrow ceil(|t|/W) denominator — was
    # built and interleaved-A/B'd this round: a wash at sf0.1, the extra
    # tokenize branch cancels the singleton-only re-agg saving. Left in
    # this form.)
    segs = toks.select("doc_id", F.explode(seg_arr).alias("seg"))
    wf = segs.withColumn("c", F.count(F.lit(1)).over(Window.partitionBy("seg")))
    per = wf.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum((F.col("c") > 1).cast("long")).alias("n_dup_segments"),
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_segments", F.lit(0)).cast("long").alias("n_segments"),
            F.coalesce("n_dup_segments", F.lit(0)).cast("long").alias("n_dup_segments"),
            F.round(
                F.coalesce("n_dup_segments", F.lit(0)).cast("double")
                / F.greatest(F.coalesce("n_segments", F.lit(0)), F.lit(1)),
                4,
            ).alias("dup_frac"),
        )
    )


def ext_dedup_segments_oracle() -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS t
            FROM documents
        ),
        segs AS (
            SELECT doc_id,
                   array_to_string(t[i*{SEGMENT_W}+1 : i*{SEGMENT_W}+{SEGMENT_W}], ' ') AS seg
            FROM toks, unnest(range(CAST(ceil(len(t)/{SEGMENT_W}.0) AS BIGINT))) AS u(i)
        ),
        cnt AS (SELECT seg, COUNT(*) AS c FROM segs GROUP BY seg),
        per AS (
            SELECT s.doc_id, COUNT(*) AS n_segments,
                   COUNT(*) FILTER (c > 1) AS n_dup_segments
            FROM segs s JOIN cnt USING (seg) GROUP BY s.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(n_segments, 0) AS BIGINT) AS n_segments,
               CAST(COALESCE(n_dup_segments, 0) AS BIGINT) AS n_dup_segments,
               ROUND(CAST(COALESCE(n_dup_segments, 0) AS DOUBLE)
                     / GREATEST(COALESCE(n_segments, 0), 1), 4) AS dup_frac
        FROM documents d LEFT JOIN per USING (doc_id)
    """


# ---------------------------------------------------------------------------
# incremental dedup: today's batch against the standing corpus
# ---------------------------------------------------------------------------

def ext_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (nightly-ingest) exact dedup: the arriving batch — the
    'test' hash split standing in for today's crawl — checked against the
    standing corpus by normalized fingerprint. This is the shape a corpus
    pipeline actually runs daily: NOT a full-corpus re-dedup, but new-vs-
    existing, emitting each new doc's verdict and canonical duplicate.

    Plan: one fingerprint shuffle on each side; the existing side is
    pre-aggregated to (fingerprint, min doc_id) BEFORE the join, so every
    join key has exactly one build row — a viral doc duplicated millions of
    times in the standing corpus contributes one row, the same skew-proofing
    as ``ext_decontaminate``. At 100 TB the standing side's agg output is
    |distinct fingerprints| and would persist as a bucketed layout so only
    the (tiny) new batch shuffles per run.
    """
    from .sampling import split_assignment

    docs = tables.load(spark, sf_dir, "documents", fan=True)
    fp = fingerprint_col()
    tagged = docs.select(
        "doc_id", split_assignment("doc_id").alias("split"), fp.alias("fingerprint")
    )
    existing = (
        tagged.where(F.col("split") != "test")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").cast("long").alias("dup_of"))
    )
    new = tagged.where(F.col("split") == "test")
    return new.join(existing, "fingerprint", "left").select(
        "doc_id",
        "fingerprint",
        F.col("dup_of").isNotNull().alias("exact_dup"),
        "dup_of",
    )


def ext_dedup_incremental_oracle() -> str:
    from .sampling import TRAIN_PCT, VAL_PCT, _oracle_key_hash

    h = _oracle_key_hash("doc_id")
    return rf"""
        WITH tagged AS (
            SELECT doc_id,
                   CASE WHEN {h} % 100 < {TRAIN_PCT + VAL_PCT} THEN 'old'
                        ELSE 'test' END AS split,
                   md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
            FROM documents
        ),
        existing AS (
            SELECT fingerprint, CAST(MIN(doc_id) AS BIGINT) AS dup_of
            FROM tagged WHERE split <> 'test' GROUP BY fingerprint
        )
        SELECT n.doc_id, n.fingerprint,
               e.dup_of IS NOT NULL AS exact_dup,
               e.dup_of
        FROM tagged n LEFT JOIN existing e USING (fingerprint)
        WHERE n.split = 'test'
    """


def ext_dedup_incremental_near_oracle() -> str:
    """DuckDB replay of the nightly near-dup probe: band keys for BOTH the
    standing (non-test) corpus and the arriving batch (test split) from the
    shared MinHash SQL parts, candidates on (band, bucket), exact-Jaccard
    verify — identical to write_minhash_band_index + probe."""
    from .sampling import TRAIN_PCT, VAL_PCT, _oracle_key_hash

    parts = _minhash_sql_parts()
    h = _oracle_key_hash("doc_id")
    split = (
        f"CASE WHEN {h} % 100 < {TRAIN_PCT} THEN 'train' "
        f"WHEN {h} % 100 < {TRAIN_PCT + VAL_PCT} THEN 'val' ELSE 'test' END"
    )
    return f"""
        WITH {parts["base"]},
        tagged AS (SELECT *, {split} AS split FROM banded),
        cand AS (
            SELECT DISTINCT n.doc_id AS doc_id, o.doc_id AS dup_of
            FROM tagged n
            JOIN tagged o ON n.band = o.band AND n.bucket = o.bucket
            WHERE n.split = 'test' AND o.split <> 'test'
        )
        SELECT doc_id, dup_of, jaccard FROM (
            SELECT c.doc_id, c.dup_of, {parts["jac"]} AS jaccard
            FROM cand c
            JOIN shingled a ON a.doc_id = c.doc_id
            JOIN shingled b ON b.doc_id = c.dup_of
        ) WHERE jaccard >= {JACCARD_THRESHOLD}
    """


def ext_dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup: the arriving batch (test split) probed against
    the standing corpus's write-time MinHash band index
    (``sources/layouts.write_minhash_band_index``), with exact-Jaccard
    verification of every candidate. The fuzzy companion of
    ``ext_dedup_incremental``: together they are the nightly dedup gate —
    exact fingerprints catch byte-copies, the band probe catches mutated
    ones, and neither re-processes the standing corpus at probe time.

    Oracle-backed (round 3): the engine-independent MinHash family (md5
    base + universal perms) lets DuckDB re-derive the standing index's band
    keys AND the probe's, so the whole nightly gate is hash-checked
    (`ext_dedup_incremental_near_oracle`); the exact verify stage
    guarantees precision and recall vs the exhaustive cross-split pair set
    is asserted in tests. The standing index is a ``cache.artifact``,
    written on first use.
    """
    from ..sources import layouts

    # v2: the hash-scheme change (xxhash64 → md5/universal perms)
    path = cache.artifact(
        spark, sf_dir, ("documents",), "band_index_v2",
        lambda out: layouts.write_minhash_band_index(spark, sf_dir, out),
    )
    return layouts.probe_minhash_band_index(spark, sf_dir, path)


SUBSTR_W = 12  # overlapping-window width in tokens (exact-substring dedup)


def _substring_window_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, wh) frame of `ext_dedup_substring` — the tokenize +
    per-position md5 narrow map. Exposed separately as the plan-gate seam
    for the md5-in-narrow-map shape (one tokenizer, hashes built before
    the explode)."""
    docs = tables.load(spark, sf_dir, "documents", fan=True)
    toks = docs.select("doc_id", tokens_col("text").alias("t"))
    n = F.size("t")
    wh_arr = F.when(
        n >= SUBSTR_W,
        F.transform(
            F.sequence(F.lit(0), n - SUBSTR_W),
            lambda i: F.md5(F.array_join(F.slice(F.col("t"), i + 1, SUBSTR_W), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select("doc_id", F.explode(wh_arr).alias("wh"))


def ext_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc repeated-substring measurement — the exact-substring dedup
    direction of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (suffix-array dedup), re-expressed relationally: every
    OVERLAPPING ``SUBSTR_W``-token window (stride 1, vs `ext_dedup_segments`'
    disjoint stride-W windows) is keyed, and a window is "duplicated" when
    the same token run appears in ≥ 2 DISTINCT documents. Per doc we report
    the fraction of window positions lying on cross-doc repeated runs —
    the signal exact-substring trimming acts on.

    Scale shape: windows are md5-hashed IN the narrow map, so the exploded
    frame carries a fixed 32-byte key instead of a W-token string — the
    stride-1 blowup is |tokens| rows of constant width, not W× the corpus
    text. One combining shuffle on (wh, doc), one on wh, then only the
    single-document hashes re-aggregate (see the in-body note); the
    per-doc window count is a narrow map. Collision risk at md5/128-bit
    is negligible at any corpus size.
    """
    # optimization round 13 take 2 (guide §2.3/§2.4 — singleton-owner
    # aggregation): an instance lies on a cross-doc repeated run unless
    # its window hash is confined to ONE document, and a one-document
    # hash's owner (plus its within-doc instance count) is recoverable
    # from the (wh, doc_id)-level aggregate itself — min(doc_id) and
    # sum(c). So the plan is: one combining groupBy(wh, doc_id) (the same
    # exchange the previous DISTINCT paid), one combining groupBy(wh)
    # over it, then a re-agg of the n_docs=1 groups ONLY (16-byte rows).
    # The previous form joined the full wins frame back onto the count
    # frame (a second full-frame exchange on wh) and re-aggregated every
    # instance by doc_id (a third); both are gone, and with a single
    # consumer the wins frame no longer needs a checkpoint
    # materialization. The denominator is narrow: stride-1 windowing
    # emits exactly max(|t| − W + 1, 0) instances per doc, one tokenize
    # regex per doc (CPU, vs a corpus-sized shuffle at 100 TB).
    docs = tables.load(spark, sf_dir, "documents", fan=True)
    wins = _substring_window_hashes(spark, sf_dir)
    per_doc_win = wins.groupBy("wh", "doc_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    owners = per_doc_win.groupBy("wh").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("doc_id"),
        F.sum("c").alias("ct"),
    )
    uniq = (
        owners.where(F.col("n_docs") == 1)
        .groupBy("doc_id")
        .agg(F.sum("ct").cast("long").alias("n_nondup"))
    )
    toks = docs.select("doc_id", tokens_col("text").alias("t"))
    n = F.size("t")
    # when() leaves NULL-text docs (n is -1/NULL) at 0 like the explode did
    n_win = F.when(n >= SUBSTR_W, n - SUBSTR_W + 1).otherwise(F.lit(0))
    sizes = toks.select("doc_id", n_win.cast("long").alias("n_windows"))
    n_dup = F.col("n_windows") - F.coalesce("n_nondup", F.lit(0))
    return sizes.join(uniq, "doc_id", "left").select(
        "doc_id",
        F.col("n_windows").cast("long").alias("n_windows"),
        n_dup.cast("long").alias("n_dup_windows"),
        F.round(
            n_dup.cast("double") / F.greatest(F.col("n_windows"), F.lit(1)),
            4,
        ).alias("dup_frac"),
    )


def ext_dedup_substring_oracle() -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS t
            FROM documents
        ),
        wins AS (
            SELECT doc_id,
                   md5(array_to_string(t[i+1 : i+{SUBSTR_W}], ' ')) AS wh
            FROM toks, unnest(range(CAST(len(t) - {SUBSTR_W} + 1 AS BIGINT))) AS u(i)
            WHERE len(t) >= {SUBSTR_W}
        ),
        dpw AS (
            SELECT wh, COUNT(*) AS n_docs
            FROM (SELECT DISTINCT wh, doc_id FROM wins) GROUP BY wh
        ),
        per AS (
            SELECT w.doc_id, COUNT(*) AS n_windows,
                   SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS n_dup_windows
            FROM wins w JOIN dpw d USING (wh) GROUP BY w.doc_id
        )
        SELECT doc.doc_id,
               CAST(COALESCE(per.n_windows, 0) AS BIGINT) AS n_windows,
               CAST(COALESCE(per.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
               ROUND(COALESCE(per.n_dup_windows, 0)
                     / GREATEST(COALESCE(per.n_windows, 0), 1), 4) AS dup_frac
        FROM documents doc LEFT JOIN per ON doc.doc_id = per.doc_id
    """


def ext_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate REMOVAL — the transform acting on `ext_dedup_segments`'
    measurement (CCNet/RefinedWeb drop the repeated paragraphs, they don't
    just count them): rebuild each document keeping only segments whose
    token run is globally UNIQUE in the corpus; repeated runs (headers,
    footers, templates) are cut. Output is the normalized kept-token
    stream plus kept/dropped accounting.

    Plan: same two-shuffle shape as the measurement (seg counts, doc_id
    reassembly); ordered reassembly uses ``array_sort(collect_list(
    struct(pos, seg)))`` — position travels WITH the row, so the rebuild
    needs no window or extra sort exchange, and the per-doc state is
    bounded by the doc's own segment count.
    """
    docs = tables.load(spark, sf_dir, "documents", fan=True)
    toks = docs.select("doc_id", tokens_col("text").alias("t"))
    seg_arr = _segment_array()
    from pyspark.sql.window import Window

    # optimization round 13 (guide §2.4): segs fed the count branch and
    # the reassembly join, and toks additionally fed the totals branch —
    # THREE tokenize+segment passes of the corpus in one plan. A count
    # window over ``seg`` (the `ext_ngram_novelty` one-shuffle shape)
    # replaces agg+join-back, and ONE doc_id aggregation now produces
    # kept count, total count AND the reassembled text (`collect_list`
    # drops the NULLs the `when` guard leaves on repeated segments, so
    # the kept-only reassembly needs no pre-filter); totals derive from
    # the same pass (a doc's segment count IS ceil(|t|/W) by
    # `_segment_array` construction; zero-token docs emit no segments
    # and coalesce to 0 exactly as ceil(0/W) did), so the remaining docs
    # scan reads doc_id only — no tokenizer.
    segs = toks.select("doc_id", F.posexplode(seg_arr).alias("pos", "seg"))
    wf = segs.withColumn("c", F.count(F.lit(1)).over(Window.partitionBy("seg")))
    keep = F.col("c") == 1
    per = wf.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_total"),
        F.sum(keep.cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep, F.struct("pos", "seg")))
                ),
                lambda x: x.getField("seg"),
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept_segments"),
            (F.coalesce("n_total", F.lit(0)) - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped_segments"),
        )
    )


def ext_text_clean_oracle() -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS t
            FROM documents
        ),
        segs AS (
            SELECT doc_id, i AS pos,
                   array_to_string(t[i*{SEGMENT_W}+1 : i*{SEGMENT_W}+{SEGMENT_W}], ' ') AS seg
            FROM toks, unnest(range(CAST(ceil(len(t)/{SEGMENT_W}.0) AS BIGINT))) AS u(i)
        ),
        cnt AS (SELECT seg, COUNT(*) AS c FROM segs GROUP BY seg),
        kept AS (
            SELECT s.doc_id, COUNT(*) AS n_kept,
                   string_agg(s.seg, ' ' ORDER BY s.pos) AS clean_text
            FROM segs s JOIN cnt USING (seg)
            WHERE cnt.c = 1
            GROUP BY s.doc_id
        ),
        totals AS (
            SELECT doc_id, CAST(ceil(len(t)/{SEGMENT_W}.0) AS BIGINT) AS n_total
            FROM toks
        )
        SELECT t.doc_id,
               COALESCE(k.clean_text, '') AS clean_text,
               CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept_segments,
               CAST(COALESCE(t.n_total, 0) - COALESCE(k.n_kept, 0) AS BIGINT)
                   AS n_dropped_segments
        FROM totals t LEFT JOIN kept k USING (doc_id)
    """


ER_MAX_EDIT = 1  # near-duplicate identity threshold (typo distance)
ER_TILES = 8     # chunk-pair tiling degree for skewed blocks


def _er_identities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(email, n_reservas) per identity — aggregated on the raw LONG key
    (l_suppkey), email rendered on the aggregated frame only (the
    post-shuffle-render discipline). Seam for crafted-fixture tests."""
    keyed = tables.reservas_keyed(spark, sf_dir, fan=True)
    return (
        keyed.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_reservas"))
        .select(
            tables.email_label(F.col("l_suppkey")).alias("email"), "n_reservas"
        )
    )


def ext_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-customer detection over reservation emails — classic
    entity resolution with EXPLICIT blocking: two identities are candidate
    duplicates when their emails' local parts are within levenshtein
    ``ER_MAX_EDIT`` on the same domain (typo-distance identity, the
    fuzzy-join the reference's unique-index model cannot express).

    Blocking is part of the operator contract (standard ER design — recall
    is determined by the declared keys, not luck): each email emits TWO
    band keys, (domain, len) and (domain, len+1), so any pair whose length
    differs by ≤ 1 — a necessity for edit distance 1 — shares a band.
    Pair expansion is a chunk-pair TILED equi join (T=8 hash chunks per
    band; join key carries the (chunk_a, chunk_b) tile id), so a skewed
    band spreads its |block|² over T² tasks instead of one; a pair is KEPT
    only in the band keyed by the longer member's length and only in one
    chunk orientation, so every pair materializes exactly once with no
    dedup shuffle. The verify is the native ``levenshtein`` intrinsic. Fully
    oracle-checkable: DuckDB's levenshtein agrees with Spark's on the
    classic definition and the oracle replays the SAME blocking, so the
    hash compares engine to engine, not luck to luck.

    Scale: the per-identity aggregation shuffles the raw LONG key
    (``l_suppkey``) — fact rows never carry rendered strings through an
    exchange (the repo-wide post-shuffle-render discipline); emails
    materialize only on the |identities|-sized aggregated frame. In-bucket
    cost is |block|², the knob the declared blocking keys control.

    The banded identities checkpoint is cached (see `cache`) —
    optimization round 14 (r13 verdict #8), the
    `_simhash_signature_cache` discipline: the banded frame is a pure
    function of the reservas fact table, and in a real pipeline the
    identity roster is materialized once at ingest, not re-aggregated
    (full reservas scan + groupBy + render) per resolution run. The cache
    dies with the JVM; the first invocation per application pays the
    build (the bench's disclosed warm-min protocol).
    """
    identities = _er_identities(spark, sf_dir)
    banded = cache.cached(
        spark, sf_dir, ("lineitem",), "er-banded", lambda: _er_banded(identities)
    )
    return er_resolve(identities, _banded=banded)


def _er_banded(identities: DataFrame) -> DataFrame:
    """Banded + tile-chunked identities, lazily checkpointed — the frame
    both tile-expansion sides read (2×|identities| rows)."""
    emails = identities.select(
        "email",
        "n_reservas",
        F.substring_index("email", "@", 1).alias("local"),
        F.substring_index("email", "@", -1).alias("domain"),
    )
    return emails.select(
        "email",
        "local",
        F.length("local").alias("len"),
        "domain",
        "n_reservas",
        F.explode(
            F.array(F.length("local"), F.length("local") + 1)
        ).alias("band_len"),
        # tile chunk: a skewed band (many same-length identities — exactly
        # this fixture's userN emails) would otherwise put its whole |block|²
        # in ONE task; chunk-pair keys spread it over T² tasks (the
        # `block_tiles` tiling pattern, applied to ER as a join)
        F.pmod(F.xxhash64("email"), F.lit(ER_TILES)).cast("int").alias("chunk"),
    ).localCheckpoint(eager=False)


def er_resolve(identities: DataFrame, _banded: DataFrame | None = None) -> DataFrame:
    """The ER banding + chunk-pair tiling + levenshtein verify over an
    (email, n_reservas) identities frame — the seam the adversarial-skew
    tests drive with crafted hot-band fixtures (see ext_entity_resolution
    for the full contract). ``_banded`` lets the declared operator supply
    its dataset-cached banded checkpoint; fixture callers omit it and pay
    the build."""
    banded = _banded if _banded is not None else _er_banded(identities)
    # optimization round 13 (guide §2.4): banded feeds BOTH tile-expansion
    # branches — uncheckpointed, the whole upstream identities aggregation
    # (a full reservas scan + groupBy) executed once per branch. The frame
    # is 2×|identities| rows (one per band key), cheap to materialize.
    a = banded.select(
        F.col("domain").alias("d"),
        F.col("band_len").alias("bl"),
        F.col("chunk").alias("ca"),
        F.explode(F.sequence("chunk", F.lit(ER_TILES - 1))).alias("cb"),
        F.col("email").alias("email_a"),
        F.col("local").alias("local_a"),
        F.col("len").alias("len_a"),
        F.col("n_reservas").alias("n_a"),
    )
    b = banded.select(
        F.col("domain").alias("d"),
        F.col("band_len").alias("bl"),
        F.explode(F.sequence(F.lit(0), "chunk")).alias("ca"),
        F.col("chunk").alias("cb"),
        F.col("email").alias("email_b"),
        F.col("local").alias("local_b"),
        F.col("len").alias("len_b"),
        F.col("n_reservas").alias("n_b"),
    )
    pairs = (
        a.join(b, ["d", "bl", "ca", "cb"])
        # cross-chunk (ca<cb): each unordered pair meets exactly once;
        # same-chunk: both orders meet — keep one via email order. Then
        # keep each pair in exactly ONE length band: the longer member's.
        .where(
            ((F.col("ca") < F.col("cb")) | (F.col("email_a") < F.col("email_b")))
            & (F.col("email_a") != F.col("email_b"))
            & (F.col("bl") == F.greatest("len_a", "len_b"))
        )
    )
    lo_first = F.col("email_a") < F.col("email_b")
    return (
        # thresholded banded DP (the edit-distance operator's verify form):
        # O(d·n) per candidate, returns −1 past the bound — within it the
        # value equals the full DP, so where(dist ≥ 0) ≡ where(dist ≤ d)
        pairs.withColumn(
            "distance", F.levenshtein("local_a", "local_b", ER_MAX_EDIT)
        )
        .where(F.col("distance") >= 0)
        .select(
            F.when(lo_first, F.col("email_a")).otherwise(F.col("email_b")).alias(
                "email_a"
            ),
            F.when(lo_first, F.col("email_b")).otherwise(F.col("email_a")).alias(
                "email_b"
            ),
            "distance",
            (F.col("n_a") + F.col("n_b")).alias("n_reservas_merged"),
        )
    )


def ext_entity_resolution_oracle() -> str:
    from ..oracle import with_domain

    return with_domain(
        f""", emails AS (
            SELECT email, CAST(COUNT(*) AS BIGINT) AS n_reservas,
                   split_part(email, '@', 1) AS local,
                   split_part(email, '@', 2) AS domain
            FROM reservas GROUP BY email
        ),
        banded AS (
            SELECT email, local, domain, n_reservas, band_len
            FROM emails,
                 unnest([length(local), length(local) + 1]) AS u(band_len)
        ),
        pairs AS (
            SELECT DISTINCT a.email AS email_a, b.email AS email_b,
                   a.local AS local_a, b.local AS local_b,
                   a.n_reservas AS n_a, b.n_reservas AS n_b
            FROM banded a JOIN banded b
              ON a.domain = b.domain AND a.band_len = b.band_len
             AND a.email < b.email
        )
        SELECT email_a, email_b,
               CAST(levenshtein(local_a, local_b) AS INTEGER) AS distance,
               n_a + n_b AS n_reservas_merged
        FROM pairs
        WHERE levenshtein(local_a, local_b) <= {ER_MAX_EDIT}"""
    )


# ---------------------------------------------------------------------------
# edit-distance near-dup (round 6): length-band-blocked Levenshtein pairs
# ---------------------------------------------------------------------------

EDIT_DIST_MAX = 8    # max edits for a near-dup pair (and the length gate)
EDIT_PREFIX = 160    # PREFILTER key length: candidates must have prefix
                     # distance ≤ 2·EDIT_DIST_MAX (lossless — see lemma in
                     # the docstring); the verify is on the FULL text
EDIT_BAND = 8        # length-band width; = EDIT_DIST_MAX so a qualifying
                     # pair's bands differ by at most 1 (|Δlen| ≤ max-dist)


def ext_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-edit near-dup pairs: FULL-text Levenshtein over the normalized
    text ≤ ``EDIT_DIST_MAX`` (with |Δ normalized length| ≤ the same bound)
    — the OCR-noise / re-crawl / template-patch duplicate class that
    token-set Jaccard under-scores (a single in-word typo changes the
    token, not the character stream). Round 7 closed the round-6 contract
    (verify on a 160-char prefix) to the full string: ``edit_distance`` is
    now the true document distance.

    Plan — three stages; full texts NEVER enter the band-quadratic join:

    1. One scan → (doc_id, ``EDIT_PREFIX``-char prefix, len,
       band = len // EDIT_BAND).
    2. Length-band candidates (lossless: |Δlen| ≤ max-dist is necessary
       for edit distance ≤ max-dist, and with band width = max-dist a
       qualifying pair's bands differ by ≤ 1, so the SHORTER doc probing
       {band, band+1} finds every pair exactly once; the (len, id)-
       lexicographic role order de-duplicates and excludes self-pairs
       without a DISTINCT), prefiltered by thresholded PREFIX distance ≤
       2·``EDIT_DIST_MAX``. The prefilter is lossless by the alignment
       lemma: if lev(a, b) = e, the optimal alignment maps a[:k] onto
       b[:j] with |j−k| ≤ e and lev(a[:k], b[:j]) ≤ e, hence
       lev(a[:k], b[:k]) ≤ e + |k−j| ≤ 2e — so a full-text match at
       distance ≤ d always has prefix distance ≤ 2d.
    3. Survivors fetch both FULL normalized texts by doc_id equi-join and
       verify with the thresholded banded-DP
       ``levenshtein(nt_a, nt_b, EDIT_DIST_MAX)`` (O(d·n) per pair,
       returns −1 past the bound).

    100 TB: the band join shuffles only ``EDIT_PREFIX``-char prefixes;
    full documents move exactly twice, hash-partitioned by doc_id, and
    only for the surviving candidate ids. Candidate volume is the length
    histogram's self-join — flat for natural corpora. A skewed length
    spike (e.g. fixed-width snippets) makes a band quadratic; the
    production composition is MinHash banding (``ext_dedup_minhash_lsh``)
    as the candidate generator with THIS operator as the exact verifier —
    both are first-class here. (Cf. reference repo's single-node dedup
    pass, pcRes/pcRes.go:1 — no near-dup support at all.)
    """
    docs = tables.load(spark, sf_dir, "documents", fan=True)
    # checkpoint ONCE: the norm subtree (scan + normalize) fans into four
    # plan references — both sides of the band self-join via `keyed`, plus
    # the ta/tb full-text fetch joins — and would re-execute per reference
    # otherwise (the `ext_kmv_set_ops` re-execution class; round-7 ADVICE)
    norm = docs.select(
        "doc_id",
        F.regexp_replace(F.lower("text"), r"\s+", " ").alias("nt"),
    ).localCheckpoint(eager=True)
    keyed = norm.select(
        "doc_id",
        F.substring("nt", 1, EDIT_PREFIX).alias("p"),
        F.length("nt").alias("n"),
        F.floor(F.length("nt") / EDIT_BAND).cast("long").alias("band"),
    )
    probe = keyed.select(
        "doc_id", "p", "n",
        F.explode(F.array(F.col("band"), F.col("band") + 1)).alias("band"),
    )
    a, b = probe.alias("a"), keyed.alias("b")
    shorter_first = (F.col("a.n") < F.col("b.n")) | (
        (F.col("a.n") == F.col("b.n")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    cand = (
        a.join(b, "band")
        .where(shorter_first & (F.col("b.n") - F.col("a.n") <= EDIT_DIST_MAX))
        # lossless 2d prefilter on the prefixes already in the shuffle
        # (thresholded levenshtein: banded DP, O(d·n) per candidate,
        # returns -1 past the bound)
        .where(F.levenshtein(F.col("a.p"), F.col("b.p"), 2 * EDIT_DIST_MAX) >= 0)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
    )
    ta = norm.select(F.col("doc_id").alias("id_a"), F.col("nt").alias("nt_a"))
    tb = norm.select(F.col("doc_id").alias("id_b"), F.col("nt").alias("nt_b"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "dist", F.levenshtein(F.col("nt_a"), F.col("nt_b"), EDIT_DIST_MAX)
        )
        .where(F.col("dist") >= 0)
        .select(
            F.least(F.col("id_a"), F.col("id_b")).alias("doc_a"),
            F.greatest(F.col("id_a"), F.col("id_b")).alias("doc_b"),
            F.col("dist").cast("integer").alias("edit_distance"),
            F.col("n_a").cast("long").alias("len_short"),
            F.col("n_b").cast("long").alias("len_long"),
        )
    )


def ext_dedup_edit_distance_oracle() -> str:
    """DuckDB mirror of the three-stage plan. DuckDB has no thresholded
    3-arg ``levenshtein``, so the oracle states the same semantics with
    the 2-arg form and ``<=`` bounds — within the threshold the banded DP
    and the full DP return the identical value, and pairs past the bound
    are filtered on both engines, so the prefilter being stated
    differently is value-invisible."""
    return f"""
        WITH norm AS (
            SELECT doc_id,
                   regexp_replace(lower(text), '\\s+', ' ', 'g') AS nt
            FROM documents
        ),
        b AS (
            SELECT doc_id, left(nt, {EDIT_PREFIX}) AS p, length(nt) AS n,
                   length(nt) // {EDIT_BAND} AS band, nt
            FROM norm
        )
        SELECT LEAST(a.doc_id, c.doc_id) AS doc_a,
               GREATEST(a.doc_id, c.doc_id) AS doc_b,
               CAST(levenshtein(a.nt, c.nt) AS INTEGER) AS edit_distance,
               CAST(a.n AS BIGINT) AS len_short,
               CAST(c.n AS BIGINT) AS len_long
        FROM b a JOIN b c
          ON c.band - a.band IN (0, 1)
         AND (a.n < c.n OR (a.n = c.n AND a.doc_id < c.doc_id))
         AND c.n - a.n <= {EDIT_DIST_MAX}
        WHERE levenshtein(a.p, c.p) <= {2 * EDIT_DIST_MAX}
          AND levenshtein(a.nt, c.nt) <= {EDIT_DIST_MAX}
    """


# ---------------------------------------------------------------------------
# corpus novelty: per-doc unique-shingle fraction
# ---------------------------------------------------------------------------

def ext_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NOVELTY: the fraction of a doc's distinct word-shingles
    (the same SHINGLE_N-gram family every near-dup operator uses) that
    appear in NO other document. The inverse signal of dedup — memorization
    / boilerplate analysis ranks docs by how much of their content is
    corpus-unique (cf. Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better": duplicated n-grams are what models memorize).

    Plan: one scan → shingle explode → md5-derived 64-bit shingle keys
    (longs shuffle, strings never leave the map side) → document frequency
    via a count window over the shingle key (ONE shuffle, not agg+join-
    back) → per-doc re-aggregation. Zero-shingle docs surface with
    n_shingles = 0 and NULL novelty via the left join from ``documents``.

    Optimization round 13 NOTE (measured, left alone): two structural
    alternatives were built and interleaved-A/B'd at sf0.1 — (a)
    singleton-owner aggregation (groupBy(h) + min(doc_id), per-doc size
    from a second narrow shingle pass) and (b) the same over a
    localCheckpoint of the exploded frame. Both lost (+21 % / +25 % vs
    this form): the dominant cost is the shingle construction itself
    (0.93 s of the 1.6 s — one HOF pass over every token), so any shape
    that constructs twice or materializes the exploded frame pays more
    than the window exchange it saves. This form constructs exactly once
    and streams straight into the one exchange.

    Hash note: df counts collide only when md5-64 collides; both engines
    hash identically so parity is unconditional, and at 2⁶⁴ the expected
    collision error is negligible at any corpus size — the shuffle-width
    win is the 100 TB trade.
    """
    from pyspark.sql.window import Window

    docs = tables.load(spark, sf_dir, "documents")
    # no DISTINCT on (doc_id, h): `_shingles` is already array_distinct per
    # doc, so duplicates arise only from md5-64 collisions — which both
    # engines share bit-for-bit, so parity holds without paying a third
    # full exchange of the exploded frame (plan audited; the two remaining
    # shuffles are the count window on h and the per-doc re-agg)
    ex = docs.select(
        "doc_id", F.explode(_shingles_text()).alias("s")
    ).select("doc_id", md5_hash64(F.col("s")).alias("h"))
    wf = ex.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("h")))
    per = wf.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum((F.col("df") == 1).cast("long")).cast("long").alias("n_novel"),
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.when(
                F.col("n_shingles") > 0,
                F.round(
                    F.col("n_novel").cast("double")
                    / F.col("n_shingles").cast("double"),
                    6,
                ),
            ).alias("novelty"),
        )
    )


def ext_ngram_novelty_oracle() -> str:
    from .text import TOKEN_RE

    h64 = ("(CASE WHEN CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) >= 2147483648 "
           "THEN CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) - 4294967296 "
           "ELSE CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) END) * 4294967296 "
           "+ CAST(concat('0x', substr(md5(s), 9, 8)) AS BIGINT)")
    return f"""
        WITH toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS t
            FROM documents
        ),
        shingled AS (SELECT doc_id, {_sql_shingle_expr()} AS sh FROM toks),
        ex AS (
            SELECT doc_id, {h64} AS h
            FROM (SELECT doc_id, unnest(sh) AS s FROM shingled)
        ),
        wf AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS df FROM ex),
        per AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_shingles,
                   CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
            FROM wf GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
               CAST(COALESCE(p.n_novel, 0) AS BIGINT) AS n_novel,
               CASE WHEN p.n_shingles > 0
                    THEN ROUND(CAST(p.n_novel AS DOUBLE)
                               / CAST(p.n_shingles AS DOUBLE), 6)
               END AS novelty
        FROM documents d LEFT JOIN per p USING (doc_id)
    """


# ---------------------------------------------------------------------------
# MinHash estimator accuracy audit
# ---------------------------------------------------------------------------

def ext_dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-accuracy AUDIT for MinHash: for every banded candidate
    pair, the signature-agreement estimate (matching permutations / 32)
    next to the exact shingle Jaccard and their absolute error — the
    calibration check a pipeline runs before trusting the estimate as a
    pre-verify pruning score or raising the band threshold (the same
    audit-family move as `ext_quality_calibration`: measure the sketch
    against ground truth on exactly the pairs it will be used for).

    Cost shape: identical to the dedup operator's verify stage — priced by
    the CANDIDATE set (shared `_minhash_candidates`), one signature join
    (broadcast-sized: |candidates| ≤ banded collisions) and one
    members-only shingle pass. Every value 6dp-rounded; est and exact are
    both engine-independent, so the audit carries a full oracle.
    """
    # optimization round 13 (guide §2.3/§2.4): the old shape computed the
    # FULL-CORPUS 32-perm signature frame and joined it twice (no CSE
    # across join children ⇒ the corpus shingle+signature pass executed
    # twice), then ran a THIRD members-only shingle pass and a final
    # pair-key join. Both readings are per-member values, so ONE
    # members-only pass now computes (sig, sh) per member doc and ONE
    # pair-key aggregation assembles both sides — the corpus is never
    # signature-scanned at all (candidate-priced, like the dedup verify).
    docs = tables.load(spark, sf_dir, "documents", fan=True)

    def member_feats(member_docs):
        # double Generate barrier: bind sh, then hs, as concrete attributes
        # so neither the shingle construction nor the hash transform inlines
        # into the 32 per-perm lambdas (the measured-7s CollapseProject trap
        # in `minhash_signatures`)
        return (
            member_docs.select(
                "doc_id", F.explode(F.array(_shingles_text())).alias("sh")
            )
            .select(
                "doc_id",
                "sh",
                F.explode(
                    F.array(F.transform("sh", lambda s: shingle_hash31(s)))
                ).alias("hs"),
            )
            .select("doc_id", "sh", _minhash_sig_over_hs().alias("sig"))
        )

    paired = pair_features(
        docs, _minhash_candidates(spark, sf_dir), "doc_a", "doc_b", member_feats
    )
    est = F.round(
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double")
        / F.lit(float(MINHASH_PERMS)),
        6,
    )
    exact = jaccard_col("sh_a", "sh_b")
    return paired.select(
        "doc_a",
        "doc_b",
        est.alias("est_jaccard"),
        exact.alias("exact_jaccard"),
        F.round(F.abs(est - exact), 6).alias("abs_err"),
    )


def ext_dedup_minhash_accuracy_oracle() -> str:
    parts = _minhash_sql_parts()
    est = (
        "ROUND(CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig), "
        "p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE)"
        f" / {float(MINHASH_PERMS)}, 6)"
    )
    return f"""
        WITH {parts["base"]},
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a
            JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
                         AND a.doc_id < b.doc_id
        ),
        scored AS (
            SELECT c.doc_a, c.doc_b,
                   {est} AS est_jaccard,
                   {parts["jac"]} AS exact_jaccard
            FROM cand c
            JOIN sigs sa ON sa.doc_id = c.doc_a
            JOIN sigs sb ON sb.doc_id = c.doc_b
            JOIN shingled a ON a.doc_id = c.doc_a
            JOIN shingled b ON b.doc_id = c.doc_b
        )
        SELECT doc_a, doc_b, est_jaccard, exact_jaccard,
               ROUND(ABS(est_jaccard - exact_jaccard), 6) AS abs_err
        FROM scored
    """
