"""Sampling / split operators for training-data pipelines (SURVEY.md §2.9
extension family; BASELINE.json north star — "the operations a large-scale
training-data pipeline would need").

The reference has no sampling surface (its only selection operators are the
keyed lookups of SURVEY.md §2.2); these extend the engine with the two
selection primitives every corpus-construction pipeline runs before
training:

- ``ext_sample_split``  — deterministic train/val/test assignment by
  content-independent key hash. NEVER ``rand()``: the assignment must be a
  pure function of the key so re-runs, incremental appends, and
  cross-engine re-verification place every document in the same split.
- ``ext_sample_quota``  — per-group quota sampling (cap K docs per
  language), deterministic priority = key hash. The standard "balance the
  language mix" / "cap any one domain" step.

Both hash with the first 8 hex digits of md5 — bit-identical in Spark
(``conv(substr(md5(x),1,8),16,10)``) and DuckDB
(``CAST('0x' || substr(md5(x),1,8) AS BIGINT)``), so the oracle check is
exact, not statistical.

Scale design (100 TB): the split is a pure narrow map + a 3-group partial
agg — zero wide shuffle, any executor count. The quota is the skew-prone
one (a hot language would funnel through one window partition), so it runs
the two-phase top-K: a salted local window bounds every task's state to
≤K rows per (group, salt), then the global window ranks the ≤K·SALTS
survivors per group — identical output to the naive single window, but no
task ever sees more than K·SALTS rows of a hot key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import cache, tables

TRAIN_PCT = 80      # bucket < 80        → train
VAL_PCT = 10        # 80 ≤ bucket < 90   → val; rest → test
QUOTA_PER_LANG = 50
QUOTA_SALTS = 16


def _key_hash(col) -> F.Column:
    """Deterministic 32-bit hash of a key column, identical across engines:
    first 8 md5 hex digits as a long (non-negative, < 2^32)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")


def _oracle_key_hash(expr: str) -> str:
    return f"CAST('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8) AS BIGINT)"


def split_assignment(col) -> F.Column:
    """train/val/test label of a key — pure function, stable under re-runs."""
    bucket = _key_hash(col) % 100
    return (
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .when(bucket < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def ext_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split of ``documents`` + per-split corpus stats.

    Each doc's split is ``md5(doc_id) % 100`` bucketed 80/10/10; the query
    returns the per-split document count, token mass, and doc_id range —
    the summary a pipeline logs to prove the split is stable and leakage-free.

    Plan: narrow map (hash + token count per row) → 3-group partial+final
    hash agg. The shuffle carries exactly 3 rows per upstream task.
    """
    from .text import tokens_col

    docs = tables.load(spark, sf_dir, "documents", fan=True)
    return (
        docs.select(
            split_assignment("doc_id").alias("split"),
            "doc_id",
            F.size(tokens_col("text")).alias("n_tokens"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
        )
    )


def ext_sample_split_oracle() -> str:
    from .text import TOKEN_RE

    h = _oracle_key_hash("doc_id")
    return f"""
        SELECT CASE WHEN {h} % 100 < {TRAIN_PCT} THEN 'train'
                    WHEN {h} % 100 < {TRAIN_PCT + VAL_PCT} THEN 'val'
                    ELSE 'test' END AS split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(regexp_extract_all(lower(text), '{TOKEN_RE}'))) AS BIGINT) AS n_tokens,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
               CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
        FROM documents
        GROUP BY 1
    """


def ext_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (round 5): assign splits by
    NEAR-DUP COMPONENT, not by document.

    The standard eval-inflation trap in LLM corpus construction: a
    doc-keyed hash split puts near-duplicates of a training document into
    the validation set, and the model is then "evaluated" on text it has
    effectively seen. The fix is to hash the dedup component id — every
    member of a near-dup cluster lands in the SAME split by construction.
    Components come from the existing tiled-Jaccard cluster operator
    (`dedup.ext_dedup_clusters`); docs outside any near-dup pair are their
    own singleton component. Output is one row per document: its
    component, its leakage-safe split, and ``moved`` — whether the
    component hash relocated it relative to the naive doc-keyed split (the
    observability column a pipeline logs to quantify how much leakage the
    naive split would have had).

    Scale shape: the component frame holds ONLY docs that appear in a
    near-dup pair — a small fraction of any deduplicated corpus — so the
    left join back to documents broadcasts in practice (AQE picks it by
    size); the split itself stays a narrow map. The cluster derivation is
    the dominant cost and is exactly the dedup pass the pipeline already
    runs — so components persist as a WRITE-TIME ARTIFACT
    (`ensure_components_layout`, a content-keyed ``cache.artifact`` like
    the IVF/SRP vector layouts, so a regenerated corpus gets a fresh one):
    the dedup pass pays it once, every split/dedup consumer in every
    session reads a tiny parquet.

    Oracle: the clusters oracle's recursive CTE chain
    (`dedup._sql_clusters_ctes`, shared builder — composed, not
    duplicated) + the same md5-of-component split CASE.
    """
    docs = tables.load(spark, sf_dir, "documents")
    comp = spark.read.parquet(ensure_components_layout(spark, sf_dir))
    joined = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
    )
    safe = split_assignment(F.col("component"))
    naive = split_assignment(F.col("doc_id"))
    return joined.select(
        "doc_id",
        "component",
        safe.alias("split"),
        (safe != naive).alias("moved"),
    )


def ensure_components_layout(spark: SparkSession, sf_dir: str) -> str:
    """The committed near-dup component map (doc_id → component) for
    ``sf_dir`` — the write-time artifact every cluster consumer (dedup
    survivorship, leakage-safe split) reads instead of re-running the
    pair/CC pass. A ``cache.artifact`` like the IVF/SRP layouts: written
    once per `documents` content, shared by every session."""
    from . import dedup

    return cache.artifact(
        spark, sf_dir, ("documents",), "components_v1",
        lambda path: dedup.ext_dedup_clusters(spark, sf_dir)
        .select("doc_id", "component")
        .write.parquet(path),
    )


def ext_split_leakage_safe_oracle() -> str:
    from .dedup import _sql_clusters_ctes

    hc = _oracle_key_hash("COALESCE(c.component, d.doc_id)")
    hd = _oracle_key_hash("d.doc_id")
    case = lambda h: (  # noqa: E731
        f"CASE WHEN {h} % 100 < {TRAIN_PCT} THEN 'train' "
        f"WHEN {h} % 100 < {TRAIN_PCT + VAL_PCT} THEN 'val' "
        f"ELSE 'test' END"
    )
    return f"""
        WITH RECURSIVE {_sql_clusters_ctes()},
        comp AS (
            SELECT doc_id, CAST(MIN(root) AS BIGINT) AS component
            FROM reach GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component,
               {case(hc)} AS split,
               ({case(hc)} != {case(hd)}) AS moved
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    """


TOKEN_BUDGET = 12_000  # training-token budget for the greedy selection


def ext_corpus_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection (round 5): admit the highest-quality
    documents until a global training-token budget is exhausted — the
    "we can afford N tokens, which docs?" step between quality scoring
    and training.

    Semantics: rank docs by (quality_score DESC, doc_id ASC), admit while
    the running token total stays ≤ TOKEN_BUDGET.

    Physical plan — NO global sort: the naive form is one ordered cumsum
    over the whole corpus (a single-partition window — the thing that
    dies first at 100 TB). Because the score is TIERED (the C4-style
    heuristic emits 5 levels), the selection decomposes: a ≤5-row
    per-tier aggregate decides which tiers are admitted WHOLE (their
    cumulative token mass fits the budget) and which single tier
    straddles the boundary; only within tiers does a window run, and it
    is PARTITIONED BY score — parallel across tiers, never a global
    sort. Global rank and running total are reconstructed exactly from
    (docs/tokens before this tier) + (within-tier rank/cumsum), so the
    output is bit-identical to the naive rule — which is what the oracle
    states (the decomposition is a physical choice, not a semantic one).
    With a continuous score the same plan applies after bucketing the
    score into B bins (bin agg → boundary bin → in-bin exact pass).
    """
    from .text import quality_score_expr, tokens_col

    docs = tables.load(spark, sf_dir, "documents", fan=True)
    q, _, _ = quality_score_expr("text")
    scored = docs.select(
        "doc_id",
        F.size(tokens_col("text")).cast("long").alias("n_tokens"),
        F.round(q, 6).alias("quality_score"),
    )

    from pyspark.sql.window import Window

    tiers = (
        scored.groupBy("quality_score")
        .agg(
            F.sum("n_tokens").cast("long").alias("tier_tokens"),
            F.count(F.lit(1)).cast("long").alias("tier_docs"),
        )
    )
    wt = Window.orderBy(F.col("quality_score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # ≤ |tiers| rows: the ordered cumulation here is over a HANDFUL of
    # rows, broadcast to the fact side afterwards
    tiers = tiers.select(
        "quality_score",
        (F.sum("tier_tokens").over(wt) - F.col("tier_tokens")).alias("tok_before"),
        (F.sum("tier_docs").over(wt) - F.col("tier_docs")).alias("docs_before"),
    )
    win = Window.partitionBy("quality_score").orderBy(F.col("doc_id").asc())
    cum_in = F.sum("n_tokens").over(
        win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sel = (
        scored.join(F.broadcast(tiers), "quality_score")
        .withColumn("cum_tokens", (F.col("tok_before") + cum_in).cast("long"))
        .withColumn(
            "sel_rank",
            (F.col("docs_before") + F.row_number().over(win)).cast("long"),
        )
        .where(F.col("cum_tokens") <= TOKEN_BUDGET)
    )
    return sel.select("sel_rank", "doc_id", "quality_score", "n_tokens", "cum_tokens")


def _quality_stopwords():
    from .text import LANG_STOPWORDS

    return list(LANG_STOPWORDS["en"])


def ext_corpus_budget_select_oracle() -> str:
    """The NAIVE statement of the semantics: one ordered cumsum, admit
    while ≤ budget — the tier decomposition on the Spark side must
    reproduce it exactly."""
    from .text import TOKEN_RE

    words = _quality_stopwords()
    return f"""
        WITH scored AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   ROUND(
                     (CASE WHEN length(text) >= 50 AND length(text) <= 100000
                           THEN 0.5::DOUBLE ELSE 0.0::DOUBLE END)
                   + (CASE WHEN len(list_intersect(list_distinct(toks), {words!r})) > 0
                           THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END)
                   + (CASE WHEN length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
                                / GREATEST(length(text), 1) < 0.1
                           THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END), 6) AS quality_score
            FROM (
                SELECT doc_id, text,
                       regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
                FROM documents
            )
        ),
        ranked AS (
            SELECT CAST(row_number() OVER w AS BIGINT) AS sel_rank,
                   doc_id, quality_score, n_tokens,
                   CAST(SUM(n_tokens) OVER (w ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS cum_tokens
            FROM scored
            WINDOW w AS (ORDER BY quality_score DESC, doc_id ASC)
        )
        SELECT sel_rank, doc_id, quality_score, n_tokens, cum_tokens
        FROM ranked WHERE cum_tokens <= {TOKEN_BUDGET}
    """


def ext_sample_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quota sample: the K docs of each lang with the smallest
    key hash (deterministic priority; ties broken by doc_id).

    Two-phase top-K so a hot language cannot overwhelm one task: phase 1
    ranks within (lang, salt) — the salt spreads each language over
    ``QUOTA_SALTS`` shuffle partitions and keeps only K rows per bucket;
    phase 2 ranks the ≤K·SALTS survivors per lang. Output is provably
    identical to the naive one-window form (the global top-K of a set is
    contained in the union of its per-bucket top-Ks) — the oracle checks
    that literally.
    """
    docs = tables.load(spark, sf_dir, "documents", fan=True)
    prio = (
        docs.select("doc_id", "lang", _key_hash("doc_id").alias("priority"))
        .withColumn("_salt", F.pmod(F.col("doc_id"), F.lit(QUOTA_SALTS)))
    )
    local_w = Window.partitionBy("lang", "_salt").orderBy("priority", "doc_id")
    survivors = (
        prio.withColumn("_lr", F.row_number().over(local_w))
        .where(F.col("_lr") <= QUOTA_PER_LANG)
        .drop("_lr", "_salt")
    )
    global_w = Window.partitionBy("lang").orderBy("priority", "doc_id")
    return (
        survivors.withColumn("rank", F.row_number().over(global_w))
        .where(F.col("rank") <= QUOTA_PER_LANG)
        .select("lang", "rank", "doc_id", "priority")
    )


def ext_sample_quota_oracle() -> str:
    h = _oracle_key_hash("doc_id")
    return f"""
        SELECT lang, rank, doc_id, priority FROM (
            SELECT lang,
                   CAST(row_number() OVER (PARTITION BY lang ORDER BY {h}, doc_id) AS INTEGER) AS rank,
                   doc_id,
                   {h} AS priority
            FROM documents
        ) WHERE rank <= {QUOTA_PER_LANG}
    """


MIXTURE_ALPHA = 0.5   # temperature exponent: weight ∝ token_mass^alpha
CHUNK_TOKENS = 64     # context-window size (tokens per training chunk)


def ext_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture weights: temperature-scaled sampling probabilities.

    The data-mixing step of corpus construction: given per-source token
    masses, sample sources with probability ∝ mass^α (α<1 upsamples small
    sources, the multilingual/deduped-web balancing trick). Emits per source
    the doc/token mass, the α-scaled weight, and the effective epoch count
    (weight·total/mass — how many passes over that source one epoch of the
    mixture implies).

    Plan: one partial+final agg (rows = n_sources) + a broadcast of the
    single total row back over it; all arithmetic post-agg, so the heavy
    scan is the token count only.
    """
    from .text import tokens_col

    docs = tables.load(spark, sf_dir, "documents", fan=True)
    per_source = (
        docs.select("source", F.size(tokens_col("text")).alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .withColumn("scaled", F.pow(F.col("n_tokens").cast("double"), F.lit(MIXTURE_ALPHA)))
    )
    totals = per_source.agg(
        F.sum("scaled").alias("_z"), F.sum("n_tokens").cast("double").alias("_t")
    )
    return (
        per_source.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("scaled") / F.col("_z"), 6).alias("weight"),
            F.round(
                (F.col("scaled") / F.col("_z")) * F.col("_t") / F.col("n_tokens"), 6
            ).alias("effective_epochs"),
        )
    )


def ext_sample_mixture_oracle() -> str:
    from .text import TOKEN_RE

    return f"""
        WITH per_source AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len(regexp_extract_all(lower(text), '{TOKEN_RE}'))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ), scaled AS (
            SELECT *, POW(CAST(n_tokens AS DOUBLE), {MIXTURE_ALPHA}) AS s FROM per_source
        )
        SELECT source, n_docs, n_tokens,
               ROUND(s / SUM(s) OVER (), 6) AS weight,
               ROUND((s / SUM(s) OVER ()) * SUM(CAST(n_tokens AS DOUBLE)) OVER () / n_tokens, 6)
                   AS effective_epochs
        FROM scaled
    """


def ext_sample_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into fixed-size token
    windows (the pre-tokenization batching step of a training pipeline).

    Each doc yields ⌈n_tokens/CHUNK_TOKENS⌉ chunks; a chunk carries its
    index, token span, and re-joined text. Pure narrow map — tokenize once,
    slice per window via higher-order functions, explode. No shuffle at any
    scale; chunk boundaries depend only on the document itself, so the op
    is embarrassingly parallel and incremental-append-safe.
    """
    from .text import tokens_col

    docs = tables.load(spark, sf_dir, "documents", fan=True)
    toks = docs.select("doc_id", tokens_col("text").alias("t"))
    n_chunks = F.ceil(F.size("t") / F.lit(CHUNK_TOKENS)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("long").alias("chunk_idx"),
            F.array_join(
                F.slice("t", i * CHUNK_TOKENS + 1, CHUNK_TOKENS), " "
            ).alias("chunk_text"),
            F.least(F.size("t") - i * CHUNK_TOKENS, F.lit(CHUNK_TOKENS))
            .cast("long")
            .alias("chunk_tokens"),
        ),
    )
    return (
        toks.where(F.size("t") > 0)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_idx", "c.chunk_tokens", "c.chunk_text")
    )


def ext_sample_chunks_oracle() -> str:
    from .text import TOKEN_RE

    w = CHUNK_TOKENS
    return f"""
        WITH toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS t
            FROM documents
        )
        SELECT doc_id,
               CAST((i - 1) / {w} AS BIGINT) AS chunk_idx,
               CAST(LEAST(len(t) - i + 1, {w}) AS BIGINT) AS chunk_tokens,
               array_to_string(t[i:i+{w - 1}], ' ') AS chunk_text
        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t), {w})) AS i)
        WHERE len(t) > 0
    """


def ext_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag val/test docs sharing word-shingles
    with ANY train doc, with the shared fraction.

    The step every training pipeline runs after splitting: a benchmark/eval
    document whose n-grams also appear in the training split is contaminated
    (the model may have memorized it). Detection = distinct word-3-gram
    overlap against the train side — the standard n-gram decontamination of
    public LLM data pipelines.

    Plan shape (100 TB-ready): both sides explode to (shingle, doc) rows and
    hash-partition on the shingle — no broadcast, no driver state. The train
    side is ``distinct`` BEFORE the join, so every join key has at most one
    build row — a stopword shingle shared by millions of train docs
    contributes ONE row, making the join skew-safe by construction; the
    left join + count(marker) then yields per-eval-doc totals in the same
    shuffle as the aggregation.
    """
    from .dedup import _shingles_text

    docs = tables.load(spark, sf_dir, "documents", fan=True)
    sh = docs.select(
        "doc_id",
        split_assignment("doc_id").alias("split"),
        F.explode(F.array_distinct(_shingles_text())).alias("shingle"),
    )
    # DELIBERATELY not checkpointed (A/B-measured): both join branches do
    # re-run the tokenize->shingle narrow stage, but materializing the
    # exploded (shingle, doc) frame costs MORE than the repeated map work
    # (1.31 s -> 1.67 s at sf0.1) — unlike ext_decontaminate_bloom, whose
    # checkpoint feeds a driver-collected filter build that would otherwise
    # re-run per branch AND per collect
    train_sh = (
        sh.where(F.col("split") == "train")
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    eval_sh = sh.where(F.col("split") != "train")
    return (
        eval_sh.join(train_sh, "shingle", "left")
        .groupBy("doc_id", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.count("_hit").cast("long").alias("n_shared"),
        )
        .where(F.col("n_shared") > 0)
        .select(
            "doc_id",
            "split",
            "n_shingles",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_shingles"), 6).alias("overlap_ratio"),
        )
    )


def ext_decontaminate_oracle() -> str:
    from .dedup import SHINGLE_N
    from .text import TOKEN_RE

    h = _oracle_key_hash("doc_id")
    n = SHINGLE_N
    return f"""
        WITH toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id,
                   CASE WHEN {h} % 100 < {TRAIN_PCT} THEN 'train'
                        WHEN {h} % 100 < {TRAIN_PCT + VAL_PCT} THEN 'val'
                        ELSE 'test' END AS split,
                   list_distinct([array_to_string(t[i:i+{n - 1}], ' ')
                                  for i in generate_series(1, greatest(len(t) - {n - 1}, 1))]) AS shingles
            FROM toks
        ), train_sh AS (
            SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE split = 'train'
        ), eval_sh AS (
            SELECT doc_id, split, unnest(shingles) AS shingle FROM sh WHERE split <> 'train'
        )
        SELECT doc_id, split,
               CAST(n_shingles AS BIGINT) AS n_shingles,
               CAST(n_shared AS BIGINT) AS n_shared,
               ROUND(n_shared / CAST(n_shingles AS DOUBLE), 6) AS overlap_ratio
        FROM (
            SELECT e.doc_id, e.split,
                   COUNT(*) AS n_shingles,
                   COUNT(t.shingle) AS n_shared
            FROM eval_sh e LEFT JOIN train_sh t USING (shingle)
            GROUP BY 1, 2
        ) WHERE n_shared > 0
    """


PACK_TOKENS = 256  # target pack capacity


def ext_sample_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign whole documents to ≤-capacity training packs
    (the batching step after chunking — packs feed fixed-length contexts).

    Streaming-cumulative formulation: within each ``source`` (the natural
    parallel unit — packs never span sources), docs are taken in ``doc_id``
    order and ``pack_id = floor(running_tokens_before / capacity)``. Each
    pack holds ≤ capacity + max_doc tokens (straddling docs spill into the
    boundary; the standard approximate packing) and packing is a SINGLE
    window pass — the exact first-fit bin pack is a sequential fold that
    parallelizes over nothing, this parallelizes over sources and is
    deterministic everywhere.
    """
    from .text import tokens_col

    # no fan: the packing window shuffles on source immediately after the
    # tokenize — a fan exchange before it just adds a shuffle (A/B-measured
    # 0.34 s -> 0.69 s at sf0.1 with fan)
    docs = tables.load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.size(tokens_col("text")).alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_incl = F.sum("n_tok").over(w)
    return toks.select(
        "doc_id",
        "source",
        F.col("n_tok").cast("long").alias("n_tokens"),
        F.floor((cum_incl - F.col("n_tok")) / PACK_TOKENS).cast("long").alias("pack_id"),
        ((cum_incl - F.col("n_tok")) % PACK_TOKENS).cast("long").alias("pack_offset"),
    )


def ext_sample_pack_oracle() -> str:
    from .text import TOKEN_RE

    return f"""
        WITH toks AS (
            SELECT doc_id, source,
                   len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS n_tok
            FROM documents
        )
        SELECT doc_id, source,
               CAST(n_tok AS BIGINT) AS n_tokens,
               CAST((SUM(n_tok) OVER w - n_tok) // {PACK_TOKENS} AS BIGINT) AS pack_id,
               CAST((SUM(n_tok) OVER w - n_tok) % {PACK_TOKENS} AS BIGINT)  AS pack_offset
        FROM toks
        WINDOW w AS (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """


KEEP_MIN_QUALITY = 0.75
KEEP_MAX_DUP_FRAC = 0.6  # segment-dup fraction at/above which a doc is boilerplate


def ext_corpus_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's decision layer: one keep/drop verdict per document,
    composed from the cleaning stages — exact-dedup survivorship, quality
    threshold, split assignment, and train-overlap contamination.

    This is the artifact a data pipeline actually SHIPS: every upstream
    operator (dedup pairs, quality scores, splits, decontamination,
    segment-level boilerplate measurement) exists to produce this
    row-per-document verdict with an auditable ``drop_reason``. ``keep`` =
    train-split ∧ dedup survivor ∧ boilerplate below threshold ∧ quality ≥
    threshold; held-out docs additionally carry the ``contaminated`` flag
    the eval pipeline needs. The boilerplate stage catches what exact dedup
    can't: documents that are UNIQUE as a whole but mostly assembled from
    corpus-recurring segments (45 such survivors at sf0.01).

    Physical plan: pure composition — the stage queries join on doc_id (all
    shuffles on the natural key, AQE broadcasts the small verdict sides at
    test SF), so the decision layer adds no new scan logic that could drift
    from the stages it audits; the oracle composes the same stages as CTEs.
    """
    from .text import fingerprint_col, quality_score_expr

    # optimization round 13 (guide §2.3/§2.4): split assignment, exact-dedup
    # survivorship and the quality score are all derivable from ONE pass
    # over the documents scan (the quality score is a pure row expression —
    # `quality_score_expr` is the shared definition `ext_text_quality`
    # itself selects), so the old base ⋈ surv ⋈ quality three-scan
    # three-way join collapses to a single scan + the fingerprint window.
    # Values are bit-identical: same expressions, same rows.
    docs = tables.load(spark, sf_dir, "documents")
    fp = fingerprint_col()
    q, _, _ = quality_score_expr("text")
    w = Window.partitionBy("fingerprint")
    core = docs.select(
        "doc_id",
        split_assignment(F.col("doc_id")).alias("split"),
        fp.alias("fingerprint"),
        F.round(q, 6).alias("quality_score"),
    ).select(
        "doc_id",
        "split",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_survivor"),
        "quality_score",
    )
    decon = ext_decontaminate(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("_cont")
    )
    from .dedup import ext_dedup_segments

    seg = ext_dedup_segments(spark, sf_dir).select("doc_id", "dup_frac")
    out = core.join(seg, "doc_id").join(decon, "doc_id", "left")
    quality_ok = F.col("quality_score") >= KEEP_MIN_QUALITY
    boiler_ok = F.col("dup_frac") < KEEP_MAX_DUP_FRAC
    keep = (
        (F.col("split") == "train")
        & F.col("is_survivor")
        & boiler_ok
        & quality_ok
    )
    reason = (
        F.when(F.col("split") != "train", F.lit("held_out"))
        .when(~F.col("is_survivor"), F.lit("duplicate"))
        .when(~boiler_ok, F.lit("boilerplate"))
        .when(~quality_ok, F.lit("low_quality"))
    )
    return out.select(
        "doc_id",
        "split",
        "is_survivor",
        boiler_ok.alias("boilerplate_ok"),
        quality_ok.alias("quality_ok"),
        F.coalesce(F.col("_cont"), F.lit(False)).alias("contaminated"),
        keep.alias("keep"),
        reason.alias("drop_reason"),
    )


def ext_corpus_keep_list_oracle() -> str:
    from .dedup import ext_dedup_segments_oracle
    from .text import ext_text_quality_oracle

    h = _oracle_key_hash("doc_id")
    return rf"""
        WITH q AS ({ext_text_quality_oracle()}),
        decon AS ({ext_decontaminate_oracle()}),
        seg AS ({ext_dedup_segments_oracle()}),
        surv AS (
            SELECT doc_id,
                   doc_id = MIN(doc_id) OVER (
                       PARTITION BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))
                   ) AS is_survivor
            FROM documents
        ),
        base AS (
            SELECT doc_id,
                   CASE WHEN {h} % 100 < {TRAIN_PCT} THEN 'train'
                        WHEN {h} % 100 < {TRAIN_PCT + VAL_PCT} THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        )
        SELECT b.doc_id, b.split, s.is_survivor,
               (g.dup_frac < {KEEP_MAX_DUP_FRAC}) AS boilerplate_ok,
               (q.quality_score >= {KEEP_MIN_QUALITY}) AS quality_ok,
               (d.doc_id IS NOT NULL) AS contaminated,
               (b.split = 'train' AND s.is_survivor
                AND g.dup_frac < {KEEP_MAX_DUP_FRAC}
                AND q.quality_score >= {KEEP_MIN_QUALITY}) AS keep,
               CASE WHEN b.split != 'train' THEN 'held_out'
                    WHEN NOT s.is_survivor THEN 'duplicate'
                    WHEN g.dup_frac >= {KEEP_MAX_DUP_FRAC} THEN 'boilerplate'
                    WHEN q.quality_score < {KEEP_MIN_QUALITY} THEN 'low_quality'
                    ELSE NULL END AS drop_reason
        FROM base b
        JOIN surv s ON b.doc_id = s.doc_id
        JOIN q ON b.doc_id = q.doc_id
        JOIN seg g ON b.doc_id = g.doc_id
        LEFT JOIN decon d ON b.doc_id = d.doc_id
    """


# ---------------------------------------------------------------------------
# split drift: token-distribution KL between train and val
# ---------------------------------------------------------------------------

def ext_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language KL(train‖val) over smoothed token distributions — the
    post-split audit that the held-out set actually looks like the training
    distribution (a drifted val set invalidates eval loss as a progress
    signal). Laplace add-one smoothing over the JOINT vocab keeps every
    term finite without dropping split-exclusive tokens.

    Plan shape: token explode (narrow) → ONE (lang, token) shuffle with
    map-side partial counts; totals and vocab sizes come from windows over
    the vocab-sized frame (same partitioning, no second corpus pass) → a
    per-lang final agg of ≤ |vocab| rows. At 100 TB the corpus is touched
    once; everything after is |vocab|-sized.
    """
    from .text import tokens_col

    docs = tables.load(spark, sf_dir, "documents", fan=True)
    ex = docs.select(
        "lang",
        split_assignment("doc_id").alias("split"),
        F.explode(tokens_col("text")).alias("token"),
    ).where(F.col("split").isin("train", "val"))
    grp = ex.groupBy("lang", "token").agg(
        F.sum((F.col("split") == "train").cast("long")).alias("n_tr"),
        F.sum((F.col("split") == "val").cast("long")).alias("n_va"),
    )
    w = Window.partitionBy("lang")
    probs = grp.select(
        "lang",
        F.sum("n_tr").over(w).alias("tot_tr"),
        F.sum("n_va").over(w).alias("tot_va"),
        F.count(F.lit(1)).over(w).alias("vocab"),
        "n_tr",
        "n_va",
    ).select(
        "lang",
        "tot_tr",
        "tot_va",
        "vocab",
        ((F.col("n_tr") + 1) / (F.col("tot_tr") + F.col("vocab"))).alias("p_tr"),
        ((F.col("n_va") + 1) / (F.col("tot_va") + F.col("vocab"))).alias("p_va"),
    )
    return probs.groupBy("lang").agg(
        F.max("tot_tr").cast("long").alias("n_tokens_train"),
        F.max("tot_va").cast("long").alias("n_tokens_val"),
        F.max("vocab").cast("long").alias("vocab"),
        F.round(
            F.sum(F.col("p_tr") * F.log(F.col("p_tr") / F.col("p_va"))), 6
        ).alias("kl_train_val"),
    )


def ext_split_drift_oracle() -> str:
    from .text import TOKEN_RE

    h = _oracle_key_hash("doc_id")
    return f"""
        WITH occ AS (
            SELECT lang,
                   CASE WHEN {h} % 100 < {TRAIN_PCT} THEN 'train'
                        WHEN {h} % 100 < {TRAIN_PCT + VAL_PCT} THEN 'val'
                        ELSE 'test' END AS split,
                   unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS token
            FROM documents
        ),
        grp AS (
            SELECT lang, token,
                   COUNT(*) FILTER (split = 'train') AS n_tr,
                   COUNT(*) FILTER (split = 'val') AS n_va
            FROM occ WHERE split IN ('train', 'val')
            GROUP BY lang, token
        ),
        probs AS (
            SELECT lang,
                   SUM(n_tr) OVER (PARTITION BY lang) AS tot_tr,
                   SUM(n_va) OVER (PARTITION BY lang) AS tot_va,
                   COUNT(*) OVER (PARTITION BY lang) AS vocab,
                   n_tr, n_va
            FROM grp
        )
        SELECT lang,
               CAST(MAX(tot_tr) AS BIGINT) AS n_tokens_train,
               CAST(MAX(tot_va) AS BIGINT) AS n_tokens_val,
               CAST(MAX(vocab) AS BIGINT) AS vocab,
               ROUND(SUM(((n_tr + 1) / CAST(tot_tr + vocab AS DOUBLE))
                         * ln(((n_tr + 1) / CAST(tot_tr + vocab AS DOUBLE))
                              / ((n_va + 1) / CAST(tot_va + vocab AS DOUBLE)))), 6)
                   AS kl_train_val
        FROM probs
        GROUP BY lang
    """


# ---------------------------------------------------------------------------
# bloom-filter decontamination (the fixed-memory probe form)
# ---------------------------------------------------------------------------

BLOOM_M = 1 << 16   # filter bits
BLOOM_K = 3         # hash functions

def _bloom_pos(col, j: int) -> F.Column:
    """Bit position j of a shingle: 32-bit md5 slice of a seeded rendering,
    mod BLOOM_M — identical in Spark and DuckDB, so the filter's false
    positives are deterministic and cross-engine reproducible."""
    c = F.col(col) if isinstance(col, str) else col
    seeded = F.concat(F.lit(f"{j}:"), c)
    return (
        F.conv(F.substring(F.md5(seeded), 1, 8), 16, 10).cast("long") % BLOOM_M
    )


def _oracle_bloom_pos(expr: str, j: int) -> str:
    return (
        f"CAST('0x' || substr(md5('{j}:' || {expr}), 1, 8) AS BIGINT) % {BLOOM_M}"
    )


def ext_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination — the direction a 100 TB pipeline
    actually runs: the eval/benchmark side is SMALL and fixed, so its
    shingles compress into an m-bit filter (here m=2¹⁶, k=3) and the huge
    TRAIN side is scanned once with a constant-memory membership probe,
    flagging train docs that may contain benchmark text. Compare
    ``ext_decontaminate``, which joins exact shingle sets (no false
    positives, but the probe side grows with the eval corpus).

    The filter is expressed relationally: the set-bit frame (≤ m rows by
    construction — broadcastable at ANY corpus scale) broadcast-joins the
    train side's (shingle, position) probes; a shingle "might match" iff
    all k probed bits are set — bloom semantics exactly, deterministic
    false positives included, which is what makes this oracle-checkable.
    Guarantee (tested): flagged ⊇ the exact operator's train-side hits.
    """
    from .dedup import _shingles_text

    docs = tables.load(spark, sf_dir, "documents", fan=True)
    # materialize ONCE: both branches (filter bits + train probes) consume
    # the tokenize→shingle frame, and without the checkpoint each re-runs
    # the whole corpus stage (the BM25/bigram/importance lesson)
    sh = (
        docs.select(
            "doc_id",
            split_assignment("doc_id").alias("split"),
            F.explode(F.array_distinct(_shingles_text())).alias(
                "shingle"
            ),
        )
        .localCheckpoint(eager=False)
    )
    # optimization round 13 (guide §2.3/§2.4): the filter is now an ACTUAL
    # bit array. The eval side still derives its set-bit list
    # relationally, but the ≤ BLOOM_M positions (bounded by the filter
    # CONSTANT, like the IVF centroid collect) pack into BLOOM_M/64 longs
    # on the driver and ride the plan as an 8 KB literal — the huge TRAIN
    # side then probes k bits per shingle in place, instead of exploding
    # ×BLOOM_K, broadcast-joining the bits frame, and re-aggregating the
    # (doc_id, shingle) groups it already had: two corpus-sized shuffles
    # and a 3× row blow-up gone. Bloom semantics (deterministic false
    # positives included) are unchanged — a bit is set iff its position
    # was in the old bits frame.
    def _build_mask():
        bits = (
            sh.where(F.col("split") != "train")
            .select(
                F.explode(
                    F.array(*[_bloom_pos("shingle", j) for j in range(BLOOM_K)])
                ).alias("pos")
            )
            .distinct()
        )
        mask = [0] * (BLOOM_M // 64)
        for r in bits.collect():  # ≤ BLOOM_M rows — bounded by the constant
            mask[r.pos >> 6] |= 1 << (r.pos & 63)
        return [m - (1 << 64) if m >= (1 << 63) else m for m in mask]

    # the packed filter is cached (see `cache`) — it IS the precomputed
    # artifact bloom decontamination exists to ship (the eval set is small
    # and fixed; a deployment builds the filter at eval-set ingest, as it
    # builds the standing MinHash band index)
    mask = cache.cached(spark, sf_dir, ("documents",), "bloom-mask", _build_mask)
    mask_lit = F.lit(mask)

    def _bit_set(j: int) -> F.Column:
        pos = _bloom_pos("shingle", j)
        word = F.element_at(mask_lit, F.shiftright(pos, 6).cast("int") + 1)
        return F.getbit(word, pos % 64) == 1

    maybe = _bit_set(0)
    for j in range(1, BLOOM_K):
        maybe = maybe & _bit_set(j)
    return (
        sh.where(F.col("split") == "train")
        .select("doc_id", maybe.alias("maybe"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.col("maybe").cast("long")).cast("long").alias("n_flagged"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_flagged",
            (F.col("n_flagged") > 0).alias("contaminated"),
        )
    )


def ext_decontaminate_bloom_oracle() -> str:
    from .dedup import SHINGLE_N
    from .text import TOKEN_RE

    h = _oracle_key_hash("doc_id")
    n = SHINGLE_N
    pos_exprs = ", ".join(_oracle_bloom_pos("shingle", j) for j in range(BLOOM_K))
    return f"""
        WITH toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id,
                   CASE WHEN {h} % 100 < {TRAIN_PCT} THEN 'train'
                        WHEN {h} % 100 < {TRAIN_PCT + VAL_PCT} THEN 'val'
                        ELSE 'test' END AS split,
                   unnest(list_distinct([array_to_string(t[i:i+{n - 1}], ' ')
                                         for i in generate_series(1, greatest(len(t) - {n - 1}, 1))])) AS shingle
            FROM toks
        ), bits AS (
            SELECT DISTINCT unnest([{pos_exprs}]) AS pos
            FROM sh WHERE split <> 'train'
        ), probe AS (
            SELECT doc_id, shingle, unnest([{pos_exprs}]) AS pos
            FROM sh WHERE split = 'train'
        ), per_shingle AS (
            SELECT p.doc_id, p.shingle,
                   COUNT(b.pos) = {BLOOM_K} AS maybe
            FROM probe p LEFT JOIN bits b USING (pos)
            GROUP BY p.doc_id, p.shingle
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
               SUM(CASE WHEN maybe THEN 1 ELSE 0 END) > 0 AS contaminated
        FROM per_shingle
        GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# weighted sampling without replacement (A-Res / Efraimidis–Spirakis)
# ---------------------------------------------------------------------------

WEIGHTED_SAMPLE_K = 100


def ext_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement: K docs with
    probability proportional to size (n_chars), via the A-Res exponential
    trick — priority r = −ln(u)/w with u a content-independent hash-uniform
    in (0,1); the K SMALLEST r values are exactly a weighted sample without
    replacement. Every corpus pipeline needs this for "sample 1M docs
    weighted by length for tokenizer training / audits" — and it must be
    hash-deterministic, not ``rand()``, for the same re-run/cross-engine
    reasons as ``ext_sample_split``.

    Plan: narrow map computes r per row; sort+limit compiles to
    TakeOrderedAndProject — a bounded K-row heap per task, K rows to the
    driver, NO global sort. The same plan at 100 TB moves K rows, period.
    """
    docs = tables.load(spark, sf_dir, "documents", fan=True)
    u = (_key_hash("doc_id") + F.lit(0.5)) / F.lit(float(1 << 32))
    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    r = -F.log(u) / w
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            F.col("n_chars").cast("long").alias("weight"),
            r.alias("_r"),
        )
        .orderBy("_r", "doc_id")
        .limit(WEIGHTED_SAMPLE_K)
        .select(
            "doc_id", "lang", "source", "weight", F.round("_r", 6).alias("priority")
        )
    )


def ext_sample_weighted_oracle() -> str:
    h = _oracle_key_hash("doc_id")
    return f"""
        SELECT doc_id, lang, source,
               CAST(n_chars AS BIGINT) AS weight,
               ROUND(-ln(({h} + 0.5) / 4294967296.0)
                     / CAST(GREATEST(n_chars, 1) AS DOUBLE), 6) AS priority
        FROM documents
        ORDER BY -ln(({h} + 0.5) / 4294967296.0)
                 / CAST(GREATEST(n_chars, 1) AS DOUBLE), doc_id
        LIMIT {WEIGHTED_SAMPLE_K}
    """


IMPORTANCE_TARGET_SOURCE = "src0"  # in-domain proxy for importance weighting


def ext_sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every document
    by how target-like it is under bag-of-tokens language models —
    mean_t [ln p_target(t) − ln p_general(t)] — where the target LM is
    estimated from the in-domain slice (source = ``src0``) and the general
    LM from the whole corpus. Positive scores = looks like the target
    domain; the selection stage resamples by these weights (cf.
    `ext_sample_weighted` for the weighted-sampling primitive).

    Plan: ONE corpus tokenize pass materializes the (doc, token, tf)
    frame; both LMs and the shared-vocab scalars derive FROM it (the
    target side is a filtered re-aggregation, not a second scan); the LM
    join is on the vocab-sized token key with the LM side pre-aggregated
    to one row per token (skew-proof), and the scalar normalizers ride a
    1-row broadcast. Laplace(+1) smoothing over the shared vocab keeps
    both distributions proper so unseen-in-target tokens penalize rather
    than blow up.
    """
    from .text import tokens_col

    docs = tables.load(spark, sf_dir, "documents", fan=True)
    tf = (
        docs.select(
            "doc_id",
            "source",
            F.explode(tokens_col("text")).alias("token"),
        )
        .groupBy("doc_id", "source", "token")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        # tf feeds THREE branches (general LM, target LM, scoring join) —
        # materialize once so the tokenize+explode+shuffle doesn't
        # re-execute per branch (same move as ext_text_bigram_logprob)
        .localCheckpoint(eager=False)
    )
    general = tf.groupBy("token").agg(F.sum("tf").alias("cg"))
    target = (
        tf.where(F.col("source") == IMPORTANCE_TARGET_SOURCE)
        .groupBy("token")
        .agg(F.sum("tf").alias("ct"))
    )
    lm = general.join(target, "token", "left").select(
        "token", "cg", F.coalesce("ct", F.lit(0.0)).alias("ct")
    )
    scalars = lm.agg(
        F.count(F.lit(1)).cast("double").alias("v"),
        F.sum("cg").alias("tg"),
        F.sum("ct").alias("tt"),
    )
    scored = (
        tf.join(lm, "token")
        .crossJoin(F.broadcast(scalars))
        .withColumn(
            "ll_ratio",
            F.col("tf")
            * (
                F.log((F.col("ct") + 1.0) / (F.col("tt") + F.col("v")))
                - F.log((F.col("cg") + 1.0) / (F.col("tg") + F.col("v")))
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(F.sum("ll_ratio") / F.sum("tf"), 6).alias("importance"),
        )
    )


def ext_sample_importance_oracle() -> str:
    from .text import TOKEN_RE

    return f"""
        WITH tf AS (
            SELECT doc_id, source, token, CAST(COUNT(*) AS DOUBLE) AS tf
            FROM (
                SELECT doc_id, source,
                       unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS token
                FROM documents
            )
            GROUP BY doc_id, source, token
        ),
        general AS (SELECT token, SUM(tf) AS cg FROM tf GROUP BY token),
        target AS (
            SELECT token, SUM(tf) AS ct FROM tf
            WHERE source = '{IMPORTANCE_TARGET_SOURCE}' GROUP BY token
        ),
        lm AS (
            SELECT g.token, g.cg, COALESCE(t.ct, 0.0) AS ct
            FROM general g LEFT JOIN target t USING (token)
        ),
        scalars AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS v, SUM(cg) AS tg, SUM(ct) AS tt
            FROM lm
        )
        SELECT tf.doc_id,
               CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
               ROUND(SUM(tf.tf * (ln((lm.ct + 1.0) / (s.tt + s.v))
                                  - ln((lm.cg + 1.0) / (s.tg + s.v))))
                     / SUM(tf.tf), 6) AS importance
        FROM tf JOIN lm USING (token) CROSS JOIN scalars s
        GROUP BY tf.doc_id
    """


N_SHARDS = 16  # output shards for the training-data writer


def ext_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-output sharding manifest — the writer stage every pipeline
    ends with: each document lands in a deterministic hash shard (stable
    under re-runs and insert order, unlike round-robin), documents get a
    within-shard shuffle key (hash of a salted id — the "global shuffle"
    trainers need arrives as a free sort key, no extra pass), and the
    manifest row per shard carries the accounting a loader checks before
    consuming (doc/token/byte totals, id frontier).

    Plan: one narrow map (hash, shard, tokens) + one agg on ≤ N_SHARDS
    keys. The actual write is ``partitionBy(shard)`` on the same column —
    cf. `sources/layouts.write_corpus_snapshot` for the partitioned-write
    path; this query is its manifest side, derivable without writing.
    """
    from .text import tokens_col

    docs = tables.load(spark, sf_dir, "documents", fan=True)
    assigned = docs.select(
        "doc_id",
        (_key_hash("doc_id") % N_SHARDS).cast("int").alias("shard"),
        (_key_hash(F.concat(F.lit("shuffle:"), F.col("doc_id")))).alias(
            "shuffle_key"
        ),
        F.size(tokens_col("text")).cast("long").alias("n_tokens"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_bytes").cast("long").alias("n_bytes"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            # loader sanity: first doc in within-shard shuffle order —
            # tie-break on doc_id so a 32-bit shuffle-key collision can't
            # make the winner engine-arbitrary (lexicographic array order)
            F.min_by("doc_id", F.array("shuffle_key", "doc_id")).alias(
                "first_doc_id"
            ),
        )
    )


def ext_shard_manifest_oracle() -> str:
    from .text import TOKEN_RE

    h_doc = _oracle_key_hash("doc_id")
    h_shuf = _oracle_key_hash("'shuffle:' || doc_id")
    return f"""
        WITH assigned AS (
            SELECT doc_id,
                   CAST({h_doc} % {N_SHARDS} AS INTEGER) AS shard,
                   {h_shuf} AS shuffle_key,
                   CAST(len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS BIGINT) AS n_tokens,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
            FROM documents
        ),
        firsts AS (
            SELECT shard, doc_id AS first_doc_id FROM (
                SELECT shard, doc_id,
                       row_number() OVER (PARTITION BY shard
                                          ORDER BY shuffle_key, doc_id) AS rn
                FROM assigned
            ) WHERE rn = 1
        )
        SELECT a.shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
               MIN(a.doc_id) AS min_doc_id,
               MAX(a.doc_id) AS max_doc_id,
               MIN(f.first_doc_id) AS first_doc_id
        FROM assigned a JOIN firsts f ON a.shard = f.shard
        GROUP BY a.shard
    """
