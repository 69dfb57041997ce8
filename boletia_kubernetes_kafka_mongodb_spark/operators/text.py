"""Text-analysis operators (SURVEY.md §2.9 extensions) over ``documents``.

Everything here is native Column expressions — tokenization via
``regexp_extract_all``, scoring via arithmetic — so the hot path never
leaves the JVM and the whole stage codegens. Each operator has an exact
DuckDB oracle.

Scale: all per-row narrow maps (no shuffle at all except the explicit
aggregations); at 100 TB these pipeline straight over the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache, tables

TOKEN_RE = "[a-z0-9]+"

# tiny per-language stopword lists for the n-gram/stopword lang-id heuristic
LANG_STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "for"),
    "es": ("el", "la", "de", "y", "que", "en", "los", "por"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den"),
    "fr": ("le", "la", "les", "et", "des", "est", "dans", "pour"),
}


def tokens_col(text: Column | str) -> Column:
    """Lowercased word tokens (the whitespace+BPE-ish regex tokenizer)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_RE), 0)


def fingerprint_col(text: Column | str = "text") -> Column:
    """md5 of whitespace-normalized lowercase text — THE document identity
    key. Exact dedup, incremental dedup, its streaming twins, the keep-list
    survivorship stage and the standing fingerprint index all join on this;
    they must stay byte-identical, so every site calls this one helper."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(c), r"\s+", " "))



def ext_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace-word tokens, distinct tokens, length stats."""
    docs = tables.load(spark, sf_dir, "documents")
    toks = tokens_col("text")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
        F.round(
            F.length(F.array_join(toks, "")) / F.greatest(F.size(toks), F.lit(1)), 6
        ).alias("avg_token_len"),
    )


def ext_text_tokens_oracle() -> str:
    return f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE}'))) AS BIGINT) AS n_distinct_tokens,
               CAST(length(text) AS BIGINT) AS n_chars_measured,
               ROUND(length(list_aggregate(regexp_extract_all(lower(text), '{TOKEN_RE}'), 'string_agg', ''))
                     / GREATEST(len(regexp_extract_all(lower(text), '{TOKEN_RE}')), 1), 6) AS avg_token_len
        FROM documents
    """


def ext_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring: Flesch reading-ease + Flesch–Kincaid grade via
    deterministic surface heuristics (Flesch 1948; Kincaid et al. 1975) —
    the classic document-difficulty signal a corpus-quality pipeline
    buckets on next to `ext_text_quality`'s C4-style score.

    Heuristics are regex-only so both engines compute identical counts:
    sentences = runs of [.!?] (clamped ≥ 1), words = the shared TOKEN_RE
    tokenizer, syllables ≈ vowel-group runs ([aeiouy]+) over the lowered
    text — the standard cheap approximation; its bias is uniform across
    docs so ordering (what selection consumes) is preserved. Zero-word
    docs yield NULL scores rather than a division blow-up.

    Scale: pure narrow map over the scan (three regexes per row), no
    shuffle; whole-stage codegen end to end.
    """
    docs = tables.load(spark, sf_dir, "documents")
    w = F.size(tokens_col("text")).cast("long")
    s = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)), F.lit(1)
    ).cast("long")
    y = F.size(F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), 0)).cast("long")
    base = docs.select(
        "doc_id",
        w.alias("n_words"),
        s.alias("n_sentences"),
        y.alias("n_syllables"),
    )
    wd = F.col("n_words").cast("double")
    sd = F.col("n_sentences").cast("double")
    yd = F.col("n_syllables").cast("double")
    ease = F.lit(206.835) - F.lit(1.015) * (wd / sd) - F.lit(84.6) * (yd / wd)
    grade = F.lit(0.39) * (wd / sd) + F.lit(11.8) * (yd / wd) - F.lit(15.59)
    guard = F.col("n_words") > 0
    return base.select(
        "doc_id", "n_words", "n_sentences", "n_syllables",
        F.when(guard, F.round(ease, 6)).alias("flesch_ease"),
        F.when(guard, F.round(grade, 6)).alias("fk_grade"),
    )


def ext_text_readability_oracle() -> str:
    return f"""
        WITH base AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS BIGINT) AS n_words,
                   CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
                   CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
            FROM documents
        )
        SELECT doc_id, n_words, n_sentences, n_syllables,
               CASE WHEN n_words > 0 THEN ROUND(
                   206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                           - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
               END AS flesch_ease,
               CASE WHEN n_words > 0 THEN ROUND(
                   0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                   + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
                   - 15.59, 6)
               END AS fk_grade
        FROM base
    """


def ext_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-hit voting with deterministic tie-break.

    Real lang-id would use char n-gram models; the deterministic stopword
    vote is the same *shape* (per-row array intersection against broadcast
    lexicons — a literal array here, a broadcast join for big lexicons).
    """
    docs = tables.load(spark, sf_dir, "documents")
    toks = F.array_distinct(tokens_col("text"))
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("lang_labeled"),
        *[
            F.size(
                F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
            ).alias(f"hits_{lang}")
            for lang, words in LANG_STOPWORDS.items()
        ],
    )
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in LANG_STOPWORDS])
    pred = F.lit("und")
    # fixed iteration order ⇒ deterministic tie-break (first max wins)
    for lang in reversed(list(LANG_STOPWORDS)):
        pred = F.when(
            (best > 0) & (F.col(f"hits_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    return scored.select(
        "doc_id", "lang_labeled", *[f"hits_{lang}" for lang in LANG_STOPWORDS],
        pred.alias("lang_pred"),
    )


def ext_text_langid_oracle() -> str:
    hit_cols = ",\n".join(
        f"len(list_intersect(toks, {list(words)!r})) AS hits_{lang}"
        for lang, words in LANG_STOPWORDS.items()
    )
    # build the tie-break CASE in the same fixed order as the Spark ladder
    langs = list(LANG_STOPWORDS)
    best = "GREATEST(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    case = "CASE "
    for lang in langs:
        case += f"WHEN {best} > 0 AND hits_{lang} = {best} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
        SELECT doc_id, lang_labeled, {", ".join(f"CAST(hits_{lang} AS INTEGER) AS hits_{lang}" for lang in langs)},
               {case} AS lang_pred
        FROM (
            SELECT doc_id, lang AS lang_labeled,
                   {hit_cols}
            FROM (
                SELECT doc_id, lang, text,
                       list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS toks
                FROM documents
            )
        )
    """


def quality_score_expr(text_col: str = "text"):
    """The tiered C4/Gopher-style quality score as a native Column
    expression — ONE definition (round 5) shared by ``ext_text_quality``
    and the budget selector ``sampling.ext_corpus_budget_select`` so the
    heuristic cannot drift between the scorer and its consumers. Returns
    (quality ∈ {0, .25, .5, .75, 1.0}, n_punct, n_stopword_hits)."""
    toks = tokens_col(text_col)
    stop_en = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop_en))
    n_punct = F.length(F.regexp_replace(text_col, "[a-zA-Z0-9 ]", ""))
    len_ok = (F.length(text_col) >= 50) & (F.length(text_col) <= 100_000)
    q = (
        F.when(len_ok, F.lit(0.5)).otherwise(F.lit(0.0))
        + F.when(n_stop > 0, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(
            n_punct / F.greatest(F.length(text_col), F.lit(1)) < 0.1, F.lit(0.25)
        ).otherwise(F.lit(0.0))
    )
    return q, n_punct, n_stop


def ext_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / punctuation / stopword-ratio heuristics.

    The standard pretraining-corpus filters (C4/Gopher-style): doc length,
    mean word length, symbol-to-word ratio, stopword ratio; combined into a
    single [0,1] score. All arithmetic — JVM-side, shuffle-free.
    """
    docs = tables.load(spark, sf_dir, "documents")
    toks = tokens_col("text")
    q, n_punct, n_stop = quality_score_expr("text")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_measured"),
        F.size(toks).cast("long").alias("n_tokens"),
        n_punct.cast("long").alias("n_punct"),
        n_stop.cast("long").alias("n_stopword_hits"),
        F.round(q, 6).alias("quality_score"),
    )


def ext_text_quality_oracle() -> str:
    words = list(LANG_STOPWORDS["en"])
    return f"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_measured,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
               CAST(len(list_intersect(list_distinct(toks), {words!r})) AS BIGINT) AS n_stopword_hits,
               -- ::DOUBLE everywhere: bare 0.5/0.25 literals are DECIMAL in
               -- DuckDB and the driver's value hash renders DECIMAL ≠ DOUBLE
               ROUND(
                 (CASE WHEN length(text) >= 50 AND length(text) <= 100000 THEN 0.5::DOUBLE ELSE 0.0::DOUBLE END)
                 + (CASE WHEN len(list_intersect(list_distinct(toks), {words!r})) > 0 THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END)
                 + (CASE WHEN length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                          / GREATEST(length(text), 1) < 0.1 THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END), 6) AS quality_score
        FROM (
            SELECT *, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
            FROM documents
        )
    """


# sentiment lexicon (SURVEY.md §2.9; lexicon-join approach per the EDBT'16
# Spark sentiment paper in PAPERS.md) — tiny inline lexicon over the corpus
# vocabulary; at real scale this becomes a broadcast join against a lexicon
# table, same plan shape
SENTIMENT_POS = ("fast", "value", "merge", "order")
SENTIMENT_NEG = ("slow", "filter", "hash", "scan")


def ext_text_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment scoring: (pos hits − neg hits) / tokens.

    Counts lexicon occurrences over ALL tokens (not distinct — frequency
    matters for sentiment), via one ``filter`` higher-order function per
    polarity. Narrow map, JVM-side.
    """
    docs = tables.load(spark, sf_dir, "documents")
    toks = tokens_col("text")
    pos_arr = F.array(*[F.lit(w) for w in SENTIMENT_POS])
    neg_arr = F.array(*[F.lit(w) for w in SENTIMENT_NEG])
    n_pos = F.size(F.filter(toks, lambda t: F.array_contains(pos_arr, t)))
    n_neg = F.size(F.filter(toks, lambda t: F.array_contains(neg_arr, t)))
    n_tok = F.greatest(F.size(toks), F.lit(1))
    return docs.select(
        "doc_id",
        n_pos.cast("long").alias("n_pos"),
        n_neg.cast("long").alias("n_neg"),
        F.round((n_pos - n_neg) / n_tok, 6).alias("sentiment"),
        F.when(n_pos > n_neg, F.lit("pos"))
        .when(n_neg > n_pos, F.lit("neg"))
        .otherwise(F.lit("neu"))
        .alias("polarity"),
    )


def ext_text_sentiment_oracle() -> str:
    pos = list(SENTIMENT_POS)
    neg = list(SENTIMENT_NEG)
    return f"""
        SELECT doc_id,
               CAST(len(list_filter(toks, t -> list_contains({pos!r}, t))) AS BIGINT) AS n_pos,
               CAST(len(list_filter(toks, t -> list_contains({neg!r}, t))) AS BIGINT) AS n_neg,
               ROUND((len(list_filter(toks, t -> list_contains({pos!r}, t)))
                      - len(list_filter(toks, t -> list_contains({neg!r}, t))))::DOUBLE
                     / GREATEST(len(toks), 1), 6) AS sentiment,
               CASE WHEN len(list_filter(toks, t -> list_contains({pos!r}, t)))
                         > len(list_filter(toks, t -> list_contains({neg!r}, t))) THEN 'pos'
                    WHEN len(list_filter(toks, t -> list_contains({neg!r}, t)))
                         > len(list_filter(toks, t -> list_contains({pos!r}, t))) THEN 'neg'
                    ELSE 'neu' END AS polarity
        FROM (
            SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
            FROM documents
        )
    """


# Winnowing parameters: K-char grams, window of W gram hashes, polynomial
# rolling hash base B mod prime M (fits BIGINT: max acc < 2^31 * 257).
WINNOW_K = 8
WINNOW_W = 4
WINNOW_B = 257
WINNOW_M = (1 << 31) - 1


def ext_text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting via winnowing (MOSS-style).

    Normalize (lowercase, strip non-alphanumerics) → polynomial rolling
    hash of every K-char gram → select the minimum hash of each W-wide
    window → distinct sorted fingerprint set per document. The winnowing
    guarantee: any shared substring of length ≥ K+W−1 yields at least one
    shared fingerprint, so fingerprint overlap is a near-dup/containment
    signal with bounded gap — the standard plagiarism/copy-detection
    primitive at corpus scale.

    Everything is native higher-order functions over one narrow map — no
    shuffle, no UDF. The hash is an explicit polynomial (base 257 mod
    2^31−1), not Spark's xxhash, so DuckDB computes the identical values
    and the driver hash-match is exact.

    Two Generate barriers (``explode(array(x))``) materialize the char-code
    and gram-hash arrays as concrete attributes between projections:
    CollapseProject would otherwise inline the array expression into every
    downstream lambda invocation (lambda variables defeat subexpression
    elimination — the minhash_signatures lesson), turning O(n·K) into
    O(n²·K).

    Driver-facing output contract: the fingerprint set is emitted as a
    comma-joined string (``fingerprints_csv``), not ``array<bigint>`` —
    the driver's pandas canonicalization sorts cells and cannot factorize
    list values (the round-2 red row). Internal consumers that want the
    array form use :func:`winnow_fingerprints` directly.
    """
    docs = tables.load(spark, sf_dir, "documents", fan=True)
    fp = winnow_fingerprints(docs)
    return fp.select(
        "doc_id",
        "n_grams",
        F.array_join(
            F.transform(F.col("fingerprints"), lambda x: x.cast("string")), ","
        ).alias("fingerprints_csv"),
    )


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """The winnowing pipeline over any (doc_id, text) frame — see
    :func:`ext_text_winnowing` for semantics and plan rationale."""
    k, w, b, m = WINNOW_K, WINNOW_W, WINNOW_B, WINNOW_M
    s = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "")
    codes = F.transform(F.split(s, ""), lambda c: F.ascii(c).cast("long"))
    with_codes = docs.select("doc_id", F.explode(F.array(codes)).alias("cs"))
    gram_hashes = F.when(
        F.size("cs") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("cs") - (k - 1)),
            lambda i: F.aggregate(
                F.slice("cs", i, k),
                F.lit(0).cast("long"),
                lambda acc, c: (acc * b + c) % m,
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    with_hashes = with_codes.select(
        "doc_id", F.explode(F.array(gram_hashes)).alias("hs")
    )
    nh = F.size("hs")
    fingerprints = (
        F.when(nh == 0, F.array().cast("array<bigint>"))
        .when(nh < w, F.array(F.array_min("hs")))
        .otherwise(
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), nh - (w - 1)),
                        lambda t: F.array_min(F.slice("hs", t, w)),
                    )
                )
            )
        )
    )
    return with_hashes.select(
        "doc_id",
        nh.cast("long").alias("n_grams"),
        fingerprints.alias("fingerprints"),
    )


def winnow_fingerprints_py(text: str) -> tuple[int, list[int]]:
    """Python reference model of :func:`winnow_fingerprints` (tests)."""
    import re as _re

    k, w, b, m = WINNOW_K, WINNOW_W, WINNOW_B, WINNOW_M
    s = _re.sub("[^a-z0-9]", "", text.lower())
    hs = []
    for i in range(len(s) - k + 1):
        acc = 0
        for c in s[i : i + k]:
            acc = (acc * b + ord(c)) % m
        hs.append(acc)
    if not hs:
        return 0, []
    if len(hs) < w:
        return len(hs), [min(hs)]
    return len(hs), sorted({min(hs[t : t + w]) for t in range(len(hs) - w + 1)})


def ext_text_winnowing_oracle() -> str:
    k, w, b, m = WINNOW_K, WINNOW_W, WINNOW_B, WINNOW_M
    return f"""
        WITH norm AS (
            SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
            FROM documents
        ), codes AS (
            SELECT doc_id,
                   [CAST(ascii(substr(s, i, 1)) AS BIGINT)
                    for i in generate_series(1, length(s))] AS cs
            FROM norm
        ), grams AS (
            SELECT doc_id,
                   CASE WHEN len(cs) >= {k}
                        THEN [list_reduce(cs[i:i+{k - 1}],
                                          (a, c) -> (a * {b} + c) % {m})
                              for i in generate_series(1, len(cs) - {k - 1})]
                        ELSE CAST([] AS BIGINT[]) END AS hs
            FROM codes
        )
        SELECT doc_id,
               CAST(len(hs) AS BIGINT) AS n_grams,
               array_to_string(
                   CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
                        WHEN len(hs) < {w} THEN [list_min(hs)]
                        ELSE list_sort(list_distinct(
                            [list_min(hs[t:t+{w - 1}])
                             for t in generate_series(1, len(hs) - {w - 1})]))
                   END, ',') AS fingerprints_csv
        FROM grams
    """


def ext_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of whitespace-normalized lowercase text.

    The exact-dedup key (rolling-hash fingerprints reduce to the same
    groupBy-able digest column at engine level). Shuffle-free map.
    """
    docs = tables.load(spark, sf_dir, "documents")
    normalized = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return docs.select(
        "doc_id",
        F.md5(normalized).alias("fingerprint"),
        F.substring(F.md5(normalized), 1, 8).alias("fingerprint_prefix"),
    )


def ext_text_fingerprint_oracle() -> str:
    return r"""
        SELECT doc_id,
               md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint,
               substr(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 8) AS fingerprint_prefix
        FROM documents
    """


def ext_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring (Gopher-style duplicate-fraction filters).

    Per document: duplicate-token fraction and duplicate-3-gram fraction —
    the standard "is this page boilerplate/spam" signals for pretraining
    corpora (Rae et al. 2021 §A1.1 use dup-line/dup-ngram fractions; the
    fixture text is single-line, so the n-gram forms carry the signal).

    Pure narrow map: grams build by zipping three shifted ``slice`` views of
    the token array (JVM higher-order functions, no explode → no shuffle, no
    row blowup); dedup via ``array_distinct``. At 100 TB this pipelines over
    the scan.

    NOT ``transform(sequence(...), i -> element_at(toks, i)...)``: lambda
    bodies re-evaluate captured *expressions* per element, so the tokenizer
    regex would run 3·n_grams times per row (measured 24.8 s → 0.6 s at
    sf0.1 for this exact operator). ``slice``/``zip_with`` reference the
    token array a constant number of times per row instead.
    """
    docs = tables.load(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens_col("text").alias("toks"))
    t = F.col("toks")
    n = F.size(t)
    ng = F.greatest(n - F.lit(2), F.lit(0))  # gram count (0 when n < 3)
    pair = F.zip_with(
        F.slice(t, 1, ng), F.slice(t, 2, ng), lambda a, b: F.concat_ws(" ", a, b)
    )
    grams = F.zip_with(pair, F.slice(t, 3, ng), lambda p, c: F.concat_ws(" ", p, c))
    return base.select(
        "doc_id",
        n.alias("n_tokens"),
        F.when(n > 0, F.lit(1.0) - F.size(F.array_distinct(t)) / n)
        .otherwise(F.lit(0.0))
        .alias("dup_token_frac"),
        F.when(ng > 0, F.lit(1.0) - F.size(F.array_distinct(grams)) / ng)
        .otherwise(F.lit(0.0))
        .alias("dup_3gram_frac"),
    )


def ext_text_repetition_oracle() -> str:
    return f"""
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS n_tokens,
               CASE WHEN len(toks) > 0
                    THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                    ELSE 0.0 END AS dup_token_frac,
               CASE WHEN len(grams) > 0
                    THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
                    ELSE 0.0 END AS dup_3gram_frac
        FROM (
            SELECT doc_id, toks,
                   CASE WHEN len(toks) >= 3 THEN
                        list_transform(range(1, len(toks) - 1),
                                       i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
                   ELSE [] END AS grams
            FROM (
                SELECT doc_id,
                       regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
                FROM documents
            )
        )
        """


# PII patterns: portable across Java regex (Spark) and RE2 (DuckDB) — no
# backrefs, no \d shorthand, explicit classes only.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
PHONE_RE = "[+][0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"


def with_synthetic_pii(docs: DataFrame) -> DataFrame:
    """Fixture text carries no PII, so the parity harness plants a
    deterministic contact line per row (same derivation in the oracle);
    the *operator* under test is :func:`mask_pii`."""
    return docs.withColumn(
        "text_pii",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-0199"),
        ),
    )


def mask_pii(text: Column) -> Column:
    """Scrub emails then phones to typed placeholder tokens — the standard
    pre-training redaction pass. Order matters only for overlapping spans;
    these classes are disjoint. Narrow map, codegen-friendly."""
    return F.regexp_replace(
        F.regexp_replace(text, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )


def ext_text_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_synthetic_pii(tables.load(spark, sf_dir, "documents"))
    masked = mask_pii(F.col("text_pii"))
    return docs.select(
        "doc_id",
        masked.alias("text_masked"),
        (F.length("text_pii") - F.length(masked)).alias("bytes_redacted"),
    )


def ext_text_pii_mask_oracle() -> str:
    return f"""
        SELECT doc_id,
               masked AS text_masked,
               CAST(length(text_pii) - length(masked) AS INTEGER) AS bytes_redacted
        FROM (
            SELECT doc_id, text_pii,
                   regexp_replace(regexp_replace(text_pii, '{EMAIL_RE}', '<EMAIL>', 'g'),
                                  '{PHONE_RE}', '<PHONE>', 'g') AS masked
            FROM (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com or +1-555-'
                            || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                            || '-0199' AS text_pii
                FROM documents
            )
        )
        """


def ext_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report: per (source, lang) doc counts, token
    totals, and share of all corpus tokens — the dataset-card numbers every
    training corpus ships with.

    One aggregation shuffle over the corpus; the global total for the share
    column is a window over the *aggregated* frame (one row per
    source×lang — tiny at any corpus size), so no second pass over the
    data and no scalar-subquery rescan.
    """
    from pyspark.sql.window import Window

    docs = tables.load(spark, sf_dir, "documents")
    per_group = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens_col("text"))).cast("long").alias("n_tokens"),
        F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
    )
    total = F.sum("n_tokens").over(Window.partitionBy())
    return per_group.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        "avg_chars",
        F.round(F.col("n_tokens") / total, 6).alias("token_share"),
    )


def ext_corpus_stats_oracle() -> str:
    return f"""
        WITH g AS (
            SELECT source, lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len(regexp_extract_all(lower(text), '{TOKEN_RE}'))) AS BIGINT) AS n_tokens,
                   ROUND(AVG(length(text)), 4) AS avg_chars
            FROM documents GROUP BY source, lang
        )
        SELECT source, lang, n_docs, n_tokens, avg_chars,
               ROUND(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER (), 6) AS token_share
        FROM g
        """


VOCAB_TOPK = 20


def ext_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-frequency top-k — the vocabulary-count stage every
    tokenizer (BPE/unigram) training run starts from.

    The canonical wordcount at scale: explode tokens (narrow), ONE shuffle
    on (lang, token) with map-side partial counts, then a per-lang window
    over the (tiny) aggregated frame. The ranking never touches token-level
    rows — at 100 TB the window input is |vocab×langs|, not |corpus|.
    Deterministic tie-break (count desc, token asc) keeps the result
    hash-stable across engines.
    """
    from pyspark.sql.window import Window

    docs = tables.load(spark, sf_dir, "documents", fan=True)
    counts = (
        docs.select("lang", F.explode(tokens_col("text")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= VOCAB_TOPK)
        .select("lang", "rank", "token", "n")
    )


def ext_vocab_topk_oracle() -> str:
    return f"""
        SELECT lang, rank, token, n FROM (
            SELECT lang, token, n,
                   CAST(row_number() OVER (PARTITION BY lang
                                           ORDER BY n DESC, token ASC) AS INTEGER) AS rank
            FROM (
                SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS n
                FROM (
                    SELECT lang,
                           unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS token
                    FROM documents
                )
                GROUP BY lang, token
            )
        ) WHERE rank <= {VOCAB_TOPK}
    """


def ext_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean unigram log-likelihood under the corpus's own per-lang
    unigram LM — the CCNet-style statistical quality proxy: documents whose
    tokens are improbable under the corpus distribution (gibberish, wrong
    language, boilerplate soup) score low and get filtered/bucketed before
    pretraining.

    Plan shape: ONE corpus scan. The per-doc term-frequency frame
    (doc_id, lang, token, tf) is materialized once via ``localCheckpoint``
    because both the LM derivation and the scoring join consume it — the
    earlier two-branch form re-tokenized the whole corpus twice, which at
    100 TB is a second full pass for nothing. From the materialized frame:
    a vocab-sized (lang, token) agg → per-lang totals over the vocab frame
    (one tiny exchange) → the finished LM broadcasts into the scoring join
    → one groupBy on doc_id, with Σtf·logp / Σtf as the occurrence mean.
    Rounded to 4 dp: the mean of irrational doubles is the one place where
    cross-engine summation order could flip a 6th decimal.
    """
    from pyspark.sql.window import Window

    docs = tables.load(spark, sf_dir, "documents", fan=True)
    occ = (
        docs.select("doc_id", "lang", F.explode(tokens_col("text")).alias("token"))
        .groupBy("doc_id", "lang", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        # executor-local materialization, not fault-tolerant — acceptable
        # for a derived frame that any retry can rebuild from the scan
        .localCheckpoint(eager=False)
    )
    freq = occ.groupBy("lang", "token").agg(F.sum("tf").alias("tf"))
    lm = freq.select(
        "lang",
        "token",
        F.log(
            F.col("tf").cast("double")
            / F.sum("tf").over(Window.partitionBy("lang"))
        ).alias("logp"),
    )
    return (
        occ.join(F.broadcast(lm), ["lang", "token"])
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(F.sum(F.col("tf") * F.col("logp")) / F.sum("tf"), 4).alias(
                "avg_logprob"
            ),
        )
    )


def ext_text_unigram_logprob_oracle() -> str:
    return f"""
        WITH occ AS (
            SELECT doc_id, lang,
                   unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS token
            FROM documents
        ),
        freq AS (
            SELECT lang, token, COUNT(*) AS tf FROM occ GROUP BY lang, token
        ),
        lm AS (
            SELECT lang, token,
                   ln(CAST(tf AS DOUBLE) / SUM(tf) OVER (PARTITION BY lang)) AS logp
            FROM freq
        )
        SELECT o.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(AVG(l.logp), 4) AS avg_logprob
        FROM occ o JOIN lm l ON o.lang = l.lang AND o.token = l.token
        GROUP BY o.doc_id
    """


QUALITY_N_BUCKETS = 10


def ext_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bucketing of the unigram-logprob quality score — the step
    that turns a continuous quality proxy into actionable tiers (keep the
    top deciles, re-filter the middle, drop the tail; CCNet ships exactly
    this head/middle/tail split).

    Deliberately NOT a global ``ntile``: that is a full sort of the corpus
    through one partition. Instead the 9 decile thresholds come from one
    exact ``percentile`` aggregation over the per-doc score frame (a
    parallel partial+final agg), broadcast as a 1-row frame; each doc's
    bucket is then "1 + #thresholds strictly below its score" — a narrow
    map. Same output as ntile up to threshold ties, O(1) driver state.
    """
    # optimization round 13 (guide §2.4): lp feeds BOTH the percentile
    # branch and the bucketing branch; without a checkpoint the whole
    # unigram-LM chain (occ→freq→lm→join→doc agg) executed twice —
    # `occ` alone was materialized upstream. The per-doc frame is one
    # row per document, cheap to keep.
    lp = ext_text_unigram_logprob(spark, sf_dir).localCheckpoint(eager=False)
    pcts = [i / QUALITY_N_BUCKETS for i in range(1, QUALITY_N_BUCKETS)]
    th = lp.agg(F.percentile("avg_logprob", pcts).alias("t"))
    bucketed = lp.crossJoin(F.broadcast(th)).select(
        "doc_id",
        "n_tokens",
        "avg_logprob",
        (
            F.lit(1)
            + F.size(F.filter("t", lambda x: F.col("avg_logprob") > x))
        ).alias("bucket"),
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.min("avg_logprob"), 4).alias("min_logprob"),
        F.round(F.max("avg_logprob"), 4).alias("max_logprob"),
    )


def ext_quality_buckets_oracle() -> str:
    lp = ext_text_unigram_logprob_oracle()
    pcts = ", ".join(str(i / QUALITY_N_BUCKETS) for i in range(1, QUALITY_N_BUCKETS))
    return f"""
        WITH lp AS ({lp}),
        th AS (SELECT quantile_cont(avg_logprob, [{pcts}]) AS t FROM lp)
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               ROUND(MIN(avg_logprob), 4) AS min_logprob,
               ROUND(MAX(avg_logprob), 4) AS max_logprob
        FROM (
            SELECT lp.*,
                   1 + len(list_filter(t, x -> avg_logprob > x)) AS bucket
            FROM lp, th
        )
        GROUP BY bucket
    """


def ext_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the token distribution (bits) plus the
    type-token ratio — the lexical-diversity pair of quality signals:
    near-zero entropy is a repeated-token artifact (spam, padding), and
    anomalously low TTR flags template/boilerplate text even when the
    whole doc is unique.

    Plan: explode → one (doc_id, token) shuffle for per-doc tf → ONE
    doc_id agg, using the identity H = log₂(n) − (Σ c·log₂c)/n so no
    window or second pass is needed for the normalizing total. The shuffle
    rows are per-doc DISTINCT tokens, strictly fewer than occurrences; no
    per-row quadratic HOF (a shuffle-free filter-inside-transform form is
    O(distinct·len) per row — fine at 100 tokens, hostile at 10k).
    """
    docs = tables.load(spark, sf_dir, "documents", fan=True)
    tf = (
        docs.select("doc_id", F.explode(tokens_col("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c").cast("double")
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.round(
                F.log2(n) - F.sum(F.col("c") * F.log2("c")) / n, 6
            ).alias("token_entropy_bits"),
            F.round(F.count(F.lit(1)) / n, 6).alias("type_token_ratio"),
        )
    )


def ext_text_entropy_oracle() -> str:
    return f"""
        WITH tf AS (
            SELECT doc_id, token, COUNT(*) AS c
            FROM (
                SELECT doc_id,
                       unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS token
                FROM documents
            )
            GROUP BY doc_id, token
        )
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               ROUND(log2(CAST(SUM(c) AS DOUBLE))
                     - SUM(c * log2(CAST(c AS DOUBLE))) / SUM(c), 6)
                   AS token_entropy_bits,
               ROUND(COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS type_token_ratio
        FROM tf
        GROUP BY doc_id
    """


COVERAGE_VOCAB_K = 100


def ext_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: the fraction of each document's
    token OCCURRENCES covered by its language's top-K corpus vocabulary —
    the number a tokenizer team checks before freezing a vocab (low
    coverage ⇒ the vocab under-serves that document's domain and it will
    fragment into bytes/unknowns).

    Single corpus scan, same shape as ``ext_text_unigram_logprob``: the
    per-doc tf frame materializes once; the per-lang top-K vocab derives
    from it (vocab-sized window) and broadcasts back onto it; one doc_id
    agg ends it.
    """
    from pyspark.sql.window import Window

    docs = tables.load(spark, sf_dir, "documents", fan=True)
    occ = (
        docs.select("doc_id", "lang", F.explode(tokens_col("text")).alias("token"))
        .groupBy("doc_id", "lang", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    counts = occ.groupBy("lang", "token").agg(F.sum("tf").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token").asc())
    vocab = (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= COVERAGE_VOCAB_K)
        .select("lang", "token", F.lit(True).alias("in_vocab"))
    )
    return (
        occ.join(F.broadcast(vocab), ["lang", "token"], "left")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab"), F.col("tf")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_covered"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_covered",
            F.round(F.col("n_covered") / F.col("n_tokens"), 6).alias("coverage"),
        )
    )


def ext_vocab_coverage_oracle() -> str:
    return f"""
        WITH occ AS (
            SELECT doc_id, lang, token, COUNT(*) AS tf
            FROM (
                SELECT doc_id, lang,
                       unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS token
                FROM documents
            )
            GROUP BY doc_id, lang, token
        ),
        vocab AS (
            SELECT lang, token FROM (
                SELECT lang, token,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY SUM(tf) DESC, token ASC) AS rank
                FROM occ GROUP BY lang, token
            ) WHERE rank <= {COVERAGE_VOCAB_K}
        )
        SELECT o.doc_id,
               CAST(SUM(o.tf) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.token IS NOT NULL THEN o.tf ELSE 0 END) AS BIGINT)
                   AS n_covered,
               ROUND(SUM(CASE WHEN v.token IS NOT NULL THEN o.tf ELSE 0 END)
                     / CAST(SUM(o.tf) AS DOUBLE), 6) AS coverage
        FROM occ o
        LEFT JOIN vocab v ON o.lang = v.lang AND o.token = v.token
        GROUP BY o.doc_id
    """


HH_K = 128  # Misra–Gries counters per partition


def _mg_summaries(toks: DataFrame, k: int) -> DataFrame:
    """Bounded per-partition Misra–Gries summaries over a ``token`` column:
    each partition emits ≤ k candidate rows plus one exact-total row
    (``is_total``), regardless of partition size — the pass-1 stage of
    ``ext_heavy_hitters``, shared with the streaming twin
    (``streaming/corpus.heavy_hitters_update``)."""
    from collections.abc import Iterator

    import pandas as pd

    def mg_summary(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # vectorized mergeable-summaries fold (optimization round 13,
        # guide §4.2): per Arrow batch, exact counts via value_counts (C
        # speed), then the `mg_merge` m-way merge-with-one-truncation —
        # memory stays O(k + batch vocabulary), bounded by
        # arrow.maxRecordsPerBatch, and the summary keeps the exact
        # guarantee band (est ≤ true ≤ est + n_p/(k+1), candidates ⊇ the
        # true heavy set) the consumers rely on. The old per-token python
        # loop (classic arrival-order MG) produced a DIFFERENT valid
        # summary; both are supersets, and pass 2 recounts exactly, so the
        # operator output is unchanged (pinned by the oracle + the
        # summary-contract test).
        counters = pd.Series(dtype="int64")
        total = 0
        for pdf in pdfs:
            vc = pdf["token"].value_counts()
            total += int(vc.sum())
            counters = counters.add(vc, fill_value=0).astype("int64")
            if len(counters) > k:
                cut = int(counters.nlargest(k + 1).iloc[-1])
                counters = counters[counters > cut] - cut
        out = pd.DataFrame(
            {
                "token": [str(t) for t in counters.index] + [""],
                "cnt": [int(v) for v in counters.to_numpy()] + [total],
                "is_total": [False] * len(counters) + [True],
            }
        )
        yield out

    return toks.mapInPandas(mg_summary, "token string, cnt long, is_total boolean")


def mg_merge(counters: dict[str, int], other: dict[str, int], k: int) -> dict[str, int]:
    """Merge Misra–Gries summaries (Agarwal et al. 2012, "Mergeable
    Summaries"): add counters, then — if more than ``k`` survive — subtract
    the (k+1)-th largest count from every counter and drop the
    non-positive ones. Each truncation removes ≥ (k+1)·cut of summary
    mass, and total mass inserted across any merge tree is the true item
    count N, so the accumulated underestimate is ≤ N/(k+1):
    true − N/(k+1) ≤ est ≤ true holds after ARBITRARY merge sequences —
    the property that lets per-partition and per-micro-batch summaries
    fold into one k-counter state. ``other`` may itself be the counter
    SUM of several summaries (an m-way merge with a single truncation is
    valid by the same mass argument, and strictly tighter than folding
    pairwise)."""
    merged = dict(counters)
    for t, c in other.items():
        merged[t] = merged.get(t, 0) + int(c)
    if len(merged) > k:
        cut = sorted(merged.values(), reverse=True)[k]
        merged = {t: c - cut for t, c in merged.items() if c - cut > 0}
    return merged


def ext_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters (tokens with frequency > N/(k+1)) via the
    two-pass Misra–Gries recipe — the mergeable bounded-memory answer to
    "what dominates this corpus" when the vocabulary itself is too big to
    aggregate (URLs, hostnames, n-grams at web scale).

    Pass 1 runs an MG(k) summary PER PARTITION inside ``mapInPandas`` — k
    counters of state regardless of partition size, emitting ≤ k candidate
    rows plus the partition's exact token total. The pigeonhole guarantee:
    any token with global frequency > N/(k+1) must exceed n_p/(k+1) in some
    partition and therefore survives that partition's summary — candidates
    ⊇ the true heavy set, NO false negatives. Pass 2 rescans with the
    candidate set broadcast (≤ k·partitions rows) and counts exactly; the
    final filter n·(k+1) > N therefore returns EXACTLY the true heavy set
    with exact counts — which is why this sketch-built operator still has a
    plain-SQL oracle (GROUP BY + HAVING over the full vocab): the sketch
    changes the memory bound, not the answer.
    """
    docs = tables.load(spark, sf_dir, "documents", fan=True)
    toks = docs.select(F.explode(tokens_col("text")).alias("token"))

    k = HH_K
    # bounded frames: ≤ k rows + 1 total row per partition
    summaries = _mg_summaries(toks, k).localCheckpoint(eager=False)
    total = summaries.where("is_total").agg(F.sum("cnt").alias("n_total"))
    candidates = (
        summaries.where(~F.col("is_total")).select("token").distinct()
    )
    exact = (
        toks.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .where(F.col("n") * (k + 1) > F.col("n_total"))
        .select(
            "token",
            "n",
            F.round(F.col("n") / F.col("n_total"), 6).alias("share"),
        )
    )


def ext_heavy_hitters_oracle() -> str:
    return f"""
        WITH occ AS (
            SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS token
            FROM documents
        ),
        tot AS (SELECT COUNT(*) AS n_total FROM occ)
        SELECT token,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(COUNT(*) / CAST(MAX(n_total) AS DOUBLE), 6) AS share
        FROM occ, tot
        GROUP BY token
        HAVING COUNT(*) * ({HH_K} + 1) > MAX(n_total)
    """


CMS_D = 4  # Count-Min depth (independent hash rows)
CMS_W = 512  # Count-Min width (buckets per row)
CMS_TOPN = 50  # audited probe keys: the exact top-N tokens


def _cms_pos(col, j: int, w: int) -> Column:
    """Row-``j`` bucket of a token: 32-bit md5 slice of the seeded
    rendering mod ``w`` — the ``sampling._bloom_pos`` hash convention,
    bit-identical in Spark and DuckDB so the sketch's collisions (and
    therefore every estimate) are deterministic and cross-engine."""
    c = F.col(col) if isinstance(col, str) else col
    seeded = F.concat(F.lit(f"{j}:"), c)
    return F.conv(F.substring(F.md5(seeded), 1, 8), 16, 10).cast("long") % w


def _cms_pos_sql(expr: str, j: int, w: int) -> str:
    return f"CAST('0x' || substr(md5('{j}:' || {expr}), 1, 8) AS BIGINT) % {w}"


def _cms_probes(d: int, w: int):
    """The d (row, bucket) probe structs for a ``token`` column."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"), _cms_pos("token", j, w).alias("b")
            )
            for j in range(d)
        ]
    )


def _cms_cells(toks: DataFrame, d: int, w: int) -> DataFrame:
    """The d×w counter table of a ``token`` frame: one groupBy onto ≤ d·w
    keys (map-side combined — partition output is sketch-sized). Cells
    merge across shards/days/micro-batches by plain cell-wise SUM, which
    is what the streaming twin folds on."""
    return (
        toks.select(F.explode(_cms_probes(d, w)).alias("p"))
        .groupBy(F.col("p.j").alias("j"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_report(toks: DataFrame, d: int, w: int, topn: int) -> DataFrame:
    """Count-Min construction + audit over a ``token`` column — the
    testable core of ``ext_freq_countmin`` (crafted forced-collision
    fixtures drive this with a tiny ``w``).

    The counter table is a ``groupBy`` onto ≤ d·w keys, so map-side
    combine bounds what leaves each partition at d·w rows regardless of
    partition size, and cell-wise SUM makes the sketch trivially
    mergeable across shards/days. The probe side explodes only the
    ``topn`` audited keys against the broadcast (≤ d·w rows) sketch."""
    probes = _cms_probes(d, w)
    # optimization round 13 (guide §2.3/§2.4): one corpus pass, vocab-sized
    # everything after. The counter table is a pure function of the
    # (token, count) frame — a cell holds Σ count(token) over the tokens
    # hashing into it, identically whether summed per occurrence or per
    # type — so both the sketch and the exact audit side derive from ONE
    # tf aggregation; the d seeded md5s run once per DISTINCT token
    # instead of once per occurrence, and the corpus is scanned once, not
    # twice. (`_cms_cells` keeps the per-occurrence fold for the
    # streaming twin, whose micro-batches merge cells incrementally.)
    tf = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .localCheckpoint(eager=False)
    )
    cells = (
        tf.select(F.explode(probes).alias("p"), "n_exact")
        .groupBy(F.col("p.j").alias("j"), F.col("p.b").alias("b"))
        .agg(F.sum("n_exact").cast("long").alias("cnt"))
    )
    top = tf.orderBy(F.col("n_exact").desc(), F.col("token").asc()).limit(topn)
    probed = top.select("token", "n_exact", F.explode(probes).alias("p")).select(
        "token", "n_exact", F.col("p.j").alias("j"), F.col("p.b").alias("b")
    )
    return (
        probed.join(F.broadcast(cells), ["j", "b"])
        .groupBy("token", "n_exact")
        .agg(F.min("cnt").cast("long").alias("n_est"))
        .select(
            "token",
            "n_exact",
            "n_est",
            (F.col("n_est") - F.col("n_exact")).cast("long").alias("overshoot"),
        )
    )


def ext_freq_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency sketch (Cormode & Muthukrishnan 2005) with
    its fidelity audit — the frequency member of the sketch family next to
    KMV distinct, the bottom-K quantile sketch, and Misra–Gries heavy
    hitters. MG answers "what dominates"; Count-Min answers "how often is
    THIS key" for ANY key in d·w counters — the shape a 100 TB pipeline
    uses for per-URL / per-hostname / per-n-gram frequency service without
    vocabulary-sized state.

    Construction: d=4 independent md5-seeded hash rows × w=512 buckets;
    each token increments one bucket per row; a key's estimate is the MIN
    over its d cells — an overestimate ALWAYS (est ≥ true, deterministic:
    a cell holds the key's own count plus colliding mass), within εN with
    the usual (ε=e/w, δ=e^−d) guarantee. The counter build is one
    aggregation onto ≤ d·w keys (map-side combined — partition output is
    sketch-sized, never corpus-sized) and cells merge by SUM, so per-shard
    sketches combine exactly like the KMV/bottom-K partials.

    The audit reports est vs exact for the top-``CMS_TOPN`` tokens (count
    desc, token asc — a total order, so the probe set is deterministic):
    ``overshoot`` = est − exact ≥ 0 row by row. Exactness lives on the
    audit side only — a deployment serves from the sketch alone. Because
    the md5 bucket hashes replay in SQL, the collisions are identical on
    both engines and the oracle is a full value-hash replay of the
    construction, not a tolerance check.
    """
    docs = tables.load(spark, sf_dir, "documents", fan=True)
    toks = docs.select(F.explode(tokens_col("text")).alias("token"))
    return cms_report(toks, CMS_D, CMS_W, CMS_TOPN)


def ext_freq_countmin_oracle() -> str:
    cell_union = "\n            UNION ALL ".join(
        f"SELECT {j} AS j, {_cms_pos_sql('token', j, CMS_W)} AS b FROM occ"
        for j in range(CMS_D)
    )
    probe_union = "\n            UNION ALL ".join(
        f"SELECT token, n_exact, {j} AS j, {_cms_pos_sql('token', j, CMS_W)} AS b FROM top"
        for j in range(CMS_D)
    )
    return f"""
        WITH occ AS (
            SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS token
            FROM documents
        ),
        cells AS (
            SELECT j, b, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM ({cell_union})
            GROUP BY j, b
        ),
        exact AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS n_exact
            FROM occ GROUP BY token
        ),
        top AS (
            SELECT token, n_exact FROM exact
            ORDER BY n_exact DESC, token ASC LIMIT {CMS_TOPN}
        ),
        probed AS ({probe_union})
        SELECT p.token, p.n_exact,
               CAST(MIN(c.cnt) AS BIGINT) AS n_est,
               CAST(MIN(c.cnt) - p.n_exact AS BIGINT) AS overshoot
        FROM probed p JOIN cells c USING (j, b)
        GROUP BY p.token, p.n_exact
    """


BIGRAM_LAMBDA = 0.8  # interpolation weight on the bigram term


def ext_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean log-likelihood under an interpolated BIGRAM LM trained
    on the corpus itself — the KenLM-perplexity quality filter (CCNet uses
    a 5-gram model; the interpolated bigram is the same machinery at the
    order this fixture's vocabulary supports):
    p(w|v) = λ·c(v,w)/c(v·) + (1−λ)·(c(w)+1)/(T+V).

    Plan: bigrams form in the narrow map via ``arrays_zip(slice, slice)``
    (no positional self-join); ONE (prev, cur) shuffle materializes the
    per-doc bigram tf frame; the bigram LM, context totals, and unigram
    smoothing scalars all derive FROM that frame (corpus scanned once); the
    LM join is pre-aggregated per key — the same skew-proof shape as
    `ext_text_unigram_logprob` one order up. Docs with < 2 tokens carry a
    NULL score (no bigrams to judge).
    """
    from pyspark.sql.window import Window

    docs = tables.load(spark, sf_dir, "documents", fan=True)
    t = tokens_col("text")
    n = F.size(t)
    bigrams = F.arrays_zip(
        F.slice(t, 1, F.greatest(n - 1, F.lit(0))).alias("prev"),
        F.slice(t, 2, F.greatest(n - 1, F.lit(0))).alias("cur"),
    )
    tf2 = (
        docs.select("doc_id", F.explode(bigrams).alias("bg"))
        .select("doc_id", F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))
        .groupBy("doc_id", "prev", "cur")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        # tf2 feeds BOTH the LM-derivation branch and the scoring join —
        # materialize once so the corpus tokenize+explode+agg doesn't
        # re-execute per branch (same move as the minhash signature stage)
        .localCheckpoint(eager=False)
    )
    lm2 = tf2.groupBy("prev", "cur").agg(F.sum("tf").alias("c2"))
    # optimization round 13 (guide §2.4): the context totals and unigram
    # totals used to be separate groupBys JOINED back onto lm2 (two extra
    # vocab aggregations + two joins = ~8 AQE stages per invocation); two
    # window sums over lm2 carry the identical values — c1prev/c1cur are
    # per-key sums either way — and the scalars collapse to ONE tiny agg
    # on lm2 (V = distinct cur; T = Σc2 regardless of grouping). All sums
    # are integer-valued doubles, so regrouping is bit-exact.
    wprev = Window.partitionBy("prev")
    wcur = Window.partitionBy("cur")
    scalars = lm2.agg(
        F.count_distinct("cur").cast("double").alias("v"),
        F.sum("c2").alias("t_total"),
    )
    lam = F.lit(BIGRAM_LAMBDA)
    p = lam * F.col("c2") / F.col("c1prev") + (F.lit(1.0) - lam) * (
        F.col("c1cur") + 1.0
    ) / (F.col("t_total") + F.col("v"))
    # assemble the full LM on the VOCAB-sized frame first (the window
    # sums never touch corpus-scale rows), so the corpus-sized tf2 frame
    # pays exactly ONE join — three shuffles of the big side collapse to
    # one
    lm_full = (
        lm2.withColumn("c1prev", F.sum("c2").over(wprev))
        .withColumn("c1cur", F.sum("c2").over(wcur))
        .crossJoin(F.broadcast(scalars))
        .select("prev", "cur", F.log(p).alias("logp"))
    )
    scored = tf2.join(lm_full, ["prev", "cur"]).withColumn(
        "ll", F.col("tf") * F.col("logp")
    )
    per = scored.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_bigrams"),
        F.round(F.sum("ll") / F.sum("tf"), 6).alias("mean_logprob"),
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "mean_logprob",
        )
    )


def ext_text_bigram_logprob_oracle() -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS t
            FROM documents
        ),
        tf2 AS (
            SELECT doc_id, t[i] AS prev, t[i+1] AS cur,
                   CAST(COUNT(*) AS DOUBLE) AS tf
            FROM toks, unnest(range(1, CAST(len(t) AS BIGINT))) AS u(i)
            GROUP BY doc_id, prev, cur
        ),
        lm2 AS (SELECT prev, cur, SUM(tf) AS c2 FROM tf2 GROUP BY prev, cur),
        ctx AS (SELECT prev, SUM(c2) AS c1prev FROM lm2 GROUP BY prev),
        uni AS (SELECT cur, SUM(c2) AS c1cur FROM lm2 GROUP BY cur),
        scalars AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS v, SUM(c1cur) AS t_total FROM uni
        ),
        per AS (
            SELECT tf2.doc_id,
                   CAST(SUM(tf2.tf) AS BIGINT) AS n_bigrams,
                   ROUND(SUM(tf2.tf * ln({BIGRAM_LAMBDA} * lm2.c2 / ctx.c1prev
                                         + (1.0 - {BIGRAM_LAMBDA}) * (uni.c1cur + 1.0)
                                           / (s.t_total + s.v)))
                         / SUM(tf2.tf), 6) AS mean_logprob
            FROM tf2
            JOIN lm2 USING (prev, cur)
            JOIN ctx USING (prev)
            JOIN uni USING (cur)
            CROSS JOIN scalars s
            GROUP BY tf2.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               p.mean_logprob
        FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
    """


BPE_N_MERGES = 8  # merge operations to learn


def _bpe_merge(spark: SparkSession):
    """Shared Arrow kernel applying ONE merge (a, b) → "ab" across symbol
    arrays. Same shared-UDF discipline as the k-means kernels: the pair
    arrives as a literal array column, so all iterations reuse one pickled
    function (per-distinct-UDF warmup paid once), held per session in
    `cache` (a ``pandas_udf`` must not outlive its SparkContext)."""

    def build():
        import pandas as pd

        # no type hints: module has no pandas import for the string annotations
        # (PEP 563) to resolve against, and the return type is given explicitly
        @F.pandas_udf("array<string>")
        def merge(sym_s, pair_s):
            a, b = pair_s.iloc[0][0], pair_s.iloc[0][1]
            ab = a + b
            out = []
            for syms in sym_s:
                L = list(syms)
                res = []
                i = 0
                while i < len(L):
                    if i + 1 < len(L) and L[i] == a and L[i + 1] == b:
                        res.append(ab)
                        i += 2
                    else:
                        res.append(L[i])
                        i += 1
                out.append(res)
            return pd.Series(out)

        return merge

    return cache.cached(spark, "", (), "bpe-merge-udf", build)


def ext_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first ``BPE_N_MERGES`` byte-pair-encoding merges on the
    corpus (Sennrich et al. 2016) — tokenizer TRAINING itself, not just the
    vocab counts that feed it, as an iterative-DataFrame algorithm:

    - ONE corpus pass collapses to the (word, freq) table — BPE's classic
      trick: training cost is vocab-sized, corpus-size-independent after
      this pass, so at 100 TB the loop runs on a frame of a few million
      rows no matter the input.
    - Each iteration: adjacent-pair counts via ``arrays_zip(slice, slice)``
      explode weighted by freq (one small shuffle), argmax with
      lexicographic tie-break (2-row-bounded collect — the merge list is
      the model and is inherently driver-sized), then the shared Arrow
      kernel rewrites the symbol arrays; ``localCheckpoint`` per iteration
      stops lineage growth (same discipline as `_kmeans_fit`).

    Deterministic (ties: count desc, pair lexicographic asc); oracle = a
    DuckDB RECURSIVE CTE carrying the whole (word→symbols, freq) vocab as
    list state, one merge per iteration (the MMR-oracle pattern applied to
    tokenizer training) — plus a python-reference equality test.

    Output: (merge_rank, left, right, pair_count) — the merge table a
    tokenizer ships.
    """
    return spark.createDataFrame(
        _bpe_learn(spark, sf_dir),
        "merge_rank int, left string, right string, pair_count long",
    )


def _bpe_learn(spark: SparkSession, sf_dir: str) -> list:
    """The merge-learning loop; returns [(rank, left, right, count), ...].

    Cached (see `cache`) like `_kmeans_fit`: the merge table is the
    trained tokenizer — `ext_tokenizer_apply` SERVES it, and a deployment
    trains once."""
    return cache.cached(
        spark,
        sf_dir,
        ("documents",),
        "bpe-learn",
        lambda: _bpe_learn_build(spark, sf_dir),
    )


def _bpe_learn_build(spark: SparkSession, sf_dir: str, docs_filter=None) -> list:
    docs = tables.load(spark, sf_dir, "documents", fan=True)
    if docs_filter is not None:
        docs = docs.where(docs_filter)
    words = (
        docs.select(F.explode(tokens_col("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .select(F.split("w", "").alias("syms"), "freq")
    )
    # right-size the iterated frame: vocab size is known cheaply (it's the
    # model-sizing number anyway) and the loop re-reads this frame 2×N
    # times — a 31-word test vocab on 32 shuffle partitions would pay 16
    # jobs of pure task-scheduling overhead, while a web-scale vocab keeps
    # one partition per ~500k words
    n_vocab = words.count()
    words = words.coalesce(max(1, -(-n_vocab // 500_000))).localCheckpoint(
        eager=False
    )
    merges = []
    for rank in range(1, BPE_N_MERGES + 1):
        sz = F.size("syms")
        prs = F.arrays_zip(
            F.slice("syms", 1, F.greatest(sz - 1, F.lit(0))).alias("a"),
            F.slice("syms", 2, F.greatest(sz - 1, F.lit(0))).alias("b"),
        )
        top = (
            words.select("freq", F.explode(prs).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        r = top[0]
        merges.append((rank, r["a"], r["b"], int(r["c"])))
        words = words.select(
            _bpe_merge(spark)("syms", F.lit([r["a"], r["b"]])).alias("syms"), "freq"
        ).localCheckpoint(eager=False)
    return merges


def _bpe_cte_sql(src: str = "documents") -> str:
    """Shared RECURSIVE-CTE body computing the BPE merge table in DuckDB.

    ``src`` parametrizes the training relation (default the whole corpus;
    the held-out OOV audit passes the train-split subquery so the SQL
    replay trains on exactly the rows the Spark fit saw).

    State = one row per iteration carrying the ENTIRE (word, freq) vocab as
    a list of structs; the word's symbol sequence is encoded as a
    ``|a||b||c|`` delimiter string so that applying merge (a, b) is exactly
    one ``replace('|a||b|' → '|ab|')`` — SQL ``replace`` scans left-to-right
    non-overlapping, which IS the greedy merge-application semantics of the
    Spark kernel (``_bpe_merge``). The argmax per iteration runs in a
    LATERAL over the unnested vocab (count desc, pair lexicographic asc
    tie-break, same as the Spark loop). Token chars are [a-z0-9], so the
    '|' delimiter can never collide with symbol text."""
    n = BPE_N_MERGES
    return f"""
        vocab0 AS (
            SELECT list(struct_pack(
                       ws := '|' || array_to_string(
                           [substr(w, i, 1) for i in generate_series(1, length(w))],
                           '||') || '|',
                       freq := freq)) AS vocab
            FROM (
                SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
                FROM (SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS w
                      FROM {src})
                GROUP BY w
            )
        ),
        bpe AS (
            SELECT 0 AS merge_rank, CAST(NULL AS VARCHAR) AS l,
                   CAST(NULL AS VARCHAR) AS r, CAST(NULL AS BIGINT) AS pair_count,
                   vocab
            FROM vocab0
            UNION ALL
            SELECT s.merge_rank + 1, nxt.a, nxt.b, nxt.c,
                   list_transform(s.vocab, x -> struct_pack(
                       ws := replace(x.ws, '|' || nxt.a || '||' || nxt.b || '|',
                                           '|' || nxt.a || nxt.b || '|'),
                       freq := x.freq))
            FROM bpe s, LATERAL (
                SELECT p.a AS a, p.b AS b, CAST(SUM(p.freq) AS BIGINT) AS c
                FROM (
                    SELECT unnest([struct_pack(a := syms[i], b := syms[i+1],
                                               freq := freq)
                                   for i in generate_series(1, len(syms) - 1)]) AS p
                    FROM (
                        SELECT str_split(trim(x.ws, '|'), '||') AS syms,
                               x.freq AS freq
                        FROM unnest(s.vocab) AS t(x)
                    )
                    WHERE len(syms) >= 2
                )
                GROUP BY p.a, p.b
                ORDER BY c DESC, a ASC, b ASC
                LIMIT 1
            ) nxt
            WHERE s.merge_rank < {n}
        )"""


def ext_bpe_merges_oracle() -> str:
    return f"""
        WITH RECURSIVE {_bpe_cte_sql()}
        SELECT CAST(merge_rank AS INTEGER) AS merge_rank,
               l AS "left", r AS "right", pair_count
        FROM bpe WHERE merge_rank >= 1
    """


def _bpe_count_udf(merges: list[tuple[str, str]]):
    """Arrow-batched per-doc subword counter under a frozen merge list —
    classic BPE encode (chars, then each merge applied greedily in rank
    order), counting symbols. The merge list rides the closure as plain
    strings (it IS the model, a few dozen pairs — never a package symbol,
    per the round-3 worker-pickling rule). Shared by the serve operator
    (`ext_tokenizer_apply`) and the fertility audit
    (`ext_tokenizer_fertility`)."""
    import pandas as pd

    pairs = [(str(a), str(b)) for a, b in merges]

    @F.pandas_udf("long")
    def bpe_count(words_s):
        # per-task memo: natural text repeats word TYPES heavily, so encode
        # each distinct word once per task instead of once per occurrence
        # (guide §4.5 heavyweight-state discipline applied to the encode
        # itself; measured ~3× on the serve/sweep ids — the token count of
        # a word is a pure function of the frozen merge list)
        memo: dict = {}

        def encode_len(word):
            n = memo.get(word)
            if n is not None:
                return n
            syms = list(word)
            for a, b in pairs:
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            memo[word] = len(syms)
            return memo[word]

        return pd.Series(
            [sum(encode_len(w) for w in words) for words in words_s]
        )

    return bpe_count


def ext_tokenizer_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE the learned tokenizer: encode every document with the
    ``_bpe_learn`` merge table (classic BPE encode — chars, then each merge
    applied in rank order) and report the per-doc subword count next to the
    whitespace-token count. The train→serve composition mirrors
    k-means→SemDeDup: model learned by the iterative loop, applied in one
    distributed narrow pass (merge list rides the closure — it is the
    model, a few dozen strings; corpus never leaves executors).

    Oracle-backed: the recursive BPE CTE (``_bpe_cte_sql``) re-derives the
    merge table, a second recursive CTE encodes each DISTINCT word by
    applying the merges in rank order (one delimiter-string ``replace``
    per rank), and per-doc counts join tokens to encoded lengths — plus an
    encode-equality test vs a pure-python reference.
    """
    merges = [(m[1], m[2]) for m in _bpe_learn(spark, sf_dir)]
    bpe_count = _bpe_count_udf(merges)
    docs = tables.load(spark, sf_dir, "documents", fan=True)
    toks = tokens_col("text")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens_ws"),
        bpe_count(toks).alias("n_tokens_bpe"),
    ).withColumn(
        "compression",
        F.round(
            F.col("n_tokens_bpe") / F.greatest(F.col("n_tokens_ws"), F.lit(1)), 6
        ),
    )


def ext_tokenizer_apply_oracle() -> str:
    return f"""
        WITH RECURSIVE {_bpe_cte_sql()},
        words AS (
            SELECT DISTINCT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS w
            FROM documents
        ),
        enc AS (
            SELECT w, 0 AS rk,
                   '|' || array_to_string(
                       [substr(w, i, 1) for i in generate_series(1, length(w))],
                       '||') || '|' AS s
            FROM words
            UNION ALL
            SELECT e.w, e.rk + 1,
                   replace(e.s, '|' || m.l || '||' || m.r || '|',
                                '|' || m.l || m.r || '|')
            FROM enc e JOIN bpe m ON m.merge_rank = e.rk + 1
        ),
        enc_len AS (
            SELECT w, CAST(len(str_split(trim(s, '|'), '||')) AS BIGINT) AS n_sub
            FROM enc WHERE rk = (SELECT MAX(merge_rank) FROM bpe)
        ),
        doc_tokens AS (
            SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS w
            FROM documents
        ),
        per_doc AS (
            SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens_ws,
                   CAST(SUM(e.n_sub) AS BIGINT) AS n_tokens_bpe
            FROM doc_tokens t JOIN enc_len e USING (w)
            GROUP BY t.doc_id
        )
        SELECT d.doc_id,
               COALESCE(p.n_tokens_ws, 0) AS n_tokens_ws,
               COALESCE(p.n_tokens_bpe, 0) AS n_tokens_bpe,
               ROUND(COALESCE(p.n_tokens_bpe, 0)
                     / GREATEST(COALESCE(p.n_tokens_ws, 0), 1), 6) AS compression
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """


def ext_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer audit under the learned BPE merges: fertility
    (subword tokens per word) and characters-per-token — the standard
    multilingual tokenizer-quality reading (a language whose fertility sits
    far above the rest is under-served by the shared vocabulary; the
    metric the XLM-R / BLOOM tokenizer analyses report per language).
    Completes the tokenizer lifecycle train (`ext_bpe_merges`) → serve
    (`ext_tokenizer_apply`) → AUDIT, the same arc as the quality filter's
    fit → calibrate → threshold → PSI.

    Plan: one narrow corpus pass computes per-doc word/char/subword counts
    (words and chars as native HOFs, subwords via the shared Arrow
    ``_bpe_count_udf`` kernel), then a languages-sized groupBy. Cross-engine
    determinism: per-lang SUMs of BIGINT counts (order-independent), then
    ONE IEEE-exact division each, 6dp. Languages with zero extracted words
    are omitted on both engines (and with ≥1 word every divisor is > 0 —
    each word encodes to ≥ 1 symbol)."""
    merges = [(m[1], m[2]) for m in _bpe_learn(spark, sf_dir)]
    docs = tables.load(spark, sf_dir, "documents", fan=True)
    return fertility_by_lang(docs, merges)


def fertility_by_lang(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Per-language ``n_words, n_tokens_bpe, n_chars, fertility,
    chars_per_token`` of a ``lang, text`` frame under a frozen merge list
    — the body of ``ext_tokenizer_fertility`` and of its streaming
    reading (``streaming.corpus.fertility_batch``)."""
    bpe_count = _bpe_count_udf(merges)
    toks = tokens_col("text")
    per = docs.select(
        "lang",
        F.size(toks).cast("long").alias("nw"),
        F.aggregate(
            F.transform(toks, lambda s: F.length(s).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("nc"),
        bpe_count(toks).alias("nb"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.sum("nw").cast("long").alias("n_words"),
            F.sum("nb").cast("long").alias("n_tokens_bpe"),
            F.sum("nc").cast("long").alias("n_chars"),
        )
        .where(F.col("n_words") > 0)
        .select(
            "lang",
            "n_words",
            "n_tokens_bpe",
            "n_chars",
            F.round(
                F.col("n_tokens_bpe") / F.col("n_words").cast("double"), 6
            ).alias("fertility"),
            F.round(
                F.col("n_chars") / F.col("n_tokens_bpe").cast("double"), 6
            ).alias("chars_per_token"),
        )
    )


def ext_tokenizer_fertility_oracle() -> str:
    return f"""
        WITH RECURSIVE {_bpe_cte_sql()},
        words AS (
            SELECT DISTINCT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS w
            FROM documents
        ),
        enc AS (
            SELECT w, 0 AS rk,
                   '|' || array_to_string(
                       [substr(w, i, 1) for i in generate_series(1, length(w))],
                       '||') || '|' AS s
            FROM words
            UNION ALL
            SELECT e.w, e.rk + 1,
                   replace(e.s, '|' || m.l || '||' || m.r || '|',
                                '|' || m.l || m.r || '|')
            FROM enc e JOIN bpe m ON m.merge_rank = e.rk + 1
        ),
        enc_len AS (
            SELECT w, CAST(len(str_split(trim(s, '|'), '||')) AS BIGINT) AS n_sub
            FROM enc WHERE rk = (SELECT MAX(merge_rank) FROM bpe)
        ),
        doc_tokens AS (
            SELECT lang, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS w
            FROM documents
        ),
        per AS (
            SELECT t.lang,
                   CAST(COUNT(*) AS BIGINT) AS n_words,
                   CAST(SUM(e.n_sub) AS BIGINT) AS n_tokens_bpe,
                   CAST(SUM(length(t.w)) AS BIGINT) AS n_chars
            FROM doc_tokens t JOIN enc_len e USING (w)
            GROUP BY t.lang
        )
        SELECT lang, n_words, n_tokens_bpe, n_chars,
               ROUND(n_tokens_bpe / CAST(n_words AS DOUBLE), 6) AS fertility,
               ROUND(n_chars / CAST(n_tokens_bpe AS DOUBLE), 6) AS chars_per_token
        FROM per
    """


BPE_SWEEP_KS = (2, 4, 8)  # merge-count ablation points (≤ BPE_N_MERGES)


def ext_bpe_vocab_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocab-size ablation of the learned tokenizer: fertility and
    chars-per-token at several merge-count prefixes of ONE BPE fit — the
    curve a tokenizer team reads to pick the vocabulary size before the
    expensive full train (diminishing compression returns per added
    merge). BPE merge lists are prefix-nested (the first k merges of an
    N-merge fit ARE the k-merge fit), so one cached fit serves every
    ablation point.

    Plan (optimization round 13, guide §2.3/§4): ONE corpus scan reduces
    to the (word, tf) TYPE frame (tokenize+explode+groupBy, all JVM);
    the per-ablation-point encode kernels then run over the VOCAB-sized
    type frame only, and every total is a tf-weighted sum —
    Σ_occurrences len_k(w) ≡ Σ_types tf(w)·len_k(w) exactly (integer),
    n_words ≡ Σ tf, n_chars ≡ Σ tf·length(w). The corpus never crosses
    the Python boundary at all (the old shape shipped every document's
    full token array through Arrow once per ablation point); the python
    work drops from O(occurrences × points) to O(types × points). One
    global agg, then a KS-sized literal union — corpus cost is a single
    JVM pass regardless of how many points the sweep reads. Oracle
    unchanged: it already encodes DISTINCT words and joins tf back —
    this is the same program. The recursive BPE CTE
    retains every intermediate rank's state, so the encode CTE read AT
    rank k is exactly the k-merge tokenizer — the ablation replays from
    the same program as training, no second fit. Determinism: BIGINT
    sums, one IEEE-exact division per rate, 6dp.

    Points with k > the number of learned merges are omitted on both
    engines (the recursion stops when no pair repeats) — including the
    degenerate zero-merge fit (no repeated symbol pair anywhere), where
    both engines return an empty sweep (round-9 ADVICE: the Spark side
    used to raise on rows[0] while the oracle returned no rows)."""
    merges = [(m[1], m[2]) for m in _bpe_learn(spark, sf_dir)]
    ks = [k for k in BPE_SWEEP_KS if k <= len(merges)]
    if not ks:
        return spark.createDataFrame(
            [],
            "n_merges int, n_words long, n_tokens_bpe long, "
            "fertility double, chars_per_token double",
        )
    docs = tables.load(spark, sf_dir, "documents", fan=True)
    tf = (
        docs.select(F.explode(tokens_col("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    enc = tf.select(
        "tf",
        F.length("w").cast("long").alias("wlen"),
        *[
            _bpe_count_udf(merges[:k])(F.array(F.col("w"))).alias(f"len{k}")
            for k in ks
        ],
    )
    # tot feeds one union branch PER ablation point — uncheckpointed, the
    # whole corpus pass + every encode kernel re-executed once per point
    # (plan showed the full subtree ×|ks| under the Union). The frame is
    # ONE row; materialize it and the union branches read that row.
    tot = enc.agg(
        F.sum("tf").cast("long").alias("n_words"),
        F.sum(F.col("tf") * F.col("wlen")).cast("long").alias("n_chars"),
        *[
            F.sum(F.col("tf") * F.col(f"len{k}")).cast("long").alias(f"nb{k}")
            for k in ks
        ],
    ).localCheckpoint(eager=False)
    rows = [
        tot.select(
            F.lit(k).cast("int").alias("n_merges"),
            "n_words",
            F.col(f"nb{k}").alias("n_tokens_bpe"),
            F.round(F.col(f"nb{k}") / F.col("n_words").cast("double"), 6).alias(
                "fertility"
            ),
            F.round(F.col("n_chars") / F.col(f"nb{k}").cast("double"), 6).alias(
                "chars_per_token"
            ),
        )
        for k in ks
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def ext_bpe_vocab_sweep_oracle() -> str:
    ks = ", ".join(str(k) for k in BPE_SWEEP_KS)
    return f"""
        WITH RECURSIVE {_bpe_cte_sql()},
        words AS (
            SELECT DISTINCT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS w
            FROM documents
        ),
        enc AS (
            SELECT w, 0 AS rk,
                   '|' || array_to_string(
                       [substr(w, i, 1) for i in generate_series(1, length(w))],
                       '||') || '|' AS s
            FROM words
            UNION ALL
            SELECT e.w, e.rk + 1,
                   replace(e.s, '|' || m.l || '||' || m.r || '|',
                                '|' || m.l || m.r || '|')
            FROM enc e JOIN bpe m ON m.merge_rank = e.rk + 1
        ),
        enc_len AS (
            SELECT w, rk, CAST(len(str_split(trim(s, '|'), '||')) AS BIGINT) AS n_sub
            FROM enc WHERE rk IN ({ks})
        ),
        doc_tokens AS (
            SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS w
            FROM documents
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
                   CAST(SUM(length(w)) AS BIGINT) AS n_chars
            FROM doc_tokens
        ),
        per_k AS (
            SELECT e.rk AS n_merges,
                   CAST(SUM(e.n_sub) AS BIGINT) AS n_tokens_bpe
            FROM doc_tokens t JOIN enc_len e USING (w)
            GROUP BY e.rk
        )
        SELECT CAST(n_merges AS INTEGER) AS n_merges,
               n_words,
               n_tokens_bpe,
               ROUND(n_tokens_bpe / CAST(n_words AS DOUBLE), 6) AS fertility,
               ROUND(n_chars / CAST(n_tokens_bpe AS DOUBLE), 6) AS chars_per_token
        FROM per_k CROSS JOIN tot
    """


def _bpe_learn_train(spark: SparkSession, sf_dir: str) -> list:
    """The merge loop fit on the TRAIN+VAL hash split only (the held-out
    'test' split never touches training) — the model the OOV audit
    evaluates. Cached like `_bpe_learn` under its own tag."""
    from .sampling import split_assignment

    return cache.cached(
        spark,
        sf_dir,
        ("documents",),
        "bpe-learn-train-split",
        lambda: _bpe_learn_build(
            spark, sf_dir, docs_filter=split_assignment("doc_id") != "test"
        ),
    )


def ext_tokenizer_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out OOV / coverage audit of the learned BPE vocabulary — the
    last check a tokenizer pipeline runs before freezing (round-8 verdict
    #5): fit the merges on the train+val hash split ONLY, then read how
    the UNSEEN 'test' split tokenizes under them, per language.

    Three readings per language over held-out word occurrences:

    - ``new_word_rate`` — occurrences whose word TYPE never appears in the
      training split (word-level OOV; pairs with `ext_vocab_coverage`'s
      top-K occurrence coverage).
    - ``oov_char_rate`` — character occurrences outside the training
      alphabet. With character-level BPE these are exactly the symbols the
      trained vocab cannot represent: a base char seen in training is in
      the vocab, every merge product is in the vocab, and an unseen char
      survives encoding as an out-of-vocab singleton. This is the true
      "cannot encode" rate.
    - ``fertility_heldout`` — subwords per word under the train-fit
      merges; read against `ext_tokenizer_fertility`'s whole-corpus fit to
      see generalization cost.

    Plan (the vocab-sized discipline of the BPE family): the held-out
    corpus collapses to a (lang, word, tf) frame in one pass; each
    DISTINCT held-out word is encoded ONCE by the shared Arrow kernel and
    its char/OOV-char counts come from a words×chars explode joined
    against the (≤ alphabet-sized, broadcast) training alphabet; the
    training word-type set joins vocab-to-vocab. Nothing downstream of
    the two corpus scans tracks corpus size. Cross-engine determinism:
    BIGINT sums, one IEEE-exact division per rate, 6dp.

    Oracle: the SAME recursive BPE CTE program (`_bpe_cte_sql`) trained on
    the split subquery, the serve CTE from `ext_tokenizer_apply_oracle`
    restricted to held-out distinct words, and the split CASE shared with
    `ext_sample_split` — the audit can never drift from the model or the
    split it claims to audit.
    """
    from .sampling import split_assignment

    merges = _bpe_learn_train(spark, sf_dir)
    bpe_count = _bpe_count_udf([(m[1], m[2]) for m in merges])
    docs = tables.load(spark, sf_dir, "documents", fan=True).select(
        "lang", split_assignment("doc_id").alias("split"), "text"
    )
    # optimization round 13 (guide §2.3/§2.4): `held` feeds two branches
    # (the distinct-word encode frame + the final per-lang fold) and
    # `train_words` feeds two more (alphabet derivation + the known-word
    # join) — uncheckpointed, each branch re-ran the full corpus
    # tokenize+explode+agg subtree, putting FIVE documents scans in one
    # plan. Further: held and train_words each tokenized the corpus once
    # (two semantic passes); ONE labeled aggregation — keyed
    # (is_test, lang, w) — now feeds both, so the corpus is tokenized,
    # exploded and shuffled exactly once, and both frames are vocab-sized
    # cuts of the one materialization. held ≡ the test-side rows (lang is
    # per-doc, so grouping by it costs nothing on the test side);
    # train_words ≡ distinct w over the non-test rows (a vocab-sized
    # distinct, not a corpus pass).
    by_split = (
        docs.select(
            (F.col("split") == "test").alias("is_test"),
            "lang",
            F.explode(tokens_col("text")).alias("w"),
        )
        .groupBy("is_test", "lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .localCheckpoint(eager=False)
    )
    held = by_split.where(F.col("is_test")).select("lang", "w", "tf")
    train_words = (
        by_split.where(~F.col("is_test")).select("w").distinct()
    )
    train_chars = (
        train_words.select(F.explode(F.split("w", "")).alias("ch")).distinct()
    )
    dwords = held.select("w").distinct().select(
        "w",
        F.length("w").cast("long").alias("nc"),
        bpe_count(F.array(F.col("w"))).alias("n_sub"),
    )
    woov = (
        dwords.select("w", F.explode(F.split("w", "")).alias("ch"))
        .join(
            F.broadcast(train_chars.withColumn("seen", F.lit(True))), "ch", "left"
        )
        .groupBy("w")
        .agg(
            F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov_chars")
        )
    )
    feats = dwords.join(woov, "w").join(
        train_words.withColumn("known", F.lit(True)), "w", "left"
    )
    per = held.join(feats, "w").groupBy("lang").agg(
        F.sum("tf").cast("long").alias("n_words"),
        F.sum(F.when(F.col("known").isNull(), F.col("tf")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_new_words"),
        F.sum(F.col("tf") * F.col("nc")).cast("long").alias("n_chars"),
        F.sum(F.col("tf") * F.col("n_oov_chars")).cast("long").alias("n_oov_chars"),
        F.sum(F.col("tf") * F.col("n_sub")).cast("long").alias("n_tokens_bpe"),
    )
    return per.select(
        "lang",
        "n_words",
        "n_new_words",
        F.round(F.col("n_new_words") / F.col("n_words").cast("double"), 6).alias(
            "new_word_rate"
        ),
        "n_chars",
        "n_oov_chars",
        F.round(F.col("n_oov_chars") / F.col("n_chars").cast("double"), 6).alias(
            "oov_char_rate"
        ),
        "n_tokens_bpe",
        F.round(F.col("n_tokens_bpe") / F.col("n_words").cast("double"), 6).alias(
            "fertility_heldout"
        ),
    )


def ext_tokenizer_oov_oracle() -> str:
    from .sampling import TRAIN_PCT, VAL_PCT, _oracle_key_hash

    h = _oracle_key_hash("doc_id")
    cut = TRAIN_PCT + VAL_PCT
    train_src = f"(SELECT * FROM documents WHERE {h} % 100 < {cut})"
    return f"""
        WITH RECURSIVE {_bpe_cte_sql(src=train_src)},
        held AS (
            SELECT lang, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS w
            FROM documents WHERE {h} % 100 >= {cut}
        ),
        hw AS (
            SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS tf
            FROM held GROUP BY lang, w
        ),
        dwords AS (SELECT DISTINCT w FROM hw),
        enc AS (
            SELECT w, 0 AS rk,
                   '|' || array_to_string(
                       [substr(w, i, 1) for i in generate_series(1, length(w))],
                       '||') || '|' AS s
            FROM dwords
            UNION ALL
            SELECT e.w, e.rk + 1,
                   replace(e.s, '|' || m.l || '||' || m.r || '|',
                                '|' || m.l || m.r || '|')
            FROM enc e JOIN bpe m ON m.merge_rank = e.rk + 1
        ),
        enc_len AS (
            SELECT w, CAST(len(str_split(trim(s, '|'), '||')) AS BIGINT) AS n_sub
            FROM enc WHERE rk = (SELECT MAX(merge_rank) FROM bpe)
        ),
        tr_words AS (
            SELECT DISTINCT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS w
            FROM documents WHERE {h} % 100 < {cut}
        ),
        tr_chars AS (
            SELECT DISTINCT unnest(
                [substr(w, i, 1) for i in generate_series(1, length(w))]) AS ch
            FROM tr_words
        ),
        wchars AS (
            SELECT w, unnest(
                [substr(w, i, 1) for i in generate_series(1, length(w))]) AS ch
            FROM dwords
        ),
        woov AS (
            SELECT wc.w,
                   CAST(COUNT(*) FILTER (WHERE tc.ch IS NULL) AS BIGINT)
                       AS n_oov_chars
            FROM wchars wc LEFT JOIN tr_chars tc USING (ch)
            GROUP BY wc.w
        ),
        feats AS (
            SELECT d.w, CAST(length(d.w) AS BIGINT) AS nc, e.n_sub,
                   o.n_oov_chars, tw.w IS NOT NULL AS known
            FROM dwords d
            JOIN enc_len e USING (w)
            JOIN woov o USING (w)
            LEFT JOIN tr_words tw USING (w)
        ),
        per AS (
            SELECT h.lang,
                   CAST(SUM(h.tf) AS BIGINT) AS n_words,
                   CAST(SUM(CASE WHEN NOT f.known THEN h.tf ELSE 0 END) AS BIGINT)
                       AS n_new_words,
                   CAST(SUM(h.tf * f.nc) AS BIGINT) AS n_chars,
                   CAST(SUM(h.tf * f.n_oov_chars) AS BIGINT) AS n_oov_chars,
                   CAST(SUM(h.tf * f.n_sub) AS BIGINT) AS n_tokens_bpe
            FROM hw h JOIN feats f USING (w)
            GROUP BY h.lang
        )
        SELECT lang, n_words, n_new_words,
               ROUND(n_new_words / CAST(n_words AS DOUBLE), 6) AS new_word_rate,
               n_chars, n_oov_chars,
               ROUND(n_oov_chars / CAST(n_chars AS DOUBLE), 6) AS oov_char_rate,
               n_tokens_bpe,
               ROUND(n_tokens_bpe / CAST(n_words AS DOUBLE), 6)
                   AS fertility_heldout
        FROM per
    """


# ---------------------------------------------------------------------------
# trained quality classifier (deterministic full-batch gradient descent)
# ---------------------------------------------------------------------------

QC_ITERS = 8    # full-batch GD steps (state: 5 weights, driver-side scalars)
QC_LR = 0.5     # step size — smooth descent with the O(1)-scaled features
QC_SCALE = 1_000_000_000.0  # per-row gradient quantization: BIGINT nano-units

QC_EN_STOPWORDS = LANG_STOPWORDS["en"]


def _qc_features(docs: DataFrame, keep: tuple = ()) -> DataFrame:
    """(doc_id, *keep, y, x1..x4): the surface-feature frame for the
    classifier — en-stopword ratio (×10), mean token length (/10),
    type-token ratio, and √tokens (/10), all deliberately scaled to O(1)
    so no single feature dominates the unnormalized gradient (the raw
    mean-token-length feature at ~4.5 made full-batch GD oscillate;
    measured). ``keep`` passes document columns through untouched — the
    streaming gate needs the full row alongside its decision.

    Every feature is ROUNDED at 6dp at construction so both engines carry
    identical doubles into training, and no transcendental appears
    anywhere (sqrt is IEEE-exact; log/exp are NOT cross-libm-reproducible,
    which is why the link function below is rational, not logistic).
    """
    toks = tokens_col("text")
    nt = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: t.isin(*QC_EN_STOPWORDS)))
    return docs.select(
        "doc_id",
        *keep,
        F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
        F.round(
            F.lit(10.0) * hits.cast("double") / F.greatest(nt, F.lit(1)), 6
        ).alias("x1"),
        F.round(
            F.length(F.array_join(toks, "")).cast("double")
            / F.greatest(nt, F.lit(1))
            / F.lit(10.0),
            6,
        ).alias("x2"),
        F.round(
            F.size(F.array_distinct(toks)).cast("double") / F.greatest(nt, F.lit(1)),
            6,
        ).alias("x3"),
        F.round(F.sqrt(nt.cast("double")) / F.lit(10.0), 6).alias("x4"),
    )


def _qc_sigma(z):
    """Rational squashing link σ̃(z) = 0.5 + z / (2·(1+|z|)) — the 'fast
    sigmoid'. Algebraic ops only (+, ·, /, abs), all IEEE-exact-rounded,
    so σ̃ is bit-identical on every engine; a logistic exp() is not."""
    return F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))


def ext_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED quality/language filter: a linear classifier fit by
    full-batch gradient descent on surface features, then applied to score
    every document — the GPT-3/CCNet pattern (classify "curated-like" text,
    here lang='en', from cheap features; keep/weight by score).

    Determinism contract (the k-means/BPE lineage, hardened further):

    - features rounded 6dp at construction;
    - the link is RATIONAL (no exp — libm-dependent), see `_qc_sigma`;
    - each per-row gradient term is quantized to a BIGINT nano-unit
      before summation, so the full-batch gradient is an ORDER-INDEPENDENT
      integer sum — no float-accumulation drift at any partitioning;
    - weights update in double from exact integers (< 2^53) and round 6dp
      per step, so the whole 8-step fit replays bit-identically in the
      DuckDB recursive CTE.

    Scale: the feature pass is one narrow map; each GD step is one
    map-side-combinable 5-column integer SUM (a treeAggregate shape);
    driver state is 5 scalars per step. Serving is another narrow map.
    The nano-quantization bounds |Σ| ≤ rows·~1e10, fine to ~10⁸ rows per
    sum; beyond that the production move is per-partition partial sums
    re-quantized hierarchically (same contract, one more level).

    Fixture honesty note: the synthetic corpus's ``lang`` column is
    near-independent of its text (non-en stopwords never occur; measured
    en-ratio 0.0600 vs 0.0636 across labels), so fixture accuracy sits at
    the majority rate — the driver id gates the deterministic FIT, while
    learnability is pinned by the crafted separable corpus in
    tests/test_text.py (accuracy ≥ 0.9 there).
    """
    feats, n, w = _qc_fit_cached(spark, sf_dir)
    if n == 0:
        return spark.createDataFrame(
            [], "doc_id long, label long, score double, pred boolean"
        )
    return quality_classifier_score(feats, w)


def quality_classifier_fit_apply(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Fit + apply over any (doc_id, lang, text) frame — the testable core
    of `ext_quality_classifier` (the crafted-corpus learnability test
    drives a separable corpus through this)."""
    feats = _qc_features(docs).localCheckpoint(eager=True)
    n = feats.count()
    if n == 0:
        return spark.createDataFrame(
            [], "doc_id long, label long, score double, pred boolean"
        )
    w = quality_classifier_fit(feats, n)
    return quality_classifier_score(feats, w)


def _qc_fit_cached(spark: SparkSession, sf_dir: str):
    """(checkpointed feature frame, n, weights) for the documents table,
    fit ONCE (see `cache`) — THREE driver ids
    consume the identical deterministic fit (`ext_quality_classifier`,
    `ext_quality_calibration`, `ext_quality_threshold`), and without the
    cache each re-runs the 8-collect GD loop (~1.5 s at sf0.1) on a model
    that cannot change while the dataset doesn't (the
    `_jaccard_pairs_cache` discipline). The crafted-corpus tests keep
    driving `quality_classifier_fit_apply` directly — arbitrary frames
    never enter this cache."""

    def _build():
        feats = _qc_features(
            tables.load(spark, sf_dir, "documents")
        ).localCheckpoint(eager=True)
        n = feats.count()
        w = quality_classifier_fit(feats, n) if n else [0.0] * 5
        return feats, n, w

    return cache.cached(spark, sf_dir, ("documents",), "qc-fit", _build)


def quality_classifier_fit(feats: DataFrame, n: int) -> list[float]:
    """The GD loop alone: 8 integer-gradient steps over a (materialized)
    feature frame → the 5 learned weights. Factored so the weights can be
    served elsewhere — notably onto a STREAM (train offline, score
    online: `streaming.corpus.quality_score_stream`)."""
    w = [0.0] * 5
    xs = [F.lit(1.0), F.col("x1"), F.col("x2"), F.col("x3"), F.col("x4")]
    for _ in range(QC_ITERS):
        z = F.lit(w[0]) + F.lit(w[1]) * xs[1] + F.lit(w[2]) * xs[2] \
            + F.lit(w[3]) * xs[3] + F.lit(w[4]) * xs[4]
        r = _qc_sigma(z) - F.col("y")
        sums = feats.agg(
            *[
                F.sum(F.round(r * xs[k] * F.lit(QC_SCALE), 0).cast("long")).alias(
                    f"s{k}"
                )
                for k in range(5)
            ]
        ).collect()[0]
        w = [
            round(w[k] - QC_LR * (float(sums[f"s{k}"]) / QC_SCALE / float(n)), 6)
            for k in range(5)
        ]
    return w


def quality_score_col(w: list[float]):
    """The frozen-weight 6dp score as a single Column over the (x1..x4)
    feature columns — shared by the batch scorer and the streaming
    serve/gate twins so no consumer can restate the link differently."""
    z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2") \
        + F.lit(w[3]) * F.col("x3") + F.lit(w[4]) * F.col("x4")
    return F.round(_qc_sigma(z), 6)


def quality_classifier_score(feats: DataFrame, w: list[float]) -> DataFrame:
    """Serve frozen weights over any feature frame — a pure narrow map, so
    it applies unchanged to BATCH and STREAMING frames."""
    return feats.select(
        "doc_id",
        F.col("y").cast("long").alias("label"),
        quality_score_col(w).alias("score"),
    ).select("doc_id", "label", "score", (F.col("score") >= 0.5).alias("pred"))


def _qc_sql_feats() -> str:
    sw = ", ".join(f"'{s}'" for s in QC_EN_STOPWORDS)
    return f"""feats AS (
            SELECT doc_id,
                   CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                   ROUND(10.0 * CAST(len(list_filter(t, x -> x IN ({sw}))) AS DOUBLE)
                         / GREATEST(len(t), 1), 6) AS x1,
                   ROUND(CAST(length(list_aggregate(
                             CASE WHEN len(t) = 0 THEN ['']::VARCHAR[] ELSE t END,
                             'string_agg', '')) AS DOUBLE)
                         / GREATEST(len(t), 1) / 10.0, 6) AS x2,
                   ROUND(CAST(len(list_distinct(t)) AS DOUBLE)
                         / GREATEST(len(t), 1), 6) AS x3,
                   ROUND(sqrt(CAST(len(t) AS DOUBLE)) / 10.0, 6) AS x4
            FROM (SELECT doc_id, lang, text,
                         regexp_extract_all(lower(text), '{TOKEN_RE}') AS t
                  FROM documents)
        )"""


def _qc_sql_fit_ctes() -> str:
    """The full feats → fit → final → scored CTE chain replaying the GD
    fit — shared by the classifier oracle and the calibration oracle (the
    composed-oracle pattern: consumers of the model can never drift from
    the fit)."""
    sig = "(0.5 + {z} / (2.0 * (1.0 + abs({z}))))"
    zw = "f.w[1] + f.w[2] * x1 + f.w[3] * x2 + f.w[4] * x3 + f.w[5] * x4"
    xs = ["1.0", "x1", "x2", "x3", "x4"]
    sum_terms = ", ".join(
        f"SUM(CAST(ROUND(({sig.format(z='z')} - y) * {xs[k]} * {QC_SCALE}, 0) AS BIGINT)) AS s{k}"
        for k in range(5)
    )
    upd = ", ".join(
        f"ROUND(f.w[{k + 1}] - {QC_LR} * (CAST(s{k} AS DOUBLE) / {QC_SCALE}"
        f" / (SELECT n FROM nn)), 6)"
        for k in range(5)
    )
    zf = "fw[1] + fw[2] * x1 + fw[3] * x2 + fw[4] * x3 + fw[5] * x4"
    return f"""{_qc_sql_feats()},
        nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM feats),
        fit AS (
            SELECT 0 AS iter, [0.0, 0.0, 0.0, 0.0, 0.0]::DOUBLE[] AS w
            UNION ALL
            SELECT f.iter + 1, nxt.w
            FROM fit f, LATERAL (
                SELECT [{upd}] AS w
                FROM (
                    SELECT {sum_terms}
                    FROM (SELECT y, x1, x2, x3, x4, {zw} AS z FROM feats)
                )
            ) nxt
            WHERE f.iter < {QC_ITERS}
        ),
        final AS (SELECT w AS fw FROM fit WHERE iter = {QC_ITERS}),
        scored AS (
            SELECT doc_id, CAST(y AS BIGINT) AS label,
                   ROUND({sig.format(z=f'({zf})')}, 6) AS score
            FROM feats, final
        )"""


def ext_quality_classifier_oracle() -> str:
    return f"""
        WITH RECURSIVE {_qc_sql_fit_ctes()}
        SELECT doc_id, label, score, score >= 0.5 AS pred FROM scored
    """


QC_CAL_BINS = 10


def ext_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the trained filter: bucket the classifier's
    scores into QC_CAL_BINS equal-width bins and compare each bin's mean
    predicted score against its observed positive rate — the calibration
    audit (Guo et al. 2017) a pipeline runs before using filter scores as
    sampling WEIGHTS rather than a hard threshold (miscalibrated scores
    silently skew the corpus mixture).

    Exactness: scores are 6dp-rounded, so `score·1e6` recovers an integer
    and the per-bin mean is an ORDER-INDEPENDENT BIGINT sum divided once —
    no float accumulation; `cal_gap` is computed from the two ROUNDED
    aggregates. One extra tiny agg after the serving pass; the fit itself
    comes from the shared `_qc_fit_cached` frame (round 7).
    """
    feats, n, w = _qc_fit_cached(spark, sf_dir)
    if n == 0:
        return spark.createDataFrame(
            [], "bin int, n long, mean_score double, frac_positive double, cal_gap double"
        )
    scored = quality_classifier_score(feats, w)
    bin_col = F.least(
        F.floor(F.col("score") * QC_CAL_BINS).cast("int"),
        F.lit(QC_CAL_BINS - 1),
    )
    s_units = F.round(F.col("score") * F.lit(1_000_000.0), 0).cast("long")
    agg = (
        scored.select(bin_col.alias("bin"), s_units.alias("su"), "label")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("su").alias("ssum"),
            F.sum("label").cast("long").alias("pos"),
        )
    )
    mean_score = F.round(
        F.col("ssum").cast("double") / F.lit(1_000_000.0) / F.col("n").cast("double"),
        6,
    )
    frac_pos = F.round(F.col("pos").cast("double") / F.col("n").cast("double"), 6)
    out = agg.select("bin", "n", mean_score.alias("mean_score"), frac_pos.alias("frac_positive"))
    return out.select(
        "bin", "n", "mean_score", "frac_positive",
        F.round(F.col("mean_score") - F.col("frac_positive"), 6).alias("cal_gap"),
    )


QC_THRESH_TARGETS = ((1, 2), (7, 10), (9, 10))  # precision targets as
# exact rationals — the qualifying test cross-multiplies in BIGINT, so no
# float compare ever decides an operating point


def ext_quality_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point selection for the trained filter — the decision a
    curation pipeline actually ships (round-6 verdict #6): for each target
    precision, choose the MOST PERMISSIVE score threshold whose kept set
    {score ≥ t} still meets the target (i.e. maximize kept fraction
    subject to precision ≥ target), and report the realized numbers.
    Targets that no threshold attains surface as NULL rows rather than
    disappearing — the audit must show what the filter cannot do.

    Exactness: scores are 6dp-rounded, so candidate thresholds are the ≤
    10⁶+1 distinct integer score units; cumulative kept/positive counts
    are BIGINT window sums over that constant-bounded frame, and the
    qualifying test ``pos_kept·den ≥ kept·num`` is an integer
    cross-multiplication — the whole selection replays exactly in SQL
    composed onto the shared fit CTEs (`_qc_sql_fit_ctes`), so the
    operating point can never drift from the model it gates.

    Scale: one (su) groupBy over the scored corpus, then every frame is
    bounded by the 6dp score domain (≤ 1M rows) regardless of corpus
    size; the descending cumulative runs on that bounded frame (single
    partition by construction — documented constant, not a data-sized
    sort). The fit comes from the shared `_qc_fit_cached` frame, and the
    corpus total reuses its count (round 7).
    """
    feats, n, w = _qc_fit_cached(spark, sf_dir)
    if n == 0:
        return spark.createDataFrame(
            [],
            "target double, threshold double, kept_n long, "
            "kept_fraction double, realized_precision double",
        )
    scored = quality_classifier_score(feats, w)
    return quality_threshold_select(spark, scored, total=n)


def quality_threshold_select(
    spark: SparkSession, scored: DataFrame, total: int | None = None
) -> DataFrame:
    """The selection alone, over any (label, score) frame with 6dp scores
    — the testable core (crafted operating-curve fixtures drive this).
    ``total`` lets callers that already counted the corpus skip the extra
    job."""
    from pyspark.sql.window import Window

    su = F.round(F.col("score") * F.lit(1_000_000.0), 0).cast("long")
    g = (
        scored.select(su.alias("su"), "label")
        .groupBy("su")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("label").cast("long").alias("pos"),
        )
    )
    w = Window.orderBy(F.desc("su")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = g.select(
        "su",
        F.sum("n").over(w).cast("long").alias("kept"),
        F.sum("pos").over(w).cast("long").alias("pos_kept"),
    ).localCheckpoint(eager=True)  # score-domain-bounded; referenced twice
    if total is None:
        total = scored.count()
    targets = spark.createDataFrame(
        list(QC_THRESH_TARGETS), "tnum long, tden long"
    )
    qual = cum.crossJoin(F.broadcast(targets)).where(
        F.col("pos_kept") * F.col("tden") >= F.col("kept") * F.col("tnum")
    )
    chosen = qual.groupBy("tnum", "tden").agg(F.min("su").alias("su"))
    stats = chosen.join(cum, "su")
    return (
        targets.join(F.broadcast(stats), ["tnum", "tden"], "left")
        .select(
            F.round(F.col("tnum").cast("double") / F.col("tden"), 6).alias("target"),
            F.round(F.col("su").cast("double") / F.lit(1_000_000.0), 6).alias(
                "threshold"
            ),
            F.col("kept").alias("kept_n"),
            F.round(
                F.col("kept").cast("double") / F.lit(float(max(total, 1))), 6
            ).alias("kept_fraction"),
            F.round(
                F.col("pos_kept").cast("double") / F.col("kept").cast("double"), 6
            ).alias("realized_precision"),
        )
    )


def ext_quality_threshold_oracle() -> str:
    """Composed onto the shared fit CTEs — same scored frame, same integer
    cross-multiplied qualifying test, same most-permissive-threshold rule."""
    tgt_union = " UNION ALL ".join(
        f"SELECT CAST({n} AS BIGINT) AS tnum, CAST({d} AS BIGINT) AS tden"
        for n, d in QC_THRESH_TARGETS
    )
    return f"""
        WITH RECURSIVE {_qc_sql_fit_ctes()},
        g AS (
            SELECT CAST(ROUND(score * 1000000.0, 0) AS BIGINT) AS su,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(label) AS BIGINT) AS pos
            FROM scored GROUP BY 1
        ),
        cum AS (
            SELECT su,
                   CAST(SUM(n) OVER (ORDER BY su DESC) AS BIGINT) AS kept,
                   CAST(SUM(pos) OVER (ORDER BY su DESC) AS BIGINT) AS pos_kept
            FROM g
        ),
        tot AS (SELECT GREATEST(CAST(COUNT(*) AS DOUBLE), 1.0) AS nn FROM scored),
        targets AS ({tgt_union}),
        chosen AS (
            SELECT t.tnum, t.tden, MIN(c.su) AS su
            FROM targets t JOIN cum c
              ON c.pos_kept * t.tden >= c.kept * t.tnum
            GROUP BY t.tnum, t.tden
        )
        SELECT ROUND(CAST(t.tnum AS DOUBLE) / t.tden, 6) AS target,
               ROUND(CAST(ch.su AS DOUBLE) / 1000000.0, 6) AS threshold,
               c2.kept AS kept_n,
               ROUND(CAST(c2.kept AS DOUBLE) / (SELECT nn FROM tot), 6)
                   AS kept_fraction,
               ROUND(CAST(c2.pos_kept AS DOUBLE) / CAST(c2.kept AS DOUBLE), 6)
                   AS realized_precision
        FROM targets t
        LEFT JOIN chosen ch ON ch.tnum = t.tnum AND ch.tden = t.tden
        LEFT JOIN cum c2 ON c2.su = ch.su
    """


def ext_quality_calibration_oracle() -> str:
    b = QC_CAL_BINS
    return f"""
        WITH RECURSIVE {_qc_sql_fit_ctes()},
        binned AS (
            SELECT LEAST(CAST(FLOOR(score * {b}) AS INTEGER), {b - 1}) AS bin,
                   CAST(ROUND(score * 1000000.0, 0) AS BIGINT) AS su,
                   label
            FROM scored
        ),
        agg AS (
            SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(su) AS BIGINT) AS ssum,
                   CAST(SUM(label) AS BIGINT) AS pos
            FROM binned GROUP BY bin
        ),
        stats AS (
            SELECT bin, n,
                   ROUND(CAST(ssum AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE), 6) AS mean_score,
                   ROUND(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS frac_positive
            FROM agg
        )
        SELECT bin, n, mean_score, frac_positive,
               ROUND(mean_score - frac_positive, 6) AS cal_gap
        FROM stats
    """


# ---------------------------------------------------------------------------
# quality-filter drift monitor (round 8): PSI over the calibration bins
# ---------------------------------------------------------------------------

QC_PSI_ALERT = 0.2   # industry convention: PSI > 0.2 = significant drift
# Minimum group size for a trustworthy PSI reading: with n ≪ 20·B the
# Laplace smoothing alone inflates PSI (a 25-row source reads ~0.7 from
# the empty-bin terms — the documented round-8 caveat), so readings
# below this carry a first-class low_sample flag for alert gating
# (round-8 verdict #4) instead of a docstring warning. The per-bin rate
# is the general rule (`quality_psi_from_binned` scales it by its bins
# argument — the embedding-drift monitor runs on K cluster bins);
# QC_PSI_MIN_N is the text monitor's own B=QC_CAL_BINS instance.
QC_PSI_MIN_PER_BIN = 20
QC_PSI_MIN_N = QC_PSI_MIN_PER_BIN * QC_CAL_BINS
_PSI_LN_TERMS = 16   # artanh Horner terms — see _ln_det_expr


def _ln_det_expr(rcol: str) -> str:
    """A cross-engine DETERMINISTIC natural log of a positive double
    column, as one SQL expression valid in BOTH Spark SQL and DuckDB.

    ``ln``/``log`` are libm calls and NOT cross-libm-reproducible (the
    same trap as exp — why the classifier link is rational). This
    formulation uses only IEEE-exact-rounded ops, evaluated in the same
    structural order by both engines, so the result is bit-identical:

        s  = r^(1/16)            (4 nested sqrt — sqrt is IEEE-defined)
        z  = (s-1)/(s+1)
        ln r = 16 · 2·artanh(z) = 32·z·(c0 + z²(c1 + z²(...)))

    with c_j = 1/(2j+1) as shortest-round-trip double literals (both
    parsers are IEEE-correctly-rounded, so the literals are the same
    doubles). The 16th root compresses any ratio the smoothed PSI
    shares can produce (r ∈ [1e-12, 1e12] ⇒ |z| ≤ 0.70) into the
    series' fast-convergence zone; truncation error at 16 terms is
    < 1e-5 absolute over that whole envelope (pinned by a
    math.log-comparison test).
    """
    s = f"sqrt(sqrt(sqrt(sqrt({rcol}))))"
    h = repr(1.0 / (2 * _PSI_LN_TERMS - 1))
    for j in range(_PSI_LN_TERMS - 2, -1, -1):
        h = f"({1.0 / (2 * j + 1)!r} + z2_ * {h})"
    # z_/z2_ are projected once by the callers (same DAG both engines)
    return f"32.0 * z_ * {h}", f"(({s}) - 1.0) / (({s}) + 1.0)"


def quality_psi_from_binned(
    binned: DataFrame, fit_bin: DataFrame, fit_total: int, bins: int = QC_CAL_BINS
) -> DataFrame:
    """(grp, n, psi, drifted, low_sample) from a per-row ``(grp, bin)``
    frame and the fit-time per-bin counts ``(bin, a)`` — the testable
    core shared by the batch monitor (grp = document source) and the
    streaming twin (grp = micro-batch id). ``low_sample`` (n <
    ``QC_PSI_MIN_N``) is the round-8 verdict #4 gate: small groups read
    inflated PSI from the smoothing terms alone, so alerting should
    require ``drifted AND NOT low_sample`` — the flag makes that a
    column instead of a docstring caveat.

    PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i) with Laplace-smoothed shares
    p_i = (b_i+1)/(n_grp+B), q_i = (a_i+1)/(N_fit+B) — smoothing keeps
    empty bins finite and is standard for monitoring. Determinism: every
    count is BIGINT; ln is `_ln_det_expr` (bit-identical cross-engine);
    the per-bin contributions are quantized to BIGINT nano-units before
    the Σ, so the sum is order/partition-independent and the whole value
    is hash-gateable. The alert compares the ROUNDED psi to the
    conventional 0.2 — identical doubles on both engines, so the flag
    can't diverge either.

    Scale: one map-side-combined (grp, bin) count shuffle over the
    arriving rows; everything after runs on groups×B rows.
    """
    spark = binned.sparkSession
    grid = (
        binned.groupBy("grp")
        .agg(F.count(F.lit(1)).cast("long").alias("nb"))
        .crossJoin(
            F.broadcast(
                spark.range(bins).select(F.col("id").cast("int").alias("bin"))
            )
        )
    )
    src_bin = binned.groupBy("grp", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("b")
    )
    lnr, z = _ln_det_expr("r_")
    terms = (
        grid.join(src_bin, ["grp", "bin"], "left")
        .join(F.broadcast(fit_bin), "bin", "left")
        .withColumn(
            "p_",
            (F.coalesce(F.col("b"), F.lit(0)) + F.lit(1)).cast("double")
            / (F.col("nb") + F.lit(bins)).cast("double"),
        )
        .withColumn(
            "q_",
            (F.coalesce(F.col("a"), F.lit(0)) + F.lit(1)).cast("double")
            / F.lit(float(fit_total + bins)),
        )
        .withColumn("r_", F.col("p_") / F.col("q_"))
        .withColumn("z_", F.expr(z))
        .withColumn("z2_", F.col("z_") * F.col("z_"))
        .withColumn("contrib", (F.col("p_") - F.col("q_")) * F.expr(lnr))
        .withColumn(
            "cn", F.round(F.col("contrib") * F.lit(1_000_000_000.0), 0).cast("long")
        )
    )
    psi = F.round(
        F.sum("cn").cast("double") / F.lit(1_000_000_000.0), 6
    )
    return (
        terms.groupBy("grp", "nb")
        .agg(psi.alias("psi"))
        .select(
            "grp",
            F.col("nb").alias("n"),
            "psi",
            (F.col("psi") > F.lit(QC_PSI_ALERT)).alias("drifted"),
            (F.col("nb") < F.lit(QC_PSI_MIN_PER_BIN * bins)).alias("low_sample"),
        )
    )


def ext_quality_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability drift monitor for the trained quality filter
    (round-7 verdict #5) — the audit a DEPLOYED filter needs: is the
    score distribution a producing source sends today still the
    distribution the filter was fit (and its threshold chosen) on?

    PSI (population stability index — the standard model-monitoring
    drift statistic) between the fit-time score distribution over the
    whole corpus and each document SOURCE's arriving slice, over the
    same ``QC_CAL_BINS`` integer score-unit bins as
    `ext_quality_calibration`. Completes the filter lifecycle:
    train (`ext_quality_classifier`) → calibrate → choose operating
    point (`ext_quality_threshold`) → monitor (this) — and like the
    other consumer ids the oracle composes onto the shared fit CTEs, so
    the monitor can never drift from the model it watches. Streaming
    twin: `streaming.corpus.quality_psi_batch` (stateless per-batch
    bins against the broadcast fit baseline).

    Output: one row per source — row count, 6dp PSI, the conventional
    ``psi > 0.2`` alert flag, and the ``low_sample`` gate (round 9:
    n < ``QC_PSI_MIN_N`` — small slices read inflated PSI from the
    smoothing terms alone, so alerting composes
    ``drifted AND NOT low_sample``).
    """
    feats, n, w = _qc_fit_cached(spark, sf_dir)
    if n == 0:
        return spark.createDataFrame(
            [],
            "source string, n long, psi double, drifted boolean, low_sample boolean",
        )
    scored = quality_classifier_score(feats, w)
    bin_col = F.least(
        F.floor(F.col("score") * QC_CAL_BINS).cast("int"),
        F.lit(QC_CAL_BINS - 1),
    )
    fit_bin = scored.select(bin_col.alias("bin")).groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "source")
    binned = scored.join(docs, "doc_id").select(
        F.col("source").alias("grp"), bin_col.alias("bin")
    )
    return quality_psi_from_binned(binned, fit_bin, n).select(
        F.col("grp").alias("source"), "n", "psi", "drifted", "low_sample"
    )


def _psi_sql_exprs() -> tuple[str, str]:
    """The identical (lnr, z) expression pair for the DuckDB oracle —
    produced by the same generator, so the two engines cannot state the
    series differently."""
    return _ln_det_expr("r_")


def ext_quality_psi_oracle() -> str:
    b = QC_CAL_BINS
    lnr, z = _psi_sql_exprs()
    return f"""
        WITH RECURSIVE {_qc_sql_fit_ctes()},
        sbin AS (
            SELECT d.source AS grp,
                   LEAST(CAST(FLOOR(s.score * {b}) AS INTEGER), {b - 1}) AS bin
            FROM scored s JOIN documents d USING (doc_id)
        ),
        fit_bin AS (
            SELECT LEAST(CAST(FLOOR(score * {b}) AS INTEGER), {b - 1}) AS bin,
                   CAST(COUNT(*) AS BIGINT) AS a
            FROM scored GROUP BY 1
        ),
        na AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM scored),
        grid AS (
            SELECT t.grp, t.nb, gs.bin
            FROM (SELECT grp, CAST(COUNT(*) AS BIGINT) AS nb
                  FROM sbin GROUP BY grp) t
            CROSS JOIN (SELECT CAST(UNNEST(range({b})) AS INTEGER) AS bin) gs
        ),
        terms AS (
            SELECT g.grp, g.nb,
                   CAST(COALESCE(sb.b, 0) + 1 AS DOUBLE)
                       / CAST(g.nb + {b} AS DOUBLE) AS p_,
                   CAST(COALESCE(fb.a, 0) + 1 AS DOUBLE)
                       / CAST(na.v + {b} AS DOUBLE) AS q_,
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
        SELECT grp AS source, nb AS n,
               ROUND(CAST(SUM(cn) AS DOUBLE) / 1000000000.0, 6) AS psi,
               ROUND(CAST(SUM(cn) AS DOUBLE) / 1000000000.0, 6) > {QC_PSI_ALERT}
                   AS drifted,
               nb < {QC_PSI_MIN_N} AS low_sample
        FROM terms GROUP BY grp, nb
    """
