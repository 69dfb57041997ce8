"""Streaming twins for the corpus / LLM-pipeline operators.

A training-data pipeline is usually fed incrementally (crawl drops, shard
deliveries); the batch operators in ``operators/text.py`` / ``dedup.py``
have streaming forms whose converged state must equal the batch answer over
the same documents. The twins come in three shapes:

- stateful streaming queries — ``vocab_counts_stream`` (the (lang, token)
  frequency aggregate; state is VOCAB-sized, bounded by the language) and
  ``dedup_exact_stream`` (``dropDuplicates`` on the normalized-text
  fingerprint: keep-FIRST-arrival, equal to the batch survivor when
  arrival order is doc_id order; ``dedup_within_watermark`` in sinks.py
  is its watermark-bounded form);
- stateless per-batch readings (``*_batch``, ``index_refresh_handler``)
  that a caller hands to ``writeStream.foreachBatch`` itself;
- the three sketch monitors (bottom-K quantiles, Misra–Gries heavy
  hitters, Count-Min), each one ``update(standing | None, batch) ->
  frame`` folded by the package's one durable gate,
  ``sinks.durable_handler``. Every monitor is durable: its standing state
  lives in a ``sinks.DurableTable`` and commits with the batch id that
  produced it, so a restart resumes the committed state and a
  redelivered batch folds zero times. The per-step write is sketch-sized
  (≤ T×K / k+1 / d·w rows), noise next to the batch fold itself.

Stream ≡ batch parity is pinned in tests/test_corpus_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.text import CMS_D, CMS_W, HH_K, fingerprint_col, tokens_col


def vocab_counts_stream(docs_stream: DataFrame) -> DataFrame:
    """Running (lang, token) occurrence counts over a document stream."""
    toks = docs_stream.select("lang", F.explode(tokens_col("text")).alias("token"))
    return toks.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def dedup_exact_stream(docs_stream: DataFrame) -> DataFrame:
    """Streaming exact dedup: first document per normalized-text fingerprint
    survives; later copies (and redeliveries) are dropped statefully."""
    fp = fingerprint_col()
    return docs_stream.select(
        fp.alias("fingerprint"), "doc_id", "lang", "source"
    ).dropDuplicates(["fingerprint"])


def dedup_incremental_stream(docs_stream: DataFrame, standing: DataFrame) -> DataFrame:
    """Streaming twin of ``operators.dedup.ext_dedup_incremental``: arriving
    documents stream-static LEFT JOIN the standing corpus's fingerprint
    index — each micro-batch gets its dedup verdict against yesterday's
    corpus with NO stream state at all (the static side is re-resolved per
    micro-batch, so a nightly-refreshed index is picked up automatically).

    ``standing`` must be the one-row-per-fingerprint frame
    (fingerprint, dup_of) — the same pre-aggregated skew-proof shape the
    batch operator builds; at scale it lives as a bucketed layout so the
    per-batch join is broadcast- or bucket-local.
    """
    fp = fingerprint_col()
    new = docs_stream.select("doc_id", fp.alias("fingerprint"))
    return new.join(standing, "fingerprint", "left").select(
        "doc_id",
        "fingerprint",
        F.col("dup_of").isNotNull().alias("exact_dup"),
        "dup_of",
    )


def percolate_stream(docs_stream: DataFrame, registry: DataFrame) -> DataFrame:
    """Streaming percolation: the standing-query registry (static,
    broadcast) matched against every ARRIVING document — saved-search /
    alerting-rule delivery with ZERO stream state (pure stream-static map;
    a registry update is picked up on the next micro-batch, the same
    static-side re-resolution contract as `dedup_incremental_stream`)."""
    from ..operators.search import percolate

    return percolate(docs_stream, registry)


def quality_score_stream(docs_stream: DataFrame, weights: list[float]) -> DataFrame:
    """Streaming serve of the trained quality filter (train OFFLINE with
    `text.quality_classifier_fit`, score the arriving corpus ONLINE): the
    frozen 5-weight model applies as a stateless narrow map per
    micro-batch — no state store, no watermark, unbounded throughput.
    This is the deployment shape of every learned filter in a crawl
    pipeline: fit on yesterday's snapshot, score today's shards as they
    land, route by `pred` (or weight sampling by `score`) downstream.
    Stream ≡ batch on the same documents is pinned in
    tests/test_corpus_stream.py."""
    from ..operators.text import _qc_features, quality_classifier_score

    return quality_classifier_score(_qc_features(docs_stream), weights)


def quality_gate_stream(
    docs_stream: DataFrame, weights: list[float], threshold: float
) -> DataFrame:
    """Streaming serve of a CHOSEN OPERATING POINT: train
    offline, select the threshold offline (`text.quality_threshold_select`
    — max kept-fraction subject to a precision target), then gate the
    arriving corpus ONLINE. Still a stateless narrow map per micro-batch;
    the integer-unit compare (score·1e6 ≥ threshold·1e6, both 6dp
    integers) keeps the keep/drop decision exactly the batch selection's
    `score ≥ t` rule, never a float-epsilon different one. The full
    document row passes through with the decision, so downstream stages
    (dedup, sinks) compose in the same streaming query. Stream ≡ batch
    on the same documents is pinned in tests/test_corpus_stream.py."""
    from ..operators.text import _qc_features, quality_score_col

    carry = tuple(c for c in docs_stream.columns if c != "doc_id")
    feats = _qc_features(docs_stream, keep=carry)
    score = quality_score_col(weights)
    su = F.round(score * F.lit(1_000_000.0), 0).cast("long")
    tu = int(round(threshold * 1_000_000))
    return feats.select(
        "doc_id", *carry, score.alias("score"), (su >= F.lit(tu)).alias("keep")
    )


def quality_psi_batch(
    docs_batch: DataFrame,
    weights: list[float],
    fit_bin: DataFrame,
    fit_total: int,
    batch_id: int,
) -> DataFrame:
    """One monitoring reading: score the ARRIVING batch with the frozen
    offline weights, bin on the shared calibration bins, and compute its
    PSI against the broadcast fit-time baseline (`operators.text.
    quality_psi_from_binned` — the identical algebra the batch monitor
    `ext_quality_psi` runs per source). STATELESS: bins recompute per
    batch, the baseline is a B-row broadcast frame, nothing accumulates
    across batches. Output: one (batch_id, n, psi, drifted, low_sample)
    row — ``low_sample`` (n < ``QC_PSI_MIN_N``) is the alert gate: a
    tiny micro-batch reads inflated PSI from the smoothing terms alone,
    so alerting composes ``drifted AND NOT low_sample``."""
    from ..operators.text import (
        QC_CAL_BINS,
        _qc_features,
        quality_psi_from_binned,
        quality_score_col,
    )

    feats = _qc_features(docs_batch)
    bin_col = F.least(
        F.floor(quality_score_col(weights) * QC_CAL_BINS).cast("int"),
        F.lit(QC_CAL_BINS - 1),
    )
    binned = feats.select(F.lit(int(batch_id)).alias("grp"), bin_col.alias("bin"))
    return quality_psi_from_binned(binned, fit_bin, fit_total).select(
        F.col("grp").cast("long").alias("batch_id"),
        "n",
        "psi",
        "drifted",
        "low_sample",
    )


def fertility_batch(
    docs_batch: DataFrame, merges: list[tuple[str, str]], batch_id: int
) -> DataFrame:
    """One tokenizer-drift reading: per-language fertility (subwords/word)
    and chars-per-token of the ARRIVING batch under the FROZEN merge
    table — the deployment form of `text.ext_tokenizer_fertility`, over
    the same per-language body (`text.fertility_by_lang`). The batch
    audit fits and audits one corpus; the twin watches whether the corpus
    a deployed tokenizer serves still looks like the one it was fit on
    (fertility creeping up per language is vocabulary rot). STATELESS:
    the merge list rides the closure (it IS the model)."""
    from ..operators.text import fertility_by_lang

    return fertility_by_lang(docs_batch, merges).select(
        F.lit(int(batch_id)).cast("long").alias("batch_id"),
        "lang",
        "n_words",
        "n_tokens_bpe",
        "fertility",
        "chars_per_token",
    )


def embed_drift_batch(
    emb_batch: DataFrame,
    cent: DataFrame,
    fit_bin: DataFrame,
    fit_total: int,
    batch_id: int,
    k: int | None = None,
) -> DataFrame:
    """One embedding-drift reading: assign the ARRIVING embedding batch to
    the frozen offline centroids (`similarity.kmeans_assign_with` — the
    identical engine-stable argmin the batch monitor `ext_embed_drift`
    uses) and compute its cluster-share PSI against the broadcast
    fit-time assignment histogram. STATELESS — the `quality_psi_batch`
    shape in embedding space. Output: one
    (batch_id, n, psi, drifted, low_sample) row."""
    from ..operators.similarity import KMEANS_K, kmeans_assign_with
    from ..operators.text import quality_psi_from_binned

    kk = int(KMEANS_K if k is None else k)
    assign = kmeans_assign_with(emb_batch, cent)
    binned = assign.select(
        F.lit(int(batch_id)).alias("grp"), F.col("cluster").alias("bin")
    )
    return quality_psi_from_binned(binned, fit_bin, fit_total, bins=kk).select(
        F.col("grp").cast("long").alias("batch_id"),
        "n",
        "psi",
        "drifted",
        "low_sample",
    )


def index_refresh_handler(index, assign_udf, emit=None):
    """Per-batch body of streaming ANN index maintenance, for
    ``writeStream.foreachBatch`` or a composed handler.

    The streaming form of ``ext_ann_index_refresh``'s nightly append: each
    arriving embedding micro-batch is assigned by the FROZEN standing
    quantizer (``assign_udf`` — e.g.
    ``similarity._ivf_standing_quantizer``'s first element) and committed
    to the ``IncrementalIvfIndex`` as an immutable delta, so probes see it
    the moment its micro-batch commits. Replay-safe by the index's
    batch-id gate (append-twice is a no-op) and crash-safe by its
    pointer-flip commit; ``emit(bid, applied)`` reports whether the batch
    was applied or skipped as a replay. Run ``index.compact()`` on a
    maintenance schedule to bound delta fan-out (the LSM merge)."""

    def _each(bdf: DataFrame, bid: int) -> None:
        assigned = bdf.where(F.col("embedding").isNotNull()).withColumn(
            "ivf_list", assign_udf("embedding")
        )
        applied = index.append(assigned, bid)
        if emit is not None:
            emit(bid, applied)

    return _each


def quantile_sketch_update(standing: DataFrame | None, ev_batch: DataFrame) -> DataFrame:
    """One sketch-maintenance step: absorb an arriving events batch into the
    standing bottom-K quantile sketch (``operators.aggregates._qsk_*``).
    The batch contributes only its bounded per-partition partials (≤ T×K
    rows per partition), and bottom-K of (sketch ∪ partials) IS the
    sketch of the union — exact mergeability, so the maintained state
    after any number of steps is BIT-EQUAL to the one-shot whole-history
    sketch over the same rows (the deployment form of
    ``ext_approx_quantiles_incremental``; state is ≤ T×K rows whatever the
    stream length). ``quantile_sketch_serve`` reads p50/p90/p99 from it."""
    from ..operators.aggregates import _qsk_bottomk, _qsk_partials

    part = _qsk_partials(ev_batch)
    merged = part if standing is None else standing.unionByName(part)
    return _qsk_bottomk(merged)


def quantile_sketch_serve(sketch: DataFrame) -> DataFrame:
    """Serve per-group approximate percentiles from a standing sketch —
    the same estimator/columns as the batch ``ext_approx_quantiles_sketch``
    (interpolated percentile over the ≤ K sampled values, 4dp)."""
    from ..operators.aggregates import QUANTILES

    pcts = F.percentile("value", F.lit(list(QUANTILES)))
    return sketch.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("sketch_k"),
        F.round(pcts[0], 4).alias("p50"),
        F.round(pcts[1], 4).alias("p90"),
        F.round(pcts[2], 4).alias("p99"),
    )


def heavy_hitters_update(
    standing: DataFrame | None, docs_batch: DataFrame, k: int = HH_K
) -> DataFrame:
    """One Misra–Gries step: the batch's bounded per-partition summaries
    (the batch operator's pass-1 stage, ``operators.text._mg_summaries``,
    ≤ k+1 rows a partition) fold into the standing k counters in ONE
    m-way ``mg_merge`` (a single truncation — valid, and tighter than
    folding pairwise). The state is ``token, cnt, is_total`` rows: one per
    counter plus the running exact total (the ``is_total`` row, the
    ``_mg_summaries`` marker convention), so it stays k+1 rows whatever
    the stream length or vocabulary size.

    Guarantees that survive any merge sequence (pinned by the
    stream-vs-exact test): every token with true frequency > N/(k+1) is a
    counter (no false negatives), and est ≤ true ≤ est + N/(k+1). The
    batch operator's exact pass-2 rescan has no streaming analogue (it
    would re-read history); a deployment runs it offline against the
    emitted candidates."""
    from ..operators.text import _mg_summaries, mg_merge

    toks = docs_batch.select(F.explode(tokens_col("text")).alias("token"))
    part = _mg_summaries(toks, k)
    summed = heavy_hitters_state_load(
        part if standing is None else standing.unionByName(part)
    )
    counters = mg_merge({}, summed["counters"], k)
    rows = [(t, c, False) for t, c in sorted(counters.items())]
    rows.append((None, summed["n_total"], True))
    return docs_batch.sparkSession.createDataFrame(
        rows, "token string, cnt long, is_total boolean"
    )


def heavy_hitters_state_load(df: DataFrame) -> dict:
    """``{"counters": {token: cnt}, "n_total": N}`` of MG ``token, cnt,
    is_total`` rows, summing the rows of each token and the total rows —
    bounded collect (k+1 rows for a standing state, ≤ k+1 per partition
    for summaries)."""
    counters: dict[str, int] = {}
    n_total = 0
    for r in df.collect():
        if r["is_total"]:
            n_total += int(r["cnt"])
        else:
            counters[r["token"]] = counters.get(r["token"], 0) + int(r["cnt"])
    return {"counters": counters, "n_total": n_total}


def freq_sketch_update(
    standing: DataFrame | None, docs_batch: DataFrame, d: int = CMS_D, w: int = CMS_W
) -> DataFrame:
    """One Count-Min step: the batch's d×w cell table (map-side combined to
    sketch size before anything shuffles) adds CELL-WISE into the standing
    cells. CMS merge IS cell-wise SUM, so like the bottom-K monitor this
    carries the exact contract: the drained state equals the batch sketch
    over the same documents, row for row. State is ≤ d·w rows forever;
    ``freq_sketch_estimate`` serves any key's point frequency from it,
    with no vocabulary-sized state anywhere in the pipeline."""
    from ..operators.text import _cms_cells

    toks = docs_batch.select(F.explode(tokens_col("text")).alias("token"))
    cells = _cms_cells(toks, d, w)
    if standing is None:
        return cells
    return (
        standing.unionByName(cells)
        .groupBy("j", "b")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def freq_sketch_estimate(
    cells: DataFrame, keys: DataFrame, d: int = CMS_D, w: int = CMS_W
) -> DataFrame:
    """Point-frequency estimates for a ``token`` keys frame against a
    standing Count-Min cell table: MIN over the key's d cells, with an
    ABSENT cell counting as zero (a never-inserted key must estimate ≥ 0
    from its emptiest cell, not skip it — ``F.min`` ignores NULLs, so the
    coalesce happens per row, before the MIN)."""
    from ..operators.text import _cms_probes

    probed = keys.select("token", F.explode(_cms_probes(d, w)).alias("p")).select(
        "token", F.col("p.j").alias("j"), F.col("p.b").alias("b")
    )
    return (
        probed.join(F.broadcast(cells), ["j", "b"], "left")
        .groupBy("token")
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("long")
            .alias("n_est")
        )
    )
