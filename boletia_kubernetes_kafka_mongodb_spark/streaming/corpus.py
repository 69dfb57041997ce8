"""Streaming twins for the corpus / LLM-pipeline operators.

A training-data pipeline is usually fed incrementally (crawl drops, shard
deliveries); the batch operators in ``operators/text.py`` / ``dedup.py``
have streaming forms whose converged state must equal the batch answer over
the same documents. Two twins demonstrate the pattern:

- ``vocab_counts_stream`` — the (lang, token) frequency aggregate as a
  streaming stateful aggregation. State is VOCAB-sized (bounded by the
  language), not corpus-sized, which is what makes a running vocabulary
  count viable on an unbounded crawl.
- ``dedup_exact_stream`` — streaming exact dedup via ``dropDuplicates`` on
  the normalized-text fingerprint: keep-FIRST-arrival semantics. Equals the
  batch survivor (min doc_id) exactly when arrival order is doc_id order —
  the same arrival-order contract (``seq``) the CDC surface builds on.
  State is one row per distinct fingerprint; at 100 TB bound it with a
  watermark on an event-time column (``dedup_within_watermark`` in
  sinks.py is that bounded form).

Stream ≡ batch parity is pinned in tests/test_corpus_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import fingerprint_col, tokens_col
from ._snapshot import SnapshotDir


def _release_checkpoint(df: DataFrame | None) -> None:
    """Release the RDD blocks a previous ``localCheckpoint`` pinned.

    The per-step state checkpoints otherwise accumulate
    linearly with batch count over a long-lived stream — each frame is
    sketch-bounded, but TOTAL executor storage is not.
    ``DataFrame.unpersist`` only clears cache-manager entries (``.persist``
    registrations), not the RDD-level persist a local checkpoint performs,
    so this reaches through the checkpointed plan's ``LogicalRDD`` and
    unpersists its RDD directly. Best-effort by design (a non-checkpointed
    plan has no ``rdd()`` accessor); callers invoke it only AFTER the
    successor state is eagerly materialized, so nothing can need the
    truncated lineage again."""
    if df is None:
        return
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


class DurableSketchState:
    """Restart-durable standing state for the streaming sketch monitors.

    Without it the monitors' standing state (bottom-K sketch rows / MG
    counters / CMS cells) lives only in the driver, so a restarted query
    resumes OFFSETS from its checkpoint with EMPTY state and under-counts
    until re-warm. The reference's design lesson is offset-commit ⇄ effect
    idempotency (``inventario/main.go:56-66``, ``README.md:148-155``:
    commit the offset only with the effect, make the effect replay-safe);
    this store applies it to the monitors through the package's one
    pointer commit (``streaming._snapshot.SnapshotDir``):

    - the state rows commit INSIDE the same ``foreachBatch`` that folded
      the batch, and the pointer records that batch id — so a 0-row state
      at batch N is representable;
    - restart: the handler reloads the exact state the last committed
      batch produced before the first new batch arrives;
    - replay (after a crash between fold and offset commit, Structured
      Streaming re-delivers the in-flight batch with the SAME batch_id):
      ``bid <= last_bid`` detects it and the fold is skipped — replaying
      a batch twice is a no-op;
    - a crash at any instant recovers either the previous or the new
      committed state, never neither.

    Standing state is served from the parquet scan, so there is no
    localCheckpoint chain to accumulate and nothing pinned to release.
    The per-step write is sketch-sized (≤ T×K / k+1 / d·w rows) — noise
    next to the batch fold itself at any scale."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._snap = SnapshotDir(path)

    def load(self) -> tuple[DataFrame | None, int]:
        """(state frame, last applied batch id); (None, -1) when nothing
        has ever been committed."""
        sub, bid = self._snap.current()
        if sub is None:
            return None, -1
        return self.spark.read.parquet(sub), bid

    def save(self, state_df: DataFrame, bid: int) -> None:
        """Commit ``state_df`` as the state batch ``bid`` produced."""
        self._snap.publish(int(bid), state_df.write.parquet)


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
    """Streaming serve of a CHOSEN OPERATING POINT (round 7): train
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
    row — ``low_sample`` (n < ``QC_PSI_MIN_N``) is the round-9 alert
    gate: a tiny micro-batch reads inflated PSI from the smoothing terms
    alone, so alerting composes ``drifted AND NOT low_sample``."""
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


def quality_psi_stream(
    docs_stream: DataFrame,
    weights: list[float],
    fit_bin: DataFrame,
    fit_total: int,
    emit,
):
    """The monitoring lambda (the `anomaly_alert_stream` shape, per-batch
    flavor): fit offline, freeze (weights, per-bin baseline counts,
    total), then for every arriving micro-batch hand the stateless PSI
    reading of THAT batch to ``emit(psi_df)`` — a deployment posts it to
    a metrics sink, tests collect it. Returns the ``writeStream`` builder
    (caller picks trigger/checkpoint and starts it). The integer-unit /
    deterministic-ln algebra is shared with the batch monitor, so an
    alert online is exactly the alert the batch audit would raise on the
    same rows — pinned by the stream ≡ batch test."""

    def _each(bdf: DataFrame, bid: int) -> None:
        emit(quality_psi_batch(bdf, weights, fit_bin, fit_total, bid))

    return docs_stream.writeStream.foreachBatch(_each)


def fertility_batch(
    docs_batch: DataFrame, merges: list[tuple[str, str]], batch_id: int
) -> DataFrame:
    """One tokenizer-drift reading: per-language fertility (subwords/word)
    and chars-per-token of the ARRIVING batch under the FROZEN merge
    table — the deployment form of `text.ext_tokenizer_fertility` (the
    batch audit fits and audits one corpus; the twin watches whether the
    corpus a deployed tokenizer serves still looks like the one it was
    fit on — fertility creeping up per language is vocabulary rot).
    STATELESS: the merge list rides the closure (it IS the model), one
    narrow Arrow encode pass + a languages-sized agg per batch."""
    from ..operators.text import _bpe_count_udf, tokens_col

    bpe_count = _bpe_count_udf(merges)
    toks = tokens_col("text")
    per = docs_batch.select(
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
            F.lit(int(batch_id)).cast("long").alias("batch_id"),
            "lang",
            "n_words",
            "n_tokens_bpe",
            F.round(
                F.col("n_tokens_bpe") / F.col("n_words").cast("double"), 6
            ).alias("fertility"),
            F.round(
                F.col("n_chars") / F.col("n_tokens_bpe").cast("double"), 6
            ).alias("chars_per_token"),
        )
    )


def fertility_stream(
    docs_stream: DataFrame, merges: list[tuple[str, str]], emit
):
    """The tokenizer-drift monitoring lambda (the `quality_psi_stream`
    shape): train the BPE offline (`text._bpe_learn`), freeze the merge
    table, and hand each arriving micro-batch's per-language fertility
    reading to ``emit(df)``. Composes in the same foreachBatch as the
    PSI / sketch monitors — the tokenizer lifecycle's online leg next to
    the offline audits (`ext_tokenizer_fertility`, `ext_tokenizer_oov`,
    `ext_bpe_vocab_sweep`)."""

    def _each(bdf: DataFrame, bid: int) -> None:
        emit(fertility_batch(bdf, merges, bid))

    return docs_stream.writeStream.foreachBatch(_each)


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


def embed_drift_stream(
    emb_stream: DataFrame,
    cent: DataFrame,
    fit_bin: DataFrame,
    fit_total: int,
    emit,
    k: int | None = None,
):
    """The embedding-side monitoring lambda (the `quality_psi_stream`
    shape): freeze (centroids, fit-time assignment histogram, total)
    offline, then hand each arriving micro-batch's stateless drift
    reading to ``emit(psi_df)``. An alert online is exactly the alert the
    batch audit would raise on the same vectors — same argmin, same PSI
    algebra."""

    def _each(bdf: DataFrame, bid: int) -> None:
        emit(embed_drift_batch(bdf, cent, fit_bin, fit_total, bid, k))

    return emb_stream.writeStream.foreachBatch(_each)


def index_refresh_handler(index, assign_udf, emit=None):
    """Per-batch body of ``index_refresh_stream`` — callable directly.

    The streaming form of ``ext_ann_index_refresh``'s nightly append: each
    arriving embedding micro-batch is assigned by the FROZEN standing
    quantizer (``assign_udf`` — e.g.
    ``similarity._ivf_standing_quantizer``'s first element) and committed
    to the ``IncrementalIvfIndex`` as an immutable delta. Replay-safe by
    the index's ``bid <= last_bid`` gate (append-twice is a no-op) and
    crash-safe by its pointer-flip commit; ``emit(bid, applied)`` reports
    whether the batch was applied or skipped as a replay."""

    def _each(bdf: DataFrame, bid: int) -> None:
        assigned = bdf.where(F.col("embedding").isNotNull()).withColumn(
            "ivf_list", assign_udf("embedding")
        )
        applied = index.append(assigned, bid)
        if emit is not None:
            emit(bid, applied)

    return _each


def index_refresh_stream(emb_stream: DataFrame, index, assign_udf, emit=None):
    """Streaming ANN index maintenance: arriving embeddings land in real
    partitions of the served layout the moment their micro-batch commits
    — probes see them immediately, no side table, no rebuild. Run
    ``index.compact()`` on a maintenance schedule to bound delta fan-out
    (the LSM merge)."""
    return emb_stream.writeStream.foreachBatch(
        index_refresh_handler(index, assign_udf, emit)
    )


def quantile_sketch_update(standing: DataFrame | None, ev_batch: DataFrame) -> DataFrame:
    """One sketch-maintenance step: absorb an arriving events batch into the
    standing bottom-K quantile sketch (``operators.aggregates`` round-8
    family). The batch contributes only its bounded per-partition partials
    (≤ T×K rows per partition), and bottom-K of (sketch ∪ partials) IS the
    sketch of the union — exact mergeability, so the maintained state
    after any number of steps equals the one-shot whole-history sketch."""
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


def quantile_sketch_handler(
    emit, state: dict | None = None, store: DurableSketchState | None = None
):
    """Build the per-batch body of ``quantile_sketch_stream`` — callable
    directly (composed foreachBatch programs, crafted restart tests) or
    wired via the stream builder. With a ``store`` the standing sketch is
    restart-durable and replay-idempotent (see ``DurableSketchState``);
    without one it is in-memory state pinned per step by an eager
    ``localCheckpoint`` whose PREDECESSOR is released once the successor
    materializes (round-8 ADVICE: the chain otherwise accumulates)."""
    state = {} if state is None else state
    state.setdefault("sketch", None)
    state.setdefault("last_bid", -1)
    if store is not None and state["sketch"] is None:
        state["sketch"], state["last_bid"] = store.load()

    def _each(bdf: DataFrame, bid: int) -> None:
        if store is not None:
            if bid <= state["last_bid"] and state["sketch"] is not None:
                # replayed batch: already folded into the persisted state
                emit(bid, quantile_sketch_serve(state["sketch"]))
                return
            store.save(quantile_sketch_update(state["sketch"], bdf), bid)
            state["sketch"], state["last_bid"] = store.load()[0], int(bid)
            emit(bid, quantile_sketch_serve(state["sketch"]))
            return
        prev = state["sketch"]
        sk = quantile_sketch_update(prev, bdf).localCheckpoint()
        state["sketch"] = sk
        _release_checkpoint(prev)
        emit(bid, quantile_sketch_serve(sk))

    return _each


def quantile_sketch_stream(
    ev_stream: DataFrame,
    emit,
    state: dict | None = None,
    store: DurableSketchState | None = None,
):
    """Streaming quantile monitoring — the deployment form of
    ``ext_approx_quantiles_incremental``: the standing bottom-K sketch
    (state = ≤ T×K rows TOTAL, regardless of stream length) absorbs each
    arriving micro-batch's bounded partials and serves updated
    p50/p90/p99 to ``emit(batch_id, pct_df)``. Because bottom-K merge is
    exact (sketch ∪ sketch = the union's sketch), the standing state after
    draining the stream is BIT-EQUAL to the batch sketch over the same
    rows — the strongest stream ≡ batch contract any twin here carries,
    pinned in tests/test_corpus_stream.py. Pass a ``DurableSketchState``
    as ``store`` for the deployment form: the standing sketch is then
    persisted under batch-id idempotence inside the same foreachBatch, so
    a query restart resumes with the exact state the last committed batch
    produced (kill-and-restart ≡ uninterrupted, replay-twice a no-op —
    pinned in tests). Without a store, per-step state is pinned by an
    eager ``localCheckpoint`` (cuts lineage AND materializes the merge
    input, the graph-loop discipline) and each step releases its
    predecessor's blocks."""
    return ev_stream.writeStream.foreachBatch(
        quantile_sketch_handler(emit, state, store)
    )


def heavy_hitters_stream(
    docs_stream: DataFrame,
    emit,
    k: int | None = None,
    state: dict | None = None,
    store: DurableSketchState | None = None,
):
    """Streaming Misra–Gries heavy hitters: per micro-batch, the bounded
    per-partition MG summaries (the batch operator's pass-1 stage,
    ``operators.text._mg_summaries``) collect ≤ (k+1)·partitions rows and
    fold into ONE standing k-counter summary via the mergeable-summaries
    merge (``operators.text.mg_merge``) — state is k counters plus a
    running exact total, regardless of stream length or vocabulary size.

    Per batch, ``emit(batch_id, n_total, counters)`` receives the running
    candidate set with estimate counts. Guarantees that survive arbitrary
    merge sequences (and are pinned by the stream-vs-exact test): every
    token with true frequency > N/(k+1) is present (no false negatives),
    and for every candidate est ≤ true ≤ est + N/(k+1). The batch
    operator's exact pass-2 rescan has no streaming analogue (it would
    re-read history); a deployment runs that rescan offline against the
    emitted candidates — the candidate set is exactly what makes the
    offline pass cheap.

    Pass a ``DurableSketchState`` as ``store`` for the deployment form:
    the counters persist under batch-id idempotence inside the same
    foreachBatch, so a restart resumes with the committed state instead
    of silently re-warming from empty (the round-8 verdict's durability
    gap)."""
    return docs_stream.writeStream.foreachBatch(
        heavy_hitters_handler(emit, k, state, store)
    )


def heavy_hitters_state_df(spark: SparkSession, state: dict) -> DataFrame:
    """Serialize the MG state for the durable store: one row per counter
    plus the running exact total (the ``is_total`` row, the same marker
    convention ``_mg_summaries`` uses)."""
    rows = [(t, int(c), False) for t, c in sorted(state["counters"].items())]
    rows.append((None, int(state["n_total"]), True))
    return spark.createDataFrame(rows, "token string, cnt long, is_total boolean")


def heavy_hitters_state_load(df: DataFrame) -> dict:
    """Inverse of ``heavy_hitters_state_df`` — bounded collect (≤ k+1 rows)."""
    counters: dict[str, int] = {}
    n_total = 0
    for r in df.collect():
        if r["is_total"]:
            n_total = int(r["cnt"])
        else:
            counters[r["token"]] = int(r["cnt"])
    return {"counters": counters, "n_total": n_total}


def heavy_hitters_handler(
    emit,
    k: int | None = None,
    state: dict | None = None,
    store: DurableSketchState | None = None,
):
    """Per-batch body of ``heavy_hitters_stream`` — callable directly.
    With a ``store``, the k-counter state round-trips through parquet
    under batch-id idempotence (restart-durable, replay-safe)."""
    from ..operators.text import HH_K

    kk = int(HH_K if k is None else k)
    state = {} if state is None else state
    state.setdefault("counters", {})
    state.setdefault("n_total", 0)
    state.setdefault("last_bid", -1)
    if store is not None and not state["counters"] and state["n_total"] == 0:
        df, bid = store.load()
        if df is not None:
            state.update(heavy_hitters_state_load(df))
            state["last_bid"] = bid

    def _each(bdf: DataFrame, bid: int) -> None:
        if store is not None and bid <= state["last_bid"]:
            emit(bid, state["n_total"], dict(state["counters"]))
            return
        if store is not None:
            # fold into a scratch copy and adopt it only AFTER the durable
            # save commits — a save that dies mid-swap must leave the
            # in-memory state consistent with the store, like the other
            # two durable handlers (which build their new state frame
            # before saving and reload after)
            scratch = {
                "counters": dict(state["counters"]),
                "n_total": state["n_total"],
            }
            heavy_hitters_fold(scratch, bdf, kk)
            store.save(heavy_hitters_state_df(bdf.sparkSession, scratch), bid)
            state["counters"] = scratch["counters"]
            state["n_total"] = scratch["n_total"]
            state["last_bid"] = int(bid)
        else:
            heavy_hitters_fold(state, bdf, kk)
        emit(bid, state["n_total"], dict(state["counters"]))

    return _each


def heavy_hitters_fold(state: dict, docs_batch: DataFrame, k: int) -> dict:
    """One MG maintenance step (the per-batch body of
    ``heavy_hitters_stream``, callable from a composed ``foreachBatch``):
    the batch's bounded per-partition summaries merge into the standing
    k-counter state in one m-way step (single truncation — valid and
    tighter than pairwise folding)."""
    from ..operators.text import _mg_summaries, mg_merge

    toks = docs_batch.select(F.explode(tokens_col("text")).alias("token"))
    add: dict[str, int] = {}
    batch_n = 0
    for r in _mg_summaries(toks, k).collect():
        if r["is_total"]:
            batch_n += int(r["cnt"])
        else:
            add[r["token"]] = add.get(r["token"], 0) + int(r["cnt"])
    state["n_total"] += batch_n
    state["counters"] = mg_merge(state["counters"], add, k)
    return state


def freq_sketch_stream(
    docs_stream: DataFrame,
    emit,
    d: int | None = None,
    w: int | None = None,
    state: dict | None = None,
    store: DurableSketchState | None = None,
):
    """Streaming Count-Min: each micro-batch's d×w cell table (bounded —
    map-side combined to sketch size before anything shuffles) adds
    CELL-WISE into the standing counter state. CMS merge IS cell-wise
    SUM, so like the bottom-K twin this carries the exact contract: the
    drained state equals the batch sketch over the same documents, row
    for row (pinned in tests/test_corpus_stream.py). State is ≤ d·w rows
    forever; ``emit(batch_id, cells_df)`` hands out the running sketch —
    point-frequency service for ANY key via ``freq_sketch_estimate``
    with no vocabulary-sized state anywhere in the pipeline. Pass a
    ``DurableSketchState`` as ``store`` for the deployment form
    (restart-durable, replay-idempotent standing cells)."""
    return docs_stream.writeStream.foreachBatch(
        freq_sketch_handler(emit, d, w, state, store)
    )


def freq_sketch_handler(
    emit,
    d: int | None = None,
    w: int | None = None,
    state: dict | None = None,
    store: DurableSketchState | None = None,
):
    """Per-batch body of ``freq_sketch_stream`` — callable directly."""
    from ..operators.text import CMS_D, CMS_W

    dd = int(CMS_D if d is None else d)
    ww = int(CMS_W if w is None else w)
    state = {} if state is None else state
    state.setdefault("cells", None)
    state.setdefault("last_bid", -1)
    if store is not None and state["cells"] is None:
        state["cells"], state["last_bid"] = store.load()

    def _each(bdf: DataFrame, bid: int) -> None:
        if (
            store is not None
            and bid <= state["last_bid"]
            and state["cells"] is not None
        ):
            emit(bid, state["cells"])
            return
        freq_sketch_fold(state, bdf, dd, ww, store=store, bid=bid)
        emit(bid, state["cells"])

    return _each


def freq_sketch_fold(
    state: dict,
    docs_batch: DataFrame,
    d: int,
    w: int,
    store: DurableSketchState | None = None,
    bid: int | None = None,
) -> dict:
    """One CMS maintenance step (the per-batch body of
    ``freq_sketch_stream``, callable from a composed ``foreachBatch``):
    the batch's bounded cell table adds cell-wise into the standing
    counters. Without a store, an eager localCheckpoint pins the
    ≤ d·w-row state and cuts lineage, and the PREVIOUS step's checkpoint
    is released once the new one materializes (round-8 ADVICE: the chain
    otherwise accumulates linearly with batch count). With a store, the
    merged cells swap into the durable snapshot under ``bid`` and the
    standing state becomes the parquet scan — nothing pinned at all."""
    from ..operators.text import _cms_cells

    toks = docs_batch.select(F.explode(tokens_col("text")).alias("token"))
    batch_cells = _cms_cells(toks, d, w)
    merged = (
        batch_cells
        if state["cells"] is None
        else state["cells"]
        .unionByName(batch_cells)
        .groupBy("j", "b")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    if store is not None:
        store.save(merged, int(bid))
        state["cells"] = store.load()[0]
        state["last_bid"] = int(bid)
        return state
    prev = state["cells"]
    state["cells"] = merged.localCheckpoint()
    _release_checkpoint(prev)
    return state


def freq_sketch_estimate(
    cells: DataFrame, keys: DataFrame, d: int | None = None, w: int | None = None
) -> DataFrame:
    """Point-frequency estimates for a ``token`` keys frame against a
    standing Count-Min cell table: MIN over the key's d cells, with an
    ABSENT cell counting as zero (a never-inserted key must estimate ≥ 0
    from its emptiest cell, not skip it — ``F.min`` ignores NULLs, so the
    coalesce happens per row, before the MIN)."""
    from ..operators.text import CMS_D, CMS_W, _cms_probes

    dd = int(CMS_D if d is None else d)
    ww = int(CMS_W if w is None else w)
    probed = keys.select("token", F.explode(_cms_probes(dd, ww)).alias("p")).select(
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
