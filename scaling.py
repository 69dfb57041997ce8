#!/usr/bin/env python
"""Empirical scale study: how does each operator's wall time grow with data?

The repo's design claims are about 100 TB behavior — partition-pruned
probes, banded candidate generation, bounded driver state, linear corpus
scans. This harness MEASURES the growth curve instead of asserting it:
it replicates `/root/testdata/sf0.1` by key-shifted union (3x and 10x, so
~0.3 and ~1.0 TPC-H-scale-factor equivalents) and times a representative
operator per family at each size, reporting the empirical scaling exponent
    p = log(t_10x / t_1x) / log(10)
(p ≈ 0 constant, ≈ 1 linear, ≈ 2 quadratic). Fixed per-query overhead
(session, planning, Arrow spin-up) deflates p at these absolute sizes, so
exponents here are UPPER-bounded by the asymptotic ones for sub-linear ops
and slightly UNDER for super-linear ones; the interesting signal is
linear-vs-quadratic separation, not the third decimal.

Replication grows FACTS and keeps DIMENSIONS fixed — the realistic scale
model (a venue catalog doesn't grow 10x because ticket volume does), and
the one the fixture's key contracts require:
- region/nation/customer/supplier/part stay single-copy: `reserva_seq`
  (tables.py) packs (orderkey, linenumber, partkey, suppkey, qty) into
  decimal bigint slots sized to the synthetic domains — shifting partkey
  past 1e5 overflows/collides the packing (found by this harness's first
  run: ANSI long-overflow, loudly, exactly as designed). At production
  scale `seq` comes from Kafka (partition, offset) (`from_kafka_frame`:
  partition * 2^40 + offset — unbounded), not from packing business
  columns; the packed form is the batch-fixture stand-in.
- orders/lineitem shift o_orderkey/l_orderkey by replica * 150_000 (dense
  keys; 10 replicas top out at 1.5M, far inside the documented < 9.2e6
  envelope). The 5-column lineitem key stays unique via the orderkey.
- events shift event_id by 100_000 and user_id by 1_500 per replica:
  event AND user cardinality scale, per-user activity stays constant (so
  sessionize/attribution measure key-cardinality growth, not fan-out
  blow-up).
- documents/embeddings shift doc_id/vec_id by 1M (1M % 4 == 0 preserves
  the wav-row assignment); document text gets a per-replica suffix so
  dedup output scales linearly instead of quadratically in replicas.
- embeddings replica 0 is untouched (the query vector `vec_id=0` and the
  IVF coarse centroids `vec_id < IVF_NLIST` must stay unique); later
  replicas are perturbed so they are near- but not exact duplicates.
- consequence of fixed dims: ext_entity_resolution's identity frame stays
  ~|suppliers| rows at every factor — its measured growth is the linear
  aggregation over reservations, not in-block pair blow-up (the quadratic
  knob is exercised by tests/test_skew.py's hot-band fixtures instead).

Usage:
    python scaling.py gen               # build /tmp/sfscale/x{3,10}
    python scaling.py run               # time QUERIES at x1/x3/x10
    python scaling.py report            # exponent table from results.jsonl
    python scaling.py check             # class gates on normalized exponents

Round-5 addition (verdict #6): ``run`` also records ``rows_out`` per
(qid, scale), and ``report`` shows the OUTPUT-NORMALIZED exponent
p_norm = log((t₁₀/r₁₀)/(t₁/r₁)) / log 10 — time per output row — next to
the raw p. This separates "the operator got slower" from "the fixture's
true answer grew" (the MinHash x10 jump was ~15× more real near-dup
pairs, not a slow kernel). ``check`` turns the scale classes into a gate:
serve paths p_norm ≤ 0.4, scans/aggs ≤ 0.85, explicitly-exact verifiers
exempt — run it after any serve-path change (documented regression gate;
not a pytest because it needs the generated x3/x10 data).

Methodology mirrors bench.py: queries consumed with a noop-format write
(plan executes fully, nothing serialized to the driver), multiple passes
with per-(query, scale) minimum — pass 1 additionally absorbs write-time
layout builds (IVF/SRP/bucketed), so the minimum reports the warm SERVE
cost, consistent with how bench.py's min-of-3 treats layout-backed ids.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BASE = "/root/testdata/sf0.1"
OUT = "/tmp/sfscale"
OSHIFT = 150_000   # orders/lineitem orderkey stride (dense keys end 149_999)
ESHIFT = 100_000   # event_id stride
USHIFT = 1_500     # user_id stride
DSHIFT = 1_000_000  # doc_id / vec_id stride (multiple of 4: wav rows)
FACTORS = (3, 10)
PASSES = int(os.environ.get("SPARK_GRAFT_SCALE_PASSES", "2"))

# one representative per family, annotated with the DESIGNED growth class
# (what the operator's plan shape promises; `run` measures the actual one)
QUERIES = {
    # core relational: linear scans / shuffles on natural keys
    "scan_full_eventos": "linear",
    "filter_range_guard": "linear (pushdown)",
    "join_availability": "linear (broadcast dim)",
    "join_availability_bucketed": "linear (zero-exchange)",
    "agg_count_reservations": "linear (partial agg)",
    "order_topn_disponible": "linear (bounded heap)",
    "insert_dedup_unique": "linear (key shuffle)",
    "reserve_admission_exact": "linear (per-key fold, keys scale)",
    # analytics over events
    "agg_sessionize": "linear (session window)",
    "agg_ewma_daily": "linear (agg + windows on types x days)",
    "join_attribution": "linear x bounded fan-out",
    # text / corpus: single-scan + vocab-sized state
    "ext_dedup_exact": "linear (hash groupBy)",
    "ext_dedup_minhash_lsh": "linear + banded candidates",
    "ext_dedup_simhash": "linear + banded candidates",
    "ext_dedup_substring": "linear (window-hash shuffle)",
    "ext_text_quality": "linear (narrow map)",
    "ext_text_bigram_logprob": "linear (one bigram shuffle)",
    "ext_tfidf_terms": "linear (one doc-token shuffle)",
    "ext_heavy_hitters": "linear (two-pass MG sketch)",
    "ext_bpe_merges": "sub-linear after first pass (vocab-sized loop)",
    "ext_sample_pack": "linear (per-source window)",
    "ext_shard_manifest": "linear (narrow map + small agg)",
    "ext_corpus_keep_list": "linear (stage composition)",
    # similarity / ANN: pruned serves vs explicitly-exact kernels
    # IVF/LSH probes prune to a FIXED FRACTION of the corpus at fixed
    # nlist/band count (nprobe/nlist of the data): linear with a smaller
    # constant; sub-linearity at 100 TB comes from scaling nlist ~ sqrt(n),
    # a layout knob, not a plan change
    "ext_ann_lsh_topk": "linear/fraction (8-band-bucket probe)",
    "ext_ann_ivf_topk": "linear/4 (nprobe/nlist partition probe)",
    "ext_ann_ivfpq_topk": "linear/4 probe + ADC on survivors",
    "ext_ann_pq_topk": "linear (ADC full scan)",
    "ext_kmeans_embeddings": "linear (assign) x fixed iters",
    "ext_topk_similarity": "linear (brute force, the verification path)",
    "ext_dedup_embedding": "QUADRATIC by contract (exact all-pairs)",
    "ext_entity_resolution": "linear agg (identities fixed by dims; "
    "in-block quadratic knob covered by test_skew)",
    # multimodal
    "ext_multimodal_features": "linear (Arrow decode pass)",
    "ext_multimodal_phash": "linear + banded pairs",
    # round-5 additions
    "ext_ann_ivf_batch": "linear/4 probe amortized over N queries",
    "ext_corpus_budget_select": "linear (tier agg + within-tier windows)",
    "ext_split_leakage_safe": "linear (clusters pass + broadcast join)",
    "ext_approx_distinct_kmv": "linear scan -> bounded per-partition bottom-K "
    "partial (round 7); window sees <= partitions x T x K rows",
    # round-6 additions
    "ext_dedup_ngram_jaccard": "exact tiled kernel; TRUE pair count grows "
    "~k² on the replica fixture (copies are near-dups) — measured here "
    "because it is the graph ids' INPUT normalizer",
    "ext_graph_pagerank": "linear in EDGES (8 scans); the edge set itself "
    "grows ~k² on the replica fixture — gated edge-normalized",
    "ext_graph_label_prop": "linear in EDGES (4 rounds) — gated "
    "edge-normalized",
    "ext_ngram_novelty": "linear (one shingle-key window shuffle)",
    "ext_kmv_set_ops": "linear scan -> TxK sketch algebra (pairs fixed)",
    "ext_text_readability": "linear (narrow map)",
    "ext_embed_project": "linear (narrow map)",
    "ext_quality_classifier": "fit cached per dataset (round 7; paid once in "
    "pass 0, the write-time-layout treatment); min reports the warm serve "
    "(narrow scoring map)",
    "ext_dedup_edit_distance": "banded candidates; replica copies are TRUE "
    "small-edit dups (identical prefixes) so output grows ~k² — p/out is "
    "the honest exponent",
    "ext_graph_survivor_rank": "components x pagerank off one pair pass — "
    "gated edge-normalized like the other graph ids",
    "ext_quality_calibration": "cached fit + scoring pass + 10-row bin agg",
    "ext_dedup_minhash_accuracy": "priced by banded candidates (grow ~k² on "
    "the replica fixture, like the minhash id) — p/out is the signal",
    "agg_user_stickiness": "linear (two count-distinct aggs on week keys)",
    # round-7 additions
    "ext_quality_threshold": "cached fit + scoring pass + score-domain-"
    "bounded cumulative (<= 1e6 distinct 6dp units regardless of corpus)",
    # round-7 forced-strategy graph legs (round-6 verdict #5): the plain
    # graph ids' x1 leg runs the numpy driver path, so their x1->x3 ratio
    # straddles a STRATEGY boundary; these variants force the gate low so
    # both legs run the SAME distributed strategy and the exponent is
    # in-strategy (edge-normalized like the plain ids). x10 distributed
    # (~460M edges, ~k^2 replica growth) stays unmeasured by cost policy —
    # x1->x3 is already a 9x edge span inside one strategy.
    "ext_ann_recall_audit": "pruned probe + ONE brute-force reference "
    "scan per audit (the honest price of measuring recall)",
    # round-8 additions
    "ext_approx_quantiles_sketch": "linear scan + bounded bottom-K partials "
    "(<= partitions x T x K rows ever shuffle, any corpus size)",
    "ext_approx_quantiles_incremental": "two sliced sketch builds + a "
    "T x K union merge (at serve time only the batch slice scans)",
    "ext_quality_psi": "cached fit + scoring pass + one (source, bin) "
    "count shuffle; PSI algebra on sources x 10 rows",
    "ext_graph_pagerank@dist": "linear in EDGES — broadcast tier forced "
    "(driver gate low); gated edge-normalized",
    "ext_graph_label_prop@dist": "linear in EDGES — broadcast tier forced; "
    "gated edge-normalized",
    "ext_graph_pagerank@shuffle": "linear in EDGES — tier-3 co-partitioned "
    "shuffle loop forced (node-broadcast gate low too); gated "
    "edge-normalized",
    # registered in the r09 window (staged in r08)
    "ext_freq_countmin": "linear scan -> d x w cell agg (map-side "
    "combined, partition output sketch-sized); probe side bounded at "
    "topn x d rows",
    "ext_tokenizer_fertility": "cached BPE fit + one narrow Arrow encode "
    "pass + languages-sized agg",
    # round-9 staged id (registered with the r10 window rotation)
    "ext_tokenizer_oov": "two corpus scans collapse to vocab-sized "
    "frames (held (lang,word,tf), train word types); distinct held "
    "words encode once; everything downstream vocab-sized",
    # round-9 change (tolerance-banded oracle): one grouped scan carrying
    # an HLL sketch + exact distinct partials — the band compare is free
    "ext_approx_distinct": "linear (one grouped scan; HLL partial + "
    "exact-distinct agg; types x 1 band compares)",
    # round-9 staged id #2: merge-count ablation off ONE cached fit —
    # one corpus scan with an Arrow kernel per point, one global agg
    "ext_bpe_vocab_sweep": "cached BPE fit + ONE corpus scan (one encode "
    "kernel per ablation point) + global agg; KS-sized output",
    # round-9 staged id #3: broadcast K centroids + one narrow distance
    # map + per-vec argmin; PSI algebra on splits x K rows
    "ext_embed_drift": "one corpus pass (broadcast-K assign) + "
    "splits x K PSI algebra",
    # round-9 staged id #4: pruned IVF probe serve + NQ-row broadcast
    # label joins — NO brute-force reference scan (cheaper than recall)
    "ext_ann_ndcg_audit": "IVF probe serve + broadcast label joins; "
    "integer-literal discount algebra on NQ x k rows",
    # round-10 new id: one-time standing build amortizes; the nightly
    # refresh leg is batch-sized (assign+append the arriving split only),
    # the manifest a pruned NLIST-group agg over the layout
    "ext_ann_index_refresh": "build linear once; refresh linear in the "
    "ARRIVING batch; manifest = layout scan + NLIST-group agg",
    # round-10 streaming leg: ONE constant-size batch appended to the
    # IncrementalIvfIndex per call — the timing claim a streaming index
    # lives on (append cost = batch size, NEVER index size), so the
    # exponent must read ~0 while the standing index grows 10x
    "ann_index_append@batch": "CONSTANT — one 200-row append + pointer "
    "flip; index size must not appear in the cost",
}


def _graph_edges(spark, sf_dir):
    from boletia_kubernetes_kafka_mongodb_spark.operators import graph

    pairs = graph._jaccard_pairs_cache(spark, sf_dir)
    return pairs.selectExpr("doc_a AS src", "doc_b AS dst").unionByName(
        pairs.selectExpr("doc_b AS src", "doc_a AS dst")
    )


def _forced_pagerank(bmax):
    def q(spark, sf_dir):
        from boletia_kubernetes_kafka_mongodb_spark.operators import graph

        return graph._pagerank_nano(
            spark, _graph_edges(spark, sf_dir),
            driver_max_edges=0, broadcast_nodes_max=bmax,
        )
    return q


def _forced_label_prop(spark, sf_dir):
    from boletia_kubernetes_kafka_mongodb_spark.operators import graph

    edges = _graph_edges(spark, sf_dir)
    return graph.label_propagate(
        edges, graph.lp_seed_frame(spark, sf_dir, edges), driver_max_edges=0
    )


def _incremental_append_leg(spark, sf_dir):
    """One CONSTANT-size append to a standing IncrementalIvfIndex whose
    base is the scale leg's full standing split — each call commits a
    fresh batch id, so per-pass timings ARE successive appends to a
    growing index. The batch (200 low-vec_id arriving rows, present at
    every scale) is prepped from a rowgroup-pruned filter so prep cost
    stays flat too; the returned frame is the batch's own NLIST-group
    manifest (constant rows_out)."""
    import tempfile

    from pyspark.sql import functions as F

    from boletia_kubernetes_kafka_mongodb_spark import cache
    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity as S
    from boletia_kubernetes_kafka_mongodb_spark.operators.sampling import (
        split_assignment,
    )
    from boletia_kubernetes_kafka_mongodb_spark.sources import layouts

    key = cache.signature(sf_dir, "embeddings")
    idx = layouts.IncrementalIvfIndex(
        spark, os.path.join(tempfile.gettempdir(), f"boletia_incidx_{key}")
    )
    assign_udf, _ = S._ivf_standing_quantizer(spark, sf_dir)
    if idx.current() == (None, -1):
        from boletia_kubernetes_kafka_mongodb_spark import tables

        standing = (
            tables.load(spark, sf_dir, "embeddings")
            .where(
                F.col("embedding").isNotNull()
                & (split_assignment("vec_id") != "test")
            )
            .withColumn("ivf_list", assign_udf("embedding"))
        )
        idx.init_base(standing)
    from boletia_kubernetes_kafka_mongodb_spark import tables

    batch = (
        tables.load(spark, sf_dir, "embeddings")
        .where(
            (F.col("vec_id") < 2000)
            & F.col("embedding").isNotNull()
            & (split_assignment("vec_id") == "test")
        )
        .limit(200)
        .withColumn("ivf_list", assign_udf("embedding"))
    )
    _, last = idx.current()
    idx.append(batch, last + 1)
    delta = spark.read.parquet(os.path.join(idx.path, f"delta_v{last + 1}"))
    return delta.groupBy("ivf_list").agg(F.count(F.lit(1)).alias("n"))


# scaling-only callables for the @-suffixed forced-strategy ids (not part
# of the driver contract — the plain ids' gated dispatch IS the contract).
# The round-9 staged quartet graduated into the r10 window and now
# arrives via the registered queries() surface.
EXTRA_QUERIES = {
    "ext_graph_pagerank@dist": _forced_pagerank(None),
    "ext_graph_pagerank@shuffle": _forced_pagerank(0),
    "ext_graph_label_prop@dist": _forced_label_prop,
    "ann_index_append@batch": _incremental_append_leg,
}

# class gates for `check` (round-5 verdict #6), on OUTPUT-NORMALIZED p:
# serve paths must stay near-constant per output row; scans/aggs linear
# with overhead; explicitly-exact all-pairs verifiers are exempt (their
# quadratic contract is the point — the sub-quadratic replacements are
# first-class driver ids)
SERVE_IDS = {
    "ext_ann_lsh_topk", "ext_ann_ivf_topk", "ext_ann_ivfpq_topk",
    "ext_ann_ivf_batch", "join_availability_bucketed", "ext_bpe_merges",
}
EXEMPT_IDS = {"ext_dedup_embedding"}
# ids whose INPUT (not output) grows super-linearly on the replica fixture:
# the graph operators consume the near-dup EDGE set, which grows ~k²
# because replica copies are true near-dups. Their contract is linear in
# edges, so `check` normalizes their time by the edge-source id's
# rows_out growth (time per edge) instead of their own output (vertices).
INPUT_NORM_BY = {
    "ext_graph_pagerank": "ext_dedup_ngram_jaccard",
    "ext_graph_label_prop": "ext_dedup_ngram_jaccard",
    "ext_graph_survivor_rank": "ext_dedup_ngram_jaccard",
    "ext_graph_pagerank@dist": "ext_dedup_ngram_jaccard",
    "ext_graph_pagerank@shuffle": "ext_dedup_ngram_jaccard",
    "ext_graph_label_prop@dist": "ext_dedup_ngram_jaccard",
}
GATE_SERVE, GATE_DEFAULT = 0.4, 0.85


def gen() -> None:
    import duckdb

    con = duckdb.connect()

    def rep_sql(table: str, f: int) -> str:
        parts = []
        for r in range(f):
            if table == "orders":
                sel = (f"SELECT o_orderkey + {r * OSHIFT} AS o_orderkey, o_custkey,"
                       " o_orderstatus, o_totalprice, o_orderdate, o_orderpriority")
            elif table == "lineitem":
                sel = (f"SELECT l_orderkey + {r * OSHIFT} AS l_orderkey, l_partkey,"
                       " l_suppkey, l_linenumber, l_quantity, l_extendedprice,"
                       " l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate")
            elif table == "events":
                sel = (f"SELECT event_id + {r * ESHIFT} AS event_id, ts,"
                       f" user_id + {r * USHIFT} AS user_id, event_type, value, props")
            elif table == "documents":
                tsuf = f" || ' r{r}'" if r > 0 else ""
                sel = (f"SELECT doc_id + {r * DSHIFT} AS doc_id, text{tsuf} AS text,"
                       " lang, source, n_chars")
            elif table == "embeddings":
                if r == 0:
                    sel = "SELECT vec_id, embedding, label"
                else:
                    sel = (f"SELECT vec_id + {r * DSHIFT} AS vec_id,"
                           f" list_transform(embedding, x -> CAST(x + {0.0001 * r} AS FLOAT))"
                           " AS embedding, label")
            else:  # region/nation/customer/supplier/part: dims stay single-copy
                if r > 0:
                    continue
                sel = "SELECT *"
            parts.append(f"{sel} FROM '{BASE}/{table}.parquet'")
        return " UNION ALL ".join(parts)

    for f in FACTORS:
        out = f"{OUT}/x{f}"
        os.makedirs(out, exist_ok=True)
        for t in ("region nation customer supplier part orders lineitem events"
                  " documents embeddings").split():
            con.execute(f"COPY ({rep_sql(t, f)}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
        print(f"x{f} written", flush=True)


def run() -> None:
    from boletia_kubernetes_kafka_mongodb_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("boletia-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    queries = dict(entrymod.queries())
    queries.update(EXTRA_QUERIES)
    subset = dict(QUERIES)
    only_q = os.environ.get("SPARK_GRAFT_ONLY")  # re-measure a few ids
    if only_q:
        subset = {k: v for k, v in subset.items() if k in only_q.split(",")}
    skip_q = os.environ.get("SPARK_GRAFT_SKIP")  # exclude ids from a leg
    if skip_q:
        subset = {k: v for k, v in subset.items() if k not in skip_q.split(",")}
    dirs = [("x1", BASE)] + [(f"x{f}", f"{OUT}/x{f}") for f in FACTORS]
    only = os.environ.get("SPARK_GRAFT_SCALES")  # e.g. "x10" to resume a leg
    if only:
        keep = set(only.split(","))
        dirs = [d for d in dirs if d[0] in keep]
    os.makedirs(OUT, exist_ok=True)
    with open(f"{OUT}/results.jsonl", "a") as sink:
        for tag, sf_dir in dirs:
            spark.read.parquet(f"{sf_dir}/part.parquet").count()  # warm footers
            best: dict[str, float] = {}
            for p in range(PASSES):
                for qid in sorted(subset):
                    t0 = time.perf_counter()
                    queries[qid](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    dt = time.perf_counter() - t0
                    best[qid] = min(best.get(qid, dt), dt)
                    print(f"{tag} pass{p} {qid} {dt:.2f}s", flush=True)
            # output cardinality, once per (qid, scale), outside the timed
            # passes: normalizes exponents for fixtures whose TRUE answer
            # grows super-linearly (near-dup pair fixtures)
            rows_out = {qid: queries[qid](spark, sf_dir).count() for qid in subset}
            for qid, t in best.items():
                sink.write(json.dumps({
                    "scale": tag, "qid": qid, "sec": round(t, 3),
                    "rows_out": rows_out[qid],
                }) + "\n")
            sink.flush()
    spark.stop()


def _load_results():
    """(qid → scale → sec, qid → scale → rows_out); later lines win, so
    re-runs of single ids (SPARK_GRAFT_ONLY) supersede old rows."""
    secs: dict[str, dict[str, float]] = {}
    outs: dict[str, dict[str, int]] = {}
    with open(f"{OUT}/results.jsonl") as f:
        for line in f:
            r = json.loads(line)
            secs.setdefault(r["qid"], {})[r["scale"]] = r["sec"]
            if "rows_out" in r:
                outs.setdefault(r["qid"], {})[r["scale"]] = r["rows_out"]
    return secs, outs


def _exponents(qid, secs, outs):
    """Exponents from the largest measured leg: x10 when present, else x3
    (round 6: the graph ids stop at x3 — their ~k²-grown edge set makes an
    x10 distributed run a 10-minute leg for no extra signal; the x1→x3
    ratio over a 41M-edge graph is already the asymptote-relevant regime)."""
    t = secs[qid]
    top, logf = ("x10", math.log(10)) if "x10" in t else ("x3", math.log(3))
    p = math.log(t[top] / t["x1"]) / logf if top in t else float("nan")
    o = outs.get(qid, {})
    if top in t and o.get("x1") and o.get(top):
        p_norm = math.log((t[top] / o[top]) / (t["x1"] / o["x1"])) / logf
    else:
        p_norm = float("nan")  # pre-round-5 rows or zero-row outputs
    return p, p_norm


def report() -> None:
    secs, outs = _load_results()
    print(f"{'query':34s} {'x1':>7s} {'x3':>7s} {'x10':>7s} {'p':>6s} {'p/out':>6s}  designed")
    for qid in sorted(secs):
        t = secs[qid]
        p, p_norm = _exponents(qid, secs, outs)
        print(f"{qid:34s} {t.get('x1', 0):7.2f} {t.get('x3', 0):7.2f} "
              f"{t.get('x10', 0):7.2f} {p:6.2f} {p_norm:6.2f}  {QUERIES.get(qid, '')}")


def check() -> None:
    """Regression gate on the scale classes (round-5 verdict #6).

    Effective exponent = min(raw p, output-normalized p): an operator
    fails only when BOTH its absolute growth and its per-output-row
    growth exceed the class bound — super-linear time is legitimate
    exactly insofar as the fixture's true answer grows (the MinHash case:
    raw 0.62 but 67× more real pairs ⇒ p/out ≪ 0), while an operator
    whose output is constant (serves, fixed-group aggs) has p/out == p
    and is gated on its real growth. Falls back to raw p when rows_out is
    unavailable (pre-round-5 rows); exits 1 on violation."""
    secs, outs = _load_results()
    failures = []
    for qid in sorted(secs):
        if qid in EXEMPT_IDS or ("x10" not in secs[qid] and "x3" not in secs[qid]):
            continue
        p, p_norm = _exponents(qid, secs, outs)
        norm_src = INPUT_NORM_BY.get(qid)
        top = "x10" if "x10" in secs[qid] else "x3"
        logf = math.log(10) if top == "x10" else math.log(3)
        if norm_src and outs.get(norm_src, {}).get("x1") and outs.get(
            norm_src, {}
        ).get(top):
            t, o = secs[qid], outs[norm_src]
            p_norm = math.log(
                (t[top] / o[top]) / (t["x1"] / o["x1"])
            ) / logf  # time per INPUT edge
        eff = min(p, p_norm) if p_norm == p_norm else p  # NaN-safe
        bound = GATE_SERVE if qid in SERVE_IDS else GATE_DEFAULT
        status = "OK" if eff <= bound else "FAIL"
        if status == "FAIL":
            failures.append(qid)
        tag = f" (per-{norm_src} row)" if norm_src else ""
        print(f"{status:4s} {qid:34s} p={p:5.2f} p/out={p_norm:5.2f} bound={bound}{tag}")
    if failures:
        print(f"GATE FAILED: {failures}")
        sys.exit(1)
    print("GATE OK")


if __name__ == "__main__":
    {"gen": gen, "run": run, "report": report, "check": check}[sys.argv[1]]()
