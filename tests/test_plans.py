"""Physical-plan quality gates for the headline operators.

These assertions ARE the 100 TB design contract: a regression here means a
full scan, an accidental sort-merge join, or a lost codegen span at scale.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from boletia_kubernetes_kafka_mongodb_spark import plans, tables
from boletia_kubernetes_kafka_mongodb_spark.operators import (
    joins,
    mutations,
    notifications,
    scans,
)
from tests.conftest import SF_CORRECT


def test_point_lookup_pushes_partkey_filter(spark):
    df = scans.lookup_point_unique(spark, SF_CORRECT)
    plans.assert_pushed_filter(df, "p_partkey")
    # and it still finds exactly the right row
    rows = df.collect()
    assert len(rows) == 1 and rows[0].nombre == scans.LOOKUP_NOMBRE


def test_flagship_availability_broadcasts(spark):
    df = joins.join_availability(spark, SF_CORRECT)
    plans.assert_broadcast_join(df)


def test_cancel_inventory_broadcasts(spark):
    plans.assert_broadcast_join(joins.join_cancel_inventory(spark, SF_CORRECT))


def test_notify_render_is_narrow_codegen(spark):
    df = notifications.notify_render(spark, SF_CORRECT)
    plans.assert_no_exchange(df)
    plans.assert_whole_stage_codegen(df)


def test_scan_projection_prunes_columns(spark):
    # inventario never touches p_name/p_type/p_retailprice: pruned at the scan
    df = joins.join_availability(spark, SF_CORRECT)
    read = plans.read_schema_columns(df)
    assert "p_name" not in read and "p_type" not in read and "p_retailprice" not in read
    assert "p_partkey" in read and "p_size" in read


def test_guard_filter_pushes_down(spark):
    # estado/capacidad derive from p_partkey/p_size — the range guard itself
    # can't invert, but column pruning must still hold
    df = scans.filter_range_guard(spark, SF_CORRECT)
    read = plans.read_schema_columns(df)
    assert "p_name" not in read


def test_mutations_fact_side_shuffle_free(spark):
    # M4 cascade: the fact side must join broadcast (no SMJ, no fact shuffle)
    df = mutations.cascade_cancel_updateall(spark, SF_CORRECT)
    plans.assert_broadcast_join(df)


def test_window_partitions_by_event_key(spark):
    # M1 prefix-sum: reservas_keyed is bucketed on the window key, so the
    # window needs no shuffle — the only exchange broadcasts the capacity side
    df = mutations.reserve_guarded_decrement(spark, SF_CORRECT)
    plan = plans.explain_str(df, mode="simple")
    exchanges = [line for line in plan.splitlines() if "Exchange" in line]
    assert exchanges and all("BroadcastExchange" in line for line in exchanges), plan
    assert any(
        "reservas_keyed" in line and "Bucketed: true" in line
        for line in plan.splitlines()
        if "FileScan" in line
    ), plan
    assert "SinglePartition" not in plan, "global window would serialize at scale"


def test_lookup_pk_reads_one_row_group_without_build_jobs(spark):
    """P4 reads its id from the keyed tree's footers (no Spark job while
    the query builds) and probes one bucket file, where min/max statistics
    leave at most one row group to read."""
    import glob

    import pyarrow.parquet as pq

    from boletia_kubernetes_kafka_mongodb_spark.sources import layouts

    scans.lookup_pk(spark, SF_CORRECT)  # builds and registers the tree
    sc = spark.sparkContext
    group = "lookup-pk-build-gate"
    sc.setJobGroup(group, group)
    try:
        df = scans.lookup_pk(spark, SF_CORRECT)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    assert len(df.collect()) == 1
    files = glob.glob(f"{layouts.keyed_tree(spark, SF_CORRECT)}/reservas_keyed/*.parquet")
    metas = [pq.read_metadata(f) for f in files]
    largest = max(m.row_group(i).num_rows for m in metas for i in range(m.num_row_groups))
    assert sum(m.num_rows for m in metas) > largest  # the gate can tell
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    (scan,) = [leaves.apply(i) for i in range(leaves.size())]
    assert "reservas_keyed" in scan.toString()
    assert 0 < scan.metrics().get("numOutputRows").get().value() <= largest


def test_inventario_scans_no_lineitem(spark):
    """inventario joins the keyed tree's maintained reservado: the executed
    plan scans part and reservado, never lineitem."""
    df = tables.inventario(spark, SF_CORRECT)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    scanned = re.findall(r"Location: [^\[]*\[([^\]]*)\]", plan)
    assert scanned, plan
    assert not any("lineitem" in loc for loc in scanned), plan
    assert any("reservado" in loc for loc in scanned), plan
    assert not any("lineitem" in f for f in df.inputFiles())


def test_no_cartesian_product_anywhere(spark):
    """Global hygiene gate: no query may plan a CartesianProduct.

    crossJoin against an explicitly-broadcast 1-row frame compiles to
    BroadcastNestedLoopJoin (fine — it moves one row); a CartesianProduct
    node means a real all-pairs blowup escaped into the plan.
    """
    import __spark_entry__ as entrymod

    offenders = []
    for qid, fn in sorted(entrymod.queries().items()):
        plan = plans.explain_str(fn(spark, SF_CORRECT))
        if "CartesianProduct" in plan:
            offenders.append(qid)
    assert not offenders, f"cartesian products in: {offenders}"


def test_topn_is_take_ordered_not_global_sort(spark):
    """§2.6 top-N must compile to TakeOrderedAndProject (bounded per-task
    heap + driver merge), never a global Sort: a full sort of 100 TB to
    return 20 rows is the canonical scale failure."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import ordering

    df = ordering.order_topn_disponible(spark, SF_CORRECT)
    plan = plans.executed_plan(df) if hasattr(plans, "executed_plan") else df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_latest_per_email_single_shuffle(spark):
    """Greatest-per-group via max_by: exactly one aggregate exchange (on the
    group key), with a partial_ aggregation below it — no window sort of the
    full input."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import ordering

    df = ordering.order_latest_per_email(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan  # map-side combine before the shuffle
    assert "Window" not in plan


def test_asof_join_single_exchange(spark):
    """As-of join must be the merge formulation: one hash exchange on the
    key, window over per-key sort — never a range nested-loop."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import joins

    df = joins.ext_asof_join(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "PushedFilters: [In(event_type" in plan  # type filter reaches the scan


def test_range_join_is_bucketed_equi_join(spark):
    """The keyless range join must run as an equi join on time buckets
    (3x bounded build-side duplication) — BroadcastNestedLoopJoin on the
    range predicate is the at-scale failure mode being designed out."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import joins

    df = joins.ext_range_join(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "bucket" in plan  # joined on the synthetic bucket key


def test_user_ranks_single_fused_window(spark):
    """row_number and lag share one window spec: exactly one Window node
    over one exchange — a second exchange/sort would mean the specs
    diverged (the classic accidental-reshuffle regression)."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import ordering

    df = ordering.order_user_event_ranks(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("+- Window ") == 1


def test_tiled_set_join_single_exchange(spark):
    """The tiled exact set-similarity join is one shuffle end to end: fan-out
    replication is an explode (narrow), so the only exchange is the tile
    groupBy feeding the Arrow kernel. A second exchange would mean the
    replication regressed to a join/cartesian."""
    import re

    from boletia_kubernetes_kafka_mongodb_spark.operators import dedup

    for fn in (dedup.ext_dedup_ngram_jaccard, dedup.ext_dedup_containment):
        df = fn(spark, SF_CORRECT)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
        assert "FlatMapGroupsInPandas" in plan  # the tile kernel


def test_knn_label_transfer_two_exchanges(spark):
    """Exact 1-NN: tile shuffle + candidate-reduce shuffle, nothing else —
    the reduce runs over one candidate row per (vector, tile), never the
    pair space."""
    import re

    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity

    df = similarity.ext_knn_label_transfer(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_vocab_topk_window_over_aggregated_frame(spark):
    """The ranking window must consume the (lang, token) AGGREGATE, not
    token-level rows: Window sits above the final HashAggregate, and the
    whole query carries at most one token-level exchange (the count
    shuffle; the fan repartition is scan-side and a no-op at scale)."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import text

    df = text.ext_vocab_topk(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan and "HashAggregate" in plan
    assert plan.index("Window") < plan.index("HashAggregate")  # window ABOVE agg
    assert "CartesianProduct" not in plan


def test_unigram_logprob_lm_broadcasts(spark):
    """The in-flight LM (vocab-sized) must broadcast into the occurrence
    join — a shuffle join there would re-shuffle the token-level frame a
    second time for a dimension-sized build side."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import text

    df = text.ext_text_unigram_logprob(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_segment_dedup_two_semantic_exchanges(spark):
    """seg-count join + doc_id agg: exchanges only on seg/doc_id keys, no
    cartesian, and the token regex evaluates ONCE per row (CollapseProject
    must keep the multi-referenced array materialized)."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import dedup

    df = dedup.ext_dedup_segments(spark, SF_CORRECT)
    s = plans.explain_str(df)
    assert "CartesianProduct" not in s
    # the segs frame feeds two plan branches (count side + probe side), so
    # the tokenizer appears once PER BRANCH; what must never happen is the
    # lambda inlining it per segment (count would then blow past the branch
    # count — the `_shingles` trap)
    assert s.count("regexp_extract_all") <= 2, "tokenizer re-runs per segment"


def test_bloom_probe_is_join_free(spark):
    """The packed filter rides the plan as a literal long-array mask, so the
    huge train side probes bits IN PLACE (`getbit`) — no join of a set-bit
    frame at all, hence no exchange besides the final doc_id aggregation.
    (Until r13 this was a broadcast join of the ≤ m-row bits frame; the
    literal mask removes even that build + ×k probe-row explosion.)"""
    from boletia_kubernetes_kafka_mongodb_spark.operators import sampling

    df = sampling.ext_decontaminate_bloom(spark, SF_CORRECT)
    s = plans.explain_str(df)
    assert "getbit" in s, "literal-mask bit probe missing from the plan"
    for join in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert join not in s, f"train-side probe reintroduced a join: {join}"


def test_weighted_sample_bounded_heap(spark):
    """A-Res selection must compile to TakeOrderedAndProject (bounded per-
    task heap), never a global Sort."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import sampling

    df = sampling.ext_sample_weighted(spark, SF_CORRECT)
    s = plans.explain_str(df)
    assert "TakeOrderedAndProject" in s


def test_embed_quantize_narrow_codegen(spark):
    """Quantization fidelity is a pure narrow map: no exchange at all."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity

    df = similarity.ext_embed_quantize(spark, SF_CORRECT)
    plans.assert_no_exchange(df)


def test_incremental_dedup_preaggregates_standing_side(spark):
    """The standing side must aggregate BEFORE the join (one row per key —
    the skew-proofing) and never cartesian."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import dedup

    df = dedup.ext_dedup_incremental(spark, SF_CORRECT)
    s = plans.explain_str(df)
    assert "CartesianProduct" not in s
    # aggregate feeding the join's build side: HashAggregate appears below
    # the join in the formatted tree — cheap structural proxy: both present
    # and at least one HashAggregate before the last SortMergeJoin/BHJ line
    assert "HashAggregate" in s


def test_funnel_single_user_exchange(spark):
    """All three funnel stages (two windows + the per-user agg) must ride
    ONE user_id hash exchange and one sort; only the 3-value final total
    adds a SinglePartition exchange."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import aggregates

    df = aggregates.agg_funnel_stages(spark, SF_CORRECT)
    s = df._jdf.queryExecution().executedPlan().toString()
    assert s.count("Exchange hashpartitioning(user_id") == 1
    assert s.count("+- Sort ") == 1
    assert "CartesianProduct" not in s


def test_bm25_bounded_heap_no_sort_merge(spark):
    """BM25 must end in TakeOrderedAndProject (bounded per-task heaps, no
    global sort) and join only via broadcast (tiny stats side)."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import search

    df = search.ext_bm25_search(spark, SF_CORRECT)
    s = plans.explain_str(df)
    assert "TakeOrderedAndProject" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s


def test_tfidf_df_derives_from_tf_frame(spark):
    """The df table must derive FROM the tf frame (tokenizer appears once
    per plan branch, never per token) and no cartesian sneaks in."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import search

    df = search.ext_tfidf_terms(spark, SF_CORRECT)
    s = plans.explain_str(df)
    assert "CartesianProduct" not in s
    assert s.count("regexp_extract_all") <= 2


def test_cooccurrence_pairs_from_distinct_baskets(spark):
    """The self-join must run over the DISTINCT (user, type) frame — an
    aggregate sits below the join — and supports come in via broadcast."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import aggregates

    df = aggregates.ext_cooccurrence(spark, SF_CORRECT)
    s = plans.explain_str(df)
    assert "CartesianProduct" not in s
    assert "HashAggregate" in s
    assert "BroadcastExchange" in s


def test_substring_windows_hash_in_narrow_map(spark):
    """Window hashes are computed pre-explode (md5 visible in the plan,
    tokenizer exactly once) — the shuffle carries fixed-width keys. Since
    the r13 singleton-owner rewrite the wins frame has ONE consumer (no
    checkpoint needed) and the per-doc window count is a separate narrow
    tokenize, so the final plan carries exactly one tokenizer per semantic
    branch (two total) — never one per window position."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import dedup

    pre = plans.explain_str(dedup._substring_window_hashes(spark, SF_CORRECT))
    assert "md5" in pre
    assert pre.count("regexp_extract_all") <= 1, "tokenizer re-runs per window"

    df = dedup.ext_dedup_substring(spark, SF_CORRECT)
    s = plans.explain_str(df)
    assert "CartesianProduct" not in s
    # round-13 ADVICE: exact count, not <=. The legitimate plan carries
    # EXACTLY two tokenizers (wins branch + per-doc denominator); a
    # regression that duplicates the wins-branch tokenizer (a second
    # consumer of the wins frame without restoring the checkpoint) must
    # fail this gate, not hide under an upper bound.
    assert s.count("regexp_extract_all") == 2, (
        "tokenizer count drifted from the one-per-semantic-branch shape"
    )
    # and the md5-over-slice window hash must appear exactly once in the
    # final plan — the wins subtree has ONE consumer
    assert s.count("md5") == 1, "window-hash subtree duplicated"


def test_entity_resolution_tiled_equi_join(spark):
    """Pair expansion must be an equi hash join on the tile key — no
    cartesian, no sort-merge over the banded frame."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import dedup

    df = dedup.ext_entity_resolution(spark, SF_CORRECT)
    s = plans.explain_str(df)
    assert "CartesianProduct" not in s
    assert "levenshtein" in s


def test_scd2_single_key_exchange(spark):
    """All three window functions (version, lead, is_current) ride ONE
    user_id exchange and one sort."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import cdc

    df = cdc.cdc_scd2_history(spark, SF_CORRECT)
    s = df._jdf.queryExecution().executedPlan().toString()
    assert s.count("Exchange hashpartitioning(user_id") == 1
    assert s.count("+- Sort ") == 1


def test_latency_bands_single_composite_shuffle(spark):
    """Exact percentiles per (hour, type): one partial+final aggregation,
    one exchange on the composite key."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import aggregates

    df = aggregates.agg_latency_bands(spark, SF_CORRECT)
    s = df._jdf.queryExecution().executedPlan().toString()
    assert s.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in s


def test_ewma_window_over_aggregated_frame(spark):
    """The EWMA windows must consume the (type, day) AGGREGATED frame: the
    raw-event exchange feeds an aggregate first, and the window sorts only
    the daily rows."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import aggregates

    df = aggregates.agg_ewma_daily(spark, SF_CORRECT)
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in s
    assert "Window" in s and "CartesianProduct" not in s
    # windows must partition by event_type, never collapse to one partition
    assert "Exchange SinglePartition" not in s


def test_keyset_pagination_pushes_cursor_and_bounds_heap(spark):
    """The cursor predicate must reach the scan (row-group skipping) and
    the page limit must compile to TakeOrderedAndProject."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import ordering

    df = ordering.order_page_keyset(spark, SF_CORRECT)
    plans.assert_pushed_filter(df, "event_id")
    s = plans.explain_str(df)
    assert "TakeOrderedAndProject" in s


def test_readability_and_project_zero_exchange(spark):
    """The round-6 narrow maps really are narrow: Flesch/FK readability and
    the JL projection compile to zero Exchange nodes — pure pipelined
    scans that whole-stage-codegen."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity, text
    from boletia_kubernetes_kafka_mongodb_spark.plans import assert_no_exchange

    assert_no_exchange(text.ext_text_readability(spark, SF_CORRECT))
    assert_no_exchange(similarity.ext_embed_project(spark, SF_CORRECT))


def test_novelty_two_shuffles_only(spark):
    """ext_ngram_novelty moves corpus-sized data exactly once (the 8-byte
    shingle-key exchange feeding the count window); the second exchange is
    the doc-sized re-agg, and the join back onto documents broadcasts. A
    third hashpartitioning exchange means the collision-only DISTINCT
    crept back in."""
    import re

    from boletia_kubernetes_kafka_mongodb_spark.operators import dedup

    plan = (
        dedup.ext_ngram_novelty(spark, SF_CORRECT)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_classifier_gradient_is_single_partial_agg(spark):
    """One GD step = one map-side-combinable 5-column integer SUM: the
    serving frame aggregates with partial_sum before any exchange, and the
    whole step plan carries no join (weights enter as literals)."""
    from pyspark.sql import functions as F

    from boletia_kubernetes_kafka_mongodb_spark import tables
    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T

    feats = T._qc_features(tables.load(spark, SF_CORRECT, "documents"))
    xs = [F.lit(1.0), F.col("x1"), F.col("x2"), F.col("x3"), F.col("x4")]
    z = F.lit(0.1) + F.lit(0.2) * xs[1] + F.lit(0.3) * xs[2] \
        + F.lit(0.1) * xs[3] + F.lit(0.2) * xs[4]
    r = T._qc_sigma(z) - F.col("y")
    step = feats.agg(
        *[
            F.sum(F.round(r * xs[k] * F.lit(T.QC_SCALE), 0).cast("long")).alias(f"s{k}")
            for k in range(5)
        ]
    )
    plan = step._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan, plan
    assert "Join" not in plan


def test_freq_countmin_broadcast_probe_bounded_top(spark):
    """The Count-Min audit: probe keys select via a bounded heap
    (TakeOrderedAndProject, never a global sort), the sketch joins the
    probe side by broadcast (d·w rows), and no cartesian/sort-merge
    appears. The corpus tokenizes once per semantic branch (cells + exact
    audit) — never per probe row."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import text

    df = text.ext_freq_countmin(spark, SF_CORRECT)
    s = plans.explain_str(df)
    assert "TakeOrderedAndProject" in s
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s
    assert s.count("regexp_extract_all") <= 3


def test_tokenizer_fertility_single_scan_single_shuffle(spark):
    """The fertility audit is one narrow corpus pass (words/chars as HOFs,
    subwords in the Arrow kernel — ONE documents scan) into a
    languages-sized aggregation: exactly one hash exchange (the lang agg;
    the only other exchange is the fan-out RoundRobin from tables.load),
    partial sums before it, and no joins anywhere."""
    import re

    from boletia_kubernetes_kafka_mongodb_spark.operators import text

    plan = (
        text.ext_tokenizer_fertility(spark, SF_CORRECT)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert len(re.findall(r"Scan parquet", plan)) == 1, plan
    assert "partial_sum" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_staged_round9_ops_plan_hygiene(spark):
    """The four round-9 staged operators (registered in the r10 window)
    must already satisfy the global plan gates: no CartesianProduct, and
    the small-side joins they advertise as broadcast ARE broadcast."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity, text

    staged = {
        "ext_tokenizer_oov": text.ext_tokenizer_oov,
        "ext_bpe_vocab_sweep": text.ext_bpe_vocab_sweep,
        "ext_embed_drift": similarity.ext_embed_drift,
        "ext_ann_ndcg_audit": similarity.ext_ann_ndcg_audit,
    }
    offenders = []
    for qid, fn in sorted(staged.items()):
        plan = plans.explain_str(fn(spark, SF_CORRECT))
        if "CartesianProduct" in plan:
            offenders.append(qid)
    assert not offenders, f"cartesian products in staged ops: {offenders}"

    # embed_drift: the K-row centroid side and the PSI stat frames ride
    # broadcasts; the corpus side must never sort-merge against them
    plan = plans.explain_str(similarity.ext_embed_drift(spark, SF_CORRECT))
    assert "BroadcastExchange" in plan
    # ndcg: the NQ-row label frames broadcast onto the pruned serve
    plan = plans.explain_str(similarity.ext_ann_ndcg_audit(spark, SF_CORRECT))
    assert "BroadcastExchange" in plan
    # tokenizer_oov: the alphabet-sized training-char frame broadcasts
    plan = plans.explain_str(text.ext_tokenizer_oov(spark, SF_CORRECT))
    assert "BroadcastExchange" in plan
